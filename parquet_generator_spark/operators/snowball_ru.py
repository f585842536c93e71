"""Russian snowball stemmer (the canonical snowballstem.org
`russian` algorithm, ES/Lucene's ``russian`` stemmer filter) as a
plan-time Python twin plus a portable-SQL generator — language
ELEVEN of the analyzer registry and the first non-Latin script
through the generator scaffolds (cyrillic literals behave like any
other codepoints in Spark SQL / DuckDB length/substr/right, and the
charset class ``а-яё0-9`` is valid in Python re, Java regex and RE2
alike).

Structure (russian.sbl): prelude ``ё -> е`` on the word; RV = after
the first vowel, R2 standard; ALL suffix searches run inside RV
(setlimit semantics), the derivational step additionally tests R2.

- Step 1: try a PERFECTIVE GERUND (group 1 в/вши/вшись requires the
  preceding а/я — commit-then-test: a longer group-2 entry
  (ив/ивши/ившись/ыв/ывши/ывшись) wins textually when present, and
  a committed group-1 entry whose а/я test fails fails the WHOLE
  gerund try). If no gerund was removed: strip a REFLEXIVE
  (ся/сь), then in turn try ADJECTIVAL (an adjective ending,
  then an optionally preceding participle — group 1 ем/нн/вш/ющ/щ
  after а/я, group 2 ивш/ывш/ующ), else VERB (group 1 after а/я,
  group 2 unconditional; a committed group-1 entry whose а/я test
  fails fails the verb try and the NOUN try still runs), else NOUN.
- Step 2: a final ``и`` (in RV) is removed.
- Step 3: the derivational ост/ость is removed when in R2.
- Step 4 (alternatives): ``нн -> н``; or a superlative ейш/ейше is
  removed and then ``нн -> н``; or a final ``ь`` is removed.

The sequencing flags ("did an earlier try remove anything") are
carried as a struct field, so the SQL renders each try ONCE —
no arm duplication. Every edit deletes from the tail at a position
inside RV and the only body rewrite is the ё->е prelude, so the
prefix-2 guard applies with a ё-folded probe (the italian posture;
Hypothesis-pinned in tests/test_snowball_ru.py).
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import (
    R2,
    Frag,
    chain,
    let,
    struct,
)

_VOWELS = "аеиоуыэюя"

# group-1 entries require the PRECEDING а/я (inside RV)
_GERUND_1 = ("в", "вши", "вшись")
_GERUND_2 = ("ив", "ивши", "ившись", "ыв", "ывши", "ывшись")
_REFLEXIVE = ("ся", "сь")
_ADJECTIVE = ("ее", "ие", "ые", "ое", "ими", "ыми", "ей", "ий",
              "ый", "ой", "ем", "им", "ым", "ом", "его", "ого",
              "ему", "ому", "их", "ых", "ую", "юю", "ая", "яя",
              "ою", "ею")
_PARTICIPLE_1 = ("ем", "нн", "вш", "ющ", "щ")
_PARTICIPLE_2 = ("ивш", "ывш", "ующ")
_VERB_1 = ("ла", "на", "ете", "йте", "ли", "й", "л", "ем", "н",
           "ло", "но", "ет", "ют", "ны", "ть", "ешь", "нно")
_VERB_2 = ("ила", "ыла", "ена", "ейте", "уйте", "ите", "или",
           "ыли", "ей", "уй", "ил", "ыл", "им", "ым", "ен", "ило",
           "ыло", "ено", "ят", "ует", "уют", "ит", "ыт", "ены",
           "ить", "ыть", "ишь", "ую", "ю")
_NOUN = ("а", "ев", "ов", "ие", "ье", "е", "иями", "ями", "ами",
         "еи", "ии", "и", "ией", "ей", "ой", "ий", "й", "иям",
         "ям", "ием", "ем", "ам", "ом", "о", "у", "ах", "иях",
         "ях", "ы", "ь", "ию", "ью", "ю", "ия", "ья", "я")
_DERIVATIONAL = ("ость", "ост")
_SUPERLATIVE = ("ейше", "ейш")


def _merged(group1: tuple, group2: tuple) -> list:
    """(suffix, needs_a_ya) sorted longest-first — the textual
    longest-match order of a snowball among over both groups."""
    entries = ([(s, True) for s in group1]
               + [(s, False) for s in group2])
    return sorted(entries, key=lambda t: len(t[0]), reverse=True)


def _regions(w: str) -> tuple[int, int]:
    """(rv, r2) as 1-based region starts; len+1 = empty."""
    n = len(w)
    rv = n + 1
    for i, ch in enumerate(w):
        if ch in _VOWELS:
            rv = i + 2
            break
    c = "".join("a" if ch in _VOWELS else "b" for ch in w)
    p1 = c.find("ab") + 1
    if p1 == 0:
        return rv, n + 1
    r1 = p1 + 2
    q = c[r1 - 1:].find("ab") + 1
    r2 = n + 1 if q == 0 else r1 + q + 1
    return rv, r2


def russian_stem(word: str) -> str:
    """Plan-time Python twin of :func:`russian_stem_sql` (identical
    step structure and region arithmetic)."""
    w = word.replace("ё", "е")
    rv, r2 = _regions(w)

    def in_rv(k: int) -> bool:
        return len(w) - k + 1 >= rv

    def in_r2(k: int) -> bool:
        return len(w) - k + 1 >= r2

    def prev_a_ya(k: int) -> bool:
        p = len(w) - k  # 1-based position of the preceding char
        return p >= rv and w[p - 1] in "ая"

    def cut(k: int) -> None:
        nonlocal w
        w = w[:len(w) - k]

    def try_among(entries: list) -> bool:
        """Commit-then-test over a merged among; True if removed."""
        for s, needs in entries:
            n = len(s)
            if w.endswith(s) and in_rv(n):
                if needs and not prev_a_ya(n):
                    return False  # committed entry's test failed
                cut(n)
                return True
        return False

    # ---- step 1 -------------------------------------------------
    if not try_among(_merged(_GERUND_1, _GERUND_2)):
        try_among(_merged((), _REFLEXIVE))
        if try_among(_merged((), _ADJECTIVE)):
            try_among(_merged(_PARTICIPLE_1, _PARTICIPLE_2))
        elif try_among(_merged(_VERB_1, _VERB_2)):
            pass
        else:
            try_among(_merged((), _NOUN))

    # ---- step 2: final и ----------------------------------------
    if w.endswith("и") and in_rv(1):
        cut(1)

    # ---- step 3: derivational (R2) ------------------------------
    for s in _DERIVATIONAL:
        n = len(s)
        if w.endswith(s) and in_rv(n) and in_r2(n):
            cut(n)
            break

    # ---- step 4: нн / superlative / ь ---------------------------
    if w.endswith("нн") and in_rv(1):
        cut(1)
    else:
        hit = False
        for s in _SUPERLATIVE:
            n = len(s)
            if w.endswith(s) and in_rv(n):
                cut(n)
                hit = True
                break
        if hit:
            if w.endswith("нн") and in_rv(1):
                cut(1)
        elif w.endswith("ь") and in_rv(1):
            cut(1)
    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

class _Frag(Frag):
    """Fragments over a bound (w, rv, r2, f) struct; f = '1' once a
    step-1 try has removed an ending."""

    FIELDS = ("w", "rv", "r2", "f")

    def prev_a_ya(self, n: int) -> str:
        return (f"({self.ln} - {n} >= {self.rv} AND "
                f"substr({self.w}, {self.ln} - {n}, 1) "
                f"IN ('а', 'я'))")


def _among_sql(x: _Frag, entries: list, done: str = "'1'") -> str:
    """Commit-then-test among as one CASE: a committed group-1
    entry whose а/я test fails KEEPS (f unchanged) — the try
    failed."""
    whens = []
    for s, needs in entries:
        n = len(s)
        if needs:
            arm = (f"CASE WHEN {x.prev_a_ya(n)} "
                   f"THEN {x.cut(n, f=done)} ELSE {x.keep()} END")
        else:
            arm = x.cut(n, f=done)
        whens.append(f"WHEN {x.ends(s)} AND {x.in_rv(n)} "
                     f"THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _gated(x: _Frag, body: str) -> str:
    """Run ``body`` only while no earlier step-1 try removed."""
    return (f"CASE WHEN {x.f} = '1' THEN {x.keep()} "
            f"ELSE ({body}) END")


def _s_gerund(x: _Frag) -> str:
    return _among_sql(x, _merged(_GERUND_1, _GERUND_2))


def _s_reflexive(x: _Frag) -> str:
    # reflexive strips WITHOUT setting the done flag (the endings
    # after it still run)
    return _gated(x, _among_sql(
        x, _merged((), _REFLEXIVE), done="'0'"))


def _s_adjectival(x: _Frag) -> str:
    y = _Frag(x.engine, "p1")
    part = _among_sql(y, _merged(_PARTICIPLE_1, _PARTICIPLE_2))
    whens = []
    for s, _ in _merged((), _ADJECTIVE):
        n = len(s)
        adj = let(x.engine, x.cut(n, f="'1'"), "p1", part)
        whens.append(
            f"WHEN {x.ends(s)} AND {x.in_rv(n)} THEN ({adj})")
    body = "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"
    return _gated(x, body)


def _s_verb(x: _Frag) -> str:
    return _gated(x, _among_sql(x, _merged(_VERB_1, _VERB_2)))


def _s_noun(x: _Frag) -> str:
    return _gated(x, _among_sql(x, _merged((), _NOUN)))


def _s_i(x: _Frag) -> str:
    return (f"CASE WHEN {x.ends('и')} AND {x.in_rv(1)} "
            f"THEN {x.cut(1)} ELSE {x.keep()} END")


def _s_derivational(x: _Frag) -> str:
    whens = []
    for s in _DERIVATIONAL:
        n = len(s)
        whens.append(f"WHEN {x.ends(s)} AND {x.in_rv(n)} AND "
                     f"{x.in_r2(n)} THEN {x.cut(n)}")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s_final(x: _Frag) -> str:
    y = _Frag(x.engine, "q1")
    undouble = (f"CASE WHEN {y.ends('нн')} AND {y.in_rv(1)} "
                f"THEN {y.cut(1)} ELSE {y.keep()} END")
    sup = []
    for s in _SUPERLATIVE:
        n = len(s)
        sup.append(f"WHEN {x.ends(s)} AND {x.in_rv(n)} THEN "
                   f"({let(x.engine, x.cut(n), 'q1', undouble)})")
    return (f"CASE WHEN {x.ends('нн')} AND {x.in_rv(1)} "
            f"THEN {x.cut(1)} "
            + " ".join(sup)
            + f" WHEN {x.ends('ь')} AND {x.in_rv(1)} "
              f"THEN {x.cut(1)} ELSE {x.keep()} END")


def russian_stem_sql(ref: str, engine: str) -> str:
    """Render the stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, rv, r2, f) struct."""
    deyo = "replace(g0, 'ё', 'е')"
    # э is a VOWEL — the consonant translate carries every other
    # cyrillic letter (ё already folded by the prelude)
    cons = "".join(ch for ch in
                   "бвгджзйклмнпрстфхцчшщъь0123456789"
                   if ch not in _VOWELS)
    skel = (f"translate(translate(w0, '{_VOWELS}', "
            f"'{'a' * len(_VOWELS)}'), '{cons}', "
            f"'{'b' * len(cons)}')")

    av = "instr(g1.c, 'a')"
    rv = (f"CASE WHEN {av} = 0 THEN length(g1.w) + 1 "
          f"ELSE {av} + 1 END")
    seed = struct(engine, w="g1.w", rv=rv, r2=R2, f="'0'")
    body = chain(engine, _Frag, seed,
                 [_s_gerund, _s_reflexive, _s_adjectival, _s_verb,
                  _s_noun, _s_i, _s_derivational, _s_final], "x8.w")
    body = let(engine, struct(engine, w="w0", c=skel), "g1", body)
    body = let(engine, deyo, "w0", body)
    return let(engine, ref, "g0", body)
