"""The SQL dialect kit every stemmer generator renders through.

A stemmer (operators/porter.py, the ``snowball_*`` modules) emits ONE
portable expression that evaluates identically in Spark SQL and
DuckDB. The two dialects differ only in how a value is let-bound and
how a struct is built, so those two forms live here, once:

- :func:`let` binds an expression to a lambda variable (a
  one-element array/list transform: both engines evaluate the bound
  expression once);
- :func:`struct` builds a named struct;
- :func:`quote_list` renders the body of an ``IN (...)`` list;
- :class:`Frag` renders the tests and edits a step needs over a
  let-bound struct; a language subclasses it with its field tuple;
- :func:`chain` threads the steps through one binding each (nesting
  DEPTH, not text size, is DuckDB's binder hazard);
- ``R1``/``R2``/``RV3`` are the shared snowball region expressions.

A language module keeps only its rules and its language-specific
predicates.
"""

from __future__ import annotations


def let(engine: str, bind: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``bind`` for ``engine`` in
    {'spark', 'duck'}."""
    if engine == "spark":
        return (f"element_at(transform(array({bind}), "
                f"{var} -> {body}), 1)")
    if engine == "duck":
        return f"(list_transform([{bind}], {var} -> {body}))[1]"
    raise ValueError(f"unknown engine {engine!r}")


def struct(engine: str, **fields: str) -> str:
    """A struct with the given fields, in argument order."""
    if engine == "spark":
        inner = ", ".join(f"'{f}', {v}" for f, v in fields.items())
        return f"named_struct({inner})"
    if engine == "duck":
        inner = ", ".join(f"{f} := {v}" for f, v in fields.items())
        return f"struct_pack({inner})"
    raise ValueError(f"unknown engine {engine!r}")


def quote_list(items) -> str:
    return ", ".join(f"'{i}'" for i in items)


class Frag:
    """Fragments over a let-bound struct variable ``x``.

    ``FIELDS`` is the struct's field tuple, word ``w`` first; each
    field reads as an attribute (``frag.r1`` is ``x.r1``). ``CUT``
    holds the field values every :meth:`cut` sets unless the call
    overrides them (e.g. a "some step changed the word" flag). A
    field tuple holding the skeleton ``c`` makes :meth:`cut` cut
    ``c`` in lockstep, appending :meth:`cv` of the appended text.
    """

    FIELDS: tuple[str, ...] = ("w",)
    CUT: dict[str, str] = {}

    def __init__(self, engine: str, x: str):
        self.engine, self.x = engine, x
        for f in self.FIELDS:
            setattr(self, f, f"{x}.{f}")
        self.ln = f"length({x}.w)"

    @staticmethod
    def cv(app: str) -> str:
        """Skeleton of text appended by :meth:`cut`."""
        raise NotImplementedError

    def st(self, **changes: str | None) -> str:
        """The struct with ``changes`` applied (None keeps a field)."""
        return struct(self.engine, **{
            f: getattr(self, f) if changes.get(f) is None
            else changes[f] for f in self.FIELDS})

    def keep(self) -> str:
        return self.st()

    def cut(self, n: int, app: str = "", **changes: str | None) -> str:
        """The struct after dropping the last ``n`` chars of the word
        and appending ``app``."""
        w = f"substr({self.w}, 1, {self.ln} - {n})"
        if app:
            w = f"{w} || '{app}'"
        if "c" in self.FIELDS:
            c = f"substr({self.c}, 1, {self.ln} - {n})"
            changes.setdefault("c", f"{c} || '{self.cv(app)}'"
                               if app else c)
        return self.st(w=w, **{**self.CUT, **changes})

    def ends(self, suf: str) -> str:
        return f"right({self.w}, {len(suf)}) = '{suf}'"

    def in_rv(self, n: int) -> str:
        return f"{self.ln} - {n} + 1 >= {self.rv}"

    def in_r1(self, n: int) -> str:
        return f"{self.ln} - {n} + 1 >= {self.r1}"

    def in_r2(self, n: int) -> str:
        return f"{self.ln} - {n} + 1 >= {self.r2}"

    def prev_in_rv(self, n: int) -> str:
        """The char just before the last n lies in RV."""
        return f"{self.ln} - {n} >= {self.rv}"

    def prev_char(self, n: int) -> str:
        """The char just before the last n."""
        return f"substr({self.w}, {self.ln} - {n}, 1)"


def chain(engine: str, frag: type[Frag], seed: str, steps,
          body: str) -> str:
    """Bind ``x0`` to ``seed``, then each step's struct in turn:
    step ``i`` renders over ``frag(engine, "x{i}")`` and is bound as
    ``x{i + 1}``; ``body`` reads the last binding."""
    for i in range(len(steps) - 1, -1, -1):
        body = let(engine, steps[i](frag(engine, f"x{i}")),
                   f"x{i + 1}", body)
    return let(engine, seed, "x0", body)


# Region starts over a let-bound (w, c) pair ``g1`` (``c`` the a/b
# vowel skeleton; length + 1 = empty region): R1/R2 are the standard
# snowball regions, RV3 the three-case RV rule spanish, italian,
# portuguese and romanian share.
_P1 = "instr(g1.c, 'ab')"
_Q = f"instr(substr(g1.c, {_P1} + 2), 'ab')"
_LN = "length(g1.w)"
R1 = f"CASE WHEN {_P1} = 0 THEN {_LN} + 1 ELSE {_P1} + 2 END"
R2 = (f"CASE WHEN {_P1} = 0 OR {_Q} = 0 THEN {_LN} + 1 "
      f"ELSE {_P1} + 2 + {_Q} + 1 END")
_J1 = "instr(substr(g1.c, 3), 'a')"
_J2 = "instr(substr(g1.c, 3), 'b')"
RV3 = (f"CASE WHEN {_LN} < 3 THEN {_LN} + 1 "
       f"WHEN substr(g1.c, 2, 1) = 'b' THEN "
       f"(CASE WHEN {_J1} = 0 THEN {_LN} + 1 ELSE {_J1} + 3 END) "
       f"WHEN left(g1.c, 2) = 'aa' THEN "
       f"(CASE WHEN {_J2} = 0 THEN {_LN} + 1 ELSE {_J2} + 3 END) "
       f"ELSE 4 END")
