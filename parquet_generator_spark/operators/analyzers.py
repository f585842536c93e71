"""ES analyzer support for the match-family DSL translation.

Real ES indices routinely declare ``"analyzer": "english"`` (stopword
removal + stemming) or a custom analyzer with a synonym filter; a
``match`` against such a field diverges token-for-token from the
plain whitespace+lowercase shingler every other leaf uses. This
module keeps the whole thing plan-time + codegen:

- the QUERY string is analyzed in Python at plan time (tokenize,
  drop stopwords, expand synonyms, stem) into literal token groups;
- the FIELD side is analyzed inside the plan with built-in
  higher-order functions — ``exists(split(lower(col), sep), t ->
  stem(t) IN (<group literals>))`` — no UDF, stays in codegen;
- the DuckDB oracle renders the SAME stemmer from the SAME rule
  generator (``s_stem_sql`` emits portable SQL: CASE/right/substr/
  length/|| behave identically in Spark SQL and DuckDB), so the two
  engines cannot drift.

Stemmers: Harman's S-stemmer ("How Effective Is Suffixing?", JASIS
1991) — the three plural rules with the published exception lists,
one CASE expression in both engines — plus the full stemmers of the
``_STEMMERS`` table: Porter 1980 (operators/porter.py, the ES
``porter_stem`` filter) and 14 snowball languages
(operators/snowball_*.py), all rendered through the dialect kit in
operators/stem_sql.py. An analyzer picks one with
``stemmer="s"|<table kind>``; any other name is a ValueError.
``english`` keeps the S-stemmer (cheap, stable); ``english_porter``
is the ES-fidelity chain (stop + Porter) for the verb-form/
derivational vocabulary the S-stemmer misses (running->run,
relational->relat).

Stopword list: Lucene's EnglishAnalyzer default stop set (public,
org.apache.lucene.analysis.en.EnglishAnalyzer#ENGLISH_STOP_WORDS_SET).
"""

from __future__ import annotations

import importlib
import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

# Lucene EnglishAnalyzer default stop words (public constant)
LUCENE_ENGLISH_STOPWORDS = frozenset("""
a an and are as at be but by for if in into is it no not of on or
such that the their then there these they this to was will with
""".split())

_CHARSET = "a-z0-9"          # the default (english) token alphabet
_SEP = f"[^{_CHARSET}]+"
# language analyzers widen the alphabet so umlauts/accents don't
# split tokens; the classes below are valid in Python re, Java
# regex, and RE2 alike (plain literals + ranges)
GERMAN_CHARSET = "a-z0-9äöüß"
FRENCH_CHARSET = "a-z0-9àâçéèêëîïôûù"
SPANISH_CHARSET = "a-z0-9áéíóúüñ"
ITALIAN_CHARSET = "a-z0-9àèìòùáéíóú"
# NOTE: '~' (the stemmer's internal nasal marker) is deliberately
# outside the charset, so tokenized input can never collide with
# the preluded representation
PORTUGUESE_CHARSET = "a-z0-9áâãàçéêíóôõú"
SWEDISH_CHARSET = "a-z0-9äåö"
DUTCH_CHARSET = "a-z0-9äëïöüáéíóúè"
# cedilla forms (the snowball originals) — see snowball_ro.py
ROMANIAN_CHARSET = "a-z0-9ăâîşţ"
RUSSIAN_CHARSET = "а-яё0-9"
DANISH_CHARSET = "a-z0-9æøå"
FINNISH_CHARSET = "a-z0-9äö"
NORWEGIAN_CHARSET = "a-z0-9æøå"

_TOKEN_RE = re.compile(rf"[{_CHARSET}]+")


def _tokens(text: str, charset: str = _CHARSET) -> list[str]:
    if charset == _CHARSET:
        return _TOKEN_RE.findall(text.lower())
    return re.findall(rf"[{charset}]+", text.lower())


def s_stem(w: str) -> str:
    """Python twin of :func:`s_stem_sql` — applied to QUERY tokens at
    plan time; the SQL form handles the field side."""
    if len(w) > 4 and w.endswith("ies") and w[-4:] not in ("eies", "aies"):
        return w[:-3] + "y"
    if len(w) > 3 and w.endswith("es") and w[-3:] not in ("aes", "ees",
                                                          "oes"):
        return w[:-1]
    if len(w) > 3 and w.endswith("s") and w[-2:] not in ("us", "ss"):
        return w[:-1]
    return w


def s_stem_sql(ref: str) -> str:
    """One CASE expression implementing s_stem over ``ref``; the SQL
    subset used (CASE/right/substr/length/||/IN) evaluates identically
    in Spark SQL and DuckDB, so ONE generator feeds both engines."""
    return (
        f"CASE "
        f"WHEN length({ref}) > 4 AND right({ref}, 3) = 'ies' "
        f"AND right({ref}, 4) NOT IN ('eies', 'aies') "
        f"THEN substr({ref}, 1, length({ref}) - 3) || 'y' "
        f"WHEN length({ref}) > 3 AND right({ref}, 2) = 'es' "
        f"AND right({ref}, 3) NOT IN ('aes', 'ees', 'oes') "
        f"THEN substr({ref}, 1, length({ref}) - 1) "
        f"WHEN length({ref}) > 3 AND right({ref}, 1) = 's' "
        f"AND right({ref}, 2) NOT IN ('us', 'ss') "
        f"THEN substr({ref}, 1, length({ref}) - 1) "
        f"ELSE {ref} END")


# The full stemmers, one row each: kind -> (module under operators/
# defining f"{kind}_stem" and f"{kind}_stem_sql", prefix-guard probe).
# Each renders an expression expensive enough that the match renderer
# binds ONE stemmed array per document. The probe is the token
# expression whose first two chars every >= 3-char stem keeps (None =
# no sound guard; see _prefix_guarded_stem). The S-stemmer ("s") is
# the cheap CASE above and stays outside the table.
_STEMMERS = {
    "porter": ("porter", "{}"),
    "german": ("snowball_de", None),
    "french": ("snowball_fr", None),
    "spanish": ("snowball_es", None),
    "italian": ("snowball_it", "translate({}, 'áéíóú', 'àèìòù')"),
    "portuguese": ("snowball_pt", "{}"),
    "dutch": ("snowball_nl", None),
    "romanian": ("snowball_ro", "{}"),
    "russian": ("snowball_ru", "replace({}, 'ё', 'е')"),
    "finnish": ("snowball_fi", None),
    "hungarian": ("snowball_hu", None),
    "arabic": ("snowball_ar", None),
    "swedish": ("snowball_scand", "{}"),
    "danish": ("snowball_scand", "{}"),
    "norwegian": ("snowball_scand", "{}"),
}


def _stemmer(kind: str, suffix: str):
    """The ``{kind}_stem{suffix}`` function of a table stemmer."""
    mod = importlib.import_module(f"{__package__}.{_STEMMERS[kind][0]}")
    return getattr(mod, f"{kind}_stem{suffix}")


def _stem_py(kind, w: str) -> str:
    if kind is None:
        return w
    return s_stem(w) if kind == "s" else _stemmer(kind, "")(w)


def _stem_expr(kind, ref: str, engine: str) -> str:
    """Field-side stemmer expression for ``engine`` in
    {'spark', 'duck'} (the S-stemmer renders identically in both;
    the full stemmers need per-engine binding syntax)."""
    if kind is None:
        return ref
    if kind == "s":
        return s_stem_sql(ref)
    return _stemmer(kind, "_sql")(ref, engine)


@dataclass(frozen=True)
class Analyzer:
    """Plan-time analyzer spec: applied to query strings in Python
    and rendered into the plan/oracle for the field side."""
    name: str
    stopwords: frozenset = frozenset()
    synonyms: dict = field(default_factory=dict)  # token -> [token...]
    stem: bool = False
    stemmer: str = "s"  # "s" or a _STEMMERS kind
    charset: str = _CHARSET  # token alphabet (regex class body)

    def __post_init__(self):
        if self.stemmer not in ("s", *_STEMMERS):
            raise ValueError(
                f"analyzer {self.name!r}: unknown stemmer "
                f"{self.stemmer!r}; known: {['s', *_STEMMERS]}")

    @property
    def stem_kind(self):
        return self.stemmer if self.stem else None

    @property
    def sep(self) -> str:
        return f"[^{self.charset}]+"

    def analyze(self, query: str) -> list[list[str]]:
        """Query string -> token GROUPS: stopwords dropped, each
        surviving token synonym-expanded then stemmed. A group
        matches when ANY of its members is present in the field.
        Synonym lookup applies to the RAW lowercase token — the
        synonym filter sits before the stemmer in the chain (ES's
        recommended order for keep-original synonym graphs)."""
        groups: list[list[str]] = []
        for tok in _tokens(query, self.charset):
            if tok in self.stopwords:
                continue
            variants = [tok] + [v.lower() for v in
                                self.synonyms.get(tok, [])]
            if self.stem:
                variants = [_stem_py(self.stemmer, v)
                            for v in variants]
            # dedupe, keep order for deterministic SQL rendering
            seen: list[str] = []
            for v in variants:
                if v and v not in seen:
                    seen.append(v)
            if seen:
                groups.append(seen)
        return groups


_REGISTRY: dict[str, Analyzer] = {}


def register_analyzer(a: Analyzer) -> Analyzer:
    _REGISTRY[a.name] = a
    return a


def get_analyzer(name: str) -> Analyzer:
    if name not in _REGISTRY:
        raise ValueError(
            f"unknown analyzer {name!r}; registered: "
            f"{sorted(_REGISTRY)} (register_analyzer to add)")
    return _REGISTRY[name]


register_analyzer(Analyzer("standard"))
register_analyzer(Analyzer("stop", stopwords=LUCENE_ENGLISH_STOPWORDS))
register_analyzer(Analyzer("english",
                           stopwords=LUCENE_ENGLISH_STOPWORDS,
                           stem=True))
register_analyzer(Analyzer("english_porter",
                           stopwords=LUCENE_ENGLISH_STOPWORDS,
                           stem=True, stemmer="porter"))
register_analyzer(Analyzer("porter", stem=True, stemmer="porter"))

# Compact common-word stop sets (documented SUBSETS of the snowball
# stop lists Lucene's GermanAnalyzer/FrenchAnalyzer ship — the full
# lists are ~50/~160 entries; the analyzer object is the single
# source for both engines, so parity never depends on the list)
GERMAN_STOPWORDS = frozenset("""
der die das den dem des ein eine einer eines einem einen und oder
aber nicht ist sind war mit ohne für von zu im in am an auf aus bei
nach über unter wir ihr sie er es ich du man als auch wie wenn dann
so da dass
""".split())
FRENCH_STOPWORDS = frozenset("""
le la les un une des du de et ou mais non est sont était avec sans
pour par sur sous dans en au aux ce cette ces il elle ils elles je
tu nous vous que qui quoi si plus
""".split())

register_analyzer(Analyzer("german", stopwords=GERMAN_STOPWORDS,
                           stem=True, stemmer="german",
                           charset=GERMAN_CHARSET))
register_analyzer(Analyzer("french", stopwords=FRENCH_STOPWORDS,
                           stem=True, stemmer="french",
                           charset=FRENCH_CHARSET))
SPANISH_STOPWORDS = frozenset("""
el la los las lo un una unos unas de del en y o pero es son era con
sin para por sobre que se su sus al como mas no este esta estos
estas ya fue fueron
""".split())
register_analyzer(Analyzer("spanish", stopwords=SPANISH_STOPWORDS,
                           stem=True, stemmer="spanish",
                           charset=SPANISH_CHARSET))
ITALIAN_STOPWORDS = frozenset("""
il lo la i gli le un uno una di a da in con su per tra fra e o ma
se che chi non più questo questa questi queste quello sono è era
come anche dove quando noi voi loro io tu lui lei al del nel sul
alla della nella ed
""".split())
register_analyzer(Analyzer("italian", stopwords=ITALIAN_STOPWORDS,
                           stem=True, stemmer="italian",
                           charset=ITALIAN_CHARSET))
PORTUGUESE_STOPWORDS = frozenset("""
de a o que e do da em um para é com não uma os no se na por mais
as dos como mas foi ao ele das tem à seu sua ou ser quando muito
nos já está eu também só pelo pela até isso ela entre era depois
sem mesmo aos ter seus quem nas me esse eles você essa num nem
suas meu minha numa pelos elas qual nós lhe deles essas esses
pelas este dele
""".split())
register_analyzer(Analyzer("portuguese",
                           stopwords=PORTUGUESE_STOPWORDS,
                           stem=True, stemmer="portuguese",
                           charset=PORTUGUESE_CHARSET))
# the snowball dutch stoplist (public constant)
DUTCH_STOPWORDS = frozenset("""
de en van ik te dat die in een hij het niet zijn is was op aan met
als voor had er maar om hem dan zou of wat mijn men dit zo door
over ze zich bij ook tot je mij uit der daar haar naar heb hoe
heeft hebben deze u want nog zal me zij nu ge geen omdat iets
worden toch al waren veel meer doen toen moet ben zonder kan hun
dus alles onder ja eens hier wie werd altijd doch wordt wezen
kunnen ons zelf tegen na reeds wil kon niets uw iemand geweest
andere
""".split())
register_analyzer(Analyzer("dutch", stopwords=DUTCH_STOPWORDS,
                           stem=True, stemmer="dutch",
                           charset=DUTCH_CHARSET))
# Romanian function words (cedilla orthography, matching the
# stemmer; conservative Lucene-style list)
ROMANIAN_STOPWORDS = frozenset("""
a ai al ale am ar are au că ca către ce cel cele celor ci cu da
dacă dar de din după ea ei el ele este eu fi fie fost iar îi îl
îmi în între îţi la le li lor lui mă mai mea mei meu mi mine ne
nici nimeni nişte noastre noi nostru nu o ori pe pentru prin sa să
săi sale sau se şi spre sub sunt tale tău te ţi tine toate tot
toţi tu un una unde unei unui vă voi vor vreo vreun
""".split())
register_analyzer(Analyzer("romanian",
                           stopwords=ROMANIAN_STOPWORDS,
                           stem=True, stemmer="romanian",
                           charset=ROMANIAN_CHARSET))
# the snowball russian stoplist (public constant; leading subset)
RUSSIAN_STOPWORDS = frozenset("""
и в во не что он на я с со как а то все она так его но да ты к у
же вы за бы по только ее мне было вот от меня еще нет о из ему
теперь когда даже ну вдруг ли если уже или ни быть был него до
вас нибудь опять уж вам сказал ведь там потом себя ничего ей
может они тут где есть надо ней для мы тебя их чем была сам чтоб
без будто человек чего раз тоже себе под будет ж тогда кто этот
того потому этого какой совсем ним здесь этом один почти мой тем
чтобы нее кажется сейчас были куда зачем всех никогда можно при
два об другой хоть после над больше тот через эти нас про всего
них какая много разве эту моя впрочем хорошо свою этой перед
иногда лучше чуть том нельзя такой им более всегда конечно всю
между
""".split())
register_analyzer(Analyzer("russian",
                           stopwords=RUSSIAN_STOPWORDS,
                           stem=True, stemmer="russian",
                           charset=RUSSIAN_CHARSET))
SWEDISH_STOPWORDS = frozenset("""
och det att i en jag hon som han på den med var sig för så till
är men ett om hade de av du henne då sin nu har inte hans honom
vid man från ut när efter upp vi dem vara vad över än dig kan
sina mot alla under eller allt
""".split())
DANISH_STOPWORDS = frozenset("""
og i jeg det at en den til er som på de med han af for ikke der
var mig sig men et har om vi min havde ham hun nu over da fra du
ud sin dem os op man hans hvor eller hvad skal selv her alle vil
blev efter denne dette også
""".split())
NORWEGIAN_STOPWORDS = frozenset("""
og i jeg det at en et den til er som på de med han av ikke der
så var meg seg men har om vi min ha hun nå over da ved fra du ut
sin dem oss opp man kan hans hvor eller hva skal selv her alle
vil ble etter
""".split())
register_analyzer(Analyzer("swedish", stopwords=SWEDISH_STOPWORDS,
                           stem=True, stemmer="swedish",
                           charset=SWEDISH_CHARSET))
register_analyzer(Analyzer("danish", stopwords=DANISH_STOPWORDS,
                           stem=True, stemmer="danish",
                           charset=DANISH_CHARSET))
register_analyzer(Analyzer("norwegian",
                           stopwords=NORWEGIAN_STOPWORDS,
                           stem=True, stemmer="norwegian",
                           charset=NORWEGIAN_CHARSET))
# the snowball finnish stoplist (public constant, snowballstem.org)
FINNISH_STOPWORDS = frozenset("""
olla olen olet on olemme olette ovat ole oli olisi olisit olisin
olisimme olisitte olisivat olit olin olimme olitte olivat ollut
olleet en et ei emme ette eivät minä minun minut minua minussa
minusta minuun minulla minulta minulle sinä sinun sinut sinua
sinussa sinusta sinuun sinulla sinulta sinulle hän hänen hänet
häntä hänessä hänestä häneen hänellä häneltä hänelle me meidän
meidät meitä meissä meistä meihin meillä meiltä meille te teidän
teidät teitä teissä teistä teihin teillä teiltä teille he heidän
heidät heitä heissä heistä heihin heillä heiltä heille tämä tämän
tätä tässä tästä tähän tallä tältä tälle tänä täksi tuo tuon tuotä
tuossa tuosta tuohon tuolla tuolta tuolle tuona tuoksi se sen sitä
siinä siitä siihen sillä siltä sille sinä siksi nämä näiden näitä
näissä näistä näihin näillä näiltä näille näinä näiksi nuo noiden
noita noissa noista noihin noilla noilta noille noina noiksi ne
niiden niitä niissä niistä niihin niillä niiltä niille niinä
niiksi kuka kenen kenet ketä kenessä kenestä keneen kenellä
keneltä kenelle kenenä keneksi ketkä keiden ketkä keitä keissä
keistä keihin keillä keiltä keille keinä keiksi mikä minkä minkä
mitä missä mistä mihin millä miltä mille minä miksi mitkä joka
jonka jota jossa josta johon jolla jolta jolle jona joksi jotka
joiden joita joissa joista joihin joilla joilta joille joina
joiksi että ja jos koska kuin mutta niin sekä sillä tai vaan vai
vaikka kanssa mukaan noin poikki yli kun niin nyt itse
""".split())
register_analyzer(Analyzer("finnish",
                           stopwords=FINNISH_STOPWORDS,
                           stem=True, stemmer="finnish",
                           charset=FINNISH_CHARSET))
# the snowball hungarian stoplist (public constant, snowballstem.org)
HUNGARIAN_STOPWORDS = frozenset("""
a ahogy ahol aki akik akkor alatt által általában amely amelyek
amelyekben amelyeket amelyet amelynek ami amit amolyan amíg amikor
át abban ahhoz annak arra arról az azok azon azt azzal azért aztán
azután azonban bár be belül benne cikk cikkek cikkeket csak de e
eddig egész egy egyes egyetlen egyéb egyik egyre ekkor el elég
ellen elő először előtt első én éppen ebben ehhez emilyen ennek
erre ez ezt ezek ezen ezzel ezért és fel felé hanem hiszen hogy
hogyan igen így illetve ill. ill ilyen ilyenkor ison ismét itt jó
jól jobban kell kellett keresztül keressünk ki kívül között közül
legalább lehet lehetett legyen lenne lenni lesz lett maga magát
majd már más másik meg még mellett mert mely melyek mi mit míg
miért milyen mikor minden mindent mindenki mindig mint mintha
mivel most nagy nagyobb nagyon ne néha nekem neki nem néhány
nélkül nincs olyan ott össze ő ők őket pedig persze rá s saját sem
semmi sok sokat sokkal számára szemben szerint szinte talán tehát
teljes tovább továbbá több úgy ugyanis új újabb újra után utána
utolsó vagy vagyis valaki valami valamint való vagyok van vannak
volt voltam voltak voltunk vissza vele viszont volna
""".split())
HUNGARIAN_CHARSET = "a-z0-9áéíóöőúüű"
register_analyzer(Analyzer("hungarian",
                           stopwords=HUNGARIAN_STOPWORDS,
                           stem=True, stemmer="hungarian",
                           charset=HUNGARIAN_CHARSET))
# common Arabic function words (a compact self-authored list —
# snowballstem.org publishes no Arabic stoplist; particles,
# prepositions, pronouns and demonstratives)
ARABIC_STOPWORDS = frozenset("""
في من على إلى عن أن إن كان كانت مع هذا هذه ذلك تلك التي الذي
الذين ما لا لم لن هو هي هم هن أو ثم قد كل بعد قبل عند غير بين
حتى إذا لكن كما لدى منذ حول دون عبر ضد نحو أي بعض حيث هناك هنا
نحن أنا أنت أنتم ليس ليست فقط أيضا
""".split())
# the letter range covers tatweel + teh marbuta + maqsura + hamza
# carriers; the combining range keeps harakat inside tokens so the
# stemmer's own normalization (not the tokenizer) strips them
ARABIC_CHARSET = "ء-يً-ْ0-9"
register_analyzer(Analyzer("arabic",
                           stopwords=ARABIC_STOPWORDS,
                           stem=True, stemmer="arabic",
                           charset=ARABIC_CHARSET))


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _group_pred_sql(group: list[str], kind, engine: str) -> str:
    """EXISTS-style test: any element of the tokenized field, after
    stemming, equals any group member."""
    elem = _stem_expr(kind, "t", engine)
    lits = ", ".join(_quote(g) for g in group)
    return f"t -> ({elem}) IN ({lits})"


def _spark_tokens_expr(col: str, sep: str = _SEP) -> str:
    return f"filter(split(lower({col}), '{sep}'), t -> t != '')"


def _duck_tokens_expr(col: str, sep: str = _SEP) -> str:
    return (f"list_filter(string_split_regex(lower({col}), "
            f"'{sep}'), t -> t != '')")


def analyzed_group_present(col: str, group: list[str], kind,
                           sep: str = _SEP) -> Column:
    lam = _group_pred_sql(group, kind, "spark")
    return F.expr(f"exists({_spark_tokens_expr(col, sep)}, {lam})")


def analyzed_group_present_duck_sql(col: str, group: list[str],
                                    kind, sep: str = _SEP) -> str:
    lam = _group_pred_sql(group, kind, "duck")
    return (f"len(list_filter({_duck_tokens_expr(col, sep)}, "
            f"{lam})) > 0")


def _match_algebra_sql(hits: list[str], operator: str,
                       minimum_should_match: int | None) -> str:
    if operator == "and":
        return "(" + " AND ".join(hits) + ")"
    if minimum_should_match is not None:
        total = " + ".join(f"(CASE WHEN {h} THEN 1 ELSE 0 END)"
                           for h in hits)
        return f"(({total}) >= {int(minimum_should_match)})"
    return "(" + " OR ".join(hits) + ")"


def _prefix_guarded_stem(kind, ref: str, engine: str,
                         groups: list[list[str]]) -> str:
    """Skip the (expensive) stemmer expression for tokens that cannot
    stem into any query group.

    Porter: SOUND because Porter only edits suffixes and every
    replacement rule requires m(stem) > 0 — a kept prefix of >= 2
    chars — so any word whose stem has >= 3 chars shares its first 2
    chars with the stem (pinned by a Hypothesis property in
    tests/test_porter.py).

    Italian: SOUND with an acute-normalized prefix compare — every
    snowball-italian cut keeps >= 3 chars (any removal position must
    be >= RV, and the three-case RV rule never starts before 4), all
    replacement rules keep the prefix before the replaced suffix, and
    the only body rewrite is the acute->grave prelude, which the
    guard applies to the compared prefix too (pinned by a Hypothesis
    property in tests/test_snowball_it.py).

    Portuguese: SOUND with a raw prefix compare — the nasal prelude
    (ã->a~, õ->o~) round-trips exactly through the postlude, every
    cut keeps >= 3 preluded chars (removal position >= RV >= 4) and
    never splits a nasal pair (no suffix begins with '~'), all
    replacements keep the prefix, and the only other rewrite (final
    ç->c) touches the last char of the stem — so a >= 3-char stem
    always shares its first two display chars with the token
    (pinned by a Hypothesis property in tests/test_snowball_pt.py).

    Russian: SOUND with a ё-folded prefix compare — every edit is
    a tail deletion at a position inside RV (never a body rewrite
    beyond the ё->е prelude, which the probe applies too), so any
    >= 2-char stem keeps the token's first two folded chars
    (pinned by a Hypothesis property in tests/test_snowball_ru.py).

    Romanian: SOUND with a raw prefix compare — the algorithm has
    NO body rewrites at all (the I/U prelude marks letter CLASS
    only, never the text; the one in-place rewrite, iune's ţ -> t,
    sits at position >= R2 - 1 >= 3), and every cut position is
    >= min(RV, R1) >= 3, so any >= 2-char stem keeps the token's
    first two chars (pinned by a Hypothesis property in
    tests/test_snowball_ro.py).

    Swedish/danish/norwegian: SOUND with a raw prefix compare — the
    Scandinavian algorithms have NO body rewrites at all; every
    edit (delete, replace, undouble, the danish igst strip) acts on
    the tail and keeps >= 2 chars of prefix, so any stem is a
    tail-edit of its token (pinned per language in
    tests/test_snowball_scand.py).

    NOT applied to german/
    french/spanish: german folds umlauts anywhere in the body,
    french/spanish rewrite accents at arbitrary positions (un_accent
    / de-accenting), so their stems need not share a literal prefix
    with the token.

    Tokens outside the prefix set pass through unstemmed; a token
    textually equal to a group stem starts with the stem's prefix,
    so it stays inside the guard — match semantics are unchanged.
    Falls back to unconditional stemming when any group stem is
    shorter than 3 chars (the invariants don't cover those)."""
    stem = _stem_expr(kind, ref, engine)
    probe = _STEMMERS[kind][1] if kind in _STEMMERS else None
    if probe is None:
        return stem
    stems = [g for grp in groups for g in grp]
    if not stems or any(len(g) < 3 for g in stems):
        return stem
    lits = ", ".join(_quote(g[:2]) for g in sorted({g[:2]
                                                    for g in stems}))
    return (f"CASE WHEN substr({probe.format(ref)}, 1, 2) IN ({lits}) "
            f"THEN {stem} ELSE {ref} END")


def _stemmed_match_sql(col: str, groups: list[list[str]], kind,
                       engine: str, operator: str,
                       minimum_should_match: int | None,
                       sep: str = _SEP) -> str:
    """Stem-once match rendering: bind ``transform(tokens, stem)``
    to a single variable and test every group against it — for an
    expensive stemmer (Porter) this cuts the per-document stemming
    cost by the number of query groups vs the per-group exists()
    path."""
    stem = _prefix_guarded_stem(kind, "t", engine, groups)
    if engine == "spark":
        stemmed = (f"transform({_spark_tokens_expr(col, sep)}, "
                   f"t -> {stem})")
        hits = [
            f"exists(S, e -> e IN ({', '.join(_quote(g) for g in grp)}))"
            for grp in groups]
        body = _match_algebra_sql(hits, operator, minimum_should_match)
        return f"element_at(transform(array({stemmed}), S -> {body}), 1)"
    stemmed = (f"list_transform({_duck_tokens_expr(col, sep)}, "
               f"t -> {stem})")
    hits = [
        f"len(list_filter(S, e -> e IN "
        f"({', '.join(_quote(g) for g in grp)}))) > 0"
        for grp in groups]
    body = _match_algebra_sql(hits, operator, minimum_should_match)
    return f"(list_transform([{stemmed}], S -> {body}))[1]"


def analyzed_match(col: str, query: str, analyzer: Analyzer,
                   operator: str = "or",
                   minimum_should_match: int | None = None) -> Column:
    """ES ``match`` with an analyzer: token groups from the analyzed
    query; operator/minimum_should_match count GROUPS (ES counts
    optional clauses after analysis — a stopword dropped by the
    analyzer never counts against the minimum)."""
    groups = analyzer.analyze(query)
    if not groups:
        return F.lit(True)  # all-stopword query matches everything
    if (minimum_should_match is not None
            and int(minimum_should_match) > len(groups)):
        return F.lit(False)
    if analyzer.stem_kind in _STEMMERS:
        # stem once per document, not once per group (the full
        # stemmer expressions are ~100x the S-stemmer's CASE)
        return F.expr(_stemmed_match_sql(
            col, groups, analyzer.stem_kind, "spark", operator,
            minimum_should_match, analyzer.sep))
    hits = [analyzed_group_present(col, g, analyzer.stem_kind,
                                   analyzer.sep)
            for g in groups]
    if operator == "and":
        out = F.lit(True)
        for h in hits:
            out = out & h
        return out
    if minimum_should_match is not None:
        msm = int(minimum_should_match)
        if msm > len(hits):
            return F.lit(False)
        n = None
        for h in hits:
            c = h.cast("int")
            n = c if n is None else n + c
        return n >= F.lit(msm)
    out = F.lit(False)
    for h in hits:
        out = out | h
    return out


def analyzed_match_duck_sql(col: str, query: str, analyzer: Analyzer,
                            operator: str = "or",
                            minimum_should_match: int | None = None
                            ) -> str:
    """DuckDB mirror of :func:`analyzed_match` — same groups (the
    SAME Python analysis runs at oracle-render time), same stemmer
    SQL, same group/operator algebra."""
    groups = analyzer.analyze(query)
    if not groups:
        return "TRUE"
    if (minimum_should_match is not None
            and int(minimum_should_match) > len(groups)):
        return "FALSE"
    if analyzer.stem_kind in _STEMMERS:
        return _stemmed_match_sql(
            col, groups, analyzer.stem_kind, "duck", operator,
            minimum_should_match, analyzer.sep)
    hits = [analyzed_group_present_duck_sql(col, g,
                                            analyzer.stem_kind,
                                            analyzer.sep)
            for g in groups]
    if operator == "and":
        return "(" + " AND ".join(hits) + ")"
    if minimum_should_match is not None:
        total = " + ".join(f"(CASE WHEN {h} THEN 1 ELSE 0 END)"
                           for h in hits)
        return f"(({total}) >= {int(minimum_should_match)})"
    return "(" + " OR ".join(hits) + ")"


def _phrase_groups(query: str, analyzer: Analyzer) -> list[list[str]]:
    """Analyzed phrase positions. Stopword-dropping analyzers create
    POSITION GAPS in ES phrase matching (the phrase still requires
    the dropped token's slot); that gap semantics is out of scope
    here, so a phrase whose analysis would drop a token is refused
    loudly rather than silently matching tighter adjacency."""
    raw = _tokens(query, analyzer.charset)
    groups = analyzer.analyze(query)
    if len(groups) != len(raw):
        dropped = [t for t in raw if t in analyzer.stopwords]
        raise ValueError(
            f"match_phrase with analyzer {analyzer.name!r} drops "
            f"stopword(s) {dropped} — position-gap phrase semantics "
            f"unsupported; use a stem-only analyzer or remove the "
            f"stopwords from the phrase")
    if not groups:
        raise ValueError("empty analyzed phrase")
    return groups


def _phrase_lambda(groups: list[list[str]], elem_at) -> str:
    """Start-position test: every phrase slot j matches its synonym
    group at position i+j. ``elem_at(j)`` renders the engine's
    1-BASED access to the stemmed token array at i+j (Spark uses
    element_at — bare [] is 0-based there; DuckDB [] is 1-based)."""
    conds = []
    for j, g in enumerate(groups):
        lits = ", ".join(_quote(x) for x in g)
        conds.append(f"{elem_at(j)} IN ({lits})")
    return "i -> (" + " AND ".join(conds) + ")"


def analyzed_match_phrase(col: str, phrase: str,
                          analyzer: Analyzer) -> Column:
    """ES ``match_phrase`` with an analyzer: k consecutive field
    tokens, each stemmed, each position accepting the query token's
    synonym group. One struct-wrapped transform pins the stemmed
    array to a single evaluation (the simhash trick); the adjacency
    scan is exists() over the k-windows — codegen, no UDF."""
    groups = _phrase_groups(phrase, analyzer)
    k = len(groups)
    elem = _prefix_guarded_stem(analyzer.stem_kind, "t", "spark",
                                groups)
    toks = _spark_tokens_expr(col, analyzer.sep)
    lam = _phrase_lambda(groups,
                         lambda j: f"element_at(x.s, i + {j})")
    return F.expr(
        f"transform(array(struct(transform({toks}, t -> {elem}) AS s)), "
        f"x -> CASE WHEN size(x.s) >= {k} THEN "
        f"exists(sequence(1, size(x.s) - {k} + 1), {lam}) "
        f"ELSE false END)[0]")


def analyzed_match_phrase_duck_sql(col: str, phrase: str,
                                   analyzer: Analyzer) -> str:
    """DuckDB mirror: same groups, same stemmer SQL, same 1-based
    adjacency windows (DuckDB list indexing is 1-based natively)."""
    groups = _phrase_groups(phrase, analyzer)
    k = len(groups)
    elem = _prefix_guarded_stem(analyzer.stem_kind, "t", "duck",
                                groups)
    toks = _duck_tokens_expr(col, analyzer.sep)
    stemmed = f"list_transform({toks}, t -> {elem})"
    # bind the stemmed array ONCE per document: inlining it into the
    # window lambda re-stems the whole array per start position
    # (O(windows x tokens x stemmer) — measured 30x slower with the
    # Porter stemmer)
    lam = _phrase_lambda(groups, lambda j: f"S[i + {j}]")
    body = (f"(len(S) >= {k} AND len(list_filter("
            f"generate_series(1, len(S) - {k} + 1), {lam})) > 0)")
    return f"(list_transform([{stemmed}], S -> {body}))[1]"


# ------------------------------------------------------------------
# Ingest-time analysis (index-time analyzed columns)
#
# ES analyzes text at INDEX time — the reference's writer pulls docs
# whose fields were stemmed once at ingest (the match_phrase at
# EsParquetWriter.java:69 runs against an index-time-analyzed field)
# and queries hit the inverted index. The query-time paths above
# re-run the full stemmer expression over the corpus on EVERY match;
# these helpers amortize that to zero: materialize the stemmed token
# array ONCE at write time (`analyzed_tokens` / `analyzed_tokens_sql`
# — the analyzers seam of etl.materialize_analyzed), then match with
# plain array membership / adjacency over the stored column
# (`stored_match*`). Value-identity with the query-time path is
# structural: the stored array IS the `S` binding of
# _stemmed_match_sql (stopwords KEPT on the field side — dropping
# them at ingest could create false positives for a query token
# whose stem collides with a stemmed stopword, and phrase adjacency
# must see unshifted positions), and the match algebra is shared.
# Pinned in tests/test_stored_analysis.py.


def analyzed_tokens_sql(col: str, analyzer: Analyzer,
                        engine: str) -> str:
    """The index-time analysis expression: lowercase, tokenize on
    the analyzer's charset, stem every token (NO stopword removal —
    see the section note). No prefix guard: the guard is a
    query-dependent optimization, and ingest sees no query."""
    stem = _stem_expr(analyzer.stem_kind, "t", engine)
    if engine == "spark":
        return (f"transform({_spark_tokens_expr(col, analyzer.sep)}, "
                f"t -> {stem})")
    return (f"list_transform({_duck_tokens_expr(col, analyzer.sep)}, "
            f"t -> {stem})")


def analyzed_tokens(col: str, analyzer: Analyzer) -> Column:
    return F.expr(analyzed_tokens_sql(col, analyzer, "spark"))


def _stored_hits(stored_col: str, groups: list[list[str]],
                 engine: str) -> list[str]:
    if engine == "spark":
        return [f"exists({stored_col}, e -> e IN "
                f"({', '.join(_quote(g) for g in grp)}))"
                for grp in groups]
    return [f"len(list_filter({stored_col}, e -> e IN "
            f"({', '.join(_quote(g) for g in grp)}))) > 0"
            for grp in groups]


def _stored_match_sql(stored_col: str, query: str, analyzer: Analyzer,
                      engine: str, operator: str,
                      minimum_should_match: int | None) -> str:
    """Match against a STORED analyzed column: the same group
    algebra as analyzed_match, but the field side is a plain array
    membership scan — no stemmer in the plan at all."""
    groups = analyzer.analyze(query)
    if not groups:
        return "TRUE"
    if (minimum_should_match is not None
            and int(minimum_should_match) > len(groups)):
        return "FALSE"
    hits = _stored_hits(stored_col, groups, engine)
    return _match_algebra_sql(hits, operator, minimum_should_match)


def stored_match(stored_col: str, query: str, analyzer: Analyzer,
                 operator: str = "or",
                 minimum_should_match: int | None = None) -> Column:
    return F.expr(_stored_match_sql(stored_col, query, analyzer,
                                    "spark", operator,
                                    minimum_should_match))


def stored_match_duck_sql(stored_col: str, query: str,
                          analyzer: Analyzer, operator: str = "or",
                          minimum_should_match: int | None = None
                          ) -> str:
    return _stored_match_sql(stored_col, query, analyzer, "duck",
                             operator, minimum_should_match)


def stored_match_phrase(stored_col: str, phrase: str,
                        analyzer: Analyzer) -> Column:
    groups = _phrase_groups(phrase, analyzer)
    k = len(groups)
    lam = _phrase_lambda(
        groups, lambda j: f"element_at({stored_col}, i + {j})")
    return F.expr(f"CASE WHEN size({stored_col}) >= {k} THEN "
                  f"exists(sequence(1, size({stored_col}) - {k} + 1), "
                  f"{lam}) ELSE false END")
