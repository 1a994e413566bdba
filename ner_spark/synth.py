"""Deterministic synthetic fixtures (FIXTURES.md F1-F4) — no external data.

The document generator is *distributed and pure-column*: every random choice
is ``xxhash64(content_key, salt) mod n``, so the corpus is a pure function of
``(seed, n_docs)`` regardless of parallelism — the same rows come out of
``local[1]`` and ``local[4]``, so runs at two core counts compare like for
like. No Python runs per row.

Controlled phenomena (mirroring the reference's data, SURVEY.md §1):
- ~20% exact-duplicate documents (``content_key = id*4 div 5``) to exercise
  dedup-and-fan-out (reference: src/utils/epg_cleaner.py:61-69);
- ~2% empty-text docs (reference: src/utils/epg_cleaner.py:55);
- ~25% docs interleaving text and media spans (span-sequence invariant);
- hot-key entities ("France", "Paris") at high frequency for skew handling;
- a vocabulary overlapping the gazetteer/regex/model extractors so mentions
  are found by 1, 2, or 3 systems with agreeing and conflicting labels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas

# Weighted vocabularies — repetition encodes a Zipf-ish skew (hot keys first).
PERSONS = [
    "Marie Curie", "Marie Curie", "Marie Curie",
    "Victor Hugo", "Victor Hugo",
    "Jean Dupont", "Claire Martin", "Salvatore Adamo", "Albert Camus",
    "Simone Veil", "Sophie Marceau", "Blaise Pascal",
]
LOCATIONS = [
    "France", "France", "France", "France",
    "Paris", "Paris", "Paris",
    "Lyon", "Marseille", "Normandie", "Espagne", "Toulouse", "Bordeaux",
]
ORGS = [
    "NASA", "NASA",
    "Real Madrid", "Airbus", "Louvre", "Sorbonne", "TF1", "Orchestre National",
]
SURNAMES = [p.split()[-1] for p in PERSONS]

# Gazetteer labels -> grf (rule-graph) names, the analogue of the reference's
# labels_grf map (reference: src/config.yaml:72-76).
GAZ_GRF = {"PER": "grfPerGazetteer", "LOC": "grfLocGazetteer", "ORG": "grfOrgGazetteer"}

TRUSTED_COMBOS = [
    # fires: all three slots populated; grfs arrays are sorted rule-ids, so a
    # gazetteer LOC hit right after "à " that is also a hot location carries
    # exactly these three grfs in this order.
    {"combo_id": "opti_loc_full", "slots": ["grfgeogHot", "grfLieuPrep", "grfLocGazetteer"]},
    # fires: full-name celebrity PER hits carry exactly these three grfs
    {"combo_id": "opti_per_full", "slots": ["grfPerGazetteer", "grfpersCeleb", "grfpersGenerique"]},
    # must NOT fire under the verified NaN semantics (SURVEY.md §2 F3):
    # "" slots can never equal a missing (NULL) grf, even though 1- and 2-grf
    # mentions with these leading grfs do occur.
    {"combo_id": "opti_per_short", "slots": ["grfPerGazetteer", "grfpersGenerique", ""]},
    {"combo_id": "opti_loc_short", "slots": ["grfLocGazetteer", "", ""]},
    {"combo_id": "opti_org_short", "slots": ["grfOrgGazetteer", "grforgProximite", ""]},
]

REGEX_PATTERNS = [
    # civility title + capitalized surname -> PER (CasEN grfpersCivilite
    # analogue); group 1 is the emitted surface form
    {"pattern_id": "grfCivilite", "regex": r"\b(?:M\.|Mme)\s+([A-ZÀ-Ü][\w\-]+)", "label": "PER"},
    # two capitalized words -> generic person name
    {"pattern_id": "grfpersGenerique", "regex": r"\b([A-ZÀ-Ü][\w\-]+ [A-ZÀ-Ü][\w\-]+)\b", "label": "PER"},
    # preposition "à " + capitalized word -> LOC
    {"pattern_id": "grfLieuPrep", "regex": r"\bà\s+([A-ZÀ-Ü][\w\-]+)", "label": "LOC"},
    # "en <Cap>" -> LOC
    {"pattern_id": "grfLieuEn", "regex": r"\ben\s+([A-ZÀ-Ü][\w\-]+)", "label": "LOC"},
    # hot locations (skew keys) recognized outright
    {"pattern_id": "grfgeogHot", "regex": r"\b(France|Paris)\b", "label": "LOC"},
    # well-known person names recognized outright
    {"pattern_id": "grfpersCeleb", "regex": r"\b(Marie Curie|Victor Hugo|Simone Veil)\b", "label": "PER"},
]


def _h(key: Column, salt: str, n: int) -> Column:
    """Deterministic pseudo-random int in [0, n) from a key column."""
    return F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(n)).cast("int")


def _pick(key: Column, salt: str, vocab: list[str]) -> Column:
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.element_at(arr, _h(key, salt, len(vocab)) + 1)


def synth_docs(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Interleaved text+media documents, schema = BASELINE.json:input_hint."""
    df = spark.range(n_docs).withColumn(
        "doc_id", F.format_string("doc%08d", F.col("id"))
    )
    # 5 consecutive ids map onto 4 content keys -> exactly 20% duplicates.
    ck_num = (F.col("id") * 4 / 5).cast("long")
    ck = F.concat(F.lit(f"s{seed}-"), ck_num.cast("string"))

    p1 = _pick(ck, "p1", PERSONS)
    p2 = _pick(ck, "p2", PERSONS)
    l1 = _pick(ck, "l1", LOCATIONS)
    l2 = _pick(ck, "l2", LOCATIONS)
    o1 = _pick(ck, "o1", ORGS)
    o2 = _pick(ck, "o2", ORGS)
    sn = _pick(ck, "sn", SURNAMES)

    tpl = _h(ck, "tpl", 4)
    s1 = (
        F.when(tpl == 0, F.concat(F.lit("Le documentaire suit "), p1, F.lit(" à "), l1, F.lit(".")))
        .when(tpl == 1, F.concat(F.lit("Concert de "), p1, F.lit(" organisé par "), o1, F.lit(" à "), l1, F.lit(".")))
        .when(tpl == 2, F.concat(F.lit("M. "), sn, F.lit(" visite "), l1, F.lit(" avec "), p2, F.lit(".")))
        .otherwise(F.concat(o1, F.lit(" annonce un accord avec "), o2, F.lit(" en "), l2, F.lit(".")))
    )
    # unique broadcast number per content key: keeps the unique-text count
    # proportional to n_docs (only the intended 20% are duplicates) instead
    # of saturating the small template space
    s1 = F.concat(s1, F.lit(" Diffusion n°"), ck_num.cast("string"), F.lit("."))
    s2 = F.concat(F.lit("Portrait de "), p2, F.lit(", figure de "), l2, F.lit("."))

    def text_span(txt: Column, off: int) -> Column:
        return F.struct(
            F.lit("text").alias("kind"),
            txt.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    def media_span(ref: Column, off: int) -> Column:
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    media_ref = F.concat(F.lit("img://"), F.col("doc_id"), F.lit("/0"))
    shape = _h(ck, "shape", 4)  # 0 => text+media+text, 1 => text+text, 2/3 => text
    empty = _h(ck, "empty", 50) == 0

    spans = (
        F.when(empty, F.array(text_span(F.lit(None).cast("string"), 0)))
        .when(shape == 0, F.array(text_span(s1, 0), media_span(media_ref, 1), text_span(s2, 2)))
        .when(shape == 1, F.array(text_span(s1, 0), text_span(s2, 1)))
        .otherwise(F.array(text_span(s1, 0)))
    )
    return df.select("doc_id", spans.alias("spans"))


def synth_gazetteer(spark: SparkSession) -> DataFrame:
    """Alias dictionary (FIXTURES.md F2) with ambiguous aliases + variants."""
    rows = []

    def add(eid: str, alias: str, label: str, weight: float) -> None:
        rows.append((eid, alias, " ".join(alias.lower().split()), label, weight))

    for p in sorted(set(PERSONS)):
        eid = "P_" + p.replace(" ", "_")
        add(eid, p, "PER", 1.0)
        add(eid, p.split()[-1], "PER", 0.6)  # surname-only alias (ambiguous-ish)
    for loc in sorted(set(LOCATIONS)):
        add("L_" + loc.replace(" ", "_"), loc, "LOC", 0.9)
    for o in sorted(set(ORGS)):
        add("O_" + o.replace(" ", "_"), o, "ORG", 0.9)
    # deliberately ambiguous alias: "Paris" also names a person entity
    add("P_Paris_Hilton", "Paris", "PER", 0.1)
    return spark.createDataFrame(rows, schema=schemas.GAZETTEER)


def synth_patterns(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(p["pattern_id"], p["regex"], p["label"]) for p in REGEX_PATTERNS],
        schema=schemas.PATTERN,
    )
