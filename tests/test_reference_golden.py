"""Consensus parity against the reference's committed golden workbooks.

The reference repo commits its own pipeline outputs as .xlsx under
src/Ressources (reference: 20231101.xlsx, 20231105.xlsx — per-mention
tables with ``method`` in {spacy, casEN, intersection}, produced by the
outer-merge consensus the modern code restates in ner_config.py:58-118;
``intersection`` is the legacy name for "found by both tools").

The merged file fully determines its own inputs: a row tagged ``spacy``
came only from the spaCy table, ``casEN`` only from CasEN, and
``intersection`` from both. Reconstructing the two per-method inputs and
running THIS engine's one-shuffle fusion over them must therefore
reproduce the committed golden row-for-row — a round trip over 22k rows
of real reference output per date, exercising key matching, provenance
concat, and combine-first payload coalescing on the exact data the
reference shipped.

Key on (hash, NER, NER_label): verified unique across all rows of both
workbooks (no position columns exist in this legacy schema, so spans are
pinned to 0 for the round trip).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ner_spark.operators.consensus import fuse_ranked
from ner_spark.sources.excel import read_xlsx_records

RESSOURCES = "/root/reference/src/Ressources"

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_uid", T.StringType()),
        T.StructField("NE", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("method", T.StringType()),
        T.StructField("grfs", T.ArrayType(T.StringType())),
        T.StructField("context", T.StringType()),
    ]
)


def _mention_rows(records: list[dict], legacy_methods: set[str], method: str):
    """Reconstruct one per-method input table from the merged golden."""
    return [
        (
            str(r["hash"]),
            r["NER"],
            r["NER_label"],
            0,
            0,
            method,
            None,
            r.get("desc"),
        )
        for r in records
        if r["method"] in legacy_methods
    ]


@pytest.mark.parametrize("date", ["20231101", "20231105"])
def test_consensus_round_trip_vs_reference_golden(spark, date):
    path = os.path.join(RESSOURCES, f"{date}.xlsx")
    records = read_xlsx_records(path)
    assert len(records) > 20_000  # full committed workbook, not a sample

    # the merge key must be unique or the reconstruction is ill-posed
    keys = [(str(r["hash"]), r["NER"], r["NER_label"]) for r in records]
    assert len(set(keys)) == len(records)

    spacy_df = spark.createDataFrame(
        _mention_rows(records, {"spacy", "intersection"}, "spaCy"),
        MENTION_SCHEMA,
    )
    casen_df = spark.createDataFrame(
        _mention_rows(records, {"casEN", "intersection"}, "casEN"),
        MENTION_SCHEMA,
    )

    # fold order spaCy, casEN: each input tagged with its rank
    ranked = spacy_df.withColumn("_rank", F.lit(0)).unionByName(
        casen_df.withColumn("_rank", F.lit(1))
    )
    fused = fuse_ranked(ranked).withColumn(
        "method",
        F.when(F.col("method") == "spaCy_casEN", "intersection")
        .when(F.col("method") == "spaCy", "spacy")
        .otherwise(F.col("method")),
    )

    got = {
        (r["doc_uid"], r["NE"], r["label"]): (r["method"], r["context"])
        for r in fused.collect()
    }
    expected = {
        (str(r["hash"]), r["NER"], r["NER_label"]): (r["method"], r.get("desc"))
        for r in records
    }
    assert got == expected


def test_correction_join_vs_reference_workbook(spark):
    """C2/D5 parity on the reference's real annotated workbook.

    20231101_correction.xlsx is the 20231101.xlsx merged table hand-
    annotated (22,006 rows each; (NE, label, files_id) keys align on
    22,005 — ONE cell was manually edited, NE 'Résumé Profite' ->
    ','). Applying the workbook as the correction dimension to the
    merged mentions must inject exactly the workbook's ``manual cat``/
    ``correct``/``extent`` values per key (reference semantics:
    ner_config.py:201-307), and the hand-edited key must receive nulls
    (no correction matched).
    """
    from ner_spark.operators.corrections import apply_corrections

    merged = read_xlsx_records(os.path.join(RESSOURCES, "20231101.xlsx"))
    corr = read_xlsx_records(
        os.path.join(RESSOURCES, "20231101_correction.xlsx")
    )

    mentions = spark.createDataFrame(
        [
            (
                str(r["hash"]),
                r["NER"],
                r["NER_label"],
                0,
                0,
                r["method"],
                [str(r["hash"])],
            )
            for r in merged
        ],
        "doc_uid string, NE string, label string, start int, end int,"
        " method string, files_id array<string>",
    )
    corr_dim = spark.createDataFrame(
        [
            (
                r["NE"],
                r["label"],
                str(r["files_id"]),
                r.get("manual cat"),
                None if r.get("correct") is None else int(r["correct"]),
                None if r.get("extent") is None else int(r["extent"]),
            )
            for r in corr
        ],
        "NE string, label string, files_id string, manual_cat string,"
        " correct int, extent int",
    )

    out = apply_corrections(
        mentions, corr_dim, corr_cols=("manual_cat", "correct", "extent")
    )
    got = {
        (r["NE"], r["label"], r["doc_uid"]): (
            r["manual_cat"],
            r["correct"],
            r["extent"],
        )
        for r in out.collect()
    }
    expected = {
        (r["NE"], r["label"], str(r["files_id"])): (
            r.get("manual cat"),
            None if r.get("correct") is None else int(r["correct"]),
            None if r.get("extent") is None else int(r["extent"]),
        )
        for r in corr
    }
    edited = ("Résumé Profite", "PER", "967")
    assert got.pop(edited) == (None, None, None)
    expected.pop((",", "PER", "967"))
    assert got == expected


CASEN_FIXTURE = "/root/reference/src/Results/CasEN/Res_CasEN/corpus.result.txt"


@pytest.mark.skipif(not os.path.exists(CASEN_FIXTURE), reason="reference fixture absent")
def test_casen_opti2_promotion_counts_on_real_fixture(spark):
    """F3 fidelity pin on REAL data (round-5 directive 4): the reference's
    literal 59-combo ``casEN_opti2`` table (shipped as
    ner_spark/extractors/casen_combos.py; reference: src/config.yaml:
    269-446) applied to the mentions parsed from the committed 3,448-doc
    CasEN fixture, under both reference variants.

    The pinned counts document the NaN quirk's real-data magnitude: under
    the as-run semantics (ner_config.py:170-191 — a pandas NaN in a grf
    slot never equals the combo's ""), only full-3-slot combos can fire,
    promoting 18 mentions; under the legacy variant (ner_config_old.py:
    241-243 — missing grf mapped to "" before compare) the 1-/2-slot
    combos fire too, promoting 5,602 of 15,754. Both counts are
    re-derived in-test by a literal pure-Python replay of
    ``keep_precise_graphs`` so the pin cannot drift with the operator.
    """
    from ner_spark.extractors.casen_combos import CASEN_OPTI2
    from ner_spark.operators.consensus import promote_trusted
    from ner_spark.sources import casen_xml as CX

    with open(CASEN_FIXTURE, encoding="utf-8") as f:
        docs = CX.parse_result_file(f.read())
    mentions = [
        (
            ",".join(map(str, d["doc_ids"])),
            m["NE"],
            m["label"],
            m["start"],
            m["end"],
            "casEN",
            m["grfs"],
        )
        for d in docs
        for m in d["mentions"]
    ]
    assert len(mentions) == 15754

    # independent replay of reference keep_precise_graphs (both variants)
    def replay(legacy: bool) -> int:
        n = 0
        for m in mentions:
            grfs = m[6] or []
            for c in CASEN_OPTI2:
                ok = True
                for i, slot in enumerate(c):
                    got = grfs[i] if i < len(grfs) else None
                    if legacy and got is None:
                        got = ""
                    if got != slot:
                        ok = False
                        break
                if ok:
                    n += 1
                    break
        return n

    df = spark.createDataFrame(
        mentions,
        "doc_uid string, NE string, label string, start int, end int,"
        " method string, grfs array<string>",
    )
    combos = [list(c) for c in CASEN_OPTI2]
    n_asrun = (
        promote_trusted(df, combos)
        .filter(F.col("method") == "casENOpti")
        .count()
    )
    n_legacy = (
        promote_trusted(df, combos, legacy_empty_missing=True)
        .filter(F.col("method") == "casENOpti")
        .count()
    )
    assert n_asrun == replay(False) == 18
    assert n_legacy == replay(True) == 5602


def test_read_xlsx_records_types():
    """The stdlib parser yields ints for integer cells and strings via
    sharedStrings (rich-text runs concatenated)."""
    records = read_xlsx_records(os.path.join(RESSOURCES, "20231101.xlsx"))
    r0 = records[0]
    assert isinstance(r0["hash"], int)
    assert isinstance(r0["NER"], str) and r0["NER"]
    assert set(r0) >= {"titles", "NER", "NER_label", "desc", "method", "hash"}


def test_xlsx_sheet_index_is_numeric_not_lexicographic(tmp_path):
    """sheet=1 must return sheet2.xml, not sheet10.xml (lexicographic
    filename sort puts sheet10 before sheet2 for >= 10-sheet workbooks)."""
    import zipfile

    from ner_spark.sources.excel import read_xlsx_rows

    path = tmp_path / "many.xlsx"
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    with zipfile.ZipFile(path, "w") as z:
        for i in range(1, 11):
            z.writestr(
                f"xl/worksheets/sheet{i}.xml",
                f'<worksheet {ns}><sheetData>'
                f'<row r="1"><c r="A1"><v>{i * 100}</v></c></row>'
                f"</sheetData></worksheet>",
            )
    assert read_xlsx_rows(str(path), sheet=0) == [[100]]
    assert read_xlsx_rows(str(path), sheet=1) == [[200]]  # NOT sheet10's 1000
    assert read_xlsx_rows(str(path), sheet=9) == [[1000]]
