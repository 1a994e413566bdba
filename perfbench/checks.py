"""Output checks. Each returns a list of failure messages (empty = pass).

- ``kg_build``: the build catalog's s1, s3 and s4 tables equal the pandas
  oracle (``oracle/pandas_oracle.py``) on the same input;
- ``kg_resume``: the resumed catalog recomputed zero s0..s5 buckets and its
  s6..s8 tables equal the uninterrupted build's;
- ``registry``: each query's order-insensitive value hash (the one
  ``tools/driver_sim.py`` uses) equals its DuckDB ``Q.ORACLE`` result's.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

KG_CHECKED = ("s1_dedup", "s3_consensus", "s4_triples")
SKIPPED_ON_RESUME = ("s0_normalize", "s1_dedup", "s3_consensus", "s4_triples", "s5_linked")
#: the tables a resume after s5 recomputes (run_pipeline.py s6..s8)
RESUMED = ("s6_canonical", "s7_edges", "s8_nodes")


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        tuple(str(v) for v in row) for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def read_table(catalog: str, table: str) -> pd.DataFrame:
    """A catalog table read straight from its parquet files (bucket
    directories start with ``_``, which pyarrow's dataset reader skips)."""
    files = sorted(glob.glob(os.path.join(catalog, table, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"{catalog}/{table}: no parquet files")
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


# -- kg ---------------------------------------------------------------------


def _clean_set(df) -> set:
    return {(r.doc_uid, r.text, tuple(r.files_id)) for r in df.itertuples(index=False)}


def _mention_set(df) -> set:
    return {
        (r.doc_uid, r.NE, r.label, int(r.start), int(r.end), r.method)
        for r in df.itertuples(index=False)
    }


def _triple_set(df) -> set:
    return {(r.doc_uid, r.subj, r.pred, r.obj) for r in df.itertuples(index=False)}


SETS = {"s1_dedup": _clean_set, "s3_consensus": _mention_set, "s4_triples": _triple_set}


def kg_oracle(input_dir: str, gaz_rows, pattern_rows, cache: str) -> dict[str, list]:
    """The pandas oracle's s1/s3/s4 rows for ``input_dir``, computed once
    and kept as JSON in ``cache``."""
    if os.path.exists(cache):
        with open(cache, encoding="utf-8") as f:
            return json.load(f)
    from ner_spark import synth
    from oracle import pandas_oracle as O

    docs = pq.read_table(input_dir).to_pandas()
    combos = [c["slots"] for c in synth.TRUSTED_COMBOS]
    out = O.run(docs, [tuple(r) for r in gaz_rows], [tuple(r) for r in pattern_rows], combos, None)
    sets = {
        "s1_dedup": _clean_set(out["clean"]),
        "s3_consensus": _mention_set(out["mentions"]),
        "s4_triples": _triple_set(out["triples"]),
    }
    as_json = {k: sorted(list(t) for t in v) for k, v in sets.items()}
    tmp = cache + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(as_json, f)
    os.replace(tmp, cache)
    return as_json


def _tupled(rows: list) -> set:
    return {tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows}


def check_kg_build(catalog: str, oracle: dict[str, list]) -> list[str]:
    fails = []
    for table in KG_CHECKED:
        got = SETS[table](read_table(catalog, table))
        want = _tupled(oracle[table])
        if got != want:
            fails.append(
                f"{table}: {len(got - want)} rows not in oracle, "
                f"{len(want - got)} oracle rows missing"
            )
    return fails


def _row_multiset(df: pd.DataFrame) -> list:
    cols = sorted(df.columns)
    return sorted(
        tuple(str(v) for v in r) for r in df[cols].itertuples(index=False, name=None)
    )


def check_kg_resume(build: str, resume: str, resume_stages: list[dict]) -> list[str]:
    fails = []
    by_stage = {s["stage"]: s for s in resume_stages}
    for table in SKIPPED_ON_RESUME:
        n = by_stage.get(table, {}).get("computed_buckets")
        if n != 0:
            fails.append(f"resume recomputed {n} buckets of {table}")
    for table in RESUMED:
        if _row_multiset(read_table(resume, table)) != _row_multiset(read_table(build, table)):
            fails.append(f"resumed {table} differs from the uninterrupted build")
    return fails


# -- registry ---------------------------------------------------------------


def registry_oracle(data_dir: str, names: list[str], cache: str) -> dict[str, dict]:
    """DuckDB oracle rows/cols/hash per query, each computed once per data
    set and kept as JSON in ``cache``."""
    out = {}
    if os.path.exists(cache):
        with open(cache, encoding="utf-8") as f:
            out = json.load(f)
    missing = [n for n in names if n not in out]
    if missing:
        import duckdb

        import __spark_entry__
        from ner_spark.queries_hash import register_ivf_oracle
        from perfbench.gen import REGISTRY_TABLES

        __spark_entry__.queries()  # registers every oracle
        register_ivf_oracle(data_dir)  # data-dependent centroid literals
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in REGISTRY_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
                )
            for name in missing:
                odf = con.execute(oracles[name]).df()
                out[name] = {
                    "rows": len(odf),
                    "cols": sorted(odf.columns),
                    "hash": value_hash(odf),
                }
        finally:
            con.close()
        tmp = cache + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(out, f)
        os.replace(tmp, cache)
    return {n: out[n] for n in names}


def check_registry(got: dict[str, dict], want: dict[str, dict]) -> dict[str, str]:
    """Failure message per mismatching query."""
    fails = {}
    for name, w in want.items():
        g = got.get(name)
        if g is None:
            fails[name] = "no result"
        elif g != w:
            fails[name] = (
                f"rows {g['rows']}/{w['rows']} cols_equal={g['cols'] == w['cols']} "
                f"hash {g['hash']}/{w['hash']}"
            )
    return fails
