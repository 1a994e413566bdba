"""Simulate the driver's verify: entry() smoke + queries() vs oracle_sql().

Usage: python tools/driver_sim.py [sf_dir] [only_query1,only_query2,...]
A name in the subset list that is not a registry query exits 2 before any
Spark session starts. The session is sized by ner_spark.session.machine_size.
Mirrors the driver: registers the parquet tables as DuckDB views, runs each
Spark query and its oracle SQL, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).
Each result line ends in ``vh=<16 hex>``, the value hash of the Spark
result (``spark/oracle`` when the two differ), so two runs' logs can be
compared with ``diff``.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    d = df[cols].copy()
    rows = sorted(
        tuple(str(v) for v in row) for row in d.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    import __spark_entry__ as E
    from ner_spark.session import get_spark

    qs = E.queries()
    unknown = sorted(only - qs.keys()) if only is not None else []
    if unknown:
        print(f"unknown queries: {','.join(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("driver_sim")

    if only is None:
        print("== entry() smoke (sf0.001)")
        edf = E.entry(spark)
        rows = edf.count()
        print(f"entry rows={rows} schema={[f.name for f in edf.schema.fields]}")
        assert rows >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # the IVF oracle inlines centroids trained from the compared sf_dir
    from ner_spark.queries_hash import register_ivf_oracle

    register_ivf_oracle(sf_dir)

    oracles = E.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        import time as _t
        _t0 = _t.time()
        sdf = fn(spark, sf_dir).toPandas()
        _wall = _t.time() - _t0
        from ner_spark.operators.scratch import release_scratch

        release_scratch()  # per-query scratch caches; memoized stages stay
        s_hash = value_hash(sdf)
        if name not in oracles:
            print(f"{name:28s} rows-only rows={len(sdf)} vh={s_hash}")
            n_rowsonly += 1
            continue
        odf = con.execute(oracles[name]).df()
        o_hash = value_hash(odf)
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_cols and s_hash == o_hash
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "OK":
            n_pass += 1
        else:
            n_fail += 1
        vh = s_hash if ok_hash else f"{s_hash}/{o_hash}"
        print(
            f"{name:28s} {status} rows={len(sdf)}/{len(odf)} cols={ok_cols}"
            f" hash={ok_hash} vh={vh} wall={_wall:.1f}s"
        )
        if status == "FAIL" and ok_cols:
            cols = sorted(sdf.columns)
            s = sdf[cols].astype(str).apply(tuple, axis=1)
            o = odf[cols].astype(str).apply(tuple, axis=1)
            only_s = set(s) - set(o)
            only_o = set(o) - set(s)
            print(f"  spark-only({len(only_s)}): {list(only_s)[:3]}")
            print(f"  oracle-only({len(only_o)}): {list(only_o)[:3]}")
    print(f"== {n_pass} OK, {n_fail} FAIL, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
