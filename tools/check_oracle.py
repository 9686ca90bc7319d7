"""Local replica of the driver's correctness gate: run entry queries on
Spark and their DuckDB oracles side-by-side at sf0.01, compare row count,
schema (column names), and an order-insensitive value hash.

Usage: python tools/check_oracle.py [--distributed] [query ...]
(default: all oracled). --distributed sets gate.ONE_BLOCK_MAX_EDGES and
gate.LOUVAIN_ONE_TASK_MAX_EDGES to 0 before any query runs, so PageRank,
LPA and CC take their distributed superstep path instead of the one-block
kernel, and Louvain's parallel levels run as distributed sweeps instead
of in one task. The same zero also turns off the one-task daily→all-time
migration (streaming/incremental.migrate) and the one-task windowed
co-occurrence induction (operators/induce.cooccurrence_edges), but no
oracle query calls either (the graph queries induce with
sources/tables.events_cooc): their distributed sides are covered by tests
only.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def dtype_mismatches(sdf, odf) -> list[str]:
    """Columns fetched as integer on one side and float on the other.

    This is exactly the drift class the r5 driver gate caught and this
    replica missed: DuckDB's integer window ``sum()`` returns HUGEINT,
    which ``fetchdf()`` delivers as float64, while Spark emits int64 —
    the values are equal but the driver's hash renders '10.0' vs '10'.
    ``value_hash`` normalizes floats to 6 sig digits, so 10.0 and 10
    collide locally and the replica stayed green. Comparing the fetched
    dtype KINDS closes the blindspot. A float column that contains NaN is
    skipped: pandas upcasts nullable integer columns to float64 on BOTH
    fetch paths, so an int-vs-NaN-float pair is fetch-layer ambiguity,
    not an oracle type defect.
    """
    bad = []
    for c in sorted(set(sdf.columns) & set(odf.columns)):
        kinds = {sdf[c].dtype.kind, odf[c].dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            flt = sdf[c] if sdf[c].dtype.kind == "f" else odf[c]
            if not flt.isna().any():
                bad.append(c)
    return bad


def value_hash(df) -> str:
    """Order-insensitive hash: sort columns by name, stringify rows with
    6-sig-digit float normalization, sort, sha256."""
    cols = sorted(df.columns)
    pdf = df[cols].copy()
    rows = []
    for t in pdf.itertuples(index=False):
        parts = []
        for v in t:
            if isinstance(v, float):
                parts.append(f"{v:.6g}")
            elif isinstance(v, (list, tuple)):
                parts.append(str(list(v)))
            else:
                parts.append(str(v))
        rows.append("\x1f".join(parts))
    rows.sort()
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main() -> None:
    import argparse

    import duckdb

    import __spark_entry__ as entry
    from louvain_spark import get_spark
    from louvain_spark.plans import gate

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", help="query names (default: all oracled)")
    ap.add_argument(
        "--distributed", action="store_true",
        help="run PageRank, LPA, CC, Louvain's parallel levels, the "
        "migration and windowed induction (which no oracle query calls) "
        "distributed",
    )
    args = ap.parse_args()
    if args.distributed:
        gate.ONE_BLOCK_MAX_EDGES = 0
        gate.LOUVAIN_ONE_TASK_MAX_EDGES = 0
    want = args.queries
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = [n for n in (want or oracles.keys()) if n in qs]

    spark = get_spark(
        "oracle-check",
        master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures = 0
    for name in names:
        sdf = qs[name](spark, SF_DIR).toPandas()
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (no_oracle)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        h_s, h_o = value_hash(sdf), value_hash(odf)
        dtype_bad = dtype_mismatches(sdf, odf)
        ok = (
            len(sdf) == len(odf)
            and sorted(sdf.columns) == sorted(odf.columns)
            and h_s == h_o
            and not dtype_bad
        )
        status = "OK " if ok else "FAIL"
        print(
            f"{status} {name}: spark_rows={len(sdf)} oracle_rows={len(odf)} "
            f"hash {h_s} vs {h_o} cols {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            + (f" DTYPE-DRIFT {dtype_bad}" if dtype_bad else "")
        )
        failures += 0 if ok else 1
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
