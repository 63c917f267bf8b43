"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry at sf0.01 on Spark, run the matching
``oracle_sql()`` on DuckDB over the same parquet views, compare
row-count, column names, and order-insensitive value rendering.

Usage: python scripts/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import duckdb  # noqa: E402

TABLES = ("documents", "events", "embeddings")


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )


def duckdb_views(sf_dir: str):
    """A DuckDB connection with a view over each table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from __spark_entry__ import oracle_sql, queries
    from ocr_engine_spark.session import build_session

    con = duckdb_views(sf_dir)

    # Refuse to run against a corpus that violates the oracle-parity
    # preconditions (VERDICT r3 item 7): the multikind/malformed
    # oracles are corpus-coupled, and a datagen change must fail HERE,
    # loudly, not silently desync engine vs oracle mid-gate.
    from ocr_engine_spark.kernel.corpus_invariants import violations

    docs = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(docs):
        bad = violations(con, docs)
        if bad:
            print("CORPUS PRECONDITION VIOLATIONS (refusing to run gate):")
            for v in bad:
                print("  -", v)
            return 2

    spark = build_session(master="local[8]", shuffle_partitions=16)
    qs, os_ = queries(), oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        try:
            res = con.execute(os_[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {scols} vs {ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            a, b = _rowset(scols, srows), _rowset(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
