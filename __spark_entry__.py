"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``ocr_engine_spark.catalog``; this module is a
thin adapter. The driver records only the first entries of
``queries()`` each round, so both dicts are ordered least recently
recorded first, from the committed ``CORRECTNESS_r{N}.json`` files
beside this module (see ``_rotation``).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction pipeline (payload dispatch →
    deterministic bucket shuffle → partition-local sort → one
    mapInArrow Arrow stage) over /root/testdata/sf0.001 documents
    recast as multi-kind transcripts (text/html/tool/pdf payload
    constructors — all four kernels run in the smoke). Returns
    per-turn extracted text + ordered spans (in the FIXTURES.md §2
    shape, text derived from the stored offsets) + classifier
    metrics."""
    from ocr_engine_spark.functions.columns import spans_with_text_col
    from ocr_engine_spark.plans.extract_plan import build_extracted
    from ocr_engine_spark.sources.tableio import (
        transcripts_from_documents_multikind,
    )

    df = transcripts_from_documents_multikind(spark, "/root/testdata/sf0.001")
    out = build_extracted(df, num_buckets=16, salt_buckets=2)
    return out.select(
        "conv_id", "turn_idx", "kind", "extracted_text",
        spans_with_text_col().alias("spans"),
        "blocks_kept", "blocks_dropped", "parse_failed",
    ).orderBy("conv_id", "turn_idx")


def _rotation(names: list[str], artifact_dir: str = _HERE) -> list[str]:
    """``names`` ordered by the newest ``CORRECTNESS_r{N}.json`` in
    ``artifact_dir`` that records them: names no artifact records
    first, then ascending N; the sort is stable, so ties keep the
    given (registration) order, and with no artifacts nothing moves."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(artifact_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                for name in json.load(f):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda name: last.get(name, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_engine_spark.catalog import queries as _q

    q = _q()
    return {name: q[name] for name in _rotation(list(q))}


def oracle_sql() -> dict[str, str]:
    from ocr_engine_spark.catalog import oracle_sql as _o

    o = _o()
    return {name: o[name] for name in _rotation(list(o))}
