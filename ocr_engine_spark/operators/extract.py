"""The Arrow-vectorized extraction operator (SURVEY.md §2.9, §3.4).

One ``mapInArrow`` stage is the ONLY JVM→Python crossing in the whole
pipeline: batches of ``(bucket, conv_id, turn_idx, role, text)`` arrive
as Arrow RecordBatches, the pure-Python kernels run data-local on each
row of the batch, and one Arrow batch of results goes back. No
row-at-a-time Python UDFs exist anywhere (input_hint mandate).

Scale notes:
- extraction is per-turn pure (no cross-turn state), so Arrow batch
  boundaries, partitioning and parallelism cannot change results
  (SURVEY.md §7.3.5);
- memory per task is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of
  partition size — a mega-conversation partition streams through in
  bounded batches;
- the Python worker is reused across batches and tasks
  (``spark.python.worker.reuse`` default), so kernel import cost is
  paid once per worker. Reuse alone did not make a task cheap: PySpark
  calls ``importlib.invalidate_caches()`` on every task, and on
  CPython 3.11 that re-read every zip archive on the worker's path
  (``pyspark.zip``, the ``spark-core`` jar, py4j; about 27k directory
  entries, 0.2-0.3 s of worker CPU per task). ``ocr_engine_spark/
  zipcache.py``, installed when a worker imports this package to
  unpickle the operator, skips the re-read while an archive's
  ``(mtime_ns, size)`` is unchanged.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel.dispatch import extract_turn

# The output schema, declared once (FIXTURES.md §2 + metrics columns,
# led by the bucket passthrough): Spark's return type for mapInArrow;
# the Arrow schema the batches are built with is derived from it. Spans
# are stored as offsets only: a span's text is always
# extracted_text[start:end], so storing it would write every extracted
# character twice. functions.columns.spans_with_text_col derives the
# FIXTURES.md §2 span shape back from the stored table.
OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("span_idx", T.IntegerType()),
                        T.StructField("kind", T.StringType()),
                        T.StructField("start", T.IntegerType()),
                        T.StructField("end", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("blocks_kept", T.LongType()),
        T.StructField("blocks_dropped", T.LongType()),
        T.StructField("parse_failed", T.IntegerType()),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(OUT_SCHEMA)


def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        # bucket/conv_id/turn_idx are pure pass-through: reuse the
        # incoming Arrow buffers as-is (zero-copy) instead of
        # round-tripping them through Python lists — only role/text are
        # materialized, only computed columns are rebuilt.
        roles = batch.column("role").to_pylist()
        texts = batch.column("text").to_pylist()

        kinds, etexts, spans_col = [], [], []
        kept, dropped, failed = [], [], []
        for role, text in zip(roles, texts):
            res = extract_turn(role, text)
            kinds.append(res["kind"])
            etexts.append(res["extracted_text"])
            # pa.array drops each span's "text" key: it is not a field
            # of the span struct type
            spans_col.append(res["spans"])
            kept.append(res["blocks_kept"])
            dropped.append(res["blocks_dropped"])
            failed.append(res["parse_failed"])

        passthrough = [batch.column(c) for c in ("bucket", "conv_id", "turn_idx")]
        computed = [kinds, etexts, spans_col, kept, dropped, failed]
        yield pa.RecordBatch.from_arrays(
            passthrough
            + [pa.array(v, t) for v, t in zip(computed, _ARROW_SCHEMA.types[3:])],
            schema=_ARROW_SCHEMA,
        )


def extract_arrow(df: DataFrame) -> DataFrame:
    """Apply the extraction kernels to a DataFrame with columns
    ``(bucket, conv_id, turn_idx, role, text)``; bucket is passed
    through for per-partition audit grouping."""
    return df.select("bucket", "conv_id", "turn_idx", "role", "text").mapInArrow(
        _extract_batches, OUT_SCHEMA
    )
