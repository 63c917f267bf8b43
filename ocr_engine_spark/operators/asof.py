"""Point-in-time (as-of) join — an operator Spark has no native form
of (DuckDB: ``ASOF JOIN``; kdb: ``aj``): for every left row, attach
the single right row with the greatest ``ts`` ≤ the left row's ``ts``
within the same key. The canonical feature-lookup / latest-state-at-
event-time join of event pipelines.

The scalable rewrite is NOT a range join (``l.ts >= r.ts`` as a join
condition explodes quadratically per key and Spark plans it as a
broadcast-nested-loop or a cartesian within key): it is **union-tag +
one window** —

1. tag both sides and union them (right rows carry their payload as a
   struct, left rows carry null);
2. one shuffle on the key, sort within key by (ts, right-before-left,
   payload) — exactly the sortWithinPartitions machinery the
   extraction plan already relies on;
3. ``last(payload, ignorenulls=True)`` over the running window carries
   the latest right payload forward onto every left row;
4. keep the left rows.

Cost at 100 TB: ONE exchange of (rows_l + rows_r), window state is a
single struct per partition-walk — no join hash table, no fan-out.
Determinism: at equal (key, ts) right rows sort BEFORE left rows (an
equal-timestamp right row is visible, matching ASOF's ``ts <= ts``),
and ties among right rows resolve to the greatest payload struct
(lexicographic on its fields), so results are partition- and
parallelism-invariant.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, key: str, ts: str,
              payload: Sequence[str]) -> DataFrame:
    """As-of join ``left`` to ``right`` on ``key`` with event time
    ``ts``. Returns every left row plus an ``asof_`` + ``c`` column for
    each ``c`` in ``payload`` (null when no right row at-or-before
    exists).
    """
    ptype = right.select(F.struct(*payload).alias("_p")).schema["_p"].dataType
    lcols = left.columns
    l2 = left.select(
        *lcols,
        F.lit(1).alias("_is_l"),
        F.lit(None).cast(ptype).alias("_p"),
    )
    null_lcols = [
        F.lit(None).cast(dict(zip(left.columns, left.schema))[c].dataType).alias(c)
        for c in lcols
        if c not in (key, ts)
    ]
    r2 = right.select(
        F.col(key),
        F.col(ts),
        *null_lcols,
        F.lit(0).alias("_is_l"),
        F.struct(*payload).alias("_p"),
    ).select(*l2.columns)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_is_l").asc(), F.col("_p").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l2.unionByName(r2)
        .withColumn("_carry", F.last("_p", ignorenulls=True).over(w))
        .where(F.col("_is_l") == 1)
    )
    out_payload = [
        F.col("_carry")[c].alias("asof_" + c) for c in payload
    ]
    return carried.select(*lcols, *out_payload)
