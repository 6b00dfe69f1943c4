"""Range (interval-containment) join: points ⨝ intervals on
``start <= ts < end`` — bucketized so it NEVER plans as a
BroadcastNestedLoopJoin/cartesian.

Spark has no native range join (the naive ``join(points,
(start <= ts) & (ts < end))`` has no equi-key, so Catalyst falls back to
a nested-loop product — the same scale-killer class as the all-pairs
near-dup). The standard distributed answer, used here: quantize time
into fixed-width buckets, explode every interval into the buckets it
covers, and equi-join points on (key, bucket); the exact containment
predicate runs as a residual on the (tiny) bucket-collision set.

Cost model: replication factor = ceil(interval_span / bucket_width) per
interval; each (point, interval) pair meets exactly once — in the
point's own bucket — so no post-join dedup is needed. Pick
``bucket_width`` ≈ the median interval span: wider wastes residual
filtering, narrower wastes interval replication. The reference has no
range join (SURVEY §2.5); this is an engine addition for the
events/telemetry surface, same family as :mod:`operators.asof`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    ts: str,
    start: str,
    end: str,
    key: str,
    bucket_width: int = 3600,
) -> DataFrame:
    """Inner-join ``points`` to every interval with the same ``key`` that
    contains them (``start <= ts < end``, epoch seconds).

    Returns points columns + intervals columns (names must not collide
    apart from ``key``).
    """
    p_epoch = F.col(ts).cast("timestamp").cast("long")
    s_epoch = F.col(start).cast("timestamp").cast("long")
    e_epoch = F.col(end).cast("timestamp").cast("long")

    p = points.withColumn("_bkt", F.floor(p_epoch / bucket_width))
    # end is exclusive: an interval touching a bucket's first instant at
    # its exclusive end never matches a point there, but the residual
    # filter makes over-replication harmless — only under-replication
    # would lose pairs, hence sequence to floor((end-1)/W) ∨ start bucket
    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(s_epoch / bucket_width),
                F.greatest(
                    F.floor((e_epoch - 1) / bucket_width),
                    F.floor(s_epoch / bucket_width),
                ),
            )
        ),
    )
    joined = p.join(iv, ["_bkt", key])
    return joined.where(
        (F.col(start).cast("timestamp").cast("long") <= F.col(ts).cast("timestamp").cast("long"))
        & (F.col(ts).cast("timestamp").cast("long") < F.col(end).cast("timestamp").cast("long"))
    ).drop("_bkt")
