"""1D interval (range) joins — the temporal analog of the bbox join.

`interval_overlap_join`: all canonical pairs (a<b) with equal key and
overlapping inclusive [start, end] intervals. Banded exactly like the
spatial J6 plan: each interval registers in the bins its span covers
(Catalyst sequence/explode — whole-stage codegen), same-(key, bin) rows
equi-join, the exact overlap predicate refines, and the REFERENCE-POINT
rule (emit only from the bin containing max(start_a, start_b)) dedups
pairs that share several bins without any distinct() shuffle.

Pick `bin_size` near the typical interval length: candidate volume per
bin is O(intervals-overlapping-bin²), and the explode factor is
O(interval_length / bin_size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def interval_overlap_join(
    df: DataFrame,
    key_col: str,
    id_col: str,
    start_col: str,
    end_col: str,
    bin_size: int = 32,
) -> DataFrame:
    """df: one interval per row. Returns (a, b) id pairs, a < b.

    The self-join is pinned to SHUFFLE_HASH (same rationale as
    bbox_self_join): pair volume ≫ input rows, and a broadcast plan over
    a small-estimate input would evaluate every candidate pair in the
    narrow probe stage; the pinned shuffle also redistributes a narrow
    input, so no explicit pre-widening exchange is applied (see
    bbox_self_join).

    The shuffled-hash build side is held in memory per partition and
    cannot spill the way sort-merge does, so one hot (key, bin) can OOM
    an executor; split such keys with the salting helpers in
    `plans/partitioning.py` (`hot_keys`, `salted_join`)."""

    def bin_of(c):
        return F.floor(c / bin_size).cast("long")

    iv = df.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id"),
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    )
    binned = iv.withColumn(
        "_bin", F.explode(F.sequence(bin_of(F.col("s")), bin_of(F.col("e"))))
    )
    l = binned.select(
        "k", "_bin", F.col("id").alias("a"), F.col("s").alias("sa"), F.col("e").alias("ea")
    )
    r = binned.select(
        "k", "_bin", F.col("id").alias("b"), F.col("s").alias("sb"), F.col("e").alias("eb")
    )
    return (
        l.join(r.hint("shuffle_hash"), ["k", "_bin"])
        .filter(F.col("a") < F.col("b"))
        .filter((F.col("sa") <= F.col("eb")) & (F.col("sb") <= F.col("ea")))
        .filter(bin_of(F.greatest(F.col("sa"), F.col("sb"))) == F.col("_bin"))
        .select("k", "a", "b")
    )
