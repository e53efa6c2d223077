"""Deterministic sampling & dataset splits for training-data pipelines.

All membership decisions are pure functions of row KEYS (xxhash64), so
they are:
- reproducible across runs, clusters, and retries (no `rand()` — a task
  retry can never move a row between splits);
- stable under data growth: a key keeps its split when new rows arrive,
  which is what training/eval contamination control needs;
- pushdown-friendly: the predicate is a plain Catalyst expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

_BUCKETS = 1_000_000


def _bucket(key_cols, seed: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed)), F.lit(_BUCKETS))


def hash_split(
    df: DataFrame,
    fractions=(0.9, 0.05, 0.05),
    key_cols=("doc_id",),
    seed: int = 42,
    split_col: str = "split",
    method: str = "xxh",
) -> DataFrame:
    """Annotate each row with a split index 0..len(fractions)-1 by key
    hash. Splits are disjoint, exhaustive, and stable per key — the same
    key always lands in the same split, on any cluster, forever.

    method='xxh' (default) buckets by xxhash64 — the fast JVM path.
    method='md5' buckets by the first 8 hex chars of
    md5(concat_ws('|', keys, seed)) compared lexicographically against
    hex thresholds — still pure Catalyst, but bit-reproducible in ANY
    engine with md5 (DuckDB, Trino, Postgres), so split assignments can
    be audited outside Spark."""
    if method == "md5":
        h = F.substring(
            F.md5(
                F.concat_ws(
                    "|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed))
                )
            ),
            1,
            8,
        )
        expr = F.lit(len(fractions) - 1)
        for i in reversed(range(len(fractions) - 1)):
            thr_int = int(sum(fractions[: i + 1]) * (16**8))
            if thr_int >= 16**8:
                # cumulative boundary reaches 1.0: every hash is below it
                # (a formatted 9-char threshold would compare WRONG
                # lexicographically against the 8-char prefix)
                expr = F.lit(i)
            else:
                expr = F.when(h < format(thr_int, "08x"), F.lit(i)).otherwise(expr)
    else:
        b = _bucket(key_cols, seed)
        expr = F.lit(len(fractions) - 1)
        for i in reversed(range(len(fractions) - 1)):
            expr = F.when(b < int(sum(fractions[: i + 1]) * _BUCKETS), F.lit(i)).otherwise(expr)
    return df.withColumn(split_col, expr.cast("int"))

