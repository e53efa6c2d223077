"""Deduplication operators for the training-data pipeline (graft ops).

Every variant is expressed so the heavy lifting stays in Catalyst:

- `exact_dedup`: hash-groupBy on the normalized-text fingerprint; keeps
  the smallest id per group (deterministic survivor).
- `ngram_jaccard_pairs`: shingle explode → shared-shingle equi-join →
  |A∩B| via count, |A∪B| via |A|+|B|−|A∩B| — pure joins/aggregates.
- `minhash_lsh_pairs`: k permutations of shingle hashes via
  (a·x+b) mod p as a transform over a literal (a,b) array (JVM),
  positional min via posexplode+groupBy, banding into LSH buckets,
  bucket equi-join for candidates, exact Jaccard verify.
- `simhash`: 64-bit sign-sum over token hashes — token hashing via
  xxhash64 inside a higher-order transform (JVM), bit fold in one
  Arrow-batched pandas UDF (the only Python step, O(tokens) per doc).
- `embedding_neardup_pairs`: cosine over `array<float>` with
  zip_with/aggregate (JVM) after an LSH bucket join (random-hyperplane
  signs, deterministic seed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..functions.text import fingerprint, normalize

# 2^31-1: keeps a·x+b < 2^62 so ANSI-mode int64 arithmetic never overflows
_MERSENNE_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor row id per distinct normalized text."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("survivor_id"), F.count("*").alias("n_dups"))
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of normalized text (JVM: split + transform +
    slice — no UDF)."""
    ws = F.split(normalize(text), " ")
    k = F.size(ws) - (n - 1)
    return F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(ws, " ")))


def _md5_h64(w: Column) -> Column:
    """First 64 bits of md5 as a long (two 32-bit hex parses OR'd —
    shiftleft wraps, no ANSI overflow). Slower than xxhash64 but
    bit-reproducible in any engine with md5, enabling external audits."""
    m = F.md5(w)
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int, hash: str = "xxh"
) -> DataFrame:
    # the shingle explode multiplies rows ~50× and Spark never re-splits
    # a partition mid-stage — widen narrow inputs BEFORE the explode
    from ..plans.partitioning import widen_narrow_input

    df = widen_narrow_input(df)
    hfn = _md5_h64 if hash == "md5" else F.xxhash64
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh"),
        )
        .withColumn("h", hfn(F.col("sh")))
        .drop("sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs (a<b) with word-n-gram Jaccard ≥ threshold.

    Shared-shingle join bounds the candidate set: only docs sharing ≥1
    shingle ever meet. At 100 TB add the minhash pre-filter below; this
    operator is the exact verifier both paths share.
    """
    sh = _shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("a"), "h")
    b = sh.select(F.col("id").alias("b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def _perm_coeffs(num_perm: int, seed: int = 42):
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _MERSENNE_P, size=num_perm, dtype=np.int64)
    b = rng.integers(0, _MERSENNE_P, size=num_perm, dtype=np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>[num_perm]) minhash signatures, fully JVM-side:
    num_perm `min((a_i·x + b_i) mod p)` AGGREGATES over the shingle
    table — whole-stage codegen, partial aggregation (map-side combine),
    zero Python.

    Pass `shingle_df` (a precomputed `(id, h)` shingle table) to share one
    normalize→shingle→hash pass with a downstream exact-verify stage."""
    a, b = _perm_coeffs(num_perm, seed)
    sh = shingle_df if shingle_df is not None else _shingle_table(df, text_col, id_col, n)
    # num_perm min-AGGREGATES, 100% Catalyst: partial (map-side) combine
    # shrinks the exchange from every (id, hash) row to num_perm longs
    # per id per partition — at 10^12 docs this is the difference between
    # shuffling the whole shingle table and shuffling ~0.5 KB per doc.
    # (The previous shape — collect_list + Arrow kernel — shipped every
    # hash through the shuffle and through Python.)
    i64min = -(1 << 63)
    x = F.pmod(
        # numpy parity incl. the 1-in-2^64 edge: np.abs(INT64_MIN) wraps
        # to INT64_MIN and numpy's % still returns the nonneg remainder,
        # which is exactly Spark's pmod on the raw value; F.abs would
        # throw under ANSI for that input.
        F.when(F.col("h") == i64min, F.col("h")).otherwise(F.abs(F.col("h"))),
        F.lit(_MERSENNE_P),
    )
    # x is projected ONCE below the aggregate: inlining it would make
    # every one of the num_perm update expressions re-evaluate the
    # when/abs/pmod chain per shingle row (aggregate update expressions
    # get no common-subexpression elimination)
    shx = sh.select("id", x.alias("_x"))
    mins = [
        F.min(
            (F.lit(int(a[i])) * F.col("_x") + F.lit(int(b[i]))) % F.lit(_MERSENNE_P)
        ).alias(f"_s{i}")
        for i in range(num_perm)
    ]
    grouped = shx.groupBy("id").agg(*mins)
    return grouped.select(
        "id", F.array(*[F.col(f"_s{i}") for i in range(num_perm)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxh",
) -> DataFrame:
    """Candidate pairs from LSH banding, verified by exact n-gram Jaccard.

    The shingle table is computed ONCE (normalize→split→shingle→hash is
    the dominant corpus pass) and pinned with localCheckpoint so both the
    signature stage and the exact-verify stage read the materialized
    partitions instead of re-running the pass.

    hash='md5' makes the shingle hashes (and therefore signatures, band
    membership, and the final pair set) bit-reproducible outside Spark —
    band candidate generation is deterministic given the hashes, so the
    whole pipeline can be audited/oracle-checked externally."""
    rows_per_band = num_perm // bands
    sh = _shingle_table(df, text_col, id_col, n, hash=hash).localCheckpoint(eager=True)
    sigs = minhash_signatures(df, num_perm, n, text_col, id_col, shingle_df=sh)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", bi * rows_per_band + 1, rows_per_band),
                                    lambda v: v.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bh").localCheckpoint(eager=False)
    # (banded is O(docs×bands) small rows; pinning it keeps the
    # LSH self-join below from running the num_perm-way signature
    # aggregation once PER SIDE — the self-join duplicates the whole
    # upstream subtree otherwise)
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bh"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    # exact verify: Jaccard only for candidates (semi-join prune), reusing
    # the checkpointed shingle table
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    ash = sh.select(F.col("id").alias("a"), "h")
    bsh = sh.select(F.col("id").alias("b"), "h")
    inter = (
        cand.join(ash, "a").join(bsh, ["b", "h"]).groupBy("a", "b").agg(
            F.count("*").alias("n_inter")
        )
    )
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    hash: str = "xxh",
) -> DataFrame:
    """(train id, n_hits): how many DISTINCT eval n-grams each train doc
    contains — benchmark decontamination (the step that keeps eval data
    out of a training corpus).

    Scale shape: the eval side reduces to a distinct gram-hash set and
    is BROADCAST (eval suites are 10^4–10^7 grams); the 10^12-doc train
    side streams through one explode + broadcast-hash-join + count —
    never shuffled by gram key. The shingle table is distinct per
    (id, gram), so count(*) after the join is already the distinct-hit
    count (no expensive count(DISTINCT))."""
    tr = _shingle_table(train, text_col, id_col, n, hash=hash)
    # eval ids are irrelevant (only the gram set matters) — synthesize a
    # constant id so eval tables keyed differently than train still work
    ev = (
        _shingle_table(
            eval_df.select(
                F.lit(0).alias("_eid"),
                F.col(eval_text_col or text_col).alias("_etext"),
            ),
            "_etext",
            "_eid",
            n,
            hash=hash,
        )
        .select("h")
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 32,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id), with
    cluster_id = the component's min doc id (the canonical survivor) —
    the step every dedup pipeline needs after pair generation, since
    near-dup relations are not transitive pair-wise.

    Iterative hash-to-min label propagation: each round every node adopts
    the min label among itself and its neighbors — one shuffle per round
    over the (node, label) table, lineage pinned with localCheckpoint so
    round k never replans rounds 1..k-1. Converges in O(component
    diameter) rounds; near-dup clusters are shallow (dup chains, not long
    paths), so the bound is single digits in practice and `max_rounds`
    is a safety rail, not a tuning knob.
    """
    e = pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    edges = (
        e.unionByName(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select("x")
        .distinct()
        .select(F.col("x").alias("id"), F.col("x").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels.select(F.col("id").alias("y"), "label"), "y")
            .groupBy("x")
            .agg(F.min("label").alias("nlabel"))
            .select(F.col("x").alias("id"), "nlabel")
        )
        updated = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least("label", F.coalesce("nlabel", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .filter(F.col("u.label") != F.col("l.label"))
        )
        stable = changed.isEmpty()
        labels = updated
        if stable:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash: str = "xxh"
) -> DataFrame:
    """(id, simhash long): 64-bit sign-sum fingerprint.

    Token hashes computed JVM-side (xxhash64 in a transform); the bit fold
    runs vectorized per Arrow batch (popcount-style numpy, no per-row
    Python loops over tokens × bits).

    hash='md5' swaps the per-token hash for the first 64 bits of md5
    (two 32-bit hex parses OR'd — shiftleft wraps, no ANSI overflow), a
    slower but engine-portable hash: the identical fingerprint can be
    recomputed in DuckDB/Trino/Postgres for external audits."""
    from ..plans.partitioning import widen_narrow_input

    df = widen_narrow_input(df)
    toks = F.split(normalize(F.col(text_col)), " ")
    hfn = _md5_h64 if hash == "md5" else F.xxhash64
    hashes = F.transform(toks, lambda w: hfn(w))

    def fold(hs: pd.Series) -> pd.Series:
        # OFFSETS-BASED: all rows' token hashes are flattened into one
        # buffer; per-row bit votes come from ONE np.add.reduceat over
        # the (tokens × 64) bit matrix at the row-start offsets — no
        # per-row Python loop over tokens. Rows are processed in chunks
        # bounded by token count so the bit matrix stays ~64 MB.
        R = len(hs)
        out = np.zeros(R, dtype=np.int64)
        arrs = [
            np.asarray(a, dtype=np.uint64) if a is not None and len(a) else None
            for a in hs
        ]
        shifts = np.arange(64, dtype=np.uint64)[None, :]
        powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
        live = [i for i in range(R) if arrs[i] is not None]
        pos = 0
        while pos < len(live):
            # chunk rows so flattened token count stays ≤ ~1M
            end, ntok = pos, 0
            while end < len(live) and (ntok == 0 or ntok < 1_000_000):
                ntok += len(arrs[live[end]])
                end += 1
            chunk = live[pos:end]
            pos = end
            lens = np.array([len(arrs[i]) for i in chunk])
            starts = np.concatenate([[0], np.cumsum(lens[:-1])])
            flat = np.concatenate([arrs[i] for i in chunk])
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
            ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
            # votes = 2*ones - ntok_row; sign bit set when votes > 0
            word = (
                ((2 * ones - lens[:, None]) > 0).astype(np.uint64) * powers[None, :]
            ).sum(axis=1, dtype=np.uint64)
            # two's-complement wrap into int64 (Spark LongType)
            out[chunk] = word.astype(np.int64)
        return pd.Series(out)

    fold_udf = F.pandas_udf(fold, "long")
    return df.select(F.col(id_col).alias("id"), fold_udf(hashes).alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxh",
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ max_hamming.

    Candidate generation by block keys (split 64 bits into max_hamming+1
    chunks — pigeonhole: any pair within distance d shares one intact
    chunk), then exact popcount verify via bit_count (JVM). The block
    join is EXACT for the Hamming predicate (no false negatives), so the
    result equals the all-pairs filter — which is what the DuckDB oracle
    computes when hash='md5'."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    sh = simhash(df, text_col, id_col, hash=hash)
    blocks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block"),
                        F.shiftrightunsigned(F.col("simhash"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for bi in range(nblocks)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.block", "bk.bv")
    cand = (
        blocks.alias("l")
        .join(blocks.alias("r"), ["block", "bv"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.col("l.simhash").alias("ha"),
            F.col("r.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold over array<float> embeddings.

    LSH bucket = sign bits against `n_planes` fixed random hyperplanes
    (deterministic seed); exact cosine verified JVM-side with
    zip_with + aggregate. Pass `dim` explicitly at scale — the
    `first()` fallback costs a driver job against the corpus."""
    from ..plans.partitioning import widen_narrow_input

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    df = widen_narrow_input(df)
    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.normal(size=(n_planes, dim))

    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (m @ planes.T) > 0
        key = (signs * (1 << np.arange(n_planes))).sum(axis=1)
        return pd.Series(key.astype(np.int64))

    bucket_udf = F.pandas_udf(bucket, "long")
    b = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn(
        "bucket", bucket_udf("v")
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a_, b_: a_ * b_),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    norm = lambda x: F.sqrt(dot(x, x))  # noqa: E731
    pairs = (
        b.alias("l")
        .join(b.alias("r"), "bucket")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            (
                dot(F.col("l.v"), F.col("r.v"))
                / (norm(F.col("l.v")) * norm(F.col("r.v")))
            ).alias("cosine"),
        )
        .distinct()
        .filter(F.col("cosine") >= threshold)
    )
    return pairs
