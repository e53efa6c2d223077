"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship spatial-join + tile-assignment pipeline
on sf0.001. `queries()` exposes one entry per implemented operator from
SURVEY.md §2 plus the graft operators; `oracle_sql()` carries the DuckDB
mirror for every SQL-expressible one.

Geometry derivation used throughout (identical arithmetic on both
engines, so doubles are bit-identical): each lineitem row becomes a point
    lon = (l_partkey % 100) * 0.1,  lat = (l_suppkey % 100) * 0.1
    point_id = l_orderkey * 10 + l_linenumber
and each order becomes a bbox (see q_j6). Float aggregates are rounded
to 6 decimals on BOTH sides so summation-order noise (~1e-12) can't flip
the value-hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_pbf2json_spark.functions.filter_dsl import compile_selector  # noqa: E402
from osm_pbf2json_spark.functions.text import (  # noqa: E402
    lang_id,
    normalize,
    quality_score,
    regex_token_count,
    token_count,
    winnowing_fingerprints,
)
from osm_pbf2json_spark.operators import ann, corpus, dedup, spatial  # noqa: E402

# ---------------------------------------------------------------------------
# shared derivations

# CAST: DuckDB reads bare 0.1 as DECIMAL; Spark uses DOUBLE — cast so both
# engines run the identical IEEE-754 arithmetic
_PT_LON = "(l_partkey % 100) * CAST(0.1 AS DOUBLE)"
_PT_LAT = "(l_suppkey % 100) * CAST(0.1 AS DOUBLE)"

POLY_A = [(0.55, 0.55), (4.45, 0.35), (4.35, 4.45), (0.35, 4.35)]  # convex CCW
POLY_B = [(5.55, 5.45), (9.45, 5.65), (7.55, 9.45)]

KNN_QUERIES = [(1, 2.05, 3.05), (2, 7.05, 8.05), (3, 0.05, 9.95)]

# 16×16 grid of disjoint convex district polygons over the derived point
# space — the flagship PIP fan-in (also used by bench.py). Bounds land
# off the 0.1-multiple point lattice, so no point sits on a boundary.
GRID_POLYGONS = [
    {
        "key": f"P{gx:02d}{gy:02d}",
        "polygons": [
            [
                [
                    (gx * 0.625 + 0.01, gy * 0.625 + 0.01),
                    (gx * 0.625 + 0.615, gy * 0.625 + 0.01),
                    (gx * 0.625 + 0.615, gy * 0.625 + 0.615),
                    (gx * 0.625 + 0.01, gy * 0.625 + 0.615),
                    (gx * 0.625 + 0.01, gy * 0.625 + 0.01),
                ]
            ]
        ],
    }
    for gx in range(16)
    for gy in range(16)
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("point_id"),
        ((F.col("l_partkey") % 100) * F.lit(0.1)).alias("lon"),
        ((F.col("l_suppkey") % 100) * F.lit(0.1)).alias("lat"),
    )


_POINTS_SQL = f"""
  SELECT l_orderkey * 10 + l_linenumber AS point_id,
         {_PT_LON} AS lon, {_PT_LAT} AS lat
  FROM lineitem
"""


def _convex_contains_sql(poly: list[tuple], x: str, y: str) -> str:
    """Strict-interior test for a convex CCW polygon as AND of cross
    products (the oracle counterpart of the engine's ray casting)."""
    conds = []
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        conds.append(
            f"(({x2} - {x1}) * ({y} - {y1}) - ({y2} - {y1}) * ({x} - {x1}) > 0)"
        )
    return "(" + " AND ".join(conds) + ")"


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


# ---------------------------------------------------------------------------
# queries


def q_f1_filter_dsl(spark, sf_dir):
    """F1-F4: tag-filter DSL compiled to a Catalyst predicate over a
    tags-map built from part columns."""
    part = _t(spark, sf_dir, "part")
    tagged = part.select(
        "p_partkey",
        F.create_map(
            F.lit("brand"), F.col("p_brand"),
            F.lit("type"), F.col("p_type"),
        ).alias("tags"),
    )
    sel = "brand~Brand#11+type,brand~Brand#22"
    return tagged.filter(compile_selector(sel)).select("p_partkey")


def q_f5_prefilter(spark, sf_dir):
    """F5/F6 builders: isin-style OR-group prefilter."""
    part = _t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_type").isin("STANDARD", "LARGE", "PROMO") & (F.col("p_size") >= 25)
    ).select("p_partkey", "p_brand")


def q_j1_ordered_resolution(spark, sf_dir):
    """J1: ordered ref resolution digest (posexplode→join→ordered
    collect); csv digest avoids cross-engine array hashing."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                lambda s: s.l_partkey.cast("string"),
            ),
            ",",
        ).alias("refs_csv"),
        F.count("*").alias("n_refs"),
    )


def q_s2_closure(spark, sf_dir):
    """S2: two-hop semi-join dependency closure (orders→customer→nation)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    seeds = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    c = cust.join(seeds, "c_custkey", "left_semi")
    n = nation.join(
        c.select(F.col("c_nationkey").alias("n_nationkey")), "n_nationkey", "left_semi"
    )
    return (
        c.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select(F.col("n_name"), F.col("n_customers").cast("long").alias("n_customers"))
    )


def q_o2_pair_dedup(spark, sf_dir):
    """O2: canonical pair dedup (least/greatest + distinct)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select(
            F.least("l_partkey", "l_suppkey").alias("a"),
            F.greatest("l_partkey", "l_suppkey").alias("b"),
        )
        .distinct()
    )


def q_street_attrs(spark, sf_dir):
    """A3+A4+A6 consolidated (r4): XOR-fold street id, bounds e/n/s/w,
    and the bbox-diagonal length quirk per street group, all in ONE
    groupBy — three reference quirks (streets.rs XOR id, geo.rs bounds,
    bbox-diag length), one shuffle. Replaces the r3 micro-queries
    a3_xor_id / a6_bounds / a4_bbox_diag_length so every oracle-bearing
    query fits the driver's 50-row correctness window."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_orderkey").alias("grp"),
        "l_partkey",
        ((F.col("l_partkey") % 100) * F.lit(0.1)).alias("lon"),
        ((F.col("l_suppkey") % 100) * F.lit(0.1)).alias("lat"),
    )
    return pts.groupBy("grp").agg(
        F.expr("bit_xor(l_partkey)").alias("xor_id"),
        F.round(F.max("lon"), 6).alias("e"),
        F.round(F.max("lat"), 6).alias("n"),
        F.round(F.min("lat"), 6).alias("s"),
        F.round(F.min("lon"), 6).alias("w"),
        F.round(
            F.sqrt(
                F.pow(F.max("lon") - F.min("lon"), 2)
                + F.pow(F.max("lat") - F.min("lat"), 2)
            ),
            6,
        ).alias("bbox_diag"),
    )


def q_a7_line_centroid(spark, sf_dir):
    """A7: length-weighted linestring centroid per order (the engine's
    geometry kernel vs a pure-SQL window mirror)."""
    import numpy as np
    import pandas as pd

    from osm_pbf2json_spark.functions.geometry import line_centroid

    pts = _points(spark, sf_dir).withColumn("grp", (F.col("point_id") / 10).cast("long"))
    eligible = (
        pts.groupBy("grp")
        .agg(F.count_distinct("lon", "lat").alias("ndp"))
        .filter(F.col("ndp") >= 2)
        .select("grp")
    )
    def cent(pdf: pd.DataFrame) -> pd.DataFrame:
        # duplicate point_ids exist (duplicate line numbers in the synth
        # data): sort by the full tuple so the order is a total order
        pdf = pdf.sort_values(["point_id", "lon", "lat"])
        xy = np.stack(
            [pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64)], axis=1
        )
        c = line_centroid(xy)
        return pd.DataFrame(
            # Epsilon-snap (+1e-9) before the 6dp round, mirrored in the
            # oracle: the synthetic grid is dyadic, so a weighted mean
            # can land EXACTLY on a rounding half-boundary (sf0.1 grp
            # 129470 = 4.3828125) where the engines' ~1e-12 summation-
            # order noise rounds apart. The shift moves every half-
            # boundary value decisively above the boundary on both
            # sides; values must sit within 1e-9 of a boundary minus the
            # shift to misround, and the dyadic grid places them exactly
            # ON boundaries instead.
            [
                {
                    "grp": pdf["grp"].iloc[0],
                    "cx": round(c[0] + 1e-9, 6),
                    "cy": round(c[1] + 1e-9, 6),
                }
            ]
        )

    return (
        pts.join(eligible, "grp", "left_semi")
        .groupBy("grp")
        .applyInPandas(cent, "grp long, cx double, cy double")
    )


def q_j5_pip_join(spark, sf_dir):
    """J5 flagship: broadcast point-in-polygon join."""
    pts = _points(spark, sf_dir)
    rows = [
        {"key": "A", "polygons": [[POLY_A + POLY_A[:1]]]},
        {"key": "B", "polygons": [[POLY_B + POLY_B[:1]]]},
    ]
    return spatial.pip_join_broadcast(pts, rows, out_col="polygon_key").select(
        "point_id", "polygon_key"
    )


def q_j5b_pip_cells(spark, sf_dir):
    """J5 large×large fallback: covering-cell equi-join (no broadcast of
    the polygon side) + per-polygon vectorized exact refine."""
    pts = _points(spark, sf_dir)
    polys = spark.createDataFrame(
        [
            ("A", [[[{"lon": x, "lat": y} for x, y in POLY_A + POLY_A[:1]]]]),
            ("B", [[[{"lon": x, "lat": y} for x, y in POLY_B + POLY_B[:1]]]]),
        ],
        "key string, polygons array<array<array<struct<lon:double,lat:double>>>>",
    )
    out = spatial.pip_join_cells(pts, polys, level=10)
    return out.select("point_id", F.col("key").alias("polygon_key"))


def q_j6_bbox_self_join(spark, sf_dir):
    """J6: padded-bbox self-join (pure Catalyst cell bucketing)."""
    orders = _t(spark, sf_dir, "orders")
    boxes = orders.select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 100) * F.lit(0.1)).alias("x0"),
        ((F.col("o_custkey") % 100) * F.lit(0.1)).alias("y0"),
        (
            (F.col("o_orderkey") % 100) * F.lit(0.1)
            + F.lit(0.03)
            + (F.col("o_orderkey") % 7) * F.lit(0.01)
        ).alias("x1"),
        (
            (F.col("o_custkey") % 100) * F.lit(0.1)
            + F.lit(0.03)
            + (F.col("o_custkey") % 5) * F.lit(0.01)
        ).alias("y1"),
    )
    # cell ≈ 2× box size: fewest duplicate candidates for this box mix
    return spatial.bbox_self_join(boxes, pad=0.002, cell=0.25)


def q_tile_assign(spark, sf_dir):
    """Raster↔vector: planar-grid tile id per point (SQL-mirrorable grid;
    the hex/Hilbert variants are covered rows-only + in pytest).
    r5: consolidated into tile_histogram's driver row — the per-tile
    count/min/max/sum digest pins every point's assignment, freeing a
    registry slot for streets_split_e2e."""
    pts = _points(spark, sf_dir)
    s = 0.5
    return pts.select(
        "point_id",
        (
            F.floor((F.col("lon") + 180.0) / s)
            + F.floor((F.col("lat") + 90.0) / s) * F.lit(720)
        ).cast("long").alias("tile"),
    )


def q_tile_histogram(spark, sf_dir):
    """Tile → contained-geometry rollup (the inverse direction). The
    digest also pins tile_assign (consolidated r5): count + min + max +
    sum of point ids per tile — any single misassigned point perturbs
    two tiles' sums."""
    return (
        q_tile_assign(spark, sf_dir)
        .groupBy("tile")
        .agg(
            F.count("*").alias("n"),
            F.min("point_id").alias("min_id"),
            F.max("point_id").alias("max_id"),
            F.sum("point_id").alias("sum_id"),
        )
    )


def q_knn(spark, sf_dir):
    """kNN via k-ring expansion + window top-k (exact in planar degrees)."""
    pts = _points(spark, sf_dir).withColumnRenamed("point_id", "id")
    out = spatial.knn_join(pts, KNN_QUERIES, k=7, res=6)
    return out.select("qid", "neighbor_id", "rank")


def q_window_topk(spark, sf_dir):
    """Window top-k per group (graft-side window op)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def q_agg_pricing(spark, sf_dir):
    """TPC-H Q1-style scan/filter/group/agg (baseline engine shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_group_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont` semantics: linear interpolation on the sorted
    values)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25_qty"),
    )


def q_events_window(spark, sf_dir):
    """Event-stream batch analytics: per-user session summary."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    last = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value")
    )
    return agg.join(
        last.select("user_id", F.col("event_type").alias("last_event_type")), "user_id"
    )


def q_interval_join(spark, sf_dir):
    """Banded 1D range join: per-supplier overlapping shipment intervals
    (start = epoch-day of l_shipdate, deterministic width 1..14 days),
    reference-point deduped — the temporal twin of J6."""
    from osm_pbf2json_spark.operators.ranges import interval_overlap_join

    li = _t(spark, sf_dir, "lineitem")
    iv = li.select(
        F.col("l_suppkey").alias("k"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias("s"),
        (
            F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date"))
            + (F.col("l_partkey") % 14)
            + 1
        ).alias("e"),
    )
    return interval_overlap_join(iv, "k", "id", "s", "e", bin_size=16)


def q_asof_join(spark, sf_dir):
    """Backward as-of join: every non-purchase event gets the user's most
    recent prior purchase value (one window over the tagged union — no
    range-join explosion). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from osm_pbf2json_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(left, right, ts_col="ts", by_cols=("user_id",), value_cols=("value",))
    return out.select(
        "event_id", "user_id", F.round("asof_value", 6).alias("last_purchase_value")
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups over normalized text."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("survivor_id", "n_dups")


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard similarity pairs (exact, shared-shingle join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.35, n=3).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_clusters(spark, sf_dir):
    """Connected components over near-dup pairs (iterative hash-to-min
    label propagation) — cluster_id = component min id. Oracle: DuckDB
    recursive-CTE transitive closure over the same pair set."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.35, n=3).select("a", "b")
    return dedup.dedup_clusters(pairs)


def q_text_metrics(spark, sf_dir):
    """Text-analysis suite consolidated (r4): token counts, normalized
    length, stopword-vote language id, quality score, and Gopher-style
    repetition stats — all pure Column expressions over ONE scan of
    documents (no Python in the plan). Replaces the r3 micro-queries
    text_stats / lang_id / quality_score / repetition."""
    from osm_pbf2json_spark.functions.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    s = repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        regex_token_count(F.col("text")).alias("n_rtokens"),
        F.length(normalize(F.col("text"))).alias("n_norm_chars"),
        lang_id(F.col("text")).alias("lang_pred"),
        F.round(quality_score(F.col("text")), 6).alias("q"),
        s["n_words"].alias("n_words"),
        F.round(s["dup_word_frac"], 6).alias("dup_word_frac"),
        F.round(s["top_bigram_frac"], 6).alias("top_bigram_frac"),
    )


def q_tfidf_topk(spark, sf_dir):
    """Per-doc top-5 tf-idf terms (two map-side-combined aggs + broadcast
    corpus size + window top-k, all Catalyst)."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.tfidf_top_terms(docs, k=5)


def q_source_stats(spark, sf_dir):
    """Per-source corpus triage: volume, exact-dup rate, token mass."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.source_stats(docs)


def _messy_urls(spark, sf_dir, path_mod: int | None = None):
    """Deterministic messy-URL table from orders: mixed-case schemes and
    hosts, default/explicit ports, tracking params, unsorted query
    params, fragments, multi-label public suffixes. `path_mod` collapses
    paths onto o_orderkey % path_mod to create canonical-URL dups."""
    o = _t(spark, sf_dir, "orders")
    ki = (F.col("o_orderkey") % 3 + 1).cast("int")
    cj = (F.col("o_custkey") % 3 + 1).cast("int")
    pathkey = (
        (F.col("o_orderkey") % path_mod) if path_mod else F.col("o_orderkey")
    ).cast("string")
    url = F.concat(
        F.element_at(F.array(F.lit("HTTP"), F.lit("https"), F.lit("http")), ki),
        F.lit("://"),
        F.element_at(F.array(F.lit("WWW.Shop"), F.lit("media"), F.lit("News")), cj),
        (F.col("o_custkey") % 50).cast("string"),
        F.element_at(
            F.array(F.lit(".Example.CO.UK"), F.lit(".example.com"), F.lit(".Example.org")),
            ki,
        ),
        F.element_at(F.array(F.lit(":80"), F.lit(""), F.lit(":8080")), ki),
        F.lit("/items/"),
        pathkey,
        F.element_at(
            F.array(F.lit("?utm_source=feed&b=2&a=1"), F.lit("?a=1"), F.lit("")), cj
        ),
        F.element_at(F.array(F.lit("#frag"), F.lit(""), F.lit("")), ki),
    )
    return o.select(F.col("o_orderkey").alias("id"), url.alias("url"))


def q_url_metrics(spark, sf_dir):
    """URL suite consolidated (r4): canonicalization + eTLD+1 per row
    AND exact canonical-URL dedup (survivor id + dup count on every
    member) over the messy-URL table with paths collapsed mod 1000 so
    real dup groups exist. Replaces the r3 pair url_canonical /
    url_dedup. The dedup rule (min-id survivor + count per canonical
    form) runs as a WINDOW over the canonical column: the regex-heavy
    canonicalization is computed ONCE and one shuffle by curl replaces
    the self-join that recomputed it on both branches (8.5s → ~1s at
    sf0.1)."""
    from osm_pbf2json_spark.functions.urls import (
        canonicalize_url,
        registered_domain,
        url_host,
    )

    d = _messy_urls(spark, sf_dir, path_mod=1000)
    c = d.select(
        "id",
        canonicalize_url(F.col("url")).alias("canonical_url"),
        registered_domain(url_host(F.col("url"))).alias("domain"),
    )
    w = Window.partitionBy("canonical_url")
    return c.select(
        "id",
        "canonical_url",
        "domain",
        F.min("id").over(w).alias("survivor_id"),
        F.count("*").over(w).alias("n_dups"),
    )


def q_contamination(spark, sf_dir):
    """Decontamination: distinct eval 5-gram hits per train doc (eval =
    every 50th doc, so hits are guaranteed and near-dups surface too);
    eval gram set broadcast, train side never shuffled by gram."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    return dedup.contamination_hits(docs, ev, n=5).select("id", "n_hits")


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the corpus itself (query = vec 0)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = ann.cosine_topk_bruteforce(emb, [(0, [float(x) for x in qv])], k=10)
    return out.select("neighbor_id", "rank")


def q_emb_norms(spark, sf_dir):
    """Vector math on array<float> via zip_with/aggregate (JVM-side)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda s, z: s + z)
    return emb.select("vec_id", F.round(F.sqrt(dot), 6).alias("l2_norm"))


def q_j2_relation_resolve(spark, sf_dir):
    """J2 (mod.rs:49-75): recursive relation resolution over a synthetic
    3-level relation forest + a 2-cycle, derived deterministically from
    orders/customer. The engine runs the real member recursion with
    per-level convex hulls and the cycle guard; the digest is the
    SQL-mirrorable part — per-relation bbox of the resolved coords (a
    convex hull preserves coordinate extremes, so a traversal error or a
    broken cycle guard shifts the bbox or drops rows)."""
    from osm_pbf2json_spark.operators.resolve import (
        resolve_relation_coords,
        resolve_way_coords,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nodes = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") % 97) * F.lit(0.1)).alias("lon"),
        ((F.col("c_custkey") % 89) * F.lit(0.1)).alias("lat"),
    )
    ways = orders.select(
        (F.col("o_orderkey") + F.lit(1000000)).alias("id"),
        F.array(
            F.col("o_custkey"),
            (F.col("o_custkey") % 100) + 1,
            ((F.col("o_custkey") * 7) % 100) + 1,
        ).alias("refs"),
    )
    way_coords = resolve_way_coords(ways, nodes)
    # level 1: ways grouped by o_custkey % 200
    rel1 = (
        orders.groupBy((F.col("o_custkey") % 200).alias("g"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda ok: F.struct(
                    F.lit("way").alias("mtype"), (ok + 1000000).alias("mid")
                ),
            ).alias("members")
        )
        .select((F.col("g") + 2000000).alias("id"), "members")
    )
    # level 2: level-1 relations grouped by g % 20, plus one node member
    rel2 = (
        rel1.groupBy(((F.col("id") - 2000000) % 20).alias("h"))
        .agg(F.array_sort(F.collect_list("id")).alias("kids"))
        .select(
            (F.col("h") + 3000000).alias("id"),
            F.concat(
                F.transform(
                    "kids",
                    lambda kid: F.struct(
                        F.lit("relation").alias("mtype"), kid.alias("mid")
                    ),
                ),
                F.array(
                    F.struct(
                        F.lit("node").alias("mtype"),
                        (F.col("h") + 1).cast("long").alias("mid"),
                    )
                ),
            ).alias("members"),
        )
    )
    cyc = spark.createDataFrame(
        [
            (4000001, [("relation", 4000002), ("node", 1)]),
            (4000002, [("relation", 4000001), ("node", 2)]),
        ],
        "id long, members array<struct<mtype string, mid long>>",
    )
    rels = rel1.unionByName(rel2).unionByName(cyc)
    out = resolve_relation_coords(rels, way_coords, nodes)
    return out.select(
        "id",
        F.round(F.array_min(F.transform("coords", lambda c: c["lon"])), 6).alias("w"),
        F.round(F.array_min(F.transform("coords", lambda c: c["lat"])), 6).alias("s"),
        F.round(F.array_max(F.transform("coords", lambda c: c["lon"])), 6).alias("e"),
        F.round(F.array_max(F.transform("coords", lambda c: c["lat"])), 6).alias("n"),
    )


def q_boundaries_e2e(spark, sf_dir):
    """boundaries() end-to-end (F6→S2→A10→C2) at generator scale: ~300
    synthetic square admin relations (4 member ways each, one reversed so
    ring stitching must handle direction) assembled into multipolygons.
    Digest = the SQL-mirrorable surface: name/level/bbox/polygon-count —
    a failed stitch drops the row, a bad assembly shifts the bbox."""
    from osm_pbf2json_spark.operators.boundaries import boundaries
    from osm_pbf2json_spark.operators.closure import EntityTables

    orders = _t(spark, sf_dir, "orders")
    bids = orders.select((F.col("o_custkey") % 300).alias("bid")).distinct()
    x0 = (F.col("bid") % 50).cast("double")
    y0 = F.floor(F.col("bid") / 50).cast("double")

    corners = bids.select("bid", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"))
    nodes = corners.select(
        (F.lit(5000000) + F.col("bid") * 4 + F.col("c")).alias("id"),
        (F.floor(F.col("bid") / 50).cast("double")
         + F.when(F.col("c").isin(2, 3), F.lit(0.9)).otherwise(F.lit(0.0))).alias("lat"),
        ((F.col("bid") % 50).cast("double")
         + F.when(F.col("c").isin(1, 2), F.lit(0.9)).otherwise(F.lit(0.0))).alias("lon"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )

    edges = bids.select("bid", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("e"))

    def node_id(corner):
        return F.lit(5000000) + F.col("bid") * 4 + corner

    fwd = F.array(node_id(F.col("e")), node_id((F.col("e") + 1) % 4))
    rev = F.array(node_id((F.col("e") + 1) % 4), node_id(F.col("e")))
    ways = edges.select(
        (F.lit(6000000) + F.col("bid") * 4 + F.col("e")).alias("id"),
        F.when(F.col("e") == 2, rev).otherwise(fwd).alias("refs"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )

    rels = bids.select(
        (F.lit(7000000) + F.col("bid")).alias("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda e: F.struct(
                F.lit("way").alias("mtype"),
                (F.lit(6000000) + F.col("bid") * 4 + e).cast("bigint").alias("mid"),
                F.lit("outer").alias("role"),
            ),
        ).alias("members"),
        F.create_map(
            F.lit("boundary"), F.lit("administrative"),
            F.lit("admin_level"), F.lit("8"),
            F.lit("name"),
            F.concat(F.lit("B"), F.lpad(F.col("bid").cast("string"), 3, "0")),
        ).alias("tags"),
    )
    # pin the generator aggregations (same rationale as q_streets_e2e):
    # closure references each entity table several times, and every
    # un-pinned reference re-runs the orders scan + distinct behind
    # `bids` — a real pipeline re-reads parquet instead
    nodes = nodes.localCheckpoint(eager=False)
    ways = ways.localCheckpoint(eager=False)
    rels = rels.localCheckpoint(eager=False)
    out = boundaries(EntityTables(nodes, ways, rels), [8])
    return out.select(
        "relation_id",
        "name",
        "admin_level",
        F.round("sw_lon", 6).alias("sw_lon"),
        F.round("sw_lat", 6).alias("sw_lat"),
        F.round("ne_lon", 6).alias("ne_lon"),
        F.round("ne_lat", 6).alias("ne_lat"),
        F.size("polygons").alias("n_polys"),
    )


# --- rows-only entries (non-SQL-expressible; stronger checks in pytest) -----


def q_hash_split(spark, sf_dir):
    """Deterministic key-hash train/val/test split, md5-portable bucket
    (bit-reproducible in DuckDB → oracle-checked; the xxhash64 fast path
    is pinned separately in pytest)."""
    from osm_pbf2json_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, (0.9, 0.05, 0.05), method="md5").select("doc_id", "split")


def q_pipeline_e2e(spark, sf_dir):
    """The COMPOSED training-data pipeline as one DataFrame program —
    language gate (en) → quality gate (round6 ≥ 0.45, rounded on both
    sides so the filter boundary is engine-independent) → exact dedup
    (min-id survivor per normalized text) → deterministic md5
    train/val/test split. Each stage is oracle-checked on its own
    elsewhere; this query checks their composition end-to-end."""
    from osm_pbf2json_spark.functions.text import normalize, quality_score
    from osm_pbf2json_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    kept = docs.filter(lang_id(F.col("text")) == F.lit("en")).filter(
        F.round(quality_score(F.col("text")), 6) >= 0.45
    )
    surv = (
        kept.withColumn("_n", normalize(F.col("text")))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_n").orderBy("doc_id")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_n", "_rn")
    )
    return hash_split(surv, (0.9, 0.05, 0.05), method="md5").select(
        "doc_id", "split"
    )


def q_streets_e2e(spark, sf_dir):
    """streets() end-to-end (F5→S2→J1→A1-A5) at generator scale: ways from
    orders (refs = their lineitem point nodes, names shared across 50
    groups so clustering must both merge and split components). Rows-only:
    the union-find component structure isn't SQL-expressible; stability
    across runs is pinned in pytest."""
    from osm_pbf2json_spark.operators.closure import EntityTables
    from osm_pbf2json_spark.operators.streets import streets

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # Geometry: each way (order) is a SHORT localized polyline — anchored
    # at a grid cell derived from its orderkey, with per-node offsets from
    # linenumber/partkey — so same-name ways cluster only when anchors
    # coincide (realistic street shapes; a way spanning the whole extent
    # would blow up the union-find grid the way no real street does).
    # Duplicate (orderkey, linenumber) pairs exist in the synth data —
    # aggregate to one deterministic coord per node id.
    nodes = (
        li.groupBy((F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"))
        .agg(
            F.min(
                (F.floor(F.col("l_orderkey") / 100) % 100) * F.lit(0.1)
                + (F.col("l_partkey") % 10) * F.lit(0.001)
            ).alias("lat"),
            F.min(
                (F.col("l_orderkey") % 100) * F.lit(0.1)
                + F.col("l_linenumber") * F.lit(0.001)
            ).alias("lon"),
        )
        .withColumn("tags", F.create_map().cast("map<string,string>"))
    )
    refs = li.groupBy(F.col("l_orderkey").alias("id")).agg(
        F.array_sort(
            F.collect_set(F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        ).alias("refs")
    )
    hw_values = ["primary", "secondary", "tertiary", "residential",
                 "service", "living_street", "pedestrian"]
    ways = refs.join(
        orders.select(F.col("o_orderkey").alias("id"), "o_custkey"), "id"
    ).select(
        "id",
        "refs",
        F.create_map(
            F.lit("highway"),
            F.element_at(
                F.array(*[F.lit(v) for v in hw_values]),
                (F.col("id") % 7 + 1).cast("int"),
            ),
            F.lit("name"),
            F.concat(F.lit("Street "), (F.col("o_custkey") % 50).cast("string")),
        ).alias("tags"),
    )
    rels = spark.createDataFrame(
        [], "id long, members array<struct<mtype:string,mid:bigint,role:string>>, "
            "tags map<string,string>"
    )
    # pin the generator aggregations: closure/extract reference nodes and
    # ways several times, and a real pipeline reads them from parquet
    # (cheap re-scan) rather than re-running a groupBy per reference
    nodes = nodes.localCheckpoint(eager=False)
    ways = ways.localCheckpoint(eager=False)
    out = streets(EntityTables(nodes, ways, rels))
    return out.select(
        "id", "name",
        F.round("length", 6).alias("length"),
        F.size("segments").alias("n_segments"),
    )


def q_streets_split_e2e(spark, sf_dir):
    """The composed J3→J7/A9 boundary-split path (streets.rs:56-102) as
    a DRIVER oracle row (VERDICT r4 #6), forced through the DISTRIBUTED
    cell-join split (max_broadcast_boundaries=0 — the 100-TB path; the
    broadcast path is pinned by the Wilhelmstraße goldens and the
    randomized parity test).

    Generator design makes every stage exactly SQL-expressible:
    - streets are SINGLE-NODE ways (SegmentGeometry::new needs only ≥1
      point, streets.rs:119-123), so J4 'segment intersects polygon'
      reduces to the head-point containment branch and J5's line
      centroid degenerates to the point itself;
    - boundaries are 150 axis-aligned square PAIRS sharing a name
      ('B000' twice, …) with a 0.01° gap at x0+{0.445,0.455}, so PIP is
      a strict bbox comparison and the same-name merge (streets.rs:75-78)
      is exercised by clusters chaining across the gap;
    - every 100 consecutive orderkeys form one CHAIN stepping 0.0015°
      in x (≤ the 0.002 pad, streets.rs:14) at constant y — chain span
      0.1485° crosses the intra-pair gap AND the 1.0° cell pitch, so
      chains reach the NEXT pair's differently-named square: true A9
      multi-row splits;
    - all coordinates sit ≥2e-4 off every square edge (x in 1e-4 units
      ≡ 2 mod 5; edge fractions {0, .445, .455, .995, .9} ≡ 0 mod 5),
      so ray-cast vs strict-compare PIP agree exactly;
    - gap/unowned segments exercise the J7 first-candidate fallback in
      (admin_level, name, relation_id) order; streets outside every
      boundary bbox pass through with NULL boundary.

    Digest: per (street, owner-name) group id = XOR of way ids (A3) +
    n_segments; loc/length are pinned by street_attrs + pytest."""
    from osm_pbf2json_spark.operators.closure import EntityTables
    from osm_pbf2json_spark.operators.streets import streets

    orders = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    # 100 consecutive orderkeys = one CHAIN of points stepping 0.0015°
    # in x (≤ the 0.002 pad → one connected component) at constant y;
    # chain span 0.1485° deliberately exceeds both the intra-pair gap
    # (0.445→0.455) and the cell pitch (0.995→1.0), so chains produce
    # gap segments (J7 fallback), same-name two-rid ownership (merge)
    # and cross-cell different-name ownership (true A9 splits). The
    # offset lattice (units of 1.5e-3 + 2e-4) never lands on a square
    # edge fraction {0, .445, .455, .995}: x in 1e-4 units ≡ 2 (mod 5),
    # edges ≡ 0 (mod 5).
    chain = F.floor(ok / 100)
    st_nodes = orders.select(
        ok.alias("id"),
        (
            (chain % 67) * F.lit(0.15)
            + (ok % 100) * F.lit(0.0015) + F.lit(0.0002)
        ).alias("lon"),
        ((chain % 138) * F.lit(0.05) + F.lit(0.0002)).alias("lat"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    hw_values = ["primary", "secondary", "tertiary", "residential",
                 "service", "living_street", "pedestrian"]
    st_ways = orders.select(
        ok.alias("id"),
        F.array(ok).alias("refs"),
        F.create_map(
            F.lit("highway"),
            F.element_at(
                F.array(*[F.lit(v) for v in hw_values]),
                (ok % 7 + 1).cast("int"),
            ),
            F.lit("name"),
            F.concat(F.lit("Street "), (chain % 40).cast("string")),
        ).alias("tags"),
    )

    # 300 boundary relations = 150 same-name square pairs; entity ids
    # offset to 5/6/7M (street way/node ids stay < 5M at driver SFs)
    bids = spark.range(300).select(F.col("id").alias("bid"))
    pair = F.floor(F.col("bid") / 2)

    corners = bids.select(
        "bid", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c")
    )
    b_nodes = corners.select(
        (F.lit(5000000) + F.col("bid") * 4 + F.col("c")).alias("id"),
        (
            F.floor(F.floor(F.col("bid") / 2) / 10).cast("double")
            + F.when(F.col("c").isin(2, 3), F.lit(0.9)).otherwise(F.lit(0.0))
        ).alias("lat"),
        (
            (F.floor(F.col("bid") / 2) % 10).cast("double")
            + F.when(F.col("bid") % 2 == 1, F.lit(0.455)).otherwise(F.lit(0.0))
            + F.when(
                F.col("c").isin(1, 2),
                F.when(F.col("bid") % 2 == 1, F.lit(0.54)).otherwise(F.lit(0.445)),
            ).otherwise(F.lit(0.0))
        ).alias("lon"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    edges = bids.select("bid", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("e"))

    def node_id(corner):
        return F.lit(5000000) + F.col("bid") * 4 + corner

    fwd = F.array(node_id(F.col("e")), node_id((F.col("e") + 1) % 4))
    rev = F.array(node_id((F.col("e") + 1) % 4), node_id(F.col("e")))
    b_ways = edges.select(
        (F.lit(6000000) + F.col("bid") * 4 + F.col("e")).alias("id"),
        F.when(F.col("e") == 2, rev).otherwise(fwd).alias("refs"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    b_rels = bids.select(
        (F.lit(7000000) + F.col("bid")).alias("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda e: F.struct(
                F.lit("way").alias("mtype"),
                (F.lit(6000000) + F.col("bid") * 4 + e).cast("bigint").alias("mid"),
                F.lit("outer").alias("role"),
            ),
        ).alias("members"),
        F.create_map(
            F.lit("boundary"), F.lit("administrative"),
            F.lit("admin_level"), F.lit("8"),
            F.lit("name"),
            F.concat(F.lit("B"), F.lpad(pair.cast("string"), 3, "0")),
        ).alias("tags"),
    )

    nodes = st_nodes.unionByName(b_nodes).localCheckpoint(eager=False)
    ways = st_ways.unionByName(b_ways).localCheckpoint(eager=False)
    out = streets(
        EntityTables(nodes, ways, b_rels), boundary=8, max_broadcast_boundaries=0
    )
    return out.select(
        "id", "name", "boundary", F.size("segments").alias("n_segments")
    )


def q_objects_e2e(spark, sf_dir):
    """objects() end-to-end (F1→S2→F8→J1→A6/A7→O1) at generator scale:
    nodes from customer, open-polyline ways from orders (last ref
    structurally != first, so the shape dispatch always takes the
    line-centroid path — the polygon path has its own geometry goldens),
    filter 'amenity~cafe' matching 1/5 of nodes and 1/3 of ways; ways
    whose +1 ref exceeds the customer range exercise J1's missing-ref
    drop. Oracle mirrors the closure-resolve-centroid-bounds pipeline."""
    from osm_pbf2json_spark.operators.closure import EntityTables
    from osm_pbf2json_spark.operators.objects import objects

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nodes = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") % 97) * F.lit(0.1)).alias("lon"),
        ((F.col("c_custkey") % 89) * F.lit(0.1)).alias("lat"),
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.create_map(F.lit("amenity"), F.lit("cafe")),
        )
        .when(
            F.col("c_custkey") % 5 == 1,
            F.create_map(F.lit("amenity"), F.lit("bench")),
        )
        .otherwise(F.create_map().cast("map<string,string>"))
        .alias("tags"),
    )
    ways = orders.select(
        (F.col("o_orderkey") + 1000000).alias("id"),
        F.array(
            F.col("o_custkey"),
            (F.col("o_custkey") % 100) + 1,
            F.col("o_custkey") + 1,
        ).alias("refs"),
        F.create_map(
            F.lit("amenity"),
            F.element_at(
                F.array(F.lit("cafe"), F.lit("fountain"), F.lit("bench")),
                (F.col("o_orderkey") % 3 + 1).cast("int"),
            ),
        ).alias("tags"),
    )
    rels = spark.createDataFrame(
        [],
        "id long, members array<struct<mtype:string,mid:bigint,role:string>>, "
        "tags map<string,string>",
    )
    out = objects(EntityTables(nodes, ways, rels), "amenity~cafe")
    return out.select(
        "id",
        "type",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        F.round(F.col("centroid.lon"), 6).alias("c_lon"),
        F.round(F.col("centroid.lat"), 6).alias("c_lat"),
        F.round(F.col("bounds.e"), 6).alias("e"),
        F.round(F.col("bounds.n"), 6).alias("n"),
        F.round(F.col("bounds.s"), 6).alias("s"),
        F.round(F.col("bounds.w"), 6).alias("w"),
    )


def q_objects_poly(spark, sf_dir):
    """objects() polygon branch at generator scale: CLOSED ways (refs
    [a,b,c,a]) take the shoelace-centroid path; degenerate zero-area
    rings fall back to the line centroid exactly like geo 0.14 — the
    oracle mirrors both branches."""
    from osm_pbf2json_spark.operators.closure import EntityTables
    from osm_pbf2json_spark.operators.objects import objects

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nodes = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") % 97) * F.lit(0.1)).alias("lon"),
        ((F.col("c_custkey") % 89) * F.lit(0.1)).alias("lat"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    a = F.col("o_custkey")
    b = (F.col("o_custkey") % 100) + 1
    c = ((F.col("o_custkey") * 7) % 100) + 1
    ways = orders.select(
        (F.col("o_orderkey") + 2000000).alias("id"),
        F.array(a, b, c, a).alias("refs"),
        F.create_map(F.lit("amenity"), F.lit("cafe")).alias("tags"),
    )
    rels = spark.createDataFrame(
        [],
        "id long, members array<struct<mtype:string,mid:bigint,role:string>>, "
        "tags map<string,string>",
    )
    out = objects(EntityTables(nodes, ways, rels), "amenity~cafe")
    return out.filter(F.col("type") == "way").select(
        "id",
        F.round(F.col("centroid.lon"), 6).alias("c_lon"),
        F.round(F.col("centroid.lat"), 6).alias("c_lat"),
        F.round(F.col("bounds.e"), 6).alias("e"),
        F.round(F.col("bounds.n"), 6).alias("n"),
        F.round(F.col("bounds.s"), 6).alias("s"),
        F.round(F.col("bounds.w"), 6).alias("w"),
    )


def q_minhash_lsh(spark, sf_dir):
    """Banded minhash-LSH near-dup join with the md5-portable shingle
    hash: given the hashes, signatures and band membership are fully
    deterministic, so the DuckDB mirror reproduces the exact pair set
    (banding false-negatives and all) — a true oracle, not just a
    rows-count check. The xxhash64 fast path is pinned in pytest."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, threshold=0.35, num_perm=64, bands=16, hash="md5"
    ).select("a", "b")


def q_simhash_neardup(spark, sf_dir):
    """Pigeonhole-blocked simhash near-dup join with the md5-portable
    token hash — the block join is exact for the Hamming predicate, so
    the DuckDB all-pairs mirror is a true oracle (the xxhash64 fast path
    is pinned separately in pytest)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(docs, max_hamming=10, hash="md5").select(
        "a", "b", "hamming"
    )


def q_streaming_tiles(spark, sf_dir):
    """Structured Streaming end-to-end, driver-checked: events (with
    deterministic point coords) stream from a parquet source with
    availableNow through streaming_tile_counts (tumbling 1-minute
    windows × hex res-9 tiles) into a memory sink; the returned table is
    compared against a plain SQL mirror (date_trunc + the shared hex
    chain). Complete output mode so tail windows inside the watermark
    horizon are emitted — end-of-stream equals the batch answer."""
    import tempfile
    import uuid

    from osm_pbf2json_spark.streaming.tiles_stream import streaming_tile_counts

    ev = _t(spark, sf_dir, "events").select(
        "ts",
        ((F.col("event_id") % 100) * F.lit(0.1)).alias("lon"),
        ((F.col("user_id") % 100) * F.lit(0.1)).alias("lat"),
    )
    src = tempfile.mkdtemp(prefix="stream_tiles_src_")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("ts timestamp, lon double, lat double").parquet(
        src
    )
    counts = streaming_tile_counts(stream, res=9, window="1 minute")
    name = "stream_tiles_" + uuid.uuid4().hex[:8]
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_tiles_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("window_start", "tile", "n_events")


def q_streaming_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState
    gap-sessionization), driver-checked: events stream from a single
    parquet file (one microbatch → deterministic in-batch ordering);
    CLOSED sessions land in a memory sink and are mirrored by a plain
    islands-and-gaps SQL over the same rows — minus each key's trailing
    session, which stays open in state by design."""
    import tempfile
    import uuid

    from osm_pbf2json_spark.streaming.sessionize import sessionize

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    src = tempfile.mkdtemp(prefix="stream_sess_src_")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("key string, ts_ms long").parquet(src)
    name = "stream_sess_" + uuid.uuid4().hex[:8]
    q = (
        sessionize(stream, gap_ms=600_000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_sess_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("key", "session_start", "session_end", "n_events")


def q_tile_encodes(spark, sf_dir):
    """Hex (res 9, pure-Catalyst codegen encode) AND Hilbert quad
    (level 12, Arrow batch kernel) tile ids per point in one pass —
    consolidated (r4) from the r3 pair hex_tiles / quad_tiles. Both
    encodes ride the same scan; no join, no extra shuffle."""
    pts = _points(spark, sf_dir)
    h = spatial.point_tile(pts, res=9, grid="hex").withColumnRenamed(
        "tile", "hex_tile"
    )
    return spatial.point_tile(h, res=12, grid="quad").select(
        "point_id", "hex_tile", F.col("tile").alias("quad_tile")
    )


def q_kring_pairs(spark, sf_dir):
    """H3-style k-ring neighbor search (north star: "H3 k-ring kNN
    search"): all point pairs whose res-5 hex cells are within 1 ring —
    100% Catalyst (pure-Column cell encode, static offset explode, one
    equi-join; no Python in the plan, gated in pytest). Mirrored by an
    axial-distance range join over the shared hex chain."""
    pts = (
        _points(spark, sf_dir)
        .filter(F.col("point_id") % 16 == 0)  # keep the pair set gate-sized
        .select(F.col("point_id").alias("id"), "lon", "lat")
    )
    return spatial.hex_kring_join(pts, k=1, res=5)


def q_flagship_rollup(spark, sf_dir):
    """THE flagship bench pipeline, oracle-checked: fused broadcast PIP
    (256 disjoint district polygons, first-match, None outside) + hex
    res-9 tile encode + kernel-side partial counts. The oracle recomputes
    ownership from the grid arithmetic and the tile id from the hex
    mirror, then aggregates."""
    pts = _points(spark, sf_dir)
    return spatial.pip_tile_rollup(pts, GRID_POLYGONS, res=9, grid="hex")


def q_tile_pyramid(spark, sf_dir):
    """One-pass multi-resolution tile pyramid (levels 12/10/8) — coarse
    cells via the Hilbert nesting bit-shift, single shuffle."""
    pts = _points(spark, sf_dir)
    return spatial.tile_pyramid(pts, levels=(12, 10, 8))


def q_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = ann.cosine_topk_lsh(emb, [(0, [float(x) for x in qv])], k=5, n_planes=6)
    return out.select("neighbor_id", "rank")


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: coarse-quantizer cells + n_probe scan, exact re-rank."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = ann.cosine_topk_ivf(
        emb, [(0, [float(x) for x in qv])], k=5, n_centroids=8, n_probe=3
    )
    return out.select("neighbor_id", "rank")


def _ivf_fixed_centroids(n: int = 8, dim: int = 64, seed: int = 7):
    """Deterministic unit-norm quantizer for the oracle-checked IVF
    assignment/probe path (training is exercised separately, rows-only,
    in q_ann_ivf)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    c = rng.normal(size=(n, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def q_ivf_assign(spark, sf_dir):
    """IVF assignment + n_probe scan + exact re-rank against a FIXED
    quantizer (the production shape: train once, reuse across query
    batches) — fully oracle-mirrorable argmax assignment."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = ann.cosine_topk_ivf(
        emb,
        [(0, [float(x) for x in qv])],
        k=5,
        n_probe=3,
        centroids=_ivf_fixed_centroids(),
    )
    return out.select("neighbor_id", "rank")


def _pq_fixed_codebooks(m: int = 8, k_codes: int = 16, sub: int = 8, seed: int = 13):
    """Deterministic codebooks for the oracle-checked PQ encode/ADC path
    (training is exercised separately, rows-only, in q_ann_pq)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.normal(size=(m, k_codes, sub))


def q_pq_assign(spark, sf_dir):
    """PQ encode + ADC scoring against FIXED codebooks: per-subspace
    argmin-L2 code assignment mirrored exactly in SQL (first-index
    argmin = row_number tie rule), then the ADC cosine per neighbor over
    a 50-vector slice, ROUNDED to 6dp and order-insensitive — the two
    engines sum the per-subspace partials in different float orders, so
    near-tied score RANKINGS are not portable, but the scores are."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = ann.cosine_topk_pq(
        emb,
        [(0, [float(x) for x in qv])],
        k=50,
        codebooks=_pq_fixed_codebooks(),
    )
    return out.select("neighbor_id", F.round("cosine_hat", 6).alias("adc_cos"))


def _opq_fixed(dim: int = 64, seed: int = 29):
    """Deterministic orthonormal rotation + codebooks for the
    oracle-checked OPQ encode path (training is exercised separately in
    pytest; this pins the rotated-ADC arithmetic)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    q, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    return q, _pq_fixed_codebooks(seed=31)


def q_opq_assign(spark, sf_dir):
    """OPQ-rotated PQ encode + ADC scoring against a FIXED rotation and
    codebooks, with a single zero centroid so IVF is a pass-through
    (every row probed). The SQL mirror folds the rotation into
    back-rotated code vectors u[s,c] = R_sub[s] @ cb[s,c], so
    dot(rot(v)_s, cb[s,c]) = dot(v, u[s,c]) needs no matrix algebra in
    DuckDB. Output is the per-neighbor ADC cosine ROUNDED to 6dp over a
    50-vector corpus slice, order-insensitive — the two engines compute
    the same value through different fp sequences (rotated-query LUT vs
    back-rotated codes), so rank ordering of near-tied scores is not a
    portable quantity, but the scores themselves are."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    R, C = _opq_fixed()
    out = ann.cosine_topk_ivfpq(
        emb,
        [(0, [float(x) for x in qv])],
        k=50,
        n_probe=1,
        residual=False,
        opq=True,
        centroids=np.zeros((1, len(qv))),
        codebooks=C,
        rotation=R,
    )
    return out.select("neighbor_id", F.round("cosine", 6).alias("adc_cos"))


def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ with exact re-rank — the composed 10^9-scale ANN layout;
    rows-only (both quantizers trained at runtime), self-hit + recall
    pinned in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = ann.cosine_topk_ivfpq(
        emb, [(0, [float(x) for x in qv])], k=5, n_probe=4, m=8, k_codes=64,
        rerank=50,
    )
    return out.select("neighbor_id", "rank")


def q_ann_pq(spark, sf_dir):
    """PQ with trained codebooks (driver k-means per subspace) — the
    16-bytes-per-vector ANN scan; rows-only (training is iterative),
    recall pinned in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = ann.cosine_topk_pq(emb, [(0, [float(x) for x in qv])], k=5)
    return out.select("neighbor_id", "rank")


def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash (winnowing) fingerprints — count per doc (pure Catalyst)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(winnowing_fingerprints(F.col("text"))).alias("n_fp")
    )


def q_embedding_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    # synthetic embeddings max out at ~0.51 pairwise cosine; 0.45 exercises
    # the operator with a non-empty result
    return dedup.embedding_neardup_pairs(emb, threshold=0.45, n_planes=4, dim=64).select(
        "a", "b"
    )


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial-join + tile-assignment pipeline at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    pts = _points(spark, sf_dir)
    rows = [
        {"key": "A", "polygons": [[POLY_A + POLY_A[:1]]]},
        {"key": "B", "polygons": [[POLY_B + POLY_B[:1]]]},
    ]
    joined = spatial.pip_join_broadcast(pts, rows, out_col="polygon_key")
    tiled = spatial.point_tile(joined, res=9, grid="hex")
    return tiled.groupBy("polygon_key", "tile").agg(
        F.count("*").alias("n_points"), F.min("point_id").alias("min_point_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is load-bearing: the driver's correctness gate
    records the FIRST 50 entries, so the 50 oracle-bearing queries come
    first (reference-parity e2e pipelines up front) and the 3 rows-only
    trained-ANN variants (runtime k-means — no SQL oracle by design;
    their scale-critical assignment paths ARE hash-checked via
    ivf/pq/opq_assign) sit at positions 51-53. r4 consolidated four
    micro-query groups (a3/a4/a6 → street_attrs, hex/quad_tiles →
    tile_encodes, text_stats/lang_id/quality_score/repetition →
    text_metrics, url_canonical/url_dedup → url_metrics) so every
    SQL-expressible operator has a driver correctness row; r5
    consolidated tile_assign into tile_histogram's strengthened digest
    to free the slot for streets_split_e2e (the composed J3→J7/A9
    split path through the distributed cell join)."""
    return {
        # reference-parity e2e pipelines
        "streets_e2e": q_streets_e2e,
        "streets_split_e2e": q_streets_split_e2e,
        "objects_e2e": q_objects_e2e,
        "boundaries_e2e": q_boundaries_e2e,
        "objects_poly": q_objects_poly,
        "pipeline_e2e": q_pipeline_e2e,
        "flagship_rollup": q_flagship_rollup,
        # SURVEY §2 operator checks
        "f1_filter_dsl": q_f1_filter_dsl,
        "f5_prefilter": q_f5_prefilter,
        "j1_ordered_resolution": q_j1_ordered_resolution,
        "j2_relation_resolve": q_j2_relation_resolve,
        "s2_closure": q_s2_closure,
        "o2_pair_dedup": q_o2_pair_dedup,
        "street_attrs": q_street_attrs,
        "a7_line_centroid": q_a7_line_centroid,
        "j5_pip_join": q_j5_pip_join,
        "j5b_pip_cells": q_j5b_pip_cells,
        "j6_bbox_self_join": q_j6_bbox_self_join,
        # spatial grids / tiles
        "tile_histogram": q_tile_histogram,
        "tile_encodes": q_tile_encodes,
        "tile_pyramid": q_tile_pyramid,
        "kring_pairs": q_kring_pairs,
        "knn": q_knn,
        # ANN (hash-checkable paths)
        "ivf_assign": q_ivf_assign,
        "pq_assign": q_pq_assign,
        "opq_assign": q_opq_assign,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh": q_ann_lsh,
        "emb_norms": q_emb_norms,
        "embedding_neardup": q_embedding_neardup,
        # dedup / decontamination / splits
        "dedup_exact": q_dedup_exact,
        "minhash_lsh": q_minhash_lsh,
        "simhash_neardup": q_simhash_neardup,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "contamination": q_contamination,
        "hash_split": q_hash_split,
        # text / corpus / urls
        "text_metrics": q_text_metrics,
        "winnow_fingerprints": q_winnow_fingerprints,
        "tfidf_topk": q_tfidf_topk,
        "source_stats": q_source_stats,
        "url_metrics": q_url_metrics,
        # relational core
        "window_topk": q_window_topk,
        "agg_pricing": q_agg_pricing,
        "group_quantiles": q_group_quantiles,
        "events_window": q_events_window,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        # streaming (real availableNow micro-batch runs)
        "streaming_tiles": q_streaming_tiles,
        "streaming_sessionize": q_streaming_sessionize,
        # --- positions 51+: rows-only by design (runtime-trained) ---
        "ann_ivf": q_ann_ivf,
        "ann_pq": q_ann_pq,
        "ann_ivfpq": q_ann_ivfpq,
    }


def _stopword_sql_case() -> str:
    """Generate the lang-id argmax as SQL from the same profile table the
    engine uses (ties broken by profile order, matching the Column fold)."""
    from osm_pbf2json_spark.functions.text import _STOPWORDS

    toks = (
        "list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        " x -> x <> ''))"
    )
    score = {
        lang: (
            "len(list_intersect("
            + toks
            + ", ["
            + ",".join("'" + w.replace("'", "''") + "'" for w in ws)
            + "]))"
        )
        for lang, ws in _STOPWORDS.items()
    }
    langs = list(score)
    # mirror the engine's fold: later profiles win only with a strictly
    # greater score
    expr = "'und'"
    best = "-1"
    for lang in reversed(langs):
        expr = f"CASE WHEN {score[lang]} > greatest({best}) THEN '{lang}' ELSE {expr} END"
        best = best + ", " + score[lang]
    return (
        "SELECT doc_id, CASE WHEN greatest("
        + ",".join(score[l] for l in langs)
        + f") > 0 THEN ({expr}) ELSE 'und' END AS lang_pred FROM documents"
    )


def _quality_sql() -> str:
    """Mirror of functions.text.quality_score: same token/char features,
    same arithmetic grouping, rounded to 6 dp on both sides."""
    from osm_pbf2json_spark.functions.text import _STOPWORDS

    sw = ",".join(
        "'" + w.replace("'", "''") + "'" for ws in _STOPWORDS.values() for w in ws
    )
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
    return f"""
        WITH feat AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 len({toks}) AS n_tokens,
                 len(list_filter({toks}, w -> list_contains([{sw}], w))) AS n_stop,
                 length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS n_punct,
                 length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
                 length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
          FROM documents),
        ratio AS (
          SELECT doc_id,
                 least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS length_term,
                 CASE WHEN n_tokens > 0
                      THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_r,
                 CASE WHEN n_chars > 0
                      THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_r,
                 CASE WHEN n_chars > 0
                      THEN CAST(n_upper AS DOUBLE) / n_chars ELSE 0.0 END AS upper_r,
                 CASE WHEN n_chars > 0
                      THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END AS digit_r
          FROM feat)
        SELECT doc_id,
               round((length_term * 0.3 + least(stop_r * 4.0, 1.0) * 0.3)
                     + (greatest(0.0, 1.0 - punct_r * 5.0)
                        + greatest(0.0, 1.0 - upper_r * 3.0)
                        + greatest(0.0, 1.0 - digit_r * 3.0)) / 3.0 * 0.4, 6) AS q
        FROM ratio
    """


def _repetition_sql() -> str:
    """Mirror of functions.text.repetition_stats: duplicate-word
    fraction + top word-bigram fraction (Gopher-style), max_tokens=2048
    cap mirrored with list_slice."""
    return """
        WITH t AS (
          SELECT doc_id,
                 list_slice(list_filter(
                     regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> ''), 1, 2048) AS ws
          FROM documents),
        b AS (
          SELECT doc_id, ws, len(ws) AS n,
                 CASE WHEN len(ws) >= 2
                      THEN list_transform(range(1, len(ws)),
                                          i -> ws[i] || ' ' || ws[i + 1])
                      ELSE [] END AS bg
          FROM t)
        SELECT doc_id,
               CAST(n AS INT) AS n_words,
               round(CASE WHEN n > 0
                          THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / n
                          ELSE 0.0 END, 6) AS dup_word_frac,
               round(CASE WHEN len(bg) > 0
                          THEN CAST(list_max(list_transform(list_distinct(bg),
                                   x -> len(list_filter(bg, y -> y = x))))
                               AS DOUBLE) / len(bg)
                          ELSE 0.0 END, 6) AS top_bigram_frac
        FROM b
    """


def _hex_chain(res: int) -> str:
    """CTE chain mirroring functions.tiles.hex_cell at `res`, from a
    `pts(point_id, lon, lat)` CTE to `hexed(point_id, lon, lat, tile)`:
    axial transform with the EXACT float constants the numpy kernel uses
    (inlined via repr), banker's rounding (round_even ≡ np.round),
    cube-coordinate fix-up, and the same 60/30/30-bit pack with int64
    wraparound."""
    from osm_pbf2json_spark.functions import tiles as T

    size = repr(float(T.hex_size(res)))
    c1 = repr(float(T._SQRT3 / 3.0))
    c2 = repr(2.0 / 3.0)
    off = 1 << 29
    return f"""
        f AS (SELECT point_id, lon, lat,
                     (({c1}) * lon - lat / 3.0) / ({size}) AS qf,
                     (({c2}) * lat) / ({size}) AS rf
              FROM pts),
        r0 AS (SELECT point_id, lon, lat, qf, rf, -qf - rf AS sf,
                      round_even(qf, 0) AS q, round_even(rf, 0) AS r,
                      round_even(-qf - rf, 0) AS s
               FROM f),
        fx AS (SELECT point_id, lon, lat, q, r, s,
                      abs(q - qf) AS dq, abs(r - rf) AS dr, abs(s - sf) AS ds
               FROM r0),
        ax AS (SELECT point_id, lon, lat,
                      CASE WHEN dq > dr AND dq > ds THEN -r - s ELSE q END AS qq,
                      CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds
                           THEN -q - s ELSE r END AS rr
               FROM fx),
        hexed AS (SELECT point_id, lon, lat,
               CAST(({res}::HUGEINT * 1152921504606846976
                     + (CAST(qq AS BIGINT) + {off})::HUGEINT * 1073741824
                     + (CAST(rr AS BIGINT) + {off}))
                    - CASE WHEN {res}::HUGEINT * 1152921504606846976
                                + (CAST(qq AS BIGINT) + {off})::HUGEINT * 1073741824
                                + (CAST(rr AS BIGINT) + {off})
                                >= 9223372036854775808::HUGEINT
                           THEN 18446744073709551616::HUGEINT ELSE 0 END
                    AS BIGINT) AS tile
        FROM ax)
    """


def _streaming_sessionize_sql(gap_ms: int = 600_000) -> str:
    """Mirror of q_streaming_sessionize: classic islands-and-gaps (break
    when ts - prev >= gap, cumulative-sum session ids), emitting every
    session EXCEPT each key's last — the operator keeps the trailing
    session open in state until later data proves the gap."""
    return f"""
        WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS key,
                           epoch_ms(ts) AS ts_ms
                    FROM events),
        o AS (SELECT key, ts_ms,
                     lag(ts_ms) OVER (PARTITION BY key ORDER BY ts_ms) AS prev
              FROM ev),
        m AS (SELECT key, ts_ms,
                     CASE WHEN prev IS NULL OR ts_ms - prev >= {gap_ms}
                          THEN 1 ELSE 0 END AS brk
              FROM o),
        s AS (SELECT key, ts_ms,
                     sum(brk) OVER (PARTITION BY key ORDER BY ts_ms
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM m),
        agg AS (SELECT key, sid,
                       min(ts_ms) AS session_start,
                       max(ts_ms) AS session_end,
                       count(*)::INT AS n_events
                FROM s GROUP BY key, sid)
        SELECT key, session_start, session_end, n_events
        FROM (SELECT *, row_number() OVER (PARTITION BY key
                                           ORDER BY sid DESC) AS rk
              FROM agg) t
        WHERE rk > 1
    """


def _kring_pairs_sql(k: int = 1, res: int = 5) -> str:
    """Mirror of q_kring_pairs: k-ring membership == axial hex distance
    ≤ k, computed from the shared hex chain's axial coords (`ax` CTE)
    with a range join on qq for pruning."""
    return f"""
        WITH pts AS (SELECT * FROM ({_POINTS_SQL}) WHERE point_id % 16 = 0),
        {_hex_chain(res)},
        axial AS (SELECT point_id, CAST(qq AS BIGINT) AS q,
                         CAST(rr AS BIGINT) AS r FROM ax)
        SELECT DISTINCT a.point_id AS a, b.point_id AS b
        FROM axial a JOIN axial b
          ON b.q BETWEEN a.q - {k} AND a.q + {k}
         AND a.point_id < b.point_id
        WHERE abs(a.q - b.q) + abs(a.r - b.r)
              + abs(a.q + a.r - b.q - b.r) <= {2 * k}
    """


def _streaming_tiles_sql(res: int = 9) -> str:
    """Mirror of q_streaming_tiles: the streaming engine's end-of-stream
    complete-mode answer must equal the plain batch aggregation —
    tumbling 1-minute window = date_trunc('minute'), tile from the
    shared hex chain (joined back by event id to recover ts)."""
    return f"""
        WITH ev AS (SELECT event_id, ts,
                           (event_id % 100) * CAST(0.1 AS DOUBLE) AS lon,
                           (user_id % 100) * CAST(0.1 AS DOUBLE) AS lat
                    FROM events),
        pts AS (SELECT event_id AS point_id, lon, lat FROM ev),
        {_hex_chain(res)}
        SELECT date_trunc('minute', e.ts) AS window_start, h.tile,
               count(*) AS n_events
        FROM hexed h JOIN ev e ON e.event_id = h.point_id
        GROUP BY 1, 2
    """


def _flagship_rollup_sql(res: int = 9) -> str:
    """Mirror of q_flagship_rollup: grid-cell ownership recomputed from
    the GRID_POLYGONS arithmetic (gx = floor(lon/0.625); strict interior
    test with the same double constants — no point sits on a boundary by
    construction), hex tile from the shared chain, then the rollup."""
    d = "CAST(0.625 AS DOUBLE)"
    lo = "CAST(0.01 AS DOUBLE)"
    hi = "CAST(0.615 AS DOUBLE)"
    return f"""
        WITH pts AS ({_POINTS_SQL}),
        {_hex_chain(res)},
        g AS (SELECT tile, lon, lat,
                     CAST(floor(lon / {d}) AS INT) AS gx,
                     CAST(floor(lat / {d}) AS INT) AS gy
              FROM hexed),
        own AS (SELECT tile,
                       CASE WHEN gx BETWEEN 0 AND 15 AND gy BETWEEN 0 AND 15
                             AND lon > gx * {d} + {lo} AND lon < gx * {d} + {hi}
                             AND lat > gy * {d} + {lo} AND lat < gy * {d} + {hi}
                            THEN 'P' || lpad(CAST(gx AS VARCHAR), 2, '0')
                                     || lpad(CAST(gy AS VARCHAR), 2, '0')
                            ELSE NULL END AS polygon_key
                FROM g)
        SELECT polygon_key, tile, count(*) AS n_points
        FROM own GROUP BY polygon_key, tile
    """


def _quad_chain(level: int = 12, carry: str = "", src: str = "pts") -> str:
    """Recursive-CTE mirror of functions.tiles.quad_cell at `level` (see
    _tile_encodes_sql), from `{src}(point_id, lon, lat, ...)` to
    `quadded(point_id{carry}, d)` — the raw Hilbert position, pack left
    to the caller. `carry` (e.g. ", tile") threads passthrough columns
    through the recursion — point_id is NOT unique in the synthetic
    data (duplicate line numbers with different coords), so a join-back
    would amplify rows."""
    n = 1 << level
    s0 = 1 << (level - 1)
    return f"""
        cells AS (
          SELECT point_id{carry},
                 least(greatest(CAST(floor(((lon - (-180.0)) / 360.0) * {n}.0)
                                     AS BIGINT), 0), {n - 1}) AS x0,
                 least(greatest(CAST(floor(((lat - (-90.0)) / 180.0) * {n}.0)
                                     AS BIGINT), 0), {n - 1}) AS y0
          FROM {src}),
        h AS (
          SELECT point_id{carry}, x0 AS x, y0 AS y,
                 CAST(0 AS BIGINT) AS d, CAST({s0} AS BIGINT) AS s
          FROM cells
          UNION ALL
          SELECT point_id{carry},
                 CASE WHEN ry = 0
                      THEN (CASE WHEN rx = 1 THEN s - 1 - y ELSE y END)
                      ELSE x END,
                 CASE WHEN ry = 0
                      THEN (CASE WHEN rx = 1 THEN s - 1 - x ELSE x END)
                      ELSE y END,
                 d + s * s * xor(3 * rx, ry),
                 s // 2
          FROM (SELECT point_id{carry}, x, y, d, s,
                       CASE WHEN (x & s) > 0 THEN CAST(1 AS BIGINT)
                            ELSE CAST(0 AS BIGINT) END AS rx,
                       CASE WHEN (y & s) > 0 THEN CAST(1 AS BIGINT)
                            ELSE CAST(0 AS BIGINT) END AS ry
                FROM h WHERE s > 0) t),
        quadded AS (SELECT point_id{carry}, d FROM h WHERE s = 0)
    """


def _tile_encodes_sql(hex_res: int = 9, quad_level: int = 12) -> str:
    """Combined mirror of q_tile_encodes: the hex axial chain and the
    recursive Hilbert quad chain (lon/lat → 2^level grid, truncating
    like .astype(int64), then the classic Hilbert xy→d bit-rotation,
    packed as (level << 58) | d) share the pts CTE (disjoint CTE names)
    and join 1:1 on point_id."""
    return f"""
        WITH RECURSIVE pts AS ({_POINTS_SQL}),
        {_hex_chain(hex_res)},
        {_quad_chain(quad_level, carry=", tile", src="hexed")}
        SELECT point_id, tile AS hex_tile,
               CAST({quad_level << 58} + d AS BIGINT) AS quad_tile
        FROM quadded
    """


def _tile_pyramid_sql(levels=(12, 10, 8)) -> str:
    """Mirror of spatial.tile_pyramid: finest Hilbert position from the
    recursive chain, coarser cells by dropping 2 bits per level step
    (the nesting property), counts per (level, cell)."""
    finest = max(levels)
    sel = "\n          UNION ALL ".join(
        f"SELECT point_id, {l} AS level, "
        f"CAST({l << 58} + (d >> {2 * (finest - l)}) AS BIGINT) AS cell FROM quadded"
        for l in sorted(set(levels), reverse=True)
    )
    return f"""
        WITH RECURSIVE pts AS ({_POINTS_SQL}),
        {_quad_chain(finest)},
        lv AS ({sel})
        SELECT level, cell, count(*) AS n_points
        FROM lv GROUP BY level, cell
    """


def _winnow_sql(k: int = 5, w: int = 4) -> str:
    """Mirror of functions.text.winnowing_fingerprints COUNT per doc: the
    k-gram polynomial hash (base 257 mod 2^61-1) needs no modulus for
    k=5 — codepoints < 2^21, so the 5-term polynomial < 2^56 < 2^61-1 —
    making the DuckDB side a plain BIGINT polynomial over unicode()
    codepoints; window minima via a 4-row sliding min, fingerprint count
    = COUNT(DISTINCT min). Docs shorter than k+w-1 chars collapse to one
    fingerprint (empty normalized text → 0), matching the kernel's
    short-input branches."""
    assert k == 5 and w == 4, "SQL mirror is unrolled for k=5, w=4"
    gram = (
        "((((unicode(substr(t, CAST(i AS INT), 1))::BIGINT * 257"
        " + unicode(substr(t, CAST(i + 1 AS INT), 1))) * 257"
        " + unicode(substr(t, CAST(i + 2 AS INT), 1))) * 257"
        " + unicode(substr(t, CAST(i + 3 AS INT), 1))) * 257"
        " + unicode(substr(t, CAST(i + 4 AS INT), 1)))"
    )
    return f"""
        WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
        nn AS (SELECT doc_id, t, length(t) AS n FROM norm),
        pos AS (SELECT doc_id, t, n, unnest(range(1, CAST(n AS BIGINT) - 3)) AS i
                FROM nn WHERE n >= {k + w}),
        g AS (SELECT doc_id, i, {gram} AS h FROM pos),
        wm AS (SELECT doc_id,
                      min(h) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS m,
                      row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
               FROM g),
        c AS (SELECT doc_id, count(DISTINCT m) AS n_fp
              FROM wm WHERE rn >= {w} GROUP BY doc_id)
        SELECT nn.doc_id,
               CAST(CASE WHEN nn.n = 0 THEN 0
                         WHEN nn.n <= {k + w - 1} THEN 1
                         ELSE c.n_fp END AS INT) AS n_fp
        FROM nn LEFT JOIN c ON nn.doc_id = c.doc_id
    """


def _md5_h64_sql(col: str) -> str:
    """DuckDB mirror of dedup._md5_h64: first 64 bits of md5 as a signed
    int64 (two 32-bit hex parses, explicit two's-complement wraparound).
    Single definition shared by every oracle that mirrors an md5-portable
    hash path — the wrap rule lives in exactly one place."""
    return (
        f"CAST((('0x' || substring(md5({col}), 1, 8))::BIGINT::HUGEINT * 4294967296"
        f" + ('0x' || substring(md5({col}), 9, 8))::BIGINT)"
        f" - CASE WHEN ('0x' || substring(md5({col}), 1, 8))::BIGINT >= 2147483648"
        f"        THEN 18446744073709551616::HUGEINT ELSE 0 END AS BIGINT)"
    )


def _simhash_sql(max_hamming: int = 10) -> str:
    """Mirror of dedup.simhash_neardup_pairs(hash='md5') as an all-pairs
    filter: per-token 64-bit md5 hash (two 32-bit hex parses, int64
    wraparound), 64 per-bit sign-sum votes, two's-complement pack, then
    bit_count(xor) over every id<id pair. Valid as an oracle because the
    engine's pigeonhole blocking has no false negatives."""
    tok = (
        f"SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents"
    )
    h = _md5_h64_sql("w")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    low = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END" for b in range(63)
    )
    return f"""
        WITH tok AS ({tok}),
        th AS (SELECT doc_id, {h} AS h FROM tok),
        votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id),
        sh AS (SELECT doc_id,
                      ({low})
                      + CASE WHEN v63 > 0 THEN -9223372036854775808 ELSE 0 END AS s
               FROM votes)
        SELECT l.doc_id AS a, r.doc_id AS b,
               CAST(bit_count(xor(l.s, r.s)) AS INT) AS hamming
        FROM sh l JOIN sh r ON l.doc_id < r.doc_id
        WHERE bit_count(xor(l.s, r.s)) <= {max_hamming}
    """


def _minhash_sql(
    threshold: float = 0.35,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
) -> str:
    """Mirror of dedup.minhash_lsh_pairs(hash='md5'): word-n-gram
    shingles of normalized text, md5-64 shingle hashes, (a·x+b) mod p
    signatures with the engine's literal PCG64 coefficients, band keys
    as comma-joined signature slices (the engine xxhash64's that string,
    but equality of strings ⟺ equality of band buckets), candidate
    equi-join, exact-Jaccard verify. Reproduces banding false-negatives
    exactly — a full-pipeline oracle."""
    from osm_pbf2json_spark.operators.dedup import _MERSENNE_P, _perm_coeffs

    a, b = _perm_coeffs(num_perm, seed)
    perm_vals = ",".join(f"({i},{int(a[i])},{int(b[i])})" for i in range(num_perm))
    rpb = num_perm // bands
    p = _MERSENNE_P
    h64 = _md5_h64_sql("g")
    return f"""
        WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
        ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        gpos AS (SELECT doc_id, w, unnest(range(1, len(w) - {n - 2})) AS i
                 FROM ws WHERE len(w) >= {n}),
        grams AS (
          SELECT doc_id, array_to_string(list_slice(w, i, i + {n - 1}), ' ') AS g
          FROM gpos
          UNION ALL
          SELECT doc_id, array_to_string(w, ' ') AS g FROM ws WHERE len(w) < {n}),
        sh AS (SELECT DISTINCT doc_id AS id, {h64} AS h FROM grams),
        sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        perm AS (SELECT * FROM (VALUES {perm_vals}) AS p(i, pa, pb)),
        sig AS (SELECT id, p.i AS i,
                       min((p.pa * (abs(h) % {p}) + p.pb) % {p}) AS sv
                FROM sh CROSS JOIN perm p GROUP BY id, p.i),
        bnd AS (SELECT id, i // {rpb} AS band,
                       string_agg(CAST(sv AS VARCHAR), ',' ORDER BY i) AS bh
                FROM sig GROUP BY id, i // {rpb}),
        cand AS (SELECT DISTINCT l.id AS a, r.id AS b
                 FROM bnd l JOIN bnd r
                   ON l.band = r.band AND l.bh = r.bh AND l.id < r.id),
        inter AS (SELECT c.a, c.b, count(*) AS n_inter
                  FROM cand c
                  JOIN sh sa ON sa.id = c.a
                  JOIN sh sb ON sb.id = c.b AND sb.h = sa.h
                  GROUP BY c.a, c.b)
        SELECT i.a, i.b
        FROM inter i
        JOIN sizes za ON za.id = i.a
        JOIN sizes zb ON zb.id = i.b
        WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) >= {threshold}
    """


def _streets_e2e_sql() -> str:
    """Mirror of q_streets_e2e (streets() full pipeline on generator
    tables): way bboxes from the same synthetic node/ref derivation,
    connectivity = padded-bbox overlap (pad 0.002°, streets.rs:14) —
    the engine's grid bucketing is exact w.r.t. this predicate, so a
    plain pairwise join reproduces the edge set — connected components
    via recursive-CTE transitive closure, then per-component XOR id,
    Σ bbox-diag length, and segment count."""
    return """
        WITH RECURSIVE nodes AS (
          -- CAST(... AS DOUBLE): bare 0.1/0.001 literals are DECIMAL in
          -- DuckDB, and exact-decimal bboxes disagree with Spark's
          -- doubles at pads that land exactly on the 0.002 boundary
          -- (166 components of 130k differed at sf0.1 before the cast)
          SELECT l_orderkey * 10 + l_linenumber AS nid,
                 min((CAST(floor(l_orderkey / 100.0) AS BIGINT) % 100) * CAST(0.1 AS DOUBLE)
                     + (l_partkey % 10) * CAST(0.001 AS DOUBLE)) AS lat,
                 min((l_orderkey % 100) * CAST(0.1 AS DOUBLE)
                     + l_linenumber * CAST(0.001 AS DOUBLE)) AS lon
          FROM lineitem GROUP BY l_orderkey * 10 + l_linenumber),
        wn AS (SELECT DISTINCT l_orderkey AS way_id,
                               l_orderkey * 10 + l_linenumber AS nid
               FROM lineitem),
        wb AS (SELECT w.way_id,
                      min(n.lon) AS swx, max(n.lon) AS nex,
                      min(n.lat) AS swy, max(n.lat) AS ney
               FROM wn w JOIN nodes n USING (nid) GROUP BY w.way_id),
        named AS (SELECT wb.*,
                         'Street ' || CAST(o.o_custkey % 50 AS VARCHAR) AS name
                  FROM wb JOIN orders o ON o.o_orderkey = wb.way_id),
        edges_d AS (
          SELECT l.name, l.way_id AS a, r.way_id AS b
          FROM named l JOIN named r
            ON l.name = r.name AND l.way_id <> r.way_id
           AND l.swx - 0.002 <= r.nex AND l.nex + 0.002 >= r.swx
           AND l.swy - 0.002 <= r.ney AND l.ney + 0.002 >= r.swy),
        -- symmetrize: the reference discovers pairs from both endpoints'
        -- padded R-tree queries, and the directional float tests can
        -- disagree exactly at pad boundaries (a+p rounds differently
        -- from b-p); the recursive closure follows stored direction, so
        -- a one-way edge would otherwise split a component
        edges AS (SELECT name, a, b FROM edges_d
                  UNION SELECT name, b AS a, a AS b FROM edges_d),
        reach AS (
          SELECT name, way_id AS src, way_id AS dst FROM named
          UNION
          SELECT r.name, r.src, e.b
          FROM reach r JOIN edges e ON e.name = r.name AND e.a = r.dst),
        comp AS (SELECT name, src AS way_id, min(dst) AS cid
                 FROM reach GROUP BY name, src)
        SELECT bit_xor(c.way_id) AS id, c.name,
               round(sum(sqrt(pow(b.nex - b.swx, 2)
                            + pow(b.ney - b.swy, 2))), 6) AS length,
               CAST(count(*) AS INT) AS n_segments
        FROM comp c JOIN wb b USING (way_id)
        GROUP BY c.name, c.cid
    """


def _streets_split_e2e_sql() -> str:
    """Mirror of q_streets_split_e2e (distributed J3→J7/A9 split).

    Single-node ways + axis-aligned square boundaries make every stage
    exact SQL: padded-bbox clustering — chains run along x at EXACTLY
    constant y (one double per chain) and cross-name/cross-y links are
    impossible (Δy ≥ 0.05 ≫ pad), so transitive connectivity within a
    (name, y) group is 1-D and reduces to the consecutive-sorted-gap
    test with the engine's own two directional float clauses OR'd (no
    recursive CTE; an interval argument makes this exact: a gap > pad
    between sorted neighbours cannot be spanned by any edge) → J3
    component-bbox × square-bbox overlap → J4 any
    head-point strictly inside (the only intersect branch single-point
    segments can take) → J5 ownership by containment (squares are
    disjoint, so the first-match scan reduces to the unique container)
    → J7 fallback = first candidate in (name, rid) order (admin_level
    ties) → A3 XOR + segment count per (component, owner-name) group,
    same-name pairs merging; no-candidate components pass through with
    NULL boundary."""
    return """
        WITH RECURSIVE pts AS (
          SELECT o_orderkey AS way_id,
                 (CAST(floor(o_orderkey / 100.0) AS BIGINT) % 67) * CAST(0.15 AS DOUBLE)
                   + (o_orderkey % 100) * CAST(0.0015 AS DOUBLE)
                   + CAST(0.0002 AS DOUBLE) AS x,
                 (CAST(floor(o_orderkey / 100.0) AS BIGINT) % 138) * CAST(0.05 AS DOUBLE)
                   + CAST(0.0002 AS DOUBLE) AS y,
                 'Street '
                   || CAST(CAST(floor(o_orderkey / 100.0) AS BIGINT) % 40 AS VARCHAR)
                   AS name
          FROM orders),
        sq AS (
          SELECT CAST(7000000 + bid AS BIGINT) AS rid,
                 'B' || lpad(CAST(CAST(floor(bid / 2.0) AS BIGINT) AS VARCHAR), 3, '0')
                   AS bname,
                 CAST(CAST(floor(bid / 2.0) AS BIGINT) % 10 AS DOUBLE)
                   + CASE WHEN bid % 2 = 1 THEN CAST(0.455 AS DOUBLE)
                          ELSE CAST(0.0 AS DOUBLE) END AS bx0,
                 CAST(CAST(floor(floor(bid / 2.0) / 10.0) AS BIGINT) AS DOUBLE) AS by0,
                 CASE WHEN bid % 2 = 1 THEN CAST(0.54 AS DOUBLE)
                      ELSE CAST(0.445 AS DOUBLE) END AS w
          FROM range(0, 300) t(bid)),
        sqb AS (SELECT rid, bname, bx0, by0, bx0 + w AS bx1,
                       by0 + CAST(0.9 AS DOUBLE) AS by1
                FROM sq),
        brk AS (
          SELECT way_id, name, x, y,
                 CASE WHEN lag(x) OVER w IS NULL THEN 1
                      WHEN (lag(x) OVER w + CAST(0.002 AS DOUBLE) >= x
                            OR x - CAST(0.002 AS DOUBLE) <= lag(x) OVER w)
                           THEN 0
                      ELSE 1 END AS is_break
          FROM pts
          WINDOW w AS (PARTITION BY name, y ORDER BY x, way_id)),
        segd AS (
          SELECT way_id, name, x, y,
                 sum(is_break) OVER (PARTITION BY name, y ORDER BY x, way_id
                                     ROWS UNBOUNDED PRECEDING) AS seg
          FROM brk),
        comp AS (
          SELECT way_id,
                 min(way_id) OVER (PARTITION BY name, y, seg) AS cid
          FROM segd),
        cb AS (SELECT c.cid, min(p.x) AS sx0, max(p.x) AS sx1,
                      min(p.y) AS sy0, max(p.y) AS sy1
               FROM comp c JOIN pts p USING (way_id) GROUP BY c.cid),
        cand AS (
          SELECT cb.cid, s.rid, s.bname, s.bx0, s.bx1, s.by0, s.by1
          FROM cb JOIN sqb s
            ON s.bx0 <= cb.sx1 AND s.bx1 >= cb.sx0
           AND s.by0 <= cb.sy1 AND s.by1 >= cb.sy0
          WHERE EXISTS (
            SELECT 1 FROM comp c2 JOIN pts p2 USING (way_id)
            WHERE c2.cid = cb.cid
              AND p2.x > s.bx0 AND p2.x < s.bx1
              AND p2.y > s.by0 AND p2.y < s.by1)),
        fb AS (SELECT cid, bname AS fb_name
               FROM (SELECT cid, bname,
                            row_number() OVER (PARTITION BY cid
                                               ORDER BY bname, rid) AS rn
                     FROM cand)
               WHERE rn = 1),
        owned AS (
          SELECT c.cid, p.name, c.way_id,
                 coalesce(s.bname, fb.fb_name) AS boundary
          FROM comp c
          JOIN pts p USING (way_id)
          JOIN fb ON fb.cid = c.cid
          LEFT JOIN cand s
            ON s.cid = c.cid
           AND p.x > s.bx0 AND p.x < s.bx1
           AND p.y > s.by0 AND p.y < s.by1)
        SELECT bit_xor(way_id) AS id, name, boundary,
               CAST(count(*) AS INT) AS n_segments
        FROM owned GROUP BY cid, name, boundary
        UNION ALL
        SELECT bit_xor(c.way_id) AS id, p.name,
               CAST(NULL AS VARCHAR) AS boundary,
               CAST(count(*) AS INT) AS n_segments
        FROM comp c JOIN pts p USING (way_id)
        WHERE c.cid NOT IN (SELECT cid FROM fb)
        GROUP BY c.cid, p.name
    """


def _embedding_neardup_sql(
    threshold: float = 0.45, n_planes: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """Mirror of dedup.embedding_neardup_pairs: hyperplane-sign buckets
    against the engine's literal PCG64 planes (float64 dot, matching the
    numpy kernel), bucket equi-join, then exact cosine with the engine's
    arithmetic shape — float32 per-term products (the Spark zip_with on
    array<float> multiplies in float32) accumulated in double."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.normal(size=(n_planes, dim))
    plane_dots = [
        "list_inner_product(CAST(v AS DOUBLE[]), ["
        + ",".join(repr(float(x)) for x in planes[i])
        + "])"
        for i in range(n_planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN {plane_dots[i]} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )

    def fdot(x, y):
        return (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> CAST({x}[i] * {y}[i] AS DOUBLE)))"
        )

    cos = f"{fdot('l.v', 'r.v')} / (sqrt({fdot('l.v', 'l.v')}) * sqrt({fdot('r.v', 'r.v')}))"
    return f"""
        WITH b AS (SELECT vec_id AS id, embedding AS v, {bucket} AS bucket
                   FROM embeddings)
        SELECT DISTINCT l.id AS a, r.id AS b
        FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
        WHERE {cos} >= {threshold}
    """


def _ann_lsh_sql(k: int = 5, n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """Mirror of ann.cosine_topk_lsh for the vec_id=0 query: hyperplane
    buckets against the engine's literal planes, multi-probe = base
    bucket plus every 1-bit flip ⟺ bit_count(xor) ≤ 1, exact cosine
    re-rank over the probed candidates."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.normal(size=(n_planes, dim))

    def bucket(col):
        return " + ".join(
            f"(CASE WHEN list_inner_product({col}, ["
            + ",".join(repr(float(x)) for x in planes[i])
            + f"]) > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )

    return f"""
        WITH b AS (SELECT vec_id AS neighbor_id,
                          CAST(embedding AS DOUBLE[]) AS v,
                          {bucket("CAST(embedding AS DOUBLE[])")} AS bucket
                   FROM embeddings),
        qb AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE neighbor_id = 0),
        cand AS (SELECT b.neighbor_id,
                        list_inner_product(b.v, qb.qv)
                        / (sqrt(list_inner_product(b.v, b.v))
                         * sqrt(list_inner_product(qb.qv, qb.qv))) AS cosine
                 FROM b, qb
                 WHERE bit_count(xor(b.bucket, qb.qbucket)) <= 1)
        SELECT neighbor_id,
               row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS rank
        FROM cand QUALIFY rank <= {k}
    """


def _url_sql(path_mod: int | None = None, mode: str = "metrics") -> str:
    """Mirror of functions.urls canonicalization over the same
    synthesized messy-URL table (_messy_urls): identical split regex,
    port/fragment/tracking rules, param sort, and eTLD+1 logic.
    mode='dedup' → per-canonical-URL survivor rows; mode='metrics'
    (q_url_metrics) → per-id canonical + domain + the dedup aggregate
    joined back onto every member."""
    from osm_pbf2json_spark.functions.urls import (
        MULTI_SUFFIXES,
        TRACKING_PARAM_RE,
        _URL_RE,
    )

    ki = "CAST(o_orderkey % 3 AS INT) + 1"
    cj = "CAST(o_custkey % 3 AS INT) + 1"
    pathexpr = f"o_orderkey % {path_mod}" if path_mod else "o_orderkey"
    suffixes = "[" + ",".join(f"'{s}'" for s in MULTI_SUFFIXES) + "]"
    if mode == "dedup":
        final = (
            "SELECT canonical_url AS curl, min(id) AS survivor_id, "
            "count(*) AS n_dups FROM curl GROUP BY canonical_url"
        )
    else:
        dd_join = (
            """
            JOIN (SELECT canonical_url AS curl, min(id) AS survivor_id,
                         count(*) AS n_dups
                  FROM curl GROUP BY canonical_url) dd
              ON c.canonical_url = dd.curl
            """
            if mode == "metrics"
            else ""
        )
        dd_cols = ", dd.survivor_id, dd.n_dups" if mode == "metrics" else ""
        final = """
        SELECT c.id, c.canonical_url,
               CASE WHEN len(d.ls) <= 2 THEN d.h
                    WHEN list_contains({sfx},
                         d.ls[len(d.ls) - 1] || '.' || d.ls[len(d.ls)])
                    THEN d.ls[len(d.ls) - 2] || '.' || d.ls[len(d.ls) - 1]
                         || '.' || d.ls[len(d.ls)]
                    ELSE d.ls[len(d.ls) - 1] || '.' || d.ls[len(d.ls)] END AS domain
               {dd_cols}
        FROM curl c JOIN (
          SELECT id, h, string_split(h, '.') AS ls
          FROM (SELECT id, regexp_replace(regexp_replace(host0, ':[0-9]+$', ''),
                                          '^www\\.', '') AS h FROM parts)
        ) d USING (id)
        {dd_join}
        """.replace("{sfx}", suffixes).replace("{dd_cols}", dd_cols).replace(
            "{dd_join}", dd_join
        )
    return f"""
        WITH u AS (
          SELECT o_orderkey AS id,
                 ['HTTP','https','http'][{ki}] || '://'
                 || ['WWW.Shop','media','News'][{cj}]
                 || CAST(o_custkey % 50 AS VARCHAR)
                 || ['.Example.CO.UK','.example.com','.Example.org'][{ki}]
                 || [':80','',':8080'][{ki}]
                 || '/items/' || CAST({pathexpr} AS VARCHAR)
                 || ['?utm_source=feed&b=2&a=1','?a=1',''][{cj}]
                 || ['#frag','',''][{ki}] AS url
          FROM orders),
        parts AS (
          SELECT id, url,
                 lower(regexp_extract(url, '{_URL_RE}', 1)) AS scheme,
                 lower(regexp_extract(url, '{_URL_RE}', 2)) AS host0,
                 regexp_extract(url, '{_URL_RE}', 3) AS path0,
                 -- DuckDB yields NULL (not '') for a non-participating
                 -- optional group; Spark yields '' — align with coalesce
                 coalesce(regexp_extract(url, '{_URL_RE}', 4), '') AS rawq
          FROM u),
        canon AS (
          SELECT id,
                 url,
                 scheme,
                 CASE WHEN scheme = 'http' AND host0 LIKE '%:80'
                      THEN substr(host0, 1, length(host0) - 3)
                      WHEN scheme = 'https' AND host0 LIKE '%:443'
                      THEN substr(host0, 1, length(host0) - 4)
                      ELSE host0 END AS host,
                 CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                 -- array_to_string of an empty list is NULL in DuckDB
                 -- (Spark array_join gives '') — align with coalesce
                 coalesce(array_to_string(list_sort(list_filter(
                     string_split(regexp_replace(rawq, '^\\?', ''), '&'),
                     p -> p <> '' AND NOT regexp_matches(lower(p), '{TRACKING_PARAM_RE}'))),
                   '&'), '') AS q
          FROM parts),
        curl AS (
          -- non-matching URLs pass through unchanged (engine rule)
          SELECT id,
                 CASE WHEN scheme = '' THEN url
                      ELSE scheme || '://' || host || path
                           || CASE WHEN q = '' THEN '' ELSE '?' || q END
                 END AS canonical_url
          FROM canon)
        {final}
    """


def _ivf_assign_sql(k: int = 5, n_probe: int = 3) -> str:
    """Mirror of q_ivf_assign: per-vector argmax cell over the fixed
    unit-norm centroids (first-index-wins tie rule = np.argmax), probe
    cells = top n_probe by query dot (desc, index asc), exact cosine
    re-rank over the probed cells."""
    C = _ivf_fixed_centroids()
    n = len(C)
    lits = [
        "[" + ",".join(repr(float(x)) for x in C[i]) + "]" for i in range(n)
    ]
    dots = ", ".join(
        f"list_inner_product(u, {lits[i]}) AS d{i}" for i in range(n)
    )
    argmax = ""
    for i in range(n - 1):
        rest = ",".join(f"d{j}" for j in range(i + 1, n))
        argmax += f"WHEN d{i} >= greatest({rest}) THEN {i} "
    cell_case = f"CASE {argmax}ELSE {n - 1} END"
    qsort = "CASE c.cell " + " ".join(
        f"WHEN {i} THEN q.d{i}" for i in range(n)
    ) + " END"
    cells_values = ",".join(f"({i})" for i in range(n))
    return f"""
        WITH b AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        nv AS (SELECT nid, v,
                      list_transform(v, x -> x /
                          (sqrt(list_inner_product(v, v)) + 1e-12)) AS u
               FROM b),
        d AS (SELECT nid, v, {dots} FROM nv),
        cl AS (SELECT nid, v, {cell_case} AS cell FROM d),
        q AS (SELECT * FROM d WHERE nid = 0),
        pc AS (SELECT c.cell
               FROM (VALUES {cells_values}) AS c(cell), q
               ORDER BY {qsort} DESC, c.cell
               LIMIT {n_probe}),
        s AS (SELECT cl.nid AS neighbor_id,
                     list_inner_product(cl.v, q.v)
                     / (sqrt(list_inner_product(cl.v, cl.v))
                      * sqrt(list_inner_product(q.v, q.v))) AS cosine
              FROM cl JOIN pc USING (cell) CROSS JOIN q)
        SELECT neighbor_id,
               row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS rank
        FROM s QUALIFY rank <= {k}
    """


def _pq_assign_sql() -> str:
    """Mirror of q_pq_assign: per-(vector, subspace) code = argmin L2 to
    the fixed codebooks — ranked by (|c|² − 2·v_sub·c), the argmin
    -equivalent form, with the np.argmin first-index tie rule as
    row_number ORDER BY dist, code — then the ADC cosine
    Σ dot(q_s, cb[s,code]) / (|q|·sqrt(Σ|cb[s,code]|²) + 1e-12)."""
    C = _pq_fixed_codebooks()
    m, kc, sub = C.shape
    vals = []
    for s in range(m):
        for c in range(kc):
            vec = "[" + ",".join(repr(float(x)) for x in C[s, c]) + "]"
            n2 = repr(float((C[s, c] ** 2).sum()))
            vals.append(f"({s},{c},{vec}::DOUBLE[],{n2})")
    cb_values = ",".join(vals)
    return f"""
        WITH b AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 50),
        cb(s, c, vec, n2) AS (VALUES {cb_values}),
        q AS (SELECT v AS qv, sqrt(list_inner_product(v, v)) AS qn
              FROM b WHERE nid = 0),
        d AS (SELECT b.nid, cb.s, cb.c, cb.n2,
                     list_inner_product(
                         list_slice(b.v, cb.s * {sub} + 1, cb.s * {sub} + {sub}),
                         cb.vec) AS dt
              FROM b CROSS JOIN cb),
        sel AS (SELECT nid, s, c FROM (
                  SELECT nid, s, c,
                         row_number() OVER (PARTITION BY nid, s
                                            ORDER BY n2 - 2 * dt ASC, c ASC) AS rk
                  FROM d) t WHERE rk = 1),
        qd AS (SELECT cb.s, cb.c, cb.n2,
                      list_inner_product(
                          list_slice(q.qv, cb.s * {sub} + 1, cb.s * {sub} + {sub}),
                          cb.vec) AS qdt
               FROM cb CROSS JOIN q),
        sc AS (SELECT sel.nid, sum(qd.qdt) AS num, sum(qd.n2) AS vn2
               FROM sel JOIN qd ON qd.s = sel.s AND qd.c = sel.c
               GROUP BY sel.nid)
        SELECT nid AS neighbor_id,
               round(num / (q.qn * sqrt(vn2) + 1e-12), 6) AS adc_cos
        FROM sc CROSS JOIN q
    """


def _opq_assign_sql() -> str:
    """Mirror of q_opq_assign. Rotation folded into literals: with
    rotated vectors v·R, the per-subspace dot (v·R)_s · cb[s,c] equals
    v · (R_s · cb[s,c]) =: v · u[s,c], so the mirror is the pq_assign
    mirror with full-length back-rotated code vectors and |c|² (the
    UNrotated code norm, exactly the arithmetic the Spark kernel uses
    for both argmin and the ADC denominator). Scores rounded to 6dp,
    no ranking — see q_opq_assign."""
    R, C = _opq_fixed()
    m, kc, sub = C.shape
    vals = []
    for s in range(m):
        Rs = R[:, s * sub : (s + 1) * sub]
        for c in range(kc):
            u = Rs @ C[s, c]
            vec = "[" + ",".join(repr(float(x)) for x in u) + "]"
            n2 = repr(float((C[s, c] ** 2).sum()))
            vals.append(f"({s},{c},{vec}::DOUBLE[],{n2})")
    cb_values = ",".join(vals)
    return f"""
        WITH b AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 50),
        cb(s, c, vec, n2) AS (VALUES {cb_values}),
        q AS (SELECT v AS qv, sqrt(list_inner_product(v, v)) AS qn
              FROM b WHERE nid = 0),
        d AS (SELECT b.nid, cb.s, cb.c, cb.n2,
                     list_inner_product(b.v, cb.vec) AS dt
              FROM b CROSS JOIN cb),
        sel AS (SELECT nid, s, c FROM (
                  SELECT nid, s, c,
                         row_number() OVER (PARTITION BY nid, s
                                            ORDER BY n2 - 2 * dt ASC, c ASC) AS rk
                  FROM d) t WHERE rk = 1),
        qd AS (SELECT cb.s, cb.c, cb.n2,
                      list_inner_product(q.qv, cb.vec) AS qdt
               FROM cb CROSS JOIN q),
        sc AS (SELECT sel.nid, sum(qd.qdt) AS num, sum(qd.n2) AS vn2
               FROM sel JOIN qd ON qd.s = sel.s AND qd.c = sel.c
               GROUP BY sel.nid)
        SELECT nid AS neighbor_id,
               round(num / (q.qn * sqrt(vn2) + 1e-12), 6) AS adc_cos
        FROM sc CROSS JOIN q
    """


def _hash_split_sql(
    fractions=(0.9, 0.05, 0.05), seed: int = 42, from_clause: str = "documents"
) -> str:
    """Mirror of sampling.hash_split(method='md5'): identical md5 hex
    prefix compared against identical thresholds (generated by the same
    Python expression, so float quirks in `sum(fractions[:i+1])` cancel
    exactly)."""
    h = f"substring(md5(concat_ws('|', CAST(doc_id AS VARCHAR), '{seed}')), 1, 8)"
    expr = str(len(fractions) - 1)
    for i in reversed(range(len(fractions) - 1)):
        thr_int = int(sum(fractions[: i + 1]) * (16**8))
        if thr_int >= 16**8:  # mirror the engine's saturated-boundary rule
            expr = str(i)
        else:
            expr = f"CASE WHEN {h} < '{format(thr_int, '08x')}' THEN {i} ELSE {expr} END"
    return f"SELECT doc_id, CAST({expr} AS INT) AS split FROM {from_clause}"


def _pipeline_e2e_sql() -> str:
    """Mirror of q_pipeline_e2e: the lang-id, quality, normalization and
    md5-split mirrors COMPOSED the same way the Spark pipeline composes
    the operators."""
    return f"""
        WITH lang AS ({_stopword_sql_case()}),
        qual AS ({_quality_sql()}),
        kept AS (
          SELECT d.doc_id, d.text
          FROM documents d
          JOIN lang ON lang.doc_id = d.doc_id AND lang.lang_pred = 'en'
          JOIN qual ON qual.doc_id = d.doc_id AND qual.q >= 0.45
        ),
        surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY {_NORM_SQL})
        {_hash_split_sql((0.9, 0.05, 0.05), from_clause="surv")}
    """


def oracle_sql() -> dict[str, str]:
    in_a = _convex_contains_sql(POLY_A, "lon", "lat")
    in_b = _convex_contains_sql(POLY_B, "lon", "lat")
    knn_q = " UNION ALL ".join(
        f"SELECT {qid} AS qid, {qlon} AS qlon, {qlat} AS qlat"
        for qid, qlon, qlat in KNN_QUERIES
    )
    return {
        "f1_filter_dsl": """
            SELECT p_partkey FROM part
            WHERE (p_brand = 'Brand#11' AND p_type IS NOT NULL)
               OR p_brand = 'Brand#22'
        """,
        "f5_prefilter": """
            SELECT p_partkey, p_brand FROM part
            WHERE p_type IN ('STANDARD','LARGE','PROMO') AND p_size >= 25
        """,
        "j1_ordered_resolution": """
            SELECT l_orderkey,
                   string_agg(CAST(l_partkey AS VARCHAR), ','
                              ORDER BY l_linenumber, l_partkey) AS refs_csv,
                   count(*) AS n_refs
            FROM lineitem GROUP BY l_orderkey
        """,
        "j2_relation_resolve": """
            WITH nodes AS (
              SELECT c_custkey AS id,
                     (c_custkey % 97) * CAST(0.1 AS DOUBLE) AS lon,
                     (c_custkey % 89) * CAST(0.1 AS DOUBLE) AS lat
              FROM customer),
            wayrefs AS (
              SELECT o_custkey % 200 AS g, o_custkey AS ref FROM orders
              UNION ALL SELECT o_custkey % 200, (o_custkey % 100) + 1 FROM orders
              UNION ALL SELECT o_custkey % 200, ((o_custkey * 7) % 100) + 1 FROM orders),
            waypts AS (SELECT w.g, n.lon, n.lat
                       FROM wayrefs w JOIN nodes n ON w.ref = n.id),
            rel1_box AS (
              SELECT 2000000 + g AS id, min(lon) AS w, min(lat) AS s,
                     max(lon) AS e, max(lat) AS n
              FROM waypts GROUP BY g),
            rel2_box AS (
              SELECT id, min(w) AS w, min(s) AS s, max(e) AS e, max(n) AS n
              FROM (
                SELECT 3000000 + ((id - 2000000) % 20) AS id, w, s, e, n
                FROM rel1_box
                UNION ALL
                SELECT 3000000 + hs.h AS id, n2.lon, n2.lat, n2.lon, n2.lat
                FROM (SELECT DISTINCT (id - 2000000) % 20 AS h FROM rel1_box) hs
                JOIN nodes n2 ON n2.id = hs.h + 1
              ) u GROUP BY id),
            cyc AS (
              SELECT 4000001 AS id, lon AS w, lat AS s, lon AS e, lat AS n
              FROM nodes WHERE id = 1
              UNION ALL
              SELECT 4000002, lon, lat, lon, lat FROM nodes WHERE id = 2)
            SELECT id, round(w, 6) AS w, round(s, 6) AS s,
                   round(e, 6) AS e, round(n, 6) AS n
            FROM (SELECT * FROM rel1_box
                  UNION ALL SELECT * FROM rel2_box
                  UNION ALL SELECT * FROM cyc) allrel
        """,
        "boundaries_e2e": """
            WITH bids AS (SELECT DISTINCT o_custkey % 300 AS bid FROM orders)
            SELECT 7000000 + bid AS relation_id,
                   'B' || lpad(CAST(bid AS VARCHAR), 3, '0') AS name,
                   8 AS admin_level,
                   round(CAST(bid % 50 AS DOUBLE), 6) AS sw_lon,
                   round(CAST(bid // 50 AS DOUBLE), 6) AS sw_lat,
                   round(CAST(bid % 50 AS DOUBLE) + CAST(0.9 AS DOUBLE), 6) AS ne_lon,
                   round(CAST(bid // 50 AS DOUBLE) + CAST(0.9 AS DOUBLE), 6) AS ne_lat,
                   1 AS n_polys
            FROM bids
        """,
        "s2_closure": """
            SELECT n.n_name AS n_name, CAST(count(*) AS BIGINT) AS n_customers
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_custkey IN (
                SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
            GROUP BY n.n_name
        """,
        "o2_pair_dedup": """
            SELECT DISTINCT least(l_partkey, l_suppkey) AS a,
                            greatest(l_partkey, l_suppkey) AS b
            FROM lineitem WHERE l_quantity > 45
        """,
        "street_attrs": f"""
            SELECT l_orderkey AS grp, bit_xor(l_partkey) AS xor_id,
                   round(max({_PT_LON}), 6) AS e, round(max({_PT_LAT}), 6) AS n,
                   round(min({_PT_LAT}), 6) AS s, round(min({_PT_LON}), 6) AS w,
                   round(sqrt(pow(max({_PT_LON}) - min({_PT_LON}), 2)
                            + pow(max({_PT_LAT}) - min({_PT_LAT}), 2)), 6) AS bbox_diag
            FROM lineitem GROUP BY l_orderkey
        """,
        "a7_line_centroid": f"""
            WITH pts AS ({_POINTS_SQL}),
            -- NB: // (integer division), not CAST(x/10 AS BIGINT): DuckDB's
            -- double→int cast rounds where Spark's truncates
            g AS (SELECT point_id // 10 AS grp, point_id, lon, lat FROM pts),
            elig AS (SELECT grp FROM (SELECT DISTINCT grp, lon, lat FROM g) t
                     GROUP BY grp HAVING count(*) >= 2),
            seg AS (
              SELECT grp, lon AS x0, lat AS y0,
                     lead(lon) OVER w AS x1, lead(lat) OVER w AS y1
              FROM g WHERE grp IN (SELECT grp FROM elig)
              WINDOW w AS (PARTITION BY grp ORDER BY point_id, lon, lat)
            ),
            segl AS (
              SELECT grp, sqrt(pow(x1 - x0, 2) + pow(y1 - y0, 2)) AS len,
                     (x0 + x1) / 2 AS mx, (y0 + y1) / 2 AS my
              FROM seg WHERE x1 IS NOT NULL
            )
            -- +1e-9 epsilon-snap mirrors the engine kernel: dyadic
            -- half-boundary means round consistently on both engines
            SELECT grp, round(sum(mx * len) / sum(len) + 1e-9, 6) AS cx,
                        round(sum(my * len) / sum(len) + 1e-9, 6) AS cy
            FROM segl GROUP BY grp HAVING sum(len) > 0
        """,
        "j5_pip_join": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT point_id,
                   CASE WHEN {in_a} THEN 'A'
                        WHEN {in_b} THEN 'B'
                        ELSE NULL END AS polygon_key
            FROM pts
        """,
        "j5b_pip_cells": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT point_id, 'A' AS polygon_key FROM pts WHERE {in_a}
            UNION ALL
            SELECT point_id, 'B' AS polygon_key FROM pts WHERE {in_b}
        """,
        "j6_bbox_self_join": """
            WITH boxes AS (
              SELECT o_orderkey AS id,
                     (o_orderkey % 100) * 0.1 AS x0,
                     (o_custkey % 100) * 0.1 AS y0,
                     (o_orderkey % 100) * 0.1 + 0.03 + (o_orderkey % 7) * 0.01 AS x1,
                     (o_custkey % 100) * 0.1 + 0.03 + (o_custkey % 5) * 0.01 AS y1
              FROM orders)
            SELECT l.id AS a, r.id AS b
            FROM boxes l JOIN boxes r ON l.id < r.id
             AND l.x0 - 0.002 <= r.x1 AND l.x1 + 0.002 >= r.x0
             AND l.y0 - 0.002 <= r.y1 AND l.y1 + 0.002 >= r.y0
        """,
        "tile_histogram": f"""
            WITH pts AS ({_POINTS_SQL}),
            t AS (SELECT point_id,
                         CAST(floor((lon + 180.0) / 0.5)
                              + floor((lat + 90.0) / 0.5) * 720 AS BIGINT) AS tile
                  FROM pts)
            SELECT tile, count(*) AS n, min(point_id) AS min_id,
                   max(point_id) AS max_id,
                   CAST(sum(point_id) AS BIGINT) AS sum_id
            FROM t GROUP BY tile
        """,
        "knn": f"""
            WITH pts AS ({_POINTS_SQL}), q AS ({knn_q}),
            d AS (SELECT q.qid, pts.point_id AS neighbor_id,
                         sqrt(pow(pts.lon - q.qlon, 2) + pow(pts.lat - q.qlat, 2)) AS dist
                  FROM pts CROSS JOIN q)
            SELECT qid, neighbor_id,
                   row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rank
            FROM d QUALIFY rank <= 7
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM orders QUALIFY rank <= 3
        """,
        "agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "group_quantiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
                   round(quantile_cont(l_quantity, 0.25), 4) AS q25_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "events_window": """
            WITH agg AS (
              SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS sum_value
              FROM events GROUP BY user_id),
            last AS (
              SELECT user_id, event_type AS last_event_type
              FROM events
              QUALIFY row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) = 1)
            SELECT a.user_id, a.n_events, a.sum_value, l.last_event_type
            FROM agg a JOIN last l ON a.user_id = l.user_id
        """,
        "interval_join": """
            WITH iv AS (
              SELECT l_suppkey AS k,
                     l_orderkey * 10 + l_linenumber AS id,
                     (CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS s,
                     (CAST(l_shipdate AS DATE) - DATE '1970-01-01')
                       + (l_partkey % 14) + 1 AS e
              FROM lineitem)
            SELECT a.k AS k, a.id AS a, b.id AS b
            FROM iv a JOIN iv b
              ON a.k = b.k AND a.id < b.id
             AND a.s <= b.e AND b.s <= a.e
        """,
        "asof_join": """
            WITH r AS (SELECT user_id, ts, value FROM events
                       WHERE event_type = 'purchase'),
            l AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type <> 'purchase')
            SELECT l.event_id, l.user_id,
                   round(r.value, 6) AS last_purchase_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS survivor_id, count(*) AS n_dups
            FROM documents GROUP BY {_NORM_SQL}
        """,
        "ngram_jaccard": f"""
            WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
            w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
            sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ws[i:i+2], ' ') AS s
              FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ni
              FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY l.doc_id, r.doc_id)
            SELECT a, b,
                   round(CAST(ni AS DOUBLE) / (sa.sz + sb.sz - ni), 6) AS jaccard
            FROM inter JOIN sizes sa ON inter.a = sa.doc_id
                       JOIN sizes sb ON inter.b = sb.doc_id
            WHERE CAST(ni AS DOUBLE) / (sa.sz + sb.sz - ni) >= 0.35
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE
            norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
            w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
            sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ws[i:i+2], ' ') AS s
              FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS u(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ni
              FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY l.doc_id, r.doc_id),
            pairs AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON inter.a = sa.doc_id
              JOIN sizes sb ON inter.b = sb.doc_id
              WHERE CAST(ni AS DOUBLE) / (sa.sz + sb.sz - ni) >= 0.35),
            edges AS (SELECT a AS x, b AS y FROM pairs
                      UNION SELECT b, a FROM pairs),
            reach(x, y) AS (
              SELECT x, y FROM edges
              UNION
              SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
            )
            SELECT x AS id, least(x, min(y)) AS cluster_id
            FROM reach GROUP BY x
        """,
        "text_metrics": f"""
            SELECT ts.doc_id, ts.n_tokens, ts.n_rtokens, ts.n_norm_chars,
                   li.lang_pred, qs.q,
                   rep.n_words, rep.dup_word_frac, rep.top_bigram_frac
            FROM (
              SELECT doc_id,
                     len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     x -> x <> '')) AS n_tokens,
                     len(regexp_extract_all(text,
                         '[A-Za-zÀ-ÿ]+|[0-9]+|[^\\sA-Za-zÀ-ÿ0-9]')) AS n_rtokens,
                     length(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS n_norm_chars
              FROM documents
            ) ts
            JOIN ({_stopword_sql_case()}) li USING (doc_id)
            JOIN ({_quality_sql()}) qs USING (doc_id)
            JOIN ({_repetition_sql()}) rep USING (doc_id)
        """,
        "tfidf_topk": f"""
            WITH toks AS (
              SELECT doc_id, term FROM (
                SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
                FROM documents) t
              WHERE term <> ''),
            tf AS (SELECT doc_id AS id, term, count(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            nd AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tf.id, tf.term, tf.tf,
                     tf.tf * (ln(CAST(nd.n_docs + 1 AS DOUBLE)
                                 / CAST(dfq.df + 1 AS DOUBLE)) + 1.0) AS tfidf
              FROM tf JOIN dfq USING (term) CROSS JOIN nd)
            SELECT id, term, tf, round(tfidf, 6) AS tfidf,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY tfidf DESC, term) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "source_stats": f"""
            WITH n AS (SELECT source, lang, {_NORM_SQL} AS norm,
                              len(list_filter(regexp_split_to_array(lower(text),
                                  '\\s+'), x -> x <> '')) AS n_toks
                       FROM documents)
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT norm) AS n_unique,
                   round(CAST(1 AS DOUBLE)
                         - CAST(count(DISTINCT norm) AS DOUBLE) / count(*), 6)
                     AS dup_rate,
                   round(avg(n_toks), 6) AS avg_tokens,
                   count(DISTINCT lang) AS n_langs
            FROM n GROUP BY source
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            s AS (
              SELECT e.vec_id AS neighbor_id,
                     list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[]))
                     / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]),
                                                CAST(q.qv AS DOUBLE[])))) AS cosine
              FROM embeddings e CROSS JOIN q)
            SELECT neighbor_id,
                   row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS rank
            FROM s QUALIFY rank <= 10
        """,
        "emb_norms": """
            SELECT vec_id,
                   round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                 CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
            FROM embeddings
        """,
        "contamination": f"""
            WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
            ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
            gpos AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                     FROM ws WHERE len(w) >= 5),
            grams AS (
              SELECT DISTINCT doc_id,
                     array_to_string(list_slice(w, i, i + 4), ' ') AS g
              FROM gpos
              UNION
              SELECT doc_id, array_to_string(w, ' ') AS g
              FROM ws WHERE len(w) < 5),
            ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
            SELECT grams.doc_id AS id, count(*) AS n_hits
            FROM grams JOIN ev USING (g)
            GROUP BY grams.doc_id
        """,
        "tile_encodes": _tile_encodes_sql(9, 12),
        "kring_pairs": _kring_pairs_sql(1, 5),
        "pipeline_e2e": _pipeline_e2e_sql(),
        "streaming_tiles": _streaming_tiles_sql(9),
        "streaming_sessionize": _streaming_sessionize_sql(),
        "flagship_rollup": _flagship_rollup_sql(9),
        "tile_pyramid": _tile_pyramid_sql((12, 10, 8)),
        "winnow_fingerprints": _winnow_sql(),
        "hash_split": _hash_split_sql(),
        "simhash_neardup": _simhash_sql(10),
        "minhash_lsh": _minhash_sql(0.35, 64, 16),
        "streets_e2e": _streets_e2e_sql(),
        "streets_split_e2e": _streets_split_e2e_sql(),
        "objects_poly": """
            WITH nodes AS (
              SELECT c_custkey AS id,
                     (c_custkey % 97) * CAST(0.1 AS DOUBLE) AS lon,
                     (c_custkey % 89) * CAST(0.1 AS DOUBLE) AS lat
              FROM customer),
            ways AS (
              SELECT o_orderkey + 2000000 AS wid,
                     o_custkey AS r1, (o_custkey % 100) + 1 AS r2,
                     ((o_custkey * 7) % 100) + 1 AS r3, o_custkey AS r4
              FROM orders),
            refs AS (
              SELECT wid, 1 AS pos, r1 AS ref FROM ways
              UNION ALL SELECT wid, 2, r2 FROM ways
              UNION ALL SELECT wid, 3, r3 FROM ways
              UNION ALL SELECT wid, 4, r4 FROM ways),
            rc AS (SELECT r.wid, r.pos, n.lon AS x, n.lat AS y
                   FROM refs r JOIN nodes n ON n.id = r.ref),
            seg AS (
              SELECT wid, x AS x0, y AS y0,
                     lead(x) OVER w AS x1, lead(y) OVER w AS y1
              FROM rc WINDOW w AS (PARTITION BY wid ORDER BY pos)),
            sh AS (
              SELECT wid,
                     sum(x0 * y1 - x1 * y0) AS area2,
                     sum((x0 + x1) * (x0 * y1 - x1 * y0)) AS sx,
                     sum((y0 + y1) * (x0 * y1 - x1 * y0)) AS sy
              FROM seg WHERE x1 IS NOT NULL GROUP BY wid),
            -- geo 0.14 fallback: zero-area ring -> linestring centroid.
            -- NB the exact `area2 = 0` branch matches the engine only
            -- when degenerate rings cancel BITWISE in both engines; the
            -- committed generator data satisfies this (verified green —
            -- collinear synth rings cancel term-by-term) and the parquet
            -- inputs are fixed per scale factor, so the check is
            -- deterministic, not a latent flake.
            lc AS (
              SELECT wid,
                     sum((x0 + x1) / 2 * sqrt(pow(x1 - x0, 2) + pow(y1 - y0, 2)))
                       / sum(sqrt(pow(x1 - x0, 2) + pow(y1 - y0, 2))) AS c_lon,
                     sum((y0 + y1) / 2 * sqrt(pow(x1 - x0, 2) + pow(y1 - y0, 2)))
                       / sum(sqrt(pow(x1 - x0, 2) + pow(y1 - y0, 2))) AS c_lat
              FROM seg WHERE x1 IS NOT NULL GROUP BY wid),
            bb AS (SELECT wid, max(x) AS e, max(y) AS n,
                          min(y) AS s, min(x) AS w
                   FROM rc GROUP BY wid)
            SELECT b.wid AS id,
                   round(CASE WHEN sh.area2 = 0 THEN lc.c_lon
                              ELSE sh.sx / (3.0 * sh.area2) END, 6) AS c_lon,
                   round(CASE WHEN sh.area2 = 0 THEN lc.c_lat
                              ELSE sh.sy / (3.0 * sh.area2) END, 6) AS c_lat,
                   round(b.e, 6) AS e, round(b.n, 6) AS n,
                   round(b.s, 6) AS s, round(b.w, 6) AS w
            FROM bb b JOIN sh USING (wid) JOIN lc USING (wid)
        """,
        "objects_e2e": """
            WITH nodes AS (
              -- CAST(0.1 AS DOUBLE): bare 0.1 is DECIMAL in DuckDB and
              -- would diverge from Spark's double product in the last ulp
              SELECT c_custkey AS id,
                     (c_custkey % 97) * CAST(0.1 AS DOUBLE) AS lon,
                     (c_custkey % 89) * CAST(0.1 AS DOUBLE) AS lat
              FROM customer),
            ways AS (
              SELECT o_orderkey + 1000000 AS wid,
                     o_custkey AS r1, (o_custkey % 100) + 1 AS r2,
                     o_custkey + 1 AS r3
              FROM orders WHERE o_orderkey % 3 = 0),
            refs AS (
              SELECT wid, 1 AS pos, r1 AS ref FROM ways
              UNION ALL SELECT wid, 2, r2 FROM ways
              UNION ALL SELECT wid, 3, r3 FROM ways),
            -- J1: missing refs drop out via the inner join
            rc AS (SELECT r.wid, r.pos, n.lon, n.lat
                   FROM refs r JOIN nodes n ON n.id = r.ref),
            seg AS (
              SELECT wid, lon AS x0, lat AS y0,
                     lead(lon) OVER w AS x1, lead(lat) OVER w AS y1
              FROM rc WINDOW w AS (PARTITION BY wid ORDER BY pos)),
            segl AS (
              SELECT wid, sqrt(pow(x1 - x0, 2) + pow(y1 - y0, 2)) AS len,
                     (x0 + x1) / 2 AS mx, (y0 + y1) / 2 AS my
              FROM seg WHERE x1 IS NOT NULL),
            cent AS (SELECT wid, sum(mx * len) / sum(len) AS c_lon,
                            sum(my * len) / sum(len) AS c_lat
                     FROM segl GROUP BY wid),
            bb AS (SELECT wid, max(lon) AS e, max(lat) AS n,
                          min(lat) AS s, min(lon) AS w
                   FROM rc GROUP BY wid)
            SELECT id, 'node' AS type, round(lon, 6) AS lon,
                   round(lat, 6) AS lat,
                   CAST(NULL AS DOUBLE) AS c_lon, CAST(NULL AS DOUBLE) AS c_lat,
                   CAST(NULL AS DOUBLE) AS e, CAST(NULL AS DOUBLE) AS n,
                   CAST(NULL AS DOUBLE) AS s, CAST(NULL AS DOUBLE) AS w
            FROM nodes WHERE id % 5 = 0
            UNION ALL
            SELECT b.wid AS id, 'way' AS type,
                   CAST(NULL AS DOUBLE) AS lon, CAST(NULL AS DOUBLE) AS lat,
                   round(c.c_lon, 6) AS c_lon, round(c.c_lat, 6) AS c_lat,
                   round(b.e, 6) AS e, round(b.n, 6) AS n,
                   round(b.s, 6) AS s, round(b.w, 6) AS w
            FROM bb b JOIN cent c USING (wid)
        """,
        "embedding_neardup": _embedding_neardup_sql(0.45, 4, 64),
        "ann_lsh": _ann_lsh_sql(5, 6, 64),
        "ivf_assign": _ivf_assign_sql(5, 3),
        "pq_assign": _pq_assign_sql(),
        "opq_assign": _opq_assign_sql(),
        "url_metrics": _url_sql(path_mod=1000, mode="metrics"),
    }
