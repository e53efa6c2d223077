"""Physical-plan quality gates: the properties that make the engine hold
at 100 TB must stay visible in `.explain` output — pushdown, pruning,
bounded shuffles, broadcasts — so they are asserted here as regressions."""

import pyspark.sql.functions as F

import __spark_entry__ as E
from osm_pbf2json_spark.operators import spatial


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_agg_pricing_pushdown_and_pruning(spark, sf_dir):
    df = E.q_agg_pricing(spark, sf_dir)
    plan = _plan(df)
    # filter pushed to the parquet scan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: unused columns are not read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_flagship_rollup_single_exchange(spark, sf_dir):
    pts = E._points(spark, sf_dir)
    rows = [{"key": "A", "polygons": [[E.POLY_A + E.POLY_A[:1]]]}]
    df = spatial.pip_tile_rollup(pts, rows)
    plan = _plan(df)
    # kernel-side combine → exactly one Exchange (the final tiny agg)
    assert plan.count("Exchange") == 1


def test_pip_broadcast_no_exchange(spark, sf_dir):
    pts = E._points(spark, sf_dir)
    rows = [{"key": "A", "polygons": [[E.POLY_A + E.POLY_A[:1]]]}]
    df = spatial.pip_join_broadcast(pts, rows)
    assert "Exchange" not in _plan(df)


def test_closure_uses_broadcast_joins(spark, sf_dir):
    df = E.q_s2_closure(spark, sf_dir)
    # semi-join closure over dimension-sized sides plans as broadcast
    assert "BroadcastHashJoin" in _plan(df)


def test_pair_dedup_pushdown_partial_agg(spark, sf_dir):
    df = E.q_o2_pair_dedup(spark, sf_dir)
    plan = _plan(df)
    # predicate pushed to scan; distinct planned as partial+final HashAggregate
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert plan.count("HashAggregate") == 2
    assert "pythonUDF" not in plan


def test_filter_dsl_is_codegen(spark, sf_dir):
    df = E.q_f1_filter_dsl(spark, sf_dir)
    plan = _plan(df)
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_knn_plan_is_jvm_only_and_broadcast(spark, sf_dir):
    """knn_join must keep the corpus JVM-side (planar Catalyst tiles, no
    Python) and join the broadcast query-cell list, never crossJoin."""
    pts = E._points(spark, sf_dir).withColumnRenamed("point_id", "id")
    df = spatial.knn_join(pts, E.KNN_QUERIES, k=5, res=6)
    plan = _plan(df)
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_pip_cells_candidate_join_is_hash_join(spark, sf_dir):
    """pip_join_cells' filter stage must plan as a cell equi-join (hash or
    sort-merge), never a cartesian/nested-loop."""
    pts = E._points(spark, sf_dir)
    polys = spark.createDataFrame(
        [("A", [[[{"lon": x, "lat": y} for x, y in E.POLY_A + E.POLY_A[:1]]]])],
        "key string, polygons array<array<array<struct<lon:double,lat:double>>>>",
    )
    plan = _plan(spatial.pip_join_cells(pts, polys, level=10))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    # the WHOLE operator is JVM-side Catalyst: planar cells, bbox
    # coverings, and the exact ray-cast refine — zero Python stages
    assert "MapInPandas" not in plan
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_salted_join_is_deterministic_expression(spark):
    """Retry safety: the large-side salt must not contain nondeterministic
    expressions (monotonically_increasing_id / rand)."""
    from osm_pbf2json_spark.plans.partitioning import salted_join

    large = spark.createDataFrame([(i % 5, i) for i in range(100)], "k int, v long")
    small = spark.createDataFrame([(i, f"d{i}") for i in range(5)], "k int, name string")
    plan = _plan(salted_join(large, small, "k", salt=4))
    assert "monotonically" not in plan and "rand(" not in plan


def test_cell_split_polygons_stay_off_the_cell_join(spark):
    """Shuffle-volume gate for split_streets_by_cells: the cell-explode
    candidate join must shuffle ids + bboxes ONLY — no Exchange in the
    plan may carry both the `_cell` key and the `polygons` geometry
    (the pre-rewrite design shipped a full multipolygon per
    street×boundary×cell candidate row)."""
    from osm_pbf2json_spark.operators.streets import (
        STREET_SCHEMA,
        split_streets_by_cells,
    )

    ring = [
        {"lon": 0.0, "lat": 0.0},
        {"lon": 1.0, "lat": 0.0},
        {"lon": 1.0, "lat": 1.0},
        {"lon": 0.0, "lat": 1.0},
        {"lon": 0.0, "lat": 0.0},
    ]
    bdf = spark.createDataFrame(
        [(1, "b", 8, 0.0, 0.0, 1.0, 1.0, [[ring]])],
        "relation_id long, name string, admin_level int, sw_lon double, "
        "sw_lat double, ne_lon double, ne_lat double, "
        "polygons array<array<array<struct<lon:double,lat:double>>>>",
    )
    sdf = spark.createDataFrame(
        [
            (10, "s", None, 0.1, 0.2, 0.2,
             [{"way_id": 10, "coords": [{"lon": 0.2, "lat": 0.2},
                                        {"lon": 0.3, "lat": 0.25}]}])
        ],
        STREET_SCHEMA,
    )
    out = split_streets_by_cells(sdf, bdf)
    txt = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    n_exchanges = 0
    for block in txt.split("\n\n"):
        lines = block.splitlines()
        if not (lines and lines[0].startswith("(") and "Exchange" in lines[0]):
            continue
        n_exchanges += 1
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert not ("_cell#" in inp and "polygons#" in inp), (
            "cell-join Exchange carries polygon geometry: " + inp
        )
    assert n_exchanges > 0  # the gate actually inspected exchanges
    # parity sanity on the tiny input
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["boundary"] == "b"
