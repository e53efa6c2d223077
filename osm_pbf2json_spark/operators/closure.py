"""S2: predicate match + transitive dependency closure.

Reference: ``get_objs_and_deps(pred)`` re-scans the PBF until the matched
set plus every transitively referenced node/way/relation is in memory
(call sites `/root/reference/src/lib/mod.rs:135,166,213-215`).

Spark shape: iterative LEFT SEMI joins to a fixpoint. Each round only
moves *ids* across the shuffle (never tags/coords), so the loop is cheap
even at 100 TB; the final semi-joins materialize full rows once. The
iteration count is bounded by the max relation nesting depth (single
digits in real OSM extracts), not by data volume.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


@dataclass
class EntityTables:
    nodes: DataFrame
    ways: DataFrame
    relations: DataFrame


def _pin(df: DataFrame) -> DataFrame:
    """Materialize and truncate lineage (barrier for iterative plans).

    Iterative algorithms (closure fixpoint, round-wise relation resolve)
    otherwise stack join plans multiplicatively — each round would replan
    and re-execute every prior round. localCheckpoint stores the
    partitions cluster-side (no driver collect), so this scales like a
    cache, not like a collect.
    """
    return df.localCheckpoint(eager=True)


def closure(tables: EntityTables, pred: Column, max_rounds: int = 16) -> EntityTables:
    """Return the sub-tables containing predicate matches plus all
    transitive dependencies (matched way → its nodes; matched relation →
    all members recursively)."""
    nodes, ways, relations = tables.nodes, tables.ways, tables.relations

    matched_rel_ids = relations.filter(pred).select("id")
    no_rels = matched_rel_ids.isEmpty()
    if no_rels:
        # fast path: no relation matches the predicate (e.g. streets /
        # objects over way-only data) — the relation closure is empty, so
        # skip the fixpoint's checkpoint jobs entirely. isEmpty() is a
        # first-row probe, cheap at any scale.
        closure_rels = relations.filter(F.lit(False))
    else:
        # --- relation fixpoint: pull in member relations until stable ----
        rel_ids = _pin(matched_rel_ids.distinct())
        frontier = rel_ids
        for _ in range(max_rounds):
            member_rels = (
                relations.join(frontier, "id", "left_semi")
                .select(F.explode("members").alias("m"))
                .filter(F.col("m.mtype") == "relation")
                .select(F.col("m.mid").alias("id"))
                .distinct()
            )
            # probe BEFORE pinning: flat relation sets (the common OSM
            # admin case — no nested member relations) terminate on this
            # one first-row probe instead of paying an eager anti-join
            # checkpoint job first
            if member_rels.isEmpty():
                break
            new_ids = _pin(member_rels.join(rel_ids, "id", "left_anti"))
            if new_ids.isEmpty():
                break
            rel_ids = _pin(rel_ids.unionByName(new_ids).distinct())
            frontier = new_ids

        closure_rels = relations.join(rel_ids, "id", "left_semi").localCheckpoint(
            eager=False
        )

    # --- ways: matched directly or members of closure relations ----------
    # (final tables pin LAZILY: materialization folds into the first
    # downstream job instead of running as a serial barrier job here —
    # same work, fewer synchronization points)
    if no_rels:
        # the way closure is exactly the pred matches — no id-set union,
        # no distinct, no semi-join back onto the way table
        closure_ways = ways.filter(pred).localCheckpoint(eager=False)
    else:
        rel_way_ids = (
            closure_rels.select(F.explode("members").alias("m"))
            .filter(F.col("m.mtype") == "way")
            .select(F.col("m.mid").alias("id"))
        )
        way_ids = (
            ways.filter(pred).select("id").unionByName(rel_way_ids).distinct()
        )
        closure_ways = ways.join(way_ids, "id", "left_semi").localCheckpoint(
            eager=False
        )

    # --- nodes: matched directly, way refs, or relation node members -----
    way_node_ids = closure_ways.select(F.explode("refs").alias("id"))
    node_ids = nodes.filter(pred).select("id").unionByName(way_node_ids)
    if not no_rels:
        rel_node_ids = (
            closure_rels.select(F.explode("members").alias("m"))
            .filter(F.col("m.mtype") == "node")
            .select(F.col("m.mid").alias("id"))
        )
        node_ids = node_ids.unionByName(rel_node_ids)
    closure_nodes = nodes.join(
        node_ids.distinct(), "id", "left_semi"
    ).localCheckpoint(eager=False)

    return EntityTables(closure_nodes, closure_ways, closure_rels)
