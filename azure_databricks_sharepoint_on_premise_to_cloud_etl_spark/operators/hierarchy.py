"""Hierarchical-location operators (SURVEY.md section 2.4 J4/J5).

The reference matches facts to schedule zones at three granularities —
exact location, 4-level cost-center prefix, 5-level prefix — by running
three joins, unioning, and deduping (code/ukg_open_census.py:710-727).
We keep those union-of-joins semantics (SURVEY 7.5 risk 1 pins the NEW
variant: union all levels then distinct, no per-level filtering) but
with native prefix expressions instead of the reference's Python UDFs.

``hierarchical_fallback_join`` is that union written out: three
broadcast joins, the fact side scanned once per level.  It is the
reference form the tests check against.  ``fallback_join_exploded``
returns the same rows from one scan and one equi-join on the exploded
candidate keys; the census plan and the registry query use it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import prefix_path
from ..scope import checkpoint, release


def hierarchical_fallback_join(
    facts: DataFrame,
    dims: DataFrame,
    fact_path_col: str,
    dim_path_col: str,
    levels: tuple[int, ...] = (4, 5),
) -> DataFrame:
    """Union of exact + per-level prefix joins, then distinct (J4).

    Level 0 (exact): fact.path == dim.path;
    level k: prefix_path(fact.path, k) == dim.path — a zone defined at
    cost-center level matches every location under it.
    """
    d = dims.withColumnRenamed(dim_path_col, "__dim_path")
    joined = [
        facts.join(
            F.broadcast(d), facts[fact_path_col] == d["__dim_path"], "inner"
        )
    ]
    for lv in levels:
        joined.append(
            facts.join(
                F.broadcast(d),
                prefix_path(facts[fact_path_col], lv) == d["__dim_path"],
                "inner",
            )
        )
    out = joined[0]
    for j in joined[1:]:
        out = out.unionByName(j)
    return out.drop("__dim_path").distinct()


def fallback_join_exploded(
    facts: DataFrame,
    dims: DataFrame,
    fact_path_col: str,
    dim_path_col: str,
    levels: tuple[int, ...] = (4, 5),
) -> DataFrame:
    """Same semantics as :func:`hierarchical_fallback_join` as ONE join:
    explode each fact into its candidate keys (exact + each prefix),
    equi-join once on the candidate key, distinct.

    One pass over facts instead of N join passes.  The dims side is
    always broadcast: zone tables are dimension-sized, and dims built
    from aggregates have no stats, so Catalyst would otherwise fall
    back to a sort-merge join.
    """
    cands = F.array_distinct(
        F.array(
            F.col(fact_path_col),
            *[prefix_path(F.col(fact_path_col), lv) for lv in levels],
        )
    )
    exploded = facts.withColumn("__cand", F.explode(cands))
    d = F.broadcast(dims.withColumnRenamed(dim_path_col, "__cand"))
    return exploded.join(d, "__cand", "inner").drop("__cand").distinct()


def coalesce_fallback_columns(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    fallback_cols: dict[str, tuple[str, str]],
) -> DataFrame:
    """Left join + coalesce fill (J5, code/ukg_open_census_old.py:208-212):
    for each output col, take the left value unless null, else the
    right's.  ``fallback_cols`` maps output -> (left_col, right_col)."""
    j = left.join(right, on, "left")
    for out_col, (lc, rc) in fallback_cols.items():
        j = j.withColumn(out_col, F.coalesce(F.col(lc), F.col(rc)))
    return j


def bom_rollup(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int,
    parent_col: str = "parent",
    child_col: str = "child",
    qty_col: str = "qty",
    root_col: str = "node",
) -> DataFrame:
    """Multi-level bill-of-materials explosion: total demand for
    every component under each root assembly, per-unit quantities
    MULTIPLYING down the tree and summing across alternative paths —
    the recursive-hierarchy aggregate behind parts explosion, cost
    rollups, and org-tree allocation.  Depth is hard-capped at
    ``max_depth`` (the cycle guard: a BOM is a DAG, but a data bug
    that introduces a cycle must cost bounded work, not an infinite
    loop).

    Scale shape: level-synchronous frontier iteration — each level is
    ONE equi-join of the current frontier against the static
    checkpointed edge table keyed on the parent, with a
    (root, node) pre-aggregate per level so parallel paths collapse
    BEFORE the next multiply (the frontier never exceeds distinct
    (root, component) pairs).  Every level is checkpointed too —
    without the lineage cut each level re-derives all its
    predecessors once per downstream reference, turning d levels into
    O(d²) re-scans of the caller's edge build.  Quantities ride as
    DECIMAL(38,0) products of integer per-unit counts — exact at any
    depth that fits 38 digits.

    Returns (root, component, total_qty) for every component strictly
    below a root, all path contributions summed.
    """
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    e = checkpoint(
        edges.select(
            F.col(parent_col).alias("__p"),
            F.col(child_col).alias("__c"),
            F.col(qty_col).cast("decimal(38,0)").alias("__q"),
        )
    )
    frontier = roots.select(
        F.col(root_col).alias("__root"),
        F.col(root_col).alias("__node"),
        F.lit(1).cast("decimal(38,0)").alias("__mult"),
    )
    steps = []
    for _ in range(max_depth):
        # the emptiness probe rides the checkpoint job as an
        # Observation (the bfs_distances trick) so frontier
        # exhaustion stops the loop without a second job per level
        step, m = checkpoint(
            frontier.join(e, frontier["__node"] == e["__p"])
            .select(
                "__root",
                F.col("__c").alias("__node"),
                (F.col("__mult") * F.col("__q")).alias("__mult"),
            )
            .groupBy("__root", "__node")
            .agg(F.sum("__mult").alias("__mult")),
            observe=F.count(F.lit(1)).alias("__n"),
        )
        if int(m["__n"] or 0) == 0:
            release(step)
            break
        steps.append(step)
        frontier = step
    if not steps:
        # no root has any children: empty result with the right schema
        steps = [frontier.limit(0)]
    total = steps[0]
    for step in steps[1:]:
        total = total.unionAll(step)
    return (
        total.groupBy("__root", "__node")
        .agg(F.sum("__mult").alias("total_qty"))
        .select(
            F.col("__root").alias("root"),
            F.col("__node").alias("component"),
            F.col("total_qty").cast("long").alias("total_qty"),
        )
    )
