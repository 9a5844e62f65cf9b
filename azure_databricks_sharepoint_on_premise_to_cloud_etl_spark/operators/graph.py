"""Iterative graph operators for dedup clustering.

Near-duplicate detection produces candidate PAIRS; deduplication needs
CLUSTERS (connected components) so each group keeps one canonical
document.  Implemented as min-label propagation PLUS pointer jumping
(each round a node adopts the minimum label among itself and its
neighbors, then adopts its label's label) — the pointer-jump halves
chain depth every round, giving O(log diameter) convergence, the
property that makes web-scale CC tractable (the simplified form of the
large-star/small-star algorithm).

Scale notes: the iteration is DELTA (frontier-shrinking).  Labels
only ever decrease, so a neighbor's min can only drop because some
neighbor's label dropped LAST round — propagating from the full label
table every round (as rounds ≤3 did) recomputes mins that cannot have
changed.  Each round therefore joins the edge table against only the
CHANGED labels (the frontier): converged subgraphs stop paying the
per-round joins entirely, and the frontier shrinks geometrically.
Because the frontier is small after round 1, AQE turns every
per-round join into a broadcast join — the static, cached edge table
is never re-shuffled, and the standing label table is only ever
scanned (merge of the round's updates), never shuffled.  The
iteration runs over EDGE-ENDPOINTS only — after LSH candidate
generation the endpoints are a small fraction of the corpus, and
nodes outside any pair are trivially their own component, re-attached
by one left join at the end; carrying the full node set per round
would shuffle the non-duplicate majority every iteration.
Every generation is eagerly checkpointed with ``scope.checkpoint``
(iterative plans otherwise embed all prior joins and
exhaust driver/executor memory).  ``connected_components`` takes
``reliable=True`` to write its generations under the SparkContext's
checkpoint dir, which the deployment sets; the default keeps blocks on
executors only, which is fastest but loses the job with an executor.

Each round frees the PREVIOUS generation with ``scope.release`` strictly
AFTER the next one is materialised (a released checkpoint cannot be
recomputed), bounding storage at two generations.  Everything a result
still reads (the final generation, static edge tables) lives until the
caller's ``with Scope():`` exits, so wrap the query and its consumption
in one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scope import checkpoint, release

# connected_components finishes on the driver (union-find) when the
# symmetrized edge table has at most this many rows
DRIVER_FINISH_EDGES = 1_000_000


def _strip_inherited_stats(df: DataFrame) -> DataFrame:
    """Rewrap a checkpointed DataFrame so it stops inheriting the
    pre-checkpoint plan's size-in-bytes ESTIMATE.

    ``Dataset.checkpoint``/``localCheckpoint`` return a ``LogicalRDD``
    that carries the ORIGINAL plan's estimated statistics across the
    checkpoint.  Catalyst's size-only estimator multiplies child sizes
    at every join, so an iterative algorithm whose round references the
    previous generation k times compounds the estimate by ~k× PER
    ROUND — the BigInteger holding sizeInBytes grows to millions of
    bits within a dozen rounds and the driver ends up spending minutes
    in Karatsuba/Toom-Cook multiplication while planning (observed:
    150 s for a 12th-round plan over 5 000 rows, with zero jobs
    running).  Rebuilding the DataFrame from the already-materialized
    row RDD drops the inherited estimate; the session default is used
    instead, and AQE still picks broadcast strategies from ACTUAL
    runtime sizes.  Best-effort: on any internal-API surprise the
    original frame is returned (correct, but a long iteration may hit
    the planner stall this guards against).
    """
    try:
        spark = df.sparkSession
        jdf = df._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return type(df)(new_jdf, spark)
    except Exception:
        return df


def _driver_union_find_labels(sym: DataFrame) -> DataFrame:
    """Collect a driver-small symmetrized edge table (columns a, b) and
    return a (node, component) DataFrame via union-find.

    Union by size + path compression (near-linear in edge count); the
    component label is the MINIMUM member id — identical semantics to
    the distributed min-label loop.  Node/id type is preserved from the
    edge schema so the re-attach join never casts.
    """
    from pyspark.sql.types import StructField, StructType

    spark = sym.sparkSession
    id_type = sym.schema["a"].dataType
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in sym.select("a", "b").collect():
        a, b = row[0], row[1]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    rows = [(v, comp_min[find(v)]) for v in parent]
    schema = StructType(
        [
            StructField("node", id_type, False),
            StructField("component", id_type, False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    node_col: str = "doc_id",
    max_iterations: int = 25,
    reliable: bool = False,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``edges`` are undirected pairs; ``nodes`` is the full vertex set
    (isolated nodes label themselves).  Returns (node_col, component).
    ``reliable`` writes every generation under the SparkContext's
    checkpoint dir (see module docstring); default localCheckpoint.
    Raises RuntimeError if ``max_iterations`` rounds don't converge —
    with pointer jumping that bound covers diameters ~2^25, so hitting
    it means something is genuinely wrong; silent wrong components
    (split dup-clusters) are never returned.

    Each round fuses ONE extra pointer-jump + edge-hop level into its
    checkpoint job (broadcast-join cost).  One level measured best in
    local mode: three cut rounds 6 → 4 at sf0.1 but tripled the
    per-round cost, a net loss.

    ``DRIVER_FINISH_EDGES`` selects the SMALL-GRAPH regime: the
    symmetrized-distinct edge count rides the edge-table checkpoint
    job as an Observation (free), and when the WHOLE candidate graph
    is driver-small (≤ 1M symmetrized rows ≈ 500k undirected edges ≈
    tens of MB of longs) the components are
    computed by collecting the edge list and running union-find
    (path compression + union by size) on the driver instead of
    paying ~6 distributed rounds — each a full job barrier (~0.5 s
    in local mode, worse on a 1000-executor cluster) — for a
    problem that fits in one process.  This is the standard hybrid
    for iterative graph algorithms: LSH candidate graphs are tiny
    relative to the corpus (most documents are not near-duplicates
    of anything), so the tail of the computation is latency-bound,
    not throughput-bound.  Graphs above the threshold run the
    distributed delta-frontier loop unchanged — at 100 TB with
    billions of candidate pairs that is the path that executes.
    Tests set the constant to 0 to exercise that loop on small
    fixtures.
    """

    def snapshot(df: DataFrame) -> tuple[DataFrame, int]:
        # piggyback the convergence check on the materializing job:
        # an Observation over the eager checkpoint counts changed rows
        # during the SAME job, so no separate isEmpty/count action runs
        # per round (measured ~0.1-0.2 s of job-launch overhead saved
        # per round in local mode)
        ckpt, m = checkpoint(
            df,
            observe=F.sum(F.col("changed").cast("long")).alias("__nc"),
            reliable=reliable,
        )
        # strip the inherited size estimate (see _strip_inherited_stats:
        # without this, join-multiplied estimates compound per round and
        # the driver stalls for minutes in BigInteger math while
        # planning round ~10+); scope.release finds the checkpoint
        # behind the rewrap
        return _strip_inherited_stats(ckpt), int(m["__nc"] or 0)

    # symmetrize once and materialize via eager checkpoint, NOT
    # cache: a cached plan keeps its pre-AQE output partitioning
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
    # false by default), so the distinct's 32 shuffle partitions would
    # be re-scanned as 32 near-empty tasks EVERY round — measured ~0.6 s
    # of pure task-launch overhead per round at sf0.1.  The checkpoint
    # materializes with AQE's size-coalesced partitioning (1 partition
    # for a small candidate graph, proportionally more at scale) and
    # cuts lineage to the whole upstream LSH pipeline, which the
    # per-round plans would otherwise re-embed.  The symmetrized-distinct
    # row count rides the same job as an Observation — it decides the
    # driver-finish regime for free.  Reliable mode keeps sym reliable
    # too (an executor loss mid-iteration must not kill the run on
    # preemptible fleets).
    sym, m = checkpoint(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct(),
        observe=F.count(F.lit(1)).alias("__n_sym"),
        reliable=reliable,
    )
    if int(m["__n_sym"] or 0) <= DRIVER_FINISH_EDGES:
        # SMALL-GRAPH regime: the whole candidate graph fits on the
        # driver — finish with union-find instead of distributed rounds
        # (see docstring).  One collect of the materialized checkpoint,
        # microseconds of union-find, one broadcast-joined re-attach.
        try:
            labels = _driver_union_find_labels(sym)
        finally:
            release(sym)
        return nodes.select(F.col(node_col)).join(
            F.broadcast(labels.withColumnRenamed("node", node_col)),
            node_col,
            "left",
        ).select(
            node_col,
            F.coalesce(F.col("component"), F.col(node_col)).alias(
                "component"
            ),
        )
    try:
        # Iterate ONLY over edge endpoints: after LSH, candidate pairs
        # touch a small fraction of the corpus, while every node outside
        # any pair is trivially its own component.  Carrying the full
        # node set through every round (as r2 did) shuffles the
        # non-duplicate majority — usually >90% of the corpus — per
        # iteration for no information; isolated nodes are re-attached
        # once at the end with coalesce(component, node).
        # The standing label table carries a ``changed`` flag instead
        # of a separate frontier table: one checkpointed generation per
        # round (same action count as the full-table formulation — one
        # eager snapshot + one isEmpty — but the expensive per-round
        # work is frontier-sized).  The seed FUSES round 0: starting
        # every endpoint at least(self, min neighbor) is exactly the
        # state after a self-label round (whose parent-delivery is a
        # provable no-op: every component is still its own node), so
        # one groupBy replaces the endpoint-distinct shuffle AND the
        # first — most expensive, frontier=everything — iteration.
        labels, n_changed = snapshot(
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("a"), F.col("mb")).alias("component"),
                (F.col("mb") < F.col("a")).alias("changed"),
            )
        )
        converged = n_changed == 0
        for _round in range(max_iterations):
            if converged:
                break
            # 1. delta propagate: labels only decrease, so a node's
            #    neighbor-min can only drop via a neighbor whose label
            #    changed LAST round — every older label was already
            #    delivered the round after it was set.  Joining sym
            #    against the (small) frontier filter instead of the
            #    full label table is the whole point: AQE broadcasts
            #    the frontier, the cached edge table is never
            #    re-shuffled, and the groupBy aggregates only
            #    frontier-incident rows.
            # ONE frontier frame serves BOTH the edge propagation and
            # the parent delivery: the two broadcast subtrees share an
            # identical child plan, so the physical planner emits a
            # single BroadcastExchange + ReusedExchange — one collect
            # job per round, not two.
            fr = labels.filter("changed").select(
                F.col("node").alias("f_n"), F.col("component").alias("f_c")
            )
            delta_min = (
                sym.join(fr, sym["b"] == fr["f_n"])
                .groupBy("a")
                .agg(F.min("f_c").alias("nbr_min"))
            )
            # 2. parent delivery (delayed pointer jumping): a frontier
            #    node also notifies its LABEL-children — every node
            #    whose current component IS that frontier node adopts
            #    the frontier node's new, lower label.  Without this, a
            #    chain head's improvement reaches the tail at one
            #    edge-hop per round (O(diameter)); with it, label
            #    chains compress a round after they form, restoring
            #    the O(log diameter) behavior of full-table pointer
            #    jumping at broadcast-join cost.  (Earlier rounds
            #    measured in-round jumps as a net loss; after the
            #    exchange-reuse and fused-Observation changes cut the
            #    per-round floor, the same jumps now pay for
            #    themselves — steps 4-5 below, re-measured.)
            # 3. merge: ONE scan of the standing table with two
            #    broadcast left joins (delta_min and fr are
            #    frontier-sized) — the standing table is never
            #    shuffled.  Strictly-lower IS the changed flag; ties
            #    produce no update, which is what terminates the loop.
            merged = labels.join(
                delta_min, labels["node"] == delta_min["a"], "left"
            ).join(fr, labels["component"] == fr["f_n"], "left")
            nc = F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_min"), F.col("component")),
                # unqualified: delta_min aggregated f_c away, so merged
                # carries exactly one f_c and a dataset-qualified ref
                # would trip the ambiguous-self-join analyzer
                F.coalesce(F.col("f_c"), F.col("component")),
            )
            mid = merged.select(
                "node",
                F.col("component").alias("old"),
                nc.alias("mid"),
            )
            # 4+5: fused in-round pointer jump + edge hop.  Nodes that
            #    improved this round form the jump map (a broadcast):
            #    a node whose NEW label improved adopts that label's
            #    label (pointer jump), and neighbors of improved nodes
            #    adopt the improvement at once (edge hop) — in the SAME
            #    checkpoint job.  The map's subtree appears on both
            #    sides, so the planner emits one BroadcastExchange +
            #    ReusedExchange.  The level trades cheap broadcast
            #    joins for ROUNDS (each a fixed checkpoint-job floor,
            #    measured ~0.55 s in local mode): it cut rounds 10 → 6
            #    at sf0.1.
            jmap = mid.filter(F.col("mid") < F.col("old")).select(
                F.col("node").alias("j_n"), F.col("mid").alias("j_c")
            )
            delta_j = (
                sym.join(jmap, sym["b"] == jmap["j_n"])
                .groupBy(F.col("a").alias("j_a"))
                .agg(F.min("j_c").alias("j_nbr"))
            )
            stepped = mid.join(jmap, mid["mid"] == jmap["j_n"], "left").join(
                delta_j, mid["node"] == delta_j["j_a"], "left"
            )
            jumped = stepped.select(
                "node",
                "old",
                F.least(
                    F.col("mid"),
                    F.coalesce(F.col("j_c"), F.col("mid")),
                    F.coalesce(F.col("j_nbr"), F.col("mid")),
                ).alias("new"),
            )
            round_plan = jumped.select(
                "node",
                F.col("new").alias("component"),
                (F.col("new") < F.col("old")).alias("changed"),
            )
            new_labels, n_changed = snapshot(round_plan)
            # convergence = empty frontier: nothing changed, so nothing
            # can change next round either.  The changed count rides the
            # snapshot job via Observation — no extra action.
            release(labels)  # new generation is materialized; prev never read again
            labels = new_labels
            if n_changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "iterations — graph larger/stranger than the safety bound"
            )
    finally:
        release(sym)
    # re-attach isolated nodes: anything outside the edge set is its
    # own component (one left join, no per-round cost).  The result
    # reads the FINAL generation, which the caller's scope frees.
    return nodes.select(F.col(node_col)).join(
        labels.withColumnRenamed("node", node_col), node_col, "left"
    ).select(
        node_col,
        F.coalesce(F.col("component"), F.col(node_col)).alias("component"),
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    the local-clustering signal of the near-dup candidate graph
    (dense triangle neighborhoods = template families; a node's
    triangle count says how mutually-confirming its duplicate
    evidence is).

    Scale shape — degree-ordered orientation (the standard web-scale
    formulation): every edge is oriented from its LOWER-(degree, id)
    endpoint to its higher one, so each triangle is enumerated exactly
    once from its lowest vertex and, crucially, a node's out-degree is
    bounded by ~sqrt(|E|) even under power-law skew — the wedge
    self-join on the source never explodes on hub nodes the way the
    naive id-ordered join does.  Three equi-joins total (degree
    attach, wedge build, closing-edge probe); no cross joins, no
    iteration.  Isolated and triangle-free nodes are absent from the
    output (count 0).

    The canonical edge set is eagerly checkpointed: the degree attach,
    wedge build, and closing-edge probe reference it five times, and
    without cutting lineage each reference re-executes the caller's
    whole upstream pipeline (for the LSH candidate graph, five MinHash
    passes over the corpus) — a plain ``persist`` leaves the expanded
    subtree in every downstream plan.  The caller's scope frees it.

    Returns (node, n_triangles).
    """
    # canonical undirected edge set (a < b), self-loops dropped
    a, b = F.col(src), F.col(dst)
    e = checkpoint(
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id): degree table is node-count sized — at LSH
    # candidate scale a broadcast; AQE picks that without a hint here
    # to stay safe on genuinely huge candidate graphs
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__db"))
    with_deg = e.join(da, "a").join(db, "b")
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("__db")).otherwise(F.col("__da")).alias(
            "__dv"
        ),
    )
    o1 = oriented.select("u", F.col("v").alias("x"), F.col("__dv").alias("__dx"))
    o2 = oriented.select("u", F.col("v").alias("y"), F.col("__dv").alias("__dy"))
    # wedges at u: out-neighbor pairs (x, y) with x before y in the
    # SAME (deg, id) total order the orientation used
    wedges = o1.join(o2, "u").filter(
        (F.col("__dx") < F.col("__dy"))
        | ((F.col("__dx") == F.col("__dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"], "left_semi").select(
        "u", "x", "y"
    )
    return (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected (symmetrized)
    graph of ``edges`` — centrality of documents inside their near-dup
    neighborhood (a high-rank node is the natural cluster
    representative when quality signals tie).

    Scale shape: the symmetrized edge+degree table is built ONCE and
    eagerly checkpointed (every iteration and the final
    output reference it; without cutting lineage each reference
    re-runs the caller's candidate-generation pipeline).  Each
    iteration is one equi-join (ranks onto edge sources) + one
    destination-keyed sum with map-side partials — the standard
    contribution-passing formulation; a fixed small ``iterations``
    keeps the plan static and oracle-expressible (the converging-loop
    form would checkpoint per round exactly like
    :func:`connected_components`).  Isolated nodes never enter
    (``edges`` defines the graph); symmetric graphs have no dangling
    mass.  Returns (node, rank) with rank rounded to 6.
    """
    a, b = F.col(src), F.col(dst)
    # NOTE (r13 optimization round): pre-partitioning sym by u (a
    # key-partitioned checkpoint) was measured ~1.6x SLOWER for this unrolled
    # LAZY recurrence — one adaptive query where AQE runtime-converts
    # the per-iteration joins to broadcast-hash and coalesces the
    # small exchanges; static 32-partition SMJs disabled both.
    sym = checkpoint(
        edges.select(a.alias("u"), b.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionAll(
            edges.select(b.alias("u"), a.alias("v")).filter(
                F.col("u") != F.col("v")
            )
        )
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("__n"))
    # degree + node count in one broadcastable side table
    base = checkpoint(deg.crossJoin(F.broadcast(n_nodes)))
    ranks = base.select(
        F.col("u").alias("node"), (F.lit(1.0) / F.col("__n")).alias("r")
    )
    teleport = F.lit(1.0 - damping)
    for _ in range(iterations):
        contrib = (
            sym.join(
                base.select("u", "deg").join(
                    ranks.withColumnRenamed("node", "u"), "u"
                ),
                "u",
            )
            .select(F.col("v").alias("node"), (F.col("r") / F.col("deg")).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = contrib.join(
            F.broadcast(n_nodes)
        ).select(
            "node",
            (teleport / F.col("__n") + F.lit(damping) * F.col("__s")).alias("r"),
        )
    return ranks.select("node", F.round("r", 6).alias("rank"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 12,
) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes whose
    degree is below ``k`` until the remaining subgraph is a fixpoint
    (every survivor has ≥ k neighbors INSIDE the core).  Returns
    ``(node, core_deg)`` — the surviving nodes with their degree in
    the final core.  The k-core is the standard density filter over
    near-dup candidate graphs (template families and boilerplate
    clusters survive; incidental one-off collisions peel away) and
    over interaction graphs (spam rings, power-user cliques).

    Scale shape — distributed peel, the textbook formulation: each
    round is ONE degree aggregate over the remaining edge table plus
    two anti-joins against the (small, shrinking) peel set; work per
    round is linear in the remaining edges and the edge table only
    ever shrinks.  The peel set is degree-table-sized (node-bounded),
    so AQE broadcasts the anti-joins after round 1.  Each generation
    is eagerly checkpointed (iterative lineage would otherwise
    embed every prior round's joins) and the superseded generation's
    blocks are released immediately — storage is bounded at two edge
    generations, same contract as connected_components.

    Rounds are bounded by ``max_iterations``; a graph that has not
    reached its fixpoint by then raises RuntimeError rather than
    returning a superset of the core (mirrors connected_components'
    no-silent-wrong-answer contract).  Degeneracy peel counts are
    small in practice: each round removes EVERY current sub-k node,
    so round count is the graph's "peel depth", typically ≤ 10 even
    on web graphs.

    Oracle story: a fixed unroll of the same peel in chained SQL CTEs
    is equivalent whenever the fixpoint is reached within the unroll
    depth — which this function guarantees by raising otherwise.
    """
    a, b = F.col(src), F.col(dst)
    e, m = checkpoint(
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        observe=F.count(F.lit(1)).alias("__n_e"),
    )
    n_e = int(m["__n_e"] or 0)

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("node"))
            .unionAll(ed.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )

    # ONE driver job per peel round (r14; was two): the peel set stays
    # a lazy subtree inside the next-generation checkpoint — its two
    # broadcast builds share the degree aggregate's exchange (runtime
    # exchange reuse pays the edge scan + shuffle once) — and the
    # fixpoint probe is the observed next-generation ROW COUNT (no
    # peel ⟺ the anti-joins dropped nothing).  Job-launch barriers are
    # exactly what bounds iterative ops in the flat-alpha regime
    # SCALE.md records for kcore.
    for _ in range(max_iterations):
        deg = degrees(e)
        low = deg.filter(F.col("core_deg") < k).select("node")
        nxt, m = checkpoint(
            e.join(
                F.broadcast(low.withColumnRenamed("node", "a")), "a", "left_anti"
            )
            .join(
                F.broadcast(low.withColumnRenamed("node", "b")), "b", "left_anti"
            )
            .select("a", "b"),
            observe=F.count(F.lit(1)).alias("__n_nxt"),
        )
        n_nxt = int(m["__n_nxt"] or 0)
        release(e)
        e = nxt
        if n_nxt == n_e:
            # nothing peeled — e is the k-core edge set (identical row
            # set to the previous generation, so returning its degree
            # table is the same result the two-job form returned)
            return degrees(e)
        n_e = n_nxt
    raise RuntimeError(
        f"k_core did not reach its fixpoint in {max_iterations} peels — "
        "raise max_iterations (and the oracle unroll depth with it)"
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY source node,
    explored to at most ``max_hops`` hops.  Returns ``(node, hops)``
    for every reached node (sources at 0); unreached nodes are absent.
    This is the reachability primitive behind contamination blast-
    radius checks ("everything within 2 links of a benchmark page"),
    fraud-ring expansion from seed accounts, and dependency closure.

    Scale shape — frontier iteration, the delta form: each hop joins
    ONLY the newly-reached frontier against the (static, checkpointed,
    symmetrized) edge table, then anti-joins the standing distance
    table to keep first discoveries; settled nodes never re-enter the
    join.  The frontier is broadcast-sized after the first hops in
    typical expansions, and the hop count is a hard cap — cost is
    O(edges incident to reached nodes), never O(V·E).  Distance table
    generations are checkpointed and superseded generations released,
    bounding storage at two generations (same contract as
    connected_components).
    """
    a, b = F.col(src), F.col(dst)
    # symmetrize with ONE distinct: union both directions first, then
    # dedup once (three distincts here would be three shuffles)
    e0 = edges.select(a.alias("u"), b.alias("v")).filter(
        F.col("u") != F.col("v")
    )
    # NOTE (r13 optimization round): key-partitioned checkpoints
    # measured NO gain here — the frontier/distance
    # tables are small enough that AQE broadcast-joins them, so the
    # static edge table is never shuffled per hop in the first place
    # and the extra repartition per generation is pure cost.  Keep
    # the plain checkpoints and let AQE plan each hop.
    sym = checkpoint(
        e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    dist = checkpoint(
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        neigh = (
            sym.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        fresh = neigh.join(dist.select("node"), "node", "left_anti").withColumn(
            "hops", F.lit(h)
        )
        # the settled probe rides the checkpoint job as an Observation
        # (the connected_components snapshot trick): one job per hop,
        # not two — job barriers are the floor for iterative ops
        nxt, m = checkpoint(
            dist.unionAll(fresh),
            observe=F.sum((F.col("hops") == h).cast("long")).alias("__nf"),
        )
        release(dist)
        dist = nxt
        if int(m["__nf"] or 0) == 0:
            break
        frontier = dist.filter(F.col("hops") == h).select("node")
    return dist


def shortest_path_costs(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "weight",
    node_col: str = "node",
) -> DataFrame:
    """Hop-bounded multi-source shortest-path costs: the minimum total
    edge weight from ANY source to each reachable node using at most
    ``max_hops`` edges (Bellman–Ford over the min-plus semiring,
    directed; symmetrize first for undirected graphs).  Returns
    ``(node, cost)`` — sources at 0, unreached nodes absent.  The
    weighted generalization of ``bfs_distances``: supply-chain cost
    radius, cheapest-route reachability, influence decay.

    Scale shape: each round is ONE equi-join of the previous round's
    IMPROVED-node frontier (delta Bellman–Ford — an unimproved node's
    offers already lost to the standing minimum, so skipping them is
    result-identical) against the static checkpointed edge table plus
    a map-side-combinable min aggregate — no frontier blowup beyond
    the reached set, and the hop cap bounds the rounds.  A round that improves
    nothing ends the iteration early (the remaining rounds would be
    identities, which is what makes a fixed-depth SQL unroll an exact
    oracle).  Distance generations are checkpointed and superseded
    generations released (storage bounded at two generations, the
    connected_components contract).

    Negative weights are permitted per Bellman–Ford but the hop cap is
    then a semantic parameter, not just a cost bound.  Determinism:
    with integral weights every candidate cost is exact, so min() is
    engine-independent; float weights share the usual last-ulp
    caveat.
    """
    # NOTE (r13 optimization round): key-partitioned checkpoints
    # measured NO gain here — the distance table is
    # small enough that AQE broadcast-joins it onto the static edge
    # table each round, so e is never re-shuffled anyway and the
    # extra repartition per generation is pure cost.
    e = checkpoint(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight_col).alias("w")
        )
    )
    dist = checkpoint(
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
    )
    # r13 optimization round — DELTA relaxation (the queue form of
    # Bellman–Ford): a node's cost can only improve through a
    # neighbor whose cost improved LAST round (an unimproved
    # neighbor's offers were already on the table the round they
    # first appeared and lost to the standing minimum), so each round
    # relaxes only from the previous round's improved set instead of
    # the whole distance table.  Round 1's "improved set" is the seed
    # table itself — identical to the non-delta round 1 — and the
    # frontier shrinks geometrically as regions settle; results are
    # bit-identical, the early-exit condition is unchanged.
    frontier = dist
    for _ in range(max_hops):
        # relax as a full-outer join against the candidate minima —
        # equivalent to min over (dist ∪ cand) per node, but the form
        # exposes a per-node `improved` flag that rides the checkpoint
        # job as an Observation: one job per round, no separate probe
        candmin = (
            e.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(
                F.col("v").alias("node"), (F.col("cost") + F.col("w")).alias("__new")
            )
            .groupBy("node")
            .agg(F.min("__new").alias("__new"))
        )
        nxt, m = checkpoint(
            dist.withColumnRenamed("cost", "__old")
            .join(candmin, "node", "full_outer")
            .select(
                "node",
                F.least(F.col("__old"), F.col("__new")).alias("cost"),
                (
                    F.col("__old").isNull()
                    | (F.col("__new").isNotNull() & (F.col("__new") < F.col("__old")))
                )
                .cast("long")
                .alias("__chg"),
            ),
            observe=F.sum("__chg").alias("__n_improved"),
        )
        # dist is a .select() of the previous generation; release
        # reaches the checkpoint behind it
        release(dist)
        dist = nxt.select("node", "cost")
        frontier = nxt.filter(F.col("__chg") == 1).select("node", "cost")
        if int(m["__n_improved"] or 0) == 0:
            break
    return dist


def label_spreading(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Synchronous semi-supervised label propagation (directed edges;
    symmetrize first for undirected semantics): seed nodes keep their
    labels permanently; every round each NON-seed node adopts the
    plurality label among its in-neighbors that were labeled at the
    end of the previous round (ties broken by the smallest label).
    Returns ``(node, label)`` for every node labeled after ``rounds``
    rounds — community assignment from a few annotated exemplars,
    nation/category spreading over a co-occurrence graph.

    Determinism is the design constraint: a FIXED round count plus the
    (count DESC, label ASC) tie order makes every round a pure
    function of the previous one, so an unrolled fixed-depth SQL is an
    exact oracle (the connected_components/shortest_path_costs
    pattern).  Per round: one equi-join of the labeled set against the
    static checkpointed edge table, a map-side-combinable
    (node, label) count, and a single-struct min to pick the
    plurality — no windows, no global sorts.  Label generations are
    checkpointed and the superseded generation released, so storage
    stays bounded at two generations.
    """
    # NOTE (r13 optimization round): a u-keyed pre-partitioned
    # checkpoint measured NO gain — the label table is node-sized, AQE
    # broadcast-joins it each round and e never re-shuffles; keep the
    # plain checkpoint.
    e = checkpoint(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    sd = checkpoint(
        seeds.select(F.col(node_col).alias("node"), F.col(label_col).alias("label"))
        .distinct()
    )
    lab = sd
    for _ in range(rounds):
        counts = (
            e.join(lab.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        picked = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("s")
            )
            .select("node", F.col("s.l").alias("label"))
        )
        nxt = checkpoint(
            sd.unionAll(picked.join(sd.select("node"), "node", "left_anti"))
        )
        if lab is not sd:
            release(lab)
        lab = nxt
    return lab


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Personalized PageRank: random-walk-with-restart proximity to a
    SEED set over the symmetrized graph — the restart mass lands only
    on seeds (1/|S| each), so scores rank every node by closeness to
    the seeds rather than global centrality.  Recommendation
    neighborhoods, related-entity expansion, seed-anchored relevance.
    Returns ``(node, score)`` rounded to 6 for nodes with any walk
    mass after ``iterations`` rounds (≤ ``iterations`` hops from a
    seed).

    Scale shape mirrors :func:`pagerank`: the symmetrized edge table
    and its out-degree side table are checkpointed ONCE; each
    iteration is one equi-join of the current (sparse — bounded by the
    seed neighborhood, not the node universe) score table onto edge
    sources plus a destination-keyed map-side-combined sum, then a
    full-outer recombination with the seed restart vector.  A fixed
    small ``iterations`` keeps the plan static and the unrolled SQL an
    exact-shape oracle (float last-ulp caveat as for pagerank).
    """
    a, b = F.col(src), F.col(dst)
    # unrolled lazy recurrence — same reasoning as pagerank: AQE's
    # runtime broadcast conversion beats static co-partitioning here
    sym = checkpoint(
        edges.select(a.alias("u"), b.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionAll(
            edges.select(b.alias("u"), a.alias("v")).filter(
                F.col("u") != F.col("v")
            )
        )
        .distinct()
    )
    deg = checkpoint(sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    n_seeds = seeds.select(F.col(node_col)).distinct().agg(
        F.count(F.lit(1)).alias("__ns")
    )
    seedw = checkpoint(
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .crossJoin(F.broadcast(n_seeds))
        .select("node", (F.lit(1.0) / F.col("__ns")).alias("__sm"))
    )
    ranks = seedw.select("node", F.col("__sm").alias("r"))
    for _ in range(iterations):
        contrib = (
            sym.join(
                deg.join(ranks.withColumnRenamed("node", "u"), "u"), "u"
            )
            .select(
                F.col("v").alias("node"), (F.col("r") / F.col("deg")).alias("__c")
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            contrib.join(seedw, "node", "full_outer")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.coalesce(F.col("__sm"), F.lit(0.0))
                    + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("node", F.round("r", 6).alias("score"))


def _symmetrized(e: DataFrame, max_degree: int | None) -> DataFrame:
    """Checkpointed symmetric, self-loop-free, distinct (u, v) edge
    table; with ``max_degree``, nodes above the cap are pruned from the
    graph entirely and the pre-prune table is freed at once."""
    sym = checkpoint(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if max_degree is None:
        return sym
    keep = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") <= max_degree)
        .select("u")
    )
    pruned = checkpoint(
        sym.join(F.broadcast(keep), "u")
        .join(F.broadcast(keep.select(F.col("u").alias("v"))), "v")
        .select("u", "v")
    )
    release(sym)
    return pruned


def neighbor_jaccard(
    edges: DataFrame,
    src: str,
    dst: str,
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood Jaccard similarity for node pairs sharing at least
    ``min_common`` neighbors — the classic link-prediction /
    "customers also bought" score: ``J(u,v) = |N(u) ∩ N(v)| /
    |N(u) ∪ N(v)|`` on the undirected graph.

    Candidate pairs come from a WEDGE join (two copies of the edge
    table keyed on the shared neighbor), so only pairs with ≥1 common
    neighbor are ever materialized — never an all-pairs product.  A
    center of degree d emits d·(d−1)/2 wedges, so hubs are the scale
    hazard; ``max_degree`` prunes nodes above the cap from the graph
    ENTIRELY before anything else (edges to hubs carry little
    similarity signal — the same reasoning that has Adamic–Adar
    downweight them to ~0), which keeps the semantics exact-on-the-
    pruned-graph rather than an uncontrolled undercount: degrees,
    intersections, and unions all agree on what a neighbor is.

    Shuffle shape: symmetrize+distinct (one shuffle), one degree
    aggregate, the center-keyed wedge self-join (equi-join on the
    center, AQE-skew-splittable), a (u,v)-keyed count, and two
    broadcast-sized degree joins.  The (pruned) symmetrized edge
    table is eagerly checkpointed — the degree aggregate and both
    wedge copies reference it, and without cutting lineage each
    reference re-executes the caller's whole upstream pipeline (for a
    co-purchase graph, the basket self-join) once per reference.
    Returns ``(u, v, n_common, jaccard)`` with ``u < v``, jaccard
    rounded to 6 decimals.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # NOTE (r13 optimization round): a v-keyed pre-partitioned
    # checkpoint measured ~1.5x SLOWER here — the wedge
    # self-join's two sides are byte-identical exchange subtrees that
    # runtime exchange reuse already collapses to ONE shuffle, with
    # AQE free to coalesce; the forced static-partition SMJ gave that
    # up and paid an extra repartition+sort at build.  Keep the plain
    # checkpoint.
    sym = _symmetrized(e, max_degree)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        sym.select(F.col("v").alias("w"), F.col("u").alias("a"))
        .join(sym.select(F.col("v").alias("w"), F.col("u").alias("b")), "w")
        .filter(F.col("a") < F.col("b"))
    )
    common = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common")
    ).filter(F.col("n_common") >= min_common)
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("__db"))
    return (
        common.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("__da") + F.col("__db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    src: str,
    dst: str,
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Adamic–Adar link-prediction scores: ``AA(u,v) = Σ_{w ∈ N(u) ∩
    N(v)} 1/ln(deg(w))`` over the undirected graph — the common-
    neighbor count with each shared neighbor down-weighted by how
    promiscuous it is (a wedge through a 2-degree node is strong
    evidence; one through a 10k-degree hub is none).

    Same wedge-join scale shape as :func:`neighbor_jaccard` — pairs
    materialize only through shared neighbors, never all-pairs — but
    the weight needs the CENTER's degree, so the degree table joins
    the (neighbor → center) edge list BEFORE the wedge self-join:
    still one center-keyed equi-join, with the weight riding the
    probe rows.  Degree-1 centers (ln 1 = 0) cannot form wedges, so
    the weight is always finite.  ``max_degree`` prunes hubs from the
    GRAPH (edges, degrees, wedges all agree), bounding the d·(d−1)/2
    wedge blow-up exactly as in neighbor_jaccard.

    The (pruned) symmetrized edge table is eagerly checkpointed
    (three references).  Returns ``(u, v, n_common, aa_score)`` with
    ``u < v``, score rounded to 6 decimals.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # plain checkpoint — same measurement as neighbor_jaccard: the
    # wedge join's identical exchange subtrees are runtime-reused, a
    # forced static partitioning was ~1.5x slower
    sym = _symmetrized(e, max_degree)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # center-keyed edge list carrying the center's ln-degree weight.
    # Degree-1 centers can't form wedges — drop them BEFORE the weight
    # so 1/ln(1) never evaluates (ANSI mode raises DIVIDE_BY_ZERO; the
    # filter also shrinks the wedge join's build side)
    wdeg = deg.filter(F.col("deg") >= 2).select(
        F.col("u").alias("w"),
        (F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("__w"),
    )
    centered = sym.select(F.col("v").alias("w"), F.col("u").alias("a")).join(
        wdeg, "w"
    )
    wedges = centered.join(
        sym.select(F.col("v").alias("w"), F.col("u").alias("b")), "w"
    ).filter(F.col("a") < F.col("b"))
    return (
        wedges.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("__w").alias("__aa"),
        )
        .filter(F.col("n_common") >= min_common)
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            F.round(F.col("__aa"), 6).alias("aa_score"),
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: ``C(v) = 2·T(v) /
    (deg(v)·(deg(v)−1))`` — the fraction of a node's neighbor pairs
    that are themselves connected, the standard cohesion signal of
    the near-dup candidate graph (C ≈ 1 = mutually-confirming
    duplicate family; C ≈ 0 = chain/star evidence worth a second
    look before collapsing).

    Composes :func:`triangle_counts` (degree-ordered orientation —
    the hub-safe wedge enumeration) with one degree aggregate and a
    left join so triangle-free nodes report 0.0 rather than vanish.
    Degree-1 nodes (no neighbor pairs) report 0.0 by convention.
    Returns ``(node, deg, n_triangles, coeff)`` with coeff rounded to 6
    decimals.
    """
    a, b = F.col(src), F.col(dst)
    e = checkpoint(
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    tri = triangle_counts(e, "a", "b")
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.join(tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(F.col("deg") < 2, F.lit(0.0))
        .otherwise(
            F.round(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1))),
                6,
            )
        )
        .alias("coeff"),
    )


def contract_edges(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Partition-local spanning-forest contraction — the standard
    pre-pass for connected components over DENSE pair graphs (a
    verified fuzzy-match graph routinely carries avg degree in the
    hundreds: 5.5M edges over 20k parts at sf0.1): each partition
    runs union-find over ITS slice and keeps only the edges that
    actually merged two trees, discarding every intra-tree duplicate.
    The union of per-partition spanning forests preserves the union
    graph's components exactly (any path survives edge-by-edge: each
    edge either survives or its endpoints were already connected
    within that partition), while the edge count drops from |E| to
    at most Σ(per-partition node count − 1) — for the ER graph,
    5.5M → ~40k, which puts the follow-up ``connected_components``
    under its driver-finish threshold instead of paying distributed
    rounds over millions of rows.

    Arrow-batched ``mapInPandas``; union-find state lives per
    PARTITION (across that partition's batches).  Output keeps the
    input column names and types.  Which spanning edges survive
    depends on partitioning — components (min-label) are invariant
    to that choice, which is the only contract downstream CC needs.

    Two contraction passes, the second over the surviving forest
    repartitioned 8× narrower (the tree-reduce shape): one pass bounds
    output at Σ per-partition (V−1) — with P partitions that can still
    be ~P·V — while the second pass over P/8 partitions collapses the
    overlap between the partial forests.  The two passes take the
    sf0.1 ER graph 5.5M → 639k → ~80k, under ``connected_components``'
    driver-finish gate.

    MEASURED local[32] trade-off (sf0.1 fuzzy ER graph, round 9):
    the two passes cost ~6.5 s of Arrow transfer + Python union-find
    where the CC rounds they eliminate cost ~2 s (5.0 → 3.3 s CC) —
    a NET LOSS locally, so the batch ER queries do not use it.  The
    trade flips when per-round cost is dominated by the fleet-wide
    stage barrier rather than local compute (the 1000-executor
    regime this operator exists for), and the contraction also
    bounds CC's peak shuffle at forest size instead of |E| — the
    memory argument stands regardless of wall-clock.
    """
    import pandas as pd

    schema = edges.select(src_col, dst_col).schema

    def per_partition(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            keep_a, keep_b = [], []
            for a, b in zip(pdf[src_col], pdf[dst_col]):
                for v in (a, b):
                    if v not in parent:
                        parent[v] = v
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
                    keep_a.append(a)
                    keep_b.append(b)
            if keep_a:
                yield pd.DataFrame({src_col: keep_a, dst_col: keep_b})

    out = edges.select(src_col, dst_col)
    narrow = max(1, out.rdd.getNumPartitions() // 8)
    forest = out.mapInPandas(per_partition, schema=schema)
    return forest.repartition(narrow).mapInPandas(per_partition, schema=schema)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999, public method) over the
    DIRECTED edge set: authority(j) = Σ hub(i) over in-edges,
    hub(i) = Σ auth(j) over out-edges, L1-normalized (norms are pure
    scale factors on a linear recurrence, so normalizing once at the
    end equals normalizing every half-step — see the loop comment).
    On a bipartite purchase graph (customer → part) hubs are the
    broad buyers and authorities the widely-bought items.

    Scale shape: the deduped edge table is eagerly checkpointed
    once (every iteration references it); each half-step is ONE
    equi-join (scores onto the matching edge endpoint) + one keyed sum
    with map-side partials, and each final L1 norm is ONE scalar
    broadcast back — the contribution-passing pagerank formulation,
    transposed per half-step.  A fixed small ``iterations`` keeps the
    plan static and oracle-expressible.  Returns ``(node, side,
    score)`` with
    side ∈ {'hub','auth'} and score rounded to 6; nodes with no
    out-edges (resp. in-edges) carry no hub (resp. auth) row.
    """
    # NOTE (r13 optimization round): a pre-partitioned two-copy edge
    # checkpoint (u-keyed + v-keyed, exchange-free SMJs) was measured
    # at 2.5x SLOWER here — this unrolled LAZY recurrence runs as one
    # adaptive query, where AQE runtime-converts every half-step join
    # to broadcast-hash (score sides are node-sized) and reuses the
    # edge exchanges, beating static co-partitioning; forcing 32-
    # static-partition SMJs disabled both.  Keep the single
    # unpartitioned checkpoint and let AQE plan the joins.
    e = checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    )
    hub = e.select("u").distinct().select("u", F.lit(1.0).alias("h"))
    auth = None
    # HITS is LINEAR, so the per-half-step L1 norms are pure scalar
    # factors that cancel when normalizing at the end — mathematically
    # identical scores, but each intermediate is referenced exactly
    # ONCE (a norm inside the loop would double plan references per
    # half-step: 2^(2·iters) evaluations of the edge join).  Raw
    # values grow like (mean degree)²·ᵏ — ~1e33 at web scale for
    # k = 3, far inside double range.
    for _ in range(iterations):
        auth = (
            e.join(hub, "u")
            .groupBy("v")
            .agg(F.sum("h").alias("a"))
        )
        hub = (
            e.join(auth, "v")
            .groupBy("u")
            .agg(F.sum("a").alias("h"))
        )
    nh = hub.agg(F.sum("h").alias("__nh"))
    na = auth.agg(F.sum("a").alias("__na"))
    hub = hub.crossJoin(F.broadcast(nh)).select(
        "u", (F.col("h") / F.col("__nh")).alias("h")
    )
    auth = auth.crossJoin(F.broadcast(na)).select(
        "v", (F.col("a") / F.col("__na")).alias("a")
    )
    return hub.select(
        F.col("u").alias("node"),
        F.lit("hub").alias("side"),
        F.round("h", 6).alias("score"),
    ).unionAll(
        auth.select(
            F.col("v").alias("node"),
            F.lit("auth").alias("side"),
            F.round("a", 6).alias("score"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Newman degree assortativity of the undirected graph: the
    Pearson correlation between the degrees at the two ends of every
    edge — positive means hubs attach to hubs (social-network shape),
    negative means hubs attach to leaves (hub-and-spoke /
    infrastructure shape).  The one-number summary that tells you
    whether hub-pruning (the max_degree gates in neighbor_jaccard /
    adamic_adar) will bite.

    Each undirected edge contributes BOTH orientations (the standard
    convention, making the measure symmetric); self-loops are dropped
    and duplicate edges collapse first.

    Scale shape: symmetrize+distinct (one shuffle), one degree
    aggregate, two broadcast-or-shuffle degree joins keyed on node,
    then ONE scalar aggregate of exact integer sums (degrees are
    ints; sum(d_u * d_v) over E edges at degree ≤ 1e6 stays inside
    DECIMAL(38,0) headroom by ~20 orders) with the correlation
    assembled in doubles on the single output row — engine-exact.
    The symmetrized edge table is eagerly checkpointed — degree, pair,
    and node-count stages all reference it, and without cutting
    lineage each reference re-executes the caller's upstream edge
    build (for a co-purchase graph, the basket self-join).

    Returns one row: (n_nodes, n_directed_edges, assortativity).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
    )
    sym = checkpoint(
        e.select("u", "v")
        .union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    pairs = sym.join(du, "u").join(dv, "v")
    x = F.col("du").cast("decimal(38,0)")
    y = F.col("dv").cast("decimal(38,0)")
    tot = pairs.groupBy().agg(
        F.count(F.lit(1)).alias("n_directed_edges"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sx2"),
        F.sum(y * y).alias("__sy2"),
    )
    n_nodes = deg.groupBy().agg(F.count(F.lit(1)).alias("n_nodes"))
    joined = tot.crossJoin(F.broadcast(n_nodes))
    n = F.col("n_directed_edges").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sx2 = F.col("__sx2").cast("double")
    sy2 = F.col("__sy2").cast("double")
    num = n * sxy - sx * sy
    den2 = (n * sx2 - sx * sx) * (n * sy2 - sy * sy)
    r = F.when(den2 > 0, num / F.sqrt(den2))
    return joined.select(
        "n_nodes",
        "n_directed_edges",
        F.round(r, 6).alias("assortativity"),
    )


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Sampled harmonic centrality: ``C_H(v) = Σ_s 1/d(s, v)`` over a
    pinned SOURCE SAMPLE, distances capped at ``max_hops`` — the
    practical form of closeness/harmonic centrality at scale (exact
    all-pairs is O(V·E); a fixed source sample with a hop cap is the
    standard estimator, and because the sample is an input the
    result is deterministic and oracle-checkable).

    Scale shape (r13 optimization round): a BIT-PACKED multi-source
    BFS — the k sources become bit positions in ceil(k/64) long
    words, so the per-node state is a fixed-width mask vector instead
    of k interleaved (source, node) rows, and each hop is ONE
    map-side-combinable ``bit_or`` aggregate over the frontier's edge
    expansion plus one keyed state merge.  The per-hop shuffle
    carries node-grain rows (≤ |nodes| after partial aggregation),
    never k × frontier rows, and the standing state is
    node-cardinality instead of (source × node) — the k-fold shuffle
    and storage reduction that makes a bigger source sample
    affordable.  The edge table and the state generations are
    plain eager checkpoints — an in-session A/B showed the
    keyed partition-preserving form ~1.3x slower here (the frontier
    is broadcastable and AQE coalesces the node-grain exchanges);
    the settled probe rides each hop's checkpoint as an Observation.  First-discovery
    hops per (source, node) are identical to the labeled-BFS form:
    ``new = expansion & ~seen`` admits a source bit exactly once, at
    its minimum hop distance.

    Returns ``(node, n_sources, harmonic)`` for every node reached by
    at least one source at distance >= 1 (sources do not score
    themselves; unreached node/source pairs contribute 0 by absence).
    """
    from functools import reduce as _reduce
    from operator import or_ as _or

    a, b = F.col(src), F.col(dst)
    e0 = edges.select(a.alias("u"), b.alias("v")).filter(
        F.col("u") != F.col("v")
    )
    # plain eager checkpoint — the keyed partition-preserving form was
    # measured ~1.3x slower here and reverted (see docstring)
    sym = checkpoint(
        e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    from pyspark.sql import Window

    # deterministic bit index per distinct source (the sample is a
    # bounded input by contract, so the k-row global window is fine)
    idx = checkpoint(
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .select(
            "node",
            (F.row_number().over(Window.orderBy("node")) - 1).alias("__i"),
        )
    )
    # control-plane scalar (sample-sized): fixes the mask width
    k = idx.count()
    nw = max(1, (k + 63) // 64)
    # NB: F.shiftleft takes a literal int shift — the per-row shift
    # needs the SQL form
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__i % 64 AS INT))")

    def word(w: int) -> F.Column:
        return F.when(
            (F.col("__i") / 64).cast("int") == w, bit
        ).otherwise(F.lit(0).cast("long"))

    # state: per node the already-seen source mask, the fresh-frontier
    # mask, and the running (n_sources, harmonic) accumulators
    state = checkpoint(
        idx.select(
            "node",
            *[word(w).alias(f"__s{w}") for w in range(nw)],
            *[word(w).alias(f"__f{w}") for w in range(nw)],
            F.lit(0).cast("long").alias("n_sources"),
            F.lit(0.0).alias("harmonic"),
        )
    )
    release(idx)
    for h in range(1, max_hops + 1):
        frontier = state.filter(
            _reduce(_or, [F.col(f"__f{w}") != 0 for w in range(nw)])
        ).select(
            F.col("node").alias("u"),
            *[F.col(f"__f{w}") for w in range(nw)],
        )
        cand = (
            sym.join(frontier, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(
                *[
                    F.bit_or(F.col(f"__f{w}")).alias(f"__c{w}")
                    for w in range(nw)
                ]
            )
        )
        merged = state.join(cand, "node", "full_outer").select(
            "node",
            *[
                (
                    F.coalesce(F.col(f"__c{w}"), F.lit(0)).bitwiseAND(
                        F.bitwise_not(
                            F.coalesce(F.col(f"__s{w}"), F.lit(0))
                        )
                    )
                ).alias(f"__n{w}")
                for w in range(nw)
            ],
            *[F.coalesce(F.col(f"__s{w}"), F.lit(0)).alias(f"__s{w}") for w in range(nw)],
            F.coalesce(F.col("n_sources"), F.lit(0)).alias("n_sources"),
            F.coalesce(F.col("harmonic"), F.lit(0.0)).alias("harmonic"),
        )
        popc = _reduce(
            lambda x, y: x + y,
            [F.bit_count(F.col(f"__n{w}")) for w in range(nw)],
        ).cast("long")
        nxt, m = checkpoint(
            merged.select(
                "node",
                *[
                    F.col(f"__s{w}")
                    .bitwiseOR(F.col(f"__n{w}"))
                    .alias(f"__s{w}")
                    for w in range(nw)
                ],
                *[F.col(f"__n{w}").alias(f"__f{w}") for w in range(nw)],
                (F.col("n_sources") + popc).alias("n_sources"),
                (
                    F.col("harmonic")
                    + popc.cast("double") / F.lit(float(h))
                ).alias("harmonic"),
                popc.alias("__new"),
            ),
            observe=F.sum("__new").alias("__nf"),
        )
        # state may be a .drop() of the previous generation; release
        # reaches the checkpoint behind it
        release(state)
        state = nxt.drop("__new")
        if int(m["__nf"] or 0) == 0:
            break
    return state.filter(F.col("n_sources") > 0).select(
        "node", "n_sources", F.round("harmonic", 6).alias("harmonic")
    )
