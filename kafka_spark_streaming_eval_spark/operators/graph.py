"""Iterative graph algorithms as DataFrame loops (north-star surface).

The reference has no graph surface; this module supplies the canonical
iterative-algorithm shape — PageRank — expressed as a driver loop of
declarative per-iteration plans (join + aggregate), the same pattern as
``dedup_cluster_components``'s label propagation.  No GraphX/RDDs: each
iteration is one equi-join of the rank vector against the edge list and one
aggregation, so at web scale (billions of edges) it is exactly E/P work per
round with one shuffle keyed on the node id; ``localCheckpoint`` truncates
the lineage each round (reliable checkpointing on a real cluster).

Determinism contract: the usual decimal-sum trick is not enough here —
ranks are full-precision doubles whose double→decimal cast can disagree
cross-engine in the last ulp.  Instead each contribution is quantized to an
integer grid (``floor(rank·f·1e15)``): floor is tie-free on identical IEEE
inputs, BIGINT sums are exact and order-independent, and the per-node total
stays far below 2^53 so the cast back to double is exact.  Both engines
therefore run the *identical* rank trajectory for all iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.catalog import table
from kafka_spark_streaming_eval_spark.functions.numeric import dsum, dsum_sql
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import (
    INTASK_MAX_EDGES,
    counted_checkpoint,
    iter_checkpoint,
    prep,
)

PR_ITERS = 15
PR_DAMP = 0.85  # literal 0.85/0.15 mirrored as CAST(... AS DOUBLE) in SQL
_Q = "1e15"  # contribution quantization grid


def _pagerank_intask(n_iters: int, damp: float):
    """The exact PageRank trajectory of the DataFrame loop below, as one
    vectorized task: every arithmetic step is the same IEEE-754 double op
    in the same order — (rank*f)*1e15, floor, exact int64 per-dst sum,
    int64->double cast, /1e15, *damp, +0.15/n — so the 15-round result is
    bit-identical to the join+agg formulation (asserted by
    tests/test_properties.py::test_pagerank_intask_matches_dataframe_loop
    and the oracle's recursive CTE)."""

    def run(pdfs):
        import numpy as np
        import pandas as pd

        frames = list(pdfs)
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True)
        # the f=0/f=1 self-loop rows enumerate every node, so the node
        # universe (and n) is recoverable from frac alone
        nodes = pd.Index(
            pd.unique(pd.concat([df["src"], df["dst"]], ignore_index=True))
        )
        n = len(nodes)
        if n == 0:
            return
        src_i = nodes.get_indexer(df["src"].to_numpy())
        dst_i = nodes.get_indexer(df["dst"].to_numpy())
        f = df["f"].to_numpy(dtype=np.float64)
        rank = np.full(n, 1.0 / n, dtype=np.float64)
        for _ in range(n_iters):
            cb = np.floor((rank[src_i] * f) * 1.0e15).astype(np.int64)
            s = np.zeros(n, dtype=np.int64)
            np.add.at(s, dst_i, cb)  # exact, order-independent BIGINT sum
            rank = 0.15 / n + damp * (s.astype(np.float64) / 1.0e15)
        yield pd.DataFrame({"node": nodes.to_numpy(), "pagerank": rank})

    return run


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-to-nation trade graph: edge (customer nation → supplier
    nation) weighted by exact-decimal lineitem revenue.  Dimension sides
    broadcast; the only shuffle is the final groupBy on the edge key."""
    prep(spark)
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(dsum("l_extendedprice").alias("w"))
    )


_EDGES_SQL = f"""
  SELECT cn.n_name AS src, sn.n_name AS dst, {dsum_sql('l_extendedprice')} AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY 1, 2
"""


@register(
    "graph_pagerank_trade",
    "graph",
    oracle=f"""
    WITH RECURSIVE base AS ({_EDGES_SQL}),
    -- DISTINCT-over-UNION-ALL, not bare UNION: inside WITH RECURSIVE DuckDB
    -- compiles a two-branch UNION as a recursive union and skips the dedup.
    nodes AS (
      SELECT DISTINCT src
      FROM (SELECT src FROM base UNION ALL SELECT dst FROM base)
    ),
    outw AS (SELECT src, {dsum_sql('w')} AS ow FROM base GROUP BY src),
    frac AS (
      SELECT e.src, e.dst, e.w / o.ow AS f FROM base e JOIN outw o USING (src)
      UNION ALL
      SELECT n.src, n.src,
             CASE WHEN o.src IS NULL THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END
      FROM nodes n LEFT JOIN outw o ON n.src = o.src
    ),
    nn AS (SELECT count(*) AS n FROM nodes),
    pr(iter, node, rank) AS (
      SELECT 0, src, CAST(1.0 AS DOUBLE)/(SELECT n FROM nn) FROM nodes
      UNION ALL
      SELECT iter+1, f.dst,
             CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
               + CAST(0.85 AS DOUBLE) *
                 (CAST(SUM(CAST(floor(pr.rank * f.f * {_Q}) AS BIGINT)) AS DOUBLE)
                  / {_Q})
      FROM pr JOIN frac f ON pr.node = f.src
      WHERE iter < {PR_ITERS}
      GROUP BY iter+1, f.dst
    )
    SELECT node, rank AS pagerank FROM pr WHERE iter = {PR_ITERS}
    """,
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph, {PR_ITERS} synchronous
    iterations, damping 0.85.  Nodes are all nations on either edge end;
    dangling nodes (no outgoing volume) hold their mass via an f=1
    self-loop, and every node additionally carries an f=0 self-loop so it
    receives a contribution row each round even with no real in-edges —
    the transition matrix is exactly stochastic and total mass stays 1
    (up to the 1e-15 quantization grid; asserted in
    tests/test_properties.py).  Each iteration: rank ⨝ edge-fractions
    (hash join on the node id) → per-target BIGINT sum of quantized
    contributions → affine damping step.  The oracle replays the identical
    trajectory as a recursive CTE — exact equality after 15 rounds proves
    both engines agree bit-for-bit.  Scale: node state and edges stay
    partitioned by node id; the driver never sees a row, only the loop
    counter."""
    # Checkpoint the AGGREGATED edge table first (|nations|^2 rows, tiny):
    # nodes, outw, frac and the rank seed all derive from it, and without
    # this truncation each of their materializations replays the 5-table
    # corpus join — the edge build ran ~3x per invocation (frac checkpoint,
    # node count, first rank checkpoint).  One corpus scan total now; the
    # checkpointed state is O(nodes^2), never corpus-sized (r14, guide §2.4
    # "remove shuffles outright" applied to repeated lineage).
    base, m_edges = counted_checkpoint(trade_edges(spark, sf_dir))
    nodes = (
        base.select("src").union(base.select(F.col("dst").alias("src"))).distinct()
    )
    outw = base.groupBy("src").agg(dsum("w").alias("ow"))
    frac = (
        base.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("f"))
        .unionByName(
            nodes.join(outw, "src", "left").select(
                "src",
                F.col("src").alias("dst"),
                F.when(F.col("ow").isNull(), F.lit(1.0))
                .otherwise(F.lit(0.0))
                .alias("f"),
            )
        )
    )
    # Tiny-graph fast path (guide §2.4, VERDICT r14 item 4): the r14 loop
    # spent its time in 15 per-iteration broadcast builds + 3 eager
    # checkpoints, not shuffles (phase A/B at sf0.1: loop segment ~3.3 s of
    # the 3.7 s total).  Below INTASK_MAX_EDGES the whole loop runs as
    # one vectorized task over the checkpointed 1-partition frac — same
    # trajectory bit-for-bit (see _pagerank_intask), one job instead of
    # ~18.  The checkpoint stays so the returned plan is a checkpoint scan
    # (no Join), keeping Catalyst analysis flat exactly as before.  frac
    # carries at most 3 rows per edge (every node appears on some edge, one
    # self-loop row per node); m_edges came with base's checkpoint job.
    if m_edges <= INTASK_MAX_EDGES:
        frac1 = iter_checkpoint(frac.coalesce(1))
        return frac1.mapInPandas(
            _pagerank_intask(PR_ITERS, PR_DAMP), "node string, pagerank double"
        )

    n = nodes.count()  # node count: tiny scalar, the loop's only driver value
    # Size the loop's partitioning to the state, not the session default:
    # ~50k nodes per partition, capped at the session shuffle parallelism.
    # 25 nations → 1 partition (no 32-way shuffles of 25 rows per round);
    # a billion-node graph → full parallelism.
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    loop_parts = max(1, min(sess_parts, n // 50_000 + 1))
    frac = iter_checkpoint(frac.coalesce(loop_parts))
    ranks = nodes.select(F.col("src").alias("node"), (F.lit(1.0) / n).alias("rank"))
    ranks = ranks.coalesce(loop_parts)
    for it in range(PR_ITERS):
        if loop_parts == 1:
            # Single-partition loop state (small graphs): broadcast the rank
            # vector and stream the 1-partition frac — the join needs no
            # exchange, and the groupBy below none either (a SinglePartition
            # child satisfies ClusteredDistribution), so each iteration is
            # ZERO shuffles instead of one 1-partition exchange (r14 A/B at
            # sf0.1: loop segments 2.4 s -> 2.0 s; trajectory bit-identical
            # — same join, same quantized sum).
            joined = frac.join(F.broadcast(ranks), ranks.node == frac.src)
        else:
            joined = ranks.join(frac, ranks.node == frac.src)
        contrib = joined.select(
            F.col("dst").alias("node"),
            F.floor(F.col("rank") * F.col("f") * F.lit(1.0e15)).alias("cb_i"),
        )
        if 1 < loop_parts < sess_parts:
            # Tiny-state loop: pin the per-iteration exchange to loop_parts
            # with an EXPLICIT keyed repartition — the aggregate below reuses
            # that partitioning (ClusteredDistribution satisfied), so no
            # session-sized shuffle is planned.  Without this, every one of
            # the {PR_ITERS} groupBys starts at AQE's initialPartitionNum
            # (8x parallelism since r7) and pays 15x the coalesce/launch
            # overhead to move ~650 rows (A/B-measured +8-13% wall at
            # sf0.1).  At large n, loop_parts == sess_parts and the normal
            # partial-agg + adaptive exchange path is kept — map-side
            # combine matters when in-degree is high.
            contrib = contrib.repartition(loop_parts, "node")
        ranks = contrib.groupBy("node").agg(
            (
                F.lit(0.15) / n
                + F.lit(PR_DAMP) * (F.sum("cb_i").cast("double") / F.lit(1.0e15))
            ).alias("rank")
        )
        # Checkpoint every 5th round (and the last): A/B at sf0.1 showed
        # every-3rd spends ~17% more wall time on extra materialization
        # jobs, while every-8th gains nothing further (plan-depth cost
        # plateaus) — 5 is the measured knee.
        if it % 5 == 4 or it == PR_ITERS - 1:
            ranks = iter_checkpoint(ranks)
    return ranks.select("node", F.col("rank").alias("pagerank"))


BFS_MAX_HOPS = 6


@register(
    "graph_bfs_shortest_path",
    "graph",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE (c.c_nationkey * 31 + s.s_nationkey * 17) % 7 < 2
        AND c.c_nationkey <> s.s_nationkey
    ),
    bfs AS (
      SELECT CAST(0 AS INTEGER) AS node, CAST(0 AS INTEGER) AS dist
      UNION
      SELECT e.dst, bfs.dist + 1
      FROM bfs JOIN edges e ON e.src = bfs.node
      WHERE bfs.dist < {BFS_MAX_HOPS}
    )
    SELECT node, min(dist) AS hops FROM bfs GROUP BY node
    """,
)
def graph_bfs_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted single-source shortest path (BFS hop count) over the
    nation-to-nation trade graph, sparsified by a deterministic key
    predicate so the graph has real multi-hop structure (the raw trade
    graph is near-complete).  The Spark side is the frontier-relaxation
    loop: each round joins the current distance vector against the edge
    list and folds ``min`` per node — one shuffle keyed on node id per
    round, E/P work, the exact shape of Pregel's BFS superstep.  The
    oracle is the textbook recursive CTE with ``UNION`` (set) semantics;
    both engines converge to identical integer hop counts because hops
    are exact and the iteration cap is shared.  ``localCheckpoint``
    truncates lineage each round, same as ``graph_pagerank_trade``.  At
    web scale the distance vector partitions by node and the edge list is
    the only big operand — BFS state is O(V), never O(paths)."""
    prep(spark)
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .select(
            c.c_nationkey.cast("int").alias("src"),
            s.s_nationkey.cast("int").alias("dst"),
        )
        .where(
            ((F.col("src") * 31 + F.col("dst") * 17) % 7 < 2)
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    # Size the loop partitioning to the state, exactly like pagerank's
    # loop_parts: the edge list is materialized once, counted (tiny job on
    # the checkpointed frame), and the whole relaxation loop runs on
    # loop_parts partitions — 1 for the 25-nation graph, scaling with edge
    # count on big graphs (r14; the every-round eager checkpoint + 6
    # session-sized exchanges were ~4.5 s of pure scheduling at sf0.1).
    edges = iter_checkpoint(edges)  # materialize once; 6 rounds re-join this
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    loop_parts = max(1, min(sess_parts, edges.count() // 50_000 + 1))
    edges = edges.coalesce(loop_parts)
    # Materialize the 1-row seed BEFORE coalescing it: a Python-created
    # DataFrame is backed by a defaultParallelism-sliced pickled RDD, and
    # coalesce(1) directly on it funnels every slice through ONE sequential
    # Python-runner task (minimal repro r14: createDataFrame.coalesce(1)
    # .count() = 5.4 s vs 0.5 s via checkpoint-then-coalesce — the stall
    # behind this loop's first round).  Checkpointed-then-coalesced, round 0
    # costs the same ~0.2 s as every later round.
    dist = iter_checkpoint(
        spark.createDataFrame([(0, 0)], "node int, dist int")
    ).coalesce(1)
    for it in range(BFS_MAX_HOPS):
        nxt = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        upd = dist.unionByName(nxt)
        if loop_parts == 1:
            # the 2-partition union (dist + nxt) must fold back to ONE
            # partition or the groupBy plans a session-sized exchange;
            # coalesce is narrow — with both loop operands single-partition
            # the whole superstep then runs shuffle-free
            upd = upd.coalesce(1)
        elif loop_parts < sess_parts:
            # mid-size state: pin the per-round exchange to loop_parts with
            # a keyed repartition the min-fold below reuses, exactly as
            # pagerank's loop does — without it the groupBy plans at AQE's
            # initialPartitionNum every round (ADVICE r14: the loop_parts
            # sizing comment was only true for the ==1 branch)
            upd = upd.repartition(loop_parts, "node")
        dist = upd.groupBy("node").agg(F.min("dist").alias("dist"))
        # Checkpoint EVERY round: dist feeds both the relaxation join and
        # the union, so an unmaterialized round doubles the replay of the
        # previous segment per round (2^k between checkpoints — measured
        # 4.5 s -> 19.9 s when this was relaxed to every 3rd round in r14).
        dist = iter_checkpoint(dist)
    return dist.select("node", F.col("dist").alias("hops"))


def triangle_counts(und_any: DataFrame) -> DataFrame:
    """Per-node triangle participation for an edge DataFrame with columns
    (src, dst) — direction/duplicates/self-loops tolerated.  See
    ``graph_triangle_count`` for the orientation argument; factored out so
    property tests can drive it with arbitrary planted graphs."""
    und = (
        und_any.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # degree tables are O(|nodes|): no broadcast hint — AQE picks broadcast
    # when they fit and a shuffle join when they don't (billion-node graphs)
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("x"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("y"),
        )
    )
    # Materialize the oriented edge list once: it feeds three join branches
    # (both wedge sides + the closure probe) and Spark would otherwise
    # replay the upstream edge build per branch — 3 corpus scans instead of 1.
    oriented = iter_checkpoint(oriented)
    w1 = oriented.select(F.col("x"), F.col("y").alias("y1"))
    w2 = oriented.select(F.col("x"), F.col("y").alias("y2"))
    wedges = w1.join(w2, "x").where(F.col("y1") < F.col("y2"))
    # wedge (x; y1<y2) closes iff the UNORDERED pair (y1, y2) is an edge;
    # canonicalizing the closure side keeps this a hashable equi-join (an
    # OR-of-orientations predicate would degenerate to nested-loop).
    closure = oriented.select(
        F.least("x", "y").alias("y1"), F.greatest("x", "y").alias("y2")
    )
    tri = wedges.join(closure, ["y1", "y2"]).select(
        F.col("x").alias("n1"), F.col("y1").alias("n2"), F.col("y2").alias("n3")
    )
    corners = (
        tri.select(F.col("n1").alias("node"))
        .unionAll(tri.select(F.col("n2").alias("node")))
        .unionAll(tri.select(F.col("n3").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "graph_triangle_count",
    "graph",
    oracle=f"""
    WITH base AS ({_EDGES_SQL}),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM base WHERE src <> dst
    ),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
      ) GROUP BY n
    ),
    oriented AS (
      -- direct each edge from the (degree, name)-smaller endpoint: every
      -- triangle gets exactly one wedge rooted at its smallest corner
      SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS x,
             CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS y
      FROM und u
      JOIN deg da ON u.a = da.n
      JOIN deg db ON u.b = db.n
    ),
    tri AS (
      -- wedge (x; y1<y2) closes iff the UNORDERED pair (y1, y2) is an edge;
      -- canonicalizing the closure side keeps this a pure equi-join
      SELECT w1.x AS n1, w1.y AS n2, w2.y AS n3
      FROM oriented w1
      JOIN oriented w2 ON w1.x = w2.x AND w1.y < w2.y
      JOIN (SELECT least(x, y) AS p, greatest(x, y) AS q FROM oriented) e
        ON e.p = w1.y AND e.q = w2.y
    )
    SELECT node, count(*) AS n_triangles FROM (
      SELECT n1 AS node FROM tri
      UNION ALL SELECT n2 FROM tri
      UNION ALL SELECT n3 FROM tri
    ) GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the undirected nation trade
    graph — the clustering-coefficient numerator, and the classic test of
    whether a join engine can do graph-shaped self-joins without blowing
    up.  Edges are ORIENTED from the (degree, name)-lexicographically
    smaller endpoint before the wedge join, so each triangle is generated
    exactly once and — the scale property — wedge fan-out is bounded by the
    max ORIENTED out-degree, O(sqrt(edges)) on any graph, instead of the
    unbounded hub degree a naive neighbor self-join hits on skewed graphs.
    Plan: two corpus-sized hash joins (wedge build on the root, closure
    probe on the far edge), everything keyed, no cartesian."""
    return triangle_counts(trade_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Link prediction (common neighbors / Jaccard / Adamic-Adar)
# ---------------------------------------------------------------------------

LP_DEGREE_CAP = 64  # wedge centers above this degree carry ~no signal
LP_TOPK = 20
_LP_AA_GRID = "1000000000000"  # 1e12 quantization for the Adamic-Adar sum

_LP_EDGES_SQL = """
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                  greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE (c.c_nationkey * 31 + s.s_nationkey * 17) % 7 < 2
    AND c.c_nationkey <> s.s_nationkey
"""


@register(
    "graph_link_prediction",
    "graph",
    oracle=f"""
    WITH und AS ({_LP_EDGES_SQL}),
    nbr AS (
      SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT x AS n, count(*) AS d FROM nbr GROUP BY x),
    cand AS (
      SELECT n1.y AS u, n2.y AS v,
             count(*) AS n_common,
             CAST(sum(CAST(floor({_LP_AA_GRID} / dx.d) AS BIGINT)) AS BIGINT)
               AS aa_score_q
      FROM nbr n1
      JOIN nbr n2 ON n1.x = n2.x AND n1.y < n2.y
      JOIN deg dx ON n1.x = dx.n
      WHERE dx.d <= {LP_DEGREE_CAP}
      GROUP BY n1.y, n2.y
    ),
    nonedges AS (
      SELECT c.* FROM cand c
      ANTI JOIN und e ON e.a = c.u AND e.b = c.v
    )
    SELECT u, v, n_common,
           round(n_common * 1.0 / (du.d + dv.d - n_common), 6) AS jaccard,
           aa_score_q
    FROM nonedges
    JOIN deg du ON u = du.n
    JOIN deg dv ON v = dv.n
    QUALIFY row_number() OVER (ORDER BY aa_score_q DESC, u, v) <= {LP_TOPK}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the sparsified trade graph: for every
    NON-adjacent node pair, count common neighbors and score the pair by
    Jaccard overlap and Adamic-Adar.  Determinism contract: Adamic-Adar's
    sum of 1/deg terms is order-sensitive in floats, so each term is
    quantized to the integer grid floor(1e12/deg) and summed as BIGINT —
    exact, order-independent, identical on both engines (same trick as
    PageRank's contribution grid); Jaccard is one division of identical
    integers.

    Scale posture: the wedge join's fan-out is deg(x)^2 per common
    neighbor x, so wedge centers are capped at degree {LP_DEGREE_CAP}
    (mirrored in the oracle) — on a skewed 100 TB graph the hub wedges
    are both the blow-up AND the noise (a neighbor shared with everyone
    predicts nothing; Adamic-Adar already discounts it ~1/deg), which is
    why production link prediction drops or samples hubs.  Everything is
    keyed equi-joins; the candidate set, not the corpus, flows into the
    anti-join against existing edges."""
    prep(spark)
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    und = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .select(
            c.c_nationkey.cast("int").alias("src"),
            s.s_nationkey.cast("int").alias("dst"),
        )
        .where(
            ((F.col("src") * 31 + F.col("dst") * 17) % 7 < 2)
            & (F.col("src") != F.col("dst"))
        )
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    # feeds 3 branches (both wedge sides + the anti-join) — materialize
    # once instead of replaying the 4-table join per branch
    und = iter_checkpoint(und)
    nbr = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = nbr.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    n1 = nbr.select("x", F.col("y").alias("u"))
    n2 = nbr.select("x", F.col("y").alias("v"))
    dx = deg.where(F.col("d") <= LP_DEGREE_CAP)
    cand = (
        n1.join(n2, "x")
        .where(F.col("u") < F.col("v"))
        .join(dx, "x")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.floor(F.lit(int(_LP_AA_GRID)) / F.col("d")).cast("long")
            ).alias("aa_score_q"),
        )
    )
    nonedges = cand.join(
        und,
        (und.a == cand.u) & (und.b == cand.v),
        "left_anti",
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    scored = (
        nonedges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            F.round(
                F.col("n_common") * 1.0
                / (F.col("du") + F.col("dv") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            "aa_score_q",
        )
    )
    w = F.row_number().over(W.orderBy(F.col("aa_score_q").desc(), "u", "v"))
    return scored.withColumn("rn", w).where(F.col("rn") <= LP_TOPK).drop("rn")
