"""Graph analytics over relational fixtures (no GraphFrames in the
container — and none needed: Pregel-style iteration is a join+agg
per superstep, which is exactly what a DataFrame engine does well;
the LSH connected-components closure in dedup.py uses the same
pattern).

PageRank here runs on the part co-purchase graph: parts are nodes,
an undirected edge connects parts that appear in the same order.

Scale notes (100 TB): each superstep is one shuffle on the edge src
(rank⋈edges) plus one on dst (the contribution agg) — both
keyed-equi, bucket-alignable, with map-side partial aggregation.
Edges are distinct pairs, so the state per superstep is O(|E|), never
O(orders × lines²). localCheckpoint after each superstep keeps the
plan from deepening (learned on the k-means trainer — without it,
plan depth and analysis time grow linearly with iterations). Both
engines round ranks to 12 dp per superstep: double addition is
non-associative and Spark's partial-agg order differs from DuckDB's
sequential sum, so unrounded drift compounds across iterations and
breaks the value-hash (same lesson as the k-means centroid parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, Window as W
from pyspark.sql import functions as F

from distributed_causal_stream_processing_spark.io import load
from distributed_causal_stream_processing_spark.operators.loops import (
    checkpoint_observed,
)
from distributed_causal_stream_processing_spark.plans.registry import query

_DAMP = 0.85
_ITERS = 3

# Plan-time broadcast ceiling for the per-superstep rank vector
# (optimization round 15, guide §3.1): the rank side is O(nodes) —
# 20k rows at sf0.1 — but it reaches each superstep through a
# localCheckpoint, and a checkpointed LogicalRDD reports
# UnknownPartitioning + default (huge) size stats, so Catalyst planned
# SortMergeJoin and EnsureRequirements re-shuffled the full 2.39M-row
# edge table EVERY superstep (measured: 2.57M shuffle records written
# per superstep; AQE did flip the join to broadcast at runtime, but
# only after both sides' shuffles were already written). Broadcasting
# at PLAN time removes the edge exchange entirely. The hint is
# data-adaptive, not unconditional: n_nodes is already computed
# in-query, and past this ceiling the plain join (AQE-arbitrated)
# returns — 10M (node, rank) rows ≈ 240 MB hashed relation, inside
# the "few hundred MB is fine" broadcast envelope and far under the
# 8 GB / 512M-row hard cap; beyond that scale the shuffle join is the
# right plan anyway.
#
# Memory floor the ceiling assumes (ADVICE r15): the hint bypasses AQE
# arbitration below the ceiling, so every executor must hold one ~24 B/
# row hashed relation per in-flight superstep — at the 10M ceiling
# budget ≥ ~1 GiB of executor heap headroom for it (the tested config
# is a 32 GiB local driver). Deployments with small executors should
# lower this constant; it is a plan choice, not semantics — either
# side of it computes identical ranks.
_RANK_BCAST_MAX_NODES = 10_000_000


@query(
    "q_graph_pagerank",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, count(*) AS d FROM pairs GROUP BY src),
    n AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / n.n AS rank FROM deg CROSS JOIN n),
    r1 AS (
        SELECT p.dst AS node,
               round((1 - {_DAMP}) / any_value(n.n)
                     + {_DAMP} * sum(r.rank / deg.d), 12) AS rank
        FROM pairs p
        JOIN r0 r     ON r.node = p.src
        JOIN deg      ON deg.src = p.src
        CROSS JOIN n
        GROUP BY p.dst
    ),
    r2 AS (
        SELECT p.dst AS node,
               round((1 - {_DAMP}) / any_value(n.n)
                     + {_DAMP} * sum(r.rank / deg.d), 12) AS rank
        FROM pairs p
        JOIN r1 r     ON r.node = p.src
        JOIN deg      ON deg.src = p.src
        CROSS JOIN n
        GROUP BY p.dst
    ),
    r3 AS (
        SELECT p.dst AS node,
               round((1 - {_DAMP}) / any_value(n.n)
                     + {_DAMP} * sum(r.rank / deg.d), 12) AS rank
        FROM pairs p
        JOIN r2 r     ON r.node = p.src
        JOIN deg      ON deg.src = p.src
        CROSS JOIN n
        GROUP BY p.dst
    )
    SELECT node, round(rank, 8) AS rank
    FROM r3
    ORDER BY rank DESC, node
    LIMIT 50
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 supersteps) over the part co-purchase
    graph; top-50 parts by rank. The co-purchase graph is symmetric,
    so every node has out-degree ≥ 1 and no dangling-mass term is
    needed; the oracle unrolls the same three supersteps as CTEs
    (the DuckDB twin of the k-means trainer's unrolled-SQL oracle)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = li.withColumnRenamed("l_partkey", "dst_partkey")
    # ONE edge-table checkpoint, with out-degree attached as a window
    # count over the src partition (round 13; previously the edge set
    # was checkpointed, joined against its own degree agg, and the
    # joined result checkpointed AGAIN — two corpus-sized checkpoint
    # writes + a self-join per run where one suffices; the checkpoint
    # itself stays load-bearing, or every superstep and the node count
    # would re-run the lineitem self-join + distinct, measured
    # 19.9 s → ~6 s at sf0.1 in round 2).
    # ONE exchange for the whole edge build (optimization round 15,
    # guide §2.4): distinct previously exchanged the ~2.39M pre-distinct
    # pairs on (src, dst) and the degree window exchanged the ~2.39M
    # distinct pairs again on src — 4.78M shuffle records, with the
    # partial distinct reducing almost nothing (co-purchase pairs are
    # near-unique). HashPartitioning(src) satisfies BOTH downstream
    # requirements (ClusteredDistribution(src, dst) for distinct —
    # src ⊆ {src, dst} — and ClusteredDistribution(src) for the
    # window), so one explicit repartition on src lets distinct and the
    # degree count run exchange-free in that layout: 4.78M → 2.39M
    # records, one exchange instead of two (plan-pinned in
    # plans/r15/q_graph_pagerank_after.txt). No partition count is
    # given, so AQE still sizes the shuffle at any scale.
    contrib_base = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("dst_partkey"))
        .select(F.col("l_partkey").alias("src"), F.col("dst_partkey").alias("dst"))
        .repartition("src")
        .distinct()
        .withColumn("d", F.count(F.lit(1)).over(W.partitionBy("src")))
        .localCheckpoint()
    )
    # symmetric graph → node set == src set; checkpoint the distinct
    # node set once — it seeds the rank vector, and the checkpoint job
    # observes the node count
    nodes, probe = checkpoint_observed(
        contrib_base.select("src").distinct(), F.count(F.lit(1)).alias("n")
    )
    n_nodes = probe.n
    ranks = nodes.select(F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("rank"))
    # rank⋈edges is keyed-equi on src. The rank side is broadcast at
    # PLAN time while n_nodes fits the ceiling (see
    # _RANK_BCAST_MAX_NODES: the checkpointed rank vector's
    # UnknownPartitioning/unknown-size stats made Catalyst plan SMJ and
    # re-shuffle the full edge table every superstep; AQE's runtime
    # broadcast flip came only after both shuffles were written) and
    # falls back to the plain AQE-arbitrated join beyond it. Per-round
    # localCheckpoint is load-bearing for speed, not just plan depth
    # (measured: chaining all three supersteps lazily into one job =
    # 14.5 s vs 9.3 s at sf0.1).
    for _ in range(_ITERS):
        rank_side = (
            F.broadcast(ranks) if n_nodes <= _RANK_BCAST_MAX_NODES else ranks
        )
        ranks = (
            contrib_base.join(rank_side, contrib_base.src == rank_side.node)
            .select("dst", (F.col("rank") / F.col("d")).alias("c"))
            .groupBy("dst")
            .agg(
                F.round(
                    (1 - _DAMP) / n_nodes + _DAMP * F.sum("c"), 12
                ).alias("rank")
            )
            .withColumnRenamed("dst", "node")
            .localCheckpoint()
        )
    return (
        ranks.select("node", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(50)
    )


# Fused rounds chained LAZILY between checkpoints (optimization round
# 16, VERDICT r15 item 6 A/B): per-round cost at bench scale is fixed
# job overhead, so batching amortizes the checkpoint job (which also
# computes the sum certificate) over several joins. Inside a block
# the previous round's label subtree appears twice (the frontier union
# branch and the join side); ReuseExchange dedups its shuffles, and the
# sum certificate still works at block granularity — labels are
# monotone non-increasing, so the block-end sum equals the block-start
# sum iff EVERY round in the block was idle. Measured A/B on
# q_graph_components' edge set (sf0.1, warm min-of-2, identical output
# verified row-for-row): block=1 3.49 s, block=2 3.09 s, block=3
# 3.69 s — the duplicated-subtree recompute outgrows the saved probes
# past 2 (the r14 DEPS_BLOCK lesson: block size trades executor work
# against analyzer/recompute work, measure before raising). Where
# shuffle volume dominates instead (a 100 TB graph), 1 shuffles every
# label row exactly once per round.
_CC_ROUNDS_PER_BLOCK = 2


def connected_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components of an undirected edge list (src, dst) →
    (node, component) where component = min node id in the component.

    Min-label propagation WITH POINTER-DOUBLING (VERDICT r12 item 3):
    each round every node takes the minimum of (a) its own label,
    (b) its neighbors' labels — the propagation step — and (c) its
    LABEL'S label — the shortcut step, which doubles the hop distance
    already covered, so convergence needs O(log diameter) rounds
    instead of O(diameter). This is the logarithmic-rounds family of
    Kiveris et al.'s large-star/small-star (SoCC'14) and Rastogi et
    al.'s hash-to-min (ICDE'13); the label-doubling member is chosen
    because it keeps per-round state at exactly |V| label rows (the
    star operations rewrite — and can temporarily inflate — the edge
    set) and is a one-join delta to the propagation loop whose
    fixpoint was already oracle-proven. Correctness: labels only ever
    take node ids from the node's own component and only shrink;
    label(label(v)) is a component member's label, so the shortcut
    preserves the invariant, and any fixpoint is edge-constant —
    hence the component minimum. Per round: ONE equi join + one
    hash-agg over O(|E|) + O(|V|) rows (propagation and doubling fused
    by appending each node's label edge to the edge set — optimization
    round 15), never node-pair materialization; lineage cut with
    localCheckpoint. Hypothesis-tested against
    union-find in tests/test_properties.py, whose chain-topology pin
    proves a diameter where plain propagation raises at the same round
    budget and this loop converges.

    Exactly ``max_rounds`` rounds run at most: rounds chain in blocks
    of _CC_ROUNDS_PER_BLOCK and the last block is clamped to the
    remaining budget. Exhausting the budget with labels still moving
    raises.
    """
    # symmetrize once so propagation runs both directions
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # Convergence: labels are monotone non-increasing, so the exact
    # decimal label sum strictly decreases iff any label moved. The sum
    # (with the row count and the castable-label count beside it) is
    # observed on each block's checkpoint, so the probe adds no action
    # of its own — no old-vs-new join, no separate count or collect.
    numeric = F.col("label").try_cast("decimal(38,0)")
    certificate = (
        F.count(F.lit(1)).alias("n"),
        F.count(numeric).alias("c"),
        F.sum(numeric).alias("s"),
    )

    def label_sum(probe: Row):
        # ADVICE r15: the certificate only works for numeric labels. A
        # label that cannot cast to decimal(38,0) is NULL under try_cast
        # and sum() skips it, so a non-numeric label could keep moving
        # while the sum of the numeric ones stands still — the loop
        # would declare convergence with silently wrong components. All
        # registered callers use bigint node ids; fail loudly for any
        # generic caller whose labels do not all cast.
        if probe.c < probe.n:
            raise TypeError(
                "connected_components convergence certificate needs "
                "numeric (castable to decimal) node ids; "
                f"{probe.n - probe.c} of {probe.n} labels do not cast — "
                "map ids to integers first"
            )
        return probe.s

    labels, probe = checkpoint_observed(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        *certificate,
    )
    prev_sum = label_sum(probe)
    converged = False

    # FUSED propagation + pointer-doubling (optimization round 15,
    # guide §2.4): the previous loop ran three joins per round
    # (neighbor-min, left-join back onto labels, and — from round 2 —
    # the label(label(v)) shortcut lookup), 5 exchanges per round at
    # sf0.1 where the per-round cost is all fixed job overhead, the
    # data being tiny. Both steps are the same min-aggregation over an
    # AUGMENTED edge set: appending each node's label edge
    # (v → label[v]) to the symmetrized edges makes
    #
    #   new_label[v] = min over (v,u) ∈ sym ∪ label_edges of label[u]
    #
    # cover (a) neighbor propagation via sym, (b) the doubling step via
    # label[label[v]], and (c) the node's own label, since labels only
    # shrink and label[x] ≤ x gives label[label[v]] ≤ label[v]. One
    # join + one aggregation per round (measured: 5 exchanges → 3,
    # 8 rounds → 5 at sf0.1 because doubling now engages from round 0;
    # the early-round star-graph overhead the old rnd>=2 gate avoided
    # is one union of a |V|-row frame — cheaper than the join it
    # replaced). The fixpoint is unchanged (labels constant across
    # edges, each component at its min id), so oracle hashes are
    # identical.
    def one_round(lb: DataFrame) -> DataFrame:
        frontier = lb.select(
            F.col("node").alias("src"), F.col("label").alias("dst")
        ).unionAll(sym)
        # name-based join condition: a chained block embeds lb's plan
        # inside frontier too, and an attribute-based lb.node would be
        # ambiguous after Spark's relation deduplication; (src, dst) vs
        # (node, label) names are disjoint, so F.col resolves each side
        # uniquely
        return (
            frontier.join(lb, F.col("dst") == F.col("node"))
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("src", "node")
        )

    for done in range(0, max_rounds, _CC_ROUNDS_PER_BLOCK):
        for _ in range(min(_CC_ROUNDS_PER_BLOCK, max_rounds - done)):
            labels = one_round(labels)
        labels, probe = checkpoint_observed(labels, *certificate)
        new_sum = label_sum(probe)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # fail LOUDLY: exiting with labels still moving means the graph
        # needs more rounds than the budget and the returned components
        # would be silently WRONG (distant nodes keep non-minimal
        # labels) — exactly the class of quiet corruption the oracle
        # would flag as an unexplained hash mismatch (review find,
        # round 9). The budget is log-scale: 50 rounds covers any
        # diameter below ~2^49.
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "rounds — raise max_rounds"
        )
    return labels.select("node", F.col("label").alias("component"))


@query(
    "q_graph_components",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
        WHERE a.l_partkey < 200 AND b.l_partkey < 200
    ),
    reach AS (
        SELECT src AS node, src AS r FROM pairs
        UNION
        SELECT p.src AS node, reach.r
        FROM pairs p JOIN reach ON p.dst = reach.node
        WHERE reach.r <= p.src
    )
    SELECT node, CAST(min(r) AS BIGINT) AS component,
           CAST(count(*) OVER (PARTITION BY min(r)) AS BIGINT) AS component_size
    FROM reach GROUP BY node
    """,
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the (bounded) part co-purchase graph,
    with per-component sizes — min-label propagation checked against a
    DuckDB recursive-CTE exact closure."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 200)
    )
    b = li.withColumnRenamed("l_partkey", "dst_partkey")
    edges = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("dst_partkey"))
        .select(F.col("l_partkey").alias("src"), F.col("dst_partkey").alias("dst"))
        .distinct()
    )
    comp = connected_components(edges)
    w = W.partitionBy("component")
    return comp.select(
        "node",
        F.col("component").cast("bigint").alias("component"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("component_size"),
    )


@query(
    "q_graph_triangles",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey < 300 AND b.l_partkey < 300
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.src = e1.dst
        JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    per_node AS (
        SELECT node, count(*) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT node, CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM tri) AS BIGINT) AS total_triangles
    FROM per_node
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the (bounded) part co-purchase graph:
    per-node triangle participation plus the global total.

    The edge list is stored ONCE in canonical orientation (src < dst),
    so each triangle {a<b<c} is enumerated exactly once as the wedge
    (a,b)+(b,c) closed by (a,c) — no double counting, no post-hoc
    dedup. Scale shape: two keyed equi-joins over O(|E|) rows (wedge
    build keyed on the shared node, closure keyed on the (a,c) edge) —
    the standard distributed algorithm; production would orient edges
    by degree (lower-degree endpoint first) to bound wedge fan-out on
    skewed graphs, which changes only the orientation expression. The
    edge set is localCheckpointed once and reused by all three scans."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 300)
    )
    b = li.withColumnRenamed("l_partkey", "dst_partkey")
    edges = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("dst_partkey"))
        .select(F.col("l_partkey").alias("src"), F.col("dst_partkey").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri, probe = checkpoint_observed(
        e1.join(e2, "b").join(e3, ["a", "c"]), F.count(F.lit(1)).alias("total")
    )
    total = probe.total
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .withColumn("total_triangles", F.lit(total).cast("bigint"))
    )
