"""Graph operators over the trade network (SURVEY.md §2.8 extension) —
the customer–supplier bipartite graph induced by orders ⋈ lineitem
(who buys from whom), undirected.  The reference's domain analog is the
site/circuit interaction web; the LLM-pipeline analog is duplicate-
cluster / citation-graph analytics next to §2.10's dedup family.

The marquee entry is an ITERATIVE algorithm (PageRank) expressed as
unrolled DataFrame rounds — the shape the task brief calls genuinely
non-SQL-expressible, made hash-checkable anyway by unrolling the same
three rounds in the DuckDB oracle.

Determinism (SURVEY.md §5.4): per-round contributions are quantized to
1e-15 units with ``floor(x*1e15+0.5)`` and summed as BIGINT — an exact,
order-independent accumulation (values ≤ 1, so units < 2^53) — and the
damping arithmetic is one shared double expression; both engines agree
bit-for-bit, no float-sum nondeterminism anywhere.

Scale: edges materialize once (memo_checkpoint) and each round is one
shuffle on dst — at 100 TB you'd co-partition edges and ranks on the
join key once and reuse the exchange across rounds; node count N is
the snapshot-memoized scalar the regime gates already require
(one count() of the node-sized distinct, reused by every graph op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_solar_data_warehouse_spark.materialize import memo, memo_checkpoint
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table

_DAMP = 0.85
_UNIT = 1_000_000_000_000_000.0  # 1e15 quantization grid for contributions

#: Node cap for the triangle ops' driver bitmap regime
#: (``_dense_common_neighbors``): the packed adjacency is n^2/8 bytes
#: (32768 -> 134 MB).  An edge cap alone is NOT
#: sufficient — a sparse 2M-edge graph can span millions of nodes.
DENSE_MAX_NODES = 32_768
_ROUNDS = 3

#: Gate for broadcasting node-cardinality tables (degrees, ranks,
#: labels, frontiers, keep-sets): ~1M nodes x ~40 B/row ~= 40 MB, inside
#: the session's 64 MB auto-broadcast ceiling with headroom.  Below the
#: gate the per-round join is map-side and the only shuffle is the
#: aggregate; above it (a 100x replication probe OOM'd exactly here)
#: the join co-partitions on the node key instead — the documented
#: 100 TB fallback, picked at runtime from the actual node count.
BROADCAST_MAX_NODES = 1_000_000


def _node_side(df: DataFrame, n_nodes: int) -> DataFrame:
    """Broadcast a node-cardinality join side only while it is genuinely
    broadcastable; past BROADCAST_MAX_NODES return it un-hinted so the
    join shuffles both sides on the node key."""
    return F.broadcast(df) if n_nodes <= BROADCAST_MAX_NODES else df


def _n_graph_nodes(spark: SparkSession, sf_dir: str) -> int:
    """Trade-graph node count, the gate input shared by
    pagerank/cc/bfs/assortativity: one count over the memoized node
    list per snapshot."""
    return memo(
        spark, sf_dir, ("trade_node_count",), lambda: _nodes(spark, sf_dir).count()
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected customer–supplier edges, materialized once
    per snapshot: both pagerank rounds and the degree ops reuse
    the join+distinct instead of recomputing it."""

    def build() -> DataFrame:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        # Distinct on the raw integer pair BEFORE widening to node-id
        # strings: the dedup shuffle then hashes/compares two BIGINTs
        # instead of two variable-width strings (~40% cheaper measured
        # at sf0.1), and the concat runs once per distinct pair instead
        # of once per joined row.
        pairs = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select("o_custkey", "l_suppkey")
            .distinct()
            .select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("c_node"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("s_node"),
            )
        )
        return pairs.select(
            F.col("c_node").alias("src"), F.col("s_node").alias("dst")
        ).unionAll(
            pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
        )

    return memo_checkpoint(spark, sf_dir, "trade_edges", build)


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct node list of the trade graph, materialized once per
    snapshot — the E-sized distinct that the CC label init (and
    any node-table consumer) otherwise re-runs per invocation (r12,
    guide §2.4; same snapshot-artifact contract as trade_edges/_deg)."""
    return memo_checkpoint(
        spark,
        sf_dir,
        "trade_nodes",
        lambda: _edges(spark, sf_dir).select("src").distinct(),
    )


def _deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree (src, outdeg) over the memoized doubled edge
    table, materialized once per snapshot: pagerank's rank init
    and degree annotation, degree_dist's histogram and assortativity's
    moment probes all fold this same aggregate — one E-sized pass per
    snapshot instead of one per op invocation (r12, guide §2.4; the
    same one-per-snapshot ETL-artifact discipline as trade_edges
    itself, and the build cost is on the record via memo_cold)."""
    return memo_checkpoint(
        spark,
        sf_dir,
        "trade_deg",
        lambda: _edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg")),
    )


def _edges_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-annotated edge table (src, dst, outdeg), materialized
    once per snapshot.  r11 rebuilt this join per pagerank
    invocation behind a per-run localCheckpoint; the table is a pure
    function of the snapshot, so it is memo state like the edge list
    it annotates (interleaved A/B at 32 cores: pagerank 3.72 → 2.29 s
    min-of-6, results bit-identical).  In the co-partitioned regime
    (past BROADCAST_MAX_NODES) the memoized table additionally pins
    one exchange on the join key so every round reuses the layout —
    the r5/r11 shape, now paid once per snapshot."""

    def build() -> DataFrame:
        n_nodes = _n_graph_nodes(spark, sf_dir)
        edges_d = _edges(spark, sf_dir).join(
            _node_side(_deg(spark, sf_dir), n_nodes), "src"
        )
        if n_nodes > BROADCAST_MAX_NODES:
            edges_d = edges_d.repartition("src")
        return edges_d

    return memo_checkpoint(spark, sf_dir, "trade_edges_deg", build)


_EDGES_SQL = """
    pairs AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c_node,
                        's' || CAST(l_suppkey AS VARCHAR) AS s_node
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
        SELECT c_node AS src, s_node AS dst FROM pairs
        UNION ALL
        SELECT s_node AS src, c_node AS dst FROM pairs
    )
"""


def _co_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct oriented (u < v) supplier co-occurrence pairs — the
    shared edge list behind graph_triangle_count and
    graph_local_clustering (memoized under one key so the census and
    the per-node profile pay the order self-join once)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
    )



@op(
    "graph_degree_dist",
    oracle=f"""
    WITH {_EDGES_SQL}
    SELECT degree, count(*) AS n_nodes
    FROM (SELECT src, count(*) AS degree FROM edges GROUP BY src) deg
    GROUP BY degree
    """,
)
def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph (how many counterparties
    each actor trades with) — two chained exact-count aggregations, the
    standard first look at any graph's skew before partitioning it.
    The per-node degree table comes from the session's shared _deg
    memo (r12) — the histogram is then node-cardinality work."""
    deg = _deg(spark, sf_dir).withColumnRenamed("outdeg", "degree")
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def _pagerank_round_sql(prev: str, out: str) -> str:
    """One unrolled oracle round: quantized contributions, BIGINT sum,
    shared damping expression (mirrors the DataFrame round exactly)."""
    return f"""
    {out} AS (
        SELECT e.dst AS node,
               0.15 / CAST(max(nn.n) AS DOUBLE)
               + 0.85 * (CAST(sum(
                     CAST(floor(r.pr / d.outdeg * 1000000000000000.0 + 0.5)
                          AS BIGINT)) AS DOUBLE) / 1000000000000000.0) AS pr
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN {prev} r ON e.src = r.node
        CROSS JOIN nn
        GROUP BY e.dst
    )
    """


@op(
    "graph_pagerank",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / CAST(n AS DOUBLE) AS pr FROM deg CROSS JOIN nn),
    {_pagerank_round_sql('r0', 'r1')},
    {_pagerank_round_sql('r1', 'r2')},
    {_pagerank_round_sql('r2', 'r3')}
    SELECT node, floor(pr * 100000000.0 + 0.5) / 100000000.0 AS pagerank
    FROM r3
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank rounds (d=0.85) over the undirected trade
    graph, unrolled as DataFrame plans — the iterative-algorithm entry.

    Per round: rank/outdeg contributions quantized to exact BIGINT
    units (order-independent sum), then one shared double expression
    re-ranks every node; the undirected construction leaves no dangling
    nodes so rank mass needs no redistribution term.  The oracle unrolls
    the identical three rounds as chained CTEs — full hash parity for an
    algorithm SQL can't express un-unrolled.
    """
    # Node-cardinality sides (deg, ranks) broadcast while the node set
    # is genuinely broadcastable (edges outnumber nodes ~30:1 here), so
    # every per-round join stays map-side and the only shuffle is the
    # groupBy(dst).  Past BROADCAST_MAX_NODES the rounds co-partition
    # edges and ranks on the node key instead — forcing the broadcast
    # unconditionally OOM'd at a 100x replication probe.
    n_nodes = _n_graph_nodes(spark, sf_dir)
    # The node count N is already a snapshot-memoized driver int (the
    # regime gate input) and equals count(deg) exactly — distinct src
    # IS deg's key set.  Feeding it back as a literal replaces the r10
    # plan's per-round 1-row crossJoin(nn) (each one re-derived deg →
    # an Exchange + HashAggregate over the E-sized table per round:
    # 25 Exchanges / 22 edge-RDD scans in the before-plan) with a
    # constant; the IEEE doubles 1.0/N and 0.15/N are bit-identical
    # either way (guide §2.4: remove shuffles outright).
    nd = F.lit(n_nodes).cast("double")
    # Degree table and degree-annotated edges from the session memos
    # (r12): both are pure functions of the snapshot, so the E-sized
    # join that r11 rebuilt behind a per-invocation localCheckpoint is
    # now paid once per snapshot (see _edges_deg; A/B 3.72 → 2.29 s).
    deg = _deg(spark, sf_dir)
    edges_d = _edges_deg(spark, sf_dir)
    ranks = deg.select(
        F.col("src").alias("node"),
        (F.lit(1.0) / nd).alias("pr"),
    )
    for rnd in range(_ROUNDS):
        contribs = edges_d.join(
            _node_side(ranks.select(F.col("node").alias("src"), "pr"), n_nodes),
            "src",
        ).select(
            "dst",
            F.floor(F.col("pr") / F.col("outdeg") * _UNIT + 0.5)
            .cast("bigint")
            .alias("units"),
        )
        ranks = (
            contribs.groupBy("dst")
            .agg(F.sum("units").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(0.15) / nd
                    + F.lit(0.85) * (F.col("s").cast("double") / F.lit(_UNIT))
                ).alias("pr"),
            )
        )
        # Same inter-round barrier as the CC/kcore loops: round K+1's
        # broadcast subtree embeds round K's whole aggregation, and
        # under AQE those duplicated subtrees are separate sub-jobs
        # (exchange reuse does not bridge them) — without the barrier
        # the round chain re-executes quadratically.  Last round is
        # consumed exactly once by the output projection.
        if rnd < _ROUNDS - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        "node",
        (F.floor(F.col("pr") * 100000000.0 + 0.5) / 100000000.0).alias("pagerank"),
    )


def _dense_common_neighbors(
    pairs: DataFrame, n_edges: int, undirected: bool
) -> tuple | None:
    """Driver regime of the triangle ops on a small dense graph: collect
    the edge list ``pairs`` (u < v), index its nodes, pack each node's
    neighbor set into a packed |V|×⌈|V|/8⌉ uint8 bitmap
    (``np.bitwise_or.at`` — no |V|² bool intermediate; out-neighbors
    only, or both directions when ``undirected``), and popcount
    ``row[u] & row[v]`` per edge in bounded chunks (the gather is
    chunk×⌈|V|/8⌉, never E×⌈|V|/8⌉).

    Returns ``(node_ids, ui, vi, common)`` — the sorted node ids, each
    edge's endpoint indexes and its common-neighbor count — or None
    past either gate: ``dedup.DRIVER_CC_MAX_EDGES`` edges, or
    ``DENSE_MAX_NODES`` nodes (the bitmap is |V|²/8 bytes, and a sparse
    graph inside the edge cap can span millions of nodes).  Both gates
    are read at call time, so a test can force the distributed regime."""
    from shared_solar_data_warehouse_spark.operators import dedup

    if n_edges > dedup.DRIVER_CC_MAX_EDGES:
        return None
    import numpy as np
    import pandas as pd

    edges_pd = pairs.toPandas()
    u, v = edges_pd["u"].to_numpy(), edges_pd["v"].to_numpy()
    node_ids = np.unique(np.concatenate([u, v]))
    n = len(node_ids)
    if n > DENSE_MAX_NODES:
        return None
    idx = pd.Series(np.arange(n), index=node_ids)
    ui, vi = idx[u].to_numpy(), idx[v].to_numpy()
    nbytes = (n + 7) // 8
    packed = np.zeros((n, nbytes), dtype=np.uint8)
    for rows, cols in ((ui, vi), (vi, ui)) if undirected else ((ui, vi),):
        np.bitwise_or.at(
            packed,
            (rows, cols >> 3),
            np.left_shift(np.uint8(1), (7 - (cols & 7)).astype(np.uint8)),
        )
    # uint8 popcount table: the table lookup result then stays uint8
    # (chunk x nbytes, same size as the gather) instead of int64 (8x the
    # memory traffic — measured 12x slower); the reduction itself widens
    # via sum(dtype=int64).
    pop = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)
    pop = pop.astype(np.uint8)
    common = np.zeros(len(ui), dtype=np.int64)
    chunk = max(1, (64 << 20) // max(1, nbytes))  # ≤64 MB gather
    for lo in range(0, len(ui), chunk):
        sl = slice(lo, lo + chunk)
        common[sl] = pop[packed[ui[sl]] & packed[vi[sl]]].sum(axis=1, dtype=np.int64)
    return node_ids, ui, vi, common


@op(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    )
    SELECT count(DISTINCT u_all.s) AS n_nodes,
           (SELECT count(*) FROM pairs) AS n_edges,
           (SELECT count(*)
            FROM pairs e1
            JOIN pairs e2 ON e2.u = e1.v
            JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    FROM (SELECT u AS s FROM pairs UNION SELECT v FROM pairs) u_all
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-occurrence graph (suppliers
    sharing an order are adjacent) — the clustering-structure probe the
    reference runs on its site-interaction web.

    The co-occurrence graph is DENSE (every supplier pair eventually
    shares an order), so the textbook wedge join (e1⋈e2 closed by an
    e3 probe — what the DuckDB oracle runs at the small gate scale)
    materializes Σ deg² ≈ hundreds of millions of wedge rows at sf0.1
    and gets worse quadratically with density.  Two regimes instead,
    the same split `dedup_cluster` uses:

    * **Small dense graph** (≤ DRIVER_CC_MAX_EDGES after the distinct
      — a 2M-edge list is ~32 MB — AND ≤ DENSE_MAX_NODES distinct
      nodes): ``_dense_common_neighbors`` popcounts ``row[u] & row[v]``
      over the packed out-neighbor bitmap — each triangle {u<v<w} is
      counted exactly once at its smallest-id edge.  Milliseconds,
      zero shuffles beyond the edge distinct.
    * **Large graph**: per-edge neighborhood intersection, fully
      distributed — build each node's sorted out-neighbor array,
      broadcast it to both endpoints, sum
      ``size(array_intersect(N⁺(u), N⁺(v)))``.  O(E·d̄) vectorized
      JVM array ops with NO wedge shuffle.  At 100 TB you'd
      additionally orient by degree so hub neighborhoods stay short,
      and bucket the edge list on u."""
    pairs = memo_checkpoint(
        spark, sf_dir, "co_supplier_pairs", lambda: _co_supplier_pairs(spark, sf_dir)
    )

    from shared_solar_data_warehouse_spark.operators.dedup import (
        DRIVER_CC_MAX_EDGES,
    )

    n_edges = pairs.count()
    dense = _dense_common_neighbors(pairs, n_edges, undirected=False)
    if dense is not None:
        node_ids, _, _, common = dense
        return spark.createDataFrame(
            [(len(node_ids), int(n_edges), int(common.sum()))],
            "n_nodes long, n_edges long, n_triangles long",
        )

    adj = pairs.groupBy("u").agg(F.sort_array(F.collect_set("v")).alias("nbrs"))
    au = adj.select(F.col("u").alias("au"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("u").alias("av"), F.col("nbrs").alias("nbrs_v"))
    # The adjacency payload is EDGE-sized (each row carries the neighbor
    # array), so the broadcast gate is the edge count, not the node
    # count: past the driver cap the intersection joins co-partition.
    def _adj_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if n_edges <= DRIVER_CC_MAX_EDGES else df

    per_edge = (
        pairs.join(_adj_side(au), F.col("u") == F.col("au"))
        .join(_adj_side(av), F.col("v") == F.col("av"))
        .select(
            F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("tri_at_edge")
        )
    )
    nodes = (
        pairs.select(F.col("u").alias("s"))
        .union(pairs.select(F.col("v").alias("s")))
        .agg(F.countDistinct("s").alias("n_nodes"))
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    tris = per_edge.agg(F.sum("tri_at_edge").alias("n_triangles"))
    return nodes.crossJoin(edges).crossJoin(tris)


_CC_ROUNDS = 3


def _cc_round_sql(prev: str, out: str) -> str:
    """One unrolled label-propagation round: each node takes the min of
    its own label and all neighbors' labels (one aggregate per round)."""
    return f"""
    {out} AS (
        SELECT node, min(lab) AS lab FROM (
            SELECT e.dst AS node, r.lab FROM edges e JOIN {prev} r ON e.src = r.node
            UNION ALL
            SELECT node, lab FROM {prev}
        ) GROUP BY node
    )
    """


@op(
    "graph_connected_components",
    oracle=f"""
    WITH {_EDGES_SQL},
    lab0 AS (
        SELECT DISTINCT src AS node,
               CASE WHEN src LIKE 'c%'
                    THEN CAST(substr(src, 2) AS BIGINT)
                    ELSE 100000000 + CAST(substr(src, 2) AS BIGINT) END AS lab
        FROM edges
    ),
    {", ".join(_cc_round_sql(f"lab{k}", f"lab{k + 1}") for k in range(_CC_ROUNDS))}
    SELECT lab AS component, count(*) AS n_nodes
    FROM lab{_CC_ROUNDS} GROUP BY lab
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by K=3 unrolled rounds of
    min-label propagation over the trade graph (the classic
    hash-to-min step, exact on any graph whose components have
    diameter <= K; the bipartite trade graph collapses in 2-3 hops).
    Per round: edges join the node-sized label table — broadcast, so
    the big edge relation never re-shuffles — then one hash aggregate
    takes the min over {{self}} ∪ {{neighbors}}.  Labels are numeric
    (custkey / 10^8 + suppkey), making min() integer-exact on both
    engines; the oracle unrolls the identical rounds as chained CTEs
    (same fixed-K trick as graph_pagerank)."""
    edges = _edges(spark, sf_dir)
    # Node list from the session memo (r12): the E-sized distinct is a
    # pure snapshot artifact; only the label projection (N rows) runs
    # per invocation.
    labels = _nodes(spark, sf_dir).select(
        F.col("src").alias("node"),
        F.when(
            F.col("src").startswith("c"),
            F.substring(F.col("src"), 2, 20).cast("bigint"),
        )
        .otherwise(
            F.lit(100000000) + F.substring(F.col("src"), 2, 20).cast("bigint")
        )
        .alias("lab"),
    )
    n_nodes = _n_graph_nodes(spark, sf_dir)
    for rnd in range(_CC_ROUNDS):
        contrib = (
            edges.join(_node_side(labels, n_nodes), edges.src == labels.node)
            .select(F.col("dst").alias("node"), "lab")
        )
        labels = (
            contrib.unionByName(labels.select("node", "lab"))
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        # Lazy localCheckpoint between rounds: `labels` appears TWICE in
        # the next round's plan (the broadcast side of contrib AND the
        # union arm), so without a barrier round N re-executes round N-1
        # twice — 2^K recompute of the label chain.  The barrier makes
        # each round's aggregate run exactly once (measured 2.07->1.43 s
        # warm at sf0.1); on a cluster this is the standard iterate-and-
        # persist shape for label propagation.  The LAST round is left
        # unbarriered — the final aggregate references it only once, so
        # the barrier would buy nothing and the round's broadcast-join
        # shape stays visible to plan assertions.
        if rnd < _CC_ROUNDS - 1:
            labels = labels.localCheckpoint(eager=False)
    return labels.groupBy(F.col("lab").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@op(
    "graph_jaccard_neighbors",
    oracle="""
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = 'BUILDING'
    ), deg AS (
        SELECT suppkey, count(*) AS deg FROM e GROUP BY suppkey
    ), pairs AS (
        SELECT a.suppkey AS s1, b.suppkey AS s2, count(*) AS common_cnt
        FROM e a JOIN e b ON a.custkey = b.custkey AND a.suppkey < b.suppkey
        GROUP BY a.suppkey, b.suppkey
    )
    SELECT s1, s2, common_cnt,
           d1.deg + d2.deg - common_cnt AS union_cnt,
           (common_cnt * 1000000) // (d1.deg + d2.deg - common_cnt)
               AS jaccard_ppm
    FROM pairs
    JOIN deg d1 ON d1.suppkey = s1
    JOIN deg d2 ON d2.suppkey = s2
    ORDER BY jaccard_ppm DESC, s1, s2
    LIMIT 100
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between suppliers (link
    prediction / entity-resolution primitive): two suppliers are
    similar when they serve mostly the same customers.

    |N(a) n N(b)| comes from the wedge join (self-join of the bipartite
    edge list on the shared customer), |N(a) u N(b)| from the degree
    identity da+db-common — so the union is never materialized.  All
    counters are BIGINTs and the score is truncated-integer ppm
    ((common*1e6) DIV union, both engines truncate toward zero —
    verified) so the top-100 is hash-exact with a unique (s1,s2)
    tie-break.  The edge list is restricted to one mktsegment to bound
    the wedge fan-out (per-customer pairs are quadratic in its supplier
    count).  At 100 TB the exact wedge join is the bottleneck — the
    scale path is dedup_near_minhash's banded-minhash over neighbor
    sets (same semantics, near-linear), with the degree table broadcast
    at the final join (suppliers << edges).
    """
    # The distinct customer–supplier pair set already exists as the
    # c→s half of the session's memoized trade_edges artifact (r11,
    # guide §2.4: the orders⋈lineitem join + distinct was this op's
    # single most expensive subtree, and every graph op in the band
    # shares it).  Parse the integer keys back out of the node ids and
    # apply the mktsegment restriction as a broadcast semi-join against
    # the (tiny) filtered customer dim — bit-identical to deriving the
    # pairs from the base tables.
    def build_e() -> DataFrame:
        c = (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select(F.col("c_custkey").alias("custkey"))
        )
        return (
            _edges(spark, sf_dir)
            .filter(F.col("src").startswith("c"))
            .select(
                F.substring("src", 2, 20).cast("bigint").alias("custkey"),
                F.substring("dst", 2, 20).cast("bigint").alias("suppkey"),
            )
            .join(F.broadcast(c), "custkey", "left_semi")
        )

    # Materialized ONCE PER SNAPSHOT (r12 — was once per invocation):
    # three consumers (both wedge sides and the degree table) share the
    # filtered slice, and the slice itself is a pure function of the
    # snapshot, so it is memo state like the trade_edges table it is
    # cut from.  (An r11 attempt to also pre-partition on custkey
    # before the barrier bought nothing: the checkpoint's LogicalRDD
    # comes back UnknownPartitioning under AQE, so the self-join
    # re-exchanges regardless — see the r11 after-plan.)  The wedge
    # join itself dominates what remains — inherent to the exact tier
    # (the docstring names the minhash scale path).
    e = memo_checkpoint(spark, sf_dir, "building_cs_pairs", build_e)
    # The degree table is read twice (d1/d2) and is snapshot-pure —
    # same memo treatment (r11 used a per-run lazy barrier).
    deg = memo_checkpoint(
        spark,
        sf_dir,
        "building_supp_deg",
        lambda: e.groupBy("suppkey").agg(F.count(F.lit(1)).alias("deg")),
    )
    # Wedge counting stays the hash self-join on custkey: an r11 A/B of
    # the posting-list rewrite (collect_list + nested-transform pair
    # fan-out) measured 3.40 s vs 2.47 s — the interpreted lambda pair
    # generator loses to the codegen'd join + partial-agg here, unlike
    # exact_pairs where the avoided cost was a whole recomputed shingle
    # subtree.  Measured, kept.
    a = e.select(F.col("custkey"), F.col("suppkey").alias("s1"))
    b = e.select(F.col("custkey"), F.col("suppkey").alias("s2"))
    pairs = (
        a.join(b, ["custkey"])
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("common_cnt"))
    )
    d1 = deg.select(F.col("suppkey").alias("s1"), F.col("deg").alias("d1"))
    d2 = deg.select(F.col("suppkey").alias("s2"), F.col("deg").alias("d2"))
    # Broadcast gate: distinct suppliers in e are bounded above by the
    # supplier DIM row count — a metadata-cheap count of a tiny table,
    # instead of a full extra pass over the edge list (r6).
    n_sup = load_table(spark, sf_dir, "supplier").count()
    return (
        pairs.join(_node_side(d1, n_sup), "s1")
        .join(_node_side(d2, n_sup), "s2")
        .select(
            "s1",
            "s2",
            "common_cnt",
            (F.col("d1") + F.col("d2") - F.col("common_cnt")).alias("union_cnt"),
            F.expr("CAST((common_cnt * 1000000) DIV (d1 + d2 - common_cnt) AS BIGINT)")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "s1", "s2")
        .limit(100)
    )


_KCORE_K = 35
_KCORE_ROUNDS = 3


def _kcore_round_sql(src_e: str, idx: int) -> str:
    return f"""
    d{idx} AS (SELECT src, count(*) AS deg FROM {src_e} GROUP BY src),
    k{idx} AS (SELECT src FROM d{idx} WHERE deg >= {_KCORE_K}),
    e{idx + 1} AS (
        SELECT e.src, e.dst FROM {src_e} e
        JOIN k{idx} a ON e.src = a.src
        JOIN k{idx} b ON e.dst = b.src
    )"""


@op(
    "graph_kcore",
    oracle=f"""
    WITH {_EDGES_SQL.strip().rstrip()}, e0 AS (SELECT src, dst FROM edges),
    {", ".join(_kcore_round_sql(f"e{k}", k) for k in range(_KCORE_ROUNDS))}
    SELECT substr(src, 1, 1) AS side,
           CAST(substr(src, 2) AS BIGINT) AS node_id,
           count(*) AS core_degree
    FROM e{_KCORE_ROUNDS}
    GROUP BY src
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (K={K}) of the bipartite trade graph by
    {R} unrolled peeling rounds: drop every node with degree < K,
    recompute degrees on the surviving subgraph, repeat — the dense-
    community extractor (spam rings, power users) that iterates to a
    fixpoint; this graph converges in one round at any sf because
    supplier degrees sit far above K and customer degrees (distinct
    suppliers per customer) are sf-stable, so fixed K stays in the
    active band (the scale-sensitive-threshold trap, SURVEY.md §5.4).

    Per round the surviving-node set (<= node count, always tiny next
    to edges) broadcasts into the edge filter twice (src + dst side),
    so the edge list never re-shuffles; edges materialize once via the
    shared memo_checkpoint.  The oracle unrolls the identical rounds as
    chained CTEs — everything is integer counts, hash-exact."""
    e = _edges(spark, sf_dir)
    deg = None
    for rnd in range(_KCORE_ROUNDS):
        # Materialize the round's degree census once (lazy checkpoint —
        # the stats job below triggers it): the fixpoint probe, both
        # keep-side broadcasts AND (on early exit) the final output all
        # read this node-sized RDD instead of re-running the E-sized
        # groupBy up to 4x per round (guide §1.2 step 1; the r10 shape
        # paid two separate count() jobs per round, each re-deriving
        # deg from the edge list).
        deg = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=False)
        )
        # Fixpoint early-exit: when no node fell below K this round the
        # remaining unrolled rounds are identities, so skipping them is
        # value-identical to the oracle's full K-round chain (verified
        # row-equal at sf0.1 and ~sf1; ~40% cheaper at both).  One
        # fused aggregate job answers both counts (was: two jobs).
        stats = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.count_if(F.col("deg") >= _KCORE_K).alias("n_keep"),
        ).first()
        n_keep = int(stats["n_keep"])
        if n_keep == int(stats["n_nodes"]):
            break
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("src")
        deg = None  # e changes below: census must be recomputed at exit
        e = (
            e.join(
                _node_side(keep.withColumnRenamed("src", "ka"), n_keep),
                F.col("src") == F.col("ka"),
            )
            .drop("ka")
            .join(
                _node_side(keep.withColumnRenamed("src", "kb"), n_keep),
                F.col("dst") == F.col("kb"),
            )
            .drop("kb")
        )
        # Lazy localCheckpoint between peel rounds: `e` appears three
        # times in the next round's plan (both keep-filters derive from
        # deg(e), plus the surviving-edge scan itself), so unflattened
        # rounds re-execute the whole prior chain multiple times
        # (measured 2.29 -> 1.43 s warm at sf0.1).  The surviving edge
        # list only shrinks, so each barrier is cheaper than the last;
        # the final round stays unbarriered (referenced once by the
        # closing aggregate, and its join shape stays explain-visible).
        if rnd < _KCORE_ROUNDS - 1:
            e = e.localCheckpoint(eager=False)
    # On early exit the final census IS the round's (already
    # materialized) deg table — the surviving-edge degree count and the
    # core-degree output are the same aggregate, so reuse it instead of
    # one more pass over e.  When the loop ran out of rounds after a
    # filter, e changed since the last census: recompute.
    census = (
        deg.withColumnRenamed("deg", "core_degree")
        if deg is not None
        else e.groupBy("src").agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return census.select(
        F.substring("src", 1, 1).alias("side"),
        F.substring("src", 2, 20).cast("bigint").alias("node_id"),
        "core_degree",
    )


graph_kcore.__doc__ = graph_kcore.__doc__.format(K=_KCORE_K, R=_KCORE_ROUNDS)


#: BFS geometry: 3 customer seed nodes, depth cap 3 (covers the
#: bipartite graph's c->s->c->s reach).
_BFS_SEEDS = ("c0", "c1", "c2")
_BFS_DEPTH = 3


def _bfs_oracle() -> str:
    """Unrolled multi-source BFS rounds (same idiom as the pagerank
    oracle: each DataFrame round has a literal CTE twin)."""
    seeds = ", ".join(f"('{s}', 0)" for s in _BFS_SEEDS)
    ctes = [f"l0 AS (SELECT * FROM (VALUES {seeds}) AS t(node, dist))"]
    union_prev = "SELECT node FROM l0"
    for d in range(1, _BFS_DEPTH + 1):
        ctes.append(
            f"""l{d} AS (
        SELECT DISTINCT e.dst AS node, {d} AS dist
        FROM edges e JOIN l{d - 1} f ON e.src = f.node
        WHERE e.dst NOT IN ({union_prev})
    )"""
        )
        union_prev += f" UNION ALL SELECT node FROM l{d}"
    layers = " UNION ALL ".join(
        f"SELECT node, dist FROM l{d}" for d in range(_BFS_DEPTH + 1)
    )
    return (
        f"WITH {_EDGES_SQL}, "
        + ", ".join(ctes)
        + f" SELECT node, CAST(dist AS INTEGER) AS dist FROM ({layers})"
    )


@op("graph_bfs_layers", oracle=_bfs_oracle())
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search, depth-capped: shortest hop
    distance from a 3-customer seed set over the trade graph —
    'blast radius' analytics (which suppliers/customers are within k
    trade hops of these accounts).  Iterative frontier expansion as
    unrolled DataFrame rounds, hash-checked by an identically-unrolled
    oracle (the pagerank pattern).

    Per round: frontier ⋈ edges (one shuffle on src), distinct, then
    anti-join against the visited set — the frontier is ALWAYS the
    small side, so Spark broadcasts it against the memoized edge list;
    `localCheckpoint` truncates the growing lineage each round (the
    iterative-algorithm hygiene every loop op here applies).  At
    100 TB: same plan with edges pre-bucketed on src; the visited set
    stays proportional to reached nodes, and depth caps the rounds —
    BFS over power-law graphs saturates in a handful of hops."""
    edges = _edges(spark, sf_dir)
    # Frontier and visited are bounded by reached nodes; gate their
    # broadcasts on the graph's node count (the conservative upper
    # bound, shared via the session memo) so a graph past
    # BROADCAST_MAX_NODES co-partitions instead of OOMing.
    n_graph = _n_graph_nodes(spark, sf_dir)
    # The trade graph is strictly bipartite (every edge is c↔s), so BFS
    # layers alternate sides: candidates at depth d sit on the OPPOSITE
    # side of layer d-1 and can only collide with layers of the SAME
    # parity (d-2, d-4, ...).  Two r11 consequences (guide §2.3/§3):
    # the per-round anti-join shrinks from the full visited union to
    # the single layer d-2 (depth 3 never accumulates more), and each
    # round probes only the matching direction-half of the memoized
    # edge list instead of the whole doubled table.  Round barriers are
    # lazy localCheckpoints as before (re-consumed layers materialize
    # once; the final round is read exactly once by the union).
    seeds = spark.createDataFrame(
        [(s, 0) for s in _BFS_SEEDS], "node string, dist int"
    )
    from_c = edges.filter(F.col("src").startswith("c"))
    from_s = edges.filter(F.col("src").startswith("s"))

    def expand(direction: DataFrame, frontier: DataFrame, d: int) -> DataFrame:
        return (
            direction.join(
                _node_side(frontier.select(F.col("node").alias("src")), n_graph),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .select("node", F.lit(d).cast("int").alias("dist"))
        )

    # Seeds are all customer nodes, so odd depths expand c→s and even
    # depths s→c; the anti-join target at depth d is layer d-2 alone
    # (vacuous at d=1: visited holds only customers, candidates are
    # suppliers).
    directions = (from_c, from_s)
    layers = [seeds]
    for d in range(1, _BFS_DEPTH + 1):
        nxt = expand(directions[(d - 1) % 2], layers[d - 1], d)
        for prev in range(d - 2, -1, -2):  # all same-parity layers
            nxt = nxt.join(
                _node_side(layers[prev].select("node"), n_graph),
                "node",
                "left_anti",
            )
        if d < _BFS_DEPTH:
            nxt = nxt.localCheckpoint(eager=False)
        layers.append(nxt)
    out = layers[0]
    for layer in layers[1:]:
        out = out.unionAll(layer)
    return out


@op(
    "graph_neighborhood_sample",
    oracle=f"""
    WITH {_EDGES_SQL},
    ranked AS (
        SELECT src, dst,
               row_number() OVER (
                   PARTITION BY src
                   ORDER BY md5(src || '->' || dst), dst) AS rn
        FROM edges
    )
    SELECT src, dst, CAST(rn AS INTEGER) AS sample_rank
    FROM ranked WHERE rn <= 3
    """,
)
def graph_neighborhood_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-fanout neighbor sampling — the GraphSAGE/
    GNN mini-batch primitive: every node keeps at most 3 neighbors,
    chosen by rank of md5(src->dst) so the \"random\" sample is
    reproducible on any engine, any partitioning, any day (the same
    portable-hash-as-RNG move as sample_split_train_test).  Plan: one
    window over the memoized edge list, partitioned by src — a
    top-k-per-group, not a shuffle of the neighborhood explosion; at
    100 TB multi-hop sampling chains this op, and the hash seed
    string is the epoch knob (change the arrow literal, get a fresh
    sample)."""
    edges = _edges(spark, sf_dir)
    w = Window.partitionBy("src").orderBy(
        F.md5(F.concat(F.col("src"), F.lit("->"), F.col("dst"))), F.col("dst")
    )
    return (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "dst", F.col("rn").cast("int").alias("sample_rank"))
    )


@op(
    "graph_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
    dpairs AS (
        SELECT da.d AS x, db.d AS y
        FROM edges e JOIN deg da ON e.src = da.src
                     JOIN deg db ON e.dst = db.src
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM dpairs
    )
    SELECT n AS n_directed_edges,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(floor(
                    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    * 1.0e4 + 5.0e-1) AS DOUBLE) / 1.0e4
                ELSE NULL END AS assortativity_q4
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph — Pearson correlation
    of endpoint degrees over every directed edge: do high-degree
    hubs connect to other hubs (assortative, r > 0) or to leaves
    (disassortative, r < 0)?  A bipartite customer–supplier web is
    typically disassortative, and the sign is the structural fact a
    partitioner cares about (hub-hub edges concentrate shuffle
    traffic).  Unlike the round-based graph ops this is pure
    statistics: degree table (node-cardinality, broadcast twice onto
    the edge list), then the six exact integer moments and one
    shared double expression (agg_corr_exact's scheme; degrees are
    small so x·y ≤ deg_max² ≈ 1e6 per edge — far inside BIGINT)."""
    edges = _edges(spark, sf_dir)
    # Degree table from the session's shared _deg memo (r12) — a hard
    # barrier, so both broadcast builds below read the materialized
    # RDD (the r11 lazy-barrier fix, now amortized across the band).
    deg = _deg(spark, sf_dir).select(
        F.col("src"), F.col("outdeg").alias("d")
    )
    n_nodes = _n_graph_nodes(spark, sf_dir)
    # The doubled edge table is symmetric, so the directed-edge moments
    # mirror exactly: every undirected pair contributes (d_u,d_v) AND
    # (d_v,d_u).  Folding over the c→s half only and doubling/mirroring
    # (n=2·n_h, sx=sy=Σ(x+y), sxx=syy=Σ(x²+y²), sxy=2·Σxy — all exact
    # BIGINT identities) halves the probe/moment work (r11, guide
    # §2.3: don't compute what algebra gives you for free).
    pairs = (
        edges.filter(F.col("src").startswith("c"))
        .join(
            _node_side(deg.select(F.col("src"), F.col("d").alias("x")), n_nodes),
            "src",
        )
        .join(
            _node_side(
                deg.select(F.col("src").alias("dst"), F.col("d").alias("y")),
                n_nodes,
            ),
            "dst",
        )
        .select("x", "y")
    )
    m = pairs.agg(
        (F.count(F.lit(1)) * 2).alias("n"),
        F.sum(F.expr("x + y")).alias("sx"),
        F.sum(F.expr("x + y")).alias("sy"),
        F.sum(F.expr("x * x + y * y")).alias("sxx"),
        F.sum(F.expr("x * x + y * y")).alias("syy"),
        (F.sum(F.expr("x * y")) * 2).alias("sxy"),
    )
    corr = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.expr(
            # CAST-to-DOUBLE before the divide — the Spark floor ->
            # BIGINT / DECIMAL-literal leak class (r6, same fix as
            # ts_daily_acf / win_zscore).
            f"CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
            f" THEN CAST(floor({corr} * 1.0e4 + 5.0e-1) AS DOUBLE) / 1.0e4"
            f" ELSE NULL END"
        ).alias("assortativity_q4"),
    )


@op(
    "graph_local_clustering",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), tri AS (
        SELECT e1.u AS u, e1.v AS v, e2.v AS w
        FROM pairs e1
        JOIN pairs e2 ON e2.u = e1.v
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ), pernode AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    ), t AS (
        SELECT node, count(*) AS n_tri FROM pernode GROUP BY node
    ), deg AS (
        SELECT node, count(*) AS degree
        FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        GROUP BY node
    )
    SELECT deg.node AS supp_node,
           CAST(degree AS BIGINT) AS degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
           CAST(coalesce(t.n_tri, 0) * 2 * 1000000
                // (degree * (degree - 1)) AS BIGINT) AS clustering_ppm
    FROM deg LEFT JOIN t ON deg.node = t.node
    WHERE degree >= 2
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the supplier
    co-occurrence graph — triangles(n) / (deg(n) choose 2) in integer
    ppm: THE node-level cohesion metric (a supplier whose partners
    all co-supply each other sits in a closed community; a broker
    bridging disjoint groups scores near zero).  Complements
    graph_triangle_count's single global census with the full
    per-node profile.

    Spark avoids the oracle's wedge join (Σ deg² rows — quadratic in
    density) with the neighborhood-intersection shape of
    triangle_count's distributed regime, made PER-NODE attributable:
    for each oriented edge (u,v), |N(u) ∩ N(v)| counts the triangles
    through that edge; summing per endpoint counts each triangle at a
    node via exactly its two incident edges, so t2(n) = Σ_edges |∩|
    is 2·triangles(n) with no halving loss (clustering_ppm = t2 ·
    1e6 DIV deg(deg−1) — the 2s cancel).  Neighbor sets build once
    (one groupBy over the memoized co-supplier pairs, shared with
    triangle_count), and the per-edge intersect is a JVM array op.
    At 100 TB: orient by degree so hub arrays stay short, bucket
    edges and neighbor tables on the join key.

    Two regimes, the triangle_count split verbatim (the fixture's
    co-occurrence graph is DENSE — ~every supplier pair co-occurs at
    sf0.1, so per-edge array intersects cost E·d̄ ≈ |V|³ element ops):
    small graphs (edge + node gates) run a driver popcount over the
    UNDIRECTED packed adjacency with per-edge counts scattered onto
    both endpoints; large graphs run the distributed
    neighborhood-intersection plan (forced in tests via the gate)."""
    pairs = memo_checkpoint(
        spark, sf_dir, "co_supplier_pairs", lambda: _co_supplier_pairs(spark, sf_dir)
    )
    dense = _dense_common_neighbors(pairs, pairs.count(), undirected=True)
    if dense is not None:
        import numpy as np
        import pandas as pd

        node_ids, ui, vi, common = dense
        n = len(node_ids)
        t2 = np.zeros(n, dtype=np.int64)
        np.add.at(t2, ui, common)
        np.add.at(t2, vi, common)
        deg = np.bincount(np.concatenate([ui, vi]), minlength=n).astype(np.int64)
        keep = deg >= 2
        out = pd.DataFrame(
            {
                "supp_node": node_ids[keep],
                "degree": deg[keep],
                "n_triangles": t2[keep] // 2,
                "clustering_ppm": t2[keep]
                * 1_000_000
                // (deg[keep] * (deg[keep] - 1)),
            }
        )
        return spark.createDataFrame(
            out,
            "supp_node long, degree long, n_triangles long,"
            " clustering_ppm long",
        )

    und = pairs.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    nbrs = und.groupBy("node").agg(
        F.collect_set("nbr").alias("nbr_set"),
        F.count(F.lit(1)).cast("bigint").alias("degree"),
    )
    e = (
        pairs.join(
            nbrs.select(
                F.col("node").alias("u"), F.col("nbr_set").alias("nu")
            ),
            "u",
        )
        .join(
            nbrs.select(
                F.col("node").alias("v"), F.col("nbr_set").alias("nv")
            ),
            "v",
        )
        .select(
            "u",
            "v",
            F.size(F.array_intersect("nu", "nv")).cast("bigint").alias("c"),
        )
    )
    t2 = (
        e.select(F.col("u").alias("node"), "c")
        .unionAll(e.select(F.col("v").alias("node"), "c"))
        .groupBy("node")
        .agg(F.sum("c").alias("t2"))
    )
    return (
        nbrs.select("node", "degree")
        .filter(F.col("degree") >= 2)
        .join(t2, "node", "left")
        .select(
            F.col("node").alias("supp_node"),
            "degree",
            F.expr("CAST(coalesce(t2, 0) DIV 2 AS BIGINT)").alias(
                "n_triangles"
            ),
            F.expr(
                "CAST(coalesce(t2, 0) * 1000000"
                " DIV (degree * (degree - 1)) AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )


@op(
    "graph_modularity",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    lab AS (
        SELECT p.ck, p.sk,
               c.c_nationkey AS c_com, s.s_nationkey AS s_com
        FROM pairs p
        JOIN customer c ON p.ck = c.c_custkey
        JOIN supplier s ON p.sk = s.s_suppkey
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lab),
    e_in AS (
        SELECT c_com AS com, CAST(count(*) AS BIGINT) AS e_c
        FROM lab WHERE c_com = s_com GROUP BY c_com
    ),
    deg AS (
        SELECT com, CAST(sum(cnt) AS BIGINT) AS a_c FROM (
            SELECT c_com AS com, count(*) AS cnt FROM lab GROUP BY c_com
            UNION ALL
            SELECT s_com AS com, count(*) AS cnt FROM lab GROUP BY s_com
        ) both_sides GROUP BY com
    ),
    terms AS (
        SELECT d.com,
               CAST(coalesce(e.e_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
               - (CAST(d.a_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                 * (CAST(d.a_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                   AS term
        FROM deg d LEFT JOIN e_in e ON d.com = e.com CROSS JOIN m
    )
    SELECT max(m.m) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_communities,
           floor(CAST(sum(CAST(term AS DECIMAL(25,8))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS modularity
    FROM terms CROSS JOIN m
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition over the customer–
    supplier trade graph: Q = Σ_c (e_c/m − (a_c/2m)²) — "does trade
    stay inside nations more than a degree-preserving random graph
    would?"  Completes the community shelf: connected components finds
    the partition, assortativity tests degree mixing, this scores a
    LABELED partition.  Every count (edges, in-community edges,
    community degree sums) is an exact integer aggregate; each
    community's term is one shared IEEE expression, and the Q sum
    accumulates through DECIMAL so the ~25-community reduction is
    order-independent.  At 100 TB: the distinct edge shuffle dominates
    (shared shape with the rest of the graph band); the community
    dimension is nation-bounded and every later aggregate is tiny."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("c_com")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("s_com")
    )
    # Reuse the snapshot-memoized trade_edges pair set (its c→s half IS
    # this op's distinct (custkey, suppkey) list) instead of re-running
    # the orders⋈lineitem join + distinct — the op's dominant subtree
    # in the r11 before-plan (guide §2.4).
    pairs = (
        _edges(spark, sf_dir)
        .filter(F.col("src").startswith("c"))
        .select(
            F.substring("src", 2, 20).cast("bigint").alias("ck"),
            F.substring("dst", 2, 20).cast("bigint").alias("sk"),
        )
    )
    lab = pairs.join(F.broadcast(cust), "ck").join(F.broadcast(supp), "sk")
    # Fold the labeled edge list straight into the (c_com, s_com)
    # contingency table: ONE pass + one ~nations² exchange replaces the
    # four separate passes (m, e_in, both deg arms) the r10 shape ran
    # over the edge-sized checkpoint (guide §2.3 "aggregate before you
    # shuffle" — every later aggregate here reads ≤625 rows).  The lazy
    # barrier now guards the tiny table, read by m/e_in/deg below.
    g = (
        lab.groupBy("c_com", "s_com")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    m = g.agg(F.sum("n").cast("bigint").alias("m"))
    e_in = (
        g.filter(F.col("c_com") == F.col("s_com"))
        .groupBy(F.col("c_com").alias("com"))
        .agg(F.sum("n").cast("bigint").alias("e_c"))
    )
    deg = (
        g.groupBy(F.col("c_com").alias("com"))
        .agg(F.sum("n").alias("cnt"))
        .unionAll(
            g.groupBy(F.col("s_com").alias("com")).agg(F.sum("n").alias("cnt"))
        )
        .groupBy("com")
        .agg(F.sum("cnt").cast("bigint").alias("a_c"))
    )
    md = F.col("m").cast("double")
    half = F.col("a_c").cast("double") / (F.lit(2.0) * md)
    terms = (
        deg.join(e_in, "com", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "com",
            "m",
            (
                F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / md
                - half * half
            ).alias("term"),
        )
    )
    return terms.agg(
        F.max("m").alias("n_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        (
            F.floor(
                F.sum(F.col("term").cast("decimal(25,8)")).cast("double")
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("modularity"),
    )
