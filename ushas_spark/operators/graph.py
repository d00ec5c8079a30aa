"""PageRank over the customer–supplier purchase graph.

Complements the label-propagation connected components in ``dedup.py``
with the other canonical iterative graph workload. Nodes are customers
and suppliers; an (undirected) edge exists where a customer's order
contains a lineitem from that supplier — the natural bipartite trade
graph of the star schema.

Spark shape (design for 100 TB):

- The edge list is built once from orders ⋈ lineitem (both shuffled on
  orderkey — the join Catalyst already picks) then de-duplicated on the
  (customer, supplier) pair and :func:`materialize` d, so iterations
  never re-run the join.
- Each PageRank round is ONE shuffle: contributions = ranks ⋈ edges on
  the source node (ranks is |V| rows — broadcast-able for dimension-
  sized V, shuffled otherwise; we leave the choice to Catalyst/AQE), then
  a groupBy on the destination node with map-side combine. No
  driver-side state: the dangling-mass/teleport term is a constant
  because every node in an edge list built from an inner join has
  degree ≥ 1.
- Ranks are doubles but every cross-row sum is an exact scaled-integer
  sum (ROUND(contrib * 1e9) -> BIGINT), so the result is independent of
  partitioning and identical in the DuckDB oracle, which replays the
  same rounds as a generated CTE chain.

Reference analog: no graph operator exists in the fork — iterative
queries there are driver-side loops over DataFrames exactly like this
(sql/core/src/main/scala/org/apache/spark/sql/Dataset.scala:77);
GraphX is RDD-based and out of its SQL surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ushas_spark.durability import broadcast_fits, materialize, pin_partitioned
from ushas_spark.io import load_table, row_count
from ushas_spark.registry import query

DAMPING = 0.85
ITERS = 3
RANK_SCALE = 1_000_000_000  # 1e-9 rank resolution; sums < 2^63 for |V| ≤ ~9e9
TOP_N = 25


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected customer–supplier edges, both directions.

    Node ids are disambiguated by type prefix: customers keep their key,
    suppliers get key + 1_000_000_000 (the driver schema's keys are far
    below that at any SF).
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + 1_000_000_000).alias("supp"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
    rev = pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    return fwd.unionAll(rev)


def pagerank(
    spark: SparkSession,
    sf_dir: str,
    seed_cap: int | None = None,
) -> DataFrame:
    """Ranks after ``ITERS`` synchronous rounds from the teleport start.

    ``seed_cap=None`` is global PageRank: every node is a teleport
    target with mass 1/|V|. An int makes it PERSONALIZED: the teleport
    set is the nodes below ``seed_cap`` (mass 1/|S| on each, 0
    elsewhere). Every aggregated node is a dst of the symmetric edge
    list, so ``node < seed_cap`` is exactly membership in the seed set
    -- a WHEN predicate, not a join.

    Size-gated regimes like graph_hits_hub_authority
    (OPTIMIZATION_r12.md item 2; regimes bit-identical, twins pinned in
    tests/test_graph_hits_regimes.py and tests/test_r13_regimes.py):

    - broadcast regime (|V_cust| <= durability.BROADCAST_MAX_ROWS):
      edges pinned on DST (the contribution groupBy key) and the |V|-row
      ranks side explicitly broadcast each round, so a round plans zero
      exchanges -- the 3-round plan nests the broadcasts inside one
      job. WON both interleaved isolated sf0.1 pairings: 4.45/4.66 s vs
      shipped 5.78/5.35 s best-of-3, hash-identical at sf0.01/sf0.1.
      The personalized form won all four of its pairings (OPTIMIZATION_r13.md
      item 2: 4.36/4.26/3.54/3.72 vs 5.21/4.87/4.69/4.80 s).
    - merge regime (the 100 TB shape): edges pinned on SRC; the degree
      join + ranks join stream the |E| side exchange- and sort-free and
      each round exchanges only the |V|-row ranks side.
      materialize/localCheckpoint LOSES outputPartitioning
      (probe-verified r08: LogicalRDD reports unknown partitioning)
      while InMemoryRelation preserves it -- rounds x |E| network
      becomes |E| + rounds x |V|, the in-session analogue of the
      bucketed-by-src edge table a 100 TB deployment would write.
      The personalized form tests the seed predicate here too, where
      it once ran a seed left join; that predicate-on-merge shape
      split its two r13 pairings (won 4.43 vs 5.21 s, lost 5.21 vs
      4.87 s), so no wall change is claimed past the gate."""
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    small_v = broadcast_fits(row_count(spark, sf_dir, "customer"))
    ewd = pin_partitioned(edges.join(deg, "src"), "dst" if small_v else "src")
    # Everything downstream derives from the materialized edge table so
    # the orders ⋈ lineitem subtree is scanned exactly once, not once
    # per iteration (first cut measured 21 exchanges for 3 rounds; this
    # shape has one ranks-side exchange + one groupBy per round).
    # Every node appears as a src (edges are symmetric), so this covers V.
    nodes = ewd.groupBy("src").agg(F.first("deg")).select(
        F.col("src").alias("node")
    )
    # The teleport set's size: |V| as "n", or |S| as "ns" when seeded.
    if seed_cap is None:
        members, size = nodes, "n"
    else:
        members, size = nodes.filter(F.col("node") < seed_cap), "ns"
    n_tele = materialize(members.agg(F.count(F.lit(1)).alias(size)))

    def teleport(mass: float):
        share = F.lit(mass) / F.col(size).cast("double")
        if seed_cap is None:
            return share
        return F.when(F.col("node") < seed_cap, share).otherwise(0.0)

    ranks = nodes.crossJoin(F.broadcast(n_tele)).select(
        "node", teleport(1.0).alias("rank"), size
    )
    for _ in range(ITERS):
        r = ranks.hint("broadcast") if small_v else ranks
        contrib = r.join(ewd, r.node == ewd.src).select(
            F.col("dst").alias("node"),
            F.round((F.col("rank") / F.col("deg").cast("double")) * RANK_SCALE)
            .cast("long")
            .alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("sc"))
        ranks = summed.crossJoin(F.broadcast(n_tele)).select(
            "node",
            (
                teleport(1.0 - DAMPING)
                + F.lit(DAMPING)
                * (F.col("sc").cast("double") / F.lit(float(RANK_SCALE)))
            ).alias("rank"),
            size,
        )
    return ranks.select(
        "node", F.round(F.col("rank") * RANK_SCALE).cast("long").alias("rank_x1e9")
    )


# The trade graph as oracle CTEs: the distinct (customer, supplier) pairs
# and the symmetric edge list over them.
_TRADE_EDGES_SQL = (
    "pairs AS (SELECT DISTINCT o_custkey AS cust,"
    "                 l_suppkey + 1000000000 AS supp"
    "          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)",
    "edges AS (SELECT cust AS src, supp AS dst FROM pairs"
    "          UNION ALL SELECT supp, cust FROM pairs)",
)
_TRADE_DEG_SQL = (
    "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg"
    "        FROM edges GROUP BY src)"
)


def _rank_sum_sql(i: int) -> str:
    """Round ``i``'s scaled-integer contribution sums ``s{i}`` over ``r{i}``."""
    return (
        f"s{i} AS (SELECT e.dst AS node,"
        f"  SUM(CAST(ROUND((r.rank / CAST(d.deg AS DOUBLE)) * {RANK_SCALE})"
        f"      AS BIGINT)) AS sc"
        f"  FROM r{i} r JOIN deg d ON r.node = d.src"
        f"  JOIN edges e ON e.src = r.node GROUP BY e.dst)"
    )


def _pagerank_oracle() -> str:
    parts = [
        *_TRADE_EDGES_SQL,
        _TRADE_DEG_SQL,
        "nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)",
        "r0 AS (SELECT src AS node, 1.0 / n AS rank FROM deg, nv)",
    ]
    for i in range(ITERS):
        parts.append(_rank_sum_sql(i))
        parts.append(
            f"r{i + 1} AS (SELECT node,"
            f"  {1.0 - DAMPING} / n + {DAMPING} *"
            f"  (CAST(sc AS DOUBLE) / {float(RANK_SCALE)}) AS rank"
            f"  FROM s{i}, nv)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, CAST(ROUND(rank * {RANK_SCALE}) AS BIGINT) AS rank_x1e9 FROM r{ITERS}"


_TOP_ORACLE = f"""
WITH pr AS ({_pagerank_oracle()})
SELECT node, rank_x1e9,
       CASE WHEN node >= 1000000000 THEN 'supplier' ELSE 'customer' END
         AS node_type
FROM pr
ORDER BY rank_x1e9 DESC, node
LIMIT {TOP_N}
"""


@query("graph_pagerank_top", oracle=_TOP_ORACLE)
def graph_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_N} nodes by PageRank on the trade graph (3 rounds)."""
    pr = pagerank(spark, sf_dir)
    return pr.select(
        "node",
        "rank_x1e9",
        F.when(F.col("node") >= 1_000_000_000, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
    ).orderBy(F.col("rank_x1e9").desc(), "node").limit(TOP_N)


# --- deterministic random walks (node2vec-style corpus sampling) ----------
WALK_LEN = 3
START_MOD = 10  # walkers start from customers with custkey % 10 == 0


def random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded uniform random walks over the trade graph.

    The sampling pass that turns a graph into sequence training data
    (DeepWalk / node2vec): from each start node, repeatedly hop to the
    neighbor minimizing md5(walker || step || neighbor) -- a
    deterministic stand-in for a seeded RNG that both engines compute
    identically, so whole walks are oracle-gated.

    Size-gated regimes (OPTIMIZATION_r13.md item 1; regimes
    bit-identical, twin pinned in tests/test_r13_regimes.py):

    - adjacency regime (|V_cust| <= durability.BROADCAST_MAX_ROWS,
      the walk table being |customers|/START_MOD rows): the edge
      table folds ONCE into a |V|-row (src, nbrs array) adjacency
      (edges are distinct by _edges construction, so no distinct pass)
      and each hop is one broadcast join of the |walkers|-row walk
      table against it plus an IN-ROW argmin
      array_min(transform(nbrs, d -> struct(md5, d))) -- the per-hop
      |E|-scan, the candidate fan-out through the join, the
      groupBy(walker) exchange and the F.first prefix-carrying all
      disappear (md5-per-candidate count is unchanged: the oracle's
      semantics). WON all four interleaved isolated sf0.1 pairings
      (2.44/2.42/2.14/2.30 vs 4.88/2.72/3.13/3.14 s best-of-3),
      hash-identical at sf0.001/0.01/0.1. The UNHINTED adjacency
      variant measured a decisive LOSS (8.95/6.61 s -- the per-hop
      join of two stat-less checkpointed tables plans SMJ with both
      sides exchanged): the explicit broadcast is load-bearing, same
      lesson as the r12 HITS probe.
    - merge regime (the 100 TB shape): the r10 formulation
      byte-unchanged -- per hop one join against the src-pinned |E|
      table + one map-side-combinable per-walker argmin. Also probed
      r13 and NOT shipped: dropping this regime's edges.distinct()
      (provably redundant -- _edges dedups the pair set and the
      fwd/rev id ranges are disjoint) measured a WASH on wall in both
      pairings (4.98/2.99 vs 4.88/2.72), so the driver-green
      formulation stays byte-identical.
    """
    if broadcast_fits(row_count(spark, sf_dir, "customer")):
        return _random_walks_adjacency(spark, sf_dir)
    return _random_walks_merge(spark, sf_dir)


def _random_walks_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-V regime: array-packed adjacency + broadcast walk table +
    in-row argmin. No pin: edges feed exactly one consumer (the
    adjacency fold), so the groupBy's own exchange does the
    partitioning work and the checkpoint truncates the loop's plan."""
    adj = materialize(
        _edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
    )
    walks = adj.select(F.col("src").alias("n0")).where(
        (F.col("n0") < 1_000_000_000) & (F.col("n0") % START_MOD == 0)
    )
    cur = "n0"
    for t in range(1, WALK_LEN + 1):
        w = walks.hint("broadcast")
        argmin = F.array_min(
            F.transform(
                F.col("nbrs"),
                lambda d: F.struct(
                    F.md5(
                        F.concat_ws("|", F.col("n0"), F.lit(t), d)
                    ).alias("h"),
                    d.alias("dst"),
                ),
            )
        )
        walks = w.join(adj, w[cur] == adj.src).select(
            *[w[c] for c in walks.columns], argmin["dst"].alias(f"n{t}")
        )
        cur = f"n{t}"
    return walks.orderBy("n0")


def _random_walks_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-V regime: the r10 driver-green formulation, byte-unchanged.
    Each hop is one join on the current node against the pinned edge
    table plus one per-walker argmin (min over (hash, dst) structs,
    map-side combinable); the walk table stays |walkers| rows end to
    end."""
    edges = pin_partitioned(_edges(spark, sf_dir).distinct(), "src")
    starts = (
        edges.select(F.col("src").alias("n0"))
        .where((F.col("n0") < 1_000_000_000) & (F.col("n0") % START_MOD == 0))
        .distinct()
    )
    walks = starts.withColumn("walker", F.col("n0"))
    cur = "n0"
    for t in range(1, WALK_LEN + 1):
        hop = walks.join(edges, walks[cur] == edges.src).withColumn(
            "h",
            F.md5(
                F.concat_ws(
                    "|", F.col("walker"), F.lit(t), F.col("dst")
                )
            ),
        )
        keep = [F.first(c).alias(c) for c in walks.columns if c != "walker"]
        walks = (
            hop.groupBy("walker")
            .agg(*keep, F.min(F.struct("h", "dst")).alias("m"))
            .select(*[c for c in walks.columns], F.col("m.dst").alias(f"n{t}"))
        )
        cur = f"n{t}"
    return walks.drop("walker").orderBy("n0")


def _walk_oracle() -> str:
    parts = [
        *_TRADE_EDGES_SQL,
        f"w0 AS (SELECT DISTINCT src AS n0 FROM edges"
        f"       WHERE src < 1000000000 AND src % {START_MOD} = 0)",
    ]
    cols = ["n0"]
    for t in range(1, WALK_LEN + 1):
        prev = f"w{t - 1}"
        cur = cols[-1]
        col_list = ", ".join(cols)
        parts.append(
            f"w{t} AS (SELECT {col_list}, dst AS n{t} FROM ("
            f"  SELECT {col_list}, e.dst,"
            f"    ROW_NUMBER() OVER (PARTITION BY n0 ORDER BY"
            f"      md5(n0 || '|' || {t} || '|' || e.dst), e.dst) AS rn"
            f"  FROM {prev} JOIN edges e ON {prev}.{cur} = e.src"
            f") WHERE rn = 1)"
        )
        cols.append(f"n{t}")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT {', '.join(cols)} FROM w{WALK_LEN} ORDER BY n0"
    )


@query("graph_random_walks", oracle=_walk_oracle())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-{WALK_LEN} deterministic walks from every 10th customer."""
    return random_walks(spark, sf_dir)


# ------------------------------------------ triangle counting (co-purchase)
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected edges (u < v) of the part co-purchase graph:
    parts are adjacent when some order contains both."""
    pl = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = pl.alias("a"), pl.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )


# The same edge list as oracle CTEs ``pl`` and ``edges``.
_COPURCHASE_EDGES_SQL = """pl AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), edges AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM pl a JOIN pl b ON a.ok = b.ok AND a.pk < b.pk
)"""
_DEGREES_SQL = """deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)"""

_TRIANGLE_ORACLE = f"""
WITH {_COPURCHASE_EDGES_SQL}, {_DEGREES_SQL}, oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e
  JOIN deg du ON e.u = du.node
  JOIN deg dv ON e.v = dv.node
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e1.t = e2.s
  JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       n_triangles
FROM tri
"""


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + wedge count of the part co-purchase graph
    (parts are adjacent when some order contains both) -- the global
    clustering-coefficient numbers every graph-health dashboard wants.

    Scale design is the Suri-Vassilvitskii degree orientation: every
    undirected edge is directed from its (degree, id)-smaller endpoint
    to the larger, so each triangle is counted exactly once at its
    source edge and -- the part that matters at 100 TB -- every
    oriented OUT-neighborhood is bounded by O(sqrt(m)) even for
    celebrity nodes, instead of the unbounded in-degree a naive
    formulation explodes on. The closing check intersects per-edge
    adjacency arrays (triangle_summary below; restructured r10 --
    measured ~1.7x faster than enumerating oriented wedges, which the
    orientation bounds identically but which shuffles ~30x more rows).
    Wedge totals come from the degree table alone; d*(d-1)/2 is exact
    integer arithmetic on both engines.
    """
    return triangle_summary(_copurchase_edges(spark, sf_dir))


def triangle_summary(edges: DataFrame) -> DataFrame:
    """Degree-oriented triangle/wedge summary of any distinct
    (u, v; u != v, one row per undirected edge) edge DataFrame --
    factored out so scale tests can feed planted graphs.

    Regime gate (OPTIMIZATION_r12.md item 7; same rationale as the
    HITS/CC/PAGERANK/KCORE gates): the degree tables are |V|-row
    two-column frames and the oriented adjacency holds E total array
    entries, so below durability.BROADCAST_MAX_ROWS (the edge count,
    observed while the edges materialize) both degree joins and the
    closing intersection join take explicit broadcasts -- the E-row
    array-carrying exchange on t (by bytes the heaviest shuffle here)
    disappears and the SMJ degree joins become map-side BHJs. Audited
    8 -> 6 summed shuffles, SMJ 2 -> 0; won three interleaved isolated
    sf0.1 pairings (3.50/2.69/2.72 vs 3.95/2.77/5.79 s), output
    bit-identical. Past the gate (E linear in corpus at 100 TB; the
    adjacency no longer fits a broadcast) the shuffle shape below runs
    byte-unchanged.
    """
    size = Observation()
    edges = materialize(edges.observe(size, F.count(F.lit(1)).alias("n")))
    small_e = broadcast_fits(size.get["n"])
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    if small_e:
        keyed = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    else:
        keyed = edges.join(du, "u").join(dv, "v")
    lower = F.struct("du", "u") < F.struct("dv", "v")
    oriented = keyed.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    # Pinned on s: the adjacency rollup below groups on s, so it builds
    # straight off the cache with no exchange and no sort.
    oriented = pin_partitioned(oriented, "s")
    # Closing check by ADJACENCY-LIST INTERSECTION (restructured r10,
    # measured): triangles through oriented edge (s, t) are exactly
    # |N+(s) & N+(t)|, so ship each edge once carrying N+(s) and
    # intersect at t's adjacency row -- the wedge-enumeration twin
    # materialized every oriented wedge (~30x more rows than edges on
    # this graph) through an extra exchange pair just to semi-join them
    # away again. Same bytes asymptotically (orientation bounds every
    # N+ array by O(sqrt(m)), the same bound that caps the wedge
    # fan-out), but 2 fewer shuffles and ~30x fewer shuffled rows;
    # isolated fresh-JVM best-of-3 at sf0.1: 6.90/7.00/8.57 s (wedge)
    # vs 3.95/4.31/5.43 s (intersection) across three interleaved
    # pairings, output bit-identical. At 100 TB the per-row array stays
    # sqrt(m)-bounded and the intersection is a per-row hash probe --
    # no skew a celebrity node can reintroduce past the orientation.
    # Unsorted: array_intersect hash-probes, so ordering buys nothing
    # here (unlike the link-prediction twin, whose sorted array is what
    # yields ordered pa < pb pairs) and the per-vertex O(d log d) sort
    # would be pure waste.
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("nbrs"))
    es = oriented.join(adj, "s").select(
        "t", F.col("nbrs").alias("ns")
    )
    adj_t = adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nt"))
    tri = (
        es.join(F.broadcast(adj_t) if small_e else adj_t, "t")
        .select(F.size(F.array_intersect("ns", "nt")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    totals = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.coalesce(F.sum(F.expr("d * (d - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        totals.crossJoin(n_edges)
        .crossJoin(tri)
        .select("n_vertices", "n_edges", "n_wedges", "n_triangles")
    )


# ----------------------------------------------- k-core peeling (iterative)
KCORE_K = 80
KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    """CTE chain replaying every peeling round (the kmeans/fixed-round
    oracle pattern): round i keeps nodes whose degree in the induced
    subgraph is >= K, then restricts edges to kept x kept."""
    parts = [
        "WITH pl AS MATERIALIZED (\n  SELECT DISTINCT l_orderkey AS ok,"
        " l_partkey AS pk FROM lineitem\n), e0 AS MATERIALIZED (\n"
        "  SELECT DISTINCT a.pk AS u, b.pk AS v"
        "\n  FROM pl a JOIN pl b ON a.ok = b.ok AND a.pk < b.pk\n)"
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        e_prev = f"e{i - 1}"
        parts.append(
            f""", d{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM {e_prev} UNION ALL SELECT v FROM {e_prev})
  GROUP BY node
), k{i} AS MATERIALIZED (
  SELECT node FROM d{i} WHERE d >= {KCORE_K}
), e{i} AS MATERIALIZED (
  SELECT u, v FROM {e_prev}
  WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i})
)"""
        )
    last = KCORE_ROUNDS
    parts.append(
        f""", dfin AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e{last} UNION ALL SELECT v FROM e{last})
  GROUP BY node
)
SELECT CAST({KCORE_K} AS BIGINT) AS k,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d1) AS n_nodes_initial,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges_initial,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM k{last}) AS n_core_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e{last}) AS n_core_edges,
       (SELECT CAST(MIN(d) AS BIGINT) FROM dfin) AS min_core_degree"""
    )
    return "".join(parts)


@query("graph_kcore_summary", oracle=_kcore_oracle())
def graph_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph by iterative
    peeling over ADJACENCY ARRAYS (restructured r11, measured):
    repeatedly drop nodes with induced degree < k and restrict the edge
    set, a fixed {KCORE_ROUNDS} rounds (fixpoint at gate scales is
    asserted by test_kcore_peeling_reaches_fixpoint -- the same
    bounded-round contract the k-means loop uses). Output is the
    one-row core summary (sizes + the minimum induced degree, >= k at
    fixpoint).

    Scale shape: the graph is held as one full-adjacency array per
    node (one 2E-row exchange to build; element order is irrelevant
    -- only sizes are ever read), so
    the peeling degree test is ``size(ns)`` -- a FREE re-scan of the
    materialized arrays, no aggregation, no shuffle. Each round then
    restricts the exploded survivor arrays to surviving neighbors and
    re-collects by node: below durability.BROADCAST_MAX_ROWS that restriction
    is a broadcast LEFT ANTI against the round's dropped set (r12 --
    one E'-row groupBy exchange per round, no sorts); past the gate it
    is a LEFT SEMI against the survivor set (two E'-row exchanges,
    r11 shape, byte-unchanged). The r08/r10-vintage edge-list twin paid ~4E' shuffled rows
    per round (a 2E-row unionAll degree aggregation + two semi joins);
    halving the per-round volume won both r11 interleaved isolated
    sf0.1 pairings: adj 4.08/4.43 s vs edges 5.76/5.16 s best-of-3,
    output bit-identical at sf0.001/0.01/0.1 (1,196,000 edges,
    18,863-node core). Unlike link prediction there is no degree cap:
    core members are exactly the high-degree nodes, so every array is
    its node's FULL residual adjacency. The giant-row envelope is
    therefore max-degree-bound -- 8 bytes x degree per buffer, fine
    through degree ~1e6 (8 MB) and pinned by the degree-50k celebrity
    star stress in test_scale_stress.py; past that, chunk the arrays
    by a neighbor-hash salt (the build becomes groupBy(node, salt) and
    the degree test a |V x salt|-row rollup) -- not shipped because the
    extra per-round exchange it forces LOSES at every degree this data
    family reaches. The edge set only ever shrinks, and
    :func:`materialize` truncates the growing plan each round exactly
    like connected components. No driver-side data beyond the plan;
    the loop count is a compile-time constant, so there is not even a
    per-round count() probe.
    """
    return kcore_summary(_copurchase_edges(spark, sf_dir))


def kcore_summary(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Adjacency-array k-core peeling of any distinct (u, v; u != v,
    one row per undirected edge) edge DataFrame -- factored out so
    scale tests can feed planted graphs (the triangle_summary
    convention)."""
    edges = materialize(edges)
    n_edges_initial = edges.agg(F.count(F.lit(1)).alias("n_edges_initial"))

    # Full (undirected) adjacency arrays: one 2E-row exchange. A node
    # appears iff it has >= 1 edge, so count(adj) = the old
    # count(degrees) for n_nodes_initial.
    both = edges.select(F.col("u").alias("w"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    size = Observation()
    adj = materialize(
        both.groupBy("w")
        .agg(F.collect_list("n").alias("ns"))
        .observe(size, F.count(F.lit(1)).alias("n"))
    )
    n_nodes_initial = adj.agg(F.count(F.lit(1)).alias("n_nodes_initial"))

    # keep_i = nodes with induced degree >= k in round i-1's graph;
    # round i's graph = keep_i x keep_i restriction. A keep_i node
    # whose neighbors all died stays counted this round and drops from
    # adj because it has no residual edges -- identical semantics to
    # the replaced edge-list formulation and to the oracle's CTE chain.
    # surv is NOT materialized: both consumers (the survivor set and
    # the explode) re-scan the already-materialized adj, so the filter
    # costs nothing either time.
    #
    # r12 regime gate (OPTIMIZATION_r12.md item 4): restricting the
    # exploded neighbor side to survivors is set-equivalent to
    # SUBTRACTING the round's dropped nodes (arrays are symmetric --
    # every neighbor holds an edge back to its source, so every
    # neighbor id is in exactly one of keep/dropped). Below
    # durability.BROADCAST_MAX_ROWS the loop therefore anti-joins an explicit
    # BROADCAST of dropped (|V'|-row, decided by the row count observed
    # while adj materializes): the round keeps ONE E'-row groupBy
    # exchange and plans 1 BHJ / 0 SMJ / 0 sorts, vs the merge shape's
    # two exchanges + two sorts (E'-row semi stream + V'-row build).
    # WON both interleaved isolated sf0.1 pairings (4.96/4.69 s vs
    # 5.86/5.69 best-of-3), hash-identical at sf0.001/0.01/0.1. The
    # probe's variant A (persist-chain keeping the groupBy partitioning
    # for ZERO per-round exchanges) measured NEGATIVE 7.64 vs 3.27 s:
    # persist does not truncate the logical plan, and with adj
    # referenced twice per round Catalyst re-inlines the chain
    # exponentially (the r09 MMR lesson) -- planning swamps the
    # exchange saved. Past the gate (|V| linear in corpus, a broadcast
    # would OOM the driver) the semi-join shape runs byte-unchanged.
    small_v = broadcast_fits(size.get["n"])
    surv = None
    for _ in range(rounds):
        surv = adj.filter(F.size("ns") >= k)
        exploded = surv.select("w", F.explode("ns").alias("n"))
        if small_v:
            dropped = adj.filter(F.size("ns") < k).select(F.col("w").alias("n"))
            kept = exploded.join(F.broadcast(dropped), "n", "left_anti")
        else:
            keep = surv.select(F.col("w").alias("n"))
            kept = exploded.join(keep, "n", "left_semi")
        adj = kept.groupBy("w").agg(F.collect_list("n").alias("ns"))
        adj = materialize(adj)

    summary = surv.agg(F.count(F.lit(1)).alias("n_core_nodes")).crossJoin(
        adj.agg(
            (F.coalesce(F.sum(F.size("ns")), F.lit(0)) / 2)
            .cast("long")
            .alias("n_core_edges"),
            F.min(F.size("ns")).cast("long").alias("min_core_degree"),
        )
    )
    return (
        n_nodes_initial.crossJoin(n_edges_initial)
        .crossJoin(summary)
        .select(
            F.lit(k).cast("long").alias("k"),
            "n_nodes_initial",
            "n_edges_initial",
            "n_core_nodes",
            "n_core_edges",
            "min_core_degree",
        )
    )


# ----------------------------------------------- degree distribution
_DEGREE_HIST_ORACLE = f"""
WITH {_COPURCHASE_EDGES_SQL}, {_DEGREES_SQL}, bucketed AS (
  SELECT CASE
           WHEN d < 2 THEN 0 WHEN d < 4 THEN 1 WHEN d < 8 THEN 2
           WHEN d < 16 THEN 3 WHEN d < 32 THEN 4 WHEN d < 64 THEN 5
           WHEN d < 128 THEN 6 WHEN d < 256 THEN 7 WHEN d < 512 THEN 8
           ELSE 9 END AS bucket,
         d
  FROM deg
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(POWER(2, bucket) AS BIGINT) AS lo_degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_d,
       CAST(MAX(d) AS BIGINT) AS max_d
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


@query("graph_degree_histogram", oracle=_DEGREE_HIST_ORACLE)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned (power-of-two) degree distribution of the co-purchase
    graph -- the first thing you plot to see whether a graph is
    power-law (celebrity nodes ahead) or homogeneous, i.e. whether the
    degree-orientation and salting machinery will matter. Buckets are
    an explicit CASE ladder (integer compares, no log()), so both
    engines bin identically; output is ~10 rows from one degree
    aggregate."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bucket = (
        F.when(F.col("d") < 2, 0).when(F.col("d") < 4, 1)
        .when(F.col("d") < 8, 2).when(F.col("d") < 16, 3)
        .when(F.col("d") < 32, 4).when(F.col("d") < 64, 5)
        .when(F.col("d") < 128, 6).when(F.col("d") < 256, 7)
        .when(F.col("d") < 512, 8).otherwise(9)
    )
    return (
        deg.select(bucket.cast("long").alias("bucket"), "d")
        .groupBy("bucket")
        .agg(
            F.pow(F.lit(2), F.col("bucket")).cast("long").alias("lo_degree"),
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
        .select("bucket", "lo_degree", "n_nodes", "min_d", "max_d")
        .orderBy("bucket")
    )


# ----------------------------------------------- link prediction (CN)
LP_DEG_CAP = 64  # wedge centers above this degree are skipped (hubs)
LP_TOP = 20

_LINKPRED_ORACLE = f"""
WITH {_COPURCHASE_EDGES_SQL}, adj AS (
  SELECT u AS w, v AS n FROM edges UNION ALL SELECT v, u FROM edges
), deg AS (
  SELECT w AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY w
), centers AS (
  SELECT a.w, a.n FROM adj a JOIN deg ON a.w = deg.node
  WHERE deg.d <= {LP_DEG_CAP}
), cn AS (
  SELECT a.n AS pa, b.n AS pb, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM centers a JOIN centers b ON a.w = b.w AND a.n < b.n
  GROUP BY 1, 2
), nonadj AS (
  SELECT c.* FROM cn c
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE e.u = c.pa AND e.v = c.pb)
)
SELECT na.pa, na.pb, na.n_common,
       da.d AS deg_a, db.d AS deg_b,
       CAST(ROUND(1000000.0 * na.n_common / (da.d + db.d - na.n_common))
            AS BIGINT) AS jaccard_x1m
FROM nonadj na
JOIN deg da ON na.pa = da.node
JOIN deg db ON na.pb = db.node
ORDER BY na.n_common DESC, na.pa, na.pb
LIMIT {LP_TOP}
"""


@query("graph_link_prediction", oracle=_LINKPRED_ORACLE)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the part co-purchase graph:
    the {LP_TOP} strongest NOT-yet-adjacent part pairs by number of
    shared neighbors (plus neighborhood-Jaccard as an exact-integer
    tiebreaker signal) -- the classic "customers also bought"
    candidate generator and the simplest graph-ML feature.

    Scale shape: common-neighbor counting is inherently a per-center
    neighbor-pair fanout (O(d^2) per node), which no orientation trick
    removes -- so hub centers above degree {LP_DEG_CAP} are SKIPPED
    (standard practice: a part in every order predicts nothing, and
    the cap bounds the fanout at {LP_DEG_CAP}^2 rows per center;
    mirrored exactly in the oracle, and full degrees still feed the
    Jaccard denominator). The pair fanout runs IN-ROW since r10: the
    capped neighbor list packs into one sorted array per center and a
    nested transform emits its C(d, 2) ordered pairs -- replacing the
    centers self-join, which shuffled AND sorted the adjacency table
    twice just to rediscover pairs the array already holds (13 -> 10
    audited shuffles, 6 -> 3 sort-merge joins per the PLANS.md rows at
    a4c8f7e; the hub pre-filter's semi-join then adds one of each back,
    11 / 4 committed -- PLANS.md is the authority on these counts.
    Wall a wash at sf0.1 across interleaved isolated pairings,
    2.59/2.52 vs 2.70/2.54 s, because the pair groupBy dominates --
    the saving is the two adjacency shuffles, which is what grows at
    100 TB). One groupBy on the (a, b) pair key, one anti join against
    the edge list, TakeOrdered for the top slice.
    """
    edges = materialize(_copurchase_edges(spark, sf_dir))
    adj = edges.select(F.col("u").alias("w"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    deg = adj.groupBy(F.col("w").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # One sorted neighbor array per non-hub center; the nested transform
    # emits each center's C(d, 2) ordered (pa < pb) pairs in-row. Hub
    # centers are dropped BEFORE the array build (an INNER join against
    # the filtered degree table, not a post-agg filter): a post-filter
    # would still assemble the celebrity node's full neighbor array in
    # the aggregation buffer before discarding it -- the giant-row
    # hazard the cap exists to prevent. The join and the groupBy share
    # the same hash partitioning on w, and the adj exchange is reused
    # from the degree rollup, so the pre-filter costs one |V|-row
    # exchange. Post-join, every array is genuinely <= LP_DEG_CAP
    # elements. The join is deliberately INNER, not LEFT SEMI
    # (ADVICE r10 suggested semi for duplicate-proofing): nonhub is
    # duplicate-free by construction (one row per groupBy key), so the
    # two are value-identical here, and the r11 audit measured semi at
    # 13 shuffles / 5 SMJ vs inner's 11 / 4 (Catalyst reuses the deg
    # aggregate subtree under the inner shape but re-derives it under
    # semi). Revisit only if nonhub's derivation stops being a groupBy.
    nonhub = deg.filter(F.col("d") <= LP_DEG_CAP).select(
        F.col("node").alias("w")
    )
    nb = (
        adj.join(nonhub, "w")
        .groupBy("w")
        .agg(F.array_sort(F.collect_list("n")).alias("ns"))
    )
    pairs = nb.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ns"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ns"), i + 2, F.size(F.col("ns"))),
                        lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                    ),
                )
            )
        ).alias("p")
    )
    cn = (
        pairs.select(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = cn.join(
        edges.select(F.col("u").alias("pa"), F.col("v").alias("pb")),
        ["pa", "pb"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("deg_b"))
    return (
        nonadj.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(
                F.lit(1_000_000.0)
                * F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            ).cast("long").alias("jaccard_x1m"),
        )
        .orderBy(F.col("n_common").desc(), "pa", "pb")
        .limit(LP_TOP)
    )


# ---------------------------------------------- personalized PageRank
PPR_SEED_CAP = 10  # seed set: customers with key < 10


def _ppr_oracle() -> str:
    parts = [
        *_TRADE_EDGES_SQL,
        _TRADE_DEG_SQL,
        f"seeds AS (SELECT src AS node FROM deg"
        f"          WHERE src < {PPR_SEED_CAP})",
        "ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds)",
        "r0 AS (SELECT d.src AS node,"
        "  CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS rank"
        "  FROM deg d LEFT JOIN seeds s ON d.src = s.node CROSS JOIN ns)",
    ]
    for i in range(ITERS):
        parts.append(_rank_sum_sql(i))
        parts.append(
            f"r{i + 1} AS (SELECT t.node,"
            f"  CASE WHEN sd.node IS NOT NULL THEN {1.0 - DAMPING} / ns.n"
            f"       ELSE 0.0 END"
            f"  + {DAMPING} * (CAST(t.sc AS DOUBLE) / {float(RANK_SCALE)})"
            f"    AS rank"
            f"  FROM s{i} t LEFT JOIN seeds sd ON t.node = sd.node"
            f"  CROSS JOIN ns)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node,
       CAST(ROUND(rank * {RANK_SCALE}) AS BIGINT) AS rank_x1e9,
       CASE WHEN node >= 1000000000 THEN 'supplier' ELSE 'customer' END
         AS node_type
FROM r{ITERS}
WHERE ROUND(rank * {RANK_SCALE}) > 0
ORDER BY rank_x1e9 DESC, node
LIMIT {TOP_N}
"""
    )


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank: random walks restart at a SEED SET (the
    first {PPR_SEED_CAP} customers) instead of everywhere, so rank
    measures proximity TO THOSE SEEDS -- the
    recommendations-for-this-user / fraud-neighborhood primitive,
    versus global importance (graph_pagerank_top). It is
    :func:`pagerank` with ``seed_cap=PPR_SEED_CAP``: the same
    synchronous exact-integer rounds and the same size-gated regimes;
    only the teleport term changes (mass (1-d)/|S| on seeds, 0
    elsewhere). The oracle replays every round with the seed set as a
    left join; the Spark side tests ``node < PPR_SEED_CAP``, which is
    row-identical because every aggregated node is in V.

    Zero-rank nodes (unreached within the walk horizon) are filtered
    before the top slice."""
    pr = pagerank(spark, sf_dir, seed_cap=PPR_SEED_CAP)
    return (
        pr.select(
            "node",
            "rank_x1e9",
            F.when(F.col("node") >= 1_000_000_000, "supplier")
            .otherwise("customer")
            .alias("node_type"),
        )
        .filter(F.col("rank_x1e9") > 0)
        .orderBy(F.col("rank_x1e9").desc(), "node")
        .limit(TOP_N)
    )


# ---------------------------------------------------------- BFS hops
BFS_MAX_HOPS = 4


def _bfs_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT cust AS src, supp AS dst FROM pairs
  UNION ALL SELECT supp, cust FROM pairs
), walk(node, dist) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {BFS_MAX_HOPS}
), dists AS (
  SELECT node, CAST(MIN(dist) AS BIGINT) AS hops FROM walk GROUP BY node
)
SELECT hops,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN node >= 1000000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers,
       CAST(MIN(node) AS BIGINT) AS example_node
FROM dists
GROUP BY hops
ORDER BY hops
"""


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path BFS from a seed node (customer 0):
    how many nodes sit at each hop distance <= {BFS_MAX_HOPS} -- the
    blast-radius / supply-chain-exposure readout ("everything within
    two intermediaries"). Frontier expansion is the iterative
    DataFrame loop: each round joins the frontier against the
    pre-partitioned edge table and keeps only NEWLY reached nodes
    (anti join against the visited set), so a round's shuffle is
    bounded by the frontier, not the graph; visited is materialized
    per round (plan truncation). The oracle replays reachability as a
    recursive CTE with MIN(dist).

    Scale note: hop-limited BFS rounds = fixed round count; the
    visited/frontier tables shuffle on node id only."""
    edges = pin_partitioned(_edges(spark, sf_dir), "src")
    visited = materialize(
        edges.sparkSession.createDataFrame(
            [(0, 0)], "node bigint, hops bigint"
        )
    )
    frontier = visited
    for hop in range(1, BFS_MAX_HOPS + 1):
        neighbors = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = neighbors.join(
            visited.select("node"), "node", "left_anti"
        ).select("node", F.lit(hop).cast("long").alias("hops"))
        fresh = materialize(fresh)
        visited = materialize(visited.unionByName(fresh))
        frontier = fresh
    return (
        visited.groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum((F.col("node") >= 1_000_000_000).cast("long")).alias(
                "n_suppliers"
            ),
            F.min("node").alias("example_node"),
        )
        .orderBy("hops")
    )


# ---------------------------------------------------------- HITS
HITS_ITERS = 3
HITS_SCALE = 1_000_000_000


def _hits_oracle() -> str:
    parts = [
        "pairs AS (SELECT DISTINCT o_custkey AS cust,"
        " l_suppkey AS supp"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey)",
        "h0 AS (SELECT cust, CAST(1000000000 AS BIGINT) AS h FROM"
        " (SELECT DISTINCT cust FROM pairs))",
    ]
    for i in range(HITS_ITERS):
        parts.append(
            f"ar{i} AS (SELECT p.supp, CAST(SUM(h.h) AS BIGINT) AS raw"
            f" FROM pairs p JOIN h{i} h ON p.cust = h.cust GROUP BY p.supp)"
        )
        parts.append(
            f"a{i} AS (SELECT supp, CAST(ROUND({HITS_SCALE}.0 * raw /"
            f" (SELECT MAX(raw) FROM ar{i})) AS BIGINT) AS a FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS (SELECT p.cust, CAST(SUM(a.a) AS BIGINT) AS raw"
            f" FROM pairs p JOIN a{i} a ON p.supp = a.supp GROUP BY p.cust)"
        )
        parts.append(
            f"h{i + 1} AS (SELECT cust, CAST(ROUND({HITS_SCALE}.0 * raw /"
            f" (SELECT MAX(raw) FROM hr{i})) AS BIGINT) AS h FROM hr{i})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT * FROM (
  SELECT 'authority' AS role, supp AS node, a AS score_x1e9,
         ROW_NUMBER() OVER (ORDER BY a DESC, supp) AS rnk
  FROM a{HITS_ITERS - 1}
  UNION ALL
  SELECT 'hub' AS role, cust AS node, h AS score_x1e9,
         ROW_NUMBER() OVER (ORDER BY h DESC, cust) AS rnk
  FROM h{HITS_ITERS}
)
WHERE rnk <= 10
ORDER BY role, rnk
"""
    )


@query("graph_hits_hub_authority", oracle=_hits_oracle())
def graph_hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) on the bipartite trade graph: suppliers score
    AUTHORITY (bought by well-connected customers), customers score
    HUB (buying from authoritative suppliers) -- the
    mutual-reinforcement dual of PageRank's single importance.
    {HITS_ITERS} synchronous rounds; each round's max-normalisation
    happens ONCE through a broadcast 1-row max (scores re-scaled to
    x1e9 integers), so every cross-row sum is exact integer arithmetic
    and the oracle replays all rounds bit-for-bit.

    Two regimes, size-gated on the score-table universe (bounded above
    by the customer row count, a near-free parquet-metadata count job),
    bit-identical outputs (regime twin pinned in tests/test_graph_hits
    _regimes.py; OPTIMIZATION_r12.md item 1):

    - broadcast regime (|V| <= durability.BROADCAST_MAX_ROWS): the edge list is
      pinned on each half-round's GROUPBY key and the |V|-row score
      table joins in as an explicit broadcast build side, so a round
      pays ZERO planned exchanges -- the broadcast join streams the
      pinned pairs and the partial agg finishes in place (summed
      audited shuffles 11 -> 6; interleaved isolated sf0.1 pairings:
      5.78/5.84 s (+count job) vs old shape 9.32/7.05 s). The explicit
      F.broadcast matters: unhinted, the planner still picks BHJ from
      the cache stats but the planned groupBy exchanges remain as
      stage boundaries and AQE's runtime conversion does not remove
      them (measured: unhinted swapped-pin variant 9.80/7.33 s -- no
      win at all).
    - merge regime (|V| above the broadcast budget -- the 100 TB
      shape, |V_cust| grows linearly with the corpus): pins sit on the
      JOIN keys instead, every per-round join streams the |E| side
      exchange- and sort-free, and the groupBy pays one |V|-bounded
      post-partial-agg exchange per half-round. Broadcasting a
      |V|-row table there would OOM the driver; this is the same
      strategy call AQE makes per-join, lifted to the layout choice
      the joins depend on.

    Scale shape: per round, two edge joins + two groupBys (the
    bipartite halves); score cells crossing the wire are bounded by
    |V| in both regimes; the edge table is materialized once per
    layout. Top-10 per role via TakeOrdered-size windows over the
    |V|-row score tables, partitioned by role in the final union."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    # Upper bound on the hub-score universe: every cust key comes from
    # o_custkey, so |customer| bounds it; the count is memoized per
    # file (io.row_count).
    small_v = broadcast_fits(row_count(spark, sf_dir, "customer"))
    # Two pinned layouts of the bipartite edge list. Regime picks the
    # keys: broadcast regime pins on the GROUPBY keys (supp for the
    # authority half, cust for the hub half) because the score join is
    # a broadcast and the groupBy is what needs co-location; merge
    # regime pins on the JOIN keys (cust / supp respectively) so the
    # SMJ streams the |E| side exchange- and sort-free. Either way the
    # second pin reads the first's cache, not the orders ⋈ lineitem
    # subtree, and the 2x storage is the price of the two bucketed
    # layouts a 100 TB deployment would keep for this access pattern.
    first = pin_partitioned(base, "supp" if small_v else "cust")
    second = pin_partitioned(first, "cust" if small_v else "supp")
    pairs_ar, pairs_hr = first, second
    score_side = F.broadcast if small_v else (lambda df: df)
    hubs = first.select("cust").distinct().select(
        "cust", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    auths = None
    for _ in range(HITS_ITERS):
        # Truncate the iterative lineage at the ROUND AGGREGATE, before
        # the max-normalise references it twice (agg + rescale): an
        # unmaterialized loop DOUBLES the plan per iteration (measured:
        # 474 shuffles / 188 SMJ in the pre-execution plan at 6 rounds vs
        # 31 truncated), and truncating AFTER the rescale (as r07 did)
        # still derived each round's edge join + groupBy twice -- once
        # under the broadcast max subtree, once on the main path
        # (measured: 70 -> 22 summed audited shuffles, 24 -> 6 SMJ). The
        # rescale itself is a broadcast of a 1-row max over the
        # checkpointed aggregate, so leaving it un-materialized is free.
        ar = materialize(
            pairs_ar.join(score_side(hubs), "cust").groupBy("supp").agg(
                F.sum("h").alias("raw")
            )
        )
        amax = ar.agg(F.max("raw").alias("m"))
        auths = ar.crossJoin(F.broadcast(amax)).select(
            "supp",
            F.round(F.lit(float(HITS_SCALE)) * F.col("raw") / F.col("m"))
            .cast("long")
            .alias("a"),
        )
        hr = materialize(
            pairs_hr.join(score_side(auths), "supp").groupBy("cust").agg(
                F.sum("a").alias("raw")
            )
        )
        hmax = hr.agg(F.max("raw").alias("m"))
        hubs = hr.crossJoin(F.broadcast(hmax)).select(
            "cust",
            F.round(F.lit(float(HITS_SCALE)) * F.col("raw") / F.col("m"))
            .cast("long")
            .alias("h"),
        )
    from pyspark.sql import Window as W

    a_ranked = auths.select(
        F.lit("authority").alias("role"),
        F.col("supp").alias("node"),
        F.col("a").alias("score_x1e9"),
    )
    h_ranked = hubs.select(
        F.lit("hub").alias("role"),
        F.col("cust").alias("node"),
        F.col("h").alias("score_x1e9"),
    )
    w = W.partitionBy("role").orderBy(F.col("score_x1e9").desc(), "node")
    return (
        a_ranked.unionByName(h_ranked)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("role", "node", "score_x1e9", F.col("rnk").cast("long"))
        .orderBy("role", "rnk")
    )


# ------------------------------------------ incremental connected components

INC_DELTA_MOD = 5  # (cust*31 + supp*17) % 5 == 0 -> the "new today" edges

_INC_CC_ORACLE = f"""
WITH RECURSIVE raw AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 8 = 0
),
pairs AS (
  SELECT cust AS a, supp + 1000000000 AS b
  FROM raw
),
edges AS (
  SELECT a AS s, b AS d FROM pairs UNION ALL SELECT b, a FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.id
),
full_labels AS (SELECT id, MIN(label) AS label FROM reach GROUP BY id),
base_pairs AS (
  SELECT cust AS a, supp + 1000000000 AS b FROM raw
  WHERE (cust * 31 + supp * 17) % {INC_DELTA_MOD} <> 0
),
base_edges AS (
  SELECT a AS s, b AS d FROM base_pairs UNION ALL SELECT b, a FROM base_pairs
),
base_reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.label FROM base_reach r JOIN base_edges e ON e.s = r.id
),
base_labels AS (SELECT id, MIN(label) AS label FROM base_reach GROUP BY id)
SELECT f.id AS node,
       CAST(f.label AS BIGINT) AS cluster_id,
       CAST(b.label AS BIGINT) AS base_cluster_id,
       CAST(CASE WHEN f.label <> b.label THEN 1 ELSE 0 END AS BIGINT)
         AS relabelled_by_delta
FROM full_labels f JOIN base_labels b ON f.id = b.id
ORDER BY node
"""


@query("graph_components_incremental", oracle=_INC_CC_ORACLE)
def graph_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected-components maintenance: labels for the
    customer-supplier graph are first converged on the "yesterday"
    edge set (a deterministic 4/5 hash split), then today's delta edges
    arrive and the propagation RESUMES FROM THE CONVERGED LABELS over
    the full edge set -- the daily-maintenance shape of every
    production dedup/identity graph, where recomputing components from
    scratch on 100 TB of accumulated edges for a 1% daily delta is the
    naive plan this operator replaces.

    Why it is cheap: label propagation seeded with converged labels
    only pays rounds proportional to the diameter of the regions the
    NEW edges merge (most rounds touch nothing and the change-count
    probe exits immediately); the per-round shuffle still carries only
    edge-participating nodes. Correctness is the whole point of the
    oracle: the output must equal the from-scratch batch recompute
    (the DuckDB recursive CTE), making incremental == batch a GATED
    equivalence, not a hope -- PER NODE: every row carries the node's
    incremental label and its yesterday label, so a single mislabelled
    node anywhere in the graph fails the value hash.
    """
    from ushas_spark.operators.dedup import connected_components

    # 1-in-8 order subset: the full customer-supplier graph is so dense
    # it is one component with or without the delta, which would leave
    # the seeded MERGE path untested. The sparse subgraph has many base
    # components and the delta edges perform real merges (asserted
    # non-zero in tests).
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        orders.filter(F.col("o_orderkey") % 8 == 0)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    raw = materialize(raw)
    pairs = raw.select(
        F.col("cust").alias("a"),
        (F.col("supp") + 1_000_000_000).alias("b"),
        ((F.col("cust") * 31 + F.col("supp") * 17) % INC_DELTA_MOD == 0).alias(
            "is_delta"
        ),
    )
    nodes = (
        pairs.select(F.col("a").alias("id"))
        .unionAll(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    base = pairs.filter(~F.col("is_delta"))
    base_labels = connected_components(
        nodes, base, id_col="id", src="a", dst="b"
    )
    base_labels = materialize(base_labels)
    full_labels = connected_components(
        nodes, pairs, id_col="id", src="a", dst="b", init_labels=base_labels
    )
    return (
        full_labels.join(
            base_labels.select(
                F.col("id").alias("bid"), F.col("label").alias("base_label")
            ),
            full_labels.id == F.col("bid"),
        )
        .select(
            F.col("id").alias("node"),
            F.col("label").cast("long").alias("cluster_id"),
            F.col("base_label").cast("long").alias("base_cluster_id"),
            (F.col("label") != F.col("base_label"))
            .cast("long")
            .alias("relabelled_by_delta"),
        )
        .orderBy("node")
    )
