package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Hashing

/** Graph analytics over relational edge sets (g01..g02) — the
  * large-graph operator family next to Dedup's connected components.
  *
  * g01 PageRank runs in FIXED-POINT integer arithmetic (ranks are
  * bigint micro-units, SCALE = 10^12): every per-iteration sum and
  * division is exact integer math, so the result is bit-identical
  * across engines, partitionings and reduction orders — double
  * accumulation would drift by reduction order and break the hash
  * gate (and, at 100 TB, reproducibility between reruns). The same
  * trick production graph engines use for deterministic convergence
  * checks.
  *
  * Scale shape: one edge shuffle per iteration (groupBy dst on the
  * contributions), 5 fixed rounds, state checkpointed per round —
  * each round reads the previous state three times (contributions,
  * dangling mass, carry), so bounded-lineage materialization replaces
  * the 3^k-subtree unrolled plan (same discipline as d08's iterative
  * connected components). The dangling-mass term is a 1-row aggregate
  * broadcast (the sanctioned q20 scalar shape). At 1000 executors the
  * per-iteration shuffle is edge-partitioned — the textbook Pregel
  * cost.
  *
  * g02 counts triangles with DEGREE ORIENTATION (each undirected
  * edge directed from the (deg, id)-smaller endpoint): wedge
  * generation is then bounded by sum(out-deg²) with out-degrees
  * capped near sqrt(m) — the standard O(m^1.5) bound that makes
  * triangle counting feasible on power-law graphs where the naive
  * per-vertex join explodes on hubs.
  */
object Graph {

  private val SCALE = 1000000000000L // 10^12 fixed-point units
  private val DAMP_NUM = 85L         // d = 0.85 as 85/100
  private val ITERS = 5
  private val SUPPLIER_OFFSET = 1000000L

  /** Undirected customer—supplier edges (distinct trade relations),
    * both directions emitted; suppliers offset into their own id
    * range. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val e = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("c"),
        (col("l_suppkey") + SUPPLIER_OFFSET).as("sn"))
      .distinct()
    e.select(col("c").as("src"), col("sn").as("dst"))
      .union(e.select(col("sn").as("src"), col("c").as("dst")))
  }

  /** The shared edge-list CTE prelude. `materialized = true` pins both
    * CTEs to one evaluation each (DuckDB inlines plain CTEs — a
    * consumer that references `edges` once per unrolled round would
    * otherwise re-evaluate the whole lineitem⋈orders build every
    * round); the flag is a parameter, not a post-hoc string rewrite,
    * so a rewording of this prelude can't silently drop it. */
  private def sqlEdgesM(materialized: Boolean): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    s"""ed AS $m(
       |  SELECT DISTINCT o_custkey AS c, l_suppkey + $SUPPLIER_OFFSET AS sn
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS $m(SELECT c AS src, sn AS dst FROM ed
       |          UNION ALL SELECT sn, c FROM ed)""".stripMargin
  }
  private val sqlEdges: String = sqlEdgesM(materialized = false)

  // g01: 5 statically-unrolled PageRank iterations, damping 0.85,
  // dangling mass redistributed uniformly. Node set = every customer
  // and supplier (isolated ones included — they are the dangling
  // nodes). Output: top-20 nodes by rank (bigint fixed-point ties
  // broken by node id — fully deterministic).
  def g01(s: SparkSession, d: String): DataFrame = {
    // The fixed-point PageRank loop lives in the public API
    // (api.Graph.pageRank) so users run THE gated copy on their own
    // edge frames; this key — against the statically-unrolled DuckDB
    // oracle — is its correctness proof. The kernel keeps the
    // bounded-lineage discipline: each iteration reads the previous
    // state three times, so an unrolled plan grows 3^ITERS subtrees;
    // Pin.cut per round truncates it and one edge shuffle per
    // iteration remains the honest Pregel cost.
    val nodes = Tables.customer(s, d).select(col("c_custkey").as("node"))
      .union(Tables.supplier(s, d)
        .select((col("s_suppkey") + SUPPLIER_OFFSET).as("node")))
    graft.api.Graph.pageRank(edges(s, d), "src", "dst",
        nodes = Some(nodes), iterations = ITERS,
        dampingPct = DAMP_NUM.toInt)
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(20)
  }

  val g01Sql: String = {
    val base = s"(15 * ($SCALE // t.n)) // 100"
    def iter(k: Int): String =
      s"""it$k AS (
         |  SELECT p.node, p.deg, t.n,
         |    $base + ($DAMP_NUM * (coalesce(inc.s, 0) + dg.dang // t.n)) // 100 AS r
         |  FROM it${k - 1} p
         |  CROSS JOIN (SELECT count(*) AS n FROM nodes) t
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(c.r // c.deg) AS BIGINT) AS s
         |    FROM it${k - 1} c JOIN edges e ON c.node = e.src
         |    WHERE c.deg > 0 GROUP BY 1) inc ON p.node = inc.node
         |  CROSS JOIN (
         |    SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
         |    FROM it${k - 1} WHERE deg = 0) dg)""".stripMargin
    s"""WITH $sqlEdges,
       |nodes AS (SELECT c_custkey AS node FROM customer
       |          UNION ALL SELECT s_suppkey + $SUPPLIER_OFFSET FROM supplier),
       |dgr AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |it0 AS (
       |  SELECT n.node, coalesce(dgr.deg, 0) AS deg, t.n, $SCALE // t.n AS r
       |  FROM nodes n
       |  CROSS JOIN (SELECT count(*) AS n FROM nodes) t
       |  LEFT JOIN dgr ON n.node = dgr.node),
       |${(1 to ITERS).map(iter).mkString(",\n")}
       |SELECT node, r AS rank_fp, round(r / ${SCALE.toDouble}, 6) AS rank
       |FROM it$ITERS ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin
  }

  // g02: degree-oriented triangle count over the item co-occurrence
  // graph (edges = item pairs co-bought in >= 2 orders, r03's edge
  // set). Single-row output: edges, wedges (the join's work bound)
  // and triangles, plus the global clustering coefficient — all
  // integers until the one final division.
  def g02(s: SparkSession, d: String): DataFrame = {
    val oi = graft.etl.Ratings.orderItems(s, d)
    val co = oi.as("a").join(oi.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select("i", "j")
    val deg = co.select(col("i").as("node")).union(co.select(col("j")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    // orient each edge from the (deg, id)-smaller endpoint
    val oriented = co
      .join(deg.select(col("node").as("i"), col("dg").as("di")), Seq("i"))
      .join(deg.select(col("node").as("j"), col("dg").as("dj")), Seq("j"))
      .select(
        when(struct(col("di"), col("i")) < struct(col("dj"), col("j")), col("i"))
          .otherwise(col("j")).as("a"),
        when(struct(col("di"), col("i")) < struct(col("dj"), col("j")), col("j"))
          .otherwise(col("i")).as("b"))
    val ob = oriented.join(deg.select(col("node").as("b"), col("dg").as("db")), Seq("b"))
    val wedges = ob.as("w1").join(ob.as("w2"),
      col("w1.a") === col("w2.a") &&
        struct(col("w1.db"), col("w1.b")) < struct(col("w2.db"), col("w2.b")))
    val tri = wedges.join(oriented.as("cl"),
        col("cl.a") === col("w1.b") && col("cl.b") === col("w2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nw = ob.groupBy("a").agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("n_wedges"))
    co.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nw))
      .crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(when(col("n_wedges") > 0,
            col("n_triangles").cast("double") / col("n_wedges"))
          .otherwise(lit(0.0)), 6).as("closure_rate"))
  }

  val g02Sql: String =
    """WITH oi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS (
      |  SELECT a.l_partkey AS i, b.l_partkey AS j
      |  FROM oi a JOIN oi b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |dgr AS (
      |  SELECT node, count(*) AS dg
      |  FROM (SELECT i AS node FROM co UNION ALL SELECT j FROM co)
      |  GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN (da.dg, co.i) < (db.dg, co.j) THEN co.i ELSE co.j END AS a,
      |         CASE WHEN (da.dg, co.i) < (db.dg, co.j) THEN co.j ELSE co.i END AS b
      |  FROM co JOIN dgr da ON co.i = da.node JOIN dgr db ON co.j = db.node),
      |ob AS (SELECT o.a, o.b, dgr.dg AS db FROM o JOIN dgr ON o.b = dgr.node),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM ob w1
      |  JOIN ob w2 ON w1.a = w2.a AND (w1.db, w1.b) < (w2.db, w2.b)
      |  JOIN o cl ON cl.a = w1.b AND cl.b = w2.b),
      |nw AS (
      |  SELECT CAST(coalesce(sum(od * (od - 1) // 2), 0) AS BIGINT) AS n_wedges
      |  FROM (SELECT a, count(*) AS od FROM ob GROUP BY 1)),
      |ne AS (SELECT count(*) AS n_edges FROM co)
      |SELECT ne.n_edges, nw.n_wedges, tri.n_triangles,
      |  round(CASE WHEN nw.n_wedges > 0
      |    THEN CAST(tri.n_triangles AS DOUBLE) / nw.n_wedges ELSE 0.0 END, 6)
      |    AS closure_rate
      |FROM ne CROSS JOIN nw CROSS JOIN tri""".stripMargin

  // g03: BFS hop-distance histogram from a fixed source (customer 1)
  // over the trade graph — the reachability/radius primitive under
  // every "how far is X from Y" graph question. Frontier iteration
  // with min-dist dedup per round: each round is one edge shuffle on
  // the frontier, state is (node, dist) — integers throughout, so the
  // histogram is exact in both engines. The oracle's recursive CTE
  // uses UNION (set) recursion, which explores each (node, dist)
  // state once — the sequential semantics the distributed rounds must
  // reproduce.
  private val BFS_ROUNDS = 4
  private val BFS_SOURCE = 1L

  def g03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Pin.cut(edges(s, d))
    var dist = Pin.cut(Seq((BFS_SOURCE, 0)).toDF("node", "dist"))
    for (_ <- 1 to BFS_ROUNDS) {
      dist = dist
        .union(dist.join(e, dist("node") === e("src"))
          .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
      dist = Pin.cut(dist)
    }
    dist.groupBy("dist").agg(count(lit(1)).as("n_nodes")).orderBy("dist")
  }

  val g03Sql: String =
    s"""WITH RECURSIVE $sqlEdges,
       |r(node, dist) AS (
       |  SELECT CAST($BFS_SOURCE AS BIGINT), 0
       |  UNION
       |  SELECT e.dst, r.dist + 1 FROM r JOIN edges e ON r.node = e.src
       |  WHERE r.dist < $BFS_ROUNDS),
       |mind AS (SELECT node, min(dist) AS dist FROM r GROUP BY 1)
       |SELECT dist, count(*) AS n_nodes FROM mind GROUP BY 1 ORDER BY 1""".stripMargin

  // g04: K-hop-bounded single-source WEIGHTED shortest path —
  // Bellman–Ford relaxation over the trade graph with edge cost
  // inversely tied to trade strength (w = max(1, 6 - n_orders), so
  // well-traded links are cheap and the distance reads as "cost of
  // reaching X through strong trade relations"). The relaxation
  // invariant: after round k, dist(v) = min cost over paths with
  // <= k edges — so K fixed rounds compute exactly the bounded-hop
  // optimum the oracle enumerates. min-collapsing the state per
  // round is what makes this scale: the frontier carries one row
  // per node, never one row per path (the path set is exponential;
  // the state set is |V|). Integer weights throughout → exact,
  // reduction-order-independent, hash-gateable. Scale shape: the
  // weighted edge list is one groupBy over the order-supplier join
  // (built once, pinned); each round is one frontier shuffle + one
  // min-agg, identical to g03's Pregel cost.
  //
  // Oracle: UNION (set) recursion over (node, dist, hops) states —
  // bounded because dist <= K * max(w) and hops <= K, so the state
  // space is |V| * 20 * K at worst, not the path count.
  private val SSSP_ROUNDS = 4
  private val SSSP_SOURCE = 1L

  /** Weighted trade edges: cost = max(1, 6 - distinct orders between
    * the pair), both directions. */
  private def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val e = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("c"),
        (col("l_suppkey") + SUPPLIER_OFFSET).as("sn"))
      .agg(countDistinct(col("o_orderkey")).as("cnt"))
      .select(col("c"), col("sn"),
        greatest(lit(1L), lit(6L) - col("cnt")).as("w"))
    e.select(col("c").as("src"), col("sn").as("dst"), col("w"))
      .union(e.select(col("sn").as("src"), col("c").as("dst"), col("w")))
  }

  def g04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Pin.cut(weightedEdges(s, d))
    var dist = Pin.cut(Seq((SSSP_SOURCE, 0L)).toDF("node", "dist"))
    for (_ <- 1 to SSSP_ROUNDS) {
      dist = dist
        .union(dist.join(e, dist("node") === e("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy("node").agg(min("dist").as("dist"))
      dist = Pin.cut(dist)
    }
    dist.orderBy("dist", "node").limit(25)
  }

  val g04Sql: String =
    s"""WITH RECURSIVE wed AS (
       |  SELECT o_custkey AS c, l_suppkey + $SUPPLIER_OFFSET AS sn,
       |    greatest(1, 6 - count(DISTINCT o_orderkey)) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |wedges AS (SELECT c AS src, sn AS dst, w FROM wed
       |           UNION ALL SELECT sn, c, w FROM wed),
       |r(node, dist, hops) AS (
       |  SELECT CAST($SSSP_SOURCE AS BIGINT), CAST(0 AS BIGINT), 0
       |  UNION
       |  SELECT e.dst, r.dist + e.w, r.hops + 1
       |  FROM r JOIN wedges e ON r.node = e.src
       |  WHERE r.hops < $SSSP_ROUNDS),
       |mind AS (SELECT node, min(dist) AS dist FROM r GROUP BY 1)
       |SELECT node, dist FROM mind ORDER BY dist, node LIMIT 25""".stripMargin

  // g05: K-CORE decomposition by iterative peeling — the standard
  // "dense substructure" graph operator (community seeds, spam rings,
  // influence cores): repeatedly remove nodes with fewer than K
  // neighbors among survivors until fixpoint. Runs on the STRONG-TIE
  // trade graph (relations with ≥3 distinct orders) where removals
  // actually cascade (5 peel rounds at sf0.01 — measured; the full
  // graph is too dense to peel). Each round is one semi-join-restrict
  // + one degree aggregation — edge-partitioned shuffles, state =
  // survivor node set, lineage pinned per round (Pin.cut). The
  // oracle runs the identical peel as a recursive CTE whose working
  // table carries the full survivor set per iteration, with the same
  // round cap — so round-for-round removal decisions must agree.
  // Output: core members + their in-core degree. The k-core
  // characterization (every member ≥K in-core neighbors, every
  // removed node <K neighbors IN THE CORE) is pinned in OpsSpec.
  // NOTE the two formulations agree only while the core is NON-EMPTY
  // (a recursive CTE's last working table is the last non-empty
  // round; the Spark loop would continue to the empty fixpoint).
  // These thresholds yield cores of 145/164/1000+ members at
  // sf0.001/0.01/0.1 (measured); OpsSpec pins non-emptiness.
  private val CORE_K = 3
  private val CORE_MIN_ORDERS = 3
  private val CORE_ROUNDS = 50

  /** Strong-tie undirected edge list (both directions). Both
    * orientations come out of ONE explode over the aggregated ties —
    * a union of two projections would duplicate the whole
    * join+aggregate subtree in every consumer's plan (Spark has no
    * common-subtree reuse), doubling the g05/g07/g08 edge build. */
  private def strongEdges(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("c"),
        (col("l_suppkey") + SUPPLIER_OFFSET).as("sn"))
      .agg(countDistinct("o_orderkey").as("n_ord"))
      .filter(col("n_ord") >= CORE_MIN_ORDERS)
      .select(explode(array(
        struct(col("c").as("src"), col("sn").as("dst")),
        struct(col("sn").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  private[graft] def kcoreNodes(s: SparkSession, d: String): DataFrame = {
    val edges = strongEdges(s, d).cache()
    var surv = Pin.cut(edges.select(col("src").as("node")).distinct())
    var n = surv.count()
    var rounds = 0
    var done = false
    while (!done && rounds < CORE_ROUNDS) {
      val deg = edges
        .join(surv.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(surv.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("deg"))
      val next = Pin.cut(
        deg.filter(col("deg") >= CORE_K).select(col("src").as("node")))
      val m = next.count()
      done = m == n // survivors only shrink: count equality = set equality
      surv = next
      n = m
      rounds += 1
    }
    edges.unpersist()
    surv
  }

  def g05(s: SparkSession, d: String): DataFrame = {
    val edges = strongEdges(s, d)
    val core = kcoreNodes(s, d)
    edges
      .join(core.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(core.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  val g05Sql: String =
    s"""WITH RECURSIVE ed AS (
       |  SELECT o_custkey AS c, l_suppkey + $SUPPLIER_OFFSET AS sn
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= $CORE_MIN_ORDERS),
       |sym AS (SELECT c AS src, sn AS dst FROM ed UNION ALL SELECT sn, c FROM ed),
       |surv(iter, node) AS (
       |  SELECT 0, src FROM (SELECT DISTINCT src FROM sym) t
       |  UNION ALL
       |  SELECT s.iter + 1, s.node
       |  FROM surv s
       |  JOIN (SELECT e.src AS node, count(*) AS deg FROM sym e
       |        JOIN surv s1 ON e.src = s1.node
       |        JOIN surv s2 ON e.dst = s2.node GROUP BY e.src) d
       |    ON s.node = d.node
       |  WHERE d.deg >= $CORE_K AND s.iter < $CORE_ROUNDS
       |    AND (SELECT count(*) FROM surv) >
       |        (SELECT count(*) FROM surv s3
       |         JOIN (SELECT e.src AS node, count(*) AS deg FROM sym e
       |               JOIN surv s1 ON e.src = s1.node
       |               JOIN surv s2 ON e.dst = s2.node GROUP BY e.src) d2
       |           ON s3.node = d2.node WHERE d2.deg >= $CORE_K)),
       |core0 AS (
       |  SELECT node FROM surv WHERE iter = (SELECT max(iter) FROM surv)),
       |core AS (
       |  -- ONE extra peel of the last recorded state: a recursive CTE
       |  -- cannot emit an EMPTY round and continue, so when the peel
       |  -- goes extinct the recursion stops at the pre-extinction
       |  -- state and max(iter) is NOT the k-core (sf0.1: max degree 2,
       |  -- true 3-core empty, the raw rule returned all 274 nodes).
       |  -- The recursion only ever halts when the next peel is the
       |  -- identity (fixpoint) or empty (extinction) - this closer is
       |  -- exact in both cases.
       |  SELECT e.src AS node FROM sym e
       |  JOIN core0 c1 ON e.src = c1.node
       |  JOIN core0 c2 ON e.dst = c2.node
       |  GROUP BY 1 HAVING count(*) >= $CORE_K)
       |SELECT e.src AS node, count(*) AS deg
       |FROM sym e
       |JOIN core c1 ON e.src = c1.node
       |JOIN core c2 ON e.dst = c2.node
       |GROUP BY 1 ORDER BY node""".stripMargin

  // ------------------------------------------------------------------
  // g06: LINK PREDICTION by common-neighbor / Jaccard scoring — the
  // classic graph-ML primitive (Liben-Nowell & Kleinberg): for a
  // QUERY COHORT of customers (u < 200 — link prediction is always
  // asked for a cohort, not all |V|² pairs), score every candidate
  // partner v sharing a supplier: inter = |N(u) ∩ N(v)|, Jaccard =
  // inter / (|N(u)| + |N(v)| − inter). Integer set sizes and ONE IEEE
  // division rounded to 6dp → bit-exact cross-engine (the r04
  // discipline). Top-20 predicted links by (jaccard, inter, ids).
  // Scale: the pair join is keyed on the shared supplier with the
  // COHORT on one side, so per-supplier fan-out is |cohort ∩
  // audience| × |audience| — linear in audience size, not audience².
  // (The first cut exploded full per-supplier baskets: audience² blew
  // up 35× at sf0.1 — 177 s — exactly the hub hazard the basket shape
  // can't bound. The cohort-sided join is how a serving system asks
  // this query, and it survives hubs.) Degrees are a broadcast dim.
  def g06(s: SparkSession, d: String): DataFrame = {
    val cs = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val deg = cs.groupBy(col("cust").as("uid")).agg(count(lit(1)).as("nsupp"))
    val cohort = cs.filter(col("cust") < 200)
      .select(col("cust").as("u"), col("supp"))
    val inter = cohort
      .join(cs.select(col("cust").as("v"), col("supp")), Seq("supp"))
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(deg).as("du"), col("u") === col("du.uid"))
      .join(broadcast(deg).as("dv"), col("v") === col("dv.uid"))
      .select(col("u"), col("v"), col("inter"),
        round(col("inter") /
          (col("du.nsupp") + col("dv.nsupp") - col("inter")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("inter").desc, col("u"), col("v"))
      .limit(20)
  }

  val g06Sql: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg AS (SELECT cust, count(*) AS nsupp FROM cs GROUP BY 1),
      |inter AS (
      |  SELECT a.cust AS u, b.cust AS v, count(*) AS inter
      |  FROM cs a JOIN cs b ON a.supp = b.supp AND a.cust < b.cust
      |  WHERE a.cust < 200
      |  GROUP BY 1, 2)
      |SELECT u, v, inter,
      |  round(inter / (du.nsupp + dv.nsupp - inter), 6) AS jaccard
      |FROM inter JOIN deg du ON u = du.cust JOIN deg dv ON v = dv.cust
      |ORDER BY jaccard DESC, inter DESC, u, v LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // g07: COMMUNITY DETECTION by synchronous label propagation
  // (Raghavan et al. 2007) over the strong-tie graph — the
  // linear-time community primitive next to g05's k-core. Classic
  // async LPA is visit-order-dependent (useless under a hash gate and
  // irreproducible on a cluster); the synchronous variant with a
  // DETERMINISTIC tie rule is exact: each round every node adopts the
  // most frequent label among its neighbors ∪ itself, ties broken by
  // smallest label. The argmax is integer-PACKED — min over
  // (CNT_CAP − cnt)·PACK + label — so it is a plain min aggregation:
  // map-side partial, no exchange+sort, and bit-identical in both
  // engines (the ANN-assign argmin discipline). Pack bounds are
  // data-derived at gate scale (labels < PACK, degrees < CNT_CAP);
  // at 100 TB the same argmax runs over a (cnt DESC, label ASC)
  // struct min instead — identical semantics, no packing bound.
  // 3 fixed rounds (the LPA literature's "most labels settle in <5
  // iterations"; fixed rounds keep the oracle's recursion finite).
  // Scale: one edge-keyed shuffle + one node-keyed min-agg per
  // round, state pinned per round (d08's bounded-lineage rule) —
  // the Pregel cost, nothing quadratic anywhere.
  private val LPA_ROUNDS = 3
  private val LPA_PACK = 4000000L
  private val LPA_CNT_CAP = 1000000L

  /** The converged (node, label) assignment after LPA_ROUNDS — a
    * SHARED ARTIFACT (g07's rollup and g08's modularity both consume
    * it), memoized per (session, dataset) under the round-6 rule: one
    * propagation run serves every community query. */
  private val lpaCache = Memo.artifact[DataFrame]("g07_lpa_labels")

  private[graft] def lpaLabels(s: SparkSession, d: String): DataFrame =
    lpaCache(s, d) {
      val edges = strongEdges(s, d).cache()
      var lab = Pin.cut(
        edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label")))
      (1 to LPA_ROUNDS).foreach { _ =>
        val nbr = edges
          .join(lab.select(col("node").as("src"), col("label")), Seq("src"))
          .select(col("dst").as("node"), col("label"))
        val votes = nbr.union(lab)
          .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
          .groupBy("node")
          .agg(min((lit(LPA_CNT_CAP) - col("cnt")) * LPA_PACK + col("label"))
            .as("pack"))
          .select(col("node"), (col("pack") % LPA_PACK).as("label"))
        lab = Pin.cut(votes)
      }
      edges.unpersist()
      lab
    }

  def g07(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d).groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("rep"),
        sum(col("node")).cast("long").as("ids_sum"))
      .orderBy("label")

  /** The LPA recursion as a reusable SQL prefix (g07's rollup and
    * g08's modularity share it; must start a WITH RECURSIVE block). */
  private val lpaSqlCte: String =
    s"""ed AS (
       |  SELECT o_custkey AS c, l_suppkey + $SUPPLIER_OFFSET AS sn
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= $CORE_MIN_ORDERS),
       |sym AS (SELECT c AS src, sn AS dst FROM ed UNION ALL SELECT sn, c FROM ed),
       |lab(iter, node, label) AS (
       |  SELECT 0, src, src FROM (SELECT DISTINCT src FROM sym) t
       |  UNION ALL
       |  SELECT v.iter + 1, v.node,
       |    min(($LPA_CNT_CAP - v.cnt) * $LPA_PACK + v.label) % $LPA_PACK
       |  FROM (
       |    SELECT y.iter, y.node, y.label, count(*) AS cnt
       |    FROM (
       |      SELECT l.iter, e.dst AS node, l.label
       |      FROM sym e JOIN lab l ON e.src = l.node
       |      UNION ALL
       |      SELECT iter, node, label FROM lab
       |    ) y
       |    GROUP BY 1, 2, 3
       |  ) v
       |  WHERE v.iter < $LPA_ROUNDS
       |  GROUP BY v.iter, v.node),
       |final AS (SELECT node, label FROM lab WHERE iter = $LPA_ROUNDS)""".stripMargin

  val g07Sql: String =
    s"""WITH RECURSIVE $lpaSqlCte
       |SELECT label, count(*) AS n_nodes, min(node) AS rep,
       |  sum(node)::BIGINT AS ids_sum
       |FROM final GROUP BY 1 ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // g08: MODULARITY of the g07 partition — the quality score every
  // community pipeline reports (Newman's Q): per community c,
  // q_term = intra_c/2m − (deg_c/2m)², Q = Σ_c q_term. Both counts
  // are exact integers over the symmetric edge list (intra_c counts
  // both directions, 2m = |sym|), so the only float math is the
  // final fixed-order expression a/b − (c/b)·(c/b) on identical
  // integers — bit-exact cross-engine without rounding. Consumes the
  // MEMOIZED lpaLabels artifact (one propagation serves g07+g08) and
  // broadcasts the label dim onto one edge scan; 2m is a 1-row
  // broadcast. One edge scan + three keyed aggs — nothing quadratic.
  def g08(s: SparkSession, d: String): DataFrame = {
    val lab = lpaLabels(s, d)
    // ONE pass over the labeled edge list: deg_sum and intra share
    // the same keyed agg (a conditional count, not a second subtree),
    // and 2m re-derives from the tiny per-label stats — the corpus
    // subtree appears exactly once in the plan (the round-6 rule:
    // no query re-executes its own pipeline three times).
    val stats = strongEdges(s, d)
      .join(broadcast(lab.select(col("node").as("src"), col("label").as("ls"))),
        Seq("src"))
      .join(broadcast(lab.select(col("node").as("dst"), col("label").as("ld"))),
        Seq("dst"))
      .groupBy(col("ls").as("label"))
      .agg(count(lit(1)).as("deg_sum"),
        count(when(col("ls") === col("ld"), lit(1))).as("intra"))
    val m2 = stats.agg(sum(col("deg_sum")).cast("long").as("m2"))
    val nn = lab.groupBy("label").agg(count(lit(1)).as("n_nodes"))
    nn.join(stats, Seq("label"), "left")
      .na.fill(0L, Seq("deg_sum", "intra"))
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"), col("intra"), col("deg_sum"),
        (col("intra").cast("double") / col("m2") -
          (col("deg_sum").cast("double") / col("m2")) *
            (col("deg_sum").cast("double") / col("m2"))).as("q_term"))
      .orderBy("label")
  }

  val g08Sql: String =
    s"""WITH RECURSIVE $lpaSqlCte,
       |e2 AS (
       |  SELECT f1.label AS ls, f2.label AS ld
       |  FROM sym e JOIN final f1 ON e.src = f1.node
       |             JOIN final f2 ON e.dst = f2.node),
       |m2t AS (SELECT count(*) AS m2 FROM e2),
       |nn AS (SELECT label, count(*) AS n_nodes FROM final GROUP BY 1),
       |degs AS (SELECT ls AS label, count(*) AS deg_sum FROM e2 GROUP BY 1),
       |intra AS (SELECT ls AS label, count(*) AS intra FROM e2
       |          WHERE ls = ld GROUP BY 1)
       |SELECT label, n_nodes,
       |  coalesce(intra, 0)::BIGINT AS intra,
       |  coalesce(deg_sum, 0)::BIGINT AS deg_sum,
       |  CAST(coalesce(intra, 0) AS DOUBLE) / m2 -
       |    (CAST(coalesce(deg_sum, 0) AS DOUBLE) / m2) *
       |      (CAST(coalesce(deg_sum, 0) AS DOUBLE) / m2) AS q_term
       |FROM nn LEFT JOIN degs USING (label) LEFT JOIN intra USING (label)
       |CROSS JOIN m2t ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // g09: DEGREE ASSORTATIVITY (Newman 2002) — do well-connected nodes
  // link to other well-connected nodes (r>0, social-network shape) or
  // to leaves (r<0, hub-and-spoke/technological shape)? The one-number
  // mixing diagnostic every graph health report carries next to g02's
  // clustering and g08's modularity. r = Pearson correlation of
  // (deg(src), deg(dst)) over the DIRECTED symmetric edge list —
  // computed with q40's exact-sufficient-statistics discipline:
  // degrees are integers, all six sums accumulate as DECIMAL(38,0)
  // (exact, reduction-order-independent — n·Σxy already brushes 10^18
  // at sf0.1, past what bigint affords at 100×), and the closed form
  // is ONE fixed-order double expression rounded 6dp. Scale: one
  // degree agg + two broadcast joins of the node-sized degree dim
  // onto one edge scan + a map-side partial agg — no edge×edge work.
  def g09(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    e.join(broadcast(deg.select(col("node").as("src"), col("dg").as("dx"))), Seq("src"))
      .join(broadcast(deg.select(col("node").as("dst"), col("dg").as("dy"))), Seq("dst"))
      .agg(count(lit(1)).as("n_directed"),
        sum(dec(col("dx"))).as("sx"), sum(dec(col("dy"))).as("sy"),
        sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
        sum(dec(col("dy")) * dec(col("dy"))).as("syy"),
        sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
      .select(
        expr("n_directed div 2").as("n_edges"),
        round((col("n_directed").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n_directed").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n_directed").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("assortativity"))
  }

  val g09Sql: String =
    s"""WITH $sqlEdges,
       |dgr AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY 1),
       |j AS (
       |  SELECT e.src, e.dst, a.dg AS dx, b.dg AS dy
       |  FROM edges e JOIN dgr a ON e.src = a.node JOIN dgr b ON e.dst = b.node),
       |stats AS (
       |  SELECT count(*) AS n_directed,
       |    sum(dx::DECIMAL(38,0)) AS sx, sum(dy::DECIMAL(38,0)) AS sy,
       |    sum(dx::DECIMAL(38,0) * dx::DECIMAL(38,0)) AS sxx,
       |    sum(dy::DECIMAL(38,0) * dy::DECIMAL(38,0)) AS syy,
       |    sum(dx::DECIMAL(38,0) * dy::DECIMAL(38,0)) AS sxy
       |  FROM j)
       |SELECT n_directed // 2 AS n_edges,
       |  round((n_directed::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
       |    sqrt((n_directed::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
       |         (n_directed::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
       |    AS assortativity
       |FROM stats""".stripMargin

  // ------------------------------------------------------------------
  // g10: RANDOM-WALK corpus generation (DeepWalk/node2vec sampling —
  // the training-data op for graph embeddings: walks ARE the
  // sentences the skip-gram model trains on). True RNG is useless
  // under a hash gate and irreproducible across retries on a real
  // cluster, so the walk is HASH-DRIVEN: at step k the walk from seed
  // w moves to argmin over neighbors u of hash56("w#k#u") — a
  // deterministic pseudo-random uniform choice (the Efraimidis-key
  // idea t19 uses for weighted sampling), reproducible bit-for-bit
  // from (seed, step) alone. Seeds = cohort customers (< 50) present
  // in the trade graph; 3 unrolled steps (fixed literals — no loop
  // state), each step one edge join keyed by the current node + one
  // walk-keyed argmin window over that node's neighbor fan-out.
  // Symmetric trade graph ⇒ no dead ends. The oracle unrolls the
  // identical three steps as chained CTEs with the same
  // (score, dst) ranking. Scale: per step the shuffle is keyed by
  // the frontier node; work ∝ Σ deg(frontier), the Pregel cost —
  // walks never enumerate paths, state is one row per walk.
  def g10(s: SparkSession, d: String): DataFrame = {
    val e = Pin.cut(edges(s, d))
    var walks = e.select(col("src").as("walk_id")).distinct()
      .filter(col("walk_id") < 50)
      .select(col("walk_id"), col("walk_id").as("cur"))
    val hops = (1 to 3).map { k =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("walk_id").orderBy("score", "dst")
      walks = walks.join(e, walks("cur") === e("src"))
        .select(col("walk_id"), col("dst"),
          Hashing.hash56(concat_ws("#", col("walk_id"), lit(k), col("dst")))
            .as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("walk_id"), col("dst").as("cur"))
      walks.withColumnRenamed("cur", s"hop$k")
    }
    hops.reduce((a, b) => a.join(b, Seq("walk_id")))
      .orderBy("walk_id")
  }

  val g10Sql: String = {
    def step(k: Int): String =
      s"""w$k AS (
         |  SELECT walk_id, dst AS cur FROM (
         |    SELECT s.walk_id, e.dst,
         |      row_number() OVER (PARTITION BY s.walk_id ORDER BY
         |        ${graft.functions.Hashing.sqlHash56(s"s.walk_id || '#' || $k || '#' || e.dst")},
         |        e.dst) AS rn
         |    FROM w${k - 1} s JOIN edges e ON s.cur = e.src)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $sqlEdges,
       |w0 AS (
       |  SELECT src AS walk_id, src AS cur FROM (SELECT DISTINCT src FROM edges)
       |  WHERE src < 50),
       |${(1 to 3).map(step).mkString(",\n")}
       |SELECT w0.walk_id, w1.cur AS hop1, w2.cur AS hop2, w3.cur AS hop3
       |FROM w0 JOIN w1 USING (walk_id) JOIN w2 USING (walk_id)
       |JOIN w3 USING (walk_id)
       |ORDER BY walk_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // g11: HITS hubs-and-authorities (Kleinberg) on the BIPARTITE trade
  // graph — the second eigenvector-style ranking beside g01's
  // PageRank, and the natural one for two-sided markets: customers
  // are hubs (they "endorse" by buying), suppliers are authorities.
  // Same fixed-point discipline as g01: scores iterate as bigint
  // micro-units (SCALE 10⁶), each half-step is an integer edge-sum
  // and the L1 normalization is `raw · SCALE div total` — exact
  // integer math, bit-identical across engines and reduction orders
  // (float HITS diverges by accumulation order; ungateable). SCALE
  // 10⁶ keeps every product inside bigint at sf0.1 (raw ≤ deg·SCALE
  // ≈ 10¹⁰, ×SCALE ≈ 10¹⁶); at 100× the products move to
  // DECIMAL(38,0) — the g09 rule. 3 unrolled rounds, per-round
  // lineage pinned (each half reads the other's state). Output:
  // top-20 authorities. Scale: one edge-keyed sum + one 1-row
  // broadcast total per half-step — the Pregel cost, like g01.
  private val HITS_SCALE = 1000000L
  private val HITS_ROUNDS = 3

  def g11(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
    val e = Pin.cut(l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sn")).distinct())
    var hub = Pin.cut(e.select(col("c")).distinct()
      .withColumn("h", lit(HITS_SCALE)))
    var auth: DataFrame = null
    for (_ <- 1 to HITS_ROUNDS) {
      val araw = e.join(hub, Seq("c")).groupBy("sn").agg(sum(col("h")).as("ar"))
      val atot = araw.agg(sum(col("ar")).as("at"))
      auth = Pin.cut(araw.crossJoin(broadcast(atot))
        .select(col("sn"), expr(s"ar * ${HITS_SCALE}L div at").as("a")))
      val hraw = e.join(auth, Seq("sn")).groupBy("c").agg(sum(col("a")).as("hr"))
      val htot = hraw.agg(sum(col("hr")).as("ht"))
      hub = Pin.cut(hraw.crossJoin(broadcast(htot))
        .select(col("c"), expr(s"hr * ${HITS_SCALE}L div ht").as("h")))
    }
    auth.orderBy(col("a").desc, col("sn")).limit(20)
      .select(col("sn").as("supplier"), col("a").as("auth_fp"),
        round(col("a").cast("double") / HITS_SCALE, 6).as("auth"))
  }

  val g11Sql: String = {
    val rounds = (1 to HITS_ROUNDS).map { k =>
      s"""a${k}r AS (
         |  SELECT sn, CAST(sum(h) AS BIGINT) AS ar
         |  FROM e JOIN h${k - 1} USING (c) GROUP BY 1),
         |a$k AS (
         |  SELECT sn, ar * $HITS_SCALE //
         |    (SELECT CAST(sum(ar) AS BIGINT) FROM a${k}r) AS a
         |  FROM a${k}r),
         |h${k}r AS (
         |  SELECT c, CAST(sum(a) AS BIGINT) AS hr
         |  FROM e JOIN a$k USING (sn) GROUP BY 1),
         |h$k AS (
         |  SELECT c, hr * $HITS_SCALE //
         |    (SELECT CAST(sum(hr) AS BIGINT) FROM h${k}r) AS h
         |  FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sn
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT c, CAST($HITS_SCALE AS BIGINT) AS h
       |       FROM (SELECT DISTINCT c FROM e)),
       |$rounds
       |SELECT sn AS supplier, a AS auth_fp,
       |  round(a / $HITS_SCALE.0, 6) AS auth
       |FROM a$HITS_ROUNDS ORDER BY a DESC, sn LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------
  // g12: EGO-NETWORK features — the per-node feature vector graph-ML
  // pipelines feed to fraud/risk/community classifiers (degree,
  // edges among neighbors, ego density): g10 samples walk CONTEXTS
  // for embeddings, this computes the hand-engineered features that
  // still rule tabular graph models. Runs on the item co-occurrence
  // graph (the trade graph is bipartite — ego edges there are
  // identically zero) for a query COHORT (item < 200 — the g06 rule:
  // feature serving is asked for a cohort, and the
  // neighbor-pair join keeps the cohort on one side so per-node work
  // is deg(u)·deg(v)-bounded, never audience²): deg = |N(u)|,
  // ego_edges = |{(a,b) ∈ E : a,b ∈ N(u)}| (counted once per
  // unordered pair), density = ego_edges / C(deg, 2) — integer
  // counts, ONE 4dp-rounded closing division. The ego-edge count is
  // the wedge-close join of g02 restricted to the cohort's
  // neighborhoods: cohort-adjacency ⋈ adjacency on the shared
  // neighbor, closed against the edge set.
  /** Symmetric item co-occurrence edges (g02's graph — the trade graph
    * is BIPARTITE, so ego edges there are identically zero; item
    * neighborhoods genuinely close). */
  private def coEdges(s: SparkSession, d: String): DataFrame = {
    val oi = graft.etl.Ratings.orderItems(s, d)
    oi.as("a").join(oi.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(explode(array(
        struct(col("i").as("src"), col("j").as("dst")),
        struct(col("j").as("src"), col("i").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  private val g12SqlCoEdges: String =
    """co AS (
      |  SELECT a.l_partkey AS i, b.l_partkey AS j
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (SELECT i AS src, j AS dst FROM co
      |          UNION ALL SELECT j, i FROM co)""".stripMargin

  def g12(s: SparkSession, d: String): DataFrame = {
    val e = Pin.cut(coEdges(s, d))
    val cohortAdj = e.filter(col("src") < 200)
      .select(col("src").as("u"), col("dst").as("n1"))
    val deg = cohortAdj.groupBy("u").agg(count(lit(1)).as("deg"))
    // unordered neighbor pairs of each cohort node, closed iff the
    // pair is itself an edge (left-semi against the edge list)
    val egoEdges = cohortAdj
      .join(cohortAdj.select(col("u"), col("n1").as("n2")), Seq("u"))
      .filter(col("n1") < col("n2"))
      .join(e.select(col("src").as("n1"), col("dst").as("n2")),
        Seq("n1", "n2"), "left_semi")
      .groupBy("u").agg(count(lit(1)).as("ego_edges"))
    deg.join(egoEdges, Seq("u"), "left")
      .select(col("u").as("node"), col("deg"),
        coalesce(col("ego_edges"), lit(0L)).as("ego_edges"),
        round(when(col("deg") >= 2,
          coalesce(col("ego_edges"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1) / lit(2)))
          .otherwise(lit(0.0)), 4).as("density"))
      .orderBy("node")
  }

  val g12Sql: String =
    s"""WITH $g12SqlCoEdges,
       |cadj AS (SELECT src AS u, dst AS n1 FROM edges WHERE src < 200),
       |deg AS (SELECT u, count(*) AS deg FROM cadj GROUP BY 1),
       |ego AS (
       |  SELECT a.u, count(*) AS ego_edges
       |  FROM cadj a JOIN (SELECT u, n1 AS n2 FROM cadj) b ON a.u = b.u
       |  WHERE a.n1 < b.n2
       |    AND EXISTS (SELECT 1 FROM edges e
       |                WHERE e.src = a.n1 AND e.dst = b.n2)
       |  GROUP BY 1)
       |SELECT deg.u AS node, deg.deg,
       |  coalesce(ego.ego_edges, 0)::BIGINT AS ego_edges,
       |  round(CASE WHEN deg.deg >= 2
       |    THEN coalesce(ego.ego_edges, 0)::DOUBLE /
       |      (deg.deg * (deg.deg - 1) / 2)
       |    ELSE 0.0 END, 4) AS density
       |FROM deg LEFT JOIN ego USING (u) ORDER BY node""".stripMargin

  // g13: K-TRUSS decomposition — the TRIANGLE-cohesion analogue of
  // g05's k-core (Cohen 2008): repeatedly delete edges supported by
  // fewer than K−2 triangles among surviving edges until fixpoint.
  // A k-truss is a strictly stronger community signal than a k-core
  // (every edge sits in K−2 triangles, so members share multiple
  // mutual neighbors — the spam-ring/community-seed primitive that
  // degree alone fakes). Runs on the item co-purchase graph of a
  // 1-in-4 catalog cohort (l_partkey % 4 = 0): truss peeling
  // recomputes per-edge support EVERY round, so its cost is
  // rounds × one triangle enumeration — the proportional cohort
  // (same 25% of the catalog at every SF, unlike a fixed id cap
  // whose induced graph empties at 100×) keeps that bounded while
  // the peel still cascades (3 rounds / 7 249→181 edges at sf0.01;
  // measured). Each round: one i<j-ordered triangle enumeration
  // (e1=(a,b) ⋈ e2=(b,c) ⋈ closure (a,c) — each triangle exactly
  // once), one unpivot-and-count keyed by edge, one filter; lineage
  // pinned per round (Pin.cut), survivor-count equality is the
  // fixpoint test (edge sets only shrink). Support is recomputed
  // over the FINAL set for the output, so the emitted numbers are
  // the truss's own supports whether the loop converged or hit the
  // round cap. The oracle runs the identical peel as a recursive
  // CTE (g05's shape: working table carries the survivor edge set,
  // progress guard stops at the last shrinking round, same cap) and
  // re-derives final supports outside the recursion — so
  // round-for-round deletion decisions must agree edge-for-edge.
  private val TRUSS_K = 6
  private val TRUSS_ROUNDS = 12

  /** Distinct co-purchase pairs (i < j) over the 1-in-4 item cohort. */
  private def trussEdges(s: SparkSession, d: String): DataFrame = {
    val oi = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    oi.as("a").join(oi.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .agg(count(lit(1)).as("cnt"))
      .select("i", "j")
  }

  /** Per-edge triangle support over an (i < j) edge set: enumerate
    * each triangle once via the ordered 3-way join, then count each
    * of its 3 edges. */
  private def edgeSupport(co: DataFrame): DataFrame = {
    val tri = co.as("e1").join(co.as("e2"), col("e1.j") === col("e2.i"))
      .join(co.as("e3"),
        col("e3.i") === col("e1.i") && col("e3.j") === col("e2.j"))
      .select(col("e1.i").as("a"), col("e1.j").as("b"), col("e2.j").as("c"))
    tri.select(col("a").as("i"), col("b").as("j"))
      .union(tri.select(col("b"), col("c")))
      .union(tri.select(col("a"), col("c")))
      .groupBy("i", "j").agg(count(lit(1)).as("support"))
  }

  def g13(s: SparkSession, d: String): DataFrame = {
    var co = Pin.cut(trussEdges(s, d))
    var n = co.count()
    var rounds = 0
    var done = n == 0
    while (!done && rounds < TRUSS_ROUNDS) {
      val kept = Pin.cut(edgeSupport(co)
        .filter(col("support") >= TRUSS_K - 2)
        .select("i", "j"))
      val m = kept.count()
      done = m == n // edges only shrink: count equality = set equality
      co = kept
      n = m
      rounds += 1
    }
    edgeSupport(co).orderBy("i", "j")
  }

  val g13Sql: String = {
    val sup =
      """SELECT i, j, count(*) AS sup FROM (
        |          SELECT t.a AS i, t.b AS j FROM tr t
        |          UNION ALL SELECT t.b, t.c FROM tr t
        |          UNION ALL SELECT t.a, t.c FROM tr t) e GROUP BY 1, 2"""
        .stripMargin
    def supOver(src: String): String =
      s"""WITH tr AS (
         |          SELECT e1.i AS a, e1.j AS b, e2.j AS c
         |          FROM $src e1 JOIN $src e2 ON e1.j = e2.i
         |          JOIN $src e3 ON e3.i = e1.i AND e3.j = e2.j)
         |        $sup""".stripMargin
    s"""WITH RECURSIVE co AS (
       |  WITH oi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |              WHERE l_partkey % 4 = 0)
       |  SELECT a.l_partkey AS i, b.l_partkey AS j
       |  FROM oi a JOIN oi b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |surv(iter, i, j) AS (
       |  SELECT 0, i, j FROM co
       |  UNION ALL
       |  SELECT s.iter + 1, s.i, s.j
       |  FROM surv s
       |  JOIN (${supOver("surv")}) d ON s.i = d.i AND s.j = d.j
       |  WHERE d.sup >= ${TRUSS_K - 2} AND s.iter < $TRUSS_ROUNDS
       |    AND (SELECT count(*) FROM surv) >
       |        (SELECT count(*) FROM (${supOver("surv")}) d2
       |         WHERE d2.sup >= ${TRUSS_K - 2})),
       |truss AS (
       |  SELECT i, j FROM surv WHERE iter = (SELECT max(iter) FROM surv))
       |SELECT i, j, CAST(sup AS BIGINT) AS support
       |FROM (${supOver("truss")}) f ORDER BY i, j""".stripMargin
  }

  // g14: HARMONIC CENTRALITY for a seed cohort (Boldi-Vigna's
  // closeness fix — 1/∞ = 0 makes it well-defined on disconnected
  // graphs, which bipartite trade graphs usually are): multi-source
  // BFS (g03's frontier shape with a seed dimension — ONE iteration
  // serves all seeds, the standard trick that beats per-seed BFS by
  // the seed count) to radius 3, then HC(s) = Σ_reached 1/d kept
  // EXACT as integer sixths (LCM(1,2,3)=6 ⇒ 6/d ∈ {6,3,2} — float
  // harmonic sums are reduction-order-dependent and ungateable).
  // Per-round state is (seed, node, mindist); min-groupBy dedup
  // reproduces the oracle's UNION set recursion.
  // Scale: each round is one frontier×edges shuffle keyed by node +
  // one (seed,node) agg; state is O(seeds × reached), lineage pinned
  // per round (Pin.cut). The d1/d2/d3 ring counts expose the
  // expansion profile the centrality number summarizes.
  private val HC_SEEDS: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
  private val HC_ROUNDS = 3

  def g14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Pin.cut(edges(s, d))
    var dist = Pin.cut(
      HC_SEEDS.map(x => (x, x, 0)).toDF("seed", "node", "dist"))
    for (_ <- 1 to HC_ROUNDS) {
      dist = Pin.cut(dist
        .union(dist.join(e, dist("node") === e("src"))
          .select(col("seed"), col("dst").as("node"),
            (col("dist") + 1).as("dist")))
        .groupBy("seed", "node").agg(min("dist").as("dist")))
    }
    dist.filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        count(when(col("dist") === 1, lit(1))).as("n_d1"),
        count(when(col("dist") === 2, lit(1))).as("n_d2"),
        count(when(col("dist") === 3, lit(1))).as("n_d3"),
        sum(expr("6 div dist")).cast("long").as("harmonic6"))
      .orderBy("seed")
  }

  val g14Sql: String = {
    val seedRows = HC_SEEDS.map(x => s"($x)").mkString(", ")
    s"""WITH RECURSIVE $sqlEdges,
       |seeds(seed) AS (VALUES $seedRows),
       |r(seed, node, dist) AS (
       |  SELECT seed::BIGINT, seed::BIGINT, 0 FROM seeds
       |  UNION
       |  SELECT r.seed, e.dst, r.dist + 1 FROM r JOIN edges e ON r.node = e.src
       |  WHERE r.dist < $HC_ROUNDS),
       |mind AS (SELECT seed, node, min(dist) AS dist FROM r GROUP BY 1, 2)
       |SELECT seed, count(*) AS n_reached,
       |  count(CASE WHEN dist = 1 THEN 1 END) AS n_d1,
       |  count(CASE WHEN dist = 2 THEN 1 END) AS n_d2,
       |  count(CASE WHEN dist = 3 THEN 1 END) AS n_d3,
       |  sum(6 // dist)::BIGINT AS harmonic6
       |FROM mind WHERE dist > 0 GROUP BY 1 ORDER BY seed""".stripMargin
  }

  // g15: NEIGHBOR SAMPLING (the GraphSAGE/PinSAGE minibatch sampler —
  // GNN training never aggregates full neighborhoods; it samples a
  // fixed fanout per hop, and the sampler IS the scalability claim of
  // that literature): fanout [3, 2] over two hops from a 4-seed
  // cohort. The draw is hash-ranked per (seed, src) — "uniform
  // without replacement" with a reproducible audit trail (the r39
  // discipline), so the EXACT sampled edge list gates cross-engine.
  // Emitted rows are the sampled edges (seed, hop, src, dst) — the
  // actual minibatch a GNN layer would aggregate.
  // Scale: each hop is one frontier×edges join + a (seed,src)-keyed
  // rank window whose `rank <= fanout` filter pushes into
  // WindowGroupLimit (per-group heaps, no full neighbor sort);
  // frontier size is seeds×∏fanouts — bounded by construction, the
  // whole point of sampled aggregation.
  private val SAGE_SEEDS: Seq[Long] = Seq(1L, 2L, 3L, 4L)
  private val SAGE_FANOUT = Seq(3, 2)

  def g15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Pin.cut(edges(s, d))
    def sampleHop(frontier: DataFrame, hop: Int, fanout: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("seed", "src").orderBy(col("hk"), col("dst"))
      frontier.join(e, frontier("node") === e("src"))
        .select(col("seed"), col("src"), col("dst"))
        .withColumn("hk", Hashing.hash56(concat_ws("#",
          lit("sage"), lit(hop), col("seed"), col("src"), col("dst"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= fanout)
        .select(col("seed"), lit(hop).as("hop"), col("src"), col("dst"))
    }
    val seeds = SAGE_SEEDS.map(x => (x, x)).toDF("seed", "node")
    val h1 = sampleHop(seeds, 1, SAGE_FANOUT.head)
    val h2 = sampleHop(h1.select(col("seed"), col("dst").as("node")), 2,
      SAGE_FANOUT(1))
    h1.union(h2).orderBy("seed", "hop", "src", "dst")
  }

  val g15Sql: String = {
    val seedRows = SAGE_SEEDS.map(x => s"($x)").mkString(", ")
    def hash(hop: Int, seed: String) = graft.functions.Hashing.sqlHash56(
      s"'sage#$hop#' || $seed || '#' || e.src || '#' || e.dst")
    s"""WITH $sqlEdges,
       |seeds(seed) AS (VALUES $seedRows),
       |h1 AS (
       |  SELECT seed, src, dst FROM (
       |    SELECT s.seed::BIGINT AS seed, e.src, e.dst,
       |      row_number() OVER (PARTITION BY s.seed, e.src
       |                         ORDER BY ${hash(1, "s.seed")}, e.dst) AS rn
       |    FROM seeds s JOIN edges e ON e.src = s.seed)
       |  WHERE rn <= ${SAGE_FANOUT.head}),
       |h2 AS (
       |  SELECT seed, src, dst FROM (
       |    SELECT h.seed, e.src, e.dst,
       |      row_number() OVER (PARTITION BY h.seed, e.src
       |                         ORDER BY ${hash(2, "h.seed")}, e.dst) AS rn
       |    FROM h1 h JOIN edges e ON e.src = h.dst)
       |  WHERE rn <= ${SAGE_FANOUT(1)})
       |SELECT seed, 1 AS hop, src, dst FROM h1
       |UNION ALL SELECT seed, 2, src, dst FROM h2
       |ORDER BY seed, hop, src, dst""".stripMargin
  }

  // ------------------------------------------------------------------
  // g16: PERSONALIZED PAGERANK (random walk with restart — the
  // "related to THESE nodes" ranker behind who-to-follow, related-
  // items and graph-based retrieval; g01 ranks globally, this ranks
  // relative to a seed set): teleport mass lands ONLY on the seeds
  // (the 5 highest-degree nodes under the (deg DESC, node) ladder —
  // data-derived, so regenerated testdata can't vacate the gate),
  // and dangling mass returns to the seeds too. Same fixed-point
  // integer discipline as g01 (bigint 10^12 micro-units; every
  // per-round sum/div exact, bit-identical across engines and
  // reduction orders), same bounded-lineage round loop (Pin.cut
  // truncates the 3^k unrolled subtree), one edge shuffle per round.
  // Output: top-20 by (rank_fp DESC, node) with seed flags — seeds
  // dominate but mass measurably diffuses to their neighborhoods.
  def g16(s: SparkSession, d: String): DataFrame = {
    val e = Pin.cut(edges(s, d))
    val nodes = Tables.customer(s, d).select(col("c_custkey").as("node"))
      .union(Tables.supplier(s, d)
        .select((col("s_suppkey") + SUPPLIER_OFFSET).as("node")))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val nS = 5
    val seeds = deg.orderBy(col("deg").desc, col("node")).limit(nS)
      .select(col("node").as("seed"))
    var cur = nodes.join(deg, Seq("node"), "left")
      .join(broadcast(seeds), col("node") === col("seed"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        when(col("seed").isNotNull, 1L).otherwise(0L).as("is_seed"),
        when(col("seed").isNotNull, lit(SCALE / nS)).otherwise(lit(0L)).as("r"))
    cur = Pin.cut(cur)
    for (_ <- 1 to ITERS) {
      val inc = cur.filter(col("deg") > 0)
        .join(e, cur("node") === e("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r div deg")).as("inc"))
      val dang = cur.filter(col("deg") === 0)
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      cur = cur.select("node", "deg", "is_seed")
        .join(inc, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("deg"), col("is_seed"),
          expr(s"is_seed * ((15 * (${SCALE}L div $nS)) div 100) + " +
            s"($DAMP_NUM * (coalesce(inc, 0L) + is_seed * (dang div $nS))) div 100")
            .as("r"))
      cur = Pin.cut(cur)
    }
    cur.select(col("node"), col("is_seed"), col("r").as("rank_fp"),
        round(col("r").cast("double") / SCALE.toDouble, 6).as("rank"))
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(20)
  }

  val g16Sql: String = {
    val nS = 5
    // Every pit CTE is multiply-referenced (rank join + contribution
    // scan + dangling scan = 3 references each); DuckDB INLINES plain
    // CTEs, so the 5-iteration chain re-expanded 3^k-fashion and the
    // sf0.1 replay spilled >80 GB of temp (the g19 lesson, VERDICT r9
    // next-round #5). MATERIALIZED pins each round to one evaluation —
    // the local sf0.1 sweep now covers this key.
    def iter(k: Int): String =
      s"""pit$k AS MATERIALIZED (
         |  SELECT p.node, p.deg, p.is_seed,
         |    p.is_seed * ((15 * ($SCALE // $nS)) // 100)
         |      + ($DAMP_NUM * (coalesce(inc.s, 0)
         |          + p.is_seed * (dg.dang // $nS))) // 100 AS r
         |  FROM pit${k - 1} p
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(c.r // c.deg) AS BIGINT) AS s
         |    FROM pit${k - 1} c JOIN edges e ON c.node = e.src
         |    WHERE c.deg > 0 GROUP BY 1) inc ON p.node = inc.node
         |  CROSS JOIN (
         |    SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
         |    FROM pit${k - 1} WHERE deg = 0) dg)""".stripMargin
    s"""WITH ${sqlEdgesM(materialized = true)},
       |nodes AS (SELECT c_custkey AS node FROM customer
       |          UNION ALL SELECT s_suppkey + $SUPPLIER_OFFSET FROM supplier),
       |dgr AS MATERIALIZED (
       |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |seeds AS (SELECT node AS seed FROM dgr
       |          ORDER BY deg DESC, node LIMIT $nS),
       |pit0 AS MATERIALIZED (
       |  SELECT n.node, coalesce(dgr.deg, 0) AS deg,
       |    CASE WHEN sd.seed IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
       |    CASE WHEN sd.seed IS NOT NULL THEN ${SCALE / nS} ELSE 0 END AS r
       |  FROM nodes n
       |  LEFT JOIN dgr ON n.node = dgr.node
       |  LEFT JOIN seeds sd ON n.node = sd.seed),
       |${(1 to ITERS).map(iter).mkString(",\n")}
       |SELECT node, CAST(is_seed AS BIGINT) AS is_seed, r AS rank_fp,
       |  round(r / ${SCALE.toDouble}, 6) AS rank
       |FROM pit$ITERS ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------
  // g17: LOCAL CLUSTERING COEFFICIENT (Watts–Strogatz) for the
  // highest-degree nodes of the co-purchase graph — g02 reports ONE
  // global closure rate; the per-node coefficient is the node-level
  // community signal (a hub with lcc≈0 is a broker bridging unrelated
  // baskets, lcc≈1 a clique member), and the degree/lcc anti-
  // correlation is the classic hierarchy diagnostic. Triangles are
  // enumerated ONCE via g02's degree-oriented wedge join (each
  // triangle exactly once, O(m^1.5) hub-proof) and attributed to all
  // three members by a 3-row explode; lcc = 2·t·10⁶ div (d·(d−1)) in
  // exact integer ppm — no float in the gate. Top-20 under the
  // (deg DESC, node) ladder.
  // Scale: the wedge join is the g02 shape (oriented adjacency keyed
  // on the low-degree endpoint); attribution is a bounded 3× explode
  // of the TRIANGLE set; the final window is vocab-dim.
  def g17(s: SparkSession, d: String): DataFrame = {
    val oi = graft.etl.Ratings.orderItems(s, d)
    val co = oi.as("a").join(oi.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select("i", "j")
    val deg = co.select(col("i").as("node")).union(co.select(col("j")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val oriented = co
      .join(deg.select(col("node").as("i"), col("dg").as("di")), Seq("i"))
      .join(deg.select(col("node").as("j"), col("dg").as("dj")), Seq("j"))
      .select(
        when(struct(col("di"), col("i")) < struct(col("dj"), col("j")), col("i"))
          .otherwise(col("j")).as("a"),
        when(struct(col("di"), col("i")) < struct(col("dj"), col("j")), col("j"))
          .otherwise(col("i")).as("b"))
    val ob = oriented.join(deg.select(col("node").as("b"), col("dg").as("db")), Seq("b"))
    val triMembers = ob.as("w1").join(ob.as("w2"),
        col("w1.a") === col("w2.a") &&
          struct(col("w1.db"), col("w1.b")) < struct(col("w2.db"), col("w2.b")))
      .join(oriented.as("cl"),
        col("cl.a") === col("w1.b") && col("cl.b") === col("w2.b"))
      .select(explode(array(col("w1.a"), col("w1.b"), col("w2.b"))).as("node"))
    val tn = triMembers.groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.filter(col("dg") >= 2)
      .join(tn, Seq("node"), "left")
      .select(col("node"), col("dg").as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_ppm",
        expr("(2 * n_tri * 1000000) div (deg * (deg - 1))"))
      .orderBy(col("deg").desc, col("node"))
      .limit(20)
  }

  val g17Sql: String =
    """WITH oi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS (
      |  SELECT a.l_partkey AS i, b.l_partkey AS j
      |  FROM oi a JOIN oi b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |dgr AS (
      |  SELECT node, count(*) AS dg FROM (
      |    SELECT i AS node FROM co UNION ALL SELECT j FROM co) GROUP BY 1),
      |tri AS (
      |  SELECT e1.i AS x, e1.j AS y, e2.j AS z
      |  FROM co e1 JOIN co e2 ON e1.j = e2.i
      |  JOIN co e3 ON e3.i = e1.i AND e3.j = e2.j),
      |tn AS (
      |  SELECT node, count(*) AS n_tri FROM (
      |    SELECT x AS node FROM tri
      |    UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri) GROUP BY 1)
      |SELECT node, dg AS deg, coalesce(n_tri, 0) AS n_tri,
      |  (2 * coalesce(n_tri, 0) * 1000000) // (dg * (dg - 1)) AS lcc_ppm
      |FROM dgr LEFT JOIN tn USING (node)
      |WHERE dg >= 2
      |ORDER BY deg DESC, node LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // g18: DIAMETER LOWER BOUND by DOUBLE SWEEP (Magnien–Latapy–Habib —
  // the two-BFS heuristic that brackets a graph's diameter without
  // the all-pairs computation no 100 TB graph can afford: BFS from a
  // well-connected seed, then BFS again from the FARTHEST node found;
  // the second eccentricity is a certified lower bound, and on
  // real-world graphs usually the diameter itself): seed = the
  // highest-degree node under the (deg DESC, node) ladder
  // (data-derived), both sweeps capped at 6 rounds (the trade graph's
  // reach — ring counts vanish before the cap), everything in-plan —
  // the far node feeds sweep 2 as a 1-row broadcast, never a driver
  // scalar. g03's frontier shape: per round one edge-keyed shuffle +
  // one min-agg, state |V|, lineage pinned.
  private val DS_ROUNDS = 6

  def g18(s: SparkSession, d: String): DataFrame = {
    val e = Pin.cut(edges(s, d))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val seed = deg.orderBy(col("deg").desc, col("node")).limit(1)
      .select(col("node"))
    def sweep(from: DataFrame): DataFrame = {
      var dist = Pin.cut(from.select(col("node"), lit(0).as("dist")))
      for (_ <- 1 to DS_ROUNDS) {
        dist = dist
          .union(dist.join(e, dist("node") === e("src"))
            .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
          .groupBy("node").agg(min("dist").as("dist"))
        dist = Pin.cut(dist)
      }
      dist
    }
    val d1 = sweep(seed)
    val far = d1.orderBy(col("dist").desc, col("node")).limit(1)
      .select(col("node"))
    val d2 = sweep(far)
    seed.select(col("node").as("seed"))
      .crossJoin(broadcast(d1.agg(max(col("dist")).as("ecc_seed"),
        count(lit(1)).as("n_reached_seed"))))
      .crossJoin(broadcast(far.select(col("node").as("far_node"))))
      .crossJoin(broadcast(d2.agg(max(col("dist")).as("diameter_lb"),
        count(lit(1)).as("n_reached_far"))))
  }

  val g18Sql: String =
    s"""WITH RECURSIVE $sqlEdges,
       |dgr AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |seed AS (SELECT node FROM dgr ORDER BY deg DESC, node LIMIT 1),
       |r1(node, dist) AS (
       |  SELECT node, 0 FROM seed
       |  UNION
       |  SELECT e.dst, r1.dist + 1 FROM r1 JOIN edges e ON r1.node = e.src
       |  WHERE r1.dist < $DS_ROUNDS),
       |d1 AS (SELECT node, min(dist) AS dist FROM r1 GROUP BY 1),
       |far AS (SELECT node FROM d1 ORDER BY dist DESC, node LIMIT 1),
       |r2(node, dist) AS (
       |  SELECT node, 0 FROM far
       |  UNION
       |  SELECT e.dst, r2.dist + 1 FROM r2 JOIN edges e ON r2.node = e.src
       |  WHERE r2.dist < $DS_ROUNDS),
       |d2 AS (SELECT node, min(dist) AS dist FROM r2 GROUP BY 1)
       |SELECT (SELECT node FROM seed) AS seed,
       |  (SELECT max(dist) FROM d1) AS ecc_seed,
       |  (SELECT count(*) FROM d1) AS n_reached_seed,
       |  (SELECT node FROM far) AS far_node,
       |  (SELECT max(dist) FROM d2) AS diameter_lb,
       |  (SELECT count(*) FROM d2) AS n_reached_far""".stripMargin

  // ------------------------------------------------------------------
  // g19: SAMPLED STRESS CENTRALITY (Shimbel) — the Brandes
  // forward/backward machinery that powers betweenness, run from the
  // 4 highest-degree sources (the standard sampling that makes
  // centrality affordable on a 100 TB graph: exact Brandes is
  // O(V·E)). Stress counts the NUMBER of source-rooted shortest
  // paths through each node: forward pass σ(v) (#shortest s→v paths,
  // by BFS layer), backward pass P(v) = Σ_succ (P(w)+1) (#shortest-
  // DAG continuations below v), contribution σ(v)·P(v). Betweenness
  // proper divides by σ(t) — an order-dependent float accumulation no
  // cross-engine hash survives; stress is its INTEGER-EXACT sibling
  // on the identical DAG (same forward sigma, same backward sweep),
  // so the whole gate is exact arithmetic in DECIMAL(38,0) (path
  // counts multiply combinatorially — bigint headroom is not enough
  // at 10× SF). Scale: 6+6+6 rounds of node-keyed shuffles with
  // Pin.cut state (the g01/g03 discipline), state O(K·V),
  // never an all-pairs or per-pair materialization.
  private val STRESS_ROUNDS = 6
  private val STRESS_SOURCES = 4

  def g19(s: SparkSession, d: String): DataFrame = {
    val e = Pin.cut(edges(s, d))
    val wDeg = org.apache.spark.sql.expressions.Window
      .orderBy(col("deg").desc, col("src"))
    val srcs = Pin.cut(e.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumn("rn", row_number().over(wDeg))
      .filter(col("rn") <= STRESS_SOURCES)
      .select(col("src").as("s")))
    // FUSED forward pass: one frontier loop carries (dist, sigma)
    // together — the frontier at level l-1 is by construction exactly
    // the dist-(l-1) node set with its path counts, so new nodes are
    // the anti-join against everything visited and their sigma is the
    // incoming sum, in 6 rounds instead of the old 12 (separate
    // min-dist re-aggregation of the WHOLE dist table per round plus
    // a second sigma sweep — same values, half the pinned stages;
    // this was the repo's slowest bench line).
    var frontier = Pin.cut(srcs.select(col("s"), col("s").as("node"),
      lit(0).as("dist"), lit(1L).cast("decimal(38,0)").as("sigma")))
    var visited = frontier
    for (l <- 1 to STRESS_ROUNDS) {
      val expanded = frontier.join(e, frontier("node") === e("src"))
        .select(frontier("s"), col("dst").as("node"), col("sigma"))
      frontier = Pin.cut(expanded
        .join(visited.select("s", "node"), Seq("s", "node"), "left_anti")
        .groupBy("s", "node")
        .agg(sum("sigma").cast("decimal(38,0)").as("sigma"))
        .select(col("s"), col("node"), lit(l).as("dist"), col("sigma")))
      visited = visited.union(frontier) // flat union of pinned rounds
    }
    val dist = visited.select("s", "node", "dist")
    val sigma = visited.select("s", "node", "sigma")
    // backward P: shortest-DAG continuation counts, deepest layer first
    var pAcc = Pin.cut(dist.filter(col("dist") === STRESS_ROUNDS)
      .select(col("s"), col("node"), lit(0L).cast("decimal(38,0)").as("p")))
    var pAll = pAcc
    for (l <- (0 until STRESS_ROUNDS).reverse) {
      val lv = dist.filter(col("dist") === l).select(col("s"), col("node"))
      val succ = pAcc.select(col("s").as("ps"), col("node").as("w"), col("p"))
      pAcc = Pin.cut(lv
        .join(e, lv("node") === e("src"), "left")
        .join(succ, col("ps") === lv("s") && col("w") === col("dst"), "left")
        .groupBy(lv("s"), lv("node"))
        .agg(coalesce(sum(when(col("w").isNotNull, col("p") + 1)), lit(0))
          .cast("decimal(38,0)").as("p"))
        .select(col("s"), col("node"), col("p")))
      pAll = pAll.union(pAcc)
    }
    sigma.join(pAll, Seq("s", "node"))
      .filter(col("node") =!= col("s"))
      .withColumn("contrib", col("sigma") * col("p"))
      .groupBy("node")
      // path counts stay DECIMAL(38,0) internally; the 20 gated
      // stress totals are BIGINT on both sides (≤ ~2.5e7 at sf0.1 —
      // 11 orders of margin; plain int is the least
      // representation-sensitive type across oracle engines)
      .agg(sum("contrib").cast("decimal(38,0)").cast("long").as("stress"))
      .orderBy(col("stress").desc, col("node"))
      .limit(20)
  }

  val g19Sql: String = {
    // unrolled sigma layers 1..6 (aggregates are not allowed inside a
    // recursive CTE) and backward P layers 5..0
    val sgs = (1 to STRESS_ROUNDS).map { l =>
      s"""sg$l AS (
         |  SELECT f.s, e.dst AS node, sum(f.sigma) AS sigma
         |  FROM sg${l - 1} f JOIN edges e ON e.src = f.node
         |  JOIN mind m ON m.s = f.s AND m.node = e.dst AND m.dist = $l
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val ps = (0 until STRESS_ROUNDS).reverse.map { l =>
      s"""p$l AS (
         |  SELECT m.s, m.node,
         |    coalesce(sum(CASE WHEN pw.node IS NOT NULL THEN pw.p + 1 END), 0)
         |      AS p
         |  FROM mind m
         |  LEFT JOIN edges e ON e.src = m.node
         |  LEFT JOIN p${l + 1} pw ON pw.s = m.s AND pw.node = e.dst
         |  WHERE m.dist = $l GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    // BFS level sets unrolled as plain CTEs (lvl_l = step(lvl_{l-1})
    // EXCEPT everything already visited) instead of WITH RECURSIVE —
    // set semantics that every DuckDB build evaluates identically;
    // the round-7 driver gate hash-failed this key with zero local
    // repro, so every version-sensitive surface goes.
    // MATERIALIZED is load-bearing: lvl_l/v_l are each referenced
    // twice downstream, so inlining re-expands the chain
    // Fibonacci-fashion (~377 copies of lvl0 → thousands of parquet
    // scans → fd exhaustion); materializing evaluates each level once.
    val lvls = (1 to STRESS_ROUNDS).map { l =>
      s"""lvl$l AS MATERIALIZED (
         |  SELECT f.s, e.dst AS node FROM lvl${l - 1} f
         |  JOIN edges e ON e.src = f.node
         |  EXCEPT SELECT s, node FROM v${l - 1}),
         |v$l AS MATERIALIZED (SELECT s, node FROM v${l - 1}
         |        UNION ALL SELECT s, node FROM lvl$l)""".stripMargin
    }.mkString(",\n")
    val mindSel = (0 to STRESS_ROUNDS)
      .map(l => s"SELECT s, node, $l AS dist FROM lvl$l")
      .mkString("\n  UNION ALL ")
    s"""WITH $sqlEdges,
       |srcs AS MATERIALIZED (
       |  SELECT src AS s FROM (
       |    SELECT src, count(*) AS deg FROM edges GROUP BY 1)
       |  ORDER BY deg DESC, src LIMIT $STRESS_SOURCES),
       |lvl0 AS MATERIALIZED (SELECT s, s AS node FROM srcs),
       |v0 AS MATERIALIZED (SELECT s, node FROM lvl0),
       |$lvls,
       |mind AS MATERIALIZED (
       |  $mindSel),
       |sg0 AS (SELECT s, s AS node, CAST(1 AS HUGEINT) AS sigma FROM srcs),
       |$sgs,
       |sigma AS (
       |  SELECT * FROM sg0 UNION ALL SELECT * FROM sg1 UNION ALL
       |  SELECT * FROM sg2 UNION ALL SELECT * FROM sg3 UNION ALL
       |  SELECT * FROM sg4 UNION ALL SELECT * FROM sg5 UNION ALL
       |  SELECT * FROM sg6),
       |p$STRESS_ROUNDS AS (
       |  SELECT s, node, CAST(0 AS HUGEINT) AS p FROM mind
       |  WHERE dist = $STRESS_ROUNDS),
       |$ps,
       |pall AS (
       |  SELECT * FROM p0 UNION ALL SELECT * FROM p1 UNION ALL
       |  SELECT * FROM p2 UNION ALL SELECT * FROM p3 UNION ALL
       |  SELECT * FROM p4 UNION ALL SELECT * FROM p5 UNION ALL
       |  SELECT * FROM p6)
       |SELECT sg.node, CAST(sum(sg.sigma * pa.p) AS BIGINT) AS stress
       |FROM sigma sg JOIN pall pa ON pa.s = sg.s AND pa.node = sg.node
       |WHERE sg.node <> sg.s
       |GROUP BY 1 ORDER BY stress DESC, sg.node LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------
  // g20: MAXIMAL INDEPENDENT SET by LUBY'S ALGORITHM — the parallel
  // symmetry-breaking primitive under distributed coloring,
  // scheduling and clustering (pick a maximal set of mutually
  // non-adjacent nodes in O(log n) ROUNDS, where any greedy sweep is
  // inherently sequential). True randomness is ungateable, so
  // priorities are HASH-DERIVED (hash56('mis#'‖node) — the g10/t19
  // determinism rule): each round every still-undecided node joins
  // the MIS iff its priority strictly beats every undecided
  // neighbor's (strict — equal-priority neighbors both stand down,
  // so independence never depends on tie luck); winners and their
  // neighbors leave the arena. The gate carries the per-round
  // selection counts, a checksum pinning each round's exact winner
  // SET, and the shrinking arena — 8 rounds is comfortably past this
  // graph's completion (trailing all-zero rounds keep the schema
  // SF-stable). Scale: each round is one edge-keyed join + one
  // node-keyed max-agg + two anti-joins, state O(V), cut per round —
  // the Pregel round shape; no node ever sees beyond its neighbors.
  private val MIS_ROUNDS = 8

  def g20(s: SparkSession, d: String): DataFrame = {
    def prio(n: Column): Column =
      Hashing.hash56(concat(lit("mis#"), n.cast("string")))
    val e = Pin.cut(edges(s, d))
    var und = Pin.cut(e.select(col("src").as("node")).distinct())
    var out: DataFrame = null
    for (r <- 1 to MIS_ROUNDS) {
      val nbr = und.select(col("node").as("nb"))
      val winners = Pin.cut(
        und.join(e, und("node") === e("src"), "left")
          .join(nbr, col("nb") === col("dst"), "left")
          .groupBy("node")
          .agg(max(when(col("nb").isNotNull, prio(col("nb")))).as("maxn"))
          .filter(col("maxn").isNull || col("maxn") < prio(col("node")))
          .select("node"))
      val removed = winners.join(e, winners("node") === e("src"))
        .select(col("dst").as("node")).distinct()
      und = Pin.cut(und.join(winners, Seq("node"), "left_anti")
        .join(removed, Seq("node"), "left_anti"))
      val row = winners.agg(count(lit(1)).as("n_selected"),
          coalesce(sum(Hashing.hash56(col("node").cast("string"))
              .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
            .cast("decimal(38,0)").cast("string").as("sel_checksum"))
        .crossJoin(und.agg(count(lit(1)).as("n_remaining")))
        .select(lit(r).as("round"), col("n_selected"), col("sel_checksum"),
          col("n_remaining"))
      out = if (out == null) row else out.union(row)
    }
    out.orderBy("round")
  }

  val g20Sql: String = {
    def p(x: String) = Hashing.sqlHash56(s"'mis#' || $x::VARCHAR")
    val rounds = (1 to MIS_ROUNDS).map { r =>
      s"""w$r AS MATERIALIZED (
         |  SELECT u.node FROM und${r - 1} u
         |  LEFT JOIN edges e ON e.src = u.node
         |  LEFT JOIN und${r - 1} v ON v.node = e.dst
         |  GROUP BY u.node
         |  HAVING max(CASE WHEN v.node IS NOT NULL THEN ${p("v.node")} END)
         |      IS NULL
         |    OR max(CASE WHEN v.node IS NOT NULL THEN ${p("v.node")} END)
         |      < ${p("u.node")}),
         |und$r AS MATERIALIZED (
         |  SELECT u.node FROM und${r - 1} u
         |  WHERE NOT EXISTS (SELECT 1 FROM w$r w WHERE w.node = u.node)
         |    AND NOT EXISTS (SELECT 1 FROM edges e JOIN w$r w
         |                    ON w.node = e.src WHERE e.dst = u.node))"""
        .stripMargin
    }.mkString(",\n")
    val rows = (1 to MIS_ROUNDS).map { r =>
      s"""SELECT $r AS round, w.cnt AS n_selected, w.chk AS sel_checksum,
         |  u.cnt AS n_remaining
         |FROM (SELECT count(*) AS cnt,
         |        coalesce(sum(${Hashing.sqlHash56("node::VARCHAR")}), 0)
         |          ::DECIMAL(38,0)::VARCHAR AS chk FROM w$r) w,
         |     (SELECT count(*) AS cnt FROM und$r) u""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $sqlEdges,
       |und0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |$rounds
       |$rows
       |ORDER BY round""".stripMargin
  }

  // ------------------------------------------------------------------
  // g21: STRONGLY CONNECTED COMPONENTS on the directed next-order
  // transition graph (d08/d13 decompose UNDIRECTED graphs; direction
  // changes the question — "items that feed back into each other's
  // purchase cycles" vs "items that co-occur"). Distributed
  // FW-BW-Trim (Fleischer/Hendrickson/Pinar — the algorithm GraphX's
  // users reach for at cluster scale, Tarjan being inherently
  // sequential): (1) TRIM — iteratively peel nodes with no in- or no
  // out-edges among survivors; each is its own singleton SCC, and on
  // real graphs (this one measured: 274 of 300) trim kills the dust
  // in fringe-depth rounds; (2) on the surviving core, FORWARD and
  // BACKWARD min-label fixpoints — F(v) = min label that reaches v,
  // B(v) = min label v reaches; every v with F(v)=B(v)=m is in
  // SCC(m) (m reaches v and v reaches m), settled nodes leave, and
  // the peel repeats (measured: ONE core round settles the 24-node
  // giant + the 2-cycle). Graph: top-300 items by transition volume
  // (vol DESC, item tie), edges = repeated (cnt≥2) next-order
  // transitions — the corpus-scale stage is the ONE transition build;
  // every loop runs on the ≤300-node pinned frame. Oracle: full
  // recursive-CTE reachability closure + mutual-pair min — a
  // formulation only viable BECAUSE the gate bounds the graph; the
  // distributed peel is what survives when it doesn't.
  private val SCC_NODES = 300

  /** (top-N node set, cnt≥2 directed edge set) — the one corpus-scale
    * stage; both frames pinned. Shared with the OpsSpec BFS replay. */
  private def sccGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
    val wSeq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val seq = o.withColumn("nxt", lead(col("o_orderkey"), 1).over(wSeq))
      .filter(col("nxt").isNotNull).select("o_orderkey", "nxt")
    val li = graft.etl.Ratings.orderItems(s, d)
    val tr = seq
      .join(li.as("a"), col("o_orderkey") === col("a.l_orderkey"))
      .join(li.as("b"), col("nxt") === col("b.l_orderkey"))
      .filter(col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .agg(count(lit(1)).as("cnt"))
    val trP = Pin.cut(tr)
    val nodes0 = Pin.cut(trP.groupBy("i").agg(sum("cnt").as("vol"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("vol").desc, col("i"))))
      .filter(col("rn") <= SCC_NODES).select(col("i").as("node")))
    val sub = Pin.cut(trP.filter(col("cnt") >= 2)
      .join(nodes0.select(col("node").as("i")), Seq("i"))
      .join(nodes0.select(col("node").as("j")), Seq("j"))
      .select("i", "j").distinct())
    (nodes0, sub)
  }

  private[graft] def g21SubgraphForTest(s: SparkSession, d: String): Array[(Long, Long)] =
    sccGraph(s, d)._2.collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")))

  def g21(s: SparkSession, d: String): DataFrame = {
    val (nodes0, sub) = sccGraph(s, d)

    var remaining = nodes0
    var labels = nodes0.filter(lit(false))
      .select(col("node"), col("node").as("scc_id"))

    def liveEdges(): DataFrame =
      sub.join(remaining.select(col("node").as("i")), Seq("i"))
        .join(remaining.select(col("node").as("j")), Seq("j"))

    def trim(): Unit = {
      var go = true
      while (go) {
        val e = Pin.cut(liveEdges())
        val alive = e.select(col("i").as("node")).distinct()
          .join(e.select(col("j").as("node")).distinct(), Seq("node"))
        val dust = Pin.cut(remaining.join(alive, Seq("node"), "left_anti"))
        if (dust.isEmpty) go = false
        else {
          labels = Pin.cut(labels.union(
            dust.select(col("node"), col("node").as("scc_id"))))
          remaining = Pin.cut(remaining.join(dust, Seq("node"), "left_anti"))
        }
      }
    }

    def minLabelFixpoint(e: DataFrame): DataFrame = {
      // e: (src, dst) in propagation direction
      var lab = Pin.cut(remaining.select(col("node"), col("node").as("l")))
      var changed = true
      while (changed) {
        val nxt = Pin.cut(lab
          .union(lab.join(e, lab("node") === e("src"))
            .select(col("dst").as("node"), col("l")))
          .groupBy("node").agg(min("l").as("l")))
        changed = !nxt.join(lab.withColumnRenamed("l", "p"), Seq("node"))
          .filter(col("l") =!= col("p")).isEmpty
        lab = nxt
      }
      lab
    }

    trim()
    while (!remaining.isEmpty) {
      val e = Pin.cut(liveEdges())
      val f = minLabelFixpoint(e.select(col("i").as("src"), col("j").as("dst")))
      val b = minLabelFixpoint(e.select(col("j").as("src"), col("i").as("dst")))
      val settled = Pin.cut(
        f.join(b.withColumnRenamed("l", "bl"), Seq("node"))
          .filter(col("l") === col("bl"))
          .select(col("node"), col("l").as("scc_id")))
      labels = Pin.cut(labels.union(settled))
      remaining = Pin.cut(
        remaining.join(settled.select("node"), Seq("node"), "left_anti"))
      trim()
    }
    labels.orderBy("node")
  }

  // Closure by MATERIALIZED DOUBLING, not WITH RECURSIVE (round-10,
  // VERDICT r9 next-round #5): the recursive form re-evaluated the
  // whole seq⋈oi⋈oi transition build inside every fixpoint round —
  // DuckDB inlines plain CTEs — and ground past 4 minutes at sf0.1,
  // leaving this key out of the builder's local sweep. The subgraph is
  // pinned to 300 nodes, so 9 doubling steps (path length 2^9 = 512 ≥
  // any simple path in 300 nodes) reach the exact same closure on
  // ≤90k-pair intermediates, each evaluated ONCE. Same rows, same
  // hash — only the oracle's execution shape changed.
  val g21Sql: String = {
    def dbl(k: Int): String =
      s"""rch$k AS MATERIALIZED (
         |  SELECT a, b FROM rch${k - 1}
         |  UNION
         |  SELECT x.a, y.b FROM rch${k - 1} x JOIN rch${k - 1} y
         |  ON x.b = y.a)""".stripMargin
    s"""WITH seq AS (
       |  SELECT o_orderkey, lead(o_orderkey) OVER (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey) AS nxt
       |  FROM orders),
       |oi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |tr AS MATERIALIZED (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM seq JOIN oi a ON seq.o_orderkey = a.l_orderkey
       |           JOIN oi b ON seq.nxt = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT i AS n FROM (
       |  SELECT i, sum(cnt) AS vol FROM tr GROUP BY 1
       |  ORDER BY vol DESC, i LIMIT 300)),
       |sub AS MATERIALIZED (SELECT DISTINCT i, j FROM tr WHERE cnt >= 2
       |  AND i IN (SELECT n FROM nodes) AND j IN (SELECT n FROM nodes)),
       |rch0 AS MATERIALIZED (SELECT i AS a, j AS b FROM sub),
       |${(1 to 9).map(dbl).mkString(",\n")},
       |mutual AS (
       |  SELECT r1.a, r1.b FROM rch9 r1
       |  JOIN rch9 r2 ON r1.a = r2.b AND r1.b = r2.a)
       |SELECT n.n AS node,
       |  least(n.n, coalesce(min(m.b), n.n)) AS scc_id
       |FROM nodes n LEFT JOIN mutual m ON m.a = n.n
       |GROUP BY n.n ORDER BY node""".stripMargin
  }

  // ------------------------------------------------------------------
  // g22: DIRECTED-GRAPH PROFILE of the transition graph (the summary
  // read before ANY directed algorithm is trusted — g09 profiles the
  // undirected trade graph; direction adds the two numbers that
  // decide whether g21's SCCs or r27's Markov chain even make sense):
  // RECIPROCITY (fraction of edges whose reverse also exists — the
  // "do purchase sequences loop back?" number; computed by ONE
  // self-join of the edge list on the swapped key, exact ppm) and the
  // IN↔OUT DEGREE CORRELATION (are heavy sources also heavy sinks? —
  // q40's exact-DECIMAL sufficient-statistic discipline: integer
  // degrees summed as DECIMAL(28,6), one fixed-order IEEE closing
  // chain @6dp). One transition build (shared shape with g21), one
  // swapped-key self-join, two keyed degree aggs, a 1-row closer.
  private[graft] def g22EdgesForTest(s: SparkSession, d: String): Array[(Long, Long)] =
    g22Edges(s, d).collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")))

  private def g22Edges(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
    val wSeq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val seq = o.withColumn("nxt", lead(col("o_orderkey"), 1).over(wSeq))
      .filter(col("nxt").isNotNull).select("o_orderkey", "nxt")
    val li = graft.etl.Ratings.orderItems(s, d)
    seq
      .join(li.as("a"), col("o_orderkey") === col("a.l_orderkey"))
      .join(li.as("b"), col("nxt") === col("b.l_orderkey"))
      .filter(col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .distinct()
      .transform(Pin.cut) // feeds the reverse join + both degree aggs
  }

  def g22(s: SparkSession, d: String): DataFrame = {
    val edges = g22Edges(s, d)
    val recip = edges
      .join(edges.select(col("j").as("i"), col("i").as("j")), Seq("i", "j"),
        "left_semi")
      .agg(count(lit(1)).as("n_recip"))
    val outDeg = edges.groupBy(col("i").as("node"))
      .agg(count(lit(1)).as("od"))
    val inDeg = edges.groupBy(col("j").as("node"))
      .agg(count(lit(1)).as("idg"))
    val deg = outDeg.join(inDeg, Seq("node"), "full")
      .select(coalesce(col("od"), lit(0L)).as("x"),
        coalesce(col("idg"), lit(0L)).as("y"))
    val dec = (c: Column) => sum(c.cast("decimal(28,6)"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      dec(col("x")).as("sx"), dec(col("y")).as("sy"),
      dec(col("x") * col("x")).as("sxx"), dec(col("y") * col("y")).as("syy"),
      dec(col("x") * col("y")).as("sxy"))
    val nd = (c: String) => col(c).cast("double")
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip))
      .crossJoin(broadcast(stats))
      .select(col("n_nodes"), col("n_edges"),
        expr("n_recip * 1000000 div n_edges").as("reciprocity_ppm"),
        round((nd("n_nodes") * nd("sxy") - nd("sx") * nd("sy")) /
          sqrt(nd("n_nodes") * nd("sxx") - nd("sx") * nd("sx")) /
          sqrt(nd("n_nodes") * nd("syy") - nd("sy") * nd("sy")), 6)
          .as("inout_corr"))
  }

  val g22Sql: String =
    """WITH seq AS (
      |  SELECT o_orderkey, lead(o_orderkey) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS nxt
      |  FROM orders),
      |oi AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |edges AS MATERIALIZED (
      |  -- MATERIALIZED is load-bearing: edges is referenced six times
      |  -- (recip twice, deg twice, two scalar counts) and inlining
      |  -- re-expands the triple-join subtree per reference — the
      |  -- sf0.1 oracle sweep ground to a halt here while each piece
      |  -- runs sub-second materialized (g19's Fibonacci-inlining note)
      |  SELECT DISTINCT a.l_partkey AS i, b.l_partkey AS j
      |  FROM seq JOIN oi a ON seq.o_orderkey = a.l_orderkey
      |           JOIN oi b ON seq.nxt = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |recip AS (
      |  -- explicit equi-join, NOT a correlated EXISTS: edges are
      |  -- distinct so each reciprocal edge matches exactly once, and
      |  -- the join hash-plans on any engine version — the EXISTS form
      |  -- ground to O(E^2) when the planner failed to decorrelate it
      |  -- (observed: the sf0.1 oracle sweep hung here)
      |  SELECT count(*) AS n_recip
      |  FROM edges e JOIN edges r ON r.i = e.j AND r.j = e.i),
      |deg AS (
      |  SELECT coalesce(o.od, 0) AS x, coalesce(i.idg, 0) AS y FROM
      |    (SELECT i AS node, count(*) AS od FROM edges GROUP BY 1) o
      |  FULL JOIN
      |    (SELECT j AS node, count(*) AS idg FROM edges GROUP BY 1) i
      |  USING (node)),
      |stats AS (
      |  SELECT count(*) AS n_nodes,
      |    sum(CAST(x AS DECIMAL(28,6))) AS sx,
      |    sum(CAST(y AS DECIMAL(28,6))) AS sy,
      |    sum(CAST(x * x AS DECIMAL(28,6))) AS sxx,
      |    sum(CAST(y * y AS DECIMAL(28,6))) AS syy,
      |    sum(CAST(x * y AS DECIMAL(28,6))) AS sxy
      |  FROM deg)
      |SELECT s.n_nodes, (SELECT count(*) FROM edges) AS n_edges,
      |  CAST((SELECT n_recip FROM recip) * 1000000 //
      |    (SELECT count(*) FROM edges) AS BIGINT) AS reciprocity_ppm,
      |  round((CAST(n_nodes AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt(CAST(n_nodes AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |    sqrt(CAST(n_nodes AS DOUBLE) * CAST(syy AS DOUBLE) -
      |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 6) AS inout_corr
      |FROM stats s""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g22_directed_profile" -> (g22 _),
    "g21_scc" -> (g21 _),
    "g20_luby_mis" -> (g20 _),
    "g19_stress_centrality" -> (g19 _),
    "g18_diameter" -> (g18 _),
    "g17_clustering" -> (g17 _),
    "g16_ppr" -> (g16 _),
    "g15_neighbor_sample" -> (g15 _),
    "g14_harmonic" -> (g14 _),
    "g13_ktruss" -> (g13 _),
    "g12_ego_features" -> (g12 _),
    "g11_hits" -> (g11 _),
    "g10_random_walks" -> (g10 _),
    "g09_assortativity" -> (g09 _),
    "g08_modularity" -> (g08 _),
    "g07_label_prop" -> (g07 _),
    "g06_link_predict" -> (g06 _),
    "g05_kcore" -> (g05 _),
    "g03_bfs_hops" -> (g03 _),
    "g01_pagerank" -> (g01 _),
    "g02_triangles" -> (g02 _),
    "g04_weighted_sssp" -> (g04 _))

  val oracles: Map[String, String] = Map(
    "g22_directed_profile" -> g22Sql,
    "g21_scc" -> g21Sql,
    "g20_luby_mis" -> g20Sql,
    "g19_stress_centrality" -> g19Sql,
    "g18_diameter" -> g18Sql,
    "g17_clustering" -> g17Sql,
    "g16_ppr" -> g16Sql,
    "g15_neighbor_sample" -> g15Sql,
    "g14_harmonic" -> g14Sql,
    "g13_ktruss" -> g13Sql,
    "g12_ego_features" -> g12Sql,
    "g11_hits" -> g11Sql,
    "g10_random_walks" -> g10Sql,
    "g09_assortativity" -> g09Sql,
    "g08_modularity" -> g08Sql,
    "g07_label_prop" -> g07Sql,
    "g06_link_predict" -> g06Sql,
    "g05_kcore" -> g05Sql,
    "g03_bfs_hops" -> g03Sql,
    "g01_pagerank" -> g01Sql,
    "g02_triangles" -> g02Sql,
    "g04_weighted_sssp" -> g04Sql)
}
