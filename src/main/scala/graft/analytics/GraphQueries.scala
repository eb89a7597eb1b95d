package graft.analytics

import graft.{QueryDef, QueryModule}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the trade network: iterative PageRank on the
  * customer–supplier bipartite graph (an edge per distinct trading
  * pair from lineitem ⋈ orders, walked both directions so the chain
  * has no dangling nodes).
  *
  * Scale design: the edge derivation is the only data-scaled stage
  * (one join + distinct). Each PageRank iteration is one edge⋈rank
  * shuffle + one aggregation — the canonical distributed power-method
  * shape; ranks and edges carry only (type, id, long) rows. The
  * iteration count is fixed (3) and unrolled, so the whole training
  * loop is declarative and the oracle replays it round for round.
  *
  * Cross-engine exactness: ranks live in integer MICRO-UNITS
  * (10^12 total mass). Per-edge contributions are `rank div outdeg`,
  * the damping update is `(15·base) div 100 + (85·Σcontrib) div 100`
  * — floor divisions leak tiny mass (standard in integer PageRank)
  * but every operation is order-independent integer arithmetic, so
  * the final ranks hash-match DuckDB bit for bit with no float
  * accumulation anywhere.
  */
object GraphQueries extends QueryModule {

  private val Mass = 1000000000000L // 10^12 micro-units of total rank
  private val Rounds = 3

  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // the union's two arms plan the same join + distinct, so they
    // share its exchange: the pairs are computed once
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su")).distinct()
    val fwd = pairs.select(lit("c").as("src_t"), col("c").as("src_id"),
      lit("s").as("dst_t"), col("su").as("dst_id"))
    val rev = pairs.select(lit("s").as("src_t"), col("su").as("src_id"),
      lit("c").as("dst_t"), col("c").as("dst_id"))
    // cached CO-PARTITIONED on the per-round join key (guide §2.4):
    // every round joins edges on (src_t, src_id), so one up-front
    // shuffle into the cache replaces an edges exchange per round —
    // the degree aggregation below also rides the same partitioning
    val edges = graft.Caches.register(
      fwd.unionAll(rev).repartition(col("src_t"), col("src_id")))
    val deg = graft.Caches.register(
      edges.groupBy("src_t", "src_id").agg(count(lit(1)).as("outdeg")))
    val n = deg.count() // node count: every node has out-edges by symmetry
    val base = Mass / n
    var rank = deg.select(col("src_t").as("node_t"), col("src_id").as("node_id"),
      lit(base).as("r"))
    for (_ <- 1 to Rounds) {
      val contrib = edges
        .join(rank, col("src_t") === col("node_t") && col("src_id") === col("node_id"))
        .join(deg, Seq("src_t", "src_id"))
        .select(col("dst_t"), col("dst_id"), expr("r div outdeg").as("give"))
        .groupBy("dst_t", "dst_id").agg(sum("give").as("in_sum"))
      rank = contrib.select(col("dst_t").as("node_t"), col("dst_id").as("node_id"),
        (lit(15L * base / 100L) + expr("(85 * in_sum) div 100")).as("r"))
    }
    rank.orderBy(col("r").desc, col("node_t"), col("node_id")).limit(20)
      .select(col("node_t"), col("node_id"), col("r").as("rank_micro"))
  }

  private val pagerankSql = {
    val base =
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS su
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |edges AS (
        |  SELECT 'c' AS src_t, c AS src_id, 's' AS dst_t, su AS dst_id FROM pairs
        |  UNION ALL
        |  SELECT 's' AS src_t, su AS src_id, 'c' AS dst_t, c AS dst_id FROM pairs),
        |deg AS (
        |  SELECT src_t, src_id, CAST(count(*) AS BIGINT) AS outdeg
        |  FROM edges GROUP BY 1, 2),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        |r0 AS (
        |  SELECT src_t AS node_t, src_id AS node_id,
        |    (SELECT 1000000000000 // n FROM nn) AS r
        |  FROM deg)""".stripMargin
    val rounds = (1 to Rounds).map { k =>
      s"""r$k AS (
         |  SELECT e.dst_t AS node_t, e.dst_id AS node_id,
         |    (SELECT (15 * (1000000000000 // n)) // 100 FROM nn)
         |      + (85 * CAST(sum(p.r // d.outdeg) AS BIGINT)) // 100 AS r
         |  FROM edges e
         |  JOIN r${k - 1} p ON e.src_t = p.node_t AND e.src_id = p.node_id
         |  JOIN deg d ON e.src_t = d.src_t AND e.src_id = d.src_id
         |  GROUP BY e.dst_t, e.dst_id)""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      s"""
         |SELECT node_t, node_id, CAST(r AS BIGINT) AS rank_micro
         |FROM r$Rounds
         |ORDER BY r DESC, node_t, node_id LIMIT 20""".stripMargin
  }

  // -- item-item collaborative filtering -----------------------------------

  /** Item-item CF neighbor lists — the classic co-occurrence
    * recommender primitive: for the 20 most-ordered parts, the top-3
    * most-associated parts by squared-cosine association over basket
    * co-occurrence, `score = cooc²·10⁶ div (f_a·f_b)` — the integer
    * micro-ratio form of cosine²(a, b) on binary basket vectors, so
    * ranking is exact cross-engine with no sqrt anywhere.
    *
    * 100 TB shape: co-occurrence fan-out is bounded by basket size
    * squared (TPC-H baskets ≤ 7 — candidate volume linear in orders);
    * anchor selection broadcasts 20 rows; neighbor ranking runs on
    * the bounded-heap TopK operator.
    */
  private def itemCf(s: SparkSession, dir: String): DataFrame = {
    // NOT cached: the self-join sides and freq are identical subtrees
    // whose exchanges Spark already reuses (ReuseExchange) — an r15
    // cache attempt here ADDED a materialization pass and regressed
    // the query (profiled 1.76 s -> 2.9 s); see OPTIMIZATION_r15.md
    val bp = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val freq = graft.Caches.register(
      bp.groupBy("pk").agg(count(lit(1)).as("f")))
    val pairs = bp.as("a").join(bp.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("cooc"))
    val sym = pairs.select(col("pa").as("item"), col("pb").as("nb"), col("cooc"))
      .unionAll(pairs.select(col("pb").as("item"), col("pa").as("nb"), col("cooc")))
    val anchors = freq.orderBy(col("f").desc, col("pk")).limit(20)
      .select(col("pk").as("item"), col("f").as("fi"))
    val scored = sym.join(broadcast(anchors), "item")
      .join(freq.select(col("pk").as("nb"), col("f").as("fn")), "nb")
      .select(col("item"), col("nb"),
        expr("(cooc * cooc * 1000000) div (fi * fn)").as("score_micro"))
    graft.plans.TopK.perKey(scored, Seq("item"),
        Seq(col("score_micro"), -col("nb")), 3)
      .select(col("item"), col("nb"), col("rank"), col("score_micro"))
      .orderBy("item", "rank")
  }

  private val itemCfSql =
    """WITH bp AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |freq AS (SELECT pk, CAST(count(*) AS BIGINT) AS f FROM bp GROUP BY pk),
      |pairs AS (
      |  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
      |  FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |sym AS (
      |  SELECT pa AS item, pb AS nb, cooc FROM pairs
      |  UNION ALL
      |  SELECT pb AS item, pa AS nb, cooc FROM pairs),
      |anchors AS (
      |  SELECT pk AS item, f AS fi FROM freq
      |  ORDER BY f DESC, pk LIMIT 20),
      |scored AS (
      |  SELECT s.item, s.nb,
      |    (s.cooc * s.cooc * 1000000) // (a.fi * fn.f) AS score_micro
      |  FROM sym s
      |  JOIN anchors a ON s.item = a.item
      |  JOIN freq fn ON s.nb = fn.pk),
      |r AS (
      |  SELECT item, nb, score_micro,
      |    row_number() OVER (PARTITION BY item
      |      ORDER BY score_micro DESC, nb) AS rank
      |  FROM scored)
      |SELECT item, nb, CAST(rank AS INT) AS rank,
      |  CAST(score_micro AS BIGINT) AS score_micro
      |FROM r WHERE rank <= 3 ORDER BY item, rank""".stripMargin

  /** One oriented copy per undirected edge, tilted by DEGREE: u→v iff
    * (deg(u), u) < (deg(v), v). This is the standard scale-safe
    * orientation for triangle enumeration (Chiba–Nishizeki /
    * Suri–Vassilvitskii): every node's FORWARD adjacency is bounded
    * by O(√m) — a node with forward-degree d has d neighbors of
    * degree ≥ d, which costs ≥ d²/2 edge endpoints — so the wedge
    * join's per-key fan-out is capped however hub-heavy the graph is.
    * Orienting by raw id instead leaves a low-id hub its FULL
    * adjacency and the wedge join explodes quadratically in one
    * reducer. Input: one row per undirected edge, columns (u, v);
    * output columns (a, b) with (deg(a), a) < (deg(b), b).
    */
  private[analytics] def orientByDegree(half0: DataFrame): DataFrame = {
    // the undirected edge list feeds BOTH the degree aggregation and
    // the orientation join — cache it or the (expensive) derivation
    // upstream runs twice
    val half = graft.Caches.register(half0)
    // cached: deg feeds BOTH broadcast sides (du, dv) below — each
    // broadcast build is its own job, so an uncached deg would run
    // the degree aggregation twice
    val deg = graft.Caches.register(half.select(col("u").as("n"))
      .unionAll(half.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")))
    // deg is bounded by the NODE count (two longs per node), orders of
    // magnitude under the edge list the wedge join scales with — the
    // broadcast keeps both degree attachments map-side. (At a node
    // count too large to broadcast, drop the hint and AQE plans the
    // shuffle; the wedge join dominates long before that point.)
    val du = broadcast(deg.select(col("n").as("u"), col("d").as("du")))
    val dv = broadcast(deg.select(col("n").as("v"), col("d").as("dv")))
    val tilt = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    half.join(du, "u").join(dv, "v")
      .select(when(tilt, col("u")).otherwise(col("v")).as("a"),
        when(tilt, col("v")).otherwise(col("u")).as("b"))
  }

  /** Per-node triangle counts from a degree-oriented edge list:
    * wedges join edge(a,b) with edge(b,c), the closing edge(a,c)
    * lookup is a third join on the same oriented list, and each
    * triangle materializes exactly once (its corners sorted by
    * (degree, id)). Unordered output — caller orders/limits.
    */
  private[analytics] def triangleCorners(oriented: DataFrame): DataFrame = {
    val edges = graft.Caches.register(oriented)
    // Edge-iterator enumeration over the degree-tilted FORWARD
    // adjacency, not a wedge self-join: a triangle's corners sorted by
    // (deg, id) as x<y<z carry oriented edges x→y, x→z, y→z, so it is
    // found EXACTLY once — by its lowest edge (x,y), as
    // z ∈ fwd(x) ∩ fwd(y). The wedge join materializes Σ in·out rows
    // (~49M at sf0.1, each through exchange/probe machinery); the
    // intersection does the same enumeration as a per-edge compiled
    // array pass whose output is only the 3·triangles corner rows,
    // map-side combined before the one remaining shuffle. fwd lists
    // are bounded at O(√m) per node BY the tilt — the reason the
    // collect needs no cap — and the adjacency frame (nodes, not
    // edges) broadcasts under the size guard; above it the joins fall
    // back to shuffles and the bound still holds per task.
    // cached: adj feeds BOTH broadcast sides (fa, fb) — each
    // broadcast build is its own job, so an uncached adj would run
    // the collect_list aggregation twice
    val adj = graft.Caches.register(edges.groupBy(col("a").as("n"))
      .agg(sort_array(collect_list(col("b"))).as("fwd")))
    val small = edges.count() <= 5000000L // free: edges is cached
    def side(d: DataFrame): DataFrame = if (small) broadcast(d) else d
    val fa = side(adj.select(col("n").as("a"), col("fwd").as("fa")))
    val fb = side(adj.select(col("n").as("b"), col("fwd").as("fb")))
    // compiled sorted-merge intersection — array_intersect pays a
    // boxed hash-set build per edge
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val zs = column(graft.functions.SortedIntersect(
      expression(col("fa")), expression(col("fb"))))
    edges
      .join(fa, Seq("a"))
      .join(fb, Seq("b")) // inner: a top-ranked b has no fwd, no z
      .select(col("a"), col("b"), zs.as("zs"))
      .filter(size(col("zs")) > 0)
      .select(explode(concat(col("zs"),
        array_repeat(col("a"), size(col("zs"))),
        array_repeat(col("b"), size(col("zs"))))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node triangle counts over the part co-purchase graph (parts
    * connected when some order holds both) — the clustering-structure
    * primitive behind community detection and spam/bot graph
    * analysis. Compact-forward enumeration over [[orientByDegree]]'s
    * degree-tilted edge list, so hub wedges land on the low-degree
    * side and per-key fan-out in the wedge join is O(√m).
    *
    * 100 TB shape: edge derivation is per-order (fan-out bounded by
    * basket size squared — linear in lineitem); the wedge join is the
    * only super-linear stage and the degree tilt bounds it. All keys
    * are (long, long); counts are exact integers. The oracle counts
    * the same triangles under the simpler a<b id orientation — the
    * per-node counts are orientation-invariant, so the two
    * enumeration strategies agreeing is itself part of the check.
    */
  private def triangles(s: SparkSession, dir: String): DataFrame = {
    // cached: bp feeds both sides of the basket self-join
    val bp = graft.Caches.register(Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
    val half = bp.as("x").join(bp.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("u"), col("y.pk").as("v")).distinct()
    triangleCorners(orientByDegree(half))
      .orderBy(col("n_triangles").desc, col("part")).limit(20)
  }

  private val trianglesSql =
    """WITH bp AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT x.pk AS a, y.pk AS b
      |  FROM bp x JOIN bp y ON x.ok = y.ok AND x.pk < y.pk),
      |tri AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM edges e1
      |  JOIN edges e2 ON e1.b = e2.a
      |  JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b),
      |corners AS (
      |  SELECT a AS part FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM corners GROUP BY part
      |ORDER BY n_triangles DESC, part LIMIT 20""".stripMargin

  // -- k-core decomposition -------------------------------------------------

  private val CoreK = 8
  private val PeelRounds = 3

  /** `rounds` rounds of the k-core peel over a SYMMETRIC edge list
    * whose first half of columns is the source node's key and second
    * half the destination's, in the same order: (src, dst) for packed
    * long keys as [[tradeEdges]] emits, or (src_t, src_id, dst_t,
    * dst_id) for type-tagged ones. Each round drops every node whose
    * current degree is < k, keeping an edge only while BOTH endpoints
    * survive. Rounds past the fixpoint are the identity, so the loop
    * stops there; the fixed count keeps the result declarative and lets
    * the oracle replay it round for round.
    */
  private[analytics] def peelCore(edges0: DataFrame, k: Int, rounds: Int): Peeled =
    peel(edges0, k, rounds)

  /** [[peelCore]] to the TRUE fixpoint, with a LOUD refusal past
    * `maxRounds` strict-peel rounds: a deep cascade under-peeled by a
    * fixed unroll silently over-reports the core, and at 100× scale a
    * cascade can run arbitrarily deep. A round that changes nothing
    * proves the fixpoint (see [[peel]]); detecting it costs one
    * identity round beyond the last strict peel, so the loop allows
    * `maxRounds + 1` rounds: a cascade whose fixpoint lands at exactly
    * `maxRounds` peels (the oracle's unroll depth) converges rather
    * than throwing.
    */
  private[analytics] def peelCoreFixpoint(edges0: DataFrame, k: Int,
      maxRounds: Int = 40): Peeled = {
    val peeled = peel(edges0, k, maxRounds + 1)
    require(peeled.fixpointDegrees.isDefined,
      s"peelCoreFixpoint did not reach the peel fixpoint in $maxRounds rounds")
    peeled
  }

  /** The end of a peel: the peeled edges and, when the loop reached
    * the fixpoint, the degrees of its last round as (source key…,
    * core_deg). That round left the edges as they were, so its degrees
    * are each surviving node's degree in the peeled edges.
    */
  private[analytics] final case class Peeled(edges: DataFrame,
      fixpointDegrees: Option[DataFrame]) {
    /** (source key…, core_deg) of every node in the core: read off
      * the fixpoint's degree cache, or aggregated over the edges when
      * the round cap came first. */
    def coreDegrees: DataFrame = fixpointDegrees.getOrElse(edgeDegrees(edges))
  }

  /** (source key…, core_deg) aggregated over a peeled edge list. */
  private[analytics] def edgeDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(edges.columns.take(edges.columns.length / 2).map(col): _*)
      .agg(count(lit(1)).as("core_deg"))

  /** The peel loop of [[peelCore]] and [[peelCoreFixpoint]]: at most
    * `maxRounds` rounds, stopping at the first round that changes
    * nothing. The node key is whatever the edge list's columns say
    * (see [[peelCore]]); with one long per node, as [[kcore]] runs it,
    * the edge cache is two long columns, both semi-joins probe a
    * `LongHashedRelation` and the degree aggregate groups on a
    * primitive key.
    *
    * Node frontier: round i computes each node's degree d in e_{i-1}
    * and the alive set a_i = {u : d(u) ≥ k}, with e_i = e0 ⋉ a_i on
    * both endpoints. The peel is MONOTONE (a_i ⊆ src(e_{i-1}) ⊆
    * a_{i-1}), so filtering the ORIGINAL edges by the latest alive set
    * equals the chain of per-round semi-joins, and a round is one scan
    * of the cached e0 plus one node-sized aggregate; no round writes an
    * edge cache. Convergence: for a symmetric edge list every endpoint
    * of e_{i-1} is one of its sources, so e_i = e_{i-1} exactly when
    * |a_i| = |src(e_{i-1})|, and the round's degree aggregate yields
    * both. That round's degrees are then the core degrees
    * ([[Peeled]]), and e_i is never built.
    *
    * e0 is CO-PARTITIONED on the source key, the key of every round's
    * degree aggregation (guide §2.4), and filled by round 1's job
    * ([[graft.Caches.stage]]). Each degree cache is filled in one job
    * and re-rooted ([[graft.Caches.materialize]]), so a round's plan has
    * cache leaves, not the previous round's plan. The degree cache is
    * partitioned as e0 is, so the source-side semi-join runs partition
    * to partition with no exchange, and only the destination side
    * broadcasts the node-sized alive set: one broadcast per round.
    * e0's partitioning flows through both to the next degree
    * aggregation.
    */
  private def peel(edges0: DataFrame, k: Int, maxRounds: Int): Peeled = {
    val (src, dst) = edges0.columns.toSeq.splitAt(edges0.columns.length / 2)
    // the degree cache names its key apart from e0's: with e0's key
    // attributes, its references in the semi-joins would be re-instanced
    // with new ones and lose the partitioning they carry
    val node = src.map("node_" + _)
    val e0 = graft.Caches.stage(edges0.repartition(src.map(col): _*))
    lazy val e0Filled = org.apache.spark.sql.GraftSqlBridge.cachedRelation(e0)
    def on(keys: Seq[String]) =
      keys.zip(node).map { case (e, a) => col(s"e.$e") === col(s"a.$a") }.reduce(_ && _)
    var edges = e0
    var fixpoint: Option[DataFrame] = None
    var i = 0
    while (fixpoint.isEmpty && i < maxRounds) {
      val (deg, n) = graft.Caches.materialize(
        edges.groupBy(src.zip(node).map { case (c, a) => col(c).as(a) }: _*)
          .agg(count(lit(1)).as("d")),
        count(lit(1)), count_if(col("d") >= k))
      if (n.getLong(0) == n.getLong(1))
        fixpoint = Some(deg.select(node.zip(src).map { case (a, c) => col(a).as(c) } :+
          col("d").as("core_deg"): _*))
      else {
        // source side first: only the plan's first reference to the
        // degree cache keeps its partitioning (a repeated leaf is
        // re-instanced with new attributes)
        val alive = deg.filter(col("d") >= k).select(node.map(col): _*).as("a")
        edges = e0Filled.as("e").join(alive.hint("shuffle_hash"), on(src), "left_semi")
          .join(broadcast(alive), on(dst), "left_semi")
      }
      i += 1
    }
    Peeled(edges, fixpoint)
  }

  /** The symmetric customer–supplier trade graph with one long per
    * node: 2·custkey for a customer, 2·suppkey + 1 for a supplier
    * (decoded by [[coreTop20]]). The union's two arms plan the same
    * join and distinct, so they share its exchange.
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("su")).distinct()
    pairs.select(col("c").as("src"), col("su").as("dst"))
      .unionAll(pairs.select(col("su").as("src"), col("c").as("dst")))
  }

  /** Top-20 nodes of a peeled [[tradeEdges]] graph by (core degree,
    * type, id), from its (src, core_deg) rows ([[Peeled.coreDegrees]]),
    * with each packed key decoded to (node_t, node_id). */
  private[analytics] def coreTop20(coreDegrees: DataFrame): DataFrame =
    coreDegrees
      .select(when((col("src") % 2) === 0, lit("c")).otherwise(lit("s")).as("node_t"),
        shiftright(col("src"), 1).as("node_id"), col("core_deg"))
      .orderBy(col("core_deg").desc, col("node_t"), col("node_id")).limit(20)

  /** k-core of the customer–supplier trade graph (the dense-subgraph
    * primitive behind community cores, engagement tiers, and graph
    * sparsification): after [[PeelRounds]] rounds of removing nodes
    * with degree < [[CoreK]], the surviving nodes with their residual
    * in-core degree. Cascades are the point — a customer losing its
    * low-degree suppliers can itself drop under k the next round.
    * Top-20 by (core degree, type, id), exact integers throughout.
    */
  private def kcore(s: SparkSession, dir: String): DataFrame =
    coreTop20(peelCore(tradeEdges(s, dir), CoreK, PeelRounds).coreDegrees)

  /** The TRUE k-core via [[peelCoreFixpoint]]. Oracle soundness: the
    * SQL unrolls [[FixpointOracleRounds]] peel rounds; a round past
    * the fixpoint is the identity (every surviving node already has
    * degree ≥ k), so unrolled-N equals the fixpoint whenever the
    * fixpoint lands within N rounds — and the Spark side caps
    * `maxRounds` at the SAME N and refuses loudly beyond it, so the
    * two can never silently diverge on a deeper cascade.
    */
  private def kcoreFixpoint(s: SparkSession, dir: String): DataFrame =
    coreTop20(peelCoreFixpoint(tradeEdges(s, dir), CoreK, maxRounds = FixpointOracleRounds)
      .coreDegrees)

  private val FixpointOracleRounds = 10

  private def kcoreSqlRounds(peelRounds: Int) = {
    val base =
      """WITH pairs AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS su
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e0 AS (
        |  SELECT 'c' AS src_t, c AS src_id, 's' AS dst_t, su AS dst_id FROM pairs
        |  UNION ALL
        |  SELECT 's' AS src_t, su AS src_id, 'c' AS dst_t, c AS dst_id FROM pairs)""".stripMargin
    // AS MATERIALIZED: each round references the previous one three
    // times — inlined CTEs would expand the plan 3^rounds-fold (DuckDB
    // runs out of file handles at 10 rounds without it)
    val rounds = (1 to peelRounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT src_t, src_id FROM e${r - 1}
         |  GROUP BY 1, 2 HAVING count(*) >= $CoreK),
         |e$r AS MATERIALIZED (
         |  SELECT e.src_t, e.src_id, e.dst_t, e.dst_id FROM e${r - 1} e
         |  JOIN a$r x ON e.src_t = x.src_t AND e.src_id = x.src_id
         |  JOIN a$r y ON e.dst_t = y.src_t AND e.dst_id = y.src_id)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT src_t AS node_t, src_id AS node_id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$peelRounds GROUP BY 1, 2
       |ORDER BY core_deg DESC, node_t, node_id LIMIT 20""".stripMargin
  }

  private val kcoreSql = kcoreSqlRounds(PeelRounds)
  private val kcoreFixpointSql = kcoreSqlRounds(FixpointOracleRounds)

  // -- supplier neighborhood Jaccard ----------------------------------------

  /** Customers-per-hub cap for [[suppliersJaccard]]: a customer
    * trading with more suppliers than this is dropped from pair
    * enumeration. The wedge stage costs Σ deg(c)² — this cap is what
    * bounds it at 100 TB (hub customers carry little discriminative
    * signal anyway: they co-occur with everyone). A no-op at every
    * test SF (max observed degree 102 at sf0.1), so the oracle —
    * which applies the identical cap — certifies the EXACT answer.
    */
  private val HubCap = 1000

  /** Supplier substitutability: Jaccard similarity of two suppliers'
    * CUSTOMER BASES — the "who could replace whom" / account-overlap
    * primitive (vs [[itemCf]]'s cosine over co-purchase counts).
    * Candidates come from co-occurrence under a shared customer (no
    * all-pairs stage: a supplier pair with zero shared customers is
    * never materialized); the per-customer self-join fans out
    * deg(c)²/2 wedge rows, map-side combined into the bounded
    * (a, b) pair space. Jaccard lives in integer MICRO-UNITS
    * (`inter·10⁶ div (da + db − inter)`) — exact cross-engine, no
    * float division. Top-20 by (similarity, pair).
    */
  private def suppliersJaccard(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su")).distinct()
    // kept feeds the degree aggregation AND both wedge-join sides;
    // deg feeds both endpoint attachments — cache both or their
    // derivations run twice (pairs has one consumer: no cache)
    val kept = graft.Caches.register(pairs
      .withColumn("d_c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("c")))
      .filter(col("d_c") <= HubCap).drop("d_c"))
    val deg = graft.Caches.register(
      kept.groupBy(col("su").as("n")).agg(count(lit(1)).as("d")))
    val cooc = kept.as("x").join(kept.as("y"),
        col("x.c") === col("y.c") && col("x.su") < col("y.su"))
      .groupBy(col("x.su").as("a"), col("y.su").as("b"))
      .agg(count(lit(1)).as("inter"))
    // deg is supplier-bounded (two longs per supplier) — broadcast
    // keeps both attachments map-side at any corpus size where the
    // supplier dimension still fits; beyond that AQE shuffles it
    val da = broadcast(deg.select(col("n").as("a"), col("d").as("da")))
    val db = broadcast(deg.select(col("n").as("b"), col("d").as("db")))
    cooc.join(da, "a").join(db, "b")
      .select(col("a"), col("b"),
        expr("inter * 1000000 div (da + db - inter)").as("jaccard_micro"))
      .orderBy(col("jaccard_micro").desc, col("a"), col("b")).limit(20)
  }

  private val suppliersJaccardSql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS su
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |kept AS (
       |  SELECT c, su FROM (
       |    SELECT c, su, count(*) OVER (PARTITION BY c) AS d_c FROM pairs)
       |  WHERE d_c <= $HubCap),
       |deg AS (SELECT su, CAST(count(*) AS BIGINT) AS d FROM kept GROUP BY 1),
       |cooc AS (
       |  SELECT x.su AS a, y.su AS b, CAST(count(*) AS BIGINT) AS inter
       |  FROM kept x JOIN kept y ON x.c = y.c AND x.su < y.su
       |  GROUP BY 1, 2)
       |SELECT a, b, inter * 1000000 // (da.d + db.d - inter) AS jaccard_micro
       |FROM cooc
       |JOIN deg da ON da.su = a
       |JOIN deg db ON db.su = b
       |ORDER BY jaccard_micro DESC, a, b LIMIT 20""".stripMargin

  /** Hop-distance BFS from a seed node over the customer–supplier
    * bipartite graph (r12): the Pregel frontier shape — each of the
    * BOUNDED rounds expands the previous frontier through one
    * edge⋈frontier shuffle, dedups, and anti-joins the visited set so
    * a node keeps its MINIMUM distance; `localCheckpoint` cuts the
    * per-round lineage (an unrolled iterative plan would otherwise
    * recompute round k-1 inside round k). Scale: the frontier and
    * visited sets carry only (type, id) rows; each round is one
    * shuffle on node id; rounds are fixed so the whole walk is
    * replayable — the oracle recomputes it as a DuckDB recursive CTE
    * with min-dist aggregation (path enumeration is bounded by the
    * same round cap).
    */
  private val BfsRounds = 3

  private def bfsLayers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su")).distinct()
      .localCheckpoint(false)
    val fwd = pairs.select(lit("c").as("src_t"), col("c").as("src_id"),
      lit("s").as("dst_t"), col("su").as("dst_id"))
    val rev = pairs.select(lit("s").as("src_t"), col("su").as("src_id"),
      lit("c").as("dst_t"), col("c").as("dst_id"))
    // CO-PARTITIONED on the frontier-join key, cached, and
    // MATERIALIZED before the loop (guide §2.4): only a materialized
    // cache exposes its hash partitioning to the planner (checkpoints
    // and unmaterialized caches report unknown partitioning under
    // AQE), so the one count() buys every round an exchange-free
    // edges side in the frontier join — one blocking job total,
    // against an edge-list re-shuffle per round.
    val edges = graft.Caches.register(
      fwd.unionAll(rev).repartition(col("src_t"), col("src_id")))
    edges.count()
    // seed: the lowest customer id that HAS orders — deterministic on
    // both engines, and guaranteed a non-trivial neighborhood
    val seedId = ord.agg(min("o_custkey")).head().getLong(0)
    // checkpointed seed: an opaque LogicalRDD — Spark 4.1's
    // PushDownLeftSemiAntiJoin invalidates the plan when the visited
    // anti-join is pushed into this literal projection otherwise.
    // All loop checkpoints are LAZY: no control-flow action reads
    // them mid-loop, so the whole bounded walk executes as ONE job
    // at the final action instead of 2 blocking jobs per round —
    // the plan is still cut to LogicalRDDs round by round, and each
    // round's `next` is shared (frontier join + visited union) via
    // the checkpoint RDD, never recomputed
    var visited = s.range(1).select(lit("c").as("node_t"),
      lit(seedId).as("node_id"), lit(0L).as("dist")).localCheckpoint(false)
    var frontier = visited.select("node_t", "node_id")
    for (d <- 1 to BfsRounds) {
      val next = edges
        .join(frontier, col("src_t") === col("node_t") && col("src_id") === col("node_id"))
        .select(col("dst_t").as("node_t"), col("dst_id").as("node_id")).distinct()
        .join(visited.select("node_t", "node_id"), Seq("node_t", "node_id"), "left_anti")
        .localCheckpoint(false)
      visited = visited.unionAll(next.withColumn("dist", lit(d.toLong)))
        .localCheckpoint(false)
      frontier = next
    }
    visited.orderBy(col("dist"), col("node_t"), col("node_id"))
  }

  private val bfsLayersSql =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS su
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT 'c' AS st, c AS sid, 's' AS dt, su AS did FROM pairs
      |  UNION ALL
      |  SELECT 's', su, 'c', c FROM pairs),
      |bfs(t, id, dist) AS (
      |  SELECT 'c', (SELECT min(o_custkey) FROM orders), 0
      |  UNION ALL
      |  SELECT e.dt, e.did, b.dist + 1
      |  FROM bfs b JOIN edges e ON e.st = b.t AND e.sid = b.id
      |  WHERE b.dist < ${BfsRounds})
      |SELECT t AS node_t, id AS node_id, CAST(min(dist) AS BIGINT) AS dist
      |FROM bfs GROUP BY 1, 2
      |ORDER BY dist, node_t, node_id""".stripMargin

  /** Bounded-round single-source shortest paths (r12) — weighted
    * BFS's big sibling: distributed Bellman-Ford over the trade graph
    * with edge weight 1 + distinct-order count per trading pair, K
    * fixed relaxation rounds (= min cost over paths of ≤K edges, the
    * bounded-horizon form that replays exactly cross-engine — an
    * unbounded SSSP's round count is data-dependent). Each round is
    * one edge⋈dist shuffle + a min aggregation; dist rows are
    * (type, id, long); `localCheckpoint` cuts the per-round lineage.
    * Integer weights keep min-plus arithmetic exact on both engines;
    * the oracle enumerates ≤K-edge paths with a recursive CTE and
    * min-aggregates — relaxation vs path enumeration agreeing is part
    * of the check.
    */
  private def ssspBounded(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val weighted = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("su"))
      .agg((countDistinct(col("l_orderkey")) + lit(1L)).as("w"))
      .localCheckpoint(false)
    val fwd = weighted.select(lit("c").as("src_t"), col("c").as("src_id"),
      lit("s").as("dst_t"), col("su").as("dst_id"), col("w"))
    val rev = weighted.select(lit("s").as("src_t"), col("su").as("src_id"),
      lit("c").as("dst_t"), col("c").as("dst_id"), col("w"))
    // CO-PARTITIONED on the relaxation-join key, cached and
    // materialized before the loop — see bfsLayers: one blocking
    // count() buys every relaxation round an exchange-free edges side
    val edges = graft.Caches.register(
      fwd.unionAll(rev).repartition(col("src_t"), col("src_id")))
    edges.count()
    val seedId = ord.agg(min("o_custkey")).head().getLong(0)
    // LAZY per-round checkpoints (see bfsLayers): the K relaxation
    // rounds execute as one job at the final action; each round's
    // dist is shared by the next round's join AND union through the
    // checkpoint RDD, and the plan is still cut round by round
    var dist = s.range(1).select(lit("c").as("node_t"),
      lit(seedId).as("node_id"), lit(0L).as("d")).localCheckpoint(false)
    for (_ <- 1 to BfsRounds) {
      val relaxed = edges
        .join(dist, col("src_t") === col("node_t") && col("src_id") === col("node_id"))
        .select(col("dst_t").as("node_t"), col("dst_id").as("node_id"),
          (col("d") + col("w")).as("d"))
      dist = dist.unionAll(relaxed)
        .groupBy("node_t", "node_id").agg(min("d").as("d"))
        .localCheckpoint(false)
    }
    dist.select(col("node_t"), col("node_id"), col("d").as("dist"))
      .orderBy(col("dist"), col("node_t"), col("node_id"))
  }

  private val ssspBoundedSql =
    s"""WITH RECURSIVE weighted AS (
      |  SELECT o_custkey AS c, l_suppkey AS su,
      |    CAST(count(DISTINCT l_orderkey) + 1 AS BIGINT) AS w
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT 'c' AS st, c AS sid, 's' AS dt, su AS did, w FROM weighted
      |  UNION ALL
      |  SELECT 's', su, 'c', c, w FROM weighted),
      |sp(t, id, d, hops) AS (
      |  SELECT 'c', (SELECT min(o_custkey) FROM orders), CAST(0 AS BIGINT), 0
      |  UNION ALL
      |  SELECT e.dt, e.did, s.d + e.w, s.hops + 1
      |  FROM sp s JOIN edges e ON e.st = s.t AND e.sid = s.id
      |  WHERE s.hops < ${BfsRounds})
      |SELECT t AS node_t, id AS node_id, CAST(min(d) AS BIGINT) AS dist
      |FROM sp GROUP BY 1, 2
      |ORDER BY dist, node_t, node_id""".stripMargin

  // -- local clustering coefficient ------------------------------------------

  /** Local clustering coefficient of the parts co-order graph:
    * LCC(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — "how clique-like is
    * this part's neighborhood", the community-structure probe next to
    * the raw triangle counts. Reuses the degree-tilted edge-iterator
    * triangle enumeration (each triangle found exactly once, fwd
    * lists bounded O(√m) by the tilt) plus one degree aggregation;
    * parts with degree ≥2 and no triangles surface with LCC 0.
    */
  private def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    // cached: bp feeds both sides of the basket self-join
    val bp = graft.Caches.register(Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
    val half = graft.Caches.register(bp.as("x").join(bp.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("u"), col("y.pk").as("v")).distinct())
    val deg = half.select(col("u").as("part"))
      .unionAll(half.select(col("v").as("part")))
      .groupBy("part").agg(count(lit(1)).as("d"))
    val tri = triangleCorners(orientByDegree(half))
    deg.filter(col("d") >= 2)
      .join(tri, Seq("part"), "left")
      .select(col("part"), col("d"),
        coalesce(col("n_triangles"), lit(0L)).as("tri"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
          (col("d") * (col("d") - 1)), 6).as("lcc"))
      .orderBy(desc("lcc"), desc("d"), col("part"))
      .limit(15)
  }

  private val clusteringCoeffSql =
    """WITH bp AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT x.pk AS u, y.pk AS v
      |  FROM bp x JOIN bp y ON x.ok = y.ok AND x.pk < y.pk),
      |deg AS (
      |  SELECT part, count(*)::BIGINT AS d FROM (
      |    SELECT u AS part FROM edges UNION ALL SELECT v FROM edges) n
      |  GROUP BY 1),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM edges e1
      |  JOIN edges e2 ON e1.v = e2.u
      |  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v),
      |corners AS (
      |  SELECT a AS part FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri),
      |tc AS (SELECT part, count(*)::BIGINT AS tri FROM corners GROUP BY 1)
      |SELECT deg.part, d, COALESCE(tc.tri, 0)::BIGINT AS tri,
      |  round(2.0 * COALESCE(tc.tri, 0) / (d * (d - 1)), 6) AS lcc
      |FROM deg LEFT JOIN tc ON deg.part = tc.part
      |WHERE d >= 2
      |ORDER BY lcc DESC, d DESC, deg.part LIMIT 15""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("graph_clustering_coeff", clusteringCoeff, Some(clusteringCoeffSql)),
    QueryDef("graph_bfs_layers", bfsLayers, Some(bfsLayersSql)),
    QueryDef("graph_sssp_bounded", ssspBounded, Some(ssspBoundedSql)),
    QueryDef("graph_pagerank", pagerank, Some(pagerankSql)),
    QueryDef("parts_item_cf", itemCf, Some(itemCfSql)),
    QueryDef("graph_triangles", triangles, Some(trianglesSql)),
    QueryDef("graph_kcore", kcore, Some(kcoreSql)),
    QueryDef("graph_kcore_fixpoint", kcoreFixpoint, Some(kcoreFixpointSql)),
    QueryDef("suppliers_jaccard", suppliersJaccard, Some(suppliersJaccardSql)),
  )
}
