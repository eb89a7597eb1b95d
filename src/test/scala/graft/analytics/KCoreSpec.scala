package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peel semantics (GraphQueries.peelCore): the property under
  * test is the CASCADE — removing a low-degree node can drop its
  * neighbors under k on the NEXT round, so a chain hanging off a
  * dense core dissolves one link per round while the core survives
  * with its internal degrees intact.
  */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  // symmetric (type-tagged) edge list from undirected pairs
  private def sym(pairs: Seq[(Long, Long)]): DataFrame =
    (pairs.map { case (u, v) => ("n", u, "n", v) } ++
      pairs.map { case (u, v) => ("n", v, "n", u) })
      .toDF("src_t", "src_id", "dst_t", "dst_id")

  // K4 on {1,2,3,4} (every node degree 3) + tail 4-5-6: node 6 has
  // degree 1, node 5 degree 2 — with k=2 the tail peels one link per
  // round (6 first, then 5) while the clique never drops a node
  private val clique = for {
    a <- 1L to 4L; b <- (a + 1) to 4L
  } yield (a, b)
  private val graph = sym(clique ++ Seq((4L, 5L), (5L, 6L)))

  private def survivors(rounds: Int): Set[Long] =
    GraphQueries.peelCore(graph, k = 2, rounds = rounds).edges
      .select(col("src_id")).distinct().as[Long].collect().toSet

  test("the peel cascades one chain link per round") {
    assert(survivors(1) === Set(1L, 2L, 3L, 4L, 5L), "round 1 drops only node 6")
    assert(survivors(2) === Set(1L, 2L, 3L, 4L), "round 2 drops node 5 (degree fell to 1)")
    assert(survivors(3) === Set(1L, 2L, 3L, 4L), "the 2-core is stable")
  }

  test("core degrees are the residual in-core degrees") {
    val deg = GraphQueries.peelCore(graph, k = 2, rounds = 3).edges
      .groupBy("src_id").agg(count(lit(1)).as("d"))
      .as[(Long, Long)].collect().toMap
    assert(deg === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "clique degrees exclude the peeled tail edge")
  }

  test("a graph below k everywhere peels to empty") {
    val path = sym(Seq((1L, 2L), (2L, 3L)))
    assert(GraphQueries.peelCore(path, k = 3, rounds = 2).edges.count() === 0L)
  }

  // K4 + a 6-link tail: the cascade needs SIX rounds to dissolve, so
  // a 3-round unroll under-peels and over-reports the core
  private val deepTail = sym(clique ++
    Seq((4L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L)))

  test("round-4+ cascades change the answer and the fixpoint catches them") {
    val unrolled = GraphQueries.peelCore(deepTail, k = 2, rounds = 3).edges
      .select(col("src_id")).distinct().as[Long].collect().toSet
    assert(unrolled === Set(1L, 2L, 3L, 4L, 10L, 11L, 12L),
      "3 rounds under-peel the deep tail")
    val fixed = GraphQueries.peelCoreFixpoint(deepTail, k = 2).edges
      .select(col("src_id")).distinct().as[Long].collect().toSet
    assert(fixed === Set(1L, 2L, 3L, 4L), "the true 2-core is the clique alone")
  }

  test("fixpoint refuses loudly when the cascade outruns the round cap") {
    val e = intercept[IllegalArgumentException] {
      GraphQueries.peelCoreFixpoint(deepTail, k = 2, maxRounds = 3)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("a cascade converging in exactly maxRounds peels converges (identity round is free)") {
    // the 6-link tail dissolves in exactly 6 strict peel rounds; the
    // convergence-detection round must not count against the cap, or
    // the cap would not match the oracle's unroll depth
    val fixed = GraphQueries.peelCoreFixpoint(deepTail, k = 2, maxRounds = 6).edges
      .select(col("src_id")).distinct().as[Long].collect().toSet
    assert(fixed === Set(1L, 2L, 3L, 4L))
  }

  test("fixpoint equals the unrolled peel once the unroll is deep enough") {
    val a = GraphQueries.peelCoreFixpoint(graph, k = 2).edges
      .groupBy("src_id").agg(count(lit(1)).as("d")).as[(Long, Long)].collect().toMap
    val b = GraphQueries.peelCore(graph, k = 2, rounds = 3).edges
      .groupBy("src_id").agg(count(lit(1)).as("d")).as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  // driver-side reference peel over Scala sets, one round per step
  private def refRound(e: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
    val alive = e.groupBy(_._1).collect { case (n, out) if out.size >= k => n }.toSet
    e.filter { case (u, v) => alive(u) && alive(v) }
  }

  private def edgeSet(df: DataFrame): Set[(Long, Long)] =
    df.select("src_id", "dst_id").as[(Long, Long)].collect().toSet

  // the same graph keyed by one long per node, packed as kcore packs a
  // supplier (2·id + 1), and its peeled edges decoded back to ids
  private def packed(g: DataFrame): DataFrame =
    g.select((col("src_id") * 2 + 1).as("src"), (col("dst_id") * 2 + 1).as("dst"))

  private def packedEdgeSet(df: DataFrame): Set[(Long, Long)] =
    df.select(shiftright(col("src"), 1), shiftright(col("dst"), 1)).as[(Long, Long)].collect().toSet

  test("seeded random graphs peel exactly as a reference peel, round for round") {
    // each graph runs twice: type-tagged and packed into one long per node
    val rnd = new scala.util.Random(4242)
    var deepest = 0
    for (k <- 2 to 4) {
      // a sparse random graph (mean degree near k) with a random tree
      // hanging off it, so cascades run several rounds deep
      val n = 40
      val core = for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < (k + 0.5) / n
      } yield (a, b)
      val tree = (n + 1 to n + 12).map(v => (rnd.nextInt(v - 1) + 1).toLong -> v.toLong)
      val pairs = (core ++ tree).distinct
      val g = sym(pairs)
      val p = packed(g)
      val ref = pairs.flatMap { case (u, v) => Seq(u -> v, v -> u) }.toSet
      val byRound = Iterator.iterate(ref)(refRound(_, k)).take(60).toVector
      for (r <- 1 to 6) {
        assert(edgeSet(GraphQueries.peelCore(g, k, r).edges) === byRound(r), s"k=$k rounds=$r")
        assert(packedEdgeSet(GraphQueries.peelCore(p, k, r).edges) === byRound(r),
          s"packed k=$k rounds=$r")
      }
      val depth = byRound.indices.find(i => byRound(i + 1) == byRound(i)).get
      deepest = deepest max depth
      assert(edgeSet(GraphQueries.peelCoreFixpoint(g, k).edges) === byRound(depth), s"k=$k fixpoint")
      assert(packedEdgeSet(GraphQueries.peelCoreFixpoint(p, k).edges) === byRound(depth),
        s"packed k=$k fixpoint")
      graft.Caches.clear()
    }
    assert(deepest > 3, "some graph must cascade past the 3-round unroll")
  }

  // a seeded random bipartite trade graph packed as tradeEdges packs it
  // (2·id for a customer, 2·id + 1 for a supplier), with a random tree
  // of customers hanging off it so some cascades run several rounds
  private def randomTrade(rnd: scala.util.Random, k: Int): Seq[(Long, Long)] = {
    val (cs, ss) = (40, 25)
    val core = for {
      c <- 1 to cs; s <- 1 to ss if rnd.nextDouble() < (k + 0.5) / ss
    } yield (2L * c, 2L * s + 1)
    val tree = (cs + 1 to cs + 10).map(c => (2L * c, 2L * (rnd.nextInt(ss) + 1) + 1))
    (core ++ tree).distinct.flatMap { case (u, v) => Seq(u -> v, v -> u) }
  }

  private def top20(df: DataFrame): Seq[(String, Long, Long)] =
    GraphQueries.coreTop20(df).as[(String, Long, Long)].collect().toSeq

  // the reference top-20 of a driver-side peel's edges
  private def refTop20(e: Set[(Long, Long)]): Seq[(String, Long, Long)] =
    e.groupBy(_._1).toSeq.map { case (n, out) =>
      (if (n % 2 == 0) "c" else "s", n >> 1, out.size.toLong)
    }.sortBy { case (t, id, d) => (-d, t, id) }.take(20)

  test("a converged peel's degree cache gives the edge path's top-20") {
    val rnd = new scala.util.Random(977)
    for (k <- 2 to 4; rounds <- Seq(3, 12)) {
      val edges = randomTrade(rnd, k)
      val g = edges.toDF("src", "dst")
      val ref = Iterator.iterate(edges.toSet)(refRound(_, k)).drop(rounds).next()
      val peeled = GraphQueries.peelCore(g, k, rounds)
      if (rounds == 12) assert(peeled.fixpointDegrees.isDefined, s"k=$k reaches the fixpoint")
      val viaDegrees = top20(peeled.coreDegrees)
      assert(viaDegrees === top20(GraphQueries.edgeDegrees(peeled.edges)), s"k=$k rounds=$rounds")
      assert(viaDegrees === refTop20(ref), s"k=$k rounds=$rounds")
      graft.Caches.clear()
    }
  }

  test("a peel that hits the round cap takes the edge path, and the fixpoint refuses it") {
    // K_{3,3} between customers 1-3 and suppliers 1-3 (every degree 3)
    // plus an alternating 6-link tail: with k = 2 it needs 6 rounds
    val core = for (c <- 1L to 3L; s <- 1L to 3L) yield (2 * c, 2 * s + 1)
    val tail = Seq(2L * 1 -> (2L * 10 + 1), (2L * 10 + 1) -> 2L * 11, 2L * 11 -> (2L * 11 + 1),
      (2L * 11 + 1) -> 2L * 12, 2L * 12 -> (2L * 12 + 1), (2L * 12 + 1) -> 2L * 13)
    val edges = (core ++ tail).flatMap { case (u, v) => Seq(u -> v, v -> u) }
    val g = edges.toDF("src", "dst")
    val peeled = GraphQueries.peelCore(g, 2, 3)
    assert(peeled.fixpointDegrees.isEmpty, "3 rounds do not reach the fixpoint")
    val ref = Iterator.iterate(edges.toSet)(refRound(_, 2)).drop(3).next()
    assert(top20(peeled.coreDegrees) === refTop20(ref))
    assert(ref.map(_._1).contains(2L * 11 + 1), "the under-peeled tail is still in the answer")
    val e = intercept[IllegalArgumentException](GraphQueries.peelCoreFixpoint(g, 2, maxRounds = 3))
    assert(e.getMessage.contains("fixpoint"))
    val core2 = Iterator.iterate(edges.toSet)(refRound(_, 2)).drop(6).next()
    assert(top20(GraphQueries.peelCoreFixpoint(g, 2, maxRounds = 6).coreDegrees) === refTop20(core2))
    graft.Caches.clear()
  }

  test("the peeled edges keep the edge list's co-partitioning") {
    val peeled = GraphQueries.peelCore(deepTail, k = 2, rounds = 3).edges
    assert(shuffles(peeled.groupBy("src_t", "src_id").count()) === 0,
      "a per-source aggregation over the peel needs no exchange")
    graft.Caches.clear()
  }

  // K4 + an n-link tail off node 4: with k=2 it dissolves one link a round
  private def longTail(links: Int): DataFrame =
    sym(clique ++ (4L +: (100L until 100L + links)).sliding(2).map(p => (p(0), p(1))))

  test("the peel's analyzed plan does not grow with the round count") {
    val g = longTail(40)
    def planNodes(rounds: Int): Int = {
      val n = GraphQueries.peelCore(g, k = 2, rounds).edges.queryExecution.analyzed
        .collect { case p => p }.size
      graft.Caches.clear()
      n
    }
    assert(planNodes(12) <= planNodes(3) + 2)
  }

  test("a 40-link tail reaches its fixpoint with maxRounds = 40") {
    val fixed = GraphQueries.peelCoreFixpoint(longTail(40), k = 2, maxRounds = 40).edges
      .select(col("src_id")).distinct().as[Long].collect().toSet
    graft.Caches.clear()
    assert(fixed === Set(1L, 2L, 3L, 4L))
  }
}
