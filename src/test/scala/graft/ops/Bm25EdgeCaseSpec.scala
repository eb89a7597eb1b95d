package graft.ops

import graft.{Caches, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import scala.math.BigDecimal.RoundingMode

/** docs_bm25_search on a corpus built to hit its edge cases: an empty
  * text, a null text, a document that repeats a query term, one with
  * no query term and an ordinary one. The result must equal a Scala
  * reference of the same formula: rational idf
  * (N - df + 0.5)/(df + 0.5), k1 = 1.2, b = 0.75, each per-term part
  * rounded to decimal(28,12) before the per-document sum. N and avgdl
  * count only documents with at least one token, so the empty and
  * the null document drop out of every statistic.
  */
class Bm25EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val corpus: Seq[(Long, Option[String])] = Seq(
    1L -> Some(""),
    2L -> None,
    3L -> Some("Vector vector, VECTOR search"),
    4L -> Some("plain words and nothing else here"),
    5L -> Some("a stream of hash values in a vector store"))

  private val terms = Seq("vector", "stream", "hash")

  private def reference: Seq[(Long, Double)] = {
    val toks = corpus.collect { case (id, Some(t)) =>
      id -> "[a-z]+".r.findAllIn(t.toLowerCase).toSeq
    }.filter(_._2.nonEmpty)
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val df = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    toks.flatMap { case (id, ws) =>
      val parts = terms.map(t => t -> ws.count(_ == t)).collect { case (t, tf) if tf > 0 =>
        val idf = (n - df(t) + 0.5) / (df(t) + 0.5)
        val norm = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (ws.size.toDouble / avgdl)))
        BigDecimal(idf * norm).setScale(12, RoundingMode.HALF_UP)
      }
      if (parts.isEmpty) None else Some(id -> parts.sum)
    }.sortBy { case (id, acc) => (-acc, id) }.take(10)
      .map { case (id, acc) => id -> BigDecimal(acc.toDouble).setScale(4, RoundingMode.HALF_UP).toDouble }
  }

  test("edge-case documents score exactly as a reference BM25") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_edges").toString
    corpus.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("docs_bm25_search")(spark, dir)
      .as[(Long, Double)].collect().toSeq
    Caches.clear()
    assert(got.map(_._1).toSet === Set(3L, 5L), "only the documents holding a query term score")
    assert(got === reference)
  }

  private def search(docs: Seq[(Long, Option[String])]): Seq[(Long, Double)] = {
    val dir = java.nio.file.Files.createTempDirectory("bm25_corpus").toString
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("docs_bm25_search")(spark, dir).as[(Long, Double)].collect().toSeq
    Caches.clear()
    got
  }

  test("an empty corpus has n_docs 0 and a null avgdl, and scores nothing") {
    val (_, stats) = Caches.materialize(
      SearchQueries.bm25PerDoc(Seq.empty[(Long, String)].toDF("doc_id", "text")),
      SearchQueries.bm25Stats.head, SearchQueries.bm25Stats.tail: _*)
    Caches.clear()
    assert(stats.getLong(0) === 0L)
    assert(stats.isNullAt(1), "avgdl over no documents")
    assert(search(Seq.empty) === Seq.empty)
    assert(search(Seq(1L -> Some(""), 2L -> None)) === Seq.empty, "only token-less documents")
  }

  test("a corpus with no query term scores nothing") {
    assert(search(Seq(1L -> Some("plain words"), 2L -> Some("nothing else here"))) === Seq.empty)
  }

  test("statistics as literals score bit for bit as the broadcast statistics row") {
    val vocab = Seq("vector", "stream", "hash", "plain", "words", "of", "a", "store")
    val rnd = new scala.util.Random(5150)
    for (round <- 1 to 4) {
      val docs = (1L to 60L).map { id =>
        val n = rnd.nextInt(12)
        id -> (if (n == 0 && rnd.nextBoolean()) None
          else Some(Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      }.toDF("doc_id", "text")
      val literal = SearchQueries.bm25Scored(docs)
        .as[(Long, java.math.BigDecimal)].collect().toMap
      // the same parts with the statistics as one broadcast row
      val perDoc = SearchQueries.bm25PerDoc(docs)
      val stats = perDoc.agg(SearchQueries.bm25Stats.head, SearchQueries.bm25Stats.tail: _*)
      val broadcastRow: DataFrame = perDoc
        .filter(col("tf_0") > 0 || col("tf_1") > 0 || col("tf_2") > 0)
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), SearchQueries.bm25Acc(col("n_docs"), col("avgdl"),
          Seq(col("df_0"), col("df_1"), col("df_2"))).as("acc"))
      val viaBroadcast = broadcastRow.as[(Long, java.math.BigDecimal)].collect().toMap
      Caches.clear()
      assert(literal.nonEmpty, s"round $round scores some document")
      assert(literal === viaBroadcast, s"round $round")
    }
  }
}
