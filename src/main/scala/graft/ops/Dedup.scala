package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines: exact,
  * fingerprint, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: exact/fingerprint dedup group on a hash of the
  * content, never shuffling full text as the key. Near-dup candidate
  * generation is LSH-banded — work is linear in corpus size plus the
  * (small) intra-bucket pair blowup, never all-pairs. All-pairs
  * verification only ever runs on LSH candidates or inside explicit
  * blocking keys.
  */
object Dedup {

  // ---- exact / fingerprint ----------------------------------------------

  /** Exact-dup groups keyed by full content; returns one row per
    * distinct text with the surviving (min) doc id and group size.
    * At 100 TB, group by `fingerprint128` instead of raw text — same
    * plan shape with a 16-byte shuffle key.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .drop(textCol)

  def fingerprintGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))

  /** Incremental-ingest dedup: collapse `batch` to one row per
    * fingerprint (lowest id survives), then anti-join fingerprints
    * already present in `index`. Text never shuffles — the batch
    * groups on its md5 and the index contributes only a fingerprint
    * column; with the index stored fingerprint-keyed (e.g. a bucketed
    * MergeTable) the anti-join co-locates without a new shuffle.
    */
  def incrementalKeep(batch: DataFrame, index: DataFrame,
                      idCol: String, textCol: String): DataFrame =
    incrementalKeepFps(batch, index.select(md5(col(textCol)).as("fp")),
      idCol, textCol)

  /** [[incrementalKeep]] against an index that is already a
    * fingerprint column (e.g. a fingerprint-keyed MergeTable store
    * maintained across ingest batches). */
  def incrementalKeepFps(batch: DataFrame, indexFps: DataFrame,
                         idCol: String, textCol: String): DataFrame =
    batch
      .groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"))
      .join(indexFps.select("fp"), Seq("fp"), "left_anti")
      .select(col("keep_id"), col("fp"))

  // ---- bloom prefilter ---------------------------------------------------

  /** Probes per fingerprint in [[bloomPrefilter]]. */
  val BloomProbes = 4

  private def bloomPos(fp: Column, i: Int, bits: Long): Column =
    conv(substring(md5(concat(lit(s"bloom$i"), fp)), 1, 6), 16, 10)
      .cast("long") % bits

  /** Broadcast bloom prefilter for incremental dedup: classify each
    * batch row as `new` (bloom miss — definitely not in the index),
    * `dup` (bloom hit, confirmed by the exact join) or
    * `false_positive` (bloom hit, refuted).
    *
    * The scale shape this buys: the bloom table is FIXED SIZE
    * (`lanes` longs) whatever the index cardinality, built by a
    * shuffle-free per-partition fold ([[bloomAddFps]]) and probed by
    * one codegen kernel — so the expensive exact join against the
    * 10^9-row historical index runs only for the maybe-duplicate
    * sliver of the batch, and the definitely-new majority never
    * shuffles at all. Every hash is a salted md5 prefix, so bloom
    * bits — and therefore every status — are a pure function of the
    * input set, reproducible cross-engine.
    */
  def bloomPrefilter(batch: DataFrame, index: DataFrame,
                     idCol: String, textCol: String, lanes: Int = 1024): DataFrame = {
    val histFps = index.select(md5(col(textCol)).as("fp")).distinct()
    val laneBits = new Array[Long](lanes)
    bloomAddFps(laneBits, histFps)
    val flagged =
      bloomMark(batch.select(col(idCol), md5(col(textCol)).as("fp")), laneBits)
    // only the maybe rows pay the exact-index join
    val maybes = flagged.filter(col("_maybe"))
      .join(histFps.select(col("fp"), lit(1L).as("_hit")), Seq("fp"), "left")
      .select(col(idCol),
        when(col("_hit").isNotNull, "dup").otherwise("false_positive").as("status"))
    val news = flagged.filter(!col("_maybe"))
      .select(col(idCol), lit("new").as("status"))
    maybes.unionByName(news)
  }

  /** OR the probe bits of every fingerprint in `fps` (a frame with an
    * `fp` column) into `acc`: each partition folds its rows into a
    * LOCAL lane array ([[graft.functions.GraftBloomHit.add]] — md5
    * positions byte-identical to the SQL derivation the oracle
    * replays) and the driver ORs the per-partition arrays — O(lanes)
    * bytes per partition whatever the fingerprint cardinality, no
    * shuffle at all (the explode+groupBy formulation shuffled
    * probes·rows rows per fold). Callers that maintain a long-lived
    * bloom (e.g. a streaming dedup index) fold each batch's accepted
    * fingerprints in with this.
    */
  def bloomAddFps(acc: Array[Long], fps: DataFrame): Unit = {
    val lanes = acc.length
    // toRdd: InternalRow straight off the scan — no Row conversion;
    // the UTF8String may point into a reused buffer, but add() reads
    // its bytes before the next row
    val folded = fps.filter(col("fp").isNotNull)
      .select(col("fp").cast("string")).queryExecution.toRdd
      .mapPartitions { it =>
        val local = new Array[Long](lanes)
        it.foreach(r =>
          if (!r.isNullAt(0)) graft.functions.GraftBloomHit.add(r.getUTF8String(0), local))
        Iterator.single(local)
      }
      .fold(new Array[Long](lanes)) { (a, b) =>
        var i = 0; while (i < lanes) { a(i) |= b(i); i += 1 }; a
      }
    var i = 0
    while (i < lanes) { acc(i) |= folded(i); i += 1 }
  }

  /** Append a `_maybe` column to a frame carrying an `fp` column: true
    * iff every probe bit is set in `laneBits` — the conservative
    * membership test, compiled as one codegen kernel holding the lane
    * array as a reference object (NEVER a plan literal — see
    * [[graft.functions.GraftBloomHit]]). False positives possible;
    * false negatives impossible for any fingerprint previously folded
    * into `laneBits` via [[bloomAddFps]] with the same lane count.
    * A NULL fingerprint (null text) probes as null and classifies
    * "maybe", routing through the exact join instead of silently
    * dropping out of both filter branches.
    */
  def bloomMark(withFp: DataFrame, laneBits: Array[Long]): DataFrame = {
    val packed = graft.functions.GraftBloomHit.packLanes(laneBits)
    withFp.withColumn("_maybe",
      coalesce(call_function("graft_bloom_hit", col("fp"), lit(packed)), lit(true)))
  }

  // ---- shingling ---------------------------------------------------------

  /** Distinct word k-shingles as strings (lowercased alpha words). */
  def wordShingles(text: Column, k: Int): Column = {
    val ws = TextAnalysis.words(text)
    when(size(ws) >= k,
      array_distinct(transform(sequence(lit(1), size(ws) - (k - 1)), i =>
        concat_ws(" ", (0 until k).map(j => element_at(ws, i + j)): _*))))
      .otherwise(array(concat_ws(" ", ws)))
  }

  // ---- MinHash + banded LSH ---------------------------------------------

  /** 64 universal-hash permutations over Mersenne prime 2^31-1.
    * Constants are fixed (seeded LCG) so signatures are reproducible
    * across runs and engines.
    */
  val NumPerms = 64
  val LshBands = 16 // 16 bands x 4 rows
  val MinhashPrime = 2147483647L // 2^31 - 1 (Mersenne)
  private val MersennePrime = MinhashPrime
  val (permA, permB): (Array[Long], Array[Long]) = {
    var state = 42L
    def next(): Long = { state = (state * 6364136223846793005L + 1442695040888963407L); (state >>> 33) % (MersennePrime - 1) + 1 }
    (Array.fill(NumPerms)(next()), Array.fill(NumPerms)(next()))
  }

  /** MinHash signature (array of 64 longs) from a shingle-string
    * array. Shingles are hashed to 31-bit values (xxhash64 mod p),
    * then the signature minima are computed by the codegen'd
    * [[graft.functions.MinHashSignature]] expression — a compiled
    * perms × shingles loop. The interpreted higher-order formulation
    * of the same computation was ~100× slower and dominated the whole
    * dedup pipeline.
    */
  def minhashSignature(spark: org.apache.spark.sql.SparkSession, shingles: Column): Column = {
    graft.functions.GraftFunctions.register(spark)
    val hashed = transform(shingles, s => pmod(xxhash64(s), lit(MersennePrime)))
    call_function("graft_minhash", hashed)
  }

  /** Banded LSH bucket keys: one key per band — a polynomial fold of
    * the band's signature slice seeded by the band index. Docs
    * sharing ANY band key become candidate pairs. Portable (integer
    * arithmetic only), so the oracle reproduces every bucket —
    * unlike an xxhash64 of the slice, which only Spark can compute.
    */
  def lshBandKeys(signature: Column): Column = {
    val rows = NumPerms / LshBands
    transform(sequence(lit(0), lit(LshBands - 1)), b =>
      (0 until rows).foldLeft(b.cast("long")) { (acc, j) =>
        (acc * 31 + element_at(signature, b * rows + j + 1)) % BandKeyPrime
      })
  }

  /** Band-fold modulus: acc < 2^30, sig values < 2^31, so every
    * intermediate stays far below 2^63 in both engines.
    */
  val BandKeyPrime = 1000000007L

  /** Candidate near-dup pairs via banded LSH, scored by signature
    * agreement (estimated Jaccard), thresholded. Built on
    * [[minhashAgreements]] — ONE copy of the candidate-generation
    * chain keeps the DuckDB `scored` oracle CTEs single-sourced.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(shingleK == 3, "registered graft_minhash_words is fixed at k=3")
    minhashAgreements(docs, idCol, textCol)
      .withColumn("est_jaccard", col("agree").cast("double") / NumPerms)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Every LSH candidate pair with its RAW signature agreement
    * (0..NumPerms matching minima) — the shared candidate-generation
    * chain under [[minhashCandidates]], the threshold curve, and the
    * exact-verify gate. The full candidate set is already LSH-bounded
    * (only same-band pairs exist), so "no threshold" is still nowhere
    * near all-pairs.
    */
  def minhashAgreements(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // cache: the signature subtree feeds both sides of the self-join,
    // and signatures are tiny (64 longs/doc) relative to their compute.
    // Cache the PRE-explode signatures — caching the exploded
    // buckets would copy every signature array 16x (once per band);
    // the per-side posexplode over cached rows is trivial to recompute.
    // Filled up front in one job: left lazy, each side of the self-join
    // is a cache stage of its own, and AQE fills the cache with two jobs
    val (sigs, _) = graft.Caches.materialize(docs
      .select(col(idCol).as("doc_id"),
        call_function("graft_minhash_words", TextAnalysis.words(col(textCol))).as("sig")),
      count(lit(1)))
    val buckets = sigs
      .select(col("doc_id"), col("sig"), posexplode(lshBandKeys(col("sig"))).as(Seq("band", "key")))
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      // agreement is computed BEFORE the cross-band dedup: it is a
      // pure function of the pair, so every banded copy carries the
      // same value — and the dedup exchange then moves 3 longs per
      // candidate instead of two full 64-long signatures (§2.3:
      // shuffle metadata, not payloads)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        call_function("graft_sig_agreement", col("a.sig"), col("b.sig")).as("agree"))
      .dropDuplicates("doc_a", "doc_b")
  }

  // ---- transitive dup clusters ------------------------------------------

  /** Recursive-CTE half of the cross-engine component oracle: the
    * closure over a pair CTE named `p(doc_a, doc_b)`. Paste after
    * `WITH RECURSIVE <pair ctes>,` and finish with
    * [[componentSelectSql]] — ONE copy of the min-label closure for
    * every cluster oracle (minhash, simhash, phash), so a semantics
    * change cannot silently diverge them.
    */
  val componentClosureSql: String =
    """edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM p
      |  UNION ALL SELECT doc_b, doc_a FROM p),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, comp) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)""".stripMargin

  val componentSelectSql: String =
    """SELECT id AS doc_id, min(comp) AS cluster
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Connected components over a candidate-pair edge list (columns
    * doc_a, doc_b): iterative min-label propagation — each node
    * repeatedly adopts the smallest label among itself and its
    * neighbors until a fixpoint. Iteration count is bounded by the
    * component diameter (near-dup clusters are shallow), each round is
    * one join + one aggregation on the edge list only, and results are
    * deterministic (cluster id = min doc id in the component).
    *
    * This is what turns pairwise near-dup evidence into dedup
    * decisions: keep one doc per cluster, drop the rest.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // checkpoint the INPUT first: the candidate-pair derivation feeding
    // this is usually the expensive stage (banded self-join), and the
    // symmetrization below scans it twice
    val e0 = edges.localCheckpoint(true)
    // localCheckpoint (not cache): iterative self-referencing plans
    // grow exponentially unless the lineage is truncated each round
    val sym = e0.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(e0.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = sym.join(labels, sym("dst") === labels("id"))
        .select(col("src").as("id"), col("comp"))
      val next = labels.unionByName(viaNeighbors)
        .groupBy("id").agg(min("comp").as("comp")).localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("comp", "prev"), "id")
        .filter(col("comp") =!= col("prev")).isEmpty
      labels = next
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("comp").as("cluster"))
  }

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale path for [[connectedComponents]]:
    * label propagation needs DIAMETER rounds (a 10k-link chain of
    * near-dups at 100 TB = 10k shuffles), star contraction provably
    * converges in O(log²) — in practice a handful — of rounds on the
    * same one-join-one-aggregation per round budget.
    *
    *  - large-star: every node's strictly-LARGER neighbors reconnect
    *    to the minimum of its neighborhood (incl. itself);
    *  - small-star: every node's smaller-or-equal neighbors (and the
    *    node) reconnect to that minimum.
    *
    * The fixpoint is a star forest — every node directly attached to
    * its component's minimum id — so labels read straight off the
    * final edges. Output contract identical to
    * [[connectedComponents]]: (doc_id, cluster = component min), one
    * row per node appearing in the input edge list.
    */
  def connectedComponentsLSS(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    import org.apache.spark.sql.functions.{greatest, least}
    // checkpoint the INPUT once: allNodes and the canonical edge set
    // below would otherwise each re-run the (expensive) candidate-pair
    // derivation — three evaluations of the banded self-join
    val e0 = edges.localCheckpoint(true)
    val allNodes = e0.select(col("doc_a").as("id"))
      .union(e0.select(col("doc_b").as("id"))).distinct().localCheckpoint(true)
    // canonical undirected form: (lo < hi), self-loops dropped
    var e = e0
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct().localCheckpoint(true)

    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("lo").as("u"), col("hi").as("v"))
        .union(cur.select(col("hi").as("u"), col("lo").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi")).distinct()
    }
    def smallStar(cur: DataFrame): DataFrame = {
      // per hub (hi), attach the hub and its smaller neighbors to the
      // neighborhood minimum; m < lo by construction so output stays
      // canonical
      val m = cur.groupBy("hi").agg(min("lo").as("m"))
      cur.join(m, "hi").filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .union(m.select(col("m").as("lo"), col("hi")))
        .distinct()
    }

    // fixpoint = the edge SET is stable (a star forest maps to itself
    // under both rounds), detected by an order-independent checksum —
    // (row count, XOR of per-edge 64-bit hashes) — one O(1)-output
    // aggregation over the frame the round just checkpointed, instead
    // of two anti-joins (each a full extra shuffle per round at
    // 100 TB). Two DIFFERENT canonical edge sets colliding on both
    // count and xor is a ~2^-64 event, and even then the min-per-id
    // label read below keeps the output well-formed.
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = checksum(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val nextSig = checksum(next)
      converged = nextSig == sig
      sig = nextSig
      e = next
      i += 1
    }
    // a non-converged edge set would read off WRONG labels (a node
    // still attached to several hubs) — refuse loudly, never silently
    require(converged,
      s"connectedComponentsLSS did not reach the star-forest fixpoint in $maxIter rounds")
    allNodes
      .join(e.groupBy(col("hi").as("id")).agg(min("lo").as("comp")),
        Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("comp"), col("id")).as("cluster"))
  }

  // ---- SimHash -----------------------------------------------------------

  /** 62-bit SimHash over word unigrams (occurrence-weighted), one
    * codegen pass per row ([[graft.functions.SimHash64]]) — a pure
    * map over the corpus, no explode/shuffle/64-column aggregation
    * (the previous formulation shuffled every word occurrence).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
      call_function("graft_simhash", TextAnalysis.words(col(textCol))).as("simhash"))
  }

  /** SimHash near-dup candidate pairs, hamming-bucketed: the 62-bit
    * signature is banded into 4×16-bit keys; docs sharing ANY band
    * key become candidates (pigeonhole: every pair at hamming ≤ 3
    * differs in at most 3 of 4 bands, so it shares at least one),
    * then candidates are kept at exact `bit_count(xor) <= tau`.
    * Work is linear in corpus size plus intra-bucket pairs — the
    * same banded-LSH shape as minhash, never all-pairs.
    */
  /** One hash table per 16-bit band of a (doc_id, simhash) frame —
    * the SINGLE definition of the 4×16 banding both simhashPairs and
    * incrementalNearDup candidate-join on (pigeonhole: lossless for
    * hamming ≤ 3, which [[requireBandedTau]] enforces).
    */
  private def simhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "key")))

  private def requireBandedTau(tau: Int): Unit =
    require(tau <= 3, "4x16 banding only guarantees recall for hamming <= 3")

  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   tau: Int = 3): DataFrame = {
    requireBandedTau(tau)
    val sigs = graft.Caches.register(simhash(docs, idCol, textCol))
    val banded = simhashBands(sigs)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // τ-filter BEFORE the cross-band dedup: hamming is a pure
      // function of the pair, so every banded copy passes or fails
      // together — filtering first cuts the dropDuplicates exchange
      // from all intra-bucket candidates to just the near-dups
      // (measured sf0.1: 1.5M candidate rows → ~600 before the shuffle)
      .filter(col("hamming") <= tau)
      .dropDuplicates("doc_a", "doc_b") // a pair may share several bands
  }

  /** Continuous-ingest NEAR-dup: the [[incrementalKeep]] shape for
    * near-duplicates. The historical index holds one 62-bit SimHash
    * per document (16 bytes/doc — 10^9 docs index in ~16 GB); an
    * incoming batch drops a doc when its signature is within hamming
    * `tau` of ANY index signature, or of an EARLIER doc in the same
    * batch (smaller id wins, compared against all earlier batch docs
    * regardless of their own keep outcome — deterministic and
    * engine-reproducible, no iterative dependency).
    *
    * Candidates come from the 4×16-bit band join (lossless for
    * tau ≤ 3 by pigeonhole), so the work is linear in batch+index
    * size plus intra-bucket pairs, and full text never shuffles —
    * only (id, signature, band key) rows move.
    *
    * Returns one row per batch doc: its signature, the minimum
    * hamming to the index and to earlier batch docs (-1 = none within
    * tau), and the keep decision.
    */
  def incrementalNearDup(batch: DataFrame, indexSigs: DataFrame,
                         idCol: String, textCol: String, tau: Int = 3): DataFrame = {
    requireBandedTau(tau)
    val bs = graft.Caches.register(simhash(batch, idCol, textCol))
    val bBands = simhashBands(bs)
    val iBands = simhashBands(indexSigs.select(col(idCol).as("doc_id"), col("simhash")))
      .select(col("simhash").as("idx_sig"), col("band"), col("key"))
    val vsIndex = bBands.join(iBands, Seq("band", "key"))
      .select(col("doc_id"),
        bit_count(col("simhash").bitwiseXOR(col("idx_sig"))).as("h"))
      .filter(col("h") <= tau)
      .groupBy("doc_id").agg(min("h").as("index_hamming"))
    val within = bBands.as("a")
      .join(bBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .filter(col("h") <= tau)
      .groupBy("doc_id").agg(min("h").as("batch_hamming"))
    bs.join(vsIndex, Seq("doc_id"), "left")
      .join(within, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("index_hamming"), lit(-1)).cast("int").as("index_hamming"),
        coalesce(col("batch_hamming"), lit(-1)).cast("int").as("batch_hamming"),
        (col("index_hamming").isNull && col("batch_hamming").isNull).as("keep"))
  }

  // ---- n-gram Jaccard verification --------------------------------------

  /** Exact k-gram Jaccard for all qualifying pairs inside blocking
    * keys: shingle sets are hashed to longs and SORTED once per doc,
    * the blocked self-join then scores each pair with a codegen'd
    * two-pointer merge ([[graft.functions.SortedIntersectCount]]) —
    * O(|a|+|b|) primitive comparisons per pair, no per-pair hash sets.
    * (An inverted-index co-occurrence formulation is asymptotically
    * nicer on hapax-heavy natural text, but on small-vocabulary
    * corpora frequent shingles make its join quadratic; the sorted
    * merge is robust to both.)
    */
  def jaccardPairsBlocked(docs: DataFrame, idCol: String, textCol: String,
                          blockCol: String, maxCharDiff: Int, charsCol: String,
                          k: Int = 3, threshold: Double = 0.0): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    require(k == 3, "registered graft_word_trigrams is fixed at k=3")
    // shingle sets: compiled trigram build, hashed+sorted, cached once
    // (tiny: one long per distinct shingle) — both join sides and the
    // bucketed probe reuse it instead of recomputing the text pipeline
    val ws = TextAnalysis.words(col(textCol))
    val grams = when(size(ws) >= k, call_function("graft_word_trigrams", ws))
      .otherwise(array(concat_ws(" ", ws)))
    val sh = graft.Caches.register(
      docs.select(col(idCol).as("_id"), col(blockCol).as("_blk"), col(charsCol).as("_nc"),
          array_sort(array_distinct(transform(grams, s => xxhash64(s)))).as("_sh"))
        .withColumn("_size", size(col("_sh")))
        .withColumn("_bkt", floor(col("_nc") / maxCharDiff)))
    // equi-join includes a chars bucket so the |Δchars| window prunes
    // pairs inside the join key, not as a post-filter: the a-side
    // probes its own bucket and both neighbors
    val aSide = sh.withColumn("_jb", explode(array(col("_bkt") - 1, col("_bkt"), col("_bkt") + 1)))
    val pairs = aSide.as("a").join(sh.as("b"),
      col("a._jb") === col("b._bkt") &&
        col("a._blk") === col("b._blk") &&
        abs(col("a._nc") - col("b._nc")) <= maxCharDiff &&
        col("a._id") < col("b._id"))
    pairs
      .select(col("a._id").as("doc_a"), col("b._id").as("doc_b"),
        col("a._size").as("sa"), col("b._size").as("sb"),
        call_function("graft_sorted_intersect_count", col("a._sh"), col("b._sh")).as("inter_n"))
      .withColumn("union_n", col("sa") + col("sb") - col("inter_n"))
      .withColumn("jaccard", col("inter_n").cast("double") / col("union_n"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter_n", "union_n", "jaccard")
  }

  // ---- cross-document substring dedup ------------------------------------

  /** Per-document duplicated-substring statistics: every w-word window
    * is fingerprinted with a Rabin–Karp rolling hash (one compiled
    * O(tokens) pass per doc — [[graft.functions.WindowHashes]]), and a
    * window counts as duplicated when its hash also occurs in ANOTHER
    * document. This is the window-hash form of exact substring dedup
    * for training corpora (long shared spans — boilerplate, licenses,
    * mirrored articles — that document-level fingerprints miss because
    * the surrounding text differs).
    *
    * Scale shape: after the compiled hash pass, only (doc_id, hash)
    * longs ever shuffle — the aggregation is hash-keyed exactly like
    * fingerprint dedup, so work is proportional to token count at any
    * corpus size (the suffix-array formulations of substring dedup
    * don't distribute; window hashes are the shuffle-bounded
    * equivalent with resolution w).
    *
    * Returns one row per document with ≥ 1 window: total windows,
    * duplicated windows, and the dup flag.
    */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
                        w: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.functions.WindowHashes.P
    // per-word portable hash (md5-prefix mod P) so an independent
    // engine reproduces every window hash bit-for-bit
    val wordHashes = transform(TextAnalysis.words(col(textCol)),
      word => conv(substring(md5(word), 1, 12), 16, 10).cast("long") % P)
    val wh = graft.Caches.register(
      docs.select(col(idCol).as("_id"),
        explode(call_function("graft_window_hashes", wordHashes, lit(w))).as("_h")))
    // hashes present in >= 2 distinct docs; (doc, hash) longs only
    val shared = wh.distinct()
      .groupBy("_h").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > 1)
      .select("_h")
    val totals = wh.groupBy("_id").agg(count(lit(1)).as("n_windows"))
    val dups = wh.join(shared, "_h")
      .groupBy("_id").agg(count(lit(1)).as("_ndup"))
    totals.join(dups, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_windows"),
        coalesce(col("_ndup"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("_ndup"), lit(0L)) > 0).as("has_dup"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken's MOSS
    * algorithm): from the k-word Rabin–Karp window hashes, every
    * sliding window of `w` consecutive hashes contributes its MINIMUM
    * hash, and the distinct selected hashes are the document's
    * fingerprint set. The paper's guarantee carries over: any run of
    * at least `k + w − 1` shared words yields at least one shared
    * fingerprint, while the index shrinks by ~w× versus indexing
    * every window hash — the compression that makes substring-level
    * dedup indexes affordable at corpus scale (store fingerprints,
    * not windows). Selection is in-row column algebra (one
    * O(words·w) pass per doc, no shuffle until the fingerprint join);
    * after it, only (doc, fingerprint) longs move — identical shuffle
    * shape to [[substringDupStats]] at 1/w the volume.
    *
    * Returns one row per fingerprinted doc: raw window count,
    * fingerprint count (the ~w× compression is visible), fingerprints
    * shared with other docs, match flag, and an exact BIGINT checksum
    * of the fingerprint set (what an index shard would store).
    */
  def winnowingStats(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.functions.WindowHashes.P
    val wordHashes = transform(TextAnalysis.words(col(textCol)),
      word => conv(substring(md5(word), 1, 12), 16, 10).cast("long") % P)
    val hs = call_function("graft_window_hashes", wordHashes, lit(k))
    val fps = graft.Caches.register(docs
      .select(col(idCol).as("_id"), hs.as("_hs"))
      .filter(size(col("_hs")) >= w)
      .select(col("_id"), size(col("_hs")).cast("long").as("n_windows"),
        // compiled monotonic-deque selection: O(grams), not O(grams·w)
        // — and total on short inputs, which matters because the
        // optimizer's InferFiltersFromGenerate clones this projection
        // into a predicate evaluated BELOW the size filter
        call_function("graft_winnow", col("_hs"), lit(w)).as("_fps"))
      .select(col("_id"), col("n_windows"), explode(col("_fps")).as("_fp")))
    val shared = fps.groupBy("_fp").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > 1).select("_fp")
    val perDoc = fps.groupBy("_id", "n_windows").agg(
      count(lit(1)).as("n_fingerprints"),
      sum("_fp").as("fp_checksum"))
    val matched = fps.join(shared, "_fp")
      .groupBy("_id").agg(count(lit(1)).as("_nshared"))
    perDoc.join(matched, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_windows"), col("n_fingerprints"),
        coalesce(col("_nshared"), lit(0L)).as("n_shared_fp"),
        (coalesce(col("_nshared"), lit(0L)) > 0).as("has_match"),
        col("fp_checksum"))
  }

  /** Asymmetric containment pairs — the quote/subset case symmetric
    * Jaccard misses: a short document wholly embedded in a long one
    * scores containment(short→long) = 1.0 while its Jaccard stays
    * arbitrarily low. Candidates are pairs sharing at least one
    * w-word window hash (same compiled Rabin–Karp pass as
    * [[substringDupStats]]), with hashes shared by more than
    * `maxShare` documents dropped — the standard frequency cap that
    * keeps a boilerplate window (license text, nav chrome) from
    * exploding one bucket into |bucket|² candidate pairs at corpus
    * scale. Scoring is exact distinct word-k-gram containment in both
    * directions, intersection derived from set sizes over hashed
    * grams so only (id, grams-hash-array) rows join — never text.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       w: Int, k: Int = 3, tau: Double = 0.8,
                       maxShare: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.functions.WindowHashes.P
    val wordHashes = transform(TextAnalysis.words(col(textCol)),
      word => conv(substring(md5(word), 1, 12), 16, 10).cast("long") % P)
    val wh = graft.Caches.register(
      docs.select(col(idCol).as("_id"),
        explode(call_function("graft_window_hashes", wordHashes, lit(w))).as("_h"))
        .distinct())
    val usable = wh.groupBy("_h").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > 1 && col("_nd") <= maxShare)
      .select("_h")
    val hits = wh.join(usable, "_h")
    val pairs = hits.select(col("_h"), col("_id").as("doc_a"))
      .join(hits.select(col("_h"), col("_id").as("doc_b")), "_h")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // cached: sh attaches to BOTH pair sides — uncached, the shingle
    // derivation (and the docs transform feeding it) evaluates twice
    val sh = graft.Caches.register(docs.select(col(idCol).as("_id"),
      array_distinct(transform(wordShingles(col(textCol), k), s => xxhash64(s))).as("_sh")))
    pairs
      .join(sh.select(col("_id").as("doc_a"), col("_sh").as("sh_a")), "doc_a")
      .join(sh.select(col("_id").as("doc_b"), col("_sh").as("sh_b")), "doc_b")
      .withColumn("n_a", size(col("sh_a")))
      .withColumn("n_b", size(col("sh_b")))
      .withColumn("inter_n",
        col("n_a") + col("n_b") - size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("c_a", round(col("inter_n").cast("double") / col("n_a"), 6))
      .withColumn("c_b", round(col("inter_n").cast("double") / col("n_b"), 6))
      .filter(greatest(col("c_a"), col("c_b")) >= tau)
      .select("doc_a", "doc_b", "n_a", "n_b", "inter_n", "c_a", "c_b")
  }

  /** Exact word-k-gram Jaccard for a candidate pair set (columns
    * doc_a, doc_b) against the docs table. Distinct-shingle semantics
    * on both sides; inter/union derived from sizes so engines agree.
    * Use for small candidate sets (e.g. LSH output); use
    * [[jaccardPairsByIndex]] for whole-corpus pair generation.
    */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    // shingles are hashed to longs before the pair join: set sizes (and
    // therefore Jaccard) are preserved modulo xxhash64 collisions
    // (~n^2/2^64, negligible), and the per-pair union/intersect works
    // on 8-byte keys instead of full shingle strings
    // cached: attached to both pair sides (see containmentPairs)
    val sh = graft.Caches.register(docs.select(col(idCol).as("_id"),
      array_distinct(transform(wordShingles(col(textCol), k), s => xxhash64(s))).as("_sh")))
    pairs
      .join(sh.withColumnRenamed("_id", "doc_a").withColumnRenamed("_sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("_id", "doc_b").withColumnRenamed("_sh", "sh_b"), "doc_b")
      .withColumn("union_n", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("inter_n", size(col("sh_a")) + size(col("sh_b")) - col("union_n"))
      .withColumn("jaccard", col("inter_n").cast("double") / col("union_n"))
      .drop("sh_a", "sh_b")
  }
}
