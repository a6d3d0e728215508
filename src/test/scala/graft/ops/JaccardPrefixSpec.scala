package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFns

class JaccardPrefixSpec extends SparkSpec {

  private def shingleRows(d: String) =
    spark.read.parquet(s"$d/documents.parquet")
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(graft.expressions.ShingleHashes(TextFns.tokens(col("text"))))).as("s"))

  test("prefix filtering is lossless: identical pairs to the catalog's inverted-index join") {
    for (d <- Seq(sf("sf0.001"), sf("sf0.01"))) {
      val viaCatalog = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaPrefix = JaccardPrefix.nearDupPairs(shingleRows(d), "doc_id", "s", 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaPrefix == viaCatalog,
        s"$d: missing=${(viaCatalog -- viaPrefix).size} extra=${(viaPrefix -- viaCatalog).size}")
    }
  }

  /** 3000 docs, each with ~30 unique shingles, plus ONE shingle present in
    * all of them (boilerplate header). The inverted-index join would emit
    * C(3000,2) ≈ 4.5M rows for that shingle alone (≈45x the corpus's total
    * shingle rows, growing quadratically with corpus size); the prefix index
    * sorts it last (df = 3000) so it never generates a candidate. True
    * near-dup pairs: docs 3i and 3i+1 share 29 of 31 shingles (J ≈ 0.88).
    */
  private def hostileCorpus = {
    import spark.implicits._
    (0 until 3000).flatMap { i =>
      val base = (0 until 30).map(j => (i / 3 * 1000 + j).toLong) // trio shares a base pool
      val mine =
        if (i % 3 == 2) (0 until 30).map(j => (10000000L + i * 100 + j)) // unrelated doc, disjoint id space
        else base.drop(1) :+ (800000L + i) // near-dup twins differ in 2 shingles
      mine.map(s => (i.toLong, s)) :+ ((i.toLong, 424242L)) // the hot shingle
    }.toDF("doc_id", "s").distinct()
  }
  private val hostileExpected = (0 until 1000).map(t => (3L * t, 3L * t + 1)).toSet

  test("hot shingle shared by EVERY document: candidate volume stays linear, answer exact") {
    val pairs = JaccardPrefix.nearDupPairs(hostileCorpus, "doc_id", "s", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == hostileExpected,
      s"missing=${(hostileExpected -- pairs).size} extra=${(pairs -- hostileExpected).size}")
  }

  test("auto-select: hostile corpus routes through the prefix path, benign through the inverted index") {
    // benign: 50-doc real corpus — no shingle df can reach the hot cutoff
    val (benignPairs, benignDec) = JaccardPrefix.nearDupPairsAutoChosen(
      shingleRows(sf("sf0.001")), "doc_id", "s", 0.6, hotDf = 256L, localVolume = 0L)
    assert(!benignDec.prefixPath, "benign corpus took the prefix path")
    assert(benignDec.maxDf > 0 && benignDec.maxDf <= 256L)
    // the decision is recorded as a diagnostic metric (tools.Dev prints it)
    assert(JaccardPrefix.lastDecision.contains(benignDec))
    val viaPrefix = JaccardPrefix.nearDupPairs(shingleRows(sf("sf0.001")), "doc_id", "s", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(benignPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == viaPrefix)
    // hostile: the 424242 boilerplate shingle has df=3000 > 256 → prefix path,
    // same exact answer (the guard is performance-only, lossless either way)
    val (hotPairs, hotDec) = JaccardPrefix.nearDupPairsAutoChosen(
      hostileCorpus, "doc_id", "s", 0.6, hotDf = 256L, localVolume = 0L)
    assert(hotDec.prefixPath, "hostile corpus took the inverted-index path")
    assert(hotDec.maxDf == 3000L, s"expected the boilerplate shingle's df, got ${hotDec.maxDf}")
    assert(JaccardPrefix.lastDecision.contains(hotDec))
    assert(hotPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == hostileExpected)
  }

  /** The cutoff is load-bearing: corpora whose hottest shingle sits AT the
    * boundary (df = hotDf → inverted index) and one past it (df = hotDf+1 →
    * prefix) must route as documented and produce identical pairs — the
    * auto-select is a pure performance decision even one df either side of
    * the line. 300 trio-structured docs; the boilerplate shingle is injected
    * into exactly `hotCount` of them.
    */
  private def boundaryCorpus(hotCount: Int) = {
    import spark.implicits._
    (0 until 300).flatMap { i =>
      val base = (0 until 30).map(j => (i / 3 * 1000 + j).toLong)
      val mine =
        if (i % 3 == 2) (0 until 30).map(j => 10000000L + i * 100 + j)
        else base.drop(1) :+ (800000L + i)
      val withHot = if (i < hotCount) mine :+ 424242L else mine
      withHot.map(s => (i.toLong, s))
    }.toDF("doc_id", "s").distinct()
  }

  /** Cross (batch×corpus) hostile case: 1200 corpus docs, EVERY one carrying
    * the universal boilerplate shingle 424242; 300 batch docs, each also
    * carrying it. The inverted cross join would emit 1200 rows for that
    * shingle per batch doc (360k rows, growing as |batch|×|corpus|); under
    * the (corpus-df, shingle) prefix order it sorts last and never enters a
    * prefix. Even batch docs are near-dups of their target corpus trio
    * (share 29 of 30 base shingles + the hot one, J = 30/32 ≈ 0.94); odd
    * batch docs are disjoint except the hot shingle (J ≈ 1/61). Expected
    * pairs come from an exact driver-side brute force over the small sets —
    * ground truth, not a second Spark shape.
    */
  private def crossCorpusAndBatch = {
    val corpus = (0 until 1200).map { i =>
      val base = (0 until 30).map(j => (i / 3 * 1000 + j).toLong)
      val mine =
        if (i % 3 == 2) (0 until 30).map(j => 10000000L + i * 100 + j)
        else base.drop(1) :+ (800000L + i)
      (i.toLong, (mine :+ 424242L).toSet)
    }
    val batch = (0 until 300).map { k =>
      val mine =
        if (k % 2 == 0) (0 until 30).map(j => (k / 3 * 1000 + j).toLong).drop(1) :+ (900000L + k)
        else (0 until 30).map(j => 20000000L + k * 100 + j.toLong)
      (100000L + k, (mine :+ 424242L).toSet)
    }
    (corpus, batch)
  }

  private def bruteForceCross(batch: Seq[(Long, Set[Long])],
      corpus: Seq[(Long, Set[Long])], tau: Double): Set[(Long, Long)] =
    (for {
      (bid, bs) <- batch; (cid, cs) <- corpus
      c = (bs & cs).size
      if c.toDouble / (bs.size + cs.size - c).toDouble >= tau
    } yield (bid, cid)).toSet

  private def toSetsDf(rows: Seq[(Long, Set[Long])]) = {
    import spark.implicits._
    rows.map { case (id, s) => (id, s.toSeq) }.toDF("doc_id", "hs")
  }

  test("cross join: universal corpus shingle routes to the prefix path, answer exactly matches brute force") {
    val (corpus, batch) = crossCorpusAndBatch
    val expected = bruteForceCross(batch, corpus, 0.6)
    // 150 even batch docs × their 2 corpus trio twins
    assert(expected.size == 300, s"test corpus degenerate: ${expected.size} expected pairs")
    val (pairs, dec) = JaccardPrefix.crossPairsAutoSetsChosen(
      toSetsDf(batch), toSetsDf(corpus), "doc_id", "hs", 0.6, hotDf = 256L)
    assert(dec.prefixPath, "universal-shingle corpus took the inverted path")
    assert(dec.maxDf == 1200L, s"expected the boilerplate shingle's corpus df, got ${dec.maxDf}")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).size} extra=${(got -- expected).size}")
  }

  test("cross join: both shapes are lossless vs brute force; benign corpus takes the inverted index") {
    val (corpus, batch) = crossCorpusAndBatch
    // benign: strip the universal shingle (max corpus df = 2, the trio twins)
    val corpusB = corpus.map { case (id, s) => (id, s - 424242L) }
    val batchB = batch.map { case (id, s) => (id, s - 424242L) }
    val expectedB = bruteForceCross(batchB, corpusB, 0.6)
    val (invPairs, invDec) = JaccardPrefix.crossPairsAutoSetsChosen(
      toSetsDf(batchB), toSetsDf(corpusB), "doc_id", "hs", 0.6, hotDf = 256L)
    assert(!invDec.prefixPath, s"benign corpus (maxDf=${invDec.maxDf}) took the prefix path")
    assert(invPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expectedB)
    // force the INVERTED path on the hostile (universal-shingle) corpus: same
    // brute-force answer as the prefix path took in the previous test — the
    // two shapes agree on identical input, so the guard is purely performance
    val (hotInv, hotInvDec) = JaccardPrefix.crossPairsAutoSetsChosen(
      toSetsDf(batch), toSetsDf(corpus), "doc_id", "hs", 0.6, hotDf = 100000L)
    assert(!hotInvDec.prefixPath && hotInvDec.maxDf == 1200L)
    assert(hotInv.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      bruteForceCross(batch, corpus, 0.6))
  }

  test("hotShingleDf boundary: df at and one past the cutoff route correctly, answers identical") {
    val cutoff = graft.api.Dedup.hotShingleDf // the production constant (256)
    for (df <- Seq(cutoff, cutoff + 1)) {
      val corpus = boundaryCorpus(df.toInt)
      val (auto, dec) = JaccardPrefix.nearDupPairsAutoChosen(corpus, "doc_id", "s", 0.6, cutoff,
        localVolume = 0L)
      assert(dec.maxDf == df, s"expected maxDf=$df, measured ${dec.maxDf}")
      assert(dec.prefixPath == (df > cutoff),
        s"df=$df (cutoff $cutoff) routed to ${dec.pathName}")
      val autoSet = auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prefixSet = JaccardPrefix.nearDupPairs(corpus, "doc_id", "s", 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(autoSet == prefixSet,
        s"df=$df: paths disagree, missing=${(prefixSet -- autoSet).size} extra=${(autoSet -- prefixSet).size}")
    }
  }

  private def driverBuilt(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Both routes of the self-join over the same sets: rows, schema and the
    * recorded decision. Returns whether the default call took the driver. */
  private def bothRoutes(sets: org.apache.spark.sql.DataFrame, tau: Double,
      hotDf: Long = graft.api.Dedup.hotShingleDf): Boolean = {
    val (got, dec) = JaccardPrefix.nearDupPairsAutoSetsChosen(sets, "doc_id", "hs", tau, hotDf)
    val (want, wantDec) = JaccardPrefix.nearDupPairsAutoSetsChosen(sets, "doc_id", "hs", tau,
      hotDf, localVolume = 0L)
    assert(got.schema == want.schema, s"${got.schema} vs ${want.schema}")
    val (g, w) = (got.collect().toSet, want.collect().toSet)
    assert(g == w, s"tau=$tau: missing=${w -- g} extra=${g -- w}")
    assert(dec == wantDec)
    driverBuilt(got)
  }

  test("driver route equals the distributed shapes on random corpora (property)") {
    import spark.implicits._
    val corpusGen = for {
      n <- org.scalacheck.Gen.choose(2, 40)
      docs <- org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.choose(0, 12).flatMap(k =>
        org.scalacheck.Gen.listOfN(k, org.scalacheck.Gen.choose(0L, 30L)).map(_.distinct)))
    } yield docs.zipWithIndex.map { case (hs, i) => (i * 7L % 101, hs) }
    val cases = (0 until 6).flatMap(i => corpusGen.apply(
      org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(300L + i)))
    assert(cases.nonEmpty)
    for ((docs, k) <- cases.zipWithIndex; tau <- Seq(0.3, 0.6, 0.9)) {
      // a hotDf of 4 sends the denser corpora down the prefix decision too
      assert(bothRoutes(docs.toDF("doc_id", "hs"), tau, if (k % 2 == 0) 4L else 256L))
    }
    // int ids and int shingles, an empty set, and the empty corpus
    assert(bothRoutes(Seq((1, Seq(1, 2, 3)), (2, Seq(1, 2, 4)), (3, Seq.empty[Int]))
      .toDF("doc_id", "hs"), 0.4))
    assert(bothRoutes(Seq.empty[(Long, Seq[Long])].toDF("doc_id", "hs"), 0.6))
    // the real corpus
    val real = graft.api.Dedup.shingleSets(
      spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"), "doc_id", "text")
    assert(bothRoutes(real, 0.6))
  }

  test("driver route falls back: duplicate, null or string ids, null shingles, hot corpus, too many pairs") {
    import spark.implicits._
    val dupIds = Seq((1L, Seq(1L, 2L, 3L)), (1L, Seq(1L, 2L, 4L)), (2L, Seq(1L, 2L, 3L)))
    val nullId = Seq((Some(1L), Seq(1L, 2L, 3L)), (None, Seq(1L, 2L, 3L)), (Some(3L), Seq(1L, 2L)))
    val nullShingle = Seq((1L, Seq[java.lang.Long](1L, 2L, null)), (2L, Seq[java.lang.Long](1L, 2L)))
    val repeated = Seq((1L, Seq(1L, 1L, 2L)), (2L, Seq(1L, 2L)))
    val stringIds = Seq(("a", Seq(1L, 2L, 3L)), ("b", Seq(1L, 2L, 4L)))
    for (sets <- Seq(dupIds.toDF("doc_id", "hs"), nullId.toDF("doc_id", "hs"),
        stringIds.toDF("doc_id", "hs"),
        nullShingle.toDF("doc_id", "hs"), repeated.toDF("doc_id", "hs")))
      assert(!bothRoutes(sets, 0.5), s"driver route taken on ${sets.collect().toSeq}")
    // 15,000 docs under one universal shingle: Σ C(df, 2) ≈ 1.1·10⁸ is past
    // the candidate guard, though the 45,000 shingles fit the volume bound
    val hot = (0 until 15000).map(i => (i.toLong, Seq(424242L, 2L * i + 1000000L,
      if (i % 2 == 0) 2L * i + 1000001L else 2L * i + 999999L))).toDF("doc_id", "hs")
    assert(15000L * 14999 / 2 > JaccardPrefix.LocalCandidates)
    // consecutive docs 2k, 2k+1 share 2 of 4 shingles: J = 0.5
    assert(!bothRoutes(hot, 0.5), "driver route taken past the candidate guard")
    assert(JaccardPrefix.lastDecision.exists(d => d.prefixPath && d.maxDf == 15000L))
    // every pair of 500 docs sharing their only shingle has J = 1: the
    // 1,000 ids + shingles and 124,750 candidates fit the other bounds
    val n = 500L
    assert(2 * n <= JaccardPrefix.LocalVolume && n * (n - 1) / 2 <= JaccardPrefix.LocalCandidates)
    assert(n * (n - 1) / 2 > JaccardPrefix.LocalPairs)
    val identical = spark.range(n).select(col("id").as("doc_id"), array(lit(7L)).as("hs"))
    assert(!bothRoutes(identical, 0.6), "driver route taken past the pair bound")
  }

  test("the sf0.001 corpus pairs in at most 2 Spark jobs") {
    val sets = graft.api.Dedup.shingleSets(
      spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"), "doc_id", "text")
    val (tau, hotDf) = (graft.api.Dedup.jaccardTau, graft.api.Dedup.hotShingleDf)
    val (got, jobs) = withJobCount(
      JaccardPrefix.nearDupPairsAutoSets(sets, "doc_id", "hs", tau, hotDf).collect().toSet)
    assert(jobs <= 2, s"$jobs Spark jobs")
    assert(got == JaccardPrefix.nearDupPairsAutoSetsChosen(sets, "doc_id", "hs", tau, hotDf,
      localVolume = 0L)._1.collect().toSet)
  }
}
