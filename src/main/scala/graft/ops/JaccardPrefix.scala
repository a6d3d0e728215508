package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructType}
import org.slf4j.LoggerFactory

/** Prefix-filtered n-gram Jaccard self-join (Bayardo et al. "Scaling Up All
  * Pairs Similarity Search", WWW'07; PPJoin, Xiao et al.): under a global
  * rarest-first shingle order, any pair with J ≥ τ must collide within each
  * side's first |A| − ⌈τ·|A|⌉ + 1 shingles (the minimum overlap is
  * ⌈τ/(1+τ)·(|A|+|B|)⌉ ≥ ⌈τ·|A|⌉ for size-compatible pairs), so only those
  * prefixes are indexed. The filter is LOSSLESS: output is identical to the
  * naive inverted-index join.
  *
  * When to use WHICH Jaccard join (both ship in this library; measured in
  * BASELINE.md r3):
  *  - The inverted index over shared shingles + pair counting is leaner on
  *    benign corpora — fewer passes over the shingle rows, and it won the
  *    sf0.1/sf10 benchmarks where no shingle is hot.
  *  - The prefix join is the 100 TB safety path: the inverted-index join
  *    emits C(df, 2) rows per shingle, so one boilerplate shingle shared by
  *    1M docs produces ~5·10¹¹ join rows and the job never finishes. Here
  *    high-df shingles sort LAST in the canonical (df, shingle) order and
  *    essentially never enter a prefix — candidate volume is bounded by the
  *    rare-shingle collisions only. JaccardPrefixSpec drives a corpus with a
  *    shingle shared by EVERY document through both shapes' math to prove
  *    the point.
  *
  * The production entry is `nearDupPairsAutoSets` over per-doc DISTINCT
  * shingle-set arrays — the natural upstream product (one hashing pass per
  * doc, no exploded intermediate to shuffle or cache). The row-shaped
  * `nearDupPairs`/`nearDupPairsAuto` (id, shingle) APIs remain for callers
  * whose shingles are already exploded; they group to sets first (one extra
  * shuffle).
  *
  * Execution note: the entries here are EAGER — they cache the (small,
  * array-shaped) per-doc sets for the duration of the call, so one upstream
  * pipeline pass feeds the decision job and every agg/join side, then
  * materialize the pair set via `localCheckpoint(true)` and release the
  * cache before returning. The self-join first measures its input in one
  * map-side aggregate; at most [[LocalVolume]] ids plus shingles are
  * collected and paired in a driver inverted index instead, and the result
  * is a driver-built frame with the same rows (at most [[LocalPairs]]; a
  * corpus that pairs more runs the distributed shapes). Either way callers
  * receive a DataFrame that never re-runs the upstream pipeline.
  */
object JaccardPrefix {

  private val log = LoggerFactory.getLogger(getClass)

  /** Which join shape the auto-select chose, and the measured max shingle
    * document frequency that drove the choice. */
  final case class AutoDecision(prefixPath: Boolean, maxDf: Long) {
    def pathName: String = if (prefixPath) "prefix-filtered" else "inverted-index"
  }

  /** Last auto-select decision made in this JVM — the diagnostic surface for
    * tools.Dev / operator dashboards. The catalog query returns only a
    * DataFrame, so the decision is recorded out-of-band; at 100 TB this is
    * the log line / metric an operator reads to know which join shape a
    * corpus took and how hot its hottest shingle was. */
  @volatile private[graft] var lastDecision: Option[AutoDecision] = None

  /** Auto-selected near-dup pairs over per-doc shingle-set ARRAYS
    * (`setCol`: array of distinct shingle hashes per `idCol`). One cheap
    * pass computes the max shingle document frequency; a corpus with a hot
    * shingle (df above `hotDf`, e.g. shared boilerplate) routes through the
    * prefix-filtered join — whose candidate volume is bounded by
    * rare-shingle collisions — while a benign corpus takes the leaner
    * inverted-index join. Both shapes are lossless (identical output;
    * JaccardPrefixSpec), so the guard is a pure performance decision made
    * per-corpus, not per-config.
    */
  def nearDupPairsAutoSets(sets: DataFrame, idCol: String, setCol: String,
      tau: Double, hotDf: Long): DataFrame =
    nearDupPairsAutoSetsChosen(sets, idCol, setCol, tau, hotDf)._1

  /** Σ size(hs) plus the document count up to which the self-join may
    * resolve on the driver: an inverted index over the collected sets, built
    * in primitive arrays. On a local[4] ladder the driver route won at every
    * rung up to 10⁶ shingles (3.5× there), allocating about 160 MB on the
    * driver at 10⁶; the bound keeps that heap bounded (CHANGES.md). */
  private[graft] val LocalVolume = 1000000L

  /** Candidate pairs Σ C(df, 2) over shared shingles past which the driver
    * route declines: the driver counts every candidate on one thread, so a
    * hot corpus goes back to the distributed auto-select, whose prefix join
    * bounds that volume (the routes tie near 2·10⁸ on local[4]). */
  private[graft] val LocalCandidates = 100000000L

  /** Kept pairs past which the driver route stops and declines: a corpus
    * whose candidates mostly qualify (short identical docs) would hold
    * ~C(n, 2) of them. On a local[4] ladder of such corpora the driver
    * lost to the distributed route near 3·10⁵ pairs while it built boxed
    * Rows (about 1 KB per pair); the pairs are now primitive ids, about
    * 0.4 KB per pair at this bound, 44 MB (CHANGES.md). */
  private[graft] val LocalPairs = 100000

  /** nearDupPairsAutoSets plus the decision it made — the spec-observable
    * form. `localVolume` caps the driver route (0 always runs the
    * distributed shapes — the specs pin both routes). */
  private[graft] def nearDupPairsAutoSetsChosen(sets: DataFrame, idCol: String,
      setCol: String, tau: Double, hotDf: Long,
      localVolume: Long = LocalVolume): (DataFrame, AutoDecision) = {
    require(hotDf > 1, s"hotDf must be > 1, got $hotDf")
    // ONE pass of the (potentially expensive) upstream pipeline: the per-doc
    // arrays are cached for the call, so the volume probe, the max-df
    // decision job and every agg/join side of the chosen shape re-read
    // cached arrays (cheap, no shuffle) instead of recomputing
    // documents→hash per use (r5 ran that pipeline up to 4×: decision +
    // sizes + both self-join sides). Array form ≈ half the cache bytes of
    // exploded rows, and sizes become a map-only size(hs) projection.
    // MEMORY_AND_DISK default: at 100 TB the arrays spill rather than
    // recompute.
    val docs = sets.select(col(idCol).as("doc_id"), col(setCol).as("hs")).persist()
    try {
      val local = if (localVolume > 0) driverPairs(docs, tau, hotDf, localVolume) else None
      local.getOrElse {
        val dfs = shingleDfs(docs).persist()
        try {
          val row = dfs.agg(max(col("df"))).head // fills the caches
          val decision = decide(if (row.isNullAt(0)) 0L else row.getLong(0), hotDf, "auto-select")
          val pairs = if (decision.prefixPath) prefixPairs(docs, dfs, tau)
                      else invertedIndexPairs(docs, dfs, tau)
          // materialize the (small) pair set while the caches are live —
          // callers' later actions read the checkpoint, not the pipeline
          (pairs.localCheckpoint(true), decision)
        } finally dfs.unpersist()
      }
    } finally docs.unpersist()
  }

  /** Records and logs the hot-shingle decision for a measured max df. */
  private def decide(maxDf: Long, hotDf: Long, what: String): AutoDecision = {
    val decision = AutoDecision(prefixPath = maxDf > hotDf, maxDf = maxDf)
    lastDecision = Some(decision)
    log.info(s"jaccard $what: maxDf=$maxDf hotDf=$hotDf -> ${decision.pathName}")
    decision
  }

  /** The self-join resolved on the driver, or None when the input does not
    * fit: more than `bound` ids plus shingles (one map-side aggregate over
    * the cached sets decides before anything is collected), ids or
    * shingles that are null or not integral, a duplicate `doc_id` or a
    * repeated shingle within a set, more than [[LocalCandidates]]
    * candidate pairs, or more than [[LocalPairs]] kept pairs. Shingles with df = 1 are never indexed. A pair is
    * kept under the distributed shapes' predicate, c / (n1 + n2 − c) ≥ τ in
    * doubles over long counts, so the rows are identical; the hot-shingle
    * decision is measured and recorded as on the distributed route. */
  private def driverPairs(docs: DataFrame, tau: Double, hotDf: Long,
      bound: Long): Option[(DataFrame, AutoDecision)] = {
    val idField = docs.schema("doc_id")
    def integral(t: DataType) = t == LongType || t == IntegerType
    val integralSets = docs.schema("hs").dataType match {
      case ArrayType(t, _) => integral(t)
      case _               => false
    }
    if (!integral(idField.dataType) || !integralSets) return None
    val (rows, volume) = docs.select(coalesce(size(col("hs")), lit(0)))
      .queryExecution.toRdd.map(r => math.max(r.getInt(0), 0).toLong)
      .aggregate((0L, 0L))((a, n) => (a._1 + 1, a._2 + n), (a, b) => (a._1 + b._1, a._2 + b._2))
    if (rows + volume > bound) return None
    val collected = docs.collect()
    val n = collected.length
    val ids = new Array[Long](n)
    val start = new Array[Int](n + 1) // doc d's shingles: flat(start(d) until start(d + 1))
    val flat = new Array[Long](volume.toInt)
    var v = 0
    for (d <- 0 until n) {
      val r = collected(d)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      ids(d) = r.getAs[Number](0).longValue
      val hs = r.getSeq[Any](1)
      if (v + hs.size > flat.length) return None
      for (x <- hs) {
        if (x == null) return None
        flat(v) = x.asInstanceOf[Number].longValue
        v += 1
      }
      start(d + 1) = v
    }
    val sortedIds = ids.clone()
    java.util.Arrays.sort(sortedIds)
    if ((1 until n).exists(i => sortedIds(i) == sortedIds(i - 1))) return None
    // shingle → rank in the sorted distinct shingles, then df per rank and
    // the posting lists (doc indices in increasing order) in CSR form
    val keys = java.util.Arrays.copyOf(flat, v)
    java.util.Arrays.sort(keys)
    var k = 0
    for (i <- 0 until v) if (k == 0 || keys(i) != keys(k - 1)) { keys(k) = keys(i); k += 1 }
    val rank = Array.tabulate(v)(i => java.util.Arrays.binarySearch(keys, 0, k, flat(i)))
    val df = new Array[Int](k)
    rank.foreach(r => df(r) += 1)
    val maxDf = if (k == 0) 0L else df.max.toLong
    val candidates = df.iterator.map(d => d.toLong * (d - 1) / 2).sum
    if (candidates > LocalCandidates) return None
    val off = new Array[Int](k + 1)
    for (r <- 0 until k) off(r + 1) = off(r) + df(r)
    val fill = off.clone()
    val post = new Array[Int](v)
    for (d <- 0 until n; i <- start(d) until start(d + 1)) {
      val r = rank(i)
      if (fill(r) > off(r) && post(fill(r) - 1) == d) return None // repeated shingle
      post(fill(r)) = d
      fill(r) += 1
    }
    if (maxDf > hotDf) require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    // each doc meets only the later docs of its shingles' posting lists, so
    // every pair is counted once, from its smaller index
    val cursor = off.clone()
    val shared = new Array[Int](n)
    val touched = new Array[Int](n)
    val (left, right) = (Array.newBuilder[Long], Array.newBuilder[Long])
    var kept = 0
    for (d <- 0 until n) {
      var t = 0
      for (i <- start(d) until start(d + 1)) {
        val r = rank(i)
        var p = cursor(r) + 1
        while (p < off(r + 1)) {
          val e = post(p)
          if (shared(e) == 0) { touched(t) = e; t += 1 }
          shared(e) += 1
          p += 1
        }
        cursor(r) += 1
      }
      val n1 = (start(d + 1) - start(d)).toLong
      for (j <- 0 until t) {
        val e = touched(j)
        val c = shared(e).toLong
        val n2 = (start(e + 1) - start(e)).toLong
        if (c.toDouble / (n1 + n2 - c).toDouble >= tau) {
          if (kept == LocalPairs) return None
          left += math.min(ids(d), ids(e)); right += math.max(ids(d), ids(e)); kept += 1
        }
        shared(e) = 0
      }
    }
    val schema = StructType(Seq(idField.copy(name = "id1"), idField.copy(name = "id2")))
    Some((DriverRoute.idPairs(docs.sparkSession, schema, left.result(), right.result(), kept),
      decide(maxDf, hotDf, "auto-select (driver)")))
  }

  /** Batch×corpus near-dup (bid, cid) pairs at Jaccard ≥ tau over per-doc
    * shingle-set arrays — the candidate join of the incremental ingestion
    * shape (api.Dedup.incrementalNearDup). Auto-selected like
    * [[nearDupPairsAutoSets]], with the decision driven by the CORPUS-side
    * max shingle df: the corpus is the 100 TB side, and one boilerplate
    * shingle present in 10⁶ corpus docs would emit 10⁶ inverted-index join
    * rows for EVERY batch doc containing it. Past `hotDf` the join routes
    * through the prefix filter under the global (corpus-df, shingle) order,
    * bounding candidates by rare-shingle collisions; below it the leaner
    * inverted cross join wins, with per-shingle cost ≤ hotDf rows per batch
    * occurrence — linear in batch shingle volume, the documented contract.
    * Both shapes are lossless (JaccardPrefixSpec cross cases). Eager like
    * the self-join: result is checkpoint-backed, caches released.
    */
  def crossPairsAutoSets(batchSets: DataFrame, corpusSets: DataFrame,
      idCol: String, setCol: String, tau: Double, hotDf: Long): DataFrame =
    crossPairsAutoSetsChosen(batchSets, corpusSets, idCol, setCol, tau, hotDf)._1

  private[graft] def crossPairsAutoSetsChosen(batchSets: DataFrame,
      corpusSets: DataFrame, idCol: String, setCol: String, tau: Double,
      hotDf: Long): (DataFrame, AutoDecision) = {
    require(hotDf > 1, s"hotDf must be > 1, got $hotDf")
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val bdocs = batchSets.select(col(idCol).as("doc_id"), col(setCol).as("hs")).persist()
    val cdocs = corpusSets.select(col(idCol).as("doc_id"), col(setCol).as("hs")).persist()
    val dfs = shingleDfs(cdocs).persist()
    try {
      val row = dfs.agg(max(col("df"))).head // fills cdocs + dfs caches
      val decision = decide(if (row.isNullAt(0)) 0L else row.getLong(0), hotDf,
        "cross auto-select (corpus df)")
      val pairs = if (decision.prefixPath) crossPrefixPairs(bdocs, cdocs, dfs, tau)
                  else crossInvertedPairs(bdocs, cdocs, tau)
      (pairs.localCheckpoint(true), decision)
    } finally { dfs.unpersist(); cdocs.unpersist(); bdocs.unpersist() }
  }

  /** The inverted-index cross join: exploded batch × exploded corpus on
    * shared shingle, count intersections per (bid, cid). Join rows per
    * shingle = df_batch × df_corpus — safe only while corpus-side df is
    * bounded, which the auto-select guarantees on this path (≤ hotDf). */
  private[graft] def crossInvertedPairs(bdocs: DataFrame, cdocs: DataFrame,
      tau: Double): DataFrame = {
    def exploded(docs: DataFrame, id: String) =
      docs.select(col("doc_id").as(id), size(col("hs")).cast("long").as(s"${id}_n"),
        explode(col("hs")).as("s"))
    exploded(bdocs, "bid").join(exploded(cdocs, "cid"), "s")
      .groupBy("bid", "bid_n", "cid", "cid_n").agg(count(lit(1)).as("c"))
      .filter(col("c").cast("double") /
        (col("bid_n") + col("cid_n") - col("c")).cast("double") >= tau)
      .select("bid", "cid")
  }

  /** Prefix-filtered cross-join body. Both sides' prefixes are computed
    * under the SAME global (corpus-df, shingle) total order — the prefix
    * theorem needs one shared order, not a per-side one. Batch shingles
    * absent from the corpus take df 0: they sort first and may occupy
    * prefix slots, then are dropped after the slice — lossless, because a
    * witness shingle of any qualifying (A, B) pair is by definition in B ⊆
    * corpus, so its df ≥ 1. Unlike the self-join, a corpus-df = 1 shingle
    * CAN produce a cross pair, so the corpus side keeps them. The
    * boilerplate shingle (max df) sorts last on both sides and essentially
    * never enters a prefix — candidate volume stays bounded by rare-shingle
    * collisions exactly as in [[prefixPairs]].
    */
  private def crossPrefixPairs(bdocs: DataFrame, cdocs: DataFrame,
      dfs: DataFrame, tau: Double): DataFrame = {
    def prefixes(docs: DataFrame, corpusSide: Boolean) = {
      val shd = docs.select(col("doc_id"), explode(col("hs")).as("s"))
      val withDf =
        if (corpusSide) shd.join(dfs, "s")
        else shd.join(dfs, Seq("s"), "left")
          .select(col("doc_id"), col("s"), coalesce(col("df"), lit(0L)).as("df"))
      withDf.groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ord"),
          count(lit(1)).as("n"))
        .select(col("doc_id"), col("n"),
          explode(expr(s"slice(ord, 1, cast(n - ceil($tau * n) + 1 as int))")).as("p"))
        .filter(col("p.df") > 0)
        .select(col("doc_id"), col("n"), col("p.s").as("s"))
    }
    val a = prefixes(bdocs, corpusSide = false)
      .select(col("s"), col("doc_id").as("bid"), col("n").as("n1"))
    val b = prefixes(cdocs, corpusSide = true)
      .select(col("s"), col("doc_id").as("cid"), col("n").as("n2"))
    val cands = a.join(b, Seq("s"))
      .filter(greatest(col("n1"), col("n2")) * tau <= least(col("n1"), col("n2")))
      .select("bid", "cid").distinct()
    cands
      .join(bdocs.select(col("doc_id").as("bid"), col("hs").as("hs1")), Seq("bid"))
      .join(cdocs.select(col("doc_id").as("cid"), col("hs").as("hs2")), Seq("cid"))
      .select(col("bid"), col("cid"),
        size(array_intersect(col("hs1"), col("hs2"))).cast("long").as("c"),
        size(col("hs1")).cast("long").as("n1"), size(col("hs2")).cast("long").as("n2"))
      .filter(col("c").cast("double") /
        (col("n1") + col("n2") - col("c")).cast("double") >= tau)
      .select("bid", "cid")
  }

  /** Row-shaped (id, shingle) variant of [[nearDupPairsAutoSets]]: groups to
    * per-doc sets first (one extra shuffle) and delegates. */
  def nearDupPairsAuto(shingles: DataFrame, idCol: String, shingleCol: String,
      tau: Double, hotDf: Long): DataFrame =
    nearDupPairsAutoChosen(shingles, idCol, shingleCol, tau, hotDf)._1

  private[graft] def nearDupPairsAutoChosen(shingles: DataFrame, idCol: String,
      shingleCol: String, tau: Double, hotDf: Long,
      localVolume: Long = LocalVolume): (DataFrame, AutoDecision) =
    nearDupPairsAutoSetsChosen(rowsToSets(shingles, idCol, shingleCol),
      "doc_id", "hs", tau, hotDf, localVolume)

  /** The prefix-filtered join, standalone over (id, shingle) rows (always
    * takes the prefix path — `nearDupPairsAutoSets` is the production entry
    * that picks per-corpus). Eager like the auto path: one cached pass of
    * the input, result checkpoint-backed. */
  def nearDupPairs(shingles: DataFrame, idCol: String, shingleCol: String,
      tau: Double): DataFrame = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    val docs = rowsToSets(shingles, idCol, shingleCol).persist()
    try prefixPairs(docs, shingleDfs(docs), tau).localCheckpoint(true)
    finally docs.unpersist()
  }

  private def rowsToSets(shingles: DataFrame, idCol: String, shingleCol: String): DataFrame =
    shingles.select(col(idCol).as("doc_id"), col(shingleCol).as("s"))
      .groupBy("doc_id").agg(collect_set(col("s")).as("hs"))

  /** (s, df) document frequencies over per-doc set arrays. */
  private def shingleDfs(docs: DataFrame): DataFrame =
    docs.select(explode(col("hs")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))

  /** The inverted-index join shape (the catalog's historical
    * dedup_ngram_jaccard): join documents on shared shingles, count
    * intersections, |A∪B| = |A|+|B|−|A∩B|. Leaner than the prefix join on
    * benign corpora (fewer passes over the shingle rows) but emits C(df, 2)
    * rows per shingle — nearDupPairsAutoSets guards against that. Doc sizes
    * are a map-only size(hs) projection of the cached arrays (no groupBy).
    */
  private[graft] def invertedIndexPairs(docs: DataFrame, dfs: DataFrame,
      tau: Double): DataFrame = {
    val shd = docs.select(col("doc_id"), explode(col("hs")).as("s"))
    // df-1 shingles cannot produce a pair: dropping them BEFORE the
    // self-join is a semantic no-op that removes the bulk of the join input
    // (sizes still count all shingles).
    val shared = dfs.filter(col("df") > 1).select("s")
    val shdShared = shd.join(shared, "s")
    val inter = shdShared.as("a")
      .join(shdShared.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("c"))
    val sizes = docs.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    inter
      .join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
      .filter(col("c").cast("double") /
        (col("s1.n") + col("s2.n") - col("c")).cast("double") >= tau)
      .select("id1", "id2")
  }

  /** Prefix-filtered join body over per-doc set arrays + precomputed (s, df)
    * frequencies.
    *
    * Shuffle discipline (the r4/r5 rule: payloads never ride a candidate
    * shuffle): the candidate join carries only (shingle, id, n) rows; the
    * full shingle arrays re-attach AFTER candidates survive the size filter
    * and dedup, via two joins keyed on the pair ids against the cached
    * arrays. Candidate count is bounded by rare-shingle collisions (high-df
    * shingles never enter a prefix), so the array-bearing joins are narrow
    * by construction.
    */
  private def prefixPairs(docs: DataFrame, dfs: DataFrame, tau: Double): DataFrame = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    val shd = docs.select(col("doc_id"), explode(col("hs")).as("s"))
    val ordered = shd.join(dfs, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ord"),
        count(lit(1)).as("n"))
    val pre = ordered.select(col("doc_id"), col("n"),
      explode(expr(s"slice(ord, 1, cast(n - ceil($tau * n) + 1 as int))")).as("p"))
      // a df=1 shingle occupies its prefix slot (the slice is over the full
      // ordered set) but can never produce a pair — dropping it AFTER the
      // slice is free, lossless index pruning
      .filter(col("p.df") > 1)
      .select(col("doc_id"), col("n"), col("p.s").as("s"))
    val a = pre.select(col("s"), col("doc_id").as("id1"), col("n").as("n1"))
    val b = pre.select(col("s"), col("doc_id").as("id2"), col("n").as("n2"))
    val cands = a.join(b, Seq("s"))
      .filter(col("id1") < col("id2") &&
        greatest(col("n1"), col("n2")) * tau <= least(col("n1"), col("n2")))
      .select("id1", "id2")
      .distinct() // a pair may collide on several prefix shingles
    cands
      .join(docs.select(col("doc_id").as("id1"), col("hs").as("hs1")), Seq("id1"))
      .join(docs.select(col("doc_id").as("id2"), col("hs").as("hs2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("hs1"), col("hs2"))).cast("long").as("c"),
        size(col("hs1")).cast("long").as("n1"), size(col("hs2")).cast("long").as("n2"))
      .filter(col("c").cast("double") /
        (col("n1") + col("n2") - col("c")).cast("double") >= tau)
      .select("id1", "id2")
  }
}
