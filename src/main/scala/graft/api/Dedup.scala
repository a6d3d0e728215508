package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Public dedup API: the thresholds and normalization rules the operator
  * catalog runs with, plus the DataFrame front door to the whole dedup
  * family — exact, normalized, near-dup pairs (auto-selected join shape)
  * and near-dup clustering — over any (id, text) table. The catalog
  * entries exercise the same code paths with these defaults, so
  * driver-verified behavior and the public API cannot drift apart.
  */
object Dedup {

  /** Embedding-cosine near-dup threshold (X5/Y7 catalog entries). 0.45 sits
    * inside the synthetic corpus's similarity range so the operators have
    * output to verify; real corpora dedup at 0.8+ where LSH banding pays
    * (see [[Similarity.bandGeometry]]).
    */
  val cosineTau: Double = 0.45

  /** n-gram Jaccard near-dup threshold (X4 catalog entries). */
  val jaccardTau: Double = 0.6

  /** Document-frequency cutoff for the Jaccard hot-shingle guard: when any
    * shingle is shared by more than this many documents, the inverted-index
    * self-join would emit C(df, 2) candidate rows for it (a boilerplate
    * shingle shared by 1M docs → ~5·10¹¹ rows), so the catalog routes
    * through the lossless prefix-filtered join instead
    * (ops.JaccardPrefix). Below the cutoff the plain inverted index is
    * cheaper (fewer passes; measured in BASELINE.md).
    */
  val hotShingleDf: Long = 256L

  /** Text normalization applied before fingerprinting in normalized dedup:
    * lowercase, collapse whitespace runs, trim. */
  def normalized(text: Column): Column = graft.functions.TextFns.normalized(text)

  /** Exact dedup: one survivor (smallest id) per byte-identical text. One
    * hash shuffle on the text — the 100 TB shape. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(textCol).agg(min(col(idCol)).as(idCol)).select(idCol, textCol)

  /** Normalized dedup: one survivor (smallest id) per md5 of the
    * normalized text. Output: (idCol, fp). */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normalized(col(textCol))).as("fp"))
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
      .select(idCol, "fp")

  /** Per-doc distinct 3-gram shingle-hash sets — the shared upstream of the
    * Jaccard family (one compiled hashing pass per doc, no exploded
    * intermediate). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      array_distinct(graft.expressions.ShingleHashes(
        graft.functions.TextFns.tokens(col(textCol)))).as("hs"))

  /** Near-duplicate (id1, id2) pairs at Jaccard ≥ tau over 3-gram shingles,
    * with the join shape auto-selected per corpus (inverted index vs the
    * hot-shingle-safe prefix join — ops.JaccardPrefix). Checkpoint-backed,
    * or driver-built when the sets and the pairs are few. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      tau: Double = jaccardTau, hotDf: Long = hotShingleDf): DataFrame =
    graft.ops.JaccardPrefix.nearDupPairsAutoSets(
      shingleSets(df, idCol, textCol), idCol, "hs", tau, hotDf)

  /** Incremental (batch-vs-corpus) near-dup admission — the ingestion shape
    * a 100 TB pipeline actually runs: a new crawl slice is admitted doc by
    * doc iff it has NO near-duplicate (n-gram Jaccard ≥ tau) already in the
    * corpus. The inverted shingle index is joined batch×corpus ONLY — the
    * corpus is never re-paired against itself, so cost is linear in the
    * batch's shingle volume times matched index rows, independent of
    * corpus-internal duplication. Returns the admitted batch rows
    * unchanged.
    *
    * At deployment scale the corpus side is a persisted index bucketed by
    * shingle hash, so the join reads only the buckets the batch's shingles
    * touch; here it is derived from the corpus frame on the fly. Batch
    * docs with fewer than 3 tokens have no shingles and are always
    * admitted (nothing to compare — same contract as [[nearDupPairs]]).
    *
    * Hot-shingle guard (same auto-decision as [[nearDupPairs]], driven by
    * the CORPUS-side max shingle df — the 100 TB side): past `hotDf` the
    * candidate join routes through the lossless prefix filter
    * (ops.JaccardPrefix.crossPairsAutoSets), so one boilerplate shingle
    * ("all rights reserved…") present in 10⁶ corpus docs cannot emit 10⁶
    * join rows per batch doc; below it the leaner inverted cross join runs,
    * with cost ≤ hotDf index rows per batch shingle occurrence — the linear
    * contract above, now enforced rather than assumed.
    */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, tau: Double = jaccardTau,
      hotDf: Long = hotShingleDf): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val pairs = graft.ops.JaccardPrefix.crossPairsAutoSets(
      shingleSets(batch, idCol, textCol), shingleSets(corpus, idCol, textCol),
      idCol, "hs", tau, hotDf)
    batch.join(pairs.select(col("bid").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** Token length of the repeated spans [[repeatedSpans]] hunts by default.
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499) use 50 BPE tokens at web scale; the catalog
    * corpus's planted duplicates are short, so its entry runs k=8 — k is the
    * sensitivity/recall knob, not a semantics change. */
  val substrK: Int = 8

  /** (idCol, pos, g) rows: the double-hash key of the k-token gram starting
    * at 1-based token position `pos` — one compiled rolling-hash pass per
    * doc (expressions.GramHashes: O(tokens) regardless of k; each key is
    * two independent polynomial folds combined as g1·P2+g2, so a false dup
    * span needs both to collide, ~1e-18 per gram pair). Docs shorter than
    * k tokens emit nothing. */
  private[graft] def gramRows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol), posexplode(graft.expressions.GramHashes(
        graft.functions.TextFns.tokens(col(textCol)), k)).as(Seq("__p0", "g")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("g"))

  /** Exact-substring repeated spans (Lee et al. 2022, arXiv:2107.06499 —
    * ExactSubstr dedup re-expressed as a distributed k-gram inverted index
    * instead of a single-node suffix array): every maximal token range
    * covered by k-token grams that occur ≥ 2 times ANYWHERE in the corpus
    * (within- or cross-document). Output: (idCol, span_start, span_end,
    * span_tokens), 1-based inclusive token positions, overlapping/adjacent
    * gram hits merged per doc.
    *
    * Scale posture: gram rows are linear in corpus tokens (×k fold cost,
    * map-side); the occurrence count is one hash shuffle on the gram key;
    * hits join back on the same key (second shuffle); span-merge is one
    * window per doc. The gram frame is recomputed for the join-back rather
    * than cached — two map-side scans beat materializing a tokens×k
    * intermediate at 100 TB. No driver collects, no broadcasts of
    * corpus-sized data.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = substrK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k must be >= 2, got $k")
    val grams = gramRows(df, idCol, textCol, k)
    val dup = grams.groupBy("g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("g")
    val w = Window.partitionBy(idCol).orderBy("pos")
    grams.join(dup, Seq("g"))
      .select(col(idCol), col("pos"), (col("pos") + (k - 1)).as("__end"))
      .withColumn("__pmax",
        max(col("__end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__isl",
        sum(when(col("__pmax").isNull || col("pos") > col("__pmax") + 1, 1)
          .otherwise(0)).over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("pos").as("span_start"), max("__end").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Scrub [[repeatedSpans]] out of the text: tokens whose position falls in
    * any repeated span are dropped, the rest re-joined with single spaces
    * (positions are token-exact, so removal never splits a surviving token).
    * Docs with no repeated span pass through with normalized whitespace.
    * Spans arrive per doc as a broadcast-free left join + one array lambda —
    * span counts per doc are small by construction (merged, disjoint).
    * Output: df's columns with `textCol` replaced by the scrubbed text. */
  def scrubRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = substrK): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, k)
      .groupBy(idCol).agg(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e"))).as("__spans"))
    val toks = graft.functions.TextFns.tokens(col(textCol))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__kept", filter(
        transform(toks, (t, i) => struct((i + 1).as("p"), t.as("t"))),
        x => col("__spans").isNull ||
          !exists(col("__spans"), sp =>
            x.getField("p") >= sp.getField("s") && x.getField("p") <= sp.getField("e"))))
      .withColumn(textCol, array_join(transform(col("__kept"), x => x.getField("t")), " "))
      .drop("__spans", "__kept")
  }

  /** Token width of the segments [[dedupSegments]] hashes. CCNet (Wenzek
    * et al. 2020, arXiv:1911.00359) dedups at paragraph granularity; the
    * catalog corpus has no paragraph breaks, so its entry segments on a
    * fixed token width instead — the splitter is a parameter, the
    * hash/keep-first machinery is identical. */
  val segmentTokens: Int = 16

  /** CCNet-style sub-document dedup (Wenzek et al. 2020, arXiv:1911.00359):
    * split every doc into non-overlapping `segTokens`-token segments, hash
    * each segment, and keep only the FIRST occurrence of every distinct
    * segment corpus-wide (first = smallest (id, position) — deterministic on
    * any cluster size); later copies are cut out and the survivors re-joined
    * in document order. This is the boilerplate-killer that runs BEFORE
    * document-level dedup in web-crawl pipelines: headers/footers repeated
    * across a site disappear from every page but one, which document-level
    * near-dup can never do.
    *
    * Output: (idCol, clean_text, n_segs, n_dropped) — one row per input doc,
    * clean_text possibly empty when every segment was a later copy.
    *
    * Scale posture (100 TB): segmentation + hashing are map-side array
    * lambdas over one native-hashed pass (no shuffle); the keep-first
    * decision is ONE window shuffle keyed by segment hash (row_number, no
    * self-join, no df table join-back); reassembly is one groupBy(id). Two
    * linear shuffles total, no broadcasts, no driver collects. A degenerate
    * hash (every segment identical) concentrates one window partition — at
    * that point the corpus IS one segment repeated, and the output is one
    * surviving segment, reached without a pair explosion (row_number scans,
    * never pairs). */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = segmentTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val toks = graft.functions.TextFns.tokens(col(textCol))
    // ceil(n_tokens / segTokens) via exact double arithmetic (counts < 2^31)
    val nseg = floor((size(toks) + lit(segTokens - 1)) / lit(segTokens)).cast("int")
    val segs = df.select(col(idCol),
      posexplode(transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " ")))
        .as(Seq("seg_idx", "seg_text")))
      .withColumn("__sh", graft.functions.TextFns.charHash(col("seg_text")))
    val w = Window.partitionBy("__sh").orderBy(col(idCol), col("seg_idx"))
    segs.withColumn("__rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("__rn") === 1, struct(col("seg_idx"), col("seg_text"))))),
          x => x.getField("seg_text")), " ").as("clean_text"),
        count(lit(1)).as("n_segs"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Cluster canonicalization: given (idCol, cluster) labels (e.g.
    * [[nearDupClusters]]) and a per-id numeric quality signal, keep exactly
    * ONE representative per cluster — the highest score, ties to the
    * smallest id, deterministic on any cluster size. Fuzzy dedup pipelines
    * keep the BEST copy of each near-dup cluster (longest, highest quality
    * score), not an arbitrary one; this is that step as an operator, with
    * the signal pluggable (token count, [[graft.ops.UnigramLM]] surprisal,
    * a model score…).
    *
    * Scale posture (100 TB): one equi-join keyed by id (both sides
    * id-partitioned corpus tables) and ONE window shuffle keyed by cluster;
    * row_number streams each cluster's partition without buffering, and
    * cluster cardinality is bounded by the dedup graph (singletons dominate
    * real corpora). No broadcasts, no pair joins.
    *
    * Output: clusters' columns plus `scoreCol`, one row per cluster. */
  def bestPerCluster(clusters: DataFrame, idCol: String, scores: DataFrame,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster").orderBy(col(scoreCol).desc, col(idCol))
    clusters.join(scores, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Content-defined segment dedup (the FastCDC idea at token granularity —
    * Xia et al. 2016's rolling-hash boundary rule, simplified to one cut
    * decision per token): the same keep-first machinery as
    * [[dedupSegments]], but boundaries are chosen by CONTENT — cut after
    * any token whose hash ≡ 0 (mod `avgTokens`) — so inserting or deleting
    * a token reframes only its own segment, where the fixed-width splitter
    * shifts every later segment and misses all downstream repeats. Expected
    * segment length = `avgTokens`. Output matches [[dedupSegments]]:
    * (idCol, clean_text, n_segs, n_dropped).
    *
    * Scale posture: one id-keyed window (the boundary prefix count), one
    * (id, segment) agg, ONE window shuffle keyed by segment hash for the
    * keep-first decision, one reassembly groupBy — all linear, no pair
    * joins, no broadcasts. */
  def dedupSegmentsCDC(df: DataFrame, idCol: String, textCol: String,
      avgTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(avgTokens > 0, s"avgTokens must be positive, got $avgTokens")
    val toks = graft.functions.TextFns.tokens(col(textCol))
    val rows = df.select(col(idCol), posexplode(toks).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).as("__p"), col("__tok"),
        when(pmod(graft.expressions.PolyHash(col("__tok")),
          lit(avgTokens.toLong)) === 0, 1L).otherwise(0L).as("__cut"))
    val wSeg = Window.partitionBy(idCol).orderBy("__p")
    val segs = rows
      .withColumn("__seg", coalesce(sum("__cut")
        .over(wSeg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col(idCol), col("__seg"))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("__p"), col("__tok")))), x => x.getField("__tok")), " ")
        .as("seg_text"))
      .withColumn("__sh", graft.functions.TextFns.charHash(col("seg_text")))
    val wFirst = Window.partitionBy("__sh").orderBy(col(idCol), col("__seg"))
    segs.withColumn("__rn", row_number().over(wFirst))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("__rn") === 1, struct(col("__seg"), col("seg_text"))))),
          x => x.getField("seg_text")), " ").as("clean_text"),
        count(lit(1)).as("n_segs"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Near-duplicate clusters: connected components over [[nearDupPairs]],
    * every doc labeled with the smallest reachable id (singletons label
    * themselves). Output: (idCol, cluster). */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      tau: Double = jaccardTau, hotDf: Long = hotShingleDf): DataFrame = {
    val labels = graft.ops.ConnectedComponents.labels(
      nearDupPairs(df, idCol, textCol, tau, hotDf))
    val singletons = df.select(col(idCol).as("id"))
      .join(labels.select("id"), Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    labels.union(singletons)
      .select(col("id").as(idCol), col("label").as("cluster"))
  }
}
