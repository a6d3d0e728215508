package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns._
import graft.ops.{ConnectedComponents, JaccardPrefix, Sampling}

/** End-to-end training-corpus preparation: the library's operators composed
  * the way a 100 TB pretraining-data run uses them —
  *
  *   clean → quality filter → exact dedup → near-dup clustering →
  *   leakage-safe split → stratified mix → chunk packing
  *
  * with four optional stages: SEMANTIC dedup (`prepareFull`) — embedding
  * near-dup pairs from the scale-adaptive LSH geometry union with the
  * lexical Jaccard pairs before one shared connected-components fixpoint;
  * DECONTAMINATION (`prepareFull`) — docs overlapping a benchmark/eval
  * corpus at the shingle level are dropped after the quality filter, before
  * dedup; the corpus-trained LM SURPRISAL gate (`Config.maxSurprisalBits` —
  * the CCNet perplexity filter's slot); and cluster CANONICALIZATION
  * (`Config.keepBestPerCluster` — collapse each near-dup cluster to its
  * best copy instead of keeping whole clusters split-safe).
  *
  * Each stage is the same public operator the catalog verifies individually
  * (TextFns cleanup, Sampling splits, JaccardPrefix auto-selected pair
  * join, ConnectedComponents labels), so a user gets the oracle-tested
  * semantics without hand-wiring the stages. Determinism carries through:
  * every stage is hash-driven or a unique fixpoint, so a re-run of the
  * whole pipeline reproduces the same corpus bit-for-bit
  * (CorpusPipelineSpec asserts partitioning-independence end-to-end).
  *
  * Scale notes per stage: clean/quality/exact-dedup are one scan + one
  * fingerprint shuffle; near-dup pairs auto-route through the hot-shingle
  * guard; clustering shuffles the (narrow) edge set once per round; split
  * and mix are map-side; packing is a distributed prefix sum. The corpus is
  * never broadcast. Three collects are bounded by constants: the near-dup
  * pair join collects the shingle sets when ids plus shingles number at
  * most JaccardPrefix.LocalVolume (and keeps the driver-built pairs only
  * up to JaccardPrefix.LocalPairs), the semantic stage's LSH collects the
  * embeddings when they hold at most Similarity.LocalUnits units of
  * rows × dim (and keeps at most Similarity.LocalCandidates candidates and
  * Similarity.LocalPairs pairs on the driver), and clustering collects the
  * edge set when it holds at most ConnectedComponents.LocalEdges edges;
  * larger inputs take the distributed shapes.
  */
object CorpusPipeline {

  /** Tuning knobs, defaulted to the catalog's verified constants.
    *
    * @param minTokens      quality floor: drop docs with fewer tokens
    * @param minStopRatio   quality floor: drop docs with a stopword ratio
    *                       below this (gibberish/non-language filter)
    * @param maxTopTokenFrac quality ceiling: drop docs whose most frequent
    *                       token exceeds this fraction of all tokens (the
    *                       Gopher-style repetition filter; 1.0 disables)
    * @param maxSurprisalBits optional CCNet-style LM gate: drop docs whose
    *                       mean whole-bit unigram surprisal under the
    *                       corpus's OWN model exceeds this (see
    *                       [[graft.ops.UnigramLM]]; infinity disables).
    *                       Corpus-trained, so it runs after the static
    *                       quality floor, on survivors only
    * @param keepBestPerCluster when true, near-dup clusters collapse to ONE
    *                       representative — the highest-n_tok doc, ties to
    *                       smallest id ([[Dedup.bestPerCluster]]) — instead
    *                       of surviving whole (split-safe) as by default
    * @param jaccardTau     near-dup similarity threshold
    * @param hotShingleDf   hot-shingle guard cutoff (see Dedup.hotShingleDf)
    * @param cosineTau      semantic near-dup threshold for the optional
    *                       embedding stage (the multimodal `prepare`
    *                       overload); high-τ by design — the adaptive LSH
    *                       geometry targets that regime
    * @param cosineRecall   the adaptive geometry's recall target at
    *                       `cosineTau` (exact-duplicate embeddings are
    *                       always found regardless)
    * @param decontamMinOverlap distinct-shingle overlap with the benchmark
    *                       set at which a doc is dropped by the optional
    *                       decontamination stage (see `withBenchmark`)
    * @param mixRates       per-strata keep rates; strata absent keep
    *                       `defaultRate`
    * @param splitWeights   (label, weight) split fractions
    * @param chunkBudget    tokens per packed chunk
    * @param trainLabel     which split label gets packed into chunks — must
    *                       name an entry of `splitWeights` (NOT positional:
    *                       reordering the weights must never silently pack a
    *                       different split)
    */
  final case class Config(
      minTokens: Long = 10L,
      minStopRatio: Double = 0.01,
      maxTopTokenFrac: Double = 1.0,
      maxSurprisalBits: Double = Double.PositiveInfinity,
      keepBestPerCluster: Boolean = false,
      jaccardTau: Double = Dedup.jaccardTau,
      hotShingleDf: Long = Dedup.hotShingleDf,
      cosineTau: Double = 0.85,
      cosineRecall: Double = 0.9,
      decontamMinOverlap: Long = 8L,
      mixRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      splitWeights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      chunkBudget: Long = 2048L,
      maxDocsPerStratum: Int = 0,
      trainLabel: String = "train") {
    require(splitWeights.exists(_._1 == trainLabel),
      s"trainLabel '$trainLabel' is not one of splitWeights ${splitWeights.map(_._1)}")
  }

  /** The prepared corpus:
    * @param documents  surviving docs with provenance columns —
    *                   (id, text, strata, n_tok, cluster, split)
    * @param trainChunks packing offsets for the `train` split —
    *                   (id, n_tok, start_offset, chunk_first, chunk_last)
    */
  final case class Prepared(documents: DataFrame, trainChunks: DataFrame)

  /** Run the full flow over (idCol: numeric, textCol: string,
    * strataCol: string) rows. */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, cfg: Config = Config()): Prepared =
    prepareImpl(docs, idCol, textCol, strataCol, cfg, None, None)

  /** [[prepare]] with a SEMANTIC near-dup stage (SemDeDup-style): docs whose
    * embeddings sit within `cfg.cosineTau` cosine merge into one cluster
    * alongside the lexical Jaccard pairs, so paraphrases/translations that
    * share no shingles still dedup together and never straddle the
    * leakage-safe split. Embedding pairs come from the scale-adaptive LSH
    * geometry ([[Similarity.lshCosineNearDupAdaptive]]) over only the
    * quality-surviving docs (a pair through a filtered-out doc must not
    * resurrect edges), and union with the lexical pairs before the single
    * connected-components fixpoint — one clustering pass, two similarity
    * modalities. `embeddings` rows are (embIdCol, embCol: array<float>) in
    * the same id space as `idCol`; docs without an embedding row simply
    * contribute no semantic edges. */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, embeddings: DataFrame, embIdCol: String,
      embCol: String, cfg: Config): Prepared =
    prepareImpl(docs, idCol, textCol, strataCol, cfg,
      Some((embeddings, embIdCol, embCol)), None)

  /** The full flow with every optional stage explicit: `embeddings`
    * (semantic dedup — see the overload above) and `benchmark`
    * (decontamination: docs overlapping the benchmark corpus by
    * `cfg.decontamMinOverlap` distinct shingles are DROPPED after the
    * quality filter, before dedup — eval data must never reach training
    * splits; see [[graft.ops.Decontaminate]]). Pass None to skip a stage. */
  def prepareFull(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String,
      embeddings: Option[(DataFrame, String, String)],
      benchmark: Option[(DataFrame, String)],
      cfg: Config = Config(),
      benchmarkEmbeddings: Option[(DataFrame, String)] = None): Prepared =
    prepareImpl(docs, idCol, textCol, strataCol, cfg, embeddings, benchmark,
      benchmarkEmbeddings)

  /** Stages 1–2 standalone: clean (tag-strip + whitespace collapse + trim,
    * the text_clean twin) then the quality floor/ceiling (token count,
    * stopword ratio, optional Gopher-style top-token repetition ceiling).
    * Every predicate is a stateless per-row expression — no shuffle, no
    * state — so the SAME transform runs unchanged on a Structured
    * Streaming ingest (StreamingPipelineSpec proves batch parity): a
    * 100 TB pipeline filters at the crawl frontier instead of
    * materializing junk it will immediately drop.
    * Output columns: (id, strata, text, n_tok). */
  def cleanQuality(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, cfg: Config = Config()): DataFrame = {
    // 1. clean: tag-strip + whitespace-collapse + trim (text_clean twin)
    val cleaned = docs.select(
      col(idCol).as("id"), col(strataCol).as("strata"),
      trim(regexp_replace(regexp_replace(col(textCol), "<[^>]*>", " "),
        "[ \\t\\n\\f\\r]+", " ")).as("text"))
    // 2. quality floor (text_quality twin): token count + stopword ratio,
    // plus the optional Gopher-style repetition ceiling (text_repetition
    // twin: top-token fraction — map-side via sort(frequencies) over the
    // per-doc token multiset, no extra shuffle)
    val toks = tokens(col("text"))
    val scored = cleaned
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("__stop", stopwordHits(toks).cast("long"))
      .filter(col("n_tok") >= cfg.minTokens &&
        col("__stop").cast("double") / col("n_tok").cast("double") >= cfg.minStopRatio)
      .drop("__stop")
    if (cfg.maxTopTokenFrac >= 1.0) scored
    else scored.filter(
      // max per-token count via aggregate over the sorted token array:
      // a run-length fold — stays a per-row expression, no explode/shuffle
      aggregate(
        sort_array(toks),
        struct(lit(0L).as("mx"), lit(0L).as("run"), lit("").as("prev")),
        (acc, t) => {
          val run = when(t === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
          struct(greatest(acc.getField("mx"), run).as("mx"), run.as("run"), t.as("prev"))
        },
        acc => acc.getField("mx")
      ).cast("double") / col("n_tok").cast("double") <= cfg.maxTopTokenFrac)
  }

  private def prepareImpl(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, cfg: Config,
      embOpt: Option[(DataFrame, String, String)],
      benchOpt: Option[(DataFrame, String)],
      benchEmbOpt: Option[(DataFrame, String)] = None): Prepared = {
    val qualified = cleanQuality(docs, idCol, textCol, strataCol, cfg)
    // 3. exact dedup on the normalized fingerprint: keep the smallest id
    // 2b. optional decontamination: drop docs overlapping the benchmark
    // corpus (distinct-shingle count >= decontamMinOverlap) BEFORE dedup —
    // a contaminated doc must not survive as its cluster's representative
    val lexDecontaminated = benchOpt match {
      case None => qualified
      case Some((bench, btCol)) =>
        val contaminated = graft.ops.Decontaminate
          .flags(qualified, "id", "text", bench, btCol, cfg.decontamMinOverlap)
          .filter(col("contaminated")).select("id")
        qualified.join(contaminated, Seq("id"), "left_anti")
    }
    // 2b'. optional SEMANTIC decontamination: drop docs whose embedding
    // sits within cfg.cosineTau of ANY benchmark embedding — the
    // paraphrased/translated eval leakage the shingle stage can't see
    // (ops.Decontaminate.semanticFlags; same radius as semantic dedup, on
    // purpose: "semantically the same item" is one notion, not two).
    // Requires the doc-embeddings stage: the corpus side's vectors come
    // from the same (id, emb) frame semantic dedup uses.
    val decontaminated = (benchEmbOpt, embOpt) match {
      case (None, _) => lexDecontaminated
      case (Some(_), None) => throw new IllegalArgumentException(
        "benchmarkEmbeddings requires the doc `embeddings` stage: the corpus " +
          "side's vectors come from that frame")
      case (Some((benchEmb, bvCol)), Some((emb, eid, ecol))) =>
        val corpusEmb = emb.select(col(eid).as("id"), col(ecol).as("__emb"))
          .join(lexDecontaminated.select("id"), Seq("id"), "left_semi")
        val flagged = graft.ops.Decontaminate.semanticFlags(
            corpusEmb, "id", "__emb", benchEmb, bvCol, cfg.cosineTau)
          .filter(col("contaminated")).select("id")
        lexDecontaminated.join(flagged, Seq("id"), "left_anti")
    }
    // 2c. optional corpus-trained LM gate (UnigramLM): the CCNet-shaped
    // perplexity filter, trained on the quality survivors themselves and
    // applied as a semi join — after the static floors (the model should
    // not train on gibberish), before dedup (a high-surprisal doc must not
    // survive as its cluster's representative). The gate reads its input
    // twice (model training + the semi-join left side are different
    // subplans), so the clean/quality/decontamination subtree is persisted
    // for the duration — otherwise the pipeline's most expensive scan runs
    // twice more.
    val gateCache =
      if (cfg.maxSurprisalBits.isPosInfinity) None else Some(decontaminated.persist())
    val gated = gateCache match {
      case None => decontaminated
      case Some(cached) =>
        cached.join(
          graft.ops.UnigramLM.surprisal(cached, "id", "text", cfg.maxSurprisalBits)
            .filter(col("keep")).select("id"),
          Seq("id"), "left_semi")
    }
    val fp = gated.withColumn("__fp", md5(normalized(col("text"))))
    val keep = fp.groupBy("__fp").agg(min(col("id")).as("id"))
    val deduped = fp.join(keep, Seq("__fp", "id")).drop("__fp")
      // one narrow shuffle key for everything downstream
      .repartition(col("id"))
      .persist()
    try {
      // 4. near-dup clusters: auto-selected Jaccard pair join (hot-shingle
      // guarded) → min-label propagation; singletons label themselves
      val sets = deduped.select(col("id"),
        array_distinct(graft.expressions.ShingleHashes(tokens(col("text")))).as("hs"))
      val lexPairs = JaccardPrefix.nearDupPairsAutoSets(sets, "id", "hs",
        cfg.jaccardTau, cfg.hotShingleDf)
      // 4b. optional semantic pairs: adaptive-geometry cosine LSH over the
      // SURVIVING docs' embeddings, unioned into the same edge set — one CC
      // fixpoint covers both modalities. distinct() only in this branch: a
      // pair can be both a lexical and a semantic near-dup, and duplicate
      // edges would pay in every propagation round.
      val pairs = embOpt match {
        case None => lexPairs
        case Some((emb, eid, ecol)) =>
          val alive = emb.select(col(eid).as("id"), col(ecol).as("__emb"))
            .join(deduped.select("id"), Seq("id"), "left_semi")
          val semPairs = Similarity.lshCosineNearDupAdaptive(
            alive, "id", "__emb", cfg.cosineTau, cfg.cosineRecall)
          lexPairs.union(semPairs).distinct()
      }
      val clusters = ConnectedComponents.labels(pairs)
        .select(col("id"), col("label").as("cluster"))
      val labeled = deduped.join(clusters, Seq("id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("id")))
      // 4c. optional canonicalization: collapse each near-dup cluster to its
      // best copy (argmax n_tok, ties to smallest id — Dedup.bestPerCluster)
      // instead of keeping whole clusters split-safe
      val canonical =
        if (!cfg.keepBestPerCluster) labeled
        else Dedup.bestPerCluster(labeled,
          "id", labeled.select(col("id"), col("n_tok").as("__score")), "__score")
          .drop("__score")
      // 4d. optional per-stratum document cap (C4/Gopher "limit documents
      // per domain"): the deterministic (hash, id)-ordered top-cap rows per
      // stratum (Sampling.domainCap — one stratum-keyed window), AFTER
      // dedup/canonicalization so a cap slot is never wasted on an EXACT/
      // normalized copy (always removed by stage 4a); near-dup cluster
      // members can still each take a slot under the default
      // keepBestPerCluster=false — enabling maxDocsPerStratum pairs
      // naturally with keepBestPerCluster=true, which collapses clusters
      // before slots are handed out. Runs BEFORE the split (capped-out docs
      // must not leak into any split). 0 = stage off.
      val capped =
        if (cfg.maxDocsPerStratum <= 0) canonical
        else Sampling.domainCap(canonical, "id", "strata",
          cfg.maxDocsPerStratum, salt = 6L).drop("rn")
      // 5. leakage-safe split (hash the CLUSTER, not the row id) then
      // 6. stratified mix — both map-side
      val split = Sampling.groupSafeSplit(capped, "cluster", cfg.splitWeights, salt = 2L)
      val mixed =
        if (cfg.mixRates.isEmpty && cfg.defaultRate >= 1.0) split
        else Sampling.stratifiedSample(split, "id", "strata", cfg.mixRates,
          cfg.defaultRate, salt = 1L)
      // 7. pack the configured train split into fixed-budget chunks
      val train = mixed.filter(col("split") === cfg.trainLabel)
        .select("id", "n_tok")
      val chunks = Sampling.chunkOffsets(train, "id", "n_tok", cfg.chunkBudget)
        .select("id", "n_tok", "start_offset", "chunk_first", "chunk_last")
      // materialize while the dedup cache is live; callers get
      // checkpoint-backed frames that never re-run the upstream stages
      Prepared(mixed.localCheckpoint(true), chunks.localCheckpoint(true))
    } finally {
      deduped.unpersist()
      gateCache.foreach(_.unpersist())
    }
  }

  /** The multimodal ingest→dedup stage's output:
    * @param admitted surviving media rows (doc_id, kind, payload)
    * @param dropped  the drop ledger — (doc_id, reason, kept_id): reason
    *                 "exact" (byte-identical to an earlier file, any kind)
    *                 or "near_dup_image" (within `maxDist` dHash bits of the
    *                 cluster's kept representative)
    */
  final case class MediaPrepared(
      admitted: org.apache.spark.sql.Dataset[graft.ops.Multimodal.MediaRow],
      dropped: DataFrame)

  /** Multimodal ingest → dedup, composed from the operators the specs verify
    * individually: [[graft.sources.BinaryFiles.toMedia]] (magic-byte kind
    * sniff over a binaryFile scan) → exact byte dedup across EVERY kind
    * (xxhash64 of the payload; first copy by doc_id wins, the same
    * deterministic winner rule as text dedup) → perceptual dHash near-dup
    * over the surviving images ([[graft.ops.Multimodal.imageNearDup]] —
    * decode + 64-bit difference hash + lossless pigeonhole hamming join) →
    * one connected-components pass → smallest-id representative per cluster.
    *
    * Scale shape: every decision frame is NARROW (ids + 64-bit hashes) —
    * payload bytes never enter a groupBy; they cross a shuffle only in the
    * two anti-joins that apply the drop ledger (and Catalyst broadcasts the
    * ledger side when it fits). The dHash pass is per-row mapPartitions over
    * already-admitted rows; the hamming join moves 4 band keys per image,
    * never pixels.
    */
  def prepareMedia(files: DataFrame, maxDist: Int = 10): MediaPrepared = {
    val spark = files.sparkSession
    import spark.implicits._
    val media = graft.sources.BinaryFiles.toMedia(files).toDF().persist()
    try {
      // 1. exact byte dedup, all kinds: winner = lowest doc_id per payload
      //    hash, derived entirely on the narrow (doc_id, hash) frame. A
      //    64-bit hash match is EVIDENCE, not proof — at billions of files
      //    a birthday collision silently discarding distinct content is a
      //    material risk — so candidate drops are byte-confirmed against
      //    their winner's payload before entering the ledger. Only rows in
      //    multi-member hash groups (the duplicates themselves, a small
      //    slice of the corpus) ever move payload bytes for this check.
      //    (doc_id itself is xxhash64(path): ids are collision-free to the
      //    same 64-bit birthday bound, which the caller owns — detect with
      //    a groupBy(doc_id).count > 1 assertion at ingest if the corpus
      //    approaches that regime.)
      val hashes = media.select(col("doc_id"), xxhash64(col("payload")).as("__h"))
      val keepByHash = hashes.groupBy("__h").agg(min(col("doc_id")).as("kept_id"))
      val candDropped = hashes.join(keepByHash, "__h")
        .filter(col("doc_id") =!= col("kept_id"))
      val exactDropped = candDropped
        .join(media.select(col("doc_id"), col("payload")), Seq("doc_id"))
        .join(media.select(col("doc_id").as("kept_id"), col("payload").as("__kp")),
          Seq("kept_id"))
        .filter(col("payload") === col("__kp"))
        .select(col("doc_id"), lit("exact").as("reason"), col("kept_id"))
      val exactKept = media.join(exactDropped.select("doc_id"), Seq("doc_id"), "left_anti")
      // 2. perceptual near-dup among surviving images only (an exact copy
      //    must not also vote in the perceptual pass)
      val pairs = graft.ops.Multimodal.imageNearDup(
        exactKept.filter(col("kind") === "image")
          .as[graft.ops.Multimodal.MediaRow], maxDist)
      val nearDropped = ConnectedComponents.labels(pairs)
        .filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id"), lit("near_dup_image").as("reason"),
          col("label").as("kept_id"))
      val admitted = exactKept
        .join(nearDropped.select("doc_id"), Seq("doc_id"), "left_anti")
        .as[graft.ops.Multimodal.MediaRow]
      // an exact drop's winner may itself lose the perceptual pass — chase
      // the ledger one hop so every kept_id names an ADMITTED row (one hop
      // suffices: perceptual winners are final)
      val exactResolved = exactDropped.as("e")
        .join(nearDropped.select(col("doc_id").as("__nd"), col("kept_id").as("__nk")),
          col("e.kept_id") === col("__nd"), "left")
        .select(col("e.doc_id"), col("e.reason"),
          coalesce(col("__nk"), col("e.kept_id")).as("kept_id"))
      // materialize while the media cache is live, as prepareImpl does
      MediaPrepared(
        admitted.localCheckpoint(true),
        exactResolved.union(nearDropped).localCheckpoint(true))
    } finally media.unpersist()
  }

  /** [[prepareMedia]] over a directory tree: one binaryFile scan with
    * listing-time glob pruning. */
  def prepareMediaDir(spark: org.apache.spark.sql.SparkSession, dir: String,
      glob: Option[String] = None, maxDist: Int = 10): MediaPrepared =
    prepareMedia(graft.sources.BinaryFiles.read(spark, dir, glob), maxDist)
}
