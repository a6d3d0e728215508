package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding search (Jégou, Douze, Schmid 2011,
  * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI): split
  * every d-dim vector into `m` sub-vectors, quantize each against its
  * block's `k`-codeword codebook, and answer queries with asymmetric
  * distance computation (ADC) — exact query sub-vector vs the corpus's
  * codewords — so each corpus vector is m small codes, not d floats. This
  * is the memory half of IVF-PQ, the standard web-scale ANN layout: IVF
  * ([[KMeans]], `Similarity.ivfTopK`) prunes WHICH vectors to score, PQ
  * shrinks WHAT is stored and scored.
  *
  * Scale posture (100 TB of vectors): the codebook is m·k sub-vectors
  * (128 rows here) — broadcast, never corpus-sized; encoding is one
  * broadcast join + one window keyed by vector id (linear, no pair join);
  * the encoded corpus is m bytes-ish per vector (the point of PQ); ADC
  * scores via a query×codeword lookup table of q·m·k rows — broadcast —
  * followed by one per-(query, vector) fold. The only collect is
  * [[trainedCodebook]]'s bounded probe of small corpora; ties break on
  * codeword/vector id so results are deterministic on any cluster size.
  *
  * Determinism: all distances are left-to-right ordered folds of
  * (x−c)² in DOUBLE (each float cast before subtracting), so a SQL twin
  * reproduces them bit-for-bit; the per-pair ADC total sums its m block
  * distances in fixed block order (sorted fold after collect), never in
  * shuffle arrival order.
  */
object ProductQuant {

  /** (block, code, sub-vector) codebook rows from per-block training
    * vectors: the catalog uses `k` fixed corpus vectors (oracle-mirrorable,
    * like sim_ivf's seed centroids); production trains each block's
    * codebook with [[KMeans.fit]] on the block slice — the plumbing is
    * identical (the codebook is whatever (b, j, sub) rows you pass). */
  def codebookFromVectors(train: DataFrame, codeCol: String, embCol: String,
      m: Int): DataFrame =
    train.select(col(codeCol).cast("long").as("code"),
      posexplode(subBlocks(embCol, m)).as(Seq("b", "sub")))

  /** The PRODUCTION codebook: per block, [[KMeans.fit]] on the block slice
    * — the bit-deterministic Lloyd pass (hash-seeded init, codegen argmin,
    * exact-decimal means), m small models of k×(d/m) doubles each. ONE
    * bounded probe of all m blocks decides: up to [[KMeans.LocalUnits]]
    * units of block rows × width every block trains on the driver from
    * that probe; past it the blocks train distributed and only the models
    * reach the driver, never the corpus. Output rows
    * (code, b, sub) drop into [[encode]]/[[adcTopK]] unchanged — the
    * fixed-seed catalog codebook and this trained one are the same
    * contract (ProductQuantSpec pins exact-recovery geometry: when each
    * block's sub-vectors take k distinct values, training recovers them
    * and ADC equals exact search). */
  def trainedCodebook(vectors: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, maxIters: Int = 8): DataFrame =
    trainedCodebookBounded(vectors, idCol, embCol, m, k, maxIters, KMeans.LocalUnits)

  /** [[trainedCodebook]] with the driver route capped at `localUnits` (0
    * always trains the blocks with the distributed Lloyd). */
  private[graft] def trainedCodebookBounded(vectors: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, maxIters: Int, localUnits: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val blocks = vectors
      .select(col(idCol), posexplode(subBlocks(embCol, m)).as(Seq("b", "sub")))
    // one probe for all m blocks: when they fit, every block trains on the
    // driver; otherwise every block runs the distributed Lloyd
    val probed = KMeans.probe(
      blocks.select(col(idCol).cast("long").as("id"), col("sub").as("v"), col("b")),
      col("b"), localUnits)
    val models = probed match {
      case Some(points) =>
        val byBlock = points.groupBy(_.group)
        (0 until m).map(b => KMeans.fitLocal(byBlock.getOrElse(b, Array.empty), k, maxIters))
      case None =>
        val cached = blocks.persist()
        try (0 until m).map(b =>
          KMeans.fitBounded(cached.filter(col("b") === b), idCol, "sub", k, maxIters, 0))
        finally { cached.unpersist(); () }
    }
    models.zipWithIndex.flatMap { case (model, b) =>
      model.centroids.zipWithIndex.map { case (c, j) => (j.toLong, b, c.toSeq) }
    }.toDF("code", "b", "sub")
  }

  // Block width is size(emb) div m: when m does not divide the dimension,
  // the trailing (size mod m) dims are NOT covered by any block — callers
  // pick m to divide d (64 = 8×8 here). Kept as an arithmetic contract
  // rather than a runtime assert: size() is per-row and the codebook and
  // vectors must simply agree, which encode's equi-join on (b) guarantees
  // structurally.
  private def subBlocks(embCol: String, m: Int): Column =
    expr(s"transform(sequence(0, ${m - 1}), b -> slice($embCol, b * (size($embCol) div $m) + 1, size($embCol) div $m))")

  /** Ordered-fold squared L2 distance between two float sub-vectors, each
    * element cast to double BEFORE subtraction (the SQL twin does the
    * same). */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => (x.cast("double") - c.cast("double")) * (x.cast("double") - c.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Encode every vector: (idCol, b, code) — per block, the codeword with
    * the smallest squared distance, ties to the smallest code. `codebook`
    * rows are (code, b, sub).
    *
    * The argmin is an aggregate `min(struct(__d, code))` — struct ordering
    * is lexicographic, so the minimum is exactly the old
    * `row_number() OVER (ORDER BY __d ASC, code ASC) = 1` row — rather than
    * a window: a window must shuffle AND sort every (vector, block,
    * codeword) scored row (n·m·k rows — k× the encoded output), while the
    * aggregate folds map-side to one partial row per (vector, block) before
    * the exchange (guide §2.3 "aggregate before you shuffle"). At 10⁹
    * vectors with k=16 that is 16× fewer shuffled rows and no sort. */
  def encode(vectors: DataFrame, idCol: String, embCol: String,
      codebook: DataFrame, m: Int): DataFrame = {
    val blocks = vectors
      .select(col(idCol), posexplode(subBlocks(embCol, m)).as(Seq("b", "__sub")))
    blocks
      .join(broadcast(codebook), Seq("b"))
      .select(col(idCol), col("b"),
        struct(sqDist(col("__sub"), col("sub")).as("__d"), col("code")).as("__dc"))
      .groupBy(col(idCol), col("b"))
      .agg(min(col("__dc")).as("__best"))
      .select(col(idCol), col("b"), col("__best.code").as("code"))
  }

  /** IVF-PQ search — the two halves of the standard web-scale vector-store
    * layout COMPOSED: IVF cell assignment prunes WHICH corpus vectors a
    * query scores (only those in the query's own cell — probe 1, the
    * determinism-friendly setting; production probes several cells and the
    * union is a filter widening, not a shape change), PQ codes shrink WHAT
    * is stored and scored (ADC — the corpus's floats are never touched at
    * query time). `corpusAssigned` / `queriesAssigned` carry (idCol,
    * embCol, cell) from `Similarity.assignCellsCosine` or `KMeans.assign`.
    * Output: (q_id, rank, nbr_id), rank ≤ k by (ADC distance asc, id asc).
    *
    * Scale posture: encoding is [[encode]]'s linear pass plus one id-keyed
    * join to re-attach the cell; the query LUT (queries × m × codewords,
    * with each query's single cell id) broadcasts; the candidate join keys
    * on (cell, b, code) so only same-cell codes shuffle into the per-pair
    * fold — the IVF pruning happens IN the join key, not as a post-filter.
    */
  def ivfpqTopK(corpusAssigned: DataFrame, queriesAssigned: DataFrame,
      idCol: String, embCol: String, codebook: DataFrame, m: Int,
      k: Int): DataFrame = {
    val codes = encode(corpusAssigned, idCol, embCol, codebook, m)
      .join(corpusAssigned.select(col(idCol), col("cell")), Seq(idCol))
    val lut = queriesAssigned
      .select(col(idCol).as("q_id"), col("cell"),
        posexplode(subBlocks(embCol, m)).as(Seq("b", "__qsub")))
      .join(codebook, Seq("b"))
      .select(col("q_id"), col("cell"), col("b"), col("code"),
        sqDist(col("__qsub"), col("sub")).as("__d"))
    val wTop = Window.partitionBy("q_id").orderBy(col("adist").asc, col(idCol).asc)
    codes
      .join(broadcast(lut), Seq("cell", "b", "code"))
      .groupBy(col("q_id"), col(idCol))
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("b"), col("__d")))),
            x => x.getField("__d")),
          lit(0.0), (acc, v) => acc + v).as("adist"))
      .filter(col("q_id") =!= col(idCol))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol).as("nbr_id"))
  }

  /** ADC top-k: for each query row (exact sub-vectors), the k nearest
    * corpus vectors by the sum of per-block query→codeword distances.
    * Output: (q_id, rank, nbr_id). Queries score against ENCODED vectors
    * only — the corpus's floats are never touched at query time. */
  def adcTopK(codes: DataFrame, queries: DataFrame, qIdCol: String,
      qEmbCol: String, codebook: DataFrame, m: Int, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    // query × codeword lookup table: |queries|·m·|codebook codes| rows — broadcast
    val lut = queries
      .select(col(qIdCol).as("q_id"), posexplode(subBlocks(qEmbCol, m)).as(Seq("b", "__qsub")))
      .join(codebook, Seq("b"))
      .select(col("q_id"), col("b"), col("code"), sqDist(col("__qsub"), col("sub")).as("__d"))
    val wTop = Window.partitionBy("q_id").orderBy(col("adist").asc, col(idCol).asc)
    codes
      .join(broadcast(lut), Seq("b", "code"))
      .groupBy(col("q_id"), col(idCol))
      // fixed block order: sort the (b, d) pairs, then fold — never
      // shuffle-arrival order (double addition is not associative)
      .agg(aggregate(
          transform(array_sort(collect_list(struct(col("b"), col("__d")))),
            x => x.getField("__d")),
          lit(0.0), (acc, v) => acc + v).as("adist"))
      .filter(col("q_id") =!= col(idCol))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol).as("nbr_id"))
  }
}
