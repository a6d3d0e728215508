package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PQ properties the oracle can't express: hand-computed codes on a tiny
  * geometry, ADC agreement with exact search when the codebook is the
  * corpus itself, and partitioning determinism. */
class ProductQuantSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def vecs(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("encode picks the nearest codeword per block, ties to smallest code") {
    // 4-dim, m=2 blocks of 2. Codewords per block: code 0 = (0,0), code 1 = (10,10)
    val cbVecs = vecs(Seq(0L -> Seq(0f, 0f, 0f, 0f), 1L -> Seq(10f, 10f, 10f, 10f)))
    val cb = ProductQuant.codebookFromVectors(cbVecs, "vec_id", "embedding", m = 2)
    val data = vecs(Seq(
      100L -> Seq(1f, 1f, 9f, 9f),   // block 0 → code 0, block 1 → code 1
      101L -> Seq(5f, 5f, 5f, 5f)))  // equidistant → ties to code 0 in both blocks
    val got = ProductQuant.encode(data, "vec_id", "embedding", cb, m = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == Map((100L, 0) -> 0L, (100L, 1) -> 1L, (101L, 0) -> 0L, (101L, 1) -> 0L))
  }

  test("ADC with a self-codebook reproduces exact nearest neighbors") {
    // every corpus vector is its own codeword -> PQ distance == exact distance
    val data = vecs(Seq(
      0L -> Seq(0f, 0f), 1L -> Seq(1f, 0f), 2L -> Seq(4f, 4f), 3L -> Seq(5f, 4f)))
    val cb = ProductQuant.codebookFromVectors(data, "vec_id", "embedding", m = 1)
    val codes = ProductQuant.encode(data, "vec_id", "embedding", cb, m = 1)
    val top = ProductQuant.adcTopK(codes, data, "vec_id", "embedding", cb, m = 1, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top == Map(0L -> 1L, 1L -> 0L, 2L -> 3L, 3L -> 2L))
  }

  /** Registers `body` as `name` on the default routes, and again with the
    * driver route off (bound 0: the distributed Lloyd). */
  private def onBothRoutes(name: String)(body: Int => Unit): Unit = {
    test(name)(body(KMeans.LocalUnits))
    test(s"$name (distributed route)")(body(0))
  }

  onBothRoutes("trained codebook quantizes losslessly at covering k, making ADC exact") { bound =>
    // each block's sub-vectors take 2 distinct values; training with k
    // covering every vector puts both values in every block's codebook
    // (hash-seeded init picks all points at k = n, so this holds for ANY
    // init order) -> quantization error 0 -> ADC == brute-force L2
    val a = Seq(0f, 0f); val b = Seq(8f, 8f)   // block-0 vocabulary
    val c = Seq(1f, 1f); val d = Seq(9f, 9f)   // block-1 vocabulary
    val rows = (0L until 20L).map { i =>
      val b0 = if (i % 2 == 0) a else b
      val b1 = if (i % 3 == 0) c else d
      i -> (b0 ++ b1)
    }
    val data = vecs(rows)
    val cb = ProductQuant.trainedCodebookBounded(data, "vec_id", "embedding", m = 2, k = 20,
      maxIters = 8, localUnits = bound)
    // every vector's block distance to its nearest codeword is exactly 0:
    // the ADC ranking equals brute-force L2 over the original vectors
    val adc = ProductQuant.adcTopK(
        ProductQuant.encode(data, "vec_id", "embedding", cb, m = 2),
        data, "vec_id", "embedding", cb, m = 2, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def d2(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum
    val exact = rows.map { case (i, v) =>
      i -> rows.filter(_._1 != i).minBy { case (j, w) => (d2(v, w), j) }._1
    }.toMap
    assert(adc == exact)
  }

  test("encode and ADC are partitioning-independent on real embeddings") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select("vec_id", "embedding")
    val cb = ProductQuant.codebookFromVectors(
      e.filter(col("vec_id") < 16).withColumn("code", col("vec_id")),
      "code", "embedding", m = 8)
    def run(df: DataFrame) = {
      val codes = ProductQuant.encode(df, "vec_id", "embedding", cb, m = 8)
      ProductQuant.adcTopK(codes, df.filter(col("vec_id") < 5), "vec_id", "embedding",
          cb, m = 8, k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    assert(run(e) == run(e.repartition(13)))
  }

  test("ivfpq with a single cell equals plain ADC; with real cells it prunes to own cell") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select("vec_id", "embedding")
    val cb = ProductQuant.codebookFromVectors(
      e.filter(col("vec_id") < 16).withColumn("code", col("vec_id")),
      "code", "embedding", m = 8)
    // ONE cell: the IVF layer prunes nothing, so ivfpqTopK must equal adcTopK
    val oneCell = e.withColumn("cell", lit(0L))
    val viaIvfpq = ProductQuant.ivfpqTopK(oneCell,
        oneCell.filter(col("vec_id") < 5), "vec_id", "embedding", cb, m = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaAdc = ProductQuant.adcTopK(
        ProductQuant.encode(e, "vec_id", "embedding", cb, m = 8),
        e.filter(col("vec_id") < 5), "vec_id", "embedding", cb, m = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaIvfpq == viaAdc, "single-cell IVF-PQ must degenerate to plain ADC")
    // real cells: every returned neighbor must share the query's cell
    val cents = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val assigned = graft.api.Similarity.assignCellsCosine(
      e, "vec_id", "embedding", cents, "c_id", "c_emb")
    val cellOf = assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pruned = ProductQuant.ivfpqTopK(assigned,
        assigned.filter(col("vec_id") < 5), "vec_id", "embedding", cb, m = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pruned.nonEmpty)
    for ((q, nbr) <- pruned)
      assert(cellOf(q) == cellOf(nbr), s"neighbor $nbr not in query $q's cell")
  }

  test("driver-trained codebook equals the distributed one, block for block (property)") {
    val rnd = new scala.util.Random(11)
    for (m <- Seq(1, 2, 4); k <- Seq(1, 3, 40)) {
      val rows = (0L until 30L).map(i => (i * 3) -> Seq.fill(8)((rnd.nextGaussian() * 2).toFloat))
      val data = vecs(rows).repartition(2)
      def cb(bound: Int) = ProductQuant.trainedCodebookBounded(data, "vec_id", "embedding",
        m, k, maxIters = 3, localUnits = bound)
      val (got, want) = (cb(KMeans.LocalUnits), cb(0))
      assert(got.schema == want.schema)
      assert(got.collect().toSet == want.collect().toSet, s"m=$m k=$k")
    }
  }
}
