package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KMeansSpec extends SparkSpec {

  /** Three well-separated blobs in 4-D: 20 points each around distinct
    * corners, deterministic pseudo-noise from the point index. */
  private def blobs = {
    import spark.implicits._
    val centers = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    (0 until 60).map { i =>
      val c = centers(i % 3)
      val noise = (d: Int) => ((i * 31 + d * 7) % 11 - 5) * 0.05f
      (i.toLong, c.zipWithIndex.map { case (x, d) => x + noise(d) })
    }.toDF("id", "emb")
  }

  /** Registers `body` as `name` on the default routes, and again with the
    * driver route off (bound 0: the distributed Lloyd). */
  private def onBothRoutes(name: String)(body: Int => Unit): Unit = {
    test(name)(body(KMeans.LocalUnits))
    test(s"$name (distributed route)")(body(0))
  }

  private def fit(df: org.apache.spark.sql.DataFrame, k: Int, bound: Int,
      maxIters: Int = 8): KMeans.Model =
    KMeans.fitBounded(df, "id", "emb", k, maxIters, bound)

  onBothRoutes("k-means recovers well-separated blobs, one cell per blob") { bound =>
    val model = fit(blobs, 3, bound)
    assert(model.k == 3)
    val assigned = KMeans.assign(blobs, "emb", model)
      .select(col("id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    // every point of a blob (id mod 3) lands in the same cell, and the
    // three blobs land in three distinct cells
    val byBlob = assigned.groupBy(_._1 % 3).map { case (b, xs) =>
      b -> xs.map(_._2).toSet
    }
    assert(byBlob.values.forall(_.size == 1), s"split blob: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 3, s"merged blobs: $byBlob")
  }

  test("cellMeans equals the groupBy decimal-mean reference, poison included") {
    import spark.implicits._
    // 4 cells, 3 dims; row 13 carries an uncastable first dim (1e30 is past
    // DECIMAL(38,10) capacity) so exactly one (cell, dim) must poison to None
    val rows = (0 until 57).map { i =>
      val v =
        if (i == 13) Seq(1.0e30f, 2.5f, -3.25f)
        else Seq(i * 0.1f, -i * 0.25f + 0.3f, (i % 7) * 1.5f)
      (i % 4, v)
    }.toDF("cell", "v").repartition(5)
    val got = KMeans.cellMeans(rows)
    val ref = rows
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(when(expr("bool_or(try_cast(x AS DECIMAL(38,10)) IS NULL)"),
          lit(null).cast("double"))
        .otherwise((expr("try_sum(try_cast(x AS DECIMAL(38,10)))") /
          count(lit(1))).cast("double")).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(got.size == ref.size)
    assert(got((1, 0)).isEmpty, "the 1e30 dim must poison to None")
    ref.foreach { case (k, v) =>
      assert(got(k) == v, s"cellMeans diverged from the groupBy reference at $k")
    }
  }

  onBothRoutes("fit is bit-deterministic across input partitionings") { bound =>
    val a = fit(blobs.repartition(7), 3, bound)
    val b = fit(blobs.repartition(2).sortWithinPartitions(desc("id")), 3, bound)
    assert(a.centroids.length == b.centroids.length)
    a.centroids.zip(b.centroids).foreach { case (x, y) =>
      assert(x.sameElements(y), "centroids diverged across partitionings")
    }
  }

  onBothRoutes("assignment is map-side only: no exchange in the plan") { bound =>
    val model = fit(blobs, 3, bound)
    val plan = KMeans.assign(blobs.repartition(4), "emb", model)
      .queryExecution.executedPlan.toString
    // the only exchange allowed is the input repartition itself
    assert(plan.split("Exchange").length <= 2, s"unexpected exchange:\n$plan")
  }

  test("trained IVF at full probe equals brute force; partial probe recalls most") {
    import graft.api.Similarity
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val brute = asMap(Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 3))
    // probing every cell searches the whole corpus: must equal brute force
    // exactly (same similarity, same tiebreaks)
    val full = asMap(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 3, nCells = 8, nProbe = 8, maxIters = 4))
    assert(full == brute, "full-probe IVF must be exhaustive search")
    // a 3-of-8-cell probe is approximate but must recall most of the truth
    // (set recall per query — a missed neighbor shifts ranks, so position-
    // exact comparison would understate it)
    val part = asMap(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 3, nCells = 8, nProbe = 3, maxIters = 4))
    def sets(m: Map[(Long, Int), Long]) =
      m.groupBy(_._1._1).view.mapValues(_.values.toSet).toMap
    val bs = sets(brute)
    val ps = sets(part)
    val hits = bs.map { case (q, s) => (s intersect ps.getOrElse(q, Set.empty)).size }.sum
    val recall = hits.toDouble / bs.values.map(_.size).sum
    assert(recall >= 0.5, s"partial-probe recall $recall collapsed")
  }

  onBothRoutes("extreme-magnitude floats degrade gracefully instead of NPEing in fit") { bound =>
    import spark.implicits._
    // Float.MaxValue ≈ 3.4·10³⁸ — ONE such value already exceeds the
    // DECIMAL(38,10) accumulator (integer capacity 10²⁸), so Spark returns
    // a NULL mean for that (cell, dim); fit must keep the previous centroid
    // coordinate there, not NPE on the collected row. The second dimension
    // stays sane and must still train normally.
    val hostile = Seq(
      (0L, Array(Float.MaxValue, 1f)), (1L, Array(Float.MaxValue, 2f)),
      (2L, Array(-1f, 10f)), (3L, Array(-2f, 11f))).toDF("id", "emb")
    val model = fit(hostile, 2, bound, maxIters = 3)
    assert(model.k == 2 && model.centroids.forall(_.length == 2))
    assert(model.centroids.forall(_.forall(v => !v.isNaN && !v.isInfinite)))
    // every row still lands in a cell
    assert(KMeans.assign(hostile, "emb", model).select("cell")
      .collect().map(_.getInt(0)).forall(c => c >= 0 && c < 2))
  }

  onBothRoutes("an empty cell keeps its previous centroid instead of crashing") { bound =>
    import spark.implicits._
    // two identical points, k = 3: at most one cell can own members
    val tiny = Seq((0L, Array(1f, 1f)), (1L, Array(1f, 1f))).toDF("id", "emb")
    val model = fit(tiny, 3, bound, maxIters = 4)
    assert(model.k >= 1 && model.centroids.forall(_.length == 2))
    val cells = KMeans.assign(tiny, "emb", model)
      .select("cell").collect().map(_.getInt(0)).toSet
    assert(cells.size == 1)
  }

  private def sameModel(a: KMeans.Model, b: KMeans.Model): Boolean =
    a.k == b.k && a.centroids.zip(b.centroids).forall { case (x, y) => java.util.Arrays.equals(x, y) }

  /** Both fit routes on one frame: bit-identical models (NaN matches NaN).
    * Returns whether the default call took the driver route (its probe
    * accepted the rows). */
  private def bothRoutes(df: org.apache.spark.sql.DataFrame, k: Int, maxIters: Int,
      bound: Int = KMeans.LocalUnits): Boolean = {
    val got = fit(df, k, bound, maxIters)
    val want = fit(df, k, 0, maxIters)
    assert(sameModel(got, want),
      s"routes diverged: ${got.centroids.map(_.toSeq).toSeq} vs ${want.centroids.map(_.toSeq).toSeq}")
    takesDriver(df, bound)
  }

  private def takesDriver(df: org.apache.spark.sql.DataFrame, bound: Int = KMeans.LocalUnits) =
    KMeans.probe(df.select(col("id").cast("long").as("id"), col("emb").as("v")), lit(0), bound)
      .isDefined

  private def frame(rows: Seq[(Long, Seq[Float])]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("id", "emb")
  }

  test("driver route equals the distributed Lloyd: bit-identical models (property)") {
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed)
      val (n, dim) = (1 + rnd.nextInt(60), 1 + rnd.nextInt(8))
      val ids = rnd.shuffle((0L until 1000L).toList).take(n)
      val rows = ids.map(i => i -> Seq.fill(dim)((rnd.nextGaussian() * 3).toFloat))
      // a literal input and a shuffled one (probed through a real job)
      assert(bothRoutes(frame(rows), 1 + rnd.nextInt(6), 1 + rnd.nextInt(5)))
      assert(bothRoutes(frame(rows).repartition(3), 1 + rnd.nextInt(6), 1 + rnd.nextInt(5)))
    }
    val edge = Map(
      "Float.MaxValue poison" -> Seq(0L -> Seq(Float.MaxValue, 1f), 1L -> Seq(Float.MaxValue, 2f),
        2L -> Seq(-1f, 10f), 3L -> Seq(-2f, 11f)),
      "NaN elements" -> Seq(0L -> Seq(Float.NaN, 1f), 1L -> Seq(2f, Float.NaN),
        2L -> Seq(-1f, 10f), 3L -> Seq(-2f, 11f), 4L -> Seq(5f, 5f)),
      "empty cells" -> Seq(0L -> Seq(1f, 1f), 1L -> Seq(1f, 1f)),
      "tied cells, signed zeros" -> Seq(0L -> Seq(0f, 1f), 1L -> Seq(-0f, 1f), 2L -> Seq(0f, 1f),
        3L -> Seq(4f, 4f), 4L -> Seq(2f, 2.5f)),
      "k > n" -> Seq(5L -> Seq(1f, 2f, 3f), 9L -> Seq(3f, 2f, 1f)),
      "ragged lengths" -> Seq(0L -> Seq(1f), 1L -> Seq(1f, 2f, 3f), 2L -> Seq(2f, 2f),
        3L -> Seq.empty[Float], 4L -> Seq(9f, 8f, 7f, 6f), 5L -> Seq(1f, 1f)))
    for ((what, rows) <- edge; k <- Seq(1, 2, 3, 10))
      assert(bothRoutes(frame(rows), k, 4), s"driver route not taken: $what, k=$k")
  }

  test("driver route falls back: null or repeated ids, rows past the bound") {
    import spark.implicits._
    val nullId = Seq((Some(1L), Seq(1f, 2f)), (None, Seq(3f, 4f)), (Some(3L), Seq(5f, 6f)))
      .toDF("id", "emb")
    val repeated = frame(Seq(1L -> Seq(1f, 2f), 1L -> Seq(3f, 4f), 2L -> Seq(5f, 6f)))
    // (a repeated id leaves the distributed init order open, so only the
    // route is checked)
    for (df <- Seq(nullId, repeated)) assert(!takesDriver(df), s"driver route taken on $df")
    assert(!bothRoutes(nullId, 2, 3))
    // 10 rows of 2 dims are 10 units: past a bound of 9, at a bound of 10
    val ten = frame((0L until 10L).map(i => i -> Seq(i.toFloat, 1f)))
    assert(!bothRoutes(ten, 3, 3, bound = 9))
    assert(bothRoutes(ten, 3, 3, bound = 10))
    // 3 rows of 130 dims are 3 units each: past 8, at 9
    val long = frame((0L until 3L).map(i => i -> Seq.tabulate(130)(d => (i * d % 7).toFloat)))
    assert(!bothRoutes(long, 2, 3, bound = 8))
    assert(bothRoutes(long, 2, 3, bound = 9))
  }

  test("a small fit and a trained codebook each run at most 1 Spark job") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val (model, jobs) = withJobCount(KMeans.fit(emb, "vec_id", "embedding", k = 8, maxIters = 4))
    assert(jobs <= 1, s"$jobs Spark jobs")
    assert(sameModel(model, KMeans.fitBounded(emb, "vec_id", "embedding", 8, 4, 0)))
    val (cb, cbJobs) = withJobCount(
      ProductQuant.trainedCodebook(emb, "vec_id", "embedding", m = 2, k = 8, maxIters = 2)
        .collect().toSet)
    assert(cbJobs <= 1, s"$cbJobs Spark jobs")
    assert(cb == ProductQuant.trainedCodebookBounded(emb, "vec_id", "embedding", 2, 8, 2, 0)
      .collect().toSet)
  }
}
