package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._

import graft.expressions.VecDot

/** Deterministic distributed k-means (Lloyd's algorithm) over an
  * `array<float>` embedding column — the centroid trainer for a REAL IVF
  * index (`sim_ivf`'s catalog entry seeds its cells from fixed ids so the
  * DuckDB oracle can mirror them; this is the production path that learns
  * them from the data).
  *
  * Every step is deterministic on any cluster size / partitioning / re-run:
  *  - INIT: the k rows with the smallest (hash, id) — the same exact-integer
  *    reservoir shape as `Sampling.kSampleByHash`, a distributed top-k,
  *    never a global sort;
  *  - ASSIGN: per-row argmin over the broadcast centroids with the tie
  *    broken by cell index — a pure map-side expression (k fused VecDot
  *    terms inside whole-stage codegen, no UDF);
  *  - UPDATE: per-cell per-dimension MEANS via exact DECIMAL(38,10) sums —
  *    float addition is order-dependent, decimal addition is not, so
  *    centroids are bit-identical however Spark schedules the partial
  *    aggregates.
  *
  * Small inputs train on the driver: one bounded probe collects at most
  * [[LocalUnits]] units of rows × dim (ids, init buckets, vectors and
  * their Spark-cast decimals) and Lloyd's runs there step for step, with
  * the same kernels and the same decimal fold, so the model is
  * bit-identical; distributed, each iteration would be a Spark job over
  * little data. Past that bound only the model (k × dim doubles) and the
  * per-partition partials reach the driver; the data never collects.
  * Scale: each iteration is one scan + one (cell, dim)-keyed partial
  * aggregate of k·dim rows; at 10⁹ vectors the driver merges k·dim·P
  * partial sums, not data.
  */
object KMeans {

  /** Trained centroids, indexed by cell id 0..k-1. */
  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Units of rows × dim (one per row, one per 64 elements past the first
    * 64 — [[DriverRoute.probeVectors]]) up to which [[fit]] trains on the
    * driver. On a local[4] ladder (64 dims, k 8, 4 iterations) the driver
    * route won up to 5·10⁴ units (1.6× at 2·10⁴) and lost near 10⁵; at
    * this bound it allocates about 550 MB on the driver, mostly short-lived
    * decimals of the per-iteration fold (CHANGES.md). A larger input pays
    * one probe job and at most LocalUnits + 1 collected units. */
  private[graft] val LocalUnits = 20000

  /** Train on `df(idCol: numeric non-negative, vecCol: array<float>)`.
    * Stops at `maxIters` or when an iteration leaves every centroid
    * bit-identical (exact, thanks to the decimal means). Cells that lose
    * all members keep their previous centroid. */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIters: Int = 8): Model = fitBounded(df, idCol, vecCol, k, maxIters, LocalUnits)

  /** [[fit]] with the driver route capped at `localUnits` (0 always runs
    * the distributed Lloyd — the specs pin both routes). */
  private[graft] def fitBounded(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIters: Int, localUnits: Int): Model = {
    require(k > 0, s"k must be positive, got $k")
    require(maxIters > 0, s"maxIters must be positive, got $maxIters")
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    probe(base, lit(0), localUnits).map(fitLocal(_, k, maxIters))
      .getOrElse(fitDistributed(base, k, maxIters))
  }

  /** One collected training row: the id, its init bucket, the vector, its
    * elements as Spark's DECIMAL(38,10) casts (null: uncastable) and the
    * caller's group (ProductQuant's block). */
  private[ops] final case class Point(id: Long, bucket: Long, v: ArrayData,
      decimals: Array[java.math.BigDecimal], group: Int)

  /** The rows of `base(id: long, v)` as points, in ONE bounded probe, or
    * None when they pass `bound` units or hold a null id or vector or an id
    * repeated within a group. */
  private[ops] def probe(base: DataFrame, group: Column, bound: Int): Option[Array[Point]] = {
    val rows = DriverRoute.probeVectors(base.select(col("id"), col("v"),
        Sampling.bucketOf(col("id"), salt = 11L, buckets = 1 << 30).as("b"),
        expr("transform(v, x -> try_cast(x AS DECIMAL(38,10)))").as("vd"),
        group.cast("int").as("g")), "v", bound)
      .getOrElse(return None)
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val keys = rows.map(r => (r.getInt(4), r.getLong(0))).sorted
    if ((1 until keys.length).exists(i => keys(i) == keys(i - 1))) return None
    Some(rows.map { r =>
      val dec = r.getArray(3)
      Point(r.getLong(0), r.getLong(2), r.getArray(1).copy(), Array.tabulate(dec.numElements()) { p =>
        if (dec.isNullAt(p)) null else dec.getDecimal(p, 38, 10).toJavaBigDecimal
      }, r.getInt(4))
    })
  }

  /** Lloyd's on the driver over probed points, step for step the
    * distributed route: the same init order, argmin scores from the same
    * VecDot kernel and literals compared as `array_min` compares them, and
    * the same decimal fold for the means — so the model is bit-identical. */
  private[ops] def fitLocal(pts: Array[Point], k: Int, maxIters: Int): Model = {
    val init = pts.sortBy(p => (p.bucket, p.id)).take(k)
      .map(p => p.v.toFloatArray.map(_.toDouble))
    require(init.nonEmpty, "cannot fit k-means on an empty frame")
    lloyd(init, maxIters) { cents =>
      val terms = cellTerms(cents).map { case (cf, cNorm) => (ArrayData.toArrayData(cf), cNorm) }
      meansOf(foldCells(pts.iterator.map { p =>
        var best = 0
        var bestS = 0.0
        for (j <- terms.indices) {
          val s = terms(j)._2 - 2.0 * VecDot.dot(p.v, terms(j)._1)
          if (j == 0 || SQLOrderingUtil.compareDoubles(s, bestS) < 0) { best = j; bestS = s }
        }
        (best, p.decimals)
      }))
    }
  }

  private def fitDistributed(df: DataFrame, k: Int, maxIters: Int): Model = {
    val base = df.persist()
    try {
      // hash-seeded init: k smallest (bucket, id) — distributed top-k
      val init = base
        .withColumn("b", Sampling.bucketOf(col("id"), salt = 11L, buckets = 1 << 30))
        .orderBy("b", "id").limit(k)
        .collect().map(_.getSeq[Float](1).toArray.map(_.toDouble))
      require(init.nonEmpty, "cannot fit k-means on an empty frame")
      // ONE Spark JOB per iteration (r17, after r16's one-shuffle form):
      // the (cell, dim) decimal means ride a NARROW plan — codegen'd
      // assignment, per-partition exact-decimal partials in a
      // mapPartitions, driver-side combine — so Lloyd's barrier is a
      // single job round-trip with NO exchange at all (the former
      // groupBy(cell, pos) paid a shuffle materialization + result job
      // per iteration under AQE). The driver holds P·k·dim partials —
      // model-sized × partition count; decimal addition is
      // order-independent, so the result is bit-identical on any
      // partitioning (cellMeansSpec pins it against the groupBy
      // reference, poison values included).
      lloyd(init, maxIters)(cents => cellMeans(assignTo(base, "v", cents)))
    } finally { base.unpersist(); () }
  }

  /** Lloyd's update loop over per-(cell, dim) means: an uncastable float
    * (|x| ≥ 10^28) or a sum past DECIMAL(38,10) capacity pins that
    * (cell, dim) mean to None — the previous coordinate is kept, as the
    * try_cast/try_sum SQL form did. Cells that lose all members keep their
    * previous centroid wholesale. */
  private def lloyd(init: Array[Array[Double]], maxIters: Int)(
      means: Array[Array[Double]] => Map[(Int, Int), Option[Double]]): Model = {
    var cents = init
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val byCell = means(cents)
      val next = cents.indices.map { j =>
        val arr = cents(j).clone()
        var touched = false
        byCell.foreach { case ((cell, pos), m) =>
          if (cell == j && pos >= 0 && pos < arr.length) {
            touched = true
            m.foreach(v => arr(pos) = v)
          }
        }
        if (touched) arr else cents(j)
      }.toArray
      converged = next.zip(cents).forall { case (a, b) => a.sameElements(b) }
      cents = next
      it += 1
    }
    Model(cents)
  }

  /** Per-(cell, dim) decimal means of an assignment frame (`cell` int,
    * `v` array<float>) in ONE narrow Spark job — no exchange. Exactness
    * contract, replicated from the former try_cast/try_sum SQL aggregate:
    *
    *  - every element is cast float → DECIMAL(38,10) BY SPARK (the same
    *    try_cast expression, so rounding is bit-identical); the fold
    *    receives the decimals themselves — nothing re-rounds in transit;
    *  - per-partition partials sum exactly ([[foldCells]], java BigDecimal
    *    — unbounded, order-independent like decimal addition everywhere in
    *    this repo);
    *  - an uncastable element (try_cast NULL, |x| ≥ 10^28) poisons its
    *    (cell, dim) to None, as bool_or(isnull) did;
    *  - a combined sum past DECIMAL(38,10) capacity is None, as
    *    try_sum's null-on-overflow was;
    *  - mean = sum / count rounded HALF_UP at scale 10 then cast double —
    *    exactly Spark's Divide(DECIMAL(38,10), count) → cast("double").
    *
    * KMeansSpec pins equality against the groupBy reference, poison and
    * empty-cell cases included. */
  private[ops] def cellMeans(assigned: DataFrame): Map[(Int, Int), Option[Double]] = {
    val partials = assigned
      .select(col("cell").cast("int").as("cell"),
        expr("transform(v, x -> try_cast(x AS DECIMAL(38,10)))").as("vd"))
      .queryExecution.toRdd
      .mapPartitions { it =>
        foldCells(it.filter(!_.isNullAt(1)).map { r =>
          val vd = r.getArray(1)
          (r.getInt(0), Array.tabulate(vd.numElements()) { p =>
            if (vd.isNullAt(p)) null else vd.getDecimal(p, 38, 10).toJavaBigDecimal
          })
        }).iterator
      }
      .collect()
    meansOf(partials.toSeq)
  }

  /** Exact partial of one (cell, dim): decimal sum, element count, and
    * whether an element was uncastable. */
  private[ops] final class Partial(val cell: Int, val pos: Int) extends Serializable {
    var sum: java.math.BigDecimal = java.math.BigDecimal.ZERO
    var count = 0L
    var bad = false
  }

  /** The per-partition fold both routes share: (cell, element decimals)
    * rows into one exact partial per (cell, dim); a null element poisons
    * its (cell, dim). Partials sit in per-cell arrays indexed by dim. */
  private[ops] def foldCells(rows: Iterator[(Int, Array[java.math.BigDecimal])]): Seq[Partial] = {
    var byCell = new Array[Array[Partial]](0)
    rows.foreach { case (cell, vd) =>
      if (cell >= byCell.length) byCell = java.util.Arrays.copyOf(byCell, cell + 1)
      val known = if (byCell(cell) == null) 0 else byCell(cell).length
      if (known < vd.length) {
        val grown = java.util.Arrays.copyOf(
          if (known == 0) new Array[Partial](0) else byCell(cell), vd.length)
        for (p <- known until vd.length) grown(p) = new Partial(cell, p)
        byCell(cell) = grown
      }
      val parts = byCell(cell)
      var p = 0
      while (p < vd.length) {
        val part = parts(p)
        val x = vd(p)
        if (x == null) part.bad = true else part.sum = part.sum.add(x)
        part.count += 1
        p += 1
      }
    }
    byCell.toSeq.filter(_ != null).flatMap(_.toSeq)
  }

  /** Combines partials into per-(cell, dim) means (None: poisoned, or the
    * sum is past DECIMAL(38,10) capacity). */
  private def meansOf(partials: Seq[Partial]): Map[(Int, Int), Option[Double]] = {
    val merged = scala.collection.mutable.HashMap
      .empty[(Int, Int), (java.math.BigDecimal, Long, Boolean)]
    partials.foreach { p =>
      val key = (p.cell, p.pos)
      val (s0, c0, b0) = merged.getOrElse(key, (java.math.BigDecimal.ZERO, 0L, false))
      merged(key) = (s0.add(p.sum), c0 + p.count, b0 || p.bad)
    }
    // DECIMAL(38,10) capacity: |unscaled| < 10^38, i.e. |value| < 10^28
    val cap = new java.math.BigDecimal(java.math.BigInteger.TEN.pow(28))
    merged.iterator.map { case (key, (s, c, bad)) =>
      key -> (if (bad || s.abs.compareTo(cap) >= 0) None
              else Some(s.divide(new java.math.BigDecimal(c), 10,
                java.math.RoundingMode.HALF_UP).doubleValue))
    }.toMap
  }

  /** Assign every row to its nearest centroid (squared L2, ties to the
    * lowest cell): adds `cell` (int) and `dist2` (double) columns. Pure
    * map-side — the centroids ride along as literals inside codegen. */
  def assign(df: DataFrame, vecCol: String, model: Model): DataFrame =
    assignTo(df, vecCol, model.centroids)

  /** One row per (input row, cell): squared L2 to EVERY centroid — the
    * probe-selection input for multi-cell IVF search. A map-side fan-out
    * of k rows per input row (k is model-sized, not data-sized). Adds
    * `cell` and `dist2` columns. */
  def assignAll(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val v = col(vecCol)
    val entries = cellTerms(model.centroids).zipWithIndex.map { case ((cf, cNorm), j) =>
      struct(lit(j).as("cell"),
        greatest(lit(cNorm) - lit(2.0) * VecDot(v, typedLit(cf.toSeq)) +
          VecDot(v, v), lit(0.0)).as("dist2"))
    }
    df.withColumn("__c", explode(array(entries.toIndexedSeq: _*)))
      .withColumn("cell", col("__c").getField("cell"))
      .withColumn("dist2", col("__c").getField("dist2"))
      .drop("__c")
  }

  /** Per centroid, the float literal the scores multiply and its squared
    * norm c·c — shared by both fit routes and the assignments. */
  private def cellTerms(cents: Array[Array[Double]]): Array[(Array[Float], Double)] =
    cents.map(c => (c.map(_.toFloat), c.map(x => x * x).sum))

  // NOTE (r16 probe, kept as a record): rewriting the per-cell struct
  // array as transform(sequence(0,k-1), j -> ...) with the model as array
  // literals makes the generated source iteration-stable (array literals
  // are codegen reference objects; the per-cell scalar lit(cNorm) is
  // inlined and forces a fresh Janino compile per fit iteration) — but
  // higher-order functions do NOT participate in whole-stage codegen, so
  // every VecDot would run interpreted per element: a per-row regression
  // at data scale to save driver-side compiles that measured ~nothing
  // (fit wall time unchanged at sf0.1 — the cost there is the ~2 jobs per
  // iteration, inherent to Lloyd's). The codegen'd unrolled form stays.
  private def assignTo(df: DataFrame, vecCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol)
    // ||x-c||² = x·x − 2·x·c + c·c; x·x is shared across cells, and adding
    // it to every term preserves the argmin, so drop it: score = c·c − 2x·c
    val scored = cellTerms(cents).zipWithIndex.map { case ((cf, cNorm), j) =>
      struct((lit(cNorm) - lit(2.0) * VecDot(v, typedLit(cf.toSeq))).as("s"),
        lit(j).as("cell"))
    }
    val best = array_min(array(scored.toIndexedSeq: _*))
    df.withColumn("cell", best.getField("cell"))
      .withColumn("dist2",
        greatest(best.getField("s") + VecDot(v, v), lit(0.0)))
  }
}
