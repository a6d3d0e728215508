package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.unsafe.Platform

/** The probe and the result frame shared by the ops that resolve small
  * inputs on the driver (ConnectedComponents, JaccardPrefix, KMeans,
  * ProductQuant, the LSH near-dup in api.Similarity). Both work on Spark's
  * internal rows: a probe returns the executed plan's rows without the Row
  * deserializer, and a result frame is a LocalRelation over rows written
  * from primitive arrays, so neither boxes a value per column.
  */
object DriverRoute {

  /** At most `bound` rows of `df`, or None when it has more (or `bound` is
    * 0): one `limit(bound + 1)` collect, recorded as a SQL execution like
    * `Dataset.collect`. */
  def probe(df: DataFrame, bound: Int): Option[Array[InternalRow]] = {
    if (bound <= 0) return None
    val qe = df.limit(bound + 1).queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    if (rows.length > bound) None else Some(rows)
  }

  /** Elements per unit of a vector row in [[probeVectors]]. */
  private val UnitElements = 64

  /** [[probe]] over a frame whose `vec` column is an array, with the bound
    * counted in units of max(1, ⌈size / 64⌉) per row, so it caps rows × dim
    * and a probe of long vectors stops after about `bound` · 64 elements,
    * not `bound` vectors. Each row is exploded into its units and only the
    * first carries the values; the rows come back with `df`'s columns at
    * their ordinals. */
  def probeVectors(df: DataFrame, vec: String, bound: Int): Option[Array[InternalRow]] = {
    val units = greatest(lit(1), ceil(coalesce(size(col(vec)), lit(0)) / UnitElements).cast("int"))
    val first = col("__unit") === 1
    val weighted = df.select(df.columns.map(col) :+ explode(sequence(lit(1), units)).as("__unit"): _*)
      .select(df.columns.map(c => when(first, col(c)).as(c)) :+ first.as("__first"): _*)
    val last = df.columns.length
    probe(weighted, bound).map(_.filter(_.getBoolean(last)))
  }

  /** A frame of two integral id columns (`schema`: two LongType or two
    * IntegerType fields) holding the first `n` entries of `left` and
    * `right`: n UnsafeRows over one shared buffer. */
  def idPairs(spark: SparkSession, schema: StructType, left: Array[Long], right: Array[Long],
      n: Int): DataFrame = {
    val width = UnsafeRow.calculateBitSetWidthInBytes(2) + 16
    val buf = new Array[Byte](n * width)
    val ints = schema.head.dataType == IntegerType
    val rows = Array.tabulate[InternalRow](n) { i =>
      val r = new UnsafeRow(2)
      r.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + i * width, width)
      if (ints) { r.setInt(0, left(i).toInt); r.setInt(1, right(i).toInt) }
      else { r.setLong(0, left(i)); r.setLong(1, right(i)) }
      r
    }
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows.toSeq))
  }
}
