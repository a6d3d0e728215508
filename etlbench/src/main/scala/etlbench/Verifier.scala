package etlbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** The verification pass's sink. Catalog outputs that carry DuckDB oracle
  * SQL are written as parquet for the runner's oracle compare; every other
  * output is collected (outputs here are small) and gets an
  * order-independent digest, compared against pinned per-seed digests by
  * the runner. The ops' invariants run on the collected rows, so checking
  * costs no Spark jobs beyond the one that produces each output, and none
  * of it is timed. */
final class Verifier(dir: String) extends Sink {
  private val oracleSql = graft.SparkEntry.oracleSql
  val digests = mutable.LinkedHashMap.empty[String, String]
  val oracle = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
  private var op = ""

  def begin(name: String): Unit = op = name

  def apply(label: String, df: DataFrame): Seq[Row] = oracleSql.get(label) match {
    case Some(sql) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$label")
      oracle(label) = sql
      Nil
    case None =>
      val rows = df.collect().toSeq
      digests(label) = Verifier.digest(rows)
      rows
  }

  override def check(what: String)(ok: => Boolean): Unit =
    if (!ok) {
      System.err.println(s"[etlbench] CHECK FAILED $op: $what")
      failures += s"$op: $what"
    }

  override def metric(key: String)(v: => Double): Unit = layerMetrics(key) = v
}

object Verifier {
  private def hash64(r: Row): Long = {
    val s = r.toString
    (MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
  }

  /** "rows:hex sum of per-row hashes" over every column, independent of
    * row order and partitioning. */
  def digest(rows: Seq[Row]): String =
    s"${rows.size}:${java.lang.Long.toHexString(rows.iterator.map(hash64).sum)}"

  def longs(rows: Seq[Row], c: String): Seq[Long] =
    rows.map(_.getAs[Any](c).asInstanceOf[Number].longValue)

  /** True when no value of column `c` lies outside `universe`. */
  def subset(rows: Seq[Row], c: String, universe: Set[Long]): Boolean =
    longs(rows, c).forall(universe)

  /** True when no combination of `cols` occurs twice. */
  def unique(rows: Seq[Row], cols: String*): Boolean =
    rows.map(r => cols.map(r.getAs[Any])).distinct.size == rows.size
}
