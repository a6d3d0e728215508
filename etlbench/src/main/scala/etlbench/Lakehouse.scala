package etlbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TxLog

/** The lakehouse: one writer on a graft.sources.TxLog table seeded from
  * `lineitem` runs a seeded sequence of small appends, upserts (`merge` and
  * `mergeFull`), deletion-vector deletes and updates, periodic optimize /
  * checkpoint / vacuum, interleaved with snapshot, time-travel, pruned and
  * change-feed reads. At seeded positions in between run the analytical
  * side (entries of the catalog's relational, time and sketch families
  * over the base tables), two `acid_*` catalog entries, and one
  * exactly-once streaming ingest of `events`.
  *
  * The table sequence is planned once from the seed against a plain
  * in-memory replay (a key -> row map per step); every pass runs it on a
  * fresh table, and after the pass the table's tip and two time-travel
  * versions are compared with the replay, and the streamed table with its
  * source. */
final class LakehouseMixed(c: Ctx) extends Workload {
  private val spark = c.spark
  private val rng = new scala.util.Random(c.seed)
  private val Key = "l_id"
  private val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
  private val schema = StructType(StructField(Key, LongType) +: cols.map { n =>
    StructField(n, if (n.endsWith("key")) LongType else if (n.startsWith("l_r") || n.startsWith("l_l")) StringType else DoubleType)
  })
  private val Base = 6000
  private val Batch = 150
  private val Retain = 8L
  private val source: Array[Row] = spark.read.parquet(s"${c.data}/lineitem.parquet")
    .select(cols.map(col): _*).orderBy(cols.map(col): _*).limit(Base + 20 * Batch).collect()
    .zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }
  private var nextRow = 0
  private def fresh(n: Int): Seq[Row] = { val r = source.slice(nextRow, nextRow + n).toSeq; nextRow += n; r }
  private def rowBytes(r: Row): Long =
    r.toSeq.map { case s: String => s.length.toLong; case _ => 8L }.sum

  private val tbl = s"${c.work}/lakehouse/lineitem"
  private val events = s"${c.work}/lakehouse/events"
  private val streamSrc = s"${c.work}/lakehouse/events_src"
  private val streamCkpt = s"${c.work}/lakehouse/events_ckpt"

  type State = Map[Long, Row]
  private def df(rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, schema)

  /** A planned step: `write` returns the committed version (writes only);
    * `after` is the replay state once it is applied, `changed` the rows
    * it inserts, replaces or deletes. */
  private final class Step(val name: String, val kind: String, val after: State,
      val changed: Seq[Row], val write: Option[() => Long], val read: Option[() => DataFrame]) {
    def verb: String = name match {
      case "merge_full" => "merge"
      case "time_travel" => "snapshot"
      case n => n
    }
  }

  // runtime bookkeeping, reset per pass
  private val atVersion = mutable.Map.empty[Long, State]
  private var tip = 0L
  private var lastTravel = 0L
  private var spaceAmp = 0.0

  private val plan: Seq[Step] = {
    var st: State = Map.empty
    val steps = mutable.ArrayBuffer.empty[Step]
    def write(name: String, changed: Seq[Row], next: State)(w: => Long): Unit = {
      steps += new Step(name, "commit", next, changed, Some(() => w), None); st = next
    }
    def read(name: String)(r: => DataFrame): Unit =
      steps += new Step(name, "read", st, Nil, None, Some(() => r))
    val base = fresh(Base)
    write("append", base, st ++ base.map(r => r.getLong(0) -> r))(
      TxLog.append(df(base), tbl, statsCol = Some(Key)))
    def range(w: Int) = { val lo = rng.nextInt(nextRow).toLong; (lo, lo + w) }
    // a fixed order of verbs, so runs with different seeds do the same
    // kinds of work at the same log lengths; the seed picks rows and ranges
    val kinds = Seq("append", "snapshot", "merge", "read_pruned", "delete", "update",
      "time_travel", "append", "merge_full", "read_change_feed", "delete", "snapshot", "update",
      "append", "read_pruned")
    for ((kind, i) <- kinds.zip(LazyList.from(1))) {
      kind match {
        case "append" =>
          val rows = fresh(Batch)
          write("append", rows, st ++ rows.map(r => r.getLong(0) -> r))(
            TxLog.append(df(rows), tbl, statsCol = Some(Key)))
        case "merge" | "merge_full" =>
          val live = st.keys.toVector
          val upd = Seq.fill(Batch / 2)(live(rng.nextInt(live.size))).distinct.map { k =>
            val r = st(k).toSeq
            Row.fromSeq(r.updated(4, r(4).asInstanceOf[Double] + 1.0).updated(5, r(5).asInstanceOf[Double] + 2.5))
          }
          val rows = upd ++ fresh(Batch / 2)
          val next = st ++ rows.map(r => r.getLong(0) -> r)
          if (kind == "merge") write("merge", rows, next)(TxLog.merge(df(rows), tbl, Key, changeFeed = true))
          else write("merge_full", rows, next)(TxLog.mergeFull(df(rows), tbl, Key,
            Seq(TxLog.MatchedUpdate(cols.map(n => n -> col(s"s.$n")).toMap), TxLog.NotMatchedInsert()),
            statsCol = Some(Key), changeFeed = true))
        case "delete" =>
          val (lo, hi) = range(40)
          val gone = st.values.filter(r => r.getLong(0) >= lo && r.getLong(0) < hi).toSeq
          write("delete", gone, st -- gone.map(_.getLong(0)))(TxLog.delete(spark, tbl,
            col(Key) >= lo && col(Key) < hi, statsCol = Some(Key), changeFeed = true, useDV = true))
        case "update" =>
          val (lo, hi) = range(60)
          val hit = st.values.filter(r => r.getLong(0) >= lo && r.getLong(0) < hi)
            .map(r => Row.fromSeq(r.toSeq.updated(4, r.getDouble(4) + 1.0))).toSeq
          write("update", hit, st ++ hit.map(r => r.getLong(0) -> r))(TxLog.update(spark, tbl,
            col(Key) >= lo && col(Key) < hi, Map("l_quantity" -> (col("l_quantity") + lit(1.0))),
            statsCol = Some(Key), changeFeed = true, useDV = true))
        case "snapshot" => read("snapshot")(TxLog.snapshot(tbl).read(spark))
        case "time_travel" =>
          val back = 1 + rng.nextInt(4)
          read("time_travel") { lastTravel = math.max(1L, tip - back); TxLog.snapshot(tbl, lastTravel).read(spark) }
        case "read_pruned" =>
          val (lo, hi) = range(300)
          read("read_pruned")(TxLog.readPruned(spark, tbl, Key, lo, hi))
        case _ =>
          read("read_change_feed")(TxLog.readChangeFeed(spark, tbl, math.max(0L, tip - 3)))
      }
      if (i % 5 == 0) write("optimize", Nil, st)(
        TxLog.optimize(spark, tbl, targetBytes = 1L << 20, statsCol = Some(Key)))
      if (i % 7 == 0) write("checkpoint", Nil, st) { TxLog.checkpoint(tbl); 0L }
      if (i == kinds.size) write("vacuum", Nil, st) { TxLog.vacuum(tbl, retainVersions = Retain, graceMs = 0L); 0L }
    }
    steps.toSeq
  }

  // the stream ingest's source: `events` split into files, one per micro-batch
  private val streamCols = Seq("event_id", "user_id", "event_type", "value")
  private val streamSchema = {
    val ev = graft.Tables.events(spark, c.data).select(streamCols.map(col): _*)
    ev.repartition(6).write.mode("overwrite").parquet(streamSrc)
    ev.schema
  }
  private val streamRows = spark.read.parquet(streamSrc).collect().sortBy(_.getLong(0)).toSeq

  private def files(root: String): Map[Path, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toMap
    }
  }

  /** Log files a replay of `v` reads: the newest checkpoint at or below it
    * plus the commits after that checkpoint. */
  private def replayDepth(v: Long): Long = {
    val ckpts = files(s"$tbl/_txlog").keys.map(_.getFileName.toString)
      .collect { case n if n.endsWith(".checkpoint.json") => n.takeWhile(_.isDigit).toLong }
    ckpts.filter(_ <= v).maxOption.fold(v)(k => 1 + v - k)
  }

  private def live(): Set[String] =
    if (Files.exists(Paths.get(tbl, "_txlog"))) TxLog.snapshot(tbl).files.toSet else Set.empty

  private def rowsIn(fs: Iterable[String]): Long = fs.filter(_.endsWith(".parquet")).map { f =>
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }.sum

  private def run(s: Step): Unit = (s.write, s.read) match {
    case (Some(w), _) =>
      val tracing = c.tr.enabled
      val (disk0, live0) = if (tracing) (files(tbl), live()) else (Map.empty[Path, Long], Set.empty[String])
      val v = c.tr.span(s"sources.txlog.${s.verb}", s.name)(w())
      if (v > 0) { tip = math.max(tip, v); atVersion(v) = s.after }
      if (tracing) {
        val (disk1, live1) = (files(tbl), live())
        c.tr.count("sources.txlog.bytes_written", (disk1 -- disk0.keys).values.sum.toDouble)
        c.tr.count("sources.txlog.files_added", (live1 -- live0).size.toDouble)
        c.tr.count("sources.txlog.files_removed", (live0 -- live1).size.toDouble)
        c.tr.count("sources.txlog.rows_written", rowsIn(live1 -- live0).toDouble)
        c.tr.count("sources.txlog.rows_changed", s.changed.size.toDouble)
        c.tr.count("sources.txlog.user_bytes", s.changed.map(rowBytes).sum.toDouble)
        c.tr.count("sources.txlog.log_files_read", replayDepth(tip).toDouble)
      }
    case (_, Some(r)) =>
      // reads are checked through the end-state comparison, not digested
      c.tr.span(s"sources.txlog.${s.verb}", s.name)(Noop(s.name, r()))
      c.tr.count("sources.txlog.log_files_read", replayDepth(if (s.name == "time_travel") lastTravel else tip).toDouble)
    case _ => ()
  }

  private val stream = Op("exactly_once_txlog", "commit", _ => c.tr.span("streaming.exactly_once_txlog", "events") {
    val q = graft.streaming.EventStream.exactlyOnceTxLog(
      spark.readStream.schema(streamSchema).option("maxFilesPerTrigger", 1).parquet(streamSrc),
      events, streamCkpt, "etlbench-events")
    try q.processAllAvailable() finally q.stop()
    c.tr.count("streaming.batches", q.recentProgress.count(_.numInputRows > 0).toDouble)
  })


  private val txOps = plan.map(s => Op(s.name, s.kind, _ => run(s)))
  private val extra = Catalog.ops(c, "relational", graft.RelationalQueries.all, "sql_tpch_q1",
    "window_cume_dist", "acid_upsert") ++
    Catalog.ops(c, "time", graft.TimeQueries.all, "window_move_avg") ++
    Catalog.ops(c, "sketch", graft.SketchQueries.all, "agg_hll_merge") :+ stream

  // the other ops spread evenly between the table's steps, in seeded order
  private val ops: Seq[Op] = {
    val others = rng.shuffle(extra)
    val at = others.indices.map(i => (i + 1) * txOps.size / (others.size + 1))
    txOps.zipWithIndex.flatMap { case (op, i) => others.indices.filter(at(_) == i).map(others) :+ op }
  }

  def pass(): Seq[Op] = ops
  // the table's steps depend on each other; everything else is independent
  override def lanes(): Seq[Seq[Op]] = Seq(txOps, extra)

  override def beforePass(): Unit = {
    Seq(tbl, events, streamCkpt).foreach(d => Main.deleteTree(Paths.get(d)))
    atVersion.clear(); tip = 0L; lastTravel = 0L
  }

  override def afterPass(): Seq[String] = {
    // versions below the vacuum's retention are gone by design
    def same(v: Long): Boolean = v < tip - Retain || atVersion.get(v).forall { st =>
      val got = TxLog.snapshot(tbl, v).read(spark).select(Key, cols: _*).collect()
      got.length == st.size && got.forall(r => st.get(r.getLong(0)).contains(r))
    }
    def streamed: Boolean = !Files.exists(Paths.get(events)) ||
      TxLog.snapshot(events).read(spark).select(streamCols.map(col): _*).collect()
        .sortBy(_.getLong(0)).toSeq == streamRows
    val liveBytes = live().toSeq.map(f => Files.size(Paths.get(f))).sum
    spaceAmp = files(tbl).values.sum.toDouble / math.max(1L, liveBytes)
    Seq(
      "lakehouse tip" -> (() => same(tip)),
      "lakehouse time travel" -> (() => same(lastTravel)),
      "lakehouse tip-5" -> (() => same(math.max(1L, tip - 5))),
      "streamed events" -> (() => streamed)
    ).collect { case (n, ok) if !scala.util.Try(ok()).getOrElse(false) => n }
  }

  override def layerMetrics(): Map[String, Double] = {
    val k = c.tr.counts
    Map(
      "sources.txlog.write_amp" -> k("sources.txlog.bytes_written") / math.max(1.0, k("sources.txlog.user_bytes")),
      "sources.txlog.rows_rewritten_per_row_changed" ->
        k("sources.txlog.rows_written") / math.max(1.0, k("sources.txlog.rows_changed")),
      "sources.txlog.space_amp" -> spaceAmp)
  }
}
