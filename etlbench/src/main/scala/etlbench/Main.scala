package etlbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One closed-loop operation of a workload. `run` gets the sink every
  * output goes to: the timed passes materialize through the noop sink,
  * the verification pass records outputs for checking. `kind` is "op",
  * "commit" or "read" (the latter two split out commit and read latency). */
final case class Op(name: String, kind: String, run: Sink => Unit)

trait Sink {
  /** Materializes `df`; the verification sink also returns its rows. */
  def apply(label: String, df: DataFrame): Seq[Row]
  /** An invariant of the op's outputs; evaluated by the verification pass only. */
  def check(what: String)(ok: => Boolean): Unit = ()
  /** A derived per-layer value; computed by the verification pass only. */
  def metric(key: String)(v: => Double): Unit = ()
}

/** Materializes every column of every row and discards the result: no
  * `count()`, so Catalyst cannot prune computed columns or sorts. */
object Noop extends Sink {
  def apply(label: String, df: DataFrame): Seq[Row] = {
    df.write.format("noop").mode("overwrite").save()
    Nil
  }
}

trait Workload {
  /** The operations of one pass, in the seeded order. */
  def pass(): Seq[Op]
  /** The verification pass runs these groups concurrently, each in order. */
  def lanes(): Seq[Seq[Op]] = Seq(pass())
  /** Untimed: reset state a pass starts from. */
  def beforePass(): Unit = ()
  /** Untimed: check the pass's end state; returns the names of mismatches. */
  def afterPass(): Seq[String] = Nil
  /** Per-layer values the workload derives itself (traced run only). */
  def layerMetrics(): Map[String, Double] = Map.empty
}

final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val seed: Long, val rows: Long, val tr: Tracer)

/** Benchmark harness, one workload per JVM:
  *   --workload W --data DIR --work DIR --seed N --rows N --seconds S --trace 0|1 --out FILE
  * (`rows`: the input rows the workload reads, stated in the result)
  * Sets up the session (timed, several times), runs one untimed
  * verification pass that records outputs, then timed closed-loop passes
  * for about `seconds`, and writes a JSON result to `--out`. */
object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  /** Percentile by linear interpolation between order statistics. */
  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = q * (s.size - 1)
      val i = h.toInt
      s(i) + (h - i) * (s(math.min(i + 1, s.size - 1)) - s(i))
    }

  def session(cpus: Int, work: String): SparkSession = {
    // the pipeline's own session settings (graft.Bench), plus the warehouse
    // under the run's work dir (the runner points SPARK_LOCAL_DIRS there too)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fixed warmup query (scan, broadcast join, shuffle, aggregate, sort)
    * so the SQL, codegen and shuffle machinery are up before anything is
    * timed. */
  private def warm(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val a = spark.range(100000).select((col("id") % 97).as("k"), col("id").as("v"))
    Noop("warm", a.join(broadcast(spark.range(97).withColumnRenamed("id", "k")), "k")
      .groupBy("k").agg(sum("v").as("s")).orderBy("k"))
  }

  /** CPU calibration, as graft.Bench stamps it: a fixed single-thread
    * register-only loop, one discarded JIT pass, min of 3. */
  private def calibration(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < (1 << 27)) {
        x = java.lang.Long.rotateLeft(x * 0x2545F4914F6CDD1DL, 31) ^ (x >>> 17)
        i += 1
      }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { s =>
      s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
    }

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val jvmBootS = (entered - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    val workload = arg(args, "workload")
    val data = arg(args, "data")
    val work = arg(args, "work")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()

    // set-up, timed several times: session start + warmup, then stop and
    // start again; the last session stays up for the run
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      warm(spark)
      setups += (System.nanoTime() - t0) / 1e9
      if (i < 3) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    }
    val tSetup = System.nanoTime()
    val calib = calibration()
    val tr = new Tracer(spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(tr)
      spark.listenerManager.register(tr)
    }
    val ctx = new Ctx(spark, data, work, seed, arg(args, "rows").toLong, tr)
    val w: Workload = workload match {
      case "corpus_curation" => new CorpusCuration(ctx)
      case "lakehouse_mixed" => new LakehouseMixed(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val tInit = System.nanoTime()
    val failedOps = mutable.ArrayBuffer.empty[String]
    def fail(name: String, e: Throwable): Unit = failedOps.synchronized {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(200)
      System.err.println(s"[etlbench] FAILED $name: $msg")
      failedOps += name
    }
    def mismatch(name: String): Unit = fail(name, new RuntimeException("end state differs from the reference replay"))
    // untimed verification pass: records every output for the checks and
    // compiles every plan once; independent ops run in concurrent lanes
    w.beforePass()
    val verifyMs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val lanes = w.lanes()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes.size)
    val verifiers = lanes.map { lane =>
      val v = new Verifier(s"$work/verify")
      pool.submit(new Runnable {
        def run(): Unit = lane.foreach { op =>
          v.begin(op.name)
          val s = System.nanoTime()
          try op.run(v) catch { case NonFatal(e) => fail(s"${op.name} (verification)", e) }
          verifyMs.put(op.name, (System.nanoTime() - s) / 1e6)
        }
      })
      v
    }
    pool.shutdown()
    pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    var attempted = verifyMs.size
    failedOps ++= verifiers.flatMap(_.failures)
    w.afterPass().foreach(mismatch)

    val tVerify = System.nanoTime()
    // closed-loop timed passes, whole passes only: at least two untraced
    // (traced runs alternate untraced, traced, untraced, so the tracing
    // overhead is measured in the same JVM against passes on either side),
    // then more while another pass still fits in `seconds`
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val walls = mutable.Map("plain" -> mutable.ArrayBuffer.empty[Double],
      "traced" -> mutable.ArrayBuffer.empty[Double])
    def enough = walls("plain").size >= 2 && (!traced || walls("traced").nonEmpty)
    var last = 0.0
    var pass = 0
    while (!enough || (System.nanoTime() - tVerify) / 1e9 + last <= seconds) {
      val tracing = traced && pass % 2 == 1
      tr.enabled = tracing
      w.beforePass()
      val t0 = System.nanoTime()
      w.pass().foreach { op =>
        attempted += 1
        val s = System.nanoTime()
        try {
          tr.span("op", op.name)(op.run(Noop))
          if (!tracing) {
            val ms = (System.nanoTime() - s) / 1e6
            lat.getOrElseUpdate("op", mutable.ArrayBuffer.empty) += ms
            perOp.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += ms
            if (op.kind != "op") lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += ms
          }
        } catch { case NonFatal(e) => fail(op.name, e) }
      }
      last = (System.nanoTime() - t0) / 1e9
      tr.enabled = false
      walls(if (tracing) "traced" else "plain") += last
      w.afterPass().foreach(mismatch)
      pass += 1
    }

    val tTimed = System.nanoTime()
    val wallS = median(walls("plain").toSeq)
    val ops = lat.getOrElse("op", mutable.ArrayBuffer.empty[Double]).toSeq
    val e2e = Map(
      "setup_s" -> (jvmBootS + median(setups.toSeq)),
      "wall_s" -> wallS,
      "rows_per_s" -> ctx.rows / wallS,
      "op_p50_ms" -> pct(ops, 0.5),
      "op_p75_ms" -> pct(ops, 0.75),
      "op_p90_ms" -> pct(ops, 0.9),
      "op_samples" -> ops.size.toDouble,
      "driver_rss_peak_mb" -> rssPeakMb())
    val kinds = Seq("commit", "read").flatMap { k =>
      val xs = lat.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq
      Seq(s"sources.txlog.${k}_p50_ms" -> pct(xs, 0.5), s"sources.txlog.${k}_p90_ms" -> pct(xs, 0.9))
    }.toMap
    val layers = if (!traced) Map.empty[String, Double] else {
      org.apache.spark.BusDrain(spark.sparkContext)
      val nTraced = walls("traced").size
      val overhead = (median(walls("traced").toSeq) / wallS - 1.0) * 100.0
      tr.metrics(nTraced) ++ w.layerMetrics() ++ verifiers.flatMap(_.layerMetrics).toMap ++ kinds ++
        Map("trace.overhead_pct" -> overhead)
    }
    val result = Map(
      "workload" -> workload,
      "attempted" -> attempted,
      "failed_ops" -> failedOps.toSeq,
      "input_rows" -> ctx.rows,
      "passes" -> walls.map { case (k, v) => k -> v.size }.toMap,
      "pass_wall_s" -> walls.map { case (k, v) => k -> v.toSeq }.toMap,
      "end_to_end" -> (e2e ++ kinds),
      "per_layer" -> layers,
      "setup_samples_s" -> setups.toSeq,
      "op_ms" -> perOp.map { case (k, v) => k -> v.toSeq }.toMap,
      "verify_op_ms" -> verifyMs.asScala.toMap,
      "jvm_boot_s" -> jvmBootS,
      "phase_s" -> Map("setup" -> setups.sum, "init" -> (tInit - tSetup) / 1e9,
        "verify" -> (tVerify - tInit) / 1e9, "timed" -> (tTimed - tVerify) / 1e9),
      "digests" -> verifiers.flatMap(_.digests).toMap,
      "oracle_sql" -> verifiers.flatMap(_.oracle).toMap,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "label" -> s.label,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.ms0, "end_ms" -> s.ms1,
        "self_ms" -> s.selfNs / 1e6)).toSeq,
      "counts" -> tr.counts.toMap,
      "stamps" -> Map("nproc" -> cpus, "loadavg_before" -> loadBefore,
        "loadavg_after" -> os.getSystemLoadAverage, "calibration_s" -> calib,
        "spark_version" -> spark.version))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.write(Paths.get(arg(args, "out")), json.getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }
}
