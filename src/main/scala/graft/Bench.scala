package graft
object Bench {
  def main(args: Array[String]): Unit = {
    // Optional YAML run config (S2): env beats YAML beats default, so the
    // driver's env-driven contract is unchanged.
    // Capture pre-existing system load FIRST — before the Spark session,
    // warmup catalog pass, or anything else this process does drives the
    // 1-min loadavg up on its own. The contended flag must reflect what was
    // running on the box when the bench STARTED, not the bench itself.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage
    val yml = graft.sources.YamlConfig.fromEnv()
    val res = graft.sources.YamlConfig.resolve(sys.env.get, yml) _
    val sfDir = res("SPARK_GRAFT_SF_DIR", "data.sf_dir", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(sys.env.get, yml)
    // Session confs, statics after the YAML's: see GraftSession.
    val spark = GraftSession.build(GraftSession.confs(sys.env.get, yml))
    // Steady-state warmup: absorb JVM classloading, Janino codegen compiles,
    // parquet footer reads and shuffle-machinery init so the first timed query
    // measures the operator, not session bring-up. The whole catalog runs
    // once against the SMALLEST sibling scale (sf0.001 — milliseconds per
    // query) so every query's specific codegen/classload path is compiled
    // before its timed run: without this, whichever expensive query runs
    // first eats several seconds of one-time Janino cost and the per-query
    // numbers measure JVM bring-up order, not operator cost (the r5
    // dedup_ngram_jaccard "regression" was exactly this amplification).
    // Dev-only knob (the driver never sets it): comma-separated query ids to
    // skip, for scale probes where quadratic-by-contract ops are excluded.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    try {
      import org.apache.spark.sql.functions._
      val warm = spark.read.parquet(s"$sfDir/nation.parquet")
      warm.groupBy("n_regionkey").count().count()
      warm.join(broadcast(spark.read.parquet(s"$sfDir/region.parquet")),
        col("n_regionkey") === col("r_regionkey")).count()
      spark.range(1000).selectExpr("sum(id)").collect()
      val warmDir = {
        val p = java.nio.file.Paths.get(sfDir)
        Option(p.getParent).map(_.resolve("sf0.001"))
          .filter(java.nio.file.Files.exists(_)).map(_.toString).getOrElse(sfDir)
      }
      // Skip-listed queries are excluded from warmup too: when no sf0.001
      // sibling exists the warmup falls back to sfDir itself, and running a
      // quadratic-by-contract op at full probe scale just to warm codegen
      // would cost more than the timed run it serves.
      SparkEntry.queries.foreach { case (name, fn) =>
        if (!skip(name)) { try fn(spark, warmDir).count() catch { case _: Throwable => () } }
      }
    } catch { case _: Throwable => () }
    // Contention defense: a single timed pass is at the mercy of whatever
    // else the box is doing (three rounds of driver-bench artifacts were
    // distorted exactly this way — e.g. dedup_cluster 17.2 s contended vs
    // 3.3–3.6 s quiet, same code). Each query therefore runs `runs` times
    // (default 3; SPARK_GRAFT_RUNS / --runs to override) and reports the
    // per-query MEDIAN, which is robust to one noisy repetition. Passes are
    // interleaved over the whole catalog (pass 1 of all queries, then pass 2,
    // ...) so a transient load spike inflates at most one pass of each query
    // rather than all repetitions of the unlucky one. System load average is
    // recorded before and after so a contended run is visible in the artifact
    // itself instead of needing a judge re-run to detect.
    // BOX-SPEED CALIBRATION (r14 verdict item 5): a fixed, single-thread,
    // CPU-bound microbench timed into the artifact, so cross-artifact
    // ratios can be normalized for the host's documented drift (~1.3-1.5x
    // between windows) WITHOUT re-running old binaries. The loop is pure
    // register arithmetic (multiply/rotate/xor — no allocation, no memory
    // traffic), so it tracks effective clock speed, not cache state. One
    // discarded JIT-warm pass, then min of 3 (the least-interrupted pass
    // is the box's true speed; medians would re-absorb the contention this
    // stamp exists to expose).
    def calibrationPass(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < (1 << 27)) {
        x = java.lang.Long.rotateLeft(x * 0x2545F4914F6CDD1DL, 31) ^ (x >>> 17)
        i += 1
      }
      if (x == 42L) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    calibrationPass() // JIT warm, discarded
    val calibration = (1 to 3).map(_ => calibrationPass()).min
    val runs = math.max(1, args.collectFirst { case a if a.startsWith("--runs=") => a.stripPrefix("--runs=") }
      .orElse(sys.env.get("SPARK_GRAFT_RUNS"))
      .orElse(yml.flatMap(_.get("bench.runs")))
      .map(_.trim.toInt).getOrElse(3))
    val names = SparkEntry.queries.keys.filter(!skip(_)).toVector
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    // A failed pass must be VISIBLE in the artifact, not recorded as a
    // fast run: one r7 sf10 artifact recorded an executor-pool death as
    // 0.02–0.07 s "medians" for every query downstream of the crash. Track
    // failures per query and surface them in the JSON + on stderr.
    val failures = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 1 to runs; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // A failed pass contributes NO sample: a fail-fast throw (often
      // near-zero elapsed) recorded as a timing would silently deflate the
      // median and the summed total for any reader of queries/total alone.
      // Medians aggregate successful passes only; a query whose every pass
      // failed reports 0.0 with its entry in the `failed` map as the signal.
      try {
        fn(spark, sfDir).count()
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(160)
          System.err.println(s"[bench] $name FAILED: ${failures(name)}")
      }
      // Shuffle files live until the ContextCleaner GCs their dependency —
      // across ~175 queries x 3 passes in ONE JVM at sf10 that litter
      // accumulated to >60 GB and ENOSPC'd mid-query (r14, two artifacts).
      // A GC nudge between timed queries lets the cleaner reclaim the
      // previous queries' shuffle dirs; it runs OUTSIDE the timed window.
      System.gc()
    }
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    val results = names.map(n => n -> median(samples(n)))
    val loadAfter = osBean.getSystemLoadAverage
    // 4-decimal (0.1 ms) per-query values: full-precision doubles made the
    // 92-query line long enough that log-tail truncation clipped it mid-line
    // in two driver artifacts ("parsed": null) — compactness is robustness.
    def fmt(v: Double): String = f"$v%.4f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failed = failures.keys.toSeq.sorted
      .map(k => "\"" + k + "\":\"" + failures(k).replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\"")
      .mkString("{", ",", "}")
    // Contention self-flag (VERDICT r9 "What's wrong" #1): the r9 driver
    // artifact ran at loadavg 6.67 and misread a healthy 2.7 s query as a
    // 13 s regression — a poisoned artifact that LOOKS canonical is worse
    // than none. Any run that starts on a busy box stamps
    // `"contended":true` so no reader can promote it to a baseline, and
    // says so loudly on stderr. We annotate rather than refuse because the
    // driver's per-round invocation must still produce an artifact.
    // Threshold 4 (not the naive 2): the sbt launcher + JIT that precede
    // main() contribute ~1–2.5 to the 1-min loadavg on their own (measured:
    // back-to-back quiet runs read 1.3–3.6 at main() entry), so 2 flags
    // healthy runs; genuine contention incidents on record read ≥6. The raw
    // value is stamped alongside for readers with stricter standards.
    val contended = loadBefore > 4.0
    if (contended)
      System.err.println(f"[bench] WARNING: loadavg_before=$loadBefore%.2f > 4 — machine contended; artifact stamped contended:true and MUST NOT be used as a baseline")
    // PROVENANCE (r12 ADVICE, closed r13): every artifact names the exact
    // binary and instant it measured — a bench number without its commit
    // hash cannot be re-run, A/B'd, or trusted later. Read from the repo
    // the class was BUILT from (user.dir = the sbt project dir, which for
    // pinned-worktree runs is the worktree, so the hash is the pinned one).
    val commit =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "--short=12", "HEAD")
          .directory(new java.io.File(System.getProperty("user.dir"))).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
        if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
      } catch { case _: Exception => "unknown" }
    val stampedAt = java.time.Instant.now().toString
    val skipped = skip.toSeq.sorted.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    val meta = s""""runs":$runs,"stat":"median","loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"contended":$contended,"calibration_s":${fmt(calibration)},"cpus":"$cpus","failed":$failed,"commit":"$commit","stamped_at":"$stampedAt","skipped":$skipped"""
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",$meta}"""
    println(json)
    // The artifact also lands in a file (SPARK_GRAFT_BENCH_OUT, default
    // target/bench_out.json) so the per-query map stays machine-readable
    // even when the stdout the caller kept is a truncated scrape.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse("target/bench_out.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
