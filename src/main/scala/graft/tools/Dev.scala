package graft.tools

/** Dev harness (not part of the driver contract).
  *
  * Usage:
  *   runMain graft.tools.Dev smoke                 — entry() row count on sf0.001
  *   runMain graft.tools.Dev explain <sfDir> [ids] — explain("formatted") per query
  *   runMain graft.tools.Dev explainsql <sfDir> <sql> — explain SQL over the testdata views
  *   runMain graft.tools.Dev time <sfDir> <id> [reps] — run one query, print secs + rows + jobs
  *   runMain graft.tools.Dev pipeline <sfDir> [n] [full] — end-to-end CorpusPipeline timing
  *   runMain graft.tools.Dev stream <sfDir> [batches] — streaming ops batch-parity over replayed events
  *   runMain graft.tools.Dev media [families] — multimodal ingest→dedup stage over generated files
  *   runMain graft.tools.Dev execplan <sfDir> <id> — executed (final adaptive) plan of one query
  *   runMain graft.tools.Dev txladder [rungs] [addsPerCommit] — txlog driver-side replay/heap ladder
  *
  * The session is GraftSession's (SPARK_GRAFT_CPUS, SPARK_GRAFT_CONFIG_YML).
  */

/** Replayed events row for the `stream` subcommand's MemoryStream (field
  * order = the events projection it is collected from). */
case class StreamEv(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

object Dev {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_LOGLVL=INFO surfaces DAGScheduler per-job wall times —
    // the cheapest "where did the seconds go" probe for multi-job entries
    val spark = graft.GraftSession.fromEnv(sys.env.getOrElse("SPARK_GRAFT_LOGLVL", "ERROR"))
    args.toList match {
      case "smoke" :: _ =>
        println("ENTRY_ROWS=" + graft.SparkEntry.entry(spark).count())
      case "explain" :: sfDir :: rest =>
        val ids = if (rest.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted
                  else rest.flatMap(_.split(","))
        ids.foreach { id =>
          println(s"===== $id =====")
          graft.SparkEntry.queries(id)(spark, sfDir).explain("formatted")
        }
      case "explainsql" :: sfDir :: sqlParts =>
        // explain an arbitrary SQL over the testdata views — for plan
        // evidence on SUBFRAMES (e.g. a write path's scan side) that no
        // catalog entry's final frame surfaces
        for (t <- Seq("region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "documents", "embeddings"))
          spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
        spark.sql(sqlParts.mkString(" ")).explain("formatted")
      case "time" :: sfDir :: id :: rest =>
        // optional repeat count: run N times in one JVM to separate cold
        // (codegen/classload/footer) cost from steady-state operator cost
        val reps = rest.headOption.map(_.toInt).getOrElse(1)
        // Spark JOB/STAGE counter (r16): write-inclusive entries spend
        // their time in setup ACTIONS the final frame's explain never
        // shows — the per-run job/stage/task counts are the measurement
        // that attributes those (guide §1: measure where the time goes).
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val stages = new java.util.concurrent.atomic.AtomicInteger
        val tasks = new java.util.concurrent.atomic.AtomicInteger
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
          override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks); ()
          }
        })
        for (r <- 1 to reps) {
          graft.ops.JaccardPrefix.lastDecision = None // print only THIS run's decisions
          graft.api.Similarity.lastLshShape = None
          graft.ops.ConnectedComponents.lastRounds = None
          val (j0, s0, k0) = (jobs.get, stages.get, tasks.get)
          val t0 = System.nanoTime()
          val n = graft.SparkEntry.queries(id)(spark, sfDir).count()
          println(f"$id[$r]: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows, " +
            s"jobs=${jobs.get - j0} stages=${stages.get - s0} tasks=${tasks.get - k0}")
          // auto-select observability: which join shape ran and the measured
          // statistic that decided it (operator diagnostics — the lines a
          // 100 TB run greps for)
          graft.ops.JaccardPrefix.lastDecision.foreach { dec =>
            println(s"$id[$r]: jaccard auto-select path=${dec.pathName} maxDf=${dec.maxDf}")
          }
          graft.api.Similarity.lastLshShape.foreach { sh =>
            println(s"$id[$r]: lsh verify shape=${sh.shapeName} candidates=${sh.candidates} " +
              s"bandRows=${sh.bandRows} dim=${sh.dim}")
          }
          graft.ops.ConnectedComponents.lastRounds.foreach { n =>
            println(s"$id[$r]: cc fixpoint rounds=$n")
          }
        }
      case "pipeline" :: rest =>
        // end-to-end CorpusPipeline over a documents table: timing + stage
        // survivor counts (the number a capacity plan starts from)
        val d = rest.headOption.getOrElse("/root/testdata/sf0.001")
        val reps = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
        // "full" also runs the r8 curation stages: the corpus-trained
        // surprisal gate and keep-best cluster canonicalization
        val full = rest.drop(2).headOption.contains("full")
        val cfg =
          if (full) graft.api.CorpusPipeline.Config(mixRates = Map("en" -> 0.9),
            defaultRate = 0.7, maxSurprisalBits = 5.05, keepBestPerCluster = true)
          else graft.api.CorpusPipeline.Config(mixRates = Map("en" -> 0.9),
            defaultRate = 0.7)
        val docs = spark.read.parquet(s"$d/documents.parquet")
        docs.count() // warm the scan so run 1 measures the pipeline
        for (r <- 1 to reps) {
          val t0 = System.nanoTime()
          val p = graft.api.CorpusPipeline.prepare(docs, "doc_id", "text", "lang", cfg)
          val n = p.documents.count()
          val c = p.trainChunks.count()
          println(f"pipeline[$r]: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
            f"${docs.count()} docs -> $n kept, $c train rows")
        }
      case "stream" :: rest =>
        // Streaming-family demo artifact: replay the driver's events.parquet
        // (and the documents SimHash fingerprints) through MemoryStream
        // micro-batches and print batch-parity results per operator — the
        // numbers BASELINE.md's streaming section records. "Rate-limited" =
        // fixed-size micro-batches with a blocking processAllAvailable
        // between them, so every op crosses real batch boundaries and its
        // state store does real carrying work. Each op's oracle is its own
        // batch twin over the same static frame.
        // MemoryStream is Spark-private API with no public equivalent in
        // 4.1.2 (it moved packages in 4.1: …execution.streaming.runtime);
        // acceptable ONLY here and in tests — never in library code — and
        // this import is the one place a Spark upgrade may need to touch.
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.functions._
        val d = rest.headOption.getOrElse("/root/testdata/sf0.01")
        val nBatches = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val ev = graft.Tables.events(spark, d)
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
        val evRows = ev.as[StreamEv].collect()
        val batchSize = math.max(1, evRows.length / nBatches)
        println(s"stream: replaying ${evRows.length} events in ~$nBatches micro-batches " +
          s"of $batchSize from $d")

        // 1. watermarked tumbling-window agg (complete mode) vs batch twin
        locally {
          val mem = MemoryStream[StreamEv]
          val q = graft.streaming.EventStream.hourlyByType(mem.toDF())
            .writeStream.format("memory").queryName("dev_hourly")
            .outputMode("complete").start()
          try {
            evRows.grouped(batchSize).foreach { b =>
              mem.addData(b.toSeq: _*); q.processAllAvailable()
            }
            val got = spark.table("dev_hourly").collect().map(_.toSeq).toSet
            val want = graft.streaming.EventStream.hourlyByType(ev)
              .collect().map(_.toSeq).toSet
            println(s"stream: hourly_window parity=${got == want} " +
              s"rows=${got.size} batch_rows=${want.size}")
          } finally q.stop()
        }

        // 2. watermarked STREAM-STREAM attribution join (views = even
        //    event_id, clicks = odd), both sides fed in interleaved
        //    micro-batches, vs the same function over static frames
        locally {
          val vMem = MemoryStream[StreamEv]
          val cMem = MemoryStream[StreamEv]
          val q = graft.streaming.EventStream.attributionJoin(vMem.toDF(), cMem.toDF())
            .writeStream.format("memory").queryName("dev_attrib")
            .outputMode("append").start()
          try {
            val (views, clicks) = evRows.partition(_.event_id % 2 == 0)
            views.grouped(batchSize).zipAll(clicks.grouped(batchSize),
                Array.empty[StreamEv], Array.empty[StreamEv]).foreach { case (vb, cb) =>
              if (vb.nonEmpty) vMem.addData(vb.toSeq: _*)
              if (cb.nonEmpty) cMem.addData(cb.toSeq: _*)
              q.processAllAvailable()
            }
            val key = (r: org.apache.spark.sql.Row) => (r.getLong(1), r.getLong(2))
            val got = spark.table("dev_attrib").collect().map(key).toSet
            val want = graft.streaming.EventStream.attributionJoin(
                ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 === 1))
              .collect().map(key).toSet
            println(s"stream: attribution_join parity=${got == want} " +
              s"pairs=${got.size} batch_pairs=${want.size}")
          } finally q.stop()
        }

        // 3. online hamming near-dup over the corpus's 32-bit SimHash
        //    fingerprints (the dedup_simhash signatures), state sharded by
        //    pigeonhole block, vs the batch lossless band join
        locally {
          val (bits, maxDist) = (32, 3)
          val fps = graft.SparkEntry.queries("dedup_simhash")(spark, d)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          val mem = MemoryStream[(Long, Long)]
          val banded = graft.ops.Hamming.bandRows(
              mem.toDS().toDF("doc_id", "fp"), "doc_id", "fp", bits, maxDist)
            .select(col("__id").as("doc_id"), col("__band").as("band"),
              col("__key").as("key"), col("__fp").as("fp"))
            .as[graft.streaming.StatefulOps.BandedFp]
          // parity needs the state cap lifted: this corpus's simhash top byte
          // is near-constant (~96% of fps share band 3 key 0), so one bucket
          // exceeds the 4096 production default and capped state would shed
          // pairs by design — the demo asserts losslessness GIVEN enough state
          val q = graft.streaming.StatefulOps.streamingNearDupHamming(
              banded, bits, maxDist, maxPerBucket = fps.length)
            .writeStream.format("memory").queryName("dev_ham")
            .outputMode("append").start()
          try {
            fps.grouped(math.max(1, fps.length / nBatches)).foreach { b =>
              mem.addData(b.toSeq: _*); q.processAllAvailable()
            }
            val got = spark.table("dev_ham").collect()
              .map(r => (math.min(r.getLong(0), r.getLong(1)),
                math.max(r.getLong(0), r.getLong(1)))).toSet
            val want = graft.ops.Hamming.nearDupPairs(
                fps.toSeq.toDF("doc_id", "fp"), "doc_id", "fp", bits, maxDist)
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            println(s"stream: hamming_neardup parity=${got == want} " +
              s"pairs=${got.size} batch_pairs=${want.size} (n=${fps.length} fingerprints, " +
              s"maxPerBucket=${fps.length})")
          } finally q.stop()
        }

        // 4. streaming token-budget admission vs the batch mixture
        //    materialization. Parity contract (the op's doc): admission is
        //    first-arrival per group, so the stream is fed a PREFIX of the
        //    batch op's deterministic (hash, id) admission order, one doc
        //    per micro-batch (a stream has no global order to lean on) —
        //    the admitted set must equal the batch set restricted to that
        //    prefix.
        locally {
          val docs = graft.Tables.documents(spark, d)
            .select(col("doc_id"), col("lang").as("group"),
              size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
          val budgets = Map("en" -> 20000L, "zh" -> 8000L)
          val admittedBatch = graft.ops.Sampling.mixtureByBudget(
              docs, "doc_id", "group", "n_tok", budgets)
            .select("doc_id").collect().map(_.getLong(0)).toSet
          val fed = docs
            .withColumn("__o", graft.ops.Sampling.bucketOf(col("doc_id"), 0L, 1000000))
            .orderBy("__o", "doc_id")
            .select("doc_id", "group", "n_tok").limit(200).collect()
            .map(r => graft.streaming.StatefulOps.BudgetDoc(
              r.getLong(0), r.getString(1), r.getLong(2)))
          val mem = MemoryStream[graft.streaming.StatefulOps.BudgetDoc]
          val q = graft.streaming.StatefulOps.streamingBudgetAdmission(mem.toDS(), budgets)
            .writeStream.format("memory").queryName("dev_budget")
            .outputMode("append").start()
          try {
            for (doc <- fed) { mem.addData(doc); q.processAllAvailable() }
            val got = spark.table("dev_budget").collect().map(_.getLong(0)).toSet
            val want = admittedBatch & fed.map(_.doc_id).toSet
            println(s"stream: budget_admission parity=${got == want} " +
              s"admitted=${got.size} batch_admitted_in_prefix=${want.size} " +
              s"(${fed.length} docs fed)")
          } finally q.stop()
        }
      case "media" :: rest =>
        // Recorded run of the composed multimodal stage (CorpusPipeline.
        // prepareMedia): generate a deterministic media corpus on disk —
        // per family one base PNG, one byte-identical copy (exact-dup) and
        // one pixel-noised variant (perceptual near-dup), plus audio and
        // non-media files — then drive binaryFile ingest → exact byte dedup
        // (byte-confirmed) → dHash near-dup → ledger, and print the
        // admit/drop counts + wall time BASELINE.md's multimodal row cites.
        // Expected exactly: families exact drops, families near-dup drops,
        // families+2 admitted (one image per family + 1 audio + 1 other).
        val fams = rest.headOption.map(_.toInt).getOrElse(64)
        val dir = java.nio.file.Files.createTempDirectory("graft_dev_media")
        def put(name: String, bytes: Array[Byte]): Unit = {
          java.nio.file.Files.write(dir.resolve(name), bytes); ()
        }
        // Family images must be DISTINCT under dHash (a 9×8 downscaled
        // gradient-sign hash): per-pixel pseudo-random noise averages out in
        // the downscale and collides across families, so each family gets a
        // structured sine field with its own frequency pair + phase — the
        // low-frequency gradient signs differ family to family. `noiseEvery`
        // plants the not-byte-identical perceptual near-duplicate.
        def png(w: Int, h: Int, fam: Int, noiseEvery: Int = 0): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val fx = 1 + fam % 8; val fy = 1 + (fam / 8) % 8
          val ph = 2 * math.Pi * ((fam * 37) % 101) / 101.0
          for (y <- 0 until h; x <- 0 until w) {
            val g = 128 + (127 * math.sin(2 * math.Pi * (fx * x.toDouble / w
              + fy * y.toDouble / h) + ph)).toInt
            val base = (g << 16) | (g << 8) | g
            val px = if (noiseEvery > 0 && (x + y * w) % noiseEvery == 0) base ^ 0x030303 else base
            img.setRGB(x, y, px)
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        def wavTone(freq: Double): Array[Byte] = {
          val sr = 8000f; val n = 4000
          val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
          val data = new Array[Byte](n * 2)
          for (i <- 0 until n) {
            val v = math.round(math.sin(2 * math.Pi * freq * i / sr) * 0.5 * 32767).toInt
            data(2 * i) = (v & 0xff).toByte; data(2 * i + 1) = ((v >> 8) & 0xff).toByte
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          bos.toByteArray
        }
        try {
          for (f <- 0 until fams) {
            val base = png(64, 48, fam = f)
            put(f"img_${f}%04d.png", base)
            put(f"img_${f}%04d_copy.png", base)
            put(f"img_${f}%04d_noisy.png", png(64, 48, f, noiseEvery = 97))
          }
          put("tone.wav", wavTone(440.0))
          put("note.txt", "plain text, not media".getBytes("UTF-8"))
          val t0 = System.nanoTime()
          val out = graft.api.CorpusPipeline.prepareMediaDir(spark, dir.toString)
          val admitted = out.admitted.count()
          val byReason = out.dropped.groupBy("reason").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"MEDIA: files=${3 * fams + 2} admitted=$admitted " +
            f"exact=${byReason.getOrElse("exact", 0L)} " +
            f"near_dup_image=${byReason.getOrElse("near_dup_image", 0L)} " +
            f"secs=$secs%.2f expect admitted=${fams + 2} exact=$fams near=$fams")
        } finally {
          scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
          }
        }
      case "execplan" :: sfDir :: id :: _ =>
        // EXECUTED (final adaptive) plan: run the frame through the noop
        // sink, then print the post-execution plan — the only place
        // AQEShuffleRead(coalesced) nodes and cached-plan materialization
        // shapes are visible (static explain shows isFinalPlan=false).
        val df = graft.SparkEntry.queries(id)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(df.queryExecution.executedPlan.toString)
      case "txladder" :: rest =>
        // Driver-side ceiling ladder for the transaction log (r15 verdict
        // item 1): TxLog.Snapshot holds the live-file list (+ decoded
        // add actions during replay) on the driver — the standard Delta-OSS
        // posture. This ladder measures, per synthetic live-set size n
        // (default 10⁴ → 10⁵ → 10⁶ add-actions with rows/size/stats),
        // what every verb actually pays:
        //   tip_ms        — latestVersion discovery (full listing, no pointer)
        //   replay_ms     — cold snapshot() over the raw commit log
        //   ckpt_write_ms — TxLog.checkpoint() (replay + materialize)
        //   ckpt_read_ms  — snapshot() from the checkpoint (the steady state)
        //   warm_ms       — second checkpoint-path snapshot (JIT-warm)
        //   retained_mb   — heap held by the returned Snapshot (GC'd delta)
        //   peak_mb       — transient heap peak during the cold replay
        //   ckpt_bytes    — checkpoint file size (the thing a 100 TB table's
        //                   driver parses per cold process start)
        // The log shape is Delta-realistic: 1000 adds per commit, every add
        // carrying rows/size and one min/max stat column; 0.1% of commits
        // are remove+re-add compactions so replay exercises the remove arm.
        val rungs = rest.headOption.map(_.split(",").toSeq.map(_.toInt))
          .getOrElse(Seq(10000, 100000, 1000000))
        val perCommit = rest.drop(1).headOption.map(_.toInt).getOrElse(1000)
        val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        import scala.jdk.CollectionConverters._
        def heapUsed(): Long = {
          System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(100)
          val r = Runtime.getRuntime; r.totalMemory - r.freeMemory
        }
        def resetPeaks(): Unit = pools.asScala.foreach(_.resetPeakUsage())
        def peakHeap(): Long = pools.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
        for (n <- rungs) {
          val dir = java.nio.file.Files.createTempDirectory(s"txladder_$n")
          val table = dir.resolve("t").toString
          val logd = java.nio.file.Paths.get(table, "_txlog")
          val commits = math.max(1, n / perCommit)
          import graft.sources.TxLog.{Add, ColStat, Remove}
          def file(k: Long) = s"$table/part-$k-aaaaaaaa.parquet"
          for (c <- 1 to commits) {
            // a vacuum-ish commit every 1000: retire two earlier files so
            // replay exercises the remove arm at every rung
            val b = (c - 2).toLong * perCommit
            val removes =
              if (c % 1000 == 3) Seq(b, b + 1).map(k => Remove(file(k)))
              else Seq.empty
            val adds = (0 until perCommit).map { i =>
              val k = c.toLong * perCommit + i
              Add(file(k), Some(perCommit.toLong), Some(134217728L),
                Seq(ColStat("k", s"${k * 1000}", s"${k * 1000 + 999}", None)))
            }
            graft.sources.TxLog.commit(table, c, removes ++ adds, "append")
          }
          def ms[T](f: => T): (T, Double) = {
            val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
          }
          val (_, tipMs) = ms(graft.sources.TxLog.latestVersion(table))
          val used0 = heapUsed(); resetPeaks()
          val (snap, replayMs) = ms(graft.sources.TxLog.snapshot(table))
          val peak = peakHeap() - used0
          val used1 = heapUsed()
          val (_, ckptWriteMs) = ms(graft.sources.TxLog.checkpoint(table))
          val ckptBytes = scala.util.Using.resource(
            java.nio.file.Files.list(logd))(_.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".checkpoint.json"))
              .map(java.nio.file.Files.size).sum)
          val (snap2, ckptReadMs) = ms(graft.sources.TxLog.snapshot(table))
          val (_, warmMs) = ms(graft.sources.TxLog.snapshot(table))
          // readChanges' metadata half (r16 verdict item 7): changes() reads
          // each version file serially on the driver — O(versions). Timed
          // over the FULL version range so the rung's commit count is the
          // ladder variable (run with small addsPerCommit to sweep
          // 10²–10⁴ commits).
          val (chg, chgMs) = ms(
            graft.sources.TxLog.changes(table, 0L, Long.MaxValue))
          println(f"TXLADDER: n=${snap.files.size} commits=$commits tip_ms=$tipMs%.1f " +
            f"replay_ms=$replayMs%.1f ckpt_write_ms=$ckptWriteMs%.1f " +
            f"ckpt_read_ms=$ckptReadMs%.1f warm_ms=$warmMs%.1f " +
            f"retained_mb=${(used1 - used0) / 1048576.0}%.1f peak_mb=${peak / 1048576.0}%.1f " +
            f"ckpt_bytes=$ckptBytes live2=${snap2.files.size} " +
            f"changes_ms=$chgMs%.1f changes_n=${chg.size}")
          scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
            s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
          }
        }
      case other =>
        System.err.println(s"unknown args: $other")
    }
    spark.stop()
  }
}
