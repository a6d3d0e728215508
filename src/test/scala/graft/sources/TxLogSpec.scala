package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The ACID contract of the transaction-log table format: atomic visibility,
  * optimistic concurrency with no lost updates, serializable merge retry,
  * time travel, and vacuum that never breaks a retained snapshot.
  */
class TxLogSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    val dir = Files.createTempDirectory(s"txlog_$name")
    // TxLog creates its own layout; hand it a non-existent child so the
    // table starts truly empty
    dir.resolve("t").toString
  }

  private def rows(table: String): Set[(Long, String)] =
    TxLog.snapshot(table).read(spark) match {
      case df if df.columns.isEmpty => Set.empty
      case df => df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }

  test("append then merge: upsert semantics, each commit one version") {
    import spark.implicits._
    val t = freshTable("merge")
    val v1 = TxLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    assert(v1 == 1L)
    val v2 = TxLog.merge(Seq((2L, "B"), (4L, "d")).toDF("k", "v"), t, "k")
    assert(v2 == 2L)
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("merge preserves unmentioned target columns (Delta updateAll), inserts null-fill") {
    import spark.implicits._
    val t = freshTable("preserve")
    TxLog.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "extra"), t,
      statsCol = Some("k"))
    // updates frame lacks `extra`: the matched row must KEEP 20, not null it
    TxLog.merge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), t, "k")
    val got = TxLog.snapshot(t).read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got == Set((1L, "a", Some(10L)), (2L, "B", Some(20L)), (3L, "c", None)),
      s"unmentioned column silently changed: $got")
    // and the change feed's post-image carries the PRESERVED value
    val t2 = freshTable("preserve_cdf")
    TxLog.append(Seq((1L, "a", 10L)).toDF("k", "v", "extra"), t2, statsCol = Some("k"))
    TxLog.merge(Seq((1L, "A")).toDF("k", "v"), t2, "k", changeFeed = true)
    val post = spark.read.format("txlog")
      .option("startingVersion", 1).option("readChangeFeed", "true").load(t2)
      .where(col("_change_type") === "update_postimage").collect()
    assert(post.length == 1 && post.head.getAs[Long]("extra") == 10L,
      "post-image must carry the preserved value")
  }

  test("time travel: an old snapshot replays exactly, immune to later rewrites") {
    import spark.implicits._
    val t = freshTable("tt")
    val v1 = TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TxLog.merge(Seq((1L, "A")).toDF("k", "v"), t, "k")
    TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), t)
    assert(rows(t) == Set((9L, "z")))
    val asOfV1 = TxLog.snapshot(t, asOf = v1).read(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(asOfV1 == Set((1L, "a"), (2L, "b")))
  }

  test("atomic visibility: a failed commit publishes nothing") {
    import spark.implicits._
    val t = freshTable("atomic")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    // claim version 2 out from under a committer, then watch its attempt
    // at the same slot fail WITHOUT changing the visible table
    TxLog.commit(t, 2L, Seq.empty, "squatter")
    val before = rows(t)
    intercept[TxLog.VersionConflict] {
      TxLog.commit(t, 2L, Seq(TxLog.Add("/nonexistent.parquet")), "loser")
    }
    assert(rows(t) == before)
    // and the loser's action never entered the log: replay at tip is clean
    assert(TxLog.snapshot(t).files.forall(!_.contains("nonexistent")))
  }

  test("optimistic concurrency: racing appenders all land, no lost updates") {
    import spark.implicits._
    val t = freshTable("race")
    val writers = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = (0 until writers).map { w =>
        scala.concurrent.Future(
          TxLog.append(Seq((w.toLong, s"w$w")).toDF("k", "v"), t))
      }
      val versions = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration("300s"))
      // every writer got a DISTINCT version (the hard-link claim is the
      // mutual exclusion) and every row is visible at the tip
      assert(versions.toSet.size == writers, s"versions $versions collided")
      assert(versions.max == writers.toLong)
      assert(rows(t) == (0 until writers).map(w => (w.toLong, s"w$w")).toSet)
    } finally pool.shutdown()
  }

  test("racing merges serialize: both updates survive the retry protocol") {
    import spark.implicits._
    val t = freshTable("mergerace")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val f1 = scala.concurrent.Future(
        TxLog.merge(Seq((1L, "A")).toDF("k", "v"), t, "k"))
      val f2 = scala.concurrent.Future(
        TxLog.merge(Seq((2L, "B")).toDF("k", "v"), t, "k"))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(f1, f2)),
        scala.concurrent.duration.Duration("300s"))
      // serial history: whichever merge retried re-read the other's commit,
      // so NEITHER update is lost (the lost-update anomaly this protocol
      // exists to prevent)
      assert(rows(t) == Set((1L, "A"), (2L, "B")))
    } finally pool.shutdown()
  }

  test("vacuum removes only unreachable files; retained time travel still reads") {
    import spark.implicits._
    val t = freshTable("vacuum")
    val v1 = TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    val v2 = TxLog.overwrite(Seq((2L, "b")).toDF("k", "v"), t)
    val v3 = TxLog.overwrite(Seq((3L, "c")).toDF("k", "v"), t)
    // retain the last two versions: v2's files must survive, v1's may go
    // (grace 0: this test is single-writer, no in-flight staging to protect)
    val deleted = TxLog.vacuum(t, retainVersions = 1L, graceMs = 0L)
    assert(deleted > 0, "the v1 files are unreachable from v2/v3 and must be deleted")
    assert(rows(t) == Set((3L, "c")))
    val asOfV2 = TxLog.snapshot(t, asOf = v2).read(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(asOfV2 == Set((2L, "b")))
    // v1 is outside the retention window; its files are gone from disk
    val v1Files = TxLog.snapshot(t, asOf = v1).files
    assert(v1Files.forall(p => !Files.exists(Paths.get(p))))
  }

  test("file-scoped merge: untouched files survive by path identity, results exact") {
    import spark.implicits._
    val t = freshTable("filescope")
    // 100 keys range-partitioned into 4 files with disjoint key ranges and
    // per-file min/max stats recorded in the add-actions
    val base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TxLog.append(base, t, statsCol = Some("k"))
    val before = TxLog.snapshot(t).files
    assert(before.size == 4, s"expected 4 range files, got ${before.size}")
    // update keys 95..97 (one file's range) + insert 200 (outside every range)
    TxLog.merge(Seq((95L, "X"), (96L, "Y"), (200L, "new")).toDF("k", "v"), t, "k")
    val after = TxLog.snapshot(t).files.toSet
    val survivors = before.filter(after.contains)
    // exactly one of the four files held keys 95/96 → exactly three survive
    // IN PLACE (same path, no rewrite); a full-rewrite merge would leave zero
    assert(survivors.size == 3,
      s"expected 3 untouched files to survive by path identity, got ${survivors.size}")
    assert(rows(t) == ((1 to 100).map {
      case 95 => (95L, "X"); case 96 => (96L, "Y"); case i => (i.toLong, s"v$i")
    }.toSet + ((200L, "new"))))
    // a second merge prunes against the MERGED output's re-recorded stats:
    // updating key 1 must not rewrite the files holding 26..100
    val before2 = TxLog.snapshot(t).files
    TxLog.merge(Seq((1L, "A")).toDF("k", "v"), t, "k")
    val after2 = TxLog.snapshot(t).files.toSet
    assert(before2.count(after2.contains) >= 2,
      "stats were not re-recorded by merge: second merge rewrote everything")
    assert(rows(t).contains((1L, "A")) && rows(t).contains((100L, "v100")))
  }

  test("checkpoint compaction: snapshot ≡ full replay and reads only the commit suffix") {
    import spark.implicits._
    val t = freshTable("ckpt")
    // 23 commits with removes in the history (merges rewrite), crossing two
    // auto-checkpoint boundaries (interval 10 → checkpoints at v10, v20)
    (1 to 17).foreach(i => TxLog.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    TxLog.merge(Seq((1L, "V1"), (18L, "v18")).toDF("k", "v"), t, "k") // v18
    (19 to 23).foreach(i => TxLog.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    assert(Files.exists(Paths.get(t, "_txlog", f"${10L}%020d.checkpoint.json")))
    assert(Files.exists(Paths.get(t, "_txlog", f"${20L}%020d.checkpoint.json")))
    // a checkpoint never makes a version look committed
    assert(TxLog.latestVersion(t) == 23L)
    // checkpointed snapshot ≡ full replay, exactly (same files, same order-free set)
    val viaCkpt = TxLog.snapshot(t).files.toSet
    val full = TxLog.replayAdds(t, Long.MaxValue, useCheckpoint = false).live.keySet
    assert(viaCkpt == full)
    assert(rows(t) == ((2 to 23).map(i => (i.toLong, s"v$i")) :+ ((1L, "V1"))).toSet)
    // O(suffix) proof: a fresh snapshot reads checkpoint@20 + commits 21..23
    // = exactly 3 commit files, not 23
    TxLog.commitFilesReplayed.set(0L)
    TxLog.snapshot(t)
    assert(TxLog.commitFilesReplayed.get == 3L,
      s"snapshot replayed ${TxLog.commitFilesReplayed.get} commit files; compaction should leave 3")
    // time travel BELOW the first checkpoint still replays exactly
    val asOf5 = TxLog.snapshot(t, asOf = 5L).read(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(asOf5 == (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("vacuum grace window shields in-flight staged files from deletion") {
    import spark.implicits._
    val t = freshTable("grace")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    // simulate an in-flight writer: data files staged, commit NOT yet
    // published (exactly the stageFiles-then-commit gap vacuum must respect)
    val stage = Paths.get(t, "data", "inflight-stage")
    Seq((9L, "z")).toDF("k", "v").write.parquet(stage.toString)
    val staged = Files.list(stage).iterator()
    val stagedParquet = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    while (staged.hasNext) { val p = staged.next(); if (p.toString.endsWith(".parquet")) stagedParquet += p }
    assert(stagedParquet.nonEmpty)
    // default grace: the just-written unreferenced files MUST survive
    TxLog.vacuum(t)
    assert(stagedParquet.forall(Files.exists(_)),
      "vacuum deleted files staged by an in-flight commit inside the grace window")
    // age the staged files past the window: now they are garbage and go
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600_000L)
    stagedParquet.foreach(Files.setLastModifiedTime(_, old))
    val deleted = TxLog.vacuum(t)
    assert(deleted == stagedParquet.size.toLong)
    assert(stagedParquet.forall(!Files.exists(_)))
    assert(rows(t) == Set((1L, "a")), "live table unaffected either way")
  }

  test("vacuum path spelling: relative writer + differently-spelled caller never deletes live files") {
    import spark.implicits._
    // writer uses a RELATIVE table path; vacuum is called with a ./-prefixed
    // spelling of the same table — string-equality matching would miss every
    // live file and delete the whole table
    val abs = Paths.get(freshTable("spell"))
    val rel = Paths.get("").toAbsolutePath.relativize(abs).toString
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), rel)
    val deleted = TxLog.vacuum("./" + rel, graceMs = 0L)
    assert(deleted == 0L, s"vacuum deleted $deleted LIVE files on a path-spelling mismatch")
    assert(rows(rel) == Set((1L, "a"), (2L, "b")))
  }

  test("readPruned skips files by stats, keeps opaque files, answers exactly") {
    import spark.implicits._
    val t = freshTable("prune")
    // three stats-bearing files with disjoint key ranges + one opaque file
    for (slice <- 0 until 3)
      TxLog.append((0 until 10).map(i => (slice * 100L + i, s"s$slice"))
        .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    TxLog.append(Seq((999L, "opaque")).toDF("k", "v").repartition(1), t) // no stats
    assert(TxLog.snapshot(t).files.size == 4)

    // ask for the middle slice: 1 stats hit + 1 opaque conservative keep
    val files = TxLog.prunedFiles(spark, t, "k", 100L, 109L)
    assert(files.size == 2, s"expected middle file + opaque, got ${files.size}: $files")
    val got = TxLog.readPruned(spark, t, "k", 100L, 109L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (100L until 110L).toSet, "residual filter still applies inside kept files")

    // a miss range touches only the opaque file and returns nothing
    assert(TxLog.prunedFiles(spark, t, "k", 5000L, 6000L).size == 1)
    assert(TxLog.readPruned(spark, t, "k", 5000L, 6000L).count() == 0)
    // the opaque row is reachable when asked for
    assert(TxLog.readPruned(spark, t, "k", 999L, 999L).count() == 1)
  }

  test("multi-column stats: one comma-separated statsCol prunes on either column") {
    import spark.implicits._
    val t = freshTable("prune2")
    // two files with disjoint ranges on BOTH k and ts
    TxLog.append((0 until 10).map(i => (i.toLong, 1000L + i)).toDF("k", "ts")
      .repartition(1), t, statsCol = Some("k,ts"))
    TxLog.append((100 until 110).map(i => (i.toLong, 5000L + i)).toDF("k", "ts")
      .repartition(1), t, statsCol = Some("k, ts"))
    // prune on the FIRST column…
    assert(TxLog.prunedFiles(spark, t, "k", 0L, 9L).size == 1)
    // …and independently on the SECOND
    assert(TxLog.prunedFiles(spark, t, "ts", 5000L, 5999L).size == 1)
    assert(TxLog.readPruned(spark, t, "ts", 5000L, 5999L)
      .select("k").collect().map(_.getLong(0)).toSet == (100L until 110L).toSet)
    // merge still prunes by its key against the multi-stats lines
    TxLog.merge(Seq((0L, 9999L)).toDF("k", "ts"), t, "k")
    assert(TxLog.snapshot(t).read(spark).count() == 20)
  }

  test("schema enforcement refuses drift; evolution null-fills and survives every path") {
    import spark.implicits._
    val t = freshTable("schema")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, statsCol = Some("k"))

    // type drift is refused ALWAYS, merged or not
    val drift = Seq(("x", 1L)).toDF("k", "v")
    intercept[TxLog.SchemaMismatch](TxLog.append(drift, t))
    intercept[TxLog.SchemaMismatch](TxLog.append(drift, t, mergeSchema = true))
    // a new column needs the explicit flag
    val wide = Seq((3L, "c", 7L)).toDF("k", "v", "extra")
    intercept[TxLog.SchemaMismatch](TxLog.append(wide, t))
    val vEvo = TxLog.append(wide, t, mergeSchema = true)

    // read under the evolved schema: old files null-fill, order is the log's
    val df = TxLog.snapshot(t).read(spark)
    assert(df.columns.toSeq == Seq("k", "v", "extra"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(7L))))

    // a write MISSING the new column is still fine (reads as null)
    TxLog.append(Seq((4L, "d")).toDF("k", "v"), t)
    // time travel below the evolution sees the ORIGINAL schema
    assert(TxLog.snapshot(t, asOf = 1L).read(spark).columns.toSeq == Seq("k", "v"))

    // merge with an evolved-schema update flows through (missing columns ok)
    TxLog.merge(Seq((1L, "A", 9L)).toDF("k", "v", "extra"), t, "k", mergeSchema = true)
    // optimize compacts across the evolution and PRESERVES the schema
    TxLog.optimize(spark, t, targetBytes = 1L << 30, statsCol = Some("k"))
    val after = TxLog.snapshot(t).read(spark)
    assert(after.columns.toSeq == Seq("k", "v", "extra"))
    assert(after.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet ==
      Set((1L, "A", Some(9L)), (2L, "b", None), (3L, "c", Some(7L)), (4L, "d", None)))

    // the evolved schema survives checkpoint compaction too: force commits
    // past the interval and confirm a fresh (checkpoint + suffix) replay
    for (b <- 0 until 10)
      TxLog.append(Seq((100L + b, s"x$b")).toDF("k", "v"), t)
    assert(TxLog.snapshot(t).read(spark).columns.toSeq == Seq("k", "v", "extra"))
  }

  test("vacuum sweeps aged crash litter from _txlog, never published files") {
    import spark.implicits._
    val t = freshTable("litter")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    // simulate a writer that crashed before its finally: stale dot-files
    val log = Paths.get(t, "_txlog")
    val tmp = Files.createTempFile(log, ".tmp-99-", ".json")
    val ck = Files.createTempFile(log, ".ckpt-99-", ".json")
    // young litter survives the grace window
    assert(TxLog.vacuum(t) == 0L)
    assert(Files.exists(tmp) && Files.exists(ck))
    // aged litter goes; the published commit and data are untouched
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600_000L)
    Files.setLastModifiedTime(tmp, old); Files.setLastModifiedTime(ck, old)
    assert(TxLog.vacuum(t) == 2L)
    assert(!Files.exists(tmp) && !Files.exists(ck))
    assert(TxLog.latestVersion(t) == 1L)
    assert(rows(t) == Set((1L, "a")))
  }

  test("readChanges stamps rows with their commit; optimize invisible, rewrites gated") {
    import spark.implicits._
    val t = freshTable("cdf")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)
    TxLog.optimize(spark, t, targetBytes = 1L << 30) // v3: byte shuffle, no row change
    TxLog.append(Seq((4L, "d")).toDF("k", "v"), t)   // v4

    def stamped(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select("k", "v", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // the full feed: appends stamped with their version, optimize invisible
    assert(stamped(TxLog.readChanges(spark, t, 0L)) ==
      Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L), (4L, "d", 4L)))
    // a suffix range
    assert(stamped(TxLog.readChanges(spark, t, 2L)) == Set((4L, "d", 4L)))
    // an empty range carries the schema, zero rows
    assert(TxLog.readChanges(spark, t, 4L).count() == 0)

    // a merge in range is refused by default, emitted with includeRewrites
    TxLog.merge(Seq((1L, "A")).toDF("k", "v"), t, "k") // v5 (rewrites all: no stats)
    val e = intercept[IllegalStateException](TxLog.readChanges(spark, t, 4L))
    assert(e.getMessage.contains("includeRewrites"))
    val re = stamped(TxLog.readChanges(spark, t, 4L, includeRewrites = true))
    assert(re.contains((1L, "A", 5L)), s"the merged row must appear, got $re")
    assert(re.forall(_._3 == 5L))
  }

  test("restore rolls back as a new versioned commit without copying data") {
    import spark.implicits._
    val t = freshTable("restore")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, statsCol = Some("k")) // v1
    TxLog.merge(Seq((1L, "A")).toDF("k", "v"), t, "k")                              // v2
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)                                  // v3
    val dataFilesBefore = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(Paths.get(t, "data")))(
        _.iterator().asScala.count(_.toString.endsWith(".parquet")))
    }
    val v = TxLog.restore(t, 1L)
    assert(v == 4L, "restore must be a NEW commit")
    assert(rows(t) == Set((1L, "a"), (2L, "b")), "tip reads the v1 state")
    // history preserved: the rolled-back states are still time-travelable
    assert(TxLog.snapshot(t, 3L).read(spark).count() == 3)
    // pure metadata: no data file was written by the rollback
    val dataFilesAfter = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(Paths.get(t, "data")))(
        _.iterator().asScala.count(_.toString.endsWith(".parquet")))
    }
    assert(dataFilesAfter == dataFilesBefore, "restore must not copy or write data")
    // restored add-actions keep their stats: a merge still prunes
    assert(TxLog.merge(Seq((2L, "B")).toDF("k", "v"), t, "k") == 5L)
    assert(rows(t) == Set((1L, "a"), (2L, "B")))
    // future version refused
    intercept[IllegalArgumentException](TxLog.restore(t, 99L))
  }

  test("disjoint-commit admission: an independent winner costs no re-derivation") {
    import spark.implicits._
    val t = freshTable("admission")
    // 100 keys range-partitioned into 4 stats-bearing files
    TxLog.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")), t, statsCol = Some("k"))

    // DISJOINT winner: just before our merge (keys 95..97) commits, an
    // append lands keys 200..204 (stats-bearing, provably outside the
    // update envelope). The merge must re-commit its SAME actions — exactly
    // ONE derivation — and both writers' rows must survive.
    TxLog.mergeDerivations.set(0L)
    TxLog.mergeCommitHook = () => {
      TxLog.mergeCommitHook = () => ()
      TxLog.append((200 to 204).map(i => (i.toLong, s"n$i")).toDF("k", "v")
        .repartition(1), t, statsCol = Some("k"))
      ()
    }
    try {
      val v = TxLog.merge(Seq((95L, "X")).toDF("k", "v"), t, "k")
      assert(v == 3L, "append won v2; the admitted merge lands at v3")
    } finally TxLog.mergeCommitHook = () => ()
    assert(TxLog.mergeDerivations.get == 1L,
      s"disjoint winner must not force a re-derivation, saw ${TxLog.mergeDerivations.get}")
    assert(rows(t).contains((95L, "X")) && rows(t).contains((200L, "n200")) &&
      rows(t).contains((94L, "v94")))

    // OVERLAPPING winner: the concurrent append lands a row with one of OUR
    // update keys — not provably disjoint, so the merge must re-derive
    // (two derivations) and, serialized after the winner, replace BOTH
    // copies of the key.
    TxLog.mergeDerivations.set(0L)
    TxLog.mergeCommitHook = () => {
      TxLog.mergeCommitHook = () => ()
      TxLog.append(Seq((96L, "dup")).toDF("k", "v").repartition(1), t,
        statsCol = Some("k"))
      ()
    }
    try TxLog.merge(Seq((96L, "Z")).toDF("k", "v"), t, "k")
    finally TxLog.mergeCommitHook = () => ()
    assert(TxLog.mergeDerivations.get == 2L,
      s"an overlapping winner must re-derive, saw ${TxLog.mergeDerivations.get}")
    val k96 = TxLog.snapshot(t).read(spark).filter(col("k") === 96L)
      .select("v").collect().map(_.getString(0)).toSeq
    assert(k96 == Seq("Z"),
      s"serialized after the winner, the merge must replace both copies: $k96")

    // STATS-LESS winner: an opaque add is unprovable — conservative re-derive
    TxLog.mergeDerivations.set(0L)
    TxLog.mergeCommitHook = () => {
      TxLog.mergeCommitHook = () => ()
      TxLog.append(Seq((300L, "op")).toDF("k", "v").repartition(1), t) // no stats
      ()
    }
    try TxLog.merge(Seq((97L, "Y")).toDF("k", "v"), t, "k")
    finally TxLog.mergeCommitHook = () => ()
    assert(TxLog.mergeDerivations.get == 2L, "an opaque add is not provably disjoint")
    assert(rows(t).contains((97L, "Y")) && rows(t).contains((300L, "op")))
  }

  test("_last_checkpoint pointer: log discovery without O(versions) listings") {
    import spark.implicits._
    val t = freshTable("ptr")
    (1 to 23).foreach(i => TxLog.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    val ptr = Paths.get(t, "_txlog", "_last_checkpoint")
    assert(Files.exists(ptr), "checkpoint at v20 must publish the pointer")
    // with the pointer, finding the tip and replaying a snapshot needs ZERO
    // directory listings: probe forward from the pointed checkpoint instead
    TxLog.logDirListings.set(0L)
    TxLog.commitFilesReplayed.set(0L)
    assert(TxLog.latestVersion(t) == 23L)
    val viaPtr = TxLog.snapshot(t).files.toSet
    assert(TxLog.logDirListings.get == 0L,
      s"pointer present but ${TxLog.logDirListings.get} full listings happened")
    assert(TxLog.commitFilesReplayed.get == 3L, "still checkpoint@20 + 21..23")
    // pointer gone → listing fallback, identical answer
    Files.delete(ptr)
    TxLog.logDirListings.set(0L)
    assert(TxLog.snapshot(t).files.toSet == viaPtr)
    assert(TxLog.logDirListings.get > 0L, "no pointer → the listing path ran")
    // a corrupt pointer is ignored, never trusted
    Files.write(ptr, "garbage".getBytes)
    assert(TxLog.snapshot(t).files.toSet == viaPtr)
    assert(TxLog.latestVersion(t) == 23L)
    // a stale pointer (older checkpoint) only lengthens the replay suffix
    Files.write(ptr, """{"version":10}""".getBytes)
    assert(TxLog.snapshot(t).files.toSet == viaPtr)
    // time travel below the pointer falls back and stays exact
    Files.write(ptr, """{"version":20}""".getBytes)
    assert(TxLog.snapshot(t, asOf = 5L).read(spark).count() == 5L)
  }

  test("delete is file-scoped: untouched files survive by path identity, answer exact") {
    import spark.implicits._
    val t = freshTable("delete")
    // 100 keys range-partitioned into 4 files with disjoint key ranges
    val base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TxLog.append(base, t, statsCol = Some("k"))
    val before = TxLog.snapshot(t).files
    assert(before.size == 4)
    // delete three keys that live in ONE file's range
    val v = TxLog.delete(spark, t, col("k") >= 95L && col("k") <= 97L,
      statsCol = Some("k"))
    assert(v == 2L, "delete must be one new commit")
    val after = TxLog.snapshot(t).files.toSet
    assert(before.count(after.contains) == 3,
      "exactly the file holding 95..97 may be rewritten; the other three " +
        "must survive IN PLACE (same path)")
    assert(rows(t) == (1 to 100).filterNot(i => i >= 95 && i <= 97)
      .map(i => (i.toLong, s"v$i")).toSet)
    // a delete matching nothing commits nothing — the tip stays put
    assert(TxLog.delete(spark, t, col("k") === 9999L) == 2L)
    assert(TxLog.latestVersion(t) == 2L)
    // history records the op; time travel above the delete still works
    assert(TxLog.history(t).head.op == "delete")
    assert(TxLog.snapshot(t, asOf = 1L).read(spark).count() == 100)
  }

  test("delete keeps rows where the predicate is NULL (SQL DELETE semantics)") {
    import spark.implicits._
    val t = freshTable("delnull")
    TxLog.append(Seq((1L, Some("drop")), (2L, Some("keep")), (3L, None))
      .toDF("k", "v"), t)
    TxLog.delete(spark, t, col("v") === "drop")
    // row 3's predicate evaluates NULL → kept, exactly like SQL DELETE
    assert(TxLog.snapshot(t).read(spark).select("k").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("delete commits gate the change feed and stream like other rewrites") {
    import spark.implicits._
    val t = freshTable("delcdf")
    // one file holds both rows, so the delete's rewrite carries a survivor
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), t)
    TxLog.delete(spark, t, col("k") === 1L)
    val e = intercept[IllegalStateException](TxLog.readChanges(spark, t, 0L))
    assert(e.getMessage.contains("delete") && e.getMessage.contains("includeRewrites"))
    val re = TxLog.readChanges(spark, t, 0L, includeRewrites = true)
      .select("k", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the survivor row re-emits stamped with the delete's version
    assert(re == Set((1L, 1L), (2L, 1L), (2L, 2L)))
  }

  test("delete drops provably-covered files as pure metadata (no read, no rewrite)") {
    import spark.implicits._
    val t = freshTable("del_cover")
    // four range-disjoint stat files: slice s holds keys [s*100, s*100+9]
    for (slice <- 0 until 4)
      TxLog.append((0 until 10).map(i => (slice * 100L + i, s"s$slice"))
        .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    val before = TxLog.snapshot(t).files.toSet
    // k <= 109 covers slices 0 and 1 ENTIRELY: both drop as pure metadata —
    // the commit carries removes only, nothing is read or staged
    val v = TxLog.delete(spark, t, col("k") <= 109L, statsCol = Some("k"))
    assert(TxLog.deleteCoveredFiles.get == 2L,
      s"expected 2 covered files, got ${TxLog.deleteCoveredFiles.get}")
    val commit = TxLog.changes(t, v - 1, v).head
    assert(commit.op == "delete" && commit.added.isEmpty,
      "a fully-covered delete must stage NO files (pure metadata removes)")
    assert(TxLog.snapshot(t).files.toSet.subsetOf(before),
      "survivors must be the original files by path identity")
    assert(TxLog.snapshot(t).read(spark).count() == 20L)
    // a PARTIALLY covered band still rewrites: slice 2 holds 200..209,
    // k <= 205 proves nothing whole-file, so it goes through the touch scan
    TxLog.delete(spark, t, col("k") <= 205L, statsCol = Some("k"))
    assert(TxLog.deleteCoveredFiles.get == 0L)
    assert(TxLog.snapshot(t).read(spark).select("k").collect()
      .map(_.getLong(0)).toSet ==
      ((206L to 209L) ++ (300L to 309L)).toSet)
    // and a suffix delete covers slice 3 whole again
    val v3 = TxLog.delete(spark, t, col("k") >= 300L, statsCol = Some("k"))
    assert(TxLog.deleteCoveredFiles.get == 1L)
    assert(TxLog.changes(t, v3 - 1, v3).head.added.isEmpty)
    assert(TxLog.snapshot(t).read(spark).select("k").collect()
      .map(_.getLong(0)).toSet == (206L to 209L).toSet)
  }

  test("a null in the predicate column blocks the whole-file proof (row must be KEPT)") {
    import spark.implicits._
    val t = freshTable("del_covnull")
    // min=1, max=2 — the envelope lies inside k <= 5 — but the null row's
    // predicate evaluates NULL and SQL DELETE keeps it: dropping the file
    // whole on envelope evidence would silently erase that row
    TxLog.append(Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n"))
      .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    TxLog.delete(spark, t, col("k") <= 5L, statsCol = Some("k"))
    assert(TxLog.deleteCoveredFiles.get == 0L,
      "a file with nulls in the referenced column must never be covered")
    assert(TxLog.snapshot(t).read(spark).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
      .toSet == Set((None, "n")))
    // legacy stats lines (no recorded null count) are likewise never
    // covered — the rewrite path handles them, the answer stays exact
    val t2 = freshTable("del_covlegacy")
    val stage = Paths.get(t2, "data", "manual")
    Seq((0L, "x"), (5L, "y")).toDF("k", "v").repartition(1)
      .write.parquet(stage.toString)
    val file = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(stage))(
        _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.head)
    }
    TxLog.commit(t2, 1L, Seq(
      TxLog.Add(file, stats = Seq(TxLog.ColStat("k", "0", "5", None)))),
      "append")
    TxLog.delete(spark, t2, col("k") <= 10L)
    assert(TxLog.deleteCoveredFiles.get == 0L,
      "a legacy stats line without a null count offers no whole-file proof")
    assert(TxLog.snapshot(t2).read(spark).count() == 0L,
      "the rewrite path must still delete every matching row")
  }

  test("readChangeFeed: exact row-level changes, derived and sidecar-recorded") {
    import spark.implicits._
    val t = freshTable("cdf2")
    TxLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1), t)                                             // v1
    TxLog.update(spark, t, col("k") === 2L, Map("v" -> lit("B")),
      changeFeed = true)                                              // v2
    TxLog.delete(spark, t, col("k") === 1L, changeFeed = true)        // v3
    TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), t)                 // v4
    TxLog.restore(t, 1L)                                              // v5
    val feed = TxLog.readChangeFeed(spark, t, 0L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    val want = Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L), (3L, "c", "insert", 1L),
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (1L, "a", "delete", 3L),
      // overwrite derives exactly: survivors out, new rows in
      (2L, "B", "delete", 4L), (3L, "c", "delete", 4L), (9L, "z", "insert", 4L),
      // restore = the inverse, stamped with ITS version
      (9L, "z", "delete", 5L),
      (1L, "a", "insert", 5L), (2L, "b", "insert", 5L), (3L, "c", "insert", 5L))
    assert(feed == want, s"feed mismatch:\n got ${feed.toSeq.sortBy(x => (x._4, x._1))}")
    // EXACT multiplicity, not just the set: the restore re-adds v1's file,
    // so the same path carries versions 1 AND 5 — the scan must read each
    // file once and let the attribution join alone fan rows to versions
    // (duplicate paths into one parquet() call would read rows twice and
    // square the duplication)
    assert(TxLog.readChangeFeed(spark, t, 0L).count() == want.size.toLong,
      "feed must emit each change exactly once")
    // a bounded range slices exactly
    assert(TxLog.readChangeFeed(spark, t, 1L, 3L).collect().length == 3)
  }

  test("readChangeFeed: merge sidecars emit pre/post pairs and inserts") {
    import spark.implicits._
    val t = freshTable("cdfmerge")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), t) // v1
    TxLog.merge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), t, "k",
      changeFeed = true)                                                     // v2
    val feed = TxLog.readChangeFeed(spark, t, 1L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    assert(feed == Set(
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (3L, "c", "insert", 2L)))
  }

  test("readChangeFeed: covered deletes derive free; unrecorded rewrites refuse") {
    import spark.implicits._
    val t = freshTable("cdf3")
    // two range-disjoint stat files; delete one WHOLE band with NO sidecar
    // opt-in — the allDeleted flag on the metadata drop is the evidence
    for (slice <- 0 until 2)
      TxLog.append((0 until 3).map(i => (slice * 100L + i, s"s$slice"))
        .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    TxLog.delete(spark, t, col("k") >= 100L)                          // v3, covered
    assert(TxLog.deleteCoveredFiles.get == 1L)
    val feed = TxLog.readChangeFeed(spark, t, 2L)
      .select("k", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((100L, "delete", 3L), (101L, "delete", 3L), (102L, "delete", 3L)))
    // a REWRITING delete without changeFeed recorded no evidence: refused,
    // by version, with the remedy named
    TxLog.delete(spark, t, col("k") === 1L)                           // v4, rewrite
    val e = intercept[IllegalStateException](TxLog.readChangeFeed(spark, t, 3L))
    assert(e.getMessage.contains("version 4") && e.getMessage.contains("changeFeed"))
    // merge commits are refused too
    TxLog.merge(Seq((2L, "M")).toDF("k", "v"), t, "k")                // v5
    val e2 = intercept[IllegalStateException](TxLog.readChangeFeed(spark, t, 4L))
    assert(e2.getMessage.contains("merge"))
  }

  test("readChangeFeed refuses a remove-only rewrite with no evidence (no adds)") {
    import spark.implicits._
    val t = freshTable("cdf4")
    TxLog.append(Seq((1L, "a")).toDF("k", "v").repartition(1), t)     // v1
    // hand-crafted pathological commit: a delete that removed a file but
    // staged NO adds and recorded no sidecar or allDeleted flag — the old
    // adds-based guard silently omitted its deletions from the feed
    val victim = TxLog.snapshot(t).files.head
    TxLog.commit(t, 2L, Seq(TxLog.Remove(victim)), "delete")
    val e = intercept[IllegalStateException](TxLog.readChangeFeed(spark, t, 0L))
    assert(e.getMessage.contains("version 2") && e.getMessage.contains("removed rows"))
  }

  test("update resolves SET targets with the session resolver (case-insensitive)") {
    import spark.implicits._
    val t = freshTable("updcase")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), t)
    // `SET V = ...` on column `v` resolves under the default resolver
    TxLog.update(spark, t, col("k") === 1L, Map("V" -> lit("up")))
    assert(TxLog.snapshot(t).read(spark).where(col("k") === 1L)
      .select("v").as[String].head() == "up")
    // two spellings of one column are a duplicate target, refused whole
    val e = intercept[TxLog.SchemaMismatch](
      TxLog.update(spark, t, lit(true), Map("v" -> lit("x"), "V" -> lit("y"))))
    assert(e.getMessage.contains("more than once"))
  }

  test("vacuum keeps cdc sidecars of retained commits, collects older ones") {
    import spark.implicits._
    val t = freshTable("cdfvac")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), t) // v1
    TxLog.update(spark, t, col("k") === 1L, Map("v" -> lit("A1")),
      changeFeed = true)                                                     // v2
    TxLog.update(spark, t, col("k") === 1L, Map("v" -> lit("A2")),
      changeFeed = true)                                                     // v3
    def cdcCount = {
      import scala.jdk.CollectionConverters._
      val d = Paths.get(t, "_change_data")
      if (!Files.isDirectory(d)) 0
      else scala.util.Using.resource(Files.walk(d))(
        _.iterator().asScala.count(_.toString.endsWith(".parquet")))
    }
    val before = cdcCount
    assert(before > 0, "updates with changeFeed must stage sidecars")
    // retain only the tip: v3's sidecars stay, v2's are collectible
    TxLog.vacuum(t, retainVersions = 0L, graceMs = 0L)
    assert(cdcCount < before, "v2's sidecars must be collected")
    // the retained range still reads exactly
    val recent = TxLog.readChangeFeed(spark, t, 2L)
      .select("v", "_change_type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(recent == Set(("A1", "update_preimage"), ("A2", "update_postimage")))
  }

  test("vacuum keeps the derived-delete evidence of retained commits") {
    import spark.implicits._
    val t = freshTable("cdfvac2")
    // a covered whole-file drop records NO sidecar — its evidence IS the
    // removed file, which must survive vacuum exactly as long as its
    // commit is retained, or the retained tip's feed breaks while its
    // sidecars (had it been a rewrite) would have been kept
    for (slice <- 0 until 2)
      TxLog.append((0 until 3).map(i => (slice * 100L + i, s"s$slice"))
        .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    TxLog.delete(spark, t, col("k") >= 100L)          // v3 = covered drop (tip)
    assert(TxLog.deleteCoveredFiles.get == 1L)
    TxLog.vacuum(t, retainVersions = 0L, graceMs = 0L)
    val feed = TxLog.readChangeFeed(spark, t, 2L)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((100L, "delete"), (101L, "delete"), (102L, "delete")),
      "the retained tip's derived deletions must still read after vacuum")
  }

  test("delete admits provably-disjoint winners without re-deriving") {
    import spark.implicits._
    val t = freshTable("deladmit")
    TxLog.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")), t, statsCol = Some("k"))
    // DISJOINT winner: a concurrent stats-bearing append far outside the
    // predicate band steals the version slot mid-commit; the stats prove
    // its adds hold no matching row, so the delete re-commits its SAME
    // actions — exactly ONE derivation
    TxLog.deleteDerivations.set(0L)
    TxLog.deleteCommitHook = () => {
      TxLog.deleteCommitHook = () => ()
      TxLog.append((200 to 204).map(i => (i.toLong, s"n$i")).toDF("k", "v")
        .repartition(1), t, statsCol = Some("k"))
      ()
    }
    try {
      val v = TxLog.delete(spark, t, col("k") >= 95L && col("k") <= 97L,
        statsCol = Some("k"))
      assert(v == 3L, "append won v2; the admitted delete lands at v3")
    } finally TxLog.deleteCommitHook = () => ()
    assert(TxLog.deleteDerivations.get == 1L,
      s"disjoint winner must not force a re-derivation, saw ${TxLog.deleteDerivations.get}")
    val ks = TxLog.snapshot(t).read(spark).select("k").collect().map(_.getLong(0)).toSet
    assert(!ks.contains(96L) && ks.contains(200L) && ks.contains(94L))

    // OVERLAPPING winner: the concurrent append lands a row INSIDE the
    // predicate — not provably disjoint, so the delete re-derives (two
    // derivations) and, serialized after the winner, deletes BOTH copies
    TxLog.deleteDerivations.set(0L)
    TxLog.deleteCommitHook = () => {
      TxLog.deleteCommitHook = () => ()
      TxLog.append(Seq((50L, "dup")).toDF("k", "v").repartition(1), t,
        statsCol = Some("k"))
      ()
    }
    try TxLog.delete(spark, t, col("k") === 50L, statsCol = Some("k"))
    finally TxLog.deleteCommitHook = () => ()
    assert(TxLog.deleteDerivations.get == 2L,
      s"an overlapping winner must re-derive, saw ${TxLog.deleteDerivations.get}")
    assert(TxLog.snapshot(t).read(spark).filter(col("k") === 50L).count() == 0L,
      "serialized after the winner, the delete must remove both copies")

    // STATS-LESS winner: an opaque add is unprovable — conservative re-derive
    TxLog.deleteDerivations.set(0L)
    TxLog.deleteCommitHook = () => {
      TxLog.deleteCommitHook = () => ()
      TxLog.append(Seq((300L, "op")).toDF("k", "v").repartition(1), t) // no stats
      ()
    }
    try TxLog.delete(spark, t, col("k") === 60L)
    finally TxLog.deleteCommitHook = () => ()
    assert(TxLog.deleteDerivations.get == 2L, "an opaque add is not provably disjoint")
    val after = TxLog.snapshot(t).read(spark).select("k").collect().map(_.getLong(0)).toSet
    assert(!after.contains(60L) && after.contains(300L))
  }

  test("update admits provably-disjoint winners without re-deriving") {
    import spark.implicits._
    val t = freshTable("updadmit")
    TxLog.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")), t, statsCol = Some("k"))
    TxLog.updateDerivations.set(0L)
    TxLog.updateCommitHook = () => {
      TxLog.updateCommitHook = () => ()
      TxLog.append((200 to 204).map(i => (i.toLong, s"n$i")).toDF("k", "v")
        .repartition(1), t, statsCol = Some("k"))
      ()
    }
    try {
      val v = TxLog.update(spark, t, col("k") >= 95L && col("k") <= 97L,
        Map("v" -> upper(col("v"))), statsCol = Some("k"))
      assert(v == 3L, "append won v2; the admitted update lands at v3")
    } finally TxLog.updateCommitHook = () => ()
    assert(TxLog.updateDerivations.get == 1L,
      s"disjoint winner must not force a re-derivation, saw ${TxLog.updateDerivations.get}")
    assert(rows(t).contains((96L, "V96")) && rows(t).contains((200L, "n200")))

    // OVERLAPPING winner: its row is inside the predicate — re-derive and,
    // serialized after the winner, update BOTH copies of the key
    TxLog.updateDerivations.set(0L)
    TxLog.updateCommitHook = () => {
      TxLog.updateCommitHook = () => ()
      TxLog.append(Seq((50L, "dup")).toDF("k", "v").repartition(1), t,
        statsCol = Some("k"))
      ()
    }
    try TxLog.update(spark, t, col("k") === 50L, Map("v" -> upper(col("v"))))
    finally TxLog.updateCommitHook = () => ()
    assert(TxLog.updateDerivations.get == 2L,
      s"an overlapping winner must re-derive, saw ${TxLog.updateDerivations.get}")
    val k50 = TxLog.snapshot(t).read(spark).filter(col("k") === 50L)
      .select("v").collect().map(_.getString(0)).toSet
    assert(k50 == Set("V50", "DUP"),
      s"serialized after the winner, both copies must be updated: $k50")
  }

  test("update is file-scoped: untouched files survive by path identity, answer exact") {
    import spark.implicits._
    val t = freshTable("update")
    // 100 keys range-partitioned into 4 files with disjoint key ranges
    val base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TxLog.append(base, t, statsCol = Some("k"))
    val before = TxLog.snapshot(t).files
    assert(before.size == 4)
    // update three keys that live in ONE file's range
    val v = TxLog.update(spark, t, col("k") >= 95L && col("k") <= 97L,
      Map("v" -> upper(col("v"))), statsCol = Some("k"))
    assert(v == 2L, "update must be one new commit")
    val after = TxLog.snapshot(t).files.toSet
    assert(before.count(after.contains) == 3,
      "exactly the file holding 95..97 may be rewritten; the other three " +
        "must survive IN PLACE (same path)")
    assert(rows(t) == (1 to 100)
      .map(i => (i.toLong, if (i >= 95 && i <= 97) s"V$i" else s"v$i")).toSet)
    // an update matching nothing commits nothing — the tip stays put
    assert(TxLog.update(spark, t, col("k") === 9999L, Map("v" -> lit("x"))) == 2L)
    assert(TxLog.latestVersion(t) == 2L)
    // history records the op; time travel above the update still works
    assert(TxLog.history(t).head.op == "update")
    assert(TxLog.snapshot(t, asOf = 1L).read(spark)
      .filter(col("v").startsWith("V")).count() == 0L)
  }

  test("update keeps rows where the predicate is NULL unchanged (SQL UPDATE semantics)") {
    import spark.implicits._
    val t = freshTable("updnull")
    TxLog.append(Seq((1L, Some("hit")), (2L, Some("miss")), (3L, None))
      .toDF("k", "v"), t)
    TxLog.update(spark, t, col("v") === "hit", Map("v" -> lit("HIT")))
    // row 3's predicate evaluates NULL → kept byte-identical, like SQL
    assert(TxLog.snapshot(t).read(spark).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet ==
      Set((1L, Some("HIT")), (2L, Some("miss")), (3L, None)))
  }

  test("update SET expressions evaluate against the OLD row (simultaneous assignment)") {
    import spark.implicits._
    val t = freshTable("updswap")
    TxLog.append(Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("k", "a", "b"), t)
    // SET a = b, b = a must SWAP (one Project over the old row) — a chained
    // withColumn rewrite would yield a = b = 20 for key 1
    TxLog.update(spark, t, col("k") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    assert(TxLog.snapshot(t).read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 20L, 10L), (2L, 30L, 40L)))
  }

  test("update refuses unknown SET columns and lossy types; widens losslessly") {
    import spark.implicits._
    val t = freshTable("updschema")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    // UPDATE never adds columns
    intercept[TxLog.SchemaMismatch](
      TxLog.update(spark, t, lit(true), Map("nope" -> lit(1))))
    // a string into a bigint column is not a lossless widening
    intercept[TxLog.SchemaMismatch](
      TxLog.update(spark, t, lit(true), Map("k" -> lit("text"))))
    assert(TxLog.latestVersion(t) == 1L, "refused updates must commit nothing")
    // an int literal into the bigint column widens implicitly (canUpCast)
    TxLog.update(spark, t, col("k") === 1L, Map("k" -> lit(5)))
    assert(TxLog.snapshot(t).read(spark).select("k").head.getLong(0) == 5L)
  }

  test("update commits gate the change feed and stream like other rewrites") {
    import spark.implicits._
    val t = freshTable("updcdf")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), t)
    TxLog.update(spark, t, col("k") === 1L, Map("v" -> lit("A")))
    val e = intercept[IllegalStateException](TxLog.readChanges(spark, t, 0L))
    assert(e.getMessage.contains("update") && e.getMessage.contains("includeRewrites"))
    val re = TxLog.readChanges(spark, t, 0L, includeRewrites = true)
      .select("k", "v", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // both rows of the rewritten file re-emit stamped with the update's
    // version — the updated one with its new value
    assert(re == Set((1L, "a", 1L), (2L, "b", 1L), (1L, "A", 2L), (2L, "b", 2L)))
  }

  test("update enforces CHECK constraints on the rewritten rows") {
    import spark.implicits._
    val t = freshTable("updcheck")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TxLog.addConstraint(spark, t, "k_pos", "k > 0")
    // an UPDATE can move a row INTO violation — it must abort pre-commit
    val tip = TxLog.latestVersion(t)
    intercept[TxLog.ConstraintViolation](
      TxLog.update(spark, t, col("k") === 1L, Map("k" -> lit(-1L))))
    assert(TxLog.latestVersion(t) == tip)
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    // a valid update still lands under the constraint
    TxLog.update(spark, t, col("k") === 1L, Map("k" -> lit(100L)))
    assert(rows(t) == Set((100L, "a"), (2L, "b")))
  }

  test("update's phase-0 prune keeps the touch scan off provably-excluded files") {
    import spark.implicits._
    val t = freshTable("upd_prune")
    // four range-disjoint stat files + one opaque (stats-less) file
    for (slice <- 0 until 4)
      TxLog.append((0 until 10).map(i => (slice * 100L + i, s"s$slice"))
        .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    TxLog.append(Seq((55L, "opaque")).toDF("k", "v").repartition(1), t)
    // a narrow band inside slice 1: candidates = that file + the opaque one
    TxLog.update(spark, t, col("k") >= 100L && col("k") <= 104L,
      Map("v" -> lit("u")), statsCol = Some("k"))
    assert(TxLog.updateCandidateFiles.get == 2L,
      s"expected 2 candidates (1 stats hit + 1 opaque), got ${TxLog.updateCandidateFiles.get}")
    assert(TxLog.snapshot(t).read(spark).filter(col("v") === "u").count() == 5L)
    // a band no stats file can hold: only the opaque file is scanned
    TxLog.update(spark, t, col("k") === 5555L, Map("v" -> lit("x")))
    assert(TxLog.updateCandidateFiles.get == 1L)
    // an unrecognized predicate shape conservatively keeps every file
    TxLog.update(spark, t, col("k") % 1000L === 777L, Map("v" -> lit("y")))
    assert(TxLog.updateCandidateFiles.get == TxLog.snapshot(t).files.size.toLong)
  }

  test("merge keeps files with unparsable stats as rewrite candidates (no lost update)") {
    import spark.implicits._
    // A file whose recorded stat strings do not cast to the merge key's type
    // (older writer, corrupted stat, type drift) must be treated like an
    // opaque file — conservatively rewritten — never silently skipped. A
    // skip here is a LOST UPDATE: the file has stats, so it is not in the
    // opaque set, and a null-valued cast fails the envelope predicate.
    val t = freshTable("nullcast")
    val stage = Paths.get(t, "data", "manual")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(1).write.parquet(stage.toString)
    val file = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(stage))(
        _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.head)
    }
    TxLog.commit(t, 1L, Seq(
      TxLog.Add(file, stats = Seq(TxLog.ColStat("k", "oops", "oops", None)))),
      "append")
    // a second file with GOOD stats so the stats-prune path actually runs
    TxLog.append(Seq((100L, "x")).toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    TxLog.merge(Seq((2L, "B")).toDF("k", "v"), t, "k")
    assert(rows(t) == Set((1L, "a"), (2L, "B"), (3L, "c"), (100L, "x")),
      "the update to key 2 must land exactly once — a duplicate means the " +
        "null-cast-stat file was skipped by the envelope prune and never rewritten")
  }

  test("prunedFiles parses recorded timestamp stats in the session timezone") {
    import spark.implicits._
    // stageFiles records stats via cast-to-string in the SESSION timezone;
    // the read side must re-parse them in the SAME zone. A hardcoded UTC
    // parse shifts the envelope by the zone offset and silently SKIPS a
    // file that contains matching rows (wrong results, not a perf miss).
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata") // UTC+5:30
    try {
      val t = freshTable("tzprune")
      val base = java.sql.Timestamp.valueOf("2024-03-01 10:00:00") // session-local
      val rows0 = (0 until 4).map(i =>
        (i.toLong, new java.sql.Timestamp(base.getTime + i * 60000L)))
      TxLog.append(rows0.toDF("k", "ts").repartition(1), t, statsCol = Some("ts"))
      // ask for exactly the file's min instant: a UTC re-parse of the
      // Kolkata-rendered min overshoots by +5:30 and fails mn <= hi
      val files = TxLog.prunedFiles(spark, t, "ts", base, base)
      assert(files.size == 1,
        "the file containing the queried instant was wrongly skipped — " +
          "stats were re-parsed in a different timezone than they were recorded in")
      assert(TxLog.readPruned(spark, t, "ts", base, base).count() == 1L)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("readPruned pins the log schema: pre-evolution files null-fill like snapshot.read") {
    import spark.implicits._
    val t = freshTable("pruneschema")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1),
      t, statsCol = Some("k"))
    TxLog.append(Seq((3L, "c", 7L)).toDF("k", "v", "extra").repartition(1),
      t, statsCol = Some("k"), mergeSchema = true)
    val df = TxLog.readPruned(spark, t, "k", 0L, 10L)
    assert(df.columns.toSeq == Seq("k", "v", "extra"),
      s"pruned read must use the log schema, got ${df.columns.toSeq}")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(7L))))
    // the schema also holds when the range prunes down to pre-evolution files only
    assert(TxLog.readPruned(spark, t, "k", 0L, 2L).columns.toSeq == Seq("k", "v", "extra"))
  }

  test("readChanges attributes rows on a table path containing a space") {
    import spark.implicits._
    // _metadata.file_path is URI-spelled and percent-encodes specials; the
    // attribution join must decode it or every row silently vanishes
    val dir = Files.createTempDirectory("txlog cdf space")
    val t = dir.resolve("t").toString
    assert(t.contains(" "), "test precondition: path must contain a space")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)
    val got = TxLog.readChanges(spark, t, 0L)
      .select("k", "v", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L)),
      s"rows vanished from the change feed on a percent-encoded path: $got")
  }

  test("in-commit timestamps: monotonic stamps drive TIMESTAMP AS OF resolution") {
    import spark.implicits._
    val t = freshTable("ict")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    TxLog.append(Seq((2L, "b")).toDF("k", "v"), t)
    TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), t)
    val hist = TxLog.history(t).sortBy(_.version)
    assert(hist.map(_.version) == Seq(1L, 2L, 3L))
    // stamps come from commit CONTENT and are strictly increasing even when
    // commits land within the same millisecond (the write-side clamp)
    assert(hist.map(_.committedAtMs) == hist.map(_.committedAtMs).sorted)
    assert(hist.map(_.committedAtMs).distinct.size == 3,
      s"stamps must be strictly increasing: ${hist.map(_.committedAtMs)}")
    val Seq(t1, t2, t3) = hist.map(_.committedAtMs)
    // Delta's rule: largest version with ts <= query time
    assert(TxLog.versionAt(t, t1) == 1L)
    assert(TxLog.versionAt(t, t2) == 2L)
    assert(TxLog.versionAt(t, (t2 + t3) / 2) == (if ((t2 + t3) / 2 >= t3) 3L else 2L))
    assert(TxLog.versionAt(t, t3 + 1000000L) == 3L, "after the tip resolves to the tip")
    intercept[IllegalArgumentException](TxLog.versionAt(t, t1 - 1L))
    // snapshotAsOfTimestamp == snapshot at the resolved version
    assert(TxLog.snapshotAsOfTimestamp(t, t2).read(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("clone: zero-copy snapshot, stats survive, histories fully independent") {
    import spark.implicits._
    val src = freshTable("clone_src")
    val dst = freshTable("clone_dst")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), src,
      statsCol = Some("k"))
    TxLog.append(Seq((100L, "x")).toDF("k", "v").repartition(1), src,
      statsCol = Some("k"))
    assert(TxLog.clone(src, dst) == 1L)
    // same rows, and NOT by copying: the clone's data dir holds zero files
    assert(rows(dst) == Set((1L, "a"), (2L, "b"), (100L, "x")))
    assert(!Files.isDirectory(Paths.get(dst, "data")),
      "a shallow clone must not copy or write any data file")
    // carried stats keep data skipping working on the clone
    assert(TxLog.prunedFiles(spark, dst, "k", 100L, 100L).size == 1)
    // divergence: a write to the clone never touches the source...
    TxLog.merge(Seq((1L, "CLONE")).toDF("k", "v"), dst, "k")
    assert(rows(src) == Set((1L, "a"), (2L, "b"), (100L, "x")))
    assert(rows(dst) == Set((1L, "CLONE"), (2L, "b"), (100L, "x")))
    // ...and a source rewrite never touches the clone
    TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), src)
    assert(rows(dst) == Set((1L, "CLONE"), (2L, "b"), (100L, "x")))
    // vacuum on the clone walks only ITS data dir: source bytes survive
    TxLog.overwrite(Seq((7L, "w")).toDF("k", "v"), dst)
    TxLog.vacuum(dst, retainVersions = 0L, graceMs = 0L)
    assert(TxLog.snapshot(src, asOf = 2L).read(spark).count() == 3L,
      "vacuum on a clone must never delete the source's files")
    // a clone refuses a non-empty target; time travel clones the old state
    intercept[IllegalArgumentException](TxLog.clone(src, dst))
    val dst2 = freshTable("clone_v1")
    TxLog.clone(src, dst2, asOf = 1L)
    assert(rows(dst2) == Set((1L, "a"), (2L, "b")))
  }

  test("clone pins the source's evolved schema") {
    import spark.implicits._
    val src = freshTable("clone_schema_src")
    val dst = freshTable("clone_schema_dst")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), src)
    TxLog.append(Seq((2L, "b", 7L)).toDF("k", "v", "extra"), src, mergeSchema = true)
    TxLog.clone(src, dst)
    val df = TxLog.snapshot(dst).read(spark)
    assert(df.columns.toSeq == Seq("k", "v", "extra"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))))
  }

  test("delete's phase-0 prune keeps the touch scan off provably-excluded files") {
    import spark.implicits._
    val t = freshTable("del_prune")
    // four range-disjoint stat files + one opaque (stats-less) file
    for (slice <- 0 until 4)
      TxLog.append((0 until 10).map(i => (slice * 100L + i, s"s$slice"))
        .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    TxLog.append(Seq((55L, "opaque")).toDF("k", "v").repartition(1), t)
    // a narrow band inside slice 1: candidates = that file + the opaque one
    TxLog.delete(spark, t, col("k") >= 100L && col("k") <= 104L,
      statsCol = Some("k"))
    assert(TxLog.deleteCandidateFiles.get == 2L,
      s"expected 2 candidates (1 stats hit + 1 opaque), got ${TxLog.deleteCandidateFiles.get}")
    assert(TxLog.snapshot(t).read(spark).count() == 36L)
    // a band no stats file can hold: only the opaque file is scanned
    TxLog.delete(spark, t, col("k") === 5555L)
    assert(TxLog.deleteCandidateFiles.get == 1L)
    // an unrecognized predicate shape conservatively keeps every file
    TxLog.delete(spark, t, col("k") % 1000L === 777L)
    assert(TxLog.deleteCandidateFiles.get == TxLog.snapshot(t).files.size.toLong)
  }

  test("CHECK constraints: writes enforced, nulls pass, add validates existing data") {
    import spark.implicits._
    val t = freshTable("check")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // a constraint the existing rows violate is refused — a recorded
    // constraint is an invariant of the WHOLE table
    intercept[TxLog.ConstraintViolation](
      TxLog.addConstraint(spark, t, "k_big", "k > 100"))
    assert(TxLog.constraints(t).isEmpty)
    TxLog.addConstraint(spark, t, "k_pos", "k > 0")
    assert(TxLog.constraints(t) == Map("k_pos" -> "k > 0"))
    // a violating append aborts BEFORE the commit: same version, same rows
    val tipBefore = TxLog.latestVersion(t)
    intercept[TxLog.ConstraintViolation](
      TxLog.append(Seq((-1L, "bad")).toDF("k", "v"), t))
    assert(TxLog.latestVersion(t) == tipBefore)
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    // SQL CHECK null rule: a NULL predicate passes (null k here)
    TxLog.append(Seq((Option.empty[Long], "n")).toDF("k", "v"), t)
    // a write MISSING the constraint column null-fills and passes
    TxLog.append(Seq(Tuple1("only_v")).toDF("v"), t)
    // merge enforcement: violating updates abort, valid ones land
    intercept[TxLog.ConstraintViolation](
      TxLog.merge(Seq((-5L, "upd")).toDF("k", "v"), t, "k"))
    TxLog.merge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), t, "k")
    assert(TxLog.snapshot(t).read(spark).where(col("k") === 2L)
      .collect().head.getString(1) == "B")
    // an overwrite whose new schema DROPS the constraint column is refused
    // (drop the constraint before dropping its column — Delta's rule)
    intercept[TxLog.ConstraintViolation](
      TxLog.overwrite(Seq(Tuple1("v_only")).toDF("v"), t))
    // drop restores writability; drops are idempotent
    TxLog.dropConstraint(t, "k_pos")
    TxLog.dropConstraint(t, "k_pos")
    TxLog.append(Seq((-1L, "now ok")).toDF("k", "v"), t)
    assert(TxLog.constraints(t).isEmpty)
  }

  test("a multi-line CHECK constraint survives the log and stays enforced") {
    import spark.implicits._
    val t = freshTable("check_multiline")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    val check = "k > 0\nAND\tv <> '\"quoted\"'"
    TxLog.addConstraint(spark, t, "pos", check)
    assert(TxLog.constraints(t) == Map("pos" -> check))
    // one action per line: the expression's newline is escaped, not split
    val v = TxLog.latestVersion(t)
    assert(Files.readAllLines(Paths.get(t, "_txlog", f"$v%020d.json")).size == 2)
    // it rides a checkpoint and a later snapshot too
    TxLog.checkpoint(t)
    TxLog.append(Seq((2L, "b")).toDF("k", "v"), t)
    assert(TxLog.constraints(t) == Map("pos" -> check))
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    intercept[TxLog.ConstraintViolation](
      TxLog.append(Seq((-1L, "bad")).toDF("k", "v"), t))
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
  }

  test("constraints survive checkpoint compaction and ride along on clone") {
    import spark.implicits._
    val t = freshTable("check_ckpt")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    TxLog.addConstraint(spark, t, "k_pos", "k > 0")
    // push the log well past a checkpoint boundary
    for (i <- 2L to 12L) TxLog.append(Seq((i, s"v$i")).toDF("k", "v"), t)
    assert(TxLog.latestCheckpointVersion(t).exists(_ >= 10L),
      "test precondition: a checkpoint must exist above the constraint commit")
    // enforcement still fires from the compacted log
    intercept[TxLog.ConstraintViolation](
      TxLog.append(Seq((0L, "zero")).toDF("k", "v"), t))
    // a tailing change feed is not broken by the metadata-only commit
    assert(TxLog.readChanges(spark, t, 0L).count() == 12L)
    // the clone inherits the constraint set
    val dst = freshTable("check_clone")
    TxLog.clone(t, dst)
    assert(TxLog.constraints(dst) == Map("k_pos" -> "k > 0"))
    intercept[TxLog.ConstraintViolation](
      TxLog.append(Seq((-1L, "bad")).toDF("k", "v"), dst))
  }

  test("convert adopts a plain parquet directory in place; vacuum collects retired originals") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txconvert").resolve("t").toString
    (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4).write.parquet(dir)
    import scala.jdk.CollectionConverters._
    val origFiles: List[String] =
      scala.util.Using.resource(Files.list(Paths.get(dir))) { s =>
        s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
      }
    assert(origFiles.size == 4, "test precondition")
    assert(TxLog.convert(spark, dir, statsCol = Some("k")) == 1L)
    // zero-copy: the snapshot references the ORIGINAL files where they sit
    val snap = TxLog.snapshot(dir)
    assert(snap.files.map(p => Paths.get(p).toAbsolutePath.normalize.toString).toSet ==
      origFiles.map(p => Paths.get(p).toAbsolutePath.normalize.toString).toSet)
    assert(snap.read(spark).count() == 40L)
    // recorded stats make the converted table skippable immediately
    assert(TxLog.prunedFiles(spark, dir, "k", 1L, 1L).size < 4)
    // the directory is now a full table: merge works file-scoped
    TxLog.merge(Seq((1L, "UPD")).toDF("k", "v"), dir, "k")
    assert(TxLog.snapshot(dir).read(spark).where(col("k") === 1L)
      .collect().head.getString(1) == "UPD")
    // double-convert refused
    intercept[IllegalArgumentException](TxLog.convert(spark, dir))
    // after a full overwrite the ORIGINAL root-level files are unreferenced;
    // vacuum's root walk (not just data/) collects them, grace respected
    TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), dir)
    assert(TxLog.vacuum(dir, retainVersions = 0L, graceMs = Long.MaxValue / 2) == 0L,
      "inside the grace window nothing is deleted")
    val deleted = TxLog.vacuum(dir, retainVersions = 0L, graceMs = 0L)
    assert(deleted >= 4L, s"expected the retired originals collected, got $deleted")
    assert(TxLog.snapshot(dir).read(spark).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("rowCount answers COUNT(*) from log metadata; opaque files disable it") {
    import spark.implicits._
    val t = freshTable("rowcount")
    assert(TxLog.rowCount(t) == Some(0L), "an empty table counts zero")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t, statsCol = Some("k"))
    assert(TxLog.rowCount(t) == Some(3L),
      "every write records footer row counts, stats or not")
    // rewrites keep counts current
    TxLog.merge(Seq((2L, "B"), (4L, "d")).toDF("k", "v"), t, "k")
    assert(TxLog.rowCount(t) == Some(4L))
    TxLog.delete(spark, t, col("k") === 1L)
    assert(TxLog.rowCount(t) == Some(3L))
    // a clone inherits the counts without touching data
    val dst = freshTable("rowcount_clone")
    TxLog.clone(t, dst)
    assert(TxLog.rowCount(dst) == Some(3L))
    // a hand-written legacy add (no rows field) makes the count unknowable —
    // None, never a wrong number
    TxLog.commit(t, TxLog.latestVersion(t) + 1,
      Seq(TxLog.Add(TxLog.snapshot(t).files.head)), "append")
    assert(TxLog.rowCount(t) == None)
  }

  test("convert ignores committer litter; vacuum never touches foreign files") {
    import spark.implicits._
    // a directory holding a crashed write's _temporary duplicates and
    // dot-files alongside the committed part files: convert must adopt
    // exactly what spark.read.parquet(dir) reads — the visible files
    val dir = Files.createTempDirectory("txconvert_litter").resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1).write.parquet(dir)
    val committedRows = spark.read.parquet(dir).count()
    val tmpDir = Paths.get(dir, "_temporary", "0")
    Files.createDirectories(tmpDir)
    Seq((99L, "litter")).toDF("k", "v").repartition(1)
      .write.parquet(tmpDir.resolve("attempt_x").toString)
    // a half-written duplicate as a dot-file at the root too
    Files.write(Paths.get(dir, ".part-dup.parquet"), Array[Byte](1, 2, 3))
    TxLog.convert(spark, dir)
    assert(TxLog.snapshot(dir).read(spark).count() == committedRows,
      "convert adopted hidden/committer litter")

    // a NON-converted table rooted next to unrelated parquet: vacuum sweeps
    // only data/, so the foreigner survives any retention setting
    val root2 = Files.createTempDirectory("txvac_foreign")
    val t2 = root2.resolve("t").toString
    TxLog.append(Seq((1L, "x")).toDF("k", "v"), t2)
    val foreign = Paths.get(t2, "unrelated.parquet")
    Seq((7L, "keepme")).toDF("k", "v").repartition(1)
      .write.parquet(root2.resolve("tmpwrite").toString)
    import scala.jdk.CollectionConverters._
    val part = scala.util.Using.resource(Files.list(root2.resolve("tmpwrite")))(
      _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
    Files.copy(part, foreign)
    TxLog.overwrite(Seq((2L, "y")).toDF("k", "v"), t2)
    TxLog.vacuum(t2, retainVersions = 0L, graceMs = 0L)
    assert(Files.exists(foreign),
      "vacuum on a non-converted table must never delete files it does not own")
  }

  test("a truncating restore still fails the strict change feed loudly") {
    import spark.implicits._
    val t = freshTable("trunc_restore")
    // v1 is a metadata-only commit (empty table + constraint): its replay
    // is an EMPTY live set, so restoring to it later is a remove-only
    // commit — a data change with no adds
    TxLog.addConstraint(spark, t, "always", "1 = 1")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    TxLog.restore(t, 1L)
    assert(TxLog.snapshot(t).read(spark).count() == 0L, "restore truncated")
    // the constraint commit itself is skipped exactly, but the truncation
    // must NOT be silently skipped just because it added no files
    val e = intercept[IllegalStateException](
      TxLog.readChanges(spark, t, 0L).count())
    assert(e.getMessage.contains("restore"), e.getMessage)
  }

  test("catalog entries: acid_upsert merged state and acid_time_travel v1 state") {
    val d = sf("sf0.001")
    val up = graft.SparkEntry.queries("acid_upsert")(spark, d)
    val orders = spark.read.parquet(s"$d/orders.parquet")
    val want = orders
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 10 >= 5, col("o_totalprice") * 2.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .collect().map(_.toSeq).toSet
    assert(up.collect().map(_.toSeq).toSet == want)
    val tt = graft.SparkEntry.queries("acid_time_travel")(spark, d)
    val wantTt = orders.filter(col("o_orderkey") % 10 < 8)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    assert(tt.collect().map(_.toSeq).toSet == wantTt)
  }
}
