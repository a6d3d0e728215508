package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one optimistic commit loop every write verb runs through: each
  * attempt's state passes the writer-feature gate, a verb replays the log
  * once per call, and a lost race decodes only the winners' commits. Log
  * I/O is counted by `TxLog.commitFilesReplayed`, which sees every commit
  * file opened — replays, single commits and the meta line `commit` reads
  * for its timestamp clamp.
  */
class TxLogTransactSpec extends SparkSpec {

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"txtransact_$name").resolve("t").toString

  /** 17 appends of 100 rows each with key stats: a checkpoint at v10 and
    * the tip at v17, so a snapshot reads the checkpoint plus 7 commits. */
  private lazy val probe: String = {
    import spark.implicits._
    val t = freshTable("probe")
    (1 to 17).foreach { i =>
      TxLog.append(((i - 1) * 100 + 1 to i * 100).map(k => (k.toLong, s"v$k"))
        .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
    }
    assert(TxLog.latestCheckpointVersion(t).contains(10L) && TxLog.latestVersion(t) == 17L)
    t
  }

  /** A new table whose log is a copy of the probe's (its adds name the
    * probe's data files by absolute path, so every verb reads real rows). */
  private def probeCopy(name: String): String = {
    val t = freshTable(name)
    val log = Files.createDirectories(Paths.get(t, "_txlog"))
    scala.util.Using.resource(Files.list(Paths.get(probe, "_txlog")))(
      _.forEach(f => Files.copy(f, log.resolve(f.getFileName))))
    t
  }

  /** Commit files `f` opens on a fresh copy of the probe table. */
  private def opens(f: String => Any): Long = {
    val t = probeCopy("io")
    TxLog.commitFilesReplayed.set(0L)
    f(t)
    TxLog.commitFilesReplayed.get
  }

  test("a winner that records an unknown writer feature stops a racing merge or delete") {
    import spark.implicits._
    Seq("merge", "delete").foreach { verb =>
      val t = freshTable(s"gate_$verb")
      TxLog.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t,
        statsCol = Some("k"))
      // the winner lands while the verb is between derivation and commit
      val win = () => TxLog.commit(t, 2L,
        Seq(TxLog.Protocol(Set.empty, Set("futureFeature"))), "alter")
      val e = verb match {
        case "merge" =>
          TxLog.mergeCommitHook = () => { TxLog.mergeCommitHook = () => (); win() }
          try intercept[RuntimeException](TxLog.merge(Seq((5L, "X")).toDF("k", "v"), t, "k"))
          finally TxLog.mergeCommitHook = () => ()
        case "delete" =>
          TxLog.deleteCommitHook = () => { TxLog.deleteCommitHook = () => (); win() }
          try intercept[RuntimeException](TxLog.delete(spark, t, col("k") === 5L))
          finally TxLog.deleteCommitHook = () => ()
      }
      assert(e.getMessage.contains("futureFeature"), s"$verb: ${e.getMessage}")
      assert(TxLog.latestVersion(t) == 2L, s"$verb committed past the winner")
    }
  }

  test("each write verb replays the log once; a lost race decodes only the winner") {
    import spark.implicits._
    val upd = Seq((5L, "X"), (5000L, "new")).toDF("k", "v")
    val counts = Seq(
      "snapshot" -> opens(TxLog.snapshot(_)),
      "append" -> opens(TxLog.append(Seq((9000L, "a")).toDF("k", "v"), _)),
      "append at the v20 checkpoint" -> opens { t =>
        (18 to 19).foreach(i => TxLog.append(Seq((9000L + i, "a")).toDF("k", "v"), t))
        TxLog.commitFilesReplayed.set(0L)
        TxLog.append(Seq((9020L, "a")).toDF("k", "v"), t)
        assert(TxLog.latestCheckpointVersion(t).contains(20L))
      },
      "overwrite" -> opens(TxLog.overwrite(Seq((1L, "o")).toDF("k", "v"), _)),
      "merge" -> opens(TxLog.merge(upd, _, "k")),
      "mergeFull" -> opens(TxLog.mergeFull(upd, _, "k",
        Seq(TxLog.MatchedUpdate(Map("v" -> col("s.v"))), TxLog.NotMatchedInsert()))),
      "delete" -> opens(TxLog.delete(spark, _, col("k") === 5L)),
      "update" -> opens(TxLog.update(spark, _, col("k") === 5L, Map("v" -> lit("u")))),
      "optimize" -> opens(TxLog.optimize(spark, _)),
      "addConstraint" -> opens(TxLog.addConstraint(spark, _, "pos", "k > 0")),
      "appendIdempotent" -> opens(TxLog.appendIdempotent(
        Seq((9000L, "a")).toDF("k", "v"), _, "app", 0L)),
      "restore" -> opens(TxLog.restore(_, 15L)),
      "vacuum" -> opens(TxLog.vacuum(_, retainVersions = 5L)),
      "readChangeFeed" -> opens(TxLog.readChangeFeed(spark, _, 12L)),
      "readChanges" -> opens(TxLog.readChanges(spark, _, 12L)))
    // a merge whose first commit loses to a stats-less append re-derives;
    // the winner's own log reads are not the merge's
    var winnerOpens = 0L
    val rederived = opens { t =>
      TxLog.mergeCommitHook = () => {
        TxLog.mergeCommitHook = () => ()
        val before = TxLog.commitFilesReplayed.get
        TxLog.append(Seq((7000L, "w")).toDF("k", "v"), t)
        winnerOpens = TxLog.commitFilesReplayed.get - before
      }
      try TxLog.merge(upd, t, "k") finally TxLog.mergeCommitHook = () => ()
    } - winnerOpens
    val measured = counts :+ ("merge after an unprovable winner" -> rederived)
    val all = measured.toMap
    val report = measured.map { case (k, n) => s"$k=$n" }.mkString(", ")
    info(s"commit files opened: $report")
    // a snapshot reads commits 11..17 past the v10 checkpoint
    assert(all("snapshot") == 7L, report)
    // one replay plus the previous commit's meta line for the clamp
    Seq("append", "overwrite", "merge", "mergeFull", "delete", "update",
      "optimize", "addConstraint", "appendIdempotent").foreach(v =>
      assert(all(v) <= 8L, s"$v: $report"))
    // commits 11..19 and the meta line: the checkpoint is written from the
    // committed state, not from a second replay
    assert(all("append at the v20 checkpoint") <= 10L, report)
    // the current state and the target state, plus the meta line
    assert(all("restore") <= 2 * 7L + 1, report)
    // the clean 8, the winner decoded once, its meta line for the clamp
    assert(all("merge after an unprovable winner") <= 10L, report)
    // vacuum: commit 1's first line (convert test), 11 for the replay at
    // keepFrom − 1 and 12..17 once each; each feed: 11, 12 for the
    // range-start replay and 13..17 once each — no file twice
    assert(all("vacuum") <= 8L, report)
    assert(all("readChangeFeed") <= 7L, report)
    // the file-level feed: the same one replay and walk
    assert(all("readChanges") <= 7L, report)
  }
}
