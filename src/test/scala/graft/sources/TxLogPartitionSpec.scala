package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Iceberg-style table partitioning on the txlog format: partition columns
  * stay IN the data files (so every read path — DV masking, feed,
  * constraints — works unchanged), the log records the spec and per-file
  * partition tuples as exact min=max stats, the public reader's FileIndex
  * prunes to exactly the asked-for partition's files, a partition-drop
  * DELETE is a pure metadata commit, and rewrites preserve the layout. */
class TxLogPartitionSpec extends SparkSpec {

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"txpart_$name").resolve("t").toString

  import spark.implicits._

  private def threeRegions(t: String): Unit = {
    val df = (0L until 90L).map(i => (i, Seq("EU", "US", "AP")((i % 3).toInt)))
      .toDF("k", "region")
    TxLog.append(df, t, statsCol = Some("k"), partitionBy = Seq("region"))
  }

  test("a partitioned append lays out value-pure files and records the spec") {
    val t = freshTable("layout")
    threeRegions(t)
    // Hive-ish dirs via the duplicated writer column
    val stage = TxLog.snapshot(t).files.head
    assert(stage.contains("__part_region="), s"partition dirs expected, got $stage")
    // every file is value-pure: its recorded region envelope is one point
    TxLog.snapshot(t).files.foreach { p =>
      val add = TxLog.replayAdds(t, Long.MaxValue, useCheckpoint = true).live(p)
      val st = add.stats.find(_.col == "region").get
      assert(st.min == st.max, s"file $p spans partition values")
    }
    // the column is still IN the data — a plain snapshot read sees it
    val got = TxLog.snapshot(t).read(spark)
      .groupBy("region").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("EU", 30L), ("US", 30L), ("AP", 30L)))
    // a second append INHERITS the spec without restating it
    TxLog.append(Seq((1000L, "EU")).toDF("k", "region"), t)
    val newFile = TxLog.snapshot(t).files.toSet.filter(_.contains("__part_region=EU"))
    assert(newFile.size >= 1, "inherited partitioned staging")
    // a CONFLICTING restatement is refused
    intercept[IllegalArgumentException](
      TxLog.append(Seq((1L, "EU")).toDF("k", "region"), t,
        partitionBy = Seq("k")))
    // checkpoints carry the spec
    TxLog.checkpoint(t)
    assert(TxLog.replayAdds(t, Long.MaxValue, useCheckpoint = true)
      .parts == Seq("region"))
  }

  test("the public reader prunes a partition filter to exactly that partition's files") {
    val t = freshTable("prune")
    val df = (0L until 90L).map(i => (i, Seq("EU", "US", "AP")((i % 3).toInt)))
      .toDF("k", "region")
    df.write.format("txlog").option("partitionBy", "region")
      .option("stats", "k").mode("append").save(t)
    val perPartition = TxLog.snapshot(t).files
      .count(_.contains("__part_region=EU"))
    val q = spark.read.format("txlog").load(t).where(col("region") === "EU")
    assert(q.count() == 30L)
    val idx = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head.relation.location.asInstanceOf[TxLogFileIndex]
    assert(idx.lastServedFiles == perPartition,
      s"partition filter must list only EU's $perPartition file(s), " +
        s"served ${idx.lastServedFiles} of ${TxLog.snapshot(t).files.size}")
  }

  test("a partition-drop DELETE is a pure metadata commit (covered files)") {
    val t = freshTable("drop")
    threeRegions(t)
    val usFiles = TxLog.snapshot(t).files.count(_.contains("__part_region=US"))
    val allFiles = TxLog.snapshot(t).files.size
    TxLog.delete(spark, t, col("region") === "US")
    // every US file was provably covered (value-pure + nulls=0) — no scan,
    // no rewrite, no staged bytes
    assert(usFiles >= 1)
    assert(TxLog.deleteCoveredFiles.get == usFiles.toLong)
    assert(TxLog.snapshot(t).files.size == allFiles - usFiles)
    assert(TxLog.snapshot(t).read(spark).where(col("region") === "US").count() == 0L)
    assert(TxLog.snapshot(t).read(spark).count() == 60L)
  }

  test("per-partition OPTIMIZE WHERE compacts only that partition's files") {
    val t = freshTable("opt")
    // two appends per region → small files to compact
    for (_ <- 0 until 2)
      TxLog.append((0L until 30L).map(i => (i, Seq("EU", "US")((i % 2).toInt)))
        .toDF("k", "region"), t, statsCol = Some("k"),
        partitionBy = Seq("region"))
    val usBefore = TxLog.snapshot(t).files.filter(_.contains("__part_region=US")).toSet
    val euBefore = TxLog.snapshot(t).files.filter(_.contains("__part_region=EU")).toSet
    val v = TxLog.optimize(spark, t, where = Some(col("region") === "EU"))
    assert(v > 0L)
    val after = TxLog.snapshot(t).files.toSet
    assert(usBefore.subsetOf(after), "US files untouched by a scoped optimize")
    assert(euBefore.intersect(after).isEmpty, "EU files compacted")
    // the rewritten output is still partition-laid-out and value-pure
    val euAfter = after -- usBefore
    assert(euAfter.nonEmpty && euAfter.forall(_.contains("__part_region=EU")))
    assert(TxLog.snapshot(t).read(spark).count() == 60L)
  }

  test("merge and DV deletes preserve partitioning and mask correctly") {
    val t = freshTable("verbs")
    threeRegions(t)
    // merge rewrites touched files partitioned
    TxLog.merge(Seq((0L, "EU")).toDF("k", "region"), t, "k")
    assert(TxLog.snapshot(t).files.forall(_.contains("__part_region=")),
      "merge output keeps the partition layout")
    assert(TxLog.snapshot(t).read(spark).count() == 90L)
    // a DV point delete inside one partition
    TxLog.delete(spark, t, col("k") === 3L, useDV = true)
    assert(TxLog.dvSwapFiles.get == 1L)
    assert(TxLog.snapshot(t).read(spark).count() == 89L)
    assert(TxLog.snapshot(t).read(spark).where(col("k") === 3L).count() == 0L)
    // and the feed derives it, partition column present in the rows
    val feed = TxLog.readChangeFeed(spark, t, TxLog.latestVersion(t) - 1)
      .select("k", "region", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((3L, "EU", "delete")))
  }

  test("overwrite adopts the writer's spec, including dropping to unpartitioned") {
    val t = freshTable("adopt")
    threeRegions(t)
    TxLog.overwrite(Seq((1L, "x")).toDF("k", "v"), t)
    assert(TxLog.replayAdds(t, Long.MaxValue, useCheckpoint = true).parts.isEmpty)
    assert(TxLog.snapshot(t).read(spark).count() == 1L)
    // and re-partitioning via overwrite records the new spec
    TxLog.overwrite((0L until 10L).map(i => (i, s"g${i % 2}")).toDF("k", "g"),
      t, partitionBy = Seq("g"))
    assert(TxLog.replayAdds(t, Long.MaxValue, useCheckpoint = true).parts == Seq("g"))
    assert(TxLog.snapshot(t).files.forall(_.contains("__part_g=")))
  }

  test("CLONE carries the partition spec; appends to the clone inherit it") {
    val t = freshTable("clonesrc")
    threeRegions(t)
    val dst = freshTable("clonedst")
    TxLog.clone(t, dst)
    assert(TxLog.replayAdds(dst, Long.MaxValue, useCheckpoint = true).parts
      == Seq("region"), "clone must record the source's partition spec")
    // a spec-less append to the clone stages under the inherited layout —
    // without the carried spec this would silently mix unpartitioned files
    TxLog.append(Seq((500L, "EU")).toDF("k", "region"), dst)
    val fresh = TxLog.snapshot(dst).files.filterNot(TxLog.snapshot(t).files.toSet)
    assert(fresh.nonEmpty && fresh.forall(_.contains("__part_region=EU")))
    // and a conflicting restatement is refused, exactly like the source
    intercept[IllegalArgumentException](
      TxLog.append(Seq((1L, "EU")).toDF("k", "region"), dst, partitionBy = Seq("k")))
  }
}
