package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.SparkSpec

/** COLUMN MAPPING (the Delta column-mapping design): files carry immutable
  * PHYSICAL names, the mapping is table metadata — so RENAME and DROP
  * COLUMN are pure metadata commits (zero bytes rewritten, identical cost
  * on a 100 TB table and an empty one), re-adding a dropped name can never
  * resurrect its old bytes, and every verb/read path translates at the
  * boundary. Plus the PROTOCOL feature gates that guard it. */
class TxLogColmapSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"txcm_$name").resolve("t").toString

  private def parquetCount(table: String): Long = {
    val d = Paths.get(table, "data")
    if (!Files.isDirectory(d)) 0L
    else scala.util.Using.resource(Files.walk(d)) { s =>
      val it = scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      it.count(_.toString.endsWith(".parquet")).toLong
    }
  }

  private def seed(t: String): Unit =
    TxLog.append((0L until 100L).map(i => (i, s"v$i", i % 7))
      .toDF("k", "v", "grp").repartition(2), t, statsCol = Some("k"))

  test("RENAME COLUMN is a pure metadata commit; reads present the new name") {
    val t = freshTable("rename")
    seed(t)
    val bytesBefore = parquetCount(t)
    val filesBefore = TxLog.snapshot(t).files
    TxLog.renameColumn(t, "v", "val")
    assert(parquetCount(t) == bytesBefore, "rename must stage nothing")
    assert(TxLog.snapshot(t).files == filesBefore, "rename moves no files")
    val df = TxLog.snapshot(t).read(spark)
    assert(df.columns.toSeq == Seq("k", "val", "grp"))
    assert(df.where(col("val") === "v7").count() == 1L)
    // the public reader presents the logical view too
    val pub = spark.read.format("txlog").load(t)
    assert(pub.columns.toSeq == Seq("k", "val", "grp"))
    assert(pub.where(col("k") === 7L).select("val").as[String].head() == "v7")
  }

  test("writes after a rename translate: append, update, delete, merge on logical names") {
    val t = freshTable("write")
    seed(t)
    TxLog.renameColumn(t, "v", "val")
    // append with the NEW logical name
    TxLog.append(Seq((1000L, "x", 0L)).toDF("k", "val", "grp"), t)
    // update SET + predicate in logical names
    TxLog.update(spark, t, col("k") === 1000L, Map("val" -> lit("y")))
    // merge keyed on a logical name
    TxLog.merge(Seq((1000L, "z", 0L), (2000L, "w", 1L)).toDF("k", "val", "grp"),
      t, "k")
    // delete with a logical predicate
    TxLog.delete(spark, t, col("val") === "w")
    val got = TxLog.snapshot(t).read(spark)
      .where(col("k") >= 1000L).select("k", "val")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1000L, "z")))
    // the underlying files still carry the ORIGINAL physical name
    val phys = spark.read.parquet(TxLog.snapshot(t).files: _*)
    assert(phys.columns.contains("v") && !phys.columns.contains("val"))
  }

  test("DROP COLUMN is metadata-only, and a re-added name never resurrects old bytes") {
    val t = freshTable("drop")
    seed(t)
    val bytesBefore = parquetCount(t)
    TxLog.dropColumn(spark, t, "grp")
    assert(parquetCount(t) == bytesBefore, "drop must stage nothing")
    assert(TxLog.snapshot(t).read(spark).columns.toSeq == Seq("k", "v"))
    // re-add the SAME logical name: a fresh physical column — old grp
    // values must NOT come back
    TxLog.addColumn(t, "grp", LongType)
    val df = TxLog.snapshot(t).read(spark)
    assert(df.columns.toSeq == Seq("k", "v", "grp"))
    assert(df.where(col("grp").isNotNull).count() == 0L,
      "re-added column must read null, not the dropped bytes")
    // and writes fill it normally from here on
    TxLog.append(Seq((5000L, "n", 9L)).toDF("k", "v", "grp"), t)
    assert(TxLog.snapshot(t).read(spark)
      .where(col("grp") === 9L).count() == 1L)
  }

  test("ADD COLUMN null-fills old files; unknown columns still refuse without mergeSchema") {
    val t = freshTable("add")
    seed(t)
    TxLog.renameColumn(t, "v", "val") // mapping on
    intercept[TxLog.SchemaMismatch](
      TxLog.append(Seq((1L, "a", 1L, "x")).toDF("k", "val", "grp", "extra"), t))
    // mergeSchema evolves mapping + physical schema in one commit
    TxLog.append(Seq((1L, "a", 1L, "x")).toDF("k", "val", "grp", "extra"), t,
      mergeSchema = true)
    val df = TxLog.snapshot(t).read(spark)
    assert(df.columns.toSeq == Seq("k", "val", "grp", "extra"))
    assert(df.where(col("extra") === "x").count() == 1L)
    assert(df.where(col("extra").isNull).count() == 100L)
  }

  test("readPruned, OPTIMIZE and constraints speak logical names over physical stats") {
    val t = freshTable("prune")
    seed(t)
    TxLog.renameColumn(t, "k", "id")
    // stats were recorded under physical name `k`; pruning on logical `id`
    // must hit them
    val pruned = TxLog.readPruned(spark, t, "id", 10L, 20L)
    assert(pruned.columns.toSeq == Seq("id", "v", "grp"))
    assert(pruned.count() == 11L)
    // constraint written in logical names, enforced against physical files
    TxLog.addConstraint(spark, t, "id_nonneg", "id >= 0")
    intercept[TxLog.ConstraintViolation](
      TxLog.append(Seq((-1L, "bad", 0L)).toDF("id", "v", "grp"), t))
    // dropColumn refused while the constraint references it
    intercept[TxLog.SchemaMismatch](TxLog.dropColumn(spark, t, "id"))
    TxLog.dropConstraint(t, "id_nonneg")
    // OPTIMIZE absorbs under the mapping (content-neutral rewrite)
    TxLog.optimize(spark, t, statsCol = Some("id"))
    assert(TxLog.snapshot(t).read(spark).count() == 100L)
  }

  test("the change feed presents the range-END logical names across a rename") {
    val t = freshTable("feed")
    TxLog.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(1), t, statsCol = Some("k"))
    TxLog.renameColumn(t, "v", "val")
    TxLog.delete(spark, t, col("val") === "v3", changeFeed = true)
    val feed = TxLog.readChangeFeed(spark, t, 0L)
    assert(feed.columns.toSeq == Seq("k", "val", "_change_type", "_commit_version"))
    // rows written BEFORE the rename surface under the current name
    assert(feed.where(col("_change_type") === "insert").count() == 10L)
    assert(feed.where(col("_change_type") === "delete")
      .select("val").as[String].collect().toSeq == Seq("v3"))
  }

  test("checkpoint and CLONE carry the mapping and the protocol gate") {
    val t = freshTable("ckpt")
    seed(t)
    TxLog.renameColumn(t, "v", "val")
    TxLog.checkpoint(t)
    // replay from the checkpoint alone still maps
    assert(TxLog.snapshot(t).read(spark).columns.toSeq == Seq("k", "val", "grp"))
    val dst = freshTable("ckptclone")
    TxLog.clone(t, dst)
    assert(TxLog.columnMapping(dst) == TxLog.columnMapping(t))
    assert(TxLog.snapshot(dst).read(spark).columns.toSeq == Seq("k", "val", "grp"))
  }

  test("rename collisions and unknown columns refuse loudly") {
    val t = freshTable("collide")
    seed(t)
    intercept[TxLog.SchemaMismatch](TxLog.renameColumn(t, "nope", "x"))
    intercept[TxLog.SchemaMismatch](TxLog.renameColumn(t, "v", "K")) // case-folded collision
    TxLog.renameColumn(t, "v", "val")
    intercept[TxLog.SchemaMismatch](TxLog.addColumn(t, "VAL", StringType))
    intercept[TxLog.SchemaMismatch](TxLog.dropColumn(spark, t, "v")) // old name gone
  }

  test("SQL surface: ALTER RENAME/ADD/DROP COLUMN and mapped DML end-to-end") {
    val t = freshTable("sql")
    seed(t)
    withExtSession { s =>
      def q(x: String) = s.sql(x).collect()
      q(s"ALTER TXLOG '$t' RENAME COLUMN v TO val")
      q(s"ALTER TXLOG '$t' ADD COLUMN score DECIMAL(10, 2)")
      q(s"UPDATE TXLOG '$t' SET score = 1.5 WHERE k < 10")
      q(s"DELETE FROM TXLOG '$t' WHERE val = 'v42'")
      val df = s.read.format("txlog").load(t)
      assert(df.columns.toSeq == Seq("k", "val", "grp", "score"))
      assert(df.where(col("score").isNotNull).count() == 10L)
      assert(df.where(col("val") === "v42").count() == 0L)
      q(s"ALTER TXLOG '$t' DROP COLUMN grp")
      assert(s.read.format("txlog").load(t).columns.toSeq
        == Seq("k", "val", "score"))
    }
  }

  test("mergeFull dimension-sync translates clauses under the mapping") {
    val t = freshTable("mfull")
    TxLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t,
      statsCol = Some("k"))
    TxLog.renameColumn(t, "v", "name")
    TxLog.mergeFull(
      Seq((2L, "B"), (4L, "D")).toDF("k", "name"), t, "k",
      Seq(
        TxLog.MatchedUpdate(Map("name" -> col("s.name"))),
        TxLog.NotMatchedInsert(),
        TxLog.NotMatchedBySourceDelete()))
    val got = TxLog.snapshot(t).read(spark)
      .as[(Long, String)].collect().toSet
    assert(got == Set((2L, "B"), (4L, "D")))
  }

  test("the streaming source reads physical files but serves logical rows") {
    val t = freshTable("stream")
    seed(t)
    TxLog.renameColumn(t, "v", "val")
    val out = freshTable("streamout")
    val ck = Files.createTempDirectory("txcm_ck").toString
    val q = spark.readStream.format("txlog").load(t)
      .writeStream.format("txlog").option("checkpointLocation", ck)
      .start(out)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.format("txlog").load(out)
    assert(got.columns.toSeq == Seq("k", "val", "grp"))
    assert(got.count() == 100L)
  }

  test("PROTOCOL gates: unknown reader feature refuses reads, unknown writer feature refuses writes") {
    val tR = freshTable("protoR")
    seed(tR)
    TxLog.commit(tR, TxLog.latestVersion(tR) + 1,
      Seq(TxLog.Protocol(Set("futureMagic"), Set.empty)), "alter")
    val eR = intercept[RuntimeException](TxLog.snapshot(tR).read(spark))
    assert(eR.getMessage.contains("futureMagic"))

    val tW = freshTable("protoW")
    seed(tW)
    TxLog.commit(tW, TxLog.latestVersion(tW) + 1,
      Seq(TxLog.Protocol(Set.empty, Set("futureWriteMagic"))), "alter")
    // readable — the reader features are all known (none)
    assert(TxLog.snapshot(tW).read(spark).count() == 100L)
    val eW = intercept[RuntimeException](
      TxLog.append(Seq((1L, "x", 0L)).toDF("k", "v", "grp"), tW))
    assert(eW.getMessage.contains("futureWriteMagic"))
    intercept[RuntimeException](TxLog.delete(spark, tW, col("k") === 1L))
    intercept[RuntimeException](TxLog.vacuum(tW))
  }

  test("a DV commit stamps the deletionVectors protocol feature") {
    val t = freshTable("dvproto")
    seed(t)
    TxLog.delete(spark, t, col("k") === 7L, useDV = true)
    val p = TxLog.describeDetail(t) // replay gate passes (we support it)
    assert(p.version >= 2L)
    val r = TxLog.columnMapping(t) // just proves replay is healthy
    assert(r.isEmpty)
    // the recorded protocol names the feature
    val logLines = Files.readAllLines(
      Paths.get(t, "_txlog", f"${TxLog.latestVersion(t)}%020d.json"))
    assert(scala.jdk.CollectionConverters.ListHasAsScala(logLines).asScala
      .exists(_.contains("deletionVectors")))
  }
}
