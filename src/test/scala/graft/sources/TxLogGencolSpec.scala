package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.SparkSpec

/** GENERATED columns (Delta's generated-columns design): the rule is table
  * metadata; writes that omit the column get it computed, writes that
  * carry it are verified row-exactly, rewrite verbs recompute post-images,
  * and rows written before the rule existed keep their legitimate nulls —
  * never backfilled by unrelated rewrites. */
class TxLogGencolSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"txgen_$name").resolve("t").toString

  private def vals(t: String): Map[Long, (String, Any)] =
    TxLog.snapshot(t).read(spark).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap

  test("a write omitting the generated column gets it computed; pre-rule rows stay null") {
    val t = freshTable("compute")
    TxLog.append(Seq((1L, "aa"), (2L, "bbb")).toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v)")
    TxLog.append(Seq((3L, "cccc")).toDF("k", "v"), t)
    val got = vals(t)
    assert(got(3L) == (("cccc", 4)), "computed on write")
    assert(got(1L) == (("aa", null)) && got(2L) == (("bbb", null)),
      "pre-rule rows legitimately null")
    // a merge touching ONLY row 3's file must not backfill rows 1/2
    TxLog.merge(Seq((3L, "c")).toDF("k", "v"), t, "k")
    val got2 = vals(t)
    assert(got2(3L) == (("c", 1)), "merge computed the update row")
    assert(got2(1L)._2 == null, "survivors keep their pre-rule null")
  }

  test("a write carrying the column is verified: liars refused, truth accepted") {
    val t = freshTable("verify")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v)")
    intercept[TxLog.ConstraintViolation](
      TxLog.append(Seq((2L, "bb", 99)).toDF("k", "v", "v_len"), t))
    TxLog.append(Seq((2L, "bb", 2)).toDF("k", "v", "v_len"), t)
    assert(vals(t)(2L) == (("bb", 2)))
    // merge with a lying value refuses too
    intercept[TxLog.ConstraintViolation](
      TxLog.merge(Seq((2L, "xyz", 7)).toDF("k", "v", "v_len"), t, "k"))
  }

  test("partition by a generated column: the writer never materializes it") {
    val t = freshTable("part")
    TxLog.append(Seq((0L, "seed", "g0")).toDF("k", "v", "grp"), t, statsCol = Some("k"))
    // the rule derives the partition value from v; future appends omit it
    val t2 = freshTable("part2")
    TxLog.append(Seq((0L, "a")).toDF("k", "v"), t2, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t2, "bucket", StringType,
      "CASE WHEN length(v) > 2 THEN 'long' ELSE 'short' END")
    TxLog.overwrite(Seq((1L, "aa"), (2L, "bbbb")).toDF("k", "v"), t2,
      partitionBy = Seq("bucket"))
    // the layout is keyed by the PHYSICAL name (fresh, e.g. c_bucket)
    val phys = TxLog.columnMapping(t2)
      .collectFirst { case ("bucket", p) => p }.get
    assert(TxLog.snapshot(t2).files.exists(_.contains(s"__part_$phys=long")))
    assert(TxLog.snapshot(t2).files.exists(_.contains(s"__part_$phys=short")))
    // pruned public read on the generated partition column
    val longs = spark.read.format("txlog").load(t2)
      .where(col("bucket") === "long").select("k").as[Long].collect().toSet
    assert(longs == Set(2L))
  }

  test("UPDATE recomputes on hit rows only; SET on the rule is refused") {
    val t = freshTable("update")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v)")
    TxLog.append(Seq((2L, "bb"), (3L, "ccc")).toDF("k", "v"), t)
    // update a DEPENDENCY: the derived value refreshes on the hit row
    TxLog.update(spark, t, col("k") === 2L, Map("v" -> lit("zzzzz")))
    val got = vals(t)
    assert(got(2L) == (("zzzzz", 5)), "recomputed over the post image")
    assert(got(3L) == (("ccc", 3)), "untouched row keeps its value")
    assert(got(1L)._2 == null, "pre-rule row in the same rewritten file stays null")
    // writing the generated column directly is refused
    intercept[TxLog.SchemaMismatch](
      TxLog.update(spark, t, col("k") === 2L, Map("v_len" -> lit(1))))
    // DV update recomputes too (postimage staging path)
    TxLog.update(spark, t, col("k") === 3L, Map("v" -> lit("dddddd")), useDV = true)
    assert(vals(t)(3L) == (("dddddd", 6)))
  }

  test("mergeFull: inserts compute, matched updates recompute, keep rows stay") {
    val t = freshTable("mfull")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v)")
    TxLog.append(Seq((2L, "bb"), (3L, "ccc")).toDF("k", "v"), t)
    TxLog.mergeFull(Seq((2L, "yyyy"), (9L, "zzzzz")).toDF("k", "v"), t, "k",
      Seq(TxLog.MatchedUpdate(Map("v" -> col("s.v"))), TxLog.NotMatchedInsert()))
    val got = vals(t)
    assert(got(2L) == (("yyyy", 4)), "matched update recomputed")
    assert(got(9L) == (("zzzzz", 5)), "insert computed")
    assert(got(3L) == (("ccc", 3)) && got(1L)._2 == null, "keep rows untouched")
    // SET naming the generated column is refused
    intercept[TxLog.SchemaMismatch](
      TxLog.mergeFull(Seq((2L, "x")).toDF("k", "v"), t, "k",
        Seq(TxLog.MatchedUpdate(Map("v_len" -> lit(1))))))
  }

  test("rule DDL validation: self-reference, bad type, dependency drops") {
    val t = freshTable("ddl")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t, statsCol = Some("k"))
    intercept[TxLog.SchemaMismatch](
      TxLog.addGeneratedColumn(spark, t, "self", IntegerType, "self + 1"))
    intercept[TxLog.SchemaMismatch](
      TxLog.addGeneratedColumn(spark, t, "bad", IntegerType, "v")) // string→int lossy
    TxLog.addGeneratedColumn(spark, t, "v_len", LongType, "length(v)") // int→long upcasts
    // dropping the dependency is refused while the rule reads it
    intercept[TxLog.SchemaMismatch](TxLog.dropColumn(spark, t, "v"))
    // dropping the generated column drops its rule
    TxLog.dropColumn(spark, t, "v_len")
    assert(TxLog.generatedColumns(t).isEmpty)
    TxLog.dropColumn(spark, t, "v") // now free
    assert(TxLog.snapshot(t).read(spark).columns.toSeq == Seq("k"))
  }

  test("rules survive checkpoint and CLONE; SQL DDL + rename compose") {
    val t = freshTable("carry")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v)")
    TxLog.checkpoint(t)
    TxLog.append(Seq((2L, "bbb")).toDF("k", "v"), t)
    assert(vals(t)(2L) == (("bbb", 3)), "rule survives log compaction")
    val dst = freshTable("carryclone")
    TxLog.clone(t, dst)
    TxLog.append(Seq((3L, "cccc")).toDF("k", "v"), dst)
    assert(vals(dst)(3L) == (("cccc", 4)), "rule rides the clone")
    // renaming the DEPENDENCY is fine: the rule is stored physical
    TxLog.renameColumn(t, "v", "text")
    TxLog.append(Seq((4L, "ddddd")).toDF("k", "text"), t)
    assert(TxLog.snapshot(t).read(spark).where(col("k") === 4L)
      .select("v_len").as[Int].head() == 5)
  }

  test("addGeneratedColumn stamps generatedColumns as a WRITER feature") {
    // a protocol-aware engine that supports columnMapping but ignores the
    // gencol rule lines must be fenced out of WRITING (it would append
    // without computing/verifying the rule — a silent GENERATED ALWAYS
    // violation); readers stay unfenced (values are materialized).
    val t = freshTable("proto")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v)")
    val line = Files.readAllLines(
      java.nio.file.Paths.get(t, "_txlog",
        f"${TxLog.latestVersion(t)}%020d.json")).toArray.mkString("\n")
    val proto = line.linesIterator.find(_.contains("\"protocol\"")).getOrElse(
      fail(s"no protocol action in the alter commit:\n$line"))
    val Array(rf, wf) = proto.split("\"wf\":")
    assert(wf.contains("generatedColumns"), s"writer features missing gencol: $proto")
    assert(!rf.contains("generatedColumns"), s"gencol must be writer-only: $proto")
    // and this engine (which does implement it) still writes through
    TxLog.append(Seq((2L, "bbb")).toDF("k", "v"), t)
    assert(vals(t)(2L) == (("bbb", 3)))
  }

  test("a racing rule change mid-merge re-verifies provided values against the new rules") {
    // the race: merge verifies its provided columns against the rules at
    // entry, loses the commit slot to a concurrent addGeneratedColumn whose
    // rule those values VIOLATE, then re-derives. Without re-verification
    // the re-derivation would commit the lying values under the new rule —
    // a silent GENERATED ALWAYS violation.
    val t = freshTable("race")
    TxLog.append(Seq((1L, "aaa")).toDF("k", "v"), t, statsCol = Some("k"))
    // rule r0 accepts 99 for v='xyz' (3·33); the racing commit REPLACES it
    // with length(v), which 99 violates — simulating an engine that alters
    // a rule (the log format allows it: last gencol line per name wins)
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v) * 33")
    val phys = TxLog.columnMapping(t).collectFirst { case ("v_len", p) => p }.get
    @volatile var fired = false
    TxLog.mergeCommitHook = () => if (!fired) {
      fired = true
      TxLog.commit(t, TxLog.latestVersion(t) + 1,
        Seq(TxLog.Gencol(phys, "length(v)")), "alter")
    }
    try {
      intercept[TxLog.ConstraintViolation](
        TxLog.merge(Seq((1L, "xyz", 99)).toDF("k", "v", "v_len"), t, "k"))
      assert(fired, "the concurrent rule change never ran — test is vacuous")
      // and nothing committed: the table still holds only the seed row
      assert(vals(t).keySet == Set(1L) && vals(t)(1L)._1 == "aaa")
      // the truthful value for the NEW rule goes through
      TxLog.merge(Seq((1L, "xyz", 3)).toDF("k", "v", "v_len"), t, "k")
      assert(vals(t)(1L) == (("xyz", 3)))
    } finally TxLog.mergeCommitHook = () => ()
  }

  test("merge composes with a gencol whose rule inputs the updates omit") {
    // the r14 shape ran computeGenerated/verifyProvidedGenerated on the
    // updates frame BEFORE the preservation join, so a rule over an
    // unmentioned column threw an unresolved-column AnalysisException —
    // despite merge's own claim that old writers keep working after an
    // evolution. The rule now defers until the join binds the pre-image:
    //  - matched rows with NO updated input PRESERVE the stored value
    //    (a pre-rule null stays null — never "corrected");
    //  - unmatched rows are inserts and COMPUTE from the values as they
    //    land (null-filled inputs included).
    val t = freshTable("defer")
    TxLog.append(Seq((1L, "aa", 10L)).toDF("k", "v", "w"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "coalesce(length(v), -1)")
    TxLog.append(Seq((2L, "bbb", 20L)).toDF("k", "v", "w"), t) // computes v_len = 3
    // updates mention ONLY (k, w): v and v_len both preserve on match
    TxLog.merge(Seq((1L, 11L), (2L, 21L), (9L, 90L)).toDF("k", "w"), t, "k")
    val got = TxLog.snapshot(t).read(spark).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2),
        Option(r.get(3))))).toMap
    assert(got(1L) == ((Some("aa"), 11L, None)),
      s"pre-rule row preserves v AND its legitimate null v_len, got ${got(1L)}")
    assert(got(2L) == ((Some("bbb"), 21L, Some(3))),
      s"post-rule row preserves v and its computed v_len, got ${got(2L)}")
    assert(got(9L) == ((None, 90L, Some(-1))),
      s"insert computes the gencol from its null-filled input, got ${got(9L)}")
  }

  test("merge recomputes a deferred gencol when SOME rule inputs are updated") {
    // mixed case: the rule reads (v, x); updates carry x only. The changed
    // input must refresh the derived value from (preserved v, new x) — the
    // Delta recompute-on-changed-inputs discipline.
    val t = freshTable("defer2")
    TxLog.append(Seq((1L, "aa", "p")).toDF("k", "v", "x"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "tag", StringType,
      "concat(coalesce(v, '?'), ':', coalesce(x, '?'))")
    TxLog.merge(Seq((1L, "q"), (2L, "r")).toDF("k", "x"), t, "k")
    val got = TxLog.snapshot(t).read(spark).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getString(2),
        r.getString(3)))).toMap
    assert(got(1L) == ((Some("aa"), "q", "aa:q")),
      s"changed input must recompute from (preserved v, new x), got ${got(1L)}")
    assert(got(2L) == ((None, "r", "?:r")),
      s"insert computes from the null-filled v, got ${got(2L)}")
  }

  test("all-insert merge missing every envelope composes with a deferred gencol") {
    // r15 advisor finding: when `touched` is empty (no file's key envelope
    // can hold an update key) the pre-image frame was built updates-shaped,
    // so a deferred rule's inputs were unresolvable and the merge threw
    // AnalysisException — the exact "old writers keep working after an
    // evolution" case the deferral exists for. The pre-image must carry
    // the LOG schema even when empty.
    val t = freshTable("defer4")
    TxLog.append(Seq((1L, "aa", 10L)).toDF("k", "v", "w"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "coalesce(length(v), -1)")
    // keys 100/101 miss file 1's [1,1] envelope entirely: touched = ∅
    TxLog.merge(Seq((100L, 5L), (101L, 6L)).toDF("k", "w"), t, "k")
    val got = TxLog.snapshot(t).read(spark).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2),
        Option(r.get(3))))).toMap
    assert(got(1L) == ((Some("aa"), 10L, None)), s"untouched survivor, got ${got(1L)}")
    assert(got(100L) == ((None, 5L, Some(-1))) && got(101L) == ((None, 6L, Some(-1))),
      s"inserts compute the gencol from null-filled inputs, got $got")
    // provided-gencol variant through the same empty-pre-image path:
    // verification must run (liar refused) and the truth commit
    intercept[TxLog.ConstraintViolation](
      TxLog.merge(Seq((200L, 99)).toDF("k", "v_len"), t, "k"))
    TxLog.merge(Seq((200L, -1)).toDF("k", "v_len"), t, "k")
    assert(TxLog.snapshot(t).read(spark).where(col("k") === 200L).count() == 1)
  }

  test("merge into an EMPTY table composes with a deferred gencol") {
    // the other touched-is-empty shape: the table exists (schema + rule in
    // the log) but holds zero live rows — every merge row is an insert
    val t = freshTable("defer5")
    TxLog.append(Seq((1L, "aa", 10L)).toDF("k", "v", "w"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "coalesce(length(v), -1)")
    TxLog.delete(spark, t, lit(true))
    assert(TxLog.snapshot(t).read(spark).count() == 0)
    TxLog.merge(Seq((7L, 70L)).toDF("k", "w"), t, "k")
    val r = TxLog.snapshot(t).read(spark).collect().head
    assert(r.getLong(0) == 7L && r.isNullAt(1) && r.getLong(2) == 70L &&
      r.getInt(3) == -1, s"insert into empty table computes the gencol, got $r")
  }

  test("merge verifies a PROVIDED gencol against the preserved inputs") {
    // updates carry the gencol but omit its input: verification must bind
    // the pre-image value through the preservation join — a liar refuses,
    // the truth commits.
    val t = freshTable("defer3")
    TxLog.append(Seq((0L, "seed")).toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "v_len", IntegerType, "length(v)")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t) // v_len = 2
    intercept[TxLog.ConstraintViolation](
      TxLog.merge(Seq((1L, 99)).toDF("k", "v_len"), t, "k"))
    TxLog.merge(Seq((1L, 2)).toDF("k", "v_len"), t, "k")
    val r = TxLog.snapshot(t).read(spark).where(col("k") === 1L).collect().head
    assert(r.getString(1) == "aa" && r.getInt(2) == 2)
  }

  test("SQL: ALTER ADD COLUMN ... GENERATED ALWAYS AS (...) end-to-end") {
    val t = freshTable("sql")
    TxLog.append(Seq((1L, "aa")).toDF("k", "v"), t, statsCol = Some("k"))
    withExtSession { s =>
      s.sql(s"ALTER TXLOG '$t' ADD COLUMN v_up STRING GENERATED ALWAYS AS (upper(v))")
      s.sql(s"INSERT INTO txlog.`$t` SELECT 2L AS k, 'bb' AS v")
      val got = s.read.format("txlog").load(t)
        .where(col("k") === 2L).select("v_up").as(
          org.apache.spark.sql.Encoders.STRING).head()
      assert(got == "BB")
    }
  }
}
