package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.TxLog

/** The TXLOG SQL maintenance surface: statements parse to the command
  * plans, run against a real log, and everything that is not a TXLOG
  * statement reaches Spark's own parser untouched. */
class TxLogSqlSpec extends SparkSpec {

  private def freshTable(name: String): String =
    Files.createTempDirectory(s"txsql_$name").resolve("t").toString

  test("OPTIMIZE / DESCRIBE HISTORY / VACUUM run end-to-end through spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("e2e")
      for (b <- 0 until 4)
        TxLog.append(Seq((b.toLong, s"v$b")).toDF("k", "v"), t, statsCol = Some("k"))
      val filesBefore = TxLog.snapshot(t).files.size

      val opt = s.sql(s"OPTIMIZE TXLOG '$t' TARGET 1073741824 STATS k").head()
      assert(opt.getLong(0) == 5L, "optimize must commit version 5")
      assert(opt.getInt(1) == filesBefore)
      assert(opt.getInt(2) < filesBefore, "compaction must shrink the live file set")
      assert(TxLog.snapshot(t).read(s).count() == 4)

      val hist = s.sql(s"DESCRIBE HISTORY TXLOG '$t'")
      assert(hist.columns.toSeq ==
        Seq("version", "op", "committed_at", "adds", "removes"))
      val ops = hist.select("version", "op").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(ops == Seq(5L -> "optimize", 4L -> "append", 3L -> "append",
        2L -> "append", 1L -> "append"), s"newest-first history, got $ops")

      // RESTORE through SQL: roll back to the 2-row state as a new commit
      // (BEFORE vacuum — a vacuumed-away version is unrestorable by design)
      val res = s.sql(s"RESTORE TXLOG '$t' VERSION AS OF 2").head()
      assert(res.getLong(0) == 2L && res.getLong(1) == 6L)
      assert(TxLog.snapshot(t).read(s).count() == 2)

      // vacuum with zero grace (no in-flight writers here) collects every
      // file outside the restored tip; the live snapshot is untouched
      val deleted = s.sql(s"VACUUM TXLOG '$t' RETAIN 0 VERSIONS GRACE 0").head().getLong(0)
      assert(deleted >= 2L, s"non-tip files must be collected, got $deleted")
      assert(TxLog.snapshot(t).read(s).count() == 2)
    }
  }

  test("ZORDER BY clause compacts through Layout clustering") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("zorder")
      for (b <- 0 until 3)
        TxLog.append((0 until 50).map(i => (b * 50L + i, i.toLong)).toDF("x", "y"), t)
      val r = s.sql(s"OPTIMIZE TXLOG '$t' ZORDER BY (x, y)").head()
      assert(r.getLong(0) == 4L)
      assert(TxLog.snapshot(t).read(s).count() == 150)
    }
  }

  test("DELETE FROM TXLOG runs end-to-end through spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("delete")
      TxLog.append((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("k")),
        t, statsCol = Some("k"))
      val r = s.sql(s"DELETE FROM TXLOG '$t' WHERE k % 2 = 0 STATS k").head()
      assert(r.getLong(0) == 2L, "delete must commit version 2")
      assert(r.getInt(1) == 4, "every file held an even key → all 4 rewritten")
      assert(TxLog.snapshot(t).read(s).select("k").collect()
        .map(_.getLong(0)).toSet == (1 to 20 by 2).map(_.toLong).toSet)
      // a malformed predicate fails in Spark's expression parser, not ours
      intercept[Exception](s.sql(s"DELETE FROM TXLOG '$t' WHERE ((("))
    }
  }

  test("UPDATE TXLOG runs end-to-end through spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("update")
      TxLog.append((1 to 20).map(i => (i.toLong, i.toLong * 10, s"v$i"))
        .toDF("k", "n", "v")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("k")),
        t, statsCol = Some("k"))
      // multi-assignment with a top-level-comma-bearing function call and a
      // string literal comma — the splitter must not break either; both
      // right-hand sides see the OLD row
      val r = s.sql(
        s"UPDATE TXLOG '$t' SET n = greatest(n + 1, 5), v = concat(v, ',', 'x') " +
          "WHERE k % 2 = 0 STATS k").head()
      assert(r.getLong(0) == 2L, "update must commit version 2")
      assert(r.getInt(1) == 4, "every file held an even key → all 4 rewritten")
      val got = TxLog.snapshot(t).read(s).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSet
      val want = (1 to 20).map { i =>
        if (i % 2 == 0) (i.toLong, i.toLong * 10 + 1, s"v$i,x")
        else (i.toLong, i.toLong * 10, s"v$i")
      }.toSet
      assert(got == want)
      // the SET/WHERE boundary is quote-aware: a literal containing the
      // word 'where' must not split the statement there
      s.sql(s"UPDATE TXLOG '$t' SET v = 'x where y' WHERE k = 1")
      assert(TxLog.snapshot(t).read(s).filter(
        org.apache.spark.sql.functions.col("k") === 1L)
        .select("v").head().getString(0) == "x where y")
      // duplicate SET targets are refused
      intercept[Exception](
        s.sql(s"UPDATE TXLOG '$t' SET n = 1, n = 2 WHERE k = 1"))
      // a malformed right-hand side fails in Spark's expression parser
      intercept[Exception](
        s.sql(s"UPDATE TXLOG '$t' SET n = ((( WHERE k = 1"))
    }
  }

  test("CHANGEFEED clause records sidecars readable by readChangeFeed") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("sqlcdf")
      TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), t)
      s.sql(s"UPDATE TXLOG '$t' SET v = upper(v) WHERE k = 2 CHANGEFEED")
      s.sql(s"DELETE FROM TXLOG '$t' WHERE k = 1 CHANGEFEED")
      Seq((3L, "c")).toDF("k", "v").createOrReplaceTempView("mupd")
      s.sql(s"MERGE INTO TXLOG '$t' KEY k CHANGEFEED USING SELECT * FROM mupd")
      val feed = TxLog.readChangeFeed(s, t, 1L)
        .select("k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(feed == Set(
        (2L, "update_preimage"), (2L, "update_postimage"),
        (1L, "delete"), (3L, "insert")))
    }
  }

  test("OPTIMIZE WHERE compacts only stat-matching files; VACUUM DRY RUN deletes nothing") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("optwhere")
      // four small range-disjoint stat files: slice s holds [s*100, s*100+9]
      for (slice <- 0 until 4)
        TxLog.append((0 until 10).map(i => (slice * 100L + i, s"s$slice"))
          .toDF("k", "v").repartition(1), t, statsCol = Some("k"))
      val before = TxLog.snapshot(t).files.toSet
      // k <= 109 scopes the compaction to slices 0 and 1; the other two
      // files must survive IN PLACE
      val r = s.sql(s"OPTIMIZE TXLOG '$t' WHERE k <= 109 STATS k").head()
      assert(r.getLong(0) == 5L)
      assert(r.getInt(1) == 4 && r.getInt(2) == 3,
        "two scoped files compact into one; two out-of-scope files survive")
      val after = TxLog.snapshot(t).files.toSet
      assert(before.count(after.contains) == 2,
        "the out-of-scope files must keep their paths")
      assert(TxLog.snapshot(t).read(s).count() == 40L, "optimize is content-neutral")
      // a rewrite made version 5; retain nothing, dry-run first
      val dry = s.sql(s"VACUUM TXLOG '$t' GRACE 0 DRY RUN").head()
      assert(dry.getLong(0) == 2L && dry.getBoolean(1),
        s"dry run must count the two retired files, got ${dry.getLong(0)}")
      assert(TxLog.snapshot(t, asOf = 4L).read(s).count() == 40L,
        "dry run must not delete — the pre-optimize snapshot still reads")
      val real = s.sql(s"VACUUM TXLOG '$t' GRACE 0").head()
      assert(real.getLong(0) == 2L && !real.getBoolean(1))
      assert(TxLog.snapshot(t).read(s).count() == 40L)
    }
  }

  test("INSERT INTO/OVERWRITE txlog.`path` writes through the transactional verbs") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("insert")
      TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
      // INSERT INTO = transactional append: the new version commits and the
      // row is visible to a log-backed read (a direct parquet write into
      // the table root would be INVISIBLE — the hazard this path closes)
      val r = s.sql(s"INSERT INTO txlog.`$t` VALUES (2, 'b')").head()
      assert(r.getLong(0) == 2L, "INSERT must commit version 2")
      assert(s.sql(s"SELECT k, v FROM txlog.`$t` ORDER BY k").collect()
        .map(x => (x.getLong(0), x.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b")))
      // the source query may itself read a txlog table (re-enters the rule)
      s.sql(s"INSERT INTO txlog.`$t` SELECT k + 10 AS k, upper(v) AS v FROM txlog.`$t`")
      assert(s.sql(s"SELECT count(*) FROM txlog.`$t`").head().getLong(0) == 4L)
      // INSERT OVERWRITE = transactional full overwrite, history preserved
      s.sql(s"INSERT OVERWRITE txlog.`$t` VALUES (9, 'z')")
      assert(s.sql(s"SELECT k, v FROM txlog.`$t`").collect()
        .map(x => (x.getLong(0), x.getString(1))).toSeq == Seq((9L, "z")))
      assert(TxLog.snapshot(t, asOf = 2L).read(s).count() == 2L,
        "time travel below the overwrite must still read")
      // a versioned reference is a read-only snapshot — refused loudly
      val e = intercept[Exception](s.sql(s"INSERT INTO txlog.`$t@v2` VALUES (3, 'c')"))
      assert(e.getMessage.contains("read-only"))
    }
  }

  test("MERGE INTO TXLOG upserts through spark.sql; EVOLVE gates new columns") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("merge")
      TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, statsCol = Some("k"))
      Seq((2L, "B"), (3L, "c")).toDF("k", "v").createOrReplaceTempView("upd")
      val r = s.sql(s"MERGE INTO TXLOG '$t' KEY k USING SELECT * FROM upd").head()
      assert(r.getLong(0) == 2L)
      assert(TxLog.snapshot(t).read(s).collect()
        .map(x => (x.getLong(0), x.getString(1))).toSet ==
        Set((1L, "a"), (2L, "B"), (3L, "c")))
      // a widening source is refused without EVOLVE, lands with it
      Seq((4L, "d", 7L)).toDF("k", "v", "extra").createOrReplaceTempView("wide")
      intercept[TxLog.SchemaMismatch](
        s.sql(s"MERGE INTO TXLOG '$t' KEY k USING SELECT * FROM wide").head())
      s.sql(s"MERGE INTO TXLOG '$t' KEY k EVOLVE USING SELECT * FROM wide").head()
      assert(TxLog.snapshot(t).read(s).columns.toSeq == Seq("k", "v", "extra"))
      assert(TxLog.snapshot(t).read(s).count() == 4)
      // MERGE INTO a non-TXLOG target falls through to Spark's parser
      intercept[Exception](s.sql("MERGE INTO plain USING src ON 1=1"))
    }
  }

  test("path literals with quotes unescape; standard SQL still parses") {
    withExtSession { s =>
      // non-TXLOG text must fall through to Spark's parser and behave
      assert(s.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
      // graft SQL functions injected by the same extensions class coexist
      assert(s.sql("SELECT graft_vec_dot(array(1.0F), array(2.0F)) AS d")
        .head().getDouble(0) == 2.0)
      // a malformed TXLOG statement is NOT half-parsed: it falls through and
      // fails in Spark's parser like any other bad SQL
      intercept[Exception](s.sql("OPTIMIZE TXLOG missing_quotes"))
    }
  }

  test("statement parsing covers the optional clauses") {
    assert(TxLogSql.parse("OPTIMIZE TXLOG '/a/b'") ==
      Some(OptimizeTxLogCommand("/a/b", 128L * 1024 * 1024, None, None)))
    assert(TxLogSql.parse("optimize txlog '/a''s' target 42 zorder by (x , y) stats k") ==
      Some(OptimizeTxLogCommand("/a's", 42L, Some(("x", "y")), Some("k"))))
    // multi-column stats list flows through to the comma-list statsCol form
    assert(TxLogSql.parse("OPTIMIZE TXLOG '/t' STATS k,ts") ==
      Some(OptimizeTxLogCommand("/t", 128L * 1024 * 1024, None, Some("k,ts"))))
    assert(TxLogSql.parse("VACUUM TXLOG '/t' RETAIN 3 VERSIONS") ==
      Some(VacuumTxLogCommand("/t", 3L, TxLog.DefaultVacuumGraceMs)))
    assert(TxLogSql.parse("vacuum txlog '/t' grace 0;") ==
      Some(VacuumTxLogCommand("/t", 0L, 0L)))
    assert(TxLogSql.parse("OPTIMIZE TXLOG '/t' WHERE k <= 5 STATS k") ==
      Some(OptimizeTxLogCommand("/t", 128L * 1024 * 1024, None, Some("k"), Some("k <= 5"))))
    assert(TxLogSql.parse("VACUUM TXLOG '/t' GRACE 0 DRY RUN") ==
      Some(VacuumTxLogCommand("/t", 0L, 0L, dryRun = true)))
    assert(TxLogSql.parse("UPDATE TXLOG '/t' SET a = 1, b = a WHERE k = 5 STATS k") ==
      Some(UpdateTxLogCommand("/t", "a = 1, b = a", "k = 5", Some("k"))))
    assert(TxLogSql.parse("UPDATE plain SET a = 1 WHERE k = 5") == None)
    assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE k = 5 STATS k CHANGEFEED") ==
      Some(DeleteTxLogCommand("/t", "k = 5", Some("k"), changeFeed = true)))
    assert(TxLogSql.parse("UPDATE TXLOG '/t' SET a = 1 WHERE k = 5 CHANGEFEED") ==
      Some(UpdateTxLogCommand("/t", "a = 1", "k = 5", None, changeFeed = true)))
    assert(TxLogSql.parse("MERGE INTO TXLOG '/t' KEY k CHANGEFEED USING SELECT 1 AS k") ==
      Some(MergeTxLogCommand("/t", "k", false, "SELECT 1 AS k", changeFeed = true)))
    assert(TxLogSql.parse("DESCRIBE HISTORY TXLOG '/t'") ==
      Some(DescribeHistoryTxLogCommand("/t")))
    assert(TxLogSql.parse("restore txlog '/t' version as of 7") ==
      Some(RestoreTxLogCommand("/t", 7L)))
    assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE k = 5") ==
      Some(DeleteTxLogCommand("/t", "k = 5", None)))
    assert(TxLogSql.parse("delete from txlog '/t' where v LIKE 'x%' stats k,ts;") ==
      Some(DeleteTxLogCommand("/t", "v LIKE 'x%'", Some("k,ts"))))
    // DELETE on a non-TXLOG table falls through to Spark's parser
    assert(TxLogSql.parse("DELETE FROM plain_table WHERE k = 5") == None)
    assert(TxLogSql.parse("MERGE INTO TXLOG '/t' KEY k USING SELECT 1 AS k") ==
      Some(MergeTxLogCommand("/t", "k", false, "SELECT 1 AS k")))
    assert(TxLogSql.parse("merge into txlog '/t' key k evolve using select * from s;") ==
      Some(MergeTxLogCommand("/t", "k", true, "select * from s")))
    assert(TxLogSql.parse("MERGE INTO plain USING src ON a = b") == None)
    assert(TxLogSql.parse("SELECT * FROM t") == None)
    assert(TxLogSql.parse("OPTIMIZE TXLOG unquoted") == None)
    assert(TxLogSql.parse("CLONE TXLOG '/a' TO '/b'") ==
      Some(CloneTxLogCommand("/a", "/b", Long.MaxValue)))
    assert(TxLogSql.parse("clone txlog '/a' to '/b' version as of 3;") ==
      Some(CloneTxLogCommand("/a", "/b", 3L)))
  }

  test("trailing STATS/CHANGEFEED peel is quote/paren-aware and parse-checked") {
    // a predicate ENDING in a bare identifier that happens to be named like
    // a clause keyword stays a predicate — the old regex peel truncated it
    // to the unparsable `is_active AND` and rejected a valid statement
    assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE is_active AND changefeed") ==
      Some(DeleteTxLogCommand("/t", "is_active AND changefeed", None)))
    // STATS with no column list after it is predicate text, not a clause
    assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE a AND stats") ==
      Some(DeleteTxLogCommand("/t", "a AND stats", None)))
    // a real flag still peels
    assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE is_active CHANGEFEED") ==
      Some(DeleteTxLogCommand("/t", "is_active", None, changeFeed = true)))
    // clause keywords inside string literals never peel
    assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE v = 'a STATS b'") ==
      Some(DeleteTxLogCommand("/t", "v = 'a STATS b'", None)))
    assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE v = 'x CHANGEFEED'") ==
      Some(DeleteTxLogCommand("/t", "v = 'x CHANGEFEED'", None)))
    // both clauses after free predicate text with parens and commas
    assert(TxLogSql.parse(
      "UPDATE TXLOG '/t' SET a = 1 WHERE coalesce(flag, false) STATS k,ts CHANGEFEED") ==
      Some(UpdateTxLogCommand("/t", "a = 1", "coalesce(flag, false)",
        Some("k,ts"), changeFeed = true)))
    // update predicate ending in the bare identifier keeps it too
    assert(TxLogSql.parse("UPDATE TXLOG '/t' SET a = 1 WHERE b AND changefeed") ==
      Some(UpdateTxLogCommand("/t", "a = 1", "b AND changefeed", None)))
    // OPTIMIZE's WHERE text gets the same discipline (no CHANGEFEED there)
    assert(TxLogSql.parse("OPTIMIZE TXLOG '/t' WHERE a AND stats") ==
      Some(OptimizeTxLogCommand("/t", 128L * 1024 * 1024, None, None,
        Some("a AND stats"))))
    assert(TxLogSql.parse("OPTIMIZE TXLOG '/t' WHERE k <= 5 AND note = 'x' STATS k") ==
      Some(OptimizeTxLogCommand("/t", 128L * 1024 * 1024, None, Some("k"),
        Some("k <= 5 AND note = 'x'"))))
  }

  test("DELETE/UPDATE ... DV take the deletion-vector path end-to-end via spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("dvsql")
      TxLog.append((0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(1), t, statsCol = Some("k"))
      val before = TxLog.snapshot(t).files
      s.sql(s"DELETE FROM TXLOG '$t' WHERE k = 7 DV").collect()
      assert(TxLog.snapshot(t).files == before, "no rewrite: bitmap sidecar only")
      assert(TxLog.snapshot(t).dvs.values.map(_.card).sum == 1L)
      assert(s.sql(s"SELECT count(*) FROM txlog.`$t`").head.getLong(0) == 99L)
      s.sql(s"UPDATE TXLOG '$t' SET v = 'X' WHERE k = 8 DV").collect()
      assert(s.sql(s"SELECT v FROM txlog.`$t` WHERE k = 8").as[String].head() == "X")
      assert(s.sql(s"SELECT count(*) FROM txlog.`$t`").head.getLong(0) == 99L)
      // flag parse coverage, including the bare-identifier collision
      assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE k = 5 STATS k CHANGEFEED DV") ==
        Some(DeleteTxLogCommand("/t", "k = 5", Some("k"), changeFeed = true, dv = true)))
      assert(TxLogSql.parse("DELETE FROM TXLOG '/t' WHERE k = 5 DV CHANGEFEED") ==
        Some(DeleteTxLogCommand("/t", "k = 5", None, changeFeed = true, dv = true)))
      assert(TxLogSql.parse("UPDATE TXLOG '/t' SET a = 1 WHERE b AND dv") ==
        Some(UpdateTxLogCommand("/t", "a = 1", "b AND dv", None)))
    }
  }

  test("full-matrix MERGE SQL: ordered WHEN clauses run end-to-end through spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("mfsql")
      TxLog.append(Seq((1L, "a"), (2L, "del"), (3L, "c")).toDF("k", "v"),
        t, statsCol = Some("k"))
      s.sql(
        s"""MERGE INTO TXLOG '$t' KEY k
            WHEN MATCHED AND t.v = 'del' THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT
            WHEN NOT MATCHED BY SOURCE AND t.k >= 3 THEN DELETE
            USING SELECT * FROM VALUES (1, 'A'), (2, 'x'), (9, 'i') AS src(k, v)
         """).collect()
      val got = TxLog.snapshot(t).read(s).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // 1 matched → updated; 2 matched the delete clause FIRST; 3 missing
      // from source and k>=3 → by-source delete; 9 unmatched → insert
      assert(got == Set((1L, "A"), (9L, "i")))
      // a condition containing THEN inside parens parses (top-level scan)
      val p = TxLogSql.parse(
        "MERGE INTO TXLOG '/t' KEY k WHEN MATCHED AND " +
          "(CASE WHEN t.k > 0 THEN true ELSE false END) THEN DELETE " +
          "USING SELECT 1 AS k")
      assert(p.exists(_.isInstanceOf[MergeFullTxLogCommand]), s"got $p")
      // the upsert form still parses to the fast-path command
      assert(TxLogSql.parse("MERGE INTO TXLOG '/t' KEY k EVOLVE USING SELECT 1 AS k") ==
        Some(MergeTxLogCommand("/t", "k", true, "SELECT 1 AS k")))
      // EVOLVE cannot combine with the clause matrix
      intercept[IllegalArgumentException](TxLogSql.parse(
        "MERGE INTO TXLOG '/t' KEY k EVOLVE WHEN MATCHED THEN DELETE USING SELECT 1 AS k"))
    }
  }

  test("UPDATE SET duplicate targets are refused case-insensitively") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("setdup")
      TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
      val e = intercept[IllegalArgumentException] {
        s.sql(s"UPDATE TXLOG '$t' SET v = 'x', V = 'y' WHERE k = 1").collect()
      }
      assert(e.getMessage.contains("more than once"))
      // and a case-flipped single target resolves to the real column
      s.sql(s"UPDATE TXLOG '$t' SET V = 'z' WHERE k = 1").collect()
      assert(TxLog.snapshot(t).read(s).select("v").as[String].collect() === Array("z"))
    }
  }

  test("DESCRIBE DETAIL TXLOG summarizes the table in one metadata row") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("detail")
      TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, statsCol = Some("k"))
      TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)
      val r = s.sql(s"DESCRIBE DETAIL TXLOG '$t'").collect().head
      assert(r.getString(0) == t)
      assert(r.getLong(1) == 2L, "version")
      assert(r.getInt(2) == TxLog.snapshot(t).files.size, "num_files")
      assert(r.getLong(3) > 0L, "size_bytes")
      assert(r.getTimestamp(4) != null, "last_commit_at")
      assert(r.getString(6).contains("k BIGINT"), s"schema_ddl: ${r.getString(6)}")
      assert(r.isNullAt(7), "no constraints yet")
      TxLog.addConstraint(s, t, "k_pos", "k > 0")
      val r2 = s.sql(s"DESCRIBE DETAIL TXLOG '$t'").collect().head
      assert(r2.getString(7) == "k_pos CHECK (k > 0)", s"constraints: ${r2.getString(7)}")
      assert(r2.getLong(8) == 3L, "num_rows from log metadata")
      assert(r2.isNullAt(9) && r2.isNullAt(10) && r2.isNullAt(11),
        "unpartitioned, unmapped, no protocol yet")
      // a rename turns on mapping + the protocol gate; DESCRIBE shows the
      // LOGICAL schema and surfaces both
      TxLog.renameColumn(t, "v", "val")
      val r3 = s.sql(s"DESCRIBE DETAIL TXLOG '$t'").collect().head
      assert(r3.getString(6).contains("val STRING") &&
        !r3.getString(6).contains("v STRING"), s"logical ddl: ${r3.getString(6)}")
      assert(r3.getString(10) == "k->k, val->v", s"mapping: ${r3.getString(10)}")
      assert(r3.getString(11).contains("columnMapping"), s"features: ${r3.getString(11)}")
      // statement-shape parse checks
      assert(TxLogSql.parse("describe detail txlog '/t';") ==
        Some(DescribeDetailTxLogCommand("/t")))
      assert(TxLogSql.parse("DESCRIBE DETAIL sometable") == None)
    }
  }

  test("SELECT FROM txlog.`path` resolves the log-backed relation; @vN time-travels") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("sqlread")
      TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, statsCol = Some("k"))
      TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), t)
      // plain read = current snapshot, through pure SQL, no graft imports
      assert(s.sql(s"SELECT k, v FROM txlog.`$t` ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))
      // joins/aggregates compose like any table reference
      assert(s.sql(s"SELECT count(*) AS n FROM txlog.`$t`").collect().head.getLong(0) == 1L)
      // version-suffix time travel
      assert(s.sql(s"SELECT k, v FROM txlog.`$t@v1` ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b")))
      // a temp view of the same name wins — standard SQL is never shadowed
      Seq((7L, "view")).toDF("k", "v").createOrReplaceTempView("plainview")
      assert(s.sql("SELECT k FROM plainview").collect().head.getLong(0) == 7L)
      // an unknown non-txlog reference still fails with Spark's own error
      intercept[Exception](s.sql("SELECT * FROM nosuch.`/missing`").collect())
      // a slash-free second part is NOT path-shaped: the rule does not fire,
      // so a catalog database named txlog keeps owning its tables (catalog
      // resolution runs before Spark's ResolveSQLOnFile in the resolution
      // batch). With no such database the name falls through to SPARK'S own
      // error for a V1-source direct query — proving our rule stayed out —
      // never our "empty legacy txlog table" failure
      val e = intercept[org.apache.spark.sql.AnalysisException](
        s.sql("SELECT * FROM txlog.sometable").collect())
      assert(e.getMessage.contains("UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY") ||
        e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    }
  }

  test("ALTER TXLOG ADD/DROP CONSTRAINT runs end-to-end through spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val t = freshTable("constraint")
      TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
      s.sql(s"ALTER TXLOG '$t' ADD CONSTRAINT k_pos CHECK (k > 0)")
      assert(TxLog.constraints(t) == Map("k_pos" -> "k > 0"))
      intercept[Exception](TxLog.append(Seq((-1L, "bad")).toDF("k", "v"), t))
      // the CHECK body is free SQL — parens and functions inside survive
      s.sql(s"ALTER TXLOG '$t' ADD CONSTRAINT v_len CHECK (length(v) <= (1 + 3))")
      assert(TxLog.constraints(t).contains("v_len"))
      s.sql(s"ALTER TXLOG '$t' DROP CONSTRAINT k_pos")
      assert(TxLog.constraints(t) == Map("v_len" -> "length(v) <= (1 + 3)"))
      TxLog.append(Seq((-1L, "ok")).toDF("k", "v"), t)
      // parse shapes; ALTER on a non-TXLOG table falls through to Spark
      assert(TxLogSql.parse("alter txlog '/t' add constraint c check (a > 0);") ==
        Some(AddConstraintTxLogCommand("/t", "c", "a > 0")))
      assert(TxLogSql.parse("ALTER TXLOG '/t' DROP CONSTRAINT c") ==
        Some(DropConstraintTxLogCommand("/t", "c")))
      assert(TxLogSql.parse("ALTER TABLE plain ADD COLUMN x INT") == None)
    }
  }

  test("CONVERT TO TXLOG runs end-to-end through spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val dir = Files.createTempDirectory("txsql_convert").resolve("t").toString
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2).write.parquet(dir)
      val out = s.sql(s"CONVERT TO TXLOG '$dir' STATS k").collect().head
      assert(out.getLong(0) == 1L && out.getInt(1) == 2)
      assert(s.sql(s"SELECT k FROM txlog.`$dir` ORDER BY k")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(TxLogSql.parse("convert to txlog '/d' stats k,ts;") ==
        Some(ConvertTxLogCommand("/d", Some("k,ts"))))
      assert(TxLogSql.parse("CONVERT TO PARQUET '/d'") == None)
    }
  }

  test("CLONE TXLOG runs end-to-end through spark.sql") {
    withExtSession { s =>
      import s.implicits._
      val src = freshTable("clone_src")
      val dst = freshTable("clone_dst")
      TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), src, statsCol = Some("k"))
      TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), src)
      val out = s.sql(s"CLONE TXLOG '$src' TO '$dst'").collect().head
      assert(out.getLong(0) == 1L)
      assert(s.read.format("txlog").load(dst)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet == Set((9L, "z")))
      // VERSION AS OF clones the historical state
      val dst2 = freshTable("clone_dst2")
      s.sql(s"CLONE TXLOG '$src' TO '$dst2' VERSION AS OF 1")
      assert(s.read.format("txlog").load(dst2)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((1L, "a"), (2L, "b")))
    }
  }
}
