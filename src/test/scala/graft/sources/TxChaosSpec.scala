package graft.sources

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import graft.SparkSpec

/** Concurrency chaos test for the ACID log: several writer threads race
  * interleaved appends, merges, deletes, and optimizes against ONE table
  * with no coordination beyond the commit protocol itself. Each thread owns a
  * disjoint key range, so while the COMMIT interleaving is nondeterministic,
  * every serial order yields the same final state — which is exactly the
  * guarantee serializability owes us. The assertions:
  *  - the final table equals the union of each thread's locally-computed
  *    expected state (no lost update, no duplicate, no resurrection);
  *  - every version 1..tip is a readable snapshot whose files all exist
  *    (no commit ever references a file another writer's retry orphaned);
  *  - the version count equals the number of successful commits (slots are
  *    never skipped or double-claimed).
  */
class TxChaosSpec extends SparkSpec {

  test("racing appends, merges, and optimizes serialize without loss") {
    import spark.implicits._
    val t = Files.createTempDirectory("txchaos").resolve("t").toString
    val nThreads = 4
    val committed = new ConcurrentLinkedQueue[Long]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)

    // thread i owns keys [i*1000, i*1000+999]; ops per thread:
    //   append {k0,k1} → merge {k0→B, k2 new} → append {k3} → merge {k1→C}
    //   → update {k0→U} → delete {k3}
    // plus thread 0 racing two optimizes into the middle of the storm
    def expect(i: Int): Set[(Long, String)] = {
      val b = i * 1000L
      Set(b -> s"t${i}U", (b + 1) -> s"t${i}C", (b + 2) -> s"t${i}n",
        (b + 5) -> s"t${i}V", (b + 6) -> s"t${i}M", (b + 7) -> s"t${i}d7",
        (b + 8) -> s"t${i}d8", (b + 9) -> s"t${i}d9", (b + 10) -> s"t${i}I")
    }
    val threads = (0 until nThreads).map { i =>
      new Thread(() => {
        try {
          start.await()
          val b = i * 1000L
          committed.add(TxLog.append(
            Seq(b -> s"t${i}a", (b + 1) -> s"t${i}a").toDF("k", "v"), t,
            statsCol = Some("k")))
          committed.add(TxLog.merge(
            Seq(b -> s"t${i}B", (b + 2) -> s"t${i}n").toDF("k", "v"), t, "k",
            changeFeed = true))
          if (i == 0) TxLog.optimize(spark, t, targetBytes = 1L << 30,
            statsCol = Some("k")) match { case 0L => (); case v => committed.add(v) }
          // thread 1 races a CHECK constraint into the middle of the storm:
          // every thread's keys satisfy it, so the final state is unchanged,
          // but every concurrent write now pays (and must survive) the
          // staged-bytes enforcement scan, and merges racing the constraint
          // commit must refuse disjoint admission and re-derive
          if (i == 1) committed.add(TxLog.addConstraint(spark, t, "nonneg", "k >= 0"))
          // thread 2 races an ALTER ADD COLUMN into the storm (r13): this
          // auto-enables COLUMN MAPPING mid-flight, so every verb that
          // follows — on every thread — runs through the translation
          // boundary under full contention; a concurrent pure-extension
          // must NOT fail racing appends (relaxed staleness rule), and the
          // reader's snapshots must stay consistent across the mapping flip
          if (i == 2) committed.add(TxLog.addColumn(t, "note",
            org.apache.spark.sql.types.StringType))
          committed.add(TxLog.append(
            Seq((b + 3) -> s"t${i}a").toDF("k", "v"), t, statsCol = Some("k")))
          committed.add(TxLog.merge(
            Seq((b + 1) -> s"t${i}C").toDF("k", "v"), t, "k", changeFeed = true))
          // in-place edit under the storm: k0 exists (thread-owned), so the
          // update always touches a row and commits a version; its rewrite
          // races every other thread's commits and must re-derive cleanly
          committed.add(TxLog.update(spark, t,
            org.apache.spark.sql.functions.col("k") === b,
            Map("v" -> org.apache.spark.sql.functions.lit(s"t${i}U")),
            statsCol = Some("k"), changeFeed = true))
          // retraction under the storm: k3 exists (this thread appended it,
          // keys are thread-owned) so the delete always commits a version
          committed.add(TxLog.delete(spark, t,
            org.apache.spark.sql.functions.col("k") === (b + 3),
            statsCol = Some("k"), changeFeed = true))
          // DELETION-VECTOR verbs under the storm (r13): one value-pure
          // 6-row file, then a bitmap delete and a bitmap update — the
          // same-path remove+re-add swaps race every other thread's commits
          // and must re-derive cleanly; the feed derives their rows with
          // zero sidecars
          committed.add(TxLog.append(
            (4 to 9).map(j => (b + j) -> s"t${i}d$j").toDF("k", "v")
              .repartition(1), t, statsCol = Some("k")))
          committed.add(TxLog.delete(spark, t,
            org.apache.spark.sql.functions.col("k") === (b + 4),
            statsCol = Some("k"), changeFeed = true, useDV = true))
          committed.add(TxLog.update(spark, t,
            org.apache.spark.sql.functions.col("k") === (b + 5),
            Map("v" -> org.apache.spark.sql.functions.lit(s"t${i}V")),
            statsCol = Some("k"), changeFeed = true, useDV = true))
          // FULL-MATRIX merge under the storm (no by-source clause, so the
          // rewrite stays file-scoped): matched update + unmatched insert
          committed.add(TxLog.mergeFull(
            Seq((b + 6) -> s"t${i}M", (b + 10) -> s"t${i}I").toDF("k", "v"),
            t, "k",
            Seq(TxLog.MatchedUpdate(
                Map("v" -> org.apache.spark.sql.functions.col("s.v"))),
              TxLog.NotMatchedInsert()),
            changeFeed = true))
          if (i == 0) TxLog.optimize(spark, t, targetBytes = 1L << 30,
            statsCol = Some("k")) match { case 0L => (); case v => committed.add(v) }
          if (i == 1) committed.add(TxLog.dropConstraint(t, "nonneg"))
          // ...and DROPS it again at its end: a metadata-only commit racing
          // the final merges/optimizes; the final logical schema is (k, v)
          if (i == 2) committed.add(TxLog.dropColumn(spark, t, "note"))
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    // a READER races the whole storm: every loop takes a fresh snapshot and
    // materializes it — this must never throw (snapshot isolation) even
    // while commits land and checkpoints publish mid-replay, and each read
    // must see a consistent prefix (row count never exceeds the final state)
    @volatile var writersDone = false
    val readerReads = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      try {
        start.await()
        while (!writersDone) {
          val c = TxLog.snapshot(t).read(spark).count()
          assert(c <= (nThreads * 11).toLong, s"read an impossible state of $c rows")
          TxLog.history(t) // concurrent history read over in-flight commits
          readerReads.incrementAndGet()
        }
      } catch { case e: Throwable => errors.add(e) }
    })
    reader.start()
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    writersDone = true; reader.join()
    assert(errors.isEmpty, s"writer/reader errors: ${errors.toArray.mkString("; ")}")
    assert(readerReads.get >= 1L, "the racing reader must have actually read")

    import scala.jdk.CollectionConverters._
    val versions = committed.asScala.toSeq
    val tip = TxLog.latestVersion(t)
    // every successful commit claimed a distinct slot; slots are contiguous
    assert(versions.distinct.size == versions.size, "a version slot was double-claimed")
    assert(tip == versions.size.toLong, s"tip $tip != ${versions.size} commits")

    // the final state is the union of per-thread serial expectations
    val got = TxLog.snapshot(t).read(spark)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (0 until nThreads).map(expect).reduce(_ ++ _)
    if (got != want) {
      // dump the raw commit log so a failure names the guilty interleaving
      val log = java.nio.file.Paths.get(t, "_txlog")
      scala.util.Using.resource(Files.list(log))(_.iterator().asScala.toSeq)
        .sortBy(_.getFileName.toString).foreach { p =>
          println(s"===== ${p.getFileName} =====")
          Files.readAllLines(p).asScala.foreach(println)
        }
    }
    import scala.jdk.CollectionConverters._
    assert(got == want, s"final state diverged from the serial model")

    // every historical version is a consistent, fully-materialized snapshot
    for (v <- 1L to tip) {
      val snap = TxLog.snapshot(t, v)
      assert(snap.files.forall(p => Files.exists(java.nio.file.Paths.get(p))),
        s"version $v references a missing file")
      TxLog.snapshot(t, v).read(spark).count() // must not throw
    }

    // the EXACT change feed, recorded under full contention (every verb ran
    // with changeFeed = true), REPLAYS to the final table: fold each key's
    // changes in version order — within one version an update's preimage
    // sorts before its postimage — and the derived end state must equal the
    // table byte for byte. This is the CDC consumer's contract: a feed that
    // drops, duplicates, or mis-orders a change under racing writers would
    // diverge here.
    val feedRows = TxLog.readChangeFeed(spark, t, 0L)
      .select("k", "v", "_change_type", "_commit_version").collect()
    val derived: Set[(Long, String)] = feedRows.groupBy(_.getLong(0)).flatMap {
      case (k, rs) =>
        val last = rs.maxBy(r => (r.getLong(3),
          if (r.getString(2) == "update_preimage") 0 else 1))
        if (last.getString(2) == "delete") None
        else Some((k, last.getString(1)))
    }.toSet
    assert(derived == want,
      s"feed-derived state diverged from the table under contention")
  }

  test("r15-surface storm: deferred-gencol merges and disjoint DV verbs each pay ONE derivation") {
    // The r15 paths under contention (r15 verdict item 6): merges whose
    // updates OMIT the gencol rule's input (deferred past the preservation
    // join), all-insert merges whose keys miss every envelope (empty
    // pre-image — the r16 fix), and racing disjoint DV deletes/updates
    // (the r15 admission fast path). Threads own disjoint key ranges and
    // NO metadata changes land mid-storm, so every conflict interleaving
    // is provably disjoint — the assertion is not just the serial model
    // but the DERIVATION COUNTS: each merge/delete/update pays exactly one
    // file-scoping + rewrite derivation no matter who wins the slot race
    // (an unprovable case would re-derive and inflate the count).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.IntegerType
    val t = Files.createTempDirectory("txchaos_r15").resolve("t").toString
    val nThreads = 4
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val committed = new ConcurrentLinkedQueue[Long]()
    val start = new CountDownLatch(1)

    // serial setup: schema (k, v, w), the rule, and the protocol-bumping
    // FIRST DV commit (which rightly defeats admission — keep it out of
    // the counted storm)
    TxLog.append(Seq((-1L, "seed", -1L)).toDF("k", "v", "w"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "vlen", IntegerType, "coalesce(length(v), -1)")
    // one PROFITABLE DV publish (1 of 3 rows in one file — a covered-file
    // delete would drop the file as metadata and stage no DV at all),
    // so the protocol bump lands serially here, not mid-storm
    TxLog.append(Seq((-2L, "gone", -2L), (-3L, "keep", -3L), (-4L, "keep", -4L))
      .toDF("k", "v", "w").repartition(1), t, statsCol = Some("k"))
    TxLog.delete(spark, t, col("k") === -2L, statsCol = Some("k"), useDV = true)
    assert(TxLog.snapshot(t).dvs.nonEmpty,
      "setup must have published a DV so the protocol bump precedes the storm")

    def far(i: Int): Long = 1000000L + i * 1000L
    def expect(i: Int): Set[(Long, Option[String], Long, Option[Int])] = {
      val b = i * 1000L
      Set(
        (b + 0, Some("a0"), 100L, Some(2)),      // deferred merge: v+vlen preserved, w updated
        (b + 1, Some("B1"), 1L, Some(2)),        // recompute merge: vlen from new v
        (b + 2, None, 200L, Some(-1)),           // deferred-merge insert: null v computes -1
        (b + 5, Some("U5"), 5L, Some(2)),        // DV update recomputes the gencol
        (far(i) + 0, None, 7L, Some(-1)),        // all-insert far merge (empty pre-image)
        (far(i) + 1, None, 8L, Some(-1))
      ) ++ (6 to 9).map(j => (b + j, Some(s"d$j"), j.toLong, Some(2)))
      // b+4 DV-deleted
    }
    val mergeBase = TxLog.mergeDerivations.get
    val deleteBase = TxLog.deleteDerivations.get
    val updateBase = TxLog.updateDerivations.get
    val threads = (0 until nThreads).map { i =>
      new Thread(() => {
        try {
          start.await()
          val b = i * 1000L
          committed.add(TxLog.append(
            Seq((b + 0, "a0", 0L), (b + 1, "a1", 1L)).toDF("k", "v", "w"), t,
            statsCol = Some("k")))
          committed.add(TxLog.append(
            (4 to 9).map(j => (b + j, s"d$j", j.toLong)).toDF("k", "v", "w")
              .repartition(1), t, statsCol = Some("k")))
          // deferred-PRESERVE merge: updates carry (k, w) only — the rule's
          // input v is omitted, so vlen defers past the preservation join
          committed.add(TxLog.merge(
            Seq((b + 0, 100L), (b + 2, 200L)).toDF("k", "w"), t, "k",
            changeFeed = true))
          // recompute merge: updates carry v, the gencol refreshes
          committed.add(TxLog.merge(
            Seq((b + 1, "B1")).toDF("k", "v"), t, "k", changeFeed = true))
          // all-insert merge missing EVERY envelope: empty pre-image path
          committed.add(TxLog.merge(
            Seq((far(i) + 0, 7L), (far(i) + 1, 8L)).toDF("k", "w"), t, "k",
            changeFeed = true))
          // disjoint DV verbs racing each other and the merges
          committed.add(TxLog.delete(spark, t, col("k") === (b + 4),
            statsCol = Some("k"), changeFeed = true, useDV = true))
          committed.add(TxLog.update(spark, t, col("k") === (b + 5),
            Map("v" -> lit("U5")), statsCol = Some("k"), changeFeed = true,
            useDV = true))
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer errors: ${errors.toArray.mkString("; ")}")

    import scala.jdk.CollectionConverters._
    val versions = committed.asScala.toSeq
    assert(versions.distinct.size == versions.size, "a version slot was double-claimed")
    assert(TxLog.latestVersion(t) == versions.size + 4L, // 4 setup commits
      s"tip ${TxLog.latestVersion(t)} != ${versions.size} storm + 4 setup commits")

    // serial model, all four columns (v and vlen prove the deferred rule
    // never corrected a preserved value or missed a recompute)
    val got = TxLog.snapshot(t).read(spark)
      .where(col("k") >= 0L)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSet
    val want = (0 until nThreads).map(expect).reduce(_ ++ _)
    assert(got == want, {
      s"final state diverged from the serial model:\n  missing=${want -- got}\n  extra=${got -- want}"
    })

    // THE COUNT: every verb paid exactly one derivation — every slot-race
    // loss was admitted as provably disjoint, never re-derived
    assert(TxLog.mergeDerivations.get - mergeBase == nThreads * 3L,
      s"merge derivations ${TxLog.mergeDerivations.get - mergeBase} != ${nThreads * 3} " +
        "(an unprovable interleaving forced a re-derivation)")
    assert(TxLog.deleteDerivations.get - deleteBase == nThreads.toLong,
      s"delete derivations ${TxLog.deleteDerivations.get - deleteBase} != $nThreads")
    assert(TxLog.updateDerivations.get - updateBase == nThreads.toLong,
      s"update derivations ${TxLog.updateDerivations.get - updateBase} != $nThreads")

    // the exact feed, recorded under the storm, replays to the final state
    val feedRows = TxLog.readChangeFeed(spark, t, 4L) // storm window only
      .select("k", "v", "w", "vlen", "_change_type", "_commit_version").collect()
    val derived = feedRows.filter(_.getLong(0) >= 0L).groupBy(_.getLong(0)).flatMap {
      case (k, rs) =>
        val last = rs.maxBy(r => (r.getLong(5),
          if (r.getString(4) == "update_preimage") 0 else 1))
        if (last.getString(4) == "delete") None
        else Some((k, Option(last.getString(1)), last.getLong(2),
          if (last.isNullAt(3)) None else Some(last.getInt(3))))
    }.toSet
    // appends don't write change rows; only merge/delete/update keys appear
    val feedKeys = feedRows.filter(_.getLong(0) >= 0L).map(_.getLong(0)).toSet
    assert(derived == want.filter(r => feedKeys.contains(r._1)),
      "feed-derived state diverged from the table under contention")
  }

  test("three-plane lifecycle chaos: CLONE/RESTORE/CONVERT race colmap renames, gencol rewrites, DVs") {
    // r13 caught two cross-plane bugs (CLONE dropping DV refs and the
    // partition spec) with targeted specs; this storm interleaves ALL the
    // metadata planes at once — generated-column rewrites, column-mapping
    // churn, deletion vectors — while a lifecycle thread CLONEs the
    // contended table mid-storm, CONVERTs a plain directory and walks it
    // through gencol + rename + DV, and RESTORE is exercised on the clone.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.IntegerType
    val base = Files.createTempDirectory("txchaos3")
    val t = base.resolve("src").toString
    val c1 = base.resolve("clone1").toString
    val conv = base.resolve("conv").toString
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)

    // the rule predates every storm row: glen == length(v) everywhere
    // except the one pre-rule seed row, whose null must survive every
    // rewrite (no backfill) — a whole-run invariant checked at the end
    TxLog.append(Seq(1L -> "seed").toDF("k", "v"), t, statsCol = Some("k"))
    TxLog.addGeneratedColumn(spark, t, "glen", IntegerType, "length(v)")

    // a write racing a metadata commit aborts loudly BEFORE committing
    // (the Delta MetadataChangedException discipline — staged litter, no
    // version claimed), so the client-side contract is retry: serial
    // history "alter, then the write". The storm exercises exactly that.
    def retrying[A](f: => A): A = {
      var last: Throwable = null
      for (_ <- 1 to 8)
        try return f
        catch { case e: RuntimeException
            if e.getMessage != null && e.getMessage.contains("changed concurrently") =>
          last = e }
      throw last
    }

    @volatile var c1state: Set[(Long, String)] = null
    val threads = Seq(
      // T0 — deletion-vector plane on keys 10x
      new Thread(() => try {
        start.await()
        retrying(TxLog.append((100L to 105L).map(k => k -> s"a$k").toDF("k", "v")
          .repartition(1), t, statsCol = Some("k")))
        retrying(TxLog.delete(spark, t, col("k") === 101L, statsCol = Some("k"),
          changeFeed = true, useDV = true))
        retrying(TxLog.update(spark, t, col("k") === 102L,
          Map("v" -> org.apache.spark.sql.functions.lit("U0")),
          statsCol = Some("k"), changeFeed = true, useDV = true))
      } catch { case e: Throwable => errors.add(e) }),
      // T1 — generated-column rewrite plane on keys 20x
      new Thread(() => try {
        start.await()
        retrying(TxLog.append(Seq(200L -> "aa", 201L -> "bbb").toDF("k", "v"), t,
          statsCol = Some("k")))
        retrying(TxLog.update(spark, t, col("k") === 200L,
          Map("v" -> org.apache.spark.sql.functions.lit("xyzw")),
          statsCol = Some("k"), changeFeed = true))
        retrying(TxLog.merge(Seq(202L -> "cc").toDF("k", "v"), t, "k",
          changeFeed = true))
      } catch { case e: Throwable => errors.add(e) }),
      // T2 — column-mapping churn: pure-metadata commits racing every verb
      // (each one defeats disjoint admission → forces live re-derivations)
      new Thread(() => try {
        start.await()
        TxLog.addColumn(t, "aux", org.apache.spark.sql.types.StringType)
        TxLog.renameColumn(t, "aux", "aux2")
        TxLog.renameColumn(t, "aux2", "aux_final")
      } catch { case e: Throwable => errors.add(e) }),
      // T3 — lifecycle: mid-storm CLONE of the contended table, plus a
      // CONVERT lineage walked through gencol + rename + DV concurrently
      new Thread(() => try {
        start.await()
        TxLog.clone(t, c1)
        c1state = TxLog.snapshot(c1).read(spark)
          .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        Seq(9000L -> "pp", 9001L -> "qq").toDF("k", "v")
          .write.parquet(conv)
        TxLog.convert(spark, conv, statsCol = Some("k"))
        TxLog.addGeneratedColumn(spark, conv, "glen", IntegerType, "length(v)")
        TxLog.renameColumn(conv, "v", "val")
        TxLog.delete(spark, conv, col("k") === 9001L, changeFeed = true,
          useDV = true)
        // rewrite the surviving row through the NEW name: the update must
        // recompute the rule (converted rows predate it, so their null is
        // legitimate until a rewrite touches them)
        TxLog.update(spark, conv, col("k") === 9000L,
          Map("val" -> org.apache.spark.sql.functions.lit("ppp")))
      } catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, s"storm errors: ${errors.toArray.mkString("; ")}")

    // 1. the serial model, all planes composed
    val want = Set(1L -> "seed", 100L -> "a100", 102L -> "U0", 103L -> "a103",
      104L -> "a104", 105L -> "a105", 200L -> "xyzw", 201L -> "bbb", 202L -> "cc")
    val fin = TxLog.snapshot(t).read(spark).collect()
    assert(fin.map(r => (r.getLong(0), r.getString(1))).toSet == want)
    // gencol invariant: recomputed through every rewrite, seed's null kept
    fin.foreach { r =>
      val glen = if (r.isNullAt(2)) None else Some(r.getInt(2))
      if (r.getLong(0) == 1L) assert(glen.isEmpty, "pre-rule null was backfilled")
      else assert(glen.contains(r.getString(1).length), s"glen drifted on $r")
    }
    // colmap churn settled: only the final name is a logical column
    val cols = TxLog.snapshot(t).read(spark).columns.toSet
    assert(cols("aux_final") && !cols("aux") && !cols("aux2"), cols.toString)

    // 2. the feed replays to the final (k, v) state under full contention
    val feedRows = TxLog.readChangeFeed(spark, t, 0L)
      .select("k", "v", "_change_type", "_commit_version").collect()
    val derived: Set[(Long, String)] = feedRows.groupBy(_.getLong(0)).flatMap {
      case (k, rs) =>
        val last = rs.maxBy(r => (r.getLong(3),
          if (r.getString(2) == "update_preimage") 0 else 1))
        if (last.getString(2) == "delete") None
        else Some((k, last.getString(1)))
    }.toSet
    assert(derived == want, "feed-derived state diverged under the 3-plane storm")

    // 3. the mid-storm CLONE is a point-in-time snapshot: every cloned row
    // is a state the source actually passed through (feed is the witness),
    // it is UNCHANGED by the rest of the storm, and it carries the rules
    val histStates = feedRows.groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    c1state.foreach { case (k, v) =>
      assert(k == 1L && v == "seed" || histStates.get(k).exists(_.contains(v)),
        s"clone holds ($k, $v), a state the source never passed through")
    }
    assert(TxLog.snapshot(c1).read(spark).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == c1state,
      "the clone drifted while only the source was written")
    val vm = TxLog.merge(Seq(9500L -> "zz").toDF("k", "v"), c1, "k")
    val mergedState = TxLog.snapshot(c1).read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    assert(mergedState.contains((9500L, "zz", 2)),
      "clone lost the generated-column rules")
    // 4. RESTORE on the contended-origin clone: junk append rolls back
    TxLog.append(Seq(9600L -> "junk").toDF("k", "v"), c1)
    TxLog.restore(c1, vm)
    assert(TxLog.snapshot(c1).read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSet == mergedState,
      "restore did not return the clone to its pre-junk state")

    // 5. the CONVERT lineage composed all three planes mid-storm
    val cv = TxLog.snapshot(conv).read(spark)
    assert(cv.columns.toSeq == Seq("k", "val", "glen"), cv.columns.mkString(","))
    val cvRows = cv.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(cvRows == Set((9000L, "ppp", 3)), s"convert lineage diverged: $cvRows")

    // 6. VACUUM the clone first (its sweep walks ITS root only, so the
    // zero-copy references into the source's directory are never candidates
    // — only the clone's own staged-then-superseded files are), then the
    // SOURCE at the harshest setting (zero retention, zero grace): every
    // LIVE byte across all three planes must survive — data files, DV
    // sidecars, the glen/colmap metadata planes. (Vacuuming the source
    // CAN break the zero-copy clone — the documented Delta shallow-clone
    // hazard — which is why the clone is checked before, not after.)
    TxLog.vacuum(c1, retainVersions = 0L, graceMs = 0L)
    assert(TxLog.snapshot(c1).read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSet == mergedState,
      "the clone's own vacuum collected one of its live or source-referenced files")
    TxLog.vacuum(t, retainVersions = 0L, graceMs = 0L)
    val postVac = TxLog.snapshot(t).read(spark).collect()
    assert(postVac.map(r => (r.getLong(0), r.getString(1))).toSet == want,
      "vacuum collected a live byte (data file or DV sidecar)")
    postVac.foreach { r =>
      val glen = if (r.isNullAt(2)) None else Some(r.getInt(2))
      if (r.getLong(0) == 1L) assert(glen.isEmpty)
      else assert(glen.contains(r.getString(1).length), s"post-vacuum glen drift on $r")
    }
  }

  // ---- corrupt or missing log entries: every reader refuses, naming the
  // file, instead of replaying a partial history ----

  private def threeCommits(name: String): String = {
    import spark.implicits._
    val t = Files.createTempDirectory(name).resolve("t").toString
    (1L to 3L).foreach(k => TxLog.append(Seq((k, s"v$k")).toDF("k", "v"), t))
    t
  }

  private def logFile(t: String, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(t, "_txlog", name)

  private def commitFile(t: String, v: Long): java.nio.file.Path =
    logFile(t, f"$v%020d.json")

  /** Cut the first line of `f` that starts with `prefix` in half. */
  private def truncateLine(f: java.nio.file.Path, prefix: String): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(f).asScala.toVector
    val i = lines.indexWhere(_.startsWith(prefix))
    assert(i >= 0, s"no $prefix line in $f")
    Files.write(f, lines.updated(i, lines(i).take(lines(i).length / 2))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def refusesNaming(file: java.nio.file.Path)(read: => Any): Unit = {
    val e = intercept[TxLog.CorruptLog](read)
    assert(e.getMessage.contains(file.getFileName.toString), e.getMessage)
  }

  test("a truncated add line in a commit file is an error naming the file") {
    val t = threeCommits("txtrunc")
    val f = commitFile(t, 2L)
    truncateLine(f, "{\"add\"")
    refusesNaming(f)(TxLog.snapshot(t).read(spark).count())
    refusesNaming(f)(TxLog.changes(t, 0L, Long.MaxValue))
  }

  test("a truncated line in a checkpoint file is an error naming the file") {
    val t = threeCommits("txtruncckpt")
    val cv = TxLog.checkpoint(t)
    val f = logFile(t, f"$cv%020d.checkpoint.json")
    truncateLine(f, "{\"add\"")
    refusesNaming(f)(TxLog.snapshot(t).read(spark).count())
  }

  test("a commit file whose actions do not sit one per line is an error naming it") {
    import scala.jdk.CollectionConverters._
    val t = threeCommits("txlines")
    val f = commitFile(t, 2L)
    val lines = Files.readAllLines(f).asScala
    // two actions on one line
    Files.write(f, lines.mkString("", " ", "\n").getBytes("UTF-8"))
    refusesNaming(f)(TxLog.snapshot(t))
    // a blank line between actions
    Files.write(f, lines.mkString("", "\n\n", "\n").getBytes("UTF-8"))
    refusesNaming(f)(TxLog.snapshot(t))
    // the intact file reads again
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(TxLog.snapshot(t).files.size == 3)
  }

  test("a deleted middle commit fails every reader and the next write, naming it") {
    import spark.implicits._
    val t = threeCommits("txgap")
    val f = commitFile(t, 2L)
    Files.delete(f)
    refusesNaming(f)(TxLog.snapshot(t))
    refusesNaming(f)(TxLog.history(t))
    refusesNaming(f)(TxLog.changes(t, 0L, Long.MaxValue))
    refusesNaming(f)(TxLog.readChangeFeed(spark, t, 0L))
    refusesNaming(f)(TxLog.versionAt(t, Long.MaxValue))
    refusesNaming(f)(TxLog.append(Seq((4L, "v4")).toDF("k", "v"), t))
    assert(TxLog.latestVersion(t) == 3L, "the refused append must commit nothing")
  }

  test("vacuum refuses a log whose retained CDC-bearing commit is missing, deleting nothing") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("txvacgap").resolve("t").toString
    (1L to 9L).foreach(k =>
      TxLog.append(Seq((k, s"v$k")).toDF("k", "v"), t, statsCol = Some("k")))
    // v10: a change-feed merge; the auto-checkpoint at v10 covers it, so
    // snapshots stay readable without its commit file
    val mv = TxLog.merge(Seq((1L, "V1")).toDF("k", "v"), t, "k", changeFeed = true)
    assert(mv == 10L && TxLog.latestCheckpointVersion(t).contains(10L))
    TxLog.append(Seq((11L, "v11")).toDF("k", "v"), t)
    def files(): Set[String] = scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(t)))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet)
    assert(files().exists(_.contains("_change_data")), "test precondition: a CDC sidecar")
    val f = commitFile(t, 10L)
    Files.delete(f)
    val before = files()
    refusesNaming(f)(TxLog.vacuum(t, retainVersions = 5L, graceMs = 0L))
    assert(files() == before, "vacuum deleted files before refusing")
  }
}
