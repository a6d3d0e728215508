package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Minimal ACID table format on parquet — the transactional commit protocol
  * the CDC/upsert operators (`upsert_snapshot`, `snapshot_diff`) were missing
  * at 100 TB with concurrent writers. The design is the published
  * lakehouse-log shape (Delta Lake, Armbrust et al. VLDB 2020; Iceberg's
  * snapshot list is the same idea):
  *
  *   <table>/_txlog/00000000000000000001.json   one commit per version
  *   <table>/data/<uuid>/part-*.parquet         immutable data files
  *
  * A commit file is JSON-lines of actions — `{"add":{"path":...}}` /
  * `{"remove":{"path":...}}` plus one `{"meta":{...}}` line, written and read
  * only by [[encode]]/[[decode]] — and a version's TABLE STATE is the replay
  * of all commits ≤ version (adds minus removes).
  * Data files are immutable: an update writes NEW files and a commit that
  * removes the old ones, which is what makes snapshot reads, time travel and
  * concurrent writers safe with zero coordination service.
  *
  * ATOMICITY: a commit publishes by hard-linking a fully-written temp file to
  * the next version's path — `Files.createLink` is atomic and fails with
  * `FileAlreadyExistsException` if another writer won the version, so readers
  * only ever see complete commit files and two writers can never both own one
  * version (the optimistic-concurrency primitive; on an object store the same
  * slot is a conditional PUT / if-none-match, on HDFS a rename — documented,
  * not abstracted, since the sandbox has a POSIX fs).
  *
  * CONCURRENCY: every write verb commits through one optimistic loop
  * ([[transact]]) on a log state it replayed once; a lost race applies only
  * the winners' commits to that state. Rules per operation:
  *  - `append` is a blind insert: on version conflict it retries the SAME
  *    staged files at the next slot — appends never conflict with anything
  *    (Delta's Serializable-for-appends rule).
  *  - `overwrite` / `merge` read the snapshot they rewrite: on conflict the
  *    operation re-derives against the new tip (classic optimistic retry),
  *    so the committed result is always a serial history. `merge` first
  *    applies DISJOINT-COMMIT ADMISSION (Delta's §3.2 conflict rule): a
  *    winner provably independent of the merge — no removed file we
  *    rewrite, no added file whose key envelope can hold an update key, no
  *    schema change — lets the same actions re-commit at the next slot
  *    without re-deriving.
  *
  * SCALE posture: the log holds file-level metadata only (O(files) JSON, not
  * O(rows)); reads prune to the live file list before any byte of data is
  * scanned; writes are ordinary distributed parquet jobs into a fresh
  * directory — the single-writer critical section is ONE driver-side hard
  * link. Log compaction: every [[CheckpointInterval]] commits the live set
  * is checkpointed (as Delta does), so `snapshot` reads ONE checkpoint plus
  * the commit suffix after it — O(1 + tip mod interval) log reads at any
  * log length — and `vacuum` replays its oldest retained version from the
  * same checkpoints, then walks the retained commits forward.
  *
  * The reference has no transactional storage at all (batch CSV re-writes,
  * web_scraper.py:1164-1183 checkpoint files); this is engine-side
  * infrastructure its append/refresh jobs would run on at scale.
  */
object TxLog {

  private val log = LoggerFactory.getLogger(getClass)

  final case class Snapshot(version: Long, files: Seq[String],
      schemaJson: Option[String] = None,
      dvs: Map[String, Dv.Ref] = Map.empty,
      colmap: Seq[(String, String)] = Seq.empty) {
    /** Read the snapshot. When the log recorded a table schema (every table
      * created since schema tracking), the read is pinned to it: files
      * written BEFORE a schema evolution lack the later columns and are
      * null-filled by the scan — the standard lakehouse read-time fill —
      * and column order is the log's, not an arbitrary file's. Legacy
      * tables without a recorded schema read by file inference as before.
      * Files carrying a DELETION VECTOR read through the masked path (their
      * deleted row positions filtered out); clean files — the steady state
      * — stay on the plain vectorized scan. Under COLUMN MAPPING the file
      * bytes carry PHYSICAL names; the read presents the LOGICAL view —
      * mapping order, mapped columns only (a dropped column's physical
      * data simply stops being selected; Spark's column pruning keeps it
      * out of the scan). */
    def read(spark: SparkSession): DataFrame = {
      val reader = schemaJson.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
      val phys =
        if (files.isEmpty) spark.emptyDataFrame
        else if (dvs.isEmpty) reader.parquet(files: _*)
        else Dv.maskedRead(spark, reader, files, dvs.map { case (p, r) => p -> r.path })
      toLogicalDf(phys, colmap)
    }
  }

  /** The LOGICAL view of a physical frame under `colmap` (no-op when the
    * table is unmapped): mapping order, mapped columns only, logical names.
    * `keep` columns (feed metadata like `_change_type`) pass through. */
  private[sources] def toLogicalDf(phys: DataFrame,
      colmap: Seq[(String, String)], keep: Seq[String] = Seq.empty): DataFrame =
    if (colmap.isEmpty) phys
    else {
      import org.apache.spark.sql.functions.col
      val physCols = phys.columns.toSet
      phys.select(colmap.collect {
        case (l, p) if physCols.contains(p) => col(p).as(l)
      } ++ keep.filter(physCols.contains).map(col): _*)
    }

  private[sources] def schemaOf(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** A write's schema is incompatible with the table's (type conflict, or
    * new columns without `mergeSchema = true`) — Delta-style enforcement. */
  final class SchemaMismatch(msg: String) extends RuntimeException(msg)

  /** A write's rows (or, for ADD CONSTRAINT, the table's existing rows)
    * violate a CHECK constraint — Delta-style constraint enforcement. */
  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  final class VersionConflict(version: Long)
    extends RuntimeException(s"version $version was committed concurrently")

  /** A commit or checkpoint file is missing or holds a line that does not
    * decode — the table's history cannot be replayed faithfully, so every
    * reader refuses instead of serving a partial state. */
  final class CorruptLog(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  private def logDir(table: String): Path = Paths.get(table, "_txlog")
  private def versionPath(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.json")
  private def checkpointPath(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.checkpoint.json")

  /** Write a checkpoint every this-many versions (Delta's default cadence):
    * commit N%10==0 triggers a best-effort checkpoint so `snapshot` replays
    * latest-checkpoint + suffix instead of the whole log. */
  val CheckpointInterval: Long = 10L

  /** Commit files opened since JVM start, by replays and single-commit reads
    * alike — test instrumentation proving the O(suffix) read claim of
    * checkpoint compaction and that a write verb replays the log once. */
  private[graft] val commitFilesReplayed = new java.util.concurrent.atomic.AtomicLong

  /** Full `_txlog` directory listings since JVM start — test instrumentation
    * proving the `_last_checkpoint` pointer keeps log discovery O(suffix)
    * instead of O(versions). */
  private[graft] val logDirListings = new java.util.concurrent.atomic.AtomicLong

  private def pointerPath(table: String): Path =
    logDir(table).resolve("_last_checkpoint")

  private val PointerRe = """\{"version":(\d+)\}""".r

  /** The `_last_checkpoint` pointer (Delta's exact mechanism): the version
    * of a known checkpoint, refreshed after every checkpoint write, so
    * `latestVersion`/`latestCheckpoint` start from it instead of listing
    * the whole `_txlog` directory — at 10⁴+ commits an O(versions) listing
    * per snapshot call is the read path's bottleneck. The pointer is a HINT:
    * it is validated against the checkpoint file it names and every reader
    * falls back to the full listing when it is absent, stale, or corrupt,
    * so a torn write can cost I/O but never correctness. */
  private def readPointer(table: String): Option[Long] = {
    val p = pointerPath(table)
    if (!Files.exists(p)) None
    else try {
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim match {
        case PointerRe(v) =>
          Some(v.toLong).filter(cv => Files.exists(checkpointPath(table, cv)))
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** Atomically (re)publish the pointer; losing a race to a concurrent
    * checkpoint's pointer is harmless — any valid checkpoint version works,
    * newer ones are just better hints. */
  private def writePointer(table: String, version: Long): Unit = {
    val dir = logDir(table)
    val tmp = Files.createTempFile(dir, ".ptr-", ".json")
    try {
      Files.write(tmp, s"""{"version":$version}""".getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, pointerPath(table),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: Exception => () } // pure optimization; never fail the checkpoint
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Largest committed version, or 0 if the table is empty/new. Checkpoint
    * files (`<v>.checkpoint.json`) are derived state, not commits, and are
    * excluded — a checkpoint must never make a version look committed.
    *
    * With a `_last_checkpoint` pointer this is O(tip − checkpoint)
    * existence probes (versions are DENSE by construction — every commit
    * claims exactly tip+1 — so probing forward from a known version finds
    * the tip without listing); without one it is the full listing. */
  def latestVersion(table: String): Long = readPointer(table) match {
    case Some(v0) =>
      var v = v0
      while (Files.exists(versionPath(table, v + 1))) v += 1
      v
    case None =>
      val dir = logDir(table)
      if (!Files.isDirectory(dir)) 0L
      else {
        logDirListings.incrementAndGet()
        scala.util.Using.resource(Files.list(dir)) { s =>
          s.iterator().asScala
            .map(_.getFileName.toString)
            .filter(f => f.endsWith(".json") && !f.startsWith(".") && !f.contains(".checkpoint"))
            .map(_.stripSuffix(".json").toLong)
            .foldLeft(0L)(math.max)
        }
      }
  }

  /** Largest checkpoint version ≤ `asOf`, if any. The pointer answers when
    * it qualifies (a stale-but-valid older checkpoint only lengthens the
    * replay suffix, never changes it); time travel below the pointer falls
    * back to the listing. */
  private def latestCheckpoint(table: String, asOf: Long): Option[Long] =
    readPointer(table).filter(_ <= asOf).orElse {
      val dir = logDir(table)
      if (!Files.isDirectory(dir)) None
      else {
        logDirListings.incrementAndGet()
        scala.util.Using.resource(Files.list(dir)) { s =>
          s.iterator().asScala
            .map(_.getFileName.toString)
            .filter(f => f.endsWith(".checkpoint.json") && !f.startsWith("."))
            .map(_.stripSuffix(".checkpoint.json").toLong)
            .filter(_ <= asOf)
            .foldLeft(Option.empty[Long])((acc, v) => Some(acc.fold(v)(math.max(_, v))))
        }
      }
    }

  /** Newest checkpoint version, if any (DESCRIBE DETAIL surface). */
  def latestCheckpointVersion(table: String): Option[Long] =
    latestCheckpoint(table, Long.MaxValue)

  /** Replay the log up to `asOf` (default: tip). Time travel = pass an old
    * version; the files it references are immutable so the read is exact.
    * Starts from the newest checkpoint ≤ asOf when one exists, replaying
    * only the commit suffix after it — O(1) checkpoint read + O(tip −
    * checkpoint) commit reads instead of O(tip). */
  def snapshot(table: String, asOf: Long = Long.MaxValue): Snapshot =
    snapshotOf(replayAdds(table, asOf, useCheckpoint = true))

  private def snapshotOf(r: Replay): Snapshot =
    Snapshot(r.tip, r.live.keysIterator.toSeq, r.schema, dvRefs(r.live), r.colmap)

  /** The table's column mapping (logical → physical), empty when unmapped.
    * See [[enableColumnMapping]]. */
  def columnMapping(table: String, asOf: Long = Long.MaxValue): Seq[(String, String)] =
    replayAdds(table, asOf, useCheckpoint = true).colmap

  /** The table's generated-column rules (PHYSICAL column name → physical
    * SQL expr). See [[addGeneratedColumn]]. */
  def generatedColumns(table: String): Map[String, String] =
    replayAdds(table, Long.MaxValue, useCheckpoint = true).gens.toMap

  /** DV references of live adds, keyed by data-file path. */
  private[sources] def dvRefs(
      live: scala.collection.Map[String, Add]): Map[String, Dv.Ref] =
    live.iterator.flatMap { case (p, a) => a.dv.map(p -> _) }.toMap

  /** DV sidecar paths of those `files` whose live add carries one. */
  private def dvPaths(files: Seq[String],
      live: scala.collection.Map[String, Add]): Map[String, String] =
    files.flatMap(p => live.get(p).flatMap(_.dv).map(r => p -> r.path)).toMap

  /** Read `files` (a subset of `live`'s keys) under `reader`, masking any
    * recorded deletion vectors — THE one internal read path every verb that
    * touches live bytes must use: an unmasked read would resurrect deleted
    * rows into a rewrite. */
  private def readLive(spark: SparkSession,
      reader: org.apache.spark.sql.DataFrameReader, files: Seq[String],
      live: scala.collection.Map[String, Add]): DataFrame = {
    val dvs = dvPaths(files, live)
    if (files.isEmpty) sys.error("readLive on an empty file list")
    else if (dvs.isEmpty) reader.parquet(files: _*)
    else Dv.maskedRead(spark, reader, files, dvs)
  }

  /** Replayed log state at some version: live file map of path → its add
    * action (stats, row count, size and DV ride along, so checkpoints and
    * file-stats readers keep whatever metadata the writer attached), the
    * latest streaming-transaction version per application id (see
    * [[appendIdempotent]]), and the version replayed to. A verb builds one
    * per call and moves it forward only with [[advance]], which leaves the
    * state it starts from unchanged. */
  private[sources] final case class Replay(
      live: scala.collection.mutable.LinkedHashMap[String, Add],
      txns: scala.collection.mutable.LinkedHashMap[String, Long],
      var schema: Option[String],
      tip: Long,
      cons: scala.collection.mutable.LinkedHashMap[String, String] =
        scala.collection.mutable.LinkedHashMap.empty,
      var parts: Seq[String] = Seq.empty,
      var colmap: Seq[(String, String)] = Seq.empty,
      var protocol: Option[Protocol] = None,
      gens: scala.collection.mutable.LinkedHashMap[String, String] =
        scala.collection.mutable.LinkedHashMap.empty) {

    /** Apply one action; table metadata is latest-wins per kind (or per
      * name for constraints and generated-column rules). */
    def take(a: Action): Unit = a match {
      case add: Add          => live(add.path) = add
      case Remove(path, _)   => live.remove(path)
      case Txn(app, ver)     => txns(app) = math.max(ver, txns.getOrElse(app, Long.MinValue))
      case Schema(j)         => schema = Some(j)
      case Constraint(n, e)  => cons(n) = e
      case DropConstraint(n) => cons.remove(n)
      case Parts(cols)       => parts = cols
      case Colmap(m)         => colmap = m
      case p: Protocol       => protocol = Some(p)
      case Gencol(n, e)      => gens(n) = e
      case DropGencol(n)     => gens.remove(n)
      case _: Cdc | _: Meta  => ()
    }

    /** The state after `commits`, the decoded commits `tip + 1, tip + 2, …`
      * in order; this state is left as it was. */
    def advance(commits: Seq[Seq[Action]]): Replay =
      if (commits.isEmpty) this
      else {
        val r = copy(live = live.clone(), txns = txns.clone(),
          tip = tip + commits.size, cons = cons.clone(), gens = gens.clone())
        commits.foreach(_.foreach(r.take))
        r
      }

    /** The table metadata a checkpoint or a clone must carry forward:
      * schema, partition spec, column mapping, protocol, generated-column
      * rules and CHECK constraints. */
    def metadata: Seq[Action] =
      schema.map(Schema).toSeq ++
        (if (parts.isEmpty) Seq.empty else Seq(Parts(parts))) ++
        (if (colmap.isEmpty) Seq.empty else Seq(Colmap(colmap))) ++
        protocol.toSeq ++
        gens.map { case (n, e) => Gencol(n, e) } ++
        cons.map { case (n, e) => Constraint(n, e) }
  }

  /** Core replay of commits ≤ `asOf` (checkpoint + suffix when allowed). */
  private[sources] def replayAdds(table: String, asOf: Long,
      useCheckpoint: Boolean): Replay = {
    val tip = math.min(latestVersion(table), asOf)
    val r = Replay(scala.collection.mutable.LinkedHashMap.empty,
      scala.collection.mutable.LinkedHashMap.empty, None, tip)
    val from = (if (useCheckpoint) latestCheckpoint(table, tip) else None) match {
      case Some(cv) =>
        eachAction(checkpointPath(table, cv))(r.take)
        cv + 1
      case None => 1L
    }
    var v = from
    while (v <= tip) {
      readCommit(table, v).foreach(r.take)
      v += 1
    }
    readable(r, table)
  }

  /** READER feature gate (the Delta table-features discipline): a table
    * whose protocol demands a reader feature this engine does not know
    * CANNOT be served — a best-effort read would silently misinterpret the
    * log (e.g. ignore a future masking construct). Every state a verb reads
    * passes it: each replay, and each state advanced by newer commits. */
  private def readable(r: Replay, table: String): Replay = {
    r.protocol.foreach { p =>
      val unknown = p.readerFeatures -- SupportedReaderFeatures
      if (unknown.nonEmpty) sys.error(
        s"table $table requires unsupported reader feature(s) " +
          s"${unknown.mkString(", ")} — refusing to read (supported: " +
          s"${SupportedReaderFeatures.mkString(", ")})")
    }
    r
  }

  /** The decoded commits after `r`'s tip, up to the current tip. */
  private def commitsAfter(table: String, r: Replay): Seq[Seq[Action]] =
    (r.tip + 1 to latestVersion(table)).map(readCommit(table, _))

  /** Stream the decoded actions of one log file (commit or checkpoint) into
    * `f`, stopping after the first `max` — materializing a 10⁶-line
    * checkpoint first would cost a second full copy of its heap. One parser
    * runs over the whole file (a parser per line measured ~30% slower at
    * 10⁶ lines); action n must sit alone on line n. A missing file or a
    * line that does not decode is a [[CorruptLog]] naming the file and
    * line, never a skipped entry: a silently dropped add or remove changes
    * what every later snapshot reads. */
  private def eachAction(p: Path, max: Int = Int.MaxValue)(f: Action => Unit): Unit = {
    val in =
      try Files.newBufferedReader(p, StandardCharsets.UTF_8)
      catch { case _: java.nio.file.NoSuchFileException =>
        throw new CorruptLog(s"log file $p is missing") }
    scala.util.Using.resource(Json.createParser(in)) { parser =>
      var n = 0
      def onLine(): Unit = if (parser.currentTokenLocation.getLineNr != n)
        throw new IllegalArgumentException("expected one action per line")
      // the next action, or null at the end of the file
      def next(): Action =
        try {
          if (parser.nextToken() == null) null
          else {
            n += 1
            onLine()
            val a = readAction(parser)
            onLine()
            a
          }
        } catch { case NonFatal(e) =>
          throw new CorruptLog(s"$p line $n does not decode: ${e.getMessage}", e) }
      var a = next()
      while (a != null) { f(a); a = if (n < max) next() else null }
    }
  }

  /** Version `v`'s commit, decoded — the one commit-file reader; `max`
    * bounds how many of its leading actions are read. */
  private[sources] def readCommit(table: String, v: Long,
      max: Int = Int.MaxValue): Seq[Action] = {
    commitFilesReplayed.incrementAndGet()
    val b = Vector.newBuilder[Action]
    eachAction(versionPath(table, v), max)(b += _)
    b.result()
  }

  /** The operation a decoded commit records (legacy commits without a
    * meta action were appends). */
  private def opOf(commit: Seq[Action]): String =
    commit.collectFirst { case m: Meta => m.op }.getOrElse("append")

  /** Materialize the live set at `version` (default: tip) into a checkpoint
    * file so later snapshots replay from it. Published with the same
    * temp-write → fsync → hard-link protocol as commits; a concurrent
    * identical checkpoint simply wins the link race (the content is a
    * deterministic function of the log prefix, so losing is harmless).
    * Commit json files are NOT deleted — they still serve time travel below
    * the checkpoint; `vacuum` owns data-file GC. */
  def checkpoint(table: String, version: Long = Long.MaxValue): Long =
    writeCheckpoint(table, replayAdds(table, version, useCheckpoint = true))

  /** Write replayed state `r` as the checkpoint of version `r.tip`. */
  private def writeCheckpoint(table: String, r: Replay): Long = {
    val tip = r.tip
    if (tip < 1) return 0L
    val dir = logDir(table)
    // txn actions are carried forward so idempotent-append dedup survives
    // log compaction: lastTxnVersion must see an app's watermark even when
    // every commit that carried it sits below the checkpoint; constraints
    // and the rest of the table metadata ride the same way — enforcement
    // must survive compaction too
    val carried = r.metadata ++ r.txns.map { case (app, ver) => Txn(app, ver) }
    val tmp = Files.createTempFile(dir, s".ckpt-$tip-", ".json")
    try {
      scala.util.Using.resource(java.nio.channels.FileChannel.open(tmp,
          java.nio.file.StandardOpenOption.WRITE)) { ch =>
        // stream line-by-line: one mkString of 10⁶ add lines is two extra
        // full copies of the checkpoint (string + byte[]) on the driver heap
        val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          java.nio.channels.Channels.newOutputStream(ch), StandardCharsets.UTF_8),
          1 << 20)
        (Iterator.single(Meta("checkpoint", tip, None)) ++ carried.iterator ++
          r.live.valuesIterator).foreach { a => w.write(encode(a)); w.write('\n') }
        w.flush()
        ch.force(true)
      }
      try Files.createLink(checkpointPath(table, tip), tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      fsyncDir(dir)
    } finally Files.deleteIfExists(tmp)
    writePointer(table, tip)
    tip
  }

  /** One optimistic commit attempt at `version`: write the temp file, force
    * it to stable storage, then atomically claim the version slot. Throws
    * [[VersionConflict]] if another writer claimed it first.
    *
    * DURABILITY: the temp file is fsync'd (`FileChannel.force`) BEFORE the
    * link publishes it, and the `_txlog` directory entry is fsync'd after —
    * without both, a power loss after `createLink` returns could truncate
    * the commit body or lose the directory entry, and a lost MIDDLE version
    * would silently change what later snapshots replay. (POSIX crash
    * consistency needs the data fsync + the parent-dir fsync pair; on an
    * object store the conditional PUT is durable by itself.) */
  def commit(table: String, version: Long, actions: Seq[Action], op: String): Unit = {
    require(version >= 1, s"versions start at 1, got $version")
    val dir = logDir(table)
    Files.createDirectories(dir)
    // IN-COMMIT timestamp (Delta's inCommitTimestamp mechanism): the commit
    // records its own wall-clock so TIMESTAMP AS OF resolves from log
    // CONTENT, not filesystem mtimes a copy/rsync/checkpoint-restore would
    // rewrite. Clamped to strictly-after the previous commit's stamp —
    // version order IS time order even across writers with skewed clocks,
    // which is what makes timestamp travel well-defined (one extra read of
    // version-1's first line, its meta; versions are dense by construction).
    val ts = math.max(System.currentTimeMillis(), commitTs(table, version - 1) + 1)
    val tmp = Files.createTempFile(dir, s".tmp-$version-", ".json")
    try {
      scala.util.Using.resource(java.nio.channels.FileChannel.open(tmp,
          java.nio.file.StandardOpenOption.WRITE)) { ch =>
        ch.write(java.nio.ByteBuffer.wrap((Meta(op, version, Some(ts)) +: actions)
          .map(encode).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)))
        ch.force(true)
      }
      try Files.createLink(versionPath(table, version), tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new VersionConflict(version)
      }
      fsyncDir(dir)
    } finally Files.deleteIfExists(tmp)
  }

  /** fsync a directory so a just-published entry survives power loss. Some
    * filesystems refuse read-channel opens on directories — best-effort by
    * design there (the data file itself is already forced). */
  private def fsyncDir(dir: Path): Unit =
    try scala.util.Using.resource(java.nio.channels.FileChannel.open(dir,
      java.nio.file.StandardOpenOption.READ))(_.force(true))
    catch { case _: java.io.IOException => () }

  /** One attempt's commit: `actions`, re-committed unchanged after a lost
    * race when `admits` proves every winning commit independent of them
    * (DISJOINT-COMMIT ADMISSION, Delta's §3.2 conflict rule), derived
    * afresh otherwise. */
  private final case class Write(actions: Seq[Action],
      admits: Seq[Action] => Boolean = _ => false)

  /** THE optimistic commit loop of every write verb. `pre` is the verb's
    * entry replay; the commits that landed since it are applied to it, so
    * the first attempt starts at the tip without replaying again. Every
    * attempt's state passes the WRITER gate, `attempt` derives the actions
    * for it, and they claim `tip + 1`. On a lost race the winners' commits
    * are decoded once and feed both `Write.admits` and the next attempt's
    * state — never a replay from the checkpoint. `maxRetries` lost races
    * per call, then the verb fails.
    * `hook` runs before each commit attempt (a test's interleaving point;
    * re-read per attempt, so a hook that clears itself stops firing).
    * Returns the committed version; `attempt` finishes its verb without a
    * commit by returning from it. */
  private def transact(table: String, pre: Replay, op: String, maxRetries: Int,
      hook: => () => Unit = () => ())(attempt: Replay => Write): Long = {
    var r = readable(pre.advance(commitsAfter(table, pre)), table)
    var w: Write = null
    var races = 0
    while (true) {
      requireWritable(r, table, op)
      if (w == null) w = attempt(r)
      try {
        hook()
        val v = r.tip + 1
        commit(table, v, w.actions, op)
        // on the interval boundary, checkpoint the committed state (no
        // replay); best-effort — the commit is already durable, and a
        // checkpoint is pure read-path optimization
        if (v % CheckpointInterval == 0L)
          try { writeCheckpoint(table, r.advance(Seq(w.actions))); () }
          catch { case _: Exception => () }
        return v
      } catch {
        case _: VersionConflict =>
          races += 1
          if (races > maxRetries) sys.error(s"$op lost $maxRetries version races on $table")
          val won = commitsAfter(table, r)
          if (!won.forall(w.admits)) w = null // staged files stay unreferenced → vacuum
          r = readable(r.advance(won), table)
      }
    }
    -1L // unreachable
  }

  /** Write `df` as new immutable parquet files under the table's data area
    * and return their add-actions (nothing is visible until a commit
    * references them — a crashed job leaves only unreferenced files for
    * vacuum).
    *
    * When `statsCol` is set, each add-action carries that column's per-file
    * min/max (one column-pruned scan of the just-written files), which is
    * what lets a later [[merge]] on the same key rewrite only the files an
    * update can possibly touch instead of the whole table. A file whose
    * stats column is entirely null stays stats-less (opaque — always
    * rewritten, never wrongly skipped). */
  private def stageFiles(df: DataFrame, table: String,
      statsCol: Option[String] = None,
      partitionBy: Seq[String] = Seq.empty): Seq[Add] = {
    val stage = Paths.get(table, "data", java.util.UUID.randomUUID().toString)
    // PARTITIONED staging — the ICEBERG shape, not Hive's: the partition
    // columns STAY in the data files (partitioning is table METADATA, and
    // every read path — DV masking, the change feed, constraint scans,
    // streaming — keeps working on the file bytes alone, no path surgery
    // to undo), while the directory layout still splits per partition
    // value via duplicated writer-side columns (`__part_<c>=<v>/`) so each
    // file is VALUE-PURE and operators can browse the layout. The per-file
    // partition tuple is recorded as exact min=max column stats below —
    // which is precisely what makes partition pruning compose with the
    // existing stats-skipping machinery instead of needing its own.
    if (partitionBy.isEmpty) df.write.mode("error").parquet(stage.toString)
    else {
      partitionBy.foreach(c => require(df.columns.contains(c),
        s"partition column $c is not in the write's schema " +
          s"(${df.columns.mkString(", ")})"))
      val withDirs = partitionBy.foldLeft(df)((d, c) =>
        d.withColumn(s"__part_$c", col(c)))
      withDirs.write.mode("error")
        .partitionBy(partitionBy.map(c => s"__part_$c"): _*)
        .parquet(stage.toString)
    }
    val files = listParquet(stage)
    // `statsCol` is a comma-separated column LIST ("k" or "k,ts"): one
    // column-pruned scan of the just-written files computes min/max for
    // every requested column, and the add-action records them all, so
    // merge can prune on its key while readPruned skips on any recorded
    // column (the Delta multi-column stats shape). Partition columns are
    // ALWAYS in the list: each staged file is value-pure, so their
    // recorded envelopes are exact single points — the partition tuple.
    val cols: Seq[String] =
      (statsCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty) ++
        partitionBy).distinct
    // FAST PATH (guide §1.2 — don't run a pass you can answer from
    // metadata): the footers of the just-written files already hold exact
    // row counts AND per-column min/max/null-counts, so when every file's
    // stats are provably exact (ParquetFooters' trust rules) the staging
    // cost is ONE write job — the second, stats-collecting Spark scan of
    // the same bytes is skipped. Falls back to the scan path (byte-
    // identical strings) when any footer can't be proven.
    val footerMeta: Option[Map[String, ParquetFooters.Meta]] =
      ParquetFooters.metaAll(df.sparkSession, files, cols)
    val stats: Map[String, Seq[ColStat]] = footerMeta match {
      case Some(metas) => metas.map { case (p, m) =>
        normalize(p) -> cols.flatMap(k =>
          m.stats.get(k).map { case (mn, mx, nl) => ColStat(k, mn, mx, Some(nl)) })
      }
      case None if cols.isEmpty => Map.empty
      case None => {
        // min/max MUST aggregate in the column's own type and cast only the
        // RESULT to string for storage: aggregating the string cast orders
        // numerics lexicographically ("9" > "2000"), which records a file
        // spanning 0..3001 as envelope [0,3] — and a too-narrow envelope
        // makes merge's stats prune SKIP a file it must rewrite (a silent
        // lost remove; caught by TxChaosSpec's racing-writers model check)
        // per-column NULL COUNT rides the same scan: min/max ignore nulls,
        // so an envelope alone can never prove "every row matches" — the
        // null count is what lets DELETE drop a fully-covered file as pure
        // metadata (see mustMatchAll) without misreading a null-holding row
        val aggs = cols.flatMap(k => Seq(
          min(col(k)).cast("string").as(s"__mn_$k"),
          max(col(k)).cast("string").as(s"__mx_$k"),
          sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"__nl_$k")))
        df.sparkSession.read.parquet(stage.toString)
          .select(col("_metadata.file_path").as("__fp") +: cols.map(col): _*)
          .groupBy("__fp").agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            // keyed by NORMALIZED FULL PATH (URI-decoded): partitioned
            // staging reuses the same part-NNNNN file NAME in every
            // `__part_c=v/` subdirectory, so a name key would collide
            // across partitions and cross-wire their stats (each partition
            // would record some other partition's envelope — a silent
            // wrong prune). _metadata.file_path is URI-spelled; decode it
            // to the path spelling `files` uses.
            val abs = normalize(new java.net.URI(r.getString(0)).getPath)
            // an all-null column stays opaque for that file, never 0-range
            abs -> cols.flatMap { k =>
              (Option(r.getAs[String](s"__mn_$k")), Option(r.getAs[String](s"__mx_$k"))) match {
                case (Some(mn), Some(mx)) =>
                  Some(ColStat(k, mn, mx, Some(r.getAs[Long](s"__nl_$k"))))
                case _ => None
              }
            }
          }.toMap
      }
    }
    // per-file row counts (Delta's numRecords) from the parquet FOOTERS —
    // O(files) driver-side metadata reads, no data scan, recorded on EVERY
    // write: with counts on all live files, COUNT(*) and DESCRIBE DETAIL
    // answer from log metadata alone (see rowCount). Best-effort: a footer
    // that fails to read just leaves that file count-less. When the stats
    // fast path ran, the counts ride the SAME footer open — zero extra I/O.
    val rowsOf: Map[String, Long] = footerMeta match {
      case Some(metas) => metas.map { case (p, m) => p -> m.rows }
      case None        => footerRowCounts(df.sparkSession, files)
    }
    // a staged file that PROVABLY recorded zero rows carries no data:
    // committing it grows the live set with noise (a file-scoped merge
    // whose touched file keeps no survivors routinely writes one empty
    // part file) and, stats-less as empty files are, defeats disjoint
    // admission for every concurrent writer racing this commit. Delete it
    // instead of committing it — only a footer-proven Some(0) is dropped;
    // a file whose footer failed to read stays (conservative).
    val (emptyFiles, keep) = files.partition(p => rowsOf.get(p).contains(0L))
    emptyFiles.foreach(p =>
      try Files.deleteIfExists(Paths.get(p)) catch { case _: Exception => () })
    keep.map(p => Add(p, rowsOf.get(p), fileSize(p), stats.getOrElse(normalize(p), Seq.empty)))
  }

  /** On-disk byte size of a just-staged file (Delta's add.size): one local
    * stat at write time so readers — notably streaming byte-based admission
    * (`maxBytesPerTrigger`) — never have to touch the filesystem per file. */
  private def fileSize(path: String): Option[Long] =
    try Some(Files.size(Paths.get(path))) catch { case _: Exception => None }

  /** Row count per file from parquet footer metadata (no data I/O). */
  private def footerRowCounts(spark: SparkSession,
      files: Seq[String]): Map[String, Long] = {
    val conf = spark.sessionState.newHadoopConf()
    files.flatMap { p =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf)
        scala.util.Using.resource(
          org.apache.parquet.hadoop.ParquetFileReader.open(in)) { r =>
          Some(p -> r.getRecordCount)
        }
      } catch { case _: Exception => None }
    }.toMap
  }

  /** Stage change-data rows (the Delta CDF sidecar shape): written under
    * `<table>/_change_data/<uuid>/` — OUTSIDE the data area, so snapshot
    * reads never see them — and referenced by `cdc` actions in the commit.
    * The rows carry their own `_change_type` column. */
  private def stageCdcFiles(df: DataFrame, table: String): Seq[Cdc] = {
    val stage = Paths.get(table, "_change_data", java.util.UUID.randomUUID().toString)
    df.write.mode("error").parquet(stage.toString)
    listParquet(stage).map(Cdc)
  }

  /** The DV swap of live file `a`: remove it and re-add the SAME path with
    * its deletion vector widened by `bits` — stats, row count and every
    * other recorded field survive (a DV'd file's envelope stays a valid
    * SUPERSET bound: masking rows can only shrink the true range, so
    * pruning and whole-file proofs remain conservative/exact). */
  private def dvSwap(table: String, a: Add,
      bits: org.roaringbitmap.RoaringBitmap): (Remove, Add) = {
    val merged = a.dv.fold(bits)(old => org.roaringbitmap.RoaringBitmap.or(Dv.read(old.path), bits))
    (Remove(a.path), a.copy(dv = Some(Dv.write(table, merged))))
  }

  private def listParquet(dir: Path): Seq[String] =
    // walk, not list: partitioned staging nests files under
    // `__part_<c>=<v>/` directories
    scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toList.sorted
    }

  /** Blind transactional append: stage files once, then claim the next
    * version slot, retrying past concurrent committers (an append conflicts
    * with nothing — its actions are version-independent). Returns the
    * committed version. `statsCol` records per-file min/max of that column
    * in the add-actions so later merges on it can prune their rewrite set. */
  def append(df: DataFrame, table: String, maxRetries: Int = 64,
      statsCol: Option[String] = None, mergeSchema: Boolean = false,
      partitionBy: Seq[String] = Seq.empty): Long = {
    // the effective partition spec: a partitioned table IMPOSES its
    // recorded spec on every append (callers need not restate it, and a
    // conflicting restatement is refused — silently mixing layouts would
    // break the value-pure-file invariant pruning relies on); a new table
    // records the caller's spec
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    requireWritable(pre, table, "append")
    // COLUMN MAPPING boundary: the caller's frame and column parameters
    // speak LOGICAL names; files stage under PHYSICAL ones. Unknown
    // logical columns extend the mapping (fresh physical names) under the
    // same mergeSchema gate schema evolution already uses — one commit
    // carries the files, the evolved schema AND the evolved mapping.
    val resolver = df.sparkSession.sessionState.conf.resolver
    val (dfP, mapNow, mapActs) =
      if (pre.colmap.isEmpty) (df, pre.colmap, Seq.empty[Action])
      else {
        val unknown = df.columns.filterNot(c =>
          pre.colmap.exists { case (l, _) => resolver(l, c) })
        if (unknown.nonEmpty && !mergeSchema) throw new SchemaMismatch(
          s"append: new column(s) ${unknown.mkString(", ")} not in the table " +
            "schema — pass mergeSchema = true to evolve it")
        val m = unknown.foldLeft(pre.colmap)((acc, c) =>
          acc :+ (c -> freshPhysName(c, acc, pre.schema)))
        (toPhysicalDf(df, m, "append"), m,
          if (unknown.isEmpty) Seq.empty else Seq(Colmap(m)))
      }
    val partitionByP = partitionBy.map(c =>
      if (mapNow.isEmpty) c else physFor(mapNow, c, resolver, "append"))
    val statsColP = mapStatsCol(statsCol, mapNow, resolver, "append")
    val effParts =
      if (pre.parts.isEmpty) partitionByP
      else {
        require(partitionByP.isEmpty || partitionByP == pre.parts,
          s"append: table $table is partitioned by (${pre.parts.mkString(", ")}) " +
            s"but the write asked for (${partitionByP.mkString(", ")})")
        pre.parts
      }
    // GENERATED columns the write omits are computed HERE — before staging
    // and before the partition layout, so "partition by a generated date"
    // works without the writer ever materializing the column; columns the
    // write CARRIES are verified against their rule first
    verifyProvidedGenerated(dfP, pre.gens, "append")
    val dfG = computeGenerated(dfP, pre.gens)
    val actions = stageFiles(dfG, table, statsColP, effParts)
    // CHECK constraints are enforced against each attempt's set; the
    // staged-file scan re-runs on retry only if the set changed concurrently
    var enforcedFor: Option[Map[String, String]] = None
    transact(table, pre, "append", maxRetries) { r =>
      val cmap = r.cons.toMap
      if (!enforcedFor.contains(cmap)) {
        enforceConstraints(df.sparkSession, actions, r.schema, cmap, "append")
        enforcedFor = Some(cmap)
      }
      // staged bytes computed/verified under the entry rules — a racing
      // rule change invalidates them
      if (r.gens != pre.gens)
        sys.error(s"append: generated-column rules of $table changed concurrently")
      // a concurrent overwrite that changed the spec to a DIFFERENT
      // nonempty partitioning makes the staged layout wrong — fail rather
      // than commit mixed layouts. (Columns stay in the data, so staged
      // partitioned files remain valid if the table went UNpartitioned,
      // and a same-spec racer is obviously fine.)
      if (r.parts.nonEmpty && r.parts != effParts)
        sys.error(s"append: partition spec of $table changed concurrently " +
          s"(staged for (${effParts.mkString(", ")}), now (${r.parts.mkString(", ")}))")
      // staged physical names were derived from the mapping at entry — a
      // concurrent rename/drop of a staged column makes them stale (fail
      // rather than mis-map), but a PURE EXTENSION (concurrent ADD COLUMN
      // of something else) leaves our staged names valid — proceed, unless
      // we are extending the mapping ourselves (two extensions of the same
      // logical name would orphan one physical column; the colmapLine we
      // would commit was computed against the stale base)
      if (r.colmap != pre.colmap &&
          !(mapActs.isEmpty && pre.colmap.forall(r.colmap.contains)))
        sys.error(s"append: column mapping of $table changed concurrently")
      val partActs =
        if (effParts.nonEmpty && r.parts != effParts) Seq(Parts(effParts))
        else Seq.empty
      Write(actions ++ partActs ++ schemaActions(r, dfP, mergeSchema, "append") ++ mapActs)
    }
  }

  /** Transactional full overwrite: new files in, every live file of the
    * snapshot it replaces out, one commit. On conflict the remove-set is
    * re-derived against the new tip (optimistic retry), so a concurrent
    * append is never silently dropped from the removal list. */
  def overwrite(df: DataFrame, table: String, maxRetries: Int = 64,
      statsCol: Option[String] = None,
      partitionBy: Seq[String] = Seq.empty): Long = {
    // COLUMN MAPPING boundary: an overwrite ADOPTS the writer's column set
    // (like its schema), but a logical name the table already maps KEEPS
    // its physical identity — a rename survives an overwrite, and a column
    // absent from the writer's frame leaves the mapping (its physical data
    // is gone with the replaced files anyway). New logical names get fresh
    // physical ones.
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    requireWritable(pre, table, "overwrite")
    val resolver = df.sparkSession.sessionState.conf.resolver
    val (dfP, mapNow) =
      if (pre.colmap.isEmpty) (df, pre.colmap)
      else {
        val m0 = df.columns.foldLeft(Seq.empty[(String, String)]) { (acc, c) =>
          val phys = pre.colmap.collectFirst {
            case (l, p) if resolver(l, c) => p
          }.getOrElse(freshPhysName(c, pre.colmap ++ acc, pre.schema))
          acc :+ (c -> phys)
        }
        // GENERATED columns the writer omitted are about to be computed —
        // their mapping entries must survive the adoption or the computed
        // column would fall out of the logical view
        val m = m0 ++ pre.colmap.filter { case (_, p) =>
          pre.gens.contains(p) && !m0.exists(_._2 == p)
        }
        (toPhysicalDf(df, m, "overwrite"), m)
      }
    val partitionByP = partitionBy.map(c =>
      if (mapNow.isEmpty) c else physFor(mapNow, c, resolver, "overwrite"))
    val statsColP = mapStatsCol(statsCol, mapNow, resolver, "overwrite")
    // GENERATED columns the writer omits are computed (an overwrite adopts
    // the writer's schema, but a recorded rule keeps its column alive);
    // carried ones are verified against their rule
    verifyProvidedGenerated(dfP, pre.gens, "overwrite")
    val dfG = computeGenerated(dfP, pre.gens)
    // an overwrite replaces every row, so it ADOPTS the writer's partition
    // spec outright (like its schema) — including dropping to unpartitioned
    val adds = stageFiles(dfG, table, statsColP, partitionByP)
    var enforcedFor: Option[Map[String, String]] = None
    transact(table, pre, "overwrite", maxRetries) { r =>
      if (r.colmap != pre.colmap)
        sys.error(s"overwrite: column mapping of $table changed concurrently")
      val cmap = r.cons.toMap
      if (!enforcedFor.contains(cmap)) {
        // an overwrite ADOPTS the writer's schema, so enforcement reads the
        // staged files under it — and a constraint referencing a column the
        // new schema DROPS is therefore unevaluable and REFUSED by
        // enforceConstraints (drop the constraint before dropping its
        // column), unlike an append, whose missing columns still exist in
        // the table schema and null-fill to a pass
        enforceConstraints(df.sparkSession, adds, Some(dfG.schema.json), cmap, "overwrite")
        enforcedFor = Some(cmap)
      }
      if (r.gens != pre.gens)
        sys.error(s"overwrite: generated-column rules of $table changed concurrently")
      val removes = r.live.keysIterator.map(Remove(_)).toSeq
      // an overwrite replaces every row, so it ADOPTS the writer's schema
      // outright (Delta's overwriteSchema shape) — no null-filling risk
      val schemaActs =
        if (r.schema.contains(dfG.schema.json) ||
            (r.schema.isEmpty && r.tip > 0)) Seq.empty
        else Seq(Schema(dfG.schema.json))
      val partActs =
        if (r.parts == partitionByP) Seq.empty else Seq(Parts(partitionByP))
      val mapActs =
        if (mapNow == r.colmap) Seq.empty else Seq(Colmap(mapNow))
      Write(adds ++ removes ++ schemaActs ++ partActs ++ mapActs)
    }
  }

  /** Transactional upsert (MERGE semantics of the `upsert_snapshot` catalog
    * entry): rows of `updates` replace same-key rows of the current
    * snapshot, new keys insert. On a version conflict the merge re-commits
    * its SAME actions when every winning commit is provably disjoint (see
    * the admission note in the loop below) and re-derives against the new
    * tip otherwise, so the committed history is serializable either way.
    *
    * FILE-SCOPED REWRITE (the production MERGE shape — Delta/Iceberg do the
    * same two-phase find-touched-files dance): instead of rewriting the
    * entire table per upsert (a 1-row update on a 100 TB table must not
    * rewrite 100 TB), the rewrite set is narrowed to files an update key can
    * actually live in:
    *   1. stats prune (log metadata only, no data I/O): drop every file
    *      whose recorded [min,max] of `keyCol` lies wholly outside the
    *      update keys' [min,max] envelope;
    *   2. touch scan (distributed, column-pruned): equi-join the surviving
    *      candidates' key column against the distinct update keys via
    *      `_metadata.file_path` — only files holding an ACTUAL update key
    *      are rewritten.
    * Files without `keyCol` stats (older writers, all-null key files) stay
    * opaque and are conservatively rewritten; untouched files keep their
    * add-actions — no remove, no data movement. Null-keyed update rows
    * match nothing (SQL join semantics) and are appended as inserts. The
    * rewritten output re-records stats on `keyCol`, so merges keep pruning
    * against merged output. */
  /** Full merge derivations since JVM start (each = the two-phase file
    * scoping + distributed rewrite). Test instrumentation for
    * disjoint-commit admission: an admitted conflict re-commits the SAME
    * actions and must NOT increment this. */
  private[graft] val mergeDerivations = new java.util.concurrent.atomic.AtomicLong

  /** Test hook, invoked just before each merge commit attempt (lets a spec
    * deterministically interleave a concurrent commit). */
  private[graft] var mergeCommitHook: () => Unit = () => ()

  def merge(updates: DataFrame, table: String, keyCol: String,
      maxRetries: Int = 16, mergeSchema: Boolean = false,
      changeFeed: Boolean = false): Long = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    requireWritable(pre, table, "merge")
    if (pre.colmap.isEmpty)
      return merge0(updates, table, pre, keyCol, maxRetries, mergeSchema, changeFeed)
    // COLUMN MAPPING boundary: translate the updates frame and key to
    // physical names. Unknown logical columns evolve mapping + schema as a
    // SEPARATE prior metadata commit (same observable history as ALTER ADD
    // COLUMN followed by the merge), then the merge proper runs fully known.
    val resolver = updates.sparkSession.sessionState.conf.resolver
    val m = extendMappingFor(updates, table, pre, mergeSchema, "merge", maxRetries)
    merge0(toPhysicalDf(updates, m, "merge"), table, pre,
      physFor(m, keyCol, resolver, "merge"), maxRetries, mergeSchema, changeFeed)
  }

  /** Mapping that covers every column of `df`, committing an evolution
    * (colmap + physical schema extension) when needed and allowed. */
  private def extendMappingFor(df: DataFrame, table: String, pre: Replay,
      mergeSchema: Boolean, op: String, maxRetries: Int): Seq[(String, String)] = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    val unknown = df.schema.fields.filterNot(f =>
      pre.colmap.exists { case (l, _) => resolver(l, f.name) })
    if (unknown.isEmpty) return pre.colmap
    if (!mergeSchema) throw new SchemaMismatch(
      s"$op: new column(s) ${unknown.map(_.name).mkString(", ")} not in the " +
        "table schema — pass mergeSchema = true to evolve it")
    var m = pre.colmap
    transact(table, pre, "alter", maxRetries) { r =>
      if (r.colmap != pre.colmap)
        sys.error(s"$op: column mapping of $table changed concurrently")
      m = unknown.foldLeft(r.colmap)((acc, f) =>
        acc :+ (f.name -> freshPhysName(f.name, acc, r.schema)))
      val physFields = unknown.zip(m.takeRight(unknown.length)).map {
        case (f, (_, p)) => f.copy(name = p, nullable = true)
      }
      val newSchema = org.apache.spark.sql.types.StructType(
        r.schema.map(schemaOf).map(_.fields).getOrElse(Array.empty) ++ physFields)
      Write(Seq(Colmap(m), Schema(newSchema.json)))
    }
    m
  }

  private def merge0(updates: DataFrame, table: String, entry: Replay,
      keyCol: String, maxRetries: Int, mergeSchema: Boolean,
      changeFeed: Boolean): Long = {
    val spark = updates.sparkSession
    val keyType = updates.schema(keyCol).dataType
    import spark.implicits._
    val updKeys = updates.select(col(keyCol).as("__k"))
      .where(col("__k").isNotNull).distinct()
    // typed update-key envelope — drives phase 1 AND conflict admission.
    // None ⇔ no non-null update keys (a pure insert of null-keyed rows).
    val updBounds: Option[(Any, Any)] =
      updKeys.agg(min("__k").as("__bmn"), max("__k").as("__bmx")).collect()
        .headOption.filterNot(_.isNullAt(0)).map(r => (r.get(0), r.get(1)))
    // one verification job per DISTINCT rule set, not per retry — and a
    // racing rule change between verification and commit re-verifies on
    // the loop's next derivation (the staged bytes are re-derived per loop,
    // so unlike append there is nothing stale to abort over; committing
    // values checked against superseded rules would violate the NEW rule)
    var verifiedGens: Option[scala.collection.Map[String, String]] = None
    transact(table, entry, "merge", maxRetries, mergeCommitHook) { replay =>
      mergeDerivations.incrementAndGet()
      val liveMap = replay.live
      val withStats = liveMap.toSeq.flatMap { case (path, a) =>
        a.stats.collect { case st if st.col == keyCol => (path, st.min, st.max) }
      }
      val opaque = liveMap.keysIterator.toSet -- withStats.map(_._1)
      val touched: Seq[String] =
        if (withStats.isEmpty) liveMap.keysIterator.toSeq
        else updBounds match {
          // null-keyed updates match nothing: only opaque files rewrite
          // (conservatively — they might hold anything)
          case None => opaque.toSeq
          case Some((lo, hi)) =>
            // phase 1: envelope prune — typed bounds against the (small,
            // O(files)) ranges frame; comparisons happen in the key's own
            // type, never as strings. try_cast, because a stat string that
            // does not parse as the key type (older writer, type drift) must
            // yield null — and a null-cast file must stay a CANDIDATE: it
            // has stats, so it is not in `opaque`, and dropping it here
            // would mean it is never rewritten — a silent lost update (plain
            // cast is just as wrong: under ANSI it aborts the whole merge)
            val ranges = withStats.toDF("__path", "__mns", "__mxs")
              .select(col("__path"), col("__mns").try_cast(keyType).as("__mn"),
                col("__mxs").try_cast(keyType).as("__mx"))
            val candidates = ranges
              .where((col("__mx") >= lit(lo) && col("__mn") <= lit(hi)) ||
                col("__mn").isNull || col("__mx").isNull)
              .select("__path").collect().map(_.getString(0)).toSeq
            // phase 2: touch scan — read ONLY the candidates' key column and
            // equi-join (hash, shuffle-or-broadcast — never a nested loop)
            // against the update keys to find files holding a real hit
            val hit: Set[String] =
              if (candidates.isEmpty) Set.empty
              else {
                val byAbs = candidates.map(p => normalize(p) -> p).toMap
                spark.read.parquet(candidates: _*)
                  .select(col("_metadata.file_path").as("__fp"), col(keyCol).as("__k"))
                  .join(updKeys, "__k")
                  .select("__fp").distinct().collect()
                  .flatMap(r => byAbs.get(normalize(new java.net.URI(r.getString(0)).getPath)))
                  .toSet
              }
            (hit ++ opaque).toSeq
        }
      // NEW columns in the updates need the mergeSchema gate (checked by
      // schemaActions); a table column MISSING from the updates PRESERVES
      // the matched row's current value (Delta updateAll semantics —
      // unmentioned target columns are never silently nulled), and inserts
      // null-fill it exactly like an append missing the column. This keeps
      // old writers working after an evolution without losing the new
      // column's data on every merge.
      val schemaActs = schemaActions(replay, updates, mergeSchema, "merge")
      // rewritten files read under the LOG schema (touched files may
      // predate an evolution and null-fill the later columns), deletion
      // vectors masked — an unmasked rewrite would resurrect deleted rows
      // GENERATED columns the updates omit are computed; update rows that
      // CARRY the column are verified against the rule (survivor rows are
      // restaged as-is — rows written before a rule existed legitimately
      // hold null and must not be "corrected" by a later merge).
      //
      // Rules whose INPUTS the updates frame omits cannot run against
      // `updates` at all (the input column is unresolvable there) — they
      // DEFER until after the preservation join below binds the pre-image
      // values (Delta's composition: preservation first, generation
      // against the row as it lands). Three deferred cases:
      //   - the gencol is provided: verified against the preserved inputs;
      //   - omitted, but ANOTHER input IS updated: recomputed from the
      //     mixed (updated + preserved) values — a changed input must
      //     refresh the derived value;
      //   - omitted and NO input updated: matched rows PRESERVE the
      //     pre-image value (inputs unchanged ⇒ value unchanged, and a
      //     pre-rule null stays null — never "corrected"); unmatched rows
      //     are inserts and compute from the values as they land.
      val resolver = spark.sessionState.conf.resolver
      def ruleInputs(rule: String): Seq[String] =
        spark.sessionState.sqlParser.parseExpression(rule).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }
      def inUpdates(name: String): Boolean =
        updates.columns.exists(uc => resolver(uc, name))
      val (gensNow, gensDeferred) = replay.gens.partition { case (_, rule) =>
        ruleInputs(rule).forall(inUpdates)
      }
      if (!verifiedGens.contains(replay.gens)) {
        verifyProvidedGenerated(updates, gensNow, "merge")
        verifiedGens = Some(replay.gens.toMap) // immutable snapshot for the compare
      }
      val updatesG = computeGenerated(updates, gensNow)
      // when NO file holds an update key (empty table, or an all-insert
      // merge whose keys miss every envelope) the pre-image is empty — but
      // it must still carry the LOG schema: missingCols below derives the
      // preservation + deferred-gencol inputs from current's columns, and
      // an updates-shaped empty frame would leave a deferred rule's inputs
      // unresolvable (r15 advisor finding). Tables with gens always have a
      // schema action (addGeneratedColumn commits one), so the fold's
      // updates-shaped fallback only ever fires with gensDeferred empty.
      val current =
        if (touched.isEmpty)
          replay.schema.fold(updatesG.limit(0))(j =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              schemaOf(j)))
        else readLive(spark,
          replay.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j))),
          touched, replay.live)
      // table columns the updates frame does not mention (deferred
      // generated columns land here too — the join binds their pre-image)
      val missingCols = current.columns.toSeq.filterNot(tc =>
        updatesG.columns.exists(uc => resolver(uc, tc)))
      val matchedMark = "__graft_gen_matched"
      val replacement =
        if (missingCols.isEmpty) updatesG
        else
          // inherit the pre-image's values for unmentioned columns: one
          // key-hashed join over the TOUCHED files' rows only (never the
          // table). An unmatched update key finds no pre-image and
          // null-fills — insert semantics. A duplicate-keyed target row
          // contributes its own pre-image (each matched row is updated in
          // place, the Delta rule), instead of collapsing to one nulled row.
          updatesG.join(
            current.select(((keyCol +: missingCols).map(col) :+
              lit(true).as(matchedMark)): _*),
            Seq(keyCol), "left")
      val replacementG = {
        var r = replacement
        gensDeferred.foreach { case (g, rule) =>
          if (!inUpdates(g)) {
            if (ruleInputs(rule).exists(inUpdates)) r = r.withColumn(g, expr(rule))
            else r = r.withColumn(g,
              when(col(matchedMark), col(g)).otherwise(expr(rule)))
          }
        }
        r.drop(matchedMark)
      }
      // deferred PROVIDED gencols verify against the row as it lands (the
      // preserved inputs) — per derivation, uncached: the frame depends on
      // `current`, which a re-derivation recomputes
      val deferredProvided = gensDeferred.filter { case (g, _) => inUpdates(g) }
      if (deferredProvided.nonEmpty)
        verifyProvidedGenerated(replacementG, deferredProvided, "merge")
      val merged = current.join(updatesG.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(replacementG, allowMissingColumns = true)
      // change-data sidecars (opt-in): a matched key emits its old row as
      // 'update_preimage' and its update row as 'update_postimage'; an
      // unmatched update row (null keys included — they match nothing) is
      // an 'insert'. `touched` holds by construction EVERY file containing
      // an update key, so `current` is the complete pre-image source.
      val cdcActs =
        if (!changeFeed) Seq.empty
        else {
          val presentKeys = current.select(col(keyCol)).distinct()
          val pre = current
            .join(updatesG.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
            .withColumn("_change_type", lit("update_preimage"))
          // post-images carry the PRESERVED values of unmentioned columns
          // (the row as it lands), not the updates frame's missing-as-null
          val post = replacementG.join(presentKeys, Seq(keyCol), "left_semi")
            .withColumn("_change_type", lit("update_postimage"))
          val ins = replacementG.join(presentKeys, Seq(keyCol), "left_anti")
            .withColumn("_change_type", lit("insert"))
          stageCdcFiles(
            pre.unionByName(post, allowMissingColumns = true)
              .unionByName(ins, allowMissingColumns = true), table)
        }
      val actions = stageFiles(merged, table, statsCol = Some(keyCol),
        partitionBy = replay.parts) ++ cdcActs ++
        touched.map(Remove(_)) ++ schemaActs
      // CHECK constraints gate the merged output (survivors + updates) —
      // one scan of the staged bytes, never the table; a violating update
      // aborts with nothing committed. The set is the derivation replay's;
      // a concurrent constraint change defeats disjoint admission below, so
      // an admitted re-commit is always enforcement-current.
      enforceConstraints(spark, actions, replay.schema, replay.cons.toMap, "merge")
      val ourRemoves = touched.toSet
      // DISJOINT-COMMIT ADMISSION (the Delta conflict rule, Armbrust et al.
      // VLDB 2020 §3.2): when another writer wins the slot, re-deriving the
      // whole merge is only NECESSARY if the winner could interact with it.
      // If every winning commit is provably independent — removed none of
      // the files we rewrite, added only files whose recorded key envelopes
      // cannot hold an update key, changed no schema — then committing the
      // SAME actions at the new tip IS the serial history "winners, then
      // us", and the expensive file scoping + rewrite is not repeated. On a
      // partitioned 100 TB table two merges on disjoint key ranges are the
      // common case; each pays exactly one derivation. Anything unprovable
      // re-derives.
      Write(actions, commitIsDisjoint(_, ourRemoves, keyCol, keyType, updBounds,
        spark.sessionState.conf.sessionLocalTimeZone))
    }
  }

  /** One clause of a full MERGE (the Delta/ANSI MERGE matrix). Conditions
    * and SET expressions evaluate over the joined row with the TARGET
    * aliased `t` and the SOURCE aliased `s` — reference columns as
    * `col("t.x")` / `col("s.x")` (unqualified names are ambiguous when both
    * sides carry them). Clauses of each group apply IN ORDER: the first
    * whose condition is TRUE wins; a row matching no clause of its group
    * keeps its target image (matched / not-matched-by-source) or is not
    * inserted (not-matched). */
  sealed trait MergeClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET … */
  final case class MatchedUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE */
  final case class MatchedDelete(cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (the source row, by name;
    * table columns the source lacks null-fill) */
  final case class NotMatchedInsert(cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE — the dimension-sync
    * shape: target rows whose key is absent from the source */
  final case class NotMatchedBySourceDelete(cond: Option[Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … (SET sees only
    * `t.` columns — there is no source row) */
  final case class NotMatchedBySourceUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause

  /** Full-matrix transactional MERGE (the ANSI/Delta shape [[merge]] is the
    * fast upsert special case of): matched rows update or delete under
    * ordered conditional clauses, unmatched source rows insert, and —
    * the shape the plain upsert cannot express — target rows MISSING from
    * the source delete or update (dimension sync / CDC reconciliation).
    *
    * SCALE shape: ONE full-outer hash join of the touched rows against the
    * source on `keyCol`, ONE action-CASE projection (every clause condition
    * and SET evaluates in a single Project — no per-clause passes), ONE
    * staged write. File scoping: with a not-matched-by-source clause every
    * target row is potentially affected, so the whole table rewrites —
    * that cost is INHERENT to the sync shape, not an implementation
    * artifact (deciding "is this row missing from the source" requires
    * comparing it); without one, the rewrite set narrows to source-keyed
    * files exactly like [[merge]] (envelope prune + touch scan).
    *
    * Null keys follow SQL join semantics: a null-keyed source row matches
    * nothing (insert candidate); a null-keyed target row matches nothing
    * (not-matched-by-source candidate). On version conflict the derivation
    * re-runs against the fresh tip (no disjoint admission — a by-source
    * clause interacts with every concurrent write by construction).
    * `changeFeed = true` stages exact sidecars (pre/post images, deletes,
    * inserts) for [[readChangeFeed]]. Returns the committed version. */
  def mergeFull(source: DataFrame, table: String, keyCol: String,
      clauses: Seq[MergeClause], statsCol: Option[String] = None,
      maxRetries: Int = 16, changeFeed: Boolean = false): Long = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    if (pre.colmap.isEmpty)
      return mergeFull0(source, table, pre, keyCol, clauses, statsCol, maxRetries, changeFeed)
    // COLUMN MAPPING boundary: source columns the table maps rename to
    // physical (source-ONLY columns keep their names — they exist only on
    // the `s.` side of the join); clause conditions, SET targets and SET
    // expressions translate logical references to physical.
    val m = pre.colmap
    val resolver = source.sparkSession.sessionState.conf.resolver
    val srcP = source.select(source.columns.map(c =>
      m.collectFirst { case (l, p) if resolver(l, c) => source.col(c).as(p) }
        .getOrElse(source.col(c))).toSeq: _*)
    def tc(c: Column): Column = mapColumn(c, m, resolver)
    def ts(set: Map[String, Column]): Map[String, Column] = {
      val s = set.toSeq.map { case (k, e) => physFor(m, k, resolver, "merge") -> tc(e) }
      s.groupBy(_._1).collect { case (n, as) if as.size > 1 => n } match {
        case dups if dups.nonEmpty => throw new SchemaMismatch(
          s"mergeFull: SET assigns ${dups.mkString(", ")} more than once " +
            "after column resolution — the winner would be silent")
        case _ => ()
      }
      s.toMap
    }
    val clausesP = clauses.map {
      case MatchedUpdate(s, c)            => MatchedUpdate(ts(s), c.map(tc))
      case MatchedDelete(c)               => MatchedDelete(c.map(tc))
      case NotMatchedInsert(c)            => NotMatchedInsert(c.map(tc))
      case NotMatchedBySourceDelete(c)    => NotMatchedBySourceDelete(c.map(tc))
      case NotMatchedBySourceUpdate(s, c) => NotMatchedBySourceUpdate(ts(s), c.map(tc))
    }
    mergeFull0(srcP, table, pre, physFor(m, keyCol, resolver, "merge"), clausesP,
      mapStatsCol(statsCol, m, resolver, "merge"), maxRetries, changeFeed)
  }

  private def mergeFull0(source: DataFrame, table: String, entry: Replay,
      keyCol: String, clauses: Seq[MergeClause], statsCol: Option[String],
      maxRetries: Int, changeFeed: Boolean): Long = {
    require(clauses.nonEmpty, "mergeFull needs at least one clause")
    val spark = source.sparkSession
    val hasBySource = clauses.exists {
      case _: NotMatchedBySourceDelete | _: NotMatchedBySourceUpdate => true
      case _ => false
    }
    val srcKeys = source.select(col(keyCol).as("__k"))
      .where(col("__k").isNotNull).distinct()
    // no disjoint admission: a by-source clause interacts with every
    // concurrent commit by construction (the non-by-source case could admit
    // like merge, left to the fast-path verb)
    transact(table, entry, "merge", maxRetries) { replay =>
      val reader = replay.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
      val live = replay.live.keysIterator.toSeq
      if (live.isEmpty && !clauses.exists(_.isInstanceOf[NotMatchedInsert]))
        return replay.tip
      // rewrite scope: everything under a by-source clause (inherent);
      // otherwise the files holding a source key (stats prune via the
      // recorded envelopes + key-column touch scan, as in merge)
      val touched: Seq[String] =
        if (hasBySource || live.isEmpty) live
        else {
          val keyType = source.schema(keyCol).dataType
          val bounds = srcKeys.agg(min("__k"), max("__k")).collect()
            .headOption.filterNot(_.isNullAt(0)).map(r => (r.get(0), r.get(1)))
          val withStats = replay.live.toSeq.flatMap { case (path, a) =>
            a.stats.collect { case st if st.col == keyCol => (path, st.min, st.max) }
          }
          val opaque = replay.live.keysIterator.toSet -- withStats.map(_._1)
          val candidates = (bounds, withStats) match {
            case (None, _) => Seq.empty // no non-null source keys
            case (_, ws) if ws.isEmpty => live
            case (Some((lo, hi)), ws) =>
              import spark.implicits._
              ws.toDF("__path", "__mns", "__mxs")
                .select(col("__path"), col("__mns").try_cast(keyType).as("__mn"),
                  col("__mxs").try_cast(keyType).as("__mx"))
                .where((col("__mx") >= lit(lo) && col("__mn") <= lit(hi)) ||
                  col("__mn").isNull || col("__mx").isNull)
                .select("__path").collect().map(_.getString(0)).toSeq ++ opaque
          }
          if (candidates.isEmpty) Seq.empty
          else {
            val byAbs = candidates.map(p => normalize(p) -> p).toMap
            liveRowsWithPos(spark, reader, candidates, replay.live)
              .select(col("__fp"), col(keyCol).as("__k"))
              .join(srcKeys, "__k")
              .select("__fp").distinct().collect()
              .flatMap(r => byAbs.get(normalize(r.getString(0))))
              .toSeq
          }
        }
      val tableSchema =
        if (live.isEmpty) replay.schema.map(schemaOf).getOrElse(source.schema)
        else reader.parquet(live: _*).schema
      val current =
        if (touched.isEmpty) {
          // typed empty target with the table schema
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(tableSchema.fields.map(_.copy(nullable = true))))
        } else readLive(spark, reader, touched, replay.live)
      // ---- one joined frame, one action decision, one projection ----
      val t = current.withColumn("__tp", lit(true)).as("t")
      val s = source.withColumn("__sp", lit(true)).as("s")
      val joined = t.join(s, col(s"t.$keyCol") === col(s"s.$keyCol"), "full_outer")
      val tP = col("t.__tp").isNotNull
      val sP = col("s.__sp").isNotNull
      // action ids: 0 keep target; 1.. update clause index; 100.. insert
      // clause index; -2 delete; -1 discard (unmatched source, no clause)
      val KEEP = 0; val DEL = -2; val DISCARD = -1
      def pick(cs: Seq[(Int, Option[Column])], default: Int): Column =
        cs.foldRight(lit(default).cast("int")) { case ((id, cond), rest) =>
          when(coalesce(cond.getOrElse(lit(true)), lit(false)), lit(id))
            .otherwise(rest)
        }
      val matchedCs = clauses.zipWithIndex.collect {
        case (MatchedUpdate(_, c), i)  => (i + 1, c)
        case (MatchedDelete(c), i)     => (DEL, c)
      }
      val bySourceCs = clauses.zipWithIndex.collect {
        case (NotMatchedBySourceUpdate(_, c), i) => (i + 1, c)
        case (NotMatchedBySourceDelete(c), _)    => (DEL, c)
      }
      val insertCs = clauses.zipWithIndex.collect {
        case (NotMatchedInsert(c), i) => (i + 101, c)
      }
      val action = when(tP && sP, pick(matchedCs, KEEP))
        .when(tP && !sP, pick(bySourceCs, KEEP))
        .otherwise(pick(insertCs, DISCARD))
      // resolve each update clause's SET map against the table schema (the
      // same resolver + lossless-widening discipline as UPDATE); types
      // probe analysis-only over the joined frame (limit 0, no job)
      val resolver = spark.sessionState.conf.resolver
      val updSets: Map[Int, Map[String, Column]] = clauses.zipWithIndex.collect {
        case (MatchedUpdate(set, _), i)           => (i + 1, set)
        case (NotMatchedBySourceUpdate(set, _), i) => (i + 1, set)
      }.map { case (id, set) =>
        id -> set.map { case (c, e) =>
          val f = tableSchema.fields.find(f => resolver(f.name, c)).getOrElse(
            throw new SchemaMismatch(
              s"mergeFull: SET column $c is not in the table schema " +
                s"(${tableSchema.fieldNames.mkString(", ")})"))
          if (replay.gens.contains(f.name)) throw new SchemaMismatch(
            s"mergeFull: ${f.name} is GENERATED ALWAYS AS (${replay.gens(f.name)}) " +
              "— it cannot be SET; it recomputes from its inputs")
          val got = joined.limit(0).select(e).schema.head.dataType
          val v =
            if (got == f.dataType) e
            else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(got, f.dataType))
              e.cast(f.dataType)
            else throw new SchemaMismatch(
              s"mergeFull: SET ${f.name} is ${got.simpleString} but the column " +
                s"is ${f.dataType.simpleString} — only lossless widenings are " +
                "implicit; cast explicitly for anything else")
          f.name -> v
        }
      }.toMap
      val srcCols = source.columns.toSet
      def outCol(f: org.apache.spark.sql.types.StructField): Column = {
        val insertVal =
          if (srcCols.exists(resolver(_, f.name)))
            col(s"s.${srcCols.find(resolver(_, f.name)).get}").cast(f.dataType)
          else lit(null).cast(f.dataType)
        val base = when(action >= 101, insertVal).otherwise(col(s"t.${f.name}"))
        updSets.foldLeft(base) { case (acc, (id, set)) =>
          set.get(f.name) match {
            case Some(v) => when(action === id, v).otherwise(acc)
            case None    => acc
          }
        }.as(f.name)
      }
      val projected = joined.withColumn("__action", action)
      // CHANGED post-images (updates, inserts) RECOMPUTE generated columns:
      // an update that changed a rule's inputs refreshes the derived value,
      // an insert whose source omitted it gets the computed one. KEEP rows
      // restage their stored value untouched — rows written before a rule
      // existed legitimately hold null and must not be backfilled by an
      // unrelated merge.
      val outRows = {
        val base = projected.where(col("__action") >= 0)
          .select((tableSchema.fields.map(outCol) :+ col("__action")).toSeq: _*)
        replay.gens.foldLeft(base) { case (d, (c, e)) =>
          d.withColumn(c, when(col("__action") =!= 0, expr(e)).otherwise(col(c)))
        }.drop("__action")
      }
      val adds =
        if (touched.isEmpty && insertCs.isEmpty) Seq.empty
        else stageFiles(outRows, table, statsCol.orElse(Some(keyCol)),
          replay.parts)
      val cdcActs =
        if (!changeFeed) Seq.empty
        else {
          val tImage = tableSchema.fields.map(f =>
            col(s"t.${f.name}").as(f.name)).toSeq
          val pre = projected.where(col("__action") >= 1 && col("__action") <= 99)
            .select(tImage: _*).withColumn("_change_type", lit("update_preimage"))
          val post = recomputeGenerated(
            projected.where(col("__action") >= 1 && col("__action") <= 99)
              .select(tableSchema.fields.map(outCol).toSeq: _*), replay.gens)
            .withColumn("_change_type", lit("update_postimage"))
          val dels = projected.where(col("__action") === DEL)
            .select(tImage: _*).withColumn("_change_type", lit("delete"))
          val ins = recomputeGenerated(
            projected.where(col("__action") >= 101)
              .select(tableSchema.fields.map(outCol).toSeq: _*), replay.gens)
            .withColumn("_change_type", lit("insert"))
          stageCdcFiles(pre.unionByName(post).unionByName(dels).unionByName(ins), table)
        }
      val removes = touched.map(Remove(_))
      enforceConstraints(spark, adds, replay.schema, replay.cons.toMap, "merge")
      Write(adds ++ cdcActs ++ removes)
    }
  }

  /** Any action that changes how staged bytes must be derived, verified, or
    * laid out: schema, constraints, generated-column rules, column mapping,
    * partition spec, protocol. A winning commit carrying one of these
    * defeats disjoint admission unconditionally — our staged actions were
    * computed under the OLD metadata and re-committing them verbatim could
    * violate the new (e.g. values checked against a superseded GENERATED
    * ALWAYS rule, or a layout staged for a replaced partition spec). */
  private def metadataInteraction(a: Action): Boolean = a match {
    case _: Add | _: Remove | _: Cdc | _: Meta | _: Txn => false
    case _ => true
  }

  /** Is the winning commit `acts` provably independent of a merge that
    * rewrites `ourRemoves` and whose non-null update keys lie in `bounds`?
    * Provable from the commit alone (no data I/O): it removed no path we
    * rewrite, carried no metadata action, and every file it added has
    * `keyCol` stats whose envelope lies strictly outside `bounds` — a
    * stats-less add or an unparsable stat is NOT provable and forces the
    * conservative re-derive. */
  private def commitIsDisjoint(acts: Seq[Action], ourRemoves: Set[String],
      keyCol: String, keyType: org.apache.spark.sql.types.DataType,
      bounds: Option[(Any, Any)], tzId: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, GreaterThan, LessThan, Literal}
    def proven(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.eval() match {
        case b: java.lang.Boolean => b.booleanValue()
        case _                    => false // null ⇒ not provable
      }
    !acts.exists(metadataInteraction) && acts.forall {
      case Remove(path, _) => !ourRemoves.contains(path)
      case a: Add =>
        // a ZERO-row add (legacy logs — current writers drop empty staged
        // files before committing) provably holds no key
        a.rows.contains(0L) || (bounds match {
          case None => true // no non-null update keys ⇒ adds cannot collide
          case Some((lo, hi)) =>
            a.envelopes.get(keyCol).exists { case (mn, mx) =>
              proven(GreaterThan(
                Cast(Literal(mn), keyType, Some(tzId), EvalMode.TRY), Literal(hi))) ||
              proven(LessThan(
                Cast(Literal(mx), keyType, Some(tzId), EvalMode.TRY), Literal(lo)))
            }
        })
      case _ => true
    }
  }

  /** Is the winning commit `acts` provably independent of a PREDICATE-scoped
    * rewrite (delete/update) that removes/rewrites `ourFiles` under resolved
    * condition `cond`? Provable from the commit alone, no data I/O:
    * it removed no file we touch, carried no schema or constraint action,
    * and every file it ADDED has stats that PROVABLY EXCLUDE any
    * predicate-matching row — `mayContain == false` is exactly that proof
    * (the test is conservative-true, so false is never a guess). A
    * stats-less add, an unresolvable predicate, or an unrecognized shape
    * is NOT provable and forces the conservative re-derive. The serial
    * history "winner, then us" then holds with our SAME actions: the
    * winner's adds hold no row our predicate touches, and its removes
    * touch none of our files. */
  private def commitIsDisjointForPredicate(acts: Seq[Action],
      ourFiles: Set[String],
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      tzId: String): Boolean = {
    !acts.exists(metadataInteraction) && (cond match {
      case None => false // nothing provable about an unresolved predicate
      case Some(c) =>
        acts.forall {
          case Remove(path, _) => !ourFiles.contains(path)
          case a: Add =>
            // zero-row adds provably hold no matching row (legacy logs)
            a.rows.contains(0L) ||
              (a.stats.nonEmpty && !StatsSkipping.mayContain(a.envelopes, c, tzId))
          case _ => true
        }
    })
  }

  /** Resolve `predicate` against the table's rows — ANALYSIS only, no job:
    * the Filter condition of `df.where(predicate)`, or None when the
    * predicate does not analyze (callers then treat every file as a
    * candidate). Shared by DELETE, UPDATE, and OPTIMIZE WHERE — one
    * resolution discipline, not three. */
  private def resolveCondition(df: DataFrame, predicate: Column):
      Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    try df.where(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    } catch { case _: Exception => None }

  /** Phase-0 log-stats candidate prune shared by the predicate-scoped
    * verbs: of `files`, those whose recorded envelopes MAY hold a
    * cond-TRUE row (the conservative three-valued [[StatsSkipping]] test;
    * an unresolved condition keeps everything). Zero data I/O. */
  private def pruneByStats(files: Seq[String], replay: Replay,
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      tzId: String): Seq[String] = cond match {
    case None => files
    case Some(c) => files.filter(p => StatsSkipping.mayContain(replay.live(p).envelopes, c, tzId))
  }

  /** Distributed TOUCH SCAN shared by DELETE/UPDATE: the files among
    * `candidates` holding at least one predicate-TRUE **live** row —
    * column-pruned (only the predicate's columns are read), deletion
    * vectors masked (an already-deleted row must not drag its file back
    * into a rewrite), attributed back to log spellings through the URI
    * decode. */
  private def touchScan(spark: SparkSession,
      reader: org.apache.spark.sql.DataFrameReader,
      candidates: Seq[String], live: scala.collection.Map[String, Add],
      predicate: Column): Seq[String] =
    if (candidates.isEmpty) Seq.empty
    else {
      val byAbs = candidates.map(p => normalize(p) -> p).toMap
      val dvs = dvPaths(candidates, live)
      val base = reader.parquet(candidates: _*).where(predicate)
      val masked = if (dvs.isEmpty) base else base.where(Dv.liveRowFilter(spark, dvs))
      masked
        .select(col("_metadata.file_path").as("__fp")).distinct()
        .collect()
        .flatMap(r => byAbs.get(normalize(new java.net.URI(r.getString(0)).getPath)))
        .toSeq
    }

  /** Live rows of `files` with their physical position attached: `__fp`
    * (decoded file path) and `__idx` (`_metadata.row_index`), deletion
    * vectors masked — the frame DV construction aggregates over. */
  private def liveRowsWithPos(spark: SparkSession,
      reader: org.apache.spark.sql.DataFrameReader, files: Seq[String],
      live: scala.collection.Map[String, Add]): DataFrame = {
    val dvs = dvPaths(files, live)
    val base = reader.parquet(files: _*)
      .withColumn("__fp", uriPathUdf(col("_metadata.file_path")))
      .withColumn("__idx", col("_metadata.row_index"))
    if (dvs.isEmpty) base else base.where(Dv.liveRowFilter(spark, dvs))
  }

  /** Row-level transactional DELETE — the retraction half of the lakehouse
    * write surface (GDPR erasure, bad-batch retraction; the reference's own
    * append-only design names exactly this gap: ingest dedup by "most
    * recent" works until a row must actually go away). Semantics are SQL
    * DELETE: rows where `predicate` is TRUE are removed; rows where it is
    * FALSE **or NULL** are kept.
    *
    * FILE-SCOPED like [[merge]] — a 1-row delete on a 100 TB table must not
    * rewrite 100 TB:
    *   0.5. whole-file drops: a candidate whose stats PROVE every row
    *      matches (envelope inside the TRUE region, zero recorded nulls on
    *      the referenced columns) is removed as pure metadata — no read,
    *      no rewrite; a retention delete on a clustered table commits in
    *      O(files) metadata (Delta's fully-covered-file rule);
    *   1. touch scan (distributed, column-pruned): read ONLY the predicate's
    *      columns of the live files and collect the distinct
    *      `_metadata.file_path`s holding at least one TRUE row — parquet
    *      row-group stats prune the scan at the storage layer (an arbitrary
    *      predicate has no log-stats envelope to prune on; a range delete on
    *      a stats column gets the log-level prune for free via the scan's
    *      own pushdown);
    *   2. rewrite only the touched files with their KEPT rows (read under
    *      the log schema, so pre-evolution files null-fill); untouched files
    *      keep their add-actions — no remove, no data movement.
    * A delete matching nothing commits nothing and returns the current tip
    * (no empty commit). The commit's op is `"delete"` — a rewrite op, so
    * [[readChanges]] refuses the range unless `includeRewrites = true` and a
    * tailing [[TxLogStreamSource]] fails without `ignoreChanges=true`, the
    * same gating as merge/overwrite (a delete's adds are rewritten survivor
    * rows, not new data).
    *
    * On a version conflict, DISJOINT-COMMIT ADMISSION (the same Delta §3.2
    * rule merge applies, with the stats test as the proof): when every
    * winning commit removed none of our files, changed no schema or
    * constraint, and added only files whose recorded stats PROVABLY
    * exclude a predicate-matching row (`mayContain == false`), the SAME
    * actions re-commit at the next slot — concurrent retention deletes and
    * appends on disjoint key ranges each pay one derivation. Anything
    * unprovable (stats-less adds, unrecognized predicate shapes) re-derives
    * against the new tip, the conservative serializable path. `statsCol`
    * re-records per-file min/max on the rewritten output so merges/pruned
    * reads keep pruning against post-delete files. Returns the committed
    * version. */
  /** Candidate-file count of the last delete's touch scan (test/diagnostic
    * instrumentation for the phase-0 log-stats prune). -1 = no delete ran. */
  private[graft] val deleteCandidateFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Whole-file drops of the last delete (files whose stats proved every
    * row matches — removed as pure metadata, never read or rewritten).
    * Test/diagnostic instrumentation for the phase-0.5 covered-file path.
    * -1 = no delete ran. */
  private[graft] val deleteCoveredFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Full delete derivations since JVM start (prune + touch scan +
    * rewrite). An admitted conflict re-commits the SAME actions and must
    * NOT increment this. */
  private[graft] val deleteDerivations = new java.util.concurrent.atomic.AtomicLong

  /** Test hook, invoked just before each delete commit attempt. */
  private[graft] var deleteCommitHook: () => Unit = () => ()

  /** Full update derivations since JVM start — see [[deleteDerivations]]. */
  private[graft] val updateDerivations = new java.util.concurrent.atomic.AtomicLong

  /** Test hook, invoked just before each update commit attempt. */
  private[graft] var updateCommitHook: () => Unit = () => ()

  /** DV-path files of the last delete/update (re-added with a deletion
    * vector instead of rewritten). Test/diagnostic instrumentation.
    * -1 = no DV verb ran. */
  private[graft] val dvSwapFiles = new java.util.concurrent.atomic.AtomicLong(-1L)

  def delete(spark: SparkSession, table: String, predicate: Column,
      statsCol: Option[String] = None, maxRetries: Int = 16,
      changeFeed: Boolean = false, useDV: Boolean = false,
      dvMaxFraction: Double = 0.5): Long = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    val resolver = spark.sessionState.conf.resolver
    delete0(spark, table, pre, mapColumn(predicate, pre.colmap, resolver),
      mapStatsCol(statsCol, pre.colmap, resolver, "delete"), maxRetries,
      changeFeed, useDV, dvMaxFraction)
  }

  private def delete0(spark: SparkSession, table: String, entry: Replay,
      predicate: Column, statsCol: Option[String], maxRetries: Int,
      changeFeed: Boolean, useDV: Boolean, dvMaxFraction: Double): Long =
    transact(table, entry, "delete", maxRetries, deleteCommitHook) { replay =>
      deleteDerivations.incrementAndGet()
      if (replay.live.isEmpty) return replay.tip
      val live = replay.live.keysIterator.toSeq
      val reader = replay.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
      // phase 0: log-stats candidate prune (zero data I/O) — a file whose
      // stats provably exclude every predicate-TRUE row never even reaches
      // the touch scan: at 100k files a range delete stops paying per-file
      // open/footer cost for the 99% of the table it cannot affect.
      // Anything unprovable (no stats, unrecognized shapes, unparsable
      // strings) stays a candidate.
      val resolvedCond = resolveCondition(reader.parquet(live: _*), predicate)
      val tzId = spark.sessionState.conf.sessionLocalTimeZone
      val candidates = pruneByStats(live, replay, resolvedCond, tzId)
      deleteCandidateFiles.set(candidates.size)
      if (candidates.isEmpty) return replay.tip
      // phase 0.5: WHOLE-FILE drops (Delta's fully-covered-file delete) —
      // a file whose stats PROVE every row satisfies the predicate
      // (envelope inside the TRUE region AND a recorded null count of zero
      // on every referenced column — see mustMatchAll for why nulls gate
      // the proof) is removed as a pure metadata action: no read, no
      // rewrite, no staged bytes. A retention delete (`ts < cutoff`) on a
      // time-clustered 100 TB table becomes an O(files) metadata commit
      // instead of a table rewrite. (Valid on a DV'd file too: every
      // remaining LIVE row is a subset of "every physical row".)
      val covered: Set[String] = resolvedCond match {
        case Some(cond) => candidates.filter { p =>
          val a = replay.live(p)
          StatsSkipping.mustMatchAll(a.envelopes,
            a.stats.flatMap(st => st.nulls.map(st.col -> _)).toMap, cond, tzId)
        }.toSet
        case None => Set.empty
      }
      deleteCoveredFiles.set(covered.size)
      val touched = touchScan(spark, reader, candidates.filterNot(covered),
        replay.live, predicate)
      if (covered.isEmpty && touched.isEmpty) return replay.tip
      // phase 1.5 (opt-in): DELETION VECTORS — instead of rewriting a
      // touched file without its matching rows, publish a bitmap of the
      // deleted row positions and re-add the file with it: O(deleted rows)
      // commit cost instead of O(file bytes). A file whose accumulated
      // deleted fraction would exceed `dvMaxFraction` falls back to the
      // rewrite (read amplification on every later scan would outweigh the
      // write saving — the same rewrite-when-too-dirty rule Delta applies
      // at OPTIMIZE). Bitmaps are built DISTRIBUTED (per-file Roaring
      // aggregate); the driver collects compressed bitmaps, never row ids.
      val newBits: Map[String, org.roaringbitmap.RoaringBitmap] =
        if (!useDV || touched.isEmpty) Map.empty
        else Dv.bitmapsByFile(
          liveRowsWithPos(spark, reader, touched, replay.live)
            .where(coalesce(predicate, lit(false)))
            .select(col("__fp"), col("__idx")))
      val physRows: Map[String, Long] =
        if (!useDV || touched.isEmpty) Map.empty
        else {
          val recorded = touched.flatMap(p => replay.live(p).rows.map(p -> _)).toMap
          recorded ++ footerRowCounts(spark, touched.filterNot(recorded.contains))
        }
      val (dvTargets, rewriteTargets) =
        if (!useDV) (Seq.empty[String], touched)
        else touched.partition { p =>
          val bits = newBits.get(normalize(p))
          val phys = physRows.get(p)
          val oldCard = replay.live(p).dv.fold(0L)(_.card)
          (bits, phys) match {
            case (Some(b), Some(n)) if n > 0 =>
              (oldCard + b.getLongCardinality).toDouble / n <= dvMaxFraction
            case _ => false // unknowable size or no hits: conservative rewrite
          }
        }
      dvSwapFiles.set(if (useDV) dvTargets.size else -1L)
      // DV swaps: remove + re-add the SAME path with old∪new bitmap
      val dvActs = dvTargets.map(p => dvSwap(table, replay.live(p), newBits(normalize(p))))
      // keep rows where the predicate is FALSE or NULL (SQL DELETE keeps
      // null-valued predicates — only TRUE rows go); covered files stage
      // nothing — every one of their rows provably goes. The survivor read
      // is DV-masked: a row deleted by an earlier commit must not resurrect.
      val adds =
        if (rewriteTargets.isEmpty) Seq.empty
        else stageFiles(
          readLive(spark, reader, rewriteTargets, replay.live)
            .where(!coalesce(predicate, lit(false))),
          table, statsCol, replay.parts)
      // change-data sidecars (opt-in, Delta's enableChangeDataFeed shape):
      // the rows this delete removes from REWRITTEN files, stamped
      // 'delete' — one extra column-complete scan of those files. Covered
      // files need no sidecar ever (the allDeleted flag derives them), and
      // DV-swapped files need none either: the feed derives their deletions
      // exactly from the bitmap DIFF (new minus old) against the immutable
      // file — a DV delete feeds for free.
      val cdcActs =
        if (!changeFeed || rewriteTargets.isEmpty) Seq.empty
        else stageCdcFiles(
          readLive(spark, reader, rewriteTargets, replay.live)
            .where(coalesce(predicate, lit(false)))
            .withColumn("_change_type", lit("delete")), table)
      val removes = covered.toSeq.map(Remove(_, allDeleted = true)) ++
        rewriteTargets.map(Remove(_))
      val ourFiles = covered ++ touched
      // ORDER: removes precede adds so a same-path DV swap replays as
      // remove-then-add (Replay.take is order-sensitive per commit)
      val actions = removes ++ dvActs.map(_._1) ++ dvActs.map(_._2) ++
        adds ++ cdcActs ++
        // a commit that PUBLISHES a deletion vector stamps the protocol
        // feature — older/simpler engines must refuse, not resurrect
        (if (dvActs.isEmpty) Seq.empty
         else protocolBump(replay, Set("deletionVectors")))
      Write(actions, commitIsDisjointForPredicate(_, ourFiles, resolvedCond, tzId))
    }

  /** Candidate-file count of the last update's touch scan (test/diagnostic
    * instrumentation for the phase-0 log-stats prune). -1 = no update ran. */
  private[graft] val updateCandidateFiles =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Row-level transactional UPDATE — the in-place edit verb that completes
    * the write surface (append / overwrite / merge / delete have no way to
    * say "recompute THIS column of THESE rows" without round-tripping the
    * rows through the driver into a merge). SQL UPDATE semantics: rows where
    * `predicate` is TRUE get each SET column replaced by its expression;
    * rows where it is FALSE **or NULL** are kept byte-identical. Every SET
    * expression evaluates against the OLD row simultaneously — `SET a = b,
    * b = a` swaps, exactly as in SQL — because the rewrite is ONE Project
    * over the old rows, never a chain of dependent column substitutions.
    *
    * SCHEMA discipline (UPDATE edits, never evolves): a SET column must
    * already exist in the table schema, and its expression's type must
    * match the column's — or widen losslessly (`Cast.canUpCast`: an int
    * literal into a long column is fine, and the cast is inserted), while
    * anything lossy or incompatible is refused with [[SchemaMismatch]]
    * before any data is read (cast explicitly if you mean it).
    *
    * FILE-SCOPED like [[delete]] — a 1-row update on a 100 TB table must
    * not rewrite 100 TB: phase 0 tests the resolved predicate per file
    * against the log's recorded [min,max] envelopes (the shared
    * [[StatsSkipping]] conservative three-valued logic), the column-pruned
    * touch scan then collects the files holding at least one TRUE row, and
    * only those rewrite (read under the log schema, so pre-evolution files
    * null-fill); untouched files keep their add-actions by path identity.
    * A no-match update commits nothing and returns the current tip.
    *
    * CHECK constraints gate the rewritten output — unlike delete (which
    * only keeps rows that already passed), an UPDATE can move a row INTO
    * violation, so the staged bytes are enforced before the commit
    * publishes. The commit's op is `"update"` — a rewrite op, gating
    * [[readChanges]] and the streaming source exactly like merge/delete.
    * On a version conflict, the same DISJOINT-COMMIT ADMISSION as delete:
    * a winner that removed none of our files, changed no schema or
    * constraint, and added only files whose stats provably exclude a
    * predicate-matching row lets the SAME actions re-commit; anything
    * unprovable re-derives. `statsCol` re-records per-file min/max on the
    * rewritten output. Returns the committed version. */
  def update(spark: SparkSession, table: String, predicate: Column,
      set: Map[String, Column], statsCol: Option[String] = None,
      maxRetries: Int = 16, changeFeed: Boolean = false,
      useDV: Boolean = false, dvMaxFraction: Double = 0.5): Long = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    val resolver = spark.sessionState.conf.resolver
    // SET targets and every column reference in the predicate and SET
    // expressions translate to physical. Duplicates are refused HERE on
    // the translated names: two logical spellings of one column collapse
    // to the same physical, and folding them into the Map below would
    // silently pick a winner before update0's own dup check could see it.
    val setP = set.toSeq.map { case (c, e) =>
      (if (pre.colmap.isEmpty) c else physFor(pre.colmap, c, resolver, "update")) ->
        mapColumn(e, pre.colmap, resolver)
    }
    setP.groupBy(_._1).collect { case (n, as) if as.size > 1 => n } match {
      case dups if dups.nonEmpty => throw new SchemaMismatch(
        s"update: SET assigns ${dups.mkString(", ")} more than once after " +
          "column resolution — the winner would be silent")
      case _ => ()
    }
    update0(spark, table, pre, mapColumn(predicate, pre.colmap, resolver),
      setP.toMap,
      mapStatsCol(statsCol, pre.colmap, resolver, "update"), maxRetries,
      changeFeed, useDV, dvMaxFraction)
  }

  private def update0(spark: SparkSession, table: String, entry: Replay,
      predicate: Column, set: Map[String, Column], statsCol: Option[String],
      maxRetries: Int, changeFeed: Boolean, useDV: Boolean,
      dvMaxFraction: Double): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    transact(table, entry, "update", maxRetries, updateCommitHook) { replay =>
      updateDerivations.incrementAndGet()
      if (replay.live.isEmpty) return replay.tip
      val live = replay.live.keysIterator.toSeq
      val reader = replay.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
      val tableDf = reader.parquet(live: _*)
      val tableSchema = tableDf.schema
      // SET targets resolve with the SESSION resolver (case-insensitive by
      // default, like every column reference Spark analyzes) and are keyed
      // by the TABLE's spelling from here on — `SET V = ...` on column `v`
      // must hit `v`, not throw, and two targets that resolve to the SAME
      // field (`SET a=1, A=2` under the default resolver) are refused:
      // a Map would keep both and the rewrite Project would pick one winner
      // silently
      val resolver = spark.sessionState.conf.resolver
      val setSeq: Seq[(String, Column)] = set.toSeq.map { case (c, e) =>
        val f = tableSchema.fields.find(f => resolver(f.name, c)).getOrElse(
          throw new SchemaMismatch(
            s"update: SET column $c is not in the table schema " +
              s"(${tableSchema.fieldNames.mkString(", ")}) — UPDATE never adds columns"))
        f.name -> e
      }
      setSeq.groupBy(_._1).collect { case (n, as) if as.size > 1 => n } match {
        case dups if dups.nonEmpty => throw new SchemaMismatch(
          s"update: SET assigns ${dups.mkString(", ")} more than once after " +
            "column resolution — the winner would be silent")
        case _ => ()
      }
      setSeq.map(_._1).find(replay.gens.contains).foreach(g =>
        throw new SchemaMismatch(
          s"update: $g is GENERATED ALWAYS AS (${replay.gens(g)}) — it cannot " +
            "be SET; it recomputes from its inputs"))
      // resolved types of the SET expressions over the OLD row — an
      // analysis-only probe (limit 0), no data read, no job
      val probe = tableDf.limit(0).select(setSeq.map(_._2): _*).schema
      val assigns: Map[String, Column] = setSeq.zipWithIndex.map { case ((c, e), i) =>
        val want = tableSchema(c).dataType
        val got = probe(i).dataType
        val v =
          if (got == want) e
          else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(got, want))
            e.cast(want)
          else throw new SchemaMismatch(
            s"update: SET $c is ${got.simpleString} but the column is " +
              s"${want.simpleString} — only lossless widenings are implicit; " +
              "cast explicitly for anything else")
        c -> v
      }.toMap
      // phase 0 + touch scan: the same shared machinery as delete —
      // conservative envelope prune, then the column-pruned TRUE-row scan
      val resolvedCond = resolveCondition(tableDf, predicate)
      val tzId = spark.sessionState.conf.sessionLocalTimeZone
      val candidates = pruneByStats(live, replay, resolvedCond, tzId)
      updateCandidateFiles.set(candidates.size)
      if (candidates.isEmpty) return replay.tip
      val touched = touchScan(spark, reader, candidates, replay.live, predicate)
      if (touched.isEmpty) return replay.tip
      // DELETION-VECTOR path (opt-in, ALL-OR-NOTHING per commit): the
      // updated rows append as fresh POSTIMAGE-ONLY files and their old
      // versions mask via per-file bitmaps — O(updated rows), never a
      // touched-file rewrite. All-or-nothing because the change feed
      // derives a DV update exactly (bitmap diff = preimages, fresh adds =
      // postimages) ONLY when every fresh add is pure postimage; one
      // rewrite-path file in the same commit would make its adds
      // indistinguishable mixed rows. A file over `dvMaxFraction` fails
      // the whole commit over to the rewrite path below.
      val dvActions: Option[Seq[Action]] =
        if (!useDV) None
        else {
          val hits = liveRowsWithPos(spark, reader, touched, replay.live)
            .where(coalesce(predicate, lit(false)))
          val newBits = Dv.bitmapsByFile(hits.select(col("__fp"), col("__idx")))
          val recorded = touched.flatMap(p => replay.live(p).rows.map(p -> _)).toMap
          val physRows = recorded ++
            footerRowCounts(spark, touched.filterNot(recorded.contains))
          val allOk = touched.forall { p =>
            (newBits.get(normalize(p)), physRows.get(p)) match {
              case (Some(b), Some(n)) if n > 0 =>
                (replay.live(p).dv.fold(0L)(_.card) +
                  b.getLongCardinality).toDouble / n <= dvMaxFraction
              case _ => false
            }
          }
          if (!allOk) None
          else {
            dvSwapFiles.set(touched.size)
            // postimage rows: assignments apply UNCONDITIONALLY (every row
            // here is predicate-TRUE), projected back to the table schema;
            // generated columns recompute over the post image
            val post = recomputeGenerated(hits.select(tableSchema.fields.map { f =>
              assigns.get(f.name).map(_.as(f.name)).getOrElse(col(f.name))
            }.toSeq: _*), replay.gens)
            val adds = stageFiles(post, table, statsCol, replay.parts)
            val dvActs = touched.map(p =>
              dvSwap(table, replay.live(p), newBits(normalize(p))))
            // the fresh adds are exactly the NEW row versions — enforcement
            // on them covers everything this commit changes
            enforceConstraints(spark, adds, replay.schema, replay.cons.toMap, "update")
            // no sidecars even with changeFeed: the feed derives a pure-DV
            // update exactly (and for free) from the bitmap diff + adds
            Some(dvActs.map(_._1) ++ dvActs.map(_._2) ++ adds ++
              (if (dvActs.isEmpty) Seq.empty
               else protocolBump(replay, Set("deletionVectors"))))
          }
        }
      val actions = dvActions.getOrElse {
        // rewrite path (the default, and the DV fallback): ONE Project over
        // the old LIVE rows — TRUE rows take the SET expressions (all
        // evaluated against the old row), FALSE/NULL rows pass through.
        // GENERATED columns RECOMPUTE on hit rows only, over the POST
        // image (a second Project stage carrying a __hit flag: the SET may
        // change both the rule's inputs and the predicate's) — miss rows
        // keep their stored value, so pre-rule nulls are never backfilled.
        val stage1 = readLive(spark, reader, touched, replay.live)
          .withColumn("__hit", coalesce(predicate, lit(false)))
          .select((tableSchema.fields.map { f =>
            assigns.get(f.name) match {
              case Some(v) =>
                when(col("__hit"), v).otherwise(col(f.name)).as(f.name)
              case None => col(f.name)
            }
          } :+ col("__hit")).toSeq: _*)
        val updated = replay.gens.foldLeft(stage1) { case (d, (c, e)) =>
          d.withColumn(c, when(col("__hit"), expr(e)).otherwise(col(c)))
        }.drop("__hit")
        val adds = stageFiles(updated, table, statsCol, replay.parts)
        // change-data sidecars (opt-in): old and new images of exactly the
        // rows the predicate hit — the assignments apply UNCONDITIONALLY to
        // the post frame because every row in it is a TRUE row
        val cdcActs =
          if (!changeFeed) Seq.empty
          else {
            val hit = readLive(spark, reader, touched, replay.live)
              .where(coalesce(predicate, lit(false)))
            val pre = hit.withColumn("_change_type", lit("update_preimage"))
            val post = recomputeGenerated(hit.select(tableSchema.fields.map { f =>
              assigns.get(f.name).map(_.as(f.name)).getOrElse(col(f.name))
            }.toSeq: _*), replay.gens)
              .withColumn("_change_type", lit("update_postimage"))
            stageCdcFiles(pre.unionByName(post), table)
          }
        enforceConstraints(spark, adds, replay.schema, replay.cons.toMap, "update")
        touched.map(Remove(_)) ++ adds ++ cdcActs
      }
      Write(actions, commitIsDisjointForPredicate(_, touched.toSet, resolvedCond, tzId))
    }
  }

  /** Row-level CHANGE FEED over a version range — the batch CDF read that
    * completes the log-tailing story ([[changes]] gives files, this gives
    * ROWS): every row added by the commits in (`fromExclusive`,
    * `toInclusive`] stamped with `_commit_version` and `_commit_op`. For an
    * append-style range this is the exact row-level change history.
    * `optimize` commits are skipped (bytes rewritten, no row change);
    * `overwrite`/`merge` commits are refused unless `includeRewrites =
    * true`, which re-emits their added files (rewritten rows stamp the
    * rewrite's version — the same caveat as the streaming source's
    * `ignoreChanges`).
    *
    * SCALE shape: ONE parquet scan over the union of the range's files —
    * not a per-version union plan — with the file→version attribution done
    * by a broadcast-sized join on `_metadata.file_path` (O(files) rows).
    * Reads under the log schema, so pre-evolution files null-fill. */
  def readChanges(spark: SparkSession, table: String, fromExclusive: Long,
      toInclusive: Long = Long.MaxValue,
      includeRewrites: Boolean = false): DataFrame = {
    // one replay at the range start, advanced over the range's commits —
    // each commit file is opened once (as in readChangeFeed)
    val tip = math.min(latestVersion(table), toInclusive)
    val from = math.max(0L, math.min(fromExclusive, tip))
    val start = replayAdds(table, from, useCheckpoint = true)
    val walked = (from + 1 to tip).map(readCommit(table, _))
    val endState = readable(start.advance(walked), table)
    val cs = walked.zip(from + 1 to tip).map { case (acts, v) => commitOf(v, acts) }.filter { c =>
      c.op match {
        case "append"   => true
        case "optimize" => false
        // metadata-only OPS add no rows by definition — skipping is exact.
        // Deliberately op-based, NOT `added.isEmpty`: a remove-only rewrite
        // (e.g. a restore that truncates the table) DOES change rows and
        // must keep failing loudly below, not silently vanish from the feed
        case "addConstraint" | "dropConstraint" | "alter" => false
        case other =>
          if (includeRewrites) true
          else throw new IllegalStateException(
            s"readChanges on $table hit a $other commit at version ${c.version}: " +
              "its adds are rewritten old rows. Pass includeRewrites = true to " +
              "emit them stamped with the rewrite's version.")
      }
    }
    val fileVer: Seq[(String, Long, String)] =
      cs.flatMap(c => c.added.map(p => (normalize(p), c.version, c.op)))
    val schemaOpt = endState.schema
    // COLUMN MAPPING: file bytes carry physical names; the feed presents
    // the LOGICAL view under the range-END mapping (physical identities
    // are rename-stable, so rows written before a rename surface under
    // the current name — Delta's column-mapping CDF posture)
    def logical(df: DataFrame): DataFrame =
      toLogicalDf(df, endState.colmap, keep = Seq("_commit_version", "_commit_op"))
    if (fileVer.isEmpty) {
      val base = schemaOpt match {
        case Some(j) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schemaOf(j))
        case None    => spark.emptyDataFrame
      }
      return logical(base.withColumn("_commit_version", lit(null).cast("long"))
        .withColumn("_commit_op", lit(null).cast("string")))
    }
    import spark.implicits._
    val reader = schemaOpt.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
    val data = reader.parquet(fileVer.map(_._1).distinct: _*)
      .withColumn("__fp", uriPathUdf(col("_metadata.file_path")))
    logical(data.join(
      broadcast(fileVer.toDF("__fp", "_commit_version", "_commit_op")), "__fp")
      .drop("__fp"))
  }

  /** EXACT row-level CHANGE FEED (Delta's CDF read): every row changed by
    * the commits in (`fromExclusive`, `toInclusive`], stamped
    * `_change_type` ('insert' / 'delete' / 'update_preimage' /
    * 'update_postimage') and `_commit_version`. Unlike [[readChanges]] —
    * the file-level feed whose rewrite handling re-emits whole files —
    * this reads recorded change EVIDENCE:
    *  - append/convert/clone commits: their adds, as 'insert';
    *  - delete/update commits: their `cdc` sidecar files (written when
    *    the verb ran with `changeFeed = true`), plus 'delete' rows derived
    *    from removes flagged `allDeleted` (covered whole-file drops —
    *    the flag is recorded free at write time, the rows read lazily
    *    here, so the drop itself stays zero-read); a rewrite commit that
    *    recorded NO sidecars is refused by version (the evidence does not
    *    exist — rerun the verb with changeFeed on);
    *  - overwrite/restore commits: derived exactly with no sidecars —
    *    removes are 'delete' rows, adds are 'insert' rows (both file sets
    *    are immutable and on disk until vacuum);
    *  - optimize / metadata commits: skipped (no row changes);
    *  - merge commits: their sidecars when the merge ran with `changeFeed
    *    = true` (matched keys as pre/post image pairs, unmatched update
    *    rows as inserts); refused by version otherwise.
    *
    * SCALE shape: THREE scans total (derived inserts, derived deletes,
    * cdc rows), each attributed to its version by a broadcast O(files)
    * join — never a per-version union plan. Reads under the range-end log
    * schema. RETENTION: derived deletes read REMOVED files, so the feed
    * reaches only as far back as vacuum retention — the same rule as time
    * travel (and vacuum keeps each retained version's cdc sidecars). */
  def readChangeFeed(spark: SparkSession, table: String, fromExclusive: Long,
      toInclusive: Long = Long.MaxValue): DataFrame = {
    val tip = math.min(latestVersion(table), toInclusive)
    // the walk is O(versions × log lines) DRIVER-side metadata — the same
    // posture as Delta, fine at sane retention, but a caller asking for a
    // 10⁵-version range is usually tailing from 0 by accident; surface it
    // rather than silently grinding
    if (tip - math.max(0L, fromExclusive) > 100000L)
      log.warn(s"readChangeFeed on $table spans ${tip - fromExclusive} versions " +
        "of driver-side commit-file metadata — for incremental consumption " +
        "pass a recent fromExclusive (e.g. the last version you processed)")
    // one row SOURCE per (file, version, change type): emit the file's rows
    // whose physical position is in `inDv` (None ⇒ all rows) and NOT in
    // `notInDv` (None ⇒ none masked). The one shape serves every derived
    // kind — plain inserts (None, None), DV-masked inserts of clone/restore
    // adds (None, dv), covered-file drops on a previously-DV'd file
    // (None, oldDv), and the DV DIFF of a vectorized delete/update
    // (newDv, oldDv) — so the read below stays a fixed number of scans.
    final case class Src(path: String, v: Long, typ: String,
        inDv: Option[String], notInDv: Option[String])
    var srcs = Vector.empty[Src]
    var cdcs = Vector.empty[(String, Long)]
    // DV state AT the range start: diffs and covered drops must not
    // re-emit rows already deleted before the range
    val from = math.max(0L, math.min(fromExclusive, tip))
    val start = replayAdds(table, from, useCheckpoint = true)
    val dvState = scala.collection.mutable.Map.empty[String, String]
    start.live.foreach { case (p, a) => a.dv.foreach(r => dvState(p) = r.path) }
    val walked = (from + 1 to tip).map { v =>
      val acts = readCommit(table, v)
      val op = opOf(acts)
      val addActs = acts.collect { case a: Add => a }
      val adds = addActs.map(_.path)
      val addDv: Map[String, Option[String]] =
        addActs.map(a => a.path -> a.dv.map(_.path)).toMap
      val removes = acts.collect { case r: Remove => r.path }
      val cdcFiles = acts.collect { case Cdc(path) => path }
      val allDel = acts.collect { case Remove(path, true) => path }
      // a DV SWAP: the same path removed and re-added with a bitmap —
      // the file did not move, rows at (new − old) positions went away
      val swaps: Set[String] =
        adds.filter(a => addDv(a).isDefined && removes.contains(a)).toSet
      op match {
        case "append" | "convert" | "clone" =>
          // a clone re-records src adds with their DVs — a DV'd add
          // inserts only its live rows
          srcs ++= adds.map(a => Src(a, v, "insert", None, addDv(a)))
        case "optimize" | "addConstraint" | "dropConstraint" | "alter" => ()
        case "delete" | "update" =>
          // the refusal condition is UNRECORDED ROW REMOVALS: any remove
          // that is neither allDeleted-flagged (derivable from the file)
          // nor a DV swap (derivable from the bitmap diff) means rows
          // went away whose evidence is neither derivable nor recorded —
          // including a rewrite that staged zero survivor files, which
          // an adds-based proxy would silently omit from the feed
          val plain = removes.filter(r => !allDel.contains(r) && !swaps(r))
          if (cdcFiles.isEmpty && plain.nonEmpty)
            throw new IllegalStateException(
              s"readChangeFeed on $table: the $op at version $v removed rows " +
                "but recorded no change-data sidecars — run the verb with " +
                "changeFeed = true (covered-only and DV deletes need no sidecar)")
          cdcs ++= cdcFiles.map(_ -> v)
          // covered whole-file drop: every LIVE row deleted — mask the
          // rows an earlier DV already removed
          srcs ++= allDel.map(a => Src(a, v, "delete", None, dvState.get(a)))
          // DV swaps: bitmap DIFF (new minus old) = exactly this commit's
          // removals, read from the immutable file — the write recorded
          // nothing but the bitmap, the feed stays exact
          val diffType = if (op == "delete") "delete" else "update_preimage"
          srcs ++= swaps.toSeq.sorted.map(a =>
            Src(a, v, diffType, addDv(a), dvState.get(a)))
          // a pure-DV update's fresh adds are POSTIMAGE-ONLY by
          // construction (the writer's all-or-nothing rule)
          if (op == "update" && cdcFiles.isEmpty && swaps.nonEmpty)
            srcs ++= adds.filterNot(swaps).map(a =>
              Src(a, v, "update_postimage", None, None))
        case "overwrite" | "restore" =>
          srcs ++= removes.map(r => Src(r, v, "delete", None, dvState.get(r)))
          srcs ++= adds.map(a => Src(a, v, "insert", None, addDv(a)))
        case "merge" =>
          if (cdcFiles.isEmpty)
            throw new IllegalStateException(
              s"readChangeFeed on $table: the merge at version $v recorded no " +
                "change-data sidecars — run the merge with changeFeed = true")
          cdcs ++= cdcFiles.map(_ -> v)
        case other =>
          throw new IllegalStateException(
            s"readChangeFeed on $table: no row-level change evidence for the " +
              s"$other commit at version $v — use readChanges(includeRewrites " +
              "= true) with key-dedup downstream")
      }
      // carry DV state THROUGH the commit: removes clear, dv-adds set,
      // plain adds clear any stale entry (a fresh path never has one)
      removes.foreach(dvState.remove)
      adds.foreach(a => addDv(a) match {
        case Some(dv) => dvState(a) = dv
        case None     => dvState.remove(a)
      })
      acts
    }
    // the range-end state: the start advanced by the commits just walked
    val end = readable(start.advance(walked), table)
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import spark.implicits._
    val logSchema: StructType =
      end.schema match {
        case Some(j) => schemaOf(j)
        case None =>
          val sample = srcs.map(_.path) ++ cdcs.map(_._1)
          if (sample.isEmpty) snapshotOf(end).read(spark).schema
          else StructType(spark.read.parquet(sample: _*).schema
            .filterNot(_.name == "_change_type"))
      }
    val cdcSchema = StructType(logSchema.fields :+
      StructField("_change_type", StringType, nullable = true))
    // paths MUST dedupe before each scan: a file attributed to several
    // versions (append v1, overwrite-removed v4, restore re-added v5)
    // appears once per version in the source list, and
    // spark.read.parquet(p, p) reads the rows TWICE — each physical copy
    // would then join every matching version entry, squaring the
    // duplication. One physical read per file; the broadcast join alone
    // fans rows out to their versions, which is exactly the multiplicity
    // the feed owes.
    // Sources WITHOUT bitmaps (the bulk — plain appends) take the
    // codegen-clean broadcast-join path; bitmap-bearing sources add the
    // per-row position test against broadcast-referenced sidecars.
    val (plainSrcs, dvSrcs) =
      srcs.partition(s => s.inDv.isEmpty && s.notInDv.isEmpty)
    def plainFrame(files: Vector[(String, Long, String)]): Option[DataFrame] =
      if (files.isEmpty) None
      else {
        val df = spark.read.schema(logSchema)
          .parquet(files.map(_._1).distinct: _*)
          .withColumn("__fp", uriPathUdf(col("_metadata.file_path")))
        val m = files.map { case (p, v, t) => (normalize(p), v, t) }.distinct
        Some(df.join(
          broadcast(m.toDF("__fp", "_commit_version", "_change_type")), "__fp")
          .drop("__fp"))
      }
    def dvFrame: Option[DataFrame] =
      if (dvSrcs.isEmpty) None
      else {
        val df = spark.read.schema(logSchema)
          .parquet(dvSrcs.map(_.path).distinct: _*)
          .withColumn("__fp", uriPathUdf(col("_metadata.file_path")))
          .withColumn("__idx", col("_metadata.row_index"))
        val m = dvSrcs.map(s =>
          (normalize(s.path), s.v, s.typ, s.inDv.orNull, s.notInDv.orNull)).distinct
        val keep = udf { (inDv: String, notDv: String, idx: Long) =>
          (inDv == null ||
            (idx <= Int.MaxValue && Dv.read(inDv).contains(idx.toInt))) &&
          (notDv == null || idx > Int.MaxValue ||
            !Dv.read(notDv).contains(idx.toInt))
        }
        Some(df.join(
          broadcast(m.toDF("__fp", "_commit_version", "_change_type", "__in", "__not")),
          "__fp")
          .where(keep(col("__in"), col("__not"), col("__idx")))
          .drop("__fp", "__idx", "__in", "__not"))
      }
    def cdcFrame: Option[DataFrame] =
      if (cdcs.isEmpty) None
      else {
        val df = spark.read.schema(cdcSchema)
          .parquet(cdcs.map(_._1).distinct: _*)
          .withColumn("__fp", uriPathUdf(col("_metadata.file_path")))
        val m = cdcs.map { case (p, v) => (normalize(p), v) }.distinct
        Some(df.join(broadcast(m.toDF("__fp", "_commit_version")), "__fp")
          .drop("__fp"))
      }
    val frames = Seq(
      plainFrame(plainSrcs.map(s => (s.path, s.v, s.typ))),
      dvFrame, cdcFrame).flatten
    val raw = frames match {
      case Nil =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), cdcSchema)
          .withColumn("_commit_version", lit(null).cast("long"))
      case fs => fs.reduce(_.unionByName(_))
    }
    // COLUMN MAPPING: evidence files (data + cdc sidecars) carry physical
    // names; the feed presents the LOGICAL view under the range-END
    // mapping — physical identities are rename-stable, so a row written
    // before a rename surfaces under the current name, and a dropped
    // column simply leaves the feed (Delta's column-mapping CDF posture)
    toLogicalDf(raw, end.colmap, keep = Seq("_change_type", "_commit_version"))
  }

  /** Read-side DATA SKIPPING — the scan counterpart of merge's stats prune
    * (what Delta/Iceberg do with their file-level column stats before
    * handing files to the scan): restrict the live file list to files whose
    * recorded [min,max] of `keyCol` can intersect [lo, hi], then scan only
    * those. Files without stats on `keyCol` are conservatively kept (opaque
    * — never wrongly skipped). The residual predicate is still applied —
    * stats bound files, rows inside a kept file are filtered by the scan's
    * own pushdown — so the result is EXACTLY the range filter, just with
    * O(files-hit) instead of O(files) I/O. Comparisons happen in the key's
    * own type via a cast of the recorded strings (the same discipline as
    * merge's phase 1), never as raw strings.
    *
    * At 100 TB this is the difference between a point lookup touching one
    * file and touching every file of the table; combined with
    * [[optimize]]'s Z-order clause, 2-D box predicates prune on both
    * dimensions. Returns the pruned DataFrame; `prunedFiles` exposes the
    * file list for tests/diagnostics. */
  def readPruned(spark: SparkSession, table: String, keyCol: String,
      lo: Any, hi: Any, asOf: Long = Long.MaxValue): DataFrame = {
    val r = replayAdds(table, asOf, useCheckpoint = true)
    // COLUMN MAPPING: the caller prunes on a LOGICAL name; stats are
    // recorded physical, and the output presents the logical view
    val keyP =
      if (r.colmap.isEmpty) keyCol
      else physFor(r.colmap, keyCol, spark.sessionState.conf.resolver, "readPruned")
    val files = prunedFrom(spark, r, keyP, lo, hi)
    if (files.isEmpty)
      snapshot(table, asOf).read(spark).limit(0).filter(lit(false))
    else {
      // pinned to the LOG schema like Snapshot.read and merge's rewrite
      // read: pre-evolution files in the pruned set must null-fill the
      // later columns, not narrow the output schema by footer inference;
      // deletion vectors masked like every live read
      val reader = r.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
      toLogicalDf(readLive(spark, reader, files, r.live)
        .filter(col(keyP) >= lit(lo) && col(keyP) <= lit(hi)), r.colmap)
    }
  }

  private[graft] def prunedFiles(spark: SparkSession, table: String,
      keyCol: String, lo: Any, hi: Any, asOf: Long = Long.MaxValue): Seq[String] =
    prunedFrom(spark,
      replayAdds(table, asOf, useCheckpoint = true),
      keyCol, lo, hi)

  private def prunedFrom(spark: SparkSession, r: Replay,
      keyCol: String, lo: Any, hi: Any): Seq[String] = {
    val withStats = r.live.toSeq.flatMap { case (path, a) =>
      a.stats.collect { case st if st.col == keyCol => (path, st.min, st.max) }
    }
    val opaque = r.live.keysIterator.toSet -- withStats.map(_._1)
    if (withStats.isEmpty) return r.live.keysIterator.toSeq
    // typed envelope test, evaluated DRIVER-SIDE via interpreted Catalyst
    // expressions (Cast + comparison on literals): same type semantics as
    // the SQL cast discipline merge's phase-1 uses, but with zero Spark
    // jobs — a point lookup must not pay a job just to pick its file list,
    // and at 100k files a local O(files) loop beats planning a local
    // relation. TRY eval mode: a cast that yields null (malformed stat)
    // keeps the file — conservative, never wrongly skipped (and under ANSI
    // a plain cast would throw instead). The timezone is the SESSION's,
    // matching stageFiles' SQL cast-to-string on the write side — a
    // hardcoded zone would shift re-parsed timestamp envelopes by the
    // session offset and silently skip files holding matching rows.
    import org.apache.spark.sql.catalyst.expressions.{And, Cast, EvalMode, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val keyType = Literal(lo).dataType
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def cast(s: String) = Cast(Literal(s), keyType, tz, EvalMode.TRY)
    def intersects(mn: String, mx: String): Boolean =
      And(
        GreaterThanOrEqual(cast(mx), Literal(lo)),
        LessThanOrEqual(cast(mn), Literal(hi)))
        .eval() match {
        case b: java.lang.Boolean => b.booleanValue()
        case _                    => true // null compare ⇒ conservative keep
      }
    val hit = withStats.collect { case (path, mn, mx) if intersects(mn, mx) => path }
    (hit ++ opaque).toSeq
  }

  /** Roll the table BACK to the state of `version` as a NEW commit (Delta's
    * RESTORE): the restored snapshot's files are re-added (their original
    * add actions, so stats survive), every other currently
    * live file is removed, and history is preserved — the rollback is
    * itself a versioned, time-travelable event, not a rewind. No data is
    * copied or rewritten: both file sets already exist immutably, so
    * restore is a pure O(files) metadata commit. Fails if `version` is in
    * the future, and is a metadata no-op commit when the states already
    * agree. The restored-to files must not have been vacuumed (same
    * retention rule as time travel). Returns the new version. */
  def restore(table: String, version: Long, maxRetries: Int = 16): Long = {
    require(version >= 1, s"cannot restore to version $version")
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    require(version <= pre.tip,
      s"cannot restore $table to future version $version (tip ${pre.tip})")
    val target = replayAdds(table, version, useCheckpoint = true)
    transact(table, pre, "restore", maxRetries) { cur =>
      val adds = target.live.valuesIterator.toSeq
      val removes = (cur.live.keySet -- target.live.keySet).toSeq.map(Remove(_))
      // the restored schema rides along: readers of the new tip must see
      // the OLD shape again (a post-restore append re-enforces against it)
      val schemaActs = target.schema.filterNot(cur.schema.contains).map(Schema).toSeq
      Write(adds ++ removes ++ schemaActs)
    }
  }

  /** CONVERT TO TXLOG (Delta's CONVERT TO DELTA): adopt an EXISTING
    * directory of parquet files as a txlog table IN PLACE — version 1
    * references the files exactly where they already sit, so a 100 TB
    * directory converts with zero bytes copied or rewritten (the migration
    * path from a plain parquet lake). The commit records the directory's
    * parquet schema; `statsCol` optionally computes per-file min/max in one
    * column-pruned scan so file-scoped MERGE and data skipping work from
    * the first post-convert query. After convert the directory IS the
    * table: all verbs apply, and [[vacuum]] (which sweeps the whole table
    * root, `_txlog` excluded) collects converted files once a later
    * rewrite retires them past the retention/grace rules, like any other
    * data file. Fails if the directory is already a txlog table or holds
    * no parquet files. Returns 1, the created version. */
  def convert(spark: SparkSession, dir: String,
      statsCol: Option[String] = None): Long = {
    require(latestVersion(dir) == 0L,
      s"$dir is already a txlog table (tip ${latestVersion(dir)})")
    val root = Paths.get(dir)
    require(Files.isDirectory(root), s"convert target $dir is not a directory")
    // hidden-path discipline: Spark's own file index ignores any path with
    // a component starting with `_` or `.` (committer litter like
    // _temporary/attempt-*/part-*.parquet, _SUCCESS, dot-files) — convert
    // must apply the SAME rule, or a directory holding a crashed write's
    // half-duplicates would be adopted with double-counted rows a plain
    // spark.read.parquet of the directory never sees
    def visible(p: Path): Boolean =
      root.relativize(p).iterator().asScala.forall { seg =>
        val s = seg.toString
        !s.startsWith("_") && !s.startsWith(".")
      }
    val files: Seq[String] = scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && visible(p))
        .map(_.toString).toList.sorted
    }
    require(files.nonEmpty, s"convert target $dir holds no parquet files")
    val schema = spark.read.parquet(files: _*).schema
    // per-file stats keyed by DECODED absolute path (unlike stageFiles'
    // fresh single dir, a pre-existing tree can repeat file names)
    val cols: Seq[String] =
      statsCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // footer fast path first (same trust rules as stageFiles — row counts
    // ride the same footer open); scan fallback is byte-identical
    val footerMeta: Option[Map[String, ParquetFooters.Meta]] =
      ParquetFooters.metaAll(spark, files, cols)
    val stats: Map[String, Seq[ColStat]] = footerMeta match {
      case Some(metas) => metas.map { case (p, m) =>
        normalize(p) -> cols.flatMap(k =>
          m.stats.get(k).map { case (mn, mx, nl) => ColStat(k, mn, mx, Some(nl)) })
      }
      case None if cols.isEmpty => Map.empty
      case None =>
        val aggs = cols.flatMap(k => Seq(
          min(col(k)).cast("string").as(s"__mn_$k"),
          max(col(k)).cast("string").as(s"__mx_$k"),
          sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"__nl_$k")))
        spark.read.parquet(files: _*)
          .select(col("_metadata.file_path").as("__fp") +: cols.map(col): _*)
          .groupBy("__fp").agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val abs = normalize(new java.net.URI(r.getString(0)).getPath)
            abs -> cols.flatMap { k =>
              (Option(r.getAs[String](s"__mn_$k")), Option(r.getAs[String](s"__mx_$k"))) match {
                case (Some(mn), Some(mx)) =>
                  Some(ColStat(k, mn, mx, Some(r.getAs[Long](s"__nl_$k"))))
                case _ => None
              }
            }
          }.toMap
    }
    val rowsOf: Map[String, Long] = footerMeta match {
      case Some(metas) => metas.map { case (p, m) => p -> m.rows }
      case None        => footerRowCounts(spark, files)
    }
    val adds = files.map { p =>
      val abs = normalize(p)
      Add(abs, rowsOf.get(p), fileSize(p), stats.getOrElse(abs, Seq.empty))
    }
    commit(dir, 1L, adds :+ Schema(schema.json), "convert")
    1L
  }

  /** CHECK constraints — Delta's `ALTER TABLE ADD CONSTRAINT` discipline.
    * A constraint is a row-level SQL predicate recorded in the log (name →
    * expression, latest wins; checkpoints carry the set forward like txn
    * watermarks); every data-adding write is enforced against the FULL
    * current set before its commit publishes. SQL CHECK semantics: a row
    * passes when the predicate is TRUE **or NULL** — only FALSE violates.
    *
    * ADD validates the EXISTING table first (one column-pruned scan): a
    * constraint the current rows violate is refused, so a recorded
    * constraint is always an invariant of the whole table, not just of
    * future writes. Enforcement on writes reads the JUST-STAGED files (one
    * cheap column-pruned scan of the new bytes, never the table) under the
    * log schema — a write missing the constraint's column null-fills and
    * passes, the same null semantics as SQL CHECK. Violation aborts BEFORE
    * the commit: the staged files stay unreferenced (vacuum's, like any
    * failed writer) and the table never sees the bad rows.
    *
    * Exemptions, by the same reasoning Delta applies: `delete` keeps a
    * subset of rows that already passed; `optimize` is content-neutral;
    * `restore` re-publishes rows that were valid under the constraints OF
    * THEIR TIME (restoring past an ADD is possible and documented — the
    * alternative, scanning the restored snapshot, is available by calling
    * addConstraint again after the restore). */
  def addConstraint(spark: SparkSession, table: String, name: String,
      exprSql: String, maxRetries: Int = 16): Long = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    // COLUMN MAPPING: the caller writes the CHECK in logical names; the
    // stored expression must speak PHYSICAL ones (enforcement scans staged
    // physical files). Parse with Spark's OWN parser (real operator nodes,
    // whose .sql re-renders as valid infix — an UnresolvedFunction would
    // render `>=`(a, b) and fail re-parsing), translate, re-render.
    val resolver = spark.sessionState.conf.resolver
    val storedSql =
      if (pre.colmap.isEmpty) exprSql
      else spark.sessionState.sqlParser.parseExpression(exprSql).transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          pre.colmap.collectFirst { case (l, p) if resolver(a.nameParts.last, l) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
              a.nameParts.init :+ p)
          }.getOrElse(a)
      }.sql
    val pred = expr(storedSql) // malformed expressions fail HERE, loudly
    // each attempt validates its own state — a concurrently appended row
    // that violates must block the constraint
    transact(table, pre, "addConstraint", maxRetries) { r =>
      if (r.live.nonEmpty) {
        val reader = r.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
        val bad = reader.parquet(r.live.keysIterator.toSeq: _*)
          .where(!coalesce(pred, lit(true))).limit(1).count()
        if (bad > 0) throw new ConstraintViolation(
          s"cannot add CHECK constraint $name ($exprSql) on $table: existing rows violate it")
      }
      Write(Seq(Constraint(name, storedSql)))
    }
  }

  // ==== COLUMN MAPPING verbs (the Delta column-mapping surface): RENAME
  // and DROP COLUMN as PURE METADATA commits — zero bytes rewritten, on a
  // 100 TB table exactly as cheap as on an empty one. Files keep immutable
  // PHYSICAL names; the mapping (logical → physical) is table metadata,
  // replayed like the schema and carried by checkpoints. Stats, DVs,
  // constraints and the partition spec all stay keyed physical, so every
  // existing mechanism — skipping, masking, enforcement, pruning —
  // composes unchanged. ====

  /** Turn column mapping ON: record the identity mapping (logical =
    * physical for every current column) plus the protocol feature gate.
    * No-op when already mapped. RENAME/DROP/ADD COLUMN auto-enable, so
    * calling this explicitly is only needed to stamp the protocol early. */
  def enableColumnMapping(table: String, maxRetries: Int = 16): Long =
    alterMapping(table, "enableColumnMapping", maxRetries) { (r, m) =>
      (m, Seq.empty)
    }

  /** RENAME a column — a metadata-only commit (Delta needs column mapping
    * for exactly this). Old files keep their physical bytes; every read
    * from this version on presents the new logical name. */
  def renameColumn(table: String, oldName: String, newName: String,
      maxRetries: Int = 16): Long =
    alterMapping(table, "renameColumn", maxRetries) { (r, m) =>
      val resolver = caseInsensitiveResolver
      val idx = m.indexWhere { case (l, _) => resolver(l, oldName) }
      if (idx < 0) throw new SchemaMismatch(
        s"renameColumn: column $oldName is not in the table schema " +
          s"(${m.map(_._1).mkString(", ")})")
      if (m.zipWithIndex.exists { case ((l, _), i) => i != idx && resolver(l, newName) })
        throw new SchemaMismatch(
          s"renameColumn: column $newName already exists in $table")
      (m.updated(idx, (newName, m(idx)._2)), Seq.empty)
    }

  /** DROP a column — a metadata-only commit: the physical data stays in
    * the files (and in time travel / the feed below this version) but
    * leaves the logical schema. Refused for partition columns and for
    * columns a CHECK constraint still references (drop those first —
    * Delta refuses the same way). */
  def dropColumn(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 16): Long =
    alterMapping(table, "dropColumn", maxRetries) { (r, m) =>
      val resolver = caseInsensitiveResolver
      val idx = m.indexWhere { case (l, _) => resolver(l, name) }
      if (idx < 0) throw new SchemaMismatch(
        s"dropColumn: column $name is not in the table schema " +
          s"(${m.map(_._1).mkString(", ")})")
      if (m.size == 1) throw new SchemaMismatch(
        s"dropColumn: cannot drop the last column of $table")
      val phys = m(idx)._2
      if (r.parts.exists(resolver(_, phys))) throw new SchemaMismatch(
        s"dropColumn: $name is a partition column of $table — " +
          "repartition (overwrite) before dropping it")
      r.cons.foreach { case (cn, exprSql) =>
        val refs = spark.sessionState.sqlParser.parseExpression(exprSql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }
        if (refs.exists(resolver(_, phys))) throw new SchemaMismatch(
          s"dropColumn: CHECK constraint $cn still references $name — " +
            "drop the constraint first")
      }
      // a GENERATED rule on ANOTHER column that reads this one would
      // become unevaluable — refuse (the rule ON the dropped column itself
      // simply goes with it)
      r.gens.foreach { case (gn, exprSql) =>
        if (gn != phys) {
          val refs = spark.sessionState.sqlParser.parseExpression(exprSql).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.last
          }
          if (refs.exists(resolver(_, phys))) throw new SchemaMismatch(
            s"dropColumn: generated column $gn still references $name — " +
              "drop it first")
        }
      }
      (m.patch(idx, Nil, 1),
        if (r.gens.contains(phys)) Seq(DropGencol(phys))
        else Seq.empty)
    }

  /** ADD a column — a metadata-only commit: the physical schema gains a
    * FRESH physical field (old files null-fill on read; re-adding a
    * previously dropped logical name can never resurrect its old bytes,
    * because the fresh physical name is unique against every name the
    * schema has ever recorded). */
  def addColumn(table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      maxRetries: Int = 16): Long =
    alterMapping(table, "addColumn", maxRetries) { (r, m) =>
      val (entry, acts) = newColumnActs(r, m, name, dataType, "addColumn")
      (m :+ entry, acts)
    }

  /** ADD a GENERATED column (Delta's generated columns): the rule —
    * `name GENERATED ALWAYS AS (exprSql)`, stored in PHYSICAL names — is
    * table metadata. Writes that OMIT the column get it computed; writes
    * that carry it are verified row-exactly at commit (append-shaped
    * verbs), and rewrite verbs (UPDATE/mergeFull) RECOMPUTE post-images so
    * changing a rule's inputs refreshes the derived value. Rows written
    * BEFORE the rule existed null-fill on read, like any added column. */
  def addGeneratedColumn(spark: SparkSession, table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType, exprSql: String,
      maxRetries: Int = 16): Long =
    alterMapping(table, "addGeneratedColumn", maxRetries,
        bumpWriter = Set("generatedColumns")) { (r, m) =>
      val resolver = caseInsensitiveResolver
      val (entry, acts) = newColumnActs(r, m, name, dataType, "addGeneratedColumn")
      // the stored rule speaks PHYSICAL names (it runs against staged
      // bytes); a self-reference stays untranslated and fails the probe
      val physExpr = spark.sessionState.sqlParser.parseExpression(exprSql)
        .transformUp {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            m.collectFirst { case (l, p) if resolver(a.nameParts.last, l) =>
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
                a.nameParts.init :+ p)
            }.getOrElse(a)
        }.sql
      // analysis + type probe on an EMPTY physical frame: the rule must
      // resolve against the schema and yield the declared type (or upcast)
      val cur = r.schema.map(schemaOf).get // newColumnActs proved presence
      val probe =
        try spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
          .select(expr(physExpr)).schema.head.dataType
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new SchemaMismatch(
            s"addGeneratedColumn: GENERATED ALWAYS AS ($exprSql) does not " +
              s"resolve against $table's schema (${e.getMessage.linesIterator.take(1).mkString})")
        }
      val stored =
        if (probe == dataType) physExpr
        else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(probe, dataType))
          s"CAST(($physExpr) AS ${dataType.sql})"
        else throw new SchemaMismatch(
          s"addGeneratedColumn: the rule yields ${probe.simpleString} but the " +
            s"column is declared ${dataType.simpleString} — only lossless " +
            "widenings are implicit")
      (m :+ entry, acts :+ Gencol(entry._2, stored))
    }

  /** Shared ADD COLUMN mechanics: uniqueness, fresh physical name, the
    * extended physical schema line. */
  private def newColumnActs(r: Replay, m: Seq[(String, String)], name: String,
      dataType: org.apache.spark.sql.types.DataType,
      op: String): ((String, String), Seq[Action]) = {
    val resolver = caseInsensitiveResolver
    if (m.exists { case (l, _) => resolver(l, name) })
      throw new SchemaMismatch(s"$op: column $name already exists")
    val phys = freshPhysName(name, m, r.schema)
    val cur = r.schema.map(schemaOf).getOrElse(
      sys.error(s"$op: the table has no recorded schema"))
    val newSchema = org.apache.spark.sql.types.StructType(
      cur.fields :+ org.apache.spark.sql.types.StructField(phys, dataType, nullable = true))
    ((name, phys), Seq(Schema(newSchema.json)))
  }

  /** Spark's default (case-insensitive) resolver — the ALTER verbs have no
    * session at hand and must match how analysis resolves names. */
  private def caseInsensitiveResolver: (String, String) => Boolean =
    (a, b) => a.equalsIgnoreCase(b)

  /** Shared ALTER transaction: replay → writable gate → auto-enable mapping
    * (identity over the recorded schema) → apply `f` (new mapping, extra
    * actions) → commit mapping + protocol bump, optimistic-retried.
    * `bumpWriter` stamps EXTRA writer-only features beyond columnMapping
    * (e.g. generatedColumns — readable by any engine since values are
    * materialized, but a writer that ignores the rule lines would violate
    * GENERATED ALWAYS, so it must be fenced out). */
  private def alterMapping(table: String, op: String, maxRetries: Int,
      bumpWriter: Set[String] = Set.empty)(
      f: (Replay, Seq[(String, String)]) => (Seq[(String, String)], Seq[Action])): Long = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    requireWritable(pre, table, op)
    transact(table, pre, "alter", maxRetries) { r =>
      val base =
        if (r.colmap.nonEmpty) r.colmap
        else r.schema.map(j => schemaOf(j).fieldNames.toSeq.map(n => (n, n)))
          .getOrElse(sys.error(
            s"$op: $table has no recorded schema — column mapping needs one " +
              "(legacy tables: overwrite once to record it)"))
      val (m, extra) = f(r, base)
      val acts = (if (m == r.colmap) Seq.empty else Seq(Colmap(m))) ++
        extra ++ protocolBump(r, Set("columnMapping"), bumpWriter)
      if (acts.isEmpty) return r.tip // already in the asked-for state
      Write(acts)
    }
  }

  /** Drop a recorded CHECK constraint (a metadata commit; unknown names are
    * a no-op commit so drops are idempotent). */
  def dropConstraint(table: String, name: String, maxRetries: Int = 16): Long =
    transact(table, replayAdds(table, Long.MaxValue, useCheckpoint = true),
      "dropConstraint", maxRetries)(_ => Write(Seq(DropConstraint(name))))

  /** The table's current CHECK constraints, name → expression. */
  def constraints(table: String): Map[String, String] =
    replayAdds(table, Long.MaxValue, useCheckpoint = true).cons.toMap

  /** One-row table summary for DESCRIBE DETAIL — everything from a SINGLE
    * checkpointed replay plus one tip-meta read and the pointer lookup (the
    * command previously paid four separate log replays/listings). */
  final case class TableDetail(version: Long, files: Seq[String],
      schemaJson: Option[String], constraints: Map[String, String],
      lastCommitAtMs: Option[Long], checkpointVersion: Option[Long],
      partitionBy: Seq[String] = Seq.empty,
      columnMapping: Seq[(String, String)] = Seq.empty,
      protocol: Option[Protocol] = None)

  def describeDetail(table: String): TableDetail = {
    val r = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    TableDetail(r.tip, r.live.keysIterator.toSeq, r.schema, r.cons.toMap,
      if (r.tip >= 1) Some(commitTs(table, r.tip)) else None,
      latestCheckpointVersion(table), r.parts, r.colmap, r.protocol)
  }

  /** Enforce `cons` against the adds among `actions`: ONE aggregate scan of
    * the new files (pinned to the log schema so missing columns null-fill
    * → pass), counting FALSE rows per constraint; any violation throws
    * before the caller commits. O(staged bytes), never O(table). */
  private def enforceConstraints(spark: SparkSession, actions: Seq[Action],
      schemaJson: Option[String], cons: Map[String, String], op: String): Unit = {
    if (cons.isEmpty) return
    val files = actions.collect { case a: Add => a.path }
    if (files.isEmpty) return
    val reader = schemaJson.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
    val df = reader.parquet(files: _*)
    val names = cons.keys.toSeq
    val aggs = names.map { n =>
      sum(when(!coalesce(expr(cons(n)), lit(true)), 1L).otherwise(0L)).as(n)
    }
    // a constraint referencing a column this write's schema DROPS cannot be
    // evaluated — refuse loudly (Delta's rule: drop the constraint before
    // dropping its column) instead of surfacing a raw analysis error
    val row = try df.agg(aggs.head, aggs.tail: _*).collect().head
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new ConstraintViolation(
          s"$op cannot be checked against the table's CHECK constraints " +
            s"(${cons.map { case (n, x) => s"$n: $x" }.mkString("; ")}) — a " +
            s"constraint references a column absent from this write's schema; " +
            s"drop the constraint first (${e.getMessage.linesIterator.take(1).mkString})")
      }
    names.zipWithIndex.foreach { case (n, i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0L) throw new ConstraintViolation(
        s"$op on ${files.size} staged file(s) violates CHECK constraint $n " +
          s"(${cons(n)}): $bad row(s); nothing was committed")
    }
  }

  /** SHALLOW CLONE (Delta's CLONE): materialize `src`'s snapshot (optionally
    * at `asOf`) as the FIRST commit of a new table `dst` — pure O(files)
    * metadata, zero data bytes copied or rewritten. The clone re-records
    * every live file of the source snapshot (paths re-spelled ABSOLUTE so
    * the new log resolves them regardless of either table's working
    * directory; per-file stats carried verbatim, so file-scoped MERGE and
    * data skipping keep working on the clone) plus the source's recorded
    * schema. From that commit on the histories are INDEPENDENT: writes,
    * deletes, optimize and restore on the clone never touch the source and
    * vice versa — a rewrite on the clone merely drops the shared file from
    * the CLONE's log, and `vacuum` only ever walks a table's OWN data
    * directory, so it can never delete the source's bytes.
    *
    * The one shared-fate caveat (same as Delta's shallow clone): `vacuum` on
    * the SOURCE may delete files the clone still references — shallow clones
    * depend on the source's retention. Use cases are exactly Delta's: a
    * zero-cost dev/test copy of a 100 TB production table, or a frozen
    * experiment snapshot that stays readable while production moves on.
    *
    * `dst` must not already be a txlog table (clone creates, never merges
    * into). Returns the clone's version (always 1). */
  def clone(src: String, dst: String, asOf: Long = Long.MaxValue): Long = {
    val r = replayAdds(src, asOf, useCheckpoint = true)
    require(r.tip >= 1, s"cannot clone $src: no commits at or below the requested version")
    require(latestVersion(dst) == 0L,
      s"clone target $dst is already a txlog table (tip ${latestVersion(dst)})")
    // an unabsorbed deletion vector rides the re-spelled add with its
    // stats: dropping it would serve the source's deleted rows back to life
    // (the sidecar path is already absolute, so the clone's reads resolve
    // it; vacuum-on-source retention applies to sidecars exactly as it
    // does to the shared data files)
    val adds = r.live.valuesIterator.map(a => a.copy(path = normalize(a.path))).toSeq
    // the table metadata rides too: without the partition spec a later
    // append would mix value-pure and unpartitioned files, and a clone of a
    // mapped table must keep presenting logical names (and keep refusing
    // engines that cannot)
    commit(dst, 1L, adds ++ r.metadata, "clone")
    1L
  }

  /** One commit's descriptive record for `DESCRIBE HISTORY`: version, the
    * operation that produced it, its committed timestamp (the in-commit
    * stamp when recorded, else the commit file's mtime), and its action
    * counts. */
  final case class CommitInfo(version: Long, op: String, committedAtMs: Long,
      adds: Int, removes: Int)

  /** The table's commit history, newest first (the Delta DESCRIBE HISTORY
    * surface). O(versions) commit-file reads — history is an operator
    * console command, not a hot path; `snapshot` stays checkpointed. */
  def history(table: String): Seq[CommitInfo] =
    (1L to latestVersion(table)).reverseIterator.map { v =>
      val acts = readCommit(table, v)
      CommitInfo(v, opOf(acts), stampOf(table, v, acts.headOption),
        acts.count(_.isInstanceOf[Add]), acts.count(_.isInstanceOf[Remove]))
    }.toSeq

  /** Version `v`'s committed timestamp: the in-commit stamp when recorded,
    * else the commit file's mtime (pre-W16 tables); Long.MinValue before
    * the first version (v < 1). Reads only the commit's first line, where
    * [[commit]] writes the meta action. */
  private def commitTs(table: String, v: Long): Long =
    if (v < 1) Long.MinValue else stampOf(table, v, readCommit(table, v, max = 1).headOption)

  /** The stamp of version `v` given its first action. */
  private def stampOf(table: String, v: Long, first: Option[Action]): Long = first match {
    case Some(Meta(_, _, Some(ts))) => ts
    case _ => Files.getLastModifiedTime(versionPath(table, v)).toMillis
  }

  /** TIMESTAMP AS OF resolution (Delta's rule): the LARGEST version whose
    * committed timestamp is ≤ `tsMs` — "the table as it was at that time".
    * A query time before the first commit is an error (there was no table
    * to read); a time after the tip resolves to the tip. Commit stamps are
    * monotonic by construction (see [[commit]]'s clamp), so effective
    * timestamps need no re-sorting; pre-W16 mtime fallbacks are made
    * monotonic by a running max during the scan, which keeps the answer
    * well-defined even if a file copy reset some mtimes. O(versions) meta
    * reads — timestamp travel is a console/debug verb, not a hot path. */
  def versionAt(table: String, tsMs: Long): Long = {
    val tip = latestVersion(table)
    require(tip >= 1, s"txlog table $table has no commits")
    // effective stamps are a running max, so the versions at or before
    // `tsMs` are a prefix and its length is the answer
    val best = (1L to tip).iterator.map(commitTs(table, _))
      .scanLeft(Long.MinValue)(math.max).drop(1).takeWhile(_ <= tsMs).size.toLong
    require(best >= 1,
      s"timestamp $tsMs is before $table's first commit (${commitTs(table, 1L)})")
    best
  }

  /** Time travel by wall-clock: the snapshot at [[versionAt]]'s version. */
  def snapshotAsOfTimestamp(table: String, tsMs: Long): Snapshot =
    snapshot(table, versionAt(table, tsMs))

  /** Compact small live files into target-size files — the lakehouse
    * OPTIMIZE command (Delta's OPTIMIZE / Iceberg's rewrite_data_files),
    * and the necessary companion of the streaming sink: every micro-batch
    * commit lands a handful of small parquet files, and a few thousand
    * batches later the table is a small-file swamp whose scan cost is
    * dominated by per-file open/footer overhead. One optimize commit
    * rewrites the small files into ~`targetBytes` files and removes them.
    *
    * CONTENT-NEUTRALITY: the table's ROWS are unchanged — op is recorded as
    * `"optimize"` and [[TxLogStreamSource]] SKIPS such commits (Delta's
    * `dataChange=false` semantics), so a live tailing stream neither fails
    * nor re-emits. Time travel below the optimize still reads the old
    * files (they stay on disk until `vacuum`).
    *
    * Mechanics: candidates = live files smaller than `targetBytes`; they
    * are read in one distributed scan, optionally Z-ordered (2-column
    * [[graft.ops.Layout.zorderBy]] clustering so later range predicates on
    * either column prune files), written as ceil(totalBytes/targetBytes)
    * files, and swapped in a single optimistic commit (re-derived against
    * the fresh tip on conflict, like merge). `statsCol` re-records per-file
    * min/max so file-scoped MERGE keeps pruning against compacted output.
    * `where` bounds the compaction to files whose recorded stats MAY hold
    * a matching row (Delta's scoped OPTIMIZE) — "compact yesterday's
    * ingest" without touching the rest of a 100 TB table. Returns the
    * committed version, or 0 if fewer than `minFiles` candidates made
    * compaction worthwhile. */
  def optimize(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024, minFiles: Int = 2,
      zorder: Option[(String, String)] = None, statsCol: Option[String] = None,
      maxRetries: Int = 16, where: Option[Column] = None): Long = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    if (pre.colmap.isEmpty)
      return optimize0(spark, table, pre, targetBytes, minFiles, zorder, statsCol,
        maxRetries, where)
    val resolver = spark.sessionState.conf.resolver
    optimize0(spark, table, pre, targetBytes, minFiles,
      zorder.map { case (a, b) => (physFor(pre.colmap, a, resolver, "optimize"),
        physFor(pre.colmap, b, resolver, "optimize")) },
      mapStatsCol(statsCol, pre.colmap, resolver, "optimize"), maxRetries,
      where.map(mapColumn(_, pre.colmap, resolver)))
  }

  private def optimize0(spark: SparkSession, table: String, entry: Replay,
      targetBytes: Long, minFiles: Int, zorder: Option[(String, String)],
      statsCol: Option[String], maxRetries: Int, where: Option[Column]): Long =
    // a lost race re-derives against the new tip, like merge; staged files
    // of the failed attempt stay unreferenced → vacuum
    transact(table, entry, "optimize", maxRetries) { replay =>
      // DV'd files are candidates REGARDLESS of size: compaction is where
      // deletion vectors get absorbed (the rewrite drops masked rows and
      // the output carries no DV) — Delta's OPTIMIZE does exactly this
      val small = replay.live.iterator.collect {
        case (p, a) if a.dv.isDefined ||
          (try Files.size(Paths.get(p)) < targetBytes
           catch { case _: java.io.IOException => false }) => p
      }.toSeq
      // OPTIMIZE WHERE (Delta's partition-scoped OPTIMIZE, on stats): bound
      // the compaction to files that MAY hold a matching row — the recorded
      // envelopes against the resolved predicate, same conservative test as
      // every skipping site. On a 100 TB table "compact yesterday's ingest"
      // must not re-read the other 99.9%; optimize is content-neutral, so a
      // conservatively-included file costs I/O only, never correctness.
      val candidates = where match {
        case None => small
        case Some(pred) =>
          val reader = replay.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j)))
          pruneByStats(small, replay,
            resolveCondition(reader.parquet(replay.live.keysIterator.toSeq: _*), pred),
            spark.sessionState.conf.sessionLocalTimeZone)
      }
      // a lone DV'd file still compacts (absorbing its DV is the point even
      // with nothing to merge it with); the minFiles economy test applies
      // only to the pure small-file case
      val anyDv = candidates.exists(p => replay.live(p).dv.isDefined)
      if (candidates.size < math.max(2, minFiles) && !anyDv) return 0L
      if (candidates.isEmpty) return 0L
      val totalBytes = candidates.map(p => Files.size(Paths.get(p))).sum
      val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      val df = readLive(spark,
        replay.schema.fold(spark.read)(j => spark.read.schema(schemaOf(j))),
        candidates, replay.live)
      val packed = zorder match {
        case Some((x, y)) => graft.ops.Layout.zorderBy(df, col(x), col(y), nOut)
        case None         => df.repartition(nOut)
      }
      val adds = stageFiles(packed, table, statsCol, replay.parts)
      Write(adds ++ candidates.map(Remove(_)))
    }

  /** Latest committed streaming-transaction version for `appId`, or None if
    * this application never committed to the table. O(checkpoint + suffix)
    * log reads — checkpoints carry txn watermarks forward. */
  def lastTxnVersion(table: String, appId: String): Option[Long] =
    replayAdds(table, Long.MaxValue, useCheckpoint = true).txns.get(appId)

  /** Transactional idempotent append — the commit primitive behind
    * exactly-once streaming writes (the published Delta-log `txn` action:
    * Armbrust et al. VLDB 2020, §3.3 "Transaction identifiers"). Each commit
    * carries `{"txn":{"app":appId,"version":txnVersion}}`; a replayed
    * micro-batch (same appId + version, e.g. Structured Streaming re-running
    * the last uncommitted batch after a crash) is detected against the log
    * and skipped as a metadata no-op — no partition-overwrite trick, no
    * duplicate rows, and readers keep full snapshot isolation + time travel.
    *
    * ZOMBIE-DRIVER SAFETY: the txn check and the version claim are bound to
    * the SAME replayed log state — the commit targets exactly `tip + 1` of
    * the replay that passed the check, so a concurrent duplicate writer
    * (two drivers of one restarted streaming query) lands on the same slot
    * and exactly one hard-link wins; the loser applies the winner's commit,
    * sees the txn watermark, and returns None. A check against a stale tip with a commit
    * at a fresher slot would let both writers commit the same batch.
    *
    * Returns Some(committedVersion), or None if `txnVersion` was already
    * committed for `appId` (the staged files of a skipped attempt stay
    * unreferenced and are vacuum's to collect, like any failed writer). */
  def appendIdempotent(df: DataFrame, table: String, appId: String,
      txnVersion: Long, maxRetries: Int = 64,
      statsCol: Option[String] = None, mergeSchema: Boolean = false): Option[Long] = {
    val pre = replayAdds(table, Long.MaxValue, useCheckpoint = true)
    if (pre.txns.get(appId).exists(_ >= txnVersion)) return None
    requireWritable(pre, table, "append")
    // COLUMN MAPPING boundary, same discipline as append (the streaming
    // sink path must stage physical names too); new columns refuse rather
    // than evolve — a streaming micro-batch is the wrong place for silent
    // schema evolution, and the sink never passes mergeSchema anyway
    val resolver = df.sparkSession.sessionState.conf.resolver
    val dfP = {
      val p = toPhysicalDf(df, pre.colmap, "append")
      verifyProvidedGenerated(p, pre.gens, "append")
      computeGenerated(p, pre.gens)
    }
    val statsColP = mapStatsCol(statsCol, pre.colmap, resolver, "append")
    val actions = stageFiles(dfP, table, statsColP) :+ Txn(appId, txnVersion)
    var enforcedFor: Option[Map[String, String]] = None
    Some(transact(table, pre, "append", maxRetries) { r =>
      if (r.txns.get(appId).exists(_ >= txnVersion)) return None
      // same staleness rule as append (pure extensions are harmless; this
      // path never extends the mapping itself)
      if (r.colmap != pre.colmap && !pre.colmap.forall(r.colmap.contains))
        sys.error(s"append: column mapping of $table changed concurrently")
      val cmap = r.cons.toMap
      if (!enforcedFor.contains(cmap)) {
        enforceConstraints(df.sparkSession, actions, r.schema, cmap, "append")
        enforcedFor = Some(cmap)
      }
      if (r.gens != pre.gens)
        sys.error(s"append: generated-column rules of $table changed concurrently")
      Write(actions ++ schemaActions(r, dfP, mergeSchema, "append"))
    })
  }

  /** One replayed commit for log tailing: the version, the operation that
    * produced it (`append` / `overwrite` / `merge`), and the data files it
    * added. Removals are not surfaced — a streaming reader of an
    * append-style table never sees them, and a rewrite commit is exactly
    * one whose op is not `append` (see [[TxLogStreamSource]]). */
  /** `addedSizes` aligns 1:1 with `added`: the recorded byte size of each
    * added file (None for lines from writers that predate size recording —
    * consumers needing bytes fall back to a filesystem stat). */
  final case class Commit(version: Long, op: String, added: Seq[String],
      addedSizes: Seq[Option[Long]] = Seq.empty)

  /** The commits in version range (`fromExclusive`, `toInclusive`], oldest
    * first — the batch change-feed behind the streaming source. O(range)
    * commit-file reads, no checkpoint involvement (checkpoints compact the
    * LIVE SET; a change feed needs the per-version actions, which is why
    * commit json files are never deleted). */
  def changes(table: String, fromExclusive: Long, toInclusive: Long): Seq[Commit] = {
    val tip = math.min(latestVersion(table), toInclusive)
    (math.max(1L, fromExclusive + 1) to tip).map(v => commitOf(v, readCommit(table, v)))
  }

  private def commitOf(v: Long, acts: Seq[Action]): Commit = {
    val added = acts.collect { case a: Add => a }
    Commit(v, opOf(acts), added.map(_.path), added.map(_.size))
  }

  /** Default vacuum in-flight grace: files younger than this are never
    * deleted even if unreferenced. Delta's VACUUM default is 7 days; 15
    * minutes fits this sandbox's job durations while still being far longer
    * than any stage→commit gap. */
  val DefaultVacuumGraceMs: Long = 15L * 60L * 1000L

  /** Delete data files no snapshot ≤ tip references anymore (files removed
    * by some commit and not re-added later), keeping every file still
    * reachable from `retainVersions` trailing versions for time travel.
    *
    * SAFETY vs concurrent writers: `stageFiles` writes data files BEFORE the
    * commit that references them claims a version, so a naive "unreferenced →
    * delete" races an in-flight append/merge — vacuum could delete files a
    * commit is about to publish, silently corrupting the table. Guard (the
    * same one Delta's VACUUM uses): skip any file whose mtime is within
    * `graceMs` of now. A writer stages and commits within seconds; only a
    * file that has been BOTH unreferenced and untouched for the whole grace
    * window is eligible. Pass `graceMs = 0` only when no writer can be
    * in flight (tests, single-writer maintenance windows).
    *
    * Path robustness: log entries record whatever spelling the WRITER passed
    * (relative, `./`-prefixed, …) while `Files.walk` yields the CALLER's
    * spelling — exact string comparison between the two can miss every live
    * file and delete the whole table. Both sides are normalized to absolute
    * paths before the keep-set membership test.
    *
    * `dryRun = true` (VACUUM's safety preview — Delta has the same switch)
    * walks the identical eligibility logic and returns the would-delete
    * count WITHOUT touching a byte — run it before a retention change. */
  def vacuum(table: String, retainVersions: Long = 0L,
      graceMs: Long = DefaultVacuumGraceMs, dryRun: Boolean = false): Long = {
    val tip = latestVersion(table)
    val keepFrom = math.max(1L, tip - retainVersions)
    // derived change-feed EVIDENCE of retained commits: a covered delete's
    // allDeleted remove is the ONLY record of its deleted rows (no sidecar,
    // by design), so those files survive exactly as long as their commits
    // are retained — the same retention the cdc sidecars get below;
    // without this, the oldest retained version's feed would lose its
    // derived deletions while keeping its sidecars. Deliberately NOT
    // extended to overwrite/restore removes: inside the retained window
    // those files are live in the PRECEDING retained snapshot (feed for
    // commit v reads version v−1's files), and keeping them past snapshot
    // retention would let an overwrite-churn table defeat vacuum entirely
    // — only the boundary commit keepFrom loses derived overwrite
    // evidence, the same edge time travel has.
    // every retained commit is read BEFORE any byte is deleted: a missing
    // one is a CorruptLog here, not "references nothing" — which would make
    // its files and sidecars look collectible
    val retainedCommits = (keepFrom to tip).map(readCommit(table, _))
    // ONE replay, at keepFrom−1, walked forward through the retained
    // commits: a snapshot at v holds only v's adds and files live at v−1
    val prior = replayAdds(table, keepFrom - 1, useCheckpoint = true)
    val oldest = prior.advance(retainedCommits.take(1))
    // vacuum commits nothing but DELETES data bytes — an engine missing a
    // writer feature might not know which files that feature still needs
    requireWritable(readable(oldest.advance(retainedCommits.drop(1)), table),
      table, "vacuum")
    val laterAdds = retainedCommits.drop(1).flatMap(_.collect { case a: Add => a })
    val keepEvidence = retainedCommits.flatMap(_.collect { case Remove(p, true) => p })
    // union of live sets of every retained snapshot + retained evidence
    val keep = (oldest.live.keysIterator ++ laterAdds.map(_.path) ++
      keepEvidence).map(normalize).toSet
    // deletion-vector sidecars referenced by retained snapshots survive;
    // ONE version further back too (keepFrom−1): the feed's DV-diff and
    // covered-drop derivations for the oldest retained commit mask against
    // the PRIOR version's bitmap — without it that boundary feed would
    // re-emit rows an earlier DV already deleted
    val keepDvs = (prior.live.valuesIterator ++ oldest.live.valuesIterator ++ laterAdds)
      .flatMap(_.dv.map(r => normalize(r.path))).toSet
    // sweep scope: CONVERTed tables (version 1's op is "convert") own their
    // WHOLE root — the adopted originals live outside data/ and must be
    // collectible once a rewrite retires them. Every other table sweeps
    // only its own data/ area, so a table rooted in a directory that also
    // holds unrelated parquet (never referenced by the log) can never have
    // vacuum delete a foreigner. `_txlog` is excluded by path prefix, not
    // substring — a table path CONTAINING "_txlog" must still vacuum.
    val converted = (if (keepFrom == 1L) retainedCommits.headOption
      else Some(readCommit(table, 1L, max = 1))).exists(opOf(_) == "convert")
    val dataRoot = if (converted) Paths.get(table) else Paths.get(table, "data")
    if (!Files.isDirectory(dataRoot)) return 0L
    val logPrefix = logDir(table).toAbsolutePath.normalize
    val cdcPrefix = Paths.get(table, "_change_data").toAbsolutePath.normalize
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    var deleted = 0L
    scala.util.Using.resource(Files.walk(dataRoot)) { s =>
      s.iterator().asScala
        .filter { p =>
          p.toString.endsWith(".parquet") &&
            !p.toAbsolutePath.normalize.startsWith(logPrefix) &&
            !p.toAbsolutePath.normalize.startsWith(cdcPrefix) &&
            !keep.contains(normalize(p.toString)) &&
            (try Files.getLastModifiedTime(p).toMillis <= cutoff
             catch { case _: java.io.IOException => false }) // raced a delete: skip
        }
        .toList
    }.foreach { p => if (!dryRun) Files.deleteIfExists(p); deleted += 1 }
    // change-data sidecars are retained with their COMMITS: a cdc file
    // referenced by any commit in the retained window [keepFrom, tip]
    // stays readable by readChangeFeed; older ones (and orphans from
    // crashed writers, age-guarded like everything else) are collected
    if (Files.isDirectory(cdcPrefix)) {
      val keepCdc = retainedCommits.flatMap(_.collect { case Cdc(p) => normalize(p) }).toSet
      scala.util.Using.resource(Files.walk(cdcPrefix)) { s =>
        s.iterator().asScala
          .filter { p =>
            p.toString.endsWith(".parquet") &&
              !keepCdc.contains(normalize(p.toString)) &&
              (try Files.getLastModifiedTime(p).toMillis <= cutoff
               catch { case _: java.io.IOException => false })
          }
          .toList
      }.foreach { p => if (!dryRun) Files.deleteIfExists(p); deleted += 1 }
    }
    // deletion-vector sidecars: unreferenced (superseded by a newer bitmap
    // for the same file, absorbed by OPTIMIZE, or orphaned by a crashed
    // writer) and past the grace window — same age guard as data files
    val dvDirPath = Paths.get(table, "_deletion_vectors")
    if (Files.isDirectory(dvDirPath)) {
      scala.util.Using.resource(Files.walk(dvDirPath)) { s =>
        s.iterator().asScala
          .filter { p =>
            p.toString.endsWith(".dv") &&
              !keepDvs.contains(normalize(p.toString)) &&
              (try Files.getLastModifiedTime(p).toMillis <= cutoff
               catch { case _: java.io.IOException => false })
          }
          .toList
      }.foreach { p => if (!dryRun) Files.deleteIfExists(p); deleted += 1 }
    }
    // a writer that crashed between createTempFile and its finally block
    // leaves .tmp-*/.ckpt-* litter in _txlog; published commits/checkpoints
    // never start with '.', so age-guarded dot-file deletion is safe
    val ld = logDir(table)
    if (Files.isDirectory(ld)) {
      scala.util.Using.resource(Files.list(ld)) { s =>
        s.iterator().asScala
          .filter { p =>
            p.getFileName.toString.startsWith(".") &&
              (try Files.getLastModifiedTime(p).toMillis <= cutoff
               catch { case _: java.io.IOException => false })
          }
          .toList
      }.foreach { p => if (!dryRun) Files.deleteIfExists(p); deleted += 1 }
    }
    deleted
  }

  private def normalize(p: String): String =
    Paths.get(p).toAbsolutePath.normalize.toString

  /** `_metadata.file_path` is URI-spelled (file:///a%20b/…) and percent-
    * encodes specials, while log lines hold plain decoded paths — so every
    * file→version attribution join must DECODE, not just strip the scheme,
    * or a table path containing e.g. a space silently drops its rows from
    * the feed. `java.net.URI` does exactly the %XX decode the encoder did;
    * the fallback covers a raw unencoded path, where stripping the scheme
    * suffices. ONE definition, shared by readChanges and readChangeFeed —
    * the decode discipline is too subtle to keep two copies honest. */
  private lazy val uriPathUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) null
      else try new java.net.URI(s).getPath
      catch { case _: java.net.URISyntaxException =>
        s.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/") }
    }

  // -- PROTOCOL feature gates (the Delta table-features discipline: the
  // log names the features a reader/writer MUST understand; an engine
  // missing one refuses loudly instead of serving a wrong answer) --

  /** Every feature this engine can READ. A table demanding anything else
    * is refused at replay (see [[replayAdds]]). */
  val SupportedReaderFeatures: Set[String] =
    Set("columnMapping", "deletionVectors", "partitioning", "changeDataFeed",
      "checkConstraints", "inCommitTimestamps")

  /** Every feature this engine can WRITE THROUGH without corrupting (a
    * writer must preserve invariants it did not create — e.g. restage
    * under the partition spec, mask DVs in rewrites). */
  val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures + "generatedColumns"

  /** WRITER feature gate: refuse to commit into a table whose protocol
    * demands a writer feature this engine does not implement — writing
    * around an unknown invariant corrupts the table for the engines that
    * do. [[transact]] runs it on every attempt's state, so a winning commit
    * that records such a feature stops the verb; verbs that stage data
    * before their transaction also run it on their entry replay, and
    * `vacuum` on the tip state before it deletes anything. */
  private def requireWritable(r: Replay, table: String, op: String): Unit =
    r.protocol.foreach { p =>
      val unknown = p.writerFeatures -- SupportedWriterFeatures
      if (unknown.nonEmpty) sys.error(
        s"$op: table $table requires unsupported writer feature(s) " +
          s"${unknown.mkString(", ")} — refusing to write (supported: " +
          s"${SupportedWriterFeatures.mkString(", ")})")
    }

  /** The protocol action (if any) that records `features` as required on
    * top of the replayed state — empty when already recorded.
    * `writerOnly` features gate writers without fencing readers (the
    * Delta split — e.g. generatedColumns: the materialized values read
    * fine anywhere, but an appender ignoring the rules corrupts them). */
  private def protocolBump(r: Replay, features: Set[String],
      writerOnly: Set[String] = Set.empty): Seq[Action] = {
    val cur = r.protocol.getOrElse(Protocol(Set.empty, Set.empty))
    val next = Protocol(cur.readerFeatures ++ features,
      cur.writerFeatures ++ features ++ writerOnly)
    if (next == cur) Seq.empty else Seq(next)
  }

  // -- column-mapping translation: everything INTERNAL (files, stats,
  // constraints, partition spec, DVs, sidecars) speaks PHYSICAL names;
  // the PUBLIC surface (DataFrames in and out, predicates, SET targets,
  // key/stat/partition column parameters) speaks LOGICAL names and is
  // translated at the verb boundary by the helpers below --

  /** The physical name of logical column `c` under `m` (session-resolver
    * matching, like every column reference Spark analyzes). */
  private def physFor(m: Seq[(String, String)], c: String,
      resolver: (String, String) => Boolean, op: String): String =
    m.collectFirst { case (l, p) if resolver(l, c) => p }.getOrElse(
      throw new SchemaMismatch(
        s"$op: column $c is not in the table schema " +
          s"(${m.map(_._1).mkString(", ")})"))

  /** Rename a LOGICAL frame to PHYSICAL names for staging. Columns the
    * mapping does not know are refused (the caller handles evolution by
    * extending the mapping first — see append's mergeSchema path). */
  private def toPhysicalDf(df: DataFrame, m: Seq[(String, String)],
      op: String): DataFrame =
    if (m.isEmpty) df
    else {
      val resolver = df.sparkSession.sessionState.conf.resolver
      df.select(df.columns.map(c =>
        df.col(c).as(physFor(m, c, resolver, op))).toSeq: _*)
    }

  /** Translate LOGICAL column references inside a predicate/SET expression
    * to PHYSICAL names (qualifiers like `t.`/`s.` survive; names the
    * mapping does not know pass through and fail resolution loudly
    * downstream). No-op for unmapped tables. */
  private def mapColumn(c: org.apache.spark.sql.Column,
      m: Seq[(String, String)],
      resolver: (String, String) => Boolean): org.apache.spark.sql.Column =
    if (m.isEmpty) c
    else {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.GraftBridge
      GraftBridge.column(GraftBridge.catalystExpression(c).transformUp {
        case a: UnresolvedAttribute =>
          m.collectFirst { case (l, p) if resolver(a.nameParts.last, l) =>
            UnresolvedAttribute(a.nameParts.init :+ p)
          }.getOrElse(a)
      })
    }

  /** Translate a comma-separated LOGICAL stats-column list to physical. */
  private def mapStatsCol(statsCol: Option[String], m: Seq[(String, String)],
      resolver: (String, String) => Boolean, op: String): Option[String] =
    if (m.isEmpty) statsCol
    else statsCol.map(_.split(',').map(_.trim).filter(_.nonEmpty)
      .map(physFor(m, _, resolver, op)).mkString(","))

  /** A FRESH physical name for new logical column `c`: unique against
    * every physical name the table currently knows (mapping + recorded
    * physical schema — adds only ever extend it), deterministic (no UUID:
    * the log stays bit-reproducible for identical histories). */
  private def freshPhysName(c: String, m: Seq[(String, String)],
      schemaJson: Option[String]): String = {
    val used = m.map(_._2).toSet ++
      schemaJson.map(j => schemaOf(j).fieldNames.toSet).getOrElse(Set.empty)
    val base = "c_" + c.replaceAll("[^A-Za-z0-9_]", "_")
    Iterator.from(0).map(i => if (i == 0) base else s"${base}_$i")
      .find(!used(_)).get
  }

  /** Schema ENFORCEMENT + EVOLUTION for a write against the replayed table
    * state (the Delta metaData-action discipline):
    *  - a column whose type differs from the table's is refused always
    *    (silent type drift corrupts every downstream reader);
    *  - NEW columns are refused unless `mergeSchema = true`, in which case
    *    the evolved schema (table columns, then the new ones) is recorded
    *    in this commit and old files null-fill on read;
    *  - a write MISSING table columns is fine — its files simply lack them
    *    and read as null (enforce non-null contracts upstream);
    *  - a legacy table that never recorded a schema stays legacy (we cannot
    *    know its schema without reading footers); new tables always record.
    * Returns the schema actions to append to the commit (empty when
    * the recorded schema already covers the write). Evaluated per commit
    * attempt against that attempt's state, so racing evolutions serialize
    * like every other commit. */
  private def schemaActions(replay: Replay, df: DataFrame,
      mergeSchema: Boolean, op: String): Seq[Action] = {
    val w = df.schema
    replay.schema match {
      case None =>
        if (replay.tip == 0L && replay.live.isEmpty) Seq(Schema(w.json))
        else Seq.empty // legacy table: keep inference semantics
      case Some(curJson) =>
        val cur = schemaOf(curJson)
        val curTypes = cur.map(f => f.name -> f.dataType).toMap
        w.foreach { f =>
          curTypes.get(f.name).foreach { t =>
            if (t != f.dataType) throw new SchemaMismatch(
              s"$op: column ${f.name} is ${f.dataType.simpleString} but the table " +
                s"recorded ${t.simpleString} — type changes are never merged")
          }
        }
        val extras = w.filterNot(f => curTypes.contains(f.name))
        if (extras.isEmpty) Seq.empty
        else if (!mergeSchema) throw new SchemaMismatch(
          s"$op: new column(s) ${extras.map(_.name).mkString(", ")} not in the table " +
            "schema — pass mergeSchema = true to evolve it")
        else Seq(Schema(
          org.apache.spark.sql.types.StructType(cur.fields ++ extras).json))
    }
  }

  // -- GENERATED columns (Delta's generated-columns design): the rule
  // (physical column name → physical-name SQL expr) is table metadata;
  // writers COMPUTE the column when a write omits it and every commit's
  // staged bytes are verified against the rule (see enforceGenerated) --

  /** Materialize every generated column a frame omits (compute) — the
    * write-side half of the rule; frames that DO carry the column pass
    * through and are caught by [[enforceGenerated]] if they lie. */
  private def computeGenerated(df: DataFrame,
      gens: scala.collection.Map[String, String]): DataFrame =
    gens.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(e))
    }

  /** RECOMPUTE every generated column over a post-image frame (rewrite
    * paths: an update/merge that changes a rule's inputs must refresh the
    * derived value — Delta recomputes the same way). Idempotent on rows
    * whose inputs did not change. */
  private def recomputeGenerated(df: DataFrame,
      gens: scala.collection.Map[String, String]): DataFrame =
    gens.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, expr(e)) }

  /** Verify a write that EXPLICITLY carries a generated column actually
    * satisfies its rule — one aggregate over the INPUT frame, null-safe
    * equality. Verification deliberately reads the writer's frame, not the
    * staged bytes: rewrite verbs restage rows written BEFORE a rule
    * existed (their value is legitimately null), and a staged-bytes check
    * could not tell those from a lying writer. Rules whose column the
    * frame omits need no check — [[computeGenerated]] materializes them. */
  private def verifyProvidedGenerated(df: DataFrame,
      gens: scala.collection.Map[String, String], op: String): Unit = {
    val present = gens.filter { case (c, _) => df.columns.contains(c) }.toSeq
    if (present.isEmpty) return
    val aggs = present.map { case (c, e) =>
      sum(when(!(col(c) <=> expr(e)), 1L).otherwise(0L)).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    present.zipWithIndex.foreach { case ((c, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0L) throw new ConstraintViolation(
        s"$op provides $bad row(s) whose $c differs from its GENERATED " +
          s"ALWAYS AS ($e) value; nothing was committed")
    }
  }

  /** The table's exact row count FROM LOG METADATA — Some only when every
    * live file carries a recorded count (all files written by a stats-
    * recording writer); None means at least one file is opaque and a real
    * COUNT(*) scan is needed. At 100 TB this is the difference between a
    * dashboard count answered in milliseconds from O(files) driver-side
    * metadata and a full-table scan. */
  def rowCount(table: String, asOf: Long = Long.MaxValue): Option[Long] = {
    val r = replayAdds(table, asOf, useCheckpoint = true)
    if (r.live.isEmpty) return Some(0L)
    // a file's LIVE count = recorded physical rows − its DV cardinality
    // (both pure log metadata, so the count stays an O(files) driver answer
    // even on a table full of point deletes)
    val counts = r.live.valuesIterator.map(a =>
      a.rows.map(_ - a.dv.fold(0L)(_.card))).toSeq
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  // ==== THE LOG FORMAT. A commit or checkpoint file holds one JSON object
  // per line, each one action: {"<kind>":<body>}. `encode`/`decode` are the
  // only code that knows the line shape; everything else handles typed
  // actions. ====

  /** One log action. */
  sealed trait Action

  /** One recorded per-file column stat: [min,max] envelope as strings in
    * the column's cast-to-string form, plus the column's null count when
    * the writer recorded one (None on legacy lines). The null count is what
    * upgrades an envelope from "may contain a matching row" (pruning) to
    * "every row provably matches" (whole-file actions): min/max ignore
    * nulls, and a null row evaluates any comparison to NULL, not TRUE. */
  final case class ColStat(col: String, min: String, max: String, nulls: Option[Long])

  /** A data file joins the live set, with its recorded row count (Delta's
    * numRecords), byte size (Delta's add.size), per-column stats — a column
    * without one is opaque to pruning on it — and deletion vector. */
  final case class Add(path: String, rows: Option[Long] = None,
      size: Option[Long] = None, stats: Seq[ColStat] = Seq.empty,
      dv: Option[Dv.Ref] = None) extends Action {
    /** Recorded [min,max] per stats column. */
    def envelopes: Map[String, (String, String)] =
      stats.map(st => st.col -> ((st.min, st.max))).toMap
  }
  /** A data file leaves the live set. `allDeleted` flags a file whose rows
    * were ALL deleted by the commit (the covered-file fast path), so the
    * change feed can derive those deletions by reading the removed file. */
  final case class Remove(path: String, allDeleted: Boolean = false) extends Action
  /** A change-data sidecar file of the commit (never part of the live set). */
  final case class Cdc(path: String) extends Action
  /** The commit's (or checkpoint's) operation, version and in-commit
    * timestamp — absent on checkpoints and pre-W16 commits. */
  final case class Meta(op: String, version: Long, ts: Option[Long]) extends Action
  /** A streaming application's transaction watermark (see [[appendIdempotent]]). */
  final case class Txn(app: String, version: Long) extends Action
  /** The table schema, as Spark's StructType JSON. */
  final case class Schema(json: String) extends Action
  /** The partition spec (Iceberg-style: columns stay in the data). */
  final case class Parts(cols: Seq[String]) extends Action
  /** The column mapping, logical → physical (see [[enableColumnMapping]]). */
  final case class Colmap(mapping: Seq[(String, String)]) extends Action
  /** PROTOCOL feature gates (the Delta table-features discipline: the log
    * names the features a reader/writer MUST understand; an engine missing
    * one refuses loudly instead of serving a wrong answer). */
  final case class Protocol(readerFeatures: Set[String],
      writerFeatures: Set[String]) extends Action
  /** A CHECK constraint, expression in physical names (see [[addConstraint]]). */
  final case class Constraint(name: String, expr: String) extends Action
  final case class DropConstraint(name: String) extends Action
  /** A GENERATED ALWAYS AS rule, physical column → physical-name SQL expr. */
  final case class Gencol(name: String, expr: String) extends Action
  final case class DropGencol(name: String) extends Action

  private val Json = new JsonFactory()

  /** One action as its log line. Fields are written in a fixed order
    * (an add's are path, rows, size, stats, dv; absent optional fields are
    * omitted), and strings are JSON-escaped — control characters included,
    * so no line ever holds a raw newline. */
  private[sources] def encode(a: Action): String = {
    val out = new java.io.StringWriter(128)
    val g = Json.createGenerator(out)
    def obj(kind: String)(body: => Unit): Unit = {
      g.writeObjectFieldStart(kind); body; g.writeEndObject()
    }
    def strings(name: String, xs: Seq[String]): Unit = {
      g.writeArrayFieldStart(name); xs.foreach(g.writeString); g.writeEndArray()
    }
    def named(kind: String, name: String, expr: Option[String]): Unit = obj(kind) {
      g.writeStringField("name", name); expr.foreach(g.writeStringField("expr", _))
    }
    g.writeStartObject()
    a match {
      case Add(path, rows, size, stats, dv) => obj("add") {
        g.writeStringField("path", path)
        rows.foreach(n => g.writeNumberField("rows", n))
        size.foreach(n => g.writeNumberField("size", n))
        if (stats.nonEmpty) {
          g.writeArrayFieldStart("stats")
          stats.foreach { st =>
            g.writeStartObject()
            g.writeStringField("col", st.col)
            g.writeStringField("min", st.min)
            g.writeStringField("max", st.max)
            st.nulls.foreach(n => g.writeNumberField("nulls", n))
            g.writeEndObject()
          }
          g.writeEndArray()
        }
        dv.foreach(r => obj("dv") {
          g.writeStringField("path", r.path); g.writeNumberField("card", r.card)
        })
      }
      case Remove(path, allDeleted) => obj("remove") {
        g.writeStringField("path", path)
        if (allDeleted) g.writeBooleanField("allDeleted", true)
      }
      case Cdc(path) => obj("cdc")(g.writeStringField("path", path))
      case Meta(op, version, ts) => obj("meta") {
        g.writeStringField("op", op)
        g.writeNumberField("version", version)
        ts.foreach(t => g.writeNumberField("ts", t))
      }
      case Txn(app, version) => obj("txn") {
        g.writeStringField("app", app); g.writeNumberField("version", version)
      }
      case Schema(json) => g.writeStringField("schema", json)
      case Parts(cols)  => strings("parts", cols)
      case Colmap(m) =>
        g.writeArrayFieldStart("colmap")
        m.foreach { case (l, p) =>
          g.writeStartObject()
          g.writeStringField("n", l); g.writeStringField("p", p)
          g.writeEndObject()
        }
        g.writeEndArray()
      case Protocol(rf, wf) => obj("protocol") {
        strings("rf", rf.toSeq.sorted); strings("wf", wf.toSeq.sorted)
      }
      case Constraint(n, e)  => named("constraint", n, Some(e))
      case DropConstraint(n) => named("dropConstraint", n, None)
      case Gencol(n, e)      => named("gencol", n, Some(e))
      case DropGencol(n)     => named("dropGencol", n, None)
    }
    g.writeEndObject()
    g.close()
    out.toString
  }

  /** Parse one log line; see [[readAction]]. */
  private[sources] def decode(line: String): Action =
    scala.util.Using.resource(Json.createParser(line)) { p =>
      p.nextToken()
      val a = readAction(p)
      if (p.nextToken() != null)
        throw new IllegalArgumentException("trailing content after the action")
      a
    }

  /** Read the action whose opening brace is `p`'s current token. Besides
    * what [[encode]] writes it reads the legacy shapes older writers left:
    * stats as a single object instead of an array, stats entries without
    * `nulls`, and `meta` without `ts`. Anything else — an unknown action
    * kind or field, a missing required field, a wrong type — is an error.
    * Unknown kinds are not skipped: forward compatibility is the protocol
    * gates' job. */
  private def readAction(p: com.fasterxml.jackson.core.JsonParser): Action = {
    import JsonToken._
    def bad(why: String): Nothing =
      throw new IllegalArgumentException(s"$why at column ${p.currentLocation.getColumnNr}")
    def text(): String = if (p.currentToken == VALUE_STRING) p.getText else bad("expected a string")
    def str(): String = { p.nextToken(); text() }
    def long(): Long =
      if (p.nextToken() == VALUE_NUMBER_INT) p.getLongValue else bad("expected an integer")
    def bool(): Boolean = p.nextToken() match {
      case VALUE_TRUE  => true
      case VALUE_FALSE => false
      case _           => bad("expected a boolean")
    }
    def req[A](v: Option[A], field: String): A = v.getOrElse(bad(s"missing field $field"))
    // the fields of the object whose START_OBJECT is the current token
    def fields(f: PartialFunction[String, Unit]): Unit = {
      if (p.currentToken != START_OBJECT) bad("expected an object")
      var name = p.nextFieldName()
      while (name != null) {
        f.applyOrElse(name, (n: String) => bad(s"unknown field $n"))
        name = p.nextFieldName()
      }
      if (p.currentToken != END_OBJECT) bad("malformed object")
    }
    def obj(f: PartialFunction[String, Unit]): Unit = { p.nextToken(); fields(f) }
    // the elements of the array whose START_ARRAY is the current token;
    // `elem` starts at each element's first token
    def elems[A](elem: => A): Seq[A] = {
      if (p.currentToken != START_ARRAY) bad("expected an array")
      val b = Vector.newBuilder[A]
      while (p.nextToken() != END_ARRAY) b += elem
      b.result()
    }
    def array[A](elem: => A): Seq[A] = { p.nextToken(); elems(elem) }
    def colStat(): ColStat = {
      var c, mn, mx = Option.empty[String]
      var nulls = Option.empty[Long]
      fields {
        case "col"   => c = Some(str())
        case "min"   => mn = Some(str())
        case "max"   => mx = Some(str())
        case "nulls" => nulls = Some(long())
      }
      ColStat(req(c, "col"), req(mn, "min"), req(mx, "max"), nulls)
    }
    def named(withExpr: Boolean): (String, String) = {
      var n, e = Option.empty[String]
      obj {
        case "name"           => n = Some(str())
        case "expr" if withExpr => e = Some(str())
      }
      (req(n, "name"), if (withExpr) req(e, "expr") else "")
    }
    if (p.currentToken != START_OBJECT) bad("expected an action object")
    val a: Action = p.nextFieldName() match {
      case "add" =>
        var path = Option.empty[String]
        var rows, size = Option.empty[Long]
        var stats = Seq.empty[ColStat]
        var dv = Option.empty[Dv.Ref]
        obj {
          case "path" => path = Some(str())
          case "rows" => rows = Some(long())
          case "size" => size = Some(long())
          case "stats" => stats = p.nextToken() match {
            case START_OBJECT => Seq(colStat()) // legacy single-object form
            case _            => elems(colStat())
          }
          case "dv" =>
            var dp = Option.empty[String]
            var card = Option.empty[Long]
            obj { case "path" => dp = Some(str()); case "card" => card = Some(long()) }
            dv = Some(Dv.Ref(req(dp, "dv.path"), req(card, "dv.card")))
        }
        Add(req(path, "path"), rows, size, stats, dv)
      case "remove" =>
        var path = Option.empty[String]
        var all = false
        obj { case "path" => path = Some(str()); case "allDeleted" => all = bool() }
        Remove(req(path, "path"), all)
      case "cdc" =>
        var path = Option.empty[String]
        obj { case "path" => path = Some(str()) }
        Cdc(req(path, "path"))
      case "meta" =>
        var op = Option.empty[String]
        var version, ts = Option.empty[Long]
        obj {
          case "op"      => op = Some(str())
          case "version" => version = Some(long())
          case "ts"      => ts = Some(long())
        }
        Meta(req(op, "op"), req(version, "version"), ts)
      case "txn" =>
        var app = Option.empty[String]
        var version = Option.empty[Long]
        obj { case "app" => app = Some(str()); case "version" => version = Some(long()) }
        Txn(req(app, "app"), req(version, "version"))
      case "schema" => Schema(str())
      case "parts"  => Parts(array(text()))
      case "colmap" => Colmap(array {
        var l, ph = Option.empty[String]
        fields { case "n" => l = Some(str()); case "p" => ph = Some(str()) }
        (req(l, "n"), req(ph, "p"))
      })
      case "protocol" =>
        var rf, wf = Option.empty[Seq[String]]
        obj { case "rf" => rf = Some(array(text())); case "wf" => wf = Some(array(text())) }
        Protocol(req(rf, "rf").toSet, req(wf, "wf").toSet)
      case "constraint"     => val (n, e) = named(withExpr = true); Constraint(n, e)
      case "dropConstraint" => DropConstraint(named(withExpr = false)._1)
      case "gencol"         => val (n, e) = named(withExpr = true); Gencol(n, e)
      case "dropGencol"     => DropGencol(named(withExpr = false)._1)
      case null             => bad("expected an action kind")
      case kind             => bad(s"unknown action kind $kind")
    }
    if (p.nextToken() != END_OBJECT) bad("expected a single action kind")
    a
  }
}
