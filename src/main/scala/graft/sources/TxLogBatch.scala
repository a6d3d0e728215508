package graft.sources

import java.util.Locale

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualNullSafe, EqualTo, EvalMode, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

/** Batch read/write side of `format("txlog")` — the public DataFrame path
  * onto a [[TxLog]] table, symmetric with the streaming source that already
  * registers the short name:
  *
  *   spark.read.format("txlog").load(tablePath)                    // snapshot
  *   spark.read.format("txlog").option("versionAsOf", 3).load(t)   // time travel
  *   spark.read.format("txlog").option("timestampAsOf", "2026-08-15T12:00:00Z").load(t)
  *   spark.read.format("txlog").option("startingVersion", 2).load(t) // batch CDF
  *   spark.read.format("txlog").option("startingVersion", 2)
  *     .option("readChangeFeed", "true").load(t)   // EXACT row-level feed
  *   df.write.format("txlog").mode("append"|"overwrite").save(t)
  *   df.write.format("txlog").option("clusterBy", "k").save(t)     // clustered write
  *
  * The snapshot read resolves to a vanilla parquet [[HadoopFsRelation]]
  * whose [[FileIndex]] is the TRANSACTION LOG, not a directory listing
  * (the Delta TahoeFileIndex shape): the live file list comes from one
  * checkpointed log replay, and pushed-down data filters are tested against
  * the log's per-file min/max stats so pruned files never reach the scan —
  * the W7 data-skipping path, now on the public reader. Everything below
  * the file list is Spark's own parquet scan: column pruning, predicate
  * pushdown, whole-stage codegen, AQE all apply untouched, which is the
  * point of handing Catalyst a real file relation instead of an RDD shim.
  *
  * Batch CDF (`startingVersion` [+ `endingVersion`, `includeRewrites`])
  * wraps [[TxLog.readChanges]] — a joined, stamped frame, so it is served
  * as a [[TableScan]] relation rather than a file relation.
  *
  * Write options: `stats` (comma-separated stat columns, as the `statsCol`
  * API param), `mergeSchema`, `clusterBy`/`clusterFiles` (range-cluster the
  * rows so per-file stat envelopes are narrow — see the note at [[write]]).
  * SaveMode maps to the transactional verbs: Append → [[TxLog.append]],
  * Overwrite → [[TxLog.overwrite]], ErrorIfExists/Ignore enforce on table
  * non-emptiness.
  */
object TxLogBatch {

  def relation(sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val table = TxLogStreamSource.tableOf(parameters)
    val lower = parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    lower.get("startingversion") match {
      case Some(sv) =>
        // the CDF read and the snapshot options are different queries — a
        // combined ask must fail, not silently drop the time bound
        require(!lower.contains("versionasof") && !lower.contains("timestampasof"),
          "startingVersion (change feed) cannot combine with versionAsOf/" +
            "timestampAsOf (snapshot) — pick one read mode")
        val to = lower.get("endingversion").map(_.toLong).getOrElse(Long.MaxValue)
        // readChangeFeed=true upgrades the file-level feed to the EXACT
        // row-level one (sidecar-recorded + derived changes, _change_type
        // stamped) — Delta's readChangeData option shape
        if (lower.get("readchangefeed").exists(_.toBoolean)) {
          require(!lower.contains("includerewrites"),
            "readChangeFeed serves exact row-level changes — includeRewrites " +
              "belongs to the file-level feed only")
          dfRelation(sqlContext,
            TxLog.readChangeFeed(sqlContext.sparkSession, table, sv.toLong, to))
        } else changesRelation(sqlContext, table, sv.toLong, to,
          lower.get("includerewrites").exists(_.toBoolean))
      case None =>
        // a feed ask without a range must fail loudly — serving a snapshot
        // where change events were expected is a silent wrong answer
        require(!lower.contains("readchangefeed"),
          "readChangeFeed needs a version range: set option(\"startingVersion\", " +
            "...) [and optionally endingVersion]")
        val byVersion = lower.get("versionasof").map(_.toLong)
        val byTime = lower.get("timestampasof").map(parseTs)
        require(byVersion.isEmpty || byTime.isEmpty,
          "versionAsOf and timestampAsOf are mutually exclusive")
        val asOf = byVersion
          .orElse(byTime.map(ts => TxLog.versionAt(table, ts)))
          .getOrElse(Long.MaxValue)
        snapshotRelation(sqlContext, table, asOf)
    }
  }

  /** `timestampAsOf` accepts epoch milliseconds or an ISO-8601 instant
    * (`2026-08-15T12:00:00Z`) — the unambiguous forms; a zone-less local
    * datetime is refused rather than silently guessed. */
  private def parseTs(s: String): Long =
    s.trim.toLongOption.getOrElse {
      try java.time.Instant.parse(s.trim).toEpochMilli
      catch { case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"timestampAsOf '$s' is neither epoch millis nor an ISO-8601 instant", e)
      }
    }

  def write(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val table = TxLogStreamSource.tableOf(parameters)
    val lower = parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    val mergeSchema = lower.get("mergeschema").exists(_.toBoolean)
    // CLUSTERED WRITE: `clusterBy` range-partitions the rows on the named
    // column(s) before staging, so each written file covers a NARROW,
    // non-overlapping slice of the key space — the layout that turns the
    // log's min/max stats from "usually overlapping envelopes" into
    // near-perfect pruning (a point lookup touches ONE file instead of
    // every file that happened to contain the key's hash bucket). This is
    // the write-side half of data skipping, the same idea as Delta's
    // OPTIMIZE ZORDER / liquid clustering but applied at ingest: one range
    // shuffle at write time buys every later read's file pruning.
    // `clusterFiles` caps the output file count (default: the session's
    // shuffle parallelism); cluster columns are auto-added to the recorded
    // stats — clustering without stats would buy nothing.
    val cluster: Seq[String] = lower.get("clusterby").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val data2 =
      if (cluster.isEmpty) data
      else lower.get("clusterfiles").map(_.trim.toInt) match {
        case Some(n) => data.repartitionByRange(n, cluster.map(data.col): _*)
        case None    => data.repartitionByRange(cluster.map(data.col): _*)
      }
    val stats = {
      val explicit = lower.get("stats").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      val merged = (explicit ++ cluster).distinct
      if (merged.isEmpty) None else Some(merged.mkString(","))
    }
    // `partitionBy` — Iceberg-style table partitioning (see TxLog.stageFiles):
    // columns stay in the data, the log records the spec and per-file
    // partition tuples as exact stats, the reader's FileIndex prunes on them
    val partitionBy: Seq[String] = lower.get("partitionby").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val nonEmpty = TxLog.latestVersion(table) > 0
    mode match {
      case SaveMode.Append    => TxLog.append(data2, table, statsCol = stats, mergeSchema = mergeSchema, partitionBy = partitionBy)
      case SaveMode.Overwrite => TxLog.overwrite(data2, table, statsCol = stats, partitionBy = partitionBy)
      case SaveMode.ErrorIfExists if nonEmpty =>
        throw new IllegalStateException(s"txlog table $table already exists (mode ErrorIfExists)")
      case SaveMode.ErrorIfExists => TxLog.append(data2, table, statsCol = stats, partitionBy = partitionBy)
      case SaveMode.Ignore if nonEmpty => ()
      case SaveMode.Ignore => TxLog.append(data2, table, statsCol = stats, partitionBy = partitionBy)
    }
    relation(sqlContext, parameters)
  }

  private def snapshotRelation(sqlContext: SQLContext, table: String,
      asOf: Long): BaseRelation = {
    val spark = sqlContext.sparkSession
    val r = TxLog.replayAdds(table, asOf, useCheckpoint = true)
    // DELETION VECTORS present: the masked read (bitmap anti-filter) cannot
    // be expressed inside a HadoopFsRelation, so the snapshot serves as a
    // TableScan over the masked frame — correct rows first; the stats-
    // skipping FileIndex fast path resumes once OPTIMIZE absorbs the DVs
    // (the steady state for a maintained table)
    if (TxLog.dvRefs(r.live).nonEmpty)
      return dfRelation(sqlContext,
        TxLog.snapshot(table, asOf).read(spark))
    // asNullable, as DataFrameReader.schema does for file sources: files
    // written before a schema evolution lack the later columns, and the
    // vectorized parquet reader refuses a missing NON-NULLABLE column
    // instead of null-filling it
    val schema = r.schema.map(j => nullable(TxLog.schemaOf(j))).getOrElse {
      require(r.live.nonEmpty,
        s"cannot infer schema of empty legacy txlog table $table")
      spark.read.parquet(r.live.keysIterator.toSeq: _*).schema
    }
    val filesWithStats = r.live.toSeq.map { case (p, a) => p -> a.envelopes }
    val index = new TxLogFileIndex(spark, table, filesWithStats)
    val physRel = HadoopFsRelation(index, new StructType(), schema, None,
      new ParquetFileFormat, Map.empty)(spark)
    // COLUMN MAPPING: the files (and the relation above) carry PHYSICAL
    // names; the public reader presents the LOGICAL view. A wrapper
    // relation translates pushed column prunes and filters back to
    // physical, so the parquet scan's pushdown AND the log FileIndex's
    // stats skipping keep working under the logical names.
    if (r.colmap.isEmpty) physRel
    else new MappedTxLogRelation(sqlContext, physRel, r.colmap, schema)
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map { f =>
      f.copy(nullable = true, dataType = f.dataType match {
        case st: StructType => nullable(st)
        case other          => other
      })
    })

  private def changesRelation(ctx: SQLContext, table: String, from: Long,
      to: Long, includeRewrites: Boolean): BaseRelation =
    dfRelation(ctx, TxLog.readChanges(ctx.sparkSession, table, from, to, includeRewrites))

  private def dfRelation(ctx: SQLContext, df: DataFrame): BaseRelation =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
      override def buildScan(): RDD[Row] = df.rdd
    }
}

/** The public reader of a COLUMN-MAPPED txlog table: exposes the LOGICAL
  * schema, and translates the column prunes and filters Spark pushes down
  * (logical names) back to PHYSICAL before handing them to the inner
  * parquet relation — so column pruning, parquet predicate pushdown and
  * the log FileIndex's stats skipping all still happen, just under the
  * physical names the files and recorded stats actually carry. Filters
  * are pushed best-effort for I/O only: `unhandledFilters` keeps its
  * default (everything unhandled), so Spark re-applies every predicate
  * above the scan and an untranslatable shape can never change an answer. */
class MappedTxLogRelation(ctx: SQLContext, phys: HadoopFsRelation,
    colmap: Seq[(String, String)], physSchema: StructType)
  extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {

  import org.apache.spark.sql.{sources => sf}
  import org.apache.spark.sql.functions.{col, lit}

  override def sqlContext: SQLContext = ctx

  private val physField = physSchema.fields.map(f => f.name -> f).toMap

  override val schema: StructType = StructType(colmap.collect {
    case (l, p) if physField.contains(p) => physField(p).copy(name = l)
  })

  private def physOf(logical: String): Option[String] =
    colmap.collectFirst { case (l, p) if l.equalsIgnoreCase(logical) => p }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[sf.Filter]): RDD[Row] = {
    val df0 = ctx.sparkSession.baseRelationToDataFrame(phys)
    val filtered = filters.flatMap(translate).foldLeft(df0)((d, c) => d.where(c))
    // rows are consumed positionally under the requiredColumns order; the
    // select renames nothing because only positions and types matter here
    filtered.select(requiredColumns.map(lc =>
      col(physOf(lc).getOrElse(lc))).toSeq: _*).rdd
  }

  /** Logical [[sf.Filter]] → physical [[org.apache.spark.sql.Column]];
    * None when the shape (or a referenced name) has no translation. */
  private def translate(f: sf.Filter): Option[org.apache.spark.sql.Column] = f match {
    case sf.EqualTo(a, v)            => physOf(a).map(p => col(p) === lit(v))
    case sf.EqualNullSafe(a, v)      => physOf(a).map(p => col(p) <=> lit(v))
    case sf.GreaterThan(a, v)        => physOf(a).map(p => col(p) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => physOf(a).map(p => col(p) >= lit(v))
    case sf.LessThan(a, v)           => physOf(a).map(p => col(p) < lit(v))
    case sf.LessThanOrEqual(a, v)    => physOf(a).map(p => col(p) <= lit(v))
    case sf.In(a, vs)                => physOf(a).map(p => col(p).isin(vs.toIndexedSeq: _*))
    case sf.IsNull(a)                => physOf(a).map(p => col(p).isNull)
    case sf.IsNotNull(a)             => physOf(a).map(p => col(p).isNotNull)
    case sf.StringStartsWith(a, v)   => physOf(a).map(p => col(p).startsWith(v))
    case sf.StringEndsWith(a, v)     => physOf(a).map(p => col(p).endsWith(v))
    case sf.StringContains(a, v)     => physOf(a).map(p => col(p).contains(v))
    case sf.And(l, r) =>
      for (a <- translate(l); b <- translate(r)) yield a && b
    case sf.Or(l, r) =>
      for (a <- translate(l); b <- translate(r)) yield a || b
    case sf.Not(inner)               => translate(inner).map(!_)
    case _                           => None
  }
}

/** [[FileIndex]] backed by the transaction log instead of a filesystem
  * listing: the live file set (with per-file column stats) comes from the
  * replayed log, and `listFiles` DATA-SKIPS — a pushed-down conjunct whose
  * recorded [min,max] envelope cannot intersect a file is pruned before the
  * scan ever opens it. Unsupported predicate shapes and files without stats
  * on the tested column are conservatively kept, so skipping never changes
  * an answer, only I/O. Stat strings re-parse with TRY casts in the SESSION
  * timezone — the same discipline as [[TxLog.prunedFiles]].
  *
  * At 100 TB this index is what makes the public reader viable: O(files)
  * driver-side metadata (no recursive listing RPC storm), and a point
  * lookup on a stats column touches one file instead of the table.
  */
class TxLogFileIndex(spark: SparkSession, table: String,
    filesWithStats: Seq[(String, Map[String, (String, String)])]) extends FileIndex {

  /** Per-listFiles count of files SERVED after skipping (test/diagnostic
    * instrumentation, like TxLog.commitFilesReplayed). */
  private[graft] var lastServedFiles: Int = -1

  private lazy val statuses: Seq[(FileStatus, Map[String, (String, String)])] = {
    val conf = spark.sessionState.newHadoopConf()
    filesWithStats.map { case (p, stats) =>
      val hp = new HPath(p)
      hp.getFileSystem(conf).getFileStatus(hp) -> stats
    }
  }

  override def rootPaths: Seq[HPath] = Seq(new HPath(table))

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = statuses.filter { case (_, stats) =>
      dataFilters.forall(f => mayContain(stats, f))
    }
    lastServedFiles = kept.size
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._1).toArray))
  }

  override def inputFiles: Array[String] = filesWithStats.map(_._1).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_._1.getLen).sum

  private def mayContain(stats: Map[String, (String, String)], e: Expression): Boolean =
    StatsSkipping.mayContain(stats, e,
      spark.sessionState.conf.sessionLocalTimeZone)
}

/** The shared three-valued stats test behind every log-stats skipping site
  * (the public reader's FileIndex and DELETE's candidate prune): may a file
  * whose recorded per-column [min,max] is `stats` contain a row satisfying
  * `e`? Conservative by construction — an unrecognized expression shape, a
  * column without stats, or an unparsable stat answers TRUE (keep), so
  * skipping can only ever save I/O, never change an answer. Stat strings
  * re-parse with TRY casts in the given session timezone (the discipline
  * stageFiles wrote them under). */
private[sources] object StatsSkipping {

  /** Fold foldable subtrees to literals before pattern-matching: an
    * ANALYZED (pre-optimizer) predicate spells `k <= 109` on a bigint
    * column as `k <= CAST(109 AS BIGINT)` — a foldable Cast, not a Literal
    * — and the shape patterns below would conservatively give up on it.
    * A subtree whose eval throws stays unfolded (and therefore unproven). */
  private def fold(e: Expression): Expression = e.transformUp {
    case x if x.foldable && !x.isInstanceOf[Literal] =>
      try Literal.create(x.eval(), x.dataType)
      catch { case _: Exception => x }
  }

  def mayContain(stats: Map[String, (String, String)], e0: Expression,
      tzId: String): Boolean = {
    val e = fold(e0)
    val tz = Some(tzId)
    // stat-string vs literal comparison in the literal's own type; a cast
    // that fails (TRY → null) or a non-boolean eval keeps the file
    def cmp(mk: (Expression, Expression) => Expression, stat: String, lit: Literal): Boolean =
      mk(Cast(Literal(stat), lit.dataType, tz, EvalMode.TRY), lit).eval() match {
        case b: java.lang.Boolean => b.booleanValue()
        case _                    => true
      }
    def range(a: Attribute): Option[(String, String)] =
      stats.get(a.name).orElse(
        stats.collectFirst { case (k, v) if k.equalsIgnoreCase(a.name) => v })
    def rec(e: Expression): Boolean = e match {
      case And(l, r) => rec(l) && rec(r)
      case Or(l, r)  => rec(l) || rec(r)
      case EqualTo(a: Attribute, l: Literal) => eqKeep(range(a), l, cmp)
      case EqualTo(l: Literal, a: Attribute) => eqKeep(range(a), l, cmp)
      case EqualNullSafe(a: Attribute, l: Literal) if l.value != null => eqKeep(range(a), l, cmp)
      case EqualNullSafe(l: Literal, a: Attribute) if l.value != null => eqKeep(range(a), l, cmp)
      case GreaterThan(a: Attribute, l: Literal) =>
        range(a).forall { case (_, mx) => cmp(GreaterThan, mx, l) }
      case GreaterThan(l: Literal, a: Attribute) => // l > a ⇔ a < l
        range(a).forall { case (mn, _) => cmp(LessThan, mn, l) }
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        range(a).forall { case (_, mx) => cmp(GreaterThanOrEqual, mx, l) }
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        range(a).forall { case (mn, _) => cmp(LessThanOrEqual, mn, l) }
      case LessThan(a: Attribute, l: Literal) =>
        range(a).forall { case (mn, _) => cmp(LessThan, mn, l) }
      case LessThan(l: Literal, a: Attribute) =>
        range(a).forall { case (_, mx) => cmp(GreaterThan, mx, l) }
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        range(a).forall { case (mn, _) => cmp(LessThanOrEqual, mn, l) }
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        range(a).forall { case (_, mx) => cmp(GreaterThanOrEqual, mx, l) }
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => eqKeep(range(a), v.asInstanceOf[Literal], cmp))
      case _ => true
    }
    rec(e)
  }

  private def eqKeep(r: Option[(String, String)], l: Literal,
      cmp: ((Expression, Expression) => Expression, String, Literal) => Boolean): Boolean =
    r.forall { case (mn, mx) =>
      cmp(LessThanOrEqual, mn, l) && cmp(GreaterThanOrEqual, mx, l)
    }

  /** The DUAL of [[mayContain]]: does EVERY row of the file provably
    * satisfy `e`? Conservative the other way — an unrecognized shape, a
    * column without stats, a missing or non-zero null count, or an
    * unparsable stat answers FALSE (not provable) — so a whole-file action
    * (DELETE dropping a fully-covered file as a pure metadata remove) is
    * only ever taken when it is certainly right. The null-count gate is
    * load-bearing, not pedantry: min/max envelopes IGNORE nulls, and a row
    * whose referenced column is null evaluates a comparison to NULL, not
    * TRUE — under SQL DELETE that row is KEPT, so a file with any null in
    * a referenced column must never be dropped whole on envelope evidence.
    */
  def mustMatchAll(stats: Map[String, (String, String)],
      nulls: Map[String, Long], e0: Expression, tzId: String): Boolean = {
    val e = fold(e0)
    val tz = Some(tzId)
    // stat-string vs literal comparison in the literal's own type; a cast
    // that fails (TRY → null) or a non-boolean eval is NOT a proof
    def cmp(mk: (Expression, Expression) => Expression, stat: String, lit: Literal): Boolean =
      mk(Cast(Literal(stat), lit.dataType, tz, EvalMode.TRY), lit).eval() match {
        case b: java.lang.Boolean => b.booleanValue()
        case _                    => false
      }
    def nullFree(a: Attribute): Boolean =
      nulls.get(a.name).orElse(
        nulls.collectFirst { case (k, v) if k.equalsIgnoreCase(a.name) => v })
        .contains(0L)
    // the envelope, admissible for a proof only when the column is
    // provably null-free (otherwise the envelope describes a SUBSET of rows)
    def range(a: Attribute): Option[(String, String)] =
      if (!nullFree(a)) None
      else stats.get(a.name).orElse(
        stats.collectFirst { case (k, v) if k.equalsIgnoreCase(a.name) => v })
    // all rows == l ⇔ min == l == max (over a null-free column)
    def allEq(a: Attribute, l: Literal): Boolean =
      range(a).exists { case (mn, mx) =>
        cmp(EqualTo, mn, l) && cmp(EqualTo, mx, l)
      }
    def rec(e: Expression): Boolean = e match {
      case And(l, r) => rec(l) && rec(r)
      case Or(l, r)  => rec(l) || rec(r)
      case EqualTo(a: Attribute, l: Literal) => allEq(a, l)
      case EqualTo(l: Literal, a: Attribute) => allEq(a, l)
      case EqualNullSafe(a: Attribute, l: Literal) if l.value != null => allEq(a, l)
      case EqualNullSafe(l: Literal, a: Attribute) if l.value != null => allEq(a, l)
      case GreaterThan(a: Attribute, l: Literal) =>
        range(a).exists { case (mn, _) => cmp(GreaterThan, mn, l) }
      case GreaterThan(l: Literal, a: Attribute) => // l > a ⇔ a < l for all rows
        range(a).exists { case (_, mx) => cmp(LessThan, mx, l) }
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        range(a).exists { case (mn, _) => cmp(GreaterThanOrEqual, mn, l) }
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        range(a).exists { case (_, mx) => cmp(LessThanOrEqual, mx, l) }
      case LessThan(a: Attribute, l: Literal) =>
        range(a).exists { case (_, mx) => cmp(LessThan, mx, l) }
      case LessThan(l: Literal, a: Attribute) =>
        range(a).exists { case (mn, _) => cmp(GreaterThan, mn, l) }
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        range(a).exists { case (_, mx) => cmp(LessThanOrEqual, mx, l) }
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        range(a).exists { case (mn, _) => cmp(GreaterThanOrEqual, mn, l) }
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        // every row equals SOME listed literal ⇔ the (null-free) file is
        // constant and that constant is listed
        vs.exists(v => allEq(a, v.asInstanceOf[Literal]))
      case IsNotNull(a: Attribute) => nullFree(a)
      case _ => false
    }
    rec(e)
  }
}
