package graft

import org.apache.spark.sql.SparkSession

import graft.sources.YamlConfig

/** The one SparkSession construction: Bench, Verify, Dev, GenScale and the
  * test sessions all build through it, so every run uses the same confs.
  *
  * [[confs]] is the pure part (spec-covered): an ordered conf list where a
  * later entry for the same key wins, exactly as on a `SparkSession.Builder`.
  * Environment beats YAML beats default for cpus; the YAML's `spark.conf`
  * section comes next; the two session statics come last, so no YAML can
  * override them. */
object GraftSession {

  /** Local worker threads (and shuffle partitions): `SPARK_GRAFT_CPUS`
    * beats the YAML's `spark.cpus` beats 4. */
  def cpus(env: String => Option[String], yml: Option[YamlConfig]): String =
    YamlConfig.resolve(env, yml)("SPARK_GRAFT_CPUS", "spark.cpus", "4")

  /** Session statics, applied AFTER the YAML confs so the bench's documented
    * sizing is authoritative (r16 ADVICE: placed before, a YAML conf could
    * silently override it); env-driven knobs still win per the
    * env > YAML > default contract. */
  private val statics: Seq[(String, String)] = Seq(
    // Bench's catalog-wide warmup exists so the timed passes measure
    // operators, not Janino/classload bring-up — but the STATIC codegen
    // class cache defaults to 100 entries, and a 175-query catalog
    // (several codegen units each) evicts every query's classes long
    // before its next timed pass: each pass silently re-compiled
    // everything, defeating the warmup's documented purpose. Size the
    // cache to hold the whole catalog (r16; measured sf0.1: 131.9 →
    // 106.4 s same box, identical plans). Not a local[32]-only trick —
    // any deployment running this catalog in one app wants the same,
    // and a single-query app never notices either value.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // Let AQE right-size partitions INSIDE cached-plan materialization
    // (guide §2.1/§2.2 — coalesce small shuffle partitions). Spark's
    // default (false) freezes a cached plan's output partitioning at
    // spark.sql.shuffle.partitions purely so downstream co-partitioning
    // consumers can rely on it; none of this catalog's caches are reused
    // that way, and the iterative operators (connected components' edge
    // cache, the LSH banded-index cache, the Jaccard set caches) otherwise
    // materialize EVERY tiny intermediate at full shuffle width and pay
    // per-task scheduling on each fixpoint round. Scale-correct, not a
    // local[32] tune: AQE still targets its advisory partition size, so a
    // 100 TB cache keeps its thousands of partitions — only the
    // smaller-than-advisory fragments coalesce. Measured r17 (sf0.1,
    // local[32], steady reps): dedup_cluster 4.2 → 2.9 s (tasks 631 → 72),
    // dedup_embedding_cluster 5.5-8.6 → 2.3-2.8 s (tasks 414 → 42) — the
    // 32-core times land at the 8-core readings, closing the r16 verdict's
    // "32-way partitioning hurts the heavy dedup family" finding.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** The ordered conf list for a session; `env` is injected so specs can
    * simulate environments without mutating the JVM's. */
  def confs(env: String => Option[String], yml: Option[YamlConfig]): Seq[(String, String)] = {
    val n = cpus(env, yml)
    Seq("spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++
      yml.toSeq.flatMap(_.section("spark.conf")) ++ statics
  }

  /** A builder carrying `confs` in order, for callers that add more (e.g.
    * session extensions) before `getOrCreate`. */
  def builder(confs: Seq[(String, String)]): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** Builds (or joins) the session and sets the driver's log level. */
  def build(confs: Seq[(String, String)], logLevel: String = "WARN"): SparkSession = {
    val spark = builder(confs).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** An entry point's session: the process environment and the optional
    * YAML file named by `SPARK_GRAFT_CONFIG_YML` decide its confs. */
  def fromEnv(logLevel: String = "WARN"): SparkSession =
    build(confs(sys.env.get, YamlConfig.fromEnv()), logLevel)
}
