package graft

import graft.sources.YamlConfig

/** The session factory's conf function: env beats YAML beats default for
  * cpus, YAML `spark.conf` entries pass through, and the two statics come
  * after the YAML so no config file can override them. */
class GraftSessionSpec extends SparkSpec {

  private val cpusYml = Some(YamlConfig.parse("spark:\n  cpus: 16\n"))
  private def effective(env: Map[String, String], yml: Option[YamlConfig]) =
    GraftSession.confs(env.get, yml).toMap // a later entry wins, as on a builder

  test("env cpus beats YAML cpus, and YAML cpus beats the default") {
    val fromEnv = effective(Map("SPARK_GRAFT_CPUS" -> "32"), cpusYml)
    assert(fromEnv("spark.master") == "local[32]")
    assert(fromEnv("spark.sql.shuffle.partitions") == "32")
    val fromYml = effective(Map.empty, cpusYml)
    assert(fromYml("spark.master") == "local[16]")
    assert(fromYml("spark.sql.shuffle.partitions") == "16")
    val fromDefault = effective(Map.empty, None)
    assert(fromDefault("spark.master") == "local[4]")
    assert(fromDefault("spark.sql.shuffle.partitions") == "4")
  }

  test("a YAML that sets either static loses to the static") {
    val yml = Some(YamlConfig.parse(
      """spark:
        |  conf:
        |    spark.sql.codegen.cache.maxEntries: 100
        |    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning: false
        |""".stripMargin))
    val got = effective(Map.empty, yml)
    assert(got("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(got("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("other YAML confs pass through unchanged") {
    val yml = Some(YamlConfig.parse(
      """spark:
        |  cpus: 8
        |  conf:
        |    spark.sql.adaptive.enabled: false
        |    spark.sql.shuffle.partitions: 7
        |    spark.sql.autoBroadcastJoinThreshold: -1
        |""".stripMargin))
    val got = effective(Map.empty, yml)
    assert(got("spark.sql.adaptive.enabled") == "false")
    assert(got("spark.sql.shuffle.partitions") == "7")
    assert(got("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(got("spark.master") == "local[8]")
  }

  test("Bench's inputs give the conf list Bench built before the factory, value for value") {
    val yml = Some(YamlConfig.parse(
      "spark:\n  cpus: 8\n  conf:\n    spark.sql.adaptive.enabled: false\n"))
    assert(GraftSession.confs(Map("SPARK_GRAFT_CPUS" -> "32").get, yml) == Seq(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"))
    assert(GraftSession.confs(_ => None, None) == Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"))
  }

  test("the test session is built from the entry points' confs") {
    assert(spark.sparkContext.master == "local[4]")
    for ((k, v) <- SparkSpec.confs if k != "spark.master")
      assert(spark.conf.get(k) == v, k)
  }
}
