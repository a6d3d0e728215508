package graft.sources

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

import scala.jdk.CollectionConverters._

/** S2: YAML run-config source (SURVEY.md §2.1 S2).
  *
  * The reference boots from a YAML file — `yaml.safe_load(config_yml_path)`
  * at web_scraper.py:35-36 — holding directories and connection settings
  * that drive the whole run. Spark-first analog: one immutable config
  * loaded at session build time that can (a) answer dot-path lookups,
  * (b) contribute its `spark.conf` section to the session confs
  * (graft.GraftSession), and
  * (c) hand whole sections (e.g. `jdbc:`) to sinks as option maps.
  *
  * Safe-load semantics, matching the reference: the YAML is parsed with
  * snakeyaml's `SafeConstructor`, which accepts only plain scalars, maps
  * and lists — a document carrying `!!` class-instantiation tags is
  * REJECTED, not executed (config files travel with jobs and are exactly
  * the kind of semi-trusted input that should never instantiate classes).
  *
  * Precedence contract (spec-covered via [[YamlConfig.resolve]]): explicit
  * environment variables beat the YAML, the YAML beats built-in defaults —
  * so the driver's env-driven contract (`SPARK_GRAFT_SF_DIR` etc.) is
  * unchanged and a config file only fills what the environment left unset.
  */
final class YamlConfig private (root: Map[String, Any]) {

  /** Dot-path scalar lookup, stringified: `get("spark.cpus")` reads
    * `spark: {cpus: 32}` as Some("32"). Missing path or non-scalar → None. */
  def get(path: String): Option[String] = node(path).collect {
    case s: String => s
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
  }

  /** Dot-path mapping lookup, flattened to String→String: scalar values
    * only (nested sub-maps are skipped — use a deeper path for those).
    * `section("spark.conf")` is builder-ready; `section("jdbc")` is
    * sink-option-ready. Missing path or non-map → empty. */
  def section(path: String): Map[String, String] = node(path) match {
    case Some(m: Map[_, _]) =>
      m.collect {
        case (k, v: String) => k.toString -> v
        case (k, v: java.lang.Number) => k.toString -> v.toString
        case (k, v: java.lang.Boolean) => k.toString -> v.toString
      }.toMap
    case _ => Map.empty
  }

  private def node(path: String): Option[Any] =
    path.split('.').foldLeft(Option[Any](root)) {
      case (Some(m: Map[_, _]), key) => m.asInstanceOf[Map[Any, Any]].get(key)
      case _ => None
    }
}

object YamlConfig {

  /** Parse a YAML mapping document (safe-load: scalars/maps/lists only;
    * documents with object-instantiation tags throw). Empty or null
    * documents yield an empty config. */
  def parse(text: String): YamlConfig = {
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions()))
    new YamlConfig(toScala(yaml.load[Any](text)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    })
  }

  /** Load from a file path (the reference's `config_yml_path` entry form). */
  def load(path: String): YamlConfig =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** The optional config the entry points honor: `SPARK_GRAFT_CONFIG_YML`
    * names a YAML file; unset means env-and-defaults only. */
  def fromEnv(): Option[YamlConfig] =
    sys.env.get("SPARK_GRAFT_CONFIG_YML").map(load)

  /** The precedence rule as a function (spec target): environment beats
    * YAML beats default. `env` is injected so specs can simulate
    * environments without mutating the JVM's. */
  def resolve(env: String => Option[String], yml: Option[YamlConfig])(
      envKey: String, ymlPath: String, default: String): String =
    env(envKey).orElse(yml.flatMap(_.get(ymlPath))).getOrElse(default)

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, value) => String.valueOf(k) -> toScala(value) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case other => other
  }
}
