package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses one JVM-wide). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** `f`'s result and the Spark jobs it started. */
  def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerDrain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `f` on a session with GraftExtensions ACTUALLY injected at build time
    * (parser injection cannot be retrofitted onto a live session). It shares
    * the SparkContext and the test confs; the shared session is restored
    * afterwards. */
  def withExtSession[A](f: SparkSession => A): A = {
    val base = spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(GraftSession.builder(SparkSpec.confs)
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate())
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}

object SparkSpec {
  /** The entry points' confs with no environment and no YAML: local[4],
    * 4 shuffle partitions and Bench's statics, whatever the test JVM's env. */
  val confs: Seq[(String, String)] = GraftSession.confs(_ => None, None)

  lazy val session: SparkSession = GraftSession.build(confs, "ERROR")
}
