package graft.ops

import org.scalacheck.Gen

import graft.SparkSpec

/** ConnectedComponents vs a driver-side union-find reference on random
  * graphs (seeded scalacheck generators, same style as ExpressionsSpec),
  * plus the convergence-batching and diameter edge cases the fixpoint
  * logic must survive. */
class ConnectedComponentsSpec extends SparkSpec {

  /** Union-find min-label reference: components over the edge list,
    * restricted to edge-touched nodes (the operator's contract). */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  /** The distributed fixpoint (driver route off). */
  private def run(edges: Seq[(Long, Long)], checkEvery: Int = 2): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.labelsBounded(edges.toDF("src", "dst"), checkEvery, 1000, localEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val graphGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(1, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong)
      b <- Gen.choose(0L, n.toLong) if b != a
    } yield (a, b))
  } yield edges

  test("random graphs match union-find (property)") {
    val cases = (0 until 8).flatMap(i =>
      graphGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))
    assert(cases.nonEmpty)
    cases.filter(_.nonEmpty).foreach { edges =>
      assert(run(edges) == reference(edges), s"diverged on $edges")
    }
  }

  test("convergence batching is invisible: checkEvery 1, 2, 5 agree") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 13L), (13L, 10L), (20L, 21L))
    val want = reference(edges)
    for (k <- Seq(1, 2, 5)) assert(run(edges, k) == want, s"checkEvery=$k diverged")
  }

  test("path graph (worst-case diameter): min label walks the whole chain") {
    // label 0 must propagate one hop per round — exercises many fixpoint
    // rounds and the overshoot-after-convergence logic
    val path = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(run(path) == (0L until 12L).map(_ -> 0L).toMap)
  }

  test("self-contained components keep disjoint labels") {
    val edges = Seq((5L, 6L), (100L, 101L))
    assert(run(edges) == Map(5L -> 5L, 6L -> 5L, 100L -> 100L, 101L -> 100L))
  }

  test("pointer-doubling path reaches the same fixpoint in fewer rounds") {
    // the scale path (jump ≥ threshold nodes) must agree with plain
    // propagation on every graph — pin it via the test hook on the
    // property cases plus the worst-case chain, and check the round
    // count actually drops on the deep path
    val cases = (0 until 4).flatMap(i =>
      graphGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(100L + i)))
        .filter(_.nonEmpty)
    val path = (0L until 24L).sliding(2).map(s => (s(0), s(1))).toSeq
    try {
      for (edges <- cases :+ path) {
        ConnectedComponents.forceJump = Some(false)
        val plain = run(edges)
        val plainRounds = ConnectedComponents.lastRounds.get
        ConnectedComponents.forceJump = Some(true)
        assert(run(edges) == plain, s"jump path diverged on $edges")
        val jumpRounds = ConnectedComponents.lastRounds.get
        if (edges eq path) {
          assert(plainRounds >= 23, s"chain-24 plain rounds: $plainRounds")
          assert(jumpRounds <= 10, s"chain-24 jump rounds: $jumpRounds")
        }
      }
    } finally ConnectedComponents.forceJump = None
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[org.apache.spark.sql.Row] =
    df.collect().toSet

  test("driver route equals the distributed fixpoint: rows and schema (property)") {
    import spark.implicits._
    val cases = (0 until 8).flatMap(i =>
      graphGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(200L + i)))
    val inputs = cases.map(_.toDF("a", "b")) ++ Seq(
      Seq.empty[(Long, Long)].toDF("a", "b"),
      Seq((3, 4), (4, 9), (20, 21)).toDF("a", "b"), // int ids
      // a non-literal input: persisted first, then probed
      cases.head.toDF("a", "b").repartition(3))
    for (pairs <- inputs) {
      val local = ConnectedComponents.labels(pairs)
      assert(ConnectedComponents.lastRounds.contains(0), "driver route not taken")
      val dist = ConnectedComponents.labelsBounded(pairs, 2, 1000, localEdges = 0)
      assert(local.schema == dist.schema, s"${local.schema} vs ${dist.schema}")
      assert(rows(local) == rows(dist), s"diverged on ${pairs.collect().toSeq}")
    }
  }

  test("driver route falls back: null ids, non-integral ids, edges past the bound") {
    import spark.implicits._
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(3L), Some(4L))).toDF("a", "b")
    val doubles = Seq((1.0, 2.0), (2.0, 3.0)).toDF("a", "b")
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 8L), (10L, 11L)).toDF("a", "b")
    for ((pairs, bound) <- Seq(withNull -> 100, doubles -> 100, edges -> 4)) {
      ConnectedComponents.lastRounds = None
      val got = ConnectedComponents.labelsBounded(pairs, 2, 1000, bound)
      assert(ConnectedComponents.lastRounds.exists(_ > 0), s"driver route taken on $pairs")
      val want = ConnectedComponents.labelsBounded(pairs, 2, 1000, localEdges = 0)
      assert(got.schema == want.schema && rows(got) == rows(want))
    }
    // exactly at the bound the driver resolves it
    val at = ConnectedComponents.labelsBounded(edges, 2, 1000, localEdges = 5)
    assert(ConnectedComponents.lastRounds.contains(0))
    assert(rows(at).map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 10L, 11L -> 10L))
  }

  test("a 40-edge graph is labelled in at most 2 Spark jobs") {
    import spark.implicits._
    val edges = (0L until 40L).map(i => (i, if (i % 5 == 4) i + 100 else i + 1)).toDF("a", "b")
    val (n, jobs) = withJobCount(ConnectedComponents.labels(edges).collect().length)
    assert(n == 48)
    assert(jobs <= 2, s"$jobs Spark jobs")
  }
}
