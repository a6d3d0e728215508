package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** Connected components by iterative min-label propagation (the classic
  * Pregel shape as keyed DataFrame joins) — the clustering engine behind
  * the catalog's `dedup_cluster` and api.CorpusPipeline's near-dup
  * grouping.
  *
  * Small graphs (at most [[LocalEdges]] edges, integral non-null ids)
  * resolve on the driver: one bounded probe collects the edges and a
  * union-find labels them. Their fixpoint would cost one Spark job per
  * round and little data, so job latency, not work, sets its time. A
  * larger graph pays for that probe with one limit job and at most
  * LocalEdges + 1 collected rows, then runs the fixpoint below over the
  * same persisted input.
  *
  * Scale posture (100 TB): the symmetrized edge set is repartitioned on the
  * join key ONCE and persisted, so every round's edges⋈labels probe reuses
  * the layout — one keyed shuffle per round, not two; the input's own
  * cache is dropped once that copy is built, so the rounds hold one.
  * Lineage is cut per round with a LAZY localCheckpoint: the convergence
  * action materializes all pending rounds AND the fixpoint test in a
  * single Spark job.
  * Convergence (Σlabel, monotone non-increasing, decimal(38,0) so it cannot
  * wrap) is checked every `checkEvery` rounds — overshoot is at most
  * checkEvery−1 cheap no-op shuffles while the blocking driver round-trips
  * (the real at-scale latency chain) are cut by that factor.
  *
  * ROUND COUNT is scale-adaptive (r16, guide §1.2 — the algorithm before
  * the configuration): for graphs past [[jumpNodeThreshold]] nodes the
  * cycle's first step also folds in POINTER DOUBLING — label(label(v)) is
  * in v's component too (every label is a reachable node id), so the best
  * label's distance halves per cycle on top of the edge walks, and rounds
  * drop from O(diameter) to O(log diameter): at 100 TB every avoided round
  * is a full edge-set shuffle plus a blocking driver barrier. Small graphs
  * skip the jump: their rounds are driver-latency-bound, and the extra
  * join's AQE stages cost more than the avoided rounds (measured at sf0.1:
  * 3.6 s plain vs 5.6 s doubled on dedup_cluster — job count, not data,
  * dominates below ~10⁶ nodes). Both paths reach the SAME fixpoint
  * (per-component min id), so every caller's hash gate pins either.
  */
object ConnectedComponents {

  /** Fixpoint rounds of the LAST labels() call on this driver — operator
    * observability for Dev probes (same pattern as JaccardPrefix
    * .lastDecision); never read by query logic. 0 when the driver
    * resolved the graph. */
  @volatile var lastRounds: Option[Int] = None

  /** Node count past which cycles add the pointer-doubling leg. Below it
    * per-round cost is Spark job latency, not shuffle bytes, and plain
    * propagation's fewer/simpler actions win (sf0.1/sf1 measurements in
    * OPTIMIZATION_r16.md); above it rounds are edge-set shuffles and the
    * log-diameter round count wins. */
  private val jumpNodeThreshold = 1000000L

  /** Test hook: pins the jump decision regardless of size, so the
    * equivalence property (same fixpoint on both paths) is unit-testable. */
  @volatile private[graft] var forceJump: Option[Boolean] = None

  /** Undirected edges up to which [[labels]] resolves the graph on the
    * driver. Below it the fixpoint's cost is Spark job latency (about 17
    * jobs for a 22-edge graph); the union-find over the probed edges costs
    * one bounded collect. On a local[4] ladder the driver route won at
    * every rung up to 10⁶ edges (3.4× at 10⁵, 1.6× at 10⁶), so the bound
    * was set by driver heap: about 220 MB allocated at 10⁵ edges when the
    * probe and the labels were boxed Rows; as internal rows and primitive
    * arrays it is about 60 MB (CHANGES.md). */
  private[graft] val LocalEdges = 100000

  /** (id, label) for every node that appears in `pairs` (two columns,
    * src/dst ids of an undirected edge); label = the smallest id reachable
    * from the node. Nodes with no edges are ABSENT — callers union their
    * identity labels back (they need no propagation). The result is either
    * a driver-built frame (at most [[LocalEdges]] edges of integral,
    * non-null ids) or checkpoint-backed (the fixpoint ran to convergence
    * before return); the rows are the same. */
  def labels(pairs: DataFrame, checkEvery: Int = 2, maxIter: Int = 1000): DataFrame =
    labelsBounded(pairs, checkEvery, maxIter, LocalEdges)

  /** [[labels]] with the driver route capped at `localEdges` edges (0
    * always runs the distributed fixpoint — the specs pin both routes). */
  private[graft] def labelsBounded(pairs: DataFrame, checkEvery: Int, maxIter: Int,
      localEdges: Int): DataFrame = {
    require(checkEvery >= 1 && maxIter >= 1)
    val Array(c1, c2) = pairs.columns
    val e0 = pairs.select(col(c1).as("src"), col(c2).as("dst"))
    if (localEdges <= 0) return fixpoint(e0, checkEvery, maxIter)
    // A literal input (e.g. the driver-built Jaccard pairs) is probed in
    // place: caching it would add a job per call (corpus_curation's traced
    // pass, CHANGES.md). Any other plan is persisted first, so the probe
    // and the fixpoint share one evaluation of it.
    val literal = e0.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val input = if (literal) e0 else e0.persist()
    try {
      DriverRoute.probe(input, localEdges).flatMap(unionFind(pairs.sparkSession, input.schema, _))
        .getOrElse(fixpoint(input, checkEvery, maxIter))
    } finally if (!literal) input.unpersist()
  }

  /** Labels from a union-find over the probed edges, or None when they
    * hold a null or non-integral id. Ids are sorted and de-duplicated into
    * a primitive array; each union keeps the smaller index as root, so
    * every component's root is its smallest id. */
  private def unionFind(spark: SparkSession, edgeSchema: StructType,
      probe: Array[InternalRow]): Option[DataFrame] = {
    val Seq(src, dst) = edgeSchema.fields.toSeq
    val long = src.dataType == LongType
    val integral = src.dataType == dst.dataType && (long || src.dataType == IntegerType)
    if (!integral || probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val ends = new Array[Long](2 * probe.length)
    for (i <- probe.indices; e <- 0 to 1)
      ends(2 * i + e) = if (long) probe(i).getLong(e) else probe(i).getInt(e).toLong
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var m = 0
    for (i <- sorted.indices) if (m == 0 || sorted(i) != sorted(m - 1)) { sorted(m) = sorted(i); m += 1 }
    val ids = java.util.Arrays.copyOf(sorted, m)
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    for (i <- probe.indices) {
      val a = find(java.util.Arrays.binarySearch(ids, ends(2 * i)))
      val b = find(java.util.Arrays.binarySearch(ids, ends(2 * i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val labels = Array.tabulate(m)(k => ids(find(k)))
    // the fixpoint's schema: label is a min() aggregate, nullable unless the
    // graph is empty and no round ran
    val nullable = src.nullable || dst.nullable
    val schema = StructType(Seq(src.copy(name = "id", nullable = nullable),
      src.copy(name = "label", nullable = nullable || m > 0)))
    lastRounds = Some(0)
    Some(DriverRoute.idPairs(spark, schema, ids, labels, m))
  }

  /** The distributed min-label fixpoint over (src, dst) edges; `e0`'s
    * cache, if it has one, is released once the symmetrized copy is built. */
  private def fixpoint(e0: DataFrame, checkEvery: Int, maxIter: Int): DataFrame = {
    val edges = e0.union(e0.select(col("dst"), col("src")))
      .repartition(col("src"))
      .persist() // materialized by first use; every later round reuses it
    // LAZY checkpoint: the first labelSum action materializes the initial
    // label set anyway, so an eager checkpoint here would just add one
    // blocking job per call (measured ~0.2-0.4 s × every clustering query).
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    // convergence statistic AND node count in ONE action — the count is
    // what the jump policy keys on, and it rides the sum's aggregate free
    def sumAndCount(df: DataFrame): (Option[java.math.BigDecimal], Long) = {
      val row = df.agg(sum(col("label").cast("decimal(38,0)")), count(lit(1))).head
      (if (row.isNullAt(0)) None else Some(row.getDecimal(0)), row.getLong(1))
    }
    val (sum0, nodes) = sumAndCount(labels)
    e0.unpersist() // the rounds read only `edges`, now materialized
    var prevSum = sum0
    val jump = forceJump.getOrElse(nodes >= jumpNodeThreshold)
    var iter = 0
    var converged = prevSum.isEmpty
    try {
      while (!converged && iter < maxIter) {
        val steps = math.min(checkEvery, maxIter - iter)
        var next = labels
        for (step <- 0 until steps) {
          val msgs = edges.join(next, col("src") === col("id"))
            .select(col("dst").as("id"), col("label"))
          // The jump leg runs only on the CYCLE'S FIRST step, where `next`
          // is the frame the previous convergence check MATERIALIZED:
          // self-joining a not-yet-materialized lazy checkpoint plants its
          // whole plan twice under two DIFFERENT exchanges (by id and by
          // label — no exchange reuse), which measured slower than no
          // doubling at all (38 → 48 jobs at sf0.1). Later steps in the
          // cycle stay pure edge walks.
          val legs = if (!jump || step > 0) next.union(msgs) else {
            val hop = next.join(
                next.select(col("id").as("__lid"), col("label").as("__llab")),
                col("label") === col("__lid"))
              .select(col("id"), col("__llab").as("label"))
            next.union(msgs).union(hop)
          }
          next = legs
            .groupBy("id").agg(min(col("label")).as("label"))
            .localCheckpoint(false)
        }
        val s2 = sumAndCount(next)._1
        converged = s2 == prevSum
        prevSum = s2
        labels = next
        iter += steps
      }
      // The cap is a runaway backstop, not a semantic limit — exceeding it is
      // an ERROR (a silent cap-exit would return labels diverging from the
      // true fixpoint every caller's contract promises).
      require(converged, s"ConnectedComponents: no convergence in $maxIter rounds")
      lastRounds = Some(iter)
    } finally edges.unpersist()
    labels
  }
}
