package graft

import org.apache.spark.sql.functions._

/** Catalog-level smoke + invariants at sf0.001. Exact value agreement with
  * DuckDB is the driver's t2 gate (replicated locally by tools/check.py);
  * these specs guard structural properties that survive refactors.
  */
class QueriesSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  test("every declared query with an oracle runs and is non-degenerate") {
    val emptyOk = Set("join_anti", "dedup_embedding") // legitimately may be empty
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      if (!emptyOk(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("oracleSql covers every query except the declared sketch ops") {
    // Engine-specific sketches (HLL++/KLL/DataSketches) have no cross-engine
    // oracle by design — the driver rows-only-checks them; SketchSpec bounds
    // their accuracy against exact answers.
    val rowsOnly = Set("agg_approx_distinct", "agg_approx_quantile", "agg_hll_merge")
    assert(SparkEntry.queries.keySet -- rowsOnly == SparkEntry.oracleSql.keySet)
    assert(rowsOnly.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry flagship returns nation-level rollup") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 25) // 25 nations
    assert(rows.forall(_.getAs[Long]("n_cust") > 0))
  }

  test("dedup invariants: exact dedup is idempotent, minhash pairs are ordered") {
    val d = SparkEntry.queries("dedup_exact")(spark, dir)
    assert(d.count() == d.dropDuplicates("text").count())
    val pairs = SparkEntry.queries("dedup_minhash")(spark, dir).collect()
    assert(pairs.forall(r => r.getAs[Long]("id1") < r.getAs[Long]("id2")))
  }

  test("window_latest picks exactly one row per customer") {
    val w = SparkEntry.queries("window_latest")(spark, dir)
    assert(w.groupBy("o_custkey").count().filter(col("count") > 1).count() == 0)
  }

  test("row_fanout conserves: base rows equal part count") {
    val f = SparkEntry.queries("row_fanout")(spark, dir)
    val parts = Tables.part(spark, dir).count()
    assert(f.filter(col("variant") === "base").count() == parts)
  }

  test("filter and projection push into the parquet scan") {
    val plan = SparkEntry.queries("scan_project")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"),
      "projection not pruned")
  }

  test("partition_pruned_scan prunes whole lang= directories at plan time") {
    val df = SparkEntry.queries("partition_pruned_scan")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the lang filter must be a PARTITION filter (directory pruning), not a
    // row-level pushed filter over all files
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter not applied to partitions:\n$plan")
    assert(plan.contains("(lang") && plan.contains("= en)"),
      s"en pruning predicate missing:\n$plan")
    // and the scan must actually select fewer partitions than exist
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters")).get
    assert(!scan.contains("PushedFilters: [IsNotNull(lang"),
      "lang should be pruned via partitions, not row filters")
  }

  test("small-dimension joins broadcast (join_multiway plan)") {
    val plan = RelationalQueries.joinMultiway.fn(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("sql_tpch_q6 is a pure scan-side plan: every predicate pushed, no join") {
    val qe = SparkEntry.queries("sql_tpch_q6")(spark, dir).queryExecution
    val plan = qe.executedPlan.toString
    // the discount band and quantity cap must reach the parquet scan so
    // row-group stats prune at the storage layer — the query's whole point
    // (read from the scan node's metadata: the plan STRING elides long
    // PushedFilters lists)
    // sparkPlan, not executedPlan: AQE wraps the tree in an
    // AdaptiveSparkPlanExec leaf that collectLeaves cannot see through
    val pushed = qe.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata("PushedFilters")
    }.mkString
    Seq("GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)", "GreaterThanOrEqual(l_shipdate").foreach { p =>
      assert(pushed.contains(p), s"$p not pushed; PushedFilters=$pushed")
    }
    assert(!plan.contains("Join"), s"q6 must not join:\n$plan")
    // one global aggregate: partial + final HashAggregate, nothing else wide
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
  }

  test("sql_tpch_q1 aggregates partial-then-final with the date filter pushed") {
    val plan = SparkEntry.queries("sql_tpch_q1")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"shipdate filter not at the scan:\n$plan")
    // two-phase aggregation: shuffle volume is |groups|, not |rows|
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation:\n$plan")
  }

  test("the partsupp TPC-H shapes decorrelate: joins + aggregates, never row-at-a-time plans") {
    def planOf(q: String): String =
      SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
    // q2's correlated MIN must become an aggregate + join-back; a plan that
    // kept a per-row subquery would show a nested-loop/cartesian shape
    val p2 = planOf("sql_tpch_q2")
    assert(p2.contains("HashAggregate"), s"q2 lost its decorrelated MIN aggregate:\n$p2")
    assert(!p2.contains("CartesianProduct"), s"q2 planned a cartesian:\n$p2")
    // q20's nested IN chain must plan as semi joins
    val p20 = planOf("sql_tpch_q20")
    assert(p20.contains("LeftSemi"), s"q20's IN chain is not a semi join:\n$p20")
    assert(!p20.contains("CartesianProduct"), s"q20 planned a cartesian:\n$p20")
    // q9's spine broadcasts its dimension sides, and the r16 engine-side
    // form reduces lineitem by the broadcast %red% part filter BEFORE the
    // derived-partsupp DISTINCT (the sf10 default-conf fit): the aggregate
    // must sit above a broadcast join, not above a bare full scan
    val p9 = planOf("sql_tpch_q9")
    assert(p9.contains("BroadcastHashJoin"), s"q9 broadcasts no dimension:\n$p9")
    assert(!p9.contains("CartesianProduct"), s"q9 planned a cartesian:\n$p9")
    val distinctIdx = p9.indexOf("HashAggregate(keys=[ps_partkey")
    assert(distinctIdx >= 0, s"q9 lost the derived-partsupp DISTINCT:\n$p9")
    assert(p9.indexOf("BroadcastHashJoin", distinctIdx) >= 0,
      s"q9's partsupp DISTINCT does not sit above the red-part broadcast reduction:\n$p9")
    // q21's engine-side form replaces the semi+anti fact self-joins with
    // the per-order pre-aggregation: two stacked aggs, no anti/semi join,
    // no sort-merge self-join of lineitem
    val p21 = planOf("sql_tpch_q21")
    assert(!p21.contains("LeftAnti") && !p21.contains("LeftSemi"),
      s"q21 kept a semi/anti fact self-join:\n$p21")
    assert("HashAggregate".r.findAllIn(p21).size >= 4,
      s"q21 lost the per-order pre-aggregation:\n$p21")
    // q11 aggregates twice (groups + the HAVING threshold) with no cartesian
    val p11 = planOf("sql_tpch_q11")
    assert("HashAggregate".r.findAllIn(p11).size >= 2,
      s"q11 lost an aggregation side:\n$p11")
    assert(!p11.contains("CartesianProduct"), s"q11 planned a cartesian:\n$p11")
  }

  test("text_ttr is a shuffle-free expression pass (sort excepted)") {
    val plan = SparkEntry.queries("text_ttr")(spark, dir)
      .queryExecution.executedPlan.toString
    // exactly one exchange: the final ORDER BY's range partitioning — the
    // scoring itself must not shuffle or explode
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected only the sort exchange:\n$plan")
    assert(!plan.contains("Generate"), s"ttr must not explode tokens:\n$plan")
  }

  test("text_ttr's token counts equal the exploded groupBy the oracle runs") {
    // materialized (count() would prune the hapax fold away)
    val got = SparkEntry.queries("text_ttr")(spark, dir)
      .select("doc_id", "n_tok", "n_types", "n_hapax").collect().map(_.toSeq).toSet
    val tc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val want = tc.groupBy("doc_id")
      .agg(sum(col("c")).cast("long"), count(lit(1)),
        count(when(col("c") === 1, true)))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == want)
  }
}
