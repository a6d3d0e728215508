package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator (dev tooling, not part of the driver contract).
  *
  * Replicates the driver's sf0.1 parquet K× with re-keyed ids into a local dir so
  * Bench can measure the catalog at ~10× data and prove near-linear scaling
  * (VERDICT r2 "Next round" item 1). Design constraints, so the scaled data
  * exercises the SAME workload shape instead of a degenerate one:
  *
  *  - Every int64 key is offset by `copy * 1e10`: orders↔lineitem↔customer↔part↔
  *    supplier referential integrity holds within each copy, and group-by key
  *    cardinality grows ~K× like a real scale-up.
  *  - `documents.text` gets a per-copy character rotation (`translate` over two
  *    disjoint 10-letter alphabets → up to 100 distinct transforms). Verbatim
  *    clones would give every doc K−1 artificial near-duplicates, inflating
  *    LSH/Jaccard candidate pairs by K² and making near-dup queries look
  *    super-linear for a fake reason. The rotation changes every shingle while
  *    preserving length, word boundaries and the WITHIN-copy duplicate
  *    structure, so the duplicate ratio stays constant as data grows.
  *  - `embeddings.embedding` gets a per-copy diagonal ±1 sign flip — an
  *    orthogonal transform, so all within-copy cosines/dot-products are exactly
  *    preserved (dot(Sx, Sy) = dot(x, y) for diagonal S with s²=1) while
  *    cross-copy vectors decorrelate. ANN/LSH workloads keep their true
  *    neighborhood structure at K× corpus size.
  *  - `events.ts` stays raw int64 nanos (the driver writes TIMESTAMP(NANOS),
  *    which we read via the legacy nanosAsLong flag), so `Tables.events` reads
  *    the generated dir byte-identically to the driver's.
  *  - `region`/`nation` are fixed dimensions and are copied once, like TPC-H.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <dstDir> <copies> [mode]
  *   mode: rotate (default, quality-failing replicas — near-dup-safe) |
  *         qdup (quality-SURVIVING replicas for pipeline scale curves)
  */
object GenScale {
  private val KeyOffset = 10000000000L

  private val int64Keys: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id")
  )

  /** Two DISJOINT 10-letter alphabets; copy i applies rotation i%10 to the
    * first and i/10%10 to the second, giving 100 distinct injective
    * transforms (rotations 1..9 are fixed-point-free; the alphabets don't
    * interact). For i<10 the second rotation is the identity, so 10-copy
    * output is unchanged vs the single-alphabet scheme. */
  private val Alphabet  = "aeiounrstl"
  private val Alphabet2 = "cdmpbghfwk"
  private def rotated(a: String, r: Int): String = a.drop(r % a.length) + a.take(r % a.length)

  /** `qdup` mode text transform: rotate ONLY non-stopword tokens, so the
    * replica keeps copy-0's quality metrics EXACTLY (token count, stopword
    * hits — the same exact-token predicate as TextFns.stopwordHits — and
    * text length) and therefore SURVIVES CorpusPipeline's English quality
    * floor, while nearly every 3-gram shingle still contains a rotated
    * content word, so cross-copy docs stay far below the Jaccard near-dup
    * threshold. Result: the pipeline's survivor set and its within-copy
    * duplicate structure both grow ~K× — dedup/cluster stages do real
    * growing work at scale — without the fake K² cross-copy pair inflation
    * verbatim clones would cause. (The driver's synthetic documents are
    * single-space token streams, so the space split is exact.) */
  private def qdupText(i: Int): org.apache.spark.sql.Column = {
    val quoted = graft.functions.TextFns.stopwords.map(s => s"'$s'").mkString(", ")
    val r1 = rotated(Alphabet, i % 10)
    val r2 = rotated(Alphabet2, i / 10 % 10)
    expr(s"""array_join(transform(split(text, ' '), t ->
      CASE WHEN t IN ($quoted) THEN t
           ELSE translate(translate(t, '$Alphabet', '$r1'), '$Alphabet2', '$r2')
      END), ' ')""")
  }

  private def copyOf(df: DataFrame, table: String, i: Int, mode: String): DataFrame = {
    val keyed = int64Keys.getOrElse(table, Nil).foldLeft(df) { (d, k) =>
      d.withColumn(k, col(k) + lit(KeyOffset * i))
    }
    val perturbed = table match {
      case "documents" if i > 0 && mode == "qdup" =>
        keyed.withColumn("text", qdupText(i))
      case "documents" if i > 0 =>
        keyed.withColumn("text",
          translate(translate(col("text"), Alphabet, rotated(Alphabet, i % 10)),
            Alphabet2, rotated(Alphabet2, i / 10 % 10)))
      case "embeddings" if i > 0 =>
        // deterministic per-(copy, index) sign flip; seed varies by copy
        keyed.withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> IF(pmod(hash(j + ${i * 1000003}), 2) = 0, x, -x))"))
      case _ => keyed
    }
    perturbed
  }

  def generate(spark: SparkSession, srcDir: String, dstDir: String, copies: Int,
      mode: String = "rotate"): Unit = {
    require(mode == "rotate" || mode == "qdup", s"unknown GenScale mode '$mode'")
    // read TIMESTAMP(NANOS) as long so the generated events.parquet keeps the
    // raw-nanos column Tables.events expects
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fixedDims = Seq("region", "nation")
    val scaled    = Seq("customer", "supplier", "part", "orders", "lineitem",
                        "events", "documents", "embeddings")
    for (t <- fixedDims) {
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }
    for (t <- scaled) {
      val base = spark.read.parquet(s"$srcDir/$t.parquet")
      val all = (0 until copies).map(i => copyOf(base, t, i, mode)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      println(s"GENSCALE $t: ${copies}x ($mode) written to $dstDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, copiesStr) = args.take(3)
    val mode = args.drop(3).headOption.getOrElse("rotate")
    val spark = graft.GraftSession.fromEnv()
    generate(spark, srcDir, dstDir, copiesStr.toInt, mode)
    spark.stop()
  }
}
