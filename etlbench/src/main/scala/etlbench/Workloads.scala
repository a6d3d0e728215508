package etlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q

object Catalog {
  /** One op per named catalog entry, timed under the `catalog.<family>` span. */
  def ops(c: Ctx, family: String, entries: Seq[(String, Q)], names: String*): Seq[Op] = {
    val byName = entries.toMap
    names.map { name =>
      val q = byName.getOrElse(name, sys.error(s"no catalog entry $name in $family"))
      Op(name, "op", sink => c.tr.span(s"catalog.$family", name) { sink(name, q.fn(c.spark, c.data)); () })
    }
  }
}

/** Corpus curation: the pipeline's public corpus calls (graft.api), direct
  * calls into the operators they build on (graft.ops), then entries of the
  * text, dedup, vector and sample catalog families, all on the same input.
  * No transaction-log work. */
final class CorpusCuration(c: Ctx) extends Workload {
  import graft.api.{CorpusPipeline, Dedup, Similarity}
  import graft.ops._
  import Verifier.{longs, subset, unique}
  private val spark = c.spark
  private val docs = graft.Tables.documents(spark, c.data)
  private val emb = graft.Tables.embeddings(spark, c.data)
  private lazy val docIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
  private lazy val embIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
  private def sampled(df: DataFrame, id: String, salt: Long, mod: Int) =
    df.filter(pmod(xxhash64(col(id), lit(c.seed + salt)), lit(mod)) === 0)
  private val queries = sampled(emb, "vec_id", 1, 20)
  // Sampling's salt domain is [0, HashPrime); any seed maps into it
  private val sampleSalt = java.lang.Math.floorMod(c.seed, Sampling.HashPrime)
  private val Tau = 0.85

  private val api = Seq(
    Op("prepare_full", "op", sink => c.tr.span("api.corpus_pipeline", "prepareFull") {
      val p = CorpusPipeline.prepareFull(docs, "doc_id", "text", "lang",
        Some((emb, "vec_id", "embedding")), None)
      val d = sink("prepare_full.documents", p.documents)
      val t = sink("prepare_full.train_chunks", p.trainChunks)
      sink.check("documents ⊆ input, one cluster per doc") { subset(d, "id", docIds) && unique(d, "id") }
      sink.check("train chunks ⊆ documents") { subset(t, "id", longs(d, "id").toSet) }
    }),
    Op("cosine_topk", "op", sink => c.tr.span("api.similarity", "cosineTopK") {
      val r = sink("cosine_topk", Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10))
      sink.check("neighbours ⊆ input, ranks unique") { subset(r, "nbr_id", embIds) && unique(r, "q_id", "rank") }
    }),
    Op("ivf_topk", "op", sink => c.tr.span("api.similarity", "ivfTopK") {
      val r = sink("ivf_topk", Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10, nCells = 8, maxIters = 4))
      sink.check("neighbours ⊆ input, ranks unique") { subset(r, "nbr_id", embIds) && unique(r, "q_id", "rank") }
    }),
    Op("lsh_near_dup_adaptive", "op", sink => c.tr.span("api.similarity", "lshCosineNearDupAdaptive") {
      val r = sink("lsh_near_dup_adaptive", Similarity.lshCosineNearDupAdaptive(emb, "vec_id", "embedding", Tau))
      sink.check("pairs ordered and ⊆ input") {
        r.forall(p => p.getAs[Long]("id1") < p.getAs[Long]("id2")) && subset(r, "id1", embIds) && subset(r, "id2", embIds)
      }
      sink.metric("api.similarity.lsh_candidate_precision") {
        val (bands, bits) = Similarity.adaptiveBandGeometry(Tau, embIds.size.toLong)
        val cand = Similarity.lshCandidates(emb, "vec_id", "embedding", bands, bits).collect().length
        if (cand == 0) 1.0 else r.size.toDouble / cand
      }
    }),
    Op("near_dup_clusters", "op", sink => c.tr.span("api.dedup", "shingleSets") {
      val sets = Dedup.shingleSets(docs, "doc_id", "text")
      val pairs = c.tr.span("ops.jaccard", "nearDupPairsAutoSets") {
        val p = JaccardPrefix.nearDupPairsAutoSets(sets, "doc_id", "hs", Dedup.jaccardTau, Dedup.hotShingleDf)
        sink("jaccard_pairs", p)
        p
      }
      c.tr.span("ops.connected_components", "labels") {
        val l = sink("cc_labels", ConnectedComponents.labels(pairs))
        sink.check("clusters disjoint, label ≤ id, ids ⊆ input") {
          unique(l, "id") && l.forall(r => r.getAs[Long]("label") <= r.getAs[Long]("id")) && subset(l, "id", docIds)
        }
      }
    }),
    Op("kmeans", "op", sink => c.tr.span("ops.kmeans", "fit+assign") {
      val a = sink("kmeans_assign", KMeans.assign(emb, "embedding", KMeans.fit(emb, "vec_id", "embedding", 8, maxIters = 4)))
      sink.check("one cell in [0,8) per vector") {
        unique(a, "vec_id") && longs(a, "cell").forall(k => k >= 0 && k < 8) && a.size == embIds.size
      }
    }),
    Op("product_quant", "op", sink => c.tr.span("ops.product_quant", "trainedCodebook+encode") {
      val cb = ProductQuant.trainedCodebook(emb, "vec_id", "embedding", 2, 8, maxIters = 2)
      val r = sink("pq_encode", ProductQuant.encode(emb, "vec_id", "embedding", cb, 2))
      sink.check("every vector encoded once per block") {
        subset(r, "vec_id", embIds) && unique(r, "vec_id", "b") && r.size == 2 * embIds.size
      }
    }),
    Op("bloom_incremental", "op", sink => c.tr.span("ops.bloom", "incrementalExactDedup") {
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val r = sink("bloom_incremental",
        Bloom.incrementalExactDedup(docs.filter(col("doc_id") % 4 =!= 0), batch, "doc_id", "text"))
      sink.check("admitted ⊆ batch") { longs(r, "doc_id").forall(i => i % 4 == 0 && docIds(i)) }
    }),
    Op("sampling", "op", sink => c.tr.span("ops.sampling", "stratifiedSample+domainCap") {
      val s = sink("stratified_sample",
        Sampling.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 0.3), 0.6, salt = sampleSalt))
      val d = sink("domain_cap", Sampling.domainCap(docs, "doc_id", "source", 40, salt = sampleSalt))
      sink.check("samples ⊆ input") { subset(s, "doc_id", docIds) && subset(d, "doc_id", docIds) }
    }))

  private val catalog = new scala.util.Random(c.seed).shuffle(
    Catalog.ops(c, "text", graft.TextQueries.all, "text_ttr") ++
      Catalog.ops(c, "dedup", graft.DedupQueries.all, "dedup_minhash") ++
      Catalog.ops(c, "vector", graft.VectorQueries.all, "vec_quantize_int8") ++
      Catalog.ops(c, "sample", graft.SampleQueries.all, "sample_k_by_hash"))

  def pass(): Seq[Op] = api ++ catalog
  // prepareFull is the longest op: it gets a lane of its own
  override def lanes(): Seq[Seq[Op]] = {
    val rest = pass().tail
    Seq(pass().take(1), rest.indices.filter(_ % 2 == 0).map(rest), rest.indices.filter(_ % 2 == 1).map(rest))
  }
}
