package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructType}
import org.slf4j.LoggerFactory

import graft.expressions.{SigPlanes, SketchAgree, VecDot}

/** Public similarity-search / embedding-dedup API.
  *
  * The operator catalog delegates here — `dedup_lsh_cosine` →
  * [[lshCosineNearDup]], `sim_topk` → [[cosineTopK]], `dedup_embedding` →
  * [[exactNearDupPairs]] (QueriesVector.scala) — with the thresholds the
  * driver corpus needs ([[Dedup.cosineTau]]); library users call these
  * directly with their own τ. All cosine math is double-precision with
  * array-order summation (VecDot) so results are deterministic and
  * oracle-matchable. The LSH verify layout is auto-selected per corpus from
  * measured bucket density (see lshCosineNearDup); both layouts' equivalence
  * and the recall/candidate-volume geometry tradeoff are spec-covered in
  * VectorRecallSpec.
  */
object Similarity {

  private val log = LoggerFactory.getLogger(getClass)

  /** Which verify shape [[lshCosineNearDup]] chose for a corpus, with the
    * measured statistics that drove it: estimated candidate-pair count
    * (Σ_bucket C(c,2) over the banded index), banded index rows (n·nBands),
    * and embedding dimension. */
  final case class LshShape(reattach: Boolean, candidates: Long, bandRows: Long, dim: Int) {
    def shapeName: String = if (reattach) "narrow-reattach" else "payload-inline"
  }

  /** Last verify-shape decision made in this JVM — diagnostic surface
    * (tools.Dev prints it; at 100 TB it is the metric an operator reads to
    * know which join layout a corpus took and how dense its buckets were). */
  @volatile private[graft] var lastLshShape: Option[LshShape] = None

  /** Deterministic ±1 pseudo-random hyperplane component for plane `j`,
    * 1-based dimension column `i`: parity of an integer product mod P. Exact
    * 64-bit integer arithmetic, so an external SQL oracle derives identical
    * signs (see VectorQueries.sqlHpSign for the DuckDB twin).
    */
  def hpSign(j: Int, i: Column): Column =
    when(pmod(lit((j + 1).toLong) * (i.cast("long") + 7L) * lit(2654435761L),
      lit(1000000007L)) % 2 === 1, lit(1.0)).otherwise(lit(-1.0))

  /** Default (nBands, bitsPerBand) for a cosine threshold τ.
    *
    * A τ-similar pair agrees with one random hyperplane with
    * p = 1 − arccos(τ)/π; a band of b bits matches with p^b, and n bands give
    * recall 1 − (1 − p^b)^n while candidate volume scales ~ n·n_rows²/2^b.
    * High τ affords wide bands (few candidates, recall stays high); low τ
    * forces narrow bands because p^b collapses. Defaults (recall at the tier's
    * lower edge in parentheses):
    *   τ ≥ 0.9 → (16, 12)  (p≈0.86, recall ≈ 0.93, candidates ~ n²/256)
    *   τ ≥ 0.8 → (16, 8)   (p≈0.80, recall ≈ 0.94, candidates ~ n²/16... per
    *                        band n²/256, 16 bands)
    *   τ ≥ 0.6 → (8, 5)    (p≈0.70, recall ≈ 0.78)
    *   else    → (4, 4)    (p≈0.65 at τ=0.45, recall ≈ 0.54 — at these τ the
    *                        exact blocked all-pairs is usually the right tool;
    *                        see exactNearDupPairs)
    * Callers with a measured similarity distribution should override.
    */
  def bandGeometry(tau: Double): (Int, Int) =
    if (tau >= 0.9) (16, 12)
    else if (tau >= 0.8) (16, 8)
    else if (tau >= 0.6) (8, 5)
    else (4, 4)

  /** Banded sign-LSH candidate pairs (id1 < id2, distinct), BEFORE the exact
    * cosine verify. The banded index carries ONLY (band, key, id) — candidate
    * generation is one equi join over narrow rows, so at 100 TB the shuffle
    * moves ids, not embedding payloads. Exposed separately so callers (and
    * specs) can measure candidate volume per geometry.
    */
  /** The banded sign-LSH index: (__id, __dim, band, key), one row per
    * (vector, band). The expensive part is the nBands·bitsPerBand hyperplane
    * projections per vector — callers that need the index more than once
    * should persist it (lshCosineNearDup does). */
  private[graft] def bandsOf(emb: DataFrame, idCol: String, embCol: String,
      nBands: Int, bitsPerBand: Int): DataFrame = {
    require(nBands > 0 && bitsPerBand > 0)
    val e = emb.select(col(idCol).as("__id"), col(embCol).as("__emb"))
      // embeddings tables often arrive as few input splits; spreading by id
      // parallelizes the projection pass (row-count-preserving reshuffle).
      // Width stays AQE-owned: a pinned-width A/B (r17) measured the
      // coalesced form FASTER on every LSH entry at sf0.1 (e.g.
      // dedup_lsh_cosine_adaptive 0.7 vs 1.5-1.8 s pinned) — unlike
      // simhashOf's far heavier per-row pipeline, which needed the pin.
      .repartition(col("__id"))
    // One compiled traversal computes every plane's projection (see
    // expressions.BandKeys) — semantically identical to per-band
    // aggregate() folds, but codegen'd instead of nBands·bitsPerBand
    // interpreted HOF passes per row.
    e.select(col("__id"), size(col("__emb")).as("__dim"),
      posexplode(graft.expressions.BandKeys(col("__emb"), nBands, bitsPerBand))
        .as(Seq("band", "key")))
  }

  def lshCandidates(emb: DataFrame, idCol: String, embCol: String,
      nBands: Int, bitsPerBand: Int): DataFrame = {
    val bands = bandsOf(emb, idCol, embCol, nBands, bitsPerBand)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .distinct() // a pair may collide in >1 band; verify each pair once
  }

  /** Approximate near-duplicate pairs by banded sign-LSH + exact cosine
    * verify: precision 1.0 by construction, recall is the band-geometry
    * tradeoff (see bandGeometry). Output: (id1, id2) with id1 < id2.
    *
    * The verify SHAPE is auto-selected from measured bucket stats, because
    * the two layouts win in opposite regimes (both lossless — identical
    * pairs, VectorRecallSpec):
    *
    *  - `narrow-reattach` (sparse candidates — the high-τ/wide-band regime
    *    real dedup runs in): the candidate join moves only (band, key, id);
    *    embeddings re-attach per candidate through two id-keyed joins and
    *    only SURVIVORS are distinct-ed. Shuffle cost ≈ 2 passes over the
    *    candidate multiset (the two join probes) ≈ 40 B/candidate, and the
    *    corpus payload crosses a shuffle only twice (once per re-attach
    *    build side).
    *  - `payload-inline` (dense candidates — borderline τ, narrow bands,
    *    skewed buckets): embeddings+norms join onto the banded index ONCE
    *    (linear, n·nBands rows), the bucket self-join computes the cosine
    *    inline as streamed join output, and only SURVIVORS hit the distinct.
    *    The quadratic candidate set never crosses a shuffle at all — which
    *    is exactly what kills narrow-reattach when candidates ≫ corpus
    *    (measured r6, sf1: 44 s narrow vs ~7 s inline at (4,4), where
    *    buckets hold thousands of collisions each).
    *
    * Decision: re-attach iff 150·candidates ≤ bandRows·(4·dim + 20). The
    * 150 B/candidate coefficient is MEASURED, not a byte count (r9
    * `Dev lshlayout`, 220 k × 64-dim, (89,16), 82 M candidates: reattach
    * 154–159 s vs inline 54–69 s — the two candidate joins cost ~3× their
    * raw shuffle bytes once join machinery and sort-merge passes are in,
    * while the inline wide exchange runs at ~raw byte cost and streams its
    * candidates for ~1.6e-8 s each). The old 60 B/candidate estimate
    * mis-routed exactly the adaptive-geometry regime the formula exists
    * for.
    * Both sides are exact byte counts of the shapes' extra shuffles, from
    * one cheap agg over the cached banded index (the projections are
    * computed once and shared with the chosen path).
    *
    * Small corpora resolve on the driver: one bounded probe collects at
    * most [[LocalUnits]] units of rows × dim and the same band keys,
    * bucket statistics, recorded shape and verify run there, yielding the
    * same distinct pairs in a driver-built frame (see `driverPairs` for
    * what sends a probed corpus back to the distributed shapes). A larger
    * corpus pays one probe job and at most LocalUnits + 1 collected units.
    */
  def lshCosineNearDup(emb: DataFrame, idCol: String, embCol: String, tau: Double,
      nBands: Int, bitsPerBand: Int): DataFrame =
    lshCosineNearDupBounded(emb, idCol, embCol, tau, nBands, bitsPerBand, LocalUnits)

  /** [[lshCosineNearDup]] with the driver route capped at `localUnits` (0
    * always runs the distributed shapes — the specs pin both routes). */
  private[graft] def lshCosineNearDupBounded(emb: DataFrame, idCol: String, embCol: String,
      tau: Double, nBands: Int, bitsPerBand: Int, localUnits: Int): DataFrame = {
    require(tau > -1 && tau < 1, s"tau must be in (-1,1), got $tau")
    require(nBands > 0 && bitsPerBand > 0)
    probeEmbeddings(emb, idCol, embCol, localUnits)
      .flatMap(driverPairs(emb, idCol, _, tau, nBands, bitsPerBand))
      .getOrElse(distributedPairs(emb, idCol, embCol, tau, nBands, bitsPerBand))
  }

  /** Units of rows × dim (one per row, one per 64 elements past the first
    * 64 — [[graft.ops.DriverRoute.probeVectors]]) up to which the LSH
    * near-dup resolves on the driver. On a local[4] ladder (adaptive
    * geometry, τ 0.85, 64 dims) the driver route won at every rung up to
    * 4·10⁴ rows (2.4× there), so the bound is set by driver heap: about
    * 190 MB allocated at 2·10⁴ units, 455 MB at 4·10⁴ (CHANGES.md). */
  private[graft] val LocalUnits = 20000

  /** Candidate pairs Σ C(c, 2) over the band buckets past which the driver
    * route declines: it verifies every candidate on one thread (still 1.8×
    * faster than the distributed verify at 9.7·10⁶ candidates on local[4]). */
  private[graft] val LocalCandidates = 10000000L

  /** Kept pairs past which the driver route declines. */
  private[graft] val LocalPairs = 100000

  /** (id, embedding) rows sorted by id in ONE bounded probe, or None when
    * the driver route cannot take the input: the bound (0: none) is
    * passed, ids are not integral, embeddings not `array<float>`, or an id
    * is null or repeated. */
  private def probeEmbeddings(emb: DataFrame, idCol: String, embCol: String,
      bound: Int): Option[Array[InternalRow]] = {
    val Seq(id, v) = emb.select(col(idCol), col(embCol)).schema.fields.toSeq
    val integral = Seq(LongType, IntegerType).contains(id.dataType)
    val floats = v.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (!integral || !floats) return None
    val rows = graft.ops.DriverRoute.probeVectors(
      emb.select(col(idCol).cast("long").as("id"), col(embCol).as("v")), "v", bound)
      .getOrElse(return None)
    if (rows.exists(_.isNullAt(0))) return None
    val sorted = rows.sortBy(_.getLong(0))
    if ((1 until sorted.length).exists(i => sorted(i).getLong(0) == sorted(i - 1).getLong(0)))
      None
    else Some(sorted)
  }

  /** The near-dup pairs of probed (id, embedding) rows, sorted by id,
    * computed on the driver exactly as the distributed shapes compute them:
    * band keys from the [[graft.expressions.BandKeys]] kernel (a null
    * embedding gets none), the bucket statistics and recorded [[LshShape]]
    * of the density aggregate, and the verify
    * `VecDot.dot(a, b) / (sqrt(na) · sqrt(nb)) >= tau` under Spark's double
    * ordering (a NaN cosine passes). Each pair is verified once, from its
    * smaller id, and emitted as (id1 < id2). None — the distributed shapes
    * run — past [[LocalCandidates]] candidates or [[LocalPairs]] kept pairs,
    * on bands wider than 32 bits, or when a candidate's norm product is 0
    * (Spark's division decides that case: null, or DIVIDE_BY_ZERO under
    * ANSI). */
  private def driverPairs(emb: DataFrame, idCol: String, rows: Array[InternalRow],
      tau: Double, nBands: Int, bits: Int): Option[DataFrame] = {
    if (bits > 32) return None
    val n = rows.length
    val vecs = rows.map(r => if (r.isNullAt(1)) null else r.getArray(1))
    val live = vecs.indices.filter(vecs(_) != null).toArray
    // per band, (key << 31 | row) sorted: a bucket is a run of equal keys,
    // its rows in increasing id order; at(b)(row) is the row's position
    val index = Array.ofDim[Long](nBands, live.length)
    val at = Array.ofDim[Int](nBands, n)
    for ((r, q) <- live.zipWithIndex) {
      val keys = graft.expressions.BandKeys.keys(vecs(r), nBands, bits)
      for (b <- 0 until nBands) {
        val key = keys.getUTF8String(b)
        var code = 0L
        for (i <- 0 until bits) code = (code << 1) | (key.getByte(i) - '0')
        index(b)(q) = (code << 31) | r
      }
    }
    var cands = 0L
    for (b <- 0 until nBands) {
      val arr = index(b)
      java.util.Arrays.sort(arr)
      var start = 0
      for (p <- arr.indices) {
        at(b)((arr(p) & Int.MaxValue).toInt) = p
        if (p > 0 && (arr(p) >>> 31) != (arr(p - 1) >>> 31)) start = p
        cands += p - start
      }
    }
    val dim = if (live.isEmpty) 0 else live.map(vecs(_).numElements()).max
    val bandRows = live.length.toLong * nBands
    val shape = LshShape(
      reattach = 150.0 * cands <= bandRows.toDouble * (4.0 * dim + 20.0),
      candidates = cands, bandRows = bandRows, dim = dim)
    if (cands > LocalCandidates) return None
    val norms = vecs.map(v => if (v == null) 0.0 else math.sqrt(VecDot.dot(v, v)))
    val ids = rows.map(_.getLong(0))
    val (left, right) = (Array.newBuilder[Long], Array.newBuilder[Long])
    var kept = 0
    val seen = Array.fill(n)(-1)
    for (r <- live; b <- 0 until nBands) {
      val arr = index(b)
      val key = arr(at(b)(r)) >>> 31
      var p = at(b)(r) + 1
      while (p < arr.length && (arr(p) >>> 31) == key) {
        val j = (arr(p) & Int.MaxValue).toInt
        if (seen(j) != r) {
          seen(j) = r
          val denom = norms(r) * norms(j)
          if (denom == 0.0) return None
          if (SQLOrderingUtil.compareDoubles(VecDot.dot(vecs(r), vecs(j)) / denom, tau) >= 0) {
            if (kept == LocalPairs) return None
            left += ids(r); right += ids(j); kept += 1
          }
        }
        p += 1
      }
    }
    recordShape(shape)
    val id = emb.select(col(idCol)).schema.head
    Some(graft.ops.DriverRoute.idPairs(emb.sparkSession,
      StructType(Seq(id.copy(name = "id1"), id.copy(name = "id2"))),
      left.result(), right.result(), kept))
  }

  private def recordShape(shape: LshShape): Unit = {
    lastLshShape = Some(shape)
    log.info(s"lsh near-dup shape: candidates=${shape.candidates} bandRows=${shape.bandRows} " +
      s"dim=${shape.dim} -> ${shape.shapeName}")
  }

  /** The distributed route of [[lshCosineNearDup]]: the banded index is
    * persisted, measured by one density aggregate that picks the verify
    * shape, and the survivors are checkpointed while it is live. */
  private def distributedPairs(emb: DataFrame, idCol: String, embCol: String, tau: Double,
      nBands: Int, bitsPerBand: Int): DataFrame = {
    val withNorm = emb.select(col(idCol).as("__id"), col(embCol).as("__emb"),
      VecDot(col(embCol), col(embCol)).as("__nn"))
    val bands = bandsOf(emb, idCol, embCol, nBands, bitsPerBand).persist()
    try {
      val row = bands.groupBy("band", "key")
        .agg(count(lit(1)).as("c"), max(col("__dim")).as("d"))
        .agg(sum(expr("(c * (c - 1)) DIV 2")).as("cands"), sum(col("c")).as("rows"),
          max(col("d")).as("dim"))
        .head // job 1: fills the bands cache, measures bucket density
      val (cands, bandRows, dim) =
        if (row.isNullAt(1)) (0L, 0L, 0)
        else (row.getLong(0), row.getLong(1), row.getInt(2))
      val shape = LshShape(
        reattach = 150.0 * cands <= bandRows.toDouble * (4.0 * dim + 20.0),
        candidates = cands, bandRows = bandRows, dim = dim)
      recordShape(shape)
      val pairs = verifiedPairs(bands, withNorm, tau, shape.reattach)
      // job 2: materialize the (small) survivor set while the index cache is
      // live; callers read the checkpoint, never the projection pipeline
      (pairs.localCheckpoint(true))
    } finally bands.unpersist()
  }

  /** Both verify layouts over a banded index + (id, emb, norm) table;
    * `reattach` picks the shape (see lshCosineNearDup). Lossless either way. */
  private[graft] def verifiedPairs(bands: DataFrame, withNorm: DataFrame,
      tau: Double, reattach: Boolean): DataFrame =
    if (reattach) {
      // candidate MULTISET (no pre-verify distinct): a random pair collides
      // in ~1 band while a true duplicate collides in every band, so the
      // multiset is only slightly larger than the distinct set — verifying a
      // pair once per colliding band costs a few extra codegen'd dot
      // products, while distinct-ing 10⁷–10⁸ candidate rows costs a full
      // extra shuffle+agg pass (measured r9: the pre-distinct was the
      // largest single stage of the adaptive-geometry verify). Survivors are
      // deduped instead — a shuffle over the (small) result set.
      val cands = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.__id") < col("b.__id"))
        .select(col("a.__id").as("id1"), col("b.__id").as("id2"))
      cands
        .join(withNorm.select(col("__id").as("id1"), col("__emb").as("__e1"),
          col("__nn").as("__n1")), "id1")
        .join(withNorm.select(col("__id").as("id2"), col("__emb").as("__e2"),
          col("__nn").as("__n2")), "id2")
        .filter(VecDot(col("__e1"), col("__e2")) /
          (sqrt(col("__n1")) * sqrt(col("__n2"))) >= tau)
        .select("id1", "id2")
        .distinct()
    } else {
      val wide = bands.select("__id", "band", "key").join(withNorm, "__id")
      wide.as("a")
        .join(wide.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.__id") < col("b.__id"))
        .filter(VecDot(col("a.__emb"), col("b.__emb")) /
          (sqrt(col("a.__nn")) * sqrt(col("b.__nn"))) >= tau)
        .select(col("a.__id").as("id1"), col("b.__id").as("id2"))
        .distinct() // survivors only — the dense candidate set never shuffles
    }

  /** lshCosineNearDup with geometry defaulted from τ. */
  def lshCosineNearDup(emb: DataFrame, idCol: String, embCol: String,
      tau: Double): DataFrame = {
    val (b, w) = bandGeometry(tau)
    lshCosineNearDup(emb, idCol, embCol, tau, b, w)
  }

  /** Two-stage SKETCH-VERIFIED near-dup — the verify shape for corpora
    * whose candidate volume outgrows shuffle capacity (the production
    * coarse-filter → exact-rerank pattern, same as IVF-PQ's ADC + rerank):
    *
    *  1. every vector's 256-plane sign signature (32 B, [[SigPlanes]] —
    *     a plane family disjoint from the banding family, so the agreement
    *     estimate is independent of the collisions that made a pair a
    *     candidate) is computed ONCE per vector, codegen'd, and rides the
    *     banded index as a column: the banded shuffle carries
    *     (id, sketch, band, key) rows — O(n·bands), never the embedding
    *     payload, and NO driver-side state (the r12 form collected all
    *     signatures to the driver — O(n) driver memory, a 40 GB OOM at 10⁹
    *     vectors; this form is fully distributed);
    *  2. the banded self-join applies the agreement cut ([[SketchAgree]],
    *     4 XOR/popcounts per pair) as a join POST-condition — evaluated on
    *     the streamed join output inside the join stage, i.e. MAP-SIDE: the
    *     quadratic-ish candidate multiset never crosses a shuffle at all —
    *     the only shuffles are the banded index self-join (O(n·bands)) and
    *     the tiny survivor distinct;
    *  3. survivors rerank EXACTLY (full-vector cosine), so no false
    *     positive ever reaches the result.
    *
    * The sketch cut is `p(τ) − marginSigmas·σ` on the 256-plane agreement
    * fraction (σ = √(p(1−p)/256) ≈ 0.025 at τ=0.8): a TRUE pair at exactly
    * τ fails the filter with probability Φ(−marginSigmas) ≈ 3·10⁻⁵ at the
    * default 4σ (pairs above τ miss even less; EXACT duplicates never —
    * their agreement is 256/256). That bounded miss probability is the
    * price of never shuffling the candidate set; the exact
    * [[lshCosineNearDup]] stays the default at moderate scale. */
  def lshCosineNearDupSketched(emb: DataFrame, idCol: String, embCol: String,
      tau: Double, nBands: Int, bitsPerBand: Int,
      marginSigmas: Double = 4.0): DataFrame = {
    require(tau > -1 && tau < 1, s"tau must be in (-1,1), got $tau")
    val p = 1.0 - math.acos(tau) / math.Pi
    val cut = p - marginSigmas * math.sqrt(p * (1 - p) / 256.0)
    val minAgree = math.max(0, math.ceil(cut * 256.0).toInt)
    // banded index with the 32-byte sketch inline: one projection pass per
    // vector computes both the band keys and the signature (same reshuffle
    // rationale as bandsOf — spread FEW input splits by id first). The
    // exchange is CONDITIONAL on input parallelism: at 100 TB the table
    // already arrives as thousands of splits, and an unconditional
    // repartition there is one full shuffle of embedding payloads bought
    // for nothing (r14 verdict). Local few-split inputs still spread.
    val e0 = emb.select(col(idCol).as("__id"), col(embCol).as("__emb"))
    // parallelism probe from the LOGICAL scan (cached file listing), not
    // .rdd — which would plan the whole physical lineage per call just to
    // count partitions (r15 advisor finding)
    val e =
      if (org.apache.spark.sql.GraftBridge.inputSplitEstimate(e0) >=
          e0.sparkSession.sessionState.conf.numShufflePartitions) e0
      else e0.repartition(col("__id"))
    val banded = e.select(col("__id"), SigPlanes(col("__emb")).as("__sig"),
      posexplode(graft.expressions.BandKeys(col("__emb"), nBands, bitsPerBand))
        .as(Seq("band", "key")))
    val survivors = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.__id") < col("b.__id") &&
          SketchAgree(col("a.__sig"), col("b.__sig")) >= minAgree)
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .distinct()
    val withNorm = emb.select(col(idCol).as("__id"), col(embCol).as("__emb"),
      VecDot(col(embCol), col(embCol)).as("__nn"))
    survivors
      .join(withNorm.select(col("__id").as("id1"), col("__emb").as("__e1"),
        col("__nn").as("__n1")), "id1")
      .join(withNorm.select(col("__id").as("id2"), col("__emb").as("__e2"),
        col("__nn").as("__n2")), "id2")
      .filter(VecDot(col("__e1"), col("__e2")) /
        (sqrt(col("__n1")) * sqrt(col("__n2"))) >= tau)
      .select("id1", "id2")
  }

  /** SCALE-ADAPTIVE band geometry: (nBands, bitsPerBand) for a cosine
    * threshold τ, corpus size n, and target recall at τ.
    *
    * The fixed [[bandGeometry]] tiers hold 2^bits constant, so on a corpus
    * whose random pairs are decorrelated, expected candidate volume is
    * ~nBands·C(n,2)/2^bits — QUADRATIC in n once n outgrows 2^bits. (At the
    * (16,8) tier that knee is a few thousand vectors: 256 buckets per band
    * cannot spread a million-row corpus no matter how good the hash.) The
    * principled fix is Indyk–Motwani: bits must track log₂(n), so bucket
    * count tracks corpus size and expected random collisions per band stay
    * ~n/2 — LINEAR — while recall is restored by adding bands:
    *
    *   p     = 1 − arccos(τ)/π      (per-plane agreement at exactly τ)
    *   bits  = max(tier bits, ⌈log₂ n⌉ − 2)
    *   bands = ⌈ln(1 − recall)/ln(1 − p^bits)⌉
    *
    * The −2 floor (r9, from the measured sf10 A/B): at bits = ⌈log₂ n⌉
    * exactly, expected random collisions per band are ~n/2 — negligible next
    * to the n·bands hashing+index cost that actually dominated the r8
    * measurement (127 s adaptive vs 34 s fixed at 242 k vectors). Backing off
    * two bits quadruples random collisions per band (still linear, ~2n) but
    * shrinks p^bits' collapse, cutting the band count ~1.6× and the plane
    * count ~1.8× — the constant the r8 verdict flagged. At 242 k vectors the
    * geometry moves from (142, 18) / 2 556 planes to (89, 16) / 1 424 planes.
    *
    * Total cost is then ~n·bands hashing + ~n·bands/2 random candidates —
    * the classic n^(1+ρ) LSH exponent (ρ = −log₂ p · … < 1) instead of n².
    * The band count grows like n^(−log₂ p) (≈ n^0.33 at τ=0.8), which is
    * why this only makes sense in the high-τ dedup regime: below τ≈0.6,
    * p^bits collapses and the band count explodes — [[exactNearDupPairs]]
    * or narrower τ tiers are the right tool there (`bands` is capped at
    * `maxBands`, trading recall below the target, and the cap is surfaced
    * in the log line).
    *
    * Worked example, τ=0.8 / recall 0.9: n=2 000 → (17, 9);
    * n=200 000 → (89, 16); n=10⁹ → (512-capped, 28). Candidates at
    * n=200 000: ~89·C(n,2)/2^16 ≈ 2.7·10⁷ — vs ~1.25·10⁹ at (16,8).
    */
  def adaptiveBandGeometry(tau: Double, n: Long, targetRecall: Double = 0.9,
      maxBands: Int = 512): (Int, Int) = {
    require(n > 0, s"corpus size must be positive, got $n")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    val (tierBands, tierBits) = bandGeometry(tau)
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    val bits = math.min(30, math.max(tierBits,
      math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt - 2))
    val pb = math.pow(p, bits)
    val bands =
      if (pb >= 1.0) 1 // τ→1: every plane agrees, one band suffices
      else math.ceil(math.log1p(-targetRecall) / math.log1p(-pb)).toLong
    val capped = math.max(tierBands.toLong, math.min(bands, maxBands.toLong)).toInt
    if (bands > maxBands)
      log.warn(s"adaptiveBandGeometry: band count $bands capped at $maxBands " +
        s"(tau=$tau n=$n bits=$bits) — recall at tau will be below $targetRecall")
    (capped, bits)
  }

  /** [[lshCosineNearDup]] with the geometry chosen from the corpus size by
    * [[adaptiveBandGeometry]] — the shape a 100 TB dedup run should use.
    * The driver route's probe supplies the size of a small corpus; a larger
    * one costs one `count()` of the input (a column-pruned scan) before the
    * projection pass — unless the caller already knows the corpus size
    * (`knownCount`: e.g. from txlog/parquet footer row counts, or a count
    * fused into an upstream pass), in which case the geometry derivation is
    * FREE, and a known size past [[LocalUnits]] skips the probe. Geometry
    * is identical either way — `knownCount` must be the exact row count,
    * never an estimate. */
  def lshCosineNearDupAdaptive(emb: DataFrame, idCol: String, embCol: String,
      tau: Double, targetRecall: Double = 0.9,
      knownCount: Option[Long] = None): DataFrame =
    lshCosineNearDupAdaptiveBounded(emb, idCol, embCol, tau, targetRecall, knownCount, LocalUnits)

  /** [[lshCosineNearDupAdaptive]] with the driver route capped at
    * `localUnits` (0 always counts and runs the distributed shapes). */
  private[graft] def lshCosineNearDupAdaptiveBounded(emb: DataFrame, idCol: String,
      embCol: String, tau: Double, targetRecall: Double, knownCount: Option[Long],
      localUnits: Int): DataFrame = {
    require(tau > -1 && tau < 1, s"tau must be in (-1,1), got $tau")
    // every row is at least one unit: a known count past the bound cannot fit
    val probed =
      if (knownCount.exists(_ > localUnits)) None
      else probeEmbeddings(emb, idCol, embCol, localUnits)
    val n = knownCount.orElse(probed.map(_.length.toLong))
      .getOrElse(emb.select(idCol).count())
    val (bands, bits) = adaptiveBandGeometry(tau, math.max(n, 1L), targetRecall)
    log.info(s"adaptive lsh geometry: n=$n tau=$tau -> ($bands bands, $bits bits)")
    probed.flatMap(driverPairs(emb, idCol, _, tau, bands, bits))
      .getOrElse(distributedPairs(emb, idCol, embCol, tau, bands, bits))
  }

  /** EXACT near-duplicate pairs (recall 1.0) via the triangle block self-join
    * (ops.AllPairs): O(n/P) memory per task, n²/2 dot products spread over
    * P(P+1)/2 reducers, no corpus-sized broadcast. Quadratic compute by
    * declared contract — for corpora where n² pays; beyond that use
    * lshCosineNearDup. Output: (id1, id2) with id1 < id2.
    */
  def exactNearDupPairs(emb: DataFrame, idCol: String, embCol: String, tau: Double,
      blocks: Int = 16): DataFrame = {
    val e = emb.select(col(idCol), col(embCol),
      VecDot(col(embCol), col(embCol)).as("__nn"))
    graft.ops.AllPairs.selfPairs(e, idCol, blocks)
      .filter(VecDot(col(embCol + "1"), col(embCol + "2")) /
        (sqrt(col("__nn1")) * sqrt(col("__nn2"))) >= tau)
      .select(least(col(idCol + "1"), col(idCol + "2")).as("id1"),
        greatest(col(idCol + "1"), col(idCol + "2")).as("id2"))
  }

  /** SemDeDup cell assignment (Abbas et al. 2023, arXiv:2303.09540): every
    * row of `emb` goes to its highest-cosine centroid, ties to the lowest
    * cell id. One broadcast-argmin pass — only the k×dim `centroids` frame
    * (cols `cellCol`, `centEmbCol`) is broadcast, never the corpus — and the
    * fan-out×argmin runs on rows already hash-partitioned by `idCol`, so the
    * row_number window adds no second exchange. Output: `emb`'s (id, emb)
    * columns plus `__nn` (self dot) and `cell`.
    */
  def assignCellsCosine(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, cellCol: String, centEmbCol: String): DataFrame = {
    val cents = centroids.select(col(cellCol).as("__cid"), col(centEmbCol).as("__ce"),
      VecDot(col(centEmbCol), col(centEmbCol)).as("__cn"))
    // The per-id argmax is an aggregate max(struct(__csim, −cell, payload))
    // — struct ordering is lexicographic, so the maximum is exactly the old
    // row_number() OVER (ORDER BY __csim DESC, __cid ASC) = 1 row, including
    // NaN placement (NaN is greatest both to DESC-first window sort and to
    // max) — rather than a window: a window shuffles+sorts all n·k scored
    // rows, while the aggregate folds map-side to one partial row per id
    // before any exchange (guide §2.3), and grouping by the same idCol the
    // rows are hash-partitioned on keeps it single-exchange like before.
    emb.select(col(idCol), col(embCol), VecDot(col(embCol), col(embCol)).as("__nn"))
      .repartition(col(idCol))
      .withColumn("__z", pmod(col(idCol).cast("long"), lit(1L)))
      .join(broadcast(cents.withColumn("__z", pmod(col("__cid").cast("long"), lit(1L)))), Seq("__z"))
      .select(col(idCol),
        struct(
          (VecDot(col(embCol), col("__ce")) /
            (sqrt(col("__nn")) * sqrt(col("__cn")))).as("__csim"),
          (lit(0L) - col("__cid").cast("long")).as("__negcid"),
          col("__cid").as("__cell"), col(embCol).as("__e"), col("__nn").as("__n"))
          .as("__sc"))
      .groupBy(col(idCol))
      .agg(max(col("__sc")).as("__best"))
      .select(col(idCol), col("__best.__e").as(embCol), col("__best.__n").as("__nn"),
        col("__best.__cell").as("cell"))
  }

  /** Band geometry for the SKETCH-VERIFIED path ([[lshCosineNearDupSketched]]).
    *
    * The exact path's [[adaptiveBandGeometry]] sizes bits ≈ ⌈log₂ n⌉ − 2
    * because each random candidate there costs a shuffled payload — the
    * index must spread the corpus until collisions are rare. The sketch
    * path's economics are inverted: a candidate costs 4 XOR/popcounts
    * evaluated INSIDE the join stage (never shuffled, never materialized),
    * while every extra band duplicates the 32-byte signature through the
    * banded index's sort — at 2.2 M vectors the (225, 20) exact-path
    * geometry put ~100 GB through the self-join's sort and died on disk
    * (r14 ladder, first attempt), where (45, 13) streams ~13 G cheap
    * popcount rejections through a 99 M-row index instead. So bits backs
    * off to ⌈log₂ n⌉ − 8: 256× more random collisions per band — each ~4 ns
    * of filter, LINEAR in n at fixed bits-lag — and p^bits grows, cutting
    * the band count ~5× (recall restored by the same Indyk–Motwani band
    * formula). Index cost n·bands stays the dominant, linear term at any n:
    * at n = 10⁹, (356, 22) streams ~4·10¹³ rejections — seconds per core
    * across a 1000-executor fleet, vs an index 5× wider. */
  def sketchBandGeometry(tau: Double, n: Long, targetRecall: Double = 0.9,
      maxBands: Int = 512): (Int, Int) = {
    require(n > 0, s"corpus size must be positive, got $n")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    val (tierBands, tierBits) = bandGeometry(tau)
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    val bits = math.min(30, math.max(tierBits,
      math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt - 8))
    val pb = math.pow(p, bits)
    val bands =
      if (pb >= 1.0) 1
      else math.ceil(math.log1p(-targetRecall) / math.log1p(-pb)).toLong
    val capped = math.max(tierBands.toLong, math.min(bands, maxBands.toLong)).toInt
    if (bands > maxBands)
      log.warn(s"sketchBandGeometry: band count $bands capped at $maxBands " +
        s"(tau=$tau n=$n bits=$bits) — recall at tau will be below $targetRecall")
    (capped, bits)
  }

  /** [[lshCosineNearDupSketched]] with the geometry chosen from the corpus
    * size by [[sketchBandGeometry]] — the 100 TB near-dup shape: fully
    * distributed (no driver-side signature state), candidates never shuffle,
    * miss probability bounded by the 4σ margin. Costs one column-pruned
    * `count()` up front — unless the caller already knows the corpus size
    * (`knownCount`), in which case the geometry derivation is FREE: zero
    * Spark jobs before the banded pipeline itself. */
  def lshCosineNearDupSketchedAdaptive(emb: DataFrame, idCol: String,
      embCol: String, tau: Double, targetRecall: Double = 0.9,
      marginSigmas: Double = 4.0, knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(emb.select(idCol).count())
    val (bands, bits) = sketchBandGeometry(tau, math.max(n, 1L), targetRecall)
    log.info(s"lshCosineNearDupSketchedAdaptive: n=$n -> ($bands bands, $bits bits)")
    lshCosineNearDupSketched(emb, idCol, embCol, tau, bands, bits, marginSigmas)
  }

  /** [[lshCosineNearDupSketchedAdaptive]] over a TXLOG table: the corpus
    * size comes from the log's per-file footer row counts
    * ([[graft.sources.TxLog.rowCount]], the W24 metadata-COUNT(*) path —
    * O(files) driver-side, zero Spark jobs) whenever every live file
    * recorded one, falling back to the column-pruned `count()` scan on
    * legacy tables. Geometry is IDENTICAL either way — rowCount is exact
    * or absent, never approximate — so results match the generic entry
    * point bit-for-bit. */
  def lshCosineNearDupSketchedAdaptiveTable(spark: SparkSession,
      table: String, idCol: String, embCol: String, tau: Double,
      targetRecall: Double = 0.9, marginSigmas: Double = 4.0): DataFrame = {
    val n = graft.sources.TxLog.rowCount(table)
    log.info(s"lshCosineNearDupSketchedAdaptiveTable: metadata rowCount($table) = $n" +
      (if (n.isEmpty) " — falling back to count()" else " (zero-job)"))
    lshCosineNearDupSketchedAdaptive(
      spark.read.format("txlog").load(table), idCol, embCol, tau,
      targetRecall, marginSigmas, knownCount = n)
  }

  /** Near-dup pairs (cosine ≥ tau) WITHIN cells of an assigned corpus — the
    * blocking half of SemDeDup. The pair join shuffles by `cell`, so the
    * cost is quadratic only per cell; cross-cell pairs are forfeited by the
    * blocking contract. `assigned` is `assignCellsCosine`/`KMeans.assign`
    * output: (idCol, embCol, cell). Output: (id1, id2), id1 < id2.
    */
  def withinCellNearDup(assigned: DataFrame, idCol: String, embCol: String,
      tau: Double): DataFrame = {
    val e = assigned.select(col("cell"), col(idCol), col(embCol),
      VecDot(col(embCol), col(embCol)).as("__nn"))
    val a = e.select(col("cell"), col(idCol).as("id1"), col(embCol).as("__e1"),
      col("__nn").as("__n1"))
    val b = e.select(col("cell"), col(idCol).as("id2"), col(embCol).as("__e2"),
      col("__nn").as("__n2"))
    a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2") &&
        VecDot(col("__e1"), col("__e2")) / (sqrt(col("__n1")) * sqrt(col("__n2"))) >= tau)
      .select("id1", "id2")
  }

  /** Production SemDeDup: cells TRAINED with [[graft.ops.KMeans]]
    * (deterministic Lloyd — the index is reproducible bit-for-bit), corpus
    * assigned map-side from the broadcast k×dim model, near-dup pairs within
    * cells only. At real scale k grows with the corpus (the paper runs
    * k ≈ n/10⁴) so per-cell cost stays bounded; the catalog's
    * `dedup_semantic_cells` fixes k to the deterministic sim_ivf seeds so
    * its DuckDB oracle can mirror the assignment. Output: (id1, id2).
    */
  def semanticNearDup(emb: DataFrame, idCol: String, embCol: String, tau: Double,
      nCells: Int, maxIters: Int = 8): DataFrame = {
    val model = graft.ops.KMeans.fit(emb, idCol, embCol, nCells, maxIters)
    withinCellNearDup(graft.ops.KMeans.assign(emb, embCol, model), idCol, embCol, tau)
  }

  /** Brute-force cosine top-k of `corpus` rows for each row of `queries`
    * (both (id, embedding)-shaped): the queries broadcast, the corpus
    * streams. Output: (q_id, rank, nbr_id), rank 1..k, self-matches excluded.
    *
    * The join key is pmod(id, 1) — always 0 but non-foldable: it keeps the
    * plan a codegen'd BroadcastHashJoin instead of the interpreted
    * BroadcastNestedLoopJoin (measured ~10× on 64-dim cosine; plan-asserted
    * in ScaleSpec so a future Catalyst fold can't silently demote it).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = corpus.select(col(idCol), col(embCol),
      VecDot(col(embCol), col(embCol)).as("__nn"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("__qe"),
      VecDot(col(embCol), col(embCol)).as("__qn"))
    val w = Window.partitionBy("q_id").orderBy(col("__sim").desc, col("nbr_id").asc)
    e.repartition(col(idCol)).withColumn("__z", pmod(col(idCol).cast("long"), lit(1L)))
      .join(broadcast(q.withColumn("__z", pmod(col("q_id").cast("long"), lit(1L)))), Seq("__z"))
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("nbr_id"),
        (VecDot(col("__qe"), col(embCol)) /
          (sqrt(col("__qn")) * sqrt(col("__nn")))).as("__sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "nbr_id")
  }

  /** IVF cosine top-k with TRAINED centroids: partition the corpus into
    * `nCells` Voronoi cells learned by [[graft.ops.KMeans]] (deterministic
    * Lloyd — exact-decimal means, so the index is reproducible
    * bit-for-bit), then search each query only against its `nProbe`
    * nearest cells. The catalog's `sim_ivf` seeds cells from fixed ids so
    * its DuckDB oracle can mirror them; this is the production variant —
    * learned cells give balanced lists and higher recall at equal probe
    * cost. Output: (q_id, rank, nbr_id), rank 1..k.
    *
    * Scale: the model is k·dim doubles (broadcast-sized); assignment is
    * map-side codegen; the probe join keys on the cell id — one shuffle of
    * (query × nProbe) rows against a cell-partitioned corpus, the standard
    * IVF posture at 10⁹+ vectors (persist the assigned corpus partitioned
    * by cell to skip re-assignment per query batch). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nCells: Int, nProbe: Int = 2,
      maxIters: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nProbe > 0 && nProbe <= nCells, s"nProbe must be in [1, $nCells]")
    val model = graft.ops.KMeans.fit(corpus, idCol, embCol, nCells, maxIters)
    val assigned = graft.ops.KMeans.assign(corpus, embCol, model)
      .select(col(idCol).as("nbr_id"), col(embCol).as("__ne"), col("cell"),
        VecDot(col(embCol), col(embCol)).as("__nn"))
    // each query probes its nProbe nearest cells: small fan-out, exact ranks
    val wProbe = Window.partitionBy("q_id").orderBy(col("dist2").asc, col("cell").asc)
    val probes = graft.ops.KMeans.assignAll(queries, embCol, model)
      .select(col(idCol).as("q_id"), col(embCol).as("__qe"), col("cell"), col("dist2"),
        VecDot(col(embCol), col(embCol)).as("__qn"))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nProbe)
      .drop("__pr", "dist2")
    val wTop = Window.partitionBy("q_id").orderBy(col("__sim").desc, col("nbr_id").asc)
    probes.join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("nbr_id"))
      .select(col("q_id"), col("nbr_id"),
        (VecDot(col("__qe"), col("__ne")) /
          (sqrt(col("__qn")) * sqrt(col("__nn")))).as("__sim"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "nbr_id")
  }
}
