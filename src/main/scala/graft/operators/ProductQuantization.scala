package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Tables

/** IVF-PQ-style approximate nearest neighbor: product-quantize the
  * (L2-normalized) corpus into M per-subspace codebooks, score
  * queries against the compact codes by asymmetric distance
  * computation (ADC), then exactly re-rank a small candidate pool.
  *
  * This is the full 100 TB ANN layout — coarse IVF routing composed
  * with the compressed PQ fine scan (the standalone distributed
  * trainer lives in [[Similarity.trainCentroids]]; here both the
  * coarse quantizer and the codebooks train on ONE bounded
  * driver-side sample) — organized around one asymmetry: MODELS are
  * small, the CORPUS is not.
  * - Codebooks (M × K × SubDim doubles, 8 KiB) are trained with
  *   Lloyd's algorithm on a BOUNDED deterministic sample collected
  *   to the driver — the standard PQ training layout (FAISS trains
  *   on ~10⁵–10⁶ sampled vectors regardless of corpus size): one
  *   O(sample) collect, zero per-iteration cluster jobs.
  * - ENCODING is a shuffle-free projection through the native
  *   [[graft.functions.PqEncode]] expression (normalize + M argmins
  *   in one primitive pass; HOF formulations re-evaluate the
  *   normalization fold per centroid under projection collapse) —
  *   the corpus is scanned exactly once, nothing is exploded through
  *   a join, and the result is M small codes per vector (64 bits vs
  *   64 × 32-bit floats, a 32× smaller representation).
  * - ADC distance tables (queries × M × K doubles) are computed
  *   driver-side from the collected query vectors and shipped as a
  *   literal; per-(query, vector) distance BOUNDS (triangle
  *   inequality per subspace, using the stored residual norms) are
  *   sequential M-lookup folds — deterministic, unlike a shuffled
  *   float SUM.
  * - The only corpus-wide shuffle is the bounded-heap K-th-smallest
  *   upper bound per query ([[graft.functions.TopKByScore]],
  *   partial-aggregated map-side); only the certified candidate pool
  *   ever touches a real embedding again, via a broadcast of the
  *   POOL (never the corpus) against one more pruned scan.
  *
  * Everything is seeded/deterministic: the training sample is a
  * bounded md5 hash-gated draw, initial centroids are the first K
  * sample subvectors, iteration count is fixed, and every
  * floating-point reduction is a sequential left fold.
  *
  * The bound-certified pool makes the registered query (nprobe =
  * all cells) EXACTLY equal to brute force, so the same exact
  * oracle as `ann_cosine_topk` applies (over the corpus side,
  * vec_id ≥ NumQueries); `ProductQuantizationSpec` additionally
  * pins determinism and the probe-limited recall trade-off.
  */
object ProductQuantization {

  private[operators] val M = 8        // subspaces
  private[operators] val SubDim = 8   // dims per subspace (64 / M)
  private[operators] val CodebookK = 16 // centroids per subspace
  private val Iters = 4               // fixed Lloyd passes
  private val NumQueries = 10         // vec_id < 10 are queries (TESTDATA)
  private val TopK = 10
  /** Training-sample cap: codebook quality saturates far below
    * corpus size, so training cost must not scale with it.
    */
  private[operators] val TrainSample = 4096
  /** Coarse IVF cells for the routed fine scan. */
  private[operators] val CoarseCells = 8

  /** Local L2 normalize (float → double widening is exact; the norm
    * is a sequential fold, same order as [[graft.functions.PqEncode]]).
    */
  private def normalizeLocal(v: Seq[Float]): Array[Double] = {
    var ss = 0.0
    v.foreach(x => ss += x.toDouble * x.toDouble)
    val n = math.sqrt(ss)
    v.map(_.toDouble / n).toArray
  }

  /** Fixed-iteration local Lloyd: deterministic (argmin ties toward
    * the smaller code, sequential sums, empty cells keep their
    * centroid). Shared by the per-subspace codebook training and the
    * coarse quantizer.
    */
  private def lloyd(points: Array[Array[Double]],
                    init: Array[Array[Double]],
                    iters: Int): Array[Array[Double]] = {
    val k = init.length
    val dim = init(0).length
    var cent = init.map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dim)(0.0)
      val cnt = new Array[Int](k)
      points.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cent(c)(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        cnt(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cent = cent.zipWithIndex.map { case (old, c) =>
        if (cnt(c) == 0) old else sums(c).map(_ / cnt(c))
      }
    }
    cent
  }

  /** Bounded deterministic training sample, RAW floats: ONE Spark job
    * of O(sample) rows, independent of corpus size. Drawn through the
    * same md5 hash-gate as [[Similarity.trainCentroids]] — an
    * id-ordered prefix is biased whenever ingestion order correlates
    * with content (time- or cluster-ordered corpora), which degrades
    * codebook recall at scale; the hash-gate is uniform over ids,
    * deterministic across runs and partitionings. The keep rate is
    * sized from the corpus count so the expected sample tracks
    * `TrainSample`; the explicit limit keeps the driver-side bound
    * hard.
    */
  private def collectSample(emb: DataFrame): Array[Seq[Float]] = {
    graft.functions.Md5Hash60.register(emb.sparkSession)
    val corpus = emb.filter(col("vec_id") >= NumQueries)
    val n = math.max(corpus.count(), 1L)
    val keepPm = math.min(1000000L,
      math.max(1L, (TrainSample.toLong * 1000000L + n - 1) / n))
    corpus.filter(
      pmod(graft.functions.Md5Hash60.md5_hash60(
        concat(lit("pq:"), col("vec_id").cast("string"))), lit(1000000L)) < keepPm)
      .orderBy(col("vec_id")).limit(TrainSample)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0))
  }

  /** M per-subspace codebooks from a raw sample (normalized, split,
    * Lloyd per subspace). Returns model[sub][code][dim].
    */
  private def codebooksFrom(raw: Array[Seq[Float]]): Array[Array[Array[Double]]] = {
    val sample = raw.map(normalizeLocal)
    Array.tabulate(M) { m =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, m * SubDim, (m + 1) * SubDim))
      lloyd(sub, sub.take(CodebookK), Iters)
    }
  }

  /** Both PQ-side models — the coarse router and the M per-subspace
    * codebooks — from ONE bounded sample, persisted fingerprint-keyed
    * (r16 verdict item 3, same machinery and exactness argument as
    * [[Similarity.trainCentroids]]: the rerank pool is bound-certified
    * ⊇ the true top-k, so the served model can never change output —
    * the r15 bench flagged ann_ivfpq_topk cold 2.42× warm because
    * sample-collect + driver Lloyd re-ran inside every cold window).
    */
  private[operators] def trainedPqModels(
      emb: DataFrame): (Array[Array[Double]], Array[Array[Array[Double]]]) =
    DerivedStore.value(emb,
      s"pq_models:m$M:k$CodebookK:c$CoarseCells:i$Iters:t$TrainSample")({
      val raw = collectSample(emb)
      (lloyd(raw.map(_.map(_.toDouble).toArray),
        raw.take(CoarseCells).map(_.map(_.toDouble).toArray), Iters),
        codebooksFrom(raw))
    })({ case (coarse, model) =>
      Similarity.encodeMatrix(coarse) + "\n##\n" +
        model.map(Similarity.encodeMatrix).mkString("\n#\n")
    })({ s =>
      val Array(c, m) = s.split("\n##\n", 2)
      (Similarity.decodeMatrix(c),
        m.split("\n#\n").map(Similarity.decodeMatrix))
    })

  /** IVF-routed PQ top-k with PROVABLE candidate pruning: encode the
    * corpus in one shuffle-free pass (coarse cell + PQ codes + the
    * per-subspace residual norms, all one native expression), fan
    * each vector out ONLY to the queries probing its cell, and bound
    * each candidate's true distance from the compact representation:
    * with `a_m = ‖q̂_m − c_code‖` from the query's literal ADC table
    * and `e_m` the vector's stored residual, the per-subspace
    * triangle inequality gives
    * `Σ max(0, a_m − e_m)² ≤ ‖q̂ − x̂‖² ≤ Σ (a_m + e_m)²`.
    * The K-th smallest upper bound per query (bounded heap — the
    * single corpus-wide shuffle) is a certified threshold τ: any
    * candidate with lower bound > τ provably cannot be in the true
    * top-K, so the surviving pool CONTAINS the exact top-K of the
    * probed set — unlike a "best N ADC scores" heuristic pool. The
    * pool is exactly re-ranked by true cosine. At `nprobe` = cells
    * (the registered query) every vector is a candidate, so the
    * output equals brute force bit-for-bit and the exact oracle
    * applies; at `nprobe` < cells the same guarantee holds within
    * the probed cells (recall trades against scan, the IVF point).
    * Output mirrors the other ANN queries: (qid, vec_id, rank,
    * cosine), with qid the query's real vec_id (positional indices
    * are internal only).
    */
  def ivfpqTopK(emb: DataFrame,
                nprobe: Int = CoarseCells): DataFrame = {
    val s = emb.sparkSession
    graft.functions.CosineSimilarity.register(s)
    graft.functions.TopKByScore.register(s)
    graft.functions.IvfCell.register(s)
    // ONE bounded collect feeds both models: the coarse quantizer
    // (raw space — routing partitions candidates, it needn't see
    // normalized vectors) and the per-subspace codebooks (normalized);
    // both persisted fingerprint-keyed, see [[trainedPqModels]]
    val (coarse, model) = trainedPqModels(emb)
    // query vectors: NumQueries rows — collected once, reused for
    // the local ADC tables AND the re-rank join's broadcast side
    val qRows = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1)
    // tbl(q)(m)(k) = ||qsub − centroid||²: queries × M × K doubles,
    // computed driver-side with the same sequential fold as codegen
    val tbl = qRows.map { case (_, qe) =>
      val nq = normalizeLocal(qe)
      Array.tabulate(M) { m =>
        Array.tabulate(CodebookK) { k =>
          var d = 0.0; var i = 0
          while (i < SubDim) {
            val t = nq(m * SubDim + i) - model(m)(k)(i); d += t * t; i += 1
          }
          d
        }
      }
    }
    val tblLit = array(tbl.map(q => array(q.map(m =>
      array(m.map(lit(_)): _*)): _*)): _*)
    // coarse routing, driver-side: each query's nprobe nearest cells
    // (same L2-on-raw math as IvfCell; ties → lowest cell), inverted
    // into a cell → probing-qids literal so the corpus side fans out
    // ONLY to interested queries
    val probes: Array[Array[Int]] = qRows.map { case (_, qe) =>
      val v = qe.map(_.toDouble).toArray
      coarse.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < c.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy { case (d, i) => (d, i) }.take(nprobe).map(_._2)
    }
    val byCell: Array[Array[Long]] = Array.tabulate(coarse.length)(cell =>
      probes.zipWithIndex.collect {
        case (ps, q) if ps.contains(cell) => q.toLong })
    val probeLit = array(byCell.map(qs =>
      if (qs.isEmpty) array().cast("array<bigint>")
      else array(qs.map(lit(_)): _*)): _*)
    graft.functions.PqEncodeErr.register(s)
    val enc = emb.filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"),
        graft.functions.IvfCell.ivf_cell(col("embedding"), coarse).as("cell"),
        graft.functions.PqEncodeErr.pq_encode_err(col("embedding"), model).as("ce"))
    // per-(candidate, query) distance bounds from the compact codes:
    // sequential M-lookup folds — deterministic double math. `qid`
    // here is the POSITIONAL index into qRows (what tblLit/probeLit
    // are keyed by); the real vec_id is restored at the output edge.
    def aSq(m: Column) = element_at(element_at(
      element_at(tblLit, (col("qid") + 1).cast("int")),
      (m + 1).cast("int")),
      (element_at(col("ce.codes"), (m + 1).cast("int")) + 1).cast("int"))
    def e(m: Column) = element_at(col("ce.errs"), (m + 1).cast("int"))
    val lb = aggregate(sequence(lit(0), lit(M - 1)), lit(0.0),
      (acc, m) => acc + pow(greatest(lit(0.0), sqrt(aSq(m)) - e(m)), lit(2.0)))
    val ub = aggregate(sequence(lit(0), lit(M - 1)), lit(0.0),
      (acc, m) => acc + pow(sqrt(aSq(m)) + e(m), lit(2.0)))
    val cand = enc
      .select(col("vec_id"), col("ce"),
        explode(element_at(probeLit, col("cell") + 1)).as("qid"))
      .select(col("qid"), col("vec_id"), lb.as("lb"), ub.as("ub"))
    // τ_q = K-th smallest upper bound (largest in the top-K heap of
    // −ub; sorted desc, so the last kept score). least() guards the
    // probed set being smaller than K.
    val tau = cand
      .groupBy(col("qid"))
      .agg(graft.functions.TopKByScore
        .topk_by_score(-col("ub"), col("vec_id"), TopK).as("t"))
      .select(col("qid"), (-element_at(col("t.score"),
        least(lit(TopK), size(col("t.score"))).cast("int"))).as("tau"))
    // certified pool: lb ≤ τ keeps every possible true-top-K member
    // (lb > τ means true distance > K candidates' true distances).
    // The bound recompute on the second branch is one more scan of
    // the compact codes — cheaper than persisting candidate rows.
    val pool = cand.join(broadcast(tau), Seq("qid"))
      .filter(col("lb") <= col("tau"))
      .select(col("qid"), col("vec_id"))
    // exact re-rank: broadcast the BOUNDED pool (certified-small by
    // the bound pruning) against one more pruned corpus scan — the
    // corpus is never broadcast, shuffled, or scanned with full
    // vectors beyond this
    import s.implicits._
    val qvecs = qRows.zipWithIndex
      .map { case ((vid, qe), i) => (i.toLong, vid, qe) }.toSeq
      .toDF("qid", "query_vec_id", "qe")
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine"), asc("vec_id"))
    emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(pool), Seq("vec_id"))
      .join(broadcast(qvecs), Seq("qid"))
      .withColumn("cosine", graft.functions.CosineSimilarity
        .cosine_sim(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_vec_id").as("qid"), col("vec_id"), col("rank"),
        round(col("cosine"), 4).as("cosine"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfpq_topk" -> ((s, dir) => ivfpqTopK(Tables(s, dir).embeddings))
  )

  /** The iterative PQ training itself is not SQL-expressible, but it
    * doesn't have to be: at nprobe = all cells the bound-certified
    * pool provably contains the true top-K of the corpus, and the
    * exact re-rank then returns EXACTLY the brute-force answer no
    * matter what the trained codebooks look like — so the brute-force
    * top-K oracle applies (the same invariance argument as
    * `ann_ivf_topk`'s recall-complete oracle). Note the corpus here
    * excludes ALL query vectors (vec_id ≥ NumQueries), unlike
    * `ann_cosine_topk` which only excludes self-matches.
    */
  def oracles: Map[String, String] = Map(
    "ann_ivfpq_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |           WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |    ${Similarity.sqlDot} / (${Similarity.sqlNorm("q.qe")} * ${Similarity.sqlNorm("e.embedding")}) AS cosine
         |  FROM embeddings e, q WHERE e.vec_id >= $NumQueries)
         |SELECT qid, vec_id,
         |  cast(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS int) AS rank,
         |  round(cosine, 4) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) <= $TopK""".stripMargin
  )
}
