package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Tables

/** Similarity search over the `embeddings` table
  * (`embedding: array<float>`, dim 64).
  *
  *  - `ann_cosine_topk`: brute-force cosine top-k — the exactness
  *    baseline. The query side is a tiny broadcast; the corpus is
  *    scanned once, per-partition, and the global top-k per query is
  *    a shuffle of only (queries × k) candidate rows via the window
  *    rank. At 100 TB the corpus scan dominates and parallelizes
  *    perfectly; no pairwise corpus×corpus blowup.
  *  - `ann_lsh_topk`: the scale path — random-hyperplane LSH. Each
  *    vector gets a deterministic b-bit signature (hyperplane weights
  *    are ±1 derived from md5, so the oracle reproduces them); search
  *    touches only the query's bucket. Cuts the scanned fraction to
  *    ~1/2^b per probe at the cost of recall, the standard ANN
  *    trade-off (recall is measured against the brute-force baseline
  *    in the test suite).
  *
  * Dot products run in double precision with left-to-right
  * accumulation in both engines (Spark `aggregate` over the zipped
  * array ≡ DuckDB `list_sum(list_transform(...))`), so cosines are
  * bit-identical and the top-k rankings agree exactly.
  */
object Similarity {

  private val K = 5
  private val NumQueries = 10 // vec_id < 10 are the query vectors
  private val Planes = 6      // LSH signature bits
  private val Dim = 64        // embedding dimensionality (TESTDATA)
  private[operators] val Cells = 8  // IVF coarse-quantizer cells
  private val LloydIters = 3        // fixed k-means refinement passes
  private val SamplePerCell = 100L  // k-means training points per cell

  /** ±1 weight for hyperplane `p`, dimension `j`: parity of the
    * md5-derived 60-bit int of "p:j" — must stay identical to the
    * oracle's `('0x'||substr(md5(p||':'||j),1,15))::bigint % 2`.
    */
  private[operators] def planeSign(p: String, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s"$p:$j".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine top-k per query vector
    "ann_cosine_topk" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = Tables(s, dir).embeddings
      val q = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cosine",
          graft.functions.CosineSimilarity.cosine_sim(col("qe"), col("embedding")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), asc("vec_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("vec_id"), col("rank"),
                round(col("cosine"), 4).as("cosine"))
    }),

    // identical results to ann_cosine_topk via the bounded-heap
    // TypedImperativeAggregate — the scale path for global top-k:
    // per-partition k-element heaps, map-side combined, so only
    // k rows per partition reach the shuffle (vs every scored row
    // for the window formulation)
    "ann_topk_agg" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      graft.functions.TopKByScore.register(s)
      val emb = Tables(s, dir).embeddings
      val q = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cosine",
          graft.functions.CosineSimilarity.cosine_sim(col("qe"), col("embedding")))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topk_by_score(col("cosine"), col("vec_id"), K)
          .as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col.id").as("vec_id"),
          (col("pos") + 1).cast("int").as("rank"),
          round(col("col.score"), 4).as("cosine"))
    }),

    // random-hyperplane LSH bucketing, then top-k within the bucket
    "ann_lsh_topk" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      graft.functions.HyperplaneSig.register(s)
      val emb = Tables(s, dir).embeddings
      val signed = emb.withColumn("bucket", hyperplaneBucket(col("embedding")))
      val q = signed.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
                col("bucket").as("qbucket"))
      val scored = signed.join(broadcast(q),
          col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
        .withColumn("cosine",
          graft.functions.CosineSimilarity.cosine_sim(col("qe"), col("embedding")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), asc("vec_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("vec_id"), col("bucket"), col("rank"),
                round(col("cosine"), 4).as("cosine"))
    }),

    // multi-probe LSH: the standard fix for single-bucket LSH's
    // recall cliff — each query probes its own bucket PLUS every
    // Hamming-distance-1 neighbor (flip one of the 6 planes), i.e.
    // 7 of 64 buckets. ~7× the candidates of ann_lsh_topk at the
    // same plane count and index layout: recall comes from probing,
    // not from rebuilding with more planes. The probe fan-out is on
    // the QUERY side (tiny by construction), so the broadcast stays
    // bounded no matter the corpus size; each corpus vector lives in
    // exactly one bucket, so probes can't duplicate candidates.
    "ann_lsh_multiprobe" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      graft.functions.HyperplaneSig.register(s)
      val emb = Tables(s, dir).embeddings
      val signed = emb.withColumn("bucket", hyperplaneBucket(col("embedding")))
      val masks = array((lit(0L) +: (0 until Planes).map(p => lit(1L << p))): _*)
      val probes = signed.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          explode(transform(masks, m => col("bucket").bitwiseXOR(m))).as("pbucket"))
      val scored = signed.join(broadcast(probes),
          col("bucket") === col("pbucket") && col("vec_id") =!= col("qid"))
        .withColumn("cosine",
          graft.functions.CosineSimilarity.cosine_sim(col("qe"), col("embedding")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), asc("vec_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("vec_id"), col("bucket"), col("rank"),
          round(col("cosine"), 4).as("cosine"))
    }),

    // Recall@k audit of the approximate indexes against exact brute
    // force — the report that DECIDES an ANN deployment (how much
    // recall does single-bucket LSH give up, how much does
    // multi-probe buy back) computed entirely in-engine. Exact and
    // approximate top-k relations are each bounded (queries × k); the
    // exact side persists because both hit-counts semi-join it. At
    // 100 TB this runs on a sampled query set exactly as here (the
    // query relation is the broadcast side by construction); all
    // outputs are integer hit counts, so the row is hash-exact
    // across engines with no float rounding in the report itself.
    "ann_recall_report" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      graft.functions.HyperplaneSig.register(s)
      val emb = Tables(s, dir).embeddings
      def cos = graft.functions.CosineSimilarity
        .cosine_sim(col("qe"), col("embedding"))
      def topk(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("qid"))
          .orderBy(desc("cosine"), asc("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K).select(col("qid"), col("vec_id"))
      }
      val q = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val exact = topk(emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cosine", cos))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val signed = emb.withColumn("bucket", hyperplaneBucket(col("embedding")))
      val qb = signed.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("bucket").as("qbucket"))
      val lsh = topk(signed.join(broadcast(qb),
          col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
        .withColumn("cosine", cos))
      val masks = array((lit(0L) +: (0 until Planes).map(p => lit(1L << p))): _*)
      val probes = signed.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          explode(transform(masks, m => col("bucket").bitwiseXOR(m))).as("pbucket"))
      val mp = topk(signed.join(broadcast(probes),
          col("bucket") === col("pbucket") && col("vec_id") =!= col("qid"))
        .withColumn("cosine", cos))
      def hits(approx: DataFrame, name: String) =
        exact.join(approx, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).cast("int").as(name))
      q.select(col("qid"))
        .join(hits(lsh, "h1"), Seq("qid"), "left")
        .join(hits(mp, "h2"), Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("h1"), lit(0)).as("hits_lsh"),
          coalesce(col("h2"), lit(0)).as("hits_multiprobe"))
    }),

    // Hard-negative mining for contrastive training: per query, the
    // top-k most-similar vectors with a DIFFERENT label — the
    // "similar but wrong" examples a retrieval trainer wants. Same
    // broadcast-queries/one-corpus-scan shape as ann_cosine_topk with
    // the label exclusion pushed into the join condition.
    "hard_negatives" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = Tables(s, dir).embeddings
      val q = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("qlabel"))
      val scored = emb.join(broadcast(q), col("label") =!= col("qlabel"))
        .withColumn("cosine",
          graft.functions.CosineSimilarity.cosine_sim(col("qe"), col("embedding")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), asc("vec_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("qid"), col("vec_id"), col("rank"),
          round(col("cosine"), 4).as("cosine"))
    }),

    // SemDeDup-style semantic dedup: hyperplane-bucket the corpus,
    // connect vectors with cosine ≥ 0.4 inside a bucket, collapse
    // connected components (min-label propagation over edge-touched
    // vertices only), keep the min-id representative per cluster.
    // Candidate edges route through embeddingPairsBlocked, so the
    // oversized-bucket skew guard (OR-of-bands) applies at scale for
    // free. The oracle enumerates in-bucket pairs EXACTLY, so the
    // verify path runs requireExact = true: if any bucket ever grew
    // past the cap (where the plan switches to approximate banding)
    // this fails loudly instead of silently hash-mismatching.
    "semdedup" -> ((s, dir) =>
      semDedup(Tables(s, dir).embeddings, requireExact = true)),

    // k-NN SELF-join: every vector's top-k nearest in-block
    // neighbors — the dataset-graph builder behind semdedup-style
    // curation and duplicate-cluster analysis. The label plays the
    // IVF coarse cell (same blocking as dedup_embedding_pairs):
    // blocks bound the quadratic compare, and the per-vector top-k
    // leaves through the bounded heap, never a window sort. Blocks
    // past the cap RAISE instead of silently degrading — exact
    // top-k cannot survive in-block banding; an oversized block
    // belongs to the IVF-probed ANN path.
    "knn_join_blocked" -> ((s, dir) =>
      knnJoinBlocked(Tables(s, dir).embeddings)),

    // IVF ANN: k-means coarse quantizer trained on the corpus
    // (deterministic seed init + fixed Lloyd passes), vectors bucketed
    // by nearest centroid, queries probe their `nprobe` nearest cells.
    // The CORRECTNESS entry runs recall-complete (nprobe = Cells) so
    // the brute-force oracle matches bit-for-bit while the full IVF
    // machinery — train, assign, probe-rank, per-cell search — is
    // exercised; IvfSpec measures the recall/scan trade-off at
    // nprobe < Cells.
    "ann_ivf_topk" -> ((s, dir) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = Tables(s, dir).embeddings
      ivfTopK(emb, trainCentroids(emb), nprobe = Cells)
    }),

    // The PRUNED-nprobe serving path, measured (r16 verdict item 2):
    // ann_ivf_topk's oracle row probes every cell (exactness
    // certificate), so the nprobe < cells path a 100-TB index actually
    // serves was never timed or recall-audited on the board. This row
    // runs the SAME probe-then-search machinery at nprobe ∈ 1/4/16
    // over a 32-cell quantizer and reports, per query, the candidate
    // count (the work axis: what fraction of the corpus was scanned)
    // and the exact-top-k hit count (the recall axis) — integers, so
    // the row is hash-exact. The quantizer here is the DETERMINISTIC
    // exact-decimal trainer ([[trainCentroidsExact]]), which is what
    // lets a DuckDB oracle re-derive the identical centroids and makes
    // the pruned output cross-engine reproducible; the bench times
    // this row as the pruned-serving benchmark.
    "ann_ivf_pruned_recall" -> ((s, dir) =>
      annIvfPrunedRecall(Tables(s, dir).embeddings)),

    // Full-corpus distributed Lloyd's k-means exposed as a first-class
    // clustering operator (the building block semdedup/mixture design
    // consume): per-vector (cluster, distance) after fixed refinement
    // passes. Deterministic cross-engine: init is the first k vectors
    // by id, per-pass means go through the decimal-exact sum (order-
    // independent) and round to 6 dp before re-entering the distance
    // math, so both engines iterate over bit-identical centroids and
    // assignment ties break to the lowest cell.
    "kmeans_clusters" -> ((s, dir) =>
      kmeansAssignments(Tables(s, dir).embeddings, Cells, LloydIters))
  )

  /** Per-vector top-k for [[knnJoinBlocked]]. */
  private[operators] val KnnK = 3

  /** Exact blocked k-NN self-join: `(vec_id, rk, nbr, cosine)` —
    * every vector's [[KnnK]] most-similar neighbors within its label
    * block (cosine DESC, vec_id ASC tie-break). The block bounds the
    * quadratic compare the way an IVF cell does; per-vector top-k
    * goes through the bounded-heap aggregate (map-side combined, k
    * rows per partition reach the shuffle — no window sort). Blocks
    * over `blockCap` raise via the piggybacked size column (zero
    * extra jobs) rather than silently switching to approximate
    * candidates: exact per-vector top-k cannot survive banding, and
    * an oversized block belongs to the IVF-probed ANN path.
    */
  def knnJoinBlocked(emb: DataFrame, k: Int = KnnK,
                     blockCap: Int = 10000): DataFrame =
    if (embeddingsDupFree(emb)) knnJoinDirect(emb, k, blockCap)
    else knnJoinReps(emb, k, blockCap)

  /** Memoized "embedding corpus is essentially duplicate-free"
    * verdict for the knn rep-composition gate — the embedding twin of
    * Dedup's text gate (same memo cache, same 5% share, same
    * exactness argument: both branches are exact, so the gate only
    * picks the cheaper plan). Keyed by (label, embedding): duplicate
    * vectors in DIFFERENT blocks never share pair work, so they don't
    * count. xxhash64 over the raw array is deterministic; a collision
    * could only misroute the PLAN choice, never the output.
    */
  private def embeddingsDupFree(emb: DataFrame): Boolean =
    DerivedStore.verdict(emb, "embdupfree") {
      val r = emb.agg(count(lit(1)),
        count_distinct(xxhash64(col("label"), col("embedding")))).head()
      val n = r.getLong(0)
      n == 0L || (n - r.getLong(1)).toDouble / n.toDouble <=
        graft.operators.Dedup.RepGateDupShare
    }

  /** Block-size-derived salt width for the in-block pair joins: a
    * block of `bn` rows splits its probe side into ceil(bn/SaltRows)
    * sub-blocks, each joined against a replica of the full block.
    * Without it a Zipf-labeled corpus serializes: the r14 Zipf smoke
    * measured the ~5.6k-vector hot block (28 % of a 20k corpus) as
    * ONE 237-second task — the hash partition by label is only ~1.4
    * MB, far under AQE's skew-split byte threshold, so no runtime
    * re-plan can save it; the salt splits it into ~22 tasks at
    * identical pair output. Uniform small blocks get salt_n = 1: the
    * same plan shape at one pmod + a 1-element explode of overhead.
    */
  private[operators] val SaltRows = 256

  /** Index-side chunk width for the 2-D salt (r15): the probe-side
    * salt alone bounds PROBES per task at [[SaltRows]] but each task
    * still scans the whole block's index replica, so max_task grows
    * LINEARLY with block size — the growing-hub Zipf smoke measured
    * the hot-block partial top-k task at 2.8 s (block 5.6k) → 6.7 s
    * (block 8.8k). Chunking the index side too caps a task's pair
    * work at SaltRows × IdxChunkRows ≈ 0.5M scored pairs (~1 s at the
    * measured ~2 µs/pair of cosine + heap insert) no matter how big
    * the block grows. Exactness is free: the per-cell partial top-k
    * heaps merge into the global per-probe top-k in the final
    * aggregate exactly as 1-D salt partials did. Blocks under
    * IdxChunkRows get si = 1 — the same plan at one pmod of overhead.
    */
  private[operators] val IdxChunkRows = 2048

  /** The all-pairs branch of [[knnJoinBlocked]] — right when blocks
    * hold (essentially) distinct vectors. `saltRows`/`idxChunkRows`
    * are test seams; production callers use the [[SaltRows]] /
    * [[IdxChunkRows]] defaults.
    */
  private[operators] def knnJoinDirect(emb: DataFrame, k: Int = KnnK,
                                       blockCap: Int = 10000,
                                       saltRows: Int = SaltRows,
                                       idxChunkRows: Int = IdxChunkRows): DataFrame = {
    graft.functions.CosineSimilarity.register(emb.sparkSession)
    graft.functions.TopKByScore.register(emb.sparkSession)
    val sizes = emb.groupBy(col("label")).agg(count(lit(1)).as("bn"))
    val checked = sizes.withColumn("bn",
      when(col("bn") > blockCap, raise_error(concat(
        lit("knnJoinBlocked: a block holds "), col("bn").cast("string"),
        lit(s" vectors (> cap $blockCap); exact in-block top-k would go " +
          "quadratic — route oversized blocks through the IVF ANN path"))))
        .otherwise(col("bn")))
    val t = emb.join(broadcast(checked), Seq("label"))
      // always-true reference: without it column pruning drops bn —
      // and the raise_error guard with it — from the plan entirely
      .filter(col("bn") > 0)
      .select(col("label"), col("vec_id"), col("embedding"),
        ceil(col("bn").cast("double") / saltRows).cast("int").as("sn"),
        ceil(col("bn").cast("double") / idxChunkRows).cast("int").as("si"))
    // 2-D salted self-join (see [[SaltRows]] and [[IdxChunkRows]]):
    // probe rows hash into sn sub-blocks and replicate across the si
    // index chunks; index rows hash into si chunks and replicate
    // across the sn probe sub-blocks — each (probe, index) pair meets
    // in exactly the cell (pmod(probe, sn), pmod(index, si)), so the
    // pair set is IDENTICAL to the unsalted join while no task scores
    // more than saltRows × idxChunkRows pairs. The exchange is
    // PINNED (explicit repartition count): the salt bins are only
    // KB-to-MB of input bytes while their join OUTPUT is quadratic,
    // so AQE's input-byte coalescing would merge them straight back
    // into one task (the r14 Zipf smoke at m=2 measured exactly that:
    // 29 tasks, one of 127 s holding ~all hot-block pairs) — a
    // user-specified partition count is exempt from coalescing.
    val numP = Parallelism.pinCount(emb)
    val pairs = t.select(col("label"),
        pmod(col("vec_id"), col("sn")).cast("int").as("salt"),
        col("vec_id"), col("embedding").as("ea"), col("si"))
      .withColumn("isalt", explode(sequence(lit(0), col("si") - 1)))
      .repartition(numP, col("label"), col("salt"), col("isalt"))
      .join(t.select(col("label"),
          pmod(col("vec_id"), col("si")).cast("int").as("isalt"),
          col("vec_id").as("nbr"), col("embedding").as("eb"), col("sn"))
        .withColumn("salt", explode(sequence(lit(0), col("sn") - 1)))
        .repartition(numP, col("label"), col("salt"), col("isalt"))
        .hint("shuffle_hash"), Seq("label", "salt", "isalt"))
      .filter(col("vec_id") =!= col("nbr"))
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosine_sim(col("ea"), col("eb")))
    pairs.groupBy(col("vec_id"))
      .agg(graft.functions.TopKByScore
        .topk_by_score(col("cosine"), col("nbr"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("nbr"), round(col("col.score"), 4).as("cosine"))
  }

  /** Exact-then-near REP composition of the blocked kNN (the r13 30×
    * smoke's fix): identical (label, embedding) vectors collapse to
    * one representative, the quadratic in-block compare runs on
    * DISTINCT vectors only, and results expand back to members —
    * OUTPUT-IDENTICAL to [[knnJoinDirect]] because duplicate vectors
    * have identical cosines to everything (same float arrays through
    * the same cosine_sim) and the final per-member heap re-ranks with
    * the same (cosine DESC, id ASC) order. Per target group the
    * top-(k+2) SOURCE GROUPS by (cosine DESC, rep ASC) provably
    * contain every member that can reach the member-level top-k:
    * a group beaten by k+2 groups is beaten by ≥ k+1 groups that each
    * contribute a strictly-earlier candidate (at most one group — the
    * target's own, whose rep may be the excluded member itself —
    * can fail to contribute), so its members rank ≥ k+2. The cap
    * bounds DISTINCT vectors per block — the honest quadratic-cost
    * contract; a copy-heavy corpus (30× smoke: every vector ×30)
    * stays linear in copies instead of quadratic.
    */
  private[operators] def knnJoinReps(emb: DataFrame, k: Int = KnnK,
                                     blockCap: Int = 10000,
                                     saltRows: Int = SaltRows): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    graft.functions.CosineSimilarity.register(emb.sparkSession)
    graft.functions.TopKByScore.register(emb.sparkSession)
    // one group per distinct (label, embedding); rep = min member id,
    // so group-level id tie-breaks see exactly the smallest member
    val groups = emb.groupBy(col("label"), col("embedding"))
      .agg(min(col("vec_id")).as("rep"),
        collect_list(col("vec_id")).as("members"),
        count(lit(1)).as("gn"))
      .persist(MEMORY_AND_DISK)
    val sizes = groups.groupBy(col("label")).agg(count(lit(1)).as("bn"))
    val checked = sizes.withColumn("bn",
      when(col("bn") > blockCap, raise_error(concat(
        lit("knnJoinBlocked: a block holds "), col("bn").cast("string"),
        lit(s" DISTINCT vectors (> cap $blockCap); exact in-block top-k " +
          "would go quadratic — route oversized blocks through the IVF " +
          "ANN path"))))
        .otherwise(col("bn")))
    val t = groups.join(broadcast(checked), Seq("label"))
      .filter(col("bn") > 0) // keeps the raise_error guard in the plan
      .select(col("label"), col("rep"), col("embedding"), col("gn"),
        ceil(col("bn").cast("double") / saltRows).cast("int").as("sn"),
        ceil(col("bn").cast("double") / IdxChunkRows).cast("int").as("si"))
    // rep-level directed pairs, 2-D salted + exchange-pinned like
    // [[knnJoinDirect]] (see [[SaltRows]]/[[IdxChunkRows]] — a hot
    // label's DISTINCT-vector block serializes one task otherwise,
    // the index replica grows the task linearly without the second
    // dimension, and AQE coalescing would undo the salt); the
    // self-pair survives only when the group has a sibling to offer
    // (gn ≥ 2)
    val numP = Parallelism.pinCount(emb)
    val pairs = t.select(col("label"),
        pmod(col("rep"), col("sn")).cast("int").as("salt"),
        col("rep").as("trep"), col("embedding").as("ea"), col("si"))
      .withColumn("isalt", explode(sequence(lit(0), col("si") - 1)))
      .repartition(numP, col("label"), col("salt"), col("isalt"))
      .join(t.select(col("label"),
          pmod(col("rep"), col("si")).cast("int").as("isalt"),
          col("rep").as("srep"), col("embedding").as("eb"),
          col("gn").as("sgn"), col("sn"))
        .withColumn("salt", explode(sequence(lit(0), col("sn") - 1)))
        .repartition(numP, col("label"), col("salt"), col("isalt"))
        .hint("shuffle_hash"), Seq("label", "salt", "isalt"))
      .filter(col("trep") =!= col("srep") || col("sgn") >= 2)
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosine_sim(col("ea"), col("eb")))
      .select(col("trep"), col("srep"), col("cosine"))
    // top-(k+2) source GROUPS per target group (see proof above)
    val topGroups = pairs.groupBy(col("trep"))
      .agg(graft.functions.TopKByScore
        .topk_by_score(col("cosine"), col("srep"), k + 2).as("top"))
      .select(col("trep"), explode(col("top")).as("g"))
      .select(col("trep"), col("g.id").as("srep"), col("g.score").as("cosine"))
    // expand both sides to members, exclude self, re-rank per member
    val expanded = topGroups
      .join(groups.select(col("rep").as("trep"), col("members").as("tm"))
        .hint("shuffle_hash"), Seq("trep"))
      .join(groups.select(col("rep").as("srep"), col("members").as("sm"))
        .hint("shuffle_hash"), Seq("srep"))
      .select(col("cosine"), explode(col("tm")).as("vec_id"), col("sm"))
      .select(col("cosine"), col("vec_id"), explode(col("sm")).as("nbr"))
      .filter(col("vec_id") =!= col("nbr"))
    expanded.groupBy(col("vec_id"))
      .agg(graft.functions.TopKByScore
        .topk_by_score(col("cosine"), col("nbr"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("nbr"), round(col("col.score"), 4).as("cosine"))
  }

  /** Semantic dedup over an `(vec_id, label, embedding)` relation:
    * returns `(vec_id, cluster_id, kept)` where cluster_id is the
    * min vec_id of the vector's cosine-similarity component within
    * its hyperplane bucket, and kept marks the representative.
    */
  def semDedup(emb: DataFrame, threshold: Double = 0.4,
               requireExact: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    graft.functions.CosineSimilarity.register(emb.sparkSession)
    graft.functions.HyperplaneSig.register(emb.sparkSession)
    // the LSH bucket *is* the blocking key — reuse the skew-guarded
    // blocked pair generator with label := bucket
    val bucketed = emb.select(hyperplaneBucket(col("embedding")).as("label"),
      col("vec_id"), col("embedding"))
    // requireExact rides inside the pair generator's own block-size
    // computation (raise_error on an over-cap block) — exactness at
    // zero extra jobs; a separate pre-check pass cost +2.5 s on the
    // sf0.1 bench
    val edges = Dedup.embeddingPairsBlocked(bucketed, threshold,
        requireExact = requireExact)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      .persist(MEMORY_AND_DISK)
    val labels = Dedup.labelPropagation(edges)
    emb.select(col("vec_id"))
      .join(labels.withColumnRenamed("id", "vec_id")
        .withColumnRenamed("cluster_id", "lbl"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lbl"), col("vec_id")).as("cluster_id"))
      .withColumn("kept", col("vec_id") === col("cluster_id"))
  }

  /** Random-hyperplane LSH bucket of an `array<float>` embedding:
    * deterministic ±1 hyperplane weights (sign of the md5-derived
    * 60-bit int of "plane:dim"). The weights are CONSTANTS, computed
    * once at plan-build time and embedded as array literals — per-row
    * work is just the dot products. The DuckDB oracle recomputes the
    * same md5 signs in SQL; Dedup reuses this as the sub-blocking key
    * for oversized embedding blocks.
    */
  private[operators] def hyperplaneBucket(embCol: Column): Column =
    hyperplaneBucketSeeded(embCol, "")

  /** Same construction with a seed prefix folded into every plane's
    * md5 input — independent plane sets per seed, so callers can OR
    * several signatures for recall amplification (Dedup's oversized
    * embedding blocks band over these). Seed "" reproduces the
    * original planes the ann_lsh_topk oracle mirrors in SQL. The
    * signature evaluates through the native one-pass
    * [[graft.functions.HyperplaneSig]] (bit-identical to the
    * per-plane aggregate-fold it replaced, including the null/length
    * → 0 corner; callers must have run `HyperplaneSig.register`).
    */
  private[operators] def hyperplaneBucketSeeded(embCol: Column, seed: String): Column =
    graft.functions.HyperplaneSig.hyperplane_sig(embCol,
      Array.tabulate(Planes, Dim)((p, j) => planeSign(s"$seed$p", j)))

  /** Squared-L2 distance from an `array<float>` column to a constant
    * centroid — the centroid folds to an array literal, so per-row
    * work is one codegen'd fused multiply-subtract pass.
    */
  private def l2sq(embCol: Column, c: Array[Double]): Column =
    aggregate(
      zip_with(embCol, array(c.map(lit): _*),
        (x, cv) => (x.cast("double") - cv) * (x.cast("double") - cv)),
      lit(0.0), (acc, v) => acc + v)

  /** Nearest-centroid cell id (ties → lowest cell) via the native
    * one-pass [[graft.functions.IvfCell]] expression — bit-identical
    * to the HOF argmin formulation it replaced (same sequential
    * double math, same first-min tie rule; `PqIvfSpec` pins parity)
    * without the boxed per-element lambda evaluation in corpus-wide
    * projections. Callers must have run `IvfCell.register`.
    */
  private[operators] def cellOf(embCol: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.IvfCell.ivf_cell(embCol, centroids)

  /** The query's `nprobe` nearest cells, nearest first (struct sort on
    * (distance, cell) gives a deterministic probe order).
    */
  private def probeCells(qe: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    transform(
      slice(array_sort(array(centroids.zipWithIndex.map { case (c, i) =>
        struct(l2sq(qe, c).as("d"), lit(i).as("cell"))
      }: _*)), 1, nprobe),
      e => e("cell"))

  /** IVF coarse quantizer: distributed Lloyd iterations from a
    * deterministic seed (the embeddings of the first `Cells` non-query
    * vec_ids). Assignment and per-cell/per-dimension means are wide
    * scans + one aggregate each; only the model itself (Cells × Dim
    * doubles) is collected, which is how any ANN index ships its
    * quantizer to the executors.
    */
  def trainCentroids(emb: DataFrame): Array[Array[Double]] =
    // fingerprint-keyed train-once (r16 verdict item 3): the r15 bench
    // flagged ann_ivf_topk cold 3.42× warm, and the attribution is
    // this function — count + seed collect + LloydIters mean-collect
    // jobs re-ran inside every cold window. The quantizer is a corpus
    // statistic; persist it like the probe verdicts
    // ([[DerivedStore.value]]). The registered query probes every
    // cell, so WHICH converged model is served can never change
    // output; the store key covers the engine code, so a trainer or
    // codec change retrains.
    DerivedStore.value(emb,
      s"ivf_centroids:k$Cells:i$LloydIters:s$SamplePerCell")(
      trainCentroidsNow(emb))(encodeMatrix)(decodeMatrix)

  private[operators] def encodeMatrix(m: Array[Array[Double]]): String =
    m.map(_.map(java.lang.Double.toString).mkString(",")).mkString("\n")
  private[operators] def decodeMatrix(s: String): Array[Array[Double]] =
    s.split("\n").map(_.split(",").map(java.lang.Double.parseDouble))

  private def trainCentroidsNow(emb: DataFrame): Array[Array[Double]] = {
    graft.functions.Md5Hash60.register(emb.sparkSession)
    graft.functions.IvfCell.register(emb.sparkSession)
    // Train the coarse quantizer on a deterministic hash-gated sample
    // persisted across the Lloyd passes: k-means needs O(100) points
    // per cell, not the corpus — training on the full table at 100 TB
    // would cost LloydIters extra full scans for zero recall gain
    // (the index-build pass in ivfTopK still assigns every vector
    // exactly once, and the correctness query probes every cell, so
    // the OUTPUT is invariant to sample choice). The keep rate is
    // sized to ~SamplePerCell points per cell from the actual corpus
    // count — per-mille-ish at real scale, never the 50 % a fixed
    // percent gate degrades to. The md5 gate keeps the sample
    // identical across runs and partitionings; seed rows stay in
    // regardless.
    val n = math.max(emb.count(), 1L)
    val keep = math.min(1000000L,
      math.max(1L, (Cells.toLong * SamplePerCell * 1000000L + n - 1) / n))
    val sample = emb.filter(
      pmod(graft.functions.Md5Hash60.md5_hash60(
        concat(lit("ivf:"), col("vec_id").cast("string"))), lit(1000000L)) < keep ||
        (col("vec_id") >= NumQueries && col("vec_id") < NumQueries + Cells))
      .select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids: Array[Array[Double]] = sample
      .filter(col("vec_id") >= NumQueries && col("vec_id") < NumQueries + Cells)
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 0 until LloydIters) {
      val means = sample
        .withColumn("cell", cellOf(col("embedding"), centroids))
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, cell) =>
        byCell.get(cell) match {
          case Some(rows) =>
            val m = old.clone()
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            m
          case None => old // empty cell keeps its centroid
        }
      }
    }
    sample.unpersist()
    centroids
  }

  /** Pruned-IVF quantizer size / probe schedule (r16 verdict item 2).
    * 32 cells makes nprobe ∈ {1, 4, 16} a real pruning ladder
    * (1/32 … 1/2 of the index probed) at every test SF.
    */
  private[operators] val PrunedCells = 32
  private[operators] val PrunedNprobes = Seq(1, 4, 16)

  /** DETERMINISTIC sampled IVF trainer for the pruned-recall row: the
    * same hash-gated bounded sample as [[trainCentroidsNow]] (salt
    * `ivfx:`, seeds = the `PrunedCells` vectors after the query range,
    * riding the gate unconditionally) but with the decimal-exact,
    * round-6dp mean update of [[kmeansAssignments]] instead of a float
    * `avg` — order-invariant, so the trained centroids are bit-stable
    * across runs, partitionings, AND engines (the DuckDB oracle
    * re-derives them). That is what allows an output that DEPENDS on
    * the model (pruned candidates/hits) to be oracle-hash-checked,
    * unlike the serving quantizer whose consumers are certificate-
    * exact and therefore tolerate a float trainer. Disk-memoized like
    * every trained model ([[DerivedStore.value]]).
    */
  def trainCentroidsExact(emb: DataFrame): Array[Array[Double]] =
    DerivedStore.value(emb,
      s"ivf_centroids_exact:k$PrunedCells:i$LloydIters:s$SamplePerCell")(
      trainCentroidsExactNow(emb))(encodeMatrix)(decodeMatrix)

  private def trainCentroidsExactNow(emb: DataFrame): Array[Array[Double]] = {
    graft.functions.Md5Hash60.register(emb.sparkSession)
    graft.functions.IvfCell.register(emb.sparkSession)
    val n = math.max(emb.count(), 1L)
    val keep = math.min(1000000L,
      math.max(1L, (PrunedCells.toLong * SamplePerCell * 1000000L + n - 1) / n))
    val sample = emb.filter(
      pmod(graft.functions.Md5Hash60.md5_hash60(
        concat(lit("ivfx:"), col("vec_id").cast("string"))), lit(1000000L)) < keep ||
        (col("vec_id") >= NumQueries && col("vec_id") < NumQueries + PrunedCells))
      .select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids: Array[Array[Double]] = sample
      .filter(col("vec_id") >= NumQueries && col("vec_id") < NumQueries + PrunedCells)
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 0 until LloydIters) {
      val means = sample
        .withColumn("cell", cellOf(col("embedding"), centroids))
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(
          sum(col("col").cast("double").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 6).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, cell) =>
        byCell.get(cell).map { rows =>
          val m = old.clone()
          rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
          m
        }.getOrElse(old)
      }
    }
    sample.unpersist()
    centroids
  }

  /** Per-query candidate-count + exact-top-k hit-count at each pruned
    * nprobe — see the `ann_ivf_pruned_recall` registration for the
    * rationale. Shapes at scale: the exact reference is the standard
    * broadcast-queries/one-corpus-scan brute force (queries × k rows,
    * bounded); each pruned pass scans the cell-indexed corpus ONCE and
    * joins the broadcast (queries × nprobe) probe relation — no
    * corpus×corpus term anywhere; the indexed corpus is persisted so
    * the cell assignment is computed once, not once per nprobe.
    */
  def annIvfPrunedRecall(emb: DataFrame): DataFrame = {
    graft.functions.CosineSimilarity.register(emb.sparkSession)
    graft.functions.IvfCell.register(emb.sparkSession)
    val cents = trainCentroidsExact(emb)
    val indexed = emb.withColumn("cell", cellOf(col("embedding"), cents))
      .select(col("vec_id"), col("embedding"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = indexed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def cos = graft.functions.CosineSimilarity
      .cosine_sim(col("qe"), col("embedding"))
    def topk(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), asc("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K).select(col("qid"), col("vec_id"))
    }
    val exact = topk(emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", cos))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perNp = PrunedNprobes.map { np =>
      val probes = q.select(col("qid"), col("qe"),
        explode(probeCells(col("qe"), cents, np)).as("cell"))
      val cands = indexed.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
      val cnt = cands.groupBy(col("qid"))
        .agg(count(lit(1)).cast("int").as(s"cand_p$np"))
      val hits = exact
        .join(topk(cands.withColumn("cosine", cos)), Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).cast("int").as(s"hits_p$np"))
      (np, cnt, hits)
    }
    val joined = perNp.foldLeft(q.select(col("qid"))) {
      case (acc, (_, cnt, hits)) =>
        acc.join(cnt, Seq("qid"), "left").join(hits, Seq("qid"), "left")
    }
    joined.select(col("qid") +: PrunedNprobes.flatMap(np => Seq(
      coalesce(col(s"cand_p$np"), lit(0)).as(s"cand_p$np"),
      coalesce(col(s"hits_p$np"), lit(0)).as(s"hits_p$np"))): _*)
  }

  /** Distributed Lloyd's k-means over the FULL corpus: `iters`
    * passes of (assign to nearest centroid, recompute per-cell
    * means), then a final assignment with the squared-L2 distance.
    * Per pass the corpus is scanned once (codegen'd [[IvfCell]]
    * assignment) and aggregated once (k × dim groups, map-side
    * combined); only the k × dim model crosses to the driver — the
    * standard quantizer-ship shape, invariant to partitioning.
    *
    * Cross-engine determinism: per-cell means sum decimal(38,18)
    * casts (exact, order-independent) and ROUND to 6 dp before the
    * next distance pass, so every engine computing the same spec
    * sees bit-identical centroids; empty cells keep their previous
    * centroid; assignment ties break to the lowest cell.
    */
  def kmeansAssignments(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    graft.functions.IvfCell.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids: Array[Array[Double]] = e.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 1 to iters) {
      val means = e.withColumn("cell", cellOf(col("embedding"), centroids))
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(
          sum(col("col").cast("double").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 6).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, cell) =>
        byCell.get(cell).map { rows =>
          val m = old.clone()
          rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
          m
        }.getOrElse(old)
      }
    }
    val dists = array(centroids.map(c => l2sq(col("embedding"), c)): _*)
    e.withColumn("cluster", cellOf(col("embedding"), centroids))
      .select(col("vec_id"), col("cluster"),
        round(sqrt(element_at(dists, col("cluster") + 1)), 6).as("dist"))
  }

  /** Probe-then-search: corpus bucketed by nearest centroid, each
    * query explodes into its `nprobe` nearest cells, and only those
    * cells' members are scored. The query side (queries × nprobe rows)
    * broadcasts; the corpus is scanned once with a codegen'd cell
    * assignment — no corpus×corpus blowup at any scale.
    */
  def ivfTopK(emb: DataFrame, centroids: Array[Array[Double]],
                                 nprobe: Int): DataFrame = {
    graft.functions.IvfCell.register(emb.sparkSession)
    val indexed = emb.withColumn("cell", cellOf(col("embedding"), centroids))
    val q = indexed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .select(col("qid"), col("qe"),
        explode(probeCells(col("qe"), centroids, nprobe)).as("cell"))
    val scored = indexed.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosine_sim(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cosine"), 4).as("cosine"))
  }

  private[operators] val sqlDot =
    "list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i]::DOUBLE * e.embedding[i]::DOUBLE))"
  private[operators] def sqlNorm(c: String) =
    s"sqrt(list_sum(list_transform($c, x -> x::DOUBLE * x::DOUBLE)))"
  private val sqlBucket =
    s"""(SELECT cast(sum(CASE WHEN list_sum(list_transform(range(1, len(v.embedding) + 1),
       |      j -> v.embedding[j]::DOUBLE *
       |           (CASE WHEN ('0x' || substr(md5(p::varchar || ':' || (j - 1)::varchar), 1, 15))::bigint % 2 = 0
       |                 THEN 1.0 ELSE -1.0 END))) >= 0
       |      THEN (1::bigint << p) ELSE 0 END) AS bigint)
       | FROM range(0, $Planes) r(p))""".stripMargin

  private lazy val bruteForceOracle: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    $sqlDot / (${sqlNorm("q.qe")} * ${sqlNorm("e.embedding")}) AS cosine
       |  FROM embeddings e, q WHERE e.vec_id != q.qid)
       |SELECT qid, vec_id,
       |  cast(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS int) AS rank,
       |  round(cosine, 4) AS cosine
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) <= $K""".stripMargin

  def oracles: Map[String, String] = Map(
    // quadratic in-block all-pairs + window top-k — the heap
    // aggregate must match it exactly (cosine DESC, nbr ASC)
    "knn_join_blocked" ->
      s"""WITH pairs AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
         |    list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |    / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) AS cosine
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id != b.vec_id)
         |SELECT vec_id, cast(row_number() OVER w AS int) AS rk, nbr,
         |  round(cosine, 4) AS cosine
         |FROM pairs
         |WINDOW w AS (PARTITION BY vec_id ORDER BY cosine DESC, nbr ASC)
         |QUALIFY row_number() OVER w <= $KnnK""".stripMargin,
    "ann_cosine_topk" -> bruteForceOracle,
    "ann_topk_agg" -> bruteForceOracle,
    // recall-complete IVF (nprobe = all cells) scores exactly the
    // brute-force candidate set, so the exact oracle applies
    "ann_ivf_topk" -> bruteForceOracle,
    "hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |           FROM embeddings WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |    $sqlDot / (${sqlNorm("q.qe")} * ${sqlNorm("e.embedding")}) AS cosine
         |  FROM embeddings e JOIN q ON e.label != q.qlabel)
         |SELECT qid, vec_id,
         |  cast(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS int) AS rank,
         |  round(cosine, 4) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) <= $K""".stripMargin,
    "ann_lsh_multiprobe" ->
      s"""WITH signed AS (
         |  SELECT v.vec_id, v.embedding, $sqlBucket AS bucket FROM embeddings v),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
         |      FROM signed WHERE vec_id < $NumQueries),
         |probes AS (
         |  SELECT qid, qe,
         |    xor(qbucket, CASE WHEN i = 0 THEN 0::bigint
         |                      ELSE (1::bigint << (i - 1)) END) AS pbucket
         |  FROM q, range(0, ${Planes + 1}) r(i)),
         |scored AS (
         |  SELECT q.qid, e.vec_id, e.bucket,
         |    $sqlDot / (${sqlNorm("q.qe")} * ${sqlNorm("e.embedding")}) AS cosine
         |  FROM signed e JOIN probes q ON e.bucket = q.pbucket AND e.vec_id != q.qid)
         |SELECT qid, vec_id, bucket,
         |  cast(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS int) AS rank,
         |  round(cosine, 4) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) <= $K""".stripMargin,
    // same component semantics as dedup_clusters: recursive label
    // reachability, UNION (not UNION ALL) so the cyclic undirected
    // graph terminates
    "semdedup" ->
      s"""WITH RECURSIVE signed AS (
         |  SELECT v.vec_id, v.embedding, $sqlBucket AS bucket FROM embeddings v),
         |edges AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM signed a JOIN signed b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         |    / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) >= 0.4),
         |undirected AS (
         |  SELECT va AS a, vb AS b FROM edges
         |  UNION ALL
         |  SELECT vb, va FROM edges),
         |reach(v, l) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT u.b, r.l FROM undirected u JOIN reach r ON r.v = u.a)
         |SELECT v AS vec_id, min(l) AS cluster_id, (v = min(l)) AS kept
         |FROM reach GROUP BY v""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH signed AS (
         |  SELECT v.vec_id, v.embedding, $sqlBucket AS bucket FROM embeddings v),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
         |      FROM signed WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.qid, e.vec_id, e.bucket,
         |    $sqlDot / (${sqlNorm("q.qe")} * ${sqlNorm("e.embedding")}) AS cosine
         |  FROM signed e JOIN q ON e.bucket = q.qbucket AND e.vec_id != q.qid)
         |SELECT qid, vec_id, bucket,
         |  cast(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS int) AS rank,
         |  round(cosine, 4) AS cosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) <= $K""".stripMargin,
    "kmeans_clusters" -> kmeansOracle,
    "ann_ivf_pruned_recall" -> ivfPrunedOracle,
    // same exact / single-bucket / multi-probe top-k CTEs as the
    // three green ANN rows, reduced to integer hit counts per query
    "ann_recall_report" ->
      s"""WITH signed AS (
         |  SELECT v.vec_id, v.embedding, $sqlBucket AS bucket FROM embeddings v),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
         |      FROM signed WHERE vec_id < $NumQueries),
         |exact AS (
         |  SELECT q.qid, e.vec_id,
         |    $sqlDot / (${sqlNorm("q.qe")} * ${sqlNorm("e.embedding")}) AS cosine
         |  FROM signed e, q WHERE e.vec_id != q.qid
         |  QUALIFY row_number() OVER (PARTITION BY q.qid
         |    ORDER BY cosine DESC, e.vec_id ASC) <= $K),
         |lsh AS (
         |  SELECT q.qid, e.vec_id,
         |    $sqlDot / (${sqlNorm("q.qe")} * ${sqlNorm("e.embedding")}) AS cosine
         |  FROM signed e JOIN q ON e.bucket = q.qbucket AND e.vec_id != q.qid
         |  QUALIFY row_number() OVER (PARTITION BY q.qid
         |    ORDER BY cosine DESC, e.vec_id ASC) <= $K),
         |probes AS (
         |  SELECT qid, qe,
         |    xor(qbucket, CASE WHEN i = 0 THEN 0::bigint
         |                      ELSE (1::bigint << (i - 1)) END) AS pbucket
         |  FROM q, range(0, ${Planes + 1}) r(i)),
         |mp AS (
         |  SELECT q.qid, e.vec_id,
         |    $sqlDot / (${sqlNorm("q.qe")} * ${sqlNorm("e.embedding")}) AS cosine
         |  FROM signed e JOIN probes q ON e.bucket = q.pbucket AND e.vec_id != q.qid
         |  QUALIFY row_number() OVER (PARTITION BY q.qid
         |    ORDER BY cosine DESC, e.vec_id ASC) <= $K)
         |SELECT q.qid,
         |  cast(coalesce(l.h, 0) AS int) AS hits_lsh,
         |  cast(coalesce(m.h, 0) AS int) AS hits_multiprobe
         |FROM q
         |LEFT JOIN (SELECT e.qid, count(*) AS h
         |           FROM exact e JOIN lsh USING (qid, vec_id) GROUP BY 1) l
         |  USING (qid)
         |LEFT JOIN (SELECT e.qid, count(*) AS h
         |           FROM exact e JOIN mp USING (qid, vec_id) GROUP BY 1) m
         |  USING (qid)""".stripMargin
  )

  /** DuckDB mirror of [[annIvfPrunedRecall]] — the whole pipeline
    * re-derived in SQL: the md5 sample gate and riding seeds of
    * [[trainCentroidsExactNow]], `LloydIters` decimal-exact round-6dp
    * passes over the sample (the proven [[kmeansOracle]] recipe, so
    * both engines iterate bit-identical centroids), full-corpus
    * assignment, per-query probe ranking by (distance, cell), and per
    * nprobe the candidate count + exact-top-k hit count.
    */
  private lazy val ivfPrunedOracle: String = {
    def l2(e: String, c: String): String =
      s"""list_sum(list_transform(range(1, len($e) + 1),
         |      i -> ($e[i]::DOUBLE - $c[i]) * ($e[i]::DOUBLE - $c[i])))""".stripMargin
    val seedLo = NumQueries
    val seedHi = NumQueries + PrunedCells
    def pass(n: Int): String = {
      val prev = s"c${n - 1}"
      s"""a$n AS (
         |  SELECT s.vec_id, c.cell, ${l2("s.embedding", "c.c")} AS d
         |  FROM samp s CROSS JOIN $prev c
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id ORDER BY d, c.cell) = 1),
         |m$n AS (
         |  SELECT cell, i,
         |    round(cast(sum(cast(emb[i]::DOUBLE AS decimal(38,18))) AS DOUBLE) / count(*), 6) AS m
         |  FROM (SELECT a.cell, s.embedding AS emb,
         |          unnest(range(1, len(s.embedding) + 1)) AS i
         |        FROM a$n a JOIN samp s USING (vec_id))
         |  GROUP BY cell, i),
         |c$n AS (
         |  SELECT $prev.cell, coalesce(g.c, $prev.c) AS c
         |  FROM $prev LEFT JOIN
         |    (SELECT cell, list(m ORDER BY i) AS c FROM m$n GROUP BY cell) g
         |    USING (cell))""".stripMargin
    }
    val cF = s"c$LloydIters"
    val dot =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i]::DOUBLE * x.embedding[i]::DOUBLE))"
    def prunedCtes(np: Int): String =
      s"""cand$np AS (
         |  SELECT q.qid, x.vec_id,
         |    $dot / (${sqlNorm("q.qe")} * ${sqlNorm("x.embedding")}) AS cosine
         |  FROM aF x
         |  JOIN qc ON x.cell = qc.cell AND qc.rnk <= $np
         |  JOIN q ON q.qid = qc.qid
         |  WHERE x.vec_id != q.qid),
         |cnt$np AS (
         |  SELECT qid, cast(count(*) AS int) AS cand_p$np FROM cand$np GROUP BY qid),
         |hit$np AS (
         |  SELECT t.qid, cast(count(*) AS int) AS hits_p$np
         |  FROM exact e
         |  JOIN (SELECT qid, vec_id FROM cand$np
         |        QUALIFY row_number() OVER (PARTITION BY qid
         |          ORDER BY cosine DESC, vec_id ASC) <= $K) t
         |    USING (qid, vec_id)
         |  GROUP BY t.qid)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |nn AS (SELECT cast(count(*) AS bigint) AS n FROM e),
       |samp AS (
       |  SELECT vec_id, embedding FROM e, nn
       |  WHERE ('0x' || substr(md5('ivfx:' || vec_id::varchar), 1, 15))::bigint % 1000000
       |        < least(1000000, greatest(1, (${PrunedCells.toLong * SamplePerCell * 1000000L} + n - 1) // n))
       |     OR (vec_id >= $seedLo AND vec_id < $seedHi)),
       |c0 AS (
       |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS c
       |  FROM e WHERE vec_id >= $seedLo AND vec_id < $seedHi
       |  ORDER BY vec_id LIMIT $PrunedCells),
       |${(1 to LloydIters).map(pass).mkString(",\n")},
       |aF AS (
       |  SELECT x.vec_id, x.embedding, c.cell, ${l2("x.embedding", "c.c")} AS d
       |  FROM e x CROSS JOIN $cF c
       |  QUALIFY row_number() OVER (PARTITION BY x.vec_id ORDER BY d, c.cell) = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM e WHERE vec_id < $NumQueries),
       |qc AS (
       |  SELECT q.qid, c.cell,
       |    cast(row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${l2("q.qe", "c.c")}, c.cell) AS int) AS rnk
       |  FROM q CROSS JOIN $cF c),
       |exact AS (
       |  SELECT q.qid, x.vec_id
       |  FROM e x, q
       |  WHERE x.vec_id != q.qid
       |  QUALIFY row_number() OVER (PARTITION BY q.qid
       |    ORDER BY $dot / (${sqlNorm("q.qe")} * ${sqlNorm("x.embedding")}) DESC,
       |             x.vec_id ASC) <= $K),
       |${PrunedNprobes.map(prunedCtes).mkString(",\n")}
       |SELECT q.qid,
       |${PrunedNprobes.map(np =>
           s"  coalesce(cnt$np.cand_p$np, 0) AS cand_p$np,\n" +
           s"  coalesce(hit$np.hits_p$np, 0) AS hits_p$np").mkString(",\n")}
       |FROM q
       |${PrunedNprobes.map(np =>
           s"LEFT JOIN cnt$np USING (qid)\nLEFT JOIN hit$np ON hit$np.qid = q.qid").mkString("\n")}""".stripMargin
  }

  /** DuckDB mirror of [[kmeansAssignments]]: the same init, the same
    * decimal-exact + round-6dp mean update per pass, the same
    * lowest-cell tie rule — unrolled `LloydIters` times. Squared-L2
    * is the same left-to-right double fold as [[l2sq]]/[[IvfCell]].
    */
  private lazy val kmeansOracle: String = {
    def l2(e: String, c: String): String =
      s"""list_sum(list_transform(range(1, len($e) + 1),
         |      i -> ($e[i]::DOUBLE - $c[i]) * ($e[i]::DOUBLE - $c[i])))""".stripMargin
    def assign(n: Int, cents: String): String =
      s"""a$n AS (
         |  SELECT e.vec_id, c.cell, ${l2("e.embedding", "c.c")} AS d
         |  FROM e CROSS JOIN $cents c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d, c.cell) = 1)""".stripMargin
    def pass(n: Int): String = {
      val prev = s"c${n - 1}"
      s"""${assign(n, prev)},
         |m$n AS (
         |  SELECT cell, i,
         |    round(cast(sum(cast(emb[i]::DOUBLE AS decimal(38,18))) AS DOUBLE) / count(*), 6) AS m
         |  FROM (SELECT a.cell, e.embedding AS emb,
         |          unnest(range(1, len(e.embedding) + 1)) AS i
         |        FROM a$n a JOIN e USING (vec_id))
         |  GROUP BY cell, i),
         |c$n AS (
         |  SELECT $prev.cell, coalesce(g.c, $prev.c) AS c
         |  FROM $prev LEFT JOIN
         |    (SELECT cell, list(m ORDER BY i) AS c FROM m$n GROUP BY cell) g
         |    USING (cell))""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (
       |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS c
       |  FROM e ORDER BY vec_id LIMIT $Cells),
       |${(1 to LloydIters).map(pass).mkString(",\n")},
       |${assign(LloydIters + 1, s"c$LloydIters")}
       |SELECT vec_id, cell AS cluster, round(sqrt(d), 6) AS dist
       |FROM a${LloydIters + 1}""".stripMargin
  }
}
