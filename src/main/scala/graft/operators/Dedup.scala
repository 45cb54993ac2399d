package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Tables

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash+LSH, and SimHash, the core dedup toolbox of a
  * training-data pipeline.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-shuffle on a 128-bit content hash; group sizes
  *    are bounded by true duplicate multiplicity, no skew risk.
  *  - jaccard pairs: pairwise compare is quadratic, so it only ever
  *    runs inside small blocking groups (here lang×source); at 100 TB
  *    the blocker keys keep each block driver-independent and bounded.
  *  - minhash_lsh: the scale path — cost is linear in tokens (hash ×
  *    permutations, map-side min-combine), candidate generation is a
  *    self-equi-join on band signatures (shuffle keyed by signature,
  *    only colliding docs meet), and the quadratic verify runs only on
  *    candidates. This is the standard shingle→minhash→band→bucket
  *    pipeline.
  *  - simhash: linear fingerprinting; near-dup lookup becomes a
  *    Hamming-distance comparison on 60-bit ints.
  *
  * All hash functions are md5-derived 60-bit ints so the DuckDB
  * oracles reproduce them bit-for-bit (`('0x'||substr(md5(x),1,15))`
  * ≡ Spark `conv(substring(md5(x),1,15),16,10)`).
  */
object Dedup {

  private[operators] val NumPerms = 16
  private val BandRows = 2 // 8 bands of 2 → high recall at sim ≥ 0.5
  private val JaccardThreshold = 0.5
  /** |A∩B|/|A| threshold for [[containmentPrefixJoin]]. Lower than a
    * Jaccard threshold would be: containment ≥ Jaccard always, and
    * the asymmetric join's point is catching small-in-big inclusion
    * that Jaccard scores near zero.
    */
  private val ContainmentThreshold = 0.6

  /** Shingle width for [[jaccardPrefixJoin]]. Prefix filtering's cost
    * bound is the document frequency of each doc's RAREST tokens — on
    * a low-entropy corpus (this synthetic one has only ~931 distinct
    * bigrams over 5000 sf0.1 docs, max df 338) bigram prefix buckets
    * reach hundreds of docs and the candidate join degenerates toward
    * all-pairs (~33M match rows measured). Word TRIGRAMS lift the
    * shingle space to ~27k with max df 25 (max bucket 10, ~1M match
    * rows — a 33× cut) while remaining a standard near-dup shingle
    * choice; at real-corpus vocabulary the same reasoning holds at
    * any k, so k is a parameter and 3 the low-entropy-safe default.
    */
  private val PrefixJoinShingleK = 3

  /** Band b's signature string over a `mh: array<bigint>` MinHash
    * column — the [[BandRows]] member hashes comma-joined, identical
    * to the `concat_ws(",", mh_{2b}, mh_{2b+1})` the oracles build.
    */
  private def bandSig(b: Int): Column =
    concat_ws(",", (b * BandRows until (b + 1) * BandRows)
      .map(i => element_at(col("mh"), i + 1).cast("string")): _*)

  /** Distinct word-bigram shingles per doc. Bigrams (not unigram
    * bags) are the MinHash shingle: on a small-vocabulary corpus
    * unigram sets are near-identical across ALL documents, which
    * collapses every doc into one LSH bucket and makes candidate
    * generation quadratic — the classic LSH degeneracy. Bigrams keep
    * the shingle space large enough that only true near-duplicates
    * collide.
    */
  private def shingleSets(docs: DataFrame): DataFrame = shingleSetsK(docs, 2)

  /** Distinct word k-gram shingles per doc (k aligned slices zipped
    * pairwise — no explode, no sequence(), stays inside whole-stage
    * codegen). Wider k trades recall granularity for shingle-space
    * entropy: on a low-vocabulary corpus the k-gram space must be
    * large enough that document-frequency stays bounded, or every
    * df-keyed structure (LSH buckets, prefix-filter buckets)
    * degenerates toward all-pairs.
    */
  private[operators] def shingleSetsK(docs: DataFrame, k: Int): DataFrame = {
    val w = split(trim(col("text")), "\\s+")
    val m = greatest(size(w) - lit(k - 1), lit(0))
    val grams = (2 to k).foldLeft(slice(w, lit(1), m))((acc, j) =>
      zip_with(acc, slice(w, lit(j), m), (a, b) => concat(a, lit(" "), b)))
    docs.select(col("doc_id"), array_distinct(grams).as("toks"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: content-hash grouping, canonical = min doc_id
    "dedup_exact" -> ((s, dir) => {
      val w = Window.partitionBy(col("h"))
      Tables(s, dir).documents
        .withColumn("h", md5(col("text")))
        .select(col("doc_id"), col("h"),
          min(col("doc_id")).over(w).as("canonical_id"),
          count(lit(1)).over(w).as("dup_count"))
        .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
    }),

    // duplication-rate curve by n-gram order (1/2/4/8): the
    // granularity diagnostic behind every dedup/decontamination key
    // choice — one corpus pass, (n, hash)-keyed distinct aggregate
    "dup_curve_by_order" -> ((s, dir) =>
      dupCurveByOrder(Tables(s, dir).documents)),

    // per-doc duplicated-span coverage: exact interval union of
    // corpus-duplicated 8-gram spans via one per-doc lag window —
    // the exact-substring-dedup removal signal
    "dup_span_coverage" -> ((s, dir) =>
      dupSpanCoverage(Tables(s, dir).documents)),

    // n-gram (word-set) Jaccard near-dup pairs inside blocking groups,
    // with the per-block skew guard (see jaccardPairsBlocked)
    "dedup_jaccard_pairs" -> ((s, dir) =>
      jaccardPairsBlocked(Tables(s, dir).documents)),

    // exact GLOBAL similarity join, no blocking key: prefix-filtered
    // candidates + exact verify ≡ the quadratic all-pairs oracle
    "jaccard_prefix_join" -> ((s, dir) =>
      jaccardPrefixJoin(Tables(s, dir).documents)),

    // exact ASYMMETRIC containment join (small-doc-inside-big-doc —
    // the contamination shape symmetric Jaccard can't see): A probes
    // its rare-shingle prefix against B's full df-ordered index
    "dedup_containment" -> ((s, dir) =>
      containmentPrefixJoin(Tables(s, dir).documents)),

    // MinHash + LSH banding: linear-cost candidate generation, then
    // exact Jaccard verification on candidates only. All NumPerms
    // minhashes are computed in ONE aggregation pass over the
    // exploded tokens (16 min() columns, map-side combined) — no
    // per-permutation row blowup and a single shuffle keyed by
    // doc_id; band signatures are then plain column concats.
    "dedup_minhash_lsh" -> ((s, dir) => minhashPairs(Tables(s, dir).documents)),

    // connected components over the near-dup graph (cluster ids).
    // This row and its three consumers below (canonical, sizes, safe
    // split) share ONE materialized assignment — the clustering job
    // runs once per corpus, not once per report (see
    // materializedClusters).
    "dedup_clusters" -> ((s, dir) => materializedClusters(s, dir)),

    // Canonical-per-cluster selection: for every multi-member near-dup
    // family, KEEP THE BEST member (most words, tie → min doc_id) —
    // the curation step after clustering ("keep the most complete
    // copy"), where minhashClusters/corpus_curation keep the FIRST.
    // One doc-keyed join + one cluster-keyed argmax aggregate on top
    // of the cluster assignment; the argmax rides min(struct(-words,
    // id)) so it is a map-side-combinable aggregate, not a window
    // funneling each cluster through one task.
    "dedup_cluster_canonical" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val nw = docs.select(col("doc_id"), TextAnalysis.nWords.as("n_words"))
      materializedClusters(s, dir)
        .join(nw.hint("shuffle_hash"), Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((-col("n_words")).as("neg_words"),
            col("doc_id").as("d"))).as("m"))
        .filter(col("n_members") > 1)
        .select(col("cluster_id"), col("n_members"),
          col("m.d").as("canonical_doc"),
          (-col("m.neg_words")).as("canonical_words"))
    }),

    // cluster-size histogram — the standard dedup report (how many
    // singletons vs how many size-k near-dup families, and what doc
    // volume each stratum holds): two map-side-combined aggregates
    // over the cluster assignment
    "dedup_cluster_sizes" -> ((s, dir) =>
      materializedClusters(s, dir)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))),

    // embedding-cosine near-dup: pairwise cosine inside label blocks
    // (the label plays the IVF coarse-quantizer cell — at 100 TB the
    // blocking key bounds the quadratic compare exactly like
    // lang×source does for text pairs), with the per-block skew guard
    "dedup_embedding_pairs" -> ((s, dir) =>
      embeddingPairsBlocked(Tables(s, dir).embeddings)),

    // Leakage-safe train/val/test split: the split bucket hashes the
    // near-dup CLUSTER id, not the doc id, so near-duplicates can
    // never straddle train and test — the standard guard against
    // contaminating eval sets with paraphrases of training docs.
    // Same 80/10/10 md5 gate as dataset_split, same output shape.
    "cluster_safe_split" -> ((s, dir) => {
      graft.functions.Md5Hash60.register(s)
      val docs = Tables(s, dir).documents
      val bucket = pmod(graft.functions.Md5Hash60.md5_hash60(
        col("cluster_id").cast("string")), lit(100L))
      docs.join(materializedClusters(s, dir), Seq("doc_id"))
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    }),

    // character-level near-dup: banded-MinHash candidates verified
    // with exact Levenshtein at ≤ 25% of the longer text — catches
    // the typo-edit dups token-set Jaccard under-scores
    "dedup_edit_pairs" -> ((s, dir) => editPairs(Tables(s, dir).documents)),

    // cross-source duplication matrix: near-dup pair counts + mean
    // similarity per (source, source) cell — "how much does crawl A
    // re-serve crawl B", the corpus-mixture diagnostic that decides
    // which sources to drop or downweight. Pure composition: the
    // minhash pair relation joins doc→source twice (shuffle-hash on
    // doc_id) and aggregates on the normalized source pair. The mean
    // rides EXACT ints (4-decimal jaccards scaled ×10⁴), so shuffle
    // order can never flip a last-ulp double across engines.
    "source_overlap_matrix" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val src = docs.select(col("doc_id"), col("source"))
      minhashPairs(docs)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a"))
          .hint("shuffle_hash"), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b"))
          .hint("shuffle_hash"), Seq("doc_b"))
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"),
          round(col("jaccard") * 10000, 0).cast("long").as("j4"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("j4")).cast("double") /
            (lit(10000.0) * count(lit(1)).cast("double")), 4).as("avg_jaccard"))
    }),

    // SimHash: 60-bit per-doc fingerprint from shingle hash bit votes
    "simhash" -> ((s, dir) => simhashFingerprints(Tables(s, dir).documents)),

    // SimHash near-dup pairs via pigeonhole banding: hamming <= 3
    // over 4 bands of 15 bits means at least one band is untouched,
    // so banded candidate generation has EXACT recall (unlike
    // probabilistic minhash bands) at LSH cost
    "simhash_pairs" -> ((s, dir) => {
      val fp = simhashFingerprints(Tables(s, dir).documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bandCols = (0 until 4).map(b =>
        expr(s"(simhash >> ${15 * b}) & 32767").as(s"bv$b"))
      val bands = fp.select(col("doc_id") +: bandCols: _*)
        .select(col("doc_id"),
          posexplode(array((0 until 4).map(b => col(s"bv$b")): _*)))
        .withColumnRenamed("pos", "b").withColumnRenamed("col", "band_val")
      // bucket self-join shuffles on (b, band_val) — same scale
      // argument as the minhash band join: never broadcast the corpus
      val cands = bands.as("x").join(bands.as("y").hint("shuffle_hash"),
          col("x.b") === col("y.b") && col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      // Verify joins are keyed on doc_id and SHUFFLE-hashed, never
      // broadcast: fp is the full corpus, and broadcasting it means
      // collecting every fingerprint to the driver — fine at sf0.1,
      // fatal at 100 TB. Shuffle-hash (not sort-merge) because the
      // join is a pure equi-lookup and cands ≪ fp.
      cands
        .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
          .hint("shuffle_hash"), Seq("doc_a"))
        .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
          .hint("shuffle_hash"), Seq("doc_b"))
        .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
    })
  )

  /** Per-block row cap for the all-pairs compare. Blocking keeps the
    * quadratic comparison bounded ONLY while every block stays small;
    * one skewed key (a dominant lang×source or label) silently turns
    * the plan quadratic at scale. Blocks over the cap are routed
    * through LSH candidate generation inside the block instead —
    * linear cost, recall ≈ 0.9 at the 0.5 Jaccard threshold
    * (1−(1−s²)⁸ banding), exact verification so precision stays 1.
    * The default never triggers at test SFs (max block ≈ 112 rows at
    * sf0.1), so the exact all-pairs oracles still apply; the routing
    * itself is proven by DedupSkewSpec on a synthetic hot block.
    */
  private[operators] val BlockPairCap = 10000

  /** Duplicate share above which the exact-then-near REP composition
    * pays for itself. Both branches are exact, so the gate can never
    * change output — it only decides whether the textGroups shuffle +
    * member-expansion joins are worth buying. On a dup-free corpus
    * they are pure overhead (r7: 2.6× on `dedup_minhash_lsh`); on a
    * copy-heavy corpus they are 4–23× wins (ScaleSmoke). 5 % dups is
    * comfortably below the break-even (the rep machinery costs ~2 s
    * flat at sf0.1 and saves ~quadratic-in-copies verify work).
    */
  private[operators] val RepGateDupShare = 0.05

  /** "Corpus is essentially duplicate-free" verdict for the
    * rep-composition gate, kept in [[DerivedStore]] — one cheap
    * O(corpus) count-distinct agg per distinct input relation,
    * map-side combined on the 128-bit content hash.
    */
  private def essentiallyDupFree(docs: DataFrame): Boolean =
    DerivedStore.verdict(docs, "dupfree") {
      // count_distinct skips NULLs, so null texts must be counted as
      // ONE distinct group (textGroups treats them that way) — not as
      // n_null "duplicates" that would misroute a dup-free corpus
      // onto the rep branch
      val r = docs.agg(count(lit(1)),
        count_distinct(md5(col("text"))) +
          max(when(col("text").isNull, 1L).otherwise(0L))).head()
      val n = r.getLong(0)
      n == 0L || (n - r.getLong(1)).toDouble / n.toDouble <= RepGateDupShare
    }

  /** Blocked Jaccard near-dup pairs with the skew guard: blocks of at
    * most `blockCap` docs compare all-pairs (exact); larger blocks
    * generate candidates by MinHash banding *within* the block and
    * only verify those.
    */
  def jaccardPairsBlocked(docs: DataFrame, blockCap: Int = BlockPairCap): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      array_distinct(split(trim(col("text")), "\\s+")).as("toks"))
      .withColumn("n", size(col("toks")))
    // Block sizes via groupBy (map-side combined) + broadcast join —
    // NOT count().over(partitionBy(block)): the window funnels the
    // hottest block through a single task, the very skew this guard
    // exists to catch. The size table has one row per blocking key,
    // bounded and tiny, so the broadcast is safe at any corpus size.
    val sizes = base.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("bn"))
    val t = base.join(broadcast(sizes), Seq("lang", "source"))

    def verified(pairs: DataFrame): DataFrame = pairs
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))

    val small = t.filter(col("bn") <= blockCap)
    // |A∪B| via |A|+|B|-|A∩B|: one array op per pair, no union array
    val smallPairs = verified(
      small.select(col("lang"), col("source"), col("doc_id").as("doc_a"),
          col("toks").as("toks_a"), col("n").as("na"))
        .join(small.select(col("lang"), col("source"), col("doc_id").as("doc_b"),
          col("toks").as("toks_b"), col("n").as("nb")), Seq("lang", "source"))
        .filter(col("doc_a") < col("doc_b")))

    val big = t.filter(col("bn") > blockCap)
    val bigPairs = verified(
      bandedCandidates(big, Seq("lang", "source"))
        .join(big.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
          col("n").as("na")).hint("shuffle_hash"), Seq("doc_a"))
        .join(big.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
          col("n").as("nb")).hint("shuffle_hash"), Seq("doc_b")))

    smallPairs.unionAll(bigPairs)
  }

  /** Exact GLOBAL set-similarity join via prefix filtering — no
    * blocking key at all, unlike [[jaccardPairsBlocked]] (whose
    * lang×source blocks are unbounded on a real corpus). Standard
    * prefix-filter argument: order every doc's shingles by one global
    * (df asc, shingle asc) total order; two docs can reach Jaccard ≥ t
    * only if their first `n − ceil(t·n) + 1` ordered shingles share a
    * token. Candidates therefore join on single RARE shingles (the
    * ascending-df order puts each doc's rarest shingles in the
    * prefix), so bucket sizes are bounded by rare-token df, not by
    * corpus size; a length filter (t·|A| ≤ |B| ≤ |A|/t) prunes
    * further, and exact verification keeps precision 1 with NO recall
    * loss — output is bit-identical to the quadratic all-pairs join
    * the oracle runs. Every join shuffles on its key; nothing
    * corpus-sized is broadcast or collected.
    */
  /** Shared prep of the exact prefix-filtered joins ([[jaccardPrefixJoin]],
    * [[containmentPrefixJoin]]): per-doc shingle arrays in the global
    * (df asc, w asc) total order, hashed to 8-byte ids when xxhash64
    * is injective on this corpus's vocabulary, with the value-sorted
    * copy for the codegen merge-intersect and the filtering prefix of
    * `n − ⌈t·n⌉ + 1` tokens. Returns (prep persisted, useHash).
    */
  /** Repartition on `c` with an EXPLICIT, data-derived partition
    * count ([[Parallelism.pinCount]]: session parallelism floored,
    * leaf-input-bytes scaled). A bare `repartition(col)` is a
    * REPARTITION_BY_COL shuffle that AQE may coalesce to match data
    * SIZE — and with `canChangeCachedPlanOutputPartitioning` that
    * coalescing applies inside cached plans too, which collapsed the
    * hash-heavy shingle/minhash maps downstream of this spread onto
    * one task (the maps are CPU-bound, not byte-bound, so size-based
    * coalescing is exactly wrong for them; r8: dedup_edit_pairs
    * 3.4 → 10.1 s cold). An explicit count is REPARTITION_BY_NUM,
    * which AQE must respect.
    */
  private[operators] def spread(df: DataFrame, c: org.apache.spark.sql.Column): DataFrame =
    df.repartition(Parallelism.pinCount(df), c)

  /** Per-document duplicated-span coverage — the exact-substring
    * dedup signal (cf. Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): the share of a document's token
    * positions covered by an `n`-gram that occurs ≥ 2 times anywhere
    * in the corpus (within-doc repeats count — a self-repeating doc
    * is as boilerplate as a copied one). A doc with high coverage_e6
    * is mostly duplicated spans and a removal candidate even when no
    * whole-document near-dup fires.
    *
    * Coverage is the exact interval union of [i, i+n-1] over
    * duplicated positions i, computed with one per-doc lag window:
    * because span ends are monotone in i, each position's fresh
    * contribution is min(n, i − prev_i) (n for the first). No
    * interval relation materializes.
    *
    * Scale shape: one n-gram pass (the decontamination shape), a
    * hash-keyed count, a hash-keyed join back, a doc-keyed window,
    * and a doc-keyed left join — every wide op keyed, linear in the
    * token stream. coverage_e6 is an integral DIV of positives.
    */
  def dupSpanCoverage(docs: DataFrame, n: Int = 8): DataFrame = {
    graft.functions.Md5Hash60.register(docs.sparkSession)
    val base = spread(
      docs.select(col("doc_id"),
        when(length(trim(col("text"))) === 0,
          array().cast("array<string>"))
          .otherwise(split(trim(col("text")), "\\s+")).as("ws")),
      col("doc_id"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n_tokens"))
    // (doc, position, hash) stream feeds the dup-hash count AND the
    // join back — persist so the tokenize + md5 map runs once.
    // CALLER-UNPERSISTS contract (same as bpeDecodeRoundtrip's syms):
    // the returned frame is lazy, so this function cannot know when
    // the final join materializes; Bench/Verify clear caches between
    // queries, and any other caller owns releasing the corpus-sized
    // n-gram cache (spark.catalog.clearCache() or unpersist-all)
    // once the result is consumed (r12 advice).
    val grams = base.filter(col("n_tokens") >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n_tokens") - lit(n - 1))).as("i"),
        col("ws"))
      .select(col("doc_id"), col("i"),
        graft.functions.Md5Hash60.md5_hash60(
          array_join(slice(col("ws"), col("i"), lit(n)), " ")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val covered = grams
      .join(dupHashes.hint("shuffle_hash"), Seq("h"))
      .select(col("doc_id"), col("i"))
      .withColumn("gap", col("i") - lag(col("i"), 1).over(w))
      .select(col("doc_id"),
        when(col("gap").isNull, lit(n.toLong))
          .otherwise(least(lit(n.toLong), col("gap").cast("long")))
          .as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("cov"), count(lit(1)).as("dg"))
    base.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(covered.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dg"), lit(0L)).as("n_dup_grams"),
        coalesce(col("cov"), lit(0L)).as("n_covered"),
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          expr("(1000000 * coalesce(cov, 0)) DIV n_tokens"))
          .as("coverage_e6"))
  }

  /** Duplication-rate curve by n-gram order — the diagnostic that
    * picks a dedup granularity: unigram dup share is near-total in
    * any natural corpus (vocabulary reuse), 8-gram dup share isolates
    * genuine boilerplate/copying, and where the curve knees between
    * them is where exact/fuzzy dedup keys should sit (the same
    * reasoning decontamination fixes at n=8). One row per order:
    * (n, total_ngrams, distinct_ngrams, dup_rate).
    *
    * Scale shape: ONE corpus scan and ONE position explode emit every
    * order's n-gram hash per token position (4 md5s per token, no
    * per-order re-scan); the only wide op is the (n, h)-keyed
    * distinct aggregate — linear in the token stream, output bounded
    * by |orders|. The dup_rate is one IEEE division of two exact
    * ints, identical in both engines.
    */
  def dupCurveByOrder(docs: DataFrame,
                      orders: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    graft.functions.Md5Hash60.register(docs.sparkSession)
    val base = spread(
      docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws")),
      col("doc_id"))
    val perOrder = orders.map(n =>
      when(size(col("ws")) - col("i") + 1 >= n,
        struct(lit(n).as("n"), graft.functions.Md5Hash60.md5_hash60(
          array_join(slice(col("ws"), col("i"), lit(n)), " ")).as("h")))
        .otherwise(lit(null)))
    base
      .select(explode(sequence(lit(1), size(col("ws")))).as("i"), col("ws"))
      .select(explode(filter(array(perOrder: _*), x => x.isNotNull)).as("g"))
      .groupBy(col("g.n").as("n"))
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("g.h")).as("distinct_ngrams"))
      .select(col("n"), col("total_ngrams"), col("distinct_ngrams"),
        (lit(1.0) - col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double")).as("dup_rate"))
  }

  private def dfOrderedPrep(docs: DataFrame, threshold: Double,
                            shingleK: Int): (DataFrame, Boolean) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    graft.functions.ShingleKernel.register(docs.sparkSession)
    // Intersection size only needs token EQUALITY, so the whole
    // pipeline runs on xxhash64 ids (8-byte keys and compares)
    // instead of shingle strings. Exactness guard: one tiny agg over
    // the vocabulary proves the hash is injective on THIS corpus
    // (distinct shingles == distinct hashes); on a collision —
    // vanishingly rare, but data-dependent — fall back to the string
    // arrays. The check is O(vocab), not O(corpus), and
    // collision-free hashing never changes the output. The verdict
    // is memoized per input plan (canonicalized) and per shingleK —
    // k changes the vocabulary the verdict speaks for. The probe
    // builds its own throwaway string pipeline; it runs once per
    // corpus fingerprint and is then a disk hit.
    val useHash =
      DerivedStore.verdict(docs, s"xxinj_vocab_k$shingleK") {
        shingleSetsK(spread(docs, col("doc_id")), shingleK)
          .select(explode(col("toks")).as("w"))
          .agg((count_distinct(col("w")) ===
            count_distinct(xxhash64(col("w")))).as("ok"))
          .head().getBoolean(0)
      }
    // (doc_id, shingle-id) rows feed BOTH the df count and the prep
    // join — persist so the tokenize + shingle explode runs once,
    // not once per consumer (unpersisted below once prep is
    // materialized, so repeated calls don't accumulate cache blocks).
    // On the (normal) injective path the per-doc distinct k-gram ids
    // come from ONE fused byte-level pass (r17, ShingleXxExpr) and
    // every exchange downstream carries longs; the fallback keeps
    // the string chain verbatim.
    val tok = (if (useHash)
        spread(docs, col("doc_id")).select(col("doc_id"),
          explode(graft.functions.ShingleKernel
            .shingle_xx(col("text"), shingleK)).as("w"))
      else shingleSetsK(spread(docs, col("doc_id")), shingleK)
        .select(col("doc_id"), explode(col("toks")).as("w")))
      .persist(MEMORY_AND_DISK)
    // vocab-sized (one row per distinct shingle id)
    val tokDf = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .persist(MEMORY_AND_DISK)
    // per-doc shingles in global (df, w) order + the filtering prefix;
    // feeds the prefix explode AND both verify sides — persist once.
    // The (df asc, w asc) total order puts each doc's RAREST shingles
    // in its prefix, which is what bounds candidate bucket sizes.
    // (Prefix filtering is exact under ANY corpus-wide total order;
    // with df primary, the w tie-break — lexicographic strings
    // before r17, numeric xx ids now — only shuffles equal-rarity
    // shingles, so the verified output is unchanged while the sort
    // compares 8-byte longs.) `toks` stays in (df, w) order for
    // prefix slicing; `vtoks` is the VALUE-sorted copy the verify
    // stage merge-intersects (the codegen SortedIntersectCount needs
    // ascending arrays). On the string fallback vtoks is unused.
    val prep = tok.join(tokDf.hint("shuffle_hash"), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("sorted"))
      .select(col("doc_id"),
        transform(col("sorted"), x => x.getField("w")).as("toks"),
        size(col("sorted")).as("n"))
      .withColumn("vtoks",
        if (useHash) array_sort(col("toks")) else col("toks"))
      .withColumn("prefix", slice(col("toks"), lit(1),
        (floor(col("n") * lit(1.0 - threshold) + lit(1e-9)) + lit(1)).cast("int")))
      .persist(MEMORY_AND_DISK)
    // prep's cached blocks are self-contained once materialized, so
    // the upstream exploded-token caches can go immediately — they
    // are the corpus-sized ones
    prep.count()
    tok.unpersist()
    tokDf.unpersist()
    (prep, useHash)
  }

  /** Exact global set-similarity join, dup-rate gated like
    * [[minhashPairs]]/[[containmentPrefixJoin]]: on a copy-heavy
    * corpus the prefix-filter machinery runs on one REPRESENTATIVE
    * per distinct text and results expand back to member pairs
    * (identical texts have identical shingle sets, so the expansion
    * is output-identical) — candidate volume under N exact copies
    * otherwise grows ~N² (every copy of A shares its rare prefix
    * shingles with every copy of B), which the r8 10× smoke measured
    * as 15–100 s memory-pressure-variance territory; the rep branch
    * removes the blowup at its source. Intra-group: identical texts
    * with ≥ 1 shingle are Jaccard-1 pairs; texts under `shingleK`
    * words have EMPTY shingle sets and J = 0/max(0,1) = 0 — they
    * never pair (exactly the oracle's greatest(union,1) denominator).
    */
  def jaccardPrefixJoin(docs: DataFrame,
                        threshold: Double = JaccardThreshold,
                        shingleK: Int = PrefixJoinShingleK): DataFrame =
    if (essentiallyDupFree(docs)) jaccardPrefixDirect(docs, threshold, shingleK)
    else {
      val groups = textGroups(docs)
      val reps = groups.select(col("rep").as("doc_id"), col("text"))
      val repPairs = jaccardPrefixDirect(reps, threshold, shingleK)
      intraGroupPairs(groups, Seq(lit(1.0).as("jaccard")), minWords = shingleK)
        .unionAll(expandRepPairs(repPairs, groups, Seq("jaccard")))
    }

  /** The direct (no rep indirection) prefix-filtered join — the
    * dup-free branch of [[jaccardPrefixJoin]] and the rep-level join
    * of its copy-heavy branch.
    */
  private def jaccardPrefixDirect(docs: DataFrame,
                                  threshold: Double,
                                  shingleK: Int): DataFrame = {
    val (prep, useHash) = dfOrderedPrep(docs, threshold, shingleK)
    // Two prefixes per doc (Vernica/Carey/Li's asymmetric variant):
    // the INDEX prefix (n − ⌈t·n⌉ + 1 tokens, prep's `prefix`) and the
    // shorter PROBE prefix (n − ⌈2t/(1+t)·n⌉ + 1). A similar pair's
    // globally-first shared token w* provably sits inside the smaller
    // doc's probe prefix AND the larger doc's index prefix:
    // unshared-before-w* gives pos_x ≤ n_x − O, and
    // O ≥ t/(1+t)(n_x+n_y) ≥ 2t/(1+t)·n_x (n_y ≥ n_x) resp. ≥ t·n_y
    // (n_x ≥ t·n_y). So probing only the short prefix of the smaller
    // side against the index prefix of the larger side loses nothing —
    // and cuts the probe-side explode by a third at t = 0.5. The 1e-9
    // slack guards the double floor.
    val probeLen = (floor(col("n") * lit(1.0 - 2 * threshold / (1 + threshold))
      + lit(1e-9)) + lit(1)).cast("int")
    val pfIndex = prep.select(col("doc_id"), col("n"),
      posexplode(col("prefix"))).withColumnRenamed("col", "w")
    val pfProbe = prep.select(col("doc_id"), col("n"),
      posexplode(slice(col("prefix"), lit(1), probeLen)))
      .withColumnRenamed("col", "w")
    // Candidates: probe side = smaller doc (ties broken by doc_id),
    // length filter t·|A| ≤ |B| ≤ |A|/t, and the PPJoin positional
    // filter AS A JOIN PREDICATE: both token lists follow the SAME
    // global (df, w) order, so the earliest shared token attains
    // min(pos_x) and min(pos_y) simultaneously, and overlap ≤
    // min(n_x − pos_x, n_y − pos_y) there (pos is 0-based, so n − pos
    // counts the match + suffix). Similarity ≥ t needs overlap ≥
    // t/(1+t)·(n_x+n_y). Filtering PER MATCH ROW is sound and keeps
    // the identical pair set — a qualifying pair's first-match row
    // carries the LARGEST bound, so it always survives — but prunes
    // failing match rows before the pair-dedup shuffle instead of
    // after it (35 % of candidate volume on this corpus). The 1e-9
    // slack keeps double rounding from over-pruning.
    val needed = lit(threshold / (1.0 + threshold)) *
      (col("x.n") + col("y.n")).cast("double") - lit(1e-9)
    // Pair dedup doubles as the SUFFIX FILTER (PPJoin+'s tightening):
    // the same shuffle a plain .distinct() would cost, but the
    // aggregate keeps α = matched-prefix-token count and the LAST
    // matched positions. Both token lists follow the same global
    // (df, w) order, so every shared token globally ≤ the last match
    // is itself a match row (it sits inside both windows) — all
    // counted in α; shared tokens after it number at most
    // min(n_x − p_x − 1, n_y − p_y − 1). Hence
    // overlap ≤ α + min(n_x − p_x − 1, n_y − p_y − 1): a strictly
    // tighter certificate than the per-match-row bound (its α = 1
    // case), pruning pairs BEFORE the two verify joins shuffle the
    // full token arrays.
    // the token-keyed candidate exchange is PINNED: its input is a
    // small (doc, token) relation while its output is quadratic in
    // hot-token bucket sizes, so AQE's byte-based coalescing collapses
    // the heavy pair-emission + partial pair-dedup stage to a handful
    // of tasks (the r14 Zipf probe at a 4000-doc boilerplate cluster
    // measured it at FOUR tasks, max task = half the op wall)
    val candP = graft.operators.Parallelism.pinCount(docs)
    val cands = pfProbe.repartition(candP, col("w")).as("x")
      .join(pfIndex.repartition(candP, col("w")).as("y").hint("shuffle_hash"),
        col("x.w") === col("y.w") &&
          (col("x.n") < col("y.n") ||
            (col("x.n") === col("y.n") && col("x.doc_id") < col("y.doc_id"))) &&
          col("x.n").cast("double") >= col("y.n") * threshold &&
          least(col("x.n") - col("x.pos"), col("y.n") - col("y.pos"))
            .cast("double") >= needed)
      .select(col("x.doc_id").as("xid"), col("y.doc_id").as("yid"),
        col("x.n").as("nx"), col("y.n").as("ny"),
        col("x.pos").as("px"), col("y.pos").as("py"))
      .groupBy(col("xid"), col("yid"))
      .agg(count(lit(1)).as("alpha"),
        max(col("px")).as("mpx"), max(col("py")).as("mpy"),
        first(col("nx")).as("nx"), first(col("ny")).as("ny"))
      .filter((col("alpha") +
        least(col("nx") - col("mpx") - 1, col("ny") - col("mpy") - 1))
        .cast("double") >=
        lit(threshold / (1.0 + threshold)) *
          (col("nx") + col("ny")).cast("double") - lit(1e-9))
      .select(least(col("xid"), col("yid")).as("doc_a"),
        greatest(col("xid"), col("yid")).as("doc_b"))
    // Verify: |A∩B| by codegen two-pointer merge over the sorted
    // hash arrays (O(|A|+|B|), no per-pair hash-set allocation);
    // array_intersect only on the injectivity-collision fallback.
    graft.functions.SortedIntersectCount.register(docs.sparkSession)
    val interOf: (Column, Column) => Column =
      if (useHash)
        (a, b) => graft.functions.SortedIntersectCount.sorted_intersect_count(a, b)
      else (a, b) => size(array_intersect(a, b))
    cands
      .join(prep.select(col("doc_id").as("doc_a"), col("vtoks").as("toks_a"),
        col("n").as("na")).hint("shuffle_hash"), Seq("doc_a"))
      .join(prep.select(col("doc_id").as("doc_b"), col("vtoks").as("toks_b"),
        col("n").as("nb")).hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("inter", interOf(col("toks_a"), col("toks_b")))
      .withColumn("jac", col("inter").cast("double") /
        greatest(col("na") + col("nb") - col("inter"), lit(1)).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** Exact ASYMMETRIC containment join: ordered pairs (A, B) with
    * C(A→B) = |A∩B| / |A| ≥ t — "A's shingles are mostly inside B".
    * This is the shape train-set contamination actually takes (a
    * benchmark document quoted inside a larger page): Jaccard
    * |A∩B|/|A∪B| vanishes as B grows, so a symmetric join can never
    * find a small document swallowed by a big one; containment is
    * size-invariant on the container side.
    *
    * Same prefix-filter machinery as [[jaccardPrefixJoin]] with the
    * asymmetry pushed through every bound: C ≥ t needs overlap
    * O ≥ ⌈t·n_A⌉, so A probes its `n_A − ⌈t·n_A⌉ + 1` rarest shingles
    * (prep's prefix — identical length formula), while B — whose
    * required overlap RELATIVE TO n_B is unbounded below — indexes its
    * FULL df-ordered list (the standard probe-short/index-full
    * containment layout). Per-match positional bounds O ≤ n_A − pos_A
    * and O ≤ n_B − pos_B apply unchanged (first-match argument), the
    * pair aggregate applies the same α + suffix-remainder certificate
    * (every shared token globally ≤ the last match is a match row —
    * A's prefix is a GLOBAL-order prefix and B is fully indexed), and
    * the verify stage divides by n_A instead of the union size. The
    * only size filter is n_B ≥ t·n_A (no upper bound: any container
    * qualifies). Output is bit-identical to the quadratic ordered
    * all-pairs join the oracle runs.
    */
  def containmentPrefixJoin(docs: DataFrame,
                            threshold: Double = ContainmentThreshold,
                            shingleK: Int = PrefixJoinShingleK): DataFrame =
    if (essentiallyDupFree(docs)) containmentDirect(docs, threshold, shingleK)
    else {
      // Rep composition for the ORDERED containment join (the r7 10×
      // smoke's worst operator: 38 s, because BOTH sides fan out —
      // every copy of A probes every copy of every B). Identical
      // texts have identical shingle sets, so C(A→B) depends only on
      // the (rep_A, rep_B) texts: run the whole prefix-filter join on
      // one representative per distinct text and expand back to
      // member pairs IN BOTH ROLES, order preserved (no least/
      // greatest canonicalization — containment is asymmetric).
      // Intra-group: identical non-empty shingle sets have C = 1 ≥ t,
      // every ordered pair (a≠b) qualifies; docs under `shingleK`
      // words have EMPTY shingle sets and C = 0/max(0,1) = 0 — they
      // never pair (exactly the oracle's greatest(len(toks),1)
      // denominator), hence the n_words ≥ shingleK gate.
      val groups = textGroups(docs)
      val reps = groups.select(col("rep").as("doc_id"), col("text"))
      val repPairs = containmentDirect(reps, threshold, shingleK)
      intraGroupPairs(groups, Seq(lit(1.0).as("containment")),
          minWords = shingleK, ordered = true)
        .unionAll(expandRepPairs(repPairs, groups, Seq("containment"),
          canonicalize = false))
    }

  /** The direct (no rep indirection) prefix-filtered containment join
    * — the dup-free branch of [[containmentPrefixJoin]] and the
    * rep-level join of its copy-heavy branch.
    */
  private def containmentDirect(docs: DataFrame,
                                threshold: Double,
                                shingleK: Int): DataFrame = {
    val (prep, useHash) = dfOrderedPrep(docs, threshold, shingleK)
    val cIndex = prep.select(col("doc_id"), col("n"),
      posexplode(col("toks"))).withColumnRenamed("col", "w")
    val cProbe = prep.select(col("doc_id"), col("n"),
      posexplode(col("prefix"))).withColumnRenamed("col", "w")
    val neededA = lit(threshold) * col("x.n").cast("double") - lit(1e-9)
    val cands = cProbe.as("x")
      .join(cIndex.as("y").hint("shuffle_hash"),
        col("x.w") === col("y.w") &&
          col("x.doc_id") =!= col("y.doc_id") &&
          col("y.n").cast("double") >= col("x.n") * threshold &&
          least(col("x.n") - col("x.pos"), col("y.n") - col("y.pos"))
            .cast("double") >= neededA)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("ny"),
        col("x.pos").as("px"), col("y.pos").as("py"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("alpha"),
        max(col("px")).as("mpx"), max(col("py")).as("mpy"),
        first(col("na")).as("na"), first(col("ny")).as("nb"))
      .filter((col("alpha") +
        least(col("na") - col("mpx") - 1, col("nb") - col("mpy") - 1))
        .cast("double") >= lit(threshold) * col("na").cast("double") - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))
    graft.functions.SortedIntersectCount.register(docs.sparkSession)
    val interOf: (Column, Column) => Column =
      if (useHash)
        (a, b) => graft.functions.SortedIntersectCount.sorted_intersect_count(a, b)
      else (a, b) => size(array_intersect(a, b))
    cands
      .join(prep.select(col("doc_id").as("doc_a"), col("vtoks").as("toks_a"),
        col("n").as("na")).hint("shuffle_hash"), Seq("doc_a"))
      .join(prep.select(col("doc_id").as("doc_b"), col("vtoks").as("toks_b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("inter", interOf(col("toks_a"), col("toks_b")))
      .withColumn("containment", col("inter").cast("double") /
        greatest(col("na"), lit(1)).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** How many independent hyperplane signatures the oversized-block
    * path ORs together. One 6-plane AND signature alone keeps only
    * ~6 % of true pairs at cos ≈ 0.4 (each plane agrees w.p.
    * 1 − θ/π ≈ 0.63, and 0.63⁶ ≈ 0.06); OR-ing 8 independent
    * signatures lifts that to ~1 − (1 − 0.06)⁸ ≈ 0.41, and to ~0.98
    * at cos ≈ 0.9 — the same OR-of-bands recall amplification
    * [[bandedCandidates]] uses for Jaccard overflow blocks.
    */
  private val EmbBands = 8

  /** Blocked embedding-cosine near-dup pairs with the skew guard:
    * label blocks up to `blockCap` compare all-pairs (exact); larger
    * blocks generate candidates by OR-ing [[EmbBands]] independent
    * random-hyperplane signatures (any-band collision ⇒ candidate),
    * then verify candidates exactly — banding for recall, bucketing
    * for cost, nothing corpus-sized broadcast.
    */
  def embeddingPairsBlocked(emb: DataFrame, threshold: Double = 0.4,
                            blockCap: Int = BlockPairCap,
                            requireExact: Boolean = false): DataFrame = {
    graft.functions.CosineSimilarity.register(emb.sparkSession)
    graft.functions.HyperplaneSig.register(emb.sparkSession)
    // block sizes by groupBy+broadcast-join, not a window — same
    // single-hot-task skew reasoning as jaccardPairsBlocked
    val sizes = emb.groupBy(col("label")).agg(count(lit(1)).as("bn"))
    // requireExact (oracle-comparison mode): a block past the cap
    // would flip that block to approximate OR-of-bands candidates —
    // fail loudly instead of silently diverging from an exact
    // oracle. Piggybacked on the bn column the plan computes anyway
    // (raise_error fires on first touch of an oversized block's
    // rows), so exactness costs ZERO extra jobs — a separate
    // pre-check pass was a +2.5 s bench regression.
    val checked = if (!requireExact) sizes else sizes.withColumn("bn",
      when(col("bn") > blockCap, raise_error(concat(
        lit(s"embeddingPairsBlocked(requireExact): a block holds "),
        col("bn").cast("string"),
        lit(s" vectors (> cap $blockCap); pairs would be approximate"))))
        .otherwise(col("bn")))
    val t = emb.join(broadcast(checked), Seq("label"))

    def scored(pairs: DataFrame): DataFrame = pairs
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(col("cosine"), 4).as("cosine"))

    // under-cap blocks: direct quadratic compare, 2-D salted by block
    // size exactly like Similarity.knnJoinDirect (see its SaltRows /
    // IdxChunkRows docs — an unsalted hot block serializes one task:
    // the r14 Zipf smoke measured 237 s on the knn twin of this join;
    // a probe-side-only salt still grows the task linearly with the
    // block's index replica) with the exchange pinned so AQE's
    // input-byte coalescing can't merge the salt bins whose join
    // output is quadratic. Pair set identical: each (a, b) meets
    // exactly in cell (pmod(a, sn), pmod(b, si)).
    val small = t.filter(col("bn") <= blockCap)
      .withColumn("sn",
        ceil(col("bn").cast("double") / Similarity.SaltRows).cast("int"))
      .withColumn("si",
        ceil(col("bn").cast("double") / Similarity.IdxChunkRows).cast("int"))
    val numP = Parallelism.pinCount(emb)
    val smallPairs = scored(
      small.select(col("label"),
          pmod(col("vec_id"), col("sn")).cast("int").as("salt"),
          col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("si"))
        .withColumn("isalt", explode(sequence(lit(0), col("si") - 1)))
        .repartition(numP, col("label"), col("salt"), col("isalt"))
        .join(small.select(col("label"),
            pmod(col("vec_id"), col("si")).cast("int").as("isalt"),
            col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("sn"))
          .withColumn("salt", explode(sequence(lit(0), col("sn") - 1)))
          .repartition(numP, col("label"), col("salt"), col("isalt"))
          .hint("shuffle_hash"), Seq("label", "salt", "isalt"))
        .filter(col("vec_a") < col("vec_b")))

    // big blocks: one row per (vector, band) with that band's 6-plane
    // signature; candidates collide in ANY band, dedup'd BEFORE the
    // (heavier) embedding fetch + cosine verify.
    //
    // The sub-bucket self-join is 2-D SALTED (r16, closing the one
    // residual unsalted hot-bucket shape the r15 Zipf battery named:
    // 6.9 s max_task at m=4 from ONE task emitting a giant near-dup
    // cluster's C(bn,2) sig-collision pairs). Bucket size comes from
    // a count window over the single pinned (label, band, sig)
    // exchange — the same sizing the Jaccard banding uses
    // ([[bandCandidatesFromSigs]]): a separate groupBy-sizes subtree
    // would diverge under column pruning and re-run the hyperplane
    // map per consumer. Probe rows hash into sn = ceil(bn/SaltRows)
    // sub-buckets and replicate across si = ceil(bn/IdxChunkRows)
    // index chunks; index rows mirror — each colliding (a, b) meets
    // in exactly the cell (pmod(a, sn), pmod(b, si)), so the
    // candidate set is IDENTICAL while no task emits more than
    // SaltRows × IdxChunkRows pairs (the knnJoinDirect pattern, see
    // Similarity.SaltRows/IdxChunkRows). Sub-salt-width buckets get
    // sn = si = 1: the same plan at two pmods of overhead. The salt
    // exchanges are PINNED — their input is KBs while their join
    // output is quadratic, so AQE's byte-based coalescing would merge
    // the bins straight back into one task.
    val big = t.filter(col("bn") > blockCap)
    val bands = big.select(col("label"), col("vec_id"),
      posexplode(array((0 until EmbBands).map(b =>
        Similarity.hyperplaneBucketSeeded(col("embedding"), s"eb$b:")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
    val wB = Window.partitionBy(col("label"), col("band"), col("sig"))
    val bandsW = bands.repartition(numP, col("label"), col("band"), col("sig"))
      .withColumn("bbn", count(lit(1)).over(wB))
      .filter(col("bbn") >= 2)
      .withColumn("bsn",
        ceil(col("bbn").cast("double") / Similarity.SaltRows).cast("int"))
      .withColumn("bsi",
        ceil(col("bbn").cast("double") / Similarity.IdxChunkRows).cast("int"))
    val cands = bandsW
      .select(col("label"), col("band"), col("sig"),
        pmod(col("vec_id"), col("bsn")).cast("int").as("salt"),
        col("vec_id").as("vec_a"), col("bsi"))
      .withColumn("isalt", explode(sequence(lit(0), col("bsi") - 1)))
      .repartition(numP, col("label"), col("band"), col("sig"),
        col("salt"), col("isalt"))
      .join(bandsW
        .select(col("label"), col("band"), col("sig"),
          pmod(col("vec_id"), col("bsi")).cast("int").as("isalt"),
          col("vec_id").as("vec_b"), col("bsn"))
        .withColumn("salt", explode(sequence(lit(0), col("bsn") - 1)))
        .repartition(numP, col("label"), col("band"), col("sig"),
          col("salt"), col("isalt"))
        .hint("shuffle_hash"),
        Seq("label", "band", "sig", "salt", "isalt"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"))
      .distinct()
    val bigPairs = scored(cands
      .join(big.select(col("label"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a")).hint("shuffle_hash"), Seq("label", "vec_a"))
      .join(big.select(col("label"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")).hint("shuffle_hash"), Seq("label", "vec_b")))
    smallPairs.unionAll(bigPairs)
  }

  /** MinHash-banded candidate pairs *within* blocking-key groups over
    * a pre-tokenized relation `(keys..., doc_id, toks)` — the overflow
    * path for oversized blocks. Same banding parameters as
    * [[minhashPairs]] (which shingles raw text instead and persists
    * its intermediates for multi-consumer reuse).
    */
  private[operators] def bandedCandidates(t: DataFrame, keys: Seq[String]): DataFrame = {
    graft.functions.MinHash60.register(t.sparkSession)
    val keyCols = keys.map(col)
    // whole signature in one codegen'd map over the token array (see
    // MinHash60) — the old explode → 16-min aggregate shuffled a
    // (keys, doc, token) relation just to fold it straight back
    val minhashes = t.filter(size(col("toks")) > 0)
      .select((keyCols :+ col("doc_id") :+
        graft.functions.MinHash60.minhash60(col("toks"), NumPerms).as("mh")): _*)
    val bands = minhashes
      .select((keyCols :+ col("doc_id") :+
        posexplode(array((0 until NumPerms / BandRows).map(b => bandSig(b)): _*))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
    val joinCond = (keys ++ Seq("band", "sig"))
      .map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col("x.doc_id") < col("y.doc_id")
    bands.as("x").join(bands.as("y").hint("shuffle_hash"), joinCond)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** 60-bit SimHash per doc over word-bigram shingles (same shingle
    * space as MinHash — unigram votes degenerate on a tiny
    * vocabulary exactly like unigram minhash buckets do).
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    graft.functions.SimHash60.register(docs.sparkSession)
    // One codegen'd map over the per-doc shingle array — no explode,
    // no shuffle, no 60-column aggregate (that formulation generated
    // a ~9000-line aggregate class and cost ~19 s cold at sf0.1; this
    // is sub-second and scales with corpus bytes). The word-count
    // pre-filter reproduces the explode/groupBy semantics it
    // replaces — ≥ 2 words ⟺ ≥ 1 bigram shingle, so zero-shingle
    // docs drop exactly as they did (and as the DuckDB oracle CTE
    // does) — without re-deriving the shingle array inside a Filter
    // just to test emptiness (Catalyst doesn't CSE across the
    // Filter/Project boundary).
    shingleSets(docs.filter(size(split(trim(col("text")), "\\s+")) >= 2))
      .select(col("doc_id"),
        graft.functions.SimHash60.simhash60(col("toks")).as("simhash"))
  }

  /** Connected components over the near-dup pair graph: every doc
    * labeled with the min doc_id reachable through minhash-LSH pairs
    * (singletons label themselves) — the cluster view a curation
    * pipeline keeps one canonical per.
    *
    * Iterative min-label propagation; each round is one join + one
    * aggregate over (docs + 2·edges) rows, and the loop stops when
    * the monotonically-decreasing label sum is stable. Cluster
    * diameters are small in practice, so this converges in a few
    * rounds; at 100 TB each round is a bounded shuffle keyed by
    * doc_id (this is the standard large-graph CC recipe).
    */
  def minhashClusters(docs: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persist the DIRECTED pair set: both unionAll branches and every
    // propagation round read it — without this the whole LSH verify
    // pipeline executes once per branch
    val edges = minhashPairs(docs).select(col("doc_a"), col("doc_b"))
      .persist(MEMORY_AND_DISK)
    val labels = labelPropagation(edges)
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id")
        .withColumnRenamed("cluster_id", "lbl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  /** Materialized (doc_id, cluster_id) assignment for the documents
    * table of a scale-factor dir — the near-dup clustering run ONCE
    * and written as a derived layout, then read by every consumer.
    *
    * Four board queries consume the same assignment
    * (`dedup_clusters`, `dedup_cluster_canonical`,
    * `dedup_cluster_sizes`, `cluster_safe_split`); recomputing the
    * full minhash→LSH→verify→CC pipeline inside each is the
    * scale-killer shape: at 100 TB that is four multi-hour clustering
    * jobs where one job plus three cheap consumers suffices. A real
    * warehouse maintains the cluster assignment as a table exactly
    * like the partitioned fact copy ([[PartitionedFacts]]) — same
    * [[DerivedStore.table]] here, keyed on the documents' files and
    * the engine code, so neither a regenerated corpus nor a changed
    * clustering can serve a stale assignment. Exact: the layout holds
    * [[minhashClusters]]' own output, so the cross-engine hash gate is
    * unaffected.
    */
  def materializedClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    s.read.parquet(DerivedStore.table(dir, "cluster_assignment", docs)(
      minhashClusters(docs).write.mode("overwrite").parquet(_)))
  }

  /** Min-label propagation over an undirected graph given as DIRECTED
    * edge pairs `(doc_a, doc_b)` — returns `(id, cluster_id)` for
    * edge-touched vertices only (cluster_id = component-min id).
    *
    * Propagating over edge-touched vertices ONLY is the scale choice:
    * the near-dup graph is a tiny fraction of the corpus (dup rate ≪
    * 100 %), so each round shuffles |dup vertices| rows instead of
    * the whole corpus — at 100 TB that is the difference between a
    * corpus-wide shuffle per round and a trivial one. Singletons
    * never enter the loop; callers label them in a final left join.
    * The label-sum fixpoint scalar is collected on a geometric-then-
    * every-8-rounds cadence, not per round — see the batched-check
    * comment in the loop for why any cadence returns identical labels.
    */
  /** Lineage-truncation cadence for [[labelPropagation]] (r16,
    * verdict item 5): a persist caches DATA but keeps the logical
    * lineage, so a long-diameter duplicate graph (a chain of near-dup
    * links converges in ~diameter rounds) used to grow an
    * O(rounds)-deep plan that Catalyst re-analyzes every round —
    * driver CPU/heap in plan strings, not data. Every N rounds the
    * label vector is checkpointed instead (the same reliable/local
    * swap + bounded-stats reset pagerank uses), so plan depth is
    * bounded by N regardless of graph diameter. 8 keeps typical
    * near-dup graphs (diameter ≤ a few) on the cheap persist path
    * while capping pathological chains; LabelPropChainSpec drives a
    * long chain through several truncations.
    */
  private[operators] val LabelPropCheckpointEvery = 8

  private[graft] def labelPropagation(edges: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val undirected = edges
      .unionAll(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // Seed with propagation round 1 for free: label(v) = min(v, min
    // neighbor). Pair clusters (the overwhelmingly common near-dup
    // shape) are already at their fixpoint here, so the loop below
    // typically runs once as pure verification instead of twice.
    var labels = undirected
      .groupBy(col("doc_a").as("id"))
      .agg(least(min(col("doc_b")), col("doc_a")).as("cluster_id"))
      .persist(MEMORY_AND_DISK)
    // coalesce: sum over an empty vertex set (no near-dup pairs at
    // small SFs) is NULL, and an empty set is already converged.
    // The seed action also captures the vertex count — the honest
    // stats bound for the periodic checkpoints below (the label
    // vector stays vertex-sized in every round).
    val seed = labels.agg(coalesce(sum(col("cluster_id")), lit(0L)),
      count(lit(1))).head()
    var prevSum = seed.getLong(0)
    val nVerts = seed.getLong(1)
    var converged = prevSum == 0L
    // same cluster contract as pageRankConverged: with a reliable
    // checkpoint dir configured the truncation survives executor
    // loss; locally the executor-resident variant is used
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    var rounds = 0
    // ---- batched fixpoint checks (r16 verdict item 3) ----------------
    // The old loop collected the label-sum scalar EVERY round — on a
    // high-diameter graph (the 500-link ZipfSmoke chain) that is ~500
    // driver barriers pacing the whole convergence. Per-vertex labels
    // are monotone non-increasing (min over self + neighbors), so the
    // sum strictly decreases whenever ANY label changes in ANY round:
    // equal sums ACROSS a multi-round window therefore certify that the
    // window's first round was already the fixpoint — the check cadence
    // cannot change the result, only when we notice it. And the
    // fixpoint is absorbing (min-propagation is idempotent there), so
    // the ≤ window-1 overshoot rounds recompute the identical label
    // vector: the returned labels are bit-identical at ANY cadence.
    // Cadence: geometric 1, 2, 4, then every LabelPropCheckpointEvery
    // rounds (aligned with the lineage truncation, whose eager
    // checkpoint is a barrier anyway — the sum then rides the
    // materialized leaf for one cheap scan). Typical near-dup graphs
    // (diameter ≤ 2, seeded at round-1) still check — and exit — at
    // round 1; only deep chains pay overshoot, and they are exactly
    // the graphs saving ~4× in barriers. Rounds between checks stay
    // persisted, not raw (each round references `labels` twice: the
    // union base + the message join — an uncached chain would
    // recompute 2^j-fold), and are unpersisted at the next check.
    var nextCheck = 1
    val liveCaches = scala.collection.mutable.ArrayBuffer[DataFrame](labels)
    while (!converged) {
      val msgs = undirected
        .join(labels, undirected("doc_a") === labels("id"))
        .select(col("doc_b").as("id"), col("cluster_id"))
      val next0 = labels.select(col("id"), col("cluster_id"))
        .unionAll(msgs)
        .groupBy(col("id"))
        .agg(min(col("cluster_id")).as("cluster_id"))
      rounds += 1
      // every [[LabelPropCheckpointEvery]] rounds: checkpoint (lineage
      // cut to a materialized vertex-sized leaf, stats re-rooted to
      // 32 B/row × nVerts — the UnsafeRow footprint of (id, cluster_id):
      // 8 B null bitset + 2×8 B longs, rounded up — so join estimates
      // can't compound) instead of
      // persist (which would keep the whole round chain live in the
      // plan — see LabelPropCheckpointEvery)
      val isCkpt = rounds % LabelPropCheckpointEvery == 0
      val next =
        if (isCkpt)
          org.apache.spark.sql.graftshim.CheckpointStats
            .withBoundedStats(truncate(next0), BigInt(nVerts).max(1) * 32)
        else next0.persist(MEMORY_AND_DISK)
      if (!isCkpt) liveCaches += next
      labels = next
      if (rounds == nextCheck || isCkpt) {
        val nextSum = next.agg(sum(col("cluster_id"))).head().getLong(0)
        converged = nextSum == prevSum // labels only decrease; equal sum = fixpoint
        prevSum = nextSum
        // earlier rounds' caches materialized during the action above;
        // only the CURRENT label vector stays live
        liveCaches.filter(_ ne next).foreach(_.unpersist())
        liveCaches.clear()
        if (!isCkpt) liveCaches += next
        // geometric until the truncation cadence, then aligned with it
        nextCheck = rounds + math.min(LabelPropCheckpointEvery, rounds)
      }
    }
    labels
  }

  /** Banded-MinHash candidate pairs (doc_a < doc_b, distinct) over
    * the WHOLE corpus — the LSH candidate stage shared by
    * [[minhashPairs]] (Jaccard verify) and [[editPairs]]
    * (edit-distance verify). Linear in corpus size plus the
    * (band, sig) bucket self-join; nothing corpus-sized broadcasts.
    *
    * `spreadInput` repartitions the docs before the hash-heavy
    * signature map: right for relations arriving as few (often 1)
    * raw input splits, a wasted shuffle + stage for inputs that are
    * already the output of a shuffle (CorpusCuration's deduped
    * survivors sit on the session's shuffle partitioning).
    */
  def minhashBandCandidates(docs: DataFrame,
                            spreadInput: Boolean = true): DataFrame = {
      // The hash-heavy signature map (16 md5s per shingle) should
      // run spread across the cluster (see spreadInput above). The
      // ≥ 2 words pre-filter (⟺ ≥ 1 bigram) keeps its explode/groupBy
      // row set (and the oracle's); token_count ≡ size(split(trim,
      // "\\s+")) by ShingleKernelSpec, without a regex or an array.
      // The signature comes straight from the text bytes in ONE
      // fused pass (r17: MinHashText — min over a multiset equals
      // min over its set, so the old split → slice → zip_with →
      // array_distinct shingle materialization bought nothing here;
      // measured 2× on the per-doc map at sf0.1, identical output).
      graft.functions.ShingleKernel.register(docs.sparkSession)
      val filtered = docs.filter(
        graft.functions.ShingleKernel.token_count(col("text")) >= 2)
      val minhashes =
        (if (spreadInput) spread(filtered, col("doc_id")) else filtered)
          .select(col("doc_id"),
            graft.functions.ShingleKernel
              .minhash60_text(col("text"), NumPerms).as("mh"))
      bandCandidatesFromSigs(minhashes, Parallelism.pinCount(docs))
  }

  /** The bucket-join half of the LSH candidate stage, taking an
    * ALREADY-SIGNED (doc_id, mh) relation — so a caller that computes
    * the signature inside a shared exchange ([[minhashPairsFused]])
    * feeds the banding without re-running the hash-heavy map.
    */
  private def bandCandidatesFromSigs(minhashes: DataFrame,
                                     numP: Int): DataFrame = {
      // (doc_id, band, sig) is tiny (docs × 8 rows). NOT persisted
      // (r15): its single consumer is the pinned (band, sig) exchange
      // below — the shuffle files ARE the materialization every
      // downstream reader shares, and a persist here would be filled
      // RACING by whichever concurrent stage reads it first (the r14
      // probe action used to prime it sequentially; with the probe
      // gone, a cache above a multi-consumer node costs duplicated
      // minhash CPU instead of saving it).
      val bands = minhashes
        .select(col("doc_id"),
          posexplode(array((0 until NumPerms / BandRows).map(b => bandSig(b)): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
      // FULLY LAZY and skew-proof by construction (r15; replaces
      // r14's driver-side maxBn probe + adaptive join-shape gate,
      // which bought plain corpora a shorter plan but paid with a
      // Spark ACTION at DataFrame-construction time, a per-call
      // re-probe, and a JVM-lifetime salted-verdict memo). The whole
      // candidate stage hangs off the ONE pinned (band, sig)
      // exchange above — the query's only corpus-sized exchange and,
      // through [[minhashPairsFused]], its only leaf stage.
      //
      // Bucket size bn via a COUNT WINDOW over that exchange — not a
      // separate groupBy+join subtree: column pruning makes a
      // groupBy-sizes subtree diverge from the pair-side subtree
      // (different ReadSchema → ReuseExchange can't fire), so the
      // whole upstream signature pipeline would execute once per
      // consumer. The window is spill-safe on a mega-bucket (sort +
      // streamed frame), unlike a collect_list over an unbounded
      // bucket.
      val w = Window.partitionBy(col("band"), col("sig"))
      // The windowed band relation PERSISTS (r18): its three
      // consumers (small-bucket branch, both salted big-bucket sides)
      // were planned as three COPIES of the banding exchange whenever
      // the signature input is itself a cached relation — Spark 4.1's
      // TableCacheQueryStage wrapping defeats exchange reuse, and the
      // executed dedup_minhash_lsh plan carried three band-map stages
      // (srd=0, swr=1.8 MB, 3–5 CPU-s EACH re-reading the signature
      // cache and re-banding). A cache is race-free here on the same
      // mechanism: AQE materializes an InMemoryTableScan as its own
      // TableCacheQueryStage before dependent stages run (observed:
      // one fill stage + two ~0 ms waiters), so the fill happens
      // once. Partitioning note: the cache sits on the pinned
      // (band, sig) exchange and reports it (GraftSession's
      // canChangeCachedPlanOutputPartitioning), so the small branch's
      // groupBy still runs exchange-free.
      val bandsW = bands.repartition(numP, col("band"), col("sig"))
        .withColumn("bn", count(lit(1)).over(w))
        .filter(col("bn") >= 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // SMALL buckets (2 ≤ bn ≤ SaltRows — every bucket of a corpus
      // without pathological boilerplate) emit their C(bn, 2) pairs
      // IN-STAGE: the collect_list is bounded by the bn ≤ SaltRows
      // filter (≤ 256 ids — no unbounded agg buffer), its clustering
      // is satisfied by the window's partitioning (no exchange), and
      // sort_array makes the slice-emission canonical (doc_a < doc_b)
      // regardless of agg input order. This keeps the common case at
      // ONE corpus-sized exchange total — the r14 self-join shape
      // paid two more pinned exchanges and a join barrier for pairs
      // that were computable where the rows already sat.
      val small = bandsW.filter(col("bn") <= Similarity.SaltRows)
        .groupBy(col("band"), col("sig"))
        .agg(sort_array(collect_list(col("doc_id"))).as("m"))
      val smallPairs = small
        .select(col("m"), posexplode(col("m")))
        .select(col("col").as("doc_a"),
          explode(slice(col("m"), col("pos") + lit(2), size(col("m")))).as("doc_b"))
        // duplicate doc_id rows in the input (unenforced contract)
        // sort adjacent and would slice out as (a, a) self-pairs —
        // the big-bucket branch's strict `<` already drops them;
        // match it here (cheap, no-op on well-formed input)
        .filter(col("doc_a") =!= col("doc_b"))
      // BIG buckets (bn > SaltRows) take the salted self-join: probe
      // rows hash into sn = ceil(bn/SaltRows) sub-buckets, index rows
      // replicate into each — pair set identical, emission spread
      // over sn tasks (the r14 Zipf probe measured a 4000-member
      // bucket emitting its 8M pairs from ONE task without this).
      // On a corpus with no such bucket this branch is EMPTY and
      // AQE's empty-relation propagation erases its stages at
      // runtime; when it fires, its exchanges are PINNED because
      // their output is quadratic while their input is KBs (AQE
      // byte-based coalescing would merge the salt bins straight
      // back — measured on the jaccard candidate stage: collapsed to
      // 4 tasks before pinning).
      val big = bandsW.filter(col("bn") > Similarity.SaltRows)
        .withColumn("sn",
          ceil(col("bn").cast("double") / Similarity.SaltRows).cast("int"))
      val bigPairs =
        big.select(col("band"), col("sig"),
            pmod(col("doc_id"), col("sn")).cast("int").as("salt"),
            col("doc_id").as("doc_a"))
          .repartition(numP, col("band"), col("sig"), col("salt"))
          .join(big.select(col("band"), col("sig"),
              explode(sequence(lit(0), col("sn") - 1)).as("salt"),
              col("doc_id").as("doc_b"))
            .repartition(numP, col("band"), col("sig"), col("salt"))
            .hint("shuffle_hash"),
            Seq("band", "sig", "salt"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
      // Dedup band-collision multiplicity (a pair can collide in up
      // to all 8 bands) behind an EXPLICIT doc_a exchange: hash
      // partitioning on a subset of the distinct keys still clusters
      // equal pairs together, so the aggregate runs exchange-free on
      // it — and the downstream verify join on doc_a reads the SAME
      // partitioning, saving the ENSURE_REQUIREMENTS exchange the
      // (doc_a, doc_b)-keyed distinct would otherwise force. Pairs
      // per doc_a are bounded by bands × bucket size — linear, not a
      // skew hazard.
      smallPairs.unionAll(bigPairs)
        .repartition(numP, col("doc_a"))
        .distinct()
  }

  /** One representative per DISTINCT text (md5 groups, min doc_id),
    * with the member list and the ≥ 2-words banding gate — the
    * exact-then-near composition's first stage, shared by
    * [[minhashPairs]] and [[editPairs]]. Identical texts have
    * identical signatures and identical similarity to everything, so
    * running the LSH + verify machinery on representatives and
    * expanding back to members is OUTPUT-IDENTICAL to running on the
    * raw corpus — while a copy-heavy corpus (the normal case; every
    * copy pair band-collides) pays candidate/verify cost once per
    * distinct text instead of once per copy pair (ScaleSmoke:
    * 12× on the 10×-copies corpus).
    */
  private def textGroups(docs: DataFrame): DataFrame =
    // spread BEFORE the group-by: the explicit count (REPARTITION_BY_
    // NUM) both satisfies the aggregate's clustering (no second
    // exchange) and PINS the persisted groups relation at full
    // parallelism — an ENSURE_REQUIREMENTS exchange here is
    // AQE-coalescible by SIZE, and groups feed the CPU-bound
    // shingle/minhash maps of every rep-branch consumer (byte-based
    // coalescing is exactly wrong for them; the r8 cold-instability
    // family all shared this shape)
    spread(docs.select(col("doc_id"), col("text")), md5(col("text")))
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("rep"),
        collect_list(col("doc_id")).as("members"),
        first(col("text")).as("text"),
        size(split(trim(first(col("text"))), "\\s+")).as("n_words"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Intra-group member pairs with constant `payload` columns
    * appended (distance 0 / similarity 1 — identical texts).
    * `minWords` gates on the group's word count (≥ 2 for the
    * bigram-shingle family, ≥ shingleK for the prefix joins — a
    * group below it has an EMPTY shingle set and must never pair,
    * matching the oracles' greatest(...,1) denominators); `ordered`
    * emits ordered pairs both ways (containment) instead of
    * doc_a < doc_b (symmetric similarity).
    */
  private def intraGroupPairs(groups: DataFrame,
                              payload: Seq[org.apache.spark.sql.Column],
                              minWords: Int = 2,
                              ordered: Boolean = false): DataFrame =
    groups.filter(col("n_words") >= minWords && size(col("members")) > 1)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a").as("doc_a"), explode(col("members")).as("doc_b"))
      .filter(if (ordered) col("doc_a") =!= col("doc_b")
              else col("doc_a") < col("doc_b"))
      .select(col("doc_a") +: col("doc_b") +: payload: _*)

  /** Expand verified representative pairs to every member pair,
    * carrying `payload` columns through (the similarity of a member
    * pair IS its representatives' — identical texts). Joins are
    * shuffle-hash on the rep key; nothing corpus-sized broadcasts.
    */
  private def expandRepPairs(repPairs: DataFrame, groups: DataFrame,
                             payload: Seq[String],
                             canonicalize: Boolean = true): DataFrame = {
    val pay = payload.map(col)
    val expanded = repPairs
      .join(groups.select(col("rep").as("doc_a"), col("members").as("ma"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(groups.select(col("rep").as("doc_b"), col("members").as("mb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(pay :+ explode(col("ma")).as("a") :+ col("mb"): _*)
      .select(pay :+ col("a") :+ explode(col("mb")).as("b"): _*)
    // symmetric joins canonicalize a < b; ordered joins (containment)
    // keep the (A, B) roles as scored
    if (canonicalize)
      expanded.select(least(col("a"), col("b")).as("doc_a") +:
        greatest(col("a"), col("b")).as("doc_b") +: pay: _*)
    else
      expanded.select(col("a").as("doc_a") +: col("b").as("doc_b") +: pay: _*)
  }

  /** The full shingle→minhash→band→bucket-join→verify pipeline,
    * exposed for reuse/tests. `docs` needs (doc_id, text).
    *
    * DUP-RATE GATED composition (both branches exact, so the gate can
    * never change output): on an essentially duplicate-free corpus
    * (see [[RepGateDupShare]]) the pipeline runs DIRECTLY on the docs
    * — the rep indirection's textGroups shuffle and member-expansion
    * joins would be pure overhead. Above the gate it runs on one
    * representative per distinct text and expands back to members
    * (see [[textGroups]] — output-identical, and copy-heavy corpora
    * pay candidate/verify cost once per distinct text instead of
    * once per copy pair; ScaleSmoke: 4–23×). `spreadInput` only
    * affects the direct branch; the rep branch ALWAYS spreads on
    * doc_id (r16 ADVICE): the groups relation sits on md5(text)
    * partitioning, which does NOT satisfy the fused verify joins'
    * doc_a/doc_b clustering — without the spread,
    * EnsureRequirements adds exchanges on the verify sides whose
    * map stages are extra leaf stages racing the banding stage on a
    * cold `enriched` cache, re-paying the shingle CPU the single-
    * leaf-stage no-race argument exists to avoid.
    */
  def minhashPairs(docs: DataFrame, spreadInput: Boolean = true): DataFrame =
    if (essentiallyDupFree(docs)) {
      minhashPairsFused(docs, spreadInput)
    } else {
      val groups = textGroups(docs)
      val reps = groups.select(col("rep").as("doc_id"), col("text"))
      val repPairs = minhashPairsFused(reps, spreadInput = true)
      intraGroupPairs(groups, Seq(lit(1.0).as("jaccard")))
        .unionAll(expandRepPairs(repPairs, groups, Seq("jaccard")))
    }

  /** The LSH-candidates + exact-Jaccard-verify pipeline on `docs`
    * directly (no rep indirection) — shared by both [[minhashPairs]]
    * branches.
    *
    * Exchange topology (r15; replaces the r14 persisted-shingle
    * shape): ALL per-doc CPU — regex tokenize, bigram assembly,
    * xxhash64 + sort of the verify arrays, the 16-permutation minhash
    * signature — is computed in ONE projection BELOW one pinned
    * doc_id exchange, and every downstream consumer (the banding
    * stage and both verify join sides) reads THAT exchange. The r14
    * shape persisted the shingle relation instead, which only works
    * when something fills the cache sequentially before the
    * consumers race: its salt-probe action happened to do that, and
    * once the probe was removed, three concurrent stages each
    * recomputed the CPU-heavy shingle map against a cold cache
    * (measured +0.8 s at sf0.1). Shuffle files are a materialization
    * every reader shares without a race, and ReuseExchange makes the
    * three consumers read one physical exchange. The verify sides are
    * alias-projections of the exchange output, already partitioned on
    * their join key, so each verify shuffle_hash join exchanges ONLY
    * the candidate side (pairs ≪ corpus).
    *
    * Verify math is unchanged from r14: |A∪B| = |A|+|B|−|A∩B|, one
    * codegen two-pointer merge-intersect per pair over the
    * value-sorted xxhash64 ids ([[graft.functions.SortedIntersectCount]],
    * O(|A|+|B|), allocation-free — array_intersect was ~50 µs/pair
    * and ~90 % of the op's CPU at the r14 Zipf boilerplate cluster).
    * Exactness guard: a memoized O(corpus) probe proves xxhash64 is
    * injective on THIS corpus' shingles; a collision falls back to
    * the string arrays (same contract as the prefix join's gate).
    * The corpus-side relations are never broadcast — at 100 TB the
    * shingle relation is corpus-sized; candidates are what's small.
    *
    * The ≥ 2 words filter up front (⟺ ≥ 1 bigram shingle) drops docs
    * that cannot band — they could never appear in a candidate pair,
    * so pre-filtering the verify side too is output-identical and
    * keeps sub-2-word docs out of the exchange payload.
    */
  private def minhashPairsFused(docs: DataFrame,
                                spreadInput: Boolean): DataFrame = {
    graft.functions.MinHash60.register(docs.sparkSession)
    graft.functions.SortedIntersectCount.register(docs.sparkSession)
    graft.functions.ShingleKernel.register(docs.sparkSession)
    // token_count ≡ size(split(trim(text), "\\s+")) (ShingleKernelSpec)
    // — same row set, no regex/array inside the Filter
    val filtered = docs.filter(
      graft.functions.ShingleKernel.token_count(col("text")) >= 2)
    val spreadDocs =
      if (spreadInput) spread(filtered, col("doc_id")) else filtered
    // `sets` backs the (disk-memoized) injectivity probe and the
    // non-injective fallback branch; on the normal path it never
    // executes after the verdict is on disk
    val sets = shingleSets(spreadDocs)
    val useHash = DerivedStore.verdict(sets, "xxinj_bigram") {
      sets.select(explode(col("toks")).as("w"))
        .agg((count_distinct(col("w")) ===
          count_distinct(xxhash64(col("w")))).as("ok"))
        .head().getBoolean(0)
    }
    val interOf: (Column, Column) => Column =
      if (useHash)
        (a, b) => graft.functions.SortedIntersectCount.sorted_intersect_count(a, b)
      else (a, b) => size(array_intersect(a, b))
    val numP = Parallelism.pinCount(docs)
    // THE shared materialization: all per-doc CPU lands in one
    // PERSISTED projection sitting on the spread's doc_id
    // partitioning. Why a persist and not exchange-sharing: column
    // pruning specializes each consumer's scan (banding keeps mh,
    // verify keeps vtoks+n), so the consumers' subtrees stop being
    // canonically equal and ReuseExchange cannot fire — measured this
    // round as N independent scan+tokenize+signature pipelines. Why
    // the persist doesn't race (the r14 hazard that made its probe
    // action load-bearing): the banding exchange inside
    // [[bandCandidatesFromSigs]] is the query's ONLY leaf stage — the
    // verify joins' corpus side is this cache read DIRECTLY (its
    // reported doc_id partitioning satisfies the join, see
    // canChangeCachedPlanOutputPartitioning in GraftSession), inside
    // a join stage that cannot start before the candidate side is
    // shuffled. So the fill happens exactly once, sequentially,
    // lazily — no action at construction time. This argument REQUIRES
    // the cache to sit on doc_id partitioning, which is why every
    // caller spreads on doc_id (the rep branch included, r16 ADVICE:
    // on the groups relation's md5(text) partitioning the verify
    // sides would grow EnsureRequirements exchanges — extra leaf
    // stages racing the banding stage on a cold cache).
    // On the (normal) injective path ALL per-doc CPU is ONE fused
    // byte-level pass (r17, ShingleSigExpr): tokenize → bigrams →
    // xx-distinct (→ vtoks sorted, n) → 16-perm minhash — replacing
    // regex split + slice/zip_with/concat + array_distinct +
    // xxhash64-transform + array_sort + per-perm UTF8String concat.
    // Measured ~2× on the per-doc map at sf0.1; output bit-identical:
    // mh is distinct-insensitive, and (vtoks, n) equal the string-
    // distinct chain exactly under the injectivity verdict just
    // proven above (xx-equality ⟺ string-equality on this corpus).
    // The struct lands as ONE column so the single projection
    // evaluates the kernel once; consumers read its fields.
    val enriched = (if (useHash) {
        val sig = graft.functions.ShingleKernel
          .shingle_sig(col("text"), NumPerms)
        spreadDocs.select(col("doc_id"), sig.as("s"))
          .select(col("doc_id"), col("s.vtoks").as("vtoks"),
            col("s.n").as("n"), col("s.mh").as("mh"))
      } else {
        sets.select(col("doc_id"), col("toks").as("vtoks"),
          size(col("toks")).as("n"),
          graft.functions.MinHash60.minhash60(col("toks"), NumPerms).as("mh"))
      })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands =
      bandCandidatesFromSigs(enriched.select(col("doc_id"), col("mh")), numP)
    cands
      .join(enriched.select(col("doc_id").as("doc_a"),
        col("vtoks").as("toks_a"), col("n").as("na"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(enriched.select(col("doc_id").as("doc_b"),
        col("vtoks").as("toks_b"), col("n").as("nb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("inter", interOf(col("toks_a"), col("toks_b")))
      .withColumn("jac", col("inter").cast("double") /
        greatest(col("na") + col("nb") - col("inter"), lit(1)).cast("double"))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** Relative edit-distance threshold for [[editPairs]]: a pair is a
    * near-duplicate when levenshtein ≤ 25% of the longer text. 0.25
    * is exactly representable in binary, and distance/length are
    * exact ints, so the threshold compare is bit-stable across
    * engines.
    */
  private[operators] val EditRelThreshold = 0.25

  /** Edit-distance near-dup pairs: banded-MinHash candidates (the
    * same deterministic LSH stage as [[minhashPairs]], reproduced
    * bit-exactly by the oracle) verified with an EXACT Levenshtein
    * distance at ≤ [[EditRelThreshold]] of the longer text. The
    * character-level complement of the shingle-set Jaccard verify:
    * token-reordering dups score high on Jaccard but far on edit
    * distance; small in-word typo dups score low on token Jaccard
    * but near on edit distance.
    *
    * Scale shape — exact-then-near composition: the whole LSH +
    * verify machinery runs on one REPRESENTATIVE per distinct text
    * (md5 groups, min doc_id), and results expand back to members at
    * the end. Identical texts have identical signatures and
    * identical distances to everything, so the expansion is
    * OUTPUT-IDENTICAL to running on the raw corpus — but a corpus
    * with heavy exact duplication (the normal case: every copy pair
    * band-collides) pays candidate/verify cost once per distinct
    * text instead of once per copy pair. Intra-group pairs are
    * emitted directly with distance 0 (gated on the same ≥ 2 words
    * the banding needs — a 1-word doc never bands, so its copies
    * never pair). The per-pair-banded DP (O(threshold·len), not
    * O(len²)) then runs only on distinct-text candidate pairs behind
    * the length pigeonhole; verify joins shuffle-hash on doc_id and
    * the corpus text relation is never broadcast.
    */
  def editPairs(docs: DataFrame): DataFrame =
    if (essentiallyDupFree(docs)) {
      // direct branch of the same dup-rate gate as [[minhashPairs]]:
      // identical texts (≤ the gate share) still band-collide, pass
      // the length pigeonhole and verify at distance 0 — exact either
      // way, so the gate only picks the cheaper plan
      editVerify(minhashBandCandidates(docs), docs)
    } else {
      val groups = textGroups(docs)
      val reps = groups.select(col("rep").as("doc_id"), col("text"))
      val repPairs =
        editVerify(minhashBandCandidates(reps, spreadInput = false), reps)
      intraGroupPairs(groups, Seq(lit(0).as("dist"), lit(0.0).as("rel_dist")))
        .unionAll(expandRepPairs(repPairs, groups, Seq("dist", "rel_dist")))
    }

  /** Banded-Levenshtein verification of LSH candidate pairs against
    * `docs` (doc_id, text) — shared by both [[editPairs]] branches.
    * Length pigeonhole first (|len_a−len_b| alone can exceed the
    * threshold), then the per-pair DP via [[graft.functions.EditDistanceLe]]
    * — the exact same contract as Spark's 3-arg levenshtein (distance
    * when ≤ threshold, −1 above; EditDistanceSpec fuzzes parity
    * against `UTF8String.levenshteinDistance(_, k)` directly) with
    * common-affix stripping and a blocked bit-parallel DP in place of
    * the reference's per-cell UTF-8 re-decode — r18 measured the old
    * verify stage at 29 executor-CPU-s at sf0.1, ~90 % of the query.
    *
    * The explicit doc_b repartition pins the verify stage's width:
    * its input is candidate pairs + attached texts — a few MB that
    * AQE byte-coalesces to half the cores (measured 16 tasks at
    * local[32]) while per-row cost is a CPU-heavy DP, the same
    * bytes-vs-CPU mismatch every other pinned exchange in this file
    * exists for. Scale-adaptive via [[Parallelism.pinCount]] on the
    * corpus relation, like the rest.
    */
  private def editVerify(cands: DataFrame, docs: DataFrame): DataFrame = {
    graft.functions.EditDistanceLe.register(docs.sparkSession)
    val t = lit(EditRelThreshold)
    val maxLen = greatest(col("len_a"), col("len_b")).cast("double")
    val txt = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    cands
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("text_a"),
        col("len").as("len_a")).hint("shuffle_hash"), Seq("doc_a"))
      .repartition(Parallelism.pinCount(docs), col("doc_b"))
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("text_b"),
        col("len").as("len_b")).hint("shuffle_hash"), Seq("doc_b"))
      .filter(abs(col("len_a") - col("len_b")).cast("double") <= t * maxLen)
      .withColumn("dist", graft.functions.EditDistanceLe.edit_dist_le(
        col("text_a"), col("text_b"),
        floor(t * greatest(col("len_a"), col("len_b"))).cast("int")))
      .filter(col("dist") >= 0 && col("dist").cast("double") <= t * maxLen)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"),
        round(col("dist").cast("double") / maxLen, 4).as("rel_dist"))
  }

  def oracles: Map[String, String] = Map(
    "dedup_embedding_pairs" ->
      """WITH pairs AS (
        |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, vec_a, vec_b, round(cosine, 4) AS cosine
        |FROM pairs WHERE cosine >= 0.4""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS h,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  cast(count(*) OVER (PARTITION BY md5(text)) AS bigint) AS dup_count,
        |  doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
        |FROM documents""".stripMargin,
    "dup_span_coverage" ->
      """WITH b2 AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i,
        |    ('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 15))::bigint AS h
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
        |        FROM b2 WHERE n_tokens >= 8)),
        |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
        |cov AS (
        |  SELECT doc_id,
        |    cast(sum(CASE WHEN prev IS NULL THEN 8
        |             ELSE least(8, i - prev) END) AS bigint) AS n_covered,
        |    cast(count(*) AS bigint) AS n_dup_grams
        |  FROM (SELECT g.doc_id, g.i,
        |          lag(g.i) OVER (PARTITION BY g.doc_id ORDER BY g.i) AS prev
        |        FROM grams g JOIN dup USING (h))
        |  GROUP BY doc_id)
        |SELECT b.doc_id, cast(b.n_tokens AS bigint) AS n_tokens,
        |  coalesce(c.n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(c.n_covered, 0) AS n_covered,
        |  CASE WHEN b.n_tokens = 0 THEN 0
        |       ELSE (1000000 * coalesce(c.n_covered, 0)) // b.n_tokens
        |  END AS coverage_e6
        |FROM b2 b LEFT JOIN cov c USING (doc_id)""".stripMargin,
    "dup_curve_by_order" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |pos AS (
        |  SELECT ws, unnest(range(1, len(ws) + 1)) AS i FROM t),
        |ng AS (
        |  SELECT o.n,
        |    ('0x' || substr(md5(array_to_string(ws[i:i+o.n-1], ' ')), 1, 15))::bigint AS h
        |  FROM pos, (VALUES (1), (2), (4), (8)) AS o(n)
        |  WHERE i + o.n - 1 <= len(ws))
        |SELECT n, cast(count(*) AS bigint) AS total_ngrams,
        |  cast(count(DISTINCT h) AS bigint) AS distinct_ngrams,
        |  1.0::DOUBLE - count(DISTINCT h)::DOUBLE / count(*)::DOUBLE AS dup_rate
        |FROM ng GROUP BY n""".stripMargin,
    "dedup_jaccard_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.toks, b.toks))::DOUBLE
        |        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))::DOUBLE, 4) AS jaccard
        |FROM t a JOIN t b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
        |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))::DOUBLE >= 0.5""".stripMargin,
    // brute-force all-pairs at the same threshold — the prefix filter
    // is exact, so the outputs must be identical (trigram shingles,
    // see PrefixJoinShingleK)
    "jaccard_prefix_join" ->
      s"""WITH shingled AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1),
         |      i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' ||
         |           regexp_split_to_array(trim(text), '\\s+')[i + 1] || ' ' ||
         |           regexp_split_to_array(trim(text), '\\s+')[i + 2])) AS toks
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.toks, b.toks))::DOUBLE
         |        / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1)::DOUBLE, 4) AS jaccard
         |FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
         |      / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1)::DOUBLE >= $JaccardThreshold""".stripMargin,
    // ordered quadratic all-pairs containment — the prefix-filtered
    // plan must be bit-identical (trigram shingles, C = |A∩B|/|A|)
    "dedup_containment" ->
      s"""WITH shingled AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1),
         |      i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' ||
         |           regexp_split_to_array(trim(text), '\\s+')[i + 1] || ' ' ||
         |           regexp_split_to_array(trim(text), '\\s+')[i + 2])) AS toks
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.toks, b.toks))::DOUBLE
         |        / greatest(len(a.toks), 1)::DOUBLE, 4) AS containment
         |FROM shingled a JOIN shingled b ON a.doc_id != b.doc_id
         |WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
         |      / greatest(len(a.toks), 1)::DOUBLE >= $ContainmentThreshold""".stripMargin,
    "dedup_minhash_lsh" -> minhashOracleSql("documents"),
    // the pair relation joined to sources twice; the mean rides the
    // exact scaled-int jaccards so engines agree bit-for-bit
    "source_overlap_matrix" ->
      s"""WITH ${minhashOracleCtes("documents")},
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  cast(count(*) AS bigint) AS n_pairs,
         |  round(sum(cast(round(jaccard * 10000, 0) AS bigint))::DOUBLE
         |        / (10000.0::DOUBLE * count(*)::DOUBLE), 4) AS avg_jaccard
         |FROM mh_pairs p
         |JOIN src a ON p.doc_a = a.doc_id
         |JOIN src b ON p.doc_b = b.doc_id
         |GROUP BY 1, 2""".stripMargin,
    // same deterministic banded candidates (the shared CTE chain),
    // then the exact Levenshtein verify — DuckDB's levenshtein and
    // Spark's agree (both count single-character edits; the corpus
    // is ASCII so code-point vs byte semantics can't diverge)
    "dedup_edit_pairs" ->
      s"""WITH ${minhashOracleCtes("documents")},
         |txt AS (SELECT doc_id, text, length(text) AS len FROM documents)
         |SELECT c.doc_a, c.doc_b,
         |  cast(levenshtein(a.text, b.text) AS int) AS dist,
         |  round(levenshtein(a.text, b.text)::DOUBLE
         |        / greatest(a.len, b.len)::DOUBLE, 4) AS rel_dist
         |FROM cands c
         |JOIN txt a ON a.doc_id = c.doc_a
         |JOIN txt b ON b.doc_id = c.doc_b
         |WHERE levenshtein(a.text, b.text)::DOUBLE
         |      <= $EditRelThreshold * greatest(a.len, b.len)::DOUBLE""".stripMargin,
    // true connected components via recursive label reachability —
    // UNION (not UNION ALL) dedups rows so the recursion terminates
    // on the cyclic undirected graph
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashOracleCtes("documents")},
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM mh_pairs),
         |reach(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT u.b, r.lbl FROM undirected u JOIN reach r ON r.doc = u.a)
         |SELECT doc AS doc_id, min(lbl) AS cluster_id
         |FROM reach GROUP BY doc""".stripMargin,
    // same component CTE, then per-cluster argmax (words desc, id asc)
    "dedup_cluster_canonical" ->
      s"""WITH RECURSIVE ${minhashOracleCtes("documents")},
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM mh_pairs),
         |reach(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT u.b, r.lbl FROM undirected u JOIN reach r ON r.doc = u.a),
         |clusters AS (
         |  SELECT doc AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY doc),
         |nw AS (
         |  SELECT doc_id,
         |    cast(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
         |      AS bigint) AS n_words
         |  FROM documents),
         |ranked AS (
         |  SELECT c.cluster_id, c.doc_id, nw.n_words,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY nw.n_words DESC, c.doc_id ASC) AS rk
         |  FROM clusters c JOIN nw USING (doc_id)),
         |sizes AS (
         |  SELECT cluster_id, cast(count(*) AS bigint) AS n_members
         |  FROM clusters GROUP BY cluster_id)
         |SELECT s.cluster_id, s.n_members,
         |  r.doc_id AS canonical_doc, r.n_words AS canonical_words
         |FROM sizes s
         |JOIN ranked r ON s.cluster_id = r.cluster_id AND r.rk = 1
         |WHERE s.n_members > 1""".stripMargin,
    // same component CTE, then the size histogram
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${minhashOracleCtes("documents")},
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM mh_pairs),
         |reach(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT u.b, r.lbl FROM undirected u JOIN reach r ON r.doc = u.a),
         |clusters AS (
         |  SELECT doc AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY doc),
         |sizes AS (
         |  SELECT cluster_id, cast(count(*) AS bigint) AS sz
         |  FROM clusters GROUP BY cluster_id)
         |SELECT sz AS cluster_size, cast(count(*) AS bigint) AS n_clusters,
         |  cast(sum(sz) AS bigint) AS n_docs
         |FROM sizes GROUP BY sz""".stripMargin,
    // same component CTE as dedup_clusters, then the 80/10/10 md5
    // gate on the CLUSTER id (leakage-safe split)
    "cluster_safe_split" ->
      s"""WITH RECURSIVE ${minhashOracleCtes("documents")},
         |undirected AS (
         |  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM mh_pairs),
         |reach(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT u.b, r.lbl FROM undirected u JOIN reach r ON r.doc = u.a),
         |clusters AS (
         |  SELECT doc AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY doc),
         |b AS (
         |  SELECT d.lang, d.n_chars,
         |    ('0x' || substr(md5(c.cluster_id::varchar), 1, 15))::bigint % 100 AS bucket
         |  FROM documents d JOIN clusters c USING (doc_id))
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  lang, cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n_chars) AS bigint) AS n_chars
         |FROM b GROUP BY 1, 2""".stripMargin,
    "simhash" ->
      s"""WITH $simhashOracleCtes
         |SELECT doc_id, simhash FROM fp""".stripMargin,
    "simhash_pairs" ->
      s"""WITH $simhashOracleCtes,
         |bands AS (
         |  SELECT doc_id, b, (simhash >> (15 * b)) & 32767 AS band_val
         |  FROM fp, range(0, 4) r(b)),
         |cands AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.b = y.b AND x.band_val = y.band_val AND x.doc_id < y.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  cast(bit_count(xor(fa.simhash, fb.simhash)) AS int) AS hamming
         |FROM cands c
         |JOIN fp fa ON fa.doc_id = c.doc_a
         |JOIN fp fb ON fb.doc_id = c.doc_b
         |WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3""".stripMargin
  )

  /** CTE block computing `fp(doc_id, simhash)` over bigram shingles
    * of `documents` — shared by the simhash and simhash_pairs oracles.
    */
  private val simhashOracleCtes: String =
    """shingled AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(regexp_split_to_array(trim(text), '\s+'))),
      |    i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |         regexp_split_to_array(trim(text), '\s+')[i + 1]))) AS w
      |  FROM documents),
      |votes AS (
      |  SELECT doc_id, bit,
      |    cast(sum(CASE WHEN ((('0x' || substr(md5(w), 1, 15))::bigint >> bit) & 1) = 1
      |             THEN 1 ELSE -1 END) AS bigint) AS votes
      |  FROM shingled, range(0, 60) r(bit)
      |  GROUP BY doc_id, bit),
      |fp AS (
      |  SELECT doc_id,
      |    cast(sum(CASE WHEN votes > 0 THEN (1::bigint << bit) ELSE 0 END) AS bigint) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  /** The minhash-LSH oracle CTE chain over an arbitrary source
    * relation (doc_id, text) — reused by the corpus-curation oracle.
    */
  private[operators] def minhashOracleSql(src: String): String =
    s"""WITH ${minhashOracleCtes(src)}
       |SELECT doc_a, doc_b, jaccard FROM mh_pairs""".stripMargin

  /** CTE block (no WITH keyword) computing `mh_pairs(doc_a, doc_b,
    * jaccard)` from relation `src`.
    */
  private[graft] def minhashOracleCtes(src: String): String =
    s"""shingled AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+'))),
       |      i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' ||
       |           regexp_split_to_array(trim(text), '\\s+')[i + 1])) AS toks
       |  FROM $src),
       |toks AS (SELECT doc_id, unnest(toks) AS w FROM shingled),
       |minhashes AS (
       |  SELECT doc_id, i,
       |         min(('0x' || substr(md5(i::varchar || ':' || w), 1, 15))::bigint) AS mh
       |  FROM toks, range(0, $NumPerms) r(i)
       |  GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, (i // $BandRows)::int AS band,
       |         string_agg(mh::varchar, ',' ORDER BY i) AS sig
       |  FROM minhashes GROUP BY doc_id, i // $BandRows),
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |mh_pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    round(len(list_intersect(a.toks, b.toks))::DOUBLE
       |          / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1)::DOUBLE, 4) AS jaccard
       |  FROM cands c
       |  JOIN shingled a ON a.doc_id = c.doc_a
       |  JOIN shingled b ON b.doc_id = c.doc_b
       |  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
       |        / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1)::DOUBLE >= $JaccardThreshold)""".stripMargin
}
