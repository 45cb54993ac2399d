package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Tables

/** Text-analysis operators over the `documents` table — the
  * text-side half of a training-data pipeline: token counting,
  * quality scoring, language-ID heuristic, and document
  * fingerprinting. Every operator is a narrow per-row map (+ one
  * map-side-combined groupBy for the fingerprint), so all of them
  * scale linearly with no full shuffle — at 100 TB they are pure
  * scan-transform-write passes.
  *
  * Each query has an exactly-mirrored DuckDB oracle; all arithmetic
  * is integer or single-rounded double so results are bit-identical.
  */
object TextAnalysis {

  /** Occurrences of literal `needle` in `' '||text||' '` via the
    * length-difference trick — identical semantics in both engines.
    */
  private[operators] def hits(needle: String): Column =
    ((length(concat(lit(" "), col("text"), lit(" "))) -
      length(expr(s"replace(concat(' ', text, ' '), '$needle', '')"))) /
      lit(needle.length)).cast("long")

  private[operators] def sqlHits(needle: String): String =
    s"(length(' '||text||' ') - length(replace(' '||text||' ', '$needle', ''))) // ${needle.length}"

  /** Per-doc marker-n-gram language scores + deterministic argmax —
    * the shared body of `lang_id` (per-doc view) and `lang_confusion`
    * (corpus matrix).
    */
  private def langPredictions(docs: DataFrame): DataFrame = {
    val sEn = hits(" the ") + hits(" a ")
    val sDe = hits(" der ") + hits(" und ")
    val sEs = hits(" el ") + hits(" y ")
    val sFr = hits(" le ") + hits(" et ")
    docs
      .select(col("doc_id"), col("lang"), sEn.as("s_en"), sDe.as("s_de"),
              sEs.as("s_es"), sFr.as("s_fr"))
      .withColumn("predicted_lang",
        when(col("s_en") >= greatest(col("s_de"), col("s_es"), col("s_fr")), "en")
          .when(col("s_de") >= greatest(col("s_es"), col("s_fr")), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
  }

  /** Whitespace token count, 0 for blank text. */
  private[operators] val nWords: Column =
    when(length(trim(col("text"))) === 0, 0)
      .otherwise(size(split(trim(col("text")), "\\s+"))).cast("long")
  private[operators] val sqlNWords: String =
    "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"

  // BPE-ish pre-tokenizer: letter runs, digit runs, punctuation runs.
  private val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  /** Exact duplicated-substring removal (see the
    * `dedup_substring_rewrite` entry below for the full rationale):
    * drops every token position covered by an `L`-gram occurring
    * more than once in the corpus, reassembling survivors in order.
    * Output: (doc_id, clean_text, n_tokens, n_kept).
    */
  def substringRewrite(in: DataFrame, L: Int = 8): DataFrame = {
    val docs = in.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
    val tok = docs.select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("w"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    // gram starting at i exists iff position i+L-1 does; concat_ws
    // would silently shorten tail grams, so gate on the last lead
    val withG = tok.withColumn("g",
      when(lead(col("w"), L - 1).over(win).isNotNull,
        concat_ws(" ", (0 until L).map(k => lead(col("w"), k).over(win)): _*)))
    val starts = withG.filter(col("g").isNotNull)
    val dupG = starts.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("g"))
    val covered = starts.join(dupG.hint("shuffle_hash"), Seq("g"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (L - 1))).as("i"))
    val kept = tok.join(covered, Seq("doc_id", "i"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("i"), col("w")))),
        x => x.getField("w")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token counting: whitespace + BPE-ish regex tokenization
    "text_tokens" -> ((s, dir) => {
      Tables(s, dir).documents.select(
        col("doc_id"),
        nWords.as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"))
    }),

    // quality scoring: word stats, stopword ratio, quality bucket
    "text_quality" -> ((s, dir) => {
      val stop = hits(" the ") + hits(" a ") + hits(" of ") + hits(" and ")
      Tables(s, dir).documents
        .select(
          col("doc_id"), nWords.as("n_words"), stop.as("stop_hits"),
          length(expr("replace(text, ' ', '')")).cast("long").as("n_letter_chars"))
        .select(
          col("doc_id"), col("n_words"), col("stop_hits"),
          round(col("n_letter_chars").cast("double") /
            greatest(col("n_words"), lit(1L)), 4).as("avg_word_len"),
          round(col("stop_hits").cast("double") /
            greatest(col("n_words"), lit(1L)), 4).as("stop_ratio"),
          when(col("n_words") >= 20 && col("stop_hits") > 0, "good")
            .when(col("n_words") >= 5, "short").otherwise("junk")
            .as("quality_bucket"))
    }),

    // per-source quality league table — the artifact source
    // dropping/reweighting decisions actually read: per source, doc
    // count, share reaching the "good" quality bucket, and the
    // corpus-level stopword ratio (sum of exact int hits over sum of
    // exact int words — NOT a mean of per-doc doubles, so shuffle
    // order can never move a bit). One map-side-combined aggregate.
    "source_quality_report" -> ((s, dir) => {
      val stop = hits(" the ") + hits(" a ") + hits(" of ") + hits(" and ")
      Tables(s, dir).documents
        .select(col("source"), nWords.as("n_words"), stop.as("stop_hits"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_words") >= 20 && col("stop_hits") > 0, 1L)
            .otherwise(0L)).as("n_good"),
          sum(col("n_words")).as("n_words_total"),
          sum(col("stop_hits")).as("stop_hits_total"))
        .select(col("source"), col("n_docs"),
          round(col("n_good").cast("double") / col("n_docs").cast("double"), 4)
            .as("good_share"),
          round(col("stop_hits_total").cast("double") /
            greatest(col("n_words_total"), lit(1L)).cast("double"), 4)
            .as("stop_ratio"),
          round(col("n_words_total").cast("double") /
            col("n_docs").cast("double"), 4).as("mean_words"))
    }),

    // language-ID: marker-n-gram scores with deterministic argmax
    "lang_id" -> ((s, dir) => langPredictions(Tables(s, dir).documents)),

    // Language confusion matrix: declared `lang` vs the n-gram
    // heuristic's prediction — the corpus-level QA view of lang_id
    // (which sources/langs the cheap detector confuses, and how much
    // weight rides on each cell before detector output feeds the
    // lang-temperature mixture weights). One map-side-combined
    // aggregate over the per-doc predictions.
    "lang_confusion" -> ((s, dir) =>
      langPredictions(Tables(s, dir).documents)
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"))),

    // Unigram-LM negative log-likelihood per doc — the cheap
    // perplexity proxy for LM-based quality filtering: documents with
    // high avg NLL under the corpus's own unigram distribution are
    // gibberish/rare-token soup; low NLL is boilerplate. One token
    // count (map-side combined), one token-keyed join, one per-doc
    // aggregate; the corpus total joins in as a 1-row broadcast.
    // round(4) absorbs last-ulp ln()/summation differences between
    // engines (same convention as tfidf_top_terms).
    "unigram_logprob" -> ((s, dir) => {
      val toks = Tables(s, dir).documents
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      val tf = toks.groupBy(col("w")).agg(count(lit(1)).as("tf"))
      val total = tf.agg(sum(col("tf")).as("n_total"))
      toks.join(tf.hint("shuffle_hash"), Seq("w"))
        .crossJoin(broadcast(total))
        .withColumn("nll",
          -log(col("tf").cast("double") / col("n_total").cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          round(avg(col("nll")), 4).as("avg_nll"))
    }),

    // Bigram-LM document scoring with add-k smoothing (k = 0.5):
    // avg −ln P(w|v), P(w|v) = (c(v,w)+k) / (c(v)+k·V) — the
    // conditional upgrade of unigram_logprob (a doc of common words
    // in IMPROBABLE order now scores high; the unigram model can't
    // see order at all). Two map-side-combined count aggregates, two
    // keyed shuffle joins (the bigram count table is vocab²-sized at
    // worst — never broadcast), scalar V rides in as a 1-row
    // broadcast. Docs need ≥ 2 words to own a bigram. round(4)
    // absorbs last-ulp ln()/summation differences between engines.
    "bigram_logprob" -> ((s, dir) =>
      bigramLogprob(Tables(s, dir).documents)),

    // Duplicated-span metric (Lee et al.'s substring-dedup signal,
    // bounded to word 8-grams): per doc, the fraction of its distinct
    // 8-gram shingles that occur in ANY other doc. Linear cost: one
    // explode, one map-side-combined gram count, one gram-keyed join
    // back — never a doc×doc compare. High dup_frac flags boilerplate
    // and template text that exact/minhash dedup both miss.
    "dup_ngram_spans" -> ((s, dir) => {
      val w = split(trim(col("text")), "\\s+")
      val grams8 = when(size(w) >= 8,
        array_distinct(transform(sequence(lit(1), size(w) - 7),
          i => concat_ws(" ", slice(w, i, lit(8))))))
        .otherwise(array().cast("array<string>"))
      val g = Tables(s, dir).documents
        .select(col("doc_id"), explode(grams8).as("g"))
      val counts = g.groupBy(col("g")).agg(count(lit(1)).as("nd"))
      val perDoc = g.join(counts.hint("shuffle_hash"), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dups"))
      Tables(s, dir).documents.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          round(coalesce(col("dups"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)).cast("double"), 4)
            .as("dup_frac"))
    }),

    // exact duplicated-substring REMOVAL (the rewrite counterpart of
    // dup_ngram_spans' signal — Lee et al.'s "Deduplicating Training
    // Data Makes Language Models Better" at 8-token granularity):
    // every position covered by an 8-gram that occurs MORE THAN ONCE
    // in the corpus (within or across docs) is dropped, and each
    // doc's surviving tokens reassemble in order. All keyed, linear
    // dataflow: grams come from one window pass over exploded tokens
    // (8 leads — no per-element re-split of the text under
    // projection collapse), the gram count is one map-side-combined
    // shuffle, span coverage is a bounded explode of DUP starts
    // only, and reassembly sorts (pos, token) inside a doc-keyed
    // aggregate — no global sort, nothing quadratic.
    "dedup_substring_rewrite" -> ((s, dir) =>
      substringRewrite(Tables(s, dir).documents)),

    // One-row dataset card ("datasheets for datasets"): the release
    // summary every corpus ships — size, token volume, language and
    // source breadth, exact-duplication rate, and length stats. One
    // pass of map-side-combined aggregates (the token count folds
    // into the same scan); the dup rate compares distinct text
    // hashes to row count. Exact ints everywhere except the two
    // once-rounded ratios and the interpolated median (identical
    // linear-interpolation semantics in both engines).
    "dataset_card" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      d.agg(
        count(lit(1)).as("n_docs"),
        sum(nWords).as("n_ws_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        sum(col("n_chars")).as("n_chars_total"),
        percentile(col("n_chars"), lit(0.5)).as("p50_chars"))
        .select(col("n_docs"), col("n_ws_tokens"), col("n_langs"),
          col("n_sources"),
          round(lit(1.0) - col("n_distinct_texts").cast("double") /
            col("n_docs").cast("double"), 4).as("exact_dup_rate"),
          col("n_chars_total"),
          round(col("n_chars_total").cast("double") /
            col("n_docs").cast("double"), 4).as("mean_chars"),
          col("p50_chars"))
    }),

    // Winnowing fingerprints (Schleimer et al.'s MOSS algorithm):
    // hash every 8-char gram, keep the MINIMUM of each sliding
    // window of 4 hashes — any substring of length ≥ k+w−1 = 11
    // shared by two documents is GUARANTEED to share a fingerprint
    // (the local-min selection is position-independent), at expected
    // density 2/(w+1) of the gram stream. The windowed upgrade of
    // doc_fingerprint's single global min: a fingerprint SET supports
    // partial-overlap detection, not just whole-doc identity. One
    // doc-keyed shuffle (the window) + one doc-keyed aggregate —
    // linear in corpus characters, no cross-doc operation.
    "winnow_fingerprints" -> ((s, dir) => {
      graft.functions.Md5Hash60.register(s)
      val (k, w) = (8, 4)
      val docs = Tables(s, dir).documents
      val g = docs.filter(length(col("text")) >= k)
        .select(col("doc_id"), (length(col("text")) - (k - 1)).as("n"),
          explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"),
          col("text"))
        .select(col("doc_id"), col("n"), col("pos"),
          graft.functions.Md5Hash60.md5_hash60(
            col("text").substr(col("pos"), lit(k))).as("h"))
      val wmin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(0, w - 1)
      val fps = g.withColumn("mh", min(col("h")).over(wmin))
        // windows start at 1..n−w+1 (a doc with fewer than w grams
        // gets exactly one window over what exists)
        .filter(col("pos") <= greatest(col("n") - (w - 1), lit(1)))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_set(col("mh"))).as("fps"))
      docs.select(col("doc_id"))
        .join(fps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(size(col("fps")), lit(0)).cast("long").as("n_fps"),
          md5(coalesce(array_join(
            transform(col("fps"), x => x.cast("string")), ","), lit("")))
            .as("fp_digest"))
    }),

    // vocabulary coverage curve (the vocab-size sizing diagnostic):
    // what fraction of all corpus token OCCURRENCES the top-N
    // most-frequent types cover, at several N. The vocab relation is
    // aggregated (map-side combined) then cut to the largest N by
    // TakeOrderedAndProject — the only window runs over those ≤ 50
    // rows, never the corpus. Coverage sums ride exact int token
    // counts; the single division is rounded once.
    "vocab_coverage_curve" -> ((s, dir) => {
      val cuts = Seq(5, 10, 20, 50)
      val vocab = Tables(s, dir).documents
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        // blank-text docs split to [""] — not a token (same contract
        // as the BPE trainer's vocab)
        .filter(length(col("w")) >= 1)
        .groupBy(col("w")).agg(count(lit(1)).as("tf"))
      val total = vocab.agg(sum(col("tf")).as("n_total"))
      val top = vocab.orderBy(desc("tf"), asc("w")).limit(cuts.max)
      val ranked = top.withColumn("rk", row_number().over(
        Window.orderBy(desc("tf"), asc("w")))) // ≤ 50 rows — bounded
      ranked.crossJoin(broadcast(total))
        .select(explode(array(cuts.map(lit): _*)).as("vocab_size"),
          col("rk"), col("tf"), col("n_total"))
        .filter(col("rk") <= col("vocab_size"))
        .groupBy(col("vocab_size"))
        .agg(sum(col("tf")).as("covered_tokens"),
          first(col("n_total")).as("n_total"))
        .select(col("vocab_size"), col("covered_tokens"),
          round(col("covered_tokens").cast("double") /
            col("n_total").cast("double"), 4).as("coverage"))
    }),

    // vocabulary statistics (BPE/vocab-training prep): corpus-wide
    // token frequency + document frequency, top 50 by count
    "vocab_token_freq" -> ((s, dir) => {
      val toks = Tables(s, dir).documents
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      toks.groupBy(col("w"))
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(desc("tf"), asc("w"))
        .limit(50)
    }),

    // BPE merge-selection statistics (the inner loop of vocabulary
    // training): char-bigram counts inside word boundaries, top 20 —
    // each round of BPE merges the corpus-wide most frequent
    // adjacent pair; this is that round's candidate ranking as one
    // explode + one map-side-combined aggregation + a bounded top-k
    // (TakeOrderedAndProject, no global sort)
    // iterative BPE merge LEARNING (5 rounds): count adjacent symbol
    // pairs over the word-frequency table, adopt the most frequent
    // pair as a merge, rewrite, repeat — the real tokenizer-trainer
    // loop, where bpe_pair_stats is only its first half-round
    "bpe_learn_merges" -> ((s, dir) =>
      bpeLearnMerges(Tables(s, dir).documents, BpeRounds)),

    // apply the learned merges: per-doc whitespace-word and
    // post-merge BPE token counts (the tokenizer-compression
    // diagnostic); the word stream joins the vocab-sized final
    // symbol table on the word key
    "bpe_encode_counts" -> ((s, dir) =>
      bpeEncodeCounts(Tables(s, dir).documents, BpeRounds)),

    // tokenizer FERTILITY per language — post-merge BPE tokens per
    // whitespace word, the standard multilingual tokenizer-equity
    // diagnostic (a language whose fertility stays high after
    // training is under-served by the learned merges and pays more
    // sequence length per word). Same word-keyed join as
    // bpe_encode_counts, aggregated per language; the ratio divides
    // two exact ints and is rounded once.
    "bpe_fertility_by_lang" -> ((s, dir) =>
      bpeFertilityByLang(Tables(s, dir).documents, BpeRounds)),

    // tokenizer DECODE: id-rank the learned vocab, encode every
    // distinct word to its id sequence, decode the ids back through
    // the inverse vocab join, and certify the lossless round trip
    // (plus a position-weighted id checksum pinning the exact
    // assignment) in one row — closes the encode-only gap in the
    // BPE family
    "bpe_decode_roundtrip" -> ((s, dir) =>
      bpeDecodeRoundtrip(Tables(s, dir).documents, BpeRounds)),

    "bpe_pair_stats" -> ((s, dir) => {
      val words = Tables(s, dir).documents
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) >= 2)
      words.select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => substr(col("w"), i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(20)
    }),

    // deterministic train/val/test split: md5-hash of the doc id
    // buckets rows stably (reproducible across runs and engines) —
    // the standard leakage-safe dataset split
    "dataset_split" -> ((s, dir) => {
      graft.functions.Md5Hash60.register(s)
      val bucket = pmod(
        graft.functions.Md5Hash60.md5_hash60(col("doc_id").cast("string")), lit(100L))
      Tables(s, dir).documents
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    }),

    // TF-IDF top terms per document — the classic relevance weighting
    // for corpus triage. Two map-side-combined aggregations (term
    // frequency per doc, document frequency per term) + a term-keyed
    // join; the corpus size joins in as a broadcast scalar, never a
    // driver value. Ranking uses the ROUNDED score so a last-ulp ln()
    // difference between engines can never flip ranks.
    "tfidf_top_terms" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val toks = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = toks.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
        .withColumn("tfidf", round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("tfidf"), asc("term"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("int").as("rk"),
          col("term"), col("tf"), col("tfidf"))
    }),

    // deterministic stratified downsampling: per-language keep rates
    // applied through a stable hash of the doc id — reproducible
    // across runs, engines, and partitionings, unlike RNG `sample()`;
    // this is how a curation pipeline rebalances languages without
    // losing re-run determinism
    "stratified_sample" -> ((s, dir) => {
      graft.functions.Md5Hash60.register(s)
      val bucket = graft.functions.Md5Hash60.md5_hash60(
        concat(lit("smpl:"), col("doc_id").cast("string"))) % 1000L
      val keepPerMille = when(col("lang") === "en", 100L).otherwise(500L)
      Tables(s, dir).documents
        .filter(bucket < keepPerMille)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // document fingerprint: min-hash over 8-char rolling shingles
    // (winnowing-style content signature; md5-derived 60-bit ints)
    "doc_fingerprint" -> ((s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"),
          explode(sequence(lit(1), greatest(length(col("text")) - 7, lit(1))))
            .as("pos"),
          col("text"))
        .select(col("doc_id"),
          conv(substring(md5(expr("substring(text, pos, 8)")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .groupBy(col("doc_id"))
        .agg(min(col("h")).as("fingerprint"))
    })
  )

  /** Per-doc average −ln P(w|v) under a corpus-trained add-k bigram
    * LM (k = 0.5): (doc_id, n_bigrams, avg_nll). See the
    * `bigram_logprob` entry for the model and scale notes.
    */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    // materialize the split ONCE behind the generator boundary —
    // referencing the split expression from inside the explode's
    // downstream projection would re-run the regex per element_at
    // under projection collapse (the PqEncode lesson, HOF edition)
    val bi = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("ws"), col("i")).as("v"),
        element_at(col("ws"), col("i") + 1).as("w"))
    val cvw = bi.groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    // context totals ride a window over the PAIR relation (bounded
    // by distinct bigrams) instead of a second full-stream shuffle
    val stats = cvw.withColumn("cv",
      sum(col("cvw")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("v"))))
    val vocab = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .agg(countDistinct(col("w")).as("vsize"))
    bi.join(stats.hint("shuffle_hash"), Seq("v", "w"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log((col("cvw").cast("double") + lit(0.5)) /
        (col("cv").cast("double") + lit(0.5) * col("vsize").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 4).as("avg_nll"))
  }

  /** Rounds for [[bpeLearnMerges]]: enough to show the merge chain
    * compounding (late rounds merge symbols earlier rounds created)
    * while the unrolled oracle SQL stays readable.
    */
  val BpeRounds = 5

  /** Iterative byte-pair-encoding merge learning — the actual
    * tokenizer-trainer loop (Sennrich et al.'s BPE): per round,
    * count adjacent symbol pairs, adopt the single most frequent
    * pair (count DESC, then lexicographic — a total order, so the
    * argmax is engine-stable) as a merge rule, rewrite every word
    * greedily left-to-right, repeat. Output: one row per learned
    * merge (step, lhs, rhs, merged, n).
    *
    * Scale shape: the trainer never touches the corpus after the
    * first pass — it folds `documents` into the WORD-FREQUENCY table
    * (vocab-sized, orders of magnitude smaller; the standard BPE
    * trick) and iterates there. Per round: one map-side-combined
    * pair-count shuffle, a 1-ROW driver argmax (the same bounded
    * per-round scalar as [[Similarity]]'s k-means loop — not a
    * corpus collect), and a narrow codegen'd `aggregate` fold that
    * applies the merge in one pass per word. Each round's symbol
    * table is persisted and the previous round's dropped, so
    * lineage stays one round deep.
    *
    * The fold merges greedily left-to-right over non-overlapping
    * occurrences: a merge fires only on ORIGINAL adjacent symbols
    * (the merged token `lhs+rhs` can never equal `lhs`, since `rhs`
    * is non-empty, so a freshly-merged element can't chain into the
    * next match within the same round). That is exactly "keep the
    * 1st, 3rd, … match of every maximal run of consecutive match
    * positions", which is how the oracle states it with window
    * functions — same semantics, two independent formulations.
    */
  def bpeLearnMerges(docs: DataFrame, rounds: Int): DataFrame = {
    val session = docs.sparkSession
    // learn-only: the final round's rewrite is never read, skip it
    val merges = bpeMergesFor(docs, rounds)
    import session.implicits._
    merges.toDF("step", "lhs", "rhs", "merged", "n")
      .select(col("step").cast("int").as("step"), col("lhs"), col("rhs"),
        col("merged"), col("n"))
  }

  /** Tokenize with the learned merges: every document's word stream
    * joined against the final per-word symbol table (vocab-sized —
    * the join shuffles on the word key, nothing broadcasts the
    * corpus), counting whitespace words and post-merge BPE tokens
    * per document. The compression ratio n_bpe_tokens / n_chars is
    * the standard tokenizer-quality diagnostic this feeds.
    */
  def bpeEncodeCounts(docs: DataFrame, rounds: Int): DataFrame = {
    val syms = bpeSymsFromMerges(docs, bpeMergesFor(docs, rounds))
    val words = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
    words
      .join(syms.select(col("w"), size(col("sym")).as("n_sym"))
        .hint("shuffle_hash"), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
  }

  /** Per-language fertility of the learned tokenizer: whitespace
    * words, post-merge BPE tokens, and tokens-per-word per `lang`.
    * Same scale shape as [[bpeEncodeCounts]] (vocab-sized symbol
    * table, word-keyed shuffle join, map-side-combined aggregate).
    */
  def bpeFertilityByLang(docs: DataFrame, rounds: Int): DataFrame = {
    val syms = bpeSymsFromMerges(docs, bpeMergesFor(docs, rounds))
    val words = docs
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
    words
      .join(syms.select(col("w"), size(col("sym")).as("n_sym"))
        .hint("shuffle_hash"), Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double"), 4).as("fertility"))
  }

  /** Tokenizer DECODE certificate: assign integer ids to the learned
    * vocabulary (rank by weighted occurrence count DESC, token ASC —
    * a total order, so the assignment is engine-stable), encode every
    * distinct word into its id sequence, decode the ids back through
    * the inverse vocab join, and certify the round trip in one row:
    * vocab size, word/token counts, how many words reconstruct
    * exactly (all of them — BPE merges are concatenative, and this
    * row PROVES it rather than assuming it), and a position-weighted
    * id checksum that pins the exact id assignment and sequence
    * order into the hash gate.
    *
    * Scale shape: after the one corpus fold into the word-frequency
    * table (inside [[bpeVocab]]) everything here is vocab-sized —
    * the id-assignment window runs over distinct TOKENS (characters
    * + learned merges, bounded by alphabet + rounds; the single
    * partition it implies holds hundreds of rows, not corpus rows),
    * and the encode/decode joins shuffle on token/id keys over the
    * distinct-word table. At 100 TB the corpus cost stays the one
    * word-count pass the whole BPE family already shares.
    */
  def bpeDecodeRoundtrip(docs: DataFrame, rounds: Int): DataFrame = {
    // syms feeds THREE subtrees here (vocab ranking, encode explode,
    // and through enc the decode join) — persist so the fold pass
    // runs once per action
    val syms = bpeSymsFromMerges(docs, bpeMergesFor(docs, rounds))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // vocab ids: weighted occurrence rank, ties broken lexically
    val vocab = syms
      .select(col("wf"), explode(col("sym")).as("tok"))
      .groupBy(col("tok")).agg(sum(col("wf")).as("n_occ"))
      .withColumn("id",
        row_number().over(Window.orderBy(desc("n_occ"), asc("tok"))))
    // encode: distinct word -> ordered (pos, id) stream
    val enc = syms
      .select(col("w"), posexplode(col("sym")).as(Seq("pos0", "tok")))
      .select(col("w"), (col("pos0") + 1).as("pos"), col("tok"))
      .join(vocab.select(col("tok"), col("id")).hint("shuffle_hash"),
        Seq("tok"))
      .select(col("w"), col("pos"), col("id"))
    // decode: id stream -> tokens via the inverse join, reassembled
    // in position order (struct sort on the unique pos key)
    val dec = enc
      .join(vocab.select(col("id"), col("tok").as("dtok"))
        .hint("shuffle_hash"), Seq("id"))
      .groupBy(col("w"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("dtok")))),
          x => x.getField("dtok")), "").as("decoded"),
        sum(col("pos").cast("long") * col("id").cast("long")).as("wsum"),
        count(lit(1)).as("n_tok"))
    dec
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("decoded") === col("w"), 1L).otherwise(0L))
          .as("n_roundtrip_ok"),
        sum(col("wsum")).as("id_pos_checksum"))
      .crossJoin(vocab.agg(count(lit(1)).as("vocab_size")))
      .select(col("n_words"), col("vocab_size"), col("n_tokens"),
        col("n_roundtrip_ok"), col("id_pos_checksum"))
  }

  /** The word-frequency table every BPE stage folds over. */
  private def bpeVocab(docs: DataFrame): DataFrame = docs
    .select(explode(split(trim(col("text")), "\\s+")).as("w"))
    .filter(length(col("w")) >= 1)
    .groupBy(col("w")).agg(count(lit(1)).as("wf"))

  /** One greedy left-to-right merge round as an array fold;
    * try_element_at (not element_at) so the empty-accumulator probe
    * stays null under ANSI instead of raising.
    */
  private def bpeApplyMerge(sym: Column, lS: String, rS: String,
                            mS: String): Column = {
    val (l, r, m) = (lit(lS), lit(rS), lit(mS))
    aggregate(sym, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          try_element_at(acc, lit(-1)) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(m)))
        .otherwise(concat(acc, array(x))))
  }

  /** The trainer loop proper — rounds × (1 argmax collect + 1
    * rewrite materialization), intrinsically sequential (round k+1's
    * pair counts depend on round k's merge). Runs behind
    * [[bpeMergesFor]]'s model memo, so the loop executes once per
    * corpus fingerprint, not once per consumer query.
    */
  private def bpeTrainMerges(docs: DataFrame, rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    val ML = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var syms = bpeVocab(docs).select(col("w"), col("wf"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("sym"))
      .persist(ML)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    for (k <- 1 to rounds) {
      val top = syms
        .select(col("wf"), explode(zip_with(
          slice(col("sym"), lit(1), size(col("sym")) - 1),
          slice(col("sym"), lit(2), size(col("sym")) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("wf")).as("n"))
        .orderBy(desc("n"), asc("lhs"), asc("rhs"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (lS, rS, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, lS, rS, lS + rS, n))
        if (k < rounds) { // the last round's rewrite is never read
          val next = syms.withColumn("sym",
            bpeApplyMerge(col("sym"), lS, rS, lS + rS))
            .persist(ML)
          next.count() // materialize BEFORE dropping the parent, or the
          syms.unpersist() // unpersisted lineage replays every round
          syms = next
        }
      }
    }
    syms.unpersist()
    merges.toSeq
  }

  /** Store-kept learned merge table (r17) — the tokenizer twin of
    * the ANN quantizer models ([[DerivedStore.value]], r16): a
    * trained tokenizer SHIPS with the pipeline; re-running the
    * sequential trainer loop (rounds × 2 driver-paced jobs) inside
    * every encode/fertility/decode invocation was measured as the
    * bulk of all four queries' time (~6.2 s warm across the family
    * at sf0.1). The model is BOUNDED — `rounds` 5-tuples, bytes
    * independent of corpus size — so persisting it is a model ship,
    * never a corpus-derived intermediate. Serialization is one merge
    * per line, fields space-joined: vocabulary tokens come from a
    * \\s+ split, so no token can contain a space/newline and the
    * format is unambiguous.
    */
  private def bpeMergesFor(docs: DataFrame, rounds: Int)
      : Seq[(Int, String, String, String, Long)] =
    DerivedStore.value(docs, s"bpe_merges_r$rounds") {
      bpeTrainMerges(docs, rounds)
    } { ms =>
      ms.map { case (k, l, r, m, n) => s"$k $l $r $m $n" }.mkString("\n")
    } { s =>
      s.split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(k, l, r, m, n) = line.split(" ", 5)
        (k.toInt, l, r, m, n.toLong)
      }
    }

  /** Final per-word symbol table from an already-learned merge list:
    * ONE narrow pass over the vocabulary applying every merge as a
    * chained fold (function composition of the per-round rewrites —
    * identical output to materializing each round, minus the
    * per-round cache writes and driver barriers).
    */
  private def bpeSymsFromMerges(docs: DataFrame,
      merges: Seq[(Int, String, String, String, Long)]): DataFrame = {
    val init = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val sym = merges.foldLeft(init) { case (acc, (_, lS, rS, mS, _)) =>
      bpeApplyMerge(acc, lS, rS, mS)
    }
    bpeVocab(docs).select(col("w"), col("wf"), sym.as("sym"))
  }

  /** Unrolled-CTE oracle for [[bpeLearnMerges]]: per round, the pair
    * count, the 1-row argmax, match positions, the greedy
    * run-alternation keep set (window formulation of left-to-right
    * non-overlapping merging), and the rewritten symbol table.
    */
  // pos$k joins top$k with LEFT JOIN ON true (not a cross join): on a
  // corpus that merges out before `rounds`, top$k is empty and a cross
  // join would cascade every later syms CTE to zero rows — the LEFT
  // JOIN leaves m null, keep$k empty, and syms$k a pass-through,
  // matching the Spark trainer's `if (top.nonEmpty)` skip exactly.
  private def bpeOracleCtes(rounds: Int): String = {
    val head =
      """vocab AS MATERIALIZED (
        |  SELECT w, cast(count(*) AS bigint) AS wf FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) WHERE length(w) >= 1 GROUP BY w),
        |syms0 AS MATERIALIZED (
        |  SELECT w, wf,
        |    list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS sym
        |  FROM vocab)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      val p = k - 1
      s""",
        |pairs$k AS MATERIALIZED (
        |  SELECT sym[i] AS lhs, sym[i + 1] AS rhs, sum(wf) AS n
        |  FROM (SELECT wf, sym, unnest(range(1, len(sym))) AS i FROM syms$p)
        |  GROUP BY 1, 2),
        |top$k AS MATERIALIZED (
        |  SELECT lhs, rhs, cast(n AS bigint) AS n
        |  FROM pairs$k ORDER BY n DESC, lhs, rhs LIMIT 1),
        |pos$k AS MATERIALIZED (
        |  SELECT s.w, s.wf, s.sym, s.i,
        |    (s.sym[s.i] = t.lhs AND s.sym[s.i + 1] = t.rhs) AS m
        |  FROM (SELECT w, wf, sym, unnest(range(1, len(sym) + 1)) AS i
        |        FROM syms$p) s LEFT JOIN top$k t ON true),
        |keep$k AS MATERIALIZED (
        |  SELECT w, i FROM (
        |    SELECT w, i, row_number() OVER (PARTITION BY w, grp ORDER BY i) AS rn
        |    FROM (
        |      SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
        |      FROM pos$k WHERE m))
        |  WHERE rn % 2 = 1),
        |syms$k AS MATERIALIZED (
        |  SELECT p.w, p.wf,
        |    list(CASE WHEN ka.i IS NOT NULL THEN p.sym[p.i] || p.sym[p.i + 1]
        |         ELSE p.sym[p.i] END ORDER BY p.i) AS sym
        |  FROM pos$k p
        |  LEFT JOIN keep$k ka ON ka.w = p.w AND ka.i = p.i
        |  LEFT JOIN keep$k kb ON kb.w = p.w AND kb.i = p.i - 1
        |  WHERE kb.i IS NULL
        |  GROUP BY p.w, p.wf)""".stripMargin
    }.mkString
    head + roundCtes
  }

  private def bpeOracleSql(rounds: Int): String = {
    val tail = (1 to rounds)
      .map(k => s"SELECT $k AS step, lhs, rhs, lhs || rhs AS merged, n FROM top$k")
      .mkString("\n", "\nUNION ALL\n", "")
    "WITH " + bpeOracleCtes(rounds) + tail
  }

  def oracles: Map[String, String] = Map(
    "bpe_learn_merges" -> bpeOracleSql(BpeRounds),
    "bpe_fertility_by_lang" ->
      (s"WITH ${bpeOracleCtes(BpeRounds)}" +
        s""",
          |doc_words AS (
          |  SELECT lang, w FROM (
          |    SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          |    FROM documents) WHERE length(w) >= 1)
          |SELECT d.lang, cast(count(*) AS bigint) AS n_words,
          |  cast(sum(len(s.sym)) AS bigint) AS n_bpe_tokens,
          |  round(sum(len(s.sym))::DOUBLE / count(*)::DOUBLE, 4) AS fertility
          |FROM doc_words d JOIN syms$BpeRounds s ON d.w = s.w
          |GROUP BY d.lang""".stripMargin),
    "bpe_encode_counts" ->
      (s"WITH ${bpeOracleCtes(BpeRounds)}" +
        s""",
          |doc_words AS (
          |  SELECT doc_id, w FROM (
          |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          |    FROM documents) WHERE length(w) >= 1)
          |SELECT d.doc_id, cast(count(*) AS bigint) AS n_words,
          |  cast(sum(len(s.sym)) AS bigint) AS n_bpe_tokens
          |FROM doc_words d JOIN syms$BpeRounds s ON d.w = s.w
          |GROUP BY d.doc_id""".stripMargin),
    "bpe_decode_roundtrip" ->
      (s"WITH ${bpeOracleCtes(BpeRounds)}" +
        s""",
          |vocab_ids AS MATERIALIZED (
          |  SELECT tok, n_occ,
          |    row_number() OVER (ORDER BY n_occ DESC, tok) AS id
          |  FROM (
          |    SELECT sym[i] AS tok, sum(wf) AS n_occ
          |    FROM (SELECT wf, sym, unnest(range(1, len(sym) + 1)) AS i
          |          FROM syms$BpeRounds)
          |    GROUP BY 1)),
          |enc AS (
          |  SELECT e.w, e.pos, v.id
          |  FROM (SELECT w, sym[i] AS tok, i AS pos
          |        FROM (SELECT w, sym, unnest(range(1, len(sym) + 1)) AS i
          |              FROM syms$BpeRounds)) e
          |  JOIN vocab_ids v ON v.tok = e.tok),
          |dec AS (
          |  SELECT e.w,
          |    string_agg(v.tok, '' ORDER BY e.pos) AS decoded,
          |    sum(e.pos * v.id) AS wsum,
          |    count(*) AS n_tok
          |  FROM enc e JOIN vocab_ids v ON v.id = e.id
          |  GROUP BY e.w)
          |SELECT cast(count(*) AS bigint) AS n_words,
          |  cast((SELECT count(*) FROM vocab_ids) AS bigint) AS vocab_size,
          |  cast(sum(n_tok) AS bigint) AS n_tokens,
          |  cast(sum(CASE WHEN decoded = w THEN 1 ELSE 0 END) AS bigint)
          |    AS n_roundtrip_ok,
          |  cast(sum(wsum) AS bigint) AS id_pos_checksum
          |FROM dec""".stripMargin),
    "text_tokens" ->
      s"""SELECT doc_id,
         |  cast($sqlNWords AS bigint) AS n_ws_tokens,
         |  cast(len(regexp_extract_all(text, '$bpePattern')) AS bigint) AS n_bpe_tokens,
         |  cast(length(text) AS bigint) AS n_chars_computed
         |FROM documents""".stripMargin,
    "text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    cast($sqlNWords AS bigint) AS n_words,
         |    cast(${sqlHits(" the ")} + ${sqlHits(" a ")} + ${sqlHits(" of ")} + ${sqlHits(" and ")} AS bigint) AS stop_hits,
         |    cast(length(replace(text, ' ', '')) AS bigint) AS n_letter_chars
         |  FROM documents)
         |SELECT doc_id, n_words, stop_hits,
         |  round(n_letter_chars::DOUBLE / greatest(n_words, 1), 4) AS avg_word_len,
         |  round(stop_hits::DOUBLE / greatest(n_words, 1), 4) AS stop_ratio,
         |  CASE WHEN n_words >= 20 AND stop_hits > 0 THEN 'good'
         |       WHEN n_words >= 5 THEN 'short' ELSE 'junk' END AS quality_bucket
         |FROM base""".stripMargin,
    "lang_id" ->
      s"""WITH scores AS (
         |  SELECT doc_id, lang,
         |    cast(${sqlHits(" the ")} + ${sqlHits(" a ")} AS bigint) AS s_en,
         |    cast(${sqlHits(" der ")} + ${sqlHits(" und ")} AS bigint) AS s_de,
         |    cast(${sqlHits(" el ")} + ${sqlHits(" y ")} AS bigint) AS s_es,
         |    cast(${sqlHits(" le ")} + ${sqlHits(" et ")} AS bigint) AS s_fr
         |  FROM documents)
         |SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
         |  CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
         |       WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
         |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted_lang
         |FROM scores""".stripMargin,
    "lang_confusion" ->
      s"""WITH scores AS (
         |  SELECT doc_id, lang,
         |    cast(${sqlHits(" the ")} + ${sqlHits(" a ")} AS bigint) AS s_en,
         |    cast(${sqlHits(" der ")} + ${sqlHits(" und ")} AS bigint) AS s_de,
         |    cast(${sqlHits(" el ")} + ${sqlHits(" y ")} AS bigint) AS s_es,
         |    cast(${sqlHits(" le ")} + ${sqlHits(" et ")} AS bigint) AS s_fr
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |    CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
         |         WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
         |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted_lang
         |  FROM scores)
         |SELECT lang, predicted_lang, cast(count(*) AS bigint) AS n_docs
         |FROM pred GROUP BY 1, 2""".stripMargin,
    "source_quality_report" ->
      s"""WITH d AS (
         |  SELECT source, $sqlNWords AS n_words,
         |    ${sqlHits(" the ")} + ${sqlHits(" a ")} + ${sqlHits(" of ")}
         |      + ${sqlHits(" and ")} AS stop_hits
         |  FROM documents)
         |SELECT source, cast(count(*) AS bigint) AS n_docs,
         |  round(sum(CASE WHEN n_words >= 20 AND stop_hits > 0
         |            THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 4) AS good_share,
         |  round(sum(stop_hits)::DOUBLE
         |        / greatest(sum(n_words), 1)::DOUBLE, 4) AS stop_ratio,
         |  round(sum(n_words)::DOUBLE / count(*)::DOUBLE, 4) AS mean_words
         |FROM d GROUP BY source""".stripMargin,
    "dataset_card" ->
      s"""SELECT cast(count(*) AS bigint) AS n_docs,
         |  cast(sum($sqlNWords) AS bigint) AS n_ws_tokens,
         |  cast(count(DISTINCT lang) AS bigint) AS n_langs,
         |  cast(count(DISTINCT source) AS bigint) AS n_sources,
         |  round(1.0::DOUBLE - count(DISTINCT md5(text))::DOUBLE
         |        / count(*)::DOUBLE, 4) AS exact_dup_rate,
         |  cast(sum(n_chars) AS bigint) AS n_chars_total,
         |  round(sum(n_chars)::DOUBLE / count(*)::DOUBLE, 4) AS mean_chars,
         |  quantile_cont(n_chars::DOUBLE, 0.5) AS p50_chars
         |FROM documents""".stripMargin,
    "winnow_fingerprints" ->
      """WITH g AS (
        |  SELECT doc_id, length(text) - 7 AS n, i AS pos,
        |    ('0x' || substr(md5(substring(text, i, 8)), 1, 15))::bigint AS h
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
        |        FROM documents WHERE length(text) >= 8)),
        |m AS (
        |  SELECT doc_id, pos, n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
        |  FROM g),
        |f AS (
        |  SELECT doc_id, list_sort(list(DISTINCT mh)) AS fps
        |  FROM m WHERE pos <= greatest(n - 3, 1) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  cast(coalesce(len(f.fps), 0) AS bigint) AS n_fps,
        |  md5(coalesce(array_to_string(f.fps, ','), '')) AS fp_digest
        |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id""".stripMargin,
    "vocab_coverage_curve" ->
      """WITH toks AS (
        |  SELECT w FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) WHERE length(w) >= 1),
        |vocab AS (SELECT w, cast(count(*) AS bigint) AS tf FROM toks GROUP BY w),
        |total AS (SELECT cast(sum(tf) AS bigint) AS n_total FROM vocab),
        |ranked AS (
        |  SELECT w, tf, row_number() OVER (ORDER BY tf DESC, w ASC) AS rk
        |  FROM vocab QUALIFY rk <= 50)
        |SELECT v.vocab_size, cast(sum(tf) AS bigint) AS covered_tokens,
        |  round(sum(tf)::DOUBLE / (SELECT n_total FROM total)::DOUBLE, 4) AS coverage
        |FROM ranked, (VALUES (5), (10), (20), (50)) v(vocab_size)
        |WHERE rk <= v.vocab_size
        |GROUP BY v.vocab_size""".stripMargin,
    "vocab_token_freq" ->
      """SELECT w, cast(count(*) AS bigint) AS tf,
        |  cast(count(DISTINCT doc_id) AS bigint) AS df
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |      FROM documents)
        |GROUP BY w ORDER BY tf DESC, w ASC LIMIT 50""".stripMargin,
    "unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT w, cast(count(*) AS bigint) AS tf FROM toks GROUP BY w),
        |total AS (SELECT cast(sum(tf) AS bigint) AS n_total FROM tf)
        |SELECT doc_id, cast(count(*) AS bigint) AS n_toks,
        |  round(avg(-ln(tf::DOUBLE / n_total::DOUBLE)), 4) AS avg_nll
        |FROM toks JOIN tf USING (w), total
        |GROUP BY doc_id""".stripMargin,
    "bigram_logprob" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |bi AS (
        |  SELECT doc_id, ws[i] AS v, ws[i + 1] AS w
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM words)),
        |cvw AS (SELECT v, w, count(*) AS cvw FROM bi GROUP BY v, w),
        |cv AS (SELECT v, count(*) AS cv FROM bi GROUP BY v),
        |vocab AS MATERIALIZED (
        |  SELECT count(DISTINCT w) AS vsize FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents))
        |SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
        |  round(avg(-ln((cvw::DOUBLE + 0.5::DOUBLE)
        |    / (cv::DOUBLE + 0.5::DOUBLE * vsize::DOUBLE))), 4) AS avg_nll
        |FROM bi JOIN cvw USING (v, w) JOIN cv USING (v), vocab
        |GROUP BY doc_id""".stripMargin,
    "bpe_pair_stats" ->
      """WITH words AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> substr(w, i, 2))) AS pair
        |  FROM words WHERE len(w) >= 2)
        |SELECT pair, cast(count(*) AS bigint) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "dedup_substring_rewrite" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (
        |  SELECT doc_id, i, ws[i] AS w
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM words)),
        |gr AS (
        |  SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
        |        FROM words WHERE len(ws) >= 8)),
        |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) > 1),
        |cov AS (
        |  SELECT doc_id, unnest(range(i, i + 8)) AS i
        |  FROM gr JOIN dup USING (g)),
        |kept AS (
        |  SELECT t.doc_id, t.i, t.w FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                    WHERE c.doc_id = t.doc_id AND c.i = t.i)),
        |agg AS (
        |  SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text,
        |    cast(count(*) AS bigint) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  cast(len(w.ws) AS bigint) AS n_tokens,
        |  coalesce(a.n_kept, 0) AS n_kept
        |FROM words w LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "dup_ngram_spans" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(arr) >= 8
        |      THEN list_transform(range(1, len(arr) - 6),
        |             i -> array_to_string(arr[i:i+7], ' '))
        |      ELSE []::VARCHAR[] END)) AS g
        |  FROM w),
        |counts AS (SELECT g, count(*) AS nd FROM grams GROUP BY g),
        |per_doc AS (
        |  SELECT doc_id, cast(count(*) AS bigint) AS n_grams,
        |    cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS bigint) AS dups
        |  FROM grams JOIN counts USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  cast(coalesce(n_grams, 0) AS bigint) AS n_grams,
        |  round(coalesce(dups, 0)::DOUBLE
        |        / greatest(coalesce(n_grams, 0), 1)::DOUBLE, 4) AS dup_frac
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin,
    "dataset_split" ->
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, cast(count(*) AS bigint) AS n_docs,
        |  cast(sum(n_chars) AS bigint) AS n_chars
        |FROM b GROUP BY 1, 2""".stripMargin,
    "tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, cast(count(*) AS bigint) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(tf.tf::DOUBLE * ln(n.n_docs / df.df::DOUBLE), 6) AS tfidf
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, cast(row_number() OVER w AS int) AS rk, term, tf, tfidf
        |FROM scored
        |WINDOW w AS (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)
        |QUALIFY row_number() OVER w <= 3""".stripMargin,
    "stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5('smpl:' || doc_id::varchar), 1, 15))::bigint % 1000
        |      < CASE WHEN lang = 'en' THEN 100 ELSE 500 END""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  min(('0x' || substr(md5(substring(text, pos, 8)), 1, 15))::bigint) AS fingerprint
        |FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS pos
        |      FROM documents)
        |GROUP BY doc_id""".stripMargin
  )
}
