package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a large-scale training-data pipeline:
 * token statistics, quality scoring, language-ID heuristic, SimHash and
 * winnowing document fingerprints.
 *
 * Everything here is a narrow projection built from codegen'd built-in
 * expressions — per-row, no shuffle, no UDFs — so at 100 TB the whole
 * stage is a single map over the scan with full whole-stage codegen.
 */
object TextAnalysis {
  import HashConstants._

  /** Whitespace tokens of the lower-cased, trimmed text. */
  def tokens(text: Column): Column = split(trim(lower(text)), """\s+""")

  /** 28-bit base hash of a string: integer value of the first 7 hex chars
   *  of md5 — the cross-engine-stable hash (see [[HashConstants]]).
   *  Served by the native codegen expression
   *  [[graft.functions.Md5Prefix28]] (registered by GraftExtensions);
   *  identical value to `conv(substring(md5(s),1,7),16,10)`, which is
   *  what the DuckDB oracles replay. */
  def baseHash(s: Column): Column = call_function("md5prefix28", s)

  /** BPE-ish token count: runs of letters, runs of digits, and single
   *  other non-space symbols each count as one token. */
  val BpeRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpeRegex), lit(0)))

  /** One row per (doc, token): the relational token table behind the
   *  corpus-level statistics (vocabularies, language markers, tf-idf).
   *  explode of a codegen'd split() stays in whole-stage codegen.
   *  Per-document statistics do not go through it: [[textStats]]
   *  computes them inside the row, with no shuffle. */
  def tokenTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tk"))

  /** Per-document token statistics of `text` as one struct of exact
   *  long counts — `n_tok`, `tok_chars`, `n_types`, `n_stop`,
   *  `n_stop_distinct`, `top_bigram_cover`, `dup5_chars`, `max_run` —
   *  from the native [[graft.functions.TextStats]] expression
   *  (registered by GraftExtensions) over [[tokens]]. One codegen call
   *  per row; a higher-order lambda over the token array would drop the
   *  projection to interpreted eval. Null for a null text. */
  def textStats(text: Column): Column = call_function("text_stats", tokens(text))

  /** `docs` with its [[textStats]] struct as `__ts`. A null text has no
   *  token stream, so its row drops. */
  private def withTextStats(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("__ts", textStats(col("text")))

  /** Array of consecutive word n-grams of the text, each as a struct
   *  with fields `w0 … w(n-1)`, built from `n` aligned slices of the
   *  token array zipped elementwise. Both `Slice` and `ArraysZip` are
   *  codegen'd expressions (verified against the Spark 4.1.2 jars —
   *  unlike higher-order `transform`, which drops the whole projection
   *  to interpreted eval and measured ~10× slower at bench scale), so
   *  a caller's `explode` of this column emits n-gram rows inside ONE
   *  WholeStageCodegen span with NO exchange and NO sort. The
   *  `posexplode → lead().over(window)` shape this replaces shuffled
   *  and sorted the entire token table by (doc, pos) — the dominant
   *  cost of every shingle consumer at the 500k-doc probe point
   *  (BENCH_SCALE3's q_text_bigram_lm spill note). Docs with fewer
   *  than n tokens yield an empty array (the explode drops them),
   *  matching the old full-window isNotNull filter. */
  def ngramStructs(text: Column, n: Int): Column = {
    val t = tokens(text)
    val len = greatest(size(t) - (n - 1), lit(0))
    arrays_zip((0 until n).map(i => slice(t, lit(i + 1), len).as(s"w$i")): _*)
  }

  /** Per-document statistics. Ratios are exact-integer divisions, hence
   *  bit-identical across engines with no rounding needed; the
   *  character ratios of an empty text are null. */
  def stats(docs: DataFrame): DataFrame = {
    val len = length(col("text")).cast("double")
    val ts = col("__ts")
    withTextStats(docs).select(
      col("doc_id"),
      ts("n_tok").cast("int").as("n_tokens"),
      ts("n_types").cast("int").as("n_types"),
      bpeCount(col("text")).as("n_bpe_tokens"),
      length(col("text")).as("n_chars"),
      try_divide(length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double"), len)
        .as("alpha_ratio"),
      try_divide(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double"), len)
        .as("digit_ratio"),
      stopRatio(ts).as("stopword_ratio"),
      typeTokenRatio(ts).as("type_token_ratio"))
  }

  /** Quality score + keep flag: mean-token-length and stopword/type
   *  ratios combined; thresholds follow common heuristics (length
   *  bounds, lexical diversity, stopword presence). */
  def quality(docs: DataFrame): DataFrame = {
    val ts = col("__ts")
    withTextStats(docs).select(
      col("doc_id"),
      meanTokenLen(ts).as("mean_token_len"),
      (meanTokenLen(ts) / lit(10.0) + stopRatio(ts) + typeTokenRatio(ts)).as("quality_score"),
      keep(ts).as("keep"))
  }

  private def meanTokenLen(ts: Column): Column =
    ts("tok_chars").cast("double") / ts("n_tok").cast("double")
  private def stopRatio(ts: Column): Column =
    ts("n_stop").cast("double") / ts("n_tok").cast("double")
  private def typeTokenRatio(ts: Column): Column =
    ts("n_types").cast("double") / ts("n_tok").cast("double")

  /** [[quality]]'s keep gate over a [[textStats]] struct. */
  private def keep(ts: Column): Column =
    ts("n_tok") >= 8 && ts("n_tok") <= 100000 && stopRatio(ts) > 0.0 && typeTokenRatio(ts) > 0.1

  /** Fused language-ID + quality score: langid's per-language marker
   *  sums and quality's token statistics are independent aggregate
   *  expressions over the same token table, so one explode + one hash
   *  aggregate yields both — callers that need (pred_lang,
   *  quality_score) per doc ([[graft.pipeline.Corpus.topKByDomain]])
   *  save a full tokenize pass AND the doc_id join of the two outputs.
   *  Every aggregate is an exact integer sum/count, so the derived
   *  values are bit-identical to the separate [[langid]]/[[quality]]
   *  paths. */
  def langQuality(docs: DataFrame): DataFrame = {
    val markerCols = LangMarkers.map { case (lang, markers) =>
      sum(when(col("tk").isin(markers: _*), 1).otherwise(0)).as(s"__s_$lang")
    }
    val qualityCols = Seq(
      count(lit(1)).as("__n_tok"),
      countDistinct(col("tk")).as("__n_typ"),
      sum(length(col("tk"))).as("__tok_chars"),
      sum(when(col("tk").isin(Stopwords: _*), 1L).otherwise(0L)).as("__n_stop"))
    val aggCols = markerCols ++ qualityCols
    val scored = tokenTable(docs)
      .groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val scores = LangMarkers.map { case (lang, _) => lang -> col(s"__s_$lang") }
    val (pred, _) = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((p, b), (lang, s)) => (when(s > b, lang).otherwise(p), greatest(b, s))
    }
    val nTok = col("__n_tok").cast("double")
    val score = (col("__tok_chars").cast("double") / nTok) / lit(10.0) +
      col("__n_stop").cast("double") / nTok +
      col("__n_typ").cast("double") / nTok
    scored.select(col("doc_id"), pred.as("pred_lang"), score.as("quality_score"),
      col("__n_tok").as("n_tokens"))
  }

  /** Stopword-marker language ID: per-language marker hit counts over
   *  tokens; prediction = argmax with fixed priority-order tie-break. */
  def langid(docs: DataFrame): DataFrame = {
    val scoreCols = LangMarkers.map { case (lang, markers) =>
      sum(when(col("tk").isin(markers: _*), 1).otherwise(0)).as(s"__s_$lang")
    }
    val scored = tokenTable(docs)
      .groupBy(col("doc_id"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    val scores = LangMarkers.map { case (lang, _) => lang -> col(s"__s_$lang") }
    // argmax with first-listed-language winning ties: a fold over the
    // priority list keeps the current best unless a later lang scores
    // strictly higher
    val (pred, best) = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((p, b), (lang, s)) => (when(s > b, lang).otherwise(p), greatest(b, s))
    }
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
        best.cast("long").as("marker_hits"))
  }

  /** SimHash fingerprint (28-bit): majority vote per bit over token
   *  hashes. Explode → codegen'd md5 once per token → one hash aggregate
   *  with 28 vote sums (HOF-free: see [[Dedup.signatures]] for why). */
  def simhash(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .select(col("doc_id"), baseHash(col("tk")).as("h"))
    val votes = (0 until 28).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"__v$b")
    }
    hashed
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 28).map(b => when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Gopher-style repetition metrics per document — the quality signals
   *  a pretraining pipeline uses to drop boilerplate / degenerate text
   *  (Rae et al. 2021 §A1.1: fraction of characters in the most frequent
   *  n-gram, fraction of characters in duplicated n-grams):
   *
   *   - `top_bigram_cover` / `top_bigram_frac`: characters covered by the
   *     word-2-gram with the largest `count × length` (the covered-chars
   *     maximum is deterministic under count ties, unlike "the" most
   *     frequent gram), over the space-joined token stream length;
   *   - `dup_5gram_chars` / `dup_5gram_frac`: characters inside word
   *     5-grams occurring more than once;
   *   - `max_token_run`: longest run of consecutive identical tokens.
   *
   *  One projection over the [[textStats]] struct: every n-gram count
   *  belongs to one document, so nothing is exploded, sorted, shuffled
   *  or joined back. Every ratio is an exact integer division —
   *  bit-identical across engines, no rounding needed — and null for a
   *  zero-length token stream (an empty or all-space text). */
  def repetition(docs: DataFrame): DataFrame = {
    val ts = col("__ts")
    withTextStats(docs).select(
      col("doc_id"),
      ts("n_tok").as("n_tokens"),
      ts("top_bigram_cover").as("top_bigram_cover"),
      streamFrac(ts, "top_bigram_cover").as("top_bigram_frac"),
      ts("dup5_chars").as("dup_5gram_chars"),
      streamFrac(ts, "dup5_chars").as("dup_5gram_frac"),
      ts("max_run").as("max_token_run"))
  }

  /** Length of the `" "`-joined token stream of a [[textStats]] struct. */
  private def streamChars(ts: Column): Column = ts("tok_chars") + ts("n_tok") - 1

  /** A struct field's share of [[streamChars]]; null on a zero-length
   *  stream. */
  private def streamFrac(ts: Column, field: String): Column =
    try_divide(ts(field).cast("double"), streamChars(ts).cast("double"))

  /** Corpus-unigram language-model scoring (the CCNet-style "how typical
   *  of the corpus is this document" quality signal) plus doc-local token
   *  entropy:
   *
   *   - `avg_logprob` = Σ c·ln(cnt/total) / n — per-token mean log-prob
   *     of the doc under the corpus unigram distribution;
   *   - `entropy` = ln(n) − Σ c·ln(c) / n — the doc's own token
   *     distribution entropy (0 for a one-token-repeated doc).
   *
   *  Two-pass relational shape: one hash aggregate builds the corpus
   *  vocabulary (token → count), one builds per-(doc, token) counts, and
   *  a join keyed by token scores every document. The scalar corpus
   *  total rides a broadcast crossJoin. The vocab join handles Zipf skew
   *  by construction ([[zipfHeadJoin]]): the head of the vocabulary
   *  broadcasts, so the hot tokens' fact rows never enter a token-keyed
   *  shuffle (AQE's skew-join rule cannot fire here — the vocab side is
   *  an aggregate reusing its own shuffle, not a splittable shuffle
   *  stage). Log-prob sums are FP order-dependent, so query surfaces
   *  round(…, 4) — see OracleCommon.rnd. */
  /** Bigram-LM fluency score: per doc, the mean conditional
   *  log-likelihood ln P(w₂|w₁) under the corpus bigram MLE
   *  (cb(w₁,w₂)/c₁(w₁), where c₁ sums the bigram table — exactly the
   *  occurrences that HAVE a successor). Word-salad that sails through
   *  unigram scoring (all-common words, nonsense order) scores low
   *  here; docs with < 2 tokens have no bigrams and drop out.
   *
   *  Scale shape: bigram rows come from the shuffle-free
   *  [[ngramStructs]] projection (no token-table window sort — that
   *  sort was the measured 500k-doc spill in BENCH_SCALE3); BOTH stat
   *  joins (doc-bigrams × corpus-bigrams keyed "w₁ w₂", then ×
   *  first-word totals keyed w₁) go through [[zipfHeadJoin]] — bigram
   *  frequencies are as Zipfian as unigrams, and the dim sides reuse
   *  their own aggregation shuffles, so AQE's skew rule cannot fire;
   *  the hot head broadcasts instead.
   *
   *  CONTRACT — this overload is deliberately the UNBOUNDED exact-MLE
   *  mode (one row per doc with ≥ 2 tokens; every bigram scored): the
   *  bounded head table is not a cheaper plan for the same answer, it
   *  CHANGES the row set (all-out-of-model docs drop) and `n_bigrams`,
   *  so consumers with a one-row-per-doc contract (perplexityBuckets /
   *  ccnet) must get the exact mode by default. Unbounded is scale-safe
   *  without the cut — the full stats tables are distributed aggregates
   *  scored through [[zipfHeadJoin]] (hot head broadcasts, cold tail
   *  joins shuffle-to-shuffle), nothing requires them to broadcast
   *  whole. Opt INTO the bounded 4-arg overload where a ≤
   *  headVocab×maxSuccessors broadcastable LM is worth the contract
   *  change — the same opt-in posture as [[bm25TopK]]'s
   *  `maxPostings = 0` default. */
  def bigramLogProb(docs: DataFrame, hotN: Int = 1024): DataFrame =
    bigramLogProb(docs, hotN, Int.MaxValue, Int.MaxValue)

  /** As [[bigramLogProb]], with the bounded-statistics production mode:
   *  when `headVocab`/`maxSuccessors` are finite, the LM is conditioned
   *  on a bounded head table — only bigrams whose FIRST word ranks in
   *  the top-`headVocab` by total successor mass (cnt1 desc, word asc)
   *  and whose second word ranks in that first word's top-`maxSuccessors`
   *  successors (cb desc, word asc) are scored; everything else is
   *  out-of-model and contributes neither to a doc's `n_bigrams` nor its
   *  mean (docs with no in-model bigram drop out). Conditional
   *  probabilities stay TRUE MLE (`cnt1` sums the first word's FULL
   *  successor mass, so truncation only removes rare events — it never
   *  inflates the survivors). This is the impact-ordered-truncation
   *  precedent of [[bm25TopK]]'s `maxPostings` (cf. Lucene's pruned
   *  postings in the reference's events search, bounded top-k fetch in
   *  events-lucene/.../lucene/query/QueryRunner.java:130-146
   *  `searchInIndex`): the stats table is ≤ headVocab ×
   *  maxSuccessors rows on ANY corpus — broadcastable at 100 TB — and
   *  the cut ranks on exact integer counts, so any engine replays it.
   *
   *  Plan shape (both modes): bigram rows come from the shuffle-free
   *  [[ngramStructs]] projection, and per-doc scoring is ONE
   *  occurrence-level aggregate keyed doc_id — map-side combine
   *  collapses each partition to one row per doc (doc rows are never
   *  split), so nothing doc-keyed beyond |docs| partial rows ever
   *  shuffles. The former (doc_id, w1, w2) pre-aggregation was itself
   *  the measured 500k-doc bottleneck (a full shuffle of every bigram
   *  occurrence keyed by a 3-part string tuple) and existed only to
   *  feed `c·ln(p)` summation; summing `ln(p)` once per occurrence is
   *  the same multiset of addends. The stats dimension attaches cnt1
   *  to the bigram table dim-side (|types| rows, never fact-sized);
   *  capped mode broadcasts the cut stats, uncapped mode goes through
   *  [[zipfHeadJoin]] keyed "w1 w2" (Zipf head broadcasts, tail
   *  equi-joins with bounded fan-in). */
  def bigramLogProb(docs: DataFrame, hotN: Int,
      headVocab: Int, maxSuccessors: Int): DataFrame = {
    require(headVocab > 0 && maxSuccessors > 0,
      "headVocab and maxSuccessors must be positive")
    val pairs = docs
      .select(col("doc_id"), explode(ngramStructs(col("text"), 2)).as("g"))
      .select(col("doc_id"), col("g.w0").as("w1"), col("g.w1").as("w2"))
    val bg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val c1 = bg.groupBy(col("w1")).agg(sum(col("cb")).as("cnt1"))
    val joined =
      if (headVocab == Int.MaxValue && maxSuccessors == Int.MaxValue) {
        // exhaustive stats: (w1,w2,cb,cnt1) assembled dim-side, then one
        // fact join through the Zipf-head split (whose single string key
        // the fact side materializes once per occurrence)
        val stats = bg.join(c1, Seq("w1"))
          .select(concat_ws(" ", col("w1"), col("w2")).as("tk"),
            col("cb"), col("cnt1"))
        zipfHeadJoin(pairs.withColumn("tk", concat_ws(" ", col("w1"), col("w2"))),
          stats, col("cb"), hotN)
      } else {
        // bounded head table: TakeOrderedAndProject cuts the head words,
        // WindowGroupLimit cuts each head word's successor list locally.
        // The broadcast join keys (w1, w2) directly — no per-occurrence
        // concatenated key is ever materialized on the fact side.
        val head = c1.orderBy(col("cnt1").desc, col("w1").asc).limit(headVocab)
        val wSucc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w1")).orderBy(col("cb").desc, col("w2").asc)
        val stats = bg.join(broadcast(head), Seq("w1"))
          .withColumn("__r", row_number().over(wSucc))
          .filter(col("__r") <= maxSuccessors)
          .select(col("w1"), col("w2"), col("cb"), col("cnt1"))
        pairs.join(broadcast(stats), Seq("w1", "w2"))
      }
    val n = count(lit(1)).cast("double")
    joined.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(log(col("cb").cast("double") / col("cnt1").cast("double"))) / n)
          .as("avg_logprob2"))
  }

  /** PMI collocations (Church & Hanks 1990, "Word association norms,
   *  mutual information, and lexicography"): the top-k adjacent word
   *  pairs by pointwise mutual information,
   *  pmi(w₁,w₂) = ln( p(w₁,w₂) / (p(w₁)·p(w₂)) ), with all three
   *  probabilities taken over the HEAD-RESTRICTED bigram event space
   *  (marginals and total from the restricted bigram table itself, so
   *  the score is self-consistent and the oracle can restate it
   *  exactly). The mixing/embedding-diagnostics companion to the
   *  bigram LM: the LM scores documents under corpus statistics; PMI
   *  surfaces the statistics themselves (collocations, multi-word
   *  expressions, domain jargon).
   *
   *  Production posture: PMI is noise on rare words, so the event
   *  space restricts to pairs whose BOTH words rank in the top
   *  `headVocab` unigrams (two broadcast semi-joins — fact-side
   *  filters, the bounded-statistics mode of [[bigramLogProb]]) and to
   *  pairs seen ≥ `minCount` times. That bounds the bigram TYPE
   *  relation at headVocab² (sparse in practice), which makes the
   *  marginal windows and the single-partition total window summary-
   *  sized — at larger corpora shrink headVocab, not minCount. Like
   *  bigramLogProb, one stats pass builds the head and one scoring
   *  pass restricts — two fact scans total, nothing fact-sized
   *  shuffles on a pair key. */
  def pmi(docs: DataFrame, minCount: Long = 5, k: Int = 50,
      headVocab: Int = 2048): DataFrame = {
    require(minCount >= 1 && k >= 1 && headVocab >= 1,
      s"bad pmi parameters: minCount=$minCount k=$k headVocab=$headVocab")
    val head = headOf(unigramCounts(docs), headVocab)
    val pairs = docs
      .select(explode(ngramStructs(col("text"), 2)).as("g"))
      .select(col("g.w0").as("w1"), col("g.w1").as("w2"))
      .join(broadcast(head.withColumnRenamed("tk", "w1")), Seq("w1"), "left_semi")
      .join(broadcast(head.withColumnRenamed("tk", "w2")), Seq("w2"), "left_semi")
    pmiWalk(pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair")),
      minCount, k)
  }

  /** Per-corpus unigram counts (counts ADD — the maintainable side of
   *  the pmi head; the empty-token class is kept so the event space
   *  matches [[tokenTable]] exactly). */
  def unigramCounts(docs: DataFrame): DataFrame =
    tokenTable(docs).groupBy(col("tk")).agg(count(lit(1)).as("__c"))

  /** Adjacent-pair counts (counts ADD — the maintainable pmi store;
   *  bigrams never span documents, so per-micro-batch partials sum to
   *  the corpus counts exactly). */
  def bigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(ngramStructs(col("text"), 2)).as("g"))
      .select(col("g.w0").as("w1"), col("g.w1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c"))

  /** As [[pmi]], over precomputed count tables (the serving path for
   *  ingest-maintained counts, the unigramDriftFromCounts discipline).
   *  Restricting the summed TYPE table equals restricting pairs before
   *  counting — counted-then-filtered == filtered-then-counted for
   *  exact counts — so this hash-matches [[pmi]] over the same corpus
   *  (spec-pinned), while the read never touches a document. */
  def pmiFromCounts(uni: DataFrame, bg: DataFrame, minCount: Long = 5,
      k: Int = 50, headVocab: Int = 2048): DataFrame = {
    require(minCount >= 1 && k >= 1 && headVocab >= 1,
      s"bad pmi parameters: minCount=$minCount k=$k headVocab=$headVocab")
    val head = headOf(uni, headVocab)
    val restricted = bg
      .groupBy(col("w1"), col("w2")).agg(sum(col("__c")).as("n_pair"))
      .join(broadcast(head.withColumnRenamed("tk", "w1")), Seq("w1"), "left_semi")
      .join(broadcast(head.withColumnRenamed("tk", "w2")), Seq("w2"), "left_semi")
    pmiWalk(restricted, minCount, k)
  }

  /** Top-H unigrams from a (tk, __c) count table (partials welcome). */
  private def headOf(uni: DataFrame, headVocab: Int): DataFrame =
    uni.groupBy(col("tk")).agg(sum(col("__c")).as("cnt"))
      .orderBy(col("cnt").desc, col("tk").asc).limit(headVocab)
      .select(col("tk"))

  /** The shared scoring walk over a head-restricted (w1, w2, n_pair)
   *  type relation — marginals and total by window (summary-sized by
   *  the head restriction), then the rounded-pmi top-k cut. */
  private def pmiWalk(bg: DataFrame, minCount: Long, k: Int): DataFrame = {
    val w1m = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val w2m = org.apache.spark.sql.expressions.Window.partitionBy(col("w2"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    bg
      .withColumn("c1", sum(col("n_pair")).over(w1m))
      .withColumn("c2", sum(col("n_pair")).over(w2m))
      .withColumn("n_total", sum(col("n_pair")).over(all))
      .filter(col("n_pair") >= minCount)
      .withColumn("pmi", round(log(
        col("n_pair").cast("double") * col("n_total") /
          (col("c1").cast("double") * col("c2"))), 6))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  def corpusLogProb(docs: DataFrame, hotVocab: Int = 1024): DataFrame = {
    val tk = tokenTable(docs)
    val dc = tk.groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
    val vocab = tk.groupBy(col("tk")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("__total"))
    val n = sum(col("c")).cast("double")
    zipfHeadJoin(dc, vocab, col("cnt"), hotVocab)
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        (sum(col("c") * log(col("cnt").cast("double") / col("__total").cast("double"))) / n)
          .as("avg_logprob"),
        (log(n) - sum(col("c") * log(col("c").cast("double"))) / n).as("entropy"))
  }

  /** Zipf-skew-proof token-dimension join: the `hotN` heaviest dim rows
   *  (by `weight`, token tiebreak) BROADCAST — the hot tokens' fact rows
   *  join map-side and never enter a token-keyed shuffle — while the
   *  long tail meets in a plain equi-join whose per-key fan-in is
   *  bounded by the (hotN+1)-th heaviest token. Lossless (every fact
   *  row matches exactly one side), so oracle results are unchanged;
   *  the two fact branches share one exchange via ReuseExchange. This
   *  is the load-bearing skew defense: AQE's OptimizeSkewedJoin cannot
   *  split this plan shape (the dim side is an aggregate reusing its
   *  own shuffle, not a raw shuffle stage). */
  private[pipeline] def zipfHeadJoin(fact: DataFrame, dim: DataFrame,
      weight: Column, hotN: Int): DataFrame = {
    // the head is ≤ hotN scalar rows — persist so the coverage probe
    // below doesn't recompute the dim aggregate (a full fact scan), and
    // leave it cached (KB-bounded, unlike vector-heavy frames)
    val hot = dim.orderBy(weight.desc, col("tk").asc).limit(hotN).persist()
    if (hot.count() < hotN) {
      // the WHOLE dimension fits in the head: one broadcast join, no
      // cold branch. Without this guard the empty tail branch still
      // key-shuffles the entire fact table — measured 54× at 100× data
      // on a small-vocab corpus whose bigram join paid it twice.
      fact.join(broadcast(hot), Seq("tk"))
    } else {
      val cold = dim.join(broadcast(hot.select("tk")), Seq("tk"), "left_anti")
      fact.join(broadcast(hot), Seq("tk"))
        .unionByName(fact.join(cold, Seq("tk")))
    }
  }

  /** TF-IDF keyword extraction: the top `k` tokens per document by
   *  `tf · ln(N/df)`. Document frequencies are one hash aggregate over
   *  the distinct (doc, token) table; scoring joins it back keyed by
   *  token (Zipf head broadcast, [[zipfHeadJoin]]); the per-doc rank
   *  filter compiles to WindowGroupLimit (local top-k before the
   *  shuffle). The score is per-row FP over exact integers — no
   *  distributed sums — so ranking is engine-stable; ties break on
   *  token order. */
  def keywords(docs: DataFrame, k: Int, hotVocab: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dc = tokenTable(docs).groupBy(col("doc_id"), col("tk"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = dc.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val score = col("tf") * log(col("__n").cast("double") / col("df").cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("__tfidf").desc, col("tk").asc)
    zipfHeadJoin(dc, dfreq, col("df"), hotVocab)
      .crossJoin(broadcast(nDocs))
      .withColumn("__tfidf", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tk").as("token"),
        round(col("__tfidf"), 4).as("tfidf"))
  }

  /** Tokenizer fertility per language: BPE-ish tokens per whitespace
   *  word, aggregated over each language's docs — the
   *  tokens-per-word ratio tokenizer papers call fertility, the number
   *  that decides whether a vocab serves a language efficiently (high
   *  fertility = the tokenizer fragments that language's words). One
   *  map-side-combining hash aggregate over per-row projections; the
   *  ratio divides two exact integer sums. */
  def fertility(docs: DataFrame, langCol: String = "lang"): DataFrame =
    docs
      .select(col(langCol).as("lang"),
        size(tokens(col("text"))).cast("long").as("__ws"),
        bpeCount(col("text")).cast("long").as("__bpe"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ws")).as("n_words"),
        sum(col("__bpe")).as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 4))

  /** Vocabulary coverage / OOV rate: per document, the fraction of its
   *  tokens falling OUTSIDE the corpus' top-`vocabSize` vocabulary (by
   *  corpus frequency, token-ascending tiebreak) — the tokenizer-
   *  coverage signal a training pipeline measures before committing to
   *  a vocab size, and the per-doc outlier flag for junk detection
   *  (high-OOV docs are boilerplate, code, or the wrong language).
   *
   *  Scale shape: the vocabulary is one hash aggregate cut by
   *  TakeOrderedAndProject to `vocabSize` rows (constant at any corpus
   *  size) and BROADCAST back as a membership probe — the token table
   *  is touched by exactly two map-side-combining passes (the count and
   *  the probe), nothing token-keyed ever shuffles. The rate is one
   *  division of exact integer counts per doc. */
  def oovRate(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tt = tokenTable(docs)
    val vocab = tt.groupBy(col("tk")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tk").asc).limit(vocabSize)
      .select(col("tk"), lit(1).as("__in"))
    tt.join(broadcast(vocab), Seq("tk"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 4)
          .as("oov_rate"))
  }

  /** Corpus drift: pairwise Jensen-Shannon divergence between the
   *  per-`source` unigram distributions — the snapshot-to-snapshot /
   *  domain-to-domain distribution-shift monitor a training pipeline
   *  runs before mixing or refreshing corpora (JSD over a shared
   *  support is symmetric and always finite, unlike raw KL, which is
   *  infinite wherever one side has a zero).
   *
   *  The support is BOUNDED: the global top-`headN` tokens (count
   *  desc, token asc — the integer-exact cut discipline of oovRate /
   *  bm25) plus one `__other` bucket absorbing the tail mass, so the
   *  comparison is over ≤ headN+1 rows per source however large the
   *  corpus. Scale shape: one map-side-combining hash aggregate over
   *  token occurrences, a TakeOrderedAndProject head cut (constant
   *  rows), a broadcast membership probe to re-bucket the counts —
   *  nothing token-keyed ever shuffles — and everything after
   *  (densify × sources, pair join, JSD sum) runs on
   *  |sources| × (headN+1) aggregated rows. */
  def unigramDrift(docs: DataFrame, headN: Int = 64): DataFrame =
    unigramDriftFromCounts(sourceTokenCounts(docs), headN)

  /** The (source, tk, __c) unigram count table [[unigramDrift]] consumes —
   *  exposed so a streaming ingest can MAINTAIN it incrementally (append
   *  per-batch partial counts to a log, sum at read — counts add, so the
   *  maintained table equals the batch recount exactly). */
  def sourceTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("tk"))
      .filter(col("tk") =!= "")
      .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("__c"))

  /** As [[unigramDrift]], over a precomputed count table (columns
   *  source / tk / __c) — the serving path for ingest-maintained counts. */
  def unigramDriftFromCounts(tf: DataFrame, headN: Int = 64): DataFrame = {
    require(headN > 0, "headN must be positive")
    val head = tf.groupBy(col("tk")).agg(sum(col("__c")).as("__tc"))
      .orderBy(col("__tc").desc, col("tk").asc).limit(headN)
      .select(col("tk"), lit(1).as("__in"))
    val bucketed = tf.join(broadcast(head), Seq("tk"), "left")
      .groupBy(col("source"),
        when(col("__in").isNotNull, col("tk")).otherwise(lit("__other")).as("tok"))
      .agg(sum(col("__c")).as("__c"))
    // densify over the full (source × support) grid so zero-count terms
    // contribute their JSD mass (an inner pair join would silently drop
    // them); both frames are aggregated-tiny, the crossJoin is bounded
    val support = bucketed.select(col("tok")).distinct()
    val srcs = bucketed.select(col("source")).distinct()
    val dense = srcs.crossJoin(broadcast(support))
      .join(bucketed, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"), coalesce(col("__c"), lit(0L)).as("__c"))
    val totals = dense.groupBy(col("source")).agg(sum(col("__c")).as("__n"))
    val probs = dense.join(broadcast(totals), "source")
      .select(col("source"), col("tok"),
        (col("__c").cast("double") / col("__n").cast("double")).as("p"))
    val a = probs.select(col("source").as("source_a"), col("tok"), col("p").as("pa"))
    val b = probs.select(col("source").as("source_b"), col("tok"), col("p").as("pb"))
    a.join(b, Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(
        lit(0.5) * sum(when(col("pa") > 0,
          col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb")))).otherwise(0.0)) +
        lit(0.5) * sum(when(col("pb") > 0,
          col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb")))).otherwise(0.0)),
        4).as("jsd"))
  }

  /** Okapi BM25 top-k retrieval: for each query document, the `k`
   *  best-matching corpus documents under BM25(k1, b) — the
   *  quality-targeted retrieval / candidate-mining primitive of a
   *  training-data pipeline (and the classic lexical baseline next to
   *  the embedding ANN family).
   *
   *  Relational shape, built for a bounded query batch over an
   *  unbounded corpus: tf is one hash aggregate over the token table,
   *  with the doc length riding its group key (dl = size(tokens) is a
   *  source-side projection, functionally dependent on doc_id — never
   *  a separate aggregate joined back by doc_id); document
   *  frequencies attach to the QUERY terms first (a bounded-size
   *  lookup), and that (term, df, query) table BROADCASTS onto tf —
   *  ONE broadcast join restricts the fact side to the query terms'
   *  postings and carries df along, so the fact table is never
   *  shuffled by a token key at all. One aggregate per (query, doc)
   *  sums the per-term scores, and the top-k rank filter compiles to
   *  WindowGroupLimit (local top-k before the shuffle).
   *
   *  `maxDfFrac` drops query terms present in more than that fraction
   *  of documents BEFORE the postings join — a term in every document
   *  contributes ~ln(1) ≈ 0 score but fans the join out to the whole
   *  corpus (on a stopword-heavy query the scan degenerates to
   *  all-pairs; the 30-word-vocabulary scale corpus of BENCH_SCALE.json
   *  measures exactly that regime). Off by default so the oracle-checked path
   *  is exhaustive — the [[graft.pipeline.Corpus.decontaminate]] maxDf
   *  convention.
   *
   *  `maxPostings` is the second, shape-independent pruning lever:
   *  impact-ordered posting truncation. Each surviving query term
   *  keeps only its `maxPostings` highest-impact postings — ranked by
   *  the EXACT per-posting BM25 term weight wTf (pure IEEE arithmetic
   *  on exact-integer tf/dl, so the cut is bit-replayable in any
   *  engine; doc_id breaks ties). This bounds the scoring join at
   *  |query terms| × maxPostings rows on ANY corpus — including
   *  small-vocabulary / stopword-saturated ones where every term's df
   *  exceeds any useful df fraction and `maxDfFrac` would either keep
   *  full postings or drop the whole query. A document outside every
   *  query term's impact top-N becomes unreachable — the standard
   *  impact-pruned-index trade (cf. Lucene's top-docs pruning in the
   *  reference's events search, events-lucene QueryRunner). The
   *  truncation window shuffles only the query terms' postings
   *  (already broadcast-restricted), and the rank filter compiles to
   *  WindowGroupLimit: a local per-partition top-N runs before the
   *  exchange, so ≤ partitions × terms × N rows ever shuffle.
   *
   *  FP discipline: every input (tf, df, dl, N, Σdl) is an exact
   *  integer, so each per-term score is an identical double in both
   *  engines (ln carries the accepted 1-ulp libm caveat); the
   *  per-(query, doc) SUM is order-dependent, so ranking runs on the
   *  4-decimal-rounded sum with doc_id tiebreak — deterministic and
   *  replayable. The truncation rank deliberately orders on raw wTf
   *  (no libm involved), so it too is deterministic and replayable. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, maxDfFrac: Double = 1.0,
      maxPostings: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"bm25TopK needs k >= 1, got $k")
    require(maxDfFrac > 0 && maxDfFrac <= 1.0, s"maxDfFrac in (0, 1], got $maxDfFrac")
    // dl = size(tokens) is a SOURCE-side projection riding the tf group
    // key (functionally dependent on doc_id), not a separate aggregate
    // joined back by doc_id — that join re-shuffled every posting row
    // by doc_id, the single widest exchange of the original plan.
    // Equivalence with sum-of-tf is exact: tokens() yields [""] for
    // empty text, so every doc has >= 1 token row in both engines.
    val docTok = docs.select(col("doc_id"), tokens(col("text")).as("__t"))
    val tf = docTok
      .select(col("doc_id"), size(col("__t")).as("dl"), explode(col("__t")).as("tk"))
      .groupBy(col("doc_id"), col("dl"), col("tk"))
      .agg(count(lit(1)).as("tf"))
    val dl = docTok.select(col("doc_id"), size(col("__t")).as("dl"))
    val dfreq = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val corpus = dl.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__toks"))
    val qterms = queries
      .select(col("query_id"), explode(tokens(col("text"))).as("tk")).distinct()
    // df rides the bounded query-term table: one broadcast join restricts
    // AND annotates the postings (the fact side never shuffles on tk)
    val qd0 = dfreq.join(broadcast(qterms), "tk")
    val qd =
      if (maxDfFrac >= 1.0) qd0
      else qd0.crossJoin(broadcast(corpus.select(col("__n").as("__nq"))))
        .filter(col("df").cast("double") <= lit(maxDfFrac) * col("__nq").cast("double"))
        .drop("__nq")
    val avgdl = col("__toks").cast("double") / col("__n").cast("double")
    val idf = log(
      (col("__n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val wTf = col("tf").cast("double") * lit(k1 + 1) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val scored =
      if (maxPostings <= 0)
        tf.join(broadcast(qd), "tk")
          .crossJoin(broadcast(corpus))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(round(sum(idf * wTf), 4).as("score"))
      else {
        // impact-ordered truncation: rank each TERM's postings once
        // (per tk, not per (query, tk) — wTf is query-independent), cut
        // at maxPostings, then fan the survivors out to the queries
        val qt = qd.select(col("tk"), col("df")).distinct()
        val posted = tf.join(broadcast(qt), "tk")
          .crossJoin(broadcast(corpus))
          .withColumn("__wtf", wTf)
        val pw = Window.partitionBy(col("tk"))
          .orderBy(col("__wtf").desc, col("doc_id").asc)
        posted.withColumn("__prank", row_number().over(pw))
          .filter(col("__prank") <= maxPostings)
          .join(broadcast(qd.select(col("tk"), col("query_id")).distinct()), "tk")
          .groupBy(col("query_id"), col("doc_id"))
          .agg(round(sum(idf * col("__wtf")), 4).as("score"))
      }
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** PII patterns — the format-level scrub classes a pretraining
   *  pipeline redacts before training. Deliberately restricted to
   *  syntax BOTH engines' regex dialects (Java `j.u.regex`, RE2)
   *  evaluate identically: character classes, bounded repetition, `\b`,
   *  one capture group — no lookaround, no backreferences. IPv4 is
   *  format-only (no 0-255 range check) in both engines alike. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val DigitRunRe = "\\b\\d{6,}\\b"

  /** The full sequential rewrite as ONE reusable Column — the single
   *  definition both [[redactPii]] and the streaming ingest scrub
   *  ([[graft.streaming.DocIngest]]) apply, so "dedup on redacted
   *  content" can never drift from the declared redaction. */
  def redactedText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      DigitRunRe, "<NUM>")

  /** [[quality]]'s keep gate as a per-row Column over [[textStats]] —
   *  the same booleans as the batch path (the ratios are the same
   *  exact-integer divisions) and stateless, so a streaming micro-batch
   *  can filter on it without aggregation state. */
  def keepExpr(text: Column): Column = keep(textStats(text))

  /** PII redaction: emails → `<EMAIL>`, then IPv4s → `<IP>`, then
   *  standalone runs of ≥ 6 digits (account/phone-like ids) → `<NUM>`,
   *  applied IN THAT ORDER — each count is taken over the text with the
   *  previous classes already redacted, so a dotted-quad's octets are
   *  never double-counted as digit runs and the (counts, redacted)
   *  pair is one well-defined sequential rewrite both engines replay.
   *  Emits per-doc counts, the redacted length, and the md5 of the
   *  redacted text (the content fingerprint a downstream exact-dedup
   *  would key on — redaction canonicalizes documents differing only
   *  in PII).
   *
   *  Pure per-row projection of codegen'd regexp expressions — no
   *  shuffle, no UDFs; at 100 TB this is a map over the scan. */
  def redactPii(docs: DataFrame): DataFrame = {
    val t1 = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val t3 = redactedText(col("text"))
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t1, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(t2, lit(DigitRunRe), lit(0))).cast("long").as("n_ids"),
      length(t3).cast("long").as("n_chars_redacted"),
      md5(t3).as("redacted_hash"))
  }

  /** Gopher-style quality rule set (Rae et al. 2021 §A1.1, restated
   *  over this engine's token statistics): a document keeps iff
   *   - token count in [50, 100000],
   *   - mean token length in [3, 10],
   *   - symbol ratio (non-alphanumeric non-space chars / chars) ≤ 0.1,
   *   - at least 2 DISTINCT stopwords appear,
   *   - top-bigram character coverage ≤ 0.20 and duplicate-5-gram
   *     character fraction ≤ 0.15 (the paper's repetition gates, in
   *     [[repetition]]'s vocabulary).
   *
   *  Every RULE compares integers cross-multiplied (e.g. mean token
   *  length ∈ [3,10] ⇔ `3·n ≤ chars ≤ 10·n`) — no FP anywhere in a
   *  keep decision, so the gate replays bit-identically on any engine;
   *  the surfaced ratio columns are single divisions of exact ints
   *  (null where the text or token stream has zero length).
   *
   *  Plan: one projection over the [[textStats]] struct and two
   *  character counts of the text — no shuffle, no join. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val ts = col("__ts")
    val nTok = ts("n_tok")
    val tokChars = ts("tok_chars")
    val total = streamChars(ts)
    val rCount = nTok >= 50 && nTok <= 100000
    val rWordLen = tokChars >= nTok * 3 && tokChars <= nTok * 10
    val rSymbol = col("__sym_chars") * 10 <= col("__n_chars")
    val rStop = ts("n_stop_distinct") >= 2
    val rRep = ts("top_bigram_cover") * 5 <= total && ts("dup5_chars") * 20 <= total * 3
    withTextStats(docs)
      .select(col("doc_id"), ts,
        length(col("text")).as("__n_chars"),
        length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).as("__sym_chars"))
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        round(meanTokenLen(ts), 4).as("mean_token_len"),
        round(try_divide(col("__sym_chars").cast("double"), col("__n_chars")), 4)
          .as("symbol_ratio"),
        ts("n_stop_distinct").as("n_stop_distinct"),
        round(streamFrac(ts, "top_bigram_cover"), 4).as("top_bigram_frac"),
        round(streamFrac(ts, "dup5_chars"), 4).as("dup_5gram_frac"),
        rCount.as("r_count"), rWordLen.as("r_wordlen"), rSymbol.as("r_symbol"),
        rStop.as("r_stop"), rRep.as("r_rep"),
        (rCount && rWordLen && rSymbol && rStop && rRep).as("keep"))
  }

  /** Winnowing-style fingerprint: base-31 rolling hash over windows of
   *  [[HashConstants.FpWindow]] token hashes; the document fingerprint is
   *  the minimum window hash (plus the distinct-window count).
   *  [[ngramStructs]] emits each FpWindow-gram shuffle-free; the hash of
   *  every gram member is a codegen'd md5 on the exploded row (each token
   *  is hashed up to FpWindow times — trading ≤ 5 cheap md5s for the
   *  token-table exchange + sort the lead() window paid); docs with
   *  fewer than FpWindow tokens produce no windows and drop out. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val wh = FpWeights.zipWithIndex.map { case (wt, j) =>
      baseHash(col(s"g.w$j")) * lit(wt)
    }.reduce(_ + _) % lit(P)
    docs
      .select(col("doc_id"), explode(ngramStructs(col("text"), FpWindow)).as("g"))
      .select(col("doc_id"), wh.as("__wh"))
      .groupBy(col("doc_id"))
      .agg(min(col("__wh")).as("min_fp"),
        countDistinct(col("__wh")).as("n_distinct_fp"))
  }
}
