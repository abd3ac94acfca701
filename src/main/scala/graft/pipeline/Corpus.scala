package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end training-corpus selection — the composition a 100 TB
 * pretraining-data pipeline actually runs over the document store, built
 * entirely from the already-oracle-checked stages:
 *
 *  1. quality gate ([[TextAnalysis.quality]] `keep`),
 *  2. exact-duplicate collapse (keep the min doc_id per normalized
 *     content hash, [[Dedup.exact]]),
 *  3. near-duplicate collapse (keep the min doc_id per connected
 *     component of the MinHash-LSH pair graph,
 *     [[Dedup.duplicateClusters]] — pairwise near-dup is not transitive,
 *     so clustering, not pair deletion, decides survivors).
 *
 * Each stage is a broadcast-or-hash equi-join keyed by doc_id against a
 * table no bigger than the corpus (quality: 1 row/doc; exact: 1
 * row/doc; clusters: only docs appearing in near-dup pairs), so the
 * whole selection is a chain of co-partitionable joins — no stage is
 * quadratic and every filter is evaluable independently per doc batch.
 */
object Corpus {

  /** Deterministic hash sampling: keep a row iff
   *  `md5prefix28(key) % 1000 < permille`. Unlike `df.sample`, the
   *  decision is a pure function of the key — stable across reruns,
   *  partitionings, and engines (the oracle replays the identical md5
   *  arithmetic), which is what makes a 100 TB pipeline's samples
   *  reproducible and its holdout splits leak-proof (complementary
   *  permille ranges can never overlap). */
  def hashSample(df: DataFrame, key: org.apache.spark.sql.Column, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000, "permille in [0, 1000]")
    df.filter(pmod(call_function("md5prefix28", key.cast("string")), lit(1000)) < lit(permille))
  }

  /** Seeded deterministic train/val/test split: each doc lands in
   *  exactly one slice by hash bucket (permille of md5-prefix over
   *  salt + id) — disjoint, exhaustive, reproducible, and re-salting
   *  re-deals the whole split without touching data. A pure per-row
   *  projection: no shuffle, no state, trivially linear at any scale. */
  def trainValTestSplit(docs: DataFrame, trainPermille: Int, valPermille: Int,
      salt: String = ""): DataFrame = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000, "permilles in [0, 1000], sum <= 1000")
    val b = pmod(call_function("md5prefix28",
      concat(lit(salt), col("doc_id").cast("string"))), lit(1000))
    docs.select(col("doc_id"),
      when(b < trainPermille, "train")
        .when(b < trainPermille + valPermille, "val")
        .otherwise("test").as("split"))
  }

  /** Seeded epoch shuffle, materialized the scalable way: a global
   *  random permutation is never one sort — each doc hashes (salt + id)
   *  to a shard, and position-within-shard orders by the same hash.
   *  Reading shards in (shard, pos) order replays the permutation; a
   *  new salt is a new epoch. The per-shard window is exactly
   *  repartition + sortWithinPartitions — the shuffled-shard write every
   *  training pipeline does — and nShards grows with the corpus, so the
   *  per-shard sort stays bounded (no global ORDER BY exists in the
   *  plan). */
  def shuffleShards(docs: DataFrame, nShards: Int, salt: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h").asc, col("doc_id").asc)
    docs
      .select(col("doc_id"),
        call_function("md5prefix28",
          concat(lit(salt), col("doc_id").cast("string"))).as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Stratified corpus mixing: per-language sampling rates (domain
   *  re-weighting). Language comes from the n-gram langid; unlisted
   *  languages fall back to `defaultPermille`. One scan, no shuffle
   *  beyond langid's own token aggregate. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
      defaultPermille: Int): DataFrame = {
    val lang = TextAnalysis.langid(docs).select(col("doc_id"), col("pred_lang"))
    val permille = rates.foldLeft(lit(defaultPermille)) { case (acc, (l, p)) =>
      when(col("pred_lang") === l, lit(p)).otherwise(acc)
    }
    docs.join(lang, "doc_id")
      .filter(pmod(call_function("md5prefix28", col("doc_id").cast("string")),
        lit(1000)) < permille)
      .select((docs.columns.map(col) :+ col("pred_lang")): _*)
  }

  /** Mix a corpus to TARGET domain proportions — the data-mixture
   *  recipe step of every pretraining corpus build (the fixed-weight
   *  baseline DoReMi reweights, Xie et al. 2023): given per-domain
   *  target shares (permille, over `domainCol`), emit the LARGEST
   *  corpus whose composition matches them EXACTLY. The feasible total
   *  is bounded by the scarcest domain relative to its share,
   *  `T = min_d floor(n_d·1000/p_d)`; each listed domain then
   *  contributes exactly `floor(p_d·T/1000)` docs (its hash-ranked
   *  head — reproducible, re-salted by changing nothing but the hash
   *  input) and unlisted domains drop. All-integer arithmetic: counts,
   *  the feasible minimum, and the quotas replay exactly in any engine.
   *
   *  Plan: the per-domain counts are one tiny aggregate (|domains|
   *  rows) broadcast back onto the scan; the exact-count cut is a
   *  per-domain rank window ordered by (hash, doc_id). That window
   *  sorts each domain partition — the standard price of EXACT quotas
   *  (quotas are data-dependent, so no WindowGroupLimit literal
   *  applies); domains sort in parallel, and a skew-heavy corpus can
   *  pre-shard the rank like [[pack]] does. When binomial noise in the
   *  proportions is acceptable, [[stratifiedSample]] is the sort-free
   *  sibling (hash-threshold rates instead of ranked quotas). */
  def mixToProportions(docs: DataFrame, domainCol: String,
      targets: Map[String, Int]): DataFrame = {
    require(targets.nonEmpty, "mixToProportions needs at least one target share")
    require(targets.values.forall(p => p > 0 && p <= 1000), "shares are permille in (0, 1000]")
    require(targets.values.sum <= 1000, "target shares must sum to <= 1000 permille")
    val dom = col(domainCol)
    val listed = docs.filter(dom.isin(targets.keys.toSeq: _*))
    // counts LEFT-join from the target table, absent domains counting 0:
    // a listed domain with no docs forces the feasible total to 0 (no
    // corpus can match its share) instead of silently dropping out of
    // the min — the contract is EXACT composition, not best-effort
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val tg = targets.toSeq.map { case (s0, p) => (s0, p.toLong) }.toDF("__dom", "__p")
    val counts = tg.join(
        listed.groupBy(dom.as("__dom")).agg(count(lit(1)).as("__n")),
        Seq("__dom"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    // the feasible total and per-domain quotas: a 1-row aggregate of a
    // |domains|-row frame, broadcast back onto the corpus scan
    // FLOOR division, matching the documented `floor(n·1000/p)` contract
    // (Spark's `/` on longs is double true-division: counts 40/10/30 at
    // shares 500/300/200 would give B a rank bound of 10.0 instead of
    // the exact quota 9 — the composition would no longer be exact)
    val total = counts.agg(min(floor(col("__n") * 1000L / col("__p"))).cast("long").as("__t"))
    val quotas = counts.crossJoin(broadcast(total))
      .select(col("__dom"), floor(col("__p") * col("__t") / 1000L).cast("long").as("__quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dom).orderBy(col("__h").asc, col("doc_id").asc)
    listed
      .select(col("doc_id"), dom,
        call_function("md5prefix28", col("doc_id").cast("string")).as("__h"))
      .withColumn("__rank", row_number().over(w).cast("long"))
      .join(broadcast(quotas), dom === col("__dom"))
      .filter(col("__rank") <= col("__quota"))
      .select(col("doc_id"), dom)
  }

  /** Sequence packing (contiguous fill): documents, in doc_id order, fill
   *  context bins of `budgetTokens`; a doc lands in the bin where its
   *  token span begins. Packing runs per HASH shard —
   *  `md5prefix28(doc_id) % nShards`, the same reproducible hash as
   *  [[hashSample]] — so the prefix-sum window parallelizes (a single
   *  global ORDER BY window would serialize the whole corpus through one
   *  task) AND shard sizes stay balanced whatever the id space looks
   *  like (a `doc_id / shardEvery` range shard skews under sparse or
   *  clustered ids). Within a shard, docs still pack in doc_id order;
   *  bins are (shard, bin) pairs, and the only waste vs a global pack is
   *  ≤ 1 partial bin per shard. */
  def pack(docs: DataFrame, budgetTokens: Long, nShards: Int = 1024): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard",
        pmod(call_function("md5prefix28", col("doc_id").cast("string")), lit(nShards.toLong)))
      .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        (col("__before") / lit(budgetTokens)).cast("long").as("bin"),
        pmod(col("__before"), lit(budgetTokens)).as("bin_offset"))
  }

  /** The loader-facing inverse of [[pack]]: one row per (shard, bin)
   *  training sequence with its document-boundary index — the ordered
   *  `doc_id:offset` list a data loader needs to mask attention across
   *  document boundaries inside a packed sequence. Boundaries list the
   *  docs STARTING in the bin (a doc overrunning the budget spills into
   *  the next bin's token stream, [[pack]]'s contiguous-span contract).
   *  One hash aggregate over pack's output; the in-sequence order is a
   *  deterministic sort of the collected (offset, doc_id) pairs, never
   *  partition order. */
  def packIndex(docs: DataFrame, budgetTokens: Long, nShards: Int = 1024): DataFrame =
    pack(docs, budgetTokens, nShards)
      .groupBy(col("shard"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        concat_ws(",",
          transform(array_sort(collect_list(struct(col("bin_offset"), col("doc_id")))),
            s => concat_ws(":", s.getField("doc_id"), s.getField("bin_offset"))))
          .as("boundaries"))

  /** Domain-balanced selection: the top `k` documents per predicted
   *  language by quality score — "keep the best N per domain", the
   *  budgeted flavor of stratified mixing. Ordering is (score desc,
   *  doc_id asc): the score is a deterministic per-row FP expression of
   *  exact integer ratios, so both engines rank identically.
   *
   *  The rank filter compiles to Spark's WindowGroupLimit: each map task
   *  keeps only its local top-k per language BEFORE the shuffle, so the
   *  per-language partition never sees more than k·tasks rows — without
   *  it a per-domain window would funnel every document of a language
   *  through one task (languages are few and huge at corpus scale). */
  def topKByDomain(docs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang"))
      .orderBy(col("__score").desc, col("doc_id").asc)
    // fused langid+quality: ONE tokenize pass and no doc_id self-join
    // (the two-pass + join shape measured 49 s at the 500k-doc probe
    // point; the aggregates are exact integers, so output is unchanged)
    TextAnalysis.langQuality(docs)
      .select(col("doc_id"), col("pred_lang"), col("quality_score").as("__score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("pred_lang"), col("rank"),
        round(col("__score"), 4).as("quality_score"))
  }

  /** Fixed-window chunking — the complement of [[pack]]: where pack
   *  concatenates short documents into bins, chunk SPLITS each document's
   *  token stream into consecutive `budgetTokens`-sized windows (the
   *  standard preprocessing for context-length-bounded training when
   *  documents exceed the window). Emits one row per (doc, chunk) with
   *  the chunk's token count and an md5 fingerprint of its joined
   *  tokens.
   *
   *  Pure per-row generation: explode of a `sequence` over the chunk
   *  count, then codegen'd `slice`/`concat_ws`/`md5` — no shuffle at
   *  all; at 100 TB this is a map over the scan. */
  def chunk(docs: DataFrame, budgetTokens: Int): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(0),
          ((size(col("__t")) - 1) / lit(budgetTokens)).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("__t"), col("chunk_id") * lit(budgetTokens) + 1, lit(budgetTokens)).as("__c"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("__c")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__c"))).as("chunk_fp"))
  }

  /** Overlapping (strided) chunking — [[chunk]] generalized to
   *  `stride < window`: chunk `i` covers tokens
   *  `[i·stride + 1, i·stride + window]`, so consecutive training
   *  windows share `window − stride` tokens of context (the standard
   *  sliding-window preprocessing when split-point context loss
   *  matters). `stride = window` degenerates to [[chunk]] exactly.
   *  Same scale shape as chunk: explode + codegen'd slice/md5, no
   *  shuffle — a map over the scan, O(tokens / stride) output rows. */
  def chunkStrided(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0, "window must be positive")
    require(stride > 0 && stride <= window, "stride in [1, window]")
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(0),
          ((size(col("__t")) - 1) / lit(stride)).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * lit(stride)).cast("long").as("start_pos"),
        size(slice(col("__t"), col("chunk_id") * lit(stride) + 1, lit(window)))
          .cast("long").as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("__t"), col("chunk_id") * lit(stride) + 1, lit(window)))).as("chunk_fp"))
  }

  /** Temperature-weighted domain mixing (the multilingual-pretraining
   *  re-balancing rule: sample domain `s` proportionally to `n_s^α`,
   *  α = 0.5, so small domains are up-weighted relative to their raw
   *  share). Per-domain keep rate = `⌊base · √(n_min / n_s)⌋` permille —
   *  the rarest domain samples at `base`, a domain 4× its size at
   *  `base/2` — applied through the same deterministic md5 keep rule as
   *  [[hashSample]], so membership is a pure function of (corpus
   *  domain histogram, doc_id).
   *
   *  α is fixed at ½ **because the rate must be engine-replayable**:
   *  `sqrt`, division, and multiply are IEEE-754 correctly-rounded in
   *  both Spark and the oracle, so the floored permille is bit-stable;
   *  an arbitrary-α `pow()` carries last-ulp license across libm
   *  implementations, which on a rate boundary flips membership.
   *
   *  Scale: the domain histogram is one hash aggregate (domains are
   *  few); rates broadcast back; the keep filter is per-row — one scan,
   *  no doc-keyed shuffle. */
  def temperatureSample(docs: DataFrame, byCol: String, basePermille: Int): DataFrame = {
    require(basePermille >= 0 && basePermille <= 1000, "basePermille in [0, 1000]")
    // ONE aggregation pass: the global min rides an unpartitioned window
    // over the (tiny, ≤ #domains rows) histogram — a separate
    // counts.agg(min) subplan would recompute the histogram from a
    // second full scan of docs (measured 3.04× at 10× data; 1.04× with
    // the shared pass)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val rates = docs.groupBy(col(byCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__n_min", min(col("__n")).over(wAll))
      .select(col(byCol),
        floor(lit(basePermille) *
          sqrt(col("__n_min").cast("double") / col("__n").cast("double")))
          .cast("long").as("rate_permille"))
    docs.join(broadcast(rates), byCol)
      .filter(pmod(call_function("md5prefix28", col("doc_id").cast("string")),
        lit(1000)) < col("rate_permille"))
      .select(col("doc_id"), col(byCol), col("rate_permille"))
  }

  /** CCNet-style corpus partition into head / middle / tail by quality
   *  (Wenzek et al. 2020 split by perplexity tercile; here the rank
   *  signal is the deterministic quality score, so both engines rank
   *  identically with no FP-order caveat — the score is per-row exact
   *  integer ratios). `headPermille` of documents land in `head` (the
   *  best), `tailPermille` in `tail` (the worst), the rest in `middle`.
   *
   *  Scale shape — NO global per-doc ORDER BY (that serializes the
   *  corpus through one task): the cumulative rank structure lives on
   *  the DISTINCT-score histogram ([[selectByTokenBudget]]'s device), a
   *  ≤ ~10⁴-row table whatever the corpus size. A score bucket is
   *  assigned WHOLE by where it STARTS — `head` if its preceding doc
   *  count is inside the head budget, `tail` if it starts inside the
   *  tail zone — with all comparisons in exact integer arithmetic
   *  (`before · 1000 < total · permille`), so the oracle replays the
   *  boundary bit-for-bit. Docs then broadcast-join their score's
   *  bucket: one scan, one tiny histogram, no doc-keyed shuffle. */
  def qualityBuckets(docs: DataFrame, headPermille: Int, tailPermille: Int): DataFrame = {
    require(headPermille >= 0 && tailPermille >= 0 &&
      headPermille + tailPermille <= 1000, "permilles in [0, 1000], sum ≤ 1000")
    val scored = TextAnalysis.quality(docs)
      .select(col("doc_id"), round(col("quality_score"), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("__n"))
      .withColumn("__before", coalesce(sum(col("__n")).over(w), lit(0L)))
    val total = scored.agg(count(lit(1)).as("__total"))
    val buckets = hist.crossJoin(broadcast(total))
      .select(col("score"),
        when(col("__before") * 1000 < col("__total") * headPermille, lit("head"))
          .when(col("__before") * 1000 >= col("__total") * (1000 - tailPermille), lit("tail"))
          .otherwise(lit("middle")).as("bucket"))
    scored.join(broadcast(buckets), "score")
      .select(col("doc_id"), col("score").as("quality_score"), col("bucket"))
  }

  /** Quality-weighted epoch repetition — the "data recipe" step that
   *  upsamples high-quality data by REPEATING it across training
   *  epochs (the multi-epoch curriculum of Gopher/LLaMA-style mixes:
   *  best bucket seen `headEpochs`×, middle `middleEpochs`×, tail
   *  `tailEpochs`× — 0 drops the bucket): one (doc_id, epoch) row per
   *  scheduled appearance, with a per-epoch shuffle salt so every
   *  epoch re-deals its order downstream ([[shuffleShards]] on
   *  salt = epoch). Bucket assignment is [[qualityBuckets]]' exact
   *  integer-boundary histogram; the fan-out is a codegen'd
   *  explode(sequence()) — a pure projection, no new shuffle at any
   *  corpus size (output rows ∝ Σ epochs, the intended cost of
   *  repetition). */
  def epochSchedule(docs: DataFrame, headPermille: Int, tailPermille: Int,
      headEpochs: Int, middleEpochs: Int, tailEpochs: Int): DataFrame = {
    require(headEpochs >= 0 && middleEpochs >= 0 && tailEpochs >= 0,
      "epoch counts must be >= 0")
    val reps = when(col("bucket") === "head", headEpochs)
      .when(col("bucket") === "middle", middleEpochs)
      .otherwise(tailEpochs)
    qualityBuckets(docs, headPermille, tailPermille)
      .withColumn("__reps", reps)
      .filter(col("__reps") >= 1)
      .select(col("doc_id"), col("bucket"),
        explode(sequence(lit(1), col("__reps"))).as("epoch"))
  }

  /** Benchmark decontamination: which training documents share word-
   *  trigram shingles with an evaluation set? Emits one row per
   *  (train doc, eval doc) pair whose DISTINCT-shingle overlap reaches
   *  `minOverlap`, with the overlap fraction of the eval doc's shingle
   *  set — the standard n-gram-collision eval-leak detector a
   *  pretraining pipeline runs before training.
   *
   *  Shape at 100 TB: both sides explode to (doc, shingle) rows and meet
   *  in ONE equi-join keyed by the shingle — shuffle O(total shingles),
   *  never |train| × |eval|. A shingle appearing in huge numbers of
   *  documents fans the join out quadratically AND carries no
   *  contamination signal (it is corpus boilerplate), so `maxDf` drops
   *  shingles whose document frequency exceeds the cap before the join —
   *  the same skew-cap convention as [[Dedup.candidates]], off by
   *  default so the oracle-checked path is exhaustive. */
  def decontaminate(docs: DataFrame, isEval: org.apache.spark.sql.Column,
      minOverlap: Long = 2, maxDf: Int = Int.MaxValue): DataFrame = {
    // isEval is evaluated against the full DOCUMENT row (so predicates
    // over any doc column — a source flag, a dataset name — work) and
    // rides the shingle window as a per-doc column: no join back needed
    val sh0 = Dedup.shingleRowsKeeping(
      docs.withColumn("__is_eval", isEval), Seq("__is_eval"))
    val sh =
      if (maxDf == Int.MaxValue) sh0
      else {
        val rare = sh0.groupBy(col("s")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select("s")
        sh0.join(rare, Seq("s"), "left_semi")
      }
    val ev = sh.filter(col("__is_eval") === true)
      .select(col("doc_id").as("eval_id"), col("s"))
    val tr = sh.filter(col("__is_eval") === false)
      .select(col("doc_id").as("train_id"), col("s"))
    val overlap = tr.join(ev, "s")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_overlap"))
    val evalSizes = ev.groupBy(col("eval_id")).agg(count(lit(1)).as("__n_eval"))
    overlap.join(evalSizes, "eval_id")
      .filter(col("n_overlap") >= minOverlap)
      .select(col("train_id"), col("eval_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("__n_eval").cast("double")).as("overlap_frac"))
  }

  /** N-gram novelty vs a reference corpus: per new document, the
   *  fraction of its distinct trigram shingles the reference has never
   *  seen — the incremental-crawl quality signal ("how much of this
   *  snapshot is actually new text?") that complements
   *  [[Dedup.dedupAgainstReference]]'s binary keep/drop.
   *
   *  Shape: the reference collapses to a DISTINCT shingle set (each key
   *  once on the build side, so the left join fans out by the NEW side's
   *  own shingle count only — no quadratic blowup on boilerplate), and
   *  one hash aggregate per doc counts misses. Counts are exact
   *  integers; the novelty ratio is one IEEE division of exact ints —
   *  bit-identical across engines, no rounding needed. */
  def novelty(newDocs: DataFrame, refDocs: DataFrame): DataFrame = {
    val newSh = Dedup.shingleRows(newDocs)
    val refSh = Dedup.shingleRows(refDocs).select(col("s")).distinct()
    newSh.join(refSh.withColumn("__seen", lit(1)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1).otherwise(0)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** The REMOVAL half of substring-level dedup ([[Dedup.duplicateSpans]]
   *  detects; this scrubs — Lee et al. 2022 drop every repeated
   *  substring occurrence but one and show the model memorizes less):
   *  each document's token stream is cut on the disjoint `window`-token
   *  block grid ([[chunk]]'s grid), and of all blocks sharing a
   *  fingerprint corpus-wide only the canonical occurrence — smallest
   *  (doc_id, block) — survives. Emits surviving docs with their kept
   *  token stream's fingerprint and kept/dropped block counts; a fully
   *  duplicated document (every block seen earlier) drops out entirely,
   *  which is exactly doc-level exact dedup falling out as the
   *  degenerate case.
   *
   *  Scale shape, all linear in corpus tokens. The canonical-survivor
   *  aggregate (`min(struct)` per fingerprint, map-side partials) sees
   *  only (fingerprint, doc_id, bid) — ~24 bytes/row. Survivor rows
   *  keep the window text they were sliced with and regroup per doc in
   *  ONE hash aggregate, so text crosses exactly one exchange, bounded
   *  by the kept (≤ full) corpus size — there is no doc_id-keyed
   *  re-join against the token arrays, no second tokenize pass, and no
   *  sort-merge of array columns. (The first cut shipped every block's
   *  text through BOTH the fingerprint aggregate and the rebuild
   *  shuffle — a measured ~44 s constant at the 500k-doc probe point;
   *  the second cut re-joined full token arrays on doc_id and
   *  re-sliced them — still ~33 s; this shape measures ~13 s.) */
  def removeDuplicateSpans(docs: DataFrame, window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
    val blocks = toks
      .select(col("doc_id"),
        (((size(col("__t")) - 1) / lit(window)).cast("int") + 1).cast("long").as("__nb"),
        col("__t"),
        explode(sequence(lit(0),
          ((size(col("__t")) - 1) / lit(window)).cast("int"))).as("bid"))
      .select(col("doc_id"), col("__nb"), col("bid").cast("long").as("bid"),
        concat_ws(" ",
          slice(col("__t"), col("bid") * lit(window) + 1, lit(window))).as("__c"),
        least(lit(window), size(col("__t")) - col("bid") * lit(window))
          .cast("long").as("__ntok"))
      .withColumn("__fp", md5(col("__c")))
    val canon = blocks.select("__fp", "doc_id", "bid").groupBy(col("__fp"))
      .agg(min(struct(col("doc_id"), col("bid"))).as("__canon"))
    // docs with zero kept blocks drop out of the groupBy entirely — the
    // fully-duplicated-doc case
    blocks.join(canon, "__fp")
      .filter(col("doc_id") === col("__canon.doc_id") && col("bid") === col("__canon.bid"))
      .groupBy(col("doc_id"))
      .agg(
        first(col("__nb")).as("__nb"),
        count(lit(1)).as("n_blocks_kept"),
        sum(col("__ntok")).as("n_tokens_kept"),
        sort_array(collect_list(struct(col("bid"), col("__c")))).as("__kept"))
      .select(col("doc_id"), col("n_blocks_kept"),
        (col("__nb") - col("n_blocks_kept")).as("n_blocks_dropped"),
        col("n_tokens_kept"),
        md5(concat_ws(" ", transform(col("__kept"), k => k("__c")))).as("kept_hash"))
  }

  /** Each document's exact-dup canonical id: its normalized-content md5
   *  joined to [[Dedup.exact]]'s groups, as (doc_id, canonical_id). */
  private def exactCanonical(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(Dedup.normalized(col("text"))).as("__h"))
      .join(Dedup.exact(docs).select(col("content_hash").as("__h"), col("canonical_id")), "__h")
      .select(col("doc_id"), col("canonical_id"))

  /** One-row corpus funnel report — the "data card" numbers a pipeline
   *  publishes with every corpus build: doc counts at each gate
   *  (quality, exact-dup canonical, near-dup survivor) and token totals
   *  before/after. Each number is a single-row aggregate of an
   *  already-oracle-checked stage; the 1-row frames meet in broadcast
   *  crossJoins, so the report costs one pass per stage and no extra
   *  shuffles at any scale. */
  def report(docs: DataFrame, nearThreshold: Double): DataFrame = {
    val withTok = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("__n_tok"))
    val totals = withTok.agg(
      count(lit(1)).as("n_docs"), sum(col("__n_tok")).as("tokens_total"))
    val quality = TextAnalysis.quality(docs).select(col("doc_id"), col("keep"))
    val canonical = exactCanonical(docs)
    // ONE cluster collapse serves both the cluster stats and the
    // survivor gate (calling select() here would run the whole LSH +
    // propagation a second time — measured at ~2 s of pure duplicate
    // work at sf0.1); the labels frame is checkpointed, so both readers
    // hit materialized data
    val clusterFrame = Dedup.duplicateClusters(Dedup.nearDuplicates(docs, nearThreshold))
    val nQuality = quality
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep_quality"))
    val nCanonical = Dedup.exact(docs)
      .agg(count(lit(1)).as("n_exact_canonical"))
    val clusters = clusterFrame
      .agg(count(lit(1)).as("n_clustered_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
    // same survivor predicate as [[select]], over the shared frames
    val selected = docs.select(col("doc_id"))
      .join(quality, "doc_id")
      .join(canonical, "doc_id")
      .join(clusterFrame, Seq("doc_id"), "left")
      .filter(col("keep") &&
        col("canonical_id") === col("doc_id") &&
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id")))
      .join(withTok, "doc_id")
      .agg(count(lit(1)).as("n_selected"), sum(col("__n_tok")).as("tokens_selected"))
    totals
      .crossJoin(broadcast(nQuality))
      .crossJoin(broadcast(nCanonical))
      .crossJoin(broadcast(clusters))
      .crossJoin(broadcast(selected))
  }

  /** Surviving documents with their quality score. A doc survives iff
   *  its quality gate passes, it is its content group's canonical (min
   *  doc_id), and it is not a non-representative member of a near-dup
   *  cluster. */
  /** Token-budget selection — "take the BEST documents until the budget
   *  is spent", the data-mixing primitive behind per-source token
   *  allocations. A document is selected iff the cumulative token count
   *  of all strictly-better documents (quality desc, doc_id asc
   *  tiebreak) is still below `budgetTokens` — i.e. its span BEGINS
   *  inside the budget, the same landing rule as [[pack]].
   *
   *  Scale shape: NO global ORDER BY over documents (that serializes
   *  the corpus through one task). The quality score is snapped to a
   *  4-decimal grid, so the global cumulative structure lives on the
   *  DISTINCT-score histogram — a table of at most ~10⁴ rows whatever
   *  the corpus size — which sorts and prefix-sums in one tiny task;
   *  docs join their score bucket (broadcast) and only the single
   *  BOUNDARY bucket needs a per-doc prefix sum, windowed WITHIN that
   *  bucket (bounded by the docs sharing one exact score). */
  def selectByTokenBudget(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val scored = TextAnalysis.quality(docs)
      .select(col("doc_id"), round(col("quality_score"), 4).as("score"))
      .join(docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
    // distinct-score histogram: tokens per score, prefix-summed best-first
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val hist = scored.groupBy(col("score"))
      .agg(sum(col("n_tokens")).as("__bucket_tokens"))
      .withColumn("__before_bucket", coalesce(sum(col("__bucket_tokens")).over(w), lit(0L)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("score")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val joined = scored.join(
      broadcast(hist.select(col("score"), col("__bucket_tokens"), col("__before_bucket"))),
      "score")
    // fully-funded buckets (bucket ends inside the budget) are selected
    // WHOLE — no per-doc window at all; beyond-budget buckets drop in the
    // same filter. ONLY the single budget-straddling bucket computes a
    // per-doc prefix, windowed within that one score partition — so a
    // degenerate corpus where most docs share one snapped score funnels
    // at most the straddling bucket (never the whole corpus) through one
    // task, and only when that shared score IS the boundary.
    val funded = joined
      .filter(col("__before_bucket") + col("__bucket_tokens") <= budgetTokens)
    val straddling = joined
      .filter(col("__before_bucket") < budgetTokens &&
        col("__before_bucket") + col("__bucket_tokens") > budgetTokens)
      .withColumn("__before",
        col("__before_bucket") + coalesce(sum(col("n_tokens")).over(wb), lit(0L)))
      .filter(col("__before") < budgetTokens)
    val out = (df: DataFrame) =>
      df.select(col("doc_id"), col("n_tokens"), col("score").as("quality_score"))
    out(funded).unionByName(out(straddling))
  }

  /** Per-domain token-budget selection — the data-mixing primitive: each
   *  predicted language fills its OWN `budgetTokens` with its best-
   *  quality docs, so no domain can starve another regardless of size
   *  skew. Same histogram design as [[selectByTokenBudget]] with every
   *  aggregate and window additionally keyed by domain: the cumulative
   *  structure lives on the (domain, distinct-score) histogram (≤
   *  |domains|·10⁴ rows, broadcast back), fully-funded buckets select
   *  whole, and only each domain's single budget-straddling bucket pays
   *  a per-doc prefix window. Language and score come from ONE fused
   *  token aggregate ([[TextAnalysis.langQuality]]). */
  def selectByTokenBudgetByDomain(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    // pred_lang, score AND the token count all come from the one fused
    // aggregate — no second tokenize pass, no doc_id join
    val scored = TextAnalysis.langQuality(docs)
      .select(col("doc_id"), col("pred_lang"),
        round(col("quality_score"), 4).as("score"), col("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang")).orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val hist = scored.groupBy(col("pred_lang"), col("score"))
      .agg(sum(col("n_tokens")).as("__bucket_tokens"))
      .withColumn("__before_bucket", coalesce(sum(col("__bucket_tokens")).over(w), lit(0L)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang"), col("score")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val joined = scored.join(
      broadcast(hist.select(col("pred_lang"), col("score"),
        col("__bucket_tokens"), col("__before_bucket"))),
      Seq("pred_lang", "score"))
    val funded = joined
      .filter(col("__before_bucket") + col("__bucket_tokens") <= budgetTokens)
    val straddling = joined
      .filter(col("__before_bucket") < budgetTokens &&
        col("__before_bucket") + col("__bucket_tokens") > budgetTokens)
      .withColumn("__before",
        col("__before_bucket") + coalesce(sum(col("n_tokens")).over(wb), lit(0L)))
      .filter(col("__before") < budgetTokens)
    val out = (df: DataFrame) =>
      df.select(col("doc_id"), col("pred_lang"), col("n_tokens"),
        col("score").as("quality_score"))
    out(funded).unionByName(out(straddling))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis
   *  exponential keys, DERANDOMIZED): each row draws
   *  `e = -ln(u) / weight` where `u` is a hash-uniform in (0,1] from
   *  the row's key (+ salt), and the k SMALLEST draws win — the
   *  distributed one-pass equivalent of weighted reservoir sampling,
   *  with selection probability proportional to `weight`. The hash
   *  replaces the RNG, so the sample is a pure function of
   *  (key, salt): stable across reruns, partitionings, and engines —
   *  the [[hashSample]] reproducibility contract, now weighted.
   *
   *  The draw rounds to 8 decimals before ranking (key tiebreak), so
   *  the cut replays cross-engine. Plan: a per-row projection + ONE
   *  TakeOrderedAndProject — each task keeps a local top-k, no global
   *  sort, no shuffle beyond the k-row collect. */
  def weightedSample(df: DataFrame, key: org.apache.spark.sql.Column,
      weight: org.apache.spark.sql.Column, k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"weightedSample needs k >= 1, got $k")
    val u = (call_function("md5prefix28", concat(key.cast("string"), lit(salt))) + 1)
      .cast("double") / lit((1L << 28).toDouble + 1)
    val draw = round(-log(u) / weight, 8)
    df.withColumn("__draw", draw)
      .orderBy(col("__draw").asc, key.asc)
      .limit(k)
      .drop("__draw")
  }

  /** CCNet-style per-language perplexity bucketing (Wenzek et al. 2020):
   *  each document's LM fluency ([[TextAnalysis.bigramLogProb]] average
   *  bigram log-probability — higher = more fluent) buckets it into
   *  head / middle / tail WITHIN its predicted language, and the tail
   *  is dropped (`keep`). This is the canonical web-corpus cleaning
   *  recipe: per-language thresholds, so low-resource languages are
   *  bucketed against their own distribution, never against English's.
   *  Documents with fewer than 2 tokens have no bigram score and are
   *  excluded (both engines drop them identically).
   *
   *  Scale shape: same distinct-score histogram design as
   *  [[qualityBuckets]], additionally keyed by language — the bucket
   *  boundary table is ≤ |langs| × 10⁴ rows whatever the corpus size
   *  and BROADCASTS back onto the scored docs; no global per-doc sort
   *  anywhere. Scores snap to a 4-decimal grid so the bucket landing
   *  rule is whole-bucket and engine-replayable. */
  def perplexityBuckets(docs: DataFrame, headPermille: Int = 333,
      tailPermille: Int = 333): DataFrame = {
    require(headPermille >= 0 && tailPermille >= 0 &&
      headPermille + tailPermille <= 1000, "permilles in [0, 1000], sum ≤ 1000")
    val lang = TextAnalysis.langid(docs).select(col("doc_id"), col("pred_lang"))
    // scored feeds BOTH the boundary histogram and the output join; the
    // LM + langid scoring is the expensive part, so persist the narrow
    // (doc_id, score, pred_lang) frame — 3 columns, ~24 B/row — rather
    // than recompute two tokenize passes (the kmeans-assignments
    // precedent; measured 5.6 s → 4.6 s at sf0.1 — the remainder is the
    // one LM + langid scoring pass itself, which probes linear)
    val scored = TextAnalysis.bigramLogProb(docs)
      .select(col("doc_id"), round(col("avg_logprob2"), 4).as("score"))
      .join(lang, "doc_id")
      .persist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang")).orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val hist = scored.groupBy(col("pred_lang"), col("score")).agg(count(lit(1)).as("__n"))
      .withColumn("__before", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__total", sum(col("__n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("pred_lang"))))
    val buckets = hist.select(col("pred_lang"), col("score"),
      when(col("__before") * 1000 < col("__total") * headPermille, lit("head"))
        .when(col("__before") * 1000 >= col("__total") * (1000 - tailPermille), lit("tail"))
        .otherwise(lit("middle")).as("bucket"))
    scored.join(broadcast(buckets), Seq("pred_lang", "score"))
      .select(col("doc_id"), col("pred_lang"), col("score").as("lm_logprob"),
        col("bucket"), (col("bucket") =!= "tail").as("keep"))
  }

  /** DSIR-style data selection with importance resampling (Xie et al.
   *  2023, "Data Selection for Language Models via Importance
   *  Resampling"): score each RAW-pool document by how much more likely
   *  its hashed unigram features are under the TARGET distribution
   *  (docs matching `targetPred`) than under the raw pool, and keep the
   *  `k` highest-scoring raw docs. Features are md5-prefix token hashes
   *  folded into `buckets` buckets; per-bucket importance weight is the
   *  add-one-smoothed log-likelihood ratio
   *  `ln( ((ct+1)/(Nt+B)) / ((cr+1)/(Nr+B)) )`, and a doc's score is
   *  the sum of its token occurrences' weights (the paper's log
   *  importance weight; its Gumbel noise is dropped for a deterministic
   *  top-k — rank ties break by doc_id).
   *
   *  Determinism: weights quantize to integer 1e-4 units (one ln + one
   *  round per BUCKET, not per token), so every per-doc score is an
   *  exact integer sum — no FP accumulation order anywhere; the oracle
   *  replays the identical integer arithmetic.
   *
   *  Scale shape: the side label rides the doc row INTO the token
   *  explode (no token-table join); bucket stats are one hash aggregate
   *  down to `buckets` rows; the ≤`buckets`-row weight table BROADCASTS
   *  onto the token stream (map-side, no skew — every token of a 100 TB
   *  corpus joins against 4096 rows); the ranked cut is
   *  TakeOrderedAndProject (per-task local top-k, only k rows leave any
   *  partition). */
  def dsirSelect(docs: DataFrame, targetPred: org.apache.spark.sql.Column, k: Int,
      buckets: Int = 4096): DataFrame = {
    require(k >= 1, s"dsirSelect needs k >= 1, got $k")
    require(buckets >= 2, s"dsirSelect needs >= 2 hash buckets, got $buckets")
    val tkb = docs
      .select(col("doc_id"), targetPred.as("__t"),
        explode(TextAnalysis.tokens(col("text"))).as("tk"))
      .withColumn("__b", pmod(call_function("md5prefix28", col("tk")), lit(buckets)))
    val stats = tkb.groupBy(col("__b")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__cr"))
    val totals = stats.agg(
      sum(col("__ct")).as("__nt"), sum(col("__cr")).as("__nr"))
    val pT = (col("__ct") + 1).cast("double") / (col("__nt") + buckets).cast("double")
    val pR = (col("__cr") + 1).cast("double") / (col("__nr") + buckets).cast("double")
    val weights = stats.crossJoin(broadcast(totals))
      .select(col("__b"), round(log(pT / pR) * 10000).cast("long").as("__w"))
    tkb.filter(!col("__t"))
      .join(broadcast(weights), "__b")
      .groupBy(col("doc_id"))
      .agg(sum(col("__w")).as("__s"), count(lit(1)).as("n_tokens"))
      .orderBy(col("__s").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_tokens"),
        (col("__s").cast("double") / 10000.0).as("dsir_score"))
  }

  def select(docs: DataFrame, nearThreshold: Double): DataFrame = {
    val quality = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("quality_score"), col("keep"))
    val canonical = exactCanonical(docs)
    val clusters = Dedup.duplicateClusters(Dedup.nearDuplicates(docs, nearThreshold))
    docs.select(col("doc_id"))
      .join(quality, "doc_id")
      .join(canonical, "doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .filter(col("keep") &&
        col("canonical_id") === col("doc_id") &&
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id")))
      .select(col("doc_id"), col("quality_score"))
  }

  /** [[select]] with a QUALITY-AWARE near-dup representative: each
   *  near-dup cluster keeps its highest-quality member instead of the
   *  cluster ROOT (which is an artifact of id ordering) — when
   *  collapsing duplicates of a page, keep the best copy, not an
   *  arbitrary one. The representative ranks on (round4(score) desc,
   *  doc_id asc) — the 4-decimal snap is what makes the argmax
   *  cross-engine replayable — and is chosen over ALL cluster members
   *  as ONE max_by hash aggregate (|clusters| output rows, map-side
   *  combining; never a per-cluster sort of the corpus). The quality
   *  and exact-canonical gates then apply to the chosen member, the
   *  [[select]] posture. */
  def selectBestPerCluster(docs: DataFrame, nearThreshold: Double): DataFrame = {
    val quality = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("quality_score"), col("keep"))
    val canonical = exactCanonical(docs)
    val clusters = Dedup.duplicateClusters(Dedup.nearDuplicates(docs, nearThreshold))
    val best = clusters
      .join(quality.select(col("doc_id"), col("quality_score")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(round(col("quality_score"), 4).as("q"), (-col("doc_id")).as("nid")))
        .as("best_id"))
    docs.select(col("doc_id"))
      .join(quality, "doc_id")
      .join(canonical, "doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .join(best, Seq("cluster_id"), "left")
      .filter(col("keep") &&
        col("canonical_id") === col("doc_id") &&
        (col("cluster_id").isNull || col("best_id") === col("doc_id")))
      .select(col("doc_id"), col("quality_score"))
  }
}
