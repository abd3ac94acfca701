package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators: exact (content-hash), MinHash-LSH near-dup,
 * and exact n-gram Jaccard over LSH candidates.
 *
 * Scale design (the part that matters at 100 TB):
 *  - Exact dedup is one hash-groupBy on a 16-byte digest — partial
 *    aggregation collapses duplicates map-side before the shuffle.
 *  - Near-dup NEVER does all-pairs. Candidate pairs come from LSH
 *    banding: each doc emits [[HashConstants.NumBands]] (band, key)
 *    rows; the self-join is on the band key, so only docs agreeing on
 *    all rows of some band ever meet. Shuffle volume is
 *    O(docs × bands), not O(docs²).
 *  - Signatures are arrays of longs built from codegen'd expressions
 *    (md5 + integer arithmetic) — no UDFs, no python.
 */
object Dedup {
  import HashConstants._

  /** Whitespace-normalized lower-cased content — the exact-dup key
   *  domain. */
  def normalized(text: Column): Column =
    regexp_replace(trim(lower(text)), """\s+""", " ")

  /** Exact dedup: md5 over normalized content; one row per document with
   *  its content group's canonical id (min doc_id) and multiplicity. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(normalized(col("text"))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-trigram shingles of a document, as a Column (used in
   *  tests / small paths; the relational [[shingleRows]] is the engine
   *  path — HOF arrays fall out of codegen). */
  def shingles(text: Column): Column = {
    val t = TextAnalysis.tokens(text)
    array_distinct(
      transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
  }

  /** One row per distinct (doc_id, trigram shingle), built relationally:
   *  codegen'd split → slice/arrays_zip trigram projection
   *  ([[TextAnalysis.ngramStructs]]) → explode → distinct. Slice and
   *  ArraysZip are codegen'd, so the whole construction is one map over
   *  the scan with NO exchange and NO sort — the old lead()-window shape
   *  shuffled and sorted the entire token table by (doc, pos) before
   *  the distinct. (The HOF-array alternative — transform + explode —
   *  drops the generator out of whole-stage codegen and evaluates
   *  interpreted per row: measured ~10× slower at bench scale.) */
  def shingleRows(docs: DataFrame): DataFrame = shingleRowsKeeping(docs, Nil)

  /** As [[shingleRows]], carrying extra per-DOC columns through (free:
   *  per-doc columns don't change the distinct) — callers that need a
   *  doc attribute alongside each shingle avoid a join back to the doc
   *  table. */
  def shingleRowsKeeping(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    shingleRowsMulti(docs, keep)
      .select(col("doc_id") +: kept :+ col("s"): _*)
      .distinct()
  }

  /** Shingle rows WITHOUT the per-(doc, shingle) distinct — one pure
   *  projection, no exchange anywhere. Consumers whose math is
   *  duplicate-invariant (MinHash minima) use this directly: the
   *  distinct is a full shuffle of every shingle string, and min over a
   *  multiset equals min over its set, so the signature path paying it
   *  was pure waste (measured: the dominant stage of the capped
   *  candidates probe at the 500k-doc point). */
  private def shingleRowsMulti(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    docs
      .select(col("doc_id") +: kept :+
        explode(TextAnalysis.ngramStructs(col("text"), 3)).as("g"): _*)
      .select(col("doc_id") +: kept :+
        concat_ws(" ", col("g.w0"), col("g.w1"), col("g.w2")).as("s"): _*)
  }

  /** doc_id → MinHash signature (NumPerms minima of (a·h + b) mod P over
   *  the shingle hash set), for docs with ≥ 3 tokens.
   *
   *  Shape matters: explode → one codegen'd md5 per shingle → a single
   *  hash aggregate computing all NumPerms minima as independent agg
   *  expressions. The obvious alternative — higher-order `transform` /
   *  `array_min` over a shingle array column — falls out of whole-stage
   *  codegen (HOFs are interpreted) and recomputes the md5 per
   *  permutation: ~100× slower at bench scale.
   *
   *  Built over the NON-distinct shingle stream ([[shingleRowsMulti]]):
   *  each minimum is idempotent under duplicates, so results are
   *  bit-identical to the distinct-set definition while the plan drops
   *  the shingle-keyed distinct exchange entirely — the doc_id-keyed
   *  aggregate map-side-combines to ONE row per doc per partition (doc
   *  rows are never split across partitions), so the only shuffle left
   *  in signature construction moves ~|docs| signature rows. */
  def signatures(docs: DataFrame): DataFrame =
    signaturesFromShingles(shingleRowsMulti(docs))

  /** As [[signatures]], over a precomputed (doc_id, s) shingle table —
   *  callers that also need the shingles (the verify-after-LSH stage)
   *  compute them ONCE and share the frame across both consumers. */
  def signaturesFromShingles(shingles: DataFrame): DataFrame = {
    val hashed = shingles
      .select(col("doc_id"), TextAnalysis.baseHash(col("s")).as("h"))
    val minCols = (0 until NumPerms).map { i =>
      min((col("h") * lit(PermA(i)) + lit(PermB(i))) % lit(P)).as(s"__m$i")
    }
    hashed
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until NumPerms).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** As [[signaturesFromShingles]], additionally carrying each doc's
   *  shingle count `n` out of the SAME hash aggregate. The
   *  verify-after-LSH consumers ([[ngramJaccard]], [[minhashEval]]) need
   *  both the signature and the per-doc distinct-shingle total; computing
   *  the totals as a SEPARATE groupBy(doc_id) was a second full pass over
   *  the shingle table sharing the identical grouping key — two
   *  operations keyed the same way belong in one exchange. Only valid
   *  over a DISTINCT (doc_id, s) table ([[shingleRows]]): `n` counts the
   *  rows it is given. */
  private[graft] def signaturesAndCountsFromShingles(shingles: DataFrame): DataFrame = {
    val hashed = shingles
      .select(col("doc_id"), TextAnalysis.baseHash(col("s")).as("h"))
    val minCols = (0 until NumPerms).map { i =>
      min((col("h") * lit(PermA(i)) + lit(PermB(i))) % lit(P)).as(s"__m$i")
    }
    hashed
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail :+ count(lit(1)).as("n"): _*)
      .select(col("doc_id"),
        array((0 until NumPerms).map(i => col(s"__m$i")): _*).as("sig"),
        col("n"))
  }

  /** LSH banding S-curve planner — the analytical companion to
   *  [[minhashEval]]'s measured estimator quality: for each similarity
   *  `s` on a 0.05-step grid, the probability a pair at Jaccard `s`
   *  becomes an LSH candidate under (`numBands` bands × `rowsPerBand`
   *  rows) banding, P(candidate | s) = 1 − (1 − s^r)^b (the standard
   *  MinHash-LSH S-curve, Leskovec/Rajaraman/Ullman MMDS ch. 3), plus
   *  two closed-form summary points: `threshold_approx` = (1/b)^(1/r),
   *  the curve's steepest-slope point (MMDS's conventional "threshold"
   *  — NOTE it is where P ≈ 1−(1−1/b)^b ≈ 1−1/e, not 50%), and
   *  `s50` = (1 − 2^(−1/b))^(1/r), the exact similarity where the
   *  curve crosses 50%. An operator reads the two queries side by
   *  side: the planner says what the config SHOULD catch, the
   *  evaluation says what it DID catch on their corpus. Pure
   *  projection over a 19-row literal grid — no data touched. */
  def bandingPlan(spark: org.apache.spark.sql.SparkSession,
      numBands: Int = NumBands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    require(numBands > 0 && rowsPerBand > 0,
      "bandingPlan needs positive bands and rows per band")
    val sApprox = math.pow(1.0 / numBands, 1.0 / rowsPerBand)
    val s50 = math.pow(1.0 - math.pow(2.0, -1.0 / numBands), 1.0 / rowsPerBand)
    spark.range(1, 20)
      .select(
        round(col("id") / 20.0, 2).as("s"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("id") / 20.0, rowsPerBand), numBands), 4)
          .as("p_candidate"),
        round(lit(sApprox), 4).as("threshold_approx"),
        round(lit(s50), 4).as("s50"))
  }

  /** LSH banding: one row per (doc, band) with the band's row values
   *  concatenated as the bucket key. */
  def bands(sigs: DataFrame): DataFrame = {
    val bandKey = (b: Int) =>
      concat_ws("_", (0 until RowsPerBand).map(r => element_at(col("sig"), b * RowsPerBand + r + 1)): _*)
    val pairs = (0 until NumBands).map(b => struct(lit(b).as("band"), bandKey(b).as("key")))
    sigs.select(col("doc_id"), col("sig"), explode(array(pairs: _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.key"))
  }

  /** The LSH skew cap, shared by every bucketed candidate generator: a
   *  bucket (one value of `keys`) holding a huge clone cluster emits
   *  |bucket|² pairs — the classic LSH skew degeneracy — so each of
   *  `sides` keeps only the rows whose bucket holds at most
   *  `maxBucketSize` rows of `sized`. Capped buckets are dropped whole
   *  (their members are trivially discoverable by exact dedup instead);
   *  `Int.MaxValue` turns the cap off, the exhaustive oracle-checked
   *  path. */
  private def capBuckets(sized: DataFrame, keys: Seq[String], maxBucketSize: Int)(
      sides: DataFrame*): Seq[DataFrame] =
    if (maxBucketSize == Int.MaxValue) sides
    else {
      val ok = sized.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .select(keys.map(col): _*)
      sides.map(_.join(ok, keys, "left_semi"))
    }

  /** The LSH bucket-mate self-join of every bucketed near-dup operator
   *  (MinHash bands, SimHash blocks, hyperplane tables): after the
   *  [[capBuckets]] skew cap, rows sharing all of `keys` meet on one
   *  equi-join, each pair once. Each side carries `id` as
   *  `<pair>_a`/`<pair>_b` (a < b) and each `payload` column `c` as
   *  `<p>a`/`<p>b` for its (c, p). A pair may share several buckets, so
   *  callers dedup after scoring. */
  private[pipeline] def bucketMates(rows: DataFrame, keys: Seq[String], maxBucketSize: Int,
      id: String, pair: String, payload: (String, String)*): DataFrame = {
    val b = capBuckets(rows, keys, maxBucketSize)(rows).head
    def side(s: String): DataFrame =
      b.select((col(id).as(s"${pair}_$s") +: payload.map { case (c, p) => col(c).as(p + s) }) ++
        keys.map(col): _*)
    side("a").join(side("b"), keys).filter(col(s"${pair}_a") < col(s"${pair}_b"))
  }

  /** Candidate pairs: docs sharing at least one full band, each pair
   *  once (a < b), with both signatures attached. The signature table is
   *  persisted and computed ONCE — the band self-join sides carry only
   *  scalars (doc_id, band, key), so the 32-long signature array neither
   *  rides the 8-way band explode through the shuffle nor gets
   *  recomputed per join side; sig_a/sig_b attach by two equi-joins
   *  after the pair set is deduped. (The persisted frame is released by
   *  Spark's context cleaner when unreferenced; eager operators like
   *  [[ngramJaccard]] unpersist explicitly.) `maxBucketSize` is the
   *  [[capBuckets]] skew cap over (band, key) buckets, off by default so
   *  the oracle-checked path is exhaustive. */
  def candidates(docs: DataFrame, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val sigs = signatures(docs).persist()
    candidatePairsFromSignatures(sigs, maxBucketSize)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select("doc_a", "doc_b", "sig_a", "sig_b")
  }

  /** Candidate pair IDS only — consumers that verify by other means (the
   *  exact-Jaccard stage) skip the signature-attach joins entirely. */
  def candidatePairsFromSignatures(sigs: DataFrame, maxBucketSize: Int): DataFrame =
    bucketMates(bands(sigs).select("doc_id", "band", "key"), // scalars only
        Seq("band", "key"), maxBucketSize, "doc_id", "doc")
      // scalar pair dedup (hash aggregate); with sigs in tow this would
      // be an array-buffered dropDuplicates
      .select("doc_a", "doc_b")
      .distinct()

  /** The MinHash Jaccard estimate of a (sig_a, sig_b) pair: the fraction
   *  of agreeing signature components. */
  private def estJaccard: Column =
    aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _).cast("double") / lit(NumPerms.toDouble)

  /** MinHash near-dup pairs: candidate pairs with [[estJaccard]] ≥
   *  threshold. */
  def nearDuplicates(docs: DataFrame, threshold: Double): DataFrame =
    candidates(docs)
      .withColumn("est_jaccard", estJaccard)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")

  /** Incremental NEAR-dup: candidate pairs between a NEW snapshot and a
   *  REFERENCE corpus only — no new×new, no ref×ref — through the same
   *  MinHash/banding pipeline as [[nearDuplicates]] (so a pair's
   *  estimate here is bit-identical to what the union corpus would
   *  give). This is the daily-crawl shape of near-dedup: the
   *  reference's band table is the precomputable index, and each
   *  increment bands ONLY its own documents and equi-joins them against
   *  it — shuffle volume O(|new| × bands + matching reference band
   *  rows), never a re-banding of the full corpus. `maxBucketSize`
   *  drops over-full (band, key) buckets whole, sized over BOTH sides
   *  (a clone flood in either snapshot degenerates the bucket). */
  def nearDuplicatesAgainstReference(newDocs: DataFrame, reference: DataFrame,
      threshold: Double, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val (sigsNew, sigsRef, out) =
      nearDuplicatesAgainstReferenceLazy(newDocs, reference, threshold, maxBucketSize)
    val materialized = Iterate.truncate(out) // pairs ≥ threshold — small
    sigsNew.unpersist(); sigsRef.unpersist()
    materialized
  }

  /** The un-materialized plan behind [[nearDuplicatesAgainstReference]]
   *  (returned with the two persisted signature frames the caller must
   *  release) — the plan-shape spec (PipelinePlanSpec) needs the lazy
   *  frame. */
  private[graft] def nearDuplicatesAgainstReferenceLazy(
      newDocs: DataFrame, reference: DataFrame,
      threshold: Double, maxBucketSize: Int): (DataFrame, DataFrame, DataFrame) = {
    val sigsNew = signatures(newDocs).persist()
    val sigsRef = signatures(reference).persist()
    val bRef = bands(sigsRef).select(col("doc_id").as("ref_id"), col("band"), col("key"))
    (sigsNew, sigsRef, referencePairs(sigsNew, sigsRef, bRef, threshold, maxBucketSize))
  }

  /** The new×reference MinHash join behind [[nearDuplicatesAgainstReference]]
   *  and the streaming [[graft.streaming.DocIngest.runPipelineNearDedup]]:
   *  the new docs' bands equi-join the reference band index `bandsRef`
   *  (ref_id, band, key), each (new_id, ref_id) pair once, after the
   *  [[capBuckets]] skew cap sized over BOTH sides; both signatures then
   *  attach and pairs with [[estJaccard]] ≥ threshold survive. */
  private[graft] def referencePairs(sigsNew: DataFrame, sigsRef: DataFrame,
      bandsRef: DataFrame, threshold: Double, maxBucketSize: Int): DataFrame = {
    val keys = Seq("band", "key")
    val bNew0 = bands(sigsNew).select(col("doc_id").as("new_id"), col("band"), col("key"))
    val Seq(bNew, bRef) = capBuckets(
      bNew0.select(keys.map(col): _*).unionByName(bandsRef.select(keys.map(col): _*)),
      keys, maxBucketSize)(bNew0, bandsRef)
    bNew.join(bRef, keys)
      .select("new_id", "ref_id").distinct()
      .join(sigsNew.select(col("doc_id").as("new_id"), col("sig").as("sig_a")), "new_id")
      .join(sigsRef.select(col("doc_id").as("ref_id"), col("sig").as("sig_b")), "ref_id")
      .withColumn("est_jaccard", estJaccard)
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "ref_id", "est_jaccard")
  }

  /** Exact n-gram Jaccard, restricted to LSH candidate pairs (the
   *  verify-after-LSH pattern: banding recalls, exact Jaccard
   *  precision-filters).
   *
   *  The intersection is computed relationally — candidates ⨝ exploded
   *  shingles on (doc, shingle) → count per pair — instead of
   *  `array_intersect` on paired shingle arrays: the relational form is
   *  codegen'd, reuses one persisted shingle table for both sides, and
   *  never ships whole shingle arrays through a shuffle.
   *
   *  `maxBucketSize` is the [[candidates]] bucket cap: the production
   *  shape on clone-heavy corpora, where an uncapped band bucket's
   *  |bucket|² pairs dominate the verify join's input. Cap-off (the
   *  default) stays the oracle contract — the same opt-in posture as
   *  [[candidates]] and [[simhashNearDuplicates]]. */
  def ngramJaccard(docs: DataFrame, threshold: Double,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val (persisted, out) = ngramJaccardLazy(docs, threshold, maxBucketSize)
    val materialized = Iterate.truncate(out) // pairs ≥ threshold only (small)
    persisted.foreach(_.unpersist())
    materialized
  }

  /** The un-materialized plan behind [[ngramJaccard]] (with the persisted
   *  frames the caller must release) — plan evidence needs the lazy
   *  frame, the query needs the eager truncate. */
  private[graft] def ngramJaccardLazy(docs: DataFrame, threshold: Double,
      maxBucketSize: Int): (Seq[DataFrame], DataFrame) = {
    val (persisted, sigs, pairs) = shingleIntersections(docs, maxBucketSize)
    val out = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", exactJaccard)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    (persisted, out)
  }

  /** The exact-shingle intersection core of the verify-after-LSH
   *  operators ([[ngramJaccard]], [[minhashEval]]). ONE distinct shingle
   *  table feeds the signature pipeline, the per-doc counts (both from
   *  one shared aggregate) and both intersection sides; the callers
   *  eagerly materialize their (small) results so the big intermediates
   *  can be unpersisted. Returns the persisted frames to release, the
   *  (doc_id, sig, n) table, and the candidate pairs with their
   *  shared-shingle count `i` (0 when they share none). */
  private def shingleIntersections(docs: DataFrame,
      maxBucketSize: Int): (Seq[DataFrame], DataFrame, DataFrame) = {
    val expl = shingleRows(docs).persist()
    val sigs = signaturesAndCountsFromShingles(expl).persist()
    // the pair set is read TWICE (intersection probe + the left join
    // below); unpersisted, the whole band self-join re-executes per
    // consumer — measured as the slowest bench row before this persist
    val cand = candidatePairsFromSignatures(sigs, maxBucketSize).persist()
    // only docs appearing in a candidate pair can contribute an
    // intersection row — restricting the shingle table to them FIRST
    // (a semi-join AQE turns into a broadcast when the candidate-doc
    // set is small, the typical case) keeps the full corpus-sized
    // shingle table out of the (doc, shingle)-keyed join shuffles;
    // provably result-identical (inner joins on cand keys drop
    // non-candidate docs anyway). Per-doc totals below stay FULL-corpus
    // (na/nb are true shingle counts, not restricted ones).
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val explCand = expl.join(candDocs, Seq("doc_id"), "left_semi")
    val inter = cand
      .join(explCand.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(explCand.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    (Seq(expl, sigs, cand), sigs,
      cand.join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("i")))
  }

  /** A pair's exact shingle Jaccard from its intersection `i` and the
   *  per-doc totals `na`, `nb`. */
  private def exactJaccard: Column =
    col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double")

  /** MinHash estimator-quality evaluation over the LSH candidate set —
   *  the dedup analog of ANN recall@k ("measure, don't guess" as a
   *  first-class query): per candidate pair, the 32-perm signature
   *  ESTIMATE vs the exact n-gram Jaccard, summarized as one row of
   *  exact-integer confusion counts at `threshold` (tp/fp/fn/tn —
   *  within candidates; banding misses are unobservable without the
   *  all-pairs join this evaluation exists to avoid) plus the mean
   *  absolute estimation error (per-pair error snapped to 4 decimals
   *  before the mean, the declared-query rounding discipline). The
   *  numbers tell an operator whether the capped signature path's
   *  threshold can be trusted on THEIR corpus before a dedup run. */
  def minhashEval(docs: DataFrame, threshold: Double): DataFrame = {
    val (persisted, agg) = minhashEvalLazy(docs, threshold)
    val out = Iterate.truncate(agg)
    persisted.foreach(_.unpersist())
    out
  }

  /** The un-materialized plan behind [[minhashEval]] (with the persisted
   *  frames the caller must release) — plan evidence needs the lazy
   *  frame, the query needs the eager truncate. */
  private[graft] def minhashEvalLazy(docs: DataFrame,
      threshold: Double): (Seq[DataFrame], DataFrame) = {
    // the per-side attach below carries (sig, n) through a single join
    // per side, both out of shingleIntersections' one aggregate
    val (persisted, sigs, withI) = shingleIntersections(docs, Int.MaxValue)
    val pairs = withI
      .join(sigs.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("sig").as("sig_b")), "doc_b")
      .withColumn("est", estJaccard)
      .withColumn("exact", exactJaccard)
    val t = lit(threshold)
    // a collision-free corpus has ZERO candidate pairs; sum/avg over no
    // rows are SQL-null, so the confusion counts coalesce to 0 (the
    // well-defined empty confusion matrix) while mean_abs_err stays
    // null EXPLICITLY — there is no error to average, and 0.0 would
    // read as "perfect estimator" rather than "no evidence"
    val agg = pairs.agg(
      coalesce(sum(when(col("est") >= t && col("exact") >= t, 1L).otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(col("est") >= t && col("exact") < t, 1L).otherwise(0L)), lit(0L)).as("fp"),
      coalesce(sum(when(col("est") < t && col("exact") >= t, 1L).otherwise(0L)), lit(0L)).as("fn"),
      coalesce(sum(when(col("est") < t && col("exact") < t, 1L).otherwise(0L)), lit(0L)).as("tn"),
      round(avg(round(abs(col("est") - col("exact")), 4)), 4).as("mean_abs_err"))
    (persisted, agg)
  }

  /** Streaming exact dedup: content-hash keyed, first-arrival-wins,
   *  across micro-batches — dedup-on-ingest for a continuously arriving
   *  document feed, so downstream stages never see a copy of content
   *  already admitted. First-wins is the CORRECT semantics for document
   *  dedup (any copy is as good as another; admit the earliest), which is
   *  why `dropDuplicates` works here while the points path can't use it
   *  (points need LAST-write-wins — see [[graft.streaming.StreamOps]]).
   *
   *  State is one entry per distinct content hash. Pass `eventTimeCol`
   *  to bound it with a watermark (`dropDuplicatesWithinWatermark`):
   *  copies arriving within `delay` of each other still collapse, and
   *  state older than the watermark is evicted — the 100 TB/day
   *  deployment shape, where unbounded hash state would grow forever. */
  def exactStreaming(docs: DataFrame, eventTimeCol: Option[String] = None,
      delay: String = "1 hour"): DataFrame = {
    // reuse an upstream content_hash if present (runPipelineDecontam
    // already paid the normalize+md5 for its bloom gate) — recomputing
    // would double the per-row regex+digest work in the streaming path
    val hashed =
      if (docs.columns.contains("content_hash")) docs
      else docs.withColumn("content_hash", md5(normalized(col("text"))))
    eventTimeCol match {
      case Some(c) =>
        hashed.withWatermark(c, delay).dropDuplicatesWithinWatermark("content_hash")
      case None => hashed.dropDuplicates("content_hash")
    }
  }

  /** Incremental exact dedup: documents of a NEW snapshot whose content
   *  does not already appear in a REFERENCE corpus (the snapshot-over-
   *  snapshot re-crawl shape — keep only pages the last crawl didn't
   *  have). Output is exactly the anti-join of new content hashes
   *  against the reference's; the bloom filter below is a transparent
   *  prefilter, never a source of approximation.
   *
   *  Scale design — the asymmetry is the whole point. The reference is
   *  the ~100 TB side and must be neither shuffled nor collected; the
   *  new snapshot is the small side (one crawl increment):
   *   1. build a bloom over the NEW snapshot's content hashes (size ∝
   *      the small side, `expectedItems` sets the bits) — one driver
   *      value, the same one-row-aggregate collect the stat bloom does;
   *   2. scan the reference ONCE, map-side, keeping only hashes the
   *      bloom might contain — true overlaps plus the fpp tail, so the
   *      surviving "present" set is ~|overlap| + fpp·|reference|;
   *   3. broadcast that small set and LEFT ANTI join the new snapshot
   *      against it — no shuffle of either side.
   *  A bloom false positive admits a reference hash into step 2's
   *  output that equals no new-snapshot hash; the anti join then simply
   *  never matches it — correctness is independent of fpp, which only
   *  tunes step 3's broadcast size. */
  def dedupAgainstReference(newDocs: DataFrame, reference: DataFrame,
      expectedItems: Long = 1 << 20): DataFrame = {
    val hashedNew = newDocs
      .select(col("doc_id"), md5(normalized(col("text"))).as("content_hash"))
    val bloom = hashedNew
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("content_hash")), lit(expectedItems)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    if (bloom == null) return hashedNew // empty new snapshot: nothing to keep
    val present = reference
      .select(md5(normalized(col("text"))).as("content_hash"))
      .filter(call_function("graft_might_contain",
        lit(bloom), xxhash64(col("content_hash"))))
    hashedNew.join(broadcast(present), Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
  }

  /** SimHash duplicate buckets: docs whose 28-bit SimHash collides. */
  def simhashBuckets(docs: DataFrame): DataFrame =
    TextAnalysis.simhash(docs)
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_docs") >= 2)

  /** SimHash near-duplicates within Hamming distance `maxHamming`
   *  (Manku/Jain/Sarma block-permutation scheme, re-expressed
   *  relationally): the 28-bit hash splits into `maxHamming + 1`
   *  blocks, and by pigeonhole any pair within the distance agrees on
   *  at least one whole block — so candidates come from per-(block,
   *  value) equi-joins (shuffle O(docs × blocks), never all-pairs) and
   *  the exact distance check is one codegen'd xor + bit_count per
   *  candidate. Emits each qualifying pair once with its distance.
   *
   *  `maxBucketSize` is the per-(block, value) bucket cap the MinHash
   *  side has ([[candidates]]): a block bucket holding a huge clone
   *  cluster is |bucket|² candidate pairs — identical documents collide
   *  in EVERY block, and "emit every in-radius pair" is quadratic in
   *  clone-neighborhood size (measured 58.8× wall / 104.6M output pairs
   *  at 10× data when uncapped). Capped buckets drop whole; pair with
   *  [[simhashNearDuplicatesCapped]] so exact-collision clusters survive
   *  as O(n) star edges. Off by default so the oracle-checked path stays
   *  exhaustive. */
  def simhashNearDuplicates(docs: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 28, "maxHamming in [0, 28)")
    val nBlocks = maxHamming + 1
    val bits = 28
    val sh = TextAnalysis.simhash(docs) // (doc_id, simhash)
    val blockCols = (0 until nBlocks).map { b =>
      val lo = b * bits / nBlocks
      val hi = (b + 1) * bits / nBlocks // [lo, hi) bit slice
      struct(lit(b).as("blk"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1)).as("v"))
    }
    val blocks = sh.select(col("doc_id"), col("simhash"),
      explode(array(blockCols: _*)).as("bv"))
      .select(col("doc_id"), col("simhash"), col("bv.blk").as("blk"), col("bv.v").as("v"))
    bucketMates(blocks, Seq("blk", "v"), maxBucketSize, "doc_id", "doc", "simhash" -> "h")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      // scalar distinct across blocks (a pair may agree on several)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** The warehouse-scale SimHash near-dup edge set — the SimHash mirror
   *  of [[Similarity.nearDuplicateEdgesCapped]]: CAPPED block-collision
   *  pairs (degenerate buckets dropped whole, so no quadratic join can
   *  exist in the plan) UNIONED with the exact-collision star edges from
   *  [[simhashBuckets]] that recover precisely what the cap dropped —
   *  identical fingerprints collide in every block, and each colliding
   *  doc connects to its bucket's canonical id in O(n) (hamming 0 by
   *  construction; a star is enough because cluster collapse makes the
   *  group one component without materializing its |bucket|² pairs).
   *  Loss-free for exact-fingerprint clones; only sub-identical members
   *  of an over-full block bucket are traded away. */
  def simhashNearDuplicatesCapped(docs: DataFrame, maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val capped = simhashNearDuplicates(docs, maxHamming, maxBucketSize)
    val star = simhashBuckets(docs)
      .select(col("simhash"), col("canonical_id"))
      .join(TextAnalysis.simhash(docs), "simhash")
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("canonical_id").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    // hamming is a pure function of the pair, so the union dedups as a
    // plain three-scalar distinct (star edges are hamming 0 on both sides)
    capped.unionByName(star).distinct()
  }

  /** Substring-level duplicated-span detection (the training-data
   *  "memorization surface" scan of Lee et al. 2022, *Deduplicating
   *  Training Data Makes Language Models Better* — their suffix-array
   *  substring dedup re-expressed relationally): every document emits
   *  its full `window`-token spans at `stride`-token starts, each span
   *  fingerprints to one md5, and spans sharing a fingerprint across
   *  ≥ 2 occurrences are exactly the repeated substrings a
   *  suffix-array pass would surface (at `window` granularity). Doc- or
   *  cluster-level dedup misses these: two distinct documents can share
   *  a long boilerplate span without being near-duplicates.
   *
   *  Scale shape: explode is O(tokens / stride) rows per doc, the md5
   *  is codegen'd per span, and the group-by collapses identical spans
   *  MAP-SIDE (partial aggregation) before the fingerprint-keyed
   *  shuffle — the whole scan is linear in corpus tokens at any corpus
   *  size, with no join anywhere. Docs shorter than `window` emit
   *  nothing (no partial-span noise between short documents). */
  def duplicateSpans(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0, "window must be positive")
    require(stride > 0 && stride <= window, "stride in [1, window]")
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
      .filter(size(col("__t")) >= window)
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(0),
          ((size(col("__t")) - lit(window)) / lit(stride)).cast("int"))).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("__t"), col("i") * lit(stride) + 1, lit(window)))).as("span_fp"))
      .groupBy(col("span_fp"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_id"))
      .filter(col("n_occurrences") >= 2)
  }

  /** Duplicate clusters from near-dup PAIRS: connected components by
   *  min-label propagation, yielding (doc_id, cluster_id) where
   *  cluster_id is the smallest doc id in the component — the keep-one
   *  representative rule a dedup pipeline applies after pairwise
   *  detection (near-duplication is not transitive, so pairs alone
   *  over-delete: A~B, B~C must collapse to ONE cluster keeping A, not
   *  two pairs deleting B and C independently).
   *
   *  Each iteration is one equi-join + hash aggregate keyed by doc
   *  (shuffle O(edges)), labels only decrease, and the driver stops when
   *  the label sum stops falling. Two details make the loop robust at
   *  scale, both measured, not theoretical:
   *
   *   - **Lineage truncation**: each round's plan references the previous
   *     labels TWICE (once directly, once through the neighbor join), so
   *     without truncation the analyzed plan doubles per round —
   *     exponential in rounds, and an 8 GB driver heap dies at component
   *     diameter ≈ 9 (the embedding near-dup graph at sf0.1 has exactly
   *     such chains). [[Iterate.truncate]] per round makes every
   *     iteration start from a leaf — reliable `checkpoint()` when
   *     `sc.setCheckpointDir` is configured (executor-loss-safe at
   *     warehouse scale), `localCheckpoint` otherwise.
   *   - **Hybrid pointer doubling**: plain neighbor-min needs diameter
   *     rounds; a doubling step (also adopt my label's own label) costs
   *     an extra self-join per round but halves the remaining distance —
   *     measured slower below diameter ≈ 8, so the loop runs plain
   *     rounds first and turns doubling on past that crossover, giving
   *     O(8 + log d) rounds on pathological chains without taxing the
   *     common small-component case. */
  def duplicateClusters(pairs: DataFrame): DataFrame =
    duplicateClusters(pairs, maxDriverEdges = 5000000)

  /** As [[duplicateClusters]] with an explicit driver-collapse bound.
   *
   *  Two regimes, chosen by edge count:
   *   - **≤ maxDriverEdges**: exact union-find on the driver — O(E·α)
   *    in ONE collect + one parallelize, instead of O(8 + log d)
   *    driver-coordinated shuffle rounds. A dedup edge set is pairs
   *    ABOVE the similarity threshold, orders of magnitude smaller than
   *    the corpus (5M edges ≈ 80 MB on the driver); on the measured
   *    sf0.1 graph this cut the embedding-cluster collapse 34 s → 2 s
   *    after multi-table LSH raised recall (denser graph, diameter ≈
   *    hundreds — each extra diameter hop was a full shuffle round).
   *   - **above the bound**: the distributed min-label propagation loop
   *    below (unchanged), for warehouse-scale edge sets that must not
   *    transit the driver. */
  def duplicateClusters(pairs: DataFrame, maxDriverEdges: Long): DataFrame = {
    val DoublingAfter = 8
    val fwd = pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
    val nEdges = fwd.count()
    if (nEdges <= maxDriverEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // min-rooted union-find with path compression: the final root of
      // every component is its minimum doc id — the same label the
      // propagation fixpoint (and the recursive-CTE oracle) yields
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      fwd.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      fwd.unpersist()
      val labels = parent.keys.toSeq.sorted.map(d => (d, find(d)))
      return labels.toDF("doc_id", "cluster_id")
        .repartition(col("doc_id")) // downstream joins hash on doc_id
    }
    val edges = fwd.unionByName(fwd.select(col("b").as("a"), col("a").as("b"))).persist()
    // init = min(self, min direct neighbor): the first propagation round
    // folded into the same aggregate that enumerates the nodes — one
    // fewer join round per call (measured 5.5 s → 4.6 s on q_dedup_clusters)
    var labels = edges.groupBy(col("a")).agg(min(col("b")).as("__nl"))
      .select(col("a").as("doc"), least(col("a"), col("__nl")).as("label")).persist()
    // a clean corpus has no pairs: sum(label) over zero rows is null,
    // and there is nothing to propagate
    val first = labels.agg(sum(col("label"))).head
    if (first.isNullAt(0)) {
      edges.unpersist(); fwd.unpersist(); labels.unpersist()
      return labels.select(col("doc").as("doc_id"), col("label").as("cluster_id"))
    }
    var prevSum = first.getLong(0)
    var converged = false
    var round = 0
    while (!converged) {
      val viaNeighbors = edges
        .join(labels.select(col("doc").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a").as("doc")).agg(min(col("nl")).as("nl"))
      val step = labels.join(viaNeighbors, Seq("doc"), "left")
        .select(col("doc"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      val hopped =
        if (round < DoublingAfter) step
        else {
          // pointer doubling: label ← min(label, label's own label);
          // every label is a doc id, so the self-join keys always hit
          val asMap = step.select(col("doc").as("label"), col("label").as("__ll"))
          step.join(asMap, Seq("label"))
            .select(col("doc"), least(col("label"), col("__ll")).as("label"))
        }
      val next = Iterate.truncate(hopped) // truncate the doubling lineage
      val s = next.agg(sum(col("label"))).head.getLong(0)
      labels.unpersist()
      labels = next
      round += 1
      converged = s == prevSum // labels are non-increasing: fixpoint iff sum holds
      prevSum = s
    }
    edges.unpersist(); fwd.unpersist()
    labels.select(col("doc").as("doc_id"), col("label").as("cluster_id"))
  }
}
