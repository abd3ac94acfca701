package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths:
 *  - Brute-force cosine top-k: the correctness baseline. The query set
 *    is small and broadcast, so the plan is scan × broadcast-nested-loop
 *    with no shuffle of the big side; per-pair cost is one codegen'd
 *    fold over the vector. Still O(|queries|·|corpus|) — fine for a
 *    bounded query batch, not for all-pairs.
 *  - LSH-bucketed top-k: the 100 TB path. Vectors get a
 *    sign-bucket from [[HashConstants.Planes]]; candidates are
 *    bucket-mates only, so the join is an equi-join on bucket id
 *    (shuffle O(n), each bucket small). Recall is tunable via
 *    NumPlanes; the standard multi-probe/multi-table extensions drop in
 *    by unioning bucket ids.
 *
 * All arithmetic is double-precision with exact plane constants so the
 * DuckDB oracle replays it bit-for-bit (modulo final rounding).
 */
object Similarity {
  import HashConstants._

  /** Sequential-fold dot product of two equal-length double arrays —
   *  the native codegen expression [[graft.functions.DotProduct]];
   *  value-identical to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (and
   *  to DuckDB's `list_dot_product`, which the oracles use), but the
   *  interpreted higher-order fold would sit in the innermost ANN loop. */
  def dot(a: Column, b: Column): Column = call_function("dotp", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The one per-query ranking window: row_number over q_id in `order`,
   *  numbered into `as` and kept while it is at most `k`. */
  private def firstPerQuery(df: DataFrame, k: Int, as: String, order: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id")).orderBy(order: _*)
    df.withColumn(as, row_number().over(w)).filter(col(as) <= k)
  }

  /** The per-query top-k every ranked search shares: rank on the
   *  4-decimal-rounded score — `sim` descending, or the ADC distance
   *  `adist` ascending — with a vec_id tiebreak, for deterministic
   *  cross-engine ordering. Emits (q_id, rank, vec_id, keep…, score). */
  private def topK(scored: DataFrame, score: String, k: Int, keep: String*): DataFrame = {
    val order = if (score == "adist") col(score).asc else col(score).desc
    firstPerQuery(scored, k, "rank", order, col("vec_id").asc)
      .select((Seq("q_id", "rank", "vec_id") ++ keep :+ score).map(col): _*)
  }

  /** [[topK]] on 4-decimal cosine over (q_id, q_vec) × (vec_id, vec)
   *  candidate pairs. */
  private def cosineTopK(pairs: DataFrame, k: Int, keep: String*): DataFrame =
    topK(pairs.withColumn("sim", round(cosine(col("q_vec"), col("vec")), 4)), "sim", k, keep: _*)

  /** Cosine top-k among bucket-mates: the broadcast `probes` (q_id,
   *  q_vec, `key`) meet the corpus (vec_id, vec, `key`) on one equi-join
   *  — the corpus is never shuffled for the query side — and a query
   *  never ranks itself. */
  private def probeTopK(corpus: DataFrame, probes: DataFrame, key: String, k: Int): DataFrame =
    cosineTopK(corpus.join(broadcast(probes), Seq(key)).filter(col("vec_id") =!= col("q_id")), k)

  /** Brute-force cosine top-k for a query subset against the corpus,
   *  ranked by [[topK]]. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_vec"))
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    cosineTopK(corpus.join(broadcast(queries), col("vec_id") =!= col("q_id")), k)
  }

  /** Hard-negative mining for contrastive training: for each query
   *  vector, the `k` nearest corpus vectors carrying a DIFFERENT label —
   *  the near-miss examples an embedding model trains against. Same
   *  exhaustive-baseline contract as [[bruteForceTopK]] (bounded query
   *  batch broadcast over the corpus scan, ranked on 4-decimal-rounded
   *  cosine with vec_id tiebreak); the label inequality rides the join
   *  condition, so same-label rows never reach the ranking window. For
   *  the constant-k ANN scale path, assign cells with
   *  [[ivfAssignWith]] and apply the same label-mismatch rank inside
   *  each probed cell. */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        asDouble(col("embedding")).as("q_vec"))
    val corpus = emb.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("vec"))
    cosineTopK(corpus.join(broadcast(queries), col("label") =!= col("q_label")), k, "label")
  }

  /** Per-group embedding centroids (mean pooling): one (group, dim,
   *  value) row per centroid component, plus the member count — class
   *  prototypes / per-domain anchor vectors. posexplode → one hash
   *  aggregate keyed by (group, dim): shuffle O(n·dim) with map-side
   *  partial sums, never a vector-typed aggregation buffer (array
   *  buffers force SortAggregate). Means carry distributed-sum FP
   *  noise, so output is rounded to 4 decimals. */
  def centroidsBy(emb: DataFrame, group: Column): DataFrame =
    emb.select(group.as("grp"), posexplode(asDouble(col("embedding"))))
      .groupBy(col("grp"), col("pos").as("dim"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("col")), 4).as("value"))
      .select(col("grp"), col("dim").cast("long").as("dim"), col("n_vecs"), col("value"))

  /** Embedding-space drift: pairwise cosine similarity between group
   *  centroids — the embedding-side companion to the text-side unigram
   *  JSD (TextAnalysis.unigramDrift): a snapshot/domain whose centroid
   *  swings away from the others signals distribution shift before any
   *  downstream model does. Centroid components snap to 4 decimals
   *  BEFORE the cosine (one rounding point — both engines dot identical
   *  doubles, the engine's replayable-join discipline); the pair join
   *  runs over |groups|² centroid rows, aggregated scale only. */
  def centroidDrift(emb: DataFrame, group: Column): DataFrame = {
    val c = centroidsBy(emb, group).select(col("grp"), col("dim"), col("value"))
    val a = c.select(col("grp").as("grp_a"), col("dim"), col("value").as("va"))
    val b = c.select(col("grp").as("grp_b"), col("dim"), col("value").as("vb"))
    a.join(b, Seq("dim"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(round(
        sum(col("va") * col("vb")) /
          (sqrt(sum(col("va") * col("va"))) * sqrt(sum(col("vb") * col("vb")))),
        4).as("centroid_cos"))
  }

  /** Scalar int8-style quantization of a vector subset: per-DIMENSION
   *  min/max over the whole corpus (two exact aggregates — no FP
   *  summation), then `floor((v-min)/(max-min)·255 + 0.5)` per
   *  component. floor keeps the rounding engine-stable (round() differs
   *  on exact halves across engines); the corpus stats broadcast to the
   *  quantization map, so the pass over the vectors is shuffle-free —
   *  the compression step an ANN deployment runs before serving. */
  def quantize(emb: DataFrame, pred: Column): DataFrame = {
    val expl = emb.select(col("vec_id"), posexplode(asDouble(col("embedding"))))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("v"))
    val stats = expl.groupBy(col("dim"))
      .agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
    expl.filter(pred)
      .join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("__hi") === col("__lo"), lit(0L)) // degenerate constant dim
          .otherwise(floor((col("v") - col("__lo")) / (col("__hi") - col("__lo")) * 255 + 0.5)
            .cast("long")).as("q"))
  }

  /** Sign-bucket id from the fixed hyperplanes: bit p set iff
   *  dot(plane_p, v) > 0. */
  def bucketId(vec: Column): Column =
    (0 until NumPlanes).map { p =>
      val planeLit = array(Planes(p).map(lit): _*)
      when(dot(vec, planeLit) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Vector → LSH bucket assignment. */
  def buckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
      bucketId(asDouble(col("embedding"))).as("bucket"))

  /** The 1e-4-grid vector fingerprint both [[exactDuplicates]] and
   *  [[nearDuplicateEdgesCapped]]'s star join key — ONE definition, so
   *  the "loss-free for exact clones" guarantee can't silently break by
   *  the two snap/format expressions drifting apart. */
  private def vecFingerprint: Column =
    md5(concat_ws(",",
      transform(asDouble(col("embedding")), x => round(x * 10000).cast("long").cast("string"))))

  /** Exact-embedding dedup at 1e-4 resolution: vectors identical after
   *  snapping every component to the 1e-4 grid share a fingerprint —
   *  one md5 over the snapped-integer string, then a hash-groupBy with
   *  map-side collapse, exactly [[Dedup.exact]]'s shape on the vector
   *  domain. This is the fallback [[cosineNearDuplicates]]'s bucket cap
   *  assumes: a capped clone cluster's members are trivially
   *  discoverable here at O(n) cost. Components snap to integers
   *  (`round(x·10⁴)`) BEFORE stringifying, so both engines format the
   *  canonical string identically (float-to-text rules differ;
   *  integer-to-text does not). */
  def exactDuplicates(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), vecFingerprint.as("vec_fp"))
      .groupBy(col("vec_fp"))
      .agg(min(col("vec_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Sign-bucket id in near-dup table `t` from
   *  [[HashConstants.NdPlanes]]: bit p set iff dot(plane_tp, v) > 0. */
  def ndBucketId(vec: Column, t: Int): Column = bucketIdFromPlanes(vec, NdPlanes(t))

  private def bucketIdFromPlanes(vec: Column, planes: IndexedSeq[IndexedSeq[Double]]): Column =
    planes.indices.map { p =>
      val planeLit = array(planes(p).map(lit): _*)
      when(dot(vec, planeLit) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs: multi-table banded
   *  hyperplane-LSH candidates (never all-pairs) filtered to cosine ≥
   *  threshold — the embedding-space analog of MinHash banding
   *  ([[Dedup.candidates]]). Each vector lands in one bucket per table
   *  (shuffle O(n·tables)); the self-join runs per (table, bucket), so
   *  only same-table bucket-mates ever meet, and the cross-table union
   *  is a scalar `distinct` AFTER the sim threshold — surviving pairs
   *  shuffle as three scalars, never the vectors.
   *
   *  `maxBucketSize` is the bucket cap the MinHash side has
   *  ([[Dedup.candidates]]): identical vectors collide in EVERY table, so
   *  the cap drops a clone cluster's buckets whole (their members are
   *  trivially discoverable by [[exactDuplicates]] instead). Off by
   *  default so the oracle-checked path is exhaustive; at warehouse
   *  scale run with a cap (e.g. 10⁴) and route capped buckets through
   *  exact dedup ([[nearDuplicateEdgesCapped]]).
   *
   *  `tables` × `planesPerTable` is the 100 TB tuning surface. A bigger
   *  corpus raises `planesPerTable` (buckets shrink 2× per extra plane,
   *  collapsing the O(n²/2^b) per-bucket join) and raises `tables` to
   *  buy recall back (each extra table is an independent chance to
   *  collide). [[HashConstants.ndPlaneTables]] generates the planes from
   *  one fixed stream, so the defaults reproduce the oracle constants
   *  exactly and a larger table count strictly extends the default
   *  tables (recall is monotone in `tables` — spec-pinned). */
  def cosineNearDuplicates(emb: DataFrame, threshold: Double,
      maxBucketSize: Int = Int.MaxValue, tables: Int = NdTables,
      planesPerTable: Int = NdPlanesPerTable): DataFrame = {
    val planes = ndPlaneTables(tables, planesPerTable)
    val vecs = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val tb = (0 until tables).map(t =>
      struct(lit(t).as("tbl"), bucketIdFromPlanes(col("vec"), planes(t)).as("bucket")))
    val b0 = vecs.select(col("vec_id"), col("vec"), explode(array(tb: _*)).as("tb"))
      .select(col("vec_id"), col("vec"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    Dedup.bucketMates(b0, Seq("tbl", "bucket"), maxBucketSize, "vec_id", "vec", "vec" -> "v")
      .withColumn("sim", round(cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= threshold)
      // sim is a pure function of the pair, so the cross-table union is a
      // plain distinct over three scalars — hash aggregate, no arrays
      .select("vec_a", "vec_b", "sim")
      .distinct()
  }

  /** The warehouse-scale near-dup edge set: CAPPED multi-table LSH pairs
   *  (degenerate buckets dropped whole — no quadratic join can exist in
   *  the plan) UNIONED with the exact-duplicate star edges that recover
   *  precisely what the cap dropped: identical vectors collide in every
   *  table, and each clone connects to its group's canonical id in O(n)
   *  via [[exactDuplicates]] (a star is enough — cluster collapse makes
   *  the group one component, without materializing its |clones|²
   *  pairs). The composition makes the cap loss-free for exact clones;
   *  only sub-identical members of an over-full bucket are traded away. */
  def nearDuplicateEdgesCapped(emb: DataFrame, threshold: Double,
      maxBucketSize: Int, tables: Int = NdTables,
      planesPerTable: Int = NdPlanesPerTable): DataFrame = {
    val lsh = cosineNearDuplicates(emb, threshold, maxBucketSize, tables, planesPerTable)
      .select("vec_a", "vec_b")
    val star = exactDuplicates(emb)
      .filter(col("n_copies") >= 2)
      .select(col("vec_fp"), col("canonical_id"))
      .join(emb.select(col("vec_id"), vecFingerprint.as("vec_fp")), "vec_fp")
      .filter(col("vec_id") =!= col("canonical_id"))
      .select(col("canonical_id").as("vec_a"), col("vec_id").as("vec_b"))
    lsh.unionByName(star).distinct()
  }

  /** The eval-suite side of [[semanticDecontaminate]]: (eval_id, e_vec)
   *  rows for the vectors matching `pred`. Small by contract — a
   *  benchmark suite, not a corpus slice. */
  def evalVectors(emb: DataFrame, pred: Column): DataFrame =
    emb.filter(pred)
      .select(col("vec_id").as("eval_id"), asDouble(col("embedding")).as("e_vec"))

  /** Benchmark decontamination in EMBEDDING space — the semantic
   *  counterpart of [[graft.pipeline.Corpus.decontaminate]]'s n-gram
   *  overlap: flag every corpus vector whose cosine to ANY eval-suite
   *  vector reaches `tau`, reporting the strongest leak (max 4-decimal
   *  cosine; ties resolve to the larger eval_id). Catches paraphrased
   *  eval contamination that shares no 3-gram with the eval text.
   *
   *  Scale shape: the eval table is constant-size (a benchmark suite),
   *  so it BROADCASTS — the corpus streams through one broadcast
   *  nested-loop join (O(n·|eval|·dim) codegen'd dot products, NO
   *  shuffle of the corpus) and the per-vector argmax folds map-side as
   *  a packed-long max ([[clusterCapSample]]'s assign idiom: cosine is
   *  bounded, so (round(c·10⁴)+10⁴)·2⁴⁰ + eval_id never overflows while
   *  eval ids fit 40 bits — enforced), leaving one row per vector to
   *  cross the wire. Linear at any corpus size for a fixed eval suite. */
  def semanticDecontaminate(emb: DataFrame, evalVecs: DataFrame, tau: Double): DataFrame = {
    val train = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val c = round(cosine(col("vec"), col("e_vec")), 4)
    val packed = (round(c * 10000).cast("long") + lit(10000L)) * lit(1L << 40) +
      col("eval_id")
    // an id outside the packable range must fail loudly — silently
    // dropping it from the eval set would silently weaken the scrub
    val checkedEval = evalVecs.select(
      when(col("eval_id") < 0 || col("eval_id") >= lit(1L << 40),
        raise_error(concat(lit("semanticDecontaminate: eval_id outside 40-bit packing range: "),
          col("eval_id").cast("string"))))
        .otherwise(col("eval_id")).as("eval_id"),
      col("e_vec"))
    train.join(broadcast(checkedEval), col("vec_id") =!= col("eval_id"))
      .groupBy(col("vec_id"))
      .agg(max(packed).as("__m"))
      .select(col("vec_id"),
        col("__m").bitwiseAND(lit((1L << 40) - 1)).as("eval_id"),
        ((shiftright(col("__m"), 40) - lit(10000L)).cast("double") / lit(10000.0)).as("cos_sim"))
      .filter(col("cos_sim") >= lit(tau))
  }

  /** Sampled centroids: a deterministic corpus sample (vec_id %
   *  centroidEvery == 0). Seed-free, so the DuckDB oracle replays the
   *  whole IVF path bit-for-bit. NOTE: centroid count ∝ corpus size, so
   *  the n×k assignment grows quadratically — [[hashSampledCentroids]]
   *  is the constant-k production shape. */
  def sampledCentroids(emb: DataFrame, centroidEvery: Int): DataFrame =
    emb.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("c_vec"))

  /** CONSTANT-k centroid table: the k vectors ranked first by
   *  (md5-prefix hash of vec_id, vec_id) — a deterministic, seed-free,
   *  corpus-size-independent sample, so the n×k assignment stays LINEAR
   *  in the corpus however big it grows (the scale fix for
   *  [[sampledCentroids]]' k ∝ n). Compiles to TakeOrderedAndProject:
   *  each scan task keeps its local top-k, only k rows ever leave a
   *  partition. The hash order is the same md5-prefix integer the
   *  oracles replay (`ORDER BY … LIMIT k` in DuckDB). */
  def hashSampledCentroids(emb: DataFrame, k: Int): DataFrame =
    emb.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("c_vec"),
        call_function("md5prefix28", col("vec_id").cast("string")).as("__h"))
      .orderBy(col("__h").asc, col("c_id").asc)
      .limit(k)
      .select(col("c_id"), col("c_vec"))

  /** Semantic-diversity cap (the SemDeDup-style curation rule, Abbas et
   *  al. 2023: clusters of semantically near-identical content should
   *  contribute a bounded number of examples, not their raw share):
   *  every vector assigns to its nearest of `k` hash-sampled centroids
   *  ([[hashSampledCentroids]] — constant k, so the n×k assignment is
   *  linear at any corpus size), then each cell keeps at most `cap`
   *  members in (md5-prefix hash, vec_id) order — the same reproducible
   *  which-survivors rule as [[Corpus.hashSample]], a pure function of
   *  the ids, never of partitioning.
   *
   *  The rank filter compiles to WindowGroupLimit: map tasks keep their
   *  local top-`cap` per cell BEFORE the shuffle, so a degenerate
   *  all-one-cluster corpus funnels at most cap·tasks rows through the
   *  cell's partition, never the whole corpus. */
  def clusterCapSample(emb: DataFrame, k: Int, cap: Int): DataFrame = {
    require(k > 0 && cap > 0, "k and cap must be positive")
    import org.apache.spark.sql.expressions.Window
    val assigned = assignToCells(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("vec")),
      hashSampledCentroids(emb, k))
    val w = Window.partitionBy(col("cell"))
      .orderBy(call_function("md5prefix28", col("vec_id").cast("string")).asc,
        col("vec_id").asc)
    assigned
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cap)
      .select(col("vec_id"), col("cell"), col("rank").cast("long").as("rank"))
  }

  /** K-means centroids: the sampled init refined by `iters` Lloyd
   *  rounds, each round two narrow DataFrame jobs — assign (broadcast
   *  centroids × corpus, codegen'd distance, no shuffle of the corpus)
   *  and update (posexplode → per-(cell, dim) mean → re-assemble; one
   *  hash-aggregate shuffle keyed by cell). Deterministic init and
   *  tie-breaks; each round's means are ROUNDED to 4 decimals — same
   *  snap as assignToCells' distances — which absorbs distributed-sum
   *  FP noise and makes the whole refinement replayable bit-for-bit by
   *  a batch SQL engine (the q_ann_kmeans oracle).
   *
   *  Caveat on the bit-exact claim: the 4-decimal snap absorbs FP noise
   *  except when a per-(cell, dim) mean lands within noise of a .00005
   *  rounding boundary — there the two engines can round a round-1 mean
   *  differently and the flip cascades through later rounds. No observed
   *  corpus hits it (the probability per mean is ~|noise|/10⁻⁴), but on
   *  a new corpus an intermittent mismatch here means a boundary hit,
   *  not an algorithm bug — coarsen the snap or compare with tolerance. */
  def kmeansCentroids(emb: DataFrame, centroidEvery: Int, iters: Int = 2): DataFrame =
    kmeansCentroidsFrom(emb, sampledCentroids(emb, centroidEvery), iters)

  /** As [[kmeansCentroids]] from an explicit initial centroid table —
   *  the constant-k production path (pass [[hashSampledCentroids]]). */
  def kmeansCentroidsFrom(emb: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    val vecs = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    var cents = init
    for (_ <- 0 until iters) {
      cents = assignToCells(vecs, cents)
        .select(col("cell"), posexplode(col("vec")))
        .groupBy(col("cell"), col("pos")).agg(round(avg(col("col")), 4).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c_vec"))
        .select(col("cell").as("c_id"), col("c_vec"))
      // materialize the (tiny: |corpus|/centroidEvery rows) centroid
      // table per round: without this each iteration's broadcast
      // re-executes the whole previous-round chain — O(iters²) work
      cents = Iterate.truncate(cents)
    }
    cents
  }

  /** Nearest-centroid assignment (broadcast centroids, one codegen pass
   *  over the corpus; deterministic c_id tiebreak). The argmin over the
   *  n·k (corpus × centroids) expansion is a `min` over (d, c_id) packed
   *  into one long — a primitive-buffer HashAggregate whose map-side
   *  partial collapses the expansion back to n rows before any exchange
   *  (a row_number window here would shuffle and sort all n·k rows).
   *  `vec` rides in the grouping key (grouping keys may be arrays; only
   *  aggregation buffers must stay primitive for hash aggregation).
   *  Packing: d is already rounded to 4 decimals and 1-cosine ≤ 2, so
   *  d·10⁴ fits 15 bits + sign; c_id gets the low 44 bits (≤ 1.7e13
   *  centroid ids — far beyond any corpus). Arithmetic shift + mask
   *  decode stays exact even for the FP-noise case d = -0.0001. */
  private def assignToCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val packed = round(col("d") * lit(10000)).cast("long") * lit(1L << 44) + col("c_id")
    vecs.join(broadcast(cents), lit(true))
      .withColumn("d", round(lit(1.0) - cosine(col("vec"), col("c_vec")), 4))
      .groupBy(col("vec_id"), col("vec"))
      .agg(min(packed).as("__p"))
      .select(col("vec_id"), col("vec"),
        col("__p").bitwiseAND(lit((1L << 44) - 1)).as("cell"),
        (shiftright(col("__p"), 44).cast("double") / lit(10000.0)).as("d"))
  }

  /** Mean cosine distance to the assigned centroid — the k-means
   *  objective. Lloyd iterations must not increase it (the testable
   *  guarantee; single-cell recall is data-dependent and NOT guaranteed
   *  to rise — on near-uniform corpora Lloyd mostly equalizes cell
   *  sizes). */
  def quantizationCost(emb: DataFrame, cents: DataFrame): Double =
    assignToCells(emb.select(col("vec_id"), asDouble(col("embedding")).as("vec")), cents)
      .agg(avg(col("d"))).head.getDouble(0)

  /** IVF (inverted-file) ANN: vectors are assigned to their nearest
   *  centroid once, and a query searches only its own cell. */
  def ivfAssign(emb: DataFrame, centroidEvery: Int): DataFrame =
    assignToCells(emb.select(col("vec_id"), asDouble(col("embedding")).as("vec")),
      sampledCentroids(emb, centroidEvery))

  /** As [[ivfAssign]] over an explicit centroid table (pass
   *  [[hashSampledCentroids]] for the constant-k production shape). */
  def ivfAssignWith(emb: DataFrame, cents: DataFrame): DataFrame =
    assignToCells(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("vec")), cents)

  /** IVF top-k over an explicit centroid table. `nprobe` > 1 probes each
   *  query's n nearest cells (the IVF analog of multi-probe LSH): recall
   *  rises at ~nprobe× candidate cost on the broadcast query side only —
   *  the corpus is still touched through one equi-join on cell id, and
   *  each corpus vector lives in exactly one cell, so no candidate
   *  dedup is needed. The query-side top-n window runs over |queries|×k
   *  rows (both small); the corpus-side argmin stays the packed-long
   *  hash aggregate. */
  def ivfTopKWith(emb: DataFrame, cents: DataFrame, queryPred: Column, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe >= 1")
    val assigned = assignToCells(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("vec")), cents).persist()
    val queries = assigned.filter(queryPred)
    val probes =
      if (nprobe == 1)
        queries.select(col("vec_id").as("q_id"), col("vec").as("q_vec"), col("cell"))
      else nearestCells(
        queries.select(col("vec_id").as("q_id"), col("vec").as("q_vec")), cents, nprobe)
    probeTopK(assigned, probes, "cell", k)
  }

  /** IVF multi-probe: each (q_id, q_vec) query's `nprobe` nearest cells
   *  by 4-decimal cosine distance (c_id tiebreak) against the broadcast
   *  centroid table, as (q_id, q_vec, cell). */
  private def nearestCells(qv: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    firstPerQuery(
      qv.join(broadcast(cents), lit(true))
        .withColumn("d", round(lit(1.0) - cosine(col("q_vec"), col("c_vec")), 4)),
      nprobe, "rn", col("d").asc, col("c_id").asc)
      .select(col("q_id"), col("q_vec"), col("c_id").as("cell"))

  /** IVF top-k: candidates restricted to the query's cell (sampled
   *  centroids — the oracle-replayable path). */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int, centroidEvery: Int): DataFrame =
    ivfTopKWith(emb, sampledCentroids(emb, centroidEvery), queryPred, k)

  /** IVF top-k for an EXTERNAL query batch — the SERVING-time shape:
   *  queries arrive from OUTSIDE the corpus (an online retrieval
   *  request) as (q_id, embedding) rows, probe their `nprobe` nearest
   *  cells via the broadcast centroid table, and scan only those
   *  inverted lists of the prebuilt `assigned` index
   *  ([[ivfAssignWith]] output — at scale a cell-partitioned stored
   *  table, so the cell equi-join prunes to the probed partitions).
   *  Scoring, tie-break, and rank are IDENTICAL to [[ivfTopKWith]], and
   *  a query sharing an id with a corpus vector excludes itself — so
   *  serving the corpus's own query rows through this path reproduces
   *  ivfTopKWith bit-for-bit, which is exactly what the streamed
   *  declared query pins against q_ann_ivf's oracle. */
  def ivfTopKQueries(assigned: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe >= 1")
    val qv = queries.select(col("q_id"), asDouble(col("embedding")).as("q_vec"))
    val probes =
      if (nprobe == 1)
        assignToCells(qv.select(col("q_id").as("vec_id"), col("q_vec").as("vec")), cents)
          .select(col("vec_id").as("q_id"), col("vec").as("q_vec"), col("cell"))
      else nearestCells(qv, cents, nprobe)
    probeTopK(assigned, probes, "cell", k)
  }

  /** Recall@k of the IVF index against the exact brute-force baseline —
   *  the evaluation every ANN deployment runs before trusting an index
   *  ("measure, don't guess"): per query, the fraction of the true
   *  top-k ([[bruteForceTopK]]) the index ([[ivfTopKWith]]) returned.
   *  Both result sets are deterministic (4-decimal-rounded similarity,
   *  vec_id tiebreak), so the per-query hit COUNT is exact-integer and
   *  the recall column is one division of identical operands.
   *
   *  Scale posture: the exhaustive baseline is the expensive side by
   *  contract — recall evaluation runs on a BOUNDED query sample (the
   *  annQPred convention, ≤ a fixed count at any corpus size), so the
   *  cost is |sample| linear scans, not an index-scale operation; the
   *  intersection is a left-semi join on (q_id, vec_id) at k-rows-per-
   *  query scale. */
  def recallAtK(emb: DataFrame, cents: DataFrame, queryPred: Column, k: Int,
      nprobe: Int = 1): DataFrame = {
    val exact = bruteForceTopK(emb, queryPred, k).select(col("q_id"), col("vec_id"))
    val approx = ivfTopKWith(emb, cents, queryPred, k, nprobe)
      .select(col("q_id"), col("vec_id"))
    val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"), 4)
          .as("recall"))
  }

  /** Truncation-recall ablation (the Matryoshka-representation
   *  evaluation, Kusupati et al. 2022): recall@k of brute-force search
   *  over PREFIX-truncated embeddings against the full-dimension exact
   *  baseline — the measurement a deployment runs before storing
   *  shorter vectors (truncating a well-trained MRL embedding should
   *  cost little recall; truncating an ordinary one costs a lot —
   *  either way, measure, don't guess). One output row per
   *  (trunc_dim, query) with the exact-integer hit count, the
   *  recallAtK determinism discipline (4-decimal similarity, vec_id
   *  tiebreak).
   *
   *  Scale posture: same bounded-query contract as [[recallAtK]] — the
   *  query batch is broadcast, so each ablation dim costs one corpus
   *  scan with a |sample|-wide ranking window, |dims| scans total;
   *  nothing is quadratic in corpus size. */
  def truncatedRecallAtK(emb: DataFrame, queryPred: Column, k: Int,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(d => d > 0 && d <= Dim),
      s"ablation dims must be in (0, $Dim]: $dims")
    val spark = emb.sparkSession
    import spark.implicits._
    val exact = bruteForceTopK(emb, queryPred, k).select(col("q_id"), col("vec_id"))
    val perDim = dims.map { dm =>
      val queries = emb.filter(queryPred)
        .select(col("vec_id").as("q_id"),
          slice(asDouble(col("embedding")), 1, dm).as("q_vec"))
      val corpus = emb.select(col("vec_id"),
        slice(asDouble(col("embedding")), 1, dm).as("vec"))
      cosineTopK(corpus.join(broadcast(queries), col("vec_id") =!= col("q_id")), k)
        .select(lit(dm).as("trunc_dim"), col("q_id"), col("vec_id"))
    }.reduce(_ unionByName _)
    val hits = perDim
      .join(exact.withColumnRenamed("q_id", "__eq")
          .withColumnRenamed("vec_id", "__ev"),
        col("q_id") === col("__eq") && col("vec_id") === col("__ev"), "left_semi")
      .groupBy(col("trunc_dim"), col("q_id")).agg(count(lit(1)).as("n_hit"))
    val totals = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
    totals
      .crossJoin(broadcast(dims.toDF("trunc_dim")))
      .join(hits, Seq("trunc_dim", "q_id"), "left")
      .select(col("trunc_dim"), col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"), 4)
          .as("recall"))
  }

  // ------------------------------------------------------ product quantization

  /** PQ codebooks: the vector space splits into `m` equal subspaces and
   *  each deterministically sampled vector (vec_id % every == 0)
   *  contributes its subvector as a codeword (c_id = vec_id — seed-free,
   *  so the DuckDB oracle replays the whole PQ path bit-for-bit; a
   *  production deployment would Lloyd-refine each subspace codebook
   *  exactly like [[kmeansCentroids]] refines IVF centroids). */
  def pqCodebooks(emb: DataFrame, m: Int, every: Int): DataFrame =
    subspaceCodebooks(emb.filter(col("vec_id") % every === 0), m)

  /** CONSTANT-k PQ codebooks: k codewords per subspace from the
   *  hash-ranked sample ([[hashSampledCentroids]]' order), so codebook
   *  size — and with it the encode cost n·m·k and every ADC distance
   *  table — is independent of corpus size. This is the production
   *  declared shape; [[pqCodebooks]]' every-based sample (k ∝ n) made
   *  the encode join quadratic at scale. */
  def pqCodebooksK(emb: DataFrame, m: Int, k: Int): DataFrame =
    subspaceCodebooks(
      emb.select(col("vec_id"), col("embedding"),
          call_function("md5prefix28", col("vec_id").cast("string")).as("__h"))
        .orderBy(col("__h").asc, col("vec_id").asc)
        .limit(k)
        .select(col("vec_id"), col("embedding")), m)

  private def subspaceCodebooks(sample: DataFrame, m: Int): DataFrame =
    subspaceCodebooksV(
      sample.select(col("vec_id"), asDouble(col("embedding")).as("v")), m)

  /** As [[subspaceCodebooks]] over an already-projected (vec_id,
   *  v: array&lt;double&gt;) frame — the seam the residual path shares. */
  private def subspaceCodebooksV(sample: DataFrame, m: Int): DataFrame = {
    require(Dim % m == 0, s"m must divide the dimension $Dim")
    sample
      .select(col("vec_id").as("c_id"), col("v"))
      .select(col("c_id"), subVectors(m, "c_vec").as("sc"))
      .select(col("sc.sub").as("sub"), col("c_id"), col("sc.c_vec").as("c_vec"))
  }

  /** The PQ sub-vector split: `v` cut into m equal slices, exploded as
   *  one (sub, `field`) struct per subspace. */
  private def subVectors(m: Int, field: String): Column = {
    val subLen = Dim / m
    explode(array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("v"), s * subLen + 1, subLen).as(field))): _*))
  }

  /** Squared L2 between a sub-vector `x` and a codeword `c_vec`, rounded
   *  to 4 decimals. */
  private def subDist2: Column = round(
    dot(col("x"), col("x")) - lit(2) * dot(col("x"), col("c_vec"))
      + dot(col("c_vec"), col("c_vec")), 4)

  /** PQ encoding: each vector compresses to `m` small codes — per
   *  subspace, the nearest codeword by (4-decimal-rounded) squared L2,
   *  c_id tiebreak. The argmin over the n·m·k expansion is the same
   *  packed-long HashAggregate as [[ivfAssign]] (map-side collapse, no
   *  Window/Sort); codebooks broadcast. At 100 TB this is THE memory
   *  story for ANN: 64 floats (256 B) become m byte-ish codes.
   *
   *  Packing bound: unlike [[assignToCells]]' cosine distance (≤ 2),
   *  subspace squared-L2 is unbounded, so the codeword id gets 40 bits
   *  (≤ 1.1e12 ids) and the distance field 23 bits — exact for
   *  d² ≤ 2²³/10⁴ ≈ 838.8, i.e. per-component magnitudes up to
   *  √(838/(4·subLen)) ≈ 5.1 at subLen 8 (typical normalized or
   *  near-unit embeddings stay below 2). Distances are CLAMPED at 838
   *  before packing: candidates past the bound compare equal and the
   *  c_id tiebreak decides — out-of-range corpora degrade
   *  deterministically (and visibly, vs the oracle's true argmin)
   *  rather than silently corrupting the packed min. */
  def pqEncode(emb: DataFrame, m: Int, every: Int): DataFrame =
    pqEncodeWith(emb, m, pqCodebooks(emb, m, every))

  /** As [[pqEncode]] over an explicit (sub, c_id, c_vec) codebook table —
   *  the constant-k production path ([[pqCodebooksK]]). */
  def pqEncodeWith(emb: DataFrame, m: Int, cb: DataFrame): DataFrame =
    pqEncodeVecs(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("v")), m, cb)

  /** As [[pqEncodeWith]] over an already-projected (vec_id,
   *  v: array&lt;double&gt;) frame — the seam the residual path shares.
   *  `carry` names passthrough columns that ride the argmin's group key
   *  (each must be functionally dependent on vec_id, e.g. the IVF cell
   *  id) — attaching them HERE costs nothing, where a post-hoc join
   *  keyed by vec_id would re-shuffle the codes. */
  private def pqEncodeVecs(vecs: DataFrame, m: Int, cb: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val carryCols = carry.map(col)
    val expl = vecs
      .select(col("vec_id") +: carryCols :+ subVectors(m, "x").as("sx"): _*)
      .select(col("vec_id") +: carryCols :+ col("sx.sub").as("sub") :+ col("sx.x").as("x"): _*)
    // clamp to the 23-bit distance field's exact range (the doc bound
    // above): beyond it every candidate packs equal and the c_id
    // tiebreak decides — a defined, deterministic degradation instead
    // of a silent Long-overflow corruption of the min
    val packed = round(least(col("__d"), lit(838.0)) * lit(10000)).cast("long") *
      lit(1L << 40) + col("c_id")
    expl.join(broadcast(cb), Seq("sub"))
      .withColumn("__d", subDist2)
      .groupBy(col("vec_id") +: carryCols :+ col("sub"): _*)
      .agg(min(packed).as("__p"))
      .select(col("vec_id") +: carryCols :+ col("sub").cast("long").as("sub") :+
        col("__p").bitwiseAND(lit((1L << 40) - 1)).as("code"): _*)
  }

  /** PQ ADC top-k (asymmetric distance computation): each query builds
   *  its per-(subspace, codeword) distance table against the BROADCAST
   *  codebooks, and the scan touches only the compressed codes — one
   *  equi-join on (sub, code) plus a hash aggregate summing the m
   *  partial distances per (query, vector). This is the classic PQ cost
   *  model: search scans m-byte codes, never raw vectors — but it is
   *  still an EXHAUSTIVE scan (per-query linear, like [[bruteForceTopK]]
   *  at 1/32nd the bytes); at corpus scale route through [[ivfPqTopK]],
   *  which ADC-scans one coarse cell. Accuracy is recall-checked vs
   *  brute force in SimilaritySpec. */
  def pqTopK(emb: DataFrame, queryPred: Column, k: Int, m: Int, every: Int): DataFrame =
    pqTopKWith(emb, pqCodebooks(emb, m, every), queryPred, k, m)

  /** As [[pqTopK]] over an explicit codebook table — pair with
   *  [[pqCodebooksK]] for the constant-k production shape. */
  def pqTopKWith(emb: DataFrame, cb: DataFrame, queryPred: Column, k: Int, m: Int): DataFrame =
    topK(adcScores(pqEncodeWith(emb, m, cb),
      emb.filter(queryPred)
        .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("v")),
      col("q_id"), cb, m), "adist", k)

  /** PQ asymmetric-distance (ADC) scoring, shared by every PQ search:
   *  each query row of `queries` (`qId` becomes q_id; `carry` columns
   *  and the vector `v`) splits into sub-vectors and builds its
   *  per-(subspace, codeword) distance table against the BROADCAST
   *  codebooks; the table broadcasts onto the compressed `codes`
   *  (vec_id, carry…, sub, code) — one equi-join on (carry…, sub, code)
   *  plus a hash aggregate summing the m partial distances per (query,
   *  vector) into `adist`. A query never scores itself. */
  private def adcScores(codes: DataFrame, queries: DataFrame, qId: Column, cb: DataFrame,
      m: Int, carry: Seq[String] = Nil): DataFrame = {
    val keep = carry.map(col)
    val table = queries
      .select(qId +: keep :+ subVectors(m, "x").as("sx"): _*)
      .select(col("q_id") +: keep :+ col("sx.sub").as("sub") :+ col("sx.x").as("x"): _*)
      .join(broadcast(cb), Seq("sub"))
      .select(col("q_id") +: keep :+ col("sub").cast("long").as("sub") :+
        col("c_id").as("code") :+ subDist2.as("pd"): _*)
    codes.join(broadcast(table), carry ++ Seq("sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("pd")), 4).as("adist"))
      .filter(col("vec_id") =!= col("q_id"))
  }

  /** Two-stage retrieval: approximate candidate generation (PQ/ADC over
   *  compressed codes, [[pqTopKWith]]) followed by EXACT re-ranking of
   *  the surviving `kCand` candidates per query — the production search
   *  shape (FAISS's refine/rerank stage): the compressed scan finds a
   *  candidate superset cheaply, and only |queries| × kCand raw vectors
   *  are ever fetched for exact scoring. The candidate list broadcasts
   *  onto the corpus scan (a broadcast join on vec_id — the corpus is
   *  touched by ONE projection-pruned pass), the bounded query batch
   *  broadcasts for scoring, and the final top-k window runs over kCand
   *  rows per query. Output is the exact top-k WITHIN the approximate
   *  superset, so recall@k is monotonically ≥ the PQ stage's once
   *  kCand ≥ k; both stages stay 4-decimal-rounded/vec_id-tiebroken, so
   *  the whole composition replays bit-identically in the oracle. */
  def rerankTopK(emb: DataFrame, cb: DataFrame, queryPred: Column, k: Int,
      kCand: Int, m: Int): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val cand = pqTopKWith(emb, cb, queryPred, kCand, m).select("q_id", "vec_id")
    val qv = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_vec"))
    cosineTopK(emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qv), Seq("q_id")), k)
  }

  /** IVF-PQ top-k — the production-standard ANN layout (coarse inverted
   *  file × product-quantized residuals-free codes): a query probes its
   *  nearest IVF cell and ADC-scans ONLY that cell's compressed codes.
   *  Search cost = |cell| m-byte code rows per query instead of the
   *  whole corpus; both stages reuse the oracle-replayable pieces
   *  ([[ivfAssign]]'s packed-long argmin, [[pqEncode]]'s codes,
   *  [[pqTopK]]'s broadcast distance tables). */
  def ivfPqTopK(emb: DataFrame, queryPred: Column, k: Int, m: Int,
      centroidEvery: Int, codeEvery: Int): DataFrame =
    ivfPqTopKWith(emb, sampledCentroids(emb, centroidEvery),
      pqCodebooks(emb, m, codeEvery), queryPred, k, m)

  /** As [[ivfPqTopK]] over explicit centroid + codebook tables — pair
   *  with [[hashSampledCentroids]] / [[pqCodebooksK]] for the constant-k
   *  production shape. */
  def ivfPqTopKWith(emb: DataFrame, cents: DataFrame, cb: DataFrame,
      queryPred: Column, k: Int, m: Int): DataFrame = {
    val assigned = assignToCells(
      emb.select(col("vec_id"), asDouble(col("embedding")).as("vec")), cents)
      .select(col("vec_id"), col("cell")).persist()
    val codes = pqEncodeWith(emb, m, cb)
      .join(assigned, "vec_id") // (vec_id, sub, code, cell)
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("v"))
      .join(assigned.select(col("vec_id").as("q_id"), col("cell")), "q_id")
    topK(adcScores(codes, queries, col("q_id"), cb, m, carry = Seq("cell")), "adist", k)
  }

  /** Residual IVF-PQ top-k — the full production ANN layout (the
   *  Jégou/Douze/Schmid composition FAISS ships as IVFPQ): codes
   *  quantize the RESIDUAL v − centroid(cell), not the raw vector.
   *  Residuals concentrate near the origin regardless of which cell a
   *  vector landed in, so one shared codebook spends its codewords on
   *  the fine structure instead of re-encoding the coarse position the
   *  IVF cell already captures — the standard accuracy argument over
   *  [[ivfPqTopKWith]]'s raw-vector codes at identical storage cost.
   *  (The win presumes cell-concentrated data; on the near-uniform
   *  synthetic test corpus the spec measures parity, not a win — both
   *  layouts' recall is cell-bounded there.)
   *
   *  Everything stays oracle-replayable: centroids and the codebook
   *  sample are hash-ranked constant-k tables, and the residual
   *  subtraction is exact in IEEE doubles (no rounding layer needed —
   *  both engines subtract identically); per-subspace distances round
   *  to 4 decimals exactly like the raw-code path. Scale shape is
   *  unchanged: broadcast centroid assign (n·k, k constant), broadcast
   *  codebook encode (n·m·k), per-query ADC over ONE cell's codes.
   *  The zip_with subtraction is an interpreted HOF but runs once per
   *  vector (not per subspace row) — negligible beside the encode join.
   *
   *  Nothing vector-wide persists: the codebook sample and the query
   *  side each RESTRICT (broadcast semi-join on the hash-ranked ids /
   *  queryPred filter) before the residual projection runs, so the
   *  assign + subtract is recomputed map-side only over codebookK and
   *  |queries| rows respectively; the one corpus-wide residual pass is
   *  the encode itself, and the IVF cell rides the encode argmin's
   *  group key (functionally dependent on vec_id) instead of a
   *  re-assign + join. (The first cut persisted every vector's 64-double
   *  residual array between build and encode — a measured ~21 s
   *  materialization constant at the 500k-vector probe point that this
   *  shape removes.) */
  def ivfPqResidualTopK(emb: DataFrame, cents: DataFrame, queryPred: Column,
      k: Int, m: Int, codebookK: Int): DataFrame = {
    // residual projection of a (possibly restricted) (vec_id, vec)
    // frame: broadcast centroid assign + zip_with subtract, map-side only
    def residuals(vecs: DataFrame): DataFrame =
      assignToCells(vecs, cents)
        .join(broadcast(cents.select(col("c_id").as("cell"), col("c_vec"))), "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("vec"), col("c_vec"), (a, b) => a - b).as("v"))
    val embV = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    // codebook membership is decided by the vec_id hash alone — rank a
    // THIN id frame, then residual-project just the codebookK sampled rows
    val sampleIds = emb
      .select(col("vec_id"),
        call_function("md5prefix28", col("vec_id").cast("string")).as("__h"))
      .orderBy(col("__h").asc, col("vec_id").asc)
      .limit(codebookK)
      .select(col("vec_id"))
    val cb = subspaceCodebooksV(
      residuals(embV.join(broadcast(sampleIds), "vec_id"))
        .select(col("vec_id"), col("v")), m)
    val codes = pqEncodeVecs(residuals(embV), m, cb, carry = Seq("cell"))
    topK(adcScores(codes, residuals(embV.filter(queryPred)), col("vec_id").as("q_id"), cb, m,
      carry = Seq("cell")), "adist", k)
  }

  /** ANN top-k: candidates restricted to the query's bucket
   *  (`probeRadius` = 0), or to all buckets within that Hamming radius
   *  of it (multi-probe LSH). Radius 1 probes NumPlanes+1 buckets per
   *  query — recall rises at ~(NumPlanes+1)× candidate cost on the
   *  (small, broadcast) query side only; the corpus is still touched
   *  via one equi-join on bucket id. */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int, probeRadius: Int = 0): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 1, "probeRadius 0 or 1")
    val withBucket = emb.select(col("vec_id"),
      asDouble(col("embedding")).as("vec"),
      bucketId(asDouble(col("embedding"))).as("bucket"))
    val probes: Seq[Column] =
      if (probeRadius == 0) Seq(col("bucket"))
      else col("bucket") +:
        (0 until NumPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val queries = withBucket.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
        explode(array(probes: _*)).as("bucket"))
    probeTopK(withBucket, queries, "bucket", k)
  }
}
