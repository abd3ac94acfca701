package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The benchmark's seeded input generators. Every input is a pure
 * function of the seed, so the same seed gives the same inputs, and the
 * program under test only ever sees the generated tables, never the
 * workload that asked for them.
 *
 * Rows follow the testdata `events` schema (event_id, ts, user_id,
 * event_type, value, props), which graft maps to points: metric :=
 * event_type, tags derive from user_id. A series is therefore one
 * (event_type, user_id) pair.
 */
object Gen {

  /** 2024-01-01T00:00:00Z: aligned to graft's 2h segments. */
  val T0: Long = 1704067200L
  val Hour: Long = 3600L
  val Segment: Long = 2 * Hour
  val Day: Long = 24 * Hour

  val Metrics: IndexedSeq[String] = IndexedSeq("click", "view", "error", "purchase", "login")
  val Users: Int = 1000
  val NumSeries: Int = Metrics.size * Users

  /** A seeded bijection from popularity rank to series index, so each
   *  seed makes different series hot. */
  final case class SeriesPerm(seed: Long) {
    private val rnd = new scala.util.Random(seed ^ 0x5e71e5L)
    val a: Long = Iterator.continually(1 + rnd.nextInt(NumSeries - 1))
      .find(x => BigInt(x).gcd(BigInt(NumSeries)) == 1).get.toLong
    val b: Long = rnd.nextInt(NumSeries).toLong
    def apply(rank: Int): Int = ((rank * a + b) % NumSeries).toInt
    def col(rank: Column): Column = pmod(rank * lit(a) + lit(b), lit(NumSeries.toLong))
    def metric(series: Int): String = Metrics(series % Metrics.size)
    def user(series: Int): Int = series / Metrics.size
  }

  /** Uniform [0, 1) from (seed, salt, id): a hash, not a stateful RNG,
   *  so the value does not depend on how Spark partitions the range. */
  def uniform(seed: Long, salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)

  /** A Zipf(s = 1)-like rank in [0, n): log-uniform, so P(r) ~ 1/(r+1). */
  def zipfRank(u: Column, n: Int): Column =
    least(floor(exp(u * lit(math.log(n + 1.0)))).cast("long") - 1, lit(n - 1L))

  private def eventsColumns(seed: Long, perm: SeriesPerm, id: Column, ts: Column,
      eventId: Column): Seq[Column] = {
    val series = perm.col(zipfRank(uniform(seed, 2, id), NumSeries))
    Seq(
      eventId.as("event_id"),
      ts.as("ts"),
      (series.cast("long") / Metrics.size).cast("long").as("user_id"),
      element_at(array(Metrics.map(lit): _*), (series % Metrics.size).cast("int") + 1)
        .as("event_type"),
      round(pmod(series, lit(17L)).cast("double") * 3 + uniform(seed, 3, id) * 20, 2)
        .as("value"),
      concat(lit("{\"k\": "), floor(uniform(seed, 4, id) * 100).cast("string"), lit("}"))
        .as("props"))
  }

  /** `n` events spread in time order over [start, start + spanSec), with
   *  Zipf-skewed series popularity. */
  def events(spark: SparkSession, seed: Long, n: Long, start: Long, spanSec: Long): DataFrame = {
    val id = col("id")
    val spanUs = spanSec * 1000000L
    val tsUs = lit(start * 1000000L) +
      floor((id.cast("double") + uniform(seed, 1, id)) * lit(spanUs.toDouble / n)).cast("long")
    spark.range(n).select(eventsColumns(seed, SeriesPerm(seed), id, timestamp_micros(tsUs), id): _*)
  }

  // ------------------------------------------------------------- ingest

  /** Admission bounds the ingest is configured with; the generator plants
   *  rows just outside them. */
  final case class IngestShape(rowsPerBatch: Int, retentionSec: Long, maxFutureSec: Long) {
    require(rowsPerBatch % ClassCycle == 0, s"rowsPerBatch must be a multiple of $ClassCycle")
    /** Planted late and far-future rows among `n` generated rows. */
    def late(n: Long): Long = n / ClassCycle * LateSlots
    def future(n: Long): Long = n / ClassCycle * FutureSlots
    def admitted(n: Long): Long = n - late(n) - future(n)
  }

  /** Row classes repeat every 200 rows: 4 late (2%), 1 far-future (0.5%),
   *  2 stragglers into recent closed segments (1%, admitted), the rest
   *  on time. The counts are exact for any seed. */
  val ClassCycle = 200
  private val LateSlots = 4
  private val FutureSlots = 1
  private val StragglerSlots = 2

  /** One micro-batch whose on-time rows fill `segments` 2h segments from
   *  `segStart`; the ingest clock reads their end. Stragglers land up to
   *  6h before the batch's last segment. Event ids continue across
   *  batches. */
  def ingestBatch(spark: SparkSession, seed: Long, shape: IngestShape, batch: Int,
      segStart: Long, segments: Int = 1, rows: Option[Long] = None): DataFrame = {
    val n = rows.getOrElse(shape.rowsPerBatch.toLong * segments)
    require(n % ClassCycle == 0, s"row count must be a multiple of $ClassCycle")
    val id = col("id")
    val now = segStart + segments * Segment
    val perm = SeriesPerm(seed)
    // a seeded stride coprime to the cycle shuffles classes within it
    val stride = Seq(7L, 11L, 13L, 17L, 19L, 23L)((seed % 6 + 6).toInt % 6)
    val slot = pmod(id * lit(stride) + lit(seed), lit(ClassCycle.toLong))
    val u = uniform(seed, 10 + batch, id)
    val sec = when(slot < LateSlots,
        lit(now - shape.retentionSec - Hour) - u * lit(9 * Hour))
      .when(slot < LateSlots + FutureSlots,
        lit(now + shape.maxFutureSec + Hour) + u * lit(4 * Hour))
      .when(slot < LateSlots + FutureSlots + StragglerSlots,
        lit(now - Segment - 1) - u * lit(6 * Hour - 1))
      .otherwise(lit(segStart) + (id.cast("double") + u) * lit(segments * Segment.toDouble / n))
    val ts = timestamp_micros(floor(sec * 1000000L).cast("long"))
    val eventId = id + lit(batch.toLong * 100000000L)
    spark.range(n).select(eventsColumns(seed ^ batch, perm, id, ts, eventId): _*)
  }

  // ------------------------------------------------------------- corpus

  final case class Corpus(
      docs: Seq[(Long, String, String, String, Long)],
      embeddings: Seq[(Long, Array[Float], Int)],
      exactGroups: Seq[Seq[Long]],
      nearPairs: Seq[(Long, Long)],
      vectorTwins: Seq[(Long, Long)])

  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si",
    "pe", "da", "gu", "ri", "no", "be", "za", "ho")

  /** Vocabulary rank → word: graft's stopwords take the top ranks, as in
   *  natural text; the rest are 2–4 syllable synthetic words. */
  private def word(rank: Int): String = {
    val stop = graft.pipeline.HashConstants.Stopwords
    if (rank < stop.size) stop(rank)
    else {
      var r = rank - stop.size
      val b = new StringBuilder
      do { b ++= Syllables(r % Syllables.size); r /= Syllables.size } while (r > 0)
      if (b.length < 4) b ++= "n"
      b.result()
    }
  }

  /** A corpus of `nDocs` documents over a Zipfian vocabulary, with planted
   *  exact duplicates (case and whitespace variants), one-token near
   *  duplicates, and `nDocs` 64-d embeddings with planted near-twins. */
  def corpus(seed: Long, nDocs: Int, vocab: Int = 5000, dim: Int = 64): Corpus = {
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def drawWord(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(vocab - 1)
    }
    val nExactSrc = nDocs / 50 // 2% of docs get 1-2 exact copies
    val nNear = nDocs / 25 // 4% of docs get a one-token variant
    val nFresh = nDocs - nNear - nExactSrc * 3 / 2
    val fresh = Array.fill(nFresh)(Array.fill(60 + rnd.nextInt(60))(drawWord()))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    texts ++= fresh.map(_.map(word).mkString(" "))
    val exactGroups = (0 until nExactSrc).map { g =>
      val src = g.toLong
      val copies = if (g % 2 == 0) 1 else 2
      src +: (1 to copies).map { c =>
        val t = texts(src.toInt)
        texts += (if (c == 1) t.toUpperCase else t.replace(" ", "  ") + " ")
        (texts.size - 1).toLong
      }
    }
    val nearPairs = (0 until nNear).map { i =>
      val src = nExactSrc + i
      val toks = fresh(src).clone()
      val at = 3 + rnd.nextInt(toks.length - 6)
      toks(at) = (toks(at) + 1 + rnd.nextInt(vocab - 1)) % vocab
      texts += toks.map(word).mkString(" ")
      (src.toLong, (texts.size - 1).toLong)
    }
    val sources = IndexedSeq("web", "books", "code", "news")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", sources(i % sources.size), t.length.toLong)
    }.toSeq
    // embeddings: unit-ish vectors around 32 seeded centres; every 50th
    // vector gets a twin a tiny perturbation away
    val centres = Array.fill(32)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val nVec = texts.size
    val nTwins = nVec / 50
    val base = Array.tabulate(nVec - nTwins) { i =>
      val c = centres(i % centres.length)
      Array.tabulate(dim)(j => c(j) + 0.6f * rnd.nextGaussian().toFloat)
    }
    val twins = (0 until nTwins).map { i =>
      val src = i * 49
      (src, Array.tabulate(dim)(j => base(src)(j) + 0.001f * rnd.nextGaussian().toFloat))
    }
    val embeddings = base.zipWithIndex.map { case (v, i) => (i.toLong, v, i % centres.length) }.toSeq ++
      twins.zipWithIndex.map { case ((src, v), k) =>
        ((base.length + k).toLong, v, src % centres.length) }
    val vectorTwins = twins.zipWithIndex.map { case ((src, _), k) =>
      (src.toLong, (base.length + k).toLong) }
    Corpus(docs, embeddings, exactGroups, nearPairs, vectorTwins)
  }

  // ------------------------------------------------------------- digests

  /** An order-independent digest of a DataFrame's rows. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.map(c => col(s"`$c`")).toSeq
    val h1 = xxhash64(cols: _*).cast("decimal(38,0)")
    val h2 = xxhash64(lit("graftbench") +: cols: _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), sum(h1), sum(h2)).head
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}
