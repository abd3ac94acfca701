package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Repetition metrics and corpus-LM scoring on hand-built corpora with
 *  closed-form expected values. */
class TextAnalysisSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def corpus(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("pmiFromCounts over split partials equals pmi over the whole corpus") {
    val docs = corpus(
      1L -> "big data big data big model",
      2L -> "big data small model big data",
      3L -> "small data big model small rock",
      4L -> "rock and roll and rock and roll")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val direct = rows(TextAnalysis.pmi(docs, minCount = 2, k = 10, headVocab = 16))
    assert(direct.nonEmpty)
    // "big data" co-occurs far above chance: it must outrank "big model"
    val ranked = direct.map(t => (t._1, t._2))
    assert(ranked.indexOf(("big", "data")) >= 0)
    assert(ranked.indexOf(("rock", "and")) >= 0 || ranked.indexOf(("and", "rock")) >= 0)
    // two micro-batch partials, summed at read — identical output
    val (a, b) = (docs.filter(col("doc_id") <= 2), docs.filter(col("doc_id") > 2))
    val served = rows(TextAnalysis.pmiFromCounts(
      TextAnalysis.unigramCounts(a).unionByName(TextAnalysis.unigramCounts(b)),
      TextAnalysis.bigramCounts(a).unionByName(TextAnalysis.bigramCounts(b)),
      minCount = 2, k = 10, headVocab = 16))
    assert(served === direct)
    // the head restriction binds identically on both paths
    val directH = rows(TextAnalysis.pmi(docs, minCount = 1, k = 20, headVocab = 3))
    val servedH = rows(TextAnalysis.pmiFromCounts(
      TextAnalysis.unigramCounts(docs), TextAnalysis.bigramCounts(docs),
      minCount = 1, k = 20, headVocab = 3))
    assert(servedH === directH)
    assert(directH.size < direct.size || directH.forall(t =>
      Set(t._1, t._2).subsetOf(Set("big", "data", "and"))),
      "a 3-word head must restrict the pair space")
  }

  test("redactPii: sequential scrub, per-class counts, stable fingerprint") {
    val docs = corpus(
      1L -> "contact a.b+x@mail-host.co.uk or admin@ex.io now",
      2L -> "server 10.0.0.1 and 192.168.001.255 up",
      3L -> "acct 12345678 pin 123 ip 1.2.3.4 ssn 987654321",
      4L -> "clean text no pii")
    val out = TextAnalysis.redactPii(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    assert(out(1L).getAs[Long]("n_emails") === 2L)
    assert(out(1L).getAs[Long]("n_ips") === 0L)
    assert(out(2L).getAs[Long]("n_ips") === 2L)
    assert(out(2L).getAs[Long]("n_ids") === 0L) // octets never re-count as ids
    assert(out(3L).getAs[Long]("n_ips") === 1L)
    assert(out(3L).getAs[Long]("n_ids") === 2L) // 8- and 9-digit runs; "123" too short
    assert(out(4L).getAs[Long]("n_emails") === 0L)
    assert(out(4L).getAs[Long]("n_ips") === 0L)
    assert(out(4L).getAs[Long]("n_ids") === 0L)

    // the fingerprint is md5 of the deterministic sequential rewrite
    val red3 = "acct <NUM> pin 123 ip <IP> ssn <NUM>"
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(red3.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(3L).getAs[String]("redacted_hash") === md5hex)
    assert(out(3L).getAs[Long]("n_chars_redacted") === red3.length.toLong)
    // a clean doc's redacted hash equals its own content hash
    val md5clean = java.security.MessageDigest.getInstance("MD5")
      .digest("clean text no pii".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(4L).getAs[String]("redacted_hash") === md5clean)
  }

  test("keepExpr: per-row gate is bit-identical to the batch quality gate") {
    val sf = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val batch = TextAnalysis.quality(sf).select(col("doc_id"), col("keep"))
    val perRow = sf.select(col("doc_id"), TextAnalysis.keepExpr(col("text")).as("keep"))
    assert(batch.exceptAll(perRow).count() === 0)
    assert(perRow.exceptAll(batch).count() === 0)
    // and both sides actually discriminate on this corpus
    val kept = perRow.filter(col("keep")).count()
    assert(kept > 0 && kept < sf.count())
  }

  test("repetition: bigram cover, duplicated 5-grams, token runs") {
    val docs = corpus(
      1L -> "a b a b a b c",          // "a b" ×3 → cover 9; no dup 5-gram
      2L -> "x x x x y",              // run of 4; "x x" ×3 → cover 9
      3L -> "p q p q p q p q p q")    // every 5-gram duplicated
    val out = TextAnalysis.repetition(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    val d1 = out(1L)
    assert(d1.getAs[Long]("n_tokens") === 7L)
    assert(d1.getAs[Long]("top_bigram_cover") === 9L) // "a b": 3 × len 3
    assert(d1.getAs[Double]("top_bigram_frac") === 9.0 / 13.0)
    assert(d1.getAs[Long]("dup_5gram_chars") === 0L)
    assert(d1.getAs[Long]("max_token_run") === 1L)

    val d2 = out(2L)
    assert(d2.getAs[Long]("max_token_run") === 4L)
    assert(d2.getAs[Long]("top_bigram_cover") === 9L) // "x x": 3 × len 3

    // "p q p q p" at positions 0/2/4 and "q p q p q" at 1/3/5: all six
    // windows are duplicates → 6 × 9 chars over a 19-char stream
    val d3 = out(3L)
    assert(d3.getAs[Long]("dup_5gram_chars") === 54L)
    assert(d3.getAs[Double]("dup_5gram_frac") === 54.0 / 19.0)
    assert(d3.getAs[Long]("max_token_run") === 1L)
  }

  test("gopherRules: each gate fires on its planted violation; clean doc keeps") {
    // a clean doc: 60 tokens, mean len ~4, 2+ distinct stopwords, no repetition
    val cleanText = (0 until 58).map(i => s"word${i}x").mkString(" ") + " the of"
    val docs = corpus(
      1L -> cleanText,
      2L -> "the of too short",                               // r_count fails (4 tokens)
      3L -> ((0 until 58).map(_ => "a").mkString(" ") + " the of"), // r_wordlen fails (mean 1)
      4L -> (cleanText.replaceAll("x", "###")),               // r_symbol fails
      5L -> ((0 until 60).map(i => s"word${i}y").mkString(" ")), // r_stop fails (0 stopwords)
      6L -> (("dup gram five token run " * 12) + "the of end")) // r_rep fails (dup 5-grams)
    val out = TextAnalysis.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("r_count") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("r_wordlen") && !out(3L).getAs[Boolean]("keep"))
    assert(!out(4L).getAs[Boolean]("r_symbol") && !out(4L).getAs[Boolean]("keep"))
    assert(!out(5L).getAs[Boolean]("r_stop") && !out(5L).getAs[Boolean]("keep"))
    assert(!out(6L).getAs[Boolean]("r_rep") && !out(6L).getAs[Boolean]("keep"))
    // the keep decision is pure integer arithmetic: surfaced ratios agree
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_tokens") === 60L)
    assert(r1.getAs[Long]("n_stop_distinct") === 2L)
  }

  test("corpusLogProb: closed-form entropy and corpus log-prob") {
    val docs = corpus(1L -> "a a a a", 2L -> "a b") // vocab: a→5, b→1
    val out = TextAnalysis.corpusLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    val d1 = out(1L)
    assert(d1.getAs[Long]("n_tokens") === 4L)
    assert(math.abs(d1.getAs[Double]("avg_logprob") - math.log(5.0 / 6.0)) < 1e-12)
    assert(math.abs(d1.getAs[Double]("entropy")) < 1e-12) // single-token doc

    val d2 = out(2L)
    val expectedLp = (math.log(5.0 / 6.0) + math.log(1.0 / 6.0)) / 2.0
    assert(math.abs(d2.getAs[Double]("avg_logprob") - expectedLp) < 1e-12)
    assert(math.abs(d2.getAs[Double]("entropy") - math.log(2.0)) < 1e-12)
  }

  test("bigramLogProb: word order discriminates; closed form; head/tail split is value-invariant") {
    // five fluent docs alternate x y; doc 6 uses the SAME unigrams in a
    // rare order — unigram scoring can't tell them apart, bigrams can
    val fluent = (1L to 5L).map(_ -> "x y x y x y x y")
    val salad = 6L -> "x x y y x x y y"
    val docs = corpus((fluent :+ salad): _*)
    val out = TextAnalysis.bigramLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === (1L to 6L).toSet)
    (1L to 6L).foreach(id => assert(out(id).getAs[Long]("n_bigrams") === 7L))
    assert(out(6L).getAs[Double]("avg_logprob2") <
      out(1L).getAs[Double]("avg_logprob2") - 0.1,
      "same-unigram word salad must score below the fluent pattern")
    // closed form for the fluent docs: corpus bigrams xy=20+2, xx=2,
    // yx=15+1, yy=2; c1 (successor-having occurrences): x-first=24, y-first=18
    val pXY = 22.0 / 24.0; val pYX = 16.0 / 18.0
    val expect1 = (4 * math.log(pXY) + 3 * math.log(pYX)) / 7.0
    assert(math.abs(out(1L).getAs[Double]("avg_logprob2") - expect1) < 1e-12)
    // the zipf head/tail split is an execution detail: hotN=1 (one head
    // bigram, rest tail) and hotN=1024 (all head) must agree exactly
    val viaTiny = TextAnalysis.bigramLogProb(docs, hotN = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob2")).toMap
    (1L to 6L).foreach(id =>
      assert(viaTiny(id) === out(id).getAs[Double]("avg_logprob2")))
    // a wide-open bounded head table degenerates to the exhaustive LM
    val viaCapWide = TextAnalysis.bigramLogProb(docs, 1024, 100, 100).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob2")).toMap
    (1L to 6L).foreach(id =>
      assert(viaCapWide(id) === out(id).getAs[Double]("avg_logprob2")))
  }

  test("bigramLogProb bounded head table: out-of-model bigrams drop, survivors keep true MLE") {
    // corpus bigrams: ab=3, ba=3, ac=2, cd=1, de=3, ed=1 —
    // c1 (successor mass): a=5, b=3, c=1, d=3, e=1
    val docs = corpus(
      1L -> "a b a b a c",   // bigrams: ab, ba, ab, ba, ac
      2L -> "a b a c d e",   // ab, ba, ac, cd, de
      3L -> "d e d e")       // de, ed, de
    // headVocab=1 keeps only first-word 'a' (mass 5 > b:3, d:3);
    // maxSuccessors=1 keeps only a→b (cb 3 > a→c 2). Scored bigram set
    // = {"a b"}, P(b|a) = 3/5 (cnt1 = FULL successor mass of 'a')
    val out = TextAnalysis.bigramLogProb(docs, 1024, 1, 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === Set(1L, 2L), "doc 3 has no in-model bigram and drops")
    assert(out(1L).getAs[Long]("n_bigrams") === 2L)
    assert(out(2L).getAs[Long]("n_bigrams") === 1L)
    val pAB = math.log(3.0 / 5.0)
    assert(math.abs(out(1L).getAs[Double]("avg_logprob2") - pAB) < 1e-12)
    assert(math.abs(out(2L).getAs[Double]("avg_logprob2") - pAB) < 1e-12)
  }

  test("keywords: rare tokens outrank common ones; ranks dense and ordered") {
    val docs = corpus(
      1L -> "common common zebra",   // zebra: df=1 → max idf
      2L -> "common words here",
      3L -> "common words there")
    val kw = TextAnalysis.keywords(docs, 2).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // doc 1: zebra (tf=1, df=1) scores ln(3); common (tf=2, df=3) scores 0
    val d1 = kw(1L).sortBy(_.getAs[Int]("rank"))
    assert(d1.head.getAs[String]("token") === "zebra")
    assert(math.abs(d1.head.getAs[Double]("tfidf") - math.log(3.0)) < 1e-3)
    kw.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to sorted.length))
      val scores = sorted.map(_.getAs[Double]("tfidf"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bm25TopK: closed form for a one-term query; self-retrieval tops; k caps; absent terms drop") {
    val s = spark
    import s.implicits._
    val docs = corpus(
      1L -> "zebra zebra stripes",     // tf(zebra)=2, dl=3
      2L -> "zebra plains",            // tf(zebra)=1, dl=2
      3L -> "common words only here",  // no zebra, dl=4
      4L -> "common words too")        // dl=3
    val queries = Seq((100L, "zebra unseen")).toDF("query_id", "text")
    val out = TextAnalysis.bm25TopK(docs, queries, 5).collect()
      .sortBy(_.getAs[Int]("rank"))
    // only docs containing 'zebra' match ('unseen' has no postings)
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L))
    // closed form, doc 1: N=4, df=2, dl=3, avgdl=3 →
    // idf = ln((4-2+0.5)/(2+0.5)+1), w = 2*2.2/(2+1.2*(0.25+0.75*3/3))
    val idf = math.log((4 - 2 + 0.5) / (2 + 0.5) + 1.0)
    val w1 = 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0))
    assert(math.abs(out.head.getAs[Double]("score") -
      BigDecimal(idf * w1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // self-retrieval: a query that IS a corpus doc ranks itself first
    val self = TextAnalysis.bm25TopK(docs,
      docs.filter(col("doc_id") === 3L).select(col("doc_id").as("query_id"), col("text")), 2)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(self.head.getAs[Long]("doc_id") === 3L)
    // k caps the per-query output
    assert(TextAnalysis.bm25TopK(docs, queries, 1).count() === 1)
    // maxDfFrac drops stopword-like query terms BEFORE the postings
    // join: 'common' (df 2/4 = 0.5) survives at 0.5 but drops at 0.4 —
    // and with it docs 3/4, which only matched through 'common'
    // ('stripes' is df 1/4 and survives both)
    val q2 = Seq((200L, "common stripes")).toDF("query_id", "text")
    val withCommon = TextAnalysis.bm25TopK(docs, q2, 5, maxDfFrac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(withCommon === Set(1L, 3L, 4L))
    val capped = TextAnalysis.bm25TopK(docs, q2, 5, maxDfFrac = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(capped === Set(1L))
  }

  test("bm25TopK maxPostings: impact-ordered truncation keeps top-wTf postings only") {
    val s = spark
    import s.implicits._
    // 'zebra' postings ranked by wTf: doc 1 (tf=2, dl=3) > doc 2
    // (tf=1, dl=2) > doc 5 (tf=1, dl=5) — higher tf wins, then shorter dl
    val docs = corpus(
      1L -> "zebra zebra stripes",
      2L -> "zebra plains",
      5L -> "zebra word word word word",
      3L -> "common words only here")
    val queries = Seq((100L, "zebra")).toDF("query_id", "text")
    // untruncated: all three zebra docs score
    assert(TextAnalysis.bm25TopK(docs, queries, 5)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 5L))
    // maxPostings=2 keeps only the two highest-impact postings (docs 1, 2)
    val t2 = TextAnalysis.bm25TopK(docs, queries, 5, maxPostings = 2)
    assert(t2.select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    // scores of surviving postings are IDENTICAL to the untruncated run
    // (truncation drops rows, never rescales survivors)
    val full = TextAnalysis.bm25TopK(docs, queries, 5)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    t2.select("doc_id", "score").as[(Long, Double)].collect().foreach {
      case (id, sc) => assert(sc === full(id))
    }
    // a cap at least as large as every df is a no-op
    assert(TextAnalysis.bm25TopK(docs, queries, 5, maxPostings = 100)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 5L))
    // composes with maxDfFrac ('zebra' df 3/4 drops at 0.5)
    assert(TextAnalysis.bm25TopK(docs, queries, 5, maxDfFrac = 0.5,
      maxPostings = 2).count() === 0)
  }

  test("oovRate: top-V membership by count with token tiebreak; per-doc integer counts") {
    val docs = corpus(
      1L -> "a a a b b c", // a:3 b:2 c:1
      2L -> "a b z z", // z:2
      3L -> "q") // q:1
    // corpus counts: a=4 b=3 z=2 c=1 q=1 → top-3 vocab {a, b, z}
    val out = TextAnalysis.oovRate(docs, 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      1L -> ((6L, 1L, 0.1667)), // c is OOV
      2L -> ((4L, 0L, 0.0)),
      3L -> ((1L, 1L, 1.0))))
    // tiebreak: with V=4 the c/q tie at count 1 resolves token-ascending → c in
    val out4 = TextAnalysis.oovRate(docs, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out4 === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    intercept[IllegalArgumentException] { TextAnalysis.oovRate(docs, 0) }
  }

  test("decontaminate: planted overlap found; maxDf cap drops shared shingles") {
    val docs = corpus(
      0L -> "alpha beta gamma delta",          // eval: 2 distinct shingles
      1L -> "alpha beta gamma delta epsilon",  // shares both
      2L -> "zeta eta theta iota")             // shares none
    val hits = Corpus.decontaminate(docs, col("doc_id") === 0, minOverlap = 2).collect()
    assert(hits.length === 1)
    assert(hits.head.getAs[Long]("train_id") === 1L)
    assert(hits.head.getAs[Long]("eval_id") === 0L)
    assert(hits.head.getAs[Long]("n_overlap") === 2L)
    assert(hits.head.getAs[Double]("overlap_frac") === 1.0)

    // both overlapping shingles live in 2 docs → a df cap of 1 removes them
    val capped = Corpus.decontaminate(docs, col("doc_id") === 0,
      minOverlap = 1, maxDf = 1)
    assert(capped.count() === 0)

    // the eval predicate may reference ANY document column, not just the
    // ones the shingle table carries (it is evaluated against docs and
    // joined on doc_id)
    val flagged = docs.withColumn("src",
      when(col("doc_id") === 0, "eval").otherwise("train"))
    val byCol = Corpus.decontaminate(flagged, col("src") === "eval", minOverlap = 2).collect()
    assert(byCol.toSeq === hits.toSeq)
  }

  test("corpusLogProb under a Zipf-hot token: head broadcasts, tail equi-joins, values exact") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val conf = spark.conf
    val savedBroadcast = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable AUTO broadcasting so the plan proves the point: only the
      // explicit Zipf-head broadcast keeps the hot token's fact rows out
      // of the token-keyed shuffle (AQE's skew rule can't fire on this
      // shape — the dim side is an aggregate reusing its own shuffle)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 90%-one-token corpus: "the" dominates every document
      val corpus = (0L until 400L).map { i =>
        val toks = Seq.fill(45)("the") ++
          Seq(s"tok$i", s"u${i % 7}", s"v${i % 13}", s"w${i % 3}", s"x${i % 5}")
        i -> toks
      }
      val docs = corpus.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text")
      val out = TextAnalysis.corpusLogProb(docs, hotVocab = 4)
      val rows = out.collect().map(r =>
        r.getAs[Long]("doc_id") -> (r.getAs[Double]("avg_logprob"), r.getAs[Double]("entropy"))).toMap
      // ground truth recomputed in plain Scala from the same corpus
      val cnt = corpus.flatMap(_._2).groupBy(identity).map { case (t, xs) => t -> xs.size }
      val total = cnt.values.sum.toDouble
      corpus.foreach { case (i, toks) =>
        val byTok = toks.groupBy(identity).map { case (t, xs) => t -> xs.size }
        val n = toks.size.toDouble
        val lp = byTok.map { case (t, c) => c * math.log(cnt(t) / total) }.sum / n
        val en = math.log(n) - byTok.map { case (_, c) => c * math.log(c.toDouble) }.sum / n
        assert(math.abs(rows(i)._1 - lp) < 1e-9, s"doc $i avg_logprob")
        assert(math.abs(rows(i)._2 - en) < 1e-9, s"doc $i entropy")
      }
      // plan evidence: the head joins via an EXPLICIT broadcast while the
      // tail goes through the shuffled join — the hot token never shuffles
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"hot head must broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cold tail keeps the shuffled equi-join:\n$plan")
    } finally savedBroadcast match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("unigramDrift: hand-computed JSD; identical distributions read zero") {
    val s = spark
    import s.implicits._
    // A: x,x,y,y → p=(.5,.5); B: x,x,x,y → p=(.75,.25); C: same as A
    val docs = Seq(
      (1L, "x x y y", "A"), (2L, "x x x y", "B"), (3L, "x x y y", "C"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.unigramDrift(docs, headN = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    def term(p: Double, q: Double): Double =
      if (p == 0) 0.0 else p * math.log(2 * p / (p + q))
    val expected = BigDecimal(
      0.5 * (term(0.5, 0.75) + term(0.5, 0.25)) +
        0.5 * (term(0.75, 0.5) + term(0.25, 0.5)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("A", "B")) === expected)
    assert(got(("B", "C")) === expected, "JSD is symmetric: d(B,C) = d(A,B) since C = A")
    assert(got(("A", "C")) === 0.0, "identical distributions diverge by zero")
    assert(got.size === 3, "each unordered pair reported once")
  }
}
