package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The row-local text statistics (`text_stats` and the four operators
 *  projected from it) against the relational reference
 *  [[RelationalTextStats]]: same schema, same rows in both directions. */
class TextStatsSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private val operators: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("stats", TextAnalysis.stats, RelationalTextStats.stats),
    ("quality", TextAnalysis.quality, RelationalTextStats.quality),
    ("repetition", TextAnalysis.repetition, RelationalTextStats.repetition),
    ("gopherRules", TextAnalysis.gopherRules, RelationalTextStats.gopherRules))

  private def assertSameRows(name: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) === want.schema.map(f => f.name -> f.dataType),
      s"$name schema")
    assert(got.exceptAll(want).count() === 0, s"$name: rows the reference lacks")
    assert(want.exceptAll(got).count() === 0, s"$name: reference rows missing")
  }

  private def assertMatchesReference(docs: DataFrame): Unit = {
    val withText = docs.filter(col("text").isNotNull).count()
    operators.foreach { case (name, op, reference) =>
      val got = op(docs)
      assert(got.count() === withText, s"$name keeps one row per non-null text")
      assertSameRows(name, got, reference(docs))
    }
  }

  test("the four operators equal the relational reference on sf0.01 documents") {
    assertMatchesReference(spark.read.parquet("/root/testdata/sf0.01/documents.parquet"))
  }

  test("the four operators equal the relational reference on adversarial texts") {
    val s = spark
    import s.implicits._
    val handPicked = Seq(
      "\tleading tab gives an empty first token",
      "trailing tab\t",
      "",
      "   ",
      "\t",
      "word",
      "two words",
      "four tokens in all",
      "naïve café 日本語 naïve café 日本語 🙂🙂 the a of",
      "The THE the tHe of Of",
      Seq.fill(300)("same").mkString(" "),
      Seq.fill(40)("x y z").mkString("\t") + " x y",
      "a\t\tb \n c\r\nd",
      (("dup gram five token run " * 12) + "the of end"),
      (0 until 120).map(i => s"w${i % 7}").mkString(" "))
    val rnd = new scala.util.Random(8)
    val vocab = Vector("the", "a", "of", "and", "x", "y", "Zed", "é", "日本", "🙂", "to")
    val seps = Vector(" ", " ", " ", "  ", "\t", "\n", " \t")
    val generated = (0 until 300).map { _ =>
      val toks = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      val body = toks.map(_ + seps(rnd.nextInt(seps.size))).mkString
      (if (rnd.nextInt(4) == 0) seps(rnd.nextInt(seps.size)) else "") + body.dropRight(
        if (rnd.nextBoolean() && body.nonEmpty) 1 else 0)
    }
    val texts: Seq[Option[String]] = (handPicked ++ generated).map(Some(_)) :+ None
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assertMatchesReference(docs)
  }

  test("text_stats: closed-form counts, null on null input, null-free array<string> only") {
    val s = spark
    import s.implicits._
    val row = Seq("the cat the cat the cat the sat sat").toDF("text")
      .select(TextAnalysis.textStats(col("text")).as("ts")).select("ts.*").head()
    // 9 tokens of 3 chars, 3 types, "the" ×4; bigrams "the cat" and
    // "cat the" ×3 each → cover 3 × 7; the 5-gram "the cat the cat the"
    // at positions 0 and 2 → 2 × 19 duplicated chars; run "sat sat"
    assert(row.schema.fieldNames.toSeq === Seq("n_tok", "tok_chars", "n_types", "n_stop",
      "n_stop_distinct", "top_bigram_cover", "dup5_chars", "max_run"))
    assert(row.toSeq === Seq(9L, 27L, 3L, 4L, 1L, 21L, 38L, 2L))
    assert(Seq(Option.empty[String]).toDF("text")
      .select(TextAnalysis.textStats(col("text")).isNull).head().getBoolean(0))
    intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(call_function("text_stats", array(lit(1)))).collect())
    intercept[org.apache.spark.sql.AnalysisException](spark.range(1)
      .select(call_function("text_stats", array(lit("a"), lit(null).cast("string")))).collect())
  }
}
