package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulation of [[TextAnalysis.stats]], [[TextAnalysis.quality]],
 *  [[TextAnalysis.repetition]] and [[TextAnalysis.gopherRules]] over the
 *  exploded `(doc_id, tk)` token table: group-by aggregates, a
 *  `(doc, pos)` window for n-grams and runs, and doc_id joins. The
 *  operators compute the same columns row-locally through `text_stats`;
 *  TextStatsSpec compares the two. Fractions over a zero-length text or
 *  token stream are `try_divide` nulls, as in the operators. */
object RelationalTextStats {
  import HashConstants.Stopwords
  import TextAnalysis.{bpeCount, tokenTable, tokens}

  private def tokenAggs(docs: DataFrame): DataFrame =
    tokenTable(docs)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("__n_tok"),
        countDistinct(col("tk")).as("__n_typ"),
        sum(length(col("tk"))).as("__tok_chars"),
        sum(when(col("tk").isin(Stopwords: _*), 1L).otherwise(0L)).as("__n_stop"))

  def stats(docs: DataFrame): DataFrame = {
    val len = length(col("text")).cast("double")
    val charSide = docs.select(
      col("doc_id"),
      bpeCount(col("text")).as("n_bpe_tokens"),
      length(col("text")).as("n_chars"),
      try_divide(length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double"), len)
        .as("alpha_ratio"),
      try_divide(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double"), len)
        .as("digit_ratio"))
    charSide.join(tokenAggs(docs), Seq("doc_id"))
      .select(
        col("doc_id"),
        col("__n_tok").cast("int").as("n_tokens"),
        col("__n_typ").cast("int").as("n_types"),
        col("n_bpe_tokens"), col("n_chars"), col("alpha_ratio"), col("digit_ratio"),
        (col("__n_stop").cast("double") / col("__n_tok").cast("double")).as("stopword_ratio"),
        (col("__n_typ").cast("double") / col("__n_tok").cast("double")).as("type_token_ratio"))
  }

  def quality(docs: DataFrame): DataFrame = {
    val nTok = col("__n_tok").cast("double")
    val meanTokLen = col("__tok_chars").cast("double") / nTok
    val stopRatio = col("__n_stop").cast("double") / nTok
    val ttr = col("__n_typ").cast("double") / nTok
    val score = meanTokLen / lit(10.0) + stopRatio + ttr
    tokenAggs(docs).select(
      col("doc_id"),
      meanTokLen.as("mean_token_len"),
      score.as("quality_score"),
      (nTok >= 8 && nTok <= 100000 && stopRatio > 0.0 && ttr > 0.1).as("keep"))
  }

  def repetition(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val base = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("tk"),
        lead(col("col"), 1).over(w).as("__t1"),
        lead(col("col"), 2).over(w).as("__t2"),
        lead(col("col"), 3).over(w).as("__t3"),
        lead(col("col"), 4).over(w).as("__t4"),
        lag(col("col"), 1).over(w).as("__tp"))
    val totals = base.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      (sum(length(col("tk"))) + count(lit(1)) - 1).as("__total_chars"))
    val bigram = base.filter(col("__t1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tk"), col("__t1")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c") * length(col("g"))).as("__cover"))
    val five = base.filter(col("__t4").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tk"), col("__t1"), col("__t2"), col("__t3"), col("__t4")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .groupBy(col("doc_id")).agg(sum(col("c") * length(col("g"))).as("__dup5"))
    val runs = base
      .withColumn("__chg", when(col("__tp").isNull || col("__tp") =!= col("tk"), 1).otherwise(0))
      .withColumn("__run", sum(col("__chg")).over(w))
      .groupBy(col("doc_id"), col("__run")).agg(count(lit(1)).as("__rl"))
      .groupBy(col("doc_id")).agg(max(col("__rl")).as("max_token_run"))
    val total = col("__total_chars").cast("double")
    totals
      .join(bigram, Seq("doc_id"), "left")
      .join(five, Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"))
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("__cover"), lit(0L)).as("top_bigram_cover"),
        try_divide(coalesce(col("__cover"), lit(0L)).cast("double"), total)
          .as("top_bigram_frac"),
        coalesce(col("__dup5"), lit(0L)).as("dup_5gram_chars"),
        try_divide(coalesce(col("__dup5"), lit(0L)).cast("double"), total)
          .as("dup_5gram_frac"),
        col("max_token_run"))
  }

  def gopherRules(docs: DataFrame): DataFrame = {
    val tokStats = tokenTable(docs).groupBy(col("doc_id")).agg(
      count(lit(1)).as("__n_tok"),
      sum(length(col("tk"))).as("__tok_chars"),
      countDistinct(when(col("tk").isin(Stopwords: _*), col("tk"))).as("n_stop_distinct"))
    val chars = docs.select(col("doc_id"),
      length(col("text")).as("__n_chars"),
      length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).as("__sym_chars"))
    val rep = repetition(docs).select(col("doc_id"),
      col("top_bigram_cover"), col("dup_5gram_chars"),
      col("top_bigram_frac"), col("dup_5gram_frac"))
    val joined = tokStats.join(chars, "doc_id").join(rep, "doc_id")
    val totalChars = col("__tok_chars") + col("__n_tok") - 1
    val rCount = col("__n_tok") >= 50 && col("__n_tok") <= 100000
    val rWordLen = col("__tok_chars") >= col("__n_tok") * 3 &&
      col("__tok_chars") <= col("__n_tok") * 10
    val rSymbol = col("__sym_chars") * 10 <= col("__n_chars")
    val rStop = col("n_stop_distinct") >= 2
    val rRep = col("top_bigram_cover") * 5 <= totalChars &&
      col("dup_5gram_chars") * 20 <= totalChars * 3
    joined.select(
      col("doc_id"),
      col("__n_tok").as("n_tokens"),
      round(col("__tok_chars").cast("double") / col("__n_tok"), 4).as("mean_token_len"),
      round(try_divide(col("__sym_chars").cast("double"), col("__n_chars")), 4)
        .as("symbol_ratio"),
      col("n_stop_distinct"),
      round(col("top_bigram_frac"), 4).as("top_bigram_frac"),
      round(col("dup_5gram_frac"), 4).as("dup_5gram_frac"),
      rCount.as("r_count"), rWordLen.as("r_wordlen"), rSymbol.as("r_symbol"),
      rStop.as("r_stop"), rRep.as("r_rep"),
      (rCount && rWordLen && rSymbol && rStop && rRep).as("keep"))
  }
}
