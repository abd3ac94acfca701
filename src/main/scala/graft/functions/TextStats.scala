package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native per-document statistics of a token array (the output of
 * `TextAnalysis.tokens`), computed in one pass inside the row: a struct
 * of exact `long` counts
 *
 *   - `n_tok`, `tok_chars` (code points, as Spark `length` counts them),
 *     `n_types` (distinct tokens);
 *   - `n_stop`, `n_stop_distinct` (stopword occurrences and distinct
 *     stopwords, [[graft.pipeline.HashConstants.Stopwords]]);
 *   - `top_bigram_cover`: the maximum over distinct bigrams of count ×
 *     code-point length of the `" "`-joined bigram;
 *   - `dup5_chars`: the sum of count × length over the 5-grams that
 *     occur at least twice;
 *   - `max_run`: the longest run of consecutive identical tokens.
 *
 * Each count equals the relational form over the exploded `(doc, tk)`
 * table (count, sum of lengths, count distinct, n-gram group-bys), but
 * needs no shuffle: every statistic belongs to one document. Tokens are
 * compared by their UTF-8 bytes, as Spark's string equality does.
 * Evaluated through one codegen call, like [[Md5Prefix28]]; a
 * higher-order lambda over the array would drop the whole projection to
 * interpreted eval.
 */
case class TextStats(child: Expression) extends UnaryExpression {

  /** A token array has no null elements (`split` never yields one). */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text_stats takes an array<string> without nulls, got ${other.simpleString}")
  }
  override def dataType: DataType = TextStats.Type
  override def prettyName: String = "text_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextStats.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStats.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {

  val Type: StructType = StructType(Seq("n_tok", "tok_chars", "n_types", "n_stop",
    "n_stop_distinct", "top_bigram_cover", "dup5_chars", "max_run")
    .map(StructField(_, LongType, nullable = false)))

  private val stopwords: Set[UTF8String] =
    graft.pipeline.HashConstants.Stopwords.map(UTF8String.fromString).toSet

  /** The statistics of one token array, fields in [[Type]] order. */
  def stats(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    // each token as a dense type id, so an n-gram is a pair of ints
    val types = scala.collection.mutable.HashMap.empty[UTF8String, Int]
    val id = new Array[Int](n)
    val len = new Array[Long](n)
    var tokChars, nStop, nStopDistinct, maxRun = 0L
    var run = 0L
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val isStop = stopwords.contains(t)
      val known = types.getOrElse(t, -1)
      if (known >= 0) id(i) = known
      else {
        id(i) = types.size
        types(t) = id(i)
        if (isStop) nStopDistinct += 1
      }
      len(i) = t.numChars
      tokChars += len(i)
      if (isStop) nStop += 1
      run = if (i > 0 && id(i) == id(i - 1)) run + 1 else 1
      maxRun = math.max(maxRun, run)
      i += 1
    }
    // bigram i = (token i, token i+1); 4-gram i = (bigram i, bigram i+2);
    // 5-gram i = (4-gram i, token i+4)
    val bigram = pairIds(id, id, 1)
    val fiveGram = pairIds(pairIds(bigram, bigram, 2), id, 4)
    val bigramCount = counts(bigram)
    val fiveGramCount = counts(fiveGram)
    var cover, dup5 = 0L
    i = 0
    while (i < bigram.length) {
      cover = math.max(cover, bigramCount(bigram(i)) * (len(i) + 1 + len(i + 1)))
      i += 1
    }
    // a 5-gram seen c ≥ 2 times adds c × its length: once per occurrence
    i = 0
    while (i < fiveGram.length) {
      if (fiveGramCount(fiveGram(i)) >= 2)
        dup5 += len(i) + len(i + 1) + len(i + 2) + len(i + 3) + len(i + 4) + 4
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, tokChars, types.size.toLong, nStop,
      nStopDistinct, cover, dup5, maxRun))
  }

  /** Dense ids, numbered by first occurrence, of the pairs
   *  `(a(i), b(i + off))` for every `i` where both exist. */
  private def pairIds(a: Array[Int], b: Array[Int], off: Int): Array[Int] = {
    val ids = scala.collection.mutable.HashMap.empty[Long, Int]
    Array.tabulate(math.max(0, math.min(a.length, b.length - off))) { i =>
      ids.getOrElseUpdate((a(i).toLong << 32) | b(i + off), ids.size)
    }
  }

  /** Occurrences of each dense id. */
  private def counts(ids: Array[Int]): Array[Long] = {
    val c = new Array[Long](if (ids.isEmpty) 0 else ids.max + 1)
    ids.foreach(x => c(x) += 1)
    c
  }
}
