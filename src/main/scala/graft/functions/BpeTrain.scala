package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distributed BPE tokenizer-vocabulary training (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the step a training pipeline runs BEFORE token counting
  * means anything: learn the merge table from the corpus itself.
  *
  * Spark-first decomposition: the 100 TB corpus is touched ONCE (the
  * word-frequency aggregation); every merge iteration then runs on
  * the word-frequency relation — Zipf-bounded (millions of rows at
  * web scale, not trillions), stored (each merge step replaces it with
  * a checkpoint of the merged relation), and fully distributed: one
  * partial-aggregated shuffle for weighted pair counts per
  * iteration. The per-iteration argmax is a 1-row driver collect —
  * a model fit reading one parameter per step (the [[PqModel.train]]
  * pattern), not a data collect.
  *
  * Merge semantics are the canonical greedy leftmost scan
  * ([[BpeImpl.mergePair]]); ties on pair count break
  * deterministically (count DESC, then pair lexicographic), so the
  * learned table is reproducible and the `q_text_bpe_train` gate
  * re-derives every merge in DuckDB — the oracle unrolls the
  * iterations as CTEs and expresses the greedy scan relationally
  * (match positions, run-parity keep set via window functions).
  */
object BpeTrain {

  final case class Merge(step: Int, a: String, b: String, cnt: Long)

  /** Learn `numMerges` merges from the whitespace-token stream of
    * `text`. Stops early when no pair reaches `minCount`.
    */
  def train(df: DataFrame, text: Column, numMerges: Int, minCount: Long = 2L): Seq[Merge] =
      Rounds.run(df, "bpeTrain") { rounds =>
    require(numMerges >= 1 && numMerges <= (1 << 16), s"numMerges out of range: $numMerges")
    val words = df.select(explode(TokenExprs.tokens(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var syms = rounds.pin(words.select(col("cnt"),
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms")))
    val merges = Vector.newBuilder[Merge]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val pairs = syms.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
      val best = pairs.orderBy(col("c").desc, col("a").asc, col("b").asc).limit(1).collect()
      if (best.isEmpty || best.head.getAs[Long]("c") < minCount) done = true
      else {
        val (a, b, c) = (best.head.getAs[String]("a"), best.head.getAs[String]("b"),
          best.head.getAs[Long]("c"))
        merges += Merge(step, a, b, c)
        syms = rounds.replace(syms, syms.withColumn("syms",
          GraftExpr.column(BpeMergeExpr(GraftExpr.expression(col("syms")), a, b))))
        step += 1
      }
    }
    merges.result()
  }

  /** Encode a token array with a learned merge table: each token's
    * characters, merged greedily in table order — the trained
    * tokenizer as a Column (array of subword symbols per doc).
    */
  def applyMerges(tokens: Column, merges: Seq[(String, String)]): Column =
    GraftExpr.column(BpeApplyExpr(GraftExpr.expression(tokens),
      merges.map(_._1).toArray, merges.map(_._2).toArray))
}

object BpeImpl {
  /** Canonical greedy merge pass: leftmost first, merged symbols do
    * not re-participate within the pass.
    */
  def mergePair(syms: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new Array[Any](n)
    var i = 0
    var k = 0
    while (i < n) {
      val s = syms.getUTF8String(i)
      if (i + 1 < n && s != null && s.equals(a) &&
          syms.getUTF8String(i + 1) != null && syms.getUTF8String(i + 1).equals(b)) {
        out(k) = UTF8String.concat(a, b)
        i += 2
      } else {
        out(k) = s
        i += 1
      }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], k))
  }

  /** Apply a merge table to one token: chars, then each merge pass
    * in table order.
    */
  def applyTo(tokens: ArrayData, as: Array[UTF8String], bs: Array[UTF8String]): ArrayData = {
    val outAll = Vector.newBuilder[Any]
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val tok = tokens.getUTF8String(t)
      if (tok != null) {
        var syms: ArrayData = new GenericArrayData(
          (0 until tok.numChars()).map(i => tok.substring(i, i + 1): Any).toArray)
        var m = 0
        while (m < as.length) {
          syms = mergePair(syms, as(m), bs(m))
          m += 1
        }
        var i = 0
        while (i < syms.numElements()) { outAll += syms.getUTF8String(i); i += 1 }
      }
      t += 1
    }
    new GenericArrayData(outAll.result().toArray)
  }
}

/** One greedy merge pass over a symbol array (constant pair). */
case class BpeMergeExpr(child: Expression, a: String, b: String) extends UnaryExpression {
  private val au = UTF8String.fromString(a)
  private val bu = UTF8String.fromString(b)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpe_merge expects array<string>, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    BpeImpl.mergePair(input.asInstanceOf[ArrayData], au, bu)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("bpeA", au)
    val bRef = ctx.addReferenceObj("bpeB", bu)
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeImpl.mergePair($c, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(c: Expression): BpeMergeExpr =
    copy(child = c)
}

/** Full merge-table application per token array. */
case class BpeApplyExpr(child: Expression, as: Array[String], bs: Array[String])
  extends UnaryExpression {
  require(as.length == bs.length, "merge table halves differ in length")
  private val asU = as.map(UTF8String.fromString)
  private val bsU = bs.map(UTF8String.fromString)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpe_apply expects array<string>, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    BpeImpl.applyTo(input.asInstanceOf[ArrayData], asU, bsU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("bpeAs", asU)
    val bRef = ctx.addReferenceObj("bpeBs", bsU)
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeImpl.applyTo($c, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(c: Expression): BpeApplyExpr =
    copy(child = c)
}
