package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The DSIR feature kernel ([[graft.operators.Sampling.dsirHistogram]] /
 * [[graft.operators.Sampling.dsirScore]]) as native codegen'd Catalyst
 * expressions: per row, one JIT'd pass from text to hashed unigram+bigram
 * feature buckets — or straight to the row's score against a dense model.
 *
 * Bit-identical to the composable form it replaces
 * (`transform(tokens(text), stringHash)` then two array lambdas, pinned by
 * the kernel-equivalence spec and q306's oracle):
 *  - tokens and token hashes: [[StringFoldHash.tokenFolds]];
 *  - unigram bucket: `h mod B`, one per token, in token order;
 *  - bigram bucket: `((a·131 + b) mod p) mod B` over adjacent token
 *    hashes, after the unigrams — a one-token row has none.
 *
 * WHY native: the composable form evaluated its lambdas interpreted per
 * element and, at the sink, needed an explode, two aggregations and a
 * join per batch to score. Scoring against an in-memory model is a plain
 * per-row function, so the sink's quality gate is a filter inside the
 * batch's map stage. The model reaches generated code through
 * `ctx.addReferenceObj`, not as inlined literals, so the generated class
 * is the same for every batch and every model — one codegen-cache entry.
 */
object DsirFeatures {
  final val Prime = 2147483647L

  val bucketsType: ArrayType = ArrayType(LongType, containsNull = false)

  val scoreType: StructType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("w_q", LongType, nullable = false)))

  /** Feature buckets of one text: unigrams, then bigrams, with
    * multiplicity. */
  private def featureBuckets(text: UTF8String, nBuckets: Int): Array[Long] = {
    val th = StringFoldHash.tokenFolds(text)
    val n = th.length
    val out = new Array[Long](if (n == 0) 0 else 2 * n - 1)
    var i = 0
    while (i < n) { out(i) = th(i) % nBuckets; i += 1 }
    i = 0
    while (i < n - 1) {
      out(n + i) = ((th(i) * 131L + th(i + 1)) % Prime) % nBuckets
      i += 1
    }
    out
  }

  /** [[featureBuckets]] as an array value. Shared by interpreted eval and
    * generated code. */
  def buckets(text: UTF8String, nBuckets: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(featureBuckets(text, nBuckets))

  /** `(n_feats, w_q)` of one text against a dense model (`model(b)` = the
    * bucket's `lr_q`, `model.length` = B): the feature count and the sum
    * of its features' ratios, with multiplicity. Shared by interpreted eval
    * and generated code. */
  def score(text: UTF8String, model: Array[Long]): InternalRow = {
    val fb = featureBuckets(text, model.length)
    var w = 0L
    var i = 0
    while (i < fb.length) { w += model(fb(i).toInt); i += 1 }
    InternalRow(fb.length.toLong, w)
  }
}

case class DsirBucketsExpr(child: Expression, nBuckets: Int)
    extends UnaryExpression {
  require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
  override def dataType: DataType = DsirFeatures.bucketsType
  override def prettyName: String = "graft_dsir_buckets"

  override protected def nullSafeEval(input: Any): Any =
    DsirFeatures.buckets(input.asInstanceOf[UTF8String], nBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DsirFeatures.buckets($c, $nBuckets)")

  override protected def withNewChildInternal(newChild: Expression): DsirBucketsExpr =
    copy(child = newChild)
}

/** `struct<n_feats, w_q>` of the child text against `model`. Equality is
  * by model identity (one model array per loaded histogram). */
case class DsirScoreExpr(child: Expression, model: Array[Long])
    extends UnaryExpression {
  require(model.nonEmpty, "a DSIR model needs at least one bucket")
  override def dataType: DataType = DsirFeatures.scoreType
  override def prettyName: String = "graft_dsir_score"

  override protected def nullSafeEval(input: Any): Any =
    DsirFeatures.score(input.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("dsirModel", model, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.DsirFeatures.score($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirScoreExpr =
    copy(child = newChild)
}
