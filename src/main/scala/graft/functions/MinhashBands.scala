package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The full MinHash-LSH banding chain — whitespace tokenize → per-token
 * polynomial hash → positional shingle fold → k affine min-hashes → band
 * folds — as ONE native codegen'd Catalyst expression: per row, a single
 * JIT'd pass from text to `array<struct<band_id,band_hash>>`.
 *
 * Bit-identical to the batch pipeline
 * `Dedup.minhashBands(Dedup.minhashSignatures(…))` (pinned by the
 * batch-equivalence spec and q78's oracle, which is q25's oracle):
 *  - tokens and token hashes: [[StringFoldHash.tokenFolds]] — maximal
 *    runs of non-`\s` characters, each folded `(acc·31 + codepoint) mod p`;
 *  - shingle hash at position i: fold `(acc·131 + tokenHash) mod p` over
 *    tokens i..i+n−1;
 *  - min-hash j: min over shingles of `(a_j·sh + b_j) mod p` with the
 *    fixed [[graft.operators.Dedup.seeds]] affine family;
 *  - band hash b: fold `(acc·131 + min) mod p` over the band's
 *    `rowsPerBand` mins in seed order.
 *
 * Rows with fewer than `shingleN` tokens produce an EMPTY array (the
 * downstream `explode` emits nothing — the batch path's null-band filter).
 *
 * WHY native: the round-8 composable form (higher-order array lambdas in
 * narrow selects) evaluated interpreted per element — ~27 s at sf0.1 for
 * the q78 wrapper vs 0.8 s for its batch twin. This is the `dedup=near`
 * ingest core ([[graft.streaming.SinkPipeline]]), so it gets the
 * [[StringFoldHash]] treatment: one static JVM helper shared by
 * interpreted eval and generated code, inside whole-stage codegen.
 *
 * Reference: datastax/kafka-sink has no near-dup stage; this extends the
 * sink's ingest pipeline (SURVEY §2 LLM-pipeline tier).
 */
object MinhashBanding {
  final val Prime = 2147483647L

  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("band_id", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = false))),
    containsNull = false)

  /** Shared by interpreted eval and generated code. */
  def bands(text: UTF8String, numHashes: Int, shingleN: Int,
      rowsPerBand: Int): GenericArrayData = {
    // pass 1: token hashes
    val th = StringFoldHash.tokenFolds(text)
    val nTok = th.length
    if (nTok < shingleN) return EmptyBands
    // pass 2: positional shingle fold
    val nSh = nTok - shingleN + 1
    val sh = new Array[Long](nSh)
    var p = 0
    while (p < nSh) {
      var a = th(p)
      var j = 1
      while (j < shingleN) { a = (a * 131L + th(p + j)) % Prime; j += 1 }
      sh(p) = a
      p += 1
    }
    // pass 3: k affine mins in one sweep over the shingles
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var si = 0
    while (si < nSh) {
      val x = sh(si)
      var j = 0
      while (j < numHashes) {
        // Dedup.seeds: a_j = 1000003 + 2·j·4391, b_j = 7919·(j+1) mod p
        val v = ((1000003L + 2L * j * 4391L) * x + 7919L * (j + 1) % Prime) % Prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      si += 1
    }
    // pass 4: band folds
    val nBands = numHashes / rowsPerBand
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var a = 0L
      var j = 0
      while (j < rowsPerBand) { a = (a * 131L + mins(b * rowsPerBand + j)) % Prime; j += 1 }
      out(b) = InternalRow(b, a)
      b += 1
    }
    new GenericArrayData(out)
  }

  private val EmptyBands = new GenericArrayData(new Array[Any](0))
}

case class MinhashBandsExpr(child: Expression, numHashes: Int,
    shingleN: Int, rowsPerBand: Int) extends UnaryExpression {
  require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
  override def dataType: DataType = MinhashBanding.outType
  override def prettyName: String = "graft_minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinhashBanding.bands(input.asInstanceOf[UTF8String],
      numHashes, shingleN, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashBanding.bands($c, $numHashes, $shingleN, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandsExpr =
    copy(child = newChild)
}
