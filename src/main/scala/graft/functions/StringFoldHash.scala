package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The engine's portable string hash — fold `(acc·31 + codepoint) mod 2³¹−1`
 * over the string — as a native Catalyst expression with whole-stage codegen.
 *
 * Semantically identical to the composable form
 * `aggregate(transform(split(s,''), ascii), 0, (a,x) -> (a*31+x) % p)` (and
 * to the DuckDB oracle's `list_reduce` mirror), but ~10× cheaper: higher-order
 * array lambdas evaluate interpreted per element and materialize a char-array
 * per row, while this compiles to a tight JIT'd loop inside the enclosing
 * WholeStageCodegen stage. This is the codegen path for every text operator
 * (token hashing, shingles, simhash, fingerprints) at 100 TB.
 */
object StringFoldHash {
  final val Prime = 2147483647L

  /** Shared by interpreted eval and generated code. */
  def fold(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % Prime
      i += Character.charCount(cp)
    }
    acc
  }

  private def isWs(c: Char): Boolean = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** [[fold]] of every whitespace token of `text`, in order, in one scan —
    * no token strings materialize. Tokens are maximal runs of non-`\s`
    * characters (Java regex `\s` = space, `\t`, `\n`, `\u000B`, `\f`,
    * `\r`): exactly `split(trim(text), "\\s+")` minus empties. The
    * tokenizer under [[MinhashBanding]] and [[DsirFeatures]]. */
  def tokenFolds(text: UTF8String): Array[Long] = {
    val s = text.toString
    val n = s.length
    var th = new Array[Long](16)
    var nTok = 0
    var acc = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) {
        if (inTok) {
          if (nTok == th.length) th = java.util.Arrays.copyOf(th, nTok * 2)
          th(nTok) = acc; nTok += 1; acc = 0L; inTok = false
        }
        i += 1
      } else {
        val cp = s.codePointAt(i)
        acc = (acc * 31L + cp) % Prime
        inTok = true
        i += Character.charCount(cp)
      }
    }
    if (inTok) {
      if (nTok == th.length) th = java.util.Arrays.copyOf(th, nTok + 1)
      th(nTok) = acc; nTok += 1
    }
    if (nTok == th.length) th else java.util.Arrays.copyOf(th, nTok)
  }
}

case class StringFoldHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fold_hash"

  override protected def nullSafeEval(input: Any): Any =
    StringFoldHash.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.StringFoldHash.fold($c)")

  override protected def withNewChildInternal(newChild: Expression): StringFoldHashExpr =
    copy(child = newChild)
}
