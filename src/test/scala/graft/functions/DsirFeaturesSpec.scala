package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.operators.{IntMath, Sampling, TextAnalysis}

/** The native DSIR kernel ([[DsirFeatures]]) against the composable form it
  * replaced, which this spec keeps as its reference: token hashes through
  * `TextAnalysis.tokens` + `stringHash`, unigram and bigram buckets through
  * array lambdas, and the join-based scorer over their explode. */
class DsirFeaturesSpec extends SparkSuite {

  private lazy val s = sqlc

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val texts: Seq[String] = Seq(
    "",
    "   ",
    " \t\n\u000B\f\r ",
    "single",
    "\tleading tab",
    "trailing newline\n",
    "\u000Bvertical tab both sides\u000B",
    "\fform feed\f inside\fand out",
    "  spaced   out\r\n words  ",
    "spark query join table scan join spark",
    "non-BMP 𝔘𝔫𝔦 code 😀 points",
    "😀",
    "😀😀 😀\tx",
    null)

  private def docs(): DataFrame = {
    val l = new java.util.ArrayList[Row]()
    texts.zipWithIndex.foreach { case (t, i) => l.add(Row(i.toLong, t)) }
    s.createDataFrame(l, schema)
  }

  /** The composable feature-bucket array, exactly as the scorer used to
    * build it before the kernel. */
  private def refBuckets(text: Column, nBuckets: Int): Column = {
    val b = lit(nBuckets.toLong)
    val p = lit(TextAnalysis.HashPrime)
    val th = transform(TextAnalysis.tokens(text), t => TextAnalysis.stringHash(t))
    concat(
      transform(th, h => h % b),
      when(size(th) < 2, array().cast(ArrayType(LongType)))
        .otherwise(transform(arrays_zip(
          slice(th, lit(1), size(th) - 1).as("a"),
          slice(th, lit(2), size(th) - 1).as("b")),
          pr => ((pr.getField("a") * 131L + pr.getField("b")) % p) % b)))
  }

  private def kernelBuckets(text: Column, nBuckets: Int): Column =
    org.apache.spark.sql.GraftBridge.column(DsirBucketsExpr(
      org.apache.spark.sql.GraftBridge.expression(text), nBuckets))

  /** Run `f` under generated code and again under interpreted eval. */
  private def bothModes(f: => Unit): Unit =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      try f
      finally {
        s.conf.unset("spark.sql.codegen.factoryMode")
        s.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  test("kernel feature buckets equal the composable form on every edge case") {
    bothModes {
      Seq(1024, 7).foreach { nb =>
        val rows = docs().select(col("doc_id"),
            refBuckets(col("text"), nb).as("ref"),
            kernelBuckets(col("text"), nb).as("kernel"))
          .collect()
        assert(rows.length == texts.length)
        rows.foreach { r =>
          val t = texts(r.getLong(0).toInt)
          if (t == null) assert(r.isNullAt(1) && r.isNullAt(2))
          else assert(r.getSeq[Long](2) == r.getSeq[Long](1),
            s"B=$nb text=${Option(t).map(_.map(c => f"\\u${c.toInt}%04x").mkString)}")
        }
        // the fixture covers what it claims: empties, a lone token, bigrams
        val lens = rows.filterNot(_.isNullAt(2)).map(_.getSeq[Long](2).length).toSet
        assert(lens.contains(0) && lens.contains(1) && lens.exists(_ > 2))
      }
    }
  }

  /** The join-based scorer `dsirScore` was before the kernel: explode the
    * reference buckets, count per (doc, bucket), broadcast-join the
    * histogram, sum per doc, left-join back so feature-less docs stay. */
  private def refScore(d: DataFrame, hist: DataFrame, nBuckets: Int): DataFrame = {
    val db = d.select(col("doc_id"),
        explode(refBuckets(col("text"), nBuckets)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("n"))
    val sc = db.join(broadcast(hist), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"), sum(col("n") * col("lr_q")).as("w_q"))
    d.select(col("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("w_q"), lit(0L)).as("w_q"),
        coalesce(IntMath.idiv(col("w_q"), col("n_feats")), lit(0L))
          .as("w_q_avg"))
  }

  private def sorted(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("doc_id", "n_feats", "w_q", "w_q_avg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("dsirScore equals the join form, feature-less docs included") {
    import s.implicits._
    val target = Seq("spark query join table scan", "query join spark table merge",
      "spark join 😀 scan").toDF("text")
    val raw = Seq("spark query join filter", "cat dog fish bird mouse",
      "dog cat bird fish horse").toDF("text")
    bothModes {
      Seq(1024, 16).foreach { nb =>
        val hist = Sampling.dsirHistogram(target, raw, "text", nb)
        val want = sorted(refScore(docs(), hist, nb))
        val got = sorted(Sampling.dsirScore(docs(), hist, "text", "doc_id", nb))
        assert(got == want)
        // feature-less rows (empty, whitespace-only, null) score (0, 0, 0)
        texts.zipWithIndex
          .filter { case (t, _) => t == null || t.forall(Character.isWhitespace) }
          .foreach { case (_, i) => assert(got(i)._2 == 0L && got(i)._3 == 0L &&
            got(i)._4 == 0L) }
        // and the fixture has negative scores, where truncation matters
        assert(got.exists(r => r._2 > 0L && r._3 < 0L && r._3 % r._2 != 0L))
      }
    }
  }

  test("dsirModel rejects a model that is not exactly dense") {
    import s.implicits._
    val good = (0L until 8L).map(b => (b, b - 4L))
    assert(Sampling.dsirModel(good.toDF("bucket", "lr_q"), 8).toSeq ==
      good.map(_._2))
    val bad = Seq(
      "a missing bucket" -> good.tail.map(t => (Option(t._1), Option(t._2))),
      "an extra row" -> (good :+ ((8L, 0L))).map(t => (Option(t._1), Option(t._2))),
      "a repeated bucket" ->
        (good.tail :+ ((1L, 0L))).map(t => (Option(t._1), Option(t._2))),
      "an out-of-range bucket" ->
        ((8L, 0L) +: good.tail).map(t => (Option(t._1), Option(t._2))),
      "a null lr_q" -> good.map(t => (Option(t._1),
        if (t._1 == 3L) None else Option(t._2))))
    bad.foreach { case (what, rows) =>
      intercept[IllegalArgumentException] {
        Sampling.dsirModel(rows.toDF("bucket", "lr_q"), 8)
      }
      info(s"rejected: $what")
    }
  }
}
