package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSuite

class StreamingDedupSpec extends SparkSuite {

  private lazy val s = sqlc
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("streaming banding reproduces the batch minhash bands exactly") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words here entirely now"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "to on"))  // < shingleN tokens: no bands on either path
      .foreach { case (id, t) => l.add(Row(id, t)) }
    val df = s.createDataFrame(l, schema)
    val batch = graft.operators.Dedup.minhashBands(
      graft.operators.Dedup.minhashSignatures(df, "text", "doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_id"),
        r.getAs[Long]("band_hash"))).sorted
    val streamShaped = StreamingDedup.bandedStream(df, "text", "doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_id"),
        r.getAs[Long]("band_hash"))).sorted
    assert(streamShaped.nonEmpty && streamShaped.toSeq == batch.toSeq)
    assert(!streamShaped.exists(_._1 == 5L))
  }
}
