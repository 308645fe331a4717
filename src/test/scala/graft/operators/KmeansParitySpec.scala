package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The one k-means trainer ([[Pq.lloyd]]) runs small corpora on the
  * driver and larger ones as a distributed loop; `driverMaxRows = 0`
  * forces the distributed loop. The two must be BIT-IDENTICAL — seeds,
  * truncating-DIV means (negatives included: Catalyst IntegralDivide
  * truncates toward zero), (dist², cell_id) tie-breaks, and empty-cell
  * disappearance. The oracle gate re-checks end to end; this spec pins the
  * arithmetic at the operator level for both the IVF centroids (one
  * subspace) and the PQ codebooks. */
class KmeansParitySpec extends SparkSuite {

  // deterministic synthetic corpus with NEGATIVE coordinates (negative
  // per-cell sums exercise the truncation-direction edge) and sparse,
  // segmented ids (the seed-bucket edge the hash seeding exists for)
  private def corpus(n: Int, dims: Int) = {
    val s = sqlc
    import s.implicits._
    (0 until n).map { i =>
      val id = (i.toLong * 7919L + 13L) % 100000L + (i % 3) * 10000000L
      val vec = (0 until dims).map { d =>
        ((id * 31L + d * 17L) % 2000L - 1000L) / 997.0
      }
      (id, vec)
    }.toDF("vec_id", "embedding")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.select("cell_id", "cv", "cn2").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toList, r.getLong(2)))
      .sortBy(_._1).toList

  private def sortedCb(cb: DataFrame) =
    cb.select("sub_id", "cell_id", "cv", "cn2").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList,
        r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toList

  /** The trainer's own path: (item_id, qv) with `driverMaxRows` forced. */
  private def trained(df: DataFrame, numSubspaces: Int, k: Int, iters: Int,
      driverMaxRows: Int) =
    Pq.lloyd(df.select(col("vec_id").as("item_id"),
        Similarity.quantize(col("embedding")).as("qv")),
      numSubspaces, k, iters, driverMaxRows)

  test("kmeansCentroids: driver path == distributed path, negatives included") {
    val df = corpus(400, 16)
    val driver = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 8, iters = 3))
    val dist = collectSorted(trained(df, 1, 8, 3, driverMaxRows = 0))
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("trainCodebooks: driver path == distributed path per subspace") {
    val df = corpus(300, 16)
    val driver = sortedCb(Pq.trainCodebooks(df, "vec_id", "embedding",
      numSubspaces = 4, cellsPerSub = 8, iters = 3))
    val dist = sortedCb(trained(df, 4, 8, 3, driverMaxRows = 0))
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("driver gate: corpus past driverMaxRows falls back (same result)") {
    val df = corpus(200, 8)
    val a = collectSorted(trained(df, 1, 4, 2, driverMaxRows = 50)) // 200 > 50
    val b = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2))
    assert(a === b)
  }

  test("a null vector with the first id trains as if absent, both paths") {
    val s = sqlc
    import s.implicits._
    val clean = corpus(200, 8)
    // id 1 is below every corpus id, so the null row is its seed bucket's
    // min id — as a seed it would pull every vector into one cell
    val df = Seq((1L, Option.empty[Seq[Double]])).toDF("vec_id", "embedding")
      .unionByName(clean)
    val want = collectSorted(
      Similarity.kmeansCentroids(clean, "vec_id", "embedding", k = 4, iters = 2))
    assert(want.size > 1)
    val driver = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2))
    val dist = collectSorted(trained(df, 1, 4, 2, driverMaxRows = 0))
    assert(driver === want)
    assert(dist === want)
    val cbWant = sortedCb(Pq.trainCodebooks(clean, "vec_id", "embedding",
      numSubspaces = 2, cellsPerSub = 4, iters = 2))
    assert(sortedCb(Pq.trainCodebooks(df, "vec_id", "embedding",
      numSubspaces = 2, cellsPerSub = 4, iters = 2)) === cbWant)
    assert(sortedCb(trained(df, 2, 4, 2, driverMaxRows = 0)) === cbWant)
  }

  test("empty corpus: training, IVF assignment and PQ return empty frames") {
    val empty = corpus(20, 8).filter(lit(false))
    val cents = Similarity.kmeansCentroids(empty, "vec_id", "embedding", k = 4)
    assert(cents.columns.toSeq == Seq("cell_id", "cv", "cn2"))
    assert(cents.count() == 0)
    assert(trained(empty, 1, 4, 3, driverMaxRows = 0).count() == 0)
    assert(Similarity.ivfCellsTrained(empty, "vec_id", "embedding",
      nCells = 4).count() == 0)
    val cb = Pq.trainCodebooks(empty, "vec_id", "embedding",
      numSubspaces = 2, cellsPerSub = 4)
    assert(cb.columns.toSeq == Seq("sub_id", "cell_id", "cv", "cn2"))
    assert(cb.count() == 0)
    val codes = Pq.encode(empty, "vec_id", "embedding", cb, numSubspaces = 2)
    assert(codes.columns.toSeq == Seq("item_id", "sub_id", "code"))
    assert(codes.count() == 0)
    assert(Pq.adcTopK(codes, empty, "vec_id", "embedding", cb,
      numSubspaces = 2).count() == 0)
    val err = Pq.reconstructionError(empty, "vec_id", "embedding", cb,
      numSubspaces = 2)
    assert(err.columns.toSeq == Seq("item_id", "err2"))
    assert(err.count() == 0)
  }
}
