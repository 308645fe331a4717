package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The driver-side Lloyd path (Similarity.lloydDriver, gated by
  * spark.graft.kmeans.driverMaxRows) must be BIT-IDENTICAL to the
  * distributed loop it replaces on small corpora — seeds, truncating-DIV
  * means (negatives included: Catalyst IntegralDivide truncates toward
  * zero), (dist², cell_id) tie-breaks, and empty-cell disappearance. The
  * oracle gate re-checks end to end; this spec pins the arithmetic at the
  * operator level for both the IVF trainer and the PQ codebook trainer. */
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

  test("kmeansCentroids: driver path == distributed path, negatives included") {
    val df = corpus(400, 16)
    val s = sqlc
    s.conf.set(Similarity.DriverMaxRowsKey, "131072")
    val driver = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 8, iters = 3))
    s.conf.set(Similarity.DriverMaxRowsKey, "0") // force distributed
    val dist = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 8, iters = 3))
    s.conf.unset(Similarity.DriverMaxRowsKey)
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("trainCodebooks: driver path == distributed path per subspace") {
    val df = corpus(300, 16)
    val s = sqlc
    def sorted(cb: org.apache.spark.sql.DataFrame) =
      cb.select("sub_id", "cell_id", "cv", "cn2").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList,
          r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toList
    s.conf.set(Similarity.DriverMaxRowsKey, "131072")
    val driver = sorted(Pq.trainCodebooks(df, "vec_id", "embedding",
      numSubspaces = 4, cellsPerSub = 8, iters = 3))
    s.conf.set(Similarity.DriverMaxRowsKey, "0")
    val dist = sorted(Pq.trainCodebooks(df, "vec_id", "embedding",
      numSubspaces = 4, cellsPerSub = 8, iters = 3))
    s.conf.unset(Similarity.DriverMaxRowsKey)
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("driver gate: corpus past driverMaxRows falls back (same result)") {
    val df = corpus(200, 8)
    val s = sqlc
    s.conf.set(Similarity.DriverMaxRowsKey, "50") // 200 rows > 50 → distributed
    val a = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2))
    s.conf.set(Similarity.DriverMaxRowsKey, "131072")
    val b = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2))
    s.conf.unset(Similarity.DriverMaxRowsKey)
    assert(a === b)
  }

  test("driver gate: a null vector takes the distributed loop, not an NPE") {
    val s = sqlc
    import s.implicits._
    val df = corpus(200, 8).unionByName(
      Seq((99999999L, Option.empty[Seq[Double]])).toDF("vec_id", "embedding"))
    def sortedCb(cb: org.apache.spark.sql.DataFrame) =
      cb.select("sub_id", "cell_id", "cv", "cn2").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList,
          r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toList
    def both[A](run: => A): (A, A) = {
      s.conf.set(Similarity.DriverMaxRowsKey, "131072")
      val gated = run
      s.conf.set(Similarity.DriverMaxRowsKey, "0") // force distributed
      val dist = run
      s.conf.unset(Similarity.DriverMaxRowsKey)
      (gated, dist)
    }
    val (a, b) = both(collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2)))
    assert(a.nonEmpty && a === b)
    val (c, d) = both(sortedCb(Pq.trainCodebooks(df, "vec_id", "embedding",
      numSubspaces = 2, cellsPerSub = 4, iters = 2)))
    assert(c.nonEmpty && c === d)
  }
}
