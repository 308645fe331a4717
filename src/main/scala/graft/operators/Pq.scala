package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Product quantization (Jégou et al., "Product Quantization for Nearest
 * Neighbor Search", TPAMI 2011) — the vector-compression path for
 * embedding search at 100 TB: each vector is split into `numSubspaces`
 * contiguous sub-vectors, each sub-vector replaced by the id of its
 * nearest sub-codebook centroid. A 64-dim float vector (256 bytes)
 * compresses to 8 one-byte codes; distance queries run against the codes
 * via an asymmetric distance computation (ADC) table without ever
 * decompressing the corpus.
 *
 * Everything is integer-exact on the quantized (milli-unit long) vectors:
 * [[lloyd]], the engine's one k-means trainer, uses truncating-DIV means
 * and exact squared-L2 assignment, so training, encoding, and ADC scoring
 * are bit-reproducible and the DuckDB oracle checks them from templated
 * codebook literals. The IVF coarse quantizer
 * ([[Similarity.kmeansCentroids]]) is the same trainer with one subspace.
 *
 * Scale shape:
 *  - training: one Lloyd loop over all m subspaces together — on the
 *    driver for small corpora, else over the exploded (item, sub,
 *    sub-vector) frame: map-only assignment against broadcast centroids
 *    per iteration, partial-agg means; centroids collected per iteration
 *    (m·k·d/m longs — tiny).
 *  - encoding: one slice + broadcast-join + per-(item, sub) min_by —
 *    map-only at any corpus size; output is m small ints per vector.
 *  - ADC: the per-query distance table is |queries|·m·k rows (tiny,
 *    broadcast); the scan joins it to the exploded code column — linear
 *    in corpus size with 8-byte rows, never touching raw vectors.
 */
object Pq {

  /** Train per-subspace codebooks: (sub_id, cell_id, cv array<long>, cn2).
    * `dims` must divide evenly into `numSubspaces` sub-vectors. */
  def trainCodebooks(train: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int = 8, cellsPerSub: Int = 16, iters: Int = 3): DataFrame =
    lloyd(train.select(col(idCol).as("item_id"),
      Similarity.quantize(col(vecCol)).as("qv")), numSubspaces, cellsPerSub, iters)

  /** Rows a training corpus may have and still train on the driver. */
  private val DriverMaxRows = 131072

  /** Serial multiplies (rows·k·dims·iters) the driver loop may spend: past
    * it, the ~1 s of per-job scheduling the distributed loop pays is
    * cheaper than running single-threaded. */
  private val DriverMaxMultiplies = 4000000000L

  /** The driver gate: does a `rows` × `dims` corpus train on the driver? */
  private def onDriver(rows: Int, dims: Int, k: Int, iters: Int,
      maxRows: Int): Boolean =
    maxRows > 0 && rows <= maxRows &&
      rows.toLong * k * dims * iters <= DriverMaxMultiplies

  /**
   * Deterministic k-means (Lloyd) per subspace over an already-quantized
   * (item_id, qv) frame: (sub_id, cell_id, cv array<long>, cn2), ≤ k cells
   * per subspace.
   *
   * Seeds are a deterministic HASH-BUCKET MIN ([[seedRows]]), shared by
   * every subspace. Each iteration assigns each sub-vector to its nearest
   * cell by exact integer squared-L2 (ties to the smaller cell_id) and
   * recomputes centroids as the element-wise integer mean (DIV — truncating
   * division; all-integer, so the result is identical under any
   * partitioning, unlike FP-sum k-means). Cells that lose every member
   * disappear. Null vectors are dropped before seeding: a null has no
   * distance to any centroid, and as a seed it would pull every vector
   * into its cell. An empty corpus trains no cells.
   *
   * All m subspaces train in ONE loop. Corpora that pass [[onDriver]]
   * (the IVF/PQ training sets are samples by design) train entirely on the
   * driver: the gating `limit(max+1)` probe is ONE job and, when the
   * corpus fits, the only pass over the data. Larger corpora run the
   * distributed loop: localCheckpoint + one broadcast assignment,
   * partial-agg mean and tiny collect (m·k·d longs) per iteration. Both
   * are bit-identical (KmeansParitySpec pins them, negatives included);
   * `driverMaxRows = 0` forces the distributed loop.
   */
  private[operators] def lloyd(v0: DataFrame, numSubspaces: Int, k: Int,
      iters: Int, driverMaxRows: Int = DriverMaxRows): DataFrame = {
    val spark = v0.sparkSession
    val schema = StructType(Seq(StructField("sub_id", IntegerType),
      StructField("cell_id", IntegerType), StructField("cv", ArrayType(LongType))))
    def toDf(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
        .withColumn("cn2", Similarity.norm2Q(col("cv")))
    val v = v0.filter(col("qv").isNotNull)
    val probe =
      if (driverMaxRows > 0) v.limit(driverMaxRows + 1).collect()
      else Array.empty[Row]
    val probeDims = probe.headOption.fold(0)(_.getSeq[Long](1).length)
    if (onDriver(probe.length, probeDims, k, iters, driverMaxRows)) {
      val ids = probe.map(_.getLong(0))
      val full = probe.map(_.getSeq[Long](1).toArray)
      val d = subspaceDims(probeDims, numSubspaces)
      return toDf(for {
        s <- 0 until numSubspaces
        (cid, cv) <- lloydDriver(ids, full.map(_.slice(s * d, s * d + d)), k, iters)
      } yield Row(s, cid, cv.toSeq))
    }
    val vc = v.localCheckpoint() // iterated iters + 1 times below
    val seeds = seedRows(vc, k)
    if (seeds.isEmpty) return toDf(Nil)
    val d = subspaceDims(seeds(0).getSeq[Long](1).length, numSubspaces)
    val sv = vc.select(col("item_id"),
      posexplode(array((0 until numSubspaces).map(s =>
        slice(col("qv"), s * d + 1, d)): _*)).as(Seq("sub_id", "sqv")))
      .localCheckpoint(eager = false)
    var cents = toDf(for {
      s <- 0 until numSubspaces
      (r, i) <- seeds.toSeq.zipWithIndex
    } yield Row(s, i, r.getSeq[Long](1).slice(s * d, s * d + d)))
    (1 to iters).foreach { _ =>
      val assigned = sv.join(broadcast(cents), "sub_id")
        .select(col("item_id"), col("sub_id"), col("cell_id"),
          (Similarity.norm2Q(col("sqv")) + col("cn2") -
            lit(2L) * Similarity.dotQ(col("sqv"), col("cv"))).as("dist2"))
        .groupBy(col("item_id"), col("sub_id"))
        .agg(min_by(col("cell_id"), struct(col("dist2"), col("cell_id"))).as("cell_id"))
      val updated = sv.join(assigned, Seq("item_id", "sub_id"))
        .select(col("sub_id"), col("cell_id"), posexplode(col("sqv")).as(Seq("dim", "x")))
        .groupBy(col("sub_id"), col("cell_id"), col("dim"))
        .agg(expr("CAST(sum(x) DIV count(1) AS BIGINT)").as("cx"))
        .groupBy(col("sub_id"), col("cell_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cx")))),
          s => s.getField("cx")).as("cv"))
      cents = toDf(updated.collect().toSeq)
    }
    cents
  }

  /** Deterministic ≤ k seed rows (item_id, qv): min-id row per hash
    * bucket, bucket = high bits of the Knuth multiplicative hash of the id
    * (one partial-agg groupBy; identical on any partitioning). This gives
    * well-spread seeds for ANY id distribution, sparse or segmented id
    * spaces included. Sorted by item_id for stable cell numbering; buckets
    * with no rows contribute no seed (≤ k cells). */
  private def seedRows(v: DataFrame, k: Int): Array[Row] = {
    val p = 2147483647L
    val h = (pmod(col("item_id"), lit(p)) * 2654435761L) % p
    v.withColumn("__bucket", IntMath.idiv(h * k, lit(p)))
      .groupBy(col("__bucket"))
      .agg(min_by(struct(col("item_id"), col("qv")), col("item_id")).as("s"))
      .select(col("s.item_id").as("item_id"), col("s.qv").as("qv"))
      .orderBy(col("item_id"))
      .collect()
  }

  /** Driver-side seed pick — the exact arithmetic of [[seedRows]]: bucket =
    * (pmod(id, p) · 2654435761 mod p) · k DIV p (all operands non-negative,
    * so Catalyst's truncating DIV = Java `/`), min-id row per bucket,
    * ascending id order. */
  private def driverSeeds(ids: Array[Long],
      vecs: Array[Array[Long]], k: Int): Array[(Long, Array[Long])] = {
    val p = 2147483647L
    val best = scala.collection.mutable.LongMap.empty[Int] // bucket -> row idx
    var i = 0
    while (i < ids.length) {
      val id = ids(i)
      val h = (((id % p) + p) % p) * 2654435761L % p
      val b = h * k / p
      best.get(b) match {
        case Some(j) if ids(j) <= id => ()
        case _ => best.update(b, i)
      }
      i += 1
    }
    best.values.toArray.map(j => (ids(j), vecs(j))).sortBy(_._1)
  }

  /** Driver-side Lloyd loop, bit-identical to the distributed iteration:
    * nearest cell by exact integer ‖a−c‖² with ties to the smaller
    * cell_id; per-dim mean = Σx DIV count (Catalyst IntegralDivide
    * truncates toward zero — Java `/`); cells that lose every member
    * disappear, exactly as the distributed groupBy emits no row for them. */
  private def lloydDriver(ids: Array[Long],
      vecs: Array[Array[Long]], k: Int, iters: Int)
      : Seq[(Int, Array[Long])] = {
    val n = vecs.length
    val norms = vecs.map(v => v.map(x => x * x).sum)
    var cents: Seq[(Int, Array[Long])] =
      driverSeeds(ids, vecs, k).zipWithIndex.map { case ((_, v), i) => (i, v) }
    (1 to iters).foreach { _ =>
      val cn2 = cents.map { case (cid, cv) =>
        (cid, cv, cv.map(x => x * x).sum) }
      // assignment: min (dist2, cell_id)
      val sums = scala.collection.mutable.LinkedHashMap
        .empty[Int, (Array[Long], Long)] // cell -> (per-dim sums, count)
      var i = 0
      while (i < n) {
        val v = vecs(i)
        var bestCell = -1
        var bestDist = Long.MaxValue
        cn2.foreach { case (cid, cv, c2) =>
          var dot = 0L
          var d = 0
          while (d < v.length) { dot += v(d) * cv(d); d += 1 }
          val dist2 = norms(i) + c2 - 2L * dot
          if (dist2 < bestDist || (dist2 == bestDist && cid < bestCell)) {
            bestDist = dist2; bestCell = cid
          }
        }
        val (acc, c) = sums.getOrElseUpdate(bestCell,
          (new Array[Long](v.length), 0L))
        var d = 0
        while (d < v.length) { acc(d) += v(d); d += 1 }
        sums.update(bestCell, (acc, c + 1L))
        i += 1
      }
      cents = sums.toSeq.map { case (cid, (acc, c)) =>
        (cid, acc.map(_ / c)) // truncating, = Catalyst DIV
      }.sortBy(_._1)
    }
    cents
  }

  /** Encode each vector as one code per subspace (nearest sub-centroid by
    * exact integer L2, ties to the smaller cell). Output: one row per
    * (item_id, sub_id, code) — the exploded form of the m-byte code word. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, numSubspaces: Int = 8): DataFrame = {
    val v = df.select(col(idCol).as("item_id"),
      Similarity.quantize(col(vecCol)).as("qv"))
    val d = dimsPerSub(v, numSubspaces)
    val cb = broadcast(codebooks.select(col("sub_id"), col("cell_id"),
      col("cv"), col("cn2")))
    v.join(cb)
      .select(col("item_id"), col("sub_id"), col("cell_id"),
        subDist2(col("qv"), col("sub_id"), d, col("cv"), col("cn2")).as("dist2"))
      .groupBy(col("item_id"), col("sub_id"))
      .agg(min_by(col("cell_id"), struct(col("dist2"), col("cell_id"))).as("code"))
      .select(col("item_id"), col("sub_id"), col("code"))
  }

  /**
   * ADC top-k: score every encoded corpus vector against each query by the
   * summed per-subspace distance between the query's sub-vector and the
   * corpus vector's assigned sub-centroid. Queries carry RAW vectors
   * (asymmetric — only the corpus is compressed). Ties on total distance
   * break on item id. Output: (query_id, item_id, adist2, rank).
   */
  def adcTopK(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebooks: DataFrame, k: Int = 5,
      numSubspaces: Int = 8): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      Similarity.quantize(col(vecCol)).as("qv"))
    val d = dimsPerSub(q, numSubspaces)
    // distance table: |queries| × m × k rows — tiny, broadcast. Keys are
    // RENAMED (dt_sub/dt_cell): codes and dt both descend from the same
    // codebooks plan, so joining on same-named columns would be ambiguous
    // (identical expression ids on both sides).
    val dt = broadcast(q.join(broadcast(codebooks))
      .select(col("query_id"), col("sub_id").as("dt_sub"),
        col("cell_id").as("dt_cell"),
        subDist2(col("qv"), col("sub_id"), d, col("cv"), col("cn2")).as("dt")))
    val scored = codes
      .join(dt, col("sub_id") === col("dt_sub") && col("code") === col("dt_cell"))
      .filter(col("item_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("item_id"))
      .agg(sum(col("dt")).as("adist2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2").asc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Per-vector PQ reconstruction error: Σ over subspaces of the squared
   * L2 distance to the NEAREST sub-centroid — the compression-quality
   * audit run before trusting ADC retrieval on a codebook (a drifted
   * corpus shows its err2 distribution walking away from the training
   * snapshot's). Same broadcast codebook join as [[encode]], but keeping
   * the winning distance instead of the winning cell id; one partial-agg
   * per (item, sub), one per item — map-side at any corpus size.
   *
   * Output: (item_id, err2).
   */
  def reconstructionError(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, numSubspaces: Int = 8): DataFrame = {
    val v = df.select(col(idCol).as("item_id"),
      Similarity.quantize(col(vecCol)).as("qv"))
    val d = dimsPerSub(v, numSubspaces)
    val cb = broadcast(codebooks.select(col("sub_id"), col("cell_id"),
      col("cv"), col("cn2")))
    v.join(cb)
      .select(col("item_id"), col("sub_id"),
        subDist2(col("qv"), col("sub_id"), d, col("cv"), col("cn2")).as("dist2"))
      .groupBy(col("item_id"), col("sub_id"))
      .agg(min(col("dist2")).as("__best"))
      .groupBy(col("item_id"))
      .agg(sum(col("__best")).as("err2"))
  }

  /** Sub-vector length of `v`'s first vector; any value on an empty frame,
    * whose joins then produce no rows. */
  private def dimsPerSub(v: DataFrame, numSubspaces: Int): Int =
    v.select(size(col("qv"))).head(1).headOption
      .fold(0)(r => subspaceDims(r.getInt(0), numSubspaces))

  private def subspaceDims(dims: Int, numSubspaces: Int): Int = {
    require(dims % numSubspaces == 0,
      s"dims=$dims not divisible into $numSubspaces subspaces")
    dims / numSubspaces
  }

  /** ‖q_sub − c‖² = ‖q_sub‖² + ‖c‖² − 2·q_sub·c on the sliced sub-vector
    * (slice start is a COLUMN — sub_id comes from the codebook row). */
  private def subDist2(qv: org.apache.spark.sql.Column,
      subId: org.apache.spark.sql.Column, d: Int,
      cv: org.apache.spark.sql.Column,
      cn2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sq = slice(qv, subId * d + 1, lit(d))
    Similarity.norm2Q(sq) + cn2 - lit(2L) * Similarity.dotQ(sq, cv)
  }
}
