package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths:
 *  - [[bruteForceTopK]]: exact top-k by quantized dot product. Correctness
 *    baseline; O(n·q) — fine for a broadcast-able query set, never for
 *    all-pairs at scale.
 *  - [[lshBuckets]] / [[lshCandidates]]: random-hyperplane LSH with fixed
 *    ±1 planes: sign of an integer dot product per plane → bucket bits.
 *    The scale path — candidates meet only inside a bucket, so the shuffle
 *    carries (id, bucket) pairs, not vectors.
 *
 * Determinism: embeddings are quantized (`floor(x·1000)` per element —
 * float→double widening is exact, so the same parquet bits give the same
 * longs in any engine) and all scoring is int64 — the oracle reproduces
 * results bit-for-bit, no FP-associativity drift.
 */
object Similarity {

  /** Quantize an array<float> to exact long milli-units. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x * 1000d).cast(LongType))

  /** Integer dot product of two quantized vectors — a codegen'd native
    * expression ([[graft.functions.LongArrayDotExpr]]); the composable
    * higher-order form evaluates interpreted per element and was the
    * measured hot-path cost of every pair scan. */
  def dotQ(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.LongArrayDotExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** Squared L2 norm of a quantized vector (codegen'd, see [[dotQ]]). */
  def norm2Q(a: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.LongArrayNorm2Expr(
      GraftBridge.expression(a)))
  }

  /** Double-precision cosine similarity (non-oracle path; FP). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y),
      lit(0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0d), (acc, x) => acc + x.cast(DoubleType) * x))
    val nb = sqrt(aggregate(b, lit(0d), (acc, x) => acc + x.cast(DoubleType) * x))
    dot / (na * nb)
  }

  /**
   * Exact top-k neighbors for each query vector by quantized dot product.
   * Query side is broadcast (a query set is small by construction); ties
   * break on neighbor id, so results are total-ordered and reproducible.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // NOT rescued here, deliberately (r11 A/B): most callers pass a small
    // query set (k-recall probes, seed queries), where the dot-product
    // volume is trivial and a corpus repartition only adds an exchange —
    // the one always-quadratic caller (labelNoiseReport's corpus×corpus
    // self-kNN) rescues its corpus at the call site instead.
    val c = corpus.select(col(idCol).as("item_id"), quantize(col(vecCol)).as("qv"))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qq"))
    val scored = c.join(broadcast(q), col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"), dotQ(col("qv"), col("qq")).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("item_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * Deterministic ±1 hyperplane element for global plane p, dimension i:
   * a Weyl sequence — each plane gets a distinct odd 32-bit stride
   * `m_p = (2654435761 + 2027808446·p) mod 2³²`, and the sign is the top
   * bit of `m_p·(i+1) mod 2³²`. The stride wraps the 32-bit ring ~every
   * step, so per-plane sign vectors are balanced and decorrelated across
   * planes (unlike a small-modulus formula, which repeats every few
   * planes). All arithmetic stays in int64 — both engines reproduce it
   * bit-for-bit.
   */
  private[operators] def planeSign(planeId: Column, dim: Column): Column = {
    val mult = (lit(2654435761L) + lit(2027808446L) * planeId) % 4294967296L
    when((mult * (dim + 1L)) % 4294967296L >= 2147483648L, lit(1L))
      .otherwise(lit(-1L))
  }

  /**
   * Deterministic signed random projection (the ±1 JL/Achlioptas
   * construction, public) of quantized embeddings to `k` integer output
   * dimensions: out_j = Σ_i qv_i · sign(j, i), signs from the same
   * [[planeSign]] Weyl hyperplanes as [[lshBuckets]]. The cheap
   * dimensionality reduction ahead of clustering or visualization at
   * corpus scale — pairwise dot products are preserved in expectation, and
   * everything is int64, so the oracle reproduces values bit-for-bit
   * (a float Gaussian projection cannot hash-match across engines).
   *
   * Same execution shape as [[lshBuckets]]: posexplode the vector once,
   * broadcast the k plane ids, one partial-agg groupBy — the shuffle
   * carries k longs per vector. Output: (item_id, proj_dim, value).
   */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16): DataFrame = {
    require(k >= 1 && k <= 256, s"k must be in [1, 256], got $k")
    val ex = df.select(col(idCol).as("item_id"),
      posexplode(quantize(col(vecCol))).as(Seq("dim", "x")))
    val planes = df.sparkSession.range(k).select(col("id").as("proj_dim"))
    ex.join(broadcast(planes))
      .groupBy(col("item_id"), col("proj_dim"))
      .agg(sum(col("x") * planeSign(col("proj_dim"), col("dim").cast(LongType)))
        .as("value"))
  }

  /**
   * Multi-table random-hyperplane LSH: `numTables` independent hash tables
   * of `planesPerTable` planes each; bucket bit j of table t =
   * [dot(vec, plane_{t·P+j}) > 0]. Output: (item_id, table_id, bucket).
   *
   * Wider per-table signatures (2^P buckets, not 2^8) keep buckets small —
   * the q37 scale-killer from round 1 was a single 8-plane table (≤256
   * join keys ⇒ ~n²/256 candidate pairs); here per-bucket occupancy stays
   * bounded and [[lshCandidates]] additionally caps it hard. Recall lost to
   * a wider band is bought back with independent tables (union of
   * candidates), the same banding trade MinHash-LSH makes.
   *
   * Execution shape: posexplode the quantized vector once → (item, dim, x)
   * rows, cross-broadcast the tiny plane list, then two partial-aggregated
   * groupBys — all codegen'd integer arithmetic, no interpreted
   * higher-order lambdas (a per-plane `aggregate(zip_with(...))` column is
   * interpreted per element and was the round-1 bench cost). At any corpus
   * size this is a map + combine stage; the shuffle carries
   * numTables·planesPerTable longs per vector, never the vector.
   */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
      numTables: Int = 8, planesPerTable: Int = 12): DataFrame = {
    val nPlanes = numTables * planesPerTable
    val ex = df.select(col(idCol).as("item_id"),
      posexplode(quantize(col(vecCol))).as(Seq("dim", "x")))
    val planes = df.sparkSession.range(nPlanes).select(col("id").as("plane"))
    ex.join(broadcast(planes))
      .groupBy(col("item_id"), col("plane"))
      .agg(sum(col("x") * planeSign(col("plane"), col("dim").cast(LongType)))
        .as("sdot"))
      .groupBy(col("item_id"),
        (col("plane") / planesPerTable).cast(IntegerType).as("table_id"))
      .agg(sum(when(col("sdot") > 0,
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(plane % $planesPerTable AS INT))"))
        .otherwise(0L)).as("bucket"))
  }

  /**
   * IVF-style coarse quantization with FIXED coarse centroids: the first
   * `nCells` corpus vectors act as cell centroids (deterministic — no
   * training pass), every vector lands in the cell of its nearest centroid
   * by exact integer squared-L2 (‖a−c‖² = ‖a‖² + ‖c‖² − 2a·c). A real IVF
   * swaps in k-means centroids; the partitioning, assignment join, and
   * probe shapes are identical. Centroids broadcast — assignment is a
   * map-only stage at any corpus size.
   */
  def ivfCells(df: DataFrame, idCol: String, vecCol: String, nCells: Int = 8): DataFrame = {
    val v = df.select(col(idCol).as("item_id"), quantize(col(vecCol)).as("qv"),
      norm2Q(quantize(col(vecCol))).as("n2"))
    val cents = v.filter(col("item_id") < nCells)
      .select(col("item_id").as("cell_id"), col("qv").as("cv"), col("n2").as("cn2"))
    v.join(broadcast(cents))
      .select(col("item_id"),
        col("cell_id"),
        (col("n2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv"))).as("dist2"))
      .groupBy(col("item_id"))
      .agg(min_by(struct(col("dist2"), col("cell_id")), struct(col("dist2"), col("cell_id")))
        .as("best"))
      .select(col("item_id"), col("best.cell_id").as("cell_id"),
        col("best.dist2").as("dist2"))
  }

  /**
   * Trained IVF coarse centroids: deterministic integer k-means, the
   * one-subspace codebook of PQ's trainer ([[Pq.lloyd]] — hash-bucket-min
   * seeds, exact integer squared-L2 assignment, truncating-DIV means; small
   * corpora train on the driver in one job).
   *
   * Returns (cell_id, cv array<long>, cn2) ready for [[assignCells]].
   */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame =
    Pq.lloyd(df.select(col(idCol).as("item_id"), quantize(col(vecCol)).as("qv")),
      1, k, iters).drop("sub_id")

  /** Nearest-cell assignment by exact integer squared-L2
    * (‖a−c‖² = ‖a‖² + ‖c‖² − 2a·c); centroids broadcast → map-only at any
    * corpus size. Input v: (item_id, qv); cents: (cell_id, cv, cn2). */
  def assignCells(v: DataFrame, cents: DataFrame): DataFrame = {
    val vv = v.withColumn("n2", norm2Q(col("qv")))
    vv.join(broadcast(cents))
      .select(col("item_id"), col("cell_id"),
        (col("n2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv"))).as("dist2"))
      .groupBy(col("item_id"))
      .agg(min_by(struct(col("dist2"), col("cell_id")), struct(col("dist2"), col("cell_id")))
        .as("best"))
      .select(col("item_id"), col("best.cell_id").as("cell_id"),
        col("best.dist2").as("dist2"))
  }

  /** IVF with TRAINED centroids: k-means cells over the corpus. */
  def ivfCellsTrained(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 8, iters: Int = 3): DataFrame = {
    val v = df.select(col(idCol).as("item_id"), quantize(col(vecCol)).as("qv"))
    assignCells(v, kmeansCentroids(df, idCol, vecCol, nCells, iters))
  }

  /**
   * Multi-probe IVF top-k with trained centroids: each query probes its
   * `nProbe` nearest cells and scores only those cells' members — the
   * recall-vs-cost dial real IVF ships with (single-probe misses neighbors
   * that fall just across a cell boundary).
   */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 8, nProbe: Int = 2,
      iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
    val v = corpus.select(col(idCol).as("item_id"), quantize(col(vecCol)).as("qv"))
      .localCheckpoint()
    val cells = assignCells(v, cents).select("item_id", "cell_id")
    val q = v.join(queries.select(col(idCol).as("item_id")), "item_id")
      .select(col("item_id").as("query_id"), col("qv").as("qq"),
        norm2Q(col("qv")).as("qn2"))
    // per-query probe list: nProbe nearest centroids
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("qdist2").asc, col("cell_id").asc)
    val probes = q.join(broadcast(cents))
      .select(col("query_id"), col("cell_id"),
        (col("qn2") + col("cn2") - lit(2L) * dotQ(col("qq"), col("cv"))).as("qdist2"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cell_id"))
    // candidates: members of probed cells; then exact top-k
    val cand = probes.join(cells, "cell_id")
      .filter(col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id")).distinct()
    val scored = cand
      .join(v, "item_id")
      .join(broadcast(q.select(col("query_id"), col("qq"))), "query_id")
      .select(col("query_id"), col("item_id"), dotQ(col("qv"), col("qq")).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * k-NN majority-vote classification: label each query vector by the
   * modal label of its `k` nearest labeled neighbors — the
   * embedding-space quality/domain classifier a curation pipeline runs
   * when it has a small labeled seed set (label propagation's one-hop
   * form). Neighbor search is pluggable: pass `neighbors` from any ANN
   * path producing (query_id, item_id, rank) — [[ivfTopKTrained]] for the
   * 100 TB shape — or omit it for the exact [[bruteForceTopK]] baseline
   * (query side broadcast, corpus never shuffled).
   *
   * Vote ties break on smaller label, then the winning label's best
   * (smallest) neighbor rank — integer-deterministic like everything else.
   * Output: (query_id, pred_label, votes).
   */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int = 5,
      neighbors: Option[DataFrame] = None): DataFrame = {
    val nn = neighbors.getOrElse(
      bruteForceTopK(corpus, queries, idCol, vecCol, k))
      .select(col("query_id"), col("item_id"), col("rank"))
    val labels = corpus.select(col(idCol).as("item_id"),
      col(labelCol).cast(IntegerType).as("label"))
    val votes = nn.join(labels, "item_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("best_rank").asc, col("label").asc)
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /**
   * Per-label prototype vectors: the element-wise integer mean (truncating
   * DIV, like [[kmeansCentroids]]) of each label's quantized embeddings —
   * the parametric counterpart of [[knnClassify]] (nearest-class-mean /
   * Rocchio). Returns (label, cv array<long>, cn2).
   *
   * Shape: one posexplode + two partial-agg groupBys over (label, dim) —
   * the shuffle carries per-dimension partial sums, never vectors; output
   * is #labels rows.
   */
  def labelPrototypes(train: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val proto = train
      .select(col(labelCol).cast(IntegerType).as("label"),
        posexplode(quantize(col(vecCol))).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(expr("CAST(sum(x) DIV count(1) AS BIGINT)").as("cx"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cx")))),
        s => s.getField("cx")).as("cv"))
    proto.select(col("label"), col("cv"), norm2Q(col("cv")).as("cn2"))
  }

  /**
   * Nearest-prototype classification: assign each query vector to the
   * label whose prototype is closest by exact integer squared-L2
   * (prototypes broadcast — map-only over the query side at any scale).
   * Output: (query_id, pred_label, dist2).
   */
  def prototypeClassify(train: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    val protos = labelPrototypes(train, idCol, vecCol, labelCol)
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"))
      .withColumn("n2", norm2Q(col("qv")))
    q.join(broadcast(protos))
      .select(col("query_id"), col("label"),
        (col("n2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv"))).as("dist2"))
      .groupBy(col("query_id"))
      .agg(min_by(struct(col("dist2"), col("label")), struct(col("dist2"), col("label")))
        .as("best"))
      .select(col("query_id"), col("best.label").as("pred_label"),
        col("best.dist2").as("dist2"))
  }

  /**
   * Recall@k of an approximate neighbor result against exact ground truth
   * — ANN quality measurement as a first-class operator (the dial every
   * IVF/LSH deployment tunes against). Both inputs are
   * (query_id, item_id, ...) top-k frames, e.g. [[ivfTopKTrained]] vs
   * [[bruteForceTopK]]. The join keys on (query, item) — k·|queries| rows a
   * side, trivially small relative to the searches that produced them.
   *
   * Output: (query_id, n_hits, recall_pct) with `recall_pct` the integer
   * `100·hits DIV k` — every query appears (zero-hit queries included via
   * the truth side).
   */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = exact.select(col("query_id"), col("item_id"))
      .join(approx.select(col("query_id"), col("item_id")), Seq("query_id", "item_id"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        IntMath.idiv(coalesce(col("n_hits"), lit(0L)) * 100L, lit(k.toLong))
          .as("recall_pct"))
  }

  /**
   * Label-noise report (confident-learning one-hop): for every labeled
   * item, the fraction of its k nearest OTHER items whose label disagrees
   * — high disagreement flags probable mislabels for human review before
   * the labels train anything. Neighbor search is pluggable like
   * [[knnClassify]]: pass (query_id, item_id, rank) from an ANN path for
   * the 100 TB shape; the default exact self-kNN broadcasts the full item
   * set as the query side — the audit-a-seed-set regime, not web scale.
   *
   * Output: (item_id, label, n_neighbors, n_disagree, disagree_ppm).
   */
  def labelNoiseReport(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int,
      neighbors: Option[DataFrame] = None): DataFrame = {
    // corpus×corpus self-kNN: the probe side of bruteForceTopK's broadcast
    // join carries a QUADRATIC dot-product volume — a single-split corpus
    // scan would run all of it in one task (measured r11: 3.70→0.94 s
    // idle); Scan.rescue no-ops on already-parallel inputs
    val nn = neighbors.getOrElse(
      bruteForceTopK(graft.sources.Scan.rescue(corpus), corpus,
        idCol, vecCol, k))
      .select(col("query_id"), col("item_id"))
    val itemLabels = corpus.select(col(idCol).as("item_id"),
      col(labelCol).as("__nl"))
    val ownLabels = corpus.select(col(idCol).as("query_id"),
      col(labelCol).as("label"))
    nn.join(itemLabels, "item_id").join(ownLabels, "query_id")
      .groupBy(col("query_id").as("item_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") =!= col("label"), 1L).otherwise(0L))
          .as("n_disagree"))
      .withColumn("disagree_ppm",
        IntMath.idiv(col("n_disagree") * lit(1000000L), col("n_neighbors")))
  }

  /**
   * Label-match MRR: for each query, the rank of the FIRST same-label
   * neighbor in the exact top-k — the standard retrieval-eval number when
   * class labels stand in for relevance judgments. Reciprocal rank is
   * integer ppm (10⁶ DIV rank); queries whose top-k holds no same-label
   * item report rank 0 / rr 0 (not dropped — absence is the signal).
   *
   * Output: (query_id, first_rel_rank, rr_ppm).
   */
  def labelMrr(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val labels = corpus.select(col(idCol).as("item_id"),
      col(labelCol).as("__il"))
    val qLabels = corpus.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"))
    val hits = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .join(labels, "item_id").join(qLabels, "query_id")
      .filter(col("__il") === col("__ql"))
      .groupBy("query_id").agg(min(col("rank")).as("first_rel_rank"))
    queries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("first_rel_rank"), lit(0)).cast(
          org.apache.spark.sql.types.LongType).as("first_rel_rank"),
        when(col("first_rel_rank").isNull, lit(0L))
          .otherwise(IntMath.idiv(lit(1000000L),
            col("first_rel_rank").cast(
              org.apache.spark.sql.types.LongType))).as("rr_ppm"))
  }

  /**
   * Dimension-ablation recall: how much retrieval quality survives
   * truncating every embedding to its first `keepDims` dimensions — the
   * measurement behind storing matryoshka-style prefixes (half the bytes,
   * half the dot-product cost) for the 100 TB first-pass retrieval tier.
   * Both sides are exact brute-force top-k (the query set is small by
   * contract, broadcast by [[bruteForceTopK]]); output is
   * [[recallAtK]]'s (query_id, n_hits, recall_pct) of the truncated
   * index against the full-dimension truth.
   */
  def dimAblationRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, keepDims: Int): DataFrame = {
    require(keepDims >= 1, s"keepDims must be >= 1, got $keepDims")
    def trunc(df: DataFrame): DataFrame =
      df.withColumn(vecCol, slice(col(vecCol), 1, keepDims))
    recallAtK(
      bruteForceTopK(trunc(corpus), trunc(queries), idCol, vecCol, k),
      bruteForceTopK(corpus, queries, idCol, vecCol, k), k)
  }

  /**
   * Candidate pairs sharing any (table, bucket), a < b, distinct across
   * tables. `maxBucketSize` is the hard fan-out bound: buckets larger than
   * the cap are skipped entirely (a bucket holding k docs would emit k²/2
   * pairs — at corpus scale an over-full bucket means the band carries no
   * discriminating signal, the same reason a DF-cap drops boilerplate
   * shingles). With the cap, candidate volume is ≤ tables·2^P·cap²/2
   * regardless of corpus size — no key can go quadratic.
   */
  def lshCandidates(buckets: DataFrame, maxBucketSize: Int = 1000): DataFrame = {
    val sized = buckets.groupBy(col("table_id"), col("bucket"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") <= maxBucketSize)
      .select(col("table_id"), col("bucket"))
    val ok = buckets.join(sized, Seq("table_id", "bucket"), "left_semi")
      .localCheckpoint()
    val l = ok.alias("l"); val r = ok.alias("r")
    l.join(r, col("l.table_id") === col("r.table_id") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.item_id") < col("r.item_id"))
      .select(col("l.item_id").as("item_a"), col("r.item_id").as("item_b"))
      .distinct()
  }

  /**
   * Pairwise squared-L2 distances between per-label centroids — the class
   * SEPARATION report (are my labels distinguishable in embedding space,
   * which pairs blur together?), read before trusting any classifier on
   * them. Centroids from [[labelPrototypes]] (truncating integer means);
   * with L labels the output is L·(L−1)/2 rows from a self-join of an
   * L-row frame — the heavy lifting is the one partial-agg centroid pass.
   * Output: (label_a, label_b, dist2), label_a < label_b.
   */
  def classCentroidDistances(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val protos = labelPrototypes(df, idCol, vecCol, labelCol)
    val l = protos.alias("l"); val r = protos.alias("r")
    l.join(r, col("l.label") < col("r.label"))
      .select(col("l.label").as("label_a"), col("r.label").as("label_b"),
        (col("l.cn2") + col("r.cn2") -
          lit(2L) * dotQ(col("l.cv"), col("r.cv"))).as("dist2"))
  }

  /**
   * Margin-based cross-corpus pair mining (the bitext-mining scoring of
   * Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining", public):
   * for every vector in `a`, its best match in `b` scored not by raw
   * similarity but by the MARGIN over both sides' k-NN neighborhoods —
   * score = dot(x,y) · 2k / (Σ top-k dots of x over b + Σ top-k dots of y
   * over a), in ppm. Raw-cosine thresholds mine hubs (vectors close to
   * everything); the margin denominator normalizes hubness away, which is
   * why it is the standard mined-pair filter.
   *
   * `mutual` flags pairs where y's best match in `a` is x back — the
   * high-precision subset. `score_ppm` is 0 when a neighborhood sum is
   * non-positive (degenerate anti-correlated neighborhoods; no honest
   * margin exists), and NULL when the pluggable `backward` frame does not
   * cover the chosen b vector at all — an uncovered pair is UNSCORED, not
   * silently scored against half a denominator (which would inflate the
   * margin ~2× exactly for the pairs an approximate backward index
   * missed).
   *
   * Scale: the default neighbor source is [[bruteForceTopK]] both ways —
   * exact, quadratic, the oracle baseline. At corpus scale pass `forward`/
   * `backward` from [[ivfTopKTrained]] (same output shape) and the mining
   * itself stays two keyed aggregations + one join — the same pluggable-
   * neighbors contract as [[labelNoiseReport]].
   *
   * Output: (a_id, b_id, dot, score_ppm, mutual), one row per `a` vector
   * that has at least one neighbor, ordered by a_id.
   */
  def marginMine(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
      k: Int, forward: Option[DataFrame] = None,
      backward: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val fwd = forward.getOrElse(bruteForceTopK(b, a, idCol, vecCol, k))
    val bwd = backward.getOrElse(bruteForceTopK(a, b, idCol, vecCol, k))
    // per a-vector: its top-1 b, that dot, and the k-NN dot sum
    val fa = fwd.groupBy(col("query_id").as("a_id"))
      .agg(min(when(col("rank") === 1, col("item_id"))).as("b_id"),
        max(when(col("rank") === 1, col("dot"))).as("dot"),
        sum("dot").as("sum_k_a"))
    // per b-vector: its top-1 a (for mutuality) and k-NN dot sum
    val ba = bwd.groupBy(col("query_id").as("__b"))
      .agg(min(when(col("rank") === 1, col("item_id"))).as("b_top1_a"),
        sum("dot").as("sum_k_b"))
    fa.join(ba, col("b_id") === col("__b"), "left")
      .select(col("a_id"), col("b_id"), col("dot"),
        when(col("sum_k_b").isNull, lit(null).cast(LongType))
          .when(col("sum_k_a") + col("sum_k_b") <= 0L, 0L)
          .otherwise(IntMath.idiv(
            col("dot") * lit(1000000L) * lit(2L * k),
            col("sum_k_a") + col("sum_k_b")))
          .as("score_ppm"),
        coalesce(col("b_top1_a") === col("a_id"), lit(false)).as("mutual"))
      .orderBy("a_id")
  }

  /**
   * Late-interaction (ColBERT-style) max-sim retrieval: each vector is
   * treated as `tokens` sub-vectors of `subDim` dims (contiguous slices);
   * score(q, d) = Σ over query tokens of the MAX dot product against any
   * doc token. Top-k docs per query, ties on item id.
   *
   * Shape at scale: doc tokens explode map-side (×tokens), the query token
   * set is broadcast (queries are small by construction), and the per-(q,
   * doc, qtoken) MAX partial-aggregates before the shuffle — the shuffle
   * carries ≤ |docs|·tokens·|qtokens| pre-reduced rows, never vectors×
   * vectors. The corpus×queries pairing is inherently a broadcast
   * nested-loop (every doc token meets every query token — MaxSim has no
   * join key), which is the right physical shape while queries stay
   * broadcast-sized. Scoring is the quantized-int64 contract of
   * [[bruteForceTopK]].
   *
   * `excludeSelf` drops (query_id == item_id) pairs and is OPT-IN for the
   * queries-drawn-from-the-corpus case only: with disjoint id namespaces a
   * coincidental id equality would silently drop a legitimate candidate.
   */
  def lateInteractionTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, tokens: Int, subDim: Int,
      k: Int, excludeSelf: Boolean = false): DataFrame = {
    def toTokens(df: DataFrame, idAs: String, tokAs: String, vecAs: String) = {
      val slices = array((0 until tokens).map(t =>
        slice(quantize(col(vecCol)), t * subDim + 1, subDim)): _*)
      df.select(col(idCol).as(idAs), posexplode(slices).as(Seq(tokAs, vecAs)))
    }
    val d = toTokens(corpus, "item_id", "s", "dv")
    val q = toTokens(queries, "query_id", "t", "qv")
    val paired =
      if (excludeSelf) d.join(broadcast(q), col("item_id") =!= col("query_id"))
      else d.crossJoin(broadcast(q))
    val perQTok = paired
      .groupBy(col("query_id"), col("item_id"), col("t"))
      .agg(max(dotQ(col("dv"), col("qv"))).as("mdot"))
    val scored = perQTok.groupBy(col("query_id"), col("item_id"))
      .agg(sum(col("mdot")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id"), col("score"),
        col("rank").cast(IntegerType).as("rank"))
      .orderBy("query_id", "rank")
  }
}
