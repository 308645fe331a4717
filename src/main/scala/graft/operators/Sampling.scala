package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deterministic sampling for training-corpus curation: the same inputs give
 * the same sample on any cluster, any partitioning, any run — no RNG state,
 * no seed plumbing; the "randomness" is an integer hash of the row id.
 */
object Sampling {

  /** Pseudo-random but fully deterministic per-id ordering key (Knuth
    * multiplicative hash mod the Mersenne prime both engines reproduce).
    * The id is reduced mod p BEFORE the multiply: the reduced value (< 2³¹)
    * times the Knuth constant (< 2³²) stays < 2⁶³, so the hash never
    * overflows int64 — a raw `id * 2654435761` overflows for ids ≥ ~3.5e9
    * (routine for snowflake/offset ids), which under ANSI mode throws and
    * otherwise silently breaks the threshold filters. pmod keeps the result
    * non-negative for negative ids too. */
  def idHash(id: Column): Column =
    pmod(pmod(id, lit(2147483647L)) * 2654435761L, lit(2147483647L))

  /**
   * Per-class quota sample: up to `quota` rows per class, picked by the
   * deterministic id hash (ties on id) — balanced-class downsampling
   * (language/domain quotas in corpus curation). The window partitions by
   * class, so one class's candidates sort together; with a bounded quota
   * the rank can early-stop via the top-k window path. At extreme per-class
   * cardinality swap for two-level hash-threshold pre-filtering, then this
   * quota pass on the survivors.
   */
  def quotaByClass(df: DataFrame, classCol: String, idCol: String,
      quota: Int): DataFrame = {
    val w = Window.partitionBy(col(classCol))
      .orderBy(idHash(col(idCol)).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w).cast(IntegerType))
      .filter(col("sample_rank") <= quota)
  }

  /**
   * Rate sample: keep ~`pct`% of rows, deterministically (hash mod 100) —
   * the map-only path for huge uniform downsampling; composes with
   * [[quotaByClass]] as its pre-filter.
   */
  def ratePct(df: DataFrame, idCol: String, pct: Int): DataFrame =
    df.filter(idHash(col(idCol)) % 100L < pct.toLong)

  /**
   * Weight-proportional Bernoulli sample, deterministic: a row is kept iff
   * `idHash(id) mod 1e6 < min(1e6, weight · perUnitPpm)` — expected keep
   * rate proportional to its weight (ppm per weight unit), saturating at
   * certainty. The length-aware downsampler (weight = token count keeps
   * long docs, thins boilerplate shorts) and the importance-sampling
   * primitive for any non-negative integer weight. Map-only, no RNG, no
   * shuffle; `threshold_ppm` rides along for audit. Weights must satisfy
   * `weight · perUnitPpm < 2⁶³` (far beyond any doc-length use).
   */
  def weightedKeep(df: DataFrame, idCol: String, weightCol: String,
      perUnitPpm: Long): DataFrame = {
    require(perUnitPpm > 0, "perUnitPpm must be positive")
    df.withColumn("threshold_ppm",
        least(lit(1000000L), col(weightCol) * perUnitPpm))
      .filter(idHash(col(idCol)) % 1000000L < col("threshold_ppm"))
  }

  /**
   * Domain-mixture resampling: re-weight classes (language / source /
   * quality tier) toward a target mixture by REPLICATING or dropping rows.
   * `weightsPct(c) = 250` keeps 2.5 copies of every class-`c` row (2 always,
   * a 3rd for the deterministic 50% of ids), `30` keeps 0.3 copies. This is
   * the epoch-mixing step of a pre-training data pipeline (e.g. upsample
   * wiki 3×, downsample crawl to 0.4×).
   *
   * Map-only: n_copies is pure integer arithmetic on the id hash, and the
   * replication is one `explode` of a [0, n_copies) range — no shuffle, no
   * RNG, identical output on any cluster. Output = input columns plus
   * `copy_idx` (0-based replica index).
   */
  /**
   * Deterministic epoch shuffle: a pseudo-random but reproducible training
   * order per epoch, with an explicit global `shuffle_rank`. The order key
   * is an epoch-salted integer hash (same Knuth-mod-p family as [[idHash]];
   * a different epoch gives an unrelated permutation), ties broken by id.
   *
   * The global rank is a prefix COUNT in hash order — same two-stage scan
   * as `Packing.packPlan`, except the hash DOMAIN is known ([0, 2³¹-1)), so
   * buckets are fixed-width with no min/max pre-pass: per-bucket counts
   * (≤ `nBuckets` rows) collect to the driver, become exclusive offsets,
   * and broadcast onto a keyed per-bucket `row_number`. No global sort, no
   * single-partition window.
   */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
      nBuckets: Int = 1024): DataFrame = {
    val p = 2147483647L
    val h = pmod(
      pmod(col(idCol), lit(p)) * 2654435761L + lit(epoch.toLong) * 2654435789L,
      lit(p))
    val width = (p + nBuckets - 1) / nBuckets
    val hashed = df.withColumn("__h", h)
      .withColumn("__bucket", (col("__h") / width).cast(LongType))
    val counts = hashed.groupBy("__bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (b, n) => val off = acc; acc += n; (b, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetsDf = offsets.toSeq.toDF("__bucket", "__bucket_off")
    val w = Window.partitionBy(col("__bucket"))
      .orderBy(col("__h"), col(idCol))
    hashed.join(broadcast(offsetsDf), "__bucket")
      .withColumn("shuffle_rank",
        (col("__bucket_off") + row_number().over(w) - 1L).cast(LongType))
      .drop("__bucket", "__bucket_off", "__h")
  }

  /**
   * Deterministic stratified train/val/test split with EXACT per-stratum
   * proportions: within each class (language, source, domain), rows order
   * by the id hash and the first `floor(n·80/100)` become "train", the next
   * slice "val", and so on — so every stratum lands within one row of its
   * target percentage, unlike the map-only `hash % 100` split whose
   * per-stratum proportions only hold in expectation. Splits must sum to
   * 100; assignment is reproducible on any cluster and any partitioning.
   *
   * One keyed window per stratum (rank + stratum size share the same
   * partition — no global window, no second shuffle); the split label is a
   * codegen'd integer comparison chain. Skewed strata are a single window
   * partition each — at extreme stratum cardinality pre-split big strata
   * with [[ratePct]] shards, as with [[quotaByClass]].
   *
   * Output: the input columns plus `split`.
   */
  def stratifiedSplit(df: DataFrame, classCol: String, idCol: String,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      splits.map(_._2).sum == 100,
      s"split percentages must be non-negative and sum to 100: $splits")
    val w = Window.partitionBy(col(classCol))
      .orderBy(idHash(col(idCol)).asc, col(idCol).asc)
    val cw = Window.partitionBy(col(classCol))
    val cums = splits.scanLeft(0)(_ + _._2).tail
    // rank·100 <= n·cumPct picks the first matching slice; the last cum is
    // 100 so the chain is total (otherwise() is unreachable)
    val label = splits.zip(cums).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cum)) =>
        val cond = col("__r") * 100L <= col("__n") * cum.toLong
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }.get.otherwise(splits.last._1)
    df.withColumn("__r", row_number().over(w).cast(LongType))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("split", label)
      .drop("__r", "__n")
  }

  /**
   * Time-based train/test split with an embargo horizon — the split a
   * forecasting/ranking pipeline needs where a random split leaks the
   * future: rows before `splitTs` train, rows inside
   * [splitTs, splitTs + embargoMs) are EMBARGOED (dropped from both sides
   * so boundary-window features can't straddle), the rest test. Map-only —
   * one comparison chain per row, no shuffle, no state.
   *
   * Output: the input columns plus `split` ∈ {train, embargo, test}.
   */
  def temporalSplit(df: DataFrame, tsCol: String, splitTs: Long,
      embargoMs: Long): DataFrame = {
    require(embargoMs >= 0L, s"embargoMs must be >= 0, got $embargoMs")
    df.withColumn("split",
      when(col(tsCol) < splitTs, "train")
        .when(col(tsCol) < splitTs + embargoMs, "embargo")
        .otherwise("test"))
  }

  /**
   * Group-aware k-fold assignment: every row of a group lands in the same
   * fold (fold = quota-hash(group) mod k), so per-group signal never
   * straddles a fold boundary — the grouped analogue of
   * [[stratifiedSplit]]'s leakage contract, and the partner of the
   * split-leakage audit. Map-only; fold balance is hash-uniform over
   * GROUPS (a giant group still skews rows — that's inherent to the
   * contract, audit with the per-fold report).
   *
   * Output: the input columns plus `fold` ∈ [0, k).
   */
  def groupKFold(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.withColumn("fold", idHash(col(groupCol)) % k.toLong)
  }

  /**
   * Deterministic bootstrap stability: `nReplicates` hash-selected
   * subsamples (row r joins replicate b iff quota-hash(r·1009 + b) mod 100
   * < ratePct), each reporting its row count and value sum — the spread
   * across replicates is the stability read on any corpus-level metric,
   * with zero randomness: any engine, any partitioning, the same
   * replicates. Map-side explode (×nReplicates rows) + one partial-agg
   * groupBy; keep nReplicates modest (16–64), it multiplies the scan.
   *
   * Output: (replicate, n, sum_v), one row per replicate.
   */
  def bootstrapStability(df: DataFrame, idCol: String, valueCol: String,
      nReplicates: Int = 16, ratePct: Int = 63): DataFrame = {
    require(nReplicates >= 2 && nReplicates <= 256,
      s"nReplicates in [2,256], got $nReplicates")
    require(ratePct >= 1 && ratePct <= 100, s"ratePct in [1,100]")
    df.select(col(idCol).as("__id"), col(valueCol).as("__v"),
        explode(sequence(lit(0L), lit(nReplicates.toLong - 1L))).as("replicate"))
      .filter(idHash(col("__id") * 1009L + col("replicate")) % 100L
        < ratePct.toLong)
      .groupBy("replicate")
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("sum_v"))
  }

  /**
   * Temperature-scaled mixture weights (the mT5/data-mixing rule):
   * weight(class) ∝ n^α with α = `alphaPermille`/1000 — α < 1 upsamples
   * small sources, α = 1 is proportional, α = 0 uniform. All fixed-point
   * integer: n^α = qexp2(α·qlog2(n)) with the engine's piecewise-linear
   * 1024-units-per-bit log/exp pair, so every engine reproduces the
   * weights bit-for-bit (the pair is a monotone approximation — this is
   * a mixing policy, not an exact power). One groupBy + a ≤|classes|-row
   * total join.
   *
   * Output: (cls, n, weight_ppm) with Σ weight_ppm ≤ 10⁶ (floor).
   */
  def temperatureWeights(df: DataFrame, classCol: String,
      alphaPermille: Int): DataFrame = {
    require(alphaPermille >= 0 && alphaPermille <= 2000,
      s"alphaPermille in [0, 2000], got $alphaPermille")
    val counts = df.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("n"))
    // qexp2(x) = ((1024 + x mod 1024) << (x DIV 1024)) DIV 1024
    val s = IntMath.idiv(
      Retrieval.qlog2(col("n")) * alphaPermille.toLong, lit(1000L))
    val w = IntMath.idiv(
      IntMath.shl(lit(1024L) + pmod(s, lit(1024L)),
        IntMath.idiv(s, lit(1024L))), lit(1024L))
    val weighted = counts.withColumn("__w", w)
    val tot = weighted.agg(sum("__w").as("__tw"))
    weighted.crossJoin(broadcast(tot))
      .select(col("cls"), col("n"),
        IntMath.idiv(col("__w") * lit(1000000L), col("__tw"))
          .as("weight_ppm"))
  }

  def mixtureSample(df: DataFrame, classCol: String, idCol: String,
      weightsPct: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require((defaultPct +: weightsPct.values.toSeq).forall(_ >= 0),
      "weights must be non-negative")
    val w = weightsPct.foldLeft(lit(defaultPct)) { case (acc, (cls, pct)) =>
      when(col(classCol) === cls, lit(pct)).otherwise(acc)
    }.cast(LongType)
    val copies = (w / 100L).cast(LongType) +
      when(idHash(col(idCol)) % 100L < w % 100L, 1L).otherwise(0L)
    df.withColumn("__n_copies", copies)
      .filter(col("__n_copies") > 0)
      .withColumn("copy_idx",
        explode(sequence(lit(0L), col("__n_copies") - 1L)))
      .drop("__n_copies")
  }

  /**
   * Cross-split contamination audit: run [[stratifiedSplit]] and report
   * every (train row, non-train row) pair sharing a caller-supplied
   * content fingerprint — the eval-set leakage a random split silently
   * admits when the corpus carries near-duplicates. The join is on the
   * fingerprint (an equi-join over fingerprint groups, quadratic only
   * within a duplicate group — exactly the duplicates being hunted);
   * output (train_id, leak_id, leak_split, fingerprint). A clean corpus
   * returns zero rows, which is the audit's pass state.
   */
  def splitLeakage(df: DataFrame, classCol: String, idCol: String,
      fingerprint: Column, splits: Seq[(String, Int)]): DataFrame = {
    val s = stratifiedSplit(df.withColumn("__fp", fingerprint),
      classCol, idCol, splits)
      .select(col(idCol).as("id"), col("__fp"), col("split"))
    val train = s.filter(col("split") === "train")
      .select(col("id").as("train_id"), col("__fp"))
    val other = s.filter(col("split") =!= "train")
      .select(col("id").as("leak_id"), col("split").as("leak_split"),
        col("__fp"))
    train.join(other, Seq("__fp"))
      .select(col("train_id"), col("leak_id"), col("leak_split"),
        col("__fp").as("fingerprint"))
      .orderBy("train_id", "leak_id")
  }

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for Language
   * Models via Importance Resampling"): score every RAW-corpus document by
   * how much more likely its hashed n-gram features are under the TARGET
   * corpus's feature distribution than under the raw corpus's own — the
   * standard recipe for selecting web-scale pretraining data that "looks
   * like" a trusted domain corpus. Resampling = feed `w_q` (or `w_q_avg`)
   * to [[weightedKeep]] / [[quotaByClass]].
   *
   * Features are hashed unigrams + bigrams: bucket(tok) = hash(tok) mod B,
   * bucket(a,b) = (hash(a)·131 + hash(b) mod p) mod B — the same
   * fold/combine constants as the shingle machinery, so the DuckDB oracle
   * reproduces every bucket id. Each corpus's bucket histogram is add-1
   * smoothed into a multinomial; a document's log importance weight is
   *
   *   w_q = Σ_f [ qlog2(cnt_t(f)+1) − qlog2(T_t+B)
   *             − qlog2(cnt_r(f)+1) + qlog2(T_r+B) ]
   *
   * summed over its features WITH multiplicity, in 1024ths of a bit
   * (qlog2 of plain counts, never of a shifted ratio, so nothing can
   * overflow int64 at any corpus size). `w_q_avg` is the truncating-divided
   * per-feature mean (both engines' int division truncates toward zero) —
   * the length-independent ranking key.
   *
   * Shape at 100 TB: feature extraction is one native codegen'd kernel
   * per row ([[graft.functions.DsirFeatures]]); training's ONLY wide stage
   * is the bucket-keyed corpus histogram. The trained model is ≤ B rows, so
   * scoring collects it once and is then a single map-only `select` per
   * document — no explode, no aggregation, no join, no shuffle.
   *
   * Output: (doc_id, n_feats, w_q, w_q_avg) for every raw doc —
   * feature-less docs score (0, 0, 0) rather than vanishing.
   */
  def dsirWeights(target: DataFrame, raw: DataFrame, textCol: String,
      idCol: String, nBuckets: Int = 1024): DataFrame =
    dsirScore(raw, dsirHistogram(target, raw, textCol, nBuckets),
      textCol, idCol, nBuckets)

  /** Hashed unigram+bigram feature buckets of `text`, one array element per
    * feature OCCURRENCE (unigrams then bigrams, with multiplicity) — the
    * kernel [[dsirScoreOf]] scores with, so training and scoring bucket
    * identically. Null text has no features. */
  private def dsirBuckets(text: Column, nBuckets: Int): Column =
    GraftBridge.column(graft.functions.DsirBucketsExpr(
      GraftBridge.expression(text.cast(StringType)), nBuckets))

  /** The trained DSIR model: a DENSE `nBuckets`-row (bucket, lr_q) table —
    * `lr_q` the add-1-smoothed qlog2 likelihood ratio of the bucket under
    * the target vs the raw feature distribution. Dense (buckets absent
    * from BOTH corpora carry the zero-count ratio) so every feature of a
    * future corpus scores, even one in a bucket neither training corpus
    * ever saw. Persist with `hist.write.parquet(dir)` to train offline and
    * score at ingest (the sink's `quality = dsir:…` stage reads exactly
    * this layout). */
  def dsirHistogram(target: DataFrame, raw: DataFrame, textCol: String,
      nBuckets: Int = 1024): DataFrame = {
    def feats(d: DataFrame, isT: Boolean) = d.select(
      explode(dsirBuckets(col(textCol), nBuckets)).as("bucket"),
      lit(isT).as("is_t"))
    val fb = feats(target, isT = true).unionByName(feats(raw, isT = false))
    // corpus histogram: ≤ nBuckets rows — the one staged (tiny) frame;
    // reused by the totals fold and the ratio projection
    val ct = Staging.stage(fb.groupBy(col("bucket")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("cnt_t"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("cnt_r")))
    val tot = ct.agg(sum(col("cnt_t")).as("tt"), sum(col("cnt_r")).as("tr"))
    val dense = target.sparkSession.range(nBuckets.toLong)
      .select(col("id").as("bucket"))
      .join(ct, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("cnt_t"), lit(0L)).as("cnt_t"),
        coalesce(col("cnt_r"), lit(0L)).as("cnt_r"))
    dense.crossJoin(tot).select(col("bucket"),
      (Retrieval.qlog2(col("cnt_t") + 1L) -
        Retrieval.qlog2(col("tt") + nBuckets.toLong) -
        Retrieval.qlog2(col("cnt_r") + 1L) +
        Retrieval.qlog2(col("tr") + nBuckets.toLong)).as("lr_q"))
  }

  /** Collect a trained [[dsirHistogram]] into its dense in-memory form:
    * `model(b)` = bucket b's `lr_q`. One small job (≤ nBuckets rows).
    * Fails loudly unless the table is exactly dense — `nBuckets` rows,
    * buckets 0..nBuckets−1 each once, no null `lr_q` — since a missing
    * bucket would otherwise score as a silent zero. */
  def dsirModel(histogram: DataFrame, nBuckets: Int = 1024): Array[Long] = {
    val rows = histogram
      .select(col("bucket").cast(LongType), col("lr_q").cast(LongType))
      .collect()
    require(rows.length == nBuckets,
      s"DSIR model is not dense: ${rows.length} rows, expected $nBuckets")
    val model = new Array[Long](nBuckets)
    val seen = new java.util.BitSet(nBuckets)
    rows.foreach { r =>
      require(!r.isNullAt(0) && r.getLong(0) >= 0L &&
        r.getLong(0) < nBuckets && !seen.get(r.getLong(0).toInt),
        s"DSIR model is not dense: bucket ${r.get(0)} is null, out of " +
          s"[0, $nBuckets) or repeated")
      require(!r.isNullAt(1), s"DSIR model has a null lr_q at bucket ${r.get(0)}")
      seen.set(r.getLong(0).toInt)
      model(r.getLong(0).toInt) = r.getLong(1)
    }
    model
  }

  /** `struct<n_feats, w_q>` of `text` against a [[dsirModel]] — the one
    * per-row scorer behind [[dsirScore]] and the sink's quality gate.
    * Null or feature-less text scores (0, 0). */
  def dsirScoreOf(text: Column, model: Array[Long]): Column =
    GraftBridge.column(graft.functions.DsirScoreExpr(
      GraftBridge.expression(coalesce(text.cast(StringType), lit(""))), model))

  /** `w_q_avg` of a [[dsirScoreOf]] struct: w_q DIV n_feats, TRUNCATING
    * toward zero on the signed total (both engines' integer division
    * truncates — DuckDB `//`, Catalyst DIV); 0 for a feature-less row. */
  def dsirAvg(score: Column): Column =
    when(score.getField("n_feats") > 0L,
      IntMath.idiv(score.getField("w_q"), score.getField("n_feats")))
      .otherwise(0L)

  /** Score `docs` against a trained [[dsirHistogram]]: the histogram is
    * collected into its dense model ([[dsirModel]]), then scoring is one
    * map-only `select` per doc. Output (doc_id, n_feats, w_q, w_q_avg), one
    * row per input row; feature-less docs score (0, 0, 0). */
  def dsirScore(docs: DataFrame, histogram: DataFrame, textCol: String,
      idCol: String, nBuckets: Int = 1024): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        dsirScoreOf(col(textCol), dsirModel(histogram, nBuckets)).as("__s"))
      .select(col("doc_id"), col("__s.n_feats").as("n_feats"),
        col("__s.w_q").as("w_q"), dsirAvg(col("__s")).as("w_q_avg"))

  /**
   * Dedup-aware resampling weights: instead of DROPPING exact duplicates
   * (the [[Dedup.exact]] policy), keep every copy but weight each by the
   * inverse of its cluster size — w_ppm = ⌊10⁶ / n_copies⌋ — so a
   * loss-weighted or resampled epoch sees each distinct CONTENT once in
   * expectation regardless of how many times it was crawled. The soft
   * alternative to hard dedup when provenance must survive (every copy
   * keeps its row) or when partial upweighting is wanted (feed `w_ppm` to
   * [[weightedKeep]] with a scale factor).
   *
   * Shape at 100 TB: content hashes are 128-bit digests computed map-side;
   * the groupBy and the join back shuffle (hash, id) pairs only — text
   * never shuffles. Cluster sizes are bounded by true duplication, not
   * corpus size.
   *
   * NULL text: `md5(NULL)` is NULL, so the grouping AND the join back are
   * both null-safe (`<=>` / `IS NOT DISTINCT FROM`) — all null-text docs
   * form one cluster (identical absent content) instead of silently
   * dropping out of the inner join, honoring the "every copy keeps its
   * row" provenance contract.
   *
   * Output per input doc: (doc_id, cluster_size, w_ppm).
   */
  def dedupAwareWeights(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val hashed = docs.select(md5(col(textCol)).as("__h"),
      col(idCol).as("doc_id"))
    // groupBy already buckets NULL keys together; the join back must be
    // null-safe or the null cluster vanishes (nothing equi-matches NULL)
    val sizes = hashed.groupBy(col("__h"))
      .agg(count(lit(1)).as("cluster_size"))
      .withColumnRenamed("__h", "__hs")
    hashed.join(sizes, col("__h") <=> col("__hs"))
      .select(col("doc_id"), col("cluster_size"),
        IntMath.idiv(lit(1000000L), col("cluster_size")).as("w_ppm"))
  }
}
