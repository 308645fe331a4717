package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Multi-dimensional data-layout planning: Z-order (Morton) interleaving and
 * the clustering report that justifies it. At 100 TB the dominant cost of a
 * two-predicate scan is how many files a `WHERE x BETWEEN … AND y BETWEEN …`
 * must touch; sorting by a Morton code of both columns keeps BOTH ranges
 * narrow per file, where a lexicographic sort keeps only the leading one
 * narrow. Public technique (Morton 1966; Delta/Iceberg both expose it as
 * Z-ORDER clustering). Everything here is integer-exact so the DuckDB oracle
 * reproduces the layout bit-for-bit.
 */
object Layout {

  /** Morton code of two non-negative ints, `bits` bits each, LSB-first
    * interleave (x even positions, y odd): Σᵢ ((x≫i)&1)·2²ⁱ + ((y≫i)&1)·2²ⁱ⁺¹.
    * Closed-form column expression — 2·`bits` codegen'd shift/mask terms,
    * no UDF. */
  def mortonValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        (shiftright(x, i).cast(LongType) % 2L) * lit(1L << (2 * i)) +
        (shiftright(y, i).cast(LongType) % 2L) * lit(2L << (2 * i))
    }
  }

  /**
   * Z-order layout plan over two integer columns: min-max-scale each to
   * `bits` bits, Morton-interleave, split the code space into `nFiles`
   * equal ranges by its top bits, and report each would-be file's row
   * count and PER-DIMENSION min/max — the fraction of files a range
   * predicate on EITHER column would touch is the layout's quality,
   * readable straight off the report.
   *
   * Shape at 100 TB: one bounded 1-row min/max aggregate, then a single
   * partial-agg groupBy on the file id — the plan itself (assign + write
   * by `zfile`) is a `repartitionByRange(col("zval"))` away and shuffles
   * once. log₂(nFiles) must be ≤ 2·bits (the code must have enough top
   * bits to split on).
   *
   * Output per file (ordered): (zfile, n, min_x, max_x, min_y, max_y).
   */
  def zOrderLayout(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 8, nFiles: Int = 16): DataFrame = {
    require(nFiles >= 2 && Integer.bitCount(nFiles) == 1,
      s"nFiles must be a power of two >= 2, got $nFiles")
    val fileBits = 31 - Integer.numberOfLeadingZeros(nFiles)
    require(fileBits <= 2 * bits,
      s"nFiles=$nFiles needs $fileBits top bits but the code has ${2 * bits}")
    val v = df.select(col(xCol).cast(LongType).as("x"),
        col(yCol).cast(LongType).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val mm = v.agg(min("x"), max("x"), min("y"), max("y"), count(lit(1)))
      .head()
    if (mm.getLong(4) == 0L)
      return v.groupBy(lit(0L).as("zfile")).agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y")).limit(0)
    val top = (1L << bits) - 1L
    def scale(c: Column, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else IntMath.idiv((c - lit(lo)) * lit(top), lit(hi - lo))
    val z = v.select(col("x"), col("y"),
      mortonValue(scale(col("x"), mm.getLong(0), mm.getLong(1)),
        scale(col("y"), mm.getLong(2), mm.getLong(3)), bits).as("zval"))
    z.withColumn("zfile",
        shiftright(col("zval"), 2 * bits - fileBits).cast(LongType))
      .groupBy("zfile")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("zfile")
  }

  /** Bits per bitmap word: 63, not 64 — the sign bit stays clear so
    * `1 << bit` never overflows in EITHER engine (DuckDB's BIGINT shift
    * at 63 is engine-defined; staying under it keeps the oracle exact). */
  val BitmapWordBits = 63

  /**
   * Value-keyed bitmap index over a dense integer row-id column — the
   * low-cardinality-predicate acceleration structure (roaring-bitmap
   * lineage, public): per distinct value, row ids pack into 63-bit words,
   * and a multi-predicate count becomes a word-aligned AND + popcount
   * instead of a row scan. Ids need not be contiguous, only non-negative.
   *
   * Shape at 100 TB: ONE partial-agg groupBy on (value, word) — output
   * size is |values| · |id-range|/63 words worst case, and each
   * conjunction query then touches words, not rows.
   *
   * Output: (value, word, bits).
   */
  def bitmapIndex(df: DataFrame, idCol: String,
      valueCol: String): DataFrame =
    df.select(col(valueCol).as("value"),
        IntMath.idiv(col(idCol).cast(LongType), lit(BitmapWordBits.toLong))
          .as("word"),
        IntMath.shl(lit(1L),
          col(idCol).cast(LongType) % lit(BitmapWordBits.toLong)).as("b"))
      .groupBy("value", "word")
      .agg(expr("bit_or(b)").as("bits"))

  /** AND-cardinality of two bitmap sides: for every (value_a, value_b)
    * pair present in both indexes, the count of shared row ids —
    * Σ popcount(bits_a & bits_b) over the word-aligned join. The join
    * keys on the WORD, so only co-occupied words ever meet. */
  def bitmapAndCounts(bmA: DataFrame, bmB: DataFrame): DataFrame =
    bmA.select(col("value").as("value_a"), col("word"),
        col("bits").as("ba"))
      .join(bmB.select(col("value").as("value_b"), col("word"),
        col("bits").as("bb")), Seq("word"))
      .groupBy("value_a", "value_b")
      .agg(sum(bit_count(col("ba").bitwiseAND(col("bb"))).cast(LongType))
        .as("n"))
      .filter(col("n") > 0L)
      .orderBy("value_a", "value_b")

  /**
   * Column-encoding advisor: for each column, the measured plain-vs-
   * dictionary size trade — dictionary encoding pays when
   * `ndv·avg_len + n·⌈log₂ ndv⌉/8` undercuts storing every value, the
   * standard parquet/ORC dictionary heuristic made explicit so a 100 TB
   * table layout is chosen from MEASURED numbers. Sizes are in value
   * units (string length for text, 8 per integral) — relative, which is
   * what the plain/dict decision needs; both are exact integers.
   *
   * Shape: one generated unpivot (map-side), one (column, value)-keyed
   * partial agg, one column-keyed rollup. Output per column (ordered):
   * (column, n, ndv, plain_units, dict_units, recommend).
   */
  def encodingAdvisor(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val pairs = df.select(cols.map { c =>
      struct(lit(c).as("column"),
        col(c).cast(org.apache.spark.sql.types.StringType).as("v"),
        (df.schema(c).dataType match {
          case org.apache.spark.sql.types.StringType => length(col(c))
          case _ => lit(8)
        }).cast(LongType).as("len")).as(c)
    }: _*)
      .select(explode(array(cols.map(col): _*)).as("p"))
      .select("p.*")
      .filter(col("v").isNotNull)
    val byVal = pairs.groupBy("column", "v")
      .agg(count(lit(1)).as("c"), first("len").as("len"))
    byVal.groupBy("column")
      .agg(sum("c").as("n"), count(lit(1)).as("ndv"),
        sum(col("c") * col("len")).as("plain_units"),
        sum("len").as("dict_payload"))
      .select(col("column"), col("n"), col("ndv"), col("plain_units"),
        // dict = one copy of each value + n refs of ⌈log₂ ndv⌉ bits
        (col("dict_payload") + IntMath.idiv(
          col("n") * when(col("ndv") <= 1L, 1L)
            .otherwise(length(bin(col("ndv") - 1L)).cast(LongType)) + 7L,
          lit(8L))).as("dict_units"))
      .withColumn("recommend",
        when(col("dict_units") < col("plain_units"), "dict")
          .otherwise("plain"))
      .orderBy("column")
  }

  /** A rectangular scan predicate for [[pruningReport]]: closed ranges on
    * both dimensions (use Long.MinValue/MaxValue for an open side). */
  case class ScanPredicate(name: String, xLo: Long, xHi: Long,
    yLo: Long, yHi: Long)

  /**
   * Workload-aware pruning report — the MEASURED payoff of a layout
   * choice: under each of three layouts (sorted by x, sorted by y,
   * Z-ordered on both), how many of the `nFiles` would-be files does each
   * predicate of the workload have to touch, given per-file min/max
   * zone maps (the parquet/Iceberg pruning model). This turns
   * "[[zOrderLayout]] keeps both dims narrow" into files-touched numbers
   * a storage bill understands.
   *
   * Shape: each layout assignment is the [[sortKeyAdvisor]] machinery
   * (value-keyed cumulative two-stage, no global sort) or the
   * [[zOrderLayout]] top-bits bucket; per-file stats are nFiles rows and
   * the predicate evaluation is a broadcast cross of two tiny frames.
   *
   * Output (ordered): (layout, predicate, files_total, files_touched,
   * touched_ppm).
   */
  def pruningReport(df: DataFrame, xCol: String, yCol: String,
      predicates: Seq[ScanPredicate], nFiles: Int = 16,
      bits: Int = 8): DataFrame = {
    require(predicates.nonEmpty, "need at least one predicate")
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(xCol).cast(LongType).as("x"),
        col(yCol).cast(LongType).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val n = v.count()
    if (n == 0L)
      return Seq.empty[(String, String, Long, Long, Long)]
        .toDF("layout", "predicate", "files_total", "files_touched",
          "touched_ppm")
    // equi-count file id along `order`, by the cumulative-count two-stage
    def sortFiles(order: String): DataFrame = {
      val byVal = v.groupBy(col(order).as("cv")).agg(count(lit(1)).as("c"))
      val mm = byVal.agg(min("cv"), max("cv")).head()
      val lo = mm.getLong(0)
      val width = math.max(1L, (mm.getLong(1) - lo) / 1024 + 1)
      val b = byVal.withColumn("__bucket",
        IntMath.idiv(col("cv") - lo, lit(width)))
      val offs = b.groupBy("__bucket").agg(sum("c").as("bc"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      var acc = 0L
      val offDf = offs.map { case (bk, c) =>
        val o = acc; acc += c; (bk, o) }.toSeq.toDF("__bucket", "__off")
      val w = Window.partitionBy(col("__bucket")).orderBy(col("cv"))
      val fm = b.join(broadcast(offDf), "__bucket")
        .withColumn("sBefore",
          col("__off") + sum(col("c")).over(w) - col("c"))
        .select(col("cv"),
          IntMath.idiv(col("sBefore") * nFiles, lit(n)).as("file"))
      v.join(fm, v(order) === fm("cv")).select(col("x"), col("y"),
        col("file"))
    }
    def zFiles: DataFrame = {
      val mm = v.agg(min("x"), max("x"), min("y"), max("y")).head()
      val top = (1L << bits) - 1L
      def scale(c: Column, lo: Long, hi: Long): Column =
        if (hi == lo) lit(0L)
        else IntMath.idiv((c - lit(lo)) * lit(top), lit(hi - lo))
      val fileBits = 31 - Integer.numberOfLeadingZeros(nFiles)
      v.select(col("x"), col("y"),
        shiftright(mortonValue(
          scale(col("x"), mm.getLong(0), mm.getLong(1)),
          scale(col("y"), mm.getLong(2), mm.getLong(3)), bits),
          2 * bits - fileBits).cast(LongType).as("file"))
    }
    val preds = predicates.map(p => (p.name, p.xLo, p.xHi, p.yLo, p.yHi))
      .toDF("predicate", "xlo", "xhi", "ylo", "yhi")
    def report(name: String, assigned: DataFrame): DataFrame = {
      val stats = assigned.groupBy("file")
        .agg(min("x").as("fxl"), max("x").as("fxh"),
          min("y").as("fyl"), max("y").as("fyh"))
      stats.crossJoin(broadcast(preds))
        .groupBy("predicate")
        .agg(count(lit(1)).as("files_total"),
          sum(when(col("fxh") >= col("xlo") && col("fxl") <= col("xhi") &&
            col("fyh") >= col("ylo") && col("fyl") <= col("yhi"), 1L)
            .otherwise(0L)).as("files_touched"))
        .select(lit(name).as("layout"), col("predicate"),
          col("files_total"), col("files_touched"),
          IntMath.idiv(col("files_touched") * lit(1000000L),
            greatest(col("files_total"), lit(1L))).as("touched_ppm"))
    }
    report("sort_x", sortFiles("x"))
      .unionByName(report("sort_y", sortFiles("y")))
      .unionByName(report("zorder", zFiles))
      .orderBy("layout", "predicate")
  }

  /**
   * Sort-key advisor: score each candidate sort column by how well an
   * equi-count split on it CLUSTERS a target column — the empirical
   * answer to "which key should this table be written sorted by so that
   * range predicates on `targetCol` prune files". Rows split into
   * `nFiles` equal-count files in candidate order (tie blocks land on
   * their first rank's file); the score is the mean per-file target
   * range as ppm of the global target range — 10⁶ ≈ every file spans
   * everything (no pruning), → 0 ≈ perfect clustering. Compose with
   * [[mortonValue]] by passing a precomputed Z-code column as a
   * candidate to compare interleaved against lexicographic layouts.
   *
   * Shape: per candidate, the cumulative-count machinery is value-keyed
   * (a [[Stats.globalQuantiles]]-style two-stage scan — no global sort),
   * the file map joins back on the candidate VALUE, and one groupBy per
   * candidate sizes the report. Candidates evaluate independently and
   * union — |candidates| bounded passes.
   *
   * Output per candidate (ordered): (candidate, n_files, span_ppm).
   */
  def sortKeyAdvisor(df: DataFrame, candidateCols: Seq[String],
      targetCol: String, nFiles: Int = 16): DataFrame = {
    require(candidateCols.nonEmpty, "need at least one candidate")
    require(nFiles >= 2, s"nFiles must be >= 2, got $nFiles")
    val reports = candidateCols.map { cand =>
      val v = df.select(col(cand).cast(LongType).as("cv"),
          col(targetCol).cast(LongType).as("tv"))
        .filter(col("cv").isNotNull && col("tv").isNotNull)
      // staged: consumed by the min/max/total head(), the bucket-offset
      // collect AND the final file-map join — without the stage each
      // candidate re-ran the full scan+group three times (guide §1.2)
      val byVal = Staging.stage(v.groupBy("cv").agg(count(lit(1)).as("c")))
      // two-stage cumulative: bucket offsets collected (bounded), then a
      // bucket-keyed window — the sBefore of each distinct candidate value
      val mm = byVal.agg(min("cv"), max("cv"), sum("c")).head()
      val n = if (mm.isNullAt(2)) 0L else mm.getLong(2)
      if (n == 0L) {
        val spark = df.sparkSession
        import spark.implicits._
        Seq.empty[(String, Long, Long)].toDF("candidate", "n_files", "span_ppm")
      } else {
        val lo = mm.getLong(0)
        val width = math.max(1L, (mm.getLong(1) - lo) / 1024 + 1)
        val b = byVal.withColumn("__bucket",
          IntMath.idiv(col("cv") - lo, lit(width)))
        val offs = b.groupBy("__bucket").agg(sum("c").as("bc"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
        var acc = 0L
        val offRows = offs.map { case (bk, c) =>
          val o = acc; acc += c; (bk, o) }
        val spark = df.sparkSession
        import spark.implicits._
        val offDf = offRows.toSeq.toDF("__bucket", "__off")
        val w = Window.partitionBy(col("__bucket")).orderBy(col("cv"))
        val fileMap = b.join(broadcast(offDf), "__bucket")
          .withColumn("sBefore",
            col("__off") + sum(col("c")).over(w) - col("c"))
          .select(col("cv"),
            IntMath.idiv(col("sBefore") * nFiles, lit(n)).as("file"))
        val perFile = v.join(fileMap, "cv")
          .groupBy("file")
          .agg(min("tv").as("flo"), max("tv").as("fhi"))
        perFile.agg(
            count(lit(1)).as("n_files"),
            sum(col("fhi") - col("flo")).as("span_sum"),
            min("flo").as("glo"), max("fhi").as("ghi"))
          .select(lit(cand).as("candidate"), col("n_files"),
            IntMath.idiv(col("span_sum") * lit(1000000L),
              greatest((col("ghi") - col("glo")) * col("n_files"), lit(1L)))
              .as("span_ppm"))
      }
    }
    reports.reduce(_ unionByName _).orderBy("candidate")
  }

  /**
   * Materialize `df` as a BUCKETED catalog table: hash-partitioned into
   * `buckets` files by `key` and sorted by it within each bucket. Two
   * tables bucketed the same way equi-join WITHOUT a shuffle (and without
   * a sort, with sortBy) — at 100 TB this converts every recurring
   * fact-fact join on the bucket key from the cluster's biggest exchange
   * into a map-side zip, paid once at write time. SkewLayoutSpec asserts
   * the no-Exchange plan.
   */
  def bucketedMirror(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    require(buckets >= 1, "buckets must be >= 1")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /**
   * Small-file compaction plan over a (partition, file, bytes) inventory —
   * the table-maintenance decision every lake table needs at 100 TB: many
   * tiny files make every scan pay per-file open/footer costs and bloat
   * the metadata; compaction rewrites a partition's files into
   * ceil(bytes/targetBytes) outputs.
   *
   * Per partition: file/byte totals, how many files are "small"
   * (< smallBytes), the planned post-compaction file count (never more
   * than today's), files saved, and whether the rewrite is worth it
   * (`compact` = saves at least one file AND at least two smalls exist —
   * rewriting one lone small file buys nothing). `rewrite_bytes` totals
   * the I/O bill of the plan. One aggregation over the inventory — the
   * inventory itself is metadata-sized (one row per file), never data-
   * sized, so this runs on a 100 TB table's listing in milliseconds.
   *
   * Output (ordered): (partition, n_files, small_files, total_bytes,
   * planned_files, files_saved, compact, rewrite_bytes).
   */
  def compactionReport(inventory: DataFrame, partCol: String,
      bytesCol: String, smallBytes: Long, targetBytes: Long): DataFrame = {
    require(smallBytes >= 1 && targetBytes >= 1,
      "smallBytes/targetBytes must be positive")
    val agg = inventory
      .groupBy(col(partCol).as("partition"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col(bytesCol) < smallBytes, 1L).otherwise(0L))
          .as("small_files"),
        sum(col(bytesCol)).cast(LongType).as("total_bytes"))
    val planned = least(col("n_files"),
      IntMath.idiv(col("total_bytes") + lit(targetBytes - 1),
        lit(targetBytes)))
    agg
      .withColumn("planned_files", planned)
      .withColumn("files_saved", col("n_files") - col("planned_files"))
      .withColumn("compact",
        col("files_saved") >= 1L && col("small_files") >= 2L)
      .withColumn("rewrite_bytes",
        when(col("compact"), col("total_bytes")).otherwise(0L))
      .orderBy("partition")
  }

  /**
   * Join-strategy advisor: for each candidate dimension against one fact,
   * measure what the planner cannot know without stats — dim row count,
   * a byte estimate, and the fact side's hot-key concentration — and
   * recommend `broadcast` (dim fits the driver/executor budget),
   * `salted` (dim too big AND the fact key is skew-heavy), or `shuffle`.
   *
   * The skew signal is the top fact key's ppm share: a perfectly uniform
   * key has share ≈ 1e6/n_keys; a hot key dominating a reducer shows up
   * as orders of magnitude above that. Thresholds are explicit arguments
   * so the policy is testable, not folklore.
   *
   * Output (ordered): (dim_name, dim_rows, dim_bytes_est, fact_keys,
   * top_key_share_ppm, recommend).
   */
  def joinPlanAdvisor(fact: DataFrame, factKey: String,
      dims: Seq[(String, DataFrame)],
      broadcastBytes: Long = 10L * 1024 * 1024,
      skewSharePpm: Long = 50000L): DataFrame = {
    require(dims.nonEmpty, "need at least one candidate dim")
    val keyStats = fact.groupBy(col(factKey).as("k"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("fact_keys"), max("n").as("top_n"),
        sum("n").as("fact_rows"))
      .select(col("fact_keys"),
        IntMath.idiv(col("top_n") * lit(1000000L),
          greatest(col("fact_rows"), lit(1L))).as("top_key_share_ppm"))
    val reports = dims.map { case (name, dim) =>
      // byte estimate: per-row sum of column widths (8 per numeric, string
      // lengths measured) — the same arithmetic a catalog's stats carry
      val widths = dim.schema.fields.map { f =>
        f.dataType match {
          case org.apache.spark.sql.types.StringType =>
            coalesce(length(col(f.name)).cast(LongType), lit(0L))
          case _ => lit(8L)
        }
      }.reduce(_ + _)
      dim.agg(count(lit(1)).as("dim_rows"),
          sum(widths).cast(LongType).as("dim_bytes_est"))
        .crossJoin(broadcast(keyStats))
        .select(lit(name).as("dim_name"), col("dim_rows"),
          col("dim_bytes_est"), col("fact_keys"), col("top_key_share_ppm"),
          when(col("dim_bytes_est") <= broadcastBytes, "broadcast")
            .when(col("top_key_share_ppm") >= skewSharePpm, "salted")
            .otherwise("shuffle").as("recommend"))
    }
    reports.reduce(_ unionByName _).orderBy("dim_name")
  }
}
