package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan-hygiene + scale probes (not part of the library surface). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PROBE_DIR", "/root/testdata/sf0.1")

    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // a plan-STRING substring check for "windowspecdefinition()" can never
    // fire (the printed form always carries order/frame args inside the
    // parens) — walk the optimized plan and check the partition spec itself
    def assertKeyedWindows(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      require(bad.isEmpty, s"$what uses an UNPARTITIONED window — every " +
        "window must be keyed or the whole input sorts in one task")
    }

    // 20× the sf0.1 documents with distinct ids → 100k docs
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val big = (0 until 20).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .select("doc_id", "text")
    big.cache().count()
    println(s"corpus: ${big.count()} docs")

    timed("minhash signatures")(
      graft.operators.Dedup.minhashSignatures(big, "text", "doc_id").count())
    timed("minhash candidates")(
      graft.operators.Dedup.minhashCandidates(graft.operators.Dedup.minhashBands(
        graft.operators.Dedup.minhashSignatures(big, "text", "doc_id"))).count())
    timed("simhash")(
      graft.operators.Dedup.simhash(big, "text", "doc_id").count())
    timed("exact dedup")(
      graft.operators.Dedup.exact(big, "text", "doc_id").count())

    // ---- capped band candidates on a DUP-DENSE corpus: 50k byte-identical
    // docs put every copy in ONE bucket per band — uncapped that is
    // 50k²/2 ≈ 1.25B pairs (the quadratic degenerate case); the cap's
    // star contract emits exactly n−1 pairs (bucket-min, other), linear
    {
      import graft.operators.Dedup
      val oneDoc = (1 to 40).map(i => s"w$i").mkString(" ")
      val dupDense = spark.range(50000L)
        .select(col("id").as("doc_id"), lit(oneDoc).as("text"))
      val bands = Dedup.minhashBands(
        Dedup.minhashSignatures(dupDense, "text", "doc_id"))
      timed("capped candidates (50k copies of ONE doc)") {
        val n = Dedup.minhashCandidates(bands, maxBucketSize = 64).count()
        require(n == 49999L,
          s"dup-dense capped candidates must be the n-1 star, got $n")
        n
      }
      // outcome equivalence: the star preserves the dedup result — survivors
      // and clusters match the all-pairs form (cap forced tiny to exercise
      // the star path on ordinary buckets too)
      val mixed = base.select("doc_id", "text")
      val mBands = Dedup.minhashBands(
        Dedup.minhashSignatures(mixed, "text", "doc_id"))
      val keepAll = Dedup.applyNearDedup(mixed,
        Dedup.minhashCandidates(mBands), "doc_id")
        .select("doc_id")
      val keepCapped = Dedup.applyNearDedup(mixed,
        Dedup.minhashCandidates(mBands, maxBucketSize = 2), "doc_id")
        .select("doc_id")
      require(keepAll.exceptAll(keepCapped).count() == 0 &&
        keepCapped.exceptAll(keepAll).count() == 0,
        "capped candidates changed the applyNearDedup survivor set")
      println("capped candidates: star contract preserves survivors (checked)")
    }

    // ---- cross-corpus screen: precomputed reference bands (the
    // band-once-reuse-per-batch ingest shape) must equal the recompute form
    {
      import graft.operators.Dedup
      val newDocs = base.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      val refDocs = base.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text")
      val recompute = Dedup.crossCorpusNearDup(newDocs, refDocs, "text", "doc_id")
      val refBands = Dedup.refCorpusBands(refDocs, "text", "doc_id")
        .localCheckpoint() // stands in for the parquet round-trip
      val reuse = Dedup.crossCorpusNearDupPrebanded(newDocs, refBands,
        "text", "doc_id")
      require(reuse.exceptAll(recompute).count() == 0 &&
        recompute.exceptAll(reuse).count() == 0,
        "prebanded cross-corpus screen diverged from the recompute form")
      println("cross-corpus screen: prebanded reuse == recompute (checked)")
    }

    // ---- curation pass probes: PII + repetition are pure projections /
    // keyed windows (map-scale); decontamination must BROADCAST the eval
    // shingle set so the corpus side never shuffles to meet it
    timed("pii redact (projection)")(
      big.select(col("doc_id"),
        graft.operators.TextAnalysis.piiRedact(col("text")).as("r")).count())
    // span dedup: tile + count + anti-join + rebuild — all linear stages;
    // on this 20x-replicated corpus EVERY span repeats, so the common-span
    // set is maximal and the rebuild runs at full volume (the worst case)
    timed("span dedup (8-token tiles, dup-dense)")(
      graft.operators.Dedup.spanDedup(big, "text", "doc_id").count())
    // distinctive terms: the tf-idf rank must stay a KEYED window per doc
    val dterms = graft.operators.TextAnalysis
      .distinctiveTerms(big, "text", "doc_id", 3)
    assertKeyedWindows(dterms, "distinctive terms")
    timed("distinctive terms (top-3/doc)")(dterms.count())
    timed("repetition stats")(
      graft.operators.TextAnalysis.repetitionStats(big, "text", "doc_id").count())
    val contam = graft.operators.Dedup.contamination(
      big.filter(col("doc_id") % 7 =!= 0), big.filter(col("doc_id") % 7 === 0),
      "text", "doc_id")
    val contamPlan = contam.queryExecution.executedPlan.toString
    require(contamPlan.contains("BroadcastHashJoin") ||
      contamPlan.contains("BroadcastExchange"),
      "decontamination must broadcast the eval shingle set")
    println("decontamination plan: eval shingle set broadcasts (checked)")
    timed("decontamination (1/7 eval slice)")(contam.count())

    // ---- sequence packing: the prefix scan must stay two-stage — bucket
    // offsets BROADCAST onto a keyed window, never a global WindowExec
    val pack = graft.operators.Packing.packPlan(big, "text", "doc_id", 2048)
    val packPlan = pack.queryExecution.executedPlan.toString
    require(packPlan.contains("BroadcastHashJoin") ||
      packPlan.contains("BroadcastExchange"),
      "pack plan must broadcast the bucket offsets")
    assertKeyedWindows(pack, "pack plan")
    println("pack plan: bucket offsets broadcast, window keyed (checked)")
    timed("pack plan (2048-token seqs)")(pack.count())
    timed("pack occupancy")(
      graft.operators.Packing.packOccupancy(pack, 2048).count())
    timed("mixture sample (map-only)")(
      graft.operators.Sampling.mixtureSample(
        big.withColumn("cls", (col("doc_id") % 5).cast("string")),
        "cls", "doc_id", Map("0" -> 250, "1" -> 30)).count())

    // budget select + epoch shuffle: same two-stage scan contract as the
    // pack plan — offsets broadcast, windows keyed, never a global sort
    val scored = big.select(col("doc_id"),
      graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("score", col("doc_id") % 100L)
    val sel = graft.operators.Packing.budgetSelect(
      scored, "score", "doc_id", "n_tokens", budgetTokens = 1000000L)
    val selPlan = sel.queryExecution.executedPlan.toString
    require(selPlan.contains("BroadcastHashJoin") ||
      selPlan.contains("BroadcastExchange"),
      "budget select must broadcast the per-score offsets")
    timed("budget select (1M-token budget)")(sel.count())
    val shuf = graft.operators.Sampling.epochShuffle(
      big.select(col("doc_id")), "doc_id", epoch = 1)
    val shufPlan = shuf.queryExecution.executedPlan.toString
    require(shufPlan.contains("BroadcastHashJoin") ||
      shufPlan.contains("BroadcastExchange"),
      "epoch shuffle must broadcast the bucket offsets")
    timed("epoch shuffle (global rank)")(shuf.count())
    big.unpersist()

    // ---- embedding-LSH fan-out bound: per-(table,bucket) occupancy is what
    // the candidate join squares, so the max bucket size IS the scale story
    // (plus the hard cap in lshCandidates). 8× the embeddings → 16k vectors.
    val ebase = spark.read.parquet(s"$dir/embeddings.parquet")
    val ebig = (0 until 8).map(i =>
      ebase.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _).select("vec_id", "embedding")
    ebig.cache().count()
    val buckets = graft.operators.Similarity
      .lshBuckets(ebig, "vec_id", "embedding").cache()
    val occ = buckets.groupBy("table_id", "bucket").count()
      .agg(max("count").as("max_bucket"), expr("CAST(avg(count) AS DOUBLE)").as("avg_bucket"),
        count(lit(1)).as("n_buckets")).head()
    println(s"lsh fan-out @${ebig.count()} vecs: max bucket ${occ.getLong(0)}, " +
      f"avg ${occ.getDouble(1)}%.2f over ${occ.getLong(2)} buckets " +
      "(candidate pairs per key bounded by cap² — see Similarity.lshCandidates)")
    timed("lsh candidates (capped)")(
      graft.operators.Similarity.lshCandidates(buckets).count())
    buckets.unpersist(); ebig.unpersist()

    // ---- embedding near-dup RECALL vs brute-force ground truth: the LSH
    // path (8 tables × 12 planes) trades recall for never forming n² pairs;
    // this measures what that trade costs at the operator's own cos ≥ 2/5
    // threshold (ground truth brute-forced here — affordable only in a probe)
    {
      import graft.operators.{Dedup, Similarity}
      // the sf0.1 corpus has NO pairs above cos ≈ 0.7 (the r5 probe measured
      // 0/0 there), so the strict preset's floor would assert over an empty
      // truth set — PLANT true near-dups: a deterministically perturbed copy
      // of every 4th vector (±30% multiplicative per-coordinate sinus noise
      // → cos ≈ 0.95-0.99). Truth below is still brute-forced, so the
      // planted pairs' actual cosines — not the intent — are what recall is
      // measured against.
      val emb = ebase.select("vec_id", "embedding").unionByName(
        ebase.filter(col("vec_id") % 4 === 0).select(
          (col("vec_id") + 10000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> x * cast(1.0d + 0.3d * " +
            "sin(cast(vec_id AS DOUBLE) * 13.0d + cast(i AS DOUBLE)) AS FLOAT))")
            .as("embedding")))
      val qv = emb.select(col("vec_id").as("vid"),
        Similarity.quantize(col("embedding")).as("qv"))
        .withColumn("n2", Similarity.norm2Q(col("qv"))).cache()
      val a = qv.alias("a"); val b = qv.alias("b")
      val truthAll = a.join(b, col("a.vid") < col("b.vid"))
        .select(col("a.vid").as("item_a"), col("b.vid").as("item_b"),
          (Similarity.dotQ(col("a.qv"), col("b.qv")) /
            sqrt(col("a.n2") * col("b.n2"))).as("cosd"))
        .filter(col("cosd") >= 0.4).cache()
      truthAll.count()
      def recallAt(planes: Int, tables: Int): Map[Double, Double] = {
        val got = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
          numTables = tables, planesPerTable = planes)
          .select("item_a", "item_b").cache()
        got.count()
        val out = Seq(0.4, 0.7, 0.9).map { t =>
          val tr = truthAll.filter(col("cosd") >= t)
          val n = tr.count()
          val hit = tr.join(got, Seq("item_a", "item_b"), "left_semi").count()
          val pct = hit * 100.0 / math.max(n, 1)
          println(f"embedding near-dup recall@cos>=$t%.1f " +
            f"[$tables tables x $planes planes]: $hit/$n = $pct%.1f%%")
          t -> pct
        }.toMap
        got.unpersist()
        out
      }
      // the two NAMED presets carry asserted recall-floor contracts
      // (Dedup.NearDupPreset scaladoc) — the Probe run is what keeps the
      // documented floors honest against brute-force ground truth
      val strict = Dedup.NearDupPreset.Strict95
      val rStrict = recallAt(strict.planesPerTable, strict.numTables)
      require(rStrict(0.9) >= 70.0,
        f"Strict95 preset recall@cos>=0.9 fell to ${rStrict(0.9)}%.1f%% " +
          "(documented floor 70%)")
      recallAt(6, 8)   // shorter band: recalls the 0.4-0.7 regime
      val broad = Dedup.NearDupPreset.Broad40
      val rBroad = recallAt(broad.planesPerTable, broad.numTables)
      require(rBroad(0.4) >= 40.0,
        f"Broad40 preset recall@cos>=0.4 fell to ${rBroad(0.4)}%.1f%% " +
          "(documented floor 40%)")
      qv.unpersist(); truthAll.unpersist()
    }

    // ---- as-of join skew: one hot key carrying 90% of both sides must
    // spread across time slices — the as-of window partitions by
    // (key, slice), never by key alone, so no single task sorts the hot
    // key's full history
    val asofBase = spark.range(1000000L)
    val hotKey = when(col("id") % 10L === 0L, col("id") % 97L + 1L)
      .otherwise(lit(0L)).as("k")
    val asofL = asofBase.filter(col("id") % 2 === 0)
      .select(hotKey, col("id").as("t"), (col("id") * 3L).as("lv"))
    val asofR = asofBase.filter(col("id") % 2 === 1)
      .select(hotKey, col("id").as("t"), (col("id") + 7L).as("v"))
    val asof = graft.operators.AsofJoin.asofJoin(asofL, asofR, "k", "t", Seq("v"))
    val asofPlan = asof.queryExecution.executedPlan.toString
    require(asofPlan.contains("__tb"),
      "as-of window must partition by (key, time-slice), not key alone")
    println("asof plan: window partitioned by (key, time-slice) (checked)")
    timed("asof join (hot key 90% @1M rows)")(asof.count())

    // ---- near-dup clusters: a 50k-doc STAR (the realistic near-dup shape:
    // one boilerplate template matching many docs) plus a 30-link chain
    // (the adversarial diameter case for label propagation); star rounds
    // stay O(log² n) on both
    val nDocs = 100000L
    val docsIds = spark.range(nDocs).select(col("id").as("doc_id"))
    val star = spark.range(1L, 50000L)
      .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val chain = spark.range(60000L, 60030L)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val cands = star.unionByName(chain)
    timed("nearDupClusters (50k-star + 30-chain @100k docs)") {
      val labels = graft.operators.Dedup.nearDupClusters(docsIds, cands, "doc_id")
      val moved = labels.filter(col("cluster_id") =!= col("doc_id")).count()
      require(moved == 49999L + 31L - 1L, s"wrong cluster sizes: $moved moved")
      moved
    }

    // ---- round-8 operators at 100k docs: the retrieval/classifier/report
    // family must stay keyed-window-only and roughly linear in the corpus
    {
      import graft.operators.{Retrieval, TextAnalysis}
      val bm25 = Retrieval.bm25TopK(big, "text", "doc_id",
        Seq(0 -> Seq("spark", "hash", "merge"),
          1 -> Seq("window", "sort", "batch")), k = 10)
      assertKeyedWindows(bm25, "bm25TopK")
      timed("bm25 retrieval (2 queries @100k docs)")(bm25.count())
      timed("collocations (@100k docs)")(
        TextAnalysis.collocations(big, "text", "doc_id").count())
      timed("naive bayes train+classify (50k/50k split @100k docs)") {
        val train = big.filter(col("doc_id") % 2 === 0)
          .withColumn("lang", TextAnalysis.langId(col("text")))
        val nb = TextAnalysis.naiveBayesClassify(train,
          big.filter(col("doc_id") % 2 === 1), "text", "doc_id", "lang")
        assertKeyedWindows(nb, "naiveBayesClassify")
        nb.count()
      }
      timed("vocab drift (50k vs 50k docs)")(
        TextAnalysis.vocabDrift(big.filter(col("doc_id") % 2 === 1),
          big.filter(col("doc_id") % 2 === 0), "text").count())
      timed("bpe merge candidates (@100k docs)")(
        TextAnalysis.bpeMergeCandidates(big, "text").count())
      timed("bigram LM train+score (50k/50k split @100k docs)") {
        val lm = TextAnalysis.bigramLmScore(big.filter(col("doc_id") % 2 === 0),
          big.filter(col("doc_id") % 2 === 1), "text", "doc_id")
        assertKeyedWindows(lm, "bigramLmScore")
        lm.count()
      }
    }

    // ---- round-8 additions at 100k docs: BPE encode must track |vocab|
    // (the corpus reduces first), snapshot diff must shuffle hashes only,
    // and key skew must resolve through a bounded top-K (no global window)
    {
      import graft.operators.{Snapshot, Stats, TextAnalysis}
      timed("bpe encode (24 merges @100k docs)") {
        val merges = TextAnalysis.bpeMergeCandidates(big, "text", topK = 24)
          .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
        val enc = TextAnalysis.bpeEncode(big, "text", "doc_id", merges)
        assertKeyedWindows(enc, "bpeEncode")
        enc.count()
      }
      timed("snapshot diff (@100k docs, both sides)") {
        val neu = big.withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        Snapshot.diff(big, neu, "doc_id", "text").count()
      }
      timed("key skew (20x events)") {
        val e0 = graft.sources.KafkaLike.events(spark, dir)
        val bigEv = (0 until 20).map(i =>
          e0.select(col("user_id") + lit(i * 1000000L) * (col("user_id") % 2))
            .toDF("user_id"))
          .reduce(_ unionByName _)
        val sk = Stats.keySkew(bigEv, "user_id", topK = 20)
        assertKeyedWindows(sk, "keySkew")
        sk.count()
      }
      // chunking is map-only (no shuffle at all — fan-out ⌈n/stride⌉);
      // stratified split must rank inside the stratum partition; ngram
      // overlap shuffles (id, hash) rows only, cost ∝ paired docs
      timed("chunk docs 64/16 (@100k docs)") {
        val c = TextAnalysis.chunkDocs(big, "text", "doc_id", 64, 16)
        assert(c.queryExecution.executedPlan.toString
          .indexOf("Exchange") < 0, "chunkDocs must not shuffle")
        c.count()
      }
      timed("stratified split (@100k docs)") {
        val sp = graft.operators.Sampling.stratifiedSplit(
          big.select(col("doc_id"),
            TextAnalysis.langId(col("text")).as("lang")),
          "lang", "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        assertKeyedWindows(sp, "stratifiedSplit")
        sp.count()
      }
      timed("ngram overlap (50k pairs @100k docs)") {
        val ids = big.select(col("doc_id"))
        val p = ids.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("cand_id"))
          .join(ids.select(col("doc_id").as("ref_id")),
            col("ref_id") === col("cand_id") + 1)
        TextAnalysis.ngramOverlapScore(big, "text", "doc_id", p, n = 2)
          .count()
      }
      // global quantiles must resolve through the bucketed scan — the
      // only window is KEYED on __bucket, never a single global partition
      timed("global quantiles (@2M events cents)") {
        val e0 = graft.sources.KafkaLike.events(spark, dir)
        val bigEv = (0 until 20).map(i =>
          e0.select((floor(col("value") * 100) + lit(i)).cast("long")
            .as("cents"))).reduce(_ unionByName _)
        val gq = Stats.globalQuantiles(bigEv, "cents", Seq(1, 50, 99))
        assertKeyedWindows(gq, "globalQuantiles")
        gq.count()
      }
      timed("length deciles (7 classes @100k docs)") {
        val nt = Stats.ntileBuckets(
          big.withColumn("n_chars", length(col("text")))
            .withColumn("cls", pmod(col("doc_id"), lit(7L))),
          "cls", "n_chars", "doc_id", 10)
        assertKeyedWindows(nt, "ntileBuckets")
        nt.count()
      }
      timed("diversity report (10 sources @100k docs)") {
        TextAnalysis.diversityReport(
          big.withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(10L)))),
          "text", "doc_id", "source").count()
      }
      timed("char entropy (@100k docs)") {
        TextAnalysis.charEntropy(big, "text", "doc_id").count()
      }
      timed("pagerank (3 iters, ring+hub graph @100k nodes)") {
        // synthetic edges: a 100k-node ring plus a 1000-spoke hub — no
        // text pipeline, isolates the iterate-join-agg core
        val ids = big.select(col("doc_id"))
        val ring = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1L).as("dst"))
        val hub = ids.limit(1000).select(col("doc_id").as("src"),
          lit(0L).as("dst"))
        graft.operators.Graph.pageRankLite(big, "doc_id",
          ring.unionByName(hub), "src", "dst", iterations = 3).count()
      }
      timed("hll distinct (10 sources @100k docs, all token hashes)") {
        graft.operators.Stats.hllDistinct(
          big.withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(10L))))
            .select(col("source"),
              explode(TextAnalysis.tokenHashes(col("text"))).as("h")),
          "source", "h").count()
      }
      timed("count-min sketch + top-20 estimate (@100k docs)") {
        val h = big.select(explode(
          TextAnalysis.tokenHashes(col("text"))).as("h"))
        val probes = TextAnalysis.vocabulary(big, "text", "doc_id", 20)
          .select(col("token"), TextAnalysis.stringHash(col("token")).as("h"))
        graft.operators.Stats.cmsEstimate(
          graft.operators.Stats.countMinSketch(h, "h"), probes, "h").count()
      }
      timed("normalize + hash (@100k docs)") {
        big.select(TextAnalysis.stringHash(
          TextAnalysis.normalizeText(col("text"))).as("nh")).count()
      }
      timed("zipf fit (top-1000 vocab @100k docs)") {
        // the only single-partition window is over the top-K frame (1000
        // rows), bounded by construction
        graft.operators.Stats.zipfFit(
          TextAnalysis.vocabulary(big, "text", "doc_id", 1000), "tf").count()
      }
      timed("kappa + calibration (@100k docs)") {
        val d = big.withColumn("lang",
          concat(lit("l"), pmod(col("doc_id"), lit(4L))))
        graft.operators.Stats.cohenKappa(d.select(
          TextAnalysis.scriptLangId(col("text")).as("p"), col("lang")),
          "p", "lang").count()
        val base = d.select(
          TextAnalysis.tokenCount(col("text")).as("nt"),
          TextAnalysis.stopwordCount(col("text")).as("sw"),
          (col("lang") === "l0").as("y"))
          .withColumn("score_ppm", when(col("nt") === 0, 0L)
            .otherwise(expr("sw * 1000000 DIV nt")))
        graft.operators.Stats.calibrationBins(base, "score_ppm", "y").count()
      }
      timed("bloom build + probe (@100k docs token hashes)") {
        val h = big.select(explode(
          TextAnalysis.tokenHashes(col("text"))).as("h"))
        val bl = graft.operators.Stats.bloomBuild(h, "h")
        graft.operators.Stats.bloomContains(bl,
          h.distinct().limit(5000), "h").count()
      }
      timed("triangles (100k-ring + 1000-clique-ish hub)") {
        val ids = big.select(col("doc_id"))
        val ring = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1L).as("dst"))
        val hub = ids.limit(1000).select(col("doc_id").as("src"),
          lit(0L).as("dst"))
        graft.operators.Graph.triangleCounts(big, "doc_id",
          ring.unionByName(hub), "src", "dst").count()
      }
      timed("mi terms (10 sources @100k docs)") {
        TextAnalysis.miTerms(
          big.withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(10L)))),
          "text", "doc_id", "source", k = 5).count()
      }
      timed("label propagation (2 hops, ring+hub @100k nodes)") {
        val ids = big.select(col("doc_id"))
        val und = ids.select(col("doc_id").as("src"),
          (col("doc_id") + 1L).as("dst"))
        val edges = und.unionByName(
          und.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.Graph.labelPropagate(big, "doc_id", edges,
          "src", "dst",
          big.filter(col("doc_id") % 5 === 0).select(col("doc_id"),
            concat(lit("l"), pmod(col("doc_id"), lit(4L))).as("label")),
          "doc_id", "label", iterations = 2).count()
      }
      timed("funnel + rolling (20x events = 2M)") {
        val e0 = graft.sources.KafkaLike.events(spark, dir)
        val bigEv = (0 until 20).map(i =>
          e0.select((col("user_id") + lit(i * 1000000L)).as("user_id"),
            graft.operators.IntMath.idiv(col("ts"), lit(1000000L))
              .as("ts_ms"),
            col("event_type"), (col("event_id") + lit(i * 10000000L))
              .as("event_id"))).reduce(_ unionByName _)
        graft.streaming.EventTimeOps.funnel(bigEv, "user_id", "ts_ms",
          "event_type", Seq("view", "click", "purchase")).count()
        val roll = graft.streaming.EventTimeOps.rollingAgg(
          bigEv.withColumn("one", lit(1L)), "user_id", "ts_ms", "one",
          3600000L)
        assertKeyedWindows(roll, "rollingAgg")
        roll.count()
        graft.streaming.EventTimeOps.cohortRetention(bigEv, "user_id",
          "ts_ms").count()
        val tm = graft.streaming.EventTimeOps.transitionMatrix(bigEv,
          "user_id", "ts_ms", "event_id", "event_type")
        assertKeyedWindows(tm, "transitionMatrix")
        tm.count()
        graft.streaming.EventTimeOps.decayedCounts(bigEv, "user_id",
          "ts_ms", nowMs = 4102444800000L, halfLifeMs = 604800000L).count()
        graft.operators.Stats.chiSquare(
          bigEv.select(col("event_type").as("et"),
            pmod(col("user_id"), lit(2L)).as("grp")), "et", "grp").count()
      }
      timed("group budget select (10 sources @100k docs)") {
        val gb = graft.operators.Packing.groupBudgetSelect(
          big.withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(10L))))
            .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
            .withColumn("score", pmod(col("doc_id"), lit(100L))),
          "source", "score", "doc_id", "n_tokens", budgetTokens = 500000L)
        assertKeyedWindows(gb, "groupBudgetSelect")
        gb.count()
      }
    }

    // ---- embedding family at 10× (sf0.1 → 50k vectors with distinct ids):
    // PQ encode is map-only, semantic dedup's pair scan is bounded by
    // cluster occupancy (more cells at bigger corpora — here 32)
    {
      import graft.operators.{Dedup, Pq, Similarity}
      val e0 = spark.read.parquet(s"$dir/embeddings.parquet")
      val bigE = (0 until 10).map(i =>
        e0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding"), col("label")))
        .reduce(_ unionByName _).cache()
      println(s"embeddings: ${bigE.count()} vectors")
      val cb = Pq.trainCodebooks(bigE, "vec_id", "embedding", 8, 16, 3)
      timed("pq encode (@10x embeddings)")(
        Pq.encode(bigE, "vec_id", "embedding", cb, 8).count())
      timed("random project k=16 (@10x embeddings)")(
        Similarity.randomProject(bigE, "vec_id", "embedding", 16).count())
      timed("semantic dedup (32 cells @10x embeddings)") {
        val out = Dedup.semanticDedup(bigE, "vec_id", "embedding",
          nCells = 32, iters = 2)
        out.count()
      }
      timed("prototype classify (@10x embeddings)")(
        Similarity.prototypeClassify(bigE.filter(col("vec_id") % 7 =!= 0L),
          bigE.filter(col("vec_id") % 7 === 0L),
          "vec_id", "embedding", "label").count())
      timed("class centroid distances (@10x embeddings)")(
        Similarity.classCentroidDistances(bigE, "vec_id", "embedding",
          "label").count())
      bigE.unpersist()
    }

    // ---- round-7 additions: event ops at 20× (2M events), text/graph at
    // 100k docs, fuzzy linkage at full sf0.1 part (20k rows) ----
    {
      import graft.operators.{Dedup, Graph, Linkage, Sampling, Stats}
      val e0 = graft.sources.KafkaLike.events(spark, dir)
      val bigEv = (0 until 20).map(i =>
        e0.select((col("user_id") + lit(i * 1000000L)).as("user_id"),
          graft.operators.IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
          col("event_type"),
          (col("event_id") + lit(i * 10000000L)).as("event_id"),
          floor(col("value") * 100).cast(
            org.apache.spark.sql.types.LongType).as("cents")))
        .reduce(_ unionByName _).cache()
      println(s"events20x: ${bigEv.count()} events")
      timed("status intervals (@2M events)") {
        val si = graft.streaming.EventTimeOps.statusIntervals(bigEv,
          "user_id", "ts_ms", "event_id", "event_type")
        assertKeyedWindows(si, "statusIntervals")
        si.count()
      }
      timed("interarrival stats (@2M events)") {
        val ia = graft.streaming.EventTimeOps.interarrivalStats(bigEv,
          "user_id", "ts_ms", "event_id", "event_type")
        assertKeyedWindows(ia, "interarrivalStats")
        ia.count()
      }
      timed("gapfill hourly (@2M events, 30k keys)") {
        val gf = graft.streaming.EventTimeOps.gapfillForwardFill(bigEv,
          "user_id", "ts_ms", "event_id", "cents", stepMs = 3600000L)
        assertKeyedWindows(gf, "gapfillForwardFill")
        gf.count()
      }
      timed("user features (@2M events)")(
        graft.streaming.EventTimeOps.userActivityFeatures(bigEv,
          "user_id", "ts_ms", "event_type", "cents",
          Seq("view", "click", "purchase", "signup", "error")).count())
      timed("mad outlier report (@2M events)")(
        Stats.madOutlierReport(bigEv.select(col("event_type"),
          col("cents")), "event_type", "cents").count())
      timed("log-hist quantiles (@2M events; <=64-row sketch)")(
        Stats.logHistQuantiles(bigEv.select(col("cents")), "cents",
          Seq(50, 90, 99)).count())
      bigEv.unpersist()

      val bigPart = spark.read.parquet(s"$dir/part.parquet")
      // broadcast regime: probe-side repartition carries the parallelism
      // (the first cut ran the whole verify in one task — 23.5 s); the
      // salted triangular path is the over-broadcast fallback, timed here
      // to pin that it stays in the same range, not a cliff
      timed("blocked fuzzy pairs (sf0.1 part, plain+repartition)")(
        Linkage.blockedFuzzyPairs(bigPart, "p_partkey", "p_name",
          substring_index(col("p_name"), " ", 1), maxDist = 3).count())
      timed("blocked fuzzy pairs SALTED s=16 (sf0.1 part)")(
        Linkage.blockedFuzzyPairs(bigPart, "p_partkey", "p_name",
          substring_index(col("p_name"), " ", 1), maxDist = 3,
          saltBuckets = 16).count())

      // natural corpus: Manku exact pairs; the 20x-replicated corpus is
      // DUP-DENSE (every text has 20 byte-identical copies) — uncapped
      // output is legitimately quadratic there (measured 194M pairs), so
      // that shape runs with the bucket cap's star contract
      timed("simhash hamming pairs (sf0.1 natural 5k docs, uncapped)")(
        Dedup.simhashPairs(base.select("doc_id", "text"), "text", "doc_id",
          maxHamming = 2).count())
      timed("simhash hamming pairs CAPPED 64 (@100k dup-dense docs)")(
        Dedup.simhashPairs(big, "text", "doc_id", maxHamming = 2,
          maxBucketSize = 64).count())
      // sketch scoring must stay a broadcast equality join on the target
      // side — a shuffled join here would defeat the ship-the-sketch story
      locally {
        val ev2 = graft.sources.KafkaLike.events(spark, dir)
          .select(col("event_id"),
            floor(col("value") * 100).cast(
              org.apache.spark.sql.types.LongType).as("cents"))
        val scored = Stats.logHistPercentileScore(ev2, "cents", ev2, "cents")
        val phys = scored.queryExecution.executedPlan.toString
        require(phys.contains("BroadcastHashJoin"),
          "logHistPercentileScore target join must broadcast the dense sketch")
        timed("sketch percentile score (sf0.1 events)")(scored.count())
      }
      val pr = Stats.percentileRank(
        big.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(8L))))
          .withColumn("n", length(col("text"))),
        "source", "n", "doc_id")
      assertKeyedWindows(pr, "percentileRank")
      timed("percentile rank (@100k docs, 8 sources)")(pr.count())
      locally {
        val cands = Dedup.minhashCandidates(Dedup.minhashBands(
          Dedup.minhashSignatures(big, "text", "doc_id")), maxBucketSize = 64)
        timed("degree histogram (@100k docs candidate graph)")(
          Graph.degreeHistogram(big, "doc_id", cands, "doc_a", "doc_b")
            .count())
        timed("k-core 2 rounds (@100k docs candidate graph)")(
          Graph.kcoreSurvivors(big, "doc_id", cands, "doc_a", "doc_b",
            k = 2, rounds = 2).count())
        val assign = Sampling.stratifiedSplit(
          big.withColumn("source",
            concat(lit("s"), pmod(col("doc_id"), lit(8L))))
            .select(col("doc_id"), col("source")),
          "source", "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        timed("split leakage (@100k docs)")(
          Dedup.splitLeakagePairs(cands,
            assign.select(col("doc_id"), col("split")),
            "doc_id", "split").count())
      }
    }

    // ---- round-7 continuation operators: every window keyed, binning
    // map-only, co-occurrence capped on a degenerate group ----
    locally {
      import graft.operators.{Dedup, Graph, Stats}
      val ev = graft.sources.KafkaLike.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.operators.IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
          floor(col("value") * 100).cast(
            org.apache.spark.sql.types.LongType).as("cents"))
      val auc = Stats.rocAucReport(ev, "event_type", "cents")
      assertKeyedWindows(auc, "rocAucReport") // windows keyed on __bucket
      timed("roc auc (sf0.1 events)")(auc.count())
      val ks = Stats.ksStatistic(ev, "event_type", "cents",
        "purchase", "view")
      assertKeyedWindows(ks, "ksStatistic")
      timed("ks statistic (sf0.1 events)")(ks.count())
      val cu = graft.streaming.EventTimeOps.cusumReport(ev,
        "user_id", "ts_ms", "event_id", "cents")
      assertKeyedWindows(cu, "cusumReport")
      timed("cusum report (sf0.1 events)")(cu.count())
      val be = graft.streaming.EventTimeOps.behaviorEntropy(ev,
        "user_id", "ts_ms", "event_id", "event_type")
      assertKeyedWindows(be, "behaviorEntropy")
      timed("behavior entropy (sf0.1 events)")(be.count())
      val bins = Stats.binTargetRates(ev, "cents", "event_type",
        "purchase", nBins = 10)
      // binning itself must be MAP-ONLY: boundary comparisons are literals,
      // so the plan may contain NO window operator at all
      require(bins.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "binTargetRates binning must not introduce a window")
      timed("target-rate bins (sf0.1 events)")(bins.count())
      timed("trailing 7d distinct (sf0.1 events)")(
        Stats.hllTrailingDistinct(
          ev.select(graft.operators.IntMath.idiv(col("ts_ms"),
            lit(86400000L)).as("day"), col("user_id").as("h")),
          "day", "h", windowDays = 7).count())
      timed("feature stats (sf0.1 lineitem ×3 features)")(
        Stats.featureStats(
          spark.read.parquet(s"$dir/lineitem.parquet").select(
            col("l_quantity").cast(
              org.apache.spark.sql.types.LongType).as("qty"),
            floor(col("l_extendedprice")).cast(
              org.apache.spark.sql.types.LongType).as("price_usd"),
            floor(col("l_discount") * 1000).cast(
              org.apache.spark.sql.types.LongType).as("disc_pmil")),
          Seq("qty", "price_usd", "disc_pmil")).count())
      // degenerate co-occurrence: ONE group holding 10k items would emit
      // ~50M pairs uncapped; the cap drops it entirely (no signal), so the
      // pair count collapses to the healthy groups' volume
      val degG = spark.range(0, 10000)
        .select(lit(0L).as("g"), col("id").as("it"))
        .unionByName(spark.range(0, 3000).select(
          (col("id") % 1000L + 1L).as("g"), (col("id") % 7L).as("it")))
      timed("co-occurrence w/ degenerate group (capped)")(
        Graph.cooccurrencePairs(degG, "g", "it", maxGroupSize = 64,
          minSupport = 1L).count())
      timed("dedup savings (sf0.1 documents)")(
        Dedup.savingsReport(spark.read.parquet(s"$dir/documents.parquet"),
          "text", "doc_id", "source").count())
      // globalRank / qqCompare ride the two-stage bucketed scan — their
      // windows must be keyed on the bucket, never global
      val gr = Stats.globalRank(ev.select(col("event_id"), col("cents")),
        "cents", "event_id")
      assertKeyedWindows(gr, "globalRank")
      timed("global rank (sf0.1 events)")(gr.count())
      val qq = Stats.qqCompare(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"), "cents",
        Seq(10, 25, 50, 75, 90))
      assertKeyedWindows(qq, "qqCompare")
      timed("qq compare (sf0.1 events)")(qq.count())
      // bloom-pruned join: identical result to the plain join, and the
      // broadcast filter actually prunes on a selective right side
      locally {
        val o = spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey").as("custkey"))
        val c = spark.read.parquet(s"$dir/customer.parquet")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey"), col("c_nationkey"))
        val pruned = Stats.bloomPrunedJoin(o, c, "custkey")
        val plain = o.join(c, "custkey")
        val (np, npl) = (pruned.count(), plain.count())
        require(np == npl,
          s"bloomPrunedJoin result differs from plain join: $np vs $npl")
        println(s"bloom-pruned join (sf0.1 orders⋈BUILDING): $np rows, " +
          "result identical to plain join")
      }
      timed("gain table (sf0.1 events)")(
        Stats.gainTable(ev.select(col("event_id"), col("cents"),
          (col("event_type") === "purchase").as("conv")),
          "cents", "event_id", "conv").count())

      // ---- round-7 continuation ops: plan hygiene + timings ----
      val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      // APSS: the prefix filter must cut the inverted-index candidate
      // volume vs joining on EVERY token (same DF cap both sides), while
      // the result stays exact (losslessness is spec-pinned; here we pin
      // the efficiency claim that justifies the prefix machinery)
      locally {
        val apss = Dedup.allPairsCosine(docsDf, "text", "doc_id",
          minCosinePermille = 700, maxShingleDF = 100)
        timed("all-pairs cosine t=0.7 (sf0.1 documents)")(apss.count())
      }
      timed("novelty score (sf0.1 docs, odd vs even)")(
        Dedup.noveltyScore(
          docsDf.filter(pmod(col("doc_id"), lit(2L)) === 1L),
          docsDf.filter(pmod(col("doc_id"), lit(2L)) === 0L),
          "text", "doc_id").count())
      val wq = Stats.weightedGlobalQuantiles(
        docsDf.select(col("n_chars"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("w"))
          .filter(col("w") > 0), "n_chars", "w", Seq(50, 90, 99))
      assertKeyedWindows(wq, "weightedGlobalQuantiles")
      timed("weighted quantiles (sf0.1 docs)")(wq.count())
      val rs = Stats.rankSumTest(ev.select(col("event_type"), col("cents")),
        "event_type", "cents")
      assertKeyedWindows(rs, "rankSumTest")
      timed("rank-sum test (sf0.1 events)")(rs.count())
      val sp2 = Stats.spearmanReport(
        ev.select(col("cents"), col("event_id")), "cents", "event_id")
      assertKeyedWindows(sp2, "spearmanReport")
      timed("spearman moments (sf0.1 events)")(sp2.count())
      val ap = Stats.averagePrecisionReport(
        ev.select(col("event_type"), col("cents")), "event_type", "cents")
      assertKeyedWindows(ap, "averagePrecisionReport")
      timed("average precision (sf0.1 events)")(ap.count())
      val gi = Stats.giniReport(
        spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderpriority").as("cls"),
            floor(col("o_totalprice")).cast(
              org.apache.spark.sql.types.LongType).as("x")), "cls", "x")
      assertKeyedWindows(gi, "giniReport")
      timed("gini report (sf0.1 orders)")(gi.count())
      timed("journey paths (sf0.1 events)")(
        graft.streaming.EventTimeOps.journeyPaths(
          graft.sources.KafkaLike.events(spark, dir),
          "user_id", "ts", "event_id", "event_type").count())
    }

    // ---- round-7 audit/layout ops: windows keyed (pareto's suffix pass
    // on the bucket, lateness on the user key, quantile-normalize on the
    // cum grid), woe binning map-only, pareto grid-prune survivors tiny ----
    locally {
      import graft.operators.{Layout, Stats}
      val ev = graft.sources.KafkaLike.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.operators.IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
          floor(col("value") * 100).cast(
            org.apache.spark.sql.types.LongType).as("cents"))
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val woe = Stats.woeIvReport(ev, "cents", "event_type", "purchase")
      require(woe.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "woeIvReport binning must not introduce a window")
      timed("woe/iv (sf0.1 events)")(woe.count())
      val tr = Stats.groupedTrend(li.select(col("l_suppkey"),
        graft.operators.IntMath.idiv(unix_millis(col("l_shipdate").cast(
          org.apache.spark.sql.types.TimestampType)), lit(86400000L))
          .as("day"), col("l_quantity")), "l_suppkey", "day", "l_quantity")
      assertKeyedWindows(tr, "groupedTrend")
      timed("grouped trend (sf0.1 lineitem)")(tr.count())
      timed("lag autocorr (sf0.1 events)")(
        Stats.lagAutocorr(ev.select(col("ts_ms").as("ms")), "ms").count())
      // pareto: per-user frame, grid prune must leave a survivor set near
      // the frontier size (the exact pass then touches almost nothing)
      val users = ev.groupBy("user_id")
        .agg(count(lit(1)).as("x"), sum("cents").as("y"))
      val pf = Stats.paretoFrontier(users, "x", "y")
      assertKeyedWindows(pf, "paretoFrontier")
      timed("pareto frontier (sf0.1 users)")(pf.count())
      require(pf.count() >= 1, "frontier cannot be empty on nonempty input")
      val qn = Stats.quantileNormalize(
        spark.read.parquet(s"$dir/customer.parquet")
          .select(floor(col("c_acctbal") * 100).cast(
            org.apache.spark.sql.types.LongType).as("v")),
        spark.read.parquet(s"$dir/orders.parquet")
          .select(floor(col("o_totalprice") * 100).cast(
            org.apache.spark.sql.types.LongType).as("v")), "v")
      assertKeyedWindows(qn, "quantileNormalize")
      timed("quantile normalize (sf0.1 acctbal→price)")(qn.count())
      val la = graft.streaming.EventTimeOps.latenessAudit(
        ev.select(col("user_id"),
          ((col("event_id") + (col("event_id") % 10L) * 5L) * 100000L +
            col("event_id")).as("arr"), col("ts_ms")),
        "user_id", "arr", "ts_ms", Seq(0L, 60000L, 3600000L))
      assertKeyedWindows(la, "latenessAudit")
      timed("lateness audit (sf0.1 events)")(la.count())
      timed("zorder layout (sf0.1 lineitem)")(
        Layout.zOrderLayout(li, "l_partkey", "l_suppkey").count())
      timed("pearson moments (sf0.1 lineitem ×4)")(
        Stats.pearsonMatrix(li.select(
          col("l_quantity").cast(
            org.apache.spark.sql.types.LongType).as("qty"),
          floor(col("l_discount") * 100).cast(
            org.apache.spark.sql.types.LongType).as("disc"),
          floor(col("l_tax") * 100).cast(
            org.apache.spark.sql.types.LongType).as("tax"),
          floor(col("l_extendedprice") / 1000).cast(
            org.apache.spark.sql.types.LongType).as("price_k")),
          Seq("qty", "disc", "tax", "price_k")).count())
      timed("k-anonymity (sf0.1 customer)")(
        Stats.kAnonymityAudit(
          spark.read.parquet(s"$dir/customer.parquet")
            .withColumn("acct_c", floor(col("c_acctbal") * 100).cast(
              org.apache.spark.sql.types.LongType)),
          Seq("c_nationkey", "c_mktsegment"), "acct_c",
          Seq(2, 5, 10, 25)).count())
      // quality/layout batch 2: rule audit is one agg pass (no window, no
      // join), rate-limit ranking keyed, bitmap AND equals the row truth
      import graft.operators.Quality
      val ra = Quality.ruleAudit(li, Seq(
        "qty_le_25" -> (col("l_quantity") <= 25),
        "price_pos" -> (col("l_extendedprice") > 0)))
      require(ra.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, "ruleAudit must stay a single aggregate pass")
      timed("rule audit ×2 (sf0.1 lineitem)")(ra.count())
      val rl = graft.streaming.EventTimeOps.rateLimitAudit(
        ev.select(col("event_type"), col("event_id"), col("ts_ms")),
        "event_type", "ts_ms", "event_id", limit = 10,
        windowMs = 86400000L)
      assertKeyedWindows(rl, "rateLimitAudit")
      timed("rate-limit audit (sf0.1 events)")(rl.count())
      timed("agg-state build+merge+finalize (sf0.1 events)")(
        Quality.aggStateFinalize(Quality.aggStateMerge(
          Quality.aggStateBuild(ev.filter(col("event_id") % 2 === 0),
            "user_id", "cents"),
          Quality.aggStateBuild(ev.filter(col("event_id") % 2 === 1),
            "user_id", "cents"))).count())
      timed("consensus report (sf0.1 lineitem)")(
        Quality.consensusReport(li, "l_orderkey", "l_linenumber",
          "l_returnflag").count())
      val bmEv = ev.select(col("event_id"), col("event_type"),
        graft.operators.IntMath.idiv(col("cents"), lit(10000L)).as("vb"))
      val bmCounts = Layout.bitmapAndCounts(
        Layout.bitmapIndex(bmEv, "event_id", "event_type"),
        Layout.bitmapIndex(bmEv, "event_id", "vb"))
      timed("bitmap AND counts (sf0.1 events)")(bmCounts.count())
      locally {
        val viaRows = bmEv.groupBy("event_type", "vb").count().count()
        require(bmCounts.count() == viaRows,
          "bitmap AND combos must equal direct group-by combos")
      }
      timed("sort-key advisor ×2 (sf0.1 lineitem)")(
        Layout.sortKeyAdvisor(li, Seq("l_partkey", "l_suppkey"),
          "l_suppkey").count())
      // the TPC-H join shapes must actually broadcast their dims — a
      // shuffled sort-merge join against a 25-row nation table at 100 TB
      // is the classic planning failure this pins against
      def countBroadcasts(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.toString
          .split("BroadcastHashJoin").length - 1
      val q3 = graft.SparkEntry.queries("q233_tpch_q3")(spark, dir)
      require(countBroadcasts(q3) >= 1,
        "q233 must broadcast the filtered customer side")
      timed("tpch q3 shape (sf0.1)")(q3.count())
      val q5 = graft.SparkEntry.queries("q234_tpch_q5")(spark, dir)
      require(countBroadcasts(q5) >= 3,
        "q234 must broadcast supplier/nation/region")
      timed("tpch q5 shape (sf0.1)")(q5.count())
      timed("cms join-size estimate (sf0.1 events⋈orders)")(
        Stats.cmsJoinSizeEstimate(ev.select(col("user_id").as("h")),
          spark.read.parquet(s"$dir/orders.parquet")
            .select(col("o_custkey").as("h")), "h").count())
      timed("noisy counts (sf0.1 events)")(
        graft.operators.Quality.noisyCounts(ev, "event_type").count())
      // KMV at sf0.1: estimate within 15% of the exact distinct — the
      // mix31 uniformizer is what makes the k-th minimum honest
      locally {
        val viewers = ev.filter(col("event_type") === "view")
          .select(Stats.mix31r(col("user_id"), rounds = 3).as("h"))
        val est = Stats.kmvOverlapReport(
          Stats.kmvSketch(viewers, "h", 128),
          Stats.kmvSketch(viewers, "h", 128), 128).head().getLong(0)
        val exact = ev.filter(col("event_type") === "view")
          .select("user_id").distinct().count()
        require(math.abs(est - exact) * 100 <= exact * 15,
          s"KMV estimate $est vs exact $exact drifted past 15%")
        println(s"kmv estimate (sf0.1 viewers): est $est vs exact $exact")
      }
      val dDf = spark.read.parquet(s"$dir/documents.parquet")
      timed("theil-sen trend ×5 groups (sf0.1 events daily)")(
        Stats.theilSenTrend(
          ev.groupBy(col("event_type").as("grp"),
            graft.operators.IntMath.idiv(col("ts_ms"), lit(86400000L))
              .as("day")).agg(count(lit(1)).as("y")),
          "grp", "day", "y").count())
      timed("trimmed means (sf0.1 events)")(
        Stats.trimmedMeanReport(ev, "event_type", "cents").count())
      timed("feature-hash report (sf0.1 lineitem ×4 cols)")(
        Stats.featureHashReport(li,
          Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_partkey"))
          .count())
      timed("range checksums (sf0.1 orders vs mutated)")(
        graft.SparkEntry.queries("q245_range_diff")(spark, dir).count())
      timed("percolate ×4 queries (sf0.1 documents)")(
        graft.operators.Retrieval.percolate(dDf, "text", "doc_id",
          Seq(1 -> Seq("join", "hash"), 2 -> Seq("vector", "scan", "table"),
            3 -> Seq("zzz_nomatch"), 4 -> Seq("merge"))).count())
      timed("encoding advisor (sf0.1 documents)")(
        Layout.encodingAdvisor(dDf,
          Seq("doc_id", "lang", "source", "text")).count())
      // TPC-H Q13/Q18/Q22 shapes: outer-join aggregation must stay
      // left-outer (zero-order customers appear), Q18/Q22 broadcast
      val q13 = graft.SparkEntry.queries("q246_tpch_q13")(spark, dir)
      require(q13.filter(col("n_orders") === 0L).count() >= 0L, "q13 runs")
      timed("tpch q13 shape (sf0.1)")(q13.count())
      val q18 = graft.SparkEntry.queries("q247_tpch_q18")(spark, dir)
      require(countBroadcasts(q18) >= 1, "q247 must broadcast customers")
      timed("tpch q18 shape (sf0.1)")(q18.count())
      val q22 = graft.SparkEntry.queries("q248_tpch_q22")(spark, dir)
      require(countBroadcasts(q22) >= 1, "q248 must broadcast the average")
      timed("tpch q22 shape (sf0.1)")(q22.count())
      timed("pivot daily (sf0.1)")(
        graft.SparkEntry.queries("q249_pivot_daily")(spark, dir).count())
      timed("partition completeness (sf0.1)")(
        graft.SparkEntry.queries("q250_partition_completeness")(spark, dir)
          .count())
      // pruning report must show the textbook trade at sf0.1 too: each
      // lexicographic layout full-scans the other dim's band predicate,
      // z-order touches a strict subset on BOTH band predicates
      locally {
        val pr = graft.SparkEntry.queries("q251_pruning_report")(spark, dir)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            r.getLong(3)).toMap
        val total = 16L
        require(pr(("sort_x", "p_supp_band")) == total &&
          pr(("sort_y", "p_part_band")) == total,
          "lexicographic layouts must full-scan the other dimension")
        require(pr(("zorder", "p_part_band")) < total &&
          pr(("zorder", "p_supp_band")) < total,
          "z-order must prune on BOTH single-dim band predicates")
        println(s"pruning report (sf0.1): zorder touches " +
          s"${pr(("zorder", "p_part_band"))}/$total and " +
          s"${pr(("zorder", "p_supp_band"))}/$total vs 16/16 lex cross-dim")
      }
      timed("share of total (sf0.1)")(
        graft.SparkEntry.queries("q252_share_of_total")(spark, dir).count())
      // TPC-H batch 2 plan contracts: Q4 stays a semi join (no row
      // multiplication), Q6's predicates reach the parquet scan, Q19's
      // disjunction keeps one broadcast join, Q21 ends in two keyed aggs
      locally {
        val q4 = graft.SparkEntry.queries("q253_tpch_q4")(spark, dir)
        require(q4.queryExecution.executedPlan.toString.contains("LeftSemi"),
          "q253 must plan a left-semi join for EXISTS")
        timed("tpch q4 shape (sf0.1)")(q4.count())
        val q6 = graft.SparkEntry.queries("q254_tpch_q6")(spark, dir)
        val q6scan = q6.queryExecution.executedPlan.toString
        require(q6scan.contains("PushedFilters:") &&
          q6scan.contains("IsNotNull(l_shipdate)"),
          "q254 predicates must reach the parquet scan")
        timed("tpch q6 shape (sf0.1)")(q6.count())
        timed("tpch q7 shape (sf0.1)")(
          graft.SparkEntry.queries("q255_tpch_q7")(spark, dir).count())
        timed("tpch q8 shape (sf0.1)")(
          graft.SparkEntry.queries("q256_tpch_q8")(spark, dir).count())
        timed("tpch q9 shape (sf0.1)")(
          graft.SparkEntry.queries("q257_tpch_q9")(spark, dir).count())
        timed("tpch q10 shape (sf0.1)")(
          graft.SparkEntry.queries("q258_tpch_q10")(spark, dir).count())
        timed("tpch q12 shape (sf0.1)")(
          graft.SparkEntry.queries("q259_tpch_q12")(spark, dir).count())
        timed("tpch q14 shape (sf0.1)")(
          graft.SparkEntry.queries("q260_tpch_q14")(spark, dir).count())
        timed("tpch q15 shape (sf0.1)")(
          graft.SparkEntry.queries("q261_tpch_q15")(spark, dir).count())
        timed("tpch q17 shape (sf0.1)")(
          graft.SparkEntry.queries("q262_tpch_q17")(spark, dir).count())
        val q19 = graft.SparkEntry.queries("q263_tpch_q19")(spark, dir)
        require(countBroadcasts(q19) >= 1,
          "q263 must broadcast the 3-brand part dim")
        timed("tpch q19 shape (sf0.1)")(q19.count())
        timed("tpch q21 shape (sf0.1)")(
          graft.SparkEntry.queries("q264_tpch_q21")(spark, dir).count())
        timed("salted join (sf0.1)")(
          graft.SparkEntry.queries("q265_salted_join")(spark, dir).count())
        timed("compaction plan (sf0.1)")(
          graft.SparkEntry.queries("q266_compaction_plan")(spark, dir)
            .count())
        timed("join advisor (sf0.1)")(
          graft.SparkEntry.queries("q267_join_advisor")(spark, dir).count())
        timed("margin mine (sf0.1 embeddings)")(
          graft.SparkEntry.queries("q268_margin_mine")(spark, dir).count())
        timed("wav pcm roundtrip (sf0.1 events)")(
          graft.SparkEntry.queries("q269_wav_roundtrip")(spark, dir).count())
        timed("bmp roundtrip (sf0.1 events)")(
          graft.SparkEntry.queries("q270_bmp_roundtrip")(spark, dir).count())
        timed("bmp resize 2x (sf0.1 events)")(
          graft.SparkEntry.queries("q271_bmp_resize")(spark, dir).count())
        timed("wav frame energy (sf0.1 events)")(
          graft.SparkEntry.queries("q272_wav_frames")(spark, dir).count())
        timed("grouping sets (sf0.1 events)")(
          graft.SparkEntry.queries("q273_grouping_sets")(spark, dir).count())
        timed("avi mux/demux roundtrip (sf0.1 events)")(
          graft.SparkEntry.queries("q274_avi_roundtrip")(spark, dir).count())
        timed("media curation report (sf0.1 events)")(
          graft.SparkEntry.queries("q275_media_curation")(spark, dir)
            .count())
      }
      // bucketed co-located join: two tables bucketed 32-way on the join
      // key must join with NO shuffle exchange on either side — the
      // write-once/join-free-forever layout contract (AQE off for a
      // deterministic plan string; broadcast off so the join is the SMJ
      // the bucketing serves)
      locally {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          Layout.bucketedMirror(spark.read.parquet(s"$dir/lineitem.parquet")
            .select("l_orderkey", "l_quantity"),
            "probe_li_b32", "l_orderkey", 32)
          Layout.bucketedMirror(spark.read.parquet(s"$dir/orders.parquet")
            .select("o_orderkey", "o_totalprice"),
            "probe_ord_b32", "o_orderkey", 32)
          val j = spark.table("probe_li_b32")
            .join(spark.table("probe_ord_b32"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderkey").count()
          val plan = j.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"bucketed join must not shuffle:\n$plan")
          timed("bucketed co-located join (sf0.1, no exchange)")(j.count())
        } finally {
          spark.conf.set("spark.sql.adaptive.enabled", "true")
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
          spark.sql("DROP TABLE IF EXISTS probe_li_b32")
          spark.sql("DROP TABLE IF EXISTS probe_ord_b32")
        }
      }
      // AQE skew-join split: a hot-key SMJ under low skew thresholds must
      // show skew=true in the adaptive plan — the engine-native
      // counterpart to SkewJoin.saltedJoin (which works where AQE cannot
      // see, e.g. non-SMJ shapes or pre-planned exchanges)
      locally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "64KB")
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        // the keyed aggregate above the join requires the join's hash
        // distribution, which makes AQE skip the split by default (it
        // would re-shuffle for the parent); force documents the trade
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        try {
          import spark.implicits._
          val fact = spark.range(2000000)
            .select(when(col("id") % 10L < 8L, 7L).otherwise(col("id"))
              .as("fk"), col("id").as("v"))
          val dim = spark.range(200000)
            .select(col("id").as("dk"), (col("id") * 3L).as("attr"))
          val j = fact.join(dim, col("fk") === col("dk"))
            .groupBy("fk").agg(count(lit(1)).as("n"))
          // drive j's OWN QueryExecution (count() would plan a separate
          // query and leave j's adaptive plan unfinalized, skew unmarked)
          timed("AQE skew-join split (2M hot-key rows)")(
            j.collect().length.toLong)
          val plan = j.queryExecution.executedPlan.toString
          require(plan.contains("skew=true"),
            "AQE must split the skewed partition (skew=true missing):\n" +
              plan.take(2000))
        } finally {
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
          spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
          spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
          spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
          spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
        }
      }
    }

    // ---- round-7 media dedup + dimension ops: plan shape at scale ----
    {
      val ev = graft.sources.KafkaLike.events(spark, dir)
      val e = ev.select(col("user_id"), col("event_type"),
        graft.operators.IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
        col("event_id"))
      val dim = graft.operators.Snapshot.scd2(e.filter(col("ts_ms") <
        1705363200000L), "user_id", "event_type", "ts_ms", "event_id")
      val merged = graft.operators.Snapshot.scd2Merge(dim,
        e.filter(col("ts_ms") >= 1705363200000L),
        "user_id", "event_type", "ts_ms", "event_id")
      assertKeyedWindows(dim, "scd2")
      assertKeyedWindows(merged, "scd2Merge")
      timed("scd2 incremental merge (sf0.1 events)")(merged.count())

      // the phash band join must stay an equi-join on (band_id, band_val)
      // — a BNLJ/cartesian here would be corpus² regardless of banding
      val id = col("event_id")
      val base = id % 97L
      val imgs = ev.filter(id % 53L === 0L).select(id)
        .withColumn("payload", graft.multimodal.Multimodal.bmpEncode(
          lit(16L), transform(sequence(lit(0L), lit(255L)),
            i => (lit(8L) + (base * 37L + i * 11L) % 240L +
              (id * 3L + i) % 2L) * 65793L)))
      val pairs = graft.multimodal.MediaDedup.phashCandidatePairs(
        imgs, "event_id", "payload", lit(2))
      val pplan = pairs.queryExecution.executedPlan.toString
      require(!pplan.contains("BroadcastNestedLoopJoin") &&
        !pplan.contains("CartesianProduct"),
        "phash band join degenerated to a non-equi join:\n" +
          pplan.take(2000))
      timed("phash band candidate pairs (sf0.1/53 images)")(pairs.count())
    }

    // ---- q78 / sink dedup=near banding: the tokenize→shingle→minhash→band
    // chain must be ONE native codegen'd expression in the optimized plan.
    // Round 8 composed it from higher-order array lambdas and the q78 bench
    // row cost 27 s against 0.8 s for its bit-identical batch twin q25
    // (interpreted per-element lambda evaluation); the native
    // MinhashBandsExpr rewrite measured 0.52 s. A lambdafunction or a second
    // banding call reappearing here means the regression is back.
    {
      val q78 = graft.SparkEntry.queries("q78_stream_banding")(spark, dir)
      val plan = q78.queryExecution.optimizedPlan.toString
      val occ = "graft_minhash_bands".r.findAllIn(plan).size
      require(occ == 1,
        s"q78 must band via ONE native graft_minhash_bands call, got $occ:\n" +
          plan.take(2000))
      require(!plan.contains("lambdafunction"),
        "q78 plan regressed to interpreted HOF lambdas:\n" + plan.take(2000))
      timed("q78 native stream banding (sf0.1)")(q78.count())
      println("q78 plan: single native banding expression (checked)")
    }

    // ---- long-video signature probe (VERDICT r9 #1/#7): videoSignature
    // must grow ~LINEARLY in container bytes. The r9 composed form
    // re-parsed the whole container per frame (O(frames × bytes) — a
    // straggler shape for long videos at 100×); the native
    // AviSignatureExpr is one scan. The earlier fixtures were all ≤3-frame
    // clips, so a per-frame-demux regression had no sentinel — this probe
    // times ≥64-frame containers and pins both the plan shape (single
    // native signature call, no per-frame demux) and the growth ratio.
    {
      val ev = graft.sources.KafkaLike.events(spark, dir)
      def sig(nf: Int) = ev.filter(col("event_id") % 47L === 0L)
        .select(col("event_id").as("id"))
        .withColumn("avi", graft.multimodal.Multimodal.synthClip(
          lit(16L), lit(nf), col("id") % 31L, col("id")))
        .select(graft.multimodal.MediaDedup
          .videoSignature(col("avi"), lit(2)).as("sig"))
      val plan = sig(64).queryExecution.optimizedPlan.toString
      require(plan.contains("graft_avi_signature") &&
        !plan.contains("graft_avi_frame"),
        "videoSignature must be the single-scan native expression, not " +
          "per-frame demux:\n" + plan.take(2000))
      def t(nf: Int): Double = {
        val t0 = System.nanoTime()
        sig(nf).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      t(64) // codegen/JIT warm
      val t64 = t(64)
      val t256 = t(256)
      println(f"long-video signature (~2.1k clips): 64f $t64%.2f s, " +
        f"256f $t256%.2f s (4x container bytes)")
      // 4× bytes ⇒ ~4× work; 3× noise slack + an absolute floor so a
      // sub-second baseline doesn't flake the gate under sandbox load.
      // The composed per-frame form measured ~16× here (frames× growth).
      require(t256 <= math.max(t64 * 12, 5.0),
        f"long-video signature grew superlinearly: 64f $t64%.2f s vs " +
          f"256f $t256%.2f s — per-frame container re-parse is back?")
    }

    // ---- exploded frames are not staged (round-10 q32/q84 attribution):
    // the shingle frame of ngramJaccardPairs is BIGGER than its parquet
    // input, so it is recomputed per consumer instead of columnar-cached
    // (cache measured 2-4× the recompute CPU at sf1, see Staging's
    // scaladoc). An InMemoryRelation reappearing in the q32 plan means a
    // call site staged an exploded frame.
    {
      val q32 = graft.SparkEntry.queries("q32_jaccard_pairs")(spark, dir)
      val plan = q32.queryExecution.optimizedPlan.toString
      require(!plan.contains("InMemoryRelation"),
        "q32's exploded shingle stage must pass through (recompute), not " +
          "columnar-cache:\n" + plan.take(2000))
      println("q32 plan: exploded stage recomputes, no columnar cache " +
        "(checked)")
    }

    // ---- q306 DSIR scoring shape: the B-row histogram must BROADCAST
    // into the per-doc scoring join (a shuffle join here would re-exchange
    // the corpus-sized feature frame against 1024 rows), and the plan must
    // carry no unpartitioned window (covered by the audit below too).
    {
      val q306 = graft.SparkEntry.queries("q306_dsir_weights")(spark, dir)
      val plan = q306.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastExchange"),
        "q306 must broadcast the DSIR histogram into the scoring join:\n" +
          plan.take(2000))
      timed("q306 DSIR weights (sf0.1)")(q306.count())
      println("q306 plan: histogram broadcasts into scoring join (checked)")
    }

    // ---- q312 exact substring dedup (VERDICT r10 #4): every shuffle must
    // be KEYED (doc id, 8-byte hash, or candidate gram) — no
    // single-partition exchange and no driver-side state; and the
    // two-phase shape must hold: a hash pre-filter semi-join AND a
    // content-verify semi-join, so k-gram STRINGS only materialize at
    // candidate positions (hash-df survivors), never corpus-wide.
    {
      val q312 = graft.SparkEntry.queries("q312_exact_dup_spans")(spark, dir)
      val phys = q312.queryExecution.executedPlan.toString
      require(!phys.contains("SinglePartition"),
        "q312 must shuffle keyed only (no single-partition exchange):\n" +
          phys.take(2000))
      val semis = "LeftSemi".r.findAllIn(phys).size
      require(semis >= 2,
        s"q312 expected hash-prefilter + content-verify semi-joins, " +
          s"got $semis:\n" + phys.take(2000))
      timed("q312 exact dup spans (sf0.1)")(q312.count())
      println("q312 plan: keyed shuffles only, two-phase verify (checked)")
    }

    // ---- whole-inventory unpartitioned-window audit: every query whose
    // optimized plan contains a partition-less Window must be on the
    // KNOWN-BOUNDED list (windows over ≤nBins/≤topK aggregate rows —
    // q199's "bounded-by-construction exemption" class). A new name here
    // means a full-data single-task sort slipped into the inventory.
    {
      val boundedGlobalWindows = Set(
        "q121_zipf_fit", // top-k vocab ranks (≤ topK rows)
        "q136_log_hist_quantiles", // ≤64 log-histogram buckets
        "q151_sketch_percentile", // sketch buckets
        "q154_sketch_merge", // merged sketch buckets
        "q183_vocab_coverage", // cumulative share over top-k vocab
        "q199_gain_table", // ≤ nBins decile rows
        "q250_partition_completeness") // ≤ #days partition rows
      val tiny = "/root/testdata/sf0.001"
      val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .flatMap { case (name, fn) =>
          val bad = try fn(spark, tiny).queryExecution.optimizedPlan
            .collect {
              case w: org.apache.spark.sql.catalyst.plans.logical.Window
                  if w.partitionSpec.isEmpty => w
            }
          catch { case _: Throwable => Nil } // plan-only audit
          if (bad.nonEmpty) Seq(name) else Nil
        }.toSet
      val unexpected = offenders -- boundedGlobalWindows
      require(unexpected.isEmpty,
        s"UNPARTITIONED windows outside the bounded allowlist: $unexpected")
      println(s"unpartitioned-window audit: ${offenders.size} known-bounded, 0 unexpected")
    }

    // ---- SQL-surface reachability audit (VERDICT r10 #8): a query whose
    // DataFrame CONSTRUCTION runs zero Spark jobs is ONE static Catalyst
    // plan — mechanically SQL-expressible (a static plan always has a SQL
    // form; the scalar building blocks it needs are registered SQL
    // functions, GraftExtensions). A query that runs jobs while BUILDING
    // its frame does driver-side iteration (k-means/IVF/PQ training,
    // power iteration, boundary collects) and is Scala-API-only by
    // nature. The split publishes in COVERAGE.md; a new name in the
    // driver-iterative list means an operator silently gained a
    // driver-side loop.
    {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          // only QUERY executions count: parquet footer/schema reads fire
          // a descriptionless job per spark.read and would tag every
          // query as driver-iterative
          if (j.properties != null &&
              j.properties.getProperty("spark.sql.execution.id") != null) {
            jobs.incrementAndGet()
          }
          ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      val tiny = "/root/testdata/sf0.001"
      val dynamic = graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .flatMap { case (name, fn) =>
          org.apache.spark.sql.GraftBridge.drainListeners(spark)
          jobs.set(0)
          try { fn(spark, tiny); () } catch { case _: Throwable => () }
          org.apache.spark.sql.GraftBridge.drainListeners(spark)
          if (jobs.get > 0) Seq(name) else Nil
        }
      spark.sparkContext.removeSparkListener(l)
      val total = graft.SparkEntry.queries.size
      println(s"sql-reachability: ${total - dynamic.size}/$total build one " +
        s"static plan (SQL-expressible); ${dynamic.size} driver-iterative " +
        s"(Scala-API-only): ${dynamic.sorted.mkString(", ")}")
    }
    spark.stop()
  }
}
