package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Dedup / similarity / text-analysis operator behavior on crafted inputs. */
class PipelineOpsSpec extends SparkSuite {

  private lazy val s = sqlc

  private def docs(rows: (Long, String)*) = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach { case (id, t) => l.add(Row(id, t)) }
    s.createDataFrame(l, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
  }

  test("exact dedup keeps lowest id and counts copies") {
    val d = docs((1L, "hello world"), (2L, "hello world"), (3L, "different"))
    val out = Dedup.exact(d, "text", "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("near-duplicates collide in minhash bands; dissimilar docs don't") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok30", "tokX")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    val cands = Dedup.minhashCandidates(Dedup.minhashBands(
      Dedup.minhashSignatures(d, "text", "doc_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.toSeq == Seq((1L, 2L)))
  }

  test("minhash candidate cap: a dup-dense bucket stars to n-1 pairs, " +
      "and the star keeps the applyNearDedup survivors") {
    // 2000 byte-identical docs share one bucket per band: uncapped that is
    // n²/2 pairs, the cap's star contract emits (bucket-min, other) only
    val oneDoc = (1 to 40).map(i => s"w$i").mkString(" ")
    val dense = s.range(2000L)
      .select(col("id").as("doc_id"), lit(oneDoc).as("text"))
    val denseBands = Dedup.minhashBands(
      Dedup.minhashSignatures(dense, "text", "doc_id"))
    assert(Dedup.minhashCandidates(denseBands, maxBucketSize = 64)
      .count() == 1999L)
    // a cap of 2 stars the ordinary buckets of a real corpus too
    val corpus = s.read.parquet(s"${SparkSuite.Sf0001}/documents.parquet")
      .select("doc_id", "text")
    val bands = Dedup.minhashBands(
      Dedup.minhashSignatures(corpus, "text", "doc_id"))
    def survivors(cap: Int) = Dedup.applyNearDedup(corpus,
        Dedup.minhashCandidates(bands, maxBucketSize = cap), "doc_id")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val all = survivors(0)
    assert(all.size < 500 && survivors(2) == all)
  }

  test("simhash of near-identical docs is close in hamming distance") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val near = base.replace("w40", "w40x")
    val far = (1 to 80).map(i => s"q${i}q").mkString(" ")
    val d = docs((1L, base), (2L, near), (3L, far))
    val m = Dedup.simhash(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("ngram jaccard finds the planted near-dup pair only") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (1 to 50).map(i => s"yyy$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("ngram jaccard DF-cap drops boilerplate shingles, not the signal") {
    // every doc shares one boilerplate prefix; docs 1/2 are real near-dups
    val boiler = "standard license header text"
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val d = docs(
      (1L, s"$boiler $base"), (2L, s"$boiler $base extra"),
      (3L, s"$boiler " + (1 to 50).map(i => s"yyy$i").mkString(" ")),
      (4L, s"$boiler " + (1 to 50).map(i => s"zzz$i").mkString(" ")))
    // cap 3 < 4 docs: the universal boilerplate shingles drop; the planted
    // near-dup pair survives and no boilerplate-only pair appears
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 50,
        maxShingleDF = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("near-dup clusters: transitive chain collapses to one component") {
    val d = docs((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z"))
    // candidate graph: 1~2, 2~3 (chain), 4 alone via no pairs; 9 isolated
    val l = new java.util.ArrayList[Row]()
    l.add(Row(1L, 2L)); l.add(Row(2L, 3L))
    val cands = s.createDataFrame(l, StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType))))
    val out = Dedup.nearDupClusters(d, cands, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 9L -> 9L))
  }

  test("span dedup drops repeated tiles, rebuilds from survivors, empties all-boilerplate docs") {
    // spans of 4 tokens; "b1 b2 b3 b4" repeats across docs 1 and 2 → dropped
    // from both; doc 3 is ALL boilerplate → clean_text empty, row kept
    val d = docs(
      (1L, "u1 u2 u3 u4 b1 b2 b3 b4"),
      (2L, "b1 b2 b3 b4 v1 v2 v3 v4"),
      (3L, "b1 b2 b3 b4"),
      (4L, "w1 w2 w3 w4 w5")) // 5 tokens → 2 spans, second is the 1-token tail
    val out = Dedup.spanDedup(d, "text", "doc_id", spanTokens = 4, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, "u1 u2 u3 u4"),
      (2L, 2L, 1L, "v1 v2 v3 v4"),
      (3L, 1L, 0L, ""),
      (4L, 2L, 2L, "w1 w2 w3 w4 w5")))
  }

  test("span dedup matches a serial reference scan on seeded random corpora") {
    def serial(corpus: Seq[(Long, String)], w: Int, minCount: Int)
        : Seq[(Long, Long, Long, String)] = {
      val tiled = corpus.map { case (id, t) =>
        val tk = t.trim.split("\\s+").filter(_.nonEmpty)
        id -> tk.grouped(w).map(_.mkString(" ")).toSeq
      }
      val counts = tiled.flatMap(_._2).groupBy(identity).map { case (sp, o) =>
        sp -> o.size }
      // EVERY doc appears in the output — token-less docs report (0, 0, "")
      tiled.map { case (id, spans) =>
        val kept = spans.filter(sp => counts(sp) < minCount)
        (id, spans.size.toLong, kept.size.toLong, kept.mkString(" "))
      }
    }
    Seq(7, 21).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val shared = (0 until 12).map(i => s"s${seed}b$i").mkString(" ")
      val corpus = (0L until 25L).map { id =>
        val own = (0 until rnd.nextInt(30)).map(i => s"d${id}t$i").mkString(" ")
        // half the docs carry the shared block at a random tile-aligned-ish
        // position so repeated spans occur both aligned and offset; some
        // odd docs come out token-less (rnd gave 0 own tokens)
        val t = if (id % 2 == 0) s"$own $shared" else own
        (id, t)
      }
      val d = docs(corpus: _*)
      val got = Dedup.spanDedup(d, "text", "doc_id", spanTokens = 4, minCount = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
      assert(got == serial(corpus, 4, 2).sortBy(_._1), s"seed $seed")
    }
  }

  test("cross-corpus near-dup flags incoming docs colliding with the reference only") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val ref = docs((10L, base), (12L, (1 to 60).map(i => s"r$i").mkString(" ")))
    val incoming = docs(
      (1L, base.replace("tok30", "tokX")),              // near-dup of ref 10
      (3L, (1 to 60).map(i => s"n$i").mkString(" ")))   // genuinely new
    val out = Dedup.crossCorpusNearDup(incoming, ref, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, false), (3L, 0L, true)))
  }

  test("distinctive terms rank by tf desc, then rarity, then token") {
    // doc 1: 'aa' tf=2 beats everything; 'rare' (df=1) beats 'common' (df=2)
    val d = docs(
      (1L, "aa aa rare common"),
      (2L, "common zz"))
    val out = TextAnalysis.distinctiveTerms(d, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 1, "aa", 2L, 1L),
      (1L, 2, "rare", 1L, 1L),
      (1L, 3, "common", 1L, 2L),
      (2L, 1, "zz", 1L, 1L),
      (2L, 2, "common", 1L, 2L)))
  }

  test("vocabulary ranks by tf with deterministic tie-break; df counts docs") {
    val d = docs((1L, "apple apple pear"), (2L, "apple banana banana"))
    val out = TextAnalysis.vocabulary(d, "text", "doc_id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("apple", 3L, 2L), ("banana", 2L, 1L)))
  }

  test("quota sample is deterministic and respects the per-class cap") {
    val d = docs((1L to 20L).map(i => (i, if (i % 2 == 0) "ee" else "oo")): _*)
      .withColumnRenamed("text", "cls")
    val once = Sampling.quotaByClass(d, "cls", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val again = Sampling.quotaByClass(d, "cls", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(once.toSeq == again.toSeq)
    assert(once.count(_._2 == "ee") == 3 && once.count(_._2 == "oo") == 3)
  }

  test("token/quality/langid/fingerprint basics") {
    val d = docs((1L, "The cat and the dog. And the bird!"),
      (2L, "le la et les des est"))
    val out = d.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.punctCount(col("text")).as("p"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().sortBy(_.getLong(0))
    assert(out(0).getLong(1) == 8 && out(0).getLong(2) == 2)
    assert(out(0).getString(3) == "en")
    assert(out(1).getString(3) == "fr")
    // fingerprint is order-sensitive
    val d2 = docs((1L, "a b c"), (2L, "c b a"))
    val fps = d2.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("brute-force top-k ranks by exact quantized dot product") {
    val l = new java.util.ArrayList[Row]()
    // query 0 = [1,0]; item 1 = [0.9, 0.1] (dot 900*..), item 2 = [0, 1] (dot 0)
    l.add(Row(0L, Seq(1.0f, 0.0f)))
    l.add(Row(1L, Seq(0.9f, 0.1f)))
    l.add(Row(2L, Seq(0.0f, 1.0f)))
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    val out = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(out.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("identical vectors share every LSH table bucket; opposite vectors none") {
    val l = new java.util.ArrayList[Row]()
    l.add(Row(0L, Seq(0.5f, -0.25f, 0.75f)))
    l.add(Row(1L, Seq(0.5f, -0.25f, 0.75f)))
    l.add(Row(2L, Seq(-0.5f, 0.25f, -0.75f)))
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    val b = Similarity.lshBuckets(e, "vec_id", "embedding",
        numTables = 4, planesPerTable = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert((0 until 4).forall(t => b((0L, t)) == b((1L, t))))
    // candidate pairs: only the identical pair meets, deduped across tables
    val cand = Similarity.lshCandidates(
        Similarity.lshBuckets(e, "vec_id", "embedding", 4, 12))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cand == Seq((0L, 1L)))
  }

  test("embedding near-dup presets: pinned configs, same plan as explicit params") {
    // the preset constants are a DOCUMENTED contract (recall floors asserted
    // below against brute force) — pin them so a silent change trips here
    assert(Dedup.NearDupPreset.Strict95.numTables == 8 &&
      Dedup.NearDupPreset.Strict95.planesPerTable == 12)
    assert(Dedup.NearDupPreset.Broad40.numTables == 16 &&
      Dedup.NearDupPreset.Broad40.planesPerTable == 4)
    val l = new java.util.ArrayList[Row]()
    l.add(Row(0L, Seq(0.5f, -0.25f, 0.75f)))
    l.add(Row(1L, Seq(0.5f, -0.25f, 0.75f)))
    l.add(Row(2L, Seq(-0.5f, 0.25f, -0.75f)))
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    Seq(Dedup.NearDupPreset.Strict95: Dedup.NearDupPreset,
        Dedup.NearDupPreset.Broad40).foreach { p =>
      val viaPreset = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val explicit = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
          numTables = p.numTables, planesPerTable = p.planesPerTable)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(viaPreset == explicit && viaPreset == Seq((0L, 1L)))
    }

    // recall floors vs brute-force truth. The natural vectors hold almost
    // no pair near cos 0.9 (none above 0.7 at sf0.1), so plant near-dups:
    // a perturbed copy of every 4th vector (±30% multiplicative
    // per-coordinate sine noise → cos ≈ 0.95-0.99). The truth is still
    // brute-forced, so recall is measured against the planted pairs'
    // actual cosines, not the intent.
    val base = s.read.parquet(s"${SparkSuite.Sf0001}/embeddings.parquet")
    val emb = base.select("vec_id", "embedding").unionByName(
      base.filter(col("vec_id") % 4 === 0).select(
        (col("vec_id") + 10000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> x * cast(1.0d + 0.3d * " +
          "sin(cast(vec_id AS DOUBLE) * 13.0d + cast(i AS DOUBLE)) AS FLOAT))")
          .as("embedding")))
    val qv = emb.select(col("vec_id"), Similarity.quantize(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // the same integer cosine as Similarity.dotQ / norm2Q, pair by pair
    val n2 = qv.map { case (_, v) => dot(v, v) }
    val truth = for {
      i <- qv.indices; j <- (i + 1) until qv.length
      c = dot(qv(i)._2, qv(j)._2) / math.sqrt((n2(i) * n2(j)).toDouble)
      if c >= 0.4
    } yield (qv(i)._1, qv(j)._1) -> c
    def recallPct(p: Dedup.NearDupPreset, minCos: Double): Double = {
      val got = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = truth.collect { case (pair, c) if c >= minCos => pair }
      assert(want.length >= 100, s"only ${want.length} true pairs at $minCos")
      want.count(got.contains) * 100.0 / want.length
    }
    val strict = recallPct(Dedup.NearDupPreset.Strict95, 0.9)
    val broad = recallPct(Dedup.NearDupPreset.Broad40, 0.4)
    info(f"recall: Strict95 @cos>=0.9 $strict%.1f%%, " +
      f"Broad40 @cos>=0.4 $broad%.1f%%")
    assert(strict >= 70.0, f"Strict95 recall@cos>=0.9 $strict%.1f%% < 70%%")
    assert(broad >= 40.0, f"Broad40 recall@cos>=0.4 $broad%.1f%% < 40%%")
  }

  test("lshCandidates skips buckets over the fan-out cap") {
    val l = new java.util.ArrayList[Row]()
    (0L until 6L).foreach(i => l.add(Row(i, Seq(0.5f, -0.25f, 0.75f))))
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    val buckets = Similarity.lshBuckets(e, "vec_id", "embedding", 4, 12)
    // 6 identical vectors in every bucket: cap 5 drops every bucket
    assert(Similarity.lshCandidates(buckets, maxBucketSize = 5).count() == 0L)
    assert(Similarity.lshCandidates(buckets, maxBucketSize = 6).count() == 15L)
  }

  test("trained IVF: k-means separates clusters; multi-probe top-k recalls brute force") {
    // 4 well-separated clusters of 10 vectors in 4-d
    val centers = Seq(
      Seq(10f, 0f, 0f, 0f), Seq(0f, 10f, 0f, 0f),
      Seq(0f, 0f, 10f, 0f), Seq(0f, 0f, 0f, 10f))
    val l = new java.util.ArrayList[Row]()
    var id = 0L
    centers.zipWithIndex.foreach { case (c, ci) =>
      (0 until 10).foreach { j =>
        // deterministic small jitter per member
        val v = c.zipWithIndex.map { case (x, d) => x + ((j * 7 + d * 3 + ci) % 5) * 0.1f }
        l.add(Row(id, v)); id += 1
      }
    }
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    // k-means with k=4 co-assigns each cluster's members
    val cells = Similarity.ivfCellsTrained(e, "vec_id", "embedding", nCells = 4, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 4).foreach { ci =>
      val members = (ci * 10 until ci * 10 + 10).map(i => cells(i.toLong))
      assert(members.distinct.size == 1, s"cluster $ci split across cells: $members")
    }
    // multi-probe trained top-k matches exact brute force on this geometry
    val queries = e.filter(col("vec_id").isin(0L, 10L, 20L, 30L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", 3))
    val ivf = pairs(Similarity.ivfTopKTrained(e, queries, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 2, iters = 3))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9: exact=$exact ivf=$ivf")
  }

  test("PII redaction scrubs all four classes; counts see pre-redaction text") {
    val d = docs((1L,
      "mail bob.smith+x@sub.example.org and 10.0.42.7 tel 555-867-5309 ssn 123-45-6789"),
      (2L, "clean text with no pii at all 1234"))
    val out = d.select(col("doc_id"),
      TextAnalysis.piiCount(col("text"), "email").as("ne"),
      TextAnalysis.piiCount(col("text"), "phone").as("np"),
      TextAnalysis.piiCount(col("text"), "ip").as("ni"),
      TextAnalysis.piiCount(col("text"), "ssn").as("ns"),
      TextAnalysis.piiRedact(col("text")).as("red"))
      .collect().sortBy(_.getLong(0))
    assert(out(0).toSeq.drop(1) == Seq(1L, 1L, 1L, 1L,
      "mail <EMAIL> and <IP> tel <PHONE> ssn <SSN>"))
    assert(out(1).toSeq.drop(1) == Seq(0L, 0L, 0L, 0L,
      "clean text with no pii at all 1234"))
  }

  test("repetition stats: dup-token and top-bigram fractions, integer pcts") {
    val d = docs(
      (1L, "spam spam spam spam eggs"), // 5 tokens, 2 distinct; "spam spam" 3 of 4 bigrams
      (2L, "one two three four five six seven eight nine ten eleven"))
    val stats = TextAnalysis.repetitionStats(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    assert(stats(0) == ((1L, 5L, 60L, 75L, true)))   // (5-2)*100/5; 3*100/4
    assert(stats(1) == ((2L, 11L, 0L, 10L, false)))  // all unique; 1*100/10
  }

  test("decontamination flags only docs sharing shingles with the eval set") {
    val evalSet = docs((100L, "the quick brown fox jumps over the lazy dog"))
    val corpus = docs(
      (1L, "intro text then the quick brown fox appears here"), // shares shingles
      (2L, "completely unrelated words nothing in common at all"))
    val out = Dedup.contamination(corpus, evalSet, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L))) // "the quick brown","quick brown fox"
    // the eval shingle set broadcasts, so the corpus side never shuffles
    withoutAutoBroadcast {
      assert(broadcasts(Dedup.contamination(corpus, evalSet, "text", "doc_id")))
    }
  }

  test("multimodal stub decode preserves ids and emits plausible metadata") {
    val d = docs((3L, "some video payload text"), (5L, "another one"))
    implicit val sp = s
    import sp.implicits._
    val media = graft.multimodal.Multimodal.toMediaTable(d, "doc_id", "text")
      .as[graft.multimodal.Multimodal.MediaRecord]
    val dec = graft.multimodal.Multimodal.decode(media).collect().sortBy(_.media_id)
    assert(dec.map(_.media_id).toSeq == Seq(3L, 5L))
    assert(dec.forall(m => m.width >= 64 && m.height >= 64 && m.n_frames >= 1))
    assert(dec.forall(_.feature.length == 8))
  }

  test("pack plan: offsets, boundary-spanning docs, empty docs") {
    val d = docs((1L, "a b c"), (2L, "d e f g"), (3L, "   "),
      (4L, "h i j k l m"))
    val out = Packing.packPlan(d, "text", "doc_id", seqLen = 5, nBuckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, 0L, 0L, 1L),   // fits in pack 0
      (2L, 4L, 3L, 0L, 1L, 2L),   // spans packs 0-1
      (3L, 0L, 7L, 1L, -1L, 0L),  // empty doc: offset defined, no packs
      (4L, 6L, 7L, 1L, 2L, 2L)))  // spans packs 1-2
    // the scan is bucket-count-invariant (one bucket = trivially serial)
    val serial = Packing.packPlan(d, "text", "doc_id", seqLen = 5, nBuckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(serial.toSeq == out.map(t => (t._1, t._3)).toSeq)
    // two-stage prefix scan: bucket offsets broadcast onto a keyed window,
    // never a global WindowExec
    withoutAutoBroadcast {
      val plan = Packing.packPlan(d, "text", "doc_id", seqLen = 5, nBuckets = 3)
      assert(broadcasts(plan) && unkeyedWindows(plan).isEmpty)
    }
  }

  test("pack plan matches a serial scan on seeded random corpora") {
    val rng = new scala.util.Random(20260812L)
    // sparse, shuffled, duplicate-free ids with varied token counts
    val ids = rng.shuffle((1L to 400L).map(_ * 7919L % 100000L).distinct.toList)
    val rows = ids.map(id => (id, Seq.fill(rng.nextInt(9))("w").mkString(" ")))
    val d = docs(rows: _*)
    val serial = rows.sortBy(_._1).foldLeft((0L, Map.empty[Long, Long])) {
      case ((off, acc), (id, text)) =>
        val n = text.split("\\s+").count(_.nonEmpty).toLong
        (off + n, acc + (id -> off))
    }._2
    for (nb <- Seq(1, 5, 64)) {
      val got = Packing.packPlan(d, "text", "doc_id", seqLen = 16, nBuckets = nb)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == serial, s"nBuckets=$nb")
    }
  }

  test("pack occupancy: docs per sequence and filled slots") {
    val d = docs((1L, "a b c"), (2L, "d e f g"), (3L, "   "),
      (4L, "h i j k l m"))
    val plan = Packing.packPlan(d, "text", "doc_id", seqLen = 5, nBuckets = 2)
    val occ = Packing.packOccupancy(plan, seqLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // stream: doc1 [0,3) doc2 [3,7) doc4 [7,13)
    assert(occ.toSeq == Seq((0L, 2L, 5L), (1L, 2L, 5L), (2L, 1L, 3L)))
  }

  test("mixture sample: deterministic fractional replication per class") {
    val d = docs((1L to 40L).map(i => (i, i % 4 match {
      case 0 => "up"; case 1 => "down"; case 2 => "drop"; case _ => "other"
    })): _*).withColumnRenamed("text", "cls")
    val out = Sampling.mixtureSample(d, "cls", "doc_id",
      Map("up" -> 250, "down" -> 50, "drop" -> 0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byClass = out.groupBy(_._2).view.mapValues(_.length).toMap
    val copies = out.groupBy(_._1).view.mapValues(_.length).toMap
    // up: every row 2 or 3 copies; down: 0 or 1; drop: gone; other: exactly 1
    assert(out.filter(_._2 == "up").groupBy(_._1).forall {
      case (_, c) => c.length == 2 || c.length == 3 })
    assert(byClass.getOrElse("drop", 0) == 0)
    assert(byClass("other") == 10)
    assert(byClass("down") <= 10 && copies.values.forall(_ <= 3))
    // copy_idx is a dense 0-based range per kept row
    out.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // rerun is bit-identical (no RNG state)
    val again = Sampling.mixtureSample(d, "cls", "doc_id",
      Map("up" -> 250, "down" -> 50, "drop" -> 0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
  }

  test("budget select: best scores first, straddling doc kept, budget stops") {
    // scores: doc1=90 (4 tok), doc2=90 (5 tok), doc3=50 (3 tok), doc4=10
    val d = s.createDataFrame(s.sparkContext.parallelize(Seq(
      Row(1L, 90L, 4L), Row(2L, 90L, 5L), Row(3L, 50L, 3L), Row(4L, 10L, 9L))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("score", LongType), StructField("n_tokens", LongType))))
    val out = Packing.budgetSelect(d, "score", "doc_id", "n_tokens", 10L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_off")))
      .sortBy(_._1)
    // order: doc1@0, doc2@4, doc3@9 (straddles the 10-token budget → kept),
    // doc4@12 (past budget → dropped)
    assert(out.toSeq == Seq((1L, 0L), (2L, 4L), (3L, 9L)))
    // the per-score offsets broadcast: the pack plan's two-stage scan
    withoutAutoBroadcast {
      assert(broadcasts(
        Packing.budgetSelect(d, "score", "doc_id", "n_tokens", 10L)))
    }
  }

  test("canonical pick prefers the trusted source, then lowest id") {
    val d = s.createDataFrame(s.sparkContext.parallelize(Seq(
      Row(1L, 10L, 5L), Row(2L, 10L, 1L), Row(3L, 10L, 1L), Row(7L, 7L, 9L))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("cluster_id", LongType), StructField("prio", LongType))))
    val out = Dedup.canonicalPick(d, "cluster_id", "doc_id", col("prio"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // cluster 10: prio 1 beats prio 5; id 2 beats id 3 on the tie
    assert(out.toSeq == Seq((7L, 7L, 1L), (10L, 2L, 3L)))
  }

  test("epoch shuffle: dense rank, epoch-dependent order, replay-identical") {
    val d = docs((1L to 50L).map(i => (i, "t")): _*).select(col("doc_id"))
    def ranks(epoch: Int) = Sampling.epochShuffle(d, "doc_id", epoch, nBuckets = 7)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_rank")))
    val e1 = ranks(1)
    // rank is a dense permutation of 0..n-1
    assert(e1.map(_._2).sorted.toSeq == (0L until 50L).toSeq)
    // same epoch replays bit-identically; a different epoch reorders
    assert(ranks(1).sortBy(_._1).toSeq == e1.sortBy(_._1).toSeq)
    assert(ranks(2).sortBy(_._1).map(_._2).toSeq != e1.sortBy(_._1).map(_._2).toSeq)
    // bucket-count-invariant (the scan, not the bucketing, defines the order)
    assert(Sampling.epochShuffle(d, "doc_id", 1, nBuckets = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_rank")))
      .sortBy(_._1).toSeq == e1.sortBy(_._1).toSeq)
    // the bucket offsets broadcast: a global rank without a global sort
    withoutAutoBroadcast {
      assert(broadcasts(Sampling.epochShuffle(d, "doc_id", 1, nBuckets = 7)))
    }
  }

  test("asof join: greatest right time <= left time, equal ts matches, keys isolated") {
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("t", LongType), StructField("v", LongType)))
    def frame(rows: (String, Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, t, v) => l.add(Row(k, t, v)) }
      s.createDataFrame(l, sch)
    }
    val left = frame(("a", 4L, 100L), ("a", 5L, 101L), ("a", 12L, 102L),
      ("b", 9L, 103L)).withColumnRenamed("v", "lv")
    val right = frame(("a", 5L, 1L), ("a", 10L, 2L), ("c", 1L, 9L))
    val out = AsofJoin.asofJoin(left, right, "k", "t", Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(
      ("a", 4L, -1L),   // before any right row
      ("a", 5L, 1L),    // equal timestamp matches (>= semantics)
      ("a", 12L, 2L),   // latest prior right row
      ("b", 9L, -1L)))  // other key's right rows never leak
  }

  test("asof join: carries cross time slices; slicing never changes the answer") {
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("t", LongType), StructField("v", LongType)))
    def frame(rows: (String, Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, t, v) => l.add(Row(k, t, v)) }
      s.createDataFrame(l, sch)
    }
    // right rows all live in the FIRST slice, left rows in the LAST: with
    // nSlices=3 only the carried boundary row can produce these matches
    val left = frame(("a", 10L, 100L), ("a", 11L, 101L), ("a", 12L, 102L))
      .withColumnRenamed("v", "lv")
    val right = frame(("a", 1L, 1L), ("a", 2L, 2L))
    val out = AsofJoin.asofJoin(left, right, "k", "t", Seq("v"), nSlices = 3)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sorted
    assert(out.toSeq == Seq((10L, 2L), (11L, 2L), (12L, 2L)))

    // hot key: slicing configurations must all agree with the single-window
    // plan (nSlices=1 degenerates to one slice per key)
    import org.apache.spark.sql.functions.{col => c, when => w}
    val base = s.range(2000L)
    val hotKey = w(c("id") % 10L === 0L, (c("id") % 7L + 1L).cast(StringType))
      .otherwise("hot")
    val hl = base.filter(c("id") % 2 === 0)
      .select(hotKey.as("k"), c("id").as("t"), (c("id") * 3L).as("lv"))
    val hr = base.filter(c("id") % 2 === 1)
      .select(hotKey.as("k"), c("id").as("t"), (c("id") + 7L).as("v"))
    def run(n: Int) = AsofJoin.asofJoin(hl, hr, "k", "t", Seq("v"), nSlices = n)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    val single = run(1)
    assert(single.nonEmpty && single == run(5) && single == run(64))
    // the hot key spreads over time slices: the as-of window partitions by
    // (key, slice), never by key alone
    val asofWindows = windows(AsofJoin.asofJoin(hl, hr, "k", "t", Seq("v")))
      .filter(_.windowExpressions.exists(_.name == "__asof"))
    assert(asofWindows.nonEmpty && asofWindows.forall(
      _.partitionSpec.flatMap(_.references.map(_.name)).contains("__tb")))
  }

  test("asof nearest: minimizes |dt|, ties go backward, no-match stays null") {
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("t", LongType), StructField("id", LongType)))
    def frame(rows: (String, Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, t, id) => l.add(Row(k, t, id)) }
      s.createDataFrame(l, sch)
    }
    val left = frame(("a", 10L, 1L), ("a", 14L, 2L), ("a", 30L, 3L),
      ("b", 5L, 4L))
    val right = frame(("a", 8L, 100L), ("a", 20L, 101L), ("c", 1L, 102L))
      .withColumnRenamed("id", "rid")
    val out = AsofJoin
      .asofJoinNearest(left, right, "k", "t", "id", Seq("rid"))
      .collect().map(r => (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(5)) Long.MinValue else r.getLong(5)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 100L, -2L),  // 8 at dt -2 beats 20 at dt +10
      (2L, 100L, -6L),  // tie |14-8| = |20-14| = 6 → BACKWARD wins
      (3L, 101L, -10L), // nothing after 30 → backward only
      (4L, -1L, Long.MinValue))) // key b has no right rows at all
  }

  test("rare-bigram filter: relative rarity splits docs, short docs kept at 0") {
    import s.implicits._
    // 'x y' repeats corpus-wide (common); doc 3's bigrams appear once each
    val docs = Seq(
      (1L, "x y x y x y x y"), (2L, "x y x y"),
      (3L, "q r s t"), (4L, "z")).toDF("doc_id", "text")
    val out = TextAnalysis
      .rareBigramRate(docs, "text", "doc_id", rareFreqPpm = 200000L,
        keepThresholdPml = 500L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // corpus: 'x y'×6 + 'y x'×4 + 3 singletons = 13 occurrences; the 20%
    // cut = count < 2.6 → only doc 3's singleton bigrams are rare
    assert(out.toSeq == Seq(
      (1L, 7L, 0L, 0L, true),
      (2L, 3L, 0L, 0L, true),
      (3L, 3L, 3L, 1000L, false),
      (4L, 0L, 0L, 0L, true))) // <2 tokens: no bigrams, kept
  }

  test("range join: bucket-crossing intervals, boundary in/exclusivity, no dup pairs") {
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("t", LongType)))
    def evts(rows: (String, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, t) => l.add(Row(k, t)) }
      s.createDataFrame(l, sch)
    }
    val left = evts(("a", 5L), ("a", 10L), ("a", 19L), ("a", 20L), ("b", 5L))
      .withColumnRenamed("t", "t")
    val right = evts(("a", 5L), ("a", 15L))
      .select(col("k"), col("t").as("s"), (col("t") + 15L).as("e"))
      .withColumn("iv", concat(col("s"), lit("-")))
    // width 10 < interval length 15: every interval spans multiple buckets
    val out = RangeJoin.bucketed(left, right, "k", "t", "s", "e", 10L)
      .collect().map(r => (r.getString(0), r.getAs[Long]("t"), r.getAs[Long]("s")))
      .sorted
    assert(out.toSeq == Seq(
      ("a", 5L, 5L),    // start inclusive
      ("a", 10L, 5L),   // bucket boundary, still inside [5,20)
      ("a", 19L, 5L), ("a", 19L, 15L),  // two overlapping intervals, once each
      ("a", 20L, 15L))) // 20 excluded from [5,20), inside [15,30)
    // ("b",5) matches nothing: no right intervals for its key
    // empty and inverted intervals are dropped, not exploded backwards
    val degenerate = evts(("a", 5L))
      .select(col("k"), col("t").as("s"), (col("t") - 10L).as("e"))
    assert(RangeJoin.bucketed(left, degenerate, "k", "t", "s", "e", 10L)
      .count() == 0)
  }

  test("group quantiles: exact disc ranks, per class, partitioning-independent") {
    val sch = StructType(Seq(StructField("c", StringType),
      StructField("v", LongType)))
    val l = new java.util.ArrayList[Row]()
    // class x: 1..10 → p50=5, p90=9, p99=10; class y: single value
    (1L to 10L).foreach(v => l.add(Row("x", v)))
    l.add(Row("y", 7L))
    val d = s.createDataFrame(l, sch)
    val out = Stats.groupQuantiles(d, "c", "v", Seq(50, 90, 99))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == Seq(("x", 5L, 9L, 10L), ("y", 7L, 7L, 7L)))
    val repart = Stats.groupQuantiles(d.repartition(7), "c", "v", Seq(50, 90, 99))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(repart.toSeq == out.toSeq)
  }

  test("script langid: CJK text detected as zh; latin falls through to markers") {
    val d = docs((1L, "今天天气很好我们去公园"),
      (2L, "the cat and the dog of the house"),
      (3L, "short 中 text with little cjk overall content here"))
    val out = d.select(col("doc_id"),
      TextAnalysis.scriptLangId(col("text")).as("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "zh"), (2L, "en"), (3L, "und")))
  }

  test("winnowed fingerprints: sliding-min selection, short-doc fallback, shared-run guarantee") {
    val w = 4
    val d = docs(
      (1L, (1 to 20).map(i => s"tok$i").mkString(" ")), // 18 shingles, normal
      (2L, "a b c d e"),  // 3 shingles < w → single global-min fp
      (3L, "a b"),        // no shingles → no rows
      (4L, ""),           // no tokens → no rows
      // shares tokens 8..15 with doc 1: a common run of 8 = w + n − 1
      // tokens must yield at least one COMMON fingerprint (the winnowing
      // guarantee), while the surrounding text differs entirely
      (5L, "xxa xxb xxc " + (8 to 15).map(i => s"tok$i").mkString(" ") +
        " yya yyb yyc"))
    val out = TextAnalysis.winnowedFingerprints(d, "text", "doc_id",
      shingleN = 3, window = w)
    val byDoc = out.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // independent reimplementation: positional shingle hashes from the same
    // token hashes, then plain-Scala sliding-window minima
    val shingleRows = d.select(col("doc_id"),
      TextAnalysis.tokenHashes(col("text")).as("th")).collect()
      .map { r =>
        val th = r.getSeq[Long](1)
        val sh = if (th.length < 3) Seq.empty[Long]
          else (0 to th.length - 3).map(i =>
            ((th(i) * 131 + th(i + 1)) % 2147483647L * 131 + th(i + 2)) %
              2147483647L)
        r.getLong(0) -> sh
      }.toMap
    shingleRows.foreach { case (id, sh) =>
      val expect =
        if (sh.isEmpty) Set.empty[Long]
        else if (sh.length < w) Set(sh.min)
        else sh.sliding(w).map(_.min).toSet
      assert(byDoc.getOrElse(id, Set.empty) == expect,
        s"doc $id fingerprints diverge from the serial winnowing scan")
    }
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    assert(byDoc(2L).size == 1)
    // the shared 8-token run gives docs 1 and 5 a common fingerprint
    assert((byDoc(1L) & byDoc(5L)).nonEmpty)
    // density sanity: far fewer fingerprints than shingles (expected
    // 2/(w+1) of 18 ≈ 7 for doc 1; allow a loose upper bound)
    assert(byDoc(1L).size < 18)
  }

  test("winnowed overlap pairs: partial copy detected, unrelated docs not, boilerplate capped") {
    // doc 2 lifts a 12-token run from doc 1 into otherwise-different text —
    // a partial copy whose doc-level Jaccard is far below any threshold;
    // doc 3 shares nothing
    val lifted = (20 to 31).map(i => s"tok$i").mkString(" ")
    val d = docs(
      (1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"aa$i").mkString(" ") + " " + lifted + " " +
        (1 to 20).map(i => s"bb$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"zz$i").mkString(" ")))
    val pairs = TextAnalysis.winnowedOverlapPairs(d, "text", "doc_id",
      minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 >= 1L)
    // a fingerprint present in EVERY doc is boilerplate: with the DF cap at
    // 2 the all-doc run stops pairing, and only the 1-2 lift survives
    val boiler = (100 to 120).map(i => s"com$i").mkString(" ")
    val d2 = docs(
      (1L, boiler + " " + (1 to 30).map(i => s"tok$i").mkString(" ")),
      (2L, boiler + " " + lifted + " " + (1 to 10).map(i => s"cc$i").mkString(" ")),
      (3L, boiler + " " + (1 to 30).map(i => s"qq$i").mkString(" ")),
      (4L, (1 to 30).map(i => s"tok$i").mkString(" ")))
    val capped = TextAnalysis.winnowedOverlapPairs(d2, "text", "doc_id",
      minShared = 1, maxFpDF = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // boilerplate (df=3 > cap) never pairs; the tok runs (df <= 2) do:
    // doc 2's lift overlaps docs 1 and 4's tok ranges
    assert(!capped.contains((1L, 3L)) && !capped.contains((2L, 3L)))
    assert(capped.contains((1L, 4L))) // shared tok1..30 run, under the cap
  }

  test("common spans: repeated tiles surface with counts, example doc, and stable order") {
    // spans are 4-token tiles; "h1 h2 h3 h4" appears in docs 1, 2 (twice: as
    // tiles 0 and 1 of doc 2) and 3 — boilerplate; unique tails don't repeat
    val boiler = "h1 h2 h3 h4"
    val d = docs(
      (1L, boiler + " " + "a1 a2 a3 a4"),
      (2L, boiler + " " + boiler),
      (3L, boiler + " " + "c1 c2 c3 c4"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8"))
    val out = Dedup.commonSpans(d, "text", "doc_id",
      spanTokens = 4, minCount = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((boiler, 4L, 3L, 1L)))
    // the report and the scrub agree: spanDedup drops exactly the reported
    // span's occurrences
    val cleaned = Dedup.spanDedup(d, "text", "doc_id",
      spanTokens = 4, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(cleaned(2L) == "" && cleaned(1L) == "a1 a2 a3 a4")
  }

  test("cross-corpus prebanded: parquet-round-tripped reference bands equal the recompute form") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val newDocs = docs(
      (1L, base.replace("tok30", "tokX")), // near-dup of ref doc 10
      (2L, (1 to 60).map(i => s"qq$i").mkString(" ")))
    val refDocs = docs(
      (10L, base),
      (11L, (1 to 60).map(i => s"zz$i").mkString(" ")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-refbands").toString
    // band the curated reference ONCE, persist, read back — the cross-batch
    // ingest shape the operator's doc promises
    Dedup.refCorpusBands(refDocs, "text", "doc_id")
      .write.mode("overwrite").parquet(dir)
    val reloaded = s.read.parquet(dir)
    val viaParquet = Dedup.crossCorpusNearDupPrebanded(
      newDocs, reloaded, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    val recompute = Dedup.crossCorpusNearDup(
      newDocs, refDocs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(viaParquet.toSeq == recompute.toSeq)
    // and the fixture actually screens: doc 1 collides with ref, doc 2 not
    assert(viaParquet.toSeq == Seq((1L, 1L, false), (2L, 0L, true)))

    // the same equality on the sf0.001 corpus split into even/odd ids
    val corpus = s.read.parquet(s"${SparkSuite.Sf0001}/documents.parquet")
      .select("doc_id", "text")
    val evens = corpus.filter(col("doc_id") % 2 === 0)
    val odds = corpus.filter(col("doc_id") % 2 =!= 0)
    val oddDir = java.nio.file.Files
      .createTempDirectory("graft-refbands").toString
    Dedup.refCorpusBands(odds, "text", "doc_id")
      .write.mode("overwrite").parquet(oddDir)
    val reuse = Dedup.crossCorpusNearDupPrebanded(evens,
      s.read.parquet(oddDir), "text", "doc_id")
    val recomputed = Dedup.crossCorpusNearDup(evens, odds, "text", "doc_id")
    assert(reuse.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(reuse).isEmpty)
  }

  test("qlog2 is exact on powers of two and monotone between them") {
    import org.apache.spark.sql.functions.lit
    val vals = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1000L, 1024L, 1025L, 1L << 40)
    val out = s.range(1).select(
      vals.map(v => Retrieval.qlog2(lit(v))): _*).head()
    val got = vals.indices.map(out.getLong)
    // 1024 units per bit: qlog2(2^n) = 1024n exactly
    assert(got(0) == 0L && got(1) == 1024L && got(3) == 2048L &&
      got(5) == 3072L && got(7) == 10240L && got(9) == 40960L)
    // linear interpolation inside the octave: qlog2(3) = 1024 + 512
    assert(got(2) == 1536L)
    // monotone across the sampled points
    assert(got.zip(got.tail).forall { case (a, b) => a <= b } ||
      got.sorted == got) // vals are ascending, so got must be non-decreasing
  }

  test("bm25 ranks the doc saturated with a rare query term first") {
    // 'zebra' appears only in docs 1 and 2; doc 1 is shorter and denser.
    // 'filler' is corpus-wide so its idf is tiny.
    val d = docs(
      (1L, "zebra zebra zebra filler"),
      (2L, "zebra filler filler filler filler filler filler filler"),
      (3L, "filler filler filler filler"),
      (4L, "filler other words here"))
    val out = Retrieval.bm25TopK(d, "text", "doc_id",
      Seq(0 -> Seq("zebra", "filler")), k = 4)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(out.head == (1L, 1)) // densest rare-term doc wins
    assert(out.map(_._1).take(2) == Seq(1L, 2L)) // any 'zebra' doc beats none
    assert(out.size == 4) // 'filler' docs still score (positive idf floor)
  }

  test("bm25 duplicate query terms count once and unknown terms drop out") {
    val d = docs((1L, "alpha beta"), (2L, "beta gamma"))
    val once = Retrieval.bm25TopK(d, "text", "doc_id",
      Seq(0 -> Seq("alpha")), k = 2).collect()
    val dup = Retrieval.bm25TopK(d, "text", "doc_id",
      Seq(0 -> Seq("alpha", "alpha", "nosuchterm")), k = 2).collect()
    assert(once.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      dup.map(r => (r.getLong(1), r.getLong(2))).toSeq)
    assert(once.map(_.getLong(1)).toSeq == Seq(1L)) // only doc 1 matches
  }

  test("semantic dedup drops the same-cluster near-identical vector, keeps the min id") {
    val l = new java.util.ArrayList[Row]()
    // cluster A: two near-identical (cos ~ 1) + its exemplar; cluster B: far
    l.add(Row(0L, Seq(1.0f, 0.0f, 0.0f)))
    l.add(Row(1L, Seq(0.999f, 0.001f, 0.0f))) // near-dup of 0 → dropped
    l.add(Row(2L, Seq(-1.0f, 0.0f, 0.0f)))    // opposite → own cluster
    l.add(Row(3L, Seq(-0.999f, -0.001f, 0.0f))) // near-dup of 2 → dropped
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    val out = Dedup.semanticDedup(e, "vec_id", "embedding",
      nCells = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(0L) == (0L, true) && out(2L) == (0L, true))
    assert(out(1L) == (1L, false) && out(3L) == (1L, false))
  }

  test("collocations surface the planted phrase with exact counts") {
    // 'new york' 6×; 'of the' 6× but both tokens are everywhere (low lift)
    val phrase = "new york"
    val noise = "of the and of the and of the"
    val d = docs(
      (1L, s"$phrase $noise $phrase"), (2L, s"$phrase $noise $phrase"),
      (3L, s"$phrase $noise $phrase"), (4L, s"$noise of the of and"))
    val out = TextAnalysis.collocations(d, "text", "doc_id",
      minCount = 5L, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(5))))
    val top = out.head
    assert(top._1 == ("new", "york"))
    assert(top._2._1 == 6L) // n_ab exact
    // every reported pair meets the min count and scores are non-increasing
    assert(out.forall(_._2._1 >= 5L))
    assert(out.map(_._2._2).sliding(2).forall(s => s.head >= s.last))
  }

  test("naive bayes classifies by training vocabulary; smoothing handles unseen tokens") {
    val l = new java.util.ArrayList[Row]()
    l.add(Row(0L, "apfel birne apfel kirsche", "de"))
    l.add(Row(2L, "birne apfel apfel", "de"))
    l.add(Row(4L, "apple pear apple cherry", "en"))
    l.add(Row(6L, "pear apple apple", "en"))
    val train = s.createDataFrame(l, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType))))
    val t = new java.util.ArrayList[Row]()
    t.add(Row(1L, "apfel birne", "de"))
    t.add(Row(3L, "apple pear neverseen", "en")) // unseen token → smoothed
    val test = s.createDataFrame(t, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType))))
    val out = TextAnalysis.naiveBayesClassify(train, test,
      "text", "doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "de", 3L -> "en"))
  }

  test("prototype classifier assigns queries to the nearest label mean") {
    val l = new java.util.ArrayList[Row]()
    l.add(Row(100L, Seq(1.0f, 0.0f), 1))
    l.add(Row(101L, Seq(0.8f, 0.2f), 1))
    l.add(Row(102L, Seq(0.0f, 1.0f), 2))
    l.add(Row(103L, Seq(0.2f, 0.8f), 2))
    l.add(Row(0L, Seq(0.85f, 0.15f), 9)) // near label-1 mean
    l.add(Row(1L, Seq(0.1f, 0.9f), 9))   // near label-2 mean
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    val out = Similarity.prototypeClassify(e.filter(col("vec_id") >= 100),
      e.filter(col("vec_id") < 100), "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(0L -> 1, 1L -> 2))
    // prototypes are the truncating integer means of the quantized vectors
    val protos = Similarity.labelPrototypes(e.filter(col("vec_id") >= 100),
      "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(protos(1) == Seq(900L, 100L)) // (1000+800)/2, (0+200)/2
    assert(protos(2) == Seq(100L, 900L))
  }

  test("vocab drift surfaces the token over-represented in the new corpus") {
    val ref = docs((0L, "stable common words stable common"),
      (2L, "stable common words here"))
    val newC = docs((1L, "drifty drifty drifty stable common"),
      (3L, "drifty drifty words common"))
    val out = TextAnalysis.vocabDrift(newC, ref, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.head._1 == "drifty")
    assert(out.head._2 == 5L && out.head._3 == 0L) // exact counts
    // a token only in the reference drifts negative
    val stable = out.find(_._1 == "stable").get
    assert(stable._4 < out.head._4)
    assert(out.map(_._4).sliding(2).forall(s => s.head >= s.last))
  }

  test("bpe merge candidates count within-token pairs weighted by tf") {
    val d = docs((1L, "aaab aaab aaab"), (2L, "xy aaab"))
    val out = TextAnalysis.bpeMergeCandidates(d, "text", topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out(("a", "a")) == 8L) // 'aaab' tf=4, two 'aa' pairs each
    assert(out(("a", "b")) == 4L)
    assert(out(("x", "y")) == 1L)
  }

  test("confusion matrix counts (true, predicted) pairs; diagonal = correct") {
    val l = new java.util.ArrayList[Row]()
    l.add(Row(1L, "en")); l.add(Row(2L, "en")); l.add(Row(3L, "de"))
    val truth = s.createDataFrame(l, StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType))))
    val p = new java.util.ArrayList[Row]()
    p.add(Row(1L, "en")); p.add(Row(2L, "de")); p.add(Row(3L, "de"))
    val pred = s.createDataFrame(p, StructType(Seq(
      StructField("doc_id", LongType), StructField("pred_label", StringType))))
    val out = TextAnalysis.confusionMatrix(pred, truth, "doc_id",
      "pred_label", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("en", "en") -> 1L, ("en", "de") -> 1L, ("de", "de") -> 1L))
  }

  test("recall@k: hits counted per query, zero-hit queries still appear") {
    def tk(rows: (Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (q, i) => l.add(Row(q, i)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("query_id", LongType), StructField("item_id", LongType))))
    }
    val exact = tk((0L, 10L), (0L, 11L), (1L, 20L), (1L, 21L))
    val approx = tk((0L, 10L), (0L, 99L), (1L, 98L), (1L, 97L))
    val out = Similarity.recallAtK(approx, exact, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((0L, 1L, 50L), (1L, 0L, 0L)))
  }

  test("bigram LM: hand-computed qlog2 NLL; short docs emit zeros") {
    def mk(rows: (Long, String)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (id, t) => l.add(Row(id, t)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    }
    // train "a b a b": V=2, cnt2 (a,b)=2 (b,a)=1, ctx a=2 b=1
    // test "a b c": (a,b) px=(3<<30)//4 -> lp_q=-512; (b,c) px=(1<<30)//3
    // -> lp_q=-1707; nll_q=2219, avg=1109. test "z": no bigrams -> zeros
    val out = TextAnalysis.bigramLmScore(
      mk((0L, "a b a b")), mk((1L, "a b c"), (3L, "z")), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == ((2L, 2219L, 1109L)))
    assert(out(3L) == ((0L, 0L, 0L)))
  }

  test("pq: encode snaps to the nearest sub-centroid; ADC ranks the true neighbor first") {
    val l = new java.util.ArrayList[Row]()
    // two clear clusters per 2-dim subspace (4 dims, 2 subspaces)
    l.add(Row(0L, Seq(1.0f, 1.0f, -1.0f, -1.0f)))
    l.add(Row(1L, Seq(0.9f, 0.9f, -0.9f, -0.9f)))  // near 0
    l.add(Row(2L, Seq(-1.0f, -1.0f, 1.0f, 1.0f)))  // opposite corner
    l.add(Row(3L, Seq(-0.9f, -0.9f, 0.9f, 0.9f)))  // near 2
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    val cb = Pq.trainCodebooks(e, "vec_id", "embedding",
      numSubspaces = 2, cellsPerSub = 2, iters = 2)
    assert(cb.count() == 4) // 2 subspaces × 2 cells
    val codes = Pq.encode(e, "vec_id", "embedding", cb, numSubspaces = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes.size == 8) // one code per (vec, sub)
    // cluster-mates share codes in every subspace; opposite corners differ
    (0 until 2).foreach { sub =>
      assert(codes((0L, sub)) == codes((1L, sub)))
      assert(codes((2L, sub)) == codes((3L, sub)))
      assert(codes((0L, sub)) != codes((2L, sub)))
    }
    // ADC from query 0: its cluster-mate 1 must rank first
    val top = Pq.adcTopK(
      Pq.encode(e, "vec_id", "embedding", cb, numSubspaces = 2),
      e.filter(col("vec_id") === 0), "vec_id", "embedding", cb,
      k = 3, numSubspaces = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.head == (1L, 1))
    // dims not divisible into subspaces → clear error
    val err = intercept[IllegalArgumentException] {
      Pq.trainCodebooks(e, "vec_id", "embedding",
        numSubspaces = 3, cellsPerSub = 2, iters = 1)
    }
    assert(err.getMessage.contains("not divisible"))
  }

  test("knn classification takes the majority label; vote ties break on smaller label") {
    val l = new java.util.ArrayList[Row]()
    // labeled corpus: 3 of label 1 near +x, 2 of label 2 near +y
    l.add(Row(100L, Seq(1.0f, 0.0f), 1))
    l.add(Row(101L, Seq(0.99f, 0.01f), 1))
    l.add(Row(102L, Seq(0.98f, 0.02f), 1))
    l.add(Row(103L, Seq(0.0f, 1.0f), 2))
    l.add(Row(104L, Seq(0.01f, 0.99f), 2))
    // query 0 near +x → label 1 by 3 votes of 5
    l.add(Row(0L, Seq(0.9f, 0.1f), 9))
    val e = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    val out = Similarity.knnClassify(e.filter(col("vec_id") >= 100),
      e.filter(col("vec_id") < 100), "vec_id", "embedding", "label", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1, 3L)))
    // genuine 2–2 vote tie: best_rank decides (label 2 holds the nearest
    // neighbor, so it wins even though label 1 is smaller)
    val l2 = new java.util.ArrayList[Row]()
    l2.add(Row(200L, Seq(1.0f, 0.0f), 2)) // rank 1
    l2.add(Row(201L, Seq(0.9f, 0.0f), 1)) // rank 2
    l2.add(Row(202L, Seq(0.8f, 0.0f), 1)) // rank 3
    l2.add(Row(203L, Seq(0.7f, 0.0f), 2)) // rank 4
    l2.add(Row(0L, Seq(0.9f, 0.1f), 9))
    val e2 = s.createDataFrame(l2, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    val tied = Similarity.knnClassify(e2.filter(col("vec_id") >= 100),
      e2.filter(col("vec_id") < 100), "vec_id", "embedding", "label", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(tied.toSeq == Seq((0L, 2, 2L)))
  }

  test("bpe encode: hierarchical merges apply in rank order, greedy-left") {
    // merge 2 builds on merge 1's output symbol — the ordered replace
    // chain must realize the hierarchy; 'aaa' pins greedy-left semantics
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "a"))
    val d = docs((1L, "the aaa th"), (2L, ""))
    val vocab = TextAnalysis.bpeEncodeVocab(d, "text", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(vocab("the") == Seq("the"))
    assert(vocab("aaa") == Seq("aa", "a"))
    assert(vocab("th") == Seq("th"))
    val out = TextAnalysis.bpeEncode(d, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((3L, 4L))) // 3 tokens -> 1 + 2 + 1 pieces
    assert(out(2L) == ((0L, 0L))) // empty doc emits zeros
  }

  test("key skew: exact shares, vs-mean ratio, bounded top-k") {
    val d = docs((1L, "k"), (2L, "k"), (3L, "k"), (4L, "k"), (5L, "k"),
        (6L, "k"), (7L, "b"), (8L, "b"), (9L, "b"), (10L, "c"))
      .withColumn("key", when(col("doc_id") <= 6, lit("a"))
        .when(col("doc_id") <= 9, lit("b")).otherwise(lit("c")))
    val all = Stats.keySkew(d, "key", topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 10 rows over 3 keys: a=6 b=3 c=1
    assert(all.toSeq == Seq(("a", 6L, 600000L, 1800L),
      ("b", 3L, 300000L, 900L), ("c", 1L, 100000L, 300L)))
    val top2 = Stats.keySkew(d, "key", topK = 2).collect().map(_.getString(0))
    assert(top2.toSeq == Seq("a", "b"))
  }

  test("gopher rules: named facets, boundary cases, composite keep") {
    val good = (1 to 25).map(i => s"word$i").mkString(" ") + " the of"
    val short = "the of tiny"                       // fails wordcount only
    val longTok = (1 to 25).map(_ => "supercalifragilistic").mkString(" ") +
      " the of"                                      // fails mean word len
    val noStop = (1 to 25).map(i => s"word$i").mkString(" ") // fails stopwords
    val d = docs((1L, good), (2L, short), (3L, longTok), (4L, noStop))
    val out = TextAnalysis.gopherRules(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(out(2L) == ((false, true, true, true, false)))
    assert(out(3L) == ((true, false, true, true, false)))
    assert(out(4L) == ((true, true, true, false, false)))
    // facet values exact: doc 2 = 3 words, mean len (3+2+4)*100/3 = 300
    val f = TextAnalysis.gopherRules(d, "text", "doc_id")
      .filter(col("doc_id") === 2).head()
    assert(f.getLong(1) == 3L && f.getLong(2) == 300L &&
      f.getLong(3) == 100L && f.getLong(4) == 2L)
  }

  test("hard negatives: gold docs excluded before the cut, ranks dense") {
    val d = docs(
      (0L, "alpha beta alpha beta"),    // gold for query 0 — best match
      (1L, "alpha beta delta"),          // next best
      (2L, "alpha zeta zeta"),           // weaker
      (3L, "omega omega omega"))         // no query terms
    val l = new java.util.ArrayList[org.apache.spark.sql.Row]()
    l.add(org.apache.spark.sql.Row(0, 0L))
    val gold = s.createDataFrame(l, StructType(Seq(
      StructField("query_id", IntegerType), StructField("doc_id", LongType))))
    val q = Seq(0 -> Seq("alpha", "beta"))
    val neg = Retrieval.hardNegatives(d, "text", "doc_id", q, gold, k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    // doc 0 excluded; 1 and 2 rank densely; 3 never scores
    assert(neg.toSeq == Seq((1L, 1), (2L, 2)))
    // consistency: without gold, bm25TopK puts doc 0 first
    val top = Retrieval.bm25TopK(d, "text", "doc_id", q, k = 1)
      .collect().map(_.getLong(1))
    assert(top.toSeq == Seq(0L))
  }

  test("chunking: full coverage, overlap, short tail, empty doc") {
    // chunk=5, overlap=2, stride=3
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val d = docs((1L, ten), (2L, "a b c"), (3L, "   "))
    val out = TextAnalysis.chunkDocs(d, "text", "doc_id",
        chunkTokens = 5, overlapTokens = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(x => (x._1, x._2))
    // doc 1: [0,5) [3,8) [6,10) — covers all 10 tokens, no 4th chunk
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, 0L, 5L, "t1 t2 t3 t4 t5"),
      (1L, 1, 3L, 5L, "t4 t5 t6 t7 t8"),
      (1L, 2, 6L, 4L, "t7 t8 t9 t10")))
    // doc 2 fits in one short chunk; doc 3 (whitespace only) emits none
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0L, 3L, "a b c")))
    assert(!out.exists(_._1 == 3L))
    // map-only: tokenize → bounded explode → slice, no shuffle at all
    assert(!physicalPlan(TextAnalysis.chunkDocs(d, "text", "doc_id", 5, 2))
      .contains("Exchange"))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(d, "text", "doc_id", 5, 5)
    }
  }

  test("stratified split: exact floor proportions per stratum, deterministic") {
    // stratum a: 10 rows → 8/1/1; stratum b: 4 rows → 3/0/1 (floor + tail)
    val rows = (0L until 10L).map(i => (i, "a")) ++
      (100L until 104L).map(i => (i, "b"))
    val d = {
      import s.implicits._
      rows.toDF("doc_id", "cls")
    }
    val out = Sampling.stratifiedSplit(d, "cls", "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val byCls = out.groupBy(_._1).map { case (c, xs) =>
      c -> xs.groupBy(_._2).view.mapValues(_.size).toMap }
    assert(byCls("a") == Map("train" -> 8, "val" -> 1, "test" -> 1))
    // 4 rows: floor(4*.8)=3 train, floor(4*.9)-3=0 val, tail=1 test
    assert(byCls("b") == Map("train" -> 3, "test" -> 1))
    // deterministic under repartitioning
    val a = Sampling.stratifiedSplit(d.repartition(7), "cls", "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val b = Sampling.stratifiedSplit(d.repartition(2), "cls", "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(a == b)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(d, "cls", "doc_id", Seq("train" -> 90))
    }
  }

  test("rrf fusion: consensus docs rise, scores exact, n_lists counted") {
    import s.implicits._
    // list 1: q0 ranks A(1), B(2); list 2: q0 ranks B(1), C(2)
    val l1 = Seq((0, 10L, 1), (0, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val l2 = Seq((0, 11L, 1), (0, 12L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(l1, l2), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // B: 1e6/61 + 1e6/62 = 16393 + 16129 = 32522 over 2 lists
    assert(out.toSeq == Seq(
      (11L, 32522L, 2L, 1), (10L, 16393L, 1L, 2), (12L, 16129L, 1L, 3)))
  }

  test("ngram overlap: ppm precision/recall/f1, zero-overlap pairs kept") {
    import s.implicits._
    val d = docs(
      (1L, "a b c d"),   // bigrams ab bc cd
      (2L, "a b c x"),   // bigrams ab bc cx → overlap 2 of 3
      (3L, "p q"),       // bigram pq
      (4L, "r s"),       // bigram rs → no overlap with doc 3
      (5L, "solo"),      // < 2 tokens → empty set
      (6L, "t u"))
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L))
      .toDF("cand_id", "ref_id")
    val out = TextAnalysis.ngramOverlapScore(d, "text", "doc_id", pairs, n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(out(1L) == ((3L, 3L, 2L, 666666L, 666666L, 666666L)))
    assert(out(3L) == ((1L, 1L, 0L, 0L, 0L, 0L)))
    assert(out(5L) == ((0L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("contrastive pairs: anchor = cluster label, cap, singletons drop") {
    import s.implicits._
    // cluster 1 = {1,2,3,4,5,6}; cluster 7 = {7}; cluster 8 = {8,9}
    val cl = (Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 1L),
      (7L, 7L), (8L, 8L), (9L, 8L))).toDF("doc_id", "cluster_id")
    val out = Dedup.contrastivePairs(cl, maxPositives = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(x => (x._1, x._3))
    assert(out.toSeq == Seq((1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 3),
      (1L, 5L, 4), (8L, 9L, 1)))
  }

  test("ntile buckets: SQL NTILE semantics with deterministic ties") {
    import s.implicits._
    // class a: 5 rows, 2 buckets → sizes 3/2; ties on value break by id
    val d = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
      (4L, "a", 20L), (5L, "a", 20L), (6L, "b", 1L))
      .toDF("doc_id", "cls", "v")
    val out = Stats.ntileBuckets(d, "cls", "v", "doc_id", 2)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2, 6L -> 1))
  }

  test("global quantiles: exact rank pick through the bucketed scan") {
    import s.implicits._
    val d = (1L to 100L).toDF("v")
    val out = Stats.globalQuantiles(d, "v", Seq(1, 50, 99), nBuckets = 7)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(out.toSeq == Seq((1, 1L, 1L), (50, 50L, 50L), (99, 99L, 99L)))
    // heavy ties: 90×5 then 10×50 → p50 = 5, p99 = 50; 2 occupied buckets
    val t = (Seq.fill(90)(5L) ++ Seq.fill(10)(50L)).toDF("v")
    val o2 = Stats.globalQuantiles(t, "v", Seq(50, 99), nBuckets = 4)
      .collect().map(r => (r.getInt(0), r.getLong(2))).sorted
    assert(o2.toSeq == Seq((50, 5L), (99, 50L)))
    intercept[IllegalArgumentException] {
      Stats.globalQuantiles(d.filter(col("v") < 0), "v", Seq(50))
    }
  }

  test("diversity report: distinct bigram ratio and fertility per source") {
    import s.implicits._
    val d = Seq((1L, "x y z", "a"), (2L, "x y x y", "a"), (3L, "q", "b"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.diversityReport(d, "text", "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    // a: 7 tokens, 5 bigrams {xy,yz,yx,xy dup} -> 3 distinct; 12 chars
    // b: 1 token, 0 bigrams, 1 char
    assert(out.toSeq == Seq(
      ("a", 2L, 7L, 5L, 3L, 600000L, 583L),
      ("b", 1L, 1L, 0L, 0L, 0L, 1000L)))
  }

  test("char entropy: uniform, degenerate, and empty docs") {
    val d = docs((1L, "aaaa"), (2L, "aabb"), (3L, "abcd"), (4L, "aab"),
      (5L, ""))
    val out = TextAnalysis.charEntropy(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((4L, 0L)))     // one symbol: zero bits
    assert(out(2L) == ((4L, 1024L)))  // two equiprobable: exactly 1 bit
    assert(out(3L) == ((4L, 2048L)))  // four equiprobable: exactly 2 bits
    assert(out(4L) == ((3L, 853L)))   // (2/3,1/3): 0.833 bits piecewise
    assert(out(5L) == ((0L, 0L)))     // empty doc defined as zero
  }

  test("group budget select: per-group fill, straddler kept, keyed window") {
    import s.implicits._
    val d = Seq((1L, "a", 9L, 3L), (2L, "a", 9L, 3L), (3L, "a", 5L, 3L),
      (4L, "b", 1L, 10L)).toDF("doc_id", "grp", "score", "n_tokens")
    val out = Packing.groupBudgetSelect(d, "grp", "score", "doc_id",
      "n_tokens", budgetTokens = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1)
    // a: ids 1 (off 0), 2 (off 3, straddles), 3 (off 6 >= 5 dropped)
    // b: id 4 (off 0) kept even though it alone exceeds the budget
    assert(out.toSeq == Seq((1L, 0L), (2L, 3L), (4L, 0L)))
  }

  test("pagerank lite: exact fixed-point ranks on a hand-computed graph") {
    import s.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 2L)).toDF("src", "dst")
    val out = Graph.pageRankLite(nodes, "doc_id", edges, "src", "dst",
      iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r1 = (1000000, 1850000, 150000, 150000); hand-rolled second step
    assert(out == Map(1L -> 1722500L, 2L -> 1127500L, 3L -> 150000L,
      4L -> 150000L))
  }

  test("hll distinct: pinned estimates, floor case, repartition-invariant") {
    import s.implicits._
    val one = Seq(("g", 0L)).toDF("grp", "h")
    val o1 = Stats.hllDistinct(one, "grp", "h").collect().head
    assert((o1.getLong(1), o1.getLong(2), o1.getLong(3)) ==
      ((1L, 273804165184L, 184L)))  // raw-HLL floor on a 1-element group
    val many = (1L to 50000L).map(("g", _)).toDF("grp", "h")
    val est = Stats.hllDistinct(many, "grp", "h")
      .collect().head.getLong(3)
    assert(est == 50599L)  // 1.2% off 50000, bit-pinned
    val est7 = Stats.hllDistinct(many.repartition(7), "grp", "h")
      .collect().head.getLong(3)
    assert(est7 == est)
  }

  test("count-min sketch: exact-or-over estimates, absent key 0, mergeable") {
    import s.implicits._
    val h = Seq(1L, 1L, 1L, 2L, 2L, 9L).toDF("h")
    val sketch = Stats.countMinSketch(h, "h")
    val probes = Seq(1L, 2L, 9L, 42L).toDF("h")
    val est = Stats.cmsEstimate(sketch, probes, "h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est == Map(1L -> 3L, 2L -> 2L, 9L -> 1L, 42L -> 0L))
    // merge = cell-wise sum: sketch(A) + sketch(B) == sketch(A ∪ B)
    val a = Seq(1L, 1L, 2L).toDF("h"); val b = Seq(1L, 2L, 9L).toDF("h")
    val merged = Stats.countMinSketch(a, "h")
      .unionByName(Stats.countMinSketch(b, "h"))
      .groupBy("row_id", "bucket").agg(sum("n").as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = Stats.countMinSketch(h, "h")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == full)
  }

  test("random projection: linear, sign-symmetric, repartition-invariant") {
    import s.implicits._
    val v = Seq((1L, Seq(1f, 0f, 2f, -1f)), (2L, Seq(-1f, 0f, -2f, 1f)),
      (3L, Seq(2f, 0f, 4f, -2f))).toDF("vec_id", "embedding")
    val p = Similarity.randomProject(v, "vec_id", "embedding", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0L until 8L).foreach { j =>
      assert(p((2L, j)) == -p((1L, j)))   // proj(-v) = -proj(v)
      assert(p((3L, j)) == 2L * p((1L, j))) // proj(2v) = 2·proj(v)
    }
    val p7 = Similarity.randomProject(v.repartition(7), "vec_id",
      "embedding", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(p7 == p)
  }

  test("normalize text: case, punct runs, whitespace, unchanged flag") {
    val d = docs((1L, "Hello,  World!!"), (2L, "abc 123"), (3L, "你好"))
    val out = d.select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "hello world", 2L -> "abc 123", 3L -> ""))
  }

  test("zipf fit: exact slope/intercept on a perfect power law") {
    import s.implicits._
    // tf = 12/r: qlog2 happens to be exact on these ratios, so the fit
    // recovers slope -1 and intercept qlog2(12) with zero residual
    val tf = Seq(("a", 12L), ("b", 6L), ("c", 4L), ("d", 3L))
      .toDF("token", "tf")
    val out = Stats.zipfFit(tf, "tf").collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) ==
      ((4L, 1000L, 3584L)))
  }

  test("cohen kappa: exact ppm agreement, chance correction, clamp") {
    import s.implicits._
    val d = Seq(("x", "x"), ("x", "x"), ("x", "y"), ("y", "y"))
      .toDF("a", "b")
    val out = Stats.cohenKappa(d, "a", "b").collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3)) == ((4L, 750000L, 500000L, 500000L)))
    // worse than chance clamps to 0
    val w = Seq(("x", "y"), ("y", "x")).toDF("a", "b")
    assert(Stats.cohenKappa(w, "a", "b").collect().head.getLong(3) == 0L)
  }

  test("calibration bins: value binning, mean score and positive rate") {
    import s.implicits._
    val p = Seq((50000L, false), (150000L, false), (950000L, true),
      (999999L, true)).toDF("score_ppm", "label")
    val out = Stats.calibrationBins(p, "score_ppm", "label", nBins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      0L -> ((1L, 50000L, 0L)),
      1L -> ((1L, 150000L, 0L)),
      9L -> ((2L, 974999L, 1000000L))))
  }

  test("bloom filter: no false negatives, pinned negatives, or-merge") {
    import s.implicits._
    val in = Seq(1L, 2L, 3L).toDF("h")
    val bloom = Stats.bloomBuild(in, "h")
    val probes = Seq(1L, 2L, 3L, 100L, 101L, 102L, 103L, 104L).toDF("h")
    val out = Stats.bloomContains(bloom, probes, "h")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(out(_)))
    assert(Seq(100L, 101L, 102L, 103L, 104L).forall(!out(_))) // m=65536, n=3
    // shard merge = block-wise bit_or
    val a = Seq(1L, 2L).toDF("h"); val b = Seq(2L, 3L).toDF("h")
    val merged = Stats.bloomBuild(a, "h").unionByName(Stats.bloomBuild(b, "h"))
      .groupBy("block_id").agg(expr("bit_or(bits)").as("bits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Stats.bloomBuild(in, "h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == full)
  }

  test("triangle counts: shared-edge triangles, direction/dup-proof, zeros") {
    import s.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // triangles (1,2,3) and (2,3,4); edge (1,2) also given reversed + dup
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L),
      (2L, 4L), (3L, 4L), (3L, 5L)).toDF("src", "dst")
    val out = Graph.triangleCounts(nodes, "doc_id", edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("mi terms: frequency-weighted pmi ranks class signatures") {
    import s.implicits._
    val d = Seq((1L, "x y", "a"), (2L, "x z", "a"), (3L, "y", "b"),
      (4L, "y z", "b")).toDF("doc_id", "text", "cls")
    val out = TextAnalysis.miTerms(d, "text", "doc_id", "cls", k = 2)
      .collect().map(r => (r.getString(0), r.getInt(4)) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(("a", 1)) == (("x", 2L, 2048L)))  // 2*(qlog2(8)-qlog2(4))
    assert(out(("a", 2)) == (("z", 1L, 0L)))     // qlog2(4)-qlog2(4)
    assert(out(("b", 1)) == (("y", 2L, 1024L)))  // 2*(qlog2(8)-qlog2(6))
    assert(out(("b", 2)) == (("z", 1L, 0L)))
  }

  test("label propagation: seeds fixed, tie-break, reach by hops, nulls") {
    import s.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 9L).toDF("doc_id")
    val und = Seq((1L, 2L), (2L, 3L), (4L, 5L), (1L, 9L), (5L, 9L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (5L, "b")).toDF("doc_id", "label")
    val out = Graph.labelPropagate(nodes, "doc_id", edges, "src", "dst",
      seeds, "doc_id", "label", iterations = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // 9 sees one 'a' and one 'b' vote: tie breaks to 'a' (label asc);
    // 3 is reached on the second hop; 6 is isolated and stays null
    assert(out == Map(1L -> Some("a"), 2L -> Some("a"), 3L -> Some("a"),
      4L -> Some("b"), 5L -> Some("b"), 6L -> None, 9L -> Some("a")))
  }

  test("dedup rate report: per-source member-of-cluster ppm") {
    import s.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (7L, 7L),
      (4L, 4L), (5L, 4L), (6L, 6L)).toDF("doc_id", "cluster_id")
    val d = Seq((1L, "a"), (2L, "a"), (3L, "a"), (7L, "a"),
      (4L, "b"), (5L, "b"), (6L, "b")).toDF("doc_id", "source")
    val out = Dedup.dedupRateReport(clusters, d, "doc_id", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map("a" -> ((4L, 2L, 500000L)),
      "b" -> ((3L, 2L, 666666L))))
  }

  test("containment pairs: subset doc scores 1e6 one-way, gate fires") {
    val long = (1 to 20).map(i => s"tok$i").mkString(" ")
    val short = (1 to 16).map(i => s"tok$i").mkString(" ")
    val other = (1 to 20).map(i => s"zzz$i").mkString(" ")
    val d = docs((1L, long), (2L, short), (3L, other))
    // Jaccard is 14/18 = 77% — an ngramJaccardPairs at 90% would miss it;
    // containment of the short side is exactly 100%
    val out = Dedup.containmentPairs(d, "text", "doc_id",
      minContainPct = 90)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(out == Map((1L, 2L) -> ((14L, 18L, 14L, 777777L, 1000000L))))
  }

  test("chi square: exact statistic, zero cells of the full grid counted") {
    import s.implicits._
    val strong = (Seq.fill(30)(("x", 0L)) ++ Seq.fill(10)(("x", 1L)) ++
      Seq.fill(10)(("y", 0L)) ++ Seq.fill(30)(("y", 1L))).toDF("r", "c")
    val o1 = Stats.chiSquare(strong, "r", "c").collect().head
    assert((o1.getLong(0), o1.getLong(1), o1.getLong(2)) ==
      ((80L, 1L, 20000L)))  // chi2 = 20 exactly
    val sparse = (Seq.fill(2)(("x", 0L)) ++ Seq.fill(2)(("x", 1L)) ++
      Seq.fill(2)(("y", 0L))).toDF("r", "c")
    val o2 = Stats.chiSquare(sparse, "r", "c").collect().head
    assert((o2.getLong(0), o2.getLong(1), o2.getLong(2)) ==
      ((6L, 1L, 1500L)))    // the absent (y,1) cell contributes its mass
  }

  test("snapshot diff: added/removed/changed/unchanged from hash pairs") {
    val a = docs((1L, "x"), (2L, "y"), (3L, "z"))
    val b = docs((2L, "y"), (3L, "zz"), (4L, "w"))
    val out = Snapshot.diff(a, b, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val sum = Snapshot.diffSummary(a, b, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum == Map("removed" -> 1L, "unchanged" -> 1L,
      "changed" -> 1L, "added" -> 1L))
  }

  test("log-histogram quantiles: exact bucket pick and shard-mergeability") {
    import s.implicits._
    // 1..100: bucket b holds values [2^(b-1), 2^b-1]; p50 rank 50 →
    // bucket 6 (cum 63), p99 rank 99 → bucket 7 (cum 100)
    val v = (1L to 100L).toDF("v")
    val out = Stats.logHistQuantiles(v, "v", Seq(50, 99))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((50, 6L, 63L, 63L), (99, 7L, 127L, 100L)))
    // mergeability: quantiles over A++B equal quantiles over the summed
    // bucket counts of A and B (what a per-shard rollup would store)
    val a = (1L to 40L).toDF("v"); val b = (41L to 100L).toDF("v")
    val merged = Stats.logHistQuantiles(a.unionAll(b), "v", Seq(90))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(merged == Seq((90, 7L)))
  }

  test("blocked fuzzy pairs: match within block, miss across, cap drops") {
    import s.implicits._
    val parts = Seq(
      (1L, "small ring"), (2L, "small rink"), (3L, "small gear"),
      (4L, "large ring"), (5L, "small ring")).toDF("id", "name")
    val pairs = Linkage.blockedFuzzyPairs(parts, "id", "name",
        substring_index(col("name"), " ", 1), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).sortBy(p => (p._1, p._2))
    // (1,2) dist 1, (1,5) dist 0, (2,5) dist 1; gear is 3+ edits away;
    // "large ring" is in another block despite dist 1 to "small ring"
    assert(pairs.toSeq == Seq((1L, 2L, 1), (1L, 5L, 0), (2L, 5L, 1)))
    val capped = Linkage.blockedFuzzyPairs(parts, "id", "name",
        substring_index(col("name"), " ", 1), maxDist = 1, maxBlockSize = 3)
      .collect()
    assert(capped.isEmpty) // the 4-row "small" block is over the cap
    val report = Linkage.oversizedBlocks(parts,
        substring_index(col("name"), " ", 1), maxBlockSize = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(report.toSeq == Seq(("small", 4L)))
  }

  test("salted triangular fuzzy join emits exactly the unsalted pairs") {
    import s.implicits._
    // enough rows that every salt-combo shape (same-salt, cross-salt)
    // occurs; salted must be a pure parallelism change
    val parts = (1L to 40L).map(i =>
      (i, s"blk${i % 2} name${i % 7}")).toDF("id", "name")
    def run(salt: Int) = Linkage.blockedFuzzyPairs(parts, "id", "name",
        substring_index(col("name"), " ", 1), maxDist = 2,
        saltBuckets = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    val plain = run(0)
    assert(plain.nonEmpty)
    assert(run(4) == plain)
    assert(run(16) == plain) // more salts than rows per block still exact
  }

  test("simhash pairs cap: over-cap buckets star to the min, dedup holds") {
    val oneText = (1 to 50).map(i => s"w$i").mkString(" ")
    val d = docs((1L to 10L).map(i => (i, oneText)): _*)
    val capped = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 2,
      maxBucketSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 10 identical docs, cap 4: the star links every copy to doc 1 —
    // n-1 pairs instead of 45, same connected component
    assert(capped.toSet == (2L to 10L).map(b => (1L, b)).toSet)
  }

  test("status intervals: runs collapse, ties break on id, last is open") {
    import s.implicits._
    val ev = Seq(
      (7L, 10L, 1L, "a"), (7L, 20L, 2L, "a"), (7L, 30L, 3L, "b"),
      (7L, 30L, 4L, "a"), // tie at ts=30 → order by id: b then a
      (9L, 5L, 5L, "x")).toDF("k", "ts", "id", "st")
    val out = graft.streaming.EventTimeOps
      .statusIntervals(ev, "k", "ts", "id", "st")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getLong(5), r.getBoolean(6)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (7L, 1L, "a", 10L, 30L, 2L, false),
      (7L, 2L, "b", 30L, 30L, 1L, false),
      (7L, 3L, "a", 30L, -1L, 1L, true),
      (9L, 1L, "x", 5L, -1L, 1L, true)))
  }

  test("interarrival stats: keyed gaps, truncating integer avg") {
    import s.implicits._
    val ev = Seq(
      (1L, 0L, 1L, "t"), (1L, 10L, 2L, "t"), (1L, 25L, 3L, "t"),
      (2L, 100L, 4L, "t"), (2L, 104L, 5L, "u")).toDF("k", "ts", "id", "g")
    val out = graft.streaming.EventTimeOps
      .interarrivalStats(ev, "k", "ts", "id", "g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    // key 1 gaps: 10 (→t), 15 (→t); key 2 gap: 4 (→u)
    assert(out.toSeq == Seq(("t", 2L, 10L, 15L, 12L), ("u", 1L, 4L, 4L, 4L)))
  }

  test("degree histogram includes the zero row for isolated nodes") {
    import s.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val out = Graph.degreeHistogram(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 1L -> 2L, 2L -> 1L))
  }

  test("k-core peeling: cascades across rounds, core survives") {
    import s.implicits._
    // triangle {1,2,3} (each deg>=2) + tail 3-4-5: 5 peels round 1,
    // 4 peels only in round 2 (after losing 5) — the cascade
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val out = Graph.kcoreSurvivors(nodes, "id", edges, "a", "b",
        k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 1L, 5L -> 0L))
  }

  test("percentile rank: 0 at min, 1e6 at max, singleton class gets 0") {
    import s.implicits._
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 999L)).toDF("id", "cls", "v")
    val out = Stats.percentileRank(df, "cls", "v", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 0L, 2L -> 500000L, 3L -> 1000000L, 4L -> 0L))
  }

  test("split leakage: only cross-split candidate pairs survive") {
    import s.implicits._
    val cands = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val assign = Seq((1L, "train"), (2L, "test"), (3L, "train"),
      (4L, "train")).toDF("doc_id", "split")
    val out = Dedup.splitLeakagePairs(cands, assign, "doc_id", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 2L, "train", "test")))
  }

  test("user features: conditional counts, sums, exact active days") {
    import s.implicits._
    val ev = Seq(
      (1L, 0L, "view", 10L), (1L, 1000L, "click", 20L),
      (1L, 86400000L, "view", 30L), // second day
      (2L, 5L, "other", 7L)).toDF("k", "ts", "et", "cents")
    val out = graft.streaming.EventTimeOps.userActivityFeatures(
        ev, "k", "ts", "et", "cents", Seq("view", "click"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    // (n_events, n_view, n_click, sum_value, first, last, active_days)
    assert(out(1L) == ((3L, 2L, 1L, 60L, 0L, 86400000L, 2L)))
    assert(out(2L) == ((1L, 0L, 0L, 7L, 5L, 5L, 1L))) // unlisted type
  }

  test("class centroid distances: identical labels at 0, symmetry by a<b") {
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(1.0f, 0.0f), 2))
      .toDF("id", "vec", "label")
    val out = Similarity.classCentroidDistances(df, "id", "vec", "label")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    // centroids: l0 = l2 = (1000, 0); l1 = (0, 1000)
    assert(out == Map((0, 1) -> 2000000L, (0, 2) -> 0L, (1, 2) -> 2000000L))
  }

  test("mad outliers: zero-MAD class flags every deviation") {
    import s.implicits._
    val df = (Seq.fill(6)(("a", 100L)) ++ Seq(("a", 100000L)) ++
      Seq(("b", 1L), ("b", 2L), ("b", 3L))).toDF("cls", "v")
    val out = Stats.madOutlierReport(df, "cls", "v", k = 5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // class a: median 100, MAD 0 → the 100000 row is the lone outlier
    assert(out("a") == ((7L, 100L, 0L, 1L)))
    // class b: median 2, MAD 1, no value beyond 5*1 from 2
    assert(out("b") == ((3L, 2L, 1L, 0L)))
  }

  test("sketch merge: split + merge finalizes to the one-pass quantiles") {
    import s.implicits._
    val v = (1L to 100L).toDF("v")
    val whole = Stats.logHistQuantiles(v, "v", Seq(50, 90, 99))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val merged = Stats.logHistQuantilesFromSketch(
        Stats.logHistMerge(
          Stats.logHistSketch(v.filter(col("v") <= 37L), "v"),
          Stats.logHistSketch(v.filter(col("v") > 37L), "v")),
        Seq(50, 90, 99))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(merged == whole)
  }

  test("grouped sketch quantiles: per-class picks, keyed windows") {
    import s.implicits._
    val df = ((1L to 100L).map(v => ("a", v)) ++
      Seq(("b", 1L), ("b", 1000L))).toDF("cls", "v")
    val out = Stats.groupLogHistQuantiles(df, "cls", "v", Seq(50, 99))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    // class a mirrors the global spec: p50 → bucket 6, p99 → bucket 7;
    // class b: p50 → bucket 1 (value 1), p99 → bucket 10 (1000)
    assert(out == Map(("a", 50) -> 6L, ("a", 99) -> 7L,
      ("b", 50) -> 1L, ("b", 99) -> 10L))
  }

  test("sketch percentile score: dense lookup, below-all scores 0") {
    import s.implicits._
    val ref = (1L to 100L).toDF("v") // cum: b6=63, b7=100
    val target = Seq((1L, 40L), (2L, 1L), (3L, 100L)).toDF("id", "v")
    val out = Stats.logHistPercentileScore(target, "v", ref, "v")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("est_pctile_ppm")).toMap
    // 40 → bucket 6 → n_le 63 → 630000; 1 → bucket 1 → n_le 1 → 10000;
    // 100 → bucket 7 → n_le 100 → 1000000
    assert(out == Map(1L -> 630000L, 2L -> 10000L, 3L -> 1000000L))
    // the target side meets the dense sketch in a broadcast equality join,
    // so scoring ships the sketch, never the targets
    withoutAutoBroadcast {
      assert(physicalPlan(Stats.logHistPercentileScore(target, "v", ref, "v"))
        .contains("BroadcastHashJoin"))
    }
  }

  test("status enrichment: every event gets exactly its at-time status") {
    import s.implicits._
    val ev = Seq(
      (7L, 10L, 1L, "a"), (7L, 20L, 2L, "a"), (7L, 30L, 3L, "b"),
      (7L, 40L, 4L, "a"), (9L, 5L, 5L, "x")).toDF("k", "ts", "id", "st")
    val iv = graft.streaming.EventTimeOps
      .statusIntervals(ev, "k", "ts", "id", "st")
    val now = 41L
    val ivc = iv.select(col("key").as("k"), col("run_id"), col("status"),
      col("valid_from_ms"),
      coalesce(col("valid_to_ms"), lit(now)).as("valid_to_ms"))
    val out = RangeJoin.bucketed(
        ev.select(col("k"), col("ts"), col("id")), ivc,
        "k", "ts", "valid_from_ms", "valid_to_ms", bucketWidth = 15L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status"))
      .toMap
    assert(out == Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "x"))
  }

  test("gapfill: dense grid, last-in-bucket pick, forward fill across holes") {
    import s.implicits._
    // key 1: buckets 0 (two obs, later wins), 1 (hole), 3 (obs) over step 10
    val ev = Seq(
      (1L, 3L, 1L, 100L), (1L, 7L, 2L, 200L), // bucket 0 → last is 200
      (1L, 35L, 3L, 900L), // bucket 3; buckets 1,2 are holes
      (2L, 10L, 4L, 5L)).toDF("k", "ts", "id", "v")
    val out = graft.streaming.EventTimeOps
      .gapfillForwardFill(ev, "k", "ts", "id", "v", stepMs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 0L, 200L, true), (1L, 10L, 200L, false), (1L, 20L, 200L, false),
      (1L, 30L, 900L, true), (2L, 10L, 5L, true)))
  }

  test("weighted keep: threshold tracks weight and saturates at certainty") {
    import s.implicits._
    val df = Seq((1L, 0L), (2L, 1000L), (3L, 5000L), (4L, 0L))
      .toDF("id", "w")
    val out = Sampling.weightedKeep(df, "id", "w", perUnitPpm = 300L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // weight 0 → threshold 0 → never kept; weight 5000*300 saturates at 1e6
    assert(!out.contains(1L) && !out.contains(4L))
    assert(out.get(3L).contains(1000000L)) // certainty: hash mod 1e6 < 1e6
    // weight 1000 → threshold 300000: kept iff idHash(2) mod 1e6 < 300000
    val h2 = ((2L % 2147483647L) * 2654435761L % 2147483647L) % 1000000L
    assert(out.contains(2L) == (h2 < 300000L))
  }

  test("mmr rerank: diversity beats redundant relevance at rank 2") {
    import s.implicits._
    // rel: a=100, b=95, c=60. a and b near-identical (sim 10000),
    // c orthogonal (sim 0). MMR(λ=.7): rank1=a; rank2: b scores
    // 7*95-3*10000 << c's 7*60-0 → c wins despite lower relevance.
    val cand = Seq(
      (1L, 100L, Seq(100L, 0L)), (2L, 95L, Seq(100L, 0L)),
      (3L, 60L, Seq(0L, 80L)))
      .toDF("id", "rel", "v")
    val out = Retrieval.mmrRerank(cand, "id", "rel", "v", k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L))
    assert(out.head._3 == 700L) // rank-1 score = lambdaX10 * rel
    // guarded collect: an over-limit candidate set must be refused
    val big = s.range(0, 10).select(col("id"), lit(1L).as("rel"),
      array(lit(1L)).as("v"))
    intercept[IllegalArgumentException] {
      Retrieval.mmrRerank(big, "id", "rel", "v", k = 2, maxCandidates = 5)
    }
  }

  test("simhash pairs: exact hamming<=maxHamming recall vs brute force") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val d = docs(
      (1L, base), (2L, base), // identical → hamming 0
      (3L, base.replace("w30", "w30x")), // near → small hamming
      (4L, (1 to 60).map(i => s"z${i}z").mkString(" ")))
    val sh = Dedup.simhash(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 2
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute) // pigeonhole bands lose NO pair within budget
    assert(got.contains((1L, 2L)))
    val h12 = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(h12((1L, 2L)) == 0L)
  }

  test("rocAucReport: perfect, inverted, and tied separation in ppm") {
    val rows = new java.util.ArrayList[Row]()
    Seq(("p", 10L), ("p", 20L), ("n", 1L), ("n", 2L))
      .foreach { case (l, v) => rows.add(Row(l, v)) }
    val df = s.createDataFrame(rows, StructType(Seq(
      StructField("label", StringType), StructField("score", LongType))))
    val out = Stats.rocAucReport(df, "label", "score")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("p") == (2L, 2L, 1000000L)) // every p outscores every n
    assert(out("n") == (2L, 2L, 0L))       // and vice versa
    // all-tied scores → AUC exactly ½
    val tied = new java.util.ArrayList[Row]()
    Seq(("p", 5L), ("n", 5L)).foreach { case (l, v) => tied.add(Row(l, v)) }
    val t = Stats.rocAucReport(s.createDataFrame(tied, df.schema),
      "label", "score").collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(t("p") == 500000L && t("n") == 500000L)
  }

  test("ksStatistic: disjoint supports hit 1.0; identical hit 0") {
    def df(rows: (String, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (c, v) => l.add(Row(c, v)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("cls", StringType), StructField("score", LongType))))
    }
    val disj = Stats.ksStatistic(
      df(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)),
      "cls", "score", "a", "b").head()
    assert((disj.getLong(0), disj.getLong(1), disj.getLong(2),
      disj.getLong(3)) == (2L, 2L, 1000000L, 2L)) // full gap closes at s=2
    val same = Stats.ksStatistic(
      df(("a", 1L), ("a", 7L), ("b", 1L), ("b", 7L)),
      "cls", "score", "a", "b").head()
    assert(same.getLong(2) == 0L)
    assert(same.getLong(3) == 1L) // argmax tie → smallest score
  }

  test("histDriftReport: per-bucket fractions, delta, and 2×TVD") {
    def df(vs: Long*) = {
      val l = new java.util.ArrayList[Row]()
      vs.foreach(v => l.add(Row(v)))
      s.createDataFrame(l, StructType(Seq(StructField("v", LongType))))
    }
    // A: {1 → b1; 2, 3 → b2}; B: {1 → b1}
    val out = Stats.histDriftReport(df(1L, 2L, 3L), df(1L), "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(out(1L) == (1L, 1L, 333333L, 1000000L, -666667L, 1333333L))
    assert(out(2L) == (2L, 0L, 666666L, 0L, 666666L, 1333333L))
  }

  test("joinAudit: exact output size, skew, and each recommendation path") {
    def keys(name: String, ks: Long*) = {
      val l = new java.util.ArrayList[Row]()
      ks.foreach(k => l.add(Row(k)))
      s.createDataFrame(l, StructType(Seq(StructField("k", LongType))))
    }
    val left = keys("l", 1L, 1L, 2L)
    val right = keys("r", 1L, 2L, 2L)
    val r = Stats.joinAudit(left, right, "k").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (3L, 3L, 2L, 2L, 2L, 4L))
    assert(r.getString(9) == "broadcast_right") // fits under default cap
    // same frames, broadcast off: one key holds 2/4 of the output → salt
    val salted = Stats.joinAudit(left, right, "k", broadcastRows = 0L).head()
    assert(salted.getString(9) == "salt_skewed_keys")
    // uniform 1:1 keys, broadcast off → plain shuffle
    val u = keys("u", (1L to 100L): _*)
    val uni = Stats.joinAudit(u, u, "k", broadcastRows = 0L).head()
    assert(uni.getLong(5) == 100L && uni.getString(9) == "shuffle_hash")
  }

  test("temporalSplit: boundary rows split train/embargo/test exactly") {
    val l = new java.util.ArrayList[Row]()
    Seq(99L, 100L, 149L, 150L, 200L).foreach(t => l.add(Row(t)))
    val df = s.createDataFrame(l, StructType(Seq(StructField("ts", LongType))))
    val out = Sampling.temporalSplit(df, "ts", splitTs = 100L, embargoMs = 50L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(99L -> "train", 100L -> "embargo", 149L -> "embargo",
      150L -> "test", 200L -> "test"))
  }

  test("groupKFold: a group's rows never straddle folds; folds in [0,k)") {
    val l = new java.util.ArrayList[Row]()
    (1L to 200L).foreach(g => (1 to 3).foreach(i => l.add(Row(g, g * 10 + i))))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("g", LongType), StructField("v", LongType))))
    val out = Sampling.groupKFold(df, "g", k = 5)
    val perGroup = out.groupBy("g")
      .agg(countDistinct("fold").as("nf")).collect()
    assert(perGroup.forall(_.getLong(1) == 1L))
    val folds = out.select("fold").distinct().collect().map(_.getLong(0))
    assert(folds.forall(f => f >= 0L && f < 5L) && folds.length == 5)
    intercept[IllegalArgumentException] { Sampling.groupKFold(df, "g", 1) }
  }

  test("benfordReport: decimal-head digits, exclusions, absent digits") {
    val l = new java.util.ArrayList[Row]()
    Seq(1L, 10L, 199L, 2L, 3000L, 0L, -5L).foreach(v => l.add(Row(v)))
    val df = s.createDataFrame(l, StructType(Seq(StructField("v", LongType))))
    val out = Stats.benfordReport(df, "v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
      .toMap
    assert(out.size == 9)                       // all digits reported
    assert(out(1L) == (3L, 600000L, 600000L - 301030L))
    assert(out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(9L) == (0L, 0L, -45757L))        // absent digit, full deficit
  }

  test("hll sketch lifecycle: shard merge finalizes to the one-pass report") {
    val l = new java.util.ArrayList[Row]()
    (1L to 500L).foreach(h => l.add(Row(if (h % 2 == 0) "a" else "b", h * 7919L)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("grp", StringType), StructField("h", LongType))))
    val onePass = Stats.hllDistinct(df, "grp", "h")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val merged = Stats.hllFinalize(Stats.hllMerge(
        Stats.hllSketch(df.filter(col("h") % 3 === 0), "grp", "h"),
        Stats.hllSketch(df.filter(col("h") % 3 =!= 0), "grp", "h")), "grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(merged.toSeq == onePass.toSeq) // register max is associative
  }

  test("abLift: per-variant rates and relative lift vs control") {
    val l = new java.util.ArrayList[Row]()
    Seq(("a", true), ("a", false), ("a", false), ("a", false),
      ("b", true), ("b", true), ("b", false), ("b", false))
      .foreach { case (v, c) => l.add(Row(v, c)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("variant", StringType), StructField("conv", BooleanType))))
    val out = Stats.abLift(df, "variant", "conv", control = "a")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == (4L, 1L, 250000L, 1000L))
    assert(out("b") == (4L, 2L, 500000L, 2000L))
  }

  test("gainTable: a perfect score ranks all positives into bin 1") {
    val l = new java.util.ArrayList[Row]()
    // 10 rows, scores 10..1, the two positives hold the top scores
    (1L to 10L).foreach(i => l.add(Row(i, 11L - i, i <= 2L)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("id", LongType), StructField("score", LongType),
      StructField("conv", BooleanType))))
    val out = Stats.gainTable(df, "score", "id", "conv", nBins = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // bin 1 (top 20%) captures 100% of positives → gain 5×
    assert(out(1L) == (2L, 2L, 2L, 1000000L, 5000L))
    assert(out(5L) == (2L, 0L, 2L, 1000000L, 1000L)) // full population
  }

  test("qqCompare: matched quantile values and ratio") {
    def vs(xs: Long*) = {
      val l = new java.util.ArrayList[Row]()
      xs.foreach(x => l.add(Row(x)))
      s.createDataFrame(l, StructType(Seq(StructField("v", LongType))))
    }
    val out = Stats.qqCompare(vs(1L to 10L: _*),
      vs((1L to 10L).map(_ * 2L): _*), "v", Seq(50, 90))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(50) == (5L, 10L, 500L))
    assert(out(90) == (9L, 18L, 500L))
  }

  test("rangePartitionPlan: balanced ranges report vs_even 1000") {
    val l = new java.util.ArrayList[Row]()
    (1L to 8L).foreach(v => l.add(Row(v)))
    val df = s.createDataFrame(l, StructType(Seq(StructField("v", LongType))))
    val out = Stats.rangePartitionPlan(df, "v", nPartitions = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L) == (4L, 1L, 4L, 1000L))
    assert(out(1L) == (4L, 5L, 8L, 1000L))
  }

  test("fdAudit: violating groups and their row mass") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, "x"), (1L, "y"), (1L, "x"), (2L, "x"))
      .foreach { case (a, b) => l.add(Row(a, b)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    val r = Stats.fdAudit(df, "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (2L, 1L, 3L, 750000L))
  }

  test("blocklistScreen: per-phrase bits and hit counts") {
    val d = docs((1L, "clean text here"), (2L, "has windowpane glass"),
      (3L, "hash and window both"))
    val out = TextAnalysis.blocklistScreen(d, "text", "doc_id",
      Seq("window", "hash"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(1L) == (0L, 0L))
    assert(out(2L) == (1L, 1L)) // substring match: windowpane hits
    assert(out(3L) == (3L, 2L))
  }

  test("bootstrapStability: deterministic replicates at the given rate") {
    val l = new java.util.ArrayList[Row]()
    (1L to 500L).foreach(i => l.add(Row(i, i)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    def run() = Sampling.bootstrapStability(df, "id", "v",
      nReplicates = 8, ratePct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val a = run(); val b = run()
    assert(a == b)                       // zero randomness
    assert(a.map(_._1) == (0L to 7L))    // every replicate reports
    // each replicate holds roughly ratePct of the rows
    assert(a.forall(r => r._2 > 200L && r._2 < 400L))
  }

  test("clusterSizeHistogram: dup shape summary") {
    val d = docs((1L, "same"), (2L, "same"), (3L, "unique"))
    val out = Dedup.clusterSizeHistogram(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map(1L -> (1L, 1L), 2L -> (1L, 2L)))
  }

  test("globalRank: bucket-keyed windows reproduce the global row_number") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, 5L), (2L, 3L), (3L, 3L), (4L, 9L))
      .foreach { case (id, v) => l.add(Row(id, v)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    val out = Stats.globalRank(df, "v", "id", nBuckets = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(2L -> 1L, 3L -> 2L, 1L -> 3L, 4L -> 4L))
  }

  test("bloomPrunedJoin: result equals the plain inner join") {
    def keyed(name: String, rows: (Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, v) => l.add(Row(k, v)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("k", LongType), StructField(name, LongType))))
    }
    val left = keyed("lv", (1L to 50L).map(i => i -> i * 10L): _*)
    val right = keyed("rv", (1L, 100L), (7L, 700L), (999L, 1L))
    val pruned = Stats.bloomPrunedJoin(left, right, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = left.join(right, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pruned == plain) // no false negatives → identical result
    assert(pruned.map(_._1) == Set(1L, 7L))
    // and on sf0.001 orders ⋈ BUILDING customers
    val dir = SparkSuite.Sf0001
    val o = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"))
    val c = s.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    val viaBloom = Stats.bloomPrunedJoin(o, c, "custkey")
    val direct = o.join(c, "custkey")
    assert(viaBloom.count() > 0 && viaBloom.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaBloom).isEmpty)
  }

  test("temperatureWeights: uniform at α=0, proportional at α=1") {
    val l = new java.util.ArrayList[Row]()
    (1 to 2).foreach(_ => l.add(Row("a")))
    (1 to 8).foreach(_ => l.add(Row("b")))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("cls", StringType))))
    val uni = Sampling.temperatureWeights(df, "cls", alphaPermille = 0)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(uni == Map("a" -> 500000L, "b" -> 500000L))
    // powers of two are exact through the qlog2/qexp2 pair
    val prop = Sampling.temperatureWeights(df, "cls", alphaPermille = 1000)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(prop == Map("a" -> 200000L, "b" -> 800000L))
  }

  test("datasetFingerprint: order-independent, content-sensitive") {
    def f(rows: (Long, String)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (a, b) => l.add(Row(a, b)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("a", LongType), StructField("b", StringType))))
    }
    val x = Stats.datasetFingerprint(
      f((1L, "p"), (2L, "q"), (3L, "r")), Seq("a", "b")).head()
    val y = Stats.datasetFingerprint(
      f((3L, "r"), (1L, "p"), (2L, "q")), Seq("a", "b")).head()
    val z = Stats.datasetFingerprint(
      f((1L, "p"), (2L, "q"), (3L, "X")), Seq("a", "b")).head()
    assert(x.getLong(0) == 3L)
    assert((x.getLong(1), x.getLong(2)) == (y.getLong(1), y.getLong(2)))
    assert((x.getLong(1), x.getLong(2)) != (z.getLong(1), z.getLong(2)))
  }

  test("vocabCoverage: head token-mass shares at each k") {
    val d = docs((1L, "a a a b b c"))
    val out = TextAnalysis.vocabCoverage(d, "text", Seq(1, 2))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (1L, 3L, 500000L, 3L))
    assert(out(2L) == (2L, 5L, 833333L, 3L))
  }

  test("missingnessReport: null counting and exact NDV per column") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, "x"), (2L, null), (2L, "x"))
      .foreach { case (a, b) => l.add(Row(a, b)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    val out = Stats.missingnessReport(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == (3L, 0L, 0L, 2L))
    assert(out("b") == (3L, 1L, 333333L, 1L))
  }

  test("featureStats: exact centered variance, null exclusion") {
    val l = new java.util.ArrayList[Row]()
    Seq((2L, 7L), (4L, 7L), (6L, 7L)).foreach { case (a, b) =>
      l.add(Row(a, b)) }
    l.add(Row(null, 7L)) // null a excluded from a's stats only
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("a", LongType), StructField("b", LongType))))
    val out = Stats.featureStats(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(5), r.getLong(6))).toMap
    assert(out("a") == (3L, 4L, 2L)) // mean 4, var ((−2)²+0+2²)/3 = 2
    assert(out("b") == (4L, 7L, 0L)) // constant feature
  }

  test("classBalanceReport: shares and inverse-Simpson effective classes") {
    val l = new java.util.ArrayList[Row]()
    Seq("a", "a", "a", "b").foreach(x => l.add(Row(x)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("lbl", StringType))))
    val out = Stats.classBalanceReport(df, "lbl")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // n=4, Σc²=10 → 16·1000/10 = 1600 effective classes ×1000
    assert(out("a") == (3L, 750000L, 1600L))
    assert(out("b") == (1L, 250000L, 1600L))
  }

  test("hllTrailingDistinct: trailing merge equals the union-build sketch") {
    val l = new java.util.ArrayList[Row]()
    (1L to 200L).foreach(i => l.add(Row(1L, i * 104729L)))
    (150L to 350L).foreach(i => l.add(Row(2L, i * 104729L)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("day", LongType), StructField("h", LongType))))
    val trailing = Stats.hllTrailingDistinct(df, "day", "h", windowDays = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // day 1 window = day 1 alone; day 2 window = both days
    val d1 = Stats.hllDistinct(df.filter(col("day") === 1L)
      .withColumn("g", lit(0L)), "g", "h").head()
    val union = Stats.hllDistinct(df.withColumn("g", lit(0L)), "g", "h")
      .head()
    assert(trailing(1L) == (d1.getLong(1), d1.getLong(2), d1.getLong(3)))
    assert(trailing(2L) ==
      (union.getLong(1), union.getLong(2), union.getLong(3)))
  }

  test("labelNoiseReport: neighbor disagreement fraction per item") {
    val l = new java.util.ArrayList[Row]()
    Seq((0L, Seq(1.0, 0.0), 1), (1L, Seq(0.9, 0.0), 2),
      (2L, Seq(0.8, 0.0), 1), (3L, Seq(-1.0, 0.0), 3))
      .foreach { case (id, v, lb) => l.add(Row(id, v, lb)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType))))
    val out = Similarity.labelNoiseReport(df, "vec_id", "embedding",
      "label", k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // item 0's 2-NN = items 1 (label 2) and 2 (label 1) → 1 of 2 disagrees
    assert(out(0L) == (2L, 1L, 500000L))
  }

  test("labelNoiseReport: pluggable neighbors drive the same report") {
    val l = new java.util.ArrayList[Row]()
    Seq((0L, Seq(1.0, 0.0), 1), (1L, Seq(0.9, 0.0), 2),
      (2L, Seq(0.8, 0.0), 1))
      .foreach { case (id, v, lb) => l.add(Row(id, v, lb)) }
    val corpus = s.createDataFrame(l, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType))))
    val nn = new java.util.ArrayList[Row]()
    Seq((0L, 1L, 1), (0L, 2L, 2)).foreach { case (q, i, r) =>
      nn.add(Row(q, i, r)) }
    val neighbors = s.createDataFrame(nn, StructType(Seq(
      StructField("query_id", LongType), StructField("item_id", LongType),
      StructField("rank", IntegerType))))
    val out = Similarity.labelNoiseReport(corpus, "vec_id", "embedding",
      "label", k = 2, neighbors = Some(neighbors))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(0L -> (2L, 1L))) // only the supplied query reported
  }

  test("savingsReport: global dup attribution, per-class token math") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, "a b", "s1"), (2L, "a b", "s2"), (3L, "c", "s2"))
      .foreach { case (id, t, src) => l.add(Row(id, t, src)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType))))
    val out = Dedup.savingsReport(df, "text", "doc_id", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out("s1") == (1L, 2L, 0L, 0L, 0L))        // first sighting
    assert(out("s2") == (2L, 3L, 1L, 2L, 666666L))   // cross-source copy
  }

  test("asofJoinForward: next-at-or-after semantics, null past the end") {
    def f(rows: (Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, t) => l.add(Row(k, t)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("k", LongType), StructField("t", LongType))))
    }
    val left = f((1L, 5L), (1L, 12L), (1L, 13L))
    val r = new java.util.ArrayList[Row]()
    Seq((1L, 7L, 70L), (1L, 12L, 120L)).foreach { case (k, t, v) =>
      r.add(Row(k, t, v)) }
    val right = s.createDataFrame(r, StructType(Seq(
      StructField("k", LongType), StructField("t", LongType),
      StructField("v", LongType))))
    val out = AsofJoin.asofJoinForward(left, right, "k", "t", Seq("v"))
      .collect().map(x => x.getLong(1) ->
        (if (x.isNullAt(2)) -1L else x.getLong(2))).toMap
    assert(out == Map(5L -> 70L, 12L -> 120L, 13L -> -1L))
  }

  test("binTargetRates: equi-depth boundaries and per-bin rates") {
    val l = new java.util.ArrayList[Row]()
    (1L to 10L).foreach(v =>
      l.add(Row(v, if (v > 8L) "pos" else "neg")))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("v", LongType), StructField("lbl", StringType))))
    val out = Stats.binTargetRates(df, "v", "lbl", "pos", nBins = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // boundary = p50 value 5 → bin0 = 1..5 (no pos), bin1 = 6..10 (2 pos)
    assert(out(0L) == (5L, 0L, 0L, 1L, 5L))
    assert(out(1L) == (5L, 2L, 400000L, 6L, 10L))
    // binning is map-only: the boundaries are literals, so no window at all
    assert(windows(Stats.binTargetRates(df, "v", "lbl", "pos", nBins = 2))
      .isEmpty)
  }

  test("cooccurrencePairs: support counts, minSupport, and the group cap") {
    val l = new java.util.ArrayList[Row]()
    Seq(("g1", "a"), ("g1", "b"), ("g1", "c"),
      ("g2", "a"), ("g2", "b"), ("g3", "a"), ("g3", "b"), ("g3", "b"))
      .foreach { case (g, it) => l.add(Row(g, it)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("g", StringType), StructField("it", StringType))))
    val pairs = Graph.cooccurrencePairs(df, "g", "it")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(pairs == Map(("a", "b") -> 3L)) // (a,c)/(b,c) fall to minSupport
    // cap 2 drops g1 entirely; duplicate (g3, b) rows count once
    val capped = Graph.cooccurrencePairs(df, "g", "it", maxGroupSize = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(capped == Map(("a", "b") -> 2L))
  }

  test("assocRules: both directions with exact confidence and lift") {
    val p = new java.util.ArrayList[Row]()
    p.add(Row("a", "b", 2L))
    val pairs = s.createDataFrame(p, StructType(Seq(
      StructField("item_a", StringType), StructField("item_b", StringType),
      StructField("support", LongType))))
    val i = new java.util.ArrayList[Row]()
    Seq(("a", 4L), ("b", 2L)).foreach { case (it, c) => i.add(Row(it, c)) }
    val items = s.createDataFrame(i, StructType(Seq(
      StructField("item", StringType), StructField("cnt", LongType))))
    val out = Graph.assocRules(pairs, items, nGroups = 8L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // a→b: conf 2/4, lift 2·8/(4·2) = 2.0; b→a: conf 2/2, same lift
    assert(out(("a", "b")) == (500000L, 2000L))
    assert(out(("b", "a")) == (1000000L, 2000L))
  }

  test("pq reconstructionError: zero on centroids, exact off-centroid") {
    val cb = new java.util.ArrayList[Row]()
    cb.add(Row(0, 0, Seq(1000L, 0L), 1000000L))
    cb.add(Row(0, 1, Seq(0L, 1000L), 1000000L))
    val codebooks = s.createDataFrame(cb, StructType(Seq(
      StructField("sub_id", IntegerType), StructField("cell_id", IntegerType),
      StructField("cv", ArrayType(LongType)), StructField("cn2", LongType))))
    val v = new java.util.ArrayList[Row]()
    v.add(Row(1L, Seq(1.0, 0.0)))  // exactly cell 0 → err 0
    v.add(Row(2L, Seq(2.0, 0.0)))  // 1000 off cell 0 → err 1000²
    val vecs = s.createDataFrame(v, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)))))
    val out = Pq.reconstructionError(vecs, "vec_id", "embedding",
      codebooks, numSubspaces = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1000000L))
  }

  test("labelMrr: first same-label rank, and 0 when none in top-k") {
    def vecs(rows: (Long, Seq[Double], Int)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (id, v, lb) => l.add(Row(id, v, lb)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)),
        StructField("label", IntegerType))))
    }
    // query 0 (label 1): rank1 = item 2 (label 2), rank2 = item 1 (label 1)
    val corpus = vecs(
      (0L, Seq(1.0, 0.0), 1),
      (1L, Seq(0.8, 0.0), 1),
      (2L, Seq(0.9, 0.0), 2),
      (3L, Seq(-1.0, 0.0), 3))
    val out = Similarity.labelMrr(corpus, corpus.filter(col("vec_id") === 0L),
      "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(out == (2L, 500000L))
    // k = 1 excludes the only same-label neighbor → 0 / 0
    val none = Similarity.labelMrr(corpus, corpus.filter(col("vec_id") === 0L),
      "vec_id", "embedding", "label", k = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(none == (0L, 0L))
  }

  test("dimAblationRecall: truncation flips rankings the prefix can't see") {
    def vecs(rows: (Long, Seq[Double])*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (id, v) => l.add(Row(id, v)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    }
    // query 0 scores item 2 highest on FULL dims (via dim 3) but item 1
    // highest on the 2-dim prefix → recall@1 = 0 for query 0;
    // query 10's winner (item 1) survives truncation → recall@1 = 100
    val corpus = vecs(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.5, 0.0)),
      (3L, Seq(-1.0, 0.0, -1.0, 0.0)))
    val queries = vecs(
      (0L, Seq(1.0, 0.0, 1.0, 0.0)),
      (10L, Seq(1.0, 0.0, 0.0, 0.0)))
    val out = Similarity.dimAblationRecall(corpus, queries,
      "vec_id", "embedding", k = 1, keepDims = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(0L) == 0L)
    assert(out(10L) == 100L)
  }

  test("allPairsCosine: prefix filter is lossless vs brute force") {
    // sets are 3-gram shingles: doc1 has 6, doc2 shares 5 of them
    // (cos 5/6), doc3's 3 are all inside doc1 (cos 3/√18 ≈ 0.7071 — the
    // threshold boundary), docs 4/5 are identical, doc6 disjoint
    val d = docs(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),
      (3L, "a b c d e"),
      (4L, "p q r s t u v w"),
      (5L, "p q r s t u v w"),
      (6L, "z1 z2 z3"))
    val toks = TextAnalysis.shingleHashRows(d, "text", "doc_id", 3)
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = toks.select(col("doc_id").as("doc_a"), col("h"))
      .join(toks.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("overlap"))
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        "doc_b")
      .filter(col("overlap") * col("overlap") * 1000000L >=
        lit(490000L) * col("n_a") * col("n_b"))
      .select("doc_a", "doc_b", "overlap", "n_a", "n_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val got = Dedup.allPairsCosine(d, "text", "doc_id",
        minCosinePermille = 700)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == brute)
    // the boundary pair (cos exactly ~0.7071 ≥ 0.7) is IN
    assert(got.exists { case (a, b, _, _, _) => a == 1L && b == 3L })
    assert(got.exists { case (a, b, _, _, _) => a == 4L && b == 5L })
    // at t = 1000 only identical sets survive (o² ≥ n_a·n_b)
    val exact = Dedup.allPairsCosine(d, "text", "doc_id",
        minCosinePermille = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((4L, 5L)))
    // DF cap defines the operator over capped sets: cap 1 removes every
    // shared token, so no pairs remain at all
    assert(Dedup.allPairsCosine(d, "text", "doc_id", 700,
      maxShingleDF = 1).count() == 0L)
  }

  test("targetEncodeOof: own fold excluded; single-fold category → prior") {
    val l = new java.util.ArrayList[Row]()
    Seq(("A", 0L, 10L), ("A", 0L, 20L), ("A", 1L, 40L), ("B", 0L, 100L))
      .foreach { case (c, f, t) => l.add(Row(c, f, t)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("category", StringType), StructField("fold", LongType),
      StructField("t", LongType))))
    val out = Stats.targetEncodeOof(df, "category", "t", "fold")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // (A,0): other-fold mean = 40/1 → 400000; (A,1): 30/2 → 150000
    assert(out(("A", 0L)) == ((2L, 1L, 400000L)))
    assert(out(("A", 1L)) == ((1L, 2L, 150000L)))
    // (B,0): B has no rows outside fold 0 → global OOF prior for fold 0:
    // (170−130)·10⁴ / (4−3) = 400000; n_out = 0
    assert(out(("B", 0L)) == ((1L, 0L, 400000L)))
  }

  test("rankSumTest: doubled midranks are tie-exact; sums close") {
    val l = new java.util.ArrayList[Row]()
    Seq(("A", 1L), ("A", 2L), ("A", 2L), ("B", 2L), ("B", 3L))
      .foreach { case (g, x) => l.add(Row(g, x)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("grp", StringType), StructField("x", LongType))))
    val out = Stats.rankSumTest(df, "grp", "x", nBuckets = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // pooled: 1→rank 1; 2,2,2→midrank 3; 3→rank 5
    // A: 1+3+3 = 7 (×2 = 14), U×2 = 14 − 3·4 = 2
    // B: 3+5 = 8 (×2 = 16), U×2 = 16 − 2·3 = 10
    assert(out("A") == ((3L, 14L, 2L)))
    assert(out("B") == ((2L, 16L, 10L)))
    // rank sums over all groups must total n(n+1) doubled
    assert(out.values.map(_._2).sum == 5L * 6L)
  }

  test("ndcgReport: fixed-point discounts, ideal re-rank, no-relevant → 0") {
    val l = new java.util.ArrayList[Row]()
    // q1: rel at ranks 2,3 (imperfect); q2: nothing relevant; q3: perfect
    Seq((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 1L),
      (2L, 1L, 0L), (2L, 2L, 0L),
      (3L, 1L, 1L), (3L, 2L, 1L), (3L, 3L, 0L))
      .foreach { case (q, r, rel) => l.add(Row(q, r, rel)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("query_id", LongType), StructField("rank", LongType),
      StructField("rel", LongType))))
    val out = Stats.ndcgReport(df, "query_id", "rank", "rel", k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // qlog2: 2→1024, 3→1536, 4→2048; term = rel·2²⁰ DIV qlog2(rank+1)
    // q1 dcg = 682 + 512 = 1194; ideal ranks 1,2 → idcg = 1024 + 682
    assert(out(1L) == ((1194L, 1706L, 699882L)))
    assert(out(2L) == ((0L, 0L, 0L)))
    assert(out(3L) == ((1706L, 1706L, 1000000L)))
  }

  test("seasonalNaiveError: join-aligned scoring, unscored groups zeroed") {
    val l = new java.util.ArrayList[Row]()
    // A: day 1 ×2 events, day 8 ×4 (8 = 1+7 → scored); B: one day only
    (Seq.fill(2)(("A", 1L)) ++ Seq.fill(4)(("A", 8L)) ++ Seq(("B", 1L)))
      .foreach { case (g, d) => l.add(Row(g, d)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("grp", StringType), StructField("day", LongType))))
    val out = graft.streaming.EventTimeOps
      .seasonalNaiveError(df, "grp", "day", period = 7)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // |4−2|·2·10⁶/(4+2) = 666666 (truncating)
    assert(out("A") == ((2L, 1L, 2L, 4L, 666666L)))
    assert(out("B") == ((1L, 0L, 0L, 0L, 0L)))
  }

  test("noveltyScore: shingles unseen in the reference half, ppm-exact") {
    val ref = docs((10L, "a b c d e")) // shingles abc, bcd, cde
    val nw = docs(
      (1L, "a b c x y z"), // abc bcx cxy xyz → 3 of 4 novel
      (3L, "p q r s"), // pqr qrs → all novel
      (5L, "t u")) // < 3 tokens → no shingles → no row
    val out = Dedup.noveltyScore(nw, ref, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((4L, 3L, 750000L)))
    assert(out(3L) == ((2L, 2L, 1000000L)))
    assert(!out.contains(5L))
  }

  test("weightedGlobalQuantiles: cumulative-mass pick, tie-invariant") {
    val l = new java.util.ArrayList[Row]()
    // values 10(w3), 20(w1+w1 split across rows), 30(w5): W = 10
    Seq((10L, 3L), (20L, 1L), (20L, 1L), (30L, 5L))
      .foreach { case (v, w) => l.add(Row(v, w)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("v", LongType), StructField("w", LongType))))
    val out = Stats.weightedGlobalQuantiles(df, "v", "w",
      Seq(30, 50, 100), nBuckets = 2)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // targets: 30% → ⌈3⌉ = 3 → v=10; 50% → 5 → v=20; 100% → 10 → v=30
    assert(out(30) == ((3L, 10L)))
    assert(out(50) == ((5L, 20L)))
    assert(out(100) == ((10L, 30L)))
    // weighted median equals unweighted median of the expanded multiset
    val expanded = Seq.fill(3)(10L) ++ Seq.fill(2)(20L) ++ Seq.fill(5)(30L)
    assert(out(50)._2 == expanded.sorted.apply((expanded.size + 1) / 2 - 1))
    intercept[IllegalArgumentException] {
      val bad = new java.util.ArrayList[Row](); bad.add(Row(1L, 0L))
      Stats.weightedGlobalQuantiles(s.createDataFrame(bad, df.schema),
        "v", "w", Seq(50))
    }
  }

  test("categoricalMI: independent columns score 0; copies score log|A|") {
    val l = new java.util.ArrayList[Row]()
    // perfectly dependent: b == a, two symbols, 2 rows each
    Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"))
      .foreach { case (a, b) => l.add(Row(a, b)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("a", StringType), StructField("b", StringType))))
    val out = Stats.categoricalMI(df, "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(5))
      .toMap
    // each cell: ratio = n_ab·N/(n_a·n_b) = 2·4/(2·2) = 2 → qlog2 = 1 bit
    // → mi_q = n_ab·1024 = 2048; total 4096 = N·1024·log2(2) = 1 bit
    assert(out(("x", "x")) == 2048L && out(("y", "y")) == 2048L)
    // independent uniform: every ratio = 1 → every contribution 0
    val li = new java.util.ArrayList[Row]()
    for (a <- Seq("x", "y"); b <- Seq("p", "q")) li.add(Row(a, b))
    val ind = Stats.categoricalMI(
      s.createDataFrame(li, df.schema), "a", "b")
      .collect().map(_.getLong(5))
    assert(ind.forall(_ == 0L))
    // null rows are excluded from cells AND totals — adding null-b rows
    // must not change any surviving cell's numbers
    val ln = new java.util.ArrayList[Row]()
    Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"),
      ("x", null), ("y", null)).foreach { case (a, b) => ln.add(Row(a, b)) }
    val withNulls = Stats.categoricalMI(
      s.createDataFrame(ln, df.schema), "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(withNulls(("x", "x")) == ((2L, 2L, 2048L)))
    assert(withNulls.size == 2)
  }

  test("psiReport: identical sides → 0 everywhere; shift scores positive") {
    def vals(xs: Long*): org.apache.spark.sql.DataFrame = {
      val l = new java.util.ArrayList[Row]()
      xs.foreach(x => l.add(Row(x)))
      s.createDataFrame(l, StructType(Seq(StructField("x", LongType))))
    }
    val same = Stats.psiReport(vals(1L, 2L, 100L), vals(1L, 2L, 100L), "x")
      .collect()
    assert(same.forall(r => r.getLong(5) == 0L && r.getLong(6) == 0L))
    // mass moved from small buckets to a large one: total must be > 0
    // (PSI is a sum of (pa−pb)·log(pa/pb) terms, each ≥ 0 up to
    // fixed-point truncation on the DOMINANT terms)
    val shifted = Stats.psiReport(
      vals(1L, 1L, 1L, 1L), vals(1000L, 1000L, 1000L, 1000L), "x")
      .collect()
    assert(shifted.head.getLong(6) > 0L)
  }

  test("averagePrecisionReport: step-interpolated PR area, one-vs-rest") {
    val l = new java.util.ArrayList[Row]()
    // descending scores: P(3), N(2), P(1)
    Seq(("P", 3L), ("N", 2L), ("P", 1L))
      .foreach { case (lbl, s0) => l.add(Row(lbl, s0)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("label", StringType), StructField("s", LongType))))
    val out = Stats.averagePrecisionReport(df, "label", "s")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // AP(P) = (1/1 + 2/3)/2 → 500000 + 333333; AP(N) = 1/2
    assert(out("P") == ((2L, 1L, 833333L)))
    assert(out("N") == ((1L, 2L, 500000L)))
  }

  test("spearmanReport: centered midrank moments; ±1 at perfect monotone") {
    def xy(rows: (Long, Long)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (x, y) => l.add(Row(x, y)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("x", LongType), StructField("y", LongType))))
    }
    val up = Stats.spearmanReport(xy((1L, 10L), (2L, 20L), (3L, 30L)),
      "x", "y").head()
    assert((up.getLong(0), up.getLong(1), up.getLong(2), up.getLong(3))
      == ((3L, 8L, 8L, 8L))) // ρ = 8/√64 = 1
    val down = Stats.spearmanReport(xy((1L, 30L), (2L, 20L), (3L, 10L)),
      "x", "y").head()
    assert(down.getLong(1) == -8L) // ρ = −1
    // a tie block gets one shared midrank; centered sums still close to 0
    val tied = Stats.spearmanReport(xy((1L, 5L), (1L, 5L), (2L, 9L)),
      "x", "y").head()
    assert(tied.getLong(1) == tied.getLong(2)) // x and y rank identically
  }

  test("columnDiff: null-safe per-column change counts over common ids") {
    def snap(rows: (Long, java.lang.Long, String)*) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, v, s0) => l.add(Row(k, v, s0)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("k", LongType), StructField("v", LongType),
        StructField("st", StringType))))
    }
    val a = snap((1L, 10L, "ok"), (2L, null, "ok"), (3L, 30L, "ok"),
      (9L, 9L, "only_a"))
    val b = snap((1L, 10L, "CH"), (2L, null, "ok"), (3L, 31L, "ok"),
      (8L, 8L, "only_b"))
    val out = Snapshot.columnDiff(a, b, "k", Seq("v", "st"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // common ids 1,2,3: v changes only for 3 (null<=>null is unchanged);
    // st changes only for 1
    assert(out("v") == ((1L, 3L, 333333L)))
    assert(out("st") == ((1L, 3L, 333333L)))
    // a column name that would break any parsed-identifier path must
    // survive verbatim (names are data in the report)
    val odd = Snapshot.columnDiff(
      a.withColumnRenamed("v", "user value.x"),
      b.withColumnRenamed("v", "user value.x"), "k", Seq("user value.x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(odd("user value.x") == 1L)
  }

  test("journeyPaths: ordered sliding windows, deterministic top-k") {
    val l = new java.util.ArrayList[Row]()
    // user 1: a b c d → a>b>c, b>c>d; user 2: a b c → a>b>c; user 3: x y
    Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "c"),
      (1L, 40L, 4L, "d"),
      (2L, 10L, 5L, "a"), (2L, 20L, 6L, "b"), (2L, 30L, 7L, "c"),
      (3L, 10L, 8L, "x"), (3L, 20L, 9L, "y"))
      .foreach { case (k, t, o, e) => l.add(Row(k, t, o, e)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("k", LongType), StructField("t", LongType),
      StructField("o", LongType), StructField("e", StringType))))
    val out = graft.streaming.EventTimeOps
      .journeyPaths(df, "k", "t", "o", "e", len = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a>b>c", 2L), ("b>c>d", 1L)))
    // timestamp tie broken by the order column: flip order ids → new path
    val l2 = new java.util.ArrayList[Row]()
    Seq((1L, 10L, 2L, "a"), (1L, 10L, 1L, "b"), (1L, 20L, 3L, "c"))
      .foreach { case (k, t, o, e) => l2.add(Row(k, t, o, e)) }
    val tied = graft.streaming.EventTimeOps
      .journeyPaths(s.createDataFrame(l2, df.schema),
        "k", "t", "o", "e", len = 3, topK = 10)
      .collect().map(_.getString(0))
    assert(tied.toSeq == Seq("b>a>c"))
  }

  test("refIntegrityAudit: orphans, null keys, childless parents") {
    def keys(name: String, ks: java.lang.Long*) = {
      val l = new java.util.ArrayList[Row]()
      ks.foreach(k => l.add(Row(k)))
      s.createDataFrame(l, StructType(Seq(StructField(name, LongType))))
    }
    // child: 1,1,2,7,null — parent: 1,2,3 (3 childless; 7+null orphaned)
    val r = Stats.refIntegrityAudit(
      keys("ck", 1L, 1L, 2L, 7L, null),
      keys("pk", 1L, 2L, 3L), "ck", "pk").head()
    assert(r.getLong(0) == 5L) // n_child_rows
    assert(r.getLong(1) == 4L) // n_child_keys (incl. the null group)
    assert(r.getLong(2) == 2L) // orphan_rows: key 7 and the null row
    assert(r.getLong(3) == 2L) // orphan_keys
    assert(r.getLong(4) == 1L) // null_key_rows
    assert(r.getLong(5) == 3L) // n_parent_keys
    assert(r.getLong(6) == 1L) // childless: key 3
    assert(r.getLong(7) == 400000L) // 2/5 orphaned
  }

  test("sessionConversion: per-session hit flag, not per-event rate") {
    val l = new java.util.ArrayList[Row]()
    // user A: one 3-event session with ONE purchase (converts once);
    // user B: two sessions (gap > 30 min), neither converts
    Seq(("A", 1L, 0L, "view"), ("A", 2L, 60000L, "purchase"),
      ("A", 3L, 120000L, "view"),
      ("B", 4L, 0L, "view"), ("B", 5L, 10000000L, "view"))
      .foreach { case (k, o, ms, t) =>
        l.add(Row(k, o, new java.sql.Timestamp(ms), t)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("key", StringType), StructField("offset", LongType),
      StructField("timestamp", TimestampType),
      StructField("topic", StringType))))
    val r = graft.streaming.EventTimeOps
      .sessionConversion(df, 1800000L, "purchase").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 1L, 3L, 2L, 333333L)))
  }

  test("giniReport: cell formula equals the row-rank Gini; ties cancel") {
    val l = new java.util.ArrayList[Row]()
    Seq(("X", 1L), ("X", 1L), ("X", 2L), ("Y", 5L))
      .foreach { case (c, x) => l.add(Row(c, x)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("cls", StringType), StructField("x", LongType))))
    val out = Stats.giniReport(df, "cls", "x")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // X sorted [1,1,2]: Σ(2r−n−1)x = −2 + 0 + 4 = 2; den = 3·4 = 12
    assert(out("X") == ((3L, 4L, 2L, 12L)))
    // a single row has zero spread: num 0
    assert(out("Y") == ((1L, 5L, 0L, 5L)))
  }

  private def kv2(rows: Seq[(String, String, Long)]) = {
    val l = new java.util.ArrayList[Row]()
    rows.foreach { case (a, b, v) => l.add(Row(a, b, v)) }
    s.createDataFrame(l, StructType(Seq(
      StructField("qa", StringType), StructField("qb", StringType),
      StructField("sv", LongType))))
  }

  test("kAnonymityAudit: group sizes vs k, l-diversity on the sensitive col") {
    // groups: (A,1)×3 two distinct sv, (A,2)×1, (B,1)×2 one distinct sv
    val df = kv2(Seq(("A", "1", 10L), ("A", "1", 10L), ("A", "1", 20L),
      ("A", "2", 30L), ("B", "1", 40L), ("B", "1", 40L)))
    val out = Stats.kAnonymityAudit(df, Seq("qa", "qb"), "sv", Seq(2, 3))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    // k=2: only (A,2) is below (1 row); min group 1; min l-div 1 ((A,2)
    // and (B,1) both have 1 distinct) → rows in l<2 groups: 1 + 2 = 3
    assert(out(2) == ((3L, 6L, 1L, 1L, 166666L, 1L, 1L, 3L)))
    // k=3: (A,2) and (B,1) below (3 rows); l<3 → all three groups (A,1)
    // has 2 distinct → 6 rows
    assert(out(3) == ((3L, 6L, 2L, 3L, 500000L, 1L, 1L, 6L)))
  }

  test("woeIvReport: label independent of the bin → woe 0 everywhere") {
    val l = new java.util.ArrayList[Row]()
    // two value clusters, each 2 pos + 2 neg → identical smoothed odds
    Seq((1L, "p"), (1L, "p"), (2L, "n"), (2L, "n"),
      (100L, "p"), (100L, "p"), (101L, "n"), (101L, "n"))
      .foreach { case (v, lab) => l.add(Row(v, lab)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("v", LongType), StructField("lab", StringType))))
    val out = Stats.woeIvReport(df, "v", "lab", "p", nBins = 2)
      .collect()
    assert(out.forall(_.getAs[Long]("woe_q") == 0L))
    assert(out.forall(_.getAs[Long]("iv_total_q") == 0L))
    // binning is map-only: no window at all
    assert(windows(Stats.woeIvReport(df, "v", "lab", "p", nBins = 2)).isEmpty)
  }

  test("woeIvReport: separated label concentrates IV") {
    val l = new java.util.ArrayList[Row]()
    // low bin all-neg, high bin all-pos → strongly nonzero WOE both sides
    ((1 to 8).map(i => (i.toLong, "n")) ++
      (101 to 108).map(i => (i.toLong, "p")))
      .foreach { case (v, lab) => l.add(Row(v, lab)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("v", LongType), StructField("lab", StringType))))
    val rows = Stats.woeIvReport(df, "v", "lab", "p", nBins = 2).collect()
    val byBin = rows.map(r => r.getAs[Long]("bin") ->
      r.getAs[Long]("woe_q")).toMap
    assert(byBin(0L) < -2000L && byBin(1L) > 2000L) // ±>2 bits of odds
    assert(rows.head.getAs[Long]("iv_total_q") > 0L)
  }

  test("groupedTrend: exact slope on a line; flat x → slope 0") {
    val l = new java.util.ArrayList[Row]()
    // g1: y = 2x (+1 offset), g2: constant x
    Seq(("g1", 10L, 21L), ("g1", 11L, 23L), ("g1", 12L, 25L),
      ("g2", 5L, 1L), ("g2", 5L, 9L))
      .foreach { case (g, x, y) => l.add(Row(g, x, y)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("g", StringType), StructField("x", LongType),
      StructField("y", LongType))))
    val out = Stats.groupedTrend(df, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(6))).toMap
    assert(out("g1") == ((3L, 2000000L)))
    assert(out("g2") == ((2L, 0L)))
  }

  test("lagAutocorr: alternating series → r1 ≈ −1, r2 ≈ +1; days zero-fill") {
    // 10 consecutive days alternating 0 and 2 events; day 0 has 0 events
    // only implicitly when absent — use explicit 2-event days at odd days
    val l = new java.util.ArrayList[Row]()
    val day0 = 86400000L * 19000
    (0 until 10).foreach { d =>
      if (d % 2 == 1) { // odd days: 2 events; even days absent → zero-fill
        l.add(Row(day0 + d * 86400000L + 1L))
        l.add(Row(day0 + d * 86400000L + 2L))
      }
    }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("ms", LongType))))
    val out = Stats.lagAutocorr(df, "ms", maxLag = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4))).toMap
    // span = [day1, day9] → y = 2,0,2,0,2,0,2,0,2 (n=9, S=10, cy ∈ {8,−10}):
    // den = 5·64+4·100 = 720; num1 = 8·(−80) = −640 → −888888 (trunc);
    // num2 = 4·64+3·100 = 556 → 772222
    assert(out(1L) == ((9L, -888888L)))
    assert(out(2L) == ((9L, 772222L)))
  }

  test("paretoFrontier: dominated points drop, duplicates counted, " +
      "grid width does not change the answer") {
    val l = new java.util.ArrayList[Row]()
    // frontier: (1,9), (5,5)×2, (9,1); dominated: (4,4), (1,8), (5,4)
    Seq((1L, 9L), (5L, 5L), (5L, 5L), (9L, 1L), (4L, 4L), (1L, 8L),
      (5L, 4L)).foreach { case (x, y) => l.add(Row(x, y)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))
    for (buckets <- Seq(1, 2, 1024)) {
      val out = Stats.paretoFrontier(df, "x", "y", nBuckets = buckets)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.toSeq == Seq((1L, 9L, 1L), (5L, 5L, 2L), (9L, 1L, 1L)),
        s"nBuckets=$buckets")
    }
  }

  test("mortonValue interleaves bits; zOrderLayout keeps both dims narrow") {
    val l = new java.util.ArrayList[Row]()
    for (x <- 0L until 16L; y <- 0L until 16L) l.add(Row(x, y))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))
    val m = df.select(Layout.mortonValue(col("x"), col("y"), 4).as("z"))
      .agg(min("z"), max("z"), countDistinct("z")).head()
    assert(m.getLong(0) == 0L && m.getLong(1) == 255L && m.getLong(2) == 256L)
    // morton(3, 1, 2 bits) = (1·1 + 1·2) + (1·4 + 0·8) = 7
    val one = df.filter(col("x") === 3L && col("y") === 1L)
      .select(Layout.mortonValue(col("x"), col("y"), 2)).head().getLong(0)
    assert(one == 7L)
    // 16×16 grid into 4 files: each file is one half-plane of each dim? —
    // no: each file covers a contiguous z range = a 16×4-ish region; both
    // dim ranges must be ≤ half the domain (the lexicographic sort would
    // leave one dim full-width in every file)
    val files = Layout.zOrderLayout(df, "x", "y", bits = 4, nFiles = 4)
      .collect()
    assert(files.length == 4 && files.map(_.getLong(1)).sum == 256L)
    files.foreach { f =>
      assert(f.getLong(3) - f.getLong(2) <= 15L)
      assert(f.getLong(5) - f.getLong(4) <= 7L,
        s"file ${f.getLong(0)} y-range too wide")
    }
  }

  test("latenessAudit: per-key running-max lateness vs candidate delays") {
    val l = new java.util.ArrayList[Row]()
    // key A, arrival order 1..4, event times 10,5,20,15 (ms)
    Seq((1L, 10L), (2L, 5L), (3L, 20L), (4L, 15L))
      .foreach { case (a, ts) => l.add(Row("A", a, ts)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("k", StringType), StructField("arr", LongType),
      StructField("ms", LongType))))
    val out = graft.streaming.EventTimeOps
      .latenessAudit(df, "k", "arr", "ms", Seq(0L, 5L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(out(0L) == ((4L, 2L, 2L, 5L))) // two 5ms-late arrivals drop at 0
    assert(out(5L) == ((4L, 2L, 0L, 5L))) // a 5ms watermark keeps them
  }

  test("quantileNormalize: maps onto the reference's percentile_disc") {
    val l = new java.util.ArrayList[Row]()
    Seq(1L, 2L, 3L, 4L).foreach(v => l.add(Row(v)))
    val t = s.createDataFrame(l, StructType(Seq(StructField("v", LongType))))
    val r = new java.util.ArrayList[Row]()
    Seq(10L, 20L, 30L, 40L).foreach(v => r.add(Row(v)))
    val ref = s.createDataFrame(r, StructType(Seq(StructField("v", LongType))))
    val out = Stats.quantileNormalize(t, ref, "v")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(out == Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    // skewed reference: every rank ≤ 3 hits the duplicated low value
    val r2 = new java.util.ArrayList[Row]()
    Seq(10L, 10L, 10L, 99L).foreach(v => r2.add(Row(v)))
    val ref2 = s.createDataFrame(r2, StructType(Seq(StructField("v", LongType))))
    val out2 = Stats.quantileNormalize(t, ref2, "v")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(out2 == Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 99L))
  }

  test("pearsonMatrix: ±1 on exact lines, 0 on balanced independence") {
    val l = new java.util.ArrayList[Row]()
    // a = 1..4, b = 2a (r=1), c = −a (r=−1), d = 0,1,1,0 (Σad = n·ā·d̄)
    Seq((1L, 2L, -1L, 0L), (2L, 4L, -2L, 1L), (3L, 6L, -3L, 1L),
      (4L, 8L, -4L, 0L)).foreach { case (a, b, c, d) => l.add(Row(a, b, c, d)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("a", LongType), StructField("b", LongType),
      StructField("c", LongType), StructField("d", LongType))))
    val out = Stats.pearsonMatrix(df, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (nab, numAb, dxAb, dyAb) = out(("a", "b"))
    assert(nab == 4L && numAb * numAb == dxAb * dyAb && numAb > 0L) // r = 1
    val (_, numAc, dxAc, dyAc) = out(("a", "c"))
    assert(numAc * numAc == dxAc * dyAc && numAc < 0L) // r = −1
    assert(out(("a", "d"))._2 == 0L) // balanced independence
    assert(out.size == 6)
  }

  test("ruleAudit: false AND null both count as violations, one pass") {
    val l = new java.util.ArrayList[Row]()
    Seq((1L, "ok"), (2L, null), (-1L, "ok"), (5L, "bad"))
      .foreach { case (v, st) => l.add(Row(v, st)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("v", LongType), StructField("st", StringType))))
    val out = Quality.ruleAudit(df, Seq(
      "v_pos" -> (col("v") > 0L),
      "st_not_null" -> col("st").isNotNull,
      "st_domain" -> col("st").isin("ok")))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("v_pos") == ((1L, 250000L)))
    assert(out("st_not_null") == ((1L, 250000L)))
    assert(out("st_domain") == ((2L, 500000L))) // null AND 'bad' violate
    // one aggregate pass: no window, no join
    val plan = Quality.ruleAudit(df, Seq("v_pos" -> (col("v") > 0L)))
      .queryExecution.optimizedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, plan)
  }

  test("aggState: merge(build(A), build(B)) equals build(A ∪ B)") {
    def mk(rows: Seq[(String, Long)]) = {
      val l = new java.util.ArrayList[Row]()
      rows.foreach { case (k, v) => l.add(Row(k, v)) }
      s.createDataFrame(l, StructType(Seq(
        StructField("k", StringType), StructField("v", LongType))))
    }
    val a = Seq(("x", 1L), ("x", 5L), ("y", 10L))
    val b = Seq(("x", 3L), ("z", -2L))
    val merged = Quality.aggStateFinalize(Quality.aggStateMerge(
      Quality.aggStateBuild(mk(a), "k", "v"),
      Quality.aggStateBuild(mk(b), "k", "v")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val direct = Quality.aggStateFinalize(
      Quality.aggStateBuild(mk(a ++ b), "k", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(merged == direct)
    assert(merged("x") == ((3L, 9L, 1L, 5L, 3L)))
    assert(merged("z") == ((1L, -2L, -2L, -2L, -2L)))
  }

  test("consensusReport: majority wins, ties break to smallest label, " +
      "duplicate votes collapse") {
    val l = new java.util.ArrayList[Row]()
    // item 1: A,A,B → consensus A; item 2: A,B tie → A; item 3: rater 1
    // votes twice (collapses to one vote) → consensus C
    Seq((1L, 1, "A"), (1L, 2, "A"), (1L, 3, "B"),
      (2L, 1, "B"), (2L, 2, "A"),
      (3L, 1, "C"), (3L, 1, "C"), (3L, 2, "D"))
      .foreach { case (i, r, lb) => l.add(Row(i, r, lb)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("item", LongType), StructField("rater", IntegerType),
      StructField("lab", StringType))))
    val out = Quality.consensusReport(df, "item", "rater", "lab")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // item 3 ties C/D → C. rater 1: items 1(A=A ✓), 2(B≠A ✗), 3(C=C ✓)
    assert(out(1) == ((3L, 2L)))
    // rater 2: 1(A ✓), 2(A=A ✓), 3(D≠C ✗)
    assert(out(2) == ((3L, 2L)))
    assert(out(3) == ((1L, 0L))) // rater 3: item 1 B≠A
  }

  test("rateLimitAudit: per-(key, window) quota, deterministic order") {
    val l = new java.util.ArrayList[Row]()
    // key A: 3 events in window 0, 1 in window 1; key B: 1 event
    Seq(("A", 10L, 1L), ("A", 20L, 2L), ("A", 30L, 3L), ("A", 110L, 4L),
      ("B", 15L, 5L)).foreach { case (k, ts, o) => l.add(Row(k, ts, o)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("k", StringType), StructField("ms", LongType),
      StructField("o", LongType))))
    val r = graft.streaming.EventTimeOps
      .rateLimitAudit(df, "k", "ms", "o", limit = 2, windowMs = 100L)
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
      r.getLong(5)) == ((5L, 4L, 1L, 1L, 3L)))
  }

  test("bitmap index: AND counts equal the direct group-by, ids sparse") {
    val l = new java.util.ArrayList[Row]()
    // sparse ids crossing word boundaries (63-bit words)
    Seq((0L, "a", 0L), (62L, "a", 1L), (63L, "b", 0L), (200L, "a", 0L),
      (201L, "b", 1L), (10000L, "a", 1L))
      .foreach { case (id, t, g) => l.add(Row(id, t, g)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("id", LongType), StructField("t", StringType),
      StructField("g", LongType))))
    val viaBm = Layout.bitmapAndCounts(
      Layout.bitmapIndex(df, "id", "t"), Layout.bitmapIndex(df, "id", "g"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val direct = df.groupBy("t", "g").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(viaBm == direct)
    // the combos on sf0.001 events: event type × value band
    val ev = graft.sources.KafkaLike.events(s, SparkSuite.Sf0001)
      .select(col("event_id"), col("event_type"),
        IntMath.idiv(floor(col("value") * 100).cast(LongType), lit(10000L))
          .as("vb"))
    val evCombos = Layout.bitmapAndCounts(
      Layout.bitmapIndex(ev, "event_id", "event_type"),
      Layout.bitmapIndex(ev, "event_id", "vb"))
    assert(evCombos.count() == ev.groupBy("event_type", "vb").count().count())
  }

  test("sortKeyAdvisor: sorting by the target scores 0, a shuffled key " +
      "scores near 10⁶, and candidates report independently") {
    val l = new java.util.ArrayList[Row]()
    // tgt = 0..63; good = tgt; bad = tgt reversed bit pattern-ish (id*37%64
    // scatters targets across the whole range in every file)
    (0L until 64L).foreach { i => l.add(Row(i, (i * 37L) % 64L, i)) }
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("good", LongType), StructField("bad", LongType),
      StructField("tgt", LongType))))
    val out = Layout.sortKeyAdvisor(df, Seq("good", "bad"), "tgt",
      nFiles = 8).collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("good") < 120000L, s"good=${out("good")}") // ~7/63 per file
    assert(out("bad") > 700000L, s"bad=${out("bad")}")
  }

  test("cmsJoinSizeEstimate: never under, exact on collision-free keys") {
    import s.implicits._
    // A: key 1 ×3, key 2 ×2; B: key 1 ×2, key 3 ×5 → exact = 3·2 = 6
    val a = Seq(1L, 1L, 1L, 2L, 2L).toDF("h")
    val b = Seq(1L, 1L, 3L, 3L, 3L, 3L, 3L).toDF("h")
    val r = Stats.cmsJoinSizeEstimate(a, b, "h").head()
    assert(r.getLong(1) == 6L)
    assert(r.getLong(0) >= 6L) // CM inner product never underestimates
    assert(r.getLong(2) >= 0L)
    // tiny distinct sets in a 1024-wide sketch: no collisions → exact
    assert(r.getLong(0) == 6L)
    // disjoint sides → exact 0, est can only be ≥
    val d = Stats.cmsJoinSizeEstimate(
      Seq(10L).toDF("h"), Seq(20L).toDF("h"), "h").head()
    assert(d.getLong(1) == 0L && d.getLong(0) >= 0L)
  }

  test("kmv sketch: small sets exact, union = bottom-k of merge, " +
      "overlap report reads known sets") {
    import org.apache.spark.sql.SparkSession
    val sp: SparkSession = s
    import sp.implicits._
    // A = {10,20,30,40}, B = {30,40,50} as already-uniform "hashes"
    val a = Stats.kmvSketch(Seq(10L, 20L, 30L, 40L, 30L).toDF("h"), "h", 8)
    val b = Stats.kmvSketch(Seq(30L, 40L, 50L).toDF("h"), "h", 8)
    val r = Stats.kmvOverlapReport(a, b, 8).head()
    // both under-full → exact counts; union {10..50} = 5; common {30,40}
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 3L, 5L, 2L, 5L)))
    assert(r.getLong(5) == 400000L) // 2/5
    assert(r.getLong(6) == 2L)      // J · |A∪B| = 2
    // full sketch: k=2 over {10,20,30} → kth min 20 → est (k−1)·S/20
    val f = Stats.kmvSketch(Seq(10L, 20L, 30L).toDF("h"), "h", 2)
    assert(f.collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
    // a full k=128 sketch over the sf0.01 viewers (150 distinct) lands
    // within 15% of the exact count: mix31 makes the k-th minimum honest
    val views = graft.sources.KafkaLike.events(s, SparkSuite.Sf001)
      .filter(col("event_type") === "view")
    val viewers = views.select(Stats.mix31r(col("user_id"), rounds = 3).as("h"))
    val est = Stats.kmvOverlapReport(Stats.kmvSketch(viewers, "h", 128),
      Stats.kmvSketch(viewers, "h", 128), 128).head().getLong(0)
    val exact = views.select("user_id").distinct().count()
    info(s"KMV estimate $est vs exact $exact")
    assert(exact > 128 && math.abs(est - exact) * 100 <= exact * 15,
      s"KMV estimate $est vs exact $exact")
  }

  test("percolate: conjunction must match ALL terms; repeats don't " +
      "double-count") {
    val d = docs((1L, "alpha beta gamma"), (2L, "alpha alpha beta"),
      (3L, "gamma delta"))
    val out = Retrieval.percolate(d, "text", "doc_id", Seq(
      1 -> Seq("alpha", "beta"), 2 -> Seq("gamma"),
      3 -> Seq("alpha", "delta"), 4 -> Seq("alpha", "alpha", "beta")))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(out.toSeq == Seq((1, 1L), (1, 2L), (2, 1L), (2, 3L),
      (4, 1L), (4, 2L))) // q3 needs alpha AND delta in one doc: none
  }

  test("encodingAdvisor: low-NDV string → dict, unique ints → plain") {
    val l = new java.util.ArrayList[Row]()
    (0L until 100L).foreach(i => l.add(Row(i, if (i % 2 == 0) "aa" else "bb")))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType))))
    val out = Layout.encodingAdvisor(df, Seq("id", "cat"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5))).toMap
    // cat: plain 200 units; dict = 4 + ceil(100·1/8) = 17 → dict
    assert(out("cat") == ((100L, 2L, 200L, 17L, "dict")))
    // id: plain 800; dict = 800 + refs → plain
    assert(out("id")._5 == "plain")
  }

  test("pairSetAgreement: orientation and duplicates normalize away") {
    import org.apache.spark.sql.SparkSession
    val sp: SparkSession = s
    import sp.implicits._
    val a = Seq((1L, 2L), (2L, 1L), (3L, 4L)).toDF("doc_a", "doc_b")
    val b = Seq((2L, 1L), (5L, 6L)).toDF("doc_a", "doc_b")
    val r = Dedup.pairSetAgreement(a, b).head()
    // A = {12, 34}, B = {12, 56}: both=1, only_a=1, only_b=1, J=1/3
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((2L, 2L, 1L, 1L, 1L, 333333L)))
  }

  test("featureHashReport: distinct features, bucket loads, collisions") {
    val l = new java.util.ArrayList[Row]()
    // 3 distinct categories ×2 columns; duplicate rows must not inflate
    (1 to 10).foreach(i => l.add(Row(s"c${i % 3}", (i % 2).toLong)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("cat", StringType), StructField("bit", LongType))))
    val r = Stats.featureHashReport(df, Seq("cat", "bit"), nBuckets = 4)
      .head()
    assert(r.getLong(0) == 5L) // 3 cat= + 2 bit= features
    assert(r.getLong(1) == 4L)
    assert(r.getLong(2) <= 4L && r.getLong(2) >= 2L)
    // collided + uncollided = total
    assert(r.getLong(4) <= r.getLong(0))
  }

  test("theilSenTrend: outlier-immune median slope; oversize group " +
      "excluded, not degraded") {
    val l = new java.util.ArrayList[Row]()
    // g: y = 3x except one wild outlier at x=9 → median slope stays 3
    (0L to 8L).foreach(x => l.add(Row("g", x, 3 * x)))
    l.add(Row("g", 9L, 1000L))
    // h: 5 points, but we'll cap maxN below it
    (0L until 5L).foreach(x => l.add(Row("h", x, x)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("k", StringType), StructField("x", LongType),
      StructField("y", LongType))))
    val out = Stats.theilSenTrend(df, "k", "x", "y", maxN = 20)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(out("g") == ((3000000L, 1L)))
    assert(out("h") == ((1000000L, 1L)))
    val capped = Stats.theilSenTrend(df, "k", "x", "y", maxN = 6)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(capped("g") == ((0L, 0L))) // 10 > 6: excluded, flagged
    assert(capped("h")._2 == 1L)
  }

  test("trimmedMeanReport: outliers leave the trimmed mean, clamp into " +
      "the winsorized one") {
    val l = new java.util.ArrayList[Row]()
    // 1..9 plus an outlier 1000; p10 bound = rank 1 → 1, p90 → rank 9 → 9
    ((1L to 9L) :+ 1000L).foreach(v => l.add(Row("c", v)))
    val df = s.createDataFrame(l, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))))
    val r = Stats.trimmedMeanReport(df, "k", "v", trimPct = 10).head()
    assert(r.getLong(1) == 10L)
    assert(r.getLong(2) == 104L)       // raw mean (1045/10)
    assert((r.getLong(3), r.getLong(4)) == ((1L, 9L)))
    assert(r.getLong(5) == 1L)         // one row trimmed (1000)
    assert(r.getLong(6) == 5L)         // mean of 1..9
    assert(r.getLong(7) == 5L)         // (45 + 9)/10 = 5 (outlier → 9)
  }

  test("rangeChecksums: clean ranges verify, touched ranges flag, " +
      "order-invariant") {
    val l = new java.util.ArrayList[Row]()
    (0L until 100L).foreach(i => l.add(Row(i, s"v$i")))
    val a = s.createDataFrame(l, StructType(Seq(
      StructField("id", LongType), StructField("c", StringType))))
    // b: edit id 7, delete id 55, leave everything else — and REVERSE the
    // row order so only content, not ordering, drives the checksum
    val l2 = new java.util.ArrayList[Row]()
    (0L until 100L).reverse.foreach { i =>
      if (i != 55L) l2.add(Row(i, if (i == 7L) "EDIT" else s"v$i")) }
    val b = s.createDataFrame(l2, StructType(Seq(
      StructField("id", LongType), StructField("c", StringType))))
    val out = Snapshot.rangeChecksums(a, b, "id", "c", nRanges = 10)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out.size == 10)
    assert(out(0L) && out(5L)) // ranges holding ids 7 and 55
    assert(out.count(_._2) == 2, s"flagged=${out.filter(_._2)}")
  }

  test("noisyCounts: deterministic per key, bounded noise, no raw count") {
    import s.implicits._
    val df = (1 to 100).map(i => s"k${i % 3}").toDF("key")
    val r1 = Quality.noisyCounts(df, "key").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val r2 = Quality.noisyCounts(df, "key").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == r2) // seeded: same release twice
    val truth = Map("k0" -> 33L, "k1" -> 34L, "k2" -> 33L)
    truth.foreach { case (k, n) =>
      assert(math.abs(r1(k) - n) <= 31L, s"$k noise out of range") }
    assert(r1.keySet == truth.keySet)
  }

  test("dedupAwareWeights: w_ppm = 1e6/cluster_size, every copy keeps its row") {
    val d = docs((1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "unique"), (5L, "pair"), (6L, "pair"))
    val out = Sampling.dedupAwareWeights(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, 333333L), (2L, 3L, 333333L), (3L, 3L, 333333L),
      (4L, 1L, 1000000L), (5L, 2L, 500000L), (6L, 2L, 500000L)))
    // a weighted epoch sees each distinct content ~once: cluster weight
    // sums stay within truncation of 1e6
    out.groupBy(_._2).foreach { case (size, rows) =>
      val perCluster = rows.grouped(size.toInt).map(_.map(_._3).sum)
      perCluster.foreach(s => assert(s <= 1000000L && s > 1000000L - size))
    }
  }

  test("vocabRichness: Chao1 bias-corrected + Good-Turing unseen mass on " +
      "a hand-counted corpus") {
    // tf: a=3, b=2, c=1, d=1, e=1 -> N=8, V=5, f1=3, f2=1
    // chao1_x1000 = 5000 + 3*1000*2 // 4 = 6500; P0 = 3e6 // 8 = 375000
    val d = docs((1L, "a b c a"), (2L, "a b d e"))
    val r = TextAnalysis.vocabRichness(d, "text").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((8L, 5L, 3L, 1L, 6500L, 375000L)))
    // f2 = 0 stays defined (bias-corrected denominator)
    val d2 = docs((1L, "x y z"))
    val r2 = TextAnalysis.vocabRichness(d2, "text").head()
    assert(r2.getLong(4) == 3000L + 3L * 1000L * 2L / 2L) // V=3,f1=3,f2=0
  }

  test("duplicatedSpanRuns: islands find the longest shared token run; " +
      "self-repeats don't flag; short docs report zeros") {
    // docs 1 and 2 share the 7-token run "a b c d e f g" (5 shared
    // 3-shingle positions -> span 5 + 2 = 7); doc 3 is disjoint; doc 4
    // repeats its own trigram twice but NO OTHER DOC has it (df counts
    // distinct docs, so nothing flags); doc 5 is too short for a shingle
    val d = docs(
      (1L, "a b c d e f g x1 y1 z1"),
      (2L, "p q a b c d e f g r s"),
      (3L, "u v w u2 v2 w2 u3 v3 w3"),
      (4L, "m n o m n o m n o"),
      (5L, "t u"))
    val out = TextAnalysis.duplicatedSpanRuns(d, "text", "doc_id",
        shingleN = 3, minDF = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == ((8L, 5L, 7L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((9L, 5L, 7L)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((7L, 0L, 0L)), s"doc3: ${out(3L)}")
    assert(out(4L) == ((7L, 0L, 0L)), s"doc4 self-repeat: ${out(4L)}")
    assert(out(5L) == ((0L, 0L, 0L)), s"doc5 short: ${out(5L)}")
  }
}
