package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextAnalysis._

/**
 * Deduplication suite for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard.
 *
 * Scale design: every stage is a select / explode / groupBy on a content
 * key — no driver-side state, no cross join. Candidate generation is always
 * band-bucket (LSH) joins, so 100 TB shuffles only (doc_id, band_hash)
 * pairs, never text. Hashes use explicit mod-prime integer arithmetic so the
 * DuckDB oracle reproduces them exactly.
 */
object Dedup {

  /** Fixed affine hash family over the shingle hash: h_j(x) = (a_j·x + b_j)
    * mod p. Seeds are fixed primes — deterministic across engines and runs. */
  case class Seed(id: Int, a: Long, b: Long)
  def seeds(k: Int): Seq[Seed] =
    (0 until k).map(j => Seed(j, 1000003L + 2L * j * 4391L, 7919L * (j + 1) % HashPrime))

  // ------------------------------------------------------------------ exact

  /**
   * Exact dedup by content hash: canonical survivor = lowest doc id per
   * distinct text. groupBy on md5 — one shuffle of (hash, id), map-side
   * combined; at 100 TB the text column never shuffles.
   */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /**
   * Dedup savings report: how much of each class's token mass is exact-dup
   * inflation — the "what does dedup buy us" headline a curation run
   * reports before committing the pass. A copy is any doc whose content
   * hash has a lower-id first sighting ANYWHERE in the corpus (duplication
   * is global; the report attributes each copy to its own class). Shape:
   * one groupBy per content hash for the first-id pick, one broadcast-able
   * join back, one partial-agg report — the [[exact]] plan plus a join.
   *
   * Output: (cls, n_docs, n_tokens, dup_docs, dup_tokens, savings_ppm).
   */
  def savingsReport(docs: DataFrame, textCol: String, idCol: String,
      classCol: String): DataFrame = {
    val t = docs.select(col(classCol).as("cls"), col(idCol).as("__id"),
      md5(col(textCol)).as("__h"),
      TextAnalysis.tokenCount(col(textCol)).as("__ntok"))
    val first = t.groupBy("__h").agg(min(col("__id")).as("__first"))
    t.join(first, "__h")
      .withColumn("__dup", when(col("__id") =!= col("__first"), 1L)
        .otherwise(0L))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__dup")).as("dup_docs"),
        sum(col("__dup") * col("__ntok")).as("dup_tokens"))
      .withColumn("savings_ppm",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(IntMath.idiv(col("dup_tokens") * lit(1000000L),
            col("n_tokens"))))
  }

  /**
   * Dup-cluster size histogram over [[exact]]: how many content clusters
   * exist at each copy count, with the total document mass each size
   * class holds — the one-page duplication-shape summary (a long tail of
   * size-2 clusters needs different handling than a few 10k-copy
   * boilerplate blobs). Two partial-agg groupBys.
   *
   * Output: (cluster_size, n_clusters, n_docs).
   */
  def clusterSizeHistogram(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    exact(docs, textCol, idCol)
      .groupBy(col("n_copies").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  // ---------------------------------------------------------------- minhash

  /**
   * MinHash signatures in long form: one row per (doc, seed) with the min
   * affine hash over the doc's distinct shingles.
   *
   * Fully columnar: shingle hashes and all k mins are computed with
   * higher-order array expressions inside one projection — zero shuffles,
   * zero explodes (a doc's shingles never leave its row). `posexplode` at
   * the end only unpivots the k-element signature into long form. At 100 TB
   * this is a pure map stage.
   */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, shingleN: Int = 3): DataFrame =
    signaturesFromShingles(
      shingleHashRows(docs, textCol, idCol, shingleN), numHashes)

  /** Signatures from already-computed (doc_id, h) shingle rows — the single
    * definition of the affine-min + unpivot construction, shared by
    * [[minhashSignatures]] and [[ngramJaccardPairs]]'s gate so the two can
    * never silently desynchronize (the q32 oracle pins exactly this fold). */
  private def signaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    // k min-hash columns in ONE partial-aggregated groupBy over the narrow
    // (doc_id, h) rows — each seed's affine transform is codegen'd arithmetic
    val mins = seeds(numHashes).map { sd =>
      min((lit(sd.a) * col("h") + lit(sd.b)) % HashPrime).as(s"m${sd.id}")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(j => col(s"m$j")): _*))
          .as(Seq("seed_id", "minhash")))
  }

  /**
   * LSH banding: group the k minhashes into bands of `rowsPerBand`, hash each
   * band; docs sharing any (band_id, band_hash) are candidate near-dups.
   * Join key is the band hash — the classic MinHash-LSH bucket join.
   */
  def minhashBands(signatures: DataFrame, rowsPerBand: Int = 4): DataFrame =
    signatures
      .withColumn("band_id", (col("seed_id") / rowsPerBand).cast(IntegerType))
      .groupBy(col("doc_id"), col("band_id"))
      // order inside the band is fixed by seed_id; fold into one band hash
      .agg(aggregate(
        array_sort(collect_list(struct(col("seed_id"), col("minhash")))),
        lit(0L),
        (acc, s) => (acc * 131L + s.getField("minhash")) % HashPrime).as("band_hash"))

  /** Candidate pairs from band buckets (a < b, distinct). */
  def minhashCandidates(bands: DataFrame): DataFrame =
    minhashCandidates(bands, maxBucketSize = 0)

  /**
   * Candidate pairs with an optional per-bucket fan-out cap: a bucket of
   * size s emits s·(s−1)/2 pairs, so one degenerate bucket (millions of
   * byte-identical docs all landing on the same band hash) turns the join
   * quadratic. With `maxBucketSize` > 0, buckets larger than the cap emit
   * only the pairs (bucket-min, other) — s−1 pairs, linear — which PRESERVES
   * the dedup outcome for consumers that act on the RAW candidates:
   * [[applyNearDedup]] drops every non-min member either way, and
   * [[nearDupClusters]] still gets a connected component via the star.
   * A consumer that FILTERS candidates before acting (the
   * [[ngramJaccardPairs]] verify) does NOT commute with the star — see the
   * recall note there. Same contract as the embedding path's cap
   * ([[Similarity.lshCandidates]]).
   *
   * Default 0 = uncapped: all-pairs output, byte-identical to the historical
   * operator (the q26/q32/q47 oracles pin that form).
   */
  def minhashCandidates(bands: DataFrame, maxBucketSize: Int): DataFrame = {
    // self-join: materialize the band table once, not once per side
    val bandsM = Staging.stage(bands)
    def allPairs(b: DataFrame): DataFrame = {
      val l = b.alias("l"); val r = b.alias("r")
      l.join(r,
          col("l.band_id") === col("r.band_id") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
    }
    val pairs =
      if (maxBucketSize <= 0) allPairs(bandsM)
      else {
        // per-bucket size + min from one partial-agg groupBy; small buckets
        // keep the all-pairs join, over-cap buckets short-circuit to the
        // (min, other) star without ever entering the self-join
        val stats = bandsM.groupBy(col("band_id"), col("band_hash"))
          .agg(count(lit(1)).as("__bsz"), min(col("doc_id")).as("__bmin"))
        val withStats = bandsM.join(stats, Seq("band_id", "band_hash"))
        val small = withStats.filter(col("__bsz") <= maxBucketSize)
          .select(col("doc_id"), col("band_id"), col("band_hash"))
        val starPairs = withStats
          .filter(col("__bsz") > maxBucketSize &&
            col("doc_id") =!= col("__bmin"))
          .select(col("__bmin").as("doc_a"), col("doc_id").as("doc_b"))
        allPairs(small).union(starPairs) // __bmin < doc_id, so a < b holds
      }
    pairs.distinct()
  }

  // ---------------------------------------------------------------- simhash

  /**
   * 32-bit SimHash over token hashes: bit i of the fingerprint is 1 iff the
   * sum over tokens of ±1 (per token-hash bit i) is positive.
   *
   * ONE partial-aggregated groupBy with `bits` conditional sums — each token
   * row contributes all 32 bit balances map-side, so the shuffle carries
   * (doc_id, 32 longs) instead of 32× the token rows (the round-1 version
   * cross-joined a bit index, multiplying rows before aggregating). All
   * codegen'd integer arithmetic.
   */
  def simhash(docs: DataFrame, textCol: String, idCol: String, bits: Int = 32): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", stringHash(col("tok")))
    val bals = (0 until bits).map { b =>
      sum(when(expr(s"shiftright(h, $b) & CAST(1 AS BIGINT)") === 1L, 1L)
        .otherwise(-1L)).as(s"bal$b")
    }
    toks.groupBy(col("doc_id")).agg(bals.head, bals.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b => when(col(s"bal$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /**
   * Estimated Jaccard for candidate pairs from their minhash signatures:
   * the fraction of agreeing seeds, in integer percent (matches·100/k).
   * This is how MinHash avoids ever touching the raw shingle sets at scale —
   * the signature join carries k longs per doc, nothing more.
   */
  def minhashJaccardEstimate(signatures: DataFrame, candidates: DataFrame,
      numHashes: Int = 16): DataFrame = {
    val l = signatures.alias("l"); val r = signatures.alias("r")
    candidates
      .join(l, col("doc_a") === col("l.doc_id"))
      .join(r, col("doc_b") === col("r.doc_id") &&
        col("l.seed_id") === col("r.seed_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(when(col("l.minhash") === col("r.minhash"), 1L).otherwise(0L))
        .as("n_match"))
      .withColumn("est_jaccard_pct", col("n_match") * 100L / lit(numHashes.toLong))
      .withColumn("est_jaccard_pct", floor(col("est_jaccard_pct")).cast(LongType))
  }

  /** Apply near-dedup: drop the higher-id side of every candidate pair
    * (left_anti against doc_b) — the standard "keep first occurrence"
    * near-dup policy. */
  def applyNearDedup(docs: DataFrame, candidates: DataFrame, idCol: String): DataFrame =
    docs.join(candidates.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /**
   * Near-dup CLUSTER assignment: connected components over the candidate
   * pair graph; cluster_id = the smallest doc id in the component (docs
   * with no near-dup form singleton clusters). Pair-drop dedup
   * ([[applyNearDedup]]) can split a chain A~B~C by dropping B while
   * keeping C; component clustering is the policy that keeps exactly one
   * doc per transitive duplicate group.
   *
   * Components come from [[Graph.connectedComponentsStar]] (exact on any
   * graph shape, O(log² n) rounds even on long chains); this entry point
   * only renames its output to (doc_id, cluster_id).
   */
  def nearDupClusters(docs: DataFrame, candidates: DataFrame,
      idCol: String): DataFrame =
    Graph.connectedComponentsStar(docs, idCol, candidates, "doc_a", "doc_b")
      .select(col("node_id").as("doc_id"), col("component_id").as("cluster_id"))

  // ------------------------------------------------------- embedding near-dup

  /**
   * Named LSH configurations for [[embeddingNearDupPairs]] with recall floors
   * MEASURED against brute-force ground truth — PipelineOpsSpec asserts the
   * floors on planted perturbed copies of the sf0.001 vectors, so they are
   * contracts, not aspirations. Band length sets recall (collision prob at
   * cosine c is 1 − (1 − (1−acos(c)/π)^planes)^tables); the per-bucket cap
   * bounds the candidate volume either way.
   */
  sealed abstract class NearDupPreset(
      val numTables: Int, val planesPerTable: Int)
  object NearDupPreset {
    /** True-near-dup configuration: long bands (8 tables × 12 planes) —
      * high recall only where cosine is extreme. Measured floor:
      * ≥ 70% of cos ≥ 0.9 pairs (≥ ~90% at cos ≥ 0.95). */
    case object Strict95 extends NearDupPreset(8, 12)
    /** Loose-duplicate sweep: short bands × many tables (16 × 4) — recalls
      * the moderate-cosine regime at the cost of bigger buckets (which the
      * per-bucket cap then bounds). Measured floor: ≥ 40% of cos ≥ 0.4
      * pairs. */
    case object Broad40 extends NearDupPreset(16, 4)
  }

  /** [[embeddingNearDupPairs]] with a named, recall-measured preset. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      preset: NearDupPreset): DataFrame =
    embeddingNearDupPairs(df, idCol, vecCol,
      numTables = preset.numTables, planesPerTable = preset.planesPerTable)

  /**
   * Embedding-cosine near-duplicate pairs, fully integer-exact: candidates
   * from multi-table random-hyperplane LSH (only same-(table,bucket) vectors
   * ever meet, per-bucket fan-out hard-capped — see
   * [[Similarity.lshCandidates]]),
   * then an exact cosine threshold in quantized integer arithmetic —
   * cos(a,b) ≥ num/den  ⟺  dot>0 ∧ den²·dot² ≥ num²·‖a‖²·‖b‖²,
   * so no FP comparison anywhere.
   *
   * RECALL is set by the band length, and the cosine filter is a PRECISION
   * post-filter, not a completeness claim: with random hyperplanes, a pair
   * at cosine c collides in one table with prob (1−acos(c)/π)^planes.
   * Measured against brute-force ground truth on the sf0.1 embeddings:
   * the 8×12 default recalls ~5% of cos ≥ 0.4 pairs but ≥ ~90% of
   * cos ≥ 0.95 pairs — it is a TRUE-near-dup configuration. Hunting looser
   * duplicates needs a shorter band and/or more tables (8×6 measures ~44%
   * at cos ≥ 0.4; 16×4 more, at the cost of 2^planes-fold bigger buckets,
   * which the per-bucket cap then bounds — shorter bands trade candidate
   * volume for recall, so tune planes to the LOWEST cosine you care about).
   * The [[NearDupPreset]] overload names the two measured configurations.
   */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      numTables: Int = 8, planesPerTable: Int = 12,
      maxBucketSize: Int = 1000,
      cosNum: Long = 2L, cosDen: Long = 5L): DataFrame = {
    val q = df.select(col(idCol).as("vid"),
      Similarity.quantize(col(vecCol)).as("qv"),
      Similarity.norm2Q(Similarity.quantize(col(vecCol))).as("n2"))
    val cands = Similarity.lshCandidates(
      Similarity.lshBuckets(df, idCol, vecCol, numTables, planesPerTable),
      maxBucketSize)
    val a = q.alias("a"); val b = q.alias("b")
    cands
      .join(a, col("item_a") === col("a.vid"))
      .join(b, col("item_b") === col("b.vid"))
      .select(col("item_a"), col("item_b"),
        Similarity.dotQ(col("a.qv"), col("b.qv")).as("dot"),
        col("a.n2").as("na"), col("b.n2").as("nb"))
      .filter(col("dot") > 0 &&
        lit(cosDen * cosDen) * col("dot") * col("dot") >=
          lit(cosNum * cosNum) * col("na") * col("nb"))
      .select(col("item_a"), col("item_b"), col("dot"))
  }

  /**
   * SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
   * k-means-cluster the embeddings, then drop any vector whose cosine to a
   * LOWER-ID vector in the same cluster meets the threshold — the clusters
   * bound the pairwise work (no global all-pairs), which is the method's
   * entire scale story: k grows with the corpus so cluster occupancy stays
   * flat, and each cluster's pair scan is independent and parallel.
   *
   * Everything is integer-exact end to end: the deterministic all-integer
   * k-means of [[Similarity.kmeansCentroids]] (truncating-DIV means, exact
   * L2 assignment) and the quantized cosine gate
   * `cos ≥ num/den ⟺ dot>0 ∧ den²·dot² ≥ num²·‖a‖²·‖b‖²` — the same
   * rational form as [[embeddingNearDupPairs]], so the DuckDB oracle
   * reproduces kept/dropped bit-for-bit from the templated centroids.
   *
   * Unlike the LSH screen (probabilistic recall, tuned by band shape), the
   * within-cluster scan is EXHAUSTIVE — recall loss happens only when a
   * near-dup pair straddles a cluster boundary (the paper's accepted miss
   * mode; multi-cluster assignment would trade cost for recall).
   *
   * Output: one row per input vector —
   * (item_id, cell_id, n_earlier_dups, kept) where `n_earlier_dups` counts
   * same-cluster lower-id vectors within the cosine threshold and
   * `kept = (n_earlier_dups == 0)` (min-id-wins, the policy every dedup
   * operator here shares).
   */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 8, iters: Int = 3,
      cosNum: Long = 9L, cosDen: Long = 10L): DataFrame = {
    val v = Staging.stage(emb.select(col(idCol).as("item_id"),
      Similarity.quantize(col(vecCol)).as("qv")))
    val cents = Similarity.kmeansCentroids(emb, idCol, vecCol, nCells, iters)
    val cells = Similarity.assignCells(v, cents).select("item_id", "cell_id")
    val q = Staging.stage(cells.join(v, "item_id")
      .select(col("item_id"), col("cell_id"), col("qv"),
        Similarity.norm2Q(col("qv")).as("n2")))
    val a = q.alias("a"); val b = q.alias("b")
    val dupCounts = a.join(b,
        col("a.cell_id") === col("b.cell_id") &&
          col("a.item_id") < col("b.item_id"))
      .select(col("b.item_id").as("item_id"),
        Similarity.dotQ(col("a.qv"), col("b.qv")).as("dot"),
        col("a.n2").as("na"), col("b.n2").as("nb"))
      .filter(col("dot") > 0 &&
        lit(cosDen * cosDen) * col("dot") * col("dot") >=
          lit(cosNum * cosNum) * col("na") * col("nb"))
      .groupBy(col("item_id"))
      .agg(count(lit(1)).as("n_earlier_dups"))
    q.select(col("item_id"), col("cell_id"))
      .join(dupCounts, Seq("item_id"), "left")
      .select(col("item_id"), col("cell_id"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"))
      .withColumn("kept", col("n_earlier_dups") === 0L)
  }

  // ------------------------------------------------------------------ jaccard

  /**
   * n-gram Jaccard pairs at or above `minJaccardPct`, all-integer,
   * LSH-GATED: candidate pairs come from the MinHash band join
   * ([[minhashBands]]/[[minhashCandidates]] over the SAME shingle hashes),
   * and the exact set-Jaccard is then computed ONLY for candidates. The
   * round-1..4 all-co-occurring-shingles join had volume Σ_h df(h)² (the
   * one measured super-linear query at 10× data), and the round-5
   * AllPairs-prefix rewrite paid a second full shuffle+sort of the corpus
   * for the rarity rank plus a half-of-every-doc "prefix" at t = 50 —
   * both shapes grow with the CORPUS. The band gate's candidate volume
   * grows with near-dup DENSITY instead: band hashes are a groupBy over
   * the signature rows (map-side combined), the bucket self-join shuffles
   * only (doc_id, band_hash) longs, and verify cost is |candidates| × the
   * mean doc size. That is the shape that survives 100 TB.
   *
   * RECALL CONTRACT: the gate is probabilistic, not exact. A pair at
   * Jaccard j reaches verification with probability 1 − (1 − j^r)^b
   * (r = `rowsPerBand`, b = numHashes/rowsPerBand); the default 16×4
   * passes ≥ 97% of pairs at j = 0.7 and ~50% at j = 0.5 — band-gated
   * dedup trades recall exactly AT the threshold for linear scaling, the
   * standard production trade (raise `numHashes` / shorten bands to hunt
   * looser duplicates). Pairs that do reach verification are EXACT:
   * reported (n_inter, n_union) are true DF-capped set counts, never
   * estimates, so precision is 1 by construction.
   *
   * `maxShingleDF` is the skew guard on the verify sets: shingles with
   * document frequency above the cap are dropped from the shingle SETS
   * (both intersections and sizes — the operator is defined over the
   * DF-capped sets, so Jaccard stays a real set similarity).
   * Near-universal boilerplate (headers, license blurbs) carries no dedup
   * signal; dropping it also stops a single hot shingle from dominating
   * the verify join. The gate itself runs on UNCAPPED signatures (minhash
   * of the full shingle set — bit-identical to [[minhashSignatures]]);
   * a boilerplate-only collision then verifies to an intersection below
   * threshold and drops.
   */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, minJaccardPct: Int = 50,
      maxShingleDF: Int = 100,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    // hash-native: shingles are 8-byte deterministic hashes end to end, so
    // the equi-joins shuffle longs, never text. (Hash collisions perturb the
    // count identically in any engine computing the same fold — the operator
    // is defined over the hashed shingle set.) The shingle frame feeds the
    // gate, the DF count and both verify sides, yet is not staged: each
    // consumer recomputes the codegen'd scan+hash map, measured cheaper (and
    // stabler) than caching a frame bigger than its parquet input (see
    // [[Staging]]).
    val sh0 = shingleHashRows(docs, textCol, idCol, shingleN)
    // gate: minhash signatures from the SAME shingle rows (identical to
    // minhashSignatures(docs, …) without re-running tokenize+hash), banded
    // and bucket-joined — one partial-agg groupBy + one narrow self-join.
    // `maxBucketSize` > 0 star-caps candidate GENERATION for dup-dense
    // corpora — an additional RECALL trade on top of the band gate's: a pair
    // (a, b) inside an over-cap bucket only reaches the verify through the
    // bucket min m, so if neither (m, a) nor (m, b) passes the threshold the
    // true pair (a, b) is never tested (the star commutes with raw-candidate
    // consumers, NOT with this verify). Loss is confined to over-cap buckets
    // (boilerplate-dominated by construction); leave 0 when exact gated
    // recall matters more than the quadratic bound.
    val sigs = signaturesFromShingles(sh0, numHashes)
    val cand = minhashCandidates(minhashBands(sigs, rowsPerBand), maxBucketSize)
    val dfCounts = sh0.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // the cap filter joins against the OVER-cap set, which is tiny by
    // definition (each member appears in > maxShingleDF docs, so there are
    // at most rows/cap of them at any corpus size) — a broadcast anti-join,
    // not a shuffled semi-join against the huge under-cap set
    val overCap = dfCounts.filter(col("df") > maxShingleDF).select(col("h"))
    val sh = sh0.join(broadcast(overCap), Seq("h"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // verify: full DF-capped intersection count, ONLY for candidate pairs —
    // the cand ⋈ sh(doc_a) intermediate is |cand| × mean doc size, bounded
    // by dup density (not corpus²) because cand came through the band gate
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "size_b"), "doc_b")
      .withColumn("n_union", col("size_a") + col("size_b") - col("n_inter"))
      // integer threshold: jaccard >= pct/100  ⇔  100·inter >= pct·union
      .filter(col("n_inter") * 100L >= col("n_union") * minJaccardPct)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /**
   * ASYMMETRIC shingle containment for candidate pairs — the
   * quote/subset detector [[ngramJaccardPairs]]'s symmetric Jaccard
   * misses: a short doc fully quoted inside a long one scores low Jaccard
   * (union is large) but containment |A∩B|/|A| ≈ 1. Same machinery — band
   * gate, DF cap, candidate-only verify over hashed shingles — emitting
   * per-direction containment in ppm; a pair is kept when EITHER direction
   * reaches `minContainPct`. Docs whose every shingle was DF-capped drop
   * out (no denominator), as in the Jaccard form.
   *
   * Output: (doc_a, doc_b, n_inter, size_a, size_b, contain_a_ppm,
   * contain_b_ppm).
   */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, minContainPct: Int = 50,
      maxShingleDF: Int = 100,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val sh0 = shingleHashRows(docs, textCol, idCol, shingleN)
    val sigs = signaturesFromShingles(sh0, numHashes)
    val cand = minhashCandidates(minhashBands(sigs, rowsPerBand))
    val overCap = sh0.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDF).select(col("h"))
    val sh = sh0.join(broadcast(overCap), Seq("h"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "size_b"), "doc_b")
      .withColumn("contain_a_ppm",
        IntMath.idiv(col("n_inter") * 1000000L, col("size_a")))
      .withColumn("contain_b_ppm",
        IntMath.idiv(col("n_inter") * 1000000L, col("size_b")))
      .filter(greatest(col("contain_a_ppm"), col("contain_b_ppm"))
        >= minContainPct.toLong * 10000L)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("size_a"),
        col("size_b"), col("contain_a_ppm"), col("contain_b_ppm"))
  }

  /**
   * SPAN-level dedup (the C4 recipe at token granularity): tile each doc
   * into fixed `spanTokens`-token spans, drop every span whose exact text
   * occurs at least `minCount` times across the corpus, and rebuild the
   * document from the surviving spans (single-space rejoined canonical
   * form). Doc-level dedup misses the boilerplate INSIDE otherwise-distinct
   * documents (headers, navigation, license blurbs); span dedup is the
   * standard corpus-cleaning pass for that (C4 dropped any 3-sentence span
   * occurring more than once).
   *
   * Shape at 100 TB: tokenize + tile is map-only (tokens stay an attribute
   * between stages — see [[graft.streaming.StreamingDedup.bandRows]] on why
   * staging matters); the span count is one partial-agg groupBy; the kept
   * filter is an anti-join against the over-threshold span set (small by
   * definition — each member occurs ≥ minCount times, so there are at most
   * spans/minCount of them); the rebuild is a per-doc groupBy. Spans here
   * join on exact text so the DuckDB oracle reproduces the operator
   * bit-for-bit; at corpus scale the join key would be the 8-byte span
   * hash, same as every other dedup stage in this file.
   *
   * Output: (doc_id, n_spans, n_kept, clean_text) for EVERY input doc —
   * clean_text is "" when every span was boilerplate, and a token-less doc
   * reports (0, 0, "") rather than vanishing (a corpus rebuilt by joining
   * this output back must not silently lose rows).
   */
  def spanDedup(docs: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8, minCount: Int = 2): DataFrame = {
    // the span frame feeds the count, the anti-join, and the per-doc totals
    // but is not staged: recomputing it per consumer is cheaper than caching
    // a frame bigger than its input (see [[Staging]])
    val spanRows = tileSpans(docs, textCol, idCol, spanTokens)
    val common = spanRows.groupBy(col("span"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= minCount).select(col("span"))
    val kept = spanRows.join(common, Seq("span"), "left_anti")
    val tot = spanRows.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span")), " ").as("clean_text"))
    docs.select(col(idCol).as("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** The span tiling shared by [[spanDedup]] and [[commonSpans]]: one row
    * per (doc_id, pos, span) with fixed `w`-token tiles, map-only. */
  private def tileSpans(docs: DataFrame, textCol: String, idCol: String,
      w: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .select(col("doc_id"), posexplode(
        when(size(col("__tk")) > 0,
          transform(
            sequence(lit(0), (size(col("__tk")) + lit(w - 1)).divide(lit(w))
              .cast(IntegerType) - lit(1)),
            i => array_join(slice(col("__tk"), i * w + 1, lit(w)), " ")))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "span")))

  /**
   * BOILERPLATE MINING report — the actionable form of [[spanDedup]]'s
   * interior: the top-`topK` most-repeated exact spans across the corpus,
   * with total occurrences, the number of distinct documents carrying each,
   * and a deterministic example doc (the lowest id). [[spanDedup]] silently
   * REMOVES repeated spans; a curation team first wants to SEE them —
   * which template text (headers, navigation, license blurbs) pollutes the
   * corpus and how widely — before deciding strip rules, and this is that
   * report.
   *
   * Shape at 100 TB: map-only tiling, ONE partial-agg groupBy over span
   * text (occurrences + distinct-doc count + min example combine map-side),
   * then a TakeOrdered top-k — no window, no self-join; the ordering
   * (n_occurrences DESC, span ASC) is total because span is the group key,
   * so the report is deterministic on any partitioning.
   */
  def commonSpans(docs: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8, minCount: Int = 2, topK: Int = 100): DataFrame =
    tileSpans(docs, textCol, idCol, spanTokens)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("example_doc_id"))
      .filter(col("n_occurrences") >= minCount)
      .orderBy(col("n_occurrences").desc, col("span").asc)
      .limit(topK)

  /**
   * CROSS-CORPUS near-dup screen (incremental ingest): for each NEW doc,
   * how many docs of an existing REFERENCE corpus it shares a MinHash LSH
   * band with, and whether it survives (`kept` = no collision). Self-dedup
   * answers "is this corpus internally unique"; this answers the ingest
   * question "is this batch new relative to what we already curated" —
   * without ever joining new×ref text.
   *
   * Shape at 100 TB: both sides reduce to (doc_id, band_id, band_hash)
   * longs via the same map+partial-agg banding as [[minhashBands]]; the
   * collision join is the band-bucket equi-join (shuffles only long
   * triples); the per-new-doc count is partial-aggregated. The reference
   * side's bands can be precomputed once and reused across ingest batches
   * — at which point the per-batch cost is banding the batch plus one
   * bucket join against band state (the batch form of the sink's
   * `dedup=near` stage).
   */
  def crossCorpusNearDup(newDocs: DataFrame, refDocs: DataFrame,
      textCol: String, idCol: String,
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4): DataFrame =
    crossCorpusNearDupPrebanded(newDocs,
      // same call builds the bands — the tag check would only compare the
      // constant against itself; drop it so the screen skips the check
      refCorpusBands(refDocs, textCol, idCol, numHashes, shingleN, rowsPerBand)
        .drop("__geometry"),
      textCol, idCol, numHashes, shingleN, rowsPerBand)

  /**
   * The reference side of [[crossCorpusNearDup]], banded ONCE for reuse
   * across ingest batches: (ref_id, band_id, band_hash) long triples plus a
   * `__geometry` tag ("<numHashes>x<rowsPerBand>x<shingleN>"). Write this to
   * parquet after curating the reference corpus and feed it to
   * [[crossCorpusNearDupPrebanded]] for every batch — the per-batch cost is
   * then banding the batch plus one bucket join against these rows; the
   * reference TEXT is never re-read. The geometry is baked into the hashes;
   * the screen CHECKS the tag against its own parameters and fails fast on
   * a mismatch — without the check, mismatched geometries join to zero hits
   * and every near-duplicate would silently come back `kept`.
   */
  def refCorpusBands(refDocs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4): DataFrame =
    minhashBands(
      minhashSignatures(refDocs, textCol, idCol, numHashes, shingleN),
      rowsPerBand)
      .select(col("doc_id").as("ref_id"), col("band_id"), col("band_hash"),
        lit(s"${numHashes}x${rowsPerBand}x$shingleN").as("__geometry"))

  /** [[crossCorpusNearDup]] against a PRECOMPUTED reference band table
    * (from [[refCorpusBands]], typically read back from parquet). Identical
    * output to the two-corpus form when the geometry matches —
    * PipelineOpsSpec pins reuse == recompute; a `__geometry` tag in the band
    * table (present on anything [[refCorpusBands]] built) is verified
    * row-level against this call's parameters, so a stale-parameter call
    * fails instead of silently admitting everything. Hand-built band tables
    * without the tag skip the check. */
  def crossCorpusNearDupPrebanded(newDocs: DataFrame, refBands: DataFrame,
      textCol: String, idCol: String,
      numHashes: Int = 16, shingleN: Int = 3, rowsPerBand: Int = 4): DataFrame = {
    val nb = minhashBands(
      minhashSignatures(newDocs, textCol, idCol, numHashes, shingleN),
      rowsPerBand)
      .select(col("doc_id"), col("band_id"), col("band_hash"))
    // row-level on purpose: validating lazily (no action at plan-build)
    // means the check rides the scan; the constant column dictionary-encodes
    // to ~nothing in parquet and the comparison codegens to a constant
    // equality. Null-tagged rows (legacy tables merged with tagged ones)
    // SKIP the check rather than crash — same contract as a missing column.
    val expected = s"${numHashes}x${rowsPerBand}x$shingleN"
    val rb0 =
      if (!refBands.columns.contains("__geometry")) refBands
      else refBands.filter(assert_true(
        col("__geometry").isNull || col("__geometry") === lit(expected),
        concat(lit("refBands geometry "), coalesce(col("__geometry"), lit("?")),
          lit(s" does not match the screen's $expected — rebuild the " +
            "reference bands or pass the original parameters"))).isNull)
    val rb = rb0.select(col("ref_id"), col("band_id"), col("band_hash"))
    val hits = nb.join(rb, Seq("band_id", "band_hash"))
      .select(col("doc_id"), col("ref_id")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_ref_matches"))
    newDocs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ref_matches"), lit(0L)).as("n_ref_matches"))
      .withColumn("kept", col("n_ref_matches") === 0L)
  }

  // --------------------------------------------------------- contamination

  /**
   * Benchmark decontamination: flag corpus documents sharing at least
   * `minShared` n-gram shingles with an evaluation set — the train/test
   * overlap scrub every pre-training pipeline runs before the corpus ships.
   *
   * Shape at 100 TB: the EVAL side is small by definition (benchmarks are
   * thousands of documents, the corpus is billions), so its distinct shingle
   * set broadcasts and the corpus side joins MAP-ONLY — the 100-TB corpus
   * never shuffles to meet the eval set; the only shuffle is the per-doc
   * match count (doc_id, partial count). Shingles are the same 8-byte
   * deterministic hashes as [[ngramJaccardPairs]] — text never leaves the
   * scan stage.
   *
   * Output: (doc_id, n_shared) for contaminated docs only; anti-join it
   * against the corpus to apply (same pattern as [[applyNearDedup]]).
   */
  def contamination(corpus: DataFrame, evalDocs: DataFrame, textCol: String,
      idCol: String, shingleN: Int = 3, minShared: Int = 1): DataFrame = {
    val c = shingleHashRows(corpus, textCol, idCol, shingleN)
    val e = shingleHashRows(evalDocs, textCol, idCol, shingleN)
      .select(col("h")).distinct()
    c.join(broadcast(e), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")) // h is distinct per doc upstream
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Canonical-document pick per near-dup cluster: when duplicates span
   * sources, keep the copy from the most-trusted source (wiki over crawl,
   * then lowest id). `df` is a cluster assignment (from [[nearDupClusters]])
   * joined with whatever integer rank column encodes the preference; the
   * pick is a single partial-agg `min_by` over (rank, id) — one shuffle of
   * (cluster, id, rank) triples, never the text.
   */
  def canonicalPick(df: DataFrame, clusterCol: String, idCol: String,
      rankCol: Column): DataFrame =
    df.groupBy(col(clusterCol))
      .agg(
        min_by(col(idCol), struct(rankCol, col(idCol))).as("canonical_id"),
        count(lit(1)).cast(LongType).as("cluster_size"))

  /**
   * Per-source dedup health report — the curation dashboard row: how much
   * of each source is near-duplicated (member of a >1-doc cluster from
   * [[nearDupClusters]]). A source with a high dup_ppm is template spam or
   * a mirror; the number to watch across ingest batches. Two partial-agg
   * groupBys (cluster sizes, source roll-up) + one id-keyed join — no
   * text, no windows.
   *
   * Output: (source, n_docs, dup_docs, dup_ppm).
   */
  def dedupRateReport(clusters: DataFrame, docs: DataFrame, idCol: String,
      sourceCol: String): DataFrame = {
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("__csz"))
    clusters.join(sizes, "cluster_id")
      .select(col("doc_id"),
        when(col("__csz") > 1L, 1L).otherwise(0L).as("is_dup"))
      .join(docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("dup_docs"))
      .select(col("source"), col("n_docs"), col("dup_docs"),
        IntMath.idiv(col("dup_docs") * 1000000L, col("n_docs"))
          .as("dup_ppm"))
  }

  /**
   * Contrastive (anchor, positive) pair mining from a near-dup cluster
   * assignment — the training-pair generator for a dense retriever or
   * embedding model: documents that near-duplicate each other are
   * semantically equivalent, so each cluster's canonical doc (the min-id
   * cluster label [[nearDupClusters]] already carries) anchors up to
   * `maxPositives` of its other members as positives. Hard negatives for
   * the same anchors come from [[graft.operators.Retrieval.hardNegatives]];
   * together they form the standard (anchor, positive, negatives) triple.
   *
   * One keyed window over (anchor, member) id pairs — singleton clusters
   * emit nothing, the cap bounds fan-out per cluster, text never moves.
   *
   * Output: (anchor_id, positive_id, pair_rank).
   */
  def contrastivePairs(clusters: DataFrame, maxPositives: Int = 4)
      : DataFrame = {
    require(maxPositives >= 1, s"maxPositives must be >= 1, got $maxPositives")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("anchor_id")).orderBy(col("positive_id"))
    clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("anchor_id"),
        col("doc_id").as("positive_id"))
      .withColumn("pair_rank", row_number().over(w)
        .cast(org.apache.spark.sql.types.IntegerType))
      .filter(col("pair_rank") <= maxPositives)
  }

  /**
   * SimHash near-dup pairs at Hamming distance ≤ `maxHamming`, found
   * EXACTLY (no recall loss) by the pigeonhole band trick (Manku et al.,
   * "Detecting Near-Duplicates for Web Crawling", WWW 2007, §3): split the
   * 32-bit fingerprint into `maxHamming + 1` contiguous chunks — any pair
   * within the distance budget must agree on at least one chunk — then
   * equality-join per chunk and verify `bit_count(xor)` on the candidates.
   *
   * Scale: the chunk join is the familiar LSH bucket shape, but with only
   * 2^(32/(h+1)) buckets per chunk the candidate volume grows as
   * n²/2^chunkBits — at the 100 TB tier shard the join by a chunk-value
   * prefix and prefer [[minhashCandidates]] (whose bucket count tracks
   * content, not a fixed bit budget) unless Hamming semantics are the
   * point. The verify itself is codegen'd integer ops.
   *
   * Output: (doc_a, doc_b, hamming), doc_a < doc_b, distinct.
   */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 2, maxBucketSize: Int = 0): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 7,
      s"maxHamming in [1,7], got $maxHamming")
    val nBands = maxHamming + 1
    val width = 32 / nBands // last band takes the remainder bits
    val sh = Staging.stage(simhash(docs, textCol, idCol))
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map { j =>
        val shift = j * width
        val bits = if (j == nBands - 1) 32 - shift else width
        expr(s"shiftright(simhash, $shift) & ${(1L << bits) - 1}")
      }: _*)).as(Seq("band_id", "band_val")))
    def pairsOf(b: DataFrame): DataFrame = {
      val l = b.alias("l"); val r = b.alias("r")
      l.join(r,
          col("l.band_id") === col("r.band_id") &&
          col("l.band_val") === col("r.band_val") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
          expr("bit_count(l.simhash ^ r.simhash)").cast(
            org.apache.spark.sql.types.LongType).as("hamming"))
    }
    // A dup-dense corpus puts every copy of one text in ONE bucket per
    // band — the uncapped join is quadratic in the copy count (the same
    // degenerate case minhashCandidates caps). With a cap, over-cap
    // buckets short-circuit to the (bucket-min, other) star: the EXACT
    // all-pairs-within-hamming contract narrows to bucket members linking
    // to their bucket min — still sufficient for connected-component
    // dedup (copies of one text share the bucket), not for exhaustive
    // pair listing. Uncapped (0) keeps the Manku pigeonhole exactness.
    val pairs =
      if (maxBucketSize <= 0) pairsOf(bands)
      else {
        val stats = bands.groupBy(col("band_id"), col("band_val"))
          .agg(count(lit(1)).as("__bsz"), min(col("doc_id")).as("__bmin"))
        val withStats = bands.join(stats, Seq("band_id", "band_val"))
        val small = withStats.filter(col("__bsz") <= maxBucketSize)
          .select("doc_id", "simhash", "band_id", "band_val")
        val star = withStats
          .filter(col("__bsz") > maxBucketSize &&
            col("doc_id") =!= col("__bmin"))
          .join(sh.select(col("doc_id").as("__bmin"),
            col("simhash").as("__minhashv")), "__bmin")
          .select(col("__bmin").as("doc_a"), col("doc_id").as("doc_b"),
            expr("bit_count(__minhashv ^ simhash)").cast(
              org.apache.spark.sql.types.LongType).as("hamming"))
        pairsOf(small).union(star)
      }
    pairs.filter(col("hamming") <= maxHamming).distinct()
  }

  /**
   * Train/val/test leakage audit: near-dup candidate pairs whose two docs
   * landed in DIFFERENT splits — each row is an eval example whose
   * near-copy sits in training (the contamination mode a random split
   * cannot avoid when the corpus has near-dups; the fix is splitting by
   * CLUSTER, and this report is the evidence). Two keyed joins of the pair
   * list against the assignment — scales with the candidate count.
   *
   * `candidates`: (doc_a, doc_b) e.g. [[minhashCandidates]];
   * `assignment`: (idCol, splitCol) e.g. [[Sampling.stratifiedSplit]].
   * Output: (doc_a, doc_b, split_a, split_b), split_a ≠ split_b.
   */
  def splitLeakagePairs(candidates: DataFrame, assignment: DataFrame,
      idCol: String, splitCol: String): DataFrame =
    candidates
      .join(assignment.select(col(idCol).as("doc_a"),
        col(splitCol).as("split_a")), "doc_a")
      .join(assignment.select(col(idCol).as("doc_b"),
        col(splitCol).as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "split_a", "split_b")

  /**
   * Corpus-level novelty score: per NEW doc, the fraction of its distinct
   * n-gram shingles never seen in the REFERENCE corpus — the "new
   * information rate" a curation pipeline uses to rank an ingest batch
   * against everything already collected (near-zero novelty = rehash;
   * [[containmentPairs]] answers the PAIRWISE version, this is the
   * corpus-aggregate one, one number per doc with no pair enumeration
   * at all).
   *
   * Scale shape: both sides reduce to (doc, shingle-hash) longs
   * ([[graft.operators.TextAnalysis.shingleHashRows]]); the reference
   * collapses to its DISTINCT hash set once (reusable across ingest
   * batches, like [[refCorpusBands]]); then one hash-keyed left join +
   * partial-agg count per doc. Text never joins.
   *
   * Docs with < shingleN tokens have no shingles and emit no row (same
   * contract as every shingle-based operator here).
   *
   * Output: (doc_id, n_shingles, n_novel, novelty_ppm).
   */
  def noveltyScore(newDocs: DataFrame, refDocs: DataFrame, textCol: String,
      idCol: String, shingleN: Int = 3): DataFrame = {
    val newSh = TextAnalysis.shingleHashRows(newDocs, textCol, idCol,
      shingleN)
    val refSh = TextAnalysis.shingleHashRows(refDocs, textCol, idCol,
      shingleN).select(col("h")).distinct()
    newSh.join(refSh.withColumn("__seen", lit(1L)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        IntMath.idiv(col("n_novel") * 1000000L, col("n_shingles"))
          .as("novelty_ppm"))
  }

  /**
   * EXACT all-pairs set-cosine search with prefix filtering — every doc
   * pair whose n-gram shingle-set cosine |A∩B|/√(|A|·|B|) meets the
   * threshold, with NO recall loss (unlike the banded LSH gate of
   * [[ngramJaccardPairs]], whose candidate stage is probabilistic). This
   * is the classic APSS primitive (prefix filtering: Chaudhuri et al.,
   * ICDE 2006; Bayardo et al., WWW 2007; the MapReduce formulation is
   * Vernica et al., SIGMOD 2010) — the right tool when the dedup report
   * must be COMPLETE at the threshold, e.g. a contractual "no pair above
   * t survives" guarantee that a banded gate cannot sign. The set
   * element is the `shingleN`-gram hash ([[ngramJaccardPairs]]'s unit —
   * single tokens carry too little identity: a corpus-scale vocabulary
   * is shared by everything, while shingle vocabularies grow with the
   * corpus and keep document frequencies low, which is exactly what the
   * rarest-first prefix wants).
   *
   * Losslessness: order all shingle hashes by (document frequency ASC,
   * hash) — one global total order. For a doc with n shingles the
   * required overlap with ANY admissible partner is at least α = ⌈t²·n⌉
   * (cos ≥ t forces |B| ≥ t²·|A| and o ≥ t·√(n_a·n_b)); the SMALLEST
   * common shingle (in the global order) of a qualifying pair must then
   * sit within the first n − α + 1 shingles of BOTH docs (at least o−1
   * common shingles order after it in each), so joining prefixes only
   * misses nothing. Rarest-first ordering makes those prefixes meet as
   * rarely as possible — candidate volume tracks rare-shingle
   * co-occurrence, not corpus².
   *
   * Integer-exact end to end: the verify is o²·10⁶ ≥ t‰²·n_a·n_b — no FP
   * anywhere, so the DuckDB brute-force oracle matches bit-for-bit (the
   * prefix filter changes WORK, never the answer).
   *
   * `maxShingleDF` drops shingles above the document-frequency cap from
   * the SETS (both overlap and sizes — the operator is defined over the
   * DF-capped sets, the [[ngramJaccardPairs]] contract): boilerplate
   * carries no similarity signal, and the cap bounds both the hottest
   * inverted-index bucket (≤ cap² pairs) and the oracle's brute-force
   * join.
   *
   * Scale shape: one DF count (partial-agg), one per-doc sort of its own
   * ≤`maxShingleDF`-filtered shingle list (map-side, bounded by doc
   * length), an inverted-index self-join over PREFIX rows only, then the
   * exact overlap count on candidate pairs — |cand| × mean doc size, the
   * same verify shape that keeps q32 linear-ish in dup density.
   *
   * Numeric envelope: the threshold predicates (size band, positional
   * filter, verify) all compare `x² · 10⁶` against `t² · n_a · n_b` in
   * Long arithmetic, which is exact while n_a · n_b < 2⁶³/10⁶ ≈ 9.2·10¹²
   * — i.e. until BOTH docs carry ~3·10⁶+ DF-capped distinct shingles.
   * A 3M-distinct-shingle doc is a ≥ 3M-token document (tens of MB of
   * text), far past any sane per-document bound in a training corpus;
   * enforce a doc-length cap upstream (or widen these products through
   * DecimalType as [[TextAnalysis.vocabRichness]] does) before feeding
   * book-length concatenations.
   *
   * Output: (doc_a, doc_b, overlap, n_a, n_b), doc_a < doc_b.
   */
  def allPairsCosine(docs: DataFrame, textCol: String, idCol: String,
      minCosinePermille: Int = 700, maxShingleDF: Int = 100,
      shingleN: Int = 3): DataFrame = {
    require(minCosinePermille >= 1 && minCosinePermille <= 1000,
      s"minCosinePermille in [1, 1000], got $minCosinePermille")
    require(maxShingleDF >= 1, s"maxShingleDF must be >= 1, got $maxShingleDF")
    val t2 = minCosinePermille.toLong * minCosinePermille // ≤ 10⁶
    // the explode+window shingle scan feeds the DF count, the cap filter
    // AND both verify sides, recomputed per consumer (see [[Staging]], the
    // ngramJaccardPairs shape)
    val rows0 = TextAnalysis.shingleHashRows(docs, textCol, idCol, shingleN)
    val dfreq = rows0.groupBy("h").agg(count(lit(1)).as("df"))
    // cap filter mirrors ngramJaccardPairs: the OVER-cap shingle set is
    // tiny by construction (≤ rows/cap members) — broadcast anti-join
    val overCap = dfreq.filter(col("df") > maxShingleDF).select(col("h"))
    val toks = rows0.join(broadcast(overCap), Seq("h"), "left_anti")
    // per-doc shingle list in the global (df, h) order + the prefix length
    // n − ⌈t²·n⌉ + 1 (≥ 1 whenever n ≥ 1, since ⌈t²·n⌉ ≤ n for t ≤ 1)
    val ordered = toks.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("df"), col("h")))).as("terms"))
      .withColumn("p",
        (col("n") - IntMath.idiv(lit(t2) * col("n") + lit(999999L),
          lit(1000000L)) + lit(1L)).cast(org.apache.spark.sql.types.IntegerType))
    val pref = ordered
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("terms"), lit(1), col("p")))
          .as(Seq("i0", "e")))
      .select(col("doc_id"), col("n"), (col("i0") + 1L).as("i"),
        col("e.h").as("h"))
    // candidates: prefix × prefix on the token hash, plus the two-sided
    // size band t²·n_a ≤ 10⁶·n_b (and symmetric) every qualifying pair
    // must satisfy, plus the PPJoin POSITIONAL filter (Xiao, Wang, Lin &
    // Yu 2008, public): a token shared at (1-based) positions (i, j) of
    // the two ordered lists bounds the overlap of the suffixes from there
    // by ub = 1 + min(n_a − i, n_b − j); the threshold needs overlap O
    // with 10⁶·O² ≥ t²·n_a·n_b. EXACT: a qualifying pair's globally
    // FIRST shared token is in both prefixes whenever any shared token is
    // (prefixes are list heads under one global order), every shared
    // token sits at positions ≥ (i, j) of that first row, so its ub ≥ O
    // and the row survives; rows pruned are either non-first (the
    // distinct keeps the pair anyway) or prove the pair under-threshold.
    // Measured at sf1 (t = 0.7): candidates 12.9M → 4.63M (identical
    // 250,600-pair output), q201 steady-state wall 64.6 → 24.0 s — the
    // pruned rows are the late-prefix spurious matches that drove a
    // 445M-row verify expansion for a 250k-pair answer.
    val ub = lit(1L) +
      least(col("n_a") - col("i_a"), col("n_b") - col("i_b"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("i").as("i_a"), col("h"))
      .join(pref.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("i").as("i_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b") &&
        col("n_b") * 1000000L >= lit(t2) * col("n_a") &&
        col("n_a") * 1000000L >= lit(t2) * col("n_b") &&
        ub * ub * 1000000L >= lit(t2) * col("n_a") * col("n_b"))
      .select("doc_a", "doc_b", "n_a", "n_b").distinct()
    // verify: exact DF-capped overlap, candidate pairs only
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") * col("overlap") * 1000000L >=
        lit(t2) * col("n_a") * col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("n_a"),
        col("n_b"))
  }

  /**
   * Agreement report between two near-dup METHODS' pair sets — the
   * evaluation readout when choosing between detectors (minhash vs
   * simhash vs embedding buckets): how many pairs each flags, how many
   * both flag, and the Jaccard of the two sets. Pairs normalize to
   * (min, max) and dedupe first, so orientation and multiplicity never
   * skew the comparison.
   *
   * Shape at 100 TB: pair frames are already the REDUCED output of their
   * methods; one pair-keyed full-outer join + a 1-row aggregate.
   *
   * Output (1 row): (n_a, n_b, n_both, only_a, only_b, jaccard_ppm).
   */
  /**
   * EXACT cross-document substring dedup (the memorization audit of Lee
   * et al. 2022, "Deduplicating Training Data Makes Language Models
   * Better"): for every document, the maximal TOKEN spans covered by some
   * `minTokens`-token run that appears VERBATIM in at least one OTHER
   * document. Unlike [[TextAnalysis.duplicatedSpanRuns]] (its hash-only
   * approximation, collision false-positives possible), the output here
   * is exact: candidate positions found by hash are re-verified on the
   * actual token content before any position is marked.
   *
   * Exactness argument (in place of Lee et al.'s suffix array — a k-gram
   * union computes the same span union for the fixed-k contract):
   *  - completeness: a run of L ≥ k tokens shared verbatim between two
   *    docs has ALL of its k-gram start positions [s, s+L−k] shared
   *    verbatim, every one of them survives the hash pre-filter (equal
   *    strings hash equal) and the content verify, and coalescing marks
   *    the whole [s, s+L−1];
   *  - soundness: a marked position sits inside some verified k-gram,
   *    i.e. inside a verbatim shared run of ≥ k tokens;
   *  - maximality: spans merge while their k-gram intervals overlap or
   *    touch, so each output row is a maximal covered interval — exactly
   *    the byte ranges Lee et al.'s ExactSubstr scrubs.
   * Self-repeats do NOT mark (document frequency counts DISTINCT docs).
   *
   * Shape at 100 TB: the hash pre-filter shuffles only (doc, pos, h64)
   * rows (doc-keyed window + 8-byte-hash-keyed partial agg, the q310
   * plan); the content verify re-materializes k-gram STRINGS only at
   * candidate positions — one doc-keyed join of hit-position lists
   * against the token arrays, so text volume in the verify shuffle is
   * k × (true dup density + collision noise), not k × corpus. Islands
   * are doc-keyed windows, bounded by doc length.
   *
   * Output: (doc_id, span_start, span_end, span_tokens) — 0-based token
   * positions, end inclusive; docs with no shared run produce no rows.
   */
  def exactDupSpans(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val k = minTokens
    // positional k-gram hashes (the duplicatedSpanRuns machinery): explode
    // token hashes once, window-lead fold combines k consecutive hashes
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokenHashes(col(textCol))).as(Seq("pos", "th")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val kgramHash = (1 until k).foldLeft(col("th")) { (acc, j) =>
      (acc * 131L + lead(col("th"), j).over(byDoc)) % HashPrime
    }
    val sh = toks.withColumn("h", kgramHash)
      .filter(col("h").isNotNull)
      .select(col("doc_id"), col("pos"), col("h"))
    // hash pre-filter: k-gram hashes seen in ≥ 2 DISTINCT docs (full
    // recall: equal strings hash equal; collisions only add candidates)
    val sharedH = sh.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L).select(col("h"))
    val candPos = sh.join(sharedH, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // content verify: materialize the ACTUAL k-gram string at candidate
    // positions only — hit positions aggregate per doc first so each doc's
    // token array ships into the join once, not once per hit
    val posLists = candPos.groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("ps"))
    val tokenArrays = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("tk"))
    val kgv = posLists.join(tokenArrays, Seq("doc_id"))
      .select(col("doc_id"), explode(col("ps")).as("pos"),
        col("tk"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("tk"), col("pos") + 1, lit(k)), " ").as("g"))
    val sharedG = kgv.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L).select(col("g"))
    val hits = kgv.join(sharedG, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // interval coalescing: equal-length intervals [pos, pos+k−1] in pos
    // order merge while the next start is ≤ previous start + k (overlap
    // or adjacency) — lag is enough because interval ends are monotone
    val prevPos = lag(col("pos"), 1).over(byDoc)
    val marked = hits
      .withColumn("brk",
        when(prevPos.isNull || col("pos") - prevPos > k, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .select(col("doc_id"),
        col("s").cast(LongType).as("span_start"),
        (col("e") + k - 1).cast(LongType).as("span_end"),
        (col("e") - col("s") + k).cast(LongType).as("span_tokens"))
  }

  /**
   * Scrub companion to [[exactDupSpans]] (Lee et al. 2022's ExactSubstr
   * DEDUP step): every token covered by a cross-doc duplicated span is
   * removed, the survivors re-join with single spaces. Docs made entirely
   * of duplicated content come back as empty strings; docs with no
   * duplicated span come back whitespace-normalized (the tokenizer's
   * canonical join — positions, not raw bytes, are the unit here).
   *
   * Shape: spans explode to covered positions (bounded by true dup
   * volume), one doc-keyed anti-join against the posexploded tokens, one
   * doc-keyed ordered re-assembly.
   *
   * Output per input doc: (doc_id, scrubbed_text, kept_tokens,
   * dropped_tokens).
   */
  def scrubDupSpans(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 8): DataFrame = {
    val spans = exactDupSpans(docs, textCol, idCol, minTokens)
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), col("pos0").cast(LongType).as("pos"), col("tok"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok")), " ").as("scrubbed_text"),
        count(lit(1)).as("kept_tokens"))
    docs.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast(LongType).as("n_tokens"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("dropped_tokens"))
  }

  /**
   * LSH band-plan advisor: the S-curve P(candidate | s) = 1 − (1 − s^r)^b
   * for every (rows-per-band r, bands b) split of a MinHash budget — the
   * tuning table behind `dedup = near:<k>x<r>` and
   * [[minhashCandidates]]. All FIXED-POINT ppm integer arithmetic
   * (truncating folds), so the DuckDB oracle reproduces every cell
   * bit-for-bit and the table is engine-portable; products stay ≤ 10¹²,
   * no overflow. Pure planning — no data input; rows = divisors(budget)
   * × the s grid.
   *
   * Reading it: pick the (r, b) row family whose curve is steep AT the
   * dedup threshold — high p above it (recall), low p below it
   * (candidate junk). E.g. at budget 16, threshold 0.7: 4×4 gives
   * p(0.70) ≈ 63%, p(0.50) ≈ 23%; 2×8 trades junk for recall.
   *
   * Output: (rows_per_band, n_bands, s_permille, p_candidate_ppm).
   */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int = 16, stepPermille: Int = 50): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(stepPermille >= 1 && stepPermille < 1000,
      s"stepPermille in [1, 999], got $stepPermille")
    import spark.implicits._
    val combos = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (r.toLong, (numHashes / r).toLong))
    // truncating ppm power: fold acc·x/10⁶ e times from 10⁶ — the oracle
    // mirrors with list_reduce over a prepended seed
    def powPpm(x: Column, e: Column): Column =
      aggregate(sequence(lit(1L), e), lit(1000000L),
        (acc, _) => IntMath.idiv(acc * x, lit(1000000L)))
    combos.toDF("rows_per_band", "n_bands")
      .select(col("rows_per_band"), col("n_bands"),
        explode(sequence(lit(stepPermille.toLong),
          lit(1000L - stepPermille), lit(stepPermille.toLong)))
          .as("s_permille"))
      .withColumn("sr_ppm", powPpm(col("s_permille") * 1000L,
        col("rows_per_band")))
      .withColumn("p_candidate_ppm",
        lit(1000000L) - powPpm(lit(1000000L) - col("sr_ppm"),
          col("n_bands")))
      .select(col("rows_per_band"), col("n_bands"), col("s_permille"),
        col("p_candidate_ppm"))
  }

  /**
   * Pair-level provenance for the exact memorization audit (the partner
   * attribution [[exactDupSpans]] deliberately aggregates away): for each
   * DOC PAIR sharing at least one verbatim `minTokens`-token run, how
   * many matched k-gram position pairs they have and the longest
   * verbatim run they share. This is the "which document did this span
   * come from" readout of Lee et al. 2022's audit — scrubbing wants the
   * span union (q312); contamination triage wants the pair.
   *
   * Exact on its domain: candidate positions are hash-pre-filtered then
   * content-verified exactly as [[exactDupSpans]]; a pair's max run is
   * computed over the DIAGONAL (pos_a − pos_b) islands of its verified
   * matches — c consecutive positions on one diagonal = a verbatim
   * shared run of c + k − 1 tokens (step-1 adjacency only: a gap in the
   * diagonal breaks verbatim continuity by construction).
   *
   * `maxDocsPerGram` caps the per-gram doc fan-out (default 100): a gram
   * in d docs contributes O(d²) pair rows, and past the cap it is
   * boilerplate carrying no pair-attribution signal — the operator is
   * defined over the capped gram set (the [[allPairsCosine]]
   * `maxShingleDF` contract; the oracle applies the identical cap).
   *
   * Output: (doc_a, doc_b, n_matched_positions, max_shared_run_tokens),
   * doc_a < doc_b.
   */
  def dupSpanPartners(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 8, maxDocsPerGram: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    require(maxDocsPerGram >= 2,
      s"maxDocsPerGram must be >= 2, got $maxDocsPerGram")
    val k = minTokens
    // the exactDupSpans candidate machinery: positional k-gram hashes,
    // hash pre-filter (df >= 2), content verify at candidate positions
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokenHashes(col(textCol))).as(Seq("pos", "th")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val kgramHash = (1 until k).foldLeft(col("th")) { (acc, j) =>
      (acc * 131L + lead(col("th"), j).over(byDoc)) % HashPrime
    }
    val sh = toks.withColumn("h", kgramHash)
      .filter(col("h").isNotNull)
      .select(col("doc_id"), col("pos"), col("h"))
    val sharedH = sh.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L).select(col("h"))
    val candPos = sh.join(sharedH, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val posLists = candPos.groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("ps"))
    val tokenArrays = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("tk"))
    val kgv = posLists.join(tokenArrays, Seq("doc_id"))
      .select(col("doc_id"), explode(col("ps")).as("pos"), col("tk"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("tk"), col("pos") + 1, lit(k)), " ").as("g"))
    // verified + CAPPED grams: in [2, maxDocsPerGram] distinct docs
    val sharedG = kgv.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L && col("df") <= maxDocsPerGram.toLong)
      .select(col("g"))
    val hits = kgv.join(sharedG, Seq("g"), "left_semi")
    // pair expansion on the gram key (≤ cap² rows per gram), oriented
    val pairs = hits.select(col("g"), col("doc_id").as("doc_a"),
        col("pos").as("pos_a"))
      .join(hits.select(col("g"), col("doc_id").as("doc_b"),
        col("pos").as("pos_b")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"))
      .distinct()
    // diagonal islands: step-1 adjacency on pos_a within (pair, diag)
    val byDiag = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pos_a") - col("pos_b"))
      .orderBy(col("pos_a"))
    val prev = lag(col("pos_a"), 1).over(byDiag)
    val marked = pairs
      .withColumn("brk",
        when(prev.isNull || col("pos_a") - prev > 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        byDiag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pos_a") - col("pos_b")).as("__diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("run")).as("n_matched_positions"),
        (max(col("run")) + (k - 1).toLong).as("max_shared_run_tokens"))
  }

  def pairSetAgreement(pairsA: DataFrame, pairsB: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    def norm(df: DataFrame, tag: String): DataFrame =
      df.select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .distinct()
        .withColumn(s"__$tag", lit(1L))
    norm(pairsA, "ina").join(norm(pairsB, "inb"), Seq("a", "b"),
        "full_outer")
      .agg(
        sum(coalesce(col("__ina"), lit(0L))).as("n_a"),
        sum(coalesce(col("__inb"), lit(0L))).as("n_b"),
        sum(when(col("__ina").isNotNull && col("__inb").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("__inb").isNull, 1L).otherwise(0L)).as("only_a"),
        sum(when(col("__ina").isNull, 1L).otherwise(0L)).as("only_b"))
      .select(
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        coalesce(col("only_a"), lit(0L)).as("only_a"),
        coalesce(col("only_b"), lit(0L)).as("only_b"),
        IntMath.idiv(coalesce(col("n_both"), lit(0L)) * lit(1000000L),
          greatest(coalesce(col("n_a"), lit(0L)) +
            coalesce(col("n_b"), lit(0L)) - coalesce(col("n_both"), lit(0L)),
            lit(1L))).as("jaccard_ppm"))
  }
}
