package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph analytics over document-similarity / link graphs. A corpus pipeline
 * meets graphs twice: the near-dup candidate graph (who shares a MinHash
 * band with whom) and citation/link structure when sources carry it; both
 * want an importance score that survives distribution. The operators here
 * are all-integer so any cluster, any partitioning, any summation order
 * produces bit-identical results (the DuckDB oracle reproduces them).
 */
object Graph {

  /**
   * Fixed-point PageRank in parts-per-million units. Every node starts at
   * 1,000,000; each iteration
   *
   *   r'(v) = 150,000 + (850,000 · Σ_{u→v} (r(u) DIV outdeg(u))) DIV 10⁶
   *
   * — the standard 0.15/0.85 damping, with truncating integer division in
   * place of FP. Truncation leaks a little mass (as real dangling-node
   * handling does); what it buys is determinism: FP PageRank differs run to
   * run with summation order, this never does. Edges are DIRECTED — pass
   * both directions for an undirected similarity graph. Nodes with no
   * in-edges settle at 150,000 after one iteration; isolated docs rank at
   * the floor and dup-cluster hubs rise.
   *
   * Shape at 100 TB: out-degrees join the edge frame once (staged); each of
   * the (bounded, default 3) iterations is one src-keyed join + one
   * dst-keyed partial-agg — the rank frame is 2 longs per node, always far
   * smaller than the edges. No collect, no global window. Overflow-safe
   * while total graph mass stays under ~10¹³ ppm (10 B in-neighbors of one
   * node) — beyond that, split the 850,000 multiply.
   *
   * Output: (node_id, rank_ppm).
   */
  def pageRankLite(nodes: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    // stage the raw edge list FIRST: `deg` and the degree join both consume
    // it, and without the stage the (often expensive) edge-producing plan —
    // q116 feeds minhash band candidates here — appeared TWICE inside the
    // staged joined frame's definition, executing twice on materialization
    // (guide §5: reused and expensive ⇒ compute once)
    val e0 = Staging.stage(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = Staging.stage(e0.join(deg, "src"))
    val n0 = nodes.select(col(idCol).as("node_id"))
    var rank = n0.withColumn("rank_ppm", lit(1000000L))
    for (_ <- 1 to iterations) {
      val contrib = e.join(rank.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst"),
          IntMath.idiv(col("rank_ppm"), col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("in_mass"))
      rank = n0
        .join(contrib.withColumnRenamed("dst", "node_id"), Seq("node_id"),
          "left")
        .select(col("node_id"),
          (lit(150000L) + IntMath.idiv(
            lit(850000L) * coalesce(col("in_mass"), lit(0L)),
            lit(1000000L))).as("rank_ppm"))
    }
    rank
  }

  /**
   * Semi-supervised label propagation (Zhu & Ghahramani 2002, public):
   * seed nodes carry fixed labels; each synchronous iteration, every
   * unlabeled node adopts the most common label among its labeled
   * in-neighbors, ties breaking (count desc, label asc) so the result is
   * deterministic on any partitioning. Seeds never change; nodes with no
   * labeled neighbor stay unlabeled (null). The cheap classifier over a
   * near-dup/similarity graph: propagate trusted source/language/quality
   * labels to their duplicate neighborhoods.
   *
   * Edges are directed (pass both directions for undirected); `iterations`
   * bounded small — each is one src-keyed join + one (node, label)
   * partial agg + one node-keyed rank window.
   *
   * Output: (node_id, label) for EVERY node, null when never reached.
   */
  def labelPropagate(nodes: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, seeds: DataFrame, seedIdCol: String,
      labelCol: String, iterations: Int = 2): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1, 10], got $iterations")
    import org.apache.spark.sql.expressions.Window
    val e = Staging.stage(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val seed = seeds.select(col(seedIdCol).as("node_id"),
      col(labelCol).as("label"))
    var labels = seed
    val w = Window.partitionBy(col("dst"))
      .orderBy(col("cnt").desc, col("label").asc)
    for (_ <- 1 to iterations) {
      val picks = e.join(labels.withColumnRenamed("node_id", "src"), "src")
        .groupBy("dst", "label").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node_id"), col("label"))
      labels = seed.unionByName(
        picks.join(seed.select("node_id"), Seq("node_id"), "left_anti"))
    }
    nodes.select(col(idCol).as("node_id"))
      .join(labels, Seq("node_id"), "left")
  }

  /**
   * Per-node triangle counts over an UNDIRECTED graph given as canonical
   * edges (src < dst, deduplicated) — the local clustering signal: in a
   * near-dup candidate graph, high triangle counts mark tight duplicate
   * cliques (transitively-supported dups) vs. incidental band collisions.
   * Standard two-join enumeration with every triangle materialized exactly
   * once as a < b < c, then an explode credits each corner. Cost is bounded
   * by Σ deg(a)·deg(b) over edges — on a CAPPED candidate graph
   * ([[Dedup.minhashCandidates]] with `maxBucketSize`) this stays near-linear
   * in edges; on an uncapped dup-dense graph cap first.
   *
   * Output: (node_id, n_triangles) — one row per input node, 0 for
   * triangle-free nodes.
   */
  def triangleCounts(nodes: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val e = Staging.stage(edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") < col("b")).distinct())
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n"))
    nodes.select(col(idCol).as("node_id"))
      .join(perNode, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /**
   * Degree histogram of an undirected pair graph: (degree, n_nodes),
   * including degree 0 for isolated nodes — the one-glance shape check of a
   * candidate graph (a heavy high-degree tail means dup-dense buckets or a
   * too-loose band gate; run BEFORE the quadratic downstream ops).
   *
   * Two partial aggregations (per-node degree, then per-degree count) plus
   * one left join for the zero row — fully distributed, no windows.
   */
  def degreeHistogram(nodes: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val deg = edges.select(col(srcCol).as("node_id"))
      .unionAll(edges.select(col(dstCol).as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))
    nodes.select(col(idCol).as("node_id"))
      .join(deg, Seq("node_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  /**
   * Approximate k-core via `rounds` synchronous peels: each round drops
   * every node whose CURRENT degree is below `k`, then recomputes degrees
   * on the induced subgraph. The true k-core is the fixpoint; a fixed
   * round count keeps the plan statically bounded (same contract as
   * [[pageRankLite]]/[[labelPropagate]]) and each round is one groupBy +
   * two semi-joins — shuffle-bounded at any scale. Nodes keep
   * (node_id, rounds_survived ∈ [0, rounds]); survivors of all rounds are
   * the approximate core.
   */
  def kcoreSurvivors(nodes: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    var e = Staging.stage(edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") < col("b")).distinct())
    var survived = nodes.select(col(idCol).as("node_id"),
      lit(0L).as("rounds_survived"))
    for (_ <- 1 to rounds) {
      val deg = e.select(col("a").as("node_id"))
        .unionAll(e.select(col("b").as("node_id")))
        .groupBy("node_id").agg(count(lit(1)).as("deg"))
      val keep = Staging.stage(
        deg.filter(col("deg") >= k).select("node_id"))
      survived = survived
        .join(keep.withColumn("__kept", lit(1L)), Seq("node_id"), "left")
        .select(col("node_id"),
          (col("rounds_survived") + coalesce(col("__kept"), lit(0L)))
            .as("rounds_survived"))
      e = Staging.stage(e
        .join(keep.select(col("node_id").as("a")), Seq("a"))
        .join(keep.select(col("node_id").as("b")), Seq("b"))
        .select("a", "b"))
    }
    survived
  }

  /**
   * Market-basket co-occurrence: support counts for item pairs appearing
   * in the same group (order, session, document). Pair fan-out per group
   * is s·(s−1)/2, so groups larger than `maxGroupSize` are DROPPED before
   * the self-join — the bucket-cap contract the MinHash/LSH candidates
   * use: an over-full group (a crawler session touching everything)
   * carries no co-occurrence signal and would alone produce more pairs
   * than the rest of the corpus. With the cap, pair volume is
   * ≤ n_groups·cap²/2 — linear in groups at any corpus size.
   *
   * Output: (item_a, item_b, support) with item_a < item_b and
   * support ≥ minSupport.
   */
  def cooccurrencePairs(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 64, minSupport: Long = 2L): DataFrame = {
    require(maxGroupSize >= 2, s"maxGroupSize must be >= 2, got $maxGroupSize")
    val gi = Staging.stage(df.select(col(groupCol).as("g"),
      col(itemCol).as("it")).distinct())
    val sz = gi.groupBy("g").agg(count(lit(1)).as("__sz"))
    val ok = gi.join(sz.filter(col("__sz") <= maxGroupSize), Seq("g"))
    ok.alias("l").join(ok.alias("r"),
        col("l.g") === col("r.g") && col("l.it") < col("r.it"))
      .groupBy(col("l.it").as("item_a"), col("r.it").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /**
   * Association rules from [[cooccurrencePairs]] output: both directions of
   * each pair scored by confidence (ppm of the antecedent's groups that
   * also contain the consequent) and lift ×1000 (>1000 = positively
   * associated). `items` is (item, cnt) — per-item group counts under the
   * SAME group cap; `nGroups` the total group count. Integer range:
   * support·nGroups·1000 must fit int64 — holds to ~3·10⁹ groups at
   * million-row supports, far past any single rule mining run.
   *
   * Output: (antecedent, consequent, support, confidence_ppm, lift_x1000).
   */
  def assocRules(pairs: DataFrame, items: DataFrame, nGroups: Long)
      : DataFrame = {
    require(nGroups > 0L, "nGroups must be positive")
    val directed = pairs.select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("support"))
      .unionByName(pairs.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("support")))
    val ia = items.select(col("item").as("antecedent"), col("cnt").as("__ca"))
    val ic = items.select(col("item").as("consequent"), col("cnt").as("__cc"))
    directed.join(ia, "antecedent").join(ic, "consequent")
      .select(col("antecedent"), col("consequent"), col("support"),
        IntMath.idiv(col("support") * lit(1000000L), col("__ca"))
          .as("confidence_ppm"),
        IntMath.idiv(col("support") * lit(nGroups) * lit(1000L),
          col("__ca") * col("__cc")).as("lift_x1000"))
  }

  /**
   * EXACT connected components by alternating large-star / small-star
   * rounds (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
   * "Connected Components in MapReduce and Beyond", SoCC 2014 — public):
   * each round hooks every node closer to its component minimum, and the
   * edge set converges to per-component stars in O(log² n) rounds even on
   * CHAIN-shaped components, where plain min-label propagation needs
   * diameter rounds. [[graft.operators.Dedup.nearDupClusters]] is this
   * operator with near-dup column names.
   *
   * Skew-safe translation of the per-node star steps: the per-node
   * neighbor minimum is a partial-agg groupBy (never a collected
   * neighbor list), then a key-equi join re-attaches it to the node's
   * edge rows — a hot node costs map-side combining, not one task's
   * memory. Each round is therefore 2 groupBys + 2 joins; the
   * convergence test reads ONE aggregate row (count + order-insensitive
   * hash sum of the canonical edge set) — the operator's only driver
   * action, one row per round.
   *
   * Output: (node_id, component_id) for every node of `nodes`
   * (component id = the component's minimum node id; isolated nodes map
   * to themselves).
   */
  def connectedComponentsStar(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 30): DataFrame = {
    val sym0 = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    var e = sym0.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()
    // order-insensitive, overflow-free edge-set signature: count + xor of
    // the 64-bit edge hashes + a mod-10⁹ hash sum (sum stays in Long up
    // to ~9·10⁹ edges). Plain sum(xxhash64) overflows ANSI Long.
    def signature(df: DataFrame): (Long, Long, Long) = {
      val h = xxhash64(col("u"), col("v"))
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(h), lit(0L)),
        coalesce(sum(pmod(h, lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var sig = signature(e)
    var converged = false
    var rounds = 0
    while (!converged) {
      if (rounds >= maxIters)
        throw new IllegalStateException(
          s"connectedComponentsStar did not converge after $maxIters " +
            "rounds — theoretical bound is O(log² n); check for edge-set " +
            "nondeterminism upstream")
      rounds += 1
      // large-star: for each u, m = min(Γ(u) ∪ {u}); hook every STRICTLY
      // LARGER neighbor v to m — emitted as (v, m), already canonical
      // since m ≤ u < v
      val adj = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u").as("lu"), least(col("mv"), col("u")).as("m"))
      val ls = adj.join(mins, adj("u") === mins("lu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: for each u over its SMALLER neighbors N = {v < u},
      // m = min(N); hook u and every v ∈ N \ {m} to m
      val adjLE = ls.distinct() // ls is already (bigger, smaller) oriented
      val minsLE = adjLE.groupBy(col("u")).agg(min(col("v")).as("m"))
        .select(col("u").as("su"), col("m"))
      val joined = adjLE.join(minsLE, adjLE("u") === minsLE("su"))
      val ss = joined.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minsLE.select(col("su").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
      val next = ss.localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      e = next
    }
    // converged edge set is per-component stars rooted at the minimum:
    // a node's component = min(self, neighbors)
    val adjF = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val lab = adjF.groupBy(col("u")).agg(min(col("v")).as("nm"))
    nodes.select(col(idCol).as("node_id"))
      .join(lab.select(col("u").as("node_id"), col("nm")), Seq("node_id"),
        "left")
      .select(col("node_id"),
        least(col("node_id"), coalesce(col("nm"), col("node_id")))
          .as("component_id"))
  }
}
