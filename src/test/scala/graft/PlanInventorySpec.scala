package graft

import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Plan contracts over the declared query inventory ([[SparkEntry.queries]])
  * on the sf0.001 tables: window keying and SQL reachability for every
  * query in one pass, then the plan shapes individual queries promise. */
class PlanInventorySpec extends SparkSuite {
  import SparkSuite.{Sf0001, Sf001}

  private def query(name: String, dir: String = Sf0001) =
    SparkEntry.queries(name)(sqlc, dir)

  /** Queries whose partition-less window is bounded by construction: it
    * runs over at most nBins / topK / #days aggregate rows. */
  private val boundedGlobalWindows = Set(
    "q121_zipf_fit", // top-k vocab ranks (≤ topK rows)
    "q136_log_hist_quantiles", // ≤64 log-histogram buckets
    "q151_sketch_percentile", // sketch buckets
    "q154_sketch_merge", // merged sketch buckets
    "q183_vocab_coverage", // cumulative share over top-k vocab
    "q199_gain_table", // ≤ nBins decile rows
    "q250_partition_completeness") // ≤ #days partition rows

  /** Queries that run SQL jobs while their frame is BUILT: driver-side
    * iteration (k-means/IVF/PQ training, power iteration, boundary
    * collects), so they are Scala-API-only. Every other query builds one
    * static Catalyst plan, which always has a SQL form over the registered
    * functions ([[GraftExtensions]]). COVERAGE.md publishes the split; a
    * new name here means an operator gained a driver-side loop. */
  private val driverIterative = Set(
    "q37_embedding_neardup", "q47_minhash_estimate", "q53_ann_ivf_trained",
    "q54_dedup_clusters", "q59_ann_ivf_topk_trained", "q64_pack_plan",
    "q65_pack_occupancy", "q67_budget_select", "q68_canonical_pick",
    "q70_epoch_shuffle", "q73_canonical_corpus", "q87_bm25_topk",
    "q88_semantic_dedup", "q89_collocations", "q91_naive_bayes",
    "q93_pq_encode", "q94_pq_adc_topk", "q95_vocab_drift",
    "q97_confusion_matrix", "q98_ann_recall", "q99_bigram_lm",
    "q100_bpe_encode", "q104_hard_negatives", "q106_rrf_fusion",
    "q110_contrastive_pairs", "q112_global_quantiles", "q128_mi_terms",
    "q132_dedup_rate", "q133_decayed_counts", "q145_mmr_rerank",
    "q152_status_enrich", "q153_cluster_examples", "q156_auc", "q157_ks_stat",
    "q158_drift_report", "q159_cusum", "q162_temporal_split",
    "q167_assoc_rules", "q169_pq_error", "q174_target_rate_bins",
    "q181_attribution", "q185_global_rank", "q188_churn_labels",
    "q193_qq_compare", "q194_range_plan", "q199_gain_table",
    "q200_curation_manifest", "q203_rank_sum_test", "q208_weighted_quantiles",
    "q211_avg_precision", "q212_spearman", "q219_woe_iv", "q221_autocorr",
    "q222_pareto_front", "q223_zorder_layout", "q225_quantile_normalize",
    "q232_sort_key_advisor", "q241_ensemble_clusters", "q245_range_diff",
    "q250_partition_completeness", "q251_pruning_report",
    "q284_image_dedup_manifest", "q289_comoment_matrix",
    "q290_power_iteration", "q306_dsir_weights", "q316_cc_large_small_star",
    "q317_distill_linear_gate")

  test("inventory: every window is keyed or bounded, and the queries " +
      "that run jobs while building their frame are the pinned set") {
    val s = sqlc
    val sc = s.sparkContext
    // each query builds under its own job group; only query executions
    // count (a parquet footer read fires a job with no SQL execution id)
    val groupsWithJobs = ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties)
          .filter(_.getProperty("spark.sql.execution.id") != null)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groupsWithJobs.add)
    }
    // builds are mostly driver-side planning and tiny jobs: four threads
    // cut the pass by ~40% against one at local[4]
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    sc.addSparkListener(listener)
    val windowed = try {
      val builds = SparkEntry.queries.toSeq.map { case (name, fn) =>
        Future {
          sc.setJobGroup(name, name)
          try name -> unkeyedWindows(fn(s, Sf0001)).nonEmpty
          finally sc.clearJobGroup()
        }
      }
      Await.result(Future.sequence(builds), 10.minutes)
        .collect { case (name, true) => name }.toSet
    } finally {
      pool.shutdown()
      GraftBridge.drainListeners(s)
      sc.removeSparkListener(listener)
      graft.operators.Staging.releaseAll(s, blocking = false)
    }

    val unbounded = windowed -- boundedGlobalWindows
    assert(unbounded.isEmpty,
      s"unpartitioned windows outside the bounded allowlist: $unbounded")
    val dynamic = groupsWithJobs.asScala.toSet
    assert(dynamic == driverIterative,
      s"newly driver-iterative: ${(dynamic -- driverIterative).toSeq.sorted}; " +
        s"now static: ${(driverIterative -- dynamic).toSeq.sorted}; " +
        s"all ${dynamic.size}: ${dynamic.toSeq.sorted.mkString("\"", "\", \"", "\"")}")
  }

  test("query plan shapes: hinted broadcasts, semi joins, pushed filters, " +
      "one native banding call, keyed-only shuffles") { withoutAutoBroadcast {
    // TPC-H shapes broadcast their dimension sides
    Seq("q233_tpch_q3" -> 1, "q234_tpch_q5" -> 3, "q247_tpch_q18" -> 1,
        "q248_tpch_q22" -> 1, "q263_tpch_q19" -> 1).foreach { case (q, n) =>
      val plan = physicalPlan(query(q))
      assert("BroadcastExchange".r.findAllIn(plan).size >= n,
        s"$q must broadcast >= $n hinted sides:\n$plan")
    }
    // Q4's EXISTS stays a semi join (no row multiplication); Q6's
    // predicates reach the parquet scan
    assert(physicalPlan(query("q253_tpch_q4")).contains("LeftSemi"))
    val q6 = physicalPlan(query("q254_tpch_q6"))
    assert(q6.contains("PushedFilters:") &&
      q6.contains("IsNotNull(l_shipdate)"), q6)

    // q78 / sink dedup=near: tokenize→shingle→minhash→band is ONE native
    // expression. The composed higher-order-lambda form cost 27 s against
    // 0.8 s for its batch twin q25 at sf0.1.
    val q78 = query("q78_stream_banding").queryExecution.optimizedPlan.toString
    assert("graft_minhash_bands".r.findAllIn(q78).size == 1, q78)
    assert(!q78.contains("lambdafunction"), q78)

    // q312 exact substring dedup: every shuffle keyed (doc id, hash or
    // candidate gram), and two phases: a hash pre-filter semi join, then a
    // content-verify semi join, so gram strings only exist at candidates
    val q312 = physicalPlan(query("q312_exact_dup_spans"))
    assert(!q312.contains("SinglePartition"), q312)
    assert("LeftSemi".r.findAllIn(q312).size >= 2, q312)

    // q306 DSIR: the model is collected while the frame is built and each
    // doc is scored in one select: no join, and the only exchange is the
    // final sort's (none when the scan is one partition)
    val q306 = query("q306_dsir_weights").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(q306.collect { case j: BaseJoinExec => j }.isEmpty, q306)
    assert(q306.collect { case e: Exchange => e }.forall {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, q306)

    // q32: the exploded shingle frame (doc_id, h) is bigger than its
    // parquet input and recomputes per consumer; a cached relation may hold
    // minhashCandidates' compact band table, never the shingle frame
    val cached = query("q32_jaccard_pairs").queryExecution.optimizedPlan
      .collect { case r: InMemoryRelation => r.output.map(_.name).toSet }
    assert(!cached.exists(Set("doc_id", "h").subsetOf), cached)
  }}

  test("q251 pruning report: each lexicographic layout full-scans the " +
      "other dimension's band, z-order prunes on both") {
    val touched = query("q251_pruning_report", Sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    val files = 16L
    assert(touched(("sort_x", "p_supp_band")) == files &&
      touched(("sort_y", "p_part_band")) == files, touched)
    assert(touched(("zorder", "p_part_band")) < files &&
      touched(("zorder", "p_supp_band")) < files, touched)
  }
}
