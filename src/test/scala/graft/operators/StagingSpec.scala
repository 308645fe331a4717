package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/**
 * Lifetime contract of [[Staging]] (VERDICT r8 #3): operators persist
 * internal frames their callers can't see — a long-lived session invoking
 * a staged operator in a loop must hold O(budget) cached plans, not
 * O(calls), with results unchanged when the budget evicts a stage.
 */
class StagingSpec extends SparkSuite {

  private def docs() = {
    val s = sqlc
    s.range(0L, 200L).select(col("id").as("doc_id"),
      concat_ws(" ", (1 to 12).map(i =>
        concat(lit(s"w$i"), (col("id") % 7L).cast("string")): org.apache.spark.sql.Column): _*)
        .as("text"))
  }

  test("repeated staged-operator calls hold O(budget) cached plans, results unchanged") {
    val s = sqlc
    Staging.releaseAll(s)
    try {
      val d = docs()
      def once(): Seq[(Long, Long)] =
        Dedup.minhashCandidates(
          Dedup.minhashBands(Dedup.minhashSignatures(d, "text", "doc_id")))
          .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
          .sorted.toSeq
      // fill the registry to its budget (staging is lazy: no job runs), so
      // every stage the operator makes below evicts one
      val filler = (1 to Staging.Budget).map(i =>
        Staging.stage(d.filter(col("doc_id") >= i.toLong)))
      val first = once()
      assert(first.nonEmpty, "fixture must produce candidate pairs")
      // 12 invocations of an operator that stages internally: without the
      // registry budget this pins 12 more CacheManager plans for the
      // session's life; with it, the oldest evict as new ones stage
      (1 to 11).foreach { _ => assert(once() == first) }
      assert(Staging.registeredCount(s) <= Staging.Budget,
        s"staged-frame registry exceeded its budget: ${Staging.registeredCount(s)}")
      assert(filler.head.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    } finally Staging.releaseAll(s)
  }

  test("releaseAll drops every live stage; unstage removes one") {
    val s = sqlc
    Staging.releaseAll(s)
    val a = Staging.stage(docs())
    val b = Staging.stage(docs().filter(col("doc_id") < 100L))
    assert(Staging.registeredCount(s) == 2)
    assert(a.storageLevel.useMemory || a.storageLevel.useDisk)
    Staging.unstage(a)
    assert(Staging.registeredCount(s) == 1)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    Staging.releaseAll(s)
    assert(Staging.registeredCount(s) == 0)
    assert(b.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("building spanDedup and ngramJaccardPairs starts no Spark job") {
    try {
      val d = docs()
      // map-only exploded frame (the span tiling)
      assert(jobsDuring("build-spanDedup")(
        Dedup.spanDedup(d, "text", "doc_id"))._2 == 0,
        "building spanDedup must be job-free")
      // shuffle-bearing staged frame (the band table): persist must stay
      // fully lazy on this shape too (CacheManager only marks the level)
      assert(jobsDuring("build-ngramJaccardPairs")(
        Dedup.ngramJaccardPairs(d, "text", "doc_id"))._2 == 0,
        "building ngramJaccardPairs must be job-free")
    } finally Staging.releaseAll(sqlc)
  }

  test("budget eviction unpersists the OLDEST stage and keeps results correct") {
    val s = sqlc
    Staging.releaseAll(s)
    try {
      val first = Staging.stage(docs(), budget = 2)
      first.count() // materialize
      val more = (1 to 3).map(i =>
        Staging.stage(docs().filter(col("doc_id") >= i), budget = 2))
      more.foreach(_.count())
      assert(Staging.registeredCount(s) <= 2)
      // evicted frame: no longer cached, but still CORRECT (lineage kept)
      assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(first.count() == 200L)
    } finally Staging.releaseAll(s)
  }
}
