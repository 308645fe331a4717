package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** SkewJoin + the layout/join advisors: salted-join row equality with the
  * plain join (the whole point of salting), advisor branch coverage, and
  * the compaction plan's don't-rewrite guard. */
class SkewLayoutSpec extends SparkSuite {

  private lazy val s = sqlc

  test("salted join equals plain join, including a hot key") {
    import s.implicits._
    // 1000 fact rows on key 7 (hot) + 50 spread over keys 0..9
    val fact = s.range(1000).select(lit(7L).as("fk"), col("id").as("v"))
      .unionByName(s.range(50).select((col("id") % 10).as("fk"),
        (col("id") + 10000).as("v")))
    val dim = s.range(10).select(col("id").as("dk"),
      (col("id") * 100).as("attr"))
    val plain = fact.join(dim, col("fk") === col("dk"))
      .groupBy("fk").agg(count(lit(1)).as("n"), sum("attr").as("sa"),
        sum("v").as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    for (salts <- Seq(1, 8)) {
      val salted = SkewJoin.saltedJoin(fact, dim, "fk", "dk", salts)
        .groupBy("fk").agg(count(lit(1)).as("n"), sum("attr").as("sa"),
          sum("v").as("sv"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(salted == plain, s"salts=$salts")
    }
  }

  test("AQE splits the hot partition of a skewed sort-merge join, the " +
      "engine-native counterpart of saltedJoin") {
    // the keyed aggregate above the join needs the join's hash
    // distribution, so AQE skips the split unless forced
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      val fact = s.range(200000)
        .select(when(col("id") % 10L < 8L, 7L).otherwise(col("id")).as("fk"),
          col("id").as("v"))
      val dim = s.range(20000)
        .select(col("id").as("dk"), (col("id") * 3L).as("attr"))
      // the sum keeps v and attr in the shuffle: a lone repeated key
      // compresses below the 64 KB threshold
      val j = fact.join(dim, col("fk") === col("dk"))
        .groupBy("fk").agg(count(lit(1)).as("n"), sum(col("v") + col("attr")))
      // run j's OWN QueryExecution: count() would plan a separate query and
      // leave j's adaptive plan unfinalized
      assert(j.collect().length == 4001) // key 7 + the 4000 matched ids ≡ 8, 9
      val plan = physicalPlan(j)
      assert(plan.contains("skew=true"), plan)
    }
  }

  test("salted left join keeps unmatched fact rows exactly once") {
    import s.implicits._
    val fact = Seq((1L, 10L), (2L, 20L), (99L, 30L))
      .toDF("fk", "v") // 99 has no dim row
    val dim = Seq((1L, 100L), (2L, 200L)).toDF("dk", "attr")
    val out = SkewJoin.saltedJoin(fact, dim, "fk", "dk", salts = 4, "left")
      .collect().map(r => (r.getLong(0),
        Option(r.get(r.fieldIndex("attr"))).map(_.asInstanceOf[Long])))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, Some(100L)), (2L, Some(200L)),
      (99L, None)))
  }

  test("join advisor hits all three branches") {
    import s.implicits._
    // uniform fact: 1000 keys × 1 row → top share 1000 ppm (no skew)
    val uniform = s.range(1000).select(col("id").as("k"))
    // skewed fact: one key holds half the rows
    val skewed = s.range(500).select(lit(1L).as("k"))
      .unionByName(s.range(500).select((col("id") + 10).as("k")))
    val small = s.range(10).select(col("id").as("d")) // 80 B
    val big = s.range(100000).select(col("id").as("d")) // 800 KB
    val u = Layout.joinPlanAdvisor(uniform, "k",
        Seq("small" -> small, "big" -> big),
        broadcastBytes = 1000L, skewSharePpm = 100000L)
      .collect().map(r => r.getString(0) -> r.getString(5)).toMap
    assert(u == Map("small" -> "broadcast", "big" -> "shuffle"))
    val k = Layout.joinPlanAdvisor(skewed, "k",
        Seq("small" -> small, "big" -> big),
        broadcastBytes = 1000L, skewSharePpm = 100000L)
      .collect().map(r => r.getString(0) -> r.getString(5)).toMap
    assert(k == Map("small" -> "broadcast", "big" -> "salted"))
  }

  test("bucketed mirrors equi-join without a shuffle exchange") {
    import s.implicits._
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Layout.bucketedMirror(
        s.range(1000).select(col("id").as("k"), (col("id") * 2).as("a")),
        "t_bleft", "k", 4)
      Layout.bucketedMirror(
        s.range(500).select(col("id").as("j"), (col("id") * 3).as("b")),
        "t_bright", "j", 4)
      val joined = s.table("t_bleft")
        .join(s.table("t_bright"), col("k") === col("j"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == 500L)
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.sql("DROP TABLE IF EXISTS t_bleft")
      s.sql("DROP TABLE IF EXISTS t_bright")
    }
  }

  test("compaction plan: lone small file and already-compact partition " +
      "don't rewrite") {
    import s.implicits._
    val inv = Seq(
      ("p_lone", 1L, 10L),      // one small file — nothing to merge
      ("p_ok", 1L, 5000L),      // one healthy file
      ("p_many", 1L, 10L), ("p_many", 2L, 10L), ("p_many", 3L, 10L))
      .toDF("part_id", "file", "bytes")
    val out = Layout.compactionReport(inv, "part_id", "bytes",
        smallBytes = 100L, targetBytes = 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(4), r.getBoolean(6))).toMap
    assert(out("p_lone") == ((1L, false)))
    assert(out("p_ok") == ((1L, false)))
    assert(out("p_many") == ((1L, true))) // 3 smalls → 1 planned file
  }
}
