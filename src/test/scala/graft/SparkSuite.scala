package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.scalatest.funsuite.AnyFunSuite

object SparkSuite {
  /** The deterministic synthetic tables (TESTDATA.md) at sf0.001 and sf0.01. */
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}

/** Shared local session for specs (one per suite, lazily created). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sqlc = { spark.sparkContext.setLogLevel("WARN"); spark }

  /** `f`'s result and the number of Spark jobs it started, counted by job
    * group: a marker job run afterwards bounds the wait, since the listener
    * bus delivers job starts in order. */
  def jobsDuring[A](name: String)(f: => A): (A, Int) = {
    val sc = sqlc.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def inGroup[B](g: String)(body: => B): B = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup(name)(f)
      val marker = s"$name-marker"
      inGroup(marker)(spark.range(1).count())
      val deadline = System.currentTimeMillis() + 60000
      while (!groups.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains(marker), "marker job never reached the listener")
      (out, groups.toArray.count(_ == name))
    } finally sc.removeSparkListener(listener)
  }

  /** `f` under the session SQL settings `kv`; the previous values come back
    * afterwards, since every suite of the test JVM shares the session. */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val conf = sqlc.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Broadcasts only where the code hints them, so a broadcast in a plan
    * proves the `broadcast(...)` hint rather than a small table. */
  def withoutAutoBroadcast[A](f: => A): A =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  def broadcasts(df: DataFrame): Boolean =
    physicalPlan(df).contains("BroadcastExchange")

  /** The partition-less windows of `df`'s optimized plan: each one sorts its
    * whole input in a single task. (A plan-string search for
    * "windowspecdefinition()" never fires: the printed form always carries
    * the order and frame inside the parens.) */
  def unkeyedWindows(df: DataFrame): Seq[Window] =
    windows(df).filter(_.partitionSpec.isEmpty)

  def windows(df: DataFrame): Seq[Window] =
    df.queryExecution.optimizedPlan.collect { case w: Window => w }
}
