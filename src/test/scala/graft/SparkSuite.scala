package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

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
}
