package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/**
 * Plan-capture tool for the optimization rounds: writes
 * `<outDir>/<query>_<tag>.txt` with the `.explain("formatted")` output of
 * each named declared query, so plan-shape claims (Exchange counts, join
 * strategy, PushedFilters) are reviewable without running Spark.
 *
 * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
 * Each list item is a name prefix: `q32_jaccard_pairs` selects one query,
 * `q31` every query whose name starts with it, `all` every declared query.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length != 4) {
      System.err.println(
        "usage: graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...|all>")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val prefixes =
      if (args(3) == "all") Seq("")
      else args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    java.nio.file.Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"ERROR building plan: $e" }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      // staged frames registered while BUILDING plans must not leak across
      // queries (budget eviction would otherwise thrash on a full dump)
      graft.operators.Staging.releaseAll(spark, blocking = false)
    }
    println(s"wrote ${names.size} plans to $outDir")
    spark.stop()
  }
}
