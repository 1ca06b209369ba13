package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: writes `.explain("formatted")` for the
  * named battery queries (or every batch query when none are named) to
  * `<outDir>/<query>_<tag>.txt` — the plan-shape artifact the optimization
  * rounds commit under `plans/rNN/` so reviewers can check claimed plan
  * diffs (Exchange counts, join strategies, PushedFilters) without running
  * Spark.
  *
  * Streaming battery rows execute queries eagerly inside their builder
  * (AvailableNow run + sink read-back), so their "plan" is the batch plan
  * of the sunk table — still dumped, but the interesting shape for those
  * rows is in StreamingOps and is documented in OPTIMIZATION notes instead.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.PlanDump <sfDir> <outDir> <tag> [query ...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag) = args.take(3)
    val only = args.drop(3).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[plandump] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
          println(s"[plandump] wrote $name")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
            failures += name
        }
      }
    RunScope.clear()
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
