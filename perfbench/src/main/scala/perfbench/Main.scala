package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, launched by `run.py`:
  *
  * {{{
  * perfbench.Main mode=batch|stream out=<dir> seed=<n> seconds=<s> trace=0|1 cpus=<n> ...
  * }}}
  *
  * Batch keys: `data` (corpus dir), `rows` (comma list of
  * `SparkEntry.queries` names). Stream keys: see [[Stream]].
  * Writes raw records under `out` and exits non-zero on a harness failure;
  * query failures are recorded, not fatal. Run by `run.py`, which computes
  * every metric from the records.
  */
object Main {
  /** Warm session bring-ups repeated after the first (cold) one; set-up
    * counts the cold start once and the bring-up at the median of these.
    */
  val bringUps = 3

  def main(argv: Array[String]): Unit = {
    val mainMs = Clock.nowMs()
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = Paths.get(args("out"))
    Files.createDirectories(out)
    val cpus = args("cpus").toInt
    val meta = new Records
    def bringUp(): SparkSession = {
      val s = session(cpus, args("local_dir"))
      s.sparkContext.setLogLevel("ERROR")
      // a tiny action brings up the scheduler and the graft extensions
      s.range(0, 10).selectExpr("sum(id)").collect()
      s
    }
    bringUp().stop()
    val bringUpMs = (1 to bringUps).map { i =>
      val t0 = Clock.nowMs()
      val s = bringUp()
      val t1 = Clock.nowMs()
      if (i < bringUps) s.stop()
      t1 - t0
    }
    val spark = SparkSession.active
    graft.Queries.pairMemoEnabled = false
    meta.add("kind" -> "setup", "jvm_start_ms" -> Proc.jvmStartMs(), "main_ms" -> mainMs,
      "bringup_ms" -> bringUpMs, "cpus" -> cpus)
    val code =
      try args("mode") match {
        case "batch" => new Batch(spark, args, out, meta).run()
        case "stream" => new Stream(spark, args, out, meta).run()
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally {
        meta.add("kind" -> "jvm", "peak_rss_mb" -> Proc.peakRssMb(),
          "heap_peak_mb" -> Proc.heapPeakMb())
        meta.write(out.resolve("meta.jsonl"))
      }
    try {
      graft.ModelChecks.clearSharedDerivations()
      spark.stop()
    } finally sys.exit(code)
  }

  def session(cpus: Int, localDir: String): SparkSession =
    graft.GraftSession.builder(cpus)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", Paths.get(localDir, "warehouse").toString)
      .getOrCreate()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(q => Files.deleteIfExists(q))
}
