package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** Closed-loop batch workload: one client thread runs interleaved passes
  * over `rows`, each pass in a seeded order.
  *
  * The first [[Batch.warmPasses]] passes are untimed warm-up (JIT, class
  * loading, codegen): on 4 cores, a pass right after a single warm-up pass
  * still ran about 30% slower than the passes after it. Timed
  * passes follow until `seconds` have elapsed and at least three (four when
  * traced, so that half of them run untraced) are recorded. Every execution starts from a cleared cache and cleared shared
  * derivations. Each execution is split into build (the
  * `SparkEntry.queries(name)(spark, dir)` call, which runs any eager jobs
  * the row needs to construct its plan), plan (`executedPlan`) and execute
  * (`toRdd`).
  *
  * With trace=1, odd timed passes run with the scheduler and plan
  * listeners attached and even ones without, so the same run yields both
  * the per-layer records and the tracing overhead.
  *
  * After the timed passes every row runs once more and its output is
  * written to `out/dump/<row>` for the oracle compare.
  */
final class Batch(spark: SparkSession, args: Map[String, String], out: Path, meta: Records) {
  private val data = args("data")
  private val rows = args("rows").split(",").toSeq
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val trace = args("trace") == "1"
  private val minPasses = if (trace) 4 else 3
  private val queries = graft.SparkEntry.queries
  private val sc = spark.sparkContext
  private val recs = new Records
  private val traceRecs = new Records
  private val sched = new SchedulerTrace(traceRecs)
  private val plans = new PlanTrace(traceRecs)

  def run(): Int = {
    val unknown = rows.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(",")}")
    (1 to Batch.warmPasses).foreach(p => runPass(-p, traced = false))
    val firstTimedMs = Clock.nowMs()
    val gc0 = Proc.gcMs(); val jit0 = Proc.jitMs()
    var pass = 1
    def elapsedS = (Clock.nowMs() - firstTimedMs) / 1000
    while ((elapsedS < seconds || pass <= minPasses) && elapsedS < 4 * seconds) {
      val traced = trace && pass % 2 == 1
      if (traced) { sc.addSparkListener(sched); spark.listenerManager.register(plans) }
      runPass(pass, traced)
      if (traced) {
        sched.awaitQuiet()
        sc.removeSparkListener(sched); spark.listenerManager.unregister(plans)
      }
      pass += 1
    }
    meta.add("kind" -> "timed", "t0" -> firstTimedMs, "t1" -> Clock.nowMs(),
      "gc_ms" -> (Proc.gcMs() - gc0), "jit_ms" -> (Proc.jitMs() - jit0),
      "peak_rss_mb" -> Proc.peakRssMb())
    dump()
    recs.write(out.resolve("execs.jsonl"))
    if (trace) traceRecs.write(out.resolve("trace.jsonl"))
    0
  }

  /** One interleaved pass in a seeded order; warm-up passes are < 0. */
  private def runPass(pass: Int, traced: Boolean): Unit = {
    val order = new Random(seed * 7919 + pass).shuffle(rows)
    val t0 = Clock.nowMs()
    order.zipWithIndex.foreach { case (name, i) => execute(pass, i, name, traced) }
    recs.add("kind" -> "pass", "pass" -> pass, "t0" -> t0, "t1" -> Clock.nowMs(),
      "traced" -> traced, "order" -> order)
  }

  private def execute(pass: Int, idx: Int, name: String, traced: Boolean): Unit = {
    spark.catalog.clearCache()
    graft.ModelChecks.clearSharedDerivations()
    val group = s"p$pass-$idx-$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = Clock.nowMs()
    try {
      val df = queries(name)(spark, data)
      val tb = Clock.nowMs()
      val qe = df.queryExecution
      qe.executedPlan
      val tp = Clock.nowMs()
      qe.toRdd.foreach(_ => ())
      val t1 = Clock.nowMs()
      recs.add("kind" -> "exec", "pass" -> pass, "idx" -> idx, "row" -> name, "group" -> group,
        "t0" -> t0, "t_build" -> tb, "t_plan" -> tp, "t1" -> t1, "ok" -> true)
      if (traced) traceRecs.add((Plans.record(qe, "exec") + ("group" -> group)).toSeq: _*)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed in pass $pass: ${e.getMessage}")
        recs.add("kind" -> "exec", "pass" -> pass, "idx" -> idx, "row" -> name, "group" -> group,
          "t0" -> t0, "t1" -> Clock.nowMs(), "ok" -> false, "error" -> String.valueOf(e.getMessage))
    } finally sc.clearJobGroup()
  }

  /** Writes each row's output for the oracle compare, plus its oracle SQL. */
  private def dump(): Unit = {
    val dir = out.resolve("dump")
    Files.createDirectories(dir)
    rows.foreach { name =>
      spark.catalog.clearCache()
      graft.ModelChecks.clearSharedDerivations()
      try queries(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(name).toString)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed in the output dump: ${e.getMessage}")
        Main.deleteTree(dir.resolve(name))
      }
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
    Files.write(dir.resolve("oracle_sql.json"),
      Json.value(oracles).getBytes(StandardCharsets.UTF_8))
  }
}

object Batch {
  val warmPasses = 2
}
