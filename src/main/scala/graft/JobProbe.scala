package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement aid for the optimization rounds (guide §1): runs named
  * battery queries warm and reports, per execution, wall seconds next to
  * the scheduler-side decomposition — job count, stage count, task count,
  * summed task run time, summed executor CPU time, and summed shuffle
  * bytes — so a slow row can be classified as overhead-bound (many tiny
  * jobs, wall ≫ task time) or compute/shuffle-bound (task time ≈ wall ×
  * cores) before anything is changed.
  *
  * Usage: runMain graft.JobProbe <sfDir> <query> [query ...]
  * (SPARK_GRAFT_CPUS sizes the master as in Bench; reps fixed at 2,
  * second execution is the warm one to read.)
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.lineitem(spark, sfDir).count() // warm JVM + footers

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskRunMs = new AtomicLong
    val taskCpuNs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
          shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { rep =>
        spark.catalog.clearCache()
        jobs.set(0); stages.set(0); tasks.set(0)
        taskRunMs.set(0); taskCpuNs.set(0); shufReadB.set(0); shufWriteB.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async — give it a beat before reading counters
        Thread.sleep(300)
        println(f"$name%-32s rep$rep wall=$wall%7.3f jobs=${jobs.get}%3d " +
          f"stages=${stages.get}%3d tasks=${tasks.get}%5d " +
          f"taskSec=${taskRunMs.get / 1e3}%8.2f cpuSec=${taskCpuNs.get / 1e9}%8.2f " +
          f"shufMB=${(shufReadB.get + shufWriteB.get) / 1e6}%8.2f")
      }
    }
    RunScope.clear()
    spark.stop()
  }
}
