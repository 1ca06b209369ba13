package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import graft.core.{BagStateSpec, StatefulContext, StatefulDoFn, TimerSpec}
import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.jdk.CollectionConverters._

/** Per-key bag plus event-time timers: buffers (eventTime, value) per key
  * and, when the watermark passes the end of a fixed window, emits
  * (key, windowStart, count, sum) for that window and drops it from the bag.
  */
final class WindowFlushFn(windowMs: Long)
    extends StatefulDoFn[Long, Double, (Long, Long, Long, Double)] {
  private val bag = BagStateSpec[(Long, Double)]("events")
  private val flush = TimerSpec("flush")

  def process(key: Long, v: Double, ctx: StatefulContext[(Long, Long, Long, Double)]): Unit = {
    val ws = Math.floorDiv(ctx.timestamp, windowMs) * windowMs
    ctx.bag(bag).add((ctx.timestamp, v))
    ctx.timer(flush).setWithTag(ws.toString, ws + windowMs - 1)
  }

  override def onTimer(key: Long, spec: TimerSpec, tag: String, fireTs: Long,
      ctx: StatefulContext[(Long, Long, Long, Double)]): Unit = {
    val ws = tag.toLong
    val (due, rest) = ctx.bag(bag).read().partition(e => e._1 >= ws && e._1 < ws + windowMs)
    ctx.bag(bag).clear()
    rest.foreach(ctx.bag(bag).add)
    ctx.output((key, ws, due.size.toLong, due.map(_._2).sum))
  }
}

/** Open-loop standing stream over a parquet file source.
  *
  * Two standing queries read the same source directory for the whole run:
  * `StreamingOps.windowedCounts` by event type, and
  * `StreamingOps.statefulParDo` with [[WindowFlushFn]] by user. Files are
  * generated ahead of time into `staged`; a generator thread publishes them
  * into `src` (set mtime, atomic rename) on a fixed schedule:
  *
  *  - warm-up: `warm_bursts` bursts of `files_warm` files, each drained
  *    before the next (part of set-up);
  *  - phase 1: `files1` files, one every `period_ms`, for latency;
  *  - phase 2: `files2` files at once, a backlog drained in batches of at
  *    most `max_files` files;
  *  - end: `sentinel.parquet`, a far-future event that pushes the
  *    watermark past every window so both sinks flush completely.
  *
  * Records: one line per published file (due and actual publish time) and
  * one per micro-batch progress event. With trace=1 the scheduler listener
  * is attached during alternate blocks of [[Stream.toggle]] phase-1 files.
  */
final class Stream(spark: SparkSession, args: Map[String, String], out: Path, meta: Records) {
  private val src = Paths.get(args("src"))
  private val staged = Paths.get(args("staged"))
  private val work = Paths.get(args("work"))
  private val warmBursts = args("warm_bursts").toInt
  private val filesWarm = warmBursts * args("files_warm").toInt
  private val files1 = args("files1").toInt
  private val files2 = args("files2").toInt
  private val periodMs = args("period_ms").toDouble
  private val maxFiles = args("max_files").toInt
  private val windowMs = args("window_ms").toLong
  private val delay = args("delay")
  private val trace = args("trace") == "1"
  private val rowsPerFile = args("rows_per_file").toLong
  private val recs = new Records
  private val traceRecs = new Records
  private val sched = new SchedulerTrace(traceRecs)
  private val queryNames = Seq("windowed", "stateful")
  // per query: (batch id, rows processed up to and including that batch)
  private val history = scala.collection.mutable.Map.empty[String, Vector[(Long, Long)]]
  private def processed(q: String): Long = history.synchronized {
    history.get(q).flatMap(_.lastOption).map(_._2).getOrElse(0L)
  }
  /** True once `q` has run a batch after the one that reached `rows`. */
  private def ranAfter(q: String, rows: Long): Boolean = history.synchronized {
    val h = history.getOrElse(q, Vector.empty)
    h.find(_._2 >= rows).exists(b => h.exists(_._1 > b._1))
  }

  private object Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      recs.add("kind" -> "progress", "query" -> p.name, "batch" -> p.batchId,
        "trigger_start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows, "durations" -> d,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum)
      history.synchronized {
        val h = history.getOrElse(p.name, Vector.empty)
        history(p.name) = h :+ ((p.batchId, h.lastOption.map(_._2).getOrElse(0L) + p.numInputRows))
      }
    }
  }

  def run(): Int = {
    val sp = spark; import sp.implicits._
    spark.streams.addListener(Progress)
    val schema = spark.read.parquet(staged.resolve(fileName(0)).toString).schema
    val source = spark.readStream.schema(schema).option("maxFilesPerTrigger", maxFiles.toLong)
      .parquet(src.toString)
    def sink(name: String, df: org.apache.spark.sql.DataFrame): StreamingQuery =
      df.writeStream.queryName(name).format("parquet").outputMode("append")
        .option("checkpointLocation", work.resolve("ckpt").resolve(name).toString)
        .start(out.resolve("sink").resolve(name).toString)
    val windowed = sink("windowed", StreamingOps.windowedCounts(source, "ts", "event_type",
      s"${windowMs / 1000} seconds", watermarkDelay = delay))
    val input = source.withWatermark("ts", delay)
      .select(col("user_id"), col("value"), col("ts")).as[(Long, Double, Timestamp)]
    val stateful = sink("stateful", StreamingOps.statefulParDo(input, new WindowFlushFn(windowMs))
      .toDF("user_id", "window_start", "n_events", "sum_value"))
    val queries = Seq(windowed, stateful)
    try {
      var rowsOut = 0L
      def publish(seq: Int, name: String, phase: String, due: Double, mtime: Long,
          rows: Long = rowsPerFile): Unit = {
        val from = staged.resolve(name)
        Files.setLastModifiedTime(from, FileTime.fromMillis(mtime))
        Files.move(from, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        recs.add("kind" -> "file", "seq" -> seq, "name" -> name, "phase" -> phase,
          "due_ms" -> due, "published_ms" -> Clock.nowMs(), "rows" -> rows)
        rowsOut += rows
      }
      def burst(from: Int, n: Int, phase: String): Unit = {
        val now = Clock.nowMs()
        (from until from + n).foreach(f => publish(f, fileName(f), phase, now, now.toLong + f - from))
      }
      def drain(timeoutS: Double): Unit = {
        val t0 = Clock.nowMs()
        while (queryNames.exists(q => processed(q) < rowsOut)) {
          queries.foreach(q => q.exception.foreach(e => throw e))
          require(Clock.nowMs() - t0 < timeoutS * 1000, s"stream did not drain within $timeoutS s")
          Thread.sleep(5)
        }
      }
      (0 until warmBursts).foreach { b =>
        burst(b * filesWarm / warmBursts, filesWarm / warmBursts, "warm")
        drain(60)
      }
      val t1 = Clock.nowMs()
      meta.add("kind" -> "timed", "t0" -> t1)
      val gc0 = Proc.gcMs(); val jit0 = Proc.jitMs()
      var traced = false
      (0 until files1).foreach { i =>
        if (trace && i % Stream.toggle == 0) {
          if (traced) spark.sparkContext.removeSparkListener(sched)
          else spark.sparkContext.addSparkListener(sched)
          traced = !traced
          recs.add("kind" -> "trace_toggle", "on" -> traced, "t" -> Clock.nowMs())
        }
        val due = t1 + i * periodMs
        val wait = due - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        publish(filesWarm + i, fileName(filesWarm + i), "steady", due, Clock.nowMs().toLong)
      }
      drain(60)
      if (traced) { spark.sparkContext.removeSparkListener(sched); traced = false }
      burst(filesWarm + files1, files2, "backlog")
      drain(120)
      val t2 = Clock.nowMs()
      meta.add("kind" -> "timed_end", "t1" -> t2, "gc_ms" -> (Proc.gcMs() - gc0),
        "jit_ms" -> (Proc.jitMs() - jit0), "peak_rss_mb" -> Proc.peakRssMb())
      // flush: once the sentinel's batch has committed, one more (no-data)
      // batch per query fires the timers and emits the closed windows
      publish(-1, "sentinel.parquet", "sentinel", Clock.nowMs(), Clock.nowMs().toLong, rows = 1)
      drain(60)
      val t3 = Clock.nowMs()
      while (!queryNames.forall(q => ranAfter(q, rowsOut))) {
        require(Clock.nowMs() - t3 < 60000, "stream did not flush after the sentinel")
        Thread.sleep(10)
      }
      0
    } finally {
      queries.foreach(_.stop())
      spark.streams.removeListener(Progress)
      recs.write(out.resolve("stream.jsonl"))
      if (trace) traceRecs.write(out.resolve("trace.jsonl"))
    }
  }

  private def fileName(seq: Int): String = f"f-$seq%06d.parquet"
}

object Stream {
  /** Steady-phase files per traced or untraced block. */
  val toggle = 50
}
