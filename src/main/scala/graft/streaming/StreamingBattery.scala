package graft.streaming

import graft.{Queries, RunScope, Tables}
import graft.core._
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path}
import java.util.Comparator

/** Driver-gated STREAMING correctness: each entry file-streams a standing
  * parquet table through a [[StreamingOps]] transform with
  * `Trigger.AvailableNow`, lands the result in a parquet sink, and returns
  * the sunk table (batch) — so the driver's DuckDB oracle hash-checks the
  * STREAMING execution path against the very same SQL that gates the batch
  * twin. The reference treats batch and streaming as one model
  * (translator.py:180-206 — the same ParDo/GBK graph runs bounded or
  * unbounded); these rows are the Spark-native proof of that equivalence:
  * bounded replay through the unbounded operators must be byte-identical
  * to the bounded plan.
  *
  * AvailableNow semantics this relies on (verified empirically in
  * StreamingBatterySpec): the run processes every available file, then
  * executes the trailing no-data micro-batch, so watermark-gated work
  * (dropDuplicatesWithinWatermark eviction, EventTimeTimeout timers) fires
  * before termination. End-of-stream timers additionally need the
  * watermark PAST the last real window, which bounded replay gets from a
  * far-future sentinel row staged next to the data (filtered out after the
  * watermark node) — the bounded-input analog of the reference advancing
  * the watermark to +inf at drain (execution.py:374-390).
  */
object StreamingBattery {

  /** Scratch root for a battery row's checkpoint + sink + staged slices:
    * RAM-backed (/dev/shm) when the platform offers it WITH real
    * headroom (≥ 4 GiB usable — Docker's default /dev/shm is 64 MB and
    * would fill mid-battery), java.io.tmpdir otherwise. Every
    * AvailableNow row pays a fixed cost of dozens of tiny synchronous
    * writes — offset log, commit log, per-partition state deltas, sink
    * metadata — that are pure harness scaffolding on a disk-backed /tmp
    * (production checkpoints go to object storage with their own
    * latency profile, which a local disk models no better than RAM
    * does). The commit protocol itself still executes in full; only the
    * medium changes. Per-run roots are deleted in each row's finally;
    * staged-input roots live until the [[graft.RunScope]] drains
    * (bounded: one small staged copy per battery row).
    */
  private def scratch(prefix: String, forceDisk: Boolean = false): Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val shmUsable = !forceDisk && Files.isDirectory(shm) &&
      Files.isWritable(shm) &&
      (try shm.toFile.getUsableSpace >= (4L << 30)
       catch { case _: Throwable => false })
    if (shmUsable) Files.createTempDirectory(shm, prefix)
    else Files.createTempDirectory(prefix)
  }

  /** The headroom check above runs once, at directory creation — staged
    * copies accumulate across rows and a concurrent row's checkpoint/sink
    * can exhaust tmpfs MID-row (r6 ADVICE), which surfaces as ENOSPC
    * somewhere deep in a parquet commit or state-store delta. Detect that
    * shape anywhere in the cause chain so the caller can restage the row
    * on disk instead of dying with the opaque raw error.
    */
  private def isNoSpace(e: Throwable): Boolean = {
    var t = e
    var hops = 0
    while (t != null && hops < 16) {
      val m = Option(t.getMessage).getOrElse("")
      if (m.contains("No space left") || m.contains("ENOSPC")) return true
      t = if (t.getCause eq t) null else t.getCause
      hops += 1
    }
    false
  }

  /** Staged INPUT for a battery row, a [[graft.RunScope]] entry keyed by
    * (application, sf dir, row): the staging pass — deterministic slice
    * writes, vacuity censuses, sentinel files over the same standing
    * parquet — is harness scaffolding, not the property under test, so a
    * second bench rep (or Verify after a bench) re-stages nothing. The
    * STREAMING QUERY itself still runs in full every invocation: each
    * run gets a fresh checkpoint + sink (runToTable / per-row ck), so
    * offsets are never resumed and every file replays through the
    * operators. Rows that MUTATE their input mid-row (d146's two-phase
    * resume) must not use this. The entry's release deletes the staged
    * root.
    */
  private def stagedInput(s: SparkSession, d: String, rowKey: String)
      (build: (Path, Path) => Unit): Path =
    RunScope.getOrBuild(s, d, s"staged-$rowKey") {
      def stage(forceDisk: Boolean): Path = {
        val root = scratch(s"graft-staged-$rowKey-", forceDisk)
        try {
          val in = root.resolve("in")
          Files.createDirectories(in)
          build(root, in)
          in
        } catch {
          case e: Throwable =>
            // drop THIS attempt's partial copy only — other entries for
            // the same rowKey (different sf dirs) stay valid
            try deleteRecursively(root) catch { case _: Throwable => () }
            throw e
        }
      }
      try stage(forceDisk = false)
      catch {
        case e: Throwable if isNoSpace(e) =>
          // tmpfs filled mid-staging (see isNoSpace): restage the row on
          // disk — slower, never wrong
          System.err.println(
            s"[battery] $rowKey staging hit ENOSPC on tmpfs; " +
              "restaging on disk")
          stage(forceDisk = true)
      }
    }(in => deleteRecursively(in.getParent))

  /** At-least-once guard for the driver-held `foreachBatch` folds (d145
    * incremental agg, d151 CDC snapshot, d158 constraint totals, d170
    * AUC counts, d183 OHLC partials, d222 Merkle): `foreachBatch` is
    * at-least-once, so a fold that isn't idempotent per batchId would
    * silently double-merge on a replay (XOR digests cancel, counts
    * inflate). Within THIS battery's bounded AvailableNow runs with a
    * fresh checkpoint per invocation the guard can never fire — a failed
    * body fails the query, nothing replays — so it is a modeled
    * discipline, not reachable scaffolding here: it is exactly the guard
    * a production restart from a shared checkpoint requires, where
    * Structured Streaming DOES re-invoke foreachBatch with an
    * already-folded batchId after a post-fold pre-commit crash.
    *
    * A fired guard must be OBSERVABLE (r6 ADVICE): skips count into
    * [[BatchIdGuard.skippedReplays]] and log one line each, so a future
    * shared-checkpoint use can distinguish "replay correctly absorbed"
    * from "clean run" instead of the two being identical.
    */
  private final class BatchIdGuard {
    private var last = -1L
    var skippedReplays = 0L
    def once(batchId: Long)(body: => Unit): Unit =
      if (batchId > last) { body; last = batchId }
      else {
        skippedReplays += 1
        System.err.println(
          s"[battery] BatchIdGuard absorbed replayed batch $batchId " +
            s"(last folded $last, skips so far $skippedReplays)")
      }
  }

  /** File-stream a parquet table in place — the standing file IS the
    * source (no staging copy), which is exactly how a production backfill
    * replays a bounded slice through the streaming topology.
    */
  private def streamParquet(s: SparkSession, path: String): DataFrame = {
    val schema = s.read.parquet(path).schema
    val p = new java.io.File(path)
    if (p.isFile)
      // FileStreamSource requires a directory source: stream the parent,
      // glob-filtered to exactly this table's file
      s.readStream.schema(schema).option("pathGlobFilter", p.getName)
        .parquet(p.getParent)
    else s.readStream.schema(schema).parquet(path)
  }

  /** Run a streaming DataFrame to a parquet sink with AvailableNow, read
    * the sink back, materialize it off the sink files (localCheckpoint —
    * small-by-contract battery results), then delete every scratch path so
    * repeated battery runs never accumulate /tmp state (the delete runs in
    * a finally, so a failed query cleans up too).
    *
    * A result with ZERO rows is legitimate (a gate may pass nothing at
    * some scale factor): the parquet sink then holds only _spark_metadata
    * and `read.parquet` would throw on schema inference — return an empty
    * DataFrame with the stream's schema instead.
    */
  private def runToTable(s: SparkSession, out: DataFrame,
      alsoDelete: Seq[Path] = Nil): DataFrame = {
    def attempt(forceDisk: Boolean): DataFrame = {
      val root = scratch("graft-stream-battery", forceDisk)
      try {
        val sink = root.resolve("out"); val ck = root.resolve("ck")
        val q = out.writeStream.format("parquet")
          .option("path", sink.toString)
          .option("checkpointLocation", ck.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val hasData = Files.exists(sink) && Files.list(sink)
          .anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
        if (hasData) s.read.parquet(sink.toString).localCheckpoint(true)
        else s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], out.schema)
      } finally deleteRecursively(root)
    }

    try {
      try attempt(forceDisk = false)
      catch {
        case e: Throwable if isNoSpace(e) =>
          // tmpfs filled mid-row (checkpoint/sink commits, r6 ADVICE):
          // the attempt's root is already cleaned by its finally; re-run
          // the whole query on disk with a fresh checkpoint
          System.err.println(
            "[battery] streaming row hit ENOSPC on tmpfs; re-running on disk")
          attempt(forceDisk = true)
      }
    } finally alsoDelete.foreach(deleteRecursively)
  }

  /** Stateful streaming queries size the shuffle to the STREAM volume, not
    * the batch default: every shuffle partition carries its own state
    * store (a stream-stream join keeps FOUR per partition — two per side),
    * and every micro-batch commits every store's delta file, so 32
    * partitions on a bounded replay of ~20k rows/side means 100+ tiny
    * checkpoint commits per batch that dwarf the actual join. The same
    * decision matters at 100 TB from the other end: the partition count is
    * frozen into the checkpoint at first start, so a production stream
    * sizes it to PEAK volume up front (and pays the per-batch commit cost
    * for whatever it picks). The battery uses 4 (measured round 6: the
    * warm per-row wall at 8 was ~15% higher — store load/commit per
    * partition per batch is the marginal cost at replay volume, and 4
    * still exercises multi-partition state routing). Set-and-restore so
    * the battery's batch rows keep the session default.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  private def withConf[T](s: SparkSession, kvs: (String, String)*)
      (body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })

  /** Stage a frame as three event-time terciles with strictly increasing
    * file mtimes in `in` — the ordered-replay contract the ORDER-SENSITIVE
    * state rows (d196 EWMA ring, d203 carried touch) rely on:
    * FileStreamSource's default oldest-first listing + maxFilesPerTrigger=1
    * then replays every key's rows in (ts, tie) order across micro-batches.
    * Guards: no slice may be empty, and at least one `keyCol` value must
    * SPAN two slices (state crossing a batch boundary is the property
    * under test — a single-batch replay would pass trivially).
    */
  private def stageTimeSlices(df: DataFrame, tsCol: String, keyCol: String,
      root: Path, in: Path): Unit = {
    val Array(loCut, hiCut) = df.stat
      .approxQuantile(tsCol, Array(1.0 / 3, 2.0 / 3), 0.0)
    val slices = Seq(
      df.filter(col(tsCol) < loCut.toLong),
      df.filter(col(tsCol) >= loCut.toLong && col(tsCol) < hiCut.toLong),
      df.filter(col(tsCol) >= hiCut.toLong))
    val spanning = slices.zipWithIndex
      .map { case (sl, i) => sl.select(col(keyCol)).distinct()
        .withColumn("__s", lit(i)) }
      .reduce(_ unionByName _)
      .groupBy(col(keyCol)).agg(countDistinct(col("__s")).as("ns"))
      .filter(col("ns") >= 2).count()
    require(spanning > 0, "no key spans two slices: state carry-over " +
      "across micro-batches would be untested")
    slices.zipWithIndex.foreach { case (sl, i) =>
      require(sl.count() > 0, s"empty time slice $i")
      stageOneFile(sl, root, in, f"slice-$i%02d.parquet",
        System.currentTimeMillis() - (slices.size - i) * 60000L)
    }
  }

  /** Write `df` as ONE parquet file at `in/name` with an explicit mtime —
    * oldest-first replay keys on modification time, so slice order must
    * be explicit, never filesystem-accidental.
    */
  private def stageOneFile(df: DataFrame, root: Path, in: Path,
      name: String, mtimeMillis: Long): Unit = {
    val tmp = root.resolve(s"tmp-$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part = try listing
      .filter(p => p.toString.endsWith(".parquet"))
      .findFirst().get()
    finally listing.close() // Files.list leaks a directory fd unclosed
    val dst = in.resolve(name)
    Files.move(part, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMillis))
  }

  /** Streaming exact dedup, oracle-gated: events keyed on
    * (user, type, hour) flow through [[StreamingOps.dedupExactStream]];
    * the projected row carries ONLY key-determined columns, so whichever
    * physical row survives the first-wins race, the output is identical —
    * the determinism contract a replayable streaming dedup needs. The
    * watermark delay exceeds the data's time span, so nothing is evicted
    * mid-replay and the result equals the batch DISTINCT.
    */
  def d120StreamDedup(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val raw = streamParquet(s, s"$d/events.parquet")
    val src = raw
      .select(col("user_id"), col("event_type"), Tables.tsMs(raw).as("ts_ms"))
      .select(col("user_id"), col("event_type"),
        expr("ts_ms div 3600000").as("hr"))
      .withColumn("hr_ts", timestamp_millis(col("hr") * 3600000))
    val deduped = StreamingOps.dedupExactStream(
      src, Seq("user_id", "event_type", "hr"), "hr_ts", "3650 days")
    runToTable(s, deduped)
      .groupBy(col("event_type"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_keys"),
        expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").as("n_users"))
  }

  /** Streaming quality gate, oracle-gated: the d60 batch twin's exact
    * thresholds (shared constants — one definition, two execution modes)
    * over file-streamed documents; same report columns, same oracle SQL.
    */
  def d121StreamQuality(s: SparkSession, d: String): DataFrame = {
    val gated = StreamingOps.qualityGateStream(
      streamParquet(s, s"$d/documents.parquet"), "text")
    val t = col("text")
    runToTable(s, gated.select(col("doc_id"),
      TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
      round(TextFunctions.meanTokenLength(t), 6).as("mean_wlen"),
      round(TextFunctions.stopwordRatio(t), 6).as("stop_ratio"),
      round(TextFunctions.distinctTokenRatio(t), 6).as("distinct_ratio")))
  }

  /** Streaming decontamination gate, oracle-gated: a small blocklist slice
    * (src0, doc_id % 7 = 0 — small-by-contract, the gate's design regime)
    * contributes its verbatim word 8-grams; arriving docs sharing ANY gram
    * are dropped in the scan-stage projection (no state, no shuffle).
    */
  def d122StreamDecontaminate(s: SparkSession, d: String): DataFrame = {
    val isEval = col("source") === "src0" && col("doc_id") % 7 === 0
    val evalGrams = Tables.documents(s, d).filter(isEval)
      .select(explode(TextFunctions.wordShingles(col("text"), 8)).as("gram"))
      .distinct().collect().map(_.getString(0)).toSeq
    val docs = streamParquet(s, s"$d/documents.parquet").filter(!isEval)
    // an EMPTY eval slice means pass-everything (the oracle's empty CTE
    // semantics) — decontaminateStream requires a non-empty gram list, so
    // short-circuit rather than fail on a dataset with no src0 docs
    val surv = (if (evalGrams.isEmpty) docs
      else StreamingOps.decontaminateStream(docs, "text", evalGrams, 8))
      .select(col("doc_id"), col("source"))
    runToTable(s, surv)
      .groupBy(col("source"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_survivors"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("first_id"))
  }

  /** Streaming anomaly gate, oracle-gated against the d72 batch twin's SQL:
    * the baseline (per-type mean/stddev) is fit batch-side on the standing
    * corpus — the planned-refit discipline — and broadcast into the
    * stream-static join; only |z| > 3 events pass. Baseline pre-filtered
    * to sd > 0 with unknown keys dropped, matching d72's filter exactly.
    */
  def d123StreamAnomaly(s: SparkSession, d: String): DataFrame = {
    val baseline = Tables.events(s, d).groupBy(col("event_type"))
      .agg(avg(col("value")).as("m"), stddev_samp(col("value")).as("sd"))
      .filter(col("sd") > 0)
    val stream = streamParquet(s, s"$d/events.parquet")
      .select(col("event_id"), col("event_type"), col("value"))
    val gated = StreamingOps.anomalyGateStream(
        stream, "event_type", "value", baseline, zThreshold = 3.0,
        passUnknownKeys = false)
      .select(expr("CAST(event_id AS BIGINT)").as("event_id"),
        col("event_type"), col("value"), round(col("z"), 4).as("z"))
    runToTable(s, gated)
  }

  /** Streaming stateful ParDo with per-(key, window) state and end-of-window
    * event-time timers, oracle-gated: each (user, hour) group accumulates
    * combining state and flushes on a timer at the window's max timestamp —
    * the full q20-style state+timer surface, executed by
    * flatMapGroupsWithState and hash-checked against the batch GROUP BY.
    * The far-future sentinel row advances the global watermark past every
    * real window so all flush timers fire before AvailableNow terminates.
    */
  def d124StreamStateful(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val hour = 3600L * 1000
    val in = stagedInput(s, d, "stateful") { (_, in) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("value"), col("ts_ms"))
      val maxTs = ev.agg(max(col("ts_ms"))).head().getLong(0)
      val sentinel = Seq((-1L, 0.0, maxTs + 2 * hour))
        .toDF("user_id", "value", "ts_ms")
      ev.union(sentinel).write.mode("overwrite").parquet(in.toString)
    }

    val src = streamParquet(s, in.toString)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("value"), col("ts"))
      .as[(Long, Double, java.sql.Timestamp)]
      // drop the sentinel AFTER the watermark node, with a TYPED filter:
      // a Column predicate here gets pushed below EventTimeWatermark by
      // Catalyst (it doesn't reference the event-time column), which would
      // remove the sentinel before it advances the watermark — and the
      // tail windows' flush timers would never fire
      .filter(_._1 >= 0)

    val countSpec = CombiningStateSpec[Double, (Double, Long), (Double, Long)](
      "sumCount", CombineFns.sumCountDouble)
    val flushTimer = TimerSpec("flush")
    val out = StreamingOps.statefulParDoWindowed[Long, Double, (Long, Long, Long, Double)](
      src, hour,
      new StatefulDoFn[(Long, Long), Double, (Long, Long, Long, Double)] {
        def process(key: (Long, Long), v: Double,
            ctx: StatefulContext[(Long, Long, Long, Double)]): Unit = {
          ctx.combining(countSpec).add(v)
          ctx.timer(flushTimer).set(key._2 + hour - 1)
        }
        override def onTimer(key: (Long, Long), spec: TimerSpec, tag: String,
            fireTs: Long, ctx: StatefulContext[(Long, Long, Long, Double)]): Unit = {
          val (sum, n) = ctx.combining(countSpec).read()
          ctx.output((key._1, key._2, n, sum))
          // release the flushed window's state: with the timer fired the
          // watermark is past windowEnd-1, so no on-time element can
          // re-open this (key, window) — without the clear, state grows by
          // one entry per (user, hour) forever in the unbounded regime
          // this row models
          ctx.combining(countSpec).clear()
        }
      })
      .toDF("user_id", "window_start", "n_events", "sum_value")
      .withColumn("sum_value", round(col("sum_value"), 4))
    runToTable(s, out)
  }

  /** Stream-stream event-time interval join, oracle-gated: every click
    * joined to the same user's purchases within the following 4 hours —
    * Spark's native stream-stream inner join with watermarks on both sides
    * and a two-sided time-range condition (the attribution-join shape; in
    * the unbounded regime the range bound is what lets Spark evict matched
    * state instead of buffering both streams forever). The oracle is the
    * plain batch self-join over the same parquet — bounded replay through
    * the streaming join must be row-identical.
    *
    * The table is a single file, so AvailableNow processes both sides in
    * one micro-batch and the 0-second watermark cannot evict state before
    * the matching batch runs — the same bounded-replay reasoning as the
    * class doc's sentinel discussion, without needing a sentinel (inner
    * join emits on match, not on watermark).
    */
  /** Streaming materialized-view maintenance, oracle-gated: orders are
    * staged as two files and replayed one file per micro-batch; each
    * batch folds into a maintained (custkey, count, revenue) aggregate via
    * [[graft.operators.ScaleOps.incrementalAgg]] inside `foreachBatch` —
    * the streaming half of the d142 equivalence. The final aggregate must
    * equal DuckDB's one-shot aggregate over the whole table: a lost or
    * re-folded batch, or any drift in the decimal arithmetic, breaks the
    * hash. This is the 100 TB standing-pipeline shape: the aggregate table
    * (small) is updated per micro-batch from the change stream and the
    * base is never rescanned; `localCheckpoint` stands in for the
    * per-batch aggregate-table write a production run would do.
    */
  def d145StreamIncrementalAgg(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val in = stagedInput(s, d, "incagg") { (_, in) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("amt"))
        .repartition(2).write.mode("overwrite").parquet(in.toString)
    }
    val root = scratch("graft-stream-incagg") // fresh ck per run: no resume
    try {
      var agg = s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("o_custkey", LongType),
        StructField("cnt", LongType),
        StructField("amt", DecimalType(38, 2)))))
      var nBatches = 0
      val src = s.readStream.schema(s.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val guard = new BatchIdGuard
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          guard.once(batchId) {
            nBatches += 1
            agg = graft.operators.ScaleOps.incrementalAgg(agg,
                batch.select(col("o_custkey"), col("amt"), lit(1).as("w")),
                Seq("o_custkey"), "w", Seq("amt"))
              .localCheckpoint(true)
          }
          ()
        }
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // vacuity guard: the equivalence is only evidence if the fold really
      // ran incrementally — the staged files must mean several batches.
      // r10 (guide §1, StreamProbe-measured): the additive-fold rows stage
      // TWO files, not four — each extra micro-batch costs a fixed
      // ~0.5-0.9 s (planning + fold query + commit floors) and the fold is
      // provably batch-count-invariant (per-key counts/sums add), so two
      // batches exercise the multi-batch property at half the floor cost
      require(nBatches >= 2,
        s"expected a multi-batch incremental fold, got $nBatches batch(es)")
      agg.select(col("o_custkey"), col("cnt").as("n_orders"),
        col("amt").cast("double").as("sum_price"))
    } finally deleteRecursively(root)
  }

  /** Streaming checkpoint-RESUME, oracle-gated: the one property a standing
    * 100 TB ingest pipeline lives on and no other row exercises — a
    * restarted query must pick up exactly where the checkpoint left off,
    * with both its SOURCE OFFSETS (files already processed are not
    * re-read) and its OPERATOR STATE (keys already seen keep deduping)
    * recovered. The input is staged in two halves split by event-id parity
    * — orthogonal to the dedup key, so (user, type, hour) keys straddle
    * the halves — and the same dedup topology runs twice against ONE
    * checkpoint + ONE sink: first over half A, then, after half B lands in
    * the source directory, a brand-new query object resumes. Lost offsets
    * would re-emit all of A (sink row count inflates); lost dedup state
    * would re-emit every straddling key from B; either breaks the hash
    * against the batch DISTINCT over the FULL table. Both runs are
    * vacuity-guarded: run 1 must emit a strict, non-empty subset of the
    * final keys, and the straddle-key count must be non-zero at this SF.
    *
    * The parquet sink's _spark_metadata commit log spans both runs, so the
    * read-back also proves the sink side of exactly-once across restart.
    */
  def d146StreamResume(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val root = scratch("graft-stream-resume")
    try {
      val in = root.resolve("in"); val sink = root.resolve("out")
      val ck = root.resolve("ck")
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts_ms div 3600000").as("hr"))
      // keys present in BOTH halves: without them run 2 never tests state
      // recovery (every B key would be new) and the row passes vacuously.
      // r9 optimization (guide §2.4): the former two-distinct + intersect
      // formulation shuffled the key projection three times and counted
      // every straddling key; the require only needs EXISTENCE, which one
      // aggregation (key → parity spread) answers under a limit(1).
      val straddle = ev
        .select(col("user_id"), col("event_type"), col("hr"),
          (col("event_id") % 2).as("__par"))
        .groupBy(col("user_id"), col("event_type"), col("hr"))
        .agg(min(col("__par")).as("__mn"), max(col("__par")).as("__mx"))
        .filter(col("__mn") === 0 && col("__mx") === 1)
        .limit(1).count()
      require(straddle > 0,
        "no dedup key straddles the two halves: resume would be untested")
      ev.filter(col("event_id") % 2 === 0).drop("event_id")
        .write.parquet(in.toString)

      def runOnce(): Unit = {
        val src = s.readStream
          .schema(s.read.parquet(in.toString).schema).parquet(in.toString)
          .withColumn("hr_ts", timestamp_millis(col("hr") * 3600000))
        val deduped = StreamingOps.dedupExactStream(
          src, Seq("user_id", "event_type", "hr"), "hr_ts", "3650 days")
        val q = deduped.writeStream.format("parquet")
          .option("path", sink.toString)
          .option("checkpointLocation", ck.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      val afterRun1 = s.read.parquet(sink.toString).count()
      ev.filter(col("event_id") % 2 === 1).drop("event_id")
        .write.mode("append").parquet(in.toString)
      runOnce()
      val out = s.read.parquet(sink.toString).localCheckpoint(true)
      require(afterRun1 > 0 && afterRun1 < out.count(),
        s"run 1 emitted $afterRun1 of ${out.count()} keys: resume untested")
      out.groupBy(col("event_type"))
        .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_keys"),
          expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").as("n_users"))
    } finally deleteRecursively(root)
  }

  /** Streaming SESSION windows, oracle-gated: Spark's native
    * `session_window` (gap 30 min) under AvailableNow, hash-checked
    * against the same DuckDB gap-and-island SQL that gates the batch q18
    * twin — so the engine's two session implementations (the Beam-model
    * merging WindowFn and Spark's streaming session state) are pinned to
    * ONE oracle. Append mode emits a session only once the watermark
    * passes its end, so the far-future sentinel row (class doc) advances
    * the watermark past every real session; the sentinel's own session
    * never finalizes (its end stays ahead of the watermark) and is
    * belt-and-braces filtered batch-side AFTER the sink read — filtering
    * inside the streaming query would risk Catalyst pushing the predicate
    * below the watermark node (the d124 hazard, spec-pinned there).
    */
  def d148StreamSessions(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "sessions") { (_, in) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("value"), col("ts_ms"))
      val maxTs = ev.agg(max(col("ts_ms"))).head().getLong(0)
      val sentinel = Seq((-1L, 0.0, maxTs + 365L * 24 * 3600 * 1000))
        .toDF("user_id", "value", "ts_ms")
      ev.union(sentinel).write.mode("overwrite").parquet(in.toString)
    }
    val src = streamParquet(s, in.toString)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val sess = StreamingOps.sessionAggregate(src, "ts", "user_id",
        "30 minutes",
        Seq(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value")),
        watermarkDelay = "1 second")
      .select(col("user_id"),
        unix_millis(col("session_start")).as("session_start"),
        col("n_events").cast("long").as("n_events"),
        round(col("sum_value"), 4).as("sum_value"))
    runToTable(s, sess).filter(col("user_id") >= 0)
  }

  /** Stream-stream LEFT OUTER interval join, oracle-gated: unlike the
    * inner join (d139), the outer side exercises the eviction-driven
    * emission path — a click with no purchase within its 4-hour window is
    * emitted with nulls only when the WATERMARK passes the window's end
    * and the state store gives up on a future match. The far-future
    * sentinel (one per side, filtered batch-side after the sink) advances
    * the watermark past every click's window so the trailing no-data
    * batch flushes all unmatched state before AvailableNow terminates —
    * without it the query would end with the unmatched clicks silently
    * still buffered, which is exactly the bug class this row pins.
    */
  def d150StreamLeftJoin(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "leftjoin") { (_, in) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_ms"))
      val maxTs = ev.agg(max(col("ts_ms"))).head().getLong(0)
      val far = maxTs + 365L * 24 * 3600 * 1000
      val sentinels = Seq(
        (-1L, -1L, "click", 0.0, far), (-2L, -2L, "purchase", 0.0, far))
        .toDF("event_id", "user_id", "event_type", "value", "ts_ms")
      ev.union(sentinels).write.mode("overwrite").parquet(in.toString)
    }
    def side(tpe: String, pre: String): DataFrame =
      streamParquet(s, in.toString)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pre}_user"),
          col("event_id").as(s"${pre}_id"),
          timestamp_millis(col("ts_ms")).as(s"${pre}_ts"),
          col("value").as(s"${pre}_value"))
        .withWatermark(s"${pre}_ts", "1 second")
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 4 HOURS"),
      "left_outer")
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"), col("p_value").as("value"))
    runToTable(s, joined).filter(col("user_id") >= 0)
  }

  /** Streaming CDC snapshot maintenance, oracle-gated: the d138 change set
    * (mod-7 I/U/D mutation of orders) is split arbitrarily into four files
    * and replayed one file per micro-batch; each batch folds into a
    * maintained snapshot via [[graft.operators.ScaleOps.applyChanges]]
    * inside `foreachBatch` — the upsert half of the standing-pipeline
    * story, next to d145's aggregate half. The final snapshot must equal
    * the one-shot batch MERGE the d138 oracle spells out: a lost batch, a
    * double-applied batch, or any order sensitivity across the arbitrary
    * file split breaks the 15k-row hash. (The change set has at most one
    * op per key, so any batch partition of it must converge — the same
    * idempotence contract ScaleOpsSpec pins for prefix replay.)
    */
  def d151StreamCdc(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val in = stagedInput(s, d, "cdc") { (_, in) =>
      val m = col("o_orderkey") % 7
      val changes = base.filter(m === 0)
        .withColumn("op", lit("D"))
        .unionByName(base.filter(m.isin(1, 2))
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_totalprice", col("o_totalprice") + 10.0)
          .withColumn("op", lit("U")))
        .unionByName(base.filter(m === 3)
          .withColumn("o_orderkey", lit(-1L) - col("o_orderkey"))
          .withColumn("op", lit("I")))
      changes.repartition(4).write.mode("overwrite").parquet(in.toString)
    }
    val root = scratch("graft-stream-cdc") // fresh ck per run: no resume
    try {
      var snap = base.localCheckpoint(true)
      var nBatches = 0
      val src = s.readStream.schema(s.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val guard = new BatchIdGuard
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          guard.once(batchId) {
            nBatches += 1
            snap = graft.operators.ScaleOps
              .applyChanges(snap, batch, Seq("o_orderkey"), "op")
              .localCheckpoint(true)
          }
          ()
        }
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // vacuity guard: four staged files must mean a genuinely incremental
      // fold, or the equivalence says nothing about per-batch maintenance
      require(nBatches >= 2,
        s"expected a multi-batch CDC fold, got $nBatches batch(es)")
      snap
    } finally deleteRecursively(root)
  }

  /** Streaming data-quality gate, oracle-gated: the d155 constraint
    * report maintained as a STANDING monitor — each micro-batch runs
    * [[graft.operators.Constraints.check]] on just that batch and the
    * per-check counts fold additively into running totals (the tiny
    * ≤5-row report is driver-foldable by contract, like d145's maintained
    * aggregate). Row-local checks and the FK orphan check are exactly
    * batch-additive — each row is judged independently (FK against the
    * STATIC parent snapshot), so the fold over disjoint batches must
    * equal the one-shot batch report, which is what the oracle recomputes.
    * `unique` is deliberately absent: uniqueness is not batch-local (a
    * key can straddle batches) — its streaming form is stateful dedup,
    * gated by the d120/d146 census rows.
    */
  def d158StreamConstraints(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    import graft.operators.Constraints
    import graft.operators.Constraints._
    val in = stagedInput(s, d, "constraints") { (_, in) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
        .repartition(2).write.mode("overwrite").parquet(in.toString)
    }
    val root = scratch("graft-stream-constraints") // fresh ck: no resume
    try {
      // static parent snapshot, materialized once for every batch's FK probe
      val activeCustomers = Tables.customer(s, d)
        .filter(col("c_acctbal") > 0).select(col("c_custkey"))
        .localCheckpoint(true)
      val checks = Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        InSet("o_orderstatus", Seq("F", "O")),
        Satisfies("o_orderdate_pre97",
          "o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"),
        ForeignKey("o_custkey", activeCustomers, "active_customer"))
      val totals = scala.collection.mutable.Map
        .empty[(String, String), (Long, Long)]
      var nBatches = 0
      val src = s.readStream.schema(s.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val guard = new BatchIdGuard
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          guard.once(batchId) {
            nBatches += 1
            Constraints.check(batch, checks).collect().foreach { r =>
              val k = (r.getString(0), r.getString(1))
              val (n, v) = totals.getOrElse(k, (0L, 0L))
              totals(k) = (n + r.getLong(2), v + r.getLong(3))
            }
          }
          ()
        }
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(nBatches >= 2,
        s"expected a multi-batch constraint fold, got $nBatches batch(es)")
      val sp = s; import sp.implicits._
      totals.toSeq.map { case ((c, l), (n, v)) => (c, l, n, v, v == 0L) }
        .toDF("check_name", "column_name", "n_rows", "n_violations", "passed")
        .orderBy(col("check_name"), col("column_name"))
    } finally deleteRecursively(root)
  }

  /** Streaming exact AUC, oracle-gated: the metric's sufficient statistic
    * — the per-score (pos, neg) count table — is ADDITIVE, so each
    * micro-batch folds its grouped counts into a maintained table (a
    * distributed frame, never a driver-side map) and the rank-sum
    * finisher ([[graft.operators.EvalMetrics.aucFromScoreCounts]]) runs
    * once at end-of-stream. The fold is the streaming form of every
    * mergeable-statistic metric: counts merge across shards, days, or
    * batches identically, and the finished AUC must equal the batch d164
    * twin bit-for-bit (same oracle SQL).
    */
  def d170StreamAuc(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val in = stagedInput(s, d, "auc") { (_, in) =>
      Tables.events(s, d)
        .select(col("value").as("score"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("lbl"))
        .filter(col("score").isNotNull)
        .repartition(2).write.mode("overwrite").parquet(in.toString)
    }
    val root = scratch("graft-stream-auc") // fresh ck per run: no resume
    try {
      var acc = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("score", DoubleType),
          StructField("pos", LongType), StructField("neg", LongType))))
      var nBatches = 0
      val src = s.readStream.schema(s.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val guard = new BatchIdGuard
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          guard.once(batchId) {
            nBatches += 1
            val g = batch.groupBy(col("score"))
              .agg(sum(col("lbl")).as("pos"),
                (count(lit(1)) - sum(col("lbl"))).as("neg"))
            // merged table is distinct-score-sized; checkpoint so the
            // fold's lineage never chains across batches
            acc = acc.union(g).groupBy(col("score"))
              .agg(sum(col("pos")).as("pos"), sum(col("neg")).as("neg"))
              .localCheckpoint(true)
          }
          ()
        }
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(nBatches >= 2,
        s"expected a multi-batch AUC fold, got $nBatches batch(es)")
      graft.operators.EvalMetrics.aucFromScoreCounts(acc).localCheckpoint(true)
    } finally deleteRecursively(root)
  }

  /** Streaming OHLC bars: the second instance of the d170 pattern — a
    * metric whose per-batch partials are a MERGEABLE sufficient statistic
    * folds incrementally and must land on the batch twin's exact answer.
    * Here every OHLC component merges: open/close keys are struct
    * min/max (min of mins / max of maxes), high/low plain min/max, counts
    * add, and the fixed-point 2-decimal sums re-sum exactly (integers
    * under the hood). Oracle = d179's SQL verbatim (shared definition, the
    * d170/d164 convention).
    */
  def d183StreamOhlc(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    val in = stagedInput(s, d, "ohlc") { (_, in) =>
      Tables.events(s, d)
        .select(col("event_type"), col("ts_ms"), col("value"))
        .filter(col("value").isNotNull)
        .repartition(2).write.mode("overwrite").parquet(in.toString)
    }
    val root = scratch("graft-stream-ohlc") // fresh ck per run: no resume
    try {
      def partials(df: DataFrame): DataFrame = df
        .groupBy(col("event_type"),
          (floor(col("ts_ms") / 86400000L).cast("long") * 86400000L)
            .as("bucket_start"))
        .agg(min(struct(col("ts_ms"), col("value"))).as("okey"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max(struct(col("ts_ms"), col("value"))).as("ckey"),
          count(lit(1)).as("n_ticks"),
          expr("CAST(graft_money_sum(value, 2) AS DOUBLE)").as("sum_value"))
      val tickStruct = StructType(Seq(StructField("ts_ms", LongType),
        StructField("value", DoubleType)))
      var acc = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("event_type", StringType),
          StructField("bucket_start", LongType),
          StructField("okey", tickStruct), StructField("high", DoubleType),
          StructField("low", DoubleType), StructField("ckey", tickStruct),
          StructField("n_ticks", LongType),
          StructField("sum_value", DoubleType))))
      var nBatches = 0
      val src = s.readStream.schema(s.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val guard = new BatchIdGuard
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          guard.once(batchId) {
          nBatches += 1
          // merged table is (type × day)-sized; checkpoint so the fold's
          // lineage never chains across batches
          acc = acc.unionByName(partials(batch))
            .groupBy(col("event_type"), col("bucket_start"))
            .agg(min(col("okey")).as("okey"), max(col("high")).as("high"),
              min(col("low")).as("low"), max(col("ckey")).as("ckey"),
              sum(col("n_ticks")).as("n_ticks"),
              expr("CAST(graft_money_sum(sum_value, 2) AS DOUBLE)")
                .as("sum_value"))
            .localCheckpoint(true)
          }
          ()
        }
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(nBatches >= 2,
        s"expected a multi-batch OHLC fold, got $nBatches batch(es)")
      acc.select(col("event_type"),
        expr("CAST(bucket_start AS BIGINT)").as("bucket_start"),
        col("okey.value").as("open"), col("high"), col("low"),
        col("ckey.value").as("close"),
        expr("CAST(n_ticks AS BIGINT)").as("n_ticks"), col("sum_value"))
        .localCheckpoint(true)
    } finally deleteRecursively(root)
  }

  /** Streaming exact EWMA, oracle-gated: the ORDER-SENSITIVE state shape
    * no other streaming row exercises — [[StreamingOps.ewmaStream]]'s ring
    * buffer is sequence-dependent (AUC/OHLC fold commutative statistics;
    * this one does not commute), so the row also proves the ordering
    * contract end-to-end: the input is staged as three EVENT-TIME SLICES
    * with strictly increasing file mtimes and replayed one file per
    * micro-batch (FileStreamSource default is oldest-first), giving every
    * user an in-order arrival across batches. The result hash-checks
    * against the SAME DuckDB oracle as batch d195 — a state ring carried
    * across three micro-batches must reproduce the batch window plan
    * bit-for-bit (the division of exact integers is correctly rounded on
    * both paths).
    *
    * Vacuity guards: three non-empty slices, and at least one user must
    * SPAN slices (state crossing a batch boundary is the property under
    * test — a single-batch replay would pass trivially).
    */
  def d196StreamEwma(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "ewma") { (root, in) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "view" && col("value").isNotNull)
        .select(col("user_id"), col("ts_ms"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
        .localCheckpoint() // feeds 3 slice writes + the vacuity census
      stageTimeSlices(ev, "ts_ms", "user_id", root, in)
    }
    val src = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(Long, Long, Long, Long)]
    val out = StreamingOps.ewmaStream(src, depth = 8)
      .toDF("user_id", "ts_ms", "event_id", "cents", "ewma")
    runToTable(s, out)
      .select(expr("CAST(user_id AS BIGINT)").as("user_id"),
        expr("CAST(ts_ms AS BIGINT)").as("ts_ms"),
        expr("CAST(event_id AS BIGINT)").as("event_id"),
        expr("CAST(cents AS BIGINT)").as("cents"), col("ewma"))
  }

  /** Streaming last-touch attribution, oracle-gated: the second
    * ORDER-SENSITIVE state row ([[StreamingOps.lastTouchStream]] — state
    * = the latest click per user, the Lindley-simple end of the spectrum
    * d196's ring anchors). Same three-slice ordered replay; the
    * per-purchase attributions land in the sink and aggregate batch-side
    * to exactly d193's campaign census — ONE shared oracle proves the
    * carried-touch state equals the batch window plan.
    */
  def d203StreamAttribution(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "attr") { (root, in) =>
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts_ms"), col("event_id"),
          when(col("event_type") === "click", 1).otherwise(2).as("kind"),
          coalesce(
            expr("CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)"),
            lit(-1L)).as("campaign"),
          col("value"))
        .localCheckpoint()
      stageTimeSlices(ev, "ts_ms", "user_id", root, in)
    }
    val src = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(Long, Long, Long, Int, Long, Double)]
    val out = StreamingOps
      .lastTouchStream(src, windowMillis = 7L * 86400000L)
      .toDF("user_id", "ts_ms", "event_id", "campaign", "value")
    runToTable(s, out)
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_purchases"),
        expr("CAST(graft_money_sum(value, 2) AS DOUBLE)").as("revenue"))
      .select(expr("CAST(campaign AS BIGINT)").as("campaign"),
        expr("CAST(n_purchases AS BIGINT)").as("n_purchases"),
        col("revenue"))
  }

  /** Streaming SCD Type-2 maintenance, oracle-gated: the third
    * ORDER-SENSITIVE state row ([[StreamingOps.scd2Stream]] — state = the
    * OPEN run per customer; closed runs stream out append-only). Same
    * three-slice ordered replay as d196/d203, plus a FOURTH staged file —
    * one flush sentinel per customer, latest mtime, so the final
    * micro-batch emits every still-open run with valid_to NULL. The sink
    * then hash-checks against the SHARED scd2OracleSql: the incrementally
    * maintained history must equal batch d191's one-shot gaps-and-islands
    * plan, run boundary for run boundary.
    */
  def d207StreamScd2(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "scd2") { (root, in) =>
      val o = Queries.orderStatusEvents(s, d)
        .select(col("o_custkey").as("k"), col("ms"),
          col("o_orderkey").as("tie"), col("o_orderstatus").as("st"),
          lit(0).as("kind"))
        .localCheckpoint() // feeds 3 slice writes + the flush key census
      stageTimeSlices(o, "ms", "k", root, in)
      // the flush batch: one sentinel per key, staged strictly last
      stageOneFile(
        o.select(col("k")).distinct()
          .select(col("k"), lit(Long.MaxValue).as("ms"),
            lit(Long.MaxValue).as("tie"), lit("").as("st"),
            lit(1).as("kind")),
        root, in, "zz-flush.parquet", System.currentTimeMillis())
    }
    val src = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(Long, Long, Long, String, Int)]
    val out = StreamingOps.scd2Stream(src)
      .toDF("o_custkey", "o_orderstatus", "valid_from", "valid_to",
        "n_rows")
    runToTable(s, out)
      .select(expr("CAST(o_custkey AS BIGINT)").as("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(valid_from AS BIGINT)").as("valid_from"),
        expr("CAST(valid_to AS BIGINT)").as("valid_to"),
        expr("CAST(n_rows AS BIGINT)").as("n_rows"))
  }

  /** Streaming interval merge, oracle-gated: the fourth ORDER-SENSITIVE
    * state row ([[StreamingOps.intervalMergeStream]] — state = the OPEN
    * span per customer). Same staged replay + flush-sentinel machinery
    * as d207; the sink hash-checks against the SHARED
    * intervalMergeOracleSql — the incrementally merged spans must equal
    * batch d209's running-max island plan span for span.
    */
  def d213StreamIntervalMerge(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "imerge") { (root, in) =>
      val spans = Queries.orderServiceSpans(s, d)
        .select(col("o_custkey").as("k"), col("lo"), col("hi"),
          col("o_orderkey").as("tie"), lit(0).as("kind"))
        .localCheckpoint()
      stageTimeSlices(spans, "lo", "k", root, in)
      stageOneFile(
        spans.select(col("k")).distinct()
          .select(col("k"), lit(Long.MaxValue).as("lo"),
            lit(Long.MaxValue).as("hi"), lit(Long.MaxValue).as("tie"),
            lit(1).as("kind")),
        root, in, "zz-flush.parquet", System.currentTimeMillis())
    }
    val src = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(Long, Long, Long, Long, Int)]
    val out = StreamingOps.intervalMergeStream(src)
      .toDF("o_custkey", "span_start", "span_end", "n_orders")
    runToTable(s, out)
      .select(expr("CAST(o_custkey AS BIGINT)").as("o_custkey"),
        expr("CAST(span_start AS BIGINT)").as("span_start"),
        expr("CAST(span_end AS BIGINT)").as("span_end"),
        expr("CAST(n_orders AS BIGINT)").as("n_orders"))
  }

  /** Streaming clamped balance, oracle-gated: the LITERAL Lindley
    * recursion ([[StreamingOps.balanceStream]], state = one Long per
    * user) against batch d202's reflection-identity window plan — the
    * shared oracle proves the closed form and the sequential fold agree
    * on every row. Per-event output, so no flush sentinel is needed.
    */
  def d214StreamBalance(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "bal") { (root, in) =>
      val ev = Queries.balanceDeltas(s, d).localCheckpoint()
      stageTimeSlices(ev, "ts_ms", "user_id", root, in)
    }
    val src = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(Long, Long, Long, Long)]
    val out = StreamingOps.balanceStream(src)
      .toDF("user_id", "ts_ms", "event_id", "delta", "balance")
    runToTable(s, out)
      .select(expr("CAST(user_id AS BIGINT)").as("user_id"),
        expr("CAST(ts_ms AS BIGINT)").as("ts_ms"),
        expr("CAST(event_id AS BIGINT)").as("event_id"),
        expr("CAST(delta AS BIGINT)").as("delta"),
        expr("CAST(balance AS BIGINT)").as("balance"))
  }

  /** Streaming sequential decision, oracle-gated: the SIXTH
    * order-sensitive state row, and the first ABSORBING one
    * ([[StreamingOps.sprtStream]] — once a key's walk crosses a bound,
    * later trials must not re-decide it). Same staged replay +
    * flush-sentinel machinery as d207; the sink hash-checks against the
    * SHARED sprtOracleSql — the incrementally folded first crossing must
    * equal batch d231's windowed prefix-sum extraction, decision for
    * decision.
    */
  def d232StreamSprt(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "sprt") { (root, in) =>
      val t = Queries.sprtSteps(s, d)
        .select(col("user_id").as("k"), col("ts_ms"),
          col("event_id").as("tie"), col("step"), lit(0).as("kind"))
        .localCheckpoint() // feeds 3 slice writes + the flush key census
      stageTimeSlices(t, "ts_ms", "k", root, in)
      stageOneFile(
        t.select(col("k")).distinct()
          .select(col("k"), lit(Long.MaxValue).as("ts_ms"),
            lit(Long.MaxValue).as("tie"), lit(0L).as("step"),
            lit(1).as("kind")),
        root, in, "zz-flush.parquet", System.currentTimeMillis())
    }
    val src = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(Long, Long, Long, Long, Int)]
    val out = StreamingOps.sprtStream(src)
      .toDF("user_id", "decision", "n_trials", "cum_final")
    runToTable(s, out)
      .select(expr("CAST(user_id AS BIGINT)").as("user_id"),
        col("decision"),
        expr("CAST(n_trials AS BIGINT)").as("n_trials"),
        expr("CAST(cum_final AS BIGINT)").as("cum_final"))
  }

  /** Streaming sequence packing, oracle-gated: the SEVENTH
    * order-sensitive state row ([[StreamingOps.packStream]] — one Long
    * of cumulative-token state per source). Docs are staged in doc_id
    * order, so the incremental bin assignment must land every doc in
    * the SAME shard as batch d59's window plan — the shared packing
    * oracle proves it bin for bin, which is the property that lets a
    * standing ingest append to training shards a from-scratch re-pack
    * would reproduce.
    */
  def d238StreamPacking(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val in = stagedInput(s, d, "pack") { (root, in) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), expr("CAST(doc_id AS BIGINT)").as("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("ntok"))
        .localCheckpoint() // feeds 3 slice writes + the spanning census
      stageTimeSlices(docs, "doc_id", "source", root, in)
    }
    val src = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(String, Long, Long)]
    val packed = StreamingOps.packStream(src, budget = 512L)
      .toDF("source", "doc_id", "n_tokens", "bin_id")
    runToTable(s, packed)
      .groupBy(col("source"), expr("CAST(bin_id AS BIGINT)").as("bin_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(SUM(n_tokens) AS BIGINT)").as("sum_tokens"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("first_doc"),
        expr("CAST(MAX(doc_id) AS BIGINT)").as("last_doc"))
  }

  /** Streaming curation funnel, oracle-gated: the ingest-side twin of
    * the batch composition capstone (d228's first four stages), counted
    * in ONE stateful pass ([[StreamingOps.curationFunnelStream]] —
    * seen-flag state keyed on the normalized content key; gate flags
    * ride as stateless columns). Docs are staged in doc_id order so the
    * stream's first-arrival dedup survivor IS the batch plan's
    * min-doc_id representative — the whole funnel then hash-checks
    * against the SHARED curation funnel oracle (4-column projection of
    * d228's), source for source.
    */
  def d236StreamCuration(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    val sp = s; import sp.implicits._
    val isEval = col("source").isin("src0", "src1")
    val in = stagedInput(s, d, "cur") { (root, in) =>
      val docs = Tables.documents(s, d)
        .filter(!isEval && col("text").isNotNull)
        .select(expr("CAST(doc_id AS BIGINT)").as("doc_id"), col("source"),
          col("text"),
          graft.operators.Dedup.normalizedContentKey(col("text"))
            .as("__key"))
        .localCheckpoint() // feeds 3 slice writes + the spanning census
      stageTimeSlices(docs, "doc_id", "__key", root, in)
    }
    val evalGrams = Tables.documents(s, d).filter(isEval)
      .select(explode(TextFunctions.wordShingles(col("text"), 8))
        .as("gram"))
      .distinct().collect().map(_.getString(0)).toSet
    // hash-set membership via broadcast, NOT an array_contains literal:
    // probing a |eval|-element plan literal per gram is
    // O(grams x |eval|) per doc — 100 s at sf0.1 where this shape runs
    // in 3 s. Gram extraction stays on the native expression.
    val evalBc = s.sparkContext.broadcast(evalGrams)
    val raw = s.readStream
      .schema(s.read.parquet(in.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    // gate flags as stateless stream columns — the SHARED gopherPass
    // predicate (one rule definition with qualityGateStream/d121);
    // minShared = 3 on DISTINCT doc grams mirrors Decontaminate.overlap
    val t = col("text")
    val flagged = raw
      .withColumn("__q", TextFunctions.gopherPass(t))
      .select(col("__key"), col("doc_id"), col("source"), col("__q"),
        TextFunctions.wordShingles(t, 8).as("__grams"))
      .as[(String, Long, String, Boolean, Seq[String])]
      .map { case (key, id, src, qOk, grams) =>
        val ev = evalBc.value
        // minShared = 3 on DISTINCT doc grams — Decontaminate.overlap
        (key, id, src, qOk, grams.count(ev.contains) < 3)
      }
    val tags = StreamingOps.curationFunnelStream(flagged)
      .toDF("source", "stage")
    def n(stage: String, out: String) =
      expr(s"CAST(SUM(CASE WHEN stage = '$stage' THEN 1 ELSE 0 END) " +
        s"AS BIGINT)").as(out)
    runToTable(s, tags)
      .groupBy(col("source"))
      .agg(n("input", "n_input"), n("dedup", "n_dedup"),
        n("quality", "n_quality"), n("clean", "n_clean"))
  }

  /** Incremental integrity maintenance: the per-bucket Merkle summary is
    * a MERGEABLE sufficient statistic (counts add, digests XOR — third
    * instance of the d170/d183 pattern), so a standing ingest maintains
    * its table digest as micro-batches arrive instead of re-scanning the
    * corpus per verification cycle. The fold
    * ([[graft.operators.Integrity.mergeSummaries]]) must land
    * bit-identical to the one-shot [[graft.operators.Integrity
    * .merkleSummary]] of the full table — the shared oracle
    * (merkleBaseSummarySql, also the base half of d218's diff) proves
    * it. Input rides the shared [[Queries.ordersMerkleBase]] derivation.
    * foreachBatch is AT-LEAST-ONCE, so the fold is guarded on batchId:
    * a retried micro-batch (post-sink-failure replay) is skipped instead
    * of silently double-merged — the idempotent-sink discipline the
    * other foreachBatch rows (d170/d183) document, applied to a
    * driver-held fold.
    */
  def d222StreamMerkle(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val in = stagedInput(s, d, "merkle") { (_, in) =>
      Queries.ordersMerkleBase(s, d).repartition(2)
        .write.mode("overwrite").parquet(in.toString)
    }
    val root = scratch("graft-stream-merkle") // fresh ck per run: no resume
    try {
      var agg = s.createDataFrame(s.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("coarse", LongType), StructField("fine", LongType),
          StructField("n", LongType), StructField("digest", LongType))))
      var nBatches = 0
      val src = s.readStream.schema(s.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val guard = new BatchIdGuard
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // at-least-once guard: a replayed batchId must not double-merge
          // into the driver-held fold (XOR digests would silently cancel)
          guard.once(batchId) {
            nBatches += 1
            agg = graft.operators.Integrity.mergeSummaries(agg,
                graft.operators.Integrity.merkleSummary(batch, "o_orderkey",
                  Seq("o_custkey", "o_orderstatus", "cents"), 64L, 16))
              .localCheckpoint(true)
          }
          ()
        }
        .option("checkpointLocation", root.resolve("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the equivalence is only evidence if the fold really ran
      // incrementally (the d145 vacuity guard)
      require(nBatches >= 2,
        s"expected a multi-batch incremental fold, got $nBatches batch(es)")
      agg.select(expr("CAST(coarse AS BIGINT)").as("coarse"),
        expr("CAST(fine AS BIGINT)").as("fine"), col("n"), col("digest"))
    } finally deleteRecursively(root)
  }

  def d139StreamIntervalJoin(s: SparkSession, d: String): DataFrame =
      withShufflePartitions(s, 4) {
    def side(tpe: String, pre: String): DataFrame = {
      val raw = streamParquet(s, s"$d/events.parquet")
      raw.filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pre}_user"), col("event_id").as(s"${pre}_id"),
          timestamp_millis(Tables.tsMs(raw)).as(s"${pre}_ts"),
          col("value").as(s"${pre}_value"))
        .withWatermark(s"${pre}_ts", "0 seconds")
    }
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 4 HOURS"))
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"), col("p_value").as("value"))
    runToTable(s, joined)
  }
}
