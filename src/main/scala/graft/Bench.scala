package graft

/** Benchmark main: runs the query battery on SPARK_GRAFT_SF_DIR and prints
  * one JSON line with per-query wall seconds.
  *
  * Each query reports the min of a back-to-back warm pair PLUS one
  * pass-separated execution: single-shot numbers on a shared box swing
  * 3-5x with interference/JIT noise (the warm pair handles that), and
  * the r8 root-cause showed the QUIET-box residual arrives in
  * minute-scale whole-JVM episodes that a back-to-back pair both sit
  * inside — so a second full pass re-runs every row once, minutes away
  * from its pair, and min-across-all-three filters episode noise too
  * (see the hybrid-repetition comment in main). The cache is cleared
  * between executions so operator-internal persists (LSH signature
  * tables) don't leak a warm second run.
  *
  * == Contention self-normalization ==
  *
  * A shared driver box can inflate walls ~2-30x (r6: a 218 s battery read
  * 424 s with within-pair rep swings up to 31x). `rep_times` lets a reader
  * DIAGNOSE that after the fact; the canary series lets the artifact
  * NORMALIZE for it:
  *
  *  - a fixed canary workload (warm lineitem group-aggregate, deterministic,
  *    shuffle-bearing, ~0.2 s quiet at sf0.1) runs before the battery, after
  *    every [[canaryPeriod]] executions, and after the last one;
  *  - each sample is the MIN of [[canaryRuns]] back-to-back runs: transient
  *    noise (a GC pause, a scheduler hiccup, the tail of the previous row's
  *    cleanup) hits one run, while sustained external load slows all of
  *    them — so the sample tracks box contention, not engine jitter
  *    (measured: single-shot samples swung 7x on a quiet box and
  *    over-deflated the normalized total 3x);
  *  - each sample records its wall and the 1-minute load average, so the
  *    series doubles as a load trace;
  *  - the minimum canary wall across the run estimates the quiet-box floor
  *    (any quiet window during the run recovers it);
  *  - a second, independent estimator measures EXTERNAL cpu pressure per
  *    rep from /proc/stat: external busy cores E = (Δbox busy − Δown
  *    process cpu) / Δwall, modeled as slowdown C/(C−E) on C cores;
  *  - the factor actually applied to a rep is min(canary factor, cpu
  *    factor), floored at 1. The two estimators fail in opposite
  *    directions: the canary over-counts the JVM's own JIT warm-up drift
  *    (measured: a monotone 0.37→0.14 s decay across a QUIET run, which a
  *    floor-relative factor would misread as 2.5x early contention), while
  *    the cpu model reads exactly 1.0 on a quiet box no matter what the
  *    JIT does but only sees cpu-shaped interference. Their min is right
  *    in both regimes: quiet box → cpu factor 1 → no deflation; loaded box
  *    (the r6 failure mode was a concurrent build) → both large → tracks
  *    the real slowdown.
  *  - `value_normalized` sums the per-row normalized walls and
  *    `contention_index` is the mean factor actually applied
  *    (1.0 = quiet box).
  *
  * On a quiet box `value_normalized == value` by construction; under load
  * the raw total inflates while the normalized one stays comparable across
  * rounds. Raw numbers are always kept alongside — normalization is an
  * extra lens, never a replacement.
  *
  * == Non-CPU attribution (r7 VERDICT #1) ==
  *
  * Three r7 quiet runs swung 190.5→236.3 s while BOTH estimators read
  * quiet (canary floors 0.142–0.147 s, contention_index ≤ 1.008) — the
  * residual swing is IO/memory/JVM-shaped, which a page-cached
  * group-aggregate canary cannot see. The artifact therefore now carries
  * attribution series the normalizers don't use (telemetry first,
  * normalization only if a signal proves causal):
  *
  *  - at every canary position, a `probes` sample: a fixed 64 MB
  *    write+force+read-back under the shuffle tmp dir (disk write-back +
  *    page-cache bandwidth), a single-threaded fixed arithmetic loop
  *    (effective per-core speed — cpu frequency / thermal / steal at
  *    sub-scheduler granularity, invisible to the C/(C−E) core-count
  *    model), the current cpufreq reading, and /proc/meminfo page-cache /
  *    available figures;
  *  - per rep, `rep_gc_ms` / `rep_jit_ms` (GC + JIT time deltas from the
  *    management beans) and `rep_cpu_sec` (own process cpu seconds): a
  *    slow rep with proportionally higher own-cpu is compute-shaped
  *    (frequency, JIT re-profiling); a slow rep with flat own-cpu was
  *    WAITING (IO, scheduling, stop-the-world) — the one split that
  *    separates every remaining hypothesis in one artifact.
  */
object Bench {
  /** Battery EXECUTIONS between canary samples. 24 -> ~30 samples over
    * the 242-row x (2+1)-execution battery: fine enough to track
    * minute-scale load swings, cheap enough to cost <10% of a quiet run —
    * each sample is 3 canary runs (~0.45 s) PLUS the attribution probes
    * (one 64 MB write+force+read-back ioProbe under the shuffle tmp dir
    * and a ~30 ms single-thread cpu loop, r8 ADVICE: previously
    * unbudgeted in this comment). The forced 64 MB write may briefly
    * contend with shuffle IO for rows adjacent to a sample position;
    * probes are telemetry-only and never fold into normalization. (Was 8
    * rows when reps ran back-to-back per row; hybrid repetition tripled
    * the position count, so 24 keeps the same sample budget.)
    */
  val canaryPeriod = 24

  /** Back-to-back canary runs per sample; the sample is their min. */
  val canaryRuns = 3

  /** Cap on the modeled slowdown factor: with external load pinning all
    * but a sliver of the box, C/(C−E) diverges; beyond ~16x the model is
    * noise and a capped correction is more honest than an unbounded one.
    */
  val maxCpuFactor = 16.0

  /** Canary contention factor for a battery row: the sample series
    * (position, wall) interpolated piecewise-linearly at rowIdx + 0.5
    * (the row ran between samples), divided by the floor, clamped >= 1
    * (a row can't have run faster than quiet). Positions outside the
    * series clamp to the nearest sample.
    */
  private[graft] def canaryFactorAt(samples: Seq[(Int, Double)],
      floor: Double, rowIdx: Int): Double = {
    val p = rowIdx + 0.5
    val wall = samples match {
      case Seq(only0) => only0._2
      case ss =>
        ss.sliding(2).collectFirst {
          case Seq((p0, w0), (p1, w1)) if p >= p0 && p <= p1 =>
            if (p1 == p0) w0 else w0 + (w1 - w0) * (p - p0) / (p1 - p0)
        }.getOrElse(if (p < ss.head._1) ss.head._2 else ss.last._2)
    }
    math.max(1.0, wall / floor)
  }

  /** 1-minute load average from /proc/loadavg; -1.0 where unreadable
    * (non-Linux), so the field is present but unmistakably absent.
    */
  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (box busy ticks, own process cpu ticks), both in USER_HZ (100/s on
    * every mainstream Linux). Busy excludes idle+iowait but includes
    * steal, so hypervisor-level theft counts as external pressure too.
    * (-1,-1) where /proc is unreadable.
    */
  private def cpuTicks(): (Long, Long) =
    try {
      val stat = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().split("\\s+") // "cpu user nice sys idle iowait irq softirq steal ..."
      val busy = Seq(1, 2, 3, 6, 7, 8).map(i => stat(i).toLong).sum
      // the comm field (field 2, parenthesized) may itself contain spaces
      // for renamed processes, so index from AFTER the last ')' (the
      // kernel-documented parse) rather than whitespace-splitting the
      // whole line (r7 ADVICE). After trim+split, index 0 = state (stat
      // field 3), so utime/stime (stat fields 14/15) sit at indices 11/12.
      val selfStat = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/self/stat"))
      val self = selfStat.substring(selfStat.lastIndexOf(')') + 1)
        .trim.split("\\s+")
      (busy, self(11).toLong + self(12).toLong) // utime+stime, all threads
    } catch { case _: Throwable => (-1L, -1L) }

  /** Modeled slowdown from external cpu pressure over a measured interval:
    * E external busy cores on a C-core box leaves C−E for this process, so
    * cpu-bound parallel work slows ~C/(C−E). Returns 1.0 on a quiet box
    * and wherever /proc is unreadable or the interval is degenerate.
    */
  private[graft] def cpuFactor(before: (Long, Long), after: (Long, Long),
                        wallSec: Double, cores: Int): Double = {
    if (before._1 < 0 || after._1 < 0 || wallSec <= 0) return 1.0
    val extTicks = (after._1 - before._1) - (after._2 - before._2)
    val extCores = math.max(0.0, extTicks / 100.0 / wallSec)
    val free = math.max(cores - extCores, cores / maxCpuFactor)
    math.max(1.0, cores / free)
  }

  /** Single-threaded fixed arithmetic loop (20M LCG steps, ~30 ms quiet):
    * effective per-core speed. Slows 1:1 with cpu frequency / thermal
    * throttling / hypervisor steal — the per-core effects the C/(C−E)
    * core-count model reads as 1.0. Returns wall seconds.
    */
  private def cpuSpeedProbe(): Double = {
    var x = 1469598103934665603L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 20000000) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("") // keep the loop un-eliminable
    dt
  }

  /** Fixed 64 MB write+force then read-back under the JVM tmp dir (where
    * Spark's shuffle files land in this image): (write sec, read sec).
    * Write+force tracks disk write-back pressure; the immediate read-back
    * is page-cache-resident by construction, so it tracks memory
    * bandwidth, not disk. Deterministic content; (-1,-1) on any failure.
    */
  private def ioProbe(): (Double, Double) = {
    try {
      val dir = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      val f = java.nio.file.Files.createTempFile(dir, "graft_iocanary", ".bin")
      try {
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        var i = 0
        while (i < (1 << 20)) { buf.put(i, (i * 131).toByte); i += 1 }
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.WRITE)
        val t0 = System.nanoTime()
        var m = 0
        while (m < 64) {
          buf.rewind(); while (buf.hasRemaining) ch.write(buf); m += 1
        }
        ch.force(false)
        ch.close()
        val wSec = (System.nanoTime() - t0) / 1e9
        val rch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.READ)
        val rbuf = java.nio.ByteBuffer.allocate(1 << 20)
        val t1 = System.nanoTime()
        var n = rch.read(rbuf)
        while (n >= 0) { rbuf.clear(); n = rch.read(rbuf) }
        val rSec = (System.nanoTime() - t1) / 1e9
        rch.close()
        (wSec, rSec)
      } finally java.nio.file.Files.deleteIfExists(f)
    } catch { case _: Throwable => (-1.0, -1.0) }
  }

  /** Current cpu0 frequency in MHz (cpufreq sysfs, /proc/cpuinfo
    * fallback); -1.0 where neither is exposed (common in containers).
    */
  private def freqMHz(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(
      "/sys/devices/system/cpu/cpu0/cpufreq/scaling_cur_freq"))
      .trim.toDouble / 1000.0
    catch {
      case _: Throwable =>
        try java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/cpuinfo")).linesIterator
          .collectFirst { case l if l.startsWith("cpu MHz") =>
            l.split(":")(1).trim.toDouble }.getOrElse(-1.0)
        catch { case _: Throwable => -1.0 }
    }

  /** (page-cache MB, MemAvailable MB) from /proc/meminfo; (-1,-1) where
    * unreadable. A shrinking cache across a run means the corpus was
    * being evicted — the one state that would make parquet scans
    * disk-bound on a re-read.
    */
  private def memInfoMb(): (Double, Double) =
    try {
      val m = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/meminfo")).linesIterator
        .map(_.split("\\s+")).collect {
          case Array(k, v, _*) if k == "Cached:" || k == "MemAvailable:" =>
            k -> v.toDouble / 1024.0
        }.toMap
      (m.getOrElse("Cached:", -1.0), m.getOrElse("MemAvailable:", -1.0))
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** Cumulative stop-the-world GC milliseconds across all collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Cumulative JIT compilation milliseconds; -1 where unsupported. */
  private def jitMillis(): Long =
    try java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime
    catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Benchmark honesty: disable cross-query work sharing (d23/d45 MinHash
    // pair memo) so each query's wall time is its FULL standalone pipeline,
    // comparable across rounds regardless of battery order.
    Queries.pairMemoEnabled = false
    // warm the JVM + parquet footers once so per-query numbers measure the
    // queries, not first-touch setup
    Tables.lineitem(spark, sfDir).count()

    // Fixed canary: same plan every sample (group-aggregate over the warmed
    // lineitem parquet — scan + partial agg + one shuffle + final agg), so
    // its wall varies only with box contention, not with battery position.
    import org.apache.spark.sql.functions._
    def canaryOnce(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag")
        .agg(sum("l_quantity"), count(lit(1)))
        .queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    def canarySample(): Double = (1 to canaryRuns).map(_ => canaryOnce()).min
    // (position, wall, load1) — position = battery rows completed when the
    // sample ran, so factors interpolate onto row indices directly.
    val canarySamples = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    // JIT/plan-cache warmup, unrecorded: a cold first sample would sit 3-5x
    // above steady state and read as phantom early contention. min() would
    // ignore it for the floor, but the interpolated factor would over-deflate
    // the first battery rows.
    (1 to 2).foreach(_ => canaryOnce())
    // attribution probes (see scaladoc): sampled at the same positions as
    // the canary, NOT folded into normalization — telemetry for the
    // quiet-box-swing root cause, so each probe is one shot (min-of-N
    // would hide exactly the transients being attributed)
    val probeSamples = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Double, Double, Double, Double, Double, Double)]
    def sampleCanary(pos: Int): Unit = {
      canarySamples += ((pos, canarySample(), load1()))
      val (ioW, ioR) = ioProbe()
      val (cached, avail) = memInfoMb()
      probeSamples += ((pos, ioW, ioR, cpuSpeedProbe(), freqMHz(),
        cached, avail))
    }
    sampleCanary(0)

    // SPARK_GRAFT_BENCH_ONLY=d139,d124 runs just the named prefixes — an
    // iteration aid; the driver's full run leaves it unset. The short
    // totals line still prints but only sums the filtered subset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(prefixes) =>
        val hit = SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
        // a typo'd prefix must fail loudly, not print a plausible 0-second
        // bench (same contract as Verify's unknown-query check)
        require(hit.nonEmpty,
          s"SPARK_GRAFT_BENCH_ONLY matched no queries: ${prefixes.mkString(",")}")
        hit
      case None => SparkEntry.queries
    }
    val battery = selected.toSeq.sortBy(_._1)
    // HYBRID repetition (r8 root-cause): pass 1 runs each row `reps`
    // times BACK-TO-BACK (the classic warm pair — rep 2 runs against
    // still-loaded generated classes and hot JIT profiles, worth a
    // measured ~36% on the median row); pass 2 then re-runs every row
    // ONCE, minutes later. Three instrumented quiet runs showed the
    // residual noise arrives in minute-scale whole-JVM episodes of
    // reduced parallel efficiency — total cpu equal, wall ~2x,
    // job-count-heavy (streaming/check) rows worst, single-thread
    // speed / IO / external-cpu probes all flat, state-store-maintenance
    // A/B refuted. Back-to-back reps both sit INSIDE such an episode, so
    // per-row min can't filter it (d124 read 14.05/14.84 s in one run vs
    // 1.97 s quiet); the pass-2 execution lands far outside the episode,
    // and min-across-all-three keeps the warm number on a quiet row
    // while capping an episode row at its (semi-cold but sane) pass-2
    // wall. Pure pass-major was measured and REJECTED: it filters
    // episodes but loses the warm pair entirely (median row +36%).
    // per row: executions as (wall, cpuModelFactor, ownCpuSec, gcMs,
    // jitMs, execPos) + loadavg per execution, pass-1 pair first
    val measurements = Array.fill(battery.size)(scala.collection.mutable
      .ArrayBuffer.empty[(Double, Double, Double, Long, Long, Int)])
    val rowLoads = Array.fill(battery.size)(
      scala.collection.mutable.ArrayBuffer.empty[Double])
    var execPos = 0
    val totalExecs = (reps + 1) * battery.size
    for (pass <- 1 to 2; ((name, fn), idx) <- battery.zipWithIndex;
         _ <- 1 to (if (pass == 1) reps else 1)) {
      spark.catalog.clearCache()
      rowLoads(idx) += load1()
      val ticks0 = cpuTicks()
      val gc0 = gcMillis(); val jit0 = jitMillis()
      val t0 = System.nanoTime()
      // Consume the FULL plan distributed-side: `toRdd.foreach` materializes
      // every output row (count() would let Catalyst prune projections and
      // under-measure map-heavy queries — NOTES.md "performance lessons").
      try {
        fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        val wall = (System.nanoTime() - t0) / 1e9
        val ticks1 = cpuTicks()
        val ownCpuSec =
          if (ticks0._2 >= 0 && ticks1._2 >= 0)
            (ticks1._2 - ticks0._2) / 100.0
          else -1.0
        measurements(idx) += ((wall, cpuFactor(ticks0, ticks1, wall, cpus),
          ownCpuSec, gcMillis() - gc0, jitMillis() - jit0, execPos))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed (pass $pass): " +
            e.getMessage)
          // a failed execution must NOT contribute a bogus-fast wall time
      }
      execPos += 1
      if (execPos % canaryPeriod == 0 && execPos < totalExecs)
        sampleCanary(execPos)
    }
    sampleCanary(totalExecs)
    // (name, executions, loads) in battery order — the shape the artifact
    // emitters below consume; execution arrays are in run order (warm
    // pair first, the pass-2 episode-filter execution last), so a reader
    // can still attribute cold/warm/filtered per row
    val repTimes = battery.zipWithIndex.map { case ((name, _), idx) =>
      (name, measurements(idx).toSeq, rowLoads(idx).toSeq)
    }

    // Canary floor + per-position contention factor (piecewise-linear
    // between samples, clamped >= 1: a sample can't be faster than quiet).
    val canaryFloor = canarySamples.map(_._2).min
    val canarySeries = canarySamples.toSeq.map { case (p, w, _) => (p, w) }
    def factorAt(rowIdx: Int): Double =
      canaryFactorAt(canarySeries, canaryFloor, rowIdx)

    // all reps failed -> -1.0 sentinel: unmistakably broken in the
    // baseline, never a silently-improved total
    val results = repTimes.map { case (name, times, _) =>
      name -> (if (times.nonEmpty) times.map(_._1).min else -1.0)
    }
    // applied factor = min(canary, cpu model), floored at 1 — see scaladoc;
    // the canary factor is read at each execution's own battery position
    // (pass-major: the same row's passes sit at different positions)
    val appliedFactors = scala.collection.mutable.ArrayBuffer.empty[Double]
    val normalized = repTimes.map { case (name, times, _) =>
      name -> (if (times.nonEmpty) {
        times.map { case (wall, cpuF, _, _, _, pos) =>
          val f = math.max(1.0, math.min(factorAt(pos), cpuF))
          appliedFactors += f
          wall / f
        }.min
      } else -1.0)
    }
    val contentionIndex =
      if (appliedFactors.nonEmpty) appliedFactors.sum / appliedFactors.size else 1.0
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every rep's raw wall per row, so the artifact itself distinguishes
    // box drift (one slow rep, one quiet rep) from a real regression (all
    // reps slow) — a single-number row can't tell the two apart
    val repsJson = repTimes.map { case (k, ts, _) =>
      "\"" + k + "\":[" + ts.map(t => fmt(t._1)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val repLoadsJson = repTimes.map { case (k, _, ls) =>
      "\"" + k + "\":[" + ls.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-rep modeled external-cpu slowdown (1.0 = no external pressure):
    // the load trace a reader needs to audit the normalization itself
    val repCpuJson = repTimes.map { case (k, ts, _) =>
      "\"" + k + "\":[" + ts.map(t => fmt(t._2)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // attribution arrays (scaladoc "Non-CPU attribution"): own-process cpu
    // seconds, GC ms, JIT ms per rep — wall-vs-cpu classifies a slow rep
    // as compute-shaped or wait-shaped without re-running anything
    val repOwnCpuJson = repTimes.map { case (k, ts, _) =>
      "\"" + k + "\":[" + ts.map(t => fmt(t._3)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val repGcJson = repTimes.map { case (k, ts, _) =>
      "\"" + k + "\":[" + ts.map(_._4.toString).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val repJitJson = repTimes.map { case (k, ts, _) =>
      "\"" + k + "\":[" + ts.map(_._5.toString).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val canaryJson = {
      val samples = canarySamples.map { case (p, w, l) =>
        s"""{"pos":$p,"sec":${fmt(w)},"load1":${fmt(l)}}"""
      }.mkString("[", ",", "]")
      s"""{"floor_sec":${fmt(canaryFloor)},"period":$canaryPeriod,"samples":$samples}"""
    }
    val probesJson = probeSamples.map {
      case (p, ioW, ioR, cpu1, mhz, cached, avail) =>
        s"""{"pos":$p,"io_w_sec":${fmt(ioW)},"io_r_sec":${fmt(ioR)},""" +
          s""""cpu1_sec":${fmt(cpu1)},"freq_mhz":${fmt(mhz)},""" +
          s""""cached_mb":${fmt(cached)},"avail_mb":${fmt(avail)}}"""
    }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val totalNorm = normalized.map(_._2).sum
    // split three regimes so each trend stays legible across rounds:
    // _check_ rows re-run the operator under test PLUS an independent
    // brute-force reference by design (cost tracks verification depth);
    // _stream_ rows pay a full AvailableNow query start/stop (~2 s fixed)
    // per execution (cost tracks streaming-restart overhead, amortized to
    // nothing on a standing production stream); the rest is the batch
    // engine itself.
    val (checkRows, rest) = results.partition(_._1.contains("_check_"))
    val (streamRows, opRows) = rest.partition(_._1.contains("_stream_"))
    val opsTotal = opRows.map(_._2).sum
    val streamTotal = streamRows.map(_._2).sum
    val checksTotal = checkRows.map(_._2).sum
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","value_normalized":${fmt(totalNorm)},"contention_index":${fmt(contentionIndex)},"cpus":$cpus,"reps_per_query":$reps,"operators_sec":$opsTotal,"streaming_sec":$streamTotal,"verification_sec":$checksTotal,"canary":$canaryJson,"probes":$probesJson,"rep_times":$repsJson,"rep_loads":$repLoadsJson,"rep_cpu_factors":$repCpuJson,"rep_own_cpu_sec":$repOwnCpuJson,"rep_gc_ms":$repGcJson,"rep_jit_ms":$repJitJson,"queries":$qs,"sf":"$sfDir"}"""
    println(full)
    // The driver's tail capture clipped the single ~6 KB line from the FRONT
    // in r2 and r3 ("parsed": null in BENCH_r*.json), losing the totals. So:
    // (1) persist the full per-query JSON to a file, and (2) print a SHORT
    // final line — total + the 10 slowest — that survives any tail window.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    // Canonical machine-readable summary (r9 VERDICT "Next round" #1): the
    // stdout JSON has been defeated for nine rounds by sbt log decoration
    // plus tail-window clipping of the ~7 KB full line, so the driver's
    // per-query PERF table and scaling block have never materialized.
    // bench_summary.json carries exactly the contract fields (totals,
    // per_query, sf, cpus, normalized, ci) without the heavyweight
    // telemetry arrays that make bench_out.json large. Written every run,
    // also as bench_summary_c{cpus}.json so runs at different core counts
    // keep one summary each instead of overwriting the shared file.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","value_normalized":${fmt(totalNorm)},"contention_index":${fmt(contentionIndex)},"n":${results.size},"cpus":$cpus,"reps_per_query":$reps,"operators_sec":$opsTotal,"streaming_sec":$streamTotal,"verification_sec":$checksTotal,"queries":$qs,"sf":"$sfDir"}"""
    for (file <- Seq("bench_summary.json", s"bench_summary_c$cpus.json"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(file), summary + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] $file write failed: ${e.getMessage}")
      }
    // Locale.ROOT: a comma-decimal default locale would render 1,234 and
    // break the JSON this line exists to keep parseable
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","value_normalized":${fmt(totalNorm)},"contention_index":${fmt(contentionIndex)},"n":${results.size},"cpus":$cpus,"operators_sec":$opsTotal,"streaming_sec":$streamTotal,"verification_sec":$checksTotal,"slowest":$slowest,"sf":"$sfDir","full":"bench_out.json","summary":"bench_summary.json"}""")
    ModelChecks.clearSharedDerivations() // drain pinned check blocks
    spark.stop()
  }
}
