package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.util.EnumSet

import graft.core._
import graft.streaming.StreamingOps
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** Per-key bag plus an event-time timer per 10 s window: when the watermark
  * passes a window's end, emits (key, windowStart, count, sum) for it.
  */
final class WindowSumFn extends StatefulDoFn[Long, Double, (Long, Long, Long, Double)] {
  private val windowMs = 10000L
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

/** The graft local file system ([[graft.core.GraftLocalFileSystem]],
  * [[graft.core.GraftLocalFs]]) keeps Hadoop's local semantics on both APIs
  * while spawning no process, and streams on it resume from checkpoints.
  * Semantics are pinned by running each case on Hadoop's stock classes and
  * the graft ones side by side.
  */
class LocalFsSpec extends SparkTestBase {
  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def withDir[T](body: JPath => T): T = {
    val d = Files.createTempDirectory("graft-localfs")
    try body(d) finally deleteRecursively(d.toString)
  }

  /** Stock and graft FileSystem instances, built directly: never through
    * the JVM-wide FileSystem cache.
    */
  private def fileSystems(): Seq[(String, FileSystem)] = {
    def init(fs: FileSystem): FileSystem = {
      fs.initialize(URI.create("file:///"), new Configuration()); fs
    }
    Seq("hadoop" -> init(new LocalFileSystem), "graft" -> init(new GraftLocalFileSystem))
  }

  private def fileContexts(): Seq[(String, FileContext)] = {
    val graftConf = new Configuration()
    graftConf.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
    val fcs = Seq("hadoop" -> FileContext.getFileContext(new Configuration()),
      "graft" -> FileContext.getFileContext(graftConf))
    assert(fcs.map(_._2.getDefaultFileSystem.getClass) ==
      Seq(classOf[org.apache.hadoop.fs.local.LocalFs], classOf[GraftLocalFs]))
    fcs
  }

  private def hp(p: JPath): Path = new Path(p.toString)

  /** Full mode bits (sticky included) of every entry under `root`. */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777"))
    }.toMap

  private def fcWrite(fc: FileContext, p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(bytes) finally out.close()
  }

  private def readAll(in: java.io.InputStream): Array[Byte] =
    try in.readAllBytes() finally in.close()


  test("files and directories get Hadoop's modes through both APIs") {
    withDir { d =>
      val sticky = new FsPermission(oct("1777").toShort)
      val perm600 = new FsPermission(oct("600").toShort)
      for ((name, fs) <- fileSystems()) {
        val root = d.resolve(s"fs-$name")
        fs.mkdirs(hp(root.resolve("dir/sub")), FsPermission.getDirDefault.applyUMask(
          FsPermission.getUMask(fs.getConf)))
        fs.create(hp(root.resolve("dir/a"))).close()
        fs.create(hp(root.resolve("b600")), perm600, true, 4096, 1.toShort, 1 << 20, null).close()
        fs.mkdirs(hp(root.resolve("sticky")))
        fs.setPermission(hp(root.resolve("sticky")), sticky)
      }
      for ((name, fc) <- fileContexts()) {
        val root = d.resolve(s"fc-$name")
        fc.mkdir(hp(root.resolve("dir/sub")), FsPermission.getDirDefault, true)
        fc.create(hp(root.resolve("dir/a")), EnumSet.of(CreateFlag.CREATE)).close()
        fc.create(hp(root.resolve("b600")), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm600)).close()
        fc.mkdir(hp(root.resolve("sticky")), FsPermission.getDirDefault, true)
        fc.setPermission(hp(root.resolve("sticky")), sticky)
      }
      for (api <- Seq("fs", "fc")) {
        val stock = modes(d.resolve(s"$api-hadoop"))
        assert(modes(d.resolve(s"$api-graft")) == stock, api)
        // umask 022 defaults, the explicit mode and the sticky bit
        assert(stock("dir") == oct("755") && stock("dir/sub") == oct("755"), s"$api $stock")
        assert(stock("dir/a") == oct("644") && stock("b600") == oct("600"), s"$api $stock")
        assert(stock("sticky") == oct("1777"), s"$api $stock")
        assert(stock.contains("dir/.a.crc"), s"$api keeps the .crc sidecar: $stock")
      }
    }
  }

  test("FileContext rename refuses an existing target unless OVERWRITE") {
    withDir { d =>
      for ((name, fc) <- fileContexts()) {
        val src = hp(d.resolve(s"$name-src")); val dst = hp(d.resolve(s"$name-dst"))
        fcWrite(fc, src, "new".getBytes); fcWrite(fc, dst, "old".getBytes)
        intercept[FileAlreadyExistsException](fc.rename(src, dst))
        assert(new String(readAll(fc.open(dst))) == "old", name)
        fc.rename(src, dst, Options.Rename.OVERWRITE)
        assert(new String(readAll(fc.open(dst))) == "new", name)
        assert(!fc.util.exists(src), name)
      }
    }
  }

  test("a real symlink still reports its target; a plain file is no link") {
    withDir { d =>
      val target = d.resolve("target")
      Files.write(target, "x".getBytes)
      val link = Files.createSymbolicLink(d.resolve("link"), target)
      val viaFs = fileSystems().map { case (n, fs) => n -> fs.getFileLinkStatus(hp(link)) }
      val viaFc = fileContexts().map { case (n, fc) => n -> fc.getFileLinkStatus(hp(link)) }
      for ((name, st) <- viaFs ++ viaFc) {
        assert(st.isSymlink, name)
        assert(st.getSymlink.toUri.getPath == target.toString, s"$name ${st.getSymlink}")
      }
      assert(viaFs.map(_._2.getSymlink).distinct.size == 1)
      assert(viaFc.map(_._2.getSymlink).distinct.size == 1)
      for ((name, fs) <- fileSystems()) {
        val st = fs.getFileLinkStatus(hp(target))
        assert(!st.isSymlink && st.isFile && st.getLen == 1, name)
      }
    }
  }

  test("a flipped byte in a checksummed file still fails the read") {
    withDir { d =>
      val bytes = Array.tabulate[Byte](4000)(i => (i % 251).toByte)
      def corrupt(p: JPath): Unit = {
        val f = new RandomAccessFile(p.toFile, "rw")
        try { f.seek(1234); val b = f.read(); f.seek(1234); f.write(b ^ 0x1) } finally f.close()
      }
      for ((name, fs) <- fileSystems()) {
        val p = d.resolve(s"fs-$name")
        val out = fs.create(hp(p)); try out.write(bytes) finally out.close()
        assert(readAll(fs.open(hp(p))).sameElements(bytes), name)
        corrupt(p)
        intercept[ChecksumException](readAll(fs.open(hp(p))))
      }
      for ((name, fc) <- fileContexts()) {
        val p = d.resolve(s"fc-$name")
        fcWrite(fc, hp(p), bytes)
        // with a buffer size: Hadoop's ChecksumFs inherits FilterFs.open(Path),
        // which reads the raw file past the checker (stock and graft alike)
        assert(readAll(fc.open(hp(p), 4096)).sameElements(bytes), name)
        corrupt(p)
        intercept[ChecksumException](readAll(fc.open(hp(p), 4096)))
      }
    }
  }

  test("a GraftSession resolves file: to the graft classes on both APIs") {
    val conf = spark.sessionState.newHadoopConf()
    withDir { d =>
      assert(new Path(d.toUri).getFileSystem(conf).getClass == classOf[GraftLocalFileSystem])
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
        classOf[GraftLocalFs])
      assert(FileContext.getFileContext(d.toUri, conf).getDefaultFileSystem.getClass ==
        classOf[GraftLocalFs])
    }
  }

  // ------------------------------------------------------------ streams

  private val rowsPerFile = 50

  /** Writes event file i for each of `files` into `src`, with mtimes
    * increasing in i. File i holds five keys over event time
    * [4 s·i, 4 s·i + 2.5 s); file `sentinel` is one far-future event that
    * pushes the watermark past every window.
    */
  private def stage(root: JPath, src: JPath, files: Seq[Int], sentinel: Int): Unit = {
    val s = spark; import s.implicits._
    Files.createDirectories(src)
    val t0 = System.currentTimeMillis()
    for (i <- files) {
      val rows =
        if (i == sentinel) Seq((0L, 0.0, new Timestamp(4000L * 1000 * 1000)))
        else (0 until rowsPerFile).map { j =>
          (((i * 7 + j) % 5).toLong, j.toDouble, new Timestamp(4000L * i + 50L * j))
        }
      val tmp = root.resolve(s"tmp-$i")
      rows.toDF("user_id", "value", "ts").coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = src.resolve(f"events-$i%03d.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + 1000L * i))
      deleteRecursively(tmp.toString)
    }
  }

  private def source(src: JPath): DataFrame = {
    val schema = spark.read.parquet(src.toString).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1L).parquet(src.toString)
  }

  private def statefulSink(src: JPath, ck: JPath, sink: JPath): StreamingQuery = {
    val s = spark; import s.implicits._
    val input = source(src).withWatermark("ts", "2 seconds")
      .select(col("user_id"), col("value"), col("ts")).as[(Long, Double, Timestamp)]
    StreamingOps.statefulParDo(input, new WindowSumFn)
      .toDF("user_id", "window_start", "n_events", "sum_value")
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ck.toString).start(sink.toString)
  }

  private def windowedSink(src: JPath, ck: JPath, sink: JPath): StreamingQuery =
    StreamingOps.windowedCounts(source(src), "ts", "user_id", "10 seconds",
      watermarkDelay = "2 seconds")
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ck.toString).start(sink.toString)

  private def drain(q: StreamingQuery): Int =
    try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
    finally q.stop()

  private def sinkRows(sink: JPath): Seq[Row] = spark.read.parquet(sink.toString).collect().toSeq

  test("stream checkpoints and parquet sinks spawn no process") {
    withDir { d =>
      val src = d.resolve("src")
      stage(d, src, 0 to 6, sentinel = 6)
      // Spark's executor-metrics poller spawns `getconf PAGESIZE` once per
      // JVM, at its first heartbeat; run that one-off probe up front so it
      // cannot land inside the recording
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val batches =
        try Seq(statefulSink(src, d.resolve("ck-s"), d.resolve("out-s")),
          windowedSink(src, d.resolve("ck-w"), d.resolve("out-w"))).map(drain)
        finally rec.stop()
      val dump = d.resolve("spawns.jfr")
      rec.dump(dump)
      rec.close()
      // a collected session's artifact directory is removed with `rm -rf`
      // by a JVM-wide cleaner thread, whenever the collector frees the
      // session: off the streams' path, so not counted
      def artifactCleanup(e: RecordedEvent): Boolean =
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact."))
      val spawns = RecordingFile.readAllEvents(dump).asScala
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !artifactCleanup(e))
        .map(_.getString("command"))
      assert(batches.forall(_ >= 5), s"data batches per query: $batches")
      assert(sinkRows(d.resolve("out-s")).nonEmpty && sinkRows(d.resolve("out-w")).nonEmpty)
      assert(spawns.isEmpty, s"${spawns.size} process spawns, e.g. ${spawns.take(5)}")
    }
  }

  test("statefulParDo restarted from its checkpoint after batch k == uninterrupted run") {
    withDir { d =>
      val (files, k) = (0 to 7, 3)
      val whole = d.resolve("whole")
      stage(whole, whole.resolve("src"), files, sentinel = files.last)
      drain(statefulSink(whole.resolve("src"), whole.resolve("ck"), whole.resolve("out")))

      val cut = d.resolve("cut")
      stage(cut, cut.resolve("src"), files.take(k), sentinel = files.last)
      assert(drain(statefulSink(cut.resolve("src"), cut.resolve("ck"), cut.resolve("out"))) == k)
      stage(cut, cut.resolve("src"), files.drop(k), sentinel = files.last)
      val resumed = statefulSink(cut.resolve("src"), cut.resolve("ck"), cut.resolve("out"))
      val resumedBatches = try {
        resumed.processAllAvailable()
        resumed.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
      } finally resumed.stop()
      // the restart resumes after the committed batches: no file is replayed
      assert(resumedBatches.size == files.size - k && resumedBatches.min >= k, resumedBatches)

      val expected = sinkRows(whole.resolve("out"))
      assert(expected.size == 3 * 5, s"three windows of five keys: $expected")
      assertMultiset(sinkRows(cut.resolve("out")), expected)
    }
  }
}
