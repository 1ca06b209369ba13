package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * The events `ts` column has shipped in two physical representations
  * across data drops: nanosecond parquet timestamps (which Spark's reader
  * surfaces as BIGINT nanos under `spark.sql.legacy.parquet.nanosAsLong`,
  * kept on in [[GraftSession]]) and plain microsecond timestamps (read as
  * TIMESTAMP_NTZ). [[tsMs]] normalizes either to `ts_ms` BIGINT epoch
  * millis (integral floor) — the canonical event-time column, chosen
  * because DuckDB's `epoch_ms(ts)` floors identically for both physical
  * types, so window boundaries hash-match the oracle exactly.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Epoch-millis (BIGINT, integral floor) for a frame's `ts` column,
    * adaptive to the physical type the parquet reader produced. NTZ goes
    * through a session-timezone cast — [[GraftSession]] pins UTC, so the
    * wall-clock value IS the epoch value, matching DuckDB's `epoch_ms`
    * over its (naive) TIMESTAMP exactly; `unix_millis` floor-divides
    * micros, matching `DIV` on the nanos-as-long representation.
    */
  def tsMs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("CAST(ts DIV 1000000 AS BIGINT)") // nanos-as-long drops
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        expr("unix_millis(CAST(ts AS TIMESTAMP))") // naive, session tz UTC
      case _: org.apache.spark.sql.types.TimestampType =>
        expr("unix_millis(ts)")
      case other => throw new IllegalStateException(
        s"unsupported events.ts physical type: $other")
    }

  /** events with `ts_ms` BIGINT epoch-millis (see [[tsMs]]). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.withColumn("ts_ms", tsMs(raw))
  }
}

/** Session factory with the engine's standard config.
  *
  * The local file system is replaced for both Hadoop APIs (FileSystem and
  * FileContext) by [[graft.core.GraftLocalFileSystem]] and
  * [[graft.core.GraftLocalFs]]. Without the native Hadoop library, Hadoop's
  * own local file system forks a shell for every permission set (each file
  * create) and every link-status probe (each FileContext rename), and a
  * streaming micro-batch commits an offset log, a commit log and one state
  * delta per partition, each with checksum sidecars: on a standing stream
  * the forks were most of the commit time. The graft classes do those two
  * calls in-process; checksums, `.crc` sidecars and the rename-based commit
  * protocol are Hadoop's and Spark's own, unchanged.
  *
  * Caveat: Hadoop caches `FileSystem` instances JVM-wide by scheme and user,
  * not by conf, so the first `file:` instance created in the JVM wins. A
  * process that touches `FileSystem.get` for `file:` before its first
  * graft session keeps Hadoop's class for the FileSystem API (FileContext
  * is not cached and always follows the conf).
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.core.GraftKryoRegistrator")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.core.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.core.GraftLocalFs].getName)
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v": measurement hook for A/B-ing a
    // session conf across otherwise-identical runs (e.g. the state-store
    // maintenance-interval experiment in the bench-variance root cause);
    // production callers own their builder and don't need this.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
  }
}
