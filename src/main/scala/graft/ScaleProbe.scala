package graft

/** Output-normalized scale probe: runs the named battery queries against a
  * data dir and reports wall seconds AND output rows per query. For the
  * pair-growth queries (d25/d27/d90 — output grows quadratically in
  * duplicate multiplicity on the MakeScaled corpus, for ANY engine
  * computing the same answer) the honest scale metric is wall time per
  * output row holding flat, not wall time itself.
  *
  * Usage: ScaleProbe <sfDir> <query> [query ...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.documents(spark, sfDir).count() // warm JVM + footers
    val out = args.drop(1).toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // count through an accumulator on the materialized plan: consumes
      // every row like Bench's toRdd.foreach, and yields the output size
      val acc = spark.sparkContext.longAccumulator(s"rows_$name")
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => acc.add(1L))
      val sec = (System.nanoTime() - t0) / 1e9
      s""""$name":{"sec":${math.round(sec * 1000) / 1000.0},"rows":${acc.value}}"""
    }
    println(s"""{"probe":"$sfDir","queries":{${out.mkString(",")}}}""")
    spark.stop()
  }
}
