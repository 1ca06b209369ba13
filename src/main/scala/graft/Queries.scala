package graft

import graft.api.Pipeline
import graft.core._
import graft.functions.{FrequencySketch, TextFunctions}
import graft.operators.{Dedup, Multimodal, ScaleOps, Similarity}
import graft.plans.NativeExpressions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's query battery: one entry per operator family from
  * SURVEY.md §2 plus the training-data-pipeline extensions.
  *
  * Every oracle-checked query follows the determinism conventions:
  *  - money/quantity sums go through DECIMAL (exact) then cast to DOUBLE;
  *  - free-double sums are ROUND()ed to 4-6 digits (both engines compute the
  *    same per-element doubles; only the summation order differs, err ~1e-13);
  *  - counts/ranks are BIGINT on both sides;
  *  - event time is epoch-millis BIGINT ([[Tables.tsMs]] — adaptive to the
  *    parquet physical type; DuckDB `epoch_ms`, both floor);
  *  - every computed column carries the same alias in Spark and SQL.
  */
object Queries {

  private object Combines {
    val sumCount: CombineFn[Double, (Double, Long), (Double, Long)] =
      CombineFns.sumCountDouble
    /** Mirrors the reference's MeanCombineFn test (ray_runner_test.py:857-864). */
    val mean: CombineFn[Double, (Double, Long), Double] =
      new CombineFn[Double, (Double, Long), Double] {
        def createAccumulator(): (Double, Long) = (0.0, 0L)
        def addInput(a: (Double, Long), v: Double): (Double, Long) = (a._1 + v, a._2 + 1)
        def mergeAccumulators(a: (Double, Long), b: (Double, Long)): (Double, Long) =
          (a._1 + b._1, a._2 + b._2)
        def extractOutput(a: (Double, Long)): Double =
          if (a._2 == 0) 0.0 else a._1 / a._2
      }
  }

  // =========================================================================
  // Relational layer (DataFrame/Catalyst; scans, joins, aggregates, windows)
  // =========================================================================

  /** TPC-H Q1-style pricing summary: hash aggregate with partial+final. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // graft_money_sum == SUM(CAST(x AS DECIMAL(18,s))) exactly, evaluated
        // on 128-bit longs instead of byte-array decimals (FixedPointSum)
        expr("CAST(graft_money_sum(l_quantity, 2) AS DOUBLE)").as("sum_qty"),
        expr("CAST(graft_money_sum(l_extendedprice, 2) AS DOUBLE)").as("sum_base_price"),
        expr("CAST(graft_money_sum(l_extendedprice * (1 - l_discount), 4) AS DOUBLE)").as("sum_disc_price"),
        expr("CAST(graft_money_sum(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS DOUBLE)").as("sum_charge"),
        expr("CAST(graft_money_sum(l_quantity, 2) AS DOUBLE) / COUNT(*)").as("avg_qty"),
        expr("CAST(graft_money_sum(l_discount, 2) AS DOUBLE) / COUNT(*)").as("avg_disc"),
        expr("CAST(COUNT(*) AS BIGINT)").as("count_order"))

  /** Predicate + projection pushdown to the parquet scan. */
  def q02FilterPushdown(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(expr("l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_quantity < 25"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("CAST(COUNT(*) AS BIGINT)").as("n"),
        expr("CAST(graft_money_sum(l_extendedprice, 2) AS DOUBLE)").as("sum_price"))

  /** Star join: fact orders ⋈ customer, broadcast dims nation/region. */
  def q03JoinRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        expr("CAST(graft_money_sum(o_totalprice, 2) AS DOUBLE)").as("revenue"),
        expr("CAST(COUNT(*) AS BIGINT)").as("n_orders"))

  /** Left-semi join (EXISTS). */
  def q04SemiJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(expr("o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'"))
      .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"))

  /** Global top-k (TakeOrderedAndProject — no full sort at scale). */
  def q05TopkOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Distinct (shuffle dedup). */
  def q06Distinct(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_mktsegment", "c_nationkey").distinct()

  /** Flatten/union of two aggregate branches. */
  def q07UnionBuckets(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val high = li.filter(col("l_quantity") >= 40)
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n")).select(lit("high").as("bucket"), col("n"))
    val low = li.filter(col("l_quantity") < 10)
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n")).select(lit("low").as("bucket"), col("n"))
    high.union(low)
  }

  /** Left-anti join (NOT EXISTS). */
  def q08AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Window function: top-3 orders per customer. */
  def q09WindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
  }

  /** Grouping sets (engine extension; free from Catalyst — SURVEY.md §2.3). */
  def q10Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"))

  /** Two aggregation branches full-outer-merged onto a dimension. */
  def q11NationProfile(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("cnk"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_cust"),
        expr("CAST(graft_money_sum(c_acctbal, 2) AS DOUBLE)").as("sum_bal"))
    val sup = Tables.supplier(s, d).groupBy(col("s_nationkey").as("snk"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_supp"))
    Tables.nation(s, d)
      .join(c, col("n_nationkey") === col("cnk"), "left")
      .join(sup, col("n_nationkey") === col("snk"), "left")
      .select(col("n_name"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("sum_bal"), lit(0.0)).as("sum_bal"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  // =========================================================================
  // Dataflow layer (Beam-semantics: ParDo/GBK/Combine/side inputs/windows/state)
  // =========================================================================

  /** ParDo flatMap + countPerKey — the reference's canonical word count
    * (examples/word_count_metrics.py:109-137).
    */
  def q12Wordcount(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    // fanOut: the typed flatMap+map ParDo chain is opaque to Catalyst and
    // otherwise runs in the 1-task scan stage of the single-row-group
    // bench file (guide §2.5); no-op at corpus scale
    val texts = ScaleOps.fanOut(
      Tables.documents(s, d).select("text")).as[String]
    p.fromDataset(texts)
      .flatMap(_.split("\\s+").filter(_.nonEmpty))
      .map(w => (w, ()))
      .countPerKey[String, Unit]
      .toDataset.toDF("word", "n")
  }

  /** CombinePerKey with a user CombineFn (partial+final via Aggregator). */
  def q13MeanCombine(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      .as[(String, Double)]
    p.fromDataset(ev)
      .combinePerKey[String, Double, (Double, Long), Double](Combines.mean)
      .toDataset.toDF("event_type", "mean_value")
      .withColumn("mean_value", round(col("mean_value"), 4))
  }

  /** ParDo with an AsDict side input (broadcast map lookup). */
  def q14SideInputDict(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val nations = p.fromDataset(
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name")).as[(Int, String)])
    val dict = nations.asDict[Int, String]
    val custs = p.fromDataset(
      Tables.customer(s, d).select(col("c_nationkey")).as[Int])
    custs.parDo(new DoFn[Int, (String, Unit)] {
      def process(nk: Int, ctx: ProcessContext[(String, Unit)]): Unit =
        ctx.output((ctx.sideInput(dict).getOrElse(nk, "UNKNOWN"), ()))
    })
      .countPerKey[String, Unit]
      .toDataset.toDF("n_name", "n_cust")
  }

  /** Multi-output (tagged) ParDo: purchases to main, errors to a tag. */
  def q15TaggedOutputs(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val errTag = Tag[Double]("errors")
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      .as[(String, Double)]
    val (purchases, tagged) = p.fromDataset(ev).parDoTagged(
      new DoFn[(String, Double), Double] {
        def process(e: (String, Double), ctx: ProcessContext[Double]): Unit = e match {
          case ("purchase", v) => ctx.output(v)
          case ("error", v) => ctx.outputTagged(errTag, v)
          case _ => ()
        }
      }, Seq(errTag))
    def summarize(pc: graft.api.PCollection[Double], label: String): DataFrame =
      pc.map(v => (label, v))
        .combinePerKey[String, Double, (Double, Long), (Double, Long)](Combines.sumCount)
        .map { case (l, (sum, n)) => (l, n, sum) }
        .toDataset.toDF("label", "n", "sum_value")
        .withColumn("sum_value", round(col("sum_value"), 4))
    summarize(purchases, "purchase")
      .union(summarize(tagged("errors").asInstanceOf[graft.api.PCollection[Double]], "error"))
  }

  /** CoGroupByKey (tag + flatten + GBK composite, translator.py:446). */
  def q16Cogroup(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val custs = p.fromDataset(
      Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")).as[(Long, Double)])
    val ords = p.fromDataset(
      Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)])
    custs.coGroupByKey[Long, Double, Double](ords)
      .flatMap { case (k, (bals, prices)) =>
        bals.headOption.map(bal => (k, prices.size.toLong, bal))
      }
      .toDataset.toDF("c_custkey", "n_orders", "acctbal")
  }

  /** Fixed event-time windows through windowInto + windowed GBK. */
  def q17FixedWindows(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val ev = Tables.events(s, d).select(col("ts_ms"), col("event_type"), col("value"))
      .as[(Long, String, Double)]
    p.fromDataset(ev)
      .withTimestamps(_._1)
      .map(e => (e._2, e._3))
      .windowInto(FixedWindows(3600000L))
      .groupByKey[String, Double]
      .mapWindowed { wv =>
        val (k, vs) = wv.value
        val start = wv.windows.head.asInstanceOf[IntervalWindow].start
        (k, start, vs.size.toLong, vs.sum)
      }
      .toDataset.toDF("event_type", "window_start", "n", "sum_value")
      .withColumn("sum_value", round(col("sum_value"), 4))
  }

  /** Session windows (merging WindowFn) per user. */
  def q18SessionWindows(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val ev = Tables.events(s, d).select(col("ts_ms"), col("user_id"), col("value"))
      .as[(Long, Long, Double)]
    p.fromDataset(ev)
      .withTimestamps(_._1)
      .map(e => (e._2, e._3))
      .windowInto(Sessions(1800000L))
      .groupByKey[Long, Double]
      .mapWindowed { wv =>
        val (k, vs) = wv.value
        val start = wv.windows.head.asInstanceOf[IntervalWindow].start
        (k, start, vs.size.toLong, vs.sum)
      }
      .toDataset.toDF("user_id", "session_start", "n_events", "sum_value")
      .withColumn("sum_value", round(col("sum_value"), 4))
  }

  /** Sliding windows (multi-window assignment, translator.py:64-66). */
  def q19SlidingWindows(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val ev = Tables.events(s, d).select(col("ts_ms"), col("event_type"))
      .as[(Long, String)]
    p.fromDataset(ev)
      .withTimestamps(_._1)
      .map(e => (e._2, ()))
      .windowInto(SlidingWindows(7200000L, 3600000L))
      .groupByKey[String, Unit]
      .mapWindowed { wv =>
        val (k, vs) = wv.value
        val start = wv.windows.head.asInstanceOf[IntervalWindow].start
        (k, start, vs.size.toLong)
      }
      .toDataset.toDF("event_type", "window_start", "n")
  }

  /** Stateful ParDo: bag-free running aggregate with combining state, a
    * value-state max, and an end-of-window event-time timer that emits the
    * per-key summary (state + timer surface of SURVEY.md §2.6).
    */
  def q20StatefulPardo(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val countSpec = CombiningStateSpec[Double, (Double, Long), (Double, Long)]("sumCount", Combines.sumCount)
    val lastSpec = ValueStateSpec[Long]("lastTs")
    val flushTimer = TimerSpec("flush")
    val ev = Tables.events(s, d).select(col("ts_ms"), col("user_id"), col("value"))
      .as[(Long, Long, Double)]
    p.fromDataset(ev)
      .withTimestamps(_._1)
      .map(e => (e._2, e._3))
      .statefulParDo[Long, Double, (Long, Long, Double, Long)](
        new StatefulDoFn[Long, Double, (Long, Long, Double, Long)] {
          def process(key: Long, v: Double, ctx: StatefulContext[(Long, Long, Double, Long)]): Unit = {
            ctx.combining(countSpec).add(v)
            val last = ctx.value(lastSpec)
            if (last.read().forall(_ < ctx.timestamp)) last.write(ctx.timestamp)
            ctx.timer(flushTimer).set(ctx.window.maxTimestamp)
          }
          override def onTimer(key: Long, spec: TimerSpec, tag: String, fireTs: Long,
              ctx: StatefulContext[(Long, Long, Double, Long)]): Unit = {
            val (sum, n) = ctx.combining(countSpec).read()
            ctx.output((key, n, sum, ctx.value(lastSpec).read().getOrElse(0L)))
          }
        })
      .toDataset.toDF("user_id", "n_events", "sum_value", "last_ms")
      .withColumn("sum_value", round(col("sum_value"), 4))
  }

  // =========================================================================
  // Extensions: dedup / similarity / text analysis / multimodal
  // =========================================================================

  /** Exact dedup census: groups by key, representative = min id. */
  def d21DedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).groupBy(col("lang"), col("n_chars"))
      .agg(expr("CAST(MIN(doc_id) AS BIGINT)").as("rep_id"),
        expr("CAST(COUNT(*) AS BIGINT)").as("n_dups"))

  /** Exact dedup survivors (window row_number policy) counted per lang. */
  def d22DedupSurvivors(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), Seq("lang", "n_chars"), "doc_id")
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_survivors"))

  /** Retained only because the `perfbench/` harness assigns it; it has no
    * effect. The d23/d45 pair memo it used to switch is gone: a battery
    * row's own work is never shared (see [[RunScope]]), so d45 computes
    * its own MinHash pairs.
    */
  @volatile var pairMemoEnabled: Boolean = true

  /** MinHash-LSH near-dup candidate pairs (no SQL oracle: xxhash-based). */
  def d23MinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minHashLshPairs(Tables.documents(s, d), "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.5)

  /** SimHash near-dup pairs via Hamming block probing (no SQL oracle). */
  def d24SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simHashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)

  /** Exact token-set Jaccard over blocked candidate pairs. */
  def d25NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // fanOut: tokenization otherwise runs inside the 1-task scan stage of
    // the single-row-group bench file (guide §2.5); no-op at corpus scale
    val t = ScaleOps.fanOut(docs.select(col("doc_id"), col("lang"),
        col("n_chars"), col("text")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(TextFunctions.tokens(lower(col("text")))).as("toks"))
    t.as("a").join(t.as("b"),
        col("a.lang") === col("b.lang") && col("a.n_chars") === col("b.n_chars") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        round(size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
          size(array_union(col("a.toks"), col("b.toks"))), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.1)
  }

  /** Brute-force cosine top-k (exact ANN baseline + oracle). */
  def d26EmbedTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      "q_id", "q_vec", k = 10)
  }

  /** Embedding near-dup pairs via hyperplane-LSH blocking (no SQL oracle:
    * approximate by construction).
    */
  def d27EmbedNeardup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
      lshBits = 6, threshold = 0.3)

  /** LSH-bucketed ANN (approximate scale path; no SQL oracle). */
  def d28LshTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      "q_id", "q_vec", k = 5, bits = 6, probes = 2)
  }

  /** Token statistics per language. */
  def d29TextStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), TextFunctions.tokenCount(col("text")).as("nt"))
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(SUM(nt) AS BIGINT)").as("total_tokens"),
        expr("CAST(CAST(SUM(nt) AS BIGINT) AS DOUBLE) / COUNT(*)").as("avg_tokens"))

  /** Heuristic language-ID vs labeled lang. */
  def d30LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"))

  /** Quality-score aggregates per language. */
  def d31Quality(s: SparkSession, d: String): DataFrame =
    // fanOut: the three per-doc text metrics ran inside the 1-task scan
    // stage (guide §2.5 unsplittable input); no-op at corpus scale
    ScaleOps.fanOut(Tables.documents(s, d).select(col("lang"), col("text")))
      .select(col("lang"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.punctRatio(col("text")).as("pr"),
        TextFunctions.stopwordRatio(col("text")).as("sr"))
      .groupBy(col("lang"))
      .agg(round(sum(col("q")) / count(lit(1)), 4).as("avg_quality"),
        round(sum(col("pr")) / count(lit(1)), 4).as("avg_punct"),
        round(sum(col("sr")) / count(lit(1)), 4).as("avg_stopword"))

  /** Rolling-hash fingerprint census. Oracle-checked via injectivity: the
    * fingerprint folds the lowercased token sequence through xxhash64, so
    * distinct fingerprints per language == distinct token sequences (which
    * DuckDB computes exactly); collision odds ~n²/2^65 make a mismatch a
    * broken hash, not bad luck.
    */
  def d32Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), TextFunctions.fingerprint(col("text")).as("fp"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("fp")).as("n_distinct_fp"))

  /** Multimodal plumbing: synthetic media + stubbed batch feature extraction
    * (no SQL oracle: payloads are xxhash-derived).
    */
  /** Distributed image resize (box-filter halving) with the exact
    * floor-sum audit carried as columns: sum_out·4 ≤ sum_in_cropped <
    * (sum_out + 3·w_out·h_out)·4 per image, all BIGINT. No SQL oracle —
    * payloads are splitmix64-derived binaries DuckDB cannot decode (the
    * d33/d34 convention) — so the law rides the row as `law_ok` and the
    * spec re-verifies it on decoded bytes plus byte-determinism.
    */
  def d240ImageResize(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.syntheticMedia(s, Tables.embeddings(s, d),
      "vec_id")
    Multimodal.resizeImages(s, media, factor = 2)
      .select(col("media_id"),
        expr("CAST(w_in AS BIGINT)").as("w_in"),
        expr("CAST(h_in AS BIGINT)").as("h_in"),
        expr("CAST(w_out AS BIGINT)").as("w_out"),
        expr("CAST(h_out AS BIGINT)").as("h_out"),
        col("sum_in_cropped"), col("sum_out"),
        (col("sum_out") * 4L <= col("sum_in_cropped") &&
          col("sum_in_cropped") <
            (col("sum_out") + lit(3L) * col("w_out") * col("h_out")) * 4L)
          .as("law_ok"))
  }

  def d33MultimodalFeatures(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.syntheticMedia(s, Tables.embeddings(s, d), "vec_id")
    Multimodal.extractFeatures(s, media)
      .groupBy(col("media_type"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"),
        round(sum(element_at(col("features"), 1)), 4).as("sum_f0"))
  }

  /** Video frame sampling with REAL container decode: every 4th frame is
    * extracted from the AVI payload (no SQL oracle: payloads are
    * splitmix64-derived). The metadata index PLAN and the decoded
    * EXTRACTION both run; n_planned == n_sampled in the single output row
    * reconciles them (a divergence = undecodable payloads silently
    * dropped).
    */
  def d34FrameSampling(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.syntheticMedia(s, Tables.embeddings(s, d), "vec_id")
    val extracted = Multimodal.sampleFrames(s, media, 4)
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_sampled"),
        expr("CAST(SUM(frame_idx) AS BIGINT)").as("sum_idx"),
        expr("CAST(SUM(LENGTH(frame_bytes)) AS BIGINT)").as("sum_frame_bytes"))
    val planned = Multimodal.sampleFrameIndices(media, 4)
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_planned"))
    extracted.crossJoin(planned)
  }

  /** As-of join (temporal join the reference/Spark lack natively): each
    * purchase matched to the user's most recent signup at-or-before it.
    */
  def d35AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms").as("purchase_ms"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts_ms").as("ms"))
      .agg(round(min(col("value")), 4).as("signup_value"))
    operators.TemporalJoins.asOfJoin(s, purchases, signups,
      "user_id", "purchase_ms", "ms", Seq("ms", "signup_value"))
  }

  /** Range join via bucket banding: clicks with an error within ±60s for the
    * same user.
    */
  def d36RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("l_id"), col("ts_ms").as("l_ms"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("r_id"), col("ts_ms").as("r_ms"))
    operators.TemporalJoins.rangeJoin(clicks, errors, "user_id", "l_ms", "r_ms", 60000L)
      .select("l_id", "r_id")
  }

  /** Distinct aggregation (exact). */
  def d37DistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").as("n_users"))

  /** HLL approximate distinct (engine extension; rows-only — sketch
    * implementations differ across engines by design).
    */
  def d38ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition).
    */
  def d40Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))

  /** Scalar string-function coverage (Spark builtins are the engine's
    * scalar library — SURVEY.md §2.8: the reference has none of its own).
    */
  def d41StringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).groupBy(col("lang"))
      .agg(
        min(upper(substring(col("text"), 1, 8))).as("first_prefix"),
        max(length(col("text"))).cast("long").as("max_len"),
        expr("CAST(SUM(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_spark"))

  /** Scalar date-function coverage over order dates. */
  def d42DateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(expr("CAST(year(o_orderdate) AS BIGINT)").as("y"),
        expr("CAST(month(o_orderdate) AS BIGINT)").as("m"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"),
        expr("CAST(MIN(day(o_orderdate)) AS BIGINT)").as("first_day"))

  /** True IVF ANN (k-means cells + multi-cell probe; no SQL oracle:
    * approximate by construction).
    */
  def d44IvfTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(s, emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      "q_id", "q_vec", k = 5, nlist = 16, nprobe = 4)
  }

  /** Transitive near-dup cluster census: connected components over the
    * MinHash pair graph (no SQL oracle: xxhash-based candidates).
    */
  def d45DedupClusters(s: SparkSession, d: String): DataFrame = {
    Dedup.connectedComponents(d23MinhashPairs(s, d))
      .groupBy(col("cluster_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_members"))
  }

  /** Correlated scalar subquery through the SQL surface (Catalyst decorrelates
    * to a join): customers above their nation's average balance. The average
    * is derived from exact decimal sums so the comparison is engine-stable.
    */
  def d46CorrelatedSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(
      """SELECT c_custkey, c_nationkey FROM customer c
        |WHERE c_acctbal > (
        |  SELECT CAST(graft_money_sum(c_acctbal, 2) AS DOUBLE) / COUNT(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
  }

  /** Running window frames: per-customer cumulative order count and
    * decimal-exact cumulative spend in date order.
    */
  def d47RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_n", count(lit(1)).over(w).cast("long"))
      .withColumn("running_spend",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "running_n", "running_spend")
  }

  /** JSON extraction over the events.props payload column. */
  def d48JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(expr("CAST(SUM(k) AS BIGINT)").as("sum_k"),
        expr("CAST(MAX(k) AS BIGINT)").as("max_k"),
        expr("CAST(COUNT(k) AS BIGINT)").as("n_with_k"))

  /** Engine INTERSECT (PCollection.intersect, SURVEY.md §2.4): customers that
    * placed at least one order — key-set intersection through the set-op
    * combine (single shuffle, two-long accumulator).
    */
  def d49Intersect(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val custs = p.fromDataset(Tables.customer(s, d).select(col("c_custkey").cast("long")).as[Long])
    val ords = p.fromDataset(Tables.orders(s, d).select(col("o_custkey").cast("long")).as[Long])
    custs.intersect(ords).toDataset.toDF("k")
  }

  /** Engine EXCEPT (PCollection.except): customers that never ordered
    * (TPC-H populates ~1/3 of customers with no orders).
    */
  def d50Except(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val custs = p.fromDataset(Tables.customer(s, d).select(col("c_custkey").cast("long")).as[Long])
    val ords = p.fromDataset(Tables.orders(s, d).select(col("o_custkey").cast("long")).as[Long])
    custs.except(ords).toDataset.toDF("k")
  }

  /** Exact ANN with per-partition bounded-heap pruning (the 1000-executor
    * exact path: shuffle carries ≤ k·partitions·|Q| rows, not |corpus|·|Q|).
    * Scores are bit-identical to the brute-force cosine, so the DuckDB
    * oracle applies.
    */
  def d51PartialTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    Similarity.partialTopK(s, emb, "vec_id", "embedding", queries, k = 10)
  }

  /** GroupIntoBatches census: inference-batching primitive under the oracle
    * (batch count per key is ceil(n/batchSize); batch sizes are bounded).
    */
  def d52GroupBatches(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    p.fromDataset(Tables.events(s, d).select(col("event_type")).as[String])
      .map(e => (e, 1L))
      .groupIntoBatches[String, Long](100)
      .map { case (k, batch) => (k, batch.size.toLong) }
      .toDataset.toDF("event_type", "batch_n")
      .groupBy(col("event_type"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_batches"),
        expr("CAST(SUM(batch_n) AS BIGINT)").as("n_events"),
        expr("CAST(MAX(batch_n) AS BIGINT)").as("max_batch"))
  }

  /** Int8-quantized two-stage ANN (no SQL oracle: screening is approximate
    * by construction; surviving scores are exact — see the recall spec).
    */
  def d54QuantizedTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    Similarity.quantizedTopK(s, emb, "vec_id", "embedding", queries, k = 10)
  }

  /** Deterministic stratified sampling (the training-mix rebalancing
    * primitive): per-language keep fractions gated on xxhash64(doc_id) —
    * no SQL oracle (DuckDB has no xxhash64), but fully deterministic:
    * re-runs select identical rows (ScaleOpsSpec asserts determinism +
    * fraction tolerance).
    */
  def d55StratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.deterministicStratifiedSample(
        Tables.documents(s, d), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1), defaultFraction = 0.05)
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_sampled"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("first_id"))

  /** Approximate percentiles (GK sketch — the bounded-memory path when
    * exact `percentile` would buffer per-group values at corpus scale).
    * No SQL oracle (approximate by construction); the spec bounds its
    * error against the exact d40 answer.
    */
  def d56ApproxPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(
        round(expr("approx_percentile(value, 0.5, 1000)"), 4).as("p50"),
        round(expr("approx_percentile(value, 0.95, 1000)"), 4).as("p95"),
        round(expr("approx_percentile(value, 0.99, 1000)"), 4).as("p99"))

  /** Skew-safe salted aggregation under the oracle: two-phase (key, salt)
    * partial + merge must equal the plain single-shuffle aggregate.
    */
  def d53SaltedAgg(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.saltedAggregate(
      Tables.events(s, d), Seq("event_type"), saltBuckets = 32,
      partials = Seq(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("s")),
      merges = Seq(expr("CAST(SUM(n) AS BIGINT)").as("n_events"),
        expr("CAST(SUM(s) AS DOUBLE)").as("sum_value")))

  /** CUBE grouping sets (all subtotal combinations — Catalyst-free). */
  def d43Cube(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .cube(col("c_mktsegment"), col("c_nationkey"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"),
        expr("CAST(graft_money_sum(c_acctbal, 2) AS DOUBLE)").as("sum_bal"))

  /** Custom whole-operator plan: per-key top-k via partial/final
    * TopKPerKeyExec (graft.plans) — the scale-safe form of q09's
    * window-rank pattern.
    */
  def d39TopkPerKey(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerKey(
      Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)

  /** Benchmark decontamination: training docs sharing >= 3 verbatim
    * 8-grams with the eval slice (sources src0/src1). Eval grams broadcast;
    * corpus side map-only + one combinable count shuffle.
    */
  def d57Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isEval = col("source").isin("src0", "src1")
    graft.operators.Decontaminate.overlap(
        docs.filter(!isEval), docs.filter(isEval), "doc_id", "text",
        n = 8, minShared = 3)
      .select(col("doc_id"), expr("CAST(n_shared AS BIGINT)").as("n_shared"))
  }

  /** Incremental ingest dedup: the doc_id%5=4 slice is the "new batch",
    * the rest the standing corpus; bloom prefilter + broadcast exact verify
    * on the normalized (sorted distinct token set) content key. Exact
    * answer — the oracle is the plain anti-join semantics.
    */
  def d58IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("__key", Dedup.normalizedContentKey(col("text")))
    val isNew = col("doc_id") % 5 === 4
    Dedup.dedupAgainstCorpus(
        docs.filter(isNew), docs.filter(!isNew), "doc_id", "__key",
        expectedCorpusItems = 1 << 16)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Sequence packing into ~512-token training shards, contiguous per
    * source stream (ScaleOps.packSequences); output = per-shard manifest.
    */
  def d59PackSequences(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.packSequences(
        Tables.documents(s, d), "source", "doc_id",
        TextFunctions.tokenCount(col("text")).cast("long"), budget = 512)
      .groupBy(col("source"), col("bin_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(SUM(n_tokens) AS BIGINT)").as("sum_tokens"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("first_doc"),
        expr("CAST(MAX(doc_id) AS BIGINT)").as("last_doc"))

  /** Gopher-style rule-based quality gate: survivors must clear token
    * count, mean word length, stopword mass, and repetition (distinct-token
    * ratio) thresholds. The filter comparisons run on the raw doubles (both
    * engines compute identical quotients of identical integers); only the
    * REPORTED metrics are rounded.
    */
  def d60GopherFilter(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    // fanOut: four per-doc token metrics otherwise run in the 1-task scan
    // stage (guide §2.5 unsplittable input); no-op at corpus scale
    ScaleOps.fanOut(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        TextFunctions.tokenCount(t).as("__nt"),
        TextFunctions.meanTokenLength(t).as("__mwl"),
        TextFunctions.stopwordRatio(t).as("__sr"),
        TextFunctions.distinctTokenRatio(t).as("__dr"))
      .filter {
        val g = TextFunctions.GopherThresholds
        col("__nt") >= g.MinTokens &&
          col("__mwl").between(g.MinMeanWordLen, g.MaxMeanWordLen) &&
          col("__sr") >= g.MinStopRatio && col("__dr") >= g.MinDistinctRatio
      }
      .select(col("doc_id"),
        expr("CAST(__nt AS BIGINT)").as("n_tokens"),
        round(col("__mwl"), 6).as("mean_wlen"),
        round(col("__sr"), 6).as("stop_ratio"),
        round(col("__dr"), 6).as("distinct_ratio"))
  }

  /** TF-IDF top-3 terms per document: two-level aggregation (term
    * frequencies, then document frequencies), broadcast idf join, and a
    * per-doc top-k that the WindowRankToTopK rule pre-prunes. Rank compares
    * the ROUNDED score (then term) so the ordering is engine-portable.
    */
  def d61TfIdf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // NOTE (r9): a fanOut of the term explode was measured-REVERTED
    // (1.24 s -> 1.72 s standalone): the tf partial aggregate already
    // shrinks the stream before its shuffle, and the extra exchange cost
    // more than the parallelized tokenize saved at bench scale.
    val terms = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(lower(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), expr("CAST(tf AS BIGINT)").as("tf"),
        expr("CAST(df AS BIGINT)").as("df"), col("tfidf"),
        expr("CAST(rnk AS BIGINT)").as("rnk"))
  }

  /** Per-label embedding centroids via the typed vector-sum Aggregator
    * (one map-side-combinable shuffle of numLabels x dim doubles); the tiny
    * aggregated result is posexploded only for the oracle-comparable
    * (label, dim, avg) shape.
    */
  def d62EmbedCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .groupBy(col("label"))
      .agg(graft.functions.VectorFunctions.vectorAvg(col("v")).as("centroid"),
        expr("CAST(COUNT(*) AS BIGINT)").as("n_vecs"))
      .select(col("label"), col("n_vecs"), posexplode(col("centroid")))
      .select(col("label"), expr("CAST(pos AS BIGINT)").as("dim"),
        round(col("col"), 4).as("avg_v"), col("n_vecs"))

  /** Overlapping token chunking (chunkSize 32, overlap 8): per-chunk
    * manifest rows — the map-only explode that precedes embedding/indexing
    * in a RAG or context-window pipeline.
    */
  def d63ChunkDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextFunctions.tokenChunks(col("text"), chunkSize = 32, overlap = 8)))
      .select(col("doc_id"), expr("CAST(pos AS BIGINT)").as("chunk_id"),
        col("col").as("chunk"),
        TextFunctions.tokenCount(col("col")).cast("long").as("n_chunk_tokens"))

  /** Sequential conversion funnel signup → click(24h) → purchase(24h):
    * each stage is a keyed min-aggregate joined to the previous stage's
    * frontier, with a conversion window so the stages genuinely attrit
    * (join strategy left to AQE — per-user frontiers are orders of
    * magnitude smaller than the event log and broadcast at any realistic
    * user count; above that the join co-partitions on user_id).
    */
  def d64Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts_ms"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("m1"))
    val W = 86400000L // 24h conversion window per stage
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts_ms") >= col("m1") && col("ts_ms") < col("m1") + W)
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("m2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts_ms") >= col("m2") && col("ts_ms") < col("m2") + W)
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("m3"))
    s1.agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_signup"))
      .crossJoin(s2.agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_signup_click")))
      .crossJoin(s3.agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_full_funnel")))
  }

  /** Cohort retention matrix: cohort = first active DAY per user; one
    * distinct pass over (user, day), then a user-keyed join back and a
    * combinable count per (cohort, offset) cell. Daily granularity keeps
    * the matrix discriminating at the oracle scale (weekly collapses the
    * whole corpus into one cohort cell).
    */
  def d65Retention(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day")).distinct()
    val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ud.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("days_since"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_active"))
  }

  /** Price deciles per order priority (NTILE): partitioned window — each
    * priority sorts independently (no global sort), unique (price, key)
    * ordering makes tile assignment engine-portable.
    */
  def d66PriceDeciles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("o_orderpriority"), col("decile").cast("long").as("decile"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"),
        expr("CAST(graft_money_sum(o_totalprice, 2) AS DOUBLE)").as("sum_price"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
  }

  /** Customer re-order cadence (LAG): per-customer consecutive order gaps
    * in whole days, averaged per customer — the sequential-window pattern
    * partitioned by key (parallel across customers, no global sort).
    */
  def d67OrderGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      // o_orderdate is TIMESTAMP_NTZ; the session runs UTC (GraftSession),
      // so the NTZ->TIMESTAMP cast is the same instant DuckDB's epoch_ms
      // assigns the naive timestamp
      .withColumn("ms", expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .filter(col("prev_ms").isNotNull)
      .withColumn("gap_days", expr("(ms - prev_ms) div 86400000"))
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_gaps"),
        round(sum(col("gap_days")).cast("double") / count(lit(1)), 4).as("avg_gap_days"),
        expr("CAST(MAX(gap_days) AS BIGINT)").as("max_gap_days"))
  }

  /** Per-group bivariate statistics: Pearson correlation and sample /
    * population covariance of quantity vs price. Single partial-aggregatable
    * pass (co-moment accumulators combine map-side); the reported values are
    * rounded because the two engines merge co-moments in different orders
    * (err ~1e-12 relative — margins probed at well over 1e-4 of a rounding
    * boundary at sf0.01).
    */
  def d68GroupCorr(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_rows"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 3).as("covar_s"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 3).as("covar_p"))

  /** Gopher repetition signals: duplicate-word fraction and top-bigram mass
    * per document, flagging repetitious docs. The counters come from ONE
    * map-only native pass ([[graft.plans.RepetitionStatsExpr]]) — no explode,
    * no shuffle until nothing is left to shuffle; the oracle rebuilds the
    * same integers via unnest + group. Thresholds probed to be
    * discriminating: at sf0.01 the dup-word gate alone flags 1 doc, the
    * bigram gate alone 74, the OR 75 — dropping either predicate changes
    * the answer.
    */
  def d69Repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        NativeExpressions.repetitionStats(TextFunctions.tokens(col("text"))).as("r"))
      .select(col("doc_id"), col("lang"),
        col("r.n_tokens").cast("double").as("__n"),
        col("r.n_distinct").cast("double").as("__nd"),
        col("r.top_bigram").cast("double").as("__tb"))
      .filter(col("__n") >= 2 &&
        (lit(1.0) - col("__nd") / col("__n") > 0.72 ||
          col("__tb") / (col("__n") - 1.0) > 0.06))
      .select(col("doc_id"), col("lang"),
        col("__n").cast("long").as("n_tokens"),
        round(lit(1.0) - col("__nd") / col("__n"), 6).as("dup_word_frac"),
        round(col("__tb") / (col("__n") - 1.0), 6).as("top_bigram_frac"))

  /** ORC source/sink round-trip: project the needed columns, materialize as
    * ORC (Spark-native writer), read back, aggregate. Proves the second
    * columnar format end-to-end — the aggregate must be bit-identical to the
    * parquet-direct oracle because ORC stores doubles losslessly.
    *
    * Unlike every other battery entry this is deliberately NOT a pure plan
    * builder: constructing the DataFrame runs the write job (a round-trip
    * has to materialize). The path is FIXED per (user, input dir) in
    * overwrite mode — re-runs replace rather than accumulate (the earlier
    * applicationId-suffixed path leaked a table copy per session);
    * single-writer contract as d97/d115: one battery process per (user,
    * input dir) at a time — two CONCURRENT processes would race on the
    * overwrite (if that contract ever changes, add a lock file or restore
    * an appId suffix plus startup-time stale-dir sweeping).
    */
  def d70OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_orc_" + System.getProperty("user.name", "anon") + "_" + pathTag(d))
      .getAbsolutePath
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy(col("l_returnflag"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_rows"),
        expr("CAST(graft_money_sum(l_quantity, 2) AS DOUBLE)").as("sum_qty"),
        expr("CAST(graft_money_sum(l_extendedprice, 2) AS DOUBLE)").as("sum_price"))
  }

  /** WebDataset-style tar shard round-trip
    * ([[graft.sources.TarShardIO]]): documents written as 8 tar shards
    * (entry `<doc_id>.txt` = UTF-8 text bytes, samples key-adjacent
    * within a shard), read back entry-at-a-time, and reduced to the
    * (doc_id, byte-length) manifest the oracle recomputes straight from
    * the table — a lost/truncated/duplicated entry, a key landing in two
    * shards, or any byte-level corruption breaks the hash. Shard
    * ASSIGNMENT is engine-private (hash partitioning) and deliberately
    * not part of the checked surface. Same scratch-path + single-writer
    * contract as d70/d115.
    */
  def d160TarShards(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_tar_" + System.getProperty("user.name", "anon") + "_" + pathTag(d))
      .getAbsolutePath
    graft.sources.TarShardIO.write(
      Tables.documents(s, d).select(col("doc_id"), lit("txt").as("ext"),
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload")),
      path, "doc_id", "ext", "payload", numShards = 8)
    graft.sources.TarShardIO.read(s, path)
      .select(
        expr("CAST(regexp_extract(name, '^(\\\\d+)\\\\.txt$', 1) AS BIGINT)")
          .as("doc_id"),
        expr("CAST(length(payload) AS BIGINT)").as("n_bytes"))
  }

  /** Join-fanout census ([[graft.operators.ScaleOps.joinFanoutCensus]]):
    * the exact lineitem⋈hot-orders output size and its top contributing
    * keys, computed from the two per-key count tables without running the
    * join. The oracle recomputes Σ nL·nR and the same (product DESC, key
    * ASC) top-10 — the capacity-planning numbers that decide broadcast vs
    * salt vs walk-away at 100 TB.
    */
  def d161JoinFanout(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.joinFanoutCensus(
      Tables.lineitem(s, d).select(col("l_orderkey").as("k")),
      Tables.orders(s, d).filter(col("o_totalprice") > 200000)
        .select(col("o_orderkey").as("k")),
      Seq("k"), topK = 10)
      .select(expr("CAST(k AS BIGINT)").as("k"),
        expr("CAST(out_rows AS BIGINT)").as("out_rows"),
        expr("CAST(left_rows AS BIGINT)").as("left_rows"),
        expr("CAST(right_rows AS BIGINT)").as("right_rows"),
        expr("CAST(total_rows AS BIGINT)").as("total_rows"),
        col("share"))

  /** Exact-threshold cross-set decontamination
    * ([[graft.operators.Dedup.prefixFilteredJaccardJoin]]): every
    * (eval doc, training doc) pair with 8-gram-set Jaccard ≥ 1/2 — the
    * threshold refinement of d57's verbatim-gram gate (a paraphrased
    * contamination shares half its shingles without any exact containment
    * signal firing). Eval = the src0/src1 slice (d57's convention);
    * training = the rest; left×left and right×right pairs are never
    * generated. Oracle = independent cross-side gram-join candidates +
    * list_intersect verify (probed: 4 pairs at sf0.01, 56 at sf0.1).
    */
  def d163CrossJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isEval = col("source").isin("src0", "src1")
    graft.operators.Dedup.prefixFilteredJaccardJoin(
      docs.filter(isEval), docs.filter(!isEval), "doc_id", "text",
      shingleSize = 8, tNum = 1, tDen = 2)
  }

  /** Leakage-safe deterministic 80/10/10 split
    * ([[graft.operators.ScaleOps.deterministicSplit]]) keyed on user_id —
    * group-coherent (every event of a user lands in ONE split; COUNT
    * DISTINCT across splits must therefore sum to the global user count,
    * which the census itself exposes). Oracle replicates the exact
    * integer-bucketed md5 CASE — the kept assignment is bit-identical
    * cross-engine, not just ratio-similar.
    */
  def d162LeakageSplit(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.deterministicSplit(
      Tables.events(s, d).select(col("user_id"), col("event_id")),
      "user_id", Seq(("train", 8), ("val", 1), ("test", 1)))
      .groupBy(col("split"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_events"),
        expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").as("n_users"))

  /** Exact ROC-AUC ([[graft.operators.EvalMetrics.aucExact]]) of "does the
    * event value separate purchases from other events" — rank-sum with
    * midrank ties, integer numerator/denominator end-to-end, so the pair
    * hash-matches cross-engine with no float-rank drift. The oracle is the
    * single-window textbook form; the engine computes the identical prefix
    * with a two-level scan that never builds a one-partition global window.
    */
  def d164Auc(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.aucExact(
      Tables.events(s, d).select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("lbl")),
      "score", "lbl")

  /** Per-query NDCG@10 ([[graft.operators.EvalMetrics.ndcgAtK]]) over a
    * three-query BM25 run (d144's formula with a query dimension).
    * Relevance = total query-term occurrences capped at 3 (a graded label
    * deliberately NOT aligned with BM25's idf/length weighting, so the
    * ideal and scored orders disagree and NDCG lands strictly inside
    * (0, 1) — probed 0.80-0.93, not a vacuous 1.0); ranking uses the
    * ROUND(·,4) score (the precision d144 pins cross-engine) with doc_id
    * tie-break, so rank assignment can never flip on summation ulps.
    */
  def d165Ndcg(s: SparkSession, d: String): DataFrame = {
    val qterms = Seq(("q1", "hash", 1), ("q1", "join", 0), ("q2", "scan", 1),
      ("q2", "filter", 0), ("q3", "stream", 1), ("q3", "batch", 0))
    val qdf = s.createDataFrame(qterms).toDF("q", "term", "prim")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
      .localCheckpoint() // stats aggregate + tf subtree both tokenize it
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qdf), "term")
      .groupBy(col("q"), col("doc_id"), col("dl"), col("term"), col("prim"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val ranked = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w", col("idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("q"), col("doc_id"))
      .agg(round(sum(col("w")), 4).as("score"),
        least(sum(when(col("prim") === 1, col("tf")).otherwise(lit(0.0))),
          lit(3.0)).cast("long").as("rel"))
    graft.operators.EvalMetrics.ndcgAtK(ranked, "q", "doc_id", "score", "rel", 10)
  }

  /** Calibration report ([[graft.operators.EvalMetrics.calibrationReport]]):
    * p = value/100 clipped to [0,1] as the confidence proxy, purchase as
    * the positive class, 10 equal-width bins. Bin assignment floors the
    * identical double expression in both engines; per-bin means round
    * AFTER all arithmetic.
    */
  def d166Calibration(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.calibrationReport(
      Tables.events(s, d)
        // filter BEFORE the clip: Spark's greatest/least skip nulls, so an
        // unfiltered null value would silently become p = 0.0 while the
        // oracle's WHERE excludes the row
        .filter(col("value").isNotNull)
        .select(
          least(greatest(col("value") / lit(100.0), lit(0.0)), lit(1.0)).as("p"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("lbl")),
      "p", "lbl", nBins = 10)

  /** Pareto frontier ([[graft.operators.ScaleOps.skyline2D]]) of parts:
    * cheapest price for the size you get (minimize p_retailprice, maximize
    * p_size). Engine = two-phase partition-local sweep, no global sort and
    * no quadratic anti-join; oracle = the independent NOT EXISTS dominance
    * definition over the distinct point set.
    */
  def d167Skyline(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.skyline2D(
      Tables.part(s, d).select(col("p_retailprice").as("price"),
        col("p_size").cast("double").as("psize")),
      "price", "psize")
      .select(col("price"), col("psize"),
        expr("CAST(n_points AS BIGINT)").as("n_points"))

  /** Part co-purchase graph (orders as baskets, edges = part pairs
    * co-ordered ≥ 2 times) — shared input of d168/d169. Per-order pair
    * fan-out is bounded by the order's line count, so edge derivation is
    * linear in lineitem, never quadratic in any global count.
    */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.coOccurrenceEdges(
      Tables.lineitem(s, d).select(col("l_orderkey").as("g"),
        col("l_partkey").as("i")),
      "g", "i", minCount = 2L)

  /** Exact triangle census ([[graft.operators.GraphOps.triangleCount]]) of
    * the co-purchase graph. The engine orients edges by the (degree, node)
    * total order before the wedge join — per-node fan-out O(√m) — while
    * the oracle counts by the independent canonical a<b<c enumeration;
    * agreement pins the orientation algebra, not just the plumbing.
    */
  def d168Triangles(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.triangleCount(coPurchaseEdges(s, d))

  /** Three synchronous PageRank iterations
    * ([[graft.operators.GraphOps.pageRank]]) on the co-purchase graph,
    * d = 0.85 from the uniform start. The oracle unrolls the identical
    * recurrence as three CTE stages; per-edge terms are engine-identical
    * doubles (IEEE division), so ROUND 9 absorbs the summation-order ulps.
    */
  def d169PageRank(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.pageRank(coPurchaseEdges(s, d),
      iterations = 3, damping = 0.85)
      .select(expr("CAST(node AS BIGINT)").as("node"), col("pr"))

  /** Hashing-trick vectorizer ([[graft.operators.Features.hashingVectorize]]):
    * tokens hash into md5-prefix buckets — the vocabulary-free sparse
    * representation a training export ships (no global dictionary build).
    * prefixLen = 1 (16 buckets) on purpose: the synthetic vocabulary is
    * only 31 tokens, so wider spaces would never collide and the
    * bucket-merge arithmetic would go untested — at 16 buckets every
    * bucket folds 1-4 distinct tokens (probed). The battery row reports
    * the per-feature census (document frequency + total tf): any
    * mis-assigned token anywhere changes some feature's totals, so the
    * aggregate pins the full assignment.
    */
  def d171HashedFeatures(s: SparkSession, d: String): DataFrame =
    graft.operators.Features.hashingVectorize(
      Tables.documents(s, d), "doc_id", "text", prefixLen = 1)
      .groupBy(col("feature"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(SUM(tf) AS BIGINT)").as("total_tf"))

  /** Precision/recall curve ([[graft.operators.EvalMetrics.prCurve]]) over
    * the d164 scorer — one row per distinct threshold, cumulative counts
    * DESCENDING through the shared two-level scan (no single-partition
    * window). TP/FP/FN are exact integers; prec/rec/F1 are IEEE ratios of
    * those integers, identical cross-engine before the cosmetic ROUND.
    */
  def d172PrCurve(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.prCurve(
      Tables.events(s, d).select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("lbl")),
      "score", "lbl")

  /** Chi-square feature selection
    * ([[graft.operators.Features.chiSquareByLabel]]): the d171 hashed
    * features scored for association with the document language — the
    * filter step that prunes a hashed space before training. Zero
    * (feature, class) cells densify via the broadcast class census so
    * absent-from-a-class features still pay their expected-count term.
    */
  def d173Chi2(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.operators.Features.chiSquareByLabel(
      graft.operators.Features.hashingVectorize(docs, "doc_id", "text",
        prefixLen = 1), // emits its id column as `id`
      docs.select(col("doc_id").as("id"), col("lang")),
      "id", "feature", "lang")
  }

  /** Global percent_rank with no partition key
    * ([[graft.operators.ScaleOps.percentileRank]]): document length
    * percentile over the WHOLE corpus — rank arithmetic on the distinct-
    * value count table through the two-level scan, joined back by value;
    * below/(n−1) is a ratio of exact integers, so the raw double is
    * engine-portable (ROUND 9 cosmetic). The global complement of d96's
    * per-language window percent_rank.
    */
  def d174GlobalPercentile(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.percentileRank(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "n_chars")
      .select(expr("CAST(doc_id AS BIGINT)").as("doc_id"),
        expr("CAST(n_chars AS BIGINT)").as("n_chars"),
        round(col("pct_rank"), 9).as("pct_rank"))

  /** 3-core of the co-purchase graph ([[graft.operators.GraphOps.kCore]]):
    * iterative peeling with data-dependent termination — the one shape the
    * battery's other iterative row (d169, fixed iterations) doesn't cover.
    * The engine early-exits at the fixpoint; the oracle unrolls 12 peel
    * stages, and peeling is monotone, so they agree whenever the data
    * converges within 12 rounds (probed: 1 / 11 / 3 rounds at
    * sf0.001/0.01/0.1 — margin documented, re-probe on a data drop).
    * sf0.1's 3-core is EMPTY (sparse graph) — correctly empty on both
    * engines, the non-vacuous regimes are the smaller SFs.
    */
  def d175KCore(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.kCore(coPurchaseEdges(s, d), k = 3)
      .select(expr("CAST(node AS BIGINT)").as("node"),
        expr("CAST(core_deg AS BIGINT)").as("core_deg"))

  /** K-anonymity release gate ([[graft.operators.Privacy.kAnonymize]]) over
    * customers: quasi tuple (nation, segment, balance sign), one
    * generalization level (balance sign → '*'), then suppression, k = 5.
    * Each level's census runs only over the still-unresolved remainder —
    * the oracle replicates that cascade with windowed CTEs. All decisions
    * are exact integer counts. Non-vacuity probed: levels 0/1/suppressed
    * hold 5/11/134 rows at sf0.001 and 1379/5/116 at sf0.01; at sf0.1 the
    * middle level is correctly EMPTY on both engines (dense cells leave no
    * small-group remainder big enough to pool).
    */
  def d176KAnonymize(s: SparkSession, d: String): DataFrame = {
    val quasiL0 = Seq(
      "nation" -> col("c_nationkey"),
      "seg" -> col("c_mktsegment"),
      "bal" -> when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos")))
    val quasiL1 = Seq(
      "nation" -> col("c_nationkey"),
      "seg" -> col("c_mktsegment"),
      "bal" -> lit("*"))
    graft.operators.Privacy.kAnonymize(
      Tables.customer(s, d), Seq("c_custkey"), Seq(quasiL0, quasiL1), k = 5)
      .select(expr("CAST(c_custkey AS BIGINT)").as("c_custkey"),
        col("nation"), col("seg"), col("bal"),
        expr("CAST(level AS INT)").as("level"))
  }

  /** Weakly connected components
    * ([[graft.operators.GraphOps.connectedComponents]]) of the co-purchase
    * graph: min-label propagation + pointer jumping to a data-dependent
    * fixpoint (O(log diameter) rounds — the scalable complement of d45's
    * bounded-collect union-find, and the third iteration regime after
    * d169's fixed count and d175's monotone peel). The oracle unrolls 10
    * neighbor-min + jump stages; the engine converges in ≤ 7 rounds at all
    * three SFs (probed — 3 rounds of margin, re-probe on a data drop). Components: 1 giant at
    * sf0.001, 9 at sf0.01, 2350 at sf0.1.
    */
  def d177Components(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.connectedComponents(coPurchaseEdges(s, d))
      .select(expr("CAST(component AS BIGINT)").as("component"),
        expr("CAST(n_nodes AS BIGINT)").as("n_nodes"))

  /** Hive-partitioned layout round-trip
    * ([[graft.operators.ScaleOps.writeHivePartitioned]]): events written
    * partitioned by day (with small-file control — one file per partition
    * dir, not one per task × partition), read back under a 5-day filter
    * that PRUNES at the directory level (PartitionedLayoutSpec pins
    * PartitionFilters and the pruned file count; this row pins the
    * content). The coarse-grained complement of d136's z-order intra-file
    * skipping and d137's bloom point lookups. Same scratch contract as
    * d70: path fixed per (user, input dir), overwrite mode, single-writer.
    */
  def d178PartitionedLayout(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hivepart_" + System.getProperty("user.name", "anon") + "_" +
        pathTag(d)).getAbsolutePath
    val ev = Tables.events(s, d)
    graft.operators.ScaleOps.writeHivePartitioned(
      ev.select(col("event_type"), col("value"),
        date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd").as("day")),
      path, "day")
    // partition-type inference reads day=2024-01-10 dirs back as DATE; the
    // string-literal bounds coerce correctly against DATE (literal→date
    // cast, pruning intact) AND against STRING (ISO dates order
    // lexicographically), and the output casts to STRING either way so the
    // schema matches the oracle's VARCHAR
    s.read.parquet(path)
      .filter(col("day") >= "2024-01-10" && col("day") <= "2024-01-14")
      .groupBy(col("day").cast("string").as("day"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_events"),
        expr("CAST(graft_money_sum(value, 2) AS DOUBLE)").as("sum_value"))
  }

  /** Daily OHLC bars ([[graft.operators.ScaleOps.resampleOhlc]]) per event
    * type: open/close ride lexicographic min/max over (ts, value) structs —
    * ONE hash aggregation, no window shuffle — while the oracle spells the
    * same selection as first/last row_number ordered by (ts, value).
    * Open/high/low/close are untouched input doubles (exact cross-engine);
    * the bucket sum runs through the fixed-point SUM like d71.
    */
  def d179OhlcBars(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.resampleOhlc(
      Tables.events(s, d).select(col("event_type"), col("ts_ms"),
        col("value")),
      Seq("event_type"), "ts_ms", "value", bucketMs = 86400000L)
      .select(col("event_type"),
        expr("CAST(bucket_start AS BIGINT)").as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"),
        expr("CAST(n_ticks AS BIGINT)").as("n_ticks"), col("sum_value"))

  /** BPE tokenizer training ([[graft.operators.Features.bpeTrain]]): 12
    * merges learned from the document corpus — enough depth that merged
    * symbols re-enter later pairs (probed at sf0.01: step 6 merges
    * "m"+"er", step 12 "jo"+"in"), so the row pins merged-symbol reuse,
    * not just first-order character pairs. The engine touches the corpus
    * once (word-frequency shuffle) and iterates on the vocabulary-sized
    * word table, one argmax row to the driver per step; the oracle unrolls
    * the identical greedy recurrence as 12 CTE stages (pair stats →
    * total-order argmax → wrapped-symbol REPLACE). All decisions are exact
    * integer counts under the (count DESC, pair ASC) total order, so the
    * learned merge table is engine-portable.
    */
  def d180BpeMerges(s: SparkSession, d: String): DataFrame =
    graft.operators.Features.bpeTrain(Tables.documents(s, d), "text",
      nMerges = 12)
      .select(expr("CAST(step AS INT)").as("step"), col("pair_left"),
        col("pair_right"), col("merged"),
        expr("CAST(pair_count AS BIGINT)").as("pair_count"))

  /** BPE segmentation ([[graft.operators.Features.bpeSegment]]): the d180
    * merge table applied back to the corpus in learned order — training
    * and application must agree, which the shared oracle CTE chain pins
    * (this row reads the chain's final word state s12, d180 reads its
    * decisions b1..b12). Application is map-only: the 12 merges fold into
    * one nested codegen'd REPLACE expression.
    */
  def d184BpeSegment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = graft.operators.Features.bpeTrain(docs, "text", nMerges = 12)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Features.bpeSegment(docs, "text", merges)
      .select(col("word"), expr("CAST(cnt AS BIGINT)").as("cnt"),
        col("tokens"), expr("CAST(n_tokens AS BIGINT)").as("n_tokens"))
  }

  /** First-order Markov transition matrix over each user's event sequence
    * — the behavior-model census (what follows what, with probabilities).
    * ONE user-partitioned window (parallel across users, never global)
    * derives each event's successor under the (ts, event_id) total order —
    * the tie-break makes simultaneous events deterministic cross-engine.
    * The 5×5 transition census is checkpointed and its row totals
    * broadcast back; p = exact-count ratio, ROUND 6.
    */
  def d185MarkovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_ms"),
        col("event_id"))
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds the totals census AND the report join
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__tot"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"),
        expr("CAST(n AS BIGINT)").as("n_transitions"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6)
          .as("p"))
  }

  /** Lag-1..7 autocorrelation of the daily event-count series per type —
    * the seasonality probe of a time-series profile. The daily census is
    * tiny (types × days) and checkpointed; each lag pairs day d with
    * d+lag via one equi-join, and Pearson r comes from exact integer
    * sums cast to DOUBLE before any arithmetic (products stay < 2^53
    * here; a 100 TB deployment swaps the accumulators to DECIMAL(38,0)).
    * Degenerate (zero-variance) series are filtered on BOTH engines.
    */
  def d186Autocorrelation(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // both join sides + 7 lags read this census
    val x = daily.select(col("event_type"), col("day"),
        col("cnt").as("x"))
      .withColumn("lag", explode(expr("sequence(1, 7)")))
    val y = daily.select(col("event_type"), col("day").as("__yday"),
      col("cnt").as("y"))
    x.join(y, Seq("event_type"))
      .filter(col("__yday") === col("day") + col("lag"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("x")).cast("double").as("__sx"),
        sum(col("y")).cast("double").as("__sy"),
        sum(col("x") * col("y")).cast("double").as("__sxy"),
        sum(col("x") * col("x")).cast("double").as("__sxx"),
        sum(col("y") * col("y")).cast("double").as("__syy"))
      .withColumn("__vx", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__vy", col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .filter(col("__vx") > 0 && col("__vy") > 0)
      .select(col("event_type"), expr("CAST(lag AS INT)").as("lag"),
        expr("CAST(__n AS BIGINT)").as("n_pairs"),
        round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          sqrt(col("__vx") * col("__vy")), 6).as("acf"))
  }

  /** Token-budget mixture export
    * ([[graft.operators.ScaleOps.budgetedMixtureSample]]): at most 10,000
    * chars per language, selected as the deterministic (md5(id), id)-
    * ordered prefix of each stratum — the quota paid in COST units, the
    * budget-exact complement of d159's count-proportional mixture. The
    * exclusive running cost ships in the output, so the oracle pins the
    * whole selection order, not just membership.
    */
  def d190BudgetMixture(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.budgetedMixtureSample(
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars")),
      "lang", "doc_id", "n_chars", budget = 10000L)
      .select(expr("CAST(doc_id AS BIGINT)").as("doc_id"), col("lang"),
        expr("CAST(n_chars AS BIGINT)").as("n_chars"),
        expr("CAST(cum_start AS BIGINT)").as("cum_start"))

  /** SCD Type-2 order-status history
    * ([[graft.operators.ScaleOps.changeHistory]]): each customer's status
    * sequence under the (order-date ms, orderkey) total order collapsed
    * into runs with half-open [valid_from, valid_to) ranges — the
    * versioned-dimension build. Probed non-vacuous: 15,000 orders
    * collapse to 10,508 runs at sf0.01, so run formation (not just
    * pass-through) is what hashes. The whole build rides ONE
    * customer-hash shuffle (both windows + the run aggregation share the
    * partitioning).
    */
  def d191ChangeHistory(s: SparkSession, d: String): DataFrame = {
    val o = orderStatusEvents(s, d)
    graft.operators.ScaleOps.changeHistory(o, Seq("o_custkey"),
        Seq("ms", "o_orderkey"), "o_orderstatus")
      .select(expr("CAST(o_custkey AS BIGINT)").as("o_custkey"),
        col("o_orderstatus"),
        expr("CAST(valid_from AS BIGINT)").as("valid_from"),
        expr("CAST(valid_to AS BIGINT)").as("valid_to"),
        expr("CAST(n_rows AS BIGINT)").as("n_rows"))
  }

  /** Per-region revenue Gini ([[graft.operators.EvalMetrics.giniByGroup]])
    * over customer lifetime revenue in exact cents — the full-distribution
    * concentration metric (d113's top-decile share reads one point of this
    * Lorenz curve). Customers with no orders count as zeros (left join +
    * coalesce — dropping them would understate inequality); numerator and
    * denominator are exact integers, ROUND 9 on the single division.
    */
  def d192Gini(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(expr(
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)")
        .as("cents"))
    val cust = Tables.customer(s, d)
      .join(Tables.nation(s, d),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val x = cust.join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(col("r_name"), col("c_custkey"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    graft.operators.EvalMetrics.giniByGroup(x, "r_name", "cents",
      "c_custkey")
  }

  /** Last-touch campaign attribution
    * ([[graft.operators.TemporalJoins.lastTouchAttribution]]): every
    * purchase attributes to the user's most recent click within 7 days
    * (campaign parsed from the props JSON); unattributed purchases land
    * in campaign −1 — part of the answer, not dropped. Probed
    * discriminating at sf0.01: 1,771 of 1,981 purchases attribute, so
    * both the window bound and the strict-precedence order move rows.
    * Revenue is the standing exact-DECIMAL money sum.
    */
  def d193Attribution(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        col("event_type"), col("value"),
        expr("CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)")
          .as("campaign"))
    graft.operators.TemporalJoins.lastTouchAttribution(e,
        "user_id", "ts_ms", "event_id",
        col("event_type") === "click", col("event_type") === "purchase",
        Seq("campaign"), windowMillis = 7L * 86400000L)
      .groupBy(coalesce(col("touch_campaign"), lit(-1L)).as("campaign"))
      .agg(count(lit(1)).as("n_purchases"),
        expr("CAST(graft_money_sum(value, 2) AS DOUBLE)").as("revenue"))
      .select(expr("CAST(campaign AS BIGINT)").as("campaign"),
        expr("CAST(n_purchases AS BIGINT)").as("n_purchases"),
        col("revenue"))
  }

  /** BFS hop distances ([[graft.operators.GraphOps.bfsDistances]]) from
    * the co-purchase graph's highest-degree part (ties to the smallest
    * id), bounded at 4 hops — the "related items within k clicks" radius
    * query. Probed at sf0.01 (on the DEDUPED (order, part) graph the
    * operator defines): hops 1-4 first-reach 13/58/183/470 nodes, so
    * every level's anti-join moves rows. The oracle walks the same four
    * levels as independent set-algebra stages.
    */
  def d194Bfs(s: SparkSession, d: String): DataFrame = {
    val edges = coPurchaseEdges(s, d).localCheckpoint()
    val seed = edges.select(col("a").as("n"))
      .union(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("n").asc).limit(1)
      .head().getLong(0)
    graft.operators.GraphOps.bfsDistances(edges, Seq(seed), maxHops = 4)
      .select(expr("CAST(node AS BIGINT)").as("node"),
        expr("CAST(hop AS INT)").as("hop"))
  }

  /** Item-item cosine recommender
    * ([[graft.operators.GraphOps.itemSimilarityTopK]]): top-3 similar
    * parts per part from co-purchase counts, sim = c_ab/√(c_a·c_b) —
    * exact integers into two correctly-rounded IEEE ops (sqrt, divide),
    * so the raw doubles hash cross-engine and rank deterministically
    * (partner id breaks ties). The per-item top-3 is the
    * row_number-filter idiom, pre-pruned by the WindowRankToTopK rule
    * before its shuffle.
    */
  def d197ItemSimilarity(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.itemSimilarityTopK(
        Tables.lineitem(s, d).select(col("l_orderkey").as("g"),
          col("l_partkey").as("i")),
        "g", "i", minCount = 2L, k = 3)
      .select(expr("CAST(item AS BIGINT)").as("item"),
        expr("CAST(partner AS BIGINT)").as("partner"),
        expr("CAST(pair_cnt AS BIGINT)").as("pair_cnt"),
        expr("CAST(item_cnt AS BIGINT)").as("item_cnt"),
        expr("CAST(partner_cnt AS BIGINT)").as("partner_cnt"),
        col("sim"), col("rank"))

  /** Common-neighbor link prediction
    * ([[graft.operators.GraphOps.commonNeighborScores]]): the 50
    * strongest PREDICTED co-purchase links (non-adjacent pairs ranked by
    * neighborhood Jaccard, ties broken by the pair ids — a strict total
    * order, so the LIMIT boundary is deterministic). orderBy().limit()
    * plans as TakeOrdered — per-partition top-50 heaps, no global sort
    * shuffle.
    */
  def d198LinkPrediction(s: SparkSession, d: String): DataFrame =
    graft.operators.GraphOps.commonNeighborScores(coPurchaseEdges(s, d))
      .orderBy(col("score").desc, col("u").asc, col("w").asc).limit(50)
      .select(expr("CAST(u AS BIGINT)").as("u"),
        expr("CAST(w AS BIGINT)").as("w"),
        expr("CAST(common AS BIGINT)").as("common"),
        expr("CAST(deg_u AS BIGINT)").as("deg_u"),
        expr("CAST(deg_w AS BIGINT)").as("deg_w"), col("score"))

  /** Periodic snapshot reconstruction from SCD2 intervals — the inverse
    * of d191 and its end-to-end cross-validation: each status run
    * [valid_from, valid_to) expands to the 28-day-period snapshot
    * instants it covers (pure integer ceil/floor arithmetic, no calendar
    * functions), and the per-(period, status) census counts customers.
    * Runs are disjoint per customer, so COUNT(*) IS the customer count —
    * a run-formation bug in changeHistory (overlap, gap, wrong boundary)
    * shifts these counts. The explode is CALENDAR-bounded (runs ×
    * periods-covered ≈ 1.15M rows at sf0.1, linear in data × period
    * grain), never data².
    */
  def d200PeriodicSnapshots(s: SparkSession, d: String): DataFrame = {
    val P = 2419200000L // 28 days in ms
    val o = Tables.orders(s, d).select(col("o_custkey"),
      expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))").as("ms"),
      col("o_orderkey"), col("o_orderstatus"))
      .localCheckpoint() // feeds the run build AND the max-period scalar
    val maxP = o.agg(max(col("ms"))).head().getLong(0) / P
    graft.operators.ScaleOps.changeHistory(o, Seq("o_custkey"),
        Seq("ms", "o_orderkey"), "o_orderstatus")
      .withColumn("__p0", expr(s"(valid_from + ${P - 1}) div $P"))
      .withColumn("__pEnd", when(col("valid_to").isNull, lit(maxP))
        .otherwise(expr(s"(valid_to - 1) div $P")))
      .filter(col("__pEnd") >= col("__p0"))
      .select(col("o_orderstatus"),
        explode(expr("sequence(__p0, __pEnd)")).as("p"))
      .groupBy(col("p"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_customers"))
      .select(expr("CAST(p AS BIGINT)").as("p"), col("o_orderstatus"),
        expr("CAST(n_customers AS BIGINT)").as("n_customers"))
  }

  /** Clamped running balance — the Lindley recursion
    * b_t = max(0, b_{t−1} + δ_t), which looks inherently sequential but
    * has the closed form b_t = S_t − min(0, min_{j≤t} S_j) (reflection
    * identity: S = cumulative sum of deltas), so it runs as TWO STACKED
    * windows on ONE user-hash partitioning — fully declarative, no
    * per-key sequential fold, no UDF. Purchases credit the balance in
    * exact cents, errors debit it, the floor is 0. Probed load-bearing:
    * 2,448 of 3,995 rows at sf0.01 differ from the naive
    * GREATEST(S_t, 0) — the running-min term is what hashes. All
    * arithmetic exact BIGINT.
    */
  def d202ClampedBalance(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    balanceDeltas(s, d)
      .withColumn("__cum", sum(col("delta")).over(w))
      .withColumn("__mn", min(col("__cum")).over(w))
      .select(expr("CAST(user_id AS BIGINT)").as("user_id"),
        expr("CAST(ts_ms AS BIGINT)").as("ts_ms"),
        expr("CAST(event_id AS BIGINT)").as("event_id"),
        expr("CAST(delta AS BIGINT)").as("delta"),
        expr("CAST(__cum - LEAST(0L, __mn) AS BIGINT)").as("balance"))
  }

  /** Rolling OLS trend: per event type, the least-squares slope of the
    * daily-count series over a trailing 14-day RANGE frame — the moving
    * trend feature d74's moving average cannot express (a mean is level,
    * a slope is direction). All five sufficient statistics (n, Σx, Σy,
    * Σxy, Σxx) ride ONE window spec = one type-hash shuffle over the
    * tiny daily census; slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) is a ratio
    * of exact BIGINT expressions (products ≤ ~10^11 here; DECIMAL(38,0)
    * at 100 TB grains), so the single division is correctly rounded and
    * the raw double hashes. Single-day windows (denominator 0) yield
    * NULL on both engines.
    */
  def d201RollingSlope(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-13, 0)
    daily
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(col("day")).over(w))
      .withColumn("__sy", sum(col("cnt")).over(w))
      .withColumn("__sxy", sum(col("day") * col("cnt")).over(w))
      .withColumn("__sxx", sum(col("day") * col("day")).over(w))
      .withColumn("__den", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .select(col("event_type"), expr("CAST(day AS BIGINT)").as("day"),
        expr("CAST(cnt AS BIGINT)").as("cnt"),
        expr("CAST(__n AS BIGINT)").as("n_days"),
        when(col("__den") > 0,
          (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") / col("__den").cast("double")).as("slope"))
  }

  /** Hierarchy flattening by path doubling
    * ([[graft.operators.GraphOps.treeDepths]]): a deterministic customer
    * referral forest — parent(c) = md5-prefix-int(c) mod c for c > 0
    * (always a strictly SMALLER key, so acyclicity is constructive;
    * custkey 0 is the single root) — and the exact depth of every
    * customer. The md5-derived parent is engine-portable (Spark
    * conv(hex,16,10), DuckDB ('0x'||hex)::BIGINT — the same 6-hex-digit
    * prefix the sampling gates use), and the oracle re-derives depth
    * with a WITH RECURSIVE walk: the battery's only recursive-CTE
    * oracle. Random-parent trees have O(log n) depth (probed 15/18/21
    * at the three SFs), so the engine converges in ~5 doubling rounds
    * where a parent-at-a-time walk would take 21 — and at 100 TB a
    * depth-1000 chain would cost 10 rounds, not 1000.
    */
  /** ONE definition of the synthetic referral forest — batch d204
    * (depths) and d227 (BOM products) must walk the identical edges (the
    * shared-derivation rule). parent(c) = md5-prefix-int(c) mod c for
    * c > 0 (always < c, so acyclic by construction); the minimum key is
    * the root.
    */
  private[graft] def referralForest(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey").as("node"),
        when(col("c_custkey") > 0,
          expr("CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 6)" +
            ", 16, 10) AS BIGINT) % c_custkey"))
          .as("parent"))

  def d204TreeDepth(s: SparkSession, d: String): DataFrame = {
    val parents = referralForest(s, d)
    graft.operators.GraphOps.treeDepths(parents)
      .join(parents, Seq("node"))
      .select(expr("CAST(node AS BIGINT)").as("c_custkey"),
        expr("CAST(parent AS BIGINT)").as("parent"),
        expr("CAST(depth AS BIGINT)").as("depth"))
  }

  /** FIFO supply/demand matching as interval algebra — the classic
    * "impossible in SQL without a cursor" allocation, restated as pure
    * prefix sums: per part, odd-suppkey lines are the supply queue and
    * even-suppkey lines the demand queue (both FIFO by (shipdate,
    * orderkey, linenumber) — a total order, (orderkey, linenumber) is
    * the PK); each row owns the half-open centi-unit interval
    * [cum − qty, cum) of its queue, and demand row d consumes from
    * supply row s exactly where their intervals overlap:
    * alloc = min(hi) − max(lo). No per-unit explosion, no recursion:
    * two windowed prefix sums and one equi-join — and the OUTPUT is
    * linear per key (segments interleave, pairs ≤ n_supply + n_demand
    * − 1), so it is corpus-sized, not quadratic. The join itself is
    * BANDED so per-task candidate work is bounded under skew: each
    * interval explodes into the coarse cumulative-quantity bands it
    * spans (width 2^20 centi-units ≈ 410 average rows per queue,
    * explode factor ~1.002×), the equi-join runs on (l_partkey, band),
    * and each overlapping pair is counted exactly once in the band
    * containing its overlap start max(lo) — which both intervals span
    * whenever they overlap, so banding loses nothing. A hot part with
    * n rows per queue thus enumerates ≈ (n/410)·410² candidates spread
    * over n/410 band groups (bounded per task) instead of one task
    * scanning n² — the 30× probe (NOTES round 6) measured the trade:
    * the explode+dedup costs ~19% on a UNIFORM corpus (11.3 s vs 9.5 s
    * unbanded for 14.55 M output rows) and buys a per-band work cap a
    * Zipf-hot part can't blow through; at 100 TB one 1 M-row part is
    * 10^12 comparisons in a single unbanded task. Quantities ride as
    * exact DECIMAL(18,2)×100 BIGINTs (lo ≥ 0, so DIV is floor division
    * on both engines). Unmatched tails (supply past total demand and
    * vice versa) drop via the strict inequalities.
    */
  def d205FifoMatch(s: SparkSession, d: String): DataFrame =
    fifoMatch(Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_shipdate"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("qty_c")),
      bandWidth = 1048576L)

  /** Band-parameterized core of [[d205FifoMatch]]. `bandWidth <= 0` runs
    * the UNBANDED reference join (per-part equi-join + overlap filter) —
    * the straight-line plan the banding must be output-identical to; the
    * FifoBandingProps law pins that identity across widths, so band-width
    * retunes (2^16 → 2^20 in r6) can never change results.
    */
  private[graft] def fifoMatch(li: DataFrame, bandWidth: Long): DataFrame = {
    def queue(parity: Int) = {
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.filter(col("l_suppkey") % 2 === parity)
        // guard the half-open-interval invariant EXPLICITLY (r6 ADVICE): a
        // ZERO quantity is an empty interval [lo, lo) — it can match
        // nothing and adds 0 to every later prefix sum, so dropping it is
        // semantics-preserving; kept, it would make the band sequence()
        // run start > stop, which Spark answers with a DESCENDING range
        // (spurious band memberships) instead of an error. A NEGATIVE
        // quantity (returns/credits) is NOT semantics-preserving to drop
        // — it would shift every later row's lo/hi — so it fails loudly
        // (r7 ADVICE) rather than silently diverging from a
        // cumulative-sum oracle on a future corpus
        .filter(expr(
          """CASE WHEN qty_c < 0 THEN isnull(assert_true(qty_c >= 0,
            |  'fifoMatch: negative qty_c is unsupported (dropping it would shift later prefix sums)'))
            |ELSE qty_c > 0 END""".stripMargin))
        .withColumn("hi", sum(col("qty_c")).over(w))
        .withColumn("lo", col("hi") - col("qty_c"))
    }
    val out = (demandSupply: DataFrame) => demandSupply
      .select(expr("CAST(l_partkey AS BIGINT)").as("l_partkey"),
        expr("CAST(d_orderkey AS BIGINT)").as("d_orderkey"),
        expr("CAST(d_linenumber AS BIGINT)").as("d_linenumber"),
        expr("CAST(s_orderkey AS BIGINT)").as("s_orderkey"),
        expr("CAST(s_linenumber AS BIGINT)").as("s_linenumber"),
        (least(col("d_hi"), col("s_hi")) -
          greatest(col("d_lo"), col("s_lo"))).as("alloc_c"))
    if (bandWidth <= 0) {
      // unbanded reference: correct, but one Zipf-hot part is one
      // quadratic task — never the production path at scale
      val demand = queue(0).select(col("l_partkey"),
        col("l_orderkey").as("d_orderkey"),
        col("l_linenumber").as("d_linenumber"),
        col("lo").as("d_lo"), col("hi").as("d_hi"))
      val supply = queue(1).select(col("l_partkey"),
        col("l_orderkey").as("s_orderkey"),
        col("l_linenumber").as("s_linenumber"),
        col("lo").as("s_lo"), col("hi").as("s_hi"))
      out(demand.join(supply, Seq("l_partkey"))
        .filter(col("s_lo") < col("d_hi") && col("d_lo") < col("s_hi")))
    } else {
      // band width in centi-units (2^20 in production); intervals are
      // half-open [lo, hi) with qty_c > 0 enforced above, so hi-1 >= lo
      // and the band sequence is never empty or descending
      val bandOf = s"DIV ${bandWidth}L"
      val demand = queue(0).select(col("l_partkey"),
        col("l_orderkey").as("d_orderkey"),
        col("l_linenumber").as("d_linenumber"),
        col("lo").as("d_lo"), col("hi").as("d_hi"),
        explode(expr(s"sequence(lo $bandOf, (hi - 1) $bandOf)")).as("band"))
      val supply = queue(1).select(col("l_partkey"),
        col("l_orderkey").as("s_orderkey"),
        col("l_linenumber").as("s_linenumber"),
        col("lo").as("s_lo"), col("hi").as("s_hi"),
        explode(expr(s"sequence(lo $bandOf, (hi - 1) $bandOf)")).as("band"))
      out(demand.join(supply, Seq("l_partkey", "band"))
        .filter(col("s_lo") < col("d_hi") && col("d_lo") < col("s_hi"))
        // exactly-once: count the pair only in the band of its overlap
        // start (both intervals span max(lo) whenever they overlap)
        .filter(col("band") === expr(s"greatest(d_lo, s_lo) $bandOf")))
    }
  }

  /** Largest-remainder apportionment: split exactly 10,000 slots across
    * (nation, mktsegment) cells proportional to order revenue —
    * discrete proportional allocation where the naive ROUND() both
    * over- and under-shoots the total. All-integer: base = (S·rev) div
    * total, then the S − Σbase leftover slots go to the largest
    * remainders (S·rev mod total), ties broken (nation, seg). The
    * remainder rank runs through [[graft.operators.ScaleOps
    * .globalPrefixSum]] on a padded sort key — NO un-partitioned window,
    * so a 10-million-cell allocation ranks through the same two bounded
    * shuffles as 125 cells. S·rev_c needs rev_total ≤ 2^63/S — holds
    * through sf100; beyond that lift the cents sums to DECIMAL(38,0).
    * Σseats == S exactly (spec-pinned).
    */
  def d206Apportionment(s: SparkSession, d: String): DataFrame = {
    val seats = 10000L
    val rev = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(expr("CAST(c_nationkey AS BIGINT)").as("nation"),
        col("c_mktsegment").as("seg"))
      .agg(expr("SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS BIGINT))").as("rev_c"))
    val tot = rev.agg(sum(col("rev_c")).as("__tot"))
    val based = rev.crossJoin(broadcast(tot))
      .withColumn("base_seats", expr(s"($seats * rev_c) div __tot"))
      .withColumn("__rem", expr(s"($seats * rev_c) % __tot"))
    // descending remainder as an ascending fixed-width key: tot − rem,
    // zero-padded past any BIGINT (19 digits), then the tie-break cols
    val ranked = graft.operators.ScaleOps.globalPrefixSum(
      based.withColumn("__ord",
        concat(lpad((col("__tot") - col("__rem")).cast("string"), 20, "0"),
          lpad(col("nation").cast("string"), 4, "0"), col("seg")))
        .withColumn("__one", lit(1L)),
      "__ord", Seq("__one" -> "__before"))
    // leftover derives from the CHECKPOINTED rank frame — reading it off
    // `based` would re-run the corpus-sized join+agg in a separate job
    val leftover = ranked.agg((lit(seats) - sum(col("base_seats")))
      .as("__left"))
    ranked.crossJoin(broadcast(leftover))
      .select(col("nation"), col("seg"), col("rev_c"),
        col("base_seats"),
        (col("base_seats") +
          when(col("__before") < col("__left"), 1L).otherwise(0L))
          .as("seats"))
  }

  /** Burst (trending-term) detection with NO floating point: weekly
    * part-name term counts from shipped lineitems, each week's count
    * lifted against the prior week by integer CROSS-MULTIPLICATION —
    * burst ⇔ cnt_w · tot_{w−1} > 2 · cnt_{w−1} · tot_w (share more than
    * doubled) — never a ratio of doubles two engines could round apart.
    * The distinct wrinkle vs d111's LAG trend: SPARSE buckets. A term
    * absent last week has no LAG row, so the previous count is gated on
    * lag(week) == week − 1 (else 0), and a term bursting from zero
    * qualifies by the min-count floor alone. Week totals join back per
    * week (≤ a few hundred rows — broadcast); products stay < 2^63
    * while weekly corpus counts < ~3e9. One term-key window + two
    * broadcast joins: corpus-linear at any scale.
    */
  def d208BurstTerms(s: SparkSession, d: String): DataFrame = {
    val minCount = 3L
    val census = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(explode(split(col("p_name"), " ")).as("term"),
        expr("unix_millis(CAST(l_shipdate AS TIMESTAMP)) div 604800000")
          .as("week"))
      .groupBy(col("term"), col("week"))
      .agg(count(lit(1)).as("cnt"))
    val weekTot = census.groupBy(col("week"))
      .agg(sum(col("cnt")).as("tot"))
    val w = Window.partitionBy(col("term")).orderBy(col("week"))
    census
      .withColumn("__lw", lag(col("week"), 1).over(w))
      .withColumn("prev_cnt",
        when(col("__lw") === col("week") - 1, lag(col("cnt"), 1).over(w))
          .otherwise(lit(0L)))
      .join(broadcast(weekTot), Seq("week"))
      .join(broadcast(weekTot.select((col("week") + 1).as("week"),
        col("tot").as("__ptot"))), Seq("week"), "left")
      .withColumn("__ptot", coalesce(col("__ptot"), lit(0L)))
      .withColumn("burst",
        when(col("cnt") < minCount, lit(0L))
          .when(col("prev_cnt") === 0L || col("__ptot") === 0L, lit(1L))
          .when(col("cnt") * col("__ptot") >
            lit(2L) * col("prev_cnt") * col("tot"), lit(1L))
          .otherwise(lit(0L)))
      .select(col("term"), expr("CAST(week AS BIGINT)").as("week"),
        expr("CAST(cnt AS BIGINT)").as("cnt"),
        expr("CAST(prev_cnt AS BIGINT)").as("prev_cnt"),
        expr("CAST(burst AS BIGINT)").as("burst"))
  }

  /** Overlapping-interval MERGE (union of spans) — the third member of
    * the islands family, and the one the other two don't cover: d191
    * breaks on VALUE change, d75 on a fixed POINT gap; here each order
    * owns a real duration (priority-dependent service window) and
    * islands break where a span's start clears the RUNNING MAX of all
    * previous ends — max(hi) over [unbounded, 1 PRECEDING], the
    * prev-running-max reflection that handles nested/contained spans a
    * naive lag(hi) would get wrong. One customer-hash window shuffle +
    * one aggregation; all-integer millis.
    */
  /** ONE definition of the priority-duration span derivation — batch
    * d209 and streaming d213 must stay on identical Spark expressions,
    * the same drift rule the shared oracle strings enforce on the SQL
    * side. Output: (o_custkey, lo, hi, o_orderkey).
    */
  private[graft] def orderServiceSpans(s: SparkSession, d: String)
      : DataFrame =
    Tables.orders(s, d)
      .withColumn("lo",
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))"))
      .withColumn("hi", col("lo") + lit(86400000L) *
        when(col("o_orderpriority") === "1-URGENT", 28L)
          .when(col("o_orderpriority") === "2-HIGH", 21L)
          .when(col("o_orderpriority") === "3-MEDIUM", 14L)
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", 7L)
          .otherwise(3L))
      .select(col("o_custkey"), col("lo"), col("hi"), col("o_orderkey"))

  /** ONE definition of the signed-cents delta derivation — batch d202
    * and streaming d214 share it. Output: (user_id, ts_ms, event_id,
    * delta).
    */
  private[graft] def balanceDeltas(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull &&
        col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        when(col("event_type") === "purchase",
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .otherwise(
            -expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("delta"))

  /** ONE definition of the sequential-trial derivation — batch d231 and
    * streaming d232 share it (the balanceDeltas rule). Each purchase or
    * error event is one Bernoulli-ish trial of the user's random walk:
    * +3 for a purchase, −2 for an error — an integer-ratio SPRT score
    * (the log-likelihood ratios of a sequential test are commensurate
    * exactly when the per-trial increments reduce to small integers, so
    * the walk is EXACT where a float LLR would drift). Output:
    * (user_id, ts_ms, event_id, step).
    */
  private[graft] def sprtSteps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        when(col("event_type") === "purchase", lit(3L))
          .otherwise(lit(-2L)).as("step"))

  /** ONE definition of the order-status event derivation — batch d191
    * and streaming d207 share it. Output: (o_custkey, ms, o_orderkey,
    * o_orderstatus).
    */
  private[graft] def orderStatusEvents(s: SparkSession, d: String)
      : DataFrame =
    Tables.orders(s, d).select(col("o_custkey"),
      expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))").as("ms"),
      col("o_orderkey"), col("o_orderstatus"))

  def d209IntervalMerge(s: SparkSession, d: String): DataFrame = {
    val W = Window.partitionBy(col("o_custkey"))
      .orderBy(col("lo"), col("hi"), col("o_orderkey"))
    orderServiceSpans(s, d)
      .withColumn("__pmax",
        max(col("hi")).over(W.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("lo") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new"))
        .over(W.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("o_custkey"), col("__isl"))
      .agg(min(col("lo")).as("span_start"), max(col("hi")).as("span_end"),
        count(lit(1)).as("n_orders"))
      .select(expr("CAST(o_custkey AS BIGINT)").as("o_custkey"),
        expr("CAST(span_start AS BIGINT)").as("span_start"),
        expr("CAST(span_end AS BIGINT)").as("span_end"),
        expr("CAST(n_orders AS BIGINT)").as("n_orders"))
  }

  /** Kolmogorov-Smirnov drift per source, with the sup-distance taken
    * over EXACT integers: at every value of the merged support,
    * D_num(v) = |cum_s(v)·N_g − cum_g(v)·N_s| (cross-multiplied CDFs —
    * no per-point double subtraction for engines to round apart), the
    * statistic is max(D_num)/(N_s·N_g) with ONE final division, and the
    * argmax value is the MIN v among ties (deterministic). The binless
    * complement of d68's binned PSI. The evaluation grid is
    * (distinct values) × (sources) — bounded by the VALUE DOMAIN and
    * the source census, never the corpus; the per-source CDF rides one
    * partitioned window over that grid. N_s·N_g must stay < 2^63
    * (document counts < ~3e9 a side; DECIMAL(38,0) beyond).
    */
  def d210KsDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
    // ONE corpus scan: the (source, value) census is the sufficient
    // statistic — global support, per-source sizes, and the grand total
    // all re-aggregate from it at value-domain cost
    val perCell = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    val globalCell = perCell.groupBy(col("n_chars"))
      .agg(sum(col("cnt")).as("gcnt"))
    val nS = perCell.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
    // dense (value × source) grid: every source's CDF is a step function
    // evaluated at every global support point
    val grid = globalCell.crossJoin(nS.select(col("source")))
      .join(perCell, Seq("source", "n_chars"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = nS.agg(sum(col("n_s")).as("n_g"))
    grid
      .withColumn("__cs", sum(col("cnt")).over(w))
      .withColumn("__cg", sum(col("gcnt")).over(w))
      .join(broadcast(nS), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("__d",
        abs(col("__cs") * col("n_g") - col("__cg") * col("n_s")))
      .withColumn("__dmax", // same source partitioning — shuffle reused
        max(col("__d")).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_s"), first(col("n_g")).as("n_g"),
        first(col("__dmax")).as("ks_num"),
        min(when(col("__d") === col("__dmax"), col("n_chars")))
          .as("ks_at"))
      .select(col("source"),
        expr("CAST(n_s AS BIGINT)").as("n_s"),
        expr("CAST(ks_num AS BIGINT)").as("ks_num"),
        expr("CAST(ks_at AS BIGINT)").as("ks_at"),
        (col("ks_num").cast("double") /
          (col("n_s") * col("n_g")).cast("double")).as("ks_stat"))
  }

  /** Quantile normalization — re-express every document's length as the
    * GLOBAL value at its within-language rank position (the omics/ML
    * feature-alignment transform): r-th of n_g in its language maps to
    * global rank 1 + ((r−1)·(N−1)) div (n_g−1) (integer arithmetic,
    * exact endpoints: rank 1 → global min, rank n_g → global max), and
    * the value at a global rank resolves through a DISTINCT-VALUE rank
    * table — each value v owns the half-open rank interval
    * (below(v), below(v)+cnt(v)] — built by [[graft.operators.ScaleOps
    * .globalPrefixSum]] and joined as a broadcast RANGE probe: value-
    * domain-sized, never corpus-sized, and NO un-partitioned window
    * anywhere. Per-language ranks ride one partitioned window.
    * Exactness bound: the lattice product (r−1)·(N−1) must stay < 2^63
    * — corpora ≤ ~3e9 documents (same class of bound d210 documents);
    * past that, lift the rank arithmetic to DECIMAL(38,0).
    */
  def d211QuantileNormalize(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val wLang = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs
      .withColumn("__r", row_number().over(wLang))
      .withColumn("__ng", count(lit(1))
        .over(Window.partitionBy(col("lang"))))
    // distinct-value rank table: below = # rows with a smaller value;
    // the corpus total re-aggregates from it (no second corpus scan)
    val valueRanks = graft.operators.ScaleOps.globalPrefixSum(
      docs.groupBy(col("n_chars").as("__v"))
        .agg(count(lit(1)).as("__cnt")),
      "__v", Seq("__cnt" -> "__below")).localCheckpoint()
    val tot = valueRanks.agg(sum(col("__cnt")).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("__tr",
        when(col("__ng") > 1,
          lit(1L) + expr("(__r - 1) * (__n - 1) div (__ng - 1)"))
          .otherwise(lit(1L) + expr("(__n - 1) div 2")))
      .join(broadcast(valueRanks),
        col("__tr") > col("__below") &&
          col("__tr") <= col("__below") + col("__cnt"))
      .select(expr("CAST(doc_id AS BIGINT)").as("doc_id"), col("lang"),
        expr("CAST(n_chars AS BIGINT)").as("n_chars"),
        expr("CAST(__r AS BIGINT)").as("lang_rank"),
        expr("CAST(__v AS BIGINT)").as("norm_chars"))
  }

  /** Token-sorted canonicalization — entity-resolution-lite: canonical
    * key = the document's first FOUR lowercased tokens SORTED and
    * rejoined, so reordered openings ("alpha beta gamma delta" vs
    * "gamma alpha delta beta") collide while different word SETS stay
    * apart — the order-insensitive blocking key record-linkage systems
    * hang fuzzy comparison on. Census per canonical cluster with the
    * min doc_id as deterministic representative; genuinely non-vacuous
    * on this corpus (8 clusters at sf0.01 hold >1 distinct raw prefix).
    * One hash aggregation; the sort is per-row over 4 tokens, never a
    * data sort.
    */
  def d212CanonicalKeys(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // NULL text is excluded on BOTH engines: Spark's concat_ws would
      // map it to canon '' (merging null docs into the empty-string
      // blocking cluster) while DuckDB propagates NULL — filter, don't
      // let the engines disagree
      .filter(col("text").isNotNull)
      .withColumn("canon", concat_ws(" ",
        sort_array(slice(split(lower(col("text")), " "), 1, 4))))
      .withColumn("raw_prefix",
        concat_ws(" ", slice(split(lower(col("text")), " "), 1, 4)))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_prefix")).as("n_prefixes"),
        min(col("doc_id")).as("rep_doc"))
      .select(col("canon"),
        expr("CAST(n_docs AS BIGINT)").as("n_docs"),
        expr("CAST(n_prefixes AS BIGINT)").as("n_prefixes"),
        expr("CAST(rep_doc AS BIGINT)").as("rep_doc"))

  /** PMI collocations — which adjacent token pairs co-occur far above
    * chance (the corpus-statistics primitive behind multi-word-expression
    * mining and tokenizer-vocab audits; joint-vs-marginal, where d61's
    * TF-IDF is term-vs-document). Scale shape: the corpus is touched ONCE
    * (tokenize → in-row bigram expand → one hash aggregate); marginals,
    * the grand total, and the thresholded probe ALL re-aggregate from the
    * pinned bigram census at vocabulary² cost (the d210 single-scan
    * rule), and the count floor is applied BEFORE the marginal joins so
    * the join probe side is the surviving collocations only. PMI is
    * computed as ln-sums of exact BIGINT counts — ((ln c_xy + ln N) −
    * ln c_x) − ln c_y, no count products, so nothing can overflow at any
    * corpus size. Marginals are defined WITHIN the bigram table (c_x =
    * occurrences of x as left token, c_y as right) so P(x,·) and P(·,y)
    * sum to 1 over the same event space as P(x,y).
    */
  def d215PmiCollocations(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      // NULL text and sub-2-token docs contribute no bigrams in either
      // engine; the explicit filter keeps the engines provably agreed
      .filter(col("text").isNotNull)
      .select(graft.functions.TextFunctions.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 2)
    val census = toks.select(explode(expr(
        """transform(slice(t, 1, size(t) - 1),
          |  (x, i) -> struct(x AS x, element_at(t, i + 2) AS y))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint() // 4 consumers: marginals ×2, total, probe
    val cx = census.groupBy(col("x")).agg(sum(col("n_pairs")).as("cx"))
    val cy = census.groupBy(col("y")).agg(sum(col("n_pairs")).as("cy"))
    val tot = census.agg(sum(col("n_pairs")).as("nn"))
    census.filter(col("n_pairs") >= 20)
      .join(cx, "x").join(cy, "y")
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"),
        expr("CAST(n_pairs AS BIGINT)").as("n_pairs"),
        round(log(col("n_pairs").cast("double")) +
          log(col("nn").cast("double")) -
          log(col("cx").cast("double")) -
          log(col("cy").cast("double")), 6).as("pmi"))
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval merge of a
    * lexical ranking (shared [[bm25Scored]] derivation) and a dense
    * ranking (the d26 brute-force cosine against vec 0's embedding, so
    * fusion inherits d26's bit-exact score agreement). Each retriever
    * contributes 1/(60 + rank) for its top-50; docs surface in either
    * list alone (the fusion property under test — a NULL rank from one
    * side must not zero the doc). Scale shape: both candidate lists are
    * top-k-bounded BEFORE fusion (TakeOrdered for the lexical side, the
    * per-query window for the dense side), so the fusion join touches
    * ≤ 100 rows however big the corpus is; the rank-assignment window on
    * the lexical side runs on a post-limit 50-row set — bounded by
    * literal, not by data. Ranks order by the ROUNDED bm25 (doc_id
    * tie-break): rounding happens before ranking in both engines, so a
    * sub-ulp ln() divergence cannot flip a rank.
    */
  def d216RrfFusion(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dense = graft.operators.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "q_id", "q_vec", k = 50)
      .select(col("corpus_id").as("doc_id"), col("rnk").as("dense_rnk"))
    val lex = bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(50)
      .withColumn("lex_rnk", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("lex_rnk"))
    dense.join(lex, Seq("doc_id"), "full_outer")
      // the top-20 cut orders by the ROUNDED score (doc_id tie-break) —
      // the same rounded-before-ranking rule as the bm25 ranks: the raw
      // double space has distinct values that collide at 6 decimals, and
      // the oracle's ORDER BY sees only the rounded alias
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("dense_rnk")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rnk")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(20)
      .select(expr("CAST(doc_id AS BIGINT)").as("doc_id"),
        col("dense_rnk"), col("lex_rnk"), col("rrf"))
  }

  /** Day-of-week seasonal decomposition (ratio-to-moving-average) of the
    * daily order-revenue series: a calendar spine fills revenue gaps with
    * exact zero-cents days, a centered 7-day moving window supplies the
    * trend, and each weekday's seasonal index is the AGGREGATE ratio
    * Σcents·7 / Σwindow — ratio-of-sums, chosen over avg-of-ratios
    * because both sums stay exact BIGINTs and the index is then ONE
    * correctly-rounded double division (no order-dependent double
    * accumulation anywhere; 7·Σcents < 2^63 up to ~10^6× this data,
    * DECIMAL(38,0) past that). Scale shape: the corpus collapses to the
    * per-day census first, so the un-partitioned ORDER BY day window is
    * CALENDAR-bounded (≤ a few thousand rows regardless of corpus size)
    * — the same bounded-domain exemption d111's month series documents.
    * dow is pure integer arithmetic (days-since-epoch mod 7, 0 =
    * Thursday), immune to engine locale/week-start conventions.
    */
  def d217SeasonalDecomp(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(col("o_orderdate").cast("date").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("__c"))
      .groupBy(col("day")).agg(sum(col("__c")).as("cents"))
      .localCheckpoint() // feeds the bounds scalar AND the spine join
    val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    spine.join(daily, Seq("day"), "left")
      .withColumn("cents", coalesce(col("cents"), lit(0L)))
      .withColumn("__n7", count(lit(1)).over(w))
      .withColumn("__win7", sum(col("cents")).over(w))
      // edge days lack a full window; all-zero weeks have no trend to
      // ratio against — excluded identically in both engines
      .filter(col("__n7") === 7 && col("__win7") > 0)
      .withColumn("dow", expr("datediff(day, DATE '1970-01-01') % 7"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("sc"),
        sum(col("__win7")).as("sw"))
      .select(expr("CAST(dow AS BIGINT)").as("dow"),
        expr("CAST(n_days AS BIGINT)").as("n_days"),
        round(expr("CAST(7 * sc AS DOUBLE)") / expr("CAST(sw AS DOUBLE)"), 6)
          .as("seasonal_index"),
        round(expr("CAST(sc AS DOUBLE)") /
          (lit(100.0) * col("n_days").cast("double")), 4).as("avg_revenue"))
  }

  /** Merkle anti-entropy diff ([[graft.operators.Integrity.merkleDiff]]):
    * the base orders snapshot vs a drifted replica (sparse key-ranged
    * corruption: +1 cent on o_orderkey % 997 = 5, deletions at 17,
    * duplicated-into-new-keys inserts at 29 — each class a distinct
    * digest signature). Only DIGESTS cross between the snapshots — the
    * 100 TB reconciliation regime where row-level diffing (d140) is
    * unaffordable — and the comparison narrows coarse-group-first, so
    * network cost is O(dirty buckets). The oracle recomputes the
    * engine-portable md5 digests AND the narrowing protocol bit-for-bit:
    * a drifted row, a lost row, or a phantom row each flip exactly the
    * buckets this row reports.
    */
  /** ONE definition of the digestable orders projection — batch d218 and
    * streaming d222 must hash identical rows (the shared-derivation
    * rule). Output: (o_orderkey, o_custkey, o_orderstatus, cents).
    */
  private[graft] def ordersMerkleBase(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))

  def d218MerkleDiff(s: SparkSession, d: String): DataFrame = {
    val base = ordersMerkleBase(s, d)
      .localCheckpoint() // feeds its own summary AND the drift derivation
    val m = col("o_orderkey") % 997
    val after = base.filter(m =!= 17)
      .withColumn("cents",
        when(m === 5, col("cents") + 1L).otherwise(col("cents")))
      .unionByName(base.filter(m === 29)
        .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L)))
    graft.operators.Integrity.merkleDiff(base, after, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "cents"),
        fineDiv = 64L, groupSize = 16)
      .select(expr("CAST(coarse AS BIGINT)").as("coarse"),
        expr("CAST(fine AS BIGINT)").as("fine"),
        col("n_base"), col("n_after"),
        col("digest_base"), col("digest_after"))
  }

  /** Isotonic calibration ([[graft.operators.EvalMetrics.isotonicFit]]):
    * weighted pool-adjacent-violators over 32 md5-hash score bins of the
    * event stream (label = purchase). The hash binning makes the
    * empirical bin means near-flat with noise — the pooling-heavy regime
    * where a PAV bug shows — and the bins pool down to a handful of
    * blocks at every SF. The oracle is the MINIMAX IDENTITY fit(t) =
    * max_{i≤t} min_{j≥t} avg(y[i..j]) — an independent closed form of
    * the same fit, O(bins³) in SQL, bit-equal to PAV's pooled means
    * because both reduce to the identical Σy/n double divisions —
    * so the engine's stack algorithm and the oracle share NO algorithmic
    * structure, only the mathematical definition.
    */
  def d219Isotonic(s: SparkSession, d: String): DataFrame =
    graft.operators.EvalMetrics.isotonicFit(
      Tables.events(s, d).select(
        expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 6)" +
          ", 16, 10) AS BIGINT) % 32").as("b"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y")),
      "b", "y")
      .select(expr("CAST(b AS BIGINT)").as("b"), col("n"), col("sy"),
        round(col("fitted"), 6).as("fitted"))

  /** V-optimal segmentation (changepoint detection by dynamic
    * programming): the weekly order-count series splits into B = 6
    * contiguous segments minimizing total within-segment SSE — the
    * optimal-histogram / changepoint primitive behind drift localization
    * ("WHEN did the distribution shift", where d210 asks IF). Scale
    * shape: the corpus collapses to the weekly census in one aggregate;
    * the O(B·V²) DP runs on the DRIVER over the collected census —
    * CALENDAR-bounded (V ≈ weeks, ~350 here, ≤ a few thousand for any
    * realistic retention window), the same bounded-domain contract as
    * d45's union-find gate. Exactness: prefix sums Σx and Σx² are exact
    * Longs (weekly counts ≤ ~3·10^9 before Σx² needs DECIMAL), each
    * sse(u,v) is the identical 4-op double expression in both engines,
    * DP costs accumulate in the same per-stage structural order, and
    * cost ties break to the SMALLEST split point — the oracle's
    * ROW_NUMBER (cost, u) mirror of the engine's ascending-u strict-<
    * scan. The oracle is the 6-stage UNROLLED DP with list backtracking
    * (the d177/d180 unrolled-iteration convention).
    */
  def d220VOptimalSegments(s: SparkSession, d: String): DataFrame = {
    val B = 6
    val census = Tables.orders(s, d)
      .select(expr(
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') div 7")
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("x"))
      .orderBy(col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val V = census.length
    require(V >= B, s"need at least $B weeks, got $V")
    val pm = new Array[Long](V + 1); val sq = new Array[Long](V + 1)
    census.zipWithIndex.foreach { case ((_, x), i) =>
      pm(i + 1) = pm(i) + x; sq(i + 1) = sq(i) + x * x
    }
    def sse(u: Int, v: Int): Double = {
      val n = v - u; val sm = pm(v) - pm(u); val q = sq(v) - sq(u)
      q.toDouble - sm.toDouble * sm.toDouble / n.toDouble
    }
    // dp(k)(v): best cost of covering items 1..v with k segments; split
    // records the chosen u. Ascending-u scan with strict < keeps the
    // SMALLEST optimal split on ties.
    val dp = Array.fill(B + 1)(new Array[Double](V + 1))
    val split = Array.fill(B + 1)(new Array[Int](V + 1))
    for (v <- 1 to V) { dp(1)(v) = sse(0, v); split(1)(v) = 0 }
    for (k <- 2 to B; v <- k to V) {
      var best = Double.MaxValue; var bu = -1
      for (u <- k - 1 to v - 1) {
        val c = dp(k - 1)(u) + sse(u, v)
        if (c < best) { best = c; bu = u }
      }
      dp(k)(v) = best; split(k)(v) = bu
    }
    val bounds = new Array[Int](B + 1); bounds(B) = V
    for (k <- B until 0 by -1) bounds(k - 1) = split(k)(bounds(k))
    val rows = (1 to B).map { k =>
      val lo = bounds(k - 1); val hi = bounds(k)
      (k.toLong, census(lo)._1, census(hi - 1)._1, (hi - lo).toLong,
        pm(hi) - pm(lo), sse(lo, hi))
    }
    // round through the engine's round(), not driver BigDecimal — ONE
    // rounding convention across the whole battery
    s.createDataFrame(rows)
      .toDF("seg", "week_lo", "week_hi", "n_weeks", "sum_cnt", "sse")
      .withColumn("sse", round(col("sse"), 6))
  }

  /** Rendezvous (highest-random-weight) shard assignment audit: every
    * order key is assigned to its max-md5-weight node under a 5-node and
    * a 6-node ring, and the (node5, node6) movement matrix makes HRW's
    * defining guarantee VISIBLE — growing the ring only moves keys TO
    * the new node (≈1/6 of them), never between survivors. This is the
    * data-placement primitive for rebalancing a 100 TB sharded store
    * without mass movement. Scale shape: pure map-side arithmetic (six
    * engine-portable md5 weights per key, the d81/d162 convention) plus
    * one ≤30-group aggregate — no shuffle of consequence at any size.
    * Ties (two nodes at the same 60-bit weight) break to the LOWEST
    * node via a first-match CASE chain, identical in both engines.
    */
  def d221RendezvousRebalance(s: SparkSession, d: String): DataFrame = {
    def w(n: Int) = expr(
      s"CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), '#', " +
        s"'$n')), 1, 15), 16, 10) AS BIGINT)")
    // r10 (guide §2.5, unsplittable input): six md5 weights per key is
    // exactly the scan-fused heavy map the r9 fanOut class covers — the
    // single-row-group bench file runs the whole hash stage in ONE task
    // (JobProbe: 3 tasks, taskSec ~1.0 all on one core). Self-sizing
    // no-op on a many-split corpus.
    val withW = (0 to 5).foldLeft(graft.operators.ScaleOps.fanOut(
      Tables.orders(s, d).select(col("o_orderkey"))))(
      (acc, n) => acc.withColumn(s"w$n", w(n)))
    def argmax(upTo: Int, g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 to upTo).reverse.foldLeft(lit(-1L): org.apache.spark.sql.Column)((els, n) =>
        when(col(s"w$n") === g, lit(n.toLong)).otherwise(els))
    val g5 = greatest((0 to 4).map(n => col(s"w$n")): _*)
    val g6 = greatest((0 to 5).map(n => col(s"w$n")): _*)
    withW
      .withColumn("node5", argmax(4, g5))
      .withColumn("node6", argmax(5, g6))
      .groupBy(col("node5"), col("node6"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_keys"))
  }

  /** Association rules over order baskets (brand level): support,
    * confidence, and lift for brand pairs that co-occur in ≥ 20 orders —
    * the market-basket primitive, distinct from d95's co-occurrence
    * COUNTS by carrying the full rule metrics and a support floor. Scale
    * shape: the basket build joins lineitem to the part dimension
    * (broadcast-class) and collapses to DISTINCT (order, brand) in one
    * aggregate; pairs expand IN-GROUP from the sorted per-order brand
    * set (≤ vocabulary², never a fact self-join — the d95 rule); item
    * supports and the basket total re-aggregate from pinned censuses.
    * Lift is computed in doubles with a fixed operand order (supports
    * can reach 10^12 at corpus scale, so the integer product is
    * deliberately avoided); confidence is one exact-count division.
    */
  def d223AssociationRules(s: SparkSession, d: String): DataFrame = {
    // r10 (guide §1.2/§2.4): the basket total rides the checkpoint's own
    // materialization via observe and splices in as a Long literal — the
    // old shape re-scanned the checkpointed baskets for a 1-row aggregate
    // and carried it through a crossJoin (same Long, same double casts)
    val (baskets, mB) = graft.operators.GraphOps.checkpointWithProbe(
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("items")),
      count(lit(1)).as("n")) // 2 consumers: item supports, pairs
    val nBaskets = mB("n").asInstanceOf[Long]
    val itemSupp = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("supp"))
    val pairs = baskets.select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= 20)
    pairs
      .join(itemSupp.select(col("item").as("a"), col("supp").as("supp_a")),
        "a")
      .join(itemSupp.select(col("item").as("b"), col("supp").as("supp_b")),
        "b")
      .select(col("a"), col("b"),
        expr("CAST(supp_ab AS BIGINT)").as("supp_ab"),
        expr("CAST(supp_a AS BIGINT)").as("supp_a"),
        expr("CAST(supp_b AS BIGINT)").as("supp_b"),
        lit(nBaskets).as("n_baskets"),
        round(col("supp_ab").cast("double") / col("supp_a").cast("double"),
          6).as("confidence"),
        round(col("supp_ab").cast("double") * lit(nBaskets).cast("double")
          / (col("supp_a").cast("double") * col("supp_b").cast("double")),
          6).as("lift"))
  }

  /** Winnowing fingerprint pairs (the MOSS selection rule): every 5-gram
    * hashes, each 4-window keeps its MINIMUM hash, and the distinct
    * selected hashes are the document's fingerprints — the
    * position-robust plagiarism-detection primitive (an insertion shifts
    * positions but local minima survive), distinct from d32's whole-doc
    * rolling hash and d73's every-gram index: winnowing SUBSAMPLES the
    * gram stream ~w-fold with a guarantee (every ≥w-gram match still
    * shares a fingerprint). Scale shape: gram hashing and window minima
    * are map-side per doc (partitioned window), the posting census caps
    * hub fingerprints (2..50, the d73 regime) BEFORE the pair join, and
    * the floor (≥3 shared) prunes the pair aggregate. Fingerprint SET
    * semantics make the equal-hash-in-window tie IRRELEVANT (either
    * position selects the same hash value), so no tie-break is needed
    * anywhere. md5-based gram hashes keep the whole pipeline
    * engine-portable.
    */
  def d224WinnowingPairs(s: SparkSession, d: String): DataFrame =
    Dedup.winnowingPairs(Tables.documents(s, d), "doc_id", "text")
      .select(expr("CAST(da AS BIGINT)").as("da"),
        expr("CAST(db AS BIGINT)").as("db"),
        expr("CAST(n_shared AS BIGINT)").as("n_shared"))

  /** Poisson-bootstrap thresholds: floor(CDF_k(Poisson(1)) · 16^6) — the
    * shared integer constants BOTH the Spark expression and the DuckDB
    * oracle compare the 6-hex md5 uniform against (exact integer
    * comparisons, the d81 convention; a drift here voids d225).
    */
  private[graft] val PoissonThresholds: Seq[Long] = Seq(
    6171992L, 12343985L, 15429982L, 16458647L, 16715813L, 16767247L,
    16775819L, 16777044L)

  /** Deterministic Poisson bootstrap (the scale-out bootstrap: each row
    * enters replicate b with multiplicity ~Poisson(1), independent per
    * (row, replicate) — resampling-with-replacement needs global
    * coordination, Poisson weights need ONE map-side expression): 32
    * replicates of the mean order value, every weight derived from an
    * md5 uniform against the shared [[PoissonThresholds]], so any
    * md5-capable engine reproduces the exact resample. Output is the
    * per-replicate sufficient statistics (n_eff, sum_cents exact
    * BIGINTs; mean = one division) — the uncertainty-quantification
    * primitive a 100 TB metric pipeline attaches error bars with, at the
    * cost of ONE pass × 32 map-side copies and a 32-group aggregate.
    */
  def d225PoissonBootstrap(s: SparkSession, d: String): DataFrame = {
    // the md5 uniform is hoisted into ONE named column (`u`) and the eight
    // threshold comparisons read it — the weight is exactly one md5 per
    // (row, replicate) regardless of Spark's common-subexpression behavior
    // (the 8x-inlined form relied on CSE to collapse the copies)
    val wExpr = PoissonThresholds.map(t => s"CAST(u >= $t AS INT)")
      .mkString(" + ")
    // fanOut (guide §2.5, unsplittable single-row-group input): the 32×
    // replicate explode and its per-(row, replicate) md5 are the heaviest
    // map compute in the battery and were fused into a 1-task scan stage
    // (measured: wall ≈ summed task time ≈ 4.6 s on ≤ 3 tasks). Spreading
    // the 16-byte (key, cents) rows first costs one tiny round-robin
    // exchange and parallelizes the hash work; no-op on a many-split corpus.
    ScaleOps.fanOut(Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents")))
      .select(col("o_orderkey"), col("cents"),
        explode(expr("sequence(0, 31)")).as("b"))
      .withColumn("u",
        expr("CAST(conv(substring(md5(concat(CAST(o_orderkey AS STRING), " +
          "'~', CAST(b AS STRING))), 1, 6), 16, 10) AS BIGINT)"))
      .withColumn("w", expr(s"CAST($wExpr AS BIGINT)"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("sum_cents"))
      .select(expr("CAST(b AS BIGINT)").as("b"),
        expr("CAST(n_eff AS BIGINT)").as("n_eff"),
        expr("CAST(sum_cents AS BIGINT)").as("sum_cents"),
        round(expr("CAST(sum_cents AS DOUBLE)") /
          (lit(100.0) * col("n_eff").cast("double")), 4).as("mean_value"))
  }

  /** Leave-one-source-out influence — data VALUATION for corpus curation:
    * for each source, what happens to the global mean document length and
    * to the language-mix entropy if the source is dropped? Both deltas
    * re-aggregate from ONE (source × lang) census (sufficient
    * statistics — no per-source re-scan, the property that makes LOGO
    * affordable at 100 TB: cost is census-sized algebra, not |sources|
    * scans). Mean deltas are exact-integer until one division; entropy
    * sums ≤ |langs| ln-terms per source (the small-group double-sum
    * convention, d106).
    */
  /** BOM explosion ([[graft.operators.GraphOps.treePathProducts]]):
    * effective quantity per node of the shared [[referralForest]] with
    * per-edge quantity q(c) = c mod 5 + 2 — the weighted-path-AGGREGATE
    * complement of d204's depths (the recursive-CTE class where the walk
    * multiplies instead of counts; same O(log depth) doubling, so a
    * depth-1000 chain is 10 shuffles). Products are exact Longs — q ≤ 6
    * and the probed forest depth keep q^depth far under 2^63 (ANSI mode
    * fails loudly, never wraps, if a deeper input ever violates that).
    */
  def d227BomExplosion(s: SparkSession, d: String): DataFrame = {
    val parents = referralForest(s, d)
      .withColumn("qty", expr("node % 5 + 2"))
    graft.operators.GraphOps.treePathProducts(parents)
      .join(parents, Seq("node"))
      .select(expr("CAST(node AS BIGINT)").as("c_custkey"),
        expr("CAST(parent AS BIGINT)").as("parent"),
        expr("CAST(CASE WHEN parent IS NULL THEN NULL ELSE qty END " +
          "AS BIGINT)").as("qty"),
        expr("CAST(eff_qty AS BIGINT)").as("eff_qty"))
  }

  /** Greedy max-coverage data selection (the submodular coreset
    * primitive: pick K documents maximizing newly-covered 5-gram mass —
    * lazy-greedy's exact baseline, with the classic 1−1/e guarantee).
    * Teeth: the corpus carries exact duplicates, and after greedy picks
    * a doc, its duplicate's marginal gain collapses to zero — a
    * coverage-accounting bug immediately shows as a duplicate pick.
    * Scale shape: the (doc, gram) incidence builds once (pinned), each
    * of the K rounds is one anti-join + one aggregate + a SINGLE-ROW
    * TakeOrdered to the driver, and the covered set stays DISTRIBUTED
    * (anti-join, never collected) — K·|incidence| work total, driver
    * holds only K scalars. Picked docs need no explicit exclusion:
    * picking covers every gram a doc has, so its future marginal gain
    * has no rows at all (duplicates included). Ties break (gain DESC,
    * doc_id ASC) in both engines.
    */
  def d230GreedyCoverage(s: SparkSession, d: String): DataFrame = {
    val K = 8
    // NOTE (r9): a fanOut of the incidence build was tried and
    // measured-REVERTED (2.50 s -> 2.86 s standalone): the row's wall is
    // the K aggregation rounds over the checkpointed incidence, and the
    // extra exchange cost more than the parallelized tokenize saved.
    val dg = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(expr("CAST(doc_id AS BIGINT)").as("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 4), i -> " +
          "array_join(slice(t, i, 5), ' '))")).as("gram"))
      .distinct()
      .localCheckpoint() // K aggregation passes over the incidence
    // the covered gram set is DERIVED from the picked doc ids over the
    // pinned incidence each round (picks is K scalars on the driver) —
    // never a growing checkpointed union, which would rewrite every
    // prior pick's grams K−1 times
    val picks = collection.mutable.ArrayBuffer.empty[Long]
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cum = 0L
    for (k <- 1 to K) {
      val uncovered =
        if (picks.isEmpty) dg
        else dg.join(
          dg.filter(col("doc_id").isin(picks.toSeq: _*)).select(col("gram")),
          Seq("gram"), "left_anti")
      val cand = uncovered.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id").asc).limit(1).collect()
      require(cand.nonEmpty, s"coverage universe exhausted before pick $k")
      val doc = cand.head.getLong(0); val gain = cand.head.getLong(1)
      cum += gain
      out += ((k.toLong, doc, gain, cum))
      picks += doc
    }
    s.createDataFrame(out.toSeq)
      .toDF("k", "doc_id", "gain", "covered_cum")
  }

  /** Sequential decision by integer random walk (SPRT shape): per user,
    * trials arrive in (ts, event_id) order ([[sprtSteps]]: purchase +3,
    * error −2) and the test stops at the FIRST prefix sum to reach +12
    * (accept) or −12 (reject); users whose walk never crosses stay
    * `open` with their full trial count. Batch form: ONE user-hash
    * window shuffle carries the prefix sum and the row_number; the
    * crossing extraction (min crossing seq per user) and the join-back
    * both reuse that partitioning, so the whole decision is one
    * exchange. Absorption (trials after the decision are ignored) falls
    * out declaratively — the first crossing is unaffected by later
    * rows. All arithmetic exact BIGINT; the streaming twin (d232) folds
    * the same walk through absorbing per-key state against the shared
    * oracle. Bounds ±12 are load-bearing on this data: all three
    * outcomes are non-vacuous at every gate SF (8/4/3 at sf0.001).
    */
  def d231SprtDecision(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = sprtSteps(s, d)
      .withColumn("__cum", sum(col("step")).over(wc))
      .withColumn("__seq", row_number().over(w))
    val x = c.groupBy(col("user_id"))
      .agg(min(when(col("__cum") >= 12L || col("__cum") <= -12L,
          col("__seq"))).as("__xseq"),
        max(col("__seq")).as("__tot"))
    c.join(x, "user_id")
      .filter(col("__seq") === coalesce(col("__xseq"), col("__tot")))
      .select(expr("CAST(user_id AS BIGINT)").as("user_id"),
        when(col("__xseq").isNull, lit("open"))
          .when(col("__cum") >= 12L, lit("accept"))
          .otherwise(lit("reject")).as("decision"),
        expr("CAST(coalesce(__xseq, __tot) AS BIGINT)").as("n_trials"),
        expr("CAST(__cum AS BIGINT)").as("cum_final"))
  }

  /** Greedy k-center (Gonzalez) coreset selection over exact-integer
    * customer features — the diversity-sampling counterpart to d230's
    * coverage greedy and d90's density dedup: each round picks the point
    * FARTHEST from every chosen center (max–min squared L2, ties by
    * custkey), so the emitted radius sequence is the classic k-center
    * coverage-radius curve (non-increasing, 2-approximation guarantee).
    * Features are exact BIGINTs off orders (n_orders, total/max spend in
    * 1000-dollar units, distinct priorities); distances stay < 2^62 for
    * corpora up to ~10^9-unit feature ranges (the d211 bound style).
    * Each of the K rounds is ONE distributed max over the point set with
    * centers carried as broadcast literals — the collect is K rows by
    * construction, never data-sized. Oracle: K unrolled argmax CTE
    * stages (the d230 pattern).
    */
  def d233KcenterCoreset(s: SparkSession, d: String): DataFrame = {
    val K = 6
    val f = kcenterFeatures(s, d).localCheckpoint() // K max passes
    val feats = Seq("f1", "f2", "f3", "f4")
    def d2To(c: Array[Long]) =
      feats.zipWithIndex.map { case (fc, i) =>
        (col(fc) - lit(c(i))) * (col(fc) - lit(c(i)))
      }.reduce(_ + _)
    val seed = f.orderBy(col("k").asc).limit(1).collect().head
    var centers = List(Array.tabulate(4)(i => seed.getLong(i + 1)))
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    out += ((1L, seed.getLong(0), 0L))
    var dmin = f.withColumn("__d2", d2To(centers.head))
    for (k <- 2 to K) {
      val pick = dmin.orderBy(col("__d2").desc, col("k").asc)
        .limit(1).collect().head
      out += ((k.toLong, pick.getLong(0), pick.getLong(5)))
      val c = Array.tabulate(4)(i => pick.getLong(i + 1))
      centers ::= c
      dmin = dmin.withColumn("__d2", least(col("__d2"), d2To(c)))
        .localCheckpoint()
    }
    s.createDataFrame(out.toSeq).toDF("k", "c_custkey", "radius2")
  }

  /** ONE definition of the k-center feature vector — the Spark plan and
    * the unrolled oracle must derive the identical exact-integer
    * geometry. Output: (k = custkey, f1..f4).
    */
  private[graft] def kcenterFeatures(s: SparkSession, d: String)
      : DataFrame =
    Tables.orders(s, d)
      .withColumn("__cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("f1"),
        expr("CAST(SUM(__cents) DIV 100000 AS BIGINT)").as("f2"),
        expr("CAST(MAX(__cents) DIV 100000 AS BIGINT)").as("f3"),
        countDistinct(col("o_orderpriority")).as("f4"))
      .select(expr("CAST(k AS BIGINT)").as("k"),
        expr("CAST(f1 AS BIGINT)").as("f1"), col("f2"), col("f3"),
        expr("CAST(f4 AS BIGINT)").as("f4"))

  /** Mutual-nearest-neighbor alignment (bitext-mining shape): each src2
    * document's best src3 counterpart by exact-integer distance — and
    * vice versa — keeping only RECIPROCAL pairs, the agreement filter
    * that makes embedding-alignment mining precise. Distance is squared
    * L2 on (8×token-count, n_chars), compared BLOCK-LOCALLY: candidates
    * share a coarse length block (n_chars div 64), the documented
    * contract that keeps the candidate join linear-ish at corpus scale
    * (a global argmin would be a cross join). Ties break on the
    * counterpart's doc_id; both argmins ride window row_numbers over the
    * SAME blocked candidate set, so the plan is one block-hash join plus
    * two window passes. Output: every mutual pair with its distance.
    */
  def d234MutualNn(s: SparkSession, d: String): DataFrame = {
    def side(src: String, pre: String) =
      Tables.documents(s, d)
        .filter(col("source") === src && col("text").isNotNull)
        .select(expr("CAST(doc_id AS BIGINT)").as(s"${pre}_id"),
          (TextFunctions.tokenCount(col("text")).cast("long") * 8L)
            .as(s"${pre}_t"),
          col("n_chars").cast("long").as(s"${pre}_c"),
          expr("CAST(n_chars AS BIGINT) div 64").as("blk"))
    val cand = side("src2", "a").join(side("src3", "b"), "blk")
      .withColumn("dist2",
        (col("a_t") - col("b_t")) * (col("a_t") - col("b_t")) +
          (col("a_c") - col("b_c")) * (col("a_c") - col("b_c")))
      .select(col("a_id"), col("b_id"), col("dist2"))
    val bestA = cand.withColumn("__rn", row_number().over(
        Window.partitionBy(col("a_id"))
          .orderBy(col("dist2"), col("b_id"))))
      .filter(col("__rn") === 1).drop("__rn")
    val bestB = cand.withColumn("__rn", row_number().over(
        Window.partitionBy(col("b_id"))
          .orderBy(col("dist2"), col("a_id"))))
      .filter(col("__rn") === 1).select(col("a_id"), col("b_id"))
    bestA.join(bestB, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"),
        expr("CAST(dist2 AS BIGINT)").as("dist2"))
  }

  /** Sorted-neighborhood (SNM) candidate pairs — the classic
    * record-linkage blocking that hash blocks can't express: sort the
    * corpus ONCE by a cheap canonical key (first-3-token prefix,
    * doc_id-suffixed for a total order) and compare only rows within a
    * fixed rank window w=4. The global rank rides
    * [[graft.operators.ScaleOps.globalPrefixSum]] — range partition +
    * local window + broadcast offsets, never an un-partitioned window —
    * and the w−1 gap offsets EXPLODE on the probe side so the whole
    * neighborhood materializes through ONE rank equi-join (a BETWEEN
    * range join would plan as a nested loop). Each pair carries is_dup
    * = normalized-content-key equality (the d228 dedup key): planted
    * duplicates share the sort prefix, land adjacent, and surface at
    * gap 1-3 with zero quadratic blow-up — O(w·n) pairs at any corpus
    * size.
    */
  def d235SortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    val w = 4
    val t = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(expr("CAST(doc_id AS BIGINT)").as("id"),
        concat(
          concat_ws(" ",
            slice(TextFunctions.tokens(lower(col("text"))), 1, 3)),
          lit("|"), lpad(col("doc_id").cast("string"), 12, "0"))
          .as("__ord"),
        Dedup.normalizedContentKey(col("text")).as("ck"),
        lit(1L).as("__one"))
    val ranked = graft.operators.ScaleOps.globalPrefixSum(t, "__ord",
        Seq("__one" -> "__before"))
      .select(col("id"), col("ck"), (col("__before") + 1L).as("rnk"))
      .localCheckpoint() // feeds both sides of the window join
    val probes = ranked.select(col("id").as("b_id"), col("ck").as("b_ck"),
        explode(expr(s"sequence(1, ${w - 1})")).as("__gap"),
        col("rnk").as("b_rnk"))
      .withColumn("rnk", col("b_rnk") - col("__gap"))
      .drop("b_rnk")
    ranked.join(probes, "rnk")
      .select(col("id").as("a_id"), col("b_id"),
        expr("CAST(__gap AS BIGINT)").as("gap"),
        when(col("ck") === col("b_ck"), 1L).otherwise(0L).as("is_dup"))
  }

  /** Deterministic shard-payload materialization — the step AFTER d59's
    * bin assignment: the concatenated text of every shard, hashed. The
    * trap this row pins shut is Spark's `collect_list`, whose element
    * ORDER is partition-arrival nondeterministic — a naive
    * concat-by-collect produces a different payload per run, which for
    * training shards means non-reproducible data. The fix is the
    * order-safe idiom: collect (doc_id, text) STRUCTS, `array_sort`
    * (struct ordering leads with doc_id), then project and join — the
    * payload md5 is then run-stable and hash-checks against DuckDB's
    * `string_agg(... ORDER BY doc_id)`. Scale: one source shuffle for
    * the bins (the d59 plan) and one (source, bin) shuffle for the
    * aggregation; a shard's payload must fit one reducer row, which is
    * what the 512-token budget guarantees by construction. Scope: docs
    * with non-NULL text (string_agg skips NULLs, Spark struct sort
    * cannot — one explicit filter on both engines instead of divergent
    * NULL behavior).
    */
  def d239ShardText(s: SparkSession, d: String): DataFrame = {
    val packed = graft.operators.ScaleOps.packSequences(
      Tables.documents(s, d).filter(col("text").isNotNull),
      "source", "doc_id",
      TextFunctions.tokenCount(col("text")).cast("long"), budget = 512)
    packed
      .groupBy(col("source"), expr("CAST(bin_id AS BIGINT)").as("bin_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n")).as("payload_md5"),
        expr("CAST(SUM(length(text)) AS BIGINT)").as("n_chars"))
  }

  /** Deterministic per-epoch shard shuffle — the training-loop step
    * after packing (d59/d238) and payload materialization (d239): each
    * epoch reads the shards in a DIFFERENT but REPRODUCIBLE order, so a
    * mid-epoch restart resumes at a known position and two runs of the
    * same config consume identical sequences. Position = rank of
    * md5(epoch:source:bin) within the epoch — the md5 gate convention
    * the sampling rows established, so both engines rank the identical
    * keys. The window partitions by EPOCH (never un-partitioned; shards
    * per epoch are census-sized, and at 100 TB the rank would ride
    * globalPrefixSum per epoch exactly like d206).
    */
  def d242EpochShuffle(s: SparkSession, d: String): DataFrame = {
    val shards = d59PackSequences(s, d).select(col("source"), col("bin_id"))
    val epochs = s.range(1, 4).select(col("id").as("epoch"))
    val keyed = shards.crossJoin(epochs)
      .withColumn("__k", md5(concat_ws(":", col("epoch"), col("source"),
        col("bin_id"))))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"))
          .orderBy(col("__k"), col("source"), col("bin_id"))))
      .select(expr("CAST(epoch AS BIGINT)").as("epoch"),
        expr("CAST(pos AS BIGINT)").as("pos"),
        col("source"), expr("CAST(bin_id AS BIGINT)").as("bin_id"))
  }

  /** Fuzzy record linkage by Jaro–Winkler — the EDIT-pattern comparator
    * the token-set keys (d212/d235) can't express: two titles that
    * transpose or misspell characters inside tokens score high on JW
    * while sharing no canonical key. Titles are the first-5-token
    * prefix, blocked on the first token (block-local contract, the d234
    * rule), scored by the native [[graft.plans.NativeExpressions
    * .jaroWinkler]] — verified BIT-identical to DuckDB's
    * jaro_winkler_similarity over every candidate pair at sf0.1, which
    * is what lets the threshold filter (≥ 0.9, applied to the RAW
    * double) hash-match even for the pair sitting exactly at 0.9. At
    * sf0.1 the gate keeps 613 of 417k candidates — discrimination, not
    * a pass-through. Quadratic-blowup cap (the d103 rule — every pair
    * generator carries one): blocks over 1000 docs are DROPPED by a
    * census filter on both engines (gate maxima are 26/197 docs, so the
    * cap never bites at the gate SFs; on a pathological corpus it bounds
    * the join at 10^6 pairs per block instead of letting one stop-word
    * block go quadratic in the corpus).
    */
  def d237JaroLinkage(s: SparkSession, d: String): DataFrame = {
    // fanOut: tokenization (and the checkpoint blocks every downstream
    // consumer reads) otherwise sit in/behind a 1-task scan stage (guide
    // §2.5 unsplittable input); no-op at corpus scale
    val p0 = ScaleOps.fanOut(Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")))
      .select(expr("CAST(doc_id AS BIGINT)").as("id"),
        TextFunctions.tokens(lower(col("text"))).as("t"))
      .select(col("id"),
        concat_ws(" ", slice(col("t"), 1, 5)).as("nm"),
        // guarded: ANSI element_at THROWS on an empty token array (a
        // whitespace-only doc); NULL blk drops from the equi-join, which
        // is exactly the oracle's (toks)[1] NULL semantics
        when(size(col("t")) > 0, element_at(col("t"), 1)).as("blk"))
      .localCheckpoint() // feeds the census + both self-join sides
    val census = p0.groupBy(col("blk")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= 1000L).select(col("blk"))
    val p = p0.join(broadcast(census), "blk")
    val a = p.select(col("id").as("a_id"), col("nm").as("a_nm"), col("blk"))
    val b = p.select(col("id").as("b_id"), col("nm").as("b_nm"), col("blk"))
    a.join(b, "blk").filter(col("a_id") < col("b_id"))
      .withColumn("__jw",
        graft.plans.NativeExpressions.jaroWinkler(col("a_nm"), col("b_nm")))
      .filter(col("__jw") >= 0.9)
      .select(col("a_id"), col("b_id"), round(col("__jw"), 6).as("jw"))
  }

  /** Brand modularity of the co-purchase graph — partition-quality
    * audit: is co-purchasing brand-assortative? Q = Σ_b (4m·e_b − D_b²)
    * / 4m² over the BRAND partition (not the component partition, whose
    * Q is degenerate — every edge is intra-component by definition).
    * The numerator stays in exact BIGINTs (4m·e and D² bounded by 4m² ≈
    * 4·10^9 here; DECIMAL(38,0) past m ~ 1.5·10^9 edges) and each
    * brand's contribution is ONE correctly-rounded division. Scale
    * shape: the shared coPurchaseEdges derivation (one basket shuffle),
    * the part dimension broadcasts onto both endpoints, and everything
    * downstream is brand-cardinality-sized.
    */
  def d229BrandModularity(s: SparkSession, d: String): DataFrame = {
    // r10 (guide §1.2/§2.4): the edge total m rides the edge checkpoint's
    // own materialization via observe and splices into the contribution
    // arithmetic as a Long literal — the old shape re-scanned the
    // checkpointed edges for a 1-row aggregate and carried it through a
    // BroadcastNestedLoopJoin crossJoin. Identical Long arithmetic,
    // identical doubles.
    val (edges, mEdges) = graft.operators.GraphOps.checkpointWithProbe(
      coPurchaseEdges(s, d), count(lit(1)).as("m")) // intra + deg below
    val m = mEdges("m").asInstanceOf[Long]
    val brands = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"))
    val labeled = edges
      .join(broadcast(brands.select(col("p_partkey").as("a"),
        col("p_brand").as("ba"))), "a")
      .join(broadcast(brands.select(col("p_partkey").as("b"),
        col("p_brand").as("bb"))), "b")
    val intra = labeled.filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("p_brand"))
      .agg(count(lit(1)).as("e_intra"))
    val deg = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(broadcast(brands.select(col("p_partkey").as("node"),
        col("p_brand"))), "node")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
    deg.join(intra, Seq("p_brand"), "left")
      .withColumn("e_intra", coalesce(col("e_intra"), lit(0L)))
      .select(col("p_brand"),
        expr("CAST(n_nodes AS BIGINT)").as("n_nodes"),
        expr("CAST(d_sum AS BIGINT)").as("d_sum"),
        expr("CAST(e_intra AS BIGINT)").as("e_intra"),
        round(expr(s"CAST(4 * ${m}L * e_intra - d_sum * d_sum AS DOUBLE)") /
          expr(s"CAST(4 * ${m}L * ${m}L AS DOUBLE)"), 9).as("contribution"))
  }

  /** End-to-end curation pipeline — the composition capstone: exact
    * dedup (normalized-content-key representative) → Gopher quality gate
    * → eval-set decontamination → token-budget shard packing, reported
    * as a per-source funnel census. Every stage is individually
    * oracle-proven elsewhere (d58's key, d60's gate, d57's overlap,
    * d59's packing); this row proves they COMPOSE — each stage consumes
    * the previous stage's survivors, so a leak in any boundary (a
    * dropped column, a filter applied to the wrong side, a stage run on
    * the full corpus instead of the survivors) shifts the funnel counts.
    * All seven output columns are exact BIGINTs — no doubles anywhere.
    * Scale shape: each stage is the same plan its standalone row runs
    * (one shuffle each), chained through localCheckpoints because every
    * intermediate feeds BOTH the next stage and its census row; sources
    * that lose every doc keep their funnel row via left joins.
    */
  def d228CurationPipeline(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    val isEval = col("source").isin("src0", "src1")
    // NULL text is out of the funnel's scope on BOTH engines (the d212
    // rule): Spark's concat_ws key maps NULL to '' while DuckDB's list
    // key propagates NULL, so an unfiltered NULL-text doc would merge
    // with empty-text docs here but not in the oracle
    val input = all.filter(!isEval && col("text").isNotNull)
      .withColumn("__key", Dedup.normalizedContentKey(col("text")))
      .localCheckpoint()
    val deduped = Dedup.exact(input, Seq("__key"), "doc_id")
      .localCheckpoint()
    val g = TextFunctions.GopherThresholds
    val t = col("text")
    val qual = deduped
      .withColumn("__nt", TextFunctions.tokenCount(t))
      .withColumn("__mwl", TextFunctions.meanTokenLength(t))
      .withColumn("__sr", TextFunctions.stopwordRatio(t))
      .withColumn("__dr", TextFunctions.distinctTokenRatio(t))
      .filter(col("__nt") >= g.MinTokens &&
        col("__mwl").between(g.MinMeanWordLen, g.MaxMeanWordLen) &&
        col("__sr") >= g.MinStopRatio && col("__dr") >= g.MinDistinctRatio)
      .drop("__nt", "__mwl", "__sr", "__dr")
      .localCheckpoint()
    val flagged = graft.operators.Decontaminate.overlap(
      qual, all.filter(isEval), "doc_id", "text", n = 8, minShared = 3)
    val clean = qual.join(flagged.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .localCheckpoint()
    val packed = graft.operators.ScaleOps.packSequences(
        clean, "source", "doc_id",
        TextFunctions.tokenCount(col("text")).cast("long"), budget = 512)
      .groupBy(col("source"))
      .agg(countDistinct(col("bin_id")).as("n_shards"),
        sum(col("n_tokens")).as("n_packed_tokens"))
    def census(df: DataFrame, name: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(name))
    census(input, "n_input")
      .join(census(deduped, "n_dedup"), Seq("source"), "left")
      .join(census(qual, "n_quality"), Seq("source"), "left")
      .join(census(clean, "n_clean"), Seq("source"), "left")
      .join(packed, Seq("source"), "left")
      .select(col("source"),
        expr("CAST(n_input AS BIGINT)").as("n_input"),
        expr("CAST(COALESCE(n_dedup, 0) AS BIGINT)").as("n_dedup"),
        expr("CAST(COALESCE(n_quality, 0) AS BIGINT)").as("n_quality"),
        expr("CAST(COALESCE(n_clean, 0) AS BIGINT)").as("n_clean"),
        expr("CAST(COALESCE(n_shards, 0) AS BIGINT)").as("n_shards"),
        expr("CAST(COALESCE(n_packed_tokens, 0) AS BIGINT)")
          .as("n_packed_tokens"))
  }

  def d226SourceInfluence(s: SparkSession, d: String): DataFrame = {
    val census = Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
      .localCheckpoint() // every aggregate below re-derives from it
    val bySource = census.groupBy(col("source"))
      .agg(sum(col("n")).as("s_n"), sum(col("sc")).as("s_sum"))
    val byLang = census.groupBy(col("lang")).agg(sum(col("n")).as("l_n"))
    val tot = census.agg(sum(col("n")).as("nn"), sum(col("sc")).as("ss"))
    // entropy term: -p ln p, 0 at p = 0; summed per source over the
    // (source × lang) grid so absent (source, lang) cells read n = 0
    val grid = byLang.crossJoin(bySource.select(col("source")))
      .join(census.select(col("source"), col("lang"), col("n")),
        Seq("source", "lang"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    def ent(cnt: org.apache.spark.sql.Column,
            totc: org.apache.spark.sql.Column) =
      when(cnt > 0, -(cnt.cast("double") / totc.cast("double")) *
        log(cnt.cast("double") / totc.cast("double"))).otherwise(lit(0.0))
    val hWithout = grid.crossJoin(broadcast(tot))
      .join(bySource, "source")
      .groupBy(col("source"))
      .agg(sum(ent(col("l_n") - col("n"), col("nn") - col("s_n")))
        .as("h_without"))
    val hAll = byLang.crossJoin(broadcast(tot))
      .agg(sum(ent(col("l_n"), col("nn"))).as("h_all"))
    bySource.crossJoin(broadcast(tot)).crossJoin(broadcast(hAll))
      .join(hWithout, "source")
      .select(col("source"),
        expr("CAST(s_n AS BIGINT)").as("n_docs"),
        round(expr("CAST(ss AS DOUBLE)") / col("nn").cast("double") -
          expr("CAST(ss - s_sum AS DOUBLE)") /
            expr("CAST(nn - s_n AS DOUBLE)"), 6).as("d_mean_chars"),
        round(col("h_all") - col("h_without"), 6).as("d_lang_entropy"))
  }

  /** Top session paths — ORDERED-sequence extraction, the shape no other
    * row exercises (d185's transitions are pairwise; this is the ordered
    * k-prefix): d75's gap sessionization, then each ≥3-event session's
    * first three event types as a '>'-joined path
    * (sort_array(collect_list(struct(ts, id, type))) — the (ts, id)
    * total order makes the sequence deterministic), then a census with a
    * global top-10 by (count, path) — a strict total order, planned as
    * TakeOrdered. Probed non-vacuous: 1,074 qualifying sessions at
    * sf0.01, top-10 counts 19..12.
    */
  def d199EventPaths(s: SparkSession, d: String): DataFrame = {
    withSessionIds(Tables.events(s, d))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_list(struct(col("ts_ms"), col("event_id"),
        col("event_type")))).as("__evs"))
      .filter(expr("size(__evs) >= 3"))
      .select(expr(
        "concat_ws('>', transform(slice(__evs, 1, 3), e -> e.event_type))")
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc).limit(10)
      .select(col("path"),
        expr("CAST(n_sessions AS BIGINT)").as("n_sessions"))
  }

  /** Exact bounded EWMA ([[graft.operators.ScaleOps.ewmaSmoothed]]) over
    * each user's view-value series in cents: power-of-two weights over
    * the last 8 observations make the smoothed value a ratio of two
    * exact integers — deterministic cross-engine with NO rounding, the
    * float-free twin of a recursive α=1/2 EWMA. One user-hash window
    * shuffle carries all 8 lags.
    */
  def d195Ewma(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .filter(col("event_type") === "view" && col("value").isNotNull)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    graft.operators.ScaleOps.ewmaSmoothed(e, Seq("user_id"),
        Seq("ts_ms", "event_id"), "cents", depth = 8)
      .select(expr("CAST(user_id AS BIGINT)").as("user_id"),
        expr("CAST(ts_ms AS BIGINT)").as("ts_ms"),
        expr("CAST(event_id AS BIGINT)").as("event_id"),
        expr("CAST(cents AS BIGINT)").as("cents"), col("ewma"))
  }

  /** Uplift Qini curve — the causal-evaluation companion of d172's PR
    * curve: users ranked by a model score (descending), cumulative
    * treated/control outcome counts per decile, and the Qini statistic
    * Q(k) = Yt(k) − Yc(k)·Nt(k)/Nc(k). Treatment is the engine's
    * portable md5 half-space gate (the d81/d162 convention), outcome a
    * fixed purchase-count threshold; the score is fixed-point-exact
    * (money-sum / count), so ranking never depends on double summation
    * order. Deciles ride the d182 rank machinery (two-level prefix scan +
    * per-value tie-break); the cumulative pass is a window over the
    * 10-row decile census — bounded by nBins, never data-sized. The
    * empty-control edge (possible at tiny SFs) yields NULL on both
    * engines via the same CASE guard.
    */
  def d189UpliftQini(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        (expr("CAST(graft_money_sum(value, 2) AS DOUBLE)") /
          count(lit(1))).as("score"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("__np"))
      .filter(col("score").isNotNull) // defensive: all-null-value user
      .select(col("user_id"), col("score"),
        when(concat(lit("0"),
          substring(md5(col("user_id").cast("string")), 1, 6)) < "0800000",
          1L).otherwise(0L).as("t"),
        when(col("__np") >= 13, 1L).otherwise(0L).as("y"))
      // the events groupBy feeds the decile census AND the rank join —
      // pin it so the data-sized aggregation runs once
      .localCheckpoint()
    val binned = graft.operators.Features
      .equiDepthBins(users, "user_id", "score", nBins = 10,
        descending = true)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("t")).as("nt"), sum(lit(1L) - col("t")).as("nc"),
        sum(col("t") * col("y")).as("yt"),
        sum((lit(1L) - col("t")) * col("y")).as("yc"))
      .localCheckpoint() // the decile census; cumulative pass reads it
    val wc = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    binned
      .withColumn("cum_nt", sum(col("nt")).over(wc))
      .withColumn("cum_nc", sum(col("nc")).over(wc))
      .withColumn("cum_yt", sum(col("yt")).over(wc))
      .withColumn("cum_yc", sum(col("yc")).over(wc))
      .select(expr("CAST(bin AS BIGINT)").as("bin"),
        expr("CAST(n AS BIGINT)").as("n"),
        expr("CAST(cum_nt AS BIGINT)").as("cum_nt"),
        expr("CAST(cum_nc AS BIGINT)").as("cum_nc"),
        expr("CAST(cum_yt AS BIGINT)").as("cum_yt"),
        expr("CAST(cum_yc AS BIGINT)").as("cum_yc"),
        round(when(col("cum_nc") > 0,
          col("cum_yt").cast("double") - col("cum_yc").cast("double") *
            col("cum_nt").cast("double") / col("cum_nc").cast("double")),
          6).as("qini"))
  }

  /** Theil–Sen robust trend per event type: the median of all pairwise
    * slopes of the daily-count series — the outlier-resistant alternative
    * to least squares. The pair fan-out is bounded by the CALENDAR
    * (days², not data²): the census is checkpointed, pairs expand within
    * type only, and the exact median rides a type-partitioned window
    * (avg of the two middles for even counts — DuckDB's interpolated
    * MEDIAN may differ in the last ulp there, which the output ROUND 6
    * absorbs; odd counts select an exact element on both engines).
    * Slopes are ratios of exact integers.
    */
  def d187TheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // both sides of the pair join read this census
    val slopes = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.cnt") - col("a.cnt")).cast("double") /
          (col("b.day") - col("a.day")).cast("double")).as("slope"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("slope"))
    slopes
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      // `div`: Spark's `/` would make these double comparisons and silently
      // skip the lower middle on even counts
      .filter(expr("__rn = (__n + 1) div 2 OR __rn = __n div 2 + 1"))
      .groupBy(col("event_type"))
      .agg(expr("CAST(MAX(__n) AS BIGINT)").as("n_pairs"),
        round(avg(col("slope")), 6).as("trend"))
  }

  /** Benford first-digit audit of order totals — the data-forensics
    * screen for fabricated numerics. Exact digit census (first digit via
    * string algebra on the absolute value — no float log in the
    * BUCKETING, so assignment is engine-exact), expected mass
    * log10(1 + 1/d), and the chi-square distance. One aggregation; the
    * 9-row report carries its own grand total (no second scan).
    */
  def d188BenfordAudit(s: SparkSession, d: String): DataFrame = {
    val census = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(substring(regexp_replace(col("o_totalprice").cast("string"),
        "[^1-9]", ""), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    // densify over the 1..9 spine: a digit with ZERO observations still
    // owes its full expected-count chi-square term — omitting it would
    // understate the very distance this audit computes
    val digits = s.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(census, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
      .localCheckpoint() // census feeds the total AND the report
    val total = digits.agg(sum(col("n")).as("__t"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), expr("CAST(n AS BIGINT)").as("n"),
        round(col("n").cast("double") / col("__t").cast("double"), 6)
          .as("observed_p"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford_p"),
        round(pow(col("n").cast("double") / col("__t").cast("double") -
            log(10.0, lit(1.0) + lit(1.0) / col("digit")), 2) /
          log(10.0, lit(1.0) + lit(1.0) / col("digit")) *
          col("__t").cast("double"), 6).as("chi2_term"))
  }

  /** Kaplan–Meier survival curve ([[graft.operators.EvalMetrics
    * .kaplanMeier]]) of user engagement: duration = distinct active days,
    * event = the user's error count exceeds their purchase count (~50%
    * observed, the rest right-censored — probed at all three SFs). The
    * engine's census + two two-level prefix scans against the oracle's
    * single-window spelling of the same recurrence; survival = exp of the
    * accumulated ln(1 − d/n) terms, ROUND 6 absorbing summation-order
    * ulps.
    */
  def d181KaplanMeier(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        countDistinct(date_format(timestamp_millis(col("ts_ms")),
          "yyyy-MM-dd")).as("t"),
        when(
          sum(when(col("event_type") === "error", 1L).otherwise(0L)) >
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)),
          1).otherwise(0).as("observed"))
    graft.operators.EvalMetrics.kaplanMeier(perUser, "t", "observed")
      .select(expr("CAST(t AS BIGINT)").as("duration_days"),
        expr("CAST(n_risk AS BIGINT)").as("n_risk"),
        expr("CAST(n_events AS BIGINT)").as("n_events"),
        expr("CAST(n_censored AS BIGINT)").as("n_censored"),
        round(col("survival"), 6).as("survival"))
  }

  /** Weight-of-Evidence / Information-Value report
    * ([[graft.operators.Features.woeIv]]): customer account balance in 10
    * exact equi-depth bins scored against "ever placed an URGENT order".
    * Bin assignment is integer-exact global rank arithmetic (two-level
    * scan + per-value tie-break by id, mirrored by the oracle's
    * ROW_NUMBER); WoE/IV are IEEE ratios of exact counts with Laplace
    * 0.5 smoothing, every double CAST explicit on the DuckDB side so no
    * DECIMAL arithmetic sneaks into the float algebra (the d169 lesson).
    */
  def d182WoeIv(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("__u", lit(1))
    val labeled = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"))
      .join(urgent, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"),
        coalesce(col("__u"), lit(0)).as("lbl"))
    graft.operators.Features.woeIv(labeled, "c_custkey", "c_acctbal", "lbl",
      nBins = 10)
      .select(expr("CAST(bin AS BIGINT)").as("bin"),
        expr("CAST(n AS BIGINT)").as("n"),
        expr("CAST(n_good AS BIGINT)").as("n_good"),
        expr("CAST(n_bad AS BIGINT)").as("n_bad"),
        round(col("woe"), 6).as("woe"),
        round(col("iv_term"), 6).as("iv_term"))
  }

  /** Fixed-width histogram of event values per type (bin = floor(value/50)):
    * the one-pass distribution profile. Bin assignment divides identical
    * raw doubles in both engines (closest value sits 2e-4 from a boundary);
    * per-bin mass is an exact DECIMAL sum.
    */
  def d71Histogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        floor(col("value") / 50.0).cast("long").as("bin"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_events"),
        expr("CAST(graft_money_sum(value, 2) AS DOUBLE)").as("sum_value"))

  /** Z-score outlier detection: per-type mean/stddev computed once, rebroadcast
    * to every event (tiny stats side → broadcast join, no second shuffle of
    * the event stream), flag |z| > 3. The gate compares raw doubles — the
    * nearest |z| sits 1.6e-3 from the threshold at sf0.01, far beyond the
    * cross-engine co-moment ulps; only the reported z is rounded. The
    * explicit `__sd > 0` guard pins the degenerate all-identical-values
    * group OUT on both engines (division by a zero stddev is NULL in Spark
    * but NaN — which sorts above every number — in DuckDB, so without the
    * guard the two engines disagree on exactly that group).
    */
  def d72Anomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("__m"), stddev_samp(col("value")).as("__sd"))
    ev.join(broadcast(stats), "event_type")
      .filter(col("__sd") > 0)
      .withColumn("__z", (col("value") - col("__m")) / col("__sd"))
      .filter(abs(col("__z")) > 3.0)
      .select(expr("CAST(event_id AS BIGINT)").as("event_id"), col("event_type"),
        col("value"), round(col("__z"), 4).as("z"))
  }

  /** Corpus-internal duplicated-8-gram census (the substring-level dedup
    * signal from "Deduplicating Training Data Makes LMs Better"): inverted
    * index over distinct word 8-grams, gram frequencies via a map-side
    * combinable count, then a same-key join back — deliberately NOT
    * collect_list-per-gram, so a stop-gram present in every document costs a
    * counter, not a materialized posting list. Reports per-doc shared-gram
    * counts for affected docs.
    */
  def d73DupNgrams(s: SparkSession, d: String): DataFrame = {
    // fanOut: the 8-gram explode feeds BOTH the frequency census and the
    // join-back, each otherwise replaying tokenize+ngrams in a 1-task scan
    // stage (guide §2.5 unsplittable input); no-op at corpus scale
    val grams = ScaleOps.fanOut(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(
        NativeExpressions.wordNgrams(TextFunctions.tokens(lower(col("text"))), 8)).as("gram"))
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("__ndw"))
    grams.join(freq, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__ng"),
        sum(when(col("__ndw") > 1, 1L).otherwise(0L)).as("__ns"))
      .filter(col("__ns") > 0)
      .select(col("doc_id"),
        expr("CAST(__ng AS BIGINT)").as("n_grams"),
        expr("CAST(__ns AS BIGINT)").as("n_shared"),
        round(col("__ns").cast("double") / col("__ng"), 6).as("shared_frac"))
  }

  /** Time-based moving aggregate: a RANGE frame over event time (24 h
    * lookback per user) — the frame family d47's running sum (ROWS) does not
    * cover. RANGE includes all ts peers on both engines, so the result is
    * deterministic even under timestamp ties; the frame mass is an exact
    * DECIMAL sum. Partitioned by user — no global sort.
    */
  def d74MovingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("CAST(event_id AS BIGINT)").as("event_id"),
        expr("CAST(user_id AS BIGINT)").as("user_id"), col("ts_ms"),
        expr("CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ms " +
          "RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS BIGINT)").as("mov_events"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts_ms " +
          "RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS DOUBLE)").as("mov_value"))

  /** Gap-based sessionization in the analytics layer (vs q18's dataflow
    * session WINDOWS): LAG flags a session break after >6 h of silence, a
    * running sum numbers the sessions, then one aggregate per session. The
    * 6 h gap is probed to be discriminating (5725 sessions at sf0.01 —
    * a 30 min gap would degenerate to one session per event on this data).
    * Ordering is total (ts_ms, event_id), so both engines assign identical
    * session ids.
    */
  /** Gap sessionization (gaps-and-islands): per user under the
    * (ts_ms, event_id) total order, a new `session_id` opens when the gap
    * to the previous event exceeds `gapMs`. ONE definition — d75 (the
    * session census) and d199 (session paths) must stay on the identical
    * break rule, or a tuned gap would silently diverge the two rows.
    */
  private def withSessionIds(events: DataFrame,
      gapMs: Long = 21600000L): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    events
      .withColumn("__prev", lag(col("ts_ms"), 1).over(wOrd))
      .withColumn("__brk",
        when(col("__prev").isNull || col("ts_ms") - col("__prev") > gapMs,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__brk")
  }

  def d75Sessionize(s: SparkSession, d: String): DataFrame = {
    withSessionIds(Tables.events(s, d))
      .groupBy(col("user_id"), col("session_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_events"),
        expr("CAST(MIN(ts_ms) AS BIGINT)").as("start_ms"),
        expr("CAST(MAX(ts_ms) - MIN(ts_ms) AS BIGINT)").as("duration_ms"),
        expr("CAST(graft_money_sum(value, 2) AS DOUBLE)").as("sum_value"))
      .select(expr("CAST(user_id AS BIGINT)").as("user_id"),
        expr("CAST(session_id AS BIGINT)").as("session_id"),
        col("n_events"), col("start_ms"), col("duration_ms"), col("sum_value"))
  }

  /** PIVOT: long-to-wide with an explicit value list (no extra
    * value-discovery job — the list is part of the query, as it must be on
    * a cluster where a scan costs real money). Missing cells are zero, not
    * null, to match the CASE-sum oracle.
    */
  def d76Pivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val wide = Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    wide.select(expr("CAST(user_id AS BIGINT)").as("user_id") +:
      types.map(t => coalesce(col(t), lit(0L)).cast("long").as(s"n_$t")): _*)
  }

  /** UNPIVOT/melt: wide-to-long over the per-flag money aggregates. The
    * Dataset.unpivot operator is the engine surface under test; the values
    * themselves are exact DECIMAL sums.
    */
  def d77Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("CAST(graft_money_sum(l_quantity, 2) AS DOUBLE)").as("sum_qty"),
        expr("CAST(graft_money_sum(l_extendedprice, 2) AS DOUBLE)").as("sum_price"),
        expr("CAST(graft_money_sum(l_tax, 2) AS DOUBLE)").as("sum_tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_tax")),
        "metric", "amount")

  /** Exact global top terms: one distinct-term shuffle, then
    * TakeOrderedAndProject (never a global sort). Deterministic LIMIT via
    * the (count desc, term) tiebreak. This is the exact baseline d79's
    * sketch approximates when term cardinality outgrows the shuffle.
    */
  def d78TopTerms(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("term"))
      .limit(20)

  /** Misra-Gries heavy-hitter candidates over the token stream
    * ([[graft.functions.FrequencySketch]]): bounded state (k counters per
    * partial aggregate, ONE shuffle of at most k counters per partition)
    * instead of d78's per-distinct-term shuffle row. Emits the provably
    * heavy candidates (est > n/(k+1)); estimates depend boundedly on
    * partition layout, so this is a rows-only battery entry — the error
    * laws are pinned in FrequencySketchSpec.
    */
  def d79HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val k = 100
    Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .agg(FrequencySketch.heavyHitters(k)(col("term")).as("hh"),
        count(lit(1)).as("__n"))
      .select(explode(col("hh")).as(Seq("term", "est_count")), col("__n"))
      .filter(col("est_count") > col("__n").cast("double") / (k + 1))
      .select(col("term"), expr("CAST(est_count AS BIGINT)").as("est_count"))
      .orderBy(col("est_count").desc, col("term"))
  }

  /** GROUPING SETS — the explicit multi-granularity aggregate (cube d43 and
    * rollup q10 are its closed forms): one expand + one shuffle computes the
    * (flag, status), (flag), and grand-total granularities in a single pass.
    */
  def d80GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"),
        expr("CAST(graft_money_sum(l_quantity, 2) AS DOUBLE)").as("sum_qty"))

  /** Engine-portable deterministic sampling: gate on an md5 prefix of the
    * id — both engines produce the identical lowercase hex, so the SAMPLE
    * ITSELF is oracle-checked row-for-row (d55's xxhash64 gate is the
    * faster native variant but engine-specific, hence rows-only there).
    * '29'/'100' ≈ a 16% rate; shuffle-free, retry-stable, and reproducible
    * by any system that can compute md5 — the audit story for "which exact
    * docs were in the training mix".
    */
  def d81PortableSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "29")
      .select(col("doc_id"), col("source"), col("lang"))

  /** CSV source/sink round-trip (same materialization contract as d70's
    * ORC): write with header, read back with an EXPLICIT schema (schema
    * inference is a second scan a 100 TB pipeline never runs), aggregate.
    * Doubles survive text round-trips exactly because Spark writes the
    * shortest representation that re-parses to the same bits.
    */
  def d82CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_csv_" + s.sparkContext.applicationId + "_" +
        Integer.toHexString(d.hashCode)).getAbsolutePath
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(path)
    s.read.option("header", "true")
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .csv(path)
      .groupBy(col("o_orderstatus"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_orders"),
        expr("CAST(graft_money_sum(o_totalprice, 2) AS DOUBLE)").as("sum_total"))
  }

  /** JSON-lines source/sink round-trip, explicit schema on read — the
    * interchange format every ingest edge speaks.
    */
  def d83JsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_json_" + s.sparkContext.applicationId + "_" +
        Integer.toHexString(d.hashCode)).getAbsolutePath
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .write.mode("overwrite").json(path)
    s.read.schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
      .json(path)
      .groupBy(col("c_mktsegment"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_customers"),
        expr("CAST(graft_money_sum(c_acctbal, 2) AS DOUBLE)").as("sum_bal"))
  }

  /** Mergeable distinct-count infrastructure: per-(type, day) HLL sketches
    * built once, then UNIONED to the per-type total without touching the
    * event stream again — the pre-aggregation pattern that turns "distinct
    * users last quarter" from a 100 TB re-scan into a merge of kilobyte
    * sketches. Oracle contract (scale-proof, the d125 convention): the
    * dumped columns are the EXACT distinct count (hash-verified) plus a
    * flag pinning the merged-sketch estimate within 3.5 standard errors
    * of it (lgK=14 → rsd ≈ 0.81%, 3.5σ ≈ 2.85%, bound 3%) — a broken
    * union or register merge flips the flag at any scale. Below ~2k
    * distincts per group the DataSketches coupon regime makes the
    * estimate exactly equal (HllRollupSpec pins that); the 10x probe
    * corpus (15k users/type, estimate 15086 = +0.57%) exercises the
    * genuine estimation regime the row exists for.
    */
  def d84HllRollup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("day", expr("ts_ms div 86400000"))
    val sketched = ev
      .groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("__sk"))
      .groupBy(col("event_type"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_days"),
        expr("CAST(hll_sketch_estimate(hll_union_agg(__sk, false)) AS BIGINT)")
          .as("__est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    sketched.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        expr("CAST(n_users_exact AS BIGINT)").as("n_users_exact"),
        (abs(col("__est") - col("n_users_exact")) <=
          ceil(col("n_users_exact") * 0.03)).as("hll_within_bounds"))
  }

  /** Quality-weighted deterministic sampling (engine-portable): each doc's
    * keep probability is its length ratio `n_chars / max(n_chars)` — the
    * data-mixing primitive where weight varies per row, not per stratum
    * (d55 covers that). The md5-prefix gate and integer-rational threshold
    * make the kept set bit-reproducible on ANY md5-capable engine: the
    * oracle recomputes the exact sample, not just its size.
    */
  def d85WeightedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mx = docs.agg(max(col("n_chars")).as("__mx"))
    graft.operators.ScaleOps.deterministicWeightedSample(
        docs.crossJoin(broadcast(mx)), "doc_id", col("n_chars"), col("__mx"))
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_kept"),
        expr("CAST(SUM(n_chars) AS BIGINT)").as("sum_chars"))
  }

  /** Distribution drift between the first and second half of the month
    * (Population Stability Index over 10 fixed value bins, Laplace-smoothed
    * so empty bins are defined). The report-only PSI is rounded; slice
    * membership, bin assignment and all counts are integer/IEEE-exact both
    * engines. Empty bins still contribute (the +1 smoothing) — the bin grid
    * is generated, not observed.
    */
  def d86DriftPsi(s: SparkSession, d: String): DataFrame = {
    val SplitMs = 1705363200000L // 2024-01-16T00:00:00Z — mid-month
    val ev = Tables.events(s, d).select(col("event_type"),
      (col("ts_ms") < lit(SplitMs)).as("__a"),
      least(lit(9), floor(col("value") / 50.0)).cast("int").as("__bin"))
    val counts = ev.groupBy(col("event_type"), col("__bin"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("nb"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(s.range(10).select(col("id").cast("int").as("__bin")))
    val filled = grid.join(counts, Seq("event_type", "__bin"), "left")
      .na.fill(0L, Seq("na", "nb"))
    val totals = filled.groupBy(col("event_type"))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    filled.join(totals, "event_type")
      .withColumn("p", (col("na") + lit(1)).cast("double") / (col("ta") + lit(10)))
      .withColumn("q", (col("nb") + lit(1)).cast("double") / (col("tb") + lit(10)))
      .groupBy(col("event_type"))
      .agg(expr("CAST(MAX(ta) AS BIGINT)").as("n_before"),
        expr("CAST(MAX(tb) AS BIGINT)").as("n_after"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("psi"))
  }

  /** Regexp scrubbing census (the PII-scan shape on PII-free synthetic
    * text): per language, total matches and matching-doc count for an
    * ASCII word pattern. `\b` and the quantifier behave identically in
    * Java regex (Spark) and RE2 (DuckDB) on ASCII input.
    */
  def d87RegexCensus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).groupBy(col("lang"))
      .agg(
        expr("""CAST(SUM(regexp_count(text, '\\b[a-z]{6}\\b')) AS BIGINT)""")
          .as("n_hits"),
        expr("""CAST(SUM(CASE WHEN text RLIKE '\\b[a-z]{6}\\b' THEN 1 ELSE 0 END) AS BIGINT)""")
          .as("n_docs_hit"),
        expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"))

  /** Language-model typicality score: mean corpus frequency of a doc's word
    * bigrams (EVERY occurrence counts — [[graft.plans.NativeExpressions.wordNgramsAll]],
    * not the distinct-shingle dedup formulation). High = built from common
    * transitions (template/repetitive risk), low = rare transitions (noise
    * risk) — the cheap rational-arithmetic stand-in for LM perplexity
    * filtering: integer frequency sums and ONE double division keep the
    * score engine-exact. At 100 TB the model side is a sampled + broadcast
    * count table; here it is exact so DuckDB can recompute it.
    */
  def d88LmTypicality(s: SparkSession, d: String): DataFrame = {
    // NOTE (r9): a fanOut of the bigram explode was measured-REVERTED
    // (0.85 s -> 1.03 s standalone) — same shape as d61: partial
    // aggregation already bounds the shuffle, the exchange wasn't worth it.
    val grams = Tables.documents(s, d).select(col("doc_id"),
      explode(graft.plans.NativeExpressions.wordNgramsAll(
        TextFunctions.tokens(lower(col("text"))), 2)).as("gram"))
    val model = grams.groupBy(col("gram")).agg(count(lit(1)).as("gfreq"))
    grams.join(model, "gram")
      .groupBy(col("doc_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_bigrams"),
        round(sum(col("gfreq")).cast("double") / count(lit(1)), 6).as("typicality"))
  }

  /** Image perceptual near-dup (dHash): synthetic PPM images plus
    * deterministically perturbed copies (id + 1e6, a few ±24 channel
    * tweaks); per perturbed image, the Hamming distance between its dHash
    * and the original's, and whether the generic 64-bit block-probing
    * engine ([[Dedup.hammingPairs64]]) recovered the link — hamming-0
    * twins collapse to one representative there by design, so recovery is
    * `hamming == 0 OR pair emitted`. No SQL oracle (binary decode), but
    * every output value is deterministic; MultimodalSpec pins the
    * semantics.
    */
  def d89ImageDhash(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.syntheticMedia(s, Tables.embeddings(s, d), "vec_id")
      .filter(col("media_type") === "image")
    val base = media.filter(col("media_id") < 60)
    val pert = s.createDataFrame(
      base.select(col("media_id"), col("media_type"), col("bytes"), col("meta"))
        .rdd.map { r =>
          org.apache.spark.sql.Row(
            r.getLong(0) + 1000000L, r.getString(1),
            Multimodal.perturbPpm(r.getAs[Array[Byte]](2), 6, 24, r.getLong(0)),
            r.get(3))
        }, Multimodal.mediaSchema)
    val hashes = Multimodal.imageDHashes(s, media.unionByName(pert)).cache()
    val pairs = Dedup.hammingPairs64(hashes, "media_id", "dhash", maxHamming = 3)
    val linked = hashes.filter(col("media_id") >= 1000000L)
      .select((col("media_id") - 1000000L).as("media_id"), col("dhash").as("__hp"))
      .join(hashes.filter(col("media_id") < 1000000L), Seq("media_id"))
      .select(col("media_id"),
        expr("CAST(bit_count(dhash ^ __hp) AS INT)").as("hamming"))
    val out = linked.join(
        pairs.select(col("id1").as("media_id"), lit(true).as("__found")),
        Seq("media_id"), "left")
      .select(col("media_id"),
        col("hamming").cast("long").as("hamming"),
        (col("hamming") === 0 || coalesce(col("__found"), lit(false))).as("recovered"))
      .localCheckpoint()
    hashes.unpersist()
    out
  }

  /** SemDeDup semantic near-dup census: k-means-bounded cosine pairs over
    * the embedding table, min-id survivor policy, survivors per label.
    * No SQL oracle (clustering bounds the candidate set); the spec checks
    * pair correctness against unblocked all-pairs cosine.
    */
  def d90SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val pairs = Similarity.semanticDedupPairs(
      emb, "vec_id", "embedding", nClusters = 16, threshold = 0.3)
    Dedup.keepMinIdSurvivors(emb, "vec_id", pairs)
      .groupBy(col("label").cast("long").as("label"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_survivors"))
  }

  /** Per-domain frequency cap (the C4/RefinedWeb "at most N pages per
    * host" rule, stratified here by (source, lang)): keep the first 5 docs
    * per stratum in deterministic doc_id order, report the per-source
    * surviving mass. The window is PARTITIONED — each stratum sorts
    * locally after one hash shuffle; no global sort, no driver state. At
    * 100 TB the same plan holds: strata are independent and the cap bounds
    * every group's output regardless of skew.
    */
  def d91SourceCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"), col("lang")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 5)
      .groupBy(col("source"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_kept"),
        expr("CAST(SUM(n_chars) AS BIGINT)").as("sum_chars"))
  }

  /** Vocabulary construction + OOV-rate profiling: build the top-10 global
    * token vocabulary (count DESC, token ASC — deterministic under ties on
    * any engine; 10 of 31 distinct tokens in this corpus, probed so the
    * OOV mass is nonzero and varies per language), then measure each
    * language's out-of-vocabulary token mass. Two aggregations and one
    * broadcast: the vocab is tiny by construction (top-k of a
    * TakeOrderedAndProject), so the join back is map-side; the corpus is
    * scanned once per pass and never shuffled by token. Integer counts +
    * ONE division keep the rate engine-exact.
    */
  def d92VocabOov(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("lang"),
        explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("tok").asc)
      .limit(10)
      .select(col("tok"), lit(true).as("__inv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_tokens"),
        expr("CAST(SUM(CASE WHEN __inv IS NULL THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_oov"),
        round(sum(when(col("__inv").isNull, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("oov_rate"))
  }

  /** Training-mixture rebalancing to a uniform language target: each
    * language keeps with probability minCount/count_lang (an exact integer
    * rational), gated by the engine-portable md5-prefix uniform — the
    * two-pass data-mixing primitive (count strata → broadcast rates → one
    * shuffle-free gate over the corpus). The oracle re-derives the exact
    * kept SET, not just its size: the sample is bit-reproducible on any
    * md5-capable engine, so a retried task or a different engine keeps
    * identical rows.
    */
  def d93MixtureRebalance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__mn"))
    graft.operators.ScaleOps.deterministicWeightedSample(
        docs.join(broadcast(counts), "lang").crossJoin(broadcast(minN)),
        "doc_id", col("__mn"), col("__n"))
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_kept"),
        expr("CAST(SUM(n_chars) AS BIGINT)").as("sum_chars"))
  }

  /** Continuous contamination scoring (the fraction refinement of d57's
    * binary gate): per training doc, what fraction of its DISTINCT word
    * 8-grams verbatim-overlap the eval slice. Eval grams are broadcast
    * (the eval set is small by contract); the corpus side is map-only —
    * explode + broadcast-join + per-doc aggregate, no corpus shuffle by
    * gram. Integer counts + ONE division = engine-exact fraction.
    */
  def d94ContaminationFrac(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isEval = col("source").isin("src0", "src1")
    // NOTE (r9): fanOuts of both shingle explodes were measured-REVERTED
    // (0.85 s -> 1.27 s standalone): the broadcast-join + partial-agg
    // pipeline is cheap enough that two extra exchanges dominate.
    val evalGrams = docs.filter(isEval)
      .select(explode(TextFunctions.wordShingles(col("text"), 8)).as("gram"))
      .distinct()
      .select(col("gram"), lit(true).as("__hit"))
    docs.filter(!isEval)
      .select(col("doc_id"),
        explode(TextFunctions.wordShingles(col("text"), 8)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_grams"),
        expr("CAST(SUM(CASE WHEN __hit THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_shared"),
        round(sum(when(col("__hit"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("contamination"))
  }

  /** Event-type co-occurrence (market-basket over (user, day) baskets):
    * which event types fire together in a user-day. One shuffle builds the
    * per-basket distinct type set (bounded by the event-type vocabulary,
    * NOT by basket size — collect_set of a 5-value enum), pairs expand
    * in-group from the sorted set (≤ k²/2 per basket), then a tiny
    * aggregate. The self-join formulation would shuffle the event table
    * twice and explode skewed users; this shape is one pass and
    * skew-bounded by construction.
    */
  def d95EventPairs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("__day"),
        col("event_type"))
      .groupBy(col("user_id"), col("__day"))
      .agg(sort_array(collect_set(col("event_type"))).as("__ts"))
      .select(explode(expr(
        """flatten(transform(__ts, (x, i) ->
          |  transform(slice(__ts, i + 2, size(__ts)),
          |            y -> struct(x AS t1, y AS t2))))""".stripMargin)).as("__p"))
      .groupBy(col("__p.t1").as("t1"), col("__p.t2").as("t2"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_baskets"))

  /** Length-outlier flagging via per-language percent_rank (the quantile
    * normalization a mixed-language corpus needs before length filtering —
    * a global cutoff over-prunes terse scripts like zh). percent_rank =
    * (rank-1)/(n-1) over the unique (n_chars, doc_id) order: an exact
    * integer rational, identical in any IEEE engine, so filtering on the
    * RAW value is portable. Partitioned window — no global sort.
    */
  def d96LengthPercentile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") < 0.1)
      .select(col("doc_id"), col("lang"),
        expr("CAST(n_chars AS BIGINT)").as("n_chars"),
        round(col("__pr"), 6).as("pct_rank"))
  }

  /** md5 of the absolute input path, 16 hex chars — the scratch-path tag for
    * queries that materialize per input dir (String.hashCode is 32-bit; two
    * dirs colliding would silently mix tables built from another dataset).
    */
  private def pathTag(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(d).getAbsolutePath.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Bucketed co-located join: both fact tables are written bucketed+sorted
    * on the join key ([[graft.operators.ScaleOps.writeBucketed]]), then
    * joined back — the layout that makes a repeated 100 TB fact-to-fact
    * join shuffle-FREE (bucket n joins bucket n, no exchange on either
    * side; BucketedJoinSpec pins that plan shape under forced-shuffle
    * confs). The battery row checks the end-to-end result through the
    * write→catalog→read→join path; money mass through the exact
    * fixed-point SUM.
    *
    * The bucketed copies live at a FIXED per-(user, input-dir) path in
    * overwrite mode — re-runs replace rather than accumulate (an
    * applicationId-suffixed path would leak a full table copy per session).
    * Single-writer contract: battery runs are sequential by construction;
    * two concurrent sessions over the same input dir would race the
    * overwrite, same as any shared external table.
    *
    * The write is a [[RunScope]] entry: a bench rep re-running the query
    * measures the READ+JOIN — the steady-state cost the bucketed layout
    * exists to demonstrate — not a table rewrite the first rep already
    * did. The entry is never invalidated within a scope (data regenerated
    * under the same path mid-scope would be served stale — fine for the
    * battery's immutable inputs); its release is a no-op, so d97 rewrites
    * the tables after a drain. The write path itself stays pinned by
    * BucketedJoinSpec. Path tag: [[pathTag]].
    */
  def d97BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = pathTag(d)
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_bucketed_" + System.getProperty("user.name", "anon")).getAbsolutePath
    RunScope.getOrBuild(s, d, "d97bucketed") {
      graft.operators.ScaleOps.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        s"graft_bo_$tag", s"$base/bo_$tag", Seq("o_orderkey"), 8)
      graft.operators.ScaleOps.writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice")),
        s"graft_bl_$tag", s"$base/bl_$tag", Seq("l_orderkey"), 8)
    }(_ => ())
    val o = s.table(s"graft_bo_$tag")
    val l = s.table(s"graft_bl_$tag")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy((col("o_custkey") % 100).as("cust_bucket"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_items"),
        expr("CAST(graft_money_sum(l_quantity, 2) AS DOUBLE)").as("sum_qty"),
        expr("CAST(graft_money_sum(l_extendedprice, 2) AS DOUBLE)").as("sum_price"))
  }

  /** Full-outer reconciliation of two activity calendars (order days vs
    * event days — DISJOINT ranges in this data, so the join type is
    * maximally load-bearing: inner yields 0 rows, either one-sided outer
    * drops a whole side). The day grains are pre-aggregated BEFORE the
    * join — the outer join moves one row per day, not one per record,
    * which is what keeps a calendar reconciliation cheap at 100 TB.
    */
  def d98FullOuter(s: SparkSession, d: String): DataFrame = {
    val odays = Tables.orders(s, d)
      // o_orderdate is TIMESTAMP_NTZ; the session runs UTC (GraftSession),
      // so unix_millis(CAST(..)) == DuckDB epoch_ms. Spark `div` and DuckDB
      // `//` BOTH truncate toward zero (neither is floor division) —
      // identical here, and all epoch-ms values are positive anyway
      .select(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000")
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("__no"))
    val edays = Tables.events(s, d)
      .select(expr("ts_ms div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("__ne"))
    odays.join(edays, Seq("day"), "full_outer")
      .select(col("day"),
        expr("CAST(coalesce(__no, 0) AS BIGINT)").as("n_orders"),
        expr("CAST(coalesce(__ne, 0) AS BIGINT)").as("n_events"))
  }

  /** Regex redaction transform (the PII-scrub WRITE path; d87 is the scan):
    * mask every standalone 6-letter lowercase word and report the redacted
    * text plus how many characters survived. Map-only — the whole transform
    * runs inside the scan stage's codegen; Java regex and RE2 agree on
    * ASCII classes, so the redacted STRINGS (not just counts) hash-check
    * across engines.
    */
  def d99Redact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(col("text"), "\\b[a-z]{6}\\b", "[MASK]").as("text_redacted"))
      .withColumn("n_chars_redacted", length(col("text_redacted")).cast("long"))

  /** Deterministic RANDOM per-stratum cap (the variant of d91 real
    * pipelines run: keep K random docs per domain, not the first K — head
    * selection biases toward crawl order). "Random" is the md5 hex of the
    * doc id: uniform, engine-portable, retry-stable, and the oracle
    * re-derives the exact kept SET. Partitioned window, no global sort;
    * doc_id tiebreak keeps the order total even under md5 collisions.
    */
  def d100RandomCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 10)
      .select(col("doc_id"), col("source"),
        expr("CAST(n_chars AS BIGINT)").as("n_chars"))
  }

  /** Snapshot novelty rate: what fraction of each NEW-batch doc's distinct
    * word 8-grams are absent from the standing corpus (the crawl-value
    * metric — a batch that is 95% seen content is not worth ingesting).
    * Unlike d94 (tiny eval set → broadcast), the corpus gram set is
    * corpus-sized, so this is the OTHER join regime: both sides hash-
    * shuffle on the gram key (batch side exploded, corpus side distinct) —
    * the shape that survives when the reference set cannot broadcast.
    * Integer counts + ONE division keep the rate engine-exact.
    */
  def d101NoveltyRate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isNew = col("doc_id") % 7 === 0
    val corpusGrams = docs.filter(!isNew)
      .select(explode(TextFunctions.wordShingles(col("text"), 8)).as("gram"))
      .distinct()
      .select(col("gram"), lit(true).as("__seen"))
    docs.filter(isNew)
      .select(col("doc_id"),
        explode(TextFunctions.wordShingles(col("text"), 8)).as("gram"))
      .join(corpusGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_grams"),
        expr("CAST(SUM(CASE WHEN __seen IS NULL THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_novel"),
        round(sum(when(col("__seen").isNull, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("novelty"))
  }

  /** Substring-level span dedup (the token-granular pass AFTER doc-level
    * dedup — [[graft.operators.Dedup.maskDuplicatedSpans]]): every token
    * covered by a corpus-duplicated word 8-gram is removed, clean docs
    * pass through untouched. The rebuilt TEXT itself hash-checks against
    * the oracle, not just the counts.
    */
  def d102SpanDedup(s: SparkSession, d: String): DataFrame =
    Dedup.maskDuplicatedSpans(Tables.documents(s, d), "doc_id", "text",
      n = 8, minGlobalCount = 2)

  /** Edit-distance near-dup verification (the character-granular verify
    * tier below d25's token Jaccard): blocked candidates (same lang +
    * exact char length — the cheap equality block) are scored with
    * Levenshtein, keeping pairs within 120 edits (probed discriminating:
    * 19 of 73 blocked pairs survive). The distance is an INTEGER — the
    * filter is engine-exact — and the reported similarity is one integer
    * quotient. Spark and DuckDB both implement classic Levenshtein (no
    * transpositions), so the scores hash-check.
    */
  def d103EditDistance(s: SparkSession, d: String): DataFrame =
    // n_chars > 0 guards the similarity division below (an n_chars/text
    // inconsistency in the data would otherwise yield Infinity/NaN, which
    // Spark and DuckDB serialize differently); a zero-length block is
    // degenerate for edit-distance anyway. The scale shape (exact-dup
    // collapse, capped equality blocks, unconditional repartition before
    // the Levenshtein self-join) lives in [[Dedup.editDistancePairs]].
    Dedup.editDistancePairs(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .filter(col("n_chars") > 0),
      "doc_id", "text", Seq("lang", "n_chars"), maxEdit = 120, maxBlockSize = 1000)
      .select(col("id1"), col("id2"), col("edit_dist"),
        round(lit(1.0) - col("edit_dist").cast("double") / col("n_chars"), 6).as("sim"))

  /** Robust outlier detection via median absolute deviation (the
    * heavy-tail-safe complement of d72's z-score — mean/stddev are
    * themselves dragged by the outliers they hunt; median/MAD are not).
    * Two tiny per-type aggregates broadcast back to the event stream —
    * the stream shuffles once per aggregate, never for the flagging pass.
    * Both engines interpolate the exact percentile identically (proven by
    * d40), deviations subtract identical doubles, so the `ad > 3 * mad`
    * gate is engine-exact on raw values; only reported stats are rounded.
    */
  def d104MadOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("__med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("__ad", abs(col("value") - col("__med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(__ad, 0.5)").as("__mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(expr("CAST(SUM(CASE WHEN __ad > 3 * __mad THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_outliers"),
        expr("CAST(COUNT(*) AS BIGINT)").as("n_events"),
        round(max(col("__med")), 4).as("med"),
        round(max(col("__mad")), 4).as("mad"))
  }

  /** Token-MASS-weighted median doc length per language (the length-budget
    * planning stat: half the corpus BYTES sit in docs at least this long —
    * the row-median under-weights the large docs that dominate training
    * cost). No native weighted-percentile needed: a partitioned cumulative
    * sum over the unique (n_chars, doc_id) order + one conditional min.
    * All-integer arithmetic — engine-exact, no rounding anywhere.
    */
  def d105WeightedMedian(s: SparkSession, d: String): DataFrame = {
    val wRun = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val wAll = Window.partitionBy(col("lang"))
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("__cum", sum(col("n_chars")).over(wRun))
      .withColumn("__tot", sum(col("n_chars")).over(wAll))
      .groupBy(col("lang"))
      .agg(expr("CAST(MIN(CASE WHEN 2 * __cum >= __tot THEN n_chars END) AS BIGINT)")
          .as("wmedian"),
        expr("CAST(MAX(__tot) AS BIGINT)").as("total_chars"))
  }

  /** Character-entropy quality signal (the cheapest "text or noise" gate):
    * Shannon entropy of each doc's code-point distribution via the native
    * map-only [[graft.plans.NativeExpressions.charEntropy]] — ZERO
    * exchanges until the final sort-free projection; the expression sums
    * in sorted code-point order so the double is deterministic. The
    * low-entropy gate compares RAW doubles (cross-engine ln-sum noise
    * ~1e-14; the nearest doc sits 4.3e-4 from the 2.65 cutoff — probed);
    * only the reported entropy is rounded.
    */
  def d106CharEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("CAST(n_chars AS BIGINT)").as("n_chars"),
        graft.plans.NativeExpressions.charEntropy(col("text")).as("__e"))
      .select(col("doc_id"), col("n_chars"),
        round(col("__e"), 4).as("entropy"),
        (col("__e") < 2.65).as("low_entropy"))

  /** Cross-source duplicate-overlap matrix (crawl provenance: which
    * sources re-serve each other's content): count normalized-content keys
    * present in BOTH sources of a pair. Same in-group pair expansion as
    * d95 — one shuffle builds each key's distinct source set (bounded by
    * the source vocabulary, never by corpus size), pairs expand in place;
    * the self-join formulation would shuffle the key table twice and
    * explode hot keys quadratically.
    */
  def d107SourceOverlap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), Dedup.normalizedContentKey(col("text")).as("__key"))
      // collect_set dedups sources per key by itself — a pre-distinct
      // would be a second full shuffle for the same answer
      .groupBy(col("__key"))
      .agg(sort_array(collect_set(col("source"))).as("__ss"))
      .select(explode(expr(
        """flatten(transform(__ss, (x, i) ->
          |  transform(slice(__ss, i + 2, size(__ss)),
          |            y -> struct(x AS s1, y AS s2))))""".stripMargin)).as("__p"))
      .groupBy(col("__p.s1").as("s1"), col("__p.s2").as("s2"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_shared"))

  /** Windowed event dedup (at-least-once ingest hygiene: keep ONE event
    * per (user, type, hour), earliest wins with event_id tiebreak — the
    * idempotency pass every event pipeline runs before aggregation).
    * Partitioned window, one shuffle, no global sort; 92 of 10000 events
    * collapse at sf0.01 (probed — the rank filter is load-bearing).
    */
  def d108WindowedDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"), expr("ts_ms div 3600000"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(s, d)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("event_type"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_kept"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** Time-weighted average value per (user, day) — TWAP over irregular
    * event arrivals (a plain AVG over-weights bursts; the duration-
    * weighted mean is what monitoring and pricing actually want). Each
    * event's weight is the integer-ms gap to the next event in the same
    * day (LEAD over the unique (ts, id) order); one partitioned window +
    * one aggregate. Products are double×exact-integer; only the reported
    * quotient is rounded.
    */
  def d109Twap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("__day"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("__day"),
        col("ts_ms"), col("event_id"), col("value"))
      .withColumn("__dt", (lead(col("ts_ms"), 1).over(w) - col("ts_ms")).cast("double"))
      .filter(col("__dt").isNotNull)
      .groupBy(col("user_id"), col("__day").as("day"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_gaps"),
        round(sum(col("value") * col("__dt")) / sum(col("__dt")), 6).as("twap"),
        sum(col("__dt")).as("__w"))
      // all-gaps-zero groups (every event on one millisecond) would divide
      // 0/0 → NaN, which DuckDB and Spark serialize differently — drop them
      .filter(col("__w") > 0)
      .drop("__w")
  }

  /** Ratio-to-report (share-of-total contribution): each nation's revenue
    * share of its region's total. Pre-aggregate to nation grain FIRST,
    * then a window total over the tiny aggregate — the window moves 25
    * rows, never the fact stream. Numerator and denominator are exact
    * DECIMAL money sums; the share is ONE division of exact doubles,
    * rounded for report.
    */
  def d110RevenueShare(s: SparkSession, d: String): DataFrame = {
    val byNation = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(expr("CAST(graft_money_sum(o_totalprice, 2) AS DOUBLE)").as("revenue"))
    byNation
      .withColumn("__rtot", sum(col("revenue")).over(Window.partitionBy(col("r_name"))))
      .select(col("r_name"), col("n_name"),
        round(col("revenue"), 2).as("revenue"),
        round(col("revenue") / col("__rtot"), 6).as("region_share"))
  }

  /** Year-over-year growth (the trend shape every reporting stack runs):
    * yearly order revenue with LAG-based absolute and relative deltas.
    * One aggregate to year grain (DECIMAL-exact), one window over a
    * handful of rows. The relative delta divides two exact doubles —
    * rounded for report only.
    */
  def d111YoyGrowth(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("year"))
    Tables.orders(s, d)
      .groupBy(expr("CAST(year(o_orderdate) AS BIGINT)").as("year"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_orders"),
        expr("CAST(graft_money_sum(o_totalprice, 2) AS DOUBLE)").as("__rev"))
      .withColumn("__prev", lag(col("__rev"), 1).over(w))
      .select(col("year"), col("n_orders"),
        round(col("__rev"), 2).as("revenue"),
        round(col("__rev") - col("__prev"), 2).as("yoy_abs"),
        round((col("__rev") - col("__prev")) / col("__prev"), 6).as("yoy_rel"))
  }

  /** Per-language equi-depth length histogram (the adaptive-binning
    * counterpart of d71's fixed-width bins — equal POPULATION per bucket,
    * data-dependent boundaries): NTILE(4) over the unique (n_chars,
    * doc_id) order within each language partition. Rank-based bucketing
    * is exact and engine-identical under a total order; the window is
    * PARTITIONED so no global sort exists. At 100 TB swap the boundary
    * step to approx_percentile (d56) and keep the same report.
    */
  def d112EquidepthHist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("__bucket", ntile(4).over(w))
      .groupBy(col("lang"), col("__bucket").cast("long").as("bucket"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(MIN(n_chars) AS BIGINT)").as("lo"),
        expr("CAST(MAX(n_chars) AS BIGINT)").as("hi"))
  }

  /** Revenue concentration per market segment (the Pareto audit: how much
    * of a segment's revenue its top customer-decile holds). Per-customer
    * revenue aggregates DECIMAL-exact; the decile rank orders by the
    * EXACT decimal (descending, custkey tiebreak) inside each segment
    * partition; one division at report time. The window moves one row per
    * customer per segment — never the order stream.
    */
  def d113ParetoShare(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(expr("graft_money_sum(o_totalprice, 2)").as("__rev"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("__rev").desc, col("c_custkey").asc)
    perCust.withColumn("__decile", ntile(10).over(w))
      .groupBy(col("c_mktsegment"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_customers"),
        round(sum(when(col("__decile") === 1, col("__rev")).otherwise(lit(0)))
          .cast("double") / sum(col("__rev")).cast("double"), 6)
          .as("top_decile_share"))
  }

  /** Three-way tagged CoGroupByKey ([[graft.api.PCollection.coGroupByKeyTagged]]
    * — Beam's N-ary CoGBK through the reference's composite expansion,
    * translator.py:446): high-balance customers, big orders, and events
    * cogrouped on one key in ONE shuffle (chained binary cogroups would pay
    * an extra shuffle of the accumulated left side). The three inputs are
    * filtered so every tag-emptiness class occurs (probed at sf0.01:
    * customers with no big orders, order keys whose customer row is
    * filtered out, keys 150+ with no events) — a dropped tag or a lost
    * empty-bag row changes the answer. Oracle: DuckDB 3-way FULL OUTER.
    */
  def d114ThreeWayCogroup(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val p = Pipeline(s)
    val custs = p.fromDataset(
      Tables.customer(s, d).filter(col("c_acctbal") > 0)
        .select(col("c_custkey"), col("c_acctbal")).as[(Long, Double)])
    val ords = p.fromDataset(
      Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)])
    val evs = p.fromDataset(
      Tables.events(s, d).select(col("user_id"), col("value")).as[(Long, Double)])
    custs.coGroupByKeyTagged[Long, Double]("cust", "ord" -> ords, "ev" -> evs)
      .map { case (k, m) =>
        // money mass through exact DECIMAL(18,2) — the battery's standing
        // money-sum convention (graft_money_sum in the relational layer);
        // setScale(HALF_UP) == Spark's double→DECIMAL cast, so the sum is
        // bit-identical to the oracle's SUM(CAST(... AS DECIMAL(18,2)))
        // at any size, not just while round(,4) can absorb order noise
        val sumPrice = m("ord").foldLeft(BigDecimal(0))((a, v) =>
          a + BigDecimal(v).setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP))
        (k, m("cust").size.toLong, m("ord").size.toLong, m("ev").size.toLong,
          sumPrice.toDouble)
      }
      .toDataset.toDF("k", "n_cust", "n_orders", "n_events", "sum_price")
      .withColumn("sum_price", round(col("sum_price"), 4))
  }

  /** Avro source/sink round-trip through [[graft.sources.AvroIO]] (the
    * engine's own avro-core reader/writer — no spark-avro connector on this
    * classpath): project, write one container file per partition, read back
    * via the sync-marker-splitting reader, aggregate. The integer aggregate
    * pins row fidelity; `score` rides the bytes+decimal logical type
    * (n_chars × 0.25 — exact at scale 2 in both engines), so its exact
    * decimal sum is bit-identical to the parquet-direct oracle and a scale
    * or sign mangled in the Avro hop changes it. Same deliberate
    * write-on-build contract as d70's ORC round-trip. The scratch path is
    * FIXED per (user, input dir) — AvroIO.write's overwrite deletes stale
    * parts, so re-runs replace rather than accumulate (an
    * applicationId-suffixed path would leak a table copy per session);
    * single-writer contract as d97.
    */
  def d115AvroRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_avro_" + System.getProperty("user.name", "anon") + "_" + pathTag(d))
      .getAbsolutePath
    graft.sources.AvroIO.write(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"),
        expr("CAST(n_chars AS DECIMAL(16,0)) * CAST(0.25 AS DECIMAL(3,2))")
          .as("score")), path)
    graft.sources.AvroIO.read(s, path)
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(SUM(n_chars) AS BIGINT)").as("sum_chars"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("first_doc"),
        expr("CAST(MAX(doc_id) AS BIGINT)").as("last_doc"),
        expr("CAST(SUM(score) AS DOUBLE)").as("sum_score"))
  }

  /** Per-user inter-event cadence profile (the engagement-shape stat behind
    * bot filtering and session design): consecutive-gap extrema and mean,
    * plus a burstiness gate — `max_gap × n_gaps > 5 × span` is an INTEGER
    * cross-multiplication, engine-exact with no epsilon (probed splitting
    * 50/150 users at sf0.01, so a dropped factor changes the answer). The
    * LAG window partitions per user over the unique (ts_ms, event_id)
    * order — no global sort; one shuffle feeds both the window and the
    * per-user aggregate.
    */
  def d116EventCadence(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_ms"))
      .withColumn("__gap", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        expr("CAST(COUNT(*) + 1 AS BIGINT)").as("n_events"),
        expr("CAST(SUM(__gap) AS BIGINT)").as("span_ms"),
        expr("CAST(MIN(__gap) AS BIGINT)").as("min_gap"),
        expr("CAST(MAX(__gap) AS BIGINT)").as("max_gap"),
        round(sum(col("__gap")).cast("double") / count(lit(1)), 6).as("mean_gap"),
        (max(col("__gap")) * count(lit(1)) > lit(5L) * sum(col("__gap"))).as("bursty"))
  }

  /** Association lift between event types over (user, day) baskets —
    * d95's co-occurrence counts promoted to the independence-ratio metric
    * (`lift = N·n_ab / (n_a·n_b)`; association-rule mining's core statistic).
    * Basket build is d95's skew-bounded shape (one map-side-combinable
    * shuffle, in-group pair expansion — never a self-join of the event
    * stream); the singles and total frames are type-vocabulary-sized and
    * broadcast back. All counts integer, ONE multiply + ONE division on
    * exact integer-valued doubles — engine-identical before the rounding.
    */
  def d117EventLift(s: SparkSession, d: String): DataFrame = {
    def baskets = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("__day"),
        col("event_type"))
      .groupBy(col("user_id"), col("__day"))
      .agg(sort_array(collect_set(col("event_type"))).as("__ts"))
    val total = baskets.select(count(lit(1)).as("__n"))
    val singles = baskets.select(explode(col("__ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("__nx"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(__ts, (x, i) ->
          |  transform(slice(__ts, i + 2, size(__ts)),
          |            y -> struct(x AS t1, y AS t2))))""".stripMargin)).as("__p"))
      .groupBy(col("__p.t1").as("t1"), col("__p.t2").as("t2"))
      .agg(count(lit(1)).as("__nab"))
    pairs
      .join(broadcast(singles.select(col("t").as("t1"), col("__nx").as("__na"))), "t1")
      .join(broadcast(singles.select(col("t").as("t2"), col("__nx").as("__nb"))), "t2")
      .crossJoin(broadcast(total))
      .select(col("t1"), col("t2"),
        expr("CAST(__nab AS BIGINT)").as("n_ab"),
        expr("CAST(__na AS BIGINT)").as("n_a"),
        expr("CAST(__nb AS BIGINT)").as("n_b"),
        // divide TWICE rather than form n_a*n_b: the integer product wraps
        // Spark longs past 2^63 (DuckDB errors on the same overflow) once
        // two dominant types each clear ~3e9 baskets. Same left-to-right
        // IEEE op order as the oracle → still bit-identical.
        round(col("__nab").cast("double") * col("__n") / col("__na") / col("__nb"), 6)
          .as("lift"))
  }

  /** Weekly-active stickiness (DAU/WAU per day) on the order calendar.
    * The scale-critical move: the trailing-7-day distinct count is NOT a
    * range join of the day grid against user-days (O(days × activity)
    * nested-loop at corpus scale) — each user-day instead EXPANDS into the
    * 7 window anchors it contributes to (`sequence(day, day+6)`), turning
    * the whole thing into one equi-shuffle + count distinct. 7× row
    * expansion buys hash parallelism; the oracle states the same result
    * as the naive BETWEEN join. Only days with actual activity report.
    */
  def d118Stickiness(s: SparkSession, d: String): DataFrame = {
    // NOTE (r10, measured-REVERTED): checkpointing `ud` for the two
    // consumers below changed NOTHING at runtime (JobProbe: jobs 8→8,
    // tasks 15→15, taskSec 2.66→2.52, wall flat-to-up) — the static plan
    // shows the distinct subtree twice, but AQE's runtime stage reuse
    // already dedups matching SHUFFLE exchange stages (unlike the
    // broadcast-fed duplicates d197 fixed), so the checkpoint only added
    // its own action. Static plan duplication alone is not evidence.
    val ud = Tables.orders(s, d)
      .select(col("o_custkey").as("u"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("__dau"))
    val wau = ud
      .select(col("u"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("u")).as("__wau"))
    dau.join(wau, "day")
      .select(col("day").cast("long").as("day"),
        expr("CAST(__dau AS BIGINT)").as("dau"),
        expr("CAST(__wau AS BIGINT)").as("wau"),
        round(col("__dau").cast("double") / col("__wau"), 6).as("stickiness"))
  }

  /** RFM segmentation (recency / frequency / monetary quartiles → segment
    * census) — the classic customer-base profile, quartiled PER MARKET
    * SEGMENT so every NTILE window partitions (no global sort; the same
    * discipline as d112/d113). One customer-grain aggregate (exact money
    * via the fixed-point SUM), three sorts inside ONE window shuffle, then
    * a tiny census aggregate. Every ordering carries the unique custkey
    * tiebreak so quartile boundaries are rank-exact cross-engine.
    */
  def d119RfmSegments(s: SparkSession, d: String): DataFrame = {
    val m = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_custkey"))
      .agg(max(col("o_orderdate")).as("__rec"),
        count(lit(1)).as("__freq"),
        expr("graft_money_sum(o_totalprice, 2)").as("__mon"))
    def quartile(order: org.apache.spark.sql.Column) = ntile(4).over(
      Window.partitionBy(col("c_mktsegment")).orderBy(order, col("o_custkey").asc))
    m.withColumn("__r", quartile(col("__rec").asc))
      .withColumn("__f", quartile(col("__freq").asc))
      .withColumn("__m", quartile(col("__mon").asc))
      .groupBy(col("c_mktsegment"),
        (col("__r") * 100 + col("__f") * 10 + col("__m")).cast("long").as("rfm"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_customers"))
  }

  /** Z-order clustered-layout round-trip ([[graft.operators.ScaleOps
    * .writeZOrdered]]): write lineitem clustered on (l_orderkey, l_partkey),
    * read the clustered files back, recompute the Morton key from the
    * read-back columns and aggregate per key-range bucket. The per-bucket
    * counts/sums prove the layout hop lost nothing; min/max of the
    * recomputed key pin the bit-interleave arithmetic cross-engine (the
    * oracle spells the same interleave out as 42 shift/mask terms on the
    * ORIGINAL parquet — a placement or masking bug lands bits elsewhere and
    * every bucket hash changes). The pruning BENEFIT of the layout is
    * measured against a round-robin twin in ZOrderLayoutSpec (a content
    * oracle cannot see file boundaries). Same deliberate write-on-build
    * scratch contract as d70/d115: path fixed per (user, input dir),
    * overwrite mode, single-writer.
    */
  def d136ZorderLayout(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_zorder_" + System.getProperty("user.name", "anon") + "_" + pathTag(d))
      .getAbsolutePath
    graft.operators.ScaleOps.writeZOrdered(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
      Seq("l_orderkey", "l_partkey"), path, numFiles = 16)
    val z = graft.plans.NativeExpressions.zorderKey(
      Seq(col("l_orderkey").cast("long"), col("l_partkey").cast("long")), bitsPerDim = 21)
    s.read.parquet(path)
      .withColumn("__z", z)
      .groupBy(shiftright(col("__z"), 22).as("zbucket"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_rows"),
        expr("CAST(SUM(l_orderkey) AS BIGINT)").as("sum_okey"),
        expr("CAST(SUM(l_partkey) AS BIGINT)").as("sum_pkey"),
        expr("CAST(graft_money_sum(l_quantity, 2) AS DOUBLE)").as("sum_qty"),
        expr("CAST(MIN(__z) AS BIGINT)").as("min_z"),
        expr("CAST(MAX(__z) AS BIGINT)").as("max_z"))
  }

  /** Bloom-indexed export round-trip ([[graft.operators.ScaleOps
    * .writeWithBloomFilters]]): write orders with a parquet bloom filter on
    * o_custkey, read back and serve a point-lookup workload (every 97th
    * customer). Content fidelity through the bloom-optioned writer is the
    * oracle-checked substance (the option must never change WHAT is
    * written); the footer actually carrying the filter, and the filter
    * pruning row groups for exactly this probe shape, are pinned in
    * ZOrderLayoutSpec. Scratch contract as d136.
    */
  def d137BloomExport(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_bloom_" + System.getProperty("user.name", "anon") + "_" + pathTag(d))
      .getAbsolutePath
    graft.operators.ScaleOps.writeWithBloomFilters(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      path, Seq("o_custkey"), expectedDistinct = 20000)
    s.read.parquet(path)
      .filter(col("o_custkey") % 97 === 0)
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_orders"),
        expr("CAST(MIN(o_orderkey) AS BIGINT)").as("first_order"),
        expr("CAST(graft_money_sum(o_totalprice, 2) AS DOUBLE)").as("sum_price"))
  }

  /** CDC merge ([[graft.operators.ScaleOps.applyChanges]]): a deterministic
    * change set derived from the base itself — every key mod 7: 0 deletes,
    * 1-2 update (price +10.00, status 'U'; the add is the same IEEE double
    * op in both engines), 3 inserts under a NEGATED key (-1 - k: base keys
    * are non-negative in any corpus, so the synthetic insert can never
    * collide with a real row — the former +10^9 shift collided with
    * MakeScaled's copy stride at 10x) — applied to the
    * orders snapshot. The full merged snapshot is dumped, so a row
    * misrouted by any branch (a delete surviving, an update duplicated, an
    * insert colliding) changes the driver's hash. One change per key by
    * construction (mod classes are disjoint), so the no-seqCol contract
    * applies; last-wins sequencing is spec-gated in ScaleOpsSpec.
    */
  def d138UpsertMerge(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
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
    graft.operators.ScaleOps.applyChanges(base, changes, Seq("o_orderkey"), "op")
  }

  /** Snapshot diff ([[graft.operators.ScaleOps.snapshotDiff]]): two
    * independently constructed snapshots — the orders base and its mod-7
    * mutation (the d138 change pattern: 0 deleted, 1-2 repriced +10.00 and
    * restatused, 3 cloned under a negated key (see d138), 4-6 untouched) — and the
    * emitted change log is dumped. The oracle is the GENERATOR: DuckDB
    * spells out the exact I/U/D rows the mutation implies, so a diff that
    * misses an update, invents a change for an untouched row, or carries
    * the wrong side's values breaks the hash. The round-trip law
    * (applyChanges(before, diff) == after) is spec-gated in ScaleOpsSpec.
    */
  def d140SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val m = col("o_orderkey") % 7
    val after = base.filter(m =!= 0 && m =!= 3)
      .withColumn("o_orderstatus",
        when(m.isin(1, 2), lit("U")).otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(m.isin(1, 2), col("o_totalprice") + 10.0).otherwise(col("o_totalprice")))
      .unionByName(base.filter(m === 3))
      .unionByName(base.filter(m === 3)
        .withColumn("o_orderkey", lit(-1L) - col("o_orderkey")))
    graft.operators.ScaleOps.snapshotDiff(base, after, Seq("o_orderkey"))
  }

  /** Small-file compaction round-trip ([[graft.operators.ScaleOps
    * .compactFiles]]): fragment documents into 32 small files, compact to a
    * quarter-of-total byte target, and aggregate the compacted copy per
    * language — count, char mass, and doc_id extremes make a dropped,
    * duplicated, or truncated row visible to the driver's hash. The
    * file-count and no-shuffle properties are spec-gated (ScaleOpsSpec);
    * content fidelity through the fragment+compact hop is what the oracle
    * checks. Scratch contract as d136 (path fixed per (user, input dir),
    * overwrite, single-writer).
    */
  def d141Compaction(s: SparkSession, d: String): DataFrame = {
    val frag = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_compact_frag_" + System.getProperty("user.name", "anon") + "_" + pathTag(d))
      .getAbsolutePath
    val packed = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_compact_out_" + System.getProperty("user.name", "anon") + "_" + pathTag(d))
      .getAbsolutePath
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      .repartition(32).write.mode("overwrite").parquet(frag)
    val bytes = new org.apache.hadoop.fs.Path(frag)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(frag)).getLength
    graft.operators.ScaleOps.compactFiles(s, frag, packed,
      targetBytes = math.max(1L, bytes / 4))
    s.read.parquet(packed)
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(SUM(LENGTH(text)) AS BIGINT)").as("n_chars"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("min_doc"),
        expr("CAST(MAX(doc_id) AS BIGINT)").as("max_doc"))
  }

  /** Incremental aggregate maintenance ([[graft.operators.ScaleOps
    * .incrementalAgg]]): the per-customer order count and DECIMAL(18,2)
    * revenue aggregate is maintained through the mod-7 retract log (D → -1
    * old, U → -1 old +1 new, I → +1 new) and must equal DuckDB's FULL
    * RECOMPUTE over the post-change snapshot — the materialized-view
    * equivalence, cross-engine, at exact-decimal arithmetic. The base table
    * is read once for the seed aggregate and once to derive the log; the
    * maintenance step itself touches only the aggregate and the log.
    */
  def d142IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("amt"))
    val prevAgg = base.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("amt")).as("amt"))
    val m = col("o_orderkey") % 7
    val retract = lit(-1); val insert = lit(1)
    val log = base.filter(m === 0).withColumn("w", retract)
      .unionByName(base.filter(m.isin(1, 2)).withColumn("w", retract))
      .unionByName(base.filter(m.isin(1, 2))
        .withColumn("amt", (col("amt") + expr("CAST(10.00 AS DECIMAL(18,2))"))
          .cast("decimal(18,2)"))
        .withColumn("w", insert))
      .unionByName(base.filter(m === 3)
        .withColumn("o_orderkey", lit(-1L) - col("o_orderkey"))
        .withColumn("w", insert))
      .select(col("o_custkey"), col("amt"), col("w"))
    graft.operators.ScaleOps.incrementalAgg(prevAgg, log, Seq("o_custkey"), "w", Seq("amt"))
      .select(col("o_custkey"), col("cnt").as("n_orders"),
        col("amt").cast("double").as("sum_price"))
  }

  /** Schema-evolution read ([[graft.sources.SchemaEvolution
    * .readMergedParquet]]): the even docs are written by an "old producer"
    * (doc_id, text only), the odd docs by a "new producer" (+lang,
    * +n_chars); the merged read backfills old rows with lang='und' and
    * n_chars=length(text), and the per-language rollup must match DuckDB
    * reconstructing the same union — a row counted under the wrong
    * language, or a backfill applied to a new-producer row, breaks the
    * hash. Scratch contract as d136.
    */
  def d143SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    def scratch(tag: String) = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      tag + System.getProperty("user.name", "anon") + "_" + pathTag(d)).getAbsolutePath
    val v1 = scratch("graft_evolve_v1_")
    val v2 = scratch("graft_evolve_v2_")
    val docs = Tables.documents(s, d)
    docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(v1)
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(v2)
    graft.sources.SchemaEvolution.readMergedParquet(s, Seq(v1, v2), Map(
        "lang" -> lit("und"),
        "n_chars" -> length(col("text")).cast("long")))
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_docs"),
        expr("CAST(SUM(n_chars) AS BIGINT)").as("sum_chars"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("min_doc"),
        expr("CAST(MAX(doc_id) AS BIGINT)").as("max_doc"))
  }

  /** BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query over the
    * corpus — the relevance-scored sibling of the d61 TF-IDF weighting, and
    * the retrieval primitive a training-data curation pass uses to pull
    * topic-relevant documents out of a 100 TB corpus. Scale shape: the
    * explode→filter keeps only query-term postings (the non-matching token
    * mass dies map-side before the tf shuffle), df and the corpus stats are
    * broadcast singletons, and the final score is one partial-aggregated
    * groupBy per matching doc. Both engines compute the identical formula
    * with identical double literals; the score is rounded to 4 decimals
    * (d106 ln convention).
    */
  def d144Bm25(s: SparkSession, d: String): DataFrame = bm25Scored(s, d)

  /** ONE definition of the BM25 scoring — d144 (the ranked-retrieval row)
    * and d216 (the RRF fusion row) must rank on identical scores, the
    * same shared-derivation rule as [[orderServiceSpans]]. Output:
    * (doc_id, bm25 ROUND 4).
    */
  private[graft] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "scan")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w", col("idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 4).as("bm25"))
  }

  /** Single-pass column profile ([[graft.operators.ScaleOps.profileColumns]])
    * over five mixed-type lineitem columns — bigint, int, double-cast-
    * decimal, string (with injected nulls so the null census is
    * non-vacuous), timestamp. EXACT distinct mode so every cell is
    * DuckDB-checkable; the operator's `approxDistinct` HLL mode is the
    * 100 TB default (spec-pinned separately). The double → DECIMAL(18,4)
    * pre-cast makes min/max strings engine-portable (raw double-to-string
    * formatting differs across engines; decimal rendering doesn't).
    */
  def d147Profile(s: SparkSession, d: String): DataFrame =
    // NOTE (r10, measured-REVERTED): a fanOut of the profiled projection
    // read WORSE (1.23 → 1.97 s standalone vs a +17% control): the
    // round-robin exchange ships all five columns (plus its
    // sortBeforeRepartition local sort) and both agg branches re-read it,
    // while the Expand the fanOut was meant to parallelize is cheap
    // column shredding. Same rejection class as d230's incidence build.
    graft.operators.ScaleOps.profileColumns(
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,4)").as("l_quantity"),
        expr("nullif(l_returnflag, 'N')").as("l_flag_nn"),
        col("l_shipdate")),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_flag_nn",
        "l_shipdate"))

  /** Salted skew join ([[graft.operators.ScaleOps.saltedJoin]]): lineitem
    * (big side, deterministically salted 8 ways) joined to orders (exploded
    * 8-fold), then rolled up by priority with the exact decimal money sum.
    * The salt spreads any hot orderkey over 8 reducers in the shuffled-hash
    * regime AQE's sort-merge skew split can't reach; the oracle is the
    * plain unsalted join — salting must be invisible in the result.
    */
  def d149SaltedJoin(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.saltedJoin(
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      Seq("l_orderkey"), 8)
      .groupBy(col("o_orderpriority"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_items"),
        expr("CAST(graft_money_sum(l_extendedprice * (1 - l_discount), 4) AS DOUBLE)")
          .as("revenue"))

  /** Forward-fill ([[graft.operators.ScaleOps.fillForward]]): every fifth
    * event's value is nulled (the synthetic sensor dropout), then filled
    * from the user's most recent non-null reading in (ts_ms, event_id)
    * order — event_id breaks timestamp ties so "most recent" is
    * deterministic. The oracle recomputes the fill with DuckDB's
    * IGNORE NULLS window; leading nulls (no prior reading) must STAY null
    * in both engines.
    */
  def d152FillForward(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.fillForward(
      Tables.events(s, d)
        .select(expr("CAST(event_id AS BIGINT)").as("event_id"),
          expr("CAST(user_id AS BIGINT)").as("user_id"), col("ts_ms"),
          when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value"))
            .as("value")),
      partitionCols = Seq("user_id"), orderCols = Seq("ts_ms", "event_id"),
      fillCols = Seq("value"))

  /** Bloom semi-join reduction ([[graft.operators.ScaleOps.bloomSemiJoin]]):
    * lineitem pruned by a bloom over the hot orders' keys (~10% of orders
    * qualify) BEFORE its shuffle, then exactly confirmed; the oracle is the
    * plain IN-subquery semi join — the bloom must be invisible in the
    * result, false positives and all.
    */
  def d153BloomSemiJoin(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.bloomSemiJoin(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount")),
      Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), expectedItems = 1L << 16, fpp = 0.01)
      .groupBy(col("l_returnflag"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_items"),
        expr("CAST(graft_money_sum(l_extendedprice * (1 - l_discount), 4) AS DOUBLE)")
          .as("revenue"))

  /** Linear gap interpolation
    * ([[graft.operators.ScaleOps.fillInterpolated]]): every third event's
    * value is nulled, then rebuilt from the straight line between the
    * user's neighboring non-null readings over ts_ms (unique per user in
    * this corpus — probed, no duplicate-x ties). Leading/trailing nulls
    * stay null in both engines; both compute the identical
    * prev + (next−prev)·(Δx/Δspan) double expression, rounded to 6.
    */
  def d154Interpolate(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOps.fillInterpolated(
      Tables.events(s, d)
        .select(expr("CAST(event_id AS BIGINT)").as("event_id"),
          expr("CAST(user_id AS BIGINT)").as("user_id"), col("ts_ms"),
          when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value"))
            .as("value")),
      partitionCols = Seq("user_id"), xCol = "ts_ms",
      fillCols = Seq("value"), orderCols = Seq("event_id"))
      .withColumn("value", round(col("value"), 6))

  /** Data-quality constraint report
    * ([[graft.operators.Constraints.check]]): seven checks over orders —
    * passing (o_custkey not-null, o_orderkey unique) and failing
    * (o_custkey non-unique, totalprice cap, status set without 'P',
    * orderdate cutoff, FK into ACTIVE customers only) — so both report
    * polarities are oracle-pinned. The oracle recomputes every count as an
    * independent scalar query.
    */
  def d155Constraints(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Constraints._
    graft.operators.Constraints.check(Tables.orders(s, d), Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      Unique(Seq("o_custkey")),
      InRange("o_totalprice", 0.0, 400000.0),
      InSet("o_orderstatus", Seq("F", "O")),
      Satisfies("o_orderdate_pre97",
        "o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"),
      ForeignKey("o_custkey",
        Tables.customer(s, d).filter(col("c_acctbal") > 0)
          .select(col("c_custkey")),
        "active_customer")))
  }

  /** Exact phrase search ([[graft.operators.Retrieval.phraseSearch]]):
    * occurrence counts of a 3-token phrase (probed present at every SF,
    * with a multi-occurrence doc at sf0.01). The oracle recomputes matches
    * with an INDEPENDENT formulation — a sliding token-window slice
    * compare — so the postings/anchor algebra is cross-checked, not
    * mirrored.
    */
  def d156PhraseSearch(s: SparkSession, d: String): DataFrame =
    graft.operators.Retrieval.phraseSearch(
      Tables.documents(s, d), "doc_id", "text",
      Seq("slow", "hash", "batch"))
      .select(expr("CAST(doc_id AS BIGINT)").as("doc_id"),
        expr("CAST(n_matches AS BIGINT)").as("n_matches"))

  /** EXACT Jaccard-threshold self-join
    * ([[graft.operators.Dedup.prefixFilteredJaccardPairs]]) at J ≥ 1/2
    * over 8-gram shingle sets — the exact-output counterpart of d23's
    * MinHash-LSH (25 pairs at sf0.01, probed). The threshold is the exact
    * rational 1/2 end-to-end (integer prefix lengths, integer verify), so
    * the kept SET hash-matches an oracle that generates candidates the
    * cheap way (shared-gram join) and verifies with list_intersect — two
    * independent routes to the same exact answer.
    */
  def d157JaccardJoin(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.prefixFilteredJaccardPairs(
      Tables.documents(s, d), "doc_id", "text",
      shingleSize = 8, tNum = 1, tDen = 2)

  /** Temperature-weighted mixture downsampling
    * ([[graft.operators.ScaleOps.temperatureMixtureSample]]) at α = 0.5
    * over the skewed lang strata (en 218 vs fr 64 at sf0.01): the head
    * lang keeps ~35% while the tail keeps ~65% — the flattening the
    * α-temperature exists for (d93 is the α = 0 uniform corner). Targets
    * probed OFF every .5 rounding boundary (margin ≥ 0.05 at all SFs —
    * double last-ulp noise cannot flip an integer target). The oracle
    * re-derives target counts AND the exact md5-gated kept set.
    */
  def d159TemperatureMixture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val half = docs.count() / 2
    graft.operators.ScaleOps.temperatureMixtureSample(
      docs, "lang", "doc_id", totalTarget = half, alpha = 0.5)
      .groupBy(col("lang"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_kept"),
        expr("CAST(SUM(n_chars) AS BIGINT)").as("sum_chars"))
  }

  /** DuckDB bit-interleave of two 21-bit-masked BIGINT columns — the z-order
    * oracle arithmetic, spelled out term by term (42 shift/mask/or terms).
    */
  private def duckInterleave21(xCol: String, yCol: String): String = {
    val mask = (1L << 21) - 1
    val terms = (0 until 21).flatMap { i =>
      Seq(s"(((($xCol & $mask) >> $i) & 1) << ${2 * i})",
        s"(((($yCol & $mask) >> $i) & 1) << ${2 * i + 1})")
    }
    terms.mkString("(", " | ", ")")
  }

  // =========================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_pushdown" -> (q02FilterPushdown _),
    "q03_join_revenue" -> (q03JoinRevenue _),
    "q04_semi_join" -> (q04SemiJoin _),
    "q05_topk_orders" -> (q05TopkOrders _),
    "q06_distinct" -> (q06Distinct _),
    "q07_union_buckets" -> (q07UnionBuckets _),
    "q08_anti_join" -> (q08AntiJoin _),
    "q09_window_rank" -> (q09WindowRank _),
    "q10_rollup" -> (q10Rollup _),
    "q11_nation_profile" -> (q11NationProfile _),
    "q12_wordcount" -> (q12Wordcount _),
    "q13_mean_combine" -> (q13MeanCombine _),
    "q14_side_input_dict" -> (q14SideInputDict _),
    "q15_tagged_outputs" -> (q15TaggedOutputs _),
    "q16_cogroup" -> (q16Cogroup _),
    "q17_fixed_windows" -> (q17FixedWindows _),
    "q18_session_windows" -> (q18SessionWindows _),
    "q19_sliding_windows" -> (q19SlidingWindows _),
    "q20_stateful_pardo" -> (q20StatefulPardo _),
    "d21_dedup_exact" -> (d21DedupExact _),
    "d22_dedup_survivors" -> (d22DedupSurvivors _),
    "d23_minhash_pairs" -> (d23MinhashPairs _),
    "d24_simhash_pairs" -> (d24SimhashPairs _),
    "d25_ngram_jaccard" -> (d25NgramJaccard _),
    "d26_embed_topk" -> (d26EmbedTopk _),
    "d27_embed_neardup" -> (d27EmbedNeardup _),
    "d28_lsh_topk" -> (d28LshTopk _),
    "d29_text_stats" -> (d29TextStats _),
    "d30_langid" -> (d30LangId _),
    "d31_quality" -> (d31Quality _),
    "d32_fingerprint" -> (d32Fingerprint _),
    "d33_multimodal_features" -> (d33MultimodalFeatures _),
    "d34_frame_sampling" -> (d34FrameSampling _),
    "d35_asof_join" -> (d35AsofJoin _),
    "d36_range_join" -> (d36RangeJoin _),
    "d37_distinct_users" -> (d37DistinctUsers _),
    "d38_approx_distinct" -> (d38ApproxDistinct _),
    "d39_topk_per_key" -> (d39TopkPerKey _),
    "d40_percentiles" -> (d40Percentiles _),
    "d41_string_funcs" -> (d41StringFuncs _),
    "d42_date_funcs" -> (d42DateFuncs _),
    "d43_cube" -> (d43Cube _),
    "d44_ivf_topk" -> (d44IvfTopk _),
    "d45_dedup_clusters" -> (d45DedupClusters _),
    "d46_correlated_subquery" -> (d46CorrelatedSubquery _),
    "d47_running_sum" -> (d47RunningSum _),
    "d48_json_extract" -> (d48JsonExtract _),
    "d49_intersect" -> (d49Intersect _),
    "d50_except" -> (d50Except _),
    "d51_partial_topk" -> (d51PartialTopk _),
    "d52_group_batches" -> (d52GroupBatches _),
    "d53_salted_agg" -> (d53SaltedAgg _),
    "d54_quantized_topk" -> (d54QuantizedTopk _),
    "d55_stratified_sample" -> (d55StratifiedSample _),
    "d56_approx_percentiles" -> (d56ApproxPercentiles _),
    "d57_decontaminate" -> (d57Decontaminate _),
    "d58_incremental_dedup" -> (d58IncrementalDedup _),
    "d59_pack_sequences" -> (d59PackSequences _),
    "d60_gopher_filter" -> (d60GopherFilter _),
    "d61_tfidf" -> (d61TfIdf _),
    "d62_embed_centroids" -> (d62EmbedCentroids _),
    "d63_chunk_docs" -> (d63ChunkDocs _),
    "d64_funnel" -> (d64Funnel _),
    "d65_retention" -> (d65Retention _),
    "d66_price_deciles" -> (d66PriceDeciles _),
    "d67_order_gaps" -> (d67OrderGaps _),
    "d68_group_corr" -> (d68GroupCorr _),
    "d69_repetition" -> (d69Repetition _),
    "d70_orc_roundtrip" -> (d70OrcRoundtrip _),
    "d71_histogram" -> (d71Histogram _),
    "d72_anomaly" -> (d72Anomaly _),
    "d73_dup_ngrams" -> (d73DupNgrams _),
    "d74_moving_window" -> (d74MovingWindow _),
    "d75_sessionize" -> (d75Sessionize _),
    "d76_pivot" -> (d76Pivot _),
    "d77_unpivot" -> (d77Unpivot _),
    "d78_top_terms" -> (d78TopTerms _),
    "d79_heavy_hitters" -> (d79HeavyHitters _),
    "d80_grouping_sets" -> (d80GroupingSets _),
    "d81_portable_sample" -> (d81PortableSample _),
    "d82_csv_roundtrip" -> (d82CsvRoundtrip _),
    "d83_json_roundtrip" -> (d83JsonRoundtrip _),
    "d84_hll_rollup" -> (d84HllRollup _),
    "d85_weighted_sample" -> (d85WeightedSample _),
    "d86_drift_psi" -> (d86DriftPsi _),
    "d87_regex_census" -> (d87RegexCensus _),
    "d88_lm_typicality" -> (d88LmTypicality _),
    "d89_image_dhash" -> (d89ImageDhash _),
    "d90_semantic_dedup" -> (d90SemanticDedup _),
    "d91_source_cap" -> (d91SourceCap _),
    "d92_vocab_oov" -> (d92VocabOov _),
    "d93_mixture_rebalance" -> (d93MixtureRebalance _),
    "d94_contamination_frac" -> (d94ContaminationFrac _),
    "d95_event_pairs" -> (d95EventPairs _),
    "d96_length_percentile" -> (d96LengthPercentile _),
    "d97_bucketed_join" -> (d97BucketedJoin _),
    "d98_full_outer" -> (d98FullOuter _),
    "d99_redact" -> (d99Redact _),
    "d100_random_cap" -> (d100RandomCap _),
    "d101_novelty_rate" -> (d101NoveltyRate _),
    "d102_span_dedup" -> (d102SpanDedup _),
    "d103_edit_distance" -> (d103EditDistance _),
    "d104_mad_outliers" -> (d104MadOutliers _),
    "d105_weighted_median" -> (d105WeightedMedian _),
    "d106_char_entropy" -> (d106CharEntropy _),
    "d107_source_overlap" -> (d107SourceOverlap _),
    "d108_windowed_dedup" -> (d108WindowedDedup _),
    "d109_twap" -> (d109Twap _),
    "d110_revenue_share" -> (d110RevenueShare _),
    "d111_yoy_growth" -> (d111YoyGrowth _),
    "d112_equidepth_hist" -> (d112EquidepthHist _),
    "d113_pareto_share" -> (d113ParetoShare _),
    "d114_three_way_cogroup" -> (d114ThreeWayCogroup _),
    "d115_avro_roundtrip" -> (d115AvroRoundtrip _),
    "d116_event_cadence" -> (d116EventCadence _),
    "d117_event_lift" -> (d117EventLift _),
    "d118_stickiness" -> (d118Stickiness _),
    "d119_rfm_segments" -> (d119RfmSegments _),
    "d120_stream_dedup" -> (graft.streaming.StreamingBattery.d120StreamDedup _),
    "d121_stream_quality" -> (graft.streaming.StreamingBattery.d121StreamQuality _),
    "d122_stream_decontaminate" -> (graft.streaming.StreamingBattery.d122StreamDecontaminate _),
    "d123_stream_anomaly" -> (graft.streaming.StreamingBattery.d123StreamAnomaly _),
    "d124_stream_stateful" -> (graft.streaming.StreamingBattery.d124StreamStateful _),
    "d125_check_approx_distinct" -> (ModelChecks.d125CheckApproxDistinct _),
    "d126_check_heavy_hitters" -> (ModelChecks.d126CheckHeavyHitters _),
    "d127_check_ann_recall" -> (ModelChecks.d127CheckAnnRecall _),
    "d128_check_simhash_complete" -> (ModelChecks.d128CheckSimhashComplete _),
    "d129_check_minhash_est" -> (ModelChecks.d129CheckMinhashEst _),
    "d130_check_cluster_consistency" -> (ModelChecks.d130CheckClusterConsistency _),
    "d131_check_approx_percentile" -> (ModelChecks.d131CheckApproxPercentile _),
    "d132_check_semantic_subset" -> (ModelChecks.d132CheckSemanticSubset _),
    "d133_check_embed_neardup" -> (ModelChecks.d133CheckEmbedNeardup _),
    "d134_check_stratified_bounds" -> (ModelChecks.d134CheckStratifiedBounds _),
    "d135_check_multimodal" -> (ModelChecks.d135CheckMultimodal _),
    "d136_zorder_layout" -> (d136ZorderLayout _),
    "d137_bloom_export" -> (d137BloomExport _),
    "d138_upsert_merge" -> (d138UpsertMerge _),
    "d139_stream_interval_join" ->
      (graft.streaming.StreamingBattery.d139StreamIntervalJoin _),
    "d140_snapshot_diff" -> (d140SnapshotDiff _),
    "d141_compaction" -> (d141Compaction _),
    "d142_incremental_agg" -> (d142IncrementalAgg _),
    "d143_schema_evolution" -> (d143SchemaEvolution _),
    "d144_bm25" -> (d144Bm25 _),
    "d145_stream_incremental_agg" ->
      (graft.streaming.StreamingBattery.d145StreamIncrementalAgg _),
    "d146_stream_resume" ->
      (graft.streaming.StreamingBattery.d146StreamResume _),
    "d147_profile" -> (d147Profile _),
    "d148_stream_sessions" ->
      (graft.streaming.StreamingBattery.d148StreamSessions _),
    "d149_salted_join" -> (d149SaltedJoin _),
    "d150_stream_left_join" ->
      (graft.streaming.StreamingBattery.d150StreamLeftJoin _),
    "d151_stream_cdc" ->
      (graft.streaming.StreamingBattery.d151StreamCdc _),
    "d152_fill_forward" -> (d152FillForward _),
    "d153_bloom_semi_join" -> (d153BloomSemiJoin _),
    "d154_interpolate" -> (d154Interpolate _),
    "d155_constraints" -> (d155Constraints _),
    "d156_phrase_search" -> (d156PhraseSearch _),
    "d157_jaccard_join" -> (d157JaccardJoin _),
    "d158_stream_constraints" ->
      (graft.streaming.StreamingBattery.d158StreamConstraints _),
    "d159_temperature_mixture" -> (d159TemperatureMixture _),
    "d160_tar_shards" -> (d160TarShards _),
    "d161_join_fanout" -> (d161JoinFanout _),
    "d162_leakage_split" -> (d162LeakageSplit _),
    "d163_cross_jaccard" -> (d163CrossJaccard _),
    "d164_auc" -> (d164Auc _),
    "d165_ndcg" -> (d165Ndcg _),
    "d166_calibration" -> (d166Calibration _),
    "d167_skyline" -> (d167Skyline _),
    "d168_triangles" -> (d168Triangles _),
    "d169_pagerank" -> (d169PageRank _),
    "d170_stream_auc" -> (graft.streaming.StreamingBattery.d170StreamAuc _),
    "d171_hashed_features" -> (d171HashedFeatures _),
    "d172_pr_curve" -> (d172PrCurve _),
    "d173_chi2_features" -> (d173Chi2 _),
    "d174_global_percentile" -> (d174GlobalPercentile _),
    "d175_kcore" -> (d175KCore _),
    "d176_kanonymize" -> (d176KAnonymize _),
    "d177_components" -> (d177Components _),
    "d178_partitioned_layout" -> (d178PartitionedLayout _),
    "d179_ohlc_bars" -> (d179OhlcBars _),
    "d180_bpe_merges" -> (d180BpeMerges _),
    "d181_kaplan_meier" -> (d181KaplanMeier _),
    "d182_woe_iv" -> (d182WoeIv _),
    "d183_stream_ohlc" ->
      (graft.streaming.StreamingBattery.d183StreamOhlc _),
    "d184_bpe_segment" -> (d184BpeSegment _),
    "d185_markov_transitions" -> (d185MarkovTransitions _),
    "d186_autocorrelation" -> (d186Autocorrelation _),
    "d187_theil_sen" -> (d187TheilSen _),
    "d188_benford_audit" -> (d188BenfordAudit _),
    "d189_uplift_qini" -> (d189UpliftQini _),
    "d190_budget_mixture" -> (d190BudgetMixture _),
    "d191_change_history" -> (d191ChangeHistory _),
    "d192_gini" -> (d192Gini _),
    "d193_attribution" -> (d193Attribution _),
    "d194_bfs" -> (d194Bfs _),
    "d195_ewma" -> (d195Ewma _),
    "d196_stream_ewma" ->
      (graft.streaming.StreamingBattery.d196StreamEwma _),
    "d197_item_similarity" -> (d197ItemSimilarity _),
    "d198_link_prediction" -> (d198LinkPrediction _),
    "d199_event_paths" -> (d199EventPaths _),
    "d200_periodic_snapshots" -> (d200PeriodicSnapshots _),
    "d201_rolling_slope" -> (d201RollingSlope _),
    "d202_clamped_balance" -> (d202ClampedBalance _),
    "d203_stream_attribution" ->
      (graft.streaming.StreamingBattery.d203StreamAttribution _),
    "d204_tree_depth" -> (d204TreeDepth _),
    "d205_fifo_match" -> (d205FifoMatch _),
    "d206_apportionment" -> (d206Apportionment _),
    "d207_stream_scd2" ->
      (graft.streaming.StreamingBattery.d207StreamScd2 _),
    "d208_burst_terms" -> (d208BurstTerms _),
    "d209_interval_merge" -> (d209IntervalMerge _),
    "d210_ks_drift" -> (d210KsDrift _),
    "d211_quantile_normalize" -> (d211QuantileNormalize _),
    "d212_canonical_keys" -> (d212CanonicalKeys _),
    "d213_stream_interval_merge" ->
      (graft.streaming.StreamingBattery.d213StreamIntervalMerge _),
    "d214_stream_balance" ->
      (graft.streaming.StreamingBattery.d214StreamBalance _),
    "d215_pmi_collocations" -> (d215PmiCollocations _),
    "d216_rrf_fusion" -> (d216RrfFusion _),
    "d217_seasonal_decomp" -> (d217SeasonalDecomp _),
    "d218_merkle_diff" -> (d218MerkleDiff _),
    "d219_isotonic" -> (d219Isotonic _),
    "d220_voptimal_segments" -> (d220VOptimalSegments _),
    "d221_rendezvous_rebalance" -> (d221RendezvousRebalance _),
    "d222_stream_merkle" ->
      (graft.streaming.StreamingBattery.d222StreamMerkle _),
    "d223_association_rules" -> (d223AssociationRules _),
    "d224_winnowing_pairs" -> (d224WinnowingPairs _),
    "d225_poisson_bootstrap" -> (d225PoissonBootstrap _),
    "d226_source_influence" -> (d226SourceInfluence _),
    "d227_bom_explosion" -> (d227BomExplosion _),
    "d228_curation_pipeline" -> (d228CurationPipeline _),
    "d229_brand_modularity" -> (d229BrandModularity _),
    "d230_greedy_coverage" -> (d230GreedyCoverage _),
    "d231_sprt_decision" -> (d231SprtDecision _),
    "d232_stream_sprt" ->
      (graft.streaming.StreamingBattery.d232StreamSprt _),
    "d233_kcenter_coreset" -> (d233KcenterCoreset _),
    "d234_mutual_nn" -> (d234MutualNn _),
    "d235_sorted_neighborhood" -> (d235SortedNeighborhood _),
    "d236_stream_curation" ->
      (graft.streaming.StreamingBattery.d236StreamCuration _),
    "d237_jaro_linkage" -> (d237JaroLinkage _),
    "d238_stream_packing" ->
      (graft.streaming.StreamingBattery.d238StreamPacking _),
    "d239_shard_text" -> (d239ShardText _),
    "d240_image_resize" -> (d240ImageResize _),
    "d241_check_resize" -> (ModelChecks.d241CheckResize _),
    "d242_epoch_shuffle" -> (d242EpochShuffle _),
  )

  /** ONE definition for the clamped-balance oracle — d202 (batch
    * reflection-identity windows) and d214 (streaming literal Lindley
    * fold) must stay on the identical SQL.
    */
  private val balanceOracleSql: String =
    """WITH e AS (SELECT user_id AS u, epoch_ms(ts) AS ms,
      |  event_id AS id,
      |  CASE WHEN event_type = 'purchase'
      |    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |  END AS delta
      | FROM events WHERE value IS NOT NULL
      |  AND event_type IN ('purchase', 'error')),
      |c AS (SELECT u, ms, id, delta, SUM(delta) OVER
      |  (PARTITION BY u ORDER BY ms, id ROWS UNBOUNDED PRECEDING)
      |   AS cum FROM e),
      |s AS (SELECT *, MIN(cum) OVER (PARTITION BY u ORDER BY ms, id
      |  ROWS UNBOUNDED PRECEDING) AS mn FROM c)
      |SELECT CAST(u AS BIGINT) AS user_id, CAST(ms AS BIGINT) AS ts_ms,
      | CAST(id AS BIGINT) AS event_id, CAST(delta AS BIGINT) AS delta,
      | CAST(cum - LEAST(0, mn) AS BIGINT) AS balance
      |FROM s""".stripMargin

  /** ONE definition of the curation-funnel CTE chain — non-eval corpus →
    * content-key dedup → Gopher gate → decontamination → clean, plus the
    * per-stage per-source censuses (fi/fd/fq/fc). The batch capstone
    * d228 appends its packing CTEs and 7-column select; the streaming
    * twin d236 selects the 4 funnel columns directly. They must count
    * the IDENTICAL funnel, so the chain lives once.
    */
  private lazy val curationFunnelPrefixSql: String =
    s"""WITH base AS (SELECT doc_id, source, text FROM documents
       |  WHERE source NOT IN ('src0', 'src1') AND text IS NOT NULL),
       |keyed AS (SELECT doc_id, source, text,
       |  array_to_string(list_sort(list_distinct($toksLowerSql)), ' ')
       |    AS k FROM base),
       |ded AS (SELECT doc_id, source, text FROM (
       |  SELECT doc_id, source, text,
       |   ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) AS rn
       |  FROM keyed) WHERE rn = 1),
       |qual AS (SELECT doc_id, source, text FROM (
       |  SELECT doc_id, source, text, len($toksSql) AS nt,
       |   CAST(list_sum(list_transform($toksSql, x -> length(x)))
       |     AS DOUBLE) / len($toksSql) AS mwl,
       |   CAST(len(list_filter($toksSql, t ->
       |     list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
       |     / len($toksSql) AS sr,
       |   CAST(len(list_distinct($toksLowerSql)) AS DOUBLE)
       |     / len($toksLowerSql) AS dr
       |  FROM ded WHERE len($toksSql) > 0)
       | WHERE nt >= 20 AND mwl BETWEEN 3.0 AND 10.0 AND sr >= 0.05
       |   AND dr >= 0.5),
       |ev AS (SELECT DISTINCT gram FROM (
       |  SELECT unnest($gram8Sql) AS gram FROM (
       |   SELECT $toksLowerSql AS ws FROM documents
       |   WHERE source IN ('src0', 'src1')))),
       |qg AS (SELECT doc_id, unnest($gram8Sql) AS gram FROM (
       |  SELECT doc_id, $toksLowerSql AS ws FROM qual)),
       |contaminated AS (SELECT doc_id FROM (
       |  SELECT qg.doc_id, COUNT(*) AS ns FROM qg JOIN ev USING (gram)
       |  GROUP BY 1) WHERE ns >= 3),
       |clean AS (SELECT * FROM qual
       | WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |fi AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_input
       | FROM base GROUP BY 1),
       |fd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dedup
       | FROM ded GROUP BY 1),
       |fq AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality
       | FROM qual GROUP BY 1),
       |fc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clean
       | FROM clean GROUP BY 1)""".stripMargin

  /** ONE definition for the shard-packing oracle — d59 (batch window
    * plan) and d238 (streaming cumulative-token state) must stay on the
    * identical SQL, same contract as [[balanceOracleSql]].
    */
  private lazy val packOracleSql: String =
    s"""WITH t AS (SELECT source, doc_id, len($toksSql) AS ntok FROM documents),
       |c AS (SELECT source, doc_id, ntok,
       |  SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
       |SELECT source, CAST((cum - ntok) // 512 AS BIGINT) AS bin_id,
       | CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
       | CAST(MIN(doc_id) AS BIGINT) AS first_doc, CAST(MAX(doc_id) AS BIGINT) AS last_doc
       |FROM c GROUP BY 1, 2""".stripMargin

  /** ONE definition for the sequential-decision oracle — d231 (batch
    * first-crossing windows) and d232 (streaming absorbing-walk state)
    * must stay on the identical SQL, same contract as
    * [[balanceOracleSql]].
    */
  private val sprtOracleSql: String =
    """WITH e AS (SELECT user_id AS u, epoch_ms(ts) AS ms,
      |  event_id AS id,
      |  CASE WHEN event_type = 'purchase' THEN 3 ELSE -2 END AS step
      | FROM events WHERE event_type IN ('purchase', 'error')),
      |c AS (SELECT u, SUM(step) OVER (PARTITION BY u ORDER BY ms, id
      |   ROWS UNBOUNDED PRECEDING) AS cum,
      |  ROW_NUMBER() OVER (PARTITION BY u ORDER BY ms, id) AS seq
      | FROM e),
      |x AS (SELECT u,
      |  MIN(CASE WHEN cum >= 12 OR cum <= -12 THEN seq END) AS xseq,
      |  MAX(seq) AS tot FROM c GROUP BY u)
      |SELECT CAST(x.u AS BIGINT) AS user_id,
      | CASE WHEN x.xseq IS NULL THEN 'open'
      |  WHEN c.cum >= 12 THEN 'accept' ELSE 'reject' END AS decision,
      | CAST(COALESCE(x.xseq, x.tot) AS BIGINT) AS n_trials,
      | CAST(c.cum AS BIGINT) AS cum_final
      |FROM x JOIN c ON c.u = x.u
      | AND c.seq = COALESCE(x.xseq, x.tot)""".stripMargin

  /** ONE definition for the interval-merge oracle — d209 (batch
    * running-max island plan) and d213 (streaming open-span state) must
    * stay on the identical SQL, same contract as [[scd2OracleSql]].
    */
  private val intervalMergeOracleSql: String =
    """WITH sp AS (SELECT o_custkey AS k, o_orderkey AS id,
      |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS lo,
      |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) + CAST(86400000
      |    AS BIGINT) *
      |   CASE o_orderpriority WHEN '1-URGENT' THEN 28
      |    WHEN '2-HIGH' THEN 21 WHEN '3-MEDIUM' THEN 14
      |    WHEN '4-NOT SPECIFIED' THEN 7 ELSE 3 END AS hi
      | FROM orders),
      |f AS (SELECT *, MAX(hi) OVER (PARTITION BY k ORDER BY lo, hi, id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      | FROM sp),
      |g AS (SELECT *, CASE WHEN pmax IS NULL OR lo > pmax
      |   THEN 1 ELSE 0 END AS nw FROM f),
      |i AS (SELECT *, SUM(nw) OVER (PARTITION BY k ORDER BY lo, hi, id
      |   ROWS UNBOUNDED PRECEDING) AS isl FROM g)
      |SELECT CAST(k AS BIGINT) AS o_custkey,
      | CAST(MIN(lo) AS BIGINT) AS span_start,
      | CAST(MAX(hi) AS BIGINT) AS span_end,
      | CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM i GROUP BY k, isl""".stripMargin

  /** ONE definition for the SCD2 oracle — d191 (batch gaps-and-islands
    * plan) and d207 (streaming open-run state) must stay on the
    * identical SQL, same contract as [[ewmaOracleSql]].
    */
  private val scd2OracleSql: String =
    """WITH o AS (SELECT o_custkey AS k, o_orderstatus AS st,
      |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ms,
      |  o_orderkey AS id FROM orders),
      |f AS (SELECT *, CASE WHEN LAG(st) OVER
      |    (PARTITION BY k ORDER BY ms, id) IS DISTINCT FROM st
      |  THEN 1 ELSE 0 END AS chg FROM o),
      |g AS (SELECT *, SUM(chg) OVER (PARTITION BY k ORDER BY ms, id
      |  ROWS UNBOUNDED PRECEDING) AS island FROM f),
      |r AS (SELECT k, island, MIN(st) AS st, MIN(ms) AS valid_from,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows FROM g GROUP BY 1, 2)
      |SELECT CAST(k AS BIGINT) AS o_custkey, st AS o_orderstatus,
      | CAST(valid_from AS BIGINT) AS valid_from,
      | CAST(LEAD(valid_from) OVER (PARTITION BY k ORDER BY island)
      |   AS BIGINT) AS valid_to,
      | n_rows
      |FROM r""".stripMargin

  /** ONE definition for the attribution oracle — d193 (batch window
    * plan) and d203 (streaming carried-touch state) must stay on the
    * identical SQL, same contract as [[ewmaOracleSql]].
    */
  private val attributionOracleSql: String =
    """WITH e AS (SELECT user_id AS u, event_type AS ty,
      |  epoch_ms(ts) AS ms, event_id AS id, value AS v,
      |  CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS camp
      | FROM events WHERE value IS NOT NULL),
      |w AS (SELECT *,
      |  LAST_VALUE(CASE WHEN ty = 'click'
      |    THEN struct_pack(tms := ms, tcamp := camp) END IGNORE NULLS)
      |    OVER win AS tch
      | FROM e WINDOW win AS (PARTITION BY u ORDER BY ms, id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (SELECT COALESCE(CASE WHEN tch.tms IS NOT NULL
      |    AND tch.tms >= ms - 604800000 THEN tch.tcamp END, -1)
      |  AS campaign, v FROM w WHERE ty = 'purchase')
      |SELECT CAST(campaign AS BIGINT) AS campaign,
      | CAST(COUNT(*) AS BIGINT) AS n_purchases,
      | CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM p GROUP BY 1""".stripMargin

  /** ONE definition for the EWMA oracle — d195 (batch window plan) and
    * d196 (streaming ring-buffer state) must stay on the identical SQL,
    * same contract as [[aucOracleSql]]/[[ohlcOracleSql]]: the 8 lags
    * spelled out, integer numerator/denominator, a single correctly-
    * rounded division and NO rounding anywhere.
    */
  private val ewmaOracleSql: String =
    """WITH e AS (SELECT user_id AS u, epoch_ms(ts) AS ms,
      |  event_id AS id,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      | FROM events WHERE event_type = 'view' AND value IS NOT NULL),
      |l AS (SELECT u, ms, id, cents,
      |  LAG(cents, 1) OVER win AS l1, LAG(cents, 2) OVER win AS l2,
      |  LAG(cents, 3) OVER win AS l3, LAG(cents, 4) OVER win AS l4,
      |  LAG(cents, 5) OVER win AS l5, LAG(cents, 6) OVER win AS l6,
      |  LAG(cents, 7) OVER win AS l7
      | FROM e WINDOW win AS (PARTITION BY u ORDER BY ms, id))
      |SELECT CAST(u AS BIGINT) AS user_id, CAST(ms AS BIGINT) AS ts_ms,
      | CAST(id AS BIGINT) AS event_id, cents,
      | CAST(COALESCE(128 * cents, 0) + COALESCE(64 * l1, 0) +
      |   COALESCE(32 * l2, 0) +
      |   COALESCE(16 * l3, 0) + COALESCE(8 * l4, 0) +
      |   COALESCE(4 * l5, 0) + COALESCE(2 * l6, 0) +
      |   COALESCE(1 * l7, 0) AS DOUBLE) /
      | CAST(CASE WHEN cents IS NULL THEN 0 ELSE 128 END +
      |   CASE WHEN l1 IS NULL THEN 0 ELSE 64 END +
      |   CASE WHEN l2 IS NULL THEN 0 ELSE 32 END +
      |   CASE WHEN l3 IS NULL THEN 0 ELSE 16 END +
      |   CASE WHEN l4 IS NULL THEN 0 ELSE 8 END +
      |   CASE WHEN l5 IS NULL THEN 0 ELSE 4 END +
      |   CASE WHEN l6 IS NULL THEN 0 ELSE 2 END +
      |   CASE WHEN l7 IS NULL THEN 0 ELSE 1 END AS DOUBLE) AS ewma
      |FROM l""".stripMargin

  /** ONE definition for the OHLC oracle — d179 (batch) and d183 (streaming
    * fold) must stay on the identical SQL, same contract as
    * [[aucOracleSql]]: open/close spelled as rank-1 rows ordered by
    * (ts, value), the portable equivalent of lexicographic struct min/max.
    */
  private val ohlcOracleSql: String =
    """WITH e AS (SELECT event_type, epoch_ms(ts) AS ms, value
      |  FROM events WHERE value IS NOT NULL),
      |b AS (SELECT event_type, (ms // 86400000) * 86400000 AS bucket_start,
      |  ms, value FROM e),
      |w AS (SELECT event_type, bucket_start, value,
      |  ROW_NUMBER() OVER (PARTITION BY event_type, bucket_start
      |    ORDER BY ms, value) AS rn_a,
      |  ROW_NUMBER() OVER (PARTITION BY event_type, bucket_start
      |    ORDER BY ms DESC, value DESC) AS rn_d
      | FROM b)
      |SELECT event_type, CAST(bucket_start AS BIGINT) AS bucket_start,
      | MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      | MAX(value) AS high, MIN(value) AS low,
      | MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      | CAST(COUNT(*) AS BIGINT) AS n_ticks,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1, 2""".stripMargin

  /** ONE definition of the 12-stage BPE training CTE chain — d180 reads
    * the merge decisions (b1..b12), d184 reads the final segmented word
    * state (s12). Shared so the training-vs-application agreement the two
    * rows jointly prove cannot drift apart. Per stage: weighted
    * adjacent-pair stats → (count DESC, pair ASC) argmax → wrapped-symbol
    * REPLACE (non-overlapping left-to-right == greedy BPE; sound because
    * wrapped symbols share no characters and the alphabet is [a-z]+).
    */
  private val bpeStagesSql: String = {
    // bb_i guards pair exhaustion: an empty b_i (vocabulary fully merged
    // before stage 12) would cross-join s_{i-1} down to ZERO rows; the
    // aggregate COALESCE always yields one row, and the '0' sentinel is
    // outside the [a-z] alphabet so its pattern never matches — the stage
    // degrades to identity, exactly like the engine's early exit
    val stages = (1 to 12).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (SELECT syms[i] AS a, syms[i + 1] AS b,
         |   CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM $prev, UNNEST(range(1, len(syms))) t(i) GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b, c FROM p$i
         |  ORDER BY c DESC, a, b LIMIT 1),
         |bb$i AS MATERIALIZED (SELECT COALESCE(MAX(a), '0') AS a,
         |  COALESCE(MAX(b), '0') AS b FROM b$i),
         |s$i AS MATERIALIZED (SELECT word, cnt,
         |   string_split(substr(r, 2, length(r) - 2), ')(') AS syms
         |  FROM (SELECT word, cnt,
         |    REPLACE('(' || array_to_string(syms, ')(') || ')',
         |      '(' || bb$i.a || ')(' || bb$i.b || ')',
         |      '(' || bb$i.a || bb$i.b || ')') AS r
         |   FROM $prev, bb$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT
       |  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       | FROM documents),
       |wc AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT word, cnt, string_split(word, '') AS syms
       |  FROM wc),
       |$stages""".stripMargin
  }

  /** ONE definition for the rank-sum AUC oracle — d164 (batch) and d170
    * (streaming fold) must stay on the identical SQL, or an edit to one
    * silently breaks the streaming-equals-batch invariant d170 proves.
    */
  private val aucOracleSql =
    """WITH t AS (SELECT value AS score,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lbl
      | FROM events WHERE value IS NOT NULL),
      |g AS (SELECT score, CAST(SUM(lbl) AS BIGINT) AS pos,
      |  CAST(COUNT(*) - SUM(lbl) AS BIGINT) AS neg FROM t GROUP BY 1),
      |c AS (SELECT pos, neg,
      |  CAST(COALESCE(SUM(neg) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS negbelow FROM g)
      |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      | CAST(SUM(neg) AS BIGINT) AS n_neg,
      | CAST(SUM(pos * (2 * negbelow + neg)) AS BIGINT) AS auc_num,
      | CAST(2 * SUM(pos) * SUM(neg) AS BIGINT) AS auc_den,
      | ROUND(CAST(SUM(pos * (2 * negbelow + neg)) AS DOUBLE) /
      |   (2 * SUM(pos) * SUM(neg)), 6) AS auc
      |FROM c""".stripMargin

  private val toksSql =
    "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
  private val toksLowerSql =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
  private val stopwordsSql =
    "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are']"

  /** ONE definition of the BM25 scoring CTE chain — d144 (the ranked
    * retrieval row) and d216 (RRF fusion) must rank on the identical
    * SQL, the mirror of the shared [[bm25Scored]] Spark derivation.
    * Ends in a `bm` CTE: (doc_id, bm25 ROUND 4).
    */
  private lazy val bm25CtesSql =
    s"""d AS (SELECT doc_id, $toksLowerSql AS t FROM documents),
       |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM d),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
       |  FROM dl),
       |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM dl)
       |  WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
       |  FROM tf GROUP BY 1),
       |bm AS (SELECT doc_id,
       |  ROUND(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
       | FROM tf JOIN dfreq USING (term), stats
       | GROUP BY 1)""".stripMargin

  /** ONE definition of the orders Merkle summary CTEs — the base half of
    * d218's diff and the whole of d222's streaming-fold oracle (an edit
    * to either would otherwise silently void the incremental-equals-
    * one-shot proof). Ends in `sb`: (coarse, fine, n, dg).
    */
  private lazy val merkleBaseSummarySql =
    """base AS (SELECT o_orderkey AS k, o_custkey AS c,
      |  o_orderstatus AS st,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS cents FROM orders),
      |hb AS (SELECT k // 64 AS fine, ('0x' || substr(md5(concat_ws(
      |  chr(1), CAST(k AS VARCHAR), CAST(c AS VARCHAR),
      |  CAST(st AS VARCHAR), CAST(cents AS VARCHAR))), 1, 15))::BIGINT
      |  AS h FROM base),
      |sb AS (SELECT fine // 16 AS coarse, fine,
      |  CAST(COUNT(*) AS BIGINT) AS n, bit_xor(h) AS dg
      | FROM hb GROUP BY 1, 2)""".stripMargin
  private val punctReSql = "'[!-/:-@\\[-`{-~]'"

  /** DuckDB expansion of [[graft.functions.TextFunctions.wordShingles]] for
    * n=8 over a token-list column `ws`: distinct space-joined 8-token
    * windows; short docs collapse to the whole doc as one gram. ONE
    * definition — d57/d73/d94/d101 all splice this, so the
    * engine-equivalence-critical semantics can never diverge per-oracle.
    */
  private val gram8Sql =
    """list_distinct(
      |  CASE WHEN len(ws) >= 8
      |   THEN list_transform(range(1, len(ws) - 6), i -> array_to_string(ws[i:i+7], ' '))
      |   ELSE [array_to_string(ws, ' ')] END)""".stripMargin

  /** ONE quality-gate oracle — the batch query (d60) and its streaming
    * twin (d121) stay gated by the SAME SQL (batch/stream-uniform model,
    * reference translator.py:180-206).
    */
  private lazy val gopherOracleSql =
    s"""WITH m AS (SELECT doc_id, len($toksSql) AS nt,
       |  CAST(list_sum(list_transform($toksSql, x -> length(x))) AS DOUBLE)
       |    / len($toksSql) AS mwl,
       |  CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
       |    / len($toksSql) AS sr,
       |  CAST(len(list_distinct($toksLowerSql)) AS DOUBLE) / len($toksLowerSql) AS dr
       | FROM documents WHERE len($toksSql) > 0)
       |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, ROUND(mwl, 6) AS mean_wlen,
       | ROUND(sr, 6) AS stop_ratio, ROUND(dr, 6) AS distinct_ratio
       |FROM m WHERE nt >= 20 AND mwl BETWEEN 3.0 AND 10.0 AND sr >= 0.05 AND dr >= 0.5""".stripMargin

  /** ONE anomaly oracle — the batch query (d72) and its streaming twin
    * (d123) must stay gated by the SAME SQL, or the batch/stream
    * equivalence claim silently weakens to two separate contracts.
    */
  private val anomalyOracleSql =
    """WITH s AS (SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
      | FROM events GROUP BY 1)
      |SELECT CAST(event_id AS BIGINT) AS event_id, event_type, value,
      | ROUND((value - m) / sd, 4) AS z
      |FROM events JOIN s USING (event_type)
      |WHERE sd > 0 AND abs((value - m) / sd) > 3.0""".stripMargin

  val oracles: Map[String, String] = Map(
    // sum_charge routes DuckDB's decimal->double through VARCHAR: DuckDB's
    // direct DECIMAL->DOUBLE cast is not correctly rounded once the
    // unscaled value leaves double-exact range (probed at 10x: scale-6
    // unscaled 5.2e16 -> ...512726 vs the true ...51273, which Spark's
    // BigDecimal cast and DuckDB's strtod both produce). Identical at
    // driver SFs; exact at any scale.
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        | CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_pushdown" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_quantity < 25
        |GROUP BY l_returnflag""".stripMargin,
    "q03_join_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q04_semi_join" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin,
    "q05_topk_orders" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q06_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    "q07_union_buckets" ->
      """SELECT 'high' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity >= 40
        |UNION ALL
        |SELECT 'low' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity < 10""".stripMargin,
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "q09_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) WHERE rnk <= 3""".stripMargin,
    "q10_rollup" ->
      "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    "q11_nation_profile" ->
      """WITH c AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal FROM customer GROUP BY 1),
        | s AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp FROM supplier GROUP BY 1)
        |SELECT n_name, COALESCE(n_cust, 0) AS n_cust, COALESCE(sum_bal, 0.0) AS sum_bal,
        | COALESCE(n_supp, 0) AS n_supp
        |FROM nation LEFT JOIN c ON n_nationkey = c.nk LEFT JOIN s ON n_nationkey = s.nk""".stripMargin,
    "q12_wordcount" ->
      s"""SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS n
         |FROM (SELECT unnest($toksSql) AS t FROM documents) GROUP BY t""".stripMargin,
    "q13_mean_combine" ->
      "SELECT event_type, ROUND(SUM(value) / COUNT(*), 4) AS mean_value FROM events GROUP BY event_type",
    "q14_side_input_dict" ->
      // LEFT JOIN + COALESCE mirrors the engine's getOrElse(nk, "UNKNOWN"):
      // an orphan c_nationkey lands in the UNKNOWN bucket on BOTH sides
      // instead of being silently dropped by an inner join
      """SELECT COALESCE(n_name, 'UNKNOWN') AS n_name, CAST(COUNT(*) AS BIGINT) AS n_cust
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY COALESCE(n_name, 'UNKNOWN')""".stripMargin,
    "q15_tagged_outputs" ->
      // HAVING matches the engine's combinePerKey, which emits NO row for a
      // label with zero events (an ungrouped aggregate would emit (0, NULL))
      """SELECT 'purchase' AS label, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events WHERE event_type = 'purchase' HAVING COUNT(*) > 0
        |UNION ALL
        |SELECT 'error' AS label, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events WHERE event_type = 'error' HAVING COUNT(*) > 0""".stripMargin,
    "q16_cogroup" ->
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders, c_acctbal AS acctbal
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_acctbal""".stripMargin,
    "q17_fixed_windows" ->
      """SELECT event_type, CAST((epoch_ms(ts) // 3600000) * 3600000 AS BIGINT) AS window_start,
        | CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q18_session_windows" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
        | m AS (SELECT user_id, ms, value,
        |   CASE WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |     OR ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 1800000
        |   THEN 1 ELSE 0 END AS ns FROM e),
        | s AS (SELECT user_id, ms, value,
        |   SUM(ns) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, CAST(MIN(ms) AS BIGINT) AS session_start,
        | CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q19_sliding_windows" ->
      """WITH x AS (SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS w1 FROM events)
        |SELECT event_type, CAST(ws AS BIGINT) AS window_start, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT event_type, unnest([w1 - 3600000, w1]) AS ws FROM x) GROUP BY 1, 2""".stripMargin,
    "q20_stateful_pardo" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value), 4) AS sum_value,
        | CAST(MAX(epoch_ms(ts)) AS BIGINT) AS last_ms
        |FROM events GROUP BY user_id""".stripMargin,
    "d21_dedup_exact" ->
      """SELECT lang, n_chars, CAST(MIN(doc_id) AS BIGINT) AS rep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY lang, n_chars""".stripMargin,
    "d22_dedup_survivors" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_survivors FROM (
        | SELECT lang, ROW_NUMBER() OVER (PARTITION BY lang, n_chars ORDER BY doc_id) AS rn
        | FROM documents) WHERE rn = 1 GROUP BY lang""".stripMargin,
    "d25_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars,
         |  list_distinct(${toksLowerSql}) AS toks FROM documents)
         |SELECT id1, id2, jaccard FROM (
         | SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
         | FROM t a JOIN t b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.1""".stripMargin,
    "d26_embed_topk" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        | c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings)
        |SELECT query_id, corpus_id, score, rnk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  ROUND(list_cosine_similarity(c.cv, q.qv), 6) AS score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.vec_id) AS BIGINT) AS rnk
        | FROM c, q) WHERE rnk <= 10""".stripMargin,
    "d29_text_stats" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(len($toksSql)) AS BIGINT) AS total_tokens,
         | CAST(CAST(SUM(len($toksSql)) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM documents GROUP BY lang""".stripMargin,
    "d30_langid" ->
      s"""WITH t AS (SELECT lang, $toksLowerSql AS toks FROM documents),
         | s AS (SELECT lang,
         |  len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it','for','with'], t))) AS s_en,
         |  len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','del','las','por'], t))) AS s_es,
         |  len(list_filter(toks, t -> list_contains(['le','la','de','et','les','des','un','une','du','est'], t))) AS s_fr,
         |  len(list_filter(toks, t -> list_contains(['der','die','und','das','von','den','des','ein','mit','ist'], t))) AS s_de,
         |  len(list_filter(toks, t -> list_contains(['的','了','是','在','我','有','和','就','不','人'], t))) AS s_zh
         | FROM t)
         |SELECT lang,
         | CASE WHEN s_zh > s_de AND s_zh > s_fr AND s_zh > s_es AND s_zh > s_en AND s_zh > 0 THEN 'zh'
         |  WHEN s_de > s_fr AND s_de > s_es AND s_de > s_en AND s_de > 0 THEN 'de'
         |  WHEN s_fr > s_es AND s_fr > s_en AND s_fr > 0 THEN 'fr'
         |  WHEN s_es > s_en AND s_es > 0 THEN 'es'
         |  WHEN s_en > 0 THEN 'en' ELSE 'und' END AS lang_pred,
         | CAST(COUNT(*) AS BIGINT) AS n
         |FROM s GROUP BY 1, 2""".stripMargin,
    "d31_quality" ->
      s"""WITH m AS (SELECT lang,
         |  len($toksSql) AS nt,
         |  CAST(length(text) - length(regexp_replace(text, $punctReSql, '', 'g')) AS DOUBLE)
         |    / GREATEST(length(text), 1) AS pr,
         |  CASE WHEN len($toksSql) > 0 THEN
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, lower(t)))) AS DOUBLE)
         |      / len($toksSql)
         |  ELSE 0.0 END AS sr
         | FROM documents),
         | q AS (SELECT lang, pr, sr,
         |  ROUND(LEAST(CAST(nt AS DOUBLE) / 50.0, 1.0) * 0.4 + LEAST(sr * 4.0, 1.0) * 0.4 +
         |    GREATEST(1.0 - pr * 5.0, 0.0) * 0.2, 6) AS quality
         | FROM m)
         |SELECT lang, ROUND(SUM(quality) / COUNT(*), 4) AS avg_quality,
         | ROUND(SUM(pr) / COUNT(*), 4) AS avg_punct,
         | ROUND(SUM(sr) / COUNT(*), 4) AS avg_stopword
         |FROM q GROUP BY lang""".stripMargin,
    "d35_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS purchase_ms FROM events
        |  WHERE event_type = 'purchase'),
        | r AS (SELECT user_id, epoch_ms(ts) AS ms, ROUND(MIN(value), 4) AS signup_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.purchase_ms,
        | r.ms AS asof_ms, r.signup_value AS asof_signup_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.purchase_ms >= r.ms""".stripMargin,
    "d36_range_join" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |JOIN (SELECT * FROM events WHERE event_type = 'error') r
        | ON l.user_id = r.user_id AND abs(epoch_ms(l.ts) - epoch_ms(r.ts)) <= 60000""".stripMargin,
    "d37_distinct_users" ->
      "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events GROUP BY event_type",
    "d39_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3""".stripMargin,
    "d40_percentiles" ->
      """SELECT event_type,
        | ROUND(quantile_cont(value, 0.5), 4) AS p50,
        | ROUND(quantile_cont(value, 0.95), 4) AS p95,
        | ROUND(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "d41_string_funcs" ->
      """SELECT lang, MIN(upper(substring(text, 1, 8))) AS first_prefix,
        | CAST(MAX(length(text)) AS BIGINT) AS max_len,
        | CAST(SUM(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS BIGINT) AS n_spark
        |FROM documents GROUP BY lang""".stripMargin,
    "d42_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(day(o_orderdate)) AS BIGINT) AS first_day
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "d43_cube" ->
      """SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)""".stripMargin,
    "d46_correlated_subquery" ->
      """SELECT c_custkey, c_nationkey FROM customer c
        |WHERE c_acctbal > (
        | SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        | FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,
    "d47_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(COUNT(*) OVER w AS BIGINT) AS running_n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        | ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "d48_json_extract" ->
      """SELECT event_type,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        | CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k
        |FROM events GROUP BY event_type""".stripMargin,
    "d49_intersect" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
        |INTERSECT
        |SELECT CAST(o_custkey AS BIGINT) AS k FROM orders""".stripMargin,
    "d50_except" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
        |EXCEPT
        |SELECT CAST(o_custkey AS BIGINT) AS k FROM orders""".stripMargin,
    "d51_partial_topk" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        | c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings)
        |SELECT query_id, corpus_id, score, rnk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  ROUND(list_cosine_similarity(c.cv, q.qv), 6) AS score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(c.cv, q.qv) DESC, c.vec_id) AS BIGINT) AS rnk
        | FROM c, q) WHERE rnk <= 10""".stripMargin,
    "d52_group_batches" ->
      """SELECT event_type,
        | CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS n_batches,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(LEAST(COUNT(*), 100) AS BIGINT) AS max_batch
        |FROM events GROUP BY event_type""".stripMargin,
    "d53_salted_agg" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "d57_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, source, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, source, unnest($gram8Sql) AS gram FROM t),
         |e AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0','src1'))
         |SELECT doc_id, n_shared FROM (
         | SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         | FROM g JOIN e USING(gram) WHERE g.source NOT IN ('src0','src1') GROUP BY 1)
         |WHERE n_shared >= 3""".stripMargin,
    "d58_incremental_dedup" ->
      s"""WITH t AS (SELECT doc_id, lang, source,
         |  array_to_string(list_sort(list_distinct($toksLowerSql)), ' ') AS k FROM documents)
         |SELECT a.doc_id, a.lang, a.source FROM t a
         |WHERE a.doc_id % 5 = 4 AND NOT EXISTS (
         | SELECT 1 FROM t b WHERE b.doc_id % 5 <> 4 AND b.k = a.k)""".stripMargin,
    "d59_pack_sequences" -> packOracleSql,
    "d60_gopher_filter" -> gopherOracleSql,
    "d61_tfidf" ->
      s"""WITH terms AS (SELECT doc_id, unnest($toksLowerSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf, df,
         |  ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
         | FROM tf JOIN dfq USING(term) CROSS JOIN n)
         |SELECT doc_id, term, tf, df, tfidf, rnk FROM (
         | SELECT *, CAST(ROW_NUMBER() OVER (
         |   PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rnk FROM sc)
         |WHERE rnk <= 3""".stripMargin,
    "d62_embed_centroids" ->
      """WITH x AS (SELECT label,
        |  unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v,
        |  unnest(range(0, len(embedding))) AS dim FROM embeddings)
        |SELECT label, dim, ROUND(SUM(v) / COUNT(*), 4) AS avg_v,
        | CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM x GROUP BY label, dim""".stripMargin,
    "d63_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents),
         |c AS (SELECT doc_id, ws, len(ws) AS n,
         |  unnest(range(0, CASE WHEN len(ws) > 8 THEN 1 + (len(ws) - 9) // 24 ELSE 1 END)) AS k
         | FROM t)
         |SELECT doc_id, k AS chunk_id,
         | array_to_string(ws[k*24 + 1 : k*24 + 32], ' ') AS chunk,
         | CAST(LEAST(32, n - k*24) AS BIGINT) AS n_chunk_tokens
         |FROM c""".stripMargin,
    "d64_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(epoch_ms(ts)) AS m1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(epoch_ms(e.ts)) AS m2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ms(e.ts) >= m1
        |    AND epoch_ms(e.ts) < m1 + 86400000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(epoch_ms(e.ts)) AS m3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= m2
        |    AND epoch_ms(e.ts) < m2 + 86400000 GROUP BY 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_signup,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_signup_click,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_full_funnel""".stripMargin,
    "d65_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS days_since,
        | CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM ud JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,
    "d66_price_deciles" ->
      """WITH t AS (SELECT o_orderpriority, o_totalprice,
        |  NTILE(10) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS decile
        | FROM orders)
        |SELECT o_orderpriority, CAST(decile AS BIGINT) AS decile,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | ROUND(MIN(o_totalprice), 2) AS min_price,
        | ROUND(MAX(o_totalprice), 2) AS max_price
        |FROM t GROUP BY 1, 2""".stripMargin,
    "d67_order_gaps" ->
      """WITH t AS (SELECT o_custkey,
        |  epoch_ms(o_orderdate) AS ms,
        |  LAG(epoch_ms(o_orderdate)) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_ms
        | FROM orders)
        |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        | ROUND(CAST(SUM((ms - prev_ms) // 86400000) AS DOUBLE) / COUNT(*), 4) AS avg_gap_days,
        | CAST(MAX((ms - prev_ms) // 86400000) AS BIGINT) AS max_gap_days
        |FROM t WHERE prev_ms IS NOT NULL GROUP BY 1""".stripMargin,

    "d68_group_corr" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        | ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | ROUND(covar_samp(l_quantity, l_extendedprice), 3) AS covar_s,
        | ROUND(covar_pop(l_quantity, l_extendedprice), 3) AS covar_p
        |FROM lineitem GROUP BY 1""".stripMargin,

    "d69_repetition" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS ws FROM documents),
         |big AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |  i -> ws[i] || ' ' || ws[i+1])) AS g FROM t WHERE len(ws) >= 2),
         |topb AS (SELECT doc_id, max(c) AS topc FROM (
         |  SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2) GROUP BY 1),
         |p AS (SELECT t.doc_id, t.lang, len(ws) AS n,
         |  len(list_distinct(ws)) AS nd, coalesce(topc, 0) AS topc
         | FROM t LEFT JOIN topb ON t.doc_id = topb.doc_id)
         |SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens,
         | ROUND(1.0 - nd * 1.0 / n, 6) AS dup_word_frac,
         | ROUND(topc * 1.0 / (n - 1), 6) AS top_bigram_frac
         |FROM p WHERE n >= 2
         | AND (1.0 - nd * 1.0 / n > 0.72 OR topc * 1.0 / (n - 1) > 0.06)""".stripMargin,

    "d70_orc_roundtrip" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    "d71_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "d72_anomaly" -> anomalyOracleSql,

    "d73_dup_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, unnest($gram8Sql) AS gram FROM t),
         |f AS (SELECT gram, count(*) AS ndw FROM g GROUP BY 1),
         |p AS (SELECT doc_id, count(*) AS n_grams,
         |  sum(CASE WHEN ndw > 1 THEN 1 ELSE 0 END) AS n_shared
         | FROM g JOIN f USING (gram) GROUP BY 1)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        | CAST(n_shared AS BIGINT) AS n_shared,
        | ROUND(n_shared * 1.0 / n_grams, 6) AS shared_frac
        |FROM p WHERE n_shared > 0""".stripMargin,

    "d74_moving_window" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        | CAST(user_id AS BIGINT) AS user_id, epoch_ms(ts) AS ts_ms,
        | CAST(COUNT(*) OVER w AS BIGINT) AS mov_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        | RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "d75_sessionize" ->
      """WITH f AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
        |  CASE WHEN LAG(epoch_ms(ts)) OVER w IS NULL
        |    OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > 21600000
        |   THEN 1 ELSE 0 END AS brk
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        |sid AS (SELECT user_id, value, ts_ms,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |   ROWS UNBOUNDED PRECEDING) AS session_id
        | FROM f)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        | CAST(session_id AS BIGINT) AS session_id,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(MIN(ts_ms) AS BIGINT) AS start_ms,
        | CAST(MAX(ts_ms) - MIN(ts_ms) AS BIGINT) AS duration_ms,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sid GROUP BY user_id, session_id""".stripMargin,

    "d76_pivot" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY 1""".stripMargin,

    "d77_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS amount FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS amount FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_tax' AS metric, sum_tax AS amount FROM a""".stripMargin,

    "d78_top_terms" ->
      s"""SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM (SELECT unnest($toksLowerSql) AS term FROM documents)
         |GROUP BY 1 ORDER BY n_occurrences DESC, term LIMIT 20""".stripMargin,

    "d80_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,

    "d81_portable_sample" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'""".stripMargin,

    "d82_csv_roundtrip" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY 1""".stripMargin,

    "d83_json_roundtrip" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY 1""".stripMargin,

    // exact count hash-verified; the sketch estimate rides as a 3.5-sigma
    // in-bounds flag (TRUE at any scale unless a union/merge breaks) —
    // scale-proof where pinning estimate == exact only held inside the
    // coupon regime of the small test SFs
    "d84_hll_rollup" ->
      """SELECT event_type,
        | CAST(COUNT(DISTINCT epoch_ms(ts) // 86400000) AS BIGINT) AS n_days,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
        | TRUE AS hll_within_bounds
        |FROM events GROUP BY 1""".stripMargin,

    "d85_weighted_sample" ->
      """WITH m AS (SELECT max(n_chars) AS mx FROM documents),
        |s AS (SELECT lang, n_chars FROM documents, m
        |      WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
        |            < lpad(lower(hex((CAST(n_chars AS BIGINT) * 16777216) // mx)), 7, '0'))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1""".stripMargin,

    "d86_drift_psi" ->
      """WITH e AS (SELECT event_type,
        |    epoch_ms(ts) < 1705363200000 AS a,
        |    least(9, CAST(floor(value / 50.0) AS INT)) AS bin FROM events),
        |g AS (SELECT event_type, bin
        |      FROM (SELECT DISTINCT event_type FROM e),
        |           (SELECT unnest(range(0, 10)) AS bin)),
        |c AS (SELECT event_type, bin,
        |        SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
        |        SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb
        |      FROM e GROUP BY 1, 2),
        |f AS (SELECT g.event_type, g.bin,
        |        coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |      FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.bin = c.bin),
        |t AS (SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb FROM f GROUP BY 1)
        |SELECT f.event_type,
        | CAST(MAX(ta) AS BIGINT) AS n_before, CAST(MAX(tb) AS BIGINT) AS n_after,
        | ROUND(SUM(((na + 1.0) / (ta + 10) - (nb + 1.0) / (tb + 10))
        |   * ln(((na + 1.0) / (ta + 10)) / ((nb + 1.0) / (tb + 10)))), 4) AS psi
        |FROM f JOIN t USING (event_type) GROUP BY 1""".stripMargin,

    "d87_regex_census" ->
      """SELECT lang,
        | CAST(SUM(len(regexp_extract_all(text, '\b[a-z]{6}\b'))) AS BIGINT) AS n_hits,
        | CAST(SUM(CASE WHEN regexp_matches(text, '\b[a-z]{6}\b')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
        | CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "d88_lm_typicality" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
         |  THEN list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))
         |  ELSE [array_to_string(ws, ' ')] END) AS gram FROM t),
         |m AS (SELECT gram, count(*) AS gfreq FROM g GROUP BY 1),
         |p AS (SELECT doc_id, count(*) AS nb, sum(gfreq) AS tot
         |      FROM g JOIN m USING (gram) GROUP BY 1)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
        | ROUND(CAST(tot AS DOUBLE) / nb, 6) AS typicality
        |FROM p""".stripMargin,

    "d91_source_cap" ->
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM r WHERE rn <= 5 GROUP BY 1""".stripMargin,

    "d92_vocab_oov" ->
      s"""WITH t AS (SELECT lang, unnest($toksLowerSql) AS tok FROM documents),
         |v AS (SELECT tok, TRUE AS inv FROM (
         |  SELECT tok, count(*) AS c FROM t GROUP BY 1
         |  ORDER BY c DESC, tok ASC LIMIT 10)),
         |j AS (SELECT lang, inv FROM t LEFT JOIN v USING (tok))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        | CAST(SUM(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | ROUND(CAST(SUM(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / COUNT(*), 6) AS oov_rate
        |FROM j GROUP BY 1""".stripMargin,

    "d93_mixture_rebalance" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS mn FROM c),
        |s AS (SELECT d.lang, d.n_chars FROM documents d JOIN c USING (lang), m
        |      WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
        |            < lpad(lower(hex((CAST(mn AS BIGINT) * 16777216) // n)), 7, '0'))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1""".stripMargin,

    "d94_contamination_frac" ->
      s"""WITH t AS (SELECT doc_id, source, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, source, unnest($gram8Sql) AS gram FROM t),
         |e AS (SELECT DISTINCT gram FROM g WHERE source IN ('src0','src1'))
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        | CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        | ROUND(CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / COUNT(*), 6) AS contamination
        |FROM g LEFT JOIN e ON g.gram = e.gram
        |WHERE g.source NOT IN ('src0','src1') GROUP BY 1""".stripMargin,

    "d95_event_pairs" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day,
        |    event_type FROM events)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        | CAST(COUNT(*) AS BIGINT) AS n_baskets
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.day = b.day
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,

    "d96_length_percentile" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
        |  FROM documents)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        | ROUND(pr, 6) AS pct_rank
        |FROM r WHERE pr < 0.1""".stripMargin,

    "d97_bucketed_join" ->
      """SELECT CAST(o_custkey % 100 AS BIGINT) AS cust_bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "d98_full_outer" ->
      """WITH o AS (SELECT epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000
        |    AS day, count(*) AS no FROM orders GROUP BY 1),
        |e AS (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS ne
        |    FROM events GROUP BY 1)
        |SELECT coalesce(o.day, e.day) AS day,
        | CAST(coalesce(no, 0) AS BIGINT) AS n_orders,
        | CAST(coalesce(ne, 0) AS BIGINT) AS n_events
        |FROM o FULL OUTER JOIN e ON o.day = e.day""".stripMargin,

    "d99_redact" ->
      """SELECT doc_id,
        | regexp_replace(text, '\b[a-z]{6}\b', '[MASK]', 'g') AS text_redacted,
        | CAST(length(regexp_replace(text, '\b[a-z]{6}\b', '[MASK]', 'g')) AS BIGINT)
        |   AS n_chars_redacted
        |FROM documents""".stripMargin,

    "d100_random_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        |FROM r WHERE rn <= 10""".stripMargin,

    "d101_novelty_rate" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, unnest($gram8Sql) AS gram FROM t),
         |c AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 <> 0)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        | CAST(SUM(CASE WHEN c.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | ROUND(CAST(SUM(CASE WHEN c.gram IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / COUNT(*), 6) AS novelty
        |FROM g LEFT JOIN c ON g.gram = c.gram
        |WHERE g.doc_id % 7 = 0 GROUP BY 1""".stripMargin,

    "d102_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, u.i - 1 AS pos,
         |    CASE WHEN len(ws) >= 8 THEN array_to_string(ws[u.i:u.i+7], ' ')
         |         ELSE array_to_string(ws, ' ') END AS gram
         |  FROM t, unnest(CASE WHEN len(ws) >= 8 THEN range(1, len(ws) - 6)
         |                      ELSE [CAST(1 AS BIGINT)] END) AS u(i)),
         |dup AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
         |s AS (SELECT doc_id, list(DISTINCT pos) AS starts
         |      FROM g JOIN dup USING (gram) GROUP BY 1),
         |k AS (SELECT t.doc_id, ws,
         |    list_filter(ws, (x, i) -> len(list_filter(coalesce(starts, []),
         |      st -> (i - 1) >= st AND (i - 1) <= st + 7)) = 0) AS kept
         |  FROM t LEFT JOIN s USING (doc_id))
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        | CAST(len(ws) - len(kept) AS BIGINT) AS n_masked,
        | coalesce(array_to_string(kept, ' '), '') AS text_deduped
        |FROM k""".stripMargin,

    "d103_edit_distance" ->
      """WITH r AS (SELECT doc_id, lang, n_chars, text,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents WHERE n_chars > 0),
        |t0 AS (SELECT doc_id, lang, n_chars, text FROM r WHERE rn = 1),
        |t AS (SELECT doc_id, lang, n_chars, text FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY lang, n_chars) AS bn FROM t0)
        |  WHERE bn BETWEEN 2 AND 1000)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        | CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
        | ROUND(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) / a.n_chars, 6) AS sim
        |FROM t a JOIN t b
        |  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 120""".stripMargin,

    "d104_mad_outliers" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |    FROM events GROUP BY 1),
        |a AS (SELECT e.event_type, abs(value - med) AS ad, med
        |    FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM a GROUP BY 1)
        |SELECT a.event_type,
        | CAST(SUM(CASE WHEN ad > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | ROUND(MAX(med), 4) AS med, ROUND(MAX(mad), 4) AS mad
        |FROM a JOIN md USING (event_type) GROUP BY 1""".stripMargin,

    "d105_weighted_median" ->
      """WITH w AS (SELECT lang, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cum,
        |    sum(n_chars) OVER (PARTITION BY lang) AS tot
        |  FROM documents)
        |SELECT lang,
        | CAST(MIN(CASE WHEN 2 * cum >= tot THEN n_chars END) AS BIGINT) AS wmedian,
        | CAST(MAX(tot) AS BIGINT) AS total_chars
        |FROM w GROUP BY 1""".stripMargin,

    "d106_char_entropy" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |    FROM documents),
        |f AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(c) AS n FROM f GROUP BY 1),
        |e AS (SELECT f.doc_id, -sum((c * 1.0 / n) * ln(c * 1.0 / n)) AS ent
        |  FROM f JOIN t USING (doc_id) GROUP BY 1)
        |SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
        | CASE WHEN d.text IS NULL THEN NULL
        |      ELSE ROUND(coalesce(ent, 0.0), 4) END AS entropy,
        | CASE WHEN d.text IS NULL THEN NULL
        |      ELSE coalesce(ent, 0.0) < 2.65 END AS low_entropy
        |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id""".stripMargin,

    "d107_source_overlap" ->
      s"""WITH k AS (SELECT DISTINCT source,
         |    array_to_string(list_sort(list_distinct($toksLowerSql)), ' ') AS key
         |  FROM documents)
        |SELECT a.source AS s1, b.source AS s2,
        | CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM k a JOIN k b ON a.key = b.key AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    "d108_windowed_dedup" ->
      """WITH r AS (SELECT event_type, value,
        |  row_number() OVER (PARTITION BY user_id, event_type, epoch_ms(ts) // 3600000
        |    ORDER BY epoch_ms(ts), event_id) AS rn
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
        | ROUND(SUM(value), 4) AS sum_value
        |FROM r WHERE rn = 1 GROUP BY 1""".stripMargin,

    "d109_twap" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    epoch_ms(ts) AS ms, event_id, value FROM events),
        |l AS (SELECT user_id, day, value,
        |    CAST(lead(ms) OVER (PARTITION BY user_id, day ORDER BY ms, event_id) - ms
        |      AS DOUBLE) AS dt
        |  FROM e)
        |SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        | ROUND(SUM(value * dt) / SUM(dt), 6) AS twap
        |FROM l WHERE dt IS NOT NULL
        |GROUP BY 1, 2 HAVING SUM(dt) > 0""".stripMargin,

    "d110_revenue_share" ->
      """WITH n AS (SELECT r_name, n_name,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, ROUND(revenue, 2) AS revenue,
        | ROUND(revenue / SUM(revenue) OVER (PARTITION BY r_name), 6) AS region_share
        |FROM n""".stripMargin,

    "d111_yoy_growth" ->
      """WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT year, n_orders, ROUND(rev, 2) AS revenue,
        | ROUND(rev - lag(rev) OVER (ORDER BY year), 2) AS yoy_abs,
        | ROUND((rev - lag(rev) OVER (ORDER BY year))
        |   / lag(rev) OVER (ORDER BY year), 6) AS yoy_rel
        |FROM y""".stripMargin,

    "d112_equidepth_hist" ->
      """WITH b AS (SELECT lang, n_chars,
        |  ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bucket
        |  FROM documents)
        |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(MIN(n_chars) AS BIGINT) AS lo, CAST(MAX(n_chars) AS BIGINT) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin,

    "d113_pareto_share" ->
      """WITH c AS (SELECT c_mktsegment, c_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_mktsegment, rev,
        |    ntile(10) OVER (PARTITION BY c_mktsegment
        |      ORDER BY rev DESC, c_custkey) AS decile
        |  FROM c)
        |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        | ROUND(CAST(SUM(CASE WHEN decile = 1 THEN rev ELSE 0 END) AS DOUBLE)
        |   / CAST(SUM(rev) AS DOUBLE), 6) AS top_decile_share
        |FROM r GROUP BY 1""".stripMargin,

    "d114_three_way_cogroup" ->
      """WITH c AS (SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_cust
        |    FROM customer WHERE c_acctbal > 0 GROUP BY 1),
        |o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_totalprice > 400000 GROUP BY 1),
        |e AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n_events
        |    FROM events GROUP BY 1),
        |j AS (SELECT COALESCE(c.k, o.k) AS k, n_cust, n_orders, sum_price
        |    FROM c FULL JOIN o ON c.k = o.k)
        |SELECT COALESCE(j.k, e.k) AS k,
        | CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
        | CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        | CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
        | ROUND(COALESCE(sum_price, 0), 4) AS sum_price
        |FROM j FULL JOIN e ON j.k = e.k""".stripMargin,

    "d115_avro_roundtrip" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        | CAST(MAX(doc_id) AS BIGINT) AS last_doc,
        | CAST(SUM(CAST(n_chars AS DECIMAL(16,0)) * CAST(0.25 AS DECIMAL(3,2)))
        |   AS DOUBLE) AS sum_score
        |FROM documents GROUP BY 1""".stripMargin,

    "d116_event_cadence" ->
      """WITH g AS (SELECT user_id,
        |    epoch_ms(ts) - LAG(epoch_ms(ts))
        |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id, CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
        | CAST(SUM(gap) AS BIGINT) AS span_ms,
        | CAST(MIN(gap) AS BIGINT) AS min_gap,
        | CAST(MAX(gap) AS BIGINT) AS max_gap,
        | ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 6) AS mean_gap,
        | MAX(gap) * COUNT(*) > 5 * SUM(gap) AS bursty
        |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin,

    "d117_event_lift" ->
      """WITH b AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day, event_type
        |    FROM events),
        |n AS (SELECT COUNT(*) AS total FROM (SELECT DISTINCT user_id, day FROM b)),
        |s AS (SELECT event_type, COUNT(*) AS n_x FROM b GROUP BY 1),
        |p AS (SELECT a.event_type AS t1, c.event_type AS t2, COUNT(*) AS n_ab
        |  FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
        |    AND a.event_type < c.event_type
        |  GROUP BY 1, 2)
        |SELECT t1, t2, CAST(n_ab AS BIGINT) AS n_ab,
        | CAST(sa.n_x AS BIGINT) AS n_a, CAST(sb.n_x AS BIGINT) AS n_b,
        | ROUND(CAST(n_ab AS DOUBLE) * total / sa.n_x / sb.n_x, 6) AS lift
        |FROM p, n
        |JOIN s sa ON sa.event_type = t1
        |JOIN s sb ON sb.event_type = t2""".stripMargin,

    "d118_stickiness" ->
      """WITH ud AS (SELECT DISTINCT o_custkey AS u,
        |    epoch_ms(o_orderdate) // 86400000 AS day FROM orders),
        |da AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |w AS (SELECT d.day, CAST(COUNT(DISTINCT u.u) AS BIGINT) AS wau
        |  FROM (SELECT DISTINCT day FROM ud) d
        |  JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day, dau, wau,
        | ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
        |FROM da JOIN w USING (day)""".stripMargin,

    "d119_rfm_segments" ->
      """WITH m AS (SELECT c_mktsegment, o_custkey, MAX(o_orderdate) AS rec,
        |    COUNT(*) AS freq, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |t AS (SELECT c_mktsegment,
        |    ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY rec, o_custkey) AS r,
        |    ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY freq, o_custkey) AS f,
        |    ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY mon, o_custkey) AS mo
        |  FROM m)
        |SELECT c_mktsegment, CAST(r*100 + f*10 + mo AS BIGINT) AS rfm,
        | CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM t GROUP BY 1, 2""".stripMargin,

    // ---- streaming twins (d120-d124): gated by the SAME relational truth
    // as their batch counterparts — the oracle knows nothing about
    // micro-batches, watermarks, or state stores, which is the point.
    "d120_stream_dedup" ->
      """WITH k AS (SELECT DISTINCT user_id, event_type,
        |  epoch_ms(ts) // 3600000 AS hr FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM k GROUP BY 1""".stripMargin,
    // checkpoint-resume must land on the batch DISTINCT over the FULL
    // table: re-read files inflate n_keys per type, lost dedup state
    // re-emits every half-straddling key — either breaks the hash
    "d146_stream_resume" ->
      """WITH k AS (SELECT DISTINCT user_id, event_type,
        |  epoch_ms(ts) // 3600000 AS hr FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM k GROUP BY 1""".stripMargin,
    // per-column census recomputed cell by cell; the double column is
    // pre-cast to DECIMAL(18,4) on BOTH sides so min/max stringification
    // is engine-portable
    "d147_profile" -> {
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_flag_nn", "l_shipdate")
      val selects = cols.map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           | COUNT(*) - COUNT($c) AS n_nulls,
           | COUNT(DISTINCT $c) AS n_distinct,
           | CAST(MIN($c) AS VARCHAR) AS min_val,
           | CAST(MAX($c) AS VARCHAR) AS max_val FROM t""".stripMargin
      }
      s"""WITH t AS (SELECT l_orderkey, l_linenumber,
         |  CAST(l_quantity AS DECIMAL(18,4)) AS l_quantity,
         |  nullif(l_returnflag, 'N') AS l_flag_nn, l_shipdate FROM lineitem)
         |${selects.mkString("\nUNION ALL\n")}""".stripMargin
    },
    // Spark's native streaming session_window must land on the SAME
    // gap-and-island SQL that gates the batch q18 sessions
    "d148_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
        | m AS (SELECT user_id, ms, value,
        |   CASE WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |     OR ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 1800000
        |   THEN 1 ELSE 0 END AS ns FROM e),
        | s AS (SELECT user_id, ms, value,
        |   SUM(ns) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, CAST(MIN(ms) AS BIGINT) AS session_start,
        | CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // the unsalted join — the 8-way salt must be invisible in the result
    "d149_salted_join" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "d121_stream_quality" -> gopherOracleSql,
    "d122_stream_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, source, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, unnest($gram8Sql) AS gram FROM t),
         |e AS (SELECT DISTINCT g.gram FROM g JOIN documents USING (doc_id)
         |  WHERE source = 'src0' AND doc_id % 7 = 0),
         |surv AS (SELECT d2.doc_id, d2.source FROM documents d2
         |  WHERE NOT (d2.source = 'src0' AND d2.doc_id % 7 = 0)
         |  AND NOT EXISTS (SELECT 1 FROM g JOIN e USING (gram)
         |    WHERE g.doc_id = d2.doc_id))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_survivors,
         | CAST(MIN(doc_id) AS BIGINT) AS first_id
         |FROM surv GROUP BY 1""".stripMargin,
    "d123_stream_anomaly" -> anomalyOracleSql,
    "d124_stream_stateful" ->
      """SELECT user_id, (epoch_ms(ts) // 3600000) * 3600000 AS window_start,
        | CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // ---- model-based checks (d125-d134, see ModelChecks.scala): the
    // oracle recomputes the exact quantities (counts, heavy-term sets,
    // populations) and asserts the engine-side invariants as TRUE/zero
    // literals; a violated sketch guarantee, recall floor, subset law, or
    // sampling bound changes the hashed row and fails the driver's gate.
    // d32 graduates from no_oracle: the rolling fingerprint folds the
    // LOWERCASED TOKEN SEQUENCE through xxhash64, so distinct fingerprints
    // per language must equal distinct token sequences (collision odds at
    // corpus scale ~n²/2^65 — a mismatch is a broken hash, not bad luck).
    "d32_fingerprint" ->
      s"""SELECT lang, CAST(COUNT(DISTINCT array_to_string($toksLowerSql, ' '))
         |  AS BIGINT) AS n_distinct_fp
         |FROM documents GROUP BY 1""".stripMargin,
    "d125_check_approx_distinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS within_bounds
        |FROM events GROUP BY 1""".stripMargin,
    "d126_check_heavy_hitters" ->
      s"""WITH terms AS (SELECT unnest($toksLowerSql) AS term FROM documents),
         |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS true_count FROM terms GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM terms)
         |SELECT term, true_count, TRUE AS found, TRUE AS est_in_range
         |FROM c, n WHERE true_count > 2.0 * n / 101""".stripMargin,
    "d127_check_ann_recall" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_exact,
        | TRUE AS lsh_ok, TRUE AS ivf_ok, TRUE AS pq_ok, TRUE AS mean_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "d128_check_simhash_complete" ->
      """SELECT CAST(0 AS BIGINT) AS missed_pairs,
        | CAST(0 AS BIGINT) AS fabricated_pairs""".stripMargin,
    "d129_check_minhash_est" ->
      """SELECT CAST(0 AS BIGINT) AS est_violations,
        | CAST(0 AS BIGINT) AS missed_high_sim""".stripMargin,
    "d130_check_cluster_consistency" ->
      """SELECT CAST(0 AS BIGINT) AS edge_violations,
        | CAST(0 AS BIGINT) AS rep_violations,
        | CAST(0 AS BIGINT) AS node_violations""".stripMargin,
    "d131_check_approx_percentile" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
        |FROM events GROUP BY 1""".stripMargin,
    "d132_check_semantic_subset" ->
      """SELECT CAST(0 AS BIGINT) AS fabricated_pairs,
        | CAST(0 AS BIGINT) AS missed_in_cluster,
        | CAST(COUNT(*) AS BIGINT) AS n_vectors
        |FROM embeddings""".stripMargin,
    "d133_check_embed_neardup" ->
      """SELECT CAST(0 AS BIGINT) AS fabricated_pairs,
        | CAST(0 AS BIGINT) AS order_violations""".stripMargin,
    "d134_check_stratified_bounds" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pop, TRUE AS frac_ok
        |FROM documents GROUP BY 1""".stripMargin,
    "d135_check_multimodal" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_media,
        | CAST(0 AS BIGINT) AS type_violations,
        | CAST(0 AS BIGINT) AS dim_violations,
        | CAST(0 AS BIGINT) AS feature_violations
        |FROM embeddings""".stripMargin,

    "d136_zorder_layout" ->
      s"""WITH z AS (
         | SELECT ${duckInterleave21("l_orderkey", "l_partkey")} AS zval,
         |  l_orderkey, l_partkey, l_quantity
         | FROM lineitem)
         |SELECT (zval >> 22) AS zbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
         | CAST(SUM(l_partkey) AS BIGINT) AS sum_pkey,
         | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         | CAST(MIN(zval) AS BIGINT) AS min_z,
         | CAST(MAX(zval) AS BIGINT) AS max_z
         |FROM z GROUP BY 1""".stripMargin,

    "d137_bloom_export" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(MIN(o_orderkey) AS BIGINT) AS first_order,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_custkey % 97 = 0 GROUP BY 1""".stripMargin,

    "d138_upsert_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D' AS op
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U', o_totalprice + 10.0, 'U'
        |  FROM base WHERE o_orderkey % 7 IN (1, 2)
        |  UNION ALL
        |  SELECT -1 - o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'I'
        |  FROM base WHERE o_orderkey % 7 = 3)
        |SELECT b.* FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM changes WHERE op IN ('I', 'U')""".stripMargin,

    // the bloom prefilter must be invisible: plain IN-subquery semi join
    "d153_bloom_semi_join" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag""".stripMargin,

    // neighbor lookups via IGNORE NULLS windows; identical double algebra
    "d154_interpolate" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        |  CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
        | FROM events),
        |w AS (SELECT event_id, user_id, ts_ms, v,
        |  last_value(v IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN ts_ms END IGNORE NULLS)
        |    OVER wp AS px,
        |  first_value(v IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN ts_ms END IGNORE NULLS)
        |    OVER wn AS nx
        | FROM e WINDOW
        |  wp AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT CAST(event_id AS BIGINT) AS event_id,
        | CAST(user_id AS BIGINT) AS user_id, ts_ms,
        | ROUND(CASE WHEN v IS NOT NULL THEN v
        |   WHEN pv IS NULL OR nv IS NULL THEN NULL
        |   WHEN nx = px THEN pv
        |   ELSE pv + (nv - pv) * (CAST(ts_ms - px AS DOUBLE)
        |     / CAST(nx - px AS DOUBLE)) END, 6) AS value
        |FROM w""".stripMargin,

    // every constraint count recomputed as an independent scalar query
    "d155_constraints" ->
      """WITH r AS (
        |SELECT 'foreign_key' AS check_name,
        |  'o_custkey->active_customer' AS column_name,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
        |     (SELECT c_custkey FROM customer WHERE c_acctbal > 0))
        |    AS n_violations
        |UNION ALL
        |SELECT 'in_range', 'o_totalprice',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_totalprice IS NOT NULL
        |     AND o_totalprice NOT BETWEEN 0.0 AND 400000.0)
        |UNION ALL
        |SELECT 'in_set', 'o_orderstatus',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O'))
        |UNION ALL
        |SELECT 'not_null', 'o_custkey',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
        |UNION ALL
        |SELECT 'satisfies', 'o_orderdate_pre97',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE NOT COALESCE(o_orderdate < TIMESTAMP '1997-01-01 00:00:00', FALSE))
        |UNION ALL
        |SELECT 'unique', 'o_custkey',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM
        |    (SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey
        |     HAVING COUNT(*) > 1))
        |UNION ALL
        |SELECT 'unique', 'o_orderkey',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM
        |    (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
        |     HAVING COUNT(*) > 1)))
        |SELECT check_name, column_name, n_rows, n_violations,
        |  n_violations = 0 AS passed
        |FROM r""".stripMargin,

    // independent cross-side candidate route + exact integer verify
    "d163_cross_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, source IN ('src0','src1') AS ev,
         |        $gram8Sql AS gs FROM t WHERE len(ws) > 0),
         |e AS (SELECT doc_id, ev, unnest(gs) AS gram FROM g),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM e a JOIN e b ON a.gram = b.gram AND a.ev AND NOT b.ev),
         |v AS (SELECT i, j, len(list_intersect(ga.gs, gb.gs)) AS inter,
         |    len(ga.gs) AS n1, len(gb.gs) AS n2
         |  FROM cand JOIN g ga ON ga.doc_id = cand.i
         |    JOIN g gb ON gb.doc_id = cand.j)
         |SELECT CAST(i AS BIGINT) AS id1, CAST(j AS BIGINT) AS id2,
         | CAST(inter AS BIGINT) AS inter, CAST(n1 AS BIGINT) AS n1,
         | CAST(n2 AS BIGINT) AS n2,
         | ROUND(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jaccard
         |FROM v WHERE inter * 2 >= (n1 + n2 - inter) * 1""".stripMargin,

    // the exact integer-bucketed md5 split CASE, re-derived
    "d162_leakage_split" ->
      """WITH e AS (SELECT user_id, event_id,
        | CASE
        |  WHEN '0' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6)
        |       < lpad(lower(hex((8 * 16777216) // 10)), 7, '0') THEN 'train'
        |  WHEN '0' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6)
        |       < lpad(lower(hex((9 * 16777216) // 10)), 7, '0') THEN 'val'
        |  ELSE 'test' END AS split
        | FROM events)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e GROUP BY 1""".stripMargin,

    // exact join size and hot-key ranking from the two count tables
    "d161_join_fanout" ->
      """WITH lc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS ln
        |  FROM lineitem GROUP BY 1),
        |rc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS rn
        |  FROM orders WHERE o_totalprice > 200000 GROUP BY 1),
        |p AS (SELECT lc.k, ln * rn AS out_rows, ln AS left_rows,
        |        rn AS right_rows
        |      FROM lc JOIN rc USING (k)),
        |tot AS (SELECT CAST(COALESCE(SUM(out_rows), 0) AS BIGINT)
        |          AS total_rows FROM p)
        |SELECT CAST(k AS BIGINT) AS k, CAST(out_rows AS BIGINT) AS out_rows,
        | left_rows, right_rows, total_rows,
        | ROUND(CAST(out_rows AS DOUBLE) / total_rows, 6) AS share
        |FROM p, tot ORDER BY out_rows DESC, k ASC LIMIT 10""".stripMargin,

    // the manifest (id, UTF-8 byte length) recomputed from the table —
    // any lost/duplicated/truncated tar entry breaks the hash
    "d160_tar_shards" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,

    // targets re-derived (sqrt weights, rounded, capped) AND the exact
    // md5-gated kept set re-derived — same gate SQL as d93
    "d159_temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(sqrt(n)) AS denom,
        |               CAST(SUM(n) AS BIGINT) // 2 AS target FROM c),
        |t AS (SELECT lang, n,
        |        LEAST(n, CAST(ROUND(target * sqrt(n) / denom) AS BIGINT)) AS t
        |      FROM c, tot),
        |s AS (SELECT d.lang, d.n_chars FROM documents d JOIN t USING (lang)
        |      WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
        |            < lpad(lower(hex((t.t * 16777216) // t.n)), 7, '0'))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY 1""".stripMargin,

    // the per-micro-batch constraint fold must equal the one-shot report
    // (d155 minus the unique rows — uniqueness is not batch-additive; its
    // streaming form is the d120/d146 stateful dedup census)
    "d158_stream_constraints" ->
      """WITH r AS (
        |SELECT 'foreign_key' AS check_name,
        |  'o_custkey->active_customer' AS column_name,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
        |     (SELECT c_custkey FROM customer WHERE c_acctbal > 0))
        |    AS n_violations
        |UNION ALL
        |SELECT 'in_range', 'o_totalprice',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_totalprice IS NOT NULL
        |     AND o_totalprice NOT BETWEEN 0.0 AND 400000.0)
        |UNION ALL
        |SELECT 'in_set', 'o_orderstatus',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O'))
        |UNION ALL
        |SELECT 'not_null', 'o_custkey',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
        |UNION ALL
        |SELECT 'satisfies', 'o_orderdate_pre97',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE NOT COALESCE(o_orderdate < TIMESTAMP '1997-01-01 00:00:00', FALSE)))
        |SELECT check_name, column_name, n_rows, n_violations,
        |  n_violations = 0 AS passed
        |FROM r""".stripMargin,

    // independent candidate route (shared-gram join) + list_intersect
    // verify; the integer-rational threshold makes the kept set exact
    "d157_jaccard_join" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |g AS (SELECT doc_id, $gram8Sql AS gs FROM t WHERE len(ws) > 0),
         |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |v AS (SELECT i, j, len(list_intersect(ga.gs, gb.gs)) AS inter,
         |    len(ga.gs) AS n1, len(gb.gs) AS n2
         |  FROM cand JOIN g ga ON ga.doc_id = cand.i
         |    JOIN g gb ON gb.doc_id = cand.j)
         |SELECT CAST(i AS BIGINT) AS id1, CAST(j AS BIGINT) AS id2,
         | CAST(inter AS BIGINT) AS inter, CAST(n1 AS BIGINT) AS n1,
         | CAST(n2 AS BIGINT) AS n2,
         | ROUND(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jaccard
         |FROM v WHERE inter * 2 >= (n1 + n2 - inter) * 1""".stripMargin,

    // independent formulation: sliding token-window slice compare
    "d156_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |m AS (SELECT doc_id,
         |  len(list_filter(range(1, len(ws) - 1),
         |      i -> array_to_string(ws[i:i+2], ' ') = 'slow hash batch'))
         |    AS n_matches
         | FROM t WHERE len(ws) >= 3)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         | CAST(n_matches AS BIGINT) AS n_matches
         |FROM m WHERE n_matches > 0""".stripMargin,

    // IGNORE NULLS windowed fill recomputed; leading nulls stay null
    "d152_fill_forward" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        | CAST(user_id AS BIGINT) AS user_id,
        | epoch_ms(ts) AS ts_ms,
        | last_value(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END
        |   IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY epoch_ms(ts), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |FROM events""".stripMargin,

    // the per-micro-batch CDC fold must land on the one-shot batch MERGE
    "d151_stream_cdc" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D' AS op
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U', o_totalprice + 10.0, 'U'
        |  FROM base WHERE o_orderkey % 7 IN (1, 2)
        |  UNION ALL
        |  SELECT -1 - o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'I'
        |  FROM base WHERE o_orderkey % 7 = 3)
        |SELECT b.* FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM changes WHERE op IN ('I', 'U')""".stripMargin,

    "d139_stream_interval_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        | p.event_id AS purchase_id, p.value AS value
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_ms(p.ts) >= epoch_ms(c.ts)
        | AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 14400000""".stripMargin,

    // the left-outer twin: unmatched clicks must surface with nulls, which
    // streaming-side only happens when the watermark evicts their state
    "d150_stream_left_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        | p.event_id AS purchase_id, p.value AS value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        | ON c.user_id = p.user_id
        | AND epoch_ms(p.ts) >= epoch_ms(c.ts)
        | AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 14400000""".stripMargin,

    // the oracle is the change GENERATOR: the diff must reproduce exactly
    // the I/U/D rows the mod-7 mutation implies, value-for-value
    "d140_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D' AS op
        |FROM base WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, 'U', o_totalprice + 10.0, 'U'
        |FROM base WHERE o_orderkey % 7 IN (1, 2)
        |UNION ALL
        |SELECT -1 - o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'I'
        |FROM base WHERE o_orderkey % 7 = 3""".stripMargin,

    "d141_compaction" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
        | CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        | CAST(MAX(doc_id) AS BIGINT) AS max_doc
        |FROM documents GROUP BY 1""".stripMargin,

    // the oracle reconstructs the same two-producer union: old rows get
    // the backfill values, new rows their written ones
    "d143_schema_evolution" ->
      """WITH u AS (
        |  SELECT doc_id, text, 'und' AS lang, LENGTH(text) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, lang, n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        | CAST(MAX(doc_id) AS BIGINT) AS max_doc
        |FROM u GROUP BY 1""".stripMargin,

    "d144_bm25" -> s"WITH $bm25CtesSql SELECT doc_id, bm25 FROM bm",

    // the one-shot aggregate the per-micro-batch incremental fold must
    // reproduce exactly
    "d145_stream_incremental_agg" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,

    // full recompute over the post-change snapshot — the incremental
    // maintenance path must land on the identical aggregate
    "d142_incremental_agg" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |   CAST(o_totalprice AS DECIMAL(18,2)) AS amt FROM orders),
        |next AS (
        |  SELECT o_orderkey, o_custkey,
        |   CASE WHEN o_orderkey % 7 IN (1, 2)
        |    THEN amt + CAST(10.00 AS DECIMAL(18,2)) ELSE amt END AS amt
        |  FROM base WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT -1 - o_orderkey, o_custkey, amt
        |  FROM base WHERE o_orderkey % 7 = 3)
        |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(amt) AS DOUBLE) AS sum_price
        |FROM next GROUP BY 1""".stripMargin,

    // textbook single-window rank-sum — the engine's two-level prefix scan
    // must land on the identical integer numerator/denominator
    "d164_auc" -> aucOracleSql,

    // d144's BM25 with a query dimension, then the NDCG@10 window algebra
    "d165_ndcg" ->
      s"""WITH d AS (SELECT doc_id, $toksLowerSql AS t FROM documents),
         |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM d),
         |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
         |  FROM dl),
         |q(q, term, prim) AS (VALUES ('q1', 'hash', 1), ('q1', 'join', 0),
         |  ('q2', 'scan', 1), ('q2', 'filter', 0), ('q3', 'stream', 1),
         |  ('q3', 'batch', 0)),
         |tf AS (SELECT q.q, doc_id, dl, u.term, q.prim,
         |   CAST(COUNT(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM dl) u
         |  JOIN q ON q.term = u.term GROUP BY 1, 2, 3, 4, 5),
         |dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
         |  FROM tf GROUP BY 1),
         |ranked AS (SELECT q, doc_id,
         |   ROUND(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |     (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
         |     AS score,
         |   CAST(LEAST(SUM(CASE WHEN prim = 1 THEN tf ELSE 0.0 END), 3.0)
         |     AS BIGINT) AS rel
         |  FROM tf JOIN dfreq USING (term), stats GROUP BY 1, 2),
         |r2 AS (SELECT q, rel,
         |   ROW_NUMBER() OVER (PARTITION BY q ORDER BY score DESC, doc_id ASC)
         |     AS rs,
         |   ROW_NUMBER() OVER (PARTITION BY q ORDER BY rel DESC, doc_id ASC)
         |     AS ri FROM ranked),
         |terms AS (SELECT q,
         |   CASE WHEN rs <= 10 THEN (pow(2.0, CAST(rel AS DOUBLE)) - 1.0) /
         |     (ln(CAST(rs AS DOUBLE) + 1.0) / ln(2.0)) ELSE 0.0 END AS dt,
         |   CASE WHEN ri <= 10 THEN (pow(2.0, CAST(rel AS DOUBLE)) - 1.0) /
         |     (ln(CAST(ri AS DOUBLE) + 1.0) / ln(2.0)) ELSE 0.0 END AS it
         |  FROM r2)
         |SELECT q, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         | ROUND(SUM(dt), 6) AS dcg, ROUND(SUM(it), 6) AS idcg,
         | CASE WHEN SUM(it) > 0 THEN ROUND(SUM(dt) / SUM(it), 6) END AS ndcg
         |FROM terms GROUP BY 1""".stripMargin,

    // identical double expressions for p and the bin floor; means round last
    "d166_calibration" ->
      """WITH t AS (SELECT LEAST(GREATEST(value / 100.0, 0.0), 1.0) AS p,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lbl
        | FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n, AVG(p) AS conf0,
        |  AVG(CAST(lbl AS DOUBLE)) AS acc0 FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM b)
        |SELECT bin, n, ROUND(conf0, 6) AS conf, ROUND(acc0, 6) AS acc,
        | ROUND(ABS(conf0 - acc0), 6) AS abs_gap,
        | ROUND(ABS(conf0 - acc0) * (n / total), 6) AS ece_term
        |FROM b, tot""".stripMargin,

    // independent dominance definition (NOT EXISTS) over distinct points
    "d167_skyline" ->
      """WITH pts AS (SELECT CAST(p_retailprice AS DOUBLE) AS price,
        |  CAST(p_size AS DOUBLE) AS psize, CAST(COUNT(*) AS BIGINT)
        |    AS n_points
        | FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        | GROUP BY 1, 2)
        |SELECT price, psize, n_points FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.price <= p.price AND q.psize >= p.psize
        |    AND (q.price < p.price OR q.psize > p.psize))""".stripMargin,

    // independent canonical a<b<c triangle enumeration — no orientation
    "d168_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem),
        |pr AS (SELECT a.i AS pa, b.i AS pb FROM li a JOIN li b
        |  ON a.g = b.g AND a.i < b.i),
        |e AS (SELECT pa AS a, pb AS b FROM
        |  (SELECT pa, pb, COUNT(*) AS c FROM pr GROUP BY 1, 2)
        |  WHERE c >= 2)
        |SELECT
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |   (SELECT a AS n FROM e UNION SELECT b FROM e)) AS n_nodes,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM e e1
        |   JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |   JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles""".stripMargin,

    // the streaming fold of the additive (score, pos, neg) statistic must
    // land on the batch d164 answer exactly — same oracle
    "d170_stream_auc" -> aucOracleSql,

    // the full hashed assignment re-derived: md5 prefixes render
    // identically cross-engine, so the census pins every bucket
    "d171_hashed_features" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |tok AS (SELECT doc_id, substr(md5(w), 1, 1) AS feature
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM t)),
         |m AS (SELECT doc_id, feature, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY 1, 2)
         |SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(tf) AS BIGINT) AS total_tf
         |FROM m GROUP BY 1""".stripMargin,

    // inclusive descending cumulative counts == the engine's exclusive
    // scan + the row's own counts; ratios are IEEE divisions of integers
    "d172_pr_curve" ->
      """WITH t AS (SELECT value AS score,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lbl
        | FROM events WHERE value IS NOT NULL),
        |g AS (SELECT score, CAST(SUM(lbl) AS BIGINT) AS pos,
        |  CAST(COUNT(*) - SUM(lbl) AS BIGINT) AS neg FROM t GROUP BY 1),
        |c AS (SELECT score,
        |  CAST(SUM(pos) OVER (ORDER BY score DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        |  CAST(SUM(neg) OVER (ORDER BY score DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp FROM g),
        |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p FROM g)
        |SELECT score, tp, fp, p - tp AS fn,
        | ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS prec,
        | ROUND(CAST(tp AS DOUBLE) / (tp + (p - tp)), 6) AS rec,
        | CASE WHEN tp > 0 THEN ROUND(
        |   2.0 * (CAST(tp AS DOUBLE) / (tp + fp)) *
        |     (CAST(tp AS DOUBLE) / (tp + (p - tp))) /
        |   ((CAST(tp AS DOUBLE) / (tp + fp)) +
        |     (CAST(tp AS DOUBLE) / (tp + (p - tp)))), 6) END AS f1
        |FROM c, tot""".stripMargin,

    // the full contingency algebra re-derived, zero cells densified
    "d173_chi2_features" ->
      s"""WITH t AS (SELECT doc_id, $toksLowerSql AS ws FROM documents),
         |tok AS (SELECT DISTINCT doc_id, substr(md5(w), 1, 1) AS feature
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM t)),
         |dl AS (SELECT DISTINCT doc_id, lang FROM documents),
         |cls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_c FROM dl
         |  GROUP BY 1),
         |n AS (SELECT CAST(SUM(n_c) AS BIGINT) AS nt FROM cls),
         |pres AS (SELECT feature, lang, CAST(COUNT(*) AS BIGINT) AS a
         |  FROM tok JOIN dl USING (doc_id) GROUP BY 1, 2),
         |ft AS (SELECT feature, CAST(SUM(a) AS BIGINT) AS pf FROM pres
         |  GROUP BY 1),
         |grid AS (SELECT ft.feature, cls.lang, ft.pf, cls.n_c,
         |   COALESCE(pres.a, 0) AS a, n.nt
         |  FROM ft CROSS JOIN cls
         |  LEFT JOIN pres ON pres.feature = ft.feature AND pres.lang = cls.lang,
         |  n),
         |terms AS (SELECT feature, pf,
         |   (a - CAST(pf AS DOUBLE) * n_c / nt) *
         |     (a - CAST(pf AS DOUBLE) * n_c / nt) /
         |     (CAST(pf AS DOUBLE) * n_c / nt)
         |   + CASE WHEN CAST(nt - pf AS DOUBLE) * n_c / nt > 0 THEN
         |       (n_c - a - CAST(nt - pf AS DOUBLE) * n_c / nt) *
         |         (n_c - a - CAST(nt - pf AS DOUBLE) * n_c / nt) /
         |         (CAST(nt - pf AS DOUBLE) * n_c / nt)
         |     ELSE 0.0 END AS term
         |  FROM grid)
         |SELECT feature, CAST(MAX(pf) AS BIGINT) AS n_docs_present,
         | ROUND(SUM(term), 6) AS chi2
         |FROM terms GROUP BY 1""".stripMargin,

    // the single-window textbook percent_rank the two-level scan must equal
    "d174_global_percentile" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(n_chars AS BIGINT) AS n_chars,
        | ROUND(CAST(percent_rank() OVER (ORDER BY n_chars) AS DOUBLE), 9)
        |   AS pct_rank
        |FROM documents WHERE n_chars IS NOT NULL""".stripMargin,

    // 12 unrolled peel stages; peeling is monotone, so the engine's
    // fixpoint early-exit lands on the same set whenever convergence fits
    // (probed 1/11/3 rounds at the three SFs)
    "d175_kcore" -> {
      // every stage reads its predecessor THREE times (census union ×2 +
      // the filtered edge scan) — without MATERIALIZED, CTE inlining
      // expands the base scan 3^12-fold and DuckDB runs out of fds
      val stages = (1 to 12).map { i =>
        val prev = s"e${i - 1}"
        s"""d$i AS MATERIALIZED (SELECT n, COUNT(*) AS dg FROM
           |  (SELECT a AS n FROM $prev UNION ALL SELECT b FROM $prev)
           |  GROUP BY 1),
           |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE dg >= 3),
           |e$i AS MATERIALIZED (SELECT a, b FROM $prev
           |  WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
         |  FROM lineitem),
         |pr AS (SELECT a.i AS pa, b.i AS pb FROM li a JOIN li b
         |  ON a.g = b.g AND a.i < b.i),
         |e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM
         |  (SELECT pa, pb, COUNT(*) AS c FROM pr GROUP BY 1, 2)
         |  WHERE c >= 2),
         |$stages
         |SELECT CAST(node AS BIGINT) AS node,
         | CAST(COUNT(*) AS BIGINT) AS core_deg FROM
         | (SELECT a AS node FROM e12 UNION ALL SELECT b FROM e12)
         |GROUP BY 1""".stripMargin
    },

    // the recurrence unrolled: identical IEEE per-edge terms, ROUND 9 last
    // MATERIALIZED hints (DuckDB-only SQL; Spark never parses oracles):
    // without them DuckDB re-inlines the whole chain at every unrolled
    // iteration, recomputing the per-order pair self-join 2-3x per level
    // — at the 30x gate that blew duckdb_temp_storage past the box's
    // free disk (ENOSPC) before producing a row. Linear with the hints.
    "d169_pagerank" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem),
        |pr AS MATERIALIZED (SELECT a.i AS pa, b.i AS pb FROM li a JOIN li b
        |  ON a.g = b.g AND a.i < b.i),
        |e AS MATERIALIZED (SELECT pa AS a, pb AS b FROM
        |  (SELECT pa, pb, COUNT(*) AS c FROM pr GROUP BY 1, 2)
        |  WHERE c >= 2),
        |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
        |  UNION ALL SELECT b, a FROM e),
        |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM adj
        |  GROUP BY 1),
        |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
        |p0 AS MATERIALIZED (SELECT src AS node, CAST(1.0 AS DOUBLE) / nn.n AS pr
        |  FROM deg, nn),
        |p1 AS MATERIALIZED (SELECT adj.dst AS node,
        |   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |     CAST(0.85 AS DOUBLE) * SUM(p.pr / dg.deg) AS pr
        |  FROM adj JOIN p0 p ON p.node = adj.src
        |   JOIN deg dg ON dg.src = adj.src, nn
        |  GROUP BY adj.dst, nn.n),
        |p2 AS MATERIALIZED (SELECT adj.dst AS node,
        |   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |     CAST(0.85 AS DOUBLE) * SUM(p.pr / dg.deg) AS pr
        |  FROM adj JOIN p1 p ON p.node = adj.src
        |   JOIN deg dg ON dg.src = adj.src, nn
        |  GROUP BY adj.dst, nn.n),
        |p3 AS (SELECT adj.dst AS node,
        |   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |     CAST(0.85 AS DOUBLE) * SUM(p.pr / dg.deg) AS pr
        |  FROM adj JOIN p2 p ON p.node = adj.src
        |   JOIN deg dg ON dg.src = adj.src, nn
        |  GROUP BY adj.dst, nn.n)
        |SELECT CAST(node AS BIGINT) AS node, ROUND(pr, 9) AS pr
        |FROM p3""".stripMargin,

    // the k-anonymity cascade: each level's census runs over the previous
    // level's REMAINDER only; suppression preserves row count
    "d176_kanonymize" ->
      """WITH g0 AS (SELECT c_custkey AS id,
        |  CAST(c_nationkey AS VARCHAR) AS nation, c_mktsegment AS seg,
        |  CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal
        | FROM customer),
        |c0 AS (SELECT *, COUNT(*) OVER (PARTITION BY nation, seg, bal) AS n
        |  FROM g0),
        |k0 AS (SELECT id, nation, seg, bal, 0 AS level FROM c0 WHERE n >= 5),
        |r0 AS (SELECT id, nation, seg FROM c0 WHERE n < 5),
        |c1 AS (SELECT *, COUNT(*) OVER (PARTITION BY nation, seg) AS n
        |  FROM r0),
        |k1 AS (SELECT id, nation, seg, '*' AS bal, 1 AS level FROM c1
        |  WHERE n >= 5),
        |r1 AS (SELECT id FROM c1 WHERE n < 5)
        |SELECT CAST(id AS BIGINT) AS c_custkey, nation, seg, bal, level
        | FROM k0
        |UNION ALL SELECT CAST(id AS BIGINT), nation, seg, bal, level FROM k1
        |UNION ALL SELECT CAST(id AS BIGINT), '*', '*', '*', 2 FROM r1"""
        .stripMargin,

    // 10 unrolled neighbor-min + pointer-jump stages; labels only
    // decrease, so the engine's sum-fixpoint early exit lands on the same
    // labeling whenever convergence fits (probed <= 7 rounds at the three
    // SFs — 3 rounds of margin; pointer jumping makes extra stages cheap
    // insurance against a data drop). MATERIALIZED per the d175 lesson
    "d177_components" -> {
      val stages = (1 to 10).map { i =>
        val prev = s"l${i - 1}"
        s"""m$i AS MATERIALIZED (SELECT adj.u AS node, MIN(l.lbl) AS nmin
           |  FROM adj JOIN $prev l ON l.node = adj.v GROUP BY 1),
           |t$i AS MATERIALIZED (SELECT l.node,
           |   LEAST(l.lbl, m.nmin) AS lbl
           |  FROM $prev l JOIN m$i m ON m.node = l.node),
           |l$i AS MATERIALIZED (SELECT x.node, y.lbl AS lbl
           |  FROM t$i x JOIN t$i y ON y.node = x.lbl)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
         |  FROM lineitem),
         |pr AS (SELECT a.i AS pa, b.i AS pb FROM li a JOIN li b
         |  ON a.g = b.g AND a.i < b.i),
         |e AS MATERIALIZED (SELECT pa AS a, pb AS b FROM
         |  (SELECT pa, pb, COUNT(*) AS c FROM pr GROUP BY 1, 2)
         |  WHERE c >= 2),
         |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b, a FROM e),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM adj),
         |$stages
         |SELECT CAST(lbl AS BIGINT) AS component,
         | CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l10 GROUP BY 1"""
        .stripMargin
    },

    // content under the 5-day partition filter; the layout/pruning half is
    // pinned by PartitionedLayoutSpec
    "d178_partitioned_layout" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-14'
        |GROUP BY 1""".stripMargin,

    // open/close spelled as rank-1 rows ordered by (ts, value) — the
    // portable equivalent of the engine's lexicographic struct min/max.
    // ONE definition shared with d183's streaming fold (the d170/d164
    // convention: the streaming-equals-batch proof dies if either drifts)
    "d179_ohlc_bars" -> ohlcOracleSql,
    "d183_stream_ohlc" -> ohlcOracleSql,

    // the greedy BPE recurrence unrolled: per stage, weighted adjacent-pair
    // stats -> (count DESC, pair ASC) argmax -> wrapped-symbol REPLACE
    // (non-overlapping left-to-right == greedy BPE, sound because wrapped
    // symbols share no characters and the alphabet is [a-z]+)
    "d180_bpe_merges" ->
      s"""$bpeStagesSql
         |SELECT CAST(1 AS INT) AS step, a AS pair_left, b AS pair_right,
         |  a || b AS merged, c AS pair_count FROM b1
         |${(2 to 12).map(i =>
             s"UNION ALL SELECT CAST($i AS INT), a, b, a || b, c FROM b$i")
             .mkString("\n")}"""
        .stripMargin,

    // segmentation = the training chain's FINAL word state: applying the
    // learned merges in order to the corpus words IS s12's symbol table
    "d184_bpe_segment" ->
      s"""$bpeStagesSql
         |SELECT word, CAST(cnt AS BIGINT) AS cnt,
         |  array_to_string(syms, ' ') AS tokens,
         |  CAST(len(syms) AS BIGINT) AS n_tokens
         |FROM s12""".stripMargin,

    // the identical (md5(id), id) stratum order and exclusive running cost
    "d190_budget_mixture" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_start
        | FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        | CAST(n_chars AS BIGINT) AS n_chars, cum_start
        |FROM r WHERE cum_start < 10000""".stripMargin,

    // the same md5 half-space treatment gate, fixed outcome threshold,
    // ROW_NUMBER decile ranks, and the guarded Qini algebra
    "d189_uplift_qini" ->
      """WITH u AS (SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |    AS score,
        |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        | FROM events GROUP BY 1),
        |l AS (SELECT user_id, score,
        |  CASE WHEN '0' || substring(md5(CAST(user_id AS VARCHAR)), 1, 6)
        |       < '0800000' THEN 1 ELSE 0 END AS t,
        |  CASE WHEN np >= 13 THEN 1 ELSE 0 END AS y
        | FROM u WHERE score IS NOT NULL),
        |r AS (SELECT t, y,
        |  ROW_NUMBER() OVER (ORDER BY score DESC, user_id) - 1 AS rk
        | FROM l),
        |b AS (SELECT (rk * 10) // (SELECT COUNT(*) FROM l) AS bin, t, y
        | FROM r),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(t) AS BIGINT) AS nt,
        |  CAST(COUNT(*) - SUM(t) AS BIGINT) AS nc,
        |  CAST(SUM(t * y) AS BIGINT) AS yt,
        |  CAST(SUM((1 - t) * y) AS BIGINT) AS yc FROM b GROUP BY 1),
        |c AS (SELECT bin, n,
        |  CAST(SUM(nt) OVER w AS BIGINT) AS cum_nt,
        |  CAST(SUM(nc) OVER w AS BIGINT) AS cum_nc,
        |  CAST(SUM(yt) OVER w AS BIGINT) AS cum_yt,
        |  CAST(SUM(yc) OVER w AS BIGINT) AS cum_yc
        | FROM g WINDOW w AS (ORDER BY bin
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(bin AS BIGINT) AS bin, n, cum_nt, cum_nc, cum_yt,
        | cum_yc,
        | ROUND(CASE WHEN cum_nc > 0 THEN CAST(cum_yt AS DOUBLE) -
        |   CAST(cum_yc AS DOUBLE) * CAST(cum_nt AS DOUBLE) /
        |   CAST(cum_nc AS DOUBLE) END, 6) AS qini
        |FROM c""".stripMargin,

    // exact median of pairwise slopes; DuckDB's MEDIAN on doubles equals
    // the engine's middle-two average (ROUND 6 absorbs interpolation ulps)
    "d187_theil_sen" ->
      """WITH dly AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |sl AS (SELECT a.event_type,
        |  CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
        |    AS slope
        | FROM dly a JOIN dly b ON b.event_type = a.event_type
        |  AND a.day < b.day)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | ROUND(MEDIAN(slope), 6) AS trend
        |FROM sl GROUP BY 1""".stripMargin,

    // first digit via the SAME string algebra (global regexp flag!);
    // expected mass log10(1 + 1/d), chi-square distance per digit
    "d188_benford_audit" ->
      """WITH dg AS (SELECT CAST(substring(regexp_replace(
        |    CAST(o_totalprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1)
        |    AS INT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |g0 AS (SELECT digit, COUNT(*) AS cn FROM dg GROUP BY 1),
        |g AS (SELECT CAST(sp.digit AS INT) AS digit,
        |  CAST(COALESCE(g0.cn, 0) AS BIGINT) AS n
        | FROM (SELECT UNNEST(range(1, 10)) AS digit) sp
        | LEFT JOIN g0 ON g0.digit = sp.digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM g)
        |SELECT digit, n,
        | ROUND(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS observed_p,
        | ROUND(log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit), 6)
        |   AS benford_p,
        | ROUND(POWER(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE) -
        |     log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit), 2) /
        |   log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit) *
        |   CAST(tt AS DOUBLE), 6) AS chi2_term
        |FROM g, t""".stripMargin,

    // successor via the same (ms, event_id)-ordered per-user window;
    // probabilities are exact-count ratios
    "d185_markov_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms,
        |  event_id FROM events),
        |t AS (SELECT event_type AS from_type,
        |  LEAD(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id) AS to_type
        | FROM e),
        |g AS (SELECT from_type, to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_transitions
        | FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, SUM(n_transitions) AS tt FROM g
        | GROUP BY 1)
        |SELECT g.from_type, g.to_type, g.n_transitions,
        | ROUND(CAST(g.n_transitions AS DOUBLE) / CAST(tt AS DOUBLE), 6)
        |   AS p
        |FROM g JOIN tot USING (from_type)""".stripMargin,

    // Pearson r over exact integer sums CAST to DOUBLE before arithmetic;
    // the zero-variance filter is applied identically on both engines
    "d186_autocorrelation" ->
      """WITH dly AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, l.lag, a.cnt AS x, b.cnt AS y
        | FROM dly a, UNNEST(range(1, 8)) l(lag), dly b
        | WHERE b.event_type = a.event_type AND b.day = a.day + l.lag),
        |g AS (SELECT event_type, lag,
        |  CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
        |  CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |  CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |  CAST(SUM(y * y) AS DOUBLE) AS syy
        | FROM p GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS INT) AS lag,
        | CAST(n AS BIGINT) AS n_pairs,
        | ROUND((n * sxy - sx * sy) /
        |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf
        |FROM g WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0"""
        .stripMargin,

    // the KM recurrence as one ordered window; the engine's two-level
    // scans must land on the same curve (ROUND 6 absorbs summation order)
    "d181_kaplan_meier" ->
      """WITH u AS (SELECT user_id,
        |  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS t,
        |  CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >
        |            SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       THEN 1 ELSE 0 END AS obs
        | FROM events GROUP BY 1),
        |g AS (SELECT t, CAST(SUM(obs) AS BIGINT) AS n_events,
        |  CAST(COUNT(*) - SUM(obs) AS BIGINT) AS n_censored
        | FROM u GROUP BY 1),
        |w AS (SELECT g.*, (SELECT COUNT(*) FROM u) -
        |  CAST(COALESCE(SUM(n_events + n_censored) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS n_risk
        | FROM g),
        |s AS (SELECT *, CASE WHEN n_events < n_risk
        |    THEN ln(CAST(1 AS DOUBLE) - CAST(n_events AS DOUBLE) / n_risk)
        |    ELSE CAST(0 AS DOUBLE) END AS term,
        |  CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS dead FROM w)
        |SELECT t AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
        | n_events, n_censored,
        | ROUND(CASE WHEN SUM(dead) OVER (ORDER BY t) > 0
        |   THEN CAST(0 AS DOUBLE)
        |   ELSE exp(SUM(term) OVER (ORDER BY t)) END, 6) AS survival
        |FROM s""".stripMargin,

    // equi-depth rank binning via ROW_NUMBER (v, id) — identical to the
    // engine's prefix + per-value tie-break; every double CAST explicit
    "d182_woe_iv" ->
      """WITH lab AS (SELECT c_custkey AS id, c_acctbal AS v,
        |  CASE WHEN c_custkey IN (SELECT o_custkey FROM orders
        |    WHERE o_orderpriority = '1-URGENT') THEN 1 ELSE 0 END AS lbl
        | FROM customer),
        |r AS (SELECT lbl,
        |  ROW_NUMBER() OVER (ORDER BY v, id) - 1 AS rk FROM lab),
        |b AS (SELECT (rk * 10) // (SELECT COUNT(*) FROM lab) AS bin, lbl
        | FROM r),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(lbl) AS BIGINT) AS n_good,
        |  CAST(COUNT(*) - SUM(lbl) AS BIGINT) AS n_bad FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_good) AS BIGINT) AS gt,
        |  CAST(SUM(n_bad) AS BIGINT) AS bt FROM g)
        |SELECT CAST(bin AS BIGINT) AS bin, n, n_good, n_bad,
        | ROUND(ln(((CAST(n_good AS DOUBLE) + CAST(0.5 AS DOUBLE)) / gt) /
        |          ((CAST(n_bad AS DOUBLE) + CAST(0.5 AS DOUBLE)) / bt)), 6)
        |   AS woe,
        | ROUND((CAST(n_good AS DOUBLE) / gt - CAST(n_bad AS DOUBLE) / bt) *
        |   ln(((CAST(n_good AS DOUBLE) + CAST(0.5 AS DOUBLE)) / gt) /
        |      ((CAST(n_bad AS DOUBLE) + CAST(0.5 AS DOUBLE)) / bt)), 6)
        |   AS iv_term
        |FROM g, t""".stripMargin,

    // the gaps-and-islands idiom re-derived: LAG-change flag (NULL-safe
    // via IS DISTINCT FROM == Spark's <=> negation), running-sum island
    // id, next run's start as this run's end
    "d191_change_history" -> scd2OracleSql,

    // the streaming twin folds the same history incrementally; ONE
    // shared oracle proves run-boundary-for-run-boundary equality
    "d207_stream_scd2" -> scd2OracleSql,

    // Gini by per-region ascending rank: numerator/denominator exact
    // integers (HUGEINT on this side), one division, ROUND 9; no-order
    // customers join in as zeros on both engines
    "d192_gini" ->
      """WITH rev AS (SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS cents FROM orders GROUP BY 1),
        |x AS (SELECT r_name, c_custkey, COALESCE(cents, 0) AS cents
        | FROM customer
        | JOIN nation ON n_nationkey = c_nationkey
        | JOIN region ON r_regionkey = n_regionkey
        | LEFT JOIN rev ON o_custkey = c_custkey),
        |r AS (SELECT r_name, cents, ROW_NUMBER() OVER
        |  (PARTITION BY r_name ORDER BY cents, c_custkey) AS i FROM x)
        |SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(cents) AS BIGINT) AS total,
        | CASE WHEN COUNT(*) > 1 AND SUM(cents) > 0 THEN
        |   ROUND(CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)
        |       AS DOUBLE) /
        |     CAST(COUNT(*) * SUM(cents) AS DOUBLE), 9) END AS gini
        |FROM r GROUP BY 1""".stripMargin,

    // carried click state re-derived as ONE IGNORE-NULLS struct over the
    // strict [unbounded, 1 PRECEDING] frame — (ts, campaign) travel
    // atomically, exactly like the operator's payload struct (two
    // independent windows would pair a NEWER click's ts with an OLDER
    // click's campaign if a campaign ever parsed NULL); the 7-day bound
    // applies after the scan, unattributed purchases group under -1
    "d193_attribution" -> attributionOracleSql,

    // the streaming carried-touch state must land on the batch window
    // plan's campaign census exactly — same oracle
    "d203_stream_attribution" -> attributionOracleSql,

    // four BFS levels as independent set-algebra stages (MATERIALIZED —
    // the d175 CTE-inlining lesson); seed = (max degree, min node)
    "d194_bfs" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g,
        |  l_partkey AS i FROM lineitem),
        |e AS MATERIALIZED (SELECT pa AS a, pb AS b FROM
        |  (SELECT a.i AS pa, b.i AS pb, COUNT(*) AS c FROM li a
        |    JOIN li b ON a.g = b.g AND a.i < b.i GROUP BY 1, 2)
        |  WHERE c >= 2),
        |und AS MATERIALIZED (SELECT a AS u, b AS v FROM e
        |  UNION ALL SELECT b, a FROM e),
        |d0 AS MATERIALIZED (SELECT n AS node FROM
        |  (SELECT n, COUNT(*) AS dg FROM
        |    (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
        |  ORDER BY dg DESC, n LIMIT 1),
        |d1 AS MATERIALIZED (SELECT DISTINCT v AS node FROM und
        |  JOIN d0 ON u = d0.node
        |  WHERE v NOT IN (SELECT node FROM d0)),
        |d2 AS MATERIALIZED (SELECT DISTINCT v AS node FROM und
        |  JOIN d1 ON u = d1.node
        |  WHERE v NOT IN (SELECT node FROM d0 UNION ALL
        |    SELECT node FROM d1)),
        |d3 AS MATERIALIZED (SELECT DISTINCT v AS node FROM und
        |  JOIN d2 ON u = d2.node
        |  WHERE v NOT IN (SELECT node FROM d0 UNION ALL
        |    SELECT node FROM d1 UNION ALL SELECT node FROM d2)),
        |d4 AS MATERIALIZED (SELECT DISTINCT v AS node FROM und
        |  JOIN d3 ON u = d3.node
        |  WHERE v NOT IN (SELECT node FROM d0 UNION ALL
        |    SELECT node FROM d1 UNION ALL SELECT node FROM d2
        |    UNION ALL SELECT node FROM d3))
        |SELECT CAST(node AS BIGINT) AS node, CAST(0 AS INT) AS hop FROM d0
        |UNION ALL SELECT CAST(node AS BIGINT), CAST(1 AS INT) FROM d1
        |UNION ALL SELECT CAST(node AS BIGINT), CAST(2 AS INT) FROM d2
        |UNION ALL SELECT CAST(node AS BIGINT), CAST(3 AS INT) FROM d3
        |UNION ALL SELECT CAST(node AS BIGINT), CAST(4 AS INT) FROM d4"""
        .stripMargin,

    // the 8 lags spelled out; weights 128..1, numerator/denominator
    // exact integers, the single division correctly rounded — no ROUND
    "d195_ewma" -> ewmaOracleSql,

    // the streaming ring-buffer state must land on the batch window
    // plan's answer exactly — same oracle
    "d196_stream_ewma" -> ewmaOracleSql,

    // cosine from exact counts: sqrt and divide are single
    // correctly-rounded IEEE ops, raw doubles hash; partner id breaks
    // rank ties identically
    "d197_item_similarity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem),
        |pc AS (SELECT a.i AS pa, b.i AS pb, CAST(COUNT(*) AS BIGINT)
        |   AS cnt
        | FROM li a JOIN li b ON a.g = b.g AND a.i < b.i
        | GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM li
        | GROUP BY 1),
        |dirx AS (SELECT pa AS item, pb AS partner, cnt FROM pc
        | UNION ALL SELECT pb, pa, cnt FROM pc),
        |sc AS (SELECT d.item, d.partner, d.cnt AS pair_cnt,
        |  a.c AS item_cnt, b.c AS partner_cnt,
        |  CAST(d.cnt AS DOUBLE) / sqrt(CAST(a.c * b.c AS DOUBLE)) AS sim
        | FROM dirx d JOIN ic a ON a.i = d.item
        | JOIN ic b ON b.i = d.partner),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
        |  ORDER BY sim DESC, partner) AS rk FROM sc)
        |SELECT CAST(item AS BIGINT) AS item,
        | CAST(partner AS BIGINT) AS partner, pair_cnt, item_cnt,
        | partner_cnt, sim, CAST(rk AS INT) AS rank
        |FROM r WHERE rk <= 3""".stripMargin,

    // wedge-count Jaccard over non-adjacent pairs; (score, u, w) is a
    // strict total order so the LIMIT 50 boundary is deterministic
    "d198_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem),
        |e AS (SELECT pa AS a, pb AS b FROM
        |  (SELECT a.i AS pa, b.i AS pb, COUNT(*) AS c FROM li a
        |    JOIN li b ON a.g = b.g AND a.i < b.i GROUP BY 1, 2)
        |  WHERE c >= 2),
        |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj
        | GROUP BY 1),
        |wed AS (SELECT l.v AS u, r.v AS w, CAST(COUNT(*) AS BIGINT)
        |   AS common
        | FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v GROUP BY 1, 2),
        |nonadj AS (SELECT wed.* FROM wed LEFT JOIN e
        |  ON e.a = wed.u AND e.b = wed.w WHERE e.a IS NULL),
        |sc AS (SELECT n.u, n.w, n.common, du.deg AS deg_u, dw.deg AS deg_w,
        |  CAST(n.common AS DOUBLE) /
        |    CAST(du.deg + dw.deg - n.common AS DOUBLE) AS score
        | FROM nonadj n JOIN deg du ON du.u = n.u JOIN deg dw ON dw.u = n.w)
        |SELECT CAST(u AS BIGINT) AS u, CAST(w AS BIGINT) AS w, common,
        | deg_u, deg_w, score
        |FROM sc ORDER BY score DESC, u, w LIMIT 50""".stripMargin,

    // d75's gap sessionization + DuckDB's ordered list() — the ordered
    // 3-prefix path; (count, path) is a strict total order at LIMIT 10
    "d199_event_paths" ->
      """WITH e AS (SELECT user_id AS u, epoch_ms(ts) AS ms,
        |  event_id AS id, event_type AS ty FROM events),
        |w AS (SELECT *, CASE WHEN LAG(ms) OVER win IS NULL
        |    OR ms - LAG(ms) OVER win > 21600000 THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW win AS (PARTITION BY u ORDER BY ms, id)),
        |s2 AS (SELECT *, SUM(brk) OVER (PARTITION BY u ORDER BY ms, id
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM w),
        |p AS (SELECT u, sid, list(ty ORDER BY ms, id) AS tys FROM s2
        | GROUP BY 1, 2),
        |c AS (SELECT array_to_string(tys[1:3], '>') AS path,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions
        | FROM p WHERE len(tys) >= 3 GROUP BY 1)
        |SELECT path, n_sessions FROM c
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,

    // d191's island algebra + pure-integer period cover: first period
    // >= valid_from is a ceil div, last period < valid_to a floor div;
    // disjoint runs make COUNT(*) the customer census
    "d200_periodic_snapshots" ->
      """WITH o AS (SELECT o_custkey AS k, o_orderstatus AS st,
        |  epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ms,
        |  o_orderkey AS id FROM orders),
        |f AS (SELECT *, CASE WHEN LAG(st) OVER
        |    (PARTITION BY k ORDER BY ms, id) IS DISTINCT FROM st
        |  THEN 1 ELSE 0 END AS chg FROM o),
        |g AS (SELECT *, SUM(chg) OVER (PARTITION BY k ORDER BY ms, id
        |  ROWS UNBOUNDED PRECEDING) AS island FROM f),
        |r AS (SELECT k, island, MIN(st) AS st, MIN(ms) AS vf
        | FROM g GROUP BY 1, 2),
        |r2 AS (SELECT *, LEAD(vf) OVER (PARTITION BY k ORDER BY island)
        |   AS vt FROM r),
        |mx AS (SELECT MAX(ms) // 2419200000 AS maxp FROM o),
        |ex AS (SELECT st, UNNEST(range(
        |   (vf + 2419200000 - 1) // 2419200000,
        |   CASE WHEN vt IS NULL THEN (SELECT maxp FROM mx)
        |     ELSE (vt - 1) // 2419200000 END + 1)) AS p
        | FROM r2
        | WHERE (CASE WHEN vt IS NULL THEN (SELECT maxp FROM mx)
        |    ELSE (vt - 1) // 2419200000 END) >=
        |   (vf + 2419200000 - 1) // 2419200000)
        |SELECT CAST(p AS BIGINT) AS p, st AS o_orderstatus,
        | CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM ex GROUP BY 1, 2""".stripMargin,

    // five sufficient statistics over one named RANGE window; slope is
    // a ratio of exact BIGINT expressions — raw double, no rounding
    "d201_rolling_slope" ->
      """WITH dly AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day, cnt,
        |  CAST(COUNT(*) OVER win AS BIGINT) AS n,
        |  CAST(SUM(day) OVER win AS BIGINT) AS sx,
        |  CAST(SUM(cnt) OVER win AS BIGINT) AS sy,
        |  CAST(SUM(day * cnt) OVER win AS BIGINT) AS sxy,
        |  CAST(SUM(day * day) OVER win AS BIGINT) AS sxx
        | FROM dly WINDOW win AS (PARTITION BY event_type ORDER BY day
        |  RANGE BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(day AS BIGINT) AS day, cnt,
        | n AS n_days,
        | CASE WHEN n * sxx - sx * sx > 0 THEN
        |   CAST(n * sxy - sx * sy AS DOUBLE) /
        |   CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
        |FROM s""".stripMargin,

    // the reflection identity spelled out: cumulative sum, then running
    // min of it (two stacked windows — DuckDB can't nest them in one),
    // balance = S - LEAST(0, runmin(S)); all-integer
    "d202_clamped_balance" -> balanceOracleSql,

    // the streaming twin folds the LITERAL recursion b = max(0, b+δ);
    // ONE shared oracle proves it equals the closed form row for row
    "d214_stream_balance" -> balanceOracleSql,

    // the battery's only recursive-CTE oracle: DuckDB walks the forest
    // one level per recursion step; the engine path-doubles instead.
    // Same md5 parent on both sides ('0x'||hex cast vs conv(hex,16,10))
    "d204_tree_depth" ->
      """WITH RECURSIVE ch AS (
        | SELECT c_custkey AS c,
        |  CASE WHEN c_custkey > 0 THEN
        |   ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))::BIGINT
        |    % c_custkey END AS p
        | FROM customer),
        |t AS (
        | SELECT c, p, 0 AS depth FROM ch WHERE p IS NULL
        | UNION ALL
        | SELECT ch.c, ch.p, t.depth + 1 FROM ch JOIN t ON ch.p = t.c)
        |SELECT CAST(c AS BIGINT) AS c_custkey, CAST(p AS BIGINT) AS parent,
        | CAST(depth AS BIGINT) AS depth
        |FROM t""".stripMargin,

    // FIFO matching = overlap of the two queues' prefix-sum intervals;
    // strict inequalities drop zero-width and tail segments identically
    "d205_fifo_match" ->
      """WITH li AS (SELECT l_partkey AS pk, l_suppkey AS sk,
        |  l_orderkey AS ok, l_linenumber AS ln, l_shipdate AS sd,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q
        | FROM lineitem),
        |cum AS (SELECT *, CAST(SUM(q) OVER (PARTITION BY pk, sk % 2
        |   ORDER BY sd, ok, ln ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        | FROM li),
        |d AS (SELECT pk, ok, ln, hi - q AS lo, hi FROM cum WHERE sk % 2 = 0),
        |s AS (SELECT pk, ok, ln, hi - q AS lo, hi FROM cum WHERE sk % 2 = 1)
        |SELECT CAST(d.pk AS BIGINT) AS l_partkey,
        | CAST(d.ok AS BIGINT) AS d_orderkey,
        | CAST(d.ln AS BIGINT) AS d_linenumber,
        | CAST(s.ok AS BIGINT) AS s_orderkey,
        | CAST(s.ln AS BIGINT) AS s_linenumber,
        | CAST(LEAST(d.hi, s.hi) - GREATEST(d.lo, s.lo) AS BIGINT) AS alloc_c
        |FROM d JOIN s ON d.pk = s.pk
        | AND s.lo < d.hi AND d.lo < s.hi""".stripMargin,

    // every SUM is CAST back to BIGINT (DuckDB SUM returns HUGEINT —
    // the d59 lesson); // and % stay in BIGINT
    "d206_apportionment" ->
      """WITH rev AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  c_mktsegment AS seg,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev_c
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1, 2),
        |f AS (SELECT *,
        |  CAST((10000 * rev_c) // (SELECT CAST(SUM(rev_c) AS BIGINT)
        |    FROM rev) AS BIGINT) AS base_seats,
        |  CAST((10000 * rev_c) % (SELECT CAST(SUM(rev_c) AS BIGINT)
        |    FROM rev) AS BIGINT) AS rem
        | FROM rev),
        |l AS (SELECT *,
        |  10000 - (SELECT CAST(SUM(base_seats) AS BIGINT) FROM f)
        |    AS leftover,
        |  ROW_NUMBER() OVER (ORDER BY rem DESC, nation, seg) AS rk
        | FROM f)
        |SELECT nation, seg, rev_c, base_seats,
        | CAST(base_seats + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |   AS BIGINT) AS seats
        |FROM l""".stripMargin,

    // burst = integer cross-multiplied share lift; sparse-bucket LAG is
    // gated on week adjacency exactly like the operator
    "d208_burst_terms" ->
      """WITH c AS (SELECT UNNEST(string_split(p_name, ' ')) AS term,
        |  epoch_ms(l_shipdate) // 604800000 AS week
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |g AS (SELECT term, week, CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM c GROUP BY 1, 2),
        |t AS (SELECT week, CAST(SUM(cnt) AS BIGINT) AS tot
        | FROM g GROUP BY 1),
        |x AS (SELECT g.term, g.week, g.cnt,
        |  CASE WHEN LAG(g.week) OVER w = g.week - 1
        |    THEN LAG(g.cnt) OVER w ELSE 0 END AS prev_cnt,
        |  t.tot, COALESCE(p.tot, 0) AS ptot
        | FROM g JOIN t ON g.week = t.week
        |  LEFT JOIN t p ON g.week = p.week + 1
        | WINDOW w AS (PARTITION BY g.term ORDER BY g.week))
        |SELECT term, CAST(week AS BIGINT) AS week, cnt,
        | CAST(prev_cnt AS BIGINT) AS prev_cnt,
        | CAST(CASE WHEN cnt < 3 THEN 0
        |   WHEN prev_cnt = 0 OR ptot = 0 THEN 1
        |   WHEN cnt * ptot > 2 * prev_cnt * tot THEN 1
        |   ELSE 0 END AS BIGINT) AS burst
        |FROM x""".stripMargin,

    // islands break where lo clears the RUNNING MAX of previous ends —
    // the prev-max frame handles contained spans a lag(hi) would miss
    "d209_interval_merge" -> intervalMergeOracleSql,

    // the streaming twin folds the same merge incrementally; ONE shared
    // oracle proves span-for-span equality
    "d213_stream_interval_merge" -> intervalMergeOracleSql,

    // exact-integer KS: CDFs cross-multiplied at every merged-support
    // value, sup over integers, argmax = MIN value among ties
    "d210_ks_drift" ->
      """WITH pc AS (SELECT source, n_chars,
        |  CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2),
        |gc AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS gcnt
        | FROM documents GROUP BY 1),
        |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        | FROM documents GROUP BY 1),
        |ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_g FROM documents),
        |grid AS (SELECT ns.source, gc.n_chars, gc.gcnt,
        |  COALESCE(pc.cnt, 0) AS cnt
        | FROM gc CROSS JOIN ns
        |  LEFT JOIN pc ON pc.source = ns.source
        |   AND pc.n_chars = gc.n_chars),
        |cdf AS (SELECT source, n_chars,
        |  CAST(SUM(cnt) OVER w AS BIGINT) AS cs,
        |  CAST(SUM(gcnt) OVER w AS BIGINT) AS cg
        | FROM grid WINDOW w AS (PARTITION BY source ORDER BY n_chars
        |  ROWS UNBOUNDED PRECEDING)),
        |d AS (SELECT cdf.source, cdf.n_chars, ns.n_s, ng.n_g,
        |  ABS(cs * ng.n_g - cg * ns.n_s) AS dd
        | FROM cdf JOIN ns ON cdf.source = ns.source CROSS JOIN ng),
        |m AS (SELECT *, MAX(dd) OVER (PARTITION BY source) AS dmax
        | FROM d)
        |SELECT source, MIN(n_s) AS n_s,
        | CAST(MIN(dmax) AS BIGINT) AS ks_num,
        | CAST(MIN(CASE WHEN dd = dmax THEN n_chars END) AS BIGINT)
        |   AS ks_at,
        | CAST(MIN(dmax) AS DOUBLE) / CAST(MIN(n_s) * MIN(n_g) AS DOUBLE)
        |   AS ks_stat
        |FROM m GROUP BY 1""".stripMargin,

    // within-language rank maps to the global rank lattice by integer
    // division; value-at-rank resolves through the distinct-value
    // half-open rank intervals (below, below+cnt]
    "d211_quantile_normalize" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) AS rk,
        |  CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS ng
        | FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
        |v AS (SELECT n_chars AS val, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY n_chars
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS below
        | FROM documents GROUP BY 1),
        |t AS (SELECT r.*, CASE WHEN ng > 1
        |   THEN 1 + ((rk - 1) * (nn - 1)) // (ng - 1)
        |   ELSE 1 + (nn - 1) // 2 END AS tr
        | FROM r CROSS JOIN n)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        | CAST(n_chars AS BIGINT) AS n_chars,
        | CAST(rk AS BIGINT) AS lang_rank,
        | CAST(v.val AS BIGINT) AS norm_chars
        |FROM t JOIN v ON t.tr > v.below AND t.tr <= v.below + v.cnt"""
        .stripMargin,

    // DuckDB list_sort == Spark sort_array on ASCII tokens, and [1:4]
    // slicing == slice(arr, 1, 4); one hash aggregation on the key
    "d212_canonical_keys" ->
      """WITH t AS (SELECT doc_id,
        |  array_to_string(list_sort(
        |    string_split(lower(text), ' ')[1:4]), ' ') AS canon,
        |  array_to_string(
        |    string_split(lower(text), ' ')[1:4], ' ') AS raw_prefix
        | FROM documents WHERE text IS NOT NULL)
        |SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(COUNT(DISTINCT raw_prefix) AS BIGINT) AS n_prefixes,
        | CAST(MIN(doc_id) AS BIGINT) AS rep_doc
        |FROM t GROUP BY 1""".stripMargin,

    // marginals re-aggregate from the bigram census (the d210 single-scan
    // rule); PMI as ln-sums of exact counts, ((+)-)- association order
    // matching the Spark column expression exactly
    "d215_pmi_collocations" ->
      s"""WITH t0 AS (SELECT $toksLowerSql AS t FROM documents
         |  WHERE text IS NOT NULL),
         |t2 AS (SELECT t FROM t0 WHERE len(t) >= 2),
         |big AS (SELECT t[CAST(i AS INT)] AS x, t[CAST(i AS INT) + 1] AS y
         |  FROM t2, UNNEST(range(1, len(t))) AS r(i)),
         |c AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM big GROUP BY 1, 2),
         |cx AS (SELECT x, CAST(SUM(n) AS BIGINT) AS cx FROM c GROUP BY 1),
         |cy AS (SELECT y, CAST(SUM(n) AS BIGINT) AS cy FROM c GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM c)
         |SELECT x, y, n AS n_pairs,
         | ROUND(ln(CAST(n AS DOUBLE)) + ln(CAST(nn AS DOUBLE))
         |   - ln(CAST(cx AS DOUBLE)) - ln(CAST(cy AS DOUBLE)), 6) AS pmi
         |FROM c JOIN cx USING (x) JOIN cy USING (y), tot
         |WHERE n >= 20""".stripMargin,

    // lexical side = the SHARED bm25 CTE chain (rank on the ROUNDED
    // score, doc_id tie-break); dense side mirrors d26's cosine ranking
    // for vec 0; every numeric literal CAST to DOUBLE (the d169 lesson)
    "d216_rrf_fusion" ->
      s"""WITH $bm25CtesSql,
         |lr AS (SELECT doc_id, lex_rnk FROM (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC,
         |    doc_id) AS BIGINT) AS lex_rnk FROM bm) WHERE lex_rnk <= 50),
         |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
         |  AS qv FROM embeddings WHERE vec_id = 0),
         |dr AS (SELECT doc_id, dense_rnk FROM (
         |  SELECT c.vec_id AS doc_id,
         |   CAST(ROW_NUMBER() OVER (ORDER BY list_cosine_similarity(
         |     list_transform(c.embedding, x -> CAST(x AS DOUBLE)), qv)
         |     DESC, c.vec_id) AS BIGINT) AS dense_rnk
         |  FROM embeddings c, q) WHERE dense_rnk <= 50)
         |SELECT CAST(COALESCE(dr.doc_id, lr.doc_id) AS BIGINT) AS doc_id,
         | dense_rnk, lex_rnk,
         | ROUND(COALESCE(CAST(1.0 AS DOUBLE) /
         |    (CAST(60.0 AS DOUBLE) + dense_rnk), CAST(0 AS DOUBLE)) +
         |   COALESCE(CAST(1.0 AS DOUBLE) /
         |    (CAST(60.0 AS DOUBLE) + lex_rnk), CAST(0 AS DOUBLE)), 6)
         |  AS rrf
         |FROM dr FULL OUTER JOIN lr ON dr.doc_id = lr.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // calendar spine + centered 7-day window over the day census;
    // aggregate-ratio index from exact BIGINT sums, one double division
    "d217_seasonal_decomp" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |spine AS (SELECT CAST(UNNEST(generate_series(lo, hi,
        |  INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |ser AS (SELECT s.day AS day, COALESCE(cents, 0) AS cents
        | FROM spine s LEFT JOIN daily d ON s.day = d.day),
        |w AS (SELECT day, cents, COUNT(*) OVER win AS n7,
        |  CAST(SUM(cents) OVER win AS BIGINT) AS win7
        | FROM ser WINDOW win AS (ORDER BY day
        |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |q AS (SELECT date_diff('day', DATE '1970-01-01', day) % 7 AS dow,
        |  cents, win7 FROM w WHERE n7 = 7 AND win7 > 0)
        |SELECT CAST(dow AS BIGINT) AS dow,
        | CAST(COUNT(*) AS BIGINT) AS n_days,
        | ROUND(CAST(7 * SUM(cents) AS DOUBLE) /
        |   CAST(SUM(win7) AS DOUBLE), 6) AS seasonal_index,
        | ROUND(CAST(SUM(cents) AS DOUBLE) /
        |   (CAST(100 AS DOUBLE) * COUNT(*)), 4) AS avg_revenue
        |FROM q GROUP BY 1""".stripMargin,

    // the full Merkle protocol, narrowing included: engine-portable md5
    // row digests XOR-fold per fine key-range bucket, coarse groups
    // compare first, fine buckets only inside disagreed groups
    "d218_merkle_diff" ->
      s"""WITH $merkleBaseSummarySql,
        |aft AS (
        | SELECT k, c, st,
        |  CASE WHEN k % 997 = 5 THEN cents + 1 ELSE cents END AS cents
        | FROM base WHERE k % 997 <> 17
        | UNION ALL
        | SELECT k + 2000000000, c, st, cents FROM base WHERE k % 997 = 29),
        |ha AS (SELECT k // 64 AS fine, ('0x' || substr(md5(concat_ws(
        |  chr(1), CAST(k AS VARCHAR), CAST(c AS VARCHAR),
        |  CAST(st AS VARCHAR), CAST(cents AS VARCHAR))), 1, 15))::BIGINT
        |  AS h FROM aft),
        |sa AS (SELECT fine // 16 AS coarse, fine,
        |  CAST(COUNT(*) AS BIGINT) AS n, bit_xor(h) AS dg
        | FROM ha GROUP BY 1, 2),
        |cb AS (SELECT coarse, COUNT(*) AS nb,
        |  CAST(SUM(n) AS BIGINT) AS rws, bit_xor(dg) AS cd
        | FROM sb GROUP BY 1),
        |ca AS (SELECT coarse, COUNT(*) AS nb,
        |  CAST(SUM(n) AS BIGINT) AS rws, bit_xor(dg) AS cd
        | FROM sa GROUP BY 1),
        |dirty AS (SELECT COALESCE(cb.coarse, ca.coarse) AS coarse
        | FROM cb FULL OUTER JOIN ca ON cb.coarse = ca.coarse
        | WHERE cb.nb IS NULL OR ca.nb IS NULL OR cb.nb <> ca.nb
        |   OR cb.rws <> ca.rws OR cb.cd <> ca.cd),
        |nb AS (SELECT * FROM sb
        |  WHERE coarse IN (SELECT coarse FROM dirty)),
        |na AS (SELECT * FROM sa
        |  WHERE coarse IN (SELECT coarse FROM dirty))
        |SELECT CAST(COALESCE(nb.coarse, na.coarse) AS BIGINT) AS coarse,
        | CAST(COALESCE(nb.fine, na.fine) AS BIGINT) AS fine,
        | CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_base,
        | CAST(COALESCE(na.n, 0) AS BIGINT) AS n_after,
        | CAST(COALESCE(nb.dg, 0) AS BIGINT) AS digest_base,
        | CAST(COALESCE(na.dg, 0) AS BIGINT) AS digest_after
        |FROM nb FULL OUTER JOIN na ON nb.fine = na.fine
        |WHERE COALESCE(nb.n, 0) <> COALESCE(na.n, 0)
        |  OR COALESCE(nb.dg, 0) <> COALESCE(na.dg, 0)""".stripMargin,

    // the minimax closed form of the isotonic fit — shares NO algorithmic
    // structure with the engine's PAV stack, only the definition:
    // fit(t) = max over i<=t of min over j>=t of avg(y[i..j])
    "d219_isotonic" ->
      """WITH e AS (SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
        |  1, 6))::BIGINT % 32 AS b,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        | FROM events),
        |c AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(y) AS BIGINT) AS sy FROM e GROUP BY 1),
        |p AS (SELECT b, n, sy,
        |  CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS cn,
        |  CAST(SUM(sy) OVER (ORDER BY b) AS BIGINT) AS csy FROM c),
        |pairs AS (SELECT i.b AS bi, j.b AS bj,
        |  CAST(j.csy - i.csy + i.sy AS DOUBLE) / (j.cn - i.cn + i.n) AS m
        | FROM p i JOIN p j ON i.b <= j.b),
        |mm AS (SELECT t.b AS b, pr.bi AS bi, MIN(pr.m) AS mn
        | FROM p t JOIN pairs pr ON pr.bi <= t.b AND pr.bj >= t.b
        | GROUP BY 1, 2),
        |f AS (SELECT b, MAX(mn) AS fitted FROM mm GROUP BY 1)
        |SELECT c.b AS b, c.n AS n, c.sy AS sy, ROUND(f.fitted, 6) AS fitted
        |FROM c JOIN f USING (b)""".stripMargin,

    // the 6-stage UNROLLED DP (the d177/d180 convention) with list
    // backtracking; argmin ties break (cost, u) — the oracle mirror of
    // the engine's ascending-u strict-< scan
    "d220_voptimal_segments" -> {
      val dpStages = (2 to 6).map { k =>
        val prev = s"dp${k - 1}"
        s"""dp$k AS (SELECT v, cost, cuts FROM (
           |  SELECT s.v AS v, d.cost + s.sse AS cost,
           |   list_append(d.cuts, s.u) AS cuts,
           |   ROW_NUMBER() OVER (PARTITION BY s.v
           |     ORDER BY d.cost + s.sse, s.u) AS rn
           |  FROM $prev d JOIN seg s ON s.u = d.v) WHERE rn = 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH wk AS (SELECT date_diff('day', DATE '1970-01-01',
         |  CAST(o_orderdate AS DATE)) // 7 AS w,
         |  CAST(COUNT(*) AS BIGINT) AS x FROM orders GROUP BY 1),
         |idx AS (SELECT w, x,
         |  CAST(ROW_NUMBER() OVER (ORDER BY w) AS BIGINT) AS i FROM wk),
         |pre0 AS (SELECT i, w, x,
         |  CAST(SUM(x) OVER (ORDER BY i) AS BIGINT) AS sm,
         |  CAST(SUM(x * x) OVER (ORDER BY i) AS BIGINT) AS sq FROM idx),
         |pre AS (SELECT i, sm, sq FROM pre0
         | UNION ALL SELECT 0, 0, 0),
         |seg AS (SELECT u.i AS u, v.i AS v,
         |  CAST(v.sq - u.sq AS DOUBLE) - CAST(v.sm - u.sm AS DOUBLE) *
         |    CAST(v.sm - u.sm AS DOUBLE) / CAST(v.i - u.i AS DOUBLE)
         |    AS sse
         | FROM pre u JOIN pre0 v ON u.i < v.i),
         |dp1 AS (SELECT v, sse AS cost, [CAST(0 AS BIGINT)] AS cuts
         | FROM seg WHERE u = 0),
         |$dpStages,
         |vm AS (SELECT MAX(i) AS vmax FROM pre0),
         |bounds AS (SELECT list_append(cuts, vmax) AS bs
         | FROM dp6 JOIN vm ON dp6.v = vm.vmax),
         |segs AS (SELECT CAST(g AS BIGINT) AS seg,
         |  bs[CAST(g AS INT)] AS lo_i, bs[CAST(g AS INT) + 1] AS hi_i
         | FROM bounds, UNNEST(range(1, 7)) AS r(g))
         |SELECT seg,
         | (SELECT w FROM pre0 WHERE i = lo_i + 1) AS week_lo,
         | (SELECT w FROM pre0 WHERE i = hi_i) AS week_hi,
         | CAST(hi_i - lo_i AS BIGINT) AS n_weeks,
         | (SELECT CAST(h.sm - COALESCE(l.sm, 0) AS BIGINT)
         |   FROM pre0 h, pre l WHERE h.i = hi_i AND l.i = lo_i)
         |   AS sum_cnt,
         | ROUND((SELECT CAST(h.sq - l.sq AS DOUBLE) -
         |     CAST(h.sm - l.sm AS DOUBLE) * CAST(h.sm - l.sm AS DOUBLE) /
         |     CAST(h.i - l.i AS DOUBLE)
         |   FROM pre0 h, pre l WHERE h.i = hi_i AND l.i = lo_i), 6)
         |   AS sse
         |FROM segs""".stripMargin
    },

    // six engine-portable md5 weights per key; argmax via first-match
    // CASE (lowest node wins ties); the movement matrix between the
    // 5-node and 6-node rings
    "d221_rendezvous_rebalance" -> {
      val ws = (0 to 5).map { n =>
        s"('0x' || substr(md5(CAST(k AS VARCHAR) || '#' || '$n'), 1, 15))" +
          s"::BIGINT AS w$n"
      }.mkString(",\n  ")
      def am(upTo: Int, g: String) =
        (0 to upTo).map(n => s"WHEN w$n = $g THEN $n").mkString(" ")
      s"""WITH kk AS (SELECT o_orderkey AS k FROM orders),
         |w AS (SELECT k,
         |  $ws
         | FROM kk),
         |g AS (SELECT *, GREATEST(w0, w1, w2, w3, w4) AS g5,
         |  GREATEST(w0, w1, w2, w3, w4, w5) AS g6 FROM w),
         |a AS (SELECT
         |  CAST(CASE ${am(4, "g5")} END AS BIGINT) AS node5,
         |  CAST(CASE ${am(5, "g6")} END AS BIGINT) AS node6 FROM g)
         |SELECT node5, node6, CAST(COUNT(*) AS BIGINT) AS n_keys
         |FROM a GROUP BY 1, 2""".stripMargin
    },

    // the one-shot summary of the full table — the incremental streaming
    // fold must land on it bit for bit
    "d222_stream_merkle" ->
      s"""WITH $merkleBaseSummarySql
         |SELECT CAST(coarse AS BIGINT) AS coarse,
         | CAST(fine AS BIGINT) AS fine, n, dg AS digest
         |FROM sb""".stripMargin,

    // distinct (order, brand) baskets; pair supports with a floor; rule
    // metrics — confidence one exact division, lift in doubles with the
    // engine's fixed operand order
    "d223_association_rules" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, p_brand AS br
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_baskets
        | FROM b),
        |si AS (SELECT br, CAST(COUNT(*) AS BIGINT) AS supp
        | FROM b GROUP BY 1),
        |pr AS (SELECT x.br AS a, y.br AS b2,
        |  CAST(COUNT(*) AS BIGINT) AS supp_ab
        | FROM b x JOIN b y ON x.o = y.o AND x.br < y.br
        | GROUP BY 1, 2)
        |SELECT a, b2 AS b, supp_ab,
        | sa.supp AS supp_a, sb2.supp AS supp_b, n_baskets,
        | ROUND(CAST(supp_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE), 6)
        |   AS confidence,
        | ROUND(CAST(supp_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE) /
        |   (CAST(sa.supp AS DOUBLE) * CAST(sb2.supp AS DOUBLE)), 6)
        |   AS lift
        |FROM pr JOIN si sa ON pr.a = sa.br
        | JOIN si sb2 ON pr.b2 = sb2.br, nb
        |WHERE supp_ab >= 20""".stripMargin,

    // winnowing: per-doc window minima over md5 gram hashes; fingerprint
    // SET semantics make the equal-hash tie irrelevant; posting cap 2..50
    // before the pair join, floor >= 3 after
    "d224_winnowing_pairs" ->
      s"""WITH t0 AS (SELECT doc_id, $toksLowerSql AS t FROM documents
         |  WHERE text IS NOT NULL),
         |t2 AS (SELECT doc_id, t FROM t0 WHERE len(t) >= 5),
         |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
         |  ('0x' || substr(md5(array_to_string(
         |    t[CAST(i AS INT):CAST(i AS INT) + 4], ' ')), 1, 15))::BIGINT
         |    AS h
         | FROM t2, UNNEST(range(1, len(t) - 3)) AS r(i)),
         |wmin AS (SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id
         |  ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         | FROM g),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wmin),
         |post AS (SELECT fp FROM (SELECT fp, COUNT(*) AS nd FROM fps
         |  GROUP BY 1) WHERE nd BETWEEN 2 AND 50),
         |keep AS (SELECT f.doc_id, f.fp FROM fps f JOIN post USING (fp))
         |SELECT CAST(a.doc_id AS BIGINT) AS da,
         | CAST(b.doc_id AS BIGINT) AS db,
         | CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    // deterministic Poisson bootstrap: md5 uniform vs the shared integer
    // thresholds (PoissonThresholds — one drifted literal voids the row)
    "d225_poisson_bootstrap" -> {
      val wSql = PoissonThresholds
        .map(t => s"CAST(uu >= $t AS INT)").mkString(" + ")
      s"""WITH o AS (SELECT o_orderkey AS k,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    AS cents FROM orders),
         |e AS (SELECT k, cents, CAST(b AS BIGINT) AS b
         | FROM o, UNNEST(range(0, 32)) AS r(b)),
         |u AS (SELECT b, cents, ('0x' || substr(md5(CAST(k AS VARCHAR)
         |  || '~' || CAST(b AS VARCHAR)), 1, 6))::BIGINT AS uu FROM e),
         |w AS (SELECT b, cents, CAST($wSql AS BIGINT) AS w FROM u)
         |SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
         | CAST(SUM(w * cents) AS BIGINT) AS sum_cents,
         | ROUND(CAST(SUM(w * cents) AS DOUBLE) /
         |   (CAST(100 AS DOUBLE) * CAST(SUM(w) AS DOUBLE)), 4)
         |   AS mean_value
         |FROM w GROUP BY 1""".stripMargin
    },

    // LOGO influence from the (source × lang) census — mean delta exact
    // until one division; entropy terms over the zero-filled lang grid
    "d226_source_influence" ->
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sc FROM documents GROUP BY 1, 2),
        |bs AS (SELECT source, CAST(SUM(n) AS BIGINT) AS s_n,
        |  CAST(SUM(sc) AS BIGINT) AS s_sum FROM c GROUP BY 1),
        |bl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS l_n FROM c
        | GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |  CAST(SUM(sc) AS BIGINT) AS ss FROM c),
        |grid AS (SELECT s.source AS source, l.lang AS lang, l.l_n AS l_n,
        |  COALESCE(c.n, 0) AS n
        | FROM (SELECT source FROM bs) s CROSS JOIN bl l
        | LEFT JOIN c ON c.source = s.source AND c.lang = l.lang),
        |hw AS (SELECT g.source AS source, SUM(CASE WHEN g.l_n - g.n > 0
        |   THEN -(CAST(g.l_n - g.n AS DOUBLE) /
        |       CAST(t.nn - b.s_n AS DOUBLE)) *
        |     ln(CAST(g.l_n - g.n AS DOUBLE) / CAST(t.nn - b.s_n AS DOUBLE))
        |   ELSE CAST(0 AS DOUBLE) END) AS h_without
        | FROM grid g JOIN bs b ON g.source = b.source, tot t GROUP BY 1),
        |ha AS (SELECT SUM(CASE WHEN l_n > 0 THEN
        |   -(CAST(l_n AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |     ln(CAST(l_n AS DOUBLE) / CAST(nn AS DOUBLE))
        |   ELSE CAST(0 AS DOUBLE) END) AS h_all FROM bl, tot)
        |SELECT b.source AS source, b.s_n AS n_docs,
        | ROUND(CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE) -
        |   CAST(t.ss - b.s_sum AS DOUBLE) / CAST(t.nn - b.s_n AS DOUBLE),
        |   6) AS d_mean_chars,
        | ROUND(ha.h_all - hw.h_without, 6) AS d_lang_entropy
        |FROM bs b JOIN hw ON b.source = hw.source, tot t, ha""".stripMargin,

    // the recursive multiplication twin of d204's depth walk — child's
    // effective quantity = parent's × the child edge quantity
    "d227_bom_explosion" ->
      """WITH RECURSIVE ch AS (
        | SELECT c_custkey AS c,
        |  CASE WHEN c_custkey > 0 THEN
        |   ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))::BIGINT
        |    % c_custkey END AS p
        | FROM customer),
        |q AS (SELECT c, p, c % 5 + 2 AS qty FROM ch),
        |t AS (
        | SELECT c, p, CAST(NULL AS BIGINT) AS qty,
        |  CAST(1 AS BIGINT) AS eff FROM q WHERE p IS NULL
        | UNION ALL
        | SELECT q.c, q.p, CAST(q.qty AS BIGINT), t.eff * q.qty
        | FROM q JOIN t ON q.p = t.c)
        |SELECT CAST(c AS BIGINT) AS c_custkey, CAST(p AS BIGINT) AS parent,
        | qty, CAST(eff AS BIGINT) AS eff_qty
        |FROM t""".stripMargin,

    // the composed funnel: each CTE is the proven fragment of its
    // standalone row (d58 key, d60 gate, d57 overlap, d59 packing),
    // chained over SURVIVORS — boundary leaks shift these counts
    "d228_curation_pipeline" ->
      s"""$curationFunnelPrefixSql,
         |pt AS (SELECT source, doc_id, len($toksSql) AS ntok FROM clean),
         |pk AS (SELECT source, doc_id, ntok, SUM(ntok) OVER (
         |  PARTITION BY source ORDER BY doc_id) AS cum FROM pt),
         |shards AS (SELECT source,
         |  CAST(COUNT(DISTINCT (cum - ntok) // 512) AS BIGINT) AS n_shards,
         |  CAST(SUM(ntok) AS BIGINT) AS n_packed_tokens FROM pk
         | GROUP BY 1)
         |SELECT fi.source AS source, n_input,
         | CAST(COALESCE(n_dedup, 0) AS BIGINT) AS n_dedup,
         | CAST(COALESCE(n_quality, 0) AS BIGINT) AS n_quality,
         | CAST(COALESCE(n_clean, 0) AS BIGINT) AS n_clean,
         | CAST(COALESCE(n_shards, 0) AS BIGINT) AS n_shards,
         | CAST(COALESCE(n_packed_tokens, 0) AS BIGINT) AS n_packed_tokens
         |FROM fi LEFT JOIN fd USING (source) LEFT JOIN fq USING (source)
         | LEFT JOIN fc USING (source) LEFT JOIN shards USING (source)"""
        .stripMargin,
    "d236_stream_curation" ->
      s"""$curationFunnelPrefixSql
         |SELECT fi.source AS source, n_input,
         | CAST(COALESCE(n_dedup, 0) AS BIGINT) AS n_dedup,
         | CAST(COALESCE(n_quality, 0) AS BIGINT) AS n_quality,
         | CAST(COALESCE(n_clean, 0) AS BIGINT) AS n_clean
         |FROM fi LEFT JOIN fd USING (source) LEFT JOIN fq USING (source)
         | LEFT JOIN fc USING (source)""".stripMargin,

    // brand-partition modularity: exact integer numerator per brand,
    // one division; the (li, pr, e) edge CTEs follow the d177 convention
    "d229_brand_modularity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |  FROM lineitem),
        |pr AS (SELECT a.i AS pa, b.i AS pb FROM li a JOIN li b
        |  ON a.g = b.g AND a.i < b.i),
        |e AS MATERIALIZED (SELECT pa AS a, pb AS b FROM
        |  (SELECT pa, pb, COUNT(*) AS c FROM pr GROUP BY 1, 2)
        |  WHERE c >= 2),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
        |lab AS (SELECT pa.p_brand AS ba, pb.p_brand AS bb FROM e
        | JOIN part pa ON e.a = pa.p_partkey
        | JOIN part pb ON e.b = pb.p_partkey),
        |intra AS (SELECT ba AS p_brand, CAST(COUNT(*) AS BIGINT)
        |  AS e_intra FROM lab WHERE ba = bb GROUP BY 1),
        |adj AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj
        | GROUP BY 1),
        |bd AS (SELECT p.p_brand AS p_brand,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(SUM(deg) AS BIGINT) AS d_sum
        | FROM deg JOIN part p ON deg.node = p.p_partkey GROUP BY 1)
        |SELECT bd.p_brand AS p_brand, n_nodes, d_sum,
        | CAST(COALESCE(e_intra, 0) AS BIGINT) AS e_intra,
        | ROUND(CAST(4 * m * COALESCE(e_intra, 0) - d_sum * d_sum
        |    AS DOUBLE) / CAST(4 * m * m AS DOUBLE), 9) AS contribution
        |FROM bd LEFT JOIN intra USING (p_brand), m""".stripMargin,

    // greedy coverage unrolled K=8 (the d177/d180 convention): each
    // stage anti-joins the covered grams, argmaxes (cnt DESC, doc_id),
    // and folds the pick's grams into the covered set
    "d230_greedy_coverage" -> {
      val stages = (2 to 8).map { k =>
        s"""u$k AS (SELECT g.doc_id, g.gram FROM g
           |  ANTI JOIN c${k - 1} USING (gram)),
           |s$k AS MATERIALIZED (SELECT doc_id, cnt, ROW_NUMBER() OVER (
           |  ORDER BY cnt DESC, doc_id) AS rn FROM (
           |  SELECT doc_id, COUNT(*) AS cnt FROM u$k GROUP BY 1)),
           |p$k AS (SELECT doc_id AS pick, cnt AS gain FROM s$k
           | WHERE rn = 1),
           |c$k AS MATERIALIZED (SELECT gram FROM c${k - 1}
           | UNION SELECT g.gram FROM g JOIN p$k ON g.doc_id = p$k.pick)"""
          .stripMargin
      }.mkString(",\n")
      val unions = (1 to 8).map(k =>
        s"SELECT $k AS k, pick, gain FROM p$k").mkString("\n UNION ALL ")
      s"""WITH t0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  $toksLowerSql AS t FROM documents WHERE text IS NOT NULL),
         |t2 AS (SELECT doc_id, t FROM t0 WHERE len(t) >= 5),
         |g AS MATERIALIZED (SELECT DISTINCT doc_id,
         |  array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 4], ' ')
         |    AS gram
         | FROM t2, UNNEST(range(1, len(t) - 3)) AS r(i)),
         |s1 AS MATERIALIZED (SELECT doc_id, cnt, ROW_NUMBER() OVER (
         |  ORDER BY cnt DESC, doc_id) AS rn FROM (
         |  SELECT doc_id, COUNT(*) AS cnt FROM g GROUP BY 1)),
         |p1 AS (SELECT doc_id AS pick, cnt AS gain FROM s1 WHERE rn = 1),
         |c1 AS MATERIALIZED (SELECT DISTINCT gram FROM g
         | JOIN p1 ON g.doc_id = p1.pick),
         |$stages
         |SELECT CAST(k AS BIGINT) AS k, CAST(pick AS BIGINT) AS doc_id,
         | CAST(gain AS BIGINT) AS gain,
         | CAST(SUM(gain) OVER (ORDER BY k) AS BIGINT) AS covered_cum
         |FROM ($unions)""".stripMargin
    },
    "d231_sprt_decision" -> sprtOracleSql,
    "d232_stream_sprt" -> sprtOracleSql,
    "d233_kcenter_coreset" -> {
      def dist2(p: String, c: String) = (1 to 4).map(i =>
        s"($p.f$i - $c.f$i) * ($p.f$i - $c.f$i)").mkString(" + ")
      val stages = (2 to 6).map { k =>
        val prev = if (k == 2) "e1" else s"e${k - 1}"
        s"""c$k AS (SELECT * FROM $prev ORDER BY d2 DESC, k ASC LIMIT 1),
           |e$k AS MATERIALIZED (SELECT p.k, p.f1, p.f2, p.f3, p.f4,
           |  LEAST(p.d2, ${dist2("p", "c")}) AS d2
           | FROM $prev p, c$k c)""".stripMargin
      }.mkString(",\n")
      val unions = (2 to 6).map(k =>
        s"SELECT $k AS kk, c$k.k AS ck, c$k.d2 AS r2 FROM c$k")
        .mkString("\n UNION ALL ")
      s"""WITH f AS (SELECT CAST(o_custkey AS BIGINT) AS k,
         |  CAST(COUNT(*) AS BIGINT) AS f1,
         |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) // 100000 AS BIGINT) AS f2,
         |  CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) // 100000 AS BIGINT) AS f3,
         |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS f4
         | FROM orders GROUP BY 1),
         |c1 AS (SELECT * FROM f ORDER BY k ASC LIMIT 1),
         |e1 AS MATERIALIZED (SELECT p.k, p.f1, p.f2, p.f3, p.f4,
         |  ${dist2("p", "c")} AS d2
         | FROM f p, c1 c),
         |$stages
         |SELECT CAST(kk AS BIGINT) AS k, CAST(ck AS BIGINT) AS c_custkey,
         | CAST(r2 AS BIGINT) AS radius2
         |FROM (SELECT 1 AS kk, c1.k AS ck, 0 AS r2 FROM c1
         | UNION ALL $unions)""".stripMargin
    },
    "d234_mutual_nn" -> {
      def side(src: String, pre: String) =
        s"""SELECT CAST(doc_id AS BIGINT) AS ${pre}_id,
           |  CAST(len($toksSql) AS BIGINT) * 8 AS ${pre}_t,
           |  CAST(n_chars AS BIGINT) AS ${pre}_c,
           |  CAST(n_chars AS BIGINT) // 64 AS blk
           | FROM documents
           | WHERE source = '$src' AND text IS NOT NULL""".stripMargin
      s"""WITH da AS (${side("src2", "a")}),
         |db AS (${side("src3", "b")}),
         |cand AS (SELECT a_id, b_id,
         |  (a_t - b_t) * (a_t - b_t) + (a_c - b_c) * (a_c - b_c)
         |    AS dist2
         | FROM da JOIN db USING (blk)),
         |ba AS (SELECT a_id, b_id, dist2, ROW_NUMBER() OVER (
         |  PARTITION BY a_id ORDER BY dist2, b_id) AS rn FROM cand),
         |bb AS (SELECT a_id, b_id, ROW_NUMBER() OVER (
         |  PARTITION BY b_id ORDER BY dist2, a_id) AS rn FROM cand)
         |SELECT ba.a_id, ba.b_id, CAST(ba.dist2 AS BIGINT) AS dist2
         |FROM ba JOIN bb ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id
         |WHERE ba.rn = 1 AND bb.rn = 1""".stripMargin
    },
    "d235_sorted_neighborhood" ->
      s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id,
         |  array_to_string(($toksLowerSql)[1:3], ' ') || '|' ||
         |   lpad(CAST(doc_id AS VARCHAR), 12, '0') AS ord,
         |  array_to_string(list_sort(list_distinct($toksLowerSql)), ' ')
         |   AS ck
         | FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT id, ck,
         |  ROW_NUMBER() OVER (ORDER BY ord) AS rnk FROM t)
         |SELECT a.id AS a_id, b.id AS b_id,
         | CAST(b.rnk - a.rnk AS BIGINT) AS gap,
         | CAST(CASE WHEN a.ck = b.ck THEN 1 ELSE 0 END AS BIGINT)
         |  AS is_dup
         |FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 3""".stripMargin,
    "d237_jaro_linkage" ->
      s"""WITH p0 AS (SELECT CAST(doc_id AS BIGINT) AS id,
         |  array_to_string(($toksLowerSql)[1:5], ' ') AS nm,
         |  ($toksLowerSql)[1] AS blk
         | FROM documents WHERE text IS NOT NULL),
         |cen AS (SELECT blk FROM (
         |  SELECT blk, COUNT(*) AS c FROM p0 GROUP BY blk)
         | WHERE c <= 1000),
         |p AS (SELECT p0.* FROM p0 JOIN cen USING (blk)),
         |cand AS (SELECT a.id AS a_id, b.id AS b_id,
         |  jaro_winkler_similarity(a.nm, b.nm) AS jw
         | FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id)
         |SELECT a_id, b_id, ROUND(jw, 6) AS jw
         |FROM cand WHERE jw >= 0.9""".stripMargin,
    "d238_stream_packing" -> packOracleSql,
    "d242_epoch_shuffle" ->
      s"""WITH t AS (SELECT source, doc_id, len($toksSql) AS ntok
         |  FROM documents),
         |c AS (SELECT source, doc_id, ntok, SUM(ntok) OVER (
         |  PARTITION BY source ORDER BY doc_id) AS cum FROM t),
         |sh AS (SELECT DISTINCT source,
         |  CAST((cum - ntok) // 512 AS BIGINT) AS bin_id FROM c),
         |e AS (SELECT UNNEST(range(1, 4)) AS epoch),
         |k AS (SELECT epoch, source, bin_id,
         |  md5(CAST(epoch AS VARCHAR) || ':' || source || ':' ||
         |    CAST(bin_id AS VARCHAR)) AS kk
         | FROM sh, e)
         |SELECT CAST(epoch AS BIGINT) AS epoch,
         | CAST(ROW_NUMBER() OVER (PARTITION BY epoch
         |   ORDER BY kk, source, bin_id) AS BIGINT) AS pos,
         | source, bin_id
         |FROM k""".stripMargin,
    "d241_check_resize" ->
      """SELECT CAST(SUM(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_images,
        | CAST(0 AS BIGINT) AS law_violations,
        | CAST(0 AS BIGINT) AS dim_violations,
        | CAST(0 AS BIGINT) AS repro_violations
        |FROM embeddings""".stripMargin,
    "d239_shard_text" ->
      s"""WITH t AS (SELECT source, doc_id, text, len($toksSql) AS ntok
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT source, doc_id, text, ntok,
         |  SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         | FROM t),
         |b AS (SELECT source, CAST((cum - ntok) // 512 AS BIGINT)
         |   AS bin_id, doc_id, text FROM c)
         |SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | md5(string_agg(text, chr(10) ORDER BY doc_id)) AS payload_md5,
         | CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |FROM b GROUP BY 1, 2""".stripMargin,
  )
}
