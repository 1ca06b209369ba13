package graft

import graft.functions.{FrequencySketch, TextFunctions}
import graft.operators.{Dedup, MediaCodec, Multimodal, ScaleOps, Similarity}
import graft.plans.NativeExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based battery checks for the approximate / hash-seeded operators
  * (the rows CORRECTNESS reports as `no_oracle`): each check query verifies
  * an INVARIANT the engine must satisfy — a guarantee the algorithm's
  * analysis proves, a subset/consistency law, or a recall floor against an
  * oracle-checked exact twin — and reports it in a shape DuckDB can
  * independently affirm (exact counts the oracle recomputes; `TRUE`
  * literals for the engine-side invariants; violation counters that must
  * be zero). A violated invariant changes the hashed values, so the
  * driver's gate now sees these operators fail.
  *
  * This extends the d103 pattern (model-based cap semantics) across the
  * sketch/ANN/LSH surface. The multimodal rows (d33/d34/d89) get their
  * decode/metadata plumbing reconciled by [[d135CheckMultimodal]] (payloads
  * are synthetic by construction, so the check is codec-vs-metadata
  * consistency, not content truth); d89's pair engine (hammingPairs64) is
  * additionally covered by [[d128CheckSimhashComplete]].
  *
  * Scale note: the brute-force references here are deliberately
  * independent of the structures they check (no shared blocking), which
  * makes some of them quadratic in DISTINCT SIGNATURES / candidate-blocked
  * pairs. They are verification harness rows, bounded by the battery's
  * corpus contract — not pipeline operators; at 100 TB the same checks run
  * on a sampled slice.
  */
object ModelChecks {

  // ---------------------------------------------------------------------
  // shared derivations across check rows
  // ---------------------------------------------------------------------

  /** Derivations SHARED between verification rows: d129 and d130 both
    * need the d23 MinHash pair set, d132 and d133 both need the
    * brute-force cosine ≥ 0.3 pair set over embeddings. Each is
    * verification INPUT, not the property under test — the checks
    * themselves (8σ bounds, labeling laws, subset/soundness counters)
    * always recompute — so it is a [[RunScope]] entry, materialized once
    * per (application, sf dir). Results are `localCheckpoint(true)`-backed
    * (RDD blocks, pair-set-sized by the battery's cap contracts), so they
    * survive Bench's per-rep `catalog.clearCache()`; the FIRST access in a
    * bench run still pays the full build and is visible in the artifact's
    * per-row rep_times. The release unpersists the checkpoint RDD — a
    * localCheckpoint's Dataset.unpersist is a no-op (the blocks live on
    * the checkpoint RDD, not in the CacheManager).
    */
  private def shared(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame =
    RunScope.getOrBuild(s, d, name) {
      val ck = build.localCheckpoint(true) // eager: blocks exist on return
      (ck, pinnedAncestors(ck.queryExecution.toRdd))
    } { case (_, pinned) => pinned.foreach(_.unpersist(blocking = false)) }._1

  /** The persisted ancestors of a plan's RDD lineage — for a localCheckpoint
    * Dataset, exactly the checkpoint RDD holding the blocks. Walked from
    * the Dataset itself (never a global getPersistentRDDs diff, which
    * could capture an UNRELATED concurrent persist and later drain blocks
    * another plan still needs).
    */
  private def pinnedAncestors(rdd: org.apache.spark.rdd.RDD[_])
      : Seq[org.apache.spark.rdd.RDD[_]] =
    if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
      Seq(rdd)
    else rdd.dependencies.map(_.rdd).flatMap(pinnedAncestors)

  /** Drains the whole [[RunScope]]; kept as the public name benchmark
    * harnesses call between runs. Same contract as [[RunScope.clear]].
    */
  def clearSharedDerivations(): Unit = RunScope.clear()

  /** The d23 emitted pair set (id1, id2, jaccard_est) — d129 verifies its
    * estimates, d130 clusters it; one LSH run serves both.
    */
  private def d23Pairs(s: SparkSession, d: String): DataFrame =
    shared(s, d, "d23pairs") {
      Queries.d23MinhashPairs(s, d)
        .select(col("id1"), col("id2"), col("jaccard_est"))
    }

  /** Brute-force cosine ≥ 0.3 pair set (id1, id2, cosine) over the
    * embeddings corpus — the independent reference d132 (subset law) and
    * d133 (soundness) both compare against; the one corpus-quadratic
    * derivation in the harness, now built once.
    */
  private def bruteCosinePairs(s: SparkSession, d: String): DataFrame =
    shared(s, d, "bruteCos03") {
      val v = Tables.embeddings(s, d)
        .select(col("vec_id").as("__id"), col("embedding").as("__v"))
      v.as("a").join(v.as("b"), col("a.__id") < col("b.__id"))
        .withColumn("cosine",
          round(NativeExpressions.cosine(col("a.__v"), col("b.__v")), 6))
        .filter(col("cosine") >= 0.3)
        .select(col("a.__id").as("id1"), col("b.__id").as("id2"),
          col("cosine"))
    }

  // ---------------------------------------------------------------------
  // d125: HLL approx_count_distinct (checks d38)
  // ---------------------------------------------------------------------

  /** HLL error-bound check: per event type, the exact distinct-user count
    * (which DuckDB recomputes and hash-verifies) plus a flag asserting the
    * d38 sketch's estimate lies within 3.5 standard errors (rsd = 0.02 →
    * ±7%) of it. The sketch is seeded-deterministic, so the flag is stable
    * per dataset; a broken HLL register merge flips it to false and fails
    * the driver's hash compare.
    */
  def d125CheckApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("__approx"))
      .select(col("event_type"),
        expr("CAST(exact_users AS BIGINT)").as("exact_users"),
        (abs(col("__approx") - col("exact_users")) <=
          ceil(col("exact_users") * 0.07)).as("within_bounds"))

  // ---------------------------------------------------------------------
  // d126: Misra-Gries heavy hitters (checks d79)
  // ---------------------------------------------------------------------

  /** Misra-Gries guarantee check (k = 100 counters, the d79 config): for
    * every term whose TRUE count exceeds 2n/(k+1) — comfortably above the
    * sketch's n/(k+1) error bound, so presence is unconditional — the
    * sketch must (a) contain the term and (b) estimate within
    * [true - n/(k+1), true]. True counts and the heavy-term set are exact
    * relational queries DuckDB reproduces; the booleans assert the sketch
    * side. The mergeable-summaries compaction (FrequencySketch.scala:55-69)
    * preserves the bound under Spark's partial aggregation, which is
    * precisely what this row would catch regressing.
    */
  def d126CheckHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val k = 100
    val terms = Tables.documents(s, d)
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .persist()
    val n = terms.count()
    val sketch = terms
      .agg(FrequencySketch.heavyHitters(k)(col("term")).as("hh"))
      .select(explode(col("hh")).as(Seq("term", "est")))
    val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("true_count"))
    val bound = n.toDouble / (k + 1)
    // (2.0*n)/(k+1), association matching the oracle's `2.0 * n / 101` so a
    // boundary term cannot flip between engines on a 1-ulp difference
    val cutoff = 2.0 * n.toDouble / (k + 1)
    val result = exact.join(sketch, Seq("term"), "left")
      .filter(col("true_count") > cutoff)
      .select(col("term"),
        expr("CAST(true_count AS BIGINT)").as("true_count"),
        col("est").isNotNull.as("found"),
        (col("est").isNotNull && col("est") <= col("true_count") &&
          col("est") >= col("true_count") - bound).as("est_in_range"))
    // materialize (≤ ~k heavy terms) while `terms` is still cached — a lazy
    // return would recompute the token explode after the unpersist
    val rows = result.collect().toSeq
    terms.unpersist()
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), result.schema)
  }

  // ---------------------------------------------------------------------
  // d127: ANN recall floors (checks d28 LSH, d44 IVF, d54 quantized)
  // ---------------------------------------------------------------------

  /** ANN recall-floor check: per battery query vector, the approximate
    * variants must recover at least a floor fraction of the ORACLE-CHECKED
    * brute-force top-5 (d26's operator — bit-identical scores vs DuckDB).
    * All three are seeded-deterministic, so each boolean is stable for a
    * given dataset. Floors are per-family (hyperplane LSH recalls less
    * than IVF's trained cells at these corpus sizes; the int8 screen + an
    * exact rescore is near-lossless) and sit under the worst observed
    * recall across sf0.001/0.01/0.1 with margin — low enough to be stable,
    * high enough that a broken bucket probe or quantizer fails the row.
    */
  def d127CheckAnnRecall(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val k = 5
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("corpus_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    val brute = pairSet(Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "q_id", "q_vec", k))
    val lsh = pairSet(Similarity.lshTopK(
      emb, "vec_id", "embedding", queries, "q_id", "q_vec", k, bits = 6, probes = 2))
    val ivf = pairSet(Similarity.ivfTopK(
      s, emb, "vec_id", "embedding", queries, "q_id", "q_vec", k, nlist = 16, nprobe = 4))
    val qArr = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val pq = pairSet(Similarity.quantizedTopK(s, emb, "vec_id", "embedding", qArr, k))
    def recall(x: Set[(Long, Long)], q: Long): Double = {
      val b = brute.filter(_._1 == q)
      if (b.isEmpty) 1.0 else b.count(x.contains).toDouble / b.size
    }
    val qIds = qArr.map(_._1).sorted
    // fleet-mean floors complement the loose per-query floors: a single
    // unlucky bucket is tolerated, a systematically broken probe is not.
    // Measured means across sf0.001/0.01/0.1: lsh 0.25-0.33, ivf 0.55-0.78,
    // pq 1.0 (exact rescore) — floors sit under the worst with margin.
    val meanOk =
      qIds.map(recall(lsh, _)).sum / qIds.size >= 0.22 &&
      qIds.map(recall(ivf, _)).sum / qIds.size >= 0.40 &&
      qIds.map(recall(pq, _)).sum / qIds.size >= 0.90
    val rows = qIds.map { q =>
      val b = brute.filter(_._1 == q)
      (q, b.size.toLong, recall(lsh, q) >= 0.2, recall(ivf, q) >= 0.2,
        recall(pq, q) >= 0.8, meanOk)
    }
    rows.toDF("query_id", "n_exact", "lsh_ok", "ivf_ok", "pq_ok", "mean_ok")
  }

  // ---------------------------------------------------------------------
  // d128: SimHash pigeonhole completeness (checks d24 + the shared
  //       hammingPairs64 engine behind d89)
  // ---------------------------------------------------------------------

  /** SimHash pair-engine exactness check: block probing with maxHamming+1
    * pigeonhole blocks is EXACT, not approximate — below the block cap,
    * the emitted pairs must equal the brute-force O(F²) pairing of the F
    * DISTINCT fingerprints (collapsed to min-id representatives, the
    * engine's exact-dup semantics) at Hamming ≤ 3. Both directions count
    * as violations: a sound-but-incomplete probe misses pairs; an unsound
    * one fabricates them. The brute reference shares NO code with the
    * engine (xor + bit_count vs block explode + in-bucket scan).
    */
  def d128CheckSimhashComplete(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val maxHamming = 3
    val docs = Tables.documents(s, d)
    // r9 optimization (guide §1/§2): fanOut the signature pass (otherwise
    // fused into a 1-task scan of the single-row-group bench file) and
    // checkpoint the collapsed signature table, which feeds BOTH sides of
    // the brute O(F²) self-join — previously recomputed per consumer.
    val sigs = ScaleOps.fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        NativeExpressions.simHash64(
          TextFunctions.tokens(lower(col("text")))).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("id"))
      .localCheckpoint()
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .filter(bit_count(col("a.fp").bitwiseXOR(col("b.fp"))) <= maxHamming)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val emitted = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = maxHamming)
      .select(col("id1"), col("id2"))
    // ONE full-outer pass instead of two exceptAll legs — the legs each
    // re-ran the O(F²) brute reference. Both sides are duplicate-free by
    // construction (unique min-id signature representatives; the engine
    // dropDuplicates), so the multiset exceptAll counts equal these set
    // difference counts exactly.
    val row = brute.withColumn("__b", lit(1))
      .join(emitted.withColumn("__e", lit(1)), Seq("id1", "id2"), "full_outer")
      .agg(sum(when(col("__e").isNull, 1L).otherwise(0L)).as("m"),
        sum(when(col("__b").isNull, 1L).otherwise(0L)).as("f")).head()
    // the sigs checkpoint is dead once the single result row above is
    // materialized — release its blocks here (Dataset.unpersist is a
    // no-op for localCheckpoint blocks; unpersist the checkpoint RDD
    // itself), else every d128 execution leaks them for the session
    // lifetime (r9 ADVICE — the same leak class bpeTrain fixed in r9)
    pinnedAncestors(sigs.queryExecution.toRdd)
      .foreach(_.unpersist(blocking = false))
    def z(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Seq((z(0), z(1))).toDF("missed_pairs", "fabricated_pairs")
  }

  // ---------------------------------------------------------------------
  // d129: MinHash estimate + high-similarity coverage (checks d23)
  // ---------------------------------------------------------------------

  /** MinHash-LSH two-sided check over the d23 configuration (3-shingles,
    * 128 hashes, 32 bands, threshold 0.5):
    *
    *  - `est_violations`: emitted pairs whose signature-estimated Jaccard
    *    deviates from the EXACT string-shingle Jaccard by more than 0.35 —
    *    eight standard errors at 128 hashes (se = sqrt(p(1-p)/128) ≤
    *    0.044), so any violation means a broken signature, not bad luck.
    *  - `missed_high_sim`: document pairs with exact shingle Jaccard ≥ 0.9
    *    that the LSH failed to surface. At J = 0.9 a band of 4 rows
    *    collides with prob J⁴ ≈ 0.66, so 32 bands miss with prob
    *    (1-J⁴)³² ≈ 1e-15 — a miss is a bug, not variance. "Surfaced"
    *    honors the exact-dup collapse: identical signatures, or an emitted
    *    pair between the pairs' min-id signature representatives.
    *
    * The high-sim candidate generation uses PREFIX FILTERING (the
    * SSJoin/PPJoin principle): under any fixed total order on shingles
    * (here: their xxhash64 values), two sets with Jaccard ≥ t MUST share
    * an element among each one's first ⌊(1−t)·|s|⌋+1 order-sorted
    * elements — if the prefixes were disjoint, more than (1−t)·|s|
    * elements of each set would be missing from the other, forcing
    * J < t. Sound, shares nothing with the banding under test, and at
    * t = 0.9 the prefix is ~10% of each set, so the exact-Jaccard verify
    * join touches candidate pairs proportional to the true high-sim pair
    * count, not O(n²) (the size-ratio formulation this replaces ran the
    * battery row at 23 s; this runs it at ~2 s with the identical check).
    */
  def d129CheckMinhashEst(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val docs = Tables.documents(s, d)
    val toks = TextFunctions.tokens(lower(col("text")))
    // the exact-dup collapse groups/joins on a TWO-hash digest of the
    // 128-long signature array, not the array itself (array grouping keys
    // fall back to object agg — the NOTES lesson; two independent xxhash64s
    // put a digest collision at ~2^-128, far below the check's own 8σ
    // tolerance); sig itself still rides along for the exact =!= compare
    // NOTE (r9): a fanOut of this signature pass was tried and
    // measured-REVERTED (2.66 s -> 3.01 s standalone): d129's wall is
    // dominated by the downstream prefix/attribute joins over the persisted
    // frame, and the extra round-robin exchange + 32-partition persist cost
    // more than the parallelized scan saved at bench scale.
    val base = docs.select(col("doc_id"),
        NativeExpressions.wordNgrams(toks, 3).as("grams"),
        NativeExpressions.minHashShingleSignature(toks, 3, 128).as("sig"))
      .withColumn("sigk1", xxhash64(col("sig")))
      .withColumn("sigk2", xxhash64(lit(1), col("sig")))
    val reps = base.groupBy(col("sigk1"), col("sigk2"))
      .agg(min(col("doc_id")).as("rep"))
    val withRep = base.join(reps, Seq("sigk1", "sigk2"))
      .select(col("doc_id"), col("grams"), col("sig"), col("rep"))
      .persist()
    val emitted = d23Pairs(s, d) // shared with d130 (memo-backed)

    val exactJaccard: Column =
      round(size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
        size(array_union(col("a.grams"), col("b.grams"))), 6)

    // side 1: every emitted pair's estimate within 0.35 of exact
    val estViolations = emitted
      .join(withRep.as("a"), col("id1") === col("a.doc_id"))
      .join(withRep.as("b"), col("id2") === col("b.doc_id"))
      .filter(abs(col("jaccard_est") - exactJaccard) > 0.35)
      .agg(count(lit(1)).as("est_violations"))

    // side 2: high-sim pairs must be surfaced (prefix-filtered exact join).
    // The prefix join is SKINNY — (doc_id, setSize, prefixGram) only; the
    // wide gram/signature arrays join back onto the deduplicated candidate
    // ids, so they cross the shuffle once per doc, not once per prefix gram
    val pfx = withRep.select(col("doc_id"), size(col("grams")).as("sz"),
      explode(slice(
        array_sort(transform(col("grams"), g => xxhash64(g))),
        lit(1), (size(col("grams")).cast("double") * 0.1).cast("int") + 1)).as("pg"))
    val cand = pfx.select(col("doc_id").as("ida"), col("sz").as("sza"), col("pg"))
      .join(pfx.select(col("doc_id").as("idb"), col("sz").as("szb"), col("pg")), Seq("pg"))
      .filter(col("ida") < col("idb"))
      // J>=0.9 forces size ratio >= 0.9 — prune before the distinct
      .filter(col("sza") * 10 >= col("szb") * 9 && col("szb") * 10 >= col("sza") * 9)
      .select(col("ida"), col("idb")).distinct()
    def attrs(a: String) = withRep.select(col("doc_id").as(s"id$a"),
      col("grams").as(s"g$a"), col("sig").as(s"sig$a"), col("rep").as(s"rep$a"))
    val highSim = cand.join(attrs("a"), Seq("ida")).join(attrs("b"), Seq("idb"))
      .filter(round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
        size(array_union(col("ga"), col("gb"))), 6) >= 0.9)
      .select(col("ida"), col("idb"), col("siga"), col("sigb"),
        least(col("repa"), col("repb")).as("r1"),
        greatest(col("repa"), col("repb")).as("r2"))
      .dropDuplicates("ida", "idb")
    val pairSet = emitted.select(col("id1").as("r1"), col("id2").as("r2"))
    val missedHighSim = highSim
      .filter(col("siga") =!= col("sigb")) // identical sigs collapsed = surfaced
      .join(pairSet, Seq("r1", "r2"), "left_anti")
      .agg(count(lit(1)).as("missed_high_sim"))
    // r10 (guide §1.2 job floor): both single-row counters under ONE action
    // (was two sequential counts). The persisted withRep feeds subtrees of
    // both sides; block-level locking materializes each cached partition
    // once even when the sides' stages overlap.
    val row = estViolations.crossJoin(missedHighSim).head()
    withRep.unpersist()
    Seq((row.getLong(0), row.getLong(1)))
      .toDF("est_violations", "missed_high_sim")
  }

  // ---------------------------------------------------------------------
  // d130: connected-components consistency (checks d45)
  // ---------------------------------------------------------------------

  /** Transitive-cluster consistency check over the d23/d45 pair graph:
    * a valid labeling has (a) every edge's endpoints in the same cluster,
    * (b) every cluster labeled by its minimum member id, and (c) every
    * node labeled exactly once. Violations of any law mean the union-find
    * (or the distributed label-propagation fallback) broke — both paths
    * must satisfy the same model.
    */
  def d130CheckClusterConsistency(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val pairs = d23Pairs(s, d) // shared with d129 (memo-backed)
      .select(col("id1"), col("id2"))
    val labels = Dedup.connectedComponents(pairs).persist()
    val edgeViolations = pairs
      .join(labels.select(col("id").as("id1"), col("cluster_id").as("c1")), "id1")
      .join(labels.select(col("id").as("id2"), col("cluster_id").as("c2")), "id2")
      .filter(col("c1") =!= col("c2"))
      .agg(count(lit(1)).as("edge_violations"))
    val repViolations = labels.groupBy(col("cluster_id"))
      .agg(min(col("id")).as("min_id"))
      .filter(col("cluster_id") =!= col("min_id"))
      .agg(count(lit(1)).as("rep_violations"))
    // node partition is checked in BOTH directions: a label for a node not
    // in the graph, AND a graph node with no label — without the second
    // direction an empty or node-dropping labeling passes every counter
    // vacuously (the joins above simply drop its edges).
    // r10 (guide §1.2/§5): ONE full-outer pass over per-id label counts vs
    // the graph node set, instead of a dup-count aggregation plus two
    // exceptAll legs that each re-shuffled the label ids. Per id with label
    // multiplicity n ≥ 1 and graph membership g ∈ {0,1}:
    //   duplicate-label count  #{n ≠ 1}          = [n ≠ 1]
    //   labels.exceptAll(graph).count  Σ max(n−g, 0) = n − g   (n ≥ 1 ≥ g)
    //   graph.exceptAll(labels).count  Σ max(g−n, 0) = [g ∧ n = 0]
    // which is exactly the summand below. Ids are non-null join keys on
    // both sides (exceptAll's null-safe equality never fires), so the sums
    // agree in general, not just on healthy labelings.
    val graphNodes =
      pairs.select(col("id1")).union(pairs.select(col("id2"))).distinct()
    val nodeViolations = labels.groupBy(col("id"))
      .agg(count(lit(1)).as("n"))
      .join(graphNodes.select(col("id1").as("id"), lit(1).as("g")),
        Seq("id"), "full_outer")
      .agg(coalesce(sum(
        when(col("n").isNull, 1L) // graph node with no label
          .otherwise( // dup-label flag + surplus label copies
            when(col("n") =!= 1, 1L).otherwise(0L) +
              col("n") - coalesce(col("g").cast("long"), lit(0L)))),
        lit(0L)).as("node_violations"))
    // r10 (guide §1.2 job floor): the three independent single-row
    // aggregates run under ONE action (was five sequential counts — five
    // scheduler round trips and five passes over the cached labels)
    val row = edgeViolations.crossJoin(repViolations)
      .crossJoin(nodeViolations).head()
    labels.unpersist()
    Seq((row.getLong(0), row.getLong(1), row.getLong(2)))
      .toDF("edge_violations", "rep_violations", "node_violations")
  }

  // ---------------------------------------------------------------------
  // d131: approx_percentile rank-error bounds (checks d56)
  // ---------------------------------------------------------------------

  /** Approximate-percentile rank-error check: with accuracy 1000 the GK
    * sketch guarantees rank error ≤ n/1000; a generous ±2 percentile-rank
    * envelope (exact percentile at q ± 0.02, which both engines compute
    * identically — the d40 convention) must contain each estimate. The
    * per-type row count is the DuckDB-verified substance; the booleans
    * assert the sketch side.
    */
  def d131CheckApproxPercentile(s: SparkSession, d: String): DataFrame = {
    def ok(q: Double): Column = {
      val lo = math.max(0.0, q - 0.02); val hi = math.min(1.0, q + 0.02)
      expr(s"approx_percentile(value, $q, 1000)")
        .between(expr(s"percentile(value, $lo)"), expr(s"percentile(value, $hi)"))
    }
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("__n"), ok(0.5).as("p50_ok"),
        ok(0.95).as("p95_ok"), ok(0.99).as("p99_ok"))
      .select(col("event_type"), expr("CAST(__n AS BIGINT)").as("n"),
        col("p50_ok"), col("p95_ok"), col("p99_ok"))
  }

  // ---------------------------------------------------------------------
  // d132: SemDeDup subset law (checks d90)
  // ---------------------------------------------------------------------

  /** SemDeDup two-sided check against the brute-force cosine pair set:
    *
    *  - `fabricated_pairs`: cluster-blocked pairs must be a SUBSET of the
    *    brute-force cosine ≥ threshold pairs — blocking may miss
    *    cross-cluster pairs (the documented recall trade) but never
    *    fabricate.
    *  - `missed_in_cluster`: within a cluster the blocking loses NOTHING —
    *    every brute-force pair whose endpoints share a cell (the same
    *    [[Similarity.semanticClusterAssignments]] the operator blocks on;
    *    seeded-deterministic) must be emitted. This is the completeness
    *    half a subset check alone cannot see: an operator that emitted an
    *    empty set would pass `fabricated_pairs == 0`.
    *
    * `n_vectors` is the exact corpus cardinality DuckDB re-affirms.
    */
  def d132CheckSemanticSubset(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val emb = Tables.embeddings(s, d)
    val pairs = Similarity.semanticDedupPairs(
        emb, "vec_id", "embedding", nClusters = 16, threshold = 0.3)
      .select(col("id1"), col("id2")).persist()
    // shared with d133 (memo-backed): the one corpus-quadratic reference
    val brute = bruteCosinePairs(s, d).select(col("id1"), col("id2"))
    val fabricated = pairs.exceptAll(brute)
      .agg(count(lit(1)).as("fabricated_pairs"))
    val cells = Similarity.semanticClusterAssignments(
      emb, "vec_id", "embedding", nClusters = 16)
    val sameCell = brute
      .join(cells.select(col("__id").as("id1"), col("__cell").as("c1")), "id1")
      .join(cells.select(col("__id").as("id2"), col("__cell").as("c2")), "id2")
      .filter(col("c1") === col("c2"))
      .select(col("id1"), col("id2"))
    val missedInCluster = sameCell.exceptAll(pairs)
      .agg(count(lit(1)).as("missed_in_cluster"))
    val nVectors = emb.agg(count(lit(1)).as("n_vectors"))
    // r10 (guide §1.2 job floor): one action instead of four (the separate
    // cache-priming count plus three sequential counters). The persisted
    // pairs frame feeds both counter subtrees; block-level locking keeps
    // the cache single-materialization under the fused action.
    val row = fabricated.crossJoin(missedInCluster).crossJoin(nVectors).head()
    pairs.unpersist()
    Seq((row.getLong(0), row.getLong(1), row.getLong(2)))
      .toDF("fabricated_pairs", "missed_in_cluster", "n_vectors")
  }

  // ---------------------------------------------------------------------
  // d133: embedding near-dup soundness (checks d27)
  // ---------------------------------------------------------------------

  /** Hyperplane-LSH near-dup soundness check (the d27 configuration):
    * every emitted pair must appear in the brute-force cosine ≥ threshold
    * pair set with the identical rounded cosine (catches id/vector join
    * mix-ups and rounding drift, the plumbing failure modes blocking can
    * hide), pairs must be canonically ordered (id1 < id2) and unique.
    */
  def d133CheckEmbedNeardup(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val emb = Tables.embeddings(s, d)
    val emitted = Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", lshBits = 6, threshold = 0.3).persist()
    // shared with d132 (memo-backed); the exactAll compare includes the
    // rounded cosine, so a drifted score still counts as fabricated
    val brute = bruteCosinePairs(s, d)
    val fabricated = emitted.exceptAll(brute)
      .agg(count(lit(1)).as("fabricated_pairs"))
    val misordered = emitted.filter(col("id1") >= col("id2"))
      .agg(count(lit(1)).as("misordered"))
    val duplicated = emitted.groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n")).filter(col("n") =!= 1)
      .agg(count(lit(1)).as("duplicated"))
    // r10 (guide §1.2 job floor): one action instead of four (the separate
    // cache-priming count plus three sequential counters); the two order
    // counters sum in the driver as before
    val row = fabricated.crossJoin(misordered).crossJoin(duplicated).head()
    emitted.unpersist()
    Seq((row.getLong(0), row.getLong(1) + row.getLong(2)))
      .toDF("fabricated_pairs", "order_violations")
  }

  // ---------------------------------------------------------------------
  // d135: multimodal decode reconciliation (checks d33/d34/d89)
  // ---------------------------------------------------------------------

  /** Multimodal decode-vs-metadata reconciliation: every synthetic media
    * payload (real PPM/WAV/AVI containers) must decode as EXACTLY the
    * container its metadata declares, with the decoded dimensions matching
    * the metadata struct field-for-field, a perceptual dHash computable for
    * every image, and the typed feature extractor returning the 8-dim
    * finite vector (never the byte-histogram fallback a silent decoder
    * regression would degrade to). The total row count is the exact
    * embeddings cardinality DuckDB re-affirms; the violation counters must
    * be zero. This puts the d33/d34/d89 plumbing — codec, metadata
    * propagation, batch shape — under the driver's gate even though the
    * payloads themselves are synthetic.
    */
  def d135CheckMultimodal(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    val media = Multimodal.syntheticMedia(s, Tables.embeddings(s, d), "vec_id")
    val counters = media.select(col("media_id"), col("media_type"), col("bytes"),
        col("meta.width"), col("meta.height"), col("meta.sample_rate"),
        col("meta.n_frames"))
      .rdd.mapPartitions { it =>
        var n = 0L; var typeViol = 0L; var dimViol = 0L; var featViol = 0L
        it.foreach { r =>
          n += 1
          val declared = r.getString(1)
          val bytes = r.getAs[Array[Byte]](2)
          val img = MediaCodec.decodePpm(bytes)
          val wav = MediaCodec.decodeWav(bytes)
          val avi = MediaCodec.decodeAvi(bytes)
          val decoded = Seq("image" -> img.isDefined, "audio" -> wav.isDefined,
            "video" -> avi.isDefined).filter(_._2).map(_._1)
          if (decoded != Seq(declared)) typeViol += 1
          else declared match {
            case "image" =>
              val i = img.get
              if (i.width != r.getInt(3) || i.height != r.getInt(4)) dimViol += 1
              else Multimodal.dHash64(i) // must not throw for any image
            case "audio" =>
              if (wav.get.sampleRate != r.getInt(5)) dimViol += 1
            case "video" =>
              val v = avi.get
              if (v.width != r.getInt(3) || v.height != r.getInt(4) ||
                v.frames.length != r.getInt(6)) dimViol += 1
          }
          val feats = Multimodal.decodeFeatures(bytes)
          if (feats.length != 8 || feats.exists(x => x.isNaN || x.isInfinite))
            featViol += 1
        }
        Iterator((n, typeViol, dimViol, featViol))
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
    Seq(counters)
      .toDF("n_media", "type_violations", "dim_violations", "feature_violations")
  }

  // ---------------------------------------------------------------------
  // d241: resize floor-sum law + reproducibility (checks d240)
  // ---------------------------------------------------------------------

  /** Resize verification with a DRIVER-VISIBLE oracle (the d135
    * convention): every image row must resize (generator dims are
    * ≥ 16 px, so one k=2 block always fits), land at the halved dims,
    * satisfy the exact floor-sum law, and reproduce BYTE-IDENTICALLY
    * across TWO INDEPENDENT SPARK JOBS — the second pass repartitions the
    * corpus (different task boundaries, different executor threads,
    * different in-task row order) and its order-independent digest of
    * every resized byte array must equal the first pass's. That is the
    * reproducibility contract d240's docstring claims, exercised for
    * real: a same-task double call would compare a pure function against
    * itself and could never fail. (Cross-PLATFORM determinism — the
    * integer-only box filter — is argued by construction in
    * Multimodal.resizePpm's scaladoc; one container can't execute two
    * platforms.) The oracle pins n_images to the id-mod-3 census DuckDB
    * computes from embeddings and every violation counter to zero.
    */
  def d241CheckResize(s: SparkSession, d: String): DataFrame = {
    val sp = s; import sp.implicits._
    // materialize the image frame ONCE: the property under test is that
    // two task layouts of the RESIZE agree — re-running input synthesis
    // (incl. the audio/video rows filtered out here) per pass would
    // double corpus-generation cost without strengthening the check
    val media = Multimodal.syntheticMedia(s, Tables.embeddings(s, d),
        "vec_id")
      .filter(col("media_type") === "image")
      .select(col("media_id"), col("bytes"))
      .localCheckpoint(true)
    // one pass = (n, law violations, dim violations, digest): the digest
    // folds an FNV-1a hash of each image's RESIZED bytes (keyed by
    // media_id so a swap of two outputs can't cancel) with +, which is
    // commutative — the digest depends only on the id→bytes mapping,
    // never on partitioning or row order, so two partitionings of a
    // deterministic resize MUST agree
    def pass(df: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) =
      df.rdd.mapPartitions { it =>
        var n = 0L; var lawViol = 0L; var dimViol = 0L; var digest = 0L
        it.foreach { r =>
          n += 1
          val id = r.getLong(0)
          MediaCodec.decodePpm(r.getAs[Array[Byte]](1)) match {
            case None => dimViol += 1
            case Some(img) =>
              Multimodal.resizePpm(img, 2) match {
                case Some(x) =>
                  if (x.width != img.width / 2 || x.height != img.height / 2)
                    dimViol += 1
                  val cw = x.width * 2; val ch = x.height * 2
                  var sumIn = 0L
                  var yy = 0
                  while (yy < ch) {
                    var i = yy * img.width * 3; val end = i + cw * 3
                    while (i < end) { sumIn += (img.rgb(i) & 0xff); i += 1 }
                    yy += 1
                  }
                  var sumOut = 0L
                  var j = 0
                  while (j < x.rgb.length) { sumOut += (x.rgb(j) & 0xff); j += 1 }
                  if (!(sumOut * 4 <= sumIn &&
                      sumIn < (sumOut + x.rgb.length) * 4)) lawViol += 1
                  var h = 0xcbf29ce484222325L ^ id
                  var b = 0
                  while (b < x.rgb.length) {
                    h ^= (x.rgb(b) & 0xffL); h *= 0x100000001b3L; b += 1
                  }
                  digest += h
                case None => dimViol += 1
              }
          }
        }
        Iterator((n, lawViol, dimViol, digest))
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
    val (n, lawViol, dimViol, digest1) = pass(media)
    // second independent job: prime-count hash repartition scrambles which
    // task resizes which image and in what order
    val (n2, _, _, digest2) = pass(media.repartition(7, col("media_id")))
    val repViol = (if (digest1 != digest2) 1L else 0L) +
      (if (n != n2) 1L else 0L)
    Seq((n, lawViol, dimViol, repViol)).toDF("n_images", "law_violations",
      "dim_violations", "repro_violations")
  }

  // ---------------------------------------------------------------------
  // d134: deterministic stratified sampling bounds (checks d55)
  // ---------------------------------------------------------------------

  /** Stratified-sampling distribution check: the xxhash64 gate is uniform,
    * so each stratum's realized sample size must sit within 4 binomial
    * standard deviations of fraction × population (floored at ±3 rows for
    * tiny strata) — seeded-deterministic, so stable per dataset. The
    * per-language population count is the DuckDB-verified substance.
    */
  def d134CheckStratifiedBounds(s: SparkSession, d: String): DataFrame = {
    val fracs = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1)
    val default = 0.05
    val docs = Tables.documents(s, d)
    val sampled = ScaleOps.deterministicStratifiedSample(
        docs, "lang", "doc_id", fracs, defaultFraction = default)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
    val fracCol = fracs.foldLeft(lit(default)) { case (acc, (l, f)) =>
      when(col("lang") === l, f).otherwise(acc)
    }
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_pop"))
      .join(sampled, Seq("lang"), "left")
      .na.fill(0L, Seq("n_sampled"))
      .withColumn("__f", fracCol)
      .withColumn("__tol", greatest(
        lit(4.0) * sqrt(col("__f") * (lit(1.0) - col("__f")) * col("n_pop")), lit(3.0)))
      .select(col("lang"), expr("CAST(n_pop AS BIGINT)").as("n_pop"),
        (abs(col("n_sampled") - col("__f") * col("n_pop")) <= col("__tol"))
          .as("frac_ok"))
  }
}
