package graft

import org.apache.spark.sql.functions._

/** In-JVM net for the model-based battery rows (d125-d134): every check
  * must hold on the real corpus (the DuckDB side only re-affirms exact
  * counts and TRUE literals — THESE assertions are where a violated
  * invariant first fails locally), and the violation-counter rows must be
  * NON-VACUOUS: a broken join that produces zero candidates would report
  * zero violations while checking nothing, so each counter's candidate
  * population is asserted non-empty.
  */
class ModelChecksSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("d125: HLL estimates within bounds for every event type") {
    val rows = ModelChecks.d125CheckApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("within_bounds")))
  }

  test("d126: Misra-Gries finds every 2n/(k+1) term within the error bound (non-vacuous)") {
    val rows = ModelChecks.d126CheckHeavyHitters(spark, sf).collect()
    assert(rows.length > 5, s"heavy-term population too small to check: ${rows.length}")
    assert(rows.forall(_.getAs[Boolean]("found")))
    assert(rows.forall(_.getAs[Boolean]("est_in_range")))
  }

  test("d127: ANN recall floors hold per query and in fleet mean") {
    val rows = ModelChecks.d127CheckAnnRecall(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.forall(r => r.getAs[Long]("n_exact") == 5L))
    for (c <- Seq("lsh_ok", "ivf_ok", "pq_ok", "mean_ok"))
      assert(rows.forall(_.getAs[Boolean](c)), s"$c violated")
  }

  test("d128: simhash block probing exactly matches brute-force Hamming pairs (non-vacuous)") {
    val row = ModelChecks.d128CheckSimhashComplete(spark, sf).head
    assert(row.getAs[Long]("missed_pairs") == 0L)
    assert(row.getAs[Long]("fabricated_pairs") == 0L)
    // vacuity guard: the battery corpus must actually contain hamming<=3 pairs
    assert(Queries.d24SimhashPairs(spark, sf).count() > 0)
  }

  test("d129: minhash estimates in bounds; all high-sim pairs surfaced (non-vacuous)") {
    val row = ModelChecks.d129CheckMinhashEst(spark, sf).head
    assert(row.getAs[Long]("est_violations") == 0L)
    assert(row.getAs[Long]("missed_high_sim") == 0L)
    // vacuity guards: emitted pairs exist, and the corpus contains
    // high-similarity pairs whose SIGNATURES differ (the collapse does not
    // swallow the entire J>=0.9 population — measured 24/22/221 such pairs
    // at sf0.001/0.01/0.1)
    assert(Queries.d23MinhashPairs(spark, sf).count() > 0)
    val toks = graft.functions.TextFunctions.tokens(lower(col("text")))
    val base = Tables.documents(spark, sf).select(col("doc_id"),
      graft.plans.NativeExpressions.wordNgrams(toks, 3).as("grams"),
      graft.plans.NativeExpressions.minHashShingleSignature(toks, 3, 128).as("sig"))
    val highSimDiffSig = base.as("a")
      .join(base.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
        size(array_union(col("a.grams"), col("b.grams"))) >= 0.9)
      .filter(col("a.sig") =!= col("b.sig"))
      .count()
    assert(highSimDiffSig > 0, "no high-sim differing-sig pairs — check vacuous")
  }

  test("d130: cluster labeling satisfies the union-find model (non-vacuous)") {
    val row = ModelChecks.d130CheckClusterConsistency(spark, sf).head
    assert(row.getAs[Long]("edge_violations") == 0L)
    assert(row.getAs[Long]("rep_violations") == 0L)
    assert(row.getAs[Long]("node_violations") == 0L)
    // vacuity guard: the pair graph is non-empty, so the graph-node →
    // label direction (which an empty labeling would violate) has teeth
    assert(Queries.d23MinhashPairs(spark, sf).count() > 0)
  }

  test("d131: approx percentiles inside the +/-2-rank envelope") {
    val rows = ModelChecks.d131CheckApproxPercentile(spark, sf).collect()
    assert(rows.nonEmpty)
    for (c <- Seq("p50_ok", "p95_ok", "p99_ok"))
      assert(rows.forall(_.getAs[Boolean](c)), s"$c violated")
  }

  test("d132: SemDeDup pairs subset of brute force AND within-cluster complete (non-vacuous)") {
    val row = ModelChecks.d132CheckSemanticSubset(spark, sf).head
    assert(row.getAs[Long]("fabricated_pairs") == 0L)
    assert(row.getAs[Long]("missed_in_cluster") == 0L)
    // vacuity guard: pairs exist, so an empty emission would trip
    // missed_in_cluster rather than passing both counters trivially
    assert(graft.operators.Similarity.semanticDedupPairs(
      Tables.embeddings(spark, sf), "vec_id", "embedding",
      nClusters = 16, threshold = 0.3).count() > 0)
  }

  test("d133: embedding near-dup pairs sound, canonical, unique (non-vacuous)") {
    val row = ModelChecks.d133CheckEmbedNeardup(spark, sf).head
    assert(row.getAs[Long]("fabricated_pairs") == 0L)
    assert(row.getAs[Long]("order_violations") == 0L)
    assert(Queries.d27EmbedNeardup(spark, sf).count() > 0)
  }

  test("d134: stratified sample sizes inside 4-sigma binomial bounds") {
    val rows = ModelChecks.d134CheckStratifiedBounds(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("frac_ok")))
  }

  test("d135: every media payload decodes as declared with matching dims (non-vacuous)") {
    val row = ModelChecks.d135CheckMultimodal(spark, sf).head
    assert(row.getAs[Long]("n_media") > 0L)
    assert(row.getAs[Long]("type_violations") == 0L)
    assert(row.getAs[Long]("dim_violations") == 0L)
    assert(row.getAs[Long]("feature_violations") == 0L)
    // discrimination: a corrupted payload MUST register as a violation —
    // guard against a reconciler that never looks at the bytes
    val s = spark
    import org.apache.spark.sql.functions._
    val media = graft.operators.Multimodal.syntheticMedia(
      s, Tables.embeddings(s, sf), "vec_id")
    val one = media.filter(col("media_type") === "image").head
    val bytes = one.getAs[Array[Byte]]("bytes")
    assert(graft.operators.MediaCodec.decodePpm(bytes).isDefined)
    assert(graft.operators.MediaCodec.decodePpm(bytes.drop(2)).isEmpty,
      "truncated payload still decodes — the check could never fire")
  }

  test("shared-derivation scope changes nothing: d130 after d129 == fresh d130") {
    // the scope is a materialization cache, never a semantic shortcut —
    // d130 reading the pair set d129 left in the scope must produce the
    // identical violation counters as d130 building it in a fresh scope
    ModelChecks.d129CheckMinhashEst(spark, sf).collect()
    assert(RunScope.peek(spark, sf, "d23pairs").isDefined,
      "d129 left no shared pair set — the comparison would be vacuous")
    val afterD129 = ModelChecks.d130CheckClusterConsistency(spark, sf)
      .collect().map(_.toSeq).toSeq
    ModelChecks.clearSharedDerivations()
    val fresh = ModelChecks.d130CheckClusterConsistency(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(afterD129 == fresh, s"$afterD129 vs $fresh")
  }

  test("clearSharedDerivations drains and a fresh run rebuilds identically") {
    val before = ModelChecks.d130CheckClusterConsistency(spark, sf)
      .collect().map(_.toSeq).toSeq
    // drain releases the memo's localCheckpoint blocks; a later check must
    // REBUILD (never read a freed block) and land on the same counters
    ModelChecks.clearSharedDerivations()
    ModelChecks.clearSharedDerivations() // idempotent
    val after = ModelChecks.d130CheckClusterConsistency(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(before == after, s"$before vs $after")
  }

  test("discrimination: an omitted pair or fabricated pair flips the counters") {
    // the exceptAll machinery must actually catch one-sided differences —
    // guard against a refactor that silently compares a set to itself
    val s = spark
    import s.implicits._
    val brute = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id1", "id2")
    val emittedMissingOne = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    val emittedExtra = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("id1", "id2")
    assert(brute.exceptAll(emittedMissingOne).count() == 1L)
    assert(emittedExtra.exceptAll(brute).count() == 1L)
  }
}
