package graft

import org.apache.spark.sql.DataFrame

/** [[RunScope]] is the one mechanism that shares harness inputs between
  * battery rows; these specs pin its lifecycle (build once, release on
  * drain, no entry from a failed build) and that the drain releases every
  * kind of entry the battery creates: staged streaming inputs, d97's
  * bucketed tables and the check rows' local checkpoints.
  */
class RunScopeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("an entry is built once and released once per drain; a failed build leaves none") {
    val d = "runscope-spec"
    var builds = 0
    var released = List.empty[Int]
    def counter(): Int =
      RunScope.getOrBuild(spark, d, "counter") { builds += 1; builds } {
        v => released ::= v
      }
    assert(counter() == 1 && counter() == 1)
    RunScope.clear()
    assert(released == List(1))
    assert(RunScope.peek(spark, d, "counter").isEmpty)
    assert(counter() == 2, "a drained entry must rebuild on next access")

    intercept[IllegalStateException](
      RunScope.getOrBuild[Int](spark, d, "boom")(
        throw new IllegalStateException("build failed"))(_ => ()))
    assert(RunScope.peek(spark, d, "boom").isEmpty)

    // a release that throws (its session stopped) must not stop the drain
    RunScope.getOrBuild(spark, d, "badRelease")(0)(
      _ => throw new IllegalStateException("session stopped"))
    RunScope.clear()
    assert(released == List(2, 1))
    assert(RunScope.peek(spark, d, "badRelease").isEmpty)
    RunScope.clear() // idempotent on an empty scope
  }

  test("drain deletes a staged streaming input; a re-run restages and matches") {
    RunScope.clear()
    val first = rows(graft.streaming.StreamingBattery.d124StreamStateful(spark, sf))
    assert(first.nonEmpty, "d124 produced no rows — vacuous")
    val staged = RunScope.peek(spark, sf, "staged-stateful") match {
      case Some(in: java.nio.file.Path) => in.getParent
      case other => fail(s"d124 left no staged input in the scope: $other")
    }
    assert(java.nio.file.Files.isDirectory(staged))
    RunScope.clear()
    assert(!java.nio.file.Files.exists(staged),
      s"drain left the staged root $staged on disk")
    val again = rows(graft.streaming.StreamingBattery.d124StreamStateful(spark, sf))
    assert(RunScope.peek(spark, sf, "staged-stateful").isDefined,
      "the re-run did not restage")
    assert(first == again)
  }

  test("d97 writes its bucketed tables again after a drain and matches") {
    RunScope.clear()
    val first = rows(Queries.d97BucketedJoin(spark, sf))
    assert(first.nonEmpty)
    assert(RunScope.peek(spark, sf, "d97bucketed").isDefined)
    RunScope.clear()
    // drop the catalog entries: the re-run can only find its tables if it
    // really writes them again
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_bo_") || n.startsWith("graft_bl_"))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    assert(first == rows(Queries.d97BucketedJoin(spark, sf)))
  }

  test("d45 is the same whether or not d23 and d129 ran first in the session") {
    RunScope.clear()
    val alone = rows(Queries.d45DedupClusters(spark, sf))
    assert(alone.nonEmpty)
    Queries.d23MinhashPairs(spark, sf).collect()
    ModelChecks.d129CheckMinhashEst(spark, sf).collect()
    assert(rows(Queries.d45DedupClusters(spark, sf)) == alone)
    RunScope.clear()
  }
}
