package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{KnnChain, Similarity, WalkChain}

/** Round-21 optimization pin: the four declared walk queries now rank
  * and post-filter from ONE session-staged serving frontier
  * ([[WalkChain]]) instead of re-running the hops loop per consumer.
  * The optimization must be output-invisible: graphSearch IS
  * rankWalkOut ∘ servingFrontier, so the staged spelling and the
  * direct spelling must produce byte-identical rows.
  */
class WalkChainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("query_id", "rank").collect().map(_.toString).toSeq

  test("staged frontier serves the exact direct graphSearch output") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val direct = Similarity.graphSearch(e, KnnChain.graph(spark, dir, e, k = 16))
    val staged = Similarity.graphSearchFromFrontier(
      WalkChain.frontier(spark, dir, e))
    assert(rows(staged) == rows(direct))
  }

  test("staged frontier serves the exact direct filtered-walk output") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val allowed = e.where(pmod(col("label"), lit(2)) === 1)
    val direct = Similarity.graphSearchFiltered(
      e, KnnChain.graph(spark, dir, e, k = 16), allowed)
    val staged = Similarity.graphSearchFilteredFromFrontier(
      WalkChain.frontier(spark, dir, e), allowed)
    assert(rows(staged) == rows(direct))
  }

  test("frontier is memoized per (session, dir) and release drops it") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = WalkChain.frontier(spark, dir, e)
    val b = WalkChain.frontier(spark, dir, e)
    assert(a eq b, "second consumer must be served the staged frame")
    WalkChain.release(spark)
    val c = WalkChain.frontier(spark, dir, e)
    assert(!(a eq c), "release must forget the staged frame")
    WalkChain.release(spark)
  }

  test("the walk rejects hops = 0 instead of returning an unmaterialized frontier") {
    // only the last hop's eager cut materializes the frontier that
    // WalkChain stages and bills; with no hop there is no last cut
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val g = KnnChain.graph(spark, dir, e, k = 16)
    val err = intercept[IllegalArgumentException](
      Similarity.servingFrontier(e, g, hops = 0))
    assert(err.getMessage.contains("hops >= 1"))
  }
}
