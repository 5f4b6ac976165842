package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline._

/** The staged-artifact registry: build once, bill self time, release
  * by kind, free exactly.
  */
class StagedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def billed(chain: String): Long = ChainBill.snapshot.getOrElse(chain, 0L)

  test("ChainBill bills self time: a nested build is not billed to its caller too") {
    val (a, b) = (s"spec-outer-${System.nanoTime()}", s"spec-inner-${System.nanoTime()}")
    val t0 = System.nanoTime()
    ChainBill.time(a) {
      ChainBill.time(b)(Thread.sleep(20))
      Thread.sleep(20)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    assert(billed(a) >= 19 && billed(b) >= 19, s"A=${billed(a)} B=${billed(b)}")
    assert(billed(a) + billed(b) <= wallMs,
      s"A=${billed(a)} + B=${billed(b)} ms billed for $wallMs ms of wall")
  }

  test("a fresh-key nested chain build is billed no more than its own wall") {
    // BigramChain.scored builds the (unbuilt) model stage inside its own build
    val key = s"staged-bill-${System.nanoTime()}"
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val b0 = billed("BigramChain")
    val t0 = System.nanoTime()
    BigramChain.scored(spark, key, d)
    val wallMs = (System.nanoTime() - t0) / 1e6
    val bill = billed("BigramChain") - b0
    assert(bill > 0 && bill <= wallMs, s"billed $bill ms for $wallMs ms of wall")
    BigramChain.release(spark)
  }

  test("Bench's between-pass release set is exactly the registry's PerRun set") {
    val declared = Seq(TopKChain.stage, IvfChain.stage, OpqChain.stage,
      PackChain.stage, BpeChain.stage, DsirChain.stage, BigramChain.stage,
      KnnChain.stage, WalkChain.stage, DedupChain.stage, VideoChain.stage,
      AHashChain.stage, BucketStore.stage)
    def named(k: Staged.Kind) = declared.filter(_.kind == k).map(_.name).toSet
    assert(named(Staged.PerRun) == Set("DedupChain", "IvfChain", "BpeChain",
      "PackChain", "WalkChain", "AHashChain", "VideoChain", "BigramChain",
      "TopKChain"))
    assert(named(Staged.Trained) ==
      Set("KnnChain", "OpqChain", "DsirChain", "BucketStore"))
    // Bench's reset acts on kinds alone: a PerRun entry rebuilds after
    // it, a Trained entry is still served
    val perRun = new Staged.Chain("SpecPerRun", Staged.PerRun)
    val trained = new Staged.Chain("SpecTrained", Staged.Trained)
    val builds = new AtomicInteger(0)
    Seq(perRun, trained).foreach(_.value(spark, "k")(builds.incrementAndGet()))
    Bench.passReset(spark)
    assert(perRun.value(spark, "k")(builds.incrementAndGet()) == 3)
    assert(trained.value(spark, "k")(builds.incrementAndGet()) == 2)
    Seq(perRun, trained).foreach(_.release(spark))
  }

  test("releaseAll returns the persistent-RDD set to its starting size") {
    val sc = spark.sparkContext
    Chains.releaseAll(spark)
    spark.catalog.clearCache()
    val start = sc.getPersistentRDDs.size
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    PackChain.materialized(spark, dir, d)._2.count()
    BigramChain.scored(spark, dir, d).count()
    OpqChain.rotation(spark, dir, e)
    // the harness's per-query cache reset (query-scoped persists such
    // as the packing prefix sum's) must leave the staged frames alone
    spark.catalog.clearCache()
    assert(sc.getPersistentRDDs.size >= start + 3,
      "pack windows, bigram model and scored frame are checkpointed")
    Chains.releaseAll(spark)
    assert(sc.getPersistentRDDs.size == start)
  }

  test("two threads asking for one fresh key run its build once") {
    val chain = new Staged.Chain("SpecConcurrent", Staged.PerRun)
    val builds = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(_ => pool.submit(() => {
        go.await()
        chain.value(spark, "k") { Thread.sleep(200); builds.incrementAndGet() }
      }))
      go.countDown()
      assert(fs.map(_.get(30, TimeUnit.SECONDS)) == Seq(1, 1))
      assert(builds.get() == 1)
    } finally {
      pool.shutdownNow()
      chain.release(spark)
    }
  }

  test("a build that throws stages nothing: release frees nothing, the next call rebuilds") {
    val builds = new AtomicInteger(0)
    val frees = new AtomicInteger(0)
    val chain = new Staged.Chain("SpecFailing", Staged.PerRun)
    def get(fail: Boolean): Int =
      chain(spark, "k", (_: Int) => frees.incrementAndGet()) {
        val n = builds.incrementAndGet()
        if (fail) throw new IllegalStateException("build failed")
        n
      }
    intercept[IllegalStateException](get(fail = true))
    chain.release(spark)
    assert(builds.get() == 1 && frees.get() == 0)
    assert(get(fail = false) == 2)
    assert(get(fail = false) == 2, "the rebuilt value is staged")
    chain.release(spark)
    assert(frees.get() == 1)
  }
}
