package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Total stop-the-world GC milliseconds accumulated by this JVM. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Cumulative hypervisor steal time in ms (USER_HZ=100 jiffies on
    * this kernel), 0 where /proc/stat is unavailable. Steal is the
    * decisive outlier witness on a shared host: a query whose wall
    * time inflates with flat gc_ms and rising steal_ms was starved by
    * the hypervisor, not slowed by a plan change.
    */
  private def stealMillis(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpu.trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal ...
      if (f.length > 8) f(8).toLong * 10 else 0L
    } catch { case _: Exception => 0L }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** One query measured once: wall seconds, success, and the gc /
    * steal / executor-task-time deltas that attribute an outlier.
    */
  private final case class Meas(
      wall: Double, ok: Boolean, gc: Long, steal: Long, task: Long,
      chain: Long)

  private def jnum(m: Seq[(String, Double)]) =
    m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def jlong(m: Seq[(String, Long)]) =
    m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  /** The compact stdout record: total + the slowest 30 queries at 3dp
    * + a pointer to the durable full artifact. The driver parses only
    * the last ~2,000 captured characters of stdout (BENCH_r08's
    * lesson: the full ~20 KB line reached stdout intact but its
    * `{"metric"` opener fell outside the tail, so `parsed` stayed
    * null), so this line MUST stay under that window as the query
    * inventory grows — BenchLineSpec pins the budget against the real
    * declared names with worst-case numeric widths.
    */
  private[graft] def compactLine(
      chosen: Seq[(String, Double)],
      total: Double,
      rawTotal: Double,
      sf: String,
      nFailed: Int,
      stealTotal: Long,
      out: String,
      cpus: Int): String = {
    val slow = chosen.sortBy { case (_, w) => -math.abs(w) }.take(30)
    val qsCompact = jnum(slow.map { case (n, w) => n -> r3(w) })
    // bench_cpus is the thread count the engine ACTUALLY ran with
    // (SPARK_GRAFT_CPUS; the driver wrapper's own `cpus` field is the
    // machine core count, which never varies) — recorded so cross-round
    // ratios compare like with like (round-11 verdict nit).
    s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""queries":$qsCompact,"sf":"$sf","n_queries":${chosen.size},""" +
      s""""n_failed":$nFailed,"raw_total":${r3(rawTotal)},""" +
      s""""steal_ms_total":$stealTotal,"bench_cpus":$cpus,"full":"$out"}"""
  }

  /** Between-pass reset: every pass pays the same chain builds, so
    * min-of-N compares equal work, not first-build vs marginal. Frees
    * the [[graft.pipeline.Staged.PerRun]] entries; trained artifacts
    * stay staged (see [[graft.pipeline.Staged]]).
    */
  private[graft] def passReset(spark: SparkSession): Unit = {
    graft.pipeline.Staged.release(spark, graft.pipeline.Staged.PerRun)
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Round-6 lesson: on this infrastructure a SINGLE-shot bench can
    // read 2x off the same commit's healthy speed (BASELINE.md's
    // controlled starvation table: identical plans swinging 10-30x,
    // executor task-time itself inflating, steal spiking). One noisy
    // sample cannot drive perf decisions, so the bench runs every
    // query in PASSES full passes (default 2, env-tunable) and
    // reports the per-query MIN as the noise-adjusted number — the
    // standard min-of-N practice — alongside the raw pass-1 walls.
    // Between passes the per-run staged chains are released and the
    // cache cleared ([[passReset]]), so every pass measures the SAME
    // work (chain-build cost included), not a warm-state rerun.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    val spark = graft.sources.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = loadAvg()
    // Executor-side task-time sum (exact in local mode: one JVM).
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          taskTime.addAndGet(te.taskMetrics.executorRunTime)
    })
    // Warm up the session (parquet footer reads, codegen compiler, shuffle
    // machinery) with a FIXED pipeline that is not in the measured set, so
    // no declared query gets a double-run advantage that shifts with Map
    // ordering.
    val w0 = System.nanoTime()
    graft.indicators.Indicators(graft.sources.Bars.fromEvents(spark, sfDir))
      .sma(Seq("close"), 5).toDF.count()
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // A failed query is reported as the NEGATED elapsed seconds (and on
    // stderr) — a silent catch would make failures look like fast passes.
    // The per-query side channels (gc_ms / steal_ms / task_ms) make
    // outliers attributable: wall-time inflation with flat gc and task
    // sums but rising steal is machine contention; inflation with a
    // matching task-sum rise on an unchanged plan is hypervisor
    // starvation of the task threads; only inflation with neither is
    // the engine's own regression.
    def runPass(): Seq[(String, Meas)] =
      SparkEntry.queries.toSeq.map { case (name, fn) =>
        val gc0 = gcMillis(); val st0 = stealMillis(); val tt0 = taskTime.get()
        val cb0 = graft.pipeline.ChainBill.totalMs
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Query-scoped cache lifecycle: the LSH dedup queries persist
        // their signature frames (load-bearing under broadcast joins,
        // where ReuseExchange can't dedup the two sides); the harness
        // owns the release so repeated runs don't accumulate blocks.
        spark.catalog.clearCache()
        name -> Meas(dt, ok, gcMillis() - gc0, stealMillis() - st0,
          taskTime.get() - tt0, graft.pipeline.ChainBill.totalMs - cb0)
      }
    graft.pipeline.ChainBill.reset()
    val allPasses = (1 to passes).map { p =>
      if (p > 1) passReset(spark)
      runPass()
    }
    val names = allPasses.head.map(_._1)
    val byName: Map[String, Seq[Meas]] =
      names.map(n => n -> allPasses.map(_.toMap.apply(n))).toMap
    // Noise-adjusted pick: min wall among the passes (a query failing
    // in ANY pass reports as failed — flakiness must not look fast).
    val chosen: Seq[(String, Meas)] = names.map { n =>
      val ms = byName(n)
      val ok = ms.forall(_.ok)
      val best = ms.minBy(_.wall)
      n -> best.copy(ok = ok)
    }
    // Auto-adjudication, three storm witnesses (machine-readable list
    // instead of prose):
    //  1. wall disagreement: passes differ by >1.5x AND >0.5s — the
    //     slower pass was noise-afflicted; min-of-N already recovers.
    //  2. task-sum disagreement: executor task-time for an UNCHANGED
    //     plan is pass-invariant on a healthy host; passes differing
    //     by >1.5x (and >0.5s wall) mean the task threads themselves
    //     were starved in one pass — the round-9 dedup_paragraphs
    //     signature (86s task on a 22.9s wall with ~0 sampled steal),
    //     which the steal counter alone cannot see.
    //  3. parallelism collapse in the CHOSEN pass: task_ms ≈ wall_ms
    //     (0.5–2x) on a multi-second query means the 32-thread pool
    //     ran effectively serialized — the round-9 corpus_filter p2
    //     signature (wall 14.1s, task 14.8s). Healthy parallel scans
    //     sit well above 2x; driver-dominated light queries well
    //     below 0.5x; neither trips the band.
    val noisy = names.filter { n =>
      val ms = byName(n)
      val ws = ms.map(_.wall)
      val wallDisagree =
        ws.max / math.max(ws.min, 1e-9) > 1.5 && ws.max - ws.min > 0.5
      val ts = ms.map(_.task.toDouble)
      val taskDisagree = ms.size > 1 &&
        ts.max / math.max(ts.min, 1.0) > 1.5 && ws.max > 0.5
      val best = ms.minBy(_.wall)
      val par = best.task / math.max(best.wall * 1000.0, 1.0)
      val collapsed = best.wall > 2.0 && par >= 0.5 && par <= 2.0
      wallDisagree || taskDisagree || collapsed
    }
    val qs = jnum(chosen.map { case (n, m) => n -> (if (m.ok) m.wall else -m.wall) })
    val total = chosen.map(_._2.wall).sum
    val rawTotal = allPasses.head.map(_._2.wall).sum
    val passWalls = allPasses.zipWithIndex.map { case (p, i) =>
      s"\"wall_p${i + 1}\":" + jnum(p.map { case (n, m) => n -> m.wall })
    }.mkString(",")
    // Captured ONCE so the durable meta and the compact stdout line
    // cannot disagree (they re-sampled independently before).
    val stealTotal = stealMillis()
    val gcTotal = gcMillis()
    val meta = s"""{"warmup_sec":$warmupSec,"passes":$passes,""" +
      s""""bench_cpus":$cpus,""" +
      s""""raw_total":$rawTotal,"adjusted_total":$total,""" +
      s""""noisy_queries":${noisy.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""load_avg_start":$loadStart,"load_avg_end":${loadAvg()},""" +
      s""""gc_ms_total":$gcTotal,"steal_ms_total":$stealTotal,""" +
      s""""gc_ms":${jlong(chosen.map { case (n, m) => n -> m.gc })},""" +
      s""""steal_ms":${jlong(chosen.map { case (n, m) => n -> m.steal })},""" +
      s""""task_ms":${jlong(chosen.map { case (n, m) => n -> m.task })},""" +
      // chain-build attribution (r17 verdict #4): pass-1 deltas of the
      // ChainBill ledger — the pass whose raw walls carry every one-time
      // session-staged build, so a headline query's wall decomposes into
      // chain_build_ms + marginal right in the committed record. The
      // per-chain totals let the build bill be read chain-by-chain.
      s""""chain_build_ms":${jlong(allPasses.head.collect {
        case (n, m) if m.chain > 0 => n -> m.chain })},""" +
      s""""chain_bill_totals":${jlong(
        graft.pipeline.ChainBill.snapshot.toSeq.sortBy(_._1))},""" +
      s""""par":${jnum(chosen.map { case (n, m) =>
        n -> r3(m.task / math.max(m.wall * 1000.0, 1.0)) })},""" +
      passWalls + "}"
    // "value" is the noise-adjusted (min-of-passes) total — the raw
    // pass-1 total stays in meta.raw_total so both are in the record.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","meta":$meta}"""
    // The full line (~20KB with per-query gc/steal/task side channels)
    // goes to the durable file; stdout gets a COMPACT line that fits
    // the driver's captured-tail window. BENCH_r08 proved the window
    // is 2000 chars: the full line reached stdout raw (the round-8
    // StdoutOutput fix worked) but its head — including the
    // `{"metric"` opener — fell outside the tail, so "parsed" stayed
    // null. 129 queries at full precision can never fit; the compact
    // line carries the total, the slowest 30 queries at 3dp, and a
    // pointer to the full artifact.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    val nFailed = chosen.count(!_._2.ok)
    // Teardown LAST and silenced: Chains.releaseAll unpersists the
    // locally-checkpointed chain RDDs, and each one emits a
    // `MapPartitionsRDD ... locally checkpointed` WARN. Two rounds of
    // driver artifacts (BENCH_r17/r18) came back `parsed: null`
    // because that spam scrolled the metric line out of the driver's
    // ~2,000-char captured tail. Measurement is over at this point, so
    // drop to ERROR, tear down, and only THEN print the compact line —
    // it is the final stdout write of the process.
    spark.sparkContext.setLogLevel("ERROR")
    // teardown must never take the metric line with it: an unpersist
    // hiccup here would recreate the exact parsed-null failure this
    // ordering exists to fix
    try graft.pipeline.Chains.releaseAll(spark)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] teardown failed (ignored): ${e.getMessage}")
    }
    println(compactLine(
      chosen.map { case (n, m) => n -> (if (m.ok) m.wall else -m.wall) },
      total, rawTotal, sfDir, nFailed, stealTotal, out, cpus.toInt))
    spark.stop()
  }
}
