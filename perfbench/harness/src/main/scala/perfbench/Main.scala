package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.pipeline.ChainBill

/** Entry point of the benchmark JVM.
  *
  *   reference --workload W --data DIR --out DIR
  *     runs each query of W once, writes its result as parquet for the
  *     DuckDB oracle and its (rows, schema, hash) to engine.tsv.
  *   measure --workload W --data DIR --ref FILE --seconds S --trace 0|1 --spans FILE
  *     sets up, runs round(S / 15) passes of W, checks every result
  *     against the reference, writes the spans and prints one
  *     `PERFBENCH {...}` line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.head match {
      case "reference" => reference(Workloads(opts("workload")), opts("data"), opts("out"))
      case "measure" =>
        val m = Measure(Workloads(opts("workload")), opts("data"),
          Reference.load(opts("ref")), opts("seconds").toDouble, opts("trace") == "1")
        val out = m.run(session())
        Files.writeString(Paths.get(opts("spans")), m.tracer.toJson)
        println("PERFBENCH " + out)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def session(): SparkSession = {
    val s = graft.sources.Sessions.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The fixed warm-up query: not one of any workload's queries. */
  def warmUp(s: SparkSession, dir: String): Unit =
    Sink.digest(graft.indicators.Indicators(graft.sources.Bars.fromEvents(s, dir))
      .sma(Seq("close"), 5).toDF)

  def reference(w: Workload, dir: String, out: String): Unit = {
    val spark = session()
    Files.createDirectories(Paths.get(out))
    val lines = w.queries.map { name =>
      try {
        val df = w.lookup(name)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        val d = Sink.digest(df)
        Seq(name, "ok", d.rows.toString, d.schema, d.hash).mkString("\t")
      } catch {
        case e: Throwable => Seq(name, "error", Json.esc(String.valueOf(e.getMessage)).take(300)).mkString("\t")
      } finally spark.catalog.clearCache()
    }
    Files.write(Paths.get(s"$out/engine.tsv"), lines.asJava)
    val absDir = Paths.get(dir).toAbsolutePath.toString
    val sql = w.queries.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).map {
      case (n, q) => s"${Json.str(n)}: ${Json.str(q.replace("{SFDIR}", absDir))}"
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), sql.mkString("{", ",\n", "}"))
    graft.pipeline.Chains.releaseAll(spark)
    spark.stop()
  }
}

/** Validated (rows, schema, hash) per query, one `name\trows\tschema\thash`
  * line each. A query without a line has no validated reference and
  * counts as failed.
  */
object Reference {
  def load(path: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      f(0) -> Digest(f(1).toLong, f(2), f(3))
    }.toMap
}

/** Plan shape of one executed sink plan. */
final case class PlanStats(nodes: Int, exchanges: Int, aggregates: Int, broadcasts: Int)

object PlanStats extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanStats = {
    val all = collectWithSubqueries(plan) {
      case p if !p.isInstanceOf[AdaptiveSparkPlanExec] && !p.isInstanceOf[QueryStageExec] => p
    }
    PlanStats(all.size,
      all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BaseAggregateExec]),
      all.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}

/** One query run: phase times (s), digest or failure, and in traced
  * passes the phase span ids and the plan shape.
  */
final case class QueryRun(
    name: String, pass: Int, buildS: Double, planS: Double, execS: Double,
    failure: Option[String], buildSpan: Long, plan: Option[PlanStats]) {
  def wallS: Double = buildS + planS + execS
}

/** One measured run: setup, then a fixed number of passes over the
  * workload's queries, every result checked against the reference.
  *
  * The pass count is `seconds / Measure.PassS` rounded (at least 1): a
  * fixed amount of work for a given --seconds, so a faster engine finishes
  * the same batches sooner instead of running more of them. With `trace` on,
  * the benchmark's listener, job groups and plan inspection record the
  * per-layer metrics and the span tree.
  */
final case class Measure(
    w: Workload, dir: String, ref: Map[String, Digest], seconds: Double, trace: Boolean) {

  val tracer = new Tracer(java.util.UUID.randomUUID().toString)
  /** The benchmark's listener; registered for the timed part of a traced run. */
  val meter = new Meter
  private val runSpan = tracer.newId()
  private val runs = mutable.ArrayBuffer.empty[QueryRun]
  val passes: Int = math.max(1, math.round(seconds / Measure.PassS).toInt)

  private def now: Double = System.nanoTime() / 1e9

  private def runQuery(spark: SparkSession, name: String, pass: Int, passSpan: Long): QueryRun = {
    val sc = spark.sparkContext
    tracer.span(passSpan, s"query:$name") { qSpan =>
      val (buildId, planId, execId) = (tracer.newId(), tracer.newId(), tracer.newId())
      var (tb, tp, te) = (0.0, 0.0, 0.0)
      var plan: Option[PlanStats] = None
      val failure = try {
        val t0 = now
        sc.setJobGroup(tracer.group(buildId), name, interruptOnCancel = false)
        val df = tracer.record(buildId, qSpan, "build")(w.lookup(name)(spark, dir))
        val t1 = now
        sc.setJobGroup(tracer.group(planId), name, interruptOnCancel = false)
        val sink = Sink.of(df)
        tracer.record(planId, qSpan, "plan")(sink.queryExecution.executedPlan)
        val t2 = now
        sc.setJobGroup(tracer.group(execId), name, interruptOnCancel = false)
        val d = tracer.record(execId, qSpan, "exec")(Sink.digest(df, sink))
        val t3 = now
        tb = t1 - t0; tp = t2 - t1; te = t3 - t2
        if (trace) plan = Some(PlanStats.of(sink.queryExecution.executedPlan))
        ref.get(name) match {
          case None => Some("no validated reference")
          case Some(r) if r != d => Some(s"digest $d differs from reference $r")
          case _ => None
        }
      } catch {
        case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
      failure.foreach(f => System.err.println(s"[perfbench] FAILED $name (pass $pass): ${f.take(500)}"))
      System.err.println(f"[perfbench] pass $pass $name%-40s build $tb%.3f plan $tp%.3f exec $te%.3f")
      QueryRun(name, pass, tb, tp, te, failure, buildId, plan)
    }
  }

  private def storage(spark: SparkSession): (Int, Long) =
    (spark.sparkContext.getPersistentRDDs.size, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  private def billDelta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }.filter(_._2 != 0)

  /** Runs setup and the timed passes; returns the result JSON. */
  def run(spark: SparkSession): String = {
    val runStart = Tracer.nowUs
    val sc = spark.sparkContext
    val setupBill = tracer.span(runSpan, "setup") { setupSpan =>
      tracer.span(setupSpan, "warm-up")(_ => Main.warmUp(spark, dir))
      val b0 = ChainBill.snapshot
      w.setup(spark, dir, (name, f) => tracer.span(setupSpan, s"chain:$name")(_ => f()))
      billDelta(b0, ChainBill.snapshot)
    }
    val setupS = System.currentTimeMillis() / 1e3 - Jvm.startMs / 1e3

    if (trace) {
      // events of set-up jobs still queued on the bus would reach the meter
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.addSparkListener(meter)
    }
    val bill0 = ChainBill.snapshot
    val (rdds0, mem0) = storage(spark)
    val (c0, g0, j0, s0) = (Jvm.cpuNs, Jvm.gcMs, Jvm.jitMs, Jvm.stealMs)
    val (cg0, cc0) = (Codegen.compileNs, Codegen.classes)
    val ms0 = System.currentTimeMillis()
    val t0 = now
    Jvm.watch(true)
    for (pass <- 1 to passes) tracer.span(runSpan, s"pass:$pass") { passSpan =>
      w.queries.foreach(q => runs += runQuery(spark, q, pass, passSpan))
      w.release(spark)
      spark.catalog.clearCache()
    }
    Jvm.watch(false)
    val wallS = now - t0
    val cpuS = (Jvm.cpuNs - c0) / 1e9
    val ms1 = System.currentTimeMillis()
    if (trace) {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(meter)
    }
    val jvm = Map(
      "jvm.gc_s" -> (Jvm.gcMs - g0) / 1e3,
      "jvm.jit_s" -> (Jvm.jitMs - j0) / 1e3,
      "host.steal_s" -> (Jvm.stealMs - s0) / 1e3,
      "codegen.compile_s" -> (Codegen.compileNs - cg0) / 1e9,
      "codegen.classes" -> (Codegen.classes - cc0).toDouble,
      "sched.driver_only_s" -> Tracer.uncovered(meter.taskSpans.asScala, ms0, ms1) / 1e3)
    val (rdds1, mem1) = storage(spark)
    val timedBill = billDelta(bill0, ChainBill.snapshot)
    tracer.addJobs(meter.jobs.asScala, runSpan)
    tracer.add(Span(runSpan, 0, s"run:${w.name}", runStart, Tracer.nowUs))

    val attempted = runs.size
    val failed = runs.count(_.failure.isDefined)
    val metrics =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wallS, "s"),
        ("cpu_s", cpuS, "s"))
      else layers(jvm, setupBill, timedBill, wallS, cpuS, rdds1 - rdds0, (mem1 - mem0) / 1048576.0)
    val failures = runs.flatMap(r => r.failure.map(f => s"${r.name}: $f")).distinct.take(20)
    s"""{"workload":${Json.str(w.name)},"attempted":$attempted,"failed":$failed,"passes":$passes,""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":{${metrics.map { case (k, v, u) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")}}}"""
  }

  /** Per-layer metrics of a traced run: per pass, except the setup chain
    * builds, the storage deltas and the query-time quantiles.
    */
  private def layers(
      jvm: Map[String, Double], setupBill: Map[String, Long],
      timedBill: Map[String, Long], wallS: Double, cpuS: Double,
      rddsEnd: Int, memEndMb: Double): Seq[(String, Double, String)] = {
    val n = passes.toDouble
    def perPass(f: QueryRun => Double): Double = runs.map(f).sum / n
    def total(f: Counters => java.util.concurrent.atomic.AtomicLong): Double = f(meter.total).get / n
    val buildJobs = runs.map(r =>
      meter.groups.get(tracer.group(r.buildSpan)).map(_.jobs.get).getOrElse(0L)).sum / n
    val samples = runs.map(_.wallS).toSeq
    val plans = runs.flatMap(_.plan)
    val execCpu = total(_.cpuNs) / 1e9
    val execRun = total(_.runMs) / 1e3
    def family(p: String => Boolean): Double = perPass(r => if (p(r.name)) r.wallS else 0.0)
    val chains = Seq("DedupChain", "BigramChain", "PackChain", "BpeChain",
      "KnnChain", "IvfChain", "OpqChain", "TopKChain", "WalkChain")
    Seq(
      ("trace.wall_s", wallS, "s"),
      ("queries.build_s", perPass(_.buildS), "s"),
      ("queries.build_jobs", buildJobs, "count"),
      ("queries.p50_s", quantile(samples, 0.5), "s"),
      ("queries.p90_s", quantile(samples, 0.9), "s"),
      ("queries.max_s", samples.maxOption.getOrElse(0.0), "s"),
      ("queries.samples", samples.size.toDouble, "count"),
      ("planner.plan_s", perPass(_.planS), "s"),
      ("planner.nodes", plans.map(_.nodes).sum / n, "count"),
      ("planner.exchanges", plans.map(_.exchanges).sum / n, "count"),
      ("planner.aggregates", plans.map(_.aggregates).sum / n, "count"),
      ("planner.broadcasts", plans.map(_.broadcasts).sum / n, "count"),
      ("codegen.compile_s", jvm("codegen.compile_s") / n, "s"),
      ("codegen.classes", jvm("codegen.classes") / n, "count"),
      ("sched.jobs", total(_.jobs), "count"),
      ("sched.stages", total(_.stages), "count"),
      ("sched.tasks", total(_.tasks), "count"),
      ("sched.tasks_failed", total(_.tasksFailed), "count"),
      ("sched.unattributed_jobs", meter.groups.get(Meter.NoGroup).map(_.jobs.get).getOrElse(0L) / n, "count"),
      ("sched.driver_only_s", jvm("sched.driver_only_s") / n, "s"),
      ("exec.cpu_s", execCpu, "s"),
      ("exec.run_s", execRun, "s"),
      ("exec.cpu_frac", if (execRun > 0) execCpu / execRun else 0.0, "ratio"),
      ("exec.gc_s", total(_.gcMs) / 1e3, "s"),
      ("exec.cpu_share", execCpu / (cpuS / n), "ratio"),
      ("proc.cpu_s", cpuS / n, "s"),
      ("shuffle.write_mb", total(_.shuffleWrite) / 1048576.0, "MB"),
      ("shuffle.read_mb", total(_.shuffleRead) / 1048576.0, "MB"),
      ("shuffle.fetch_wait_s", total(_.fetchWaitMs) / 1e3, "s"),
      ("mem.spill_mb", total(_.spill) / 1048576.0, "MB"),
      ("mem.peak_exec_mb", meter.total.peakExec.get / 1048576.0, "MB"),
      ("mem.heap_live_peak_mb", Jvm.heapLivePeak / 1048576.0, "MB"),
      ("storage.rdds_end", rddsEnd.toDouble, "count"),
      ("storage.mem_mb_end", memEndMb, "MB"),
      ("sources.input_mb", total(_.inputBytes) / 1048576.0, "MB"),
      ("sources.input_rows", total(_.inputRows), "count"),
      ("family.indicators_s", family(q => graft.Queries.queries.contains(q) && !q.endsWith("_distributed")), "s"),
      ("family.scale_s", family(_.endsWith("_distributed")), "s"),
      ("family.timejoins_s", family(q => q.startsWith("asof_") || q == "range_join"), "s"),
      ("jvm.gc_s", jvm("jvm.gc_s") / n, "s"),
      ("jvm.jit_s", jvm("jvm.jit_s") / n, "s"),
      ("host.steal_s", jvm("host.steal_s") / n, "s"),
      ("chain.trained_rebuilds", timedBill.keys.count(w.trainedChains).toDouble, "count"),
      ("trace.spans", tracer.spans.size.toDouble, "count"),
      ("trace.orphans", tracer.orphans.size.toDouble, "count"),
    ) ++ chains.map { c =>
      (s"chain.$c.build_s", (setupBill.getOrElse(c, 0L) + timedBill.getOrElse(c, 0L) / n) / 1e3, "s")
    }
  }
}

object Measure {
  /** Nominal seconds of one pass; every workload's pass is sized near it. */
  val PassS = 15.0
}

/** Whole-stage codegen compile counters (Spark's static codegen metrics). */
object Codegen {
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def classes: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
