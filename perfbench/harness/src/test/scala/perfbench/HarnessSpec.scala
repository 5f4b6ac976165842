package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Murmur3Hash, XxHash64}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness: the full-output sink, failure
  * accounting against the reference, and the traced run's job
  * attribution and span tree. Run with `sbt test` in perfbench/harness.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession = Main.session()
  private lazy val dir: String = {
    val d = Files.createTempDirectory("perfbench_spec").toString
    spark.range(3000).select(
      col("id").as("event_id"),
      (lit(1704067200L) + col("id") * 97).cast("timestamp").as("ts"),
      (col("id") % 50).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("buy")), (col("id") % 3 + 1).cast("int")).as("event_type"),
      ((col("id") * 7919) % 1000 / 10.0).as("value"),
      lit("{\"k\": 1}").as("props"))
      .write.parquet(s"$d/events.parquet")
    d
  }

  override def afterAll(): Unit = spark.stop()

  /** Names of the attributes the sink's executed plan feeds into its
    * hashes. The optimizer may collapse the sink's positional renames, so
    * output column i shows up as `c<i>` or under its own name.
    */
  private def hashedColumns(sink: DataFrame): Set[String] = {
    sink.collect()
    collectWithSubqueries(sink.queryExecution.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect {
        case h: XxHash64 => h.references.map(_.name)
        case h: Murmur3Hash => h.references.map(_.name)
      }.flatten)).toSet
  }

  test("the sink's executed plan hashes every output column of a declared query") {
    for (name <- Seq("sma", "asof_join", "macd")) {
      val df = Workloads.query(name)(spark, dir)
      val hashed = hashedColumns(Sink.of(df))
      df.columns.zipWithIndex.foreach { case (c, i) => assert(hashed(s"c$i") || hashed(c), s"$name.$c") }
    }
  }

  test("the sink hashes map, array and duplicate-named columns") {
    val df = spark.range(50).select(
      col("id"), col("id").as("id"), map(col("id"), lit("v")).as("m"),
      array(col("id"), col("id") * 2).as("a"))
    assert(hashedColumns(Sink.of(df)) == Set("c0", "c1", "c2", "c3"))
  }

  test("the digest ignores row order and partitioning but sees one changed value") {
    val df = spark.range(500).select(col("id"), (col("id") * 1.5).as("x"), (col("id") % 7).cast("string").as("s"))
    val d = Sink.digest(df)
    assert(Sink.digest(df.repartition(5)) == d)
    assert(Sink.digest(df.orderBy(rand(3))) == d)
    val changed = df.withColumn("x", when(col("id") === 123, -1.0).otherwise(col("x")))
    assert(Sink.digest(changed) != d)
    assert(d.rows == 500)
  }

  private val queries: Map[String, Workloads.Query] = Map(
    // eager job inside the query body, like the chain builds
    "eager" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val n = ev.count()
      ev.groupBy("event_type").agg(sum("value").as("v"), lit(n).as("n"))
    }),
    "join" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      ev.join(ev.groupBy("user_id").agg(max("value").as("mx")), "user_id")
        .select("event_id", "mx")
    }),
    "boom" -> ((_, _) => throw new IllegalStateException("query failed")))

  private def workload(names: Seq[String]): Workload =
    Workload("spec", names, (_, _, _) => (), _ => (), Set.empty, queries)

  private def reference(names: Seq[String]): Map[String, Digest] =
    names.map(n => n -> Sink.digest(queries(n)(spark, dir))).toMap

  private def field(json: String, key: String): Long =
    s""""$key":(\\d+)""".r.findFirstMatchIn(json).get.group(1).toLong

  test("a corrupted reference and a throwing query both count as failed") {
    val names = Seq("eager", "join")
    val honest = reference(names)
    val ok = Measure(workload(names), dir, honest, 15.0, trace = false).run(spark)
    assert(field(ok, "attempted") == 2 && field(ok, "failed") == 0, ok)

    val corrupt = honest.updated("join", honest("join").copy(hash = "0" * 48))
    val bad = Measure(workload(names), dir, corrupt, 15.0, trace = false).run(spark)
    assert(field(bad, "attempted") == 2 && field(bad, "failed") == 1, bad)

    val threw = Measure(workload(names :+ "boom"), dir, honest, 15.0, trace = false).run(spark)
    assert(field(threw, "attempted") == 3 && field(threw, "failed") == 1, threw)
  }

  test("the listener's per-group job and task counts match Spark's own job records, and the span tree has no orphan") {
    val names = Seq("eager", "join")
    val sc = spark.sparkContext
    // the last job Spark ran before the timed part
    var lastSetupJob = -1
    val w = workload(names).copy(setup = (s, _, _) =>
      lastSetupJob = Bus.jobs(s.sparkContext).map(_.jobId).maxOption.getOrElse(-1))
    val m = Measure(w, dir, reference(names), 30.0, trace = true)
    val out = m.run(spark)
    assert(field(out, "failed") == 0, out)
    assert(m.passes == 2)

    // Spark's status store, not the benchmark's listener, says which jobs
    // the timed part ran, in which job group, with how many tasks
    val runJobs = Bus.jobs(sc).filter(_.jobId > lastSetupJob)
    assert(runJobs.nonEmpty)
    assert(runJobs.forall(_.jobGroup.exists(g => m.tracer.spanOf(g).isDefined)), "job outside the benchmark's groups")
    assert(!m.meter.groups.contains(Meter.NoGroup))

    // no job dropped or recorded twice
    val recorded = m.meter.jobs.asScala.toSeq
    assert(recorded.map(_.id).sorted == runJobs.map(_.jobId).sorted)
    assert(m.meter.total.jobs.get == runJobs.size)

    // each group holds exactly the jobs Spark ran in it, so the groups are
    // disjoint and together make up the run
    val byGroup = runJobs.groupBy(_.jobGroup.get)
    for ((g, jobs) <- byGroup) {
      val ids = sc.statusTracker.getJobIdsForGroup(g).toSet
      assert(ids == jobs.map(_.jobId).toSet, g)
      assert(recorded.filter(_.group == g).map(_.id).toSet == ids, g)
      val c = m.meter.groups(g)
      assert(c.jobs.get == ids.size, g)
      assert(c.tasks.get == jobs.map(j => j.numCompletedTasks + j.numFailedTasks + j.numKilledTasks).sum, g)
    }
    assert((m.meter.groups.keySet -- byGroup.keySet).isEmpty)
    assert(byGroup.keys.toSeq.map(m.meter.groups(_).jobs.get).sum == runJobs.size)

    val spans = m.tracer.spans
    assert(m.tracer.orphans.isEmpty)
    assert(m.tracer.selfUs.values.forall(_ >= 0))
    assert(spans.count(_.parent == 0) == 1)
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = spans.filter(_.name.startsWith("job:"))
    assert(jobSpans.size == runJobs.size)
    assert(jobSpans.forall(j => Set("build", "plan", "exec")(byId(j.parent).name)))
    // the eager count in the query body is attributed to its build phase
    assert(jobSpans.count(j => byId(j.parent).name == "build") >= 2)
  }
}
