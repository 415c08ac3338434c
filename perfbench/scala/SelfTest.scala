package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types._

/** Tests of the benchmark's own code, run by `python3 perfbench/run.py
  * --self-test`: the median, the order-independent digest, job
  * attribution on canned listener events, and failure accounting. Exits
  * non-zero on the first failed check.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def stats(): Unit = {
    check("median of an odd sample is its middle value")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median of an even sample averages the middle pair")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  def digests(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", LongType), StructField("b", StringType), StructField("d", DoubleType)
    ))
    val rows = (0 until 200).map(i =>
      Row(i.toLong, if (i % 3 == 0) null else java.lang.Long.valueOf(i * 7L), s"t$i 😀", i / 4.0)
    )
    def df(rs: Seq[Row], parts: Int) = spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema)
    val base = RowHash.of(df(rows, 1))
    check("digest is invariant to repartitioning") {
      RowHash.of(df(rows, 7)) == base && RowHash.of(df(rows, 1).repartition(5)) == base
    }
    check("digest is invariant to row order")(RowHash.of(df(rows.reverse, 3)) == base)
    check("digest is invariant to column order") {
      RowHash.of(df(rows, 2).select("d", "b", "id", "a")) == base
    }
    check("digest changes when one cell changes") {
      RowHash.of(df(rows.updated(17, Row(17L, 119L, "t17 😀", 4.5)), 2)) != base
    }
    check("digest changes when a value becomes NULL") {
      RowHash.of(df(rows.updated(17, Row(17L, null, "t17 😀", 4.25)), 2)) != base
    }
    check("digest changes when a NULL becomes a value") {
      RowHash.of(df(rows.updated(3, Row(3L, 0L, "t3 😀", 0.75)), 2)) != base
    }
    check("digest changes when a NULL moves to another column") {
      val s2 = StructType(Seq(StructField("x", LongType), StructField("y", LongType)))
      def two(r: Row) = RowHash.of(spark.createDataFrame(spark.sparkContext.parallelize(Seq(r), 1), s2))
      two(Row(null, 5L)) != two(Row(5L, null))
    }
    check("digest counts a duplicated row") {
      RowHash.of(df(rows :+ rows(5), 2)) != base
    }
  }

  def attribution(): Unit = {
    val dedupSite = "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)\n" +
      "graft.operators.Dedup$.componentsOf(Dedup.scala:120)\n" +
      "graft.operators.Pipeline$.mixCorpus(Pipeline.scala:500)\nperfbench.Workloads.iterate"
    val poolSite = "java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)"
    val l = new JobListener
    l.onOtherEvent(SparkListenerSQLExecutionStart(7L, Some(7L), "localCheckpoint", dedupSite, "", null, 0L))
    // job 1: inside the outer gate span only; job 2: inside the nested
    // write span; job 3: an AQE job on a pool thread whose own call site
    // names CompletableFuture; job 4: after every span (an output check)
    l.onJobStart(PerfbenchBridge.jobStart(1, 1100L, Seq(10), "perfbench.Workloads.iterate", None))
    l.onJobStart(PerfbenchBridge.jobStart(2, 1300L, Seq(11, 12), "perfbench.Workloads.iterate", None))
    l.onJobStart(PerfbenchBridge.jobStart(3, 1600L, Seq(13), poolSite, Some(7L)))
    l.onJobStart(PerfbenchBridge.jobStart(4, 2500L, Seq(14), "perfbench.RowHash.of", None))
    Seq(10 -> 100L, 11 -> 200L, 12 -> 300L, 13 -> 400L, 13 -> 500L, 14 -> 50L).foreach { case (st, ms) =>
      l.onTaskEnd(PerfbenchBridge.taskEnd(st, ms, ms * 1000000L, shuffleWrite = 10L))
    }
    val (jobs, _) = l.drain()
    val spans = Seq(
      Span(0, -1, 1, "catalog.q82_hygienic_pipeline", 1000L, 2000L, traceOnly = false),
      Span(1, 0, 1, "sources.write", 1200L, 1500L, traceOnly = false),
      Span(2, -1, 1, "functions.kernels", 3000L, 3100L, traceOnly = true)
    )
    val byJob = Attribution.assign(spans, jobs).map { case (j, s) => j.jobId -> s.map(_.name) }.toMap
    check("a job belongs to the innermost span open when it started") {
      byJob(1).contains("catalog.q82_hygienic_pipeline") && byJob(2).contains("sources.write") &&
      byJob(3).contains("catalog.q82_hygienic_pipeline") && byJob(4).isEmpty
    }
    check("task counters are summed per job")(jobs.find(_.jobId == 3).map(_.sums.runMs).contains(900L))
    check("an AQE job is attributed through its SQL execution's call site") {
      Attribution.operatorOf(l.callSite(jobs.find(_.jobId == 3).get)).contains("Dedup")
    }
    check("a job with no operator frame has no operator") {
      Attribution.operatorOf(l.callSite(jobs.find(_.jobId == 1).get)).isEmpty
    }
    val m = Layers.of(spans, jobs, l, wall = 1.0, cores = 4)
    check("layer counters leave out jobs outside spans") {
      m("spark.jobs") == 3 && m("spark.tasks") == 5 && close(m("spark.task_run_s"), 1.5)
    }
    check("layer counters split by span and operator") {
      m("catalog.q82_hygienic_pipeline.jobs") == 2 && m("sources.write_tasks") == 2 &&
      m("operators.Dedup.jobs") == 1 && close(m("operators.Dedup.busy_s"), 0.9)
    }
    check("core idle share is 1 - task time / (wall x cores)")(close(m("spark.core_idle_frac"), 1 - 1.5 / 4))
  }

  def accounting(): Unit = {
    def it(i: Int, s: Double, err: Option[String], digest: String) =
      Main.Iter(i, traced = false, s, err, if (err.isEmpty) Some(Outcome(Map("out" -> digest), 1L)) else None, Map.empty)
    val iters = Seq(it(0, 1.0, None, "good"), it(1, 0.01, Some("boom"), ""), it(2, 9.0, None, "bad"), it(3, 3.0, None, "good"))
    val f = Main.failures(iters, Right(Map("out" -> "good")))
    check("an exception and a wrong output each count as failed") {
      f.map(_.isDefined) == Seq(false, true, true, false)
    }
    check("failed iterations are never timed") {
      Main.good(iters, f).map(_.seconds) == Seq(1.0, 3.0)
    }
    check("unverifiable final outputs fail every iteration") {
      Main.failures(iters, Left("no outputs")).forall(_.isDefined)
    }
  }

  def main(args: Array[String]): Unit = {
    stats()
    attribution()
    accounting()
    val spark = graft.GraftSession.builder("perfbench-selftest", "2")
      .config("spark.local.dir", s"${args(0)}/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try digests(spark) finally spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
