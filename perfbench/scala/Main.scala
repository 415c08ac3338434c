package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run (launched by `perfbench/run.py`).
  *
  * Sequence: build or reuse the inputs in `--input` (outside any timing);
  * set up once, cold — a fresh Spark session plus the workload's untimed
  * warm-up iterations, timed together as `setup_s` (the first warm-up is
  * the cold cost a one-shot user pays, the rest bring the JIT to steady
  * state); then iterate on that session until `--seconds` of iteration time
  * has passed and at least [[MinIterations]] iterations have run.
  * Every iteration's output digests are compared after the loop with the
  * digests of the final outputs, which are written under `<work>/check` for
  * the DuckDB oracle. With `--trace 1` iterations alternate between
  * untraced and traced (job listener plus spans), and the per-layer metrics
  * come from the traced ones.
  *
  * Prints human-readable lines, then one JSON object as the last line.
  */
object Main {

  val MinIterations = 3
  val MaxIterations = 40

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      input: String,
      stopByMs: Long
  )

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(
      m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("work"), m("input"), m("stop-by-ms").toLong
    )
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession
      .builder("perfbench", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** CPU seconds the whole JVM has used (every thread: driver, tasks, JIT, GC). */
  private def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Seconds the JVM's collectors have spent, all pauses summed. */
  private def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** One iteration's record. */
  final case class Iter(
      index: Int,
      traced: Boolean,
      seconds: Double,
      error: Option[String],
      outcome: Option[Outcome],
      layers: Map[String, Double]
  )

  /** Per iteration, why it failed: it threw, or one of its output digests
    * differs from the final outputs' (all fail when those could not be
    * produced). A failed iteration is never timed.
    */
  def failures(iters: Seq[Iter], expected: Either[String, Map[String, String]]): Seq[Option[String]] =
    iters.map { it =>
      it.error.orElse {
        expected match {
          case Left(e) => Some(s"final outputs: $e")
          case Right(exp) =>
            val got = it.outcome.get.digests
            exp.collectFirst { case (k, v) if !got.get(k).contains(v) => s"$k digest ${got.get(k)} != $v" }
        }
      }
    }

  /** The iterations that did not fail: the only ones timed. */
  def good(iters: Seq[Iter], failed: Seq[Option[String]]): Seq[Iter] =
    iters.zip(failed).collect { case (it, None) => it }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(a.work).getAbsolutePath
    new File(work).mkdirs()
    val hostBefore = graft.Bench.sampleHost()
    val wl: Workload = a.workload match {
      case "note_dump" => new NoteDump(a.seed, a.input, work, cores)
      case "gates_small" => new GatesSmall(a.input, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val tPrep = System.nanoTime()
    wl.prepare()
    println(f"prepare_s ${(System.nanoTime() - tPrep) / 1e9}%.3f (inputs, not part of setup_s)")

    val spans = new Spans
    spans.iteration = -1
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val warm = Seq.fill(wl.warmups) {
      val t = new Timer
      wl.iterate(spark, spans, traced = false, t)
      t.seconds
    }
    val setupS = sessionS + warm.sum
    println(f"setup_s $setupS%.3f (session $sessionS%.3f + warm-up ${warm.map(w => f"$w%.3f").mkString(" + ")})")
    wl.measureInput(spark)

    val listener = new JobListener
    val iters = mutable.ArrayBuffer.empty[Iter]
    var spent = 0.0
    var lastMs = 0L
    var i = 0
    // on a host slow enough that the next iteration would end past
    // `--stop-by-ms`, stop short of MinIterations rather than miss the deadline
    def timeLeft = i == 0 || System.currentTimeMillis() + lastMs < a.stopByMs
    while (i < MaxIterations && (spent < a.seconds || i < MinIterations) && timeLeft) {
      val traced = a.trace && i % 2 == 1
      spans.iteration = i
      if (traced) spark.sparkContext.addSparkListener(listener)
      heapPools.foreach(_.resetPeakUsage())
      val timer = new Timer
      val cpu0 = processCpuSeconds()
      val gc0 = gcSeconds()
      val t0 = System.currentTimeMillis()
      val res =
        try Right(wl.iterate(spark, spans, traced, timer))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      val t1 = System.currentTimeMillis()
      val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          val (jobs, blockBytes) = listener.drain()
          Layers.of(spans.all.filter(_.iteration == i), jobs, listener, timer.seconds, cores) ++
            wl.diskCounters() ++
            Map("operators.checkpoint_bytes" -> blockBytes.toDouble, "sources.peak_heap_mb" -> peakMb)
        }
      spent += (t1 - t0) / 1e3
      lastMs = System.currentTimeMillis() - t0
      println(f"iteration $i traced=$traced timed_s=${timer.seconds}%.3f with_checks_s=${(System.currentTimeMillis() - t0) / 1e3}%.3f process_cpu_s=${processCpuSeconds() - cpu0}%.3f gc_s=${gcSeconds() - gc0}%.3f")
      iters += Iter(i, traced, timer.seconds, res.left.toOption, res.toOption, layers)
      i += 1
    }

    if (!timeLeft) println(s"stopped after $i iterations: the next would end past the run's deadline")
    val tLoop = System.nanoTime()
    val expected =
      try Right(wl.finish(spark, s"$work/check"))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    expected.foreach(d => println(s"final_digests ${Json.value(d)}"))
    println(f"finish_s ${(System.nanoTime() - tLoop) / 1e9}%.3f (final outputs and expected digests)")
    stop(spark)
    new File(s"$work/check").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/check/oracle.json"),
      Json.value(wl.oracle.map { case (k, q) => k -> graft.SparkEntry.oracleSql(q) })
    )
    val hostAfter = graft.Bench.sampleHost()

    val failed = failures(iters.toSeq, expected)
    failed.zip(iters).collect { case (Some(e), it) => System.err.println(s"[perfbench] iteration ${it.index} failed: $e") }
    val ok = good(iters.toSeq, failed)
    val untracedGood = ok.filterNot(_.traced)
    val wall = if (untracedGood.nonEmpty) Stats.median(untracedGood.map(_.seconds)) else Double.NaN
    val outBytes = ok.flatMap(_.outcome).map(_.outBytes.toDouble)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("rows_per_s", wl.inputRows / wall, "1/s"),
      ("mb_per_s", wl.inputBytes / 1e6 / wall, "MB/s"),
      ("out_bytes_per_in_byte", (if (outBytes.isEmpty) Double.NaN else Stats.median(outBytes)) / wl.inputBytes, "ratio")
    )
    val tracedGood = ok.filter(_.traced)
    val perLayer: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val names = Layers.names
        val traceWall = if (tracedGood.nonEmpty) Stats.median(tracedGood.map(_.seconds)) else Double.NaN
        names.map { case (n, unit) =>
          val v = n match {
            case "session.start_s" => sessionS
            case "trace.overhead_s" => traceWall - wall
            case _ =>
              val xs = tracedGood.map(_.layers.getOrElse(n, 0.0))
              if (xs.isEmpty) Double.NaN else Stats.median(xs)
          }
          (n, v, unit)
        }
      }

    val iowait = graft.Bench.iowaitPct(hostBefore, hostAfter)
    println(
      f"host cores=$cores xmx_mb=${Runtime.getRuntime.maxMemory / 1048576} " +
        f"load1_before=${hostBefore.load1}%.2f load1_after=${hostAfter.load1}%.2f iowait_pct=$iowait%.2f"
    )
    println(s"input rows=${wl.inputRows} logical_bytes=${wl.inputBytes}")
    println(s"wall_s samples=${untracedGood.map(x => f"${x.seconds}%.3f").mkString(",")} (n=${untracedGood.size})")
    val attempted = iters.size
    val nFailed = failed.count(_.isDefined)
    println(f"failed_frac ${nFailed.toDouble / attempted}%.4f ($nFailed of $attempted iterations)")
    (if (a.trace) perLayer else e2e).foreach { case (n, v, u) => println(f"metric $n = $v%.6g $u") }

    val traceFile = s"$work/trace-${a.workload}-s${a.seed}.json"
    if (a.trace) Json.writeTrace(traceFile, spans.all, perLayer)
    val result = Json.obj(
      "attempted" -> attempted,
      "failed" -> nFailed,
      "metrics" -> (if (a.trace) perLayer else e2e),
      "host" -> Map(
        "cores" -> cores, "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "load1_before" -> hostBefore.load1, "load1_after" -> hostAfter.load1, "iowait_pct" -> iowait
      )
    )
    println(result)
  }
}
