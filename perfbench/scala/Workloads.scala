package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftExpressions
import graft.functions.TextFunctions
import graft.operators.OmopDump
import graft.sources._

/** What one iteration produced: digests of its outputs (compared after the
  * run against the oracle-checked final outputs) and the Parquet bytes it
  * wrote.
  */
final case class Outcome(digests: Map[String, String], outBytes: Long)

/** A workload: inputs built once per (seed, size) outside any timing, one
  * iteration that is timed, and the final outputs handed to the oracle.
  */
trait Workload {

  /** Build or reuse inputs; runs before the first Spark session starts. */
  def prepare(): Unit

  /** Untimed iterations before the timed ones, counted in `setup_s`: the
    * first is the cold run, the rest bring the JIT to steady state (without
    * them the timed iterations still speed up by 20-30% one to the next).
    */
  def warmups: Int

  def inputRows: Long
  def inputBytes: Long

  /** Count the input rows and bytes, once, on the first session. */
  def measureInput(spark: SparkSession): Unit = ()

  /** One iteration. `timed` brackets the work that counts towards
    * `wall_s`; digests are taken outside it, so checks are never timed.
    */
  def iterate(spark: SparkSession, spans: Spans, traced: Boolean, timed: Timer): Outcome

  /** Untimed, after the loop: expected digests, computed from the final
    * outputs this writes under `checkDir` for the oracle compare.
    */
  def finish(spark: SparkSession, checkDir: String): Map[String, String]

  /** Final output name -> the `SparkEntry` query whose DuckDB oracle SQL
    * must reproduce it.
    */
  def oracle: Map[String, String] = Map.empty

  /** Counters read from disk after a traced iteration. */
  def diskCounters(): Map[String, Double] = Map.empty
}

/** Accumulates the timed part of an iteration. */
final class Timer {
  private var ns = 0L
  def apply[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally ns += System.nanoTime() - t0
  }
  def seconds: Double = ns / 1e9
}

object Workloads {

  def parquetBytes(dir: String): (Int, Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    val sizes = walk(new File(dir)).map(_.length)
    (sizes.size, sizes.sum, if (sizes.isEmpty) 0L else sizes.max)
  }

  /** Shard count, bytes and largest shard of a sink's output directory. */
  def sinkCounters(dir: String): Map[String, Double] = {
    val (files, bytes, maxShard) = parquetBytes(dir)
    Map("sources.files" -> files, "sources.bytes_written" -> bytes, "sources.max_shard_bytes" -> maxShard)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def readMeta(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else
      java.nio.file.Files.readString(f.toPath).linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  def writeMeta(f: File, m: Map[String, String]): Unit =
    java.nio.file.Files.writeString(f.toPath, m.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))

  /** Logical bytes of a documents-shaped table: UTF-8 text of the string
    * columns and 8 per numeric cell.
    */
  def logicalBytes(df: DataFrame): Long = {
    val parts = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          coalesce(octet_length(col(s"`${f.name}`")).cast("long"), lit(0L))
        case _ => lit(8L)
      }
    }
    df.select(parts.reduce(_ + _).as("b")).agg(sum(col("b"))).head().getLong(0)
  }

  /** Traced-only kernel pass over a documents table: the three row-local
    * text kernels the pipelines lean on, forced through the `noop` sink.
    */
  def kernels(spans: Spans, docs: DataFrame): Unit =
    spans("functions.kernels", traceOnly = true) {
      docs
        .select(
          TextFunctions.scrub(col("text")).as("s"),
          TextFunctions.qualityScoreFused(col("text")).as("q"),
          GraftExpressions.poly_hash(col("text")).as("h")
        )
        .write.format("noop").mode("overwrite").save()
    }
}

object NoteDump {

  /** NOTE rows in the source table. */
  val Rows = 40000L
}

/** The paper's program end to end: NOTE in embedded Derby, read through
  * `JdbcNoteSource`, dumped by `OmopDump.run` in grab-everything mode.
  */
final class NoteDump(seed: Long, inputDir: String, work: String, cores: Int) extends Workload {
  import Workloads._
  private val rows = NoteDump.Rows
  private val dir = new File(inputDir)
  private val dbPath = new File(dir, "db").getAbsolutePath
  private val out = s"$work/note_dump_out"
  private var meta = Map.empty[String, String]

  def warmups: Int = 4

  def cfg: JdbcSourceConfig = JdbcSourceConfig(
    host = "localhost", port = 0, service = "NOTE", user = "", password = "",
    partitionColumn = Some("NOTE_ID"), numPartitions = cores,
    urlOverride = Some(s"jdbc:derby:$dbPath")
  )
  def source: NoteSource = new JdbcNoteSource(cfg, "NOTE")

  def prepare(): Unit = {
    val marker = new File(dir, "meta.txt")
    meta = readMeta(marker)
    if (!meta.contains("bytes")) {
      deleteTree(dir)
      dir.mkdirs()
      val conn = NoteGen.connect(s"jdbc:derby:$dbPath;create=true")
      val bytes = try NoteGen.load(conn, seed, rows) finally conn.close()
      meta = Map("rows" -> rows.toString, "bytes" -> bytes.toString)
      writeMeta(marker, meta)
    }
  }

  def inputRows: Long = rows
  def inputBytes: Long = meta("bytes").toLong

  /** Shards sized by the wide-row rule (`ParquetLayout.forWideRows`) at a
    * 16 MiB target, so the dump spans several shards at this table size.
    */
  def layout: ParquetLayout =
    ParquetLayout.forWideRows(avgRowBytes = inputBytes / rows + 1, targetShardBytes = 16L << 20)

  /** Digest of the source rows, regenerated from the seed inside Spark —
    * independent of Derby and of the JDBC read path. Cached per input.
    */
  private def sourceDigest(spark: SparkSession): String =
    meta.getOrElse("digest", {
      val s = seed
      val rdd = spark.sparkContext.range(0L, rows, 1L, cores * 4).map(i => NoteGen.row(s, i))
      val d = RowHash.of(spark.createDataFrame(rdd, NoteGen.schema))
      meta += "digest" -> d
      writeMeta(new File(dir, "meta.txt"), meta)
      d
    })

  def iterate(spark: SparkSession, spans: Spans, traced: Boolean, timed: Timer): Outcome = {
    if (!traced) timed { OmopDump.run(spark, source, out, limit = None, layout = layout) }
    else {
      // OmopDump.run's body, call by call, so each public call gets a span
      spans("sources.scan", traceOnly = true) {
        source.scan(spark).write.format("noop").mode("overwrite").save()
      }
      timed {
        val n = spans("sources.count") { source.countAtSource(spark) }
        spans("sources.write") { ShardedParquetSink.write(source.scan(spark), out, layout) }
        val report = spans("sources.readback") { ShardedParquetSink.readBackReport(spark, out) }
        require(report.totalRows == n, s"read-back total ${report.totalRows} != source count $n")
      }
    }
    val back = spark.read.parquet(out)
    val provider = back.schema("PROVIDER_ID").dataType
    val nulls = back.filter(col("PROVIDER_ID").isNull).count()
    Outcome(
      Map(
        "rows_digest" -> RowHash.of(back),
        "provider_id" -> s"${provider.simpleString}:$nulls"
      ),
      parquetBytes(out)._2
    )
  }

  def finish(spark: SparkSession, checkDir: String): Map[String, String] =
    Map(
      "rows_digest" -> sourceDigest(spark),
      "provider_id" -> s"bigint:${NoteGen.providerNulls(rows)}"
    )

  override def diskCounters(): Map[String, Double] = sinkCounters(out)
}

object GatesSmall {

  /** The composed gates run by each iteration, in order. */
  val Gates: Seq[String] = Seq("q82_hygienic_pipeline")
}

/** The composed `SparkEntry` gates at fixture size, each written as
  * Parquet, cache cleared per gate as `graft.Bench` does.
  */
final class GatesSmall(fixtureDir: String, work: String) extends Workload {
  import Workloads._
  private val gates = GatesSmall.Gates
  private var rows = 0L
  private var bytes = 0L

  private def out(g: String) = s"$work/gates_out/$g"

  // one gate is a short iteration: it takes about six before the JIT stops
  // speeding it up (with two warm-ups the timed ones still fell 5.3 -> 3.8 s)
  def warmups: Int = 4

  def prepare(): Unit = require(new File(s"$fixtureDir/documents.parquet").isFile, s"no fixture at $fixtureDir")

  def inputRows: Long = rows
  def inputBytes: Long = bytes

  override def measureInput(spark: SparkSession): Unit = {
    val docs = Tables.load(spark, fixtureDir, "documents")
    rows = docs.count()
    bytes = logicalBytes(docs)
  }

  def iterate(spark: SparkSession, spans: Spans, traced: Boolean, timed: Timer): Outcome = {
    if (traced) kernels(spans, Tables.load(spark, fixtureDir, "documents"))
    gates.foreach { g =>
      spark.catalog.clearCache()
      timed {
        spans(s"catalog.$g") {
          graft.SparkEntry.queries(g)(spark, fixtureDir).write.mode("overwrite").parquet(out(g))
        }
      }
    }
    Outcome(
      gates.map(g => g -> RowHash.of(spark.read.parquet(out(g)))).toMap,
      gates.map(g => parquetBytes(out(g))._2).sum
    )
  }

  override def oracle: Map[String, String] = gates.map(g => g -> g).toMap

  /** The last iteration's outputs, copied for the oracle compare. */
  def finish(spark: SparkSession, checkDir: String): Map[String, String] =
    gates.map { g =>
      val d = s"$checkDir/$g"
      spark.read.parquet(out(g)).write.mode("overwrite").parquet(d)
      g -> RowHash.of(spark.read.parquet(d))
    }.toMap
}
