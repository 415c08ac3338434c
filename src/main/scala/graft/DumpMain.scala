package graft

import graft.operators.OmopDump
import graft.sources.{DumpAll, DumpProgress, JdbcNoteSource, JdbcSourceConfig, NoteSource}
import graft.sources.{ParquetLayout, ParquetNoteSource}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Runnable entry point for the parity dump pipeline — the equivalent of
  * `python dump_table.py --output_path DIR` (`dump_table.py:175-180,251-252`).
  *
  * Configuration mirrors the reference's env surface (`readme.md:29-37`):
  *  - `ORACLE_HOST/PORT/SID/USER/PASS` → JDBC source (production path);
  *    otherwise `SPARK_GRAFT_SOURCE` names a parquet file/dir (offline
  *    stand-in, used by tests since no Oracle driver ships here).
  *  - `GRAB_EVERYTHING` (any non-empty value) → dump the whole table with NO
  *    limit — deliberately not "limit to a pre-counted total", which races a
  *    growing table (`dump_table.py:192-197`; SURVEY.md §3.4).
  *  - `GRAFT_LIMIT` → row cap when not grabbing everything (default
  *    2,000,000 = DEFAULT_N_TO_FETCH, `dump_table.py:28`).
  *  - `GRAFT_TABLE` → source table name for JDBC (default NOTE).
  *
  * WHOLE-CDM mode (VERDICT r13 №4 — the production shape q185 gates,
  * drivable the way the reference is): `--tables t1:key:chunks,t2,...`
  * switches to [[graft.sources.DumpAll]] orchestration — one invocation
  * extracts every listed table under `outputRoot/<table>/`, keyed tables
  * through the resumable chunked path, unkeyed dimensions as one guarded
  * write. `--resume` opts INTO re-entering an existing output root
  * (completed chunks/tables skip on their `_SUCCESS` markers); without
  * it, a root that already contains any listed table's directory fails
  * fast — stale markers silently skipping data is the one mistake an
  * operator cannot see from the report. In `--tables` mode
  * `SPARK_GRAFT_SOURCE` names a DIRECTORY holding `<table>.parquet`
  * stand-ins; the JDBC env reads each table by name.
  *
  * Progress surfaces through [[graft.sources.DumpProgress]] (the tqdm
  * analog, `dump_table.py:209-213`): one line per completed write task
  * with the cumulative row count, in both modes.
  */
object DumpMain {

  /** One `--tables` entry: `name[:keyCol[:chunks]]`. */
  final case class TableArg(table: String, keyCol: Option[String], chunks: Int)

  /** Parse the `--tables` value. Fail-fast on shape errors — a typo'd
    * table list must die before any extraction starts, not after the
    * tables preceding it have run.
    */
  def parseTables(spec: String): Seq[TableArg] = {
    require(spec.nonEmpty, "--tables: empty table list")
    // split with limit -1: trailing empty fields ("note:") must surface as
    // malformed, not silently drop
    spec.split(",", -1).toSeq.map { entry =>
      val parts = entry.split(":", -1)
      require(
        parts.nonEmpty && parts.forall(_.nonEmpty),
        s"--tables entry '$entry' is not name[:keyCol[:chunks]]"
      )
      parts match {
        case Array(t) => TableArg(t, None, 1)
        case Array(t, k) => TableArg(t, Some(k), 1)
        case Array(t, k, c) =>
          val chunks = try c.toInt catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(s"--tables entry '$entry': chunks '$c' is not an integer")
          }
          require(chunks >= 1, s"--tables entry '$entry': need chunks >= 1")
          TableArg(t, Some(k), chunks)
        case _ =>
          throw new IllegalArgumentException(s"--tables entry '$entry' has too many ':' fields")
      }
    }
  }

  /** The `--tables` orchestration, factored for the spec: build one
    * [[DumpAll.TableSpec]] per arg via `makeSource` and run. Without
    * `resume`, ANY pre-existing listed table directory under the root
    * fails fast (see the object scaladoc for why).
    */
  def runDumpAll(
      spark: SparkSession,
      tables: Seq[TableArg],
      makeSource: String => NoteSource,
      outputRoot: String,
      resume: Boolean,
      layout: ParquetLayout = ParquetLayout()
  ): Seq[DumpAll.TableOutcome] = {
    if (!resume) {
      val conf = spark.sparkContext.hadoopConfiguration
      val existing = tables
        .map(a => s"$outputRoot/${a.table}")
        .filter { d => val p = new Path(d); p.getFileSystem(conf).exists(p) }
      require(
        existing.isEmpty,
        s"output dirs already exist: ${existing.mkString(", ")} — pass --resume to " +
          "re-enter (completed chunks/tables skip on their _SUCCESS markers) or pick a fresh root"
      )
    }
    DumpAll.run(
      spark,
      tables.map(a => DumpAll.TableSpec(a.table, makeSource(a.table), a.keyCol, None, a.chunks)),
      outputRoot,
      layout
    )
  }

  def main(args: Array[String]): Unit = {
    val outputPath = args.toSeq.sliding(2).collectFirst { case Seq("--output_path", p) => p }
      .getOrElse(sys.error("usage: graft.DumpMain --output_path DIR [--tables t1:key:chunks,t2,...] [--resume]"))
    // parity with the reference CLI: the output directory must already exist
    // (click.Path(exists=True), dump_table.py:176-179)
    require(new java.io.File(outputPath).isDirectory, s"--output_path $outputPath must be an existing directory")
    val tablesArg = args.toSeq.sliding(2).collectFirst { case Seq("--tables", t) => parseTables(t) }
    val resume = args.contains("--resume")

    val spark = GraftSession.local("graft-dump", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    tablesArg match {
      case Some(tables) =>
        // whole-CDM orchestration: per-table source by NAME
        val makeSource: String => NoteSource = JdbcSourceConfig.fromEnv() match {
          case Some(cfg) => t => new JdbcNoteSource(cfg, t)
          case None =>
            val dir = sys.env.getOrElse(
              "SPARK_GRAFT_SOURCE",
              sys.error("configure ORACLE_HOST/SID/USER/PASS or SPARK_GRAFT_SOURCE=<dir>")
            )
            t => new ParquetNoteSource(s"$dir/$t.parquet")
        }
        val outcomes = runDumpAll(spark, tables, makeSource, outputPath, resume)
        outcomes.foreach { o =>
          println(
            s"[dump] ${o.table}: ${o.rows} rows in ${o.files} files " +
              s"(${o.ranChunks} chunks ran, ${o.skippedChunks} skipped)" +
              o.error.fold("")(e => s" FAILED: $e")
          )
        }
        println(s"[dump] ${outcomes.count(_.ok)}/${outcomes.size} tables ok")

      case None =>
        val grabEverything = sys.env.get("GRAB_EVERYTHING").exists(_.nonEmpty)
        val limit =
          if (grabEverything) None
          else Some(sys.env.get("GRAFT_LIMIT").map(_.toLong).getOrElse(2000000L))
        val table = sys.env.getOrElse("GRAFT_TABLE", "NOTE")
        val source: NoteSource = JdbcSourceConfig.fromEnv() match {
          case Some(cfg) => new JdbcNoteSource(cfg, table)
          case None =>
            val p = sys.env.getOrElse(
              "SPARK_GRAFT_SOURCE",
              sys.error("configure ORACLE_HOST/SID/USER/PASS or SPARK_GRAFT_SOURCE")
            )
            new ParquetNoteSource(p)
        }
        val (result, _) = DumpProgress.withProgress(spark, table) {
          OmopDump.run(spark, source, outputPath, limit, ParquetLayout())
        }
        // parity with the reference's read-back report (dump_table.py:235-248):
        // unified schema, per-file footer counts, total.
        println(s"[dump] schema: ${result.report.schemaDdl}")
        result.report.shards.foreach(s => println(s"[dump] ${s.path}: ${s.rows} rows"))
        println(
          s"[dump] total ${result.report.totalRows} rows in ${result.report.numFiles} files " +
            s"(source count ${result.sourceCount}, limit ${limit.fold("ALL")(_.toString)})"
        )
    }
    spark.stop()
  }
}
