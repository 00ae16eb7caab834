package graft.cli

import org.apache.spark.sql.SparkSession

import graft.engine._

/** CLI entry point (reference A19): flag-for-flag parity with the
  * reference's click surface (main.py:317-463), env-var defaults via
  * [[ExportConfig.fromEnv]], `--version` short-circuit, password
  * redaction in the arg echo (main.py:284-293).
  *
  * `--source-format parquet --source-root DIR` runs the pipeline from
  * staged Parquet (testable offline); `--source-format jdbc` scans
  * Oracle with optional `AS OF SCN` pinning per the isolation level.
  * `--export-parallelism N` sets how many tables are in flight; without
  * it the [[Exporter]] runs two ([[Exporter.DefaultLanes]]). The report goes
  * to stdout as JSON lines ([[reportLines]]).
  */
object Main {

  val version = "0.1.0"

  def parseArgs(args: Seq[String],
      env: Map[String, String] = sys.env): Either[String, (ExportConfig, Map[String, String])] = {
    var cfg = ExportConfig()
    var extras = Map[String, String]("source-format" -> "jdbc")
    var schemas = Vector.empty[String]
    var i = 0
    def next(): String = { i += 1; args(i) }
    try {
      // env/.env defaults go through the same value checks as flags
      cfg = ExportConfig.fromEnv(env)
      while (i < args.length) {
        args(i) match {
          case "--version" => return Left(s"oracle-parquet-dumper-spark $version")
          case "--username" | "-u" => cfg = cfg.copy(username = next())
          case "--password" | "-p" => cfg = cfg.copy(password = next())
          case "--hostname" => cfg = cfg.copy(hostname = next())
          case "--port" => cfg = cfg.copy(port = next().toInt)
          case "--service-name" => cfg = cfg.copy(serviceName = next())
          case "--schema" => schemas :+= next()
          case "--table-name-include-pattern" =>
            cfg = cfg.copy(tableNameIncludePattern = next())
          case "--table-name-exclude-pattern" =>
            cfg = cfg.copy(tableNameExcludePattern = Some(next()))
          case "--output-directory" => cfg = cfg.copy(outputDirectory = next())
          case "--overwrite" => cfg = cfg.copy(overwrite = true)
          case "--compression-method" => cfg = cfg.copy(compressionMethod = next())
          case "--batch-size" => cfg = cfg.copy(batchSize = next().toInt)
          case "--row-limit" => cfg = cfg.copy(rowLimit = next().toLong)
          case "--isolation-level" =>
            cfg = cfg.copy(isolationLevel = IsolationLevel.parse(next()))
          case "--lowercase-object-names" => cfg = cfg.copy(lowercaseObjectNames = true)
          case "--parquet-max-file-size" => cfg = cfg.copy(parquetMaxFileSize = next().toLong)
          case "--parquet-row-group-size" =>
            cfg = cfg.copy(parquetRowGroupSize = Some(next().toLong))
          case "--cluster-by" =>
            cfg = cfg.copy(clusterBy = Some(ClusterSpec.parse(next())))
          case "--log-level" => cfg = cfg.copy(logLevel = next())
          case "--source-format" => extras += "source-format" -> next()
          case "--source-root" => extras += "source-root" -> next()
          case "--export-parallelism" =>
            val n = next()
            if (n.toInt < 1)
              return Left(s"bad numeric value: --export-parallelism must be at least 1, got $n")
            extras += "export-parallelism" -> n
          case "--jdbc-url" => extras += "jdbc-url" -> next()
          case other => return Left(s"unknown option: $other")
        }
        i += 1
      }
    } catch {
      case _: IndexOutOfBoundsException => return Left(s"missing value for ${args.last}")
      case e: NumberFormatException => return Left(s"bad numeric value: ${e.getMessage}")
      case e: IllegalArgumentException => return Left(s"bad flag value: ${e.getMessage}")
    }
    if (extras("source-format") == "parquet" && !extras.contains("source-root"))
      return Left("missing value for --source-root: required by --source-format parquet")
    if (schemas.nonEmpty) cfg = cfg.copy(schemas = schemas)
    Right((cfg, extras))
  }

  /** Arg echo with secrets redacted (reference main.py:284-293). */
  def redacted(cfg: ExportConfig): String =
    cfg.copy(password = if (cfg.password.isEmpty) "" else "(redacted)").toString

  /** The run's structured records, one JSON object per line: one per
    * exported table (schema, table, rows, files, bytes, seconds), then
    * one for the run (tables, rows, bytes, seconds, lanes, and the
    * pinned SCN or null). */
  def reportLines(report: ExportReport, scn: Option[Long]): Seq[String] = {
    import graft.Harness.json
    import scala.collection.immutable.ListMap
    report.tables.map { t =>
      json.writeValueAsString(ListMap("schema" -> t.schema, "table" -> t.table,
        "rows" -> t.rows, "files" -> t.files, "bytes" -> t.bytes, "seconds" -> t.seconds))
    } :+ json.writeValueAsString(ListMap("tables" -> report.tables.size,
      "rows" -> report.totalRows, "bytes" -> report.totalBytes,
      "seconds" -> report.seconds, "lanes" -> report.lanes, "scn" -> scn))
  }

  def main(args: Array[String]): Unit = parseArgs(args.toSeq) match {
    case Left(msg) =>
      println(msg)
      if (msg.startsWith("unknown") || msg.startsWith("missing") || msg.startsWith("bad"))
        sys.exit(2)
    case Right((cfg, extras)) =>
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("oracle-parquet-dumper-spark")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      spark.sparkContext.setLogLevel(cfg.logLevel)
      println(s"[export] config: ${redacted(cfg)}")
      val sink = new ParquetSink(cfg)
      val lanes = extras.get("export-parallelism").map(_.toInt)
      val (report, scn) = extras("source-format") match {
        case "parquet" =>
          val catalog = new ParquetCatalog(java.nio.file.Paths.get(extras("source-root")))
          (new Exporter(cfg, catalog, new ParquetSource(catalog), sink, lanes)
            .exportTables(spark), None)
        case "jdbc" =>
          // --jdbc-url overrides the Oracle URL built from config parts
          // (e.g. an embedded Derby for offline runs); catalog discovery
          // goes through DatabaseMetaData either way.
          val override_ = extras.get("jdbc-url")
          val jdbcUrl = override_.getOrElse(cfg.jdbcUrl)
          val catalog = new JdbcMetaCatalog(jdbcUrl)
          // A15: one SCN fetched on the driver pins every table scan of
          // the run to the same snapshot under SERIALIZABLE
          val scn = JdbcSource.pinScn(cfg.isolationLevel, jdbcUrl,
            () => JdbcSource.fetchCurrentScn(jdbcUrl, cfg.username, cfg.password))
          scn.foreach(n => println(s"[export] pinned AS OF SCN $n for the run"))
          (new Exporter(cfg, catalog,
            new JdbcSource(cfg, scn, urlOverride = override_), sink, lanes)
            .exportTables(spark), scn)
        case other => sys.error(s"unknown source format: $other")
      }
      reportLines(report, scn).foreach(println)
      spark.stop()
  }
}
