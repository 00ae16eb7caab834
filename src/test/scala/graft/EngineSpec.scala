package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.engine._

class CatalogSpec extends AnyFunSuite {

  test("type exclusion matches the reference's negative list") {
    assert(!Catalog.isExportableType("BLOB"))
    assert(!Catalog.isExportableType("CLOB"))
    assert(!Catalog.isExportableType("RAW"))
    assert(!Catalog.isExportableType("INTERVAL YEAR TO MONTH"))
    assert(!Catalog.isExportableType("INTERVAL DAY TO SECOND"))
    assert(Catalog.isExportableType("NUMBER"))
    assert(Catalog.isExportableType("VARCHAR2"))
    assert(Catalog.isExportableType("TIMESTAMP(6)"))
  }

  test("include/exclude composition implements intended A4 semantics") {
    val tables = Seq("ORDERS", "ORDERS_ARCHIVE", "CUSTOMER", "TMP_LOAD")
    assert(Catalog.filterTables(tables, ".*".r, None) === tables.sorted)
    assert(Catalog.filterTables(tables, "^ORDERS".r, None) ===
      Seq("ORDERS", "ORDERS_ARCHIVE"))
    assert(Catalog.filterTables(tables, ".*".r, Some("ARCHIVE|TMP".r)) ===
      Seq("CUSTOMER", "ORDERS"))
    assert(Catalog.filterTables(tables, "^ORDERS".r, Some("ARCHIVE".r)) ===
      Seq("ORDERS"))
  }

  test("generated discovery SQL is well-formed: exclude precedes ORDER BY") {
    val sql = Catalog.tablesSql(excludePattern = true)
    val excludeIdx = sql.indexOf("NOT REGEXP_LIKE")
    val orderIdx = sql.indexOf("ORDER BY")
    assert(excludeIdx >= 0 && orderIdx > excludeIdx,
      "exclude clause must come before ORDER BY (upstream bug fixed)")
    assert(sql.contains("external = 'NO'") && sql.contains("temporary = 'N'"))
    assert(Catalog.columnsSql.contains("ORDER BY column_id ASC"))
    assert(Catalog.columnsSql.contains("'BLOB'"))
  }

  test("parquet catalog discovers fixture tables with filters") {
    val cat = new ParquetCatalog(Paths.get("/root/testdata"))
    val all = cat.listTables("sf0.001", ".*".r, None)
    assert(all.contains("lineitem") && all.contains("orders") && all.size === 10)
    assert(cat.listTables("sf0.001", "^e".r, None) === Seq("embeddings", "events"))
    assert(cat.listTables("sf0.001", ".*".r, Some("s$".r)) ===
      Seq("customer", "lineitem", "nation", "part", "region", "supplier"))
    assert(cat.listTables("missing_schema", ".*".r, None) === Seq.empty)
  }
}

class ProjectionSpec extends AnyFunSuite {

  test("column sql quotes case-exactly and aliases lowercase on demand") {
    assert(Projection.columnSql(Seq("COL_A", "ColB"), lowercase = false) ===
      "\"COL_A\", \"ColB\"")
    assert(Projection.columnSql(Seq("COL_A", "already_lower"), lowercase = true) ===
      "\"COL_A\" AS \"col_a\", \"already_lower\"")
  }

  test("lowercase object-name mapping is idempotent (property)") {
    val prop = org.scalacheck.Prop.forAll { (s: String) =>
      val once = Projection.objectName(s, lowercase = true)
      Projection.objectName(once, lowercase = true) == once
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }
}

class SinkExporterSpec extends AnyFunSuite {
  import SparkTestSession._

  private def freshDir(): String = {
    val p = Files.createTempDirectory("graft-sink")
    Files.delete(p)
    p.toString
  }

  test("sink refuses existing output without overwrite, wipes with it") {
    val out = freshDir()
    Files.createDirectories(Paths.get(out, "stale"))
    val cfgNo = ExportConfig(outputDirectory = out, overwrite = false)
    intercept[IllegalStateException](new ParquetSink(cfgNo).prepareRoot())
    val cfgYes = ExportConfig(outputDirectory = out, overwrite = true)
    new ParquetSink(cfgYes).prepareRoot()
    assert(!Files.exists(Paths.get(out, "stale")))
  }

  test("catalog listing and output-root wipes close their directory streams") {
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs Linux /proc/self/fd")
    def openFds(): Int = fdDir.list().length
    val fixture = Paths.get(sf)
    val cat = new ParquetCatalog(fixture.getParent)
    val sink = new ParquetSink(ExportConfig(outputDirectory = freshDir(), overwrite = true))
    sink.prepareRoot()
    val before = openFds()
    (1 to 200).foreach { _ =>
      cat.listTables(fixture.getFileName.toString, ".*".r, None)
      sink.prepareRoot()
    }
    val grown = openFds() - before
    assert(grown < 50, s"$grown descriptors leaked over 200 listings and wipes")
  }

  test("byte-target splitting produces multiple bounded files") {
    val out = freshDir()
    // ~60k rows of lineitem ~= a few MB in memory; 200KB target => many files
    val cfg = ExportConfig(outputDirectory = out, overwrite = true,
      parquetMaxFileSize = 200000L, compressionMethod = "snappy")
    val sink = new ParquetSink(cfg)
    sink.prepareRoot()
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val stats = sink.writeTable(df, "main", "lineitem")
    assert(stats.files > 1, s"expected multiple rolled files, got ${stats.files}")
    val back = spark.read.parquet(stats.outputDir)
    assert(back.count() === df.count())
  }

  test("row-group size knob controls parquet footer block count (A12 parity)") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def rowGroups(dir: String): Int = {
      val conf = spark.sessionState.newHadoopConf()
      val parts = Files.list(Paths.get(dir)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
      parts.map { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
        try r.getFooter.getBlocks.size finally r.close()
      }.sum
    }
    val df = spark.read.parquet(s"$sf/lineitem.parquet").coalesce(1)
    // default: parquet-mr's 128 MB block => one row group for sf0.001
    val outDefault = freshDir()
    val statsDefault = new ParquetSink(ExportConfig(outputDirectory = outDefault,
      overwrite = true)).writeTable(df, "m", "li")
    assert(rowGroups(statsDefault.outputDir) === statsDefault.files)
    // 64 KB target => parquet-mr must roll many row groups in one file
    val outSmall = freshDir()
    val statsSmall = new ParquetSink(ExportConfig(outputDirectory = outSmall,
      overwrite = true, parquetRowGroupSize = Some(65536L)))
      .writeTable(df, "m", "li")
    assert(rowGroups(statsSmall.outputDir) > statsSmall.files,
      "expected multiple row groups per file under the 64 KB target")
  }

  test("dotenv file backfills config under env precedence (A19 parity)") {
    val dir = Files.createTempDirectory("graft-dotenv")
    val f = dir.resolve(".env")
    Files.writeString(f,
      """# comment
        |export DATABASE_USERNAME=dotenvuser
        |BATCH_SIZE="123"
        |DATABASE_HOSTNAME=dotenvhost
        |not a kv line
        |""".stripMargin)
    val cfg = ExportConfig.fromEnv(Map("DATABASE_HOSTNAME" -> "envhost"), f)
    assert(cfg.username === "dotenvuser") // .env fills the gap
    assert(cfg.batchSize === 123)         // quotes stripped, export prefix ok
    assert(cfg.hostname === "envhost")    // process env beats .env
    // missing file degrades to pure env (the common case)
    val none = ExportConfig.fromEnv(Map.empty, dir.resolve("absent.env"))
    assert(none === ExportConfig())
  }

  test("exporter end-to-end from parquet catalog: layout, rows, lowercase") {
    val out = freshDir()
    val cfg = ExportConfig(outputDirectory = out, overwrite = true,
      schemas = Seq("sf0.001"), tableNameIncludePattern = "^(region|nation)$",
      lowercaseObjectNames = true, compressionMethod = "zstd")
    val catalog = new ParquetCatalog(Paths.get("/root/testdata"))
    val exporter = new Exporter(cfg, catalog, new ParquetSource(catalog),
      new ParquetSink(cfg))
    val report = exporter.exportTables(spark)
    assert(report.tables.map(_.table).sorted === Seq("nation", "region"))
    assert(report.totalRows === 30) // 25 nations + 5 regions
    assert(Files.exists(Paths.get(out, "sf0.001", "region")))
    assert(report.seconds > 0)
  }

  test("cluster-by export: hilbert layout via the config flag, rows preserved, files range-clustered") {
    // round-12 verdict task 7: the curve-clustered writes are reachable
    // through the export config, not just the ops API. Layout check:
    // each output file must cover a NARROW slice of the curve-key
    // space — with the write range-partitioned on the curve value, the
    // per-file bounding boxes cannot all span the global range.
    val out = freshDir()
    val cfg = ExportConfig(outputDirectory = out, overwrite = true,
      schemas = Seq("sf0.001"), tableNameIncludePattern = "^lineitem$",
      clusterBy = Some(ClusterSpec.parse("l_partkey,l_orderkey:hilbert")))
    val catalog = new ParquetCatalog(Paths.get("/root/testdata"))
    val report = new Exporter(cfg, catalog, new ParquetSource(catalog),
      new ParquetSink(cfg)).exportTables(spark)
    assert(report.tables.map(_.table) === Seq("lineitem"))
    val src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    assert(report.totalRows === src.count())
    val dir = Paths.get(out, "sf0.001", "lineitem")
    val files = Files.list(dir).iterator()
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    files.forEachRemaining(p =>
      if (p.getFileName.toString.endsWith(".parquet")) parts += p.toString)
    assert(parts.length === report.tables.head.files)
    if (parts.length >= 2) {
      // per-file partkey spans: clustered files each cover a fraction
      // of the global range; their MEAN span must be well under it
      import org.apache.spark.sql.functions._
      val spans = parts.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("l_partkey"), max("l_partkey")).head()
        r.getLong(1) - r.getLong(0)
      }
      val g = src.agg(min("l_partkey"), max("l_partkey")).head()
      val global = (g.getLong(1) - g.getLong(0)).toDouble
      assert(spans.sum / spans.length < global,
        s"clustered per-file spans $spans not narrower than global $global")
    }
    // an empty table (rowLimit = 0) reports 0 rows and is written in
    // the plain layout, whose reported files are the files on disk
    import scala.jdk.CollectionConverters._
    val outEmpty = freshDir()
    val cfgEmpty = cfg.copy(outputDirectory = outEmpty, rowLimit = 0L)
    val empty = new Exporter(cfgEmpty, catalog, new ParquetSource(catalog),
      new ParquetSink(cfgEmpty)).exportTables(spark)
    assert(empty.totalRows === 0)
    val emptyDir = Paths.get(outEmpty, "sf0.001", "lineitem")
    val emptyParts = Files.list(emptyDir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(empty.tables.head.files === emptyParts)
    assert(spark.read.parquet(emptyDir.toString).count() === 0)
  }

  test("parallel export equals sequential export") {
    val outSeq = freshDir(); val outPar = freshDir()
    val catalog = new ParquetCatalog(Paths.get("/root/testdata"))
    def run(out: String, par: Int) = {
      // events included deliberately: its TIMESTAMP(NANOS) schema must
      // not race the session conf under parallel export
      val cfg = ExportConfig(outputDirectory = out, overwrite = true,
        schemas = Seq("sf0.001"), tableNameIncludePattern = "^(region|nation|supplier|part|events)$")
      new Exporter(cfg, catalog, new ParquetSource(catalog),
        new ParquetSink(cfg), tableParallelism = par).exportTables(SparkTestSession.spark)
    }
    val seq = run(outSeq, 1)
    val par = run(outPar, 4)
    assert(par.tables.map(t => (t.schema, t.table, t.rows)) ===
      seq.tables.map(t => (t.schema, t.table, t.rows)))
    assert(par.totalRows === 1240) // 5 + 25 + 10 + 200 + 1000 events
  }

  test("partition bounds SQL pins the same SCN as the scan") {
    val src = new JdbcSource(ExportConfig(), scn = Some(777L))
    assert(src.partitionBoundsSql("S", "T", "ID") ===
      """SELECT MIN("ID"), MAX("ID") FROM "S"."T" AS OF SCN 777""")
  }

  test("row limit propagates to the scan") {
    val out = freshDir()
    val cfg = ExportConfig(outputDirectory = out, overwrite = true,
      schemas = Seq("sf0.001"), tableNameIncludePattern = "^orders$",
      rowLimit = 100L)
    val catalog = new ParquetCatalog(Paths.get("/root/testdata"))
    val report = new Exporter(cfg, catalog, new ParquetSource(catalog),
      new ParquetSink(cfg)).exportTables(spark)
    assert(report.totalRows === 100)
  }
}

class JdbcSourceSpec extends AnyFunSuite {

  test("generated SELECT matches the reference contract plus AS OF SCN") {
    val cfg = ExportConfig(rowLimit = 50L)
    val src = new JdbcSource(cfg, scn = Some(12345L))
    val sql = src.selectSql("HR", "EMPLOYEES", Seq("ID", "Name"), lowercase = true)
    assert(sql ===
      """SELECT "ID" AS "id", "Name" AS "name" FROM "HR"."EMPLOYEES" AS OF SCN 12345 FETCH FIRST 50 ROWS ONLY""")
    val noPin = new JdbcSource(cfg.copy(rowLimit = -1L), scn = None)
    assert(noPin.selectSql("S", "T", Seq("C"), lowercase = false) ===
      """SELECT "C" FROM "S"."T"""")
    assert(src.currentScnSql.contains("v$database"))
  }

  test("jdbc url built from config parts") {
    val cfg = ExportConfig(hostname = "db", port = 1522, serviceName = "X")
    assert(cfg.jdbcUrl === "jdbc:oracle:thin:@//db:1522/X")
  }
}

class CliSpec extends AnyFunSuite {

  test("flag parsing mirrors the reference surface") {
    val Right((cfg, extras)) = graft.cli.Main.parseArgs(Seq(
      "--username", "u", "--password", "secret", "--schema", "A", "--schema", "B",
      "--table-name-exclude-pattern", "TMP.*", "--overwrite",
      "--compression-method", "gzip", "--row-limit", "7",
      "--isolation-level", "READ COMMITTED", "--lowercase-object-names",
      "--parquet-max-file-size", "1000000",
      "--source-format", "parquet", "--source-root", "/tmp/x",
      "--export-parallelism", "3")): @unchecked
    assert(cfg.schemas === Seq("A", "B"))
    assert(cfg.tableNameExcludePattern === Some("TMP.*"))
    assert(cfg.overwrite && cfg.lowercaseObjectNames)
    assert(cfg.compressionMethod === "gzip" && cfg.rowLimit === 7L)
    assert(cfg.isolationLevel === IsolationLevel.ReadCommitted)
    assert(extras("source-format") === "parquet")
    assert(extras("export-parallelism") === "3")
  }

  test("cluster-by flag: parses cols + curve, defaults to morton, rejects malformed specs") {
    val Right((h, _)) = graft.cli.Main.parseArgs(
      Seq("--cluster-by", "l_partkey,l_orderkey:hilbert")): @unchecked
    assert(h.clusterBy === Some(ClusterSpec("l_partkey", "l_orderkey", "hilbert")))
    val Right((m, _)) = graft.cli.Main.parseArgs(
      Seq("--cluster-by", "x,y")): @unchecked
    assert(m.clusterBy === Some(ClusterSpec("x", "y", "morton")))
    assert(graft.cli.Main.parseArgs(Seq("--cluster-by", "onlyone")).isLeft)
    assert(graft.cli.Main.parseArgs(Seq("--cluster-by", "x,y:peano")).isLeft)
  }

  test("column profile: one row per column, consistent bounds, single scan") {
    import SparkTestSession._
    val df = ops.ExportOps.qColumnProfile(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getAs[String]("col_name")).toSeq ===
      Seq("l_discount", "l_extendedprice", "l_quantity"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nulls") >= 0L)
      assert(r.getAs[Long]("ndv") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("avg_v"))
      assert(r.getAs[Double]("avg_v") <= r.getAs[Double]("max_v"))
    }
    // single-pass shape: exactly one relation leaf (one lineitem scan)
    // in the optimized plan — profiling N columns must not scan N times
    val leaves = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l
    }
    assert(leaves.length === 1)
  }

  test("version short-circuits; unknown flag rejected; password redacted") {
    assert(graft.cli.Main.parseArgs(Seq("--version")).isLeft)
    assert(graft.cli.Main.parseArgs(Seq("--nope")).isLeft)
    // bad values are rejected before any SparkSession starts, with the
    // prefixes main maps to exit code 2
    for (bad <- Seq("0", "-1", "two"))
      assert(graft.cli.Main.parseArgs(Seq("--export-parallelism", bad))
        .left.exists(_.startsWith("bad numeric value")), bad)
    assert(graft.cli.Main.parseArgs(Seq("--source-format", "parquet"))
      .left.exists(_.startsWith("missing value for --source-root")))
    // environment defaults take the same path as flags: no exception
    // escapes parseArgs
    for ((k, v, prefix) <- Seq(("BATCH_SIZE", "abc", "bad numeric value"),
        ("DATABASE_PORT", "x", "bad numeric value"),
        ("BATCH_SIZE", "0", "bad flag value"),
        ("ISOLATION_LEVEL", "sometimes", "bad flag value")))
      assert(graft.cli.Main.parseArgs(Seq.empty, Map(k -> v))
        .left.exists(_.startsWith(prefix)), s"$k=$v")
    val Right((cfg, _)) =
      graft.cli.Main.parseArgs(Seq("--password", "hunter2")): @unchecked
    assert(!graft.cli.Main.redacted(cfg).contains("hunter2"))
  }

  test("env fallbacks apply with explicit args winning") {
    val env = Map("DATABASE_USERNAME" -> "envuser", "BATCH_SIZE" -> "777",
      "ISOLATION_LEVEL" -> "READ COMMITTED")
    val Right((cfg, _)) =
      graft.cli.Main.parseArgs(Seq("--username", "argued"), env): @unchecked
    assert(cfg.username === "argued")
    assert(cfg.batchSize === 777)
    assert(cfg.isolationLevel === IsolationLevel.ReadCommitted)
  }
}
