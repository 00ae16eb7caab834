package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table scan sources (reference A8-A11, A15, A20).
  *
  * The reference streams `SELECT <cols> FROM "S"."T" [FETCH FIRST n
  * ROWS ONLY]` over a single connection (main.py:144-158). The Spark
  * equivalents:
  *  - [[ParquetSource]]: staged-Parquet scan — the testable path and
  *    the input side of every Tier-B operator.
  *  - [[JdbcSource]]: Oracle scan via Spark's JDBC reader. Projection
  *    and limit are authored into the dbtable subquery exactly like the
  *    reference; snapshot consistency is rebuilt with flashback
  *    (`AS OF SCN`) because Spark opens one connection per partition —
  *    a single driver-side SCN pin replaces the reference's
  *    one-SERIALIZABLE-connection trick (main.py:219-223, SURVEY §7.4).
  *    Unlike the reference (sequential, parallelism=1), scans can
  *    partition on a numeric column for intra-table parallel reads.
  */
trait TableSource {
  def read(spark: SparkSession, schema: String, table: String,
      cols: Seq[ColumnMeta], lowercase: Boolean, rowLimit: Long): DataFrame
}

final class ParquetSource(catalog: ParquetCatalog) extends TableSource {
  override def read(spark: SparkSession, schema: String, table: String,
      cols: Seq[ColumnMeta], lowercase: Boolean, rowLimit: Long): DataFrame = {
    // TIMESTAMP(NANOS) columns are rejected by Spark's reader outright;
    // surface them as raw int64 nanoseconds instead — a lossless export
    // (the reference likewise emits whatever physical type the driver
    // hands it, main.py:156-170).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = ParquetTables.read(spark, catalog.tablePath(schema, table))
    val projected = Projection(df, cols.map(_.name), lowercase)
    if (rowLimit >= 0) projected.limit(rowLimit.toInt) else projected
  }
}

object JdbcSource {

  /** SQL that fetches the SCN to pin, issued once on the driver. */
  val currentScnSql: String = "SELECT current_scn FROM v$database"

  /** Driver-side pin decision (reference main.py:219-223,430-437): under
    * SERIALIZABLE against Oracle, fetch ONE SCN for the whole run so
    * every per-table scan (and every partition's connection) reads the
    * same snapshot; under READ COMMITTED, no pin. A non-Oracle URL
    * (offline tests, `--jdbc-url` overrides) has no flashback — that
    * downgrade is reported loudly, never silent. */
  def pinScn(isolation: IsolationLevel, url: String, fetchScn: () => Long,
      log: String => Unit = println): Option[Long] = isolation match {
    case IsolationLevel.ReadCommitted => None
    case IsolationLevel.Serializable if url.startsWith("jdbc:oracle:") =>
      Some(fetchScn())
    case IsolationLevel.Serializable =>
      log(s"[export] WARN: SERIALIZABLE requested but '$url' is not an " +
        "Oracle URL; flashback SCN pinning unavailable, reading current data")
      None
  }

  /** One driver-side round trip for the run's SCN. */
  def fetchCurrentScn(url: String, user: String, password: String): Long = {
    val c =
      if (user.nonEmpty) java.sql.DriverManager.getConnection(url, user, password)
      else java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(currentScnSql)
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }
}

/** Oracle JDBC source. `scn = Some(n)` pins every scan of the run to
  * one System Change Number (SERIALIZABLE-equivalent consistency);
  * `None` reads current data (READ COMMITTED-equivalent). */
final class JdbcSource(
    cfg: ExportConfig,
    scn: Option[Long],
    partitionColumn: Option[(String, Long, Long, Int)] = None,
    urlOverride: Option[String] = None)
  extends TableSource {

  private def url: String = urlOverride.getOrElse(cfg.jdbcUrl)

  /** The SELECT text pushed to Oracle — observable contract matching
    * the reference's generated SQL (main.py:144-146) plus the AS OF
    * SCN clause that replaces session-level isolation pinning. */
  def selectSql(schema: String, table: String, cols: Seq[String],
      lowercase: Boolean): String = {
    val proj = Projection.columnSql(cols, lowercase)
    val flashback = scn.map(n => s" AS OF SCN $n").getOrElse("")
    val limit = if (cfg.rowLimit >= 0) s" FETCH FIRST ${cfg.rowLimit} ROWS ONLY" else ""
    s"""SELECT $proj FROM "$schema"."$table"$flashback$limit"""
  }

  /** SQL that fetches the SCN to pin, issued once on the driver. */
  def currentScnSql: String = JdbcSource.currentScnSql

  /** Bounds query for intra-table parallel reads: min/max of the chosen
    * partition column at the SAME pinned SCN, so partition ranges and
    * data snapshot agree. */
  def partitionBoundsSql(schema: String, table: String, column: String): String = {
    val flashback = scn.map(n => s" AS OF SCN $n").getOrElse("")
    s"""SELECT MIN("$column"), MAX("$column") FROM "$schema"."$table"$flashback"""
  }

  /** DDL spec pinning the Catalyst schema for the JDBC reader (Oracle
    * URLs only — other engines' TYPE_NAMEs have different semantics,
    * e.g. Derby DATE is date-only while Oracle DATE carries time).
    * Columns the map doesn't cover fall back to driver inference. */
  def customSchemaFor(cols: Seq[ColumnMeta], lowercase: Boolean): Option[String] = {
    if (!url.startsWith("jdbc:oracle:")) None
    else {
      val specs = cols.flatMap { m =>
        OracleTypeMap.toCatalyst(m).map { dt =>
          val n = if (lowercase) m.name.toLowerCase else m.name
          s"`$n` ${dt.sql}"
        }
      }
      if (specs.isEmpty) None else Some(specs.mkString(", "))
    }
  }

  override def read(spark: SparkSession, schema: String, table: String,
      cols: Seq[ColumnMeta], lowercase: Boolean, rowLimit: Long): DataFrame = {
    // the derived-table correlation name is required by ANSI engines
    // (Derby) and legal without AS in Oracle
    var reader = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"(${selectSql(schema, table, cols.map(_.name), lowercase)}) export_src")
      .option("fetchsize", cfg.batchSize)
    customSchemaFor(cols, lowercase).foreach { ddl =>
      reader = reader.option("customSchema", ddl)
    }
    if (cfg.username.nonEmpty)
      reader = reader.option("user", cfg.username).option("password", cfg.password)
    if (urlOverride.isEmpty)
      reader = reader.option("sessionInitStatement",
        "ALTER SESSION SET NLS_TIMESTAMP_FORMAT = 'YYYY-MM-DD HH24:MI:SSXFF'")
    val withPartitioning = partitionColumn match {
      case Some((colName, lo, hi, n)) => reader
        .option("partitionColumn", colName)
        .option("lowerBound", lo)
        .option("upperBound", hi)
        .option("numPartitions", n)
      case None => reader
    }
    withPartitioning.load()
  }
}
