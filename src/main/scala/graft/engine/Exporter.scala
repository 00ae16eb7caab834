package graft.engine

import org.apache.spark.sql.SparkSession
import scala.util.matching.Regex

/** Orchestration (reference A17-A18): schema loop -> table loop ->
  * discover columns -> project -> scan -> sink, with per-scope timing.
  *
  * Where the reference is strictly sequential over one connection
  * (main.py:219-263), each table here is an independent Spark job:
  * intra-table parallelism comes from source partitioning and tables
  * can be submitted concurrently on one SparkSession from a thread
  * pool at cluster scale. Sequential submission is kept as the default
  * for deterministic logs, matching the reference's observable order.
  */
final case class TableReport(schema: String, table: String, rows: Long,
    files: Int, seconds: Double)
final case class ExportReport(tables: Seq[TableReport], seconds: Double) {
  def totalRows: Long = tables.map(_.rows).sum
}

final class Exporter(
    cfg: ExportConfig,
    catalog: TableCatalog,
    source: TableSource,
    sink: ParquetSink,
    tableParallelism: Int = 1) {

  private val include: Regex = cfg.tableNameIncludePattern.r
  private val exclude: Option[Regex] = cfg.tableNameExcludePattern.map(_.r)

  def exportTables(spark: SparkSession): ExportReport = {
    val t0 = System.nanoTime()
    // session-wide, BEFORE any (possibly concurrent) per-table work:
    // schema inference of a TIMESTAMP(NANOS) table must not race the
    // first ParquetSource.read that would otherwise set this
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink.prepareRoot()
    val targets = for {
      schema <- cfg.schemas
      table <- catalog.listTables(schema, include, exclude)
    } yield (schema, table)
    // Spark jobs are thread-safe on one session: with parallelism > 1,
    // per-table jobs overlap scheduling/IO (the reference is strictly
    // sequential over one connection, main.py:239-263). Reports come
    // back in deterministic (schema, table) order either way.
    val reports =
      if (tableParallelism <= 1) targets.flatMap { case (s, t) => exportTable(spark, s, t) }
      else {
        import java.util.concurrent.Executors
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = Executors.newFixedThreadPool(tableParallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val fs = targets.map { case (s, t) => Future(exportTable(spark, s, t)) }
          Await.result(Future.sequence(fs), Duration.Inf).flatten
        } finally pool.shutdown()
      }
    ExportReport(reports.sortBy(r => (r.schema, r.table)),
      (System.nanoTime() - t0) / 1e9)
  }

  /** One table end-to-end; `None` when every column is excluded (the
    * reference logs a warning and skips, main.py:140-142). */
  def exportTable(spark: SparkSession, schema: String,
      table: String): Option[TableReport] = {
    val t0 = System.nanoTime()
    val cols = catalog.listColumns(schema, table)
      .filter(c => Catalog.isExportableType(c.dataType))
      .sortBy(_.position)
    if (cols.isEmpty) None
    else {
      val df = source.read(spark, schema, table, cols,
        cfg.lowercaseObjectNames, cfg.rowLimit)
      // rows come from the sink's observe() metric on the write job —
      // one scan per table, no re-read of the output. With --cluster-by
      // and both curve columns present (numeric, by contract), the
      // table instead takes the curve-clustered layout path, whose
      // bounds aggregate also counts the rows that size the file count
      // for the byte target, then the range-partitioned curve sort
      // writes — the extra passes are the documented price of the
      // opt-in layout optimization (clustered writes must know their
      // file count up front; the reference has no counterpart flag).
      val colNames = df.columns.toSet
      val stats = cfg.clusterBy match {
        case Some(cs) if colNames.contains(cs.x) && colNames.contains(cs.y) =>
          sink.writeClustered(df, schema, table, cs)
        // tables without the curve columns keep the plain layout —
        // --cluster-by targets the fact tables that carry them
        case _ => sink.writeTable(df, schema, table)
      }
      Some(TableReport(schema, table, stats.rows, stats.files,
        (System.nanoTime() - t0) / 1e9))
    }
  }
}
