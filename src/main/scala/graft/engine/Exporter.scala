package graft.engine

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import scala.util.matching.Regex

/** Orchestration (reference A17-A18): schema loop -> table loop ->
  * discover columns -> project -> scan -> sink, with per-scope timing.
  *
  * Where the reference is strictly sequential over one connection
  * (main.py:219-263), each table here is an independent Spark job, and
  * `lanes` tables are in flight at once on one SparkSession: the
  * `tableParallelism` given (`--export-parallelism`), else
  * [[Exporter.DefaultLanes]], never more than there are tables. Each
  * lane is one source session (one Oracle connection per partition of
  * its scan), so the default stays at the value measured, not at one
  * derived from the session's cores. Reports come back sorted by
  * (schema, table), whatever order the tables finished in.
  */
final case class TableReport(schema: String, table: String, rows: Long,
    files: Int, bytes: Long, seconds: Double)
final case class ExportReport(tables: Seq[TableReport], seconds: Double, lanes: Int) {
  def totalRows: Long = tables.map(_.rows).sum
  def totalBytes: Long = tables.map(_.bytes).sum
}

final class Exporter(
    cfg: ExportConfig,
    catalog: TableCatalog,
    source: TableSource,
    sink: ParquetSink,
    tableParallelism: Option[Int] = None) {

  private val include: Regex = cfg.tableNameIncludePattern.r
  private val exclude: Option[Regex] = cfg.tableNameExcludePattern.map(_.r)

  def exportTables(spark: SparkSession): ExportReport = {
    val t0 = System.nanoTime()
    // session-wide, BEFORE any concurrent per-table work: schema
    // inference of a TIMESTAMP(NANOS) table must not race the first
    // ParquetSource.read that would otherwise set this
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink.prepareRoot()
    val targets = for {
      schema <- cfg.schemas
      table <- catalog.listTables(schema, include, exclude)
    } yield (schema, table)
    val lanes = math.max(1, math.min(targets.size,
      tableParallelism.getOrElse(Exporter.DefaultLanes)))
    ExportReport(inLanes(spark, targets, lanes).sortBy(r => (r.schema, r.table)),
      (System.nanoTime() - t0) / 1e9, lanes)
  }

  /** Exports `targets` on `lanes` pool threads. The first table to fail
    * stops the run: no queued table starts, the Spark jobs then running
    * for the tables in flight are cancelled, a table in flight that has
    * not reached its write skips it, and once every lane has returned
    * the failure is rethrown naming its table. The cancel is best
    * effort: a sibling between two of its jobs at that moment (in
    * `listColumns`, or between the bounds aggregate, the sample and the
    * write of a clustered table) runs its next job to the end. A fatal
    * error is not caught here: it fails its own lane only. */
  private def inLanes(spark: SparkSession, targets: Seq[(String, String)],
      lanes: Int): Seq[TableReport] = {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    val sc = spark.sparkContext
    val tag = s"graft-export-${java.util.UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]()
    val pool = Executors.newFixedThreadPool(lanes)
    val reports = try targets.map { case (s, t) =>
      pool.submit(new Callable[Option[TableReport]] { def call() =
        if (failure.get() != null) None
        else {
          sc.addJobTag(tag)
          try exportTable(spark, s, t, live = () => failure.get() == null)
          catch {
            case NonFatal(e) =>
              if (failure.compareAndSet(null,
                  new RuntimeException(s"export of $s.$t failed: $e", e)))
                sc.cancelJobsWithTag(tag, s"export of $s.$t failed")
              None
          } finally sc.removeJobTag(tag)
        }
      })
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    Option(failure.get()).foreach(e => throw e)
    reports.flatMap(_.get())
  }

  /** One table end-to-end; `None` when every column is excluded (the
    * reference logs a warning and skips, main.py:140-142), or when
    * `live` turns false before the write. */
  private def exportTable(spark: SparkSession, schema: String, table: String,
      live: () => Boolean): Option[TableReport] = {
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
      // a failed sibling has stopped the run: no write job is started
      Option.when(live()) {
        val stats = cfg.clusterBy match {
          case Some(cs) if colNames.contains(cs.x) && colNames.contains(cs.y) =>
            sink.writeClustered(df, schema, table, cs, cols)
          // tables without the curve columns keep the plain layout —
          // --cluster-by targets the fact tables that carry them
          case _ => sink.writeTable(df, schema, table, cols)
        }
        TableReport(schema, table, stats.rows, stats.files, stats.bytes,
          (System.nanoTime() - t0) / 1e9)
      }
    }
  }
}

object Exporter {
  /** Tables in flight when `--export-parallelism` is not given: the lane
    * count measured on a 4-core local session, where 2 lanes halved the
    * export pass and 4 lanes doubled a small table's own time. */
  val DefaultLanes: Int = 2
}
