package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one Parquet table read of the export engine and the query
  * operators: Spark's own reader, with each table's schema inferred once
  * per file set instead of once per read.
  *
  * `spark.read.parquet(path)` infers the schema while the DataFrame is
  * built, and that inference is a Spark job (a parallel footer read):
  * 110-150 ms per read at sf0.01 on local[4], against 15-25 ms and no job
  * when the schema is passed in. Every loader call paid it, so a query
  * reading three tables launched three jobs before it had a plan.
  *
  * Here one entry is kept per path and Parquet conf key (every
  * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` conf set on the
  * session, plus `spark.sql.caseSensitive`: the confs that change what
  * inference returns). The entry holds the table's fingerprint (name,
  * length and mtime of every data file, from one Hadoop-FS listing) and
  * the schema. A read lists the files first; when the entry's fingerprint
  * matches, it passes the stored schema to the reader, and otherwise it
  * runs Spark's own inference and replaces the entry. Only schemas are
  * kept: no data, no plans, so `clearCache` and every reader option
  * behave as before.
  */
object ParquetTables {

  /** (path relative to the table path, length, mtime) of every data file
    * of a table, sorted. */
  private[graft] type Fingerprint = Vector[(String, Long, Long)]

  /** Values derived from a table's files, each valid while the files'
    * fingerprint is unchanged. A miss computes outside any map lock, so a
    * slow inference never blocks reads of other tables; concurrent misses
    * on one key may each compute, and the last one stored wins. The
    * fingerprint is always listed BEFORE the value is computed: a rewrite
    * in between pairs the new value with the old fingerprint, which the
    * next read re-lists and misses on, never the reverse. */
  private final class Memo[K, V] {
    private val entries = new ConcurrentHashMap[K, (Fingerprint, V)]()
    def apply(key: K, fp: Fingerprint)(compute: => V): V =
      Option(entries.get(key)).collect { case (`fp`, v) => v }.getOrElse {
        val v = compute
        entries.put(key, (fp, v))
        v
      }
  }

  private val schemas = new Memo[(String, Seq[(String, String)]), StructType]
  private val nanosColumns = new Memo[(String, String), Boolean]
  private val widths = new Memo[String, Map[String, Int]]

  /** The data files of the table at `path` (a Parquet file, or a
    * directory of part files and partition directories), skipping what
    * Spark's file index skips: any name under `path` starting with `_` or
    * `.` (`_SUCCESS`, checksum files, sidecar markers). Each file's path
    * is relative to `path` ("" for a single-file table, "/part-…" under a
    * directory). None when the path cannot be listed. The one table
    * listing of the repo: the sidecar markers ([[graft.ops.Fixtures]])
    * fingerprint their source tables with it too. */
  private[graft] def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.getFileStatus(p).getPath.toString
      val files = fs.listFiles(p, true)
      Some(Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString.stripPrefix(root), f.getLen, f.getModificationTime))
        .filterNot(_._1.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))
        .toVector.sorted)
    } catch { case _: java.io.IOException => None }

  private def confKey(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  /** The Parquet table at `path`, read with its memoized schema. */
  def read(spark: SparkSession, path: String): DataFrame = sized(spark, path)._1

  /** [[read]] plus the table's size on disk: the sum of the data-file
    * lengths of the same listing, or Long.MaxValue when `path` cannot be
    * listed (that read goes to Spark unchanged, so a missing path fails
    * with Spark's own error). */
  def sized(spark: SparkSession, path: String): (DataFrame, Long) =
    fingerprint(spark, path) match {
      case None => (spark.read.parquet(path), Long.MaxValue)
      case Some(fp) =>
        val schema = schemas((path, confKey(spark)), fp)(spark.read.parquet(path).schema)
        (spark.read.schema(schema).parquet(path), fp.iterator.map(_._2).sum)
    }

  /** True iff the footer of the table's first data file declares
    * `column` as TIMESTAMP(NANOS), which Spark's reader rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong` is set. Reads one footer on
    * the driver (no Spark job), memoized on the same fingerprint. */
  def timestampNanos(spark: SparkSession, path: String, column: String): Boolean =
    fingerprint(spark, path).filter(_.nonEmpty).exists(fp =>
      nanosColumns((path, column), fp) {
        import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
        firstFooter(spark, path, fp) { footer =>
          val schema = footer.getFileMetaData.getSchema
          schema.containsField(column) &&
            (schema.getType(schema.getFieldIndex(column)).getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
              case _ => false
            })
        }
      })

  /** Bytes per value of each top-level column of the table, from the
    * footer of its first data file: the column chunks' uncompressed
    * (encoded, not yet compressed) bytes over the file's row count,
    * rounded up. Empty when that file holds no rows. Reads one footer on
    * the driver (no Spark job), memoized on the same fingerprint. */
  def valueWidths(spark: SparkSession, path: String): Map[String, Int] =
    fingerprint(spark, path).filter(_.nonEmpty).map(fp =>
      widths(path, fp) {
        import scala.jdk.CollectionConverters._
        firstFooter(spark, path, fp) { footer =>
          val blocks = footer.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          if (rows == 0L) Map.empty[String, Int]
          else blocks.flatMap(_.getColumns.asScala).filter(_.getPath.size == 1)
            .groupMapReduce(_.getPath.toDotString)(_.getTotalUncompressedSize)(_ + _)
            .map { case (c, bytes) => c -> math.min(Int.MaxValue, (bytes + rows - 1) / rows).toInt }
        }
      }).getOrElse(Map.empty)

  private def firstFooter[A](spark: SparkSession, path: String, fp: Fingerprint)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path + fp.head._1), spark.sparkContext.hadoopConfiguration))
    try f(reader.getFooter) finally reader.close()
  }
}
