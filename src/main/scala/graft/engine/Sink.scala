package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Parquet sink (reference A12-A14): `{out}/{schema}/{table}/` layout,
  * codec selection, run-level overwrite semantics and byte-targeted
  * file splitting.
  *
  * The reference rolls to a new file when accumulated *uncompressed
  * in-memory* bytes exceed the target — documented as approximate
  * (main.py:174-183, 446-455). Spark splits by `maxRecordsPerFile`, so
  * the byte target is converted to a record budget from a sampled
  * average row width: the same "close, not guaranteed" contract at the
  * same granularity the reference offers, with no custom committer.
  */
final case class WriteStats(rows: Long, files: Int, outputDir: String)

final class ParquetSink(cfg: ExportConfig) {

  private val root: Path = Paths.get(cfg.outputDirectory)

  /** Run-level output-root preparation (main.py:225-232): existing dir
    * + overwrite -> wipe and recreate; existing dir without overwrite
    * -> abort; else create. */
  def prepareRoot(): Unit = {
    if (Files.exists(root)) {
      if (!cfg.overwrite)
        throw new IllegalStateException(
          s"output directory ${cfg.outputDirectory} exists and overwrite is disabled")
      deleteRecursively(root)
    }
    Files.createDirectories(root)
  }

  private def deleteRecursively(p: Path): Unit =
    Using.resource(Files.walk(p))(_.sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f)))

  /** Records-per-file budget hitting the byte target: sample up to
    * `sampleRows` rows, measure their average UnsafeRow width, divide.
    * In-memory row width stands in for uncompressed Arrow batch bytes —
    * the same estimator family as the reference's `Table.nbytes`. */
  def estimateRecordsPerFile(df: DataFrame, sampleRows: Int = 1000): Long = {
    val sample = df.limit(sampleRows)
      .queryExecution.toRdd.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getSizeInBytes.toLong)
      .collect()
    if (sample.isEmpty) Long.MaxValue
    else {
      val avg = math.max(1L, sample.sum / sample.length)
      math.max(1L, cfg.parquetMaxFileSize / avg)
    }
  }

  /** Hive-style partitioned write (`{dir}/{col}={value}/...`): exports
    * laid out for partition pruning, so downstream scans touching a
    * date/key range read only matching directories (PartitionFilters in
    * the scan, verified in ScaleSpec). The 100 TB default for fact
    * exports: partition by a low-cardinality time bucket, bucket by the
    * join key inside each partition. */
  def writePartitioned(df: DataFrame, schema: String, table: String,
      partitionCols: Seq[String]): WriteStats = {
    val s = Projection.objectName(schema, cfg.lowercaseObjectNames)
    val t = Projection.objectName(table, cfg.lowercaseObjectNames)
    val dir = root.resolve(s).resolve(t)
    df.write
      .mode(SaveMode.Overwrite)
      .option("compression", cfg.compressionMethod.replace("none", "uncompressed"))
      .options(rowGroupOpts)
      .partitionBy(partitionCols: _*)
      .parquet(dir.toString)
    WriteStats(rows = -1L, files = -1, outputDir = dir.toString)
  }

  /** Bucketed + sorted table write: co-locates future joins/aggregations
    * on `bucketCols` so they run shuffle-free (both sides pre-hashed
    * into the same bucket layout). This is the 100 TB path for repeated
    * fact-fact joins — the shuffle is paid once at export time instead
    * of per query. Registers `tableName` in the session catalog with
    * data at `{out}/{schema}/{table}`. */
  def writeBucketed(df: DataFrame, schema: String, table: String,
      tableName: String, bucketCols: Seq[String], buckets: Int): String = {
    val s = Projection.objectName(schema, cfg.lowercaseObjectNames)
    val t = Projection.objectName(table, cfg.lowercaseObjectNames)
    val dir = root.resolve(s).resolve(t)
    df.write
      .mode(SaveMode.Overwrite)
      .option("compression", cfg.compressionMethod.replace("none", "uncompressed"))
      .options(rowGroupOpts)
      .option("path", dir.toString)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
    dir.toString
  }

  /** Z-order clustered write: sorts the table along a Morton curve over
    * two numeric columns before writing, so per-file min/max footers
    * stay narrow on BOTH columns and scans filtered on either dimension
    * prune files. The complement to [[writeBucketed]]: bucketing
    * co-locates equi-joins, z-ordering co-locates range predicates.
    * One bounded aggregate fetches the two global ranges and the row
    * count; a fixed-seed sample of the z-value places the file bounds,
    * so the same input always yields the same files; the sort is a
    * shuffle into those ranges — fully distributed, no
    * single-partition funnel. */
  def writeZOrdered(df: DataFrame, schema: String, table: String,
      zCols: (String, String), files: Int): WriteStats =
    writeCurveClustered(df, schema, table, zCols, _ => Some(files),
      graft.functions.ZOrder.zValue(_, _, _, _, _, _))

  /** [[writeZOrdered]] on the Hilbert curve — same scaling, same
    * range-partitioned sort-within-files write, better 2-D locality
    * per file (the curve never jumps, so each file's footer box is
    * tighter; ZOrderSpec measures the difference). */
  def writeHilbertOrdered(df: DataFrame, schema: String, table: String,
      cCols: (String, String), files: Int): WriteStats =
    writeCurveClustered(df, schema, table, cCols, _ => Some(files),
      graft.functions.ZOrder.hilbertValue(_, _, _, _, _, _))

  /** The `--cluster-by` export write: `spec`'s curve layout with the
    * file count sized to the byte target — the row count of the bounds
    * aggregate over [[estimateRecordsPerFile]], at most 10,000 files —
    * so the table is counted once, by the aggregate the layout needs
    * anyway. An empty table takes the plain [[writeTable]] layout. */
  def writeClustered(df: DataFrame, schema: String, table: String,
      spec: ClusterSpec): WriteStats = {
    val files = (n: Long) =>
      if (n == 0L) None
      else {
        val rpf = estimateRecordsPerFile(df)
        Some(math.max(1L, math.min(10000L, (n + rpf - 1) / rpf)).toInt)
      }
    val curve: Curve =
      if (spec.curve == "hilbert") graft.functions.ZOrder.hilbertValue(_, _, _, _, _, _)
      else graft.functions.ZOrder.zValue(_, _, _, _, _, _)
    writeCurveClustered(df, schema, table, (spec.x, spec.y), files, curve)
  }

  /** A curve key over two columns, each with its global (min, max). */
  private type Curve = (org.apache.spark.sql.Column, Double, Double,
    org.apache.spark.sql.Column, Double, Double) => org.apache.spark.sql.Column

  /** Curve values sampled per output file to place the file bounds:
    * the budget of Spark's own range partitioner (100 points per
    * output partition, oversampled 3x), capped like its total so the
    * sample collected to the driver stays bounded at any file count. */
  private val SamplePerFile = 300
  private val MaxSample = 1000000L

  /** The curve layout behind the clustered writes. `filesFor` maps the
    * table's row count, from the bounds aggregate, to the file count;
    * `None` writes the plain [[writeTable]] layout instead. */
  private def writeCurveClustered(df: DataFrame, schema: String, table: String,
      cCols: (String, String), filesFor: Long => Option[Int],
      curve: Curve): WriteStats = {
    import org.apache.spark.sql.functions._
    val s = Projection.objectName(schema, cfg.lowercaseObjectNames)
    val t = Projection.objectName(table, cfg.lowercaseObjectNames)
    val dir = root.resolve(s).resolve(t)
    val (cx, cy) = cCols
    val r = df.agg(
      min(col(cx).cast("double")), max(col(cx).cast("double")),
      min(col(cy).cast("double")), max(col(cy).cast("double")),
      count(lit(1))).head()
    val rows = r.getLong(4)
    val files = filesFor(rows) match {
      case Some(k) => k
      case None => return writeTable(df, schema, table)
    }
    val withZ = df.withColumn("__z", curve(
      col(cx), r.getDouble(0), r.getDouble(1),
      col(cy), r.getDouble(2), r.getDouble(3)))
    // File bounds: quantiles of a fixed-seed sample of the curve value.
    // repartitionByRange seeds its sample with the RDD id, which would
    // make the bounds, and each file's footer box, depend on the
    // session's earlier work.
    val budget = math.min(SamplePerFile.toLong * files, MaxSample)
    val fraction = math.min(1.0, budget.toDouble / math.max(rows, 1L))
    val sample = withZ.select(col("__z")).where(col("__z").isNotNull)
      .sample(withReplacement = false, fraction, seed = 0L)
      .collect().map(_.getLong(0)).sorted
    val bounds = if (sample.isEmpty) Array.emptyLongArray
      else (1 until files).map(k => sample((k.toLong * sample.length / files).toInt))
        .distinct.toArray
    // file k holds the z-values in (bounds(k-1), bounds(k)], found by
    // one binary search per row; nulls sort first, so they go to file 0
    val fileOf = udf { (z: Long) =>
      val i = java.util.Arrays.binarySearch(bounds, z)
      if (i >= 0) i else -i - 1
    }
    withZ
      .repartitionById(files, coalesce(fileOf(col("__z")), lit(0)))
      .sortWithinPartitions("__z")
      .select(df.columns.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("compression", cfg.compressionMethod.replace("none", "uncompressed"))
      .options(rowGroupOpts)
      .parquet(dir.toString)
    WriteStats(rows = rows, files = files, outputDir = dir.toString)
  }

  /** Write one table under `{out}/{schema}/{table}/` (names lowercased
    * when configured, like the reference's path casing main.py:245-253).
    *
    * The row count piggybacks on the write job itself via `observe()` —
    * re-reading the written output for a count would be a second full
    * scan of the table (at 100 TB, another 100 TB of IO). The observe
    * node is attached AFTER the records-per-file estimator, whose
    * bounded sample action would otherwise latch the observation first. */
  /** Row-group size control (reference A12: one row group per fetch
    * batch, main.py:172 with the batch-size flag at main.py:414-421).
    * Spark's writer options land in the task-side Hadoop conf, so
    * `parquet.block.size` is the native counterpart knob (SURVEY §4.2):
    * parquet-mr flushes a row group whenever buffered bytes reach it. */
  private def rowGroupOpts: Map[String, String] =
    cfg.parquetRowGroupSize
      .map(b => Map("parquet.block.size" -> b.toString)).getOrElse(Map.empty)

  def writeTable(df: DataFrame, schema: String, table: String): WriteStats = {
    val s = Projection.objectName(schema, cfg.lowercaseObjectNames)
    val t = Projection.objectName(table, cfg.lowercaseObjectNames)
    val dir = root.resolve(s).resolve(t)
    val recordsPerFile = estimateRecordsPerFile(df)
    val obs = new org.apache.spark.sql.Observation(s"export_${s}_$t")
    df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write
      .mode(SaveMode.Overwrite)
      .option("compression", cfg.compressionMethod.replace("none", "uncompressed"))
      .option("maxRecordsPerFile", recordsPerFile)
      .options(rowGroupOpts)
      .parquet(dir.toString)
    val n = Using.resource(Files.list(dir))(
      _.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt)
    WriteStats(rows = obs.get("rows").asInstanceOf[Long], files = n,
      outputDir = dir.toString)
  }
}
