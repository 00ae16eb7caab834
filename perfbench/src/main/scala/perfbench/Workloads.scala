package perfbench

import java.nio.file.{Files, Path}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.engine._

/** One timed pass over a workload's operations (tables or queries). */
final case class Pass(seconds: Double, opSeconds: Seq[Double], attempted: Int,
    failed: Int, rows: Long, files: Int)

/** Per-workload input record, written into every run's report. */
final case class Inputs(tables: Int, rows: Long, sourceBytes: Long, note: String)

trait Workload {
  /** Builds fresh inputs from the seed and loads them into the source. */
  def setup(): Unit
  /** Outside any timing: derives the expected outputs of the last set-up. */
  def prepareChecks(): Unit
  /** One pass over every operation; `tracer` is set on traced passes. */
  def pass(tracer: Option[Tracer]): Pass
  /** Checks the last pass's outputs (outside the timed region);
    * returns (attempted, failed). */
  def verify(): (Int, Int)
  def inputs: Inputs
}

object Checks {
  /** Order-invariant content checksum: xxhash64 over every column (cast
    * to string, in name order, so JDBC and Parquet type round trips
    * compare equal), combined with bit_xor. Also returns the row count
    * and the text size of the rows. */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.sortBy(_.toLowerCase).toSeq
      .map(c => coalesce(col(s"`$c`").cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(cols: _*).as("h"), octet_length(concat(cols: _*)).as("n"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum("n")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq

  def bytesUnder(p: Path): Long = parquetFiles(p).map(Files.size).sum
}

/** Export through `engine.Exporter` with the CLI defaults (one table at a
  * time, fetch size 10 000, zstd, 200 MB file target, overwrite).
  *  - jdbc: the seven star tables in an embedded in-memory Derby database,
  *    discovered by `JdbcMetaCatalog`, scanned by `JdbcSource`;
  *  - many tables: `nTables` seeded slices of the generated tables staged
  *    as Parquet, discovered by `ParquetCatalog`, scanned by `ParquetSource`. */
final class ExportWorkload(spark: SparkSession, jdbc: Boolean,
    seed: Long, sf: Double, nTables: Int, maxRows: Long, work: Path,
    corrupt: Boolean) extends Workload {

  private val schema = if (jdbc) "TPCH" else "BENCH"
  private val srcRoot = work.resolve("src")
  private val outRoot = work.resolve("out")
  private var generation = 0
  private var staged: Seq[(String, DataFrame)] = Nil
  private var expected: Map[String, (Long, Long, Long)] = Map.empty
  private def url(g: Int) = s"jdbc:derby:memory:perfbench$g"

  override def setup(): Unit = {
    generation += 1
    staged = if (jdbc) Gen.starTables.map(t => t.toUpperCase -> upper(Gen.table(spark, t, sf, Main.FixedSeed)))
             else sliceTables()
    if (jdbc) loadDerby() else stageParquet()
  }

  private def upper(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      (if (f.dataType == TimestampNTZType) c.cast(TimestampType) else c).as(f.name.toUpperCase)
    }: _*)

  /** Seeded table set: sizes follow a fixed log-spaced ladder from 5 rows
    * to `maxRows` (so every seed exports about the same volume), while the
    * seed picks each table's source, key range and column subset. */
  private def sliceTables(): Seq[(String, DataFrame)] = {
    val rnd = new scala.util.Random(seed)
    val bases = Seq("customer", "supplier", "part", "orders", "lineitem", "events")
    val baseSf = 1.0
    val s = Gen.sizes(baseSf)
    (0 until nTables).map { i =>
      val rows = math.round(5.0 * math.pow(maxRows / 5.0, i.toDouble / math.max(1, nTables - 1)))
      val base = bases(rnd.nextInt(bases.size))
      val total = base match {
        case "customer" => s.customer
        case "supplier" => s.supplier
        case "part" => s.part
        case "orders" | "lineitem" => s.orders
        case _ => s.events
      }
      val keys = math.min(total, math.max(1L, if (base == "lineitem") rows / 4 else rows))
      val lo = (rnd.nextDouble() * (total - keys)).toLong
      val df = Gen.table(spark, base, baseSf, seed, Some((lo, lo + keys)))
      val chosen = df.columns.filter(_ => rnd.nextDouble() < 0.7)
      val keep = if (chosen.length >= 2) chosen else df.columns.take(2)
      f"T$i%03d_${base.toUpperCase}" -> df.select(keep.toSeq.map(col): _*)
    }
  }

  private def stageParquet(): Unit = {
    val dir = srcRoot.resolve(schema)
    Checks.deleteTree(srcRoot)
    Files.createDirectories(dir)
    staged.foreach { case (t, df) => Gen.writeSingleFile(df, dir.resolve(s"$t.parquet")) }
  }

  private def loadDerby(): Unit = {
    if (generation > 1) dropDerby(generation - 1)
    val u = url(generation)
    val c = java.sql.DriverManager.getConnection(u + ";create=true")
    try {
      val st = c.createStatement()
      st.execute(s"CREATE SCHEMA $schema")
      staged.foreach { case (t, df) =>
        val cols = df.schema.fields.map { f =>
          val ty = f.dataType match {
            case LongType => "BIGINT"
            case IntegerType => "INTEGER"
            case DoubleType => "DOUBLE"
            case TimestampType => "TIMESTAMP"
            case _ => "VARCHAR(64)"
          }
          s""""${f.name}" $ty"""
        }
        st.execute(s"CREATE TABLE $schema.$t (${cols.mkString(", ")})")
      }
    } finally c.close()
    staged.foreach { case (t, df) =>
      df.write.mode("append").option("batchsize", 10000).jdbc(u, s"$schema.$t", new Properties())
    }
  }

  private def dropDerby(g: Int): Unit =
    try java.sql.DriverManager.getConnection(url(g) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006

  override def prepareChecks(): Unit =
    expected = staged.map { case (t, df) => t -> Checks.checksum(df) }.toMap

  override def inputs: Inputs = Inputs(expected.size, expected.values.map(_._1).sum,
    if (jdbc) expected.values.map(_._3).sum else Checks.bytesUnder(srcRoot),
    if (jdbc) "source_bytes = text size of the loaded rows (in-memory Derby)"
    else "source_bytes = staged parquet bytes")

  override def pass(tracer: Option[Tracer]): Pass = {
    val cfg = ExportConfig(schemas = Seq(schema), outputDirectory = outRoot.toString,
      overwrite = true)
    val (cat0, src0): (TableCatalog, TableSource) =
      if (jdbc) (new JdbcMetaCatalog(url(generation)),
        new JdbcSource(cfg, scn = None, urlOverride = Some(url(generation))))
      else { val c = new ParquetCatalog(srcRoot); (c, new ParquetSource(c)) }
    val (cat, src) = tracer.fold((cat0, src0))(t =>
      (new TracedCatalog(cat0, t), new TracedSource(src0, t)))
    val exporter = new Exporter(cfg, cat, src, new ParquetSink(cfg))
    val t0 = System.nanoTime()
    val report = tracer.fold(exporter.exportTables(spark))(t =>
      t.span("exporter.exportTables", schema)(exporter.exportTables(spark)))
    val secs = (System.nanoTime() - t0) / 1e9
    val got = report.tables.map(r => r.table -> r.rows).toMap
    val failed = expected.count { case (t, (rows, _, _)) => !got.get(t).contains(rows) } +
      got.keySet.diff(expected.keySet).size
    Pass(secs, report.tables.map(_.seconds), expected.size, failed, report.totalRows,
      report.tables.map(_.files).sum)
  }

  override def verify(): (Int, Int) = {
    if (corrupt) {
      // fault injection for the smoke test: lose one output file
      Checks.parquetFiles(outRoot).sortBy(_.toString).headOption.foreach(Files.delete)
    }
    val failed = expected.count { case (t, (rows, sum, _)) =>
      val dir = outRoot.resolve(schema).resolve(t)
      val got = try Checks.checksum(spark.read.parquet(dir.toString))
                catch { case _: Exception => (-1L, 0L, 0L) }
      got._1 != rows || got._2 != sum
    }
    (expected.size, failed)
  }

  def outputBytes: Long = Checks.bytesUnder(outRoot)
}

/** A fixed list of the program's queries over generated tables (the
  * seed is ignored: results are checked against committed fingerprints).
  * Each query is constructed (`QueryDef.fn`) and then fully materialized
  * with the xxhash64/`bit_xor` action of `graft.Bench`; construct-time
  * caches are dropped after every query, as `graft.Bench` does. */
final class QueryWorkload(spark: SparkSession, queries: Seq[String],
    sf: Double, work: Path, fingerprints: Map[String, (Long, Long)]) extends Workload {

  private val dataDir = work.resolve("data")
  val observed = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
  val perQuery = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
  private var expected: Map[String, (Long, Long)] = Map.empty

  override def setup(): Unit = {
    Checks.deleteTree(dataDir)
    Files.createDirectories(dataDir)
    (Gen.starTables :+ "events").foreach { t =>
      Gen.writeSingleFile(Gen.table(spark, t, sf, Main.FixedSeed), dataDir.resolve(s"$t.parquet"))
    }
  }

  override def prepareChecks(): Unit = {
    val missing = queries.filterNot(fingerprints.contains)
    if (missing.nonEmpty)
      System.err.println(s"[perfbench] no fingerprint for: ${missing.mkString(", ")}")
    expected = fingerprints
  }

  override def inputs: Inputs = Inputs(Gen.starTables.size + 1,
    (Gen.starTables :+ "events").map(t => spark.read.parquet(dataDir.resolve(s"$t.parquet").toString).count()).sum,
    Checks.bytesUnder(dataDir), s"scale factor $sf, seed ignored")

  override def pass(tracer: Option[Tracer]): Pass = {
    val dir = dataDir.toString
    var failed = 0
    val start = System.nanoTime()
    val lat = queries.map { q =>
      def span[A](n: String)(f: => A): A = tracer.fold(f)(_.span(n, q)(f))
      val t0 = System.nanoTime()
      try span("query") {
        val df = span("ops.construct")(SparkEntry.queries(q)(spark, dir))
        val r = span("ops.exec") {
          df.select(xxhash64(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*)).as("__h"))
            .agg(count(lit(1)), expr("bit_xor(__h)")).head()
        }
        val fp = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        observed(q) = fp
        if (!expected.get(q).contains(fp)) failed += 1
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          failed += 1
      } finally spark.catalog.clearCache()
      val s = (System.nanoTime() - t0) / 1e9
      perQuery(q) = perQuery.getOrElse(q, Nil) :+ s
      s
    }
    Pass((System.nanoTime() - start) / 1e9, lat, queries.size, failed, 0L, 0)
  }

  override def verify(): (Int, Int) = (0, 0)
}
