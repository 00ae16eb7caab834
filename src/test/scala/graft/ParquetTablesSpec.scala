package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, GraftShims}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ParquetTables

/** The memoized Parquet read: a table's schema is inferred once per file
  * set and Parquet conf key, and a rewrite of the files infers again. */
class ParquetTablesSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The Spark jobs launched while `f` runs, and its result. */
  private def jobs[A](f: => A): (Long, A) = {
    val n = new AtomicLong
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftShims.drainListeners(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      val r = f
      GraftShims.drainListeners(spark)
      (n.get, r)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  private def inTempDir[A](f: String => A): A = {
    val dir = Files.createTempDirectory("graft-parquet-tables")
    try f(dir.toString)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  test("a second read of a fixture launches no job and returns the same schema") {
    inTempDir { dir =>
      val path = s"$dir/orders.parquet"
      Files.copy(Paths.get(s"$sf/orders.parquet"), Paths.get(path))
      val (missJobs, first) = jobs(ParquetTables.read(spark, path).schema)
      val (hitJobs, second) = jobs(ParquetTables.read(spark, path).schema)
      assert(missJobs > 0L, "a first read infers the schema with Spark's own job")
      assert(hitJobs === 0L)
      assert(second === first)
      assert(first === spark.read.parquet(path).schema)
    }
  }

  test("an in-place rewrite that adds a column is visible on the next read") {
    inTempDir { dir =>
      val path = s"$dir/t.parquet"
      spark.range(5).toDF("id").write.parquet(path)
      assert(ParquetTables.read(spark, path).columns.toSeq === Seq("id"))
      spark.range(5).selectExpr("id", "id * 2 AS twice")
        .write.mode("overwrite").parquet(path)
      val (df, bytes) = ParquetTables.sized(spark, path)
      assert(df.columns.toSeq === Seq("id", "twice"))
      assert(df.selectExpr("sum(twice)").head().getLong(0) === 20L)
      // the size is the rewritten table's, summed over its data files
      val parts = Files.list(Paths.get(path)).toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("part-"))
      assert(bytes === parts.map(Files.size).sum)
    }
  }

  test("events read with nanosAsLong on, then off, gets each conf its own schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    inTempDir { dir =>
      val fixture = s"$dir/fixture/events.parquet"
      Files.createDirectories(Paths.get(fixture).getParent)
      Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(fixture))
      // the events table of the fixture generation whose ts was
      // TIMESTAMP(NANOS), which Spark reads only with nanosAsLong on
      val nanos = s"$dir/events.parquet"
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
      val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(nanos))
        .withType(schema).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("user_id", 7L).append("ts", 1500000000123456789L))
      finally writer.close()
      def readWith(conf: String, path: String) = {
        spark.conf.set(key, conf)
        jobs(ParquetTables.read(spark, path).schema)
      }
      try {
        // the fixture's timestamp[us] ts reads alike under both confs,
        // each inferred once under its own key
        val Seq(onMiss, offMiss, onHit, offHit) =
          Seq("true", "false", "true", "false").map(readWith(_, fixture))
        assert(onMiss._1 > 0L && offMiss._1 > 0L)
        assert((onHit._1, offHit._1) === ((0L, 0L)))
        assert(onHit._2 === onMiss._2 && offHit._2 === offMiss._2)
        // a TIMESTAMP(NANOS) ts is a long under the conf and illegal
        // without it: the long schema is never served with the conf off
        assert(readWith("true", nanos)._2("ts").dataType === LongType)
        spark.conf.set(key, "false")
        intercept[AnalysisException](ParquetTables.read(spark, nanos))
        // the loader probes the footer, sets the conf and reads an instant
        val events = ops.T.events(spark, dir)
        assert(events.schema("ts").dataType === TimestampType)
        assert(events.selectExpr("unix_micros(ts)").head().getLong(0) === 1500000000123456L)
      } finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("concurrent reads of one path agree on one schema") {
    inTempDir { dir =>
      val path = s"$dir/t.parquet"
      spark.range(100).selectExpr("id", "cast(id AS string) AS s").write.parquet(path)
      val schemas = ops.inParallel(Seq.fill(4)(() => ParquetTables.read(spark, path).schema): _*)
      assert(schemas.distinct.size === 1)
      assert(schemas.head === spark.read.parquet(path).schema)
    }
  }

  test("building q3_shipping_priority a second time launches no construct-time job") {
    // q3 builds lazily over three tables: any job while it is built is a
    // per-read schema inference the memo should have served
    val q3 = SparkEntry.queries("q3_shipping_priority")
    q3(spark, sf)
    assert(jobs(q3(spark, sf))._1 === 0L)
  }
}
