package graft

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ColumnMeta, ExportConfig, JdbcSource}

/** Live JDBC scan path against embedded Derby (ships with Spark): the
  * same generated SELECT + Spark JDBC reader used for Oracle, minus the
  * Oracle-only flashback clause. Proves the dbtable-subquery plumbing,
  * quoted identifiers, fetchsize and projection pushdown against a real
  * database, offline. */
class JdbcLiveSpec extends AnyFunSuite {
  import SparkTestSession._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("jdbc source reads back rows written over jdbc") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "HR"."EMPLOYEES" ("ID" INT, "Name" VARCHAR(32))""")
      (1 to 25).foreach { i =>
        st.execute(s"""INSERT INTO "HR"."EMPLOYEES" VALUES ($i, 'emp_$i')""")
      }
    } finally conn.close()

    val cfg = ExportConfig(batchSize = 10)
    val src = new JdbcSource(cfg, scn = None, urlOverride = Some(url))
    val df = src.read(spark, "HR", "EMPLOYEES",
      Seq(ColumnMeta("ID", "INTEGER", 1), ColumnMeta("Name", "VARCHAR", 2)),
      lowercase = true, rowLimit = -1L)
    assert(df.columns.toSeq === Seq("id", "name"))
    assert(df.count() === 25)
    assert(df.filter("id <= 5").count() === 5)
  }

  test("partitioned jdbc read: live numPartitions > 1 equals the single-partition scan, bounds + every partition share one pinned SCN") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "HR"."PARTED" ("ID" INT, "VAL" VARCHAR(16))""")
      (1 to 100).foreach { i =>
        st.execute(s"""INSERT INTO "HR"."PARTED" VALUES ($i, 'v_$i')""")
      }
    } finally conn.close()

    val cfg = ExportConfig(batchSize = 16)
    val cols = Seq(ColumnMeta("ID", "INTEGER", 1), ColumnMeta("VAL", "VARCHAR", 2))
    val single = new JdbcSource(cfg, scn = None, urlOverride = Some(url))

    // live bounds round trip: the SAME generated bounds SQL the export
    // loop issues, executed against the real database
    val boundsSql = single.partitionBoundsSql("HR", "PARTED", "ID")
    val c2 = DriverManager.getConnection(url)
    val (lo, hi) = try {
      val rs = c2.createStatement().executeQuery(boundsSql)
      rs.next(); (rs.getLong(1), rs.getLong(2))
    } finally c2.close()
    assert((lo, hi) === (1L, 100L))

    // live partitioned read: 4 JDBC partitions, one connection each
    val parted = new JdbcSource(cfg, scn = None,
      partitionColumn = Some(("ID", lo, hi, 4)), urlOverride = Some(url))
    val dfP = parted.read(spark, "HR", "PARTED", cols, lowercase = true, rowLimit = -1L)
    assert(dfP.rdd.getNumPartitions === 4, "reader must fan out to 4 JDBC partitions")
    val perPart = dfP.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.sum === 100)
    assert(perPart.count(_ > 0) > 1, "stride must spread rows across partitions")

    // row-set equality with the sequential scan
    val df1 = single.read(spark, "HR", "PARTED", cols, lowercase = true, rowLimit = -1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(dfP) === rows(df1), "partitioned read must return the same row set")

    // SCN pinning contract (SQL text — Derby has no flashback to run):
    // the bounds query and the per-partition dbtable subquery carry the
    // SAME pinned SCN, so partition ranges and every partition's data
    // read the one snapshot. Spark fans out by wrapping the dbtable
    // text (the code path proven live above) in per-partition WHERE
    // clauses, so the SCN inside it rides along to every partition.
    val pinned = new JdbcSource(cfg, scn = Some(7351L),
      partitionColumn = Some(("ID", lo, hi, 4)), urlOverride = Some(url))
    assert(pinned.selectSql("HR", "PARTED", cols.map(_.name), lowercase = true)
      .contains("AS OF SCN 7351"))
    assert(pinned.partitionBoundsSql("HR", "PARTED", "ID")
      .contains("AS OF SCN 7351"))
  }

  test("full live export: jdbc catalog discovery -> scan -> parquet sink") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE "APP2"."ORDERS_LIVE" ("OID" INT, "AMT" DOUBLE)""")
      st.execute("""CREATE TABLE "APP2"."SKIP_ME" ("X" INT)""")
      (1 to 40).foreach { i =>
        st.execute(s"""INSERT INTO "APP2"."ORDERS_LIVE" VALUES ($i, ${i * 1.5})""")
      }
      st.execute("""INSERT INTO "APP2"."SKIP_ME" VALUES (1)""")
    } finally conn.close()

    val out = org.apache.spark.sql.GraftShims.scratchDir("graft-jdbc-export").toString
    val cfg = ExportConfig(outputDirectory = out, overwrite = true,
      schemas = Seq("APP2"), tableNameExcludePattern = Some("^SKIP"),
      lowercaseObjectNames = true)
    val catalog = new graft.engine.JdbcMetaCatalog(url)
    val report = new graft.engine.Exporter(cfg, catalog,
      new JdbcSource(cfg, scn = None, urlOverride = Some(url)),
      new graft.engine.ParquetSink(cfg)).exportTables(spark)
    assert(report.tables.map(_.table) === Seq("ORDERS_LIVE"))
    assert(report.totalRows === 40)
    val back = spark.read.parquet(s"$out/app2/orders_live")
    assert(back.columns.sorted.toSeq === Seq("amt", "oid"))
    assert(back.agg(org.apache.spark.sql.functions.sum("oid"))
      .collect()(0).get(0).toString.toDouble === 820.0)
  }
}
