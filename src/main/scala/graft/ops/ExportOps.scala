package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, count, lit, log, round, substring, floor}

/** Export-pipeline roundtrip registered as a t2 query: runs the Tier-A
  * Exporter (catalog discovery -> projection -> scan -> rolling sink)
  * on the fixture schema into a temp directory, reads the exported
  * parquet back and aggregates it. The oracle aggregates the ORIGINAL
  * table — equality proves the export is lossless end-to-end. */
object ExportOps extends QueryFamily {

  /** The output directory of one builder call. Each call writes a fresh
    * one, which Spark deletes at JVM exit. The output is written once
    * and read once, so it is read with Spark's own reader: the
    * [[graft.engine.ParquetTables]] schema memo could never hit on it. */
  private def scratch(prefix: String): String =
    org.apache.spark.sql.GraftShims.scratchDir(prefix).getAbsolutePath

  def qExportRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    import org.apache.spark.sql.functions._
    import graft.engine._
    val src = Paths.get(dir)
    val out = scratch("graft-export-rt")
    val cfg = ExportConfig(
      outputDirectory = out, overwrite = true,
      schemas = Seq(src.getFileName.toString),
      tableNameIncludePattern = "^(lineitem|region)$",
      compressionMethod = "snappy")
    val catalog = new ParquetCatalog(src.getParent)
    new Exporter(cfg, catalog, new ParquetSource(catalog), new ParquetSink(cfg))
      .exportTables(spark)
    spark.read.parquet(s"$out/${src.getFileName}/lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  val qExportRoundtripSql: String =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Schema-evolution merge read — the long-lived-table reality every
    * export layout eventually hits: files written before a column
    * existed sit next to files written after. Two generations of the
    * nation table land in one root (v1: key+name for even keys; v2:
    * adds n_regionkey for odd keys); `mergeSchema` unions the footers
    * so the old files surface the new column as NULL. The audit
    * aggregates row count and per-generation column coverage — the
    * oracle states the expected semantics directly from the source
    * table (all rows survive; the evolved column is populated exactly
    * on the v2 rows). At 100 TB the same read path handles years of
    * schema drift without a rewrite. */
  def qSchemaMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = scratch("graft-schema-merge")
    val nation = T.nation(spark, dir)
    nation.filter(col("n_nationkey") % 2 === 0)
      .select(col("n_nationkey"), col("n_name"))
      .write.mode("overwrite").parquet(s"$out/gen=1")
    nation.filter(col("n_nationkey") % 2 === 1)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite").parquet(s"$out/gen=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .agg(count(lit(1)).as("n_rows"),
        count(col("n_regionkey")).as("with_region"),
        countDistinct(col("n_name")).as("n_names"))
  }

  val qSchemaMergeSql: String =
    """SELECT count(*) AS n_rows,
      |  sum(CASE WHEN n_nationkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS with_region,
      |  count(DISTINCT n_name) AS n_names
      |FROM nation""".stripMargin

  /** Single-pass column profile — the post-export data-quality audit:
    * row count, null count, exact NDV, min/max/avg per profiled column,
    * all computed in ONE scan of the table (Catalyst expands the
    * multi-distinct into one Expand + two-level aggregate), then
    * unpivoted to a row per column. At 100 TB the single-scan shape is
    * the whole point: profiling N columns costs one pass, not N. */
  def qColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val aggs = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        round(avg(col(c)), 4).as(s"${c}__avg"))
    }
    val one = T.lineitem(spark, dir)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackArgs = cols.map { c =>
      s"'$c', ${c}__nulls, ${c}__ndv, ${c}__min, ${c}__max, ${c}__avg"
    }.mkString(", ")
    one.select($"n_rows", expr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, ndv, min_v, max_v, avg_v)"))
      .select($"col_name", $"n_rows", $"n_nulls", $"ndv", $"min_v", $"max_v", $"avg_v")
      .orderBy($"col_name")
  }

  val qColumnProfileSql: String =
    Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS ndv,
         |  min($c)::DOUBLE AS min_v, max($c)::DOUBLE AS max_v,
         |  round(avg($c), 4) AS avg_v FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Table reconciliation — the audit run after re-exporting or
    * migrating a table: full outer join ON KEY between the source and
    * a drifted copy (here derived deterministically in-plan: dropped
    * keys, modified rows), classifying every key as only_left /
    * only_right / changed / same by comparing row fingerprints. One
    * shuffle on the key at any scale (zero with both sides bucketed);
    * row width never survives the compare — only (key, md5) rows flow. */
  def qTableDiff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def fp(pref: String) = md5(concat_ws("|",
      col("o_orderstatus"), col("o_orderpriority"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"),
      col(pref)).cast("binary"))
    val left = T.orders(spark, dir)
      .select($"o_orderkey".as("k"), fp("o_custkey").as("h"))
    // drifted copy: every 97th key deleted, every 101st re-keyed to a
    // different customer (content change), rest identical
    val right = T.orders(spark, dir)
      .filter($"o_orderkey" % 97 =!= 0)
      .withColumn("o_custkey",
        when($"o_orderkey" % 101 === 0, $"o_custkey" + 1).otherwise($"o_custkey"))
      .select($"o_orderkey".as("k"), fp("o_custkey").as("h"))
    left.select($"k", $"h".as("hl")).join(
        right.select($"k", $"h".as("hr")), Seq("k"), "full_outer")
      .select(when($"hl".isNull, "only_right")
        .when($"hr".isNull, "only_left")
        .when($"hl" === $"hr", "same")
        .otherwise("changed").as("change_type"))
      .groupBy($"change_type").agg(count(lit(1)).as("n"))
      .orderBy($"change_type")
  }

  val qTableDiffSql: String =
    """WITH l AS (SELECT o_orderkey AS k,
      |    md5(o_orderstatus || '|' || o_orderpriority || '|' ||
      |        strftime(o_orderdate, '%Y-%m-%d') || '|' || o_custkey) AS h
      |  FROM orders),
      |r AS (SELECT o_orderkey AS k,
      |    md5(o_orderstatus || '|' || o_orderpriority || '|' ||
      |        strftime(o_orderdate, '%Y-%m-%d') || '|' ||
      |        (CASE WHEN o_orderkey % 101 = 0 THEN o_custkey + 1 ELSE o_custkey END)) AS h
      |  FROM orders WHERE o_orderkey % 97 <> 0)
      |SELECT CASE WHEN l.h IS NULL THEN 'only_right'
      |            WHEN r.h IS NULL THEN 'only_left'
      |            WHEN l.h = r.h THEN 'same' ELSE 'changed' END AS change_type,
      |  count(*) AS n
      |FROM l FULL OUTER JOIN r ON r.k = l.k
      |GROUP BY 1 ORDER BY change_type""".stripMargin

  /** Order-invariant table checksum: bit_xor of a per-row 48-bit
    * md5-derived fingerprint plus the row count, per table — equality
    * of (n, checksum) across systems validates an export without any
    * global sort. XOR is commutative/associative, so the aggregate is
    * map-side combinable and insensitive to partitioning and row
    * order — the only checksum shape that works on 100 TB. */
  def qTableChecksum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def sum48(df: DataFrame, name: String, rowStr: org.apache.spark.sql.Column) =
      df.select(md5Hash(rowStr, 12).as("fp"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(fp)").as("checksum"))
        .select(lit(name).as("table_name"), $"n_rows", $"checksum")
    val orders = sum48(T.orders(spark, dir), "orders",
      concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"), col("o_orderpriority")))
    val customer = sum48(T.customer(spark, dir), "customer",
      concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment")))
    val nation = sum48(T.nation(spark, dir), "nation",
      concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
    orders.unionByName(customer).unionByName(nation).orderBy($"table_name")
  }

  val qTableChecksumSql: String = {
    // md5-prefix-to-int48 (established oracle idiom): positional nibble
    // sum over the first 12 hex chars, exact <= 2^48
    def fp(rowStr: String) =
      s"""list_sum(list_transform(range(1, 13),
         |    i -> (strpos('0123456789abcdef', substr(md5($rowStr), i, 1)) - 1)
         |         * pow(16.0, 12 - i)))::BIGINT""".stripMargin
    s"""WITH cfp AS (SELECT ${fp("c_custkey || '|' || c_name || '|' || c_nationkey || '|' || c_mktsegment")} AS fp FROM customer),
       |nfp AS (SELECT ${fp("n_nationkey || '|' || n_name || '|' || n_regionkey")} AS fp FROM nation),
       |ofp AS (SELECT ${fp("o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' || strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority")} AS fp FROM orders)
       |SELECT 'customer' AS table_name, count(*) AS n_rows, bit_xor(fp) AS checksum FROM cfp
       |UNION ALL
       |SELECT 'nation', count(*), bit_xor(fp) FROM nfp
       |UNION ALL
       |SELECT 'orders', count(*), bit_xor(fp) FROM ofp
       |ORDER BY table_name""".stripMargin
  }

  /** JSONL export/ingest roundtrip: `documents` goes out as
    * line-delimited JSON (the interchange format of most LLM-corpus
    * tooling) and is read back with an explicit schema — schema
    * inference would mean a second full scan at 100 TB. Equality with
    * the oracle over the ORIGINAL table proves the JSON sink+source
    * pair is lossless for the text payload. */
  def qJsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = scratch("graft-jsonl-rt")
    T.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source")
      .write.mode("overwrite").json(out)
    spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING")
      .json(out)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length($"text")).as("sum_chars"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"lang")
  }

  val qJsonlRoundtripSql: String =
    """SELECT lang, count(*) AS n_docs, sum(len(text))::BIGINT AS sum_chars,
      | count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** CSV export/ingest roundtrip — the other interchange format a
    * warehouse hand-off still demands. Orders go out with a header and
    * come back under an EXPLICIT schema (inference = a second full
    * scan at 100 TB); Spark prints doubles as their shortest
    * round-trippable decimal, so the numeric payload survives the text
    * hop losslessly and equality against the oracle over the ORIGINAL
    * table proves it. */
  def qCsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = scratch("graft-csv-rt")
    T.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_orderpriority")
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING")
      .option("header", "true")
      .csv(out)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"),
        countDistinct($"o_orderpriority").as("n_prios"))
      .orderBy($"o_orderstatus")
  }

  val qCsvRoundtripSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      | round(sum(o_totalprice), 2) AS revenue,
      | count(DISTINCT o_orderpriority) AS n_prios
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** ORC export/ingest roundtrip — the other columnar table format a
    * lakehouse migration meets. Types survive natively (no text hop),
    * so this also covers timestamp fidelity: the read-back aggregate
    * groups by order month. Schema is pinned explicitly on re-read,
    * same single-scan discipline as the JSONL/CSV twins. */
  def qOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = scratch("graft-orc-rt")
    T.orders(spark, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
      .write.mode("overwrite").option("compression", "snappy").orc(out)
    spark.read
      .schema("o_orderkey LONG, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ")
      .orc(out)
      .groupBy(date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"),
        count_distinct($"o_orderkey").as("n_keys"))
      .orderBy($"month")
  }

  val qOrcRoundtripSql: String =
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      | count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue,
      | count(DISTINCT o_orderkey) AS n_keys
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  /** Hive-style partition pruning end-to-end: orders land partitioned
    * by month directory (`om=YYYY-MM/`), and the read back filters one
    * year — Catalyst turns the filter into PartitionFilters, so the
    * scan LISTS only the 12 matching directories and never opens the
    * rest. At 100 TB this is the difference between reading 1% and
    * reading everything; ScaleSpec pins the pruned-plan shape
    * (PartitionFilters present, non-matching partitions skipped). */
  def qPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    prunedScan(spark, dir)
      .groupBy(col("om"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("om")
  }

  /** The pruned scan itself, exposed so ScaleSpec can assert its plan. */
  def prunedScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = scratch("graft-part-prune")
    T.orders(spark, dir)
      .withColumn("om", date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM"))
      // repartition ON the partition column first: without it every
      // write task emits a file into every month directory (tasks x
      // partitions small files — the classic small-files failure at
      // scale); with it each month is written by one task
      .repartition(col("om"))
      .write.mode("overwrite").partitionBy("om").parquet(out)
    spark.read.parquet(out)
      .filter($"om" >= "1996-01" && $"om" <= "1996-12")
  }

  val qPartitionPruneSql: String =
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS om,
      | count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |WHERE strftime(date_trunc('month', o_orderdate), '%Y-%m') BETWEEN '1996-01' AND '1996-12'
      |GROUP BY 1 ORDER BY om""".stripMargin

  /** CDC upsert merge — lakehouse `MERGE INTO` semantics in pure
    * Spark: the base snapshot unions a simulated delta (every 10th key
    * re-priced at version 2) and the latest version per key wins via
    * `max_by`. One hash aggregate keyed on the high-cardinality
    * primary key: partial-combines map-side, no window, no skew —
    * the shape that absorbs a 100 TB changelog. */
  def qUpsertLatest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val orders = T.orders(spark, dir)
    val base = orders.select($"o_orderkey", $"o_orderstatus",
      $"o_totalprice", lit(1).as("version"))
    // the delta re-price is +100.0 (FP-exact) rather than *1.1: a
    // multiply lands some values on a .xx5 rounding boundary where
    // Spark (half-up) and DuckDB disagree by one cent
    val delta = orders.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", lit("U").as("o_orderstatus"),
        ($"o_totalprice" + 100.0).as("o_totalprice"), lit(2).as("version"))
    base.unionByName(delta)
      .groupBy($"o_orderkey")
      .agg(
        max($"version").as("version"),
        max_by($"o_orderstatus", $"version").as("o_orderstatus"),
        round(max_by($"o_totalprice", $"version"), 2).as("o_totalprice"))
      .orderBy($"o_orderkey")
  }

  val qUpsertLatestSql: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  1 AS version FROM orders),
      |delta AS (SELECT o_orderkey, 'U' AS o_orderstatus,
      |  o_totalprice + 100.0 AS o_totalprice, 2 AS version
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
      |SELECT o_orderkey, max(version) AS version,
      | arg_max(o_orderstatus, version) AS o_orderstatus,
      | round(arg_max(o_totalprice, version), 2) AS o_totalprice
      |FROM u GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** Incremental-export lifecycle differential (round-14 verdict
    * task 4) — the nightly Oracle-to-lake sync the reference's
    * snapshot exporter exists to feed
    * (`/root/reference/README.md:9` stages Oracle for OLAP; a 100 TB
    * user re-stages it nightly as base + deltas, never as a full
    * re-export): a BASE snapshot is taken AS OF a commit point
    * (`scn0` — event_id stands in for Oracle's SCN: the monotone
    * commit number [[graft.engine.Scan]]'s AS-OF-SCN pinning uses),
    * the post-cutoff changelog (keyed upserts + every-17th-id
    * tombstones, the [[graft.ops.Timeseries.qCdcMerge]] convention)
    * MERGEs onto it, and the query PROVES merge ≡ a fresh full
    * rebuild of the post-change state inside its own output
    * (`merge_equals_rebuild`), alongside the numbers the nightly-sync
    * decision reads: rows inserted/updated/deleted, bytes touched
    * (32 B/row: 4 long-width columns) vs the full-rewrite bytes, and
    * the write ratio. Scale shape: the op-log is scanned ONCE
    * (ckpt'd); base/delta/rebuild states are single hash aggregates
    * keyed on the merge key (max_by — partial-combines map-side, no
    * window); the merge itself is one anti-join plus a union; the
    * differential is one full-outer join of two key-sized relations.
    * The delta carve is count-proportional (last ~10% of SCNs) so the
    * row stays non-vacuous at every fixture. */
  /** The incremental-export lifecycle's shared state builder:
    * (log, baseLive, deltaOps, deltaLatest, merged) for a delta carve
    * of the last count/carveDiv SCNs. `latest` is ONE hash aggregate
    * per slice (scn unique, so max_by is deterministic); the MERGE is
    * one anti-join plus a union. */
  private def cdcState(spark: SparkSession, dir: String, carveDiv: Int):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val log = T.events(spark, dir)
      .select($"user_id", $"event_id".as("scn"), $"ts",
        round($"value", 4).as("v"),
        when($"event_id" % 17 === 0, lit("D")).otherwise(lit("U")).as("op"))
      .ckpt()
    val cut = log.agg(
      (max($"scn") - (count(lit(1)) / carveDiv).cast("long")).as("scn0"))
    def latest(df: DataFrame): DataFrame =
      df.groupBy($"user_id").agg(
        max($"scn").as("last_scn"),
        max_by(struct($"op", $"ts", $"v"), $"scn").as("s"))
        .select($"user_id", $"last_scn", $"s.op".as("op"),
          $"s.ts".as("last_ts"), $"s.v".as("last_value"))
    val withCut = log.crossJoin(broadcast(cut))
    val baseLive = latest(withCut.filter($"scn" <= $"scn0"))
      .filter($"op" === "U").drop("op").ckpt()
    val deltaOps = withCut.filter($"scn" > $"scn0").ckpt()
    val deltaLatest = latest(deltaOps).ckpt()
    // MERGE: untouched base rows survive; touched keys take the
    // delta's latest op (delta SCNs are strictly newer than base's);
    // a delta tombstone deletes, a tombstone on an absent key no-ops
    val merged = baseLive
      .join(deltaLatest.select($"user_id"), Seq("user_id"), "left_anti")
      .unionByName(deltaLatest.filter($"op" === "U").drop("op"))
      .ckpt()
    (log, baseLive, deltaOps, deltaLatest, merged)
  }

  /** Latest live state of the FULL op-log — the rebuild side of the
    * lifecycle differentials. */
  private def cdcRebuild(opLog: DataFrame): DataFrame = {
    import opLog.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    opLog.groupBy($"user_id").agg(
        max($"scn").as("last_scn"),
        max_by(struct($"op", $"ts", $"v"), $"scn").as("s"))
      .select($"user_id", $"last_scn", $"s.op".as("op"),
        $"s.ts".as("last_ts"), $"s.v".as("last_value"))
      .filter($"op" === "U").drop("op")
  }

  def qExportIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (log, baseLive, deltaOps, deltaLatest, merged) = cdcState(spark, dir, 10)
    val rebuild = cdcRebuild(log)
      .select($"user_id", $"last_scn".as("r_scn"), $"last_ts".as("r_ts"),
        $"last_value".as("r_v"))
    val mism = merged.join(rebuild, Seq("user_id"), "full_outer")
      .filter(!($"last_scn" <=> $"r_scn" && $"last_ts" <=> $"r_ts" &&
        $"last_value" <=> $"r_v"))
      .agg(count(lit(1)).as("bad"))
    val st = deltaLatest
      .join(baseLive.select($"user_id", lit(1).as("inb")), Seq("user_id"), "left")
      .agg(
        sum(when($"op" === "U" && $"inb".isNull, 1L).otherwise(0L)).as("rows_inserted"),
        sum(when($"op" === "U" && $"inb".isNotNull, 1L).otherwise(0L)).as("rows_updated"),
        sum(when($"op" === "D" && $"inb".isNotNull, 1L).otherwise(0L)).as("rows_deleted"),
        sum(when($"op" === "D" && $"inb".isNull, 1L).otherwise(0L)).as("noop_deletes"),
        count(lit(1)).as("keys_touched"))
    st.crossJoin(broadcast(baseLive.agg(count(lit(1)).as("n_base"))))
      .crossJoin(broadcast(deltaOps.agg(count(lit(1)).as("n_delta_ops"))))
      .crossJoin(broadcast(merged.agg(count(lit(1)).as("n_final"))))
      .crossJoin(broadcast(mism))
      .select($"n_base", $"n_delta_ops", $"keys_touched",
        $"rows_inserted", $"rows_updated", $"rows_deleted", $"noop_deletes",
        $"n_final", ($"bad" === 0L).as("merge_equals_rebuild"),
        (lit(32L) * ($"rows_inserted" + $"rows_updated" + $"rows_deleted"))
          .as("bytes_touched"),
        (lit(32L) * $"n_final").as("bytes_full"),
        round(($"rows_inserted" + $"rows_updated" + $"rows_deleted") / $"n_final", 4)
          .as("write_ratio"))
  }

  val qExportIncrementalSql: String =
    """WITH log AS (SELECT user_id, event_id AS scn,
      |    make_timestamp(epoch_ns(ts) // 1000) AS ts, round(value, 4) AS v,
      |    CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM events),
      |cut AS (SELECT max(scn) - (count(*) // 10) AS scn0 FROM log),
      |baselive AS (SELECT user_id, last_scn, last_ts, last_value FROM (
      |    SELECT user_id, scn AS last_scn, op, ts AS last_ts, v AS last_value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
      |    FROM log, cut WHERE scn <= scn0) WHERE rn = 1 AND op = 'U'),
      |delta AS (SELECT log.* FROM log, cut WHERE scn > scn0),
      |dl AS (SELECT user_id, last_scn, op, last_ts, last_value FROM (
      |    SELECT user_id, scn AS last_scn, op, ts AS last_ts, v AS last_value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
      |    FROM delta) WHERE rn = 1),
      |merged AS (
      |  SELECT b.* FROM baselive b
      |  WHERE NOT EXISTS (SELECT 1 FROM dl WHERE dl.user_id = b.user_id)
      |  UNION ALL
      |  SELECT user_id, last_scn, last_ts, last_value FROM dl WHERE op = 'U'),
      |rebuild AS (SELECT user_id, last_scn, last_ts, last_value FROM (
      |    SELECT user_id, scn AS last_scn, op, ts AS last_ts, v AS last_value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
      |    FROM log) WHERE rn = 1 AND op = 'U'),
      |mism AS (SELECT count(*)::BIGINT AS bad
      |  FROM merged m FULL JOIN rebuild r ON m.user_id = r.user_id
      |  WHERE m.user_id IS NULL OR r.user_id IS NULL
      |     OR m.last_scn <> r.last_scn OR m.last_ts <> r.last_ts
      |     OR m.last_value <> r.last_value),
      |st AS (SELECT
      |    sum(CASE WHEN dl.op = 'U' AND b.user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS rows_inserted,
      |    sum(CASE WHEN dl.op = 'U' AND b.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS rows_updated,
      |    sum(CASE WHEN dl.op = 'D' AND b.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS rows_deleted,
      |    sum(CASE WHEN dl.op = 'D' AND b.user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS noop_deletes,
      |    count(*)::BIGINT AS keys_touched
      |  FROM dl LEFT JOIN baselive b ON b.user_id = dl.user_id)
      |SELECT (SELECT count(*) FROM baselive)::BIGINT AS n_base,
      |  (SELECT count(*) FROM delta)::BIGINT AS n_delta_ops,
      |  st.keys_touched, st.rows_inserted, st.rows_updated,
      |  st.rows_deleted, st.noop_deletes,
      |  (SELECT count(*) FROM merged)::BIGINT AS n_final,
      |  ((SELECT bad FROM mism) = 0) AS merge_equals_rebuild,
      |  (32 * (st.rows_inserted + st.rows_updated + st.rows_deleted))::BIGINT AS bytes_touched,
      |  (32 * (SELECT count(*) FROM merged))::BIGINT AS bytes_full,
      |  round((st.rows_inserted + st.rows_updated + st.rows_deleted)::DOUBLE
      |    / (SELECT count(*) FROM merged), 4) AS write_ratio
      |FROM st""".stripMargin

  /** Schema EVOLUTION through the incremental-export lifecycle — the
    * other nightly-sync pain point [[qExportIncremental]] leaves open:
    * the source table gains a column (ALTER TABLE ADD COLUMN at commit
    * `scn0` — here the changelog's post-cutoff ops carry `etype`,
    * which pre-evolution ops "didn't have"), the delta MERGEs onto the
    * pre-evolution base snapshot with NULL backfill for untouched
    * rows, and the query PROVES the evolved merge ≡ a fresh export of
    * the post-evolution table under the lake's evolution rule (the
    * new column is defined exactly for rows whose latest commit is
    * post-evolution). The carve is the last ~1% of SCNs — small
    * enough that untouched base rows EXIST at every fixture, so the
    * NULL-backfill path is non-vacuous (the 10% carve of
    * q_export_incremental touches every key of this fixture's
    * user-cardinality). Same scale shape as the parent: one ckpt'd
    * op-log scan, keyed hash aggregates, one anti-join + union, one
    * full-outer differential. */
  def qExportEvolve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val log = T.events(spark, dir)
      .select($"user_id", $"event_id".as("scn"), round($"value", 4).as("v"),
        $"event_type".as("etype"),
        when($"event_id" % 17 === 0, lit("D")).otherwise(lit("U")).as("op"))
      .ckpt()
    val cut = log.agg((max($"scn") - (count(lit(1)) / 100).cast("long")).as("scn0"))
    val withCut = log.crossJoin(broadcast(cut))
    def latest(df: DataFrame): DataFrame =
      df.groupBy($"user_id").agg(
        max($"scn").as("last_scn"),
        max_by(struct($"op", $"v", $"etype"), $"scn").as("s"))
        .select($"user_id", $"last_scn", $"s.op".as("op"),
          $"s.v".as("last_value"), $"s.etype".as("etype"))
    // pre-evolution snapshot: the column doesn't exist yet
    val baseLive = latest(withCut.filter($"scn" <= $"scn0"))
      .filter($"op" === "U")
      .select($"user_id", $"last_scn", $"last_value").ckpt()
    val deltaLatest = latest(withCut.filter($"scn" > $"scn0")).ckpt()
    val merged = baseLive
      .join(deltaLatest.select($"user_id"), Seq("user_id"), "left_anti")
      .withColumn("etype", lit(null).cast("string")) // NULL backfill
      .unionByName(deltaLatest.filter($"op" === "U")
        .select($"user_id", $"last_scn", $"last_value", $"etype"))
      .ckpt()
    // fresh export of the evolved table: new column defined exactly
    // where the row's latest commit is post-evolution
    val rebuild = latest(log).crossJoin(broadcast(cut))
      .filter($"op" === "U")
      .select($"user_id", $"last_scn".as("r_scn"), $"last_value".as("r_v"),
        when($"last_scn" > $"scn0", $"etype").otherwise(lit(null)).as("r_etype"))
    val mism = merged.join(rebuild, Seq("user_id"), "full_outer")
      .filter(!($"last_scn" <=> $"r_scn" && $"last_value" <=> $"r_v" &&
        $"etype" <=> $"r_etype"))
      .agg(count(lit(1)).as("bad"))
    merged.agg(
        count(lit(1)).as("n_final"),
        sum(when($"etype".isNotNull, 1L).otherwise(0L)).as("rows_evolved"),
        sum(when($"etype".isNull, 1L).otherwise(0L)).as("rows_backfilled"))
      .crossJoin(broadcast(mism))
      .select($"n_final", $"rows_evolved", $"rows_backfilled",
        ($"bad" === 0L).as("merge_equals_rebuild"))
  }

  val qExportEvolveSql: String =
    """WITH log AS (SELECT user_id, event_id AS scn, round(value, 4) AS v,
      |    event_type AS etype,
      |    CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM events),
      |cut AS (SELECT max(scn) - (count(*) // 100) AS scn0 FROM log),
      |baselive AS (SELECT user_id, last_scn, last_value FROM (
      |    SELECT user_id, scn AS last_scn, op, v AS last_value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
      |    FROM log, cut WHERE scn <= scn0) WHERE rn = 1 AND op = 'U'),
      |dl AS (SELECT user_id, last_scn, op, last_value, etype FROM (
      |    SELECT user_id, scn AS last_scn, op, v AS last_value, etype,
      |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
      |    FROM log, cut WHERE scn > scn0) WHERE rn = 1),
      |merged AS (
      |  SELECT b.user_id, b.last_scn, b.last_value, NULL::VARCHAR AS etype
      |  FROM baselive b
      |  WHERE NOT EXISTS (SELECT 1 FROM dl WHERE dl.user_id = b.user_id)
      |  UNION ALL
      |  SELECT user_id, last_scn, last_value, etype FROM dl WHERE op = 'U'),
      |rebuild AS (SELECT user_id, last_scn, last_value,
      |    CASE WHEN last_scn > scn0 THEN etype ELSE NULL END AS etype
      |  FROM (
      |    SELECT user_id, scn AS last_scn, op, v AS last_value, etype,
      |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
      |    FROM log) , cut WHERE rn = 1 AND op = 'U'),
      |mism AS (SELECT count(*)::BIGINT AS bad
      |  FROM merged m FULL JOIN rebuild r ON m.user_id = r.user_id
      |  WHERE m.user_id IS NULL OR r.user_id IS NULL
      |     OR m.last_scn <> r.last_scn OR m.last_value <> r.last_value
      |     OR (m.etype IS DISTINCT FROM r.etype))
      |SELECT count(*)::BIGINT AS n_final,
      |  sum(CASE WHEN etype IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS rows_evolved,
      |  sum(CASE WHEN etype IS NULL THEN 1 ELSE 0 END)::BIGINT AS rows_backfilled,
      |  ((SELECT bad FROM mism) = 0) AS merge_equals_rebuild
      |FROM merged""".stripMargin

  /** Copy-on-write partition audit of the incremental export — the
    * claim that makes MERGE affordable at 100 TB is that untouched
    * PARTITIONS of the lake table are byte-stable (never rewritten);
    * this query PROVES it per partition: the merged state's
    * order-invariant checksum equals the base snapshot's for every
    * partition the delta didn't touch. Partitioning is user_id % 256
    * (a hash-bucket stand-in the oracle can replicate exactly); the
    * checksum is the [[qTableChecksum]] md5-prefix-to-int48 XOR over
    * (user_id, last_scn) — sufficient to detect ANY state change,
    * because a row's value cannot change without its SCN changing.
    * The carve is the last ~0.2% of SCNs so touched and untouched
    * partitions BOTH exist at every fixture (larger carves touch
    * every bucket of this fixture's key space). Output: one row per
    * materialized partition with (touched, n_base, n_merged, stable);
    * the spec asserts untouched => stable — the copy-on-write
    * contract — and that both sides are non-vacuous. */
  def qExportPartitionAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (_, baseLive, _, deltaLatest, merged) = cdcState(spark, dir, 500)
    val fp = md5Hash(concat_ws("|", $"user_id", $"last_scn"), 12)
    def psum(df: DataFrame, nName: String, csName: String): DataFrame =
      df.select(($"user_id" % 256).as("pt"), fp.as("fp"))
        .groupBy($"pt")
        .agg(count(lit(1)).as(nName), expr("bit_xor(fp)").as(csName))
    val b = psum(baseLive, "n_base", "cs_base")
    val m = psum(merged, "n_merged", "cs_merged")
    val touched = deltaLatest.select(($"user_id" % 256).as("pt")).distinct()
      .withColumn("t", lit(true))
    b.join(m, Seq("pt"), "full_outer")
      .join(touched, Seq("pt"), "left")
      .select($"pt",
        coalesce($"t", lit(false)).as("touched"),
        coalesce($"n_base", lit(0L)).as("n_base"),
        coalesce($"n_merged", lit(0L)).as("n_merged"),
        (coalesce($"cs_base", lit(0L)) === coalesce($"cs_merged", lit(0L)) &&
          coalesce($"n_base", lit(0L)) === coalesce($"n_merged", lit(0L)))
          .as("stable"))
      .orderBy($"pt")
  }

  val qExportPartitionAuditSql: String = {
    def fp(rowStr: String) =
      s"""list_sum(list_transform(range(1, 13),
         |    i -> (strpos('0123456789abcdef', substr(md5($rowStr), i, 1)) - 1)
         |         * pow(16.0, 12 - i)))::BIGINT""".stripMargin
    s"""WITH log AS (SELECT user_id, event_id AS scn,
       |    CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op
       |  FROM events),
       |cut AS (SELECT max(scn) - (count(*) // 500) AS scn0 FROM log),
       |baselive AS (SELECT user_id, last_scn FROM (
       |    SELECT user_id, scn AS last_scn, op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
       |    FROM log, cut WHERE scn <= scn0) WHERE rn = 1 AND op = 'U'),
       |dl AS (SELECT user_id, last_scn, op FROM (
       |    SELECT user_id, scn AS last_scn, op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY scn DESC) AS rn
       |    FROM log, cut WHERE scn > scn0) WHERE rn = 1),
       |merged AS (
       |  SELECT b.user_id, b.last_scn FROM baselive b
       |  WHERE NOT EXISTS (SELECT 1 FROM dl WHERE dl.user_id = b.user_id)
       |  UNION ALL
       |  SELECT user_id, last_scn FROM dl WHERE op = 'U'),
       |bfp AS (SELECT user_id % 256 AS pt, ${fp("user_id || '|' || last_scn")} AS fp
       |  FROM baselive),
       |bsum AS (SELECT pt, count(*)::BIGINT AS n_base, bit_xor(fp) AS cs_base
       |  FROM bfp GROUP BY pt),
       |mfp AS (SELECT user_id % 256 AS pt, ${fp("user_id || '|' || last_scn")} AS fp
       |  FROM merged),
       |msum AS (SELECT pt, count(*)::BIGINT AS n_merged, bit_xor(fp) AS cs_merged
       |  FROM mfp GROUP BY pt),
       |tpt AS (SELECT DISTINCT user_id % 256 AS pt FROM dl)
       |SELECT coalesce(b.pt, m.pt) AS pt,
       |  (coalesce(b.pt, m.pt) IN (SELECT pt FROM tpt)) AS touched,
       |  coalesce(n_base, 0) AS n_base,
       |  coalesce(n_merged, 0) AS n_merged,
       |  (coalesce(cs_base, 0) = coalesce(cs_merged, 0)
       |    AND coalesce(n_base, 0) = coalesce(n_merged, 0)) AS stable
       |FROM bsum b FULL JOIN msum m ON m.pt = b.pt
       |ORDER BY pt""".stripMargin
  }

  /** Benford leading-digit audit on exported money amounts: observed
    * first-digit shares next to the Benford expectation log10(1+1/d).
    * A cheap whole-table fraud/corruption screen on an export —
    * synthetic uniform prices visibly DON'T follow Benford, which is
    * exactly what the side-by-side shows. One scan, 9-row output. */
  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = T.orders(spark, dir)
      .select(substring(floor($"o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val tot = d.agg(count(lit(1)).as("n"))
    d.groupBy($"digit").agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(tot))
      .select($"digit", $"n_obs",
        round($"n_obs".cast("double") / $"n", 4).as("pct_obs"),
        round(log(10.0, lit(1.0) + lit(1.0) / $"digit"), 4).as("pct_benford"))
      .orderBy($"digit")
  }

  val qBenfordSql: String =
    """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders),
      |tot AS (SELECT count(*) AS n FROM d)
      |SELECT digit, count(*) AS n_obs,
      |  round(count(*)::DOUBLE / any_value(n), 4) AS pct_obs,
      |  round(log10(1.0 + 1.0 / digit), 4) AS pct_benford
      |FROM d, tot GROUP BY digit ORDER BY digit""".stripMargin

  /** Incremental aggregate maintenance: a materialized monthly rollup
    * kept as partial-aggregate state (counts + integer cents are both
    * re-mergeable) is combined with a delta batch by re-aggregating the
    * UNION of state rows and delta rows — never rescanning the history.
    * The oracle recomputes from scratch; equality proves the
    * incremental path is exact. At 100 TB this is the difference
    * between touching one day of data and touching all of it. */
  def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{date_format, date_trunc, sum, col}
    val cutoff = org.apache.spark.sql.functions.lit("2000-01-01").cast("timestamp")
    val o = T.orders(spark, dir)
    def rollup(df: DataFrame): DataFrame =
      df.groupBy($"o_orderstatus",
          date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val state = rollup(o.filter($"o_orderdate" < cutoff))
    val deltaAgg = rollup(o.filter($"o_orderdate" >= cutoff))
    state.unionByName(deltaAgg)
      .groupBy($"o_orderstatus", $"month")
      .agg(sum($"n").as("n"), sum($"cents").as("cents"))
      .orderBy($"o_orderstatus", $"month")
  }

  val qIncrementalAggSql: String =
    """SELECT o_orderstatus, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Small-file compaction planner: the maintenance pass every parquet
    * lake runs against the files a per-partition export sprays out
    * (the planner-level twin of the sink's byte-targeted rolling,
    * reference: src/oracle_parquet_exporter/main.py:150-187). The
    * per-(priority, month) partition extents — size-estimated from
    * row counts like the sink's width sampling — are laid out in
    * partition-key order and cut into target-sized bins by NEXT-FIT
    * over a running byte sum: `bin = floor((cumsum - size) / target)`.
    * Key-ordered next-fit keeps each bin a contiguous key range (so
    * compacted files stay partition-prunable) and needs ONE window
    * over the O(partitions) extent list — no driver-side loop, no
    * quadratic best-fit. */
  def qCompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{concat_ws, date_format, max, min, sum}
    val target = 50000L
    val extents = T.orders(spark, dir)
      .groupBy($"o_orderpriority".as("prio"),
        date_format($"o_orderdate", "yyyy-MM").as("mon"))
      .agg((count(lit(1)) * 128L).as("bytes"))
    val w = Window.orderBy($"prio", $"mon")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    extents
      .withColumn("cum", sum($"bytes").over(w))
      .withColumn("bin", floor(($"cum" - $"bytes") / target))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_files"), sum($"bytes").as("bin_bytes"),
        min(concat_ws("/", $"prio", $"mon")).as("first_part"),
        max(concat_ws("/", $"prio", $"mon")).as("last_part"))
      .orderBy($"bin")
  }

  val qCompactionPlanSql: String =
    """WITH extents AS (
      |  SELECT o_orderpriority AS prio, strftime(o_orderdate, '%Y-%m') AS mon,
      |    count(*) * 128 AS bytes
      |  FROM orders GROUP BY 1, 2),
      |planned AS (
      |  SELECT prio, mon, bytes,
      |    sum(bytes) OVER (ORDER BY prio, mon
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM extents)
      |SELECT ((cum - bytes) // 50000)::BIGINT AS bin, count(*) AS n_files,
      |  sum(bytes)::BIGINT AS bin_bytes,
      |  min(prio || '/' || mon) AS first_part,
      |  max(prio || '/' || mon) AS last_part
      |FROM planned GROUP BY 1 ORDER BY 1""".stripMargin

  /** The z-order-clustered lineitem layout itself: 4 scan columns,
    * Morton-sorted on (l_partkey, l_orderkey) into 8 range-disjoint
    * files via the production sink path ([[graft.engine.ParquetSink
    * .writeZOrdered]]). Written to a temp dir per call, like
    * [[prunedScan]]'s partitioned layout. */
  def zorderedLayout(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    import graft.engine.{ExportConfig, ParquetSink}
    val out = scratch("graft-zorder")
    val sink = new ParquetSink(ExportConfig(outputDirectory = out, overwrite = true))
    sink.prepareRoot()
    val li = T.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_returnflag"))
    sink.writeZOrdered(li, "z", "lineitem", ("l_partkey", "l_orderkey"), 8).outputDir
  }

  /** Two-column range-predicate scan over the z-ordered layout — the
    * read side that justifies the Morton write: both predicates reach
    * the parquet scan as pushed filters, and because the layout is
    * range-clustered in BOTH dimensions, file/row-group min-max
    * footers outside the predicate box are skipped. Exposed (like
    * [[prunedScan]]) so ZOrderSpec can plan-assert the pushdown and
    * measure footer-overlap vs a round-robin layout of the same file
    * count. */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(zorderedLayout(spark, dir))
      .filter(col("l_partkey").between(100, 300) &&
        col("l_orderkey").between(1000, 20000))
  }

  /** Aggregate over [[zorderScan]]; the oracle runs the same predicate
    * on the raw table, so equality proves the clustered layout is
    * lossless under predicate scans (the complement of ZOrderSpec's
    * whole-table checksum). */
  def qZorderScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    zorderScan(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  val qZorderScanSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      | round(sum(l_quantity), 2) AS qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300 AND l_orderkey BETWEEN 1000 AND 20000
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** [[zorderedLayout]]'s Hilbert twin: same 4 columns, same 8
    * range-disjoint files, sort key = the Hilbert index
    * ([[graft.functions.HilbertIndex]], a codegen'd kernel — an
    * unrolled Column formulation would grow ~3^bits expression
    * nodes). Hilbert vs Morton is the standard layout upgrade for
    * 2-D scan locality: the curve is unit-step continuous (proved
    * exhaustively in ZOrderSpec), so a predicate box covers fewer,
    * longer key runs and a footer-pruning reader opens fewer files.
    */
  def hilbertLayout(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    import graft.engine.{ExportConfig, ParquetSink}
    val out = scratch("graft-hilbert")
    val sink = new ParquetSink(ExportConfig(outputDirectory = out, overwrite = true))
    sink.prepareRoot()
    val li = T.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_returnflag"))
    sink.writeHilbertOrdered(li, "h", "lineitem", ("l_partkey", "l_orderkey"), 8).outputDir
  }

  /** Box-predicate scan over the Hilbert layout (read side of
    * [[hilbertLayout]]; ZOrderSpec plan-asserts both predicates reach
    * the parquet scan). A different box than [[zorderScan]]'s so the
    * two differentials exercise distinct selections. */
  def hilbertScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(hilbertLayout(spark, dir))
      .filter(col("l_partkey").between(50, 250) &&
        col("l_orderkey").between(5000, 30000))
  }

  /** Aggregate over [[hilbertScan]]; oracle = the same predicate on
    * the raw table, so equality proves the Hilbert-clustered layout
    * is lossless under predicate scans. */
  def qHilbertScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    hilbertScan(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  val qHilbertScanSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      | round(sum(l_quantity), 2) AS qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 50 AND 250 AND l_orderkey BETWEEN 5000 AND 30000
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_zorder_scan", qZorderScan, Some(qZorderScanSql)),
    QueryDef("q_hilbert_scan", qHilbertScan, Some(qHilbertScanSql)),
    QueryDef("q_compaction_plan", qCompactionPlan, Some(qCompactionPlanSql)),
    QueryDef("q_incremental_agg", qIncrementalAgg, Some(qIncrementalAggSql)),
    QueryDef("q_benford", qBenford, Some(qBenfordSql)),
    QueryDef("q_export_roundtrip", qExportRoundtrip, Some(qExportRoundtripSql)),
    QueryDef("q_schema_merge", qSchemaMerge, Some(qSchemaMergeSql)),
    QueryDef("q_upsert_latest", qUpsertLatest, Some(qUpsertLatestSql)),
    // nightly sync: base AS-OF-SCN export + changelog MERGE ≡ rebuild
    QueryDef("q_export_incremental", qExportIncremental, Some(qExportIncrementalSql)),
    // schema evolution through the same lifecycle, NULL backfill proved
    QueryDef("q_export_evolve", qExportEvolve, Some(qExportEvolveSql)),
    // copy-on-write: untouched partitions byte-stable under the MERGE
    QueryDef("q_export_partition_audit", qExportPartitionAudit, Some(qExportPartitionAuditSql)),
    QueryDef("q_jsonl_roundtrip", qJsonlRoundtrip, Some(qJsonlRoundtripSql)),
    QueryDef("q_csv_roundtrip", qCsvRoundtrip, Some(qCsvRoundtripSql)),
    QueryDef("q_orc_roundtrip", qOrcRoundtrip, Some(qOrcRoundtripSql)),
    QueryDef("q_partition_prune", qPartitionPrune, Some(qPartitionPruneSql)),
    QueryDef("q_column_profile", qColumnProfile, Some(qColumnProfileSql)),
    QueryDef("q_table_diff", qTableDiff, Some(qTableDiffSql)),
    QueryDef("q_table_checksum", qTableChecksum, Some(qTableChecksumSql)),
  )
}
