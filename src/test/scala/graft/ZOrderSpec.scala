package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ExportConfig, ParquetSink}

/** Z-order clustered write (engine/Sink.writeZOrdered + functions/
  * ZOrder): correctness (lossless roundtrip) and the property that
  * justifies its existence — per-file min/max ranges stay narrow on
  * BOTH clustering columns, unlike a round-robin layout of the same
  * file count. That per-file range is exactly what parquet footer
  * pruning consumes, so the locality ratio measured here is the scan
  * reduction a filtered read gets at any scale.
  */
class ZOrderSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("zorder_spec").toString

  /** Mean per-file extent of `c`, normalized by the global extent:
    * ~1.0 when every file spans the whole range (no locality), -> 0
    * as files become range-disjoint. */
  private def locality(dir: String, c: String): Double = {
    val df = spark.read.parquet(dir)
      .select(col(c).cast("double").as("v"), input_file_name().as("f"))
    val global = df.agg(max($"v") - min($"v")).head().getDouble(0)
    val perFile = df.groupBy($"f").agg((max($"v") - min($"v")).as("ext"))
      .agg(avg($"ext")).head().getDouble(0)
    perFile / global
  }

  test("z-ordered write is lossless and clusters both dimensions") {
    val li = ops.T.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_quantity")
    val files = 8

    val zOut = freshDir()
    val zSink = new ParquetSink(ExportConfig(outputDirectory = zOut, overwrite = true))
    zSink.prepareRoot()
    val stats = zSink.writeZOrdered(li, "s", "li_z", ("l_partkey", "l_orderkey"), files)

    // lossless: same multiset of rows back
    val back = spark.read.parquet(stats.outputDir)
    assert(back.count() === li.count())
    val ck = (df: org.apache.spark.sql.DataFrame) =>
      df.select(xxhash64(struct(df.columns.sorted.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
    assert(ck(back) === ck(li))

    // baseline: identical file count, round-robin layout
    val rrOut = freshDir()
    li.repartition(files).write.mode("overwrite").parquet(rrOut)

    val zPart = locality(stats.outputDir, "l_partkey")
    val zOrd = locality(stats.outputDir, "l_orderkey")
    val rrPart = locality(rrOut, "l_partkey")
    val rrOrd = locality(rrOut, "l_orderkey")
    // round-robin files each span ~the full range of both columns
    assert(rrPart > 0.9 && rrOrd > 0.9)
    // z-order narrows BOTH dimensions at once
    assert(zPart < 0.75 * rrPart, s"partkey locality $zPart vs $rrPart")
    assert(zOrd < 0.75 * rrOrd, s"orderkey locality $zOrd vs $rrOrd")
  }

  test("clustered write at a thousand files keeps every row and gives each file its own curve range") {
    // the export sizes --cluster-by layouts by bytes, up to 10000 files;
    // a row's file is found by binary search over the sampled bounds
    val li = ops.T.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
    val files = 1000
    val out = freshDir()
    val sink = new ParquetSink(ExportConfig(outputDirectory = out, overwrite = true))
    sink.prepareRoot()
    val stats = sink.writeHilbertOrdered(li, "s", "li_many", ("l_partkey", "l_orderkey"), files)

    val back = spark.read.parquet(stats.outputDir)
    assert(back.count() === li.count())
    // the write's curve value, recomputed from the same global ranges
    val r = li.agg(
      min($"l_partkey".cast("double")), max($"l_partkey".cast("double")),
      min($"l_orderkey".cast("double")), max($"l_orderkey".cast("double"))).head()
    val z = functions.ZOrder.hilbertValue(
      $"l_partkey", r.getDouble(0), r.getDouble(1),
      $"l_orderkey", r.getDouble(2), r.getDouble(3))
    val spans = back.select(z.as("z"), input_file_name().as("f"))
      .groupBy($"f").agg(min($"z").as("lo"), max($"z").as("hi"))
      .orderBy($"lo").collect().map(row => (row.getLong(1), row.getLong(2)))
    assert(spans.length > files / 2, s"only ${spans.length} of $files files written")
    spans.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"two files share curve values: one ends at $hi, the next starts at $lo")
    }
  }

  test("q_zorder_scan pushes both range predicates into the parquet scan") {
    // formatted mode: the simple-string plan truncates PushedFilters
    val plan = ops.ExportOps.zorderScan(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_partkey,100)") &&
      plan.contains("LessThanOrEqual(l_orderkey,20000)"),
      s"expected both range predicates pushed to the scan, got:\n$plan")
  }

  test("z-ordered layout leaves fewer file footers overlapping a 2-D predicate box") {
    val files = 8
    val li = ops.T.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_returnflag")
    val zDir = ops.ExportOps.zorderedLayout(spark, sf)
    val rrDir = freshDir()
    li.repartition(files).write.mode("overwrite").parquet(rrDir)

    // predicate box: the central [20%, 45%] band of each dimension's
    // global extent — sf-independent, ~6% of the 2-D key space
    val r = li.agg(
      min($"l_partkey").cast("double"), max($"l_partkey").cast("double"),
      min($"l_orderkey").cast("double"), max($"l_orderkey").cast("double")).head()
    def band(lo: Double, hi: Double) = (lo + 0.20 * (hi - lo), lo + 0.45 * (hi - lo))
    val (pLo, pHi) = band(r.getDouble(0), r.getDouble(1))
    val (oLo, oHi) = band(r.getDouble(2), r.getDouble(3))

    // files whose min/max footer ranges intersect the box — exactly
    // the set a footer-pruning reader must open
    def overlapping(dir: String): Long =
      spark.read.parquet(dir)
        .select($"l_partkey".cast("double").as("p"),
          $"l_orderkey".cast("double").as("o"), input_file_name().as("f"))
        .groupBy($"f")
        .agg(min($"p").as("pmin"), max($"p").as("pmax"),
          min($"o").as("omin"), max($"o").as("omax"))
        .filter($"pmin" <= pHi && $"pmax" >= pLo &&
          $"omin" <= oHi && $"omax" >= oLo)
        .count()

    val zHit = overlapping(zDir)
    val rrHit = overlapping(rrDir)
    assert(rrHit === files.toLong,
      s"round-robin files should all span the box, got $rrHit/$files")
    assert(zHit < rrHit,
      s"z-order should skip files on a 2-D box: $zHit vs $rrHit")
  }

  test("hilbert index is a bijection with unit-step adjacency (exhaustive 64x64)") {
    // the complete correctness contract of a space-filling curve: every
    // cell gets a distinct index in [0, n^2) (bijection), and walking
    // the curve in index order moves exactly one Manhattan step per
    // increment (continuity — the property Morton order lacks, and the
    // reason a Hilbert layout fragments a box predicate less)
    val n = 64
    val grid = spark.range(n.toLong * n)
      .select(($"id" % n).as("x"), ($"id" / n).cast("long").as("y"))
      .select($"x", $"y", functions.F.hilbertIndex($"x", $"y", 6).as("d"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    assert(grid.map(_._1).distinct.length === n * n)
    assert(grid.map(_._1).min === 0L && grid.map(_._1).max === (n * n - 1).toLong)
    val byD = grid.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"curve teleports between d-consecutive cells ($x1,$y1) -> ($x2,$y2)")
    }
  }

  test("q_hilbert_scan pushes both range predicates into the parquet scan") {
    val plan = ops.ExportOps.hilbertScan(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_partkey,50)") &&
      plan.contains("LessThanOrEqual(l_orderkey,30000)"),
      s"expected both range predicates pushed to the scan, got:\n$plan")
  }

  test("hilbert layout prunes at least as well as z-order on a 2-D box") {
    val files = 8
    val zDir = ops.ExportOps.zorderedLayout(spark, sf)
    val hDir = ops.ExportOps.hilbertLayout(spark, sf)
    val li = ops.T.lineitem(spark, sf)
    val r = li.agg(
      min($"l_partkey").cast("double"), max($"l_partkey").cast("double"),
      min($"l_orderkey").cast("double"), max($"l_orderkey").cast("double")).head()
    def band(lo: Double, hi: Double) = (lo + 0.20 * (hi - lo), lo + 0.45 * (hi - lo))
    val (pLo, pHi) = band(r.getDouble(0), r.getDouble(1))
    val (oLo, oHi) = band(r.getDouble(2), r.getDouble(3))
    def overlapping(dir: String): Long =
      spark.read.parquet(dir)
        .select($"l_partkey".cast("double").as("p"),
          $"l_orderkey".cast("double").as("o"), input_file_name().as("f"))
        .groupBy($"f")
        .agg(min($"p").as("pmin"), max($"p").as("pmax"),
          min($"o").as("omin"), max($"o").as("omax"))
        .filter($"pmin" <= pHi && $"pmax" >= pLo &&
          $"omin" <= oHi && $"omax" >= oLo)
        .count()
    val hHit = overlapping(hDir)
    val zHit = overlapping(zDir)
    assert(hHit < files.toLong, s"hilbert layout must skip files: $hHit/$files")
    assert(hHit <= zHit,
      s"hilbert footer overlap should not exceed z-order's: $hHit vs $zHit")
  }

  test("interleave is monotone on the diagonal and bounded") {
    val df = Seq((0L, 0L), (1L, 1L), (2L, 2L), (65535L, 65535L))
      .toDF("x", "y")
      .select(functions.ZOrder.interleave($"x", $"y", 16).as("z"))
    val zs = df.collect().map(_.getLong(0))
    assert(zs.sorted.sameElements(zs))
    assert(zs.last === (1L << 32) - 1)
  }
}
