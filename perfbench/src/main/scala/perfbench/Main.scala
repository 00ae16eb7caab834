package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per invocation.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --fingerprints FILE [--scale full|smoke]
  *                  [--corrupt-export] [--record-fingerprints FILE]
  *
  * Set-up builds and loads fresh inputs [[SetupReps]] times, then runs one
  * warm-up pass; `setup_s` is the median input set-up plus that pass.
  * Then passes run back to back (closed loop, one client) for S seconds,
  * at least [[MinPasses]] of them. Untraced runs report the end-to-end
  * metrics; traced runs interleave untraced and traced passes and report
  * the per-layer metrics plus the tracing overhead between the two.
  * Outputs are checked outside the timed region. The first stdout line
  * is the run's report, the last the result object. */
object Main {
  /** Data seed of the workloads whose inputs do not follow `--seed`. */
  val FixedSeed = 42L
  val Cores = 4
  /** Fewest timed passes per run (per side, in traced runs). */
  val MinPasses = 3

  /** Input set-ups per run; `setup_s` takes their median. */
  val SetupReps = 2

  final case class Plan(sf: Double, nTables: Int, maxRows: Long, queries: Seq[String])

  /** query_scan: TPC-H shapes that each run one plan (scan, join, aggregate). */
  val scanQueries = Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_revenue_change", "q18_large_volume")
  /** query_iterative: queries whose construction runs chains of small eager
    * jobs (per-round checkpoints in the k-core peel, nested exact-quantile
    * passes in RFM scoring). */
  val iterativeQueries = Seq("q_kcore_peel", "q_rfm")
  /** query_mixed: three scan shapes beside one iterative query, sized to
    * fit several passes into one run. */
  val mixedQueries = Seq("q1_pricing_summary", "q3_shipping_priority", "q18_large_volume",
    "q_kcore_peel")

  def plan(workload: String, smoke: Boolean): Plan = (workload, smoke) match {
    case ("export_jdbc", false) => Plan(0.01, 0, 0, Nil)
    case ("export_jdbc", true) => Plan(0.001, 0, 0, Nil)
    case ("export_many_tables", false) => Plan(0, 24, 20000, Nil)
    case ("export_many_tables", true) => Plan(0, 4, 200, Nil)
    case ("query_scan", false) => Plan(0.01, 0, 0, scanQueries)
    case ("query_scan", true) => Plan(0.001, 0, 0, scanQueries.take(2))
    case ("query_iterative", false) => Plan(0.01, 0, 0, iterativeQueries)
    case ("query_iterative", true) => Plan(0.001, 0, 0, iterativeQueries.take(1))
    case ("query_mixed", false) => Plan(0.01, 0, 0, mixedQueries)
    case ("query_mixed", true) => Plan(0.001, 0, 0, mixedQueries)
    case (w, _) => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  private val json = new ObjectMapper()

  private[perfbench] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Scala values to plain Java collections for the JSON writer. */
  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case o => o.toString
  }
  private def render(v: Any): String = json.writeValueAsString(toJava(v))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(a => a == "--corrupt-export").map(_.drop(2) -> "1")
    val code = try run(opts) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }

  private def readFingerprints(path: String, key: String): Map[String, (Long, Long)] = {
    val f = Paths.get(path)
    if (!Files.exists(f)) Map.empty
    else Option(json.readTree(f.toFile).get(key)).map { node =>
      node.fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asLong())
      }.toMap
    }.getOrElse(Map.empty)
  }

  def run(o: Map[String, String]): Int = {
    val started = System.nanoTime()
    val workload = o("workload")
    val seed = o.getOrElse("seed", "1").toLong
    val seconds = o.getOrElse("seconds", "10").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val smoke = o.getOrElse("scale", "full") == "smoke"
    val work = Paths.get(o("work")).toAbsolutePath
    val p = plan(workload, smoke)
    val fpKey = s"sf${p.sf}"
    val recording = o.contains("record-fingerprints")
    val load0 = loadavg()

    Checks.deleteTree(work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - started) / 1e9

    val wl: Workload = workload match {
      case "export_jdbc" => new ExportWorkload(spark, jdbc = true, seed, p.sf,
        0, 0, work, o.contains("corrupt-export"))
      case "export_many_tables" => new ExportWorkload(spark, jdbc = false, seed, p.sf,
        p.nTables, p.maxRows, work, o.contains("corrupt-export"))
      case _ => new QueryWorkload(spark, p.queries, p.sf, work,
        readFingerprints(o("fingerprints"), fpKey))
    }

    // the timed passes use the inputs of the last set-up
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val setups = (1 to SetupReps).map(_ => timed(wl.setup()))
    val warmup = timed(wl.pass(None))
    wl.prepareChecks()
    wl match { case q: QueryWorkload => q.perQuery.clear(); case _ => () }

    // measured passes: closed loop, one operation at a time
    val tracer = new Tracer
    val listener = new SchedListener
    val plain = ArrayBuffer[Pass]()
    val withTrace = ArrayBuffer[(Pass, Int, Long)]() // pass, run id, gc ms
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < seconds || plain.size < MinPasses || (traced && withTrace.size < MinPasses)) {
      // traced passes in an ABBA order, so a warm-up trend biases
      // neither side of the tracing-overhead comparison
      if (traced && (i % 4 == 1 || i % 4 == 2)) {
        tracer.run = i
        spark.sparkContext.addSparkListener(listener)
        val gc0 = gcMs()
        val ps = tracer.span("pass", workload)(wl.pass(Some(tracer)))
        val gc = gcMs() - gc0
        org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        withTrace += ((ps, i, gc))
      } else plain += wl.pass(None)
      i += 1
    }

    val (vAttempted, vFailed) = wl.verify()
    val all = plain.toSeq ++ withTrace.map(_._1)
    val attempted = all.map(_.attempted).sum + vAttempted
    val failed = all.map(_.failed).sum + vFailed
    val passS = median(plain.map(_.seconds).toSeq)
    val ops = plain.flatMap(_.opSeconds).toSeq
    val peak = peakRssMb()
    val setupS = median(setups) + warmup

    val report = collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "seed_used" -> (workload == "export_many_tables"),
      "inputs" -> {
        val in = wl.inputs
        Map("tables" -> in.tables, "rows" -> in.rows, "source_bytes" -> in.sourceBytes,
          "note" -> in.note)
      },
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "master" -> s"local[$Cores]", "shuffle_partitions" -> Cores),
      "session_s" -> sessionS, "input_setup_s" -> setups, "warmup_pass_s" -> warmup,
      "passes_s" -> plain.map(_.seconds), "error_rate" -> failed.toDouble / attempted,
      "peak_rss_mb" -> peak)
    wl match {
      case e: ExportWorkload =>
        val rows = plain.last.rows
        report ++= Seq("export_s" -> passS, "export_rows_per_s" -> rows / passS,
          "out_bytes_per_row" -> e.outputBytes.toDouble / rows,
          "table_s_p50" -> Map("value" -> median(ops), "n" -> ops.size))
      case q: QueryWorkload =>
        report ++= Seq("suite_s" -> passS,
          "query_s_p50" -> Map("value" -> median(ops), "n" -> ops.size),
          "query_s_median" -> q.perQuery.map { case (k, v) => k -> median(v) })
        if (recording) {
          val f = Paths.get(o("record-fingerprints"))
          val root = json.createObjectNode()
          if (Files.exists(f)) root.setAll(json.readTree(f.toFile).asInstanceOf[ObjectNode])
          val forScale = Option(root.get(fpKey)).getOrElse(root.putObject(fpKey)).asInstanceOf[ObjectNode]
          q.observed.foreach { case (k, (r, h)) => forScale.putObject(k).put("rows", r).put("hash", h) }
          json.writerWithDefaultPrettyPrinter().writeValue(f.toFile, root)
        }
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("op_p50_s", median(ops), "s"),
        ("peak_rss_mb", peak, "MB"))
      else {
        val layers = Layers.compute(tracer, listener, withTrace.toSeq, p.queries)
        val tracedS = median(withTrace.map(_._1.seconds).toSeq)
        val overhead = 100.0 * (tracedS / passS - 1)
        report ++= Seq("traced_passes_s" -> withTrace.map(_._1.seconds),
          "tracing_overhead_pct" -> overhead,
          "spans_file" -> work.resolve("spans.jsonl").toString)
        Layers.dump(tracer, work.resolve("spans.jsonl"))
        layers :+ (("trace.overhead_pct", overhead, "%"))
      }

    println(render(Map("report" -> report)))
    spark.stop()
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u)
      }: _*))
    println(render(result))
    if (failed == 0) 0 else 1
  }
}
