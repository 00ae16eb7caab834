package perfbench

import java.nio.file.{Files, Path}

/** Per-layer figures of the traced passes, from the spans the benchmark
  * recorded around each layer call and the scheduler listener's counts.
  *
  * Layer of a span: `catalog.*` (TableCatalog calls), `scan.read`
  * (TableSource.read), `sink.table` (one table's export minus its catalog
  * and scan children), `exporter.exportTables` (the export call minus
  * discovery and the tables), `ops.construct` / `ops.exec` (a query's
  * construction and its materializing action).
  *
  * The Exporter runs tables one at a time, so each table's span is
  * derived from the outside: it starts at that table's `listColumns`
  * call and ends where the next table's starts (the last one ends with
  * the export call). A job belongs to the innermost span that was open
  * when it was submitted; only one operation runs at a time, so the time
  * window is exact up to the millisecond resolution of job times. */
object Layers {

  private val layerNames = Seq("catalog", "scan", "sink", "exporter", "construct", "exec")

  private def layerOf(s: Span): Option[String] = s.name match {
    case n if n.startsWith("catalog.") => Some("catalog")
    case "scan.read" => Some("scan")
    case "sink.table" => Some("sink")
    case "exporter.exportTables" => Some("exporter")
    case "ops.construct" => Some("construct")
    case "ops.exec" => Some("exec")
    case _ => None
  }

  /** Adds the derived per-table spans of one export pass to the tracer. */
  private def deriveTables(tracer: Tracer, run: Int): Unit = {
    val spans = tracer.ofRun(run)
    spans.find(_.name == "exporter.exportTables").foreach { ex =>
      val cols = spans.filter(_.name == "catalog.listColumns").sortBy(_.startNs)
      val ends = cols.drop(1).map(c => (c.startNs, c.startMs)) :+ ((ex.endNs, ex.endMs))
      cols.zip(ends).foreach { case (c, (endNs, endMs)) =>
        val t = tracer.add(Span(0, ex.id, run, "sink.table", c.detail,
          c.startNs, endNs, c.startMs, endMs))
        spans.filter(s => (s.name == "catalog.listColumns" || s.name == "scan.read") &&
            s.startNs >= t.startNs && s.startNs < t.endNs)
          .foreach(s => tracer.replace(s, s.copy(parent = t.id)))
      }
    }
  }

  /** Self time of each layer: span duration minus its children's. */
  private def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.flatMap(s => layerOf(s).map(_ -> (s.ms - childMs.getOrElse(s.id, 0.0))))
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  def compute(tracer: Tracer, listener: SchedListener, passes: Seq[(Pass, Int, Long)],
      queries: Seq[String]): Seq[(String, Double, String)] = {
    val stageOwner = collection.mutable.Map[Int, Int]()
    listener.jobList.sortBy(_.id).foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j.id)))

    val perPass = passes.map { case (pass, run, gc) =>
      deriveTables(tracer, run)
      val spans = tracer.ofRun(run)
      val whole = spans.find(_.name == "pass").get
      val jobs = listener.jobList.filter(j => j.timeMs >= whole.startMs && j.timeMs <= whole.endMs)
      def innermost(t: Long): Option[Span] =
        spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(-_.startNs).headOption
      val jobLayer = jobs.map(j => j -> innermost(j.timeMs).flatMap(layerOf))
      def jobsOf(l: String) = jobLayer.count(_._2.contains(l)).toDouble
      val stages = jobs.flatMap(j => listener.stagesOf(j).filter(s => stageOwner.get(s.id).contains(j.id)))
      val self = selfMs(spans)
      def ms(l: String) = self.getOrElse(l, 0.0)
      def named(n: String) = spans.filter(_.name == n)
      val taskMs = stages.map(_.runMs).sum.toDouble
      val rowsRead = stages.map(_.recordsRead).sum.toDouble
      val wallMs = whole.ms
      val covered = layerNames.map(ms).sum
      val perQuery = queries.flatMap { q =>
        Seq(s"ops.$q.construct_ms" -> named("ops.construct").filter(_.detail == q).map(_.ms).sum,
          s"ops.$q.exec_ms" -> named("ops.exec").filter(_.detail == q).map(_.ms).sum)
      }.toMap
      Map(
        "catalog.list_tables_ms" -> named("catalog.listTables").map(_.ms).sum,
        "catalog.list_columns_ms" -> named("catalog.listColumns").map(_.ms).sum,
        "catalog.jobs" -> jobsOf("catalog"),
        "scan.read_ms" -> ms("scan"),
        "scan.jobs" -> jobsOf("scan"),
        "scan.rows_read" -> rowsRead,
        "scan.read_amplification" -> (if (pass.rows > 0) rowsRead / pass.rows else 0.0),
        "sink.ms" -> ms("sink"),
        "sink.jobs" -> jobsOf("sink"),
        "sink.files" -> pass.files.toDouble,
        "sink.bytes_written" -> stages.map(_.bytesWritten).sum.toDouble,
        "exporter.ms" -> ms("exporter"),
        "exporter.tables" -> named("sink.table").size.toDouble,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
        "spark.task_ms" -> taskMs,
        "spark.core_util" -> taskMs / (wallMs * Main.Cores),
        "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
        "spark.gc_ms" -> gc.toDouble,
        "ops.construct_ms" -> ms("construct"),
        "ops.construct_jobs" -> jobsOf("construct"),
        "ops.exec_ms" -> ms("exec"),
        "ops.exec_jobs" -> jobsOf("exec"),
        "trace.coverage_pct" -> 100.0 * covered / wallMs) ++ perQuery
    }
    metricUnits.map { case (n, u) => (n, Main.median(perPass.map(_.getOrElse(n, 0.0))), u) }
  }

  /** Every per-layer metric, with its unit, in output order. The
    * per-query rows cover the query_mixed queries on every workload (0
    * where the workload does not run them). */
  val metricUnits: Seq[(String, String)] = Seq(
    "catalog.list_tables_ms" -> "ms", "catalog.list_columns_ms" -> "ms", "catalog.jobs" -> "count",
    "scan.read_ms" -> "ms", "scan.jobs" -> "count", "scan.rows_read" -> "rows",
    "scan.read_amplification" -> "ratio",
    "sink.ms" -> "ms", "sink.jobs" -> "count", "sink.files" -> "count", "sink.bytes_written" -> "B",
    "exporter.ms" -> "ms", "exporter.tables" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.core_util" -> "ratio", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.gc_ms" -> "ms",
    "ops.construct_ms" -> "ms", "ops.construct_jobs" -> "count",
    "ops.exec_ms" -> "ms", "ops.exec_jobs" -> "count") ++
    Main.mixedQueries.flatMap(q => Seq(s"ops.$q.construct_ms" -> "ms", s"ops.$q.exec_ms" -> "ms")) ++
    Seq("trace.coverage_pct" -> "%")

  /** Span dump, one JSON object per line, times in ms from the first span. */
  def dump(tracer: Tracer, path: Path): Unit = {
    val spans = tracer.all.sortBy(_.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":"${s.name}",""" +
        s""""detail":"${s.detail.replace("\"", "'")}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
