package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{ColumnMeta, TableCatalog, TableSource}

/** A timed interval around one call into a layer. `parent` is the span
  * that was open when this one started (0 = none); spans of one pass
  * share `run`. Both clocks are kept: nanoTime for durations, epoch
  * milliseconds to line spans up with Spark's job submission times. */
final case class Span(id: Int, parent: Int, run: Int, name: String, detail: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Calls arrive from the benchmark's one
  * calling thread, one operation at a time, so the stack of open spans
  * gives each span its parent. Spans are written out when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 1
  var run = 0

  def span[A](name: String, detail: String = "")(f: => A): A = {
    val (id, parent) = synchronized {
      val id = nextId
      nextId += 1
      val p = open.headOption.getOrElse(0)
      open = id :: open
      (id, p)
    }
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      synchronized {
        open = open.filterNot(_ == id)
        spans += Span(id, parent, run, name, detail, t0, t1, ms0, ms1)
      }
    }
  }

  /** Records a span whose bounds were derived after the fact. */
  def add(s: Span): Span = synchronized {
    val withId = s.copy(id = nextId)
    nextId += 1
    spans += withId
    withId
  }

  def replace(old: Span, updated: Span): Unit = synchronized {
    spans(spans.indexOf(old)) = updated
  }

  def ofRun(r: Int): Seq[Span] = synchronized(spans.filter(_.run == r).toSeq)
  def all: Seq[Span] = synchronized(spans.toSeq)
}

/** Layer decorators: each call into the catalog and the source is
  * recorded as a span around the undecorated call. */
final class TracedCatalog(inner: TableCatalog, tr: Tracer) extends TableCatalog {
  override def listTables(schema: String, include: Regex,
      exclude: Option[Regex]): Seq[String] =
    tr.span("catalog.listTables", schema)(inner.listTables(schema, include, exclude))
  override def listColumns(schema: String, table: String): Seq[ColumnMeta] =
    tr.span("catalog.listColumns", s"$schema.$table")(inner.listColumns(schema, table))
}

final class TracedSource(inner: TableSource, tr: Tracer) extends TableSource {
  override def read(spark: SparkSession, schema: String, table: String,
      cols: Seq[ColumnMeta], lowercase: Boolean, rowLimit: Long): DataFrame =
    tr.span("scan.read", s"$schema.$table")(
      inner.read(spark, schema, table, cols, lowercase, rowLimit))
}

/** Scheduler counters, registered by the benchmark for traced passes.
  * Jobs carry their submission time; stages are tied to the job that
  * listed them, so every stage and task is attributed through its job. */
final class SchedListener extends SparkListener {
  final case class Job(id: Int, timeMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runMs: Long, recordsRead: Long,
      bytesWritten: Long, shuffleWrite: Long, spill: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageIds))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, Stage(i.stageId, i.numTasks, m.executorRunTime,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  def jobList: Seq[Job] = jobs.asScala.toSeq
  def stagesOf(j: Job): Seq[Stage] = j.stageIds.flatMap(s => Option(stages.get(s)))
}
