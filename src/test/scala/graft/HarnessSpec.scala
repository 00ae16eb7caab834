package graft

import java.nio.file.Files

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness shared by the harness mains: Bench's [[Bench.Meter]]
  * (construct/exec split and scheduler counters per run) and the one JSON
  * writer Bench and Verify emit their artifacts through. */
class HarnessSpec extends AnyFunSuite {
  import SparkTestSession._

  /** One run of `name` through the measure function Bench.main uses. */
  private def measure(name: String): Bench.Run = {
    val meter = new Bench.Meter(spark, sf)
    try meter(SparkEntry.queries(name))
    finally { meter.close(); spark.catalog.clearCache() }
  }

  test("construct-time jobs count as construct, the action's jobs as exec") {
    // q1 builds lazily: its only construct-time job would be Spark's
    // parquet footer read while it infers the lineitem schema, and the
    // schema memo serves every read after the first
    measure("q1_pricing_summary")
    val q1 = measure("q1_pricing_summary")
    assert(q1.constructJobs === 0L)
    assert(q1.execJobs > 0L)
    assert(q1.stages > 0L && q1.tasks > 0L && q1.constructMs > 0 && q1.execMs > 0)
    // k-core's peel rounds checkpoint while the query is built
    assert(measure("q_kcore_peel").constructJobs > 1L)
  }

  test("consecutive measures of one query count the same jobs") {
    // listener events arrive asynchronously: without the drain at each
    // phase boundary, a run's late job events land in the next phase
    // or the next run
    val (a, b) = (measure("q_kcore_peel"), measure("q_kcore_peel"))
    assert((a.constructJobs, a.execJobs) === ((b.constructJobs, b.execJobs)))
    // lazy checkpoints, k read once and one keep-set broadcast per
    // round: 9 jobs here, where eager checkpoints and a broadcast k
    // launched 16
    assert(b.constructJobs <= 9L)
  }

  test("JSON writer round-trips names, messages and SQL with escapes") {
    val odd = "q\"x\\y\nz\tw\u0001"
    val record = ListMap(
      "errors" -> ListMap(odd -> s"failed: $odd"),
      "sql" -> ListMap(odd -> s"SELECT '$odd' AS v"))
    val path = Files.createTempFile("harness", ".json")
    try {
      Harness.writeJson(path.toString, record)
      val text = Files.readString(path)
      // strict JSON parsers reject raw control characters inside strings
      assert(!text.stripSuffix("\n").exists(_ < ' '))
      val back = Harness.json.readTree(text)
      assert(back.path("errors").path(odd).asText === s"failed: $odd")
      assert(back.path("sql").path(odd).asText === s"SELECT '$odd' AS v")
    } finally Files.delete(path)
  }
}
