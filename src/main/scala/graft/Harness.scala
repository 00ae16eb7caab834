package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the harness mains (Bench, Verify, Explain) share: the local
  * session, the query list, the timed action and the JSON writer. The
  * product CLI (`cli.Main`) and the test session build their own. */
object Harness {

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition
    * per core, UTC, no UI. Spark logs go to stderr at WARN. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local-iteration subset: SPARK_GRAFT_ONLY=q_a,q_b selects just
    * those queries; unset, every query runs. */
  val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** The registered queries that [[only]] selects, sorted by name. */
  def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.filter(kv => selected(kv._1)).sortBy(_._1)

  /** Full materialization of ALL output columns: xxhash64 over the row
    * struct, consumed by an aggregate. A bare count() would let
    * Catalyst prune expensive projections (e.g. signature
    * computations) and under-report their cost. bit_xor consumes every
    * hash without ANSI-mode overflow (a long sum of xxhash64 values
    * overflows and kills the job mid-agg). */
  def materialize(df: DataFrame): Unit =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
      .agg(expr("bit_xor(__h)"), count(lit(1))).collect()

  /** The one JSON reader/writer; Scala maps and sequences encode as
    * objects (in iteration order) and arrays. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def writeJson(path: String, value: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      json.writeValueAsString(value) + "\n")
}
