package graft
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-12 additions (verdict task 2 + advice):
  *  - verify_meta.json records per-query row counts and a "vacuous"
  *    marker for 0-row dumps, so a 0-row/0-row hash match is
  *    distinguishable from a real match in the committed artifacts
  *    (the r11 finding: q_dedup_phash was green at sf0.01 with both
  *    engines empty). 0-row dumps outside [[declaredVacuous]] are
  *    loudly flagged ("unexpected_vacuous") — a query that silently
  *    returns nothing is a bug until declared otherwise.
  *  - A query whose Spark side THROWS is dropped from oracle_sql.json
  *    (and listed in verify_meta.json "failures"), so the driver
  *    reports the Spark-side failure instead of comparing DuckDB
  *    against a stale sidecar or a missing dump. */
object Verify {

  /** Queries that legitimately return 0 rows on specific fixtures,
    * with the reason and where the non-vacuous evidence lives.
    * EMPTY since round 13: the former entries (q_dedup_phash /
    * q_dedup_phash_dct at sf<=0.01, whose stub thumbnails genuinely
    * contained no near-dup image pairs) are now non-vacuous at every
    * fixture via the deterministic seed thumbnails
    * ([[graft.ops.Multimodal.seedThumbs]]) — the round-12 verdict
    * task-5 move, so the driver's own per-round check exercises the
    * cross-engine Hamming logic on non-empty output. */
  private val declaredVacuous: Map[String, Set[String]] = Map.empty

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val fixture = new java.io.File(sfDir).getName
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val rowCounts = scala.collection.mutable.LinkedHashMap[String, Long]()
    // SPARK_GRAFT_ONLY=q_a,q_b dumps (and pairs oracle SQL for) just
    // those queries
    Harness.queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // count the dump (not the plan): one cheap scan of the single
        // coalesced file, no re-execution of the query
        rowCounts(name) = spark.read.parquet(s"$outDir/$name").count()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("\\s+", " ").take(200)
      }
      // construction-time .cache()s inside query functions serve that
      // query's returned plan only; dropping them between queries keeps
      // a ~200-query session from accumulating executor storage
      finally spark.catalog.clearCache()
    }
    // Token substitution: {THUMBS}/{GRAPH}/... -> this run's sidecar
    // paths (written during query construction above, so they exist by
    // the time the DuckDB oracle reads them), from the one sidecar
    // registry. Oracle SQL stays static text per query; only the
    // fixture-derived path varies per run. Failed queries are dropped
    // here: their Spark dump does not exist, and pairing SQL with a
    // missing dump would compare DuckDB against stale state instead of
    // reporting the Spark failure.
    val tokens = graft.ops.Fixtures.tokens(sfDir)
    Harness.writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql
      .filter(kv => Harness.selected(kv._1) && !failures.contains(kv._1))
      .map { case (k, v) =>
        k -> tokens.foldLeft(v) { case (sql, (t, p)) => sql.replace(t, p) } })
    // Per-query metadata sidecar: row counts + vacuous markers +
    // Spark-side failures, for t2_local.py and the round artifacts.
    val metaRows = rowCounts.map { case (name, n) =>
      val vac = n == 0L
      val declared = declaredVacuous.get(name).exists(_.contains(fixture))
      name -> ListMap("spark_rows" -> n, "vacuous" -> vac,
        "declared_vacuous" -> declared, "unexpected_vacuous" -> (vac && !declared))
    }
    Harness.writeJson(s"$outDir/verify_meta.json",
      ListMap("fixture" -> fixture, "queries" -> metaRows, "failures" -> failures))
    // exit 0 even with per-query failures: the driver must still read
    // the dumps that DID land (a nonzero exit could zero the whole
    // round); the failures are loud through the missing dump, the
    // dropped oracle entry, and verify_meta.json's failures map
    spark.stop()
  }
}
