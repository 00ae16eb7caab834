package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.ParquetTables

/** Table loaders for the driver-generated Parquet fixtures
  * (`/root/repo/TESTDATA.md`). One parquet directory per scale factor;
  * table name -> `{dir}/{name}.parquet`. This mirrors the reference's
  * output layout contract (reference: src/oracle_parquet_exporter/
  * main.py:245-253 writes `{out}/{schema}/{table}/...parquet`) — a
  * directory of Parquet files IS the table.
  */
object T {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetTables.read(spark, s"$dir/$name.parquet")

  /** Scale-adaptive scan spread (optimization guide §2.5, "input skew:
    * one huge unsplittable file ... repartition immediately after the
    * read"). The driver fixtures ship as SINGLE-ROW-GROUP parquet
    * files, so every scan plans exactly one split and all per-row map
    * work (string splits, explodes, md5, map-side partial aggregation)
    * serializes on one core no matter how many the session has —
    * measured: q_bigram_top ran its whole 2.1 s of task time in 2
    * tasks on local[32]. When the file layout cannot yield at least
    * half the session's parallelism in splits (estimated the way Spark
    * packs splits: bytes / maxPartitionBytes), one hash repartition on
    * the table's key spreads the rows. The condition is scale-inverted
    * by construction: a production-size table has thousands of splits
    * and NEVER pays this shuffle; when the repartition does fire the
    * whole table is smaller than parallelism x maxPartitionBytes, so
    * the added shuffle is bounded by that same small size. Hash
    * partitioning on a real key (never round-robin, never rand-derived)
    * keeps task-retry semantics deterministic (SPARK-38388). */
  private def spread(spark: SparkSession, dir: String, name: String,
                     keys: Seq[String]): DataFrame =
    spreadScan(spark, s"$dir/$name.parquet", keys)

  /** The Parquet table at `path`, spread — for ANY path-backed
    * relation, also sidecars (the thumbs pixel table ships as one
    * 5000-row file, so the whole DCT pipeline serialized on one core).
    * The size comes from the read's own file listing, so a rewritten
    * table is never judged by a stale size. */
  private[graft] def spreadScan(spark: SparkSession, path: String,
                                keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val par = spark.sparkContext.defaultParallelism
    val (df, bytes) = ParquetTables.sized(spark, path)
    // unknown-size sentinel: the ceiling-division below would overflow
    // Long.MaxValue into a negative quotient and FIRE the spread on the
    // exact path where "unknown => never spread" is the intent
    if (bytes == Long.MaxValue) return df
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val estSplits = math.max(1L, bytes / maxSplit + (if (bytes % maxSplit == 0) 0 else 1))
    if (estSplits * 2 <= par) df.repartition(par, keys.map(col): _*) else df
  }

  /** `events.ts` has shipped in two parquet physical types across fixture
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
    * outright with [PARQUET_TYPE_ILLEGAL], so we read it as a raw nanosecond
    * Long via the legacy conf and floor-divide to microseconds) and plain
    * timestamp[us] with isAdjustedToUTC=false (which Spark reads as
    * TIMESTAMP_NTZ). The loader adapts to whichever shape is on disk and
    * always yields session-TZ TimestampType at microsecond precision; with
    * the session timezone pinned to UTC the NTZ wall-clock IS the instant.
    * The DuckDB oracles use `make_timestamp(epoch_ns(ts)//1000)`, which
    * yields the identical microsecond instant for both physical shapes.
    *
    * The `nanosAsLong` session conf is flipped ONLY when the parquet
    * footer actually declares TIMESTAMP(NANOS) (round-8 advice: no
    * global-state mutation on every loader call — the modern
    * timestamp[us] fixture never touches session conf, so loader order
    * cannot change unrelated reads). The footer verdict is memoized on
    * the table's file fingerprint, so an in-place fixture rewrite that
    * changes the physical type is probed again. */
  def eventsTs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val path = s"$dir/events.parquet"
    if (ParquetTables.timestampNanos(spark, path, "ts"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = ParquetTables.read(spark, path)
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  // Only `documents` (and the thumbs pixel sidecar, see Multimodal)
  // gets the adaptive spread — MEASURED decision, not a blanket one:
  // every documents consumer explodes rows 10-100x and hashes them
  // (shingles, tokens, bands), so per-row map work dwarfs one narrow
  // shuffle (dedup family re-benched 0.59-0.80x of baseline). The
  // relational tables LOSE under the same treatment, two ways, both
  // measured: (a) a pre-aggregation repartition forecloses map-side
  // partial aggregation — q_approx_distinct's per-task HLL buffers
  // took the summed task time from 1.7 s to 61 s and wall from 1.7 s
  // to 3.3 s; (b) scan-light queries pay the extra exchange without
  // compensating map work (q1 0.26 -> 0.98 s, q6 0.14 -> 0.41 s), and
  // the cached-embedding walk family multiplies 32-partition task
  // launch overhead across ~7 tiny jobs per walk (q_knn_search
  // 0.75 -> 2.02 s). Those loaders stay raw; heavy MULTI-PASS
  // consumers spread their cached relation explicitly instead (fill
  // pays the shuffle once, every later pass runs wide).
  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsTs(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** The documents relation WITH the adaptive spread — used by the
    * explode-heavy kernels only (shingles, token md5 pipelines, the
    * 8-gram decontamination shapes), where per-row map work is 10-100x
    * the row's bytes and the same-state A/B measured 0.5-0.7x. Light
    * consumers (whole-text md5, per-doc length stats, source rollups)
    * read the raw loader: for them the added exchange is pure loss
    * (q_dedup_exact measured 0.19 -> 0.69 s under a loader-level
    * spread). */
  private[graft] def documentsSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "documents", Seq("doc_id"))

  /** lineitem WITH the adaptive spread, keyed on the order key — used
    * ONLY by consumers whose first operation is a `groupBy(l_orderkey)`
    * whole-row aggregate (the basket family's collect_set reshape),
    * where the repartition is not an extra exchange: it IS the
    * aggregation exchange (§2.4), moved ahead of the scan so the
    * per-order set building runs at full width instead of serializing
    * on the fixture's single parquet split. Everything else keeps the
    * raw loader: the r16 A/B measured the blanket lineitem spread as a
    * net LOSS for partial-aggregating consumers (q_approx_distinct
    * summed task time 1.7 -> 61 s; q1 0.26 -> 0.98 s) because it
    * forecloses map-side combine — a collect_set by the spread key has
    * no map-side combine to lose. */
  private[graft] def lineitemSpread(s: SparkSession, d: String): DataFrame =
    spread(s, d, "lineitem", Seq("l_orderkey"))
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** Stored artifacts ("sidecars") derived from a fixture and read back
  * by both engines: the decode pixel table, the kNN-graph layers, the
  * PQ codebooks and codes, the unigram vocabulary and the BPE merge
  * table. This object owns every sidecar rule in one place:
  *  - WHERE: absolute paths under the repo's `tools/fixtures`
  *    (SPARK_GRAFT_FIXTURE_DIR overrides), keyed by the fixture's
  *    basename so every scale factor gets its own artifact. The root is
  *    anchored to the repo that owns THIS compiled class (the first
  *    ancestor of the class's code source carrying build.sbt), so the
  *    Spark writer and the DuckDB reader agree on the location no
  *    matter the invoking process's working directory. The oracle SQL
  *    names each sidecar by its token ({THUMBS}, {GRAPH}, ...), which
  *    Verify substitutes from [[tokens]].
  *  - WHEN: a sidecar is fresh iff its marker file records the current
  *    [[Version]] and the fingerprint (relative path, size, mtime of
  *    every data file, from the [[ParquetTables]] listing) of the
  *    fixture table it derives from. Anything else —
  *    older code, an in-place fixture edit, a missing marker, or the
  *    forced-rebuild switch read in [[fresh]] (the compaction path) —
  *    rebuilds. */
object Fixtures {
  def root: String = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", {
    val codeSrc = try {
      Option(getClass.getProtectionDomain.getCodeSource)
        .map(s => new java.io.File(s.getLocation.toURI))
    } catch { case _: Exception => None }
    codeSrc
      .flatMap(f => Iterator.iterate(f)(_.getParentFile)
        .takeWhile(_ != null).take(6)
        .find(p => new java.io.File(p, "build.sbt").isFile))
      .map(r => new java.io.File(r, "tools/fixtures").getAbsolutePath)
      .getOrElse(new java.io.File("tools/fixtures").getAbsolutePath)
  })

  /** kind -> (oracle SQL token, fixture table it derives from). */
  private val registry: Map[String, (String, String)] = Map(
    "thumbs"          -> ("THUMBS", "documents"),
    "knngraph"        -> ("GRAPH", "embeddings"),
    "knngraph_base"   -> ("GRAPHBASE", "embeddings"),
    "knngraph_upper"  -> ("GRAPHUPPER", "embeddings"),
    "pqcodebook"      -> ("PQCODEBOOK", "embeddings"),
    "pqcodes"         -> ("PQCODES", "embeddings"),
    "pqcodebook_base" -> ("PQCODEBOOKBASE", "embeddings"),
    "pqcodes_base"    -> ("PQCODESBASE", "embeddings"),
    "univocab"        -> ("UNIVOCAB", "documents"),
    "bpemerges"       -> ("BPEMERGES", "documents"))

  /** `{root}/{kind}_{fixture-basename}.parquet` */
  def sidecarPath(dir: String, kind: String): String = {
    require(registry.contains(kind), s"unregistered sidecar kind: $kind")
    s"$root/${kind}_${new java.io.File(dir).getName}.parquet"
  }

  /** `{TOKEN}` -> this fixture's sidecar path, for every kind. */
  def tokens(dir: String): Seq[(String, String)] =
    registry.toSeq.map { case (kind, (token, _)) =>
      s"{$token}" -> sidecarPath(dir, kind) }

  /** Bumped whenever a stored artifact's DEFINITION or the marker's
    * format changes, so a sidecar built by older code rebuilds instead
    * of serving. */
  private[graft] val Version = 3

  /** Freshness marker written inside each sidecar directory (Spark's
    * reader skips `_`-prefixed files; DuckDB reads `*.parquet`). */
  private[graft] val Marker = "_GRAFT_SIDECAR"

  /** The marker's contents: [[Version]], then one `path size mtime` line
    * per data file of the source fixture table, paths relative to `dir`.
    * The files are the [[ParquetTables]] listing, so a checksum file or
    * `_SUCCESS` is not part of the table here either. */
  private def stamp(spark: SparkSession, dir: String, kind: String): String = {
    val table = s"${registry(kind)._2}.parquet"
    val files = ParquetTables.fingerprint(spark, s"$dir/$table").getOrElse(Vector.empty)
    (s"v$Version" +: files.map { case (path, size, mtime) => s"$table$path $size $mtime" })
      .mkString("", "\n", "\n")
  }

  private def fresh(spark: SparkSession, dir: String, kind: String): Boolean = {
    val marker = new java.io.File(sidecarPath(dir, kind), Marker)
    !sys.env.get("SPARK_GRAFT_REBUILD_INDEX").contains("1") && marker.isFile &&
      java.nio.file.Files.readString(marker.toPath) == stamp(spark, dir, kind)
  }

  /** Write `df` as `dir`'s `kind` sidecar and stamp it fresh — the
    * build step of [[materialize]], and the hook that serves an
    * externally-trained artifact (e.g. a vocabulary from another
    * corpus) as this fixture's own. */
  def install(dir: String, kind: String, df: DataFrame): String = {
    val path = sidecarPath(dir, kind)
    df.write.mode("overwrite").parquet(path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, Marker), stamp(df.sparkSession, dir, kind))
    path
  }

  /** Build-once/serve-many: unless every `kinds` sidecar of `dir` is
    * fresh, evaluate `build` (one relation per kind, written in order,
    * so one build can feed several artifacts) and [[install]] each.
    * Returns the paths, in `kinds` order. */
  def materialize(spark: SparkSession, dir: String, kinds: String*)(
      build: => Seq[DataFrame]): Seq[String] = {
    if (!kinds.forall(fresh(spark, dir, _)))
      kinds.zip(build).foreach { case (kind, df) => install(dir, kind, df) }
    kinds.map(sidecarPath(dir, _))
  }

  /** The `kind` sidecar of `dir`, built by `build` when stale. */
  def stored(spark: SparkSession, dir: String, kind: String)(build: => DataFrame): DataFrame =
    ParquetTables.read(spark, materialize(spark, dir, kind)(Seq(build)).head)
}
