package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operator family: changepoint detection, seasonal
  * decomposition, cumulative-distinct via first-touch, sweep-line
  * concurrency, and changelog (CDC) merge with delete semantics.
  *
  * None of these exist in the reference (its entire operator surface
  * is the export pipeline, reference: src/oracle_parquet_exporter/
  * main.py:129-189); they are Tier-B north-star engine surface a
  * downstream analytics user runs over the exported Parquet daily.
  *
  * Every operator here reduces the fact table to a per-key daily (or
  * per-instant) aggregate FIRST, then runs windows over that reduced
  * relation — the pattern that survives 100 TB: the windows see
  * O(days) or O(distinct instants) rows, never O(fact rows), so the
  * only full-data pass is one map-side-combined hash aggregate.
  */
object Timeseries extends QueryFamily {

  /** Daily revenue from `orders`, the shared reduced series. Unrounded:
    * consumers round at the output edge only, so Spark and DuckDB run
    * the same arithmetic on the same frames. */
  private def dailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    T.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum($"o_totalprice").as("rev"))
  }

  /** Changepoint detection on daily revenue: for each day with a full
    * 7-day history and 7-day future, score the absolute shift between
    * the trailing-7 mean (rows -7..-1) and the leading-7 mean (rows
    * 0..+6); report the 5 largest shifts. The window runs over the
    * ~O(days) reduced series, so frame evaluation is microscopic next
    * to the single hash-agg pass over the fact table. Ranking happens
    * AFTER rounding with a day tiebreak, so the top-5 cut is
    * deterministic across engines. */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"day")
    val before = w.rowsBetween(-7, -1)
    val after = w.rowsBetween(0, 6)
    val scored = dailyRevenue(spark, dir)
      .withColumn("n_before", count(lit(1)).over(before))
      .withColumn("n_after", count(lit(1)).over(after))
      .withColumn("avg_before", avg($"rev").over(before))
      .withColumn("avg_after", avg($"rev").over(after))
      .filter($"n_before" === 7 && $"n_after" === 7)
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        round($"avg_before", 2).as("avg_before"),
        round($"avg_after", 2).as("avg_after"),
        round(abs($"avg_after" - $"avg_before"), 2).as("shift"))
    scored
      .withColumn("rn", row_number().over(Window.orderBy(desc("shift"), asc("day"))))
      .filter($"rn" <= 5)
      .select($"rn", $"day", $"avg_before", $"avg_after", $"shift")
      .orderBy($"rn")
  }

  val qChangepointSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate::DATE AS day, sum(o_totalprice) AS rev
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT day,
      |    count(*) OVER b AS n_before, count(*) OVER a AS n_after,
      |    avg(rev) OVER b AS avg_before, avg(rev) OVER a AS avg_after
      |  FROM daily
      |  WINDOW b AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
      |         a AS (ORDER BY day ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)),
      |r AS (
      |  SELECT strftime(day, '%Y-%m-%d') AS day,
      |    round(avg_before, 2) AS avg_before,
      |    round(avg_after, 2) AS avg_after,
      |    round(abs(avg_after - avg_before), 2) AS shift
      |  FROM scored WHERE n_before = 7 AND n_after = 7)
      |SELECT rn, day, avg_before, avg_after, shift FROM (
      |  SELECT *, row_number() OVER (ORDER BY shift DESC, day) AS rn FROM r)
      |WHERE rn <= 5 ORDER BY rn""".stripMargin

  /** Classical additive decomposition of daily revenue: trend =
    * centered 7-day mean (full frames only), seasonal = day-of-week
    * mean of the detrended series, residual = the rest. Two windows
    * and one 7-row broadcast join over the reduced daily series.
    * Day-of-week convention: Spark `dayofweek` is 1=Sunday, DuckDB's
    * is 0=Sunday — the Spark side subtracts 1 so both emit 0..6. */
  def qSeasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val centered = Window.orderBy($"day").rowsBetween(-3, 3)
    val det = dailyRevenue(spark, dir)
      .withColumn("n_win", count(lit(1)).over(centered))
      .withColumn("trend", avg($"rev").over(centered))
      .filter($"n_win" === 7)
      .withColumn("dow", (dayofweek($"day") - 1).cast("long"))
      .withColumn("detrended", $"rev" - $"trend")
    val seasonal = det.groupBy($"dow").agg(avg($"detrended").as("seasonal"))
    det.join(broadcast(seasonal), Seq("dow"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"dow",
        round($"rev", 2).as("rev"),
        round($"trend", 2).as("trend"),
        round($"seasonal", 2).as("seasonal"),
        round($"detrended" - $"seasonal", 2).as("resid"))
      .orderBy($"day")
  }

  val qSeasonalDecomposeSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate::DATE AS day, sum(o_totalprice) AS rev
      |  FROM orders GROUP BY 1),
      |det AS (
      |  SELECT day, rev, trend, dayofweek(day) AS dow, rev - trend AS detrended
      |  FROM (
      |    SELECT day, rev,
      |      count(*) OVER c AS n_win, avg(rev) OVER c AS trend
      |    FROM daily
      |    WINDOW c AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      |  WHERE n_win = 7),
      |seasonal AS (SELECT dow, avg(detrended) AS seasonal FROM det GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, dow,
      |  round(rev, 2) AS rev, round(trend, 2) AS trend,
      |  round(seasonal, 2) AS seasonal,
      |  round(detrended - seasonal, 2) AS resid
      |FROM det JOIN seasonal USING (dow) ORDER BY day""".stripMargin

  /** Cumulative distinct users per event type by day — computed the
    * way that survives 100 TB: no `collect_set` over a window (state
    * linear in users) and no `count(distinct)` re-scan per day.
    * Instead each (type, user) pair contributes one first-touch row
    * (min day), new-user counts roll up per day, and a running sum
    * over the tiny per-day relation yields the cumulative distinct
    * count. Two map-side-combined hash aggs + one O(days) window. */
  def qRunningDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val first = T.events(spark, dir)
      .groupBy($"event_type", $"user_id")
      .agg(min(to_date($"ts")).as("day"))
    val perDay = first.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_new"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("cum_users", sum($"n_new").over(w))
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_new", $"cum_users")
      .orderBy($"event_type", $"day")
  }

  val qRunningDistinctSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |    make_timestamp(epoch_ns(ts) // 1000)::DATE AS day
      |  FROM events),
      |first_touch AS (
      |  SELECT event_type, user_id, min(day) AS day FROM ev GROUP BY 1, 2),
      |per_day AS (
      |  SELECT event_type, day, count(*) AS n_new
      |  FROM first_touch GROUP BY 1, 2)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_new,
      |  (sum(n_new) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_users
      |FROM per_day ORDER BY event_type, day""".stripMargin

  /** Peak concurrency per event type via sweep-line: each event holds
    * a [ts, ts+5min) interval; +1/-1 deltas are NETTED PER INSTANT
    * first (so the running sum never orders between window peers —
    * the determinism requirement), then a running sum over distinct
    * instants gives the concurrency curve; report its max and the
    * earliest instant attaining it. The sweep relation is O(distinct
    * instants), the netting agg is the only full-data shuffle, and
    * the per-type running sum parallelizes across types. */
  def qConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = T.events(spark, dir)
    val starts = e.select($"event_type", $"ts".as("t"), lit(1L).as("delta"))
    val ends = e.select($"event_type",
      ($"ts" + expr("INTERVAL 5 MINUTES")).as("t"), lit(-1L).as("delta"))
    val net = starts.unionByName(ends)
      .groupBy($"event_type", $"t").agg(sum($"delta").as("net"))
    val w = Window.partitionBy($"event_type").orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = net.withColumn("cur", sum($"net").over(w))
    val peak = curve.groupBy($"event_type").agg(max($"cur").as("peak"))
    curve.join(broadcast(peak), Seq("event_type"))
      .filter($"cur" === $"peak")
      .groupBy($"event_type", $"peak")
      .agg(min($"t").as("peak_at"))
      .select($"event_type", $"peak", $"peak_at")
      .orderBy($"event_type")
  }

  val qConcurrencySql: String =
    """WITH ev AS (
      |  SELECT event_type, make_timestamp(epoch_ns(ts) // 1000) AS ts
      |  FROM events),
      |pts AS (
      |  SELECT event_type, ts AS t, 1 AS delta FROM ev
      |  UNION ALL
      |  SELECT event_type, ts + INTERVAL 5 MINUTE, -1 FROM ev),
      |net AS (
      |  SELECT event_type, t, sum(delta)::BIGINT AS net FROM pts GROUP BY 1, 2),
      |curve AS (
      |  SELECT event_type, t,
      |    (sum(net) OVER (PARTITION BY event_type ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cur
      |  FROM net),
      |peak AS (SELECT event_type, max(cur) AS peak FROM curve GROUP BY 1)
      |SELECT event_type, peak, min(t) AS peak_at
      |FROM curve JOIN peak USING (event_type)
      |WHERE cur = peak GROUP BY 1, 2 ORDER BY event_type""".stripMargin

  /** Changelog (CDC) merge: the event stream is read as a keyed
    * changelog over users — every 17th event id is a DELETE, the rest
    * are UPSERTs — and the final table state materializes by taking
    * the latest op per key ((ts, event_id) total order) and dropping
    * keys whose last op is a delete. This is SQL MERGE re-expressed
    * as one window over the key partition: a single shuffle on the
    * merge key regardless of changelog length, with `n_changes`
    * doubling as an audit of how much history each key carried.
    * Distinct from `q_upsert_latest` (ExportOps), which is max_by
    * versioning without tombstones. */
  def qCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = T.events(spark, dir).select(
      $"user_id", $"ts", $"event_id", $"value",
      when($"event_id" % 17 === 0, lit("D")).otherwise(lit("U")).as("op"))
    val w = Window.partitionBy($"user_id").orderBy(desc("ts"), desc("event_id"))
    log
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(Window.partitionBy($"user_id")))
      .filter($"rn" === 1 && $"op" === "U")
      .select($"user_id", $"ts".as("last_ts"),
        round($"value", 4).as("last_value"), $"n_changes")
      .orderBy($"user_id")
  }

  val qCdcMergeSql: String =
    """WITH log AS (
      |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    event_id, value,
      |    CASE WHEN event_id % 17 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM events),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM log)
      |SELECT user_id, ts AS last_ts, round(value, 4) AS last_value, n_changes
      |FROM ranked WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin

  /** Monthly OHLC bars over order prices: open/close are the first/
    * last order in (date, key) order inside the month, high/low/volume
    * close out the bar. Expressed as ONE window pass computing forward
    * and reverse row numbers per month partition plus a hash agg — the
    * candle relation is O(months), and the month partitions bound
    * window state so no single task ever sorts more than a month. The
    * same shape works per-symbol at tick scale by adding the symbol to
    * the partition key. */
  def qOhlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = T.orders(spark, dir)
      .select(date_format($"o_orderdate", "yyyy-MM").as("mon"),
        $"o_orderdate", $"o_orderkey", $"o_totalprice")
    val fwd = Window.partitionBy($"mon").orderBy($"o_orderdate", $"o_orderkey")
    val rev = Window.partitionBy($"mon").orderBy(desc("o_orderdate"), desc("o_orderkey"))
    o.withColumn("rn_f", row_number().over(fwd))
      .withColumn("rn_r", row_number().over(rev))
      .groupBy($"mon")
      .agg(
        max(when($"rn_f" === 1, $"o_totalprice")).as("open"),
        round(max($"o_totalprice"), 2).as("high"),
        round(min($"o_totalprice"), 2).as("low"),
        max(when($"rn_r" === 1, $"o_totalprice")).as("close"),
        count(lit(1)).as("volume"))
      .orderBy($"mon")
  }

  val qOhlcSql: String =
    """WITH o AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS mon, o_orderdate,
      |    o_orderkey, o_totalprice
      |  FROM orders),
      |r AS (
      |  SELECT mon, o_totalprice,
      |    row_number() OVER (PARTITION BY mon
      |      ORDER BY o_orderdate, o_orderkey) AS rn_f,
      |    row_number() OVER (PARTITION BY mon
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_r
      |  FROM o)
      |SELECT mon,
      |  max(CASE WHEN rn_f = 1 THEN o_totalprice END) AS open,
      |  round(max(o_totalprice), 2) AS high,
      |  round(min(o_totalprice), 2) AS low,
      |  max(CASE WHEN rn_r = 1 THEN o_totalprice END) AS close,
      |  count(*) AS volume
      |FROM r GROUP BY mon ORDER BY mon""".stripMargin

  /** Rolling 14-day correlation between daily revenue and daily order
    * count, computed from explicit window sums (n, Σx, Σy, Σxy, Σx²,
    * Σy²) rather than a one-pass `corr` kernel, so both engines run
    * bit-identical arithmetic. Five sums over one O(days) window —
    * at tick scale the same frame rides a (symbol, day) partition. */
  def qRollingCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = T.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum($"o_totalprice").as("x"), count(lit(1)).cast("double").as("y"))
    val w = Window.orderBy($"day").rowsBetween(-13, 0)
    daily
      .withColumn("n", count(lit(1)).over(w).cast("double"))
      .withColumn("sx", sum($"x").over(w))
      .withColumn("sy", sum($"y").over(w))
      .withColumn("sxy", sum($"x" * $"y").over(w))
      .withColumn("sx2", sum($"x" * $"x").over(w))
      .withColumn("sy2", sum($"y" * $"y").over(w))
      .filter($"n" === 14.0)
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sx2" - $"sx" * $"sx") * ($"n" * $"sy2" - $"sy" * $"sy")), 4)
          .as("corr14"))
      .orderBy($"day")
  }

  val qRollingCorrSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate::DATE AS day, sum(o_totalprice) AS x,
      |    count(*)::DOUBLE AS y
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT day,
      |    (count(*) OVER w)::DOUBLE AS n,
      |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |    sum(x * y) OVER w AS sxy,
      |    sum(x * x) OVER w AS sx2, sum(y * y) OVER w AS sy2
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  round((n * sxy - sx * sy) /
      |    sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 4) AS corr14
      |FROM s WHERE n = 14 ORDER BY day""".stripMargin

  /** Time-decayed customer value: Σ price · e^(−age_days/365), ages
    * measured against the corpus max date (a 1-row broadcast). The
    * decay weight is a map-side scalar, so the whole feature is one
    * map-side-combined hash aggregate on the customer key — the
    * standard recency-weighted feature-store shape at any scale. */
  def qDecaySum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = T.orders(spark, dir)
    val maxDay = o.agg(max(to_date($"o_orderdate")).as("maxd"))
    o.crossJoin(broadcast(maxDay))
      .select($"o_custkey",
        ($"o_totalprice" *
          exp(-datediff($"maxd", to_date($"o_orderdate")) / lit(365.0))).as("wv"))
      .groupBy($"o_custkey")
      .agg(round(sum($"wv"), 2).as("decayed_value"), count(lit(1)).as("n_orders"))
      .orderBy($"o_custkey")
  }

  val qDecaySumSql: String =
    """WITH maxd AS (SELECT max(o_orderdate::DATE) AS maxd FROM orders)
      |SELECT o_custkey,
      |  round(sum(o_totalprice *
      |    exp(-date_diff('day', o_orderdate::DATE, maxd) / 365.0)), 2)
      |    AS decayed_value,
      |  count(*) AS n_orders
      |FROM orders, maxd GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Linear trend forecast of monthly revenue: least-squares fit of
    * rev ~ month_index from explicit sums (n, Σt, Σy, Σty, Σt²) so
    * both engines run bit-identical arithmetic (the q_rolling_corr
    * discipline), projected one month past the observed range. The
    * fit consumes the O(months) series — one 1-row aggregate after
    * the usual map-side-combined daily/monthly reduction; at any
    * scale the regression itself is constant work. */
  def qForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = T.orders(spark, dir)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("mon"))
      .agg(sum($"o_totalprice").as("y"))
    val idx = Window.orderBy($"mon")
    val series = monthly.withColumn("t", row_number().over(idx).cast("double"))
    val fit = series.agg(
      count(lit(1)).cast("double").as("n"),
      sum($"t").as("st"), sum($"y").as("sy"),
      sum($"t" * $"y").as("sty"), sum($"t" * $"t").as("st2"))
    fit.select(
        $"n".cast("long").as("n_months"),
        (($"n" * $"sty" - $"st" * $"sy") /
          ($"n" * $"st2" - $"st" * $"st")).as("slope"),
        (($"sy" - ($"n" * $"sty" - $"st" * $"sy") /
          ($"n" * $"st2" - $"st" * $"st") * $"st") / $"n").as("intercept"))
      .select($"n_months",
        round($"slope", 2).as("slope"),
        round($"intercept", 2).as("intercept"),
        round($"intercept" + $"slope" * ($"n_months" + 1), 2).as("forecast_next"))
  }

  val qForecastSql: String =
    """WITH monthly AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS mon, sum(o_totalprice) AS y
      |  FROM orders GROUP BY 1),
      |series AS (
      |  SELECT y, (row_number() OVER (ORDER BY mon))::DOUBLE AS t FROM monthly),
      |fit AS (
      |  SELECT count(*)::DOUBLE AS n, sum(t) AS st, sum(y) AS sy,
      |    sum(t * y) AS sty, sum(t * t) AS st2
      |  FROM series),
      |coef AS (
      |  SELECT n::BIGINT AS n_months,
      |    (n * sty - st * sy) / (n * st2 - st * st) AS slope,
      |    (sy - (n * sty - st * sy) / (n * st2 - st * st) * st) / n AS intercept
      |  FROM fit)
      |SELECT n_months, round(slope, 2) AS slope,
      |  round(intercept, 2) AS intercept,
      |  round(intercept + slope * (n_months + 1), 2) AS forecast_next
      |FROM coef""".stripMargin

  /** Conversion-window funnel: view → click within 30 min → purchase
    * within 60 min of that click. Unlike the unbounded q_funnel, each
    * stage carries a time bound, so the funnel measures a realistic
    * conversion SLA. Same one-scan plan shape as q_funnel: the stage
    * timestamps are chained per-user window minima sharing a single
    * user_id exchange (the SLA bound just tightens each stage's
    * condition), then one per-user rollup on the same distribution —
    * events is read once, not once per stage. */
  def qFunnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
    T.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .filter($"event_type".isin("view", "click", "purchase"))
      .withColumn("v_us",
        min(when($"event_type" === "view", $"us")).over(w))
      .withColumn("c_us",
        min(when($"event_type" === "click" && $"us" >= $"v_us" &&
          $"us" <= $"v_us" + 1800000000L, $"us")).over(w))
      .withColumn("p_us",
        min(when($"event_type" === "purchase" && $"us" >= $"c_us" &&
          $"us" <= $"c_us" + 3600000000L, $"us")).over(w))
      .groupBy($"user_id")
      .agg(max($"v_us").as("v_us"), max($"c_us").as("c_us"),
        max($"p_us").as("p_us"))
      .agg(
        sum(when($"v_us".isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when($"c_us".isNotNull, 1L).otherwise(0L)).as("n_click_30m"),
        sum(when($"p_us".isNotNull, 1L).otherwise(0L)).as("n_purchase_60m"))
  }

  val qFunnelWindowedSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |v AS (SELECT user_id, min(us) AS v_us FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us >= v_us
      |        AND us <= v_us + 1800000000 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us >= c_us
      |        AND us <= c_us + 3600000000 GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click_30m,
      |       (SELECT count(*) FROM p) AS n_purchase_60m""".stripMargin

  /** Daily active users split new vs returning by first-touch: one
    * (user, day) distinct pass, a per-user min-day aggregate, and the
    * split falls out of comparing the two — no day-by-day rescans of
    * history, which is what makes it viable when "history" is years of
    * 100 TB events. */
  def qNewReturning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val userDays = T.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val firstDay = userDays.groupBy($"user_id").agg(min($"day").as("first_day"))
    userDays.join(firstDay, Seq("user_id"))
      .groupBy(date_format($"day", "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("active"),
        sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("n_new"))
      .withColumn("n_returning", $"active" - $"n_new")
      .orderBy($"day")
  }

  val qNewReturningSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    make_timestamp(epoch_ns(ts) // 1000)::DATE AS day
      |  FROM events),
      |fd AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS active,
      |  sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT AS n_new,
      |  (count(*) - sum(CASE WHEN day = first_day THEN 1 ELSE 0 END))::BIGINT
      |    AS n_returning
      |FROM ud JOIN fd USING (user_id)
      |GROUP BY day ORDER BY day""".stripMargin

  /** Clickstream path analysis: each user's first three event types in
    * (time, id) order become a path signature ('view>click>purchase'),
    * counted across users. The per-user window stops at rank 3, the
    * path string builds from a SORTED collect (rank-keyed structs, so
    * aggregation order cannot perturb it), and the top-10 cut ranks on
    * the final counts — the standard entry-path report at any scale. */
  def qPathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val first3 = T.events(spark, dir)
      .select($"user_id", $"event_type", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
    first3
      .groupBy($"user_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type), '>')")
        .as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), asc("path"))
      .limit(10)
  }

  val qPathTrigramsSql: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
      |    epoch_ns(ts)//1000 AS us FROM events),
      |r AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
      |  FROM e),
      |paths AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 3 GROUP BY user_id)
      |SELECT path, count(*) AS n_users FROM paths
      |GROUP BY path ORDER BY n_users DESC, path LIMIT 10""".stripMargin

  /** Robust anomaly detection: modified z-score (Iglewicz-Hoban,
    * 0.6745·(v − median)/MAD, threshold 3.5) per return flag — the
    * outlier gate that stddev-based scoring (q_anomaly_zscore) cannot
    * run safely because the outliers inflate the stddev itself. The
    * med/MAD pair is [[Analytics.qMad]]'s bucketed-rank-location
    * 3-row output broadcast back; scoring is a zero-shuffle map. */
  def qAnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val robust = Analytics.qMad(spark, dir)
      .select($"l_returnflag", $"median_price", $"mad")
    val scored = T.lineitem(spark, dir)
      .join(broadcast(robust), Seq("l_returnflag"))
      .withColumn("score",
        lit(0.6745) * ($"l_extendedprice" - $"median_price") / $"mad")
    scored.groupBy($"l_returnflag")
      .agg(
        sum(when(abs($"score") > 3.5, 1L).otherwise(0L)).as("n_outliers"),
        round(max(abs($"score")), 2).as("max_abs_score"))
      .orderBy($"l_returnflag")
  }

  val qAnomalyMadSql: String =
    """WITH med AS (
      |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
      |  FROM lineitem GROUP BY 1),
      |madt AS (
      |  SELECT l.l_returnflag,
      |    round(quantile_cont(abs(l_extendedprice - m), 0.5), 4) AS mad,
      |    round(max(m), 4) AS m
      |  FROM lineitem l JOIN med USING (l_returnflag) GROUP BY 1),
      |scored AS (
      |  SELECT l.l_returnflag,
      |    0.6745 * (l_extendedprice - m) / mad AS score
      |  FROM lineitem l JOIN madt USING (l_returnflag))
      |SELECT l_returnflag,
      |  sum(CASE WHEN abs(score) > 3.5 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |  round(max(abs(score)), 2) AS max_abs_score
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact rolling 7-day distinct users per event type, without
    * re-scanning any window: the classic sweep-line decomposition of
    * windowed COUNT DISTINCT. A user covers window-end w iff they
    * have an event day in [w-6, w]; per user that coverage is a union
    * of intervals (runs of days merged while gaps <= 6), so the
    * answer is a +1/-1 delta at each run boundary, cumulated over the
    * day-grain delta table. Shuffles: one distinct to day grain, one
    * user-keyed window for run detection, one day-keyed aggregate —
    * the raw fact table is touched once, and no day's window is ever
    * recounted. The day-grain cumsum partitions by event_type, so
    * there is no partitionless window anywhere. */
  def qRollingDistinct7d(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cached: the day-grain distinct feeds run detection, the day
    // spine, and the output filter — one events scan, not three
    val days = T.events(spark, dir)
      .select($"event_type", $"user_id", to_date($"ts").as("day"))
      .distinct()
      .cache()
    val wUser = Window.partitionBy($"event_type", $"user_id").orderBy($"day")
    val runs = days
      .withColumn("new_run",
        when(datediff($"day", lag($"day", 1).over(wUser)) > 6, 1)
          .when(lag($"day", 1).over(wUser).isNull, 1).otherwise(0))
      .withColumn("run_id", sum($"new_run").over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"event_type", $"user_id", $"run_id")
      .agg(min($"day").as("start"), date_add(max($"day"), 7).as("stop"))
    // the day spine joins in with delta 0 so a day INSIDE every run
    // (no boundary of its own) still gets a cumsum row; stop-days that
    // never occur in the data carry their -1 into the running sum but
    // are filtered from the output by the spine semi-join
    val spine = days.select($"event_type", $"day").distinct()
    val deltas = runs.select($"event_type", $"start".as("day"), lit(1L).as("d"))
      .union(runs.select($"event_type", $"stop".as("day"), lit(-1L).as("d")))
      .union(spine.withColumn("d", lit(0L)))
      .groupBy($"event_type", $"day").agg(sum($"d").as("delta"))
    val wDay = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("users_7d", sum($"delta").over(wDay))
      .join(spine, Seq("event_type", "day"), "left_semi")
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"users_7d")
      .orderBy($"event_type", $"day")
  }

  val qRollingDistinct7dSql: String =
    """WITH d AS (
      |  SELECT DISTINCT event_type, user_id,
      |    make_timestamp(epoch_ns(ts) // 1000)::DATE AS day
      |  FROM events),
      |days AS (SELECT DISTINCT event_type, day FROM d)
      |SELECT w.event_type, strftime(w.day, '%Y-%m-%d') AS day,
      |  count(DISTINCT d.user_id) AS users_7d
      |FROM days w JOIN d ON d.event_type = w.event_type
      |  AND d.day BETWEEN w.day - 6 AND w.day
      |GROUP BY w.event_type, w.day
      |ORDER BY w.event_type, w.day""".stripMargin

  /** Inter-event burstiness per event type: the coefficient of
    * variation of per-USER inter-arrival gaps, folded into the
    * Goh-Barabasi burstiness score B = (cv-1)/(cv+1) (0 for a Poisson
    * process, -> 1 for bursty trains). Gaps are computed inside
    * (type, user) windows — fine-grained keys that distribute at any
    * SF, unlike a per-type total ordering of all events — and the
    * type-level moments come from explicit sum/sum-of-squares so both
    * engines run identical arithmetic. */
  def qBurstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"sec", $"event_id")
    val gaps = T.events(spark, dir)
      .select($"event_type", $"user_id", $"event_id",
        unix_timestamp($"ts").as("sec"))
      .withColumn("gap", ($"sec" - lag($"sec", 1).over(w)).cast("double"))
      .filter($"gap".isNotNull)
    gaps.groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"), sum($"gap").as("s1"),
        sum($"gap" * $"gap").as("s2"))
      .withColumn("mean", $"s1" / $"n_gaps")
      .withColumn("cv",
        sqrt($"s2" / $"n_gaps" - $"mean" * $"mean") / $"mean")
      .select($"event_type", $"n_gaps",
        round($"mean", 2).as("mean_gap_sec"),
        round($"cv", 4).as("cv"),
        round(($"cv" - 1) / ($"cv" + 1), 4).as("burstiness"))
      .orderBy($"event_type")
  }

  val qBurstinessSql: String =
    """WITH ev AS (SELECT event_type, user_id, event_id,
      |  epoch_ns(ts) // 1000000000 AS sec FROM events),
      |g AS (SELECT event_type,
      |  (sec - lag(sec) OVER (PARTITION BY event_type, user_id
      |     ORDER BY sec, event_id))::DOUBLE AS gap FROM ev),
      |m AS (SELECT event_type, count(*) AS n_gaps, sum(gap) AS s1,
      |  sum(gap * gap) AS s2 FROM g WHERE gap IS NOT NULL GROUP BY event_type),
      |c AS (SELECT m.*, s1 / n_gaps AS mean,
      |  sqrt(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps)) / (s1 / n_gaps) AS cv
      |  FROM m)
      |SELECT event_type, n_gaps, round(mean, 2) AS mean_gap_sec,
      |  round(cv, 4) AS cv, round((cv - 1) / (cv + 1), 4) AS burstiness
      |FROM c ORDER BY event_type""".stripMargin

  /** Per-user time-to-conversion, the input of the survival family
    * ([[qSurvivalKm]], [[qLogRank]], [[qNelsonAalen]]): (user_id,
    * duration_h, ev) with duration_h = whole hours from the user's first
    * view to the first purchase at or after it (ev = 1), or to the
    * study end — the corpus's last event — when the user never converts
    * (ev = 0, right-censored). Users without a view are dropped. The
    * per-user window minima share one user_id exchange. */
  private def survivalDurations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wUser = Window.partitionBy($"user_id")
    val per = T.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("v_us",
        min(when($"event_type" === "view", $"us")).over(wUser))
      .withColumn("p_us",
        min(when($"event_type" === "purchase" && $"us" >= $"v_us", $"us")).over(wUser))
      .groupBy($"user_id")
      .agg(max($"v_us").as("v_us"), max($"p_us").as("p_us"))
    val end = T.events(spark, dir)
      .agg(max(unix_micros($"ts")).as("end_us"))
    per.crossJoin(broadcast(end))
      .filter($"v_us".isNotNull)
      .select($"user_id",
        floor((coalesce($"p_us", $"end_us") - $"v_us") / 3600000000.0)
          .cast("long").as("duration_h"),
        when($"p_us".isNotNull, 1L).otherwise(0L).as("ev"))
  }

  /** Kaplan-Meier survival curve of time-to-conversion: hours from a
    * user's first view to their first subsequent purchase,
    * right-censored at the study end (the corpus's last event) for
    * users who never convert — THE estimator for "how long until
    * users do X" that naive conversion averages get wrong by ignoring
    * censoring. Plan shape: one events scan with the q_funnel chained
    * per-user window minima (single user_id exchange) produces each
    * user's (duration, event/censored) pair; durations collapse to an
    * O(study-hours) grid, on which risk sets are a reverse cumulative
    * count and the product-limit estimate S(t) = Π(1 − d_j/n_j) is
    * exp of a cumulative ln-sum — both windows run over the bounded
    * grid, never the fact table. Event rows only, 6dp. */
  def qSurvivalKm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = survivalDurations(spark, dir)
      .groupBy($"duration_h")
      .agg(sum($"ev").as("d"), count(lit(1)).as("c"))
    val wRisk = Window.orderBy($"duration_h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy($"duration_h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the final event time can have d == n_risk (everyone remaining
    // converts): ln(0) is an error in DuckDB and a silent null in
    // Spark, so the absorbing zero is carried explicitly — once any
    // factor hits 0, S(t) is 0 from there on
    grid
      .withColumn("n_risk", sum($"c").over(wRisk))
      .withColumn("zero_seen",
        max(when($"d" >= $"n_risk", 1).otherwise(0)).over(wCum))
      .withColumn("surv",
        when($"zero_seen" === 1, lit(0.0)).otherwise(
          exp(sum(when($"d" < $"n_risk",
            log(lit(1.0) - $"d".cast("double") / $"n_risk"))).over(wCum))))
      .filter($"d" > 0)
      .select($"duration_h", $"n_risk", $"d".as("n_event"),
        round($"surv", 6).as("surv"))
      .orderBy($"duration_h")
  }

  /** Log-rank (Mantel–Cox) test between the two experiment arms'
    * time-to-conversion curves — the hypothesis test that goes with
    * [[qSurvivalKm]]'s estimate: at every event time the observed
    * arm-1 conversions are compared with the hypergeometric
    * expectation given the pooled risk set, and
    * χ² = (O−E)²/V decides whether the curves differ (95 % cut
    * 3.841). Same per-user duration extraction (first view → first
    * purchase, right-censored at study end, arm = user parity); the
    * risk sets are suffix sums over the O(study-hours) grid, so the
    * test costs one user-keyed aggregate plus bounded-grid windows. */
  def qLogRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = survivalDurations(spark, dir)
      .select(($"user_id" % 2).cast("int").as("arm"), $"duration_h", $"ev")
      .groupBy($"duration_h")
      .agg(sum(when($"arm" === 0, $"ev").otherwise(0L)).as("d0"),
        sum(when($"arm" === 1, $"ev").otherwise(0L)).as("d1"),
        sum(when($"arm" === 0, 1L).otherwise(0L)).as("c0"),
        sum(when($"arm" === 1, 1L).otherwise(0L)).as("c1"))
    val wRisk = Window.orderBy($"duration_h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .withColumn("n0", sum($"c0").over(wRisk))
      .withColumn("n1", sum($"c1").over(wRisk))
      .withColumn("d", $"d0" + $"d1")
      .withColumn("n", $"n0" + $"n1")
      .filter($"d" > 0 && $"n" > 1)
      .withColumn("e1", $"d" * $"n1".cast("double") / $"n")
      .withColumn("v", $"d".cast("double") * ($"n1".cast("double") / $"n")
        * ($"n0".cast("double") / $"n")
        * (($"n" - $"d").cast("double") / ($"n" - 1)))
      .agg(sum($"d1").as("o1"), sum($"e1").as("se1"), sum($"v").as("sv"))
      .select($"o1", round($"se1", 4).as("e1"),
        round(pow($"o1" - $"se1", 2) / $"sv", 4).as("chi2"),
        (pow($"o1" - $"se1", 2) / $"sv" > 3.841).as("significant"))
  }

  val qLogRankSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |w1 AS (SELECT user_id, event_type, us,
      |  min(CASE WHEN event_type = 'view' THEN us END)
      |    OVER (PARTITION BY user_id) AS v_us FROM e),
      |w2 AS (SELECT user_id, v_us,
      |  min(CASE WHEN event_type = 'purchase' AND us >= v_us THEN us END)
      |    OVER (PARTITION BY user_id) AS p_us FROM w1),
      |per AS (SELECT user_id, max(v_us) AS v_us, max(p_us) AS p_us
      |  FROM w2 GROUP BY user_id),
      |endt AS (SELECT max(us) AS end_us FROM e),
      |durs AS (SELECT (user_id % 2)::INT AS arm,
      |    floor((coalesce(p_us, end_us) - v_us) / 3600000000.0)::BIGINT AS duration_h,
      |    CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM per, endt WHERE v_us IS NOT NULL),
      |grid AS (SELECT duration_h,
      |    CAST(sum(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
      |    CAST(sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM durs GROUP BY duration_h),
      |risk AS (SELECT duration_h, d0, d1,
      |    sum(c0) OVER (ORDER BY duration_h
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n0,
      |    sum(c1) OVER (ORDER BY duration_h
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n1
      |  FROM grid),
      |terms AS (SELECT d1, d0 + d1 AS d, n0 + n1 AS n, n0, n1,
      |    (d0 + d1) * n1::DOUBLE / (n0 + n1) AS e1,
      |    (d0 + d1)::DOUBLE * (n1::DOUBLE / (n0 + n1)) * (n0::DOUBLE / (n0 + n1))
      |      * ((n0 + n1 - d0 - d1)::DOUBLE / (n0 + n1 - 1)) AS v
      |  FROM risk WHERE d0 + d1 > 0 AND n0 + n1 > 1)
      |SELECT CAST(sum(d1) AS BIGINT) AS o1, round(sum(e1), 4) AS e1,
      |  round(pow(sum(d1) - sum(e1), 2) / sum(v), 4) AS chi2,
      |  pow(sum(d1) - sum(e1), 2) / sum(v) > 3.841 AS significant
      |FROM terms""".stripMargin

  val qSurvivalKmSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |w1 AS (SELECT user_id, event_type, us,
      |  min(CASE WHEN event_type = 'view' THEN us END)
      |    OVER (PARTITION BY user_id) AS v_us FROM e),
      |w2 AS (SELECT user_id, v_us,
      |  min(CASE WHEN event_type = 'purchase' AND us >= v_us THEN us END)
      |    OVER (PARTITION BY user_id) AS p_us FROM w1),
      |per AS (SELECT user_id, max(v_us) AS v_us, max(p_us) AS p_us
      |  FROM w2 GROUP BY user_id),
      |endt AS (SELECT max(us) AS end_us FROM e),
      |durs AS (SELECT
      |  floor((coalesce(p_us, end_us) - v_us) / 3600000000.0)::BIGINT AS duration_h,
      |  CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM per, endt WHERE v_us IS NOT NULL),
      |grid AS (SELECT duration_h, sum(ev)::BIGINT AS d, count(*) AS c
      |  FROM durs GROUP BY 1),
      |r1 AS (SELECT duration_h, d,
      |  sum(c) OVER (ORDER BY duration_h
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk FROM grid),
      |km AS (SELECT duration_h, d, n_risk,
      |  round(CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY duration_h
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
      |    THEN 0.0
      |    ELSE exp(sum(CASE WHEN d < n_risk
      |        THEN ln(1.0 - d::DOUBLE / n_risk) END)
      |      OVER (ORDER BY duration_h
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |  END, 6) AS surv FROM r1)
      |SELECT duration_h, n_risk::BIGINT AS n_risk, d AS n_event, surv FROM km
      |WHERE d > 0 ORDER BY duration_h""".stripMargin

  /** Brown's double exponential smoothing (level + trend) on the
    * monthly revenue series: S1 = EWMA(y), S2 = EWMA(S1), then
    * level = 2·S1 − S2, trend = (α/(1−α))(S1 − S2) (α = 0.5 makes the
    * trend factor 1) and the one-step-ahead forecast level + trend —
    * the classic trend-aware cousin of [[graft.ops.Analytics.qEwma]]'s
    * flat smoother. Both smoothing passes use the bounded-depth
    * power-of-two weight form (8 terms, coverage > 99.6 %), so each is
    * a fixed-width window expression, never a recursive state: the
    * fact table grain-reduces to O(months) FIRST, and the two
    * partitionless windows only ever see that bounded series. The two
    * engines may accumulate the window sums in different orders
    * (double addition is not associative), so the smoothed values
    * agree within the display rounding the differential asserts. */
  def qBrownSmoothing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"mon")
    def smooth(src: Column): Column = {
      def t(k: Int): Column = if (k == 0) src else lag(src, k).over(w)
      val num = (0 until 8)
        .map(k => coalesce(t(k) * lit(math.pow(0.5, k)), lit(0.0)))
        .reduce(_ + _)
      val den = (0 until 8)
        .map(k => when(t(k).isNotNull, lit(math.pow(0.5, k))).otherwise(lit(0.0)))
        .reduce(_ + _)
      num / den
    }
    T.orders(spark, dir)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("mon"))
      .agg(sum($"o_totalprice").cast("double").as("y"))
      .withColumn("s1", smooth($"y"))
      .withColumn("s2", smooth($"s1"))
      .select($"mon", round($"y", 2).as("y"),
        round($"s1", 4).as("s1"), round($"s2", 4).as("s2"),
        round(lit(2.0) * $"s1" - $"s2", 4).as("level"),
        round($"s1" - $"s2", 4).as("trend"),
        round(lit(2.0) * $"s1" - $"s2" + ($"s1" - $"s2"), 4).as("forecast_next"))
      .orderBy($"mon")
  }

  val qBrownSmoothingSql: String = {
    def terms(src: String, over: String): (String, String) = {
      def t(k: Int): String =
        if (k == 0) src else s"lag($src, $k) OVER ($over)"
      val num = (0 until 8)
        .map(k => s"coalesce(${t(k)} * ${math.pow(0.5, k)}, 0.0)")
        .mkString(" + ")
      val den = (0 until 8)
        .map(k => s"CASE WHEN ${t(k)} IS NOT NULL THEN ${math.pow(0.5, k)} ELSE 0.0 END")
        .mkString(" + ")
      (num, den)
    }
    val (n1, d1) = terms("y", "ORDER BY mon")
    val (n2, d2) = terms("s1", "ORDER BY mon")
    s"""WITH monthly AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS mon,
       |    sum(o_totalprice)::DOUBLE AS y
       |  FROM orders GROUP BY 1),
       |p1 AS (SELECT mon, y, ($n1) / ($d1) AS s1 FROM monthly),
       |p2 AS (SELECT mon, y, s1, ($n2) / ($d2) AS s2 FROM p1)
       |SELECT mon, round(y, 2) AS y, round(s1, 4) AS s1, round(s2, 4) AS s2,
       |  round(2.0 * s1 - s2, 4) AS level,
       |  round(s1 - s2, 4) AS trend,
       |  round(2.0 * s1 - s2 + (s1 - s2), 4) AS forecast_next
       |FROM p2 ORDER BY mon""".stripMargin
  }

  /** In-sample accuracy audit of the [[qForecast]] linear trend:
    * refit the same OLS line over the monthly series, then report
    * MAE / RMSE / WAPE / MAPE of the fitted values — the error
    * profile that decides whether the trend model is shippable. The
    * fit is the identical single-pass moment aggregate; residual
    * metrics are one more pass over the O(months) series against the
    * 1-row broadcast coefficients. */
  def qForecastAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = T.orders(spark, dir)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("mon"))
      .agg(sum($"o_totalprice").as("y"))
    val idx = Window.orderBy($"mon")
    val series = monthly
      .withColumn("t", row_number().over(idx).cast("double"))
      .ckpt()
    val fit = series.agg(
        count(lit(1)).cast("double").as("n"),
        sum($"t").as("st"), sum($"y").as("sy"),
        sum($"t" * $"y").as("sty"), sum($"t" * $"t").as("st2"))
      .select($"n",
        (($"n" * $"sty" - $"st" * $"sy") /
          ($"n" * $"st2" - $"st" * $"st")).as("slope"),
        (($"sy" - ($"n" * $"sty" - $"st" * $"sy") /
          ($"n" * $"st2" - $"st" * $"st") * $"st") / $"n").as("intercept"))
    series.crossJoin(broadcast(fit))
      .withColumn("e", $"y" - ($"intercept" + $"slope" * $"t"))
      .agg(
        count(lit(1)).as("n_months"),
        round(avg(abs($"e")), 2).as("mae"),
        round(sqrt(avg($"e" * $"e")), 2).as("rmse"),
        round(sum(abs($"e")) / sum(abs($"y")), 4).as("wape"),
        round(avg(abs($"e") / abs($"y")), 4).as("mape"))
  }

  val qForecastAuditSql: String =
    """WITH monthly AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS mon, sum(o_totalprice) AS y
      |  FROM orders GROUP BY 1),
      |series AS (
      |  SELECT y::DOUBLE AS y, (row_number() OVER (ORDER BY mon))::DOUBLE AS t FROM monthly),
      |fit AS (
      |  SELECT count(*)::DOUBLE AS n, sum(t) AS st, sum(y) AS sy,
      |    sum(t * y) AS sty, sum(t * t) AS st2
      |  FROM series),
      |coef AS (
      |  SELECT (n * sty - st * sy) / (n * st2 - st * st) AS slope,
      |    (sy - (n * sty - st * sy) / (n * st2 - st * st) * st) / n AS intercept
      |  FROM fit),
      |e AS (SELECT y, y - (intercept + slope * t) AS e FROM series, coef)
      |SELECT count(*) AS n_months,
      |  round(avg(abs(e)), 2) AS mae,
      |  round(sqrt(avg(e * e)), 2) AS rmse,
      |  round(sum(abs(e)) / sum(abs(y)), 4) AS wape,
      |  round(avg(abs(e) / abs(y)), 4) AS mape
      |FROM e""".stripMargin

  /** Nelson-Aalen cumulative hazard (and its Fleming-Harrington
    * survival transform exp(-H)) over the same first-view →
    * first-purchase durations as [[qSurvivalKm]] — the estimator of
    * choice when hazard RATE, not survival probability, is the
    * decision variable (capacity planning, churn intervention
    * timing), and numerically steadier than KM near exhausted risk
    * sets: H(t) = Σ d_i/n_i needs no log and absorbs d = n_i without
    * a zero guard. Identical per-user window extraction and
    * O(study-hours) suffix/prefix grid windows; one user-keyed
    * aggregate at any SF. */
  def qNelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = survivalDurations(spark, dir)
      .groupBy($"duration_h")
      .agg(sum($"ev").as("d"), count(lit(1)).as("c"))
    val wRisk = Window.orderBy($"duration_h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy($"duration_h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n_risk", sum($"c").over(wRisk))
      .withColumn("cum_haz", sum($"d".cast("double") / $"n_risk").over(wCum))
      .filter($"d" > 0)
      .select($"duration_h", $"n_risk", $"d".as("n_event"),
        round($"cum_haz", 6).as("cum_haz"),
        round(exp(-$"cum_haz"), 6).as("s_fh"))
      .orderBy($"duration_h")
  }

  val qNelsonAalenSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |w1 AS (SELECT user_id, event_type, us,
      |  min(CASE WHEN event_type = 'view' THEN us END)
      |    OVER (PARTITION BY user_id) AS v_us FROM e),
      |w2 AS (SELECT user_id, v_us,
      |  min(CASE WHEN event_type = 'purchase' AND us >= v_us THEN us END)
      |    OVER (PARTITION BY user_id) AS p_us FROM w1),
      |per AS (SELECT user_id, max(v_us) AS v_us, max(p_us) AS p_us
      |  FROM w2 GROUP BY user_id),
      |endt AS (SELECT max(us) AS end_us FROM e),
      |durs AS (SELECT
      |  floor((coalesce(p_us, end_us) - v_us) / 3600000000.0)::BIGINT AS duration_h,
      |  CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM per, endt WHERE v_us IS NOT NULL),
      |grid AS (SELECT duration_h, sum(ev)::BIGINT AS d, count(*) AS c
      |  FROM durs GROUP BY 1),
      |r1 AS (SELECT duration_h, d,
      |  sum(c) OVER (ORDER BY duration_h
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk FROM grid),
      |na AS (SELECT duration_h, d, n_risk,
      |  sum(d::DOUBLE / n_risk) OVER (ORDER BY duration_h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_haz FROM r1)
      |SELECT duration_h, n_risk::BIGINT AS n_risk, d AS n_event,
      |  round(cum_haz, 6) AS cum_haz, round(exp(-cum_haz), 6) AS s_fh
      |FROM na WHERE d > 0 ORDER BY duration_h""".stripMargin

  /** One-sided CUSUM drift detector on daily revenue (Page 1954,
    * k = 0.5σ slack): where [[qChangepoint]] finds the single best
    * split retrospectively, CUSUM is the SEQUENTIAL detector — the
    * statistic a monitor evaluates every day. The max(0, S + z − k)
    * recursion is not window-expressible, but its reflection identity
    * is: S⁺_t = C_t − min(0, min_{j≤t} C_j) with C_t = Σ(z_i − k) —
    * two running windows over the O(days) grain, exact. Revenue
    * aggregates to exact integer cents first; standardization and the
    * cumulative walk are arithmetic over the bounded daily relation.
    * Emits the 10 highest-statistic days with the h = 5σ alarm
    * flag. */
  /** MASE (mean absolute scaled error) of the weekly seasonal-naive
    * forecast on daily revenue — the scale-free forecast-accuracy
    * metric that lets a 100 TB platform compare models across series
    * of different magnitudes. The statistic is defined over OBSERVED
    * days: forecast = revenue 7 observations back, scale = the naive
    * one-step error; both errors are exact integer cents (round-then-
    * widen), so the ratio is exact until the single final division.
    * One fact pass to the O(days) grid; lags run on that grid only. */
  def qMase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = T.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val w = Window.orderBy($"d")
    daily
      .withColumn("f", lag($"y", 7).over(w))
      .withColumn("p", lag($"y", 1).over(w))
      .filter($"f".isNotNull && $"p".isNotNull)
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"y" - $"f")).as("se"), sum(abs($"y" - $"p")).as("sn"))
      .select($"n_days",
        round($"se".cast("double") / lit(100.0) / $"n_days", 2).as("mae_seasonal"),
        round($"sn".cast("double") / lit(100.0) / $"n_days", 2).as("mae_naive"),
        round($"se".cast("double") / $"sn", 6).as("mase"))
  }

  val qMaseSql: String =
    """WITH daily AS (SELECT o_orderdate AS d,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      |  FROM orders GROUP BY 1),
      |l AS (SELECT y, lag(y, 7) OVER (ORDER BY d) AS f,
      |    lag(y, 1) OVER (ORDER BY d) AS p FROM daily),
      |a AS (SELECT count(*)::BIGINT AS n_days,
      |    sum(abs(y - f))::BIGINT AS se, sum(abs(y - p))::BIGINT AS sn
      |  FROM l WHERE f IS NOT NULL AND p IS NOT NULL)
      |SELECT n_days, round(se::DOUBLE / 100.0 / n_days, 2) AS mae_seasonal,
      |  round(sn::DOUBLE / 100.0 / n_days, 2) AS mae_naive,
      |  round(se::DOUBLE / sn, 6) AS mase
      |FROM a""".stripMargin

  /** Ljung-Box portmanteau test (lags 1..7) for autocorrelation in
    * daily revenue — the whiteness check run before trusting any
    * forecast residual. Autocorrelations ρ_k = Σ z_t·z_{t−k} / Σ z_t²
    * come from seven lag columns over the demeaned O(days) grid; the
    * statistic Q = n(n+2) Σ ρ_k²/(n−k) closes in one aggregate over
    * that grid. The only fact-sized work is the daily hash aggregate. */
  def qLjungBox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = T.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).cast("double").as("y"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = Window.orderBy($"d")
    val z = daily.withColumn("z", $"y" - avg($"y").over(all))
    val lagged = (1 to 7).foldLeft(z) { (df, k) =>
      df.withColumn(s"l$k", $"z" * lag($"z", k).over(w))
    }
    val aggs = Seq(count(lit(1)).as("n"), sum($"z" * $"z").as("s0")) ++
      (1 to 7).map(k => sum(col(s"l$k")).as(s"s$k"))
    val a = lagged.agg(aggs.head, aggs.tail: _*)
    a.select($"n", lit(7L).as("df"),
      round($"n" * ($"n" + lit(2.0)) * (1 to 7).map(k =>
        (col(s"s$k") / $"s0") * (col(s"s$k") / $"s0") / ($"n" - lit(k)))
        .reduce(_ + _), 4).as("q"))
  }

  val qLjungBoxSql: String =
    """WITH daily AS (SELECT o_orderdate AS d,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::DOUBLE AS y
      |  FROM orders GROUP BY 1),
      |z AS (SELECT d, y - avg(y) OVER () AS z FROM daily),
      |l AS (SELECT z,
      |    z * lag(z, 1) OVER (ORDER BY d) AS l1,
      |    z * lag(z, 2) OVER (ORDER BY d) AS l2,
      |    z * lag(z, 3) OVER (ORDER BY d) AS l3,
      |    z * lag(z, 4) OVER (ORDER BY d) AS l4,
      |    z * lag(z, 5) OVER (ORDER BY d) AS l5,
      |    z * lag(z, 6) OVER (ORDER BY d) AS l6,
      |    z * lag(z, 7) OVER (ORDER BY d) AS l7
      |  FROM z),
      |a AS (SELECT count(*)::BIGINT AS n, sum(z * z) AS s0,
      |    sum(l1) AS s1, sum(l2) AS s2, sum(l3) AS s3, sum(l4) AS s4,
      |    sum(l5) AS s5, sum(l6) AS s6, sum(l7) AS s7
      |  FROM l)
      |SELECT n, 7::BIGINT AS df,
      |  round(n * (n + 2.0) * (
      |    (s1 / s0) * (s1 / s0) / (n - 1) + (s2 / s0) * (s2 / s0) / (n - 2) +
      |    (s3 / s0) * (s3 / s0) / (n - 3) + (s4 / s0) * (s4 / s0) / (n - 4) +
      |    (s5 / s0) * (s5 / s0) / (n - 5) + (s6 / s0) * (s6 / s0) / (n - 6) +
      |    (s7 / s0) * (s7 / s0) / (n - 7)), 4) AS q
      |FROM a""".stripMargin

  /** Partial autocorrelation (lags 1–3) of daily revenue via the
    * Durbin-Levinson recursion unrolled in closed form — the AR-order
    * diagnostic read next to the ACF (q_autocorr) and Ljung-Box Q.
    * φ11 = ρ1; φ22 = (ρ2−ρ1²)/(1−ρ1²); φ33 closes the level-3
    * recursion from φ21 = φ11−φ22·φ11. The autocorrelations come from
    * three lag products over the demeaned O(days) grid (the
    * q_ljung_box shape); the recursion is pure column arithmetic on
    * one row. */
  def qPacf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = T.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).cast("double").as("y"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = Window.orderBy($"d")
    val z = daily.withColumn("z", $"y" - avg($"y").over(all))
    val lagged = (1 to 3).foldLeft(z) { (df, k) =>
      df.withColumn(s"l$k", $"z" * lag($"z", k).over(w))
    }
    lagged
      .agg(count(lit(1)).as("n"), sum($"z" * $"z").as("s0"),
        sum($"l1").as("s1"), sum($"l2").as("s2"), sum($"l3").as("s3"))
      .select($"n", ($"s1" / $"s0").as("r1"), ($"s2" / $"s0").as("r2"),
        ($"s3" / $"s0").as("r3"))
      .withColumn("p1", $"r1")
      .withColumn("p2", ($"r2" - $"r1" * $"r1") / (lit(1.0) - $"r1" * $"r1"))
      .withColumn("p21", $"p1" - $"p2" * $"p1")
      .withColumn("p3",
        ($"r3" - $"p21" * $"r2" - $"p2" * $"r1") /
          (lit(1.0) - $"p21" * $"r1" - $"p2" * $"r2"))
      .select($"n", round($"r1", 4).as("rho1"), round($"r2", 4).as("rho2"),
        round($"r3", 4).as("rho3"), round($"p1", 4).as("pacf1"),
        round($"p2", 4).as("pacf2"), round($"p3", 4).as("pacf3"))
  }

  val qPacfSql: String =
    """WITH daily AS (SELECT o_orderdate AS d,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::DOUBLE AS y
      |  FROM orders GROUP BY 1),
      |z AS (SELECT d, y - avg(y) OVER () AS z FROM daily),
      |l AS (SELECT z,
      |    z * lag(z, 1) OVER (ORDER BY d) AS l1,
      |    z * lag(z, 2) OVER (ORDER BY d) AS l2,
      |    z * lag(z, 3) OVER (ORDER BY d) AS l3
      |  FROM z),
      |a AS (SELECT count(*)::BIGINT AS n, sum(z * z) AS s0,
      |    sum(l1) AS s1, sum(l2) AS s2, sum(l3) AS s3 FROM l),
      |r AS (SELECT n, s1 / s0 AS r1, s2 / s0 AS r2, s3 / s0 AS r3 FROM a),
      |p2 AS (SELECT n, r1, r2, r3, r1 AS p1,
      |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2 FROM r),
      |p21 AS (SELECT n, r1, r2, r3, p1, p2, p1 - p2 * p1 AS p21 FROM p2),
      |p3 AS (SELECT n, r1, r2, r3, p1, p2,
      |    (r3 - p21 * r2 - p2 * r1) / (1.0 - p21 * r1 - p2 * r2) AS p3
      |  FROM p21)
      |SELECT n, round(r1, 4) AS rho1, round(r2, 4) AS rho2,
      |  round(r3, 4) AS rho3, round(p1, 4) AS pacf1,
      |  round(p2, 4) AS pacf2, round(p3, 4) AS pacf3
      |FROM p3""".stripMargin

  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = T.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).cast("double").as("y"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy($"d").rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("z", ($"y" - avg($"y").over(all)) / stddev_samp($"y").over(all))
      .withColumn("c", sum($"z" - lit(0.5)).over(wCum))
      .withColumn("s_pos", $"c" - least(lit(0.0), min($"c").over(wCum)))
      // Rank, display, and alarm all read the SAME rounded statistic:
      // ordering by the unrounded s_pos while emitting round(s_pos, 4)
      // let days differing only beyond 4dp order differently across
      // engines at the top-10 boundary (round-9 advice).
      .select($"d", round($"s_pos", 4).as("cusum"))
      .withColumn("alarm", $"cusum" > 5.0)
      .orderBy(desc("cusum"), asc("d"))
      .limit(10)
  }

  val qCusumSql: String =
    """WITH daily AS (SELECT o_orderdate AS d,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::DOUBLE AS y
      |  FROM orders GROUP BY 1),
      |st AS (SELECT d, (y - avg(y) OVER ()) / stddev_samp(y) OVER () AS z FROM daily),
      |cs AS (SELECT d, sum(z - 0.5) OVER (ORDER BY d) AS c FROM st),
      |dd AS (SELECT d, c - least(0.0, min(c) OVER (ORDER BY d)) AS s_pos FROM cs),
      |r AS (SELECT d, round(s_pos, 4) AS cusum FROM dd)
      |SELECT d, cusum, cusum > 5.0 AS alarm
      |FROM r ORDER BY cusum DESC, d LIMIT 10""".stripMargin

  /** Hurst exponent by rescaled-range (R/S) analysis of daily revenue:
    * partition the day-indexed series into blocks of m ∈ {8, 16, 32},
    * compute each complete block's range-of-cumulative-deviations over
    * its standard deviation, average R/S per block size, and fit
    * ln(R/S) ~ ln(m) — slope H classifies the series (H≈0.5 random
    * walk, >0.5 trending/persistent, <0.5 mean-reverting), the
    * long-memory diagnostic that decides whether naive day-over-day
    * forecasting is even admissible. Exactness discipline: daily
    * totals are integer cents, block moments are explicit
    * integer/DECIMAL sums divided once, and the cumulative deviation
    * walks an ORDERED window — every double on both engines is the
    * result of the same operation sequence, so only the display is
    * rounded. Everything after the daily aggregate is O(days). */
  def qHurst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val daily = T.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("yc"))
    val idx = daily
      .withColumn("idx", row_number().over(Window.orderBy($"d")))
      .withColumn("m", explode(expr("array(8, 16, 32)")))
      .withColumn("blk", expr("(idx - 1) DIV m"))
    val wBlk = Window.partitionBy($"m", $"blk")
    val wCum = wBlk.orderBy($"idx").rowsBetween(Window.unboundedPreceding, 0)
    val dev = idx
      .withColumn("bn", count(lit(1)).over(wBlk))
      .withColumn("bsum", sum($"yc".cast(d38)).over(wBlk))
      .withColumn("bsum2", sum($"yc".cast(d38) * $"yc").over(wBlk))
      .filter($"bn" === $"m")
      .withColumn("bm", $"bsum".cast("double") / $"m")
      .withColumn("cum", sum($"yc".cast("double") - $"bm").over(wCum))
    val rs = dev.groupBy($"m", $"blk")
      .agg((max($"cum") - min($"cum")).as("r"),
        sqrt(max($"bsum2").cast("double") / max($"m")
          - max($"bm") * max($"bm")).as("s"))
      .filter($"s" > 0)
      .groupBy($"m")
      .agg(count(lit(1)).as("n_blocks"), avg($"r" / $"s").as("mean_rs"))
    val fit = rs.agg(
        count(lit(1)).cast("double").as("k"),
        sum(log($"m".cast("double"))).as("sx"),
        sum(log($"mean_rs")).as("sy"),
        sum(log($"m".cast("double")) * log($"mean_rs")).as("sxy"),
        sum(log($"m".cast("double")) * log($"m".cast("double"))).as("sx2"))
      .select((($"k" * $"sxy" - $"sx" * $"sy") /
        ($"k" * $"sx2" - $"sx" * $"sx")).as("hurst"))
    rs.crossJoin(broadcast(fit))
      .select($"m", $"n_blocks", round($"mean_rs", 4).as("mean_rs"),
        round($"hurst", 4).as("hurst"))
      .orderBy($"m")
  }

  val qHurstSql: String =
    """WITH daily AS (SELECT o_orderdate AS d,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS yc
      |  FROM orders GROUP BY 1),
      |ix AS MATERIALIZED (SELECT d, yc, row_number() OVER (ORDER BY d) AS idx FROM daily),
      |mm AS (SELECT ix.*, m, (idx - 1) // m AS blk
      |  FROM ix CROSS JOIN (SELECT unnest([8, 16, 32]) AS m)),
      |st AS (SELECT m, blk, idx, yc,
      |    count(*) OVER (PARTITION BY m, blk) AS bn,
      |    sum(yc::HUGEINT) OVER (PARTITION BY m, blk) AS bsum,
      |    sum(yc::HUGEINT * yc) OVER (PARTITION BY m, blk) AS bsum2
      |  FROM mm),
      |dev AS (SELECT m, blk, idx, yc, bsum2,
      |    bsum::DOUBLE / m AS bm,
      |    sum(yc::DOUBLE - bsum::DOUBLE / m)
      |      OVER (PARTITION BY m, blk ORDER BY idx) AS cum
      |  FROM st WHERE bn = m),
      |rsb AS (SELECT m, blk, max(cum) - min(cum) AS r,
      |    sqrt(max(bsum2)::DOUBLE / max(m) - max(bm) * max(bm)) AS s
      |  FROM dev GROUP BY 1, 2),
      |rs AS MATERIALIZED (SELECT m, count(*)::BIGINT AS n_blocks,
      |    avg(r / s) AS mean_rs FROM rsb WHERE s > 0 GROUP BY 1),
      |fit AS (SELECT
      |    (count(*) * sum(ln(m::DOUBLE) * ln(mean_rs)) - sum(ln(m::DOUBLE)) * sum(ln(mean_rs)))
      |    / (count(*) * sum(ln(m::DOUBLE) * ln(m::DOUBLE)) - sum(ln(m::DOUBLE)) * sum(ln(m::DOUBLE))) AS hurst
      |  FROM rs)
      |SELECT m, n_blocks, round(mean_rs, 4) AS mean_rs, round(hurst, 4) AS hurst
      |FROM rs, fit ORDER BY m""".stripMargin

  /** Holt-Winters triple exponential smoothing (additive, m = 7) over
    * the daily revenue series — the seasonal upgrade of
    * [[qBrownSmoothing]]'s level+trend model: level, trend, and a
    * 7-slot day-of-week seasonal state, classic init (first-week mean,
    * week-1→week-2 trend, week-1 deviations), recursion from day 8
    * with α=0.3 β=0.1 γ=0.2, plus the one-step-ahead in-sample MAE
    * (error taken BEFORE each update — the honest forecast error) and
    * a 3-day-ahead forecast. The 7-slot cycle runs on the DENSE
    * day-index grid (position in the sorted daily series) — a
    * period-7 pseudo-weekly cycle, NOT calendar day-of-week: the
    * order-date fixtures are only approximately gapless (sf0.01 has
    * 6 missing days over its 2405-day span, so the slot drifts off
    * calendar DOW after each gap). Engine, oracle, and spec all share
    * the dense-index convention; the calendar-DOW variant is obtained
    * by composing q_gapfill's zero-filled spine first. A series
    * shorter than 14 days cannot seed the two-week init (and under 8
    * days sequence(8, n) would run DESCENDING), so both forms emit
    * zero rows below that floor instead of folding over wrong
    * indices. Facts reduce to the O(days) daily grain
    * FIRST (one hash aggregate); the sequential recurrence then runs
    * as ONE in-array fold over the collected daily series — bounded by
    * study duration, never SF — carrying (level, trend, seasonal[7],
    * abs-err, n) through the accumulator. The smoothed-level recurrence
    * appears textually duplicated inside the trend/seasonal updates
    * (HOF lambdas have no let-binding); both engines evaluate the same
    * expression so the doubles agree bit-for-bit. The oracle replays
    * the identical recursion as a recursive CTE with the seasonal list
    * rebuilt by slice||[x]||slice — index arithmetic, never a list
    * lambda over recursive state (the DuckDB 1.0.0 corruption class). */
  def qHoltWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the new level L_t, referenced by every other update this step
    val nl = "0.3 * (element_at(ys, t) - element_at(acc.s, ((t - 1) % 7) + 1))" +
      " + 0.7 * (acc.lev + acc.tr)"
    val m1 = "aggregate(slice(ys, 1, 7), CAST(0.0 AS DOUBLE), (a, x) -> a + x) / 7.0"
    val m2 = "aggregate(slice(ys, 8, 7), CAST(0.0 AS DOUBLE), (a, x) -> a + x) / 7.0"
    val fold = s"""aggregate(
      |  sequence(8, size(ys)),
      |  named_struct(
      |    'lev', $m1,
      |    'tr', (($m2) - ($m1)) / 7.0,
      |    's', transform(sequence(1, 7), k -> element_at(ys, k) - ($m1)),
      |    'ae', CAST(0.0 AS DOUBLE),
      |    'cnt', CAST(0 AS BIGINT)),
      |  (acc, t) -> named_struct(
      |    'lev', $nl,
      |    'tr', 0.1 * (($nl) - acc.lev) + 0.9 * acc.tr,
      |    's', transform(sequence(0, 6), k -> IF(k = (t - 1) % 7,
      |      0.2 * (element_at(ys, t) - ($nl)) + 0.8 * element_at(acc.s, k + 1),
      |      element_at(acc.s, k + 1))),
      |    'ae', acc.ae + abs(element_at(ys, t)
      |      - (acc.lev + acc.tr + element_at(acc.s, ((t - 1) % 7) + 1))),
      |    'cnt', acc.cnt + 1L))""".stripMargin
    T.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum($"o_totalprice").cast("double").as("y"))
      .agg(array_sort(collect_list(struct($"d", $"y"))).as("dy"))
      .select(expr("transform(dy, x -> x.y)").as("ys"))
      .filter(size($"ys") >= 14) // two-week init floor; see Scaladoc
      .select(expr(fold).as("hw"), size($"ys").cast("long").as("n_days"))
      .select($"n_days",
        round($"hw.lev", 4).as("level"),
        round($"hw.tr", 4).as("trend"),
        round($"hw.ae" / $"hw.cnt", 4).as("mae_1step"),
        round($"hw.lev" + $"hw.tr" * 1 +
          expr("element_at(hw.s, CAST(((n_days + 1 - 1) % 7) + 1 AS INT))"), 4).as("fc_1"),
        round($"hw.lev" + $"hw.tr" * 2 +
          expr("element_at(hw.s, CAST(((n_days + 2 - 1) % 7) + 1 AS INT))"), 4).as("fc_2"),
        round($"hw.lev" + $"hw.tr" * 3 +
          expr("element_at(hw.s, CAST(((n_days + 3 - 1) % 7) + 1 AS INT))"), 4).as("fc_3"))
  }

  val qHoltWintersSql: String =
    """WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY d) AS t, y FROM (
      |    SELECT o_orderdate::DATE AS d, sum(o_totalprice)::DOUBLE AS y
      |    FROM orders GROUP BY 1)),
      |n AS (SELECT max(t)::BIGINT AS n FROM daily),
      |wk AS (SELECT (SELECT list(y ORDER BY t) FROM daily WHERE t <= 14) AS l),
      |init AS (SELECT 7::BIGINT AS t,
      |    (l[1]+l[2]+l[3]+l[4]+l[5]+l[6]+l[7]) / 7.0 AS lev,
      |    ((l[8]+l[9]+l[10]+l[11]+l[12]+l[13]+l[14]) / 7.0
      |      - (l[1]+l[2]+l[3]+l[4]+l[5]+l[6]+l[7]) / 7.0) / 7.0 AS tr,
      |    list_transform(list_slice(l, 1, 7),
      |      x -> x - (l[1]+l[2]+l[3]+l[4]+l[5]+l[6]+l[7]) / 7.0) AS s,
      |    0.0::DOUBLE AS ae, 0::BIGINT AS cnt
      |  FROM wk),
      |walk(t, lev, tr, s, ae, cnt) AS (
      |  SELECT t, lev, tr, s, ae, cnt FROM init
      |  UNION ALL
      |  SELECT w.t + 1,
      |    0.3 * (d.y - w.s[((w.t + 1 - 1) % 7) + 1]) + 0.7 * (w.lev + w.tr),
      |    0.1 * ((0.3 * (d.y - w.s[((w.t + 1 - 1) % 7) + 1]) + 0.7 * (w.lev + w.tr)) - w.lev) + 0.9 * w.tr,
      |    list_slice(w.s, 1, ((w.t + 1 - 1) % 7) + 1 - 1)
      |      || [0.2 * (d.y - (0.3 * (d.y - w.s[((w.t + 1 - 1) % 7) + 1]) + 0.7 * (w.lev + w.tr)))
      |          + 0.8 * w.s[((w.t + 1 - 1) % 7) + 1]]
      |      || list_slice(w.s, ((w.t + 1 - 1) % 7) + 1 + 1, 7),
      |    w.ae + abs(d.y - (w.lev + w.tr + w.s[((w.t + 1 - 1) % 7) + 1])),
      |    w.cnt + 1
      |  FROM walk w JOIN daily d ON d.t = w.t + 1, n
      |  WHERE w.t < n.n),
      |fin AS (SELECT w.*, n.n FROM walk w, n WHERE w.t = n.n)
      |SELECT n AS n_days, round(lev, 4) AS level, round(tr, 4) AS trend,
      |  round(ae / cnt, 4) AS mae_1step,
      |  round(lev + 1 * tr + s[((n + 1 - 1) % 7) + 1], 4) AS fc_1,
      |  round(lev + 2 * tr + s[((n + 2 - 1) % 7) + 1], 4) AS fc_2,
      |  round(lev + 3 * tr + s[((n + 3 - 1) % 7) + 1], 4) AS fc_3
      |FROM fin WHERE n >= 14""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_holt_winters", qHoltWinters, Some(qHoltWintersSql)),
    QueryDef("q_mase", qMase, Some(qMaseSql)),
    QueryDef("q_pacf", qPacf, Some(qPacfSql)),
    QueryDef("q_ljung_box", qLjungBox, Some(qLjungBoxSql)),
    QueryDef("q_hurst", qHurst, Some(qHurstSql)),
    QueryDef("q_cusum", qCusum, Some(qCusumSql)),
    QueryDef("q_nelson_aalen", qNelsonAalen, Some(qNelsonAalenSql)),
    QueryDef("q_brown_smoothing", qBrownSmoothing, Some(qBrownSmoothingSql)),
    QueryDef("q_forecast_audit", qForecastAudit, Some(qForecastAuditSql)),
    QueryDef("q_log_rank", qLogRank, Some(qLogRankSql)),
    QueryDef("q_survival_km", qSurvivalKm, Some(qSurvivalKmSql)),
    QueryDef("q_burstiness", qBurstiness, Some(qBurstinessSql)),
    QueryDef("q_rolling_distinct_7d", qRollingDistinct7d, Some(qRollingDistinct7dSql)),
    QueryDef("q_funnel_windowed", qFunnelWindowed, Some(qFunnelWindowedSql)),
    QueryDef("q_new_returning", qNewReturning, Some(qNewReturningSql)),
    QueryDef("q_path_trigrams", qPathTrigrams, Some(qPathTrigramsSql)),
    QueryDef("q_anomaly_mad", qAnomalyMad, Some(qAnomalyMadSql)),
    QueryDef("q_forecast", qForecast, Some(qForecastSql)),
    QueryDef("q_ohlc", qOhlc, Some(qOhlcSql)),
    QueryDef("q_rolling_corr", qRollingCorr, Some(qRollingCorrSql)),
    QueryDef("q_decay_sum", qDecaySum, Some(qDecaySumSql)),
    QueryDef("q_changepoint", qChangepoint, Some(qChangepointSql)),
    QueryDef("q_seasonal_decompose", qSeasonalDecompose, Some(qSeasonalDecomposeSql)),
    QueryDef("q_running_distinct", qRunningDistinct, Some(qRunningDistinctSql)),
    QueryDef("q_concurrency", qConcurrency, Some(qConcurrencySql)),
    QueryDef("q_cdc_merge", qCdcMerge, Some(qCdcMergeSql)))
}
