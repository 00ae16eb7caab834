package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Statistical-test operators (SURVEY.md §2 Tier B analytics): the
  * hypothesis-testing layer a data platform runs on top of its
  * aggregates — rank tests, mean tests, multiple-testing control,
  * rank correlation, robust regression, lagged cross-correlation.
  *
  * Scale design shared by the family: every test reduces the fact
  * table to a BOUNDED relation first (a value grid, a per-group
  * moment table, a monthly/daily grain), in ONE map-side-combined
  * aggregate; the test statistic is then closed-form arithmetic on
  * that bounded relation. Partitionless windows appear only over
  * those bounded grids (whitelisted in PlanAuditSpec with row
  * bounds); nothing rank-orders raw facts globally. Where a statistic
  * flows through floating-point sums of SF-scaled data, outputs are
  * rounded to absorb cross-engine accumulation-order noise; where
  * exactness is cheap (integer cents, midranks in halves), the
  * pipeline keeps values exact so both engines agree bit-for-bit.
  */
object Stats extends QueryFamily {

  /** Mann-Whitney U (Wilcoxon rank-sum) with tie-corrected normal
    * approximation: urgent vs low-priority order values. Values are
    * bucketed to a $1k grid FIRST (the defined statistic — midranks
    * of the bucketed value), so ranking is a cumulative count over a
    * ~$600-cell grid, never a global sort of raw orders: one hash
    * aggregate + one bounded window at any SF. Midranks are exact
    * multiples of 0.5 and tie terms are exact integers, so U and the
    * tie-corrected sigma agree bit-for-bit across engines; only the
    * final z is rounded. */
  def qMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = T.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .groupBy(floor($"o_totalprice" / 1000).cast("long").as("v"))
      .agg(
        sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)).as("n1"),
        sum(when($"o_orderpriority" === "5-LOW", 1L).otherwise(0L)).as("n2"))
      .withColumn("t", $"n1" + $"n2")
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val mid = grid.withColumn("cum", sum($"t").over(w))
      .withColumn("mid", $"cum" - ($"t" - lit(1)) / 2.0)
    mid.agg(
        sum($"n1").as("na"), sum($"n2").as("nb"),
        sum($"n1" * $"mid").as("r1"),
        // Cube in DECIMAL(38,0): a long cube wraps silently past 2^63
        // (a ~2.1M-row $1k bucket at large SF) while DuckDB raises —
        // decimal keeps the tie term an exact integer at any SF in
        // both engines (round-9 advice; oracle cubes in HUGEINT).
        sum($"t".cast("decimal(38,0)") * $"t" * $"t" - $"t").as("tie"))
      .select($"na", $"nb",
        ($"r1" - $"na" * ($"na" + 1) / lit(2.0)).as("u1"),
        $"tie", ($"na" + $"nb").as("nn"))
      .select($"na", $"nb", round($"u1", 1).as("u1"),
        round(($"u1" - $"na" * $"nb" / lit(2.0)) /
          sqrt($"na" * $"nb" / lit(12.0) *
            (($"nn" + 1) - $"tie" / ($"nn" * ($"nn" - lit(1.0))))), 4).as("z"))
  }

  val qMannWhitneySql: String =
    """WITH grid AS (
      |  SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS v,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS n2
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |  GROUP BY 1),
      |mid AS (SELECT n1, n2, n1 + n2 AS t,
      |    sum(n1 + n2) OVER (ORDER BY v) - (n1 + n2 - 1) / 2.0 AS mid
      |  FROM grid),
      |agg AS (SELECT sum(n1)::BIGINT AS na, sum(n2)::BIGINT AS nb,
      |    sum(n1 * mid) AS r1, sum(t::HUGEINT * t * t - t) AS tie
      |  FROM mid),
      |u AS (SELECT na, nb, r1 - na * (na + 1) / 2.0 AS u1, tie, na + nb AS nn FROM agg)
      |SELECT na, nb, round(u1, 1) AS u1,
      |  round((u1 - na * nb / 2.0) /
      |    sqrt(na * nb / 12.0 * ((nn + 1) - tie / (nn * (nn - 1.0)))), 4) AS z
      |FROM u""".stripMargin

  /** Welch's unequal-variance t-test: returned ('R') vs accepted
    * ('A') line-item prices. One 2-group hash aggregate carries
    * count/mean/sample-variance; t and the Welch-Satterthwaite df are
    * arithmetic on the 2-row relation. Rounded at 4dp (t) / 1dp (df):
    * the moments ride SF-scaled double sums whose accumulation order
    * differs across engines. */
  def qWelchTtest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = T.lineitem(spark, dir)
      .filter($"l_returnflag".isin("R", "A"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), avg($"l_extendedprice").as("m"),
        var_samp($"l_extendedprice").as("s2"))
    val wide = g.agg(
      max(when($"l_returnflag" === "R", $"n")).as("n_r"),
      max(when($"l_returnflag" === "R", $"m")).as("m_r"),
      max(when($"l_returnflag" === "R", $"s2")).as("s2_r"),
      max(when($"l_returnflag" === "A", $"n")).as("n_a"),
      max(when($"l_returnflag" === "A", $"m")).as("m_a"),
      max(when($"l_returnflag" === "A", $"s2")).as("s2_a"))
    val vr = $"s2_r" / $"n_r"
    val va = $"s2_a" / $"n_a"
    wide.select($"n_r", $"n_a",
      round($"m_r" - $"m_a", 4).as("mean_diff"),
      round(($"m_r" - $"m_a") / sqrt(vr + va), 4).as("t_welch"),
      round((vr + va) * (vr + va) /
        (vr * vr / ($"n_r" - 1) + va * va / ($"n_a" - 1)), 1).as("df"))
  }

  val qWelchTtestSql: String =
    """WITH g AS (SELECT l_returnflag, count(*)::BIGINT AS n,
      |    avg(l_extendedprice) AS m, var_samp(l_extendedprice) AS s2
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
      |wide AS (SELECT
      |    max(CASE WHEN l_returnflag = 'R' THEN n END) AS n_r,
      |    max(CASE WHEN l_returnflag = 'R' THEN m END) AS m_r,
      |    max(CASE WHEN l_returnflag = 'R' THEN s2 END) AS s2_r,
      |    max(CASE WHEN l_returnflag = 'A' THEN n END) AS n_a,
      |    max(CASE WHEN l_returnflag = 'A' THEN m END) AS m_a,
      |    max(CASE WHEN l_returnflag = 'A' THEN s2 END) AS s2_a
      |  FROM g)
      |SELECT n_r, n_a, round(m_r - m_a, 4) AS mean_diff,
      |  round((m_r - m_a) / sqrt(s2_r / n_r + s2_a / n_a), 4) AS t_welch,
      |  round((s2_r / n_r + s2_a / n_a) * (s2_r / n_r + s2_a / n_a) /
      |    ((s2_r / n_r) * (s2_r / n_r) / (n_r - 1)
      |     + (s2_a / n_a) * (s2_a / n_a) / (n_a - 1)), 1) AS df
      |FROM wide""".stripMargin

  /** Abramowitz-Stegun 7.1.26 erf polynomial (max abs error 1.5e-7),
    * written with the IDENTICAL nesting in the DuckDB oracles so both
    * engines execute the same IEEE operation sequence (only exp() may
    * differ by an ulp between libms — absorbed by output rounding).
    * The elementary-function route is the point: no SciPy on a Spark
    * executor, p-values straight from codegen'd column arithmetic. */
  private def erfAS(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    lit(1.0) - poly * exp(-x * x)
  }

  /** Benjamini-Hochberg FDR over per-nation mean-order-value z-tests:
    * the multiple-testing control step every metrics platform needs
    * when it fans one test out over dimensions. Per-nation moments
    * (n, sum, sum-of-squares) come from ONE fact aggregate; the
    * global mean/variance derive from the SAME 25-row relation by
    * window totals (no second scan, no 1-row broadcast); two-sided
    * p = 1 - erf(|z|/sqrt(2)) via [[erfAS]]; the BH step ranks the 25
    * p-values and rejects ranks <= max{k : p_(k) <= k*alpha/m} at
    * alpha = 0.05. Every window runs over the 25-nation relation. */
  def qFdrBh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perNation = T.orders(spark, dir)
      .join(broadcast(T.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(T.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("s"),
        sum($"o_totalprice" * $"o_totalprice").as("sq"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val g = perNation
      .withColumn("gn", sum($"n").over(all))
      .withColumn("gm", sum($"s").over(all) / $"gn")
      .withColumn("gv", sum($"sq").over(all) / $"gn" -
        (sum($"s").over(all) / $"gn") * (sum($"s").over(all) / $"gn"))
      .withColumn("z", ($"s" / $"n" - $"gm") / sqrt($"gv" / $"n"))
      .withColumn("p", lit(1.0) - erfAS(abs($"z") / sqrt(lit(2.0))))
    val m = 25
    val ranked = g.withColumn("k",
        row_number().over(Window.orderBy($"p", $"n_name")))
      .withColumn("pass", $"p" <= $"k" * lit(0.05) / m)
      .withColumn("kmax", max(when($"pass", $"k").otherwise(0)).over(all))
    ranked.select($"n_name", $"n", round($"z", 4).as("z"),
        round($"p", 4).as("p"), ($"k" <= $"kmax").as("bh_reject"))
      .orderBy($"n_name")
  }

  val qFdrBhSql: String =
    """WITH pn AS (SELECT n_name, count(*)::BIGINT AS n, sum(o_totalprice) AS s,
      |    sum(o_totalprice * o_totalprice) AS sq
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
      |g AS (SELECT n_name, n,
      |    (s / n - sum(s) OVER () / sum(n) OVER ()) /
      |      sqrt((sum(sq) OVER () / sum(n) OVER ()
      |        - (sum(s) OVER () / sum(n) OVER ()) * (sum(s) OVER () / sum(n) OVER ()))
      |        / n) AS z
      |  FROM pn),
      |p AS (SELECT n_name, n, z,
      |    1.0 - ((1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |      - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |      + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |      - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |      + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
      |      * exp(-(abs(z) / sqrt(2.0)) * (abs(z) / sqrt(2.0)))))) AS p
      |  FROM g),
      |r AS (SELECT n_name, n, z, p,
      |    row_number() OVER (ORDER BY p, n_name) AS k FROM p),
      |kk AS (SELECT *, max(CASE WHEN p <= k * 0.05 / 25 THEN k ELSE 0 END) OVER () AS kmax
      |  FROM r)
      |SELECT n_name, n, round(z, 4) AS z, round(p, 4) AS p,
      |  k <= kmax AS bh_reject
      |FROM kk ORDER BY n_name""".stripMargin

  /** Spearman rank correlation between quantity and discount, exactly
    * (midranks for ties) but without ever ranking raw rows: both
    * variables live on small grids (quantity 1..50, discount 0..10%),
    * so the JOINT distribution is one <=550-cell hash aggregate,
    * marginal midranks are cumulative counts over each grid, and rho
    * is weighted-Pearson arithmetic over the cells. The identical
    * computation at 100 TB touches the fact table once. */
  def qSpearman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val joint = T.lineitem(spark, dir)
      .groupBy($"l_quantity".cast("int").as("x"),
        round($"l_discount" * 100).cast("int").as("y"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // marginals + the weighted-corr pass reuse the cells
    def midranks(key: String): DataFrame = {
      val marg = joint.groupBy(col(key)).agg(sum($"cnt").as("t"))
      val w = Window.orderBy(col(key)).rowsBetween(Window.unboundedPreceding, 0)
      marg.withColumn("cum", sum($"t").over(w))
        .select(col(key), ($"cum" - ($"t" - lit(1)) / 2.0).as(s"r$key"))
    }
    val cells = joint
      .join(broadcast(midranks("x")), Seq("x"))
      .join(broadcast(midranks("y")), Seq("y"))
    cells.agg(sum($"cnt").as("n"),
        sum($"cnt" * $"rx").as("sx"), sum($"cnt" * $"ry").as("sy"),
        sum($"cnt" * $"rx" * $"ry").as("sxy"),
        sum($"cnt" * $"rx" * $"rx").as("sxx"),
        sum($"cnt" * $"ry" * $"ry").as("syy"))
      .select($"n", round(
        ($"sxy" - $"sx" * $"sy" / $"n") /
          sqrt(($"sxx" - $"sx" * $"sx" / $"n") * ($"syy" - $"sy" * $"sy" / $"n")),
        4).as("rho_s"))
  }

  val qSpearmanSql: String =
    """WITH joint AS (SELECT CAST(l_quantity AS INT) AS x,
      |    CAST(round(l_discount * 100) AS INT) AS y, count(*)::BIGINT AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |mx AS (SELECT x, sum(t) OVER (ORDER BY x) - (t - 1) / 2.0 AS rx
      |  FROM (SELECT x, sum(cnt)::BIGINT AS t FROM joint GROUP BY 1)),
      |my AS (SELECT y, sum(t) OVER (ORDER BY y) - (t - 1) / 2.0 AS ry
      |  FROM (SELECT y, sum(cnt)::BIGINT AS t FROM joint GROUP BY 1)),
      |cells AS (SELECT cnt, rx, ry FROM joint JOIN mx USING (x) JOIN my USING (y)),
      |agg AS (SELECT sum(cnt)::BIGINT AS n, sum(cnt * rx) AS sx, sum(cnt * ry) AS sy,
      |    sum(cnt * rx * ry) AS sxy, sum(cnt * rx * rx) AS sxx,
      |    sum(cnt * ry * ry) AS syy
      |  FROM cells)
      |SELECT n, round((sxy - sx * sy / n) /
      |    sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 4) AS rho_s
      |FROM agg""".stripMargin

  /** Theil-Sen robust slope of monthly revenue: median of all
    * pairwise slopes over the O(months) grain — the estimator that
    * shrugs off outlier months where OLS (q_forecast's fit) does not.
    * Revenue is aggregated to exact integer cents (deterministic
    * across engines), the fact table reduces to <=84 monthly rows in
    * one aggregate, and the pairwise-slope relation is bounded at
    * C(84,2) ~ 3.5k rows — the non-equi self-join and median ranking
    * are grain-bounded, never SF-scaled. */
  def qTheilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = T.orders(spark, dir)
      .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate")).as("mon"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val a = monthly.select($"mon".as("m1"), $"cents".as("c1"))
    val b = monthly.select($"mon".as("m2"), $"cents".as("c2"))
    val slopes = a.join(b, $"m1" < $"m2")
      .select((($"c2" - $"c1") / lit(100.0) / ($"m2" - $"m1")).as("slope"),
        $"m1", $"m2")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = slopes
      .withColumn("r", row_number().over(Window.orderBy($"slope", $"m1", $"m2")))
      .withColumn("c", count(lit(1)).over(all))
    // Column./ is double division — the median ranks need integer DIV
    ranked.filter(expr("r = (c + 1) DIV 2 OR r = c DIV 2 + 1"))
      .agg(max($"c").as("n_pairs"), round(avg($"slope"), 2).as("sen_slope"))
  }

  val qTheilSenSql: String =
    """WITH m AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mon,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
      |  FROM orders GROUP BY 1),
      |sl AS (SELECT (b.cents - a.cents) / 100.0 / (b.mon - a.mon) AS slope,
      |    a.mon AS m1, b.mon AS m2
      |  FROM m a JOIN m b ON a.mon < b.mon),
      |r AS (SELECT slope, row_number() OVER (ORDER BY slope, m1, m2) AS r,
      |    count(*) OVER () AS c FROM sl)
      |SELECT max(c)::BIGINT AS n_pairs, round(avg(slope), 2) AS sen_slope
      |FROM r WHERE r = (c + 1) // 2 OR r = c // 2 + 1""".stripMargin

  /** Lagged cross-correlation between daily order volume and daily
    * revenue (lags -3..+3): the lead/lag diagnostic behind
    * cause-precedes-effect checks on operational series. The fact
    * table grain-reduces to O(days) once (counts + exact revenue
    * cents), each lag is an equi-join of the day spine against its
    * shifted self (explode of a 7-element lag list — no cross join),
    * and Pearson corr runs per lag over the bounded day count. */
  def qCrossCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = T.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg(count(lit(1)).cast("double").as("x"),
        sum(round($"o_totalprice" * 100).cast("long")).cast("double").as("y"))
    val l = daily.select($"d", $"x")
      .withColumn("lag", explode(expr("sequence(-3, 3)")))
      .withColumn("d2", expr("date_add(d, lag)"))
    val r = daily.select($"d".as("d2"), $"y")
    l.join(r, Seq("d2"))
      .groupBy($"lag")
      .agg(count(lit(1)).as("n_days"), round(corr($"x", $"y"), 4).as("xcorr"))
      .orderBy($"lag")
  }

  val qCrossCorrSql: String =
    """WITH daily AS (SELECT o_orderdate AS d, count(*)::DOUBLE AS x,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::DOUBLE AS y
      |  FROM orders GROUP BY 1),
      |l AS (SELECT d, x, unnest(range(-3, 4)) AS lag FROM daily),
      |j AS (SELECT l.lag, l.x, r.y FROM l
      |  JOIN daily r ON r.d = l.d + to_days(CAST(l.lag AS INT)))
      |SELECT lag, count(*)::BIGINT AS n_days, round(corr(x, y), 4) AS xcorr
      |FROM j GROUP BY lag ORDER BY lag""".stripMargin

  /** Population Stability Index between the early (<= 1997) and late
    * (>= 1998) order-value distributions on a capped $25k bucket grid
    * — THE model-monitoring drift metric (PSI < 0.1 stable, > 0.25
    * action). One scan bins both periods into <= 20 cells; shares,
    * the 1e-6 zero-cell clamp, and the (cur-base)*ln(cur/base) terms
    * are arithmetic over the bounded grid (window totals over the
    * 20-cell relation). Emits the per-bucket decomposition plus the
    * repeated total — the drill-down a drift alert links to. */
  def qPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = T.orders(spark, dir)
      .select(least(floor($"o_totalprice" / 25000), lit(19)).cast("long").as("bucket"),
        (year($"o_orderdate") <= 1997).as("is_base"))
      .groupBy($"bucket")
      .agg(sum(when($"is_base", 1L).otherwise(0L)).as("nb"),
        sum(when(!$"is_base", 1L).otherwise(0L)).as("nc"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("sb", greatest($"nb".cast("double") / sum($"nb").over(all), lit(1e-6)))
      .withColumn("sc", greatest($"nc".cast("double") / sum($"nc").over(all), lit(1e-6)))
      .withColumn("term", ($"sc" - $"sb") * log($"sc" / $"sb"))
      .select($"bucket", $"nb", $"nc",
        round($"sb", 6).as("base_share"), round($"sc", 6).as("cur_share"),
        round($"term", 6).as("psi_term"),
        round(sum($"term").over(all), 6).as("psi_total"))
      .orderBy($"bucket")
  }

  val qPsiDriftSql: String =
    """WITH b AS (SELECT least(CAST(floor(o_totalprice / 25000) AS BIGINT), 19) AS bucket,
      |    year(o_orderdate) <= 1997 AS is_base FROM orders),
      |c AS (SELECT bucket,
      |    sum(CASE WHEN is_base THEN 1 ELSE 0 END)::BIGINT AS nb,
      |    sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END)::BIGINT AS nc
      |  FROM b GROUP BY bucket),
      |s AS (SELECT bucket, nb, nc,
      |    greatest(nb::DOUBLE / sum(nb) OVER (), 1e-6) AS sb,
      |    greatest(nc::DOUBLE / sum(nc) OVER (), 1e-6) AS sc
      |  FROM c),
      |t AS (SELECT bucket, nb, nc, sb, sc, (sc - sb) * ln(sc / sb) AS term FROM s)
      |SELECT bucket, nb, nc, round(sb, 6) AS base_share, round(sc, 6) AS cur_share,
      |  round(term, 6) AS psi_term, round(sum(term) OVER (), 6) AS psi_total
      |FROM t ORDER BY bucket""".stripMargin

  /** Simpson's-paradox audit: does the returned-vs-accepted discount
    * gap reverse sign inside any line-status segment relative to the
    * pooled gap? The aggregation-trap check a metrics platform runs
    * before anyone ships a pooled number. Per-segment sums and counts
    * come from ONE scan; the pooled rates derive from the same
    * bounded segment relation by window totals, so pooled and
    * per-segment arithmetic share inputs exactly (no second scan, no
    * fp drift between the two paths). `reversed` compares unrounded
    * products, robust to accumulation-order noise at these effect
    * sizes. */
  def qSimpsonCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seg = T.lineitem(spark, dir)
      .filter($"l_returnflag".isin("R", "A"))
      .groupBy($"l_linestatus".as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", $"l_discount")).as("sr"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("nr"),
        sum(when($"l_returnflag" === "A", $"l_discount")).as("sa"),
        sum(when($"l_returnflag" === "A", 1L).otherwise(0L)).as("na"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    seg
      .withColumn("seg_diff", $"sr" / $"nr" - $"sa" / $"na")
      .withColumn("pooled_diff",
        sum($"sr").over(all) / sum($"nr").over(all) -
          sum($"sa").over(all) / sum($"na").over(all))
      .select($"segment", $"n",
        round($"seg_diff", 6).as("seg_diff"),
        round($"pooled_diff", 6).as("pooled_diff"),
        ($"seg_diff" * $"pooled_diff" < 0).as("reversed"))
      .orderBy($"segment")
  }

  val qSimpsonCheckSql: String =
    """WITH seg AS (SELECT l_linestatus AS segment, count(*)::BIGINT AS n,
      |    sum(CASE WHEN l_returnflag = 'R' THEN l_discount END) AS sr,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS nr,
      |    sum(CASE WHEN l_returnflag = 'A' THEN l_discount END) AS sa,
      |    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::BIGINT AS na
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
      |d AS (SELECT segment, n, sr / nr - sa / na AS seg_diff,
      |    sum(sr) OVER () / sum(nr) OVER ()
      |      - sum(sa) OVER () / sum(na) OVER () AS pooled_diff
      |  FROM seg)
      |SELECT segment, n, round(seg_diff, 6) AS seg_diff,
      |  round(pooled_diff, 6) AS pooled_diff,
      |  seg_diff * pooled_diff < 0 AS reversed
      |FROM d ORDER BY segment""".stripMargin

  /** Partial correlation of quantity and line price CONTROLLING for
    * discount — the confounder-adjusted association a metrics review
    * asks for after the raw correlation ships. All three pairwise
    * Pearson r's ride ONE hash aggregate (Spark's corr is a partial-
    * combining aggregate, so one fact scan at any SF); the partial-r
    * formula runs on the 1-row moment relation. */
  def qPartialCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = T.lineitem(spark, dir).agg(
      count(lit(1)).as("n"),
      corr($"l_quantity", $"l_extendedprice").as("rxy"),
      corr($"l_quantity", $"l_discount").as("rxz"),
      corr($"l_extendedprice", $"l_discount").as("ryz"))
    m.select($"n", round($"rxy", 4).as("r_raw"),
      round(($"rxy" - $"rxz" * $"ryz") /
        sqrt((lit(1.0) - $"rxz" * $"rxz") * (lit(1.0) - $"ryz" * $"ryz")), 4)
        .as("r_partial"))
  }

  val qPartialCorrSql: String =
    """WITH m AS (SELECT count(*)::BIGINT AS n,
      |    corr(l_quantity, l_extendedprice) AS rxy,
      |    corr(l_quantity, l_discount) AS rxz,
      |    corr(l_extendedprice, l_discount) AS ryz
      |  FROM lineitem)
      |SELECT n, round(rxy, 4) AS r_raw,
      |  round((rxy - rxz * ryz) /
      |    sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 4) AS r_partial
      |FROM m""".stripMargin

  /** Cronbach's alpha over three comparably-scaled line-item measures
    * (quantity, discount%, tax%) — the internal-consistency
    * coefficient α = k/(k−1) · (1 − Σvar_i / var(Σx)): one aggregate
    * carrying the three item variances plus the composite variance,
    * closed-form on the 1-row result. The measures are deliberately
    * near-independent here, so α ~ 0 — the audit's value is the
    * machinery (any k items, one scan), not this fixture's score. */
  def qCronbachAlpha(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = $"l_quantity"
    val d = $"l_discount" * 100
    val t = $"l_tax" * 100
    val m = T.lineitem(spark, dir).agg(
      count(lit(1)).as("n"),
      var_samp(q).as("v1"), var_samp(d).as("v2"), var_samp(t).as("v3"),
      var_samp(q + d + t).as("vt"))
    m.select($"n",
      round(lit(3.0 / 2.0) * (lit(1.0) - ($"v1" + $"v2" + $"v3") / $"vt"), 4)
        .as("alpha"))
  }

  val qCronbachAlphaSql: String =
    """WITH m AS (SELECT count(*)::BIGINT AS n,
      |    var_samp(l_quantity) AS v1,
      |    var_samp(l_discount * 100) AS v2,
      |    var_samp(l_tax * 100) AS v3,
      |    var_samp(l_quantity + l_discount * 100 + l_tax * 100) AS vt
      |  FROM lineitem)
      |SELECT n, round(1.5 * (1.0 - (v1 + v2 + v3) / vt), 4) AS alpha
      |FROM m""".stripMargin

  /** Decision-stump training at scale: the best quantity threshold
    * for predicting a returned line (l_returnflag = 'R') by weighted
    * Gini impurity — the split-finding primitive under every
    * tree/GBM trainer, expressed as: one grid aggregate (quantity is
    * a 1..50 grid), cumulative class counts over the grid, impurity
    * arithmetic per candidate threshold, argmin. The fact table is
    * touched once; candidate evaluation is O(grid), not O(rows). */
  def qGiniStump(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = T.lineitem(spark, dir)
      .groupBy($"l_quantity".cast("int").as("q"))
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("r"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy($"q").rowsBetween(Window.unboundedPreceding, 0)
    def gini(pos: Column, tot: Column): Column = {
      val p = pos.cast("double") / tot
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    val scored = grid
      .withColumn("nl", sum($"n").over(wCum))
      .withColumn("rl", sum($"r").over(wCum))
      .withColumn("nt", sum($"n").over(all))
      .withColumn("rt", sum($"r").over(all))
      .filter($"nl" < $"nt") // a split must leave a non-empty right side
      .withColumn("g",
        ($"nl" / $"nt".cast("double")) * gini($"rl", $"nl") +
          (($"nt" - $"nl") / $"nt".cast("double")) * gini($"rt" - $"rl", $"nt" - $"nl"))
      .withColumn("g0", gini($"rt", $"nt"))
    scored
      .select($"q".as("threshold"), round($"g", 6).as("gini_split"),
        round($"g0", 6).as("gini_parent"),
        round($"g0" - $"g", 6).as("gain"))
      .orderBy(desc("gain"), asc("threshold"))
      .limit(1)
  }

  val qGiniStumpSql: String =
    """WITH grid AS (SELECT CAST(l_quantity AS INT) AS q, count(*)::BIGINT AS n,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS r
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT q,
      |    sum(n) OVER (ORDER BY q) AS nl, sum(r) OVER (ORDER BY q) AS rl,
      |    sum(n) OVER () AS nt, sum(r) OVER () AS rt
      |  FROM grid),
      |s AS (SELECT q, nl, rl, nt, rt,
      |    (nl / nt::DOUBLE) * (1.0 - (rl::DOUBLE / nl) * (rl::DOUBLE / nl)
      |      - (1.0 - rl::DOUBLE / nl) * (1.0 - rl::DOUBLE / nl))
      |    + ((nt - nl) / nt::DOUBLE) * (1.0
      |      - ((rt - rl)::DOUBLE / (nt - nl)) * ((rt - rl)::DOUBLE / (nt - nl))
      |      - (1.0 - (rt - rl)::DOUBLE / (nt - nl)) * (1.0 - (rt - rl)::DOUBLE / (nt - nl))) AS g,
      |    1.0 - (rt::DOUBLE / nt) * (rt::DOUBLE / nt)
      |      - (1.0 - rt::DOUBLE / nt) * (1.0 - rt::DOUBLE / nt) AS g0
      |  FROM c WHERE nl < nt)
      |SELECT q AS threshold, round(g, 6) AS gini_split,
      |  round(g0, 6) AS gini_parent, round(g0 - g, 6) AS gain
      |FROM s ORDER BY round(g0 - g, 6) DESC, q LIMIT 1""".stripMargin

  /** Cohen's kappa between two labeling rules — the chance-corrected
    * inter-annotator agreement every labeled-data pipeline reports
    * before trusting its raters. The two "annotators" are
    * deterministic document heuristics (a char-length rule and a
    * token-count rule); the whole statistic reduces to ONE hash
    * aggregate producing the 2x2 confusion counts, then closed-form
    * arithmetic on that single row — O(1) memory at any corpus
    * size. */
  def qCohenKappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labeled = T.documents(spark, dir)
      .select(($"n_chars" > 300).as("a"),
        (size(split($"text", " ")) > 55).as("b"))
    val conf = labeled.agg(
      count(lit(1)).as("n"),
      sum(when($"a" && $"b", 1L).otherwise(0L)).as("n11"),
      sum(when($"a" && !$"b", 1L).otherwise(0L)).as("n10"),
      sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("n01"),
      sum(when(!$"a" && !$"b", 1L).otherwise(0L)).as("n00"))
    conf
      .withColumn("po", ($"n11" + $"n00").cast("double") / $"n")
      .withColumn("pa", ($"n11" + $"n10").cast("double") / $"n")
      .withColumn("pb", ($"n11" + $"n01").cast("double") / $"n")
      .withColumn("pe",
        $"pa" * $"pb" + (lit(1.0) - $"pa") * (lit(1.0) - $"pb"))
      .select($"n", $"n11", $"n10", $"n01", $"n00",
        round($"po", 4).as("po"), round($"pe", 4).as("pe"),
        round(($"po" - $"pe") / (lit(1.0) - $"pe"), 4).as("kappa"))
  }

  val qCohenKappaSql: String =
    """WITH lab AS (SELECT n_chars > 300 AS a,
      |    len(string_split(text, ' ')) > 55 AS b FROM documents),
      |c AS (SELECT count(*)::BIGINT AS n,
      |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n11,
      |    sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n10,
      |    sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS n01,
      |    sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n00
      |  FROM lab),
      |p AS (SELECT n, n11, n10, n01, n00,
      |    (n11 + n00)::DOUBLE / n AS po,
      |    (n11 + n10)::DOUBLE / n AS pa,
      |    (n11 + n01)::DOUBLE / n AS pb
      |  FROM c)
      |SELECT n, n11, n10, n01, n00, round(po, 4) AS po,
      |  round(pa * pb + (1.0 - pa) * (1.0 - pb), 4) AS pe,
      |  round((po - (pa * pb + (1.0 - pa) * (1.0 - pb)))
      |    / (1.0 - (pa * pb + (1.0 - pa) * (1.0 - pb))), 4) AS kappa
      |FROM p""".stripMargin

  /** Split-conformal prediction threshold: fit a linear predictor of
    * token count from char count on a hash-assigned fit split, take
    * the k = ceil(0.9·(n+1))-th smallest absolute residual on a
    * disjoint calibration split (the finite-sample-valid conformal
    * quantile), and report empirical coverage of `|resid| <= t` on a
    * third held-out split — the distribution-free uncertainty
    * machinery quality-estimation pipelines wrap around any scorer.
    * Exactness discipline: every regression sum is integer arithmetic
    * widened to DECIMAL(38,0) (exact at any SF, the q_mann_whitney
    * rule), so residuals are bit-identical across engines; the order
    * statistic comes from the distributed Skew.globalRowNumber rank,
    * never a partitionless window over the calibration rows. */
  def qConformalThreshold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cell = md5Hash($"text", 2).cast("int")
    val docs = T.documents(spark, dir)
      .select($"doc_id", $"n_chars".as("x"),
        size(split($"text", " ")).cast("long").as("y"),
        when(cell < 128, "fit").when(cell < 192, "cal").otherwise("test").as("split"))
      .cache()
    val d38 = "decimal(38,0)"
    // widen per-row, then sum in decimal: sum-of-longs would wrap long
    // before the cast at extreme SF (the q_mann_whitney overflow rule)
    val fitSums = docs.filter($"split" === "fit").agg(
      count(lit(1)).cast(d38).as("m"),
      sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
      sum($"x".cast(d38) * $"y").as("sxy"), sum($"x".cast(d38) * $"x").as("sx2"))
    val fit = fitSums.select(
      $"m".cast("long").as("n_fit"),
      (($"m" * $"sxy" - $"sx" * $"sy").cast("double") /
        ($"m" * $"sx2" - $"sx" * $"sx").cast("double")).as("b"),
      (($"sy" * $"sx2" - $"sx" * $"sxy").cast("double") /
        ($"m" * $"sx2" - $"sx" * $"sx").cast("double")).as("a"))
    val cal = docs.filter($"split" === "cal").crossJoin(broadcast(fit))
      .select($"doc_id", $"n_fit", $"a", $"b",
        abs($"y" - $"a" - $"b" * $"x").as("s"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
      .withColumn("k", ceil(lit(0.9) * ($"n_cal" + 1)).cast("long"))
      .withColumn("k", least($"k", $"n_cal"))
    val thr = Skew.globalRowNumber(cal, Seq($"s", $"doc_id"), rankName = "rn")
      .crossJoin(broadcast(nCal))
      .filter($"rn" === $"k")
      .select($"n_fit", $"n_cal", $"k", $"a", $"b", $"s".as("t"))
    docs.filter($"split" === "test").crossJoin(broadcast(thr))
      .agg(
        max($"n_fit").as("n_fit"), max($"n_cal").as("n_cal"),
        count(lit(1)).as("n_test"), max($"k").as("k"),
        round(max($"t"), 4).as("threshold"),
        round(avg(when(abs($"y" - $"a" - $"b" * $"x") <= $"t", 1.0)
          .otherwise(0.0)), 4).as("coverage"))
  }

  val qConformalThresholdSql: String =
    """WITH d AS MATERIALIZED (SELECT doc_id, n_chars AS x,
      |    len(string_split(text, ' '))::BIGINT AS y,
      |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS cell
      |  FROM documents),
      |s AS (SELECT doc_id, x, y,
      |    CASE WHEN cell < 128 THEN 'fit' WHEN cell < 192 THEN 'cal'
      |         ELSE 'test' END AS split FROM d),
      |fs AS (SELECT count(*)::HUGEINT AS m, sum(x)::HUGEINT AS sx,
      |    sum(y)::HUGEINT AS sy, sum(x * y)::HUGEINT AS sxy,
      |    sum(x * x)::HUGEINT AS sx2
      |  FROM s WHERE split = 'fit'),
      |fit AS (SELECT m::BIGINT AS n_fit,
      |    (m * sxy - sx * sy)::DOUBLE / (m * sx2 - sx * sx)::DOUBLE AS b,
      |    (sy * sx2 - sx * sxy)::DOUBLE / (m * sx2 - sx * sx)::DOUBLE AS a
      |  FROM fs),
      |cal AS MATERIALIZED (SELECT doc_id, n_fit, a, b, abs(y - a - b * x) AS s2
      |  FROM s, fit WHERE split = 'cal'),
      |nc AS (SELECT count(*)::BIGINT AS n_cal,
      |    least(ceil(0.9 * (count(*) + 1))::BIGINT, count(*)::BIGINT) AS k
      |  FROM cal),
      |thr AS (SELECT n_fit, n_cal, k, a, b, s2 AS t
      |  FROM (SELECT *, row_number() OVER (ORDER BY s2, doc_id) AS rn FROM cal), nc
      |  WHERE rn = k)
      |SELECT max(n_fit) AS n_fit, max(n_cal) AS n_cal,
      |  count(*)::BIGINT AS n_test, max(k) AS k,
      |  round(max(t), 4) AS threshold,
      |  round(avg(CASE WHEN abs(y - a - b * x) <= t THEN 1.0 ELSE 0.0 END), 4) AS coverage
      |FROM s, thr WHERE split = 'test'""".stripMargin

  /** McNemar's test (with continuity correction) comparing two
    * document classifiers against the source label on PAIRED
    * predictions — the right test when two filters score the same
    * corpus (a two-proportion z-test would ignore the pairing). The
    * statistic needs only the two discordant-cell counts, so the whole
    * fact table reduces in ONE map-side-combined aggregate; every term
    * is an exact integer until the final division. */
  def qMcNemar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lab = T.documents(spark, dir).select(
      ($"source" === "src0").as("y"),
      ($"n_chars" > 300).as("ca"),
      (size(split($"text", " ")) > 55).as("cb"))
    lab.select(($"ca" === $"y").as("aok"), ($"cb" === $"y").as("bok"))
      .agg(count(lit(1)).as("n"),
        sum(when($"aok" && !$"bok", 1L).otherwise(0L)).as("n10"),
        sum(when(!$"aok" && $"bok", 1L).otherwise(0L)).as("n01"))
      .select($"n", $"n10", $"n01",
        round(pow(greatest(abs($"n10" - $"n01") - lit(1.0), lit(0.0)), 2) /
          ($"n10" + $"n01"), 4).as("chi2_cc"))
  }

  val qMcNemarSql: String =
    """WITH lab AS (SELECT (source = 'src0') AS y, (n_chars > 300) AS ca,
      |    (len(string_split(text, ' ')) > 55) AS cb FROM documents),
      |ok AS (SELECT (ca = y) AS aok, (cb = y) AS bok FROM lab),
      |c AS (SELECT count(*)::BIGINT AS n,
      |    sum(CASE WHEN aok AND NOT bok THEN 1 ELSE 0 END)::BIGINT AS n10,
      |    sum(CASE WHEN NOT aok AND bok THEN 1 ELSE 0 END)::BIGINT AS n01
      |  FROM ok)
      |SELECT n, n10, n01,
      |  round(pow(greatest(abs(n10 - n01) - 1.0, 0.0), 2) / (n10 + n01), 4) AS chi2_cc
      |FROM c""".stripMargin

  /** Fleiss' kappa over THREE deterministic raters (char-length,
    * token-count, and letter-frequency gates) labeling every document
    * — the multi-rater agreement statistic annotation pipelines report
    * where Cohen's kappa only handles two raters. With r=3 raters and
    * 2 categories, per-item agreement P_i = (s² + (r−s)² − r) / (r(r−1))
    * where s = raters voting 1; summing 6·P_i keeps the numerator an
    * exact integer, so the corpus reduces in one aggregate and the only
    * floating-point steps are the three final divisions. */
  def qFleissKappa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = ($"n_chars" > 300).cast("long") +
      (size(split($"text", " ")) > 55).cast("long") +
      ((length($"text") - length(translate($"text", "e", ""))) > 20).cast("long")
    T.documents(spark, dir).select(s.as("s"))
      .agg(count(lit(1)).as("n"), sum($"s").as("votes"),
        sum($"s" * $"s" + (lit(3) - $"s") * (lit(3) - $"s") - lit(3)).as("p6"))
      .select($"n",
        ($"p6" / ($"n" * lit(6.0))).as("pbar"),
        ($"votes" / ($"n" * lit(3.0))).as("p1"))
      .select($"n", round($"pbar", 4).as("p_obs"),
        round($"p1" * $"p1" + (lit(1.0) - $"p1") * (lit(1.0) - $"p1"), 4).as("p_exp"),
        round(($"pbar" - ($"p1" * $"p1" + (lit(1.0) - $"p1") * (lit(1.0) - $"p1"))) /
          (lit(1.0) - ($"p1" * $"p1" + (lit(1.0) - $"p1") * (lit(1.0) - $"p1"))), 4)
          .as("kappa"))
  }

  val qFleissKappaSql: String =
    """WITH v AS (SELECT
      |    (n_chars > 300)::BIGINT + (len(string_split(text, ' ')) > 55)::BIGINT +
      |    ((len(text) - len(replace(text, 'e', ''))) > 20)::BIGINT AS s
      |  FROM documents),
      |c AS (SELECT count(*)::BIGINT AS n, sum(s)::BIGINT AS votes,
      |    sum(s * s + (3 - s) * (3 - s) - 3)::BIGINT AS p6 FROM v),
      |p AS (SELECT n, p6 / (n * 6.0) AS pbar, votes / (n * 3.0) AS p1 FROM c)
      |SELECT n, round(pbar, 4) AS p_obs,
      |  round(p1 * p1 + (1.0 - p1) * (1.0 - p1), 4) AS p_exp,
      |  round((pbar - (p1 * p1 + (1.0 - p1) * (1.0 - p1))) /
      |    (1.0 - (p1 * p1 + (1.0 - p1) * (1.0 - p1))), 4) AS kappa
      |FROM p""".stripMargin

  /** One-way ANOVA F across the five order priorities on order value
    * — the >2-group mean test Welch's t can't cover. Values are fixed
    * to EXACT integer cents (round-then-widen to DECIMAL(38,0), the
    * cross-engine cast rule), so per-group (n, Σc, Σc²) are exact at
    * any SF; the five-row moment table then yields SSB/SSW closed-form
    * and only F itself is floating-point. One map-side-combined
    * aggregate over the facts, zero windows. */
  def qAnovaF(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val g = T.orders(spark, dir)
      .select($"o_orderpriority".as("grp"),
        round($"o_totalprice" * 100).cast(d38).as("c"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("nj"),
        sum($"c").cast("double").as("sj"),
        sum($"c" * $"c").cast("double").as("qj"))
    g.agg(count(lit(1)).as("k"), sum($"nj").as("n"),
        sum($"sj").as("s"), sum($"qj").as("q"),
        sum($"sj" * $"sj" / $"nj").as("b"))
      .select($"k", $"n", ($"k" - 1).as("df1"), ($"n" - $"k").as("df2"),
        round((($"b" - $"s" * $"s" / $"n") / ($"k" - 1)) /
          (($"q" - $"b") / ($"n" - $"k")), 4).as("f"))
  }

  val qAnovaFSql: String =
    """WITH c AS (SELECT o_orderpriority AS grp,
      |    CAST(round(o_totalprice * 100) AS DECIMAL(38,0)) AS c FROM orders),
      |g AS (SELECT grp, count(*)::BIGINT AS nj, sum(c)::DOUBLE AS sj,
      |    sum(c * c)::DOUBLE AS qj FROM c GROUP BY grp),
      |a AS (SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
      |    sum(sj) AS s, sum(qj) AS q, sum(sj * sj / nj) AS b FROM g)
      |SELECT k, n, k - 1 AS df1, n - k AS df2,
      |  round(((b - s * s / n) / (k - 1)) / ((q - b) / (n - k)), 4) AS f
      |FROM a""".stripMargin

  /** Kruskal-Wallis H (tie-corrected) across all five order priorities
    * — the rank-based ANOVA for when value distributions are skewed.
    * Same grid discipline as q_mann_whitney: the defined statistic is
    * midranks of the $1k-bucketed value, so ranking is one cumulative
    * window over a ~500-cell grid. Doubled midranks (2·mid = 2·cum −
    * t + 1) keep every rank sum an exact DECIMAL integer at any SF;
    * tie cubes widen to decimal before cubing (the Mann-Whitney
    * overflow rule — HUGEINT in the oracle). */
  def qKruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val cnts = pris.zipWithIndex.map { case (p, i) =>
      sum(when($"o_orderpriority" === p, 1L).otherwise(0L)).as(s"n$i")
    }
    val grid = T.orders(spark, dir)
      .groupBy(floor($"o_totalprice" / 1000).cast("long").as("v"))
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("t", $"n0" + $"n1" + $"n2" + $"n3" + $"n4")
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val mid = grid.withColumn("mid2", lit(2) * sum($"t").over(w) - $"t" + 1)
    val d38 = "decimal(38,0)"
    val aggs = (0 to 4).flatMap(i => Seq(
      sum(col(s"n$i")).as(s"nn$i"),
      sum(col(s"n$i").cast(d38) * $"mid2").as(s"r2_$i"))) :+
      sum($"t".cast(d38) * $"t" * $"t" - $"t").as("tie")
    val agg = mid.agg(aggs.head, aggs.tail: _*)
    agg
      .withColumn("n", (0 to 4).map(i => col(s"nn$i")).reduce(_ + _))
      .withColumn("rterm", (0 to 4).map(i =>
        col(s"r2_$i").cast("double") * col(s"r2_$i").cast("double") / col(s"nn$i"))
        .reduce(_ + _))
      .select($"n", lit(4L).as("df"),
        round(((lit(3.0) * $"rterm" / ($"n" * ($"n" + lit(1.0))) -
          lit(3.0) * ($"n" + 1)) /
          (lit(1.0) - $"tie".cast("double") /
            ($"n".cast("double") * $"n" * $"n" - $"n"))), 4).as("h"))
  }

  val qKruskalWallisSql: String =
    """WITH grid AS (SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS v,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS n2,
      |    sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS n3,
      |    sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS n4
      |  FROM orders GROUP BY 1),
      |mid AS (SELECT n0, n1, n2, n3, n4, n0 + n1 + n2 + n3 + n4 AS t,
      |    2 * sum(n0 + n1 + n2 + n3 + n4) OVER (ORDER BY v)
      |      - (n0 + n1 + n2 + n3 + n4) + 1 AS mid2
      |  FROM grid),
      |a AS (SELECT
      |    sum(n0)::BIGINT AS nn0, sum(n0::HUGEINT * mid2) AS r2_0,
      |    sum(n1)::BIGINT AS nn1, sum(n1::HUGEINT * mid2) AS r2_1,
      |    sum(n2)::BIGINT AS nn2, sum(n2::HUGEINT * mid2) AS r2_2,
      |    sum(n3)::BIGINT AS nn3, sum(n3::HUGEINT * mid2) AS r2_3,
      |    sum(n4)::BIGINT AS nn4, sum(n4::HUGEINT * mid2) AS r2_4,
      |    sum(t::HUGEINT * t * t - t) AS tie
      |  FROM mid),
      |h AS (SELECT nn0 + nn1 + nn2 + nn3 + nn4 AS n,
      |    r2_0::DOUBLE * r2_0 / nn0 + r2_1::DOUBLE * r2_1 / nn1 +
      |    r2_2::DOUBLE * r2_2 / nn2 + r2_3::DOUBLE * r2_3 / nn3 +
      |    r2_4::DOUBLE * r2_4 / nn4 AS rterm, tie::DOUBLE AS tie
      |  FROM a)
      |SELECT n, 4::BIGINT AS df,
      |  round((3.0 * rterm / (n * (n + 1.0)) - 3.0 * (n + 1)) /
      |    (1.0 - tie / (n::DOUBLE * n * n - n)), 4) AS h
      |FROM h""".stripMargin

  /** Brown-Forsythe (median-centered Levene) test for equal spread
    * across the five priorities. The defined statistic lives on the
    * $1k value grid: group medians come from a per-group cumulative
    * count over the grid (lower median — smallest bucket reaching
    * ceil(n_j/2)), absolute deviations are integer bucket distances
    * weighted by cell counts, and the final one-way F over deviations
    * is closed-form from per-group (Σn, Σnz, Σnz²) — all exact
    * integers. ONE scan of orders; everything after is grid-sized. */
  def qLevene(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = T.orders(spark, dir)
      .groupBy($"o_orderpriority".as("grp"),
        floor($"o_totalprice" / 1000).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val wg = Window.partitionBy($"grp").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCum = grid
      .withColumn("cum", sum($"c").over(wg))
      .withColumn("nj", sum($"c").over(Window.partitionBy($"grp")))
    val med = withCum
      .filter($"cum" >= ceil($"nj" / lit(2.0)))
      .groupBy($"grp").agg(min($"v").as("med"))
    val z = grid.join(med, Seq("grp"))
      .select($"grp", abs($"v" - $"med").as("z"), $"c")
    val g = z.groupBy($"grp")
      .agg(sum($"c").as("nj"),
        sum($"z" * $"c").cast("double").as("sj"),
        sum($"z" * $"z" * $"c").cast("double").as("qj"))
    g.agg(count(lit(1)).as("k"), sum($"nj").as("n"),
        sum($"sj").as("s"), sum($"qj").as("q"),
        sum($"sj" * $"sj" / $"nj").as("b"))
      .select($"k", $"n", ($"k" - 1).as("df1"), ($"n" - $"k").as("df2"),
        round((($"b" - $"s" * $"s" / $"n") / ($"k" - 1)) /
          (($"q" - $"b") / ($"n" - $"k")), 4).as("f"))
  }

  val qLeveneSql: String =
    """WITH grid AS (SELECT o_orderpriority AS grp,
      |    CAST(floor(o_totalprice / 1000) AS BIGINT) AS v, count(*)::BIGINT AS c
      |  FROM orders GROUP BY 1, 2),
      |cums AS (SELECT grp, v, c,
      |    sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY grp) AS nj
      |  FROM grid),
      |med AS (SELECT grp, min(v) AS med FROM cums
      |  WHERE cum >= ceil(nj / 2.0) GROUP BY grp),
      |z AS (SELECT grid.grp, abs(v - med) AS z, c
      |  FROM grid JOIN med ON grid.grp = med.grp),
      |g AS (SELECT grp, sum(c)::BIGINT AS nj, sum(z * c)::DOUBLE AS sj,
      |    sum(z * z * c)::DOUBLE AS qj FROM z GROUP BY grp),
      |a AS (SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
      |    sum(sj) AS s, sum(qj) AS q, sum(sj * sj / nj) AS b FROM g)
      |SELECT k, n, k - 1 AS df1, n - k AS df2,
      |  round(((b - s * s / n) / (k - 1)) / ((q - b) / (n - k)), 4) AS f
      |FROM a""".stripMargin

  /** Cramér's V — effect size for the priority × status association
    * (chi-square alone grows with n; V is the [0,1]-normalized version
    * a 100 TB report can actually compare across tables). One hash
    * aggregate to the 15-cell contingency table; marginals and the
    * chi-square come from re-aggregating that bounded relation. Counts
    * stay exact integers; only the final χ²/V are floating-point. */
  def qCramersV(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = T.orders(spark, dir)
      .groupBy($"o_orderpriority".as("r"), $"o_orderstatus".as("s"))
      .agg(count(lit(1)).as("o"))
      .cache()
    val rt = cells.groupBy($"r").agg(sum($"o").as("rn"))
    val ct = cells.groupBy($"s").agg(sum($"o").as("cn"))
    val n1 = cells.agg(sum($"o").as("n"),
      countDistinct($"r").as("nr"), countDistinct($"s").as("ns"))
    cells.join(rt, Seq("r")).join(ct, Seq("s")).crossJoin(broadcast(n1))
      .select($"o", ($"rn".cast("double") * $"cn" / $"n").as("e"),
        $"n", $"nr", $"ns")
      .agg(max($"n").as("n"), max($"nr").as("n_rows"), max($"ns").as("n_cols"),
        sum(($"o" - $"e") * ($"o" - $"e") / $"e").as("chi2"),
        max(least($"nr", $"ns") - 1).as("mindim"))
      .select($"n", $"n_rows", $"n_cols", round($"chi2", 4).as("chi2"),
        round(sqrt($"chi2" / ($"n" * $"mindim")), 4).as("cramers_v"))
  }

  val qCramersVSql: String =
    """WITH cells AS (SELECT o_orderpriority AS r, o_orderstatus AS s,
      |    count(*)::BIGINT AS o FROM orders GROUP BY 1, 2),
      |rt AS (SELECT r, sum(o)::BIGINT AS rn FROM cells GROUP BY r),
      |ct AS (SELECT s, sum(o)::BIGINT AS cn FROM cells GROUP BY s),
      |n1 AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT r)::BIGINT AS nr,
      |    count(DISTINCT s)::BIGINT AS ns FROM cells),
      |j AS (SELECT o, rn::DOUBLE * cn / n AS e, n, nr, ns
      |  FROM cells JOIN rt USING (r) JOIN ct USING (s) CROSS JOIN n1),
      |a AS (SELECT max(n) AS n, max(nr) AS n_rows, max(ns) AS n_cols,
      |    sum((o - e) * (o - e) / e) AS chi2,
      |    max(least(nr, ns) - 1) AS mindim FROM j)
      |SELECT n, n_rows, n_cols, round(chi2, 4) AS chi2,
      |  round(sqrt(chi2 / (n * mindim)), 4) AS cramers_v
      |FROM a""".stripMargin

  /** Cook's distance — the top-10 most influential documents in the
    * chars→tokens OLS fit, the regression-diagnostic pass a data-quality
    * pipeline runs to surface fit-dominating outliers. The fit AND the
    * error variance close in ONE exact decimal-moment aggregate (SSE =
    * Syy − b·Sxy, no residual pass), broadcast as one row; the second
    * scan scores every document with its leverage h_i = 1/n +
    * (x−x̄)²/Sxx and D_i = e²h / (p·s²·(1−h)²). Both engines rank by
    * the same rounded key (round-9 tie-break rule). */
  def qCooksDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val docs = T.documents(spark, dir)
      .select($"doc_id", $"n_chars".as("x"),
        size(split($"text", " ")).cast("long").as("y"))
    val fit = docs.agg(
        count(lit(1)).cast(d38).as("m"),
        sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
        sum($"x".cast(d38) * $"y").as("sxy"),
        sum($"x".cast(d38) * $"x").as("sx2"),
        sum($"y".cast(d38) * $"y").as("sy2"))
      .select($"m".cast("long").as("n"),
        ($"sx".cast("double") / $"m".cast("double")).as("xbar"),
        // every centered moment is an EXACT decimal (·m) cast once to
        // double, then divided in double — decimal division rounds
        // differently across engines, so it never appears here
        (($"m" * $"sx2" - $"sx" * $"sx").cast("double") /
          $"m".cast("double")).as("sxx"),
        (($"m" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"m" * $"sx2" - $"sx" * $"sx").cast("double")).as("b"),
        (($"sy" * $"sx2" - $"sx" * $"sxy").cast("double") /
          ($"m" * $"sx2" - $"sx" * $"sx").cast("double")).as("a"),
        (($"m" * $"sy2" - $"sy" * $"sy").cast("double") / $"m".cast("double") -
          (($"m" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"m" * $"sx2" - $"sx" * $"sx").cast("double")) *
          (($"m" * $"sxy" - $"sx" * $"sy").cast("double") /
            $"m".cast("double"))).as("sse"))
    docs.crossJoin(broadcast(fit))
      .select($"doc_id",
        ($"y" - $"a" - $"b" * $"x").as("e"),
        (lit(1.0) / $"n" + ($"x" - $"xbar") * ($"x" - $"xbar") / $"sxx").as("h"),
        ($"sse" / ($"n" - 2)).as("s2"))
      .select($"doc_id", round($"e", 4).as("resid"), round($"h", 6).as("leverage"),
        round($"e" * $"e" * $"h" / (lit(2.0) * $"s2" * (lit(1.0) - $"h") *
          (lit(1.0) - $"h")), 6).as("cooks_d"))
      .orderBy(desc("cooks_d"), asc("doc_id"))
      .limit(10)
  }

  val qCooksDistanceSql: String =
    """WITH d AS (SELECT doc_id, n_chars AS x,
      |    len(string_split(text, ' '))::BIGINT AS y FROM documents),
      |ms AS (SELECT count(*)::HUGEINT AS m,
      |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
      |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sx2,
      |    sum(y::HUGEINT * y) AS sy2 FROM d),
      |fit AS (SELECT m::BIGINT AS n,
      |    sx::DOUBLE / m::DOUBLE AS xbar,
      |    (m * sx2 - sx * sx)::DOUBLE / m::DOUBLE AS sxx,
      |    (m * sxy - sx * sy)::DOUBLE / (m * sx2 - sx * sx)::DOUBLE AS b,
      |    (sy * sx2 - sx * sxy)::DOUBLE / (m * sx2 - sx * sx)::DOUBLE AS a,
      |    ((m * sy2 - sy * sy)::DOUBLE / m::DOUBLE -
      |      ((m * sxy - sx * sy)::DOUBLE / (m * sx2 - sx * sx)::DOUBLE) *
      |      ((m * sxy - sx * sy)::DOUBLE / m::DOUBLE)) AS sse
      |  FROM ms),
      |sc AS (SELECT doc_id, y - a - b * x AS e,
      |    1.0 / n + (x - xbar) * (x - xbar) / sxx AS h,
      |    sse / (n - 2) AS s2 FROM d, fit)
      |SELECT doc_id, round(e, 4) AS resid, round(h, 6) AS leverage,
      |  round(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6) AS cooks_d
      |FROM sc ORDER BY cooks_d DESC, doc_id LIMIT 10""".stripMargin

  /** Jarque-Bera normality test on order values — skewness/excess-
    * kurtosis via raw power sums of EXACT integer cents widened to
    * DECIMAL(38,0) (HUGEINT in the oracle; c⁴ ≈ 10³⁰ per row keeps
    * Σc⁴ within 38 digits through SF ≈ 100), cast to double ONCE and
    * combined into central moments with identical IEEE arithmetic on
    * both engines. One map-side-combined aggregate; JB = n/6·(S² +
    * K²/4) closes in a select. */
  def qJarqueBera(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val c = round($"o_totalprice" * 100).cast(d38)
    val raw = T.orders(spark, dir)
      .select(c.as("c"))
      .agg(count(lit(1)).as("n"),
        sum($"c").cast("double").as("s1"),
        sum($"c" * $"c").cast("double").as("s2"),
        sum($"c" * $"c" * $"c").cast("double").as("s3"),
        sum($"c" * $"c" * $"c" * $"c").cast("double").as("s4"))
    raw
      .withColumn("mu", $"s1" / $"n")
      .withColumn("m2", $"s2" / $"n" - $"mu" * $"mu")
      .withColumn("m3",
        $"s3" / $"n" - lit(3.0) * $"mu" * $"s2" / $"n" +
          lit(2.0) * $"mu" * $"mu" * $"mu")
      .withColumn("m4",
        $"s4" / $"n" - lit(4.0) * $"mu" * $"s3" / $"n" +
          lit(6.0) * $"mu" * $"mu" * $"s2" / $"n" -
          lit(3.0) * $"mu" * $"mu" * $"mu" * $"mu")
      .withColumn("skew", $"m3" / pow($"m2", 1.5))
      .withColumn("kurt", $"m4" / ($"m2" * $"m2") - lit(3.0))
      .select($"n", round($"skew", 4).as("skew"), round($"kurt", 4).as("kurt"),
        round($"n" / lit(6.0) *
          ($"skew" * $"skew" + $"kurt" * $"kurt" / lit(4.0)), 4).as("jb"))
  }

  val qJarqueBeraSql: String =
    """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS HUGEINT) AS c FROM orders),
      |raw AS (SELECT count(*)::BIGINT AS n, sum(c)::DOUBLE AS s1,
      |    sum(c * c)::DOUBLE AS s2, sum(c * c * c)::DOUBLE AS s3,
      |    sum(c * c * c * c)::DOUBLE AS s4 FROM c),
      |m AS (SELECT n, s1 / n AS mu, s2, s3, s4 FROM raw),
      |cm AS (SELECT n,
      |    s2 / n - mu * mu AS m2,
      |    s3 / n - 3.0 * mu * s2 / n + 2.0 * mu * mu * mu AS m3,
      |    s4 / n - 4.0 * mu * s3 / n + 6.0 * mu * mu * s2 / n
      |      - 3.0 * mu * mu * mu * mu AS m4
      |  FROM m),
      |sk AS (SELECT n, m3 / pow(m2, 1.5) AS skew,
      |    m4 / (m2 * m2) - 3.0 AS kurt FROM cm)
      |SELECT n, round(skew, 4) AS skew, round(kurt, 4) AS kurt,
      |  round(n / 6.0 * (skew * skew + kurt * kurt / 4.0), 4) AS jb
      |FROM sk""".stripMargin

  /** Sample-ratio-mismatch guardrail — the chi-square (1 df) check on
    * a hash-based 50/50 experiment assignment that every A/B platform
    * runs before reading any metric (a biased randomizer invalidates
    * the whole experiment). Assignment = first md5 byte of the order
    * key, the q_split_assign convention; counts are exact integers and
    * the 3.841 critical value (α=0.05) flags the alarm. One map-side-
    * combined aggregate. */
  def qSrmCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cell = md5Hash($"o_orderkey".cast("string"), 2).cast("int")
    T.orders(spark, dir)
      .select(when(cell < 128, "a").otherwise("b").as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(when($"arm" === "a", 1L).otherwise(0L)).as("na"),
        sum(when($"arm" === "b", 1L).otherwise(0L)).as("nb"))
      .select($"n", $"na", $"nb",
        round(($"na" - $"n" / lit(2.0)) * ($"na" - $"n" / lit(2.0)) / ($"n" / lit(2.0)) +
          ($"nb" - $"n" / lit(2.0)) * ($"nb" - $"n" / lit(2.0)) / ($"n" / lit(2.0)), 4)
          .as("chi2"))
      .withColumn("srm_alarm", $"chi2" > 3.8415)
  }

  val qSrmCheckSql: String =
    """WITH arm AS (SELECT CASE WHEN
      |    (strpos('0123456789abcdef', substr(md5(o_orderkey::VARCHAR), 1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(md5(o_orderkey::VARCHAR), 2, 1)) - 1)
      |    < 128 THEN 'a' ELSE 'b' END AS arm FROM orders),
      |c AS (SELECT count(*)::BIGINT AS n,
      |    sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END)::BIGINT AS na,
      |    sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END)::BIGINT AS nb
      |  FROM arm)
      |SELECT n, na, nb,
      |  round((na - n / 2.0) * (na - n / 2.0) / (n / 2.0) +
      |    (nb - n / 2.0) * (nb - n / 2.0) / (n / 2.0), 4) AS chi2,
      |  round((na - n / 2.0) * (na - n / 2.0) / (n / 2.0) +
      |    (nb - n / 2.0) * (nb - n / 2.0) / (n / 2.0), 4) > 3.8415 AS srm_alarm
      |FROM c""".stripMargin

  /** A/B power analysis — the pre-experiment sample-size calculator
    * (α=0.05 two-sided, power=0.8) for a 2% minimum detectable effect
    * on order value: n/arm = 2σ²(z_{α/2}+z_β)²/δ². Variance comes from
    * the exact decimal cents moments cast to double once; the answer
    * is the required per-arm n next to the CURRENT per-arm n so the
    * readout is an actionable go/no-go. */
  def qPowerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val za = 1.959963985
    val zb = 0.8416212336
    T.orders(spark, dir)
      .select(round($"o_totalprice" * 100).cast(d38).as("c"))
      .agg(count(lit(1)).as("n"), sum($"c").as("s1"), sum($"c" * $"c").as("s2"))
      .select($"n",
        (($"n" * $"s2" - $"s1" * $"s1").cast("double") /
          ($"n".cast("double") * $"n")).as("var_c"),
        ($"s1".cast("double") / $"n").as("mean_c"))
      .select($"n", round(sqrt($"var_c") / 100.0, 2).as("sigma"),
        round($"mean_c" / 100.0, 2).as("mean"),
        lit(2.0).as("mde_pct"),
        ceil(lit(2.0) * $"var_c" * lit((za + zb) * (za + zb)) /
          (lit(0.02) * $"mean_c" * (lit(0.02) * $"mean_c"))).cast("long")
          .as("n_required_per_arm"))
      .withColumn("powered", ($"n" / 2).cast("long") >= $"n_required_per_arm")
  }

  val qPowerAnalysisSql: String =
    """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS HUGEINT) AS c FROM orders),
      |m AS (SELECT count(*)::BIGINT AS n, sum(c) AS s1, sum(c * c) AS s2 FROM c),
      |v AS (SELECT n,
      |    (n * s2 - s1 * s1)::DOUBLE / (n::DOUBLE * n) AS var_c,
      |    s1::DOUBLE / n AS mean_c FROM m)
      |SELECT n, round(sqrt(var_c) / 100.0, 2) AS sigma,
      |  round(mean_c / 100.0, 2) AS mean, 2.0 AS mde_pct,
      |  CAST(ceil(2.0 * var_c * 7.848879737078008 /
      |    ((0.02 * mean_c) * (0.02 * mean_c))) AS BIGINT) AS n_required_per_arm,
      |  (n // 2) >= CAST(ceil(2.0 * var_c * 7.848879737078008 /
      |    ((0.02 * mean_c) * (0.02 * mean_c))) AS BIGINT) AS powered
      |FROM v""".stripMargin

  /** Group-sequential A/B monitoring — the peeking-safe companion to
    * [[qAbTest]]'s fixed-horizon read: per day, the CUMULATIVE pooled
    * two-proportion z between the user_id%2 arms next to an
    * O'Brien-Fleming-SHAPED boundary z(t) = 1.96/√t (t = information
    * fraction, normalized so the final look sits at 1.96). The shape is
    * the audit's point — early looks demand overwhelming evidence,
    * late looks converge to the fixed-horizon cut; a production
    * deployment re-scales the constant by Lan-DeMets alpha spending
    * for its actual look schedule (daily looks at C=1.96 spend more
    * than 0.05 overall — documented, not hidden). Facts reduce to the
    * per-(day, arm) grain in one hash aggregate; cumulative sums ride
    * an arm-keyed window over O(days) rows; the final-look total is a
    * 1-row broadcast. Every z input is an exact integer count, so the
    * doubles agree bit-for-bit across engines.
    *
    * Sparse-day robustness: the two arms meet through a FULL OUTER
    * join with last-value carry-forward of the cumulative counts (a
    * day where only one arm has events keeps the other arm's running
    * totals instead of vanishing from the look schedule); looks before
    * either arm's first event are dropped (no test exists yet), and z
    * is NULL — not NaN/Inf — at a degenerate look where the pooled
    * p-hat is 0 or 1 (the pooled-variance denominator is 0 there).
    * The carry-forward window is partitionless but runs over the
    * O(days) look grid, never fact rows. */
  def qSequentialTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = T.events(spark, dir)
      .select(($"user_id" % 2).as("arm"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("succ"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy($"day", $"arm")
      .agg(count(lit(1)).as("n"), sum($"succ").as("x"))
    val w = Window.partitionBy($"arm").orderBy($"day")
    val cum = daily.select($"day", $"arm",
      sum($"n").over(w).as("cn"), sum($"x").over(w).as("cx"))
    val a = cum.filter($"arm" === 0)
      .select($"day", $"cn".as("na0"), $"cx".as("xa0"))
    val b = cum.filter($"arm" === 1)
      .select($"day".as("day_b"), $"cn".as("nb0"), $"cx".as("xb0"))
    val wSpine = Window.orderBy($"day") // O(days) look grid, bounded
      .rowsBetween(Window.unboundedPreceding, 0)
    val wide = a.join(b, $"day" === $"day_b", "full_outer")
      .select(coalesce($"day", $"day_b").as("day"),
        $"na0", $"xa0", $"nb0", $"xb0")
      .select($"day",
        last($"na0", ignoreNulls = true).over(wSpine).as("na"),
        last($"xa0", ignoreNulls = true).over(wSpine).as("xa"),
        last($"nb0", ignoreNulls = true).over(wSpine).as("nb"),
        last($"xb0", ignoreNulls = true).over(wSpine).as("xb"))
      .filter($"na".isNotNull && $"nb".isNotNull)
      .ckpt()
    val tot = wide.agg(max($"na" + $"nb").as("ntot"))
    val p = ($"xa" + $"xb").cast("double") / ($"na" + $"nb")
    val zv = when($"xa" + $"xb" === 0 || $"xa" + $"xb" === $"na" + $"nb",
      lit(null).cast("double")).otherwise(
      ($"xa".cast("double") / $"na" - $"xb".cast("double") / $"nb") /
        sqrt(p * (lit(1.0) - p) * (lit(1.0) / $"na" + lit(1.0) / $"nb")))
    val frac = ($"na" + $"nb").cast("double") / $"ntot"
    wide.crossJoin(broadcast(tot))
      .select($"day", ($"na" + $"nb").as("n"), round(zv, 4).as("z"),
        // 6dp, not 4: info_frac is an exact multiple of 1/ntot, which at
        // round fixture sizes can sit ON a 4dp half boundary (60025/1e5 =
        // 0.60025) where HALF_UP and binary-double rounding disagree; the
        // 6dp grid is never within double error of a boundary for these
        // ratios
        round(frac, 6).as("info_frac"),
        round(lit(1.96) / sqrt(frac), 4).as("obf_bound"),
        (abs(zv) > lit(1.96) / sqrt(frac)).as("crossed"))
      .orderBy($"day")
  }

  val qSequentialTestSql: String =
    """WITH e AS (SELECT user_id % 2 AS arm, (event_type = 'purchase')::INT AS succ,
      |    (epoch_ns(ts) // 1000 // 86400000000)::BIGINT AS day FROM events),
      |daily AS (SELECT day, arm, count(*) AS n, CAST(sum(succ) AS BIGINT) AS x
      |  FROM e GROUP BY 1, 2),
      |cum AS (SELECT day, arm,
      |    sum(n) OVER (PARTITION BY arm ORDER BY day) AS cn,
      |    sum(x) OVER (PARTITION BY arm ORDER BY day) AS cx
      |  FROM daily),
      |wide0 AS (SELECT coalesce(a.day, b.day) AS day,
      |    a.cn AS na0, a.cx AS xa0, b.cn AS nb0, b.cx AS xb0
      |  FROM (SELECT * FROM cum WHERE arm = 0) a
      |  FULL JOIN (SELECT * FROM cum WHERE arm = 1) b ON a.day = b.day),
      |ff AS (SELECT day,
      |    last_value(na0 IGNORE NULLS) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS na,
      |    last_value(xa0 IGNORE NULLS) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xa,
      |    last_value(nb0 IGNORE NULLS) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nb,
      |    last_value(xb0 IGNORE NULLS) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xb
      |  FROM wide0),
      |wide AS (SELECT * FROM ff WHERE na IS NOT NULL AND nb IS NOT NULL),
      |tot AS (SELECT max(na + nb) AS ntot FROM wide),
      |z AS (SELECT day, na, xa, nb, xb,
      |    CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN NULL
      |    ELSE (xa::DOUBLE / na - xb::DOUBLE / nb) /
      |      sqrt(((xa + xb)::DOUBLE / (na + nb)) * (1.0 - (xa + xb)::DOUBLE / (na + nb))
      |           * (1.0 / na + 1.0 / nb)) END AS zval,
      |    (na + nb)::DOUBLE / ntot AS frac
      |  FROM wide, tot)
      |SELECT day, CAST(na + nb AS BIGINT) AS n, round(zval, 4) AS z,
      |  round(frac, 6) AS info_frac,
      |  round(1.96 / sqrt(frac), 4) AS obf_bound,
      |  (abs(zval) > 1.96 / sqrt(frac)) AS crossed
      |FROM z ORDER BY day""".stripMargin

  /** Bradley-Terry MM fit on one row: 3 simultaneous-update Hunter
    * (2004) iterations p_i <- W_i / Σ_{j≠i} n_ij/(p_i+p_j) over the
    * K-bounded collected win matrix, normalized to a probability
    * simplex. Deterministic: sources iterate in sorted order, sums
    * accumulate left-to-right, so the result is reproducible; the
    * oracle's hash-aggregate sums differ only in accumulation order
    * and the 5-dp display rounding absorbs it (the
    * [[graft.ops.Mining]] markovAbsorb convention). */
  private val btFit = udf { (entries: Seq[org.apache.spark.sql.Row]) =>
    val wins = entries.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2).toDouble).toMap
    val srcs = entries.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val wTot = srcs.map(s =>
      s -> wins.collect { case ((a, _), w) if a == s => w }.sum).toMap
    val games = (for (a <- srcs; b <- srcs if a != b) yield (a, b) ->
      (wins.getOrElse((a, b), 0.0) + wins.getOrElse((b, a), 0.0))).toMap
    var p = srcs.map(_ => 1.0)
    for (_ <- 1 to 3) {
      p = srcs.zipWithIndex.map { case (a, i) =>
        val denom = srcs.zipWithIndex.collect {
          case (b, j) if b != a && games((a, b)) > 0 => games((a, b)) / (p(i) + p(j))
        }.sum
        if (denom > 0) wTot(a) / denom else 0.0
      }
    }
    val tot = p.sum
    srcs.zip(p.map(_ / tot))
  }

  /** Bradley-Terry preference strengths over the document sources —
    * the pairwise-preference statistic an RLHF/eval pipeline reads
    * when "which source is better" arrives as comparisons rather than
    * absolute scores. Directed win counts come from token-length
    * dominance: wins(a, b) = #{(doc_a, doc_b) : tok_a > tok_b} (ties
    * dropped, the standard BT convention), computed WITHOUT any
    * doc×doc product — facts reduce to the (source × token-count)
    * histogram in ONE hash aggregate (≤ |grid|·K rows), and the win
    * matrix is histogram-pair arithmetic on that bounded relation
    * (≤ |grid|²·K² comparisons, corpus-independent). The K×K matrix
    * then reduces to ONE row and three MM iterations evaluate in a
    * single deterministic expression ([[btFit]] — the
    * q_attribution_markov discipline: a data-independent-size chain
    * never pays per-stage scheduling). Oracle unrolls the identical
    * three iterations as K²-bounded joins; rank is computed on the
    * ROUNDED strength with a source tiebreak so ordering is
    * engine-stable. */
  def qBradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = T.documents(spark, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"source", $"t").agg(count(lit(1)).as("c"))
      .ckpt()
    val hb = h.select($"source".as("b_src"), $"t".as("b_t"), $"c".as("b_c"))
    val wmat = h.join(hb, $"t" > $"b_t" && $"source" =!= $"b_src")
      .groupBy($"source".as("a"), $"b_src".as("b"))
      .agg(sum($"c" * $"b_c").as("w"))
      .ckpt()
    val n = wmat.select($"a", $"b", $"w")
      .unionByName(wmat.select($"b".as("a"), $"a".as("b"), $"w"))
      .groupBy($"a", $"b").agg(sum($"w").as("nij"))
    val wt = wmat.groupBy($"a".as("src")).agg(sum($"w").as("wins"))
    val games = n.groupBy($"a".as("src")).agg(sum($"nij").as("games"))
    val strengths = wmat
      .agg(collect_list(struct($"a", $"b", $"w")).as("m"))
      .select(explode(btFit($"m")).as("sp"))
      .select($"sp._1".as("src"), $"sp._2".as("p"))
    // round-14 advice: a source whose every pairwise comparison is a
    // tie never enters wmat, so it would silently vanish from the
    // output. Left-joining the fit back to the DISTINCT source list
    // keeps the output enumerating every competitor — excluded ones
    // carry strength 0, wins 0, games 0 (the simplex still sums to 1
    // over the sources that actually competed).
    val allSrc = T.documents(spark, dir).select($"source").distinct()
    val wRank = Window.orderBy(desc("strength"), asc("source")) // K rows
    allSrc
      .join(strengths.withColumnRenamed("src", "source"), Seq("source"), "left")
      .join(wt.withColumnRenamed("src", "source"), Seq("source"), "left")
      .join(games.withColumnRenamed("src", "source"), Seq("source"), "left")
      .select($"source", coalesce($"wins", lit(0L)).as("wins"),
        coalesce($"games", lit(0L)).as("games"),
        round(coalesce($"p", lit(0.0)), 5).as("strength"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .orderBy($"rank")
  }

  val qBradleyTerrySql: String = {
    def it(prev: String): String =
      s"""SELECT n.a AS src, any_value(coalesce(wt.wins, 0)) /
         |    sum(n.nij::DOUBLE / (pa.p + pb.p)) AS p
         |  FROM n JOIN $prev pa ON pa.src = n.a JOIN $prev pb ON pb.src = n.b
         |  LEFT JOIN wt ON wt.src = n.a GROUP BY n.a""".stripMargin
    s"""WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
       |  FROM documents),
       |h AS (SELECT source, t, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
       |wmat AS (SELECT a.source AS a, b.source AS b, CAST(sum(a.c * b.c) AS BIGINT) AS w
       |  FROM h a JOIN h b ON a.t > b.t AND a.source <> b.source GROUP BY 1, 2),
       |n AS (SELECT a, b, CAST(sum(w) AS BIGINT) AS nij FROM (
       |  SELECT a, b, w FROM wmat
       |  UNION ALL SELECT b AS a, a AS b, w FROM wmat) GROUP BY 1, 2),
       |wt AS (SELECT a AS src, CAST(sum(w) AS BIGINT) AS wins FROM wmat GROUP BY 1),
       |games AS (SELECT a AS src, CAST(sum(nij) AS BIGINT) AS games FROM n GROUP BY 1),
       |p0 AS (SELECT DISTINCT a AS src, 1.0::DOUBLE AS p FROM n),
       |p1 AS (${it("p0")}),
       |p2 AS (${it("p1")}),
       |p3 AS (${it("p2")}),
       |tot AS (SELECT sum(p) AS s FROM p3),
       |allsrc AS (SELECT DISTINCT source FROM documents)
       |SELECT allsrc.source, coalesce(wt.wins, 0) AS wins,
       |  coalesce(games.games, 0) AS games,
       |  round(coalesce(p3.p / tot.s, 0.0), 5) AS strength,
       |  row_number() OVER (ORDER BY round(coalesce(p3.p / tot.s, 0.0), 5) DESC,
       |    allsrc.source)::BIGINT AS rank
       |FROM allsrc LEFT JOIN p3 ON p3.src = allsrc.source
       |LEFT JOIN wt ON wt.src = allsrc.source
       |LEFT JOIN games ON games.src = allsrc.source, tot
       |ORDER BY rank""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_bradley_terry", qBradleyTerry, Some(qBradleyTerrySql)),
    QueryDef("q_sequential_test", qSequentialTest, Some(qSequentialTestSql)),
    QueryDef("q_srm_check", qSrmCheck, Some(qSrmCheckSql)),
    QueryDef("q_power_analysis", qPowerAnalysis, Some(qPowerAnalysisSql)),
    QueryDef("q_jarque_bera", qJarqueBera, Some(qJarqueBeraSql)),
    QueryDef("q_mcnemar", qMcNemar, Some(qMcNemarSql)),
    QueryDef("q_fleiss_kappa", qFleissKappa, Some(qFleissKappaSql)),
    QueryDef("q_anova_f", qAnovaF, Some(qAnovaFSql)),
    QueryDef("q_kruskal_wallis", qKruskalWallis, Some(qKruskalWallisSql)),
    QueryDef("q_levene", qLevene, Some(qLeveneSql)),
    QueryDef("q_cramers_v", qCramersV, Some(qCramersVSql)),
    QueryDef("q_cooks_distance", qCooksDistance, Some(qCooksDistanceSql)),
    QueryDef("q_cohen_kappa", qCohenKappa, Some(qCohenKappaSql)),
    QueryDef("q_conformal_threshold", qConformalThreshold, Some(qConformalThresholdSql)),
    QueryDef("q_partial_corr", qPartialCorr, Some(qPartialCorrSql)),
    QueryDef("q_cronbach_alpha", qCronbachAlpha, Some(qCronbachAlphaSql)),
    QueryDef("q_gini_stump", qGiniStump, Some(qGiniStumpSql)),
    QueryDef("q_psi_drift", qPsiDrift, Some(qPsiDriftSql)),
    QueryDef("q_simpson_check", qSimpsonCheck, Some(qSimpsonCheckSql)),
    QueryDef("q_mann_whitney", qMannWhitney, Some(qMannWhitneySql)),
    QueryDef("q_welch_ttest", qWelchTtest, Some(qWelchTtestSql)),
    QueryDef("q_fdr_bh", qFdrBh, Some(qFdrBhSql)),
    QueryDef("q_spearman", qSpearman, Some(qSpearmanSql)),
    QueryDef("q_theil_sen", qTheilSen, Some(qTheilSenSql)),
    QueryDef("q_cross_corr", qCrossCorr, Some(qCrossCorrSql)))
}
