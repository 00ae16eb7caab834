package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PII detection / redaction operator family for LLM-data pipelines
  * (north-star scope, SURVEY.md §2 Tier B): the safety-scrubbing pass
  * a training corpus goes through before tokenization — find and mask
  * email addresses, phone numbers, and IP addresses in free text.
  *
  * The detectors are plain regular expressions written to the
  * RE2-compatible subset (no backreferences, no lookaround) so the
  * DuckDB oracles run the byte-identical patterns. Both the counting
  * (`regexp_extract_all`) and the masking (`regexp_replace`) are
  * codegen'd per-row projections: the scrub pass over a 100 TB corpus
  * is embarrassingly parallel with zero shuffles, and the stats query
  * is one map-side-combined aggregation keyed on a low-cardinality
  * column.
  *
  * The text fixtures are deliberately punctuation-free, so the
  * oracle-checked queries synthesize a contact line per `customer` row
  * from fixture columns — identically in Spark and DuckDB — and then
  * exercise the scrub operator on it; the operator itself takes any
  * string column.
  */
object Safety extends QueryFamily {

  /** RE2- and java.util.regex-compatible detector patterns. */
  val EmailPat = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
  val IpPat = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val PhonePat = "\\d{3}-\\d{4}"

  /** Mask every email / IP / phone occurrence in `text`. Email first
    * (its local part may contain digits and dots that the other
    * patterns could nibble at), then IP (dotted digits), then phone
    * (a bare digit run that matches inside neither placeholder). */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailPat), lit("[EMAIL]")),
        lit(IpPat), lit("[IP]")),
      lit(PhonePat), lit("[PHONE]"))

  /** Number of matches of `pat` in `text`, as a long. */
  def piiCount(text: Column, pat: String): Column =
    size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")

  /** One synthetic contact line per customer, derived only from
    * fixture columns so the DuckDB twin builds the identical string:
    * always an email; a phone for every third key; an IP for every
    * second key. */
  private def contactLine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    T.customer(spark, dir).select(
      $"c_custkey",
      $"c_mktsegment",
      concat(
        $"c_name", lit(" of segment "), $"c_mktsegment", lit(" writes from "),
        lower(regexp_replace($"c_name", lit("#"), lit("."))), lit("@example.com"),
        when($"c_custkey" % 3 === 0,
          concat(lit(" calls 555-"),
            lpad(($"c_custkey" % 10000).cast("string"), 4, "0"))).otherwise(""),
        when($"c_custkey" % 2 === 0,
          concat(lit(" connects via 10."), $"c_nationkey".cast("string"),
            lit(".0."), ($"c_custkey" % 256).cast("string"))).otherwise(""))
        .as("contact"))
  }

  /** Shared DuckDB twin of [[contactLine]]. Concatenation operators sit
    * at line ends: this string is interpolated into query SQL that gets
    * its own `stripMargin`, which would eat the first `|` of any line
    * starting with `||`. */
  private val contactSql: String =
    """SELECT c_custkey, c_mktsegment,
      | c_name || ' of segment ' || c_mktsegment || ' writes from ' ||
      | lower(replace(c_name, '#', '.')) || '@example.com' ||
      | CASE WHEN c_custkey % 3 = 0
      |      THEN ' calls 555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END ||
      | CASE WHEN c_custkey % 2 = 0
      |      THEN ' connects via 10.' || CAST(c_nationkey AS VARCHAR) ||
      |           '.0.' || CAST(c_custkey % 256 AS VARCHAR)
      |      ELSE '' END AS contact
      |FROM customer""".stripMargin

  /** Per-row scrub: masked text plus per-category match counts. A pure
    * projection — no shuffle at any scale. */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    contactLine(spark, dir).select(
      $"c_custkey",
      piiCount($"contact", EmailPat).as("n_email"),
      piiCount($"contact", PhonePat).as("n_phone"),
      piiCount($"contact", IpPat).as("n_ip"),
      scrub($"contact").as("clean"))
      .orderBy($"c_custkey")
  }

  val qPiiScrubSql: String =
    s"""WITH base AS ($contactSql)
       |SELECT c_custkey,
       | CAST(len(regexp_extract_all(contact, '$EmailPat')) AS BIGINT) AS n_email,
       | CAST(len(regexp_extract_all(contact, '$PhonePat')) AS BIGINT) AS n_phone,
       | CAST(len(regexp_extract_all(contact, '$IpPat')) AS BIGINT) AS n_ip,
       | regexp_replace(regexp_replace(regexp_replace(contact,
       |   '$EmailPat', '[EMAIL]', 'g'), '$IpPat', '[IP]', 'g'),
       |   '$PhonePat', '[PHONE]', 'g') AS clean
       |FROM base ORDER BY c_custkey""".stripMargin

  /** Corpus-level PII exposure report by segment: detector totals and
    * the share of rows carrying more than the baseline email. One
    * hash aggregation on a 5-value key; partial aggregation does the
    * heavy lifting map-side. */
  def qPiiStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    contactLine(spark, dir).select(
      $"c_mktsegment",
      piiCount($"contact", EmailPat).as("e"),
      piiCount($"contact", PhonePat).as("p"),
      piiCount($"contact", IpPat).as("i"))
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("rows"),
        sum($"e").as("emails"),
        sum($"p").as("phones"),
        sum($"i").as("ips"),
        round(avg(when($"p" + $"i" > 0, 1.0).otherwise(0.0)), 4).as("exposed_frac"))
      .orderBy($"c_mktsegment")
  }

  val qPiiStatsSql: String =
    s"""WITH base AS ($contactSql),
       |x AS (SELECT c_mktsegment,
       |  CAST(len(regexp_extract_all(contact, '$EmailPat')) AS BIGINT) AS e,
       |  CAST(len(regexp_extract_all(contact, '$PhonePat')) AS BIGINT) AS p,
       |  CAST(len(regexp_extract_all(contact, '$IpPat')) AS BIGINT) AS i
       |  FROM base)
       |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS rows,
       | CAST(sum(e) AS BIGINT) AS emails, CAST(sum(p) AS BIGINT) AS phones,
       | CAST(sum(i) AS BIGINT) AS ips,
       | round(avg(CASE WHEN p + i > 0 THEN 1.0 ELSE 0.0 END), 4) AS exposed_frac
       |FROM x GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** k-anonymity audit over the documents corpus: treat (lang, source,
    * length decade) as the quasi-identifier tuple and report, per
    * equivalence-class size band, how many classes and documents sit
    * there — plus the re-identification-risk classes (size < k=5)
    * surfaced by the smallest band. This is the release-safety
    * companion to the PII scrub: masking direct identifiers does
    * nothing if a metadata combination is unique enough to single a
    * document out. ONE hash aggregate on the quasi-identifier key then
    * a k²-bounded re-aggregation on the size band — no window, no
    * skew; at 100 TB the class table is |lang|×|source|×|buckets|,
    * thousands of rows. */
  def qKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = T.documents(spark, dir)
      .groupBy(col("lang"), col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
    classes
      .groupBy(
        when(col("n_docs") < 5, lit("1:at_risk(<5)"))
          .when(col("n_docs") < 50, lit("2:small(5-49)"))
          .otherwise(lit("3:anonymous(50+)")).as("band"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("n_docs")).as("n_docs"),
        min(col("n_docs")).as("min_class"),
        max(col("n_docs")).as("max_class"))
      .orderBy(col("band"))
  }

  val qKAnonymitySql: String =
    """WITH classes AS (
      |  SELECT lang, source, (n_chars // 100)::BIGINT AS len_bucket,
      |    count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT CASE WHEN n_docs < 5 THEN '1:at_risk(<5)'
      |            WHEN n_docs < 50 THEN '2:small(5-49)'
      |            ELSE '3:anonymous(50+)' END AS band,
      |  count(*) AS n_classes, sum(n_docs)::BIGINT AS n_docs,
      |  min(n_docs) AS min_class, max(n_docs) AS max_class
      |FROM classes GROUP BY 1 ORDER BY band""".stripMargin

  /** l-diversity audit — k-anonymity's companion: a quasi-identifier
    * class can be large (k-anonymous) yet still leak if every member
    * shares the same sensitive value. Here the quasi-identifiers are
    * (source, length bucket) and the sensitive attribute is the
    * document language: l = distinct languages within the class.
    * Classes band by l exactly as [[qKAnonymity]] bands by k, so the
    * two audits read as one report. Shape: one (qid)-keyed
    * count-distinct aggregate then an O(|classes|) banding aggregate
    * — two shuffles total, both on real keys. */
  def qLDiversity(spark: SparkSession, dir: String): DataFrame = {
    val classes = T.documents(spark, dir)
      .groupBy(col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_bucket"))
      .agg(countDistinct(col("lang")).as("l"),
        count(lit(1)).as("n_docs"))
    classes
      .groupBy(
        when(col("l") < 2, lit("1:exposed(l=1)"))
          .when(col("l") < 5, lit("2:low(2-4)"))
          .otherwise(lit("3:diverse(5+)")).as("band"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("n_docs")).as("n_docs"),
        min(col("l")).as("min_l"),
        max(col("l")).as("max_l"))
      .orderBy(col("band"))
  }

  val qLDiversitySql: String =
    """WITH classes AS (
      |  SELECT source, (n_chars // 100)::BIGINT AS len_bucket,
      |    count(DISTINCT lang) AS l, count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2)
      |SELECT CASE WHEN l < 2 THEN '1:exposed(l=1)'
      |            WHEN l < 5 THEN '2:low(2-4)'
      |            ELSE '3:diverse(5+)' END AS band,
      |  count(*) AS n_classes, sum(n_docs)::BIGINT AS n_docs,
      |  min(l) AS min_l, max(l) AS max_l
      |FROM classes GROUP BY 1 ORDER BY band""".stripMargin

  /** Differentially-private-mechanism histogram release: per-language
    * doc counts with Laplace(1/ε) noise, ε = 1 (count queries have
    * sensitivity 1). The noise is the textbook inverse-CDF transform
    * −(1/ε)·sign(u−½)·ln(1−2|u−½|) of a uniform u — here derived
    * deterministically from the md5 of the cell name (the repo's
    * content-hash discipline) so the release is reproducible and
    * cross-engine testable; a production release would swap u for a
    * cryptographic draw, changing NOTHING about the plan. The noisy
    * count is resolved before release (rounded, floored at 0) per
    * standard post-processing. One hash aggregate; the noise is a
    * zero-shuffle projection over the |cells|-row result. */
  /** Right-to-erasure (GDPR-style) delete-cascade impact plan: given a
    * deletion list of customers, count the rows each downstream table
    * loses — customers directly, orders via custkey, lineitem via the
    * affected orders' keys, events via user id. This is the dry-run a
    * compliance pipeline prints before a destructive delete. The
    * delete list broadcasts everywhere; lineitem's second hop is a
    * broadcast SEMI join on the affected order KEYS (never the rows),
    * so each fact table is touched by exactly one column-pruned scan
    * plus one conditional aggregate. */
  def qDeleteCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val del = T.customer(spark, dir)
      .filter($"c_custkey" % 97 === 0)
      .select($"c_custkey".as("k"))
      .cache()
    def impact(name: String, df: DataFrame, hit: Column): DataFrame =
      df.agg(lit(name).as("table_name"), count(lit(1)).as("rows_total"),
        sum(when(hit, 1L).otherwise(0L)).as("rows_affected"))
    val cust = impact("customer", T.customer(spark, dir)
      .join(broadcast(del), $"c_custkey" === $"k", "left"), $"k".isNotNull)
    val ords = T.orders(spark, dir)
      .join(broadcast(del), $"o_custkey" === $"k", "left").cache()
    val oImp = impact("orders", ords, $"k".isNotNull)
    val delOrders = ords.filter($"k".isNotNull).select($"o_orderkey".as("ok"))
    val li = impact("lineitem", T.lineitem(spark, dir)
      .join(broadcast(delOrders), $"l_orderkey" === $"ok", "left"), $"ok".isNotNull)
    val ev = impact("events", T.events(spark, dir)
      .join(broadcast(del), $"user_id" === $"k", "left"), $"k".isNotNull)
    cust.unionByName(oImp).unionByName(li).unionByName(ev)
      .select($"table_name", $"rows_total", $"rows_affected",
        round($"rows_affected" * 100.0 / $"rows_total", 4).as("pct"))
      .orderBy($"table_name")
  }

  val qDeleteCascadeSql: String =
    """WITH del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
      |c AS (SELECT 'customer' AS table_name, count(*)::BIGINT AS rows_total,
      |    sum(CASE WHEN c_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END)::BIGINT
      |      AS rows_affected FROM customer),
      |o AS (SELECT 'orders', count(*)::BIGINT,
      |    sum(CASE WHEN o_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END)::BIGINT
      |  FROM orders),
      |dok AS (SELECT o_orderkey AS ok FROM orders
      |  WHERE o_custkey IN (SELECT k FROM del)),
      |l AS (SELECT 'lineitem', count(*)::BIGINT,
      |    sum(CASE WHEN l_orderkey IN (SELECT ok FROM dok) THEN 1 ELSE 0 END)::BIGINT
      |  FROM lineitem),
      |e AS (SELECT 'events', count(*)::BIGINT,
      |    sum(CASE WHEN user_id IN (SELECT k FROM del) THEN 1 ELSE 0 END)::BIGINT
      |  FROM events),
      |u AS (SELECT * FROM c UNION ALL SELECT * FROM o
      |  UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e)
      |SELECT table_name, rows_total, rows_affected,
      |  round(rows_affected * 100.0 / rows_total, 4) AS pct
      |FROM u ORDER BY table_name""".stripMargin

  /** DP median release via the EXPONENTIAL MECHANISM over the $1k
    * value grid: utility u(b) = −|cumrank(b) − n/2| (sensitivity 1),
    * score = ε·u/2 + Gumbel — the Gumbel-max trick samples the
    * exponential mechanism exactly. Like the family's other releases
    * the noise source is deterministic (inverse-CDF Gumbel from a
    * per-bucket md5 hash) so both engines release the same bucket —
    * swap in a seeded RNG for production ε-DP. The whole mechanism is
    * grid-sized: one fact aggregate, one cumulative window over ≤600
    * cells, one argmax. Reports the released bucket next to the true
    * median bucket and the realized rank error. */
  def qDpQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val eps = 0.01
    val grid = T.orders(spark, dir)
      .groupBy(floor($"o_totalprice" / 1000).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .cache()
    val uni = md5Unit($"v".cast("string"))
    val scored = cum
      .withColumn("u", -abs($"cum" - $"n" / lit(2.0)))
      .withColumn("g", -log(-log(uni)))
      .withColumn("score", round(lit(eps / 2) * $"u" + $"g", 6))
    val dp = scored.orderBy(desc("score"), asc("v")).limit(1)
      .select($"v".as("v_dp"), $"n",
        abs($"cum" - $"n" / lit(2.0)).as("rank_err"))
    val truth = cum.filter($"cum" >= ceil($"n" / lit(2.0)))
      .agg(min($"v").as("v_true"))
    dp.crossJoin(broadcast(truth))
      .select($"n", $"v_dp", $"v_true", round($"rank_err", 1).as("rank_err"),
        lit(eps).as("epsilon"))
  }

  val qDpQuantileSql: String =
    """WITH grid AS (SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS v,
      |    count(*)::BIGINT AS c FROM orders GROUP BY 1),
      |cum AS MATERIALIZED (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum,
      |    sum(c) OVER () AS n FROM grid),
      |sc AS (SELECT v, cum, n,
      |    round(0.005 * (-abs(cum - n / 2.0)) +
      |      (-ln(-ln((list_sum(list_transform(range(1, 13),
      |         i -> (strpos('0123456789abcdef', substr(md5(v::VARCHAR), i, 1)) - 1)
      |           * pow(16.0, 12 - i)))::BIGINT)::DOUBLE / pow(16.0, 12)))), 6)
      |      AS score
      |  FROM cum),
      |dp AS (SELECT v AS v_dp, n, abs(cum - n / 2.0) AS rank_err
      |  FROM sc ORDER BY score DESC, v LIMIT 1),
      |tr AS (SELECT min(v) AS v_true FROM cum WHERE cum >= ceil(n / 2.0))
      |SELECT n::BIGINT AS n, v_dp, v_true, round(rank_err, 1) AS rank_err,
      |  0.01 AS epsilon
      |FROM dp, tr""".stripMargin

  def qDpHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eps = 1.0
    val u = md5Unit($"lang")
    T.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .withColumn("u", u)
      .withColumn("noise",
        -lit(1.0 / eps) * signum($"u" - 0.5) * log(lit(1.0) - lit(2.0) * abs($"u" - 0.5)))
      .select($"lang",
        greatest(round($"n" + $"noise", 0), lit(0.0)).cast("long").as("noisy_n"),
        round($"noise", 4).as("noise"), lit(eps).as("epsilon"))
      .orderBy($"lang")
  }

  val qDpHistogramSql: String =
    """WITH g AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |u AS (SELECT lang, n,
      |    (list_sum(list_transform(range(1, 13),
      |       i -> (strpos('0123456789abcdef', substr(md5(lang), i, 1)) - 1) * pow(16.0, 12 - i)))::BIGINT)::DOUBLE
      |      / pow(16.0, 12) AS u
      |  FROM g),
      |z AS (SELECT lang, n,
      |    -1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
      |  FROM u)
      |SELECT lang, CAST(greatest(round(n + noise, 0), 0.0) AS BIGINT) AS noisy_n,
      |  round(noise, 4) AS noise, 1.0 AS epsilon
      |FROM z ORDER BY lang""".stripMargin

  /** t-closeness audit — the third leg of the anonymity trio
    * ([[qKAnonymity]] k, [[qLDiversity]] l): a class can be large AND
    * diverse yet still leak if its sensitive-value DISTRIBUTION skews
    * far from the corpus (an attacker learns the skew). t here is
    * total variation distance (EMD under the discrete metric, the
    * standard choice for categorical attributes) between each
    * (source, length-bucket) class's language distribution and the
    * global one, including the mass of languages absent from the
    * class: TVD = ½(Σ_present |p_c − p| + (1 − Σ_present p)). Shape:
    * one (qid, lang)-keyed cell aggregate; class totals and global
    * shares DERIVE from the cells (no rescan); the deviation rollup
    * is class-keyed. Banding thresholds sit at 0.25/0.55, away from
    * round rational values a tiny fixture could land on exactly. */
  def qTCloseness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = T.documents(spark, dir)
      .groupBy($"source", floor($"n_chars" / 100).cast("long").as("len_bucket"), $"lang")
      .agg(count(lit(1)).as("n"))
      .cache() // class totals + global shares + deviations all read the cells
    val cls = cells.groupBy($"source", $"len_bucket").agg(sum($"n").as("cn"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val gl = cells.groupBy($"lang").agg(sum($"n").as("gn"))
      .withColumn("p", $"gn".cast("double") / sum($"gn").over(all))
      .select($"lang", $"p")
    val t = cells
      .join(cls, Seq("source", "len_bucket"))
      .join(broadcast(gl), Seq("lang"))
      .groupBy($"source", $"len_bucket")
      .agg(max($"cn").as("cn"),
        (lit(0.5) * (sum(abs($"n".cast("double") / $"cn" - $"p"))
          + (lit(1.0) - sum($"p")))).as("tvd"))
    t.groupBy(
        when($"tvd" < 0.25, lit("1:close(<0.25)"))
          .when($"tvd" < 0.55, lit("2:moderate(0.25-0.55)"))
          .otherwise(lit("3:far(0.55+)")).as("band"))
      .agg(count(lit(1)).as("n_classes"),
        sum($"cn").as("n_docs"),
        round(min($"tvd"), 4).as("min_t"),
        round(max($"tvd"), 4).as("max_t"))
      .orderBy($"band")
  }

  val qTClosenessSql: String =
    """WITH cells AS (SELECT source, (n_chars // 100)::BIGINT AS len_bucket, lang,
      |    count(*)::BIGINT AS n FROM documents GROUP BY 1, 2, 3),
      |cls AS (SELECT source, len_bucket, sum(n)::BIGINT AS cn FROM cells GROUP BY 1, 2),
      |gl AS (SELECT lang, sum(n)::DOUBLE / sum(sum(n)) OVER () AS p FROM cells GROUP BY lang),
      |j AS (SELECT c.source, c.len_bucket, cls.cn,
      |    abs(c.n::DOUBLE / cls.cn - g.p) AS dev, g.p
      |  FROM cells c JOIN cls USING (source, len_bucket) JOIN gl g USING (lang)),
      |t AS (SELECT source, len_bucket, max(cn) AS cn,
      |    0.5 * (sum(dev) + (1.0 - sum(p))) AS tvd
      |  FROM j GROUP BY 1, 2)
      |SELECT CASE WHEN tvd < 0.25 THEN '1:close(<0.25)'
      |            WHEN tvd < 0.55 THEN '2:moderate(0.25-0.55)'
      |            ELSE '3:far(0.55+)' END AS band,
      |  count(*)::BIGINT AS n_classes, sum(cn)::BIGINT AS n_docs,
      |  round(min(tvd), 4) AS min_t, round(max(tvd), 4) AS max_t
      |FROM t GROUP BY 1 ORDER BY band""".stripMargin

  /** DP mean release per language: the Laplace-mechanism mean of
    * document length with explicit clipping — contributions are capped
    * at C = 500 chars (bounding per-record sensitivity), the clipped
    * SUM gets Laplace(C/(ε/2)) noise, the COUNT gets Laplace(1/(ε/2))
    * (ε split across the two queries by basic composition), and the
    * released mean is their post-processed ratio. The mechanism the
    * ε-budgeted corpus-statistics reports (average doc length by
    * slice) actually ship. Noise draws are deterministic inverse-CDF
    * Laplace from per-(cell, query) content hashes — reproducible and
    * cross-engine testable, swap for a cryptographic draw in
    * production (plan unchanged; same contract as [[qDpHistogram]]).
    * One hash aggregate; noise is a zero-shuffle projection over
    * |langs| rows. */
  def qDpMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eps = 1.0
    val cap = 500.0
    def u(salt: String) = md5Unit(concat($"lang", lit(salt)))
    def lap(uu: Column, scale: Double): Column =
      -lit(scale) * signum(uu - 0.5) * log(lit(1.0) - lit(2.0) * abs(uu - 0.5))
    T.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(least($"n_chars".cast("double"), lit(cap))).as("csum"),
        round(avg(least($"n_chars".cast("double"), lit(cap))), 4).as("clipped_mean"))
      .withColumn("noisy_sum", $"csum" + lap(u("|sum"), cap / (eps / 2)))
      .withColumn("noisy_n",
        greatest($"n" + lap(u("|cnt"), 1.0 / (eps / 2)), lit(1.0)))
      .select($"lang", $"n", $"clipped_mean",
        round($"noisy_sum" / $"noisy_n", 4).as("dp_mean"),
        lit(eps).as("epsilon"), lit(cap).as("clip"))
      .orderBy($"lang")
  }

  val qDpMeanSql: String =
    """WITH g AS (SELECT lang, count(*)::BIGINT AS n,
      |    sum(least(n_chars::DOUBLE, 500.0)) AS csum,
      |    round(avg(least(n_chars::DOUBLE, 500.0)), 4) AS clipped_mean
      |  FROM documents GROUP BY lang),
      |u AS (SELECT lang, n, csum, clipped_mean,
      |    (list_sum(list_transform(range(1, 13),
      |       i -> (strpos('0123456789abcdef', substr(md5(lang || '|sum'), i, 1)) - 1) * pow(16.0, 12 - i)))::BIGINT)::DOUBLE
      |      / pow(16.0, 12) AS us,
      |    (list_sum(list_transform(range(1, 13),
      |       i -> (strpos('0123456789abcdef', substr(md5(lang || '|cnt'), i, 1)) - 1) * pow(16.0, 12 - i)))::BIGINT)::DOUBLE
      |      / pow(16.0, 12) AS uc
      |  FROM g),
      |z AS (SELECT lang, n, clipped_mean,
      |    csum + (-1000.0 * sign(us - 0.5) * ln(1.0 - 2.0 * abs(us - 0.5))) AS noisy_sum,
      |    greatest(n + (-2.0 * sign(uc - 0.5) * ln(1.0 - 2.0 * abs(uc - 0.5))), 1.0) AS noisy_n
      |  FROM u)
      |SELECT lang, n, clipped_mean, round(noisy_sum / noisy_n, 4) AS dp_mean,
      |  1.0 AS epsilon, 500.0 AS clip
      |FROM z ORDER BY lang""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_delete_cascade", qDeleteCascade, Some(qDeleteCascadeSql)),
    QueryDef("q_dp_quantile", qDpQuantile, Some(qDpQuantileSql)),
    QueryDef("q_dp_mean", qDpMean, Some(qDpMeanSql)),
    QueryDef("q_t_closeness", qTCloseness, Some(qTClosenessSql)),
    QueryDef("q_dp_histogram", qDpHistogram, Some(qDpHistogramSql)),
    QueryDef("q_pii_scrub", qPiiScrub, Some(qPiiScrubSql)),
    QueryDef("q_pii_stats", qPiiStats, Some(qPiiStatsSql)),
    QueryDef("q_k_anonymity", qKAnonymity, Some(qKAnonymitySql)),
    QueryDef("q_l_diversity", qLDiversity, Some(qLDiversitySql)))
}
