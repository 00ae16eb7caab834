package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operator family for LLM-data pipelines (north-star
  * scope, SURVEY.md §2 Tier B): the filtering / auditing / packing
  * steps that sit between raw exported text and a training mix —
  * repetition filtering (the Gopher-style quality gate), benchmark
  * decontamination (n-gram overlap against a held-out eval set),
  * source-mixing weights (temperature-scaled sampling), and sequence
  * packing (concat-and-chunk into fixed context windows).
  *
  * Every query is keyed on doc_id or source, so each one is a
  * constant number of hash shuffles regardless of corpus size; the
  * packing prefix-sum is two-level (per-bucket scan + tiny bucket
  * offset table) instead of a single-partition global window.
  */
object Curation extends QueryFamily {

  /** Curation waterfall: the per-gate survivor funnel a pipeline owner
    * reads before shipping a corpus — total docs, then survivors after
    * each gate IN ORDER: length (≥ 20 tokens), quality (≥ 0.3, the
    * q_clean_corpus formula), repetition (the Gopher gates of
    * [[qRepetition]]), near-dup (MinHash-LSH survivors). Every gate is
    * a per-doc boolean from machinery that is itself oracle-verified;
    * the waterfall is ONE aggregate over the AND-chained flags plus a
    * zero-shuffle unpivot — at 100 TB it costs one pass over the gate
    * relations, and the stage deltas say which gate is eating the
    * corpus. */
  def qCurationWaterfall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = T.documents(spark, dir)
      .withColumn("w", split($"text", " "))
      .withColumn("n_stop", Text.stopCount($"w"))
      .withColumn("quality", Text.qualityScore($"w", $"n_stop"))
      .select($"doc_id",
        (size($"w") >= 20).as("g_len"),
        ($"quality" >= 0.3).as("g_quality"))
    val rep = qRepetition(spark, dir).select($"doc_id", $"keep".as("g_rep"))
    val survivors = Dedup.qDedupSurvivors(spark, dir)
      .select($"doc_id", lit(true).as("g_dedup"))
    val flags = base.join(rep, Seq("doc_id"))
      .join(survivors, Seq("doc_id"), "left")
      .select($"g_len", $"g_quality", $"g_rep",
        coalesce($"g_dedup", lit(false)).as("g_dedup"))
    val wide = flags.agg(
      count(lit(1)).as("s0"),
      sum(when($"g_len", 1L).otherwise(0L)).as("s1"),
      sum(when($"g_len" && $"g_quality", 1L).otherwise(0L)).as("s2"),
      sum(when($"g_len" && $"g_quality" && $"g_rep", 1L).otherwise(0L)).as("s3"),
      sum(when($"g_len" && $"g_quality" && $"g_rep" && $"g_dedup", 1L).otherwise(0L))
        .as("s4"))
    wide.select(explode(map(
        lit("0_total"), $"s0", lit("1_length"), $"s1",
        lit("2_quality"), $"s2", lit("3_repetition"), $"s3",
        lit("4_neardup"), $"s4")).as(Seq("stage", "n_surviving")))
      .orderBy($"stage")
  }

  val qCurationWaterfallSql: String = {
    val mh = Dedup.minhashCteShared
    s"""$mh,
       |gates AS (
       |  SELECT d.doc_id,
       |    len(w) >= 20 AS g_len,
       |    least(1.0, len(w) / 100.0) *
       |      (1.0 - len(list_filter(w, x ->
       |        list_contains(['the','a','of','and','to','in'], x)))::DOUBLE
       |        / len(w)) >= 0.3 AS g_quality
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d),
       |rep AS (
       |  SELECT t.doc_id,
       |    (b.top_frac <= 0.1 AND t.dup_ratio <= 0.7) AS g_rep
       |  FROM (SELECT doc_id,
       |          round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 4) AS dup_ratio
       |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)) t
       |  JOIN (SELECT doc_id, round(max(n)::DOUBLE / sum(n), 4) AS top_frac
       |        FROM (SELECT doc_id, g, count(*) AS n FROM (
       |          SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |            i -> w[i] || ' ' || w[i+1])) AS g
       |          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |          GROUP BY 1, 2)
       |        GROUP BY doc_id) b USING (doc_id)),
       |surv AS (SELECT doc_id, doc_id NOT IN
       |    (SELECT b_id FROM verified WHERE j >= 0.8) AS g_dedup
       |  FROM documents),
       |flags AS (
       |  SELECT g_len, g_quality, g_rep, g_dedup
       |  FROM gates JOIN rep USING (doc_id) JOIN surv USING (doc_id)),
       |wide AS (
       |  SELECT count(*) AS s0,
       |    sum(CASE WHEN g_len THEN 1 ELSE 0 END)::BIGINT AS s1,
       |    sum(CASE WHEN g_len AND g_quality THEN 1 ELSE 0 END)::BIGINT AS s2,
       |    sum(CASE WHEN g_len AND g_quality AND g_rep
       |        THEN 1 ELSE 0 END)::BIGINT AS s3,
       |    sum(CASE WHEN g_len AND g_quality AND g_rep AND g_dedup
       |        THEN 1 ELSE 0 END)::BIGINT AS s4
       |  FROM flags)
       |SELECT '0_total' AS stage, s0 AS n_surviving FROM wide
       |UNION ALL SELECT '1_length', s1 FROM wide
       |UNION ALL SELECT '2_quality', s2 FROM wide
       |UNION ALL SELECT '3_repetition', s3 FROM wide
       |UNION ALL SELECT '4_neardup', s4 FROM wide
       |ORDER BY stage""".stripMargin
  }

  /** Gopher-style repetition signals per document: duplicate-token
    * ratio (1 - distinct/total) and the most-frequent-bigram fraction,
    * with the keep/drop flag a real pipeline would gate on. Token
    * stats come from codegen'd array functions (no explode); bigram
    * stats explode once and aggregate twice on doc_id — map-side
    * partial combine keeps the shuffle at |doc x distinct-bigram|. */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = T.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("w"))
    val tokStats = toks.select(
      $"doc_id",
      size($"w").as("n_tokens"),
      round(lit(1.0) - size(array_distinct($"w")).cast("double") / size($"w"), 4)
        .as("dup_token_ratio"))
    val bigrams = toks
      .select($"doc_id", $"w", explode(wordStarts(2)).as("i"))
      .select($"doc_id", wordWindow(2, "i").as("g"))
    val bigramStats = bigrams
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("n"))
      .groupBy($"doc_id")
      .agg(round(max($"n").cast("double") / sum($"n"), 4).as("top_bigram_frac"))
    tokStats.join(bigramStats, Seq("doc_id"))
      .withColumn("keep",
        $"top_bigram_frac" <= 0.1 && $"dup_token_ratio" <= 0.7)
      .select($"doc_id", $"n_tokens", $"dup_token_ratio", $"top_bigram_frac", $"keep")
      .orderBy($"doc_id")
  }

  val qRepetitionSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |ts AS (SELECT doc_id, len(w) AS n_tokens,
      |  round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 4) AS dup_token_ratio FROM tok),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM tok),
      |bgc AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY doc_id, g),
      |bstat AS (SELECT doc_id, round(max(n)::DOUBLE / sum(n), 4) AS top_bigram_frac
      |  FROM bgc GROUP BY doc_id)
      |SELECT ts.doc_id, ts.n_tokens, ts.dup_token_ratio, b.top_bigram_frac,
      |  (b.top_bigram_frac <= 0.1 AND ts.dup_token_ratio <= 0.7) AS keep
      |FROM ts JOIN bstat b ON b.doc_id = ts.doc_id
      |ORDER BY ts.doc_id""".stripMargin

  /** Benchmark decontamination: training docs sharing any 8-gram with
    * the held-out eval split (here: doc_id % 20 == 0 stands in for the
    * benchmark set). The eval gram set is |eval docs| x grams — tiny
    * relative to the corpus — so the overlap probe is a semi-join the
    * optimizer turns into a broadcast while eval stays small; per-doc
    * hit counts then aggregate on doc_id. The standard 13-gram overlap
    * check at 100 TB is exactly this plan with a bigger left side. */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Dedup.shingleRows(spark, dir, 8)
    val evalGrams = grams.filter($"doc_id" % 20 === 0).select($"sh").distinct()
    val train = grams.filter($"doc_id" % 20 =!= 0)
    val perDoc = train.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = train.join(evalGrams, Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
    hits.join(perDoc, Seq("doc_id"))
      .select($"doc_id", $"n_grams", $"n_hits",
        round($"n_hits".cast("double") / $"n_grams", 4).as("hit_rate"))
      .orderBy($"doc_id")
  }

  val qContaminationSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 6), i ->
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |    w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS g
      |  FROM tok WHERE len(w) >= 8),
      |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
      |tr AS (SELECT doc_id, g FROM sh WHERE doc_id % 20 <> 0),
      |per_doc AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id),
      |hits AS (SELECT doc_id, count(*) AS n_hits FROM tr
      |  WHERE g IN (SELECT g FROM ev) GROUP BY doc_id)
      |SELECT h.doc_id, p.n_grams, h.n_hits,
      |  round(h.n_hits::DOUBLE / p.n_grams, 4) AS hit_rate
      |FROM hits h JOIN per_doc p ON p.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin

  /** Bloom-sketch decontamination: the same overlap statistics as
    * [[qContamination]], but the eval gram set is aggregated into a
    * 2 MB Bloom bitset ([[graft.functions.Aggregators.BloomSketch]],
    * m=2^24, k=5) and the corpus is probed with the codegen'd
    * [[graft.functions.BloomMightContain]] after a 1-row broadcast —
    * at 100 TB the probe is a zero-shuffle map over the corpus instead
    * of a corpus x eval join. m is sized so the false-positive odds at
    * the tested scales are ~1e-11 per probe; the oracle is the EXACT
    * overlap (same SQL as q_contamination), which doubles as a
    * false-positive audit — any FP breaks the hash equality. */
  def qContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Dedup.shingleRows(spark, dir, 8)
    val bloom = grams.filter($"doc_id" % 20 === 0)
      .select(xxhash64($"sh").as("h"))
      .agg(graft.functions.Aggregators.bloomSketch(1 << 24, 5)($"h").as("bloom"))
    val train = grams.filter($"doc_id" % 20 =!= 0)
    val perDoc = train.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = train.crossJoin(broadcast(bloom))
      .filter(graft.functions.F.bloomMightContain($"bloom", xxhash64($"sh"), 5))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
    hits.join(perDoc, Seq("doc_id"))
      .select($"doc_id", $"n_grams", $"n_hits",
        round($"n_hits".cast("double") / $"n_grams", 4).as("hit_rate"))
      .orderBy($"doc_id")
  }

  /** Bloom-filter false-positive-rate audit with a DATA-ADAPTIVE
    * filter size — the measurement that turns "we use a Bloom filter
    * for decontamination" into an engineering budget. A k=5 Bloom over
    * the eval 8-gram set is SIMULATED exactly in relational form (the
    * bit array is the distinct set of md5-derived bucket indices, so
    * both engines agree bit-for-bit), with m = 4·|eval grams| buckets —
    * sized from the data like the scaled-LSH depth, so the measured
    * FPR stays in the same regime at any SF instead of saturating.
    * Membership tests join bucket hits against the bucket set (shuffle
    * join on the bucket key — the set is m-bounded but grows with the
    * eval corpus, so it is NOT broadcast); a train gram false-positives
    * iff all 5 buckets hit AND it is not a true member. Reports
    * measured FPR next to the analytic (1−(1−1/m)^{kn})^k. */
  def qBloomFprAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Dedup.shingleRows(spark, dir, 8)
    val evalG = grams.filter($"doc_id" % 20 === 0).select($"sh").distinct().cache()
    val trainG = grams.filter($"doc_id" % 20 =!= 0).select($"sh").distinct().cache()
    val mRow = evalG.agg(count(lit(1)).as("n_eval"))
      .select($"n_eval", ($"n_eval" * 4).as("m"))
    val hash = md5Hash(concat($"gx", lit("#"), $"ix".cast("string")), 12)
    val ks = explode(expr("sequence(1, 5)")).as("ix")
    val bits = evalG.crossJoin(broadcast(mRow))
      .select($"sh".as("gx"), $"m", ks)
      .select((hash % $"m").as("b"))
      .distinct()
    val probes = trainG.crossJoin(broadcast(mRow))
      .select($"sh".as("gx"), $"m", ks)
      .select($"gx", (hash % $"m").as("b"))
    val flagged = probes.join(bits, Seq("b"), "left_semi")
      .groupBy($"gx").agg(count(lit(1)).as("nb"))
      .filter($"nb" === 5)
      .select($"gx".as("sh"))
    val fp = flagged.join(evalG, Seq("sh"), "left_anti")
      .agg(count(lit(1)).as("n_fp"))
    val nonMembers = trainG.join(evalG, Seq("sh"), "left_anti")
      .agg(count(lit(1)).as("n_nonmember"))
    fp.crossJoin(broadcast(nonMembers)).crossJoin(broadcast(mRow))
      .select($"n_eval", $"n_nonmember", $"n_fp",
        round($"n_fp".cast("double") / $"n_nonmember", 6).as("fpr_measured"),
        round(pow(lit(1.0) - pow(lit(1.0) - lit(1.0) / $"m",
          lit(5.0) * $"n_eval"), 5.0), 6).as("fpr_theory"))
  }

  val qBloomFprAuditSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 6), i ->
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |    w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS g
      |  FROM tok WHERE len(w) >= 8),
      |ev AS MATERIALIZED (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
      |tr AS MATERIALIZED (SELECT DISTINCT g FROM sh WHERE doc_id % 20 <> 0),
      |mr AS (SELECT count(*)::BIGINT AS n_eval, count(*)::BIGINT * 4 AS m FROM ev),
      |bits AS MATERIALIZED (SELECT DISTINCT
      |    (list_sum(list_transform(range(1, 13),
      |       i -> (strpos('0123456789abcdef',
      |               substr(md5(g || '#' || ix::VARCHAR), i, 1)) - 1)
      |            * pow(16.0, 12 - i)))::BIGINT) % m AS b
      |  FROM ev, mr, (SELECT unnest(range(1, 6)) AS ix)),
      |probes AS (SELECT g,
      |    (list_sum(list_transform(range(1, 13),
      |       i -> (strpos('0123456789abcdef',
      |               substr(md5(g || '#' || ix::VARCHAR), i, 1)) - 1)
      |            * pow(16.0, 12 - i)))::BIGINT) % m AS b
      |  FROM tr, mr, (SELECT unnest(range(1, 6)) AS ix)),
      |flagged AS (SELECT g FROM probes WHERE b IN (SELECT b FROM bits)
      |  GROUP BY g HAVING count(*) = 5),
      |fp AS (SELECT count(*)::BIGINT AS n_fp FROM flagged
      |  WHERE g NOT IN (SELECT g FROM ev)),
      |nm AS (SELECT count(*)::BIGINT AS n_nonmember FROM tr
      |  WHERE g NOT IN (SELECT g FROM ev))
      |SELECT n_eval, n_nonmember, n_fp,
      |  round(n_fp::DOUBLE / n_nonmember, 6) AS fpr_measured,
      |  round(pow(1.0 - pow(1.0 - 1.0 / m, 5.0 * n_eval), 5.0), 6) AS fpr_theory
      |FROM fp, nm, mr""".stripMargin

  /** Source-mixing weights: per-source token share and the
    * temperature-scaled (tau = 0.7) sampling weight used to rebalance
    * a training mix toward low-resource sources. One hash aggregate to
    * |sources| rows; the share/weight normalizations run over that tiny
    * aggregate, so the windows-without-partition are |sources|-row
    * post-processing, not a data-scale scan. */
  def qDomainMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy()
    val bySource = T.documents(spark, dir)
      .select($"source", split($"text", " ").as("tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum(size($"tok")).as("n_tokens"))
    bySource
      .withColumn("share", $"n_tokens".cast("double") / sum($"n_tokens").over(w))
      .withColumn("weight_t07", pow($"share", 0.7) / sum(pow($"share", 0.7)).over(w))
      .select($"source", $"n_docs", $"n_tokens",
        round($"share", 4).as("share"), round($"weight_t07", 4).as("weight_t07"))
      .orderBy($"source")
  }

  val qDomainMixSql: String =
    """WITH s AS (SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |sh AS (SELECT source, n_docs, n_tokens,
      |  n_tokens::DOUBLE / sum(n_tokens) OVER () AS share FROM s)
      |SELECT source, n_docs, n_tokens, round(share, 4) AS share,
      |  round(pow(share, 0.7) / sum(pow(share, 0.7)) OVER (), 4) AS weight_t07
      |FROM sh ORDER BY source""".stripMargin

  /** Sequence packing: documents concatenated in doc_id order and
    * chunked into fixed 512-token context windows (the pretraining
    * packing layout); per doc, the first window it lands in and how
    * many windows it spans. The prefix sum is two-level so it scales:
    * a per-bucket running sum (buckets of 100 contiguous doc_ids —
    * windows partition by bucket), plus a bucket-offset table that is
    * |corpus|/100 rows, cumulated in its own tiny window and joined
    * back. No single-partition scan over the full corpus anywhere. */
  def qSeqPacking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wInBucket = Window.partitionBy($"bucket").orderBy($"doc_id")
    val toks = T.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).as("n_tokens"),
        ($"doc_id" / 100).cast("long").as("bucket"))
    val inBucket = toks.withColumn("cum_in_bucket",
      sum($"n_tokens").over(wInBucket))
    // bucket count is SF-scaled (|docs|/100), so the bucket-offset
    // prefix sum is itself distributed via Skew.globalCumSum — a
    // three-level scan whose only partitionless window is the 32-row
    // per-range-partition totals inside globalCumSum
    val offsets = Skew.globalCumSum(
        toks.groupBy($"bucket").agg(sum($"n_tokens").as("bucket_total")),
        Seq(asc("bucket")), $"bucket_total", cumName = "cum_total")
      .withColumn("offset", $"cum_total" - $"bucket_total")
      .select($"bucket", $"offset")
    inBucket.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", $"offset" + $"cum_in_bucket")
      .select($"doc_id", $"n_tokens",
        expr("(cum - n_tokens) div 512").as("window_start"),
        expr("((cum - 1) div 512) - ((cum - n_tokens) div 512) + 1").as("n_windows"))
      .orderBy($"doc_id")
  }

  val qSeqPackingSql: String =
    """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
      |SELECT doc_id, n_tokens, (cum - n_tokens) // 512 AS window_start,
      |  ((cum - 1) // 512) - ((cum - n_tokens) // 512) + 1 AS n_windows
      |FROM c ORDER BY doc_id""".stripMargin

  /** Packing-waste audit for DOCUMENT-ISOLATED packing — the regime
    * [[qSeqPacking]]'s concat-and-chunk deliberately avoids: when no
    * document may cross a context-window boundary (instruction tuning,
    * anything attention-mask-separated), short docs leave padding, and
    * the padding fraction per candidate context length is the number
    * every pipeline sizes before training. Greedy NEXT-FIT in doc_id
    * order, bucket-aligned: windows never span the 100-doc buckets
    * (the same sharding contract as qSeqPacking's two-level prefix
    * sum — at 100 TB you pack per shard anyway), which is exactly
    * what makes the sequential fill-state fold embarrassingly
    * parallel: one bounded fold per bucket. The per-bucket doc list
    * is collect_list-bounded BY CONSTRUCTION (<= 100 docs), the fold
    * is a bounded HOF over it, and the three context lengths reuse
    * ONE ckpt'd bucket-list relation. Oracle: the identical fold via
    * DuckDB list_reduce. Output per L: windows used, pad tokens,
    * pad fraction, and the concat-and-chunk lower bound — the
    * utilization gap isolation costs.
    *
    * APPROXIMATION (documented per the audit-every-approximation
    * rule): a doc longer than the context length is TRUNCATED to L via
    * least(n_tok, L) — the overflow tokens are dropped from the
    * packing and from the waste accounting (both engines, same rule),
    * so `wins x L = packed_tokens + pad` holds over the TRUNCATED
    * token mass, not the raw corpus total. [[qPackWasteFfd]] makes the
    * dropped mass explicit (its `trunc_tokens` column measures exactly
    * this, per ctx_len, over the same buckets); a pipeline that must
    * not lose long-doc tokens chunks them first ([[qSeqPacking]]'s
    * concat-and-chunk regime). */
  def qPackWaste(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"),
        ($"doc_id" / 100).cast("long").as("bucket"))
    val lists = docs.groupBy($"bucket")
      .agg(array_sort(collect_list(struct($"doc_id", $"n_tok"))).as("ds"))
      .ckpt()
    val totals = docs.agg(sum($"n_tok").as("total_tokens"))
    def fold(l: Long): DataFrame =
      lists.select(expr(
        s"""aggregate(
           |  ds,
           |  named_struct('fill', CAST(0 AS BIGINT), 'wins', CAST(0 AS BIGINT), 'pad', CAST(0 AS BIGINT)),
           |  (acc, d) -> CASE
           |    WHEN acc.fill + least(d.n_tok, ${l}L) <= ${l}L THEN named_struct(
           |      'fill', acc.fill + least(d.n_tok, ${l}L), 'wins', acc.wins, 'pad', acc.pad)
           |    ELSE named_struct('fill', least(d.n_tok, ${l}L),
           |      'wins', acc.wins + 1L, 'pad', acc.pad + ${l}L - acc.fill) END,
           |  acc -> named_struct(
           |    'wins', acc.wins + IF(acc.fill > 0L, 1L, 0L),
           |    'pad', acc.pad + IF(acc.fill > 0L, ${l}L - acc.fill, 0L)))""".stripMargin).as("st"))
        .agg(sum($"st.wins").as("n_windows"), sum($"st.pad").as("pad_tokens"))
        .crossJoin(broadcast(totals))
        .select(lit(l).as("ctx_len"), $"n_windows", $"pad_tokens",
          round($"pad_tokens".cast("double") / ($"n_windows" * lit(l)), 4).as("pad_frac"),
          ceil($"total_tokens".cast("double") / lit(l)).cast("long").as("lb_windows"))
    fold(128L).unionByName(fold(256L)).unionByName(fold(512L)).orderBy($"ctx_len")
  }

  // NOT list_reduce: DuckDB 1.0.0 mis-executes a struct-state lambda
  // fold when the list column is built inside the same pipeline as a
  // parquet scan (fill/wins come out right, pad does not; the same
  // fold over the same list as a literal is correct). The recursive
  // CTE walks every (bucket, ctx_len) pair positionally — plain
  // scalar arithmetic, no lambda surface — at 100 steps per bucket.
  val qPackWasteSql: String =
    """WITH RECURSIVE d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    doc_id // 100 AS bucket FROM documents),
      |b AS MATERIALIZED (SELECT bucket, list(n_tok ORDER BY doc_id) AS ds FROM d GROUP BY bucket),
      |walk(bucket, l, i, fill, wins, pad) AS (
      |  SELECT bucket, l::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT
      |  FROM b, (VALUES (128), (256), (512)) ls(l)
      |  UNION ALL
      |  SELECT w.bucket, w.l, w.i + 1,
      |    CASE WHEN w.fill + least(b.ds[w.i + 1], w.l) <= w.l
      |         THEN w.fill + least(b.ds[w.i + 1], w.l)
      |         ELSE least(b.ds[w.i + 1], w.l) END,
      |    CASE WHEN w.fill + least(b.ds[w.i + 1], w.l) <= w.l
      |         THEN w.wins ELSE w.wins + 1 END,
      |    CASE WHEN w.fill + least(b.ds[w.i + 1], w.l) <= w.l
      |         THEN w.pad ELSE w.pad + w.l - w.fill END
      |  FROM walk w JOIN b ON b.bucket = w.bucket
      |  WHERE w.i < len(b.ds)),
      |fin AS (SELECT w.l, w.wins + CASE WHEN w.fill > 0 THEN 1 ELSE 0 END AS wins,
      |    w.pad + CASE WHEN w.fill > 0 THEN w.l - w.fill ELSE 0 END AS pad
      |  FROM walk w JOIN b ON b.bucket = w.bucket WHERE w.i = len(b.ds)),
      |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens FROM d)
      |SELECT l AS ctx_len, CAST(sum(wins) AS BIGINT) AS n_windows,
      |  CAST(sum(pad) AS BIGINT) AS pad_tokens,
      |  round(sum(pad)::DOUBLE / (sum(wins) * l), 4) AS pad_frac,
      |  CAST(ceil(any_value(tot.total_tokens)::DOUBLE / l) AS BIGINT) AS lb_windows
      |FROM fin, tot GROUP BY l ORDER BY ctx_len""".stripMargin

  /** First-fit-decreasing packing waste over the SAME 100-doc buckets
    * as [[qPackWaste]] — the standard offline upgrade over greedy
    * next-fit (sort docs by token count descending, place each into
    * the FIRST window it fits, open a new window only when none fits),
    * and the number that decides whether smarter packing is worth the
    * sort: waste(FFD) <= waste(next-fit) per context length
    * (CurationSpec pins it), and the delta is the saving. The fold
    * state is the open-bin fill array — bounded by <= 100 entries per
    * bucket BY CONSTRUCTION (a bucket holds <= 100 docs and every doc
    * opens at most one bin), so the nested first-fit probe is a
    * <= 100 x 100 bounded scan per bucket, embarrassingly parallel
    * across buckets exactly like next-fit.
    *
    * Truncation is EXPLICIT here (round-12 advice on [[qPackWaste]]):
    * docs longer than L pack their first L tokens and the overflow is
    * reported per context length in `trunc_tokens`, so exact token
    * conservation is assertable: n_windows x L = (total - trunc) +
    * pad. `lb_windows` is the isolation lower bound over the PACKED
    * mass, ceil((total - trunc) / L).
    *
    * Oracle: recursive CTE with a LIST-state first-fit walk (the same
    * discipline that dodged the DuckDB 1.0.0 list_reduce struct-state
    * bug in [[qPackWaste]] — per-step list_transform/list_position are
    * unaffected). */
  def qPackWasteFfd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"),
        ($"doc_id" / 100).cast("long").as("bucket"))
    // FFD order: token counts descending; waste depends only on the
    // sorted size multiset, so no doc-id tiebreak is needed
    val lists = docs.groupBy($"bucket")
      .agg(reverse(array_sort(collect_list($"n_tok"))).as("toks"))
      .ckpt()
    val totals = docs.agg(sum($"n_tok").as("total_tokens"))
    def fold(l: Long): DataFrame =
      lists.select(
        expr(
          s"""aggregate(
             |  toks,
             |  CAST(array() AS ARRAY<BIGINT>),
             |  (bins, d) -> CASE
             |    WHEN array_position(transform(bins,
             |           x -> x + least(d, ${l}L) <= ${l}L), true) > 0
             |    THEN transform(bins, (b, j) -> IF(
             |      j = array_position(transform(bins,
             |            x -> x + least(d, ${l}L) <= ${l}L), true) - 1,
             |      b + least(d, ${l}L), b))
             |    ELSE concat(bins, array(least(d, ${l}L))) END,
             |  bins -> named_struct(
             |    'wins', CAST(size(bins) AS BIGINT),
             |    'pad', CAST(size(bins) AS BIGINT) * ${l}L
             |      - aggregate(bins, CAST(0 AS BIGINT), (a, b) -> a + b)))""".stripMargin).as("st"),
        expr(s"""aggregate(toks, CAST(0 AS BIGINT),
                |  (a, t) -> a + greatest(t - ${l}L, CAST(0 AS BIGINT)))""".stripMargin).as("trunc"))
        .agg(sum($"st.wins").as("n_windows"), sum($"st.pad").as("pad_tokens"),
          sum($"trunc").as("trunc_tokens"))
        .crossJoin(broadcast(totals))
        .select(lit(l).as("ctx_len"), $"n_windows", $"pad_tokens",
          round($"pad_tokens".cast("double") / ($"n_windows" * lit(l)), 4).as("pad_frac"),
          $"trunc_tokens",
          ceil(($"total_tokens" - $"trunc_tokens").cast("double") / lit(l))
            .cast("long").as("lb_windows"))
    fold(128L).unionByName(fold(256L)).unionByName(fold(512L)).orderBy($"ctx_len")
  }

  // NOT list_transform/list_position over the recursive list state:
  // DuckDB 1.0.0 MIS-EXECUTES lambdas whose input is the recursive
  // working table's list column — measured: the state list grows
  // exponentially with corrupted (NULL-rendered) elements, so the
  // recursion never terminates (the same lambda over a literal list is
  // correct; sibling bug to the round-12 list_reduce find). The
  // first-fit index is a correlated scalar subquery over
  // unnest + generate_subscripts instead — no lambda surface. A
  // LATERAL join formulation silently yields zero recursive rows in
  // 1.0.0, so the subquery is repeated inline (4 sites).
  val qPackWasteFfdSql: String = {
    // the first-fit index under context length w.l for the i-th doc of
    // the bucket's desc-sorted token list (1-based; NULL = no fit)
    val tok = "least(b.ds[w.i + 1], w.l)"
    val idx = "(SELECT min(j) FROM (SELECT unnest(w.bins) AS fill, " +
      s"generate_subscripts(w.bins, 1) AS j) WHERE fill + $tok <= w.l)"
    s"""WITH RECURSIVE d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    doc_id // 100 AS bucket FROM documents),
       |b AS MATERIALIZED (SELECT bucket, list(n_tok ORDER BY n_tok DESC, doc_id) AS ds
       |  FROM d GROUP BY bucket),
       |walk(bucket, l, i, bins) AS (
       |  SELECT bucket, l::BIGINT, 0::BIGINT, CAST([] AS BIGINT[])
       |  FROM b, (VALUES (128), (256), (512)) ls(l)
       |  UNION ALL
       |  SELECT w.bucket, w.l, w.i + 1,
       |    CASE WHEN $idx IS NULL
       |      THEN list_append(w.bins, $tok)
       |      ELSE list_slice(w.bins, 1, $idx - 1)
       |           || [w.bins[$idx] + $tok]
       |           || list_slice(w.bins, $idx + 1, len(w.bins)) END
       |  FROM walk w JOIN b ON b.bucket = w.bucket
       |  WHERE w.i < len(b.ds)),
       |fin AS (SELECT w.l, CAST(len(w.bins) AS BIGINT) AS wins,
       |    len(w.bins) * w.l - coalesce(list_sum(w.bins), 0) AS pad
       |  FROM walk w JOIN b ON b.bucket = w.bucket WHERE w.i = len(b.ds)),
       |tr AS (SELECT l, CAST(sum(greatest(n_tok - l, 0)) AS BIGINT) AS trunc_tokens
       |  FROM d, (VALUES (128), (256), (512)) ls(l) GROUP BY l),
       |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens FROM d)
       |SELECT f.l AS ctx_len, CAST(sum(f.wins) AS BIGINT) AS n_windows,
       |  CAST(sum(f.pad) AS BIGINT) AS pad_tokens,
       |  round(sum(f.pad)::DOUBLE / (sum(f.wins) * f.l), 4) AS pad_frac,
       |  any_value(tr.trunc_tokens) AS trunc_tokens,
       |  CAST(ceil((any_value(tot.total_tokens) - any_value(tr.trunc_tokens))::DOUBLE / f.l)
       |    AS BIGINT) AS lb_windows
       |FROM fin f JOIN tr ON tr.l = f.l, tot
       |GROUP BY f.l ORDER BY ctx_len""".stripMargin
  }

  /** LOSSLESS chunk-then-pack — the twin that closes [[qPackWaste]]'s
    * documented truncation gap: docs longer than L are CHUNKED first
    * (split into floor(n_tok/L) full-L pieces plus the remainder —
    * [[qSeqPacking]]'s concat-and-chunk regime applied per document),
    * then greedy next-fit packs the chunk stream within the SAME
    * 100-doc buckets. Nothing is dropped, so exact conservation holds
    * over the RAW token mass: n_windows x L = total_tokens + pad
    * (`token_loss` is computed from that identity and must be 0 —
    * CurationSpec pins it at both fixtures, next to the waste
    * comparison against the truncating packers). Full-L chunks pack
    * perfectly (they close and fill whole windows); only remainder
    * chunks contribute pad, which is the price of losslessness the
    * comparison row makes visible. Same scale shape as qPackWaste:
    * chunking happens IN-ARRAY inside the per-bucket fold input
    * (flatten ∘ transform — no explode, no extra shuffle), the fold
    * is bounded by the bucket's chunk count (<= 100 + bucket_tokens/L),
    * and buckets are embarrassingly parallel. Oracle: the identical
    * walk as a recursive CTE over the pre-chunked lists (the
    * list_reduce-avoidance discipline of [[qPackWasteSql]]).
    *
    * SEEDED NON-VACUOUSLY (the Multimodal.seedThumbs discipline): the
    * fixture's docs top out under 100 tokens, so no natural doc ever
    * chunks at L ∈ {128, 256, 512} and the chunk branch would be dead
    * code in every differential. Eight deterministic synthetic docs at
    * doc_ids -1..-8 (token counts 95..1024, spanning sub-L, exactly-L,
    * and multi-chunk shapes) are appended IN BOTH ENGINES; they land
    * in bucket 0 (both engines' integer division truncates toward
    * zero) and interleave with the natural docs there, so the chunk
    * stream, the full-L fast path, and the remainder handling are all
    * exercised by the oracle-checked rows at every fixture. */
  def qPackChunked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = Seq(-8L -> 640L, -7L -> 256L, -6L -> 95L, -5L -> 1024L,
        -4L -> 777L, -3L -> 517L, -2L -> 300L, -1L -> 150L)
      .toDF("doc_id", "n_tok")
    val docs = T.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
      .unionByName(seeds)
      .select($"doc_id", $"n_tok", ($"doc_id" / 100).cast("long").as("bucket"))
    val lists = docs.groupBy($"bucket")
      .agg(array_sort(collect_list(struct($"doc_id", $"n_tok"))).as("ds"))
      .ckpt()
    val totals = docs.agg(sum($"n_tok").as("total_tokens"))
    def fold(l: Long): DataFrame =
      lists.select(expr(
        s"""aggregate(
           |  flatten(transform(ds, d -> CASE
           |    WHEN d.n_tok % ${l}L = 0L
           |    THEN array_repeat(${l}L, CAST(d.n_tok div ${l}L AS INT))
           |    ELSE concat(array_repeat(${l}L, CAST(d.n_tok div ${l}L AS INT)),
           |                array(d.n_tok % ${l}L)) END)),
           |  named_struct('fill', CAST(0 AS BIGINT), 'wins', CAST(0 AS BIGINT), 'pad', CAST(0 AS BIGINT)),
           |  (acc, c) -> CASE
           |    WHEN acc.fill + c <= ${l}L THEN named_struct(
           |      'fill', acc.fill + c, 'wins', acc.wins, 'pad', acc.pad)
           |    ELSE named_struct('fill', c,
           |      'wins', acc.wins + 1L, 'pad', acc.pad + ${l}L - acc.fill) END,
           |  acc -> named_struct(
           |    'wins', acc.wins + IF(acc.fill > 0L, 1L, 0L),
           |    'pad', acc.pad + IF(acc.fill > 0L, ${l}L - acc.fill, 0L)))""".stripMargin).as("st"))
        .agg(sum($"st.wins").as("n_windows"), sum($"st.pad").as("pad_tokens"))
        .crossJoin(broadcast(totals))
        .select(lit(l).as("ctx_len"), $"n_windows", $"pad_tokens",
          round($"pad_tokens".cast("double") / ($"n_windows" * lit(l)), 4).as("pad_frac"),
          $"total_tokens",
          ($"n_windows" * lit(l) - $"pad_tokens" - $"total_tokens").as("token_loss"),
          ceil($"total_tokens".cast("double") / lit(l)).cast("long").as("lb_windows"))
    fold(128L).unionByName(fold(256L)).unionByName(fold(512L)).orderBy($"ctx_len")
  }

  val qPackChunkedSql: String =
    """WITH RECURSIVE d AS (SELECT doc_id, n_tok, doc_id // 100 AS bucket FROM (
      |    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |    FROM documents
      |    UNION ALL
      |    SELECT doc_id::BIGINT, n_tok::BIGINT FROM (VALUES
      |      (-8, 640), (-7, 256), (-6, 95), (-5, 1024),
      |      (-4, 777), (-3, 517), (-2, 300), (-1, 150)) s(doc_id, n_tok))),
      |b AS (SELECT bucket, list(n_tok ORDER BY doc_id) AS ds FROM d GROUP BY bucket),
      |ch AS MATERIALIZED (SELECT bucket, l::BIGINT AS l,
      |    flatten(list_transform(ds, t -> CASE
      |      WHEN t % l = 0 THEN list_transform(range(t // l), x -> l::BIGINT)
      |      ELSE list_append(list_transform(range(t // l), x -> l::BIGINT), t % l)
      |      END)) AS cs
      |  FROM b, (VALUES (128), (256), (512)) ls(l)),
      |walk(bucket, l, i, fill, wins, pad) AS (
      |  SELECT bucket, l, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT FROM ch
      |  UNION ALL
      |  SELECT w.bucket, w.l, w.i + 1,
      |    CASE WHEN w.fill + c.cs[w.i + 1] <= w.l
      |         THEN w.fill + c.cs[w.i + 1] ELSE c.cs[w.i + 1] END,
      |    CASE WHEN w.fill + c.cs[w.i + 1] <= w.l THEN w.wins ELSE w.wins + 1 END,
      |    CASE WHEN w.fill + c.cs[w.i + 1] <= w.l THEN w.pad
      |         ELSE w.pad + w.l - w.fill END
      |  FROM walk w JOIN ch c ON c.bucket = w.bucket AND c.l = w.l
      |  WHERE w.i < len(c.cs)),
      |fin AS (SELECT w.l, w.wins + CASE WHEN w.fill > 0 THEN 1 ELSE 0 END AS wins,
      |    w.pad + CASE WHEN w.fill > 0 THEN w.l - w.fill ELSE 0 END AS pad
      |  FROM walk w JOIN ch c ON c.bucket = w.bucket AND c.l = w.l
      |  WHERE w.i = len(c.cs)),
      |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens FROM d)
      |SELECT l AS ctx_len, CAST(sum(wins) AS BIGINT) AS n_windows,
      |  CAST(sum(pad) AS BIGINT) AS pad_tokens,
      |  round(sum(pad)::DOUBLE / (sum(wins) * l), 4) AS pad_frac,
      |  any_value(tot.total_tokens) AS total_tokens,
      |  CAST(sum(wins) * l - sum(pad) - any_value(tot.total_tokens) AS BIGINT)
      |    AS token_loss,
      |  CAST(ceil(any_value(tot.total_tokens)::DOUBLE / l) AS BIGINT) AS lb_windows
      |FROM fin, tot GROUP BY l ORDER BY ctx_len""".stripMargin

  /** The content-hash split of a document with text `text`: its first
    * two md5 nibbles bucket into 256 cells, cells 0-229 train, 230-242
    * val, 243-255 test. [[qSplitAssign]] assigns it and
    * [[qSplitLeakage]] audits it, so both read this one rule. */
  private def contentSplit(text: Column): Column = {
    val cell = md5Hash(text, 2).cast("int")
    when(cell < 230, "train").when(cell < 243, "val").otherwise("test")
  }

  /** Deterministic train/val/test split assignment: the first two md5
    * nibbles of the document CONTENT (not the id — re-keyed corpora
    * keep their assignment) bucket into 256 cells, carved 90/5/5.
    * Content-hash splits are reproducible across engines, runs, and
    * cluster layouts, and docs duplicated across sources land in the
    * same split — no eval leakage through near-identical copies with
    * different ids. Zero-shuffle assignment; one aggregate for audit. */
  def qSplitAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    T.documents(spark, dir)
      .withColumn("split", contentSplit($"text"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"split")
  }

  val qSplitAssignSql: String =
    """WITH a AS (SELECT n_chars,
      |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
      |    + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS cell
      |  FROM documents)
      |SELECT CASE WHEN cell < 230 THEN 'train'
      |            WHEN cell < 243 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM a GROUP BY 1 ORDER BY split""".stripMargin

  /** Epoch/repeat-factor planning: turn [[qDomainMix]]'s temperature
    * weights into the actual sampling plan a training run executes —
    * for a token budget of 2x the corpus, each source's target token
    * count and the number of epochs (repeats) of that source it
    * implies. Upsampled sources (epochs > 1) are the ones the mix
    * asks to see more than once; a pipeline owner reads this before
    * committing a mix, because >4 epochs of a small domain is a
    * memorization risk no weight table makes visible on its own.
    * Shape: one per-source aggregate + two 1-row broadcast scalars
    * (corpus total, weight normalizer) — O(|sources|) rows end to
    * end, no SF-scaled shuffle beyond the token count itself. */
  def qEpochMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // localCheckpoint: the |sources|-row aggregate feeds the share
    // projection AND its own 1-row total — without it the corpus
    // token count re-runs per consumer
    val bySource = T.documents(spark, dir)
      .select($"source", size(split($"text", " ")).as("n_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .ckpt()
    val shares = bySource
      .crossJoin(broadcast(bySource.agg(sum($"n_tokens").cast("double").as("total"))))
      .withColumn("w", pow($"n_tokens" / $"total", 0.7))
      .ckpt()
    shares
      .crossJoin(broadcast(shares.agg(sum($"w").as("z"))))
      .withColumn("weight", $"w" / $"z")
      .withColumn("target_tokens", round($"weight" * 2.0d * $"total").cast("bigint"))
      .select($"source", $"n_docs", $"n_tokens",
        round($"weight", 4).as("weight_t07"),
        $"target_tokens",
        round($"weight" * 2.0d * $"total" / $"n_tokens", 4).as("epochs"),
        ($"target_tokens" > $"n_tokens").as("upsampled"))
      .orderBy($"source")
  }

  val qEpochMixSql: String =
    """WITH s AS (SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM s),
      |sh AS (SELECT s.*, t.total, pow(n_tokens / t.total, 0.7) AS w FROM s, t),
      |z AS (SELECT sum(w) AS z FROM sh),
      |m AS (SELECT sh.*, w / z.z AS weight,
      |  CAST(round(w / z.z * 2.0 * total) AS BIGINT) AS target_tokens FROM sh, z)
      |SELECT source, n_docs, n_tokens, round(weight, 4) AS weight_t07,
      |  target_tokens, round(weight * 2.0 * total / n_tokens, 4) AS epochs,
      |  target_tokens > n_tokens AS upsampled
      |FROM m ORDER BY source""".stripMargin

  /** Materialize [[qEpochMix]]'s plan into actual epoch copies — the
    * execution half the mix table only promises: every doc of source
    * s appears floor(epochs_s) times plus one more copy iff its
    * content-hash uniform falls under frac(epochs_s) (deterministic
    * stochastic rounding, so the expanded corpus hits the target
    * token count in expectation per doc and exactly per source up to
    * doc granularity — reproducible across engines, runs, and
    * cluster layouts). The Spark side REALLY expands (explode over
    * sequence(1, n_copies) — the relation a training run would
    * shuffle and pack), then audits per source: achieved vs target
    * tokens and the copy-count spread. The blow-up factor is bounded
    * by the mix budget (2x corpus tokens here), never by corpus
    * size; the per-source epoch table is a broadcast join against
    * the doc scan, so the whole thing is one pass + one audit
    * aggregate at any SF. */
  def qEpochExpand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.documents(spark, dir)
      .select($"source", $"text", size(split($"text", " ")).as("n_tok"))
    val bySource = docs.groupBy($"source").agg(sum($"n_tok").as("n_tokens")).ckpt()
    val shares = bySource
      .crossJoin(broadcast(bySource.agg(sum($"n_tokens").cast("double").as("total"))))
      .withColumn("w", pow($"n_tokens" / $"total", 0.7))
    val epochs = shares
      .crossJoin(broadcast(shares.agg(sum($"w").as("z"))))
      .withColumn("target_tokens", round($"w" / $"z" * 2.0d * $"total").cast("bigint"))
      .withColumn("e", $"target_tokens".cast("double") / $"n_tokens")
      .select($"source", $"target_tokens", $"e")
    val expanded = docs
      .join(broadcast(epochs), Seq("source"))
      .withColumn("u", md5Unit($"text"))
      .withColumn("n_copies",
        (floor($"e") + when($"u" < $"e" - floor($"e"), 1L).otherwise(0L)).cast("long"))
      .filter($"n_copies" >= 1)
      .select($"source", $"n_tok", $"n_copies", $"target_tokens",
        explode(sequence(lit(1L), $"n_copies")).as("copy"))
    expanded.groupBy($"source")
      .agg(count(lit(1)).as("n_rows"),
        sum($"n_tok").as("achieved_tokens"),
        max($"target_tokens").as("target_tokens"),
        max($"n_copies").as("max_copies"))
      .select($"source", $"n_rows", $"achieved_tokens", $"target_tokens",
        round($"achieved_tokens".cast("double") / $"target_tokens", 4).as("fill"),
        $"max_copies")
      .orderBy($"source")
  }

  val qEpochExpandSql: String =
    """WITH d AS (SELECT source, text, len(string_split(text, ' ')) AS n_tok FROM documents),
      |s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY source),
      |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM s),
      |sh AS (SELECT s.*, t.total, pow(n_tokens / t.total, 0.7) AS w FROM s, t),
      |z AS (SELECT sum(w) AS z FROM sh),
      |ep AS (SELECT source,
      |    CAST(round(w / z.z * 2.0 * total) AS BIGINT) AS target_tokens,
      |    CAST(round(w / z.z * 2.0 * total) AS BIGINT)::DOUBLE / n_tokens AS e
      |  FROM sh, z),
      |nc AS (SELECT d.source, d.n_tok, ep.target_tokens,
      |    (floor(ep.e) + CASE WHEN
      |       (list_sum(list_transform(range(1, 13),
      |          i -> (strpos('0123456789abcdef', substr(md5(d.text), i, 1)) - 1)
      |            * pow(16.0, 12 - i)))::BIGINT)::DOUBLE / pow(16.0, 12)
      |       < ep.e - floor(ep.e) THEN 1 ELSE 0 END)::BIGINT AS n_copies
      |  FROM d JOIN ep ON d.source = ep.source),
      |ex AS (SELECT source, n_tok, n_copies, target_tokens,
      |    unnest(range(1, n_copies + 1)) AS copy
      |  FROM nc WHERE n_copies >= 1)
      |SELECT source, count(*) AS n_rows,
      |  CAST(sum(n_tok) AS BIGINT) AS achieved_tokens,
      |  max(target_tokens) AS target_tokens,
      |  round(sum(n_tok)::DOUBLE / max(target_tokens), 4) AS fill,
      |  max(n_copies) AS max_copies
      |FROM ex GROUP BY source ORDER BY source""".stripMargin

  /** Importance resampling to a balanced mix: every source is capped
    * at the smallest source's token count by accepting each doc with
    * probability rate = floor_tokens / source_tokens, decided by a
    * uniform draw derived from the md5 of the document CONTENT — the
    * same deterministic-hash discipline as [[qSplitAssign]], so the
    * sample is reproducible across engines, runs, and cluster
    * layouts, and re-keyed duplicate docs get the same verdict. The
    * acceptance test is a zero-shuffle projection against a
    * broadcast |sources|-row rate table; the only SF-scaled shuffle
    * is the final per-source audit aggregate. At 100 TB this is the
    * standard shape for downsampling an over-represented crawl
    * domain without materializing a shuffled sample. */
  def qDomainResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.documents(spark, dir)
      .select($"source", $"text", size(split($"text", " ")).as("n_tok"))
    val bySource = docs.groupBy($"source").agg(sum($"n_tok").as("n_tokens"))
      .ckpt()
    val rates = bySource
      .crossJoin(broadcast(bySource.agg(min($"n_tokens").cast("double").as("floor_tokens"))))
      .withColumn("rate", $"floor_tokens" / $"n_tokens")
      .select($"source", $"rate")
    docs
      .withColumn("u", md5Unit($"text"))
      .join(broadcast(rates), Seq("source"))
      .where($"u" < $"rate")
      .groupBy($"source")
      .agg(round(max($"rate"), 4).as("rate"),
        count(lit(1)).as("kept_docs"), sum($"n_tok").as("kept_tokens"))
      .orderBy($"source")
  }

  val qDomainResampleSql: String =
    """WITH d AS (SELECT source, text, len(string_split(text, ' ')) AS n_tok FROM documents),
      |s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY source),
      |f AS (SELECT CAST(min(n_tokens) AS DOUBLE) AS floor_tokens FROM s),
      |r AS (SELECT source, floor_tokens / n_tokens AS rate FROM s, f),
      |k AS (SELECT d.source, d.n_tok, r.rate FROM d JOIN r ON d.source = r.source
      |  WHERE (list_sum(list_transform(range(1, 13),
      |     i -> (strpos('0123456789abcdef', substr(md5(d.text), i, 1)) - 1) * pow(16.0, 12 - i)))::BIGINT)::DOUBLE
      |    / pow(16.0, 12) < r.rate)
      |SELECT source, round(max(rate), 4) AS rate, count(*) AS kept_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS kept_tokens
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** Neyman-optimal stratified sample allocation: for a fixed audit
    * budget of 1000 docs, each source stratum gets n_h proportional
    * to N_h * sigma_h (its size times its length variability) — the
    * allocation that minimizes the variance of the estimated corpus
    * mean, and the principled way to spend a human-review or
    * eval-labeling budget across domains. One moments aggregate per
    * stratum plus a 1-row normalizer broadcast; the plan is
    * O(|sources|) after the single corpus scan. */
  def qSampleNeyman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 1000.0
    val strata = T.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        stddev_pop($"n_chars".cast("double")).as("sigma"))
      .withColumn("mass", $"n_docs" * $"sigma")
      .ckpt()
    strata
      .crossJoin(broadcast(strata.agg(sum($"mass").as("z"))))
      .select($"source", $"n_docs", round($"sigma", 2).as("sigma"),
        round(lit(budget) * $"mass" / $"z").cast("bigint").as("alloc"),
        round(lit(budget) * $"mass" / $"z" / $"n_docs", 4).as("rate"))
      .orderBy($"source")
  }

  val qSampleNeymanSql: String =
    """WITH s AS (SELECT source, count(*) AS n_docs,
      |  stddev_pop(n_chars) AS sigma FROM documents GROUP BY source),
      |m AS (SELECT s.*, n_docs * sigma AS mass FROM s),
      |z AS (SELECT sum(mass) AS z FROM m)
      |SELECT source, n_docs, round(sigma, 2) AS sigma,
      |  CAST(round(1000.0 * mass / z.z) AS BIGINT) AS alloc,
      |  round(1000.0 * mass / z.z / n_docs, 4) AS rate
      |FROM m, z ORDER BY source""".stripMargin

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 8-grams that appear in NO other document — the per-doc signal
    * behind "how much of this is boilerplate" ranking, and the
    * inverse of the corpus-level duplication the dedup family
    * removes. Scale shape: novelty is computed as 1 - (duplicated
    * grams / total grams), and only the DUPLICATED gram set — tiny in
    * a deduped corpus — flows into the join-back; the unique long
    * tail of the gram index dies at the HAVING df>1 filter and never
    * reshuffles. */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the gram relation feeds three consumers (per-doc totals, the
    // df>1 filter, and the join-back); cache it so the corpus scan +
    // shingle explosion runs once, not three times
    val grams = Dedup.shingleRows(spark, dir, 8).cache()
    val perDoc = grams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val dup = grams.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > 1).select($"sh")
    val dupHits = grams.join(dup, Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupHits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        round(($"n_grams" - coalesce($"n_dup", lit(0L))).cast("double")
          / $"n_grams", 4).as("novelty"))
      .orderBy($"doc_id")
  }

  val qNgramNoveltySql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 6), i ->
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |    w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS g
      |  FROM tok WHERE len(w) >= 8),
      |per_doc AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
      |dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 1),
      |dh AS (SELECT doc_id, count(*) AS n_dup FROM sh
      |  WHERE g IN (SELECT g FROM dup) GROUP BY doc_id)
      |SELECT p.doc_id, p.n_grams,
      |  round((p.n_grams - coalesce(dh.n_dup, 0))::DOUBLE / p.n_grams, 4) AS novelty
      |FROM per_doc p LEFT JOIN dh ON dh.doc_id = p.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** Post-stratification audit — the estimator side of the sampling
    * story [[qSampleNeyman]] plans: draw a deterministic 10%
    * content-hash sample, then compare the naive sample mean against
    * the post-stratified estimate (per-source sample means reweighted
    * by POPULATION shares), with the design SE, against the true
    * corpus mean. Population and sample stats are each one
    * per-source aggregate; the estimator math runs on the
    * |sources|-row result with 1-row broadcast totals. This is how a
    * 100 TB pipeline reads a metric off a cheap sample without
    * inheriting the sample's domain imbalance. */
  def qPoststratAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus pass: population AND sample statistics come out of a
    // single conditional per-source aggregate (sample columns see only
    // in-sample rows via CASE/null-skipping aggregates); everything
    // downstream runs on the checkpointed |sources|-row relation
    val sampChars = when(md5Unit($"text") < 0.1, $"n_chars")
    val strata = T.documents(spark, dir)
      .select($"source", $"n_chars", sampChars.as("samp_chars"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_pop"), sum($"n_chars").as("sum_pop"),
        count($"samp_chars").as("n_samp"),
        avg($"samp_chars").as("mean_h"), var_samp($"samp_chars").as("var_h"),
        sum($"samp_chars").as("sum_samp"))
      .ckpt()
    val est = strata
      .crossJoin(broadcast(strata.agg(sum($"n_pop").cast("double").as("n_total"))))
      .agg(
        sum(($"n_pop" / $"n_total") * $"mean_h").as("poststrat_mean"),
        sqrt(sum(pow($"n_pop" / $"n_total", 2.0) * $"var_h" / $"n_samp")).as("se"),
        (sum($"sum_pop").cast("double") / sum($"n_pop")).as("true_mean"),
        (sum($"sum_samp").cast("double") / sum($"n_samp")).as("naive_mean"))
    est.select(round($"true_mean", 4).as("true_mean"),
        round($"naive_mean", 4).as("naive_mean"),
        round($"poststrat_mean", 4).as("poststrat_mean"),
        round($"se", 4).as("se"),
        round(abs($"naive_mean" - $"true_mean"), 4).as("err_naive"),
        round(abs($"poststrat_mean" - $"true_mean"), 4).as("err_poststrat"))
  }

  val qPoststratAuditSql: String =
    """WITH d AS (SELECT source, n_chars,
      |  CASE WHEN (list_sum(list_transform(range(1, 13),
      |     i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)
      |          * pow(16.0, 12 - i)))::BIGINT)::DOUBLE / pow(16.0, 12) < 0.1
      |    THEN n_chars END AS samp_chars
      |  FROM documents),
      |strata AS (SELECT source, count(*) AS n_pop, sum(n_chars) AS sum_pop,
      |  count(samp_chars) AS n_samp, avg(samp_chars) AS mean_h,
      |  var_samp(samp_chars) AS var_h, sum(samp_chars) AS sum_samp
      |  FROM d GROUP BY source),
      |tot AS (SELECT CAST(sum(n_pop) AS DOUBLE) AS n_total FROM strata),
      |est AS (SELECT sum((n_pop / n_total) * mean_h) AS poststrat_mean,
      |  sqrt(sum(pow(n_pop / n_total, 2.0) * var_h / n_samp)) AS se,
      |  sum(sum_pop)::DOUBLE / sum(n_pop) AS true_mean,
      |  sum(sum_samp)::DOUBLE / sum(n_samp) AS naive_mean
      |  FROM strata, tot)
      |SELECT round(true_mean, 4) AS true_mean, round(naive_mean, 4) AS naive_mean,
      |  round(poststrat_mean, 4) AS poststrat_mean, round(se, 4) AS se,
      |  round(abs(naive_mean - true_mean), 4) AS err_naive,
      |  round(abs(poststrat_mean - true_mean), 4) AS err_poststrat
      |FROM est""".stripMargin

  /** The END-TO-END curation pipeline — the flagship "what this engine
    * is for" query. [[qCurationWaterfall]] reads the funnel;  this
    * query RUNS the pipeline: the actual gates chained in production
    * order — length (>= 20 tokens) → quality (>= 0.3) → Gopher
    * repetition ([[qRepetition]]'s keep flag) → MinHash-LSH near-dup
    * ([[Dedup.qDedupSurvivors]]) — then the temperature-0.7 mix plan
    * ([[qEpochMix]]'s arithmetic) over the SURVIVING tokens, and
    * finally the 512-token packing bound on the planned budget. One
    * row per stage with both surviving docs and surviving tokens, so
    * a pipeline owner sees which gate eats which volume AND what the
    * final training set costs.
    *
    * Scale shape: the per-doc gate flags are joined into ONE relation
    * and aggregated ONCE per source — every later stage (global
    * funnel, mix plan, packing bound) rolls up from that
    * |sources|-row table via 1-row broadcasts. The corpus-scale work
    * is exactly the gates' own passes (tokenize, bigrams, shingles);
    * nothing downstream rescans a fact table. */
  def qCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = T.documents(spark, dir)
      .withColumn("w", split($"text", " "))
      .withColumn("n_stop", Text.stopCount($"w"))
      .withColumn("quality", Text.qualityScore($"w", $"n_stop"))
      .select($"doc_id", $"source", size($"w").as("n_tok"),
        (size($"w") >= 20).as("g_len"), ($"quality" >= 0.3).as("g_quality"))
    val rep = qRepetition(spark, dir).select($"doc_id", $"keep".as("g_rep"))
    val surv = Dedup.qDedupSurvivors(spark, dir)
      .select($"doc_id", lit(true).as("g_dedup"))
    // ONE materialized per-source stage table; everything downstream
    // rolls up from these |sources| rows
    val bySource = base
      .join(rep, Seq("doc_id"), "left")
      .join(surv, Seq("doc_id"), "left")
      .select($"source", $"n_tok", $"g_len",
        ($"g_len" && $"g_quality").as("g2"),
        ($"g_len" && $"g_quality" && coalesce($"g_rep", lit(false))).as("g3"),
        ($"g_len" && $"g_quality" && coalesce($"g_rep", lit(false))
          && coalesce($"g_dedup", lit(false))).as("g4"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("d0"), sum($"n_tok").as("t0"),
        sum(when($"g_len", 1L).otherwise(0L)).as("d1"),
        sum(when($"g_len", $"n_tok").otherwise(0L)).as("t1"),
        sum(when($"g2", 1L).otherwise(0L)).as("d2"),
        sum(when($"g2", $"n_tok").otherwise(0L)).as("t2"),
        sum(when($"g3", 1L).otherwise(0L)).as("d3"),
        sum(when($"g3", $"n_tok").otherwise(0L)).as("t3"),
        sum(when($"g4", 1L).otherwise(0L)).as("d4"),
        sum(when($"g4", $"n_tok").otherwise(0L)).as("t4"))
      .ckpt()
    // temperature-0.7 mix plan over surviving tokens, 2x token budget
    // (the qEpochMix arithmetic, here fed by the gated corpus)
    // |sources|-row relation over the ckpt'd stage table: consumers
    // re-derive it from the checkpoint leaf for less than the cost of
    // one more eager materialization job
    val wgt = bySource
      .crossJoin(broadcast(bySource.agg(sum($"t4").cast("double").as("total"))))
      .withColumn("wgt", pow($"t4" / $"total", 0.7))
    val planned = wgt
      .crossJoin(broadcast(wgt.agg(sum($"wgt").as("z"))))
      .withColumn("target_tokens",
        round($"wgt" / $"z" * 2.0d * $"total").cast("bigint"))
    planned.agg(
        sum($"d0").as("s0d"), sum($"t0").as("s0t"),
        sum($"d1").as("s1d"), sum($"t1").as("s1t"),
        sum($"d2").as("s2d"), sum($"t2").as("s2t"),
        sum($"d3").as("s3d"), sum($"t3").as("s3t"),
        sum($"d4").as("s4d"), sum($"t4").as("s4t"),
        sum($"target_tokens").as("s5t"))
      .select(explode(array(
        struct(lit("0_total").as("stage"), $"s0d".as("n_docs"), $"s0t".as("n_tokens")),
        struct(lit("1_length").as("stage"), $"s1d".as("n_docs"), $"s1t".as("n_tokens")),
        struct(lit("2_quality").as("stage"), $"s2d".as("n_docs"), $"s2t".as("n_tokens")),
        struct(lit("3_repetition").as("stage"), $"s3d".as("n_docs"), $"s3t".as("n_tokens")),
        struct(lit("4_neardup").as("stage"), $"s4d".as("n_docs"), $"s4t".as("n_tokens")),
        struct(lit("5_mix_plan").as("stage"), $"s4d".as("n_docs"), $"s5t".as("n_tokens")),
        struct(lit("6_packed").as("stage"),
          expr("(s5t + 511) div 512").as("n_docs"), $"s5t".as("n_tokens"))))
        .as("t"))
      .select($"t.stage", $"t.n_docs", $"t.n_tokens")
      .orderBy($"stage")
  }

  val qCurationPipelineSql: String = {
    val mh = Dedup.minhashCteShared
    s"""$mh,
       |gates AS (
       |  SELECT d.doc_id, d.source, len(w) AS n_tok,
       |    len(w) >= 20 AS g_len,
       |    least(1.0, len(w) / 100.0) *
       |      (1.0 - len(list_filter(w, x ->
       |        list_contains(['the','a','of','and','to','in'], x)))::DOUBLE
       |        / len(w)) >= 0.3 AS g_quality
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents) d),
       |rep AS (
       |  SELECT t.doc_id,
       |    (b.top_frac <= 0.1 AND t.dup_ratio <= 0.7) AS g_rep
       |  FROM (SELECT doc_id,
       |          round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 4) AS dup_ratio
       |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)) t
       |  JOIN (SELECT doc_id, round(max(n)::DOUBLE / sum(n), 4) AS top_frac
       |        FROM (SELECT doc_id, g, count(*) AS n FROM (
       |          SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |            i -> w[i] || ' ' || w[i+1])) AS g
       |          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
       |          GROUP BY 1, 2)
       |        GROUP BY doc_id) b USING (doc_id)),
       |surv AS (SELECT doc_id, doc_id NOT IN
       |    (SELECT b_id FROM verified WHERE j >= 0.8) AS g_dedup
       |  FROM documents),
       |flags AS (
       |  SELECT g.source, g.n_tok, g.g_len,
       |    g.g_len AND g.g_quality AS g2,
       |    g.g_len AND g.g_quality AND coalesce(r.g_rep, false) AS g3,
       |    g.g_len AND g.g_quality AND coalesce(r.g_rep, false)
       |      AND coalesce(s.g_dedup, false) AS g4
       |  FROM gates g LEFT JOIN rep r USING (doc_id)
       |    LEFT JOIN surv s USING (doc_id)),
       |by_source AS (
       |  SELECT source,
       |    count(*) AS d0, sum(n_tok) AS t0,
       |    sum(CASE WHEN g_len THEN 1 ELSE 0 END) AS d1,
       |    sum(CASE WHEN g_len THEN n_tok ELSE 0 END) AS t1,
       |    sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS d2,
       |    sum(CASE WHEN g2 THEN n_tok ELSE 0 END) AS t2,
       |    sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS d3,
       |    sum(CASE WHEN g3 THEN n_tok ELSE 0 END) AS t3,
       |    sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS d4,
       |    sum(CASE WHEN g4 THEN n_tok ELSE 0 END) AS t4
       |  FROM flags GROUP BY source),
       |tot AS (SELECT CAST(sum(t4) AS DOUBLE) AS total FROM by_source),
       |wgt AS (SELECT b.*, t.total, pow(t4 / t.total, 0.7) AS w
       |  FROM by_source b, tot t),
       |z AS (SELECT sum(w) AS z FROM wgt),
       |planned AS (SELECT wgt.*,
       |  CAST(round(w / z.z * 2.0 * total) AS BIGINT) AS target_tokens
       |  FROM wgt, z),
       |agg AS (SELECT
       |  CAST(sum(d0) AS BIGINT) AS s0d, CAST(sum(t0) AS BIGINT) AS s0t,
       |  CAST(sum(d1) AS BIGINT) AS s1d, CAST(sum(t1) AS BIGINT) AS s1t,
       |  CAST(sum(d2) AS BIGINT) AS s2d, CAST(sum(t2) AS BIGINT) AS s2t,
       |  CAST(sum(d3) AS BIGINT) AS s3d, CAST(sum(t3) AS BIGINT) AS s3t,
       |  CAST(sum(d4) AS BIGINT) AS s4d, CAST(sum(t4) AS BIGINT) AS s4t,
       |  CAST(sum(target_tokens) AS BIGINT) AS s5t FROM planned)
       |SELECT '0_total' AS stage, s0d AS n_docs, s0t AS n_tokens FROM agg
       |UNION ALL SELECT '1_length', s1d, s1t FROM agg
       |UNION ALL SELECT '2_quality', s2d, s2t FROM agg
       |UNION ALL SELECT '3_repetition', s3d, s3t FROM agg
       |UNION ALL SELECT '4_neardup', s4d, s4t FROM agg
       |UNION ALL SELECT '5_mix_plan', s4d, s5t FROM agg
       |UNION ALL SELECT '6_packed', (s5t + 511) // 512, s5t FROM agg
       |ORDER BY stage""".stripMargin
  }

  /** Weighted sampling WITHOUT replacement, k=5 per language — the
    * Efraimidis–Spirakis exponential-key scheme: each doc draws
    * key = −ln(u)/w with u a deterministic content-hash uniform (the
    * [[qSplitAssign]] md5 discipline) and w = its character count;
    * the k smallest keys per stratum are exactly a w-weighted sample
    * without replacement. One corpus-scan projection computes every
    * key; selection runs through [[Skew.twoPhaseTopK]] (per-input-
    * partition local top-k, then the k·|partitions| survivors rank
    * globally), so no task ever sorts a whole language's documents —
    * the shape that holds when one language is 80 % of 100 TB.
    * Deterministic across engines, runs, and cluster layouts: the
    * only randomness is the content hash. */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = T.documents(spark, dir)
      .filter($"n_chars" > 0)
      .select($"lang", $"doc_id", $"n_chars",
        md5Unit($"text").as("u"))
      .withColumn("k", -log($"u") / $"n_chars".cast("double"))
    Skew.twoPhaseTopK(keyed, Seq($"lang"), Seq($"k".asc, $"doc_id".asc), 5, "rk")
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"n_chars")
      .orderBy($"lang", $"rk")
  }

  val qSampleWeightedSql: String =
    """WITH d AS (SELECT lang, doc_id, n_chars,
      |  (list_sum(list_transform(range(1, 13),
      |     i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16.0, 12 - i)))::BIGINT)::DOUBLE
      |    / pow(16.0, 12) AS u
      |  FROM documents WHERE n_chars > 0),
      |k AS (SELECT lang, doc_id, n_chars, -ln(u) / n_chars AS k FROM d),
      |r AS (SELECT lang, doc_id, n_chars,
      |  row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rk FROM k)
      |SELECT lang, rk, doc_id, n_chars FROM r WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin

  /** Candidate-boilerplate report: the 20 most document-frequent
    * 5-gram phrases in the corpus, with how many docs and distinct
    * sources carry them — the ranked shortlist a boilerplate-removal
    * pass (headers, footers, nav text, license blurbs) reviews before
    * cutting. Shape: one corpus scan explodes distinct (doc, gram)
    * rows, one hash aggregate per gram computes doc-frequency and
    * source spread, and a TakeOrdered top-20 replaces any global sort.
    * The long unique-gram tail dies in the aggregate; only counted
    * grams rank. Ranking by exact integer df (tie: gram text) is
    * deterministic at every SF — no share threshold that silently
    * empties as the corpus grows. */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.documents(spark, dir)
    val grams = docs
      .select($"source", $"doc_id", split($"text", " ").as("w"))
      .select($"source", $"doc_id", $"w", explode(wordStarts(5)).as("i"))
      .select($"source", $"doc_id", wordWindow(5, "i").as("g"))
      .distinct()
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_total"))
    grams.groupBy($"g")
      .agg(countDistinct($"doc_id").as("df"),
        countDistinct($"source").as("n_sources"))
      .orderBy(desc("df"), asc("g"))
      .limit(20)
      .crossJoin(broadcast(nDocs))
      .select($"g", $"df", $"n_sources",
        round($"df" / $"n_total", 6).as("share"))
      .orderBy(desc("df"), asc("g"))
  }

  val qBoilerplateSql: String =
    """WITH tok AS (SELECT source, doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT source, doc_id, unnest(list_transform(range(1, len(w) - 3), i ->
      |    w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS g
      |  FROM tok WHERE len(w) >= 5),
      |nt AS (SELECT count(*)::DOUBLE AS n_total FROM documents),
      |top AS (SELECT g, count(DISTINCT doc_id) AS df,
      |    count(DISTINCT source) AS n_sources
      |  FROM sh GROUP BY g ORDER BY df DESC, g LIMIT 20)
      |SELECT g, df, n_sources, round(df / (SELECT n_total FROM nt), 6) AS share
      |FROM top ORDER BY df DESC, g""".stripMargin

  /** BERT-style MLM masking plan: deterministically select ~15% of
    * token positions per document and split the selection 80/10/10
    * into [MASK] / random-token / keep-original roles — the plan a
    * masked-LM data loader materializes ahead of training so every
    * epoch and every re-run sees the identical mask (reproducibility
    * is the operator's whole point; T5/BERT's RNG becomes a content
    * hash). Selection is a lexicographic threshold on the md5 hex of
    * (doc_id:pos) — both engines produce the identical digest, so the
    * plan is engine-portable with no RNG contract: first hex byte
    * <= 0x25 selects (38/256 = 14.84%); the next hex byte splits
    * roles at 0xcd (80.1%) and 0xe6 (+9.8%). One corpus scan, one
    * token explode, one per-source rollup — embarrassingly parallel
    * at any SF. */
  def qMlmMaskPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = T.documents(spark, dir)
      .select($"source", $"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      .withColumn("h", md5(concat($"doc_id", lit(":"), $"pos").cast("binary")))
      .withColumn("sel", substring($"h", 1, 2) <= "25")
      .withColumn("role", when(!$"sel", lit(null).cast("string"))
        .when(substring($"h", 3, 2) < "cd", "mask")
        .when(substring($"h", 3, 2) < "e6", "random")
        .otherwise("keep"))
    toks.groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"sel", 1L).otherwise(0L)).as("n_selected"),
        sum(when($"role" === "mask", 1L).otherwise(0L)).as("n_mask"),
        sum(when($"role" === "random", 1L).otherwise(0L)).as("n_random"),
        sum(when($"role" === "keep", 1L).otherwise(0L)).as("n_keep"),
        round(avg(when($"sel", 1.0).otherwise(0.0)), 4).as("sel_rate"))
      .orderBy($"source")
  }

  val qMlmMaskPlanSql: String =
    """WITH toks AS (SELECT source, doc_id,
      |    unnest(list_transform(range(0, len(string_split(text, ' ')), 1),
      |      i -> {'pos': i, 'h': md5(doc_id || ':' || i)}), recursive := true)
      |  FROM documents),
      |r AS (SELECT source, substr(h, 1, 2) <= '25' AS sel,
      |    CASE WHEN substr(h, 1, 2) > '25' THEN NULL
      |         WHEN substr(h, 3, 2) < 'cd' THEN 'mask'
      |         WHEN substr(h, 3, 2) < 'e6' THEN 'random'
      |         ELSE 'keep' END AS role
      |  FROM toks)
      |SELECT source, count(*)::BIGINT AS n_tokens,
      |  sum(CASE WHEN sel THEN 1 ELSE 0 END)::BIGINT AS n_selected,
      |  sum(CASE WHEN role = 'mask' THEN 1 ELSE 0 END)::BIGINT AS n_mask,
      |  sum(CASE WHEN role = 'random' THEN 1 ELSE 0 END)::BIGINT AS n_random,
      |  sum(CASE WHEN role = 'keep' THEN 1 ELSE 0 END)::BIGINT AS n_keep,
      |  round(avg(CASE WHEN sel THEN 1.0 ELSE 0.0 END), 4) AS sel_rate
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Split-hygiene audit: near-duplicate pairs (the oracle-verified
    * MinHash j >= 0.8 pair list) whose two documents land in DIFFERENT
    * splits of [[qSplitAssign]]'s content-hash partition — each such
    * pair is an eval-set leak: the model trains on a near-copy of a
    * held-out document and the benchmark number inflates. Exact-dup
    * leakage is impossible by construction here (identical text =>
    * identical content hash => same split — the reason content-hash
    * splits beat random ones), so the NEAR-dup list is precisely the
    * residual risk surface, and this query is the report a pipeline
    * owner actions (move or drop one side of each pair). Cost on top
    * of the dedup pass: two doc_id-keyed hash joins against the
    * |docs|-row split relation — no new corpus scan shape at 100 TB. */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val splits = T.documents(spark, dir).select($"doc_id", contentSplit($"text").as("split"))
    Dedup.qDedupMinhash(spark, dir)
      .join(splits.select($"doc_id".as("a_id"), $"split".as("split_a")), Seq("a_id"))
      .join(splits.select($"doc_id".as("b_id"), $"split".as("split_b")), Seq("b_id"))
      .filter($"split_a" =!= $"split_b")
      .select($"a_id", $"b_id", $"split_a", $"split_b", $"jaccard")
      .orderBy($"a_id", $"b_id")
  }

  val qSplitLeakageSql: String =
    s"""${Dedup.minhashCteShared},
       |sp AS (SELECT doc_id,
       |  CASE WHEN cell < 230 THEN 'train'
       |       WHEN cell < 243 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS cell
       |    FROM documents))
       |SELECT v.a_id, v.b_id, sa.split AS split_a, sb.split AS split_b,
       |  round(v.j, 4) AS jaccard
       |FROM verified v
       |JOIN sp sa ON sa.doc_id = v.a_id
       |JOIN sp sb ON sb.doc_id = v.b_id
       |WHERE v.j >= 0.8 AND sa.split <> sb.split
       |ORDER BY a_id, b_id""".stripMargin

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by the log importance ratio of a hashed-unigram model of a TARGET
    * distribution (here the labeled-`en` slice — in DSIR the target is
    * a user-supplied exemplar corpus, not something derived from the
    * data) against the RAW corpus, then draw a fixed 50-doc sample
    * proportional to the importance weight via Gumbel-top-k with
    * content-hash uniforms — exactly Efraimidis–Spirakis sampling
    * without replacement, but in log space so exp(logw) never
    * overflows. Shape: ONE corpus tokenize (cached, both the bucket
    * counts and the per-doc sums read it), features hashed into 4096
    * buckets by the cross-engine md5 discipline, the 4096-row
    * log-ratio table add-1 smoothed and broadcast, per-doc weights one
    * keyed hash aggregate, and the k=50 selection a TakeOrdered (score
    * rounded 4 dp before ranking, doc_id tiebreak — engine-stable).
    * Output: per-language corpus-vs-selected composition — the
    * readout that shows the sampler actually steering toward the
    * target distribution. At 100 TB: the ratio table is O(buckets),
    * the selection is top-k, and nothing ever sorts the corpus. */
  def qDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val B = 4096L
    // (h + 0.5) / 16^12 as written, not md5Unit + 0.5 / 16^12: the two
    // can differ in the last ulp, and the oracle computes this one
    val toks = T.documents(spark, dir)
      .select($"doc_id", $"lang",
        ((md5Hash($"text", 12).cast("double") + lit(0.5)) / lit(md5Range)).as("u"),
        explode(split($"text", " ")).as("tok"))
      .withColumn("b", md5Hash($"tok", 12) % lit(B))
      .cache()
    val counts = toks.groupBy($"b")
      .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val tot = counts.agg(sum($"ct").cast("double").as("nt"),
      sum($"cr").cast("double").as("nr"))
    val ratio = counts.crossJoin(broadcast(tot))
      .select($"b",
        (log(($"ct" + lit(1.0)) / ($"nt" + lit(B.toDouble)))
          - log(($"cr" + lit(1.0)) / ($"nr" + lit(B.toDouble)))).as("logr"))
    val perDoc = toks.join(broadcast(ratio), Seq("b"))
      .groupBy($"doc_id", $"lang", $"u")
      .agg(sum($"logr").as("logw"))
      .withColumn("score", round($"logw" - log(-log($"u")), 4))
    val sel = perDoc.orderBy($"score".desc, $"doc_id".asc).limit(50)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_selected"), round(avg($"logw"), 4).as("avg_logw_sel"))
    perDoc.groupBy($"lang").agg(count(lit(1)).as("n_corpus"))
      .join(sel, Seq("lang"), "left")
      .select($"lang", $"n_corpus",
        coalesce($"n_selected", lit(0L)).as("n_selected"),
        coalesce($"avg_logw_sel", lit(0.0)).as("avg_logw_sel"))
      .orderBy($"lang")
  }

  val qDsirSelectSql: String =
    """WITH tk AS (SELECT doc_id, lang,
      |    ((list_sum(list_transform(range(1, 13),
      |       i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1) * pow(16.0, 12 - i)))::BIGINT)::DOUBLE + 0.5)
      |      / pow(16.0, 12) AS u,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tb AS (SELECT doc_id, lang, u,
      |    (list_sum(list_transform(range(1, 13),
      |       i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1) * pow(16.0, 12 - i)))::BIGINT) % 4096 AS b
      |  FROM tk),
      |counts AS (SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    count(*) AS cr FROM tb GROUP BY b),
      |tot AS (SELECT sum(ct)::DOUBLE AS nt, sum(cr)::DOUBLE AS nr FROM counts),
      |ratio AS (SELECT b, ln((ct + 1.0) / (nt + 4096)) - ln((cr + 1.0) / (nr + 4096)) AS logr
      |  FROM counts, tot),
      |pd AS (SELECT doc_id, lang, u, sum(logr) AS logw
      |  FROM tb JOIN ratio USING (b) GROUP BY doc_id, lang, u),
      |sc AS (SELECT doc_id, lang, logw, round(logw - ln(-ln(u)), 4) AS score FROM pd),
      |sel AS (SELECT lang, count(*) AS n_selected, round(avg(logw), 4) AS avg_logw_sel
      |  FROM (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 50) GROUP BY lang),
      |corpus AS (SELECT lang, count(*) AS n_corpus FROM pd GROUP BY lang)
      |SELECT corpus.lang AS lang, n_corpus, coalesce(n_selected, 0) AS n_selected,
      |  coalesce(avg_logw_sel, 0.0) AS avg_logw_sel
      |FROM corpus LEFT JOIN sel USING (lang) ORDER BY lang""".stripMargin

  /** Embedding-space benchmark decontamination — the semantic
    * complement of [[qContamination]]'s lexical 8-gram overlap: a
    * paraphrased eval item shares no 8-gram with its source but sits
    * next to it in embedding space, so serious data reports run BOTH
    * checks. Eval set = vec_id % 20 == 0 (the same held-out carve as
    * the lexical check); every training vector scores against the
    * BROADCAST eval set — an eval bench stays thousands of rows no
    * matter how big the corpus, so at 100 TB this is one zero-shuffle
    * map over the corpus (|corpus| x |eval| codegen'd cosines) feeding
    * one map-side-combinable argmax aggregate; no window or shuffle
    * ever sees corpus x eval cardinality. The review flag is
    * data-adaptive — max-cos above mean + 3 sd of its own distribution
    * (the q_anomaly_zscore outlier discipline) — because absent a
    * calibrated paraphrase threshold the actionable report is "the
    * top tail, ranked, for manual review". */
  def qContaminationSemantic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = T.embeddings(spark, dir)
    val evalSet = e.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("e_id"), $"embedding".as("qv"))
    val train = e.filter($"vec_id" % 20 =!= 0)
      .select($"vec_id", $"embedding".as("v"))
    val best = train.crossJoin(broadcast(evalSet))
      .select($"vec_id",
        struct(graft.functions.F.cosineSimilarity($"qv", $"v").as("cos"),
          (-$"e_id").as("neg")).as("s"))
      .groupBy($"vec_id").agg(max($"s").as("m"))
      .ckpt()
    val cut = best.agg((avg($"m.cos") + lit(3.0) * stddev($"m.cos")).as("cut"))
    best.crossJoin(broadcast(cut))
      .select($"vec_id", (-$"m.neg").as("near_eval"),
        round($"m.cos", 4).as("max_cos"),
        ($"m.cos" > $"cut").as("flagged"))
      .orderBy($"vec_id")
  }

  val qContaminationSemanticSql: String =
    """WITH e AS (SELECT vec_id, embedding,
      |  (SELECT sum(x::DOUBLE * x::DOUBLE) FROM unnest(embedding) t(x)) AS n2
      |  FROM embeddings),
      |ev AS (SELECT vec_id AS e_id, embedding AS qe, n2 AS qn2 FROM e WHERE vec_id % 20 = 0),
      |tr AS (SELECT vec_id, embedding AS ne, n2 FROM e WHERE vec_id % 20 <> 0),
      |u AS (SELECT vec_id, e_id, qn2, n2, unnest(qe) AS qx, unnest(ne) AS nx FROM tr, ev),
      |scored AS (SELECT vec_id, e_id,
      |    sum(qx::DOUBLE * nx::DOUBLE) / sqrt(any_value(qn2) * any_value(n2)) AS cos
      |  FROM u GROUP BY 1, 2),
      |ranked AS (SELECT vec_id, e_id AS near_eval, cos,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, e_id) AS rn
      |  FROM scored),
      |b AS (SELECT vec_id, near_eval, cos FROM ranked WHERE rn = 1),
      |c AS (SELECT avg(cos) + 3.0 * stddev(cos) AS cut FROM b)
      |SELECT vec_id, near_eval, round(cos, 4) AS max_cos, cos > cut AS flagged
      |FROM b, c ORDER BY vec_id""".stripMargin

  /** Training-shard composition audit — the shuffle-quality check a
    * pipeline runs before writing training shards: when consecutive
    * training batches read one shard at a time, each shard's source
    * mix IS the batch mix, and a source-correlated shard order is a
    * curriculum nobody asked for. Two assignment regimes over the
    * same corpus: `hash` (content-hash sharding — the production
    * shuffle) and `sorted` (source-partitioned shards — the
    * pathological layout a naive per-source export produces). Per
    * shard: doc count, the largest single-source share, and the KL
    * divergence of the shard's source mix from the global mix.
    * Reading the table: hash shards sit near KL 0, sorted shards at
    * top_share 1.0 — the gap is what the shuffle buys. Shard count is
    * corpus-scaled (one per ~50 docs, clamped to [4, 64]); everything
    * is a map-side shard assignment plus two bounded hash aggregates,
    * so the audit costs one corpus scan at any SF. The sorted regime
    * allocates floor(S/n_src) shards per source (min 1), so when
    * n_src > S its shard COUNT exceeds S — deliberate: the regime
    * models one-shard-chain-per-source exports, and each regime
    * reports its own shard universe. */
  def qShardMixAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.documents(spark, dir)
    val params = docs.groupBy($"source").agg(count(lit(1)).as("src_n"))
      .agg(sum($"src_n").as("n"), count(lit(1)).as("n_src"),
        map_from_entries(array_sort(collect_list(struct($"source", $"src_n")))).as("mix"))
      .select($"n", $"n_src", $"mix",
        least(lit(64L), greatest(lit(4L), ceil($"n" / 50.0).cast("long"))).as("s"))
      .ckpt()
    val srcIdx = params
      .select(posexplode(map_keys($"mix")))
      .select($"pos".cast("long").as("src_idx"), $"col".as("source"))
    val cell = md5Hash($"text", 4)
    val k = greatest(lit(1L), floor($"s" / $"n_src").cast("long"))
    val assigned = docs.select($"source", cell.as("cell"))
      .join(broadcast(srcIdx), Seq("source"))
      .crossJoin(broadcast(params))
      .select($"source", $"n", $"mix",
        explode(array(
          struct(lit("hash").as("regime"),
            floor($"cell" * $"s" / 65536.0).cast("long").as("shard")),
          struct(lit("sorted").as("regime"),
            ($"src_idx" * k + floor($"cell" * k / 65536.0)).cast("long").as("shard")))).as("a"))
      .select($"a.regime".as("regime"), $"a.shard".as("shard"), $"source", $"n", $"mix")
    val comp = assigned
      .groupBy($"regime", $"shard", $"source")
      .agg(count(lit(1)).as("c"), first($"n").as("n"), first($"mix").as("mix"))
    val p = $"c".cast("double") / $"shard_n"
    val q = element_at($"mix", $"source").cast("double") / $"n"
    comp
      .withColumn("shard_n", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"regime", $"shard")))
      .groupBy($"regime", $"shard")
      .agg(first($"shard_n").as("n_docs"),
        round(max($"c") / first($"shard_n").cast("double"), 4).as("top_share"),
        round(sum(p * log(p / q)), 4).as("kl"))
      .orderBy($"regime", $"shard")
  }

  val qShardMixAuditSql: String =
    """WITH d AS (SELECT source,
      |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
      |  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
      |  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS cell
      |  FROM documents),
      |par AS (SELECT count(*) AS n, count(DISTINCT source) AS n_src,
      |    least(64, greatest(4, ceil(count(*) / 50.0)))::BIGINT AS s
      |  FROM d),
      |si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS src_idx
      |  FROM (SELECT DISTINCT source FROM d)),
      |kk AS (SELECT greatest(1, s // n_src)::BIGINT AS k FROM par),
      |a AS (
      |  SELECT 'hash' AS regime, (cell * s // 65536)::BIGINT AS shard, source
      |    FROM d, par
      |  UNION ALL
      |  SELECT 'sorted' AS regime, (src_idx * k + cell * k // 65536)::BIGINT AS shard, source
      |    FROM d JOIN si USING (source), kk),
      |mix AS (SELECT source, count(*)::DOUBLE AS gc FROM d GROUP BY source),
      |comp AS (SELECT regime, shard, source, count(*) AS c FROM a GROUP BY 1, 2, 3),
      |tot AS (SELECT regime, shard, CAST(sum(c) AS BIGINT) AS shard_n FROM comp GROUP BY 1, 2)
      |SELECT regime, shard, shard_n AS n_docs,
      |  round(max(c) / shard_n::DOUBLE, 4) AS top_share,
      |  round(sum((c::DOUBLE / shard_n) * ln((c::DOUBLE / shard_n) / (gc / n))), 4) AS kl
      |FROM comp JOIN tot USING (regime, shard) JOIN mix USING (source), par
      |GROUP BY regime, shard, shard_n ORDER BY regime, shard""".stripMargin

  /** Per-source data card — the "datasheets for datasets" summary a
    * corpus ships with: doc count, token mass, mean length, mean
    * quality (the q_clean_corpus gate formula), exact-duplicate share
    * (docs whose full text appears more than once in the corpus), and
    * the language-mix entropy of the source. The tokenize projection
    * is materialized ONCE (ckpt) and everything derives from it: a
    * content-hash aggregate joined back on the hash (two keyed
    * shuffles), the lang-mix rollup, and the per-source card — every
    * stage a hash aggregate or equi-join on a corpus-scaled key, so
    * the card costs one corpus scan at any SF. The fixture has no exact dups below
    * sf0.1, so dup_share is legitimately 0.0 at the verify fixture and
    * non-zero (8 dup groups) at sf0.1 — the column's signal, not a
    * vacuous output (the card always emits one row per source). */
  def qDataCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = T.documents(spark, dir)
      .select($"source", $"lang", $"n_chars",
        md5($"text".cast("binary")).as("h"),
        split($"text", " ").as("w"))
      .select($"source", $"lang", $"n_chars", $"h",
        size($"w").cast("long").as("n_tok"),
        Text.qualityScore($"w", Text.stopCount($"w")).as("quality"))
      .ckpt()
    val dup = d.groupBy($"h").agg(count(lit(1)).as("cdup"))
    val per = d.join(dup, Seq("h"))
    val ent = d.groupBy($"source", $"lang").agg(count(lit(1)).as("nl"))
      .withColumn("nsrc", sum($"nl").over(Window.partitionBy($"source")))
      .groupBy($"source")
      .agg(sum(-($"nl".cast("double") / $"nsrc") *
        log($"nl".cast("double") / $"nsrc")).as("hent"))
    per.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("tokens"),
        round(avg($"n_chars"), 2).as("avg_chars"),
        round(avg($"quality"), 4).as("avg_quality"),
        round(sum(when($"cdup" > 1, 1).otherwise(0)).cast("double") /
          count(lit(1)), 4).as("dup_share"))
      .join(ent, Seq("source"))
      .select($"source", $"n_docs", $"tokens", $"avg_chars",
        $"avg_quality", $"dup_share", round($"hent", 4).as("lang_entropy"))
      .orderBy($"source")
  }

  val qDataCardSql: String =
    """WITH d AS (SELECT source, lang, n_chars, md5(text) AS h,
      |    string_split(text, ' ') AS w FROM documents),
      |dd AS (SELECT source, lang, n_chars, h, len(w)::BIGINT AS n_tok,
      |    least(1.0, len(w) / 100.0) *
      |      (1.0 - len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))::DOUBLE / len(w))
      |      AS quality
      |  FROM d),
      |dup AS (SELECT h, count(*) AS cdup FROM d GROUP BY 1),
      |per AS (SELECT dd.*, dup.cdup FROM dd JOIN dup ON dup.h = dd.h),
      |lang_mix AS (SELECT source, lang, count(*) AS nl FROM per GROUP BY 1, 2),
      |lt AS (SELECT source, CAST(sum(nl) AS BIGINT) AS nsrc FROM lang_mix GROUP BY 1),
      |ent AS (SELECT lang_mix.source,
      |    -sum((nl::DOUBLE / nsrc) * ln(nl::DOUBLE / nsrc)) AS hent
      |  FROM lang_mix JOIN lt ON lt.source = lang_mix.source GROUP BY 1)
      |SELECT per.source AS source, count(*) AS n_docs,
      |  CAST(sum(per.n_tok) AS BIGINT) AS tokens,
      |  round(avg(per.n_chars), 2) AS avg_chars,
      |  round(avg(per.quality), 4) AS avg_quality,
      |  round(sum((per.cdup > 1)::INT)::DOUBLE / count(*), 4) AS dup_share,
      |  round(any_value(ent.hent), 4) AS lang_entropy
      |FROM per JOIN ent ON ent.source = per.source
      |GROUP BY per.source ORDER BY source""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_data_card", qDataCard, Some(qDataCardSql)),
    QueryDef("q_contamination_semantic", qContaminationSemantic, Some(qContaminationSemanticSql)),
    QueryDef("q_shard_mix_audit", qShardMixAudit, Some(qShardMixAuditSql)),
    QueryDef("q_dsir_select", qDsirSelect, Some(qDsirSelectSql)),
    QueryDef("q_epoch_expand", qEpochExpand, Some(qEpochExpandSql)),
    QueryDef("q_pack_waste", qPackWaste, Some(qPackWasteSql)),
    QueryDef("q_pack_waste_ffd", qPackWasteFfd, Some(qPackWasteFfdSql)),
    // lossless chunk-then-pack: conservation over the RAW token mass
    QueryDef("q_pack_chunked", qPackChunked, Some(qPackChunkedSql)),
    QueryDef("q_split_leakage", qSplitLeakage, Some(qSplitLeakageSql)),
    QueryDef("q_mlm_mask_plan", qMlmMaskPlan, Some(qMlmMaskPlanSql)),
    QueryDef("q_boilerplate", qBoilerplate, Some(qBoilerplateSql)),
    QueryDef("q_sample_weighted", qSampleWeighted, Some(qSampleWeightedSql)),
    QueryDef("q_poststrat_audit", qPoststratAudit, Some(qPoststratAuditSql)),
    QueryDef("q_curation_pipeline", qCurationPipeline, Some(qCurationPipelineSql)),
    QueryDef("q_ngram_novelty", qNgramNovelty, Some(qNgramNoveltySql)),
    QueryDef("q_sample_neyman", qSampleNeyman, Some(qSampleNeymanSql)),
    QueryDef("q_curation_waterfall", qCurationWaterfall, Some(qCurationWaterfallSql)),
    QueryDef("q_split_assign", qSplitAssign, Some(qSplitAssignSql)),
    QueryDef("q_repetition", qRepetition, Some(qRepetitionSql)),
    QueryDef("q_contamination", qContamination, Some(qContaminationSql)),
    QueryDef("q_contamination_bloom", qContaminationBloom, Some(qContaminationSql)),
    QueryDef("q_bloom_fpr_audit", qBloomFprAudit, Some(qBloomFprAuditSql)),
    QueryDef("q_domain_mix", qDomainMix, Some(qDomainMixSql)),
    QueryDef("q_seq_packing", qSeqPacking, Some(qSeqPackingSql)),
    QueryDef("q_epoch_mix", qEpochMix, Some(qEpochMixSql)),
    QueryDef("q_domain_resample", qDomainResample, Some(qDomainResampleSql)),
  )
}
