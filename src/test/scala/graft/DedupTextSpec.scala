package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupTextSpec extends AnyFunSuite {
  import SparkTestSession._

  test("minhash near-dup pairs all verify above threshold") {
    val df = ops.Dedup.qDedupMinhash(spark, sf)
    val rows = df.collect()
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.8))
    assert(rows.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
  }

  test("survivors + dropped = all docs") {
    val total = ops.T.documents(spark, sf).count()
    val survivors = ops.Dedup.qDedupSurvivors(spark, sf).count()
    val dropped = ops.Dedup.qDedupMinhash(spark, sf)
      .select("b_id").distinct().count()
    assert(survivors === total - dropped)
  }

  test("md5Hash and md5Unit read the md5 hex prefix the DuckDB twins compute") {
    // md5("abc") = 900150983cd24fb0...
    val r = spark.range(1).select(ops.md5Hash(lit("abc"), 12), ops.md5Hash(lit("abc"), 2),
      ops.md5Unit(lit("abc"))).head()
    assert(r.getLong(0) === 158335321521362L)
    assert(r.getLong(1) === 144L)
    assert(r.getDouble(2) === 158335321521362L / math.pow(16.0, 12))
  }

  test("word n-grams: a doc shorter than n has none, a doc of exactly n words has one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ngram").toString
    spark.createDataFrame(Seq((1L, "a b"), (2L, "a b c"))).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val grams = ops.Dedup.shingleRows(spark, dir, 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("sh"))
    assert(grams.toSeq === Seq(2L -> "a b c"))
  }

  test("simhash is 32 binary chars and deterministic") {
    val df = ops.Dedup.qDedupSimhash(spark, sf)
    val s1 = df.collect().map(_.getString(1))
    assert(s1.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
    val s2 = ops.Dedup.qDedupSimhash(spark, sf).collect().map(_.getString(1))
    assert(s1.sameElements(s2))
  }

  test("embedding near-dup cosine within [-1, 1] and ordered pairs") {
    val rows = ops.Dedup.qDedupEmbedding(spark, sf).collect()
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0))
  }

  test("quality score bounded [0, 1]") {
    val bad = ops.Text.qQualityScore(spark, sf)
      .filter(col("quality") < 0 || col("quality") > 1).count()
    assert(bad === 0)
  }

  test("token freq total tokens consistent with token stats") {
    val byFreq = ops.Text.qTokenFreq(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(byFreq > 0)
  }

  test("perplexity proxy: positive, bounded by the smoothed-LM ceiling") {
    val rows = ops.Text.qPerplexity(spark, sf).collect()
    val nDocs = ops.T.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length === nDocs, "every doc with >= 2 tokens is scored")
    rows.foreach { r =>
      val ce = r.getAs[Double]("cross_entropy")
      assert(r.getAs[Long]("n_bigrams") >= 1L)
      // smoothed probability is always > 1/(c1+V) and < 1, so the
      // per-bigram -ln lies in (0, ln(max_c1 + V))
      assert(ce > 0.0 && ce < 20.0, s"cross-entropy $ce out of range")
    }
  }

  test("tfidf broadcasts the 1-row corpus count (no shuffled cross join)") {
    val plan = ops.Text.qTfidf(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the 1-row n_docs side broadcast, got:\n$plan")
  }

  test("tfidf similarity finds the planted near-dup pairs with high cosine") {
    val pairs = ops.Text.qTfidfSim(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Double]("cos"))
      .toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case ((a, b), c) =>
      assert(a < b)
      assert(c >= 0.5 && c <= 1.0)
    }
    // the MinHash near-dup pairs (jaccard-planted) must also score high here
    val minhash = ops.Dedup.qDedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(minhash.nonEmpty)
    minhash.foreach { p => assert(pairs.contains(p), s"planted pair $p missed") }
  }

  test("duplicated-passage spans are consistent and cover the exact-dup docs") {
    val rows = ops.Dedup.qDupPassages(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_spans") >= 1L)
      assert(r.getAs[Long]("max_span") >= 8L)
      assert(r.getAs[Long]("dup_tokens") >= r.getAs[Long]("max_span"))
      val ratio = r.getAs[Double]("dup_ratio")
      assert(ratio > 0.0 && ratio <= 1.0)
    }
    // the fixture's planted near-dup pairs share close-to-whole-doc
    // passages, so both sides of every MinHash pair must surface here
    // with most of their token range covered
    val here = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_ratio")).toMap
    val nearDup = ops.Dedup.qDedupMinhash(spark, sf).collect()
      .flatMap(r => Seq(r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(nearDup.nonEmpty)
    nearDup.foreach { d =>
      assert(here.contains(d), s"near-dup doc $d missing from passage report")
      assert(here(d) >= 0.5, s"near-dup doc $d covered only ${here(d)}")
    }
  }

  test("vocabulary coverage curve is monotone and bounded") {
    val rows = ops.Text.qVocabCoverage(spark, sf).collect()
    assert(rows.length === 3)
    val byCut = rows.sortBy(_.getAs[Int]("cutoff"))
    val covs = byCut.map(_.getAs[Double]("coverage"))
    assert(covs.sorted.toSeq === covs.toSeq, "coverage monotone in cutoff")
    covs.foreach(c => assert(c > 0.0 && c <= 1.0))
    byCut.foreach { r =>
      assert(r.getAs[Long]("vocab_kept") <= r.getAs[Int]("cutoff").toLong)
      assert(r.getAs[Long]("covered_tokens") >= r.getAs[Long]("vocab_kept"))
    }
  }

  test("calibration bins partition the corpus and ECE is their weighted gap") {
    val rows = ops.Text.qCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === ops.T.documents(spark, sf).count())
    val ece = rows.head.getAs[Double]("ece")
    rows.foreach { r =>
      assert(r.getAs[Int]("bin") >= 0 && r.getAs[Int]("bin") <= 9)
      assert(r.getAs[Double]("conf") >= 0.0 && r.getAs[Double]("conf") <= 1.0)
      assert(r.getAs[Double]("acc") >= 0.0 && r.getAs[Double]("acc") <= 1.0)
      assert(math.abs(r.getAs[Double]("gap")
        - math.abs(r.getAs[Double]("acc") - r.getAs[Double]("conf"))) < 2e-4)
      assert(r.getAs[Double]("ece") === ece, "ECE identical on every row")
    }
    // ECE recomputed from the bins matches the broadcast value
    val recomputed = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("gap")).sum / total
    assert(math.abs(recomputed - ece) < 1e-3)
  }

  test("rrf fusion scores decompose into the two list ranks") {
    val rows = ops.Text.qRrfFusion(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      val ra = r.getAs[Long]("ra"); val rb = r.getAs[Long]("rb")
      assert(ra >= 0 && ra <= 20 && rb >= 0 && rb <= 20)
      assert(ra > 0 || rb > 0, "doc must appear in at least one list")
      val expect = (if (ra > 0) 1.0 / (60 + ra) else 0.0) +
        (if (rb > 0) 1.0 / (60 + rb) else 0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 2e-6)
    }
    // fused order is by rrf descending
    val rrfs = rows.map(_.getAs[Double]("rrf"))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
  }

  test("readability profile is internally consistent per source") {
    val rows = ops.Text.qReadability(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 1L)
      assert(r.getAs[Double]("words_per_sentence") >= 1.0)
      assert(r.getAs[Double]("syllables_per_word") >= 1.0)
      val flesch = r.getAs[Double]("flesch")
      // recompute from the two reported component means (equal within
      // rounding because the formula is affine in them)
      val expect = 206.835 - 1.015 * r.getAs[Double]("words_per_sentence") -
        84.6 * r.getAs[Double]("syllables_per_word")
      assert(math.abs(flesch - expect) < 0.05)
    }
  }

  test("feature-hash collisions shrink as the bucket space grows") {
    val rows = ops.Text.qFeatureHashAudit(spark, sf).collect().sortBy(_.getAs[Int]("k"))
    assert(rows.length === 3)
    val nTok = rows.head.getAs[Long]("n_tokens")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") === nTok, "same vocabulary for every k")
      assert(r.getAs[Long]("buckets_used") <=
        math.min(r.getAs[Long]("n_buckets"), nTok))
      val cr = r.getAs[Double]("collision_rate")
      assert(cr >= 0.0 && cr < 1.0)
    }
    val rates = rows.map(_.getAs[Double]("collision_rate"))
    assert(rates.zip(rates.tail).forall { case (a, b) => b <= a },
      "collision rate must not grow with bucket count")
  }

  test("log-odds distinctive terms rank top-3 per source by z") {
    val rows = ops.Text.qLogOddsTerms(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq === (1L to sorted.length).toSeq)
      assert(sorted.length <= 3)
      val zs = sorted.map(_.getAs[Double]("z"))
      assert(zs.zip(zs.tail).forall { case (a, b) => a >= b })
      sorted.foreach(r => assert(r.getAs[Long]("c") >= 1L))
    }
  }

  test("boilerplate report ranks grams by doc frequency with source spread") {
    val rows = ops.Curation.qBoilerplate(spark, sf).collect()
    assert(rows.length === 20)
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Long]("df") >= r.getAs[Long]("n_sources"),
        "a gram appears in at least as many docs as sources")
      val share = r.getAs[Double]("share")
      assert(share > 0.0 && share <= 1.0)
      assert(r.getAs[String]("g").split(" ").length === 5)
    }
  }

  test("dup-ngram coverage rates are consistent fractions") {
    val rows = ops.Dedup.qDupNgramCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_windows") <= r.getAs[Long]("n_windows"))
      val micro = r.getAs[Double]("micro_dup")
      val macroD = r.getAs[Double]("macro_dup")
      val share = r.getAs[Double]("share_gt20")
      assert(micro >= 0.0 && micro <= 1.0)
      assert(macroD >= 0.0 && macroD <= 1.0)
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("MLM mask plan: ~15% selection, roles partition the selected set") {
    val rows = ops.Curation.qMlmMaskPlan(spark, sf).collect()
    assert(rows.nonEmpty)
    val (tot, sel) = rows.map(r =>
      (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_selected")))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val rate = sel.toDouble / tot
    assert(rate > 0.12 && rate < 0.18, s"corpus selection rate $rate")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_mask") + r.getAs[Long]("n_random")
        + r.getAs[Long]("n_keep") === r.getAs[Long]("n_selected"))
      // 80/10/10 split within sampling noise per source
      assert(r.getAs[Long]("n_mask") > r.getAs[Long]("n_random"))
    }
  }

  test("tokenizer fertility >= 1 subword per word") {
    val rows = ops.Text.qTokenizerFertility(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") >= 1.0 - 1e-9)
      assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_words"))
    }
  }

  test("as-of tolerance: matches are within the hour, supersets stay null") {
    import org.apache.spark.sql.functions._
    val df = ops.Relational.qAsofTolerance(spark, sf)
    assert(df.filter(col("click_us").isNotNull &&
      (col("p_us") - col("click_us") > 3600000000L ||
       col("click_us") > col("p_us"))).count() === 0)
    // tolerance can only null out matches relative to the untolerated asof
    val plain = ops.Relational.qAsofJoin(spark, sf)
      .select(col("event_id"), col("click_us").as("plain_click"))
    val j = df.join(plain, Seq("event_id"))
    assert(j.filter(col("click_us").isNotNull &&
      col("click_us") =!= col("plain_click")).count() === 0)
  }

  test("source jaccard in (0,1]; HHI between 1/k and 1") {
    val j = ops.Text.qSourceJaccard(spark, sf).collect()
    assert(j.nonEmpty && j.length <= 15)
    j.foreach { r =>
      val v = r.getAs[Double]("jaccard")
      assert(v > 0.0 && v <= 1.0)
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
    }
    val h = ops.Text.qHhiConcentration(spark, sf).collect().head
    val k = h.getAs[Long]("n_sources")
    val hhi = h.getAs[Double]("hhi")
    assert(hhi >= 1.0 / k - 1e-9 && hhi <= 1.0)
    assert(math.abs(h.getAs[Double]("effective_sources") - 1.0 / hhi) < 0.01)
  }

  test("winnowing: density near the 2/(w+1) theoretical rate, shares bounded, deterministic") {
    val rows = ops.Dedup.qWinnowing(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // random-hash winnowing selects ~2/(w+1) = 0.4 of grams; distinct
      // fingerprints only shrink that, so density lives well inside (0, 1]
      val d = r.getAs[Double]("avg_density")
      assert(d > 0.0 && d <= 1.0, s"density $d out of range")
      val nFp = r.getAs[Long]("n_fp_distinct")
      val nSh = r.getAs[Long]("n_shared")
      assert(nSh >= 0 && nSh <= nFp)
      val ratio = r.getAs[Double]("shared_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    val again = ops.Dedup.qWinnowing(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("good-turing: probabilities bounded, rows ordered, singleton mass = p0") {
    val rows = ops.Text.qGoodTuring(spark, sf).collect()
    assert(rows.nonEmpty)
    val p0 = rows.head.getAs[Double]("p0")
    assert(p0 > 0.0 && p0 < 1.0)
    rows.foreach { r =>
      assert(r.getAs[Double]("p0") === p0, "p0 is a corpus constant")
      assert(r.getAs[Long]("n_r") > 0)
      val ms = r.getAs[Double]("mass_share")
      assert(ms > 0.0 && ms < 1.0)
      assert(r.getAs[Double]("r_star") >= 0.0)
    }
    assert(rows.map(_.getAs[Long]("r")).toSeq === rows.map(_.getAs[Long]("r")).toSeq.sorted)
    // the r=1 row's mass share IS the missing-mass estimate: 1*N_1/N
    rows.find(_.getAs[Long]("r") == 1L).foreach { r1 =>
      assert(math.abs(r1.getAs[Double]("mass_share") - p0) < 1e-5)
    }
  }

  test("heaps-law fit: sublinear growth exponent in (0, 1]") {
    val r = ops.Text.qHeapsLaw(spark, sf).collect().head
    val beta = r.getAs[Double]("beta")
    val k = r.getAs[Double]("k")
    assert(r.getAs[Long]("n_sources") > 1)
    // vocabulary grows, but no faster than the corpus itself
    assert(beta > 0.0 && beta <= 1.0, s"beta $beta outside (0,1]")
    assert(k > 0.0)
  }

  test("line dedup: per-source counts consistent and ratios bounded") {
    val rows = ops.Dedup.qLineDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_sents")
      val d = r.getAs[Long]("n_dup_sents")
      assert(n > 0 && d >= 0 && d <= n)
      val ratio = r.getAs[Double]("dup_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(math.abs(ratio - d.toDouble / n) < 1e-3)
    }
  }

  test("textrank: 15 keywords, no stopwords, scores above the damping floor") {
    val rows = ops.Text.qTextrank(spark, sf).collect()
    assert(rows.length === 15)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "keywords not rank-ordered")
    // every surviving node keeps at least the (1-d) restart mass
    scores.foreach(s => assert(s >= 0.15 - 1e-9))
    rows.foreach(r => assert(r.getAs[String]("token").length > 2))
  }

  test("ks statistic bounds the AUC: KS >= 2*AUC - 1") {
    val ks = ops.Text.qKsClassifier(spark, sf).collect().head
    val d = ks.getAs[Double]("ks")
    assert(d >= 0.0 && d <= 1.0)
    val auc = ops.Text.qAucQuality(spark, sf).collect().head.getAs[Double]("auc")
    assert(d + 1e-6 >= 2.0 * auc - 1.0, s"KS $d below 2*AUC-1 (auc=$auc)")
    assert(ks.getAs[Long]("n_pos") > 0 && ks.getAs[Long]("n_docs") > ks.getAs[Long]("n_pos"))
  }

  test("brier decomposition: components bounded and near-additive") {
    val r = ops.Text.qBrierScore(spark, sf).collect().head
    val (b, rel, res, unc) = (r.getAs[Double]("brier"), r.getAs[Double]("reliability"),
      r.getAs[Double]("resolution"), r.getAs[Double]("uncertainty"))
    assert(b >= 0.0 && b <= 1.0)
    assert(rel >= 0.0 && res >= -1e-9 && unc >= 0.0 && unc <= 0.25)
    assert(res <= unc + 1e-9, "resolution cannot exceed uncertainty")
    // B = REL - RES + UNC up to the within-bin score variance (0.1 bins)
    assert(math.abs(b - (rel - res + unc)) <= 0.01,
      s"decomposition drift: $b vs ${rel - res + unc}")
  }

  test("jsd matrix: bounded by ln 2, pairs ordered") {
    val rows = ops.Text.qJsdMatrix(spark, sf).collect()
    assert(rows.length === 15)
    rows.foreach { r =>
      val j = r.getAs[Double]("jsd")
      assert(j >= -1e-9 && j <= 0.6931471805599453 + 1e-9, s"jsd $j out of [0, ln2]")
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
    }
  }

  test("self-bleu: 20 probes, clipped precision within [0,1]") {
    val rows = ops.Text.qSelfBleu(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("clip") <= r.getAs[Long]("tot"))
      val p = r.getAs[Double]("self_bleu1")
      assert(p >= 0.0 && p <= 1.0)
    }
  }

  test("chao1 dominates the observed vocabulary size") {
    val r = ops.Text.qChao1(spark, sf).collect().head
    val (v, f1, f2) = (r.getAs[Long]("v"), r.getAs[Long]("f1"), r.getAs[Long]("f2"))
    assert(f1 + f2 <= v)
    assert(r.getAs[Double]("chao1") >= v.toDouble, "estimate below observed richness")
  }

  test("lang-id confusion matrix: cells total the corpus, row shares sum to 1") {
    val rows = ops.Text.qLangIdConfusion(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === ops.T.documents(spark, sf).count())
    rows.groupBy(_.getAs[String]("true_lang")).foreach { case (lang, rs) =>
      val share = rs.map(_.getAs[Double]("row_share")).sum
      assert(math.abs(share - 1.0) < 0.002, s"$lang row shares sum to $share")
    }
    // the heuristic must beat chance on its home turf: the 'en'
    // diagonal cell is the largest in its row (stopword lists are
    // English-skewed by construction)
    val en = rows.filter(_.getAs[String]("true_lang") == "en")
    if (en.nonEmpty) {
      val best = en.maxBy(_.getAs[Long]("n"))
      assert(best.getAs[String]("pred_lang") === "en",
        s"en row's argmax is ${best.getAs[String]("pred_lang")}")
    }
  }

  test("unigram LM step: engine top-20 equals a driver-side Viterbi replay") {
    import org.apache.spark.sql.functions._
    val rows = ops.Text.qUnigramLm(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to 20L))
    rows.foreach { r =>
      val p = r.getAs[String]("piece")
      assert(p.nonEmpty && p.length <= 4)
      assert(r.getAs[Long]("usage") > 0L)
      assert(r.getAs[Double]("logp") < 0.0)
    }
    // independent replay of the full estimator on the driver: the
    // distinct-word table is vocabulary-bounded, so collecting it is
    // legitimate in a test (never in the operator)
    val words = ops.T.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("count")).toMap
    val freq = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, c) <- words; i <- 0 until w.length; l <- 1 to 4
         if i + l <= w.length)
      freq(w.substring(i, i + l)) += c
    val chars = freq.filter(_._1.length == 1)
    val top = freq.filter(_._1.length > 1).toSeq
      .sortBy { case (p, f) => (-f, p) }.take(200)
    val vocab = (chars.toSeq ++ top).toMap
    val fTot = vocab.values.sum.toDouble
    val lp = vocab.map { case (p, f) => p -> math.log(f / fTot) }
    val usage = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, c) <- words) {
      val n = w.length
      val dp = Array.fill(n + 1)(Double.NegativeInfinity); dp(0) = 0.0
      val bp = Array.fill(n + 1)(0)
      for (i <- 1 to n; j <- math.max(0, i - 4) until i) {
        val piece = w.substring(j, i)
        lp.get(piece).foreach { s =>
          // strict > : ties keep the earlier (smaller) j = longer piece
          if (dp(j) + s > dp(i)) { dp(i) = dp(j) + s; bp(i) = j }
        }
      }
      var cur = n
      while (cur > 0) { usage(w.substring(bp(cur), cur)) += c; cur = bp(cur) }
    }
    val expected = usage.toSeq.sortBy { case (p, u) => (-u, p) }.take(20)
      .zipWithIndex.map { case ((p, u), i) => (i + 1L, p, u) }
    val got = rows.map(r => (r.getAs[Long]("rank"), r.getAs[String]("piece"),
      r.getAs[Long]("usage"))).toSeq
    assert(got === expected)
  }

  test("unigram EM2: driver replay of both iterations (Viterbi -> M-step -> Viterbi) matches") {
    import org.apache.spark.sql.functions._
    val rows = ops.Text.qUnigramEm2(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to 20L))
    // full two-iteration replay on the driver (vocabulary-bounded, so
    // collecting the distinct-word table is legitimate in a test)
    val words = ops.T.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("count")).toMap
    val freq = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, c) <- words; i <- 0 until w.length; l <- 1 to 4
         if i + l <= w.length)
      freq(w.substring(i, i + l)) += c
    val chars = freq.filter(_._1.length == 1)
    val top = freq.filter(_._1.length > 1).toSeq
      .sortBy { case (p, f) => (-f, p) }.take(200)
    val vocab1 = (chars.toSeq ++ top).toMap
    def viterbiUsage(lp: Map[String, Double]): Map[String, Long] = {
      val usage = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      for ((w, c) <- words) {
        val n = w.length
        val dp = Array.fill(n + 1)(Double.NegativeInfinity); dp(0) = 0.0
        val bp = Array.fill(n + 1)(0)
        for (i <- 1 to n; j <- math.max(0, i - 4) until i) {
          lp.get(w.substring(j, i)).foreach { s =>
            // strict > : ties keep the earlier (smaller) j = longer piece
            if (dp(j) + s > dp(i)) { dp(i) = dp(j) + s; bp(i) = j }
          }
        }
        var cur = n
        while (cur > 0) { usage(w.substring(bp(cur), cur)) += c; cur = bp(cur) }
      }
      usage.toMap.withDefaultValue(0L)
    }
    val fTot = vocab1.values.sum.toDouble
    val lp1 = vocab1.map { case (p, f) => p -> math.log(f / fTot) }
    val u1 = viterbiUsage(lp1)
    // M-step: retained vocab = used pieces + all single chars,
    // add-one smoothing over the retained set
    val vocab2 = vocab1.keySet.filter(p => u1(p) > 0 || p.length == 1)
    val ut = vocab2.toSeq.map(u1).sum
    val lp2 = vocab2.map(p =>
      p -> math.log((u1(p) + 1).toDouble / (ut + vocab2.size))).toMap
    val u2 = viterbiUsage(lp2)
    val expected = u2.toSeq.sortBy { case (p, u) => (-u, p) }.take(20)
      .zipWithIndex.map { case ((p, u), i) => (i + 1L, p, u) }
    val got = rows.map(r => (r.getAs[Long]("rank"), r.getAs[String]("piece"),
      r.getAs[Long]("usage"))).toSeq
    assert(got === expected)
    // the prev-usage column is iteration 1's count for the same piece
    rows.foreach { r =>
      assert(r.getAs[Long]("usage_prev") === u1(r.getAs[String]("piece")))
      assert(r.getAs[Double]("logp2") < 0.0)
    }
  }

  test("BPE depth-8: driver replay of all eight merge rounds matches, fertility non-increasing") {
    import org.apache.spark.sql.functions._
    val rows = ops.Text.qBpeTrain8(spark, sf).collect()
    assert(rows.length === 8)
    // replay the fold on the driver: same seq encoding, same pair
    // count, same (count desc, a, b) argmax, same leftmost
    // non-overlapping replace
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var seqs = words.map { case (w, c) => (" " + w.map(ch => s"$ch ").mkString, c) }
    rows.zipWithIndex.foreach { case (row, idx) =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      seqs.foreach { case (seq, c) =>
        val s = seq.trim.split(" ")
        if (s.length >= 2)
          for (i <- 0 until s.length - 1)
            counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + c
      }
      val ((a, b), c) = counts.toSeq
        .sortBy { case ((x, y), n) => (-n, x, y) }.head
      assert(row.getAs[Int]("step") === idx + 1)
      assert(row.getAs[String]("lft") === a, s"round ${idx + 1} merge left")
      assert(row.getAs[String]("rgt") === b, s"round ${idx + 1} merge right")
      assert(row.getAs[String]("merged") === a + b)
      assert(row.getAs[Long]("wcount") === c, s"round ${idx + 1} pair count")
      seqs = seqs.map { case (seq, cnt) => (seq.replace(s" $a $b ", s" $a$b "), cnt) }
    }
    // fertility falls monotonically: every merge reduces the symbol
    // count of at least one word occurrence. The reported values are
    // rounded to 4 dp by the query, so a late merge whose gain is
    // below 5e-5 can round to EQUAL — assert non-strict on the
    // rounded values (r15 advice; strictness is covered by the exact
    // pair-count replay above).
    val ferts = rows.map(_.getAs[Double]("fertility"))
    ferts.sliding(2).foreach { case Array(hi, lo) => assert(hi >= lo); case _ => }
    // replayed final fertility matches the reported round-8 value
    val np = seqs.map { case (s, c) => s.trim.split(" ").length * c }.sum
    val nw = seqs.map(_._2).sum
    assert(math.abs(ferts.last - np.toDouble / nw) < 5e-5)
  }

  test("unigram serve: stored vocab == retrain bit-for-bit, encode conserves characters") {
    import org.apache.spark.sql.functions._
    // (a) stored == retrain: the EM-2 scores derive only from integer
    // usage counts, so the sidecar must equal a fresh training run
    // EXACTLY (no rounding tolerance) — the tokenizer family's
    // analogue of the q_index_persist stored==rebuild differential
    def vocabSet(df: org.apache.spark.sql.DataFrame) =
      df.select("p", "u1", "lp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val stored = vocabSet(ops.Text.storedUniVocab(spark, sf))
    val fresh = vocabSet(ops.Text.uniEm2Scores(spark, sf))
    assert(stored === fresh, "stored unigram vocab diverged from retrain")
    // (b) the serve pass segments every character exactly once:
    // per source, sum(piece_len x count) == total characters, and the
    // length buckets partition the piece count
    val rows = ops.Text.qUnigramApply(spark, sf).collect()
    assert(rows.nonEmpty)
    val charsBySrc = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source").agg(sum(length(col("w"))).as("nc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (l1, l2, l3, l4) = (r.getAs[Long]("pieces_len1"), r.getAs[Long]("pieces_len2"),
        r.getAs[Long]("pieces_len3"), r.getAs[Long]("pieces_len4"))
      assert(l1 + l2 + l3 + l4 === r.getAs[Long]("n_pieces"),
        "length buckets must partition the pieces")
      assert(l1 + 2 * l2 + 3 * l3 + 4 * l4 === charsBySrc(r.getAs[String]("source")),
        "piece lengths must reassemble the source's characters exactly")
      // a word is at least one piece; multi-char pieces make it fewer
      assert(r.getAs[Double]("fertility") >= 1.0)
      // on the training corpus itself the segmentability floor
      // guarantees every char is in-vocab
      assert(r.getAs[Double]("oov_char_rate") === 0.0)
    }
  }

  test("tokenizer staleness trigger: components consistent, self-corpus shard does not fire") {
    val r = ops.Text.qUnigramStale(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n_words_shard") > 0, "shard carve must be non-vacuous")
    assert(row.getAs[Long]("n_words_train") > row.getAs[Long]("n_words_shard"),
      "the shard is the ~10% tail, train era the rest")
    val ft = row.getAs[Double]("fertility_train")
    val fs = row.getAs[Double]("fertility_shard")
    assert(ft >= 1.0 && fs >= 1.0, "a word is at least one piece")
    assert(math.abs(row.getAs[Double]("fertility_ratio") - fs / ft) < 2e-3,
      "ratio must derive from the two fertilities")
    // the vocab trained on this very corpus: every char in-vocab, the
    // shard's fertility matches the train era's, no trigger
    assert(row.getAs[Double]("oov_char_rate_shard") === 0.0)
    assert(!row.getAs[Boolean]("retrain"),
      "self-corpus shard must not trigger a retrain")
  }

  test("dedup serving cost: four strategy rows, bounded and non-vacuous, minhash recall dominates its candidate budget") {
    val rows = ops.Dedup.qDedupServingCost(spark, sf).collect()
      .map(r => r.getAs[String]("strategy") -> r).toMap
    assert(rows.keySet === Set("a_minhash_4x4", "b_simhash_band8",
      "c_ngram_prefix", "d_embed_sign16"))
    val nTrue = rows.values.head.getAs[Long]("n_true")
    assert(nTrue > 0, "probe-anchored ground truth must be non-vacuous")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_true") === nTrue, "one shared ground truth")
      assert(r.getAs[Long]("n_hits") <= nTrue)
      assert(r.getAs[Long]("n_cand_probe") <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_cand_probe"))
      val rec = r.getAs[Double]("probe_recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the production choice must hold on the fixture: the 4x4 minhash
    // config reaches full probe recall on orders-of-magnitude fewer
    // candidates than the unverified banding strategies
    val mh = rows("a_minhash_4x4")
    assert(mh.getAs[Double]("probe_recall") === 1.0,
      "production minhash banding must find every probe-anchored true pair")
    assert(mh.getAs[Long]("n_candidates") < rows("b_simhash_band8").getAs[Long]("n_candidates"),
      "minhash candidate volume must undercut the simhash band join")
  }

  test("BPE serve: stored merges == retrain exactly, serve fertility equals training's final round") {
    // (a) stored == retrain: the merge table derives only from integer
    // pair counts with lexical tie-break, so the sidecar must equal a
    // fresh training run EXACTLY — the BPE analogue of the unigram
    // stored==retrain differential
    def mergeRows(df: org.apache.spark.sql.DataFrame) =
      df.select("step", "lft", "rgt", "merged").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val stored = mergeRows(ops.Text.storedBpeMerges(spark, sf))
    val fresh = mergeRows(ops.Text.qBpeTrain8(spark, sf))
    assert(stored === fresh, "stored BPE merge table diverged from retrain")
    // (b) the serve pass replays training's application order, so the
    // corpus-weighted overall fertility must equal qBpeTrain8's
    // round-8 fertility (same integer tallies, same 4dp rounding)
    val rows = ops.Text.qBpeApply(spark, sf).collect()
    assert(rows.nonEmpty)
    val np = rows.map(_.getAs[Long]("n_pieces")).sum
    val nw = rows.map(_.getAs[Long]("n_words")).sum
    val trainFinal = ops.Text.qBpeTrain8(spark, sf).collect()
      .maxBy(_.getAs[Int]("step")).getAs[Double]("fertility")
    assert(math.round(np.toDouble / nw * 1e4) / 1e4 === trainFinal,
      "serve fertility must equal training's final-round fertility")
    // (c) the length buckets partition the piece count per source
    rows.foreach { r =>
      val total = r.getAs[Long]("pieces_len1") + r.getAs[Long]("pieces_len2") +
        r.getAs[Long]("pieces_len3") + r.getAs[Long]("pieces_len4") +
        r.getAs[Long]("pieces_len5p")
      assert(total === r.getAs[Long]("n_pieces"),
        s"piece-length buckets must partition n_pieces for ${r.getAs[String]("source")}")
      assert(r.getAs[Double]("fertility") >= 1.0)
    }
  }

  test("BPE staleness trigger: components consistent, self-corpus shard does not fire") {
    val r = ops.Text.qBpeStale(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n_words_shard") > 0, "shard carve must be non-vacuous")
    assert(row.getAs[Long]("n_words_train") > row.getAs[Long]("n_words_shard"))
    val ft = row.getAs[Double]("fertility_train")
    val fs = row.getAs[Double]("fertility_shard")
    assert(ft >= 1.0 && fs >= 1.0)
    assert(math.abs(row.getAs[Double]("fertility_ratio") - fs / ft) < 2e-3)
    val st = row.getAs[Double]("singleton_rate_train")
    val ss = row.getAs[Double]("singleton_rate_shard")
    assert(st >= 0.0 && st <= 1.0 && ss >= 0.0 && ss <= 1.0)
    // rules trained on this very corpus: the shard's words merge like
    // the train era's, no retrain
    assert(!row.getAs[Boolean]("retrain"),
      "self-corpus shard must not trigger a BPE retrain")
  }

  test("unigram serve under a foreign vocab: fully-OOV words fall back to char-per-piece instead of vanishing (r15 advice)") {
    import java.nio.file.{Files, Paths}
    val trainDir = Files.createTempDirectory("graft-oov-train").toString
    val serveDir = Files.createTempDirectory("graft-oov-serve").toString
    import spark.implicits._
    val ascii = (0L until 20L).map { i =>
      (i, s"a cat sat on the mat and the rat ran item$i", "en", "web", 0L)
    }
    // serve corpus = train corpus + a 10% tail shard in an unseen
    // script: doc 20 is FULLY piece-less (every char unseen), doc 21
    // mixes a known char with an unseen one (the penalized-DP path)
    val shard = Seq(
      (20L, "\u03b1\u03b2\u03b3\u03b4 \u03b5\u03b6", "el", "oov", 0L),
      (21L, "a\u03b2", "el", "oov", 0L))
    def write(rows: Seq[(Long, String, String, String, Long)], dir: String): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(ascii, trainDir)
    write(ascii ++ shard, serveDir)
    val vocabPathA = ops.Fixtures.sidecarPath(trainDir, "univocab")
    val vocabPathB = ops.Fixtures.install(
      serveDir, "univocab", ops.Text.storedUniVocab(spark, trainDir))
    val mergesPathA = ops.Fixtures.sidecarPath(trainDir, "bpemerges")
    val mergesPathB = ops.Fixtures.install(
      serveDir, "bpemerges", ops.Text.storedBpeMerges(spark, trainDir))
    try {
      val bynSrc = ops.Text.qUnigramApply(spark, serveDir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      val oov = bynSrc("oov")
      // the 3 shard words are COUNTED, not dropped: "\u03b1\u03b2\u03b3\u03b4"
      // and "\u03b5\u03b6" have zero in-vocab pieces -> char-per-piece
      // fallback (4 + 2 len-1 pieces, all chars OOV); "a\u03b2" has the
      // in-vocab piece "a" so the penalized DP runs and emits the
      // single len-2 piece "a\u03b2" (one -1e18 beats lp_a - 1e18),
      // with exactly its one unseen char OOV
      assert(oov.getAs[Long]("n_words") === 3L, "fully-OOV words must not vanish from n_words")
      assert(oov.getAs[Long]("n_pieces") === 7L)
      assert(oov.getAs[Long]("pieces_len1") === 6L)
      assert(oov.getAs[Long]("pieces_len2") === 1L)
      assert(oov.getAs[Double]("fertility") === 2.3333) // round(7/3, 4)
      assert(oov.getAs[Double]("oov_char_rate") === 0.875) // 7 of 8 chars unseen
      // the train-era source still serves OOV-free under its own vocab
      assert(bynSrc("web").getAs[Double]("oov_char_rate") === 0.0)
      // staleness trigger: the unseen-script shard DRIVES the retrain
      // decision (oov rate 7/8 >> 1%) instead of vanishing from it
      val st = ops.Text.qUnigramStale(spark, serveDir).collect().head
      assert(st.getAs[Long]("n_words_shard") === 3L)
      assert(st.getAs[Double]("oov_char_rate_shard") === 0.875)
      assert(st.getAs[Boolean]("retrain") === true,
        "an all-new-script shard must fire the retrain trigger")
      // BPE under the same foreign rules: no ASCII-trained merge can
      // fire on the Greek shard, so every piece stays a single char
      // (fertility = chars/word = 8/3) and the gate reduces to the
      // fertility ratio computed from those integer tallies
      val bst = ops.Text.qBpeStale(spark, serveDir).collect().head
      assert(bst.getAs[Long]("n_words_shard") === 3L)
      assert(bst.getAs[Double]("fertility_shard") === 2.6667)
      assert(bst.getAs[Double]("singleton_rate_shard") === 1.0,
        "foreign-script pieces must all be unmerged single chars")
      val expectFire = bst.getAs[Double]("fertility_shard") /
        bst.getAs[Double]("fertility_train") > 1.1
      assert(bst.getAs[Boolean]("retrain") === expectFire,
        "BPE retrain gate must derive from the reported fertilities")
    } finally {
      def rm(p: String): Unit = {
        val f = Paths.get(p)
        if (Files.exists(f))
          Files.walk(f).sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.delete(q))
      }
      rm(vocabPathA); rm(vocabPathB); rm(mergesPathA); rm(mergesPathB)
      rm(trainDir); rm(serveDir)
    }
  }

  test("unigram prune: gains non-negative, zero exactly when an equal-cost segmentation exists") {
    val rows = ops.Text.qUnigramPrune(spark, sf).collect()
    assert(rows.length === 10)
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to 10L))
    rows.foreach { r =>
      assert(r.getAs[String]("piece").length > 1, "single chars are never prune candidates")
      assert(r.getAs[Long]("usage") > 0L)
      assert(r.getAs[Double]("nll_gain") >= -1e-6,
        s"removing a piece cannot improve the corpus likelihood: ${r.getAs[String]("piece")}")
    }
    // usage ordering matches the unigram step's own multi-char ranking
    val lm = ops.Text.qUnigramLm(spark, sf).collect()
      .filter(_.getAs[String]("piece").length > 1)
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("usage")).toMap
    rows.foreach { r =>
      val p = r.getAs[String]("piece")
      if (lm.contains(p)) assert(lm(p) === r.getAs[Long]("usage"),
        s"usage for $p must agree between the step and the prune audit")
    }
  }
}
