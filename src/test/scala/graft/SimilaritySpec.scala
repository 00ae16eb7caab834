package graft

import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  private def pairs(df: org.apache.spark.sql.DataFrame, k: Int): Set[(Long, Long)] =
    df.filter(s"rank <= $k").select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The physical plans Spark executed while `f` ran, adaptive stages
    * included (a `localCheckpoint` reports its plan as an action). */
  private def executedPlans(f: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    org.apache.spark.sql.GraftShims.drainListeners(spark)
    spark.listenerManager.register(listener)
    try { f; org.apache.spark.sql.GraftShims.drainListeners(spark) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.flatMap(nodes)
  }

  test("exactTop: the k=3 truth is the ranked top 3, and a checkpointed truth plans no global sort") {
    import ops._
    val top3 = ops.Similarity.exactTop(spark, sf, 3).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top3.size === 30)
    assert(top3 === pairs(ops.Similarity.qSimBruteforce(spark, sf), 3))
    def globalSorts(plans: Seq[org.apache.spark.sql.execution.SparkPlan]) = plans.filter {
      case s: org.apache.spark.sql.execution.SortExec => s.global
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        x.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]
      case _ => false
    }
    // the detector sees the ordered form's sort ...
    assert(globalSorts(executedPlans(
      ops.Similarity.qSimBruteforce(spark, sf).select("q_id", "n_id").ckpt())).nonEmpty)
    // ... and the truth the recall audits checkpoint has none
    val plans = executedPlans(ops.Similarity.exactTop(spark, sf, 3).select("q_id", "n_id").ckpt())
    assert(plans.nonEmpty, "the checkpoint ran no plan")
    assert(globalSorts(plans).isEmpty, plans.mkString("\n"))
  }

  test("multi-probe LSH recall dominates single-bucket LSH") {
    val exact = pairs(ops.Similarity.qSimBruteforce(spark, sf), 3)
    val single = pairs(ops.Similarity.qSimLsh(spark, sf), 3)
    val multi = pairs(ops.Similarity.qSimLshMultiprobe(spark, sf), 3)
    val rSingle = (single & exact).size.toDouble / exact.size
    val rMulti = (multi & exact).size.toDouble / exact.size
    info(f"recall@3: single=$rSingle%.2f multi=$rMulti%.2f")
    assert(rMulti >= rSingle, "multi-probe must not lose recall")
  }

  test("nprobe=2 IVF recall dominates nprobe=1") {
    val exact = pairs(ops.Similarity.qSimBruteforce(spark, sf), 3)
    val one = pairs(ops.Similarity.qSimIvf(spark, sf), 3)
    val two = pairs(ops.Similarity.qSimIvfProbe2(spark, sf), 3)
    val rOne = (one & exact).size.toDouble / exact.size
    val rTwo = (two & exact).size.toDouble / exact.size
    info(f"recall@3: nprobe1=$rOne%.2f nprobe2=$rTwo%.2f")
    assert(rTwo >= rOne, "a second probe cell must not lose recall")
  }

  test("recall audit: a probe with no hit reports 0 hits and recall 0.0; pooled form") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("q_id", "n_id")
    // probe 1 finds two of three (plus a miss); probe 2 finds nothing
    val found = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 98L)).toDF("q_id", "n_id")
    val perKey = ops.RecallAudit.perKey(truth, found, "q_id", "n_id")
      .orderBy("q_id").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_hits"), r.getAs[Double]("recall")))
    assert(perKey.toSeq === Seq((1L, 2L, 0.6667), (2L, 0L, 0.0)))
    def counts(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (r.getAs[Long]("n_found"), r.getAs[Long]("n_hits"), r.getAs[Long]("n_true"),
        r.getAs[Double]("recall")))
    assert(counts(ops.RecallAudit.pooled(truth, found, Seq("q_id", "n_id"))) ===
      Seq((4L, 2L, 5L, 0.4)))
    // grouped by a column of the found side: the group without a hit
    // still reports 0, and n_true stays the whole truth
    assert(counts(ops.RecallAudit.pooled(truth, found, Seq("q_id", "n_id"), by = Seq("q_id"))
      .orderBy("q_id")) === Seq((3L, 2L, 5L, 0.4), (1L, 0L, 5L, 0.0)))
    // an empty found side still yields its one pooled row
    assert(counts(ops.RecallAudit.pooled(truth, found.filter($"q_id" === 3L),
      Seq("q_id", "n_id"))) === Seq((0L, 0L, 5L, 0.0)))
  }

  test("every ANN result is a genuine corpus vector with valid cosine") {
    val rows = ops.Similarity.qSimLshMultiprobe(spark, sf).collect()
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-9)
      assert(r.getAs[Long]("q_id") !== r.getAs[Long]("n_id"))
    }
  }

  test("GramTriangle aggregator matches the per-row product expansion") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions._
    val agg = ops.Similarity.qGramMatrix(spark, sf).collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")), r.getAs[Double]("g"))).toMap
    val ref = ops.T.embeddings(spark, sf)
      .select(explode(expr(
        """flatten(transform(sequence(0, 63), i ->
          |  transform(sequence(i, 63), j ->
          |    struct(i AS i, j AS j,
          |      cast(embedding[i] AS double) * cast(embedding[j] AS double) AS p))))"""
          .stripMargin)).as("s"))
      .groupBy($"s.i", $"s.j").agg(sum($"s.p").as("g")).collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")), r.getAs[Double]("g"))).toMap
    assert(agg.keySet === ref.keySet)
    assert(agg.size === 64 * 65 / 2)
    // query output is rounded to 4dp; the reference is exact
    agg.foreach { case (k, v) =>
      assert(math.abs(v - ref(k)) <= 5.0001e-5, s"triangle slot $k: $v vs ${ref(k)}")
    }
  }

  test("silhouette profile is bounded and accounts for every vector") {
    val rows = ops.Similarity.qSilhouette(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Double]("mean_s")
      val mn = r.getAs[Double]("min_s")
      assert(m >= -1.0 && m <= 1.0)
      assert(mn >= -1.0 && mn <= m)
      assert(r.getAs[Long]("n") >= 1L)
    }
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === ops.T.embeddings(spark, sf).count())
    // the fixture's label clusters are real: mean cohesion is positive
    assert(rows.map(r => r.getAs[Double]("mean_s") * r.getAs[Long]("n")).sum / total > 0.0)
  }

  test("range search returns a subset of brute-force range results at the same radius") {
    import org.apache.spark.sql.functions._
    val approx = ops.Similarity.qSimRangeSearch(spark, sf)
      .select(col("q_id"), col("n_id"), col("cos"))
    // every returned pair genuinely clears the radius
    assert(approx.filter(col("cos") < 0.3).count() === 0)
    // ANN candidates are a subset of the exact radius set: verify via
    // exact cosine recompute on the returned ids
    val e = ops.T.embeddings(spark, sf)
    val exact = e.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .filter(col("q_id") < 10)
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("v")),
        col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(graft.functions.F.cosineSimilarity(col("qv"), col("v")), 4).as("cos"))
      .filter(col("cos") >= 0.3)
    assert(approx.exceptAll(exact).count() === 0)
  }

  test("knn-graph recall stays above the measured floor (depth-change tripwire)") {
    // B=64/floor=2 measured 0.67 (sf0.001/0.01 shape) — a depth change
    // that collapses recall (the bucket-4 first cut hit 0.03 at sf0.1)
    // must fail here, the LshBandingSpec discipline for the sign family
    import org.apache.spark.sql.functions._
    val mean = ops.Similarity.qKnnGraphRecall(spark, sf)
      .agg(avg(col("recall"))).collect().head.getDouble(0)
    assert(mean >= 0.4, s"knn-graph candidate recall collapsed: $mean")
  }

  test("hard negatives: positive shares the anchor's label, negative never does") {
    import org.apache.spark.sql.functions._
    val rows = ops.Similarity.qHardNegatives(spark, sf)
    assert(rows.count() === 10)
    val lab = ops.T.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val j = rows
      .join(lab.select(col("vec_id").as("q_id"), col("label").as("ql")), Seq("q_id"))
      .join(lab.select(col("vec_id").as("pos_id"), col("label").as("pl")), Seq("pos_id"))
      .join(lab.select(col("vec_id").as("neg_id"), col("label").as("nl")),
        Seq("neg_id"), "left")
    assert(j.filter(col("pl") =!= col("ql")).count() === 0,
      "a positive must share the anchor's label")
    assert(j.filter(col("nl").isNotNull && col("nl") === col("ql")).count() === 0,
      "a hard negative must not share the anchor's label")
    // the triplet is trainable: positive at least as close as the negative
    // is NOT guaranteed (that's what makes it hard) — but both must be
    // real similarities
    rows.collect().foreach { r =>
      assert(r.getAs[Double]("pos_cos") >= -1.0 && r.getAs[Double]("pos_cos") <= 1.0)
    }
  }

  test("mutual-knn edges are symmetric members of the directed graph") {
    import org.apache.spark.sql.functions._
    val g = ops.Similarity.qKnnGraph(spark, sf)
      .select(col("src_id"), col("nbr_id"))
    val m = ops.Similarity.qMutualKnn(spark, sf)
    assert(m.count() > 0)
    assert(m.filter(col("a_id") >= col("b_id")).count() === 0)
    // both directions must exist in the directed graph
    val fwd = m.select(col("a_id").as("src_id"), col("b_id").as("nbr_id"))
    val bwd = m.select(col("b_id").as("src_id"), col("a_id").as("nbr_id"))
    assert(fwd.exceptAll(g).count() === 0)
    assert(bwd.exceptAll(g).count() === 0)
  }

  test("int8 scalar quantization: distortion within the codec's budget") {
    val r = ops.Similarity.qSqErrorAudit(spark, sf).collect().head
    assert(r.getAs[Long]("dim") === 64L)
    // 8-bit affine quantization: per-dim error <= step/2 = range/510,
    // so with O(1)-range dims MSE stays far below 1e-4
    assert(r.getAs[Double]("mse") < 1e-4)
    assert(r.getAs[Double]("max_abs_err") < 0.05)
    assert(r.getAs[Double]("avg_self_cos") > 0.999)
    assert(r.getAs[Double]("min_self_cos") > 0.99)
  }

  test("int8 quantized search keeps recall@3 usable") {
    val rows = ops.Similarity.qSqRecall(spark, sf).collect()
    assert(rows.length === 10)
    val avg = rows.map(_.getAs[Double]("recall")).sum / rows.length
    // measured 0.93 at sf0.1 / 1.0 at sf0.01; 0.7 is the never-regress floor
    assert(avg >= 0.7, s"avg recall@3 $avg below the int8 floor")
  }

  test("MAP@3 is a bounded mean of per-probe APs and agrees with a hand fold") {
    val rows = ops.Similarity.qMapAtK(spark, sf).collect()
    assert(rows.length === 10)
    val aps = rows.map(_.getAs[Double]("ap"))
    aps.foreach(ap => assert(ap >= 0.0 && ap <= 1.0 + 1e-9))
    val map = rows.map(_.getAs[Double]("map")).distinct
    assert(map.length === 1, "corpus MAP must be one broadcast scalar")
    // 4dp display rounding on both ap and map: the mean of rounded APs
    // can differ from the rounded mean by at most 5e-5 per term
    assert(math.abs(map.head - aps.sum / aps.length) <= 5e-4,
      "broadcast MAP must equal the mean of the per-probe APs")
  }

  test("MRR@3 dominates MAP@3 probe-by-probe (binary-relevance identity)") {
    val mapRows = ops.Similarity.qMapAtK(spark, sf).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("ap")).toMap
    val mrrRows = ops.Similarity.qSimMrr(spark, sf).collect()
    assert(mrrRows.length === 10)
    mrrRows.foreach { r =>
      val rr = r.getAs[Double]("rr")
      assert(rr >= 0.0 && rr <= 1.0)
      // with K=3 and binary relevance, AP@3 <= RR per probe
      assert(rr + 1e-9 >= mapRows(r.getAs[Long]("q_id")),
        s"probe ${r.getAs[Long]("q_id")}: rr $rr < ap")
    }
    val mrr = mrrRows.map(_.getAs[Double]("mrr")).distinct
    assert(mrr.length === 1, "corpus MRR must be one broadcast scalar")
  }

  test("two-tier audits: exact re-rank recovers everything the shortlist covers") {
    for (df <- Seq(ops.Similarity.qMatryoshkaRecall(spark, sf),
                   ops.Similarity.qBinaryQuantRecall(spark, sf))) {
      val rows = df.collect()
      assert(rows.length === 10)
      rows.foreach { r =>
        val (s, rr) = (r.getAs[Double]("recall_shortlist"), r.getAs[Double]("recall_rerank"))
        // an exact-top-3 member inside the shortlist always survives an
        // exact re-rank to top-3, so the two recalls must coincide
        assert(rr === s, s"rerank $rr != shortlist $s for probe ${r.getAs[Long]("q_id")}")
        assert(s >= 0.0 && s <= 1.0)
      }
      // measured 0.83/0.57 (binary/MRL) at sf0.01, 0.50/0.27 at sf0.1;
      // 0.2 is the never-regress floor for the 64-deep shortlist
      val avg = rows.map(_.getAs[Double]("recall_rerank")).sum / rows.length
      assert(avg >= 0.2, s"avg two-tier recall $avg below floor")
    }
  }

  test("lsh bucket skew: accounting exact, load near the scaled target") {
    val r = ops.Similarity.qLshBucketSkew(spark, sf).collect().head
    val (nb, nv, mx) = (r.getAs[Long]("n_buckets"), r.getAs[Long]("n_vecs"),
      r.getAs[Long]("max_bucket"))
    assert(nv === spark.read.parquet(s"$sf/embeddings.parquet").count())
    assert(mx >= (nv + nb - 1) / nb, "max below the pigeonhole mean")
    val ppv = r.getAs[Double]("pairs_per_vec")
    // scaled depth targets 64-vector buckets; 20x is the blowout tripwire
    assert(ppv <= 64.0 * 20, s"candidate load $ppv per vector — bucketing collapsed")
    assert(r.getAs[Long]("candidate_pairs") >= nv, "Σs² is at least n")
  }

  test("per-dimension standardization: sane moments, post-audit is (0,1)") {
    val rows = ops.Similarity.qEmbedStandardize(spark, sf).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      assert(r.getAs[Double]("sigma") > 0.0)
      assert(r.getAs[Double]("post_mu") === 0.0)
      assert(r.getAs[Double]("post_sd") === 1.0)
    }
  }

  test("knn search: k=3 per probe, no self-hits, audit pins the greedy-walk floor") {
    val res = ops.Similarity.qKnnSearch(spark, sf).collect()
    val perProbe = res.groupBy(_.getAs[Long]("q_id"))
    assert(perProbe.size === 10)
    perProbe.foreach { case (q, rows) =>
      assert(rows.length === 3, s"probe $q returned ${rows.length} != 3")
      assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(Seq(1L, 2L, 3L)))
      assert(rows.forall(_.getAs[Long]("n_id") != q), s"probe $q returned itself")
    }
    val rec = ops.Similarity.qKnnSearchRecall(spark, sf).collect()
    assert(rec.length === 10)
    val mean = rec.map(_.getAs[Double]("recall")).sum / rec.length
    // one fixed entry x 3 hops x degree-3 graph reaches <= 40 of the
    // corpus's nodes — the FLOOR serving config by design (HNSW raises
    // entry count/beam/degree/levels). Measured mean recall@3: 0.10 at
    // sf0.001, 0.13 at sf0.01, 0.07 at sf0.1; 0.05 is the
    // never-regress floor, and the registered audit keeps the real
    // number a field read per round.
    assert(mean >= 0.05, s"greedy-walk recall@3 $mean collapsed below floor")
    assert(mean <= 1.0)
  }

  test("semantic clusters: total labeling, min-id roots, decile edges actually cluster") {
    val rows = ops.Similarity.qSemanticClusters(spark, sf).collect()
    assert(rows.length === spark.read.parquet(s"$sf/embeddings.parquet").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_id") <= r.getAs[Long]("vec_id"),
        "root must be the component minimum")
    }
    // the top-decile mutual edges must produce at least one real
    // (size >= 2) cluster — a degenerate all-singleton labeling means
    // the threshold selected nothing
    val sizes = rows.groupBy(_.getAs[Long]("cluster_id")).map(_._2.length)
    assert(sizes.max >= 2, "no non-singleton semantic cluster")
  }

  test("semantic purity: bounded, accounts only non-singleton clusters") {
    val r = ops.Similarity.qSemanticPurity(spark, sf).collect().head
    val (nc, nv) = (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_vectors"))
    val p = r.getAs[Double]("purity")
    assert(nc >= 1, "no clusters to audit")
    assert(nv >= 2 * nc, "a non-singleton cluster has >= 2 members")
    // majority mass is at least 1/|labels| and at most all of it
    assert(p > 0.0 && p <= 1.0, s"purity $p out of range")
  }

  test("beam sweep: beams 1/3/6, recall bounded, widest beam never below the floor beam") {
    val rows = ops.Similarity.qKnnBeamSweep(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("beam")).toSeq === Seq(1, 3, 6))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_true"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // greedy walks are not strictly monotone in beam, but a 6-wide
    // frontier falling BELOW the 1-wide one would mean the sweep (or
    // the walk) is broken; measured 0.10/0.13/0.17 at sf0.01
    val byBeam = rows.map(r => r.getAs[Int]("beam") -> r.getAs[Double]("recall")).toMap
    assert(byBeam(6) >= byBeam(1), s"beam-6 recall ${byBeam(6)} below beam-1 ${byBeam(1)}")
  }

  test("entry sweep: E=1/2/4 coarse-seeded walks, E=4 meets the beam-6 floor") {
    val rows = ops.Similarity.qKnnEntrySweep(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("entries")).toSeq === Seq(1, 2, 4))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_true"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    val byE = rows.map(r => r.getAs[Int]("entries") -> r.getAs[Double]("recall")).toMap
    // within-sweep monotonicity is NOT asserted: with a FIXED beam the
    // entries share the per-hop beam budget, so a marginal entry can
    // displace deeper exploration of a better one (measured
    // 0.70/0.70/0.67 at sf0.001, 0.67/0.70/0.73 at sf0.01, 0.43 flat
    // at sf0.1 — the sweep makes that marginal value a field read).
    // The round-11 verdict's done-criterion: entry count is the bigger
    // serving lever than beam — coarse-LSH-seeded walks must meet the
    // fixed-entry beam-6 floor, and they dominate it at EVERY E
    // (measured 0.67..0.73 vs 0.17 at sf0.01, 0.43 vs 0.07 at sf0.1;
    // the label-cell-medoid first cut measured 0.0 at sf0.1 — see the
    // operator's data-adaptive entry note).
    val beam = ops.Similarity.qKnnBeamSweep(spark, sf).collect()
      .map(r => r.getAs[Int]("beam") -> r.getAs[Double]("recall")).toMap
    assert(byE(4) >= beam(6),
      s"E=4 recall ${byE(4)} below the beam-6 floor ${beam(6)}")
    assert(byE(1) >= beam(6),
      s"E=1 coarse-seeded recall ${byE(1)} below the beam-6 floor ${beam(6)}")
  }

  test("serving-cost table: one row per strategy, recalls equal the standalone audits") {
    val rows = ops.Similarity.qSimServingCost(spark, sf).collect()
    assert(rows.map(_.getAs[String]("strategy")).toSeq ===
      Seq("a_lsh_multiprobe", "b_ivf_adaptive", "c_graph_walk_e4",
        "d_filtered_prefilter", "e_graph_hier"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_candidates") > 0L)
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_true"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    val byName = rows.map(r => r.getAs[String]("strategy") -> r).toMap
    // a: equals the multiprobe pipeline's recall against the exact top-3
    val exact = pairs(ops.Similarity.qSimBruteforce(spark, sf), 3)
    val multi = pairs(ops.Similarity.qSimLshMultiprobe(spark, sf), 3)
    val rMulti = (multi & exact).size.toDouble / exact.size
    assert(math.abs(byName("a_lsh_multiprobe").getAs[Double]("recall") - rMulti) < 1e-3,
      s"lsh row ${byName("a_lsh_multiprobe")} != standalone $rMulti")
    // b: equals the adaptive audit's aggregate (per-q n_true = 3, so the
    // aggregate recall is the mean of per-q recalls) and its candidate
    // accounting (sum of n_cand_used)
    val ad = ops.Similarity.qSimProbeAdaptive(spark, sf).collect()
    val adAgg = ad.map(_.getAs[Double]("recall_adaptive")).sum / ad.length
    assert(math.abs(byName("b_ivf_adaptive").getAs[Double]("recall") - adAgg) < 2e-3,
      s"adaptive row ${byName("b_ivf_adaptive")} != standalone agg $adAgg")
    assert(byName("b_ivf_adaptive").getAs[Long]("n_candidates") ===
      ad.map(_.getAs[Long]("n_cand_used")).sum)
    // c: equals the entry sweep's E=4 row exactly (same walk, same truth)
    val e4 = ops.Similarity.qKnnEntrySweep(spark, sf).collect()
      .find(_.getAs[Int]("entries") == 4).get.getAs[Double]("recall")
    assert(byName("c_graph_walk_e4").getAs[Double]("recall") === e4)
    // d: equals the filtered audit's prefilter row exactly
    val pre = ops.Similarity.qFilteredSearchRecall(spark, sf).collect()
      .find(_.getAs[String]("strategy") == "a_prefilter").get.getAs[Double]("recall")
    assert(byName("d_filtered_prefilter").getAs[Double]("recall") === pre)
    // e: equals q_knn_hier_search's hier row exactly (same two-layer
    // walk, same truth, same candidate accounting)
    val hier = ops.Similarity.qKnnHierSearch(spark, sf).collect()
      .find(_.getAs[String]("strategy") == "b_hier_upper_entry").get
    assert(byName("e_graph_hier").getAs[Double]("recall") ===
      hier.getAs[Double]("recall"))
    assert(byName("e_graph_hier").getAs[Long]("n_candidates") ===
      hier.getAs[Long]("n_candidates"))
  }

  test("persisted index: stored artifact == rebuild, config recorded, and serving REUSES the stored bits") {
    import org.apache.spark.sql.functions._
    val session = spark
    import session.implicits._
    val stored = ops.Similarity.storedKnnGraph(spark, sf)
    // (a) config recorded: one constant (bits, hash_kind) pair, bits ==
    // the scaled depth of THIS corpus (ceil(log2(n/64)) clamped [2,16])
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val expBits = math.min(16, math.max(2,
      math.ceil(math.log(n / 64.0) / math.log(2)).toInt))
    val cfg = stored.select("bits", "hash_kind").distinct().collect()
    assert(cfg.length === 1, s"non-constant index config: ${cfg.mkString(",")}")
    assert(cfg(0).getInt(0) === expBits)
    assert(cfg(0).getString(1) === "sign16")
    // (b) stored edges == a fresh rebuild, row for row
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src_id"), col("rank").cast("long"), col("nbr_id"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    assert(edgeSet(stored) === edgeSet(ops.Similarity.qKnnGraph(spark, sf)),
      "stored sidecar diverged from the rebuild")
    // (c) stored-config REUSE: the serving quantizer takes its hash
    // depth from the index relation, not the corpus — a synthetic
    // index claiming bits=9 must produce 9-char buckets even though
    // this corpus's derived depth differs
    val idx9 = Seq((0L, 9)).toDF("src_id", "bits")
    val e0 = spark.read.parquet(s"$sf/embeddings.parquet")
    val buckets = ops.Similarity.quantizerFromIndex(e0, idx9)
      .select("bucket").as[String].collect()
    assert(buckets.nonEmpty && buckets.forall(_.length == 9),
      "quantizer re-derived its depth instead of reading the stored config")
    assert(expBits != 9, "fixture corpus happens to derive bits=9 — pick another synthetic depth")
  }

  test("persisted upper-layer graph: stored == rebuild, nodes are the 1/32 sample") {
    import org.apache.spark.sql.functions._
    val stored = ops.Similarity.storedKnnUpperGraph(spark, sf)
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src_id"), col("rank").cast("long"), col("nbr_id"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val fresh = edgeSet(ops.Similarity.buildKnnUpperGraph(spark, sf))
    assert(fresh.nonEmpty, "upper-layer build produced no edges")
    assert(edgeSet(stored) === fresh,
      "stored upper-layer sidecar diverged from the rebuild")
    // the coarse layer contains ONLY the deterministic 1/32 sample —
    // a stray base-layer node would mean the serve walk escapes the
    // hierarchy's contract
    val ids = stored.select(col("src_id")).union(stored.select(col("nbr_id")))
      .distinct().collect().map(_.getLong(0))
    assert(ids.forall(_ % 32 == 0), "upper layer contains a non-sampled node")
  }

  test("persisted PQ index: codebook shape, full code coverage, codes drawn from the codebook") {
    import org.apache.spark.sql.functions._
    val cb = ops.Similarity.storedPqCodebook(spark, sf)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val nLabels = e.select("label").distinct().count()
    val nVecs = e.count()
    // codebook: one centroid coordinate per (code, subspace, dim) =
    // |labels| x 4 subspaces x 16 dims
    assert(cb.count() === nLabels * 64)
    assert(cb.select("sub").distinct().count() === 4)
    // codes: every corpus vector encoded in every subspace, each code
    // a genuine codebook entry
    val codes = ops.Similarity.storedPqCodes(spark, sf)
    assert(codes.count() === nVecs * 4)
    assert(codes.select("n_id").distinct().count() === nVecs)
    val orphans = codes.join(
      cb.select(col("c").as("code"), col("sub")).distinct(),
      Seq("code", "sub"), "left_anti").count()
    assert(orphans === 0L, s"$orphans codes reference no codebook entry")
  }

  test("composed churn: insert-then-delete keeps the GDPR contract and serves the inserted ids") {
    val session = spark
    import session.implicits._
    val after = ops.Similarity.qKnnGraphChurn(spark, sf).collect()
    assert(after.nonEmpty)
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    // erasure survives the composition: deleted ids appear nowhere
    after.foreach { r =>
      assert(r.getAs[Long]("src_id") >= 2L, "deleted source row survived the churn")
      assert(r.getAs[Long]("nbr_id") >= 2L, "deleted id still served as a neighbor after churn")
    }
    // the insert survives the composition: both delta ids serve as sources
    val srcs = after.map(_.getAs[Long]("src_id")).toSet
    assert(srcs.contains(n - 1) && srcs.contains(n - 2),
      s"inserted ids missing from the churned graph sources")
    // per-source ranks stay a contiguous 1..k prefix
    after.groupBy(_.getAs[Long]("src_id")).foreach { case (s, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"source $s ranks $ranks not contiguous")
    }
  }

  test("graph delete: erased ids vanish as source and neighbor, untouched sources keep rows") {
    val after = ops.Similarity.qKnnGraphDelete(spark, sf).collect()
    assert(after.nonEmpty)
    // erasure: the deleted ids appear nowhere — not as a source row,
    // not as anyone's surviving neighbor (the GDPR contract)
    after.foreach { r =>
      assert(r.getAs[Long]("src_id") >= 2L, "deleted source row survived")
      assert(r.getAs[Long]("nbr_id") >= 2L, "deleted id still served as a neighbor")
    }
    // locality: sources whose stored top-3 had no deleted member keep
    // their exact rows (compare against the full-corpus graph)
    val before = ops.Similarity.qKnnGraph(spark, sf).collect()
      .groupBy(_.getAs[Long]("src_id"))
    val affected = before.collect {
      case (src, rows) if rows.exists(_.getAs[Long]("nbr_id") < 2L) => src
    }.toSet
    val afterBySrc = after.groupBy(_.getAs[Long]("src_id"))
    before.foreach { case (src, rows) =>
      if (src >= 2L && !affected.contains(src)) {
        val a = afterBySrc.getOrElse(src, Array.empty)
          .map(r => (r.getAs[Number]("rank").longValue, r.getAs[Long]("nbr_id"))).sorted.toSeq
        val b = rows
          .map(r => (r.getAs[Number]("rank").longValue, r.getAs[Long]("nbr_id"))).sorted.toSeq
        assert(a === b, s"untouched source $src changed rows after delete")
      }
    }
    assert(affected.nonEmpty, "fixture must exercise the re-rank path")
  }

  test("adaptive probe stop: bounds hold, stopping saves candidates, full sweep dominates") {
    val rows = ops.Similarity.qSimProbeAdaptive(spark, sf).collect()
    assert(rows.length === 10, "one row per probe")
    rows.foreach { r =>
      val used = r.getAs[Long]("probes_used")
      assert(used >= 2L && used <= 4L,
        "stability needs a confirming cell: used in [2, 4]")
      assert(r.getAs[Long]("n_cand_used") <= r.getAs[Long]("n_cand_full"))
      val ra = r.getAs[Double]("recall_adaptive")
      val rf = r.getAs[Double]("recall_full")
      assert(ra >= 0.0 && ra <= 1.0 && rf >= 0.0 && rf <= 1.0)
      // a query that never stabilized IS the full sweep
      if (used == 4L) assert(ra === rf)
    }
    // the policy must actually fire somewhere: at least one query stops
    // early, and early stops scan strictly fewer candidates
    val early = rows.filter(_.getAs[Long]("probes_used") < 4L)
    assert(early.nonEmpty, "no query stabilized before 4 probes")
    assert(early.forall(r => r.getAs[Long]("n_cand_used") < r.getAs[Long]("n_cand_full")))
  }

  test("filtered search: overfetch monotone, prefilter dominates, returns bounded") {
    val rows = ops.Similarity.qFilteredSearchRecall(spark, sf).collect()
    assert(rows.map(_.getAs[String]("strategy")).toSeq ===
      Seq("a_prefilter", "b_postfilter_x1", "b_postfilter_x2", "b_postfilter_x4"))
    val byS = rows.map(r => r.getAs[String]("strategy") ->
      (r.getAs[Long]("n_returned"), r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_returned") <= 30L, "top-3 per 10 probes max")
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_returned"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // set-inclusion guarantees, not measurements: a bigger overfetch
    // shortlist filters to a superset whose top-3 can only displace a
    // truth member with a better truth member, so recall is monotone
    // in F, and the prefiltered candidate set contains every
    // postfiltered shortlist, so prefilter dominates all of them
    assert(byS("b_postfilter_x2")._3 >= byS("b_postfilter_x1")._3)
    assert(byS("b_postfilter_x4")._3 >= byS("b_postfilter_x2")._3)
    assert(byS("a_prefilter")._3 >= byS("b_postfilter_x4")._3)
    // overfetch exists because x1 underfills: with a ~40% predicate
    // the unfiltered top-3 must lose rows somewhere across 10 probes
    assert(byS("b_postfilter_x1")._1 <= byS("b_postfilter_x4")._1)
  }

  test("incremental kNN-graph delta equals the full rebuild") {
    // oracle-level equality is the registered differential; this pins
    // the Spark-side invariant directly (and on the second fixture the
    // differential's sf0.01 run does not cover)
    val delta = ops.Similarity.qKnnGraphDelta(spark, sf).collect()
    val full = ops.Similarity.qKnnGraph(spark, sf).collect()
    assert(delta.length === full.length)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("src_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("nbr_id"), r.getAs[Double]("cos"))
    assert(delta.map(key).toSet === full.map(r =>
      (r.getAs[Long]("src_id"), r.getAs[Number]("rank").longValue(),
        r.getAs[Long]("nbr_id"), r.getAs[Double]("cos"))).toSet)
  }
}
