package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph operators over the event-transition graph (north-star
  * scope: link-style analysis a curation pipeline uses to weight or
  * canonicalize interlinked sources).
  *
  * The graph is the Markov transition graph of `q_transitions`: nodes
  * are event types, edge weight = count of consecutive (from, to) pairs
  * across user timelines. The shapes here are the generic Pregel-style
  * iteration expressed in DataFrame joins — per iteration one edge-join
  * shuffle keyed on the source node, one aggregation keyed on the
  * destination, and a 1-row broadcast for global mass — which is the
  * plan that scales to web-graph node counts. Iteration count is fixed
  * (power iteration, k=3), so lineage stays bounded without
  * checkpointing; an open-ended convergence loop would add the eager
  * `localCheckpoint` per round that `q_dedup_clusters` uses.
  */
object Graph extends QueryFamily {

  private val D = 0.85

  /** Weighted PageRank, 3 power iterations, damping 0.85, dangling mass
    * redistributed uniformly. Rank contributions flow along edges
    * normalized by out-weight; everything is hash-keyed on node id —
    * no per-iteration driver actions, no collect. */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Relational.qTransitions(spark, dir)
      .select($"from_type".as("u"), $"to_type".as("v"), $"n")
      .cache()
    val nodes = edges.select($"u".as("t"))
      .union(edges.select($"v".as("t"))).distinct().cache()
    val nDf = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val outw = edges.groupBy($"u").agg(sum($"n").cast("double").as("w"))
    val p = edges.join(outw, "u")
      .select($"u", $"v", ($"n".cast("double") / $"w").as("p"))
      .cache()
    // dangling membership is iteration-invariant: compute it once and
    // carry the flag inside the rank relation, so each iteration's
    // dangling mass is a filter+agg, not another anti-join shuffle
    val sources = edges.select($"u").distinct()
    val nodeMeta = nodes
      .join(sources.select($"u".as("t"), lit(true).as("has_out")), Seq("t"), "left_outer")
      .select($"t", coalesce($"has_out", lit(false)).as("has_out"))
      .cache()

    var ranks = nodeMeta.crossJoin(broadcast(nDf))
      .select($"t", $"has_out", (lit(1.0) / $"n_nodes").as("r"))
    for (_ <- 1 to 3) {
      // each iteration consumes `ranks` TWICE (dangling mass + edge
      // contributions); without truncation the final plan would contain
      // 2^k copies of the base subtree and re-execute every one of
      // them. One eager localCheckpoint per round keeps the lineage —
      // and the executed stage count — linear in k (same discipline as
      // the q_dedup_clusters fixpoint loop).
      val r = ranks.ckpt()
      val dangling = r.filter(!$"has_out")
        .agg(coalesce(sum($"r"), lit(0.0)).as("dang"))
      val contrib = p.join(r, p("u") === r("t"))
        .groupBy($"v").agg(sum($"r" * $"p").as("c"))
      ranks = nodeMeta
        .join(contrib, nodeMeta("t") === contrib("v"), "left_outer")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nDf))
        .select($"t", $"has_out",
          (lit(1.0 - D) / $"n_nodes"
            + lit(D) * (coalesce($"c", lit(0.0)) + $"dang" / $"n_nodes")).as("r"))
    }
    ranks.select($"t", round($"r", 6).as("rank")).orderBy($"t")
  }

  /** DuckDB twin: identical 3 unrolled iterations. */
  val qPagerankSql: String = {
    // one iteration: prev ranks CTE name -> next ranks SELECT
    def iter(prev: String): String =
      s"""SELECT n.t,
         |  (1 - 0.85) / (SELECT nn FROM nn)
         |    + 0.85 * (coalesce(c.s, 0) + d.dang / (SELECT nn FROM nn)) AS r
         |FROM nodes n
         |LEFT JOIN (SELECT p.v, sum($prev.r * p.p) AS s
         |           FROM p JOIN $prev ON $prev.t = p.u GROUP BY p.v) c ON c.v = n.t
         |CROSS JOIN (SELECT coalesce(sum(r), 0) AS dang FROM $prev
         |            WHERE t NOT IN (SELECT u FROM p)) d""".stripMargin
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
       |seq AS (SELECT event_type,
       |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
       |  FROM ev),
       |e AS (SELECT event_type AS u, next_type AS v, count(*) AS n
       |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT t FROM (SELECT u AS t FROM e UNION SELECT v FROM e)),
       |nn AS (SELECT count(*)::DOUBLE AS nn FROM nodes),
       |outw AS (SELECT u, sum(n)::DOUBLE AS w FROM e GROUP BY u),
       |p AS (SELECT e.u, e.v, e.n::DOUBLE / outw.w AS p FROM e JOIN outw ON outw.u = e.u),
       |r0 AS (SELECT t, 1.0 / (SELECT nn FROM nn) AS r FROM nodes),
       |r1 AS (${iter("r0")}),
       |r2 AS (${iter("r1")}),
       |r3 AS (${iter("r2")})
       |SELECT t, round(r, 6) AS rank FROM r3 ORDER BY t""".stripMargin
  }

  /** Degree / strength profile per node: in/out edge counts and
    * weighted in/out strength — one pass over the edge list, two
    * aggregations, full-outer merged so sinks and sources both
    * survive. The audit a graph build runs before any iteration. */
  def qGraphDegrees(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Relational.qTransitions(spark, dir)
      .select($"from_type".as("u"), $"to_type".as("v"), $"n")
    val out = edges.groupBy($"u".as("t"))
      .agg(count(lit(1)).as("out_deg"), sum($"n").as("out_w"))
    val in = edges.groupBy($"v".as("t"))
      .agg(count(lit(1)).as("in_deg"), sum($"n").as("in_w"))
    out.join(in, Seq("t"), "full_outer")
      .select($"t",
        coalesce($"out_deg", lit(0L)).as("out_deg"),
        coalesce($"out_w", lit(0L)).as("out_w"),
        coalesce($"in_deg", lit(0L)).as("in_deg"),
        coalesce($"in_w", lit(0L)).as("in_w"))
      .orderBy($"t")
  }

  val qGraphDegreesSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |seq AS (SELECT event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |  FROM ev),
      |e AS (SELECT event_type AS u, next_type AS v, count(*) AS n
      |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |o AS (SELECT u AS t, count(*) AS out_deg, sum(n) AS out_w FROM e GROUP BY u),
      |i AS (SELECT v AS t, count(*) AS in_deg, sum(n) AS in_w FROM e GROUP BY v)
      |SELECT coalesce(o.t, i.t) AS t,
      |  coalesce(out_deg, 0) AS out_deg, CAST(coalesce(out_w, 0) AS BIGINT) AS out_w,
      |  coalesce(in_deg, 0) AS in_deg, CAST(coalesce(in_w, 0) AS BIGINT) AS in_w
      |FROM o FULL OUTER JOIN i ON i.t = o.t
      |ORDER BY t""".stripMargin

  /** Shared edge list for the traversal operators: the distinct
    * directed (u, v) pairs of the transition graph. */
  private def edgeList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Relational.qTransitions(spark, dir)
      .select($"from_type".as("u"), $"to_type".as("v"))
  }

  /** BFS hop distance from a deterministic seed (the lexicographically
    * smallest node) via k=4 rounds of Bellman-Ford relaxation:
    * dist(v) := min(dist(v), min over in-edges (dist(u) + 1)). Each
    * round is one edge-join shuffle keyed on the source plus one min
    * aggregation keyed on the destination — the Pregel frontier shape
    * that scales to web-graph edge counts. The distance relation is
    * localCheckpoint-ed per round because each round reads it twice
    * (relaxation + carry-forward); unreached nodes keep a NULL
    * distance. The oracle unrolls the identical four relaxations, so
    * the comparison is exact whether or not 4 rounds reach a fixpoint. */
  def qGraphBfs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = edgeList(spark, dir).cache()
    val nodes = edges.select($"u".as("t"))
      .union(edges.select($"v".as("t"))).distinct().cache()
    val seed = nodes.agg(min($"t").as("seed"))

    var dist = nodes.crossJoin(broadcast(seed))
      .select($"t",
        when($"t" === $"seed", lit(0L)).otherwise(lit(null).cast("long")).as("d"))
    for (_ <- 1 to 4) {
      val cur = dist.ckpt()
      val relaxed = edges.join(cur, edges("u") === cur("t"))
        .filter($"d".isNotNull)
        .groupBy($"v").agg(min($"d" + 1L).as("cand"))
      dist = cur.join(relaxed, cur("t") === relaxed("v"), "left_outer")
        .select(cur("t"),
          when($"d".isNull, $"cand")
            .when($"cand".isNull, $"d")
            .otherwise(least($"d", $"cand")).as("d"))
    }
    dist.orderBy($"t")
  }

  val qGraphBfsSql: String = {
    def iter(prev: String): String =
      s"""SELECT $prev.t,
         |  CASE WHEN $prev.d IS NULL THEN c.cand
         |       WHEN c.cand IS NULL THEN $prev.d
         |       ELSE least($prev.d, c.cand) END AS d
         |FROM $prev
         |LEFT JOIN (SELECT e.v, min(p.d + 1) AS cand
         |           FROM e JOIN $prev p ON p.t = e.u AND p.d IS NOT NULL
         |           GROUP BY e.v) c ON c.v = $prev.t""".stripMargin
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
       |seq AS (SELECT event_type,
       |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
       |  FROM ev),
       |e AS (SELECT DISTINCT event_type AS u, next_type AS v
       |      FROM seq WHERE next_type IS NOT NULL),
       |nodes AS (SELECT DISTINCT t FROM (SELECT u AS t FROM e UNION SELECT v FROM e)),
       |d0 AS MATERIALIZED (SELECT t, CASE WHEN t = (SELECT min(t) FROM nodes)
       |                      THEN CAST(0 AS BIGINT) END AS d FROM nodes),
       |d1 AS MATERIALIZED (${iter("d0")}),
       |d2 AS MATERIALIZED (${iter("d1")}),
       |d3 AS (${iter("d2")}),
       |d4 AS (${iter("d3")})
       |SELECT t, d FROM d4 ORDER BY t""".stripMargin
  }

  /** Global triangle count over the undirected transition graph.
    * Edges are canonicalized to u < v (each undirected edge once), then
    * two equi-joins enumerate ordered wedges (a,b),(b,c) and close them
    * against (a,c) — every triangle a<b<c counted exactly once. Both
    * joins are hash-keyed equi-joins; at web scale the standard
    * degree-ordering refinement (orient edges low-degree -> high-degree
    * instead of by id) bounds the wedge count, and drops in here by
    * swapping the canonicalization key. */
  def qGraphTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgeList(spark, dir)
      .filter($"u" =!= $"v")
      .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
      .distinct()
      .cache()
    val wedges = e.as("e1")
      .join(e.as("e2"), $"e1.b" === $"e2.a")
      .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
    wedges.join(e.as("e3"), $"x" === $"e3.a" && $"z" === $"e3.b")
      .agg(count(lit(1)).as("n_triangles"))
  }

  val qGraphTrianglesSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |seq AS (SELECT event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |  FROM ev),
      |de AS (SELECT DISTINCT event_type AS u, next_type AS v
      |       FROM seq WHERE next_type IS NOT NULL AND event_type <> next_type),
      |e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM de)
      |SELECT count(*) AS n_triangles
      |FROM e e1 JOIN e e2 ON e2.a = e1.b
      |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin

  /** Structural node similarity: Jaccard over undirected neighbor
    * sets, for every node pair sharing ≥ 1 neighbor. Enumeration goes
    * THROUGH the common neighbor (self-join of the adjacency relation
    * on the neighbor key), so work is Σ deg(w)² over wedges — linear
    * in the wedge count and one equi-join shuffle, never the node-pair
    * cross product. Degrees join in as two bounded per-node aggregates
    * and |A∪B| = deg(a)+deg(b)−common closes the measure without ever
    * materializing the union set. The same degree-capping refinement
    * as `q_graph_triangles` bounds hub fan-out at web scale. */
  def qGraphJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val adj = edgeList(spark, dir)
      .filter($"u" =!= $"v")
      .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
      .distinct()
      .cache()
    // undirected adjacency: (node, neighbor) both directions
    val nbr = adj.select($"a".as("node"), $"b".as("w"))
      .union(adj.select($"b".as("node"), $"a".as("w")))
    val deg = nbr.groupBy($"node").agg(count(lit(1)).as("deg"))
    val common = nbr.as("n1")
      .join(nbr.as("n2"), $"n1.w" === $"n2.w" && $"n1.node" < $"n2.node")
      .groupBy($"n1.node".as("x"), $"n2.node".as("y"))
      .agg(count(lit(1)).as("common"))
    common
      .join(deg.withColumnRenamed("node", "x").withColumnRenamed("deg", "dx"), Seq("x"))
      .join(deg.withColumnRenamed("node", "y").withColumnRenamed("deg", "dy"), Seq("y"))
      .select($"x", $"y", $"common",
        round($"common" / ($"dx" + $"dy" - $"common"), 4).as("jaccard"))
      .orderBy(desc("jaccard"), asc("x"), asc("y"))
  }

  val qGraphJaccardSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |seq AS (SELECT event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |  FROM ev),
      |de AS (SELECT DISTINCT event_type AS u, next_type AS v
      |       FROM seq WHERE next_type IS NOT NULL AND event_type <> next_type),
      |adj AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM de),
      |nbr AS (SELECT a AS node, b AS w FROM adj
      |        UNION ALL SELECT b, a FROM adj),
      |deg AS (SELECT node, count(*) AS deg FROM nbr GROUP BY 1),
      |common AS (
      |  SELECT n1.node AS x, n2.node AS y, count(*) AS common
      |  FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w AND n1.node < n2.node
      |  GROUP BY 1, 2)
      |SELECT x, y, common,
      |  round(common / (dx.deg + dy.deg - common), 4) AS jaccard
      |FROM common
      |JOIN deg dx ON dx.node = x
      |JOIN deg dy ON dy.node = y
      |ORDER BY jaccard DESC, x, y""".stripMargin

  /** HITS hubs & authorities on the weighted transition graph: two
    * mutual-reinforcement iterations (authority ← in-edge hub mass,
    * hub ← out-edge authority mass), L1-normalized after every
    * half-step so both scores are probability-like and the oracle's
    * arithmetic stays division-by-a-1-row-sum instead of an
    * L2 sqrt (same cross-engine-determinism reasoning as
    * `q_pagerank`'s damping form). Per half-step the plan is one
    * edge-join shuffle keyed on the incident node, one hash aggregate
    * on the other endpoint, and a 1-row broadcast normalizer — the
    * Pregel shape that scales to web-graph node counts. The score
    * relation is consumed twice per half-step (mass + normalizer), so
    * each gets one eager localCheckpoint, keeping lineage linear in
    * the iteration count (the `q_pagerank` discipline). */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Relational.qTransitions(spark, dir)
      .select($"from_type".as("u"), $"to_type".as("v"),
        $"n".cast("double").as("n"))
      .cache()
    val nodes = edges.select($"u".as("t"))
      .union(edges.select($"v".as("t"))).distinct().cache()
    var hub = nodes.select($"t", lit(1.0).as("h"))
    var auth = nodes.select($"t", lit(0.0).as("a"))
    for (_ <- 1 to 2) {
      val h = hub.ckpt()
      val aRaw = edges.join(h, edges("u") === h("t"))
        .groupBy($"v").agg(sum($"n" * $"h").as("s"))
      val aTot = aRaw.agg(sum($"s").as("tot"))
      auth = nodes.join(aRaw, nodes("t") === aRaw("v"), "left_outer")
        .crossJoin(broadcast(aTot))
        .select($"t", (coalesce($"s", lit(0.0)) / $"tot").as("a"))
        .ckpt()
      val hRaw = edges.join(auth, edges("v") === auth("t"))
        .groupBy($"u").agg(sum($"n" * $"a").as("s"))
      val hTot = hRaw.agg(sum($"s").as("tot"))
      hub = nodes.join(hRaw, nodes("t") === hRaw("u"), "left_outer")
        .crossJoin(broadcast(hTot))
        .select($"t", (coalesce($"s", lit(0.0)) / $"tot").as("h"))
    }
    auth.join(hub, "t")
      .select($"t", round($"a", 6).as("authority"), round($"h", 6).as("hub"))
      .orderBy($"t")
  }

  /** DuckDB twin: identical 2 unrolled mutual-reinforcement rounds. */
  val qHitsSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
       |seq AS (SELECT event_type,
       |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
       |  FROM ev),
       |e AS (SELECT event_type AS u, next_type AS v, count(*)::DOUBLE AS n
       |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT t FROM (SELECT u AS t FROM e UNION SELECT v FROM e)),
       |h0 AS (SELECT t, 1.0 AS h FROM nodes),
       |a1_raw AS (SELECT e.v, sum(e.n * h0.h) AS s FROM e JOIN h0 ON h0.t = e.u GROUP BY e.v),
       |a1 AS (SELECT n.t, coalesce(r.s, 0) / (SELECT sum(s) FROM a1_raw) AS a
       |       FROM nodes n LEFT JOIN a1_raw r ON r.v = n.t),
       |h1_raw AS (SELECT e.u, sum(e.n * a1.a) AS s FROM e JOIN a1 ON a1.t = e.v GROUP BY e.u),
       |h1 AS (SELECT n.t, coalesce(r.s, 0) / (SELECT sum(s) FROM h1_raw) AS h
       |       FROM nodes n LEFT JOIN h1_raw r ON r.u = n.t),
       |a2_raw AS (SELECT e.v, sum(e.n * h1.h) AS s FROM e JOIN h1 ON h1.t = e.u GROUP BY e.v),
       |a2 AS (SELECT n.t, coalesce(r.s, 0) / (SELECT sum(s) FROM a2_raw) AS a
       |       FROM nodes n LEFT JOIN a2_raw r ON r.v = n.t),
       |h2_raw AS (SELECT e.u, sum(e.n * a2.a) AS s FROM e JOIN a2 ON a2.t = e.v GROUP BY e.u),
       |h2 AS (SELECT n.t, coalesce(r.s, 0) / (SELECT sum(s) FROM h2_raw) AS h
       |       FROM nodes n LEFT JOIN h2_raw r ON r.u = n.t)
       |SELECT a2.t, round(a2.a, 6) AS authority, round(h2.h, 6) AS hub
       |FROM a2 JOIN h2 ON h2.t = a2.t ORDER BY a2.t""".stripMargin

  /** Community detection by synchronous weighted label propagation:
    * every node starts in its own community; each round it adopts the
    * label carrying the greatest total edge weight among its
    * (undirected) neighbors, ties broken by the lexicographically
    * smallest label so the synchronous update is fully deterministic —
    * the degenerate-free variant of Raghavan et al.'s LPA that an
    * oracle can unroll. Two rounds, fixed. Per round: one edge-join
    * shuffle on the neighbor key, a (node, label)-keyed weight
    * aggregate, a node-keyed argmax — the same Pregel shape as
    * [[qPagerank]], linear in |E| per round at any graph size, with
    * one localCheckpoint per round keeping lineage flat. */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val de = Relational.qTransitions(spark, dir)
      .filter($"from_type" =!= $"to_type")
      .select($"from_type".as("u"), $"to_type".as("v"), $"n")
    val nbr = de.select($"u".as("node"), $"v".as("other"), $"n")
      .union(de.select($"v".as("node"), $"u".as("other"), $"n"))
      .groupBy($"node", $"other").agg(sum($"n").as("w"))
      .cache()
    val nodes = nbr.select($"node").distinct().cache()
    var labels = nodes.select($"node", $"node".as("lab"))
    for (_ <- 1 to 2) {
      val l = labels.ckpt()
      val sums = nbr
        .join(l.withColumnRenamed("node", "other"), Seq("other"))
        .groupBy($"node", $"lab").agg(sum($"w").as("s"))
      val wN = Window.partitionBy($"node")
      val best = sums.withColumn("ms", max($"s").over(wN))
        .filter($"s" === $"ms")
        .groupBy($"node").agg(min($"lab").as("lab"))
      labels = nodes.join(best, Seq("node"), "left_outer")
        .select($"node", coalesce($"lab", $"node").as("lab"))
    }
    labels.select($"node".as("t"), $"lab".as("community")).orderBy($"t")
  }

  /** Newman modularity of the [[qLabelProp]] partition — THE quality
    * score for a community structure: per community c,
    * contribution = intra_c/m − (deg_c/2m)², where m is the total
    * undirected edge weight, intra_c the weight inside c, and deg_c
    * the summed member strength. Positive contributions mean denser-
    * than-chance communities; Σ contributions is the partition's Q.
    * The labeling is recomputed (events scanned twice total — labeling
    * + edge weights — inside the plan-gate budget); edges then join
    * the node→community map on each endpoint and everything rolls up
    * to |communities| rows. On the event-type graph the label map is
    * broadcast-sized; at web scale the same plan runs the two endpoint
    * joins as node-keyed shuffles — no shape changes. */
  def qGraphModularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lab = qLabelProp(spark, dir)
      .select($"t", $"community").ckpt()
    val und = Relational.qTransitions(spark, dir)
      .filter($"from_type" =!= $"to_type")
      .select(least($"from_type", $"to_type").as("a"),
        greatest($"from_type", $"to_type").as("b"), $"n")
      .groupBy($"a", $"b").agg(sum($"n").as("w"))
      .cache()
    val m = und.agg(sum($"w").cast("double").as("m"))
    val e2 = und
      .join(broadcast(lab.select($"t".as("a"), $"community".as("ca"))), Seq("a"))
      .join(broadcast(lab.select($"t".as("b"), $"community".as("cb"))), Seq("b"))
    val intra = e2.filter($"ca" === $"cb")
      .groupBy($"ca".as("community")).agg(sum($"w").as("intra_w"))
    val strength = und.select($"a".as("t"), $"w")
      .union(und.select($"b".as("t"), $"w"))
      .groupBy($"t").agg(sum($"w").as("d"))
    val deg = strength.join(lab, Seq("t"))
      .groupBy($"community")
      .agg(count(lit(1)).as("n_nodes"), sum($"d").as("deg_w"))
    deg.join(intra, Seq("community"), "left_outer")
      .crossJoin(broadcast(m))
      .select($"community", $"n_nodes",
        coalesce($"intra_w", lit(0L)).as("intra_w"), $"deg_w",
        round(coalesce($"intra_w", lit(0L)) / $"m"
          - pow($"deg_w" / (lit(2.0) * $"m"), 2), 6).as("contrib"))
      .orderBy($"community")
  }

  // lazy: interpolates qLabelPropSql, which is declared further down
  // in this object (vals initialize in declaration order)
  lazy val qGraphModularitySql: String =
    s"""WITH lab AS (SELECT t, community FROM ($qLabelPropSql)),
       |ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
       |seq AS (SELECT event_type,
       |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
       |  FROM ev),
       |de AS (SELECT event_type AS u, next_type AS v, count(*) AS n
       |      FROM seq WHERE next_type IS NOT NULL AND event_type <> next_type
       |      GROUP BY 1, 2),
       |und AS (SELECT least(u, v) AS a, greatest(u, v) AS b, sum(n) AS w
       |       FROM de GROUP BY 1, 2),
       |m AS (SELECT sum(w)::DOUBLE AS m FROM und),
       |e2 AS MATERIALIZED (SELECT und.w, la.community AS ca, lb.community AS cb
       |      FROM und JOIN lab la ON la.t = und.a JOIN lab lb ON lb.t = und.b),
       |intra AS (SELECT ca AS community, CAST(sum(w) AS BIGINT) AS intra_w
       |      FROM e2 WHERE ca = cb GROUP BY 1),
       |st AS (SELECT t, CAST(sum(w) AS BIGINT) AS d FROM (
       |    SELECT a AS t, w FROM und UNION ALL SELECT b, w FROM und) GROUP BY t),
       |deg AS (SELECT l.community, count(*) AS n_nodes, CAST(sum(st.d) AS BIGINT) AS deg_w
       |      FROM st JOIN lab l ON l.t = st.t GROUP BY 1)
       |SELECT deg.community, n_nodes, coalesce(intra_w, 0) AS intra_w, deg_w,
       |  round(coalesce(intra_w, 0) / (SELECT m FROM m)
       |    - pow(deg_w / (2.0 * (SELECT m FROM m)), 2), 6) AS contrib
       |FROM deg LEFT JOIN intra USING (community) ORDER BY community""".stripMargin

  /** DuckDB twin: identical 2 unrolled synchronous rounds. */
  val qLabelPropSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |seq AS (SELECT event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |  FROM ev),
      |e AS (SELECT event_type AS u, next_type AS v, count(*) AS n
      |      FROM seq WHERE next_type IS NOT NULL AND event_type <> next_type
      |      GROUP BY 1, 2),
      |nbr AS (SELECT node, other, sum(n) AS w FROM (
      |    SELECT u AS node, v AS other, n FROM e
      |    UNION ALL SELECT v, u, n FROM e) GROUP BY 1, 2),
      |nodes AS (SELECT DISTINCT node FROM nbr),
      |l0 AS (SELECT node, node AS lab FROM nodes),
      |s1 AS (SELECT n.node, l.lab, sum(n.w) AS s FROM nbr n
      |       JOIN l0 l ON l.node = n.other GROUP BY 1, 2),
      |b1 AS (SELECT node, min(lab) AS lab FROM (
      |    SELECT node, lab, s, max(s) OVER (PARTITION BY node) AS ms FROM s1)
      |  WHERE s = ms GROUP BY node),
      |l1 AS (SELECT n.node, coalesce(b.lab, n.node) AS lab
      |       FROM nodes n LEFT JOIN b1 b USING (node)),
      |s2 AS (SELECT n.node, l.lab, sum(n.w) AS s FROM nbr n
      |       JOIN l1 l ON l.node = n.other GROUP BY 1, 2),
      |b2 AS (SELECT node, min(lab) AS lab FROM (
      |    SELECT node, lab, s, max(s) OVER (PARTITION BY node) AS ms FROM s2)
      |  WHERE s = ms GROUP BY node),
      |l2 AS (SELECT n.node, coalesce(b.lab, n.node) AS lab
      |       FROM nodes n LEFT JOIN b2 b USING (node))
      |SELECT node AS t, lab AS community FROM l2 ORDER BY t""".stripMargin

  /** k-core peeling (three rounds) over the part co-purchase graph —
    * the density-pruning primitive under community mining and
    * fraud-ring detection. Nodes are parts; an edge joins two parts
    * that ever share an order (the bounded per-order self-join of the
    * basket family: <= C(7,2) pairs per TPC-H order, so edges are
    * O(orders), never O(parts²)). k is DATA-DERIVED — ceil of the
    * unpeeled graph's mean degree — so the peel bites at any SF (a
    * fixed constant saturates as density grows with scale: measured
    * mean degree ~116 at sf0.01, ~120 at sf0.1); it is read to the
    * driver once and enters every round as a literal. Each round drops
    * nodes with degree < k and keeps only edges between survivors —
    * two endpoint semi-joins against one broadcast keep set plus one
    * degree aggregate, all keyed on the node, the Pregel shape that
    * scales to web graphs. Every relation is checkpointed lazily: the
    * job that first reads it keeps it, so a round launches the keep
    * set's broadcast and the degree shuffle and nothing else, and the
    * round's edge relation (read by the degree aggregate and by the
    * next round) is kept by the degree job. Output: per-round node/edge
    * counts — the peeling curve — which the oracle reproduces by
    * unrolling the identical three rounds. */
  def qKcorePeel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // edge build shares the basket family's reshape (r17): one sorted
    // collect_set basket per order + codegen'd combination explode
    // replaces the (l_orderkey, l_partkey) DISTINCT + orderkey
    // self-join that scanned lineitem twice and re-fanned baskets n×n
    var edges = Mining.basketPairsExploded(Mining.orderBaskets(spark, dir))
      .select($"part_a".as("pa"), $"part_b".as("pb")).distinct()
      .ckpt(eager = false)
    def degrees(ed: DataFrame): DataFrame =
      ed.select($"pa".as("t")).union(ed.select($"pb".as("t")))
        .groupBy($"t").agg(count(lit(1)).as("d"))
    // ONE node-sized degree relation per round serves both consumers:
    // the next round's keep set and the stats row, where n_nodes = row
    // count and n_edges = sum(d)/2 (each edge adds 2 to the total
    // degree) — no edge re-scan
    var deg = degrees(edges).ckpt(eager = false)
    // an empty graph has no mean and no keep set, so its stand-in 0
    // changes nothing
    val k = deg.agg(coalesce(ceil(avg($"d")).cast("long"), lit(0L)))
      .head().getLong(0)
    def stats(round: Int, dg: DataFrame): DataFrame =
      dg.agg(lit(round).as("peel_round"),
        count(lit(1)).as("n_nodes"),
        (coalesce(sum($"d"), lit(0L)) / 2).cast("long").as("n_edges"))
    var out = stats(0, deg)
    for (r <- 1 to 3) {
      // both semi-joins read this one relation, so it is broadcast once
      val keep = deg.filter($"d" >= k).select($"t".as("kt"))
      edges = edges
        .join(keep, $"pa" === $"kt", "left_semi")
        .join(keep, $"pb" === $"kt", "left_semi")
        .ckpt(eager = false)
      deg = degrees(edges).ckpt(eager = false)
      out = out.unionByName(stats(r, deg))
    }
    out.orderBy($"peel_round")
  }

  val qKcorePeelSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |d0 AS MATERIALIZED (SELECT t, count(*) AS d FROM (
      |    SELECT pa AS t FROM e0 UNION ALL SELECT pb FROM e0) GROUP BY t),
      |kk AS (SELECT CAST(ceil(avg(d)) AS BIGINT) AS k FROM d0),
      |k0 AS MATERIALIZED (SELECT t FROM d0 WHERE d >= (SELECT k FROM kk)),
      |e1 AS MATERIALIZED (SELECT pa, pb FROM e0
      |  WHERE pa IN (SELECT t FROM k0) AND pb IN (SELECT t FROM k0)),
      |d1 AS MATERIALIZED (SELECT t, count(*) AS d FROM (
      |    SELECT pa AS t FROM e1 UNION ALL SELECT pb FROM e1) GROUP BY t),
      |k1 AS MATERIALIZED (SELECT t FROM d1 WHERE d >= (SELECT k FROM kk)),
      |e2 AS MATERIALIZED (SELECT pa, pb FROM e1
      |  WHERE pa IN (SELECT t FROM k1) AND pb IN (SELECT t FROM k1)),
      |d2 AS MATERIALIZED (SELECT t, count(*) AS d FROM (
      |    SELECT pa AS t FROM e2 UNION ALL SELECT pb FROM e2) GROUP BY t),
      |k2 AS MATERIALIZED (SELECT t FROM d2 WHERE d >= (SELECT k FROM kk)),
      |e3 AS MATERIALIZED (SELECT pa, pb FROM e2
      |  WHERE pa IN (SELECT t FROM k2) AND pb IN (SELECT t FROM k2)),
      |s AS (
      |  SELECT 0 AS peel_round,
      |    (SELECT count(DISTINCT t) FROM (SELECT pa AS t FROM e0 UNION ALL SELECT pb FROM e0)) AS n_nodes,
      |    (SELECT count(*) FROM e0) AS n_edges
      |  UNION ALL SELECT 1,
      |    (SELECT count(DISTINCT t) FROM (SELECT pa AS t FROM e1 UNION ALL SELECT pb FROM e1)),
      |    (SELECT count(*) FROM e1)
      |  UNION ALL SELECT 2,
      |    (SELECT count(DISTINCT t) FROM (SELECT pa AS t FROM e2 UNION ALL SELECT pb FROM e2)),
      |    (SELECT count(*) FROM e2)
      |  UNION ALL SELECT 3,
      |    (SELECT count(DISTINCT t) FROM (SELECT pa AS t FROM e3 UNION ALL SELECT pb FROM e3)),
      |    (SELECT count(*) FROM e3))
      |SELECT peel_round, n_nodes::BIGINT AS n_nodes, n_edges::BIGINT AS n_edges
      |FROM s ORDER BY peel_round""".stripMargin

  /** Personalized PageRank: the random walk restarts at ONE seed node
    * (the data-adaptive choice: highest out-strength, name asc on
    * ties) instead of teleporting uniformly — the "related to X"
    * primitive under recommendation and local-community search.
    * Same 3-iteration unrolled power method as [[qPagerank]] with two
    * deltas: the restart mass (1−d) and each round's dangling mass
    * both flow to the seed only. The seed is a 1-row broadcast; each
    * iteration is one edge join + hash aggregate with per-round
    * `localCheckpoint` lineage truncation — node-keyed shuffles only,
    * nothing driver-side, so the plan is the one you'd run per-seed
    * at 100 TB (batched seeds = one extra seed-id key column). */
  def qPpr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Relational.qTransitions(spark, dir)
      .select($"from_type".as("u"), $"to_type".as("v"), $"n")
      .cache()
    val nodes = edges.select($"u".as("t"))
      .union(edges.select($"v".as("t"))).distinct().cache()
    val outw = edges.groupBy($"u").agg(sum($"n").cast("double").as("w"))
    val seed = outw.orderBy(desc("w"), asc("u")).limit(1)
      .select($"u".as("seed"))
    val p = edges.join(outw, "u")
      .select($"u", $"v", ($"n".cast("double") / $"w").as("p"))
      .cache()
    val sources = edges.select($"u").distinct()
    val nodeMeta = nodes
      .join(sources.select($"u".as("t"), lit(true).as("has_out")), Seq("t"), "left_outer")
      .crossJoin(broadcast(seed))
      .select($"t", coalesce($"has_out", lit(false)).as("has_out"),
        ($"t" === $"seed").as("is_seed"))
      .cache()

    var ranks = nodeMeta
      .select($"t", $"has_out", $"is_seed",
        when($"is_seed", 1.0).otherwise(0.0).as("r"))
    for (_ <- 1 to 3) {
      val r = ranks.ckpt()
      val dangling = r.filter(!$"has_out")
        .agg(coalesce(sum($"r"), lit(0.0)).as("dang"))
      val contrib = p.join(r, p("u") === r("t"))
        .groupBy($"v").agg(sum($"r" * $"p").as("c"))
      ranks = nodeMeta
        .join(contrib, nodeMeta("t") === contrib("v"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select($"t", $"has_out", $"is_seed",
          (when($"is_seed", lit(1.0 - D)).otherwise(lit(0.0))
            + lit(D) * (coalesce($"c", lit(0.0))
              + when($"is_seed", $"dang").otherwise(lit(0.0)))).as("r"))
    }
    ranks.select($"t", $"is_seed", round($"r", 6).as("rank"))
      .orderBy(desc("rank"), asc("t"))
  }

  val qPprSql: String = {
    def iter(prev: String): String =
      s"""SELECT n.t, n.is_seed,
         |  (CASE WHEN n.is_seed THEN 1 - 0.85 ELSE 0 END)
         |    + 0.85 * (coalesce(c.s, 0)
         |      + CASE WHEN n.is_seed THEN d.dang ELSE 0 END) AS r
         |FROM nodes n
         |LEFT JOIN (SELECT p.v, sum($prev.r * p.p) AS s
         |           FROM p JOIN $prev ON $prev.t = p.u GROUP BY p.v) c ON c.v = n.t
         |CROSS JOIN (SELECT coalesce(sum(r), 0) AS dang FROM $prev
         |            WHERE t NOT IN (SELECT u FROM p)) d""".stripMargin
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
       |seq AS (SELECT event_type,
       |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
       |  FROM ev),
       |e AS (SELECT event_type AS u, next_type AS v, count(*) AS n
       |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |outw AS (SELECT u, sum(n)::DOUBLE AS w FROM e GROUP BY u),
       |sd AS (SELECT u AS seed FROM outw ORDER BY w DESC, u LIMIT 1),
       |nodes AS (SELECT t, t = (SELECT seed FROM sd) AS is_seed
       |  FROM (SELECT DISTINCT t FROM (SELECT u AS t FROM e UNION SELECT v FROM e))),
       |p AS (SELECT e.u, e.v, e.n::DOUBLE / outw.w AS p FROM e JOIN outw ON outw.u = e.u),
       |r0 AS (SELECT t, is_seed, CASE WHEN is_seed THEN 1.0 ELSE 0.0 END AS r FROM nodes),
       |r1 AS (${iter("r0")}),
       |r2 AS (${iter("r1")}),
       |r3 AS (${iter("r2")})
       |SELECT t, is_seed, round(r, 6) AS rank FROM r3
       |ORDER BY round(r, 6) DESC, t""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_ppr", qPpr, Some(qPprSql)),
    QueryDef("q_kcore_peel", qKcorePeel, Some(qKcorePeelSql)),
    QueryDef("q_pagerank", qPagerank, Some(qPagerankSql)),
    QueryDef("q_hits", qHits, Some(qHitsSql)),
    QueryDef("q_label_prop", qLabelProp, Some(qLabelPropSql)),
    QueryDef("q_graph_modularity", qGraphModularity, Some(qGraphModularitySql)),
    QueryDef("q_graph_degrees", qGraphDegrees, Some(qGraphDegreesSql)),
    QueryDef("q_graph_bfs", qGraphBfs, Some(qGraphBfsSql)),
    QueryDef("q_graph_jaccard", qGraphJaccard, Some(qGraphJaccardSql)),
    QueryDef("q_graph_triangles", qGraphTriangles, Some(qGraphTrianglesSql)),
    QueryDef("q_clustering_coeff", qClusteringCoeff, Some(qClusteringCoeffSql)),
    QueryDef("q_assortativity", qAssortativity, Some(qAssortativitySql)))

  /** Local clustering coefficient per node — 2·T_v / (deg_v·(deg_v−1)),
    * the per-node closure statistic (q_graph_triangles gives only the
    * global count). Triangle enumeration reuses the oriented wedge join
    * (each triangle found exactly once as a < b < c... actually as the
    * ordered (x,y,z) wedge with one closing edge), then EXPLODES each
    * triangle to its three corners and counts per corner — so per-node
    * counts cost one extra |triangles|-sized aggregate, never a second
    * enumeration. Scale path: same degree-capped wedge bound as the
    * triangle/jaccard family. */
  def qClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgeList(spark, dir)
      .filter($"u" =!= $"v")
      .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
      .distinct()
      .cache()
    val nbr = e.select($"a".as("node"))
      .union(e.select($"b".as("node")))
    val deg = nbr.groupBy($"node").agg(count(lit(1)).as("deg"))
    val wedges = e.as("e1")
      .join(e.as("e2"), $"e1.b" === $"e2.a")
      .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
    val perNode = wedges.join(e.as("e3"), $"x" === $"e3.a" && $"z" === $"e3.b")
      .select(explode(array($"x", $"y", $"z")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select($"node", $"deg", coalesce($"tri", lit(0L)).as("tri"))
      .withColumn("cc",
        when($"deg" >= 2,
          round(lit(2.0) * $"tri" / ($"deg" * ($"deg" - 1)), 4))
          .otherwise(lit(0.0)))
      .orderBy($"node")
  }

  val qClusteringCoeffSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |seq AS (SELECT event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |  FROM ev),
      |de AS (SELECT DISTINCT event_type AS u, next_type AS v
      |       FROM seq WHERE next_type IS NOT NULL AND event_type <> next_type),
      |e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM de),
      |deg AS (SELECT node, count(*)::BIGINT AS deg FROM
      |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (SELECT node, count(*)::BIGINT AS tri FROM
      |  (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
      |SELECT deg.node AS node, deg, coalesce(tri, 0)::BIGINT AS tri,
      |  CASE WHEN deg >= 2 THEN round(2.0 * coalesce(tri, 0) / (deg * (deg - 1)), 4)
      |       ELSE 0.0 END AS cc
      |FROM deg LEFT JOIN pn ON pn.node = deg.node
      |ORDER BY node""".stripMargin

  /** Strength assortativity of the directed transition graph — the
    * Pearson correlation between source out-STRENGTH (total outgoing
    * transition weight) and target in-strength across distinct edges.
    * Positive r = heavy emitters feed heavy receivers; the one-number
    * mixing diagnostic link-graph curation reports alongside PageRank.
    * Strength (not unweighted degree) is the statistic because a
    * near-complete type graph has zero degree variance — weights carry
    * the signal. Strengths come from two bounded per-node aggregates
    * joined back onto the edge list; the correlation closes in one
    * aggregate with exact integer moments. */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val de = Relational.qTransitions(spark, dir)
      .select($"from_type".as("u"), $"to_type".as("v"), $"n")
      .filter($"u" =!= $"v")
      .cache()
    val outs = de.groupBy($"u").agg(sum($"n").as("sout"))
    val ins = de.groupBy($"v").agg(sum($"n").as("sin"))
    de.join(outs, Seq("u")).join(ins, Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum($"sout").as("sx"), sum($"sin").as("sy"),
        sum($"sout" * $"sin").as("sxy"),
        sum($"sout" * $"sout").as("sx2"),
        sum($"sin" * $"sin").as("sy2"))
      .select($"m".as("n_edges"),
        round(($"m" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"m" * $"sx2" - $"sx" * $"sx").cast("double") *
            ($"m" * $"sy2" - $"sy" * $"sy")), 4).as("assortativity"))
  }

  val qAssortativitySql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
      |seq AS (SELECT event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |  FROM ev),
      |de AS (SELECT event_type AS u, next_type AS v, count(*)::BIGINT AS n
      |       FROM seq WHERE next_type IS NOT NULL AND event_type <> next_type
      |       GROUP BY 1, 2),
      |outs AS (SELECT u, sum(n)::BIGINT AS sout FROM de GROUP BY u),
      |ins AS (SELECT v, sum(n)::BIGINT AS sin FROM de GROUP BY v),
      |a AS (SELECT count(*)::BIGINT AS m,
      |    sum(sout)::BIGINT AS sx, sum(sin)::BIGINT AS sy,
      |    sum(sout * sin)::BIGINT AS sxy,
      |    sum(sout * sout)::BIGINT AS sx2, sum(sin * sin)::BIGINT AS sy2
      |  FROM de JOIN outs USING (u) JOIN ins USING (v))
      |SELECT m AS n_edges,
      |  round((m * sxy - sx * sy) /
      |    sqrt((m * sx2 - sx * sx)::DOUBLE * (m * sy2 - sy * sy)), 4)
      |    AS assortativity
      |FROM a""".stripMargin
}
