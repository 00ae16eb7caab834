package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall@k of an approximate result set against its exact ground
  * truth — the measure-the-approximation audit every ANN and candidate
  * generator in this repo ships with. A hit is a (probe, item) row in
  * both sides, so a found row outside the truth never counts; a probe
  * or pool with no hit reports 0 hits and recall 0.0, never null.
  * Recall is rounded to 4 dp. The rank audits (NDCG, MAP, MRR) share
  * the per-probe universe and rounding through [[rankAudit]]. */
object RecallAudit {

  /** Per-probe recall: `truth` and `found` share the `key` (probe) and
    * `item` columns. Returns (key, `n_hits` long, `recall` double), one
    * row per key of `truth`. */
  def perKey(truth: DataFrame, found: DataFrame, key: String,
             item: String): DataFrame = {
    val hits = truth.join(found, Seq(key, item), "left_semi")
      .groupBy(col(key)).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col(key)).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq(key), "left")
      .select(col(key),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true"), 4)
          .as("recall"))
  }

  /** The tail shared by the rank audits (NDCG, MAP, MRR): one row per
    * key of `truth`, carrying the per-key `metric` column of `scores`
    * rounded to 4 dp. A key without a `scores` row gets 0.0, as
    * [[perKey]] gives a probe without a hit. With `mean`, the mean of the
    * metric over all keys is broadcast back onto every row as column
    * `mean`, rounded likewise; the per-key rows are checkpointed once and
    * feed both the rows and the mean. */
  def rankAudit(truth: DataFrame, scores: DataFrame, key: String, metric: String,
                mean: Option[String] = None): DataFrame = {
    val rows = truth.select(col(key)).distinct()
      .join(scores, Seq(key), "left")
      .select(col(key), coalesce(col(metric), lit(0.0)).as(metric))
    mean.fold(rows.select(col(key), round(col(metric), 4).as(metric))) { m =>
      val kept = rows.ckpt()
      kept.crossJoin(broadcast(kept.agg(avg(col(metric)).as(m))))
        .select(col(key), round(col(metric), 4).as(metric), round(col(m), 4).as(m))
    }
  }

  /** Pooled recall over every probe at once, matching on the `on`
    * columns: one row per `by` group of `found`, or exactly one row when
    * `by` is empty. Returns by ++ (`n_found` long, `n_hits` long,
    * `n_true` long, `recall` double), where `n_found` counts the group's
    * rows and `n_hits` those that are in `truth`; `n_true` is all of
    * `truth`. One aggregation yields both counts, so a group without a
    * hit still reports 0. Each `on` tuple must occur at most once in
    * `truth` and once per group in `found`, as in top-k lists and
    * distinct candidate pairs. `truth` is broadcast: it is the bounded
    * side (probes × k), while `found` may be a whole candidate set. */
  def pooled(truth: DataFrame, found: DataFrame, on: Seq[String],
             by: Seq[String] = Nil): DataFrame = {
    val keys = by.map(col)
    found.join(broadcast(truth.select(on.map(col) :+ lit(true).as("__hit"): _*)), on, "left")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_found"), count(col("__hit")).as("n_hits"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(keys ++ Seq(col("n_found"), col("n_hits"), col("n_true"),
        round(col("n_hits").cast("double") / col("n_true"), 4).as("recall")): _*)
  }
}
