package graft

/** Plan auditor: prints the formatted physical plan of selected
  * registered queries (all by default) so scan pushdown (PushedFilters,
  * ReadSchema), join strategies (BroadcastHashJoin vs SortMergeJoin)
  * and WholeStageCodegen coverage can be reviewed per round.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n===== $n =====")
          println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"\n===== $n ===== (unknown query)")
      }
    }
    spark.stop()
  }
}
