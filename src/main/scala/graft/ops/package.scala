package graft

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions.{concat_ws, conv, expr, lit, md5, substring}

package object ops {

  /** The first `hexDigits` hex digits of `md5(c)` read as a bigint: the
    * one hash behind every md5-derived bucket, cell, permutation and
    * uniform in this package. A string `c` hashes as its UTF-8 bytes.
    * The DuckDB twins spell the same number as a sum of nibbles over
    * `substr(md5(x), i, 1)`, so both engines agree hash for hash. */
  def md5Hash(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("bigint")

  /** 16^12, the size of the range of `md5Hash(c, 12)`. */
  def md5Range: Double = math.pow(16.0, 12)

  /** `md5Hash(c, 12)` scaled to a uniform in [0, 1). */
  def md5Unit(c: Column): Column = md5Hash(c, 12).cast("double") / lit(md5Range)

  /** Start positions 1 .. size(w) - n + 1 of the n-word windows of the
    * word-array column `w`; empty when `w` has fewer than n words
    * (unguarded, `sequence(1, 0)` would count down and emit windows
    * that run past the end). Window i's k-th word is
    * `element_at(w, i + k)`. */
  def wordStarts(n: Int): Column =
    expr(s"CASE WHEN size(w) >= $n THEN sequence(1, size(w) - ${n - 1}) ELSE array() END")

  /** The text of the n-word window of `w` that starts at the position
    * column named `start` (one of [[wordStarts]]): its words
    * `element_at(w, start + k)`, k = 0 .. n - 1, joined by single
    * spaces, all codegen'd. */
  def wordWindow(n: Int, start: String): Column =
    concat_ws(" ", (0 until n).map(k => expr(s"element_at(w, $start + $k)")): _*)

  /** Lineage-truncation switch for the iterative operator family.
    *
    * Production behavior (flag unset) is an eager `localCheckpoint`
    * per round — constant-size plans no matter how many rounds, one
    * materialization per checkpoint. Under `-Dgraft.noCkpt=1` (or env
    * `SPARK_GRAFT_NO_CKPT=1`) [[CkptOps.ckpt]] is the identity, so the
    * full unrolled lineage stays visible to plan inspection:
    * PlanAuditSpec runs its gates (cartesian / nested-loop / window /
    * multi-scan / value-buffer / bounded-bucket self-join /
    * fact-broadcast) against these checkpoint-free variants, closing
    * the LogicalRDD blind spot where a checkpointed loop body could
    * hide a scale defect from the machine audit.
    */
  object CkptFlag {
    def disabled: Boolean =
      sys.props.get("graft.noCkpt").contains("1") ||
        sys.env.get("SPARK_GRAFT_NO_CKPT").contains("1")
  }

  /** `ds.ckpt()` = eager `localCheckpoint` unless [[CkptFlag.disabled]].
    * Every iterative loop in the ops package truncates lineage through
    * this call so the audit flag reaches all of them at once. */
  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(eager: Boolean = true): Dataset[T] =
      if (CkptFlag.disabled) ds else ds.localCheckpoint(eager)
  }

  /** Run independent eager-materialization branches concurrently.
    *
    * Builders that checkpoint several INDEPENDENT relations (the three
    * walks of a beam sweep, the five strategies of a serving-cost
    * table) used to submit those jobs sequentially, so every job's
    * straggler tail left the executors idle (optimization guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially). Submitting them from concurrent driver threads
    * lets Spark's FIFO scheduler back-fill freed cores with the next
    * branch's tasks. Results are identical — each branch is the same
    * deterministic plan, only the submission overlaps.
    *
    * Under [[CkptFlag.disabled]] construction is pure plan building
    * (no jobs), so branches run sequentially and the audit variant
    * sees exactly the original single-threaded construction. */
  def inParallel[A](thunks: (() => A)*): Seq[A] =
    if (CkptFlag.disabled || thunks.lengthCompare(1) <= 0) thunks.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future, blocking}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      // blocking{} lets the global pool grow past #cores while a thunk
      // waits on a Spark action, so nested/concurrent callers cannot
      // starve the pool; the finite timeout turns a wedged job into a
      // loud failure instead of a forever-hung query (a branch at sf0.1
      // finishes in seconds — an hour is unambiguously wedged).
      Await.result(
        Future.sequence(thunks.map(t => Future(blocking(t())))), 1.hour)
    }
}
