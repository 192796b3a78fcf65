package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer extension point (SURVEY.md §3, ladder step c):
  * a governance rule for 100 TB operation. A stray `broadcast(factTable)`
  * hint is one of the fastest ways to take down a cluster — the driver
  * collects the whole side, then ships it to every executor. Spark honors
  * the hint regardless of size (hints win over
  * spark.sql.autoBroadcastJoinThreshold by design), so the guard strips
  * BROADCAST hints from join sides whose optimizer size estimate exceeds
  * `spark.graft.broadcastGuard.maxBytes` (default 1 GiB; -1 disables).
  * The join then falls back to Spark's normal strategy selection
  * (sort-merge / shuffled-hash), and correctly-sized dim broadcasts pass
  * through untouched.
  *
  * Runs in the user-provided optimizer batch — after
  * EliminateResolvedHint has folded hints into Join.hint, before
  * JoinSelection reads them.
  */
object BroadcastGuard {
  /** Count of stripped hints since JVM start — a test hook: specs assert
    * a query's plan kept its intended broadcasts by running it and
    * checking the counter didn't move (the LR training loop regressed
    * exactly this way once: a compounding size estimate demoted its
    * margin join every iteration, silently, for a 5-10× slowdown).
    */
  val stripped = new java.util.concurrent.atomic.AtomicLong(0L)
}

case class BroadcastGuard(spark: SparkSession) extends Rule[LogicalPlan] {

  private def maxBytes: Long =
    spark.conf.get(graft.GraftSession.BroadcastGuardKey, (1L << 30).toString).toLong

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val limit = maxBytes
    if (limit < 0) return plan
    plan.transformUp {
      case j @ Join(l, r, _, _, hint)
          if tooBig(hint.leftHint, l, limit) || tooBig(hint.rightHint, r, limit) =>
        val newHint = JoinHint(
          strip(hint.leftHint, l, limit), strip(hint.rightHint, r, limit))
        BroadcastGuard.stripped.incrementAndGet()
        logWarning(s"BroadcastGuard: stripped BROADCAST hint from join side " +
          s"larger than $limit bytes " +
          s"(left=${l.stats.sizeInBytes}, right=${r.stats.sizeInBytes})")
        j.copy(hint = newHint)
    }
  }

  // stat-less plans (e.g. LogicalRDD) report spark.sql.defaultSizeInBytes
  // (Long.MaxValue unless overridden) — that sentinel means "unknown", not
  // "large", so an explicit broadcast() of such a frame passes through
  // (the user asserted small; we only demote when the estimate SAYS big).
  // Operators ABOVE a stat-less leaf (Project/Filter over LogicalRDD)
  // propagate a derived-from-sentinel estimate that is huge but no longer
  // EQUAL to it, so the test is leaf provenance, not the propagated value:
  // a side is unknown iff any of its leaves is stat-less. (Comparing the
  // propagated value against the sentinel with >= would misfire when a
  // deployment sets defaultSizeInBytes to a realistic finite value — every
  // genuinely-large known-size side would then read as "unknown" and the
  // guard would stop demoting exactly the broadcasts it exists to strip.)
  private def sizeUnknown(side: LogicalPlan): Boolean = {
    val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    side.collectLeaves().exists(_.stats.sizeInBytes == sentinel)
  }

  private def tooBig(h: Option[HintInfo], side: LogicalPlan, limit: Long): Boolean =
    h.exists(_.strategy.contains(BROADCAST)) &&
      side.stats.sizeInBytes > limit &&
      !sizeUnknown(side)

  private def strip(h: Option[HintInfo], side: LogicalPlan, limit: Long): Option[HintInfo] =
    if (tooBig(h, side, limit)) {
      val cleaned = h.get.copy(strategy = None)
      if (cleaned == HintInfo()) None else Some(cleaned)
    } else h
}
