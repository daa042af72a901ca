package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.util.control.NonFatal

/**
 * The one home of plan-time probing for graft's rewrite rules: the
 * [[Spread]] decision, [[AsOfJoinRule]]'s hot-key gate and
 * [[RangeJoinRule]]'s auto bucket all plan or sample a subtree while the
 * optimizer runs. Each probe result is a pure function of its key
 * (canonicalized plans, expressions, the conf value it depends on), but a
 * statement is planned repeatedly (explain + execute, re-runs), so the
 * result is computed once per distinct key.
 *
 * - Memo: keyed by (rule, key), bounded — cleared past 256 entries. A
 *   semantic-hash collision merely swaps which of two result-identical
 *   plans runs (every probe is best-effort by contract: spread, bucket
 *   width and the hot-key gate change speed, never rows). Stale only if
 *   the same canonical scan's data changes mid-session — the staleness
 *   window Catalyst's own relation stat caches have.
 * - Re-entry guard, shared by every rule: a probe's own queries pass
 *   through the optimizer. While any probe runs on this thread, a nested
 *   [[memo]] call does not run its probe; it returns None, caches nothing,
 *   and the caller takes its no-probe path.
 * - A probe that throws is logged, counted as a fallback, and memoized as
 *   the caller's fallback value.
 * - Per-rule hit / miss / skip / fallback counters ([[counts]]).
 */
private[graft] object PlanProbe extends Logging {

  final case class Counts(hits: Long, misses: Long, skips: Long, fallbacks: Long)

  private val MaxEntries = 256
  private val Hit = 0; private val Miss = 1; private val Skip = 2; private val Fallback = 3
  private val results = new ConcurrentHashMap[(String, Any), Any]()
  private val counters = new ConcurrentHashMap[String, Array[AtomicLong]]()
  private val probing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  private def bump(rule: String, i: Int): Unit =
    counters.computeIfAbsent(rule, _ => Array.fill(4)(new AtomicLong)).apply(i)
      .incrementAndGet()

  def counts(rule: String): Counts =
    Option(counters.get(rule))
      .map(c => Counts(c(Hit).get, c(Miss).get, c(Skip).get, c(Fallback).get))
      .getOrElse(Counts(0, 0, 0, 0))

  /** A key for a probe of `exprs` over `plan`: the canonical plan, and the
    * expressions with their attribute ids normalized against the plan's
    * output, so a statement built again with fresh expression ids (a new
    * DataFrame, a re-registered view) finds its memoized result. */
  def key(plan: LogicalPlan, exprs: Expression*): (Int, Seq[Int]) =
    (plan.semanticHash(), exprs.map(QueryPlan.normalizeExpressions(_, plan.output).semanticHash()))

  /** `probe`'s result for (rule, key): memoized, or run now under the
    * re-entry guard; None when called from inside another probe. */
  def memo[V](rule: String, key: Any, fallback: V)(probe: => V): Option[V] =
    if (probing.get) { bump(rule, Skip); None }
    else Option(results.get((rule, key))) match {
      case Some(v) => bump(rule, Hit); Some(v.asInstanceOf[V])
      case None =>
        bump(rule, Miss)
        probing.set(true)
        val v =
          try probe
          catch {
            case NonFatal(e) =>
              bump(rule, Fallback)
              logWarning(s"$rule: plan-time probe failed ($e) — using $fallback")
              fallback
          } finally probing.set(false)
        if (results.size > MaxEntries) results.clear()
        results.put((rule, key), v)
        Some(v)
    }
}
