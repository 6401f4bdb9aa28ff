package graft.sql

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Command, Distinct, GlobalLimit, Limit, LocalLimit, LogicalPlan, Project, Sort, Subquery, UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plan-level auto-LIMIT (SURVEY.md §4; reference appends `LIMIT 200`
  * to the SQL text when the substring "limit" is absent,
  * `src/sql_runner.py:28-31`): a Catalyst `Rule[LogicalPlan]` that
  * wraps a PARSED statement plan lacking any limit in
  * `GlobalLimit(rows)` — semantically what the reference intends, but
  * robust to "limit" appearing in identifiers or string literals.
  *
  * It is deliberately applied by [[QueryRunner]] to the plan that
  * [[SqlGuard.validate]] parsed (the statement's only parse; when a
  * preview sets a V7 limit override, [[QueryRunner.limitTo]] rewrites
  * that plan instead), NOT injected into the session's
  * analyzer/optimizer via extensions. Both injection phases were tried
  * and are unsound for this rule: optimizer-phase rules re-run on
  * every subquery with a `Subquery` root that `OptimizeSubqueries`
  * then destructures (crash on any IN/EXISTS query), and
  * `EliminateLimits` can legitimately erase a user's explicit `LIMIT`
  * before the rule looks for one (silent re-cap → wrong results);
  * analyzer post-hoc rules additionally run on internal encoder plan
  * fragments that must round-trip unchanged. The parsed statement
  * plan is exactly what the user wrote — the right place to decide.
  */
class AutoLimitRule(rows: Int) extends Rule[LogicalPlan] {

  /** A limit counts as the USER's only when it bounds the statement's
    * output — i.e. it sits at the plan root or under wrappers that
    * preserve cardinality-bounding (Sort/Project/Distinct, or the main
    * branch of a WITH). A `LIMIT` inside an IN/EXISTS subquery or a
    * derived table bounds only that subtree, so scanning the whole
    * tree (`collectFirst`) would wrongly suppress the cap on an
    * unbounded outer query like
    * `SELECT * FROM t WHERE id IN (SELECT id FROM u LIMIT 1)`.
    */
  @annotation.tailrec
  private def userLimited(plan: LogicalPlan): Boolean = plan match {
    case _: GlobalLimit | _: LocalLimit => true
    case s: Sort => userLimited(s.child)
    case p: Project => userLimited(p.child)
    case d: Distinct => userLimited(d.child)
    case w: UnresolvedWith => userLimited(w.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case c: Command => c
    case s: Subquery => s
    case p if userLimited(p) => p
    case p => Limit(Literal(rows), p)
  }
}
