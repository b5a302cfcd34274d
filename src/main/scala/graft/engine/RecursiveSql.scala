package graft.engine

import org.apache.spark.sql.{DataFrame, GraftPlans, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedSubqueryColumnAliases}
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, LogicalPlan, SubqueryAlias, Union, UnresolvedWith}

/** `WITH RECURSIVE` statements, from Spark's own parse tree.
  *
  * Spark 4.1 ships native recursive CTEs but only for UNION ALL
  * recursion ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]); DuckDB also
  * accepts bare UNION, whose semantics — the working table is each
  * round's NEW distinct rows, recursion stops when a round adds nothing
  * — are exactly the semi-naive fixpoint `Recursive.fixpoint` runs for
  * the DataFrame form. The statement is parsed once by the session's
  * parser (GraftSqlParser: dialect rewrite and ReadOnlyGuard), and
  *
  *   WITH RECURSIVE a AS (…), r(cols) AS (seed UNION step), b AS (…)
  *   outer-select
  *
  * runs as that fixpoint when exactly one CTE reads itself and its body
  * is a bare UNION. Everything else — UNION ALL recursion, no or several
  * self-references — runs as Spark parsed it. The CTEs compose by plan
  * substitution, in order: a CTE the step reads is materialized once per
  * statement, the step reads each round's frontier, and CTEs after the
  * recursive one and the outer query read its result. No name is
  * registered on the session, so concurrent statements share nothing.
  */
object RecursiveSql {

  private val prefixRe = """(?is)^\s*WITH\s+RECURSIVE\s""".r

  def isRecursive(sql: String): Boolean = prefixRe.findFirstIn(sql).isDefined

  private def isName(r: UnresolvedRelation, name: String): Boolean =
    r.multipartIdentifier match {
      case Seq(one) => one.equalsIgnoreCase(name)
      case _ => false
    }

  /** Whether `plan`, its subqueries included, reads relation `name`. */
  private def reads(plan: LogicalPlan, name: String): Boolean =
    plan.collectWithSubqueries {
      case r: UnresolvedRelation if isName(r, name) => r
    }.nonEmpty

  /** `plan` with each one-part relation named in `defs` (lower-cased
    * name → plan) replaced by `SubqueryAlias(name, that plan)`,
    * subqueries included: a CTE, or a DataFrame's plan, read as a table.
    */
  private[engine] def substitute(plan: LogicalPlan,
      defs: Map[String, LogicalPlan]): LogicalPlan =
    plan.transformUpWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 =>
        val name = r.multipartIdentifier.head
        defs.get(name.toLowerCase).fold[LogicalPlan](r)(SubqueryAlias(name, _))
    }

  /** The branches of a bare-UNION body: nested `Distinct(Union)` is
    * flattened, a UNION ALL inside a branch stays one branch. */
  private def branches(p: LogicalPlan): Seq[LogicalPlan] = p match {
    case Distinct(u: Union) if !u.byName => u.children.flatMap(branches)
    case other => Seq(other)
  }

  private def union(ps: Seq[LogicalPlan]): LogicalPlan =
    if (ps.length == 1) ps.head else Union(ps)

  /** The one CTE that reads itself, when its body is a bare UNION with
    * a seed: its name, column aliases, seed and step branches. */
  private def bareUnion(ctes: Seq[(String, SubqueryAlias, Option[Int])])
      : Option[(String, Seq[String], Seq[LogicalPlan], Seq[LogicalPlan])] =
    ctes.filter { case (name, alias, _) => reads(alias.child, name) } match {
      case Seq((name, alias, _)) =>
        val (cols, body) = alias.child match {
          case UnresolvedSubqueryColumnAliases(cols, q) => (cols, q)
          case q => (Nil, q)
        }
        body match {
          case Distinct(u: Union) if !u.byName =>
            val (steps, seeds) = branches(body).partition(reads(_, name))
            if (seeds.isEmpty) None else Some((name, cols, seeds, steps))
          case _ => None
        }
      case _ => None
    }

  /** Run a statement that starts `WITH RECURSIVE` (see the object doc). */
  def sql(session: SparkSession, text: String,
      params: Seq[(String, org.apache.spark.sql.catalyst.expressions.Literal)],
      maxIter: Int = 200): DataFrame = {
    val parsed = GraftPlans.parsePlan(session, text, params)
    val (outer, ctes, (rec, cols, seeds, steps)) = parsed match {
      case UnresolvedWith(outer, ctes, true) => bareUnion(ctes) match {
        case Some(r) => (outer, ctes, r)
        case None => return GraftPlans.ofRows(session, parsed)
      }
      case _ => return GraftPlans.ofRows(session, parsed)
    }
    def run(plan: LogicalPlan): DataFrame = GraftPlans.ofRows(session,
      if (cols.isEmpty) plan else UnresolvedSubqueryColumnAliases(cols, plan))
    val materialize = new Recursive.Materializer
    val recAt = ctes.indexWhere(_._1 == rec)
    var defs = Map.empty[String, LogicalPlan]
    for (((name, alias, _), i) <- ctes.zipWithIndex) {
      val plan =
        if (i == recAt) {
          val step = union(steps)
          // unroll 1: a statement's fan-out is unknown, and unrolled
          // steps multiply it (dd_components' first round would read
          // 1.8 billion rows from 1,000 at sf0.01); one step per round
          // reads each new row once, as DuckDB's own iteration does
          val result = Recursive.fixpoint(run(substitute(union(seeds), defs)),
            maxIter = maxIter, unroll = 1, materialize = materialize) { frontier =>
            run(substitute(step,
              defs + (rec.toLowerCase -> GraftPlans.analyzed(frontier))))
          }
          GraftPlans.analyzed(result)
        } else {
          val p = substitute(alias.child, defs)
          // an input of the step: materialized once, not re-run per round
          if (i < recAt && steps.exists(reads(_, name)))
            GraftPlans.analyzed(materialize(GraftPlans.ofRows(session, p))._1)
          else p
        }
      defs += name.toLowerCase -> plan
    }
    GraftPlans.ofRows(session, substitute(outer, defs))
  }
}
