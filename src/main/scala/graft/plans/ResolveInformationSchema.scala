package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.InformationSchema

/** Analyzer rule resolving `information_schema.*` (the reference enables
  * DataFusion's, `crates/core/src/context.rs:27`) in place: each
  * reference becomes the member's [[graft.InformationSchema.relation]],
  * aliased `information_schema.<member>`. No temp view is registered,
  * so two statements analyzed at once never share a relation.
  *
  * Injected through `GraftExtensions` (as a hint-batch rule, which runs
  * before Spark's own relation resolution), so plain
  * `spark.sql("SELECT … FROM information_schema.tables")` works in ANY
  * session carrying the extension — every session
  * [[graft.AdtContext.session]] builds, or one started with
  * `spark.sql.extensions=graft.GraftExtensions`. It is the only route:
  * [[graft.AdtContext]] refuses a session without it. Only relation
  * references resolve here, so a string literal that spells
  * `information_schema.tables` stays as written.
  *
  * A plan with no reference returns unchanged without reading the
  * catalog, and a plan builds each member it references once.
  */
case class ResolveInformationSchema(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val referenced = plan.collect { case Member(m) => m }.toSet
    if (referenced.isEmpty) plan
    else {
      val relations =
        referenced.map(m => m -> InformationSchema.relation(session, m)).toMap
      plan.resolveOperatorsUp {
        case Member(m) => SubqueryAlias(Seq("information_schema", m), relations(m))
      }
    }
  }

  private object Member {
    def unapply(plan: LogicalPlan): Option[String] = plan match {
      case u: UnresolvedRelation =>
        val id = u.multipartIdentifier
        Some(id.last.toLowerCase).filter(m =>
          id.length == 2 && id.head.equalsIgnoreCase("information_schema") &&
            InformationSchema.Members.contains(m))
      case _ => None
    }
  }
}
