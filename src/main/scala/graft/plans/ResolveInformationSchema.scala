package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.InformationSchema

/** Analyzer rule resolving `information_schema.*` — the
  * [[graft.InformationSchema.Members]] set (the reference enables
  * DataFusion's information_schema,
  * /root/reference/crates/core/src/context.rs:27) onto the catalog-backed
  * views of [[graft.InformationSchema]].
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
  * The views refresh when — and only when — a plan actually references
  * information_schema, so the catalog walk (driver-side, one row per
  * table/column) never taxes ordinary queries.
  */
case class ResolveInformationSchema(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val referenced = plan.collect {
      case u: UnresolvedRelation if matches(u) =>
        u.multipartIdentifier.last.toLowerCase
    }.toSet
    if (referenced.isEmpty) plan
    else {
      // build only the members this plan references (a tables probe must
      // not pay the SET -v / listFunctions walks the other members need)
      InformationSchema.refresh(session, referenced)
      plan.resolveOperatorsUp {
        case u: UnresolvedRelation if matches(u) =>
          UnresolvedRelation(
            Seq("information_schema_" + u.multipartIdentifier.last.toLowerCase))
      }
    }
  }

  private def matches(u: UnresolvedRelation): Boolean = {
    val id = u.multipartIdentifier
    id.length == 2 && id.head.equalsIgnoreCase("information_schema") &&
      InformationSchema.Members.contains(id.last.toLowerCase)
  }
}
