package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DHash63, DotProductI64, Md5Long, WordNgramMd5Long}

/** Session-extension entry point: graft's one wiring point for its
  * custom Catalyst surface. [[AdtContext.engineConfs]] installs it in
  * every session the library builds; a session built elsewhere gets it
  * from the static conf
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Injects the four native codegen expressions — `dot_i64`, `md5_60`,
  * `word_ngram_md5_60`, `dhash63` — through each one's own `build`
  * (arity checked there), so they resolve in plain `spark.sql(...)`,
  * the `information_schema.*` analyzer rule and the local-relation sort
  * ([[graft.plans.ResolveInformationSchema]],
  * [[graft.plans.SortLocalRelation]]). The DDL shim and graft's
  * own statements stay in [[AdtContext.sql]] because Spark's parser
  * rejects them outright, which a resolution hook never sees.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("dot_i64", classOf[DotProductI64], DotProductI64.build _),
      ("md5_60", classOf[Md5Long], Md5Long.build _),
      ("word_ngram_md5_60", classOf[WordNgramMd5Long], WordNgramMd5Long.build _),
      ("dhash63", classOf[DHash63], DHash63.build _)
    ).foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // the Hints batch runs before relation resolution, so Spark never
    // looks `information_schema.x` up in its catalog — the first such
    // miss in a JVM builds an error-class exception, a one-time cost
    // measured at about 1.5 s on a cold `local[4]` session
    ext.injectHintResolutionRule(graft.plans.ResolveInformationSchema(_))
    ext.injectOptimizerRule(_ => graft.plans.SortLocalRelation)
  }
}
