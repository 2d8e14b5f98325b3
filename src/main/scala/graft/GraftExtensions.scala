package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{DHash63, DotProductI64, Md5Long, WordNgramMd5Long}

/** Session-extension entry point — the Spark-native way to ship this
  * library's custom Catalyst surface into ANY session, including ones the
  * library doesn't build itself:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Registers all four native codegen expressions — `dot_i64`, `md5_60`,
  * `word_ngram_md5_60`, `dhash63` — through the injected function hook
  * (so they resolve in plain `spark.sql(...)` with no runtime `register`
  * call; the per-query `X.register(s)` calls stay as idempotent
  * belt-and-braces for sessions built without the extension) and the
  * `information_schema.{tables,columns}` analyzer rule
  * ([[graft.plans.ResolveInformationSchema]]). The DDL shim
  * stays in [[AdtContext]] because it rewrites a statement Spark's parser
  * rejects outright (`STORED AS fmt LOCATION`), which a resolution hook
  * never sees.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_i64"),
      new ExpressionInfo(classOf[DotProductI64].getName, "dot_i64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductI64(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("md5_60"),
      new ExpressionInfo(classOf[Md5Long].getName, "md5_60"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Md5Long(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("word_ngram_md5_60"),
      new ExpressionInfo(classOf[WordNgramMd5Long].getName, "word_ngram_md5_60"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordNgramMd5Long(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("dhash63"),
      new ExpressionInfo(classOf[DHash63].getName, "dhash63"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DHash63(exprs.head)))
    ext.injectResolutionRule(session =>
      graft.plans.ResolveInformationSchema(session))
  }
}
