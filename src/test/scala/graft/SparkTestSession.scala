package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide; forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = AdtContext.session(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with session confs set, restoring prior values (or
    * unsetting) afterwards — for conf-scoped plan tests on the shared
    * session (CboSpec, PlanAuditSpec's runtime-filter case). */
  def withConfs(confs: Seq[(String, String)])(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
