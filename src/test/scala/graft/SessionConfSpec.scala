package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Pins the confs and the extension [[AdtContext.session]] gives every
  * entry point, on the shared test session, which that factory builds:
  * [[GraftExtensions]] wires graft's native functions and the
  * `information_schema` rule with no per-query registration. */
class SessionConfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the session factory sets every engine conf") {
    val sc = spark.sparkContext.getConf
    assert(sc.get("spark.master") ==
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
    assert(sc.get("spark.ui.enabled") == "false")
    Seq(
      "spark.sql.parquet.fieldId.read.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
      "spark.sql.parquet.filterPushdown" -> "true"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  // Verify never set these two before every entry point shared the
  // factory; equal to Spark's defaults, its effective conf did not move
  test("AQE and the coalesce floor equal SQLConf's own defaults") {
    val defaults = new SQLConf
    val session = new SQLConf
    Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key,
      SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key)
      .foreach(k => session.setConfString(k, spark.conf.get(k)))
    assert(session.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED) ==
      defaults.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED))
    assert(session.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) ==
      defaults.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  }

  test("the factory installs GraftExtensions: functions and information_schema resolve in plain spark.sql") {
    val r = spark.sql("""SELECT md5_60('a'),
        dot_i64(array(1L, 2L), array(3L, 4L)),
        dhash63(encode('abcdefgh', 'UTF-8')),
        word_ngram_md5_60('a b c', 2)""").head()
    assert(r.getLong(0) == graft.functions.Md5Long.hash60("a".getBytes("UTF-8")))
    assert(r.getLong(1) == 11L)
    assert(r.getLong(2) ==
      graft.operators.Multimodal.dHash("abcdefgh".getBytes("UTF-8")))
    assert(r.getSeq[Long](3).length == 2)
    spark.range(1).createOrReplaceTempView("session_conf_probe")
    assert(spark.sql("""SELECT table_name FROM information_schema.tables
      WHERE table_name = 'session_conf_probe'""").count() == 1L)
    // each injected builder checks its own arity: md5_60('a', 'b') must
    // not silently hash 'a'
    Seq("md5_60('a', 'b')" -> "md5_60 expects 1",
      "dot_i64(array(1L))" -> "dot_i64 expects 2",
      "dhash63()" -> "dhash63 expects 1",
      "word_ngram_md5_60('a')" -> "word_ngram_md5_60 expects (text, k)"
    ).foreach { case (call, msg) =>
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("AdtContext refuses a session without the extension, naming its conf") {
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a session on the running SparkContext that no factory built
      val bare = SparkSession.builder().getOrCreate()
      assert(bare ne orig)
      val e = intercept[IllegalArgumentException](new AdtContext(bare))
      assert(e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"))
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}
