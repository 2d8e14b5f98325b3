package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Pins the confs [[AdtContext.session]] gives every entry point, on the
  * shared test session, which that factory builds. */
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
}
