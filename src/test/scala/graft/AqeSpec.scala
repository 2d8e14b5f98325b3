package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Adaptive Query Execution's runtime skew handling — the THIRD leg of
  * the skew story (q107 salts an aggregate by spelling, q157 salts a
  * join by spelling, AQE re-plans a skewed join at RUNTIME from
  * measured partition sizes). At 100 TB the writer-side salts handle
  * keys known hot in advance; AQE's skew split is what catches the hot
  * key nobody predicted — a reducer-sized partition is split into
  * parallel sub-reads of the shuffle output while the other side's
  * matching partition is replicated, preserving join semantics.
  *
  * The spec builds an 80%-hot-key fact with a WIDE map side (split
  * granularity is mapper boundaries), lowers the skew thresholds to
  * local scale (the defaults are sized for clusters), holds the join in
  * the SMJ regime (no broadcast), and asserts the FINALIZED executed
  * plan carries an `AQEShuffleRead skewed` node AND the result equals
  * the plain join count. */
class AqeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  test("AQE splits a runtime-detected skewed join partition, losslessly") {
    // many map tasks matter: AQE splits a skewed reduce partition at
    // MAPPER boundaries, so a single-mapper shuffle (one small parquet
    // file → one task) is unsplittable no matter the thresholds — at
    // cluster scale the map side is always wide; emulate that here
    val fact = Tables.t(spark, d, "lineitem")
      .repartition(16)
      .select(
        when(col("l_orderkey") % 5 =!= 0, lit(7L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_extendedprice"))
    val dim = Tables.t(spark, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))

    val expected = fact.join(dim, "k").count()

    SparkTestSession.withConfs(Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      // keep coalescing from merging everything into one partition and
      // hold the join in the shuffle regime the skew logic targets
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {

      val joined = fact.join(dim, "k")
      // execute THIS Dataset's own QueryExecution — count() would build
      // a separate one and leave this plan un-finalized
      assert(joined.collect().length.toLong == expected,
        "AQE skew split changed the result")

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan not finalized:\n$plan")
      assert(plan.contains("AQEShuffleRead"), s"no AQEShuffleRead in:\n$plan")
      assert(plan.contains("AQEShuffleRead skewed"), s"no skew split recorded in:\n$plan")
    }
  }
}
