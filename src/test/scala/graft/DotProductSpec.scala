package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.DotProductI64.dot_i64

/** Native Catalyst expression: interpreted eval, codegen path, SQL
  * registration, and null/type behavior. */
class DotProductSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("column API computes the integer dot product") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
    assert(df.select(dot_i64($"a", $"b")).head().getLong(0) == 32L)
  }

  test("SQL registration + codegen over many rows") {
    val n = spark.range(1000)
      .selectExpr("sequence(1, 16) as a", "sequence(1, 16) as b")
      .selectExpr("dot_i64(CAST(a AS ARRAY<BIGINT>), CAST(b AS ARRAY<BIGINT>)) AS d")
      .where("d = 1496") // sum of squares 1..16
      .count()
    assert(n == 1000L)
  }

  test("null input propagates null") {
    val df = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(df.select(dot_i64($"a", $"b")).head().isNullAt(0))
  }

  test("mismatched lengths and null elements yield NULL, like the lambda spelling") {
    // zip_with pads the shorter side with null and null poisons the
    // aggregate — the native expression must agree, not truncate/zero-fill
    val df = Seq(
      (Seq(1L, 2L), Seq(3L)),                       // length mismatch
      (Seq(1L, 2L), Seq(3L, 4L))                    // control
    ).toDF("a", "b")
    val rows = df.select(dot_i64($"a", $"b").as("d"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
        .as("l")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getLong(0) == 11L && rows(1).getLong(1) == 11L)
    // null ELEMENT (containsNull array) → NULL on both spellings
    val nel = Seq((Seq(Some(1L), None), Seq(Some(1L), Some(5L))))
      .toDF("a", "b")
      .select(dot_i64($"a", $"b").as("d"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("l")).collect()
    assert(nel(0).isNullAt(0) && nel(0).isNullAt(1))
  }

  test("wrong arity fails with a named error, not a raw index exception") {
    val e = intercept[Exception] { spark.sql("SELECT dot_i64(array(1L))").collect() }
    assert(e.getMessage.contains("dot_i64"))
    val e2 = intercept[Exception] { spark.sql("SELECT md5_60()").collect() }
    assert(e2.getMessage.contains("md5_60"))
  }

  test("type mismatch fails analysis") {
    val df = Seq(("x", Seq(1L))).toDF("a", "b")
    val e = intercept[Exception] { df.select(dot_i64($"a", $"b")).head() }
    assert(e.getMessage.toLowerCase.contains("array<bigint>"))
  }

  test("matches the lambda formulation on real embeddings") {
    val emb = Tables.t(spark, SparkTestSession.sfDir, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))").as("v"))
      .limit(50)
    val both = emb.select(
      dot_i64($"v", $"v").as("native"),
      expr("aggregate(transform(v, x -> x * x), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
        .as("lambda"))
    assert(both.where($"native" =!= $"lambda").count() == 0)
  }
}
