package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{GapFunctions, WeightedPercentileAgg, ValueWeight}

class FunctionsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("date_bin floors into stride buckets anchored at 2000-01-01") {
    val df = Seq("2024-01-05 13:22:11", "2024-01-05 11:59:59")
      .toDF("s").select(to_timestamp($"s").as("ts"))
    val out = df.select(date_format(
      GapFunctions.dateBinSeconds($"ts", 6 * 3600L), "yyyy-MM-dd HH:mm"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("2024-01-05 12:00", "2024-01-05 06:00"))
  }

  test("array gap functions: resize, pop_front, pop_back") {
    val df = Seq(Seq(1L, 2L, 3L)).toDF("a")
    val row = df.select(
      GapFunctions.arrayResize($"a", 5, lit(0L)).as("r"),
      GapFunctions.arrayPopFront($"a").as("pf"),
      GapFunctions.arrayPopBack($"a").as("pb")).head()
    assert(row.getSeq[Long](0) == Seq(1L, 2L, 3L, 0L, 0L))
    assert(row.getSeq[Long](1) == Seq(2L, 3L))
    assert(row.getSeq[Long](2) == Seq(1L, 2L))
  }

  test("weighted percentile: exact semantics + merge-order invariance") {
    val agg = new WeightedPercentileAgg(1L, 2L)
    // values 1(w=1), 2(w=1), 10(w=10): W=12, p50 target cum*2>=12 → value 10
    val in = Seq(ValueWeight(1, 1), ValueWeight(2, 1), ValueWeight(10, 10))
    val b1 = in.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(b1) == 10L)
    // heavy head: 1(w=10), 10(w=1): p50 = 1
    val b2 = Seq(ValueWeight(1, 10), ValueWeight(10, 1)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(b2) == 1L)
    // merge in both orders gives identical buffers
    val l = Seq(ValueWeight(1, 2), ValueWeight(5, 3)).foldLeft(agg.zero)(agg.reduce)
    val r = Seq(ValueWeight(5, 1), ValueWeight(9, 4)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(l, r) == agg.merge(r, l))
    assert(agg.finish(agg.merge(l, r)) == 5L)
  }

  test("digest dispatches to the right hash") {
    val df = Seq("abc").toDF("s")
    val md5v = df.select(GapFunctions.digest($"s", "md5")).head().getString(0)
    assert(md5v == "900150983cd24fb0d6963f7d28e17f72")
    val e = intercept[IllegalArgumentException] {
      GapFunctions.digest($"s", "crc32")
    }
    assert(e.getMessage.contains("crc32"))
  }
}
