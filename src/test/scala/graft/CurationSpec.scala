package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-10 curation operators — properties
  * the oracle hash-match can't express: lossless chunk reconstruction,
  * cap/budget feasibility, and span-accounting consistency. */
class CurationSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  test("CDC chunks reconstruct every document losslessly") {
    import spark.implicits._
    // re-derive the q131 chunk assignment, but keep the chunk TEXT and
    // reassemble: concatenating a doc's chunks in chunk order must give
    // back the exact original text (the no-token-lost/no-token-dup
    // invariant a chunker must hold for storage dedup to be sound)
    val toks = Tables.t(spark, d, "documents")
      .select($"doc_id", posexplode(split($"text", " ")))
      .select($"doc_id", ($"pos" + 1).cast("long").as("i"), $"col".as("word"))
      .withColumn("bnd",
        when(graft.functions.Md5Long.md5_60($"word") % 16 === 0, 1L)
          .otherwise(0L))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"i")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val rebuilt = toks
      .withColumn("chunk", sum($"bnd").over(win) - $"bnd")
      .groupBy($"doc_id", $"chunk")
      .agg(expr("""concat_ws(' ',
             transform(array_sort(collect_list(struct(i, word))),
                       p -> p.word))""").as("chunk_text"),
        min($"i").as("i0"))
      .groupBy($"doc_id")
      .agg(expr("""concat_ws(' ',
             transform(array_sort(collect_list(struct(i0, chunk_text))),
                       p -> p.chunk_text))""").as("rebuilt"))
    val bad = rebuilt
      .join(Tables.t(spark, d, "documents").select($"doc_id", $"text"), "doc_id")
      .where($"rebuilt" =!= $"text")
      .count()
    assert(bad == 0L)
  }

  test("source cap keeps exactly min(15, n_docs) per source") {
    val out = SparkEntry.queries("q133_source_cap")(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      val nKept = r.getAs[Long]("n_kept")
      assert(nKept == math.min(15L, nDocs),
        s"source ${r.get(0)}: kept $nKept of $nDocs")
    }
  }

  test("token budget: kept tokens within budget and maximal in fill order") {
    val B = 3000L
    val out = SparkEntry.queries("q138_token_budget")(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val kept = r.getAs[Long]("tokens_kept")
      val total = r.getAs[Long]("total_tokens")
      assert(kept <= math.min(B, total))
      // under-budget strata keep everything (greedy fill only stops when
      // the next doc would cross the line)
      if (total <= B) assert(kept == total)
    }
  }

  test("span accounting: cut + kept = doc tokens; max span within doc") {
    val spans = SparkEntry.queries("q135_span_removal")(spark, d).collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      assert(r.getAs[Long]("cut_tokens") + r.getAs[Long]("kept_tokens") ==
        r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("cut_tokens") >= 1L)
    }
    val det = SparkEntry.queries("q130_dup_spans")(spark, d).collect()
    det.foreach { r =>
      assert(r.getAs[Long]("max_span_tokens") <=
        r.getAs[Long]("n_grams") + 4L) // n_tokens = n_grams + G - 1
      assert(r.getAs[Long]("n_dup_grams") <= r.getAs[Long]("n_grams"))
    }
    // q130 and q135 agree on which documents carry spans
    assert(det.map(_.getLong(0)).toSet == spans.map(_.getLong(0)).toSet)
  }
}
