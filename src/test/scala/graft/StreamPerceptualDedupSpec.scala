package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamPerceptualDedup

/** Streaming perceptual near-dup: the stream must emit EXACTLY the
  * batch q143 pair set (the signature kernel is shared and hamming
  * verification is in-stream arithmetic — no declared divergence, unlike
  * the MinHash stream's df-cap), with pairs bridging micro-batches. */
class StreamPerceptualDedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  private def writeBatches(prefix: String,
      batches: Seq[org.apache.spark.sql.DataFrame]): String =
    StreamFixtures.writeBatches(prefix, batches)

  test("streamed verified pairs equal the batch q143 result across micro-batches") {
    val docs = Tables.t(spark, d, "documents").select("doc_id", "text", "lang")
    // split by parity so nearly every pair must bridge the two triggers
    val dir = writeBatches("graft_spdedup", Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1)))
    val streamed = StreamPerceptualDedup.runToCompletion(spark, dir, "spd_test")
      .select("d1", "d2", "hamming").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val batch = SparkEntry.queries("q143_dhash_neardup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch diverged: only-stream=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("within-watermark variant matches the exact one when all docs share the horizon") {
    val docs = Tables.t(spark, d, "documents").select("doc_id", "text", "lang")
      .filter(col("doc_id") < 300)
    val dir = writeBatches("graft_spdedup_wm", Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1)))
    val q = StreamPerceptualDedup.pairsWithinWatermark(
      spark.readStream.schema(graft.streaming.StreamDedup.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir),
      horizonMs = 3600000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("spd_wm_test").start()
    val stateRows =
      try {
        q.processAllAvailable()
        q.recentProgress.reverse
          .flatMap(p => Option(p.stateOperators).toSeq.flatten)
          .headOption.map(_.numRowsTotal).getOrElse(-1L)
      } finally q.stop()
    val bounded = spark.table("spd_wm_test")
      .select("d1", "d2", "hamming").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // ids < 300 → event times span < 300 s, well inside the 1 h horizon:
    // nothing is late, nothing evicts, so the bounded stream must equal
    // the exact one restricted to these docs
    val exact = StreamPerceptualDedup.runToCompletion(
      spark, writeBatches("graft_spdedup_ex", Seq(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))), "spd_ex_test")
      .select("d1", "d2", "hamming").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(bounded == exact, s"bounded=${bounded.size} exact=${exact.size}")
    assert(stateRows > 0, "expected live bucket state")
  }
}
