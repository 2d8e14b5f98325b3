package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming domain-classifier scoring — the ingest-time twin of the
  * batch q161 apply pass (and the q160→this split mirrors q148→
  * StreamBpeEncode): arriving documents are scored against the TRAINED
  * perceptron weights so a curation pipeline can route/filter at write
  * time without a batch rescore.
  *
  * Training (the R corpus-wide gradient rounds) cannot run in-stream;
  * the trained artifact is METADATA by construction (4096 longs —
  * `Pipeline.domainTrain`'s weight array) and travels as a LITERAL
  * array column. Scoring reuses the exact shared kernels of the DSIR
  * stream scorer ([[StreamDsirScore.featsCol]] hashing +
  * [[StreamDsirScore.foldScore]] weight fold — per-occurrence array
  * entries ARE the c_b multiplicities), so the streamed margin is
  * bit-identical to the batch `Pipeline.bucketScores` join for every
  * document: stateless, partition-parallel, no shuffle; the streaming
  * plan is scan → project. The emitted `pred_target` uses the training
  * convention's threshold (margin > 0 reads target-like; 0 reads raw,
  * matching y·0 ≤ 0 counting as an error for the +1 class).
  */
object StreamDomainScore {

  /** Score a (doc_id, text) frame — batch or streaming — against the
    * trained 4096-slot weight array. Output: (doc_id, sc,
    * pred_target). */
  def score(docs: DataFrame, weights: Array[Long]): DataFrame = {
    require(weights.length == 4096,
      "domain-classifier weight array must have 4096 slots")
    val wArr: Column = typedLit(weights.toSeq)
    docs
      .withColumn("feats", StreamDsirScore.featsCol)
      .select(col("doc_id"), StreamDsirScore.foldScore(wArr).as("sc"))
      .withColumn("pred_target", col("sc") > 0L)
  }

  /** Replay a finite documents directory through the scorer and collect
    * (doc_id, sc, pred_target). */
  def runToCompletion(spark: SparkSession, dir: String,
      weights: Array[Long], queryName: String): DataFrame = {
    val docs = spark.readStream
      .schema(StreamDedup.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val q = score(docs, weights)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }
}
