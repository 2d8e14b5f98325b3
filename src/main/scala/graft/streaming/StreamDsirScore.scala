package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming DSIR importance scoring — the ingest-time twin of the
  * batch q146 operator, the [[StreamAnnAssign]] pattern applied to the
  * text-selection pillar: arriving documents are scored against the
  * TRAINED 4096-bucket weight table so a data-selection pipeline can
  * route/filter at write time without a batch rescore.
  *
  * Training (the corpus-wide target/raw bucket aggregates) cannot run
  * in-stream; the weight table is METADATA by construction (4096
  * longs — `Pipeline.dsirWeightArray`, exported exactly like the
  * trained centroid set) and travels as a LITERAL array column. The
  * score is then a per-row fold: feature-hash the doc's unigrams +
  * bigrams (the identical md5_60 % 4096 expressions the batch CTEs
  * use) and sum the looked-up weights — stateless, partition-parallel,
  * no shuffle; the streaming plan is scan → project. Scores are
  * bit-identical to batch q146 for any document whose feature buckets
  * were populated at training time (every same-corpus document;
  * StreamingSpec pins streamed == batch on the shipped top-20);
  * genuinely novel buckets get the Laplace floor weight the batch
  * trainer would have assigned them.
  */
object StreamDsirScore {

  /** The per-row form of `Pipeline.HashedFeatureCtes`: the hashed
    * unigram+bigram bucket array of a `text` column, over the batch
    * trainers' own `Pipeline.FeatureHashes` — shared by the DSIR and
    * domain-classifier stream scorers. */
  private[streaming] def featsCol: Column =
    expr(s"transform(${graft.queries.Pipeline.FeatureHashes}, h -> h % 4096)")

  /** Per-row weight-table fold: Σ over the feature-bucket array of the
    * looked-up weight — the shared scoring kernel (exact integers,
    * multiplicity via per-occurrence array entries). */
  private[streaming] def foldScore(wArr: Column): Column =
    aggregate(col("feats"), lit(0L),
      (acc, b) => acc + element_at(wArr, (b + lit(1)).cast("int")))

  /** Score a (doc_id, text) frame — batch or streaming — against a
    * trained 4096-slot weight array. Output: (doc_id, n_feat,
    * score_ppm, npt), the q146 row shape. */
  def score(docs: DataFrame, weights: Array[Long]): DataFrame = {
    require(weights.length == 4096, "DSIR weight array must have 4096 slots")
    val wArr: Column = typedLit(weights.toSeq)
    docs
      .withColumn("feats", featsCol)
      .select(col("doc_id"),
        size(col("feats")).cast("long").as("n_feat"),
        foldScore(wArr).as("score_ppm"))
      .withColumn("npt", expr("score_ppm DIV n_feat"))
  }

  /** Replay a finite documents directory through the scorer and collect
    * (doc_id, n_feat, score_ppm, npt). */
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
