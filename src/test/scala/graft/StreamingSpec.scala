package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{EventStream, StreamAnnAssign, StreamBpeEncode, StreamDedup, StreamDsirScore, StreamJoin, VectorIngest}

/** Streaming answer must equal the batch answer over the same events. */
class StreamingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  test("streaming daily counts match the batch aggregation") {
    val streamed = EventStream.runToCompletion(spark, d, "events_daily_test")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

    val batch = Tables.t(spark, d, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment matches the batch dimension join") {
    // dim: per-user value segment computed batch-side (what a real
    // pipeline would refresh periodically); stream each event through
    // the broadcast lookup and compare to the batch join
    val dim = Tables.t(spark, d, "events")
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
      .select(col("user_id"),
        when(col("cents") >= 100000L, "high").otherwise("low").as("segment"))
      .cache()
    val q = EventStream.enrich(EventStream.readEvents(spark, d), dim)
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_test").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("enrich_test")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    val batch = Tables.t(spark, d, "events")
      .join(dim, Seq("user_id"), "left")
      .select(col("event_id"),
        coalesce(col("segment"), lit("unknown")).as("segment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // every event matched the dim here (dim derives from the same corpus)
    assert(!streamed.exists(_._2 == "unknown"))
  }

  test("streaming exact dedup keeps one doc per digest across micro-batches") {
    // two files: the corpus, then a re-id'd copy of its first 100 docs —
    // maxFilesPerTrigger=1 makes the duplicates arrive in a LATER batch,
    // so the dedup state must carry across triggers
    val docs = Tables.t(spark, d, "documents").select("doc_id", "text", "lang")
    val merged = StreamFixtures.writeBatches("graft_sdedup", Seq(
      docs,
      docs.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + 10000L)))

    val deduped = StreamDedup.runToCompletion(spark, merged, "sdedup_test")
    val expected = docs.select(md5(col("text"))).distinct().count()
    assert(deduped.count() == expected)
    // first-seen wins: none of the re-id'd (>= 10000) copies survive for
    // texts that already appeared in the base corpus
    assert(deduped.filter(col("doc_id") >= 10000L).count() == 0)

    // bounded-state variant: event time = 1 s per doc_id, so the
    // watermark genuinely advances (and state is genuinely evicted on a
    // long stream). The re-id'd duplicates sit ~10000 s past the
    // originals but arrive in the NEXT micro-batch, and state eviction
    // uses the watermark as of the END of the PREVIOUS batch — still
    // behind every original's expiry — so keep-first semantics hold on
    // this corpus while the state bound is real
    val q = StreamDedup.dedupWithinWatermark(
      StreamDedup.readDocs(spark, merged))
      .writeStream.outputMode("append").format("memory")
      .queryName("sdedup_wm_test").start()
    try q.processAllAvailable()
    finally q.stop()
    assert(spark.table("sdedup_wm_test").count() == expected)
  }

  test("stream-stream interval join matches the batch join") {
    // split events across two files so the join state must bridge
    // micro-batches (maxFilesPerTrigger=1)
    val events = Tables.t(spark, d, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val stream = StreamFixtures.writeBatches("graft_sjoin", Seq(
      events.filter(col("event_id") % 2 === 0),
      events.filter(col("event_id") % 2 === 1)))

    val streamed = StreamJoin.runToCompletion(spark, stream, "sjoin_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamJoin.attribute(events, watermarked = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming audio signatures match batch q150 rows bit-for-bit") {
    val streamed = graft.streaming.StreamAudioSig
      .runToCompletion(spark, d, "saudio_test")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    val batch = SparkEntry.queries("q150_audio_envelope")(spark, d)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(batch.nonEmpty)
    // the stream covers the whole corpus; batch q150's doc_id<200 demo
    // bound restricts its rows — every batch row must match exactly
    batch.foreach { case (id, row) =>
      assert(streamed(id) == row, s"doc $id diverged from batch")
    }
  }

  test("streaming BPE encode matches batch q151 under the trained merge list") {
    // the trained artifact is the ORDERED merge list — R pairs of
    // metadata — and the stream applies it as chained literal replaces
    val merges = graft.queries.TextOps.bpeTrain(spark, d)._1
      .map(t => (t._2, t._3))
    val streamed = StreamBpeEncode.runToCompletion(spark, d, merges, "sbpe_test")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val batch = SparkEntry.queries("q151_bpe_encode")(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming DSIR scoring matches the batch q146 trained weights") {
    val w = graft.queries.Pipeline.dsirWeightArray(spark, d)
    val streamed = StreamDsirScore.runToCompletion(spark, d, w, "sdsir_test")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

    // every corpus document is scored exactly once, in-stream
    assert(streamed.size == Tables.t(spark, d, "documents").count())

    // the shipped batch operator's rows (its top-20) must match the
    // stream's scores bit-for-bit — same hashing, same integer weights
    val batch = SparkEntry.queries("q146_dsir_weights")(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(batch.nonEmpty)
    batch.foreach { case (id, row) =>
      assert(streamed(id) == row, s"doc $id diverged from batch")
    }
  }

  test("streaming delta ingest lands micro-batches as atomic writer commits") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_stream_delta_ingest")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val source = spark.readStream
      .schema(graft.streaming.StreamDedup.schema)
      .option("pathGlobFilter", "documents.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(d)
    val commits = graft.streaming.StreamDeltaIngest.runToCompletion(
      spark, source, dir.getAbsolutePath)
    assert(commits >= 1L)

    // the landed table replays to exactly the source rows
    val snap = graft.sources.DeltaReader.snapshot(spark, dir.getAbsolutePath)
    assert(snap.version == commits - 1)
    val got = graft.sources.DeltaReader.load(spark, dir.getAbsolutePath)
      .selectExpr("doc_id", "text", "lang").collect().toSet
    val want = Tables.t(spark, d, "documents")
      .selectExpr("doc_id", "text", "lang").collect().toSet
    assert(got == want)
    // stream-landed files carry writer stats like batch-written ones
    assert(snap.files.nonEmpty &&
      snap.files.forall(_.stats.exists(_.contains("\"numRecords\""))))
    // and the CDC feed over the committed range is the whole ingest
    val cdc = graft.sources.DeltaReader
      .loadChanges(spark, dir.getAbsolutePath, -1L, snap.version)
      .count()
    assert(cdc == want.size.toLong)

    // exactly-once through the ACTUAL foreachBatch path: a fresh query
    // over the same source replays the same batchIds — every one must
    // no-op against the table's txn ledger, leaving the table unchanged
    val source2 = spark.readStream
      .schema(graft.streaming.StreamDedup.schema)
      .option("pathGlobFilter", "documents.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(d)
    val commits2 = graft.streaming.StreamDeltaIngest.runToCompletion(
      spark, source2, dir.getAbsolutePath)
    assert(commits2 == 0L, "redelivered batches must no-op")
    assert(graft.sources.DeltaReader.load(spark, dir.getAbsolutePath)
      .count() == want.size.toLong)
  }

  test("streaming delta ingest resumes from a real checkpoint; the crash window redelivers exactly-once") {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_stream_delta_restart")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val srcDir = new java.io.File(base, "src")
    val ckpt = new java.io.File(base, "ckpt")
    val table = new java.io.File(base, "table")
    val docs = Tables.t(spark, d, "documents")
      .selectExpr("doc_id", "text", "lang")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    def source() = spark.readStream
      .schema(graft.streaming.StreamDedup.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)

    // run 1 ingests the first file under a REAL checkpoint location
    a.coalesce(1).write.mode("append").parquet(srcDir.getAbsolutePath)
    val c1 = graft.streaming.StreamDeltaIngest.runToCompletion(
      spark, source(), table.getAbsolutePath,
      checkpointLocation = Some(ckpt.getAbsolutePath))
    assert(c1 == 1L)

    // the crash window, for real: the table commit landed but the
    // sink's completion record did not — drop the newest commits/<n>
    // so the restarted query REDELIVERS that batch (same offsets, same
    // batchId), which must no-op against the table's txn ledger
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filter(_.getName.matches("\\d+"))
      .maxBy(_.getName.toLong)
    // the local-FS checksum shadow must go too, or the redelivering
    // query's tempfile rename trips the concurrent-writer guard
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    newest.delete()

    // run 2: a FRESH query over the same checkpoint sees the new file
    // AND the redelivered batch
    b.coalesce(1).write.mode("append").parquet(srcDir.getAbsolutePath)
    val c2 = graft.streaming.StreamDeltaIngest.runToCompletion(
      spark, source(), table.getAbsolutePath,
      checkpointLocation = Some(ckpt.getAbsolutePath))
    assert(c2 == 1L, "redelivered batch must no-op; only the new file commits")

    // exactly-once: the union, no row twice, and the ledger sits at
    // the last batchId
    val landed = graft.sources.DeltaReader.load(spark, table.getAbsolutePath)
    assert(landed.count() == docs.count())
    assert(landed.select("doc_id").distinct().count() == docs.count())
    assert(graft.sources.DeltaReader.txns(spark,
      table.getAbsolutePath).get("graft-stream-ingest").map(_.version).contains(1L))
  }

  test("writeStream.format(\"graft-delta\") lands exactly-once through the declarative sink") {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_stream_fmt_sink")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val srcDir = new java.io.File(base, "src")
    val ckpt = new java.io.File(base, "ckpt")
    val table = new java.io.File(base, "table")
    val docs = Tables.t(spark, d, "documents")
      .selectExpr("doc_id", "text", "lang")
    docs.coalesce(1).write.parquet(srcDir.getAbsolutePath)
    def run(): Unit = {
      val q = spark.readStream
        .schema(graft.streaming.StreamDedup.schema)
        .parquet(srcDir.getAbsolutePath)
        .writeStream.format("graft-delta")
        .option("path", table.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val landed = graft.sources.DeltaReader.load(spark, table.getAbsolutePath)
    assert(landed.collect().toSet == docs.collect().toSet)
    // a WIPED checkpoint replays batchId 0 from scratch — the table's
    // txn ledger absorbs it (the declarative sink is the same
    // exactly-once appendOnce path as StreamDeltaIngest)
    del(ckpt)
    run()
    assert(graft.sources.DeltaReader.load(spark, table.getAbsolutePath)
      .count() == docs.count())
    assert(graft.sources.DeltaReader.txns(spark,
      table.getAbsolutePath).get(s"graft-delta-sink:${table.getAbsolutePath}").map(_.version).contains(0L))
  }

  test("streaming domain scoring matches the batch q160 trained margins") {
    val (w, _) = graft.queries.Pipeline.domainTrain(spark, d)
    val streamed = graft.streaming.StreamDomainScore
      .runToCompletion(spark, d, w, "sdomain_test")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap

    // every corpus document is scored exactly once, in-stream
    assert(streamed.size == Tables.t(spark, d, "documents").count())

    // batch margins through the trainer's own scoring join — every doc,
    // bit-for-bit, plus the threshold convention
    val c = Tables.sql(spark, d,
      s"WITH ${graft.queries.Pipeline.HashedFeatureCtes} " +
        "SELECT doc_id, b, c FROM c")
    val batch = graft.queries.Pipeline.bucketScores(c, w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (id, sc) =>
      assert(streamed(id) == ((sc, sc > 0L)), s"doc $id diverged from batch")
    }
  }

  test("streaming z-route assigns every row the batch q154 layout bucket") {
    val B = 32
    val raw = Tables.t(spark, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    val m = raw.agg(max(col("l_partkey")), max(col("l_suppkey")),
      count(lit(1))).head()
    val (mp, ms, nt) = (m.getLong(0), m.getLong(1), m.getLong(2))
    val zt = raw.withColumn("z", graft.functions.ZOrder.morton(
      expr(s"l_partkey * 256 DIV ${mp + 1}"),
      expr(s"l_suppkey * 256 DIV ${ms + 1}")))
    // q154's full-key total order (the corpus does NOT have unique
    // (l_orderkey, l_linenumber) pairs — only byte-identical duplicate
    // rows remain tied, and those are interchangeable)
    val ranked = graft.plans.DistributedRank.rowNumber(
      zt, lit(0L),
      Seq(col("z").asc, col("l_orderkey").asc, col("l_linenumber").asc,
        col("l_partkey").asc, col("l_suppkey").asc), "rk", 8)
    ranked.cache()
    try {
      // per distinct row, the SORTED multiset of buckets the batch
      // layout assigns its copies (identical rows may swap buckets)
      def grouped(rows: Array[(  (Long, Long, Long, Long), Long)]) =
        rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val batch = grouped(ranked
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          expr(s"CAST((rk - 1) * $B DIV $nt AS BIGINT)").as("bucket"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          -> r.getLong(4)))
      // train the layout artifact: B-1 boundary tuples, metadata-sized
      val bs = graft.streaming.StreamZRoute.boundaries(ranked, B, nt)
      assert(bs.size == B - 1)
      assert(bs == bs.sortBy(b => (b.z, b.okey, b.line, b.pkey, b.skey)),
        "boundaries must ascend in the layout's total order")
      // route the same rows in-stream; every row must land in ITS bucket
      val streamed = grouped(graft.streaming.StreamZRoute
        .runToCompletion(spark, d, bs, mp, ms, "szroute_test")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          -> r.getLong(5)))
      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (k, b) =>
        assert(streamed(k) == b, s"row $k diverged from the batch layout")
      }
    } finally ranked.unpersist()
  }

  test("streaming z-route is schema-generic: a second table routes row-for-row against its batch layout") {
    import org.apache.spark.sql.types._
    val B = 16
    val raw = Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val m = raw.agg(max(col("o_custkey")), max(col("o_orderkey")),
      count(lit(1))).head()
    val (mc, mo, nt) = (m.getLong(0), m.getLong(1), m.getLong(2))
    def zOf = graft.functions.ZOrder.morton(
      expr(s"o_custkey * 256 DIV ${mc + 1}"),
      expr(s"o_orderkey * 256 DIV ${mo + 1}"))
    val keys = Seq("o_orderkey", "o_custkey")
    val ranked = graft.plans.DistributedRank.rowNumber(
      raw.withColumn("z", zOf), lit(0L),
      Seq(col("z").asc, col("o_orderkey").asc, col("o_custkey").asc),
      "rk", 8)
    ranked.cache()
    try {
      // o_orderkey is unique — a per-key bucket map is exact
      val batch = ranked.select(col("o_orderkey"),
        expr(s"CAST((rk - 1) * $B DIV $nt AS BIGINT)").as("bucket"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bs = graft.streaming.StreamZRoute.boundaryTuples(
        ranked, keys, B, nt)
      assert(bs.size == B - 1)
      assert(bs == bs.sorted(Ordering.Implicits.seqOrdering[Seq, Long]),
        "boundaries must ascend in the layout's total order")
      val rows = spark.readStream
        .schema(StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType))))
        .option("pathGlobFilter", "orders.parquet")
        .parquet(d)
      val q = graft.streaming.StreamZRoute.route(rows, zOf, keys, bs)
        .writeStream.outputMode("append").format("memory")
        .queryName("szroute_generic").start()
      try q.processAllAvailable()
      finally q.stop()
      val streamed = spark.table("szroute_generic")
        .select(col("o_orderkey"), col("bucket"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (k, b) =>
        assert(streamed(k) == b, s"order $k diverged from the batch layout")
      }
    } finally ranked.unpersist()
  }

  test("streaming heavy hitters: zero false positives, guaranteed recall, ⊆ batch q153") {
    val docs = Tables.t(spark, d, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    // three micro-batches, arbitrary split — the MG merge rule must not care
    val path = StreamFixtures.writeBatches("shh", Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2)))
    val capacity = graft.queries.TextOps.HeavyHitterCapacity
    val st = graft.streaming.StreamHeavyHitters
      .runToCompletion(spark, path, capacity)

    // exact ground truth, computed independently
    val exact = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    assert(st.n == n, "exact item total must ride the summary")
    assert(st.summary.size <= capacity)

    val confirmed = st.confirmed.map(_._1).toSet
    // (1) zero false positives at the detection threshold (est never overcounts)
    confirmed.foreach { w =>
      assert(exact(w) * (capacity + 1) > n, s"$w emitted but not heavy")
    }
    // (2) guaranteed recall above twice the threshold (undercount bound)
    exact.foreach { case (w, c) =>
      if (c * (capacity + 1) > 2 * n)
        assert(confirmed(w), s"$w above 2n/(m+1) but not emitted")
    }
    // (3) the stream's emitted set is a subset of batch q153's exact output
    val batch = SparkEntry.queries("q153_heavy_hitters")(spark, d)
      .collect().map(_.getString(0)).toSet
    assert(confirmed.subsetOf(batch))
    assert(confirmed.nonEmpty)
  }

  test("auto-optimize: a property-carrying streamed table stays z-clustered") {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_stream_autozorder")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val srcDir = new java.io.File(base, "src")
    val ckpt = new java.io.File(base, "ckpt")
    val table = new java.io.File(base, "table")
    val li = Tables.t(spark, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    // seed the table + the auto-optimize property before streaming
    graft.sources.DeltaWriter.append(
      li.filter(col("l_orderkey") % 7 === 0).coalesce(1),
      table.getAbsolutePath)
    graft.sources.DeltaWriter.setTableProperty(spark,
      table.getAbsolutePath, "graft.autoOptimize.zOrderCols",
      "l_partkey,l_suppkey")
    def source() = spark.readStream
      .schema(li.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)

    li.filter(col("l_orderkey") % 7 === 1).coalesce(1)
      .write.mode("append").parquet(srcDir.getAbsolutePath)
    li.filter(col("l_orderkey") % 7 === 2).coalesce(1)
      .write.mode("append").parquet(srcDir.getAbsolutePath)
    assert(graft.streaming.StreamDeltaIngest.runToCompletion(
      spark, source(), table.getAbsolutePath,
      checkpointLocation = Some(ckpt.getAbsolutePath)) == 2L)

    // every live file is an optimize output — the seed and each landed
    // batch were folded into the clustered layout as they arrived
    val snap = graft.sources.DeltaReader.snapshot(spark,
      table.getAbsolutePath)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.tags.get("optimized").contains("zorder")))
    // content exact across seed + both batches
    assert(graft.sources.DeltaReader.load(spark, table.getAbsolutePath)
      .count() ==
      li.filter(col("l_orderkey") % 7 <= 2).count())
  }

  test("streaming SCD2 ingest: versions open/close per batch; redelivery no-ops without a ledger") {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_stream_scd2")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val srcDir = new java.io.File(base, "src")
    val ckpt = new java.io.File(base, "ckpt")
    val table = new java.io.File(base, "table")
    val nation = Tables.t(spark, d, "nation")
    def source() = spark.readStream
      .schema(nation.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)

    // batch 0: the bootstrap snapshot
    nation.coalesce(1).write.mode("append").parquet(srcDir.getAbsolutePath)
    assert(graft.streaming.StreamScd2Ingest.runToCompletion(
      spark, source(), table.getAbsolutePath, Seq("n_nationkey"),
      checkpointLocation = Some(ckpt.getAbsolutePath)) == 1L)

    // batch 1: a rename for every %3==0 key
    nation.filter(col("n_nationkey") % 3 === 0)
      .withColumn("n_name", concat(col("n_name"), lit("_S2")))
      .coalesce(1).write.mode("append").parquet(srcDir.getAbsolutePath)
    assert(graft.streaming.StreamScd2Ingest.runToCompletion(
      spark, source(), table.getAbsolutePath, Seq("n_nationkey"),
      checkpointLocation = Some(ckpt.getAbsolutePath)) == 1L)

    val hist = graft.sources.DeltaReader.load(spark, table.getAbsolutePath)
    assert(hist.count() == 25L + 9L) // 25 keys + 9 closed versions
    assert(hist.filter(col("valid_to").isNull).count() == 25L)
    assert(hist.filter(col("n_name").endsWith("_S2"))
      .agg(min(col("valid_from"))).head().getLong(0) == 1L)

    // the crash window, for real: drop the newest sink completion
    // record so a fresh query REDELIVERS batch 1 — scd2Apply sees
    // attrs equal to the current versions and publishes NOTHING
    // (exactly-once without any txn ledger)
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filter(_.getName.matches("\\d+"))
      .maxBy(_.getName.toLong)
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    newest.delete()
    assert(graft.streaming.StreamScd2Ingest.runToCompletion(
      spark, source(), table.getAbsolutePath, Seq("n_nationkey"),
      checkpointLocation = Some(ckpt.getAbsolutePath)) == 0L)
    assert(graft.sources.DeltaReader.load(spark, table.getAbsolutePath)
      .count() == 34L)
  }

  test("streaming JL projection matches an independent plain-JVM fold") {
    val outDims = 16
    val streamed = graft.streaming.StreamJlProject
      .runToCompletion(spark, d, outDims, "sjl_test")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    // independent expectation: plain-Scala multiply-add over the
    // quantized corpus with signs re-derived from md5 directly (NOT the
    // module's typedLit fold)
    val corpus = Tables.t(spark, d, "embeddings")
      .selectExpr("vec_id", graft.queries.Extensions.QV + " AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(corpus.nonEmpty && streamed.size == corpus.length)
    corpus.foreach { case (id, v) =>
      val expected = (0 until outDims).map { j =>
        (0 until 64).map { i =>
          val h = graft.functions.Md5Long.hash60(
            s"jl:$i:$j".getBytes("UTF-8"))
          v(i) * (if (h % 2 == 0L) 1L else -1L)
        }.sum
      }
      assert(streamed(id) == expected, s"vec $id")
    }
  }

  test("streaming centroid assignment matches an independent argmin") {
    val cents = graft.queries.Extensions.trainedCentroidSeq(spark, d)
    assert(cents.nonEmpty)
    val streamed = StreamAnnAssign.runToCompletion(spark, d, cents, "sann_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // independent expectation: plain-Scala squared-euclidean argmin over
    // the quantized corpus (NOT the module's fold or lloyd2's window) —
    // exact int64 distances, lowest c_id on ties
    val corpus = Tables.t(spark, d, "embeddings")
      .selectExpr("vec_id", graft.queries.Extensions.QV + " AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = corpus.map { case (id, v) =>
      id -> cents.minBy { case (c, cv) => (d2(v, cv), c) }._1
    }.toMap

    assert(streamed.size == corpus.length)
    assert(streamed == expected)
  }

  test("composed IVF-PQ ingest (dedup -> assign -> encode) matches the batch pipeline") {
    // the full write path in ONE streaming query, against a feed with
    // re-delivered vectors arriving in a LATER micro-batch: f0 = the
    // corpus, f1 = the first 20 vectors re-id'd +10000 (an at-least-once
    // upstream re-delivering). Dedup must drop every re-delivery across
    // the trigger boundary; survivors must carry the exact batch
    // assignment and codes.
    val cents = graft.queries.Extensions.trainedCentroidSeq(spark, d)
    val cb = graft.queries.Extensions.trainedCodebookSeq(spark, d)
    val emb = Tables.t(spark, d, "embeddings")
    val feed = StreamFixtures.writeBatches("graft_vingest", Seq(
      emb,
      emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 10000L)))

    val streamed = VectorIngest.runToCompletion(
      spark, feed, cents, cb, "vingest_test")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList)))
      .toMap

    // batch expectation, fully independent of the streaming modules:
    // survivors = the original corpus (first-seen wins, and the corpus
    // file is the earlier micro-batch), assignment and codes by
    // plain-Scala exact int64 argmin with the lowest-id tie-break
    val m = graft.queries.Extensions.PqM
    val sub = graft.queries.Extensions.PqSubDim
    val corpus = emb
      .selectExpr("vec_id", graft.queries.Extensions.QV + " AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = corpus.map { case (id, v) =>
      val cId = cents.minBy { case (c, cv) => (d2(v, cv), c) }._1
      val codes = (0 until m).map { j =>
        val sv = v.slice(j * sub, j * sub + sub)
        cb.collect { case (sj, cid, cv) if sj == j => (cid, cv) }
          .minBy { case (cid, cv) => (d2(sv, cv), cid) }._1
      }.toList
      id -> ((cId, codes))
    }.toMap

    assert(streamed.size == corpus.length,
      "every re-delivered vector must be dropped, every original kept")
    assert(!streamed.keySet.exists(_ >= 10000L), "a re-delivery survived dedup")
    assert(streamed == expected)
  }

  test("streaming PQ encode matches an independent per-subspace argmin") {
    val cb = graft.queries.Extensions.trainedCodebookSeq(spark, d)
    assert(cb.nonEmpty)
    val streamed = graft.streaming.StreamPqEncode
      .runToCompletion(spark, d, cb, "spq_test")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    // independent expectation: plain-Scala squared-euclidean argmin per
    // subspace (NOT the module's fold or pqTrain's min(struct)) — exact
    // int64 distances, lowest code_id on ties
    val m = graft.queries.Extensions.PqM
    val sub = graft.queries.Extensions.PqSubDim
    val corpus = Tables.t(spark, d, "embeddings")
      .selectExpr("vec_id", graft.queries.Extensions.QV + " AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = corpus.map { case (id, v) =>
      id -> (0 until m).map { j =>
        val sv = v.slice(j * sub, j * sub + sub)
        cb.collect { case (sj, cid, cv) if sj == j => (cid, cv) }
          .minBy { case (cid, cv) => (d2(sv, cv), cid) }._1
      }.toSeq
    }.toMap

    assert(streamed.size == corpus.length)
    assert(streamed == expected)
  }

  // ---- graft-delta STREAMING SOURCE (DeltaStreamSource): the read
  // twin of the declarative sink. Offsets are commit versions; batches
  // replay exact log windows through loadChanges.

  private def streamBase(name: String): java.io.File = {
    val base = new java.io.File(sys.props("java.io.tmpdir"), name)
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    base.mkdirs()
    base
  }

  test("readStream.format(\"graft-delta\") replays the log and tails new commits") {
    val base = streamBase("graft_stream_src_tail")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), table)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
        .repartition(1), table)
    val q = spark.readStream.format("graft-delta").load(table)
      .writeStream.format("memory").queryName("delta_src_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("delta_src_tail").collect().toSet ==
        nation.filter(col("n_nationkey") < 20).collect().toSet)
      // tail: a commit landed AFTER the stream started is picked up by
      // the next trigger, exactly the new rows
      graft.sources.DeltaWriter.append(
        nation.filter(col("n_nationkey") >= 20).repartition(1), table)
      q.processAllAvailable()
      assert(spark.table("delta_src_tail").collect().toSet ==
        nation.collect().toSet)
    } finally q.stop()
  }

  test("graft-delta source paces by maxFilesPerTrigger at commit granularity") {
    val base = streamBase("graft_stream_src_pace")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val slices = Seq(
      nation.filter(col("n_nationkey") < 10),
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20),
      nation.filter(col("n_nationkey") >= 20))
    slices.foreach(s =>
      graft.sources.DeltaWriter.append(s.repartition(1), table))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1").load(table)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count(); if (n > 0) batches += n; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // one single-file commit per micro-batch: a commit is the atomic
    // quantum, never split, and the budget admits exactly one here
    assert(batches.toSeq == slices.map(_.count()))
  }

  test("graft-delta source paces by maxBytesPerTrigger from the adds' own size fields") {
    val base = streamBase("graft_stream_src_pace_bytes")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    // mixed sizes: two SMALL commits (2 rows each), one LARGE (the rest)
    val slices = Seq(
      nation.filter(col("n_nationkey") < 2),
      nation.filter(col("n_nationkey") >= 2 && col("n_nationkey") < 4),
      nation.filter(col("n_nationkey") >= 4))
    slices.foreach(s =>
      graft.sources.DeltaWriter.append(s.repartition(1), table))
    // per-commit add bytes straight from the log (what the source charges)
    val sizeRe = """"size":(\d+)""".r
    def commitBytes(v: Long): Long = {
      val f = new java.io.File(table, f"_delta_log/$v%020d.json")
      sizeRe.findAllMatchIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath)))
        .map(_.group(1).toLong).sum
    }
    val (s0, s1) = (commitBytes(0), commitBytes(1))
    // budget fits the two small commits exactly — the large third would
    // overflow and must close the first batch; it then rides alone
    // (first data commit always admits, even over-budget)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", (s0 + s1).toString).load(table)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count(); if (n > 0) batches += n; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.toSeq == Seq(
      slices(0).count() + slices(1).count(), slices(2).count()))
    // suffixed spelling parses (1g admits everything in one batch)
    val all = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", "1g").load(table)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count(); if (n > 0) all += n; ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(all.toSeq == Seq(nation.count()))
  }

  test("graft-delta source refuses change commits by default and skips them on request") {
    val base = streamBase("graft_stream_src_change")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), table)
    graft.sources.DeltaWriter.delete(spark, table,
      col("n_nationkey") === 3)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 20).repartition(1), table)
    val q1 = spark.readStream.format("graft-delta").load(table)
      .writeStream.format("memory").queryName("delta_src_refuse")
      .outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q1.processAllAvailable() finally q1.stop()
    }
    assert(err.getMessage.contains("append-only") ||
      Option(err.getCause).exists(_.getMessage.contains("append-only")))
    // skipChangeCommits: the WHOLE change commit is skipped (delta's
    // own semantics) — downstream keeps the pre-image of commit 0 and
    // still gets the later append
    val q2 = spark.readStream.format("graft-delta")
      .option("skipChangeCommits", "true").load(table)
      .writeStream.format("memory").queryName("delta_src_skip")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("delta_src_skip").collect().toSet ==
      nation.filter(col("n_nationkey") < 10 || col("n_nationkey") >= 20)
        .collect().toSet)
  }

  test("graft-delta source startingVersion=latest tails only commits after start") {
    val base = streamBase("graft_stream_src_latest")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 20).repartition(1), table)
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "latest").load(table)
      .writeStream.format("memory").queryName("delta_src_latest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("delta_src_latest").isEmpty)
      graft.sources.DeltaWriter.append(
        nation.filter(col("n_nationkey") >= 20).repartition(1), table)
      q.processAllAvailable()
      assert(spark.table("delta_src_latest").collect().toSet ==
        nation.filter(col("n_nationkey") >= 20).collect().toSet)
    } finally q.stop()
  }

  test("source->sink table replication is exactly-once across a checkpointed restart") {
    val base = streamBase("graft_stream_src_repl")
    val src = new java.io.File(base, "src").getAbsolutePath
    val dst = new java.io.File(base, "dst").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), src)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
        .repartition(1), src)
    def run(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .writeStream.format("graft-delta")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(graft.sources.DeltaReader.load(spark, dst).collect().toSet ==
      nation.filter(col("n_nationkey") < 20).collect().toSet)
    // restart the SAME pipeline after the source table grew: the
    // engine's offset checkpoint resumes the source past the already-
    // replicated commits and the sink's txn ledger guards redelivery —
    // the replica converges to the source with zero duplicates
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 20).repartition(1), src)
    run()
    val replica = graft.sources.DeltaReader.load(spark, dst)
    assert(replica.collect().toSet == nation.collect().toSet)
    assert(replica.count() == nation.count())
  }

  test("graft-delta source stopAtLatest drains exactly the commits present at query start; restart resumes past the drained floor") {
    val base = streamBase("graft_stream_src_availnow")
    val src = new java.io.File(base, "src").getAbsolutePath
    val dst = new java.io.File(base, "dst").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), src)  // v0
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
        .repartition(1), src)                                       // v1
    def bounded(body: org.apache.spark.sql.streaming.StreamingQuery
        => Unit): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("stopAtLatest", "true")
        .option("maxFilesPerTrigger", "1").load(src)
        .writeStream.format("graft-delta")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .start()
      try { q.processAllAvailable(); body(q) } finally q.stop()
    }
    // run 1: drains the v0..v1 backlog (paced one commit per batch),
    // then a commit landing WHILE THE QUERY RUNS is never offered —
    // the ceiling was pinned at query start
    bounded { q =>
      assert(graft.sources.DeltaReader.load(spark, dst).collect().toSet ==
        nation.filter(col("n_nationkey") < 20).collect().toSet)
      graft.sources.DeltaWriter.append(
        nation.filter(col("n_nationkey") >= 20).repartition(1), src) // v2
      q.processAllAvailable()
      assert(graft.sources.DeltaReader.load(spark, dst).collect().toSet ==
        nation.filter(col("n_nationkey") < 20).collect().toSet,
        "a commit landed after query start leaked into the bounded drain")
    }
    // the drain equals the batch snapshot at the pin point
    assert(graft.sources.DeltaReader.load(spark, dst).collect().toSet ==
      graft.sources.DeltaReader.loadAt(spark, src, 1L).collect().toSet)
    // run 2, same checkpoint: re-pins its own ceiling, resumes past the
    // drained floor — exactly v2, zero duplicates
    bounded { _ => () }
    val replica = graft.sources.DeltaReader.load(spark, dst)
    assert(replica.collect().toSet == nation.collect().toSet)
    assert(replica.count() == nation.count())
  }

  test("Trigger.AvailableNow drains the backlog and self-terminates against the V1 source") {
    // the engine-side spelling of bounded catch-up: Spark wraps a V1
    // Source for AvailableNow by capturing ONE getOffset at start — so
    // it drains whole only UNPACED (with maxFilesPerTrigger the wrapper
    // would capture just the first paced window and under-drain, a
    // generic V1 limitation; the source's own stopAtLatest option is
    // the PACED bounded drain). This pins the unpaced engine path.
    val base = streamBase("graft_stream_src_trigavail")
    val src = new java.io.File(base, "src").getAbsolutePath
    val dst = new java.io.File(base, "dst").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), src)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10).repartition(1), src)
    val q = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("graft-delta")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000L),
      "AvailableNow query did not self-terminate")
    assert(graft.sources.DeltaReader.load(spark, dst).collect().toSet ==
      nation.collect().toSet)
  }

  test("graft-delta source restart: pacing cursor never rewinds; latest-start resolves once per checkpoint") {
    val base = streamBase("graft_stream_src_restart")
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")

    // (a) paced replication, restart AFTER all batches committed: the
    // durable cursor floors getOffset at the committed offset, so no
    // already-committed window re-plans as a new batchId (which the
    // sink's txn ledger would land again — duplicate rows)
    val src = new java.io.File(base, "src").getAbsolutePath
    val dst = new java.io.File(base, "dst").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), src)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
        .repartition(1), src)
    def run(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("maxFilesPerTrigger", "1").load(src)
        .writeStream.format("graft-delta")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(graft.sources.DeltaReader.load(spark, dst).count() ==
      nation.filter(col("n_nationkey") < 20).count())
    run() // idle restart: nothing new → nothing re-planned
    assert(graft.sources.DeltaReader.load(spark, dst).count() ==
      nation.filter(col("n_nationkey") < 20).count())
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 20).repartition(1), src)
    run() // growth after the idle restart still lands exactly once
    assert(graft.sources.DeltaReader.load(spark, dst).collect().toSet ==
      nation.collect().toSet)
    assert(graft.sources.DeltaReader.load(spark, dst).count() ==
      nation.count())

    // (b) startingVersion=latest is resolved ONCE, at first start, and
    // restored at restart — commits landed while the query was DOWN are
    // after the pinned start and must stream, not be skipped by a
    // re-resolved head
    val src2 = new java.io.File(base, "src2").getAbsolutePath
    val dst2 = new java.io.File(base, "dst2").getAbsolutePath
    val ckpt2 = new java.io.File(base, "ckpt2").getAbsolutePath
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 20).repartition(1), src2)
    def run2(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("startingVersion", "latest").load(src2)
        .writeStream.format("graft-delta")
        .option("path", dst2)
        .option("checkpointLocation", ckpt2)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run2() // pins the start at the current head; nothing to emit yet
    assert(!graft.sources.DeltaWriter.tableExists(dst2) ||
      graft.sources.DeltaReader.load(spark, dst2).isEmpty)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 20).repartition(1), src2)
    run2()
    assert(graft.sources.DeltaReader.load(spark, dst2).collect().toSet ==
      nation.filter(col("n_nationkey") >= 20).collect().toSet)
  }

  test("graft-delta source durability: planning never persists (commit does); corrupt state refuses with the file named") {
    val base = streamBase("graft_stream_src_durability")
    val src = new java.io.File(base, "src").getAbsolutePath
    val meta = new java.io.File(base, "meta").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), src)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10).repartition(1), src)
    def mk() = new graft.streaming.DeltaStreamSource(
      spark, src, meta, "earliest", Some(1), false)
    def v(o: Option[org.apache.spark.sql.execution.streaming.Offset]): Long =
      o.get.json.trim.toLong
    val s1 = mk()
    val off1 = s1.getOffset
    assert(off1.nonEmpty)
    // crash BEFORE the engine WALs the planned offset: a fresh source
    // from the same checkpoint must RE-OFFER the same deterministic
    // window — planning must not have advanced the durable floor, or
    // these versions would be withheld until the next base commit
    // (indefinitely on a quiescent table)
    val s2 = mk()
    val off2 = s2.getOffset
    assert(off2.nonEmpty && v(off2) == v(off1))
    // the engine commits the window: ONLY now does the floor persist,
    // and a fresh source plans strictly past it
    s2.commit(off2.get)
    val s3 = mk()
    val off3 = s3.getOffset
    assert(off3.nonEmpty && v(off3) > v(off2))
    // corrupt/truncated state file: construction refuses with an
    // actionable message naming the file, not an index/parse blowup
    val stateF = new java.io.File(meta, "graft-delta-source-state")
    java.nio.file.Files.write(stateF.toPath,
      "garbage".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException] { mk() }
    assert(e.getMessage.contains("graft-delta-source-state"))
    assert(e.getMessage.contains("re-resolve"))
  }

  test("graft-delta source readChangeFeed streams row-level events matching the batch feed") {
    val base = streamBase("graft_stream_src_cdf")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    // CDF-enabled at create, so the update commit below streams cdc
    // images (v0 creation via overwrite keeps version numbering)
    graft.sources.DeltaWriter.overwrite(
      nation.filter(col("n_nationkey") < 20).repartition(1), table,
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    graft.sources.DeltaWriter.deleteWithVectors(spark, table,
      col("n_nationkey") % 4 === 1)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 20).repartition(1), table)
    graft.sources.DeltaWriter.update(spark, table,
      col("n_nationkey") === 2, Map("n_name" -> lit("STREAMED"))) // v3
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "1").load(table)
      .writeStream.format("memory").queryName("delta_src_cdf")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("delta_src_cdf").collect().toSet
    val batch = graft.sources.DeltaReader
      .loadChangeFeed(spark, table, -1L, 3L).collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // the update commit streams as delta's own update images, exactly
    // the matched row in each direction — no survivor churn crosses the
    // micro-batch boundary
    val updEvents = spark.table("delta_src_cdf")
      .filter(col("_commit_version") === 3L).collect()
      .sortBy(_.getAs[String]("_change_type"))
    assert(updEvents.length == 2)
    assert(updEvents(0).getAs[String]("_change_type") == "update_postimage")
    assert(updEvents(0).getAs[String]("n_name") == "STREAMED")
    assert(updEvents(1).getAs[String]("_change_type") == "update_preimage")
    assert(updEvents(1).getAs[String]("n_name") != "STREAMED")
    assert(updEvents.forall(
      _.getAs[Number]("n_nationkey").longValue == 2L))
    // the two change-handling modes are mutually exclusive
    val err = intercept[Exception] {
      val q2 = spark.readStream.format("graft-delta")
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", "true").load(table)
        .writeStream.format("memory").queryName("delta_src_cdf_bad")
        .outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(err).exists(_.contains("mutually exclusive")))
  }

  test("graft-delta source startingTimestamp starts at the first commit at-or-after the stamp") {
    val base = streamBase("graft_stream_src_ts")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 10).repartition(1), table)   // v0
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10).repartition(1), table)  // v1
    val q = spark.readStream.format("graft-delta")
      .option("startingTimestamp", betweenMs.toString).load(table)
      .writeStream.format("memory").queryName("delta_src_ts")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // only v1 (the first commit stamped at-or-after the cut) streamed
    assert(spark.table("delta_src_ts").collect().toSet ==
      nation.filter(col("n_nationkey") >= 10).collect().toSet)
    // the two start spellings are mutually exclusive
    val err = intercept[Exception] {
      val q2 = spark.readStream.format("graft-delta")
        .option("startingTimestamp", betweenMs.toString)
        .option("startingVersion", "latest").load(table)
        .writeStream.format("memory").queryName("delta_src_ts_bad")
        .outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(err).exists(_.contains("mutually exclusive")))
  }

  test("graft-delta source streams a column-mapped table in logical names") {
    val base = streamBase("graft_stream_src_mapped")
    val table = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 15).repartition(1), table,
      columnMapping = "name")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 15).repartition(1), table)
    val q = spark.readStream.format("graft-delta").load(table)
      .writeStream.format("memory").queryName("delta_src_mapped")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // files carry physical col-<uuid> names; the stream must project
    // back to the logical spellings, whole
    val got = spark.table("delta_src_mapped")
    assert(got.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(got.collect().toSet == nation.collect().toSet)
  }

  test("streaming IVM: the CDF source keeps a COUNT/SUM materialization exact through mutations") {
    val base = streamBase("graft_stream_ivm")
    val tbl = new java.io.File(base, "base").getAbsolutePath
    val mv = new java.io.File(base, "mv").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val orders = Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    graft.sources.DeltaWriter.append(
      orders.filter(col("o_orderkey") % 2 === 0), tbl)
    graft.sources.DeltaWriter.deleteWithVectors(spark, tbl,
      col("o_orderkey") % 14 === 0)
    graft.sources.DeltaWriter.update(spark, tbl, col("o_orderkey") % 10 === 2,
      Map("o_totalprice" -> (col("o_totalprice") * 2)))
    def expected() = graft.sources.DeltaReader.load(spark, tbl)
      .groupBy(col("o_orderpriority").as("key"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def mvState() = graft.sources.DeltaReader.load(spark, mv)
      .select("key", "n", "total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val v1 = graft.streaming.StreamIvm.runToCompletion(spark, tbl, mv,
      "o_orderpriority", "CAST(round(o_totalprice * 100) AS BIGINT)",
      Some(ckpt), maxFilesPerTrigger = Some(1))
    assert(v1 == graft.sources.DeltaReader.snapshot(spark, tbl).version)
    assert(mvState() == expected())
    // the base moves on (append + delete); the SAME checkpointed
    // pipeline restarts and folds ONLY the new commits
    graft.sources.DeltaWriter.append(
      orders.filter(col("o_orderkey") % 2 =!= 0), tbl)
    graft.sources.DeltaWriter.delete(spark, tbl, col("o_orderkey") % 9 === 0)
    val v2 = graft.streaming.StreamIvm.runToCompletion(spark, tbl, mv,
      "o_orderpriority", "CAST(round(o_totalprice * 100) AS BIGINT)",
      Some(ckpt), maxFilesPerTrigger = Some(1))
    assert(v2 == graft.sources.DeltaReader.snapshot(spark, tbl).version)
    assert(mvState() == expected())
    // a redelivered window is an idempotent no-op (the crash-between-
    // fold-and-checkpoint path): folding the last window again changes
    // nothing
    val replay = graft.sources.DeltaReader.loadChangeFeed(spark, tbl,
      v2 - 1, v2)
    val before = mvState()
    graft.streaming.StreamIvm.foldBatch(replay, mv,
      "o_orderpriority", "CAST(round(o_totalprice * 100) AS BIGINT)")
    assert(mvState() == before)
  }

  test("streaming MIN/MAX IVM: extremum retractions across micro-batches, checkpointed restart, redelivery no-op") {
    val base = streamBase("graft_stream_ivm_minmax")
    val tbl = new java.io.File(base, "base").getAbsolutePath
    val mv = new java.io.File(base, "mv").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    val orders = Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    graft.sources.DeltaWriter.append(orders, tbl)
    // a DV delete BEFORE the first run: the retraction arrives in a
    // LATER micro-batch than the inserts it retracts
    graft.sources.DeltaWriter.deleteWithVectors(spark, tbl,
      col("o_orderkey") % 10 === 4)
    def expected() = graft.sources.DeltaReader.load(spark, tbl)
      .groupBy(col("o_orderpriority").as("key"))
      .agg(count(lit(1)).as("n"),
        min(expr(cents)).as("mn"), max(expr(cents)).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def mvState() = graft.sources.DeltaReader.load(spark, mv)
      .select("key", "n", "mn", "mx")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val v1 = graft.streaming.StreamIvm.runToCompletionMinMax(spark, tbl, mv,
      "o_orderpriority", cents, Some(ckpt), maxFilesPerTrigger = Some(1))
    assert(v1 == graft.sources.DeltaReader.snapshot(spark, tbl).version)
    assert(mvState() == expected())
    // the base moves on with EXTREMUM-KILLING mutations (CoW delete,
    // doubling update that retracts old values and inserts new maxima,
    // a transparent compaction); the SAME checkpointed pipeline
    // restarts and folds only the new commits
    graft.sources.DeltaWriter.delete(spark, tbl, col("o_orderkey") % 10 === 3)
    graft.sources.DeltaWriter.compact(spark, tbl)
    graft.sources.DeltaWriter.update(spark, tbl, col("o_orderkey") % 10 === 5,
      Map("o_totalprice" -> (col("o_totalprice") * 2)))
    val v2 = graft.streaming.StreamIvm.runToCompletionMinMax(spark, tbl, mv,
      "o_orderpriority", cents, Some(ckpt), maxFilesPerTrigger = Some(1))
    assert(v2 == graft.sources.DeltaReader.snapshot(spark, tbl).version)
    assert(mvState() == expected())
    // a redelivered window is an idempotent no-op even on the MIN/MAX
    // path (the rescan reads the base AT the window's top version, and
    // the watermark guard rejects the replay outright)
    val changeV = graft.sources.DeltaReader.commitHistory(tbl)
      .map(_._1).filter(_ <= v2).max
    val replay = graft.sources.DeltaReader.loadChangeFeed(spark, tbl,
      changeV - 1, changeV)
    val before = mvState()
    graft.streaming.StreamIvm.foldBatchMinMax(replay, tbl, mv,
      "o_orderpriority", cents)
    assert(mvState() == before)
  }

  test("streaming SKETCHED MIN/MAX IVM: extremum churn folds rescan-free per trigger, stays exact across restart") {
    val base = streamBase("graft_stream_ivm_minmax_sk")
    val tbl = new java.io.File(base, "base").getAbsolutePath
    val mv = new java.io.File(base, "mv").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    val orders = Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    graft.sources.DeltaWriter.append(orders, tbl)
    graft.sources.DeltaWriter.deleteWithVectors(spark, tbl,
      col("o_orderkey") % 10 === 4)
    def expected() = graft.sources.DeltaReader.load(spark, tbl)
      .groupBy(col("o_orderpriority").as("key"))
      .agg(count(lit(1)).as("n"),
        min(expr(cents)).as("mn"), max(expr(cents)).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def mvState() = graft.sources.DeltaReader.load(spark, mv)
      .select("key", "n", "mn", "mx")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val v1 = graft.streaming.StreamIvm.runToCompletionMinMaxSketched(
      spark, tbl, mv, "o_orderpriority", cents, Some(ckpt),
      maxFilesPerTrigger = Some(1))
    assert(v1 == graft.sources.DeltaReader.snapshot(spark, tbl).version)
    assert(mvState() == expected())
    // SINGLE-ROW extremum churn between runs: delete the one globally
    // most expensive surviving order (a per-group extremum delete in
    // its group) — the sketched fold must absorb it with ZERO rescans
    val maxKey = graft.sources.DeltaReader.load(spark, tbl)
      .orderBy(expr(cents).desc).limit(1)
      .select(col("o_orderkey")).head().getLong(0)
    graft.sources.DeltaWriter.deleteWithVectors(spark, tbl,
      col("o_orderkey") === maxKey)
    val v2 = graft.streaming.StreamIvm.runToCompletionMinMaxSketched(
      spark, tbl, mv, "o_orderpriority", cents, Some(ckpt),
      maxFilesPerTrigger = Some(1))
    assert(v2 == graft.sources.DeltaReader.snapshot(spark, tbl).version)
    assert(mvState() == expected())
    assert(graft.operators.IncrementalAgg.lastRescanGroups == 0L,
      s"a single extremum delete must pop the sketch, not rescan " +
        s"(got ${graft.operators.IncrementalAgg.lastRescanGroups})")
    // redelivered window: idempotent no-op through the sketched fold
    val before = mvState()
    val replay = graft.sources.DeltaReader.loadChangeFeed(spark, tbl,
      v2 - 1, v2)
    graft.operators.IncrementalAgg.foldEventsMinMaxSketched(
      replay, tbl, mv, "o_orderpriority", cents, v2)
    assert(mvState() == before)
  }

  test("the streaming source tails a CONVERTED table and its COPY INTO commits") {
    // the migration verbs compose with the streaming surface: a plain
    // parquet dir converts in place (v0), a landing wave COPY INTOs
    // (v1), and a streaming consumer reads BOTH commits — then a second
    // wave lands mid-stream and arrives as its own micro-batch
    val base = streamBase("graft_stream_src_converted")
    val tbl = new java.io.File(base, "table").getAbsolutePath
    val landing = new java.io.File(base, "landing")
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    nation.filter(col("n_nationkey") < 10).repartition(1)
      .write.parquet(tbl)
    graft.sources.DeltaWriter.convertToDelta(spark, tbl)
    nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
      .repartition(1)
      .write.parquet(new java.io.File(landing, "w1").getAbsolutePath)
    graft.sources.DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    val q = spark.readStream.format("graft-delta").load(tbl)
      .writeStream.format("memory").queryName("delta_src_converted")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("delta_src_converted").collect().toSet ==
        nation.filter(col("n_nationkey") < 20).collect().toSet)
      // a second wave lands mid-stream; the tail picks up exactly it
      nation.filter(col("n_nationkey") >= 20).repartition(1)
        .write.parquet(new java.io.File(landing, "w2").getAbsolutePath)
      graft.sources.DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
      q.processAllAvailable()
      assert(spark.table("delta_src_converted").collect().toSet ==
        nation.collect().toSet)
    } finally q.stop()
  }

  test("the streaming source tails a SHALLOW CLONE (absolute-path adds) whole") {
    val base = streamBase("graft_stream_src_clone")
    val src = new java.io.File(base, "src").getAbsolutePath
    val dst = new java.io.File(base, "dst").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 20).repartition(1), src)
    graft.sources.DeltaWriter.cloneShallow(spark, src, dst)
    // the clone diverges with its own append; the stream over the
    // CLONE must read the absolute-path v0 adds AND the relative v1
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 20).repartition(1), dst)
    val q = spark.readStream.format("graft-delta").load(dst)
      .writeStream.format("memory").queryName("delta_src_clone")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("delta_src_clone").collect().toSet ==
      nation.collect().toSet)
  }
}
