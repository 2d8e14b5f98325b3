package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

import graft.sources.{DeltaReader, DeltaWriter}

/** Structural plan assertions — the SCALE.md/PLANS.md claims as tests, so
  * a regression that un-pushes a filter, de-broadcasts a dim, or splits a
  * scan breaks the build rather than only the benchmark. */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  private def plan(name: String): String = {
    // drop cached state other suites may have left in the shared session
    // (e.g. QueriesSpec runs q115/q116, which cache the lloyd2
    // assignment) — a stale InMemoryRelation substituting into this
    // query's tree would make the audited shape depend on suite order.
    // Caches a query takes itself are re-registered during construction
    // below, so self-cache assertions (q104 etc.) still hold.
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, d).queryExecution
      .explainString(FormattedMode)
  }

  test("runtime bloom filter: a selective dim filter reaches the fact side of a shuffle join") {
    // At 100 TB the fact side of a shuffle join cannot afford to ship
    // rows the other side's filter already killed. Spark's runtime
    // bloom-filter injection builds a filter from the filtered
    // creation side and applies it BEFORE the fact exchange; the local
    // thresholds (10 GB scan floor) are sized for clusters, so the
    // test lowers them to observe the production plan shape on sf data
    // (SCALE.md "Runtime filtering").
    SparkTestSession.withConfs(Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      import spark.implicits._
      val l = Tables.t(spark, d, "lineitem")
      val o = Tables.t(spark, d, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
      val p = l.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(org.apache.spark.sql.functions.sum($"l_quantity"))
        .queryExecution.explainString(FormattedMode)
      // Spark 4 renders the injected filter as
      // `might_contain(Subquery …, xxhash64(l_orderkey…))` in the
      // fact-side Filter node (the bloom subquery aggregates the
      // filtered creation side)
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$p")
      assert(p.contains("xxhash64(l_orderkey"),
        "the filter must probe the FACT side's join key")
    }
  }

  test("q157: the salted join stays a sort-merge join keyed on (k, salt)") {
    val p = plan("q157_skew_salt_join")
    assert(p.contains("SortMergeJoin"), "the merge hint must hold the SMJ regime")
    assert(!p.contains("BroadcastHashJoin"),
      "a broadcast would dodge the skew the salt spell addresses")
    // the join-side exchanges hash on BOTH the key and the salt
    assert("hashpartitioning\\(k#\\d+L?, salt#\\d+".r.findFirstIn(p).isDefined,
      s"join exchange must partition on (k, salt):\n$p")
  }

  test("q158: the status predicate reaches the ORC scan") {
    val p = plan("q158_orc_scan")
    assert(p.contains("Scan orc"), "must plan as a native ORC scan")
    assert("PushedFilters: \\[[^\\]]*o_orderstatus".r.findFirstIn(p).isDefined,
      s"o_orderstatus filter must push into the ORC scan:\n$p")
  }

  test("q2: predicates reach the parquet scan (PushedFilters)") {
    val p = plan("q2_filter")
    assert(p.contains("PushedFilters: ["))
    assert(!p.contains("PushedFilters: []"), "filter list must be non-empty")
  }

  test("q1: aggregation is two-phase (map-side partial)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"))
  }

  test("q3: both dimension joins broadcast, no shuffle join") {
    val p = plan("q3_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q82 (TPC-H Q5 shape): every dim broadcasts, fact never shuffles pre-agg") {
    val p = plan("q82_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q192: both retriever sides broadcast their small dims; top-k rides group-limit pushdown") {
    // the lexical side's term/df/dl/params dims must broadcast (the
    // posting-list join is the only corpus-sized exchange). The dense
    // leg is the r18 IVF probe: the ONLY nested-loop join in the plan
    // is the corpus × BROADCAST-CENTROID assignment pass (k rows on
    // the broadcast side, collapsed by a partial-aggregatable argmin
    // before any shuffle), and the per-query probe itself is a
    // broadcast HASH join on c_id — the r16 corpus×queries cross join
    // is gone, so no shuffled cartesian and no second NLJ may appear.
    // rank <= k must reach the windows as WindowGroupLimit so no full
    // per-query ranking materializes. (The plan's other nested-loop
    // joins are all 1-row scalar-param or k-row centroid broadcasts —
    // the probe fingerprint below is what rules out a corpus×queries
    // dense leg coming back.)
    val p = plan("q192_hybrid_rrf")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"))
    // the dense candidate join is a broadcast HASH join keyed
    // c_id = c_id (each query scans only its centroid's inverted list)
    assert("""Left keys \[1\]: \[c_id""".r.findFirstIn(p).isDefined)
  }

  test("q57: hive partition filter prunes at the scan") {
    val p = plan("q57_partitioned_parquet")
    assert(p.contains("PartitionFilters") && p.contains("l_returnflag"))
  }

  test("q60: partitioned delta is ONE scan node via the snapshot FileIndex") {
    val p = plan("q60_delta_partitioned")
    // count node-detail headers "(n) Scan parquet" — the tree section
    // repeats each node name
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1)
  }

  private def tmpTable(name: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"), s"graft_plan_$name")
    def del(x: java.io.File): Unit = {
      if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(del)
      x.delete()
    }
    del(f)
    f.getAbsolutePath
  }

  private def scanNodes(df: org.apache.spark.sql.DataFrame): Int =
    """\(\d+\) Scan parquet""".r
      .findAllIn(df.queryExecution.explainString(FormattedMode)).size

  test("loadChanges: a window over 5 partition tuples is ONE file scan") {
    val path = tmpTable("changes_tuples")
    val orders = Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    DeltaWriter.append(orders, path, Seq("o_orderpriority"))
    assert(DeltaReader.snapshot(spark, path).files
      .map(_.partitionValues).distinct.size == 5)
    assert(scanNodes(DeltaReader.loadChanges(spark, path, -1L, 0L)) == 1)
  }

  test("loadChangeFeed: three DV-grown files in one commit scan once per change type") {
    val path = tmpTable("feed_dv_grown")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"))
    Seq(0 -> 8, 8 -> 16, 16 -> 25).foreach { case (lo, hi) => // v0..v2
      DeltaWriter.append(nation.filter(col("n_nationkey") >= lo &&
        col("n_nationkey") < hi).coalesce(1), path)
    }
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") % 4 === 0)
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") % 4 === 1)
    val files = DeltaReader.snapshot(spark, path).files
    assert(files.size == 3 && files.forall(_.deletionVector.nonEmpty))
    // a changed vector yields a newly-dead (delete) and a newly-alive
    // (insert, empty here) unit per file: one scan for each change type,
    // whatever the number of files
    val feed = DeltaReader.loadChangeFeed(spark, path, 3L, 4L)
    assert(scanNodes(feed) == 2)
    assert(feed.collect().map(_.getAs[Number]("n_nationkey").longValue)
      .sorted.toSeq == (1L until 25L by 4L))
  }

  test("q92: the rates dim joins without a shuffle of the corpus") {
    val p = plan("q92_stratified_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q44: query set broadcasts; corpus side streams once") {
    val p = plan("q44_sim_topk_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("no driver-side LocalRelation feeds any dedup join") {
    Seq("q40_dedup_exact", "q42_dedup_minhash_lsh", "q43_dedup_simhash")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("LocalTableScan"), s"$q has a driver-built table")
      }
  }

  test("q97: eval-gram dim broadcasts; the training corpus never shuffles for the join") {
    val p = plan("q97_decontamination")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q103: chunking is a pure map stage — no exchange before the presentation sort") {
    val p = plan("q103_doc_chunking")
    // the only exchange permitted is the final orderBy's range partitioning
    // (formatted mode puts the partitioning on an Arguments: line)
    assert(!p.contains("hashpartitioning("), "chunk explode must not shuffle")
  }

  test("q107: salted aggregate is two chained partial→final aggregates") {
    val p = plan("q107_skew_salt")
    assert("hashpartitioning\\(".r.findAllIn(p).size == 2,
      "expected exactly the salt-phase and combine-phase exchanges")
  }

  test("q101: segment df dim and occurrence stream join on the digest key") {
    val p = plan("q101_segment_dedup")
    // both sides derive from the same scan; no broadcast of a corpus-sized
    // side, no nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q108: fuzzy pairs form via an equi-join on the block key, not a nested loop") {
    val p = plan("q108_fuzzy_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q102: packing's running sum is range-distributed — no per-language Window task") {
    val p = plan("q102_sequence_packing")
    assert(!p.contains("Window"),
      "a per-language window would serialize packing into one task per language")
    assert(p.contains("ExistingRDD"),
      "expected the DistributedRank range-partition seam")
  }

  test("q110: containment pairs explode from capped posting lists — no join, no cache") {
    val p = plan("q110_containment_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the capped segment stream is consumed once: the pair source is a
    // collect_list aggregate + explode, so nothing needs (or holds) a
    // cache and the corpus is never self-joined
    assert(!p.contains("Join"), "posting-list pairing regressed to a join")
    assert(!p.contains("InMemoryTableScan"), "q110 must not cache")
  }

  test("q111: novelty joins the first-doc dim back on the digest key only") {
    val p = plan("q111_segment_novelty")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q112: the only nested loop is the tiny source-pair dim; zero-fill joins broadcast") {
    val p = plan("q112_source_overlap")
    // the source×source pair enumeration is the one permitted nested loop
    // (both inputs are distinct-source aggregates, metadata-sized); the
    // corpus-side digest join must stay an equi-join. Count detail headers
    // — formatted mode repeats node names in the tree section.
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 1)
    assert(!p.contains("CartesianProduct"))
    // the shared-overlap matrix (≤ |sources|² rows) broadcasts into the
    // left join that zero-fills the pair matrix
    assert(p.contains("BroadcastHashJoin LeftOuter"))
  }

  test("q113: top-50 fuses to TakeOrderedAndProject; aggregates are two-phase") {
    val p = plan("q113_collocations")
    // the (lift DESC, w1, w2) limit must not materialize a global sort of
    // the full pair table
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    // unigram and bigram counts both map-side combine before their exchange
    assert(p.contains("partial_count"))
    // the only nested loop is the broadcast single-row total
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 1)
  }

  test("q104: both ANN cross-joins broadcast the small side; the corpus streams") {
    val p = plan("q104_ann_recall")
    // ground truth (corpus × query set) and assignment (corpus ×
    // centroids, now CACHED so its two consumers — probe side and
    // query-set derivation — share one computation): the filtered dim is
    // ALWAYS the build side, the corpus is never built
    val loops = p.split('\n').filter(_.contains("BroadcastNestedLoopJoin"))
    assert(loops.nonEmpty)
    assert(loops.forall(l => l.contains("Cross BuildRight") ||
      l.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")), loops.mkString("|"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryRelation"), "assignment materialization point lost")
    // the probe touches one inverted list via a broadcast equi-join on c_id
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q114: every Lloyd's round broadcasts the centroid side; corpus is never built") {
    val p = plan("q114_ivf_train")
    // exactly 3 distinct assignment joins — 2 sample-training rounds +
    // 1 full-corpus assignment — each building the k-row centroid side
    // (the detail section has one header per node; the tree additionally
    // reprints the training joins inside the cached trained-centroid
    // InMemoryRelation, so count tree occurrences only to prove every
    // cross is BuildRight)
    val nodes = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    val treeCross = """BroadcastNestedLoopJoin Cross""".r.findAllIn(p).size
    val treeBuildRight =
      """BroadcastNestedLoopJoin Cross BuildRight""".r.findAllIn(p).size
    assert(nodes == 3, s"nodes=$nodes")
    assert(treeCross == treeBuildRight,
      s"a non-BuildRight cross appeared: cross=$treeCross buildRight=$treeBuildRight")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
    // the nearest-centroid argmin is the partial-aggregatable
    // min(struct(dist, c_id)) — with k ∝ n, a row_number window here
    // would shuffle the full n·k expansion (O(n²/40) exchange rows)
    assert(p.contains("partial_min"))
    assert(!p.contains("row_number"), "assignment regressed to a window argmin")
  }

  test("q68: IVF assignment argmin partial-aggregates — no window over the n·k expansion") {
    val p = plan("q68_sim_ivf")
    assert(p.contains("partial_min"))
    assert(!p.contains("row_number"), "assignment regressed to a window argmin")
    assert(!p.contains("Window"), "no window anywhere in the assignment path")
    assert(!p.contains("CartesianProduct"))
  }

  test("q93: probe assignment partial-aggregates; the only window is the per-query top-3") {
    val p = plan("q93_sim_ivf_probe")
    assert(p.contains("partial_min"))
    // exactly one Window node — the rn<=3 probe ranking over the
    // inverted-list candidates (bounded per query), never the n·k
    // assignment expansion (\b excludes the WindowGroupLimit pair Spark
    // inserts for the rank filter — those SHRINK the probe, keep them)
    assert("""\(\d+\) Window\b""".r.findAllIn(p).size == 1,
      "assignment regressed to a window argmin")
  }

  test("q115: semdedup pairs form on the cluster-id equi-join; only centroid sides build") {
    val p = plan("q115_semdedup")
    // every nested loop is a Lloyd's assignment pass building the k-row
    // centroid side (tree lines carry the Cross BuildRight tag; detail
    // headers carry none); the pairwise stage itself must be a c_id
    // equi-join, and the assignment is cached so its three consumers
    // share ONE computation of the two corpus passes
    val loops = p.split('\n').filter(_.contains("BroadcastNestedLoopJoin"))
    assert(loops.nonEmpty)
    assert(loops.forall(l => l.contains("Cross BuildRight") ||
      l.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")), loops.mkString("|"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryRelation"), "assignment materialization point lost")
  }

  test("q120: both SQ8 recall cross-joins broadcast the query set; corpus streams") {
    val p = plan("q120_sq8_recall")
    // ground-truth and quantized top-k scans each broadcast the 5-row
    // query set against the streaming corpus — the corpus is never built
    val all = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    val buildRight =
      """BroadcastNestedLoopJoin Cross BuildRight \(\d+\)""".r.findAllIn(p).size
    assert(all == buildRight && all == 2, s"all=$all buildRight=$buildRight")
    assert(!p.contains("CartesianProduct"))
  }

  test("q116: keep list anti-joins the marker set — no nested loop past the Lloyd's passes") {
    val p = plan("q116_semdedup_keep")
    // same contract as q115 (the dupe markers share the c_id equi-join
    // pair stage, the cached assignment is the shared materialization)
    // plus: the final keep-list anti-join is a key equi-join
    val loops = p.split('\n').filter(_.contains("BroadcastNestedLoopJoin"))
    assert(loops.nonEmpty)
    assert(loops.forall(l => l.contains("Cross BuildRight") ||
      l.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")), loops.mkString("|"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryRelation"), "assignment materialization point lost")
    assert(p.contains("LeftAnti"))
  }

  test("q117: rewritten pg regex predicates stay codegen filters — no UDF, no extra exchange") {
    val p = plan("q117_pg_regex")
    // RLIKE/LIKE land in a plain Filter/Project over one scan: the only
    // exchange is the presentation sort's
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
    // one detail-header exchange: the presentation sort's range partition
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1,
      "dialect rewrite added a shuffle")
  }

  test("q125: incremental dedup is all equi-joins — no nested loop, no cartesian") {
    val p = plan("q125_incremental_dedup")
    // digest lookup + asymmetric band join + near-flag join: every join
    // must be hash/merge on an equi key; the sealed corpus must never
    // meet itself through a loop join
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // both sides pay exactly one df-cap window (keyed on the shingle
    // hash — the same distributed key as the band join)
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 2)
  }

  test("q126: PQ training is all broadcast equi-joins over one cached sub-vector frame") {
    val p = plan("q126_pq_train")
    // seed join, both assignment passes, and the usage join are hash
    // joins building the metadata-sized side; the corpus frame is the
    // declared cache point; no loop join anywhere in PQ training
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("InMemoryRelation"),
      "sub-vector/codebook materialization point lost")
    // nearest-code selection is the partial-aggregatable min(struct) —
    // map-side combine, not a row_number window over the n·m·ks expansion
    assert(p.contains("partial_min"))
    assert(!p.contains("row_number"))
  }

  test("q127: ADC touches the corpus only through codes ⋈ broadcast LUT") {
    val p = plan("q127_pq_adc")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("InMemoryRelation"))
    // the ADC sum partial-aggregates before its shuffle
    assert(p.contains("partial_sum"))
  }

  test("q128: the only loop join is the exact ground truth broadcasting the query set") {
    val p = plan("q128_pq_recall")
    val all = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(all == 1, s"expected exactly the gt cross join, got $all")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q129: sampling is one broadcast-joined map-side filter over the corpus") {
    val p = plan("q129_mixture_sample")
    // the threshold table broadcasts; the corpus is filtered in place —
    // no per-stratum sort/rank, no shuffle of the corpus itself
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryRelation"), "threshold materialization point lost")
    assert(!p.contains("row_number"))
  }

  test("q130: span detection never pair-joins the corpus") {
    val p = plan("q130_dup_spans")
    // df computation + join-back are hash-keyed equi-joins; the only
    // acceptable join nodes are hash joins (broadcast or shuffle)
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // the df aggregate partial-aggregates before its corpus-wide shuffle
    assert(p.contains("partial_count"))
  }

  test("q131: chunking joins nothing — pure map + windows + aggregates") {
    val p = plan("q131_cdc_chunks")
    assert(!p.contains("Join"), "CDC chunking must not join")
    assert(p.contains("partial_count"), "rollup must map-side combine")
  }

  test("q137: overlap pairs form only through hash-keyed posting lists") {
    val p = plan("q137_winnow_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q132: eval set broadcasts; the corpus never shuffles pre-agg") {
    val p = plan("q132_semantic_decon")
    // exactly one loop join: corpus × broadcast 5-row eval set
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 1)
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q133: the per-source cap uses DistributedRank, not a window") {
    val p = plan("q133_source_cap")
    // a `row_number() OVER (PARTITION BY source)` spelling would plan a
    // Window node with one task per source — the shape this query exists
    // to avoid
    assert(!p.contains("Window"), "per-source window regressed into the plan")
  }

  test("q180: both curriculum ranks use DistributedRank, never a window") {
    val p = plan("q180_curriculum")
    // a global `row_number() OVER (ORDER BY …)` or a per-stage
    // partitioned window would serialize the corpus (or each stage)
    // through one task — the exact shapes this operator exists to avoid
    assert(!p.contains("Window"), "curriculum rank regressed into a window")
  }

  test("q89: label propagation feeds no driver-built table and grows linearly per round") {
    val p = plan("q89_dedup_clusters")
    assert(!p.contains("LocalTableScan"), "q89 has a driver-built table")
    // r22: the kernel is one self-looped join + min-aggregate per round
    // in a SINGLE query (labels referenced once per round — linear
    // lineage, no per-round checkpoint action). A fixed exchange bound
    // can't pin this (each round's reference to the cached edge frame
    // prints its whole upstream pipeline inside InMemoryRelation — the
    // q162 note), so pin the property that MATTERS: per-round plan
    // growth must be CONSTANT (the old double-reference round doubled
    // the tree per round).
    val pairs = graft.queries.Dedup.nearDupPairs08(spark, d)
    def exchanges(n: Int): Int = "Exchange".r.findAllIn(
      graft.operators.ConnectedComponents.minLabelRounds(pairs, n)
        .queryExecution.explainString(FormattedMode)).size
    assert(exchanges(4) - exchanges(3) == exchanges(3) - exchanges(2),
      "per-round plan growth is not constant — lineage doubling regressed")
  }

  test("q89: shingles hash natively — no lambda in the shingle stage") {
    val p = plan("q89_dedup_clusters")
    // the word-3-gram hashes come from the native WordNgramMd5Long
    // expression; the composable transform(sequence, slice, concat_ws)
    // spelling evaluates an interpreted lambda per window
    assert(p.contains("wordngrammd5long("), "shingle stage is not the native expression")
    assert(!p.toLowerCase.contains("lambdafunction"),
      "shingle stage regressed to an interpreted lambda")
  }

  test("q145: BM25 retrieval is equi-joins + a group-limited top-k, never all-pairs") {
    val p = plan("q145_bm25_topk")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "term joins should broadcast at this SF")
    // the only nested loop is the 1-row (n, tt) scalar-parameter dim
    val loops = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(loops == 1, s"expected only the scalar dim loop, got $loops")
    // the per-query top-5 is group-limited before any shuffle
    assert(p.contains("WindowGroupLimit"))
  }

  test("q146: the DSIR weight dim broadcasts; the top-20 is TakeOrdered, not a sort") {
    val p = plan("q146_dsir_weights")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    // only the 1-row (R, T) scalar dim may nested-loop
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 1)
    assert(p.contains("TakeOrderedAndProject"), "global top-20 regressed to a sort")
  }

  test("q160: the classifier weight dim broadcasts in the scoring join") {
    // every training round scores through this exact kernel — a 4096-row
    // weight dim regressing to a shuffle join would shuffle the corpus
    // feature frame R times at 100 TB
    val c = Tables.sql(spark, d,
      s"WITH ${graft.queries.Pipeline.HashedFeatureCtes} " +
        "SELECT doc_id, b, c FROM c")
    val p = graft.queries.Pipeline.bucketScores(c, Array.fill(4096)(0L))
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), "weight dim must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q162: PageRank's top-20 is TakeOrdered; plan size is round-independent") {
    val p = plan("q162_pagerank_centrality")
    assert(p.contains("TakeOrderedAndProject"), "top-20 regressed to a global sort")
    assert(!p.contains("CartesianProduct"))
    // per-round localCheckpoint truncation: a fixed exchange bound
    // can't pin this (the cached degree dim prints its whole upstream
    // dhash pipeline inside its InMemoryRelation), so pin the property
    // that MATTERS — the plan must not grow with the round count
    val edges = graft.queries.TextOps.dhashEdges(spark, d)
    def exchanges(n: Int): Int = "Exchange".r.findAllIn(
      graft.operators.PageRank.rounds(edges, n)
        .queryExecution.explainString(FormattedMode)).size
    assert(exchanges(3) == exchanges(1),
      "per-round lineage truncation regressed — plan accumulates with rounds")
  }

  test("q147: the perceptual dedup map bounds its lineage like q89") {
    val p = plan("q147_dhash_keep")
    assert(!p.contains("LocalTableScan"), "q147 has a driver-built table")
    assert(!p.contains("CartesianProduct"))
    // r22: same linear-growth invariant as q89 (single-query self-looped
    // rounds; a fixed bound can't pin the InMemoryRelation-printed
    // upstream, constant per-round growth can)
    val pairs = graft.queries.TextOps.dhashPairsShared(spark, d)
    def exchanges(n: Int): Int = "Exchange".r.findAllIn(
      graft.operators.ConnectedComponents.minLabelRounds(pairs, n)
        .queryExecution.explainString(FormattedMode)).size
    assert(exchanges(4) - exchanges(3) == exchanges(3) - exchanges(2),
      "per-round plan growth is not constant — lineage doubling regressed")
  }

  test("q143: dHash signature stays in codegen; pairs form via the chunk equi-join") {
    val p = plan("q143_dhash_neardup")
    // the signature is the native DHash63 expression — the scan →
    // signature stage must not fall out of codegen into an object
    // boundary (the old mapPartitions spelling cost a Deserialize/
    // SerializeFromObject pair per corpus pass)
    assert(!p.contains("MapPartitions") && !p.contains("DeserializeToObject"),
      "dHash signature regressed out of codegen")
    // pair generation is the pigeonhole (chunk, value) equi-join — an
    // O(n²) all-pairs spelling would plan a nested loop or cartesian
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "dHash pairing regressed to an all-pairs scan")
  }

  test("q151: the trained vocab broadcasts; the corpus never shuffles for the encode join") {
    val p = plan("q151_bpe_encode")
    // encode = ONE broadcast equi-join of the Heaps-bounded vocab dim
    // against the exploded corpus, then a map-side-combined per-doc sum
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the tokenizer vocab dim regressed to a shuffle join")
    assert(p.contains("partial_sum"), "per-doc sum lost its map-side combine")
  }

  test("q173/q174/q175: the ANN additions cache their one expensive pass and never go all-pairs") {
    // q173: the projection fold runs once into a cached frame the whole
    // dim sweep slices; the fold itself stays in codegen (no object
    // boundary), and the broadcast-query passes must not degrade to an
    // unbroadcast cartesian
    val p173 = plan("q173_jl_projection")
    assert(p173.contains("InMemoryRelation"),
      "q173 lost its cached projection frame — the fold would rerun per sweep member")
    assert(!p173.contains("MapPartitions") && !p173.contains("DeserializeToObject"))
    assert(!p173.contains("CartesianProduct"))
    // q174: one cached cosine pass consumed by both the positive max
    // and the negative band
    val p174 = plan("q174_hard_negatives")
    assert(p174.contains("InMemoryRelation"),
      "q174 lost its cached scored pass — the corpus cosine scan would run twice")
    assert(!p174.contains("CartesianProduct"))
    // q175: candidates and pairwise sims materialize once; the greedy
    // rounds must never re-expand into an all-pairs or cartesian shape
    val p175 = plan("q175_mmr_rerank")
    assert(!p175.contains("CartesianProduct"))
  }

  test("q178: the point-in-time join is a broadcast EQUI join with the window as residual") {
    val p = plan("q178_scd2_pointintime")
    // if the planner failed to extract the key equi-condition the range
    // residual would force a nested-loop join over facts × history
    assert(p.contains("BroadcastHashJoin"),
      "point-in-time join lost its equi-key extraction")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("streaming DSIR scorer and BPE encoder plan stateless: no state, no exchange") {
    // the per-row folds must stay scan → project (the StreamAnnAssign
    // shape): any aggregate/state/exchange means the operator silently
    // regressed to a stateful/shuffling plan
    val docs = Tables.t(spark, d, "documents").select("doc_id", "text")
    val dsir = graft.streaming.StreamDsirScore
      .score(docs, new Array[Long](4096))
      .queryExecution.explainString(FormattedMode)
    val bpe = graft.streaming.StreamBpeEncode
      .encode(docs, Seq("e" -> "r", "i" -> "n"))
      .queryExecution.explainString(FormattedMode)
    for ((p, name) <- Seq(dsir -> "DSIR scorer", bpe -> "BPE encoder")) {
      assert(!p.contains("Exchange") && !p.contains("StateStore") &&
        !p.contains("HashAggregate"),
        s"streaming $name is no longer a stateless per-row fold")
    }
  }
}
