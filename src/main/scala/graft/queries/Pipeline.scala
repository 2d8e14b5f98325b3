package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-4 LLM-data-pipeline operators: segment-level dedup (the CCNet
  * "drop duplicated lines" pass), sequence packing, RAG-style chunking,
  * ANN recall evaluation, and blocked edit-distance fuzzy dedup.
  *
  * Scale design (100 TB): every corpus-wide exchange here is keyed on a
  * derived hash (segment digest, pack shard, block id) — never an
  * all-pairs join. The quadratic pieces (fuzzy pairs, recall ground
  * truth) run strictly inside declared blocks / a broadcast-sized query
  * set. The synthetic `documents.text` is space-separated tokens with no
  * newlines, so "lines" are declared as non-overlapping 10-token
  * segments — the operator shape (hash → corpus df → drop repeated) is
  * exactly the CCNet/C4 one.
  */
object Pipeline {

  /** Document-frequency cap for q110's segment posting lists — the
    * segment-identity twin of [[Dedup.MaxShingleDf]] (same rationale,
    * same declared-semantics contract, mirrored in the oracle CTE). */
  private[queries] val MaxSegmentDf = 50

  /** The md5_60 of every unigram, then of every bigram, of a document's
    * `text` (the q96 feature-hashing convention) — one spelling for the
    * batch trainers ([[HashedFeatureCtes]]) and the stream scorers
    * (`StreamDsirScore.featsCol`), so their feature identity cannot
    * drift. A one-word text has no bigrams. */
  private[graft] val FeatureHashes: String =
    "concat(word_ngram_md5_60(text, 1), word_ngram_md5_60(text, 2))"

  /** The hashed-feature extraction every content-based selection
    * operator shares (q146 DSIR, q160/q161 domain classifier): unigrams
    * + bigrams ([[FeatureHashes]]) hashed into 4096 buckets, reduced to
    * per-doc bucket counts `c(doc_id, b, c)`. Spark dialect; DuckDB
    * mirror = [[DuckHashedFeatureCtes]]. */
  private[graft] val HashedFeatureCtes: String = s"""
        tok0 AS (
          SELECT doc_id, explode($FeatureHashes) AS h FROM documents),
        -- r21: ONE b exchange serves the per-doc bucket counts (subset
        -- clustering on {doc_id, b}) and q146's rb/tb corpus counts +
        -- weight join on b; consumers needing doc_id clustering (the
        -- q160 training loop) re-exchange but REUSE this exchange's
        -- output instead of re-running tokenize + md5
        tok AS (SELECT /*+ REPARTITION(b) */ doc_id, h % 4096 AS b FROM tok0),
        c AS (
          SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
          FROM tok GROUP BY doc_id, b)"""

  /** DuckDB mirror of [[HashedFeatureCtes]] — shared by the q146 and
    * q160/q161 oracles so the feature identity is spelled once per
    * engine. */
  private[graft] val DuckHashedFeatureCtes: String = """
        base AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        tok AS (
          SELECT doc_id,
            ('0x' || substr(md5(w), 2, 15))::BIGINT % 4096 AS b
          FROM (SELECT doc_id, unnest(ws) AS w FROM base) t0
          UNION ALL
          SELECT doc_id,
            ('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 2, 15))::BIGINT
              % 4096 AS b
          FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i
                FROM base WHERE len(ws) >= 2) t1
          WHERE i <= len(ws) - 1),
        c AS (
          SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
          FROM tok GROUP BY doc_id, b)"""

  /** q122's bigram-transition CTE chain (Spark dialect) — the corpus
    * LM both the fluency report (q122) and the curriculum builder
    * (q180) score against; one spelling per engine. (r22: measured and
    * REJECTED materializing `big` as a cached view — the cached bigram
    * strings cost more to store and re-read than the three codegen
    * explode executions they replace; q122 1.4 s vs 0.6 s.) */
  private[graft] val FluencyCtes: String = """
        t AS (
          SELECT doc_id, split(text, ' ') AS w FROM documents
          WHERE size(split(text, ' ')) >= 2),
        big AS (
          SELECT doc_id, element_at(w, i) AS w1,
            concat(element_at(w, i), ' ', element_at(w, i + 1)) AS bg
          FROM t LATERAL VIEW explode(sequence(1, size(w) - 1)) s AS i),
        pair AS (
          SELECT bg, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY bg),
        ctx AS (
          SELECT w1, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY w1)"""

  /** DuckDB mirror of [[FluencyCtes]]. */
  private[graft] val DuckFluencyCtes: String = """
        t AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        big AS (
          SELECT doc_id, w[k] AS w1, w[k] || ' ' || w[k + 1] AS bg
          FROM t, unnest(generate_series(1, len(w) - 1)) s(k)),
        pair AS (
          SELECT bg, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY bg),
        ctx AS (
          SELECT w1, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY w1)"""

  /** q145/q192's BM25 token stream `(doc_id, h)`, materialized ONCE as
    * a cached frame: a REPARTITION(h)-hint reuse does NOT survive column
    * pruning at runtime — `dl` (doc_id only) and `g` (bare count)
    * specialize their copies of the tok subtree, so the gram explode +
    * md5 pass would execute up to 3× per query. The cache pins one
    * execution and one h-clustered layout; the caller passes the frame
    * to [[bm25M]] and the harness's cache sweep owns the unpersist. */
  private[graft] def bm25Tok(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    Tables.sql(s, d, """
        WITH tok0 AS (
          SELECT doc_id, explode(word_ngram_md5_60(text, 3)) AS h
          FROM documents)
        SELECT /*+ REPARTITION(h) */ doc_id, h FROM tok0""")
      .cache()
  }

  /** q145/q192's shared BM25 match frame `m(q_id, d_id, score_ppm)` —
    * hashed word-3-gram terms, exact-integer BM25 (k1=1.2, b=0.75,
    * rational idf kept as a cross-multiplied integer — see q145's
    * derivation comment), corpus-derived query set.
    *
    * DataFrame ops over the cached [[bm25Tok]] frame `tok`, not a CTE
    * chain — a cached relation referenced from inside a WITH never hits
    * the CacheManager (substitution fires for direct/subquery
    * references, NEVER through a CTERelation), so a CTE spelling re-ran
    * tokenize+md5 once per pruning-specialized consumer. Direct
    * references substitute: tok executes once (cached), tf once
    * (cached — read by the df aggregate, the query set and the match
    * join). Same relations, same join predicates, same integer
    * arithmetic as the oracle's CTE mirror. */
  private[graft] def bm25M(
      s: org.apache.spark.sql.SparkSession, d: String,
      tok: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val tf = tok.groupBy($"doc_id", $"h")
      .agg(count(lit(1)).as("tf")).cache()
    val dfT = tf.groupBy($"h").agg(count(lit(1)).as("df"))
    val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val n = Tables.rowCount(s, d, "documents")
    val g = tok.agg(count(lit(1)).as("tt")).select(lit(n).as("n"), $"tt")
    val qCut = math.max(3L, n / 1000L) // = greatest(3, count(documents) DIV 1000)
    val qt = tf.filter($"doc_id" < qCut).select($"doc_id".as("q_id"), $"h")
    // dfT (one row per distinct term) and dl (one per document) are
    // corpus-sized: AQE picks their joins; only the 1-row g is pinned
    qt.join(dfT, Seq("h"))
      .join(tf.select($"doc_id".as("d_id"), $"h", $"tf"), Seq("h"))
      .filter($"d_id" =!= $"q_id")
      .join(dl.withColumnRenamed("doc_id", "d_id"), Seq("d_id"))
      .crossJoin(broadcast(g))
      .filter($"df" * 2 <= $"n")
      .groupBy($"q_id", $"d_id")
      .agg(sum(expr(
        """1000000L * (2 * n - 2 * df + 1) * 22 * tf
           DIV ((2 * df + 1) * (10 * tf + 3 + (9 * dl * n) DIV tt))"""))
        .as("score_ppm"))
  }

  /** DuckDB mirror of [[bm25M]]'s relational chain. */
  private[graft] val DuckBm25Ctes: String = """tok AS (
          SELECT doc_id,
            ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
               2, 15))::BIGINT AS h
          FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents) t0) t1
          WHERE i <= len(ws) - 2 AND len(ws) >= 3),
        tf AS (
          SELECT doc_id, h, CAST(count(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, h),
        df AS (
          SELECT h, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY h),
        dl AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
          FROM tok GROUP BY doc_id),
        g AS (SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n,
                     CAST((SELECT count(*) FROM tok) AS BIGINT) AS tt),
        qt AS (SELECT doc_id AS q_id, h FROM tf
               WHERE doc_id < (SELECT greatest(CAST(3 AS BIGINT), n // 1000) FROM g)),
        m AS (
          SELECT qt.q_id, tf.doc_id AS d_id,
            CAST(sum(1000000 * (2 * g.n - 2 * df.df + 1) * 22 * tf.tf
                // ((2 * df.df + 1)
                    * (10 * tf.tf + 3 + (9 * dl.dl * g.n) // g.tt)))
              AS BIGINT) AS score_ppm
          FROM qt
          JOIN df ON qt.h = df.h
          JOIN tf ON qt.h = tf.h AND tf.doc_id <> qt.q_id
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN g
          WHERE df.df * 2 <= g.n
          GROUP BY qt.q_id, tf.doc_id)"""

  /** q180: number of curriculum stages (quintiles of the fluency
    * rank). */
  private[graft] val CurriculumStages = 5

  /** The hashed-feature token stream `(doc_id, b)`, materialized ONCE
    * as a cached frame (the same pruning-broken-reuse finding as
    * [[bm25Tok]]: DSIR's rb/tb/g consumers specialize their copies of
    * the tok subtree, so tokenize + md5 ran up to 5× per query).
    * Reuses [[HashedFeatureCtes]]' spelling (the unused `c` CTE prunes
    * away); the caller passes the frame to [[dsirWeights]]. */
  private[graft] def featureTok(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    Tables.sql(s, d, s"WITH $HashedFeatureCtes SELECT doc_id, b FROM tok")
      .cache()
  }

  /** q146's DSIR weight table `w(b, wppm, rr, tt)` — the Laplace-
    * smoothed integer-ppm ratio over the hashed features, with the
    * corpus/target totals riding along for the export's Laplace floor.
    * Shared by the batch query and [[dsirWeightArray]].
    *
    * DataFrame ops over the cached [[featureTok]] frame `tok` (the
    * same CTE-blocks-cache-substitution finding as [[bm25M]]) —
    * tokenize + md5 runs once; rr/tt fold into ONE aggregate over the
    * cached frame (a g CTE would run two more scalar-subquery passes).
    * tgt = count(documents) DIV 10 comes from the parquet footer —
    * identical value, no job. Same arithmetic as the oracle mirror. */
  private[graft] def dsirWeights(
      s: org.apache.spark.sql.SparkSession, d: String,
      tok: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val tgt = Tables.rowCount(s, d, "documents") / 10
    val rb = tok.groupBy($"b").agg(count(lit(1)).as("r"))
    val tb = tok.filter($"doc_id" < tgt)
      .groupBy($"b").agg(count(lit(1)).as("t"))
    val g = tok.agg(count(lit(1)).as("rr"),
      sum(when($"doc_id" < tgt, 1L).otherwise(0L)).as("tt"))
    rb.join(broadcast(tb), Seq("b"), "left")
      .crossJoin(broadcast(g))
      .select($"b", expr(
        """1000000L * (coalesce(t, 0L) + 1) * (rr + 4096)
           DIV ((r + 1) * (tt + 4096))""").as("wppm"),
        $"rr", $"tt")
  }

  /** The trained DSIR weight table as a 4096-slot driver-side array
    * (bucket → wppm) — THE index artifact of q146's training pass, the
    * [[Extensions.trainedCentroidSeq]] pattern: metadata-sized by
    * construction (4096 longs), exported for the streaming scorer
    * (streaming/StreamDsirScore), which cannot run the corpus
    * aggregates in-stream. Buckets no raw-corpus feature hashed into
    * get the Laplace floor weight (t=0, r=0) so a genuinely novel
    * stream feature scores the same smoothed mass batch training would
    * have assigned it. */
  private[graft] def dsirWeightArray(
      s: org.apache.spark.sql.SparkSession, d: String): Array[Long] = {
    // ONE pass: every weight row carries the Laplace floor alongside it
    // (rr/tt ride the weight frame), so the export costs a single
    // training-chain evaluation, not a second corpus scan for the one
    // scalar
    val rows = dsirWeights(s, d, featureTok(s, d)).selectExpr("b", "wppm",
      "1000000L * (rr + 4096) DIV (tt + 4096) AS dw").collect()
    require(rows.nonEmpty, "DSIR training produced no weight rows")
    val arr = Array.fill(4096)(rows(0).getLong(2))
    rows.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Declared domain-classifier training rounds (q160) — fixed,
    * mirrored round-for-round in the unrolled oracle CTEs, the
    * q114/q148 iterative-operator discipline. Production pipelines
    * (CCNet / LLaMA-style fastText quality classifiers) run the same
    * per-round shape to convergence; the count is semantics, not an
    * approximation — each round's update is exact given the previous
    * rounds. */
  private[graft] val DomainRounds = 3

  /** q160's distributed batch-perceptron trainer: learn a linear
    * separator between the corpus-derived target slice (the q146
    * exemplar convention — lowest-id `n DIV 10` docs, label +1) and the
    * rest (label −1) over the shared [[HashedFeatureCtes]] bucket
    * counts. Exact integer arithmetic end to end:
    *
    *   margin_d = Σ_b c_db · w(b);  err = { d : y_d · margin_d ≤ 0 }
    *   w'(b)    = w(b) + Σ_{d ∈ err} y_d · c_db
    *
    * (classic batch perceptron; the y·0 ≤ 0 convention makes round 1 a
    * pure class-difference initialization from w = 0). Returns the
    * trained 4096-slot weight array — metadata-sized by construction,
    * the [[dsirWeightArray]] artifact pattern, exported for the
    * streaming scorer — plus per-round (round, n_err, w_nnz, w_l1)
    * stats.
    *
    * 100 TB shapes: the feature frame `c` is computed ONCE and cached
    * (production: checkpointed); each round is one broadcast join
    * against the 4096-row weight dim + a map-side-combined per-doc sum,
    * then one map-side-combined per-bucket gradient sum collected as
    * 4096 longs — R linear passes total, never an all-pairs or global
    * sort. Scores stay within long range through ~10⁹-token corpora per
    * the envelope in the q160 comment. */
  private[graft] def domainTrain(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (Array[Long], Seq[(Int, Long, Long, Long)]) = {
    val (w, stats, c) = domainTrainKeepFeatures(s, d)
    c.unpersist()
    (w, stats)
  }

  /** DECLARED SHARED-ARTIFACT STAGE (r16, PLANS.md): the trained weight
    * array is a deterministic function of the corpus, so the process
    * memoizes it per sfDir — the first query needing it pays the
    * training (in the sweep's alphabetical order that is q160, the
    * trainer), q161 pays only features + scoring, and the bench total
    * reflects SINGLE-training cost instead of double-charging the
    * family. Driver state: one 4096-long array per sfDir. */
  private val domainMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Array[Long], Seq[(Int, Long, Long, Long)])]()
  /** Consumer accessor — trains only if no trainer ran yet. */
  private[graft] def domainTrainShared(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (Array[Long], Seq[(Int, Long, Long, Long)]) =
    domainMemo.computeIfAbsent(d, _ => domainTrain(s, d))
  /** Trainer spelling — ALWAYS trains and refreshes the memo, so the
    * trainer query's own benchmark time reflects the real training
    * cost on every rep (min-of-reps must not read the memo back). */
  private[graft] def domainTrainPublish(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (Array[Long], Seq[(Int, Long, Long, Long)]) = {
    val r = domainTrain(s, d)
    domainMemo.put(d, r)
    r
  }

  /** [[domainTrain]] variant that RETURNS the still-cached feature
    * frame so the apply pass (q161) scores without re-running the
    * tokenize+hash pass — the caller (or the harness's clearCache)
    * owns the unpersist. The frame is hash-partitioned on doc_id ONCE
    * before caching: every round's gradient join (on doc_id) and
    * per-doc margin aggregate then REUSE that partitioning instead of
    * re-exchanging the corpus-sized frame per round — only the
    * doc-id-sized error frame moves. */
  /** The cached, doc_id-partitioned hashed-feature frame — the scoring
    * input both the trainer and the apply pass (q161) read; the caller
    * (or the harness's clearCache) owns the unpersist. */
  private[graft] def domainFeatures(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.sql(s, d,
      s"WITH $HashedFeatureCtes SELECT doc_id, b, c FROM c")
      .repartition($"doc_id").cache()
  }

  private[graft] def domainTrainKeepFeatures(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (Array[Long], Seq[(Int, Long, Long, Long)],
         org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val c = domainFeatures(s, d)
    val tgt = Tables.rowCount(s, d, "documents") / 10
    val w = Array.fill(4096)(0L)
    val stats = scala.collection.mutable.ListBuffer
      .empty[(Int, Long, Long, Long)]
    for (r <- 1 to DomainRounds) {
      // labels live on the FEATURE universe (docs with ≥1 bucket) on
      // both engines — a null-text doc has no features and is declaredly
      // outside the training set
      val err = bucketScores(c, w)
        .withColumn("y",
          when($"doc_id" < tgt, lit(1L)).otherwise(lit(-1L)))
        .where($"y" * $"sc" <= 0)
        .select($"doc_id", $"y")
        .cache()
      // ONE action per round: the ≤4096-row gradient plus a b = -1
      // sentinel row carrying the error count — folding the old
      // separate count() job into the gradient collect halves the
      // per-round job count (the cached err subtree is computed once
      // within the action and shared by both branches)
      val rows = err.join(c, "doc_id")
        .groupBy($"b").agg(sum($"y" * $"c").as("g"))
        .unionByName(err.agg(count(lit(1)).as("g"))
          .select(lit(-1L).as("b"), $"g"))
        .collect()
      err.unpersist()
      val nErr = rows.find(_.getLong(0) == -1L).map(_.getLong(1)).getOrElse(0L)
      rows.filter(_.getLong(0) >= 0L)
        .foreach(row => w(row.getLong(0).toInt) += row.getLong(1))
      stats += ((r, nErr, w.count(_ != 0L).toLong, w.map(math.abs).sum))
    }
    (w, stats.toSeq, c)
  }

  /** Exact-integer linear scores `(doc_id, sc)` of a
    * [[HashedFeatureCtes]] feature frame `c(doc_id, b, c)` against a
    * 4096-slot weight array: one broadcast join against the weight dim
    * + one map-side-combined per-doc sum — the shared scoring kernel of
    * the q160 training loop and the q161 apply pass. */
  private[graft] def bucketScores(
      c: org.apache.spark.sql.DataFrame, w: Array[Long])
      : org.apache.spark.sql.DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    val wDf = s.createDataFrame(
      w.zipWithIndex.toIndexedSeq.map { case (v, b) => (b.toLong, v) })
      .toDF("b", "w")
    c.join(broadcast(wDf), "b")
      .groupBy($"doc_id")
      .agg(sum($"c" * $"w").as("sc"))
  }

  /** DuckDB mirror of the [[domainTrain]] loop, GENERATED from
    * [[DomainRounds]] (the q148 BPE-chain discipline — one round count,
    * two dialects, no drift): after [[DuckHashedFeatureCtes]], unrolled
    * per-round CTE triples scores `s_r` → errors `e_r` → gradient `g_r`
    * accumulating the weight table `w_r` via FULL JOIN (w1 is the pure
    * class-difference round — with w=0 every label fails y·0 ≤ 0, so
    * its gradient runs over the whole labeled universe). All sums are
    * CAST AS BIGINT (DuckDB sums BIGINT into HUGEINT). Ends with
    * `w{DomainRounds}` trained; shared by the q160 and q161 oracles. */
  private[graft] val DuckDomainTrainCtes: String = {
    val sb = new StringBuilder(
      """par AS (
          SELECT CAST(count(*) // 10 AS BIGINT) AS tgt FROM documents),
        lbl AS (
          SELECT doc_id,
            CAST(CASE WHEN doc_id < (SELECT tgt FROM par)
                 THEN 1 ELSE -1 END AS BIGINT) AS y
          FROM (SELECT DISTINCT doc_id FROM c) uni),
        w1 AS (
          SELECT c.b, CAST(sum(lbl.y * c.c) AS BIGINT) AS w
          FROM c JOIN lbl ON c.doc_id = lbl.doc_id GROUP BY c.b)""")
    for (r <- 2 to DomainRounds) {
      val p = r - 1
      sb.append(s""",
        s$r AS (
          SELECT c.doc_id, CAST(sum(c.c * w$p.w) AS BIGINT) AS sc
          FROM c JOIN w$p ON c.b = w$p.b GROUP BY c.doc_id),
        e$r AS (
          SELECT lbl.doc_id, lbl.y
          FROM lbl JOIN s$r ON lbl.doc_id = s$r.doc_id
          WHERE lbl.y * s$r.sc <= 0),
        g$r AS (
          SELECT c.b, CAST(sum(e$r.y * c.c) AS BIGINT) AS g
          FROM c JOIN e$r ON c.doc_id = e$r.doc_id GROUP BY c.b),
        w$r AS (
          SELECT coalesce(w$p.b, g$r.b) AS b,
            coalesce(w$p.w, 0) + coalesce(g$r.g, 0) AS w
          FROM w$p FULL JOIN g$r ON w$p.b = g$r.b)""")
    }
    sb.toString
  }

  /** Generated per-round stats SELECT for the q160 oracle (round 1's
    * error set is the whole labeled universe by the y·0 ≤ 0
    * convention). */
  private def duckDomainStats: String =
    (1 to DomainRounds).map { r =>
      val errSrc = if (r == 1) "lbl" else s"e$r"
      s"""SELECT CAST($r AS INT) AS round,
            (SELECT count(*) FROM $errSrc) AS n_err,
            (SELECT count(*) FROM w$r WHERE w <> 0) AS w_nnz,
            (SELECT CAST(coalesce(sum(abs(w)), 0) AS BIGINT) FROM w$r)
              AS w_l1"""
    }.mkString("\n          UNION ALL\n          ")

  val defs: Seq[Q] = Seq(

    // ---- Segment-level exact dedup (CCNet-style): hash non-overlapping
    // 10-token segments, count the number of distinct documents containing
    // each segment corpus-wide, drop every occurrence of a segment seen in
    // more than 2 documents. One shuffle keyed on the segment digest (the
    // df dim), one join back on the same key, one per-doc aggregate —
    // linear end to end. Docs shorter than one segment carry no segments
    // and are (declaredly) absent from the output.
    Q("q101_segment_dedup",
      (s, d) => {
        import s.implicits._
        // the size(w) >= 10 guard is load-bearing: Spark's sequence(1, 0)
        // yields the DESCENDING [1, 0] (step defaults to -1 when start >
        // stop), so an unguarded sub-10-token doc would emit a bogus
        // k = 0 segment the DuckDB oracle (k <= len // 10) never produces
        val segs = Tables.t(s, d, "documents")
          .select($"doc_id", split($"text", " ").as("w"))
          .where(size($"w") >= 10)
          .select($"doc_id", explode(expr(
            """transform(sequence(1, CAST(size(w) / 10 AS INT)),
                         k -> concat_ws(' ', slice(w, 10 * (k - 1) + 1, 10)))"""))
            .as("seg"))
          .select($"doc_id", md5($"seg").as("h"))
          // one h exchange serves the distinct, the df aggregate AND
          // both join sides (subset-clustering + ReuseExchange — the
          // q42 shingle discipline)
          .repartition($"h")
        val dfh = segs.select($"doc_id", $"h").distinct()
          .groupBy($"h").agg(count(lit(1)).as("df"))
        segs.join(dfh, "h")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_segments"),
            sum(when($"df" <= 2, 1L).otherwise(0L)).as("n_kept"))
          .withColumn("kept_ratio",
            $"n_kept".cast("double") / $"n_segments".cast("double"))
          .select($"doc_id", $"n_segments", $"n_kept", $"kept_ratio")
          .orderBy($"doc_id")
      },
      Some("""
        WITH segs AS (
          SELECT doc_id,
            md5(array_to_string(w[10*(k-1)+1 : 10*(k-1)+10], ' ')) AS h
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
               unnest(generate_series(1, len(w) // 10)) s(k)),
        dfh AS (
          SELECT h, count(*) AS df
          FROM (SELECT DISTINCT doc_id, h FROM segs) u
          GROUP BY h)
        SELECT doc_id, count(*) AS n_segments,
          CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS kept_ratio
        FROM segs JOIN dfh USING (h)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ---- Sequence packing: assign documents to fixed 512-token context
    // bins by running token offset, packed per language shard (the unit a
    // real pretraining tokenizer job packs within). Declared semantics:
    // bin = the bin the document's first token falls in; a document
    // crossing a bin boundary counts wholly toward its starting bin.
    // The running offset is NOT a `sum() OVER (PARTITION BY lang)` window
    // — that spelling runs ONE task per language (~5 reducers at any
    // corpus scale). [[graft.plans.DistributedRank.runningSum]] computes
    // the identical inclusive running sum with range partitioning +
    // broadcast per-partition offsets, keeping all partitions busy; the
    // oracle keeps the window spelling (identical numbers by
    // construction, proven row-for-row in DistributedRankSpec).
    Q("q102_sequence_packing",
      (s, d) => {
        import s.implicits._
        val base = Tables.t(s, d, "documents")
          .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("n_tok"))
        graft.plans.DistributedRank
          .runningSum(base, $"lang", Seq($"doc_id"), $"n_tok", "run")
          .withColumn("off", $"run" - $"n_tok")
          .withColumn("bin", ($"off" / 512L).cast("long"))
          .groupBy($"lang", $"bin")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
          .withColumn("fill", $"n_tokens".cast("double") / 512.0)
          .orderBy($"lang", $"bin")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        o AS (
          SELECT doc_id, lang, n_tok,
            sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
          FROM t)
        SELECT lang, CAST(off // 512 AS BIGINT) AS bin, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          CAST(sum(n_tok) AS DOUBLE) / 512.0 AS fill
        FROM o
        GROUP BY lang, off // 512
        ORDER BY lang, bin""")),

    // ---- RAG-style chunking: overlapping 64-token windows at stride 48.
    // A narrow map + explode per document (no shuffle until the final
    // presentation sort) — the shape that streams through 100 TB as a pure
    // map stage. Chunk identity is (doc_id, chunk_id); the digest makes
    // the chunk text comparable without shipping it.
    Q("q103_doc_chunking",
      (s, d) => {
        import s.implicits._
        Tables.t(s, d, "documents")
          .select($"doc_id", split($"text", " ").as("w"))
          .select($"doc_id", size($"w").as("n"),
            posexplode(expr(
              "transform(sequence(1, size(w), 48), st -> concat_ws(' ', slice(w, st, 64)))")))
          .select($"doc_id",
            $"pos".cast("int").as("chunk_id"),
            least(lit(64), $"n" - ($"pos" * 48)).cast("int").as("n_tok"),
            md5($"col").as("h"))
          .orderBy($"doc_id", $"chunk_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        c AS (
          SELECT doc_id, w, st, (st - 1) // 48 AS chunk_id
          FROM t, unnest(generate_series(1, len(w), 48)) s(st))
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          CAST(least(64, len(w) - st + 1) AS INT) AS n_tok,
          md5(array_to_string(w[st : st + 63], ' ')) AS h
        FROM c
        ORDER BY doc_id, chunk_id""")),

    // ---- ANN recall evaluation: IVF-probe top-3 (q93's operator) scored
    // against the exact brute-force top-3 ground truth (q44's operator,
    // restricted to the same query set). The eval harness every ANN
    // deployment needs: recall@k per query. Ground truth is a broadcast
    // query set × corpus scan; the probe side touches one inverted list
    // per query — both scale shapes are inherited unchanged.
    Q("q104_ann_recall",
      (s, d) => {
        import s.implicits._
        // r21 per-pair hoist (the q68/q93 note): self-norms are per-row
        // constants — compute dot(v,v) once per corpus row (nv) and per
        // broadcast side (nq/nc); the cos expression tree is otherwise
        // unchanged, so every IEEE double and tie-break is bit-identical
        // while each n·k / n·|q| pair pays one dot instead of three.
        val emb = Tables.t(s, d, "embeddings")
          .select($"vec_id", expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))")
            .as("v"))
        val embN = emb.withColumn("nv", expr("dot_i64(v, v)"))
        def cosH(b: String, nb: String) =
          expr(s"dot_i64(v, $b)").cast("double") /
            (sqrt($"nv".cast("double")) * sqrt(col(nb).cast("double")))
        // exact ground truth: query set (vec_id 8..12, matching q93)
        // broadcast against the full corpus
        val qset = embN.filter($"vec_id".between(8, 12))
          .select($"vec_id".as("q_id"), $"v".as("qv"), $"nv".as("nq"))
        val gt = embN.crossJoin(broadcast(qset))
          .filter($"vec_id" =!= $"q_id")
          .withColumn("cos", cosH("qv", "nq"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)))
          .filter($"rn" <= 3)
          .select($"q_id", $"vec_id".as("neighbor"))
        // IVF probe: assign all vectors to their max-cos centroid
        // (corpus-derived k + stratified seeds, as q68/q93 declare —
        // Extensions.seedCentroids), probe only the query's inverted list
        val cents = Extensions.seedCentroids(emb, Extensions.centroidK(emb))
          .withColumn("nc", expr("dot_i64(cv, cv)"))
        // partial-aggregatable argmin (exact -cos negation, same
        // tie-break as a cos DESC / c_id ASC window) — the shuffle
        // carries n rows, never the n·k expansion
        val assigned = embN.crossJoin(broadcast(cents))
          .withColumn("cos", cosH("cv", "nc"))
          .groupBy($"vec_id")
          .agg(min(struct((-$"cos").as("ncos"), $"c_id")).as("best"),
            first($"v").as("v"), first($"nv").as("nv"))
          .select($"vec_id", $"best.c_id".as("c_id"), $"v", $"nv")
          // consumed twice (query-set derivation + probe side): persist
          // so the centroid pass + argmin aggregate run once
          .cache()
        val qs = assigned.filter($"vec_id".between(8, 12))
          .select($"c_id", $"vec_id".as("q_id"), $"v".as("qv"), $"nv".as("nq"))
        val probed = assigned.join(broadcast(qs), Seq("c_id"))
          .filter($"vec_id" =!= $"q_id")
          .withColumn("cos", cosH("qv", "nq"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)))
          .filter($"rn" <= 3)
          .select($"q_id", $"vec_id".as("neighbor"))
        gt.join(probed, Seq("q_id", "neighbor"), "left_semi")
          .groupBy($"q_id")
          .agg(count(lit(1)).as("n_hits"))
          .withColumn("recall", $"n_hits".cast("double") / 3.0)
          .orderBy($"q_id")
      },
      Some(s"""
        WITH w AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS v
          FROM embeddings),
        qset AS (SELECT vec_id AS q_id, v AS qv FROM w WHERE vec_id BETWEEN 8 AND 12),
        gt AS (
          SELECT q_id, neighbor FROM (
            SELECT q.q_id, c.vec_id AS neighbor,
              row_number() OVER (PARTITION BY q.q_id ORDER BY
                list_dot_product(c.v, q.qv) /
                  (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                DESC, c.vec_id ASC) AS rn
            FROM w c CROSS JOIN qset q
            WHERE c.vec_id <> q.q_id) t
          WHERE rn <= 3),
        ${Extensions.SeedCtes},
        assigned AS (
          SELECT vec_id, c_id, v FROM (
            SELECT w.vec_id, c.c_id, w.v,
              row_number() OVER (PARTITION BY w.vec_id ORDER BY
                list_dot_product(w.v, c.cv) /
                  (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                DESC, c.c_id ASC) AS rn
            FROM w CROSS JOIN c0 c) t
          WHERE rn = 1),
        qs AS (SELECT c_id, vec_id AS q_id, v AS qv
               FROM assigned WHERE vec_id BETWEEN 8 AND 12),
        probed AS (
          SELECT q_id, neighbor FROM (
            SELECT q.q_id, a.vec_id AS neighbor,
              row_number() OVER (PARTITION BY q.q_id ORDER BY
                list_dot_product(a.v, q.qv) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                DESC, a.vec_id ASC) AS rn
            FROM assigned a JOIN qs q USING (c_id)
            WHERE a.vec_id <> q.q_id) t
          WHERE rn <= 3)
        SELECT q_id, count(*) AS n_hits,
          CAST(count(*) AS DOUBLE) / 3.0 AS recall
        FROM gt SEMI JOIN probed USING (q_id, neighbor)
        GROUP BY q_id
        ORDER BY q_id""")),

    // ---- Blocked fuzzy (edit-distance) dedup: near-identical docs whose
    // 40-char prefixes are within levenshtein 12, compared ONLY inside
    // (lang, length-band, first-token) blocks — length banding plus the
    // standard prefix-blocking key that keeps a block a handful of docs
    // even when the length distribution is skewed (without it, one hot
    // (lang, band) cell goes quadratic in the corpus). Blocking is
    // declared operator semantics (mirrored in the oracle): the pair join
    // is an equi-join on the block key, so work is Σ block² — the only
    // fuzzy-matching shape that survives a full corpus. levenshtein is
    // codegen'd in Spark and built-in in DuckDB with identical classic
    // edit-distance semantics, and runs on the fixed 40-char prefix so
    // per-pair cost is O(1), not O(len²) of full documents.
    Q("q108_fuzzy_dedup",
      (s, d) => {
        import s.implicits._
        val blocked = Tables.t(s, d, "documents")
          .select($"doc_id", $"lang", ($"n_chars" / 40L).cast("long").as("band"),
            substring_index($"text", " ", 1).as("tok0"),
            substring($"text", 1, 40).as("p"))
        blocked.as("a")
          .join(blocked.as("b"),
            $"a.lang" === $"b.lang" && $"a.band" === $"b.band" &&
              $"a.tok0" === $"b.tok0" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
            levenshtein($"a.p", $"b.p").as("dist"))
          .filter($"dist" <= 12)
          .orderBy($"d1", $"d2")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, lang, n_chars // 40 AS band,
            string_split(text, ' ')[1] AS tok0, substr(text, 1, 40) AS p
          FROM documents)
        SELECT a.doc_id AS d1, b.doc_id AS d2,
          CAST(levenshtein(a.p, b.p) AS INT) AS dist
        FROM b a JOIN b b
          ON a.lang = b.lang AND a.band = b.band AND a.tok0 = b.tok0
            AND a.doc_id < b.doc_id
        WHERE levenshtein(a.p, b.p) <= 12
        ORDER BY d1, d2""")),

    // ---- Data-mixture weighting: temperature-flattened sampling weights
    // per (lang, source) stratum — the standard multilingual rebalance
    // (upweight small strata, temperature 0.5). Weights use
    // floor(sqrt(n)) in exact BIGINT arithmetic (a libm pow(n, t) would
    // not be bit-portable across engines); shares divide two exact
    // integers, so the doubles match bit-for-bit. One global aggregate
    // over stratum counts — metadata-sized at any corpus scale.
    Q("q109_mixture_weights",
      (s, d) => {
        import s.implicits._
        val strata = Tables.t(s, d, "documents")
          .groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
          .withColumn("w", floor(sqrt($"n_docs".cast("double"))).cast("long"))
        val total = strata.agg(sum($"w").as("tw"))
        strata.crossJoin(broadcast(total))
          .select($"lang", $"source", $"n_docs", $"n_tokens",
            ($"w".cast("double") / $"tw".cast("double")).as("share"))
          .orderBy($"lang", $"source")
      },
      Some("""
        WITH strata AS (
          SELECT lang, source, count(*) AS n_docs,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
          FROM documents
          GROUP BY lang, source)
        SELECT lang, source, n_docs, n_tokens,
          CAST(w AS DOUBLE) / CAST((SELECT sum(w) FROM strata) AS DOUBLE) AS share
        FROM strata
        ORDER BY lang, source""")),

    // ---- Containment dedup (RefinedWeb-style): doc A is flagged when
    // EVERY one of its 10-token segments also appears in some longer doc
    // B — catches quote-within-article and mirrored-fragment duplicates
    // that pairwise jaccard under-scores. The pair stream forms on the
    // segment digest (posting lists, not all-pairs); containment is the
    // group predicate n_shared == n_segments(A). Segments reuse q101's
    // derivation, so the engine has ONE declared segment identity.
    //
    // Like every posting-list self-join in this engine (Dedup.MaxShingleDf,
    // Dedup.scala:42), the segment universe is df-capped BEFORE the pair
    // join — DECLARED OPERATOR SEMANTICS, mirrored in the oracle CTE. A
    // boilerplate segment shared by k documents (a license header, a
    // navigation bar) would otherwise emit k² pairs from that one digest;
    // the cap bounds per-segment work at O(cap²) and containment is
    // evaluated over the surviving *discriminative* segments (a segment in
    // >cap docs carries no containment signal — any doc "contains" it).
    Q("q110_containment_dedup",
      (s, d) => {
        import s.implicits._
        val segs = Tables.t(s, d, "documents")
          .select($"doc_id", split($"text", " ").as("w"))
          .where(size($"w") >= 10) // sequence(1, 0) = [1, 0] trap — see q101
          .select($"doc_id", explode(expr(
            """transform(sequence(1, CAST(size(w) / 10 AS INT)),
                         k -> concat_ws(' ', slice(w, 10 * (k - 1) + 1, 10)))"""))
            .as("seg"))
          .select($"doc_id", md5($"seg").as("h"))
          // one h exchange serves the distinct and the df window
          // (subset-clustering — the q42 shingle discipline)
          .repartition($"h")
          .distinct()
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"h")))
          .filter($"df" <= MaxSegmentDf)
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
          .select($"doc_id", $"h", $"n")
        // pair generation via df-capped posting lists, NOT a self-join:
        // one groupBy on the digest collects ≤ MaxSegmentDf (doc, n)
        // entries per segment, and the ordered pairs explode from the
        // list (≤ cap² per digest). Same semantics as a digest equi-join
        // with a.doc_id <> b.doc_id, but the capped stream is consumed
        // ONCE — no cache to hold (or leak) for a second pass.
        segs
          .groupBy($"h")
          .agg(collect_list(struct($"doc_id", $"n")).as("ds"))
          .select(explode(expr(
            """filter(flatten(transform(ds, a -> transform(ds,
                 b -> struct(a.doc_id AS ad, a.n AS an,
                             b.doc_id AS bd, b.n AS bn)))),
               p -> p.ad != p.bd)""")).as("p"))
          .groupBy($"p.ad".as("contained"), $"p.bd".as("container"))
          .agg(count(lit(1)).as("n_shared"),
            min($"p.an").as("n_a"), min($"p.bn").as("n_b"))
          .filter($"n_shared" === $"n_a" && $"n_b" > $"n_a")
          .select($"contained", $"container", $"n_a", $"n_b")
          .orderBy($"contained", $"container")
      },
      Some(s"""
        WITH segs AS (
          SELECT DISTINCT doc_id,
            md5(array_to_string(w[10*(k-1)+1 : 10*(k-1)+10], ' ')) AS h
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
               unnest(generate_series(1, len(w) // 10)) s(k)),
        capped AS (
          SELECT doc_id, h FROM (
            SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
            FROM segs) u
          WHERE df <= $MaxSegmentDf),
        sn AS (
          SELECT doc_id, h, count(*) OVER (PARTITION BY doc_id) AS n
          FROM capped)
        SELECT a.doc_id AS contained, b.doc_id AS container,
          min(a.n) AS n_a, min(b.n) AS n_b
        FROM sn a JOIN sn b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
        HAVING count(*) = min(a.n) AND min(b.n) > min(a.n)
        ORDER BY contained, container""")),

    // ---- Segment novelty scoring (incremental-ingest curation): treat
    // doc_id as arrival order; a document's novelty is the fraction of
    // its distinct segments whose FIRST corpus appearance is this
    // document (C4/CCNet-style "how much new text does this shard add").
    // Two exchanges keyed on the segment digest (min-doc dim + join
    // back) — linear at any corpus scale, the q101 shape with min()
    // instead of count(). Docs shorter than one segment carry none and
    // are (declaredly) absent.
    Q("q111_segment_novelty",
      (s, d) => {
        import s.implicits._
        val segs = Tables.t(s, d, "documents")
          .select($"doc_id", split($"text", " ").as("w"))
          .where(size($"w") >= 10) // sequence(1, 0) = [1, 0] trap — see q101
          .select($"doc_id", explode(expr(
            """transform(sequence(1, CAST(size(w) / 10 AS INT)),
                         k -> concat_ws(' ', slice(w, 10 * (k - 1) + 1, 10)))"""))
            .as("seg"))
          .select($"doc_id", md5($"seg").as("h"))
          // one h exchange serves the distinct, the first-doc aggregate
          // AND both join sides (subset-clustering + ReuseExchange)
          .repartition($"h")
          .distinct()
        val first = segs.groupBy($"h").agg(min($"doc_id").as("first_doc"))
        segs.join(first, "h")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_segments"),
            sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            $"n_novel".cast("double") / $"n_segments".cast("double"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH segs AS (
          SELECT DISTINCT doc_id,
            md5(array_to_string(w[10*(k-1)+1 : 10*(k-1)+10], ' ')) AS h
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
               unnest(generate_series(1, len(w) // 10)) s(k)),
        first AS (
          SELECT h, min(doc_id) AS first_doc FROM segs GROUP BY h)
        SELECT doc_id, count(*) AS n_segments,
          CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel,
          CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS novelty
        FROM segs JOIN first USING (h)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ---- Cross-source overlap matrix (mirror detection): for every
    // source pair, how many distinct document texts appear in BOTH —
    // the curation report that catches one crawl mirroring another.
    // (content digest, source) is distinct-ed FIRST, so each digest's
    // posting list is bounded by |sources| (a handful) and the digest
    // equi-join is Σ |sources|² per shared text — no cap needed, no
    // quadratic blowup possible. The full pair matrix (including zero
    // overlaps) comes from a broadcast-sized source-pair dim.
    Q("q112_source_overlap",
      (s, d) => {
        import s.implicits._
        val docs = Tables.t(s, d, "documents")
          .select(md5($"text").as("h"), $"source").distinct()
        val srcs = Tables.t(s, d, "documents").select($"source").distinct()
        val pairs = srcs.as("x")
          .crossJoin(srcs.as("y"))
          .filter($"x.source" < $"y.source")
          .select($"x.source".as("s1"), $"y.source".as("s2"))
        val shared = docs.as("a")
          .join(docs.as("b"), $"a.h" === $"b.h" && $"a.source" < $"b.source")
          .groupBy($"a.source".as("s1"), $"b.source".as("s2"))
          .agg(count(lit(1)).as("n_shared"))
        pairs.join(broadcast(shared), Seq("s1", "s2"), "left")
          .select($"s1", $"s2", coalesce($"n_shared", lit(0L)).as("n_shared"))
          .orderBy($"s1", $"s2")
      },
      Some("""
        WITH docs AS (
          SELECT DISTINCT md5(text) AS h, source FROM documents),
        srcs AS (SELECT DISTINCT source FROM documents),
        pairs AS (
          SELECT x.source AS s1, y.source AS s2
          FROM srcs x, srcs y WHERE x.source < y.source),
        shared AS (
          SELECT a.source AS s1, b.source AS s2,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM docs a JOIN docs b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2)
        SELECT s1, s2, coalesce(n_shared, 0) AS n_shared
        FROM pairs LEFT JOIN shared USING (s1, s2)
        ORDER BY s1, s2""")),

    // ---- Collocation extraction (corpus phrase mining): top-50 adjacent
    // word pairs by lift = P(w1,w2) / (P(w1)·P(w2)), the log-free PMI
    // ("lift" keeps the score a ratio of exact integer counts — a log
    // would drag libm into the compared values; see Q's determinism
    // contract). Declared semantics mirrored in the oracle: pairs with
    // fewer than 5 occurrences are dropped (standard collocation min
    // count — also what keeps the pair table corpus-scale-sparse), and
    // the (lift DESC, w1, w2) sort is a total order, so top-50 is
    // engine-independent. Shapes: two map-side-combined aggregates
    // (unigrams, bigrams) + two equi-joins on the word key + a TakeOrdered
    // top-k — linear, no all-pairs anything.
    Q("q113_collocations",
      (s, d) => {
        import s.implicits._
        // size >= 2 guard: a 1-token doc would otherwise evaluate
        // sequence(1, 0) = [1, 0] and element_at(w, 0) — an error under
        // Spark 4's default ANSI mode — instead of simply having no pairs
        val toks = Tables.t(s, d, "documents")
          .select(split($"text", " ").as("w"))
          .where(size($"w") >= 2)
        val uni = toks.select(explode($"w").as("w"))
          .groupBy($"w").agg(count(lit(1)).as("n"))
        val pairs = toks.select(explode(expr(
          """transform(sequence(1, size(w) - 1),
                       i -> named_struct('w1', element_at(w, i),
                                         'w2', element_at(w, i + 1)))""")).as("p"))
          .select($"p.w1".as("w1"), $"p.w2".as("w2"))
          .groupBy($"w1", $"w2").agg(count(lit(1)).as("n_pair"))
          .filter($"n_pair" >= 5)
        val total = uni.agg(sum($"n").as("nt"))
        pairs
          .join(uni.select($"w".as("w1"), $"n".as("n1")), "w1")
          .join(uni.select($"w".as("w2"), $"n".as("n2")), "w2")
          .crossJoin(broadcast(total))
          .select($"w1", $"w2", $"n_pair",
            ($"n_pair".cast("double") * $"nt".cast("double") /
              ($"n1".cast("double") * $"n2".cast("double"))).as("lift"))
          .orderBy($"lift".desc, $"w1", $"w2")
          .limit(50)
      },
      Some("""
        WITH t AS (
          SELECT w FROM (SELECT string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 2),
        uni AS (
          SELECT u.tok AS w, count(*) AS n
          FROM t, unnest(t.w) AS u(tok) GROUP BY 1),
        pairs AS (
          SELECT w[k] AS w1, w[k + 1] AS w2, count(*) AS n_pair
          FROM t, unnest(generate_series(1, len(w) - 1)) s(k)
          GROUP BY 1, 2
          HAVING count(*) >= 5),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM uni)
        SELECT w1, w2, n_pair,
          CAST(n_pair AS DOUBLE) * CAST(nt AS DOUBLE)
            / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS lift
        FROM pairs
        JOIN uni a ON pairs.w1 = a.w
        JOIN uni b ON pairs.w2 = b.w
        CROSS JOIN tot
        ORDER BY lift DESC, w1, w2
        LIMIT 50""")),

    // ---- TF-IDF top terms per document: the classic keyword extractor a
    // curation pipeline runs for topic tagging / doc summarization. IDF
    // uses the RATIONAL form N/df instead of ln(N/df) — a declared
    // variant that keeps the score in exact int64 (score = tf·N·10⁶ // df;
    // every term < 2^53) so the cross-engine compare can be bit-exact;
    // ln is libm and its last bits differ across engines. Shapes: one
    // explode → two map-side-combined aggregates (tf, df); df spans the
    // FULL corpus (the realistic weighting) while the reported docs
    // filter BEFORE the tf⋈df join, so the join probes a small tf side
    // against the df dim on the word key — at corpus scale (all docs
    // reported) the same plan is one linear shuffle on the word key.
    Q("q118_tfidf",
      (s, d) => Tables.sql(s, d, """
        WITH tok AS (
          SELECT doc_id, explode(split(text, ' ')) AS w FROM documents),
        tf AS (
          SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, w),
        df AS (
          SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM tok GROUP BY w),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        SELECT doc_id, rank, w, score FROM (
          SELECT tf.doc_id, tf.w,
            tf.tf * 1000000L * n.n_docs DIV df.df AS score,
            row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf * 1000000L * n.n_docs DIV df.df DESC,
                       tf.w ASC) AS rank
          FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
          WHERE tf.doc_id < 30) t
        WHERE rank <= 3
        ORDER BY doc_id, rank"""),
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        tf AS (
          SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, w),
        df AS (
          SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM tok GROUP BY w),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        SELECT doc_id, rank, w, score FROM (
          SELECT tf.doc_id, tf.w,
            tf.tf * 1000000 * n.n_docs // df.df AS score,
            CAST(row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf * 1000000 * n.n_docs // df.df DESC,
                       tf.w ASC) AS INT) AS rank
          FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
          WHERE tf.doc_id < 30) t
        WHERE rank <= 3
        ORDER BY doc_id, rank""")),

    // ---- BM25 top-k retrieval: the retrieval primitive a training-data
    // pipeline runs for decontamination lookups and DSIR-style data
    // selection — score the corpus against a query document's terms and
    // keep the 5 best. Terms are word 3-GRAM shingles, not unigrams —
    // the corpus's discriminative unit (its unigram vocabulary is ~31
    // words with median df ≈ 0.8·N, all killed by any idf guard; 3-gram
    // retrieval is also what decontamination actually matches on — the
    // q97 convention) — carried as 60-bit md5 hashes, so every term
    // join/aggregate moves 8-byte ints, never shingle strings (the
    // hashedShingles discipline). The scoring is BM25 (k1=1.2, b=0.75)
    // with the rational idf (N−df+½)/(df+½) kept exact: cross-multiply
    // idf and the tf-saturation term, pre-reducing the length term
    // 0.9·dl/avgdl to the integer (9·dl·N) DIV T so the corpus token
    // total T never enters the numerator —
    //   term_ppm = 10⁶·(2N−2df+1)·22·tf
    //              DIV ((2df+1)·(10·tf + 3 + (9·dl·N) DIV T)).
    // Per-(query, doc) scores are then exact integer SUMS — no libm ln,
    // no double-summation order, bit-identical in both engines (the
    // q118/q122 ppm discipline). Overflow envelope (documented, the PQ
    // family's practice): the numerator needs N·tf < ~4·10¹¹·10⁶/10⁶,
    // i.e. exact through N ≈ 4·10⁹ docs at tf ≤ 100 — the 100 TB
    // posture — where the old ·T spelling overflowed one corpus size
    // above the tested SFs; the inner DIV's ≤1 floor error lands in a
    // denominator ≥ 13 and is mirrored bit-for-bit in the oracle. Terms with df > N/2 are dropped (declared:
    // the Lucene positive-idf guard — their weight is negligible and
    // their posting lists are exactly the hot keys that would skew the
    // term join at scale; a production index tightens this guard or
    // applies impact-ordered pruning, WAND-style, which only SHRINKS
    // posting lists — the join shape is unchanged). Shapes: the
    // query-term dim is metadata-sized and broadcasts — the probe-query
    // set is CORPUS-DERIVED (r14, the q133/q137/q138 discipline):
    // max(3, n DIV 1000) lowest-id docs, sublinear in corpus size so
    // the dim stays broadcast-sized at any SF (at sf0.01 this derives
    // exactly the old demo constant 3); the corpus posting list streams
    // through ONE term equi-join + a per-(q,doc) map-side-combined sum;
    // the top-5 window partitions on q_id (bounded per query — the q44
    // precedent).
    Q("q145_bm25_topk",
      (s, d) => {
        import s.implicits._
        bm25M(s, d, bm25Tok(s, d))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"q_id").orderBy($"score_ppm".desc, $"d_id")))
          .filter($"rank" <= 5)
          .select($"q_id", $"rank", $"d_id", $"score_ppm")
          .orderBy($"q_id", $"rank")
      },
      Some(s"""
        WITH $DuckBm25Ctes
        SELECT q_id, rank, d_id, score_ppm FROM (
          SELECT q_id, d_id, score_ppm,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score_ppm DESC, d_id) AS INT) AS rank
          FROM m) r
        WHERE rank <= 5
        ORDER BY q_id, rank""")),

    // ---- Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    // 2009): the fusion pass a retrieval-backed pipeline (RAG indexing,
    // decontamination lookups, semantic dedup candidate generation)
    // runs over its two retrievers — the exact-integer BM25 lexical
    // list (q145's scorer, shared CTE chain) and the IVF-PROBED dense
    // list (q93's operator; doc_id/vec_id are the same id space by
    // corpus construction) — fused as RRF_ppm = Σ_lists 10⁶ DIV
    // (60 + rank), each rank from its list's own ordering, lists
    // capped at top-100 BEFORE fusion.
    //
    // Scale shape (r18, replacing the brute-force dense leg): BOTH
    // retrievers now produce their lists without touching the full
    // corpus per query. The lexical leg is the posting-list equi-join;
    // the dense leg assigns the corpus to its max-cosine seed centroid
    // ONCE (broadcast k-row centroid set + the partial-aggregatable
    // argmin — the shuffle carries n rows, never the n·k expansion)
    // and each query then scans ONLY its own centroid's inverted list,
    // so the per-query candidate pool — and the top-100 window's
    // partition — is cluster-sized (k ∝ N keeps clusters ~constant),
    // never corpus-sized. The probe's recall loss vs the exact scan is
    // DECLARED ANN semantics, mirrored bit-for-bit in the oracle and
    // quantified by q198's sampled recall harness. Fusion still
    // consumes top-k LISTS: each retriever ships ≤100 rows per query
    // to the fuser, so the fuse stage's cost is queries×k regardless
    // of corpus size. Cross-engine determinism: ranks are integers,
    // contributions integer floor divisions, the fused score an exact
    // integer sum (the q118/q145 ppm discipline); the dense cosine
    // ORDERING is the q44-proven bit-identical one (exact int64 dots
    // cast to double), and doubles never surface in the output.
    Q("q192_hybrid_rrf",
      (s, d) => {
        import s.implicits._
        // lexical leg: shared BM25 chain, ranked per query
        val lex = bm25M(s, d, bm25Tok(s, d))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"q_id").orderBy($"score_ppm".desc, $"d_id")))
          .select($"q_id", $"d_id", $"rank")
        // dense leg: q93's IVF probe. Query set = the q145 derivation
        // (lowest-id max(3, n DIV 1000) docs — one metadata-cheap
        // driver count, the centroidK precedent). r21 per-pair hoist
        // (q68/q93 note): per-row/per-centroid self-norms, bit-identical
        // cos doubles, one dot per pair.
        val emb = Tables.t(s, d, "embeddings")
          .select($"vec_id", expr(Extensions.QV).as("v"))
          .withColumn("nv", expr("dot_i64(v, v)"))
        def cosH(b: String, nb: String) =
          expr(s"dot_i64(v, $b)").cast("double") /
            (sqrt($"nv".cast("double")) * sqrt(col(nb).cast("double")))
        val qCut = math.max(3L, Tables.rowCount(s, d, "documents") / 1000L)
        val cents = Extensions.seedCentroids(
            emb.select($"vec_id", $"v"),
            Extensions.centroidKOf(Tables.rowCount(s, d, "embeddings")))
          .withColumn("nc", expr("dot_i64(cv, cv)"))
        val assigned = emb.crossJoin(broadcast(cents))
          .withColumn("cos", cosH("cv", "nc"))
          .groupBy($"vec_id")
          .agg(min(struct((-$"cos").as("ncos"), $"c_id")).as("best"),
            first($"v").as("v"), first($"nv").as("nv"))
          .select($"vec_id", $"best.c_id".as("c_id"), $"v", $"nv")
          // consumed twice (query-set derivation + probe side): persist
          // so the centroid pass + argmin aggregate run once
          .cache()
        val qs = assigned.filter($"vec_id" < qCut)
          .select($"c_id", $"vec_id".as("q_id"), $"v".as("qv"), $"nv".as("nq"))
        val dense = assigned.join(broadcast(qs), Seq("c_id"))
          .filter($"vec_id" =!= $"q_id")
          .withColumn("cos", cosH("qv", "nq"))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)))
          .select($"q_id", $"vec_id".as("d_id"), $"rank")
        // fuse the two CAPPED lists — queries×k rows in, top-5 out
        val fused = lex.filter($"rank" <= 100)
          .unionByName(dense.filter($"rank" <= 100))
          .select($"q_id", $"d_id",
            expr("1000000L DIV (60 + rank)").as("ppm"))
          .groupBy($"q_id", $"d_id")
          .agg(sum($"ppm").cast("long").as("rrf_ppm"))
        fused
          .withColumn("rank", row_number().over(
            Window.partitionBy($"q_id").orderBy($"rrf_ppm".desc, $"d_id".asc)))
          .filter($"rank" <= 5)
          .select($"q_id", $"rank", $"d_id", $"rrf_ppm")
          .orderBy($"q_id", $"rank")
      },
      Some(s"""
        WITH $DuckBm25Ctes,
        lex AS (
          SELECT q_id, d_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY score_ppm DESC, d_id) AS rank
          FROM m),
        w AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS v
          FROM embeddings),
        ${Extensions.SeedCtes},
        assigned AS (
          SELECT vec_id, c_id, v FROM (
            SELECT w.vec_id, c.c_id, w.v,
              row_number() OVER (PARTITION BY w.vec_id ORDER BY
                list_dot_product(w.v, c.cv) /
                  (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                DESC, c.c_id ASC) AS rn
            FROM w CROSS JOIN c0 c) t
          WHERE rn = 1),
        vq AS (SELECT c_id, vec_id AS q_id, v AS qv FROM assigned
               WHERE vec_id < (SELECT greatest(CAST(3 AS BIGINT), n // 1000) FROM g)),
        dense AS (
          SELECT q_id, d_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, d_id) AS rank
          FROM (
            SELECT q.q_id, a.vec_id AS d_id,
              list_dot_product(a.v, q.qv)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(q.qv, q.qv))) AS cos
            FROM assigned a JOIN vq q USING (c_id)
            WHERE a.vec_id <> q.q_id) sc),
        fused AS (
          SELECT q_id, d_id, CAST(sum(ppm) AS BIGINT) AS rrf_ppm FROM (
            SELECT q_id, d_id, 1000000 // (60 + rank) AS ppm
            FROM lex WHERE rank <= 100
            UNION ALL
            SELECT q_id, d_id, 1000000 // (60 + rank) AS ppm
            FROM dense WHERE rank <= 100) u
          GROUP BY q_id, d_id)
        SELECT q_id, rank, d_id, rrf_ppm FROM (
          SELECT q_id, d_id, rrf_ppm,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY rrf_ppm DESC, d_id) AS INT) AS rank
          FROM fused) r
        WHERE rank <= 5
        ORDER BY q_id, rank""")),

    // ---- SAMPLED dense-shortlist recall (the eval harness q192's
    // probe trade demands — q144's sampled pattern applied to the ANN
    // leg): on a deterministic ~EvalSampleTarget-doc hash-threshold
    // subcorpus, run the WHOLE dense retriever under measurement —
    // sample-derived k, stratified seeds, centroid assignment, probe —
    // as its own corpus, and score its top-10 per query against the
    // exact brute-force top-10 within the same sample. Eval cost is
    // O(target²)-bounded regardless of corpus size (the exact ground
    // truth — the expensive half — never touches the full corpus); the
    // pct column makes the draw explicit. Query set = the sample's
    // max(3, m DIV 1000) lowest ids (q192's derivation applied to the
    // sample; the ordering window runs over the bounded sample only).
    // recall = hits/|gt| per query, an identical IEEE divide on both
    // engines; queries whose probe list misses everything still emit
    // (left join + coalesce 0).
    Q("q198_dense_recall_sampled",
      (s, d) => {
        import s.implicits._
        // r21 per-pair hoist (q68/q93 note): per-row self-norm nv rides
        // the cached sample; cos trees unchanged → bit-identical doubles
        def cosH(b: String, nb: String) =
          expr(s"dot_i64(v, $b)").cast("double") /
            (sqrt($"nv".cast("double")) * sqrt(col(nb).cast("double")))
        val embAll = Tables.t(s, d, "embeddings")
          .select($"vec_id", expr(Extensions.QV).as("v"))
        val pct = Dedup.evalPct(Tables.rowCount(s, d, "embeddings"))
        val emb = embAll.filter(
          expr(s"md5_60(CAST(vec_id AS STRING)) % 100 < $pct"))
          .withColumn("nv", expr("dot_i64(v, v)")).cache()
        val m = emb.count()
        val qn = math.max(3L, m / 1000L)
        val qset = emb
          .withColumn("qrn", row_number().over(Window.orderBy($"vec_id".asc)))
          .filter($"qrn" <= qn)
          .select($"vec_id".as("q_id"), $"v".as("qv"), $"nv".as("nq"))
        // exact ground truth: broadcast query set × the bounded sample
        val gt = emb.crossJoin(broadcast(qset))
          .filter($"vec_id" =!= $"q_id")
          .withColumn("cos", cosH("qv", "nq"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)))
          .filter($"rn" <= 10)
          .select($"q_id", $"vec_id".as("neighbor"))
          .cache()
        // the retriever under measurement: q192's dense leg, sample-trained
        val cents = Extensions.seedCentroids(
            emb.select($"vec_id", $"v"), Extensions.centroidK(emb))
          .withColumn("nc", expr("dot_i64(cv, cv)"))
        val assigned = emb.crossJoin(broadcast(cents))
          .withColumn("cos", cosH("cv", "nc"))
          .groupBy($"vec_id")
          .agg(min(struct((-$"cos").as("ncos"), $"c_id")).as("best"),
            first($"v").as("v"), first($"nv").as("nv"))
          .select($"vec_id", $"best.c_id".as("c_id"), $"v", $"nv")
          .cache()
        val qs = assigned.join(broadcast(qset),
            $"vec_id" === $"q_id")
          .select($"c_id", $"q_id", $"v".as("pqv"), $"nv".as("nq"))
        val probed = assigned.join(broadcast(qs), Seq("c_id"))
          .filter($"vec_id" =!= $"q_id")
          .withColumn("cos", cosH("pqv", "nq"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)))
          .filter($"rn" <= 10)
          .select($"q_id", $"vec_id".as("neighbor"))
        val hits = gt.join(probed, Seq("q_id", "neighbor"), "left_semi")
          .groupBy($"q_id").agg(count(lit(1)).as("n_hits"))
        gt.groupBy($"q_id").agg(count(lit(1)).as("n_gt"))
          .join(hits, Seq("q_id"), "left")
          .select(lit(pct).as("pct"), $"q_id", $"n_gt",
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            (coalesce($"n_hits", lit(0L)).cast("double") /
              $"n_gt".cast("double")).as("recall"))
          .orderBy($"q_id")
      },
      Some(s"""
        WITH w0 AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS v
          FROM embeddings),
        ep AS (
          SELECT CAST(least(100, greatest(1,
            (100 * ${Dedup.EvalSampleTarget}) // n)) AS BIGINT) AS pct
          FROM (SELECT count(*) AS n FROM w0) t0),
        w AS (
          SELECT vec_id, v FROM w0, ep
          WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 2, 15))::BIGINT
            % 100 < pct),
        qn AS (SELECT greatest(CAST(3 AS BIGINT), count(*) // 1000) AS q FROM w),
        qset AS (
          SELECT vec_id AS q_id, v AS qv FROM (
            SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
            FROM w) t, qn
          WHERE rn <= q),
        gt AS (
          SELECT q_id, neighbor FROM (
            SELECT q.q_id, c.vec_id AS neighbor,
              row_number() OVER (PARTITION BY q.q_id ORDER BY
                list_dot_product(c.v, q.qv) /
                  (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                DESC, c.vec_id ASC) AS rn
            FROM w c CROSS JOIN qset q
            WHERE c.vec_id <> q.q_id) t
          WHERE rn <= 10),
        ${Extensions.SeedCtes},
        assigned AS (
          SELECT vec_id, c_id, v FROM (
            SELECT w.vec_id, c.c_id, w.v,
              row_number() OVER (PARTITION BY w.vec_id ORDER BY
                list_dot_product(w.v, c.cv) /
                  (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                DESC, c.c_id ASC) AS rn
            FROM w CROSS JOIN c0 c) t
          WHERE rn = 1),
        qs AS (
          SELECT a.c_id, a.vec_id AS q_id, a.v AS pqv
          FROM assigned a JOIN qset q ON a.vec_id = q.q_id),
        probed AS (
          SELECT q_id, neighbor FROM (
            SELECT q.q_id, a.vec_id AS neighbor,
              row_number() OVER (PARTITION BY q.q_id ORDER BY
                list_dot_product(a.v, q.pqv) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.pqv, q.pqv)))
                DESC, a.vec_id ASC) AS rn
            FROM assigned a JOIN qs q USING (c_id)
            WHERE a.vec_id <> q.q_id) t
          WHERE rn <= 10),
        hits AS (
          SELECT q_id, count(*) AS n_hits
          FROM gt SEMI JOIN probed USING (q_id, neighbor)
          GROUP BY q_id),
        ngt AS (SELECT q_id, count(*) AS n_gt FROM gt GROUP BY q_id)
        SELECT CAST((SELECT pct FROM ep) AS BIGINT) AS pct,
          n.q_id, CAST(n.n_gt AS BIGINT) AS n_gt,
          CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
          CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(n.n_gt AS DOUBLE) AS recall
        FROM ngt n LEFT JOIN hits h ON n.q_id = h.q_id
        ORDER BY n.q_id""")),

    // ---- DSIR-style importance weights (Xie et al. 2023, "Data
    // Selection via Importance Resampling"): rank raw-corpus documents
    // by how target-like their hashed n-gram feature profile is — the
    // content-based data-selection pass that complements the metadata
    // mixture ops (q109/q129/q138). Features are unigrams + bigrams
    // hashed into 4096 buckets (the q96 feature-hashing convention);
    // the target exemplar set ("quality domain") is CORPUS-DERIVED
    // (r14, the q133/q137/q138 discipline): the lowest-id n DIV 10
    // docs — a fixed 10% exemplar slice at any SF (at sf0.01 this
    // derives exactly the old demo constant 50; in production the
    // target is a DECLARED domain corpus — the derivation exists so
    // the demo discriminates meaningfully at every SF). Per bucket b
    // the Laplace-smoothed importance ratio
    //   w_ppm(b) = 10⁶·(t_b+1)·(R+B) DIV ((r_b+1)·(T+B))
    // is ONE exact integer floor-division (t/r = target/raw counts,
    // T/R their totals, B=4096), and a document's score is the exact
    // integer sum Σ c_b·w_ppm(b) over its feature counts — the
    // LINEAR-ratio variant of DSIR's log-likelihood ratio, declared so
    // both engines agree bit-for-bit (Σ c·log w needs libm). npt
    // divides by the doc's feature count (integer ppm) so length
    // doesn't dominate. Shapes: the 4096-row weight table is a
    // broadcast dim by construction; the corpus streams through one
    // bucket equi-join + a per-doc map-side-combined sum; the final
    // top-20 is a TakeOrdered, never a global sort.
    Q("q146_dsir_weights",
      (s, d) => {
        import s.implicits._
        val tok = featureTok(s, d)
        val w = dsirWeights(s, d, tok).select($"b", $"wppm")
        val c = tok.groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
        c.join(broadcast(w), Seq("b"))
          .groupBy($"doc_id")
          .agg(sum($"c").as("n_feat"), sum($"c" * $"wppm").as("score_ppm"))
          .select($"doc_id", $"n_feat", $"score_ppm",
            expr("score_ppm DIV n_feat").as("npt"))
          .orderBy(expr("score_ppm DIV n_feat").desc, $"doc_id")
          .limit(20)
      },
      Some(s"""
        WITH $DuckHashedFeatureCtes,
        gd AS (SELECT CAST(count(*) // 10 AS BIGINT) AS tgt FROM documents),
        rb AS (SELECT b, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY b),
        tb AS (
          SELECT b, CAST(count(*) AS BIGINT) AS t
          FROM tok WHERE doc_id < (SELECT tgt FROM gd) GROUP BY b),
        g AS (SELECT
          CAST((SELECT count(*) FROM tok) AS BIGINT) AS rr,
          CAST((SELECT count(*) FROM tok
                WHERE doc_id < (SELECT tgt FROM gd)) AS BIGINT) AS tt),
        w AS (
          SELECT rb.b,
            1000000 * (coalesce(tb.t, 0) + 1) * (g.rr + 4096)
              // ((rb.r + 1) * (g.tt + 4096)) AS wppm
          FROM rb LEFT JOIN tb ON rb.b = tb.b CROSS JOIN g),
        sc AS (
          SELECT c.doc_id,
            CAST(sum(c.c) AS BIGINT) AS n_feat,
            CAST(sum(c.c * w.wppm) AS BIGINT) AS score_ppm
          FROM c JOIN w ON c.b = w.b
          GROUP BY c.doc_id)
        SELECT doc_id, n_feat, score_ppm,
          score_ppm // n_feat AS npt
        FROM sc
        ORDER BY score_ppm // n_feat DESC, doc_id
        LIMIT 20""")),

    // ---- Domain-classifier TRAINING (the fastText/CCNet-style linear
    // quality classifier every production curation stack trains —
    // GPT-3/LLaMA filter web text by "does a linear model think this
    // looks like the reference corpus"): a DomainRounds-round batch
    // perceptron separating the corpus-derived target slice (q146's
    // lowest-id n DIV 10 exemplar convention, label +1) from the rest
    // (−1) over the shared hashed unigram+bigram features. Everything
    // is exact integers (counts × accumulated count-sums), so both
    // engines agree bit-for-bit — no learning rate, no floats. Output =
    // the per-round training curve (n_err with the PRE-update weights;
    // nnz/L1 of the POST-update ones). Long-overflow envelope: |w(b)| ≤
    // R·T and |score| ≤ dl·max|w| for T total corpus tokens, so scores
    // stay exact through T ≈ 10⁹ tokens × dl ≈ 10³ — past that the
    // production spelling rescales w to ppm per round (same shape).
    // Shapes at 100 TB: the feature frame is computed once and cached
    // (production: checkpointed); each round = ONE broadcast join
    // against the 4096-row weight dim + map-side-combined per-doc sums,
    // then a 4096-group gradient aggregate collected as metadata — R
    // linear passes, no global sort, no all-pairs.
    Q("q160_domain_train",
      (s, d) => {
        import s.implicits._
        val (_, stats) = domainTrainPublish(s, d)
        s.createDataFrame(stats)
          .toDF("round", "n_err", "w_nnz", "w_l1")
          .orderBy($"round")
      },
      Some(s"""
        WITH $DuckHashedFeatureCtes,
        $DuckDomainTrainCtes
        SELECT round, n_err, w_nnz, w_l1 FROM (
          $duckDomainStats
        ) t ORDER BY round""")),

    // ---- Domain-classifier APPLY (the filter pass of q160, the
    // q148→q151 train→encode split): score every document with the
    // trained weights and report the per-source confusion summary —
    // docs predicted target-like (score > 0; score ≤ 0 reads raw, the
    // training convention) and prediction accuracy against the derived
    // labels. The per-source breakdown is the curation deliverable: it
    // says which sources the classifier would up/down-weight. Shapes:
    // one broadcast weight join + per-doc sum, one broadcast-sized
    // join to the doc dim for `source`, one map-side-combined
    // per-source aggregate — linear end to end.
    Q("q161_domain_apply",
      (s, d) => {
        import s.implicits._
        // the trained weights come from the per-sfDir SHARED-ARTIFACT
        // memo (q160 pays the training in the sweep; a standalone q161
        // run trains once on first touch); the feature frame is cached
        // for the scoring pass — the harness's clearCache drops it
        // after the query materializes
        val w = domainTrainShared(s, d)._1
        val c = domainFeatures(s, d)
        val tgt = Tables.rowCount(s, d, "documents") / 10
        bucketScores(c, w)
          .join(Tables.t(s, d, "documents").select($"doc_id", $"source"),
            "doc_id")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when($"sc" > 0, 1L).otherwise(0L)).as("n_pred_target"),
            sum(when(($"doc_id" < tgt) === ($"sc" > 0), 1L).otherwise(0L))
              .as("n_correct"))
          .orderBy($"source")
      },
      Some(s"""
        WITH $DuckHashedFeatureCtes,
        $DuckDomainTrainCtes,
        sc AS (
          SELECT c.doc_id, CAST(sum(c.c * w$DomainRounds.w) AS BIGINT) AS sc
          FROM c JOIN w$DomainRounds ON c.b = w$DomainRounds.b
          GROUP BY c.doc_id)
        SELECT d.source AS source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN sc.sc > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_pred_target,
          CAST(sum(CASE WHEN (d.doc_id < (SELECT tgt FROM par)) = (sc.sc > 0)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM sc JOIN documents d ON sc.doc_id = d.doc_id
        GROUP BY d.source ORDER BY d.source""")),

    // ---- Classifier evaluation: tie-aware ROC AUC of the trained
    // domain classifier's margins against the training labels — the
    // eval pass a data-curation pipeline runs before trusting a
    // quality/domain filter at corpus scale. Computed as the
    // Mann-Whitney U statistic over PER-SCORE GROUPS, not per-row
    // ranks: one groupBy(sc) collapse (distinct margins, typically ≪
    // corpus), one running-sum window over those groups, one global
    // sum — the global ORDER BY touches group rows only, so the plan
    // survives a corpus-scale eval split where a per-row rank window
    // would single-partition the corpus. Ties get average ranks kept
    // EXACT in integers by working with doubled ranks: a positive in a
    // tie group of size n starting after cb rows contributes
    // 2·r̄ = 2·(cb+1) + n − 1, so
    //   auc_ppm = 10⁶·(Σ_pos 2r̄ − npos·(npos+1)) DIV (2·npos·nneg)
    // is one exact floor division (the ppm discipline — no doubles
    // cross engines). Labels are q160's own: target = lowest-id n/10
    // exemplar docs, universe = docs with ≥1 feature.
    Q("q193_classifier_auc",
      (s, d) => {
        import s.implicits._
        val w = domainTrainShared(s, d)._1
        val c = domainFeatures(s, d)
        val tgt = Tables.rowCount(s, d, "documents") / 10
        val grouped = bucketScores(c, w)
          .select($"sc", when($"doc_id" < tgt, 1L).otherwise(0L).as("y"))
          .groupBy($"sc")
          .agg(count(lit(1)).as("n"), sum($"y").as("npos"))
        val asc = org.apache.spark.sql.expressions.Window
          .orderBy($"sc")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        grouped
          .withColumn("cb", coalesce(sum($"n").over(asc), lit(0L)))
          .agg(
            sum($"npos" * (lit(2L) * ($"cb" + 1L) + $"n" - 1L)).as("r2"),
            sum($"npos").as("np"),
            sum($"n" - $"npos").as("nn"))
          .select(
            expr("1000000L * (r2 - np * (np + 1)) DIV (2 * np * nn)")
              .as("auc_ppm"),
            $"np".as("n_target"), $"nn".as("n_rest"))
      },
      Some(s"""
        WITH $DuckHashedFeatureCtes,
        $DuckDomainTrainCtes,
        sc AS (
          SELECT c.doc_id, CAST(sum(c.c * w$DomainRounds.w) AS BIGINT) AS sc
          FROM c JOIN w$DomainRounds ON c.b = w$DomainRounds.b
          GROUP BY c.doc_id),
        grouped AS (
          SELECT sc, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN doc_id < (SELECT tgt FROM par)
                     THEN 1 ELSE 0 END) AS BIGINT) AS npos
          FROM sc GROUP BY sc),
        rk AS (
          SELECT n, npos,
            CAST(coalesce(sum(n) OVER (ORDER BY sc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cb
          FROM grouped),
        t AS (
          SELECT CAST(sum(npos * (2 * (cb + 1) + n - 1)) AS BIGINT) AS r2,
            CAST(sum(npos) AS BIGINT) AS np,
            CAST(sum(n - npos) AS BIGINT) AS nn
          FROM rk)
        SELECT CAST(1000000 * (r2 - np * (np + 1)) // (2 * np * nn)
            AS BIGINT) AS auc_ppm,
          np AS n_target, nn AS n_rest
        FROM t""")),

    // ---- N-gram novelty score: fraction of a doc's bigram OCCURRENCES
    // that are corpus-unique (corpus count = 1) — the cheap KenLM-free
    // proxy for "memorized boilerplate vs fresh text" a pretraining
    // curation pass ranks on (high novelty = fresh, low = template).
    // Exact integer ratio (rare·10⁶ // total) for the bit-exact compare.
    // Shapes: bigram explode → corpus-count aggregate on the bigram key,
    // then one join back on the same key + a per-doc aggregate — two
    // linear shuffles, no all-pairs anything.
    Q("q119_ngram_novelty",
      (s, d) => Tables.sql(s, d, """
        WITH t AS (
          SELECT doc_id, split(text, ' ') AS w FROM documents
          WHERE size(split(text, ' ')) >= 2),
        big AS (
          SELECT doc_id, concat(element_at(w, i), ' ', element_at(w, i + 1)) AS bg
          FROM t LATERAL VIEW explode(sequence(1, size(w) - 1)) s AS i),
        corpus AS (
          SELECT bg, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY bg)
        SELECT big.doc_id,
          CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(CASE WHEN corpus.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
          sum(CASE WHEN corpus.n = 1 THEN 1 ELSE 0 END) * 1000000L
            DIV count(*) AS novelty_ppm
        FROM big JOIN corpus ON big.bg = corpus.bg
        WHERE big.doc_id < 100
        GROUP BY big.doc_id
        ORDER BY big.doc_id"""),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        big AS (
          SELECT doc_id, w[k] || ' ' || w[k + 1] AS bg
          FROM t, unnest(generate_series(1, len(w) - 1)) s(k)),
        corpus AS (
          SELECT bg, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY bg)
        SELECT big.doc_id,
          CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(CASE WHEN corpus.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
          CAST(sum(CASE WHEN corpus.n = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
        FROM big JOIN corpus ON big.bg = corpus.bg
        WHERE big.doc_id < 100
        GROUP BY big.doc_id
        ORDER BY big.doc_id""")),

    // ---- Bigram LM fluency score: the CCNet-style language-model
    // quality filter, KenLM-free — train corpus bigram transition
    // frequencies, score each doc by its MEAN conditional likelihood
    // P(w2|w1) = c(w1 w2)/c(w1·). Complements q119 (novelty counts
    // corpus-UNIQUE bigrams; this weights every transition by how
    // predictable the corpus says it is — template text scores high,
    // word salad low). Declared exact-integer variant of the usual
    // mean-log-prob: per-transition ppm = c(bg)·10⁶ // c(w1·), per-doc
    // score = mean of those ppms (both floor-divs, every term < 2^53),
    // so the cross-engine compare is bit-exact — ln is libm and off
    // limits. Shapes at 100 TB: bigram explode → two map-side-combined
    // count aggregates (pair key, context key) → two linear equi-joins
    // back on the same uniformly-distributed keys → per-doc aggregate.
    // No all-pairs stage anywhere; identical to q119's audited shape
    // plus one more linear join.
    Q("q122_lm_fluency",
      (s, d) => Tables.sql(s, d, s"""
        WITH $FluencyCtes
        SELECT big.doc_id,
          CAST(count(*) AS BIGINT) AS n_transitions,
          sum(pair.n * 1000000L DIV ctx.n) DIV count(*) AS fluency_ppm
        FROM big
        JOIN pair ON big.bg = pair.bg
        JOIN ctx ON big.w1 = ctx.w1
        WHERE big.doc_id < 100
        GROUP BY big.doc_id
        ORDER BY big.doc_id"""),
      Some(s"""
        WITH $DuckFluencyCtes
        SELECT big.doc_id,
          CAST(count(*) AS BIGINT) AS n_transitions,
          CAST(sum(pair.n * 1000000 // ctx.n) // count(*) AS BIGINT)
            AS fluency_ppm
        FROM big
        JOIN pair ON big.bg = pair.bg
        JOIN ctx ON big.w1 = ctx.w1
        WHERE big.doc_id < 100
        GROUP BY big.doc_id
        ORDER BY big.doc_id""")),

    // ---- CURRICULUM CONSTRUCTION (Bengio et al. 2009's easy-first
    // schedule as a data-pipeline artifact): order the corpus by the
    // q122 LM-fluency score — template-like text first, word salad
    // last — into CurriculumStages equal-count stages, with a
    // deterministic within-stage shuffle (q123's md5-keyed convention:
    // the schedule is a pure function of the corpus, reproducible on
    // any rerun). Deliverable = the full (doc_id → stage, stage_ord)
    // reading schedule. Shapes at 100 TB: BOTH ranks come from
    // plans.DistributedRank (range exchange + broadcast offsets — a
    // per-stage row_number window would serialize each stage through
    // one reducer); the stage offsets are a CurriculumStages-row
    // driver collect (metadata-sized); everything else is the q122
    // fluency plan.
    Q("q180_curriculum",
      (s, d) => {
        import s.implicits._
        // cached (r22): the count action below and the rank's
        // materialization both read fl — uncached, the whole fluency
        // join pipeline ran twice
        val fl = Tables.sql(s, d, s"""
          WITH $FluencyCtes
          SELECT big.doc_id,
            sum(pair.n * 1000000L DIV ctx.n) DIV count(*) AS fluency_ppm
          FROM big
          JOIN pair ON big.bg = pair.bg
          JOIN ctx ON big.w1 = ctx.w1
          GROUP BY big.doc_id""").cache()
        val n = fl.count()
        val staged = graft.plans.DistributedRank.rowNumber(
            fl, lit(0L), Seq($"fluency_ppm".desc, $"doc_id".asc), "rk", 32)
          .withColumn("stage",
            expr(s"CAST((rk - 1) * $CurriculumStages DIV $n AS INT)"))
          .withColumn("sk",
            expr("md5_60(concat('cur1:', CAST(doc_id AS STRING)))"))
        val ranked = graft.plans.DistributedRank.rowNumber(
          staged, lit(0L), Seq($"stage".asc, $"sk".asc, $"doc_id".asc),
          "rk2", 32)
        val counts = ranked.groupBy($"stage")
          .agg(count(lit(1)).as("cnt")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        var acc = 0L
        val offPairs = counts.map { case (st, c) =>
          val o = (st, acc); acc += c; o
        }
        val offDf = s.createDataFrame(offPairs.toSeq).toDF("stage", "off")
        ranked.join(broadcast(offDf), Seq("stage"))
          .select($"doc_id", $"fluency_ppm", $"stage",
            ($"rk2" - $"off").as("stage_ord"))
          .orderBy($"stage", $"stage_ord")
      },
      Some(s"""
        WITH $DuckFluencyCtes,
        sc AS (
          SELECT big.doc_id,
            CAST(sum(pair.n * 1000000 // ctx.n) // count(*) AS BIGINT)
              AS fluency_ppm
          FROM big
          JOIN pair ON big.bg = pair.bg
          JOIN ctx ON big.w1 = ctx.w1
          GROUP BY big.doc_id),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
        r AS (
          SELECT sc.doc_id, sc.fluency_ppm,
            CAST((row_number() OVER (ORDER BY sc.fluency_ppm DESC,
              sc.doc_id ASC) - 1) * $CurriculumStages // g.n AS INT)
              AS stage,
            ('0x' || substr(md5('cur1:' || sc.doc_id), 2, 15))::BIGINT AS sk
          FROM sc CROSS JOIN g)
        SELECT doc_id, fluency_ppm, stage,
          CAST(row_number() OVER (PARTITION BY stage
            ORDER BY sk ASC, doc_id ASC) AS BIGINT) AS stage_ord
        FROM r
        ORDER BY stage, stage_ord""")),

    // ---- Deterministic corpus shuffle + train/validation split: the
    // last step before training — a reproducible pseudo-random total
    // order (epoch reading order) plus a seeded 5% holdout. Shuffle key
    // = md5_60("shuf1:" || doc_id), so the permutation is a pure
    // function of (seed, doc_id): re-running on a regrown corpus moves
    // nothing that didn't change. The global rank uses
    // [[graft.plans.DistributedRank.rowNumber]] — a range exchange on
    // the hash key plus broadcast per-partition offsets, so every
    // executor ranks its own range (Spark's single-partition
    // `row_number() OVER (ORDER BY …)` window would serialize the
    // corpus through one task at any scale). The split is decided by
    // the hash value itself, NOT the rank — membership survives
    // repartitioning and corpus growth. Rank ≤ 100 bounds the reported
    // head; the full-corpus variant is the same plan minus the filter.
    Q("q123_corpus_shuffle",
      (s, d) => {
        import s.implicits._
        val base = Tables.t(s, d, "documents")
          .select($"doc_id",
            graft.functions.Md5Long.md5_60(
              concat(lit("shuf1:"), $"doc_id".cast("string"))).as("h"))
        graft.plans.DistributedRank.rowNumber(
          base, lit(0L), Seq($"h".asc, $"doc_id".asc), "shuffle_rank", 16)
          .filter($"shuffle_rank" <= 100)
          .select($"shuffle_rank", $"doc_id",
            when($"h" % 20 === 0, "valid").otherwise("train").as("split"))
          .orderBy($"shuffle_rank")
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            ('0x' || substr(md5('shuf1:' || CAST(doc_id AS VARCHAR)), 2, 15))::BIGINT AS h
          FROM documents)
        SELECT shuffle_rank, doc_id, split FROM (
          SELECT
            CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS shuffle_rank,
            doc_id,
            CASE WHEN h % 20 = 0 THEN 'valid' ELSE 'train' END AS split
          FROM h) t
        WHERE shuffle_rank <= 100
        ORDER BY shuffle_rank""")),

    // ---- MIXTURE SAMPLING: materialize q109's temperature weights as
    // an actual downsampled corpus — the stage that turns a mixture
    // SPEC into training DATA. Stratum (lang, source) gets a target of
    // floor(B·w/tw) docs (B = half the corpus, w = q109's floor(sqrt(n))
    // temperature weight, tw = Σw); a doc is kept iff its deterministic
    // 60-bit priority clears the stratum's threshold:
    //   md5_60("mix1:" || doc_id) · n_docs  <  target · 2^60
    // i.e. hash-threshold (Bernoulli-by-hash) sampling at rate
    // target/n_docs. THE scale shape: per-doc work is one hash + one
    // broadcast-joined threshold compare — a single map-side filter, no
    // per-stratum sort/rank, no second corpus pass; sampled counts are
    // binomially close to target, never exactly it (declared semantics —
    // exact-count sampling needs a per-stratum global rank, which is
    // q123's DistributedRank shape if a consumer ever needs it).
    // Upweighted strata (target ≥ n_docs) keep everything: h < 2^60
    // makes the predicate universally true — no doc duplication here
    // (epoch repetition is the trainer's job, q109 reports the shares).
    //
    // Exactness: h < 2^60 and n_docs ≤ corpus size push h·n_docs past
    // int64 — the compare cross-multiplies in DECIMAL(38,0)/HUGEINT
    // (the q115 pattern); target arithmetic is pure int64 (B·w ≤ n·√n).
    Q("q129_mixture_sample",
      (s, d) => {
        import s.implicits._
        val docs = Tables.t(s, d, "documents")
        val strata = docs.groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w", floor(sqrt($"n_docs".cast("double"))).cast("long"))
        val tot = strata.agg(sum($"w").as("tw"), sum($"n_docs").as("nd"))
        // integer `div` mirrors DuckDB `//` (all operands positive, so
        // truncation == floor on both); Column./ would go through double
        val tgt = strata.crossJoin(broadcast(tot))
          .select($"lang", $"source", $"n_docs",
            expr("((nd div 2) * w) div tw").as("target"))
          .cache() // metadata-sized; read by the filter pass AND the output

        val kept = docs
          .join(broadcast(tgt), Seq("lang", "source"))
          .filter(
            graft.functions.Md5Long.md5_60(
              concat(lit("mix1:"), $"doc_id".cast("string")))
              .cast("decimal(38,0)") * $"n_docs"
              < $"target".cast("decimal(38,0)") * lit(1152921504606846976L))
          .groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_sampled"))
        tgt.join(broadcast(kept), Seq("lang", "source"), "left")
          .select($"lang", $"source", $"n_docs", $"target",
            coalesce($"n_sampled", lit(0L)).as("n_sampled"))
          .orderBy($"lang", $"source")
      },
      Some("""
        WITH strata AS (
          SELECT lang, source, count(*) AS n_docs,
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
          FROM documents GROUP BY lang, source),
        tot AS (
          SELECT CAST(sum(w) AS BIGINT) AS tw,
            CAST(sum(n_docs) AS BIGINT) AS nd
          FROM strata),
        tgt AS (
          SELECT lang, source, n_docs, (nd // 2) * w // tw AS target
          FROM strata, tot),
        kept AS (
          SELECT d.lang, d.source, count(*) AS n_sampled
          FROM documents d JOIN tgt t ON d.lang = t.lang AND d.source = t.source
          WHERE CAST(('0x' || substr(md5('mix1:' || CAST(d.doc_id AS VARCHAR)), 2, 15))::BIGINT
                  AS HUGEINT) * t.n_docs
              < CAST(t.target AS HUGEINT) * 1152921504606846976
          GROUP BY d.lang, d.source)
        SELECT t.lang, t.source, t.n_docs, t.target,
          CAST(coalesce(k.n_sampled, 0) AS BIGINT) AS n_sampled
        FROM tgt t LEFT JOIN kept k
          ON t.lang = k.lang AND t.source = k.source
        ORDER BY t.lang, t.source"""))
  )
}
