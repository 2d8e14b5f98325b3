package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal

/** Text analysis, multimodal plumbing, statistical aggregates, JSON —
  * the remaining training-data-pipeline operators plus SURVEY §2.2's
  * statistical aggregate family.
  *
  * All scores are exact-integer arithmetic with final IEEE-exact double
  * divisions; the only approximate-by-construction entries (approx_*
  * sketches) deliberately omit the oracle (engine-specific algorithms)
  * and are sanity-bounded in ScalaTest instead.
  */
object TextOps {

  private val P31 = 2147483647L

  /** Portable 6-decimal rounding (Spark SQL spelling). */
  private def r6s(x: String) = s"floor(($x) * 1000000 + 0.5) / 1e6"
  private def r6d(x: String) = s"CAST(floor(($x) * 1000000 + 0.5) AS BIGINT) / 1e6"

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private def sqlList(xs: Seq[String]) = xs.map(w => s"'$w'").mkString("(", ",", ")")

  /** dHash signatures → verified hamming≤2 pairs — the ONE pair source
    * q143 (the report) and q147 (the dedup map) share, so the blocking
    * and threshold can never diverge between them. Signature = the
    * native codegen DHash63 expression; pairing = the 3×21-bit
    * pigeonhole chunk equi-join (exact recall at τ=2). */
  private[graft] def dhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = Tables.t(s, d, "documents")
      .select($"doc_id",
        graft.functions.DHash63.dhash63(encode($"text", "UTF-8")).as("dh"))
    val chunks = sig.select($"doc_id", $"dh",
      explode(expr("sequence(0, 2)")).as("c"))
      .withColumn("cv",
        expr("(dh div CAST(pow(2, 21 * c) AS BIGINT)) % 2097152"))
    chunks.as("x")
      .join(chunks.as("y"),
        $"x.c" === $"y.c" && $"x.cv" === $"y.cv" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("d1"), $"y.doc_id".as("d2"),
        $"x.dh".as("h1"), $"y.dh".as("h2"))
      .distinct()
      .select($"d1", $"d2",
        expr("bit_count(h1 ^ h2)").cast("int").as("hamming"))
      .filter($"hamming" <= 2)
  }

  /** SHARED-ARTIFACT accessor (r16, PLANS.md): the pair graph read
    * from its materialized per-corpus parquet — `publish = true` (the
    * q147 publisher) recomputes and rewrites every call so its bench
    * time stays the true kernel cost; consumers (q162/q181/q183) read
    * the pair-count-sized file. q143 (the report) keeps computing the
    * kernel live — it IS the pair deliverable. */
  private[graft] def dhashPairsShared(s: SparkSession, d: String,
      publish: Boolean = false): DataFrame =
    s.read.parquet(graft.sources.Fixtures
      .dhashPairsArtifact(d, rebuild = publish)(dhashPairs(s, d)))

  /** q162's SYMMETRIZED perceptual edge frame over the shared pair
    * artifact via [[graft.operators.ConnectedComponents.symmetrize]] —
    * the input to PageRank (exact degrees), also exercised directly by
    * ConnectedComponentsSpec. The CC queries (q147/q181/q183) pass the
    * pair list itself to the kernel. */
  private[graft] def dhashEdges(s: SparkSession, d: String): DataFrame =
    graft.operators.ConnectedComponents.symmetrize(dhashPairsShared(s, d))

  /** DuckDB mirror of [[dhashPairs]] as a reusable CTE block ending in
    * `dpairs(d1, d2, hamming)` — shared by the q143 and q147 oracles.
    *
    * ASCII-corpus assumption (declared, same convention as the q94
    * frame oracle's rpad/substr spelling): the Spark side hashes the
    * UTF-8 BYTES of `text` while this mirror indexes CHARACTERS
    * (substr) and compares codepoints (ascii) — the two agree exactly
    * because the corpus is single-byte ASCII (charset a–y + space,
    * FIXTURES.md). A multi-byte corpus would shift byte offsets vs
    * character offsets and diverge; a byte-robust oracle would index
    * via octet-level encode() slicing instead. */
  private val DuckDhashPairs = """rw AS (
          SELECT doc_id, r, rpad(substr(text, 1 + 64*r, 8), 8, ' ') AS rw
          FROM documents, generate_series(0, 8) t(r)),
        bits AS (
          SELECT doc_id,
            CASE WHEN ascii(substr(rw, c+1, 1)) < ascii(substr(rw, c+2, 1))
                 THEN CAST(pow(2, r*7+c) AS BIGINT) ELSE 0 END AS v
          FROM rw, generate_series(0, 6) t(c)),
        sig AS (
          SELECT doc_id, CAST(sum(v) AS BIGINT) AS dh
          FROM bits GROUP BY doc_id),
        ch AS (
          SELECT doc_id, dh, c,
            (dh // CAST(pow(2, 21*c) AS BIGINT)) % 2097152 AS cv
          FROM sig, generate_series(0, 2) t(c)),
        dpairs AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
            CAST(bit_count(xor(x.dh, y.dh)) AS INT) AS hamming
          FROM ch x JOIN ch y
            ON x.c = y.c AND x.cv = y.cv AND x.doc_id < y.doc_id
          WHERE bit_count(xor(x.dh, y.dh)) <= 2)"""

  /** DuckDB mirror of the 4-round min-label connected components over
    * the dhash pair graph, ending in `l4(doc_id, lbl)` — generated, one
    * round-count for both engines; shared by the q147 (dedup map) and
    * q181 (leakage-safe split) oracles. */
  private val DuckDhashCcCtes: String = {
    val sb = new StringBuilder(s"""$DuckDhashPairs,
        edges AS (SELECT d1, d2 FROM dpairs UNION ALL SELECT d2, d1 FROM dpairs),
        l0 AS (SELECT DISTINCT d1 AS doc_id, d1 AS lbl FROM edges)""")
    for (r <- 1 to 4) sb.append(s""",
        l$r AS (
          SELECT l.doc_id, least(l.lbl, m.nbr) AS lbl FROM l${r - 1} l JOIN (
            SELECT e.d1 AS doc_id, min(l.lbl) AS nbr
            FROM edges e JOIN l${r - 1} l ON e.d2 = l.doc_id GROUP BY e.d1) m
          USING (doc_id))""")
    sb.toString
  }

  /** q181's holdout fraction: eval = the md5-threshold top
    * [[HoldoutPct]]% of cluster REPRESENTATIVES (never of raw docs). */
  private[graft] val HoldoutPct = 10

  /** Declared PageRank rounds (q162) — fixed, mirrored in the GENERATED
    * oracle chain (one round count, two dialects, no drift), the
    * q89/q147/q148 iterative-operator discipline. Production runs more
    * rounds of the identical per-round shape; the count is semantics. */
  private[graft] val PageRankRounds = 3

  /** DuckDB mirror of the q162 PageRank loop, generated from
    * [[PageRankRounds]]: symmetrize `dpairs`, fold degrees, init every
    * node at 10^6 ppm, then one floored-share sum CTE per round —
    * exactly [[graft.operators.PageRank.rounds]]'s update. Sums CAST
    * AS BIGINT (DuckDB sums BIGINT into HUGEINT). */
  private val DuckPageRankCtes: String = {
    val sb = new StringBuilder("""sym AS (
          SELECT d1 AS u, d2 AS v FROM dpairs
          UNION ALL SELECT d2, d1 FROM dpairs),
        deg AS (
          SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
        p0 AS (SELECT u, CAST(1000000 AS BIGINT) AS pr FROM deg)""")
    for (k <- 1 to PageRankRounds) {
      val p = k - 1
      sb.append(s""",
        p$k AS (
          SELECT s.v AS u,
            150000 + (85 * CAST(sum(p$p.pr // deg.deg) AS BIGINT)) // 100
              AS pr
          FROM sym s
          JOIN p$p ON s.u = p$p.u
          JOIN deg ON s.u = deg.u
          GROUP BY s.v)""")
    }
    sb.toString
  }

  /** q153's Misra-Gries counter budget: detection target φ = 1/32 (report
    * every token above n/32 of the corpus), so capacity = 1/φ − 1 = 31
    * counters — the sketch size FOLLOWS the user-chosen threshold (the
    * q95 top-50 / BM25 top-5 parameter class, not a corpus property).
    * The oracle interpolates capacity+1 so the two spellings cannot
    * drift. Declared BEFORE `defs` — the oracle string is built at
    * object init, and a forward-referenced object val would read as 0. */
  private[graft] val HeavyHitterCapacity = 31

  /** Declared BPE training rounds (q148) — fixed, mirrored in the
    * oracle, the q114/q89 iterative-operator discipline. Production
    * runs tens of thousands of rounds with the identical per-round
    * shape; the count is semantics, not a correctness approximation
    * (each round's merge is exact given the previous rounds). */
  private[graft] val BpeRounds = 6

  /** Run the [[BpeRounds]]-round training loop over the word-frequency
    * table, returning (merge table, trained vocab `(w, cnt, seg)` with
    * the final wrapped-symbol segmentation). The ONE trainer q148 (the
    * merge table) and q151 (the encode join) share; the vocab frame is
    * cached — it is the Heaps-bounded tokenizer artifact, not corpus
    * data. */
  private[graft] def bpeTrain(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    val words = Tables.t(s, d, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .where(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).cast("long").as("cnt"))
      .select($"w", $"cnt", regexp_replace($"w", "(.)", "~$1~").as("seg"))
      .cache()
    var seg = words
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      // an exhausted pair table before the declared round count is a
      // misconfiguration (BpeRounds must be ≪ the corpus's possible
      // merges — the oracle's chained CTEs would go empty from this
      // round on): fail loudly rather than NoSuchElement mid-query
      val top = bpePairCounts(seg)
        .orderBy($"n".desc, $"l", $"r").limit(1)
        .as[(String, String, Long)].collect()
      require(top.nonEmpty,
        s"BPE corpus exhausted merge pairs before round $r of $BpeRounds " +
          "— lower BpeRounds for this corpus")
      val best = top.head
      merges += ((r, best._1, best._2, best._3))
      // the same literal-replace kernel StreamBpeEncode.segment applies
      // (Column form — no SQL-string splicing of symbol text)
      seg = seg.select($"w", $"cnt",
        replace($"seg", lit(s"~${best._1}~~${best._2}~"),
          lit(s"~${best._1}${best._2}~")).as("seg"))
    }
    (merges.toSeq, seg.cache())
  }

  /** DECLARED SHARED-ARTIFACT STAGE (r16, PLANS.md): the BPE merge
    * table + vocab segmentation are deterministic functions of the
    * corpus — memoized per sfDir so the sweep trains ONCE (q148, the
    * trainer, pays it; the encode/vocab/eval consumers q151/q152/q166
    * pay only their own passes). The memoized vocab frame re-evaluates
    * lazily after the harness's clearCache (its lineage is one grouped
    * scan + [[BpeRounds]] literal replaces — cheap); the driver-side
    * merge collects never re-run. */
  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Seq[(Int, String, String, Long)], DataFrame)]()
  /** Consumer accessor — trains only if no trainer ran yet. */
  private[graft] def bpeTrainShared(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeMemo.computeIfAbsent(d, _ => bpeTrain(s, d))
  /** Trainer spelling — ALWAYS trains and refreshes the memo, so the
    * trainer query's own benchmark time reflects the real training
    * cost on every rep (min-of-reps must not read the memo back). */
  private[graft] def bpeTrainPublish(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val r = bpeTrain(s, d)
    bpeMemo.put(d, r)
    r
  }

  /** Adjacent-pair counts over a wrapped-symbol segmentation frame
    * `(cnt, seg)` — one map-side-combined aggregate, grouped on the
    * (left, right) symbol pair. Shared by q148's training loop and
    * BpeSpec's round-consistency check. */
  private[graft] def bpePairCounts(seg: DataFrame): DataFrame = {
    import seg.sparkSession.implicits._
    seg
      .select($"cnt",
        split(expr("substring(seg, 2, length(seg) - 2)"), "~~").as("syms"))
      .where(size($"syms") >= 2)
      .select($"cnt", explode(expr(
        """transform(sequence(1, size(syms) - 1),
           i -> struct(element_at(syms, i) AS l,
                       element_at(syms, i + 1) AS r))""")).as("p"))
      .groupBy($"p.l".as("l"), $"p.r".as("r"))
      .agg(sum($"cnt").as("n"))
  }

  /** DuckDB mirror of the q148/q151 training chain: the same
    * wrapped-symbol encoding, [[BpeRounds]] chained per-round CTE
    * triples (pair counts -> argmax -> replace), the word key `w`
    * riding through every w_r so the final segmentation stays
    * word-addressable (q151's encode join). Chained doubly-referenced
    * CTEs are the q89 l0..l4 precedent; all scalar state per round is
    * the ONE 1-row b_r CTE (the scalar-CTE planner discipline). */
  private def duckBpeCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (
          SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS n
          FROM (SELECT cnt, string_split(substr(seg, 2, length(seg)-2), '~~') AS syms
                FROM w${r - 1}) t, unnest(generate_series(1, len(syms)-1)) s(i)
          WHERE len(syms) >= 2
          GROUP BY 1, 2),
        b$r AS (SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1),
        w$r AS (
          SELECT w, replace(seg, '~' || b.l || '~~' || b.r || '~',
                            '~' || b.l || b.r || '~') AS seg, cnt
          FROM w${r - 1}, b$r b)"""
    }.mkString(",\n        ")
    s"""w0 AS (
          SELECT w, regexp_replace(w, '(.)', '~\\1~', 'g') AS seg,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
          WHERE length(w) > 0 GROUP BY w),
        $rounds"""
  }

  private def duckBpeOracle: String = {
    val union = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS INT) AS round, l AS lft, r AS rgt, n FROM b$r")
      .mkString("\n          UNION ALL ")
    s"""
        WITH $duckBpeCtes
        SELECT * FROM (
          $union
        ) ORDER BY round"""
  }

  val defs: Seq[Q] = Seq(

    // ---- Token statistics (whitespace tokens + BPE-ish regex tokens).
    Q("q46_text_tokens",
      (s, d) => Tables.sql(s, d, s"""
        SELECT doc_id,
          size(split(text, ' ')) AS n_tokens,
          size(array_distinct(split(text, ' '))) AS n_distinct,
          length(text) AS n_chars,
          ${r6s("length(replace(text, ' ', '')) / CAST(size(split(text, ' ')) AS DOUBLE)")} AS avg_tok_len,
          regexp_count(text, '[a-z]+') AS n_word_runs,
          regexp_count(text, '[0-9]+') AS n_num_runs
        FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),
      Some(s"""
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
          CAST(length(text) AS INT) AS n_chars,
          ${r6d("length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE)")} AS avg_tok_len,
          CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_word_runs,
          CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num_runs
        FROM documents WHERE doc_id < 100 ORDER BY doc_id""")),

    // ---- Vocabulary building (the tokenizer-training primitive): corpus
    // token frequencies → top-50 by count. Map-side-combined groupBy on
    // the token; the global rank runs over the vocabulary (bounded by
    // distinct tokens, not corpus size).
    Q("q95_vocab_topk",
      (s, d) => Tables.sql(s, d, """
        SELECT w, n, rank FROM (
          SELECT w, CAST(count(*) AS BIGINT) AS n,
            row_number() OVER (ORDER BY count(*) DESC, w ASC) AS rank
          FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
          GROUP BY w)
        WHERE rank <= 50 ORDER BY rank"""),
      Some("""
        SELECT w, n, rank FROM (
          SELECT w, CAST(count(*) AS BIGINT) AS n,
            CAST(row_number() OVER (ORDER BY count(*) DESC, w ASC) AS INT) AS rank
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
          GROUP BY w) r
        WHERE rank <= 50 ORDER BY rank""")),

    // ---- BPE tokenizer TRAINING (Sennrich et al. 2016) — the operator
    // q95's frequency vocab only gestures at: learn the merge table
    // itself. [[BpeRounds]] declared rounds (the q114 Lloyd's / q89 CC
    // fixed-round oracle discipline), each round =
    //   adjacent-pair count aggregate -> global argmax merge
    //   (count DESC, left ASC, right ASC tie-break) -> re-segmentation.
    //
    // Corpus touched ONCE: classic BPE trains on the word-frequency
    // table (Heaps'-law bounded — ~10^6-10^7 distinct words at 100 TB,
    // metadata next to the corpus), so every round's pair count is a
    // map-side-combined aggregate over the vocab, the argmax is a 1-row
    // TakeOrdered (collected like lloyd2's centroids — THE index
    // artifact), and the merge is a map-only literal replace over the
    // vocab. Nothing rescans documents after the initial word count.
    //
    // Greedy left-to-right merge via the WRAPPED-SYMBOL encoding: a
    // segmentation [s1..sk] is stored as '~s1~~s2~..~sk~' (every symbol
    // wrapped in '~', a char outside the corpus alphabet), and merging
    // (l, r) is replace(seg, '~l~~r~', '~lr~'). Literal replace is
    // left-to-right non-overlapping in BOTH engines, and because each
    // boundary carries TWO delimiter chars (one owned by each side), a
    // match consumes only its own — '~a~~a~~a~' + (a,a) -> '~aa~~a~',
    // exactly BPE's greedy scan where a freshly merged token does not
    // re-participate in the same round. Full-wrap also makes matches
    // exact-symbol (no prefix aliasing: (a,ab) cannot fire inside
    // '~a~~abc~'). BpeSpec proves replace == the list-fold reference
    // merge and that round r+1's pair counts reflect round r's merge;
    // PropertySpec property-checks the kernel on adversarial runs.
    Q("q148_bpe_train",
      (s, d) => {
        import s.implicits._
        bpeTrainPublish(s, d)._1.toDF("round", "lft", "rgt", "n").orderBy($"round")
      },
      Some(duckBpeOracle)),

    // ---- BPE tokenizer ENCODE (the apply half of the q148/q151
    // train/apply pair): segment the corpus with the trained merge
    // table and report per-doc whitespace-token vs BPE-token counts —
    // the operator a data pipeline runs to cost documents against a
    // token budget under the REAL tokenizer rather than the
    // whitespace proxy (q138's input, one level more faithful).
    //
    // Production shape: encoding never touches the merge loop — the
    // trained vocab (word → final segmentation, Heaps-bounded) is a
    // BROADCAST dim, and the corpus pays one explode + broadcast
    // equi-join + per-doc map-side-combined sum. The oracle re-derives
    // the identical vocab through the shared training CTE chain and
    // joins it the same way.
    Q("q151_bpe_encode",
      (s, d) => {
        import s.implicits._
        val vocab = bpeTrainShared(s, d)._2
          .select($"w", size(split(
            expr("substring(seg, 2, length(seg) - 2)"), "~~"))
            .cast("long").as("n_sym"))
        Tables.t(s, d, "documents")
          .select($"doc_id", explode(split($"text", " ")).as("w"))
          .where(length($"w") > 0)
          .join(broadcast(vocab), "w")
          .groupBy($"doc_id")
          .agg(count(lit(1)).cast("long").as("n_words"),
            sum($"n_sym").as("n_bpe"))
          .withColumn("tokens_per_word_ppm",
            expr("n_bpe * 1000000L DIV n_words"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $duckBpeCtes,
        enc AS (
          SELECT w, CAST(len(string_split(substr(seg, 2, length(seg)-2),
                                          '~~')) AS BIGINT) AS n_sym
          FROM w$BpeRounds),
        dw AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents)
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(n_sym) AS BIGINT) AS n_bpe,
          CAST(sum(n_sym) AS BIGINT) * 1000000 // count(*) AS tokens_per_word_ppm
        FROM dw JOIN enc USING (w)
        WHERE length(w) > 0
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- BPE VOCABULARY (the artifact between train and encode): the
    // distinct subword symbols of the trained segmentation, with
    // corpus-weighted occurrence counts and frequency-ranked token ids
    // — what a tokenizer ships as vocab.json. The symbol universe is
    // bounded (initial alphabet + one new symbol per merge round), so
    // the id-assigning global window runs over metadata, the q95
    // vocabulary precedent; the corpus itself was already reduced to
    // the word-frequency table by training.
    Q("q152_bpe_vocab",
      (s, d) => {
        import s.implicits._
        bpeTrainShared(s, d)._2
          .select($"cnt", explode(split(
            expr("substring(seg, 2, length(seg) - 2)"), "~~")).as("sym"))
          .groupBy($"sym")
          .agg(sum($"cnt").as("n_occ"))
          .select(
            (row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy($"n_occ".desc, $"sym")) - 1).as("tok_id"),
            $"sym", $"n_occ")
          .orderBy($"tok_id")
      },
      Some(s"""
        WITH $duckBpeCtes,
        sy AS (
          SELECT unnest(string_split(substr(seg, 2, length(seg)-2),
                                     '~~')) AS sym, cnt
          FROM w$BpeRounds),
        ag AS (
          SELECT sym, CAST(sum(cnt) AS BIGINT) AS n_occ
          FROM sy GROUP BY sym)
        SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, sym) - 1 AS INT)
                 AS tok_id,
               sym, n_occ
        FROM ag ORDER BY tok_id""")),

    // ---- Tokenizer compression EVAL (the metric a tokenizer-training
    // run actually reports — bytes/token and tokens/word, per source):
    // encode the corpus with the q148-trained segmentation (the q151
    // broadcast-vocab join) and aggregate the compression ratios per
    // source in exact integer ppm. chars == bytes on this corpus
    // (single-byte charset, the declared q143 convention), so
    // chars_per_token_ppm IS the bytes-per-token figure tokenizer
    // papers quote; a source whose ratio lags the corpus is the one a
    // curation pass flags for vocab mismatch. Shapes: the vocab is
    // Heaps-bounded metadata (broadcast); one corpus explode + join +
    // two map-side-combined aggregates — linear, no all-pairs.
    Q("q166_bpe_compression",
      (s, d) => {
        import s.implicits._
        val vocab = bpeTrainShared(s, d)._2
          .select($"w", size(split(
            expr("substring(seg, 2, length(seg) - 2)"), "~~"))
            .cast("long").as("n_sym"))
        val perDoc = Tables.t(s, d, "documents")
          .select($"doc_id", explode(split($"text", " ")).as("w"))
          .where(length($"w") > 0)
          .join(broadcast(vocab), "w")
          .groupBy($"doc_id")
          .agg(count(lit(1)).cast("long").as("nw"), sum($"n_sym").as("nb"))
        Tables.t(s, d, "documents")
          .select($"doc_id", $"source", length($"text").cast("long").as("nc"))
          .join(perDoc, "doc_id")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"nw").as("n_words"), sum($"nb").as("n_bpe"),
            sum($"nc").as("n_chars"))
          .withColumn("chars_per_token_ppm",
            expr("n_chars * 1000000L DIV n_bpe"))
          .withColumn("tokens_per_word_ppm",
            expr("n_bpe * 1000000L DIV n_words"))
          .orderBy($"source")
      },
      Some(s"""
        WITH $duckBpeCtes,
        vocab AS (
          SELECT w, CAST(len(string_split(substr(seg, 2, length(seg)-2),
                                          '~~')) AS BIGINT) AS n_sym
          FROM w$BpeRounds),
        tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        pd AS (
          SELECT t.doc_id, CAST(count(*) AS BIGINT) AS nw,
            CAST(sum(v.n_sym) AS BIGINT) AS nb
          FROM tok t JOIN vocab v ON t.w = v.w
          WHERE length(t.w) > 0 GROUP BY t.doc_id)
        SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(pd.nw) AS BIGINT) AS n_words,
          CAST(sum(pd.nb) AS BIGINT) AS n_bpe,
          CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
          CAST(sum(length(d.text)) AS BIGINT) * 1000000
            // CAST(sum(pd.nb) AS BIGINT) AS chars_per_token_ppm,
          CAST(sum(pd.nb) AS BIGINT) * 1000000
            // CAST(sum(pd.nw) AS BIGINT) AS tokens_per_word_ppm
        FROM documents d JOIN pd ON d.doc_id = pd.doc_id
        GROUP BY d.source ORDER BY d.source""")),

    // ---- Feature hashing (the hashing-trick vectorizer): token → one of
    // 64 buckets via the portable 60-bit md5 hash, per-doc bucket counts
    // as a sparse vector. No vocabulary state at all — the property that
    // makes it the scale path for featurization.
    Q("q96_feature_hashing",
      (s, d) => Tables.sql(s, d, """
        SELECT doc_id,
          md5_60(w) % 64 AS bucket,
          count(*) AS cnt
        FROM (SELECT doc_id, explode(split(text, ' ')) AS w
              FROM documents WHERE doc_id < 50)
        GROUP BY doc_id, 2
        ORDER BY doc_id, bucket"""),
      Some("""
        SELECT doc_id,
          ('0x' || substr(md5(w), 2, 15))::BIGINT % 64 AS bucket,
          count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id < 50) t
        GROUP BY doc_id, bucket
        ORDER BY doc_id, bucket""")),

    // ---- Quality scoring: stopword ratio, repetition, length band.
    Q("q47_text_quality",
      (s, d) => Tables.sql(s, d, s"""
        SELECT doc_id,
          n_stop, n_tok,
          CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
          CAST(n_distinct AS DOUBLE) / n_tok AS uniq_ratio,
          CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END AS len_ok,
          ${r6s("(CAST(n_stop AS DOUBLE) / n_tok) * 0.3 " +
            "+ (CAST(n_distinct AS DOUBLE) / n_tok) * 0.5 " +
            "+ (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END) * 0.2")} AS quality
        FROM (
          SELECT doc_id,
            size(filter(split(text, ' '), w -> w IN ${sqlList(stopwords)})) AS n_stop,
            size(split(text, ' ')) AS n_tok,
            size(array_distinct(split(text, ' '))) AS n_distinct,
            length(text) AS n_chars
          FROM documents)
        ORDER BY doc_id"""),
      Some(s"""
        SELECT doc_id,
          n_stop, n_tok,
          CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
          CAST(n_distinct AS DOUBLE) / n_tok AS uniq_ratio,
          CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END AS len_ok,
          ${r6d("(CAST(n_stop AS DOUBLE) / n_tok) * 0.3 " +
            "+ (CAST(n_distinct AS DOUBLE) / n_tok) * 0.5 " +
            "+ (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END) * 0.2")} AS quality
        FROM (
          SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ${sqlList(stopwords)})) AS INT) AS n_stop,
            CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
            CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
            CAST(length(text) AS INT) AS n_chars
          FROM documents) t
        ORDER BY doc_id""")),

    // ---- Language ID: marker-token scoring (n-gram-profile heuristic).
    // The corpus vocabulary is synthetic English-ish, so the interesting
    // output is the deterministic score vector, not real-world accuracy.
    Q("q48_text_langid",
      (s, d) => Tables.sql(s, d, """
        SELECT doc_id, lang AS labeled_lang,
          s_en, s_de, s_fr,
          CASE
            WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS detected,
          CASE WHEN (CASE
            WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END) = lang THEN 1 ELSE 0 END AS agree
        FROM (
          SELECT doc_id, lang,
            size(filter(split(text, ' '), w -> w IN ('the','a','is','and','of'))) AS s_en,
            size(filter(split(text, ' '), w -> w IN ('der','die','das','und','ist'))) AS s_de,
            size(filter(split(text, ' '), w -> w IN ('le','la','et','est','de'))) AS s_fr
          FROM documents)
        WHERE doc_id < 100
        ORDER BY doc_id"""),
      Some("""
        SELECT doc_id, lang AS labeled_lang,
          s_en, s_de, s_fr,
          CASE
            WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS detected,
          CASE WHEN (CASE
            WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END) = lang THEN 1 ELSE 0 END AS agree
        FROM (
          SELECT doc_id, lang,
            CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ('the','a','is','and','of'))) AS INT) AS s_en,
            CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ('der','die','das','und','ist'))) AS INT) AS s_de,
            CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ('le','la','et','est','de'))) AS INT) AS s_fr
          FROM documents) t
        WHERE doc_id < 100
        ORDER BY doc_id""")),

    // ---- Document fingerprinting: order-insensitive content digest +
    // order-sensitive polynomial rolling hash over the token stream.
    Q("q49_text_fingerprint",
      (s, d) => Tables.sql(s, d, s"""
        SELECT doc_id,
          md5(concat_ws(' ', array_sort(array_distinct(split(text, ' '))))) AS set_digest,
          aggregate(
            transform(split(text, ' '),
              w -> md5_60(w) % $P31),
            CAST(0 AS BIGINT),
            (acc, x) -> (acc * 31 + x) % $P31) AS roll_hash
        FROM documents WHERE doc_id < 200 ORDER BY doc_id"""),
      Some(s"""
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS set_digest,
          CAST(list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(text, ' '),
                w -> ('0x' || substr(md5(w), 2, 15))::BIGINT % $P31)),
            (acc, x) -> (acc * 31 + x) % $P31) AS BIGINT) AS roll_hash
        FROM documents WHERE doc_id < 200 ORDER BY doc_id""")),

    // ---- Multimodal: binary column + partition-wise decode through the
    // stubbed codec (graft.operators.Multimodal). Real plumbing: binary
    // encoding, typed Dataset, mapPartitions batching.
    Q("q50_multimodal_meta",
      (s, d) => {
        import s.implicits._
        Tables.t(s, d, "documents")
          .select($"doc_id", encode($"text", "UTF-8").as("blob"))
          .as[(Long, Array[Byte])]
          .mapPartitions(Multimodal.decodePartition)
          .toDF()
          .select($"doc_id", $"n_bytes", $"magic", $"fake_width", $"fake_height")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
          CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          upper(hex(encode(substr(text, 1, 4)))) AS magic,
          CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
          CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height
        FROM documents ORDER BY doc_id""")),

    // ---- Multimodal frame pipeline: frame-sample → resize →
    // feature-extract over the binary blob (graft.operators.Multimodal),
    // REAL byte transforms (every 4th 16-byte frame, crop/pad to 8,
    // byte-energy + md5 over the resized frames). The corpus is ASCII so
    // the DuckDB oracle expresses identical byte math on the text.
    Q("q94_multimodal_frames",
      (s, d) => {
        import s.implicits._
        Tables.t(s, d, "documents")
          .filter($"doc_id" < 200)
          .select($"doc_id", encode($"text", "UTF-8").as("blob"))
          .as[(Long, Array[Byte])]
          .mapPartitions(Multimodal.framePartition)
          .toDF()
          .select($"doc_id", $"n_frames", $"energy", $"frame_digest")
          .orderBy($"doc_id")
      },
      Some("""
        WITH f AS (
          SELECT doc_id, j,
            rpad(substr(substr(text, 1 + 16*j, 16), 1, 8), 8, ' ') AS fr
          FROM documents, generate_series(0, 799) t(j)
          WHERE doc_id < 200 AND 1 + 16*j <= length(text) AND j % 4 = 0),
        e AS (
          SELECT doc_id, j, fr,
            (SELECT sum(ascii(substr(fr, i, 1)))
             FROM generate_series(1, 8) s(i)) AS fe
          FROM f)
        SELECT doc_id,
          CAST(count(*) AS INT) AS n_frames,
          CAST(sum(fe) AS BIGINT) AS energy,
          md5(string_agg(fr, '' ORDER BY j)) AS frame_digest
        FROM e GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Audio-envelope signature: the multimodal family's SECOND
    // modality shape (1-D framed signal analysis vs the image-grid
    // dHash): 32-sample windows at hop 16 (50% overlap, standard STFT
    // framing), per-frame integer energy + zero-crossing count over
    // centered samples (byte − 64), per-doc envelope digest. Runs in
    // the q94 mapPartitions codec seam (operators/Multimodal
    // .audioFeatures — a real decoder swaps raw bytes for PCM, the
    // framing math is unchanged); the corpus is ASCII so the DuckDB
    // oracle expresses the identical byte math via substr/ascii (the
    // q94 convention: fixed series bound 799 ≫ the longest corpus doc
    // at any SF, with the frame-fits WHERE doing the real bounding).
    // The length >= 32 filter (full-frames-only, declared) is pushed
    // to the scan on both sides.
    Q("q150_audio_envelope",
      (s, d) => {
        import s.implicits._
        Tables.t(s, d, "documents")
          .filter($"doc_id" < 200 && length($"text") >= 32)
          .select($"doc_id", encode($"text", "UTF-8").as("blob"))
          .as[(Long, Array[Byte])]
          .mapPartitions(Multimodal.audioPartition)
          .toDF()
          .select($"doc_id", $"n_frames", $"energy", $"zc", $"peak",
            $"env_digest")
          .orderBy($"doc_id")
      },
      Some("""
        WITH s AS (
          SELECT doc_id, k, i,
            ascii(substr(text, 1 + 16*k + i, 1)) - 64 AS c,
            CASE WHEN i < 31
                 THEN ascii(substr(text, 2 + 16*k + i, 1)) - 64 END AS cn
          FROM documents, generate_series(0, 799) t(k),
               generate_series(0, 31) u(i)
          WHERE doc_id < 200 AND 16 * k + 32 <= length(text)),
        fr AS (
          SELECT doc_id, k,
            CAST(sum(c * c) AS BIGINT) AS fe,
            CAST(sum(CASE WHEN cn IS NOT NULL AND c * cn < 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS zc
          FROM s GROUP BY doc_id, k)
        SELECT doc_id,
          CAST(count(*) AS INT) AS n_frames,
          CAST(sum(fe) AS BIGINT) AS energy,
          CAST(sum(zc) AS BIGINT) AS zc,
          CAST(max(fe) AS BIGINT) AS peak,
          md5(string_agg(CAST(fe AS VARCHAR), ',' ORDER BY k)) AS env_digest
        FROM fr GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Multimodal perceptual near-dup: dHash over the sampled-frame
    // grid (operators/Multimodal.dHash — the q94 frame bytes reduced to
    // a 9×8 grid, 63-bit adjacent-byte difference hash), then hamming<=2
    // pairs via the SimHash pigeonhole chunk-blocking (q43,
    // queries/Dedup.scala), here 3 chunks of 21 bits: hamming<=2 forces
    // >=1 identical 21-bit chunk, so the (chunk, value) equi-join has
    // 100% recall while the 2^21-value chunk space keeps buckets tiny —
    // Σ bucket² pair work, the only pair-generation shape that survives
    // millions of media blobs. τ=2 is measured from the corpus: the true
    // shared-prefix near-dups land at hamming 0-2, background noise
    // starts at 3. The signature is the native codegen expression
    // functions.DHash63 (r13): post-decode signature math is pure
    // arithmetic, so the whole scan → signature stage stays inside one
    // WholeStageCodegen span with no object-serialization boundary (the
    // DECODE step a real media pipeline needs stays in the q50/q94
    // mapPartitions codec seam; the streaming twin shares the identical
    // JVM kernel).
    Q("q143_dhash_neardup",
      (s, d) => dhashPairs(s, d).orderBy(col("d1"), col("d2")),
      Some(s"""
        WITH $DuckDhashPairs
        SELECT d1, d2, hamming FROM dpairs ORDER BY d1, d2""")),

    // ---- Perceptual dedup MAP: connected components over the q143 pair
    // graph (the shared operators/ConnectedComponents kernel applied to
    // media blobs — 4 declared min-label rounds, each one equi-join +
    // min-aggregate on the edge key, all in one linear-lineage query;
    // NOTE: on this graph the declared 4 rounds are genuinely a
    // declared approximation — hamming-chained components can exceed
    // diameter 4 (ConnectedComponentsSpec pins a natural sf0.001
    // witness), which is exactly why the production posture is the
    // convergence-checked ConnectedComponents.fixpoint — SCALE.md
    // §"CC convergence"),
    // emitting the actionable artifact a media ingest needs: for every
    // blob that loses its component, the surviving representative
    // (component min id) it deduplicates to. Blobs in no pair are
    // implicitly kept.
    Q("q147_dhash_keep",
      (s, d) => {
        import s.implicits._
        graft.operators.ConnectedComponents
          .minLabelRounds(dhashPairsShared(s, d, publish = true), 4)
          .filter($"lbl" =!= $"doc_id")
          .select($"doc_id", $"lbl".as("kept_as"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $DuckDhashCcCtes
        SELECT doc_id, lbl AS kept_as FROM l4
        WHERE lbl <> doc_id ORDER BY doc_id""")),

    // ---- LEAKAGE-SAFE TRAIN/EVAL SPLIT: the holdout rule every
    // training pipeline needs but naive per-doc hashing breaks — a
    // near-duplicate of a training doc in the eval set inflates eval
    // scores (memorization reads as generalization). The split key is
    // the doc's near-dup CLUSTER REPRESENTATIVE (q147's 4-round
    // min-label CC over the dHash pair graph; singletons represent
    // themselves), so every member of a cluster lands on the SAME side
    // by construction: md5_60("split1:" || rep) % 100 ≥ 90 → eval.
    // Deliverable = the full (doc_id, rep, split) assignment. Shapes at
    // 100 TB: the CC is q147's audited bounded-round kernel; the split
    // itself is a stateless map over rep — no shuffle beyond the CC's
    // own, membership survives corpus growth exactly like q123's
    // hash-threshold split.
    Q("q181_leakage_safe_split",
      (s, d) => {
        import s.implicits._
        val lbl = graft.operators.ConnectedComponents
          .minLabelRounds(dhashPairsShared(s, d), 4)
          .select($"doc_id", $"lbl")
        Tables.t(s, d, "documents").select($"doc_id")
          .join(lbl, Seq("doc_id"), "left_outer")
          .withColumn("rep", coalesce($"lbl", $"doc_id"))
          .withColumn("split", expr(
            s"""CASE WHEN md5_60(concat('split1:', CAST(rep AS STRING)))
                  % 100 < ${100 - HoldoutPct}
                THEN 'train' ELSE 'eval' END"""))
          .select($"doc_id", $"rep", $"split")
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $DuckDhashCcCtes,
        rep AS (
          SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS rep
          FROM documents d LEFT JOIN l4 l ON d.doc_id = l.doc_id)
        SELECT doc_id, rep,
          CASE WHEN ('0x' || substr(md5('split1:' || rep), 2, 15))::BIGINT
                 % 100 < ${100 - HoldoutPct}
               THEN 'train' ELSE 'eval' END AS split
        FROM rep ORDER BY doc_id""")),

    // ---- SOFT DEDUP SAMPLING WEIGHTS: the gentler alternative to
    // q147's hard removal — keep every near-duplicate but down-weight
    // its sampling probability by its cluster size (weight_ppm =
    // 10⁶ DIV |cluster|), so a document duplicated k× contributes ~one
    // document's worth of expected training mass instead of k (the
    // repetition-harm result dedup exists for), while unique wording
    // variants still contribute their diversity. Clusters are q147's
    // bounded-round CC over the dHash pair graph; singletons weigh
    // 10⁶. Shapes at 100 TB: the CC is the audited kernel; the size is
    // ONE map-side-combined count per representative joined back on
    // rep — no new pairwise stage anywhere.
    Q("q183_softdedup_weights",
      (s, d) => {
        import s.implicits._
        val lbl = graft.operators.ConnectedComponents
          .minLabelRounds(dhashPairsShared(s, d), 4)
          .select($"doc_id", $"lbl")
        val rep = Tables.t(s, d, "documents").select($"doc_id")
          .join(lbl, Seq("doc_id"), "left_outer")
          .withColumn("rep", coalesce($"lbl", $"doc_id"))
          .select($"doc_id", $"rep")
        val csize = rep.groupBy($"rep")
          .agg(count(lit(1)).as("csize"))
        rep.join(csize, Seq("rep"))
          .select($"doc_id", $"rep", $"csize",
            expr("1000000L DIV csize").as("weight_ppm"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $DuckDhashCcCtes,
        rep AS (
          SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS rep
          FROM documents d LEFT JOIN l4 l ON d.doc_id = l.doc_id),
        cs AS (
          SELECT rep, CAST(count(*) AS BIGINT) AS csize
          FROM rep GROUP BY rep)
        SELECT r.doc_id, r.rep, cs.csize,
          1000000 // cs.csize AS weight_ppm
        FROM rep r JOIN cs USING (rep)
        ORDER BY r.doc_id""")),

    // ---- PageRank centrality over the perceptual near-dup graph: rank
    // the documents of the q143 pair graph by how central they sit in
    // their near-dup neighbourhood — the "pick the canonical
    // representative" signal beyond q147's arbitrary min-label
    // survivor (a hub duplicated by many variants outranks each
    // variant). Fixed PageRankRounds rounds of the exact-integer ppm
    // update pr' = 150000 + (85·Σ floor-shares) DIV 100 (damping 85/100
    // as exact rationals; see operators/PageRank.scala for the declared
    // floor semantics and the no-dangling-mass argument — symmetric
    // graph, deg ≥ 1 everywhere). Shapes: degrees fold into the cached
    // edge frame once; each round = ONE equi-join + map-side-combined
    // sum per destination, linear in |edges| — a CC round's cost
    // envelope, lineage-truncated per round.
    Q("q162_pagerank_centrality",
      (s, d) => {
        import s.implicits._
        graft.operators.PageRank.rounds(dhashEdges(s, d), PageRankRounds)
          .select($"doc_id", $"deg", $"pr".as("pr_ppm"))
          .orderBy($"pr_ppm".desc, $"doc_id")
          .limit(20)
      },
      Some(s"""
        WITH $DuckDhashPairs,
        $DuckPageRankCtes
        SELECT p.u AS doc_id, deg.deg AS deg, CAST(p.pr AS BIGINT) AS pr_ppm
        FROM p$PageRankRounds p JOIN deg ON p.u = deg.u
        ORDER BY pr_ppm DESC, doc_id LIMIT 20""")),

    // ---- Statistical aggregate family (stddev/var/corr/covar/regr).
    Q("q51_stats_agg",
      (s, d) => Tables.sql(s, d, s"""
        SELECT l_returnflag,
          ${r6s("stddev_samp(l_quantity)")} AS sd_s,
          ${r6s("stddev_pop(l_quantity)")} AS sd_p,
          ${r6s("var_samp(l_quantity)")} AS var_s,
          ${r6s("var_pop(l_quantity)")} AS var_p,
          ${r6s("corr(l_quantity, floor(l_discount * 100 + 0.5))")} AS cr,
          ${r6s("covar_samp(l_quantity, floor(l_discount * 100 + 0.5))")} AS cv_s,
          ${r6s("covar_pop(l_quantity, floor(l_discount * 100 + 0.5))")} AS cv_p,
          ${r6s("regr_slope(l_quantity, floor(l_discount * 100 + 0.5))")} AS slope,
          ${r6s("regr_intercept(l_quantity, floor(l_discount * 100 + 0.5))")} AS icept,
          ${r6s("regr_r2(l_quantity, floor(l_discount * 100 + 0.5))")} AS r2,
          regr_count(l_quantity, l_discount) AS n
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      Some(s"""
        SELECT l_returnflag,
          ${r6d("stddev_samp(l_quantity)")} AS sd_s,
          ${r6d("stddev_pop(l_quantity)")} AS sd_p,
          ${r6d("var_samp(l_quantity)")} AS var_s,
          ${r6d("var_pop(l_quantity)")} AS var_p,
          ${r6d("corr(l_quantity, floor(l_discount * 100 + 0.5))")} AS cr,
          ${r6d("covar_samp(l_quantity, floor(l_discount * 100 + 0.5))")} AS cv_s,
          ${r6d("covar_pop(l_quantity, floor(l_discount * 100 + 0.5))")} AS cv_p,
          ${r6d("regr_slope(l_quantity, floor(l_discount * 100 + 0.5))")} AS slope,
          ${r6d("regr_intercept(l_quantity, floor(l_discount * 100 + 0.5))")} AS icept,
          ${r6d("regr_r2(l_quantity, floor(l_discount * 100 + 0.5))")} AS r2,
          CAST(regr_count(l_quantity, l_discount) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- Exact percentiles / median / deterministic mode.
    Q("q52_percentiles",
      (s, d) => Tables.sql(s, d, s"""
        WITH stats AS (
          SELECT l_linestatus,
            ${r6s("percentile(l_quantity, 0.25)")} AS p25,
            ${r6s("percentile(l_quantity, 0.5)")} AS p50,
            ${r6s("percentile(l_quantity, 0.75)")} AS p75,
            ${r6s("median(l_quantity)")} AS med
          FROM lineitem GROUP BY l_linestatus),
        counts AS (
          SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q, count(*) AS c
          FROM lineitem GROUP BY 1, 2),
        modes AS (
          SELECT l_linestatus, q AS mode_qty FROM (
            SELECT l_linestatus, q, row_number() OVER (
              PARTITION BY l_linestatus ORDER BY c DESC, q ASC) AS rn
            FROM counts) WHERE rn = 1)
        SELECT s.l_linestatus, p25, p50, p75, med, mode_qty
        FROM stats s JOIN modes USING (l_linestatus)
        ORDER BY l_linestatus"""),
      Some(s"""
        WITH stats AS (
          SELECT l_linestatus,
            ${r6d("quantile_cont(l_quantity, 0.25)")} AS p25,
            ${r6d("quantile_cont(l_quantity, 0.5)")} AS p50,
            ${r6d("quantile_cont(l_quantity, 0.75)")} AS p75,
            ${r6d("quantile_cont(l_quantity, 0.5)")} AS med
          FROM lineitem GROUP BY l_linestatus),
        counts AS (
          SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q, count(*) AS c
          FROM lineitem GROUP BY 1, 2),
        modes AS (
          SELECT l_linestatus, q AS mode_qty FROM (
            SELECT l_linestatus, q, row_number() OVER (
              PARTITION BY l_linestatus ORDER BY c DESC, q ASC) AS rn
            FROM counts) t WHERE rn = 1)
        SELECT s.l_linestatus, p25, p50, p75, med, mode_qty
        FROM stats s JOIN modes USING (l_linestatus)
        ORDER BY l_linestatus""")),

    // ---- Approximate sketches: engine-specific algorithms, so the sketch
    // values themselves can't cross-engine hash-match — instead the gate
    // checks (a) the exact companion column and (b) sketch error bounds
    // normalized to booleans (HLL at rsd=0.01 gated at ±5% — 5σ headroom,
    // so the boolean can't flip at a different SF; approx-median within
    // exact min/max):
    // a real oracle over everything DuckDB can deterministically verify.
    // ScalaTest additionally bounds the raw sketch error.
    // (sketches and exact-distinct are aggregated separately and joined:
    // mixing them in one aggregate forces a row-expanding distinct rewrite
    // that drags the sketch buffers through the expanded stream — ~10x
    // slower at sf0.1)
    Q("q53_approx_sketches",
      (s, d) => Tables.sql(s, d, """
        WITH ap AS (
          SELECT l_returnflag,
            approx_count_distinct(l_partkey, 0.01) AS approx_parts,
            approx_percentile(l_extendedprice, 0.5) AS approx_median_price
          FROM lineitem GROUP BY l_returnflag),
        ex AS (
          SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
            min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
          FROM lineitem GROUP BY l_returnflag)
        SELECT ap.l_returnflag, exact_parts,
          abs(CAST(approx_parts AS DOUBLE) / exact_parts - 1.0) <= 0.05
            AS cd_within_5pct,
          approx_median_price BETWEEN min_price AND max_price
            AS median_in_range
        FROM ap JOIN ex USING (l_returnflag)
        ORDER BY l_returnflag"""),
      Some("""
        SELECT l_returnflag,
          count(DISTINCT l_partkey) AS exact_parts,
          true AS cd_within_5pct,
          true AS median_in_range
        FROM lineitem GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ---- Mergeable HLL sketch union (Apache DataSketches via Spark's
    // hll_sketch_agg/hll_union_agg): THE scale architecture for distinct
    // counting across shards — each shard aggregates an O(1)-size sketch
    // locally and only sketches move for the union, so a 1000-executor
    // global distinct costs one metadata-sized merge instead of a
    // corpus-wide exchange of keys (count(DISTINCT) reshuffles every
    // value). Checked like q53: estimates become tolerance booleans the
    // oracle pins to true, plus a mergeability check — the union of
    // per-shard sketches must estimate within 2% of one direct sketch
    // over all rows (HLL union is a register-wise max, but the union
    // gadget's internal representation is not bit-identical to a
    // directly built sketch, so closeness is the honest contract) — so
    // a hash-exact compare still verifies the sketch path end-to-end.
    Q("q124_sketch_union",
      (s, d) => Tables.sql(s, d, """
        WITH sk AS (
          SELECT lang, hll_sketch_agg(doc_id) AS sk,
            count(DISTINCT doc_id) AS exact_docs
          FROM documents GROUP BY lang),
        uni AS (
          SELECT hll_sketch_estimate(hll_union_agg(sk)) AS union_est,
            sum(exact_docs) AS exact_total
          FROM sk),
        direct AS (
          SELECT hll_sketch_estimate(hll_sketch_agg(doc_id)) AS direct_est
          FROM documents)
        SELECT lang, exact_docs,
          abs(CAST(hll_sketch_estimate(sk) AS DOUBLE) / exact_docs - 1.0)
            <= 0.05 AS lang_within_5pct,
          abs(CAST((SELECT union_est FROM uni) AS DOUBLE)
            / (SELECT direct_est FROM direct) - 1.0) <= 0.02
            AS merge_close,
          abs(CAST((SELECT union_est FROM uni) AS DOUBLE)
            / (SELECT exact_total FROM uni) - 1.0) <= 0.05
            AS union_within_5pct
        FROM sk
        ORDER BY lang"""),
      Some("""
        SELECT lang, count(DISTINCT doc_id) AS exact_docs,
          true AS lang_within_5pct, true AS merge_close,
          true AS union_within_5pct
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- Text normalization (the cleaning stage every corpus pipeline
    // runs first): lowercase, strip punctuation, collapse whitespace,
    // trim — with a digest of the normalized form for downstream dedup.
    Q("q84_text_normalize",
      (s, d) => Tables.sql(s, d, """
        SELECT doc_id,
          substr(norm, 1, 60) AS norm_head,
          length(norm) AS norm_len,
          md5(norm) AS norm_digest,
          CASE WHEN norm = text THEN 1 ELSE 0 END AS unchanged
        FROM (
          SELECT doc_id, text,
            trim(regexp_replace(
              regexp_replace(lower(text), '[^a-z0-9 ]', ' '),
              ' +', ' ')) AS norm
          FROM documents)
        WHERE doc_id < 150
        ORDER BY doc_id"""),
      Some("""
        SELECT doc_id,
          substr(norm, 1, 60) AS norm_head,
          CAST(length(norm) AS INT) AS norm_len,
          md5(norm) AS norm_digest,
          CASE WHEN norm = text THEN 1 ELSE 0 END AS unchanged
        FROM (
          SELECT doc_id, text,
            trim(regexp_replace(
              regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
              ' +', ' ', 'g')) AS norm
          FROM documents) t
        WHERE doc_id < 150
        ORDER BY doc_id""")),

    // ---- End-to-end training-data pipeline: the operators composed into
    // the actual use case. corpus (with planted dups) → exact dedup →
    // near-dup removal (jaccard pairs, drop the higher doc_id) → quality
    // + language gate → per-language corpus stats. Every stage is one of
    // the oracle-proven operators above, so the whole pipeline stays
    // hash-deterministic.
    Q("q81_pipeline_e2e",
      (s, d) => {
        // r22 (guide §5, same finding as q135/q137): Spark inlines
        // multiply-referenced CTEs, and column pruning then specializes
        // each copy so exchange reuse can't dedupe them — the exact-dedup
        // subtree ran once per `docs` reference and the shingle pipeline
        // once per `sh` reference. Materialize both as cached temp views
        // (the SQL text of each stage is unchanged; same rows, same
        // types); every stage executes exactly once.
        Tables.sql(s, d, s"""
          WITH corpus AS (
            SELECT doc_id, text, lang FROM documents
            UNION ALL
            SELECT doc_id + 10000, text, lang FROM documents WHERE doc_id < 100),
          exact_kept AS (
            SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text))
          SELECT c.doc_id, c.text, c.lang
          FROM corpus c JOIN exact_kept k ON c.doc_id = k.doc_id""")
          .cache().createOrReplaceTempView("q81_docs")
        s.sql(s"""
          WITH sh00 AS (
            SELECT doc_id, explode(word_ngram_md5_60(text, 3)) AS h
            FROM q81_docs),
          -- one h exchange serves the distinct and the df window
          -- (subset-clustering, the q42 shingle discipline); the hint
          -- block sits BELOW the distinct so the repartition lands
          -- before it
          shr AS (SELECT /*+ REPARTITION(h) */ doc_id, h FROM sh00),
          sh0 AS (SELECT DISTINCT doc_id, h FROM shr)
          SELECT doc_id, h FROM (
            SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM sh0)
          WHERE df <= ${Dedup.MaxShingleDf}""")
          .cache().createOrReplaceTempView("q81_sh")
        s.sql("""
          WITH sizes AS (SELECT doc_id, count(*) AS n FROM q81_sh GROUP BY doc_id),
          pairs AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM q81_sh a JOIN q81_sh b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
          near_dropped AS (
            SELECT DISTINCT d2 AS doc_id
            FROM pairs
            JOIN sizes s1 ON d1 = s1.doc_id
            JOIN sizes s2 ON d2 = s2.doc_id
            WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.8),
          survivors AS (
            SELECT doc_id, text, lang,
              size(split(text, ' ')) AS n_tok,
              size(array_distinct(split(text, ' '))) AS n_distinct
            FROM q81_docs
            WHERE doc_id NOT IN (SELECT doc_id FROM near_dropped)),
          gated AS (
            SELECT * FROM survivors
            WHERE CAST(n_distinct AS DOUBLE) / n_tok >= 0.3
              AND length(text) >= 100)
          SELECT lang,
            count(*) AS n_docs,
            CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
            CAST(min(doc_id) AS BIGINT) AS first_doc
          FROM gated
          GROUP BY lang ORDER BY lang""") },
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text, lang FROM documents
          UNION ALL
          SELECT doc_id + 10000, text, lang FROM documents WHERE doc_id < 100),
        exact_kept AS (
          SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        docs AS (
          SELECT c.doc_id, c.text, c.lang
          FROM corpus c JOIN exact_kept k ON c.doc_id = k.doc_id),
        sh0 AS (
          SELECT DISTINCT doc_id,
            ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 2, 15))::BIGINT AS h
          FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs) t0) t1
          WHERE i <= len(w) - 2),
        sh AS (
          SELECT doc_id, h FROM (
            SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM sh0) t2
          WHERE df <= ${Dedup.MaxShingleDf}),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        near_dropped AS (
          SELECT DISTINCT d2 AS doc_id
          FROM pairs
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.8),
        survivors AS (
          SELECT doc_id, text, lang,
            CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
            CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct
          FROM docs
          WHERE doc_id NOT IN (SELECT doc_id FROM near_dropped)),
        gated AS (
          SELECT * FROM survivors
          WHERE CAST(n_distinct AS DOUBLE) / n_tok >= 0.3
            AND length(text) >= 100)
        SELECT lang,
          count(*) AS n_docs,
          CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
          CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM gated
        GROUP BY lang ORDER BY lang""")),

    // ---- PII scrubbing (the redaction stage every public-corpus pipeline
    // runs): emails, phone numbers, IPv4 addresses → typed placeholders.
    // The synthetic corpus is clean, so deterministic PII is appended per
    // doc on BOTH sides before scrubbing — the digest then proves the
    // redaction byte-for-byte, and the counts prove per-kind accounting.
    Q("q90_pii_scrub",
      (s, d) => Tables.sql(s, d, """
        WITH aug AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS STRING)
              || '@mail.example.com or call 555-01'
              || lpad(CAST(doc_id % 100 AS STRING), 2, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS STRING) || '.7' AS t
          FROM documents WHERE doc_id < 200),
        scrub AS (
          SELECT doc_id, t,
            regexp_replace(
              regexp_replace(
                regexp_replace(t,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>'),
                '\\b\\d{3}-\\d{4}\\b', '<PHONE>'),
              '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>') AS sc
          FROM aug)
        SELECT doc_id, md5(sc) AS digest,
          CAST((length(sc) - length(replace(sc, '<EMAIL>', ''))) / 7 AS BIGINT) AS n_email,
          CAST((length(sc) - length(replace(sc, '<PHONE>', ''))) / 7 AS BIGINT) AS n_phone,
          CAST((length(sc) - length(replace(sc, '<IP>', ''))) / 4 AS BIGINT) AS n_ip,
          CAST(length(t) - length(sc) AS BIGINT) AS removed_chars
        FROM scrub ORDER BY doc_id"""),
      Some("""
        WITH aug AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
          FROM documents WHERE doc_id < 200),
        scrub AS (
          SELECT doc_id, t,
            regexp_replace(
              regexp_replace(
                regexp_replace(t,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS sc
          FROM aug)
        SELECT doc_id, md5(sc) AS digest,
          CAST((length(sc) - length(replace(sc, '<EMAIL>', ''))) / 7 AS BIGINT) AS n_email,
          CAST((length(sc) - length(replace(sc, '<PHONE>', ''))) / 7 AS BIGINT) AS n_phone,
          CAST((length(sc) - length(replace(sc, '<IP>', ''))) / 4 AS BIGINT) AS n_ip,
          CAST(length(t) - length(sc) AS BIGINT) AS removed_chars
        FROM scrub ORDER BY doc_id""")),

    // ---- Repetition-based quality gate (Gopher/C4-style rules): top
    // token fraction, top bigram fraction, type/token ratio, length
    // bounds. One narrow pass + per-doc aggregation — at 100 TB this is
    // a map-side-combined groupBy on doc_id, no cross-doc shuffle.
    Q("q91_quality_repetition",
      (s, d) => Tables.sql(s, d, """
        WITH base AS (
          -- r21: ONE doc_id exchange serves the token aggregate, the
          -- bigram aggregate AND their final join (subset-clustering +
          -- ReuseExchange, the q43 discipline) — without it the planner
          -- shuffled (doc_id, w), doc_id, (doc_id, b), doc_id separately
          SELECT /*+ REPARTITION(doc_id) */ doc_id, split(text, ' ') AS w
          FROM documents),
        toks AS (
          SELECT doc_id, w, count(*) AS c
          FROM (SELECT doc_id, explode(w) AS w FROM base)
          GROUP BY doc_id, w),
        tstats AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
            CAST(max(c) AS BIGINT) AS top_tok,
            CAST(count(*) AS BIGINT) AS n_types
          FROM toks GROUP BY doc_id),
        bigs AS (
          SELECT doc_id, b, count(*) AS c
          FROM (
            SELECT doc_id, explode(transform(sequence(1, size(w) - 1),
              i -> concat_ws(' ', slice(w, i, 2)))) AS b
            FROM base
            WHERE size(w) > 1)
          GROUP BY doc_id, b),
        bstats AS (
          SELECT doc_id, CAST(max(c) AS BIGINT) AS top_big,
            CAST(sum(c) AS BIGINT) AS n_big
          FROM bigs GROUP BY doc_id)
        SELECT t.doc_id, n_tok, n_types,
          CAST(top_tok AS DOUBLE) / n_tok AS top_tok_frac,
          CAST(top_big AS DOUBLE) / n_big AS top_big_frac,
          CAST(top_tok AS DOUBLE) / n_tok <= 0.2
            AND CAST(top_big AS DOUBLE) / n_big <= 0.18
            AND CAST(n_types AS DOUBLE) / n_tok >= 0.2
            AND n_tok BETWEEN 20 AND 100000 AS keep
        FROM tstats t JOIN bstats b ON t.doc_id = b.doc_id
        ORDER BY t.doc_id"""),
      Some("""
        WITH toks AS (
          SELECT doc_id, w, count(*) AS c
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents) t
          GROUP BY doc_id, w),
        tstats AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
            CAST(max(c) AS BIGINT) AS top_tok,
            CAST(count(*) AS BIGINT) AS n_types
          FROM toks GROUP BY doc_id),
        bigs AS (
          SELECT doc_id, b, count(*) AS c
          FROM (
            SELECT doc_id, w[i] || ' ' || w[i+1] AS b
            FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i
                  FROM (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents) t0) t1
            WHERE i <= len(w) - 1 AND len(w) > 1)
          GROUP BY doc_id, b),
        bstats AS (
          SELECT doc_id, CAST(max(c) AS BIGINT) AS top_big,
            CAST(sum(c) AS BIGINT) AS n_big
          FROM bigs GROUP BY doc_id)
        SELECT t.doc_id, n_tok, n_types,
          CAST(top_tok AS DOUBLE) / n_tok AS top_tok_frac,
          CAST(top_big AS DOUBLE) / n_big AS top_big_frac,
          CAST(top_tok AS DOUBLE) / n_tok <= 0.2
            AND CAST(top_big AS DOUBLE) / n_big <= 0.18
            AND CAST(n_types AS DOUBLE) / n_tok >= 0.2
            AND n_tok BETWEEN 20 AND 100000 AS keep
        FROM tstats t JOIN bstats b ON t.doc_id = b.doc_id
        ORDER BY t.doc_id""")),

    // ---- Deterministic stratified sampling (corpus mixing): per-language
    // sample rates applied via the portable 60-bit md5 hash of doc_id —
    // reproducible on any engine / any run, no RNG state. The real
    // training-data mixing primitive: one narrow filter, zero shuffles
    // beyond the final per-language rollup.
    Q("q92_stratified_sample",
      (s, d) => Tables.sql(s, d, """
        WITH rates AS (
          SELECT * FROM VALUES
            ('en', 50), ('de', 20), ('es', 30), ('fr', 10), ('zh', 40)
            AS r(lang, pct)),
        sampled AS (
          SELECT d.lang, d.doc_id
          FROM documents d JOIN rates r ON d.lang = r.lang
          WHERE md5_60(CAST(d.doc_id AS STRING)) % 100 < r.pct)
        SELECT lang, count(*) AS n_sampled,
          CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(min(doc_id) AS BIGINT) AS first_id
        FROM sampled GROUP BY lang ORDER BY lang"""),
      Some("""
        WITH rates AS (
          SELECT * FROM (VALUES
            ('en', 50), ('de', 20), ('es', 30), ('fr', 10), ('zh', 40))
            r(lang, pct)),
        sampled AS (
          SELECT d.lang, d.doc_id
          FROM documents d JOIN rates r ON d.lang = r.lang
          WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 15))::BIGINT
            % 100 < r.pct)
        SELECT lang, count(*) AS n_sampled,
          CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(min(doc_id) AS BIGINT) AS first_id
        FROM sampled GROUP BY lang ORDER BY lang""")),

    // ---- Dataset card (the release-report query): per-(language,
    // source) corpus statistics with ROLLUP subtotals — docs, tokens,
    // quality pass-rate, length extremes. One narrow feature map + one
    // grouped rollup; the whole report is a single pass at any scale.
    Q("q100_dataset_card",
      (s, d) => Tables.sql(s, d, """
        WITH feats AS (
          SELECT doc_id, lang, source,
            size(split(text, ' ')) AS n_tok,
            length(text) AS n_chars,
            CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END AS quality_ok
          FROM documents)
        SELECT coalesce(lang, 'ALL') AS lang,
          coalesce(source, 'ALL') AS source,
          count(*) AS n_docs,
          CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
          CAST(sum(quality_ok) AS BIGINT) AS n_quality,
          CAST(min(n_chars) AS BIGINT) AS min_chars,
          CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM feats
        GROUP BY ROLLUP(lang, source)
        ORDER BY lang, source"""),
      Some("""
        WITH feats AS (
          SELECT doc_id, lang, source,
            len(string_split(text, ' ')) AS n_tok,
            length(text) AS n_chars,
            CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END AS quality_ok
          FROM documents)
        SELECT coalesce(lang, 'ALL') AS lang,
          coalesce(source, 'ALL') AS source,
          count(*) AS n_docs,
          CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
          CAST(sum(quality_ok) AS BIGINT) AS n_quality,
          CAST(min(n_chars) AS BIGINT) AS min_chars,
          CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM feats
        GROUP BY ROLLUP(lang, source)
        ORDER BY lang, source""")),

    // ---- JSON extraction over the events props payload (Spark-side
    // bonus surface; reference exposes no JSON functions — SURVEY §2.3).
    Q("q54_json_props",
      (s, d) => Tables.sql(s, d, """
        SELECT event_type,
          count(*) AS n,
          CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          min(CAST(get_json_object(props, '$.k') AS BIGINT)) AS min_k,
          max(CAST(get_json_object(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type ORDER BY event_type"""),
      Some("""
        SELECT event_type,
          count(*) AS n,
          CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type ORDER BY event_type""")),

    // ---- VIDEO SHOT-BOUNDARY DETECTION: the multimodal family's THIRD
    // modality shape (temporal segmentation vs q143's image grid and
    // q150's 1-D audio envelope). The blob-as-byte-stream stands in for
    // a decoded frame sequence (declared q50/q94 stub posture): frame k
    // = the 8 bytes at offset 16k (hop 16, full frames only), per-frame
    // signature = the 7-bit adjacent-byte dHash row (q143's bit rule at
    // frame granularity), and a CUT fires where consecutive frames'
    // signatures differ in >= 6 of 7 bits (declared τ — scene change ≈
    // near-total signature turnover; a real decoder swaps pixels into
    // the same per-frame signature column). Shots = cut-count islands;
    // the per-doc report carries frame/cut/shot counts, the longest
    // shot, and an order-exact digest of the cut flags. Shape at 100 TB:
    // one corpus pass, per-doc windows only (doc_id is high-cardinality;
    // the q130 island discipline), signature math is a codegen
    // higher-order fold — no seam, no object boundary, no corpus-keyed
    // exchange beyond the doc-keyed window sort. Fixed series bound 799
    // ≫ the longest doc at any SF (the q150 convention; the frame-fits
    // WHERE does the real bounding).
    Q("q156_shot_bounds",
      (s, d) => Tables.sql(s, d, """
        WITH f AS (
          SELECT doc_id, k, substring(text, 1 + 16 * k, 8) AS fr
          FROM documents
          LATERAL VIEW explode(sequence(0, 799)) t AS k
          WHERE doc_id < 200 AND 16 * k + 8 <= length(text)),
        sigs AS (
          SELECT doc_id, k,
            aggregate(sequence(0, 6), CAST(0 AS BIGINT),
              (acc, c) -> acc +
                IF(ascii(substring(fr, c + 1, 1)) < ascii(substring(fr, c + 2, 1)),
                   shiftleft(CAST(1 AS BIGINT), c), CAST(0 AS BIGINT))) AS sig
          FROM f),
        cuts AS (
          SELECT doc_id, k,
            CASE WHEN prev IS NOT NULL AND bit_count(sig ^ prev) >= 6
                 THEN 1 ELSE 0 END AS cut
          FROM (SELECT doc_id, k, sig,
                  lag(sig) OVER (PARTITION BY doc_id ORDER BY k) AS prev
                FROM sigs)),
        sh AS (
          SELECT doc_id, k, cut,
            sum(cut) OVER (PARTITION BY doc_id ORDER BY k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
          FROM cuts),
        sl AS (SELECT doc_id, shot, count(*) AS len FROM sh GROUP BY doc_id, shot),
        perdoc AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
            CAST(sum(cut) AS BIGINT) AS n_cuts,
            md5(concat_ws('',
              transform(array_sort(collect_list(struct(k, cut))),
                        x -> CAST(x.cut AS STRING)))) AS cuts_digest
          FROM sh GROUP BY doc_id),
        shots AS (
          SELECT doc_id, CAST(max(len) AS BIGINT) AS max_shot_len
          FROM sl GROUP BY doc_id)
        SELECT p.doc_id, n_frames, n_cuts, n_cuts + 1 AS n_shots,
          max_shot_len, cuts_digest
        FROM perdoc p JOIN shots q ON p.doc_id = q.doc_id
        ORDER BY p.doc_id"""),
      Some("""
        WITH f AS (
          SELECT doc_id, k, substr(text, 1 + 16 * k, 8) AS fr
          FROM documents, generate_series(0, 799) t(k)
          WHERE doc_id < 200 AND 16 * k + 8 <= length(text)),
        sigs AS (
          SELECT doc_id, k, CAST(sum(
            CASE WHEN ascii(substr(fr, c + 1, 1)) < ascii(substr(fr, c + 2, 1))
                 THEN CAST(pow(2, c) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
          FROM f, generate_series(0, 6) u(c)
          GROUP BY doc_id, k),
        cuts AS (
          SELECT doc_id, k,
            CASE WHEN prev IS NOT NULL AND bit_count(xor(sig, prev)) >= 6
                 THEN 1 ELSE 0 END AS cut
          FROM (SELECT doc_id, k, sig,
                  lag(sig) OVER (PARTITION BY doc_id ORDER BY k) AS prev
                FROM sigs) t),
        sh AS (
          SELECT doc_id, k, cut,
            sum(cut) OVER (PARTITION BY doc_id ORDER BY k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
          FROM cuts),
        sl AS (SELECT doc_id, shot, count(*) AS len FROM sh GROUP BY doc_id, shot),
        perdoc AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
            CAST(sum(cut) AS BIGINT) AS n_cuts,
            md5(string_agg(CAST(cut AS VARCHAR), '' ORDER BY k)) AS cuts_digest
          FROM sh GROUP BY doc_id),
        shots AS (
          SELECT doc_id, CAST(max(len) AS BIGINT) AS max_shot_len
          FROM sl GROUP BY doc_id)
        SELECT p.doc_id, n_frames, n_cuts, n_cuts + 1 AS n_shots,
          max_shot_len, cuts_digest
        FROM perdoc p JOIN shots q ON p.doc_id = q.doc_id
        ORDER BY p.doc_id""")),

    // ---- Verified heavy hitters (frequent items at 100 TB): pass 1 is
    // a Misra-Gries summary (capacity [[HeavyHitterCapacity]]) whose
    // map-side partials are <= capacity entries each and whose final
    // merge is a driver-sized fold — candidates + the exact token total
    // n in ONE corpus pass with NO corpus-wide token shuffle (q95's
    // groupBy materializes the whole distribution; this never does).
    // Pass 2 re-scans with a broadcast-literal In filter over the <=
    // capacity candidates and exact-counts only those, keeping tokens
    // with count·(capacity+1) > n. The MG guarantee (every token above
    // n/(capacity+1) survives any partition layout / merge order —
    // PropertySpec) plus exact verification makes the OUTPUT
    // deterministic and oracle-equal to the plain exact HAVING query,
    // even though the intermediate summary is arrival-order-dependent.
    // Demo-corpus honesty: the synthetic vocab (31 distinct tokens)
    // sits under the 31-counter capacity, so the sf runs never evict;
    // the eviction/merge-subtraction paths are exercised by
    // PropertySpec's >capacity alphabets.
    Q("q153_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val toks = Tables.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w")).as[String]
        val (cand, n) = toks
          .select(new graft.functions.MisraGriesAgg(HeavyHitterCapacity).toColumn)
          .head()
        toks.toDF("w")
          .where(col("w").isin(cand.keys.toSeq: _*))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("cnt"))
          .where(col("cnt") * lit(HeavyHitterCapacity + 1L) > lit(n))
          .select(col("w").as("token"), col("cnt"))
          .orderBy(col("cnt").desc, col("token"))
      },
      Some(s"""
        WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
        SELECT w AS token, CAST(count(*) AS BIGINT) AS cnt
        FROM tok CROSS JOIN p
        GROUP BY w, p.n
        HAVING count(*) * ${HeavyHitterCapacity + 1} > p.n
        ORDER BY cnt DESC, token"""))
  )
}
