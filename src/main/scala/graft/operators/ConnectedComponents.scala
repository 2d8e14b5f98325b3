package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Min-label-propagation connected components over a near-dup pair
  * graph — the ONE clustering kernel q89 (text jaccard pairs) and q147
  * (perceptual dHash pairs) share, extracted so the fixed-round oracle
  * semantics and the convergence-checked production variant can never
  * drift apart.
  *
  * Each round is one equi-join + min-aggregate on the edge key followed
  * by a self-min — the standard scalable CC shape (cf. large-star /
  * small-star): labels spread one hop per round, so `rounds` rounds
  * converge any component of label-propagation diameter <= rounds.
  *
  * Two entry points:
  *  - [[minLabelRounds]]: a FIXED round count — q89/q147's DECLARED
  *    operator semantics, mirrored bit-for-bit in their DuckDB oracles
  *    (near-dup components are dense, so real diameters are tiny; 4
  *    rounds is exact on the corpus, proven by
  *    ConnectedComponentsSpec).
  *  - [[fixpoint]]: loop until the changed-label count is ZERO (bounded
  *    by maxRounds) — the production posture for a graph whose diameter
  *    is not known in advance, where a fixed count would under-converge
  *    SILENTLY (a >rounds-diameter chain keeps >1 label per component).
  *    Costs one extra metadata-sized count job per round on top of the
  *    identical per-round shape. See SCALE.md §"CC convergence".
  *
  * Per-round lineage handling: [[minLabelRounds]] folds each node's own
  * label in as a self-loop edge, so a round references the previous
  * labels ONCE, the logical tree grows linearly, and the whole
  * fixed-round fold runs as one query with no checkpoint. Only
  * [[fixpoint]] still `localCheckpoint`s: its two-join round references
  * the previous labels twice (the tree would double per round) and its
  * change count needs the round's result materialized anyway. On a
  * cluster those would be reliable checkpoints instead of local ones.
  */
object ConnectedComponents {

  /** Symmetrize a directed pair frame `(d1, d2)` into the edge frame
    * [[fixpoint]] (every node must appear as a d1) and PageRank
    * (degrees count edges) require, caching the pair list FIRST (the
    * union references it twice — without the cache each reference
    * re-runs the whole upstream pair pipeline) and the result (every
    * round re-reads the edges). */
  def symmetrize(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("d1"), col("d2")).cache()
    p.unionByName(p.select(col("d2").as("d1"), col("d1").as("d2")))
      .cache()
  }

  /** Initial labels over a SYMMETRIZED edge frame `(d1, d2)`: every
    * endpoint labels itself. */
  private def initLabels(edges: DataFrame): DataFrame =
    edges.select(col("d1").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))

  /** One min-label round: every node takes min(own label, min over
    * neighbours' labels). */
  private def round(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges.as("e")
      .join(labels.as("l"), col("e.d2") === col("l.doc_id"))
      .groupBy(col("e.d1")).agg(min(col("l.lbl")).as("nbr"))
      .withColumnRenamed("d1", "doc_id")
    labels.join(nbrMin, Seq("doc_id"))
      .select(col("doc_id"), least(col("lbl"), col("nbr")).as("lbl"))
  }

  /** The fixed-round kernel (q89/q147/q181/q183's declared,
    * oracle-mirrored semantics): exactly `rounds` min-label rounds over
    * the undirected graph of a pair list `(d1, d2)` (either direction,
    * duplicates allowed); returns `(doc_id, lbl)` for every endpoint.
    *
    * r22 (guide §2.4 remove passes/actions): a SELF-LOOP per node folds
    * each round's `min(own, neighbour-min)` into a single join +
    * min-aggregate — `min over {lbl(u) : (v,u) ∈ E ∪ {(v,v)}}` is
    * exactly `min(lbl(v), min_nbr lbl(u))`, so every round is
    * value-identical to the two-join spelling. With labels referenced
    * ONCE per round the logical tree grows linearly, so the whole
    * fixed-round fold executes as ONE query with no checkpoint. Round 1
    * over the identity labeling is itself just `min(d2) GROUP BY d1` on
    * the self-looped edges — no separate init-labels pass.
    *
    * The self-looped edge frame is one narrow explode of the cached pair
    * list: each pair emits (d1,d2), (d2,d1), (d1,d1) and (d2,d2). A node
    * in several pairs gets several copies of its self-loop (and a pair
    * listed twice, or in both directions, duplicate edges) — harmless
    * under `min` — so there is no node `distinct()` shuffle and no
    * union cache; every round re-reads the pair cache through the
    * explode. */
  def minLabelRounds(pairs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val p = pairs.select(col("d1"), col("d2")).cache()
    val edgesPlus = p
      .select(explode(array(
        struct(col("d1"), col("d2")),
        struct(col("d2").as("d1"), col("d1").as("d2")),
        struct(col("d1"), col("d1").as("d2")),
        struct(col("d2").as("d1"), col("d2")))).as("e"))
      .select(col("e.d1").as("d1"), col("e.d2").as("d2"))
    var labels = edgesPlus.groupBy(col("d1")).agg(min(col("d2")).as("lbl"))
      .withColumnRenamed("d1", "doc_id")
    for (_ <- 2 to rounds)
      labels = edgesPlus.as("e")
        .join(labels.as("l"), col("e.d2") === col("l.doc_id"))
        .groupBy(col("e.d1")).agg(min(col("l.lbl")).as("lbl"))
        .withColumnRenamed("d1", "doc_id")
    labels
  }

  /** Convergence-checked variant: iterate until no label changes (then
    * the labeling IS the exact component-min fixpoint), bounded by
    * `maxRounds` as a runaway guard. Returns `(labels, roundsRun)` —
    * roundsRun includes the final no-change round that proved
    * convergence. Throws if maxRounds is hit before convergence rather
    * than returning a silently under-converged labeling.
    *
    * `jump = true` adds POINTER JUMPING to each round (the
    * large-star/small-star doubling trick): after the neighbour-min
    * step, every node also takes its label's own label —
    * `lbl ← min(lbl, lbl(lbl))` — one extra self-join per round on the
    * NODE-sized label table (cheap next to the edge join). Information
    * then travels 2^r hops after r rounds instead of r, so a
    * diameter-d chain converges in O(log d) rounds — the shape that
    * matters when components chain at 100× corpus scale
    * (ConnectedComponentsSpec: the diameter-12 chain closes in ~4
    * rounds instead of 13). Labels are always reachable node ids (they
    * start as own ids and only min-propagate), so the jump join is a
    * plain inner equi-join on the label table itself. */
  def fixpoint(edges: DataFrame, maxRounds: Int = 64,
      jump: Boolean = false): (DataFrame, Int) = {
    var labels = initLabels(edges).localCheckpoint(true)
    var r = 0
    while (r < maxRounds) {
      r += 1
      // with jump on, `prop` is referenced on BOTH sides of the jump
      // join — checkpoint it first so the expensive edge-join round
      // executes once, keeping the jump the advertised node-table-only
      // extra cost (without this the whole round subtree runs twice)
      val prop0 = round(edges, labels)
      val prop = if (jump) prop0.localCheckpoint(true) else prop0
      val next0 =
        if (!jump) prop
        else prop.as("a")
          .join(prop.select(col("doc_id").as("j_id"), col("lbl").as("j_lbl")),
            col("a.lbl") === col("j_id"))
          .select(col("a.doc_id"), least(col("a.lbl"), col("j_lbl")).as("lbl"))
      val next = next0.localCheckpoint(true)
      val changed = next
        .join(labels.withColumnRenamed("lbl", "plbl"), Seq("doc_id"))
        .where(col("lbl") =!= col("plbl")).count()
      labels = next
      if (changed == 0) return (labels, r)
    }
    throw new IllegalStateException(
      s"connected components did not converge within $maxRounds rounds")
  }
}
