package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round exact-integer PageRank over a symmetrized pair graph —
  * the graph-centrality twin of [[ConnectedComponents]] (same
  * fixed-round oracle discipline, same per-round equi-join + aggregate
  * shape; unlike the CC kernel it needs the exact symmetrized edge
  * frame, since degrees count edges). q162 runs it over the q143 perceptual
  * near-dup graph to rank cluster members by centrality — the
  * "pick the canonical representative" signal a dedup pass wants
  * beyond q147's arbitrary min-label survivor.
  *
  * Exact-integer spelling (both engines agree bit-for-bit, no libm):
  * ranks live in ppm of one unit of mass,
  *
  *   pr_0(v)   = 10^6
  *   pr_k+1(v) = 150000 + (85 · Σ_{u∈N(v)} (pr_k(u) DIV deg(u))) DIV 100
  *
  * — damping 0.85 as the exact rational 85/100 with floor division
  * (each node keeps the floor of its share; the dropped sub-ppm
  * remainders are the declared integer semantics, mirrored in the
  * oracle). The graph is the symmetric near-dup graph, so every node
  * has deg ≥ 1 and receives ≥ 1 contribution per round — no dangling
  * mass. Isolated documents (no near-dup pair) are declaredly outside
  * the ranking.
  *
  * Scale shapes: degrees fold into the edge frame ONCE (cached, in
  * production checkpointed); each round is one equi-join of edges
  * against the rank frame + one map-side-combined sum per destination —
  * the identical per-round cost envelope as a CC round, linear in
  * |edges|. Every round is `localCheckpoint`ed (reliable checkpoint on
  * a cluster), so the plan size is round-independent; the CC kernel's
  * fixed rounds instead run as one linear-lineage query.
  */
object PageRank {

  /** `rounds` PageRank rounds over SYMMETRIZED edges `(d1, d2)`;
    * returns `(doc_id, deg, pr)` with pr in ppm. */
  def rounds(edges: DataFrame, rounds: Int): DataFrame = {
    val deg = edges.groupBy(col("d1").as("doc_id"))
      .agg(count(lit(1)).as("deg")).cache()
    // per-edge source degree folded in once so the loop never re-joins
    // the degree dim
    val e = edges.as("e")
      .join(deg.as("dg"), col("e.d1") === col("dg.doc_id"))
      .select(col("e.d1").as("src"), col("e.d2").as("dst"),
        col("dg.deg").as("sdeg"))
      .cache()
    var pr = deg.select(col("doc_id"), lit(1000000L).as("pr"))
    for (_ <- 1 to rounds) {
      pr = e.join(pr, e("src") === pr("doc_id"))
        .select(col("dst"), expr("pr DIV sdeg").as("share"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("m"))
        .select(col("dst").as("doc_id"),
          (lit(150000L) + expr("(85 * m) DIV 100")).as("pr"))
        .localCheckpoint(true)
    }
    pr.join(deg, "doc_id").select(col("doc_id"), col("deg"), col("pr"))
  }
}
