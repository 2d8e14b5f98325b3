package graft

import org.scalatest.funsuite.AnyFunSuite

/** Black-box invariants of the PQ family (q126/q127/q128) and the
  * mixture sampler (q129) over the sf0.001 fixtures. The cross-engine
  * argmin/tie-break equivalence (Spark's partial-aggregatable
  * min(struct(dist, code_id)) vs the oracle's row_number spelling) is
  * proven by the Verify hash-match; these pin the structural contracts
  * a consumer of the operators relies on. */
class PqSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  private def run(name: String) =
    SparkEntry.queries(name)(spark, d).collect()

  test("q126: one codebook per subspace, full-dim codewords, encode covers the corpus") {
    val rows = run("q126_pq_train")
    val emb = Tables.t(spark, d, "embeddings")
    val n = emb.count()
    // the codebook trains on the deterministic hash-threshold sample;
    // recompute its size with the same predicate the trainer uses
    val pct = graft.queries.Extensions.samplePct(
      n, graft.queries.Extensions.pqKs(n))
    val sampN = emb.filter(org.apache.spark.sql.functions.expr(
      s"md5_60(CAST(vec_id AS STRING)) % 100 < $pct")).count()
    assert(sampN > 0 && sampN < n, "sample path not exercised")
    // 8 subspaces, ≤ ks codes each, every codeword PqSubDim-dimensional
    assert(rows.map(_.getInt(0)).toSet == (0 until 8).toSet)
    assert(rows.forall(_.getString(2).split(',').length == 8))
    // per subspace: round-1 members cover the training sample exactly
    // once; final encode usage covers the FULL corpus exactly once
    rows.groupBy(_.getInt(0)).foreach { case (sub, rs) =>
      assert(rs.map(_.getLong(3)).sum == sampN, s"sub $sub round-1 members")
      assert(rs.map(_.getLong(4)).sum == n, s"sub $sub encode usage")
    }
  }

  test("q127: 8 ADC neighbors per query, ranked by non-negative non-decreasing distance") {
    val rows = run("q127_pq_adc")
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(8L, 9L, 10L, 11L, 12L))
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 8L), s"q$q ranks")
      val dists = sorted.map(_.getLong(3)).toSeq
      assert(dists.head >= 0L, s"q$q ADC distance is a sum of true squared L2 terms")
      assert(dists == dists.sorted, s"q$q distances ordered")
      assert(!rs.exists(_.getLong(2) == q), s"q$q self-match excluded")
    }
  }

  test("q128: one recall row per query, n_hits within [0, 3]") {
    val rows = run("q128_pq_recall")
    assert(rows.map(_.getLong(0)).toSet == Set(8L, 9L, 10L, 11L, 12L))
    assert(rows.forall(r => r.getLong(1) >= 0L && r.getLong(1) <= 3L))
    assert(rows.forall(r =>
      r.getDouble(2) == r.getLong(1).toDouble / 3.0))
  }

  test("q129: sampling respects stratum bounds and upweighted strata keep everything") {
    val rows = run("q129_mixture_sample")
    rows.foreach { r =>
      val (nDocs, target, sampled) =
        (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sampled <= nDocs, s"stratum over-sampled: $r")
      // hash-threshold at rate ≥ 1 is the keep-everything predicate
      if (target >= nDocs) assert(sampled == nDocs, s"upweighted stratum dropped docs: $r")
    }
    // the corpus-level sample is within a loose binomial envelope of the
    // half-corpus budget (deterministic — this is a fixed hash, not RNG)
    val total = rows.map(_.getLong(2)).sum
    val sampledTotal = rows.map(_.getLong(4)).sum
    assert(sampledTotal > total / 5 && sampledTotal < total,
      s"sampled $sampledTotal of $total")
  }

  test("q129 is deterministic across runs") {
    val a = run("q129_mixture_sample").map(_.toString).toSeq
    val b = run("q129_mixture_sample").map(_.toString).toSeq
    assert(a == b)
  }
}
