package graft

import org.scalatest.funsuite.AnyFunSuite

/** q160/q161 domain classifier: the distributed batch-perceptron trainer
  * must equal a driver-side reference implementation run over the same
  * corpus — the per-round (n_err, w_nnz, w_l1) curve AND the final
  * 4096-slot weight vector slot-for-slot. The reference computes
  * features with the plain-JVM [[graft.functions.Md5Long.hash60]]
  * kernel (the same bits the native expression produces) and runs the
  * perceptron with in-memory maps, so any drift in the distributed
  * spelling — feature hashing, label derivation, the y·margin ≤ 0
  * error rule, gradient accumulation — fails here before it reaches
  * the oracle gate. */
class DomainClassifierSpec extends AnyFunSuite {

  /** Per-doc hashed unigram+bigram bucket counts, plain Scala — the
    * HashedFeatureCtes identity. */
  private def features(text: String): Map[Int, Long] = {
    val ws = text.split(" ", -1) // split keeps trailing empties like SQL split
    val uni = ws.iterator.map(w =>
      (graft.functions.Md5Long.hash60(w.getBytes("UTF-8")) % 4096L).toInt)
    val bi = ws.iterator.sliding(2).withPartial(false).map(p =>
      (graft.functions.Md5Long.hash60(
        s"${p(0)} ${p(1)}".getBytes("UTF-8")) % 4096L).toInt)
    (uni ++ bi).toSeq.groupBy(identity)
      .map { case (b, xs) => b -> xs.size.toLong }
  }

  test("q160 trainer == plain-Scala reference perceptron (stats + weights)") {
    val s = SparkTestSession.spark
    import s.implicits._
    val d = SparkTestSession.sfDir

    val docs = Tables.t(s, d, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val tgt = docs.length / 10
    val feats = docs.map { case (id, text) => (id, features(text)) }

    val w = Array.fill(4096)(0L)
    val refStats = (1 to graft.queries.Pipeline.DomainRounds).map { r =>
      val errs = feats.filter { case (id, f) =>
        val y = if (id < tgt) 1L else -1L
        val margin = f.iterator.map { case (b, c) => c * w(b) }.sum
        y * margin <= 0L
      }
      errs.foreach { case (id, f) =>
        val y = if (id < tgt) 1L else -1L
        f.foreach { case (b, c) => w(b) += y * c }
      }
      (r, errs.length.toLong, w.count(_ != 0L).toLong, w.map(math.abs).sum)
    }

    val (gotW, gotStats) = graft.queries.Pipeline.domainTrain(s, d)
    assert(gotStats === refStats)
    assert(gotW.toSeq === w.toSeq)
    // the classifier actually learns on this corpus: the round-2 error
    // count must drop strictly below round 1's everything-misclassified
    // start
    assert(gotStats(1)._2 < gotStats(0)._2)
  }

  test("q161 apply scores == reference margins under the trained weights") {
    val s = SparkTestSession.spark
    import s.implicits._
    val d = SparkTestSession.sfDir

    val (w, _) = graft.queries.Pipeline.domainTrain(s, d)
    val c = Tables.sql(s, d,
      s"WITH ${graft.queries.Pipeline.HashedFeatureCtes} " +
        "SELECT doc_id, b, c FROM c")
    val got = graft.queries.Pipeline.bucketScores(c, w)
      .as[(Long, Long)].collect().toMap

    val docs = Tables.t(s, d, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val ref = docs.map { case (id, text) =>
      id -> features(text).iterator.map { case (b, cnt) => cnt * w(b) }.sum
    }.toMap
    assert(got === ref)
  }
}
