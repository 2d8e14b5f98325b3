package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.operators.ConnectedComponents

/** The CC convergence contract (SCALE.md §"CC convergence"):
  *  - [[ConnectedComponents.fixpoint]] must equal a union-find ground
  *    truth (exact component minima) on the real corpus pair graphs;
  *  - [[ConnectedComponents.minLabelRounds]] must equal a driver-side
  *    simulation of the declared fixed-round semantics — which is NOT
  *    always the true components: the sf0.001 perceptual-dhash graph
  *    is a NATURAL >4-diameter witness where 4 declared rounds
  *    under-converge (q147's DuckDB oracle runs the identical 4
  *    rounds, so the shipped contract is unchanged — this suite pins
  *    the difference honestly instead of assuming density);
  *  - a synthetic diameter-12 chain pins the hop-per-round semantics
  *    exactly and shows fixpoint closing the silent failure mode. */
class ConnectedComponentsSpec extends AnyFunSuite {

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def collectEdges(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Union-find ground truth: node → min id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  /** Driver-side simulation of exactly `rounds` min-label rounds. */
  private def simulateRounds(
      edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds)
      lbl = lbl.map { case (n, l) =>
        n -> math.min(l, nbrs(n).map(lbl).min)
      }
    lbl
  }

  /** The corpus pair lists q89 and q147 hand the fixed-round kernel. */
  private lazy val pairLists = Seq(
    "text-jaccard" -> graft.queries.Dedup
      .nearDupPairs08(SparkTestSession.spark, SparkTestSession.sfDir),
    "perceptual-dhash" -> graft.queries.TextOps
      .dhashPairsShared(SparkTestSession.spark, SparkTestSession.sfDir))

  /** The same graphs as symmetrized edge frames (fixpoint's input). */
  private lazy val graphs = pairLists.map { case (name, pairs) =>
    name -> ConnectedComponents.symmetrize(pairs)
  }

  test("fixpoint == union-find ground truth on both corpus pair graphs") {
    for ((name, edges) <- graphs) {
      val truth = unionFind(collectEdges(edges)).toSet
      val (fp, rounds) = ConnectedComponents.fixpoint(edges)
      assert(labelSet(fp) == truth, s"$name fixpoint != union-find")
      info(s"$name: fixpoint in $rounds rounds (incl. the no-change round)")
    }
  }

  test("minLabelRounds(4) == the declared 4-round semantics on both graphs") {
    for (((name, pairs), (_, edges)) <- pairLists.zip(graphs)) {
      val sim = simulateRounds(collectEdges(edges), 4).toSet
      assert(labelSet(ConnectedComponents.minLabelRounds(pairs, 4)) == sim,
        s"$name fixed-round kernel != simulation")
    }
  }

  /** The fixed-round kernel as it was spelled before its self-loops
    * came from an explode: symmetrize, then one self-loop per DISTINCT
    * node, unioned into one edge frame. */
  private def unionSpelling(pairs: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, min}
    val edges = ConnectedComponents.symmetrize(pairs)
    val edgesPlus = edges.unionByName(edges.select(col("d1")).distinct()
      .select(col("d1"), col("d1").as("d2")))
    var labels = edgesPlus.groupBy(col("d1")).agg(min(col("d2")).as("lbl"))
      .withColumnRenamed("d1", "doc_id")
    for (_ <- 2 to rounds)
      labels = edgesPlus.as("e")
        .join(labels.as("l"), col("e.d2") === col("l.doc_id"))
        .groupBy(col("e.d1")).agg(min(col("l.lbl")).as("lbl"))
        .withColumnRenamed("d1", "doc_id")
    labels
  }

  test("explode-built self-loops label like the union spelling: duplicates, isolated pairs, a chain") {
    val s = SparkTestSession.spark
    import s.implicits._
    // (1,2) three times, once reversed; an isolated pair listed
    // backwards; a diameter-7 chain 20..27 (under-converges in 4
    // rounds, so every hop counts); a triangle with a tail
    val chain = (20L until 27L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (1L, 2L), (2L, 1L), (11L, 10L),
      (30L, 31L), (31L, 32L), (30L, 32L), (32L, 33L)) ++ chain)
      .toDF("d1", "d2")
    for (rounds <- 1 to 4) {
      val got = labelSet(ConnectedComponents.minLabelRounds(pairs, rounds))
      assert(got == labelSet(unionSpelling(pairs, rounds)),
        s"$rounds rounds: explode spelling != union spelling")
      assert(got == simulateRounds(collectEdges(
        ConnectedComponents.symmetrize(pairs)), rounds).toSet)
    }
    assert(labelSet(ConnectedComponents.minLabelRounds(pairs, 4))
      .filter { case (n, _) => n >= 20L && n <= 27L } ==
      (20L to 27L).map(i => i -> math.max(20L, i - 4L)).toSet)
  }

  test("the sf0.001 perceptual-dhash graph is a natural >4-diameter witness") {
    val edges = graphs(1)._2
    val fixed = labelSet(ConnectedComponents.minLabelRounds(edges, 4))
    val truth = unionFind(collectEdges(edges)).toSet
    // 4 declared rounds genuinely under-converge on this real corpus
    // graph (hamming<=2 signatures drift gradually, so perceptual
    // components chain instead of forming cliques — fixpoint needs 6
    // effective rounds here) — the reason the production posture is
    // fixpoint, not a bigger fixed count (any fixed count has a corpus
    // that defeats it). The text-jaccard graph, by contrast, IS dense:
    // its fixpoint lands within one round.
    assert(fixed != truth)
  }

  test("a diameter-12 chain: 4 rounds under-converge, fixpoint does not") {
    val s = SparkTestSession.spark
    import s.implicits._
    // path 0-1-2-…-12: min-label spreads one hop per round, so after 4
    // rounds node i holds max(0, i-4) — distinct labels survive in a
    // graph that is one component
    val pairs = (0L until 12L).map(i => (i, i + 1))
    val edges = pairs.toDF("d1", "d2")
      .unionByName(pairs.map(_.swap).toDF("d1", "d2"))

    val fixed = labelSet(ConnectedComponents.minLabelRounds(edges, 4))
    assert(fixed == (0L to 12L).map(i => i -> math.max(0L, i - 4L)).toSet)

    val (fp, rounds) = ConnectedComponents.fixpoint(edges)
    assert(labelSet(fp) == (0L to 12L).map(i => i -> 0L).toSet)
    // label 0 needs 12 hops to reach node 12, +1 round to prove no change
    assert(rounds == 13)
  }

  test("pointer jumping reaches the same fixpoint in O(log d) rounds") {
    val s = SparkTestSession.spark
    import s.implicits._
    val pairs = (0L until 12L).map(i => (i, i + 1))
    val edges = pairs.toDF("d1", "d2")
      .unionByName(pairs.map(_.swap).toDF("d1", "d2"))
    val truth = (0L to 12L).map(i => i -> 0L).toSet

    val (plain, plainRounds) = ConnectedComponents.fixpoint(edges)
    val (jumped, jumpRounds) = ConnectedComponents.fixpoint(edges, jump = true)
    assert(labelSet(plain) == truth && labelSet(jumped) == truth)
    // hop-per-round needs 12 propagation rounds (+1 proof); doubling
    // closes the same chain in a handful
    assert(plainRounds == 13)
    assert(jumpRounds <= 6 && jumpRounds < plainRounds)

    // and on the real corpus graphs the jumped variant agrees with the
    // union-find truth too
    for ((name, g) <- graphs) {
      val (fp, _) = ConnectedComponents.fixpoint(g, jump = true)
      assert(labelSet(fp) == unionFind(collectEdges(g)).toSet,
        s"$name jumped fixpoint != union-find")
    }
  }

  test("fixpoint refuses to return an under-converged labeling") {
    val s = SparkTestSession.spark
    import s.implicits._
    val pairs = (0L until 12L).map(i => (i, i + 1))
    val edges = pairs.toDF("d1", "d2")
      .unionByName(pairs.map(_.swap).toDF("d1", "d2"))
    assertThrows[IllegalStateException] {
      ConnectedComponents.fixpoint(edges, maxRounds = 4)
    }
  }
}
