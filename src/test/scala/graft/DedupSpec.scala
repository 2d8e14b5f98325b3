package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the dedup/similarity operators at sf0.01 (the
  * scale where near-duplicates are planted in the corpus). */
class DedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.01"

  test("exact dedup finds exactly the 100 planted duplicates") {
    val out = SparkEntry.queries("q40_dedup_exact")(spark, d).collect()
    assert(out.length == 100)
    assert(out.forall(_.getAs[Long]("n_copies") == 2L))
  }

  test("minhash-LSH recalls every exact-jaccard near-dup pair") {
    val exact = SparkEntry.queries("q41_dedup_ngram_jaccard")(spark, d)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q42_dedup_minhash_lsh")(spark, d)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "no planted near-dups found by exact jaccard")
    assert(exact == lsh, s"LSH missed: ${exact -- lsh}; extra: ${lsh -- exact}")
  }

  test("minhash similarity estimate is high for near-dup pairs") {
    val rows = SparkEntry.queries("q42_dedup_minhash_lsh")(spark, d).collect()
    assert(rows.forall(_.getAs[Double]("est_sim") >= 0.5))
  }

  test("topk neighbors are self-free, k-bounded and ordered") {
    val rows = SparkEntry.queries("q44_sim_topk_bruteforce")(spark, d).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5)
      assert(rs.forall(_.getAs[Long]("neighbor") != q))
      val cos = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cos"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q110 posting-list pairing equals the self-join spelling on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // randomized equivalence guard for the no-cache restructure: the
    // collect_list + pair-explode source must produce EXACTLY the rows a
    // digest self-join with a.doc <> b.doc would, including multiplicity
    // through the downstream aggregate. Seeded → deterministic.
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val base = (0 until 120).map { i =>
      val n = 30 + rnd.nextInt(30)
      i.toLong -> (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    // plant true containments: doc 1000+i is the 20-token prefix of doc i
    // (segment alignment preserved), so its every segment appears in i
    val planted = (0 until 10).map { i =>
      (1000L + i) -> base(i)._2.split(" ").take(20).mkString(" ")
    }
    val df = (base ++ planted).toDF("doc_id", "text")
    def segs(src: org.apache.spark.sql.DataFrame) = src
      .select($"doc_id", split($"text", " ").as("w"))
      .where(size($"w") >= 10)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, CAST(size(w) / 10 AS INT)),
                     k -> concat_ws(' ', slice(w, 10 * (k - 1) + 1, 10)))"""))
        .as("seg"))
      .select($"doc_id", md5($"seg").as("h"))
      .distinct()
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"h")))
      .filter($"df" <= 50)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
      .select($"doc_id", $"h", $"n")
    def agg(pairs: org.apache.spark.sql.DataFrame) = pairs
      .groupBy($"contained", $"container")
      .agg(count(lit(1)).as("n_shared"), min($"na").as("n_a"), min($"nb").as("n_b"))
      .filter($"n_shared" === $"n_a" && $"n_b" > $"n_a")
      .select($"contained", $"container", $"n_a", $"n_b")
    val s1 = segs(df)
    val viaJoin = agg(s1.as("a")
      .join(s1.as("b"), $"a.h" === $"b.h" && $"a.doc_id" =!= $"b.doc_id")
      .select($"a.doc_id".as("contained"), $"b.doc_id".as("container"),
        $"a.n".as("na"), $"b.n".as("nb")))
    val viaLists = agg(segs(df)
      .groupBy($"h").agg(collect_list(struct($"doc_id", $"n")).as("ds"))
      .select(explode(expr(
        """filter(flatten(transform(ds, a -> transform(ds,
             b -> struct(a.doc_id AS ad, a.n AS an,
                         b.doc_id AS bd, b.n AS bn)))),
           p -> p.ad != p.bd)""")).as("p"))
      .select($"p.ad".as("contained"), $"p.bd".as("container"),
        $"p.an".as("na"), $"p.bn".as("nb")))
    val r1 = viaJoin.collect().map(_.toSeq).toSet
    val r2 = viaLists.collect().map(_.toSeq).toSet
    assert(r1 == r2, s"join=${r1.size} lists=${r2.size}")
    assert(r1.nonEmpty, "fixture produced no containment pairs")
    // every planted prefix doc must surface as contained in its source
    val contained = r1.map(_.head.asInstanceOf[Long])
    assert((0 until 10).forall(i => contained.contains(1000L + i)))
  }

  test("q41/q89 shingle short documents and space runs like the oracle") {
    import spark.implicits._
    // docs with fewer than 3 words have no shingles (the DuckDB oracles'
    // `WHERE i <= len(w) - 2`); a run of spaces is an empty word, so
    // "p  q r s" shingles differently from "p q r s"
    val dir = java.nio.file.Files.createTempDirectory("short-docs").toString
    try {
      Seq(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "", 4L -> "x",
        5L -> "x y", 6L -> "p  q r s", 7L -> "p  q r s", 8L -> "p q r s")
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val q41 = SparkEntry.queries("q41_dedup_ngram_jaccard")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(q41 == Seq(Seq(1L, 2L, 3L, 3L, 3L, 1.0), Seq(6L, 7L, 3L, 3L, 3L, 1.0)))
      val q89 = SparkEntry.queries("q89_dedup_clusters")(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(q89 == Seq(Seq(1L, 2L, 2L), Seq(6L, 2L, 7L)))
    } finally new scala.reflect.io.Directory(new java.io.File(dir))
      .deleteRecursively()
  }

  test("approx_count_distinct within 10% of exact") {
    // q53 now emits normalized error-bound booleans (oracle-checkable);
    // the 5% HLL bound subsumes the old 10% raw check.
    val rows = SparkEntry.queries("q53_approx_sketches")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_parts") > 0)
      assert(r.getAs[Boolean]("cd_within_5pct"), s"row $r")
      assert(r.getAs[Boolean]("median_in_range"), s"row $r")
    }
  }
}
