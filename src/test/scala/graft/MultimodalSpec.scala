package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {

  test("decodeStub is deterministic and shape-correct") {
    val bytes = "hello world".getBytes("UTF-8")
    val a = Multimodal.decodeStub(7L, bytes)
    val b = Multimodal.decodeStub(7L, bytes)
    assert(a == b)
    assert(a.n_bytes == 11)
    assert(a.magic == "68656C6C") // 'hell'
    assert(a.fake_width == 11 && a.fake_height == 77)
  }

  test("partition decode preserves cardinality and order within partition") {
    val in = (0L until 100L).map(i => (i, s"payload-$i".getBytes("UTF-8")))
    val out = Multimodal.decodePartition(in.iterator).toSeq
    assert(out.length == 100)
    assert(out.map(_.doc_id) == (0L until 100L))
  }

  test("frameSample strides, resize crops and pads, features are exact") {
    val bytes = (0 until 100).map(i => ('a' + i % 26).toByte).toArray
    // 100 bytes → 7 frames of 16 (last short: 4 bytes); stride 4 → j=0, 4
    val frames = Multimodal.frameSample(bytes, 16, 4)
    assert(frames.length == 2)
    assert(frames.head.length == 16)
    // resize crops to 8
    assert(Multimodal.resize(frames.head, 8).toSeq == bytes.take(8).toSeq)
    // resize pads a short frame with 0x20
    val short = Multimodal.resize(Array[Byte]('x'), 4)
    assert(short.toSeq == Seq[Byte]('x', ' ', ' ', ' '))
    // features: deterministic, energy = byte sum of resized frames
    val f1 = Multimodal.frameFeatures(1L, bytes)
    val f2 = Multimodal.frameFeatures(1L, bytes)
    assert(f1 == f2)
    assert(f1.n_frames == 2)
    val expectedEnergy = (bytes.slice(0, 8) ++ bytes.slice(64, 72))
      .map(b => (b & 0xff).toLong).sum
    assert(f1.energy == expectedEnergy)
    assert(f1.frame_digest.matches("[0-9a-f]{32}"))
  }

  test("dHash: bit placement, padding, and locality") {
    // all-space blob: every comparison is space vs space → no bit set
    assert(Multimodal.dHash(Array.fill(600)(' '.toByte)) == 0L)
    // empty blob: rows pad to all-spaces → same signature as all-space
    assert(Multimodal.dHash(Array.empty[Byte]) == 0L)
    // a single ascending pair in row 0 sets exactly bit 0
    val b0 = Array.fill(600)(' '.toByte); b0(1) = 'z'.toByte
    assert(Multimodal.dHash(b0) == 1L)
    // the same pair moved to row r, column c sets exactly bit r*7+c
    val b1 = Array.fill(600)(' '.toByte)
    b1(64 * 3 + 5) = ' '.toByte; b1(64 * 3 + 6) = 'z'.toByte
    assert(Multimodal.dHash(b1) == (1L << (3 * 7 + 5)))
    // signature uses only the 9 sampled 8-byte rows: mutating any byte
    // outside them leaves the hash unchanged (locality = what makes the
    // fixed grid robust to downstream edits for shared-prefix near-dups)
    val base = (0 until 600).map(i => (('a' + i % 26).toByte)).toArray
    val mutated = base.clone(); mutated(32) = 'Z'.toByte; mutated(599) = '!'.toByte
    assert(Multimodal.dHash(base) == Multimodal.dHash(mutated))
    // 63-bit: the sign bit is never set, so BIGINT round-trips exactly
    val desc = (0 until 600).map(i => ((255 - i % 256).toByte)).toArray
    assert(Multimodal.dHash(desc) >= 0L)
    // unsigned comparison: 0x7f < 0x80 as unsigned bytes → bit set
    val us = Array.fill(600)(' '.toByte); us(0) = 0x7f.toByte; us(1) = 0x80.toByte
    assert((Multimodal.dHash(us) & 1L) == 1L)
  }

  test("DHash63 expression (interpreted AND codegen) equals the JVM kernel") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Tables.t(spark, SparkTestSession.sfDir, "documents")
      .select($"doc_id", $"text").limit(100).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val viaExpr = docs.toSeq.toDF("doc_id", "text")
      .select($"doc_id", graft.functions.DHash63.dhash63(
        org.apache.spark.sql.functions.encode($"text", "UTF-8")).as("dh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKernel = docs.map { case (id, t) =>
      id -> graft.operators.Multimodal.dHash(t.getBytes("UTF-8"))
    }.toMap
    assert(viaExpr == viaKernel)
    // the SQL path too, through the injected builder
    docs.toSeq.toDF("doc_id", "text").createOrReplaceTempView("dh_t")
    val sqlMap = spark.sql(
      "SELECT doc_id, dhash63(encode(text, 'UTF-8')) AS dh FROM dh_t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlMap == viaKernel)
  }

  test("dHash near-dup pairs are symmetric-free, ordered, and within threshold") {
    val df = SparkEntry.queries("q143_dhash_neardup")(
      SparkTestSession.spark, SparkTestSession.sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq == Seq("d1", "d2", "hamming"))
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be d1 < d2")
      assert(r.getInt(2) <= 2, "pairs past the declared threshold")
    }
  }

  test("multimodal query plumbs binary through mapPartitions") {
    val df = SparkEntry.queries("q50_multimodal_meta")(
      SparkTestSession.spark, SparkTestSession.sfDir)
    assert(df.columns.toSeq ==
      Seq("doc_id", "n_bytes", "magic", "fake_width", "fake_height"))
    assert(df.count() > 0)
  }

  test("audio kernel: framing, energy, zero crossings by hand") {
    import graft.operators.Multimodal
    // constant signal: 48 bytes of 'a' (c = 33) -> 2 overlapping full
    // frames, per-frame energy 32*33^2, no crossings
    val const = Multimodal.audioFeatures(1L, Array.fill(48)('a'.toByte))
    assert(const.n_frames == 2)
    assert(const.energy == 2L * 32 * 33 * 33)
    assert(const.peak == 32L * 33 * 33)
    assert(const.zc == 0)

    // 16 a's + 16 spaces + 16 a's: each frame crosses the 64-center
    // exactly once (letters positive, spaces negative)
    val word = Multimodal.audioFeatures(2L,
      ("a" * 16 + " " * 16 + "a" * 16).getBytes("UTF-8"))
    assert(word.n_frames == 2)
    val fe = 16L * 33 * 33 + 16L * 32 * 32
    assert(word.energy == 2 * fe && word.peak == fe)
    assert(word.zc == 2)

    // full-frames-only framing: 47 bytes -> 1 frame, 31 -> none
    assert(Multimodal.audioFeatures(3L, Array.fill(47)('a'.toByte)).n_frames == 1)
    val empty = Multimodal.audioFeatures(4L, Array.fill(31)('a'.toByte))
    assert(empty.n_frames == 0 && empty.energy == 0 && empty.peak == 0)

    // envelope digest identifies the frame-energy sequence, not the raw
    // bytes: 'b'*48 differs from 'a'*48, equal signals agree
    assert(Multimodal.audioFeatures(5L, Array.fill(48)('a'.toByte))
      .env_digest == const.env_digest)
    assert(Multimodal.audioFeatures(6L, Array.fill(48)('b'.toByte))
      .env_digest != const.env_digest)
  }
}
