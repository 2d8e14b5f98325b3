package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.sources.{DeletionVectors, DeltaReader, Z85}
import graft.functions.{ValueWeight, WeightedPercentileAgg}
import graft.streaming.Sessionize

/** Property tests for every hand-written kernel (SURVEY §5 plan item 3):
  * codecs round-trip, aggregation buffers are merge-order-invariant, and
  * fold semantics match a reference implementation. Pure-JVM (no Spark
  * session needed). */
object PropertySpec extends Properties("graft-kernels") {

  // the characters URL decoding rewrites, mixed into arbitrary text
  private val pathText = Gen.listOf(Gen.frequency(
    3 -> Gen.oneOf('%', '+', ' ', '/', '=', '2', 'B'),
    2 -> org.scalacheck.Arbitrary.arbitrary[Char])).map(_.mkString)

  property("delta path encoding round-trips through the readers' decoding") =
    forAll(pathText) { s =>
      DeltaReader.decodePath(DeltaReader.encodePath(s)) == s
    }

  property("z85 round-trips 4-aligned byte arrays") =
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))) { bytes0 =>
      val bytes = bytes0.take(bytes0.size / 4 * 4).toArray
      Z85.decode(Z85.encode(bytes)).toSeq == bytes.toSeq
    }

  private val rowGen = Gen.listOf(Gen.oneOf(
    Gen.choose(0L, 1000L),
    Gen.choose(60000L, 70000L),            // crosses 16-bit container keys
    Gen.choose(4294967290L, 4294967400L))) // crosses the 32-bit bitmap split

  property("roaring array round-trips row-index sets") = forAll(rowGen) { rows =>
    val set = rows.toSet
    DeletionVectors.parseRoaringArray(
      DeletionVectors.serializeRoaringArray(set.toSeq)).toSet == set
  }

  // past the 4096-cardinality threshold the serializer MUST switch to
  // 8 KiB bitmap containers (the portable format dispatches on
  // cardinality, so an oversized array container would be mis-read) —
  // the write side of deleteWithVectors hits this on any large delete
  property("roaring array round-trips dense containers (bitmap-container path)") =
    forAll(Gen.choose(4097, 8000), Gen.choose(0, 3)) { (n, key) =>
      val base = key.toLong * 65536L
      val rows = (0 until n).map(i => base + i * 2L)
      DeletionVectors.parseRoaringArray(
        DeletionVectors.serializeRoaringArray(rows)).toSet == rows.toSet
    }

  property("Md5Long.hash60 equals the hex spelling conv(substr(md5,2,15),16,10)") =
    forAll(Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("a", "Z", "0", " ", "é", "ß", "中", "🦀"))
        .map(_.mkString))) { s =>
      val bytes = s.getBytes("UTF-8")
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
      graft.functions.Md5Long.hash60(bytes) ==
        java.lang.Long.parseLong(hex.substring(1, 16), 16)
    }

  // space runs, edge spaces and multi-byte characters: every shape
  // `split(text, ' ')` turns into empty or non-ASCII words
  private val spacedText = Gen.listOf(Gen.oneOf(
    "a", "Z", "0", "ab", " ", "  ", "é", "ß", "中", "🦀")).map(_.mkString)

  property("word_ngram_md5_60 == md5_60(concat_ws(' ', slice(split(t,' '), i, k))), codegen and interpreted") =
    forAll(spacedText, Gen.choose(1, 5)) { (text, k) =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.sql.types.StringType
      val row = InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      val in = BoundReference(0, StringType, nullable = false)
      val words = StringSplit(in, Literal(" "), Literal(-1))
      val n = words.eval(row).asInstanceOf[ArrayData].numElements()
      val composable = (1 to n - k + 1).map { i =>
        graft.functions.Md5Long(ConcatWs(Seq(Literal(" "),
          Slice(words, Literal(i), Literal(k))))).eval(row)
          .asInstanceOf[Long]
      }
      val native = graft.functions.WordNgramMd5Long(in, Literal(k))
      val interpreted = native.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
      val codegen = GenerateUnsafeProjection.generate(Seq(native))
        .apply(row).getArray(0).toLongArray.toSeq
      Prop(interpreted == composable) && Prop(codegen == composable)
    }

  property("roaring RUN containers round-trip row-index sets") =
    forAll(rowGen) { rows =>
      val set = rows.toSet
      DeletionVectors.parseRoaringArray(
        DeletionVectors.serializeRoaringArrayRuns(set.toSeq)).toSet == set
    }

  private val vwGen = Gen.zip(Gen.choose(0L, 50L), Gen.choose(1L, 20L))
    .map { case (v, w) => ValueWeight(v, w) }

  property("weighted p50: split/merge invariant + matches reference") =
    forAll(Gen.nonEmptyListOf(vwGen), Gen.choose(0, 100)) { (xs, cut0) =>
      val agg = new WeightedPercentileAgg(1L, 2L)
      val whole = xs.foldLeft(agg.zero)(agg.reduce)
      val (l, r) = xs.splitAt(cut0 % xs.size)
      val split = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      val total = xs.map(_.w).sum
      val byV = xs.groupBy(_.v).view.mapValues(_.map(_.w).sum).toSeq.sortBy(_._1)
      var cum = 0L
      val ref = byV.find { case (_, w) => cum += w; cum * 2 >= total }.get._1
      Prop(agg.finish(whole) == agg.finish(split)) &&
        Prop(agg.finish(whole) == ref)
    }

  private val evGen = Gen.zip(Gen.choose(0L, 100000L), Gen.choose(0L, 500L))
    .map { case (t, c) => Sessionize.Event(1L, t, c) }

  property("sessionize fold partitions events and respects gaps") =
    forAll(Gen.nonEmptyListOf(evGen)) { xs =>
      val sorted = xs.sortBy(e => (e.epoch_s, e.value_c))
      val (closed, open) = Sessionize.fold(1L, None, sorted, 1800L)
      val all = closed ++ open.map(s =>
        Sessionize.Session(1L, s.start_s, s.last_s, s.n, s.cents))
      val partitioned = all.map(_.n_events).sum == xs.size.toLong &&
        all.map(_.cents).sum == xs.map(_.value_c).sum
      val separated = all.sliding(2).forall {
        case Seq(a, b) => b.start_s - a.end_s > 1800L
        case _         => true
      }
      val bounded = all.forall(s =>
        s.end_s - s.start_s <= (s.n_events - 1) * 1800L)
      Prop(partitioned) && Prop(separated) && Prop(bounded)
    }

  private val wordGen = Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    .map(_.mkString(" "))

  property("near-dup band kernel: 4 bands iff >=3 words; h60 in [0, 2^60)") =
    forAll(wordGen) { text =>
      import graft.streaming.StreamNearDup
      val bs = StreamNearDup.bands(text)
      val n = text.split(" ", -1).length
      val shape =
        if (n >= 3) bs.map(_._1) == Seq(0, 1, 2, 3) &&
          bs.forall(_._2.split(",").length == 4)
        else bs.isEmpty
      val range = {
        val h = StreamNearDup.h60(text)
        h >= 0L && h < (1L << 60)
      }
      // identical text → identical signatures (pure function, the
      // cross-batch bucketing contract)
      Prop(shape) && Prop(range) && Prop(bs == StreamNearDup.bands(text))
    }

  // ---- q135's interval-union sweep: the clipped-contribution formula
  // (sort by start, clip each interval at the running max end of its
  // predecessors, sum lengths) must equal the brute-force union size for
  // ANY interval set — including nested, duplicated, and chained-overlap
  // cases the corpus may never exercise.
  private val intervalsGen = Gen.listOf(for {
    s <- Gen.choose(1L, 50L)
    len <- Gen.choose(1L, 12L)
  } yield (s, s + len - 1))

  property("interval-union sweep equals brute-force union size") =
    forAll(intervalsGen) { iv =>
      val sorted = iv.sorted // (start, end) lexicographic — the q135 ORDER BY
      var prevEnd = 0L
      var covered = 0L
      sorted.foreach { case (s, e) =>
        covered += math.max(0L, e - math.max(s, prevEnd + 1L) + 1L)
        prevEnd = math.max(prevEnd, e)
      }
      covered == iv.flatMap { case (s, e) => s to e }.toSet.size
    }

  // ---- q136's winnowing guarantee (Schleimer et al. 2003): two
  // documents sharing a token run of >= w + G - 1 tokens share at least
  // one selected fingerprint. Reference selection mirrors the query
  // bit-for-bit: 60-bit gram hash → mod 2^48 → packed (hash, pos) key →
  // per-window min → div 4096.
  private def winnowFps(words: Seq[String]): Set[Long] = {
    val G = 5; val W = 4
    val grams = (1 to words.length - G + 1).map { k =>
      val h = graft.functions.Md5Long.hash60(
        words.slice(k - 1, k - 1 + G).mkString(" ").getBytes("UTF-8"))
      (h % 281474976710656L) * 4096L + k
    }
    (0 to grams.length - W).map(j => grams.slice(j, j + W).min / 4096L).toSet
  }

  private val docGen = Gen.nonEmptyListOf(Gen.oneOf(
    "aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"))

  property("winnowing: docs sharing a w+G-1 token run share a fingerprint") =
    forAll(docGen, docGen, Gen.choose(0, 1000), Gen.choose(0, 1000)) {
      (a0, b0, cutSeed, insSeed) =>
        val run = 8 // W + G - 1
        val a = if (a0.length >= run) a0 else a0 ++ List.fill(run - a0.length)("aa")
        val cut = cutSeed % (a.length - run + 1)
        val shared = a.slice(cut, cut + run)
        val ins = insSeed % (b0.length + 1)
        val b = b0.take(ins) ++ shared ++ b0.drop(ins)
        (winnowFps(a) intersect winnowFps(b)).nonEmpty
    }

  // ---- dHash pigeonhole blocking (queries q143): hamming <= 2 between
  // two 63-bit signatures FORCES at least one identical 21-bit chunk —
  // the exact-recall guarantee the (chunk, value) equi-join relies on.
  private def chunks21(h: Long): Seq[Long] =
    (0 until 3).map(c => (h >>> (21 * c)) & 0x1FFFFFL)

  property("dHash blocking: hamming<=2 pairs always share a 21-bit chunk") =
    forAll(Gen.choose(0L, (1L << 63) - 1),
      Gen.listOfN(2, Gen.choose(0, 62))) { (h0, flips) =>
      val h1 = flips.foldLeft(h0)((h, b) => h ^ (1L << b))
      java.lang.Long.bitCount(h0 ^ h1) > 2 ||
        chunks21(h0).zip(chunks21(h1)).exists { case (a, b) => a == b }
    }

  property("dHash: an ascending pair planted at (r,c) sets exactly bit r*7+c") =
    forAll(Gen.choose(0, 8), Gen.choose(0, 6)) { (r, c) =>
      // every row strictly descending → no comparison fires → hash 0
      val base = Array.tabulate[Byte](600)(i => (100 - (i % 64)).toByte)
      // raise the byte RIGHT of (r, c): row r reads … (100-c), 120 … —
      // the (c, c+1) comparison must now fire, the (c+1, c+2) one (120 >
      // anything left in the row) and every other row must not, so the
      // hash moves by exactly the one predicted bit: the sensitivity
      // HALF of the kernel contract (the locality half — bytes outside
      // the grid never matter — is MultimodalSpec's)
      val mut = base.clone(); mut(64 * r + c + 1) = 120.toByte
      graft.operators.Multimodal.dHash(base) == 0L &&
        graft.operators.Multimodal.dHash(mut) == (1L << (r * 7 + c))
    }

  // ---- Audio-envelope kernel (q150): the while-loop framing must
  // equal a naive collections-based reference (32-sample windows, hop
  // 16, full frames only, centered at 64, crossings strict sign flips).
  property("audio kernel == naive framed reference") =
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))) { bs =>
      val bytes = bs.toArray
      val frames =
        if (bytes.length < 32) Seq.empty
        else (0 to (bytes.length - 32) / 16)
          .map(k => bytes.slice(16 * k, 16 * k + 32).map(b => (b & 0xff) - 64))
      val fes = frames.map(_.map(c => c.toLong * c).sum)
      val zc = frames.map(f =>
        f.zip(f.tail).count { case (a, b) => a.toLong * b < 0 }.toLong).sum
      val got = graft.operators.Multimodal.audioFeatures(7L, bytes)
      got.n_frames == frames.size && got.energy == fes.sum &&
        got.zc == zc && got.peak == (if (fes.isEmpty) 0L else fes.max) &&
        got.env_digest.length == 32
    }

  // ---- BPE wrapped-replace merge kernel (q148): merging pair (l, r)
  // on the '~s1~~s2~…' wrapped encoding via literal replace must equal
  // the greedy left-to-right list merge — including shared-boundary
  // runs ('~a~~a~~a~' merges once) and prefix aliasing ((a, ab) must
  // not fire inside '~a~~abc~'), which is why every symbol is FULLY
  // wrapped and each boundary carries two delimiters.
  private def bpeGreedy(syms: List[String], l: String, r: String): List[String] = {
    val out = List.newBuilder[String]
    var rest = syms
    while (rest.nonEmpty) rest match {
      case a :: b :: t if a == l && b == r => out += (l + r); rest = t
      case a :: t => out += a; rest = t
      case Nil => ()
    }
    out.result()
  }
  private def bpeWrap(syms: Seq[String]): String = syms.map("~" + _ + "~").mkString

  private val bpeSym = Gen.oneOf("a", "b", "aa", "ab", "ba", "aab")

  property("bpe merge: wrapped literal replace == greedy list merge") =
    forAll(Gen.listOf(bpeSym), bpeSym, bpeSym) { (syms, l, r) =>
      bpeWrap(syms).replace(s"~$l~~$r~", s"~$l$r~") ==
        bpeWrap(bpeGreedy(syms, l, r))
    }

  // ---- BM25 integer term score (q145): the SHIPPED two-stage integer
  // spelling (inner (9·dl·n) DIV tt floor, then the outer DIV — exactly
  // Pipeline.scala's q145 expression, so a precedence/floor-placement
  // regression in the kernel breaks this property) must keep BM25's
  // structural properties — monotonically non-decreasing in tf
  // (saturating), monotonically non-increasing in df (idf), positive —
  // or the retrieval ranking silently inverts. The inner floor is
  // constant in tf and df, so both monotonicities survive it.
  private def bm25TermPpm(tf: Long, df: Long, dl: Long,
      n: Long, tt: Long): Long =
    1000000L * (2 * n - 2 * df + 1) * 22 * tf /
      ((2 * df + 1) * (10 * tf + 3 + (9 * dl * n) / tt))

  /** The pre-reduced single-division rational form (the r12 spelling —
    * overflows one corpus size above the tested SFs, kept here only as
    * the closeness yardstick for the shipped kernel). */
  private def bm25TermPpmRational(tf: Long, df: Long, dl: Long,
      n: Long, tt: Long): Long =
    1000000L * (2 * n - 2 * df + 1) * 22 * tf * tt /
      ((2 * df + 1) * (10 * tf * tt + 3 * tt + 9 * dl * n))

  property("bm25 ppm term: saturating in tf, decreasing in df, positive") =
    forAll(Gen.choose(1L, 50L), Gen.choose(1L, 200L), Gen.choose(10L, 600L),
      Gen.choose(400L, 5000L)) { (tf, df0, dl, n) =>
      val df = math.min(df0, n / 2)      // the positive-idf guard region
      val tt = n * 50                     // plausible corpus token total
      val s = bm25TermPpm(tf, df, dl, n, tt)
      s > 0 &&
        bm25TermPpm(tf + 1, df, dl, n, tt) >= s &&
        (df < 2 || bm25TermPpm(tf, df - 1, dl, n, tt) >= s)
    }

  property("bm25 ppm term: within the documented envelope of the rational form") =
    forAll(Gen.choose(1L, 50L), Gen.choose(1L, 200L), Gen.choose(10L, 600L),
      Gen.choose(400L, 5000L)) { (tf, df0, dl, n) =>
      val df = math.min(df0, n / 2)
      val tt = n * 50
      val s = bm25TermPpm(tf, df, dl, n, tt)
      val r = bm25TermPpmRational(tf, df, dl, n, tt)
      // the inner floor drops <1 off a denominator factor that is >= 13,
      // so the shipped score sits in [rational - 1, rational·(1 + 1/13) + 1]
      s >= r - 1 && s <= r + r / 13 + 1
    }

  // ---- Misra-Gries summary (q153): the mergeable-summaries guarantee
  // that makes the two-pass verified-heavy-hitters output deterministic.
  // Alphabet (100 symbols, Zipf-flavored) deliberately exceeds the
  // capacity (8) so the reduce-time decrement-all AND merge-time
  // kth-subtraction paths both fire — the sf corpus (31-token vocab vs
  // 31 counters) never evicts, so this is where those paths are tested.
  private val mgStreamGen: Gen[(List[String], List[Int], Long)] = for {
    // skew: low symbol ids drawn quadratically more often
    syms <- Gen.listOf(Gen.choose(0, 99).map(i => s"t${(i * i) / 100}"))
    cuts <- Gen.listOf(Gen.choose(0, math.max(0, syms.size)))
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield (syms, cuts, seed)

  property("misra-gries: every item above n/(m+1) survives any split+merge order; undercount <= n/(m+1)") =
    forAll(mgStreamGen) { case (syms, cuts, seed) =>
      val capacity = 8
      val agg = new graft.functions.MisraGriesAgg(capacity)
      // random partitioning into chunks, each reduced independently
      val bounds = (cuts.map(c => math.min(c, syms.size)) :+ 0 :+ syms.size)
        .distinct.sorted
      val chunks = bounds.zip(bounds.tail).map { case (a, b) =>
        syms.slice(a, b).foldLeft(agg.zero)(agg.reduce)
      }
      // random merge order
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(chunks)
      val (summary, n) =
        if (shuffled.isEmpty) agg.zero
        else shuffled.reduce(agg.merge)
      val exact = syms.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = n / (capacity + 1)
      n == syms.size.toLong &&
        summary.size <= capacity &&
        // guarantee: true heavies always survive
        exact.forall { case (w, c) => c <= bound || summary.contains(w) } &&
        // estimates never overcount and undercount by at most n/(m+1)
        summary.forall { case (w, est) =>
          val c = exact.getOrElse(w, 0L)
          est <= c && c - est <= bound
        }
    }

  // ---- Delta action codec: parse(write(a)) == a for every action kind,
  // over paths and keys with spaces, quotes, backslashes, control
  // characters and non-ASCII text
  private object delta {
    import graft.sources.DeltaActions._
    val text: Gen[String] = Gen.oneOf(Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("a", "Z", "0", " ", "\"", "\\", "/", "%20", "=",
        "\n", "\t", "\u0001", "é", "ß", "中", "🦀")).map(_.mkString))
    val opt: Gen[Option[String]] = Gen.option(text)
    val strMap: Gen[Map[String, String]] =
      Gen.mapOf(Gen.zip(text, text))
    val pv: Gen[Map[String, Option[String]]] =
      Gen.mapOf(Gen.zip(text, opt)) // None = a null partition value
    val long: Gen[Long] = Gen.choose(0L, Long.MaxValue)
    val dv: Gen[DvDescriptor] = for {
      st <- Gen.oneOf("i", "u", "p")
      where <- text
      off <- Gen.choose(0, Int.MaxValue)
      sz <- Gen.choose(1, Int.MaxValue)
      card <- long
    } yield DvDescriptor(st, where, off, sz, card) // inline and on-disk
    val add: Gen[Action] = for {
      path <- text; size <- long; p <- pv; d <- Gen.option(dv)
      stats <- Gen.option(text.map("{" + _)); tags <- strMap
      mtime <- long; dc <- Gen.oneOf(true, false)
    } yield AddFile(path, size, p, d, stats, tags, mtime, dc)
    val remove: Gen[Action] = for {
      path <- text; ts <- Gen.option(long); dc <- Gen.oneOf(true, false)
      ext <- Gen.option(Gen.oneOf(true, false)); p <- Gen.option(pv)
      size <- Gen.option(long); d <- Gen.option(dv)
    } yield RemoveFile(path, ts, dc, ext, p, size, d)
    val metadata: Gen[Action] = for {
      id <- text; schema <- text; parts <- Gen.listOf(text)
      conf <- strMap; created <- Gen.option(long); name <- opt
      desc <- opt; provider <- text; options <- strMap
    } yield Metadata(id, schema, parts, conf, created, name, desc,
      provider, options)
    val protocol: Gen[Action] = for {
      r <- Gen.choose(1, 3); w <- Gen.choose(1, 7)
      rf <- Gen.option(Gen.listOf(text)); wf <- Gen.option(Gen.listOf(text))
    } yield Protocol(r, w, rf, wf)
    val action: Gen[Action] = Gen.oneOf(add, remove, metadata, protocol,
      Gen.zip(text, pv, long, Gen.oneOf(true, false))
        .map { case (p, v, sz, dc) => AddCDCFile(p, v, sz, dc) },
      Gen.zip(text, long, Gen.option(long))
        .map { case (id, v, lu) => Txn(id, v, lu) }, // with/without lastUpdated
      Gen.zip(Gen.option(long), opt, opt)
        .map { case (ts, op, eng) => CommitInfo(ts, op, eng) },
      Gen.zip(text, long, long)
        .map { case (p, sz, mt) => Sidecar(p, sz, mt) })
  }

  property("delta actions round-trip: parse(write(a)) == a") =
    forAll(delta.action) { a =>
      graft.sources.DeltaActions.parse(graft.sources.DeltaActions.write(a))
        .contains(a)
    }
}
