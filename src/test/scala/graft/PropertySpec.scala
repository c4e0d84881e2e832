package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.LongType
import graft.functions.{Md5Prefix60, SeqPattern, WindowFunnelAgg}
import scala.collection.mutable.ArrayBuffer

/** Property-based checks for the pure kernels: the funnel carry
  * against a brute-force existential reference, the sequence matcher
  * against first-principles subsequence/adjacency definitions, and the
  * fused md5 prefix against the JDK digest it claims to equal.
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampling loop (scalatestplus isn't vendored; raw
    * scalacheck generators + a fixed seed give the same coverage and
    * reproducible failures). */
  private def forAll[A](gen: Gen[A], n: Int = 300)(body: A => Unit): Unit = {
    var seed = Seed(20260815L)
    val params = Gen.Parameters.default
    (1 to n).foreach { _ =>
      body(gen.pureApply(params, seed))
      seed = seed.next
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => body(t._1, t._2))
  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(
      body: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => body(t._1, t._2, t._3))

  // ---- Md5Prefix60: fused hash == first 60 bits of the JDK digest ----

  test("md5Prefix60 equals the leading 60 bits of MessageDigest md5") {
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))) { bs =>
      val bytes = bs.toArray
      val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
      assert(Md5Prefix60.hash(bytes) === java.lang.Long.parseLong(hex, 16))
    }
  }

  // ---- WindowFunnelAgg vs brute-force existential chains ----

  /** Brute force: max k such that SOME strictly-ts-increasing event
    * subsequence matches conds 1..k with every step within `w` of the
    * first step. Exponential, fine at <= 10 events. */
  private def bruteFunnel(events: Seq[(Long, Long)], n: Int, w: Long,
                          strict: Boolean): Int = {
    val sorted = events.sorted
    def extend(level: Int, startTs: Long, lastTs: Long, fromIdx: Int): Int = {
      var best = level
      var i = fromIdx
      while (i < sorted.length) {
        val (t, mask) = sorted(i)
        if (level < n && ((mask >> level) & 1L) == 1L &&
            t - startTs <= w && (!strict || t > lastTs)) {
          best = math.max(best, extend(level + 1, startTs, t, i + 1))
        }
        i += 1
      }
      best
    }
    var best = 0
    sorted.indices.foreach { i =>
      val (t, mask) = sorted(i)
      if ((mask & 1L) == 1L)
        best = math.max(best, extend(1, t, t, i + 1))
    }
    best
  }

  private val eventGen = for {
    nEvents <- Gen.choose(0, 10)
    events <- Gen.listOfN(nEvents, for {
      t <- Gen.choose(0L, 30L)
      mask <- Gen.choose(1L, 7L) // up to 3 conditions, possibly multi
    } yield (t, mask))
  } yield events

  test("windowFunnel carry equals brute-force existential search (strict, distinct ts)") {
    forAll(eventGen, Gen.choose(1L, 25L)) { (events0, w) =>
      // strict mode semantics diverge from the existential reference
      // only on duplicate timestamps (carry keeps one candidate per
      // level) — the fixture-realistic regime is distinct ts
      val events = events0.groupBy(_._1).map(_._2.head).toSeq
      val agg = WindowFunnelAgg(w, strictIncrease = true,
        Literal(0L, LongType), Seq(Literal(true), Literal(true), Literal(true)))
      val buf = ArrayBuffer.empty[(Long, Long)]
      buf ++= events
      assert(agg.eval(buf) === bruteFunnel(events, 3, w, strict = true),
        s"events=$events w=$w")
    }
  }

  test("windowFunnel merge order never changes the result") {
    forAll(eventGen, Gen.choose(1L, 25L), Gen.choose(1, 5)) { (events, w, cut0) =>
      val agg = WindowFunnelAgg(w, strictIncrease = false,
        Literal(0L, LongType), Seq(Literal(true), Literal(true), Literal(true)))
      val whole = ArrayBuffer.empty[(Long, Long)] ++= events
      val cut = math.min(cut0, events.length)
      val (a, b) = events.splitAt(cut)
      val merged = agg.merge(
        ArrayBuffer.empty[(Long, Long)] ++= b,
        ArrayBuffer.empty[(Long, Long)] ++= a)
      assert(agg.eval(merged) === agg.eval(whole))
    }
  }

  // ---- SeqPattern vs first-principles definitions ----

  private val seqGen = for {
    nEvents <- Gen.choose(0, 12)
    events <- Gen.listOfN(nEvents, for {
      t <- Gen.choose(0L, 40L)
      k <- Gen.choose(0, 2) // one-hot conditions 1..3
    } yield (t, 1L << k))
  } yield events.sorted

  test("(?a).*(?b) matches iff cond-b follows cond-a in the sequence") {
    forAll(seqGen) { events =>
      val evs = events.toArray
      val toks = SeqPattern.parse("(?1).*(?2)", 3)
      val got = SeqPattern.search(toks, evs, 0) != null
      val want = evs.indices.exists(i => (evs(i)._2 & 1L) == 1L &&
        (i + 1 until evs.length).exists(j => (evs(j)._2 & 2L) == 2L))
      assert(got === want, evs.mkString(","))
    }
  }

  test("(?a)(?b) matches iff the pair is positionally adjacent") {
    forAll(seqGen) { events =>
      val evs = events.toArray
      val toks = SeqPattern.parse("(?1)(?2)", 3)
      val got = SeqPattern.search(toks, evs, 0) != null
      val want = (0 until evs.length - 1).exists(i =>
        (evs(i)._2 & 1L) == 1L && (evs(i + 1)._2 & 2L) == 2L)
      assert(got === want, evs.mkString(","))
    }
  }

  test("(?a)(?t<=w)(?b) additionally bounds the adjacent gap") {
    forAll(seqGen, Gen.choose(0L, 20L)) { (events, w) =>
      val evs = events.toArray
      val toks = SeqPattern.parse(s"(?1)(?t<=$w)(?2)", 3)
      val got = SeqPattern.search(toks, evs, 0) != null
      val want = (0 until evs.length - 1).exists(i =>
        (evs(i)._2 & 1L) == 1L && (evs(i + 1)._2 & 2L) == 2L &&
          evs(i + 1)._1 - evs(i)._1 <= w)
      assert(got === want, s"${evs.mkString(",")} w=$w")
    }
  }

  // ---- streaming histogram invariants under random data + merges ----

  test("histogram sketch: exact mass, bounded bins, covering bounds, any merge split") {
    import graft.functions.HistogramAgg
    val dataGen = for {
      n <- Gen.choose(0, 400)
      xs <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
    } yield xs
    forAll(Gen.zip(dataGen, Gen.choose(1, 12), Gen.choose(0, 10)), n = 120) {
      case (xs, bins, cutSeed) =>
        val agg = HistogramAgg(bins,
          org.apache.spark.sql.catalyst.expressions.BoundReference(0,
            org.apache.spark.sql.types.DoubleType, nullable = false))
        def feed(values: Seq[Double]): HistogramAgg.Buf =
          values.foldLeft(agg.createAggregationBuffer()) { (b, x) =>
            agg.update(b, org.apache.spark.sql.catalyst.InternalRow(x))
          }
        val cut = if (xs.isEmpty) 0 else cutSeed % (xs.length + 1)
        val (a, b) = xs.splitAt(cut)
        val merged = agg.merge(feed(a), feed(b))
        val out = agg.eval(merged)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val rows = (0 until out.numElements()).map { i =>
          val r = out.getStruct(i, 3)
          (r.getDouble(0), r.getDouble(1), r.getDouble(2))
        }
        assert(rows.length <= bins)
        if (xs.nonEmpty) {
          assert(rows.map(_._3).sum === xs.length.toDouble) // exact mass
          assert(rows.head._1 <= xs.min && rows.last._2 >= xs.max)
          assert(rows.forall { case (lo, hi, h) => lo <= hi && h > 0 })
          // bins are sorted and contiguous-ordered
          assert(rows.sliding(2).forall {
            case Seq((_, hi1, _), (lo2, _, _)) => hi1 <= lo2 + 1e-9
            case _ => true
          })
        } else assert(rows.isEmpty)
    }
  }

  // ---- ChCompression framing under random payloads + chunked reads ----

  private val payloadGen: Gen[Array[Byte]] = Gen.oneOf(
    // random bytes (incompressible), sized 0..4096
    Gen.choose(0, 4096).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)),
    // low-entropy runs (the compressible regime)
    Gen.zip(Gen.choose(0, 50000), Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map { case (n, b) => Array.fill(n)(b) })

  test("compression frames round-trip for every method and payload shape") {
    import graft.formats.ChCompression
    val methods = Seq(ChCompression.MethodLZ4, ChCompression.MethodZSTD,
      ChCompression.MethodNone)
    forAll(Gen.zip(payloadGen, Gen.oneOf(methods)), n = 150) { case (raw, m) =>
      val frame = ChCompression.compressFrame(raw, m)
      val (back, consumed) = ChCompression.decodeFrame(frame)
      assert(consumed === frame.length)
      assert(java.util.Arrays.equals(back, raw), s"method=$m len=${raw.length}")
    }
  }

  test("frameStream reassembles multi-frame payloads from a dribbling socket") {
    import graft.formats.ChCompression
    // frameStream's contract: the caller consumes EXACTLY the block's
    // bytes (readers decode one block's own structure) — so the test
    // reads precisely the expected length, never past the last frame;
    // payloads are nonempty like every real mid-block frame
    val multiGen = Gen.choose(1, 4).flatMap(k => Gen.listOfN(k,
      payloadGen.map(p => if (p.isEmpty) Array[Byte](7) else p)))
    forAll(Gen.zip(multiGen, Gen.choose(1, 7)), n = 60) { case (parts, chunk) =>
      val wire = parts.map(p => ChCompression.compressFrame(p)).toArray.flatten
      val want = parts.toArray.flatten
      // a socket that returns at most `chunk` bytes per read — frames
      // routinely span reads
      val dribble = new java.io.InputStream {
        private val in = new java.io.ByteArrayInputStream(wire)
        override def read(): Int = in.read()
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          in.read(b, off, math.min(len, chunk))
      }
      val got = ChCompression.frameStream(dribble).readNBytes(want.length)
      assert(java.util.Arrays.equals(got, want))
    }
  }

  test("sequenceCount of an adjacent one-hot pair equals the pair count") {
    forAll(seqGen) { events =>
      val evs = events.toArray
      val toks = SeqPattern.parse("(?1)(?2)", 3)
      var from = 0
      var count = 0
      var hit = SeqPattern.search(toks, evs, from)
      while (hit != null) {
        count += 1
        from = math.max(hit._2, hit._1 + 1)
        hit = if (from > evs.length) null else SeqPattern.search(toks, evs, from)
      }
      val want = (0 until evs.length - 1).count(i =>
        (evs(i)._2 & 1L) == 1L && (evs(i + 1)._2 & 2L) == 2L)
      assert(count === want, evs.mkString(","))
    }
  }

  // ---- SqlScan vs the generator's own lexical truth ----

  /** A generated SQL-ish text as pieces tagged code / not code:
    * literals in both escape forms, quoted identifiers, both comment
    * kinds, nested ()/[] groups, separators and the keyword AND. */
  private type Piece = (String, Boolean)

  private def quotedToken(q: Char): Gen[String] =
    Gen.listOf(Gen.oneOf(Seq("a", ",", ";", "(", ")", "[", "]", " ", "AND",
        "--", "/*", "*/", "\n", "'", "`", "\"").filter(_ != q.toString) ++
      Seq("\\" + q, s"$q$q", "\\\\")))
      .map(parts => q.toString + parts.mkString + q)

  private val commentText =
    Gen.listOf(Gen.oneOf("a", ",", ";", "(", "]", "'", "`", "AND", " ", "--"))
      .map(_.mkString)

  private def scanPieces(depth: Int): Gen[List[Piece]] = {
    val leaf: Gen[List[Piece]] = Gen.frequency(
      6 -> Gen.oneOf("a", "b1", "AND", "and", "x_and", " ", ",", ";", "1")
        .map(w => List((w, true))),
      3 -> Gen.oneOf('\'', '`', '"').flatMap(quotedToken).map(t => List((t, false))),
      1 -> commentText.map(c => List(("--" + c, false), ("\n", true))),
      1 -> Gen.zip(commentText, commentText, commentText)
        .map { case (a, b, c) => List((s"/*$a/*$b*/$c*/", false)) })
    val group: Gen[List[Piece]] =
      Gen.oneOf(("(", ")"), ("[", "]")).flatMap { case (o, c) =>
        Gen.lzy(scanPieces(depth + 1)).map(inner => ((o, true) :: inner) :+ ((c, true)))
      }
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      if (depth < 3) Gen.frequency(4 -> leaf, 1 -> group) else leaf))
      .map(_.flatten)
  }

  test("SqlScan: splits, keywords and bracket matches respect the lexical truth") {
    import graft.dialect.SqlScan
    forAll(scanPieces(0)) { pieces =>
      val text = pieces.map(_._1).mkString
      val code = pieces.flatMap { case (t, c) => Seq.fill(t.length)(c) }.toArray
      // brute-force depth before each char and the stack's bracket pairs
      val depth = new Array[Int](text.length + 1)
      val pair = Array.fill(text.length)(-1)
      var stack = List.empty[Int]
      text.indices.foreach { i =>
        depth(i + 1) = depth(i)
        if (code(i)) text.charAt(i) match {
          case '(' | '[' => stack ::= i; depth(i + 1) += 1
          case ')' | ']' => pair(stack.head) = i; stack = stack.tail; depth(i + 1) -= 1
          case _ =>
        }
      }
      val sc = SqlScan(text)
      for (sep <- Seq(',', ';')) {
        val parts = sc.split(sep)
        assert(parts.mkString(sep.toString) === text, text)
        val cuts = parts.init.scanLeft(-1)(_ + _.length + 1).tail
        cuts.foreach { i =>
          assert(code(i) && depth(i) == 0 && text.charAt(i) == sep, s"$i in $text")
        }
        assert(cuts.length === text.indices.count(i =>
          code(i) && depth(i) == 0 && text.charAt(i) == sep), text)
      }
      def word(c: Char) = c.isLetterOrDigit || c == '_'
      val andHits = Iterator.iterate(sc.keyword("AND"))(i => sc.keyword("AND", i + 3))
        .takeWhile(_ >= 0).toSeq
      val andTruth = (0 to text.length - 3).filter(i => code(i) && depth(i) == 0 &&
        text.regionMatches(true, i, "AND", 0, 3) &&
        (i == 0 || !word(text.charAt(i - 1))) &&
        (i + 3 == text.length || !word(text.charAt(i + 3))))
      assert(andHits === andTruth, text)
      assert(sc.splitKeyword("AND").length === andTruth.length + 1, text)
      text.indices.foreach(i => assert(sc.closing(i) === pair(i), s"$i in $text"))
    }
  }
}
