package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, MinHashLsh, SimHash, SimilarityJoin, CosineKnn}
import graft.functions.TextFns

/** Unit semantics of the custom operators on handcrafted data. */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("TextFns.wordShingles produces ordered distinct 3-grams, [] when short") {
    val df = Seq("a b c d", "x y").toDF("t")
      .select(TextFns.wordShingles(TextFns.tokens(TextFns.norm(col("t"))), 3).as("sh"))
    assert(df.collect().map(_.getSeq[String](0).toList).toList ===
      List(List("a b c", "b c d"), Nil))
  }

  test("AsofJoin matches latest right row at-or-before left ts, per key") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 8L, "c1"), (1L, 10L, "c2"), (1L, 15L, "c3"), (2L, 9L, "c4"))
      .toDF("k", "ts", "tag")
    val out = AsofJoin(left, right, Seq("k"), "ts", "ts", rightPrefix = "r_")
      .select("name", "r_tag").as[(String, String)].collect().toMap
    // p1@10: exact-ts match c2 wins over c1; p2@20: c3; p3@5: no right<=5 -> dropped
    assert(out === Map("p1" -> "c2", "p2" -> "c3"))
  }

  test("AsofJoin forward matches earliest right row at-or-after left ts") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 99L, "p3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 10L, "c1"), (1L, 15L, "c2"), (1L, 25L, "c3"), (2L, 5L, "c4"))
      .toDF("k", "ts", "tag")
    val out = AsofJoin(left, right, Seq("k"), "ts", "ts",
      rightPrefix = "r_", forward = true)
      .select("name", "r_tag").as[(String, String)].collect().toMap
    // p1@10: exact match c1; p2@20: next is c3@25; p3@99: nothing after -> dropped
    assert(out === Map("p1" -> "c1", "p2" -> "c3"))
  }

  test("AsofJoin outer keeps unmatched left rows with nulls") {
    val left = Seq((1L, 1L, "early")).toDF("k", "ts", "name")
    val right = Seq((1L, 99L, "late")).toDF("k", "ts", "tag")
    val out = AsofJoin(left, right, Seq("k"), "ts", "ts", inner = false)
      .select("name", "r_tag").collect()
    assert(out.length === 1 && out(0).getString(0) === "early" && out(0).isNullAt(1))
  }

  test("AsofJoin carries the matched right row ATOMICALLY (nulls included)") {
    // right@ts=2 is the match and its v is null — a per-column
    // ignoreNulls fill would resurrect v=5 from ts=1 (and with two
    // columns could stitch a right row that never existed)
    val left = Seq((1L, 3L, "p")).toDF("k", "ts", "name")
    val right = Seq((1L, 1L, Some(5L), None: Option[String]),
      (1L, 2L, None: Option[Long], Some("y2")))
      .toDF("k", "ts", "v", "w")
    val out = AsofJoin(left, right, Seq("k"), "ts", "ts").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.isNullAt(r.fieldIndex("r_v")), r.toString) // ts=2's null v
    assert(r.getString(r.fieldIndex("r_w")) === "y2")
  }

  test("AsofJoin: NULL join keys never match (equi-join semantics)") {
    val left = Seq((Some(1L), 5L, "a"), (None: Option[Long], 5L, "b"))
      .toDF("k", "ts", "name")
    val right = Seq((Some(1L), 1L, "t1"), (None: Option[Long], 1L, "tn"))
      .toDF("k", "ts", "tag")
    val inner = AsofJoin(left, right, Seq("k"), "ts", "ts")
      .select("name").as[String].collect().toSet
    assert(inner === Set("a")) // null-key left row must not match
    val outer = AsofJoin(left, right, Seq("k"), "ts", "ts", inner = false)
    val b = outer.filter(col("name") === "b").collect().head
    assert(b.isNullAt(b.fieldIndex("r_tag")))
  }

  test("SimHash excludes sub-shingle docs instead of fingerprinting them 0") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = base.split(" ").updated(30, "CHANGED").mkString(" ")
    val docs = Seq((1L, "hi there"), (2L, "buy pills"),
      (3L, base), (4L, nearDup)).toDF("doc_id", "text")
    // sub-shingle docs are excluded from fingerprinting entirely (they
    // used to all fingerprint to 0 and read as hamming-0 duplicates)
    val fps = SimHash.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.keySet === Set(3L, 4L), fps.toString)
    // and real near-dups keep a near-dup-sized distance (random 60-bit
    // fingerprints sit at ~30)
    val hamming = java.lang.Long.bitCount(fps(3L) ^ fps(4L))
    assert(hamming <= 12, s"hamming=$hamming")
    val pairs = SimHash.nearDupPairs(docs, "doc_id", "text", maxDist = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!pairs.contains((1L, 2L)), pairs.toString)
  }

  test("MinHashLsh finds the planted near-dup pair and nothing else") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = base.split(" ").updated(30, "CHANGED").mkString(" ")
    val other = (1 to 60).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("incrementalDedup flags batch dups against the corpus, keeps novel docs") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = base.split(" ").updated(30, "CHANGED").mkString(" ")
    val novel = (1 to 60).map(i => s"z$i").mkString(" ")
    val existing = Seq((10L, base), (20L, base)).toDF("doc_id", "text")
    val incoming = Seq((31L, nearDup), (33L, novel)).toDF("doc_id", "text")
    val out = MinHashLsh.incrementalDedup(existing, incoming,
        "doc_id", "text", threshold = 0.8)
      .orderBy("id").collect()
    assert(out.length === 2)
    // 31 matches both 10 and 20; dup_of must be the minimum existing id
    assert(out(0).getLong(0) === 31L && out(0).getBoolean(1) &&
      out(0).getLong(2) === 10L && out(0).getDouble(3) >= 0.8)
    // 33 is novel: no match, null dup_of/jac
    assert(out(1).getLong(0) === 33L && !out(1).getBoolean(1) &&
      out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("dedupAssignments collapses a >5-hop near-dup chain to one keeper") {
    // Sliding 60-word windows stepping by 2: adjacent docs have shingle
    // Jaccard 56/60 ~ 0.933 (>= 0.9), two apart 54/62 ~ 0.871 (< 0.9) —
    // a pure path graph of diameter 13, well past one-hop-per-round
    // coverage. Connected components must still collapse it to doc 0.
    val words = (0 until 100).map(i => s"w$i")
    val docs = (0 until 14).map { d =>
      (d.toLong, words.slice(2 * d, 2 * d + 60).mkString(" "))
    }.toDF("doc_id", "text")
    val out = MinHashLsh.dedupAssignments(docs, "doc_id", "text", threshold = 0.9)
      .select("id", "rep", "is_kept").as[(Long, Long, Boolean)].collect()
    assert(out.length === 14)
    assert(out.forall(_._2 === 0L), s"all reps must be 0: ${out.mkString(",")}")
    assert(out.count(_._3) === 1)
  }

  test("QualityClassifier learns a separable rule and scores the holdout") {
    // two clearly separable populations: stopword-rich prose vs
    // keyword-mash; label = stopword presence, features include the
    // stop_ratio the rule thresholds -> holdout agreement must be 1.0
    val docs = (0 until 40).map { i =>
      val good = i % 2 == 0
      val text =
        if (good) s"the cat $i and the dog of a house to go w$i x$i"
        else s"k$i v$i z$i q$i m$i n$i p$i r$i s$i t$i u$i w$i"
      (i.toLong, text, good)
    }.toDF("doc_id", "text", "good")
    val withFeats = docs
      .withColumn("toks", TextFns.tokens(TextFns.norm(col("text"))))
      .withColumn("stop_ratio",
        TextFns.countIn(col("toks"), Seq("the", "a", "of", "and", "to"))
          .cast("double") / size(col("toks")))
    val out = graft.operators.QualityClassifier.holdoutAgreement(
      withFeats, "doc_id", "toks", numericCols = Seq("stop_ratio"),
      ruleLabel = col("good"), trainFilter = col("doc_id") < 20,
      minAgreement = 0.95).collect()(0)
    assert(out.getLong(0) === 20L && out.getBoolean(1))
  }

  test("AudioCodec round-trips real WAV bytes; features and decimation are exact") {
    import graft.operators.AudioCodec
    val docs = Seq(3L, 7L).toDF("doc_id")
    val withWav = AudioCodec.attachPayload(docs)
    // payloads are genuine RIFF/WAVE files
    val hdr = withWav.orderBy("doc_id").select("payload")
      .as[Array[Byte]].collect()
    hdr.foreach { b =>
      assert(new String(b.take(4), "US-ASCII") === "RIFF")
      assert(new String(b.slice(8, 12), "US-ASCII") === "WAVE")
      // format-parity proof: the JDK's own WAV reader decodes the
      // payload our direct RIFF writer produced (r16 — the hot path
      // no longer goes through AudioSystem's SPI lookup)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      val fmt = ais.getFormat
      assert(fmt.getSampleRate === 8000f && fmt.getChannels === 1 &&
        fmt.getSampleSizeInBits === 16 && !fmt.isBigEndian)
      assert(ais.readAllBytes().length === (b.length - 44))
    }
    // decoded stats equal a direct recomputation of the sample formula
    def s(id: Long, t: Int): Long = (id * 31 + t.toLong * 17) % 65536 - 32768
    val f = AudioCodec.decodeFeatures(withWav).collect()
      .map(r => r.doc_id -> r).toMap
    for (id <- Seq(3L, 7L)) {
      val n = (id % 800 + 100).toInt
      val xs = (0 until n).map(s(id, _))
      assert(f(id).n_samples === n && f(id).sample_rate === 8000)
      assert(f(id).amp_sum === xs.sum && f(id).sq_sum === xs.map(v => v * v).sum)
      assert(f(id).amp_min === xs.min && f(id).amp_max === xs.max)
      assert(f(id).zero_crossings ===
        xs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
    }
    // decimate-by-4, re-encoded at 2 kHz and decoded again
    val r = AudioCodec.resample(withWav, 4).collect()
      .map(x => x.doc_id -> x).toMap
    for (id <- Seq(3L, 7L)) {
      val n = (id % 800 + 100).toInt
      val dec = (0 until (n + 3) / 4).map(i => s(id, i * 4))
      assert(r(id).new_rate === 2000 && r(id).new_n === dec.length)
      assert(r(id).new_amp_sum === dec.sum)
      assert(r(id).new_sq_sum === dec.map(v => v * v).sum)
    }
  }

  test("AudioCodec.decodeWav fails fast with a clean error on malformed chunk sizes") {
    import graft.operators.AudioCodec
    def riff(chunks: (String, Int, Int)*): Array[Byte] = {
      // (id, declared size, bytes actually present)
      val body = chunks.map(_._3 + 8).sum
      val bb = java.nio.ByteBuffer.allocate(12 + body)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + body).put("WAVE".getBytes("US-ASCII"))
      chunks.foreach { case (id, size, n) =>
        bb.put(id.getBytes("US-ASCII")).putInt(size).put(new Array[Byte](n))
      }
      bb.array()
    }
    val malformed = Seq(
      "negative chunk size" -> riff(("LIST", -8, 0), ("data", 4, 4)),
      "chunk past the end" -> riff(("data", 1 << 20, 16)),
      "short fmt chunk" -> riff(("fmt ", 2, 2), ("data", 4, 4)),
      "truncated header" -> "RIFF".getBytes("US-ASCII"))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    malformed.foreach { case (what, bytes) =>
      val f = Future(AudioCodec.decodeWav(bytes))(ExecutionContext.global)
      val e = intercept[IllegalArgumentException](Await.result(f, 10.seconds))
      assert(e.getMessage.contains("WAV") || e.getMessage.contains("RIFF"), what)
    }
  }

  test("WithFill synthesizes default rows for missing grid points only") {
    val df = Seq((2L, "b", 10.0), (5L, "e", 20.0)).toDF("k", "s", "v")
    val out = graft.operators.WithFill(df, "k", 1L, 7L, 2L) // grid 1,3,5
      .as[(Long, String, Double)].collect().toList
    // original rows kept (2 and 5), grid points 1 and 3 synthesized
    assert(out === List((1L, "", 0.0), (2L, "b", 10.0), (3L, "", 0.0), (5L, "e", 20.0)))
  }

  test("WithFill with prefix keys fills the grid per prefix group") {
    val df = Seq(("x", 0L, 1.0), ("x", 2L, 2.0), ("y", 1L, 3.0))
      .toDF("g", "k", "v")
    val out = graft.operators.WithFill(df, Seq("g"), "k", 0L, 3L)
      .as[(String, Long, Double)].collect().toList
    assert(out === List(
      ("x", 0L, 1.0), ("x", 1L, 0.0), ("x", 2L, 2.0),
      ("y", 0L, 0.0), ("y", 1L, 3.0), ("y", 2L, 0.0)))
  }

  test("WithFill: NULL prefix groups fill once, not per grid point (ADVICE r4)") {
    val df = Seq((Option("x"), 0L, 1.0), (None, 1L, 3.0))
      .toDF("g", "k", "v")
    val out = graft.operators.WithFill(df, Seq("g"), "k", 0L, 3L)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2)))
      .toList
    // the null group keeps its real row at k=1 and fills only 0 and 2;
    // with SQL-null equality every null grid point would be "missing"
    // and k=1 would appear twice
    assert(out.count { case (g, k, _) => g.isEmpty && k == 1L } === 1, out)
    assert(out.count(_._1.isEmpty) === 3, out)
    assert(out.count(_._1.contains("x")) === 3, out)
  }

  test("WithFill INTERPOLATE carries the previous REAL value, nulls included") {
    // real rows at k=1 (v=10) and k=3 (v=null): the fill at k=4 must
    // carry k=3's null, not resurrect k=1's 10; the fill at k=2
    // carries 10
    val df = Seq((1L, Some(10.0)), (3L, None: Option[Double])).toDF("k", "v")
    val out = graft.operators.WithFill(
        df, Nil, ("k", true), 1L, 6L, 1L, interpolate = Seq("v"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toList
    assert(out === List(1L -> Some(10.0), 2L -> Some(10.0),
      3L -> None, 4L -> None, 5L -> None), out)
  }

  test("WithFill honors DESC sort keys (ADVICE r4)") {
    val df = Seq(("x", 0L, 1.0), ("y", 1L, 3.0)).toDF("g", "k", "v")
    val out = graft.operators.WithFill(
        df, Seq(("g", false)), ("k", true), 0L, 2L, 1L)
      .as[(String, Long, Double)].collect().toList
    assert(out === List(
      ("y", 0L, 0.0), ("y", 1L, 3.0), ("x", 0L, 1.0), ("x", 1L, 0.0)))
  }

  test("SimHash: identical token sequences get identical fingerprints") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a  b c d e f g H"), (3L, "q r s t u v w x"))
      .toDF("doc_id", "text") // doc2 differs only by spacing/case -> same normalized
    val fp = SimHash.fingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
    val pairs = SimHash.nearDupPairs(docs, "doc_id", "text", maxDist = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)))
  }

  test("SimilarityJoin prefix filter equals brute force on the fixture") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val fast = SimilarityJoin.ngramJaccardPairs(docs, "doc_id", "text", "lang", 4, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // brute force within lang via exact set Jaccard
    val g = docs.select(col("doc_id"), col("lang"),
      TextFns.charNgrams(TextFns.norm(col("text")), 4).as("grams"))
    val brute = g.as("x").join(g.as("y"),
        col("x.lang") === col("y.lang") && col("x.doc_id") < col("y.doc_id"))
      .withColumn("jac", TextFns.jaccard(col("x.grams"), col("y.grams")))
      .filter(col("jac") >= 0.8)
      .select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)].collect().toSet
    assert(fast === brute)
  }

  test("SimilarityJoin keeps pairs at EXACTLY the Jaccard threshold (ADVICE r15)") {
    // 28 distinct 4-grams all contained in 35: jac = 28/35 = 0.8
    // exactly. The double-precision overlap bound t/(1+t)*(28+35)
    // evaluates to 28.000000000000004, so an unguarded ceil demanded 29
    // — above the maximum attainable positional bound of 28 — and the
    // pair was silently dropped; the prefix length ceil(0.8*35) had the
    // same off-by-one. Both ceils now subtract 1e-9 (exact-safe).
    val chars = "abcdefghijklmnopqrstuvwxyz0123456789-_" // 38 distinct
    val docs = Seq((1L, chars.take(31), "en"), (2L, chars, "en"))
      .toDF("doc_id", "text", "lang")
    val out = SimilarityJoin.ngramJaccardPairs(docs, "doc_id", "text", "lang", 4, 0.8)
      .select("a", "b", "jac").as[(Long, Long, Double)].collect().toList
    assert(out === List((1L, 2L, 0.8)), out)
  }

  test("CosineKnn brute force: parallel vector ranks above orthogonal") {
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = CosineKnn.bruteForceTopK(corpus,
        corpus.filter(col("vec_id") === 1), "vec_id", "embedding", k = 3)
      .select("nid", "rn").as[(Long, Int)].collect().toMap
    assert(out(2L) === 1 && out(3L) === 2 && out(4L) === 3)
  }

  test("Md5Prefix60 equals the conv(substr(md5)) reference semantics") {
    graft.dialect.ChFunctions.register(spark)
    val df = Seq("", "a", "hello world", "the quick brown fox", "éü中")
      .toDF("s")
      .selectExpr("md5Prefix60(s) AS fused",
        "cast(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT) AS chained")
    df.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("Multimodal: real PNG round trip — decode matches generator pixels") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val wp = graft.operators.Multimodal.attachPayload(docs)
    assert(wp.schema("payload").dataType.typeName === "binary")
    assert(wp.schema("meta").dataType.typeName === "struct")
    // the payload is a genuine PNG: magic bytes + ImageIO round trip
    val p0 = wp.filter(col("doc_id") === 7).select("payload")
      .collect().head.getAs[Array[Byte]](0)
    assert(p0.take(8).map(_ & 0xff).toSeq ===
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p0))
    assert(img.getWidth === (7 % 29 + 4) && img.getHeight === (7 % 23 + 4))
    // decoded stats equal a driver-side recomputation of v=(id+7x+13y)%256
    val row = graft.operators.Multimodal.decodeFeatures(wp)
      .filter(col("doc_id") === 7).collect().head
    val (w, h) = (7 % 29 + 4, 7 % 23 + 4)
    val vs = for { y <- 0 until h; x <- 0 until w } yield (7 + 7 * x + 13 * y) % 256
    assert(row.width === w && row.height === h && row.n_px === w * h)
    assert(row.px_sum === vs.map(_.toLong).sum)
    assert(row.px_min === vs.min && row.px_max === vs.max)
    // one-pass frames + nearest-neighbor resize, re-encoded as real PNG
    val t = graft.operators.Multimodal.transformMedia(wp, 4, 224)
      .filter(col("doc_id") === 7).collect().head
    assert(t.n_frames === (h + 3) / 4)
    assert(t.frame_px_sum ===
      (for { y <- 0 until h by 4; x <- 0 until w }
        yield ((7 + 7 * x + 13 * y) % 256).toLong).sum)
    val side = math.max(w, h)
    assert(t.new_width === math.max(1, w * 224 / side) &&
      t.new_height === math.max(1, h * 224 / side))
    val rimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(t.resized_payload))
    assert(rimg.getWidth === t.new_width && rimg.getHeight === t.new_height)
    // resized checksum = nearest-neighbor source pixels, integer-exact
    val rsum = (for { y <- 0 until t.new_height; x <- 0 until t.new_width }
      yield ((7 + 7 * (x * w / t.new_width) + 13 * (y * h / t.new_height))
        % 256).toLong).sum
    assert(t.resized_px_sum === rsum)
  }

  test("CosineKnn LSH recall@5 >= 0.6 vs brute force on fixture embeddings") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val exact = CosineKnn.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ann = CosineKnn.lshTopK(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("CosineKnn IVF recall@5 >= 0.4 vs brute force (uniform data is IVF's worst case)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val exact = CosineKnn.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = CosineKnn.ivfTopK(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("CosineKnn PQ recall@5 >= 0.6 vs brute force; rank column well-formed") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val exact = CosineKnn.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val pq = CosineKnn.pqTopK(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid", "rn").as[(Long, Long, Int)].collect()
    val recall = (exact & pq.map(t => (t._1, t._2)).toSet).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
    // every query returns exactly k ranked 1..5 rows
    pq.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to 5))
    }
  }

  test("CosineKnn block-pair nearDupPairs == brute force, with no nested-loop join") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val blocked = CosineKnn.nearDupPairs(e, "vec_id", "embedding", 0.40, blocks = 4)
    val brute = CosineKnn.nearDupPairsBruteForce(e, "vec_id", "embedding", 0.40)
    val got = blocked.select("a", "b", "sim")
      .as[(Long, Long, Double)].collect().toSet
    val want = brute.select("a", "b", "sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty) // threshold low enough that the test bites
    // the scale property: the quadratic work rides an equi-join on
    // block pairs, never a BroadcastNestedLoopJoin/CartesianProduct
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("CosineKnn blockTopK == bruteForceTopK at large |Q|, no broadcast/nested-loop") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // query side = the whole corpus: the regime where broadcast is off
    // the table and the block-pair equi-join is the only scale path
    val blocked = CosineKnn.blockTopK(e, e, "vec_id", "embedding", 5,
      corpusBlocks = 4, queryBlocks = 3)
    val brute = CosineKnn.bruteForceTopK(e, e, "vec_id", "embedding", 5)
    val got = blocked.select("qid", "nid", "sim", "rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = brute.select("qid", "nid", "sim", "rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the local top-k window runs inside the join's partitioning: only
    // |Q|*Bc*k candidates reach the final per-query exchange, so the
    // plan carries exactly one exchange keyed by qid alone
    val qidExchanges = "hashpartitioning\\(qid".r.findAllIn(plan).length
    assert(qidExchanges === 1, s"expected 1 qid exchange:\n${plan.take(3000)}")
  }

  test("CosineKnn lshNearDupPairs: every pair exact, recall >= 0.9 on clustered data") {
    // clustered corpus — 20 bases x 5 jittered copies (deterministic),
    // the regime LSH near-dup is built for (pairs at cosine ~0.99)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = 16
    def vec(base: Int, j: Int): Array[Float] = Array.tabulate(dim) { d =>
      val h = ((base * 31 + d) * 2654435761L & 0x7fffffff).toFloat / Int.MaxValue
      (h - 0.5f) + (if (j == 0) 0f else ((j * 131 + d) % 7 - 3) * 0.004f)
    }
    val rows = for (b <- 0 until 20; j <- 0 until 5)
      yield Row((b * 5 + j).toLong, vec(b, j).toSeq)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 4),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val want = CosineKnn.nearDupPairsBruteForce(df, "vec_id", "embedding", 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val got = CosineKnn.lshNearDupPairs(df, "vec_id", "embedding", 0.95,
        nPlanes = 8, nTables = 4, dim0 = dim)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(want.size >= 100, s"fixture should pair within clusters, got ${want.size}")
    assert((got -- want).isEmpty, "rerank is exact: no false positives")
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("l21/l22/l23 pipeline ops: scale-shaped plans and invariants") {
    val dir = "/root/testdata/sf0.001"
    def q(name: String) = SparkEntry.queries(name)(spark, dir)

    // decontamination rides a gram equi-join — never an all-pairs scan
    val l21 = q("l21_decontaminate")
    val p21 = l21.queryExecution.executedPlan.toString
    assert(!p21.contains("BroadcastNestedLoopJoin"), p21.take(2000))
    assert(!p21.contains("CartesianProduct"), p21.take(2000))
    // benchmark docs (id % 7 == 0) must never report themselves
    assert(l21.filter(col("doc_id") % 7 === 0).count() === 0)

    // mixture sampling: kept <= in per stratum, deterministic re-run
    val l22 = q("l22_mixture_sample").collect()
    assert(l22.nonEmpty)
    assert(l22.forall(r => r.getLong(2) <= r.getLong(1)))
    assert(q("l22_mixture_sample").collect().toSeq === l22.toSeq)

    // tf-idf: vocabulary-sized df side broadcasts; <= 3 terms per doc
    val l23 = q("l23_tfidf_topterms")
    val p23 = l23.queryExecution.executedPlan.toString
    assert(p23.contains("BroadcastHashJoin"), p23.take(2000))
    val perDoc = l23.groupBy("doc_id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    assert(perDoc <= 3)
  }

  test("l23 counts a NULL-text document in n_docs, as its DuckDB text does") {
    val dir = java.nio.file.Files.createTempDirectory("l23null").toString
    Seq((0L, Some("a b")), (1L, Some("a c")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("l23_tfidf_topterms")(spark, dir)
      .as[(Long, String, Double, Int)].collect().toSeq
    // n_docs = 3: ln(3/2) for the shared term, ln(3/1) for the others
    assert(got === Seq((0L, "b", 1.098612, 1), (0L, "a", 0.405465, 2),
      (1L, "c", 1.098612, 1), (1L, "a", 0.405465, 2)))
  }

  test("LateMaterialize: two-phase top-k equals single-pass, pushes key filters") {
    import org.apache.spark.sql.functions.expr
    val base = spark.range(0, 5000).toDF("id")
    val derived = (1 to 19).map(i => expr(s"id * $i").as(s"c$i"))
    val dir = java.nio.file.Files.createTempDirectory("latemat").toString
    base.select(col("id") +: derived: _*)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("latemat_w")
    val proj = (Seq("id") ++ (1 to 19).map("c" + _)).mkString(", ")
    val sql = s"SELECT $proj FROM latemat_w WHERE c3 % 7 = 0 " +
      "ORDER BY c2 DESC, id LIMIT 10"
    val twoPhase = graft.operators.LateMaterialize.maybeRun(spark, sql)
    assert(twoPhase.isDefined, "wide top-k shape must fire the rewrite")
    assert(twoPhase.get.collect().toSeq === spark.sql(sql).collect().toSeq)
    // the winning keys must reach the scan as pushed point filters
    val plan = twoPhase.get.queryExecution.executedPlan.toString
    assert(plan.contains("EqualNullSafe"), plan.take(2000))

    // empty phase-1: still a correct (empty) result
    val none = graft.operators.LateMaterialize.maybeRun(spark,
      s"SELECT $proj FROM latemat_w WHERE id < 0 ORDER BY c2 LIMIT 10")
    assert(none.isDefined && none.get.collect().isEmpty)

    // economics guards: narrow projection / aggregate shapes skip
    assert(graft.operators.LateMaterialize.maybeRun(spark,
      "SELECT id, c1 FROM latemat_w WHERE c3 % 7 = 0 ORDER BY c2 LIMIT 10").isEmpty)
    assert(graft.operators.LateMaterialize.maybeRun(spark,
      s"SELECT $proj FROM latemat_w WHERE c3 % 7 = 0 " +
        "GROUP BY id ORDER BY c2 LIMIT 10").isEmpty)
    // window invocation in the projection: phase 2 would compute it
    // over only the refetched rows — must skip the rewrite entirely
    assert(graft.operators.LateMaterialize.maybeRun(spark,
      s"SELECT $proj, row_number() OVER (ORDER BY c2) AS rn " +
        "FROM latemat_w WHERE c3 % 7 = 0 ORDER BY c2 DESC, id LIMIT 10").isEmpty)

    // the rewrite is plan-matched, not SQL-matched: a DataFrame-built
    // top-k (no SQL text anywhere) fires it identically
    val dfQuery = spark.read.parquet(dir)
      .filter(expr("c3 % 7 = 0"))
      .orderBy(col("c2").desc, col("id"))
      .limit(10)
    val dfTwoPhase = graft.operators.LateMaterialize.rewrite(dfQuery)
    assert(dfTwoPhase.isDefined, "DataFrame-built wide top-k must fire")
    assert(dfTwoPhase.get.collect().toSeq === dfQuery.collect().toSeq)
    val dfPlan = dfTwoPhase.get.queryExecution.executedPlan.toString
    assert(dfPlan.contains("EqualNullSafe"), dfPlan.take(2000))
    // non-deterministic predicate: phases would see different rows
    assert(graft.operators.LateMaterialize.rewrite(
      spark.read.parquet(dir).filter(expr("rand() < 2"))
        .orderBy(col("c2")).limit(10)).isEmpty)
    // narrow relation: economics guard holds for DataFrames too
    assert(graft.operators.LateMaterialize.rewrite(
      spark.read.parquet(dir).select("id", "c1", "c2")
        .filter(expr("c2 > 0")).orderBy(col("c2")).limit(10)).isEmpty)
  }
}
