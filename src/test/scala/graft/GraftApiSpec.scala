package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** The user-facing combinators work on arbitrary tables/column names, not
  * just the fixture schema (the declared queries delegate to these; the
  * oracle run proves their values — this spec proves the parameterization).
  */
class GraftApiSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def corpus(): DataFrame = {
    import spark.implicits._
    Seq(
      (10L, "one two three four five six seven eight"),
      (11L, "one two three four five six seven eight"),   // exact dup of 10
      (12L, "totally different content here nine ten eleven twelve"),
      (13L, "one two three four five six seven nine"),     // near dup of 10
      (14L, null),                                        // NULL texts pair
      (15L, null)                                         // with nothing
    ).toDF("k", "body")
  }

  private val nullTextIds = Set(14L, 15L)

  private def noNullTextMember(pairs: Iterable[(Long, Long)]): Boolean =
    pairs.forall(p => !nullTextIds(p._1) && !nullTextIds(p._2))

  test("dedupExact keeps the first row per key under the given order") {
    import spark.implicits._
    val df = Seq((1L, "a", 5.0), (2L, "a", 9.0), (3L, "b", 1.0))
      .toDF("pk", "grp", "score")
    val out = Graft.dedupExact(df, Seq(col("grp")),
      Seq(col("score").desc, col("pk")))
    assert(out.collect().map(r => (r.getString(1), r.getLong(0))).toSet ==
      Set(("a", 2L), ("b", 3L)))
  }

  test("exactDupPairs / simhashPairs find the duplicate pair on custom columns") {
    val c = corpus()
    val exact = Graft.exactDupPairs(c, col("k"), col("body"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSeq == Seq((10L, 11L)))
    val sim = Graft.simhashPairs(c, col("k"), col("body"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sim.contains((10L, 11L)))
    assert(noNullTextMember(sim), s"NULL text paired: ${sim.mkString(",")}")
  }

  test("nearDupJaccard finds near dups at a threshold that excludes unrelated docs") {
    val pairs = Graft.nearDupJaccard(corpus(), col("k"), col("body"),
        k = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"missed exact dup: $pairs")
    assert(pairs.contains((10L, 13L)) && pairs.contains((11L, 13L)),
      s"missed near dup: $pairs")
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L),
      s"false positive on unrelated doc: $pairs")
    assert(noNullTextMember(pairs), s"NULL text paired: $pairs")
  }

  test("nearDupLsh agrees with nearDupJaccard for exact duplicates") {
    val lsh = Graft.nearDupLsh(corpus(), col("k"), col("body"),
        k = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((10L, 11L)), s"got $lsh")
  }

  test("cosineTopK + annAssignCells run on a custom embedding frame") {
    import spark.implicits._
    val vecs = Seq(
      (100L, Array(1.0f, 0.0f)), (101L, Array(0.9f, 0.1f)),
      (102L, Array(0.0f, 1.0f)), (103L, Array(-1.0f, 0.0f)))
      .toDF("vid", "v")
    val q = vecs.filter(col("vid") === 100L).select(col("v").as("qvec"))
    val top = Graft.cosineTopK(vecs, col("vid"), col("v"), q, 2)
      .select("vid").collect().map(_.getLong(0))
    assert(top.toSeq == Seq(100L, 101L))
    val cents = vecs.filter(col("vid") < 102L)
      .select(col("vid").as("cid"), col("v").as("cvec"))
    val cells = Graft.annAssignCells(vecs, col("vid"), col("v"), cents)
    assert(cells.filter(col("vid") === 102L).select("cell").head().getLong(0) == 101L)
    assert(cells.count() == 4)
  }

  test("dupClusters resolves pair edges into min-label connected components") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Graft.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L), s"got $got")
  }

  test("hashSample is deterministic and roughly proportional") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = Graft.hashSample(docs, col("doc_id"), 20)
    val b = Graft.hashSample(docs, col("doc_id"), 20)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty)
    val frac = a.count().toDouble / docs.count()
    assert(frac > 0.05 && frac < 0.4, s"fraction $frac far from 20%")
    // monotone: a 20% sample contains the 10% sample
    val small = Graft.hashSample(docs, col("doc_id"), 10)
    assert(small.exceptAll(a).isEmpty)
  }

  test("qualityScores and languageId run on custom columns") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "le chat est sur le tapis", "fr"),
      (3L, "the dog ran to the park", "en"))
      .toDF("pk", "body", "tongue")
    val q = Graft.qualityScores(df, col("body"))
    assert(q.count() == 3)
    assert(q.columns.startsWith(Array("pk", "body", "tongue")),
      "input columns must be preserved")
    val r1 = q.filter(col("pk") === 1).head()
    assert(r1.getAs[Int]("n_tokens") == 6)
    assert(math.abs(r1.getAs[Double]("stop_ratio") - 2.0 / 6) < 1e-12)
    val lid = Graft.languageId(df, col("pk"), col("body"), col("tongue"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // docs 1 and 3 share english profile tokens; doc 2 matches french
    assert(lid(1L) == "en" && lid(3L) == "en" && lid(2L) == "fr", s"got $lid")
  }

  test("languageId is total: a no-hit document surfaces with null prediction") {
    import spark.implicits._
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat and ran to it", "en"),
      (2L, "zzz qqq xxx", "en")) // its rare tokens miss the top-5 profile
      .toDF("pk", "body", "tongue")
    val out = Graft.languageId(df, col("pk"), col("body"), col("tongue"))
    val r2 = out.filter(col("id") === 2).collect()
    assert(r2.length == 1, "no-hit document must not vanish")
    assert(r2.head.isNullAt(1) && r2.head.getLong(2) == 0L)
  }

  test("dupClusters resolves a chain longer than a naive hop count") {
    import spark.implicits._
    // path graph 0-1-2-...-59: diameter 59 forces pointer jumping
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Graft.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 60 && got.values.forall(_ == 0L),
      s"chain not fully resolved: ${got.toSeq.sortBy(_._1).takeRight(5)}")
  }

  test("zero-norm vectors get cosine 0, not NaN, and never win top-k") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f)))
      .toDF("vid", "v")
    val q = vecs.filter(col("vid") === 1).select(col("v").as("qvec"))
    val top = Graft.cosineTopK(vecs, col("vid"), col("v"), q, 3)
      .select("vid", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 == 1L)
    assert(!top.exists(_._2.isNaN), s"NaN leaked: ${top.mkString(",")}")
    assert(top.last._1 == 2L && top.last._2 == 0.0)
  }

  test("nearDupEdit finds cross-bucket pairs and respects the distance bound") {
    import spark.implicits._
    val df = Seq(
      (1L, "a"), (2L, "ab"),      // lengths 1,2 -> ADJACENT buckets, dist 1
      (3L, "abc"), (4L, "abd"),   // same bucket, dist 1; both 1 insert from "ab"
      (5L, "xyz"), (6L, "xyzqq")  // dist 2 > maxDist -> excluded
    ).toDF("pk", "name")
    val got = Graft.nearDupEdit(df, col("pk"), col("name"), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (2L, 3L, 1), (2L, 4L, 1), (3L, 4L, 1)),
      got.toString)
  }

  test("prefixMaxExclusive equals the single-task global window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // values deliberately non-monotone in the order column
    val df = (0L until 500L).map(i => (i, (i * 7919 % 101).toDouble))
      .toDF("oid", "v")
    val naive = df.withColumn("pm",
      max(col("v")).over(Window.orderBy(col("oid"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    // chunkSize 64 forces multiple chunks and cross-chunk carry-in
    val chunked = Graft.prefixMaxExclusive(df, col("oid"), col("v"), "pm",
      chunkSize = 64L)
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)
    // first row of the first chunk has no predecessor
    assert(chunked.filter(col("oid") === 0).head().isNullAt(2))
  }

  test("prefixSumExclusive equals the single-task global window; first row 0") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 500L).map(i => (i, i * 7919 % 101)).toDF("oid", "v")
    val naive = df.withColumn("ps",
      coalesce(sum(col("v")).over(Window.orderBy(col("oid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunked = Graft.prefixSumExclusive(df, col("oid"), col("v"), "ps",
      chunkSize = 64L)
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)
    assert(chunked.filter(col("oid") === 0).head().getLong(2) == 0L)
  }

  test("prefixSumExclusive supports NEGATIVE orders (q80's desc encoding)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // orders straddle zero, like q80's -cents*1e6 + partkey encoding;
    // floor-division chunk ids must stay monotone across the sign change
    val df = (-250L until 250L).map(i => (i, (i * 7919 % 101 + 101) % 101))
      .toDF("oid", "v")
    val naive = df.withColumn("ps",
      coalesce(sum(col("v")).over(Window.orderBy(col("oid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunked = Graft.prefixSumExclusive(df, col("oid"), col("v"), "ps",
      chunkSize = 64L)
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)
    assert(chunked.filter(col("oid") === -250).head().getLong(2) == 0L)
  }

  test("prefixSumExclusive: adversarial WIDE-RANGE orders (one chunk per row) stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // orders spread over ~4e13 at the DEFAULT chunkSize (2^16): every row
    // lands in its own chunk, so the carry table degenerates to one row
    // per input row and the unpartitioned carry window does ALL the work
    // — the documented worst case of the two-level scan (wide-range order
    // keys, e.g. cents at corpus scale). Results must stay exact there;
    // the operator's docstring carries the sizing rule that keeps the
    // carry window off this degenerate path in production.
    val df = (0L until 400L)
      .map(i => (i * 100000000000L + i * 7919 % 997, i * 7919 % 101))
      .toDF("oid", "v")
    val naive = df.withColumn("ps",
      coalesce(sum(col("v")).over(Window.orderBy(col("oid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunked = Graft.prefixSumExclusive(df, col("oid"), col("v"), "ps")
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)
  }

  test("holtSmooth: level/trend recurrence matches hand computation per key") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0, 1L), ("a", 2L, 20.0, 2L), ("a", 3L, 30.0, 3L),
      ("b", 1L, 5.0, 4L)
    ).toDF("k", "t", "y", "id")
    val out = Graft.holtSmooth(df, col("k"), col("t"), col("y"),
        tieBreak = col("id"), alpha = 0.5, beta = 0.25)
      .orderBy("k", "t")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(4), r.getDouble(5)))
    // a: l1=10,b1=0; l2=.5*20+.5*10=15, b2=.25*5=1.25;
    //    l3=.5*30+.5*16.25=23.125, b3=.25*8.125+.75*1.25=2.96875
    assert(out.toSeq == Seq(
      ("a", 1L, 10.0, 0.0), ("a", 2L, 15.0, 1.25),
      ("a", 3L, 23.125, 2.96875), ("b", 1L, 5.0, 0.0)))
  }

  test("prefixSumExclusive: DECIMAL(38,0) orders at chunk boundaries stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // decimal / long division goes through DECIMAL(38,6) with HALF_UP
    // rounding; at chunkSize 10_000_000 the rounding step CAN move an
    // order of k*chunkSize - 1 into chunk k (err 1e-7 < half-ulp). The
    // scan must stay exact anyway, because rounding-then-floor keeps the
    // order -> chunk mapping monotone — this is the property the q80/q83
    // DECIMAL(38,0) encodings lean on.
    val c = 10000000L
    val orders = (1L to 5L).flatMap(k => Seq(k * c - 1, k * c, k * c + 1))
    val df = orders.zipWithIndex
      .map { case (o, i) => (BigDecimal(o), (i * 37 % 11).toLong) }
      .toDF("oid", "v")
      .select(col("oid").cast(org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 0)).as("oid"), col("v"))
    val naive = df.withColumn("ps",
      coalesce(sum(col("v")).over(Window.orderBy(col("oid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunked = Graft.prefixSumExclusive(df, col("oid"), col("v"), "ps",
      chunkSize = c)
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)
  }

  test("packSequences: spans tile the token stream; straddlers cross bins") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, 1L + i * 31 % 97)).toDF("did", "n")
    val packed = Graft.packSequences(docs, col("did"), col("n"),
        capacity = 128L, chunkSize = 16L)
      .orderBy("did")
      .select("did", "n", "offset", "bin_first", "bin_last")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // offsets tile: each doc starts exactly where the previous one ended
    packed.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._2, s"gap between ${a._1} and ${b._1}")
    }
    // bin arithmetic: first/last bins bracket the span, in capacity units
    packed.foreach { case (_, n, off, bf, bl) =>
      assert(bf == off / 128 && bl == (off + n - 1) / 128 && bf <= bl)
    }
    // at least one doc straddles a bin boundary (capacity < max doc size
    // would never straddle; this data guarantees crossings)
    assert(packed.exists { case (_, _, _, bf, bl) => bl > bf })
  }

  test("chunkDocuments: full coverage, overlap stride, short docs = 1 chunk") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 105).map(i => s"t$i").mkString(" ")), // 105 toks -> 4 chunks
      (2L, "a b c"),                                   // short -> 1 chunk
      (3L, (1 to 40).map(i => s"u$i").mkString(" "))   // exactly one size
    ).toDF("did", "text")
    val out = Graft.chunkDocuments(docs, col("did"), col("text"),
        chunkTokens = 40, overlap = 10)
      .orderBy("id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    // doc 1: starts at 0,30,60,90 -> lengths 40,40,40,15
    assert(byDoc(1L).map(_._4).toSeq == Seq(40L, 40L, 40L, 15L))
    assert(byDoc(1L)(1)._3.startsWith("t31 ") && byDoc(1L)(1)._3.endsWith(" t70"))
    assert(byDoc(2L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0L, "a b c", 3L)))
    assert(byDoc(3L).map(_._4).toSeq == Seq(40L))
    // every token of doc 1 appears in >= 1 chunk
    val covered = byDoc(1L).flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 105).map(i => s"t$i").toSet)
  }

  test("scrubPii redacts emails/IPs/phones; placeholders never re-matched") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b+c@ex-1.org then 10.0.255.3 then +44-20-7946-0958 end"),
      (2L, "no pii here at all")
    ).toDF("id", "t")
    val out = df.select(col("id"), Graft.scrubPii(col("t")).as("s"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "mail <EMAIL> then <IP> then <PHONE> end")
    assert(out(1) == "no pii here at all")
  }

  test("duplicateNgramFraction: repeated text scores high, unique text 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),     // unigram: 3/4 dup; trigram: 1/2 dup
      (2L, "all tokens fully unique")  // 0 everywhere
    ).toDF("id", "t")
    val out = df.select(col("id"),
        Graft.duplicateNgramFraction(col("t"), 1).as("d1"),
        Graft.duplicateNgramFraction(col("t"), 3).as("d3"))
      .orderBy("id").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(out(0) == ((0.75, 0.5)) && out(1) == ((0.0, 0.0)))
  }

  test("quantizeScalar: codes bounded, reconstruction within half a bin") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, 0.5f, 1.0f, 0.25f)),
      (2L, Array(7.0f, 7.0f, 7.0f)), // constant vector -> scale 0, code 0
      (3L, Array(-4.0f, 4.0f))
    ).toDF("vid", "v")
    val q = Graft.quantizeScalar(vecs, col("vid"), col("v"), levels = 16)
    val bad = q.select(col("id"), col("scale"),
        aggregate(col("codes"), lit(0),
          (m, c) => greatest(m, c)).as("max_code"),
        aggregate(zip_with(col("vec_d"), col("dequant"),
          (a, b) => abs(a - b)), lit(0.0), (m, e) => greatest(m, e))
          .as("max_err"))
      .filter(col("max_code") > 15 ||
        (col("scale") > 0.0 && col("max_err") > col("scale") * 0.5 + 1e-9) ||
        (col("scale") === 0.0 && col("max_code") =!= 0))
    assert(bad.count() == 0)
    // constant vector round-trips to its midpoint-of-single-bin value
    val const = q.filter(col("id") === 2).select(col("dequant")).head()
      .getSeq[Double](0)
    assert(const.forall(v => math.abs(v - 7.0) < 1e-12))
  }

  test("quantizeScalar: null elements quantize to null, never to a clamp value") {
    import spark.implicits._
    // least()/floor() skip nulls, so an unguarded pipeline would hand a
    // null element code levels-1; vmin/scale must come from non-nulls only
    val vecs = Seq(
      (1L, Seq[java.lang.Double](0.0, null, 1.0)),
      (2L, Seq[java.lang.Double](null, 5.0, 5.0)) // constant among non-nulls
    ).toDF("vid", "v")
    val q = Graft.quantizeScalar(vecs, col("vid"), col("v"), levels = 16)
      .select(col("id"), col("codes"), col("dequant"), col("vmin"), col("scale"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1), r.getSeq[Any](2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    val r1 = q(0)
    assert(r1._2 == Seq(0, null, 15) && r1._3(1) == null && r1._4 == 0.0)
    val r2 = q(1)
    assert(r2._5 == 0.0 && r2._2 == Seq(null, 0, 0) && r2._3(0) == null)
  }

  test("fingerprint is order-sensitive where dedup signatures are not") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("k", "body")
    val fps = Graft.fingerprint(df, col("k"), col("body"))
      .collect().map(_.getLong(1)).toSet
    assert(fps.size == 2, "reordered text must fingerprint differently")
    val sigPairs = Graft.exactDupPairs(df, col("k"), col("body")).count()
    assert(sigPairs == 1, "token-set signature must match reordered text")
  }

  test("decontaminate flags shingle overlap with the benchmark, exact only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text with no shared shingles at all"),
      (3L, "quick brown fox jumps over the lazy dog again")
    ).toDF("k", "body")
    val bench = Seq((99L, "a quick brown fox jumps over the lazy dog"))
      .toDF("k", "body")
    val out = Graft.decontaminate(corpus, bench, col("k"), col("body"),
        col("body"), k = 5)
      .select(col("k"), col("n_overlap"), col("contaminated"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L), "every corpus doc surfaces")
    assert(out(0)._3 && out(0)._2 > 0, "doc 1 shares 5-gram shingles")
    assert(!out(1)._3 && out(1)._2 == 0, "doc 2 is clean, count 0 not null")
    assert(out(2)._3, "doc 3 shares 'brown fox jumps over the' etc.")
  }

  test("shardAssign is deterministic, total, and balanced-ish") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("k")
    val a = Graft.shardAssign(df, col("k"), 8).groupBy("shard").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(a.keySet == (0 until 8).toSet, "every shard populated")
    assert(a.values.sum == 2000L)
    assert(a.values.max < 2 * a.values.min,
      s"md5 hash should spread sequential ids near-uniformly: $a")
    val b = Graft.shardAssign(df, col("k"), 8).groupBy("shard").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(a == b, "same ids, same shards, every run")
  }

  test("url parts: host/tld/path extracted; malformed input yields ''") {
    import spark.implicits._
    val df = Seq(
      "https://news.example.org/world/2024/story?ref=rss#top",
      "http://example.com",
      "not a url"
    ).toDF("u")
    val out = df.select(Graft.urlHost(col("u")).as("h"),
        Graft.urlTld(col("u")).as("t"), Graft.urlPath(col("u")).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out(0) == (("news.example.org", "org", "/world/2024/story")),
      s"query/fragment must be excluded: ${out(0)}")
    assert(out(1) == (("example.com", "com", "")), "absent path is ''")
    assert(out(2) == (("", "", "")), "malformed URL buckets to '' not error")
  }

  test("simhashHammingPairs: exact dups at distance 0, bound honored, pairs unique") {
    val out = Graft.simhashHammingPairs(corpus(), id = col("k"),
        text = col("body"), bits = 32, maxDist = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists { case (a, b, h) => a == 10L && b == 11L && h == 0 },
      s"exact dup must surface at hamming 0: ${out.mkString(",")}")
    assert(out.forall(_._3 <= 3), "maxDist bound")
    assert(out.forall(p => p._1 < p._2), "canonical pair order")
    assert(out.map(p => (p._1, p._2)).distinct.length == out.length,
      "multi-band matches dedup to one pair")
    assert(noNullTextMember(out.map(p => (p._1, p._2))),
      s"NULL text paired: ${out.mkString(",")}")
  }

  test("invertedIndex: df/tf from ALL docs, postings capped in doc order") {
    import spark.implicits._
    val docs = Seq(
      (3L, "b b a"),
      (1L, "a a b"),
      (2L, "a c")
    ).toDF("k", "body")
    val out = Graft.invertedIndex(docs, id = col("k"), text = col("body"),
        maxPostings = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // 'a' hits all 3 docs: stats keep full df/tf, postings cap at 2
    assert(out("a") == ((3L, 4L, "1:2,2:1")), s"got ${out("a")}")
    assert(out("b") == ((2L, 3L, "1:1,3:2")), s"got ${out("b")}")
    assert(out("c") == ((1L, 1L, "2:1")), s"got ${out("c")}")
  }

  test("bm25Scores: hand-checked Okapi scores, non-matching docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark fast"),
      (2L, "window slow"),
      (3L, "other words here")
    ).toDF("k", "body")
    val out = Graft.bm25Scores(docs, id = col("k"), text = col("body"),
        queryTerms = Seq("spark", "window"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgdl=8/3, df=1 for both terms -> idf = ln(1 + 2.5/1.5)
    val idf = math.log(8.0 / 3.0)
    val s1 = idf * (2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / (8.0 / 3))))
    val s2 = idf * (1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / (8.0 / 3))))
    assert(out.keySet == Set(1L, 2L), s"got ${out.keySet}")
    assert(math.abs(out(1L) - s1) < 1e-6, s"doc1: ${out(1L)} vs $s1")
    assert(math.abs(out(2L) - s2) < 1e-6, s"doc2: ${out(2L)} vs $s2")
  }

  test("rrfFuse: outer-join union, missing list contributes zero") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val out = Graft.rrfFuse(a, b).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(out(1L) - 1.0 / 61) < 1e-12)
    assert(math.abs(out(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(out(3L) - 1.0 / 62) < 1e-12)
    // both-list id ranks survive the join intact
    val r2 = Graft.rrfFuse(a, b).where(col("id") === 2L).collect().head
    assert(r2.getInt(1) == 2 && r2.getInt(2) == 1)
  }

  test("dupClustersFx: path graph converges in ~log2(diameter) rounds") {
    import spark.implicits._
    // path 0-1-2-...-8: one component, min label 0, diameter 8
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val fp = Graft.dupClustersFx(pairs)
    assert(fp.converged)
    // pointer jumping halves chain depth per round: well under diameter
    assert(fp.rounds <= 6, s"rounds=${fp.rounds}")
    val labels = fp.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(0L), s"got $labels")
    assert(labels.keySet == (0L to 8L).toSet)
  }

  test("annSrpCodes: one coded row per vector, bucket = sign pattern, dups collide") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),     // same quadrant as 1 vs these planes
      (3L, Array(-1.0f, -0.2f)),   // opposite side of both planes
      (4L, Array(1.0f, 0.0f))      // exact dup of 1 -> identical bucket
    ).toDF("vid", "v")
    val planes = Seq(
      (0, Array(1.0f, 0.0f)),
      (1, Array(0.0f, 1.0f))
    ).toDF("pid", "pvec")
    val coded = Graft.annSrpCodes(vecs, id = col("vid"), vec = col("v"),
        planes = planes)
      .select(col("vid"), col("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(coded.size == 4, "exactly one coded row per input vector")
    // plane0 = x-axis direction, plane1 = y-axis: (1,0) -> bit0 only
    // (cos vs (0,1) is exactly 0, strict > excludes it)
    assert(coded(1L) == 1L, s"sign pattern packs 2^pid: ${coded(1L)}")
    assert(coded(2L) == 3L, "positive on both planes -> bits 0 and 1")
    assert(coded(3L) == 0L, "negative on both planes -> empty code")
    assert(coded(4L) == coded(1L), "identical vectors share a bucket")
  }

  test("kmeansFit: two obvious blobs separate; empty clusters keep centroids") {
    import spark.implicits._
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.1f, -0.1f)), (3L, Array(10.2f, 9.9f)),
      (4L, Array(-0.2f, 0.2f)), (5L, Array(9.8f, 10.1f))
    ).toDF("id", "v")
    val out = Graft.kmeansFit(pts, col("id"), col("v"), k = 2, iters = 3)
      .select(col("__vid"), col("cluster"), col("dist"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(Set(0L, 2L, 4L).map(out(_)._1).size == 1, "blob A is one cluster")
    assert(Set(1L, 3L, 5L).map(out(_)._1).size == 1, "blob B is one cluster")
    assert(out(0L)._1 != out(1L)._1, "blobs land in different clusters")
    assert(out.values.forall(_._2 >= 0.0), "squared distances are non-negative")
  }

  test("labelCentroids: per-(label, dim) means in exploded form") {
    import spark.implicits._
    val df = Seq((0, Array(1.0f, 3.0f)), (0, Array(3.0f, 5.0f)),
      (1, Array(2.0f, 2.0f))).toDF("lab", "v")
    val out = Graft.labelCentroids(df, col("lab"), col("v"))
      .orderBy(col("label"), col("dim"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0, 0, 2L, 2.0), (0, 1, 2L, 4.0),
      (1, 0, 1L, 2.0), (1, 1, 1L, 2.0)))
  }

  test("lmScore: corpus-typical vocabulary scores lower cross-entropy") {
    import spark.implicits._
    val df = Seq((1L, "a a a a"), (2L, "a a a b")).toDF("id", "t")
    // corpus: p(a) = 7/8, p(b) = 1/8
    val out = Graft.lmScore(df, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 4 && out(2L)._1 == 4)
    assert(out(1L)._2 < out(2L)._2, "doc with the rare token scores higher")
    assert(math.abs(out(1L)._2 - (-math.log(7.0 / 8))) < 1e-12,
      "xent(all-a doc) = -ln p(a) exactly")
  }

  test("bloomDecontaminate: superset of exact overlap, never a false negative") {
    val docs = Tables(spark, sfDir, "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(37)) =!= 0)
    val exact = Graft.decontaminate(corpus, bench, col("doc_id"), col("text"),
        col("text"), k = 5)
      .filter(col("contaminated"))
      .select(col("doc_id"), col("n_overlap"))
    val bloom = Graft.bloomDecontaminate(corpus, bench, col("doc_id"),
      col("text"), col("text"), k = 5, fpp = 0.001)
    val j = exact.join(bloom, exact("doc_id") === bloom("id"), "left")
    assert(j.filter(col("id").isNull).count() == 0,
      "every exactly-contaminated doc is flagged by the bloom pass")
    assert(j.filter(col("n_bloom_hits") < col("n_overlap")).count() == 0,
      "bloom hit counts upper-bound the exact overlap counts")
  }

  test("resampleFfill: complete spine, gaps fill forward, pre-first stays null") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, t("2024-01-01 00:10:00"), 2.0),
      (1L, t("2024-01-01 03:20:00"), 4.0),
      (2L, t("2024-01-01 02:05:00"), 8.0)
    ).toDF("u", "tm", "v")
    val out = Graft.resampleFfill(df, col("u"), col("tm"), col("v"), 3600)
      .orderBy(col("key"), col("slot"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    // global spine = hours 0..3 for BOTH users (8 rows)
    assert(out.length == 8, s"spine incomplete: ${out.length}")
    assert(out.map(_._2).toSeq == Seq(
      Some(2.0), Some(2.0), Some(2.0), Some(4.0),   // user 1: gap fills with 2.0
      None, None, Some(8.0), Some(8.0)),            // user 2: null before first obs
      s"got: ${out.mkString(", ")}")
  }

  test("pageRank: mass conserved, hub outranks leaves, symmetric ties equal") {
    import spark.implicits._
    // star 1-{2,3,4} plus a detached pair 10-11
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val pr = Graft.pageRank(pairs, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9,
      s"undirected graph conserves rank mass: ${pr.values.sum}")
    assert(pr(1L) > pr(2L), "the star hub outranks its leaves")
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L), "symmetric leaves tie")
    assert(pr(10L) == pr(11L), "detached pair is symmetric")
  }

  test("profileNumeric: one pass, exact per-column stats incl. nulls") {
    import spark.implicits._
    val df = Seq((Option(1.0), 5L), (Option.empty[Double], 5L),
      (Option(3.0), 7L)).toDF("x", "y")
    val out = Graft.profileNumeric(df, Seq("x", "y")).orderBy(col("col_name"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(out(0) == (("x", 2L, 1L, 2L, 1.0, 3.0)))
    assert(out(1) == (("y", 3L, 0L, 2L, 5.0, 7.0)))
  }

  test("heavyHitters: one-sided error vs exact counts (CMS law)") {
    val toks = Tables(spark, sfDir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("token"))
    val n = toks.count()
    val minCount = math.max(1L, n / 100)
    val eps = 0.001
    val est = Graft.heavyHitters(toks, col("token"), minCount, eps = eps)
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val j = exact.join(est, Seq("token"), "left")
    assert(j.filter(col("cnt") >= minCount && col("est").isNull).count() == 0,
      "every true heavy hitter is reported (no false negatives)")
    val found = j.filter(col("est").isNotNull)
    assert(found.filter(col("est") < col("cnt")).count() == 0,
      "CMS estimates never under-count")
    val maxOver = math.ceil(eps * n * 2).toLong
    assert(found.filter(col("est") > col("cnt") + maxOver).count() == 0,
      s"estimates stay within the eps*N error bound (slack 2x, N=$n)")
  }

  test("tokenFrequencyApprox: exact when nothing evicts (frequent-items law)") {
    // maxItemsTracked >= the distinct-token count means the sketch never
    // purges, so every stored count is exact — the approx top-50 must carry
    // the same (word -> count) map as the exact aggregation, and the same
    // count multiset (boundary ties may select different words, so the SET
    // of words is only compared above the boundary count).
    val docs = Tables(spark, sfDir, "documents")
    val vocab = docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .agg(count_distinct(col("word"))).head().getLong(0)
    val approx = Graft.tokenFrequencyApprox(docs, col("text"), 50,
        maxItemsTracked = math.max(64, vocab.toInt * 2))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val exact = Graft.tokenFrequency(docs, col("text"), 50)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(approx.length == exact.length)
    assert(approx.map(_._2).toSeq == exact.map(_._2).toSeq,
      "count multisets match (descending)")
    val exactFull = docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (w, c) =>
      assert(exactFull(w) == c, s"no-eviction count for '$w' is exact")
    }
    val boundary = exact.last._2
    assert(approx.filter(_._2 > boundary).toSet ==
      exact.filter(_._2 > boundary).toSet,
      "above the tie boundary, selection matches exact top-k")
  }

  test("tokenFrequencyApprox: heavy hitters survive eviction within the envelope") {
    import spark.implicits._
    // 3 items at 1000x + 2000 singletons, sketched with maxItemsTracked=64
    // (maxMapSize >= 128): a-priori error <= 3.5*N/maxMapSize ~ 137, so the
    // heavy items MUST be the top 3 with estimates within +-500 of truth.
    val heavy = Seq("alpha", "beta", "gamma").flatMap(w => Seq.fill(1000)(w))
    val noise = (1 to 2000).map(i => s"tok$i")
    val df = (heavy ++ noise).toDF("body")
    val out = Graft.tokenFrequencyApprox(df, col("body"), 3,
        maxItemsTracked = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(out.map(_._1).toSet == Set("alpha", "beta", "gamma"),
      s"heavy hitters are the top 3: ${out.mkString(",")}")
    out.foreach { case (w, c) =>
      assert(math.abs(c - 1000L) <= 500L,
        s"estimate for $w within the error envelope: $c")
    }
  }

  test("applyChanges: latest version wins, deletes drop, untouched keys survive") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "name", "v")
    val changes = Seq(
      (1L, "a2", 10.0, 5L, "u"), (1L, "a3", 11.0, 6L, "u"),
      (2L, "xx", 0.0, 7L, "d"),
      (4L, "new", 4.0, 8L, "u")
    ).toDF("k", "name", "v", "ver", "op")
    val out = Graft.applyChanges(base, changes, "k", "ver", "op")
      .orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a3", 11.0), (3L, "c", 3.0), (4L, "new", 4.0)))
  }

  test("dedupIncremental: drops corpus-known content, keeps first in batch") {
    import spark.implicits._
    val corp = Seq((1L, "alpha beta gamma")).toDF("k", "body")
    val batch = Seq(
      (20L, "gamma beta alpha"),          // token-set dup of corpus row
      (21L, "delta epsilon zeta"),        // new content
      (22L, "zeta delta epsilon"),        // in-batch dup of 21
      (23L, "eta theta iota")             // new content
    ).toDF("k", "body")
    val out = Graft.dedupIncremental(batch, corp, col("body"), col("body"),
      order = Seq(col("k")))
    assert(out.select("k").as[Long].collect().sorted.toSeq == Seq(21L, 23L))
  }

  test("quantileFilterPerGroup: per-group floor, boundary row kept") {
    import spark.implicits._
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 10.0), ("b", 20.0)
    ).toDF("g", "v")
    // q=0.5: a's median = 2.5 (keeps 3,4), b's = 15 (keeps 20);
    // q=0.25 on a: threshold 1.75 — and the exact-boundary row survives
    val half = Graft.quantileFilterPerGroup(df, col("g"), col("v"), 0.5)
    assert(half.select("v").as[Double].collect().sorted.toSeq ==
      Seq(3.0, 4.0, 20.0))
    val bBoundary = Graft.quantileFilterPerGroup(
      Seq(("b", 10.0), ("b", 20.0)).toDF("g", "v"), col("g"), col("v"), 0.5)
    assert(bBoundary.count() == 1) // median 15 keeps only 20
    val aQuarter = Graft.quantileFilterPerGroup(
      df.filter(col("g") === "a"), col("g"), col("v"), 0.75)
    // p75 of 1..4 = 3.25 -> keeps only 4.0
    assert(aQuarter.select("v").as[Double].collect().toSeq == Seq(4.0))
  }

  test("keySkew: shares sum to ~1 over all keys, skew = count/mean") {
    import spark.implicits._
    val df = (Seq.fill(6)("hot") ++ Seq("warm", "warm", "cold"))
      .toDF("k")
    val out = Graft.keySkew(df, col("k"), topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    // 9 rows, 3 keys -> mean 3; hot=6 -> skew 2.0, warm=2 -> 0.666667
    assert(out.toSeq == Seq(("hot", 6L, 2.0), ("warm", 2L, 0.666667),
      ("cold", 1L, 0.333333)))
    val top1 = Graft.keySkew(df, col("k"), topN = 1)
    assert(top1.count() == 1 &&
      top1.collect().head.getString(0) == "hot")
  }

  test("weightedSample: deterministic, dominant weight always wins, w<=0 excluded") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, if (i == 42L) 1e9 else 1e-6))
      .toDF("k", "w")
    val s1 = Graft.weightedSample(df, col("k"), col("w"), 10)
      .select("k").as[Long].collect().sorted.toSeq
    val s2 = Graft.weightedSample(df, col("k"), col("w"), 10)
      .select("k").as[Long].collect().sorted.toSeq
    assert(s1 == s2, "pure function of (id, weight)")
    assert(s1.contains(42L), "ln(u)/1e9 ~ 0- dominates every tiny-weight score")
    val withZero = Seq((1L, 1.0), (2L, 0.0), (3L, -5.0)).toDF("k", "w")
    val out = Graft.weightedSample(withZero, col("k"), col("w"), 3)
      .select("k").as[Long].collect().toSeq
    assert(out == Seq(1L), "non-positive weights never sampled, even with spare k")
  }

  test("mixSources: vtime = rn/weight per source; sorted prefix honors the mix") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 5L), ("b", 6L)).toDF("src", "k")
    val out = Graft.mixSources(df, col("src"), Seq(col("k")),
        weights = Map("a" -> 2.0), defaultWeight = 1.0)
      .orderBy(col("mix_order"), col("src"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("a", 1L, 0.5), ("a", 2L, 1.0), ("b", 5L, 1.0),
      ("a", 3L, 1.5), ("a", 4L, 2.0), ("b", 6L, 2.0)),
      "source a (weight 2) appears twice per b at every prefix")
  }

  test("boilerplateFraction: shared shingles flagged corpus-wide, unique doc 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "x y z"), (2L, "x y w"), (3L, "q r s")
    ).toDF("k", "body")
    val out = Graft.boilerplateFraction(df, col("k"), col("body"),
        n = 2, minDf = 2)
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // shingle 'x y' appears in docs 1 and 2 (df=2); all others df=1
    assert(out.toSeq == Seq((1L, 2L, 0.5), (2L, 2L, 0.5), (3L, 2L, 0.0)))
  }

  test("snapshotDiff: added/removed/changed classified; null vs empty distinct") {
    import spark.implicits._
    val oldDf = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (4L, None: Option[String])).toDF("k", "v")
    val newDf = Seq((1L, Some("a")), (2L, Some("B")), (5L, Some("e")),
      (4L, Some(""))).toDF("k", "v")
    val out = Graft.snapshotDiff(oldDf, newDf, "k", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 5L -> "added",
      4L -> "changed"), "null -> '' must register as a change, 1L unchanged")
  }

  test("laws: snapshotDiff(df, df) empty; incremental dedup vs empty corpus = plain dedup; weightedSample invariant to constant weight scaling") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    assert(Graft.snapshotDiff(docs, docs, "doc_id", Seq("lang", "text")).isEmpty,
      "a snapshot diffed against itself reports no changes")
    val viaIncr = Graft.dedupIncremental(docs, docs.filter(lit(false)),
      col("text"), col("text"), Seq(col("doc_id"))).select("doc_id")
    val viaExact = Graft.dedupExact(
        docs.withColumn("__sig", Graft.contentSignature(col("text"))),
        Seq(col("__sig")), Seq(col("doc_id"))).select("doc_id")
    assert(viaIncr.exceptAll(viaExact).isEmpty && viaExact.exceptAll(viaIncr).isEmpty,
      "with nothing in the corpus, incremental dedup IS within-batch dedup")
    val k = 25
    val w1 = Graft.weightedSample(docs, col("doc_id"), lit(1.0), k)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val w7 = Graft.weightedSample(docs, col("doc_id"), lit(7.0), k)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(w1 == w7, "scaling every weight by a constant cannot change the sample")
  }

  test("lmScoreBigram: unique continuations score high, sub-2-token docs absent") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a b"), (2L, "a b a b"), (3L, "a z"), (4L, "q"))
      .toDF("k", "body")
    val out = Graft.lmScoreBigram(df, col("k"), col("body"))
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 5L), (2L, 3L), (3L, 1L)),
      "bigram counts = tokens-1; the single-token doc is absent")
    // corpus: c(ab)=5 c(ba)=3 c(az)=1, c(a.)=6 c(b.)=3
    val Seq(x1, x2, x3) = out.map(_._3).toSeq
    assert(math.abs(x1 - (-(3 * math.log(5.0 / 6)) / 5)) < 1e-9)
    assert(math.abs(x3 - (-math.log(1.0 / 6))) < 1e-9)
    assert(x3 > x2 && x3 > x1, "the unique-bigram doc is least fluent")
  }

  test("observeQuality: counters ride the action, values exact") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, ""), (3L, null: String), (4L, "xy"))
      .toDF("k", "body")
    val (instrumented, obs) = Graft.observeQuality(df, "stage0", col("body"))
    instrumented.collect()
    val m = obs.get
    assert(m("rows") == 4L && m("empty_docs") == 2L && m("total_chars") == 5L)
  }

  test("activityIslands: maximal runs, duplicates can't split an island") {
    import spark.implicits._
    // user 1: {1,2,3, 7, 9,10} (dup tick 2); user 2: {5}
    val df = Seq((1L, 1L), (1L, 2L), (1L, 2L), (1L, 3L), (1L, 7L),
      (1L, 9L), (1L, 10L), (2L, 5L)).toDF("u", "t")
    val out = Graft.activityIslands(df, col("u"), col("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set((1L, 1L, 3L, 3L), (1L, 7L, 7L, 1L),
      (1L, 9L, 10L, 2L), (2L, 5L, 5L, 1L)))
  }

  test("collapseScd2: runs collapse, intervals chain, open run has null end") {
    import spark.implicits._
    val df = Seq((1L, "a", 1L), (1L, "a", 2L), (1L, "b", 3L), (1L, "a", 4L),
      (2L, null: String, 1L), (2L, "x", 2L)).toDF("k", "s", "o")
    val out = Graft.collapseScd2(df, col("k"), col("s"), col("o"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))).toSet
    assert(out == Set(
      (1L, 1L, Some("a"), 1L, 3L, 2L), // a-run [1,3), 2 observations
      (1L, 2L, Some("b"), 3L, 4L, 1L),
      (1L, 3L, Some("a"), 4L, -1L, 1L), // re-entering 'a' is a NEW version
      (2L, 1L, None, 1L, 2L, 1L), // null attr forms its own run
      (2L, 2L, Some("x"), 2L, -1L, 1L)))
  }

  test("tokenEntropy: uniform two-type doc has entropy ln 2, ttr 1/2") {
    import spark.implicits._
    val df = Seq((1L, "a a b b"), (2L, "z z z z")).toDF("k", "body")
    val out = Graft.tokenEntropy(df, col("k"), col("body"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L)._1 == 4 && out(1L)._2 == 2)
    assert(math.abs(out(1L)._3 - math.log(2)) < 1e-12)
    assert(math.abs(out(1L)._4 - 0.5) < 1e-12)
    assert(math.abs(out(2L)._3) < 1e-12, "single-type doc has zero entropy")
  }

  test("canonicalizeUrl: variants collapse, meaning-bearing parts survive") {
    import spark.implicits._
    val cases = Seq(
      ("https://Ex.COM/a/b", "https://ex.com/a/b"),
      ("https://ex.com:443/a/b/", "https://ex.com/a/b"),
      ("http://ex.com:80/", "http://ex.com/"),
      ("https://ex.com/a?utm_source=x&q=1#frag", "https://ex.com/a?q=1"),
      ("https://ex.com/a?q=1&utm_a=2&utm_b=3", "https://ex.com/a?q=1"),
      ("https://ex.com/a?ref=nav", "https://ex.com/a"),
      ("https://ex.com/a?href=keep", "https://ex.com/a?href=keep"),
      ("https://ex.com", "https://ex.com/"))
    val got = cases.map(_._1).toDF("u")
      .select(Graft.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want")
    }
  }

  test("robustOutlierScores: known median/MAD; constant group scores null") {
    import spark.implicits._
    val df = (Seq.tabulate(9)(i => (i.toLong, "g", (i + 1).toDouble)) ++
      Seq((100L, "c", 5.0), (101L, "c", 5.0), (102L, "c", 5.0)))
      .toDF("pk", "grp", "v")
    val rows = Graft.robustOutlierScores(df, col("pk"), col("grp"), col("v"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // group g = 1..9: med 5, |dev| = {4,3,2,1,0,1,2,3,4} -> mad 2
    assert(rows(0L).getDouble(3) == 5.0 && rows(0L).getDouble(4) == 2.0)
    assert(math.abs(rows(0L).getDouble(5) - 4.0 / (1.4826 * 2)) < 1e-12)
    assert(rows(100L).isNullAt(5), "MAD 0 must score null, not Inf")
  }

  test("knnWithinGroups: self excluded, blocked by group, ranks ordered") {
    import spark.implicits._
    // group 0: x-axis, diag, y-axis; group 1: lone vector (no neighbors)
    val df = Seq(
      (1L, 0, Array(1f, 0f)), (2L, 0, Array(1f, 1f)), (3L, 0, Array(0f, 1f)),
      (9L, 1, Array(1f, 0f))).toDF("pk", "cell", "emb")
    val out = Graft.knnWithinGroups(df, col("pk"), col("cell"), col("emb"), 1)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(out(1L) == (1, 2L), "x-axis vector is closest to the diagonal")
    assert(out(3L) == (1, 2L))
    assert(out(2L)._2 == 1L, "diag ties x/y at cos 45, id tiebreak keeps 1")
    assert(!out.contains(9L), "a single-vector group emits no pairs")
  }

  test("shingleContainment: quote inside a long page scores by the quote") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val page = s"intro words here $quote closing words trail off end"
    val df = Seq((1L, quote), (2L, page), (3L, "unrelated text entirely now"))
      .toDF("k", "body")
    val out = Graft.shingleContainment(df, col("k"), col("body"), n = 3,
        minContain = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out((1L, 2L)) == 1.0, s"every quote shingle is in the page: $out")
    assert(!out.contains((2L, 1L)),
      "page→quote containment is low — asymmetry is the point")
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pmiBigrams: repeated collocation outranks chance co-occurrence") {
    import spark.implicits._
    // "new york" always together; "the" pairs with everything
    val df = Seq.fill(6)("the new york times said the weather in new york")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("k", "body")
    val out = Graft.pmiBigrams(df, col("body"), minCount = 5L, topN = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3)))
    val m = out.toMap
    assert(m.contains(("new", "york")))
    assert(m(("new", "york")) > m.getOrElse(("the", "new"), Double.MinValue),
      s"PMI must prefer the exclusive pair: $out")
  }

  test("intervalCoverage: overlaps merge, touching merge, gaps split") {
    import spark.implicits._
    // key 1: [0,10] ∪ [5,15] ∪ [15,20] = one span [0,20]; [30,40] separate
    // key 2: duplicate intervals collapse into the same span
    val df = Seq((1L, 0L, 10L), (1L, 5L, 15L), (1L, 15L, 20L),
      (1L, 30L, 40L), (2L, 3L, 7L), (2L, 3L, 7L)).toDF("k", "s", "e")
    val out = Graft.intervalCoverage(df, col("k"), col("s"), col("e"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (2L, 30L, 0L, 40L), s"got ${out(1L)}")
    assert(out(2L) == (1L, 4L, 3L, 7L), s"got ${out(2L)}")
  }

  test("collapseClusters: singletons stand alone, best member survives") {
    import spark.implicits._
    val rows = Seq((1L, "dup dup text", 30L), (2L, "dup dup text", 30L),
      (3L, "dup dup text", 30L), (9L, "alone here", 10L))
      .toDF("pk", "body", "len")
    val pairs = Graft.exactDupPairs(rows, col("pk"), col("body"))
    val out = Graft.collapseClusters(rows, pairs, col("pk"),
        order = Seq(col("len").desc, col("pk")),
        stats = Seq("sum_len" -> sum(col("len"))))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out == Map(
      1L -> (1L, 3L, 90L), // cluster of 1,2,3: survivor 1 (len tie, min id)
      9L -> (9L, 1L, 10L)), s"got $out")
  }

  test("zipfFit matches a driver-side OLS on the same rank/count points") {
    import spark.implicits._
    // vocab: a x8, b x4, c x2, d x1 -> ranks 1..4 with counts 8,4,2,1
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).mkString(" ")
    val out = Graft.zipfFit(Seq(("g", text)).toDF("grp0", "body"),
      col("grp0"), col("body")).head
    val pts = Seq((1, 8), (2, 4), (3, 2), (4, 1))
      .map { case (r, c) => (math.log(r.toDouble), math.log(c.toDouble)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(out.getLong(1) == 4)
    assert(math.abs(out.getDouble(2) - slope) < 1e-12, s"slope ${out.getDouble(2)}")
    assert(math.abs(out.getDouble(3) - (sy - slope * sx) / n) < 1e-12)
    assert(slope < 0, "rank-frequency slope must be negative")
  }

  test("sampleKPerGroup: exact size, insensitive to input order") {
    import spark.implicits._
    val rows = Seq.tabulate(7)(i => (i.toLong, if (i < 5) "big" else "small"))
    val df = rows.toDF("pk", "grp")
    val got = Graft.sampleKPerGroup(df, col("grp"), col("pk"), 3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(got.count(_._1 == "big") == 3, "exactly k from the big group")
    assert(got.count(_._1 == "small") == 2, "min(k, |group|) from the small")
    val shuffled = scala.util.Random.shuffle(rows).toDF("pk", "grp")
    val again = Graft.sampleKPerGroup(shuffled, col("grp"), col("pk"), 3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(again == got, "the draw is a pure function of (group, id)")
  }

  test("ksStatistic: 0 for identical, 1 for disjoint, exact small case") {
    import spark.implicits._
    val a = Seq(1.0, 2.0).toDF("x")
    assert(Graft.ksStatistic(a, a, col("x"))
      .head.getDouble(2) == 0.0)
    val b = Seq(10.0, 11.0).toDF("x")
    assert(Graft.ksStatistic(a, b, col("x")).head.getDouble(2) == 1.0)
    // a={1,2}, b={1,3}: F_a=(.5,1,1), F_b=(.5,.5,1) at v=1,2,3 -> D=0.5
    val c = Seq(1.0, 3.0).toDF("x")
    val r = Graft.ksStatistic(a, c, col("x")).head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getDouble(2) == 0.5)
    // an empty side yields null d_stat, never NaN/Infinity
    val empty = Seq.empty[Double].toDF("x")
    val re = Graft.ksStatistic(a, empty, col("x")).head
    assert(re.getLong(1) == 0 && re.isNullAt(2), s"got $re")
  }

  test("triangles: K4 lists all 4; a star has none; orientation-proof") {
    import spark.implicits._
    val k4 = (for {a <- 1L to 4L; b <- (a + 1) to 4L} yield (a, b))
      .toDF("p", "q")
    val got = Graft.triangles(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("p", "q")
    assert(Graft.triangles(star).count() == 0)
  }

  test("triangles maxDegree guard: 50-clique excised, small components kept") {
    import spark.implicits._
    // a 50-clique (every node degree 49) plus a disjoint triangle
    // (degrees 2) — the mega-clique guard must drop exactly the former
    val clique = for {a <- 1L to 50L; b <- (a + 1) to 50L} yield (a, b)
    val tri = Seq((100L, 101L), (100L, 102L), (101L, 102L))
    val pairs = (clique ++ tri).toDF("p", "q")
    // uncapped: C(50,3) + 1
    assert(Graft.triangles(pairs).count() == 19600L + 1L)
    // capped below 49: only the small triangle survives
    val capped = Graft.triangles(pairs, maxDegree = Some(10L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == Set((100L, 101L, 102L)))
    // cap at exactly 49 binds nothing
    assert(Graft.triangles(pairs, maxDegree = Some(49L)).count() == 19601L)
    // skip list reports exactly the clique members with their degrees
    val skipped = Graft.highDegreeNodes(pairs, maxDegree = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(skipped.keySet == (1L to 50L).toSet && skipped.values.forall(_ == 49L))
  }

  test("ewma: horizon 1 is identity, constants are fixed points, exact 2-row") {
    import spark.implicits._
    val df = Seq((1L, 1, 10.0), (1L, 2, 20.0), (2L, 1, 7.0), (2L, 2, 7.0))
      .toDF("k", "t", "x")
    // horizon 1: only the current row is in frame -> ewma == x
    val h1 = Graft.ewma(df, col("k"), Seq(col("t")), col("x"), 0.8, 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3))).toSet
    assert(h1 == Set((1L, 1, 10.0), (1L, 2, 20.0), (2L, 1, 7.0), (2L, 2, 7.0)))
    val h16 = Graft.ewma(df, col("k"), Seq(col("t")), col("x"), 0.5, 16)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    // constant series is a fixed point regardless of length
    assert(h16((2L, 1)) == 7.0 && h16((2L, 2)) == 7.0)
    // two rows, decay 1/2: (0.5*10 + 1*20) * 0.5 / (1 - 0.25) = 16.666667
    assert(h16((1L, 2)) == 16.666667, s"got ${h16((1L, 2))}")
  }

  test("psiDrift: identical halves give zero contribs, a moved bin does not") {
    import spark.implicits._
    val same = (1 to 50).flatMap(i =>
      Seq((i.toDouble % 40, false), (i.toDouble % 40, true)))
      .toDF("v", "cur")
    val z = Graft.psiDrift(same, col("cur"), col("v"), 10.0).collect()
    assert(z.nonEmpty && z.forall(_.getDouble(3) == 0.0),
      s"expected all-zero contribs: ${z.mkString(",")}")
    // all baseline mass in [0,10), all current mass in [10,20)
    val moved = ((1 to 20).map(_ => (5.0, false)) ++
      (1 to 20).map(_ => (15.0, true))).toDF("v", "cur")
    val m = Graft.psiDrift(moved, col("cur"), col("v"), 10.0)
      .collect().map(r => r.getDouble(0) -> r.getDouble(3)).toMap
    assert(m(0.0) > 1.0 && m(10.0) > 1.0, s"got $m") // big one-sided shifts
  }

  test("coPurchasePairs: support counts baskets, lift exact, repeats dedup") {
    import spark.implicits._
    // baskets: 1={a,b,c} (b repeated), 2={a,b}, 3={a}
    val df = Seq((1L, "a"), (1L, "b"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (3L, "a")).toDF("bk", "it")
    val got = Graft.coPurchasePairs(df, col("bk"), col("it"), 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3))))
    // only (a,b): supp 2, lift = 2*3 / (3*2) = 1.0
    assert(got.toSeq == Seq((("a", "b"), (2L, 1.0))), got.mkString(","))
    val all = Graft.coPurchasePairs(df, col("bk"), col("it"), 1L)
    assert(all.count() == 3) // (a,b), (a,c), (b,c)
  }

  test("benfordDigits: digits off the decimal string, zero rows guarded") {
    import spark.implicits._
    val df = (1L to 9L).map(d => d * 100L).toDF("cents") // digits 1..9 once
      .union(Seq(0L).toDF("cents"))                      // no first digit
    val rows = Graft.benfordDigits(df, col("cents"))
      .orderBy(col("digit")).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9) &&
      rows.forall(_.getLong(1) == 1L))
    // expected(d=1) = 9 * log10(2)
    assert(math.abs(rows.head.getDouble(2) - 9 * math.log10(2.0)) < 1e-6)
  }

  test("linearTrend: exact slope on a known line, degenerate keys dropped") {
    import spark.implicits._
    val df = Seq(
      ("a", 0L, 10L), ("a", 1L, 13L), ("a", 2L, 16L),   // slope exactly 3
      ("b", 0L, 1L), ("b", 0L, 9L), ("b", 0L, 5L),      // zero x-variance
      ("c", 0L, 1L), ("c", 5L, 2L))                     // only 2 points
      .toDF("k", "x", "y")
    val got = Graft.linearTrend(df, col("k"), col("x"), col("y"), 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 3L, 3.0)), got.mkString(","))
  }

  test("dedupWithinTtl: anchor semantics (not lag-gap), per key, all cols") {
    import spark.implicits._
    val df = Seq(
      ("u", 0L, "a"), ("u", 5L, "b"), ("u", 10L, "c"),
      ("u", 14L, "d"), ("u", 20L, "e"),
      ("v", 3L, "x"))
      .toDF("k", "t", "payload")
    val kept = Graft.dedupWithinTtl(df, col("k"), col("t"), 10L, col("payload"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // u: keep 0; 5 within ttl of 0; 10 >= 0+10 keep; 14 within ttl of 10
    // (anchor is the KEPT row — a lag-gap window would wrongly keep 14);
    // 20 >= 10+10 keep. v: singleton survives.
    assert(kept == Set(("u", 0L), ("u", 10L), ("u", 20L), ("v", 3L)), kept)
    // schema passes through untouched
    assert(Graft.dedupWithinTtl(df, col("k"), col("t"), 10L, col("payload"))
      .columns.toSeq == Seq("k", "t", "payload"))
  }

  test("intervalOverlapJoin: closed bounds, multi-bucket dedup, keyed block") {
    import spark.implicits._
    val a = Seq((1L, 10L, 0L, 250L),    // spans 3 buckets of 100
      (1L, 11L, 400L, 450L), (2L, 20L, 0L, 50L))
      .toDF("k", "iv", "s", "e")
    val b = Seq((1L, 90L, 200L, 600L),  // overlaps 10 (at 200-250) and 11
      (1L, 91L, 260L, 300L),            // gap vs 10, before 11
      (2L, 92L, 50L, 60L),              // touches 20 at exactly 50
      (3L, 93L, 0L, 1000L))             // different key: never paired
      .toDF("k", "iv", "s", "e")
    val got = Graft.intervalOverlapJoin(a, b, "k", "iv", "s", "e", 100L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((10L, 90L, 50L), (11L, 90L, 50L), (20L, 92L, 0L)),
      got.toString) // each pair exactly once despite multi-bucket matches
  }

  test("ancestorClosure: full chain depths, maxDepth caps, branches merge") {
    import spark.implicits._
    //      4 -> 3 -> 1,  5 -> 3,  2 -> 1   (1 is the root, no out-edge)
    val edges = Seq((4L, 3L), (5L, 3L), (3L, 1L), (2L, 1L))
      .toDF("c", "p")
    val full = Graft.ancestorClosure(edges, col("c"), col("p"), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == Set((4L, 3L, 1), (4L, 1L, 2), (5L, 3L, 1), (5L, 1L, 2),
      (3L, 1L, 1), (2L, 1L, 1)), full.toString)
    val capped = Graft.ancestorClosure(edges, col("c"), col("p"), 1)
    assert(capped.count() == 4) // direct parents only
  }

  test("ancestorClosureDyn discovers depth; throws on a cycle at the cap") {
    import spark.implicits._
    val edges = Seq((4L, 3L), (5L, 3L), (3L, 1L), (2L, 1L))
      .toDF("c", "p")
    // discovered depth (2) must equal the declared-depth closure
    val dyn = Graft.ancestorClosureDyn(edges, col("c"), col("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val static = Graft.ancestorClosure(edges, col("c"), col("p"), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(dyn == static, s"dyn $dyn != static $static")
    // a parent-pointer cycle must throw at the cap, not loop or truncate
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("c", "p")
    val e = intercept[IllegalArgumentException] {
      Graft.ancestorClosureDyn(cyc, col("c"), col("p"), depthCap = 5)
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("iterateUntilFixpoint: rounds counted, halt respected, cap reported") {
    import spark.implicits._
    // state = one row holding n; step halves it; halt at n == 0
    val init = Seq(8L).toDF("n")
    val fp = Graft.iterateUntilFixpoint(init, maxIter = 10) { (st, _) =>
      st.select((col("n") / 2).cast("long").as("n"))
    } { (st, _) => st.head().getLong(0) == 0L }
    assert(fp.converged && fp.rounds == 4) // 8 -> 4 -> 2 -> 1 -> 0
    assert(fp.state.head().getLong(0) == 0L)
    // hitting maxIter without halting reports converged = false
    val capped = Graft.iterateUntilFixpoint(init, maxIter = 2) { (st, _) =>
      st.select((col("n") / 2).cast("long").as("n"))
    } { (st, _) => st.head().getLong(0) == 0L }
    assert(!capped.converged && capped.rounds == 2)
    assert(capped.state.head().getLong(0) == 2L)
    // the step receives the 0-based round index
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    Graft.iterateUntilFixpoint(init, maxIter = 3) { (st, i) =>
      seen += i; st
    } { (_, _) => false }
    assert(seen.toSeq == Seq(0, 1, 2))
  }

  test("skyline2D: dominance exact on ties, duplicates of frontier pairs kept") {
    import spark.implicits._
    val df = Seq(
      ("a", 10L, 1L),  // frontier (max x)
      ("b", 8L, 3L),   // frontier
      ("c", 8L, 2L),   // dominated by b (same x, higher y)
      ("d", 5L, 3L),   // dominated by b (same y, higher x)
      ("e", 4L, 9L),   // frontier (max y)
      ("f", 4L, 9L),   // tie of e: mutually non-dominating -> kept
      ("g", 3L, 8L))   // dominated by e
      .toDF("id", "x", "y")
    val got = Graft.skyline2D(df, col("x"), col("y"), 100L)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("a", "b", "e", "f"), got.toString)
  }

  test("interpolateLinear fills gaps on the line; edges backfill/carry") {
    import spark.implicits._
    // key 1: interior gap between (1,10) and (4,40) -> 20, 30; leading
    // gap backfills; trailing gap carries forward. key 2: all-null stays
    // null. Interpolation follows ord DISTANCE, not row count.
    val df = Seq(
      (1L, 0.0, Option.empty[Double]), // leading -> backfill 10
      (1L, 1.0, Some(10.0)),
      (1L, 2.0, None),                 // -> 10 + 30*(2-1)/(4-1) = 20
      (1L, 3.0, None),                 // -> 30
      (1L, 4.0, Some(40.0)),
      (1L, 5.0, None),                 // trailing -> 40
      (2L, 1.0, None)                  // all-null key -> null
    ).toDF("k", "o", "v")
    val got = Graft.interpolateLinear(df, col("k"), col("o"),
        col("v"), tieBreak = col("o"))
      .orderBy(col("k"), col("o"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.toSeq == Seq(
      (1L, 0.0, Some(10.0)), (1L, 1.0, Some(10.0)), (1L, 2.0, Some(20.0)),
      (1L, 3.0, Some(30.0)), (1L, 4.0, Some(40.0)), (1L, 5.0, Some(40.0)),
      (2L, 1.0, None)))
  }

  test("interpolateLinear: tied ords around a gap fall back, never NaN") {
    import spark.implicits._
    // duplicate timestamp 1.0 carries both the null and its bounding
    // known neighbors: the line is degenerate (0/0) — the null must take
    // the previous known value, not NaN/Infinity
    val df = Seq(
      (1L, 1.0, 0L, Some(10.0)),
      (1L, 1.0, 1L, Option.empty[Double]),
      (1L, 1.0, 2L, Some(30.0))
    ).toDF("k", "o", "tb", "v")
    val got = Graft.interpolateLinear(df, col("k"), col("o"),
        col("v"), tieBreak = col("tb"))
      .orderBy(col("tb"))
      .collect().map(_.getDouble(4))
    assert(!got.exists(x => x.isNaN || x.isInfinite), got.mkString(","))
    assert(got.toSeq == Seq(10.0, 10.0, 30.0), got.mkString(","))
  }

  test("theilSenSlopes ignores the outlier that drags OLS") {
    import spark.implicits._
    // y = 2x exactly, except one wild outlier at x=5. OLS moves far from
    // 2; the median of pairwise slopes stays exactly 2.
    val pts = (0 to 9).map(i =>
      (1L, i.toDouble, if (i == 5) 1000.0 else 2.0 * i))
    val df = pts.toDF("k", "x", "y")
    val ts = Graft.theilSenSlopes(df, col("k"), col("x"),
        col("y"), tieBreak = col("x"), maxLag = 8)
      .head()
    assert(ts.getDouble(2) == 2.0, s"robust slope: $ts")
    val ols = Graft.linearTrend(df, col("k"), col("x"), col("y"),
      minPoints = 2).head().getDouble(2)
    assert(math.abs(ols - 2.0) > 5.0, s"OLS should be dragged: $ols")
  }

  test("sessionizeCapped breaks on idle gap OR span cap from session start") {
    import spark.implicits._
    // gap = 10, cap = 25. Events at t = 0, 8, 16, 24, 32: every gap is
    // 8 <= 10, but t=32 sits 32 > 25 past the session start -> the CAP
    // breaks it (a gap-only sessionizer would keep one session). The
    // new session's start RESETS to 32: t=40 continues it. t=60 then
    // breaks by GAP (20 > 10). Second key is independent.
    val df = Seq((1L, 0L), (1L, 8L), (1L, 16L), (1L, 24L), (1L, 32L),
      (1L, 40L), (1L, 60L), (2L, 0L)).toDF("k", "t")
    val got = Graft.sessionizeCapped(df, col("k"), col("t"), col("t"),
        gapSeconds = 10L, maxSeconds = 25L)
      .orderBy(col("k"), col("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 0L, 1L), (1L, 8L, 1L), (1L, 16L, 1L),
      (1L, 24L, 1L), (1L, 32L, 2L), (1L, 40L, 2L), (1L, 60L, 3L),
      (2L, 0L, 1L)))
  }

  test("pairsWithinGroups: pair set equals the key-equality self-join") {
    import spark.implicits._
    // one hot key (120 members), cold keys, NULL keys, a duplicate id
    val input = (1 to 120).map(i => ("hot", i.toLong)) ++
      Seq(("c1", 500L), ("c1", 501L), ("c2", 600L),
        (null: String, 900L), (null: String, 901L),
        ("dup", 700L), ("dup", 700L), ("dup", 701L))
    val got = Graft.pairsWithinGroups(input.toDF("__k", "__id"),
        Seq(col("__k")), col("__id"))
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(p => (p._1, p._2)).toSeq
    // plain Scala reference: the self-join on key equality (NULL never
    // equals NULL) keeping a < b, one row per joined pair of rows
    val want = (for {
      (ka, a) <- input; (kb, b) <- input
      if ka != null && ka == kb && a < b
    } yield (a, b)).sortBy(p => (p._1, p._2))
    assert(got == want)
    assert(got.size == 120 * 119 / 2 + 1 + 2)
  }

  test("pairsWithinGroups: a 5000-member mass-duplicate key yields every pair") {
    import spark.implicits._
    val n = 5000
    val rows = (1 to n).map(i => ("same", i.toLong)).toDF("__k", "__id")
    val cnt = Graft.pairsWithinGroups(rows, Seq(col("__k")), col("__id"))
      .count()
    assert(cnt == 12497500L) // n * (n - 1) / 2
  }
}
