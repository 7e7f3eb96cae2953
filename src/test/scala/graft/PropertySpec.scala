package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Algebraic laws over the fixture tables (SURVEY.md §5.2). */
class PropertySpec extends SparkSpec {

  test("semi ⊎ anti partition the left input") {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
    assert(semi + anti == c.count())
  }

  test("union all counts add; union distinct bounded by sum") {
    val a = Tables(spark, sfDir, "customer").select(col("c_custkey").as("k"))
    val b = Tables(spark, sfDir, "supplier").select(col("s_suppkey").as("k"))
    assert(a.union(b).count() == a.count() + b.count())
    assert(a.union(b).distinct().count() <= a.count() + b.count())
  }

  test("dedup is idempotent") {
    val q = SparkEntry.queries("q30_dedup_exact")
    val once = q(spark, sfDir)
    // keep-first over an already-deduped input changes nothing
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    val twice = once.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    assert(twice.count() == once.count())
    assert(twice.exceptAll(once).isEmpty)
  }

  test("cosine similarity is within [-1,1] and sim(query,query)≈1 tops the list") {
    val top = SparkEntry.queries("q32_cosine_topk")(spark, sfDir)
      .select(col("vec_id"), col("cos_sim")).collect()
    assert(top.forall(r => r.getDouble(1) >= -1.0000001 && r.getDouble(1) <= 1.0000001))
    // the query vector (vec_id=0) is in the corpus, so it is its own top hit
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("minhash LSH finds exact-duplicate texts with jaccard 1.0 and no false positives") {
    import spark.implicits._
    // identical texts => identical shingle sets => identical minhash
    // signature => guaranteed band collision (recall = 1 for exact dups)
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank", "en", "s0", 60L),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en", "s1", 60L),
      (2L, "completely different words about spark shuffle partitions and codegen stages", "en", "s2", 70L),
      (3L, "completely different words about spark shuffle partitions and codegen stages", "en", "s3", 70L),
      (4L, "a third unrelated document mentioning minhash banding and jaccard filters", "en", "s4", 70L),
      // NULL texts share one shingle set; they must not pair
      (5L, null, "en", "s5", 0L),
      (6L, null, "en", "s6", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("lshtest").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("q31_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 1.0), (2L, 3L, 1.0)),
      s"LSH pairs wrong: ${pairs.mkString(", ")}")
  }

  test("approx_count_distinct is within the declared 1% rsd of exact") {
    val li = Tables(spark, sfDir, "lineitem")
    val approx = SparkEntry.queries("q13_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex < 0.05,
        s"flag $k: approx $ap vs exact $ex beyond tolerance")
    }
  }

  test("percentile_approx lands within rank-error bounds of exact percentile") {
    val li = Tables(spark, sfDir, "lineitem")
    // accuracy 100 => rank error <= 1/100; check the p50 approximation
    // sits between the exact p45 and p55 per group
    val rows = li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5, 100)").as("ap50"),
        expr("percentile(l_extendedprice, 0.45)").as("lo"),
        expr("percentile(l_extendedprice, 0.55)").as("hi"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ap, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(ap >= lo && ap <= hi,
        s"${r.getString(0)}: approx p50 $ap outside exact [$lo, $hi]")
    }
  }

  test("window ranks are >=1 and rn >= rk >= drk") {
    val df = SparkEntry.queries("q16_window_rank")(spark, sfDir)
    assert(df.filter(col("rn") < 1 || col("rk") < 1 || col("drk") < 1).count() == 0)
    assert(df.filter(col("rn") < col("rk") || col("rk") < col("drk")).count() == 0)
  }

  test("HLL shard sketches union to the one-pass sketch; both near exact") {
    val r = SparkEntry.queries("q94_hll_shards")(spark, sfDir).head()
    val (merged, direct, exact) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(merged == direct,
      s"sketch union must be lossless: merged=$merged direct=$direct")
    // datasketches HLL rsd at lgK=12 is ~1.04/sqrt(4096) ≈ 1.6%; 3σ gate
    assert(math.abs(direct - exact) / exact.toDouble < 0.05,
      s"estimate $direct too far from exact $exact")
  }

  test("rank-stat laws: Mann-Whitney U bounds, Kendall tau identity") {
    // U ∈ [0, n1·n2] is the rank-sum identity U_click + U_view = n1·n2
    // restated from the output columns alone; z must be finite
    SparkEntry.queries("q163_mannwhitney")(spark, sfDir).collect()
      .foreach { r =>
        val (n1, n2) = (r.getLong(1), r.getLong(2))
        val u = r.getDouble(3)
        assert(u >= 0 && u <= n1.toDouble * n2, s"U=$u outside [0,${n1 * n2}]")
        assert(!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite)
      }
    // tau = (C−D)/n_pairs ∈ [−1,1]; C+D ≤ n_pairs; n_pairs = C(n,2) for
    // integral n (8·n_pairs+1 is an odd perfect square)
    SparkEntry.queries("q164_kendall")(spark, sfDir).collect().foreach { r =>
      val (np, c, dd, tau) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(c + dd <= np && math.abs(tau) <= 1.0)
      assert(math.abs((c - dd).toDouble / np - tau) < 1e-12)
      val s = math.sqrt(8.0 * np + 1).round
      assert(s * s == 8 * np + 1, s"n_pairs=$np is not a binomial C(n,2)")
    }
  }

  test("concentration laws: 1/n ≤ HHI ≤ CR1 ≤ 1; Wilson brackets p") {
    SparkEntry.queries("q166_hhi")(spark, sfDir).collect().foreach { r =>
      val (n, hhi, cr1) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      // HHI ≥ 1/n at equality only for uniform shares; HHI ≤ CR1 since
      // sum(s²) ≤ max(s)·sum(s) = CR1
      assert(hhi >= 1.0 / n - 1e-12 && hhi <= cr1 + 1e-12 && cr1 <= 1.0 + 1e-12,
        s"n=$n hhi=$hhi cr1=$cr1")
    }
    SparkEntry.queries("q172_wilson_ci")(spark, sfDir).collect().foreach { r =>
      val (p, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo >= 0 && hi <= 1 && lo <= p + 1e-12 && p <= hi + 1e-12,
        s"Wilson [$lo,$hi] does not bracket p=$p in [0,1]")
    }
  }

  test("temporal-stat laws: burstiness in [-1,1], entropy in [0, ln k]") {
    SparkEntry.queries("q173_burstiness")(spark, sfDir).collect().foreach {
      r =>
        val b = r.getDouble(4)
        assert(b >= -1.0 - 1e-12 && b <= 1.0 + 1e-12, s"burstiness $b")
        assert(r.getDouble(3) >= 0, "stddev must be non-negative")
    }
    SparkEntry.queries("q174_transition_entropy")(spark, sfDir).collect()
      .foreach { r =>
        val (pairs, h) = (r.getLong(2), r.getDouble(3))
        assert(h >= -1e-12 && h <= math.log(pairs.toDouble) + 1e-9,
          s"entropy $h outside [0, ln($pairs)]")
      }
  }

  test("curation laws: vocab growth telescopes; blocklist flags consistent") {
    val vg = SparkEntry.queries("q170_vocab_growth")(spark, sfDir).collect()
    assert(vg.nonEmpty)
    var cum = 0L
    vg.foreach { r =>
      assert(r.getLong(1) > 0, "every batch must contribute new shingles")
      cum += r.getLong(1)
      assert(r.getLong(2) == cum,
        s"vocab_size ${r.getLong(2)} != running sum $cum — the chunked " +
          "prefix scan disagrees with the per-batch counts")
    }
    SparkEntry.queries("q167_blocklist")(spark, sfDir).collect().foreach {
      r =>
        val (nt, hits, rate, blocked) =
          (r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5))
        assert(hits <= nt)
        assert(blocked == (if (rate > 0.08) 1 else 0))
    }
  }

  test("IQR fence law: flagged counts match a direct recount") {
    // recompute the fences from the same exact percentiles and recount —
    // the query's broadcast-join path must agree with the direct scan
    val got = SparkEntry.queries("q171_iqr_outliers")(spark, sfDir)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(4), r.getLong(5)))).toMap
    val ev = Tables(spark, sfDir, "events").filter(col("value").isNotNull)
    got.foreach { case (et, (n, nLow, nHigh)) =>
      val vs = ev.filter(col("event_type") === et)
        .select(col("value")).collect().map(_.getDouble(0)).sorted
      assert(vs.length == n)
      def interp(p: Double): Double = {
        val pos = p * (vs.length - 1)
        val lo = pos.toInt
        if (lo == vs.length - 1) vs(lo)
        else vs(lo) + (vs(lo + 1) - vs(lo)) * (pos - lo)
      }
      val (q1, q3) = (interp(0.25), interp(0.75))
      val (fl, fh) = (q1 - (q3 - q1) * 1.5, q3 + (q3 - q1) * 1.5)
      assert(vs.count(_ < fl) == nLow && vs.count(_ > fh) == nHigh,
        s"$et: recount (${vs.count(_ < fl)},${vs.count(_ > fh)}) " +
          s"!= query ($nLow,$nHigh)")
    }
  }
}
