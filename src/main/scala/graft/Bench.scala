package graft

/** Per-round benchmark: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall-clock seconds.
  *
  * Each query is materialized through the `noop` sink: every result row is
  * fully computed and serialized on the executors (unlike `.count()`, which
  * lets Catalyst drop the final sort and prune columns), so the timing
  * includes the whole declared plan — scan, shuffles, sort — and nothing is
  * funneled through the driver.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.session(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.views(spark, sfDir)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    // Warm-up passes are run and DISCARDED before the timed reps: the first
    // pass through 200+ queries pays JIT compilation, codegen-class loading,
    // and parquet-footer caching that no steady-state pass pays, and r10
    // showed the driver box can also be externally loaded for minutes at a
    // time — a discarded first pass keeps both effects out of the medians.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1").toInt
    // SPARK_GRAFT_ONLY=q1,q2 narrows the run while iterating on one query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.all.map(_.name)
      .filter(n => only.forall(_.contains(n)))
    // LinkedHashSet: a query failing identically on every rep reports once
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    // median of `reps` runs per query: single-shot timings on a shared JVM
    // swing 10-29x on identical code (JIT warmup, GC, code-cache churn) —
    // r2 vs r3 proved single-shot numbers are pure noise.
    // Reps run as INTERLEAVED full passes (every query rep1, then rep2, ...)
    // rather than back-to-back per query: a minutes-long co-located load
    // spike then inflates one pass instead of all reps of whichever queries
    // it overlapped, and the median filters it (r4 saw isolated-2s queries
    // report 11-24s when consecutive reps all landed inside a spike).
    def runOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop any caches a query materialized: each query is timed as a
      // standalone job, and leaked cache blocks distort later timings
      spark.catalog.clearCache()
      if (ok) Some(dt) else None
    }
    (1 to warmup).foreach { _ => names.foreach(runOnce); errors.clear() }
    val samples = (1 to reps).flatMap { _ =>
      names.flatMap(n => runOnce(n).map(n -> _))
    }.groupMap(_._1)(_._2)
    val results = names.map { name =>
      val times = samples.getOrElse(name, Seq.empty)
      val median =
        if (times.isEmpty) Double.NaN
        else times.sorted.apply((times.size - 1) / 2)
      name -> median
    }
    // min-of-n alongside the median (detail file only): the min is the best
    // available estimate of a query's intrinsic cost when the box is noisy —
    // a query whose median spikes but whose min matches history is noise,
    // not a regression (r10's q31_minhash_lsh: median 14.3s, clean 2.5s).
    val mins = names.map { name =>
      val times = samples.getOrElse(name, Seq.empty)
      name -> (if (times.isEmpty) Double.NaN else times.min)
    }
    // Variance tripwire (r15's q55 lesson: a 5.83s median over a 2.29s min
    // meant ≥3 of 5 reps ran under external load, and the skewed median
    // became the round's committed number with nothing flagging it). A
    // query whose median exceeds 1.5× its min is flagged in the detail
    // file so an interference-skewed median reads as suspect, not as a
    // regression. The min stays the intrinsic-cost estimate.
    val varianceWarnings = names.flatMap { name =>
      val med = results.toMap.getOrElse(name, Double.NaN)
      val mn = mins.toMap.getOrElse(name, Double.NaN)
      if (!med.isNaN && !mn.isNaN && mn > 0.5 && med / mn > 1.5)
        Some(f"$name: median ${med}%.2fs vs min ${mn}%.2fs (${med / mn}%.1fx) — rerun on a quiet box before trusting the median")
      else None
    }
    // Machine-drift canary: the ratio of this run's median total over five
    // STABLE, plan-simple queries to their committed r13 sf0.1 medians
    // (BENCH_r13/BENCH_FULL.json, commit 85dab69, same box). Round-over-
    // round totals were only separable into "machine slower" vs "real
    // regression" by ad-hoc same-day worktree reruns (r13 did one: 1.09×
    // median on identical code); the canary ships that calibration in
    // every BENCH_rNN.json instead. drift ≈ 1.0 → box comparable to r13;
    // drift 1.15 → interpret a +15% total as ambient. Defined only at the
    // driver's per-round SF (the reference was measured there); null
    // elsewhere. Uses the main run's medians — zero extra passes.
    val canaryRef = Map(
      "q01_scan" -> 0.617, "q04_join_broadcast" -> 0.309,
      "q11_agg_hash" -> 1.681, "q16_window_rank" -> 0.571,
      "q33_tokens" -> 0.433)
    val drift: Option[Double] =
      if (!sfDir.endsWith("sf0.1")) None
      else {
        val got = canaryRef.keys.toSeq
          .map(k => results.toMap.getOrElse(k, Double.NaN))
        if (got.exists(_.isNaN)) None
        else Some(got.sum / canaryRef.values.sum)
      }
    // Locale.ROOT: f"%.3f" under a comma-decimal default locale emits
    // "1,234" and silently corrupts the JSON line the driver parses
    def fm(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    def entry(kv: (String, Double)) =
      jq(kv._1) + ":" + (if (kv._2.isNaN) "null" else fm(kv._2))
    val errJson = errors.map(jq).mkString("[", ",", "]")
    val total = results.map(_._2).filterNot(_.isNaN).sum
    val totalMin = mins.map(_._2).filterNot(_.isNaN).sum
    def line(qs: Seq[(String, Double)], omitted: Int, withMins: Boolean) = {
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      // queries_min/value_min live in the detail file only: the stdout line
      // must stay inside the harness's ~2KB tail window (see below)
      val mn =
        if (withMins)
          s""","value_min":${fm(totalMin)},"queries_min":${mins.map(entry).mkString("{", ",", "}")}""" +
            s""","variance_warnings":${varianceWarnings.map(jq).mkString("[", ",", "]")}"""
        else ""
      s"""{"metric":"total","value":${fm(total)},"unit":"sec","n":$reps,"warmup":$warmup,"agg":"median","drift":${drift.map(fm).getOrElse("null")},"queries":${qs.map(entry).mkString("{", ",", "}")}$om$mn,"errors":$errJson,"sf":"$sfDir","detail":"BENCH_FULL.json"}"""
    }
    // The harness keeps only the last ~2000 bytes of stdout and parses the
    // JSON line out of that tail; once the full per-query map outgrows the
    // window (r5: 90 queries -> 2.4 KB) the line is decapitated and parses
    // as nothing. So: always write the complete detail to BENCH_FULL.json,
    // and on stdout keep the whole map only while it fits -- otherwise the
    // slowest queries that do, plus an explicit omission count. 1800 leaves
    // headroom for the build tool's trailing status line inside the window.
    val fullDetail = line(results, 0, withMins = true)
    try {
      val p = java.nio.file.Paths.get("BENCH_FULL.json")
      java.nio.file.Files.write(p,
        fullDetail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // stdout line is the contract; file is extra
    val budget = 1800
    val stdoutFull = line(results, 0, withMins = false)
    val out =
      if (stdoutFull.length <= budget) stdoutFull
      else {
        val bySlowest = results.sortBy { case (_, v) => if (v.isNaN) 0.0 else -v }
        val overhead = line(Seq.empty, results.size, withMins = false).length
        var used = overhead
        val kept = bySlowest.takeWhile { kv =>
          used += entry(kv).length + 1
          used <= budget
        }
        line(kept, results.size - kept.size, withMins = false)
      }
    println(out)
    spark.stop()
  }
}
