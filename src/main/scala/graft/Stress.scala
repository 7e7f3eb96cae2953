package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-stress harness: runs the heaviest operators on a synthesized
  * `SPARK_GRAFT_STRESS_MULT`× (default 10×) blow-up of the fixture corpus
  * with shuffle parallelism raised, and trips on the two failure modes a
  * 100 TB cluster hits that sf0.1 correctness never exercises:
  *
  *  - **skew**: a straggler task holding a hot key — tripwire: no task in
  *    any substantial stage may run > `SKEW_RATIO`× that stage's median
  *    task duration;
  *  - **spill**: per-partition state outgrowing executor memory —
  *    tripwire: disk spill per query bounded by `SPILL_MAX_BYTES`.
  *
  * Corpus synthesis unions `mult` copies of each input table with
  * id-range offsets (copy i shifts every primary/foreign id by
  * i·ID_STRIDE, so per-copy join integrity holds and key cardinality
  * scales ×mult). Document text is token-perturbed per copy (a copy
  * suffix folded into every token), so copies are NOT near-duplicates of
  * each other: the blown-up corpus keeps the base's internal duplicate
  * rate instead of turning every doc into a mult-way dup cluster —
  * modeling "10× more data", not "the same data 10 times". Item
  * vocabularies that should stay fixed as data grows (l_partkey for
  * itemset support counts) are deliberately NOT offset.
  *
  * Usage (writes STRESS.json, exits non-zero on any tripwire):
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "set fork := true" "runMain graft.Stress"
  * }}}
  */
object Stress {

  /** The stress set: the heaviest operators by bench cost, covering
    * every join-explosion-prone family (banded/blocked pair generation,
    * iterated CC, exploded shingles, per-key spines, basket self-join)
    * plus the r12/r13 heavies: the one-pass corpus-similarity shingle
    * plan, the chunked-scan vocabulary growth curve, the churn-bound
    * rollup pre-image recovery, and the merge-on-read lazy-delete read
    * path (pushed keep-filters over a multi-dir snapshot).
    */
  val heavyQueries: Seq[String] = Seq(
    "q31_simhash_hamming", "q50_resample", "q74_survivorship",
    "q69_containment", "q31_ngram_jaccard", "q31_minhash_lsh",
    "q31_dup_clusters", "q55_boilerplate", "q88_itemsets", "q30_decontam",
    "q157_corpus_sim", "q170_vocab_growth", "q153_rollup_move",
    "q175_lazy_delete",
    // r13 heavies: the tok-keyed source-pair JSD (|sources|²-bounded
    // fanout per token — the q157 posture in probability space) and the
    // big-big lineitem⋈orders pair rollup behind the reorder rate
    "q194_jsd", "q204_reorder_rate",
    // r14 heavies: the 5-join 625-cell trade-flow matrix (two big-big
    // fact joins in one plan) and the full-corpus token explode behind
    // the hapax rate (vocabulary-sized two-level keyed agg)
    "q226_nation_flow", "q218_hapax")

  private val IdStride = 1000000000L

  /** Tasks per stage: (durationMs, memSpill, diskSpill). The listener bus
    * delivers sequentially; the map needs no synchronization beyond
    * publication via the bus thread.
    */
  private final class MetricsListener extends SparkListener {
    val stages: mutable.Map[Int, mutable.ArrayBuffer[(Long, Long, Long)]] =
      mutable.Map.empty
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null && t.taskInfo != null && t.taskInfo.successful)
        stages.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
          ((t.taskInfo.duration, m.memoryBytesSpilled, m.diskBytesSpilled))
    }
    def reset(): Unit = stages.clear()
  }

  /** Union `mult` offset copies of `df`. `offsetCols` shift by
    * copy·IdStride (ids and the foreign keys that must track them);
    * `perturb` rewrites content columns per copy.
    */
  private def blowUp(df: DataFrame, mult: Int, offsetCols: Seq[String],
      perturb: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until mult).map { i =>
      val shifted = offsetCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i * IdStride)))
      perturb(shifted, i)
    }.reduce(_ unionByName _)

  private def noPerturb(df: DataFrame, i: Int): DataFrame = df

  /** Synthesize the mult× corpus under `outDir` (all fixture tables, so
    * any registered query runs against it unchanged).
    */
  def synthesize(spark: SparkSession, sfDir: String, outDir: String,
      mult: Int): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    val copyTables = Seq("region", "nation", "customer", "supplier", "part",
      "embeddings")
    copyTables.foreach(t => write(t, Tables(spark, sfDir, t)))
    write("documents", blowUp(Tables(spark, sfDir, "documents"), mult,
      Seq("doc_id"),
      (df, i) =>
        if (i == 0) df
        else df
          // fold the copy index into every token: shingles/signatures
          // diverge across copies, so near-dup structure stays per-copy
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"$$1$i"))
          .withColumn("n_chars", length(col("text")))))
    // SPARK_GRAFT_STRESS_HOTKEY=0.3 rewires a deterministic 30% of all
    // events onto ONE user — the hot-entity shape (a bot, a megacorp
    // tenant) that serializes per-key windows. Off by default; used to
    // demonstrate the skew tripwire catching a hot key in the plain
    // as-of join while the split formulation stays balanced.
    val hotFrac = sys.env.get("SPARK_GRAFT_STRESS_HOTKEY").map(_.toDouble)
    val hotwire: (DataFrame, Int) => DataFrame = (df, _) => hotFrac match {
      case None => df
      case Some(f) => df.withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(1000)) < lit((f * 1000).toLong),
          lit(1L)).otherwise(col("user_id")))
    }
    write("events", blowUp(Tables(spark, sfDir, "events"), mult,
      Seq("event_id", "user_id"), hotwire))
    write("orders", blowUp(Tables(spark, sfDir, "orders"), mult,
      Seq("o_orderkey", "o_custkey"), noPerturb))
    // l_partkey intentionally NOT offset: the item vocabulary is fixed as
    // baskets multiply (supports scale ×mult — the realistic shape)
    write("lineitem", blowUp(Tables(spark, sfDir, "lineitem"), mult,
      Seq("l_orderkey"), noPerturb))
  }

  private def fm(v: Double) =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val mult = sys.env.getOrElse("SPARK_GRAFT_STRESS_MULT", "10").toInt
    val skewRatio = sys.env.getOrElse("SPARK_GRAFT_SKEW_RATIO", "5").toDouble
    val spillMax = sys.env.getOrElse("SPARK_GRAFT_SPILL_MAX_BYTES",
      (4L << 30).toString).toLong
    // a stage must be substantial before its max/median ratio means skew:
    // sub-second medians and near-empty stages ratio-spike on JIT/GC noise
    val minTasks = 8
    val minMedianMs = 500L
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // 4× the core count: the point at 100 TB is that partitions stay
      // memory-sized as data grows — raising parallelism with the corpus
      // is exactly the knob this harness is proving out
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stressDir = java.nio.file.Files
      .createTempDirectory("graft-stress").toString
    val failures = mutable.ArrayBuffer.empty[String]
    // the synthesized corpus runs to hundreds of MB: drop it once
    // STRESS.json holds the results
    try {
      println(s"[stress] synthesizing ${mult}x corpus from $sfDir -> $stressDir")
      val t0 = System.nanoTime()
      synthesize(spark, sfDir, stressDir, mult)
      println(s"[stress] synthesis took ${fm((System.nanoTime() - t0) / 1e9)}s")

      val listener = new MetricsListener
      spark.sparkContext.addSparkListener(listener)
      // SPARK_GRAFT_STRESS_ONLY=q50_resample,... narrows while iterating —
      // ANY registered query is allowed, so ad-hoc scale comparisons (e.g.
      // exact vs sketch duals) run on the same synthesized corpus
      val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY").map(_.split(",").toSet)
      val toRun = only match {
        case Some(o) => SparkEntry.all.map(_.name).filter(o.contains)
        case None => heavyQueries
      }
      val reports = toRun.map { name =>
        listener.reset()
        spark.catalog.clearCache()
        val q0 = System.nanoTime()
        val err =
          try { SparkEntry.queries(name)(spark, stressDir)
            .write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
        val secs = (System.nanoTime() - q0) / 1e9
        // listener bus is async; give queued task-end events time to land
        Thread.sleep(500)
        val stages = listener.stages.toMap
        val skews = stages.collect {
          case (sid, ts) if ts.size >= minTasks =>
            val durs = ts.map(_._1).sorted
            val median = durs((durs.size - 1) / 2)
            (sid, median, durs.last)
        }.filter(_._2 >= minMedianMs)
        val worst = skews.map { case (_, med, max) => max.toDouble / med }
          .foldLeft(1.0)(math.max)
        val spill = stages.values.flatten.map(_._3).sum
        err.foreach(e => failures += s"$name failed: $e")
        skews.foreach { case (sid, med, max) =>
          if (max > skewRatio * med) failures +=
            s"$name stage $sid skew: max ${max}ms > $skewRatio x median ${med}ms"
        }
        if (spill > spillMax) failures +=
          s"$name spilled $spill bytes > $spillMax"
        println(s"[stress] $name ${fm(secs)}s worstSkew=${fm(worst)} " +
          s"diskSpill=$spill${err.map(" ERROR " + _).getOrElse("")}")
        (name, secs, worst, spill, err)
      }
      spark.sparkContext.removeSparkListener(listener)
      val json = reports.map { case (n, s, w, sp, e) =>
        s""""$n":{"sec":${fm(s)},"worst_skew":${fm(w)},"disk_spill":$sp""" +
          e.map(m => s""","error":"${m.replace("\"", "'")}"""").getOrElse("") + "}"
      }.mkString(
        s"""{"mult":$mult,"sf":"$sfDir","cpus":$cpus,""" +
          s""""skew_ratio_max":$skewRatio,"spill_max_bytes":$spillMax,""" +
          s""""failures":${failures.size},"queries":{""",
        ",", "}}")
      java.nio.file.Files.write(java.nio.file.Paths.get("STRESS.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(json)
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      new java.io.File(stressDir))
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[stress] TRIPWIRE: $f"))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
