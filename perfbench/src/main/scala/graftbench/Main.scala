package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation of a workload: `kind` is "read" or "write";
  * `layer` names the module whose public call the operation makes
  * ("api", "vt" or "sinks").
  */
final case class Op(name: String, kind: String, layer: String)(
    val body: Ctx => Array[Row])

/** Per-operation timing seams. `build` wraps the call that makes the
  * DataFrame (or runs an eager verb); `collect` runs the action. The
  * traced run tags every Spark job with the operation and the phase.
  */
final class Ctx(spark: SparkSession, traced: Boolean) {
  var buildEnd: Long = 0L
  var df: DataFrame = _
  val extra = mutable.LinkedHashMap.empty[String, Double]

  private def phase(p: String): Unit =
    if (traced) spark.sparkContext.setLocalProperty(Tracer.PhaseKey, p)

  def build[T](body: => T): T = {
    phase("build")
    val r = body
    buildEnd = System.nanoTime()
    phase("exec")
    r
  }

  def collect(d: DataFrame): Array[Row] = {
    if (buildEnd == 0L) buildEnd = System.nanoTime()
    df = d
    d.collect()
  }
}

/** A workload: a fresh state per set-up (loading the inputs and seeding
  * any table), then rounds of operations. Round 0 is the warm-up round.
  */
trait Workload {
  def setup(i: Int): Unit
  def round(r: Int): Seq[Op]
  /** Rounds 0 until this exist (a generated stream is finite). */
  def roundsAvailable: Int = Int.MaxValue
  /** Bytes under the written table or directory ("dir_bytes"), the same
    * data written once as plain parquet ("plain_bytes"), and the table's
    * manifest bytes; taken untimed after the first timed round.
    */
  def space(): Map[String, Long]
  /** Untimed, after the timed phase: write the final state the checks
    * read to `work`/final.
    */
  def finish(): Unit
  /** Which timed results are written for the checks: every one, or the
    * first of each operation type (the rest are compared by fingerprint).
    */
  def keepEvery: Boolean
  /** Declared queries whose DuckDB SQL the checks run. */
  def oracles: Seq[String] = Nil
  /** Bookkeeping after every operation, untimed. */
  def settle(op: Op): Unit = ()
  /** Traced-run extras recorded right after an operation, untimed. */
  def afterOp(op: Op, ctx: Ctx): Unit = ()
}

object Main {
  final case class Rec(seq: Int, round: Int, op: Op, t0: Long, tb: Long,
      t1: Long, ok: Boolean, err: String, nrows: Int, fp: String,
      phases: Map[String, (Long, Long)], extra: Map[String, Double])

  def arg(args: Array[String], name: String, default: String): String = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  /** Order-independent fingerprint of a result; doubles are compared at
    * the checks' 6-decimal precision.
    */
  def fingerprint(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val s = r.toSeq.map {
        case d: Double => f"${math.round(d * 1e6) / 1e6}%.6f"
        case x => String.valueOf(x)
      }.mkString("\u001f")
      h += scala.util.hashing.MurmurHash3.stringHash(s).toLong * 0x9E3779B97F4A7C15L
    }
    s"${rows.length}:${java.lang.Long.toHexString(h)}"
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload", "")
    val inputs = arg(args, "inputs", "")
    val work = arg(args, "work", "")
    val seconds = arg(args, "seconds", "10").toDouble
    val traced = arg(args, "trace", "0") == "1"
    val cores = arg(args, "cores", "4")
    val setups = arg(args, "setups", "3").toInt

    val t00 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the session shape graft.Bench measures: the graft session catalog
      // and the engine's extensions (native functions, planner rules)
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.GraftSparkSessionCatalog")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t00) / 1e6
    val tracer = if (traced) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    val ready = Paths.get(inputs, "READY")
    val waitUntil = System.nanoTime() + 120e9.toLong
    while (!Files.exists(ready) && System.nanoTime() < waitUntil)
      Thread.sleep(20)
    val w: Workload = workload match {
      case "text_dedup" => new TextDedup(spark, inputs, work)
      case "lakehouse_churn" => new LakehouseChurn(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"workload $other")
    }

    var seq = 0
    // results for the checks go straight to disk, so the retained heap
    // measured after the timed phase holds none of them
    val kept = mutable.LinkedHashSet.empty[String]
    Files.createDirectories(Paths.get(work, "kept"))
    def runOp(op: Op, round: Int, timed: Boolean): Rec = {
      spark.catalog.clearCache()
      seq += 1
      if (traced)
        spark.sparkContext.setLocalProperty(Tracer.OpKey, seq.toString)
      val ctx = new Ctx(spark, traced)
      val t0 = System.nanoTime()
      var ok = true
      var err: String = null
      var rows: Array[Row] = Array.empty
      try rows = op.body(ctx)
      catch { case e: Throwable =>
        ok = false
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val t1 = System.nanoTime()
      if (traced) {
        spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
        spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)
      }
      // everything below is outside the operation's time
      val phases =
        if (!traced || ctx.df == null) Map.empty[String, (Long, Long)]
        else ctx.df.queryExecution.tracker.phases.map { case (k, p) =>
          k -> (p.startTimeMs, p.endTimeMs)
        }
      if (ok) w.settle(op)
      if (traced && ok) w.afterOp(op, ctx)
      val fp = if (ok) fingerprint(rows) else ""
      if (timed && ok && ctx.df != null) {
        val key = if (w.keepEvery) s"$seq" else op.name
        if (kept.add(key))
          Files.write(Paths.get(work, "kept", s"$key.json"),
            Json.result(ctx.df.schema, rows).getBytes(StandardCharsets.UTF_8))
      }
      Rec(seq, round, op, t0, if (ctx.buildEnd == 0L) t1 else ctx.buildEnd,
        t1, ok, err, rows.length, fp, phases, ctx.extra.toMap)
    }

    // set-up: a fresh state `setups` times, then one warm-up round whose
    // results are discarded
    val setupS = (0 until setups).map { i =>
      val s0 = System.nanoTime()
      w.setup(i)
      (System.nanoTime() - s0) / 1e9
    }
    w.round(0).foreach { op =>
      val rec = runOp(op, 0, timed = false)
      if (!rec.ok) throw new IllegalStateException(
        s"warm-up ${op.name} failed: ${rec.err}")
    }

    // the timed phase: whole rounds until `seconds` have passed
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcTotals = (gcBeans.map(_.getCollectionTime).sum,
      gcBeans.map(_.getCollectionCount).sum)
    val recs = mutable.ArrayBuffer.empty[Rec]
    var timedNs = 0L
    var gcMs = 0L
    var gcN = 0L
    var heapMb = 0.0
    var space = Map.empty[String, Long]
    // the start of the first timed operation, for the cold start (process
    // start to here), which run.py reports beside setup_s
    val firstOpMs = System.currentTimeMillis()
    var r = 1
    while (r < w.roundsAvailable && (r == 1 || timedNs / 1e9 < seconds)) {
      val (gcMs0, gcN0) = gcTotals
      val t0 = System.nanoTime()
      w.round(r).foreach(op => recs += runOp(op, r, timed = true))
      timedNs += System.nanoTime() - t0
      val (gcMs1, gcN1) = gcTotals
      gcMs += gcMs1 - gcMs0
      gcN += gcN1 - gcN0
      if (r == 1) {
        // space and retained heap after the first timed round, so they do
        // not depend on how many rounds a run's speed allows
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        System.gc()
        heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
          .getUsed / 1048576.0
        space = w.space()
      }
      r += 1
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "setup_s" -> setupS, "session_ms" -> sessionMs,
      "first_op_ms" -> firstOpMs,
      "timed_s" -> timedNs / 1e9, "rounds" -> (r - 1), "cores" -> cores.toInt,
      "heap_mb" -> heapMb, "space" -> space, "gc_ms" -> gcMs.toDouble,
      "gc_count" -> gcN.toDouble)
    w.finish()

    // epoch-ms clock for the spans: listener and planner times are epoch ms
    val baseMs = System.currentTimeMillis().toDouble
    val baseNs = System.nanoTime()
    def ms(ns: Long) = baseMs + (ns - baseNs) / 1e6
    tracer.foreach(_.drain())
    out("ops") = recs.map { rec =>
      val m = mutable.LinkedHashMap[String, Any](
        "seq" -> rec.seq, "round" -> rec.round, "name" -> rec.op.name,
        "kind" -> rec.op.kind, "layer" -> rec.op.layer,
        "ms" -> (rec.t1 - rec.t0) / 1e6, "ok" -> rec.ok, "err" -> rec.err,
        "nrows" -> rec.nrows, "fp" -> rec.fp)
      tracer.foreach { t =>
        val (a, b, c) = (ms(rec.t0), ms(rec.tb), ms(rec.t1))
        val js = t.jobs.values.filter(_.op == rec.seq).toSeq
        val ss = t.stages.values.filter(_.op == rec.seq).toSeq
        def iv(p: String) = js.filter(_.phase == p)
          .map(j => (j.start.toDouble, (if (j.end < 0) j.start else j.end).toDouble))
        val ph = rec.phases.map { case (k, (s, e)) => k -> (s.toDouble, e.toDouble) }
        val phaseIv = ph.values.toSeq
        val skew = ss.filter(_.tasks >= cores.toInt).map { s =>
          val d = s.durations.sorted
          val med = d((d.size - 1) / 2).toDouble
          if (med > 0) d.last / med else 1.0
        }
        m ++= Seq(
          "t0" -> a, "tb" -> b, "t1" -> c,
          "build_self_ms" -> ((b - a) - Tracer.covered(phaseIv ++ iv("build"), a, b)),
          "build_jobs" -> js.count(_.phase == "build"),
          "exec_ms" -> (c - b),
          "exec_self_ms" -> ((c - b) - Tracer.covered(phaseIv ++ iv("exec"), b, c)),
          "job_ms" -> Tracer.covered(iv("build") ++ iv("exec"), a, c),
          "jobs" -> js.size, "meta_jobs" -> js.count(_.meta),
          "stages" -> ss.size, "tasks" -> ss.map(_.tasks).sum,
          "task_cpu_ms" -> ss.map(_.cpuMs).sum,
          "shuffle_read_bytes" -> ss.map(_.shuffleRead).sum,
          "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum,
          "spill_bytes" -> ss.map(_.spill).sum,
          "skews" -> skew,
          "job_spans" -> js.map(j => Seq(j.start, j.end, j.phase, j.meta, j.name)),
          "phases" -> ph.map { case (k, (s, e)) => k -> Seq(s, e) },
          "extra" -> rec.extra)
      }
      m
    }
    // the declared queries' own DuckDB SQL, for the oracle checks
    out("oracle_sql") = w.oracles.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    Files.write(Paths.get(work, "result.json"),
      Json(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
