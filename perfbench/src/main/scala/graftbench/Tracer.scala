package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The traced run's listener. Every job and stage carries the local
  * properties of the thread that launched it; the harness sets the
  * operation's sequence number and its phase ("build" while the
  * DataFrame or verb is being made, "exec" while its action runs), so
  * each job, stage and task is attributed to one operation and phase.
  * Events are kept in memory and summarised after the timed phase.
  */
final class Tracer extends SparkListener {
  import Tracer.{Job, Stage}

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  @volatile private var started = 0
  @volatile private var ended = 0

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.OpKey)))
      .map(_.toInt).getOrElse(-1)

  // Schema inference (parquet footer reads) and file listing are the
  // metadata jobs. Spark names neither; they are the jobs launched while a
  // reader resolves its relation (the call stack recorded with the stage
  // starts in DataFrameReader or DataSource) and the listing job, which
  // Spark describes as such.
  private def isMeta(e: SparkListenerJobStart): Boolean = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    desc.contains("Listing leaf files") || e.stageInfos.exists { s =>
      val top = s.details.takeWhile(_ != '\n')
      top.contains("DataFrameReader.") || top.contains("DataSource.") ||
        top.contains("InMemoryFileIndex")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("")
    jobs(e.jobId) = Job(opOf(e.properties), phase, e.time, -1L, isMeta(e),
      e.stageInfos.lastOption.map(_.name).getOrElse(""))
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    ended += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId,
        Stage(opOf(e.properties)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, Stage(-1))
    s.tasks += 1
    s.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.cpuMs += m.executorCpuTime / 1e6
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until the listener bus has delivered every job's end. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while ((started != ended) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    Thread.sleep(200) // task-end events trail the job end
  }
}

object Tracer {
  final case class Job(op: Int, phase: String, start: Long, var end: Long,
      meta: Boolean, name: String)
  final case class Stage(op: Int, var tasks: Int = 0, var cpuMs: Double = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0, durations: mutable.ArrayBuffer[Long] =
        mutable.ArrayBuffer.empty)

  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    xs.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
