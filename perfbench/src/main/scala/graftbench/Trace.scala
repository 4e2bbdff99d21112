package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds, so the benchmark's
  * own spans and Spark's job and stage times share one clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans recorded from the benchmark's own files, around each operation
  * and each call into a layer. Kept in memory, written at the end. */
final class Spans {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.HashMap.empty[Long, Span]
  private var next = 1L

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def start(name: String, layer: String, parent: Long): Long = {
    val id = next
    next += 1
    open(id) = Span(id, parent, name, layer, nowMs, Double.NaN)
    id
  }

  def end(id: Long): Span = {
    val s = open.remove(id).get.copy(endMs = nowMs)
    done += s
    s
  }

  def all: Seq[Span] = done.toSeq
}

/** Per-stage aggregate of the task-end events. */
final class StageRec(val stageId: Int, val group: String) {
  var jobId = -1
  var submitMs = -1L
  var doneMs = -1L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var records = 0L
  var maxTaskMs = 0L
}

final class JobRec(val jobId: Int, val group: String, val startMs: Long) {
  var endMs = -1L
}

/** Sum of the stage aggregates of one job group. */
final case class GroupStats(jobs: Int, stages: Int, tasks: Int,
    taskRunS: Double, cpuS: Double, gcS: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, stageIntervals: Seq[(Double, Double)],
    slowestTaskFrac: Double)

/** Listener registered by the benchmark. Every job is tagged with the
  * job group the benchmark sets before an operation, so jobs, stages and
  * tasks link back to the operation that launched them. The untraced
  * run only needs the input record counts for its checks; `full` also
  * keeps the query planning phases and streaming progress events. */
final class Recorder(val full: Boolean) extends SparkListener
    with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  /** phase -> (startMs, endMs), one map per finished query. */
  val phases = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  val progressMs = mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val ids = e.stageInfos.map(_.stageId)
    ids.foreach(id => stageGroup.getOrElseUpdate(id, group))
    if (full) jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
    ids.foreach { id =>
      val s = stages.getOrElseUpdate(id, new StageRec(id, group))
      if (s.jobId < 0) s.jobId = e.jobId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stages.get(info.stageId).foreach { s =>
        s.submitMs = info.submissionTime.getOrElse(-1L)
        s.doneMs = info.completionTime.getOrElse(-1L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stages.getOrElseUpdate(e.stageId,
      new StageRec(e.stageId, stageGroup.getOrElse(e.stageId, "")))
    s.tasks += 1
    if (m != null) {
      s.records += m.inputMetrics.recordsRead
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
    if (e.taskInfo != null)
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent if full =>
      synchronized { progressMs += java.time.Instant.parse(
        p.progress.timestamp).toEpochMilli }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (full) synchronized {
    phases += qe.tracker.phases.map { case (k, v) =>
      k -> ((v.startTimeMs, v.endTimeMs)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Input records read by the tasks of one job group. */
  def records(group: String): Long = synchronized {
    stages.valuesIterator.filter(_.group == group).map(_.records).sum
  }

  /** Tasks of the stages of one job group that read input records: the
    * scan's partitions. */
  def scanTasks(group: String): Int = synchronized {
    stages.valuesIterator.filter(s => s.group == group && s.records > 0)
      .map(_.tasks).sum
  }

  def stats(group: String): GroupStats = synchronized {
    val ss = stages.valuesIterator.filter(_.group == group).toSeq
    val js = jobs.valuesIterator.count(_.group == group)
    val run = ss.filter(_.tasks > 0)
    val slowest = run.filter(s => s.doneMs > s.submitMs)
      .map(s => s.maxTaskMs.toDouble / (s.doneMs - s.submitMs))
    GroupStats(js, run.size, run.map(_.tasks).sum,
      run.map(_.runMs).sum / 1e3, run.map(_.cpuNs).sum / 1e9,
      run.map(_.gcMs).sum / 1e3, run.map(_.shuffleWrite).sum / 1e6,
      run.map(_.shuffleRead).sum / 1e6,
      run.filter(s => s.submitMs > 0 && s.doneMs >= s.submitMs)
        .map(s => (s.submitMs.toDouble, s.doneMs.toDouble)),
      if (slowest.isEmpty) 0.0 else slowest.max)
  }

  /** Planning time (analysis + optimization + planning) of the queries
    * whose analysis started inside [fromMs, toMs]. */
  def planMs(fromMs: Double, toMs: Double,
      which: Set[String] = Set("analysis", "optimization", "planning"))
      : Double = synchronized {
    phases.iterator.filter { p =>
      p.get("analysis").orElse(p.values.headOption)
        .exists { case (s, _) => s >= fromMs - 1 && s <= toMs + 1 }
    }.map(_.iterator.filter(kv => which(kv._1))
      .map { case (_, (s, e)) => (e - s).toDouble }.sum).sum
  }

  def progressIn(fromMs: Double, toMs: Double): Int = synchronized {
    progressMs.count(t => t >= fromMs - 1 && t <= toMs + 1)
  }

  /** Job and stage spans, parented on the benchmark span whose id is
    * the job group. */
  def sparkSpans(): Seq[Span] = synchronized {
    val jobSpans = jobs.valuesIterator.filter(_.endMs >= 0).flatMap { j =>
      j.group.toLongOption.map(p => Span(1000000000L + j.jobId, p,
        s"job ${j.jobId}", "spark.job", j.startMs, j.endMs))
    }.toSeq
    val stageSpans = stages.valuesIterator
      .filter(s => s.jobId >= 0 && s.submitMs > 0 && s.doneMs >= s.submitMs)
      .map(s => Span(2000000000L + s.stageId, 1000000000L + s.jobId,
        s"stage ${s.stageId}", "spark.stage", s.submitMs, s.doneMs))
      .toSeq
    jobSpans ++ stageSpans
  }
}

object Recorder {
  def attach(spark: SparkSession, r: Recorder): Recorder = {
    spark.sparkContext.addSparkListener(r)
    if (r.full) spark.listenerManager.register(r)
    r
  }

  def detach(spark: SparkSession, r: Recorder): Unit = {
    spark.sparkContext.removeSparkListener(r)
    if (r.full) spark.listenerManager.unregister(r)
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer, in seconds. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        s.durMs - covered(ch, s.startMs, s.endMs)
      }.sum / 1e3
    }
  }
}
