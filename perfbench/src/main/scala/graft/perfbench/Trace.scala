package graft.perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Spans around the benchmark's calls into each engine layer, for traced
 * runs only. While a traced operation runs, a SparkListener and a
 * QueryExecutionListener are attached and every span sets the Spark job
 * group to its own id, so each job is charged to the span that caused it
 * (engine threads created inside the span inherit the group). Spans and
 * job records stay in memory; `layerMetrics` folds them at the end.
 *
 * Untraced operations (every operation of an end-to-end run, set-up, and
 * every other counted operation of each kind in a traced run) go through
 * `op` with no listener attached and no job group set.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext

  private final class Job(val group: String, val startMs: Long) {
    var endMs = -1L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
  }

  private final case class Span(id: String, kind: String, startMs: Long,
      endMs: Long, compiles: Long, extra: Map[String, Double])

  // written by the listener thread, read after ListenerDrain
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var planMs = 0L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val opsSeen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private var tracedOps = 0
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties)
        .map(_.getProperty(Tracer.JobGroupKey)).orNull
      jobs(e.jobId) = new Job(group, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        planMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager

  /** Run one benchmark operation of `kind`. In a traced run every other
    * counted operation of each kind is traced, the first one not, so
    * traced and untraced samples of the same operation mix are taken side
    * by side; the return flag says which this one was. Operations outside
    * the counted steps (`counted` false: set-up, padding) are never traced. */
  def op[A](kind: String, counted: Boolean)(f: => A): (A, Boolean) = {
    if (!enabled || !counted) return (f, false)
    val n = opsSeen(kind)
    opsSeen(kind) = n + 1
    if (n % 2 == 0) return (f, false)
    sc.addSparkListener(listener)
    listeners.register(qeListener)
    tracingNow = true
    val t0 = System.currentTimeMillis()
    try (f, true)
    finally {
      tracingNow = false
      opWindows += ((t0, System.currentTimeMillis()))
      tracedOps += 1
      ListenerDrain(sc)
      listeners.unregister(qeListener)
      sc.removeSparkListener(listener)
    }
  }

  private var tracingNow = false

  /** A span of `kind` recorded even outside a traced operation (in a
    * traced run, during the counted steps only): for the benchmark's own
    * probes of engine state, which sit outside every operation's timer. */
  def probe(kind: String, counted: Boolean)(f: => Any): Unit =
    if (enabled && counted) {
      val was = tracingNow
      tracingNow = true
      try span(kind)(f)() finally tracingNow = was
    }

  /** A span of `kind` around a call into one layer; `extra` computes the
    * span's own counters from the call's result. A no-op outside traced
    * operations. Spans do not nest. */
  def span[A](kind: String)(f: => A)(extra: A => Map[String, Double] = (_: A) => Map.empty[String, Double])
      : A = {
    if (!tracingNow) return f
    val id = s"pb-$nextId"
    nextId += 1
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.currentTimeMillis()
    val out = try f finally sc.clearJobGroup()
    val t1 = System.currentTimeMillis()
    spans += Span(id, kind, t0, t1,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, extra(out))
    out
  }

  /** Per-layer metrics: for each span kind, per-call means of wall time,
    * driver time (wall not covered by the span's jobs), task CPU, shuffle
    * written, codegen compilations and the span's own counters; plus
    * Spark-wide figures per traced operation. Every name in `kinds` and
    * `extras` is emitted, as 0 when the workload never makes that call. */
  def layerMetrics(kinds: Seq[String], extras: Seq[String]): Map[String, Double] =
    synchronized {
      val byGroup = jobs.values.filter(_.group != null).groupBy(_.group)
      val out = mutable.LinkedHashMap.empty[String, Double]
      kinds.foreach { k =>
        val ss = spans.filter(_.kind == k)
        val n = math.max(1, ss.size).toDouble
        var wall, covered, cpu, shuffle, compiles, jobCount = 0.0
        ss.foreach { s =>
          val js = byGroup.getOrElse(s.id, Nil)
          wall += (s.endMs - s.startMs) / 1000.0
          covered += coveredMs(js.map(j => (j.startMs,
            if (j.endMs < 0) s.endMs else j.endMs)), s.startMs, s.endMs) / 1000.0
          cpu += js.iterator.map(_.cpuNs).sum / 1e9
          shuffle += js.iterator.map(_.shuffleBytes).sum / Tracer.MiB
          compiles += s.compiles
          jobCount += js.size
        }
        out(s"$k.wall_s") = wall / n
        out(s"$k.driver_s") = (wall - covered) / n
        out(s"$k.task_cpu_s") = cpu / n
        out(s"$k.shuffle_mb") = shuffle / n
        out(s"$k.codegen_compiles") = compiles / n
        out(s"$k.jobs") = jobCount / n
        out(s"$k.input_mb") = ss.iterator.map(s => byGroup.getOrElse(s.id, Nil)
          .iterator.map(_.inputBytes).sum).sum / Tracer.MiB / n
      }
      extras.foreach { name =>
        val (k, field) = name.splitAt(name.lastIndexOf('.'))
        val ss = spans.filter(_.kind == k)
        val vs = ss.flatMap(_.extra.get(field.drop(1)))
        if (!out.contains(name))
          out(name) = if (vs.isEmpty) 0.0 else vs.sum / vs.size
      }
      val inOp = jobs.values.filter(j => opWindows.exists { case (a, b) =>
        j.startMs >= a && j.startMs <= b })
      val ops = math.max(1, tracedOps).toDouble
      val spanIds = spans.iterator.map(_.id).toSet
      out("spark.gc_s") = inOp.iterator.map(_.gcMs).sum / 1000.0 / ops
      out("spark.spill_mb") = inOp.iterator.map(_.spillBytes).sum / Tracer.MiB / ops
      out("spark.plan_s") = planMs / 1000.0 / ops
      out("spark.untagged_job_s") = inOp.iterator
        .filter(j => j.group == null || !spanIds(j.group))
        .map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0 / ops
      out.toMap
    }

  private def coveredMs(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

object Tracer {
  val MiB: Double = 1024.0 * 1024.0
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}
