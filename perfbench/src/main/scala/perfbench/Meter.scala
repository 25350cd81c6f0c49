package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One span of the trace: a benchmark-side layer call, a Spark job or a
  * Spark stage. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, var end: Double = Double.NaN)

/** Span recorder. Benchmark code opens a span around each call into a
  * layer; Spark jobs and stages started while it is open become its
  * children. Spans stay in memory and are written out when the run ends.
  * When `enabled` is false nothing is recorded. */
final class Tracer {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = root, the workload span's parent
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** Innermost open benchmark span, the parent of Spark jobs. */
  def current: Int = synchronized(stack.head)

  def open(kind: String, name: String, parent: Int, start: Double): Int =
    synchronized {
      if (!enabled) -1
      else { val s = Span(spans.size + 1, parent, kind, name, start); spans += s; s.id }
    }

  def close(id: Int, end: Double): Unit =
    synchronized { if (id > 0) spans(id - 1).end = end }

  /** Runs `f` inside a benchmark-side span. */
  def span[T](kind: String, name: String)(f: => T): T = {
    val id = open(kind, name, current, nowMs)
    if (id > 0) synchronized { stack = id :: stack }
    try f
    finally if (id > 0) {
      close(id, nowMs)
      synchronized { stack = stack.tail }
    }
  }

  def toJson: String = synchronized {
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start":${Json.num(s.start)},""" +
        s""""end":${Json.num(s.end)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Spark execution meter, registered by the benchmark on every session.
  * Counts jobs and tasks, sums task time, CPU, GC, shuffle and spill, and
  * keeps each task's interval so driver-serial time (wall minus the union
  * of task intervals) can be computed for any window. Also emits the job
  * and stage spans of the trace. */
final class SparkMeter(tracer: Tracer) extends SparkListener {
  final case class Task(start: Long, end: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        ok: Boolean)

  private val tasks = ArrayBuffer.empty[Task]
  private var jobStarts = 0
  private val jobSpan = scala.collection.mutable.Map.empty[Int, Int]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stageSpan = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += 1
    val id = tracer.open("spark.job", s"job ${e.jobId}", tracer.current,
      e.time.toDouble)
    if (id > 0) {
      jobSpan(e.jobId) = id
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(tracer.close(_, e.time.toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val info = e.stageInfo
      for (job <- stageJob.get(info.stageId); parent <- jobSpan.get(job)) {
        val start = info.submissionTime.getOrElse(System.currentTimeMillis())
        val id = tracer.open("spark.stage", s"stage ${info.stageId}: ${info.name}",
          parent, start.toDouble)
        if (id > 0) stageSpan(info.stageId) = id
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageSpan.remove(info.stageId).foreach(tracer.close(_,
        info.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val ok = e.reason == Success
    if (m == null) tasks += Task(i.launchTime, i.finishTime, 0, 0, 0, 0, 0, ok)
    else tasks += Task(i.launchTime, i.finishTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, ok)
  }

  /** Position to take a window's figures from. */
  def mark(sc: SparkContext): (Int, Int) = { drain(sc); synchronized((jobStarts, tasks.size)) }

  /** Spark figures for the window between `from` and now; `wallMs` and
    * `startMs` bound the window on the clock. */
  def window(sc: SparkContext, from: (Int, Int), startMs: Long, endMs: Long,
             cores: Int): Map[String, Double] = {
    drain(sc)
    val (jobs, ts) = synchronized((jobStarts - from._1, tasks.slice(from._2, tasks.size).toVector))
    val wallMs = math.max(1L, endMs - startMs)
    val durs = ts.map(t => (t.end - t.start).toDouble).sorted
    val taskS = durs.sum / 1000
    // union of task intervals, clipped to the window
    var busy = 0L
    var reach = startMs
    ts.map(t => (math.max(t.start, startMs), math.min(t.end, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { busy += b - math.max(a, reach); reach = b }
      }
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.failed_tasks" -> ts.count(!_.ok).toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.driver_serial_s" -> (wallMs - busy) / 1000.0,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.busy_frac" -> taskS / (wallMs / 1000.0 * cores),
      "spark.task_p50_ms" -> Stats.quantile(durs, 0.5),
      "spark.task_max_ms" -> (if (durs.isEmpty) 0.0 else durs.last))
  }

  private def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)
}
