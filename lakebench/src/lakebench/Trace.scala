package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark job and task counters, recorded by a listener. Tasks are summed
  * per stage; a stage belongs to the first job that listed it. */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSums = new ConcurrentHashMap[Int, StageSums]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.jobId, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val s = stageSums.computeIfAbsent(e.stageId, _ => new StageSums)
      s.synchronized {
        s.runMs += m.executorRunTime
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Task counters of one job, summed over the stages it owns. */
  def sumsOf(j: Job): StageSums = {
    val out = new StageSums
    j.stages.filter(s => stageJob.get(s) == j.id).flatMap(s =>
      Option(stageSums.get(s))).foreach { s =>
      out.runMs += s.runMs; out.deserMs += s.deserMs; out.gcMs += s.gcMs
      out.shuffleBytes += s.shuffleBytes; out.spillBytes += s.spillBytes
    }
    out
  }
}

object JobLog {
  final class Job(val id: Int, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class StageSums {
    var runMs, deserMs, gcMs, shuffleBytes, spillBytes = 0L
  }
}

/** In-memory span recorder. A span wraps one call the benchmark makes into
  * a graft layer: name, start, end, parent and the run id. Nothing is
  * written until [[report]] runs at the end of the run. With tracing off,
  * [[span]] only runs its body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Double) {
    var endMs: Double = Double.NaN
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private var log: JobLog = _
  private var codegen0 = 0L

  /** Wall clock in ms on the listener's time base, with ns resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def attach(sc: SparkContext): Unit = if (enabled) {
    log = new JobLog
    sc.addSparkListener(log)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.getOrElse(-1),
        nowMs)
      spans += s
      open = s.id :: open
      try body
      finally {
        s.endMs = nowMs
        open = open.tail
      }
    }

  private var timedFrom, timedTo = Double.NaN
  def markTimed(start: Boolean): Unit = {
    if (start) {
      timedFrom = nowMs
      codegen0 = Tracer.codegenCompiles
    } else timedTo = nowMs
  }

  /** The per-layer table: five metrics per span name, plus the timed
    * phase's Spark counters and the share of its wall that no span
    * covers. Jobs go to the innermost span whose window holds the job's
    * submission; the loop makes one call at a time, so this is exact. */
  def report(sc: SparkContext, names: Seq[String]): Map[String, Double] = {
    org.apache.spark.LakebenchBus.drain(sc)
    val codegen = Tracer.codegenCompiles - codegen0
    val closed = spans.filter(!_.endMs.isNaN).toIndexedSeq
    // one ms of slack: listener times are whole ms
    def owner(tMs: Long): Option[Span] =
      closed.filter(s => s.startMs <= tMs + 1 && s.endMs >= tMs)
        .sortBy(-_.startMs).headOption
    val jobs = log.allJobs.filter(_.endMs >= 0)
    val byOwner: Map[Int, Seq[JobLog.Job]] = jobs.flatMap(j =>
      owner(j.startMs).map(s => s.id -> j)).groupMap(_._1)(_._2)
    val children: Map[Int, Seq[Span]] = closed.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val out = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { n =>
      Seq("wall_s", "self_s", "jobs", "task_s", "driver_gap_s").foreach(
        m => out(s"$n.$m") = 0.0)
    }
    closed.filter(s => names.contains(s.name)).foreach { s =>
      val wall = (s.endMs - s.startMs) / 1e3
      val kids = children.getOrElse(s.id, Nil)
        .map(c => c.endMs - c.startMs).sum / 1e3
      val js = subtree(s).flatMap(t => byOwner.getOrElse(t.id, Nil))
      val busy = Tracer.unionMs(js.map(j =>
        (math.max(j.startMs.toDouble, s.startMs),
          math.min(j.endMs.toDouble, s.endMs)))) / 1e3
      def add(m: String, v: Double): Unit = out(s"${s.name}.$m") += v
      add("wall_s", wall)
      add("self_s", wall - kids)
      add("jobs", js.size.toDouble)
      add("task_s", js.map(j => log.sumsOf(j).runMs).sum / 1e3)
      add("driver_gap_s", math.max(0.0, wall - busy))
    }
    val inTimed = jobs.filter(j =>
      j.startMs + 1 >= timedFrom && j.startMs <= timedTo).map(log.sumsOf)
    out("spark.gc_s") = inTimed.map(_.gcMs).sum / 1e3
    out("spark.shuffle_bytes") = inTimed.map(_.shuffleBytes).sum.toDouble
    out("spark.spill_bytes") = inTimed.map(_.spillBytes).sum.toDouble
    out("spark.task_deser_s") = inTimed.map(_.deserMs).sum / 1e3
    out("spark.codegen_compiles") = codegen.toDouble
    // top-level spans inside the timed phase; everything else is overhead
    // of the benchmark itself (checks, generation, GC checkpoints)
    val timedWall = (timedTo - timedFrom) / 1e3
    val covered = Tracer.unionMs(closed.filter(s =>
      s.parent < 0 && s.startMs >= timedFrom && s.endMs <= timedTo)
      .map(s => (s.startMs, s.endMs))) / 1e3
    out("trace.unattributed_s") = timedWall - covered
    out("trace.attributed_ratio") = covered / timedWall
    out.toMap
  }

  /** Every span as one JSON object per line, for offline analysis. */
  def dump(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("run" -> Json.str(runId),
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs))))
    } finally w.close()
  }
}

object Tracer {
  /** Whole-stage codegen compilations so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Milliseconds spent compiling generated code so far in this JVM. */
  def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }

  /** Length of the union of [from, to] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var have = false
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (!have) { curS = s; curE = e; have = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (have) total + curE - curS else 0.0
  }
}
