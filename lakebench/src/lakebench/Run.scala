package lakebench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, traceOut: Option[String])

/** State shared by a run: operation counts, latency samples, memory
  * checkpoints and the tracer. */
final class Run(val spark: SparkSession, val opts: Opts,
    val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  private val samples =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var peakHeap = 0L

  def seed: Long = opts.seed

  def note(msg: String): Unit = System.err.println(s"[lakebench] $msg")

  def sample(cat: String, v: Double): Unit =
    samples.getOrElseUpdate(cat, mutable.ArrayBuffer.empty) += v

  def samplesOf(cat: String): Seq[Double] =
    samples.get(cat).map(_.toSeq).getOrElse(Nil)

  def sampleCounts: Seq[(String, Int)] =
    samples.toSeq.map { case (k, v) => k -> v.size }

  def sampleMedians: Seq[(String, Double)] =
    samples.toSeq.map { case (k, v) => k -> Run.median(v.toSeq) }

  /** Mean over the categories named `prefix/<shape>` of each category's
    * median: the typical latency of a mix of call shapes, steady where a
    * median over the whole mix would jump between neighbouring shapes. */
  def mixLatency(prefix: String): Double =
    Run.mean(samples.collect {
      case (k, v) if k.startsWith(prefix + "/") => Run.median(v.toSeq)
    }.toSeq)

  /** One operation: counted as attempted, traced as `span`, its wall time
    * recorded under `cat` (when given). It fails when it throws or when
    * `ok` rejects its result; a failed operation records no latency. */
  def op[T](span: String, cat: String = "")(body: => T)(
      ok: T => Boolean = (_: T) => true): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Run.cpuNanos
    try {
      val r = if (span.isEmpty) body else tracer.span(span)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (Run.cpuNanos - c0) / 1e9
      if (ok(r)) {
        if (cat.nonEmpty) {
          sample(cat, dt)
          sample(s"cpu:$cat", dc)
        }
        Some(r)
      } else {
        failed += 1
        note(s"check failed: $span")
        None
      }
    } catch {
      case NonFatal(e) =>
        failed += 1
        note(s"operation failed: $span: $e")
        e.printStackTrace()
        None
    }
  }

  /** A correctness check that is an operation of its own. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch {
      case NonFatal(e) =>
        note(s"check threw: $what: $e")
        false
    }
    if (!good) {
      failed += 1
      note(s"check failed: $what")
    }
    good
  }

  /** Heap in use right after a full collection, taken at the end of each
    * set-up and of the timed phase; the run reports the largest reading.
    * Collected twice with a pause between: the first collection lets
    * Spark's cleaner drop the broadcasts and cached blocks it released. */
  def gcCheckpoint(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakHeap = math.max(peakHeap, used)
  }

  def peakMemMb: Double = peakHeap / (1024.0 * 1024.0)
}

object Run {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every Spark task thread, the driver,
    * JIT and GC), in ns. The kernel leaves out time the host stole. */
  def cpuNanos: Long = os.getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  /** Bytes of every regular file under `dirs` (missing dirs count 0). */
  def diskBytes(dirs: Seq[String]): Long =
    dirs.map(Paths.get(_)).filter(Files.exists(_)).map { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally st.close()
    }.sum

  /** Plan nodes of an executed query, through AQE's stage wrappers. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(planNodes)
  }

  /** (files read, rows read) by the data-file scans of an executed query;
    * scans of tombstone and stats files are left out. */
  def scanCounts(df: DataFrame): (Long, Long) = {
    val scans = planNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if !f.relation.location.rootPaths.exists(
          p => TableFiles.MetaDirs.exists(d => p.toString.contains(d))) => f
    }
    def metric(n: String) =
      scans.flatMap(_.metrics.get(n)).map(_.value).sum
    (metric("numFiles"), metric("numOutputRows"))
  }
}

/** Bytes of files that appeared (or changed size) under a set of
  * directories since the last poll: the write-amplification numerator.
  * Files created and removed between two polls are not seen. */
final class WriteMeter(dirs: => Seq[String]) {
  private val seen = mutable.HashMap.empty[String, Long]
  var bytes = 0L
  /** New data files (parquet outside stats and tombstone directories). */
  var dataFiles = 0L

  def poll(): Unit = dirs.map(Paths.get(_)).filter(Files.exists(_))
    .foreach { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach {
        (p: Path) =>
          val key = p.toString
          val size = Files.size(p)
          if (!seen.get(key).contains(size)) {
            if (!seen.contains(key) && TableFiles.isData(p)) dataFiles += 1
            bytes += size
            seen(key) = size
          }
      } finally st.close()
    }

  /** Forget files already counted without counting them (set-up data). */
  def baseline(): Unit = {
    val (b, f) = (bytes, dataFiles)
    poll()
    bytes = b
    dataFiles = f
  }
}

/** File counts of a versioned table directory, as the layer metrics
  * report them. */
object TableFiles {
  private def parquetUnder(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Nil
    else {
      val st = Files.walk(d)
      try st.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
      finally st.close()
    }
  }

  /** Directory names of tombstone and stats files inside a table. */
  val MetaDirs = Seq("/_deletes", "/_posdeletes", "/_stats")

  private def isTombstone(p: Path): Boolean =
    p.iterator().asScala.map(_.toString)
      .exists(n => n == "_deletes" || n == "_posdeletes")

  /** Merge-on-read tombstone files on disk (after vacuum: the live ones). */
  def tombstones(dirs: Seq[String]): Long =
    dirs.flatMap(parquetUnder).count(isTombstone).toLong

  /** Data files of the current snapshot. */
  def live(spark: SparkSession, dirs: Seq[String]): Long =
    dirs.map(d => graft.sources.Versioned.dataFileCount(spark, d).toLong).sum

  def isData(p: Path): Boolean =
    p.getFileName.toString.endsWith(".parquet") && !isTombstone(p) &&
      !p.iterator().asScala.exists(_.toString == "_stats")

}

/** Answer comparison and sizing shared by the workloads. */
object Answers {
  /** Doubles agree within 1e-9 relative, the tolerance of
    * tools/compare_oracle.py; everything else must be equal. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x),
          math.abs(y)))
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** On-disk bytes of `df` written once as plain parquet. */
  def writtenOnceBytes(df: DataFrame, dir: String): Double = {
    Run.deleteTree(dir)
    df.write.parquet(dir)
    val b = Run.diskBytes(Seq(dir)).toDouble
    Run.deleteTree(dir)
    b
  }
}
