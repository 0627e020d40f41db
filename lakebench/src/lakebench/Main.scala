package lakebench

import scala.collection.mutable

/** One benchmark workload. [[setup]] builds everything from the seed into
  * a fresh directory and runs several times per run (the median is
  * `setup_s`); the state of the last set-up is what [[timed]] uses. */
trait Workload {
  /** Build inputs and initial state under `dir`. */
  def setup(run: Run, dir: String): Unit

  /** The closed loop: one call at a time until `deadline` (nanoTime);
    * a unit of work that has started always finishes. Returns the
    * number of units completed. */
  def timed(run: Run, deadline: Long): Int

  /** Checks that need the final state, after the timed phase. */
  def finish(run: Run): Unit

  /** Every end-to-end metric, by name, for the run just made. */
  def endToEnd(run: Run): Map[String, Double]

  /** Per-layer metrics beyond the span table (counts, ratios, kernels). */
  def layerExtras(run: Run): Map[String, Double]
}

object Main {
  val SetupReps = 3

  /** End-to-end metrics and their units, in print order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_mem_mb" -> "MB", "read_cpu_s" -> "cpu_s",
    "write_cpu_s" -> "cpu_s", "freshness_cpu_s" -> "cpu_s",
    "write_amp" -> "ratio",
    "space_amp" -> "ratio")

  /** Spans of the per-layer table (five metrics each). */
  val Spans: Seq[String] = Seq(
    "Etl.ingestCsv",
    "Versioned.append", "Versioned.upsert", "Versioned.deleteRows",
    "Versioned.deleteWhere", "Versioned.updateWhere",
    "Versioned.compactDeletes", "Versioned.compact", "Versioned.vacuum",
    "Versioned.read", "Versioned.readWhere", "Versioned.readAsOf",
    "GraftCatalog.plan", "GraftCatalog.exec",
    "DerivedTable.refreshAgg", "DerivedTable.refreshJoinKeys",
    "TextAnalysis.curate", "Dedup.ingestDedup",
    "Similarity.ingestDedupVectors", "Similarity.ivfTopKIndexed")

  /** Per-layer metrics outside the span table, with units. */
  val LayerExtras: Seq[(String, String)] = Seq(
    "Sessions.get.wall_s" -> "s",
    "functions.minhash_bands.ns_per_row" -> "ns",
    "functions.vec_dot.ns_per_row" -> "ns",
    "Versioned.bytes_written" -> "bytes",
    "Versioned.files_added" -> "count",
    "Versioned.live_files" -> "count",
    "Versioned.tombstone_files" -> "count",
    "Versioned.read.files_pruned_ratio" -> "ratio",
    "Versioned.read.scan_rows_per_row" -> "ratio",
    "DerivedTable.refresh_p50_s" -> "s",
    "Dedup.ingestDedup.drop_ratio" -> "ratio",
    "Similarity.ingestDedupVectors.drop_ratio" -> "ratio",
    "Similarity.ivfTopKIndexed.recall_at_5" -> "ratio",
    "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_deser_s" -> "s",
    "spark.codegen_compiles" -> "count",
    "trace.unattributed_s" -> "s", "trace.attributed_ratio" -> "ratio",
    "trace.units_per_s" -> "1/s")

  def spanUnit(metric: String): String =
    if (metric.endsWith(".jobs")) "count" else "s"

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.get("trace-out"))
  }

  def loadAvg: String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").take(3).mkString(",")).getOrElse("")

  /** CPU time the host took from this machine's vCPUs, summed over them
    * (the `steal` column of /proc/stat), in seconds. */
  def stealS: Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/stat").getLines()
      .next().trim.split("\\s+")(8).toDouble / 100.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload: Workload = opts.workload match {
      case "lake_commit_mv" => new LakeCommitMv
      case "llm_curation" => new LlmCuration
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val jvmStartS =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val load0 = loadAvg
    val tracer = new Tracer(opts.trace,
      s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}")
    val t0 = System.nanoTime()
    val spark = tracer.span("Sessions.get")(graft.Sessions.get("lakebench"))
    val sessionS = Run.secondsSince(t0)
    tracer.attach(spark.sparkContext)
    val run = new Run(spark, opts, tracer)
    val setupS = (0 until SetupReps).map { rep =>
      val dir = s"${opts.work}/rep$rep"
      if (rep > 0) Run.deleteTree(s"${opts.work}/rep${rep - 1}")
      val t = System.nanoTime()
      workload.setup(run, dir)
      val dt = Run.secondsSince(t)
      run.gcCheckpoint()
      dt
    }
    tracer.markTimed(start = true)
    val steal0 = stealS
    val cpu0 = Run.cpuNanos
    val tTimed = System.nanoTime()
    val units =
      workload.timed(run, tTimed + opts.seconds * 1000000000L)
    val timedS = Run.secondsSince(tTimed)
    val timedCpuS = (Run.cpuNanos - cpu0) / 1e9
    val timedStealS = stealS - steal0
    tracer.markTimed(start = false)
    run.gcCheckpoint()
    val tFinish = System.nanoTime()
    workload.finish(run)
    val finishS = Run.secondsSince(tFinish)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!opts.trace) {
      val e2e = workload.endToEnd(run) ++ Map(
        "setup_s" -> (sessionS + Run.median(setupS)),
        "peak_mem_mb" -> run.peakMemMb)
      EndToEnd.foreach { case (n, u) => metrics(n) = (e2e(n), u) }
    } else {
      val layers = tracer.report(spark.sparkContext, Spans) ++
        workload.layerExtras(run) ++ Map(
          "Sessions.get.wall_s" -> sessionS,
          "trace.units_per_s" -> units / timedS)
      Spans.foreach(s =>
        Seq("wall_s", "self_s", "jobs", "task_s", "driver_gap_s").foreach {
          m =>
            val n = s"$s.$m"
            metrics(n) = (layers(n), spanUnit(n))
        })
      LayerExtras.foreach { case (n, u) =>
        metrics(n) = (layers.getOrElse(n, 0.0), u)
      }
      opts.traceOut.foreach(tracer.dump)
    }
    val info = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "trace" -> (if (opts.trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "loadavg_start" -> Json.str(load0),
      "loadavg_end" -> Json.str(loadAvg),
      "jvm_start_s" -> Json.num(jvmStartS),
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> Json.arr(setupS.map(Json.num)),
      "timed_s" -> Json.num(timedS),
      "timed_cpu_s" -> Json.num(timedCpuS),
      "timed_steal_s" -> Json.num(timedStealS),
      "finish_s" -> Json.num(finishS),
      "codegen_compiles" -> Tracer.codegenCompiles.toString,
      "codegen_ms" -> Json.num(Tracer.codegenMs),
      "units" -> units.toString,
      "units_per_s" -> Json.num(units / timedS),
      "samples" -> Json.obj(run.sampleCounts.map { case (k, v) =>
        k -> v.toString
      }),
      "medians" -> Json.obj(run.sampleMedians.map { case (k, v) =>
        k -> Json.num(v)
      })))
    println(s"LAKEBENCH_INFO $info")
    spark.stop()
    val bad = metrics.collect {
      case (n, (v, _)) if v.isNaN || v.isInfinite => n
    }
    if (bad.nonEmpty) {
      run.note(s"metrics without a value: ${bad.mkString(", ")}")
      run.failed += 1
    }
    val result = Json.obj(Seq(
      "correct" -> (run.failed == 0).toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(if (v.isNaN ||
          v.isInfinite) 0.0 else v), "unit" -> Json.str(u)))
      })))
    println(result)
    System.out.flush()
  }
}
