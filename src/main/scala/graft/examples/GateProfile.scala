package graft.examples

/** Gate-wall profiling harness (not part of the query surface): runs
  * the MV lifecycle gates back-to-back, printing wall time and SPARK
  * JOB COUNT per gate — the two numbers that localize whether a gate
  * is commit-bound, job-count-bound, or genuinely data-bound. A
  * second run of the same gate separates JIT/memo warmup from
  * steady-state cost. */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.get("graft-gate-profile")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    // Accumulated IN-JOB wall (submit->end, may overlap across jobs)
    // and task time: (gate wall - job wall) is driver-side planning /
    // metadata / commit time between actions — the number that decides
    // whether to cut job COUNT or job COST.
    val jobNanos = new java.util.concurrent.atomic.AtomicLong
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val verbose = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart)
            : Unit = {
          jobs.incrementAndGet()
          starts.put(js.jobId, js.time)
          if (verbose.get) println(s"GATE_PROFILE   job " +
            s"${js.jobId} stages=${js.stageInfos.size} tasks=" +
            s"${js.stageInfos.map(_.numTasks).sum} " +
            js.stageInfos.map(_.name).mkString(" | ").take(120))
          ()
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { t0 =>
            jobNanos.addAndGet((je.time - t0) * 1000000L)
            if (verbose.get) println(s"GATE_PROFILE   job " +
              s"${je.jobId} end ms=${je.time - t0}")
          }
          ()
        }
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (te.taskInfo != null)
            taskNanos.addAndGet(te.taskInfo.duration * 1000000L)
          ()
        }
      })
    def time(label: String)(body: => Any): Unit = {
      val j0 = jobs.get; val jn0 = jobNanos.get; val tn0 = taskNanos.get
      val t = System.nanoTime()
      body
      val wall = (System.nanoTime() - t) / 1e9
      // listener bus is async; drain it deterministically (a fixed
      // sleep under-reported jobwall/taskwall when events landed late)
      org.apache.spark.sql.graft.SparkInternals
        .waitListenerBus(spark.sparkContext, 10000L)
      println(f"GATE_PROFILE $label: $wall%.2f s" +
        s" jobs=${jobs.get - j0}" +
        f" jobwall=${(jobNanos.get - jn0) / 1e9}%.2f" +
        f" taskwall=${(taskNanos.get - tn0) / 1e9}%.2f")
    }
    time("warm-scan")(
      graft.sources.Tables.load(spark, d, "documents").count())
    val dt = graft.sources.DerivedTable
    // —— op-level breakdown of one aggregate-MV lifecycle ——
    locally {
      import org.apache.spark.sql.functions._
      val V = graft.sources.Versioned
      val work = java.nio.file.Files
        .createTempDirectory("graft-gate-profile")
      val src = work.resolve("src").toString
      val dst = work.resolve("dst").toString
      val docs = graft.sources.Tables.load(spark, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .persist()
      docs.count()
      time("op:commit-v1")(V.commit(docs.filter(col("doc_id") < 300),
        src))
      time("op:agg-bootstrap")(dt.refreshAgg(spark, src, dst,
        "doc_id", Seq("source"), "n_chars"))
      time("op:append")(V.append(docs.filter(col("doc_id") >= 300),
        src))
      verbose.set(args.contains("-v"))
      time("op:agg-incr")(dt.refreshAgg(spark, src, dst,
        "doc_id", Seq("source"), "n_chars"))
      time("op:applyChanges")(V.applyChanges(spark, src,
        upserts = docs.filter(col("doc_id").isin(1L, 2L, 3L))
          .withColumn("n_chars", lit(7L)),
        deleteKeys = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id")), key = "doc_id"))
      time("op:agg-incr2")(dt.refreshAgg(spark, src, dst,
        "doc_id", Seq("source"), "n_chars"))
      verbose.set(false)
      time("op:agg-noop")(dt.refreshAgg(spark, src, dst,
        "doc_id", Seq("source"), "n_chars"))
      time("op:bagEqual")(dt.bagEqual(V.read(spark, dst),
        V.read(spark, src).groupBy(col("source")).agg(
          sum(col("n_chars")).as("sum_n_chars"),
          count(col("n_chars")).as("cnt_n_chars"),
          count(lit(1)).as("n_rows"))))
      time("op:read-count")(V.read(spark, dst).count())
      docs.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    }
    time("q52#1")(graft.gates.MvGates.derivedRefreshGate(spark, d).collect())
    time("q52#2")(graft.gates.MvGates.derivedRefreshGate(spark, d).collect())
    time("q54#1")(graft.gates.MvGates.aggRefreshGate(spark, d).collect())
    time("q54#2")(graft.gates.MvGates.aggRefreshGate(spark, d).collect())
    time("q55#1")(graft.gates.MvGates.mvLifecycleGate(spark, d).collect())
    time("q57#1")(graft.gates.MvGates.mvShapesGate(spark, d).collect())
    time("q58#1")(graft.gates.MvGates.joinMvGate(spark, d).collect())
    time("q59#1")(graft.gates.MvGates.aggJoinMvGate(spark, d).collect())
    time("q60#1")(graft.gates.MvGates.distinctMvGate(spark, d).collect())
    spark.stop()
  }
}
