package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.sources.FsFast

/** The local-scheme metadata fast path ([[graft.sources.FsFast]]):
  * the commit protocol's atomicity and listing contracts must hold
  * IDENTICALLY through the nio dispatch, because the marker publish
  * and the manifest walks are built on them. */
class FsFastSpec extends SparkSpec {
  private val work = "target/tmp/fsfast-spec"

  private def fresh(name: String): (Path, org.apache.hadoop.fs.FileSystem) = {
    val p = new Path(s"$work/$name")
    val f = p.getFileSystem(new Configuration())
    f.delete(p, true)
    f.mkdirs(p)
    (p, f)
  }

  test("put(overwrite = false) is create-exclusive: second writer loses") {
    val (dir, f) = fresh("claim")
    val target = new Path(dir, "marker")
    FsFast.put(f, target, "a".getBytes, overwrite = false)
    // the atomic-claim contract: an existing target throws, content
    // of the winner is untouched
    intercept[java.io.IOException](
      FsFast.put(f, target, "b".getBytes, overwrite = false))
    val in = f.open(target)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text == "a")
    // overwrite = true replaces
    FsFast.put(f, target, "c".getBytes, overwrite = true)
    val in2 = f.open(target)
    assert((try new String(in2.readAllBytes(), "UTF-8")
      finally in2.close()) == "c")
  }

  test("a nio rewrite removes the stale Hadoop .crc twin") {
    val (dir, f) = fresh("crc")
    val target = new Path(dir, "sidecar")
    // a Hadoop (checksummed) write leaves a .crc sibling...
    val out = f.create(target, true)
    try out.write("old-content".getBytes) finally out.close()
    val crc = new java.io.File(s"$work/crc/.sidecar.crc")
    assert(crc.exists, "precondition: Hadoop write creates the crc twin")
    // ...which a later nio rewrite must remove, or a checksummed read
    // of the new content would verify against the old sums and fail
    FsFast.put(f, target, "new".getBytes, overwrite = true)
    assert(!crc.exists, "stale crc must not survive a nio rewrite")
    val in = f.open(target) // ChecksumFileSystem read path
    assert((try new String(in.readAllBytes(), "UTF-8")
      finally in.close()) == "new")
  }

  test("walkFiles matches Hadoop listFiles(recursive) on a nested tree") {
    val (dir, f) = fresh("walk")
    FsFast.put(f, new Path(dir, "a.parquet"), "x".getBytes, false)
    FsFast.put(f, new Path(dir, "sub/b.parquet"), "yy".getBytes, false)
    FsFast.put(f, new Path(dir, "sub/deep/c.txt"), "zzz".getBytes, false)
    // a raw dot-file on disk (the shape of a ChecksumFileSystem .crc
    // twin): listFiles hides it, so walkFiles must too — parity is
    // the contract, not a caller-side filter
    java.nio.file.Files.write(java.nio.file.Paths.get(
      new java.io.File(s"$dir/sub", ".b.parquet.crc").getPath),
      "c".getBytes)
    val walked = FsFast.walkFiles(f, dir)
      .map(e => (e.name, e.parentName, e.len)).toSet
    val listed = {
      val it = f.listFiles(dir, true)
      val buf = scala.collection.mutable.Set.empty[(String, String, Long)]
      while (it.hasNext) {
        val st = it.next()
        buf += ((st.getPath.getName, st.getPath.getParent.getName,
          st.getLen))
      }
      buf.toSet
    }
    assert(walked == listed)
    assert(!walked.exists(_._1.startsWith(".")))
    // missing root throws like listFiles
    intercept[java.io.FileNotFoundException](
      FsFast.walkFiles(f, new Path(dir, "nope")))
  }

  test("footerRowCount reads the parquet footer exactly") {
    import spark.implicits._
    val (dir, f) = fresh("footer")
    val pq = new Path(dir, "t.parquet")
    (1 to 137).toDF("x").coalesce(1).write.mode("overwrite")
      .parquet(pq.toString)
    val file = FsFast.walkFiles(f, pq)
      .filter(_.name.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    assert(FsFast.footerRowCount(f, conf, file.path) == 137L)
  }

  /** A non-`file` scheme over local disk: every helper must take the
    * `case None` Hadoop branch. */
  private def freshRemote(name: String):
      (Path, org.apache.hadoop.fs.FileSystem, Configuration) = {
    val local = new java.io.File(s"$work/$name").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(local)
    local.mkdirs()
    val conf = new Configuration()
    conf.set("fs.mock.impl", classOf[MockRemoteFs].getName)
    val dir = new Path("mock:" + local.getPath)
    val f = dir.getFileSystem(conf)
    (dir, f, conf)
  }

  test("Hadoop arm: put/walk/footer contracts hold under a non-file scheme") {
    import spark.implicits._
    val (dir, f, conf) = freshRemote("remote")
    assert(FsFast.localPath(f, dir).isEmpty,
      "a mock-scheme fs must dispatch to the Hadoop branch")
    // create-exclusive: second writer loses, winner's content intact
    val target = new Path(dir, "marker")
    FsFast.put(f, target, "a".getBytes, overwrite = false)
    intercept[java.io.IOException](
      FsFast.put(f, target, "b".getBytes, overwrite = false))
    val in = f.open(target)
    assert((try new String(in.readAllBytes(), "UTF-8")
      finally in.close()) == "a")
    FsFast.put(f, target, "c".getBytes, overwrite = true)
    // recursive walk parity with the local arm's filtered view, and
    // the listFiles FileNotFoundException contract
    FsFast.put(f, new Path(dir, "sub/deep/b.parquet"), "yy".getBytes,
      overwrite = false)
    val walked = FsFast.walkFiles(f, dir)
    assert(walked.map(_.name).toSet == Set("marker", "b.parquet"))
    assert(walked.forall(!_.name.startsWith(".")),
      "checksum twins must stay hidden on the Hadoop arm too")
    assert(walked.find(_.name == "b.parquet")
      .exists(e => e.parentName == "deep" && e.len == 2))
    intercept[java.io.FileNotFoundException](
      FsFast.walkFiles(f, new Path(dir, "nope")))
    // footerRowCount through the HadoopInputFile branch
    val pqLocal = s"$work/remote/t.parquet"
    (1 to 41).toDF("x").coalesce(1).write.mode("overwrite")
      .parquet(pqLocal)
    val pq = FsFast.walkFiles(f, new Path(dir, "t.parquet"))
      .filter(_.name.endsWith(".parquet")).head
    assert(FsFast.footerRowCount(f, conf, pq.path) == 41L)
  }

  test("Hadoop arm: a full versioned commit/read cycle on a non-file scheme") {
    import spark.implicits._
    import graft.sources.Versioned
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockRemoteFs].getName)
    val local = new java.io.File(s"$work/remote_tbl").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(local)
    val t = "mock:" + local.getPath
    // commit -> O(delta) append -> MoR delete -> compact, all through
    // the Hadoop dispatch arm: markers, manifests, sidecars, scans
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), t)
    Versioned.append(Seq((4, "d")).toDF("id", "v"), t)
    Versioned.deleteRows(spark, t, Seq(2).toDF("id"))
    assert(Versioned.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3, 4))
    // time travel still serves the pre-delete snapshot
    assert(Versioned.read(spark, t, Some(2)).count() == 4)
    Versioned.compact(spark, t)
    assert(Versioned.read(spark, t).orderBy("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3, 4))
    // the count sidecars round-tripped through the Hadoop arm:
    // .partitions answers without new footer opens
    val before = Versioned.footerOpenCount.get()
    assert(Versioned.partitions(spark, t)
      .agg(org.apache.spark.sql.functions.sum("row_count"))
      .head().getLong(0) == 3L)
    assert(Versioned.footerOpenCount.get() == before)
  }

  test("a commit failing while its tombstone write runs cancels and " +
      "awaits that write before the failure reaches the caller") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    import graft.sources.Versioned
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.mock.impl", classOf[MockRemoteFs].getName)
    val local = new java.io.File(s"$work/remote_tomb").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(local)
    val t = "mock:" + local.getPath
    Versioned.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), t)
    val TombGroup = "graft-tombstones-"
    // the delete-key frame sleeps only inside the tombstone write's
    // job group, so the commit's other actions run at full speed
    val slowInTombstones = udf { (k: Int) =>
      val g = org.apache.spark.TaskContext.get()
        .getLocalProperty("spark.jobGroup.id")
      if (g != null && g.startsWith(TombGroup)) Thread.sleep(20000)
      k
    }.asNondeterministic()
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(TombGroup)).foreach(groups.add)
    }
    def waitFor(what: String, ms: Long)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + ms
      while (!cond && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(cond, what)
    }
    sc.addSparkListener(listener)
    try {
      // the commit's _ref put fails once its tombstone job is running
      MockRemoteFs.failNextCreate("_ref", () =>
        waitFor("the tombstone write started", 30000)(!groups.isEmpty))
      val e = intercept[java.io.IOException](
        Versioned.applyChanges(spark, t,
          upserts = Seq((4, "d")).toDF("id", "v"),
          // a range, not a local relation: the optimizer would fold
          // the UDF over literal rows on the driver
          deleteKeys = spark.range(2, 3)
            .select(slowInTombstones(col("id").cast("int")).as("id")),
          key = "id"))
      assert(e.getMessage.contains("injected create failure"))
      // the job-end event reaches the status store over the listener
      // bus right after the scheduler fails the job; a write left
      // running would sleep on for ~20 s
      val group = groups.peek()
      def running = sc.statusTracker.getJobIdsForGroup(group).toSeq
        .flatMap(sc.statusTracker.getJobInfo(_))
        .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
      waitFor("the tombstone job was cancelled", 2000)(
        sc.statusTracker.getJobIdsForGroup(group).nonEmpty &&
          running.isEmpty)
      // the failed commit published nothing
      assert(Versioned.currentVersion(spark, t) == 1)
      assert(Versioned.read(spark, t).count() == 3)
    } finally {
      MockRemoteFs.clearFaults()
      sc.removeSparkListener(listener)
    }
  }
}
