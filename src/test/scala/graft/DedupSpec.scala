package graft

import graft.operators.Dedup
import scala.jdk.CollectionConverters._

class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exact: Set[(Long, Long)] = pairs(Dedup.shingleJaccard(spark, sf))

  test("fixture has planted near-duplicate pairs") {
    assert(exact.nonEmpty)
  }

  test("minhash-LSH reproduces the exact shingle-jaccard pairs") {
    assert(pairs(Dedup.minhashLsh(spark, sf)) == exact)
  }

  test("persisted dedup index: build, probe a new batch, O(delta) " +
      "append, re-probe — equals exact cross-boundary pairs; " +
      "re-append of an indexed id refuses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val idx = "target/tmp/dedup-index"
    Seq(idx, s"$idx.sigs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val all = graft.sources.Tables.load(spark, sf, "documents")
    Dedup.buildDedupIndexOf(all.filter($"doc_id" < 300), idx)
    val p1 = pairs(Dedup.dedupAgainstIndex(spark,
      all.filter($"doc_id" >= 300 && $"doc_id" < 450), idx)
      .select($"dup_of", $"new_id"))
    assert(p1 == exact.filter { case (a, b) =>
      a < 300 && b >= 300 && b < 450 })
    assert(p1.nonEmpty, "fixture must plant cross-boundary dups")
    // estimated jaccard sits near truth for a known planted pair
    val est = Dedup.dedupAgainstIndex(spark,
      all.filter($"doc_id" >= 300 && $"doc_id" < 450), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getDouble(2)).toMap
    est.values.foreach(j => assert(j >= 0.5 && j <= 1.0))
    // grow the index by the batch — O(delta) — and probe the rest
    Dedup.appendToDedupIndex(spark,
      all.filter($"doc_id" >= 300 && $"doc_id" < 450), idx)
    val p2 = pairs(Dedup.dedupAgainstIndex(spark,
      all.filter($"doc_id" >= 450), idx)
      .select($"dup_of", $"new_id"))
    assert(p2 == exact.filter { case (a, b) => a < 450 && b >= 450 })
    // an id already indexed refuses the append (it would candidate
    // against itself forever)
    val e = intercept[IllegalArgumentException](
      Dedup.appendToDedupIndex(spark,
        all.filter($"doc_id" === 10), idx))
    assert(e.getMessage.contains("already indexed"))
    // probing never pairs a doc with itself and never reorders ids
    assert(!p1.exists { case (a, b) => a == b } &&
      !p2.exists { case (a, b) => a >= 450 })
  }

  test("ingestDedup: one-pass probe-and-grow drops corpus AND " +
      "within-batch duplicates, survivors join the index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val idx = "target/tmp/dedup-ingest"
    Seq(idx, s"$idx.sigs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val all = graft.sources.Tables.load(spark, sf, "documents")
    Dedup.buildDedupIndexOf(all.filter($"doc_id" < 300), idx)
    val batch = all.filter($"doc_id" >= 300 && $"doc_id" < 450)
    val verdict = Dedup.ingestDedup(spark, batch, idx).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // expected drops from the EXACT pair truth: every batch doc that
    // is the larger side of a pair whose partner is in the corpus or
    // earlier in the batch; its witness is the smallest such partner
    val expectedDrop = exact
      .filter { case (a, b) => b >= 300 && b < 450 && a < 450 }
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    assert(expectedDrop.nonEmpty)
    val dropped = verdict.filter(!_._2).map(v => v._1 -> v._3).toMap
    assert(dropped == expectedDrop)
    assert(verdict.filter(_._2).forall(_._3 == -1L))
    assert(verdict.map(_._1).toSet ==
      batch.select($"doc_id").collect().map(_.getLong(0)).toSet)
    // the index grew by exactly the survivors
    assert(graft.sources.Versioned
      .read(spark, s"$idx.sigs").count() ==
      all.filter($"doc_id" < 300).count() +
        verdict.count(_._2))
    // and a later probe sees them (dropped docs never joined)
    val p2 = pairs(Dedup.dedupAgainstIndex(spark,
      all.filter($"doc_id" >= 450), idx)
      .select($"dup_of", $"new_id"))
    assert(p2 == exact.filter { case (a, b) =>
      a < 450 && b >= 450 && !expectedDrop.contains(a) })
    // a crash-retry of an already-landed batch refuses loudly rather
    // than silently doubling sketch rows (corpus candidates exclude
    // self-pairs, so every doc would re-keep)
    val re = intercept[IllegalArgumentException](
      Dedup.ingestDedup(spark, batch, idx))
    assert(re.getMessage.contains("already"))
    // duplicate batch ids would merge two documents into one sketch
    val chimera = intercept[IllegalArgumentException](
      Dedup.ingestDedup(spark,
        Seq((900L, "a b c d"), (900L, "e f g h")).toDF("doc_id", "text"),
        idx))
    assert(chimera.getMessage.contains("one row per non-null doc_id"))
    // binpack maintenance: drip-fed band files compact, probes
    // unchanged, the sigs pin re-points at the compacted sibling.
    // LIVE file counts (old versions stay on disk for time travel
    // until vacuum, so a raw directory listing GROWS across a compact)
    val preFiles = graft.sources.Versioned.dataFileCount(spark, idx)
    Dedup.compactDedupIndex(spark, idx)
    val postFiles = graft.sources.Versioned.dataFileCount(spark, idx)
    assert(postFiles <= preFiles, s"$postFiles vs $preFiles")
    val p2b = pairs(Dedup.dedupAgainstIndex(spark,
      all.filter($"doc_id" >= 450), idx)
      .select($"dup_of", $"new_id"))
    assert(p2b == p2, "compaction must not change probe results")
    // the SQL spelling of the crawl loop: a graft batch table in,
    // kept/dropped counts out, survivors landed
    val batchTbl = "target/tmp/dedup-ingest-batch"
    clean2(batchTbl)
    graft.sources.Versioned.commit(
      Seq((5000L, "totally novel content never seen before xyz"),
        (5001L, "totally novel content never seen before xyz"))
        .toDF("doc_id", "text"), batchTbl)
    val abs = new java.io.File(batchTbl).getAbsolutePath
    val idxAbs = new java.io.File(idx).getAbsolutePath
    val r = spark.sql("CALL graft.system.ingest_dedup(" +
      s"index => '$idxAbs', batch => '$abs')").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L,
      s"within-batch twin must drop: $r")
  }

  private def clean2(paths: String*): Unit = paths.foreach(p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  test("dedup index DELETE lifecycle: tombstoned doc stops matching " +
      "immediately, live tombstone refuses re-ingest, compact " +
      "applies, the freed id re-ingests and its pairs return") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val idx = "target/tmp/dedup-del"
    clean2(idx, s"$idx.sigs", s"$idx.tombs")
    val all = graft.sources.Tables.load(spark, sf, "documents")
    Dedup.buildDedupIndexOf(all.filter($"doc_id" < 300), idx)
    val batch = all.filter($"doc_id" >= 300)
    def probe(): Set[(Long, Long)] = pairs(
      Dedup.dedupAgainstIndex(spark, batch, idx)
        .select($"dup_of", $"new_id"))
    val p0 = probe()
    assert(p0 == exact.filter { case (a, b) => a < 300 && b >= 300 })
    assert(p0.nonEmpty, "fixture must plant cross-boundary dups")
    // takedown of a corpus doc that matched: gone from the very next
    // probe, no compaction needed
    val victim = p0.map(_._1).min
    Dedup.deleteFromDedupIndex(spark, Seq(victim).toDF("doc_id"), idx)
    assert(probe() == p0.filter(_._1 != victim))
    // a live-tombstoned id refuses append AND ingest (its rows still
    // stand on disk; the compaction anti-join would kill new rows)
    val e1 = intercept[IllegalArgumentException](
      Dedup.appendToDedupIndex(spark,
        all.filter($"doc_id" === victim), idx))
    assert(e1.getMessage.contains("live-tombstoned"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.ingestDedup(spark, all.filter($"doc_id" === victim), idx))
    assert(e2.getMessage.contains("live-tombstoned"))
    // re-delete is idempotent, deleting a never-indexed id harmless
    Dedup.deleteFromDedupIndex(spark,
      Seq(victim, 999999L).toDF("doc_id"), idx)
    // compact applies the set: probe unchanged, the victim's sig row
    // physically gone, the sigs pin tracks the rewritten sibling
    Dedup.compactDedupIndex(spark, idx)
    assert(probe() == p0.filter(_._1 != victim))
    assert(graft.sources.Versioned.read(spark, s"$idx.sigs")
      .filter($"doc_id" === victim).isEmpty)
    // post-compact the id is free: re-ingest restores its pairs
    Dedup.appendToDedupIndex(spark,
      all.filter($"doc_id" === victim), idx)
    assert(probe() == p0)
  }

  test("ingestDedup allowReingest: a replayed batch returns the " +
      "identical verdict frame and appends nothing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val idx = "target/tmp/dedup-reingest"
    clean2(idx, s"$idx.sigs", s"$idx.tombs")
    val all = graft.sources.Tables.load(spark, sf, "documents")
    Dedup.buildDedupIndexOf(all.filter($"doc_id" < 300), idx)
    val batch = all.filter($"doc_id" >= 300 && $"doc_id" < 450)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sorted
    val v1 = rows(Dedup.ingestDedup(spark, batch, idx))
    assert(v1.exists(!_._2), "fixture must drop someone")
    val sigsV = graft.sources.Versioned.currentVersion(spark, s"$idx.sigs")
    val bandV = graft.sources.Versioned.currentVersion(spark, idx)
    // the default refusal names the retry escape hatch
    val e = intercept[IllegalArgumentException](
      Dedup.ingestDedup(spark, batch, idx))
    assert(e.getMessage.contains("allowReingest"))
    // the replay: identical verdict, no new version on either table
    val v2 = rows(Dedup.ingestDedup(spark, batch, idx,
      allowReingest = true))
    assert(v2 == v1)
    assert(graft.sources.Versioned.currentVersion(spark, s"$idx.sigs")
      == sigsV)
    assert(graft.sources.Versioned.currentVersion(spark, idx) == bandV)
    // a PARTIAL replay (the crash-mid-batch shape: overlap + fresh
    // docs) keeps the overlap by identity and processes the rest
    val fresh = Seq((7000L, "wholly novel text for the partial " +
      "replay case abc def")).toDF("doc_id", "text")
    val v3 = rows(Dedup.ingestDedup(spark,
      batch.select($"doc_id", $"text").unionByName(fresh), idx,
      allowReingest = true))
    assert(v3.filter(_._1 != 7000L) == v1)
    assert(v3.find(_._1 == 7000L).exists(_._2))
  }

  test("ingestDedup verdict is built from the drop set materialized " +
      "once: it reads no index file and stays stable while a later " +
      "ingest, a witness takedown and compaction move the index on") {
    import spark.implicits._
    val idx = "target/tmp/dedup-verdict"
    val dirs = Seq(idx, s"$idx.sigs", s"$idx.tombs")
    clean2(dirs: _*)
    val all = graft.sources.Tables.load(spark, sf, "documents")
    Dedup.buildDedupIndexOf(all.filter($"doc_id" < 300), idx)
    // a live tombstone, so every sibling the probe reads exists
    Dedup.deleteFromDedupIndex(spark, Seq(0L).toDF("doc_id"), idx)
    val verdict = Dedup.ingestDedup(spark,
      all.filter($"doc_id" >= 300 && $"doc_id" < 450), idx)
    val roots = dirs.map(d => new java.io.File(d).getAbsolutePath + "/")
    val indexReads = verdict.inputFiles
      .filter(f => roots.exists(f.contains(_)))
    assert(indexReads.isEmpty,
      s"the verdict re-reads the index: ${indexReads.mkString(", ")}")
    def rows() = verdict.collect().map(r => (r.getLong(0),
      r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq.sorted
    val first = rows()
    val witnesses = first.filter(!_._2).map(_._3)
    assert(witnesses.nonEmpty, "fixture must drop someone")
    Dedup.ingestDedup(spark, all.filter($"doc_id" >= 450), idx).collect()
    Dedup.deleteFromDedupIndex(spark,
      Seq(witnesses.min).toDF("doc_id"), idx)
    Dedup.compactDedupIndex(spark, idx)
    assert(rows() == first)
  }

  /** One ingest of the 300-449 batch into a fresh index of docs < 300,
    * with the Spark jobs it ran (the verdict's collect included) and
    * the parquet files its new band and sigs versions hold. */
  private lazy val guardedIngest = {
    import spark.implicits._
    val idx = "target/tmp/dedup-guard"
    clean2(idx, s"$idx.sigs", s"$idx.tombs")
    val all = graft.sources.Tables.load(spark, sf, "documents")
    Dedup.buildDedupIndexOf(all.filter($"doc_id" < 300), idx)
    val batch = all.filter($"doc_id" >= 300 && $"doc_id" < 450)
    val (jobs, verdict) =
      jobsOf(Dedup.ingestDedup(spark, batch, idx).collect())
    def parquetByDir(table: String): Map[String, Int] = {
      val v = graft.sources.Versioned.currentVersion(spark, table)
      org.apache.commons.io.FileUtils.listFiles(
          new java.io.File(s"$table/v=$v"), Array("parquet"), true)
        .asScala.toSeq.filterNot(_.getPath.contains("/_"))
        .groupBy(_.getParentFile.getName).map { case (d, fs) => d -> fs.size }
    }
    (jobs, verdict, parquetByDir(idx), parquetByDir(s"$idx.sigs"))
  }

  test("ingestDedup of a 150-doc batch on a 300-doc index runs at most " +
      "24 Spark jobs") {
    val (jobs, verdict, _, _) = guardedIngest
    assert(verdict.exists(!_.getBoolean(1)), "fixture must drop someone")
    info(s"ingestDedup jobs: $jobs")
    assert(jobs <= 24, s"ingestDedup ran $jobs jobs")
  }

  test("one ingest adds exactly one data file per touched band " +
      "partition and one sigs file") {
    val (_, verdict, bandFiles, sigsFiles) = guardedIngest
    assert(verdict.exists(_.getBoolean(1)), "fixture must keep someone")
    // every survivor holds one row per band, so all bands are touched
    assert(bandFiles.keySet == (0 until Dedup.Bands).map(b => s"band=$b").toSet,
      bandFiles)
    assert(bandFiles.values.forall(_ == 1), bandFiles)
    assert(sigsFiles.values.sum == 1, sigsFiles)
  }

  /** A fresh index of the fixture's docs < 300 for the edge cases. */
  private def edgeIndex(name: String): String = {
    import spark.implicits._
    val idx = s"target/tmp/$name"
    clean2(idx, s"$idx.sigs", s"$idx.tombs")
    Dedup.buildDedupIndexOf(graft.sources.Tables.load(spark, sf,
      "documents").filter($"doc_id" < 300), idx)
    idx
  }

  private def verdictOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap

  private def indexedIds(idx: String): Set[Long] =
    graft.sources.Versioned.read(spark, s"$idx.sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("ingestDedup edge cases: a doc with no shingles is kept and not " +
      "appended; a batch with no candidate reads no signature") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val idx = edgeIndex("dedup-edge")
    val sigsRoot = new java.io.File(s"$idx.sigs").getAbsolutePath
    // the executed plans of every action the ingest runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val lis = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = plans.add(qe.executedPlan)
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }).flatMap(nodes)
    // does any action of `body` scan the sig column of the sigs table?
    def readsSignatures(body: => Unit): Boolean = {
      org.apache.spark.sql.graft.SparkInternals
        .waitListenerBus(spark.sparkContext, 10000L)
      plans.clear()
      spark.listenerManager.register(lis)
      try {
        body
        org.apache.spark.sql.graft.SparkInternals
          .waitListenerBus(spark.sparkContext, 10000L)
      } finally spark.listenerManager.unregister(lis)
      plans.asScala.toSeq.flatMap(nodes).exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(
            _.toUri.getPath.startsWith(sigsRoot)) &&
          f.requiredSchema.fieldNames.contains("sig")
        case _ => false
      }
    }
    val fresh = Seq((8000L, "too short"),
      (8001L, "an entirely novel sentence that shares no shingle " +
        "with any document of the fixture corpus qzx"))
      .toDF("doc_id", "text")
    var v = Map.empty[Long, (Boolean, Long)]
    assert(!readsSignatures {
      v = verdictOf(Dedup.ingestDedup(spark, fresh, idx))
    }, "a batch with no candidate must fetch no signature")
    assert(v == Map(8000L -> (true, -1L), 8001L -> (true, -1L)))
    val ids = indexedIds(idx)
    assert(ids.contains(8001L) && !ids.contains(8000L))
    // the detector does see the read when candidates exist
    assert(readsSignatures {
      Dedup.ingestDedup(spark, graft.sources.Tables.load(spark, sf,
        "documents").filter($"doc_id" >= 300 && $"doc_id" < 450), idx)
    })
  }

  test("ingestDedup edge case: a dropped doc whose only witness is " +
      "another batch doc") {
    import spark.implicits._
    val idx = edgeIndex("dedup-edge-batch")
    val text = "a wholly novel passage about lighthouse keepers and the " +
      "tides of a northern harbor in winter"
    val v = verdictOf(Dedup.ingestDedup(spark,
      Seq((8101L, text), (8100L, text)).toDF("doc_id", "text"), idx))
    assert(v == Map(8100L -> (true, -1L), 8101L -> (false, 8100L)))
    val ids = indexedIds(idx)
    assert(ids.contains(8100L) && !ids.contains(8101L))
  }

  test("ingestDedup's verdict is a local frame: its collect runs no " +
      "Spark job and lists no input file") {
    import spark.implicits._
    val idx = edgeIndex("dedup-verdict-local")
    val verdict = Dedup.ingestDedup(spark, graft.sources.Tables.load(spark,
      sf, "documents").filter($"doc_id" >= 300 && $"doc_id" < 450), idx)
    assert(verdict.inputFiles.isEmpty,
      s"the verdict lists ${verdict.inputFiles.mkString(", ")}")
    val (jobs, rows) = jobsOf(verdict.collect())
    assert(jobs == 0, s"the verdict's collect ran $jobs jobs")
    assert(rows.length == 150 && rows.exists(!_.getBoolean(1)))
  }

  test("simhash banding reproduces the exact shingle-jaccard pairs") {
    assert(pairs(Dedup.simhashPairs(spark, sf)) == exact)
  }

  test("simhash chunk banding (scale path) equals the pair-scan candidates") {
    val sk = Dedup.simhashSketches(Dedup.shingleRows(spark, sf)).cache()
    val scan = pairs(Dedup.simhashScanCandidates(sk, 15))
    val banded = pairs(Dedup.simhashBandedCandidates(sk, 4, 15))
    assert(banded == scan) // pigeonhole-complete at 16x4-bit chunks
    sk.unpersist()
  }

  test("dedup clusters: pairs co-clustered, cluster id is the member min") {
    val cl = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (a, b) => assert(cl(a) == cl(b)) }
    cl.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid) // canonical = min member
    }
    // docs in no pair are singletons
    val paired = exact.flatMap(p => Seq(p._1, p._2))
    cl.foreach { case (id, cid) =>
      if (!paired.contains(id)) assert(cid == id)
    }
  }

  test("cluster label join is not a forced broadcast") {
    // The label side holds every edge-touched doc — at web-scale
    // duplicate rates that is a large slice of the corpus, so the join
    // must be allowed to shuffle. With auto-broadcast disabled, a
    // forced broadcast(cc) hint would still plan BroadcastHashJoin;
    // the un-hinted join must fall back to a shuffle join.
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.dedupClusters(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") &&
        plan.contains("LeftOuter"))
      assert(!plan.contains("BroadcastHashJoin LeftOuter") &&
        !plan.contains("BroadcastHashJoin [doc_id"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }
  }

  test("connected components converge on a high-diameter chain graph") {
    import spark.implicits._
    // Path 0-1-2-...-9: diameter 9, far beyond the near-clique regime
    // the fixture exercises (1-2 propagation rounds).
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to 9L).toSet)
    assert(labels.values.forall(_ == 0L)) // one component, min label
    // Bounded storage: the default unpersists per-round frames, so at
    // most the edges + two round frames remain cached afterwards.
    val cachedRdds = spark.sparkContext.getPersistentRDDs.size
    info(s"persistent RDDs after chain run: $cachedRdds")
  }

  test("star contraction equals label propagation on chain, clique, fixture") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain (diameter 9), two cliques, and a cross edge
    val graphs = Seq(
      (0L until 9L).map(i => (i, i + 1)),
      (for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)) ++
        (for (a <- 20L to 23L; b <- (a + 1) to 23L) yield (a, b)) ++
        Seq((14L, 20L)))
    graphs.foreach { g =>
      val pairs = g.toDF("a_id", "b_id")
      assert(labels(Dedup.connectedComponentsStar(pairs)) ==
        labels(Dedup.connectedComponents(pairs)))
    }
    // a seeded random graph (mixed component shapes and sizes)
    val rnd = new scala.util.Random(5)
    val random = (1 to 120)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
      .toDF("a_id", "b_id")
    assert(labels(Dedup.connectedComponentsStar(random)) ==
      labels(Dedup.connectedComponents(random)))
    // the real near-dup pairs
    val fixture = Dedup.minhashLsh(spark, sf).select("a_id", "b_id").cache()
    assert(labels(Dedup.connectedComponentsStar(fixture)) ==
      labels(Dedup.connectedComponents(fixture)))
  }

  test("jaccard values are in (0.5, 1]") {
    val js = Dedup.shingleJaccard(spark, sf).collect().map(_.getDouble(2))
    assert(js.forall(j => j >= 0.5 && j <= 1.0))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.embeddingNearDup(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.45))
  }

  test("LSH embedding near-dup is a sound subset of the exact pairs") {
    val exactPairs = pairs(Dedup.embeddingNearDup(spark, sf))
    val lshPairs = pairs(Dedup.embeddingNearDupLsh(spark, sf))
    assert(lshPairs.subsetOf(exactPairs)) // verify step kills false pos
    if (exactPairs.nonEmpty) {
      val recall = (lshPairs & exactPairs).size.toDouble / exactPairs.size
      info(s"embedding LSH recall = $recall")
      assert(recall >= 0.2)
    }
  }

  test("semantic dedup: one row per vector, dropped set sound, recall floor") {
    val out = Dedup.semanticDedup(spark, sf).collect()
    val corpus = spark.read
      .parquet(s"$sf/embeddings.parquet").count()
    assert(out.length == corpus) // total assignment: every vector decided
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    val dropped = out.filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    // Soundness: every dropped id loses under the exact global rule too
    // (it has a smaller-id exact near-dup partner) — precision 1.
    val exactDroppable = Dedup.embeddingNearDup(spark, sf)
      .select("b_id").collect().map(_.getLong(0)).toSet
    assert(dropped.subsetOf(exactDroppable))
    if (exactDroppable.nonEmpty) {
      val recall = (dropped & exactDroppable).size.toDouble /
        exactDroppable.size
      info(s"semantic dedup recall = $recall")
      assert(recall >= 0.5) // sf0.001 measures 1.0 at top-3 probes
    }
    spark.catalog.clearCache()
  }

  test("semantic dedup pair join keys on cell — never cartesian") {
    // BroadcastNestedLoopJoins against the 16-row centroid table are
    // the intended bounded corpus x centroids scoring pattern; the
    // scale property is that the PAIR self-join is an equi-join on
    // cell (per-cluster blocks) and nothing is a true cartesian.
    val plan = Dedup.semanticDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    assert(plan.contains("Join [cell#") ||
      plan.matches("(?s).*Join \\[cell.*"), plan.take(600))
    spark.catalog.clearCache()
  }

  test("semantic dedup quality gate reduces to all-ok constants") {
    val r = Dedup.semanticDedupQuality(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 1L && r.head.getLong(1) == 1L)
    spark.catalog.clearCache()
  }

  test("selfPairsInIndex audits stored duplicates from sketches " +
      "alone; export refuses live tombstones, then round-trips") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val idx = "target/tmp/dedup-self"
    Seq(idx, s"$idx.sigs", s"$idx.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    // two exact twins (1,2) and one unrelated doc
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    Dedup.buildDedupIndexOf(Seq(
      (1L, t1), (2L, t1),
      (3L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text"), idx)
    val p1 = Dedup.selfPairsInIndex(spark, idx).collect()
    assert(p1.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
    assert(p1.head.getDouble(2) == 1.0) // identical sketches
    // a takedown leaves the audit IMMEDIATELY (tombstone, pre-compact)
    Dedup.deleteFromDedupIndex(spark, Seq(2L).toDF("doc_id"), idx)
    assert(Dedup.selfPairsInIndex(spark, idx).isEmpty)
    // ...and blocks the export until compaction applies it
    val e = intercept[Exception](Dedup.exportDedupIndex(spark, idx))
    assert(e.getMessage.contains("compactDedupIndex"))
    Dedup.compactDedupIndex(spark, idx)
    val (bands, sigs) = Dedup.exportDedupIndex(spark, idx)
    assert(bands.nonEmpty && sigs.nonEmpty)
    // the exported bytes alone reproduce the audit: raw parquet
    // reads, no index machinery
    val exBands = spark.read.parquet(bands: _*)
    val exSigs = spark.read.parquet(sigs: _*)
    assert(exSigs.select("doc_id").distinct().count() == 2) // 2 gone
    val cand = exBands.as("x").join(exBands.as("y"),
        $"x.band_hash" === $"y.band_hash" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", $"y.doc_id").distinct().count()
    assert(cand == 0) // the surviving pair partner was taken down
    spark.catalog.clearCache()
  }

  test("dedupAgainstIndex on an index without a tombstone table runs " +
      "no tombstone job") {
    import spark.implicits._
    val idx = "target/tmp/dedup-no-tombs-jobs"
    clean2(idx, s"$idx.sigs")
    val all = graft.sources.Tables.load(spark, sf, "documents")
    Dedup.buildDedupIndexOf(all.filter($"doc_id" < 300), idx)
    val batch = all.filter($"doc_id" >= 300 && $"doc_id" < 450)
    Dedup.dedupAgainstIndex(spark, batch, idx).collect() // warm
    val (jobs, found) = jobsOf(
      Dedup.dedupAgainstIndex(spark, batch, idx).collect())
    assert(found.nonEmpty, "fixture must plant cross-boundary dups")
    info(s"dedupAgainstIndex jobs: $jobs")
    // 13 when the probe anti-joined a broadcast empty frame
    assert(jobs <= 12, s"dedupAgainstIndex ran $jobs jobs")
  }
}
