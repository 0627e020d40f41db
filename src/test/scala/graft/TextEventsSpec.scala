package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.operators.{Events, TextAnalysis}

class TextEventsSpec extends SparkSpec {

  test("text stats cover every document exactly once") {
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(TextAnalysis.textStats(spark, sf).count() == n)
  }

  test("fingerprint is whitespace/case-insensitive") {
    import spark.implicits._
    val df = Seq("Hello  World", "hello world", "HELLO\tWORLD ").toDF("text")
    val fps = df.select(TextAnalysis.fingerprintCol(col("text")))
      .collect().map(_.getString(0)).distinct
    assert(fps.length == 1)
  }

  test("langId predicts a language for every doc, from the fixed set") {
    val preds = TextAnalysis.langId(spark, sf)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "de", "fr", "es")))
  }

  test("dedupExact keep_ids are distinct doc ids") {
    val df = TextAnalysis.dedupExact(spark, sf)
    assert(df.select("keep_id").distinct().count() == df.count())
  }

  test("stratified sample caps each language stratum and is deterministic") {
    val rows = graft.operators.TextAnalysis.stratifiedSample(spark, sf, 25)
      .collect()
    val perLang = rows.groupBy(_.getString(1))
    perLang.values.foreach(g => assert(g.length <= 25))
    perLang.values.foreach { g => // ranks are 1..n in fp order
      assert(g.map(_.getLong(3)).sorted.toSeq == (1L to g.length).toSeq)
    }
    val again = graft.operators.TextAnalysis.stratifiedSample(spark, sf, 25)
      .collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("sequence packing: bins monotone, no bin starts past the budget") {
    val budget = 1000L
    val rows = graft.operators.TextAnalysis.sequencePacking(spark, sf, budget)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted) // monotone
    rows.foreach { case (_, n, cum, bin) =>
      assert(bin == (cum - n) / budget) // exclusive-prefix assignment
    }
    val total = rows.map(_._2).sum
    assert(rows.last._3 == total) // cumulative sum reaches the corpus total
  }

  test("two-pass packing equals the global-window contract, plan has no " +
      "unpartitioned window") {
    val budget = 1000L
    val scaled = TextAnalysis.sequencePacking(spark, sf, budget, buckets = 7)
    val global = TextAnalysis.sequencePackingGlobalWindow(spark, sf, budget)
    assert(scaled.collect().map(_.toString).toSeq ==
      global.collect().map(_.toString).toSeq)
    // The scale property itself: no window in the two-pass plan orders
    // the whole corpus through one task.
    val unpartitioned = scaled.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty)
  }

  test("shuffle-shard: dense global rank, even shards, seed-deterministic, " +
      "no unpartitioned window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = docs.count()
    val out = TextAnalysis.shuffleShardOf(docs)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    // pos is a dense permutation 1..n; shard is round-robin on it
    assert(rows.map(_._2).toSeq == (1L to n).toSeq)
    assert(rows.forall { case (_, pos, sh) => sh == (pos - 1) % 8 })
    // deterministic in the seed; a different seed is a different order
    val again = TextAnalysis.shuffleShardOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
    val other = TextAnalysis.shuffleShardOf(docs, seed = "epoch2")
      .collect().map(r => r.getLong(0)).toSeq
    assert(other != rows.map(_._1).toSeq)
    assert(other.sorted == rows.map(_._1).toSeq.sorted) // same corpus
    // the scale property: the rank never orders the corpus in one task
    val unpartitioned = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty)
  }

  test("source cap keeps at most N per source, deterministically") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.sourceCapOf(docs, perSource = 7).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = out.groupBy(_._2)
    assert(bySource.values.forall(_.length <= 7))
    assert(bySource.values.forall(g =>
      g.map(_._3).sorted.toSeq == (1L to g.length).toSeq))
    // every source with >= 7 docs is capped exactly, none dropped
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (src, c) =>
      assert(bySource.get(src).map(_.length.toLong)
        .contains(math.min(c, 7L)))
    }
    val again = TextAnalysis.sourceCapOf(docs, perSource = 7).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("mixture sample: deterministic, rate-monotone supersets, " +
      "rates respected per source") {
    import spark.implicits._
    val docs = (1L to 2000L).map(i => (i, s"src${i % 4}"))
      .toDF("doc_id", "source")
    def keep(rates: Map[String, Double]) =
      TextAnalysis.mixtureSampleOf(docs, rates, defaultRate = 0.0)
        .collect().map(_.getLong(0)).toSet
    val half = keep(Map("src0" -> 0.5))
    // deterministic: same seed, same set
    assert(half == keep(Map("src0" -> 0.5)))
    // a larger rate keeps a SUPERSET (same u per doc) — mixture
    // ratios tune monotonically without churning the kept set
    val most = keep(Map("src0" -> 0.9))
    assert(half.subsetOf(most))
    assert(keep(Map("src0" -> 1.0)).size == 500) // rate 1 keeps all
    assert(keep(Map.empty).isEmpty) // default 0 keeps none
    // empirical rate lands near the target (500 Bernoulli(0.5) draws)
    assert(half.size > 175 && half.size < 325, s"got ${half.size}")
    // only the rated source survives a zero default
    assert(TextAnalysis.mixtureSampleOf(docs, Map("src1" -> 0.7), 0.0)
      .select("source").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("src1"))
  }

  test("importance sample keeps exactly the u < keep_p rows") {
    // recompute the decision by hand for every doc: the operator's
    // kept set must equal the brute-force one
    val out = TextAnalysis.importanceSample(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val all = TextAnalysis.qualityScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3))) // (doc_id, stop_ratio)
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$id".getBytes("UTF-8"))
      val hex = md.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0d
    }
    all.foreach { case (id, ratio) =>
      val p = math.min(1.0, math.max(0.05, ratio * 5.0))
      assert(out.contains(id) == (u(id) < p),
        s"doc $id: u=${u(id)} p=$p kept=${out.contains(id)}")
      if (out.contains(id)) assert(math.abs(out(id) - p) < 1e-12)
    }
  }

  test("boilerplate: repeated lines detected, stripped verbatim, " +
      "unique lines untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Accept cookies\nReal content one\nCopyright 2024"),
      (2L, "Accept cookies \nReal content two\nCopyright 2024"),
      (3L, "  Accept cookies\nSomething else\nCopyright 2024"),
      (4L, "Entirely unique\nNothing shared here")
    ).toDF("doc_id", "text")
    val bp = TextAnalysis.boilerplateLinesOf(docs, minDocs = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // trimmed-form matching folds the padded variants together
    assert(bp == Map("Accept cookies" -> 3L, "Copyright 2024" -> 3L))
    val cleaned = TextAnalysis.stripBoilerplateOf(docs, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(cleaned(1L) == "Real content one")
    assert(cleaned(2L) == "Real content two")
    assert(cleaned(3L) == "Something else")
    // a document with no boilerplate survives byte-identical
    assert(cleaned(4L) == "Entirely unique\nNothing shared here")
  }

  test("bm25 matches the hand-computed textbook formula and ranks " +
      "rarer terms higher") {
    import spark.implicits._
    // 4 docs, 4 tokens each (dl = avgdl = 4, length norm cancels):
    // "rare" appears in one doc, "common" in three.
    val docs = Seq(
      (1L, "rare common x y"),
      (2L, "common common x y"),
      (3L, "common x y z"),
      (4L, "x y z w")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25SearchOf(docs,
      terms = Seq("rare", "common"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // doc 4 matches nothing
    def idf(df: Double) = math.log(1 + (4 - df + 0.5) / (df + 0.5))
    def w(idfV: Double, tf: Double) = // dl/avgdl = 1
      idfV * tf * 2.2 / (tf + 1.2)
    val expected = Map(
      1L -> (w(idf(1), 1) + w(idf(3), 1)),
      2L -> w(idf(3), 2),
      3L -> w(idf(3), 1))
    expected.foreach { case (id, e) =>
      assert(math.abs(out(id) - e) < 1e-12, s"doc $id: ${out(id)} vs $e")
    }
    // the single rare-term doc outranks saturated common-term repeats
    assert(out(1L) > out(2L) && out(2L) > out(3L))
    // k truncates by score: k=1 keeps only the best doc
    val top1 = TextAnalysis.bm25SearchOf(docs,
      terms = Seq("rare", "common"), k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(1L))
  }

  test("persisted inverted index: probe equals the scan path, prunes " +
      "buckets, append merges stats algebraically") {
    import spark.implicits._
    import graft.sources.Versioned
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha alpha beta epsilon zeta"),
      (3L, "gamma delta epsilon"),
      (4L, "zeta eta theta iota kappa"),
      (5L, "beta beta beta kappa"),
      (6L, "eta theta alpha")
    ).toDF("doc_id", "text")
    val dir = "target/tmp/text-index"
    Seq(dir, s"$dir.stats").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    TextAnalysis.buildTextIndexOf(docs, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    def assertSame(a: Seq[(Long, Double, Long)],
        b: Seq[(Long, Double, Long)]): Unit = {
      assert(a.map(x => (x._1, x._3)) == b.map(x => (x._1, x._3)))
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x._2 - y._2) < 1e-12, s"$x vs $y") }
    }
    val q = Seq("alpha", "kappa")
    assertSame(
      rows(TextAnalysis.bm25SearchIndexed(spark, dir, q, 10)),
      rows(TextAnalysis.bm25SearchOf(docs, q, 10)))
    // the probe reads only the query terms' bucket directories
    val probe = TextAnalysis.bm25SearchIndexed(spark, dir,
      Seq("alpha"), 10)
    probe.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case o => o.children
      }
      p +: inner.flatMap(nodes)
    }
    val scanned = nodes(probe.queryExecution.executedPlan)
      .filter(n => n.nodeName.toLowerCase.contains("scan") &&
        n.toString.contains("text-index") &&
        !n.toString.contains(".stats"))
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val all = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dir), Array("parquet"), true).size
    info(s"scanned $scanned of $all postings files")
    assert(scanned > 0 && scanned < all)
    // append: postings land O(delta), stats merge algebraically —
    // the probe over the appended index must equal a scan of the
    // full corpus (n_docs and avgdl both moved)
    val more = Seq(
      (7L, "alpha mu nu"),
      (8L, "kappa kappa mu xi omicron pi rho")
    ).toDF("doc_id", "text")
    TextAnalysis.appendToTextIndex(spark, more, dir)
    assertSame(
      rows(TextAnalysis.bm25SearchIndexed(spark, dir, q, 10)),
      rows(TextAnalysis.bm25SearchOf(docs.unionAll(more), q, 10)))
    val st = Versioned.read(spark, s"$dir.stats").head()
    assert(st.getLong(0) == 8L) // merged n_docs, never rescanned
    // binpack the drip-fed bucket files: results identical, stats pin
    // carried forward, bucket layout (and so pruning) preserved
    TextAnalysis.compactTextIndex(spark, dir)
    assertSame(
      rows(TextAnalysis.bm25SearchIndexed(spark, dir, q, 10)),
      rows(TextAnalysis.bm25SearchOf(docs.unionAll(more), q, 10)))
    assert(Versioned.read(spark, s"$dir.stats").head().getLong(0) == 8L)
  }

  test("exportTextIndex: raw postings+stats bytes alone carry the " +
      "search; unpinned and torn indexes refuse") {
    import spark.implicits._
    import graft.sources.Versioned
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha alpha beta epsilon zeta"),
      (3L, "gamma delta epsilon"),
      (4L, "zeta eta theta iota kappa"),
      (5L, "beta beta beta kappa")
    ).toDF("doc_id", "text")
    val dir = "target/tmp/text-index-export"
    Seq(dir, s"$dir.stats").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    TextAnalysis.buildTextIndexOf(docs, dir)
    TextAnalysis.appendToTextIndex(spark,
      Seq((6L, "eta theta alpha")).toDF("doc_id", "text"), dir)
    val (postings, stats) = TextAnalysis.exportTextIndex(spark, dir)
    // export spans BOTH the build and the append commits, every file
    // under a bucket= dir; stats resolve to the PINNED merged row
    assert(postings.nonEmpty && postings.forall(_.contains("bucket=")))
    assert(postings.exists(_.contains("/v=1/")) &&
      postings.exists(_.contains("/v=2/")))
    assert(stats.nonEmpty)
    val n = spark.read.parquet(stats: _*).head().getLong(0)
    assert(n == 6L)
    // the in-JVM mirror of the q50 oracle: recompute BM25 from the
    // exported bytes only (no corpus, no engine read path) and match
    // the in-engine probe exactly
    val q = Seq("alpha", "kappa")
    val raw = spark.read.parquet(postings: _*)
      .filter(col("term").isin(q: _*))
    val st = spark.read.parquet(stats: _*)
      .select(col("n_docs").cast("double").as("n_docs"),
        (col("sum_dl") / col("n_docs")).as("avgdl"))
    val dfT = raw.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val recomputed = raw.join(broadcast(dfT), "term")
      .crossJoin(broadcast(st))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w", col("idf") * col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val probe = TextAnalysis.bm25SearchIndexed(spark, dir, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(recomputed.map(x => (x._1, x._3)).toSeq ==
      probe.map(x => (x._1, x._3)).toSeq)
    recomputed.zip(probe).foreach { case (x, y) =>
      assert(math.abs(x._2 - y._2) < 1e-12, s"$x vs $y") }
    // refusal 1: postings-shaped bytes with no stats pin
    val bogus = "target/tmp/text-index-unpinned"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bogus))
    Versioned.commit(
      docs.limit(1).select(col("doc_id"), lit(1.0d).as("dl"),
        lit("x").as("term"), lit(1.0d).as("tf"), lit(0).as("bucket")),
      bogus, partitionCol = Some("bucket"))
    val e1 = intercept[IllegalStateException](
      TextAnalysis.exportTextIndex(spark, bogus))
    assert(e1.getMessage.contains("no stats=v pin"))
    // refusal 2: a pin naming a stats version that doesn't exist
    val torn = "target/tmp/text-index-torn"
    Seq(torn, s"$torn.stats").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    TextAnalysis.buildTextIndexOf(docs, torn)
    Versioned.append(
      docs.limit(1).select(col("doc_id"), lit(1.0d).as("dl"),
        lit("x").as("term"), lit(1.0d).as("tf"), lit(0).as("bucket")),
      torn, partitionCol = Some("bucket"), note = Some("stats=v99"))
    val e2 = intercept[IllegalStateException](
      TextAnalysis.exportTextIndex(spark, torn))
    assert(e2.getMessage.contains("torn maintenance"))
  }

  test("exact-substring dedup: cross-doc and within-doc spans marked " +
      "in every copy, overlaps merge, short docs exempt") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c X Y Z d e f"),      // shares "X Y Z" with doc 2
      (2L, "p q X Y Z r s"),
      (3L, "u v w x y"),              // unique — untouched
      (4L, "m n"),                    // shorter than the window
      (5L, "k l m k l m"),            // WITHIN-doc repeat: fully dup
      (6L, "f1 t u2 v2 w2 f2"),       // overlapping dup windows with 7:
      (7L, "t u2 v2 w2 g1")           // 4-token shared span, w=3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.exactSubstrDedupOf(docs, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 9L, 3L, "a b c d e f"),
      (2L, 7L, 3L, "p q r s"),
      // all six tokens of doc 5 sit under a repeated window — removed
      // entirely, the empty-document case the pipeline must tolerate
      (5L, 6L, 6L, ""),
      // two OVERLAPPING duplicated windows merge to a 4-token span,
      // counted once per position, not once per window
      (6L, 6L, 4L, "f1 f2"),
      (7L, 5L, 4L, "g1")))
    // the tokenize-once barrier is load-bearing (the t26 lesson):
    // without it CollapseProject inlines the regex split into every
    // per-window slice — the persisted tokens must appear in the plan
    val plan = TextAnalysis.exactSubstrDedupOf(docs, w = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      "tokenized frame must be consumed through the cache barrier")
  }

  test("nb quality filter: trained separation, unseen-token floor, " +
      "bit-determinism, one-class refusal") {
    import spark.implicits._
    // train slice = doc_id % 5 == 0: two positives (alpha/beta
    // vocabulary) and two negatives (zork/wubble vocabulary)
    val docs = Seq(
      (0L, "alpha beta gamma", "good"),
      (5L, "alpha beta delta", "good"),
      (10L, "zork yark wubble", "bad"),
      (15L, "zork wubble grue", "bad"),
      (1L, "alpha alpha beta", "good"),   // held out, positive-shaped
      (2L, "zork zork yark", "bad"),      // held out, negative-shaped
      (3L, "alpha novel", "good")         // 'novel' unseen in training
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.nbQualityFilterOf(docs,
        positive = Seq("good"), trainMod = 5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(out.size == 7)
    // held-out docs land on the right side of the boundary
    assert(out(1L)._2 == 1L && out(1L)._1 > 0)
    assert(out(2L)._2 == 0L && out(2L)._1 < 0)
    // the unseen token contributes the SYMMETRIC smoothing floor
    // (equal train masses here), so doc 3 = exactly doc of one alpha:
    // ln((2+1)/(6+8)) - ln((0+1)/(6+8)) = ln 3, prior ln(2/2) = 0
    assert(math.abs(out(3L)._1 - math.log(3.0)) < 1e-12)
    assert(out(3L)._2 == 1L)
    // bit-determinism: the closed-form fit has no sampling state
    val again = TextAnalysis.nbQualityFilterOf(docs,
        positive = Seq("good"), trainMod = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.foreach { case (id, (lo, _)) => assert(again(id) == lo) }
    // a one-class training slice has no boundary — refuse loudly
    val oneClass = docs.withColumn("source",
      org.apache.spark.sql.functions.lit("good"))
    val e = intercept[IllegalArgumentException](
      TextAnalysis.nbQualityFilterOf(oneClass, positive = Seq("good"),
        trainMod = 5))
    assert(e.getMessage.contains("both classes"))
    // an EMPTY training slice (no doc_id hits the modulus) must take
    // the same loud refusal, not NPE on the null sum
    val noTrain = docs.filter(col("doc_id").isin(1L, 2L, 3L))
    val e3 = intercept[IllegalArgumentException](
      TextAnalysis.nbQualityFilterOf(noTrain, positive = Seq("good"),
        trainMod = 5))
    assert(e3.getMessage.contains("both classes"))
  }

  test("persisted decontamination index reproduces the batch sweep; " +
      "new-release appends, re-append refuses") {
    import spark.implicits._
    import graft.sources.Versioned
    val idx = "target/tmp/decontam-index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    val gate = graft.gates.IndexGates.decontamIndexGate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = TextAnalysis.decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gate == batch,
      "the stored index must reproduce the cached batch sweep exactly")
    assert(gate.nonEmpty)
    // lifecycle: build over one release, append the next, both hit
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa mu nu")).toDF("bench_id", "text")
    TextAnalysis.buildDecontamIndexOf(docs.filter($"bench_id" === 1L),
      idx)
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta extra"),
      (20L, "eta theta iota kappa mu nu tail"),
      (30L, "totally unrelated words here only")).toDF("doc_id", "text")
    val one = TextAnalysis.decontaminateAgainstIndex(spark, corpus, idx,
      minCommon = 3).collect().map(_.getLong(0)).toSeq
    assert(one == Seq(10L))
    TextAnalysis.appendToDecontamIndex(spark,
      docs.filter($"bench_id" === 2L), idx)
    val both = TextAnalysis.decontaminateAgainstIndex(spark, corpus, idx,
      minCommon = 3).collect().map(_.getLong(0)).toSeq
    assert(both == Seq(10L, 20L))
    assert(Versioned.versions(spark, idx).size == 2) // O(delta) append
    val e = intercept[IllegalArgumentException](
      TextAnalysis.appendToDecontamIndex(spark, docs, idx))
    assert(e.getMessage.contains("already indexed"))
  }

  test("index upserts: re-indexed postings replace atomically, " +
      "scalars stay exact (no staleness window), tombstones " +
      "supersede, new docs insert") {
    import spark.implicits._
    import graft.sources.Versioned
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha alpha beta epsilon zeta"),
      (3L, "gamma delta epsilon"),
      (4L, "zeta eta theta iota kappa"),
      (5L, "beta beta beta kappa"),
      (6L, "eta theta alpha")
    ).toDF("doc_id", "text")
    val dir = "target/tmp/text-index-upserts"
    Seq(dir, s"$dir.stats", s"$dir.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    TextAnalysis.buildTextIndexOf(docs, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    def assertSame(a: Seq[(Long, Double, Long)],
        b: Seq[(Long, Double, Long)]): Unit = {
      assert(a.map(x => (x._1, x._3)) == b.map(x => (x._1, x._3)))
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x._2 - y._2) < 1e-9, s"$x vs $y") }
    }
    // LIVE re-index: doc 2's text changes entirely
    val doc2v2 = Seq((2L, "kappa kappa sigma")).toDF("doc_id", "text")
    TextAnalysis.upsertIntoTextIndex(spark, doc2v2, dir)
    val corpus2 = docs.filter($"doc_id" =!= 2L).unionAll(doc2v2)
    // EXACT immediately — scores match a from-scratch scan of the
    // updated corpus (df, n_docs, avgdl all moved with the edit)
    for (q <- Seq(Seq("alpha", "kappa"), Seq("zeta"), Seq("sigma")))
      assertSame(
        rows(TextAnalysis.bm25SearchIndexed(spark, dir, q, 10)),
        rows(TextAnalysis.bm25SearchOf(corpus2, q, 10)))
    // the OLD postings are physically gone: doc 2 no longer matches
    // its old vocabulary, and exactly one dl stands for it
    assert(TextAnalysis.bm25SearchIndexed(spark, dir, Seq("epsilon"), 10)
      .filter($"doc_id" === 2L).isEmpty)
    val d2 = Versioned.read(spark, dir).filter($"doc_id" === 2L)
    assert(d2.select("dl").distinct().head().getDouble(0) == 3.0)
    assert(Versioned.read(spark, s"$dir.stats").head().getLong(0) == 6L)
    // TOMBSTONED re-index: the delete -> full-rewrite compact ->
    // append detour collapses to one upsert that supersedes
    TextAnalysis.deleteFromTextIndex(spark, Seq(4L).toDF("doc_id"), dir)
    assert(TextAnalysis.bm25SearchIndexed(spark, dir, Seq("iota"), 10)
      .isEmpty)
    val doc4v2 = Seq((4L, "omega omega psi")).toDF("doc_id", "text")
    TextAnalysis.upsertIntoTextIndex(spark, doc4v2, dir)
    assert(Versioned.read(spark, s"$dir.tombs").count() == 0,
      "the upsert supersedes the live tombstone")
    val corpus3 = corpus2.filter($"doc_id" =!= 4L).unionAll(doc4v2)
    for (q <- Seq(Seq("omega"), Seq("iota"), Seq("alpha", "kappa")))
      assertSame(
        rows(TextAnalysis.bm25SearchIndexed(spark, dir, q, 10)),
        rows(TextAnalysis.bm25SearchOf(corpus3, q, 10)))
    // a BRAND-NEW doc inserts through the same call (no prior rows)
    val doc9 = Seq((9L, "alpha sigma tau")).toDF("doc_id", "text")
    TextAnalysis.upsertIntoTextIndex(spark, doc9, dir)
    val corpus4 = corpus3.unionAll(doc9)
    assert(Versioned.read(spark, s"$dir.stats").head().getLong(0) == 7L)
    assertSame(
      rows(TextAnalysis.bm25SearchIndexed(spark, dir,
        Seq("alpha", "sigma"), 10)),
      rows(TextAnalysis.bm25SearchOf(corpus4,
        Seq("alpha", "sigma"), 10)))
    // refusals: duplicate and null ids would merge two documents; a
    // null text would leave old postings standing while the scalars
    // shift (deleteFromTextIndex is the removal path)
    val dup = intercept[IllegalArgumentException](
      TextAnalysis.upsertIntoTextIndex(spark,
        Seq((7L, "a"), (7L, "b")).toDF("doc_id", "text"), dir))
    assert(dup.getMessage.contains("one row per non-null doc_id"))
    val nul = intercept[IllegalArgumentException](
      TextAnalysis.upsertIntoTextIndex(spark,
        Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        dir))
    assert(nul.getMessage.contains("null 'text'"))
  }

  test("index deletes: immediate membership, Lucene stats window, " +
      "compact restores exactness, export refusals") {
    import spark.implicits._
    import graft.sources.Versioned
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha alpha"),
      (3L, "alpha delta epsilon zeta"), (4L, "alpha beta"),
      (5L, "kappa mu"), (6L, "alpha nu xi")
    ).toDF("doc_id", "text")
    val dir = "target/tmp/text-index-deletes"
    Seq(dir, s"$dir.stats", s"$dir.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    TextAnalysis.buildTextIndexOf(docs, dir)
    TextAnalysis.deleteFromTextIndex(spark,
      Seq(2L, 4L).toDF("doc_id"), dir)
    val q = Seq("alpha")
    def probe() = TextAnalysis.bm25SearchIndexed(spark, dir, q, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // membership excludes the tombstoned docs IMMEDIATELY
    val pre = probe()
    assert(pre.keySet == Set(1L, 3L, 6L))
    // live tombstones refuse a raw-file export
    val e = intercept[IllegalStateException](
      TextAnalysis.exportTextIndex(spark, dir))
    assert(e.getMessage.contains("tombstones"))
    // compact applies the set: scores now EQUAL a from-scratch scan
    // of the reduced corpus (scalars recomputed)
    TextAnalysis.compactTextIndex(spark, dir)
    val post = probe()
    val scan = TextAnalysis.bm25SearchOf(
      docs.filter(!col("doc_id").isin(2L, 4L)), q, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(post.keySet == scan.keySet)
    post.foreach { case (id, sc) =>
      assert(math.abs(sc - scan(id)) < 1e-12, s"doc $id: $sc vs scan") }
    // the PRE-compact phase used the AS-BUILT scalars (n_docs=6,
    // as-built avgdl) — the Lucene staleness window — so its scores
    // must DIFFER from the reduced-corpus truth the compact restored
    assert(pre.exists { case (id, sc) =>
      math.abs(sc - post(id)) > 1e-9 })
    // tombstones were reset; export succeeds and hands over the
    // EXACT reduced stats
    val (_, stats) = TextAnalysis.exportTextIndex(spark, dir)
    assert(spark.read.parquet(stats: _*).head().getLong(0) == 4L)
    // deleting an id the index never held is a harmless tombstone
    TextAnalysis.deleteFromTextIndex(spark,
      Seq(999L).toDF("doc_id"), dir)
    assert(probe() == post)
    assert(Versioned.read(spark, s"$dir.tombs").count() == 1)
    // re-appending a LIVE-tombstoned id refuses: its postings would
    // be anti-joined away at every probe (and dropping the tombstone
    // would resurrect the old postings) — compact first
    val e2 = intercept[IllegalArgumentException](
      TextAnalysis.appendToTextIndex(spark,
        Seq((999L, "alpha reborn")).toDF("doc_id", "text"), dir))
    assert(e2.getMessage.contains("live-tombstoned"))
    TextAnalysis.compactTextIndex(spark, dir)
    TextAnalysis.appendToTextIndex(spark,
      Seq((999L, "alpha reborn")).toDF("doc_id", "text"), dir)
    assert(probe().contains(999L))
  }

  test("split assignment: disjoint-exhaustive, proportional, stable " +
      "under corpus growth, seed-sensitive") {
    import spark.implicits._
    val docs = (1L to 2000L).map(i => (i, s"doc $i")).toDF(
      "doc_id", "text")
    val out = TextAnalysis.splitAssignOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // exhaustive (every doc assigned exactly once by construction)
    assert(out.size == 2000)
    val counts = out.values.groupBy(identity).view.mapValues(_.size)
    // proportions near 90/5/5 (binomial tolerance at n=2000)
    assert(math.abs(counts("train") / 2000.0 - 0.9) < 0.03, counts)
    assert(math.abs(counts("val") / 2000.0 - 0.05) < 0.02, counts)
    assert(math.abs(counts("test") / 2000.0 - 0.05) < 0.02, counts)
    // growth stability: assignment is per-row — a bigger corpus keeps
    // every existing assignment (eval sets never churn)
    val grown = TextAnalysis.splitAssignOf(
      (1L to 3000L).map(i => (i, s"doc $i")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.forall { case (id, sp) => grown(id) == sp })
    // a different seed reshuffles; weights must validate
    val reseeded = TextAnalysis.splitAssignOf(docs, seed = "other")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.exists { case (id, sp) => reseeded(id) != sp })
    intercept[IllegalArgumentException] {
      TextAnalysis.splitAssignOf(docs, weights = Seq("a" -> 0.5)) }
  }

  test("percentile norm equals the single-window percent_rank, ties " +
      "shared, no unpartitioned window") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.percentileNormOf(docs)
    // the definition the scale path must reproduce exactly
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
    val stopHits = regexp_count(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is|it)\\b")).cast("long")
    val direct = docs.select(col("doc_id"),
        (stopHits.cast("double") / TextAnalysis.nTokens(col("text")))
          .as("score"))
      .withColumn("pct_rank", percent_rank().over(w))
      .orderBy(col("doc_id"))
    assert(out.collect().map(_.toString).toSeq ==
      direct.collect().map(_.toString).toSeq)
    // the scale property: no window orders the corpus in one task
    val unpartitioned = out.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.partitionSpec.isEmpty => wn
    }
    assert(unpartitioned.isEmpty)
    // tie sharing: duplicate scores get identical percentiles
    val tied = Seq((1L, "x y"), (2L, "x y"), (3L, "the the the a of"))
      .toDF("doc_id", "text")
    val tr = TextAnalysis.percentileNormOf(tied).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(tr(1L) == tr(2L) && tr(3L) > tr(1L))
    assert(tr(1L) == 0.0 && tr(3L) == 1.0)
  }

  test("percentile norm scores the corpus in ONE source pass (the " +
      "barrier defeats the fold-inlining recompute)") {
    // Without the persist barrier CollapseProject inlines the regex
    // score into the ~255-step bucketing fold and the source is
    // re-scanned (and the regex re-run, boundary-times per row) by
    // all three actions — measured ~10x. The parquet scan lives
    // INSIDE the InMemoryRelation's cached plan (invisible to
    // executed-plan node traversal), so the one-pass evidence is task
    // input metrics: total records read from storage across the whole
    // gate must be n (one populate pass), not 3n.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") >= -1) // unique plan => fresh cache entry
    val nDocs = docs.count()
    val read = new java.util.concurrent.atomic.AtomicLong
    val lis = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(lis)
    try {
      val out = TextAnalysis.percentileNormOf(docs).collect()
      assert(out.length == nDocs)
      // task-end delivery is async; poll until the count stabilizes
      var last = -1L; var spins = 0
      while (read.get != last && spins < 100) {
        last = read.get; Thread.sleep(50); spins += 1
      }
      // one populate pass = n, plus a handful of local-frame rows
      // (bucket offsets); a recompute would be >= 2n
      assert(read.get >= nDocs && read.get < nDocs + nDocs / 10,
        s"records read ${read.get}, corpus $nDocs — re-scanned?")
    } finally spark.sparkContext.removeSparkListener(lis)
  }

  test("skew-safe source cap is row-identical to the direct window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val direct = TextAnalysis.sourceCapOf(docs, perSource = 7).collect()
      .map(_.toString).toSeq
    val safe = TextAnalysis.sourceCapSkewSafeOf(docs, perSource = 7)
      .collect().map(_.toString).toSeq
    assert(direct == safe)
    // and with a salt count that doesn't divide the domain sizes
    val safe5 = TextAnalysis.sourceCapSkewSafeOf(docs, perSource = 7,
      salts = 5).collect().map(_.toString).toSeq
    assert(direct == safe5)
  }

  test("skew-safe source cap bounds the exact window under a mega-domain") {
    import spark.implicits._
    val cap = 3
    val salts = 4
    // one mega-domain of 10k rows + two small ones
    val mega = (1L to 10000L).map(i => (i, "mega.example"))
    val small = (10001L to 10004L).map(i => (i, "a.example")) ++
      (10005L to 10007L).map(i => (i, "b.example"))
    val docs = (mega ++ small).toDF("doc_id", "source")
    // stage-1 survivors per over-cap source are bounded by salts x cap
    // REGARDLESS of domain size — this is the skew guarantee: the
    // exact window's input for the mega-domain is 12 rows, not 10k
    val survivors = TextAnalysis.cappedCandidates(
      docs.filter(col("source") === "mega.example"), cap, "graft", salts)
    assert(survivors.count() <= salts.toLong * cap)
    // and the result still equals the direct formulation
    val direct = TextAnalysis.sourceCapOf(docs, perSource = cap)
      .collect().map(_.toString).toSeq
    val safe = TextAnalysis.sourceCapSkewSafeOf(docs, perSource = cap,
      salts = salts).collect().map(_.toString).toSeq
    assert(direct == safe)
    // over-cap small domain capped; under-cap domain complete
    assert(safe.count(_.contains(",a.example,")) == 3)
    assert(safe.count(_.contains(",b.example,")) == 3)
    assert(safe.count(_.contains(",mega.example,")) == 3)
  }

  test("stratified pre-filter keeps a per-stratum superset of the quota") {
    val perStratum = 25
    val base = TextAnalysis.stratifiedBase(spark, sf).cache()
    val sup = TextAnalysis.stratifiedSuperset(base, perStratum).collect()
    val baseCounts = base.collect().groupBy(_.getString(1))
      .view.mapValues(_.length).toMap
    val supCounts = sup.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    baseCounts.foreach { case (lang, n) =>
      // covers the quota (or the whole stratum when it is smaller) ...
      assert(supCounts.getOrElse(lang, 0) >= math.min(perStratum, n))
    }
    // ... and actually prunes when a stratum exceeds the quota: the
    // 256-bucket histogram cut keeps out at least the top buckets.
    baseCounts.filter(_._2 >= perStratum * 3).foreach { case (lang, n) =>
      assert(supCounts(lang) < n)
    }
    base.unpersist()
  }

  test("decontamination flags shingle overlap with the benchmark slice") {
    import graft.operators.{Dedup, TextAnalysis}
    val q = TextAnalysis.decontaminate(spark, sf)
    val out = q.collect()
    assert(out.nonEmpty)
    // flagged docs are never benchmark members, hits/commons positive
    out.foreach { r =>
      assert(r.getLong(0) % 50 != 0)
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 5)
    }
    // cross-check one flagged doc against a direct shingle count
    val flagged = out.head.getLong(0)
    val sh = Dedup.shingleRows(spark, sf)
    val direct = sh.filter(col("doc_id") === flagged)
      .join(sh.filter(col("doc_id") % 50 === 0)
        .withColumnRenamed("doc_id", "bench_id"), "shingle")
      .groupBy(col("bench_id")).count()
      .filter(col("count") >= 5).count()
    assert(direct == out.head.getLong(1))
    // scale shape, read from the EXECUTED adaptive plan: the shingle
    // index is built once (both join sides read the cache — no live
    // documents scan), and AQE broadcasts the eval-set-sized bench
    // side from measured stats, no forced hint
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: inner.flatMap(nodes)
    }
    val executed = nodes(q.queryExecution.executedPlan)
    assert(executed.count(_.nodeName.contains("InMemoryTableScan")) == 2)
    assert(!executed.exists(n => n.nodeName.contains("Scan parquet") &&
      n.toString.contains("documents")))
    assert(executed.exists(_.nodeName.contains("BroadcastHashJoin")))
  }

  test("decontamination against an external eval set") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // an eval doc copied verbatim from the corpus must flag its source
    val src = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") === 7).select("text").head().getString(0)
    val bench = Seq((900001L, src), (900002L, "unrelated tiny text"))
      .toDF("bench_id", "text")
    val out = TextAnalysis.decontaminate(spark, sf,
      benchDocs = Some(bench)).collect()
    val hit = out.find(_.getLong(0) == 7L)
    assert(hit.isDefined, "verbatim-copied doc not flagged")
    assert(hit.get.getLong(1) >= 1 && hit.get.getLong(2) >= 5)
  }

  test("decontamination releases its shingle-index cache once consumed") {
    import graft.operators.TextAnalysis
    def live() = spark.sparkContext.getPersistentRDDs.size
    val before = live()
    TextAnalysis.decontaminate(spark, sf).collect()
    // the one-shot listener unpersists the index after the consuming
    // action; delivery is async, so poll. Without it, every call in a
    // long-lived session accumulated another cached copy.
    val deadline = System.currentTimeMillis() + 10000
    while (live() > before && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(live() <= before,
      s"shingle-index cache not released (held ${live() - before})")
  }

  test("repeated decontaminate reads the FIRST call's cached index") {
    import graft.operators.TextAnalysis
    // regression lock (r8): CacheManager keys cached data by
    // canonicalized PLAN, so a put-then-unpersist of the previous
    // call's frame dropped the SHARED entry and left every repeat
    // call rebuilding the shingle index twice. The compute-based
    // reuse must (a) create no second cache entry and (b) leave the
    // repeat call's executed plan actually reading the in-memory
    // index on both join sides.
    TextAnalysis.decontaminate(spark, sf).collect()
    val n1 = spark.sparkContext.getPersistentRDDs.size
    val q2 = TextAnalysis.decontaminate(spark, sf)
    q2.collect()
    assert(spark.sparkContext.getPersistentRDDs.size == n1,
      "repeat decontaminate created a second cache entry")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: inner.flatMap(nodes)
    }
    val executed = nodes(q2.queryExecution.executedPlan)
    assert(executed.count(_.nodeName.contains("InMemoryTableScan")) == 2,
      "repeat call's plan does not read the cached index on both sides")
    assert(!executed.exists(n => n.nodeName.contains("Scan parquet") &&
      n.toString.contains("documents")),
      "repeat call re-scanned the documents table")
  }

  test("repetition signals are valid fractions over every eligible doc") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.repetitionSignals(spark, sf).collect()
    val eligible = graft.sources.Tables.load(spark, sf, "documents")
      .filter(size(split(trim(lower(col("text"))), "\\s+")) >= 3).count()
    assert(out.length == eligible && out.nonEmpty)
    out.foreach { r =>
      val (dup3, top2, top3, top4, dupl) = (r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(dup3 >= 0.0 && dup3 < 1.0)
      assert(top2 > 0.0 && top2 <= 1.0)
      assert(top3 > 0.0 && top3 <= 1.0)
      assert(top4 >= 0.0 && top4 <= 1.0)
      assert(dupl >= 0.0 && dupl < 1.0)
      assert(r.getLong(6) ==
        (if (dup3 > 0.05 || top2 > 0.05 || top3 > 0.18 ||
          top4 > 0.16 || dupl > 0.30) 1L else 0L))
    }
    // hand-check one doc against direct recomputation (all lengths)
    val doc = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") === out.head.getLong(0))
      .select(trim(lower(col("text")))).head().getString(0)
    val toks = doc.split("\\s+").toSeq
    def share(n: Int) = {
      val gs = toks.sliding(n).map(_.mkString(" ")).toSeq
      if (gs.isEmpty) 0.0
      else gs.groupBy(identity).values.map(_.size).max.toDouble / gs.size
    }
    val tri = toks.sliding(3).map(_.mkString(" ")).toSeq
    assert(math.abs(out.head.getDouble(1) -
      (1.0 - tri.distinct.size.toDouble / tri.size)) < 1e-9)
    assert(math.abs(out.head.getDouble(2) - share(2)) < 1e-9)
    assert(math.abs(out.head.getDouble(3) - share(3)) < 1e-9)
    assert(math.abs(out.head.getDouble(4) - share(4)) < 1e-9)
    // scale shape: the battery is pure per-row work — the ONLY
    // exchange is the final orderBy's range partitioning (the r18
    // shape paid a (doc, n, gram) exchange + two aggregation
    // exchanges + a join; all gone with the native per-row mode)
    val plan = TextAnalysis.repetitionSignals(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"),
      "per-row repetition battery should not aggregate")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin") &&
      !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "per-row repetition battery should not join")
  }

  test("gram top shares kernel: ties, missing lengths, nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions.call_function
    val out = Seq(
      (1L, "a b a b a"),     // 2g: "a b"x2 of 4; 3g: "a b a"x2 of 3
      (2L, "x"),             // no 2..4-grams at all
      (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"), call_function(
        graft.functions.GraftFunctions.GramTopSharesName,
        col("t"), lit(2), lit(4)).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Any](1))).toMap
    assert(out(1L) == Seq(0.5, 2.0 / 3, 0.5))
    assert(out(2L) == Seq(null, null, null))
    assert(out(3L) == null) // null text -> null result (UnaryExpression)
  }

  test("PII redaction: typed placeholders, clean text untouched, ordered patterns") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val rows = Seq(
      "write to jo.doe+spam@sub.example.co.uk today",
      "call +1 (415) 555-0132 or 415-555-0199 now",
      "server at 192.168.001.1 responded",
      // mixed: the phone pattern must stop before the IP's dots and
      // the email eats its own digits before phone counting
      "u2@a.io +44 20 7946 0958 via 10.0.0.1",
      "no pii here at all")
      .zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
      .select(col("id"), TextAnalysis.redactPii(col("t")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    assert(rows(0) == "write to <EMAIL> today")
    assert(rows(1) == "call <PHONE> or <PHONE> now")
    assert(rows(2) == "server at <IP> responded")
    assert(rows(3) == "<EMAIL> <PHONE> via <IP>")
    assert(rows(4) == "no pii here at all")
  }

  test("chunking: stride/window contract, short tails, full coverage") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // 10 tokens, window 4, stride 3 -> starts 0,3,6,9: three full
    // windows and a 1-token tail
    val doc = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(doc, window = 4, stride = 3)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    assert(chunks.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(chunks.map(_._2).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
    assert(chunks.map(_._3).toSeq == Seq(4L, 4L, 4L, 1L))
    // every token appears in at least one chunk (coverage), and
    // adjacent chunks overlap by window - stride tokens
    assert(chunks.flatMap(_._2.split(" ")).toSet ==
      (1 to 10).map(i => s"w$i").toSet)
    // stride == window -> disjoint exact partition
    val flat = TextAnalysis.chunkDocuments(doc, window = 5, stride = 5)
      .collect().map(_.getString(2))
    assert(flat.toSeq == Seq("w1 w2 w3 w4 w5", "w6 w7 w8 w9 w10"))
    // invalid params refuse
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(doc, window = 4, stride = 5)
    }
  }

  test("repetition signals on synthetic multi-line/degenerate docs") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      // 4 lines, 2 duplicated pairs -> dup_line_frac = 0.5; "a b c d"
      // repeated -> every n-gram length dominated
      (1L, "a b c d\na b c d\nx y z w\nx y z w"),
      // distinct everything, single line, long enough that the top
      // bigram share 1/21 sits under the 0.05 threshold
      (2L, (1 to 22).map(i => s"w$i").mkString(" ")),
      // 3 tokens: no 4-grams -> top4_frac must be 0, not null
      (3L, "p q r")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignalsFor(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(math.abs(out(1L).getDouble(5) - 0.5) < 1e-9)
    assert(out(1L).getLong(6) == 1L)
    // doc 1: 16 tokens, top 2-gram "a b" (or tie) appears 2x of 15
    assert(math.abs(out(1L).getDouble(2) - 2.0 / 15) < 1e-9)
    assert(out(2L).getDouble(5) == 0.0)
    assert(out(2L).getLong(6) == 0L)
    assert(out(3L).getDouble(4) == 0.0)
  }

  test("unigram LM score: positive surprisal, rare-token docs score higher") {
    import spark.implicits._
    val rows = TextAnalysis.lmScore(spark, sf).collect()
    assert(rows.length ==
      spark.read.parquet(s"$sf/documents.parquet").count())
    assert(rows.forall(_.getDouble(2) > 0.0)) // -ln(p) > 0 for p < 1
    // a synthetic corpus where one doc is all common tokens and one is
    // all singletons: the singleton doc must score strictly higher
    val docs = (Seq((1L, "the the the the the the the the"),
      (2L, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8")) ++
      (3L to 12L).map(i => (i, "the and of to in a is it")))
      .toDF("doc_id", "text")
    val scored = TextAnalysis.lmScoreOf(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(2L) > scored(1L),
      s"singleton-token doc must out-score the common-token doc: $scored")
  }

  test("funnel stages are monotone non-increasing and subset-consistent") {
    val rows = Events.funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._2).toSeq ==
      Seq("view", "view>click", "view>click>purchase"))
    val counts = rows.map(_._3)
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"funnel must narrow monotonically, got ${counts.toSeq}")
    assert(counts(0) > 0)
  }

  test("funnel generalizes to N ordered stages; out-of-order never counts") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-funnel")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1 completes all four stages in order; u2 signs up BEFORE viewing
    // (out of order at stage 4); u3 stops after click; u4 re-views but
    // never clicks
    Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      (1L, "signup", ts(4)),
      (2L, "signup", ts(0)), (2L, "view", ts(1)), (2L, "click", ts(2)),
      (2L, "purchase", ts(3)),
      (3L, "view", ts(1)), (3L, "click", ts(2)),
      (4L, "view", ts(1)), (4L, "view", ts(5))
    ).toDF("user_id", "event_type", "ts")
      .write.parquet(s"$work/events.parquet")
    val rows = Events.funnel(spark, work.toString,
      Seq("view", "click", "purchase", "signup")).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      ("view", 4L), ("view>click", 3L), ("view>click>purchase", 2L),
      // only u1's signup is AFTER its purchase; u2's was before its view
      ("view>click>purchase>signup", 1L)))
  }

  test("retention: offset-0 actives equal the cohort size, never grow") {
    val rows = Events.retentionCohorts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every cohort has an offset-0 row (first-touch week is active by
    // construction) and no later week exceeds it
    rows.groupBy(_._1).foreach { case (cohort, g) =>
      val byOff = g.map(x => x._2 -> x._3).toMap
      assert(byOff.contains(0L), s"cohort $cohort missing offset 0")
      assert(byOff.values.forall(_ <= byOff(0L)),
        s"cohort $cohort retention exceeds its size: $byOff")
    }
    // total cohort sizes = distinct users
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._3).sum == users)
  }

  test("sessionize: session count never exceeds event count") {
    val rows = Events.sessionize(spark, sf).collect()
    assert(rows.forall(r => r.getLong(1) <= r.getLong(2) && r.getLong(1) >= 1))
    val evTotal = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(_.getLong(2)).sum == evTotal)
  }

  test("tumbling hourly counts sum to total events") {
    val total = Events.tumblingHourly(spark, sf)
      .agg(sum("cnt")).head().getLong(0)
    assert(total == spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("events load normalizes both shipped ts layouts exactly") {
    // The fixture's ts has shipped as Long nanos AND as tz-less
    // micros (TIMESTAMP_NTZ) across testdata generations; Tables.load
    // must pass NTZ through untouched (DuckDB sees the same naive
    // values) and convert Long nanos by exact integral truncation —
    // double division would be 256 ns coarse at 2024-epoch nanos and
    // land boundary rows 1 us off (ADVICE r1, high).
    val fixture = graft.sources.Tables.load(spark, sf, "events")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    assert(fixture.schema("ts").dataType ==
      (if (raw.schema("ts").dataType == LongType)
        org.apache.spark.sql.types.TimestampType
      else raw.schema("ts").dataType))
    // synthesize the legacy nanos layout in a temp table dir and load
    // through the same path: exact ns/1000 truncation on every row
    val dir = java.nio.file.Files
      .createTempDirectory("events-nanos-").toString
    try {
      import spark.implicits._
      val boundary = Seq(1704067200000000999L, 1704067200000001000L,
        1704067200000001001L, 0L, 999L, 1000L)
      boundary.zipWithIndex.map { case (ns, i) => (i.toLong, ns) }
        .toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val loaded = graft.sources.Tables.load(spark, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      boundary.zipWithIndex.foreach { case (ns, i) =>
        assert(loaded(i.toLong) == ns / 1000L,
          s"ns=$ns truncated to ${loaded(i.toLong)}")
      }
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("asof join never matches a same-timestamp click (strict p.ts > c.ts)") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    val events = Seq(
      // user 1: click strictly earlier, then click+purchase at same ts
      (1L, t0, 7L, "click"),
      (2L, t1, 7L, "click"),
      (3L, t1, 7L, "purchase"), // must match click 1, NOT same-ts click 2
      // user 2: only a same-ts click -> no match
      (4L, t1, 8L, "click"),
      (5L, t1, 8L, "purchase"),
      // user 3: two clicks at the same earlier ts -> max event_id wins
      (6L, t0, 9L, "click"),
      (7L, t0, 9L, "click"),
      (8L, t1, 9L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.asofJoinOn(events).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.toString.toLong))
      .toMap
    assert(out(3L) == Some(1L))
    assert(out(5L) == None)
    assert(out(8L) == Some(7L))
  }

  test("bm25SearchIndexed and appendToTextIndex on an index without a " +
      "tombstone table run no tombstone job") {
    import spark.implicits._
    val dir = "target/tmp/text-index-no-tombs-jobs"
    Seq(dir, s"$dir.stats").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    TextAnalysis.buildTextIndexOf(Seq((1L, "alpha beta gamma"),
      (2L, "beta delta"), (3L, "gamma alpha alpha")).toDF("doc_id", "text"),
      dir)
    val q = Seq("alpha", "beta")
    TextAnalysis.bm25SearchIndexed(spark, dir, q, 10).collect() // warm
    val (probeJobs, hits) = jobsOf(
      TextAnalysis.bm25SearchIndexed(spark, dir, q, 10).collect())
    assert(hits.length == 3)
    TextAnalysis.appendToTextIndex(spark,
      Seq((4L, "alpha epsilon")).toDF("doc_id", "text"), dir) // warm
    val (appendJobs, _) = jobsOf(TextAnalysis.appendToTextIndex(spark,
      Seq((5L, "beta zeta")).toDF("doc_id", "text"), dir))
    info(s"bm25SearchIndexed jobs: $probeJobs, " +
      s"appendToTextIndex jobs: $appendJobs")
    // 9 and 6 when the probe anti-joined, and the append semi-joined,
    // a broadcast empty frame
    assert(probeJobs <= 8, s"bm25SearchIndexed ran $probeJobs jobs")
    assert(appendJobs <= 5, s"appendToTextIndex ran $appendJobs jobs")
  }
}
