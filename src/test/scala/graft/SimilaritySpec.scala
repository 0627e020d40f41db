package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  lazy val exact = Similarity.bruteForceTopK(spark, sf).collect()
  lazy val approx = Similarity.ivfTopK(spark, sf).collect()

  test("brute force returns k neighbors per query with ranks 1..k") {
    val byQuery = exact.groupBy(_.getLong(0))
    assert(byQuery.size == Similarity.NumQueries)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to Similarity.K))
    }
  }

  test("cosines are descending within each query") {
    exact.groupBy(_.getLong(0)).values.foreach { rows =>
      val cos = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cos.sameElements(cos.sortBy(-_)))
    }
  }

  test("IVF recall@k clears the random-data floor (nProbe/C)") {
    val e = exact.map(r => (r.getLong(0), r.getLong(2))).toSet
    val a = approx.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (e & a).size.toDouble / e.size
    info(s"IVF recall@${Similarity.K} = $recall")
    assert(recall >= Similarity.NProbe.toDouble / Similarity.Centroids)
  }

  test("IVF neighbors never beat the exact top-1") {
    val best = exact.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    approx.foreach { r =>
      assert(r.getDouble(3) <= best(r.getLong(0)) + 1e-12)
    }
  }

  test("spherical k-means refinement: objective monotone, recall holds") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val embAll = {
      import graft.functions.VectorFunctions._
      e.select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))
        .filter(col("vec_id") >= Similarity.NumQueries).cache()
    }
    val seed = embAll.filter(
      col("vec_id") < Similarity.NumQueries + Similarity.Centroids)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val c0 = Similarity.ivfCost(embAll, seed)
    val r1 = Similarity.kmeansRefine(embAll, seed, 1).cache()
    val c1 = Similarity.ivfCost(embAll, r1)
    val c2 = Similarity.ivfCost(embAll,
      Similarity.kmeansRefine(embAll, r1, 1).cache())
    info(s"spherical objective: seed=$c0 iter1=$c1 iter2=$c2")
    assert(c1 >= c0 - 1e-9) // Lloyd monotonicity
    assert(c2 >= c1 - 1e-9)

    val refined = Similarity.ivfTopKKmeans(spark, sf).collect()
    val ex = exact.map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = refined.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ex & got).size.toDouble / ex.size
    info(s"k-means IVF recall@${Similarity.K} = $recall")
    assert(recall >= Similarity.NProbe.toDouble / Similarity.Centroids)
    embAll.unpersist()
  }

  test("int8 quantization: bounded components, scale/2 error, recall holds") {
    import org.apache.spark.sql.functions._
    val q = Similarity.dequantizeInt8(Similarity.quantizeInt8(
      spark.read.parquet(s"$sf/embeddings.parquet")))
    // components bounded to [-127, 127]; reconstruction error within
    // scale/2 (+ float noise) per component
    val bad = q.select(
        array_max(transform(col("q_emb"), v => abs(v.cast("int"))))
          .as("maxq"),
        array_max(transform(arrays_zip(col("embedding"), col("dq_emb")),
          z => abs(z.getField("embedding").cast("double") -
            z.getField("dq_emb").cast("double")))).as("maxerr"),
        col("q_scale"))
      .filter(col("maxq") > 127 ||
        col("maxerr") > col("q_scale") * 0.5 + 1e-5)
      .count()
    assert(bad == 0L)
    // the gate's contract row: recall over the dequantized corpus
    val row = Similarity.int8Recall(spark, sf).head()
    assert(row.getLong(2) == 1L && row.getLong(3) == 1L)
  }

  test("persisted cell-partitioned index: pruned probe, identical results") {
    val dir = "target/tmp/ivf-index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$dir.centroids"))
    Similarity.buildIvfIndex(spark, sf, dir)
    // a 2-query batch probes <= 2 x nProbe of the 16 cells: the
    // executed index scan must open only those directories' files
    // (inputFiles ignores pruning, so read the scan's numFiles metric)
    val small = Similarity.ivfTopKIndexed(spark, sf, dir, numQueries = 2)
    small.collect()
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
    val scannedFiles = nodes(small.queryExecution.executedPlan)
      .filter(n => n.nodeName.toLowerCase.contains("scan") &&
        n.toString.contains("ivf-index") &&
        !n.toString.contains("centroids"))
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val allFiles = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dir), Array("parquet"), true).size
    info(s"scanned $scannedFiles of $allFiles index files")
    assert(scannedFiles > 0 && scannedFiles < allFiles)
    // identical results to the in-memory refined path
    assert(Similarity.ivfTopKIndexed(spark, sf, dir).collect()
      .map(_.toString).toSeq ==
      Similarity.ivfTopKKmeans(spark, sf).collect().map(_.toString).toSeq)
  }

  test("quantized index stores tinyint on disk, no float column; " +
      "probe and append keep the form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    val dir = "target/tmp/ivf-index-q"
    Seq(dir, s"$dir.centroids").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir, quantized = true)
    // the on-disk files themselves (not the manifest view) carry the
    // int8 payload and no float embedding — the 4x is in the layout
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_stats"))
      .toSeq
    assert(files.nonEmpty)
    val raw = spark.read.parquet(files: _*)
    assert(raw.schema("q_emb").dataType == ArrayType(ByteType),
      s"q_emb must be array<tinyint> on disk, got ${raw.schema("q_emb")}")
    assert(!raw.columns.contains("embedding"),
      "quantized index must not store the float column")
    assert(raw.columns.contains("q_scale"))
    // the standard probe path reads it transparently and matches the
    // in-memory quantized composition's recall contract
    val probed = Similarity.ivfTopKIndexed(spark, sf, dir)
    assert(probed.count() > 0)
    val gate = Similarity.int8IvfIndexedRecall(spark, sf).head()
    assert(gate.getLong(2) == 1L, "recall floor")
    assert(gate.getLong(3) == 1L && gate.getLong(4) == 1L,
      "storage facts")
    // an append matches the index's stored form: still int8, no float
    val extra = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries).limit(1)
      .select(lit(900001L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(spark, extra, dir)
    val after = spark.read.parquet(
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_stats"))
        .toSeq: _*)
    assert(after.schema("q_emb").dataType == ArrayType(ByteType))
    assert(!after.columns.contains("embedding"))
    // binpack maintenance keeps the quantized form AND the answers:
    // the probe over the compacted index matches the pre-compaction one
    val before = Similarity.ivfTopKIndexed(spark, sf, dir).collect()
      .map(_.toString).toSeq
    Similarity.compactIvfIndex(spark, dir, minFileBytes = 1024 * 1024)
    val packed = spark.read.parquet(
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_stats"))
        .toSeq: _*)
    assert(packed.schema("q_emb").dataType == ArrayType(ByteType))
    assert(!packed.columns.contains("embedding"))
    assert(Similarity.ivfTopKIndexed(spark, sf, dir).collect()
      .map(_.toString).toSeq == before)
  }

  test("incremental IVF append equals one-shot assignment, is O(delta)") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val full = "target/tmp/ivf-incr-full"
    val incr = "target/tmp/ivf-incr-steps"
    Seq(full, incr, s"$full.centroids", s"$incr.centroids").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    // one-shot build fixes the centroid table; the incremental index
    // shares it (centroids are immutable after build)
    Similarity.buildIvfIndex(spark, sf, full)
    graft.sources.Versioned.commit(
      graft.sources.Versioned.read(spark, s"$full.centroids"),
      s"$incr.centroids")
    val corpus = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries)
      .select(col("vec_id"), col("embedding"))
    // bootstrap-append half the corpus, then append the other half
    Similarity.appendToIvfIndex(spark,
      corpus.filter(col("vec_id") % 2 === 0), incr)
    val before = Files.walk(Paths.get(incr)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    Similarity.appendToIvfIndex(spark,
      corpus.filter(col("vec_id") % 2 === 1), incr)
    // O(delta): the first batch's files are untouched by the second
    before.foreach { case (p, mtime) =>
      assert(Files.getLastModifiedTime(Paths.get(p)) == mtime,
        s"$p rewritten by append")
    }
    // probing the incrementally built index returns EXACTLY the
    // one-shot index's neighbors (same centroids, same candidates)
    assert(Similarity.ivfTopKIndexed(spark, sf, incr).collect()
      .map(_.toString).toSeq ==
      Similarity.ivfTopKIndexed(spark, sf, full).collect()
        .map(_.toString).toSeq)
  }

  test("persisted index is snapshot-atomic: probes see old or new, never a mix") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val dir = "target/tmp/ivf-atomic"
    Seq(dir, s"$dir.centroids").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir)
    val base = Similarity.ivfTopKIndexed(spark, sf, dir).collect()
      .map(_.toString).toSeq
    val baseRows = Versioned.read(spark, dir).count()
    // a writer that CRASHED after claiming v=2 but before publishing
    // its marker: the partial delta must be invisible to probes
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/v=1"), new java.io.File(s"$dir/v=2"))
    assert(Versioned.currentVersion(spark, dir) == 1)
    assert(Similarity.ivfTopKIndexed(spark, sf, dir).collect()
      .map(_.toString).toSeq == base)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$dir/v=2"))
    // a probe PLANNED before an append keeps reading the old snapshot
    // (immutable files), while fresh probes see the full new one —
    // atomic flip, no partial state either way
    val planned = Similarity.ivfTopKIndexed(spark, sf, dir)
    val delta = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(spark, delta, dir)
    assert(Versioned.read(spark, dir).count() == 2 * baseRows)
    assert(planned.collect().map(_.toString).toSeq == base)
    // maintenance binpack keeps contents and cell layout, atomically
    val packed = Similarity.compactIvfIndex(spark, dir,
      minFileBytes = 1024 * 1024)
    assert(packed > Versioned.versions(spark, dir).head)
    assert(Versioned.read(spark, dir).count() == 2 * baseRows)
    assert(new java.io.File(s"$dir/v=$packed").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")))
    // the index pins its centroid GENERATION: publishing new centroids
    // (a rebuild in flight) must not change what existing probes read
    val postPack = Similarity.ivfTopKIndexed(spark, sf, dir).collect()
      .map(_.toString).toSeq
    Versioned.commit(
      Versioned.read(spark, s"$dir.centroids")
        .limit(3), // deliberately wrong centroids
      s"$dir.centroids")
    assert(Similarity.ivfTopKIndexed(spark, sf, dir).collect()
      .map(_.toString).toSeq == postPack)
  }

  test("graft_pq_adc: exact slots, out-of-range codes contribute zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // qtab of 8 doubles with 4 codes -> K = 2 derived per row;
    // slot = j * K + code, codes outside [0, K) degrade to 0
    val df = Seq(
      (Seq.tabulate(8)(_.toDouble), Seq[Byte](0, 1, 2, 3)),
      (Seq.tabulate(8)(_.toDouble), Seq[Byte](1, -1, 5, 0)))
      .toDF("qtab", "codes")
    val got = df.select(expr("graft_pq_adc(qtab, codes)"))
      .collect().map(_.getDouble(0)).toSeq
    // row 1: slots 0 and 3 valid -> 0.0 + 3.0; j=2,3 codes >= K drop
    // row 2: slots 1 and 6 valid -> 1.0 + 6.0; -1 and 5 drop
    assert(got == Seq(3.0, 7.0))
    // empty codes -> 0, never a divide-by-zero on the derived K
    assert(Seq((Seq(1.0), Seq.empty[Byte])).toDF("qtab", "codes")
      .select(expr("graft_pq_adc(qtab, codes)"))
      .head().getDouble(0) == 0.0)
    // UNSIGNED decode round-trips the full one-byte code space:
    // K = 512/2 = 256; code 200 stores as the negative byte -56 and
    // must read slot 200, not silently drop — the signed-storage
    // hazard a future K > 128 config would otherwise corrupt on
    val wide = Seq((Seq.tabulate(512)(_.toDouble),
      Seq[Byte](-56, 0))).toDF("qtab", "codes")
    // j=0 slot 0*256+200 -> 200.0; j=1 slot 1*256+0 -> 256.0
    assert(wide.select(expr("graft_pq_adc(qtab, codes)"))
      .head().getDouble(0) == 456.0)
  }

  test("product quantization: well-formed codes, ADC+rerank recall, 16x") {
    import org.apache.spark.sql.functions._
    // the one-row gate carries the whole contract: recall over the
    // 0.7 floor (measured 0.94 at this SF) and the structural 16x
    val r = Similarity.pqRecall(spark, sf).head()
    assert(r.getLong(2) == 1L, "PQ recall under floor")
    assert(r.getLong(3) == 1L, "compression contract broken")
    // stored form: exactly PqM code bytes per vector, every code a
    // valid codebook index — the entire persisted footprint
    val e = graft.sources.Tables.loadSpread(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("aggregate(transform(embedding, x -> double(x) * x), " +
          "0D, (a, v) -> a + v)").as("n2"))
      .select(col("vec_id"), col("embedding"),
        sqrt(col("n2")).cast("float").as("nrm"))
    val corpus = e.filter(col("vec_id") >= Similarity.NumQueries)
    val cb = Similarity.trainPqCodebooks(Similarity.subvectors(corpus))
    val codes = Similarity.pqEncode(Similarity.subvectors(corpus), cb)
    val stats = codes.select(
      min(size(col("codes"))).as("mn"), max(size(col("codes"))).as("mx"),
      max(array_max(col("codes"))).as("cmax"),
      min(array_min(col("codes"))).as("cmin")).head()
    assert(stats.getInt(0) == Similarity.PqM &&
      stats.getInt(1) == Similarity.PqM)
    assert(stats.getByte(2) < Similarity.PqCodes && stats.getByte(3) >= 0)
    // codebook is broadcast-sized: M x PqCodes entries
    assert(cb.count() == Similarity.PqM.toLong * Similarity.PqCodes)
  }

  test("hybrid RRF: fused score is exactly the rank formula, every " +
      "candidate came from a system") {
    val out = Similarity.hybridRrf(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { r =>
      val t = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val v = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(t.nonEmpty || v.nonEmpty, s"candidate from nowhere: $r")
      t.foreach(x => assert(x >= 1 && x <= 50))
      v.foreach(x => assert(x >= 1 && x <= 50))
      val expect = t.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        v.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - expect) < 1e-12,
        s"rrf mismatch: $r expected $expect")
    }
    // determinism: a rerun fuses to the identical list
    assert(Similarity.hybridRrf(spark, sf).collect().map(_.toString)
      .toSeq == out.map(_.toString).toSeq)
  }

  test("PQ codebook survives empty clusters at full M x K density") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // seeds are corpus vectors 10..25; make 11 an exact duplicate of
    // 10, so code 1 ties every assignment to code 0 (min_by breaks
    // ties low) and wins NO members — the empty-cluster case
    def raw(seed: Int): Array[Float] =
      (0 until 64).map(i => math.sin(i * 0.7 + seed).toFloat).toArray
    def vec(seed: Int): Array[Float] =
      if (seed == 11) raw(10) else raw(seed)
    val e = (10 until 40).map(id => (id.toLong, vec(id))).toDF(
      "vec_id", "embedding")
      .withColumn("nrm", sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x),
        lit(0.0d), (a, v) => a + v)))
    val cb = Similarity.trainPqCodebooks(Similarity.subvectors(e))
    // every (j, code) row present: an empty cluster keeps its previous
    // centroid instead of vanishing and positionally scrambling the
    // M x K ADC lookup table
    assert(cb.count() == Similarity.PqM.toLong * Similarity.PqCodes)
    assert(cb.groupBy("j").count().collect()
      .forall(_.getLong(1) == Similarity.PqCodes))
  }

  test("persisted IVF-PQ: codes-only layout, pruned probe over floor, " +
      "pinned O(delta) append") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    val dir = "target/tmp/ivfpq-index"
    Seq(dir, s"$dir.centroids", s"$dir.codebooks").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfPqIndex(spark, sf, dir)
    // stored layout: the float vector is GONE; per row exactly PqM
    // tinyint code bytes plus (vec_id, cell, nrm)
    val idx = Versioned.read(spark, dir)
    assert(!idx.columns.contains("embedding"))
    assert(idx.schema.fields.find(_.name == "codes")
      .exists(_.dataType.catalogString == "array<tinyint>"))
    val sizes = idx.select(min(size(col("codes"))),
      max(size(col("codes")))).head()
    assert(sizes.getInt(0) == Similarity.PqM &&
      sizes.getInt(1) == Similarity.PqM)
    // probe: recall over the composed floor against the float-exact
    // baseline (measured 0.62 at this SF; contract floor 0.35)
    val approxPq = Similarity.ivfPqTopKIndexed(spark, sf, dir)
    val recall = Similarity.bruteForceTopK(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
      .join(approxPq.select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
        count(lit(1))).as("recall")).head().getDouble(0)
    assert(recall >= 0.35, s"IVF-PQ recall $recall under floor")
    // a 2-query batch probes <= 12 of the 16 cells: the executed scan
    // must open only those directories' files
    val probe = Similarity.ivfPqTopKIndexed(spark, sf, dir,
      numQueries = 2)
    probe.collect()
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
    val scannedFiles = nodes(probe.queryExecution.executedPlan)
      .filter(n => n.nodeName.toLowerCase.contains("scan") &&
        n.toString.contains("ivfpq-index") &&
        !n.toString.contains("centroids") &&
        !n.toString.contains("codebooks"))
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val allFiles = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dir), Array("parquet"), true).size
    info(s"scanned $scannedFiles of $allFiles index files")
    assert(scannedFiles > 0 && scannedFiles < allFiles)
    // append: encoded against the PINNED codebooks/centroids, lands as
    // codes in the stored form, carries the pins forward
    val pinsBefore = Versioned.commitNotes(spark, dir)(
      Versioned.currentVersion(spark, dir))
    val nBefore = idx.count()
    val newVecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries).limit(2)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding"))
    Similarity.appendToIvfPqIndex(spark, newVecs, dir)
    val after = Versioned.read(spark, dir)
    assert(after.count() == nBefore + 2)
    assert(after.filter(col("vec_id") >= 1000000L &&
      size(col("codes")) === Similarity.PqM).count() == 2)
    assert(Versioned.commitNotes(spark, dir)(
      Versioned.currentVersion(spark, dir)) == pinsBefore)
    // quantization generations stayed immutable across the append
    assert(Versioned.currentVersion(spark, s"$dir.centroids") == 1)
    assert(Versioned.currentVersion(spark, s"$dir.codebooks") == 1)
    // findability end-to-end: append an exact twin of query 0's
    // embedding, extend the rerank store with it (the operational
    // invariant: the store gets the vector before the index does),
    // and query 0's top-1 must be the twin (cosine exactly 1)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val twin = emb.filter(col("vec_id") === 0)
      .select(lit(2000000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(spark, twin, dir)
    val extended = emb.filter(col("vec_id") >= Similarity.NumQueries)
      .select(col("vec_id"), col("embedding")).unionAll(twin)
    val top1 = Similarity.ivfPqTopKIndexed(spark, sf, dir,
        corpus = Some(extended))
      .filter(col("query_id") === 0 && col("rank") === 1).head()
    assert(top1.getLong(2) == 2000000L,
      s"appended twin must be query 0's top-1, got $top1")
  }

  test("ivfTopKIndexed leaves no cached block behind") {
    val dir = "target/tmp/ivf-index-nocache"
    Seq(dir, s"$dir.centroids").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir)
    // a first probe of another query batch warms whatever the fixture
    // load itself keeps; the measured probe must then add nothing
    Similarity.ivfTopKIndexed(spark, sf, dir, numQueries = 3).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Similarity.ivfTopKIndexed(spark, sf, dir).collect().nonEmpty)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"probe left cached RDDs $added")
  }

  test("int8-IVF index deletes: same tombstone discipline as IVF-PQ") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    val dir = "target/tmp/ivf-int8-deletes"
    Seq(dir, s"$dir.centroids", s"$dir.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir, quantized = true)
    val top1 = Similarity.ivfTopKIndexed(spark, sf, dir)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .head().getLong(2)
    Similarity.deleteFromVectorIndex(spark,
      Seq(top1).toDF("vec_id"), dir)
    // gone from every result immediately
    assert(Similarity.ivfTopKIndexed(spark, sf, dir)
      .filter(col("neighbor_id") === top1).isEmpty)
    // re-appending the live-tombstoned id refuses
    val e = intercept[IllegalArgumentException](
      Similarity.appendToIvfIndex(spark,
        graft.sources.Tables.load(spark, sf, "embeddings")
          .filter(col("vec_id") === top1)
          .select(col("vec_id"), col("embedding")), dir))
    assert(e.getMessage.contains("live-tombstoned"))
    // compact applies the set, resets it, keeps the centroid pin
    Similarity.compactIvfIndex(spark, dir)
    assert(Versioned.read(spark, s"$dir.tombs").count() == 0)
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") === top1).isEmpty)
    assert(Similarity.ivfTopKIndexed(spark, sf, dir)
      .filter(col("neighbor_id") === top1).isEmpty)
    assert(Versioned.commitNotes(spark, dir)(
      Versioned.currentVersion(spark, dir)).contains("centroids=v"))
  }

  test("vector-index deletes: tombstoned vector leaves every " +
      "shortlist, compact applies and resets, export refusals") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    val dir = "target/tmp/ivfpq-deletes"
    Seq(dir, s"$dir.centroids", s"$dir.codebooks", s"$dir.tombs")
      .foreach(p => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfPqIndex(spark, sf, dir)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val twin = emb.filter(col("vec_id") === 0)
      .select(lit(3000000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(spark, twin, dir)
    val store = emb.filter(col("vec_id") >= Similarity.NumQueries)
      .select(col("vec_id"), col("embedding")).unionAll(twin)
    def probe() = Similarity.ivfPqTopKIndexed(spark, sf, dir,
      corpus = Some(store))
    assert(probe().filter(col("query_id") === 0 && col("rank") === 1)
      .head().getLong(2) == 3000000L)
    Similarity.deleteFromVectorIndex(spark,
      Seq(3000000L).toDF("vec_id"), dir)
    // gone from EVERY query's results immediately, others undisturbed
    val after = probe().cache()
    assert(after.filter(col("neighbor_id") === 3000000L).isEmpty)
    assert(after.count() ==
      Similarity.NumQueries.toLong * Similarity.K)
    // live tombstones refuse a raw-file export
    val e = intercept[IllegalStateException](
      Similarity.exportVectorIndex(spark, dir))
    assert(e.getMessage.contains("tombstones"))
    // compact applies the set, resets it, export succeeds, and the
    // vector stays gone from the rewritten cells
    Similarity.compactIvfPqIndex(spark, dir)
    assert(Versioned.read(spark, s"$dir.tombs").count() == 0)
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") === 3000000L).isEmpty)
    Similarity.exportVectorIndex(spark, dir) // must not throw
    assert(probe().filter(col("neighbor_id") === 3000000L).isEmpty)
    // compacting with no live tombstones is a version-stable no-op
    val v = Versioned.currentVersion(spark, dir)
    assert(Similarity.compactIvfPqIndex(spark, dir) == v)
    // re-appending a LIVE-tombstoned vec_id refuses (its codes would
    // be anti-joined away at every probe); after compaction the id
    // is free again
    Similarity.deleteFromVectorIndex(spark,
      Seq(4000000L).toDF("vec_id"), dir)
    val e2 = intercept[IllegalArgumentException](
      Similarity.appendToIvfPqIndex(spark,
        twin.select(lit(4000000L).as("vec_id"), col("embedding")), dir))
    assert(e2.getMessage.contains("live-tombstoned"))
    Similarity.compactIvfPqIndex(spark, dir)
    Similarity.appendToIvfPqIndex(spark,
      twin.select(lit(4000000L).as("vec_id"), col("embedding")), dir)
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") === 4000000L).count() == 1)
  }

  test("upsertIntoVectorIndex re-embeds in O(batch): findable at the " +
      "new position immediately, old codes never resurface, pins " +
      "hold, tombstone superseded without a compaction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    val dir = "target/tmp/ivfpq-upsert"
    Seq(dir, s"$dir.centroids", s"$dir.codebooks", s"$dir.tombs")
      .foreach(p => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfPqIndex(spark, sf, dir)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    def embOf(id: Long) = emb.filter(col("vec_id") === id)
      .select(lit(5000000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(spark, embOf(0), dir)
    def store(cur: Long) = emb
      .filter(col("vec_id") >= Similarity.NumQueries)
      .select(col("vec_id"), col("embedding")).unionAll(embOf(cur))
    def probe(cur: Long) = Similarity.ivfPqTopKIndexed(spark, sf, dir,
      corpus = Some(store(cur)))
    assert(probe(0).filter(col("query_id") === 0 && col("rank") === 1)
      .head().getLong(2) == 5000000L)
    // LIVE re-embed (no tombstone): vector moves from query 0's exact
    // match to query 1's in one upsert
    val vBefore = Versioned.currentVersion(spark, dir)
    Similarity.upsertIntoVectorIndex(spark, embOf(1), dir)
    val p1 = probe(1).cache()
    assert(p1.filter(col("query_id") === 1 && col("rank") === 1)
      .head().getLong(2) == 5000000L,
      "re-embedded vector must be findable at its NEW position")
    assert(p1.filter(col("query_id") === 0 && col("rank") === 1)
      .head().getLong(2) != 5000000L,
      "the old embedding must never resurface")
    // exactly ONE stored row: the atomic upsert replaced the codes
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") === 5000000L).count() == 1)
    assert(Versioned.currentVersion(spark, dir) == vBefore + 1)
    // generation pins carried unchanged
    val note = Versioned.commitNotes(spark, dir)(
      Versioned.currentVersion(spark, dir))
    assert(note.contains("centroids=v") && note.contains("codebooks=v"))
    // TOMBSTONED re-embed: the delete→compact(full rewrite)→append
    // detour collapses to one upsert that supersedes the tombstone
    Similarity.deleteFromVectorIndex(spark,
      Seq(5000000L).toDF("vec_id"), dir)
    assert(probe(1).filter(col("neighbor_id") === 5000000L).isEmpty)
    Similarity.upsertIntoVectorIndex(spark, embOf(2), dir)
    assert(Versioned.read(spark, s"$dir.tombs").count() == 0,
      "the upsert supersedes the live tombstone")
    val p2 = probe(2).cache()
    assert(p2.filter(col("query_id") === 2 && col("rank") === 1)
      .head().getLong(2) == 5000000L)
    assert(p2.filter(col("query_id") === 1 && col("rank") === 1)
      .head().getLong(2) != 5000000L)
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") === 5000000L).count() == 1)
    // the int8-IVF layout takes the same path (shared tombstones,
    // quantized delta encoding)
    val dir8 = "target/tmp/int8-upsert"
    Seq(dir8, s"$dir8.centroids", s"$dir8.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir8, quantized = true)
    val tgt = Similarity.ivfTopKIndexed(spark, sf, dir8)
      .filter(col("query_id") === 3 && col("rank") === 1)
      .head().getLong(2)
    Similarity.deleteFromVectorIndex(spark, Seq(tgt).toDF("vec_id"), dir8)
    assert(Similarity.ivfTopKIndexed(spark, sf, dir8)
      .filter(col("neighbor_id") === tgt).isEmpty)
    Similarity.upsertIntoVectorIndex(spark,
      emb.filter(col("vec_id") === tgt)
        .select(col("vec_id"), col("embedding")), dir8)
    assert(Versioned.read(spark, s"$dir8.tombs").count() == 0)
    assert(Similarity.ivfTopKIndexed(spark, sf, dir8)
      .filter(col("query_id") === 3 && col("rank") === 1)
      .head().getLong(2) == tgt,
      "int8 upsert restores the vector at its position immediately")
    assert(Versioned.read(spark, dir8)
      .filter(col("vec_id") === tgt).count() == 1)
  }

  test("ingestDedupVectors: corpus and within-batch near-dups drop " +
      "with witnesses, survivors join the index, re-ingest is " +
      "idempotent, IVF-PQ refuses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    val dir = "target/tmp/ivf-ingest"
    Seq(dir, s"$dir.centroids", s"$dir.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir, quantized = true)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    def reId(src: Long, id: Long) = emb.filter(col("vec_id") === src)
      .select(lit(id).as("vec_id"), col("embedding"))
    // twins of two corpus vectors (near-dup of standing rows), one
    // novel vector (query 0's embedding — cosine ~0.5 to the corpus),
    // and a within-batch duplicate pair of query 1's embedding
    val cid = emb.filter(col("vec_id") >= Similarity.NumQueries)
      .select("vec_id").orderBy("vec_id").limit(2).collect()
      .map(_.getLong(0))
    val batch = reId(cid(0), 7000000L)
      .unionAll(reId(cid(1), 7000001L))
      .unionAll(reId(0L, 7100000L))
      .unionAll(reId(1L, 7100001L))
      .unionAll(reId(1L, 7100002L))
    val verdict = Similarity.ingestDedupVectors(spark, batch, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(verdict(7000000L) == ((false, cid(0))))
    assert(verdict(7000001L) == ((false, cid(1))))
    assert(verdict(7100000L) == ((true, -1L)))
    assert(verdict(7100001L) == ((true, -1L)))
    assert(verdict(7100002L) == ((false, 7100001L)),
      "within-batch duplicate must lose to the smaller id")
    // survivors are live in the index: query 0's top-1 is the novel
    assert(Similarity.ivfTopKIndexed(spark, sf, dir)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .head().getLong(2) == 7100000L)
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") >= 7000000L).count() == 2)
    // re-ingesting the same batch drops EVERYTHING (standing same-id
    // rows match themselves; twins still match their originals) — no
    // duplicate rows ever land
    val again = Similarity.ingestDedupVectors(spark, batch, dir)
      .collect()
    assert(again.forall(!_.getBoolean(1)))
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") >= 7000000L).count() == 2)
    // a DRIFTED vector on a standing id still drops — "already
    // ingested" is an identity fact, not a cosine fact — so no
    // duplicate id row can ever land through ingest
    val drifted = Similarity.ingestDedupVectors(spark,
      reId(3L, 7100000L), dir).collect()
    assert(!drifted.head.getBoolean(1) &&
      drifted.head.getLong(2) == 7100000L)
    assert(Versioned.read(spark, dir)
      .filter(col("vec_id") === 7100000L).count() == 1)
    // a live-tombstoned batch id refuses UP FRONT with ingest's own
    // message; duplicate batch ids refuse too
    Similarity.deleteFromVectorIndex(spark,
      Seq(7100000L).toDF("vec_id"), dir)
    val et = intercept[IllegalArgumentException](
      Similarity.ingestDedupVectors(spark, reId(0L, 7100000L), dir))
    assert(et.getMessage.contains("live-tombstoned"))
    val ed = intercept[IllegalArgumentException](
      Similarity.ingestDedupVectors(spark,
        reId(0L, 8000000L).unionAll(reId(3L, 8000000L)), dir))
    assert(ed.getMessage.contains("one row per non-null vec_id"))
    // the IVF-PQ layout refuses (ADC-approximate cosines)
    val pq = "target/tmp/ivfpq-ingest-refuse"
    Seq(pq, s"$pq.centroids", s"$pq.codebooks", s"$pq.tombs").foreach(
      p => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfPqIndex(spark, sf, pq)
    val e = intercept[IllegalArgumentException](
      Similarity.ingestDedupVectors(spark, batch, pq))
    assert(e.getMessage.contains("IVF-PQ"))
  }

  test("ingestDedupVectors verdict is built from the drop set " +
      "materialized once: it reads no index file and stays stable " +
      "while a later ingest, a witness takedown and compaction move " +
      "the index on") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "target/tmp/ivf-verdict"
    val dirs = Seq(dir, s"$dir.centroids", s"$dir.tombs")
    dirs.foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir, quantized = true)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    def reId(src: Long, id: Long) = emb.filter(col("vec_id") === src)
      .select(lit(id).as("vec_id"), col("embedding"))
    val cid = emb.filter(col("vec_id") >= Similarity.NumQueries)
      .select("vec_id").orderBy("vec_id").limit(3).collect()
      .map(_.getLong(0))
    // a live tombstone, so every sibling the probe reads exists
    Similarity.deleteFromVectorIndex(spark, Seq(cid(2)).toDF("vec_id"),
      dir)
    val verdict = Similarity.ingestDedupVectors(spark,
      reId(cid(0), 7000000L).unionAll(reId(cid(1), 7000001L))
        .unionAll(reId(0L, 7100000L)).unionAll(reId(1L, 7100001L))
        .unionAll(reId(1L, 7100002L)), dir)
    val roots = dirs.map(d => new java.io.File(d).getAbsolutePath + "/")
    val indexReads = verdict.inputFiles
      .filter(f => roots.exists(f.contains(_)))
    assert(indexReads.isEmpty,
      s"the verdict re-reads the index: ${indexReads.mkString(", ")}")
    def rows() = verdict.collect().map(r => (r.getLong(0),
      r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq.sorted
    val first = rows()
    assert(first.count(!_._2) == 3)
    Similarity.ingestDedupVectors(spark,
      reId(cid(0), 7000002L).unionAll(reId(2L, 7100003L)), dir).collect()
    Similarity.deleteFromVectorIndex(spark, Seq(cid(0)).toDF("vec_id"),
      dir)
    Similarity.compactIvfIndex(spark, dir)
    assert(rows() == first)
  }

  test("int8-IVF export parity: the pair exports (no codebooks), " +
      "the gate's probe is well-formed, tombstones refuse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    val g = graft.gates.IndexGates.int8IndexExportGate(spark, sf).collect()
    assert(g.length == 20)
    assert(g.forall(_.getLong(2) == 1L),
      "an int8-IVF export must carry NO codebook files")
    assert(g.forall(_.getLong(1) == Similarity.NProbe.toLong))
    val export = graft.gates.lastExport("q56_int8_index_export").get
    val Seq(cells, cents) = Seq("cells", "centroids").map(export.files)
    val qUnit = export.query
    assert(cells.nonEmpty && cents.nonEmpty && qUnit.length == 64)
    assert(cells.forall(_.contains("cell=")),
      "cell files must export hive-partitioned for engine pruning")
    // live tombstones refuse the int8 export too
    val dir = "target/tmp/int8-export-refuse"
    Seq(dir, s"$dir.centroids", s"$dir.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfIndex(spark, sf, dir, quantized = true)
    val (_, _, cb) = Similarity.exportVectorIndex(spark, dir)
    assert(cb.isEmpty)
    Similarity.deleteFromVectorIndex(spark,
      Seq(Versioned.read(spark, dir).select(col("vec_id"))
        .head().getLong(0)).toDF("vec_id"), dir)
    val e = intercept[IllegalStateException](
      Similarity.exportVectorIndex(spark, dir))
    assert(e.getMessage.contains("tombstones"))
  }

  test("exportVectorIndex: exported triple alone carries the ADC " +
      "probe; unpinned and torn indexes refuse") {
    import org.apache.spark.sql.functions._
    import graft.sources.Versioned
    // the q51 gate end-to-end: build + O(delta) append, export, probe
    // in-engine, and flag the unpinned-table refusal
    val out = graft.gates.IndexGates.vectorIndexExportGate(spark, sf)
      .orderBy(col("vec_id")).collect()
    assert(out.length == 20)
    assert(out.forall(_.getLong(1) == Similarity.NProbe.toLong))
    assert(out.forall(_.getLong(2) == 1L),
      "code-shaped bytes without quantization pins must refuse export")
    val export = graft.gates.lastExport("q51_vector_index_export").get
    val Seq(codeFiles, centFiles, cbFiles) =
      Seq("codes", "centroids", "codebooks").map(export.files)
    val qUnit = export.query
    // export spans BOTH the build and the append code commits, every
    // file under a cell= dir; centroid/codebook files resolve to the
    // pinned generation
    assert(codeFiles.nonEmpty && codeFiles.forall(_.contains("cell=")))
    assert(codeFiles.exists(_.contains("/v=1/")) &&
      codeFiles.exists(_.contains("/v=2/")))
    assert(centFiles.nonEmpty && cbFiles.nonEmpty)
    // the in-JVM mirror of the q51 DuckDB oracle: re-run the ADC probe
    // from the exported bytes ONLY — raw parquet reads, the cell
    // recovered from the hive path (the waived routing metadata), the
    // code byte decoded unsigned — no corpus, no engine read path
    val q = typedlit(qUnit)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a.cast("array<double>"), b, (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
    val probed = spark.read.parquet(centFiles: _*)
      .select(col("cell").cast("long").as("cell"),
        (dot(col("c_emb"), q) / col("c_nrm")).as("c_cos"))
      .orderBy(col("c_cos").desc, col("cell"))
      .limit(Similarity.NProbe).collect().map(_.getLong(0))
    val subDim = 64 / Similarity.PqM
    val dp = spark.read.parquet(cbFiles: _*)
      .select(col("j"), col("code"),
        dot(col("c_sub"),
          slice(q, col("j") * subDim + 1, lit(subDim))).as("dp"))
    val mirror = spark.read.parquet(codeFiles: _*)
      .withColumn("cell", regexp_extract(input_file_name(),
        "cell=([0-9]+)", 1).cast("long"))
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").as("j"),
        ((col("col").cast("int") + 256) % 256).as("code"))
      .join(dp, Seq("j", "code"))
      .groupBy(col("vec_id")).agg(sum(col("dp")).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(20).collect().map(_.getLong(0)).sorted.toSeq
    assert(mirror == out.map(_.getLong(0)).toSeq,
      "exported bytes must reproduce the in-engine candidate set")
    // torn refusal: pins naming generations beyond the sibling heads
    val torn = "target/tmp/ivfpq-export-torn"
    Seq(torn, s"$torn.centroids", s"$torn.codebooks").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val corpus = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries)
      .withColumn("nrm", sqrt(aggregate(zip_with(col("embedding"),
        col("embedding"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)))
    Similarity.buildIvfPqIndexOf(spark, corpus, torn)
    Versioned.append(
      Versioned.read(spark, torn).limit(1),
      torn, partitionCol = Some("cell"),
      note = Some("centroids=v99;codebooks=v99"))
    val e = intercept[IllegalStateException](
      Similarity.exportVectorIndex(spark, torn))
    assert(e.getMessage.contains("torn maintenance"))
  }

  test("ivfPqTopKIndexed leaves no cached block behind") {
    val dir = "target/tmp/ivfpq-index-nocache"
    Seq(dir, s"$dir.centroids", s"$dir.codebooks").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    Similarity.buildIvfPqIndex(spark, sf, dir)
    Similarity.ivfPqTopKIndexed(spark, sf, dir, numQueries = 3).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Similarity.ivfPqTopKIndexed(spark, sf, dir).collect().nonEmpty)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"probe left cached RDDs $added")
  }

  test("index builds leave no cached block behind") {
    val ivf = "target/tmp/ivf-build-nocache"
    val pq = "target/tmp/ivfpq-build-nocache"
    Seq(ivf, s"$ivf.centroids", pq, s"$pq.centroids", s"$pq.codebooks")
      .foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    def cached = spark.sparkContext.getPersistentRDDs.keySet
    val before = cached
    Similarity.buildIvfIndex(spark, sf, ivf)
    assert(cached == before, s"IVF build left cached RDDs ${cached -- before}")
    Similarity.buildIvfPqIndex(spark, sf, pq)
    assert(cached == before,
      s"IVF-PQ build left cached RDDs ${cached -- before}")
  }

  private def cleanIndex(dir: String): Unit =
    Seq(dir, s"$dir.centroids", s"$dir.tombs").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  test("ingestDedupVectors of a 110-vector batch on a 390-vector index " +
      "runs at most 10 Spark jobs") {
    import org.apache.spark.sql.functions._
    val dir = "target/tmp/ivf-ingest-jobs"
    cleanIndex(dir)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.buildIvfIndexOf(spark, emb.filter(col("vec_id") >= 10 &&
        col("vec_id") < 400)
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(
        col("embedding"))), dir)
    // 100 fresh vectors plus twins of ten indexed ones
    val batch = emb.filter(col("vec_id") >= 400).unionByName(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select((col("vec_id") + 8000000L).as("vec_id"), col("embedding")))
    val (jobs, verdict) = jobsOf(
      Similarity.ingestDedupVectors(spark, batch, dir).collect())
    assert(verdict.length == 110)
    assert(verdict.count(!_.getBoolean(1)) == 10, "the twins must drop")
    info(s"ingestDedupVectors jobs: $jobs")
    assert(jobs <= 10, s"ingestDedupVectors ran $jobs jobs")
  }

  /** A 64-d IVF index whose 16 centroids are the unit axes e0..e15
    * (cells 10..25: the seed centroids, no k-means pass), so a
    * vector's score for cell 10+k is its component k over its norm;
    * members 100..163 are seeded Gaussian vectors. */
  private def axisIndex(dir: String, quantized: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    cleanIndex(dir)
    val r = new java.util.Random(11)
    val axes = (0 until 16).map(k =>
      (10L + k, Seq.tabulate(64)(i => if (i == k) 1.0f else 0.0f)))
    val members = (100L until 164L).map(id =>
      (id, Seq.fill(64)(r.nextGaussian().toFloat)))
    Similarity.buildIvfIndexOf(spark, (axes ++ members)
        .toDF("vec_id", "embedding")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(
          col("embedding"))),
      dir, iters = 0, quantized = quantized)
  }

  /** A 64-d vector: `mass` on each dim of `massDims`, then `bumps`. */
  private def axisVec(massDims: Range, mass: Float,
      bumps: (Int, Float)*): Seq[Float] = {
    val v = Array.tabulate(64)(i => if (massDims.contains(i)) mass else 0f)
    bumps.foreach { case (i, x) => v(i) = x }
    v.toSeq
  }

  test("ingestDedupVectors edge cases on the float and int8 layouts: a " +
      "centroid tie, a pair meeting only across a window boundary, NaN " +
      "cosines, a batch of same-id rows, a zero vector") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    val m1 = 16 until 40
    val m2 = 40 until 64
    val batch = Seq(
      // tied on cells 13 and 17: the lower cell is its assignment
      9000002L -> axisVec(m1, 2.5f, 3 -> 1f, 7 -> 1f),
      // near 9000002, its window holds cell 13 but not 17: the pair
      // meets only when 9000002 is assigned to 13
      9000003L -> axisVec(m1, 2.5f, 10 -> 1f, 3 -> 0.9f, 0 -> 0.5f,
        1 -> 0.5f, 2 -> 0.5f, 4 -> 0.5f),
      // assigned 18, its window reaches cell 10 at rank 2 ...
      9000004L -> axisVec(m2, 2.5f, 0 -> 1f, 1 -> 1f, 2 -> 1f, 3 -> 1f,
        4 -> 1f, 5 -> 1f, 8 -> 1.1f),
      // ... where its near-dup is assigned; this one's window (cells
      // 10-15, tied) never reaches cell 18
      9000005L -> axisVec(m2, 2.5f, 0 -> 1f, 1 -> 1f, 2 -> 1f, 3 -> 1f,
        4 -> 1f, 5 -> 1f)).toDF("vec_id", "embedding")
    // a NaN or an infinite component makes every cosine NaN: the batch
    // refuses and lands nothing, like a zero vector
    val nan = Seq(9000007L -> axisVec(m1, 1f, 2 -> Float.NaN),
        9000008L -> axisVec(m2, 2f, 12 -> Float.PositiveInfinity))
      .toDF("vec_id", "embedding")
    // standing ids re-sent with fresh vectors: identity is the only
    // candidate
    val sameIds = {
      val r = new java.util.Random(5)
      Seq(100L, 101L).map(id => id -> Seq.fill(64)(r.nextGaussian().toFloat))
        .toDF("vec_id", "embedding")
    }
    // a zero vector has no cosine: its batch refuses and lands nothing
    val zero = Seq(9000001L -> Seq.fill(64)(0f), 9000006L -> axisVec(m2, 1f))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sorted
    for (quantized <- Seq(false, true)) {
      val dir = s"target/tmp/ivf-ingest-edges-$quantized"
      axisIndex(dir, quantized)
      assert(rows(Similarity.ingestDedupVectors(spark, batch, dir)) ==
        Seq((9000002L, true, -1L), (9000003L, false, 9000002L),
          (9000004L, true, -1L), (9000005L, false, 9000004L)),
        s"quantized=$quantized")
      assert(Versioned.read(spark, dir).filter(col("vec_id") >= 9000000L)
        .select(col("vec_id"), col("cell").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(9000002L -> 13L, 9000004L -> 18L))
      val v0 = Versioned.currentVersion(spark, dir)
      val en = intercept[IllegalArgumentException](
        Similarity.ingestDedupVectors(spark, nan, dir))
      assert(en.getMessage.contains(
        "9000007, 9000008 are non-finite vectors"), en.getMessage)
      assert(Versioned.currentVersion(spark, dir) == v0)
      assert(rows(Similarity.ingestDedupVectors(spark, sameIds, dir)) ==
        Seq((100L, false, 100L), (101L, false, 101L)),
        s"quantized=$quantized")
      val v = Versioned.currentVersion(spark, dir)
      val e = intercept[IllegalArgumentException](
        Similarity.ingestDedupVectors(spark, zero, dir))
      assert(e.getMessage.contains("9000001 are zero vectors"))
      assert(Versioned.currentVersion(spark, dir) == v)
    }
  }

  test("IVF write paths refuse a zero or non-finite vector by id, " +
      "before anything is written") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    val bad = Seq(9000001L -> Seq.fill(64)(0f),
      9000007L -> axisVec(16 until 40, 1f, 2 -> Float.NaN),
      9000008L -> axisVec(40 until 64, 2f, 12 -> Float.PositiveInfinity))
    def refused(id: Long)(write: => Unit): Unit = {
      val e = intercept[Exception](write)
      assert(e.getMessage.contains(
        s"vec_id $id is a zero or non-finite vector"), e.getMessage)
    }
    for (quantized <- Seq(false, true)) {
      val dir = s"target/tmp/ivf-bad-norm-$quantized"
      axisIndex(dir, quantized)
      val v = Versioned.currentVersion(spark, dir)
      for ((id, vec) <- bad) {
        val one = Seq(id -> vec).toDF("vec_id", "embedding")
        refused(id)(Similarity.appendToIvfIndex(spark, one, dir))
        refused(id)(Similarity.upsertIntoVectorIndex(spark, one, dir))
      }
      assert(Versioned.currentVersion(spark, dir) == v)
    }
    val dir = "target/tmp/ivf-bad-norm-build"
    cleanIndex(dir)
    val r = new java.util.Random(3)
    val corpus = ((10L until 60L).map(id =>
        id -> Seq.fill(64)(r.nextGaussian().toFloat)) :+ bad.head)
      .toDF("vec_id", "embedding")
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(
        col("embedding")))
    refused(bad.head._1)(Similarity.buildIvfIndexOf(spark, corpus, dir))
    assert(Versioned.currentVersion(spark, dir) == 0)
  }

  test("IndexTombs.absorb resets only the set it absorbed: a delete " +
      "landing during the rewrite stays tombstoned and unprobeable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.Versioned
    import graft.operators.IndexTombs
    val dir = "target/tmp/ivf-absorb"
    cleanIndex(dir)
    Similarity.buildIvfIndex(spark, sf, dir)
    def top1(q: Long) = Similarity.ivfTopKIndexed(spark, sf, dir)
      .filter(col("query_id") === q && col("rank") === 1).head().getLong(2)
    def probed(id: Long) = !Similarity.ivfTopKIndexed(spark, sf, dir)
      .filter(col("neighbor_id") === id).isEmpty
    def stored(id: Long) = Versioned.read(spark, dir)
      .filter(col("vec_id") === id).count()
    def tombstoned() = Versioned.read(spark, s"$dir.tombs").collect()
      .map(_.getLong(0)).toSet
    val absorbed = top1(0)
    Similarity.deleteFromVectorIndex(spark, Seq(absorbed).toDF("vec_id"),
      dir)
    val late = top1(1)
    // compactIvfIndex's rewrite, with a delete landing mid-rewrite
    IndexTombs.absorb(spark, dir, "vec_id") { tombs =>
      val v = Versioned.commit(tombs.live(Versioned.read(spark, dir)), dir,
        partitionCol = Some("cell"),
        note = Versioned.notePin(spark, dir, "centroids")
          .map(cv => s"centroids=v$cv"),
        statsCols = Seq("vec_id"))
      Similarity.deleteFromVectorIndex(spark, Seq(late).toDF("vec_id"), dir)
      v
    }
    assert(tombstoned() == Set(late))
    assert(stored(absorbed) == 0 && stored(late) == 1)
    assert(!probed(absorbed) && !probed(late))
    // the next compaction absorbs the late delete
    Similarity.compactIvfIndex(spark, dir)
    assert(tombstoned().isEmpty && stored(late) == 0 && !probed(late))
  }

  test("ivfTopKIndexed on an index without a tombstone table runs " +
      "no tombstone job") {
    val dir = "target/tmp/ivf-no-tombs-jobs"
    cleanIndex(dir)
    Similarity.buildIvfIndex(spark, sf, dir)
    Similarity.ivfTopKIndexed(spark, sf, dir).collect() // warm
    val (jobs, rows) = jobsOf(
      Similarity.ivfTopKIndexed(spark, sf, dir).collect())
    assert(rows.length == Similarity.NumQueries * Similarity.K)
    info(s"ivfTopKIndexed jobs: $jobs")
    // 11 when the probe anti-joined a broadcast empty frame
    assert(jobs <= 10, s"ivfTopKIndexed ran $jobs jobs")
  }
}
