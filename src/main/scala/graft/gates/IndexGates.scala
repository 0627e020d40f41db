package graft.gates

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, IndexPins, Similarity, TextAnalysis}
import graft.operators.Similarity.{NProbe, NumQueries, PqCodes}
import graft.sources.{FixturePool, Tables, Versioned}

/** Verification gates over the persisted indexes — the MinHash band
  * index ([[Dedup]]: d10-d12), the BM25 postings index
  * ([[TextAnalysis]]: t24, t29, q50), the IVF and IVF-PQ cell indexes
  * ([[Similarity]]: q51, q56, s15) and the decontamination index
  * (t30). Each runs one index lifecycle over pooled or temp copies
  * and returns one row set for the DuckDB oracle; the export gates
  * hand their file lists over through [[recordExport]]. */
object IndexGates {

  private def docs(s: SparkSession, d: String) =
    Tables.loadSpread(s, d, "documents")

  private def docsPlain(s: SparkSession, d: String) =
    Tables.load(s, d, "documents")

  private def flag(b: Boolean) = lit(if (b) 1L else 0L)

  // —— MinHash band index (d10-d12) ——

  /** Driver-visible gate (d10): incremental corpus dedup end to end —
    * index docs < 300, dedup the 300-449 batch against it, APPEND that
    * batch (O(delta)), then dedup the 450+ batch against the grown
    * index. The union of both phases' (dup_of, new_id) pairs equals
    * the EXACT cross-boundary 3-gram-Jaccard >= 0.5 pairs, which
    * DuckDB restates independently — LSH recall at the fixture's gap
    * and the signature estimate's ≥9σ margin make the approximate
    * pipeline reproduce the exact answer, so the check is a full hash
    * match, not a recall bound. */
  def dedupIndexGate(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    // BOTH artifacts pool once per JVM: the probes are read-only, so
    // no private copy is needed — the base serves phase 1 (and d11's
    // clone), the grown index serves phase 2, and the O(delta) append
    // itself runs inside the grown builder, its bytes pinned by the
    // phase-2 probe answer (identical artifact → identical pairs).
    // The PROBES stay live: sketching the batch and the band/sig
    // joins are the operator cost this gate measures.
    val base = dedupBase(s, d)
    val grown = FixturePool.readOnly(
      s"dedup-grown450:$d", reclaimAtExit = true) { dir =>
      // the base resolves ABOVE (no computeIfAbsent re-entry); this
      // builder pays a directory copy plus the O(delta) append
      FixturePool.copyInto(base, dir)
      Dedup.appendToDedupIndex(s,
        all.filter(col("doc_id") >= 300 && col("doc_id") < 450), dir)
    }
    val p1 = Dedup.dedupAgainstIndex(s,
      all.filter(col("doc_id") >= 300 && col("doc_id") < 450), base)
      .select(col("dup_of"), col("new_id"))
    val p2 = Dedup.dedupAgainstIndex(s, all.filter(col("doc_id") >= 450),
      grown)
      .select(col("dup_of"), col("new_id"))
    val pairs = p1.unionByName(p2)
      .orderBy(col("dup_of"), col("new_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    import s.implicits._
    pairs.toDF("dup_of", "new_id")
  }

  /** The dedup index over docs < 300, pooled: d10 probes it, d11
    * clones it, d12's lifecycle pool copies it. */
  private def dedupBase(s: SparkSession, d: String): String =
    FixturePool.readOnly(s"dedup-base300:$d", reclaimAtExit = true)(
      dir => Dedup.buildDedupIndexOf(
        docs(s, d).filter(col("doc_id") < 300), dir))

  /** Driver-visible gate (d12): CROSS-ENGINE dedup-index reads. The
    * Spark side lists the index's within-corpus near-dup pairs
    * ([[Dedup.selfPairsInIndex]] — stored sketches only); the DuckDB
    * side re-runs the SAME probe from the exported bytes alone:
    * `read_parquet` over the band partition files for candidates and
    * the pinned signature files for the matching-minima estimate. A
    * hash match proves the dedup-index layout is engine-portable.
    * The index spans a build plus an O(delta) append (two versions,
    * not a single-commit special case) and a takedown applied by
    * compaction — so the export carries maintenance history, and the
    * deleted document is absent from BOTH engines' answers. Work dir
    * intentionally outlives the gate — the driver's DuckDB pass
    * reads the exported files after this JVM exits. */
  def dedupIndexExportGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-dedup-export-gate")
    val idx = work.resolve("lsh").toString
    val all = docs(s, d)
    // the WHOLE lifecycle artifact pools once per JVM (build +
    // O(delta) append + a takedown applied by compaction — all
    // deterministic over the fixture); each run exports a private
    // copy, so the exported bytes still carry the full maintenance
    // history while the sweep pays the lifecycle exactly once
    val base = dedupBase(s, d)
    FixturePool.cloneTo(s"dedup-d12:$d", idx, reclaimAtExit = true) {
      dir =>
        // composed from the resolved base pool (a directory copy, not
        // a rebuild); the export reads the WORK clone, so the pool
        // itself reclaims at exit
        FixturePool.copyInto(base, dir)
        Dedup.appendToDedupIndex(s,
          all.filter(col("doc_id") >= 300 && col("doc_id") < 420), dir)
        Dedup.deleteFromDedupIndex(s,
          all.filter(col("doc_id") === 2L).select(col("doc_id")), dir)
        Dedup.compactDedupIndex(s, dir)
    }
    // refusal legs on a scratch pair (same contract, gate-scale
    // fixture): a live takedown blocks the export until compaction
    // applies it, and bands-shaped bytes without a sigs pin refuse
    import s.implicits._
    val tiny = work.resolve("tiny").toString
    Dedup.buildDedupIndexOf(Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("doc_id", "text"), tiny)
    Dedup.deleteFromDedupIndex(s, Seq(1L).toDF("doc_id"), tiny)
    val refusedTombs = Try(Dedup.exportDedupIndex(s, tiny)).isFailure
    val bogus = work.resolve("bogus").toString
    Versioned.commit(Versioned.read(s, idx).limit(2), bogus)
    val refusedUnpinned = Try(Dedup.exportDedupIndex(s, bogus)).isFailure
    val (bands, sigs) = Dedup.exportDedupIndex(s, idx)
    recordExport("d12_dedup_index_export",
      Export(Map("bands" -> bands, "sigs" -> sigs)))
    Dedup.selfPairsInIndex(s, idx)
      .withColumn("refused_tombs", flag(refusedTombs))
      .withColumn("refused_unpinned", flag(refusedUnpinned))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Driver-visible gate (d11): the dedup index's DELETE lifecycle —
    * the takedown path a training pipeline hits routinely. Index
    * docs < 300, probe the [300, 420) batch, tombstone every EVEN
    * corpus id ([[Dedup.deleteFromDedupIndex]]): the deleted docs stop
    * matching IMMEDIATELY (probe anti-join), a tombstoned id refuses
    * re-ingest while live, [[Dedup.compactDedupIndex]] applies the set
    * (post-compact probe unchanged), and the freed id re-ingests
    * cleanly — its pairs come back. Every count reduces to the exact
    * cross-boundary Jaccard pairs filtered by parity, which DuckDB
    * restates independently (the d10 precedent: LSH recall plus the
    * ≥9σ signature margin make the approximate pipeline reproduce
    * the exact answer). */
  def dedupIndexDeletesGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-dedup-del-gate") { work =>
      val idx = work.resolve("lsh").toString
      val all = docs(s, d)
      // the batch SKETCH persists across the gate's FOUR probes —
      // the batch never changes between them (deletes/compacts touch
      // the INDEX side), so shingling + minhashing it once and
      // re-joining against each evolving index state is both the
      // honest operator cost and four sketch passes cheaper
      val batch = all.filter(col("doc_id") >= 300 && col("doc_id") < 420)
      Dedup.requireOneRowPerDoc(batch, "dedupIndexDeletesGate")
      val sketch = Dedup.dedupSketchOf(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // same pooled base as d10 — this gate deletes/compacts its copy
      FixturePool.cloneTo(s"dedup-base300:$d", idx, reclaimAtExit = true)(
        dir => Dedup.buildDedupIndexOf(all.filter(col("doc_id") < 300), dir))
      def probePairs(): Seq[(Long, Long)] =
        Dedup.dedupProbeOf(s, sketch, idx)
          .select(col("dup_of"), col("new_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val before = probePairs()
      Dedup.deleteFromDedupIndex(s,
        all.filter(col("doc_id") < 300 && col("doc_id") % 2 === 0)
          .select(col("doc_id")), idx)
      val afterDelete = probePairs()
      val goneTomb = afterDelete.forall(_._1 % 2 == 1)
      // doc 0 is even, hence tombstoned — its re-ingest must refuse
      // while the tombstone is live (band/sig rows still on disk)
      val refused = Try(Dedup.appendToDedupIndex(s,
        all.filter(col("doc_id") === 0L), idx)).isFailure
      Dedup.compactDedupIndex(s, idx)
      val afterCompact = probePairs()
      // post-compact the id is free again: re-ingest the smallest
      // even doc that matched before (vacuously ok when none did —
      // DuckDB's NULL-filtered restatement agrees by SQL semantics)
      val reId = before.map(_._1).filter(_ % 2 == 0).sorted.headOption
      val reOk = reId.forall(id => Try(Dedup.appendToDedupIndex(s,
        all.filter(col("doc_id") === id), idx)).isSuccess)
      val afterReingest = probePairs()
      sketch.unpersist(blocking = false)
      import s.implicits._
      Seq((before.size.toLong, if (goneTomb) 1L else 0L,
          if (refused) 1L else 0L, afterDelete.size.toLong,
          afterCompact.size.toLong, if (reOk) 1L else 0L,
          afterReingest.size.toLong))
        .toDF("pairs_before", "gone_tombstoned", "refused_tombstoned",
          "pairs_after_delete", "pairs_after_compact", "reingest_ok",
          "pairs_after_reingest")
    }

  // —— BM25 postings index (t24, t29, q50) and decontamination (t30) ——

  /** The full-corpus text index, pooled: t24 probes the original
    * read-only; t29 ([[bm25DeletesGate]]) clones it for its
    * delete/compact lifecycle — one build per session either way. */
  private def cachedTextIndex(s: SparkSession, d: String): String =
    FixturePool.readOnly(s"text-index-full:$d", reclaimAtExit = true)(
      dir => TextAnalysis.buildTextIndex(s, d, dir))

  /** The t24 gate: the indexed probe must produce t23's EXACT result —
    * same oracle SQL, full hash match — so the index layout is proven
    * lossless, not just plausible. Build amortized per process (the
    * index's point); the timed bench run measures the probe. */
  def bm25SearchIndexedGate(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25SearchIndexed(s, cachedTextIndex(s, d),
      Seq("spark", "vector", "stream"), 20)

  /** The t29 gate: DELETE semantics of the persisted index, both
    * phases oracle-stated. Phase a (tombstoned): membership excludes
    * the deleted docs immediately and term df derives from the
    * survivors, while the corpus scalars stay AS-BUILT — the Lucene
    * staleness window, which the oracle restates exactly (full-corpus
    * n_docs/avgdl over survivor postings). Phase b (compacted): the
    * rewrite applied the tombstones and recomputed the scalars, so
    * scores equal a from-scratch build over the reduced corpus. The
    * flag columns pin the export contract around the window: raw
    * files with live tombstones refuse (they would resurrect the
    * deleted docs in a second engine), post-compact export succeeds.
    * The rows collect before the work dir goes. */
  def bm25DeletesGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-t29-index") { work =>
      val idx = work.resolve("postings").toString
      // t24's pooled full-corpus index, cloned: this gate tombstones
      // and compacts its private copy
      FixturePool.cloneTo(s"text-index-full:$d", idx, reclaimAtExit = true)(
        dir => TextAnalysis.buildTextIndex(s, d, dir))
      val terms = Seq("spark", "vector", "stream")
      TextAnalysis.deleteFromTextIndex(s,
        docsPlain(s, d).filter(col("doc_id") % 10 === 3)
          .select(col("doc_id")), idx)
      val refused = Try(TextAnalysis.exportTextIndex(s, idx)).isFailure
      val pre = TextAnalysis.bm25SearchIndexed(s, idx, terms, 20)
        .withColumn("phase", lit("a_tombstoned"))
      TextAnalysis.compactTextIndex(s, idx)
      val exportOk = Try(TextAnalysis.exportTextIndex(s, idx)).isSuccess
      val post = TextAnalysis.bm25SearchIndexed(s, idx, terms, 20)
        .withColumn("phase", lit("b_compacted"))
      materialized(s, pre.unionByName(post)
        .withColumn("export_refused_live", flag(refused))
        .withColumn("export_ok_after", flag(exportOk))
        .select(col("phase"), col("doc_id"), col("score"), col("n_terms"),
          col("export_refused_live"), col("export_ok_after"))
        .orderBy(col("phase"), col("doc_id")))
    }

  /** `df`'s rows as a local frame — safe to return after its inputs
    * are deleted. */
  private def materialized(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Driver-visible gate for CROSS-ENGINE INDEX reads — q50. The
    * Spark side probes the persisted index
    * ([[TextAnalysis.bm25SearchIndexed]]); the DuckDB side recomputes
    * BM25 from scratch over the index's OWN exported bytes —
    * `read_parquet` over the postings buckets and the pinned stats
    * file — so a hash match proves the INDEX layout (not just the
    * data-table layout, q47) is engine-portable: two engines, one set
    * of index bytes. The index is built over a corpus split (build +
    * one O(delta) append) so the export spans two postings versions
    * and the MERGED algebraic stats, not a single-commit special case;
    * an unpinned postings table must refuse. Work dir intentionally
    * outlives the gate — the driver's DuckDB pass reads the exported
    * files after this JVM exits. */
  def textIndexExportGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-index-export-gate")
    val corpus = docsPlain(s, d).select(col("doc_id"), col("text"))
    // the build + O(delta) append artifact pools once per JVM — the
    // export must span TWO postings versions and the MERGED algebraic
    // stats, which the pooled builder preserves exactly; export
    // resolution and the probe are read-only (pool dirs outlive the
    // JVM like the work dir, so the driver's DuckDB pass still reads
    // the exported files)
    val idx = FixturePool.readOnly(s"text-q50:$d") { dir =>
      val delta = pmod(hash(col("doc_id")), lit(5)) === 0
      TextAnalysis.buildTextIndexOf(corpus.filter(!delta), dir)
      TextAnalysis.appendToTextIndex(s, corpus.filter(delta), dir)
    }
    // the refusal IS part of the contract: postings-shaped bytes
    // without a stats pin must not export as an index
    val bogus = work.resolve("bogus").toString
    Versioned.commit(
      corpus.limit(2).select(col("doc_id"), lit(1.0d).as("dl"),
        lit("x").as("term"), lit(1.0d).as("tf"),
        lit(0).as("bucket")),
      bogus, partitionCol = Some("bucket"))
    val refused = Try(TextAnalysis.exportTextIndex(s, bogus)).isFailure
    val (postings, stats) = TextAnalysis.exportTextIndex(s, idx)
    recordExport("q50_index_export",
      Export(Map("postings" -> postings, "stats" -> stats)))
    TextAnalysis.bm25SearchIndexed(s, idx,
      Seq("spark", "vector", "stream"), 20)
      .withColumn("refused_unpinned", flag(refused))
  }

  /** Driver-visible gate (t30): the persisted decontamination index
    * reproduces [[TextAnalysis.decontaminate]]'s exact answer — index
    * the fixture's `% 50 == 0` bench slice once, sweep the rest of the
    * corpus against the stored rows, same (doc_id, n_bench_hits,
    * max_common) contract, same DuckDB oracle as t13. */
  def decontamIndexGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-decontam-index-gate") { work =>
      val idx = work.resolve("bench").toString
      val all = docsPlain(s, d)
      TextAnalysis.buildDecontamIndexOf(
        all.filter(col("doc_id") % 50 === 0)
          .withColumnRenamed("doc_id", "bench_id"), idx)
      val rows = TextAnalysis.decontaminateAgainstIndex(s,
        all.filter(col("doc_id") % 50 =!= 0), idx)
        .collect() // fixture-scale; materialized before the cleanup
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("doc_id", "n_bench_hits", "max_common")
    }

  // —— IVF / IVF-PQ cell indexes (q51, q56, s15) ——

  /** Cross-engine rank comparisons are only meaningful when the rank
    * boundary is gapped far above the engines' arithmetic skew (the
    * in-engine side multiplies float subvectors, the oracle computes
    * in double — ~1e-7 relative). The gates REFUSE a query whose
    * boundary gap is inside the noise floor instead of flaking. */
  private val RankGapFloor = 1e-5

  /** Query vector 0 probed against an index's pinned centroids — the
    * in-engine half the q51/q56 oracles restate: the cached `query`
    * row, the [[NProbe]] cells it probes (cosine descending, then
    * cell, the boundary gap-checked) and its `unit` vector, each
    * component divided by the norm and rounded to float as the
    * in-engine scoring sees it, widened back to double. */
  private final case class Query0(query: DataFrame, probed: Seq[Int],
      unit: Seq[Double])

  private def withQuery0[T](s: SparkSession, d: String, pins: IndexPins)(
      body: Query0 => T): T = {
    val query = Similarity.emb(s, d).filter(col("vec_id") === 0L).cache()
    try {
      val cellScores = query.join(broadcast(pins.sibling("centroids")))
        .select(col("cell"), (dot(col("c_emb"), col("embedding")) /
          (col("c_nrm") * col("nrm"))).as("c_cos"))
        .orderBy(col("c_cos").desc, col("cell"))
        .collect() // ≤ C rows by construction
      if (cellScores.length > NProbe) {
        val gap = cellScores(NProbe - 1).getDouble(1) -
          cellScores(NProbe).getDouble(1)
        require(gap > RankGapFloor,
          s"cell-rank boundary gap $gap is inside cross-engine float " +
            "noise — probe-cell choice would be engine-dependent")
      }
      val unit = query.select(transform(col("embedding"),
          x => (x / col("nrm")).cast("float").cast("double")).as("u"))
        .head().getSeq[Double](0)
      body(Query0(query,
        cellScores.take(NProbe).map(_.getLong(0).toInt).toSeq, unit))
    } finally query.unpersist()
  }

  /** The `k` best of `top` (sorted by column 1 descending, k+1 rows),
    * refused when the top-k boundary sits inside float noise. */
  private def gappedTopK(top: Array[Row], k: Int, score: String): Seq[Long] = {
    require(top.length > k, s"probed cells hold only ${top.length} " +
      s"vectors — cannot gap-check a top-$k boundary")
    val boundary = top(k - 1).getDouble(1) - top(k).getDouble(1)
    require(boundary > RankGapFloor,
      s"top-$k $score boundary gap $boundary is inside cross-engine " +
        "float noise — the candidate set would be engine-dependent")
    top.take(k).map(_.getLong(0)).sorted.toSeq
  }

  /** A pooled vector index over the corpus split into a build and one
    * O(delta) append (seeded quantizers → deterministic bytes), so
    * exports span two code versions under one quantization
    * generation. The delta slice spares the seed range: centroid
    * seeding and codebook seeding both draw from the first vectors by
    * id, and a codebook missing a seeded code would scramble every
    * POSITIONAL ADC slot after it. */
  private def splitIndex(s: SparkSession, d: String, key: String)(
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit): String =
    FixturePool.readOnly(s"$key:$d") { dir =>
      val corpus = Similarity.emb(s, d).filter(col("vec_id") >= NumQueries)
      val delta = pmod(hash(col("vec_id")), lit(5)) === 0 &&
        col("vec_id") >= NumQueries + 64
      build(corpus.filter(!delta), dir)
      append(corpus.filter(delta).select(col("vec_id"), col("embedding")),
        dir)
    }

  /** Driver-visible gate for CROSS-ENGINE VECTOR-INDEX reads — q51.
    * The Spark side ADC-probes the persisted IVF-PQ index (pinned
    * centroids pick the nProbe cells, the native `graft_pq_adc`
    * scores their code bytes); the DuckDB side recomputes the SAME
    * probe from the index's OWN exported bytes — hive-partition
    * pruned `read_parquet` over the code cells, centroid cosines and
    * per-subspace dot tables rebuilt from the pinned sibling files —
    * so a hash match proves the vector-index layout is
    * engine-portable: two engines, one set of index bytes. No float
    * rerank on either side: the thesis is that the index bytes ALONE
    * carry the probe (the rerank would touch the source store). The
    * output is the top-k candidate ID SET — scores are float-order
    * sensitive across engines, ranks with asserted boundary gaps are
    * not ([[RankGapFloor]]). An unpinned cell-partitioned table must
    * refuse. Work dir intentionally outlives the gate — the driver's
    * DuckDB pass reads the exported files after this JVM exits. */
  def vectorIndexExportGate(s: SparkSession, d: String): DataFrame = {
    val k = 20
    val work = java.nio.file.Files
      .createTempDirectory("graft-vindex-export-gate")
    val idx = splitIndex(s, d, "ivfpq-q51")(
      Similarity.buildIvfPqIndexOf(s, _, _),
      Similarity.appendToIvfPqIndex(s, _, _))
    // the refusal IS part of the contract: code-shaped bytes without
    // quantization pins must not export as an index
    val bogus = work.resolve("bogus").toString
    Versioned.commit(
      Similarity.emb(s, d).filter(col("vec_id") >= NumQueries).limit(2)
        .select(col("vec_id"), lit(0).as("cell"), col("nrm"),
          array(lit(0), lit(0)).cast("array<tinyint>").as("codes")),
      bogus, partitionCol = Some("cell"))
    val refused = Try(Similarity.exportVectorIndex(s, bogus)).isFailure
    val (codeFiles, centFiles, cbFiles) = Similarity.exportVectorIndex(s, idx)
    // in-engine ADC probe of query vector 0 — the same plan shape as
    // ivfPqTopKIndexed minus the rerank (index bytes only)
    val pins = IndexPins(s, idx)
    val (top, probed, unit) = withQuery0(s, d, pins) { q =>
      val qTab = Similarity.subvectors(q.query)
        .join(broadcast(pins.sibling("codebooks")), "j")
        .select((col("j") * PqCodes + col("code")).as("slot"),
          aggregate(zip_with(col("sub"), col("c_sub"),
            (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("dp"))
        .groupBy()
        .agg(transform(
          array_sort(collect_list(struct(col("slot"), col("dp")))),
          x => x("dp")).as("qtab"))
      val top = pins.head
        .filter(col("cell").isin(q.probed: _*))
        .crossJoin(broadcast(qTab))
        .select(col("vec_id"),
          call_function(GraftFunctions.PqAdcName,
            col("qtab"), col("codes")).as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(k + 1) // TakeOrdered: k+1 rows reach the driver
        .collect()
      (gappedTopK(top, k, "ADC"), q.probed, q.unit)
    }
    recordExport("q51_vector_index_export", Export(Map("codes" -> codeFiles,
      "centroids" -> centFiles, "codebooks" -> cbFiles), unit))
    import s.implicits._
    top.toDF("vec_id")
      .withColumn("n_probed", lit(probed.length.toLong))
      .withColumn("refused_unpinned", flag(refused))
  }

  /** Driver-visible gate for CROSS-ENGINE INT8-IVF INDEX reads — q56,
    * extending q51's probe-from-bytes proof to the second persisted
    * vector layout (s09's): cells store (q_emb int8, q_scale, nrm),
    * so a second engine reconstructs each member as q_emb×q_scale and
    * cosine-scores it directly — no codebooks, no ADC. The Spark side
    * runs the pruned-cell probe on the dequantized floats; DuckDB
    * recomputes the SAME top-k ID SET from the exported pair alone
    * (hive-pruned cell files + pinned centroid files). Built over a
    * corpus split (build + one O(delta) append at the pinned centroid
    * generation) so the export spans two code versions; boundary gaps
    * are refused inside the cross-engine float noise floor
    * ([[RankGapFloor]]) instead of flaking. */
  def int8IndexExportGate(s: SparkSession, d: String): DataFrame = {
    val k = 20
    val idx = splitIndex(s, d, "int8ivf-q56")(
      Similarity.buildIvfIndexOf(s, _, _, quantized = true),
      Similarity.appendToIvfIndex(s, _, _))
    val (cellFiles, centFiles, cbFiles) = Similarity.exportVectorIndex(s, idx)
    // in-engine probe of query 0 over the exported layout's values:
    // dequantized members, unit query, pruned cells — gap-checked
    val pins = IndexPins(s, idx)
    val (top, probed, unit) = withQuery0(s, d, pins) { q =>
      val qUnitF = q.query.select(transform(col("embedding"),
        x => (x / col("nrm")).cast("float")).as("qe"))
      val top = pins.head
        .filter(col("cell").isin(q.probed: _*))
        .crossJoin(broadcast(qUnitF))
        .select(col("vec_id"),
          (dot(transform(col("q_emb"),
              v => (v.cast("double") * col("q_scale")).cast("float")),
            col("qe")) / col("nrm")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(k + 1)
        .collect()
      (gappedTopK(top, k, "cosine"), q.probed, q.unit)
    }
    recordExport("q56_int8_index_export",
      Export(Map("cells" -> cellFiles, "centroids" -> centFiles), unit))
    import s.implicits._
    top.toDF("vec_id")
      .withColumn("n_probed", lit(probed.length.toLong))
      .withColumn("no_codebook_files", flag(cbFiles.isEmpty))
  }

  /** The s15 gate: DELETE semantics of the persisted IVF-PQ index.
    * An exact twin of query 0's embedding is appended (top-1 by
    * construction, cosine 1), deleted, and must vanish from every
    * result IMMEDIATELY (tombstone anti-join) and stay gone after
    * [[Similarity.compactIvfPqIndex]] applies the set; export refuses
    * while tombstones are live (raw code files would resurrect the
    * vector in a second engine) and succeeds after compaction. The
    * result row count pins that deletion never disturbs the other
    * candidates. */
  def vectorDeletesGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-s15-index") { work =>
      val idx = work.resolve("ivfpq").toString
      val e = Similarity.emb(s, d)
      // corpus bound, stated not silent: this gate proves DELETE
      // semantics — s12 owns recall at scale — and the gate must train
      // a FRESH quantization per call (it mutates the index, so the
      // shared pool is off the table). A deterministic ≤1500-vector
      // slice (the full corpus at small SFs) keeps the per-call build
      // bounded; every emitted fact is corpus-size independent
      // (probes return NumQueries x K rows regardless).
      val corpus = e.filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + 1500)
      Similarity.buildIvfPqIndexOf(s, corpus, idx)
      val twin = e.filter(col("vec_id") === 0L)
        .select(lit(3000000L).as("vec_id"), col("embedding"))
      Similarity.appendToIvfPqIndex(s, twin, idx)
      val store = corpus
        .select(col("vec_id"), col("embedding")).unionAll(twin)
      def probe(): DataFrame =
        Similarity.ivfPqTopKIndexed(s, d, idx, corpus = Some(store))
      val foundBefore = probe()
        .filter(col("query_id") === 0 && col("rank") === 1)
        .head().getLong(2) == 3000000L
      import s.implicits._
      Similarity.deleteFromVectorIndex(s, Seq(3000000L).toDF("vec_id"), idx)
      // the export refusal and the post-delete probe are independent
      // reads of the same published state — overlap them (guide §2.6);
      // the probe's two facts (twin gone, row count) fold into ONE
      // aggregate action
      val (refused, tombRow) = graft.tools.Overlap.concurrently2(
        () => Try(Similarity.exportVectorIndex(s, idx)).isFailure,
        () => probe().agg(count(lit(1)),
          coalesce(sum(when(col("neighbor_id") === 3000000L, 1L)
            .otherwise(0L)), lit(0L)))
          .head())
      val goneTomb = tombRow.getLong(1) == 0L
      val rows = tombRow.getLong(0)
      Similarity.compactIvfPqIndex(s, idx)
      val (exportOk, goneCompact) = graft.tools.Overlap.concurrently2(
        () => Try(Similarity.exportVectorIndex(s, idx)).isSuccess,
        () => probe().filter(col("neighbor_id") === 3000000L).isEmpty)
      Seq((if (foundBefore) 1L else 0L, if (goneTomb) 1L else 0L,
          if (refused) 1L else 0L, if (exportOk) 1L else 0L,
          if (goneCompact) 1L else 0L, rows))
        .toDF("twin_top1_before", "twin_gone_tombstoned",
          "export_refused_live", "export_ok_after",
          "twin_gone_compacted", "result_rows")
    }
}
