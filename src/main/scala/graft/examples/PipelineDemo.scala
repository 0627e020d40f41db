package graft.examples

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.{Tables, Versioned}

/** End-to-end training-data pipeline over the composable operator
  * surface — the integration a reference user runs daily, chained over
  * DataFrames instead of per-query table loads:
  *
  *   span-level substring dedup -> trained NB quality scoring ->
  *   quality/dedup curation -> near-dup cluster canonicalization ->
  *   language-stratified sampling -> token-budget packing ->
  *   versioned snapshot commit -> small-file compaction.
  *
  * Run: `sbt "runMain graft.examples.PipelineDemo [sfDir] [outDir]"`.
  * Prints PIPELINE_* count lines for smoke checking.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "target/tmp/pipeline-demo"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val spark = Sessions.get("graft-pipeline-demo")

    val raw = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // -1. the INCREMENTAL ingest loop a standing 100 TB corpus runs
    // daily: the first half of the corpus is "yesterday's" indexed
    // state (persisted MinHash-LSH band keys + signatures), today's
    // batch dedups against it in one pass and its survivors join the
    // index — the corpus itself is never re-hashed
    val lshIdx = s"$out/lsh_index"
    val mid = raw.agg(percentile_approx(col("doc_id"), lit(0.5),
      lit(100))).head().getLong(0)
    graft.operators.Dedup.buildDedupIndexOf(
      raw.filter(col("doc_id") < mid), lshIdx)
    val ingested = graft.operators.Dedup.ingestDedup(spark,
      raw.filter(col("doc_id") >= mid), lshIdx)
    // the verdict is the batch's ids joined with the drop set the
    // ingest materialized once: no index read, bounded by the batch,
    // so this action rescans only the batch's id column
    val verdict = ingested.groupBy(col("kept")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    println(s"PIPELINE_INGEST_KEPT=${verdict.getOrElse(true, 0L)}")
    println(s"PIPELINE_INGEST_DROPPED=${verdict.getOrElse(false, 0L)}")
    // 0a. span-level dedup FIRST: repeated 15-token windows (shared
    // boilerplate passages, near-copy spans) excised from every copy
    // before document-level gates see the text
    val spanClean = TextAnalysis.exactSubstrDedupOf(raw)
      .select(col("doc_id"), col("cleaned_text").as("text"))
    val docs = raw.join(spanClean.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .unionByName(spanClean.filter(length(col("text")) > 0))
    // 0b. trained quality filter: keep documents the naive-Bayes
    // classifier (fit on the labeled src0-4 slice) scores positive,
    // OR'd with the heuristic gates downstream — here demoed as a
    // reported count rather than a hard cut to keep the tail stages
    // populated at demo SF
    val nbKept = TextAnalysis.nbQualityFilter(spark, sfDir)
      .filter(col("kept") === 1L)
    // 1. gates + exact dedup, keeping canonical text per fingerprint
    val curated = TextAnalysis.curatedDocs(docs).cache()
    // 2. near-dup clusters over the corpus; keep ONE representative per
    // cluster — the minimum SURVIVING doc_id, so a cluster whose
    // canonical was dropped by the curation gates is still represented
    // by its best remaining member rather than vanishing
    val clusters = Dedup.dedupClusters(spark, sfDir)
    val survivors = curated.join(clusters, "doc_id")
    val reps = survivors.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("doc_id"))
    val canonical = survivors.join(reps, Seq("cluster_id", "doc_id"),
        "left_semi")
      .select(col("doc_id"), col("text")).cache()
    // 3. domain-level downsampling, two dials: a deterministic
    // per-source mixture rate (soft, proportional), then the skew-safe
    // hard per-source ceiling — together: no source dominates, and the
    // mixture is tunable between runs without churning the kept set
    val capped = canonical
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("source")), "doc_id")
    val mixed = TextAnalysis.mixtureSampleOf(capped,
      rates = Map("src0" -> 1.0, "src1" -> 0.9), defaultRate = 0.85)
    val kept = TextAnalysis.sourceCapSkewSafeOf(
      capped.join(mixed.select(col("doc_id")), "doc_id"), perSource = 20)
      .select(col("doc_id"))
    // 4. LM-score the survivors; drop the highest-surprisal tail
    // (gibberish / boilerplate-ID heavy documents)
    val scored = TextAnalysis.lmScoreOf(
      canonical.join(kept, "doc_id"))
    val cut = scored.agg(
      expr("percentile_approx(lm_score, 0.95)")).head().getDouble(0)
    val clean = canonical.join(
      scored.filter(col("lm_score") <= cut).select(col("doc_id")),
      "doc_id")
    // 5. balance across predicted languages
    val sampled = TextAnalysis.stratifiedSampleOf(clean, perStratum = 40)
    // 6. deterministic training order: shuffle-shard the sample
    val sharded = TextAnalysis.shuffleShardOf(
      clean.join(sampled.select(col("doc_id")), "doc_id"))
    // 7. pack the sampled docs into token-budget bins
    val packed = TextAnalysis.sequencePackingOf(
      clean.join(sampled.select(col("doc_id")), "doc_id"),
      budget = 2048)
    // 8. publish as a snapshot, then compact the small files
    val dir = s"$out/corpus"
    Versioned.commit(packed, dir)
    val v2 = Versioned.compact(spark, dir)

    val published = Versioned.read(spark, dir)
    println(s"PIPELINE_SPAN_DEDUPED=${spanClean.count()}")
    println(s"PIPELINE_NB_KEPT=${nbKept.count()}")
    println(s"PIPELINE_CURATED=${curated.count()}")
    println(s"PIPELINE_CANONICAL=${canonical.count()}")
    println(s"PIPELINE_MIXED=${mixed.count()}")
    println(s"PIPELINE_CAPPED=${kept.count()}")
    println(s"PIPELINE_CLEAN=${clean.count()}")
    println(s"PIPELINE_SAMPLED=${sampled.count()}")
    println(s"PIPELINE_SHARDS=${sharded
      .agg(countDistinct(col("shard"))).head().getLong(0)}")
    println(s"PIPELINE_PACKED=${published.count()} v=$v2")
    println(s"PIPELINE_BINS=${published.agg(max(col("bin")))
      .head().getLong(0) + 1}")
    spark.stop()
  }
}
