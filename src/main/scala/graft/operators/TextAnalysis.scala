package graft.operators

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Tables, Versioned}

/** Text-analysis operators over the `documents` fixture — the
  * language-ID / quality-scoring / token-counting / fingerprinting side of
  * a training-data pipeline (north-star extensions; the reference's only
  * string work is a date_format, csv_to_ice.py:25).
  *
  * Everything here is built from codegen'd builtin expressions (regexp_*,
  * split, md5) — no UDFs — so the whole pipeline stays inside whole-stage
  * codegen and scales embarrassingly parallel (per-row, no shuffle until
  * the final aggregate/sort).
  */
object TextAnalysis {

  // The fixture parquet is a single row group, so a plain scan runs any
  // per-row work on ONE task; [[docs]] round-robins it across cores
  // first. Whether the extra exchange pays for itself is an empirical
  // per-operator call, not a heavy-vs-cheap rule: each call site below
  // uses whichever of docs/docsPlain benchmarked faster for that
  // operator at sf0.1 (spread won for the scoring/langid/fingerprint
  // family; the exchange cost more than it bought for rollingFingerprints,
  // tokenCounts and curationPipeline). A real 100 TB table gets its scan
  // parallelism from file splits and needs neither.
  private def docs(s: SparkSession, d: String) =
    Tables.loadSpread(s, d, "documents")

  private def docsPlain(s: SparkSession, d: String) =
    Tables.load(s, d, "documents")

  /** Whitespace tokenizer used across the module (and mirrored in the
    * DuckDB oracles as regexp_split_to_array). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def nTokens(c: Column): Column = size(tokens(c)).cast("long")

  /** Per-document surface statistics: chars, tokens, mean token length. */
  def textStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        nTokens(col("text")).as("n_tokens"),
        (length(col("text")).cast("double") / nTokens(col("text")))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))

  /** Quality scoring: stopword ratio + punctuation density + mean token
    * length — the standard cheap heuristics for filtering web text. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val stopHits = regexp_count(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is|it)\\b")).cast("long")
    val punct = regexp_count(col("text"), lit("[.,;:!?]")).cast("long")
    docs(s, d)
      .select(
        col("doc_id"),
        stopHits.as("stop_hits"),
        punct.as("punct_hits"),
        (stopHits.cast("double") / nTokens(col("text"))).as("stop_ratio"),
        (punct.cast("double") / length(col("text"))).as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Language ID by stopword-hit voting over four language profiles.
    * Argmax with a fixed priority tie-break (en > de > fr > es) so the
    * result is deterministic and oracle-reproducible. The DataFrame
    * overload composes over any (doc_id, text) frame (a curated subset,
    * a versioned snapshot); the (session, dir) form feeds the driver
    * contract. */
  def langIdOf(docsDf: DataFrame): DataFrame = {
    def score(pat: String): Column =
      regexp_count(lower(col("text")), lit(pat)).cast("long")
    val en = score("\\b(the|and|of|to|in|is|was|for)\\b")
    val de = score("\\b(der|die|das|und|ist|nicht|mit|ein)\\b")
    val fr = score("\\b(le|les|une|et|est|pas|pour|dans)\\b")
    val es = score("\\b(el|los|las|es|no|por|para|como)\\b")
    docsDf
      .select(col("doc_id"), en.as("s_en"), de.as("s_de"), fr.as("s_fr"),
        es.as("s_es"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
          col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .select(col("doc_id"), col("pred_lang"), col("s_en"), col("s_de"),
        col("s_fr"), col("s_es"))
      .orderBy(col("doc_id"))
  }

  def langId(s: SparkSession, d: String): DataFrame = langIdOf(docs(s, d))

  /** Normalized-text fingerprint: md5 over whitespace-collapsed lowercase
    * text. The exact-dedup key; md5 is deliberately chosen because every
    * engine computes the identical digest (cross-engine reproducible,
    * unlike engine-local hash64s). */
  def fingerprintCol(c: Column): Column =
    md5(regexp_replace(trim(lower(c)), "\\s+", " ").cast("binary"))

  def fingerprints(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), fingerprintCol(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Exact deduplication via fingerprint group: keep the lowest doc_id per
    * normalized text, report the copy count. Hash-partition shuffle on the
    * digest — at 100 TB this is the one-pass exact-dedup plan (no sort,
    * no pairwise compare). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(fingerprintCol(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))

  /** Rolling-hash (winnowed Karp-Rabin) fingerprints via the native
    * graft_rolling_minhash expression — the fast, edit-tolerant
    * complement to the exact md5 fingerprint. Engine-local values, so
    * the driver check is rows-only; RollingHashSpec pins exact values. */
  def rollingFingerprints(s: SparkSession, d: String): DataFrame =
    docsPlain(s, d)
      .select(col("doc_id"),
        call_function("graft_rolling_minhash",
          regexp_replace(trim(lower(col("text"))), "\\s+", " "))
          .as("rolling_fp"))
      .orderBy(col("doc_id"))

  /** BPE-style subword-ish token counting: the GPT-2 pre-tokenizer shape
    * (letter runs | digits | non-space symbols), counted with a single
    * regexp pass — the cheap proxy for "LLM token count" used to budget
    * training corpora. Compared against the whitespace count. */
  def tokenCounts(s: SparkSession, d: String): DataFrame = {
    val bpeish = regexp_count(col("text"),
      lit("\\p{L}+|\\p{N}|[^\\s\\p{L}\\p{N}]")).cast("long")
    docsPlain(s, d)
      .select(
        col("doc_id"),
        nTokens(col("text")).as("ws_tokens"),
        bpeish.as("bpeish_tokens"),
        (col("n_chars").cast("double") / bpeish).as("chars_per_bpeish"))
      .orderBy(col("doc_id"))
  }

  /** Rows of (doc_id, pred_lang, fp) feeding the stratified sample —
    * exposed for the spec that checks the pre-filter's superset bound. */
  def stratifiedBaseOf(docsDf: DataFrame): DataFrame =
    langIdOf(docsDf)
      .select(col("doc_id"), col("pred_lang"))
      .join(docsDf
        .select(col("doc_id"), fingerprintCol(col("text")).as("fp")),
        "doc_id")

  def stratifiedBase(s: SparkSession, d: String): DataFrame =
    stratifiedBaseOf(docs(s, d))

  /** The fingerprint-prefix pre-filter: per stratum, keep only documents
    * whose first-two-hex-chars fingerprint bucket is needed to fill the
    * quota. Bucket order equals fingerprint order (fixed-width lowercase
    * hex prefix), so every document with fp-rank <= perStratum sits in a
    * bucket whose exclusive prefix count is < perStratum — the filter is
    * a guaranteed superset of the sample. The histogram is #strata x 256
    * rows however large the corpus is, so its cumulative window is
    * bounded; the corpus itself only flows through a broadcast-joined
    * filter. */
  def stratifiedSuperset(base: DataFrame, perStratum: Int): DataFrame = {
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang")).orderBy(col("bk"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val bucketed = base.withColumn("bk",
      conv(substring(col("fp"), 1, 2), 16, 10).cast("int"))
    val cut = bucketed.groupBy(col("pred_lang"), col("bk"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(wcum))
      .filter(col("cum") - col("n") < perStratum) // quota not yet filled
      .groupBy(col("pred_lang")).agg(max(col("bk")).as("cut_bk"))
    bucketed.join(broadcast(cut), "pred_lang")
      .filter(col("bk") <= col("cut_bk"))
      .select(col("doc_id"), col("pred_lang"), col("fp"))
  }

  /** Deterministic stratified subsample — the corpus-balancing step of a
    * training-data pipeline: within each predicted language keep the
    * first `perStratum` documents in md5-fingerprint order. The
    * fingerprint is a cross-engine-reproducible pseudo-random ordering
    * (md5 is identical everywhere, unlike engine-local hash64s), so the
    * "random" sample is stable across engines and runs.
    *
    * The per-stratum rank window only ever sees the
    * [[stratifiedSuperset]] pre-filter's output — a bounded superset of
    * the quota (roughly perStratum plus one fingerprint bucket's worth
    * per stratum) — so window parallelism equal to the stratum count
    * stops mattering: each partition ranks ~quota rows no matter how
    * large the corpus or how few the strata. */
  def stratifiedSampleOf(docsDf: DataFrame, perStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang")).orderBy(col("fp"), col("doc_id"))
    // Cached: the pre-filter consumes the (regex-scored) base twice —
    // once for its bucket histogram, once for the filtered scan. At
    // production scale this intermediate is a persisted stage table.
    stratifiedSuperset(stratifiedBaseOf(docsDf).cache(), perStratum)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perStratum)
      .select(col("doc_id"), col("pred_lang"), col("fp"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("pred_lang"), col("rk"))
  }

  def stratifiedSample(s: SparkSession, d: String,
      perStratum: Int = 50): DataFrame =
    stratifiedSampleOf(docs(s, d), perStratum)

  /** Token-budget sequence packing — assign documents (in doc_id order)
    * to fixed-budget context-window bins by exclusive cumulative token
    * count: bin = floor((cumsum - n_tokens) / budget). This is the
    * streaming-chunk approximation of greedy packing (a bin may overrun
    * by one document's tail, never undershoot); exact greedy close-on-
    * overflow is inherently sequential, so the cumulative sum is computed
    * scale-safely in two passes: bucket documents into ordered doc_id
    * ranges, aggregate per-bucket token totals (B scalars to the driver),
    * broadcast the exclusive bucket-prefix offsets back, and run the
    * cumulative window per bucket — every window partition is a bounded
    * range, nothing orders the whole corpus through one task. Bucket
    * boundaries affect only load balance, never the result: cum_tokens of
    * a doc is the sum over all lower doc_ids regardless of where the
    * cuts fall. [[sequencePackingGlobalWindow]] keeps the one-window
    * formulation as the reference contract; a spec asserts the two agree
    * row-for-row. */
  def sequencePacking(s: SparkSession, d: String,
      budget: Long = 4096, buckets: Int = 32): DataFrame =
    sequencePackingOf(docs(s, d), budget, buckets)

  def sequencePackingOf(docsDf: DataFrame,
      budget: Long = 4096, buckets: Int = 32): DataFrame = {
    val s = docsDf.sparkSession
    val toks = docsDf
      .select(col("doc_id"), nTokens(col("text")).as("n_tokens"))
    // Deterministic ordered ranges from the doc_id span. A production
    // table with a skewed id space would take its breakpoints from an
    // approx-quantile sketch instead — the math below is unchanged
    // because correctness never depends on the boundaries.
    val Array(span) = toks.agg(
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).collect()
    if (span.isNullAt(0)) // empty corpus: keep the output schema
      return toks.withColumn("cum_tokens", lit(0L)).withColumn("bin", lit(0L))
    val lo = span.getLong(0)
    val width = math.max(1L, (span.getLong(1) - lo) / buckets + 1)
    // `div` is integral division (`/` on Columns is double division,
    // which loses exactness past 2^53 on a wide id space).
    val bucketed = toks.withColumn("bk",
      expr(s"(doc_id - ${lo}L) div ${width}L"))
    // Pass 1: per-bucket totals -> exclusive prefix offsets. One row per
    // bucket crosses to the driver (bounded by the bucket count, not the
    // data), and the offsets go back as a broadcast join.
    val totals = bucketed.groupBy(col("bk"))
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = totals.toSeq.map { case (bk, t) =>
      val o = (bk, acc); acc += t; o
    }
    val offDf = s.createDataFrame(offsets).toDF("bk", "offset")
    // Pass 2: bucket-local cumulative sum + the bucket's offset.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bk")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    bucketed.join(broadcast(offDf), "bk")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w) + col("offset"))
      .withColumn("bin",
        floor((col("cum_tokens") - col("n_tokens")) / budget))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("bin"))
      .orderBy(col("doc_id"))
  }

  /** Reference formulation of [[sequencePacking]]: one unpartitioned
    * cumulative window — the simplest statement of the contract, and the
    * plan you must NOT run at scale (Spark funnels the entire corpus
    * through a single task to order it). Kept for the spec that proves
    * the two-pass plan computes the identical result. */
  def sequencePackingGlobalWindow(s: SparkSession, d: String,
      budget: Long = 4096): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(s, d)
      .select(col("doc_id"), nTokens(col("text")).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        floor((col("cum_tokens") - col("n_tokens")) / budget))
      .orderBy(col("doc_id"))
  }

  /** Character-entropy quality score — the information-theoretic
    * curation signal (low-entropy docs are repetitive boilerplate,
    * near-random bytes are binary junk): Shannon entropy in bits over
    * the per-document character distribution. One explode + two hash
    * aggregates, partial-combined on (doc, char) then (doc) — no
    * windows, embarrassingly parallel. */
  def charEntropy(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * log2(col("c"))).as("clc"))
      .select(col("doc_id"), col("n").cast("long").as("n_chars"),
        (log2(col("n")) - col("clc") / col("n")).as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary extraction: the k most frequent whitespace tokens per
    * predicted language, exactly, via the native string top-k aggregate
    * ([[graft.functions.TopKStringsAgg]]). Token counting is one
    * explode + hash aggregate on (lang, token); the per-language top-k
    * then folds partition-locally, so only #langs x k entries cross the
    * final shuffle — a rank window partitioned by language would pull
    * the whole vocabulary (which grows with corpus size) into #langs
    * tasks. Tie-break (count desc, token asc) keeps the result
    * deterministic and oracle-reproducible. */
  def topTokens(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val counts = langId(s, d).select(col("doc_id"), col("pred_lang"))
      .join(docs(s, d).select(col("doc_id"), col("text")), "doc_id")
      .select(col("pred_lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("pred_lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("pred_lang"))
      .agg(call_function(graft.functions.GraftFunctions.TopKStrName,
        col("cnt").cast("double"), col("token"), lit(k)).as("top"))
      .select(col("pred_lang"), posexplode(col("top")))
      .select(col("pred_lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.token").as("token"),
        col("col.score").cast("long").as("cnt"))
      .orderBy(col("pred_lang"), col("rank"))
  }

  /** Curation gate returning the SURVIVING documents (canonical text per
    * normalized fingerprint, keep-lowest-doc_id) — the composable stage
    * [[graft.examples.PipelineDemo]] chains into sampling and packing;
    * [[curationPipeline]] is the metric view of the same gates. One
    * min_by-style struct-min aggregate keyed on the digest: the same
    * one-pass exact-dedup shuffle shape as [[dedupExact]]. */
  def curatedDocs(docsDf: DataFrame): DataFrame = {
    val stopHits = regexp_count(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is|it)\\b")).cast("long")
    docsDf
      .withColumn("n_tokens", nTokens(col("text")))
      .withColumn("stop_ratio", stopHits.cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 10 && col("stop_ratio") >= 0.01)
      .groupBy(fingerprintCol(col("text")).as("fp"))
      .agg(min(struct(col("doc_id"), col("text"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.text").as("text"))
  }

  /** Composed curation pipeline — the end-to-end shape of a training-data
    * cleaning job: language-gate, quality-gate (stopword ratio), then
    * exact-dedup keep-first, emitting the surviving corpus with its
    * metrics. Every stage is a narrow projection/filter until the single
    * dedup shuffle. */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val stopHits = regexp_count(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is|it)\\b")).cast("long")
    val scored = docsPlain(s, d)
      .withColumn("n_tokens", nTokens(col("text")))
      .withColumn("stop_ratio",
        stopHits.cast("double") / col("n_tokens"))
      .withColumn("fp", fingerprintCol(col("text")))
    scored
      .filter(col("n_tokens") >= 10 && col("stop_ratio") >= 0.01)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"),
        min(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Intra-document REPETITION signals — the published Gopher-family
    * quality battery that catches degenerate/boilerplate text the
    * corpus-level dedup never sees: the fraction of duplicated 3-gram
    * shingles, the most frequent 2-/3-/4-gram's share of all the
    * document's n-grams at that length (Gopher's top-n-gram rules, with
    * its 0.18/0.16 thresholds for 3-/4-grams), and the duplicate-line
    * fraction (threshold 0.30), with a flag when any rule breaches. The
    * distinct-3-gram count reuses the native
    * [[graft.functions.ShingleHashes]] single-pass build; the
    * duplicate-line fraction is pure per-row array math; the n-gram
    * modes for all three lengths ride ONE partial-aggregated
    * (doc, n, gram) count — shuffle rows bounded by distinct n-grams,
    * never corpus tokens — so the whole battery is embarrassingly
    * parallel plus one bounded exchange. */
  def repetitionSignals(s: SparkSession, d: String): DataFrame =
    // spread, not plain: since the per-row native kernel took over the
    // n-gram modes, ALL of the battery's work happens in the scan
    // stage — on the single-row-group fixture that is ONE task without
    // the round-robin (measured at a 10x tiled fixture: 8.4 s at 32
    // cores = no scaling at all; spread restores data-parallelism).
    // A real table gets this from file splits.
    repetitionSignalsFor(docs(s, d))

  /** [[repetitionSignals]] over an arbitrary (doc_id, text) frame —
    * split out so the spec can drive multi-line/degenerate synthetic
    * docs through the exact production plan. */
  def repetitionSignalsFor(docsDf: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val base = docsDf
      .select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("toks"),
        call_function(graft.functions.GraftFunctions.ShingleHashesName,
          trim(lower(col("text"))), lit(3)).as("sh3"),
        call_function(graft.functions.GraftFunctions.GramTopSharesName,
          trim(lower(col("text"))), lit(2), lit(4)).as("shares"),
        (lit(1.0) - size(array_distinct(lines)).cast("double") /
          size(lines)).as("dup_line_frac"))
      .filter(size(col("toks")) >= 3)
    // The top-n-gram share is a PER-DOCUMENT statistic: every n-gram
    // of a document lives in its own row, so the mode needs no corpus
    // exchange at all — [[graft.functions.GramTopShares]] tokenizes
    // once and returns all three lengths' shares from one per-row
    // native pass. The r18 shape exploded every (doc, n, gram) into
    // rows and paid one 13.6 MB exchange plus two more aggregation
    // exchanges and a join to reassemble; all of them are gone (guide
    // §2.4: remove shuffles outright — the decision is per-row, so
    // nothing needs to move). Shares are count-by-hash-identity,
    // identical to the gram strings up to 64-bit collisions (~1e-7,
    // the documented shingle discipline).
    base.select(col("doc_id"),
        (lit(1.0) - size(col("sh3")).cast("double") /
          (size(col("toks")) - 2)).as("dup3_frac"),
        col("shares").getItem(0).as("top2_frac"),
        col("shares").getItem(1).as("top3_frac"),
        // a 3-token doc has no 4-grams: nothing repeats, share 0
        coalesce(col("shares").getItem(2), lit(0.0)).as("top4_frac"),
        col("dup_line_frac"))
      .withColumn("flagged",
        (col("dup3_frac") > 0.05 || col("top2_frac") > 0.05 ||
          col("top3_frac") > 0.18 || col("top4_frac") > 0.16 ||
          col("dup_line_frac") > 0.30).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark DECONTAMINATION — the training-data step that flags
    * corpus documents overlapping an evaluation set (n-gram overlap is
    * the standard published methodology): every training doc sharing
    * ≥ `minCommon` distinct 3-gram shingles with any benchmark doc is
    * reported with its hit count. `benchDocs` is the external eval set
    * as a (bench_id, text) frame; absent, the deterministic fixture
    * slice `doc_id % 50 == 0` stands in for one (and is excluded from
    * the corpus side).
    *
    * Scale shape: the corpus shingle index is built ONCE (persisted
    * around its two fixture-slice consumers — at 100 TB it is a
    * first-class persisted table, see SCALING.md) and the benchmark
    * side is eval-set-sized, so AQE broadcasts it from its measured
    * runtime size — no forced hint, so a mis-sized benchmark degrades
    * to a shuffle join instead of an executor OOM. The sweep is one
    * hash join over the corpus shingles; the only exchange is the
    * per-(doc, bench) partial-aggregated count. Reuses
    * [[Dedup.shingleRows]]' hashed inverted-index build (one per-doc
    * native-expression pass, 8-byte join keys). */
  // at most ONE cached shingle index per session (see decontaminate)
  private val shingleCache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, DataFrame]()

  def decontaminate(s: SparkSession, d: String,
      minCommon: Int = 5,
      benchDocs: Option[DataFrame] = None): DataFrame = {
    val (corpus, bench) = benchDocs match {
      case Some(b) =>
        // external eval set: shingle it with the same native pass; the
        // whole corpus participates
        (Dedup.shingleRows(s, d),
          b.select(col("bench_id"), explode(call_function(
            graft.functions.GraftFunctions.ShingleHashesName,
            trim(lower(col("text"))), lit(3))).as("shingle")))
      case None =>
        // both join sides consume the returned LAZY frame, so the
        // index cannot be unpersisted here without recomputing it per
        // side — at real scale the index is a persisted TABLE with its
        // own lifecycle ([[buildDecontamIndexOf]] /
        // [[decontaminateAgainstIndex]], t30), not session cache. Lifetime is
        // bounded to ONE cached index per session — but with a
        // sameResult check first: Spark's CacheManager keys cached
        // data by CANONICALIZED PLAN, so a repeat call over the same
        // directory builds a frame that maps onto the PREVIOUS call's
        // cache entry, and a put-then-unpersist of the old frame would
        // drop that shared entry and leave the new frame uncached
        // (re-measuring the double index build). Reuse the previous
        // frame when the plans agree; swap only on a genuinely new
        // input (different sfDir).
        shingleCache.keySet.removeIf(_.sparkContext.isStopped)
        val fresh = Dedup.shingleRows(s, d)
        val sh = shingleCache.compute(s, (_, prev) =>
          // storageLevel guard: see percentileNormOf — a clearCache()
          // between calls empties the entry; reuse only a LIVE cache
          if (prev != null && prev.storageLevel !=
                org.apache.spark.storage.StorageLevel.NONE &&
              prev.queryExecution.analyzed
              .sameResult(fresh.queryExecution.analyzed)) prev
          else {
            if (prev != null) prev.unpersist(false)
            fresh.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          })
        (sh.filter(col("doc_id") % 50 =!= 0),
          sh.filter(col("doc_id") % 50 === 0)
            .withColumnRenamed("doc_id", "bench_id"))
    }
    corpus.join(bench, "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        max(col("common")).as("max_common"))
      .orderBy(col("doc_id"))
  }

  // —— persisted DECONTAMINATION index ——
  // [[decontaminate]]'s own comment says it: at real scale the eval
  // set's shingle index is a persisted TABLE with its own lifecycle,
  // not session cache — benchmark suites change rarely (a new release
  // appends), while the corpus sweep runs per training batch. The
  // index stores the eval set's (bench_id, shingle-hash) rows once;
  // each corpus sweep shingles only ITS OWN documents and joins.

  /** The ONE shingle-row projection every decontam-index side uses —
    * a single definition, so the stored index and the sweep side can
    * never drift apart in tokenization or n. */
  private def decontamShingleRows(df: DataFrame,
      idCol: String): DataFrame =
    df.select(col(idCol),
      explode(call_function(
        graft.functions.GraftFunctions.ShingleHashesName,
        trim(lower(col("text"))), lit(3))).as("shingle"))

  /** Duplicate (or null) bench_ids within one input frame would bake
    * doubled shingle rows into the persisted index — `common` counts
    * inflate forever. Refuse up front, like every other index. */
  private def requireOneRowPerBench(df: DataFrame, what: String): Unit = {
    val pre = df.agg(count(lit(1)), count(col("bench_id")),
      count_distinct(col("bench_id"))).head()
    require(pre.getLong(0) == pre.getLong(1) &&
      pre.getLong(1) == pre.getLong(2),
      s"$what needs one row per non-null bench_id — duplicate or " +
        "null ids would double their shingle rows and inflate " +
        "containment counts")
  }

  /** Build the eval-set shingle index at `indexDir`: one row per
    * (bench doc, distinct 3-gram hash), shingle-hashed by the same
    * native pass the corpus side uses, so containment decisions are
    * bit-identical to [[decontaminate]]'s. Eval sets are small
    * relative to corpora (thousands of docs), so the probe broadcasts
    * the index; shingle stats still ride each file for pruned reads. */
  def buildDecontamIndexOf(benchDocs: DataFrame,
      indexDir: String): Unit = {
    requireOneRowPerBench(benchDocs, "buildDecontamIndexOf")
    Versioned.commit(decontamShingleRows(benchDocs, "bench_id"),
      indexDir, statsCols = Seq("shingle"))
  }

  /** O(delta) maintenance for a NEW benchmark release: append its
    * shingle rows. Already-indexed bench_ids refuse — re-appending
    * would double their rows and inflate `common` counts. */
  def appendToDecontamIndex(s: SparkSession, newBench: DataFrame,
      indexDir: String): Unit = {
    require(Versioned.currentVersion(s, indexDir) > 0,
      s"$indexDir is not a built decontamination index " +
        "(buildDecontamIndexOf first)")
    requireOneRowPerBench(newBench, "appendToDecontamIndex")
    val clash = Versioned.read(s, indexDir).select(col("bench_id"))
      .distinct()
      .join(newBench.select(col("bench_id")).distinct(),
        Seq("bench_id"), "left_semi").limit(5).collect()
      .map(_.getLong(0))
    require(clash.isEmpty,
      s"appendToDecontamIndex: bench_ids ${clash.mkString(", ")} are " +
        s"already indexed in $indexDir — re-appending would double " +
        "their shingle rows and inflate containment counts")
    Versioned.append(decontamShingleRows(newBench, "bench_id"),
      indexDir, statsCols = Seq("shingle"))
  }

  /** Sweep a corpus against the PERSISTED eval index — identical
    * semantics (and results) to [[decontaminate]] with an external
    * bench set: per (doc, bench doc) common-shingle counts at
    * `minCommon`, rolled up per doc. Only the corpus side is shingled
    * per sweep; the index side broadcasts (eval-set-scale). */
  def decontaminateAgainstIndex(s: SparkSession, docs: DataFrame,
      indexDir: String, minCommon: Int = 5): DataFrame = {
    require(Versioned.currentVersion(s, indexDir) > 0,
      s"$indexDir is not a built decontamination index " +
        "(buildDecontamIndexOf first)")
    decontamShingleRows(docs, "doc_id")
      .join(broadcast(Versioned.read(s, indexDir)), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        max(col("common")).as("max_common"))
      .orderBy(col("doc_id"))
  }

  // —— PII redaction (curation scrubbing stage) ——

  /** PII patterns, restricted to the RE2 ∩ Java-regex COMMON SUBSET
    * (no lookaround, no backreferences) so the DuckDB oracle and any
    * RE2-based downstream scrubber match byte-for-byte what Spark's
    * codegen'd regexp_replace matches. Order matters and is part of
    * the contract: emails first (their local parts contain digits a
    * phone pattern could nibble), then phones, then IPv4 (whose
    * dotted digits neither earlier pattern can touch — dots are
    * outside the phone class). */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
  val PiiIp = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Redact emails/phones/IPv4s in a text column with typed
    * placeholders — the pre-training scrubbing stage every curation
    * pipeline runs before packing. Pure codegen'd regexp_replace
    * chain: embarrassingly parallel, no shuffle, no UDF — at 100 TB
    * this runs at scan speed alongside the other per-document maps
    * ([[textStats]]/[[qualityScore]]) in one stage. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      PiiEmail, "<EMAIL>"),
      PiiPhone, "<PHONE>"),
      PiiIp, "<IP>")

  // —— context-window chunking (curation → packing bridge) ——

  /** Shard each document's token stream into fixed-size overlapping
    * windows — the context-window chunking step between curation and
    * [[packSequences]]: window `window` tokens, stride `stride`
    * (overlap = window − stride), chunk k starting at token
    * k × stride, windows emitted while their start is inside the
    * document (the final chunks run short rather than padding).
    * Tokenization is the engine-wide whitespace split, so chunk
    * boundaries agree with [[tokenCounts]]/[[decontaminate]].
    *
    * Scale shape: one narrow explode per document (fan-out bounded by
    * n_tokens / stride), no shuffle, no UDF — the `sequence`/`slice`/
    * `array_join` chain is all codegen'd builtins, so at 100 TB this
    * runs at scan speed in the same stage as the per-document maps.
    * The deterministic ORDER BY exists for the oracle; drop it (and
    * its sort) in a pipeline. */
  def chunkDocuments(docs: DataFrame, window: Int = 64,
      stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got stride=$stride window=$window")
    val toks = split(trim(lower(col("text"))), "\\s+")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1,
          lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        array_join(slice(col("toks"), col("start") + 1, lit(window)),
          " ").as("chunk_text"),
        size(slice(col("toks"), col("start") + 1, lit(window)))
          .cast("long").as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** The t16 gate: chunk the documents table at the 64/48 default. */
  def chunkDocs(s: SparkSession, d: String): DataFrame =
    chunkDocuments(graft.sources.Tables.load(s, d, "documents"))

  /** The t15 gate: the synthetic corpus carries no PII, so the query
    * GRAFTS deterministic PII onto every document from its id (an
    * email, a phone, an IPv4 — plus the pristine text), then redacts
    * and counts. The oracle performs the identical construction +
    * redaction in DuckDB, so the hash compare covers the full
    * redacted strings, not just the counts. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val docs = graft.sources.Tables.load(s, d, "documents")
    val raw = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-"),
      lpad(col("doc_id").cast("string"), 6, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".1 end"))
    docs.select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        redactPii(col("raw")).as("redacted"),
        regexp_count(col("raw"), lit(PiiEmail)).cast("long")
          .as("n_emails"),
        regexp_count(col("raw"), lit(PiiPhone)).cast("long")
          .as("n_phones"),
        regexp_count(col("raw"), lit(PiiIp)).cast("long")
          .as("n_ips"))
      .orderBy(col("doc_id"))
  }

  // —— unigram LM scoring (corpus-statistics quality signal) ——

  /** Unigram language-model score per document — the simplified CCNet
    * move (CCNet filters on LM perplexity; the unigram model is its
    * engine-shaped core): build the token→count model FROM THE CORPUS
    * (one aggregate over the exploded token stream), then score each
    * document as the mean token surprisal −ln(count/total), in nats.
    * High scores = rare-token-heavy documents (gibberish, codes,
    * boilerplate IDs); low = stopword-heavy filler — both tails are
    * curation candidates.
    *
    * Scale shape: the model is one hash aggregate keyed by token
    * (vocabulary-bounded, map-side combined); scoring joins the token
    * stream back to the model on the token key — Spark broadcasts the
    * model when it fits (AQE decides), and a 100 TB corpus caps the
    * model first (top-V by count + an OOV floor) which slots in as
    * one filter without changing the plan shape. The corpus total is
    * a broadcast 1-row frame riding the same lazy plan. */
  def lmScoreOf(docsDf: DataFrame): DataFrame = {
    val toks = docsDf.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val model = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // the corpus total rides the plan as a broadcast 1-row frame —
    // forcing it eagerly (`.head()` at build time) would pay the full
    // tokenize+aggregate pass twice, once for the scalar and once
    // inside the scoring join
    val total = model.agg(sum(col("c")).cast("double").as("t"))
    toks.join(model, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        avg(-log(col("c").cast("double") / col("t"))).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** The t19 gate: unigram LM score over the documents table. */
  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScoreOf(docsPlain(s, d))

  // —— trained quality classifier: naive-Bayes log-odds filter ——

  /** TRAINED quality filter — the supervised member of the scoring
    * family (t06 heuristic ratios, t19 unsupervised LM surprisal,
    * THIS: a classifier fit to labeled examples). The discipline is
    * the GPT-3/CCNet pipeline step: label a reference slice as
    * positive (here: membership in [[positive]] sources — the "books
    * and wiki" analog), train a text classifier on a deterministic
    * subset, and keep corpus documents the classifier scores
    * positive. The classifier is multinomial naive Bayes with
    * Laplace +1 smoothing — chosen over SGD-trained alternatives
    * because its sufficient statistics are ONE closed-form
    * aggregation (no iteration, no learning-rate state), so training
    * distributes as a single map-side-combined count shuffle and the
    * result is bit-reproducible from the data alone.
    *
    * logodds(d) = ln(P_train(pos)/P_train(neg)) +
    *   Σ_tok [ln((c_pos(tok)+1)/(n_pos+V)) −
    *          ln((c_neg(tok)+1)/(n_neg+V))]
    *
    * Scale shape: the model (per-token positive/negative counts) is
    * vocabulary-bounded and broadcast into the scoring join — the
    * same contract as [[lmScoreOf]], including the documented 100 TB
    * cap (top-V by count + an OOV floor slots in as one filter).
    * Scoring is the broadcast join plus ONE partial-agg sum keyed on
    * doc_id. The train split is the pure predicate doc_id % k == 0 —
    * reruns and engines agree on the exact model with no sampling
    * state. Tokens unseen in training contribute the smoothing floor
    * difference through the left join. Sum-reorder float noise is
    * ~1e-13 abs while the decision margin's observed floor is ~1e-4;
    * the oracle recomputes per-token CONTRIBUTIONS (not separate
    * per-class sums) to mirror the engine's summation structure. */
  private val nbBaseCache = new java.util.concurrent
    .ConcurrentHashMap[SparkSession, DataFrame]()

  def nbQualityFilterOf(docsDf: DataFrame,
      positive: Seq[String] = (0 to 4).map("src" + _),
      trainMod: Int = 5): DataFrame = {
    val base = sessionCachedFrame(nbBaseCache,
      docsDf.select(col("doc_id"), tokens(col("text")).as("ts"),
        col("source").isin(positive: _*).as("pos")))
    base.count() // eager cache population — the t27 lesson
    val train = base.filter(col("doc_id") % trainMod === 0)
    val prior = train.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("dp"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("dn"))
    val pr = prior.head()
    // a one-class (or EMPTY — sum over zero rows is null) training
    // slice has no decision boundary — refuse loudly rather than emit
    // ±Infinity log-odds for every document or NPE on the null sum
    val (dp, dn) =
      (if (pr.isNullAt(0)) 0L else pr.getLong(0),
        if (pr.isNullAt(1)) 0L else pr.getLong(1))
    require(dp > 0 && dn > 0,
      s"nb filter needs both classes in the training slice " +
        s"(doc_id % $trainMod == 0): positives=$dp negatives=$dn")
    val ttoks = train.select(col("pos"), explode(col("ts")).as("tok"))
    val model = ttoks.groupBy(col("tok")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
    val stats = ttoks.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("ntp"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("ntn"),
      countDistinct(col("tok")).as("v"))
    val contrib = base.select(col("doc_id"), explode(col("ts")).as("tok"))
      .join(broadcast(model), Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((coalesce(col("np"), lit(0L)) + 1).cast("double") /
             (col("ntp") + col("v"))) -
         log((coalesce(col("nn"), lit(0L)) + 1).cast("double") /
             (col("ntn") + col("v")))).as("c"))
    contrib.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("sumc"))
      .select(col("doc_id"),
        (col("sumc") + log(lit(dp.toDouble) /
          lit(dn.toDouble))).as("logodds"))
      .withColumn("kept", (col("logodds") > 0).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** The t28 gate over the documents table. */
  def nbQualityFilter(s: SparkSession, d: String): DataFrame =
    nbQualityFilterOf(docsPlain(s, d))

  // —— deterministic training order (shuffle + shard) ——

  /** Seeded deterministic corpus shuffle + sharding — the training-
    * order step after curation: every document gets a stable global
    * position `pos` (its rank under the keyed hash `md5(seed:doc_id)`)
    * and a round-robin shard `(pos − 1) % shards`, so any two runs —
    * or any two engines — produce the identical order and identical
    * shard membership from the seed alone, and changing the seed is a
    * fresh epoch-level reshuffle with zero data movement beyond the
    * re-sort.
    *
    * Scale shape: a global rank, computed WITHOUT ordering the corpus
    * through one task (the [[sequencePackingOf]] two-pass move). The
    * md5 key is uniform by construction, so its first two hex chars
    * split the corpus into 256 even ranges for free — no quantile
    * sketch needed (this is the one place bucketing by prefix beats
    * bucketing by value range): per-bucket counts (256 scalars) cross
    * to the driver, exclusive prefix offsets broadcast back, and the
    * rank window runs per bucket. Hex prefix order = md5 string order,
    * so bucket-local rank + offset IS the global rank. */
  def shuffleShardOf(docsDf: DataFrame, seed: String = "graft",
      shards: Int = 8): DataFrame = {
    require(shards > 0, s"need shards > 0, got $shards")
    val s = docsDf.sparkSession
    val keyed = docsDf
      .select(col("doc_id"))
      .withColumn("k",
        md5(concat(lit(seed + ":"), col("doc_id").cast("string"))))
      .withColumn("bk", substring(col("k"), 1, 2))
    val counts = keyed.groupBy(col("bk")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.toSeq.map { case (bk, n) =>
      val o = (bk, acc); acc += n; o
    }
    if (offsets.isEmpty) // empty corpus: keep the output schema
      return keyed.select(col("doc_id"), lit(0L).as("pos"),
        lit(0L).as("shard"))
    val offDf = s.createDataFrame(offsets).toDF("bk", "offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bk")).orderBy(col("k"), col("doc_id"))
    keyed.join(broadcast(offDf), "bk")
      .withColumn("pos",
        row_number().over(w).cast("long") + col("offset"))
      .select(col("doc_id"), col("pos"),
        ((col("pos") - 1) % shards).as("shard"))
      .orderBy(col("pos"))
  }

  /** The t17 gate: shuffle-shard the documents table, default seed and
    * 8 shards. The ORDER BY is the oracle contract; a pipeline writes
    * `partitionBy(shard)` sorted by pos instead. */
  def shuffleShard(s: SparkSession, d: String): DataFrame =
    shuffleShardOf(docsPlain(s, d))

  // —— per-source capping (domain-level downsampling) ——

  /** Cap each source (domain) at `perSource` documents, chosen by
    * seeded hash rank — the heavy-tail domain downsampling step
    * (CCNet/Gopher cap boilerplate-heavy domains so no single source
    * dominates the mixture): rank documents within their source by
    * `md5(seed:doc_id)` and keep rank <= cap. Deterministic in the
    * seed, so reruns and engines agree document-for-document.
    *
    * Scale shape: one hash-partitioned window keyed by source — the
    * natural shuffle for a per-domain decision. A pathological
    * mega-domain makes one heavy partition; [[sourceCapSkewSafeOf]]
    * is the production variant that bounds it. This direct
    * formulation is kept as the reference semantics the spec proves
    * the skew-safe plan equal to. */
  def sourceCapOf(docsDf: DataFrame, perSource: Int = 10,
      seed: String = "graft"): DataFrame = {
    require(perSource > 0, s"need perSource > 0, got $perSource")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(concat(lit(seed + ":"),
        col("doc_id").cast("string"))), col("doc_id"))
    docsDf
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perSource)
      .orderBy(col("source"), col("rk"))
  }

  /** Stage 1 of the skew-safe cap's over-cap leg: per-(source, salt)
    * local rank, keeping each bucket's top `perSource` by hash. Any
    * row in a source's GLOBAL top-perSource is necessarily in its own
    * bucket's top-perSource, so the survivors — at most
    * `salts x perSource` rows per source — are a superset of the
    * answer. Package-visible so the spec can assert the bound on a
    * mega-domain directly. */
  private[graft] def cappedCandidates(base: DataFrame, perSource: Int,
      seed: String, salts: Int): DataFrame = {
    val h = md5(concat(lit(seed + ":"), col("doc_id").cast("string")))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"),
        pmod(hash(col("doc_id")), lit(salts)))
      .orderBy(h, col("doc_id"))
    base.withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= perSource)
      .drop("rk1")
  }

  /** Skew-safe [[sourceCapOf]] — identical output, bounded windows.
    * One pre-count aggregate (map-side partial, broadcast-sized
    * result: domains << documents) splits the corpus:
    *  - under-cap sources rank through the direct window, whose
    *    partitions are <= perSource rows BY DEFINITION of under-cap;
    *  - over-cap sources (the mega-domain tail) rank in two stages:
    *    a salted local top-perSource per (source, salt) bucket —
    *    spreading the heavy domain over `salts` balanced partitions —
    *    then the exact window over the survivors, whose input is
    *    <= salts x perSource rows per source no matter how large the
    *    domain.
    * Both legs compute the same seeded-hash rank, so the union is
    * row-identical to the direct formulation (spec-proven) and the
    * t18 oracle judges this exact plan. */
  def sourceCapSkewSafeOf(docsDf: DataFrame, perSource: Int = 10,
      seed: String = "graft", salts: Int = 16): DataFrame = {
    require(perSource > 0, s"need perSource > 0, got $perSource")
    require(salts > 0, s"need salts > 0, got $salts")
    val base = docsDf.select(col("doc_id"), col("source"))
    val over = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n")).filter(col("n") > perSource)
      .select(col("source"))
    // NULL sources never match the join key, so they route through the
    // under-cap leg: still row-identical to the direct window (null is
    // one rank group there too), just not skew-bounded — a corpus
    // whose BIGGEST domain is the null one should clean sources first
    val tagged = base.join(
      broadcast(over.withColumn("is_over", lit(true))),
      Seq("source"), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(concat(lit(seed + ":"),
        col("doc_id").cast("string"))), col("doc_id"))
    def rank(df: DataFrame): DataFrame = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perSource)
    val underRanked = rank(
      tagged.filter(col("is_over").isNull).drop("is_over"))
    val overRanked = rank(cappedCandidates(
      tagged.filter(col("is_over").isNotNull).drop("is_over"),
      perSource, seed, salts))
    underRanked.unionByName(overRanked)
      // the left-join reordered the join key first; restore the
      // direct formulation's (doc_id, source, rk) shape
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** The t18 gate: cap the documents table at 10 docs per source —
    * through the PRODUCTION skew-safe plan, so the oracle judges the
    * path a 100 TB corpus would run. */
  def sourceCap(s: SparkSession, d: String): DataFrame =
    sourceCapSkewSafeOf(docsPlain(s, d))

  // —— deterministic Bernoulli sampling (importance / mixture) ——

  /** Keep-decision column for a deterministic Bernoulli sample by
    * key: true iff u(key) < p, where u is the first 8 md5 hex digits
    * of `"seed:key"` read as a 32-bit uniform in [0, 1). The
    * primitive under importance sampling and mixture reweighting: the
    * decision is a pure function of (seed, key), so reruns, resumed
    * jobs and other engines agree row-for-row with NO coordination or
    * state — at 100 TB the sample is one narrow codegen'd filter, no
    * shuffle. (DuckDB restates u as
    * `CAST('0x' || substr(md5(..), 1, 8) AS BIGINT) / 4294967296.0` —
    * the oracle leg of t20/t21.) */
  /** The (seed, key) 32-bit uniform behind every deterministic
    * sampling/splitting decision in this module: first 8 md5 hex
    * digits of `"seed:key"` as a [0, 1) double — a pure per-row
    * expression any engine recomputes bit-for-bit. */
  def hashUniform(keyCol: Column, seed: String = "graft"): Column =
    conv(substring(md5(concat(lit(seed + ":"),
      keyCol.cast("string"))), 1, 8), 16, 10).cast("double") /
      4294967296.0d

  def hashKeep(keyCol: Column, p: Column,
      seed: String = "graft"): Column =
    hashUniform(keyCol, seed) < p

  /** Quality-weighted importance sampling — the CCNet/Dolma move of
    * keeping high-quality documents with higher probability instead
    * of a hard threshold: keep-probability is the stopword ratio
    * (the t02 quality signal) scaled by `scale` and clamped to
    * [floor, 1] (the floor keeps a trace of low-quality text for
    * mixture diversity — pure thresholding studies need floor 0).
    * Emits the kept rows with their u-free inputs (ratio and
    * probability), so the oracle recomputes the decision bit-for-bit.
    * One pass, no shuffle: the weights derive from the row itself. */
  def importanceSample(s: SparkSession, d: String,
      scale: Double = 5.0, floor: Double = 0.05): DataFrame = {
    val stopHits = regexp_count(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is|it)\\b")).cast("long")
    docs(s, d)
      .select(col("doc_id"),
        (stopHits.cast("double") / nTokens(col("text")))
          .as("stop_ratio"))
      .withColumn("keep_p", least(lit(1.0d),
        greatest(lit(floor), col("stop_ratio") * scale)))
      .filter(hashKeep(col("doc_id"), col("keep_p")))
      .orderBy(col("doc_id"))
  }

  /** Per-source mixture resampling — the Pile/Dolma mixture step:
    * each source (domain) keeps rows at its own declared rate, so the
    * output approximates a target source distribution without
    * counting, sorting or shuffling anything (contrast [[sourceCap]],
    * which enforces a hard per-source ceiling). Unlisted sources fall
    * to `defaultRate`. Deterministic in the seed via [[hashKeep]] —
    * a larger rate keeps a SUPERSET of a smaller one (same u per
    * doc), so mixture ratios can be tuned monotonically between runs
    * without churning the kept set. */
  def mixtureSampleOf(docsDf: DataFrame, rates: Map[String, Double],
      defaultRate: Double, seed: String = "graft"): DataFrame = {
    require(defaultRate >= 0 && defaultRate <= 1,
      s"defaultRate must be in [0, 1], got $defaultRate")
    rates.foreach { case (src, r) => require(r >= 0 && r <= 1,
      s"rate for '$src' must be in [0, 1], got $r") }
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    docsDf.select(col("doc_id"), col("source"))
      .withColumn("rate", rate)
      .filter(hashKeep(col("doc_id"), col("rate"), seed))
      .orderBy(col("doc_id"))
  }

  /** The t21 gate: a three-way mixture over the documents table. */
  def mixtureSample(s: SparkSession, d: String): DataFrame =
    mixtureSampleOf(docsPlain(s, d),
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
      defaultRate = 0.1)

  /** Deterministic train/val/test assignment: each document lands in
    * exactly one named split by where its [[hashUniform]] value falls
    * among the cumulative weight boundaries. Disjoint and exhaustive
    * BY CONSTRUCTION (one u, one interval), deterministic in
    * (seed, doc_id) — reruns, engines, and resumed jobs agree
    * row-for-row, and assignment never depends on what else is in the
    * corpus, so adding documents later never reshuffles existing
    * splits (the property that keeps eval sets stable as a corpus
    * grows). A pure per-row projection: no shuffle, no state, at any
    * scale. Weights must sum to 1. */
  def splitAssignOf(docsDf: DataFrame,
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      seed: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0.0),
      s"split weights must be positive: $weights")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $weights")
    val u = hashUniform(col("doc_id"), seed)
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    val assigned = weights.zip(cum).init
      .foldRight(lit(weights.last._1): Column) {
        case (((name, _), ub), rest) =>
          when(u < lit(ub), lit(name)).otherwise(rest)
      }
    docsDf.select(col("doc_id"), u.as("u"), assigned.as("split"))
      .orderBy(col("doc_id"))
  }

  /** The t25 gate: the default 90/5/5 split over the documents
    * table — full assignment emitted with u, so the oracle recomputes
    * every decision bit-for-bit. */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    splitAssignOf(docsPlain(s, d))

  /** EXACT global percent-rank of each document's quality score —
    * the normalization that turns a raw heuristic into a corpus-
    * relative [0, 1] signal (curation thresholds like "keep the top
    * 30%" need the percentile, not the raw value). Matches SQL
    * `percent_rank() OVER (ORDER BY score)` exactly, ties included:
    * pct = (rank - 1) / (n - 1), rank = 1 + #strictly-smaller.
    *
    * Scale shape — the t10/t17 two-pass discipline applied to a
    * CONTINUOUS column, where bucketing needs value ranges instead
    * of hash prefixes: ~256 `approx_percentile` boundaries split the
    * corpus into balanced score ranges (the approximation moves only
    * task BALANCE, never the answer), per-bucket counts cross to the
    * driver (≤256 scalars), exclusive offsets broadcast back, and
    * the exact rank window runs per bucket over ~n/256 rows. Equal
    * scores always share a bucket (the boundary test is strict), so
    * offset + within-bucket `rank()` IS the global tie-sharing rank
    * — no window ever orders the corpus through one task
    * (spec-asserted). */
  // at most ONE cached scored frame per session (see percentileNormOf)
  /** One persisted frame per session, swapped-and-released on a new
    * input — the scoredCache/shingleCache lifetime discipline shared
    * by every operator that persists a corpus-scale derivation:
    * repeated calls must not STACK caches (each full-corpus persist
    * leaks until executor eviction), and an external
    * catalog.clearCache() (the bench does one per query) drops the
    * CacheManager entry while the map still holds the frame —
    * storageLevel NONE detects that and re-persists. */
  private def sessionCachedFrame(
      map: java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame],
      fresh: DataFrame): DataFrame = {
    map.keySet.removeIf(_.sparkContext.isStopped)
    map.compute(fresh.sparkSession, (_, prev) =>
      if (prev != null && prev.storageLevel !=
            org.apache.spark.storage.StorageLevel.NONE &&
          prev.queryExecution.analyzed
            .sameResult(fresh.queryExecution.analyzed)) prev
      else {
        if (prev != null) prev.unpersist(false)
        fresh.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      })
  }

  private val scoredCache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, DataFrame]()

  def percentileNormOf(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    val stopHits = regexp_count(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is|it)\\b")).cast("long")
    // Persist the 2-column (doc_id, score) frame BEFORE anything
    // derives from it: `scored` feeds three actions (boundary fit,
    // bucket counts, final rank) and — without a barrier —
    // CollapseProject inlines the regex score INTO the ~255-step
    // bucketing fold below, re-running the regex once per boundary
    // per row (~10× measured). Behind the InMemoryRelation the regex
    // runs exactly one pass and the fold reads a materialized double.
    // Numeric-only and narrow, so the cache is ~16 bytes/row at any
    // corpus size; MEMORY_AND_DISK keeps lineage for recompute on a
    // lost executor. Lifetime follows the shingleCache discipline: at
    // most one cached scored frame per session, reused when the input
    // plan is unchanged (CacheManager keys by canonicalized plan, so
    // put-then-unpersist of an identical previous frame would drop
    // the shared entry), swapped-and-released on a genuinely new
    // input.
    val freshScored = docsDf.select(col("doc_id"),
      (stopHits.cast("double") / nTokens(col("text"))).as("score"))
    scoredCache.keySet.removeIf(_.sparkContext.isStopped)
    val scored = scoredCache.compute(s, (_, prev) =>
      // storageLevel guard: an external catalog.clearCache() (the
      // bench does one per query) drops the entry from the
      // CacheManager while this map still holds the frame — reusing
      // it then would silently revert to the per-boundary regex
      // recompute this barrier exists to prevent. NONE => re-persist.
      if (prev != null && prev.storageLevel !=
            org.apache.spark.storage.StorageLevel.NONE &&
          prev.queryExecution.analyzed
            .sameResult(freshScored.queryExecution.analyzed)) prev
      else {
        if (prev != null) prev.unpersist(false)
        freshScored.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      })
    val probs = (1 until 256).map(_ / 256.0)
    val bRow = scored.agg(expr(
      s"approx_percentile(score, array(${probs.mkString(",")}))"))
      .head()
    val bounds =
      if (bRow.isNullAt(0)) Seq.empty[Double]
      else bRow.getSeq[Double](0).distinct.sorted
    val bucketed = scored.withColumn("bk",
      if (bounds.isEmpty) lit(0)
      else aggregate(array(bounds.map(lit): _*), lit(0),
        (acc, b) => acc + when(col("score") > b, 1).otherwise(0)))
    val counts = bucketed.groupBy(col("bk")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0)
      return scored.withColumn("pct_rank", lit(0.0d))
    var acc = 0L
    val offsets = counts.toSeq.map { case (bk, c) =>
      val o = (bk, acc); acc += c; o
    }
    val offDf = s.createDataFrame(offsets).toDF("bk", "offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bk")).orderBy(col("score"))
    bucketed.join(broadcast(offDf), "bk")
      .withColumn("grank", rank().over(w).cast("long") + col("offset"))
      .withColumn("pct_rank",
        if (n == 1) lit(0.0d)
        else (col("grank") - 1).cast("double") / lit((n - 1).toDouble))
      .select(col("doc_id"), col("score"), col("pct_rank"))
      .orderBy(col("doc_id"))
  }

  /** The t26 gate over the documents table. */
  def percentileNorm(s: SparkSession, d: String): DataFrame =
    percentileNormOf(docsPlain(s, d))

  // —— boilerplate-line detection / removal (line-level dedup) ——

  /** Lines repeated across >= `minDocs` DISTINCT documents — nav
    * menus, cookie banners, license footers: the corpus-level
    * line-dedup signal of CCNet-style curation (their paragraph-hash
    * dedup, at line granularity). One explode + one partial-aggregated
    * shuffle keyed by the line. Scale note: at 100 TB key the shuffle
    * on the line's 16-byte md5 and emit digests (group-by-digest,
    * min(line) as the exemplar) — the gate groups on the raw line so
    * the oracle can restate it verbatim; the plan shape is identical. */
  def boilerplateLinesOf(docsDf: DataFrame,
      minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    docsDf
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .withColumn("line", trim(col("line")))
      .filter(col("line") =!= "")
      .groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("line"))
  }

  /** The t22 gate. The fixture's documents are single-line with no
    * cross-document repeated text, so the gate frames each doc the
    * way scraped pages arrive — body plus a per-source footer line
    * (`source: <domain>`), the exact shape boilerplate removal
    * exists for — and detects the footers: one row per source with
    * its document count. The derivation is a pure column expression
    * the oracle restates verbatim, so the explode/trim/group plan is
    * judged on real nonzero output. */
  def boilerplateLines(s: SparkSession, d: String): DataFrame =
    boilerplateLinesOf(
      docs(s, d).select(col("doc_id"),
        concat(col("text"), lit("\n"),
          lit("source: "), col("source")).as("text")),
      minDocs = 3)

  /** Strip the [[boilerplateLinesOf]] lines from every document:
    * rebuild each text keeping only lines whose trimmed form is not
    * in the boilerplate set. The set is aggregated to ONE array and
    * broadcast (boilerplate is vocabulary-scale — repeated lines, not
    * the corpus), so the strip is a per-row filter over the split
    * text: no join shuffle touches the documents. Line structure of
    * kept lines is preserved verbatim (original, untrimmed). */
  def stripBoilerplateOf(docsDf: DataFrame,
      minDocs: Int = 3): DataFrame = {
    val bp = boilerplateLinesOf(docsDf, minDocs)
      .agg(collect_set(col("line")).as("bp"))
    docsDf.join(broadcast(bp))
      .withColumn("clean_text",
        array_join(filter(split(col("text"), "\n"),
          l => !array_contains(col("bp"), trim(l))), "\n"))
      .drop("bp")
  }

  // —— Exact-substring span dedup: sub-document duplicate removal ——

  /** Exact-substring span dedup — the span-level member of the dedup
    * family (document-level: exact md5 / MinHash-LSH; line-level:
    * boilerplate strip; THIS: token-span level). The discipline is
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better"): any [[w]]-token window whose EXACT text occurs
    * ≥ 2 times in the corpus — across documents OR repeated inside
    * one — marks its token span in EVERY occurrence, and marked
    * spans are removed from every copy (the paper's all-copies
    * variant; it keeps none because partial copies inflate the
    * memorized-span count either way). The single-node reference
    * tool builds a corpus suffix array; the distributed shape here is
    * a rolling window → content hash → one count shuffle:
    *
    *  1. tokenize once (the module tokenizer), PERSISTED — three
    *     downstream passes consume the array, and without the
    *     barrier CollapseProject would inline the regex split into
    *     every per-window slice (~tokens× recompute — the t26
    *     percentile-norm lesson, applied at design time);
    *  2. every w-token window keyed by md5 of its joined text — md5
    *     (not a cheaper 64-bit hash) because the key is the
    *     CROSS-ENGINE contract the t27 oracle recomputes in DuckDB;
    *  3. ONE corpus-wide count shuffle on the window key
    *     (partial-agg map-side combined; a pathological hot window
    *     text is AQE skew-join territory, not a plan change);
    *  4. duplicated windows explode to (doc, token position) marks —
    *     a ≤ w× expansion of DUPLICATED windows only, per-document
    *     bounded — and removal is a left-anti join of exploded
    *     tokens against marks, reassembled per document.
    *
    * Nothing touches the driver; every stage keys on window hash or
    * doc_id. Output is one row per AFFECTED document: original and
    * duplicated token counts plus the cleaned text with every marked
    * span excised (empty when the whole document was duplicated). */
  private val substrTokCache = new java.util.concurrent
    .ConcurrentHashMap[SparkSession, DataFrame]()

  def exactSubstrDedupOf(docsDf: DataFrame, w: Int = 15): DataFrame = {
    val tok = sessionCachedFrame(substrTokCache,
      docsDf.select(col("doc_id"), tokens(col("text")).as("ts")))
    // eager population (the percentileNormOf discipline, where the
    // boundary fit plays this role): four downstream stages consume
    // the cache and a LAZY first use lets them race — each
    // concurrently-scheduled stage recomputes the scan+split for
    // itself before any block lands (measured: 7 corpus scans at the
    // fixture SF, "Block already exists" warnings). One bounded
    // action = one scan, every consumer reads blocks. The cache is
    // O(corpus tokens) MEMORY_AND_DISK — the deliberate trade at
    // scale: the alternative re-tokenizes per consumer (3 full
    // scan+regex passes); a 100 TB standing pipeline would point
    // `docsDf` at an already-tokenized column instead.
    tok.count()
    // the window key is xxhash64 of the joined window (8-byte long),
    // not md5 (32-char string): the hash never reaches the output —
    // it only buckets identical windows for the n>=2 duplicate test —
    // so results are identical up to 64-bit collisions (the shingle
    // discipline), while the duplicate-count shuffle carries 8-byte
    // keys and the per-position CPU drops the md5
    val win = tok.filter(size(col("ts")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ts")) - w),
          i => xxhash64(concat_ws(" ",
            slice(col("ts"), i + lit(1), lit(w)))))))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("h"))
    val dup = win.groupBy(col("h"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select(col("h"))
    val marked = win.join(dup, "h")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + lit(w - 1))).as("p"))
      .distinct()
    val toksL = tok.select(col("doc_id"), posexplode(col("ts")))
      .select(col("doc_id"), col("pos").as("p"), col("col").as("tok"))
    val kept = toksL.join(marked, Seq("doc_id", "p"), "left_anti")
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x("tok"))).as("cleaned"))
    val dupt = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_tokens"))
    tok.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(dupt, "doc_id")
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        coalesce(col("cleaned"), lit("")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** Driver-visible gate (t27) over the documents table. */
  def exactSubstrDedup(s: SparkSession, d: String): DataFrame =
    exactSubstrDedupOf(docsPlain(s, d))

  // —— BM25 keyword search: the curation-time corpus query ——

  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 top-k keyword search over the corpus — the standard
    * inverted-index ranking function (Robertson/Spärck Jones;
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation k1=1.2,
    * length normalization b=0.75). The training-data use is targeted
    * curation: "pull the documents most about X" without an embedding
    * model in the loop.
    *
    * Plan shape, sized for 100 TB: document length is a per-row
    * projection (no shuffle); tokens are filtered to the query terms
    * BEFORE any aggregate, so the tf shuffle carries only postings of
    * the queried terms (|terms| × matching docs, not the corpus
    * vocabulary); df-per-term and the (N, avgdl) scalars are
    * vocabulary-bounded aggregates broadcast back. Nothing grows with
    * corpus size except the filtered posting list itself. For a
    * standing corpus served repeatedly, persist tf/dl as a bucketed
    * postings table keyed on term and this same query becomes a
    * partition-pruned probe — the batch analog of an inverted index.
    *
    * Output is the top-[[k]] by (score desc, doc_id) re-ordered by
    * doc_id, so cross-engine float noise can only matter AT the k
    * boundary, never inside the list. */
  def bm25Search(s: SparkSession, d: String,
      terms: Seq[String] = Seq("spark", "vector", "stream"),
      k: Int = 20): DataFrame =
    bm25SearchOf(docsPlain(s, d), terms, k)

  def bm25SearchOf(docsDf: DataFrame, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = docsDf.select(col("doc_id"), col("text"),
      nTokens(col("text")).cast("double").as("dl"))
    val stats = base.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = base
      .select(col("doc_id"), col("dl"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("dl"), lower(col("tok")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25Score(tf, stats, k)
  }

  /** Shared BM25 scoring tail: takes the per-(doc, term) postings of
    * the QUERY terms (doc_id, dl, term, tf) and the one-row corpus
    * stats (n_docs, avgdl); df-per-term is derived from the postings
    * themselves (each query term's full posting list is present by
    * construction on both the scan and the index path). */
  private def bm25Score(tf: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    val dfTerm = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w", col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
        (col("tf") + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .orderBy(col("doc_id"))
  }

  // —— Persisted inverted index: BM25 as a partition-pruned probe ——
  //
  // The scan path above re-tokenizes the corpus per query batch. A
  // standing corpus served repeatedly persists the postings ONCE:
  // (doc_id, dl, term, tf) bucketed by hash(term) and partitioned on
  // the bucket, so a query reads only its terms' buckets — the batch
  // analog of an inverted index, and the text twin of the IVF-PQ
  // layout (cells : buckets :: code bytes : postings). Corpus-level
  // stats live in a sibling one-row table storing the ALGEBRAIC form
  // (n_docs, sum_dl) — append-mergeable, unlike avgdl — and the index
  // commit note pins the stats version so a probe can never pair new
  // postings with stale scalars (or vice versa).

  val TextIndexBuckets = 8

  private def termBucket(c: Column): Column =
    pmod(hash(c), lit(TextIndexBuckets))

  /** Tokenized long form shared by build and append: one row per
    * (doc, term) with the doc's length alongside. */
  private def postingsOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), nTokens(col("text")).cast("double").as("dl"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("dl"), lower(col("tok")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("bucket", termBucket(col("term")))

  def buildTextIndex(s: SparkSession, d: String, indexDir: String): Unit =
    buildTextIndexOf(docsPlain(s, d), indexDir)

  def buildTextIndexOf(docsDf: DataFrame, indexDir: String): Unit = {
    val s = docsDf.sparkSession
    val base = docsDf.select(col("doc_id"),
      nTokens(col("text")).cast("double").as("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    // doc_id stats on every postings file: a later upsertGroups
    // re-index prunes its touched-file probe to the files whose id
    // range intersects the batch — O(candidate files), not O(index)
    IndexPins(s, indexDir).publish(
        "stats" -> (Versioned.commit(stats, _)))(note =>
      Versioned.commit(postingsOf(docsDf), indexDir,
        partitionCol = Some("bucket"), note = note,
        statsCols = Seq("doc_id")))
  }

  /** O(delta) maintenance: append the new documents' postings (only
    * their buckets' files are written) and publish merged corpus
    * stats — the algebraic (n_docs, sum_dl) form adds, so the update
    * never rescans the standing corpus. Stats publish first and the
    * postings append re-pins, keeping the pair consistent for probes. */
  def appendToTextIndex(s: SparkSession, newDocs: DataFrame,
      indexDir: String): Unit = {
    val pins = IndexPins(s, indexDir)
    require(pins.built,
      s"$indexDir is not a built text index (buildTextIndex first)")
    // a LIVE-tombstoned id must not re-append: the tombstone kills by
    // doc_id, old and new postings alike, so the fresh document would
    // be silently invisible until compaction — and dropping the
    // tombstone instead would resurrect the OLD postings beside the
    // new ones. Refuse loudly; compact first, then append.
    val clash = textTombs(s, indexDir).clash(newDocs)
    require(clash.isEmpty,
      s"appendToTextIndex: doc_ids ${clash.mkString(", ")} are " +
        s"live-tombstoned in $indexDir — the append would be " +
        "invisible; compactTextIndex first")
    val delta = newDocs.select(col("doc_id"),
      nTokens(col("text")).cast("double").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // merge onto the PINNED stats — the version the published postings
    // actually reflect. Reading the latest instead would bake in the
    // phantom documents of a previous append that committed stats but
    // crashed before its postings published (probes stay consistent
    // through the pin; the orphan stats version is simply skipped).
    val merged = pins.sibling("stats")
      .unionAll(delta)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    pins.publish("stats" -> (Versioned.commit(merged, _)))(note =>
      Versioned.append(postingsOf(newDocs), indexDir,
        partitionCol = Some("bucket"), note = note,
        statsCols = Seq("doc_id")))
  }

  /** RE-INDEX documents in place — the text twin of
    * [[Similarity.upsertIntoVectorIndex]], closing the same loop: a
    * changed (or live-tombstoned) doc_id previously required delete →
    * [[compactTextIndex]] (a FULL index rewrite) → append, because
    * re-appending a live-tombstoned id refuses (its fresh postings
    * would be anti-joined away forever). The upsert supersedes:
    *
    *   1. the corpus scalars advance ALGEBRAICALLY and stay exact:
    *      n_docs/sum_dl shift by (fresh − currently-stored) for the
    *      touched ids — one pruned read of their standing rows, no
    *      corpus rescan (unlike deletes, an upsert KNOWS the old dl:
    *      it rides every posting row);
    *   2. ONE atomic CoW commit ([[Versioned.upsertGroups]]) replaces
    *      the ids' posting GROUPS — only files containing those ids
    *      rewrite, the new stats version pinned in the commit note;
    *   3. any live tombstones on these ids drop (the fresh postings
    *      are now the only stored rows, so visibility is correct).
    *
    * A crash between 2 and 3 reads as deleted, never stale (the old
    * postings are already gone); re-running completes the pair. After
    * the upsert, BM25 over the index is EXACT for the updated corpus
    * — term df derives from surviving postings and the scalars moved
    * with the edit — no staleness window at all, unlike the delete
    * path. Cost honesty at scale: a doc's postings scatter across
    * term buckets, so the CoW touches up to (buckets × files-per-
    * bucket-holding-the-ids); on a drip-fed index that is the ids'
    * own append files, on a fully-binpacked one it approaches one
    * file per bucket per batch — batch re-index work accordingly. */
  def upsertIntoTextIndex(s: SparkSession, docs: DataFrame,
      indexDir: String): Unit = {
    val pins = IndexPins(s, indexDir)
    require(pins.built,
      s"$indexDir is not a built text index (buildTextIndex first)")
    val pre = docs.agg(count(lit(1)), count(col("doc_id")),
      count_distinct(col("doc_id")), count(col("text"))).head()
    require(pre.getLong(0) == pre.getLong(1) &&
      pre.getLong(1) == pre.getLong(2),
      "upsertIntoTextIndex needs one row per non-null doc_id — " +
        "duplicate or null ids would merge two documents' postings")
    // a NULL text would poison the exactness contract silently:
    // postingsOf emits no rows for it (its OLD postings would stand)
    // while the scalar shift below already subtracted its dl — refuse;
    // an EMPTY string is fine (it replaces with zero-ish postings)
    require(pre.getLong(0) == pre.getLong(3),
      "upsertIntoTextIndex got a null 'text' — a null re-index would " +
        "leave the old postings standing while shifting the corpus " +
        "scalars; deleteFromTextIndex removes a document")
    val ids = docs.select(col("doc_id")).distinct()
    // the ids' CURRENT contribution to the scalars (dl rides every
    // posting row; absent ids contribute nothing)
    val oldAgg = pins.head
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0.0)).as("sdl")).head()
    val freshAgg = docs
      .select(nTokens(col("text")).cast("double").as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0.0)).as("sdl")).head()
    val pinned = pins.sibling("stats").head()
    import s.implicits._
    val stats = Seq((
      pinned.getLong(0) - oldAgg.getLong(0) + freshAgg.getLong(0),
      pinned.getDouble(1) - oldAgg.getDouble(1) + freshAgg.getDouble(1)
    )).toDF("n_docs", "sum_dl")
    pins.publish("stats" -> (Versioned.commit(stats, _)))(note =>
      Versioned.upsertGroups(s, indexDir, postingsOf(docs), "doc_id",
        partitionCol = Some("bucket"), note = note,
        statsCols = Seq("doc_id")))
    IndexTombs.lift(s, ids, indexDir, "doc_id")
  }

  private def textTombs(s: SparkSession, indexDir: String): IndexTombs =
    IndexTombs(s, indexDir, "doc_id")

  /** DELETE documents from the index — the Lucene deleted-docs
    * discipline, chosen deliberately over eager postings rewrites: a
    * doc's postings scatter across EVERY term bucket (the index is
    * term-partitioned, not doc-partitioned), so removing them eagerly
    * would rescan the whole index per delete batch. Instead the batch
    * appends doc_ids to a sibling tombstone table — O(batch) — and
    * semantics split exactly as Lucene's:
    *  - MEMBERSHIP is immediate and exact: every probe anti-joins the
    *    live tombstones before scoring, and term df derives from the
    *    SURVIVING postings (it always did — [[bm25Score]] computes df
    *    from the frame it is handed);
    *  - the corpus SCALARS (n_docs, avgdl) stay as-built until
    *    [[compactTextIndex]], which applies the tombstones and
    *    recomputes them exactly — the same staleness window Lucene
    *    gives docFreq/norms until a segment merge.
    * Idempotent: re-deleting a tombstoned or never-indexed id is a
    * harmless extra tombstone row, collapsed at compaction. */
  def deleteFromTextIndex(s: SparkSession, docIds: DataFrame,
      indexDir: String): Unit = {
    require(Versioned.currentVersion(s, indexDir) > 0,
      s"$indexDir is not a built text index (buildTextIndex first)")
    IndexTombs.delete(s, docIds, indexDir, "doc_id")
  }

  /** Maintenance for a drip-fed postings index, the text twin of
    * [[Similarity.compactIvfIndex]]: with live tombstones, ONE full
    * rewrite drops the deleted docs' postings, recomputes the exact
    * (n_docs, sum_dl) from the survivors, re-pins, and resets the
    * tombstones it absorbed — after it, scores are exact as if rebuilt
    * from the reduced corpus. Without tombstones it binpacks each bucket's
    * accumulated append files in place (stats pin carried, probes
    * stay pruned). */
  def compactTextIndex(s: SparkSession, indexDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFileBytes: Long = 0L): Int = {
    IndexTombs.absorb(s, indexDir, "doc_id") { tombs =>
      val pins = IndexPins(s, indexDir)
      val survivors = tombs.live(pins.head)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // exact scalars from the survivors: dl rides every posting
        // row, so per-doc first(dl) then count+sum reconstructs the
        // algebraic pair the build wrote
        val stats = survivors.groupBy(col("doc_id"))
          .agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        pins.publish("stats" -> (Versioned.commit(stats, _)))(note =>
          Versioned.commit(survivors, indexDir,
            partitionCol = Some("bucket"), note = note,
            statsCols = Seq("doc_id")))
      } finally survivors.unpersist(blocking = false)
    }.getOrElse(Versioned.compactSmall(s, indexDir, targetFileBytes,
      minFileBytes, statsCols = Seq("doc_id"),
      partitionCol = Some("bucket")))
  }

  /** BM25 over the persisted index: the probe reads ONLY the query
    * terms' bucket directories (partition-pruned — the spec asserts
    * scanned files < index files via the scan's numFiles metric), and
    * scores identically to [[bm25SearchOf]] — same postings, same
    * stats, same tail. */
  def bm25SearchIndexed(s: SparkSession, indexDir: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // bucket ids of the query terms: computed with the SAME Spark
    // expression the build used, on a #terms-row local frame
    import s.implicits._
    val bks = terms.toDF("term").select(termBucket(col("term")))
      .distinct().collect().map(_.getInt(0))
    val pins = IndexPins(s, indexDir)
    val stats = pins.sibling("stats")
      .select(col("n_docs").cast("double").as("n_docs"),
        (col("sum_dl") / col("n_docs")).as("avgdl"))
    // live tombstones gate membership immediately (Lucene semantics,
    // [[deleteFromTextIndex]]); df downstream derives from the
    // survivors, the scalar stats stay as-built until compaction
    val tf = textTombs(s, indexDir).live(pins.head
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("tf")))
    bm25Score(tf, stats, k)
  }

  // —— Cross-engine export of the persisted index (q50) ——

  /** The persisted index resolved as TWO raw-parquet file lists a
    * SECOND engine can scan directly: (postings files of the current
    * index snapshot, stats files of the version the index PINS) —
    * extending [[graft.sources.Versioned.exportSnapshot]]'s
    * layout-portability contract from data tables (q47) to the index
    * family. Postings live under `bucket=` hive directories; that is
    * waived (`hivePartitions = true`) because the bucket is pure
    * derived routing metadata (`hash(term) % `[[TextIndexBuckets]]),
    * never payload — a consumer recomputing BM25 needs only the
    * in-file (doc_id, dl, term, tf).
    *
    * Refuses, loudly, when the pair cannot be proven consistent:
    *  - the head postings commit carries no `stats=v` pin (not a
    *    built text index — e.g. a raw table that merely looks like
    *    postings), or
    *  - the pinned stats version does not exist in the sibling stats
    *    table (a torn maintenance sequence) —
    * because BM25 recomputed against the WRONG (n_docs, sum_dl)
    * silently mis-scores every document rather than failing. */
  def exportTextIndex(s: SparkSession,
      indexDir: String): (Seq[String], Seq[String]) = {
    val (postings, Seq(stats)) = IndexPins(s, indexDir).export(
      IndexPins.Layout("text", Seq("stats"), "doc_id",
        build = "buildTextIndex", compact = "compactTextIndex",
        rows = "documents"))
    (postings, stats)
  }
}
