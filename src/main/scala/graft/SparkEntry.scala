package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 or a
  * north-star extension; entries with a DuckDB-expressible equivalent also
  * appear in [[oracleSql]] (column names aliased identically on both
  * sides; doubles compare with tolerance per FIXTURES.md).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's Q3 analog (grouped count+avg, ordered) — SURVEY.md
    * §7.3 minimum slice. */
  def entry(spark: SparkSession): DataFrame =
    Relational.groupAgg(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = Map[String, Q](
    // —— reference parity (SURVEY.md §2.2/2.4/2.6/2.8) ——
    "q01_count_all"      -> (Relational.countAll _),
    "q02_filtered_count" -> (Relational.filteredCount _),
    "q03_filtered_avg"   -> (Relational.filteredAvg _),
    "q04_group_agg"      -> (Relational.groupAgg _),
    "q05_project_filter" -> (Relational.projectFilter _),
    "q06_derived_date"   -> (Relational.derivedDate _),
    "q07_cast_types"     -> (Relational.castTypes _),
    "q08_topk"           -> (Relational.topK _),
    // —— joins / windows / distinct / set ops (§2.3/2.5/2.7 extensions) ——
    "q09_join_agg"       -> (Relational.joinAgg _),
    "q10_join_multi"     -> (Relational.joinMulti _),
    "q11_semi_join"      -> (Relational.semiJoin _),
    "q12_anti_join"      -> (Relational.antiJoin _),
    "q13_window_topn"    -> (Relational.windowTopN _),
    "q14_distinct"       -> (Relational.distinctCount _),
    "q15_union"          -> (Relational.unionKeys _),
    "q16_intersect"      -> (Relational.intersectKeys _),
    "q17_except"         -> (Relational.exceptKeys _),
    "q18_case_bucket"    -> (Relational.caseBucket _),
    "q19_scalar_funcs"   -> (Relational.scalarFuncs _),
    "q20_above_avg"      -> (Relational.aboveCustomerAvg _),
    "q21_percentiles"    -> (Relational.percentiles _),
    "q22_rollup"         -> (Relational.rollupAgg _),
    "q23_pivot"          -> (Relational.pivotAgg _),
    "q24_string_funcs"   -> (Relational.stringFuncs _),
    "q25_null_handling"  -> (Relational.nullHandling _),
    // S6 — SQL entry point over the registered table views
    "q26_sql_api" -> ((s, d) => {
      graft.sources.Tables.registerAll(s, d)
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                      sum(l_extendedprice * (1 - l_discount)) AS revenue
               FROM lineitem
               WHERE l_quantity > 1
               GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")
    }),
    // Explicit GROUPING SETS + grouping_id (rollup/cube are q22/q31);
    // SQL surface, same Expand-based plan as rollup.
    "q35_grouping_sets" -> ((s, d) => {
      graft.sources.Tables.registerAll(s, d)
      s.sql("""SELECT l_returnflag, l_linestatus,
                      CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                        AS gid,
                      count(*) AS cnt, sum(l_quantity) AS sum_qty
               FROM lineitem
               GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                       (l_returnflag), ())
               ORDER BY gid, l_returnflag NULLS FIRST,
                        l_linestatus NULLS FIRST""")
    }),
    // Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    // SQL form of q13's window top-n.
    "q36_lateral_topn" -> ((s, d) => {
      graft.sources.Tables.registerAll(s, d)
      s.sql("""SELECT c_custkey, o_orderkey, o_totalprice
               FROM customer c, LATERAL (
                 SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
               ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    }),
    "q29_left_outer"     -> (Relational.leftOuterAgg _),
    "q30_full_outer"     -> (Relational.fullOuterAgg _),
    "q31_cube"           -> (Relational.cubeAgg _),
    "q32_window_battery" -> (Relational.windowBattery _),
    "q33_string_agg"     -> (Relational.stringAgg _),
    // —— event analytics (north-star, batch) ——
    "e01_tumbling_hourly" -> (Events.tumblingHourly _),
    "e02_sessionize"      -> (Events.sessionize _),
    "e03_json_extract"    -> (Events.jsonExtract _),
    "e04_daily_cumulative" -> (Events.dailyCumulative _),
    "e05_asof_join"        -> (Events.asofJoin _),
    "e06_range_join"       -> (Events.rangeJoinPairs _),
    "e07_range_join_auto"  -> (Events.rangeJoinPairsNaive _),
    "e08_hopping_window"   -> (Events.hoppingQuarterHour _),
    "e09_gap_fill"         -> (Events.gapFillHourly _),
    // Ordered conversion funnel (view -> click -> purchase, each step
    // strictly after the previous) and weekly retention cohorts.
    "e10_funnel"           -> ((s, d) => Events.funnel(s, d)),
    "e11_retention"        -> (Events.retentionCohorts _),
    "t12_char_entropy"     -> (TextAnalysis.charEntropy _),
    // —— text analysis (north-star) ——
    "t01_text_stats"   -> (TextAnalysis.textStats _),
    "t02_quality"      -> (TextAnalysis.qualityScore _),
    "t03_langid"       -> (TextAnalysis.langId _),
    "t04_fingerprint"  -> (TextAnalysis.fingerprints _),
    "t05_dedup_exact"  -> (TextAnalysis.dedupExact _),
    "t06_token_counts" -> (TextAnalysis.tokenCounts _),
    "t07_curation"     -> (TextAnalysis.curationPipeline _),
    "t08_rolling_fp"   -> (graft.gates.KernelGates.rollingFpGate _),
    "t09_stratified"   -> ((s, d) => TextAnalysis.stratifiedSample(s, d)),
    "t10_packing"      -> ((s, d) => TextAnalysis.sequencePacking(s, d)),
    "t11_top_tokens"   -> ((s, d) => TextAnalysis.topTokens(s, d)),
    "t13_decontamination" -> ((s, d) => TextAnalysis.decontaminate(s, d)),
    // Persisted eval-set decontamination index (t30): index the bench
    // slice once, sweep the corpus against the stored shingle rows —
    // t13's exact answer from the table the batch path only caches.
    "t30_decontam_index" -> (graft.gates.IndexGates.decontamIndexGate _),
    "t20_importance_sample" -> ((s, d) => TextAnalysis.importanceSample(s, d)),
    "t22_boilerplate"  -> (TextAnalysis.boilerplateLines _),
    "t23_bm25_search"  -> ((s, d) => TextAnalysis.bm25Search(s, d)),
    "t24_bm25_indexed" -> (graft.gates.IndexGates.bm25SearchIndexedGate _),
    "t25_split_assign" -> (TextAnalysis.splitAssign _),
    "t26_percentile_norm" -> (TextAnalysis.percentileNorm _),
    "t27_substr_dedup" -> (TextAnalysis.exactSubstrDedup _),
    "t28_nb_filter" -> (TextAnalysis.nbQualityFilter _),
    "t29_bm25_deletes" -> (graft.gates.IndexGates.bm25DeletesGate _),
    "t21_mixture_sample" -> (TextAnalysis.mixtureSample _),
    "t14_repetition" -> (TextAnalysis.repetitionSignals _),
    // PII redaction (emails/phones/IPv4 -> typed placeholders): the
    // corpus carries no PII, so the query grafts deterministic PII
    // from doc_id and the oracle mirrors the construction — the hash
    // compares full redacted strings.
    "t15_pii_redaction" -> (TextAnalysis.piiScrub _),
    // Context-window chunking: 64-token windows, stride 48 (overlap
    // 16) — the sharding step between curation and sequence packing.
    "t16_chunking" -> (TextAnalysis.chunkDocs _),
    // Deterministic seeded shuffle + round-robin sharding (training
    // order): global rank under md5(seed:doc_id), computed without a
    // single-task global sort (256 hash-prefix buckets + offsets).
    "t17_shuffle_shard" -> (TextAnalysis.shuffleShard _),
    // Per-source capping (domain-level downsampling): keep 10 docs
    // per source by seeded hash rank.
    "t18_source_cap" -> (TextAnalysis.sourceCap _),
    // Unigram LM scoring: corpus-built token model, per-doc mean
    // surprisal -ln(count/total) — the simplified CCNet LM filter.
    "t19_lm_score" -> (TextAnalysis.lmScore _),
    // —— near-dup detection (north-star) ——
    "d01_shingle_jaccard" -> (Dedup.shingleJaccard _),
    "d02_minhash_lsh"     -> (Dedup.minhashLsh _),
    // Persisted MinHash-LSH dedup index (d10): dedup new batches
    // against the standing corpus without re-hashing it — build,
    // probe, O(delta) append, probe the grown index; the union of
    // found pairs equals DuckDB's exact cross-boundary answer.
    "d10_dedup_index"     -> (graft.gates.IndexGates.dedupIndexGate _),
    // Dedup-index DELETE lifecycle (d11): takedowns tombstone, stop
    // matching immediately, compact applies, the freed id re-ingests.
    "d11_dedup_index_deletes" ->
      (graft.gates.IndexGates.dedupIndexDeletesGate _),
    // Cross-engine dedup-index export (d12): DuckDB re-runs the
    // within-corpus near-dup probe (band join + matching-minima
    // estimate) from the exported band + signature bytes alone.
    "d12_dedup_index_export" -> (graft.gates.IndexGates.dedupIndexExportGate _),
    "d03_simhash"         -> (Dedup.simhashPairs _),
    "d04_embedding_neardup" -> (Dedup.embeddingNearDup _),
    "d05_embedding_lsh"     -> ((s, d) => Dedup.embeddingNearDupLsh(s, d)),
    "d06_dedup_clusters"    -> (Dedup.dedupClusters _),
    "d08_semantic_dedup"    -> ((s, d) => Dedup.semanticDedup(s, d)),
    "q28_typed_ds"          -> (Typed.revenueByFlag _),
    // —— similarity search (north-star) ——
    "s01_ann_bruteforce" -> (Similarity.bruteForceTopK _),
    "s02_ann_ivf"        -> (Similarity.ivfTopK _),
    "s03_ann_lsh"        -> (Similarity.lshTopK _),
    // Driver-checkable quality contracts of the approximate paths: the
    // engine reduces recall/precision vs its exact baselines to a row of
    // constants the DuckDB oracle states literally.
    "s04_ivf_recall"     -> (Similarity.ivfRecall _),
    "s05_lsh_recall"     -> (Similarity.lshRecall _),
    // int8 symmetric per-vector quantization (4x smaller embeddings):
    // brute-force top-k over the DEQUANTIZED corpus, judged by the
    // same recall contract, plus the 127-bounded storage fact.
    "s07_int8_recall"    -> (Similarity.int8Recall _),
    // The production composition: IVF cell probing over the
    // quantized (4x smaller) corpus, same nProbe/C recall floor.
    "s08_int8_ivf_recall" -> (Similarity.int8IvfRecall _),
    "s09_int8_ivf_indexed" -> (Similarity.int8IvfIndexedRecall _),
    // Probe-only latency over the persisted int8 index (build amortized
    // via the process-wide index cache) — approximate results, so
    // rows-only here; the s09 recall gate pins the SAME index + path.
    "s10_ann_ivf_probe"   -> (Similarity.int8IvfIndexedProbe _),
    // Product quantization: 16 code bytes per 64-dim vector (16x), ADC
    // shortlist + float rerank; recall + compression facts gated.
    "s11_pq_recall"       -> (Similarity.pqRecall _),
    "s12_ivfpq_indexed"   -> (Similarity.ivfPqIndexedRecall _),
    // rows-only; the s12 recall gate pins the SAME index + probe path.
    "s13_ivfpq_probe"     -> (Similarity.ivfPqIndexedProbe _),
    "s14_hybrid_rrf"      -> ((s, d) => Similarity.hybridRrf(s, d)),
    // IVF over spherical-k-means-refined centroids (the production
    // index build), gated by the same recall contract.
    "s06_ivf_kmeans_recall" -> ((s, d) => Similarity.annRecall(s, d,
      Similarity.ivfTopKKmeans(s, d),
      Similarity.NProbe.toDouble / Similarity.Centroids)),
    "d07_embedding_lsh_recall" -> (Dedup.embeddingLshQuality _),
    "d09_semantic_dedup_recall" -> (Dedup.semanticDedupQuality _),
    // —— approximate aggregates (sketches; rows-only + error-bound spec) ——
    "q27_approx_aggs"    -> (Relational.approxAggs _),
    "q34_approx_bounds"  -> (Relational.approxBounds _),
    "q37_sketch_rollup"  -> (Relational.sketchRollup _),
    "q38_window_battery2" -> (Relational.windowBattery2 _),
    "q39_null_safe_join" -> (Relational.nullSafeJoin _),
    // Snapshot/manifest surface gate (commit, O(delta) append, stats
    // pruning, file-level merge, partitioned chain — built in a temp
    // dir, reduced to constants the oracle states literally).
    "q40_snapshot_append" -> (graft.gates.VersionedGates.snapshotGate _),
    // SQL time travel: per-version views (VERSION AS OF analog), one
    // multi-version spark.sql with a cross-version join + NOT IN.
    "q41_sql_time_travel" ->
      (graft.gates.VersionedGates.sqlTimeTravelGate _),
    // SQL row-level DML: DELETE/UPDATE/MERGE lowered onto the snapshot
    // engine (RowLevelDmlRule), scripted and reduced to constants.
    "q42_sql_dml" -> (graft.gates.VersionedGates.sqlDmlGate _),
    // SQL schema evolution: metadata-only ALTER TABLE ADD/DROP/RENAME
    // COLUMN through the catalog, constants-reduced.
    "q43_schema_evolution" ->
      (graft.gates.VersionedGates.schemaEvolutionGate _),
    // Incremental changelog (readChanges): its own gate since r10 so
    // per-gate bench wall time stays attributable (was q40's chg_*).
    "q44_changelog" -> (graft.gates.VersionedGates.changelogGate _),
    // DDL-declared partitioning (CREATE TABLE ... PARTITIONED BY, the
    // reference's csv_to_ice.py:54 shape), default-spec inheritance
    // on INSERT, set_spec evolution, .partitions metadata table.
    "q45_ddl_partitioning" ->
      (graft.gates.VersionedGates.ddlPartitionGate _),
    // The SQL-extension DDL surface (partition-field/props/refs/VACUUM
    // spellings), split from q45 so each gate's bench wall time stays
    // attributable to one protocol surface (the q40/q44 precedent).
    "q46_sql_ddl" ->
      (graft.gates.VersionedGates.sqlDdlGate _),
    // —— multimodal plumbing (north-star; decode is a marked stub) ——
    "m01_media_meta"   -> (Multimodal.mediaMeta _),
    // Feature vector projected to scalar f_* columns: driver-checkable
    // (the pandas-side compare can't sort/hash an array column) and
    // oracle-checkable — byte sums are exact integers in doubles, so
    // DuckDB agrees bit-for-bit modulo the final divisions.
    "m02_media_feats"  -> ((s, d) =>
      Multimodal.extractFeatures(s, d).toDF()
        .select(col("doc_id"), col("n_bytes"), col("mean_byte"),
          col("feature")(0).as("f_mean"), col("feature")(1).as("f_var"),
          col("feature")(2).as("f_n"), col("feature")(3).as("f_first"))
        .orderBy(col("doc_id"))),
    "m03_frame_sample" -> ((s, d) => Multimodal.sampleFrames(s, d)),
    // Byte-stream average pooling (the codec-free resize analog):
    // long-format (doc, bucket, mean) so the oracle's GROUP BY shape
    // matches exactly.
    "m04_resize_pool" -> ((s, d) =>
      Multimodal.resizePooled(s, d).toDF()
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("bk").cast("long").as("bk"), col("m"))
        .orderBy(col("doc_id"), col("bk"))),
    // Perceptual near-dup over payload bytes: 32-bit average hash
    // (integer-exact above-mean bits), nibble-banded candidates,
    // hamming <= 5 pairs — the image-dedup analog.
    "m05_ahash_neardup" -> ((s, d) => Multimodal.ahashNearDup(s, d)),
    "m06_cdc_chunks"   -> (graft.gates.KernelGates.cdcChunkGate _),
    "m07_chunk_neardup" -> (Multimodal.chunkNearDupRecall _),
    // Cross-engine shared-table read: the oracle's DuckDB side scans
    // the graft table's OWN exported data files (read_parquet over
    // exportSnapshot's list), not the fixture tables — the
    // reference's two-engines-one-table thesis (README.md:52-53
    // DuckDB vs :78 Presto over the same Iceberg table).
    "q47_export_snapshot" -> (graft.gates.VersionedGates.exportGate _),
    // Cross-engine ingest: importFiles (the add_files analog) makes
    // the PYARROW-written fixture parquet table data without a
    // rewrite; the oracle aggregates the same bytes straight from the
    // fixture table.
    "q48_add_files" -> (graft.gates.VersionedGates.importGate _),
    "q49_clone_table" -> (graft.gates.VersionedGates.cloneGate _),
    // Metadata-only aggregates: SELECT min/max/count FROM graft.t
    // answers from the stats sidecars (zero parquet scan) when the
    // manifest provably carries it; tombstones flip the same SQL to
    // the scan plan, compaction flips it back. The oracle RECOMPUTES
    // every aggregate value from the nation fixture.
    "q53_metadata_agg" -> (graft.gates.VersionedGates.metadataAggGate _),
    // Cross-engine INDEX read: the oracle recomputes BM25 in DuckDB
    // from the persisted inverted index's OWN exported bytes
    // (read_parquet over the postings buckets + the pinned stats
    // file) and must hash-match the in-engine probe — q47's
    // layout-portability proof extended to the index family.
    "q50_index_export" -> (graft.gates.IndexGates.textIndexExportGate _),
    // Cross-engine VECTOR-index read: the oracle re-runs the ADC
    // probe in DuckDB from the exported IVF-PQ triple (hive-pruned
    // code cells + pinned centroids + pinned codebooks) and must
    // match the in-engine candidate set — rank-exact by the gate's
    // asserted boundary gaps, score-free by design.
    "q51_vector_index_export" ->
      (graft.gates.IndexGates.vectorIndexExportGate _),
    // Vector-index DELETE semantics: an appended exact twin of query
    // 0 is tombstoned and must vanish immediately and stay gone after
    // compaction; export refuses while tombstones are live.
    "s15_ann_deletes" -> (graft.gates.IndexGates.vectorDeletesGate _),
    // Incremental derived-table maintenance: a curated projection
    // kept current through bootstrap -> append -> one atomic mixed
    // CDC batch, each refresh paying O(changed files) via the
    // changelog and pinning the processed source version in the
    // destination's own commit note.
    "q52_derived_refresh" ->
      (graft.gates.MvGates.derivedRefreshGate _),
    // Incremental AGGREGATE view (q54): GROUP BY rollup maintained by
    // algebraic deltas — touched rows diffed between the two pinned
    // snapshots via point-set pruned reads, groups patched in place,
    // group migration / nulled values / group death all in one batch.
    "q54_agg_refresh" ->
      (graft.gates.MvGates.aggRefreshGate _),
    // SQL materialized-view lifecycle (q55): CREATE MATERIALIZED VIEW
    // persists the spec in the view's properties; refresh_mv advances
    // both kinds argument-free; DROP MATERIALIZED VIEW removes it.
    "q55_mv_lifecycle" ->
      (graft.gates.MvGates.mvLifecycleGate _),
    // Cross-engine INT8-IVF index export (q56): DuckDB re-runs the
    // pruned-cell cosine probe from the exported (cells, centroids)
    // pair alone — q51's probe-from-bytes proof on the s09 layout.
    "q56_int8_index_export" ->
      (graft.gates.IndexGates.int8IndexExportGate _),
    // MV shapes + staleness (q57): a FILTERED aggregate view, a
    // multi-column group tuple, and the mv.max-staleness-versions
    // read refusal — all pure SQL, states equal full recomputes.
    "q57_mv_shapes" ->
      (graft.gates.MvGates.mvShapesGate _),
    // JOIN MV + chaining (q58): a fact⋈dim enrichment view maintained
    // from BOTH changelogs, a dim relabel + dim-key delete propagating
    // through a chained GOLD aggregate view (bronze→silver→gold).
    "q58_join_mv" ->
      (graft.gates.MvGates.joinMvGate _),
    // Aggregate-over-join MV (q59): one name, one refresh, ONE
    // commit — invertible shapes maintain the gold DIRECTLY (r18,
    // no hidden silver); extrema/distinct shapes auto-chain one.
    "q59_aggjoin_mv" ->
      (graft.gates.MvGates.aggJoinMvGate _),
    // Distinct-count MV measures (q60), both spellings:
    // approx_count_distinct(c) AS adc_<c> stores a mergeable HLL
    // sketch — inserts merge in the delta pass, a group that lost
    // rows recomputes; count(DISTINCT c) AS cd_<c> is the EXACT twin
    // — every refresh recomputes the touched groups (non-invertible
    // both ways). The sketch is exact at the fixture's
    // cardinalities, so DuckDB restates every estimate AND every
    // exact count as count(DISTINCT) over the replayed edits.
    "q60_distinct_mv" ->
      (graft.gates.MvGates.distinctMvGate _),
    // KLL quantile-sketch MV measures (q61): graft_kll(c) AS kll_<c>
    // stores mergeable percentile state — inserts merge, loss
    // recomputes; exact at the fixture's sub-k cardinalities, so
    // DuckDB restates the per-group p100 (= max) sums over the
    // replayed edits.
    "q61_kll_mv" ->
      (graft.gates.MvGates.kllMvGate _),
    // Expression-valued MV measures (q62): the TPC-H Q1 pricing
    // summary as ONE delta-maintained MV — sum/count/avg over
    // floor(price * (1 - disc) * 100)-style expressions, each
    // materialized as a derived value column on every snapshot-side
    // read; exact integer cents, so DuckDB restates every per-state
    // figure over the replayed edits.
    "q62_expr_mv" ->
      (graft.gates.MvGates.exprMvGate _),
    // Mixed star/chain join-TREE MVs (q63): a star leg beside a
    // snowflaked leg under ONE aggregate view name — CREATE peels
    // the fact⋈d hop into the hidden .snow silver, both remaining
    // legs rewrite onto it (a star), and the invertible gold
    // maintains directly. One refresh propagates a fact append, a
    // star-leg relabel, and a chain-leg relabel.
    "q63_tree_mv" ->
      (graft.gates.MvGates.treeMvGate _),
    // Automatic query rewrite (q64): a registered aggregate MV
    // answers matching GROUP BY queries over its SOURCE whenever
    // the view's pin equals the scanned snapshot — plan-asserted
    // substitution, exact fallback on staleness, identical figures
    // either way (the rewrite changes cost, never results).
    "q64_mv_rewrite" ->
      (graft.gates.MvGates.rewriteMvGate _),
  )

  /** Shared oracle for the three text near-dup paths: they share one
    * semantic contract (3-gram shingle Jaccard >= 0.5 pairs); MinHash-LSH
    * and SimHash only change how candidates are found. */
  private val shingleJaccardSql =
    """WITH t AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                  AS shingle
              FROM t WHERE len(toks) >= 3),
       cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       pair AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                       count(*) AS common
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
       SELECT a_id, b_id,
              common * 1.0 / (ca.n + cb.n - common) AS jaccard
       FROM pair JOIN cnt ca ON ca.doc_id = a_id
                 JOIN cnt cb ON cb.doc_id = b_id
       WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
       ORDER BY a_id, b_id"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  /** Shared by t13 (batch sweep) and t30 (persisted eval index): both
    * must hash-match this exact containment answer. */
  private val DecontamOracleSql =
    """WITH t AS (SELECT doc_id,
                    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                  FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                  AS shingle
              FROM t WHERE len(toks) >= 3),
       hits AS (SELECT a.doc_id, b.doc_id AS bench_id,
                       count(*) AS common
                FROM sh a JOIN sh b ON a.shingle = b.shingle
                WHERE b.doc_id % 50 = 0 AND a.doc_id % 50 <> 0
                GROUP BY 1, 2 HAVING count(*) >= 5)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
              CAST(max(common) AS BIGINT) AS max_common
       FROM hits GROUP BY doc_id ORDER BY doc_id"""

  /** Shared by t23 (scan path) and t24 (persisted inverted index):
    * both must hash-match this exact result. */
  private val Bm25OracleSql =
    """WITH base AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS DOUBLE) AS dl,
                  text
           FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(dl) AS avgdl FROM base),
         tok AS (SELECT doc_id, dl, lower(u.t) AS term
                 FROM base, unnest(regexp_split_to_array(trim(text),
                   '\s+')) AS u(t)),
         tf AS (SELECT doc_id, dl, term,
                       CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term IN ('spark', 'vector', 'stream')
                GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE)
                   AS df FROM tf GROUP BY 1),
         sc AS (SELECT doc_id,
                  sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf
                      * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                    AS score,
                  count(*) AS n_terms
                FROM tf JOIN dft USING (term) CROSS JOIN stats
                GROUP BY doc_id),
         top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 20)
         SELECT doc_id, score, n_terms FROM top ORDER BY doc_id"""

  def oracleSql: Map[String, String] = Map(
    "q01_count_all" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "q02_filtered_count" ->
      "SELECT count(*) AS cnt FROM lineitem WHERE l_linenumber = 3",
    "q03_filtered_avg" ->
      """SELECT avg(l_extendedprice) AS avg_price FROM lineitem
         WHERE l_linenumber = 1 AND l_quantity < 25""",
    "q04_group_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
                avg(l_extendedprice) AS avg_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q05_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity < 5
         ORDER BY l_orderkey, l_linenumber, l_quantity,
                  l_extendedprice""",
    "q06_derived_date" ->
      """SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
                count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q07_cast_types" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS key_str,
                CAST(l_shipdate AS DATE) AS ship_date,
                CAST(l_linenumber AS DOUBLE) AS line_d
         FROM lineitem WHERE l_orderkey <= 100
         ORDER BY key_str, line_d, ship_date""",
    "q08_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""",
    "q09_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                sum(o_totalprice) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q10_join_multi" ->
      """SELECT n_name,
                sum(l_extendedprice * (1 - l_discount)) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q11_semi_join" ->
      """SELECT count(*) AS cnt FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)""",
    "q12_anti_join" ->
      """SELECT count(*) AS cnt FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    "q13_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) t
         WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""",
    "q14_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps FROM lineitem""",
    "q15_union" ->
      """SELECT n_nationkey AS nk FROM nation
         UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""",
    "q16_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""",
    "q17_except" ->
      """SELECT n_nationkey AS nk FROM nation
         EXCEPT SELECT c_nationkey AS nk FROM customer ORDER BY nk""",
    "q18_case_bucket" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
                     WHEN l_quantity < 30 THEN 'mid'
                     ELSE 'high' END AS bucket,
                count(*) AS cnt, avg(l_discount) AS avg_disc
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q19_scalar_funcs" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
                CAST(month(l_shipdate) AS BIGINT) AS mo,
                upper(l_returnflag) AS flag,
                count(*) AS cnt,
                round(sum(l_extendedprice), 2) AS rev_rounded,
                max(abs(l_discount - 0.05)) AS max_disc_dev
         FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q20_above_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         JOIN (SELECT o_custkey AS k, avg(o_totalprice) AS cust_avg
               FROM orders GROUP BY 1) a ON o.o_custkey = a.k
         WHERE o_totalprice > cust_avg * 2 ORDER BY o_orderkey""",
    "q21_percentiles" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.5) AS p50_price,
                quantile_cont(l_extendedprice, 0.9) AS p90_price,
                quantile_cont(l_quantity, 0.5) AS p50_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q22_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q23_pivot" ->
      """SELECT l_returnflag,
                sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END)
                  AS sum_f,
                sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END)
                  AS sum_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q24_string_funcs" ->
      """SELECT c_custkey,
                upper(substr(c_name, 1, 8)) AS name8,
                regexp_replace(c_name, 'Customer', 'Cust', 'g')
                  AS short_name,
                lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS padded_key,
                CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
                concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR))
                  AS seg_nation
         FROM customer ORDER BY c_custkey""",
    "q25_null_handling" ->
      """SELECT l_returnflag, count(*) AS n_rows,
                count(CASE WHEN l_quantity < 10 THEN NULL
                      ELSE l_quantity END) AS n_nonnull,
                sum(CASE WHEN l_quantity < 10 THEN NULL
                    ELSE l_quantity END) AS sum_nonnull,
                avg(coalesce(CASE WHEN l_quantity < 10 THEN NULL
                    ELSE l_quantity END, 0.0)) AS avg_coalesced
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q26_sql_api" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_extendedprice * (1 - l_discount)) AS revenue
         FROM lineitem WHERE l_quantity > 1
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q35_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                  AS gid,
                count(*) AS cnt, sum(l_quantity) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())
         ORDER BY gid, l_returnflag NULLS FIRST,
                  l_linestatus NULLS FIRST""",
    "q36_lateral_topn" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer c, LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
    "q29_left_outer" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_items,
                sum(coalesce(l_quantity, 0.0)) AS total_qty
         FROM orders LEFT OUTER JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q30_full_outer" ->
      """WITH sp AS (SELECT s_nationkey, count(*) AS n_supps
                     FROM supplier GROUP BY s_nationkey)
         SELECT coalesce(n_nationkey, s_nationkey) AS nk, n_name,
                coalesce(n_supps, 0) AS n_supps
         FROM nation FULL OUTER JOIN sp ON n_nationkey = s_nationkey
         ORDER BY nk""",
    "q31_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q32_window_battery" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
                row_number() OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber,
                           l_quantity, l_extendedprice, l_partkey) AS rn,
                rank() OVER (PARTITION BY l_suppkey
                  ORDER BY l_quantity DESC) AS qty_rank,
                dense_rank() OVER (PARTITION BY l_suppkey
                  ORDER BY l_quantity DESC) AS qty_drank,
                lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber,
                           l_quantity, l_extendedprice, l_partkey)
                  AS prev_qty,
                avg(l_quantity) OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber,
                           l_quantity, l_extendedprice, l_partkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
         FROM lineitem
         ORDER BY l_suppkey, rn""",
    "e01_tumbling_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                event_type, count(*) AS cnt, sum(value) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "e02_sessionize" ->
      """WITH x AS (
           SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                    (PARTITION BY user_id ORDER BY ts) AS prev_us
           FROM events)
         SELECT user_id,
                CAST(sum(CASE WHEN prev_us IS NULL
                              OR us - prev_us > 1800000000 THEN 1
                         ELSE 0 END) AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM x GROUP BY user_id ORDER BY user_id""",
    "e03_json_extract" ->
      """SELECT event_type, count(*) AS cnt,
                avg(CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
                    AS BIGINT)) AS avg_k,
                max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
                    AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "e04_daily_cumulative" ->
      """WITH daily AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2)
         SELECT user_id, day, cnt,
                CAST(sum(cnt) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS running_cnt
         FROM daily ORDER BY user_id, day""",
    "e05_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
                c.event_id AS click_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN
              (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts > c.ts
         ORDER BY purchase_id""",
    "e06_range_join" ->
      """SELECT count(*) AS n_pairs
         FROM events a JOIN events b
           ON a.event_id < b.event_id
          AND abs(epoch_us(CAST(a.ts AS TIMESTAMP)) -
                  epoch_us(CAST(b.ts AS TIMESTAMP))) <= 60000000""",
    // Same chained strictly-after min semantics; counts only, so no
    // timestamp crosses the engine boundary.
    "e10_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
           c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                 JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
                 WHERE e.event_type = 'click' GROUP BY 1),
           p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                 JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
                 WHERE e.event_type = 'purchase' GROUP BY 1)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step_ord, 'view' AS step,
                  CAST((SELECT count(*) FROM v) AS BIGINT) AS users
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'view>click',
                  CAST((SELECT count(*) FROM c) AS BIGINT)
           UNION ALL
           SELECT CAST(3 AS BIGINT), 'view>click>purchase',
                  CAST((SELECT count(*) FROM p) AS BIGINT))
         ORDER BY step_ord""",
    // Monday-start date_trunc('week') in both engines; week offset =
    // floor(day diff / 7) (integral both sides).
    "e11_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS wk
                     FROM events),
           f AS (SELECT user_id, min(wk) AS w0 FROM wk GROUP BY 1)
         SELECT strftime(f.w0, '%Y-%m-%d') AS cohort,
                CAST(date_diff('day', f.w0, wk.wk) // 7 AS BIGINT)
                  AS week_offset,
                CAST(count(DISTINCT wk.user_id) AS BIGINT)
                  AS active_users
         FROM wk JOIN f ON wk.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY cohort, week_offset""",
    "e09_gap_fill" ->
      """WITH h AS (SELECT user_id,
                      CAST(date_trunc('hour', CAST(ts AS TIMESTAMP))
                           AS TIMESTAMP) AS hour
                    FROM events),
         c AS (SELECT user_id, hour, count(*) AS cnt
               FROM h GROUP BY 1, 2),
         s AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi
               FROM h GROUP BY 1),
         d AS (SELECT user_id,
                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
               FROM s)
         SELECT d.user_id, d.hour, coalesce(cnt, 0) AS cnt
         FROM d LEFT JOIN c ON d.user_id = c.user_id AND d.hour = c.hour
         ORDER BY d.user_id, d.hour""",
    "t12_char_entropy" ->
      """WITH pos AS (
           SELECT doc_id, text, strlen(text) AS n,
                  unnest(range(1, strlen(text) + 1)) AS i
           FROM documents),
         cc AS (SELECT doc_id, substr(text, i, 1) AS ch,
                       count(*) AS c
                FROM pos GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
                log2(sum(c)) - sum(c * log2(c)) / sum(c) AS entropy_bits
         FROM cc GROUP BY doc_id ORDER BY doc_id""",
    // Each event belongs to the 4 hour-long windows starting at the
    // 15-minute marks in (ts - 1h, ts]; the cross join with i=0..3
    // shifts the event's 15-minute bucket back i slides.
    "e08_hopping_window" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value
                    FROM events),
         w AS (SELECT time_bucket(INTERVAL '15 minutes', t)
                        - (CAST(i AS INT) * INTERVAL '15 minutes') AS ws,
                      event_type, value
               FROM e CROSS JOIN (SELECT unnest(range(4)) AS i))
         SELECT ws, event_type, count(*) AS cnt, sum(value) AS sum_value
         FROM w GROUP BY ws, event_type ORDER BY ws, event_type""",
    // Same semantics as e06 — proves RangeJoinRule's rewrite is exact.
    "e07_range_join_auto" ->
      """SELECT count(*) AS n_pairs
         FROM events a JOIN events b
           ON a.event_id < b.event_id
          AND abs(epoch_us(CAST(a.ts AS TIMESTAMP)) -
                  epoch_us(CAST(b.ts AS TIMESTAMP))) <= 60000000""",
    "t01_text_stats" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS len_chars,
                CAST(len(regexp_split_to_array(trim(text), '\s+'))
                     AS BIGINT) AS n_tokens,
                length(text) * 1.0 /
                  len(regexp_split_to_array(trim(text), '\s+'))
                  AS chars_per_token
         FROM documents ORDER BY doc_id""",
    "t02_quality" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(lower(text),
                  '\b(the|a|and|of|to|in|is|it)\b')) AS BIGINT)
                  AS stop_hits,
                CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
                  AS punct_hits,
                len(regexp_extract_all(lower(text),
                  '\b(the|a|and|of|to|in|is|it)\b')) * 1.0 /
                  len(regexp_split_to_array(trim(text), '\s+'))
                  AS stop_ratio,
                len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 /
                  length(text) AS punct_ratio
         FROM documents ORDER BY doc_id""",
    "t03_langid" ->
      """WITH s AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|was|for)\b')) AS BIGINT) AS s_en,
             CAST(len(regexp_extract_all(lower(text),
               '\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS BIGINT) AS s_de,
             CAST(len(regexp_extract_all(lower(text),
               '\b(le|les|une|et|est|pas|pour|dans)\b')) AS BIGINT) AS s_fr,
             CAST(len(regexp_extract_all(lower(text),
               '\b(el|los|las|es|no|por|para|como)\b')) AS BIGINT) AS s_es
           FROM documents)
         SELECT doc_id,
                CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                       THEN 'en'
                     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                     WHEN s_fr >= s_es THEN 'fr'
                     ELSE 'es' END AS pred_lang,
                s_en, s_de, s_fr, s_es
         FROM s ORDER BY doc_id""",
    "t04_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",
    "t05_dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY 1""",
    "t06_token_counts" ->
      """SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(text), '\s+'))
                     AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(text,
                  '\p{L}+|\p{N}|[^\s\p{L}\p{N}]')) AS BIGINT)
                  AS bpeish_tokens,
                n_chars * 1.0 / len(regexp_extract_all(text,
                  '\p{L}+|\p{N}|[^\s\p{L}\p{N}]')) AS chars_per_bpeish
         FROM documents ORDER BY doc_id""",
    // The gate frames each single-line fixture doc as body + a
    // per-source footer (the scraped-page shape boilerplate removal
    // exists for); the oracle restates the framing verbatim.
    "t22_boilerplate" ->
      """WITH framed AS (
           SELECT doc_id, text || chr(10) || 'source: ' || source AS text
           FROM documents),
         lines AS (
           SELECT doc_id, trim(u.line) AS line
           FROM framed, unnest(regexp_split_to_array(text, chr(10)))
             AS u(line))
         SELECT line, count(DISTINCT doc_id) AS n_docs
         FROM lines WHERE line <> ''
         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
         ORDER BY line""",
    // BM25: the oracle restates the textbook formula over the same
    // whitespace tokens; top-k by (score desc, doc_id) then re-ordered
    // by doc_id so float noise can only matter at the k boundary.
    // t24 (persisted inverted index) must produce the EXACT same
    // result, so it shares the oracle verbatim — proving the index
    // layout lossless, not just plausible.
    "t24_bm25_indexed" -> Bm25OracleSql,
    "t23_bm25_search" -> Bm25OracleSql,
    // Index DELETE semantics (Lucene window, restated exactly):
    // phase a = tombstoned (membership + df from survivors, scalars
    // AS-BUILT over the full corpus), phase b = compacted (scalars
    // recomputed over the reduced corpus). Export refuses under live
    // tombstones and succeeds after compaction.
    "t29_bm25_deletes" ->
      """WITH base AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS DOUBLE) AS dl,
                  text
           FROM documents),
         live AS (SELECT * FROM base WHERE doc_id % 10 <> 3),
         tok AS (SELECT doc_id, dl, lower(u.t) AS term
                 FROM live, unnest(regexp_split_to_array(trim(text),
                   '\s+')) AS u(t)),
         tf AS (SELECT doc_id, dl, term,
                       CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term IN ('spark', 'vector', 'stream')
                GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE)
                   AS df FROM tf GROUP BY 1),
         stats_a AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                            avg(dl) AS avgdl FROM base),
         stats_b AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                            avg(dl) AS avgdl FROM live),
         sc_a AS (SELECT doc_id,
                  sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf
                      * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                    AS score,
                  count(*) AS n_terms
                FROM tf JOIN dft USING (term) CROSS JOIN stats_a
                GROUP BY doc_id),
         sc_b AS (SELECT doc_id,
                  sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf
                      * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                    AS score,
                  count(*) AS n_terms
                FROM tf JOIN dft USING (term) CROSS JOIN stats_b
                GROUP BY doc_id),
         top_a AS (SELECT 'a_tombstoned' AS phase, doc_id, score,
                          n_terms
                   FROM sc_a ORDER BY score DESC, doc_id LIMIT 20),
         top_b AS (SELECT 'b_compacted' AS phase, doc_id, score,
                          n_terms
                   FROM sc_b ORDER BY score DESC, doc_id LIMIT 20)
         SELECT phase, doc_id, score, n_terms,
                CAST(1 AS BIGINT) AS export_refused_live,
                CAST(1 AS BIGINT) AS export_ok_after
         FROM (SELECT * FROM top_a UNION ALL SELECT * FROM top_b)
         ORDER BY phase, doc_id""",
    // Deterministic Bernoulli samples: the keep decision is a pure
    // function of (seed, doc_id) — u = first 8 md5 hex digits as a
    // 32-bit uniform — so DuckDB recomputes the EXACT kept set and the
    // gates hash-match full rows, not just counts.
    "t20_importance_sample" ->
      """WITH scored AS (
           SELECT doc_id,
                  len(regexp_extract_all(lower(text),
                    '\b(the|a|and|of|to|in|is|it)\b')) * 1.0 /
                    len(regexp_split_to_array(trim(text), '\s+'))
                    AS stop_ratio
           FROM documents),
         p AS (
           SELECT doc_id, stop_ratio,
                  least(CAST(1.0 AS DOUBLE),
                        greatest(CAST(0.05 AS DOUBLE), stop_ratio * 5))
                    AS keep_p
           FROM scored)
         SELECT doc_id, stop_ratio, keep_p FROM p
         WHERE CAST(('0x' || substr(md5('graft:' ||
                 CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 < keep_p
         ORDER BY doc_id""",
    // Exact percent-rank: the engine's bucketed two-pass rank must
    // equal SQL percent_rank() (ties included) — the oracle IS the
    // single-window definition the scale path avoids.
    "t26_percentile_norm" ->
      """WITH scored AS (
           SELECT doc_id,
                  len(regexp_extract_all(lower(text),
                    '\b(the|a|and|of|to|in|is|it)\b')) * 1.0 /
                    len(regexp_split_to_array(trim(text), '\s+'))
                    AS score
           FROM documents)
         SELECT doc_id, score,
                percent_rank() OVER (ORDER BY score) AS pct_rank
         FROM scored ORDER BY doc_id""",
    // Exact-substring span dedup (Lee et al. 2021, all-copies): every
    // 15-token window occurring >= 2 times in the corpus marks its
    // span in each occurrence; DuckDB recomputes the window md5 keys,
    // the marks, and the excised text — full rows hash-matched
    // including the rebuilt cleaned_text strings.
    "t27_substr_dedup" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
           FROM documents),
         win AS (
           SELECT doc_id, i, md5(array_to_string(ts[i+1:i+15], ' ')) AS h
           FROM tok, unnest(range(len(ts) - 15 + 1)) AS t(i)
           WHERE len(ts) >= 15),
         dup AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
         marked AS (
           SELECT DISTINCT w.doc_id, u.p AS pos
           FROM win w JOIN dup USING (h),
                unnest(range(w.i, w.i + 15)) AS u(p)),
         toks AS (
           SELECT doc_id, ts[p+1] AS tok, p AS pos
           FROM tok, unnest(range(len(ts))) AS u(p)),
         kept AS (
           SELECT t.doc_id, t.pos, t.tok FROM toks t
           LEFT JOIN marked m ON t.doc_id = m.doc_id AND t.pos = m.pos
           WHERE m.pos IS NULL),
         stats AS (
           SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM tok),
         dupt AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens
           FROM marked GROUP BY doc_id),
         clean AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
           FROM kept GROUP BY doc_id)
         SELECT s.doc_id, s.n_tokens, d.dup_tokens,
                coalesce(c.cleaned, '') AS cleaned_text
         FROM stats s JOIN dupt d USING (doc_id)
         LEFT JOIN clean c USING (doc_id)
         ORDER BY s.doc_id""",
    // Trained naive-Bayes quality filter: positive = src0..src4
    // membership, trained on the pure doc_id % 5 == 0 slice with
    // Laplace +1; DuckDB refits the identical closed-form model and
    // rescores every document — logodds doubles at 1e-9, kept flags
    // exact (decision margin floor ~1e-4 >> sum-reorder noise). The
    // oracle sums per-token CONTRIBUTIONS to mirror the engine's
    // summation structure.
    "t28_nb_filter" ->
      """WITH docs AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts,
                  source IN ('src0','src1','src2','src3','src4') AS pos
           FROM documents),
         ttoks AS (SELECT pos, unnest(ts) AS tok FROM docs
                   WHERE doc_id % 5 = 0),
         model AS (
           SELECT tok, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
                  sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS nn
           FROM ttoks GROUP BY tok),
         stats AS (
           SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS ntp,
                  sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS ntn,
                  count(DISTINCT tok) AS v
           FROM ttoks),
         prior AS (
           SELECT ln(sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1.0 /
                     sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)) AS lp
           FROM docs WHERE doc_id % 5 = 0),
         contrib AS (
           SELECT a.doc_id,
                  ln((coalesce(m.np, 0) + 1.0) / (s.ntp + s.v)) -
                  ln((coalesce(m.nn, 0) + 1.0) / (s.ntn + s.v)) AS c
           FROM (SELECT doc_id, unnest(ts) AS tok FROM docs) a
           LEFT JOIN model m USING (tok), stats s)
         SELECT doc_id,
                sum(c) + (SELECT lp FROM prior) AS logodds,
                CAST(sum(c) + (SELECT lp FROM prior) > 0 AS BIGINT)
                  AS kept
         FROM contrib GROUP BY doc_id ORDER BY doc_id""",
    // Deterministic 90/5/5 split: u = (seed, doc_id) md5 uniform, the
    // split is the interval u falls in — DuckDB recomputes every
    // assignment bit-for-bit, full rows hash-matched.
    "t25_split_assign" ->
      """WITH u AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5('split:' ||
                    CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 AS u
           FROM documents)
         SELECT doc_id, u,
                -- boundaries as the SAME left-to-right IEEE sums the
                -- engine's cumulative-weight scan computes (0.9 + 0.05
                -- is not the 0.95 literal's double)
                CASE WHEN u < 0.9 THEN 'train'
                     WHEN u < 0.9 + 0.05 THEN 'val'
                     ELSE 'test' END AS split
         FROM u ORDER BY doc_id""",
    "t21_mixture_sample" ->
      """WITH r AS (
           SELECT doc_id, source,
                  CAST(CASE source WHEN 'src0' THEN 1.0
                       WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25
                       ELSE 0.1 END AS DOUBLE) AS rate
           FROM documents)
         SELECT doc_id, source, rate FROM r
         WHERE CAST(('0x' || substr(md5('graft:' ||
                 CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 < rate
         ORDER BY doc_id""",
    // The winnowed Karp-Rabin fingerprint is engine-local math DuckDB
    // cannot recompute; the gate reduces it to literals (golden
    // sentence pinned by RollingHashSpec's brute-force reference, the
    // SF-independent nation-table aggregate) plus the corpus count the
    // oracle restates from the parquet itself.
    "t08_rolling_fp" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
                CAST(1 AS BIGINT) AS n_distinct_fp_ok,
                CAST(17520061990 AS BIGINT) AS nation_fp_agg,
                CAST(160205208806805153 AS BIGINT) AS golden_fp""",
    "t07_curation" ->
      """WITH scored AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                       AS BIGINT) AS n_tokens,
                  len(regexp_extract_all(lower(text),
                    '\b(the|a|and|of|to|in|is|it)\b')) * 1.0 /
                    len(regexp_split_to_array(trim(text), '\s+'))
                    AS stop_ratio,
                  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                    AS fp
           FROM documents)
         SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
                count(*) AS n_copies
         FROM scored WHERE n_tokens >= 10 AND stop_ratio >= 0.01
         GROUP BY fp ORDER BY doc_id""",
    "q33_string_agg" ->
      """SELECT r_name, count(*) AS n_nations,
                string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "t09_stratified" ->
      """WITH s AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|was|for)\b')) AS BIGINT) AS s_en,
             CAST(len(regexp_extract_all(lower(text),
               '\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS BIGINT) AS s_de,
             CAST(len(regexp_extract_all(lower(text),
               '\b(le|les|une|et|est|pas|pour|dans)\b')) AS BIGINT) AS s_fr,
             CAST(len(regexp_extract_all(lower(text),
               '\b(el|los|las|es|no|por|para|como)\b')) AS BIGINT) AS s_es
           FROM documents),
         lang AS (SELECT doc_id,
                CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                       THEN 'en'
                     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                     WHEN s_fr >= s_es THEN 'fr'
                     ELSE 'es' END AS pred_lang
              FROM s),
         f AS (SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                   AS fp
               FROM documents),
         ranked AS (SELECT l.doc_id, pred_lang, fp,
                  row_number() OVER (PARTITION BY pred_lang
                    ORDER BY fp, l.doc_id) AS rk
                FROM lang l JOIN f ON l.doc_id = f.doc_id)
         SELECT doc_id, pred_lang, fp, CAST(rk AS BIGINT) AS rk
         FROM ranked WHERE rk <= 50 ORDER BY pred_lang, rk""",
    // Gopher repetition battery: duplicated-3-gram fraction, top
    // 2-/3-/4-gram shares (published 0.18/0.16 thresholds for 3/4),
    // duplicate-line fraction (0.30); integer-ratio doubles, so both
    // engines agree bit-for-bit and the flag thresholds compare
    // identically. A 3-token doc has no 4-grams -> share 0.
    "t14_repetition" ->
      """WITH t AS (SELECT doc_id,
                      regexp_split_to_array(trim(lower(text)), '\s+')
                        AS toks,
                      1.0 - len(list_distinct(string_split(text, chr(10))))
                        * 1.0 / len(string_split(text, chr(10)))
                        AS dup_line_frac
                    FROM documents),
         b AS (SELECT * FROM t WHERE len(toks) >= 3),
         g3 AS (SELECT doc_id,
                  list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    AS gs
                FROM b),
         d3 AS (SELECT doc_id,
                  1.0 - len(list_distinct(gs)) * 1.0 / len(gs) AS dup3_frac
                FROM g3),
         n2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS g FROM b),
         n3 AS (SELECT doc_id, unnest(gs) AS g FROM g3),
         n4 AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         || ' ' || toks[i+3])) AS g
                FROM b WHERE len(toks) >= 4),
         s2 AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top2_frac FROM
                  (SELECT doc_id, g, count(*) AS c FROM n2 GROUP BY 1, 2)
                GROUP BY 1),
         s3 AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top3_frac FROM
                  (SELECT doc_id, g, count(*) AS c FROM n3 GROUP BY 1, 2)
                GROUP BY 1),
         s4 AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top4_frac FROM
                  (SELECT doc_id, g, count(*) AS c FROM n4 GROUP BY 1, 2)
                GROUP BY 1)
         SELECT b.doc_id, dup3_frac, top2_frac, top3_frac,
                coalesce(top4_frac, 0.0) AS top4_frac, dup_line_frac,
                CAST(CASE WHEN dup3_frac > 0.05 OR top2_frac > 0.05
                            OR top3_frac > 0.18
                            OR coalesce(top4_frac, 0.0) > 0.16
                            OR dup_line_frac > 0.30
                     THEN 1 ELSE 0 END AS BIGINT) AS flagged
         FROM b JOIN d3 USING (doc_id) JOIN s2 USING (doc_id)
                JOIN s3 USING (doc_id) LEFT JOIN s4 USING (doc_id)
         ORDER BY doc_id""",
    // Identical PII construction + redaction chain (RE2 ∩ Java-regex
    // common-subset patterns, same email -> phone -> IP order); the
    // 'g' flag matches Spark's replace-all regexp_replace, and
    // len(regexp_extract_all(...)) counts the same non-overlapping
    // matches as Spark's regexp_count.
    "t15_pii_redaction" ->
      """WITH aug AS (
           SELECT doc_id,
             text || ' contact user' || doc_id || '@mail.example.com or +1-555-'
                  || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                  || ' from 10.0.' || (doc_id % 256) || '.1 end' AS raw
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g'),
             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(raw,
             '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw,
             '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips
         FROM aug ORDER BY doc_id""",
    // Identical whitespace tokenization; range() end-exclusive = the
    // Spark sequence(0, n-1, stride) start set (every multiple of the
    // stride strictly inside the doc); list_slice's inclusive stop at
    // start+window clamps at the tail like Spark's length-64 slice.
    "t16_chunking" ->
      """WITH t AS (SELECT doc_id,
                      regexp_split_to_array(trim(lower(text)), '\s+')
                        AS toks FROM documents),
           w AS (SELECT doc_id, toks,
                        unnest(range(0, len(toks), 48)) AS start FROM t)
         SELECT doc_id,
                CAST(start // 48 AS BIGINT) AS chunk_id,
                array_to_string(list_slice(toks, start + 1, start + 64),
                  ' ') AS chunk_text,
                CAST(len(list_slice(toks, start + 1, start + 64))
                  AS BIGINT) AS n_tokens
         FROM w ORDER BY doc_id, chunk_id""",
    // Same md5(seed:doc_id) key both engines (lowercase hex from the
    // same string bytes); global rank by the key with doc_id as a
    // collision tie-break; shard = round-robin on the rank.
    "t17_shuffle_shard" ->
      """WITH k AS (SELECT doc_id,
                      md5(concat('graft:', CAST(doc_id AS VARCHAR))) AS k
                    FROM documents)
         SELECT doc_id,
                CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
                  AS pos,
                CAST((row_number() OVER (ORDER BY k, doc_id) - 1) % 8
                  AS BIGINT) AS shard
         FROM k ORDER BY pos""",
    // Per-source rank under the same seeded key; keep rank <= 10.
    "t18_source_cap" ->
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5(concat('graft:',
                      CAST(doc_id AS VARCHAR))), doc_id) AS BIGINT) AS rk
           FROM documents)
         WHERE rk <= 10 ORDER BY source, rk""",
    // Identical lower/trim/ws tokenization; IEEE-double ln both sides
    // (sum reorder noise sits ~1e-15 relative, inside the tolerance).
    "t19_lm_score" ->
      """WITH toks AS (SELECT doc_id,
                         unnest(regexp_split_to_array(
                           trim(lower(text)), '\s+')) AS tok
                       FROM documents),
           cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
           tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                avg(-ln(CAST(c AS DOUBLE) / t)) AS lm_score
         FROM toks JOIN cnt USING (tok), tot
         GROUP BY doc_id ORDER BY doc_id""",
    // Same tokenize->3-gram-shingle semantics as the d01 oracle;
    // benchmark = the deterministic doc_id % 50 == 0 slice.
    "t13_decontamination" -> DecontamOracleSql,
    // t30 reproduces t13's exact answer from the PERSISTED eval-set
    // shingle index — same contract, same oracle
    "t30_decontam_index" -> DecontamOracleSql,
    "t11_top_tokens" ->
      """WITH s AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|was|for)\b')) AS BIGINT) AS s_en,
             CAST(len(regexp_extract_all(lower(text),
               '\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS BIGINT) AS s_de,
             CAST(len(regexp_extract_all(lower(text),
               '\b(le|les|une|et|est|pas|pour|dans)\b')) AS BIGINT) AS s_fr,
             CAST(len(regexp_extract_all(lower(text),
               '\b(el|los|las|es|no|por|para|como)\b')) AS BIGINT) AS s_es
           FROM documents),
         lang AS (SELECT doc_id,
                CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                       THEN 'en'
                     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                     WHEN s_fr >= s_es THEN 'fr'
                     ELSE 'es' END AS pred_lang
              FROM s),
         tok AS (SELECT pred_lang,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                 FROM documents d JOIN lang l ON d.doc_id = l.doc_id),
         c AS (SELECT pred_lang, token, count(*) AS cnt
               FROM tok GROUP BY 1, 2),
         r AS (SELECT pred_lang, token, cnt,
                 row_number() OVER (PARTITION BY pred_lang
                   ORDER BY cnt DESC, token) AS rank
               FROM c)
         SELECT pred_lang, CAST(rank AS BIGINT) AS rank, token, cnt
         FROM r WHERE rank <= 10 ORDER BY pred_lang, rank""",
    "t10_packing" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                       AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
               FROM d)
         SELECT doc_id, n_tokens, cum_tokens,
                CAST(floor((cum_tokens - n_tokens) / 4096.0) AS BIGINT)
                  AS bin
         FROM c ORDER BY doc_id""",
    "q28_typed_ds" ->
      """SELECT l_returnflag, count(*) AS n_items,
                sum(l_extendedprice * (1 - l_discount)) AS revenue
         FROM lineitem WHERE l_quantity > 5
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "d01_shingle_jaccard" -> shingleJaccardSql,
    "d02_minhash_lsh"     -> shingleJaccardSql,
    "d03_simhash"         -> shingleJaccardSql,
    // d10: the exact cross-boundary pairs of the two probe phases —
    // (corpus < 300) x (batch 300-449), then (corpus < 450) x
    // (batch 450+) after the O(delta) index append
    "d10_dedup_index" ->
      s"""SELECT a_id AS dup_of, b_id AS new_id
          FROM ($shingleJaccardSql)
          WHERE (a_id < 300 AND b_id >= 300 AND b_id < 450)
             OR (a_id < 450 AND b_id >= 450)
          ORDER BY dup_of, new_id""",
    // d11: the DELETE lifecycle's counts all reduce to the exact
    // cross-boundary pairs (corpus < 300) x (batch 300-419) filtered
    // by the takedown parity (every even corpus id tombstones), plus
    // the smallest even matcher re-ingesting after compaction.
    "d11_dedup_index_deletes" ->
      s"""WITH p AS (SELECT a_id, b_id FROM ($shingleJaccardSql)
                     WHERE a_id < 300 AND b_id >= 300 AND b_id < 420)
          SELECT CAST((SELECT count(*) FROM p) AS BIGINT)
                   AS pairs_before,
                 CAST(1 AS BIGINT) AS gone_tombstoned,
                 CAST(1 AS BIGINT) AS refused_tombstoned,
                 CAST((SELECT count(*) FROM p WHERE a_id % 2 = 1)
                   AS BIGINT) AS pairs_after_delete,
                 CAST((SELECT count(*) FROM p WHERE a_id % 2 = 1)
                   AS BIGINT) AS pairs_after_compact,
                 CAST(1 AS BIGINT) AS reingest_ok,
                 CAST((SELECT count(*) FROM p WHERE a_id % 2 = 1
                       OR a_id = (SELECT min(a_id) FROM p
                                  WHERE a_id % 2 = 0)) AS BIGINT)
                   AS pairs_after_reingest""",
    // Transitive closure over the exact near-dup pairs via recursive
    // CTE; Spark computes the same components by min-label propagation.
    "d06_dedup_clusters" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
               FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                    AS shingle
                FROM t WHERE len(toks) >= 3),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pair AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                         count(*) AS common
                  FROM sh a JOIN sh b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         good AS (SELECT a_id, b_id
                  FROM pair JOIN cnt ca ON ca.doc_id = a_id
                            JOIN cnt cb ON cb.doc_id = b_id
                  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5),
         edges AS (SELECT a_id AS u, b_id AS v FROM good
                   UNION ALL SELECT b_id, a_id FROM good),
         reach AS (SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         SELECT d.doc_id,
                least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
         FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    "d04_embedding_neardup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) >= 0.45
         ORDER BY a_id, b_id""",
    "s01_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  list_cosine_similarity(q.emb, c.emb) AS cosine
           FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         FROM (SELECT query_id, neighbor_id, cosine,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
               FROM scored) t
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "m02_media_feats" ->
      """WITH agg AS (
           SELECT doc_id, strlen(text) AS n,
                  ord(substr(text, 1, 1)) AS first_b,
                  list_sum(list_transform(range(1, strlen(text) + 1),
                    i -> ord(substr(text, i, 1)))) AS s1,
                  list_sum(list_transform(range(1, strlen(text) + 1),
                    i -> ord(substr(text, i, 1)) * ord(substr(text, i, 1))))
                    AS s2
           FROM documents)
         SELECT doc_id, n AS n_bytes,
                s1 * 1.0 / n AS mean_byte,
                s1 * 1.0 / n AS f_mean,
                s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n) AS f_var,
                n * 1.0 AS f_n,
                first_b * 1.0 AS f_first
         FROM agg ORDER BY doc_id""",
    "m01_media_meta" ->
      """SELECT doc_id,
                CAST(strlen(text) AS BIGINT) AS n_bytes,
                substr(md5(text), 1, 8) AS digest8,
                CAST(strlen(text) % 640 AS BIGINT) AS width,
                CAST(strlen(text) % 480 AS BIGINT) AS height,
                CAST(strlen(text) % 16 AS BIGINT) AS n_frames
         FROM documents ORDER BY doc_id""",
    // Quality contracts of the approximate paths: the Spark side
    // computes recall/precision against its exact in-engine baselines
    // (deterministic seeds, so the outcome is stable) and emits
    // constants; the oracle asserts them literally.
    "s04_ivf_recall" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok""",
    "s05_lsh_recall" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok""",
    "s07_int8_recall" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok,
                CAST(1 AS BIGINT) AS int8_bounded""",
    "s08_int8_ivf_recall" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok""",
    "s09_int8_ivf_indexed" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok,
                CAST(1 AS BIGINT) AS stored_int8,
                CAST(1 AS BIGINT) AS float_dropped""",
    "s11_pq_recall" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok,
                CAST(1 AS BIGINT) AS compression_ok""",
    "s12_ivfpq_indexed" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok,
                CAST(1 AS BIGINT) AS stored_codes,
                CAST(1 AS BIGINT) AS float_absent""",
    // Hybrid RRF: each system's top-50 is picked by raw score (gapped
    // >> float noise at the boundary), but the FUSED score is computed
    // from integer ranks only — bit-identical across engines, so the
    // full 20-row result hash-matches.
    "s14_hybrid_rrf" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id >= 10),
         base AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS DOUBLE) AS dl,
                  text
           FROM corpus),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(dl) AS avgdl FROM base),
         tok AS (SELECT doc_id, dl, lower(u.t) AS term
                 FROM base, unnest(regexp_split_to_array(trim(text),
                   '\s+')) AS u(t)),
         tf AS (SELECT doc_id, dl, term,
                       CAST(count(*) AS DOUBLE) AS tf
                FROM tok WHERE term IN ('spark', 'vector', 'stream')
                GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE)
                   AS df FROM tf GROUP BY 1),
         sc AS (SELECT doc_id,
                  sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf
                      * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                    AS score
                FROM tf JOIN dft USING (term) CROSS JOIN stats
                GROUP BY doc_id),
         ttop AS (SELECT doc_id, score FROM sc
                  ORDER BY score DESC, doc_id LIMIT 50),
         trank AS (SELECT doc_id, CAST(row_number() OVER (
                     ORDER BY score DESC, doc_id) AS BIGINT) AS t_rank
                   FROM ttop),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
         vq AS (SELECT emb FROM e WHERE vec_id = 0),
         vs AS (SELECT c.vec_id AS doc_id,
                       list_cosine_similarity(c.emb, q.emb) AS cosine
                FROM e c, vq q WHERE c.vec_id >= 10),
         vtop AS (SELECT doc_id, cosine FROM vs
                  ORDER BY cosine DESC, doc_id LIMIT 50),
         vrank AS (SELECT doc_id, CAST(row_number() OVER (
                     ORDER BY cosine DESC, doc_id) AS BIGINT) AS v_rank
                   FROM vtop),
         fused AS (
           SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
                  t.t_rank, v.v_rank,
                  coalesce(1.0 / (60 + t.t_rank), 0) +
                    coalesce(1.0 / (60 + v.v_rank), 0) AS rrf
           FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.doc_id),
         top AS (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20)
         SELECT doc_id, t_rank, v_rank, rrf FROM top ORDER BY doc_id""",
    "s06_ivf_kmeans_recall" ->
      """SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries,
                CAST(1 AS BIGINT) AS recall_ok""",
    "d07_embedding_lsh_recall" ->
      """SELECT CAST(1 AS BIGINT) AS precision_ok,
                CAST(1 AS BIGINT) AS recall_ok""",
    // d08 is approximate by design (rows-only); d09 reduces its
    // precision/recall contract vs the exact d04 rule to constants.
    "d09_semantic_dedup_recall" ->
      """SELECT CAST(1 AS BIGINT) AS precision_ok,
                CAST(1 AS BIGINT) AS recall_ok""",
    "q34_approx_bounds" ->
      """SELECT CAST(3 AS BIGINT) AS n_groups,
                CAST(1 AS BIGINT) AS parts_ok,
                CAST(1 AS BIGINT) AS supps_ok,
                CAST(1 AS BIGINT) AS p50_ok""",
    "q37_sketch_rollup" ->
      """SELECT CAST(3 AS BIGINT) AS n_groups,
                CAST(1 AS BIGINT) AS parts_ok""",
    // Snapshot gate invariants: 3-row commit then 2-row append over
    // `region` (5 rows at every SF), readWhere key=0 hits 1 row with
    // files pruned and prior files byte-untouched; file-level upsert
    // rewrites ONE file, keeps 5 rows, 1 rewritten hit, time travel to
    // v1 still 3; merge-on-read delete of key 1 leaves 4 rows behind
    // ONE tombstone file with every data file linked byte-untouched
    // (0 own data files), and compact collapses it (4 rows, 0
    // tombstones); a positional deleteWhere (r_regionkey >= 3) then
    // tombstones 2 of the 4 compacted rows by (file, ordinal) without
    // touching v5's data files, and a second compact collapses it;
    // days(ts)-transform `nation` chain: 13 then 25 rows,
    // 5 per region, ts-range Jan 2-3 hits the 10 keys with
    // n_nationkey % 5 in (1, 2), the derived partition column stays
    // hidden; metadata-only rollback to v1 republishes 13 rows as v3.
    // (The chg_* changelog leg moved to its own gate, q44, in r10.)
    "q40_snapshot_append" ->
      """SELECT CAST(3 AS BIGINT) AS v1_rows,
                CAST(5 AS BIGINT) AS v2_rows,
                CAST(1 AS BIGINT) AS rw_rows,
                CAST(1 AS BIGINT) AS files_pruned,
                CAST(1 AS BIGINT) AS prior_untouched,
                CAST(5 AS BIGINT) AS merge_rows,
                CAST(1 AS BIGINT) AS merge_hit,
                CAST(1 AS BIGINT) AS merge_own_files,
                CAST(3 AS BIGINT) AS merge_tt_rows,
                CAST(4 AS BIGINT) AS mor_rows,
                CAST(0 AS BIGINT) AS mor_hit,
                CAST(1 AS BIGINT) AS mor_prior_untouched,
                CAST(1 AS BIGINT) AS mor_tomb_files,
                CAST(0 AS BIGINT) AS mor_own_data_files,
                CAST(4 AS BIGINT) AS compact_rows,
                CAST(0 AS BIGINT) AS compact_tomb_files,
                CAST(2 AS BIGINT) AS pd_rows,
                CAST(0 AS BIGINT) AS pd_hit,
                CAST(1 AS BIGINT) AS pd_prior_untouched,
                CAST(1 AS BIGINT) AS pd_tomb_files,
                CAST(0 AS BIGINT) AS pd_own_data_files,
                CAST(2 AS BIGINT) AS compact2_rows,
                CAST(0 AS BIGINT) AS compact2_tomb_files,
                CAST(13 AS BIGINT) AS p_v1_rows,
                CAST(25 AS BIGINT) AS p_v2_rows,
                CAST(5 AS BIGINT) AS p_region2_rows,
                CAST(10 AS BIGINT) AS p_ts_rows,
                CAST(1 AS BIGINT) AS p_hidden,
                CAST(3 AS BIGINT) AS rb_version,
                CAST(13 AS BIGINT) AS rb_rows""",
    // Incremental-changelog gate (split from q40 in r10; constants
    // conserved): over the commit/append/CoW-merge/MoR-delete/compact/
    // positional-delete/compact chain, the append emits 2 inserts, the
    // CoW merge nets to 1 insert + 1 delete (carried rows cancel), the
    // equality tombstone emits 1 key-delete, compact emits ZERO
    // events, the positional delete emits 2 full-row deletes, and the
    // whole (1, 7] range sums 3 inserts + 4 deletes.
    "q44_changelog" ->
      """SELECT CAST(2 AS BIGINT) AS chg_append_ins,
                CAST(1 AS BIGINT) AS chg_merge_ins,
                CAST(1 AS BIGINT) AS chg_merge_del,
                CAST(1 AS BIGINT) AS chg_mor_del,
                CAST(0 AS BIGINT) AS chg_compact_events,
                CAST(2 AS BIGINT) AS chg_pd_del,
                CAST(3 AS BIGINT) AS chg_all_ins,
                CAST(4 AS BIGINT) AS chg_all_del""",
    // DDL-partitioning gate: CREATE TABLE PARTITIONED BY (n_regionkey)
    // records the identity spec on the empty v1; the plain INSERT of
    // nation's 25 rows lands 5 hidden region directories with the
    // derived column out of the read schema; readWhere on region 2
    // returns 5 rows scanning fewer files; .partitions rolls up 5
    // values / 25 rows / >=5 files with bytes matching .files;
    // set_spec evolves to bucket(5, n_nationkey) as v3 and the next
    // insert (5 EVO rows) bucket-partitions; point readWhere on an
    // evolved key hits 1 row; clearing the spec makes the last insert
    // unpartitioned; 31 rows, six versions.
    "q45_ddl_partitioning" ->
      """SELECT CAST(1 AS BIGINT) AS ddl_spec_identity,
                CAST(25 AS BIGINT) AS ins_rows,
                CAST(5 AS BIGINT) AS part_dirs,
                CAST(1 AS BIGINT) AS part_hidden,
                CAST(5 AS BIGINT) AS rw_rows,
                CAST(1 AS BIGINT) AS rw_pruned,
                CAST(5 AS BIGINT) AS pm_parts,
                CAST(25 AS BIGINT) AS pm_rows,
                CAST(1 AS BIGINT) AS pm_files_ok,
                CAST(1 AS BIGINT) AS pm_bytes_match,
                CAST(3 AS BIGINT) AS evo_version,
                CAST(1 AS BIGINT) AS evo_layout,
                CAST(1 AS BIGINT) AS evo_point_rows,
                CAST(30 AS BIGINT) AS evo_total_rows,
                CAST(1 AS BIGINT) AS clear_plain,
                CAST(31 AS BIGINT) AS final_rows,
                CAST(6 AS BIGINT) AS final_version""",
    // SQL-extension DDL gate: CREATE carries TBLPROPERTIES; the
    // partition-field cycle ADD bucket(3) (v3) + bucketed insert (v4)
    // + REPLACE identity (v5) + DROP (v6); SET merges / UNSET drops
    // exactly its keys; CREATE TAG pins v2's 5 rows; a branch creates
    // and drops; VACUUM RETAIN 2 keeps {7, 8} plus the tag-pinned v2.
    "q46_sql_ddl" ->
      """SELECT CAST(1 AS BIGINT) AS props_create,
                CAST(1 AS BIGINT) AS ddl_add_spec,
                CAST(1 AS BIGINT) AS ddl_add_layout,
                CAST(1 AS BIGINT) AS ddl_replace_spec,
                CAST(1 AS BIGINT) AS ddl_drop_clear,
                CAST(1 AS BIGINT) AS props_set,
                CAST(1 AS BIGINT) AS props_unset,
                CAST(5 AS BIGINT) AS tag_rows,
                CAST(1 AS BIGINT) AS branch_cycle,
                CAST(3 AS BIGINT) AS vacuum_retained,
                CAST(6 AS BIGINT) AS final_rows,
                CAST(8 AS BIGINT) AS final_version,
                CAST(1 AS BIGINT) AS write_order_prop,
                CAST(1 AS BIGINT) AS write_order_sorted,
                CAST(1 AS BIGINT) AS write_order_cleared""",
    // SQL time-travel gate: region (5 rows at every SF) as a 3-version
    // table — v1 commit 3 rows, v2 append 2, v3 ONE atomic CDC batch
    // (upsert key 0 + merge-on-read delete of key 1); per-version
    // counts via native catalog VERSION AS OF pins, the v2-v1 join
    // hits v1's 3 keys, the appended keys (3, 4) sum 7, and the CDC
    // update is visible at v3 but not v2. The wap_* constants are the
    // write-audit-publish leg: 2 rows staged on a branch leave main at
    // 4 while the branch reads 6, and the fast-forward publishes 6.
    // The sql_insert_*/ctas_*/replaced_* constants are the DSv2 WRITE
    // leg: INSERT INTO adds 2 rows (6 -> 8), CTAS from the v1 pin
    // creates a 3-row table, and createOrReplace swaps it to 1 row
    // while the replaced 3-row snapshot stays time-travelable.
    "q41_sql_time_travel" ->
      """SELECT CAST(3 AS BIGINT) AS v1_rows,
                CAST(5 AS BIGINT) AS v2_rows,
                CAST(4 AS BIGINT) AS v3_rows,
                CAST(4 AS BIGINT) AS cur_rows,
                CAST(3 AS BIGINT) AS joined_rows,
                CAST(7 AS BIGINT) AS appended_keysum,
                CAST(1 AS BIGINT) AS cdc_updated,
                CAST(0 AS BIGINT) AS cdc_before,
                CAST(4 AS BIGINT) AS wap_main_before,
                CAST(6 AS BIGINT) AS wap_staging_rows,
                CAST(6 AS BIGINT) AS wap_main_after,
                CAST(2 AS BIGINT) AS sql_insert_rows,
                CAST(8 AS BIGINT) AS sql_insert_total,
                CAST(3 AS BIGINT) AS ctas_rows,
                CAST(1 AS BIGINT) AS replaced_rows,
                CAST(3 AS BIGINT) AS replaced_old_rows""",
    // SQL row-level DML gate: DELETE drops key 1 of 5 (merge-on-read,
    // data files untouched); UPDATE suffixes keys >= 3 (2 rows); the
    // three-clause MERGE kills key 4, updates key 2, inserts key 7
    // (4 rows total); NOT MATCHED BY SOURCE marks all but key 0 STALE
    // (3 rows); v1 still reads 5; five versions published.
    "q42_sql_dml" ->
      """SELECT CAST(4 AS BIGINT) AS del_after,
                CAST(1 AS BIGINT) AS del_files_same,
                CAST(2 AS BIGINT) AS upd_marked,
                CAST(4 AS BIGINT) AS merge_rows,
                CAST(1 AS BIGINT) AS merge_updated,
                CAST(1 AS BIGINT) AS merge_inserted,
                CAST(0 AS BIGINT) AS merge_killed,
                CAST(3 AS BIGINT) AS nmbs_stale,
                CAST(5 AS BIGINT) AS tt_v1_rows,
                CAST(5 AS BIGINT) AS final_version""",
    // Schema-evolution gate: ADD null-fills the 3 existing rows and
    // the post-add INSERT sets one; DROP leaves (id, score) = 2 cols
    // while v1 still shows 2 original cols; RENAME id->key preserves
    // values (0+1+2+4); re-adding dropped 'v' resurrects nothing
    // (4 nulls); the metadata-only int->bigint widening keeps the sum;
    // seven versions published.
    "q43_schema_evolution" ->
      """SELECT CAST(3 AS BIGINT) AS add_nulls,
                CAST(1 AS BIGINT) AS add_set,
                CAST(2 AS BIGINT) AS cols_after_drop,
                CAST(2 AS BIGINT) AS tt_v1_cols,
                CAST(7 AS BIGINT) AS renamed_sum,
                CAST(4 AS BIGINT) AS readd_nulls,
                CAST(7 AS BIGINT) AS retype_sum,
                CAST(7 AS BIGINT) AS final_version""",
    "q38_window_battery2" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cdist,
                first_value(o_totalprice) OVER w AS cheapest,
                last_value(o_totalprice) OVER
                  (PARTITION BY o_custkey
                   ORDER BY o_totalprice, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS max_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_custkey, o_totalprice, o_orderkey""",
    "q39_null_safe_join" ->
      """WITH a AS (SELECT n_nationkey,
                  CASE WHEN n_regionkey = 2 THEN NULL
                       ELSE n_regionkey END AS rk FROM nation),
         b AS (SELECT CASE WHEN r_regionkey = 2 THEN NULL
                           ELSE r_regionkey END AS rk2, r_name
               FROM region)
         SELECT r_name, count(*) AS n_nations
         FROM a JOIN b ON a.rk IS NOT DISTINCT FROM b.rk2
         GROUP BY r_name ORDER BY r_name""",
    "m04_resize_pool" ->
      """WITH pos AS (
           SELECT doc_id, text, strlen(text) AS n,
                  unnest(range(1, strlen(text) + 1)) AS i
           FROM documents)
         SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
                ((i - 1) * 8) // n AS bk,
                avg(ord(substr(text, i, 1))) AS m
         FROM pos GROUP BY doc_id, n, ((i - 1) * 8) // n
         ORDER BY doc_id, bk""",
    "m03_frame_sample" ->
      """WITH m AS (SELECT doc_id,
                CAST(strlen(text) % 16 AS BIGINT) AS n_frames
              FROM documents)
         SELECT doc_id, n_frames,
                unnest(range(0, n_frames, 4)) AS frame_idx
         FROM m WHERE n_frames > 0 ORDER BY doc_id, frame_idx""",
    // Same 32-bucket pooling as m04; bits from integer cross-
    // multiplication (no float boundary can desync engines); naive
    // all-pairs here — the banding is the Spark side's scale path.
    // Byte-level chunk-overlap near-dup judged against the text-level
    // shingle-Jaccard truth: the oracle recomputes d01's pair count
    // from the corpus itself and asserts the recall contract.
    "m07_chunk_neardup" ->
      s"""WITH truth AS ($shingleJaccardSql)
          SELECT (SELECT count(*) FROM truth) AS n_truth,
                 CAST(1 AS BIGINT) AS recall_ok""",
    // CDC chunk hashes are engine-local math; the gate reduces the
    // content-defined-chunking contract (lossless partition, size
    // bounds, prefix-shift resynchronization) to constants, with the
    // corpus count restated from the parquet itself.
    "m06_cdc_chunks" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
                CAST(1 AS BIGINT) AS lossless_ok,
                CAST(1 AS BIGINT) AS bounds_ok,
                CAST(1 AS BIGINT) AS chunks_per_doc_ok,
                CAST(1 AS BIGINT) AS resync_ok""",
    "m05_ahash_neardup" ->
      """WITH pos AS (
           SELECT doc_id, text, strlen(text) AS n,
                  unnest(range(1, strlen(text) + 1)) AS i
           FROM documents WHERE strlen(text) > 0),
         b AS (SELECT doc_id, ((i - 1) * 32) // n AS bk,
                      sum(ord(substr(text, i, 1))) AS s,
                      count(*) AS c
               FROM pos GROUP BY 1, 2),
         t AS (SELECT doc_id, sum(s) AS ts, sum(c) AS tc
               FROM b GROUP BY 1),
         h AS (SELECT b.doc_id,
                      CAST(sum(CASE WHEN b.s * t.tc > t.ts * b.c
                        THEN (CAST(1 AS BIGINT) << CAST(b.bk AS INT))
                        ELSE 0 END) AS BIGINT) AS ahash
               FROM b JOIN t USING (doc_id) GROUP BY 1)
         SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
                CAST(bit_count(xor(a.ahash, b2.ahash)) AS BIGINT) AS dist
         FROM h a JOIN h b2 ON a.doc_id < b2.doc_id
         WHERE bit_count(xor(a.ahash, b2.ahash)) <= 5
         ORDER BY a_id, b_id""",
    // q48: both sides aggregate the SAME pyarrow-written bytes — Spark
    // via Versioned.read over the imported chain (nation imported
    // twice, key 3 merge-on-read-deleted), DuckDB via the fixture
    // table those files came from.
    "q48_add_files" ->
      """SELECT n_regionkey, count(*) AS cnt,
                CAST(sum(n_nationkey) AS BIGINT) AS keysum,
                CAST(25 AS BIGINT) AS v1_rows
         FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation)
         WHERE n_nationkey <> 3
         GROUP BY n_regionkey ORDER BY n_regionkey""",
    // clone_table constants: 15 cloned nation rows (keys 0..14, sum
    // 105) survive the source directory's DELETION (byte ownership),
    // properties carry, and a divergent +5 append lands only on the
    // clone. Stated from nation, which is SF-independent.
    "q49_clone_table" ->
      """SELECT CAST(count(*) AS BIGINT) AS clone_rows,
                CAST(sum(n_nationkey) AS BIGINT) AS keysum,
                CAST(1 AS BIGINT) AS props_carried,
                CAST(count(*) + 5 AS BIGINT)
                  AS rows_after_divergent_append
         FROM nation WHERE n_nationkey < 15""",
    "q53_metadata_agg" ->
      """SELECT CAST(1 AS BIGINT) AS served_head,
                (SELECT CAST(min(n_nationkey) AS BIGINT) FROM nation) AS mn,
                (SELECT CAST(max(n_nationkey) AS BIGINT) FROM nation) AS mx,
                (SELECT count(*) FROM nation) AS n_rows,
                (SELECT max(n_name) FROM nation) AS mx_name,
                CAST(1 AS BIGINT) AS served_ds,
                (SELECT CAST(max(n_nationkey) AS BIGINT) FROM nation) AS ds_mx,
                (SELECT count(*) FROM nation) AS ds_n,
                CAST(1 AS BIGINT) AS served_pin,
                (SELECT CAST(max(n_nationkey) AS BIGINT) FROM nation
                  WHERE n_nationkey < 13) AS pin_mx,
                CAST(1 AS BIGINT) AS served_grp,
                (SELECT count(DISTINCT n_regionkey) FROM nation)
                  AS n_groups,
                (SELECT count(*) FROM nation) AS grp_rows_total,
                (SELECT CAST(max(n_nationkey) AS BIGINT) FROM nation
                  WHERE n_regionkey = 0) AS grp0_mx,
                CAST(1 AS BIGINT) AS del_scan,
                (SELECT CAST(max(n_nationkey) AS BIGINT) FROM nation
                  WHERE n_nationkey <> 24) AS del_mx,
                (SELECT count(*) FROM nation
                  WHERE n_nationkey <> 24) AS del_n,
                CAST(1 AS BIGINT) AS recovered,
                (SELECT CAST(max(n_nationkey) AS BIGINT) FROM nation
                  WHERE n_nationkey <> 24) AS rec_mx,
                (SELECT count(*) FROM nation
                  WHERE n_nationkey <> 24) AS rec_n""",
    // Vector-index delete constants: the twin lifecycle flags plus
    // the row count (10 fixture queries x top-5) proving deletion
    // never disturbs the other candidates.
    "s15_ann_deletes" ->
      """SELECT CAST(1 AS BIGINT) AS twin_top1_before,
                CAST(1 AS BIGINT) AS twin_gone_tombstoned,
                CAST(1 AS BIGINT) AS export_refused_live,
                CAST(1 AS BIGINT) AS export_ok_after,
                CAST(1 AS BIGINT) AS twin_gone_compacted,
                CAST((SELECT count(*) * 5 FROM embeddings
                      WHERE vec_id < 10) AS BIGINT) AS result_rows""",
    // Derived-table refresh constants: DuckDB restates each advanced
    // state of the curated projection straight from the fixture —
    // bootstrap slice, post-append, and the mixed batch where rows
    // cross the n_chars >= 300 filter boundary in both directions
    // (1-3 fall to 0, 4-5 rise to 9999) and doc_id % 7 keys vanish.
    "q52_derived_refresh" ->
      """SELECT CAST((SELECT count(*) FROM documents
                      WHERE doc_id < 300 AND n_chars >= 300) AS BIGINT)
                  AS rows_v1,
                CAST((SELECT count(*) FROM documents
                      WHERE n_chars >= 300) AS BIGINT) AS rows_v2,
                CAST((SELECT count(*) FROM documents
                      WHERE doc_id % 7 <> 0 AND
                        (CASE WHEN doc_id IN (1, 2, 3) THEN 0
                              WHEN doc_id IN (4, 5) THEN 9999
                              ELSE n_chars END) >= 300) AS BIGINT)
                  AS rows_v3,
                CAST(2 AS BIGINT) AS refresh_from,
                CAST(3 AS BIGINT) AS refresh_to,
                CAST(1 AS BIGINT) AS eq_full_recompute,
                CAST(1 AS BIGINT) AS noop_stable,
                CAST(1 AS BIGINT) AS refused_unpinned""",
    "q54_agg_refresh" ->
      """WITH final AS (
           SELECT CASE WHEN doc_id IN (1, 2, 3) THEN 'migrated'
                       ELSE source END AS source,
                  CASE WHEN doc_id IN (1, 2, 3) THEN 1000
                       WHEN doc_id IN (4, 5) THEN NULL
                       ELSE n_chars END AS n_chars
           FROM documents WHERE doc_id % 50 <> 0)
         SELECT
           (SELECT count(DISTINCT source) FROM documents
             WHERE doc_id < 300) AS groups_v1,
           (SELECT count(DISTINCT source) FROM documents) AS groups_v2,
           (SELECT count(DISTINCT source) FROM final) AS groups_v3,
           (SELECT count(*) FROM final) AS rows_v3,
           (SELECT CAST(sum(n_chars) AS BIGINT) FROM final)
             AS charsum_v3,
           (SELECT count(n_chars) FROM final) AS charcnt_v3,
           CAST(2 AS BIGINT) AS refresh_from,
           CAST(3 AS BIGINT) AS refresh_to,
           CAST(1 AS BIGINT) AS eq_full_recompute,
           CAST(1 AS BIGINT) AS noop_stable,
           CAST(1 AS BIGINT) AS foreign_key_exact,
           CAST(1 AS BIGINT) AS refused_unpinned""",
    "q55_mv_lifecycle" ->
      """SELECT CAST(1 AS BIGINT) AS created_derived,
                CAST(1 AS BIGINT) AS created_agg,
                (SELECT count(*) FROM documents
                  WHERE doc_id < 300 AND n_chars >= 300) AS rows_v1,
                (SELECT count(DISTINCT source) FROM documents
                  WHERE doc_id < 300) AS groups_v1,
                CAST(1 AS BIGINT) AS mv_from,
                CAST(2 AS BIGINT) AS mv_to,
                CAST(1 AS BIGINT) AS agg_from,
                CAST(2 AS BIGINT) AS agg_to,
                (SELECT count(*) FROM documents
                  WHERE n_chars >= 300) AS rows_v2,
                (SELECT count(DISTINCT source) FROM documents)
                  AS groups_v2,
                CAST(1 AS BIGINT) AS eq_derived,
                CAST(1 AS BIGINT) AS eq_agg,
                CAST(1 AS BIGINT) AS spec_props,
                CAST(1 AS BIGINT) AS noop_stable,
                CAST(1 AS BIGINT) AS dropped""",
    // q57: filtered/multi-column facts restate from the bounded
    // doc_id < 600 slice (the staleness leg advances the source head
    // with a metadata-only commit — no data edit to replay); the
    // day-bucketed avg leg restates from the event_id < 500 slice
    // with the same exact-cents transform (floor is IEEE-identical
    // across engines).
    "q57_mv_shapes" ->
      """WITH f AS (SELECT doc_id, source, lang, n_chars
                    FROM documents WHERE doc_id < 600),
              e AS (SELECT date_trunc('day', ts) AS day,
                           CAST(floor(value * 100) AS BIGINT) AS cents
                    FROM events WHERE event_id < 500)
         SELECT (SELECT count(DISTINCT source) FROM f
                 WHERE n_chars >= 300) AS groups_f,
                CAST((SELECT sum(n_chars) FROM f WHERE n_chars >= 300)
                  AS BIGINT) AS sum_f,
                (SELECT count(*) FROM
                  (SELECT DISTINCT source, lang FROM f) t) AS groups_m,
                (SELECT count(*) FROM f) AS rows_m,
                CAST(1 AS BIGINT) AS eq_filtered,
                CAST(1 AS BIGINT) AS eq_multi,
                CAST(1 AS BIGINT) AS spec_where,
                CAST(1 AS BIGINT) AS stale_refused,
                CAST(1 AS BIGINT) AS fresh_after,
                CAST(1 AS BIGINT) AS auto_refreshed,
                (SELECT count(DISTINCT day) FROM e) AS groups_b,
                CAST((SELECT sum(cents) FROM e) AS BIGINT) AS sum_b,
                CAST(1 AS BIGINT) AS eq_bucketed,
                CAST(1 AS BIGINT) AS spec_bucket""",
    // q58: the join-view lifecycle's counts restate from the bounded
    // doc_id < 600 slice — the dim is the slice's DISTINCT sources,
    // the edit batch relabels min(source) and deletes max(source),
    // and gold is the group-by-label rollup of the surviving rows.
    "q58_join_mv" ->
      """WITH f AS (SELECT doc_id, source, n_chars FROM documents
                    WHERE doc_id < 600),
              b AS (SELECT min(source) AS mn, max(source) AS mx FROM f)
         SELECT CAST(1 AS BIGINT) AS created_join,
                (SELECT count(*) FROM f
                 WHERE doc_id < 400 AND n_chars >= 300) AS rows_v1,
                (SELECT count(*) FROM f WHERE n_chars >= 300)
                  AS rows_v2,
                (SELECT count(*) FROM f, b
                 WHERE n_chars >= 300 AND source <> b.mx) AS rows_v3,
                (SELECT count(*) FROM f, b
                 WHERE n_chars >= 300 AND source = b.mn) AS relabeled,
                (SELECT count(DISTINCT CASE WHEN source = b.mn
                   THEN 'RELABELED' ELSE upper(source) END)
                 FROM f, b WHERE n_chars >= 300 AND source <> b.mx)
                  AS gold_groups,
                CAST((SELECT sum(n_chars) FROM f, b
                      WHERE n_chars >= 300 AND source <> b.mx)
                  AS BIGINT) AS gold_sum,
                CAST(1 AS BIGINT) AS eq_v2,
                CAST(1 AS BIGINT) AS eq_v3,
                CAST(1 AS BIGINT) AS eq_gold""",
    // q59: the aggregate-over-join view's final state restates from
    // the bounded doc_id < 600 slice with q58's edit batch applied —
    // group by CASE(relabel) over surviving (non-deleted-dim) rows.
    "q59_aggjoin_mv" ->
      """WITH f AS (SELECT doc_id, source, n_chars FROM documents
                    WHERE doc_id < 600),
              b AS (SELECT min(source) AS mn, max(source) AS mx FROM f),
              l AS (SELECT CASE WHEN source = b.mn THEN 'RELABELED'
                                ELSE upper(source) END AS lab, n_chars,
                           source
                    FROM f, b
                    WHERE n_chars >= 300 AND source <> b.mx)
         SELECT CAST(1 AS BIGINT) AS created_aggjoin,
                CAST(1 AS BIGINT) AS silver_absent,
                CAST(1 AS BIGINT) AS refreshed,
                (SELECT count(DISTINCT lab) FROM l) AS gold_groups,
                CAST((SELECT sum(n_chars) FROM l) AS BIGINT)
                  AS gold_sum,
                (SELECT count(*) FROM l WHERE lab = 'RELABELED')
                  AS relabeled_rows,
                CAST(1 AS BIGINT) AS eq_gold,
                CAST(1 AS BIGINT) AS dropped""",
    // q60: the distinct-count MVs' per-state figures — the HLL
    // estimates AND the exact cd_lang counts — restate as EXACT
    // count(DISTINCT) over the replayed edits (v1 = the <400 slice;
    // v2 = the full <600 slice; v3 = doc 1's lang moved to 'zz' and
    // every doc_id % 50 == 0 deleted) — the sketch is exact at these
    // cardinalities, so the sums are hash facts and the exact twin's
    // sums equal the estimates'.
    "q60_distinct_mv" ->
      """WITH f AS (SELECT doc_id, source, lang FROM documents
                    WHERE doc_id < 600),
              v1 AS (SELECT source, count(DISTINCT lang) AS dc
                     FROM f WHERE doc_id < 400 GROUP BY source),
              v2 AS (SELECT source, count(DISTINCT lang) AS dc
                     FROM f GROUP BY source),
              v3 AS (SELECT source, count(DISTINCT CASE
                       WHEN doc_id = 1 THEN 'zz' ELSE lang END) AS dc
                     FROM f WHERE doc_id % 50 <> 0 GROUP BY source)
         SELECT (SELECT count(*) FROM v1) AS groups_v1,
                CAST((SELECT sum(dc) FROM v1) AS BIGINT)
                  AS adcsum_v1,
                (SELECT count(*) FROM v2) AS groups_v2,
                CAST((SELECT sum(dc) FROM v2) AS BIGINT)
                  AS adcsum_v2,
                (SELECT count(*) FROM v3) AS groups_v3,
                CAST((SELECT sum(dc) FROM v3) AS BIGINT)
                  AS adcsum_v3,
                CAST((SELECT sum(dc) FROM v1) AS BIGINT)
                  AS cdsum_v1,
                CAST((SELECT sum(dc) FROM v2) AS BIGINT)
                  AS cdsum_v2,
                CAST((SELECT sum(dc) FROM v3) AS BIGINT)
                  AS cdsum_v3,
                CAST(1 AS BIGINT) AS eq_exact,
                CAST(1 AS BIGINT) AS eq_exact_cd,
                CAST(1 AS BIGINT) AS spec_distinct,
                CAST(1 AS BIGINT) AS spec_exact""",
    // q61: the KLL quantile-sketch MV's per-state p100 sums restate
    // as EXACT per-group maxima over the replayed edits (v1 = <400;
    // v2 = <600; v3 = doc 1's n_chars rewritten to 99999 and every
    // doc_id % 50 deleted) — the sketch is exact at these
    // cardinalities and p100 is the cross-engine-unambiguous rank.
    "q61_kll_mv" ->
      """WITH f AS (SELECT doc_id, source, n_chars FROM documents
                    WHERE doc_id < 600),
              v1 AS (SELECT source, max(n_chars) AS mx
                     FROM f WHERE doc_id < 400 GROUP BY source),
              v2 AS (SELECT source, max(n_chars) AS mx
                     FROM f GROUP BY source),
              v3 AS (SELECT source, max(CASE WHEN doc_id = 1
                       THEN 99999 ELSE n_chars END) AS mx
                     FROM f WHERE doc_id % 50 <> 0 GROUP BY source)
         SELECT (SELECT count(*) FROM v1) AS groups_v1,
                CAST((SELECT sum(mx) FROM v1) AS BIGINT)
                  AS p100sum_v1,
                (SELECT count(*) FROM v2) AS groups_v2,
                CAST((SELECT sum(mx) FROM v2) AS BIGINT)
                  AS p100sum_v2,
                (SELECT count(*) FROM v3) AS groups_v3,
                CAST((SELECT sum(mx) FROM v3) AS BIGINT)
                  AS p100sum_v3,
                CAST(1 AS BIGINT) AS eq_p50,
                CAST(1 AS BIGINT) AS spec_kll""",
    // q62: the expression-measure MV's per-state figures restate
    // over the replayed edits (v1 = l_orderkey < 1200; v2 = the full
    // < 2000 slice; v3 = l_discount 0.5 on linenumber-1 rows of
    // orderkeys % 500 == 0, and every rid % 37 == 0 deleted). All
    // measures are exact integer cents — floor over IEEE doubles is
    // engine-identical — so the sums are hash facts.
    "q62_expr_mv" ->
      """WITH li AS (SELECT row_number() OVER (ORDER BY l_orderkey,
                              l_linenumber, l_extendedprice,
                              l_discount, l_tax, l_quantity,
                              l_returnflag, l_linestatus) AS rid,
                            l_orderkey, l_linenumber, l_returnflag,
                            l_linestatus, l_extendedprice,
                            l_discount, l_tax
                     FROM lineitem WHERE l_orderkey < 2000),
              v1 AS (SELECT l_returnflag, l_linestatus,
                       SUM(CAST(floor(l_extendedprice *
                         (1 - l_discount) * 100) AS BIGINT)) AS dc
                     FROM li WHERE l_orderkey < 1200
                     GROUP BY l_returnflag, l_linestatus),
              v2 AS (SELECT l_returnflag, l_linestatus,
                       SUM(CAST(floor(l_extendedprice *
                         (1 - l_discount) * 100) AS BIGINT)) AS dc
                     FROM li GROUP BY l_returnflag, l_linestatus),
              e3 AS (SELECT l_returnflag, l_linestatus,
                            l_extendedprice, l_tax,
                            CASE WHEN l_linenumber = 1 AND
                                 l_orderkey % 500 = 0 THEN 0.5
                                 ELSE l_discount END AS l_discount
                     FROM li WHERE rid % 37 <> 0),
              v3 AS (SELECT l_returnflag, l_linestatus,
                       SUM(CAST(floor(l_extendedprice *
                         (1 - l_discount) * 100) AS BIGINT)) AS dc,
                       SUM(CAST(floor(l_extendedprice *
                         (1 - l_discount) * (1 + l_tax) * 100)
                         AS BIGINT)) AS ch
                     FROM e3 GROUP BY l_returnflag, l_linestatus)
         SELECT CAST(1 AS BIGINT) AS created_agg,
                (SELECT count(*) FROM v1) AS groups_v1,
                CAST((SELECT sum(dc) FROM v1) AS BIGINT)
                  AS discsum_v1,
                (SELECT count(*) FROM v2) AS groups_v2,
                CAST((SELECT sum(dc) FROM v2) AS BIGINT)
                  AS discsum_v2,
                (SELECT count(*) FROM v3) AS groups_v3,
                CAST((SELECT sum(dc) FROM v3) AS BIGINT)
                  AS discsum_v3,
                CAST((SELECT sum(ch) FROM v3) AS BIGINT)
                  AS chargesum_v3,
                CAST(1 AS BIGINT) AS eq_recompute,
                CAST(4 AS BIGINT) AS spec_exprs""",
    // q63: the mixed-tree view's final state restates from the
    // bounded doc_id < 600 slice with the three edits applied — the
    // star leg relabels min(source)'s m_label, the chain leg
    // relabels max(source)'s region (keyed through the upper-cased
    // src_label, exactly the engine's chain), the fact append is
    // the full slice.
    "q63_tree_mv" ->
      """WITH f AS (SELECT doc_id, source, n_chars FROM documents
                    WHERE doc_id < 600),
              b AS (SELECT min(source) AS mn, max(source) AS mx FROM f),
              l AS (SELECT CASE WHEN upper(source) = upper(b.mx)
                                THEN 'R-MOVED'
                                ELSE 'R-' || upper(source) END
                             AS region,
                           CASE WHEN source = b.mn
                                THEN 'M-RELABELED'
                                ELSE 'M-' || upper(source) END
                             AS m_label,
                           n_chars
                    FROM f, b WHERE n_chars >= 300)
         SELECT CAST(1 AS BIGINT) AS created_aggjoin,
                CAST(1 AS BIGINT) AS snow_present,
                CAST(1 AS BIGINT) AS silver_absent,
                CAST(1 AS BIGINT) AS refreshed,
                (SELECT count(*) FROM
                  (SELECT DISTINCT region, m_label FROM l))
                  AS gold_groups,
                CAST((SELECT sum(n_chars) FROM l) AS BIGINT)
                  AS gold_sum,
                (SELECT count(*) FROM l WHERE m_label = 'M-RELABELED')
                  AS star_relabeled_rows,
                (SELECT count(*) FROM l WHERE region = 'R-MOVED')
                  AS chain_moved_rows,
                CAST(1 AS BIGINT) AS eq_gold,
                CAST(1 AS BIGINT) AS dropped""",
    // q64: the rewrite gate's figures restate from the raw slices —
    // v1 = the <400 fixture the view pins, v2 = the full <600 slice
    // after the staling append; the served/scanned flags are
    // plan-asserted on the Spark side and constants here.
    "q64_mv_rewrite" ->
      """WITH f1 AS (SELECT source, n_chars FROM documents
                     WHERE doc_id < 400),
              f2 AS (SELECT source, n_chars FROM documents
                     WHERE doc_id < 600)
         SELECT CAST(1 AS BIGINT) AS registered,
                CAST(1 AS BIGINT) AS rewrote_exact,
                (SELECT count(DISTINCT source) FROM f1) AS groups_v1,
                CAST((SELECT sum(n_chars) FROM f1) AS BIGINT)
                  AS sum_v1,
                (SELECT count(*) FROM f1) AS rows_v1,
                CAST(1 AS BIGINT) AS rewrote_global,
                (SELECT avg(n_chars) FROM f1) AS avg_v1,
                CAST(1 AS BIGINT) AS stale_scan,
                CAST((SELECT sum(n_chars) FROM f2) AS BIGINT)
                  AS sum_v2,
                (SELECT count(*) FROM f2) AS rows_v2,
                CAST(1 AS BIGINT) AS served_after_refresh,
                CAST(1 AS BIGINT) AS eq_refresh,
                CAST(1 AS BIGINT) AS disabled_scan""",
  ) ++ snapshotExportOracle ++ indexExportOracle ++
    vectorIndexExportOracle ++ int8IndexExportOracle ++ dedupIndexExportOracle

  /** d12's oracle re-runs the dedup probe from the exported index
    * bytes alone: candidates from a band self-join over the exported
    * band partition files (`hive_partitioning` recovers `band` from
    * the path — the candidate-routing metadata), the estimate as
    * matching minima / perms over the pinned signature files — the
    * same arithmetic as the engine's zip_with verify, exact in both
    * (integer count / 128 has no float drift). */
  private def dedupIndexExportOracle: Map[String, String] =
    exportOracle("d12_dedup_index_export") { e =>
      val perms = Dedup.NumPerms
        s"""WITH cand AS (SELECT DISTINCT a.doc_id AS a_id,
                    b.doc_id AS b_id
               FROM read_parquet(${e.list("bands")},
                                 hive_partitioning = true) a
               JOIN read_parquet(${e.list("bands")},
                                 hive_partitioning = true) b
                 ON a.band = b.band AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id),
             sg AS (SELECT doc_id, sig
                    FROM read_parquet(${e.list("sigs")})),
             est AS (SELECT a_id, b_id,
                   list_sum(list_transform(range(1, $perms + 1),
                     i -> CASE WHEN sa.sig[i] = sb.sig[i]
                          THEN 1 ELSE 0 END)) / $perms.0
                     AS est_jaccard
                 FROM cand JOIN sg sa ON sa.doc_id = cand.a_id
                           JOIN sg sb ON sb.doc_id = cand.b_id)
           SELECT a_id, b_id, est_jaccard,
                  CAST(1 AS BIGINT) AS refused_tombs,
                  CAST(1 AS BIGINT) AS refused_unpinned
           FROM est WHERE est_jaccard >= 0.5
           ORDER BY a_id, b_id"""
    }

  /** q47's oracle aggregates the graft table's OWN data files — the
    * literal `read_parquet([...])` list resolved by the exportGate run
    * in THIS process (Verify runs every query before dumping oracle
    * SQL, so the list is always populated for the driver; a standalone
    * dump omits the key → rows-only check). Integer sums cast to
    * BIGINT: DuckDB widens sum(INTEGER) to HUGEINT, Spark to long. */
  private def snapshotExportOracle: Map[String, String] =
    exportOracle("q47_export_snapshot") { e =>
        s"""SELECT n_regionkey, count(*) AS cnt,
                  CAST(sum(n_nationkey) AS BIGINT) AS keysum,
                  sum(score) AS scoresum,
                  CAST(sum(length(name)) AS BIGINT) AS namelen,
                  CAST(1 AS BIGINT) AS refused_tombs,
                  CAST(1 AS BIGINT) AS n_files
           FROM read_parquet(${e.list("data")})
           GROUP BY n_regionkey ORDER BY n_regionkey"""
    }

  /** q50's oracle recomputes BM25 from the persisted index's OWN
    * exported bytes: `read_parquet` over the postings bucket files
    * (the in-file (doc_id, dl, term, tf) — the hive `bucket=` value
    * is derived routing metadata the oracle doesn't need) and the
    * PINNED one-row stats file, through the same scoring arithmetic
    * as [[Bm25OracleSql]] — but with NO access to the corpus: a hash
    * match against the in-engine probe proves the index bytes alone
    * carry the search. */
  private def indexExportOracle: Map[String, String] =
    exportOracle("q50_index_export") { e =>
        s"""WITH tf AS (SELECT doc_id, dl, term, tf
                 FROM read_parquet(${e.list("postings")})
                 WHERE term IN ('spark', 'vector', 'stream')),
             stats AS (SELECT CAST(n_docs AS DOUBLE) AS n_docs,
                              sum_dl / n_docs AS avgdl
                       FROM read_parquet(${e.list("stats")})),
             dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE)
                       AS df FROM tf GROUP BY 1),
             sc AS (SELECT doc_id,
                      sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf
                          * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                        AS score,
                      count(*) AS n_terms
                    FROM tf JOIN dft USING (term) CROSS JOIN stats
                    GROUP BY doc_id),
             top AS (SELECT * FROM sc
                     ORDER BY score DESC, doc_id LIMIT 20)
             SELECT doc_id, score, n_terms,
                    CAST(1 AS BIGINT) AS refused_unpinned
             FROM top ORDER BY doc_id"""
    }

  /** q51's oracle re-runs the IVF-PQ ADC probe in DuckDB from the
    * index's OWN exported bytes: centroid cosines over the pinned
    * centroid files pick the nProbe cells, `hive_partitioning`
    * recovers each code file's cell from its path (the waived
    * routing metadata), the per-subspace dot tables rebuild from the
    * pinned codebook files, and the ADC sum re-ranks the probed
    * cells' code bytes (decoded unsigned, the storage contract) —
    * with NO access to the corpus or to Spark. Only the top-k ID set
    * crosses engines: scores are float-order sensitive, the id set
    * is rank-exact by the gate's asserted boundary gaps. */
  private def vectorIndexExportOracle: Map[String, String] =
    exportOracle("q51_vector_index_export") { e =>
        val q = queryLiteral(e)
        val subDim = 64 / graft.operators.Similarity.PqM
        val nProbe = graft.operators.Similarity.NProbe
          s"""WITH q AS (SELECT CAST($q AS DOUBLE[]) AS qe),
             cscore AS (SELECT CAST(cell AS BIGINT) AS cell,
                    list_dot_product(CAST(c_emb AS DOUBLE[]), qe)
                      / c_nrm AS c_cos
                  FROM read_parquet(${e.list("centroids")}), q),
             probed AS (SELECT cell FROM cscore
                        ORDER BY c_cos DESC, cell LIMIT $nProbe),
             dp AS (SELECT j, code,
                    list_dot_product(CAST(c_sub AS DOUBLE[]),
                      list_slice(qe, j * $subDim + 1,
                                 j * $subDim + $subDim)) AS dp
                  FROM read_parquet(${e.list("codebooks")}), q),
             cod AS (SELECT vec_id, codes
                  FROM read_parquet(${e.list("codes")},
                                    hive_partitioning = true)
                  WHERE CAST(cell AS BIGINT) IN
                        (SELECT cell FROM probed)),
             expl AS (SELECT vec_id,
                    unnest(range(len(codes))) AS j,
                    (256 + CAST(unnest(codes) AS INT)) % 256 AS code
                  FROM cod),
             adc AS (SELECT e.vec_id, sum(d.dp) AS adc
                  FROM expl e JOIN dp d
                    ON e.j = d.j AND e.code = d.code
                  GROUP BY e.vec_id),
             top AS (SELECT vec_id FROM adc
                     ORDER BY adc DESC, vec_id LIMIT 20)
             SELECT CAST(vec_id AS BIGINT) AS vec_id,
                    CAST($nProbe AS BIGINT) AS n_probed,
                    CAST(1 AS BIGINT) AS refused_unpinned
             FROM top ORDER BY vec_id"""
    }

  /** q56: DuckDB re-runs the int8-IVF pruned-cell cosine probe from
    * the exported (cell files, centroid files) pair alone — members
    * reconstruct as q_emb x q_scale, no codebooks, no store. */
  private def int8IndexExportOracle: Map[String, String] =
    exportOracle("q56_int8_index_export") { e =>
        val q = queryLiteral(e)
        val nProbe = graft.operators.Similarity.NProbe
          s"""WITH q AS (SELECT CAST($q AS DOUBLE[]) AS qe),
             cscore AS (SELECT CAST(cell AS BIGINT) AS cell,
                    list_dot_product(CAST(c_emb AS DOUBLE[]), qe)
                      / c_nrm AS c_cos
                  FROM read_parquet(${e.list("centroids")}), q),
             probed AS (SELECT cell FROM cscore
                        ORDER BY c_cos DESC, cell LIMIT $nProbe),
             sc AS (SELECT vec_id,
                    list_dot_product(list_transform(q_emb,
                      x -> CAST(x AS DOUBLE) * q_scale), qe) / nrm
                      AS cos
                  FROM read_parquet(${e.list("cells")},
                                    hive_partitioning = true), q
                  WHERE CAST(cell AS BIGINT) IN
                        (SELECT cell FROM probed)),
             top AS (SELECT vec_id FROM sc
                     ORDER BY cos DESC, vec_id LIMIT 20)
             SELECT CAST(vec_id AS BIGINT) AS vec_id,
                    CAST($nProbe AS BIGINT) AS n_probed,
                    CAST(1 AS BIGINT) AS no_codebook_files
             FROM top ORDER BY vec_id"""
    }

  /** Query `name`'s oracle over the files its export gate resolved in
    * this JVM ([[graft.gates.lastExport]]); no entry when the gate has
    * not run. */
  private def exportOracle(name: String)(
      sql: graft.gates.Export => String): Map[String, String] =
    graft.gates.lastExport(name).map(e => name -> sql(e)).toMap

  /** A vector gate's unit query as a DuckDB list literal, each element
    * printed shortest-round-trip. */
  private def queryLiteral(e: graft.gates.Export): String =
    e.query.map(java.lang.Double.toString).mkString("[", ", ", "]")
}
