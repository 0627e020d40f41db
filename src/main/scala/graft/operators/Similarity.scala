package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData,
  SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.jdk.CollectionConverters._
import graft.sources.{Tables, Versioned}
import graft.functions.{GraftFunctions, VecDot}
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (north-star: similarity search for a training-data pipeline).
  *
  * One contract — top-k cosine neighbors per query — across the paths:
  *  - [[bruteForceTopK]]: exact baseline. Queries broadcast, candidates
  *    streamed, per-query top-k. This is the verification oracle.
  *  - [[ivfTopK]] / [[ivfTopKKmeans]]: IVF scale path. Vectors are
  *    assigned to the nearest of C centroids (seed cells, optionally
  *    Lloyd-refined by [[kmeansRefine]]); a query probes only its
  *    nProbe closest cells, so the scored candidate set is ~nProbe/C of
  *    the corpus. The centroid table stays broadcast-sized.
  *  - [[lshTopK]]: random-hyperplane multi-table LSH buckets.
  *  - [[buildIvfIndex]] / [[ivfTopKIndexed]]: the persisted form — the
  *    index written cell-PARTITIONED so a probe is a partition-pruned
  *    scan (spec-measured), which is what ANN looks like at 100 TB.
  * The approximate paths carry oracle-gated recall contracts
  * ([[annRecall]], queries s04-s06).
  */
object Similarity {

  val K = 5
  val NumQueries = 10 // queries: vec_id < 10; corpus: vec_id >= 10
  // Fixture embeddings are near-uniform random, so IVF recall ~=
  // nProbe/C plus a locality lift; 6/16 measures ~0.6 recall@5. On real
  // (clustered) embeddings the same plan gives much higher recall — the
  // knobs trade recall for the fraction of the corpus scored.
  val Centroids = 16
  val NProbe = 6

  // Spread: signature/scoring math is per-row CPU work — the single-row-
  // group fixture scan would otherwise run it on one task.
  private[graft] def emb(s: SparkSession, d: String) =
    Tables.loadSpread(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))

  /** Final top-k over scored (query_id, neighbor_id, cosine) rows via
    * the native bounded-heap aggregate graft_topk
    * ([[graft.functions.TopKNeighborsAgg]]): each input partition folds
    * its rows into a k-slot state per query map-side, so only
    * #queries x k entries cross the shuffle. The previous
    * `row_number() OVER (PARTITION BY query_id ...)` shuffled every
    * scored row into #queries tasks and sorted them — parallelism
    * collapsed to the query count, which is the wrong shape at 100 TB.
    * Duplicate (query, neighbor) hits (multi-table LSH probes) are
    * folded inside the aggregate, so no distinct() pass is needed. */
  private def topkByQuery(scored: DataFrame): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(call_function(GraftFunctions.TopKName,
        col("cosine"), col("neighbor_id"), lit(K)).as("nbrs"))
      .select(col("query_id"), posexplode(col("nbrs")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.cosine").as("cosine"))
      .orderBy(col("query_id"), col("rank"))

  /** Exact top-k cosine neighbors for each query vector. The query side
    * is tiny and broadcast; the corpus is scored in place and reduced by
    * the partial top-k aggregate — no scored row survives its partition. */
  def bruteForceTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < NumQueries)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("nrm", "q_nrm")
    val scored = e.filter(col("vec_id") >= NumQueries)
      .join(broadcast(q))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    topkByQuery(scored)
  }

  /** IVF index: assign every corpus vector to its nearest centroid.
    * Centroids are the first C corpus vectors (deterministic; a k-means
    * refinement would slot in here without changing the query plan).
    * The argmax is a map-side-combinable `max_by` keyed by the corpus
    * vector — one partial-aggregated shuffle of one row per vector, not
    * a window sort of corpus x C scored rows (which was the single worst
    * shuffle in the repo at 100 TB). Tie-break on the lowest cell id
    * (`-cell` in the ordering struct) keeps assignment deterministic.
    * Package-visible: [[Dedup.semanticDedup]] reuses the same assignment
    * for its cluster step. */
  private[operators] def assignCells(corpus: DataFrame,
      cents: DataFrame): DataFrame = {
    // every non-key corpus column rides through the max_by struct, so
    // a quantized corpus (q_emb/q_scale alongside the float form it
    // scores with) assigns in the same single pass — no second join
    val carry = corpus.columns.filterNot(_ == "vec_id").toSeq
    corpus.withColumn("nrm", withCosine(col("nrm"), col("nrm")))
      .join(broadcast(cents))
      .select(col("vec_id") +: carry.map(col) :+ col("cell") :+
        ((dot(col("c_emb"), col("embedding")) /
          (col("c_nrm") * col("nrm"))).as("c_cos")): _*)
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct((carry :+ "cell").map(col): _*),
        struct(col("c_cos"), (-col("cell")).as("cell_pref"))).as("best"))
      .select(col("vec_id") +:
        (carry :+ "cell").map(n => col(s"best.$n").as(n)): _*)
  }

  /** `v`, unless the row's norm `nrm` leaves its vector without a
    * cosine (zero, NaN or infinite): then the plan fails naming the
    * row's vec_id, before any division by that norm — a check inside
    * the projection, so it adds no Spark job. */
  private def withCosine(v: Column, nrm: Column): Column =
    when(nrm === 0.0 || isnan(nrm) || nrm === Double.PositiveInfinity,
      raise_error(concat(lit("vec_id "), col("vec_id").cast("string"),
        lit(" is a zero or non-finite vector — it has no cosine to any " +
          "centroid")))).otherwise(v)

  /** Random-hyperplane LSH top-k — the second scale path. 8 independent
    * hash tables of 6 sign-bits each (sign of graft_vec_dot against
    * fixed Gaussian hyperplanes); a vector is scored iff it shares a
    * (table, signature) bucket with the query in ANY table. For a
    * neighbor at angle θ, P[bit match] = 1-θ/π, so short-signature
    * OR-of-tables trades candidate volume for recall — the right regime
    * for this corpus's weakly-separated (cosine ≈ 0.5) neighbors; on
    * clustered real embeddings the same tables are far more selective.
    * At 100 TB each table's buckets are a partitioning key and a probe
    * is a partition-pruned scan. Approximate by design — recall is
    * spec-checked against [[bruteForceTopK]]. */
  def lshTopK(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val tables = 8
    val bits = 6
    val planes: Array[Array[Float]] = {
      val r = new java.util.Random(7)
      Array.fill(tables * bits)(Array.fill(dim)(r.nextGaussian().toFloat))
    }
    def signature(emb: org.apache.spark.sql.Column, t: Int) =
      (0 until bits).map { i =>
        when(dot(emb, typedlit(planes(t * bits + i).toSeq)) > 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    def withBuckets(df: DataFrame,
        emb: org.apache.spark.sql.Column): DataFrame =
      df.select(col("*"), posexplode(
        array((0 until tables).map(t => signature(emb, t)): _*)))
        .withColumnRenamed("pos", "table")
        .withColumnRenamed("col", "sig")

    val e = emb(s, d)
    val corpus = withBuckets(e.filter(col("vec_id") >= NumQueries),
      col("embedding"))
    val probes = withBuckets(
      e.filter(col("vec_id") < NumQueries)
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("embedding", "q_emb")
        .withColumnRenamed("nrm", "q_nrm"),
      col("q_emb"))
    // Multi-table duplicate hits fold inside the top-k aggregate — the
    // former (query, neighbor, cosine) distinct() pass (the main cost of
    // this query in BENCH_r02) is gone.
    val scored = corpus.join(broadcast(probes), Seq("table", "sig"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    topkByQuery(scored)
  }

  /** Seed centroid table: the first C corpus vectors (deterministic). */
  private def seedCentroids(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < NumQueries + Centroids)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))

  /** Shared IVF search: index the corpus against `cents`, probe each
    * query's nProbe closest cells, exact-score only those cells'
    * members. The probe-cell window ranks #queries x C rows — bounded
    * by the (broadcast-sized) centroid table, never the corpus. */
  private def ivfSearch(e: DataFrame, cents: DataFrame): DataFrame = {
    val corpus = e.filter(col("vec_id") >= NumQueries)
    val indexed = assignCells(corpus, cents)
    val q = e.filter(col("vec_id") < NumQueries)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("nrm", "q_nrm")
    val qCells = {
      val scored = q.join(broadcast(cents))
        .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
          (dot(col("c_emb"), col("q_emb")) /
            (col("c_nrm") * col("q_nrm"))).as("c_cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("cell"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= NProbe)
        .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"))
    }
    val scored = indexed.join(broadcast(qCells), "cell")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    topkByQuery(scored)
  }

  /** IVF approximate top-k: probe the nProbe cells nearest to each query,
    * exact-score only vectors in those cells. Approximate by design —
    * the spec checks recall against [[bruteForceTopK]] rather than
    * equality, so this query has a rows-only driver check (and s04 pins
    * its recall contract). */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    ivfSearch(e, seedCentroids(e.filter(col("vec_id") >= NumQueries)))
  }

  /** Spherical k-means (Lloyd) refinement of the centroid table: each
    * iteration assigns every corpus vector to its best cell (the same
    * map-side-combinable `max_by` as the index build) and recomputes
    * each cell's centroid as the mean of its members' UNIT vectors —
    * the spherical update, whose mean-cosine objective is monotonically
    * non-decreasing (SimilaritySpec asserts it). The per-dimension
    * average runs as posexplode -> partial-aggregated avg keyed on
    * (cell, dim): shuffle volume is partitions x C x dim rows, never
    * corpus rows, and the centroid table stays broadcast-sized
    * throughout. A handful of iterations is standard; the plan grows
    * linearly with iterations (each references its predecessor once),
    * so no lineage truncation is needed at these counts. */
  def kmeansRefine(corpus: DataFrame, cents: DataFrame,
      iters: Int = 1): DataFrame = {
    var c = cents
    for (_ <- 1 to iters) {
      c = assignCells(corpus, c)
        .select(col("cell"), col("nrm"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col") / col("nrm")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x("m")).cast("array<float>").as("c_emb"))
        .withColumn("c_nrm", l2Norm(col("c_emb")))
    }
    c
  }

  /** Mean best-cell cosine of the corpus under a centroid table — the
    * spherical k-means objective, used by the spec to assert Lloyd
    * monotonicity. */
  def ivfCost(corpus: DataFrame, cents: DataFrame): Double =
    corpus.join(broadcast(cents))
      .select(col("vec_id"),
        (dot(col("c_emb"), col("embedding")) /
          (col("c_nrm") * col("nrm"))).as("c_cos"))
      .groupBy(col("vec_id")).agg(max(col("c_cos")).as("best"))
      .agg(avg(col("best"))).head().getDouble(0)

  /** IVF top-k over k-means-refined centroids — the production index
    * build (seed cells are only the Lloyd starting point). Cached: the
    * search consumes the refined table twice (corpus assignment + query
    * probes). */
  def ivfTopKKmeans(s: SparkSession, d: String, iters: Int = 2): DataFrame = {
    val e = emb(s, d)
    val corpus = e.filter(col("vec_id") >= NumQueries)
    ivfSearch(e, kmeansRefine(corpus, seedCentroids(corpus), iters).cache())
  }

  /** Materialize the IVF index as a CELL-PARTITIONED snapshot table
    * (plus a sibling centroid table) — the 100 TB layout the in-memory
    * path only talks about: with `cell` as the partition key, a probe
    * reads nProbe directories and Spark never lists, opens, or scans
    * the rest of the corpus. The spec asserts the pruning via the
    * scans' numFiles metric.
    *
    * The index eats the engine's own dog food: both directories are
    * [[graft.sources.Versioned]] tables, so every build/append
    * publishes through the atomic marker protocol — a probe sees the
    * OLD or the NEW index, never a mix, and a crashed or concurrent
    * writer leaves the live index untouched (SimilaritySpec asserts
    * both). A rebuild is simply a new self-contained snapshot of the
    * same table. */
  /** A frame in STORED-quantized form: int8 payload (`q_emb`,
    * `q_scale`) alongside the dequantized float view every scoring
    * and assignment step consumes — so centroids, cell membership and
    * probe scores are all computed on exactly the values a reader of
    * the compact index reconstructs. */
  private def quantizedForm(df: DataFrame): DataFrame =
    dequantizeInt8(quantizeInt8(df.select(col("vec_id"),
        withCosine(col("embedding"), l2Norm(col("embedding")))
          .as("embedding"))))
      .select(col("vec_id"), col("q_emb"), col("q_scale"),
        col("dq_emb").as("embedding"))
      .withColumn("nrm", l2Norm(col("embedding")))

  def buildIvfIndex(s: SparkSession, d: String, indexDir: String,
      iters: Int = 2, quantized: Boolean = false): Unit =
    buildIvfIndexOf(s, emb(s, d).filter(col("vec_id") >= NumQueries),
      indexDir, iters, quantized)

  /** [[buildIvfIndex]] over an explicit (vec_id, embedding, nrm)
    * corpus frame — the build/append split the q56 export gate
    * exercises, mirroring [[buildIvfPqIndexOf]]. */
  def buildIvfIndexOf(s: SparkSession, corpus0: DataFrame,
      indexDir: String, iters: Int = 2,
      quantized: Boolean = false): Unit = {
    // quantized: the index STORES int8 — 4x smaller on disk, which is
    // the dial a 100 TB vector corpus turns first. Quantization happens
    // BEFORE centroid fit and assignment, so the persisted cells are
    // optimal for the vectors probes will actually reconstruct.
    val corpus = if (quantized) quantizedForm(corpus0) else corpus0
    val cents = kmeansRefine(corpus, seedCentroids(corpus), iters).cache()
    // centroids publish FIRST, and the index commit's note pins their
    // snapshot version — a probe resolves the index, then reads the
    // centroid VERSION the index was assigned against, so a rebuild
    // in flight can never pair a new index with old centroids (or
    // vice versa)
    try IndexPins(s, indexDir).publish(
        "centroids" -> (Versioned.commit(cents, _))) { note =>
      val assigned = assignCells(corpus, cents)
      // drop the float column from the stored layout — keeping it
      // would forfeit the 4x; probes rebuild it from q_emb x q_scale
      val stored = if (quantized) assigned.drop("embedding") else assigned
      // vec_id stats on every cell file: upsertIntoVectorIndex's CoW
      // touched-file probe prunes to the files whose id range
      // intersects the batch
      Versioned.commit(stored, indexDir, partitionCol = Some("cell"),
        note = note, statsCols = Seq("vec_id"))
    } finally cents.unpersist(blocking = false)
  }

  /** Incremental index maintenance — realistic ANN upkeep at 100 TB:
    * new vectors are assigned against the PERSISTED centroid table and
    * published as an O(delta) snapshot APPEND: only the delta's cell
    * files are written, the prior snapshot's files link through the
    * manifest unchanged, and the marker publish is atomic — a crash
    * mid-append can never expose a partial delta to probes (the raw
    * `mode("append")` this replaces could). Centroids stay immutable
    * after build (the IVF contract — re-fitting them would strand
    * previously assigned members in stale cells; periodic full rebuilds
    * handle drift). Appending to a missing `indexDir` bootstraps it, so
    * a one-shot build and any incremental construction at the same
    * centroids produce the same index (SimilaritySpec asserts
    * probe-equality). A drip-fed index accretes one small file per
    * touched cell per batch — [[compactIvfIndex]] is the maintenance
    * sweep. */
  def appendToIvfIndex(s: SparkSession, newVectors: DataFrame,
      indexDir: String): Unit = {
    // assign against the centroid version the index is pinned to (its
    // own note; the current centroid snapshot when bootstrapping) and
    // carry the pin forward — an append can never mix centroid
    // generations into one index
    val pins = IndexPins(s, indexDir)
    val cv = pins.pin("centroids").getOrElse(pins.siblingHead("centroids"))
    // the re-append trap, same as appendToIvfPqIndex: a
    // live-tombstoned vec_id's fresh entry would be anti-joined away
    // at every probe — compact first, then append
    val clash = vecTombs(s, indexDir).clash(newVectors)
    require(clash.isEmpty,
      s"appendToIvfIndex: vec_ids ${clash.mkString(", ")} are " +
        s"live-tombstoned in $indexDir — the append would be " +
        "invisible; compactIvfIndex first")
    // the delta takes the INDEX's stored form (schema-declared): an
    // append to a quantized index quantizes its vectors the same way,
    // so one index never mixes float and int8 files. Bootstrapping a
    // missing index by append starts float; use [[buildIvfIndex]]
    // (quantized = true) to start a compact one.
    val qz = pins.built && pins.head.columns.contains("q_emb")
    val delta0 = newVectors.select(col("vec_id"), col("embedding"))
    val delta = if (qz) quantizedForm(delta0)
      else delta0.withColumn("nrm", l2Norm(col("embedding")))
    pins.publish("centroids" -> (_ => cv)) { note =>
      val assigned = assignCells(delta, pins.sibling("centroids"))
      Versioned.append(
        if (qz) assigned.drop("embedding") else assigned, indexDir,
        partitionCol = Some("cell"), note = note,
        statsCols = Seq("vec_id"))
    }
  }

  /** Small-file maintenance for a drip-fed index: binpack each cell's
    * accumulated append files into right-sized ones, keeping the cell
    * partitioning (probes stay partition-pruned) — published as a
    * snapshot like every other commit, so probes never see a
    * half-compacted index. Files already at size link unchanged
    * (O(small files), not O(index)). With live tombstones
    * ([[deleteFromVectorIndex]]) it instead absorbs them: one
    * cell-partitioned rewrite without the deleted vectors, then a reset
    * of exactly the absorbed set. */
  def compactIvfIndex(s: SparkSession, indexDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFileBytes: Long = 0L): Int = {
    // tombstones applied in ONE cell-partitioned rewrite re-pinning the
    // centroid generation; the binpack carries the pin itself — a
    // compacted index keeps resolving the generation it was assigned
    // against
    absorbVecTombs(s, indexDir).getOrElse(
      Versioned.compactSmall(s, indexDir, targetFileBytes, minFileBytes,
        statsCols = Seq("vec_id"), partitionCol = Some("cell")))
  }

  /** The vector indexes' tombstone apply: one cell-partitioned rewrite
    * without the deleted vectors, its quantization pins unchanged
    * ([[IndexTombs.absorb]]); None with nothing to absorb. */
  private def absorbVecTombs(s: SparkSession,
      indexDir: String): Option[Int] =
    IndexTombs.absorb(s, indexDir, "vec_id") { tombs =>
      val pins = IndexPins(s, indexDir)
      pins.publish()(note => Versioned.commit(tombs.live(pins.head),
        indexDir, partitionCol = Some("cell"), note = note,
        statsCols = Seq("vec_id")))
    }

  /** Query a persisted [[buildIvfIndex]] index: the probe-cell set
    * (#queries x nProbe cell ids — metadata-scale, like a partition
    * listing) prunes the scan to those directories, then members are
    * exact-scored and reduced by the top-k aggregate. Results are
    * identical to [[ivfTopKKmeans]] at the same iteration count; the
    * difference is that the index is built once and amortized across
    * query batches, and each probe's I/O is nProbe/C of the table. */
  def ivfTopKIndexed(s: SparkSession, d: String, indexDir: String,
      numQueries: Int = NumQueries): DataFrame = {
    val pins = IndexPins(s, indexDir)
    val cents = pins.sibling("centroids")
    val q = emb(s, d).filter(col("vec_id") < numQueries)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("nrm", "q_nrm")
    val qPlan = {
      val scored = q.join(broadcast(cents))
        .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
          (dot(col("c_emb"), col("q_emb")) /
            (col("c_nrm") * col("q_nrm"))).as("c_cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("cell"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= NProbe)
        .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"))
    }
    // The (query, cell) probe rows are metadata-scale (queries x
    // nProbe, like a partition listing) and broadcast below anyway:
    // collected ONCE, they become a local frame (no cached block to
    // release) and their cell ids turn the probe into a statically
    // partition-pruned scan.
    val qRows = qPlan.collect()
    val qCells = s.createDataFrame(qRows.toSeq.asJava, qPlan.schema)
    val probed = qRows.map(_.getAs[Long]("cell")).distinct
    // Partition-dir values infer as int; filter with ints so the
    // predicate hits the partition column uncasted (a cast would block
    // static pruning), then widen for the probe join. Cell ids are
    // centroid ordinals (bounded by the centroid table), so the
    // narrowing is safe — asserted, not assumed.
    require(probed.forall(c => c.isValidInt),
      s"IVF cell id beyond Int range: ${probed.max}")
    // snapshot read resolves the current published version; the filter
    // pushes through the manifest scans to the cell partition dirs.
    // Live tombstones gate membership here exactly as on the IVF-PQ
    // probe ([[deleteFromVectorIndex]] serves both index layouts — the
    // pin-shape requirement matches either)
    val raw = vecTombs(s, indexDir).live(pins.head
      .filter(col("cell").isin(probed.map(_.toInt): _*))
      .withColumn("cell", col("cell").cast("long")))
    // a quantized index (int8 on disk, no float column) declares
    // itself by schema; reconstruct the float view per probed row and
    // DROP the stored payload — its `q_emb` name would otherwise
    // collide with the probe frame's query-embedding column — so the
    // scoring below is unchanged either way
    val indexed =
      if (!raw.columns.contains("q_emb")) raw
      else raw.withColumn("embedding",
          transform(col("q_emb"),
            v => (v.cast("double") * col("q_scale")).cast("float")))
        .drop("q_emb", "q_scale")
    val scored = indexed.join(broadcast(qCells), "cell")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    topkByQuery(scored)
  }

  /** Recall@k of an approximate ANN path against [[bruteForceTopK]],
    * reduced in-engine to one row of engine-independent facts
    * (k, query count, recall >= floor). Both paths are deterministic, so
    * the row is a constant the driver's DuckDB oracle can state
    * literally — this turns the approximate queries' rows-only checks
    * into full oracle-gated checks without pretending DuckDB could
    * recompute an LSH/IVF probe. */
  def annRecall(s: SparkSession, d: String, approx: DataFrame,
      floor: Double): DataFrame = {
    val exact = bruteForceTopK(s, d)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    exact.join(hits, Seq("query_id", "neighbor_id"), "left")
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
        count(lit(1))).as("recall"))
      .select(lit(K.toLong).as("k"), lit(NumQueries.toLong).as("n_queries"),
        (col("recall") >= floor).cast("long").as("recall_ok"))
  }

  /** IVF recall vs the nProbe/C random-embedding floor (SimilaritySpec
    * measures the same bound per-pair). */
  def ivfRecall(s: SparkSession, d: String): DataFrame =
    annRecall(s, d, ivfTopK(s, d), NProbe.toDouble / Centroids)

  /** LSH recall vs the multi-table floor used by ApproxSpec. */
  def lshRecall(s: SparkSession, d: String): DataFrame =
    annRecall(s, d, lshTopK(s, d), 0.2)

  // —— int8 embedding quantization (storage/bandwidth path) ——

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * q_i = round(x_i / scale) ∈ [-127, 127] — 4x smaller embeddings
    * (the storage/bandwidth dial a 100 TB vector corpus turns first),
    * with reconstruction error bounded by scale/2 per component. All
    * higher-order-function builtins (`transform`/`array_max`) — no
    * UDF, stays codegen-adjacent and embarrassingly parallel. An
    * all-zero vector keeps scale 1 (quantizes to zeros, dequantizes
    * exactly). */
  def quantizeInt8(df: DataFrame,
      embCol: String = "embedding"): DataFrame = {
    val mx = array_max(transform(col(embCol), x => abs(x)))
    df.withColumn("q_scale",
        when(mx > 0, mx.cast("double") / 127.0d).otherwise(1.0d))
      .withColumn("q_emb",
        transform(col(embCol),
          x => round(x.cast("double") / col("q_scale"))
            .cast("tinyint")))
  }

  /** Dequantized FLOAT form of a [[quantizeInt8]] frame — what a
    * scoring path reads back. */
  def dequantizeInt8(df: DataFrame): DataFrame =
    df.withColumn("dq_emb",
      transform(col("q_emb"),
        v => (v.cast("double") * col("q_scale")).cast("float")))

  /** The s07 gate: brute-force top-k over DEQUANTIZED int8 embeddings,
    * judged by the [[annRecall]] contract against the float-exact
    * baseline. Int8 symmetric quantization preserves neighbor order
    * almost everywhere, so the floor is 0.8 (measured ~1.0 on the
    * fixture); the gate also pins the storage fact — 127-bounded
    * components — as a constant. */
  /** The embeddings table in int8-dequantized form, shaped like
    * [[emb]] — what every scoring path reads when the corpus is stored
    * quantized. */
  private def dequantizedEmb(s: SparkSession, d: String): DataFrame =
    dequantizeInt8(quantizeInt8(emb(s, d)))
      .select(col("vec_id"), col("dq_emb").as("embedding"))
      .withColumn("nrm", l2Norm(col("embedding")))

  def int8Recall(s: SparkSession, d: String): DataFrame = {
    val dq = dequantizedEmb(s, d)
    val q = dq.filter(col("vec_id") < NumQueries)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("embedding", "q_emb")
      .withColumnRenamed("nrm", "q_nrm")
    val scored = dq.filter(col("vec_id") >= NumQueries)
      .join(broadcast(q))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    val approx = topkByQuery(scored)
    val bounded = quantizeInt8(emb(s, d))
      .select(array_max(transform(col("q_emb"),
        v => abs(v.cast("int")))).as("m"))
      .agg(max(col("m")).as("mm"))
      .head().getInt(0) <= 127
    annRecall(s, d, approx, 0.8)
      .withColumn("int8_bounded", lit(if (bounded) 1L else 0L))
  }

  /** The s08 gate: the PRODUCTION composition — IVF cell probing over
    * the int8-dequantized corpus (a quantized vector store is 4x
    * smaller AND probed, not brute-forced), judged against the
    * float-exact brute-force baseline by the same nProbe/C recall
    * floor as s04. The composition is free: [[ivfSearch]] takes any
    * (vec_id, embedding, nrm) frame, so quantization slots in as a
    * corpus transform without touching the index or probe plans. */
  def int8IvfRecall(s: SparkSession, d: String): DataFrame = {
    val dq = dequantizedEmb(s, d)
    val approx = ivfSearch(dq,
      seedCentroids(dq.filter(col("vec_id") >= NumQueries)))
    annRecall(s, d, approx, NProbe.toDouble / Centroids)
  }

  /** The s09 gate: the PERSISTED-quantized composition — an index
    * built int8 ON DISK ([[buildIvfIndex]] quantized = true: tinyint
    * `q_emb` + `q_scale`, float column dropped — the 4x storage win
    * realized in the published layout, not just in memory), probed
    * through the standard partition-pruned [[ivfTopKIndexed]] path
    * and judged against the float-exact brute-force baseline. Besides
    * the recall contract, the row pins the storage facts the 4x claim
    * rests on, read from the published index's own schema. */
  /** The persisted int8 IVF index, pooled per fixture dir: an index is
    * built ONCE and amortized across query batches — that is its
    * entire point — so the s09 recall gate and the s10 probe-latency
    * query share a single build instead of each timing construction
    * (reclaimed at exit; a fresh process rebuilds). */
  private def cachedIvfIndex(s: SparkSession, d: String): String =
    graft.sources.FixturePool.readOnly(s"ivf-int8:$d",
      reclaimAtExit = true)(
      dir => buildIvfIndex(s, d, dir, iters = 2, quantized = true))

  def int8IvfIndexedRecall(s: SparkSession, d: String): DataFrame = {
    val indexDir = cachedIvfIndex(s, d)
    val approx = ivfTopKIndexed(s, d, indexDir)
    val idx = Versioned.read(s, indexDir)
    val storedInt8 = idx.schema.fields.find(_.name == "q_emb")
      .exists(_.dataType.catalogString == "array<tinyint>")
    val floatDropped = !idx.columns.contains("embedding")
    val r = annRecall(s, d, approx, NProbe.toDouble / Centroids).head()
    s.range(1).select(
      lit(r.getLong(0)).as("k"),
      lit(r.getLong(1)).as("n_queries"),
      lit(r.getLong(2)).as("recall_ok"),
      lit(if (storedInt8) 1L else 0L).as("stored_int8"),
      lit(if (floatDropped) 1L else 0L).as("float_dropped"))
  }

  /** The s10 query: PROBE-ONLY latency over the persisted quantized
    * index — the number a 100 TB vector-store user actually pays per
    * query batch. [[cachedIvfIndex]] ensures the build happened once
    * (in the bench, during warmup or s09); the timed run is the
    * partition-pruned probe alone, directly comparable to s02's
    * in-memory IVF probe. Results are pinned by the s09 recall gate
    * over the SAME index and probe path. */
  def int8IvfIndexedProbe(s: SparkSession, d: String): DataFrame =
    ivfTopKIndexed(s, d, cachedIvfIndex(s, d))

  // —— Product quantization (PQ): the compression dial past int8 ——
  //
  // int8 scalar quantization is 4x; PQ stores M code BYTES per vector
  // (here 16 bytes vs 64 float dims = 16x) by k-means-quantizing each
  // of M subspaces independently. Queries score candidates with
  // ASYMMETRIC DISTANCE (ADC): the query stays float, each subspace
  // contributes a table lookup dot(q_j, codebook[j][code]), and the
  // approximate dot is the sum over subspaces — exact on the query
  // side, quantized only on the corpus side. The standard production
  // shape (FAISS IVFPQ) follows: ADC builds a SHORTLIST, a float
  // rerank of just the shortlist restores exactness at the top.

  val PqM = 16     // subspaces (64-dim fixture -> 4 dims each)
  // codes per subspace. One byte stores up to 256: values >= 128 wrap
  // NEGATIVE in the signed tinyint storage ([[pqEncode]] wraps them
  // explicitly, never an overflowing cast) and ADC decodes unsigned
  // ([[graft.functions.PqAdc]] & 0xff) — K beyond 256 cannot
  // round-trip one byte and training refuses it.
  val PqCodes = 16

  /** ADC candidates per query before the float rerank: 2% of the
    * corpus, floored — the knob trades rerank I/O for recall, and a
    * FIXED shortlist over a growing corpus silently decays recall
    * (measured here: 40-of-5000 recalls 0.4 where 40-of-500 recalls
    * 0.66 on the near-uniform fixture), so the contract scales it. */
  def pqShortlist(corpusRows: Long): Int =
    math.max(40L, corpusRows / 50L).toInt

  /** Corpus in UNIT-vector long form: (vec_id, sub j, subvector of
    * embedding/nrm) — cosine of unit vectors decomposes additively
    * over subspaces, which is what makes per-subspace quantization
    * sound for cosine ranking. */
  private[graft] def subvectors(e: DataFrame): DataFrame = {
    val subDim = 64 / PqM
    e.select(col("vec_id"),
      posexplode(transform(
        sequence(lit(0), lit(PqM - 1)),
        j => slice(transform(col("embedding"),
          x => x / col("nrm")), j * subDim + 1, lit(subDim)))))
      .select(col("vec_id"), col("pos").as("j"),
        col("col").cast("array<float>").as("sub"))
  }

  /** Train the M per-subspace codebooks with Lloyd iterations — all
    * subspaces in ONE job per iteration (assignment keys on (vec_id,
    * j), the same map-side-combinable max_by as [[assignCells]];
    * the update is a partial-aggregated per-dimension mean keyed on
    * (j, code, dim)). The codebook is M x PqCodes x subDim floats —
    * broadcast-sized at ANY corpus scale. Distances are euclidean on
    * unit subvectors (the PQ standard; minimizing L2 there maximizes
    * the retained dot product). Seeded from the first PqCodes corpus
    * vectors' subvectors, deterministic. */
  def trainPqCodebooks(subs: DataFrame, iters: Int = 2): DataFrame = {
    require(PqCodes <= 256, s"PQ code space is ONE byte per subspace: " +
      s"K = $PqCodes cannot round-trip tinyint storage")
    def l2sq(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    var cb = subs.filter(col("vec_id") < lit(NumQueries + PqCodes) &&
        col("vec_id") >= NumQueries)
      .select(col("j"), (col("vec_id") - NumQueries).as("code"),
        col("sub").as("c_sub"))
    for (_ <- 1 to iters) {
      val updated = subs.join(broadcast(cb), "j")
        .select(col("vec_id"), col("j"), col("sub"), col("code"),
          l2sq(col("sub"), col("c_sub")).as("d2"))
        .groupBy(col("vec_id"), col("j"))
        .agg(min_by(struct(col("code"), col("sub")),
          struct(col("d2"), col("code"))).as("best"))
        .select(col("j"), col("best.code").as("code"),
          posexplode(col("best.sub")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("j"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x("m")).cast("array<float>").as("c_sub"))
      // standard Lloyd practice made load-bearing: a cluster that won
      // NO members this iteration (possible whenever two centroids
      // collide — e.g. duplicate seed vectors tie to the lower code)
      // KEEPS its previous centroid. Dropping the row instead would
      // shrink the codebook below M x K, and every downstream ADC
      // table is POSITIONAL (qtab slot = j*K + code, K derived from
      // the table length) — one missing row silently scrambles every
      // lookup after the gap.
      cb = cb.select(col("j"), col("code"), col("c_sub").as("prev_sub"))
        .join(updated.withColumnRenamed("c_sub", "new_sub"),
          Seq("j", "code"), "left")
        .select(col("j"), col("code"),
          coalesce(col("new_sub"), col("prev_sub")).as("c_sub"))
    }
    cb
  }

  /** Encode the corpus against trained codebooks: one code byte per
    * subspace, assembled j-ascending into an M-byte array — the
    * vector's ENTIRE stored footprint. */
  def pqEncode(subs: DataFrame, cb: DataFrame): DataFrame = {
    def l2sq(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    subs.join(broadcast(cb), "j")
      .select(col("vec_id"), col("j"), col("code"),
        l2sq(col("sub"), col("c_sub")).as("d2"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("code")))),
        // explicit unsigned->signed wrap: codes 128..255 store as
        // negative bytes (ADC decodes & 0xff) — never an overflowing
        // tinyint cast, which ANSI mode rightly rejects
        x => x("code") - when(x("code") >= 128, lit(256)).otherwise(lit(0)))
        .cast("array<tinyint>").as("codes"))
  }

  /** PQ-ADC top-k with float rerank: each query precomputes its
    * M x PqCodes lookup table (dot of the unit query subvector with
    * every codebook entry — broadcast-sized), ADC-scores every
    * candidate by M table lookups over its code bytes, keeps the
    * [[PqShortlist]] best, and exact-rescoring ONLY the shortlist
    * restores float precision at the top. At scale the scored side
    * reads M bytes per vector instead of 4xDIM — the 16x scan-
    * bandwidth win — and the rerank fetches a bounded shortlist.
    * Measured on the near-uniform fixture (the HARD case — clustered
    * real embeddings quantize far better): recall@5 0.94 / 0.88 /
    * 0.74 at sf0.001/0.01/0.1 with the 2%-of-corpus shortlist. */
  def pqTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val corpusSubs = subvectors(e.filter(col("vec_id") >= NumQueries))
    val cb = trainPqCodebooks(corpusSubs).cache()
    val codes = pqEncode(corpusSubs, cb)
    // per-query flattened ADC table: entry j * PqCodes + code
    val qTab = subvectors(e.filter(col("vec_id") < NumQueries))
      .join(broadcast(cb), "j")
      .select(col("vec_id").as("query_id"),
        (col("j") * PqCodes + col("code")).as("slot"),
        aggregate(zip_with(col("sub"), col("c_sub"),
          (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("dp"))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("slot"), col("dp")))),
        x => x("dp")).as("qtab"))
    // the per-candidate hot loop is the native codegen'd graft_pq_adc
    // (functions.PqAdc) — the interpreted HOF formulation allocates
    // an index sequence per row, the VecDot lesson all over again
    val adc = codes.join(broadcast(qTab))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function(GraftFunctions.PqAdcName,
          col("qtab"), col("codes")).as("cosine"))
    // corpus count from the source table (a parquet-footer count) —
    // counting `codes` would materialize the whole uncached encode
    // pipeline a second time just to size the shortlist
    val short = pqShortlist(
      e.filter(col("vec_id") >= NumQueries).count())
    val shortlist = adc.groupBy(col("query_id"))
      .agg(call_function(GraftFunctions.TopKName,
        col("cosine"), col("neighbor_id"), lit(short)).as("nbrs"))
      .select(col("query_id"), explode(col("nbrs")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"))
    // float rerank of the shortlist only
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = e.filter(col("vec_id") >= NumQueries)
      .withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    topkByQuery(scored)
  }

  /** The s11 gate: PQ recall + the compression facts. The recall
    * floor is the rerank-shortlist bound measured on this fixture's
    * near-uniform embeddings (clustered real embeddings do better);
    * the storage fact is structural: M code bytes per vector vs
    * 4 x 64 float bytes = 16x (>= the 16x contract floor). */
  def pqRecall(s: SparkSession, d: String): DataFrame = {
    val bytesPerVec = PqM // one byte per subspace
    val ratioOk = (64 * 4) / bytesPerVec >= 16
    annRecall(s, d, pqTopK(s, d), 0.7)
      .withColumn("compression_ok", lit(if (ratioOk) 1L else 0L))
  }

  // —— Persisted IVF-PQ index: the production 100 TB ANN layout ——
  //
  // FAISS's IVFPQ as snapshot tables: the index stores, per vector,
  // ONLY (vec_id, cell, nrm, M code bytes) — cell-partitioned so a
  // probe reads nProbe directories, with the 16x PQ payload instead
  // of floats inside them. A query therefore pays
  // (nProbe/C) x (M/256) of a float full scan in bandwidth; the float
  // rerank fetches the bounded shortlist from the SOURCE embedding
  // store by vec_id (at scale: a broadcast-ids probe into the bucketed
  // source table), so full precision never needs to live in the index.
  // Centroids and PQ codebooks publish as sibling snapshot tables and
  // the index commit note pins BOTH versions — probes and appends can
  // never mix quantization generations.

  def buildIvfPqIndex(s: SparkSession, d: String, indexDir: String,
      iters: Int = 2): Unit =
    buildIvfPqIndexOf(s,
      emb(s, d).filter(col("vec_id") >= NumQueries), indexDir, iters)

  /** [[buildIvfPqIndex]] over an explicit (vec_id, embedding, nrm)
    * corpus frame — the build/append split the export gate (q51)
    * exercises needs a corpus the fixture table doesn't pre-slice. */
  def buildIvfPqIndexOf(s: SparkSession, corpus0: DataFrame,
      indexDir: String, iters: Int = 2): Unit = {
    val corpus = corpus0.cache()
    corpus.count() // materialize once, BEFORE the legs race to fill it
    val subs = subvectors(corpus)
    // centroid refinement and PQ codebook training are INDEPENDENT
    // iterative legs over the same cached corpus, each a chain of
    // small driver-gap-bound jobs — the two sibling commits overlap
    // (guide §2.6), and the code cells commit after both
    val cents = kmeansRefine(corpus, seedCentroids(corpus), iters).cache()
    val cb = trainPqCodebooks(subs).cache()
    try IndexPins(s, indexDir).publish(
        "centroids" -> (Versioned.commit(cents, _)),
        "codebooks" -> (Versioned.commit(cb, _))) { note =>
      // join codes onto cell assignments keyed on vec_id — both sides
      // are corpus-partitioned on the same key (co-partitioned at
      // scale); the float embedding is NOT stored, that is the point
      val stored = assignCells(corpus, cents)
        .select(col("vec_id"), col("cell"), col("nrm"))
        .join(pqEncode(subs, cb), "vec_id")
      Versioned.commit(stored, indexDir, partitionCol = Some("cell"),
        note = note, statsCols = Seq("vec_id"))
    } finally Seq(cents, cb, corpus).foreach(_.unpersist(blocking = false))
  }

  /** O(delta) maintenance: encode new vectors against the PINNED
    * codebooks, assign against the PINNED centroids, snapshot-append
    * only the touched cells' files. Quantization generations stay
    * immutable after build (re-training either table would strand the
    * already-encoded corpus); drift is handled by periodic rebuild. */
  def appendToIvfPqIndex(s: SparkSession, newVectors: DataFrame,
      indexDir: String): Unit = {
    val pins = IndexPins(s, indexDir)
    require(pins.pin("centroids").nonEmpty && pins.pin("codebooks").nonEmpty,
      s"$indexDir is not a built IVF-PQ index (missing pins: " +
        s"${pins.pinMap})")
    // same re-append trap as the text index: a live-tombstoned
    // vec_id's fresh codes would be anti-joined away at every probe —
    // refuse loudly; compactIvfPqIndex first, then append
    val clash = vecTombs(s, indexDir).clash(newVectors)
    require(clash.isEmpty,
      s"appendToIvfPqIndex: vec_ids ${clash.mkString(", ")} are " +
        s"live-tombstoned in $indexDir — the append would be " +
        "invisible; compactIvfPqIndex first")
    val delta = newVectors.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", l2Norm(col("embedding"))).cache()
    val stored = assignCells(delta, pins.sibling("centroids"))
      .select(col("vec_id"), col("cell"), col("nrm"))
      .join(pqEncode(subvectors(delta), pins.sibling("codebooks")), "vec_id")
    pins.publish()(note => Versioned.append(stored, indexDir,
      partitionCol = Some("cell"), note = note, statsCols = Seq("vec_id")))
    delta.unpersist()
  }

  /** RE-EMBED vectors in place — the update loop an embedding-model
    * refresh runs at scale. Without this, updating a live-tombstoned
    * vec_id required delete → compact (a FULL index rewrite) → append,
    * because re-appending a live-tombstoned id refuses (the
    * silent-shadowing trap: its fresh codes would be anti-joined away
    * forever). The upsert supersedes in O(batch):
    *
    *   1. ONE atomic CoW commit on the index replaces the ids' stored
    *      rows with the fresh encodings ([[Versioned.applyChanges]]
    *      keyed on vec_id — touches only the cell files holding those
    *      ids), with the generation pins UNCHANGED: the fresh vectors
    *      encode against the same pinned centroids[/codebooks] every
    *      other row used, so one index never mixes generations;
    *   2. the ids then drop from the sibling tombstone table (only
    *      when any were live-tombstoned).
    *
    * A crash between the two is fail-safe: the OLD codes are already
    * gone and the ids stay tombstoned — the vector reads as deleted,
    * never stale — and re-running the upsert completes the pair.
    * Serves BOTH persisted layouts (int8/float IVF and IVF-PQ),
    * encoding the delta exactly as the matching append would. The
    * source STORE must already hold the fresh embeddings, the same
    * operational invariant as the appends (probes rerank from store
    * floats). */
  def upsertIntoVectorIndex(s: SparkSession, newVectors: DataFrame,
      indexDir: String): Unit = {
    val pins = IndexPins(s, indexDir)
    require(pins.pin("centroids").nonEmpty,
      s"$indexDir is not a built vector index (buildIvfIndex / " +
        "buildIvfPqIndex first)")
    val cents = pins.sibling("centroids")
    val delta = newVectors.select(col("vec_id"), col("embedding"))
    var cached: DataFrame = null // released after the commit's action
    val stored = if (pins.pin("codebooks").nonEmpty) {
      val dd = delta.withColumn("nrm", l2Norm(col("embedding"))).cache()
      cached = dd
      assignCells(dd, cents)
        .select(col("vec_id"), col("cell"), col("nrm"))
        .join(pqEncode(subvectors(dd), pins.sibling("codebooks")), "vec_id")
    } else {
      val qz = pins.head.columns.contains("q_emb")
      val dd = if (qz) quantizedForm(delta)
        else delta.withColumn("nrm", l2Norm(col("embedding")))
      val assigned = assignCells(dd, cents)
      if (qz) assigned.drop("embedding") else assigned
    }
    // 1. one atomic upsert-by-key commit: old rows for these ids leave
    // WITH the fresh rows' arrival — no window where both (or neither)
    // exist in a published snapshot
    try pins.publish()(note => Versioned.applyChanges(s, indexDir,
      upserts = stored,
      deleteKeys = newVectors.select(col("vec_id")).limit(0),
      key = "vec_id", partitionCol = Some("cell"), note = note,
      statsCols = Seq("vec_id")))
    finally if (cached != null) cached.unpersist(blocking = false)
    // 2. supersede any live tombstones on these ids (fresh encodings
    // are now the only stored rows, so visibility is correct)
    IndexTombs.lift(s, newVectors.select(col("vec_id")).distinct(),
      indexDir, "vec_id")
  }

  /** Query a persisted [[buildIvfPqIndex]] index: resolve pinned
    * centroids + codebooks, pick each query's nProbe cells, scan ONLY
    * those cell directories (partition-pruned like [[ivfTopKIndexed]]),
    * ADC-score their code bytes with the native codegen'd
    * `graft_pq_adc`, shortlist, and float-rerank the shortlist from
    * the source embedding STORE — the index holds only code bytes, so
    * full precision comes from the store the corpus lives in. The
    * operational invariant follows: append to the source store
    * BEFORE [[appendToIvfPqIndex]], or the new vectors ADC-score into
    * shortlists but can never be returned (their floats are nowhere).
    * `corpus` overrides the store ((vec_id, embedding[, nrm]) frame)
    * for callers whose vectors extend past the fixture table —
    * SimilaritySpec gates an appended twin's findability through it. */
  def ivfPqTopKIndexed(s: SparkSession, d: String, indexDir: String,
      numQueries: Int = NumQueries,
      corpus: Option[DataFrame] = None): DataFrame = {
    val pins = IndexPins(s, indexDir)
    val cents = pins.sibling("centroids")
    val cb = pins.sibling("codebooks")
    val e = emb(s, d)
    val queries = e.filter(col("vec_id") < numQueries)
    // nProbe closest cells per query — same bounded window as
    // ivfTopKIndexed (#queries x C rows, never the corpus)
    val qPlan = {
      val scored = queries
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("nrm"))
        .join(broadcast(cents))
        .select(col("query_id"), col("cell"),
          (dot(col("c_emb"), col("embedding")) /
            (col("c_nrm") * col("nrm"))).as("c_cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("c_cos").desc, col("cell"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= NProbe)
        .select(col("query_id"), col("cell"))
    }
    // the (query, cell) collect and the shortlist-sizing count are
    // independent actions at the head of every probe — overlap them
    // (guide §2.6). Collected once, the probe rows become a local
    // frame (no cached block to release), as in ivfTopKIndexed. The
    // shortlist scales to the CORPUS (same contract as pqTopK); the
    // index row count is a parquet-footer count, not a scan.
    val (qRows, short) = graft.tools.Overlap.concurrently2(
      () => qPlan.collect(),
      () => pqShortlist(pins.head.count()))
    val qCells = s.createDataFrame(qRows.toSeq.asJava, qPlan.schema)
    val probed = qRows.map(_.getLong(1)).distinct
    require(probed.forall(_.isValidInt),
      s"IVF cell id beyond Int range: ${probed.max}")
    // live tombstones gate membership before ADC — a deleted vector
    // can never enter a shortlist ([[deleteFromVectorIndex]])
    val idx = vecTombs(s, indexDir).live(pins.head
      .filter(col("cell").isin(probed.map(_.toInt): _*))
      .withColumn("cell", col("cell").cast("long")))
    // per-query flattened ADC lookup table from the PINNED codebooks
    val qTab = subvectors(queries)
      .join(broadcast(cb), "j")
      .select(col("vec_id").as("query_id"),
        (col("j") * PqCodes + col("code")).as("slot"),
        aggregate(zip_with(col("sub"), col("c_sub"),
          (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("dp"))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("slot"), col("dp")))),
        x => x("dp")).as("qtab"))
    // each query ADC-scores only ITS probed cells' members
    val adc = idx.join(broadcast(qCells), "cell")
      .join(broadcast(qTab), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function(GraftFunctions.PqAdcName,
          col("qtab"), col("codes")).as("cosine"))
    val shortlist = adc.groupBy(col("query_id"))
      .agg(call_function(GraftFunctions.TopKName,
        col("cosine"), col("neighbor_id"), lit(short)).as("nbrs"))
      .select(col("query_id"), explode(col("nbrs")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"))
    // float rerank of the shortlist against the source STORE
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val store = corpus.map { c =>
      if (c.columns.contains("nrm")) c
      else c.withColumn("nrm", l2Norm(col("embedding")))
    }.getOrElse(e.filter(col("vec_id") >= NumQueries))
    val scored = store
      .withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    topkByQuery(scored)
  }

  private def vecTombs(s: SparkSession, indexDir: String): IndexTombs =
    IndexTombs(s, indexDir, "vec_id")

  /** DELETE vectors from the persisted IVF-PQ index — the vector twin
    * of [[TextAnalysis.deleteFromTextIndex]], same Lucene discipline
    * and for the same layout reason: a delete batch's vectors scatter
    * across arbitrary CELLS, so an eager rewrite would touch an
    * unbounded slice of the index per batch. The batch appends
    * vec_ids to a sibling tombstone table — O(batch) — and every
    * probe anti-joins the live set before ADC scoring, so deleted
    * vectors can never enter a shortlist. [[compactIvfPqIndex]]
    * applies the set and resets it. Unlike the text index, no scalar
    * staleness window exists: the probe's only corpus-level inputs
    * (centroids, codebooks) are pinned quantization generations that
    * deletes never shift. */
  def deleteFromVectorIndex(s: SparkSession, vecIds: DataFrame,
      indexDir: String): Unit = {
    // serves BOTH persisted vector layouts — the int8/float IVF index
    // (centroids pin) and the IVF-PQ index (centroids + codebooks) —
    // each probe anti-joins the same sibling tombstone table
    require(IndexPins(s, indexDir).pin("centroids").nonEmpty,
      s"$indexDir is not a built vector index (buildIvfIndex / " +
        "buildIvfPqIndex first)")
    IndexTombs.delete(s, vecIds, indexDir, "vec_id")
  }

  /** Apply live tombstones in ONE cell-partitioned rewrite, carrying
    * the quantization pins forward, then reset the absorbed set (LAST —
    * a crash above leaves the set live, which is safe: the anti-join
    * re-applies). Without tombstones this is a no-op
    * returning the current version: code cells binpack through the
    * generic [[graft.sources.Versioned.compactSmall]] if needed. */
  def compactIvfPqIndex(s: SparkSession, indexDir: String): Int =
    absorbVecTombs(s, indexDir)
      .getOrElse(Versioned.currentVersion(s, indexDir))

  /** The persisted IVF-PQ index, pooled per fixture dir like
    * [[cachedIvfIndex]] (s12/s13). */
  private def cachedIvfPqIndex(s: SparkSession, d: String): String =
    graft.sources.FixturePool.readOnly(s"ivfpq:$d", reclaimAtExit = true)(
      dir => buildIvfPqIndex(s, d, dir, iters = 2))

  /** The s12 gate: recall of the persisted IVF-PQ probe plus the
    * structural storage facts (code-bytes payload, float column absent
    * from the index). Floor: the IVF cell restriction and the PQ
    * shortlist compound — measured recall 0.62/0.52/0.68 at
    * sf0.001/0.01/0.1 on the near-uniform fixture (the HARD case:
    * random vectors give k-means little cluster structure, so probed
    * cells hold ~nProbe/C of each query's true neighbors; clustered
    * real embeddings do far better) — 0.35 is the composed contract
    * floor. */
  def ivfPqIndexedRecall(s: SparkSession, d: String): DataFrame = {
    val indexDir = cachedIvfPqIndex(s, d)
    val approx = ivfPqTopKIndexed(s, d, indexDir)
    val idx = Versioned.read(s, indexDir)
    val codesStored = idx.schema.fields.find(_.name == "codes")
      .exists(_.dataType.catalogString == "array<tinyint>")
    val floatAbsent = !idx.columns.contains("embedding")
    val r = annRecall(s, d, approx, 0.35).head()
    s.range(1).select(
      lit(r.getLong(0)).as("k"),
      lit(r.getLong(1)).as("n_queries"),
      lit(r.getLong(2)).as("recall_ok"),
      lit(if (codesStored) 1L else 0L).as("stored_codes"),
      lit(if (floatAbsent) 1L else 0L).as("float_absent"))
  }

  /** The s13 query: probe-only latency over the persisted IVF-PQ
    * index (build amortized by [[cachedIvfPqIndex]]) — directly
    * comparable to s10's int8-IVF probe; the PQ payload trades a
    * rerank join for 4x less index bandwidth. */
  def ivfPqIndexedProbe(s: SparkSession, d: String): DataFrame =
    ivfPqTopKIndexed(s, d, cachedIvfPqIndex(s, d))

  // —— Cross-engine export of the persisted IVF-PQ index (q51) ——

  /** Resolve the file triple a SECOND engine needs to run an ADC
    * probe from the index's bytes alone: (code-cell files of the
    * current index snapshot, centroid files of the PINNED centroid
    * version, codebook files of the PINNED codebook version) —
    * [[graft.sources.Versioned.exportSnapshot]]'s layout-portability
    * contract extended from the text index (q50) to the VECTOR index.
    * Code files live under `cell=` hive directories; that is waived
    * (`hivePartitions = true`) because the cell is derived routing
    * metadata (nearest pinned centroid) that standard hive-partition
    * reading recovers from the path — the q51 DuckDB oracle does
    * exactly that to prune its scan to the probed cells.
    *
    * Refuses, loudly, when the triple cannot be proven consistent:
    *  - the head code commit carries no `centroids=v`/`codebooks=v`
    *    pins (not a built IVF-PQ index — e.g. a raw cell-partitioned
    *    table that merely looks like codes), or
    *  - a pinned version is beyond the sibling table's head (torn
    *    maintenance) —
    * because ADC against the WRONG quantization generation silently
    * mis-ranks every candidate rather than failing. */
  def exportVectorIndex(s: SparkSession,
      indexDir: String): (Seq[String], Seq[String], Seq[String]) = {
    // layout by pin shape: codebooks present = IVF-PQ triple; absent =
    // the int8/float IVF pair (cells + centroids — the stored rows
    // carry their own q_emb/q_scale payload, so no third sibling)
    val (cells, Seq(cents, cbs)) = IndexPins(s, indexDir).export(
      IndexPins.Layout("vector", Seq("centroids", "codebooks"), "vec_id",
        build = "buildIvfIndex / buildIvfPqIndex",
        compact = "compactIvfIndex / compactIvfPqIndex", rows = "vectors"))
    (cells, cents, cbs)
  }

  /** The EMBEDDING twin of [[graft.operators.Dedup.ingestDedup]]: dedup
    * a new vector batch against the standing indexed corpus and grow
    * the index by the survivors, in one pass over one persisted
    * int8/float IVF index. Candidates come from a SemDeDup-style
    * multi-probe — each new vector scores against the members of its
    * top-[[NProbe]] centroid cells (never corpus-quadratic; the probed
    * cell set is partition-pruned like every index probe) — plus the
    * within-batch pairs where one vector's window holds the other's
    * cell (smaller id wins). A match is cosine ≥ `minCos` on the
    * index's own stored values (dequantized for the int8 layout). A
    * standing LIVE row with the SAME vec_id drops the batch row
    * UNCONDITIONALLY (identity, not cosine), so a re-ingested batch is
    * idempotent and even a drifted re-embed mistakenly sent through
    * ingest can never land a duplicate id row — re-embeds go through
    * [[upsertIntoVectorIndex]]. Live-tombstoned batch ids and zero or
    * non-finite vectors (no cosine) refuse up front. Refuses the IVF-PQ
    * layout: code bytes only ADC-approximate cosines, and near-dup
    * thresholds sit above ADC noise. Returns (vec_id, kept, dup_of —
    * null when kept); survivors are appended at the pinned centroid
    * generation before the verdict returns.
    *
    * The driver decides; only the corpus-scale member scan is a Spark
    * query. The batch and the pinned centroids collect once. Each
    * vector's cells rank on the driver by cosine (descending, as Spark
    * sorts doubles) then cell id: the top [[NProbe]] are its probe
    * window, the first its cell. Within-batch pairs compare on the
    * driver, batch-quadratic per cell. One collect unions the corpus
    * candidates (the window cells' live members joined with the
    * broadcast window rows) and the batch ids' standing rows. The
    * survivors append as a local frame, and the verdict is a local
    * frame of the collected ids, so collecting it runs no job. Driver
    * bound: the batch's vectors, C centroids, batch × [[NProbe]]
    * window rows and the candidate pairs. */
  def ingestDedupVectors(s: SparkSession, newVectors: DataFrame,
      indexDir: String, minCos: Double = 0.98): DataFrame = {
    val pins = IndexPins(s, indexDir)
    require(pins.built, s"$indexDir is not a built vector index " +
      "(buildIvfIndex first)")
    require(pins.pin("centroids").nonEmpty && pins.pin("codebooks").isEmpty,
      s"ingestDedupVectors needs the int8/float IVF layout — an " +
        "IVF-PQ index stores code bytes only, which ADC-approximate " +
        "the cosines a near-dup threshold compares")
    // the batch collects once, its norms from the kernel. One row per
    // non-null vec_id, like every other index entry point — a repeated
    // id would land duplicate index rows (the equal-id pair is never a
    // within-batch candidate), a null id matches no equality join ever
    val batch = newVectors.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm")).collect()
    val ids = batch.filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct
    require(ids.length == batch.length,
      "ingestDedupVectors needs one row per non-null vec_id — " +
        "duplicate or null ids would land duplicate index rows")
    // tombstones PINNED like every other probe input, so every read of
    // this call sees one tombstone state; a live-tombstoned id refuses
    // UP FRONT with the ingest's own message, before any probe work
    val tombs = vecTombs(s, indexDir)
    val tombClash = tombs.clash(ids.toSeq)
    require(tombClash.isEmpty,
      s"ingestDedupVectors: vec_ids ${tombClash.mkString(", ")} are " +
        s"live-tombstoned in $indexDir — compact the index (or " +
        "upsertIntoVectorIndex to re-embed them) before re-ingesting")
    def refuse(bad: Double => Boolean, what: String): Unit = {
      val hit = batch.filter(r => !r.isNullAt(2) && bad(r.getDouble(2)))
        .map(_.getLong(0))
      require(hit.isEmpty, s"ingestDedupVectors: vec_ids " +
        s"${hit.take(5).mkString(", ")} are $what")
    }
    refuse(_ == 0.0, "zero vectors — every cosine against them divides " +
      "by zero")
    refuse(n => n.isNaN || n.isInfinite, "non-finite vectors — a NaN or " +
      "infinite component makes every cosine against them NaN")
    def arr(r: Row, i: Int): ArrayData =
      if (r.isNullAt(i)) null else new GenericArrayData(r.getSeq[Any](i))
    // (id, embedding, nrm): a null embedding scores null, like the plans
    val vecs = batch.map(r => (r.getLong(0), arr(r, 1),
      if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    val cents = pins.sibling("centroids")
      .select(col("cell"), col("c_emb"), col("c_nrm")).collect()
      .map(r => (r.getLong(0), arr(r, 1), r.getDouble(2)))
    // the plans' `dot(a, b) / (nrmA * nrmB)` on the same kernel loop,
    // None where they yield null
    def cos(a: ArrayData, an: Double, b: ArrayData,
        bn: Double): Option[Double] =
      if (a == null || b == null) None else Some(VecDot.dot(a, b) / (an * bn))
    // doubles compare as Spark compares them: NaN largest, -0.0 = 0.0
    val sparkDouble: Ordering[Double] = SQLOrderingUtil.compareDoubles(_, _)
    def near(c: Option[Double]) = c.exists(sparkDouble.gteq(_, minCos))
    // cosine descending (nulls last), then the lower cell
    val byRank = Ordering.Tuple2(Ordering.Option(sparkDouble).reverse,
      Ordering.Long)
    val windows = vecs.map { case (_, e, n) =>
      cents.map { case (cell, c, cn) => (cos(c, cn, e, n), cell) }
        .sorted(byRank).take(NProbe).map(_._2)
    }
    // within-batch: the SAME probe semantics as batch-vs-corpus — one
    // side's window against the other's cell, so a cell-boundary pair
    // is seen whenever either vector's window covers the other's cell
    // (cosine is symmetric, so (least, greatest) covers both
    // directions); smaller id survives (the d06 convention, matching
    // semanticDedup's cluster-local rule)
    val inCell = vecs.indices.filter(windows(_).nonEmpty)
      .groupBy(windows(_).head)
    val batchDups = for {
      x <- vecs.indices; cell <- windows(x); y <- inCell.getOrElse(cell, Nil)
      (xi, xe, xn) = vecs(x); (yi, ye, yn) = vecs(y)
      if xi != yi && near(cos(xe, xn, ye, yn))
    } yield (math.max(xi, yi), math.min(xi, yi))
    // ONE collect of (dup_of, new_id): the window cells' live members
    // scored against the broadcast window rows, plus the batch ids'
    // standing rows — "already ingested" is an identity fact, not a
    // cosine fact, so even a drifted vector mistakenly re-sent through
    // ingest can never land a duplicate id row
    val cellsHit = windows.flatten.distinct
    require(cellsHit.forall(_.isValidInt),
      s"IVF cell id beyond Int range: ${cellsHit.max}")
    val corpusDups = if (batch.isEmpty) Array.empty[Row] else {
      val raw = tombs.live(pins.head
        .filter(col("cell").isin(cellsHit.map(_.toInt): _*)))
      val members = (if (!raw.columns.contains("q_emb")) raw
        else raw.withColumn("embedding",
            transform(col("q_emb"),
              v => (v.cast("double") * col("q_scale")).cast("float")))
          .drop("q_emb", "q_scale"))
        .select(col("vec_id").as("dup_of"), col("embedding").as("m_emb"),
          col("nrm").as("m_nrm"), col("cell").cast("long").as("cell"))
      val windowRows = for (i <- batch.indices; cell <- windows(i))
        yield Row(batch(i).get(0), batch(i).get(1), batch(i).get(2), cell)
      members.join(broadcast(Dedup.localFrame(s,
          "new_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE, cell BIGINT",
          windowRows)), Seq("cell"))
        .filter(dot(col("embedding"), col("m_emb")) /
          (col("nrm") * col("m_nrm")) >= minCos)
        .select(col("dup_of"), col("new_id"))
        .unionByName(tombs.live(pins.head
            .select(col("vec_id")).filter(col("vec_id").isin(ids: _*)))
          .select(col("vec_id").as("dup_of"), col("vec_id").as("new_id")))
        .collect()
    }
    val dropOf = (corpusDups.map(r => r.getLong(1) -> r.getLong(0)) ++
      batchDups).groupMapReduce(_._1)(_._2)(math.min)
    // every drop is a distinct batch id, so the counts decide whether
    // any vector survives. The append re-assigns cells: an int8 index
    // assigns against the dequantized floats, not the batch's own
    if (batch.length > dropOf.size)
      appendToIvfIndex(s, Dedup.localFrame(s,
        "vec_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE",
        batch.toSeq.filterNot(r => dropOf.contains(r.getLong(0)))),
        indexDir)
    Dedup.localFrame(s, "vec_id BIGINT, kept BOOLEAN NOT NULL, dup_of BIGINT",
      ids.toSeq.map(id => Row(id, !dropOf.contains(id),
        dropOf.get(id).map(Long.box).orNull)))
  }

  // —— Hybrid retrieval: BM25 + vector fusion (RRF) ——

  /** Reciprocal-rank fusion of the two retrieval modalities: the
    * text query's BM25 top-`r` and the vector query's exact-cosine
    * top-`r`, fused by rrf(d) = Σ 1/(rrfK + rank_sys(d)) — the
    * standard score-free fusion (ranks compose across incomparable
    * score scales, which is why RRF beats score mixing in practice).
    *
    * Determinism across engines is BY CONSTRUCTION: raw scores pick
    * each system's top-r SET and rank order (both gapped well above
    * float noise — measured ~1e-4 at the r boundary on this
    * fixture), but the fused score is computed from INTEGER ranks
    * only, so rrf values are bit-identical in any engine and the
    * gate hash-matches fully.
    *
    * Scale shape: the BM25 side is term-bounded (t23's plan); the
    * cosine side is one broadcast-query corpus scan reduced by the
    * bounded-heap top-k aggregate; both rank windows see only r
    * rows. At 100 TB each side probes ITS index instead (t24
    * postings buckets, s12 IVF-PQ cells) — the fusion stage is
    * unchanged, joining two r-row frames. */
  def hybridRrf(s: SparkSession, d: String,
      terms: Seq[String] = Seq("spark", "vector", "stream"),
      queryVec: Long = 0L, r: Int = 50, k: Int = 20,
      rrfK: Int = 60): DataFrame = {
    val e = emb(s, d)
    // text side: top-r BM25 over the corpus documents, ranked 1..r
    // (the window input is the r-row top list, never the corpus)
    val text = graft.operators.TextAnalysis.bm25SearchOf(
      Tables.load(s, d, "documents")
        .filter(col("doc_id") >= NumQueries), terms, r)
    val tRank = text.withColumn("t_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("t_rank").cast("long").as("t_rank"))
    // vector side: exact cosine of the query embedding against the
    // corpus, top-r via the bounded-heap aggregate, ranked 1..r
    val q = e.filter(col("vec_id") === queryVec)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.filter(col("vec_id") >= NumQueries)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        (dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    val vRank = scored.groupBy()
      .agg(call_function(GraftFunctions.TopKName,
        col("cosine"), col("doc_id"), lit(r)).as("nbrs"))
      .select(posexplode(col("nbrs")))
      .select(col("col.neighbor_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("v_rank"))
    val fused = tRank.join(vRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("t_rank"), col("v_rank"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("t_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("v_rank")), lit(0.0)))
          .as("rrf"))
    fused.orderBy(col("rrf").desc, col("doc_id")).limit(k)
      .orderBy(col("doc_id"))
  }
}
