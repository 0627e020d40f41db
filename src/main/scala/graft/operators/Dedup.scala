package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.sources.Tables
import graft.functions.{GraftFunctions, VectorFunctions}

/** Near-duplicate detection over the `documents` / `embeddings` fixtures —
  * the dedup stage of a training-data pipeline (north-star; the reference
  * has no dedup surface, SURVEY.md §7.4).
  *
  * Three text algorithms share one semantic contract — "emit pairs whose
  * 3-gram shingle Jaccard ≥ threshold" — so the MinHash-LSH and SimHash
  * paths are *candidate generators* whose candidates are verified with the
  * exact Jaccard; all three are checked against the same DuckDB oracle.
  *
  * Scale story (100 TB): the exact path self-joins the shingle inverted
  * index — quadratic in docs sharing a hot shingle, fine for verification,
  * wrong at scale. The LSH paths bound the join to per-bucket candidates:
  * MinHash banding shuffles 16 small (band, hash) keys per doc and only
  * near-identical docs collide, so the candidate set (and the exact-verify
  * join behind it) stays linear-ish in the true duplicate count.
  *
  * Perf note: every derived array (tokens, shingles, hashes) is bound to
  * its own projected column before use. Inlining `split(...)` into the
  * transform lambda re-evaluates the split per array element — O(tokens²)
  * regex work per row — and higher-order functions run interpreted, so
  * that mistake costs ~100x on real documents.
  */
object Dedup {

  // Spread: shingle hashing is per-document CPU work — the single-row-
  // group fixture scan would otherwise run it on one task.
  private def docs(s: SparkSession, d: String) =
    Tables.loadSpread(s, d, "documents")

  /** doc_id -> distinct hashed word-3-gram rows (the inverted-index
    * input); `shingle` is the int64 XXH64 of the shingle's text (exactly
    * `xxhash64(concat_ws(' ', toks))`).
    *
    * Built by the native [[graft.functions.ShingleHashes]] expression —
    * one per-document pass that tokenizes, hashes and dedups in place —
    * then a single explode of the long array. The previous declarative
    * build (posexplode tokens -> lead() window -> concat_ws ->
    * distinct) shuffled every token AND every shingle string before the
    * index existed; this plan is scan -> project -> explode with no
    * shuffle of its own (the one exchange in the plan is the deliberate
    * fixture-only [[Tables.loadSpread]] round-robin that stands in for
    * the file-split parallelism a real multi-row-group table gets for
    * free), and every downstream consumer (inverted-index join, MinHash,
    * SimHash) keys on 8-byte longs instead of strings. Jaccard set
    * semantics are preserved up to 64-bit hash collisions (~1e-7
    * corpus-wide, deterministic). */
  def shingleRows(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        explode(call_function(GraftFunctions.ShingleHashesName,
          trim(lower(col("text"))), lit(3))).as("shingle"))

  /** Exact Jaccard over candidate pairs. `candidates` (a_id < b_id)
    * restricts the work: only shingle rows of candidate docs enter the
    * inverted-index self-join, so the verify stage costs
    * O(candidate docs), not O(corpus) — this is what makes LSH+verify
    * linear-ish at scale. None means all co-occurring pairs (the exact
    * path). The shingle index is cached: three sub-plans consume it, and
    * at production scale it would be a persisted table. */
  private def jaccardPairs(sh0: DataFrame, minJ: Double,
      candidates: Option[DataFrame]): DataFrame = {
    val sh = candidates match {
      case Some(c) =>
        val candDocs = c
          .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
          .distinct()
        sh0.join(broadcast(candDocs), Seq("doc_id"), "left_semi").cache()
      case None => sh0.cache()
    }
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // SHUFFLE_HASH: the inverted-index self-join partitions on the
    // shingle hash either way; hashing one side beats sort-merge (no
    // sort of either 8-byte-key side). The per-task build map holds its
    // whole shuffle partition (near-unique keys put every build row in
    // the map), so it is bounded by shuffle-partition sizing — size
    // spark.sql.shuffle.partitions so a partition of the shingle index
    // fits executor memory, or AQE skew-split handles the hot keys.
    val common0 = sh.as("a").hint("SHUFFLE_HASH")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val common1 = candidates match {
      case Some(c) => common0.join(c.hint("broadcast"), Seq("a_id", "b_id"),
        "left_semi")
      case None => common0
    }
    val common = common1.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(counts.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Exact 3-gram shingle Jaccard near-dup pairs (threshold 0.5). */
  def shingleJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(shingleRows(s, d), 0.5, None)

  // —— MinHash + LSH ——

  val NumPerms = 128
  val Bands = 16 // 16 bands x 8 rows

  /** One row per (doc, distinct shingle hash) — shingles are already
    * int64 hashes ([[shingleRows]]), so this is a rename. */
  private def hashedRows(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("shingle").as("h"))

  /** Per-doc LSH band keys from a 128-perm MinHash signature, via the
    * native [[graft.functions.MinHashBandsAgg]] aggregate (permutation i
    * = XXH64(h, i), per-band XXH64 fold of the minima): one narrow
    * (doc_id, 16 x int64) row per doc out of a single ObjectHashAggregate
    * — replaces a 128-column declarative aggregate whose deep expression
    * trees dominated driver-side analysis and codegen size. */
  private def minhashBandRows(sh: DataFrame): DataFrame =
    hashedRows(sh)
      .groupBy(col("doc_id"))
      .agg(call_function(GraftFunctions.MinHashBandsName, col("h"),
        lit(NumPerms), lit(Bands)).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")))
      .toDF("doc_id", "band", "band_hash")

  /** LSH banding over 128 MinHash permutations: doc pairs sharing at
    * least one of the 16 band hashes become candidates; candidates are
    * then exact-verified. Emits the same (a_id, b_id, jaccard >= 0.5)
    * contract as [[shingleJaccard]] — banding at 16x8 has ~99.9% recall
    * at j >= 0.9, and the fixture's planted dups sit at j >= 0.85 with a
    * gap to 0.1, so LSH+verify reproduces the exact answer. */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRows(s, d).cache()
    // Cached: the candidate self-join scans this twice (x and y sides),
    // and it is tiny (|docs| x 2 columns).
    val banded = minhashBandRows(sh).cache()
    val cands = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    jaccardPairs(sh, 0.5, Some(cands))
  }

  // —— SimHash ——

  /** Per-doc dual 64-bit SimHash sketches (s0, s1): bit j of a sketch is
    * the majority vote of bit j across the doc's (reseeded) shingle
    * hashes, via the native [[graft.functions.SimHashAgg]] aggregate —
    * one narrow (doc_id, s0, s1) row per doc out of a single
    * ObjectHashAggregate (replaces 128 declarative ±1 sum columns, same
    * analysis/codegen rationale as [[minhashBandRows]]). Two independent
    * sketches square the miss probability of a hamming threshold (one
    * true fixture pair lands at hamming 16+ in any single sketch). */
  def simhashSketches(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      xxhash64(col("shingle"), lit(0)).as("h0"),
      xxhash64(col("shingle"), lit(1)).as("h1"))
      .groupBy(col("doc_id"))
      .agg(
        call_function(GraftFunctions.SimHashAggName, col("h0")).as("s0"),
        call_function(GraftFunctions.SimHashAggName, col("h1")).as("s1"))

  /** Hamming predicate shared by the two candidate generators: within
    * `maxHam` on EITHER sketch. */
  private def withinHamming(maxHam: Int): Column =
    bit_count(expr("x.s0 ^ y.s0")) <= maxHam ||
      bit_count(expr("x.s1 ^ y.s1")) <= maxHam

  /** Direct sketch-pair scan: broadcast the (doc_id, s0, s1) table (16
    * bytes/doc) and evaluate the hamming predicate per pair — a codegen'd
    * broadcast nested-loop join, no shuffle, no dedup (each pair tested
    * once). At this fixture's loose threshold (hamming <= 15 of 64) this
    * beats any banding scheme, whose buckets would collide on most random
    * pairs anyway (see [[simhashBandedCandidates]]). */
  def simhashScanCandidates(sk: DataFrame, maxHam: Int): DataFrame =
    sk.as("x")
      .join(broadcast(sk.as("y")),
        col("x.doc_id") < col("y.doc_id") && withinHamming(maxHam))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))

  /** Chunk-banding candidate generator — the SimHash scale path for
    * TIGHT thresholds: B = 64/chunkBits chunks per sketch; pigeonhole
    * guarantees every pair within hamming B-1 collides on some chunk, so
    * choose chunkBits = 64/(maxHam+1). Selectivity is 2^-chunkBits per
    * chunk: at web-dedup thresholds (hamming <= 3, 16-bit chunks) a
    * random pair collides with p ~ 6e-5 and the join is linear-ish; at
    * this fixture's hamming <= 15 it forces 4-bit chunks, where a random
    * pair collides on some chunk with p ~ 0.64 — the "candidates" are
    * most of the corpus, which is why [[simhashPairs]] uses the pair
    * scan instead. Loose-threshold dedup at scale belongs to MinHash-LSH
    * ([[minhashLsh]]), whose selectivity is tunable independently of the
    * threshold. */
  def simhashBandedCandidates(sk: DataFrame, chunkBits: Int,
      maxHam: Int): DataFrame = {
    require(64 % chunkBits == 0, "chunkBits must divide 64")
    require(64 / chunkBits >= maxHam + 1,
      s"banding with ${64 / chunkBits} chunks only guarantees recall to " +
        s"hamming ${64 / chunkBits - 1}, need $maxHam")
    val mask = (1L << chunkBits) - 1
    val chunkCols = (0 to 1).flatMap { k =>
      (0 until 64 / chunkBits).map(c =>
        shiftright(col(s"s$k"), c * chunkBits).bitwiseAND(mask))
    }
    val chunks = sk.select(
      col("doc_id"), col("s0"), col("s1"),
      posexplode(array(chunkCols: _*)))
      .toDF("doc_id", "s0", "s1", "chunk", "chunk_val")
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(withinHamming(maxHam))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** SimHash near-dup pairs, exact-verified to the same
    * (jaccard >= 0.5) contract as [[shingleJaccard]]: dual sketches,
    * hamming <= 15 candidates via the pair scan (the fixture's
    * jaccard>=0.5 pairs measure hamming 1-11 on at least one sketch, so
    * recall is exact), then exact Jaccard verification for precision. */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRows(s, d).cache()
    // sk cached: both sides of the pair scan consume it (the 128-agg
    // must not run twice); cands cached: two consumers in jaccardPairs.
    val sk = simhashSketches(sh).cache()
    val cands = simhashScanCandidates(sk, 15).cache()
    jaccardPairs(sh, 0.5, Some(cands))
  }

  // —— Duplicate clustering ——

  /** Connected components by iterative min-label propagation: every
    * vertex starts labeled with its own id; each round every vertex
    * takes the min of its label and its neighbors' labels; stop when no
    * label changes. Converges in O(component diameter) rounds — near-dup
    * components are near-cliques (every member pairs with most others),
    * so 1-2 rounds in practice. Each round is one shuffle join + hash
    * aggregate; at extreme scale swap in the alternating large-star/
    * small-star contraction, which bounds rounds by O(log n) regardless
    * of diameter. The driver-side loop holds no data — only the
    * convergence counter crosses to the driver. */
  /** Components over the edge-touched vertices only (vertices in no
    * pair are singletons by construction and never enter the loop).
    * Each round is ONE Spark action: the union-aggregate computes the
    * new label AND carries the previous own label, so the convergence
    * count materializes the same cached frame it checks — no separate
    * compare join. */
  /** @param retainRoundCaches keep every round's materialized label
    *   frame (storage grows with component diameter; only useful for
    *   warm replay of repeated invocations in a benchmark loop). The
    *   default drops round n-1's blocks as soon as round n's convergence
    *   count has materialized round n — storage is bounded at two round
    *   frames however many rounds the graph's diameter forces.
    *
    * Every round ends in `localCheckpoint`, not `cache`: each round
    * consumes the previous labels frame twice (own-label carry + the
    * neighbor messages), so without lineage truncation the logical plan
    * DOUBLES per round — exponential analysis cost that overwhelms the
    * driver near diameter ~10 (caching does not help; it truncates
    * execution, not the plan). The checkpoint pins the round to its
    * materialized blocks and the next round's plan starts from a
    * constant-size leaf, which is what makes high-diameter graphs (the
    * chain-graph spec) converge in O(diameter) driver work. */
  def connectedComponents(pairs: DataFrame,
      retainRoundCaches: Boolean = false): DataFrame = {
    val edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .cache()
    // First hop folded into initialization: label_0(u) = min(u, direct
    // neighbors). Near-dup components are near-cliques, so most
    // converge here and the loop below runs a single confirming round.
    var labels = edges.select(col("u"), col("v").as("label"))
      .union(edges.select(col("u"), col("u")))
      .groupBy(col("u")).agg(min(col("label")).as("label"))
      .withColumnRenamed("u", "id")
    var prev: Option[DataFrame] = None
    var changed = 1L
    while (changed > 0) {
      val msgs = edges
        .join(labels, edges("u") === labels("id"))
        .select(col("v").as("id"), col("label"),
          lit(null).cast("long").as("own"))
      // Lazy checkpoint + count = still ONE action per round: the count
      // materializes the checkpoint blocks and decides convergence in
      // the same pass. (Pointer jumping — label(label(u)) per round —
      // was measured here and REMOVED: the extra label self-join adds
      // a stage to every round, and at the per-round scheduler floor
      // that costs more than the rounds it saves; the O(log n) path
      // for chain-heavy graphs is [[connectedComponentsStar]].)
      val combined = labels
        .select(col("id"), col("label"), col("label").as("own"))
        .union(msgs)
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("own")).as("own"))
        .localCheckpoint(eager = false)
      changed = combined.filter(col("label") < col("own")).count()
      // Round n is materialized; nothing recomputes through round n-1's
      // blocks anymore, so they are safe to drop.
      if (!retainRoundCaches) prev.foreach(_.unpersist(blocking = false))
      prev = Some(combined)
      labels = combined.select(col("id"), col("label"))
    }
    labels
  }

  /** Connected components by alternating large-star/small-star
    * contraction — the O(log n)-round algorithm for graphs whose
    * diameter makes per-hop label propagation too slow (label
    * propagation is O(diameter) rounds; a 100 TB web-dedup graph can
    * chain thousands of hops). Each round:
    *  - large-star: every vertex points its LARGER neighbors at the
    *    minimum of its neighborhood (including itself);
    *  - small-star: every vertex re-points its (now all smaller)
    *    parents and itself at their minimum.
    * Both are one groupBy + join over the edge list — shuffle volume is
    * O(|edges|) per round, and the edge list only shrinks toward the
    * star forest (child -> component-min). Same lineage discipline as
    * [[connectedComponents]]: every round ends in a lazy localCheckpoint
    * and drops the previous round's blocks. Convergence = the directed
    * edge set reaches a fixed point (two bounded actions per round).
    *
    * Returns the same (id, label) contract as [[connectedComponents]]
    * (edge-touched vertices only); DedupSpec asserts the two agree on
    * chains, cliques and the fixture pairs. */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    var edges = pairs
      .select(greatest(col("a_id"), col("b_id")).as("c"),
        least(col("a_id"), col("b_id")).as("p"))
      .where(col("c") =!= col("p"))
      .distinct()
      .localCheckpoint(eager = false)
    var prev: Option[DataFrame] = None
    // CARRIED count: round n's next.count() IS round n+1's
    // edges.count() (same frame), so each round pays ONE count action,
    // not two — the initial count doubles as the seed checkpoint's
    // materialization (guide §1: actions are the unit of cost here).
    var edgeCount = edges.count()
    var changed = true
    while (changed) {
      val sym = edges.select(col("c").as("u"), col("p").as("v"))
        .union(edges.select(col("p").as("u"), col("c").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("c"), col("m").as("p"))
        .distinct()
      val reParent = large.join(
        large.groupBy(col("c")).agg(min(col("p")).as("m")), "c")
      val next = reParent.select(col("p").as("c"), col("m").as("p"))
        .union(reParent.select(col("c"), col("m").as("p")))
        .where(col("c") =!= col("p"))
        .distinct()
        .localCheckpoint(eager = false)
      // count-first convergence: the counts short-circuit (next's
      // count doubles as its checkpoint materialization; edges' count
      // is CARRIED from the previous round — no action), so the
      // two-shuffle exceptAll runs only on the final, converged
      // round. (A one-action signed-union bag-equality check measured
      // SLOWER here: it pays its full union+aggregate every round,
      // where most rounds exit on the count alone.)
      val nextCount = next.count()
      changed = nextCount != edgeCount ||
        next.exceptAll(edges).count() > 0
      edgeCount = nextCount
      prev.foreach(_.unpersist(blocking = false))
      prev = Some(edges)
      edges = next
    }
    edges.select(col("c").as("id"), col("p").as("label"))
      .union(edges.select(col("p"), col("p")).distinct()
        .toDF("id", "label"))
  }

  /** Duplicate-cluster assignment — the pipeline step after pair
    * detection: every document mapped to its cluster's canonical (min)
    * doc_id, singletons to themselves. Pairs come from the MinHash-LSH
    * scale path (spec-equal to the exact pairs on this corpus); the
    * oracle recomputes components as a recursive-CTE transitive closure
    * over the exact pairs. */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    // Star contraction, not per-hop label propagation: the corpus's
    // duplicate graph carries chains (near-dup versions of a document
    // each close to its neighbors), and propagation pays one
    // full-scheduler round PER HOP of diameter where contraction pays
    // O(log n) rounds total — measured 2.2 s vs 3.1 s on the fixture,
    // and the gap grows with chain depth at scale.
    val cc = connectedComponentsStar(
      minhashLsh(s, d).select(col("a_id"), col("b_id")))
    // No broadcast hint: cc holds every edge-touched doc, and at
    // web-scale duplicate rates (30-50% of corpus) that is a large
    // fraction of the table — let AQE pick broadcast only when the
    // runtime size is actually under the threshold.
    docs(s, d).select(col("doc_id"))
      .join(cc, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // —— Embedding near-dup ——

  /** Cosine near-dup pairs over embeddings (threshold 0.45, above the
    * fixture's random-pair band). Brute-force all-pairs with precomputed
    * norms and the codegen'd [[graft.functions.VecDot]] kernel — the
    * verification path; the ANN module's IVF bucketing is the scale
    * path. */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    // Spread the stream side (single-row-group fixture scan = one task
    // otherwise); the broadcast side needs no spread. The cheap id
    // conjunct is written FIRST so codegen short-circuits before the
    // 64-dim dot on the excluded half of the pair matrix; the surviving
    // pairs (few) recompute the dot once in the output projection.
    val e = Tables.loadSpread(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.l2Norm(col("embedding")).as("nrm"))
    e.as("a")
      .join(e.as("b"),
        col("a.vec_id") < col("b.vec_id") &&
          VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")) >= 0.45)
      .select(
        col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** LSH-bucketed embedding near-dup — the scale path for
    * [[embeddingNearDup]]: candidate pairs are vectors sharing a
    * (table, signature) bucket in any of 8 random-hyperplane tables
    * (6 sign-bits each, via the codegen'd graft_vec_dot), then
    * exact-cosine-verified at the same threshold. Join volume is
    * per-bucket quadratic instead of corpus-quadratic; recall is
    * probabilistic (spec-measured vs the exact pairs), tunable by
    * table count. */
  /** Driver-checkable quality contract of [[embeddingNearDupLsh]]: its
    * pairs are a subset of the exact pairs (the cosine filter runs on
    * exact dots, so precision is 1 by construction) and recall clears
    * the DedupSpec floor. Reduced to one row of constants so the DuckDB
    * oracle can assert it literally — the approximate query itself keeps
    * its rows-only check. */
  def embeddingLshQuality(s: SparkSession, d: String): DataFrame = {
    val exact = embeddingNearDup(s, d).select(col("a_id"), col("b_id"))
      .withColumn("in_exact", lit(1L))
    val lsh = embeddingNearDupLsh(s, d).select(col("a_id"), col("b_id"))
      .withColumn("in_lsh", lit(1L))
    exact.join(lsh, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(when(col("in_lsh").isNotNull && col("in_exact").isNull, 1L)
          .otherwise(0L)).as("false_pos"),
        (sum(when(col("in_lsh").isNotNull && col("in_exact").isNotNull, 1L)
          .otherwise(0L)).cast("double") /
          sum(when(col("in_exact").isNotNull, 1L).otherwise(0L)))
          .as("recall"))
      .select((col("false_pos") === 0).cast("long").as("precision_ok"),
        (col("recall") >= 0.2).cast("long").as("recall_ok"))
  }

  def embeddingNearDupLsh(s: SparkSession, d: String,
      threshold: Double = 0.45): DataFrame = {
    val dim = 64
    val tables = 8
    val bits = 6
    val planes: Array[Array[Float]] = {
      val r = new java.util.Random(11)
      Array.fill(tables * bits)(Array.fill(dim)(r.nextGaussian().toFloat))
    }
    def signature(t: Int): Column =
      (0 until bits).map { i =>
        when(VectorFunctions.dot(col("embedding"),
          typedlit(planes(t * bits + i).toSeq)) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)

    val e = Tables.loadSpread(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.l2Norm(col("embedding")).as("nrm"))
    // Cached: the candidate self-join scans this twice (both sides)
    val bucketed = e.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(array((0 until tables).map(signature): _*)))
      .toDF("vec_id", "embedding", "nrm", "table", "sig")
      .cache()
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.table") === col("b.table") &&
          col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
      .orderBy(col("a_id"), col("b_id"))
  }

  // —— Semantic dedup (SemDeDup) ——

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embedding corpus (the ANN module's spherical
    * Lloyd trainer, 2 iterations over 16 seed cells), then mark every
    * vector that shares a probed cell with a SMALLER-id vector at
    * cosine ≥ `threshold` as a duplicate (each vector probes its top-3
    * cells — multi-probe SemDeDup). Output: one row per vector —
    * (vec_id, cluster, kept), `cluster` the primary (top-1) cell.
    *
    * Scale story: the pairwise comparison is per-CLUSTER quadratic,
    * never corpus-quadratic — the cluster count is the knob (SemDeDup
    * runs ~100 K clusters on web-scale corpora, so each cluster's
    * all-pairs block stays a few thousand rows; here 16 cells cover the
    * 600-vector fixture at the same ratio). The cluster self-join
    * shuffles on `cell`, so each block compares co-located; the keep
    * rule ("drop iff a smaller-id mate exists") is a semi-join, not a
    * per-cluster sequential pass, and the min-id survivor per duplicate
    * group is deterministic.
    *
    * Approximate by design — a near-dup pair that k-means splits across
    * clusters is missed; [[semanticDedupQuality]] (d09) reduces the
    * precision/recall contract vs the exact-cosine pairs to
    * oracle-checkable constants, so this query itself keeps a rows-only
    * driver check (the d05/d07 precedent).
    *
    * Cache contract (the module convention — see [[jaccardPairs]]):
    * the centroid and assignment frames are `.cache()`d for the
    * multi-consumer plan and released by the caller's
    * `spark.catalog.clearCache()` (both harnesses clear per query);
    * at production scale they would be persisted tables. */
  def semanticDedup(s: SparkSession, d: String,
      threshold: Double = 0.45): DataFrame = {
    val e = Tables.loadSpread(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.l2Norm(col("embedding")).as("nrm"))
    // Seeds: the first C vectors by id — deterministic, same convention
    // as the ANN index build; Lloyd moves them to the data's modes.
    val seeds = e.filter(col("vec_id") < Similarity.Centroids)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val cents = Similarity.kmeansRefine(e, seeds, iters = 2).cache()
    // Cached: the keep-assignment join reads it after the probe rows do.
    val assigned = Similarity.assignCells(e, cents)
      .select(col("vec_id"), col("cell"))
      .cache()
    // Candidate generation probes each vector's TOP-3 cells, not just
    // the winner — the fixture's near-dups sit at cosine ≈ 0.5 (weakly
    // separated), so single-cell SemDeDup misses every pair k-means
    // splits at a boundary (measured recall 0.14-0.43); with both sides
    // probing 3 of the 16 cells a pair is missed only when the probe
    // SETS are disjoint (measured 0.87-1.0 across SFs). The top-3
    // reduction is the same bounded-heap aggregate the ANN module
    // shuffles — 3 entries per vector, map-side combined — and the
    // probe rows re-attach embeddings with one equi-join on vec_id, so
    // candidate volume is 3x per side within shared cells, never
    // corpus-quadratic.
    val top2 = e.join(broadcast(cents))
      .select(col("vec_id"),
        (VectorFunctions.dot(col("c_emb"), col("embedding")) /
          (col("c_nrm") * col("nrm"))).cast("double").as("c_cos"),
        col("cell").cast("long").as("cell"))
      .groupBy(col("vec_id"))
      .agg(call_function(GraftFunctions.TopKName,
        col("c_cos"), col("cell"), lit(3)).as("cells"))
    val probed = top2
      .select(col("vec_id"), explode(col("cells")).as("pc"))
      .select(col("vec_id"), col("pc.neighbor_id").as("cell"))
      .join(e, Seq("vec_id"))
    // Cheap conjuncts (cell equality, id order) precede the 64-dim dot,
    // so codegen short-circuits the excluded half of each block.
    val dupIds = probed.as("a")
      .join(probed.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id") &&
          VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
      .withColumn("dup", lit(1L))
    assigned.join(dupIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").as("cluster"),
        col("dup").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Driver-checkable quality contract of [[semanticDedup]] (the d07
    * pattern): precision is 1 by construction — a dropped vector has a
    * smaller-id cluster-mate at cosine ≥ threshold, which IS an exact
    * near-dup pair, so every dropped id also loses under the exact
    * global rule — and recall (dropped ∩ exact-droppable / exact-
    * droppable) clears the floor the DedupSpec measures. Reduced to one
    * row of constants for the DuckDB oracle. */
  def semanticDedupQuality(s: SparkSession, d: String): DataFrame = {
    val sem = semanticDedup(s, d).filter(!col("kept"))
      .select(col("vec_id")).withColumn("in_sem", lit(1L))
    // The exact global rule's droppable set: ids with a smaller-id
    // near-dup partner anywhere in the corpus (cluster-free).
    val exact = embeddingNearDup(s, d)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("in_exact", lit(1L))
    exact.join(sem, Seq("vec_id"), "full_outer")
      .agg(
        sum(when(col("in_sem").isNotNull && col("in_exact").isNull, 1L)
          .otherwise(0L)).as("false_pos"),
        (sum(when(col("in_sem").isNotNull && col("in_exact").isNotNull, 1L)
          .otherwise(0L)).cast("double") /
          sum(when(col("in_exact").isNotNull, 1L).otherwise(0L)))
          .as("recall"))
      .select((col("false_pos") === 0).cast("long").as("precision_ok"),
        (col("recall") >= 0.7).cast("long").as("recall_ok"))
  }

  // —— persisted MinHash-LSH DEDUP INDEX: incremental corpus dedup ——
  // The standing corpus's LSH band keys and full MinHash SIGNATURES
  // persist as Versioned tables, so deduping a NEW batch (the daily
  // crawl) against an N-doc corpus costs O(batch + matched band
  // buckets) — the corpus is never re-shingled, re-hashed, or even
  // re-read beyond the candidates' own signature rows. This is the
  // dedup sibling of the persisted text/vector indexes, and the shape
  // every production pipeline converges on: signatures are the stored
  // sketch, estimated Jaccard (matching minima / perms) is the verify,
  // exact on the stored sketch and within ~1/sqrt(perms) of true
  // Jaccard: the estimate is a mean of 128 Bernoulli(J) indicators,
  // σ ≤ 0.5/√128 ≈ 0.044, so the fixture's 0.9-vs-0.1 gap leaves a
  // ≥ 9σ margin (0.4 to the 0.5 threshold from either side).

  import graft.sources.Versioned

  /** Every dedup-index entry point refuses duplicate (or null) batch
    * doc_ids up front: [[dedupSketchOf]] groups by doc_id, so two
    * batch rows sharing an id would silently merge into one CHIMERA
    * sketch — minima over the union of both documents' shingles,
    * matching neither — and corrupt the stored sketch permanently. */
  private[graft] def requireOneRowPerDoc(docsDf: DataFrame,
      what: String): Unit = {
    val pre = docsDf.agg(count(lit(1)), count(col("doc_id")),
      count_distinct(col("doc_id"))).head()
    require(pre.getLong(0) == pre.getLong(1) &&
      pre.getLong(1) == pre.getLong(2), oneRowPerDoc(what))
  }

  private def oneRowPerDoc(what: String): String =
    s"$what needs one row per non-null doc_id — duplicate or null " +
      "ids would merge two documents into one sketch"

  private[operators] def localFrame(s: SparkSession, ddl: String,
      rows: Seq[Row]): DataFrame =
    s.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** One narrow row per doc with BOTH outputs of one aggregation pass:
    * the 16 folded band keys (candidate generation) and the raw
    * 128-minima signature (verification) — same shuffle, two sketches. */
  private[graft] def dedupSketchOf(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
      explode(call_function(GraftFunctions.ShingleHashesName,
        trim(lower(col("text"))), lit(3))).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        call_function(GraftFunctions.MinHashBandsName, col("shingle"),
          lit(NumPerms), lit(Bands)).as("bands"),
        call_function(GraftFunctions.MinHashBandsName, col("shingle"),
          lit(NumPerms), lit(0)).as("sig"))

  private def bandRowsOf(sketch: DataFrame): DataFrame =
    sketch.select(col("doc_id"), posexplode(col("bands")))
      .toDF("doc_id", "band", "band_hash")

  /** Build the index over a corpus frame: a band-partitioned
    * (doc_id, band, band_hash) table whose commit note pins the
    * sibling signature table's version — the text/vector indexes'
    * pin discipline, so a probe never pairs new bands with old
    * signatures. doc_id stats on both tables prune later point reads
    * and group merges. */
  def buildDedupIndexOf(docsDf: DataFrame, indexDir: String): Unit = {
    val s = docsDf.sparkSession
    requireOneRowPerDoc(docsDf, "buildDedupIndex")
    val sketch = dedupSketchOf(docsDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try publishSketch(sketch, IndexPins(s, indexDir), fresh = true)
    finally sketch.unpersist(blocking = false)
  }

  def buildDedupIndex(s: SparkSession, d: String, indexDir: String): Unit =
    buildDedupIndexOf(docs(s, d), indexDir)

  private def dedupTombs(s: SparkSession, indexDir: String): IndexTombs =
    IndexTombs(s, indexDir, "doc_id")

  /** DELETE documents from the dedup index — the takedown path
    * (license revocation, PII purge): without it a removed document
    * keeps matching and evicting every future crawl batch. Same
    * Lucene tombstone discipline as the text/vector indexes
    * ([[graft.operators.TextAnalysis.deleteFromTextIndex]],
    * [[Similarity.deleteFromVectorIndex]]) and for the same layout
    * reason: a doc's band rows scatter across ALL band partitions
    * (one row per band by construction), so an eager rewrite would
    * touch the whole band table per batch. The batch appends doc_ids
    * to a sibling tombstone table — O(batch) — and every probe
    * anti-joins the live set before candidate generation, so a
    * deleted document can never evict a new one. Ids absent from the
    * index tombstone harmlessly (idempotent re-delete included).
    * [[compactDedupIndex]] applies the set and resets it; until then
    * re-ingesting a tombstoned id refuses (its band/sig rows still
    * stand on disk, and the compaction anti-join would kill the new
    * rows along with the old). */
  def deleteFromDedupIndex(s: SparkSession, docIds: DataFrame,
      indexDir: String): Unit = {
    require(Versioned.currentVersion(s, indexDir) > 0,
      s"$indexDir is not a built dedup index (buildDedupIndex first)")
    IndexTombs.delete(s, docIds, indexDir, "doc_id")
  }

  /** O(delta) maintenance: the new docs' band rows append (only their
    * band-partition files are written) and their signatures append to
    * the sibling, which publishes FIRST so the band commit re-pins the
    * consistent pair. Ids already indexed refuse loudly — an append
    * would double their band rows and make them candidates of
    * themselves; re-index by rebuild (or dedup the batch first). */
  def appendToDedupIndex(s: SparkSession, newDocs: DataFrame,
      indexDir: String): Unit = {
    val pins = IndexPins(s, indexDir)
    require(pins.built,
      s"$indexDir is not a built dedup index (buildDedupIndex first)")
    requireOneRowPerDoc(newDocs, "appendToDedupIndex")
    requireNoLiveTombs(dedupTombs(s, indexDir).clash(newDocs), indexDir,
      "appendToDedupIndex")
    val clash = pins.sibling("sigs")
      .join(newDocs.select(col("doc_id")).distinct(), Seq("doc_id"),
        "left_semi").limit(5).collect().map(_.getLong(0))
    require(clash.isEmpty,
      s"appendToDedupIndex: doc_ids ${clash.mkString(", ")} are " +
        s"already indexed in $indexDir — an append would duplicate " +
        "their band rows; rebuild to re-index")
    val sketch = dedupSketchOf(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try publishSketch(sketch, pins)
    finally sketch.unpersist(blocking = false)
  }

  /** The one index-pair publish of a sketch (`fresh` commits, else
    * appends): signatures FIRST, then the band rows (one file per band
    * partition) with a note pinning that sigs version. */
  private def publishSketch(sketch: DataFrame, pins: IndexPins,
      fresh: Boolean = false): Int = {
    val write: (DataFrame, String, Option[String], Option[String]) => Int =
      if (fresh) Versioned.commit(_, _, _, _, Seq("doc_id"))
      else Versioned.append(_, _, _, _, Seq("doc_id"))
    pins.publish("sigs" ->
      (write(sketch.select(col("doc_id"), col("sig")), _, None, None)))(
      write(bandRowsOf(sketch), pins.dir, Some("band"), _))
  }

  /** A batch id with a LIVE tombstone refuses up front with its own
    * message: its band/sig rows still stand on disk, so an append
    * would duplicate them and the next compaction's anti-join would
    * kill the new rows along with the old. */
  private def requireNoLiveTombs(tombClash: Array[Long], indexDir: String,
      what: String): Unit =
    require(tombClash.isEmpty,
      s"$what: doc_ids ${tombClash.mkString(", ")} are " +
        s"live-tombstoned in $indexDir — compactDedupIndex first to " +
        "apply the deletes, then re-ingest")

  /** Dedup a NEW batch against the standing indexed corpus: the
    * batch's band keys join the index's (the LSH candidate step — a
    * shuffle-hash join on 8-byte keys, never all-pairs), candidate
    * corpus signatures point-read from the pinned sibling, and each
    * candidate pair verifies by ESTIMATED Jaccard (matching minima /
    * perms — exact on the stored sketch). Returns
    * (dup_of = corpus doc, new_id, est_jaccard >= minJ). Within-batch
    * duplicates are out of scope by design — that is the ordinary
    * [[minhashLsh]] run over the batch alone. */
  def dedupAgainstIndex(s: SparkSession, newDocs: DataFrame,
      indexDir: String, minJ: Double = 0.5): DataFrame = {
    requireOneRowPerDoc(newDocs, "dedupAgainstIndex")
    // deliberately NOT persisted: the probe is a lazy plan the caller
    // evaluates (a persist here would leak past the call — nothing in
    // this function runs an action); the sketch's two consumers share
    // one identical aggregation subtree, which exchange reuse dedups
    dedupProbeOf(s, dedupSketchOf(newDocs), indexDir, minJ)
  }

  /** [[dedupAgainstIndex]] from an ALREADY-SKETCHED batch — the seam
    * for callers probing the same batch against an EVOLVING index
    * (the d11 delete-lifecycle gate probes four index states): the
    * batch sketches once (persist it), each probe re-reads only the
    * index side. */
  private[graft] def dedupProbeOf(s: SparkSession, sketch: DataFrame,
      indexDir: String, minJ: Double = 0.5): DataFrame = {
    val pins = IndexPins(s, indexDir)
    require(pins.built,
      s"$indexDir is not a built dedup index (buildDedupIndex first)")
    // deleted corpus docs drop out of candidate generation HERE (the
    // tombstone anti-join broadcasts — bounded between compactions),
    // so a taken-down document never evicts a new one
    val cands = bandRowsOf(sketch).as("x")
      .join(dedupTombs(s, indexDir).live(pins.head).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(col("y.doc_id").as("dup_of"),
        col("x.doc_id").as("new_id"))
      .distinct()
    // candidates' corpus signatures only — a broadcast semi-join over
    // the pinned sibling (candidate sets are batch-scale; at corpus
    // scale the sigs table's doc_id stats prune the read further)
    val corpusSigs = pins.sibling("sigs")
      .join(cands.select(col("dup_of").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("dup_of"), col("sig").as("a_sig"))
    cands
      .join(corpusSigs, Seq("dup_of"))
      .join(sketch.select(col("doc_id").as("new_id"),
        col("sig").as("b_sig")), Seq("new_id"))
      .select(col("dup_of"), col("new_id"),
        (aggregate(zip_with(col("a_sig"), col("b_sig"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") /
          NumPerms.toDouble).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJ)
  }

  /** The crawl-ingest loop in ONE pass: dedup `newDocs` against the
    * index, then grow the index by the batch's SURVIVORS — each new
    * doc that matched a standing corpus doc (est. Jaccard ≥ `minJ`)
    * is dropped, everything else is appended. The batch is sketched
    * ONCE (the probe and the append share the cached sketch — calling
    * [[dedupAgainstIndex]] then [[appendToDedupIndex]] would sketch
    * twice and refuse nothing), and within-batch duplicates also
    * collapse: among batch docs sharing a band bucket, the smaller id
    * survives (the d06 min-id convention), so the index never ingests
    * two copies in the same batch. Returns (doc_id, kept, dup_of) —
    * dup_of is the standing-corpus or smaller-id batch doc that
    * evicted it (null when kept; a doc with no shingles has no sketch,
    * so it is kept and not appended).
    *
    * The driver verifies: the batch ids and band keys collect; one
    * index scan joined with the broadcast keys gives the corpus
    * candidates, bucket groups of the keys the within-batch ones; one
    * read of the pinned signatures ∪ the sketch, semi-joined on the
    * candidate (by default also the batch) ids, feeds the compare.
    * Driver bound: 8 B per batch id, 16 band keys per batch doc, the
    * candidate pairs and the candidates' signatures.
    *
    * `allowReingest = true` makes a crash-retry idempotent (the
    * vector loop's semantics, [[Similarity.ingestDedupVectors]]):
    * batch ids already live in the index are KEPT BY IDENTITY —
    * reported (kept = true, dup_of = null), never re-sketched, never
    * re-appended — identity wins over any content comparison, so a
    * drifted re-crawl of an indexed id cannot land a second sketch
    * (re-index via [[deleteFromDedupIndex]] + compact + re-ingest).
    * A replayed batch therefore returns the identical verdict frame
    * and appends nothing: first-run survivors are now kept-by-
    * identity (they were kept), and first-run drops re-match their
    * witnesses (corpus witnesses are still live; batch witnesses
    * either survived into the corpus or re-enter the within-batch
    * candidate step). The default (false) refuses the overlap loudly
    * — the right behavior when batch ids are supposed to be fresh. */
  def ingestDedup(s: SparkSession, newDocs: DataFrame,
      indexDir: String, minJ: Double = 0.5,
      allowReingest: Boolean = false): DataFrame = {
    // the probe pins the PRE-append snapshot, so the refusals, the
    // probe and a sketch recompute all read one index state — an
    // unpinned read would see the survivors this call appends and
    // match them against themselves
    val pins = IndexPins(s, indexDir)
    require(pins.built,
      s"$indexDir is not a built dedup index (buildDedupIndex first)")
    val ids = newDocs.select(col("doc_id")).collect()
    val batchIds = ids.filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct
    require(batchIds.length == ids.length, oneRowPerDoc("ingestDedup"))
    // tombstones pinned like every other probe input (every read of
    // this call sees one state); a never-tombstoned index skips them
    val tombs = dedupTombs(s, indexDir)
    requireNoLiveTombs(tombs.clash(batchIds.toSeq), indexDir, "ingestDedup")
    val liveSigs = tombs.live(pins.sibling("sigs"))
    // under allowReingest the already-live slice skips the sketch
    // pass entirely — the standing sketch is the document's identity
    val sketch = dedupSketchOf(if (!allowReingest) newDocs
        else newDocs.join(liveSigs.select(col("doc_id")), Seq("doc_id"),
          "left_anti"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = bandRowsOf(sketch).collect()
      // (dup_of, new_id, dup_of's side: 0 index, 1 batch); a taken-
      // down doc never evicts a new one, nor a doc itself (an indexed
      // batch id refuses below); batch docs sharing a bucket pair up
      val corpusCands = if (keys.isEmpty) Array.empty[Row]
        else tombs.live(pins.head).as("y")
          .join(broadcast(localFrame(s,
              "doc_id BIGINT, band INT, band_hash BIGINT", keys)).as("x"),
            col("x.band") === col("y.band") &&
              col("x.band_hash") === col("y.band_hash") &&
              col("x.doc_id") =!= col("y.doc_id"))
          .select(col("y.doc_id"), col("x.doc_id")).distinct().collect()
      val cands = (corpusCands.map(r => (r.getLong(0), r.getLong(1), 0)) ++
        keys.groupMap(k => (k.getInt(1), k.getLong(2)))(_.getLong(0)).values
          .flatMap(_.sorted.combinations(2).map(p => (p(0), p(1), 1))))
        .toSeq.distinct
      // ONE read, tagged by side (batch ids ride on the index side by
      // default); with no candidate, no signature column is read
      val need = (cands.flatMap { case (a, b, side) =>
          Seq(Row(a, side), Row(b, 1)) } ++
        (if (allowReingest) Nil else batchIds.toSeq.map(Row(_, 0)))).distinct
      val fetched = if (need.isEmpty) Array.empty[Row]
        else liveSigs.select(col("doc_id"), lit(0).as("side"), col("sig"))
          .unionByName(sketch.select(col("doc_id"), lit(1).as("side"),
            col("sig")))
          .join(broadcast(localFrame(s, "doc_id BIGINT, side INT", need)),
            Seq("doc_id", "side"), "left_semi")
          .select(col("doc_id"), col("side"),
            (if (cands.isEmpty) lit(null) else col("sig")).as("sig"))
          .collect()
      val clash = fetched.filter(r => !allowReingest && r.getInt(1) == 0)
        .map(_.getLong(0)).intersect(batchIds).sorted.take(5)
      require(clash.isEmpty,
        s"ingestDedup: doc_ids ${clash.mkString(", ")} are already " +
          s"indexed in $indexDir — the batch (or part of it) was " +
          "already ingested; retry with allowReingest = true to " +
          "treat them as kept-by-identity, or filter the overlap " +
          s"out (an anti-join on `${pins.siblingDir("sigs")}`)")
      // estimated Jaccard = matching minima / perms; one eviction
      // witness per dropped doc: the smallest matching dup_of (a doc
      // evicted by an evicted batch doc keeps its DIRECT witness — the
      // pair-level contract, same as d06)
      val sigOf = fetched.map(r =>
        (r.getLong(0), r.getInt(1)) -> r.getSeq[Long](2)).toMap
      val dropOf = cands.flatMap { case (a, b, side) =>
          for (x <- sigOf.get((a, side)); y <- sigOf.get((b, 1))
            if x.lazyZip(y).count(p => p._1 == p._2).toDouble /
              NumPerms >= minJ) yield b -> a }
        .groupMapReduce(_._1)(_._2)(math.min)
      // append and verdict are two views of the local drop set; every
      // drop is a distinct sketched doc, so counts decide the append
      if (keys.map(_.getLong(0)).distinct.length > dropOf.size)
        publishSketch(sketch.join(broadcast(localFrame(s, "doc_id BIGINT",
            dropOf.keys.map(Row(_)).toSeq)), Seq("doc_id"), "left_anti"),
          pins)
      // the verdict is a local frame of the collected ids: collecting
      // it runs no job and reads no file, so it cannot drift
      localFrame(s, "doc_id BIGINT, kept BOOLEAN NOT NULL, dup_of BIGINT",
        batchIds.toSeq.map(id => Row(id, !dropOf.contains(id),
          dropOf.get(id).map(Long.box).orNull)))
    } finally sketch.unpersist(blocking = false)
  }

  /** Maintenance for a drip-fed dedup index, two jobs in one sweep:
    * live tombstones ([[deleteFromDedupIndex]]) apply first — a
    * whole-pair rewrite dropping the deleted docs' band and signature
    * rows, then a reset of the tombstone set (LAST, so a crash above
    * leaves the set live, which is safe: the probes' anti-join
    * re-applies it) — and small files binpack: each ingest appends
    * one file per band partition, so the band table packs through the
    * generic [[Versioned.compactSmall]] (layout and doc_id stats
    * preserved, the sigs pin carried forward in the note) and the
    * sigs sibling packs plainly. The tombstone apply is a full
    * rewrite BY CONSTRUCTION, not by laziness: a deleted doc holds
    * one row in every band partition, so no partition-scoped rewrite
    * exists — the same reason the delete path is a tombstone sibling
    * and not an eager CoW. */
  def compactDedupIndex(s: SparkSession, indexDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFileBytes: Long = 0L): Int = {
    val pins = IndexPins(s, indexDir)
    require(pins.built,
      s"$indexDir is not a built dedup index (buildDedupIndex first)")
    IndexTombs.absorb(s, indexDir, "doc_id") { tombs =>
      pins.publish("sigs" -> (Versioned.commit(
        tombs.live(pins.sibling("sigs")), _, statsCols = Seq("doc_id"))))(
        note => Versioned.commit(tombs.live(pins.head), indexDir,
          partitionCol = Some("band"), note = note,
          statsCols = Seq("doc_id")))
    }
    // sigs compact first, the band compact re-pins the compacted
    // version (same rows, fresh files); a band table with nothing to
    // pack gets a note-only re-pin ([[IndexPins.publish]])
    IndexPins(s, indexDir).publish("sigs" -> (Versioned.compactSmall(s, _,
      targetFileBytes, minFileBytes, statsCols = Seq("doc_id"))))(
      note => Versioned.compactSmall(s, indexDir, targetFileBytes,
        minFileBytes, statsCols = Seq("doc_id"),
        partitionCol = Some("band"), note = note))
  }

  /** Within-index near-dup pairs from the STORED sketches alone — the
    * "what duplicates already live in my corpus" audit at index cost:
    * candidate pairs come from a band self-join on the partitioned
    * bands table (partition-local on `band`, O(bucket collisions),
    * never all-pairs), verification point-reads only the candidates'
    * signature rows from the pinned sibling, and live tombstones drop
    * out before candidate generation. No document is re-read or
    * re-sketched. Returns (a_id < b_id, est_jaccard >= minJ). */
  def selfPairsInIndex(s: SparkSession, indexDir: String,
      minJ: Double = 0.5): DataFrame = {
    val pins = IndexPins(s, indexDir)
    require(pins.built,
      s"$indexDir is not a built dedup index (buildDedupIndex first)")
    val live = dedupTombs(s, indexDir).live(pins.head)
    val cands = live.as("x").join(live.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val ids = cands.select(col("a_id").as("doc_id"))
      .unionByName(cands.select(col("b_id").as("doc_id"))).distinct()
    val candSigs = pins.sibling("sigs")
      .join(ids, Seq("doc_id"), "left_semi")
    cands
      .join(candSigs.select(col("doc_id").as("a_id"),
        col("sig").as("a_sig")), Seq("a_id"))
      .join(candSigs.select(col("doc_id").as("b_id"),
        col("sig").as("b_sig")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (aggregate(zip_with(col("a_sig"), col("b_sig"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") /
          NumPerms.toDouble).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJ)
  }

  /** CROSS-ENGINE dedup-index export — the fourth member of the
    * export family (text q50, IVF-PQ q51, int8-IVF q56): the band
    * table's live files (hive `band=` partitions preserved — the
    * candidate-routing metadata) plus the PINNED signature files,
    * from which a second engine re-runs the whole near-dup probe —
    * band equi-join for candidates, matching-minima / perms for the
    * estimate — with no access to the corpus or to Spark. Refusals
    * mirror the family's: an unpinned bands table is not an index,
    * a torn pin is broken maintenance, and live tombstones would
    * resurrect taken-down documents in a raw-file read (compact
    * first). Returns (bands files, sigs files). */
  def exportDedupIndex(s: SparkSession,
      indexDir: String): (Seq[String], Seq[String]) = {
    val (bands, Seq(sigs)) = IndexPins(s, indexDir).export(IndexPins.Layout(
      "dedup", Seq("sigs"), "doc_id", build = "buildDedupIndex",
      compact = "compactDedupIndex", rows = "documents"))
    (bands, sigs)
  }
}
