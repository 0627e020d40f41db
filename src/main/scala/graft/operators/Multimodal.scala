package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing (north-star): treat image/audio/video as
  * opaque `binary` payloads with typed metadata, and run decode /
  * feature-extraction as partition-local batch functions.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic STUB; everything around it — the binary
  * column, the metadata schema, the mapPartitions batch shape, the
  * partitioning — is real and is exactly where a JNI/codec library would
  * plug in. Payloads are derived from the `documents` fixture (text bytes
  * standing in for media bytes).
  */
object Multimodal {

  /** Attach a binary payload + mime metadata to each document. Plain
    * scan (no spread exchange): the per-row work downstream (length, md5,
    * a single byte pass) is trivial, so the repartition costs more than
    * the parallelism buys on the fixture — and a real media table scans
    * as thousands of splits and parallelizes from the file layout. */
  def withPayload(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("mime", lit("application/octet-stream"))

  /** Metadata extraction over the payload, all codegen'd builtins:
    * byte length, content digest, and STUB decoded dimensions
    * (deterministic arithmetic on n_bytes standing in for a real header
    * parse). */
  def mediaMeta(s: SparkSession, d: String): DataFrame =
    withPayload(s, d)
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        substring(md5(col("payload")), 1, 8).as("digest8"),
        // STUB decode: a real implementation parses the media header.
        (length(col("payload")).cast("long") % 640).as("width"),
        (length(col("payload")).cast("long") % 480).as("height"),
        (length(col("payload")).cast("long") % 16).as("n_frames"))
      .orderBy(col("doc_id"))

  case class MediaFeature(doc_id: Long, n_bytes: Int, mean_byte: Double,
      feature: Array[Double])

  /** Partition-local batch "decode + featurize" — the mapPartitions shape
    * a real decoder uses (amortize codec init across a partition, emit
    * fixed-width features). The decode itself is a STUB: mean byte value
    * and a 4-dim moment vector instead of pixels. */
  def extractFeatures(s: SparkSession, d: String): Dataset[MediaFeature] = {
    import s.implicits._
    withPayload(s, d)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // Real pipeline: initialize the codec ONCE here, per partition.
        it.map { case (id, bytes) =>
          val n = bytes.length
          var s1 = 0.0; var s2 = 0.0
          var i = 0
          while (i < n) {
            val v = (bytes(i) & 0xff).toDouble
            s1 += v; s2 += v * v
            i += 1
          }
          val mean = if (n > 0) s1 / n else 0.0
          val varr = if (n > 0) s2 / n - mean * mean else 0.0
          MediaFeature(id, n, mean,
            Array(mean, varr, n.toDouble, (bytes.headOption.getOrElse(0: Byte) & 0xff).toDouble))
        }
      }
  }

  case class PooledBucket(doc_id: Long, n_bytes: Int, bk: Int, m: Double)

  /** Resize analog: average-pool the payload byte stream into a fixed
    * number of buckets (byte j of n lands in bucket j*B/n) — the 1-D
    * form of image downsampling, and unlike the decode it needs no
    * codec, so the math here is REAL and oracle-checked (m04). Same
    * partition-local batch shape as [[extractFeatures]]: a real resizer
    * initializes its codec once per partition and emits fixed-width
    * output rows. Empty buckets (payload shorter than B bytes) emit no
    * row, mirroring the oracle's GROUP BY. */
  def resizePooled(s: SparkSession, d: String,
      buckets: Int = 8): Dataset[PooledBucket] = {
    import s.implicits._
    val b = buckets
    withPayload(s, d)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val n = bytes.length
        val sums = new Array[Double](b)
        val counts = new Array[Long](b)
        var j = 0
        while (j < n) {
          val bk = ((j.toLong * b) / n).toInt
          sums(bk) += (bytes(j) & 0xff).toDouble
          counts(bk) += 1
          j += 1
        }
        (0 until b).iterator.filter(counts(_) > 0)
          .map(k => PooledBucket(id, n, k, sums(k) / counts(k)))
      }
  }

  /** Frame sampling stub: emit every k-th "frame index" per media row —
    * the explode shape of a real video frame sampler. */
  def sampleFrames(s: SparkSession, d: String, everyK: Int = 4): DataFrame =
    mediaMeta(s, d)
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyK)))
          .as("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))

  // —— perceptual near-dup over payload bytes (image-dedup analog) ——

  /** 32-bit AVERAGE HASH of each payload: pool the byte stream into 32
    * buckets ([[resizePooled]]'s downsample), bit k = bucket k's mean
    * above the payload mean — aHash, the codec-free core of image
    * perceptual dedup (pHash swaps the pooling for a DCT; same
    * downstream shape). The above-mean test is INTEGER cross-
    * multiplication (`sum_k * total_count > total_sum * count_k`),
    * never a float compare — a float boundary would let two engines
    * disagree on a bit and desync the whole pair set, so the hash is
    * exact by construction (the DuckDB oracle recomputes it from the
    * same integers and matches bit-for-bit). One partition-local
    * typed pass per payload, the [[resizePooled]] batch shape — an
    * equivalent explode/agg formulation exists but materializes one
    * row per BYTE through two aggregations (measured 4x slower at
    * sf0.1); per-payload loops are exactly what the typed path is
    * for. */
  def payloadAHash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withPayload(s, d)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        // one partition-local pass, integer math only — the
        // resizePooled batch shape (a real pHash computes its DCT in
        // exactly this loop); byte j of n lands in bucket j*32/n
        val n = bytes.length
        if (n == 0) Iterator.empty
        else {
          val sums = new Array[Long](32)
          val counts = new Array[Long](32)
          var j = 0
          var total = 0L
          while (j < n) {
            val bk = ((j.toLong * 32) / n).toInt
            val v = (bytes(j) & 0xff).toLong
            sums(bk) += v
            counts(bk) += 1
            total += v
            j += 1
          }
          var h = 0L
          var k = 0
          while (k < 32) {
            // integer cross-multiplication: bucket mean > payload mean
            if (counts(k) > 0 && sums(k) * n > total * counts(k))
              h |= 1L << k
            k += 1
          }
          Iterator.single((id, h))
        }
      }
      .toDF("doc_id", "ahash")
  }

  /** Near-duplicate payload pairs by aHash hamming distance <=
    * `maxDist`, candidates via NIBBLE BANDING: two hashes within
    * hamming d differ in at most d of the 8 4-bit bands, so with
    * d < 8 every true pair shares at least one exact band — the
    * pigeonhole guarantee ([[graft.operators.Dedup]] uses the same
    * move on 64-bit SimHash). Four-bit bands are collision-heavy at
    * fixture scale (candidates approach all-pairs); at production
    * scale the hash widens (64-bit aHash / DCT pHash) and bands widen
    * with it, tightening candidates without changing this plan. */
  def ahashNearDup(s: SparkSession, d: String,
      maxDist: Int = 5): DataFrame = {
    require(maxDist < 8, "nibble banding guarantees recall only for " +
      s"hamming < 8, got $maxDist")
    val h = payloadAHash(s, d)
    val banded = h.select(col("doc_id"), col("ahash"),
      explode(sequence(lit(0), lit(7))).as("j"))
      .select(col("doc_id"), col("ahash"), col("j"),
        expr("shiftright(ahash, 4 * j) & 15").as("bv"))
    val a = banded.select(col("j"), col("bv"),
      col("doc_id").as("a_id"), col("ahash").as("h_a"))
    val bb = banded.select(col("j"), col("bv"),
      col("doc_id").as("b_id"), col("ahash").as("h_b"))
    // distance-filter BEFORE the dedup: a pair surfaces once per
    // shared band (up to 8 copies), and the collision-heavy candidate
    // set must not shuffle through distinct() only to be dropped by
    // the hamming test afterwards
    a.join(bb, Seq("j", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("cast(bit_count(h_a ^ h_b) as bigint)").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  // —— content-defined chunking (binary dedup primitive) ——

  /** Content-defined chunk table of the payload column: one row per
    * (doc, chunk ordinal) with the chunk's FNV content hash and
    * length, split by the gear-hash boundaries of
    * [[graft.functions.CdcChunks]]. The binary-payload analog of text
    * shingling: chunk-hash grouping finds duplicated content ACROSS
    * payloads with no alignment search, because an insertion or
    * prefix shift moves boundaries only locally (~64 bytes + a
    * min-chunk) before they resynchronize. At 100 TB this table is
    * the dedup index you persist, partitioned or bucketed by
    * chunk_hash. */
  def payloadChunks(s: SparkSession, d: String,
      avgBits: Int = 5): DataFrame =
    withPayload(s, d)
      .select(col("doc_id"), posexplode(call_function(
        graft.functions.GraftFunctions.CdcChunksName,
        col("payload"), lit(avgBits))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.hash").as("chunk_hash"),
        col("col.len").cast("long").as("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Chunk-overlap near-duplicate pairs: payloads sharing a high
    * fraction of distinct chunk hashes (containment = shared /
    * min(|A|, |B|)) — binary near-dup dedup through the CDC index,
    * no alignment search, no decode. Chunk hashes whose posting list
    * exceeds `maxDocFreq` payloads are dropped first (stop-chunk
    * removal, the boilerplate guard that keeps the inverted-index
    * self-join out of the quadratic regime — the same discipline as
    * the shingle path's LSH). */
  def chunkNearDupOf(chunks: DataFrame, minContain: Double = 0.5,
      maxDocFreq: Int = 50): DataFrame = {
    val ch = chunks.select(col("doc_id"), col("chunk_hash")).distinct()
    val rare = ch.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select(col("chunk_hash"))
    val posting = ch.join(rare, "chunk_hash")
    val sizes = ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = posting.select(col("chunk_hash"), col("doc_id").as("a_id"))
      .join(posting.select(col("chunk_hash"), col("doc_id").as("b_id")),
        "chunk_hash")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "nb"), "b_id")
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= minContain)
      .select(col("a_id"), col("b_id"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The m07 gate: chunk-overlap near-dup, judged against the exact
    * text-level shingle-Jaccard pairs (d01) — recall of the byte-level
    * path against the token-level truth, reduced to constants. High
    * recall is expected (near-dup TEXTS are near-dup BYTE STREAMS);
    * precision is reported as a fact, not forced to 1 (byte-level
    * containment legitimately surfaces prefix/suffix containments the
    * symmetric Jaccard threshold misses). */
  def chunkNearDupRecall(s: SparkSession, d: String): DataFrame = {
    val got = chunkNearDupOf(payloadChunks(s, d))
      .select(col("a_id"), col("b_id"))
    val truth = graft.operators.Dedup.shingleJaccard(s, d)
      .select(col("a_id"), col("b_id"))
    val hit = truth.join(got.withColumn("f", lit(1L)),
      Seq("a_id", "b_id"), "left")
    hit.agg(
      count(lit(1)).as("n_truth"),
      (sum(coalesce(col("f"), lit(0L))).cast("double") /
        count(lit(1))).as("recall"))
      .select(col("n_truth"),
        (col("recall") >= 0.8).cast("long").as("recall_ok"))
  }
}
