package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, TextAnalysis}
import graft.sources.Tables

/** Verification gates over the native kernels whose outputs are
  * engine-local math (t08's rolling fingerprint, m06's content-defined
  * chunks): each reduces its kernel to constants an engine-independent
  * DuckDB oracle can state literally. */
object KernelGates {

  /** The t08 gate, oracle-tightened (the d07/s04 move): the winnowed
    * Karp-Rabin fingerprint is fully deterministic, so instead of a
    * rows-only check the gate reduces the expression to facts an
    * engine-independent oracle can state literally without pretending
    * DuckDB could recompute a 2^64-wrapping byte-window hash:
    *  - `golden_fp`: the fingerprint of a fixed sentence — the exact
    *    value RollingHashSpec's brute-force reference pins, stated as
    *    a literal in the oracle;
    *  - `nation_fp_agg`: sum over the SF-INDEPENDENT `nation` table
    *    of each normalized name's fingerprint mod 1e9+7 — pins the
    *    algorithm over real table data at any scale factor, as one
    *    literal constant;
    *  - `n_docs` / `n_distinct_fp_ok`: every document fingerprints
    *    (count restated by the oracle from the parquet itself) and
    *    the corpus doesn't collapse to one value. */
  def rollingFpGate(s: SparkSession, d: String): DataFrame = {
    def fp(c: Column): Column = call_function("graft_rolling_minhash",
      regexp_replace(trim(lower(c)), "\\s+", " "))
    val docs = TextAnalysis.rollingFingerprints(s, d)
      .agg(count(lit(1)).as("n_docs"),
        (countDistinct(col("rolling_fp")) > 1).cast("long")
          .as("n_distinct_fp_ok"))
    val nat = Tables.load(s, d, "nation")
      .agg(sum(pmod(fp(col("n_name")), lit(1000000007L)))
        .as("nation_fp_agg"))
    docs.join(nat)
      .withColumn("golden_fp",
        fp(lit("the quick brown fox jumps over the lazy dog")))
      .select(col("n_docs"), col("n_distinct_fp_ok"),
        col("nation_fp_agg"), col("golden_fp"))
  }

  /** The m06 gate: the CDC contract over the fixture payloads,
    * reduced to engine-independent constants (chunk hashes are
    * engine-local math the oracle cannot restate):
    *  - `lossless_ok`: every payload's chunk lengths sum back to its
    *    byte length — chunking is a partition, nothing dropped;
    *  - `bounds_ok`: no chunk exceeds avg*4 and only a payload's LAST
    *    chunk may undershoot avg/4 — the FastCDC size guards;
    *  - `resync_ok`: prefixing each payload with 7 salt bytes keeps
    *    (on average) at least half of its distinct chunk hashes —
    *    the content-defined property itself (a fixed-size chunker
    *    would share ~none);
    *  - `chunks_per_doc_ok`: the average chunk count per payload
    *    lands in a sane band for the 32-byte target. */
  def cdcChunkGate(s: SparkSession, d: String): DataFrame = {
    val avgBits = 5
    val minS = 1 << (avgBits - 2)
    val maxS = 1 << (avgBits + 2)
    def chunksOf(c: Column) = call_function(
      graft.functions.GraftFunctions.CdcChunksName, c, lit(avgBits))
    val base = Multimodal.withPayload(s, d)
      .select(col("doc_id"), col("payload"))
    val ch = base
      .select(col("doc_id"), length(col("payload")).as("n_bytes"),
        posexplode(chunksOf(col("payload"))))
      .select(col("doc_id"), col("n_bytes"), col("pos"),
        col("col.hash").as("h"), col("col.len").as("l"))
    val perDoc = ch.groupBy(col("doc_id")).agg(
      first(col("n_bytes")).as("n_bytes"),
      sum(col("l")).as("sum_len"),
      max(col("l")).as("max_len"),
      max_by(col("l"), col("pos")).as("last_len"),
      sum(when(col("l") < minS, 1L).otherwise(0L)).as("n_small"),
      count(lit(1)).as("n_chunks"))
    val docFacts = perDoc.agg(
      count(lit(1)).as("n_docs"),
      min((col("sum_len") === col("n_bytes")).cast("long"))
        .as("lossless_ok"),
      min((col("max_len") <= maxS &&
        col("n_small") - when(col("last_len") < minS, 1L).otherwise(0L)
          === 0L).cast("long")).as("bounds_ok"),
      ((avg(col("n_chunks")) >= 2) && (avg(col("n_chunks")) <= 64))
        .cast("long").as("chunks_per_doc_ok"))
    // prefix-shift resync: distinct-hash survival fraction per doc
    val salt = lit("SALT*7_".getBytes("UTF-8"))
    val origH = ch.select(col("doc_id"), col("h")).distinct()
    val shiftH = base
      .select(col("doc_id"),
        explode(chunksOf(concat(salt, col("payload")))).as("c"))
      .select(col("doc_id"), col("c.hash").as("h")).distinct()
    val resync = origH
      .join(shiftH.withColumn("hit", lit(1L)), Seq("doc_id", "h"), "left")
      .groupBy(col("doc_id"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
        count(lit(1))).as("frac"))
      .agg((avg(col("frac")) >= 0.5).cast("long").as("resync_ok"))
    docFacts.join(resync)
      .select(col("n_docs"), col("lossless_ok"), col("bounds_ok"),
        col("chunks_per_doc_ok"), col("resync_ok"))
  }
}
