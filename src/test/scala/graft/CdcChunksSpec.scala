package graft

import org.apache.spark.sql.functions._

import graft.functions.CdcChunks
import graft.operators.Multimodal

/** Content-defined chunking ([[graft.functions.CdcChunks]]): the
  * dedup-storage contract — lossless partition, size bounds, edit
  * locality — checked against independent recomputation. */
class CdcChunksSpec extends SparkSpec {

  private def chunksOf(bytes: Array[Byte],
      avgBits: Int): Seq[(Long, Int)] = {
    val arr = CdcChunks.compute(bytes, avgBits)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (r.getLong(0), r.getInt(1))
    }
  }

  private def rand(n: Int, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    val b = new Array[Byte](n)
    r.nextBytes(b)
    b
  }

  test("chunk lengths partition the input; bounds hold; empty is empty") {
    val bits = 6 // avg 64, min 16, max 256
    for (n <- Seq(1, 15, 64, 1000, 4096)) {
      val b = rand(n, seed = n)
      val cs = chunksOf(b, bits)
      assert(cs.map(_._2).sum == n, s"n=$n must partition losslessly")
      assert(cs.forall(_._2 <= 256), s"n=$n max bound")
      assert(cs.dropRight(1).forall(_._2 >= 16), s"n=$n min bound " +
        "(only the tail may undershoot)")
      // each chunk's hash is FNV-1a 64 of its own bytes — recomputed
      // here from the running offset, independent of the boundary hash
      var off = 0
      cs.foreach { case (h, l) =>
        assert(h == CdcChunks.fnv64(b, off, off + l))
        off += l
      }
    }
    assert(chunksOf(Array.emptyByteArray, bits).isEmpty)
    // deterministic: same bytes, same chunks
    val b = rand(2048, 7)
    assert(chunksOf(b, bits) == chunksOf(b, bits))
  }

  test("an insertion changes only local chunks: the edit-locality " +
      "property a fixed-size chunker lacks") {
    val bits = 6
    val a = rand(4096, seed = 42)
    val insert = rand(10, seed = 43)
    val edited = a.take(2048) ++ insert ++ a.drop(2048)
    val ca = chunksOf(a, bits).map(_._1)
    val ce = chunksOf(edited, bits).map(_._1).toSet
    // chunks resynchronize after the edit: the overwhelming majority
    // of the original chunk hashes survive verbatim
    val kept = ca.count(ce.contains)
    assert(kept.toDouble / ca.size >= 0.8,
      s"only $kept/${ca.size} chunks survived a 10-byte insertion")
    // the FIXED-SIZE contrast: shifting every boundary by 10 shares ~0
    val fixedA = a.grouped(64).map(s => CdcChunks.fnv64(s, 0, s.length)).toSeq
    val fixedE = edited.grouped(64)
      .map(s => CdcChunks.fnv64(s, 0, s.length)).toSet
    val fixedKept = fixedA.drop(32).count(fixedE.contains) // post-edit half
    assert(fixedKept < fixedA.size / 8,
      "fixed-size chunking should lose post-edit chunks (sanity contrast)")
  }

  test("payloadChunks frame and the m06 gate over the fixture") {
    val ch = Multimodal.payloadChunks(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(ch.select("doc_id").distinct().count() == docs)
    // chunk ordinals are dense per doc
    val bad = ch.groupBy("doc_id")
      .agg(max(col("chunk_idx")).as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n") - 1).count()
    assert(bad == 0)
    val row = graft.gates.KernelGates.cdcChunkGate(spark, sf).head()
    assert(row.getLong(0) == docs)
    assert((1 to 4).forall(i => row.getLong(i) == 1L), row.toString)
  }
}
