package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Versioned

/** `llm_curation`: training-data curation and vector search. Set-up
  * generates a base corpus and base embeddings, curates the corpus and
  * builds the MinHash-LSH dedup index and the IVF index over them. Each
  * timed cycle curates a new document batch (`curatedDocs`, `redactPii`,
  * `repetitionSignalsFor`) and dedup-ingests it (`Dedup.ingestDedup`),
  * dedup-ingests a vector batch (`Similarity.ingestDedupVectors`) and runs
  * k-NN probe batches (`Similarity.ivfTopKIndexed`). Planted duplicates
  * must be caught, no dropped pair may fall below its threshold, and
  * recall@5 is computed against brute-force cosine. */
final class LlmCuration extends Workload {
  val BaseDocs = 300
  val BatchDocs = 200
  val BaseVectors = 1000
  val BatchVectors = 200
  /** Probe batches per timed cycle (after one document and one vector
    * batch). */
  val ProbesPerCycle = 7
  /** The first probes of a run plan, compile and JIT-warm the probe path;
    * they are left out of the latency. */
  val WarmProbes = 2
  val ProbeBatches = 6
  val Queries = 20
  val MinJaccard = 0.5
  val MinCosine = 0.98
  /** A probe batch whose recall@5 falls below this fails. */
  val RecallFloor = 0.8

  private var gen: CorpusGen = _
  private var docIndex, vecIndex, probeDir, batchDir = ""
  private var meter: WriteMeter = _
  /** Text of every document in the dedup index, as it was indexed. */
  private val indexed = mutable.LongMap.empty[String]
  /** Every vector in the IVF index. */
  private val vectors = mutable.LongMap.empty[Array[Float]]
  private var probes: Seq[Seq[Array[Float]]] = Nil
  private var cycles = 0
  private var batchNo = 0
  private var docsIn, docsDropped, vecsIn, vecsDropped = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var spaceAmp = Double.NaN
  private var layer = Map.empty[String, Double]

  private def indexDirs = Seq(docIndex, s"$docIndex.sigs", vecIndex,
    s"$vecIndex.centroids")

  private def readDocs(s: SparkSession, path: String) =
    s.read.schema(CorpusGen.DocSchema).json(path)

  private def readVectors(s: SparkSession, path: String) =
    s.read.schema(CorpusGen.VecSchema).json(path)

  /** The curation stage: quality gate and exact dedup, PII redaction,
    * then only documents without a repetition flag. */
  private def curate(docs: DataFrame): DataFrame = {
    val curated = TextAnalysis.curatedDocs(docs).select(col("doc_id"),
      TextAnalysis.redactPii(col("text")).as("text"))
    curated.join(TextAnalysis.repetitionSignalsFor(curated)
      .filter(col("flagged") === 0).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
  }

  def setup(run: Run, dir: String): Unit = {
    val s = run.spark
    gen = new CorpusGen(run.seed, s"$dir/input")
    docIndex = s"$dir/dedup_index"
    vecIndex = s"$dir/ivf_index"
    probeDir = s"$dir/input/probes"
    batchDir = s"$dir/input/batches"
    indexed.clear()
    vectors.clear()
    val base = gen.docs(BaseDocs)
    val clean = curate(readDocs(s, gen.writeDocs(s"$dir/input/docs.json",
      base))).persist(StorageLevel.MEMORY_AND_DISK)
    clean.collect().foreach(r => indexed(r.getLong(0)) = r.getString(1))
    run.op("Dedup.buildDedupIndex")(Dedup.buildDedupIndexOf(clean,
      docIndex))()
    clean.unpersist()
    val baseVecs = gen.vectors(BaseVectors)
    gen.kept(baseVecs)
    baseVecs.foreach(v => vectors(v.id) = v.values)
    run.op("Similarity.buildIvfIndex")(Similarity.buildIvfIndexOf(s,
      readVectors(s, gen.writeVectors(s"$dir/input/vectors.json", baseVecs))
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(
          col("embedding"))), vecIndex))()
    // probe batches: one parquet table of query vectors per batch, in the
    // layout ivfTopKIndexed reads (<dir>/embeddings.parquet, ids < Queries)
    probes = Seq.fill(ProbeBatches)(Seq.fill(Queries)(gen.member()))
    import s.implicits._
    val staged = s"$probeDir.staged"
    probes.zipWithIndex.flatMap { case (qs, b) =>
      qs.zipWithIndex.map { case (q, i) => (b, i.toLong, q.toSeq) }
    }.toDF("b", "vec_id", "embedding").repartition(col("b"))
      .write.partitionBy("b").parquet(staged)
    probes.indices.foreach { b =>
      val to = new java.io.File(s"$probeDir/p$b/embeddings.parquet")
      to.getParentFile.mkdirs()
      require(new java.io.File(s"$staged/b=$b").renameTo(to),
        s"cannot move probe batch $b into place")
    }
    Run.deleteTree(staged)
    meter = new WriteMeter(indexDirs)
    meter.baseline()
    gen.batchBytes = 0L
    cycles = 0
    docsIn = 0; docsDropped = 0; vecsIn = 0; vecsDropped = 0
    recalls.clear()
  }

  private def shingles(text: String): Set[String] =
    text.trim.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" "))
      .toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Curation output must hold exactly the plain, PII and near-duplicate
    * documents and the kept copy of each exact duplicate, with no PII. */
  private def curatedRight(batch: Seq[CorpusGen.Doc],
      out: Map[Long, String]): Boolean = {
    import CorpusGen._
    val want = batch.filter(d => d.kind == Plain || d.kind == Pii ||
      d.kind == NearDup).map(_.id).toSet
    val pii = "@example\\.com|555-[0-9]{3}-[0-9]{4}|10\\.[0-9]+\\.[0-9]+".r
    val leaks = out.filter { case (_, t) => pii.findFirstIn(t).nonEmpty }
    val kind = batch.map(d => d.id -> d.kind).toMap
    if (out.keySet != want || leaks.nonEmpty)
      System.err.println("[lakebench] curation: missing " +
        (want -- out.keySet).map(i => s"$i:${kind(i)}") + ", extra " +
        (out.keySet -- want).map(i => s"$i:${kind(i)}") + ", leaks " +
        leaks.keys)
    out.keySet == want && leaks.isEmpty
  }

  /** Planted near-duplicates dropped; every drop at or above the
    * threshold against its witness. */
  private def dedupRight(batch: Seq[CorpusGen.Doc],
      verdict: Array[Row]): Boolean = {
    val dropped = verdict.filter(!_.getBoolean(1))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // a near-duplicate is caught when the document it copies is indexed
    val planted = batch.filter(d => d.kind == CorpusGen.NearDup &&
      indexed.contains(d.of)).map(_.id)
    val missed = planted.filterNot(dropped.contains)
    val wrong = dropped.filter { case (d, of) =>
      jaccard(indexed.getOrElse(d, ""), indexed.getOrElse(of, "")) <
        MinJaccard
    }
    if (missed.nonEmpty || wrong.nonEmpty)
      System.err.println(s"[lakebench] dedup: missed $missed, wrong " +
        wrong.map { case (d, of) => s"$d->$of:" +
          jaccard(indexed.getOrElse(d, ""), indexed.getOrElse(of, "")) })
    missed.isEmpty && wrong.isEmpty
  }

  private def docCycle(run: Run): Unit = {
    val s = run.spark
    val batch = gen.docs(BatchDocs)
    batchNo += 1
    val path = gen.writeDocs(s"$batchDir/docs-$batchNo.json", batch)
    val t0 = System.nanoTime()
    val c0 = Run.cpuNanos
    val clean = run.op("TextAnalysis.curate") {
      val c = curate(readDocs(s, path)).persist(StorageLevel.MEMORY_AND_DISK)
      (c, c.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    }(c => curatedRight(batch, c._2))
    clean.foreach { case (df, texts) =>
      texts.foreach { case (id, t) => indexed(id) = t }
      run.op("Dedup.ingestDedup", "ingest")(
        Dedup.ingestDedup(s, df, docIndex, MinJaccard).collect())(v =>
        dedupRight(batch, v)).foreach { v =>
        docsIn += v.length
        docsDropped += v.count(!_.getBoolean(1))
        v.filter(!_.getBoolean(1)).foreach(r => indexed.remove(r.getLong(0)))
      }
      df.unpersist()
      run.sample("fresh", Run.secondsSince(t0))
      run.sample("cpu:fresh", (Run.cpuNanos - c0) / 1e9)
    }
    meter.poll()
  }

  private def vectorCycle(run: Run): Unit = {
    val s = run.spark
    val batch = gen.vectors(BatchVectors)
    batchNo += 1
    val path = gen.writeVectors(s"$batchDir/vectors-$batchNo.json", batch)
    val byId = batch.map(v => v.id -> v).toMap
    run.op("Similarity.ingestDedupVectors", "write")(
      Similarity.ingestDedupVectors(s, readVectors(s, path), vecIndex,
        MinCosine).collect())({ v =>
      val dropped = v.filter(!_.getBoolean(1))
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      def vec(id: Long) = byId.get(id).map(_.values).orElse(vectors.get(id))
      batch.filter(_.dup).forall(d => dropped.contains(d.id)) &&
        dropped.forall { case (id, of) =>
          (for (a <- vec(id); b <- vec(of)) yield cosine(a, b))
            .exists(_ >= MinCosine)
        }
    }).foreach { v =>
      val kept = v.filter(_.getBoolean(1)).map(r => byId(r.getLong(0)))
      kept.foreach(k => vectors(k.id) = k.values)
      gen.kept(kept.toSeq)
      vecsIn += v.length
      vecsDropped += v.count(!_.getBoolean(1))
    }
    meter.poll()
  }

  /** Exact top-5 ids of `q` by cosine over every indexed vector. */
  private def exactTop5(q: Array[Float]): Set[Long] =
    vectors.toSeq.map { case (id, v) => (cosine(q, v), id) }
      .sortBy(p => (-p._1, p._2)).take(Similarity.K).map(_._2).toSet

  private def probeCycle(run: Run, b: Int): Unit = {
    val s = run.spark
    val qs = probes(b % probes.size)
    val cat = if (b < WarmProbes) "read_first" else "read/probe"
    run.op("Similarity.ivfTopKIndexed", cat)(Similarity.ivfTopKIndexed(s,
      s"$probeDir/p${b % probes.size}", vecIndex, Queries).collect())({
      got =>
        val byQ = got.groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
        val hits = qs.indices.map(i =>
          (byQ.getOrElse(i.toLong, Set.empty) & exactTop5(qs(i))).size)
        val recall = hits.sum.toDouble / (Similarity.K * qs.size)
        recalls += recall
        recall >= RecallFloor
    })
  }


  def timed(run: Run, deadline: Long): Int = {
    while (System.nanoTime() < deadline) {
      docCycle(run)
      vectorCycle(run)
      (0 until ProbesPerCycle).foreach(p =>
        probeCycle(run, cycles * ProbesPerCycle + p))
      cycles += 1
    }
    cycles
  }

  /** ns per input row of a native kernel: best of three timings of the
    * query with the kernel minus the same query without it. */
  private def nsPerRow(rows: Long, withKernel: => Unit,
      without: => Unit): Double = {
    def best(f: => Unit) = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; System.nanoTime() - t0
    }.min
    (best(withKernel) - best(without)).toDouble / rows
  }

  def finish(run: Run): Unit = {
    val s = run.spark
    run.op("Versioned.vacuum")(indexDirs.foreach(d =>
      Versioned.vacuum(s, d)))()
    val live = indexDirs.zipWithIndex.map { case (d, i) =>
      Answers.writtenOnceBytes(Versioned.read(s, d),
        s"${run.opts.work}/live_once_$i")
    }.sum
    spaceAmp = Run.diskBytes(indexDirs).toDouble / live
    layer = Map(
      "Versioned.bytes_written" -> meter.bytes.toDouble,
      "Versioned.files_added" -> meter.dataFiles.toDouble,
      "Versioned.live_files" -> TableFiles.live(s, indexDirs).toDouble,
      "Versioned.tombstone_files" ->
        TableFiles.tombstones(indexDirs).toDouble,
      "Dedup.ingestDedup.drop_ratio" ->
        docsDropped.toDouble / math.max(1L, docsIn),
      "Similarity.ingestDedupVectors.drop_ratio" ->
        vecsDropped.toDouble / math.max(1L, vecsIn),
      "Similarity.ivfTopKIndexed.recall_at_5" -> Run.median(recalls.toSeq))
    if (run.opts.trace) {
      import s.implicits._
      val sh = indexed.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), explode(call_function(
          GraftFunctions.ShingleHashesName, trim(lower(col("text"))),
          lit(3))).as("shingle")).persist(StorageLevel.MEMORY_ONLY)
      val nSh = sh.count()
      val mh = nsPerRow(nSh,
        sh.groupBy(col("doc_id")).agg(call_function(
          GraftFunctions.MinHashBandsName, col("shingle"), lit(128),
          lit(16)).as("b")).agg(count(col("b"))).collect(),
        sh.groupBy(col("doc_id")).agg(count(col("shingle")).as("b"))
          .agg(count(col("b"))).collect())
      sh.unpersist()
      val qs = probes.head.take(16).map(_.toSeq)
      val pairs = vectors.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
        .crossJoin(qs.toDF("q")).persist(StorageLevel.MEMORY_ONLY)
      val nPairs = pairs.count()
      val vd = nsPerRow(nPairs,
        pairs.agg(sum(call_function(GraftFunctions.VecDotName,
          col("embedding"), col("q")))).collect(),
        pairs.agg(sum(size(col("embedding")) + size(col("q")))).collect())
      pairs.unpersist()
      layer ++= Map("functions.minhash_bands.ns_per_row" -> mh,
        "functions.vec_dot.ns_per_row" -> vd)
    }
  }

  def endToEnd(run: Run): Map[String, Double] = Map(
    "read_cpu_s" -> run.mixLatency("cpu:read"),
    "write_cpu_s" -> Run.mean(run.samplesOf("cpu:write")),
    "freshness_cpu_s" -> Run.median(run.samplesOf("cpu:fresh")),
    "write_amp" -> meter.bytes.toDouble / gen.batchBytes,
    "space_amp" -> spaceAmp)

  def layerExtras(run: Run): Map[String, Double] = layer
}
