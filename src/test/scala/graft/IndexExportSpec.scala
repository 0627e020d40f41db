package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Versioned

/** The pinned export of every persisted index layout, table-driven:
  * an unpinned head, a torn pin and live tombstones each refuse, and a
  * compacted index exports its head plus each pinned sibling. */
class IndexExportSpec extends SparkSpec {

  /** One layout: how to build it at a dir, its head partition column,
    * its required pin key, the compaction named by its tombstone
    * refusal (None: the message is only checked for "tombstones"), the
    * delete and compact calls, and the sibling file lists it exports
    * (empty lists for an absent optional sibling). */
  private case class Layout(name: String, build: String => Unit,
      part: String, key: String, compactHint: Option[String],
      delete: String => Unit, compact: String => Unit,
      export: String => (Seq[String], Seq[Seq[String]]),
      siblingFiles: Seq[Boolean])

  private lazy val docs = {
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
  }

  private def ids(col: String, id: Long): DataFrame = {
    import spark.implicits._
    Seq(id).toDF(col)
  }

  private lazy val corpus = graft.sources.Tables.load(spark, sf, "embeddings")
    .filter(col("vec_id") >= Similarity.NumQueries)
    .withColumn("nrm", sqrt(aggregate(zip_with(col("embedding"),
      col("embedding"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)))

  private def vecId(dir: String): Long =
    Versioned.read(spark, dir).select(col("vec_id")).head().getLong(0)

  private val layouts = Seq(
    Layout("dedup", Dedup.buildDedupIndexOf(docs, _), "band", "sigs",
      Some("compactDedupIndex"),
      dir => Dedup.deleteFromDedupIndex(spark, ids("doc_id", 2L), dir),
      dir => Dedup.compactDedupIndex(spark, dir),
      dir => { val (h, s) = Dedup.exportDedupIndex(spark, dir); (h, Seq(s)) },
      Seq(true)),
    Layout("text", TextAnalysis.buildTextIndexOf(docs, _), "bucket", "stats",
      Some("compactTextIndex"),
      dir => TextAnalysis.deleteFromTextIndex(spark, ids("doc_id", 2L), dir),
      dir => TextAnalysis.compactTextIndex(spark, dir),
      dir => { val (h, s) = TextAnalysis.exportTextIndex(spark, dir)
        (h, Seq(s)) },
      Seq(true)),
    Layout("ivf", Similarity.buildIvfIndexOf(spark, corpus, _,
        quantized = true), "cell", "centroids", None,
      dir => Similarity.deleteFromVectorIndex(spark,
        ids("vec_id", vecId(dir)), dir),
      dir => Similarity.compactIvfIndex(spark, dir),
      vectorExport,
      Seq(true, false)),
    Layout("ivfpq", Similarity.buildIvfPqIndexOf(spark, corpus, _),
      "cell", "centroids", None,
      dir => Similarity.deleteFromVectorIndex(spark,
        ids("vec_id", vecId(dir)), dir),
      dir => Similarity.compactIvfPqIndex(spark, dir),
      vectorExport,
      Seq(true, true)))

  private def vectorExport(dir: String) = {
    val (h, c, b) = Similarity.exportVectorIndex(spark, dir)
    (h, Seq(c, b))
  }

  private def clean(dir: String): Unit =
    Seq("", ".sigs", ".stats", ".centroids", ".codebooks", ".tombs")
      .foreach(x => org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir + x)))

  private def refusal(f: => Any): String =
    intercept[IllegalStateException](f).getMessage

  for (l <- layouts) test(s"${l.name} index export: unpinned, torn and " +
      "live-tombstone refusals, then the compacted head and siblings") {
    val dir = s"target/tmp/index-export-${l.name}"
    Seq(dir, s"$dir-unpinned", s"$dir-torn").foreach(clean)
    l.build(dir)
    // a head-shaped table with no pin is not an index
    Versioned.commit(Versioned.read(spark, dir).limit(2), s"$dir-unpinned",
      partitionCol = Some(l.part))
    assert(refusal(l.export(s"$dir-unpinned"))
      .contains(s"no ${l.key}=v pin"))
    // a pin beyond its sibling's head is torn maintenance
    l.build(s"$dir-torn")
    Versioned.append(Versioned.read(spark, s"$dir-torn").limit(1),
      s"$dir-torn", partitionCol = Some(l.part),
      note = Some(s"${l.key}=v99"))
    assert(refusal(l.export(s"$dir-torn")).contains("torn maintenance"))
    // live tombstones refuse until the compaction applies them
    l.delete(dir)
    val live = refusal(l.export(dir))
    assert(live.contains("tombstones"))
    l.compactHint.foreach(h => assert(live.contains(h)))
    l.compact(dir)
    val (head, sibs) = l.export(dir)
    assert(head.nonEmpty && head.forall(_.contains(s"${l.part}=")),
      "head files export hive-partitioned")
    assert(sibs.map(_.nonEmpty) == l.siblingFiles)
  }
}
