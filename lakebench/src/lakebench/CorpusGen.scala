package lakebench

import java.io.{BufferedWriter, File, FileWriter}

import scala.collection.mutable
import scala.util.Random

/** Seeded document and embedding generator for `llm_curation`.
  *
  * Documents are Zipf-distributed words (exponent 0.8 over a 3000-word
  * vocabulary) with 15 % stopwords. Input properties it varies, per
  * batch: planted exact duplicates (5 %), near-duplicates that differ
  * from an earlier plain document in one middle token (5 %, word-3-gram
  * Jaccard >= 0.94), boilerplate documents whose lines repeat (4 %),
  * documents carrying an email, a phone number and an IPv4 address
  * (5 %), and too-short documents (2 %). Embeddings are 64-dimensional,
  * drawn around 24 cluster centres (pairwise cosine ~0.8 inside a
  * cluster), with 8 % planted near-duplicates (cosine > 0.999) of
  * already indexed vectors. */
final class CorpusGen(seed: Long, dir: String) {
  import CorpusGen._

  private val r = new Random(seed)
  private val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "qua",
      "ber", "don", "pel", "gri", "sto", "fen", "jul", "wam", "zor")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 3000)
      seen += (1 to 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length)))
        .mkString
    seen.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = vocab.indices.map(i => math.pow(i + 1.0, -0.8))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def word(): String =
    if (r.nextDouble() < 0.15) Stopwords(r.nextInt(Stopwords.length))
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
  private def words(n: Int): Seq[String] = Seq.fill(n)(word())

  private var nextDoc = 1L
  private var nextVec = FirstVecId
  /** Documents a near-duplicate may copy: long, plain, kept. */
  private val sources = mutable.ArrayBuffer.empty[(Long, String)]
  /** Ids of kept vectors a planted near-duplicate may copy. */
  private val vecSources = mutable.ArrayBuffer.empty[Array[Float]]
  private val centres: Array[Array[Float]] =
    Array.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian().toFloat)))

  var batchBytes = 0L

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** Generate `n` documents with the planted kinds mixed in. */
  def docs(n: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    def add(kind: Kind, text: String, of: Long = 0L): Doc = {
      val d = Doc(nextDoc, text, kind, of)
      nextDoc += 1
      out += d
      d
    }
    while (out.size < n) {
      val u = r.nextDouble()
      if (u < 0.05 && out.exists(_.kind == Plain)) {
        val src = out.filter(_.kind == Plain)
        val s = src(r.nextInt(src.size))
        add(ExactDup, s.text, s.id)
      } else if (u < 0.10 && sources.nonEmpty) {
        val (of, text) = sources(r.nextInt(sources.size))
        val s = text.split(" ")
        // a token no other document has, so no two copies are identical
        s(s.length / 2) = s"q$nextDoc"
        add(NearDup, s.mkString(" "), of)
      } else if (u < 0.14) {
        val line = words(12).mkString(" ")
        add(Boilerplate, (Seq(line, line, line) ++ Seq.fill(2)(
          words(12).mkString(" "))).mkString("\n"))
      } else if (u < 0.19) {
        val w = words(60 + r.nextInt(40)).toArray
        val email = s"user${r.nextInt(100000)}@example.com"
        val phone = f"555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
        val ip = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        w(5) = email; w(20) = phone; w(40) = ip
        add(Pii, w.mkString(" "))
      } else if (u < 0.21) add(Short, words(5).mkString(" "))
      else {
        val d = add(Plain, words(100 + r.nextInt(60)).mkString(" "))
        sources += d.id -> d.text
      }
    }
    out.toSeq
  }

  /** Generate `n` vectors; planted near-duplicates copy kept ones. */
  def vectors(n: Int): Seq[Vec] = Seq.fill(n) {
    val id = nextVec
    nextVec += 1
    if (vecSources.nonEmpty && r.nextDouble() < 0.08) {
      val s = vecSources(r.nextInt(vecSources.size))
      Vec(id, s.map(x => x + (r.nextGaussian() * 0.001).toFloat), dup = true)
    } else Vec(id, member(), dup = false)
  }

  /** A point of a random cluster: centre plus noise of norm ~0.5. */
  def member(): Array[Float] = {
    val c = centres(r.nextInt(Clusters))
    c.map(x => x + (r.nextGaussian() * 0.5 / math.sqrt(Dim)).toFloat)
  }

  /** Record kept vectors as near-duplicate sources. */
  def kept(vs: Seq[Vec]): Unit = vs.foreach(v => vecSources += v.values)

  def writeDocs(path: String, ds: Seq[Doc]): String =
    write(path, ds.map(d => s"""{"doc_id": ${d.id}, "text": ${
      Json.str(d.text)}}"""))

  def writeVectors(path: String, vs: Seq[Vec]): String =
    write(path, vs.map(v => s"""{"vec_id": ${v.id}, "embedding": ${
      v.values.map(_.toString).mkString("[", ", ", "]")}}"""))

  private def write(path: String, lines: Seq[String]): String = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try lines.foreach(l => w.write(l + "\n")) finally w.close()
    batchBytes += f.length()
    path
  }
}

object CorpusGen {
  val Stopwords = Array("the", "a", "and", "of", "to", "in", "is", "it")
  val Dim = 64
  val Clusters = 24
  /** Corpus vector ids start here: ids below 10 are probe queries, and
    * the IVF build seeds its centroids from ids below 26. */
  val FirstVecId = 10L

  sealed trait Kind
  case object Plain extends Kind
  case object ExactDup extends Kind
  case object NearDup extends Kind
  case object Boilerplate extends Kind
  case object Pii extends Kind
  case object Short extends Kind

  /** `of`: the document an exact or near duplicate copies. */
  final case class Doc(id: Long, text: String, kind: Kind, of: Long)
  final case class Vec(id: Long, values: Array[Float], dup: Boolean)

  val DocSchema = "doc_id BIGINT, text STRING"
  val VecSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>"
}
