package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Versioned

/** The pinned siblings of a persisted index — the Iceberg discipline
  * every index here shares: the head table's commit note pins, by
  * version, each sibling table the head was built against (MinHash
  * bands pin `sigs`, BM25 postings `stats`, IVF cells `centroids`,
  * IVF-PQ cells `centroids` and `codebooks`). The one place a sibling
  * is named (pin key `k` pins the table `<index>.k`), read at its pin,
  * published and exported; [[IndexTombs]] owns the tombstone sibling.
  *
  * One handle resolves the head version and its pins once, so every
  * read through it sees one (head, siblings) state. */
private[graft] final class IndexPins private (s: SparkSession,
    indexDir: String, version: Int, pins: Seq[(String, Int)]) {

  /** The index (head table) directory. */
  def dir: String = indexDir

  /** Sibling `key`'s directory. */
  def siblingDir(key: String): String = IndexPins.dir(indexDir, key)

  /** Whether the index has a committed head. */
  def built: Boolean = version > 0

  /** Sibling `key`'s pinned version (None: unpinned, or no index). */
  def pin(key: String): Option[Int] =
    pins.collectFirst { case (`key`, v) => v }

  /** The pins by key. */
  def pinMap: Map[String, Int] = pins.toMap

  /** The head snapshot this handle resolved. */
  def head: DataFrame = Versioned.read(s, indexDir, Some(version))

  /** Sibling `key` at its pin — its head for an unpinned index. */
  def sibling(key: String): DataFrame =
    Versioned.read(s, siblingDir(key), pin(key))

  /** Sibling `key`'s head version (0: no sibling table). */
  def siblingHead(key: String): Int =
    Versioned.currentVersion(s, siblingDir(key))

  /** The one publish order: each sibling write (given its dir, returning
    * its new version; two or more run concurrently — distinct tables)
    * publishes FIRST, then `writeHead` writes with the note pinning them
    * beside this handle's other pins, so no reader ever pairs a head
    * with a sibling it was not built against. A head write that
    * committed nothing (a binpack with nothing to pack) would leave the
    * pin on a superseded sibling version, which a later expire strands;
    * a note-only commit re-pins the head instead. Returns the head
    * version. */
  def publish(siblings: (String, String => Int)*)(
      writeHead: Option[String] => Int): Int = {
    val fresh = graft.tools.Overlap.concurrently(siblings.map {
      case (k, write) => () => k -> write(siblingDir(k)) }: _*)
    val merged = pins.filterNot(p => fresh.exists(_._1 == p._1)) ++ fresh
    val note = Some(Versioned.pinNote(merged)).filter(_.nonEmpty)
    val v = writeHead(note)
    if (v != version || merged == pins) v
    else Versioned.commitNote(s, indexDir, note.get)
  }

  /** The one pinned export: refuses an unpinned head, a torn pin (a pin
    * beyond its sibling's head) and live tombstones — each would hand a
    * second engine bytes that silently mis-answer — then resolves the
    * head's files (hive partitions kept: the partition value is derived
    * routing metadata) and each of `layout.keys`' pinned sibling files
    * at its pin (Nil for an absent optional key). */
  def export(layout: IndexPins.Layout): (Seq[String], Seq[Seq[String]]) = {
    import layout._
    def refuse(why: String) = throw new IllegalStateException(
      s"cannot export $kind index at $indexDir: $why")
    if (pin(keys.head).isEmpty)
      refuse(s"head commit carries no ${keys.head}=v pin — not a built " +
        s"$kind index ($build first)")
    val pinned = keys.flatMap(k => pin(k).map(k -> _))
    val heads = pinned.map { case (k, _) => k -> siblingHead(k) }
    if (pinned.zip(heads).exists { case ((_, p), (_, h)) => p > h })
      refuse(s"pins ${Versioned.pinNote(pinned).replace(';', '/')} but " +
        s"the sibling heads are ${Versioned.pinNote(heads)
          .replace(';', '/')} — torn maintenance; rebuild the index to " +
        "restore the pinned siblings")
    if (IndexTombs(s, indexDir, tombKey).nonEmpty)
      refuse(s"live tombstones would resurrect deleted $rows in a " +
        s"raw-file read — $compact first")
    (Versioned.exportSnapshot(s, indexDir, Some(version),
        hivePartitions = true),
      keys.map(k => pin(k).map(p => Versioned.exportSnapshot(s,
        siblingDir(k), Some(p))).getOrElse(Nil)))
  }
}

private[graft] object IndexPins {
  private def dir(indexDir: String, key: String): String =
    s"$indexDir.$key"

  /** The index's head and its pins, resolved now. */
  def apply(s: SparkSession, indexDir: String): IndexPins = {
    val (v, pins) = Versioned.headPins(s, indexDir)
    new IndexPins(s, indexDir, v, pins)
  }

  /** What an index's export refusals name: the index `kind`, its pin
    * `keys` (the first required), its tombstone key, and the fixes —
    * the `build` that pins it, the `compact` that applies deletes of
    * its `rows`. */
  final case class Layout(kind: String, keys: Seq[String], tombKey: String,
      build: String, compact: String, rows: String)
}
