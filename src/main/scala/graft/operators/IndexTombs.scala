package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** The tombstone sibling of a persisted index (MinHash bands, IVF and
  * IVF-PQ cells, BM25 postings) — the Lucene deleted-docs discipline
  * every index here shares, and the one place its `<index>.tombs`
  * table is named, read, filtered, appended or reset. A delete appends
  * ids (O(batch)); every probe drops the tombstoned rows of its scan;
  * the index's compaction absorbs the set and resets it.
  *
  * One handle pins the tombstone version at construction (0: the index
  * has no tombstone table), so every read through it sees one state,
  * and an index without a table runs no tombstone job at all. `key` is
  * the index's id column. */
private[graft] final class IndexTombs private (s: SparkSession,
    indexDir: String, key: String, private val version: Int) {

  /** Whether the index has a tombstone table (it may be empty). */
  private def exists: Boolean = version > 0

  /** The pinned tombstoned ids, one `key` column (requires [[exists]]);
    * bounded between compactions, so joins against it broadcast. */
  lazy val ids: DataFrame =
    Versioned.read(s, IndexTombs.dir(indexDir), Some(version))
      .select(col(key))

  /** `df` minus its tombstoned rows; `df` itself without a table. */
  def live(df: DataFrame): DataFrame =
    if (!exists) df else df.join(broadcast(ids), Seq(key), "left_anti")

  /** Whether any id is tombstoned — one job with a table, none without. */
  def nonEmpty: Boolean = exists && !ids.isEmpty

  /** Up to five of the batch's ids with a live tombstone. */
  def clash(batch: DataFrame): Array[Long] =
    lookup(t => batch.select(col(key))
      .join(broadcast(t), Seq(key), "left_semi"))

  /** [[clash]] for a driver-held id set: a literal filter, no broadcast. */
  def clash(batchIds: Seq[Long]): Array[Long] =
    lookup(_.filter(col(key).isin(batchIds: _*)))

  private def lookup(f: DataFrame => DataFrame): Array[Long] =
    if (!exists) Array.empty
    else f(ids).limit(5).collect().map(_.getLong(0))
}

private[graft] object IndexTombs {
  private def dir(indexDir: String): String = s"$indexDir.tombs"

  /** The index's tombstones, version pinned now. */
  def apply(s: SparkSession, indexDir: String, key: String): IndexTombs =
    new IndexTombs(s, indexDir, key,
      Versioned.currentVersion(s, dir(indexDir)))

  /** Tombstone `ids`: an append, or the table's first commit.
    * Idempotent — a repeated or never-indexed id is a harmless extra
    * row, collapsed at the next compaction. */
  def delete(s: SparkSession, ids: DataFrame, indexDir: String,
      key: String): Unit = {
    val batch = ids.select(col(key)).distinct()
    if (IndexTombs(s, indexDir, key).exists)
      Versioned.append(batch, dir(indexDir))
    else Versioned.commit(batch, dir(indexDir))
  }

  /** Lift the tombstones of `ids` after an upsert replaced their stored
    * rows (the fresh rows would stay invisible otherwise): one commit,
    * and none when no id is tombstoned. */
  def lift(s: SparkSession, ids: DataFrame, indexDir: String,
      key: String): Unit = {
    val t = IndexTombs(s, indexDir, key)
    if (t.clash(ids).nonEmpty)
      Versioned.commit(t.ids.join(broadcast(ids.select(col(key))),
        Seq(key), "left_anti"), dir(indexDir))
  }

  /** Compaction's half of the protocol: with live tombstones, run the
    * caller's `rewrite` with the pinned handle (its [[live]] drops the
    * set), then reset ONLY that set, last. A crash in the rewrite
    * leaves the set live, which is safe (the probes re-apply it); a
    * delete landing during the rewrite survives the reset to the next
    * compaction. None when there is nothing to absorb. */
  def absorb[T](s: SparkSession, indexDir: String, key: String)(
      rewrite: IndexTombs => T): Option[T] = {
    val t = IndexTombs(s, indexDir, key)
    if (!t.nonEmpty) None
    else {
      val out = rewrite(t)
      // an unmoved version holds exactly the absorbed set
      val now = IndexTombs(s, indexDir, key)
      Versioned.commit(if (now.version == t.version) t.ids.limit(0)
        else t.live(now.ids), dir(indexDir))
      Some(out)
    }
  }
}
