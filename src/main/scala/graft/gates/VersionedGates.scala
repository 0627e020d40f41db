package graft.gates

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.sources.Versioned._

/** Verification gates over the versioned-table surface
  * ([[graft.sources.Versioned]]): each runs one table lifecycle on a
  * temp copy of the fixtures and returns one row for the DuckDB oracle
  * (q40-q49, q53; registered in [[graft.SparkEntry.queries]]). */
object VersionedGates {

  /** Driver-visible gate for the SQL time-travel surface (q41): build
    * a 3-version table (commit, O(delta) append, then one ATOMIC
    * [[applyChanges]] CDC batch — an upsert and a merge-on-read delete
    * in a single commit), then run ONE multi-version `spark.sql` query
    * THROUGH the [[GraftCatalog]] — native `VERSION AS OF` pins, a
    * cross-version join, a cross-version NOT IN, and the CDC batch's
    * effects, with NO prior registration of any view — whose observed
    * row is re-emitted as constants for the DuckDB oracle.
    * ([[registerVersions]] remains as the catalog-free fallback
    * surface; the gate exercises the native path.) */
  def sqlTimeTravelGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-sql-tt") { work =>
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val t = work.resolve("tbl").toString
      commit(region.filter(col("r_regionkey") < 3), t)
      append(region.filter(col("r_regionkey") >= 3), t)
      import s.implicits._
      applyChanges(s, t,
        upserts = region.filter(col("r_regionkey") === 0)
          .withColumn("r_name", lit("CDC_UPDATED")),
        deleteKeys = Seq(1).toDF("r_regionkey"), key = "r_regionkey")
      val g = s"graft.`$t`"
      val r = s.sql(
        s"""SELECT
             (SELECT count(*) FROM $g VERSION AS OF 1) AS v1_rows,
             (SELECT count(*) FROM $g VERSION AS OF 2) AS v2_rows,
             (SELECT count(*) FROM $g VERSION AS OF 3) AS v3_rows,
             (SELECT count(*) FROM $g) AS cur_rows,
             (SELECT count(*) FROM $g VERSION AS OF 2 a
                JOIN $g VERSION AS OF 1 b USING (r_regionkey))
               AS joined_rows,
             (SELECT sum(r_regionkey) FROM $g VERSION AS OF 2
              WHERE r_regionkey NOT IN
                (SELECT r_regionkey FROM $g VERSION AS OF 1))
               AS appended_keysum,
             (SELECT count(*) FROM $g VERSION AS OF 3
              WHERE r_name = 'CDC_UPDATED') AS cdc_updated,
             (SELECT count(*) FROM $g VERSION AS OF 2
              WHERE r_name = 'CDC_UPDATED') AS cdc_before""").head()
      // —— write-audit-publish leg: commits staged on a branch stay
      //    invisible to main (programmatic AND catalog-SQL reads)
      //    until a metadata-only fast-forward publishes them ——
      createBranch(s, t, "staging")
      append(region.limit(2)
        .select((col("r_regionkey") + lit(90)).as("r_regionkey"),
          lit("WAP_STAGED").as("r_name")),
        t, branch = Some("staging"))
      val w = s.sql(
        s"""SELECT
             (SELECT count(*) FROM $g) AS main_before,
             (SELECT count(*) FROM $g VERSION AS OF 'staging')
               AS staged_rows""").head()
      fastForward(s, t, from = "staging")
      val publishedRows =
        s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      // —— DSv2 WRITE leg: the reference's ETL commits THROUGH its
      //    catalog (csv_to_ice.py:58 writeTo/createOrReplace); gate
      //    the same shapes — SQL INSERT, CTAS from a time-travel
      //    pin, and createOrReplace retaining the replaced snapshot —
      //    each landing as one atomic Versioned commit ——
      s.sql(s"INSERT INTO $g VALUES (70, 'SQL_INSERT'), (71, 'SQL_INSERT')")
      val ins = s.sql(s"""SELECT count(*) FROM $g
        WHERE r_name = 'SQL_INSERT'""").head().getLong(0)
      val insTotal = s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      val t2 = work.resolve("ctas").toString
      val g2 = s"graft.`$t2`"
      s.sql(s"CREATE TABLE $g2 AS SELECT * FROM $g VERSION AS OF 1")
      val ctasRows = s.sql(s"SELECT count(*) FROM $g2").head().getLong(0)
      val replacedAt = currentVersion(s, t2)
      region.filter(col("r_regionkey") === 0)
        .select(lit(99).as("r_regionkey"), lit("REPLACED").as("r_name"))
        .writeTo(g2).createOrReplace()
      val replRows = s.sql(s"SELECT count(*) FROM $g2").head().getLong(0)
      val replOld = s.sql(
        s"SELECT count(*) FROM $g2 VERSION AS OF $replacedAt")
        .head().getLong(0)
      s.range(1).select(
        lit(r.getLong(0)).as("v1_rows"),
        lit(r.getLong(1)).as("v2_rows"),
        lit(r.getLong(2)).as("v3_rows"),
        lit(r.getLong(3)).as("cur_rows"),
        lit(r.getLong(4)).as("joined_rows"),
        lit(r.getLong(5)).as("appended_keysum"),
        lit(r.getLong(6)).as("cdc_updated"),
        lit(r.getLong(7)).as("cdc_before"),
        lit(w.getLong(0)).as("wap_main_before"),
        lit(w.getLong(1)).as("wap_staging_rows"),
        lit(publishedRows).as("wap_main_after"),
        lit(ins).as("sql_insert_rows"),
        lit(insTotal).as("sql_insert_total"),
        lit(ctasRows).as("ctas_rows"),
        lit(replRows).as("replaced_rows"),
        lit(replOld).as("replaced_old_rows"))
    }

  /** Oracle gate for SQL row-level DML (q42): a scripted DELETE /
    * UPDATE / MERGE sequence over a temp catalog table built from the
    * `region` fixture, reduced to constants the oracle states
    * literally — the same pattern as [[snapshotGate]]/
    * [[sqlTimeTravelGate]]. Exercises the [[graft.plans
    * .RowLevelDmlRule]] lowering end-to-end through `spark.sql`:
    * merge-on-read positional DELETE, copy-on-write UPDATE (old-row
    * SET semantics), a three-clause MERGE (conditional delete, update,
    * insert), a NOT MATCHED BY SOURCE pass, and time travel across all
    * of it. */
  def sqlDmlGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-sql-dml") { work =>
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val t = work.resolve("tbl").toString
      commit(region, t) // v1: keys 0..4
      val g = s"graft.`$t`"
      // —— DELETE (merge-on-read positional: no data file rewritten) ——
      val filesBefore = dataFileCount(s, t)
      s.sql(s"DELETE FROM $g WHERE r_regionkey = 1") // v2
      val delFilesSame = if (dataFileCount(s, t) == filesBefore) 1L else 0L
      val delAfter = s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      // —— UPDATE (copy-on-write; SET sees the OLD row) ——
      s.sql(s"UPDATE $g SET r_name = concat(r_name, '_U') " +
        "WHERE r_regionkey >= 3") // v3
      val updMarked = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE endswith(r_name, '_U')").head().getLong(0)
      // —— MERGE: conditional delete + update + insert, one commit ——
      import s.implicits._
      Seq((2, "MERGED"), (4, "KILL"), (7, "NEW")).toDF("k", "name")
        .createOrReplaceTempView("graft_dml_src")
      s.sql(s"""
        MERGE INTO $g USING graft_dml_src src ON $g.r_regionkey = src.k
        WHEN MATCHED AND src.name = 'KILL' THEN DELETE
        WHEN MATCHED THEN UPDATE SET r_name = src.name
        WHEN NOT MATCHED THEN
          INSERT (r_regionkey, r_name) VALUES (src.k, src.name)
      """) // v4: {0, 2=MERGED, 3_U, 7=NEW}; 4 killed
      val m = s.sql(s"""SELECT count(*),
          count(CASE WHEN r_name = 'MERGED' THEN 1 END),
          count(CASE WHEN r_regionkey = 7 THEN 1 END),
          count(CASE WHEN r_regionkey = 4 THEN 1 END) FROM $g""").head()
      // —— NOT MATCHED BY SOURCE: mark rows the source no longer has ——
      Seq(Tuple1(0)).toDF("k").createOrReplaceTempView("graft_dml_keep")
      s.sql(s"""
        MERGE INTO $g USING graft_dml_keep src
        ON $g.r_regionkey = src.k
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET r_name = 'STALE'
      """) // v5
      val stale = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE r_name = 'STALE'").head().getLong(0)
      // time travel across the whole DML chain
      val v1Rows = s.sql(s"SELECT count(*) FROM $g VERSION AS OF 1")
        .head().getLong(0)
      s.range(1).select(
        lit(delAfter).as("del_after"),
        lit(delFilesSame).as("del_files_same"),
        lit(updMarked).as("upd_marked"),
        lit(m.getLong(0)).as("merge_rows"),
        lit(m.getLong(1)).as("merge_updated"),
        lit(m.getLong(2)).as("merge_inserted"),
        lit(m.getLong(3)).as("merge_killed"),
        lit(stale).as("nmbs_stale"),
        lit(v1Rows).as("tt_v1_rows"),
        lit(currentVersion(s, t).toLong).as("final_version"))
    }

  /** Oracle gate for SQL schema evolution (q43): scripted ALTER TABLE
    * ADD / DROP / RENAME COLUMN through the catalog, reduced to
    * constants — null-fill on add, non-resurrection on drop-then-
    * re-add, time travel showing written shapes. Same pattern as
    * [[sqlDmlGate]]. */
  def schemaEvolutionGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-schema-evo") { work =>
      val t = work.resolve("tbl").toString
      val g = s"graft.`$t`"
      commit(Tables.load(s, d, "region")
        .filter(col("r_regionkey") < 3)
        .select(col("r_regionkey").as("id"), col("r_name").as("v")),
        t) // v1: 3 rows
      s.sql(s"ALTER TABLE $g ADD COLUMN score BIGINT") // v2
      s.sql(s"INSERT INTO $g VALUES (4, 'NEW', 40)") // v3
      val addNulls = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE score IS NULL").head().getLong(0)
      val addSet = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE score = 40").head().getLong(0)
      s.sql(s"ALTER TABLE $g DROP COLUMN v") // v4
      val colsAfter = s.table(g).columns.length.toLong
      val v1Cols = s.sql(s"SELECT * FROM $g VERSION AS OF 1")
        .columns.length.toLong
      s.sql(s"ALTER TABLE $g RENAME COLUMN id TO key") // v5
      val renamedSum = s.sql(s"SELECT sum(key) FROM $g")
        .head().getLong(0)
      // drop-then-re-add under the SAME name: old values stay gone
      s.sql(s"ALTER TABLE $g ADD COLUMN v STRING") // v6
      val readdNulls = s.sql(s"SELECT count(*) FROM $g " +
        "WHERE v IS NULL").head().getLong(0)
      // metadata-only type widening: values intact at the wide type
      s.sql(s"ALTER TABLE $g ALTER COLUMN key TYPE BIGINT") // v7
      val retypeSum = s.sql(s"SELECT sum(key) FROM $g")
        .head().getLong(0)
      s.range(1).select(
        lit(addNulls).as("add_nulls"),
        lit(addSet).as("add_set"),
        lit(colsAfter).as("cols_after_drop"),
        lit(v1Cols).as("tt_v1_cols"),
        lit(renamedSum).as("renamed_sum"),
        lit(readdNulls).as("readd_nulls"),
        lit(retypeSum).as("retype_sum"),
        lit(currentVersion(s, t).toLong).as("final_version"))
    }

  /** Driver-visible gate for CROSS-ENGINE SHARED-TABLE reads — q47.
    * Unlike the constant-emitting gates, BOTH sides of this oracle
    * compute over the graft table's OWN data files: the Spark side
    * aggregates `Versioned.read` over a table taken through appends,
    * schema evolution (add + rename), a merge-on-read delete, a
    * compaction, and a post-compaction append; the DuckDB side runs
    * the SAME aggregate over `read_parquet([exportSnapshot files])`.
    * A hash match proves the LAYOUT is engine-portable — the
    * reference's two-engines-one-table claim (README.md:52-53 vs :78)
    * — not merely that two SQL dialects agree on fixture data. The
    * work dir intentionally OUTLIVES the gate (no cleanup): the
    * driver's DuckDB pass reads the exported files after this JVM
    * exits. Temp-dir sized: tens of KB of nation-fixture rows. */
  def exportGate(s: SparkSession, d: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft-export-gate")
    val t = work.resolve("share").toString
    val nation = s.read.parquet(s"$d/nation.parquet")
      .select(col("n_nationkey").cast("int"),
        col("n_name").cast("string"), col("n_regionkey").cast("int"))
    commit(nation.filter(col("n_nationkey") < 13), t)       // v1: 13 rows
    append(nation.filter(col("n_nationkey") >= 13), t)      // v2: +12
    addColumn(s, t, "score", DoubleType)                    // v3: metadata
    renameColumn(s, t, "n_name", "name")                    // v4: metadata
    import s.implicits._
    deleteRows(s, t, Seq(3, 17).toDF("n_nationkey"))        // v5: MoR tomb
    // the refusal IS part of the contract: raw files at v5 would
    // resurrect keys 3 and 17
    val refusedTombs = Try(exportSnapshot(s, t)).isFailure
    compact(s, t)                                           // v6: clean
    // a post-compaction append makes the export span TWO manifest
    // entries — the O(delta) chain shape, not a single-dir special case
    val extra = nation.filter(col("n_nationkey") < 2)
      .select((col("n_nationkey") + 100).cast("int").as("n_nationkey"),
        concat(col("n_name"), lit("_X")).as("name"),
        col("n_regionkey"),
        (col("n_nationkey") * 1.5 + 0.25).cast("double").as("score"))
    append(extra, t)                                        // v7: +2
    val files = exportSnapshot(s, t)
    recordExport("q47_export_snapshot", Export(Map("data" -> files)))
    read(s, t)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("n_nationkey")).as("keysum"),
        sum(col("score")).as("scoresum"),
        sum(length(col("name"))).as("namelen"))
      .withColumn("refused_tombs", lit(if (refusedTombs) 1L else 0L))
      .withColumn("n_files",
        lit(if (files.size >= 2) 1L else 0L))
      .orderBy(col("n_regionkey"))
  }

  /** The q53 gate: the metadata-only aggregate
    * ([[statsAggregate]] via the analyzer rewrite) reduced to a row
    * the DuckDB oracle RECOMPUTES from the nation fixture — the
    * aggregate VALUES are genuinely restated cross-engine, and the
    * structural flags pin where each answer came from: `served_*` = 1
    * means the executed plan contained NO parquet scan (the sidecar
    * path), `del_scan` = 1 means a live MoR tombstone forced the
    * fallback scan plan (whose values must still be right), and
    * `recovered` = 1 means compaction re-enabled the metadata path.
    * Nation is SF-independent, so the oracle's subselects are exact
    * at every scale factor. */
  def metadataAggGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-magg-gate") { work =>
      def scanFree(df: DataFrame): Boolean =
        !df.queryExecution.executedPlan.toString.contains("Scan parquet")
      val t = work.resolve("tbl").toString
      val abs = new java.io.File(t).getAbsolutePath
      val nation = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      commit(nation.filter(col("n_nationkey") < 13), t,
        statsCols = Seq("n_nationkey", "n_name"))
      append(nation.filter(col("n_nationkey") >= 13), t,
        statsCols = Seq("n_nationkey", "n_name"))
      val head = s.sql(s"SELECT min(n_nationkey) AS mn, " +
        s"max(n_nationkey) AS mx, count(*) AS n, max(n_name) AS mxn " +
        s"FROM graft.`$abs`")
      val servedHead = scanFree(head)
      val h = head.head()
      // the DATASET spelling of the same aggregate serves too: the
      // expansion's snapshot tag recovers the table identity after
      // spark.table() has already expanded the relation
      val dsQ = s.table(s"graft.`$abs`").agg(
        max(col("n_nationkey")).as("mx"), count(lit(1)).as("n"))
      val servedDs = scanFree(dsQ)
      val dsRow = dsQ.head()
      val pin = s.sql(s"SELECT max(n_nationkey) AS mx " +
        s"FROM graft.`$abs` VERSION AS OF 1")
      val servedPin = scanFree(pin)
      val pinMx = pin.head().get(0)
      // the GROUPED rollup on a hive-partitioned sibling: per-region
      // counts and bounds fold from each partition's own files
      val tg = work.resolve("tbl_grouped").toString
      val absG = new java.io.File(tg).getAbsolutePath
      commit(Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey")), tg,
        partitionCol = Some("n_regionkey"),
        statsCols = Seq("n_nationkey"))
      val grouped = s.sql(s"SELECT n_regionkey, count(*) AS n, " +
        s"max(n_nationkey) AS mx FROM graft.`$absG` " +
        "GROUP BY n_regionkey")
      val servedGrp = scanFree(grouped)
      val gRows = grouped.collect()
      val grpTotal = gRows.map(_.getLong(1)).sum
      val grp0Mx = gRows.find(r =>
        r.get(0).asInstanceOf[Number].longValue == 0L)
        .map(_.get(2).asInstanceOf[Number].longValue).getOrElse(-1L)
      // a live tombstone must flip the SAME SQL to the scan plan
      import s.implicits._
      deleteRows(s, t, Seq(24).toDF("n_nationkey"))
      val afterDel = s.sql(s"SELECT max(n_nationkey) AS mx, " +
        s"count(*) AS n FROM graft.`$abs`")
      val delScan = !scanFree(afterDel)
      val ad = afterDel.head()
      compact(s, t, statsCols = Seq("n_nationkey", "n_name"))
      val rec = s.sql(s"SELECT max(n_nationkey) AS mx, count(*) AS n " +
        s"FROM graft.`$abs`")
      val recovered = scanFree(rec)
      val rc = rec.head()
      def lv(v: Any): Long = v.asInstanceOf[Number].longValue
      s.range(1).select(
        lit(if (servedHead) 1L else 0L).as("served_head"),
        lit(lv(h.get(0))).as("mn"),
        lit(lv(h.get(1))).as("mx"),
        lit(h.getLong(2)).as("n_rows"),
        lit(h.getString(3)).as("mx_name"),
        lit(if (servedDs) 1L else 0L).as("served_ds"),
        lit(lv(dsRow.get(0))).as("ds_mx"),
        lit(dsRow.getLong(1)).as("ds_n"),
        lit(if (servedPin) 1L else 0L).as("served_pin"),
        lit(lv(pinMx)).as("pin_mx"),
        lit(if (servedGrp) 1L else 0L).as("served_grp"),
        lit(gRows.length.toLong).as("n_groups"),
        lit(grpTotal).as("grp_rows_total"),
        lit(grp0Mx).as("grp0_mx"),
        lit(if (delScan) 1L else 0L).as("del_scan"),
        lit(lv(ad.get(0))).as("del_mx"),
        lit(ad.getLong(1)).as("del_n"),
        lit(if (recovered) 1L else 0L).as("recovered"),
        lit(lv(rc.get(0))).as("rec_mx"),
        lit(rc.getLong(1)).as("rec_n"))
    }

  /** The q49 gate: [[cloneTable]] reduced to engine-independent
    * constants — build a small nation-derived table (commit + append
    * + a property), clone it, then DESTROY the source directory
    * entirely and probe the clone: the byte-ownership contract means
    * every number must still answer. One constant row the DuckDB
    * oracle states literally (nation is SF-independent). */
  def cloneGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-clone-gate") { work =>
      val src = work.resolve("src").toString
      val dst = work.resolve("dst").toString
      val nation = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      commit(nation.filter(col("n_nationkey") < 10), src)
      append(nation.filter(
        col("n_nationkey") >= 10 && col("n_nationkey") < 15), src)
      setProperties(s, src,
        set = Map("write.target-file-size-bytes" -> "1048576"))
      cloneTable(s, src, dst)
      // the byte-ownership probe: no source, no excuses
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(src))
      val cloneRows = read(s, dst).count()            // 15
      val keysum = read(s, dst)
        .agg(sum(col("n_nationkey"))).head().getLong(0) // 0..14 = 105
      val propOk = properties(s, dst)
        .get("write.target-file-size-bytes").contains("1048576")
      append(nation.filter(col("n_nationkey") >= 20), dst) // +5
      val grown = read(s, dst).count()                // 20
      s.range(1).select(
        lit(cloneRows).as("clone_rows"),
        lit(keysum).as("keysum"),
        lit(if (propOk) 1L else 0L).as("props_carried"),
        lit(grown).as("rows_after_divergent_append"))
    }

  /** Driver-visible gate for CROSS-ENGINE INGEST — q48, the mirror of
    * [[exportGate]]'s read direction: the fixture `nation.parquet` is
    * PYARROW-written (a genuinely foreign engine's parquet), and
    * [[importFiles]] makes it table data without a rewrite. Both
    * oracle sides then aggregate the SAME bytes: Spark through
    * `Versioned.read` over the imported table (two imports linked as
    * an O(delta) chain, one merge-on-read key delete applied), DuckDB
    * through the fixture table the files came from (`nation UNION ALL
    * nation` minus the deleted key). A hash match proves foreign
    * parquet round-trips the import path bit-for-bit. */
  def importGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-import-gate") { work =>
      val t = work.resolve("imported").toString
      val fixture = s"$d/nation.parquet"
      importFiles(s, t, Seq(fixture))   // v1: 25 foreign rows, no rewrite
      importFiles(s, t, Seq(fixture))   // v2: +25, linked O(delta) chain
      import s.implicits._
      deleteRows(s, t, Seq(3).toDF("n_nationkey")) // v3: kills both copies
      val v1Rows = read(s, t, Some(1)).count()
      val out = read(s, t)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey")).as("keysum"))
        .withColumn("v1_rows", lit(v1Rows))
        .orderBy(col("n_regionkey"))
      // materialize BEFORE the finally deletes the scratch table the
      // lazy plan would otherwise re-scan
      s.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    }

  /** Driver-visible gate over the snapshot/manifest surface — the
    * d07/s04 pattern: build small versioned tables from the fixture's
    * SF-independent `region`/`nation` tables (commit → O(delta) append
    * → readWhere → file-level upsert → merge-on-read delete → compact,
    * plus a `days(ts)`-transform-partitioned chain standing in for the
    * layout the reference hand-codes in csv_to_ice.py:25,54), reduce
    * each invariant to an engine-independent constant, and emit ONE row
    * the DuckDB oracle states literally. All row-count probes are
    * pinned to explicit versions and evaluated in a SINGLE batched
    * action at the end — the gate's cost is its writes, not a stack of
    * per-count jobs on the scheduler's action floor. */
  def snapshotGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-snapshot-gate") { work =>
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      def fileState(dirs: String*): Map[String, (Long, Long)] =
        dirs.flatMap { dir =>
          Files.walk(Paths.get(dir)).iterator().asScala
            .filter(_.toString.endsWith(".parquet"))
            .map(p => p.toString ->
              (Files.getLastModifiedTime(p).toMillis, Files.size(p)))
        }.toMap
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val nation = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
      // — unpartitioned chain with stats: commit 3 rows, append 2 —
      val t = work.resolve("tbl").toString
      commit(region.filter(col("r_regionkey") < 3).repartition(3), t,
        statsCols = Seq("r_regionkey"))
      val before = fileState(s"$t/v=1")
      append(region.filter(col("r_regionkey") >= 3), t,
        statsCols = Seq("r_regionkey"))
      val untouched = fileState(s"$t/v=1") == before
      // — file-level merge (v3): one key rewritten, prior files linked —
      upsert(s, t, region.filter(col("r_regionkey") === 0)
        .withColumn("r_name", lit("REWRITTEN")), "r_regionkey")
      val mOwnFiles = fileState(s"$t/v=3").size
      // — merge-on-read delete (v4): tombstone only, no data rewrite —
      val beforeMor = fileState(s"$t/v=1", s"$t/v=2", s"$t/v=3")
      import s.implicits._
      deleteRows(s, t, Seq(1).toDF("r_regionkey"))
      val morUntouched =
        fileState(s"$t/v=1", s"$t/v=2", s"$t/v=3") == beforeMor
      // — compact (v5): tombstones collapse into data —
      compact(s, t)
      // — positional delete (v6): (file, ordinal) tombstone, no data
      //   rewrite — then compact (v7) collapses it —
      val beforePos = fileState(s"$t/v=5")
      deleteWhere(s, t, col("r_regionkey") >= 3)
      val posUntouched = fileState(s"$t/v=5") == beforePos
      compact(s, t)
      // — transform-partitioned chain: days(ts) derived and HIDDEN
      //   (vs the reference's hand-materialized day column) —
      val tp = work.resolve("tbl_part").toString
      val natTs = nation.withColumn("ts",
        date_add(to_date(lit("2024-01-01")),
          pmod(col("n_nationkey"), lit(5)).cast("int")).cast("timestamp"))
      val days = Some(Transform.Days("ts"))
      commit(natTs.filter(col("n_nationkey") < 13), tp, transform = days)
      append(natTs.filter(col("n_nationkey") >= 13), tp, transform = days)
      val pHidden = read(s, tp).columns
        .forall(!_.startsWith(TransformPrefix))
      // metadata-only rollback: the current content is v1's again
      val rbV = rollback(s, tp, 1)
      // — ONE batched action for every row-count probe, versions pinned —
      val rw = readWhere(s, t, "r_regionkey", 0, 0, Some(2))
      val pruned = rw.inputFiles.length <
        read(s, t, Some(2)).inputFiles.length
      def probe(tag: String, df: DataFrame, a: Column,
          b: Column = lit(0L)): DataFrame =
        df.agg(a.cast("long").as("a"), b.cast("long").as("b"))
          .select(lit(tag).as("t"), col("a"), col("b"))
      val n = count(lit(1))
      val probes = Seq(
        probe("v1", read(s, t, Some(1)), n),
        probe("v2", read(s, t, Some(2)), n),
        probe("rw", rw, n),
        probe("m", read(s, t, Some(3)), n,
          sum(when(col("r_name") === "REWRITTEN", 1L).otherwise(0L))),
        probe("mor", read(s, t, Some(4)), n,
          sum(when(col("r_regionkey") === 1, 1L).otherwise(0L))),
        probe("cmp", read(s, t, Some(5)), n),
        probe("pd", read(s, t, Some(6)), n,
          sum(when(col("r_regionkey") >= 3, 1L).otherwise(0L))),
        probe("cmp2", read(s, t, Some(7)), n),
        probe("pv1", read(s, tp, Some(1)), n),
        probe("p2", read(s, tp, Some(2)), n,
          sum(when(col("n_regionkey") === 2, 1L).otherwise(0L))),
        probe("pts", readWhere(s, tp, "ts",
          "2024-01-02 00:00:00", "2024-01-03 00:00:00", Some(2)), n),
        probe("rb", read(s, tp), n))
      // tombstone / own-file inventories are FS metadata — no Spark job
      val v4Files = fileState(s"$t/v=4").keys.toSeq
      val morTomb = v4Files.count(_.contains(s"/$DeletesDir/"))
      val morOwnData = v4Files.count(!_.contains(s"/$DeletesDir/"))
      val cmpTomb = fileState(s"$t/v=5").keys
        .count(_.contains(s"/$DeletesDir/"))
      val pdTomb = fileState(s"$t/v=6").keys
        .count(_.contains(s"/$PosDeletesDir/"))
      val pdOwnData = fileState(s"$t/v=6").keys
        .count(!_.contains(s"/$PosDeletesDir/"))
      val cmp2Tomb = fileState(s"$t/v=7").keys
        .count(_.contains(s"/$PosDeletesDir/"))
      val r = probes.reduce(_.unionByName(_)).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
      s.range(1).select(
        lit(r("v1")._1).as("v1_rows"),
        lit(r("v2")._1).as("v2_rows"),
        lit(r("rw")._1).as("rw_rows"),
        lit(if (pruned) 1L else 0L).as("files_pruned"),
        lit(if (untouched) 1L else 0L).as("prior_untouched"),
        lit(r("m")._1).as("merge_rows"),
        lit(r("m")._2).as("merge_hit"),
        lit(mOwnFiles.toLong).as("merge_own_files"),
        lit(r("v1")._1).as("merge_tt_rows"),
        lit(r("mor")._1).as("mor_rows"),
        lit(r("mor")._2).as("mor_hit"),
        lit(if (morUntouched) 1L else 0L).as("mor_prior_untouched"),
        lit(morTomb.toLong).as("mor_tomb_files"),
        lit(morOwnData.toLong).as("mor_own_data_files"),
        lit(r("cmp")._1).as("compact_rows"),
        lit(cmpTomb.toLong).as("compact_tomb_files"),
        lit(r("pd")._1).as("pd_rows"),
        lit(r("pd")._2).as("pd_hit"),
        lit(if (posUntouched) 1L else 0L).as("pd_prior_untouched"),
        lit(pdTomb.toLong).as("pd_tomb_files"),
        lit(pdOwnData.toLong).as("pd_own_data_files"),
        lit(r("cmp2")._1).as("compact2_rows"),
        lit(cmp2Tomb.toLong).as("compact2_tomb_files"),
        lit(r("pv1")._1).as("p_v1_rows"),
        lit(r("p2")._1).as("p_v2_rows"),
        lit(r("p2")._2).as("p_region2_rows"),
        lit(r("pts")._1).as("p_ts_rows"),
        lit(if (pHidden) 1L else 0L).as("p_hidden"),
        lit(rbV.toLong).as("rb_version"),
        lit(r("rb")._1).as("rb_rows"))
    }

  /** Driver-visible gate over the INCREMENTAL CHANGELOG surface
    * ([[readChanges]]) — split out of [[snapshotGate]] (its 2× growth
    * was making per-gate bench wall time unattributable): rebuilds
    * the same commit → append → CoW merge → MoR delete → compact →
    * positional delete → compact chain, then reduces each version
    * range's changelog to constants — inserts in `a`, deletes in `b`;
    * a compact commit must net to ZERO events, and the cumulative
    * (1, 7] range nets carried rows. Chain actions are the cost;
    * every readChanges leg is O(changed files + tombstone keys). */
  def changelogGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-changelog-gate") { work =>
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
      val t = work.resolve("tbl").toString
      commit(region.filter(col("r_regionkey") < 3).repartition(3), t)
      append(region.filter(col("r_regionkey") >= 3), t)
      upsert(s, t, region.filter(col("r_regionkey") === 0)
        .withColumn("r_name", lit("REWRITTEN")), "r_regionkey")
      import s.implicits._
      deleteRows(s, t, Seq(1).toDF("r_regionkey"))
      compact(s, t)
      deleteWhere(s, t, col("r_regionkey") >= 3)
      compact(s, t)
      val cIns = coalesce(sum(when(
        col(ChangeTypeCol) === "insert", 1L).otherwise(0L)), lit(0L))
      val cDel = coalesce(sum(when(
        col(ChangeTypeCol) === "delete", 1L).otherwise(0L)), lit(0L))
      def probe(tag: String, df: DataFrame): DataFrame =
        df.agg(cIns.cast("long").as("a"), cDel.cast("long").as("b"))
          .select(lit(tag).as("t"), col("a"), col("b"))
      // ONE batched action for every changelog probe
      val r = Seq(
        probe("c12", readChanges(s, t, 1, 2)),
        probe("c23", readChanges(s, t, 2, 3)),
        probe("c34", readChanges(s, t, 3, 4)),
        probe("c45", readChanges(s, t, 4, 5)),
        probe("c56", readChanges(s, t, 5, 6)),
        probe("c17", readChanges(s, t, 1, 7)))
        .reduce(_.unionByName(_)).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
      s.range(1).select(
        lit(r("c12")._1).as("chg_append_ins"),
        lit(r("c23")._1).as("chg_merge_ins"),
        lit(r("c23")._2).as("chg_merge_del"),
        lit(r("c34")._2).as("chg_mor_del"),
        lit(r("c45")._1 + r("c45")._2).as("chg_compact_events"),
        lit(r("c56")._2).as("chg_pd_del"),
        lit(r("c17")._1).as("chg_all_ins"),
        lit(r("c17")._2).as("chg_all_del"))
    }

  /** Driver-visible gate over DDL-DECLARED PARTITIONING — the
    * reference's own CREATE TABLE shape (csv_to_ice.py:54
    * `PARTITIONED BY (pickup_date)`) plus partition-spec EVOLUTION and
    * the `.partitions` metadata table: CREATE TABLE … PARTITIONED BY
    * records the default spec on the empty v1; a plain SQL INSERT
    * inherits it (5 hive region directories, hidden from the read
    * schema); readWhere prunes on the source column; `.partitions`
    * rolls the layout up to (value, files, rows, bytes) agreeing with
    * the `.files` inventory; `set_spec` evolves the default to a
    * bucket transform (old files keep their layout, the next insert
    * adopts the new) and `none` clears it. All reduced to constants
    * the oracle states literally. */
  def ddlPartitionGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-ddl-part") { work =>
      Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
        .createOrReplaceTempView("q45_nation_src")
      val t = work.resolve("tbl").toString
      val g = s"graft.`$t`"
      s.sql(s"CREATE TABLE $g (n_nationkey INT, n_regionkey INT, " +
        "n_name STRING) PARTITIONED BY (n_regionkey)") // identity, v1
      val specOk = currentTransform(s, t)
        .contains(Transform.Identity("n_regionkey"))
      s.sql(s"INSERT INTO $g SELECT n_nationkey, n_regionkey, n_name " +
        "FROM q45_nation_src") // v2, inherits the declared layout
      val partDirs = new java.io.File(s"$t/v=2").listFiles().toSeq
        .count(f => f.isDirectory &&
          f.getName.startsWith(s"${TransformPrefix}id_n_regionkey="))
      val hidden = read(s, t).columns
        .forall(!_.startsWith(TransformPrefix))
      val rw = readWhere(s, t, "n_regionkey", 2, 2)
      // inputFiles reports the PRE-pruning listing for hive partition
      // pruning (a plan-time optimization), so assert the hidden
      // partition predicate reached the scan instead — the actual
      // file-count reduction is measured via scan metrics in
      // DdlPartitionSpec
      val rwPruned = rw.queryExecution.executedPlan.toString
        .contains(s"${TransformPrefix}id_n_regionkey")
      // the .partitions rollup vs the .files inventory, pinned at v2
      val pm = s.sql(s"SELECT count(*), sum(row_count), " +
        s"sum(file_count), sum(total_bytes) " +
        s"FROM $g.partitions VERSION AS OF 2 " +
        "WHERE partition IS NOT NULL").head()
      val dataBytes = files(s, t, Some(2))
        .filter(col("kind") === "data")
        .agg(sum("size_bytes")).head().getLong(0)
      // the FULL rollup (incl. the empty CREATE's 0-row schema file
      // under the NULL partition) must account for every data byte
      // the .files inventory reports
      val pmAllBytes = s.sql(s"SELECT sum(total_bytes) " +
        s"FROM $g.partitions VERSION AS OF 2").head().getLong(0)
      // spec evolution: future writes bucket, old files keep days
      val evoV = setSpec(s, t, Some(Transform.Bucket(5, "n_nationkey")))
      s.sql(s"INSERT INTO $g SELECT n_nationkey + 100, n_regionkey, " +
        "concat('EVO_', n_name) FROM q45_nation_src " +
        "WHERE n_nationkey < 5") // v4, bucket-partitioned
      val v4 = currentVersion(s, t)
      val evoLayout = new java.io.File(s"$t/v=$v4").listFiles().toSeq
        .exists(f => f.isDirectory &&
          f.getName.startsWith(s"${TransformPrefix}bucket5_n_nationkey="))
      // pre-evolution identity pruning still holds on the OLD files
      // (mixed layouts in one table) and the new point prunes buckets
      val evoPoint = readWhere(s, t, "n_nationkey", 101, 101)
      // clear: the next insert goes unpartitioned (and does NOT
      // resurrect the identity spec deeper in the manifest)
      s.sql(s"CALL graft.system.set_spec(table => '$t', " +
        "spec => 'none')") // v5
      s.sql(s"INSERT INTO $g VALUES (999, 0, 'PLAIN')") // v6
      val v6 = currentVersion(s, t)
      val clearPlain = !new java.io.File(s"$t/v=$v6").listFiles().toSeq
        .exists(f => f.isDirectory &&
          f.getName.startsWith(TransformPrefix))
      // ONE batched action for the row-count probes
      def probe(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("a"))
          .select(lit(tag).as("t"), col("a"))
      val r = Seq(
        probe("ins", read(s, t, Some(2))),
        probe("rw", rw),
        probe("evo_point", evoPoint),
        probe("evo_total", read(s, t, Some(v4))),
        probe("fin", read(s, t)))
        .reduce(_.unionByName(_)).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      s.range(1).select(
        lit(if (specOk) 1L else 0L).as("ddl_spec_identity"),
        lit(r("ins")).as("ins_rows"),
        lit(partDirs.toLong).as("part_dirs"),
        lit(if (hidden) 1L else 0L).as("part_hidden"),
        lit(r("rw")).as("rw_rows"),
        lit(if (rwPruned) 1L else 0L).as("rw_pruned"),
        lit(pm.getLong(0)).as("pm_parts"),
        lit(pm.getLong(1)).as("pm_rows"),
        lit(if (pm.getLong(2) >= 5L) 1L else 0L).as("pm_files_ok"),
        lit(if (pmAllBytes == dataBytes) 1L else 0L)
          .as("pm_bytes_match"),
        lit(evoV.toLong).as("evo_version"),
        lit(if (evoLayout) 1L else 0L).as("evo_layout"),
        lit(r("evo_point")).as("evo_point_rows"),
        lit(r("evo_total")).as("evo_total_rows"),
        lit(if (clearPlain) 1L else 0L).as("clear_plain"),
        lit(r("fin")).as("final_rows"),
        lit(v6.toLong).as("final_version"))
    }

  /** Driver-visible gate over the SQL-EXTENSION DDL surface — the
    * Iceberg spellings the session parser adds (partition-spec
    * evolution, table properties, named refs, VACUUM), split from
    * [[ddlPartitionGate]] the way q44 split from q40: each gate's
    * bench wall time stays attributable to ONE protocol surface.
    * Builds a fresh region-backed table and reduces every behavior to
    * a constant the oracle states literally; like its siblings, the
    * gate's cost is its writes (~10 protocol commits). */
  def sqlDdlGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-sql-ddl") { work =>
      Tables.load(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
        .createOrReplaceTempView("q46_region_src")
      val t = work.resolve("tbl").toString
      val g = s"graft.`$t`"
      // CREATE carries user TBLPROPERTIES into the _props sidecar
      s.sql(s"CREATE TABLE $g (r_regionkey INT, r_name STRING) " +
        "TBLPROPERTIES ('graft.owner' = 'gate')") // v1
      s.sql(s"INSERT INTO $g SELECT * FROM q46_region_src") // v2
      def prop(k: String, v: String) =
        s.sql(s"SHOW TBLPROPERTIES $g").collect()
          .exists(r => r.getString(0) == k && r.getString(1) == v)
      val propsCreate = prop("graft.owner", "gate")
      // partition-spec evolution through the DDL spellings: ADD
      // declares, the next insert adopts, REPLACE swaps, DROP clears
      s.sql(s"ALTER TABLE $g ADD PARTITION FIELD " +
        "bucket(3, r_regionkey)") // v3
      val ddlAdd = currentTransform(s, t)
        .contains(Transform.Bucket(3, "r_regionkey"))
      s.sql(s"INSERT INTO $g VALUES (100, 'DDL')") // v4
      val v4 = currentVersion(s, t)
      val ddlLayout = new java.io.File(s"$t/v=$v4").listFiles().toSeq
        .exists(f => f.isDirectory &&
          f.getName.startsWith(s"${TransformPrefix}bucket3_r_regionkey="))
      s.sql(s"ALTER TABLE $g REPLACE PARTITION FIELD " +
        "bucket(3, r_regionkey) WITH r_regionkey") // v5, identity
      val ddlReplace = currentTransform(s, t)
        .contains(Transform.Identity("r_regionkey"))
      s.sql(s"ALTER TABLE $g DROP PARTITION FIELD r_regionkey") // v6
      val ddlDrop = currentTransform(s, t).isEmpty
      // properties: SET merges (create's key survives), UNSET drops
      // exactly its keys
      s.sql(s"ALTER TABLE $g SET TBLPROPERTIES ('graft.tmp' = 'x')") // v7
      val propSet = prop("graft.tmp", "x") && prop("graft.owner", "gate")
      s.sql(s"ALTER TABLE $g UNSET TBLPROPERTIES ('graft.tmp')") // v8
      val propUnset = !prop("graft.tmp", "x") &&
        prop("graft.owner", "gate")
      // named refs through DDL: a tag pins v2 (5 rows); a branch
      // creates and drops cleanly
      s.sql(s"ALTER TABLE $g CREATE TAG gold AS OF VERSION 2")
      val tagRows = s.sql(
        s"SELECT count(*) FROM $g VERSION AS OF 'gold'").head().getLong(0)
      s.sql(s"ALTER TABLE $g CREATE BRANCH wip")
      val branchOk = branches(s, t).contains("wip")
      s.sql(s"ALTER TABLE $g DROP BRANCH wip")
      val branchGone = !branches(s, t).contains("wip")
      // VACUUM RETAIN keeps the newest 2 unpinned versions; the gold
      // tag pins v2 through it (8 versions -> {2, 7, 8})
      val retained = s.sql(s"VACUUM $g RETAIN 2 VERSIONS")
        .head().getInt(0)
      val finRows = s.sql(s"SELECT count(*) FROM $g").head().getLong(0)
      // write-order DDL on a second table (own version chain, so the
      // constants above stay untouched): declare, round-trip through
      // SHOW TBLPROPERTIES, verify the binpack writes files that are
      // INTERNALLY sorted by the declared order, then clear
      val t2 = work.resolve("tbl2").toString
      val g2 = s"graft.`$t2`"
      s.sql(s"CREATE TABLE $g2 (k INT, v STRING)")
      s.sql(s"INSERT INTO $g2 VALUES (5,'e'),(1,'a'),(3,'c')")
      s.sql(s"INSERT INTO $g2 VALUES (4,'d'),(2,'b'),(6,'f')")
      s.sql(s"ALTER TABLE $g2 WRITE ORDERED BY (k DESC)")
      val orderProp = s.sql(s"SHOW TBLPROPERTIES $g2").collect()
        .exists(r => r.getString(0) == WriteOrderProp &&
          r.getString(1) == "k desc")
      s.sql(s"CALL graft.system.compact(table => '$t2')")
      val v2n = currentVersion(s, t2)
      val packedFiles = new java.io.File(s"$t2/v=$v2n").listFiles().toSeq
        .filter(fl => fl.isFile && fl.getName.endsWith(".parquet"))
      val orderSorted = packedFiles.nonEmpty && packedFiles.forall { fl =>
        val ks = s.read.parquet(fl.getPath).select(col("k"))
          .collect().map(_.getInt(0)).toSeq
        ks == ks.sorted(Ordering[Int].reverse)
      }
      s.sql(s"ALTER TABLE $g2 WRITE UNORDERED")
      val orderCleared = !properties(s, t2).contains(WriteOrderProp)
      s.range(1).select(
        lit(if (propsCreate) 1L else 0L).as("props_create"),
        lit(if (ddlAdd) 1L else 0L).as("ddl_add_spec"),
        lit(if (ddlLayout) 1L else 0L).as("ddl_add_layout"),
        lit(if (ddlReplace) 1L else 0L).as("ddl_replace_spec"),
        lit(if (ddlDrop) 1L else 0L).as("ddl_drop_clear"),
        lit(if (propSet) 1L else 0L).as("props_set"),
        lit(if (propUnset) 1L else 0L).as("props_unset"),
        lit(tagRows).as("tag_rows"),
        lit(if (branchOk && branchGone) 1L else 0L).as("branch_cycle"),
        lit(retained.toLong).as("vacuum_retained"),
        lit(finRows).as("final_rows"),
        lit(currentVersion(s, t).toLong).as("final_version"),
        lit(if (orderProp) 1L else 0L).as("write_order_prop"),
        lit(if (orderSorted) 1L else 0L).as("write_order_sorted"),
        lit(if (orderCleared) 1L else 0L).as("write_order_cleared"))
    }
}
