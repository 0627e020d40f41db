package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{FixturePool, Tables, Versioned}
import graft.sources.DerivedTable._
import graft.tools.Overlap.{concurrently, concurrently2}

/** Verification gates over incremental materialized views
  * ([[graft.sources.DerivedTable]]): each runs one view lifecycle on a
  * temp copy of a pooled fixture family and returns one row for the
  * DuckDB oracle (q52, q54, q55, q57-q64; registered in
  * [[graft.SparkEntry.queries]]). */
object MvGates {

  /** The pooled SOURCE family q57/q60 share: the BOUNDED (< 600)
    * 4-column documents slice split at 400 (base + `.app`), plus the
    * exact-cents events slice split at 400 (`.ev` + `.evapp`) for
    * the day-bucketed leg. Bounded at every SF on purpose: the gates
    * prove lifecycle semantics, not scan throughput — the unbounded
    * corpus belongs to the operators measured for scale. */
  private def cloneMvShapeSrc(s: SparkSession, d: String,
      src: String): Unit =
    FixturePool.cloneTo(s"mvshape:$d", src, reclaimAtExit = true) {
      dir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"))
          .filter(col("doc_id") < 600)
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(docs.filter(col("doc_id") < 400), dir)
          Versioned.commit(docs.filter(col("doc_id") >= 400),
            dir + ".app")
        } finally docs.unpersist(blocking = false)
        // the value goes in as exact cents (floor(value*100) — floor
        // is IEEE-identical across engines) so the algebraic patch
        // is exact and recompute equality is a hash fact
        val ev = Tables.load(s, d, "events")
          .filter(col("event_id") < 500)
          .select(col("event_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("cents"))
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(ev.filter(col("event_id") < 400),
            dir + ".ev")
          Versioned.commit(ev.filter(col("event_id") >= 400),
            dir + ".evapp")
        } finally ev.unpersist(blocking = false)
    }

  /** The pooled SOURCE family q62 uses: a BOUNDED lineitem slice
    * (l_orderkey < 2000, ~8k rows at any SF — the gate proves the
    * expression-measure lifecycle, not scan throughput) with a
    * synthetic single-column row id (rid = row_number over a total
    * order on every column — the synthetic fixture repeats
    * (l_orderkey, l_linenumber) pairs, so the TPC-H-style arithmetic
    * encoding collides), split at 1200 (base + `.app`). */
  private def cloneMvLineSrc(s: SparkSession, d: String,
      src: String): Unit =
    FixturePool.cloneTo(s"mvline:$d", src, reclaimAtExit = true) {
      dir =>
        // rid: a deterministic ROW identity. The fixture repeats
        // (l_orderkey, l_linenumber) pairs with differing values, so
        // arithmetic over them collides — number the slice under a
        // total ORDER over every column instead (ties only between
        // fully identical rows, where either assignment is the same
        // multiset — DuckDB replays the identical numbering)
        val ord = org.apache.spark.sql.expressions.Window.orderBy(
          col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_quantity"), col("l_returnflag"), col("l_linestatus"))
        val li = Tables.load(s, d, "lineitem")
          .filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax"))
          .withColumn("rid", row_number().over(ord).cast("long"))
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(li.filter(col("l_orderkey") < 1200), dir)
          Versioned.commit(li.filter(col("l_orderkey") >= 1200),
            dir + ".app")
        } finally li.unpersist(blocking = false)
    }

  /** The pooled SOURCE family q52/q54/q55 share: the (doc_id,
    * source, n_chars) projection of the documents fixture, committed
    * as base = doc_id < 300 with the ≥ 300 slice at `.app` — every
    * MV lifecycle gate starts from exactly this split, so the
    * fixture scan and the two source commits leave the per-run path
    * (the q58 pooled-base discipline); each run still clones the
    * family and exercises bootstrap / append / refresh / CDC batches
    * LIVE, which are the operators the gates measure. */
  private def cloneMvDocsSrc(s: SparkSession, d: String,
      src: String): Unit =
    FixturePool.cloneTo(s"mvdocs3:$d", src, reclaimAtExit = true) {
      dir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(docs.filter(col("doc_id") < 300), dir)
          Versioned.commit(docs.filter(col("doc_id") >= 300),
            dir + ".app")
        } finally docs.unpersist(blocking = false)
    }

  /** The pooled fact/dim family q58, q59 and q63 share: the bounded
    * (< 600) documents slice as fact (doc_id < 400, base), its
    * distinct sources with an upper-cased label as dim (`.dim`), and
    * the 400-599 append slice (`.app`). The docs scan and the
    * bootstrap commits run once per JVM, while every run still clones
    * the family and exercises CREATE / append / refresh / dim-edit
    * LIVE — those are the operators the gates measure (the d10
    * pooled-base discipline). */
  private def cloneMvJoinSrc(s: SparkSession, d: String,
      fact: String): Unit =
    FixturePool.cloneTo(s"q58-base:$d", fact, reclaimAtExit = true) {
      dir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .filter(col("doc_id") < 600)
          .persist(org.apache.spark.storage.StorageLevel
            .MEMORY_AND_DISK)
        try {
          Versioned.commit(docs.filter(col("doc_id") < 400), dir)
          Versioned.commit(docs.select(col("source")).distinct()
            .withColumn("src_label", upper(col("source"))),
            dir + ".dim")
          Versioned.commit(docs.filter(col("doc_id") >= 400),
            dir + ".app")
        } finally docs.unpersist(blocking = false)
    }

  /** Driver-visible gate (q54): [[refreshAgg]] maintaining
    * `GROUP BY source` over a documents-derived table through
    * bootstrap → append → one atomic mixed batch that exercises every
    * delta channel at once: a GROUP MIGRATION (rows whose update moves
    * them to a brand-new group — the old group shrinks, a group row
    * is BORN), values nulled in place (the value-count channel), and
    * key deletes. The final state is checked row-for-row against a
    * full recompute; every fact reduces to constants DuckDB restates
    * by replaying the same edits over the fixture in SQL. */
  def aggRefreshGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-aggmv-gate") { work =>
      val src = work.resolve("src").toString
      val dst = work.resolve("dst").toString
      // the pooled source family (see [[cloneMvDocsSrc]]): the fixture
      // scan and the two source commits run once per JVM; this run
      // clones and exercises bootstrap / append / CDC batch LIVE
      cloneMvDocsSrc(s, d, src)
      refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")
      val g1 = Versioned.read(s, dst).count()
      Versioned.append(Versioned.read(s, src + ".app"), src)
      refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")
      val g2 = Versioned.read(s, dst).count()
      // the edit inputs derive from the source itself (post-append it
      // IS the full docs projection) — no fixture rescan
      val all = Versioned.read(s, src)
      // the mixed batch: 1-3 migrate to a NEW group with a fixed value,
      // 4-5 null their value in place, every doc_id % 50 == 0 dies
      val updates = all.filter(col("doc_id").isin(1L, 2L, 3L, 4L, 5L))
        .select(col("doc_id"),
          when(col("doc_id") <= 3, lit("migrated"))
            .otherwise(col("source")).as("source"),
          when(col("doc_id") <= 3, lit(1000L))
            .otherwise(lit(null).cast("long")).as("n_chars"))
      Versioned.applyChanges(s, src, upserts = updates,
        deleteKeys = all.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id")),
        key = "doc_id")
      val (rFrom, rTo) = refreshAgg(s, src, dst, "doc_id", Seq("source"),
        "n_chars")
      val fin = Versioned.read(s, dst)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the stage's four scalar facts in ONE job over the persisted
      // state (count + three sums were two jobs before)
      val tot = fin.agg(count(lit(1)).as("g"),
        sum(col("n_rows")).as("r"),
        sum(col("sum_n_chars")).as("s"),
        sum(col("cnt_n_chars")).as("c")).head()
      val g3 = tot.getLong(0)
      // row-for-row equality against the full recompute (bag
      // semantics) — one signed-union shuffle, see [[bagEqual]]
      def exact(view: DataFrame) = bagEqual(view,
        Versioned.read(s, src).groupBy(col("source")).agg(
          sum(col("n_chars")).as("sum_n_chars"),
          count(col("n_chars")).as("cnt_n_chars"),
          count(lit(1)).as("n_rows")))
      val eq = exact(fin)
      fin.unpersist(blocking = false)
      // no-op stability: the pin matches, no new destination version
      val vBefore = Versioned.currentVersion(s, dst)
      val noop = refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")
      val noopOk = noop == ((rTo, rTo)) &&
        Versioned.currentVersion(s, dst) == vBefore
      // a tombstone keyed off the row key refreshes like any other
      // window (the net diff carries the deleted rows whole), and an
      // unpinned destination refuses
      import s.implicits._
      Versioned.deleteRows(s, src, Seq("migrated").toDF("source"))
      refreshAgg(s, src, dst, "doc_id", Seq("source"), "n_chars")
      val fkExact = exact(Versioned.read(s, dst))
      val plain = work.resolve("plain").toString
      Versioned.commit(Versioned.read(s, src).limit(3), plain)
      val refusedPin = scala.util.Try(
        refreshAgg(s, src, plain, "doc_id", Seq("source"), "n_chars")).isFailure
      Seq((g1, g2, g3, tot.getLong(1), tot.getLong(2), tot.getLong(3),
          rFrom.toLong, rTo.toLong, if (eq) 1L else 0L,
          if (noopOk) 1L else 0L, if (fkExact) 1L else 0L,
          if (refusedPin) 1L else 0L))
        .toDF("groups_v1", "groups_v2", "groups_v3", "rows_v3",
          "charsum_v3", "charcnt_v3", "refresh_from", "refresh_to",
          "eq_full_recompute", "noop_stable", "foreign_key_exact",
          "refused_unpinned")
    }

  /** Driver-visible gate (q55): the SQL MATERIALIZED VIEW lifecycle —
    * CREATE MATERIALIZED VIEW bootstraps the build and persists the
    * spec in the view's own table properties, `CALL refresh_mv(view)`
    * advances BOTH kinds argument-free (the spec reads back from the
    * properties), the advanced states equal full recomputes, a no-op
    * refresh holds the pin, and DROP MATERIALIZED VIEW removes the
    * view. Every fact reduces to a constant DuckDB restates from the
    * documents fixture. */
  def mvLifecycleGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-mvddl-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val src = abs("src"); val mv = abs("mv"); val aggmv = abs("aggmv")
      // the pooled source family (see [[cloneMvDocsSrc]])
      cloneMvDocsSrc(s, d, src)
      // the derived and aggregate views are INDEPENDENT destinations
      // over the same immutable source snapshot — each lifecycle step
      // runs both legs concurrently ([[concurrently]]: the refreshes
      // are ~half driver-side gaps, and the overlap hides one leg's
      // gaps behind the other's jobs)
      val ((cd, rowsV1), (ca, groupsV1)) = concurrently2(
        () => {
          val c = s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` " +
            s"KEY (doc_id) AS SELECT doc_id, source, n_chars * 2 AS w " +
            s"FROM graft.`$src` WHERE n_chars >= 300").head()
          (c, Versioned.read(s, mv).count())
        },
        () => {
          val c = s.sql(s"CREATE MATERIALIZED VIEW graft.`$aggmv` " +
            s"ROW KEY (doc_id) AS SELECT source, sum(n_chars) AS " +
            s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
            s"n_rows FROM graft.`$src` GROUP BY source").head()
          (c, Versioned.read(s, aggmv).count())
        })
      Versioned.append(Versioned.read(s, src + ".app"), src)
      val ((r1, rowsV2), (r2, groupsV2)) = concurrently2(
        () => (s.sql(s"CALL graft.system.refresh_mv('$mv')").head(),
          Versioned.read(s, mv).count()),
        () => (s.sql(s"CALL graft.system.refresh_mv('$aggmv')").head(),
          Versioned.read(s, aggmv).count()))
      // both advanced states equal their full recomputes, in one
      // signed-union shuffle each (the two legs overlap)
      val (eqD, eqA) = concurrently2(
        () => bagEqual(Versioned.read(s, mv),
          s.sql(s"SELECT doc_id, source, n_chars * 2 AS w FROM " +
            s"graft.`$src` WHERE n_chars >= 300")),
        () => bagEqual(Versioned.read(s, aggmv),
          s.sql(s"SELECT source, sum(n_chars) AS sum_n_chars, " +
            s"count(n_chars) AS cnt_n_chars, count(*) AS n_rows FROM " +
            s"graft.`$src` GROUP BY source")))
      // the spec travels in the properties of BOTH views
      val pd = Versioned.properties(s, mv)
      val pa = Versioned.properties(s, aggmv)
      val specOk = pd.get(MvKindProp).contains("derived") &&
        pd.contains(MvQueryProp) && pd.get(MvKeyProp).contains("doc_id") &&
        pa.get(MvKindProp).contains("agg") &&
        pa.get(MvGroupProp).contains("source") &&
        pa.get(MvValueProp).contains("n_chars")
      // a no-op refresh holds the pin and publishes nothing
      val vBefore = Versioned.currentVersion(s, mv)
      val rn = s.sql(s"CALL graft.system.refresh_mv('$mv')").head()
      val noopOk = rn.getInt(1) == rn.getInt(2) &&
        Versioned.currentVersion(s, mv) == vBefore
      s.sql(s"DROP MATERIALIZED VIEW graft.`$mv`")
      val dropped = Versioned.currentVersion(s, mv) == 0
      import s.implicits._
      Seq((if (cd.getString(0) == "derived") 1L else 0L,
          if (ca.getString(0) == "agg") 1L else 0L,
          rowsV1, groupsV1,
          r1.getInt(1).toLong, r1.getInt(2).toLong,
          r2.getInt(1).toLong, r2.getInt(2).toLong,
          rowsV2, groupsV2,
          if (eqD) 1L else 0L, if (eqA) 1L else 0L,
          if (specOk) 1L else 0L, if (noopOk) 1L else 0L,
          if (dropped) 1L else 0L))
        .toDF("created_derived", "created_agg", "rows_v1", "groups_v1",
          "mv_from", "mv_to", "agg_from", "agg_to", "rows_v2",
          "groups_v2", "eq_derived", "eq_agg", "spec_props",
          "noop_stable", "dropped")
    }

  /** Driver-visible gate (q57): the MV SHAPES surface — a FILTERED
    * aggregate view (WHERE under GROUP BY, the single most common MV
    * in practice), a MULTI-COLUMN group tuple, an EXPRESSION-VALUED
    * group key with the AVG spelling (`GROUP BY date_trunc('DAY',
    * ts)` + `avg(v) AS avg_v` over an events slice — the
    * time-bucketed rollup, r17), and the staleness contract with
    * BOTH actions (`mv.max-staleness-versions` refuses a stale read,
    * refresh clears it; `mv.refresh-on-read` makes the read advance
    * the view itself), all spelled in pure SQL. Every view advances
    * through a source append and equals its full recompute; every
    * count reduces to a fixture constant DuckDB restates over the
    * bounded doc_id < 600 / event_id < 500 slices (boundary-crossing
    * edits are pinned by q52/q54 and the MvSpec/DerivedSpec
    * lifecycles — this gate pins the SHAPES and the freshness
    * contract). */
  def mvShapesGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-mvshapes-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val src = abs("src"); val fmv = abs("fmv"); val mmv = abs("mmv")
      cloneMvShapeSrc(s, d, src)
      val bsrc = src + ".ev"; val bmv = abs("bmv")
      // the three views (filtered, multi-column, day-bucketed) are
      // INDEPENDENT destinations — creates, appends and refreshes run
      // concurrently per step ([[concurrently]]); the day-bucketed leg
      // rides its own `.ev` source, so its create/append/refresh
      // overlap the docs-sourced legs' too. Ordering within each leg
      // (create → its source's append → refresh) is preserved.
      concurrently(
        () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$fmv` ROW KEY " +
          s"(doc_id) AS SELECT source, sum(n_chars) AS sum_n_chars, " +
          s"count(n_chars) AS cnt_n_chars, count(*) AS n_rows " +
          s"FROM graft.`$src` WHERE n_chars >= 300 GROUP BY source"),
        () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$mmv` ROW KEY " +
          s"(doc_id) AS SELECT source, lang, sum(n_chars) AS " +
          s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
          s"n_rows FROM graft.`$src` GROUP BY source, lang"),
        // the r17 expression-group-key + avg leg: a day-bucketed
        // rollup over the exact-cents events slice (`.ev`)
        () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$bmv` ROW KEY " +
          s"(event_id) AS SELECT date_trunc('DAY', ts) AS day, " +
          s"sum(cents) AS sum_cents, count(cents) AS cnt_cents, " +
          s"count(*) AS n_rows, avg(cents) AS avg_cents " +
          s"FROM graft.`$bsrc` GROUP BY date_trunc('DAY', ts)"))
      val specWhere = Versioned.properties(s, fmv)
        .get(MvWhereProp).exists(_.contains("300")) &&
        Versioned.properties(s, mmv).get(MvGroupProp)
          .contains("source,lang")
      concurrently(
        () => Versioned.append(Versioned.read(s, src + ".app"), src),
        () => Versioned.append(Versioned.read(s, src + ".evapp"), bsrc))
      concurrently(
        () => s.sql(s"CALL graft.system.refresh_mv('$fmv')"),
        () => s.sql(s"CALL graft.system.refresh_mv('$mmv')"),
        () => s.sql(s"CALL graft.system.refresh_mv('$bmv')"))
      // the staleness contract: bound the filtered view at lag 0,
      // advance the source head with a METADATA-ONLY commit (lag
      // counts source versions — exactly what a bounded reader must
      // refuse on, and the cheapest honest way to create it), assert
      // the catalog read refuses naming the property, and clear it
      // with a refresh (a zero-event range advances the pin through a
      // note-only commit — the dead-range discipline doing double duty)
      s.sql(s"ALTER TABLE graft.`$fmv` SET TBLPROPERTIES " +
        s"('$MvMaxStalenessProp'='0')")
      Versioned.commitNote(s, src, "audit-marker")
      val staleRefused = scala.util.Try(
        s.sql(s"SELECT * FROM graft.`$fmv`").collect()) match {
        case scala.util.Failure(e) =>
          e.getMessage.contains(MvMaxStalenessProp)
        case _ => false
      }
      s.sql(s"CALL graft.system.refresh_mv('$fmv')")
      val freshAfter = scala.util.Try(
        s.sql(s"SELECT count(*) FROM graft.`$fmv`").collect()).isSuccess
      // the OTHER staleness action: opt into refresh-on-read, go stale
      // again (metadata-only head bump), and the next catalog read
      // advances the view ITSELF — served fresh, pin caught up, no
      // manual refresh
      s.sql(s"ALTER TABLE graft.`$fmv` SET TBLPROPERTIES " +
        s"('$MvRefreshOnReadProp'='true')")
      Versioned.commitNote(s, src, "audit-marker-2")
      val autoRefreshed = scala.util.Try(
        s.sql(s"SELECT count(*) FROM graft.`$fmv`").collect()).isSuccess &&
        refreshState(s, fmv).exists(_._3 == 0)
      // (the day-bucketed leg's create/append/refresh ran above,
      // overlapped with the docs-sourced legs)
      val bProps = Versioned.properties(s, bmv)
      val specBucket = bProps.get(MvGroupExprPrefix + "day")
        .exists(_.contains("date_trunc")) &&
        bProps.get(MvAvgProp).contains("cents")
      // —— the three views' scalar facts in ONE tagged job, and the
      // three full-recompute equalities in ONE signed-union job (the
      // q58 fold discipline) — sound to defer past the staleness legs
      // because those only add METADATA commits (note-only), never
      // data, and path reads are staleness-exempt
      def st(df: DataFrame, tag: String, sm: Column): DataFrame =
        df.select(lit(tag).as("t"), sm.cast("long").as("sm"))
      def statsJob() =
        st(Versioned.read(s, fmv), "f", col("sum_n_chars"))
        .unionByName(st(Versioned.read(s, mmv), "m", col("n_rows")))
        .unionByName(st(Versioned.read(s, bmv), "b", col("sum_cents")))
        .groupBy(col("t")).agg(count(lit(1)).as("g"),
          sum(col("sm")).as("sm"))
        .collect().map(r => r.getString(0) -> r).toMap
      def norm(df: DataFrame, tag: String, w: Long): DataFrame = {
        val cs = df.columns.zipWithIndex.map { case (c, i) =>
          col(c).cast("string").as(s"c${i + 1}") }
        val pad = (df.columns.length until 5).map(i =>
          lit(null).cast("string").as(s"c${i + 1}"))
        df.select(lit(tag).as("t") +: (cs ++ pad) :+
          lit(w).as("w"): _*)
      }
      def badLegsJob() = norm(Versioned.read(s, fmv), "f", 1L)
        .unionByName(norm(s.sql(s"SELECT source, sum(n_chars) AS " +
          s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
          s"n_rows FROM graft.`$src` WHERE n_chars >= 300 " +
          "GROUP BY source"), "f", -1L))
        .unionByName(norm(Versioned.read(s, mmv), "m", 1L))
        .unionByName(norm(s.sql(s"SELECT source, lang, sum(n_chars) " +
          s"AS sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) " +
          s"AS n_rows FROM graft.`$src` GROUP BY source, lang"),
          "m", -1L))
        .unionByName(norm(Versioned.read(s, bmv), "b", 1L))
        .unionByName(norm(s.sql(s"SELECT date_trunc('DAY', ts) AS " +
          s"day, sum(cents) AS sum_cents, count(cents) AS cnt_cents, " +
          s"count(*) AS n_rows, avg(cents) AS avg_cents FROM " +
          s"graft.`$bsrc` GROUP BY date_trunc('DAY', ts)"), "b", -1L))
        .groupBy(col("t"), col("c1"), col("c2"), col("c3"), col("c4"),
          col("c5"))
        .agg(sum(col("w")).as("d")).filter(col("d") =!= 0L)
        .select(col("t")).distinct().collect().map(_.getString(0)).toSet
      // the two verification collects are independent reads of the same
      // published states — overlap them (guide §2.6)
      val (stats, badLegs) = concurrently2(
        () => statsJob(), () => badLegsJob())
      import s.implicits._
      Seq((stats("f").getLong(1), stats("f").getLong(2),
          stats("m").getLong(1), stats("m").getLong(2),
          if (!badLegs("f")) 1L else 0L, if (!badLegs("m")) 1L else 0L,
          if (specWhere) 1L else 0L, if (staleRefused) 1L else 0L,
          if (freshAfter) 1L else 0L, if (autoRefreshed) 1L else 0L,
          stats("b").getLong(1), stats("b").getLong(2),
          if (!badLegs("b")) 1L else 0L,
          if (specBucket) 1L else 0L))
        .toDF("groups_f", "sum_f", "groups_m", "rows_m",
          "eq_filtered", "eq_multi", "spec_where", "stale_refused",
          "fresh_after", "auto_refreshed", "groups_b", "sum_b",
          "eq_bucketed", "spec_bucket")
    }

  /** Driver-visible gate (q58): the JOIN materialized view and MV
    * CHAINING — a fact⋈dim enrichment view created in pure SQL
    * (filtered, inner, N:1), advanced through a fact append AND a
    * dim-side edit batch (a relabel + a dim-key delete — the
    * takedown shape), plus a GOLD aggregate view whose SOURCE is the
    * join view itself (bronze→silver→gold: one dim edit propagates
    * through two chained refreshes). Every state equals its full
    * recompute; every count reduces to a fixture constant DuckDB
    * restates over the bounded doc_id < 600 slice. */
  def joinMvGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-joinmv-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val fact = abs("fact"); val jmv = abs("jmv"); val gold = abs("gold")
      cloneMvJoinSrc(s, d, fact)
      val dim = fact + ".dim"
      val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$jmv` " +
        s"KEY (doc_id) AS SELECT f.doc_id, f.source, d.src_label, " +
        s"f.n_chars FROM graft.`$fact` f JOIN graft.`$dim` d " +
        s"ON f.source = d.source WHERE f.n_chars >= 300").head()
      // fact-side delta: append the 400-599 slice, refresh
      Versioned.append(Versioned.read(s, fact + ".app"), fact)
      s.sql(s"CALL graft.system.refresh_mv('$jmv')")
      // GOLD rides the silver view: an aggregate MV whose source IS
      // the join view (its CDC commits feed refreshAgg's changelog
      // read like any table's)
      s.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` ROW KEY " +
        s"(doc_id) AS SELECT src_label, sum(n_chars) AS sum_n_chars, " +
        s"count(n_chars) AS cnt_n_chars, count(*) AS n_rows " +
        s"FROM graft.`$jmv` GROUP BY src_label")
      // dim-side delta, one atomic batch: the lexicographically FIRST
      // source relabels (affected facts must re-derive), the LAST
      // deletes (its facts must leave the inner join) — then the edit
      // propagates silver → gold through two chained refreshes
      val mm = Versioned.read(s, dim)
        .agg(min(col("source")), max(col("source"))).head()
      val (mn, mx) = (mm.getString(0), mm.getString(1))
      import s.implicits._
      Versioned.applyChanges(s, dim,
        upserts = Seq((mn, "RELABELED")).toDF("source", "src_label"),
        deleteKeys = Seq(mx).toDF("source"), key = "source")
      s.sql(s"CALL graft.system.refresh_mv('$jmv')")
      s.sql(s"CALL graft.system.refresh_mv('$gold')")
      // —— every scalar fact in ONE job: the jmv's three lifecycle
      // states (v1 bootstrap / v2 post-append / v3 head — snapshots
      // are immutable, so the time-travel reads ARE the states the
      // lifecycle produced) and the gold head, tagged and union-folded
      def st(df: DataFrame, tag: String, rl: Column,
          sm: Column): DataFrame =
        df.select(lit(tag).as("t"), rl.cast("long").as("rl"),
          sm.cast("long").as("sm"))
      def statsJob() = st(Versioned.read(s, jmv, Some(1)), "v1", lit(0L),
          lit(0L))
        .unionByName(st(Versioned.read(s, jmv, Some(2)), "v2", lit(0L),
          lit(0L)))
        .unionByName(st(Versioned.read(s, jmv), "v3",
          when(col("src_label") === "RELABELED", 1L).otherwise(0L),
          lit(0L)))
        .unionByName(st(Versioned.read(s, gold), "gold", lit(0L),
          col("sum_n_chars")))
        .groupBy(col("t")).agg(count(lit(1)).as("n"),
          sum(col("rl")).as("rl"), sum(col("sm")).as("sm"))
        .collect().map(r => r.getString(0) -> r).toMap
      // —— every full-recompute equality in ONE signed-union job: the
      // v2 leg recomputes against the PINNED inputs it was built from
      // (fact v2 ⋈ dim v1 — time travel makes the deferred check read
      // exactly what the live check read), v3 and gold against the
      // heads; rows normalize to tagged string tuples so all three
      // legs share one aggregation
      def norm(df: DataFrame, tag: String, w: Long): DataFrame =
        df.select(lit(tag).as("t") +:
          df.columns.zipWithIndex.map { case (c, i) =>
            col(c).cast("string").as(s"c${i + 1}") }.toSeq :+
          lit(w).as("w"): _*)
      def jmvSelect(factRel: String, dimRel: String) =
        s"SELECT f.doc_id, f.source, d.src_label, f.n_chars " +
          s"FROM $factRel f JOIN $dimRel d ON f.source = d.source " +
          "WHERE f.n_chars >= 300"
      def badLegsJob() = norm(Versioned.read(s, jmv, Some(2)), "v2", 1L)
        .unionByName(norm(s.sql(jmvSelect(
          s"graft.`$fact` VERSION AS OF 2", s"graft.`$dim` VERSION AS " +
            "OF 1")), "v2", -1L))
        .unionByName(norm(Versioned.read(s, jmv), "v3", 1L))
        .unionByName(norm(s.sql(jmvSelect(s"graft.`$fact`",
          s"graft.`$dim`")), "v3", -1L))
        .unionByName(norm(Versioned.read(s, gold), "gold", 1L))
        .unionByName(norm(s.sql(s"SELECT src_label, sum(n_chars) AS " +
          s"sum_n_chars, count(n_chars) AS cnt_n_chars, count(*) AS " +
          s"n_rows FROM graft.`$jmv` GROUP BY src_label"), "gold", -1L))
        .groupBy(col("t"), col("c1"), col("c2"), col("c3"), col("c4"))
        .agg(sum(col("w")).as("d")).filter(col("d") =!= 0L)
        .select(col("t")).distinct().collect().map(_.getString(0)).toSet
      // the two verification collects are independent reads of the same
      // published states — overlap them (guide §2.6)
      val (stats, badLegs) = concurrently2(
        () => statsJob(), () => badLegsJob())
      Seq((if (created.getString(0) == "join") 1L else 0L,
          stats("v1").getLong(1), stats("v2").getLong(1),
          stats("v3").getLong(1), stats("v3").getLong(2),
          stats("gold").getLong(1), stats("gold").getLong(3),
          if (!badLegs("v2")) 1L else 0L,
          if (!badLegs("v3")) 1L else 0L,
          if (!badLegs("gold")) 1L else 0L))
        .toDF("created_join", "rows_v1", "rows_v2", "rows_v3",
          "relabeled", "gold_groups", "gold_sum", "eq_v2", "eq_v3",
          "eq_gold")
    }

  /** Driver-visible gate (q59): the AGGREGATE-OVER-JOIN materialized
    * view — `SELECT d.src_label, sum/count/avg(f.n_chars)… FROM fact
    * JOIN dim [WHERE] GROUP BY d.src_label` under ONE name,
    * maintained DIRECTLY (r18): sum/cnt/avg are invertible, so no
    * hidden silver materializes — each refresh re-derives the
    * touched fact keys' join output at the pinned versions and
    * patches the groups algebraically, ONE commit per refresh (the
    * silver auto-chain remains for extrema/distinct shapes). The
    * same pooled fact/dim family and the same edit batch as q58
    * (fact append; dim relabel moving one group's rows between
    * labels; a dim-key delete), ONE refresh_mv propagates
    * everything. Final state equals the full recompute; every count
    * reduces to a fixture constant DuckDB restates over the bounded
    * doc_id < 600 slice. */
  def aggJoinMvGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-aggjoinmv-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val fact = abs("fact"); val gold = abs("gold")
      cloneMvJoinSrc(s, d, fact)
      val dim = fact + ".dim"
      val goldSelect = s"SELECT d.src_label, sum(f.n_chars) AS " +
        s"sum_n_chars, count(f.n_chars) AS cnt_n_chars, count(*) AS " +
        s"n_rows, avg(f.n_chars) AS avg_n_chars FROM graft.`$fact` f " +
        s"JOIN graft.`$dim` d ON f.source = d.source " +
        "WHERE f.n_chars >= 300"
      val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
        s"ROW KEY (doc_id) AS $goldSelect GROUP BY d.src_label").head()
      // direct maintenance: NO hidden silver materializes for this
      // invertible shape — the gold is the only table
      val silverAbsent =
        Versioned.currentVersion(s, gold + ".silver") == 0 &&
          Versioned.properties(s, gold).get(MvKindProp)
            .contains("aggjoin")
      // all three legs' edits land, then ONE refresh: fact append, dim
      // relabel (the lexicographically FIRST source's rows MOVE into
      // the RELABELED group), dim-key delete (the LAST source's rows
      // leave the inner join)
      Versioned.append(Versioned.read(s, fact + ".app"), fact)
      val mm = Versioned.read(s, dim)
        .agg(min(col("source")), max(col("source"))).head()
      val (mn, mx) = (mm.getString(0), mm.getString(1))
      import s.implicits._
      Versioned.applyChanges(s, dim,
        upserts = Seq((mn, "RELABELED")).toDF("source", "src_label"),
        deleteKeys = Seq(mx).toDF("source"), key = "source")
      val r = s.sql(s"CALL graft.system.refresh_mv('$gold')").head()
      // state facts in one job; full-recompute equality in one more
      val fin = Versioned.read(s, gold).agg(count(lit(1)).as("g"),
        sum(col("sum_n_chars")).as("sm"),
        sum(when(col("src_label") === "RELABELED", col("n_rows"))
          .otherwise(0L)).as("rl")).head()
      val eq = bagEqual(Versioned.read(s, gold),
        s.sql(goldSelect + " GROUP BY d.src_label"))
      // ONE refresh = ONE destination commit (bootstrap v1 → v2)
      val oneCommit = Versioned.currentVersion(s, gold) == 2
      s.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
      val dropped = Versioned.currentVersion(s, gold) == 0
      Seq((if (created.getString(0) == "aggjoin") 1L else 0L,
          if (silverAbsent) 1L else 0L,
          if (r.getString(0) == "aggjoin" && oneCommit) 1L else 0L,
          fin.getLong(0), fin.getLong(1), fin.getLong(2),
          if (eq) 1L else 0L, if (dropped) 1L else 0L))
        .toDF("created_aggjoin", "silver_absent", "refreshed",
          "gold_groups", "gold_sum", "relabeled_rows", "eq_gold",
          "dropped")
    }

  /** Driver-visible gate (q63): MIXED star/chain join-TREE MVs — a
    * star leg (m ON fact) beside a snowflaked leg (r ON d) under ONE
    * aggregate view name. The CREATE peels the fact⋈d hop into the
    * hidden `.snow` silver; the star leg and the chain's second hop
    * both rewrite onto it (now a star), and the invertible gold
    * maintains DIRECTLY (no `.silver`, exactly one hidden level).
    * One refresh propagates a fact append, a STAR-leg relabel, and a
    * CHAIN-leg relabel; the final state bag-equals the full
    * recompute, and every figure restates in DuckDB over the
    * replayed edits. Rides the q58 pooled family — the two
    * mini-dims derive deterministically from the pooled dim. */
  def treeMvGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-treemv-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val fact = abs("fact"); val gold = abs("gold")
      cloneMvJoinSrc(s, d, fact)
      val dim = fact + ".dim"
      // gate-local mini-dims, derived deterministically from the
      // pooled dim snapshot: a STAR leg keyed on the fact's source
      // column, and a CHAIN leg keyed on the dim's src_label
      val m = abs("m"); val r = abs("r")
      val dimDf = Versioned.read(s, dim)
      Versioned.commit(dimDf.select(col("source").as("src2"))
        .withColumn("m_label", concat(lit("M-"), upper(col("src2")))),
        m)
      Versioned.commit(dimDf.select(col("src_label").as("lbl"))
        .distinct()
        .withColumn("region", concat(lit("R-"), col("lbl"))), r)
      val goldSelect = s"SELECT r.region, m.m_label, " +
        "sum(f.n_chars) AS sum_n_chars, count(f.n_chars) AS " +
        s"cnt_n_chars, count(*) AS n_rows FROM graft.`$fact` f " +
        s"JOIN graft.`$dim` d ON f.source = d.source " +
        s"JOIN graft.`$m` m ON f.source = m.src2 " +
        s"JOIN graft.`$r` r ON d.src_label = r.lbl " +
        "WHERE f.n_chars >= 300"
      val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$gold` " +
        s"ROW KEY (doc_id) AS $goldSelect " +
        "GROUP BY r.region, m.m_label").head()
      // exactly ONE hidden level (the peeled fact⋈d hop), and the
      // invertible gold maintains directly — no .silver, no .snow2
      val snowPresent =
        Versioned.currentVersion(s, gold + ".snow") > 0 &&
          Versioned.currentVersion(s, gold + ".snow2") == 0
      val silverAbsent =
        Versioned.currentVersion(s, gold + ".silver") == 0 &&
          Versioned.properties(s, gold).get(MvKindProp)
            .contains("aggjoin")
      // one edit per leg class, then ONE cascaded refresh: a fact
      // append, the STAR leg relabels min(source)'s m_label, the
      // CHAIN leg relabels max(source)'s region
      Versioned.append(Versioned.read(s, fact + ".app"), fact)
      val mm = Versioned.read(s, dim).agg(min(col("source")),
        max(struct(col("source"), col("src_label")))).head()
      val mn = mm.getString(0)
      val mxLbl = mm.getStruct(1).getString(1)
      import s.implicits._
      Versioned.upsert(s, m,
        Seq((mn, "M-RELABELED")).toDF("src2", "m_label"), "src2")
      Versioned.upsert(s, r,
        Seq((mxLbl, "R-MOVED")).toDF("lbl", "region"), "lbl")
      val rr = s.sql(s"CALL graft.system.refresh_mv('$gold')").head()
      // state facts in one job; full-recompute equality in one more
      val fin = Versioned.read(s, gold).agg(count(lit(1)).as("g"),
        sum(col("sum_n_chars")).as("sm"),
        sum(when(col("m_label") === "M-RELABELED", col("n_rows"))
          .otherwise(0L)).as("rl"),
        sum(when(col("region") === "R-MOVED", col("n_rows"))
          .otherwise(0L)).as("mv")).head()
      val eq = bagEqual(Versioned.read(s, gold),
        s.sql(goldSelect + " GROUP BY r.region, m.m_label"))
      s.sql(s"DROP MATERIALIZED VIEW graft.`$gold`")
      val dropped = Versioned.currentVersion(s, gold) == 0 &&
        Versioned.currentVersion(s, gold + ".snow") == 0
      Seq((if (created.getString(0) == "aggjoin") 1L else 0L,
          if (snowPresent) 1L else 0L,
          if (silverAbsent) 1L else 0L,
          if (rr.getString(0) == "aggjoin") 1L else 0L,
          fin.getLong(0), fin.getLong(1), fin.getLong(2),
          fin.getLong(3),
          if (eq) 1L else 0L, if (dropped) 1L else 0L))
        .toDF("created_aggjoin", "snow_present", "silver_absent",
          "refreshed", "gold_groups", "gold_sum", "star_relabeled_rows",
          "chain_moved_rows", "eq_gold", "dropped")
    }

  /** Driver-visible gate (q64): AUTOMATIC QUERY REWRITE over a
    * registered aggregate MV ([[graft.plans.MvRewriteRule]]) — a
    * matching GROUP BY query over the SOURCE serves from the view
    * when the view's pin equals the scanned snapshot. The gate
    * asserts the substitution PHYSICALLY (the executed plan's scan
    * locations name the view's directory, and stop doing so the
    * moment a source commit stales the pin), and every figure the
    * rewritten plans return restates in DuckDB over the raw slice —
    * the rewrite changes cost, never results. */
  def rewriteMvGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-rwmv-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val src = abs("src"); val mv = abs("mv")
      // the q57/q60 pooled family (docs<400 base + .app slice)
      cloneMvShapeSrc(s, d, src)
      s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` ROW KEY (doc_id) " +
        s"AS SELECT source, sum(n_chars) AS sum_n_chars, " +
        "count(n_chars) AS cnt_n_chars, count(*) AS n_rows " +
        s"FROM graft.`$src` GROUP BY source")
      s.sql(s"CALL graft.system.enable_rewrite('$mv')")
      def served(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.executedPlan.toString.contains(mv)
      def rollup() = s.sql(s"SELECT source, sum(n_chars) AS sm, " +
        s"count(*) AS n FROM graft.`$src` GROUP BY source")
      // exact-group rollup serves from the view (physically asserted)
      val q1 = rollup()
      val rewroteExact = served(q1)
      val f1 = q1.agg(count(lit(1)).as("g"),
        sum(col("sm")).cast("long").as("sm"),
        sum(col("n")).as("n")).head()
      // the GLOBAL twin re-aggregates the view (count via coalesced
      // n_rows sum, avg via the exact sum/cnt quotient)
      val g1 = s.sql(s"SELECT count(*) AS n, avg(n_chars) AS a " +
        s"FROM graft.`$src`")
      val rewroteGlobal = served(g1)
      val gRow = g1.head()
      // a source commit stales the pin: the SAME query falls back to
      // the scan — and stays correct over the appended rows
      Versioned.append(Versioned.read(s, src + ".app"), src)
      val q2 = rollup()
      val staleScan = !served(q2)
      val f2 = q2.agg(sum(col("sm")).cast("long").as("sm"),
        sum(col("n")).as("n")).head()
      // refresh re-pins: the rewrite resumes, figures unchanged
      s.sql(s"CALL graft.system.refresh_mv('$mv')")
      val q3 = rollup()
      val servedAfter = served(q3)
      val f3 = q3.agg(sum(col("sm")).cast("long").as("sm"),
        sum(col("n")).as("n")).head()
      val eqRefresh = f2.getLong(0) == f3.getLong(0) &&
        f2.getLong(1) == f3.getLong(1)
      // disable deregisters: the same query scans again
      s.sql(s"CALL graft.system.disable_rewrite('$mv')")
      val disabledScan = !served(rollup())
      s.sql(s"DROP MATERIALIZED VIEW graft.`$mv`")
      import s.implicits._
      Seq((1L, if (rewroteExact) 1L else 0L, f1.getLong(0),
          f1.getLong(1), f1.getLong(2),
          if (rewroteGlobal) 1L else 0L, gRow.getDouble(1),
          if (staleScan) 1L else 0L, f2.getLong(0), f2.getLong(1),
          if (servedAfter) 1L else 0L, if (eqRefresh) 1L else 0L,
          if (disabledScan) 1L else 0L))
        .toDF("registered", "rewrote_exact", "groups_v1", "sum_v1",
          "rows_v1", "rewrote_global", "avg_v1", "stale_scan",
          "sum_v2", "rows_v2", "served_after_refresh", "eq_refresh",
          "disabled_scan")
    }

  /** Driver-visible gate (q60): DISTINCT-COUNT measures in an
    * aggregate MV, both spellings over ONE pooled source —
    * `approx_count_distinct(lang) AS adc_lang` stores the HLL
    * estimate plus the mergeable sketch, maintained through an
    * INSERT-ONLY refresh (sketch merge, no recompute read) and a
    * LOSS batch (a lang update + key deletes — the affected groups
    * recompute their sketches from the pinned snapshot); and the
    * EXACT twin `count(DISTINCT lang) AS cd_lang`, which recomputes
    * the touched groups on EVERY refresh (exact distinct is
    * non-invertible in both directions — the extrema discipline
    * extended to the insert path). At the fixture's cardinalities
    * the sketch is EXACT (LIST/SET coupon mode), so estimates and
    * exact counts alike restate as DuckDB's count(DISTINCT) over the
    * same replayed edits — hash facts, not tolerances. */
  def distinctMvGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-adcmv-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val src = abs("src"); val mv = abs("mv"); val cdmv = abs("cdmv")
      // the pooled source family q57 shares (see [[cloneMvShapeSrc]])
      cloneMvShapeSrc(s, d, src)
      // the sketch view and its EXACT twin (count(DISTINCT lang)) are
      // INDEPENDENT destinations over the same immutable source
      // snapshot — every lifecycle step runs both legs concurrently
      // ([[concurrently]]): each leg is ~half driver-side gaps, and the
      // overlap hides one leg's gaps behind the other's jobs
      concurrently(
        () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` ROW KEY " +
          s"(doc_id) AS SELECT source, sum(n_chars) AS sum_n_chars, " +
          "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
          s"approx_count_distinct(lang) AS adc_lang FROM graft.`$src` " +
          "GROUP BY source"),
        // the EXACT twin over the SAME source clone: every refresh
        // recomputes the touched groups (both the insert-only and the
        // loss batch below)
        () => s.sql(s"CREATE MATERIALIZED VIEW graft.`$cdmv` ROW KEY " +
          s"(doc_id) AS SELECT source, sum(n_chars) AS sum_n_chars, " +
          "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
          s"count(DISTINCT lang) AS cd_lang FROM graft.`$src` " +
          "GROUP BY source"))
      // insert-only append → the MERGE path for the sketch MV (no
      // recompute read) and the recompute path for the exact MV
      Versioned.append(Versioned.read(s, src + ".app"), src)
      concurrently(
        () => s.sql(s"CALL graft.system.refresh_mv('$mv')"),
        () => s.sql(s"CALL graft.system.refresh_mv('$cdmv')"))
      // loss batch: one row's lang moves to a brand-new value and
      // every doc_id % 50 == 0 dies → the RECOMPUTE path; the edit
      // inputs derive from the source itself (post-append it IS the
      // bounded slice)
      val all = Versioned.read(s, src)
      Versioned.applyChanges(s, src,
        upserts = all.filter(col("doc_id") === 1)
          .withColumn("lang", lit("zz")),
        deleteKeys = all.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id")),
        key = "doc_id")
      concurrently(
        () => s.sql(s"CALL graft.system.refresh_mv('$mv')"),
        () => s.sql(s"CALL graft.system.refresh_mv('$cdmv')"))
      // BOTH MVs' three lifecycle states' facts in ONE tagged job
      // (snapshots are immutable — the time-travel reads ARE the
      // states); the exact MV's per-state sums must equal the sketch
      // MV's (the sketch is exact at these cardinalities)
      def st(df: DataFrame, c: String, tag: String): DataFrame =
        df.select(lit(tag).as("t"), col(c).cast("long").as("a"))
      val stats = st(Versioned.read(s, mv, Some(1)), "adc_lang", "v1")
        .unionByName(st(Versioned.read(s, mv, Some(2)), "adc_lang",
          "v2"))
        .unionByName(st(Versioned.read(s, mv), "adc_lang", "v3"))
        .unionByName(st(Versioned.read(s, cdmv, Some(1)), "cd_lang",
          "c1"))
        .unionByName(st(Versioned.read(s, cdmv, Some(2)), "cd_lang",
          "c2"))
        .unionByName(st(Versioned.read(s, cdmv), "cd_lang", "c3"))
        .groupBy(col("t")).agg(count(lit(1)).as("g"), sum(col("a"))
          .as("a"))
        .collect().map(r => r.getString(0) -> r).toMap
      // the DEFINITIONS' columns (estimate and exact alike) equal the
      // EXACT recompute — count(DISTINCT lang) — one signed-union job
      // each
      def exactSql(alias: String) =
        s.sql("SELECT source, sum(n_chars) AS sum_n_chars, " +
          "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
          s"count(DISTINCT lang) AS $alias FROM graft.`$src` " +
          "GROUP BY source")
      val (eq, eqCd) = concurrently2(
        () => bagEqual(
          Versioned.read(s, mv).select(col("source"),
            col("sum_n_chars"), col("cnt_n_chars"), col("n_rows"),
            col("adc_lang")),
          exactSql("adc_lang")),
        () => bagEqual(Versioned.read(s, cdmv), exactSql("cd_lang")))
      val specOk = Versioned.properties(s, mv)
        .get(MvDistinctProp).contains("lang")
      val specCdOk = Versioned.properties(s, cdmv)
        .get(MvExactDistinctProp).contains("lang")
      import s.implicits._
      Seq((stats("v1").getLong(1), stats("v1").getLong(2),
          stats("v2").getLong(1), stats("v2").getLong(2),
          stats("v3").getLong(1), stats("v3").getLong(2),
          stats("c1").getLong(2), stats("c2").getLong(2),
          stats("c3").getLong(2),
          if (eq) 1L else 0L, if (eqCd) 1L else 0L,
          if (specOk) 1L else 0L, if (specCdOk) 1L else 0L))
        .toDF("groups_v1", "adcsum_v1", "groups_v2", "adcsum_v2",
          "groups_v3", "adcsum_v3", "cdsum_v1", "cdsum_v2", "cdsum_v3",
          "eq_exact", "eq_exact_cd", "spec_distinct", "spec_exact")
    }

  /** Driver-visible gate (q62): EXPRESSION-VALUED measures — the
    * TPC-H Q1 pricing summary as ONE delta-maintained MV.
    * `sum(floor(l_extendedprice * (1 - l_discount) * 100)) AS
    * sum_discc` (and the base/charge/qty twins) each materialize a
    * derived value column on every snapshot-side read; the measures
    * stay in exact integer CENTS (floor over IEEE doubles is
    * engine-stable), so the algebraic patches are exact and every
    * per-state figure restates as a DuckDB hash fact over the same
    * replayed edits (append, a discount update, modulo deletes). */
  def exprMvGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-exprmv-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val src = abs("src"); val mv = abs("mv")
      cloneMvLineSrc(s, d, src)
      val qty = "floor(l_quantity * 100)"
      val base = "floor(l_extendedprice * 100)"
      val disc = "floor(l_extendedprice * (1 - l_discount) * 100)"
      val charge =
        "floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)"
      val defSel = "SELECT l_returnflag, l_linestatus, " +
        s"sum($qty) AS sum_qtyc, count($qty) AS cnt_qtyc, " +
        s"sum($base) AS sum_basec, count($base) AS cnt_basec, " +
        s"sum($disc) AS sum_discc, count($disc) AS cnt_discc, " +
        s"sum($charge) AS sum_chargec, count($charge) AS cnt_chargec, " +
        "count(*) AS n_rows, " +
        s"avg($qty) AS avg_qtyc, avg($base) AS avg_basec, " +
        s"avg($disc) AS avg_discc FROM "
      val groupTail = "GROUP BY l_returnflag, l_linestatus"
      val created = s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` " +
        s"ROW KEY (rid) AS $defSel graft.`$src` $groupTail").head()
      // insert-only append → the pure algebraic patch on the derived
      // stream (no recompute read: every measure here is invertible)
      Versioned.append(Versioned.read(s, src + ".app"), src)
      s.sql(s"CALL graft.system.refresh_mv('$mv')")
      // mixed batch: a discount update moves three derived measures in
      // place, modulo deletes shrink every group
      val all = Versioned.read(s, src)
      Versioned.applyChanges(s, src,
        upserts = all.filter(col("l_linenumber") === 1 &&
            col("l_orderkey") % 500 === 0)
          .withColumn("l_discount", lit(0.5)),
        deleteKeys = all.filter(col("rid") % 37 === 0)
          .select(col("rid")),
        key = "rid")
      s.sql(s"CALL graft.system.refresh_mv('$mv')")
      // the three states' facts in ONE tagged job
      def st(df: DataFrame, tag: String): DataFrame =
        df.select(lit(tag).as("t"), col("sum_discc").as("dc"),
          col("sum_chargec").as("ch"))
      val stats = st(Versioned.read(s, mv, Some(1)), "v1")
        .unionByName(st(Versioned.read(s, mv, Some(2)), "v2"))
        .unionByName(st(Versioned.read(s, mv), "v3"))
        .groupBy(col("t")).agg(count(lit(1)).as("g"),
          sum(col("dc")).as("dc"), sum(col("ch")).as("ch"))
        .collect().map(r => r.getString(0) -> r).toMap
      // the DEFINITION (sums, counts, and stored avg quotients alike)
      // equals a full recompute — one signed-union job
      val eq = bagEqual(Versioned.read(s, mv),
        s.sql(s"$defSel graft.`$src` $groupTail"))
      // the spec persists one argument text per derived measure name
      val specN = Versioned.properties(s, mv).keys
        .count(_.startsWith(MvValueExprPrefix)).toLong
      import s.implicits._
      Seq((if (created.getString(0) == "agg") 1L else 0L,
          stats("v1").getLong(1), stats("v1").getLong(2),
          stats("v2").getLong(1), stats("v2").getLong(2),
          stats("v3").getLong(1), stats("v3").getLong(2),
          stats("v3").getLong(3),
          if (eq) 1L else 0L, specN))
        .toDF("created_agg", "groups_v1", "discsum_v1", "groups_v2",
          "discsum_v2", "groups_v3", "discsum_v3", "chargesum_v3",
          "eq_recompute", "spec_exprs")
    }

  /** Driver-visible gate (q61): KLL QUANTILE-SKETCH measures in an
    * aggregate MV — `graft_kll(n_chars) AS kll_n_chars` stores
    * mergeable percentile state per group, maintained through an
    * INSERT-ONLY refresh (sketch merge) and a LOSS batch (deletes +
    * a value update — affected groups recompute). At the fixture's
    * sub-k cardinalities the sketch is EXACT, so the p100 quantile
    * per group IS the group max — DuckDB restates those sums over
    * the replayed edits — and the p50 equality against Spark's own
    * percentile_disc recompute reduces to a 0/1 flag. */
  def kllMvGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-kllmv-gate") { work =>
      def abs(n: String) = work.resolve(n).toAbsolutePath.toString
      val src = abs("src"); val mv = abs("mv")
      // the q57/q60 pooled family (docs<400 base + .app slice)
      cloneMvShapeSrc(s, d, src)
      s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` ROW KEY (doc_id) " +
        s"AS SELECT source, sum(n_chars) AS sum_n_chars, " +
        "count(n_chars) AS cnt_n_chars, count(*) AS n_rows, " +
        s"graft_kll(n_chars) AS kll_n_chars FROM graft.`$src` " +
        "GROUP BY source")
      // insert-only append → the sketch MERGE path
      Versioned.append(Versioned.read(s, src + ".app"), src)
      s.sql(s"CALL graft.system.refresh_mv('$mv')")
      // loss batch: one value rewritten to a new per-group maximum and
      // every doc_id % 50 == 0 deleted → the RECOMPUTE path
      val all = Versioned.read(s, src)
      Versioned.applyChanges(s, src,
        upserts = all.filter(col("doc_id") === 1)
          .withColumn("n_chars", lit(99999L)),
        deleteKeys = all.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id")),
        key = "doc_id")
      s.sql(s"CALL graft.system.refresh_mv('$mv')")
      // the three states' facts in ONE tagged job: per-version group
      // count and the sum of per-group p100 (= exact max at sub-k
      // cardinality — the cross-engine-unambiguous rank)
      def st(df: DataFrame, tag: String): DataFrame =
        df.select(lit(tag).as("t"),
          call_function("graft_kll_quantile", col("kll_n_chars"),
            lit(1.0)).cast("long").as("p100"))
      val stats = st(Versioned.read(s, mv, Some(1)), "v1")
        .unionByName(st(Versioned.read(s, mv, Some(2)), "v2"))
        .unionByName(st(Versioned.read(s, mv), "v3"))
        .groupBy(col("t")).agg(count(lit(1)).as("g"),
          sum(col("p100")).as("p")).collect()
        .map(r => r.getString(0) -> r).toMap
      // p50 equality against the engine's own exact percentile — one
      // job; both sides are order statistics on the same sub-k data
      val eq = bagEqual(
        Versioned.read(s, mv).select(col("source"),
          call_function("graft_kll_quantile", col("kll_n_chars"),
            lit(0.5)).as("p50")),
        s.sql("SELECT source, percentile_disc(0.5) WITHIN GROUP " +
          s"(ORDER BY CAST(n_chars AS DOUBLE)) AS p50 FROM " +
          s"graft.`$src` GROUP BY source"))
      val specOk = Versioned.properties(s, mv)
        .get(MvKllProp).contains("n_chars")
      import s.implicits._
      Seq((stats("v1").getLong(1), stats("v1").getLong(2),
          stats("v2").getLong(1), stats("v2").getLong(2),
          stats("v3").getLong(1), stats("v3").getLong(2),
          if (eq) 1L else 0L, if (specOk) 1L else 0L))
        .toDF("groups_v1", "p100sum_v1", "groups_v2", "p100sum_v2",
          "groups_v3", "p100sum_v3", "eq_p50", "spec_kll")
    }

  /** Driver-visible gate (q52): a curated projection of the documents
    * table maintained through bootstrap → source append → one atomic
    * mixed batch (updates crossing the filter boundary in BOTH
    * directions + key deletes), each step advanced by [[refresh]] and
    * the final state checked row-for-row against a full recompute.
    * All facts reduce to constants DuckDB derives from the fixture. */
  def derivedRefreshGate(s: SparkSession, d: String): DataFrame =
    withWork("graft-derived-gate") { work =>
      val src = work.resolve("src").toString
      val dst = work.resolve("dst").toString
      val t: DataFrame => DataFrame =
        _.filter(col("n_chars") >= 300)
          .select(col("doc_id"), col("source"),
            (col("n_chars") * 2).as("weight"))
      cloneMvDocsSrc(s, d, src)
      refresh(s, src, dst, "doc_id", t)
      val c1 = Versioned.read(s, dst).count()
      Versioned.append(Versioned.read(s, src + ".app"), src)
      refresh(s, src, dst, "doc_id", t)
      val c2 = Versioned.read(s, dst).count()
      // the edit inputs derive from the source itself (post-append it
      // IS the full docs projection) — no fixture rescan
      val all = Versioned.read(s, src)
      // one atomic CDC batch: two rows updated BELOW the filter bar,
      // two updated above it, plus key deletes — dst must drop the
      // fallers, adopt the risers, and forget the deleted keys
      val updates = all.filter(col("doc_id").isin(1L, 2L, 3L, 4L, 5L))
        .withColumn("n_chars",
          when(col("doc_id") <= 3, lit(0L)).otherwise(lit(9999L)))
      Versioned.applyChanges(s, src, upserts = updates,
        deleteKeys = all.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id")),
        key = "doc_id")
      val (rFrom, rTo) = refresh(s, src, dst, "doc_id", t)
      val c3 = Versioned.read(s, dst).count()
      // full-recompute equality, row-for-row including duplicates —
      // one signed-union shuffle, see [[bagEqual]]
      val eq = bagEqual(Versioned.read(s, dst), t(Versioned.read(s, src)))
      // a no-op refresh must not publish a new destination version
      val vBefore = Versioned.currentVersion(s, dst)
      val noop = refresh(s, src, dst, "doc_id", t)
      val noopOk = noop == ((rTo, rTo)) &&
        Versioned.currentVersion(s, dst) == vBefore
      // refusing a pin-less destination is part of the contract
      val plain = work.resolve("plain").toString
      Versioned.commit(Versioned.read(s, src).limit(3), plain)
      val refused = scala.util.Try(
        refresh(s, src, plain, "doc_id", t)).isFailure
      import s.implicits._
      Seq((c1, c2, c3, rFrom.toLong, rTo.toLong,
          if (eq) 1L else 0L, if (noopOk) 1L else 0L,
          if (refused) 1L else 0L))
        .toDF("rows_v1", "rows_v2", "rows_v3", "refresh_from",
          "refresh_to", "eq_full_recompute", "noop_stable",
          "refused_unpinned")
    }
}
