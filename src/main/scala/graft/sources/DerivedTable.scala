package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained DERIVED tables — materialized-view
  * refresh driven by snapshot diffs, the composition the lakehouse
  * protocol exists to enable (the "medallion" bronze→silver step,
  * Iceberg's `create_changelog_view(net_changes => true)` consumer,
  * Delta's `MERGE`-from-CDF recipe): a destination table holds
  * `transform(source)` and each refresh advances it by reading ONLY
  * what changed since the last refresh — ONE net diff of the pinned
  * and head source snapshots ([[Versioned.netChanges]], planned from
  * their two manifests, never a per-commit walk: it scans the changed
  * files and the files a window tombstone may touch, and aggregates
  * only the changed files' rows and the rows those tombstones match)
  * — and landing ONE atomic [[Versioned.applyChanges]] commit. Which
  * files an equality tombstone may touch is decided by the source's
  * stats on the tombstone key; without them every older file is
  * scanned once.
  *
  * The processed source version is pinned in the destination's own
  * commit note (`src=vN` — the same pin discipline as the persisted
  * search indexes), so the cursor travels WITH the table: any engine
  * or session resumes from the note, a crashed refresh never
  * half-advances (note and data land in one commit), and time travel
  * over the destination shows which source version each state
  * reflects. A window whose diff is empty (metadata-only commits,
  * churn that cancels) still advances the pin with a note-only
  * commit.
  *
  * Contract on [[refresh]]'s `transform`: ROW-PURE with respect to `key`
  * — each output row derives from the single input row with the same
  * key value, keys pass through unchanged, and dropping a row
  * (filtering) is allowed. That is exactly the class where row-level
  * deltas propagate without recomputation: a key's row on the diff's
  * +1 side is its new state and maps to an upsert of its transformed
  * row (or a delete, when the transform filters it out — a row can
  * cross the filter boundary in either direction on update), and a
  * key with only −1 rows maps to a key delete. Aggregating transforms
  * need their own algebra ([[refreshAgg]] feeds the signed rows
  * through one), and joins re-derive their touched keys
  * ([[refreshJoinStar]]).
  *
  * Scale shape per refresh: one net diff, one CoW/MoR commit touching
  * only files holding changed keys. On a source with stats on its
  * delete keys nothing scales with its total size or history length;
  * a full rebuild happens exactly once, at bootstrap. */
object DerivedTable {

  // —— materialized-view spec persistence ——
  // `CREATE MATERIALIZED VIEW` (graft.plans.MvDdl) stores the view's
  // definition in the DESTINATION's own table properties, so the spec
  // travels with the bytes exactly like the src=vN pin does: any
  // session (or engine reading `_props`) can refresh the view with no
  // caller-supplied arguments — `CALL graft.system.refresh_mv(dest)`
  // reads these back and dispatches to [[refresh]] / [[refreshAgg]].
  val MvKindProp = "graft.mv.kind" // "derived" | "agg" | "join"
  val MvSourceProp = "graft.mv.source" // resolved source table dir
  val MvKeyProp = "graft.mv.key" // derived/join: the row key
  val MvRowKeyProp = "graft.mv.row_key" // agg: the SOURCE row identity
  val MvGroupProp = "graft.mv.group_by" // agg: csv of group columns
  val MvValueProp = "graft.mv.value" // agg: the summed value column
  val MvExtremaProp = "graft.mv.extrema" // agg: csv of min/max columns
  val MvWhereProp = "graft.mv.where" // agg: WHERE predicate text
  // agg: one per EXPRESSION-VALUED group key — the SQL text of the
  // bucket expression a derived group column materializes on every
  // snapshot-side read (`graft.mv.group_expr.<name>` → expr text);
  // bare-column groups carry no entry
  val MvGroupExprPrefix = "graft.mv.group_expr."
  // agg: one per EXPRESSION-VALUED measure — the SQL text of the
  // aggregate ARGUMENT a derived value column materializes on every
  // snapshot-side read (`sum(price * (1 - discount)) AS sum_rev`
  // stores `graft.mv.value_expr.rev` → the product's text); bare
  // column measures carry no entry
  val MvValueExprPrefix = "graft.mv.value_expr."
  val MvAvgProp = "graft.mv.avg" // agg: 'true' when avg_<v> is stored
  // agg: csv of approx-distinct columns — each stores adc_<c> (the
  // HLL estimate) plus hll_<c> (the mergeable sketch state, last)
  val MvDistinctProp = "graft.mv.distinct"
  // agg: csv of EXACT distinct-count columns — each stores cd_<c>,
  // maintained by affected-group recompute on EVERY refresh (exact
  // distinct is non-invertible in both directions: an inserted value
  // may already exist, a deleted one may survive on another row)
  val MvExactDistinctProp = "graft.mv.exact_distinct"
  // agg: csv of KLL QUANTILE sketch columns — each stores kll_<c>
  // (mergeable KLL bytes; read quantiles with graft_kll_quantile);
  // maintained like the HLL sketches: inserts merge, loss recomputes
  val MvKllProp = "graft.mv.kll"
  val MvQueryProp = "graft.mv.query" // the AS SELECT text, verbatim
  // join: `;`-separated per-dim fragments, aligned by position and
  // in FROM order — dim dirs, each dim's fk csv, each dim's key csv,
  // each join's type ("inner" | "left"). A two-table view stores one
  // fragment (no `;`), byte-compatible with pre-star specs.
  val MvDimProp = "graft.mv.dim"
  val MvFkProp = "graft.mv.fk"
  val MvDimKeyProp = "graft.mv.dim_key"
  val MvJoinTypeProp = "graft.mv.join_type"
  // user-settable staleness bound (ALTER TABLE SET TBLPROPERTIES):
  // catalog READS of the view refuse when the pin lags the source
  // head by more than this many source commits — see
  // [[freshVersionForRead]]
  val MvMaxStalenessProp = "graft.mv.max-staleness-versions"
  // 'true' flips the over-bound action from REFUSE to AUTO-REFRESH
  // (the Iceberg MV spec's refresh-on-read option): the catalog read
  // advances the view through [[refreshMv]] and serves the NEW head.
  // max-staleness-versions=0 + refresh-on-read=true is the
  // always-fresh spelling; within-bound reads stay cheap (no refresh)
  val MvRefreshOnReadProp = "graft.mv.refresh-on-read"
  val MvPartitionProp = "graft.mv.partition" // destination layout col
  // aggregate-over-join views auto-chain through a HIDDEN silver
  // join view at `<dst>.silver` (a family-suffix sibling, so pooled
  // copies carry it): the gold's spec marks auto_chain so every
  // refresh_mv implicitly cascades through the silver, and the
  // silver names its owner for diagnostics
  val MvAutoChainProp = "graft.mv.auto_chain"
  val MvHiddenSilverOfProp = "graft.mv.hidden_silver_of"
  // DURABLE continuous maintenance: `CALL graft.system.follow_mv`
  // persists the poll interval here, so the follow SURVIVES the
  // session — any later session's first catalog read of the view
  // re-arms a follower (through the staleness memo, costing nothing
  // extra). `unfollow_mv` unsets it; the Scala-API MvFollower.follow
  // stays session-only.
  val MvFollowProp = "graft.mv.follow"
  // aggjoin (direct algebraic aggregate-over-join): the synthesized
  // PROJECTED-SLICE query text — (row key, group…, value…) per
  // surviving joined fact row — that each refresh re-derives the
  // touched keys' join output with; the ORIGINAL definition stays in
  // [[MvQueryProp]]
  val MvSliceProp = "graft.mv.slice"

  /** Freshness state of a materialized view: (pinned source version,
    * source head version, lag). None when `dstDir` is not an MV. The
    * lag counts SOURCE COMMITS — the only monotone unit the pin
    * protocol defines (wall-clock staleness would need commit mtimes,
    * which fs copies and restores rewrite silently). Surfaced live in
    * the catalog's table properties as
    * `graft.mv.source_head_version` / `graft.mv.staleness_versions`
    * beside the pinned version, so `SHOW TBLPROPERTIES` IS the
    * refresh-state view. */
  def refreshState(s: SparkSession,
      dstDir: String): Option[(Int, Int, Int)] = {
    val props = Versioned.properties(s, dstDir)
    if (!props.contains(MvKindProp)) return None
    // non-throwing pin lookup: a buried pin (out-of-band rollback, a
    // foreign note) must DEGRADE the freshness trio to absent, not
    // fail SHOW TBLPROPERTIES / DESCRIBE — the very surfaces one
    // needs to diagnose that state. A join view reports the trio of
    // whichever of its two sources lags MORE (the staleness contract
    // is over the view's WHOLE input) — and only when BOTH pins
    // resolve, the same degrade discipline.
    val legs = refreshLegs(s, dstDir, props)
    if (legs.isEmpty || legs.exists(_._3.isEmpty)) None
    else Some(legs.flatMap { case (_, _, t) => t }.maxBy(_._3))
  }

  /** Per-source freshness legs of a view: (pin key, source dir,
    * Some((pinned version, source head, lag)) — None when that leg's
    * pin is buried). One `src` leg for derived/agg views; `src` +
    * `dim` for join views. */
  private[sources] def refreshLegs(s: SparkSession, dstDir: String,
      props: Map[String, String])
      : Seq[(String, String, Option[(Int, Int, Int)])] =
    legsOver(s, dstDir, legDirsOf(props))

  /** The (pin key → source dir) legs a view's spec declares: one
    * `src` leg, plus one per dim for join views — [[MvDimProp]] is a
    * `;`-separated list (a single dir for the two-table case), whose
    * pin keys are `dim`, `dim2`, `dim3`, … in FROM order (the same
    * fragment names the refresh note carries). */
  private[sources] def legDirsOf(
      props: Map[String, String]): Seq[(String, String)] =
    props.get(MvSourceProp).map("src" -> _).toSeq ++
      props.get(MvDimProp).toSeq.flatMap(_.split(";"))
        .map(_.trim).filter(_.nonEmpty).zipWithIndex.map {
          case (d, i) => (if (i == 0) "dim" else s"dim${i + 1}", d)
        }

  /** [[refreshLegs]] from an already-resolved (pin key → source dir)
    * list — the staleness gate memoizes the dirs beside the bound so
    * a bounded view's hot read path costs pin/head probes only,
    * never a second properties read. The dir rides along so
    * wall-clock staleness can read the unseen commit's timestamp
    * without re-resolving legs. */
  private def legsOver(s: SparkSession, dstDir: String,
      srcs: Seq[(String, String)])
      : Seq[(String, String, Option[(Int, Int, Int)])] =
    srcs.map { case (k, dir) =>
      (k, dir, Versioned.notePin(s, dstDir, k).map { pin =>
        val head = Versioned.currentVersion(s, dir)
        (pin, head, math.max(0, head - pin))
      })
    }

  /** TRANSITIVE freshness legs: the view's own legs, plus — for each
    * source that is ITSELF a materialized view — that source's legs,
    * recursively, keys prefixed by the path (`src.src`, `src.dim`,
    * …). A gold view whose silver source is 50 commits behind the
    * fact table reports that lag here even when gold-vs-silver lag
    * is 0 — the lag a reader actually experiences. Each leg's lag
    * counts ITS OWN source's commits (the only monotone unit each
    * pin protocol defines); the staleness bound gates on the max,
    * i.e. "no hop in my lineage may lag more than N commits of its
    * own upstream". Cycle-guarded (an MV lineage is a DAG by
    * construction — CREATE refuses standing destinations — but
    * out-of-band property edits must not hang the read path). */
  private[sources] def refreshLegsTransitive(s: SparkSession,
      dstDir: String, props: Map[String, String],
      visited: Set[String] = Set.empty)
      : Seq[(String, String, Option[(Int, Int, Int)])] = {
    val dirs = legDirsOf(props)
    legsOver(s, dstDir, dirs) ++ dirs.flatMap { case (k, dir) =>
      if (visited.contains(dir)) Nil
      else transitiveTail(s, k, dir, visited + dstDir + dir)
    }
  }

  /** The transitive continuation below one leg — memoized through
    * [[memoEntry]], so a bounded view's hot read path pays one
    * properties read PER LINEAGE DIR PER HEAD VERSION, not per
    * read. */
  private def transitiveTail(s: SparkSession, k: String, dir: String,
      visited: Set[String])
      : Seq[(String, String, Option[(Int, Int, Int)])] = {
    val subDirs = memoEntry(s, dir).map(_._4).getOrElse(Nil)
    if (subDirs.isEmpty) Nil // a plain table (or empty) ends the walk
    else (legsOver(s, dir, subDirs) ++ subDirs.flatMap {
      case (k2, d2) =>
        if (visited.contains(d2)) Nil
        else transitiveTail(s, k2, d2, visited + d2)
    }).map { case (k2, d2, t) => (s"$k.$k2", d2, t) }
  }

  /** The staleness memo's (head, raw bound, refresh-on-read, leg
    * dirs, MV kind, follow interval) entry for `dir`, filled on miss
    * — None for an empty table. One properties read per dir per head
    * version. Doubles as the DURABLE-FOLLOW re-arm point: a view
    * whose spec carries [[MvFollowProp]] but has no live follower in
    * this JVM gets one armed here — so a restarted session resumes
    * following at its first read of the view, with no extra probe on
    * any path (the containsKey check is the whole cost). */
  private def memoEntry(s: SparkSession, dir: String)
      : Option[(Int, Option[String], Boolean, Seq[(String, String)],
        Option[String], Option[String])] = {
    val head = Versioned.currentVersion(s, dir)
    if (head == 0) return None
    val cached = stalenessMemo.get(dir)
    val e = if (cached != null && cached._1 == head) cached
    else {
      val props = Versioned.properties(s, dir)
      val kind = props.get(MvKindProp)
      val isMv = kind.isDefined
      val b = props.get(MvMaxStalenessProp).filter(_ => isMv)
      val ror = isMv && props.get(MvRefreshOnReadProp)
        .exists(_.trim.equalsIgnoreCase("true"))
      val dirs = if (!isMv) Nil else legDirsOf(props)
      if (stalenessMemo.size > 10000) stalenessMemo.clear()
      val entry = (head, b, ror, dirs, kind,
        props.get(MvFollowProp).filter(_ => isMv))
      stalenessMemo.put(dir, entry)
      entry
    }
    e._6.foreach { raw =>
      val ms = raw.trim.toLongOption.filter(_ > 0).getOrElse(1000L)
      graft.streaming.MvFollower.ensureFollowing(s, dir, ms)
    }
    Some(e)
  }

  // (dir → (view head version, RAW bound text, refresh-on-read,
  // (pin key → source dir) legs, MV kind)) — non-MV and unbounded
  // tables reduce to ONE head-version probe per read after first
  // sight; any commit on the view (including the TBLPROPERTIES change
  // that sets/unsets the bound) bumps the head and refills. The bound
  // memoizes UNPARSED: a malformed value must degrade to no-gate on
  // the non-refusing resolution path (or a typo would brick even the
  // corrective ALTER TABLE) and throw its parse error only where the
  // gate is allowed to refuse. The legs memoize RESOLVED (key, dir)
  // pairs so the over-bound check never re-reads properties; the kind
  // lets the cascade/idle paths answer "is this an MV, of what kind"
  // without one either.
  private val stalenessMemo = new java.util.concurrent
    .ConcurrentHashMap[String,
      (Int, Option[String], Boolean, Seq[(String, String)],
        Option[String], Option[String])]()

  /** Wall-clock staleness from resolved legs: seconds since the
    * OLDEST source commit any lagging leg has not absorbed (the age
    * of the data a reader is missing) — 0 when fully fresh, None
    * when a pin is buried or a lagging leg's unseen commit predates
    * the timestamped ref protocol (degrade to versions-only rather
    * than reporting a confident wrong number). The unit is the
    * commit stamp [[Versioned.commitTimestamp]] — monotone per table
    * by construction, unlike file mtimes. */
  private[sources] def stalenessSecondsFromLegs(s: SparkSession,
      legs: Seq[(String, String, Option[(Int, Int, Int)])])
      : Option[Long] = {
    if (legs.isEmpty || legs.exists(_._3.isEmpty)) return None
    val lagging = legs.collect {
      case (_, dir, Some((pin, _, lag))) if lag > 0 => (dir, pin) }
    if (lagging.isEmpty) return Some(0L)
    val tss = lagging.map { case (dir, pin) =>
      Versioned.commitTimestamp(s, dir, pin + 1) }
    if (tss.exists(_.isEmpty)) None
    else Some(math.max(0L,
      (System.currentTimeMillis() - tss.flatten.min) / 1000L))
  }

  // time-spelled staleness bounds: '30s' / '5m' / '2h' / '1d'
  private val DurationBoundRe = "(?i)^(\\d+)\\s*(s|m|h|d)$".r

  /** A staleness bound is an integer (SOURCE VERSIONS — the exact
    * unit) or a duration (WALL-CLOCK seconds via the commit stamps).
    * None for malformed text. */
  private def parseBound(raw: String): Option[Either[Int, Long]] =
    raw.trim match {
      case DurationBoundRe(n, u) =>
        val mult = u.toLowerCase(java.util.Locale.ROOT) match {
          case "s" => 1L; case "m" => 60L; case "h" => 3600L
          case _ => 86400L
        }
        n.toLongOption.map(v => Right(v * mult))
      case t => t.toIntOption.map(Left(_))
    }

  /** The read-side staleness gate: a view carrying
    * [[MvMaxStalenessProp]] whose lag exceeds the bound REFUSES to
    * serve rather than silently returning stale rows (the Iceberg MV
    * spec's freshness contract) — unless [[MvRefreshOnReadProp]] is
    * set, in which case the read AUTO-REFRESHES the view and serves
    * the new head (the spec's other staleness action; the returned
    * version is what the caller must expand). No-op for plain tables
    * and unbounded views (memoized — one version probe on the read
    * path). `readVersion` is the snapshot the read pinned: an
    * explicit HISTORICAL read (VERSION AS OF / tag below the view
    * head) is exempt — the requested snapshot is immutable and was
    * current when committed; the bound governs reads of the HEAD. A
    * view whose head pin is buried (out-of-band edits) skips the
    * gate rather than bricking reads — the refresh machinery carries
    * its own louder refusal for that state. */
  def freshVersionForRead(s: SparkSession, dstDir: String,
      readVersion: Int, refuseWhenStale: Boolean = true): Int = {
    val (head, rawBound, refreshOnRead, legDirs, _, _) =
      memoEntry(s, dstDir) match {
        case None => return readVersion
        case Some(e) => e
      }
    if (rawBound.isEmpty || readVersion < head) return readVersion
    val bound = rawBound.map { raw =>
      parseBound(raw).getOrElse {
        if (!refuseWhenStale) return readVersion // degrade at load
        throw new IllegalArgumentException(
          s"$MvMaxStalenessProp must be an integer number of " +
            "source versions or a duration like 30s / 5m / 2h / " +
            s"1d, got '$raw'")
      }
    }
    // a view is as stale as its MOST-lagging leg — src or dim…, OWN
    // or TRANSITIVE (a gold view over a lagging silver is stale even
    // at gold-vs-silver lag 0). Computed from the MEMOIZED leg dirs,
    // so the bounded hot path costs pin/head probes (plus one props
    // read per lineage dir per head version), never a per-read
    // properties read.
    val legs = legsOver(s, dstDir, legDirs) ++ legDirs.flatMap {
        case (k, dir) => transitiveTail(s, k, dir, Set(dstDir, dir))
      }
    val worst = legs
      .collect { case (k, _, Some((pin, srcHead, lag))) => (k, pin,
        srcHead, lag) }
      .sortBy(-_._4).headOption
    // a VERSION bound compares the lag directly; a TIME bound
    // compares the age of the oldest unseen source commit (the
    // commit-stamp unit). A time bound over a lagging source that
    // predates stamps refuses on the refusing path (stale and
    // unmeasurable — a silent serve would break the contract) and
    // degrades on the non-refusing one.
    val over: Option[(String, Int, Int, Int, String)] =
      worst.flatMap { case (k, pin, srcHead, lag) =>
        if (lag == 0) None
        else bound.get match {
          case Left(maxV) =>
            if (lag > maxV) Some((k, pin, srcHead, lag,
              s"is $lag source version(s) behind"))
            else None
          case Right(maxS) =>
            stalenessSecondsFromLegs(s, legs) match {
              case Some(age) if age > maxS => Some((k, pin, srcHead,
                lag, s"is $age second(s) behind wall-clock"))
              case Some(_) => None
              case None =>
                if (!refuseWhenStale) return readVersion
                throw new IllegalStateException(
                  s"materialized view at $dstDir lags $lag source " +
                    s"version(s) and its $MvMaxStalenessProp is " +
                    s"time-spelled ('${rawBound.get.trim}'), but a " +
                    "lagging source commit predates timestamped " +
                    "refs — CALL graft.system.refresh_mv once, or " +
                    "use a version-count bound")
            }
        }
      }
    over match {
      case Some((k, pin, srcHead, lag, why)) =>
        if (refreshOnRead) {
          // the read pays the refresh and serves the NEW head — the
          // refresh is idempotent under concurrent readers (a
          // no-op once the pin matches). A FAILING refresh (bound
          // tripped, rolled-back source) degrades on the
          // non-refusing resolution path — ALTER TABLE / SHOW
          // TBLPROPERTIES must keep working to diagnose and fix the
          // very property that is failing — and surfaces its own
          // error only where the gate is allowed to refuse (the
          // scan expansion).
          try {
            // CASCADE: a transitive lag (stale upstream view) can
            // only be cleared upstream-first; own-only refresh would
            // no-op and the read would retry it forever
            refreshMv(s, dstDir, cascade = true)
            val newHead = Versioned.currentVersion(s, dstDir)
            // scan-path race (load already refreshed and captured a
            // head; a source commit landed before expansion): the
            // refresh above advanced the VIEW, but this caller's
            // captured snapshot still reflects the over-bound pin —
            // serving it would break the bound as a hard contract.
            // Refuse with a retry hint instead of silently serving
            // stale under the always-fresh spelling.
            if (refuseWhenStale && newHead > readVersion)
              throw new IllegalStateException(
                s"materialized view at $dstDir went over its " +
                  s"$MvMaxStalenessProp = '${rawBound.get.trim}' " +
                  s"($why) between resolution and scan (concurrent " +
                  "source commits); the view has been " +
                  "auto-refreshed — re-run the query to read the " +
                  "fresh head")
            newHead
          } catch {
            case scala.util.control.NonFatal(_) if !refuseWhenStale =>
              readVersion
          }
        } else if (!refuseWhenStale) readVersion
        else throw new IllegalStateException(
          s"materialized view at $dstDir $why " +
            s"(pinned $k=v$pin, source head v$srcHead), over " +
            s"its $MvMaxStalenessProp = '${rawBound.get.trim}' — " +
            s"CALL graft.system.refresh_mv('$dstDir'), set " +
            s"$MvRefreshOnReadProp = true to refresh on read, or " +
            "raise/unset the bound to read stale")
      case _ => readVersion
    }
  }

  /** [[freshVersionForRead]] for callers that only need the gate's
    * refusal side (no version to advance). */
  def requireFreshEnough(s: SparkSession, dstDir: String,
      readVersion: Option[Int] = None): Unit = {
    freshVersionForRead(s, dstDir,
      readVersion.getOrElse(Versioned.currentVersion(s, dstDir)))
    ()
  }

  /** Refuse engine-level writes INTO a materialized view (SQL DML and
    * INSERT lower through here): an out-of-band edit diverges the
    * view from transform(source), which the NEXT refresh would refuse
    * with a corrupt-pin audit — the eager refusal names the right fix
    * instead. The path-based Scala API stays open: the refresh
    * machinery itself writes through it. */
  def requireNotMv(s: SparkSession, tableDir: String, name: String,
      op: String): Unit =
    require(!Versioned.properties(s, tableDir).contains(MvKindProp),
      s"$name is a materialized view maintained from its source's " +
        s"changelog — $op would diverge it from its definition (the " +
        "next refresh refuses with a corrupt-pin error); edit the " +
        "SOURCE table and CALL graft.system.refresh_mv, or DROP " +
        "MATERIALIZED VIEW first")

  /** A view's declared destination layout: PARTITIONED BY (c) is an
    * identity transform on `c`, the same declared-spec channel as
    * CREATE TABLE … PARTITIONED BY — currentTransform / DESCRIBE /
    * SHOW PARTITIONS all see it, and every refresh commit re-declares
    * it so the layout never silently decays to unpartitioned. */
  private def layoutOf(partitionCol: Option[String])
      : Option[Versioned.Transform] =
    partitionCol.map(c => Versioned.Transform.Identity(c))

  /** A stored view query must be DETERMINISTIC: the incremental
    * refresh re-runs it over touched rows only, so a rand()/uuid()
    * in the projection or WHERE would re-sample per refresh and the
    * view silently diverges from any recompute (the same contract
    * [[refreshAgg]] enforces on its WHERE). The check runs
    * post-analysis — where functions are resolved — over a plan
    * whose table references substitute with EMPTY LOCAL STUBS of the
    * source schemas, so every nondeterministic expression found is
    * the query's OWN: a real input frame's plan may legitimately
    * carry nondeterministic internals (metadata projections, salts)
    * that must not fail a perfectly deterministic view. The sweep
    * covers EVERY node's expressions — the refresh_* procedures
    * accept arbitrary SQL, so a rand() in a join condition, a
    * DISTRIBUTE BY, or an aggregate/window argument must refuse the
    * same as one in SELECT/WHERE. */
  private[sources] def requireDeterministicOver(stubbed: DataFrame,
      queryText: String): Unit = {
    val bad = stubbed.queryExecution.analyzed.collect {
      case n if n.expressions.exists(!_.deterministic) => n.nodeName
    }.distinct
    require(bad.isEmpty,
      s"the view query's ${bad.mkString("/")} is nondeterministic — " +
        "each incremental refresh would re-sample it over the " +
        s"touched rows and the view silently diverges: $queryText")
  }

  /** An empty frame with `schema` — the determinism check's stub. */
  private[sources] def stubOf(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schema)

  /** The row-pure transform a DERIVED materialized view persists: the
    * stored query text re-parses at each refresh and its single table
    * reference is substituted with the refresh's input frame (full
    * source at bootstrap, reduced changed rows incrementally) — plan
    * substitution, not text substitution, so no identifier quoting
    * can break it. The frame aliases as the relation's last name part
    * so `src.col` references keep resolving. */
  def mvTransform(s: SparkSession,
      queryText: String): DataFrame => DataFrame = df => {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    val parsed = s.sessionState.sqlParser.parsePlan(queryText)
    def substituted(frame: DataFrame): (org.apache.spark.sql.catalyst
        .plans.logical.LogicalPlan, Int) = {
      var hits = 0
      val replaced = parsed.transformUp {
        case u: UnresolvedRelation =>
          hits += 1
          SubqueryAlias(u.multipartIdentifier.last,
            frame.queryExecution.analyzed)
      }
      (replaced, hits)
    }
    val (stub, hits) = substituted(stubOf(s, df.schema))
    require(hits == 1, s"the stored materialized-view query must " +
      s"read exactly one table, found $hits: $queryText")
    requireDeterministicOver(
      org.apache.spark.sql.graft.SparkInternals.ofRows(s, stub),
      queryText)
    org.apache.spark.sql.graft.SparkInternals.ofRows(s,
      substituted(df)._1)
  }

  /** The two-table transform a JOIN materialized view persists: the
    * stored query re-parses at each refresh and its two table
    * references substitute with the refresh's input frames — the
    * FIRST relation in the FROM clause is the fact (the side whose
    * touched slice varies per refresh), the second the dim (always
    * the full pinned snapshot). Same plan-substitution discipline as
    * [[mvTransform]]; relations match by their written identifier, so
    * a self-join (identical identifiers) is refused at CREATE. */
  def mvJoinTransform(s: SparkSession,
      queryText: String): (DataFrame, DataFrame) => DataFrame =
    (factDf, dimDf) =>
      mvJoinTransformStar(s, queryText)(factDf, Seq(dimDf))

  /** N-dim [[mvJoinTransform]]: the FIRST relation in the FROM
    * clause is the fact, the rest are the dims IN FROM ORDER (the
    * same order `collect` yields over the left-deep join tree). */
  def mvJoinTransformStar(s: SparkSession,
      queryText: String): (DataFrame, Seq[DataFrame]) => DataFrame =
    (factDf, dimDfs) => {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
      import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
      val parsed = s.sessionState.sqlParser.parsePlan(queryText)
      val rels = parsed.collect { case u: UnresolvedRelation =>
        u.multipartIdentifier }
      require(rels.length == 1 + dimDfs.length &&
        rels.distinct.length == rels.length,
        s"the stored join-view query must read exactly " +
          s"${1 + dimDfs.length} distinct tables, found " +
          s"${rels.length}: $queryText")
      val frames = rels.zip(factDf +: dimDfs).toMap
      def substituted(fs: Map[Seq[String], DataFrame]) =
        parsed.transformUp {
          case u: UnresolvedRelation =>
            SubqueryAlias(u.multipartIdentifier.last,
              fs(u.multipartIdentifier).queryExecution.analyzed)
        }
      requireDeterministicOver(
        org.apache.spark.sql.graft.SparkInternals.ofRows(s,
          substituted(frames.map { case (k, v) =>
            k -> stubOf(s, v.schema) })),
        queryText)
      org.apache.spark.sql.graft.SparkInternals.ofRows(s,
        substituted(frames))
    }

  /** Argument-free refresh: read the spec back from `dstDir`'s
    * properties and advance the view. Returns (kind, from, to).
    * `cascade = true` first refreshes every source that is ITSELF a
    * materialized view, recursively (upstream-first — the only order
    * that clears TRANSITIVE staleness: refreshing gold against a
    * stale silver just bakes the stale rows in); a fresh upstream
    * no-ops at two metadata probes. */
  def refreshMv(s: SparkSession, dstDir: String,
      cascade: Boolean = false): (String, Int, Int) =
    refreshMvGuarded(s, dstDir, cascade, Set(dstDir))

  private def refreshMvGuarded(s: SparkSession, dstDir: String,
      cascade: Boolean, visited: Set[String]): (String, Int, Int) = {
    // idle fast path: when every pin in the lineage (own AND
    // transitive) sits EXACTLY at its source's head there is nothing
    // to refresh at any hop — a follower polling a fresh chain pays
    // pin/head probes only (one properties read per lineage dir per
    // HEAD VERSION via the memo, never one per tick). Strict equality
    // on purpose: a pin BEYOND the head (rolled-back source) or a
    // buried pin (None leg) falls through to the slow path so its
    // loud refusal still fires.
    memoEntry(s, dstDir) match {
      case Some((_, _, _, dirs, Some(kind), _)) if dirs.nonEmpty =>
        val legs = legsOver(s, dstDir, dirs) ++ dirs.flatMap {
          case (k, d) => transitiveTail(s, k, d, Set(dstDir, d)) }
        if (legs.forall(_._3.exists(t => t._1 == t._2))) {
          val pin = legs.head._3.get._1 // the src leg, per legDirsOf
          return (kind, pin, pin)
        }
      case _ =>
    }
    val props = Versioned.properties(s, dstDir)
    val kind = props.getOrElse(MvKindProp,
      throw new IllegalArgumentException(
        s"$dstDir is not a materialized view (no $MvKindProp " +
          "property) — create one with CREATE MATERIALIZED VIEW … " +
          "AS SELECT, or call refresh_derived/refresh_agg with an " +
          "explicit spec"))
    // an auto-chained view (aggregate-over-join gold) ALWAYS
    // cascades: its silver is hidden machinery the caller cannot be
    // expected to refresh by name
    val doCascade = cascade ||
      props.get(MvAutoChainProp).exists(_.trim.equalsIgnoreCase("true"))
    // the is-this-an-MV probe per leg goes through the memo — the
    // cascade's hot loop must not pay a properties read per tick for
    // legs that are plain tables (or fresh MVs, which the recursion's
    // own fast path then no-ops)
    if (doCascade) legDirsOf(props).foreach { case (_, d) =>
      if (!visited.contains(d) &&
          memoEntry(s, d).exists(_._5.isDefined))
        refreshMvGuarded(s, d, cascade = true, visited + d)
    }
    val src = props(MvSourceProp)
    val pCol = props.get(MvPartitionProp).filter(_.nonEmpty)
    kind match {
      case "derived" =>
        val (f, t) = refresh(s, src, dstDir, props(MvKeyProp),
          mvTransform(s, props(MvQueryProp)), partitionCol = pCol)
        ("derived", f, t)
      case "agg" =>
        val ext = props.get(MvExtremaProp).toSeq.flatMap(_.split(","))
          .map(_.trim).filter(_.nonEmpty)
        val groups = props(MvGroupProp).split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val gExprs = groups.flatMap(g =>
          props.get(MvGroupExprPrefix + g).map(g -> _))
        // MvValueProp is a csv (multi-measure views); MvAvgProp is a
        // csv of value columns, with the legacy spelling 'true'
        // meaning avg of the first (then only) value
        // MvValueProp may be EMPTY — the count-only rollup stores no
        // sum/cnt pair at all
        val vals = props(MvValueProp).split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val avs = props.get(MvAvgProp).map(_.trim).toSeq.flatMap {
          case t if t.equalsIgnoreCase("true") => vals.headOption.toSeq
          case t => t.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        }
        val dis = props.get(MvDistinctProp).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val cds = props.get(MvExactDistinctProp).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val kll = props.get(MvKllProp).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val vExprs = props.collect {
          case (k, v) if k.startsWith(MvValueExprPrefix) =>
            (k.stripPrefix(MvValueExprPrefix), v) }.toSeq
        val (f, t) = refreshAgg(s, src, dstDir, props(MvRowKeyProp),
          groups, vals.headOption.getOrElse(""), extrema = ext,
          where = props.get(MvWhereProp).filter(_.nonEmpty),
          partitionCol = pCol, groupExprs = gExprs,
          moreValues = vals.drop(1), avgCols = avs,
          distinctCols = dis,
          exactDistinctCols = cds, kllCols = kll,
          valueExprs = vExprs)
        ("agg", f, t)
      case "join" | "aggjoin" =>
        // the refresh reports the FACT range (the stream side); a
        // dim-only delta shows (factTo, factTo) but still republishes.
        // Multi-dim specs store `;`-separated per-dim fragments (a
        // single-dim spec has no `;` and parses as one leg).
        def semi(v: String) = v.split(";").map(_.trim)
          .filter(_.nonEmpty).toSeq
        def csv(v: String) = v.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val dims = semi(props(MvDimProp))
          .zip(semi(props(MvFkProp)).map(csv))
          .zip(semi(props(MvDimKeyProp)).map(csv))
          .map { case ((d, fk), dk) => JoinDim(d, fk, dk) }
        if (kind == "join") {
          val ((f, t), _) = refreshJoinStar(s, src, dims,
            dstDir, props(MvKeyProp),
            mvJoinTransformStar(s, props(MvQueryProp)),
            partitionCol = pCol)
          ("join", f, t)
        } else {
          // direct algebraic aggregate-over-join: the slice text
          // re-derives touched keys' join output, aggDeltaApply
          // patches the gold — no silver, one commit
          val avs = props.get(MvAvgProp).toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          val (f, t) = refreshAggJoin(s, src, dims, dstDir,
            props(MvRowKeyProp),
            mvJoinTransformStar(s, props(MvSliceProp)),
            csv(props(MvGroupProp)), csv(props(MvValueProp)),
            avgs = avs, partitionCol = pCol)
          ("aggjoin", f, t)
        }
      case other => throw new IllegalStateException(
        s"unknown $MvKindProp '$other' at $dstDir")
    }
  }

  /** Row-for-row BAG equality (duplicates counted) in ONE shuffle:
    * signed-union the two frames (+1/-1 weights) and check every
    * group's weight sum is zero — the same pass the delta maintenance
    * uses, replacing the gates' former two-direction `exceptAll`
    * (four scans, two shuffles) with one aggregation. Null values
    * group natively, so null-keyed rows compare correctly. */
  def bagEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    a.withColumn("__w", lit(1L))
      .unionByName(b.select(cols.map(col): _*)
        .withColumn("__w", lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum(col("__w")).as("__d"))
      .filter(col("__d") =!= 0L).isEmpty
  }

  /** Above this many point values the readWhereIn pruning expression
    * grows codegen-hostile AND its selectivity collapses (most files
    * contain SOME value), so the tiered read switches to a broadcast
    * semi-join over the plain snapshot scan — faster and the
    * scale-correct plan. */
  private val PruneKeyLimit = 1000

  /** The tiered point read shared by every refreshAgg leg: a SMALL
    * key set (≤ [[PruneKeyLimit]], by `nKeys` — a COUNT, the only
    * thing the driver ever holds for the decision) collects its
    * FIRST-column values and goes through [[Versioned.readWhereIn]]
    * manifest pruning (O(files containing the values)); a large one
    * never materializes keys on the driver at all — it semi-joins
    * the snapshot scan against the broadcast `keysDf` (the key
    * columns, bounded by maxTouchedKeys). With a composite key the
    * IN-pruned read is a first-column superset, so the semi-join on
    * the full tuple runs in that tier too. */
  private def pointRead(s: SparkSession, dir: String,
      keyCols: Seq[String], nKeys: Long, smallVals: => Seq[Any],
      version: Option[Int], keysDf: DataFrame): DataFrame = {
    val base =
      if (nKeys <= PruneKeyLimit)
        Versioned.readWhereIn(s, dir, keyCols.head, smallVals, version)
      else Versioned.read(s, dir, version)
    if (nKeys <= PruneKeyLimit && keyCols.lengthCompare(1) == 0) base
    else base.join(broadcast(keysDf), keyCols, "left_semi")
  }

  private def pinnedSrcVersion(s: SparkSession, dstDir: String): Int =
    Versioned.notePin(s, dstDir, "src")
      .getOrElse(throw new IllegalStateException(
        s"$dstDir exists but its head commit carries no src=v pin — " +
          "not a derived table (refresh would corrupt it); use a " +
          "fresh destination directory"))

  /** Advance `dstDir` to reflect `transform` applied to `srcDir`'s
    * current snapshot. Bootstraps (full build) when `dstDir` has no
    * committed version; no-ops when the pin already matches the
    * source head. Returns (fromVersion, toVersion) processed —
    * (to, to) for the no-op, (0, to) for the bootstrap. */
  def refresh(s: SparkSession, srcDir: String, dstDir: String,
      key: String, transform: DataFrame => DataFrame,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty): (Int, Int) = {
    val to = Versioned.currentVersion(s, srcDir)
    require(to > 0, s"no committed source version at $srcDir")
    val dstV = Versioned.currentVersion(s, dstDir)
    if (dstV == 0) {
      // pinned to `to`: the state the note claims is the state read
      val full = transform(Versioned.read(s, srcDir, Some(to)))
      require(full.columns.contains(key),
        s"transform must preserve the key column '$key'")
      // every destination commit declares key stats: applyChanges
      // prunes its touched-file probe with the batch's key range, so
      // an append-mostly source (monotone keys) refreshes WITHOUT
      // scanning the standing destination — O(candidate files)
      // bootstrapProps ride THIS commit (CREATE MATERIALIZED VIEW's
      // spec persistence): one atomic publish carries data, pin, and
      // spec — no window where the table exists without its identity
      Versioned.commit(full, dstDir,
        note = Some(Versioned.pinNote(Seq("src" -> to))), statsCols = Seq(key),
        transform = layoutOf(partitionCol),
        props = Some(bootstrapProps).filter(_.nonEmpty))
      return (0, to)
    }
    val from = pinnedSrcVersion(s, dstDir)
    require(from <= to, s"$dstDir pins src=v$from beyond the source " +
      s"head v$to — the source was rolled back or replaced; rebuild " +
      "into a fresh destination")
    if (from == to) return (to, to)
    // persisted around the fan-out: the emptiness probe and
    // applyChanges' actions (preflight, emptiness probes, the overlap
    // check, the rewrite) would each re-run the diff from scratch
    val diff = Versioned.netChanges(s, srcDir, from, to)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val note = Versioned.pinNote(Seq("src" -> to))
      // the pin advances with every refresh: an empty diff
      // (metadata-only commits, churn that cancels) lands a note-only
      // commit, so the next refresh starts past this window
      if (diff.isEmpty) Versioned.commitNote(s, dstDir, note)
      else {
        // each touched key's new state is its row on the +1 side; a
        // key with only −1 rows was deleted
        val current = diff.filter(col(Versioned.ChangeWeightCol) > 0L)
          .drop(Versioned.ChangeWeightCol)
        val transformed = transform(current)
        require(transformed.columns.contains(key),
          s"transform must preserve the key column '$key'")
        // a deleted key, or a changed row the transform now FILTERS
        // OUT (it may have passed under its previous values), leaves
        // the destination
        val dels = diff.select(col(key)).distinct()
          .join(transformed.select(col(key)), Seq(key), "left_anti")
        Versioned.applyChanges(s, dstDir, upserts = transformed,
          deleteKeys = dels, key = key,
          transform = layoutOf(partitionCol),
          statsCols = Seq(key), note = Some(note))
      }
    } finally diff.unpersist(blocking = false)
    (from, to)
  }

  /** Incrementally maintained JOIN view — the enrichment twin of
    * [[refresh]]: `dstDir` holds `transform(fact, dim)` for an
    * N:1 equi-join `fact.fkCol = dim.dimKey` (INNER or LEFT OUTER —
    * the join type lives inside the transform's plan), keyed by the
    * FACT row identity `key`, advanced per refresh from the net
    * snapshot diffs ([[Versioned.netChanges]]) of BOTH sides:
    *
    *  - the fact diff names touched fact keys directly;
    *  - the dim diff names touched dim keys, and the fact rows they
    *    affect are exactly the pinned fact snapshot's rows whose
    *    `fkCol` is in that set — read via the same tiered point-read
    *    as every other leg (O(files containing the values), never a
    *    fact rescan);
    *  - the UNION of those fact keys re-derives: their rows at the
    *    pinned fact `to` join the full pinned dim `to`, the query's
    *    projection/WHERE apply, and the result upserts by `key`; a
    *    re-derived key with NO output row (fact row deleted, filtered
    *    out, or its dim match gone under INNER) deletes.
    *
    * Both pins travel in ONE commit note (`src=vN;dim=vM` — the
    * fragment discipline [[Versioned.notePin]] already parses), so a
    * crashed refresh never half-advances either cursor.
    *
    * Contract on `transform`: row-pure with respect to the PAIR —
    * each output row derives from one fact row and its single dim
    * match (nulls on the dim side under LEFT OUTER), preserves `key`,
    * and may drop rows. `dimKey` must stay UNIQUE in the dim: the
    * destination stores one row per fact key, which a 1:N dim match
    * cannot satisfy — bootstrap audits the whole dim once, each
    * refresh audits exactly the touched dim keys, and a duplicate
    * that slips between audits still cannot commit (the CDC apply
    * refuses duplicate upsert keys).
    *
    * Scale shape per refresh: two net diffs over the windows,
    * one point-read of dim-affected fact rows keyed on `fkCol`, one
    * point-read of re-derived fact rows keyed on `key`, one
    * slice-vs-dim join (Catalyst broadcasts the dim when it is small
    * — the common star-schema case), one CoW/MoR commit. Nothing
    * scales with either table's total size; `maxTouchedKeys` bounds
    * the refresh like [[refreshAgg]]. Returns the processed
    * ((factFrom, factTo), (dimFrom, dimTo)). */
  def refreshJoin(s: SparkSession, factDir: String, dimDir: String,
      dstDir: String, key: String, fkCol: String, dimKey: String,
      transform: (DataFrame, DataFrame) => DataFrame,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty)
      : ((Int, Int), (Int, Int)) =
    refreshJoinKeys(s, factDir, dimDir, dstDir, key, Seq(fkCol),
      Seq(dimKey), transform, maxTouchedKeys, partitionCol,
      bootstrapProps)

  /** Composite-key [[refreshJoin]]: the join identity is the column
    * TUPLE `fact.(fkCols…) = dim.(dimKeys…)` (aligned by position —
    * `ON f.a = d.x AND f.b = d.y`). Same algebra end to end: dim
    * diffs name touched dim-key tuples, the affected-fact point read
    * semi-joins the full tuple (manifest range pruning on the FIRST
    * fk column, like every tuple-keyed path here), uniqueness is a
    * tuple invariant. */
  def refreshJoinKeys(s: SparkSession, factDir: String, dimDir: String,
      dstDir: String, key: String, fkCols: Seq[String],
      dimKeys: Seq[String],
      transform: (DataFrame, DataFrame) => DataFrame,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty)
      : ((Int, Int), (Int, Int)) = {
    val (f, ds) = refreshJoinStar(s, factDir,
      Seq(JoinDim(dimDir, fkCols, dimKeys)), dstDir, key,
      (fact, dims) => transform(fact, dims.head),
      maxTouchedKeys, partitionCol, bootstrapProps)
    (f, ds.head)
  }

  /** One dimension leg of a STAR join view: its table dir and the
    * positionally aligned `fact.(fkCols…) = dim.(dimKeys…)` tuple. */
  final case class JoinDim(dir: String, fkCols: Seq[String],
      dimKeys: Seq[String])

  /** N-dimension [[refreshJoinKeys]] — the star-schema enrichment
    * view `fact ⋈ d1 ⋈ d2 ⋈ …` (each join N:1, INNER or LEFT inside
    * the transform's plan), maintained from one net snapshot diff
    * per source ([[Versioned.netChanges]] over each pin → head
    * window): each changed dim leg's diff names its touched dim keys,
    * which locate their affected fact rows through that leg's fk
    * point read; the union of those and the fact diff's keys
    * re-derives ONCE — the touched fact rows at the fact head joined
    * to every dim at its head — and the result upserts by `key`
    * (a re-derived key with no output row deletes); the commit note
    * carries one pin fragment per source (`src=vN;dim=vA;dim2=vB;…`
    * — the [[legDirsOf]] key convention) so a crashed refresh never
    * half-advances any cursor. Per-leg contracts are
    * [[refreshJoinKeys]]'s: touched-tuple uniqueness audits, null
    * dim-key refusals, the touched-key bound. Scale shape: one net
    * diff per changed source, one affected-fact point read per
    * CHANGED dim leg (an idle leg costs two metadata probes), one
    * slice-vs-dims join (persisted across the commit's actions), one
    * CoW/MoR commit. */
  def refreshJoinStar(s: SparkSession, factDir: String,
      dims: Seq[JoinDim], dstDir: String, key: String,
      transform: (DataFrame, Seq[DataFrame]) => DataFrame,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty)
      : ((Int, Int), Seq[(Int, Int)]) = {
    val (to1, tos, note, pinned) = starWindow(s, factDir, dims, dstDir)
    def dimAt(i: Int) = Versioned.read(s, dims(i).dir, Some(tos(i)))
    if (pinned.isEmpty) {
      dims.indices.foreach(i => requireDimUniqueIn(dims(i), dimAt(i)))
      val full = transform(Versioned.read(s, factDir, Some(to1)),
        dims.indices.map(dimAt))
      require(full.columns.contains(key),
        s"the join-view query must preserve the key column '$key'")
      Versioned.commit(full, dstDir, note = Some(note),
        statsCols = Seq(key), transform = layoutOf(partitionCol),
        props = Some(bootstrapProps).filter(_.nonEmpty))
      return ((0, to1), tos.map(0 -> _))
    }
    val (from1, froms) = pinned.get
    if (from1 == to1 && froms == tos)
      return ((to1, to1), tos.map(v => (v, v)))
    affectedFactKeys(s, factDir, dims, key, from1, to1, froms, tos,
      maxTouchedKeys) { (kDf, nK, kProbe) =>
      if (nK == 0) {
        // metadata-only commits on every side: advance the pins
        // with a note-only commit (the dead-range discipline)
        Versioned.commitNote(s, dstDir, note)
      } else {
        val factSlice = pointRead(s, factDir, Seq(key), nK,
          kProbe.map(_.get(0)).toSeq, Some(to1), kDf)
        // persisted around the commit: applyChanges' preflight, the
        // merge's match and rewrite, and the tombstone write of `dels`
        // would each re-derive the slice-vs-dims join from scratch
        val newRows = transform(factSlice, dims.indices.map(dimAt))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          require(newRows.columns.contains(key),
            s"the join-view query must preserve the key column '$key'")
          val dels = kDf.join(newRows.select(col(key)), Seq(key),
            "left_anti")
          Versioned.applyChanges(s, dstDir, upserts = newRows,
            deleteKeys = dels, key = key,
            transform = layoutOf(partitionCol),
            statsCols = Seq(key), note = Some(note))
        } finally newRows.unpersist(blocking = false)
      }
    }
    ((from1, to1), froms.zip(tos))
  }

  /** The star refresh WINDOW: head versions, the multi-pin note text
    * (`src=vN;dim=vA;dim2=vB;…`), and — when the destination stands —
    * the pinned versions: (factTo, dimTos, note, Some((factFrom,
    * dimFroms)) or None for a bootstrap). Validates the dim shapes,
    * refuses missing pins and rolled-back sources — the ONE
    * definition of the pin protocol both the materialized join view
    * and the direct aggregate-over-join share. */
  private def starWindow(s: SparkSession, factDir: String,
      dims: Seq[JoinDim], dstDir: String)
      : (Int, Seq[Int], String, Option[(Int, Seq[Int])]) = {
    require(dims.nonEmpty, "a star refresh needs at least one dim")
    require(dims.map(_.dir).distinct.length == dims.length,
      "dim tables must be distinct (a dim joined twice needs two " +
        "aliases of two physical tables)")
    dims.foreach { dm =>
      require(dm.fkCols.nonEmpty &&
        dm.fkCols.length == dm.dimKeys.length,
        s"join keys must align by position, got fact (${dm.fkCols
          .mkString(", ")}) vs dim (${dm.dimKeys.mkString(", ")})")
      require(dm.fkCols.distinct.length == dm.fkCols.length &&
        dm.dimKeys.distinct.length == dm.dimKeys.length,
        s"join key columns must be distinct, got fact (${dm.fkCols
          .mkString(", ")}) vs dim (${dm.dimKeys.mkString(", ")})")
    }
    val pinKeys = dims.indices.map(i => if (i == 0) "dim"
      else s"dim${i + 1}")
    val to1 = Versioned.currentVersion(s, factDir)
    require(to1 > 0, s"no committed fact version at $factDir")
    val tos = dims.map { dm =>
      val v = Versioned.currentVersion(s, dm.dir)
      require(v > 0, s"no committed dim version at ${dm.dir}")
      v
    }
    val note = Versioned.pinNote(("src" -> to1) +: pinKeys.zip(tos))
    if (Versioned.currentVersion(s, dstDir) == 0)
      return (to1, tos, note, None)
    val from1 = pinnedSrcVersion(s, dstDir)
    val froms = pinKeys.map(k => Versioned.notePin(s, dstDir, k)
      .getOrElse(throw new IllegalStateException(
        s"$dstDir pins src=v$from1 but carries no $k=v pin — not a " +
          "join view of this shape (refresh would corrupt it); use " +
          "a fresh destination directory")))
    require(from1 <= to1 && froms.zip(tos).forall { case (f, t) =>
      f <= t },
      s"$dstDir pins src=v$from1/${pinKeys.zip(froms).map { case (k,
        f) => s"$k=v$f" }.mkString("/")} beyond the source heads " +
        s"v$to1/${tos.mkString("/")} — a source was rolled back or " +
        "replaced; rebuild into a fresh destination")
    (to1, tos, note, Some((from1, froms)))
  }

  /** Direct ALGEBRAIC aggregate-over-join maintenance — the gold
    * rollup `SELECT g…, sum(v)… FROM fact ⋈ dims GROUP BY g…`
    * maintained WITHOUT materializing the join (no hidden silver, no
    * second copy of the fact stream, ONE commit per refresh):
    *
    *  - the affected fact keys come from the same per-leg algebra as
    *    [[refreshJoinStar]] (fact diff keys ∪ each changed dim
    *    leg's fk point read — [[affectedFactKeys]]);
    *  - the OLD side re-derives those keys' join output at the
    *    PINNED versions (fact `from` ⋈ dims at their `from` pins),
    *    the NEW side at the heads — time travel makes both exact;
    *  - the signed union patches the gold groups through the shared
    *    [[aggDeltaApply]], the same algebra the single-table
    *    aggregate view runs.
    *
    * `slice` is the projected join stream — (rowKey, group…, value…)
    * per surviving fact row ([[mvJoinTransformStar]] over the
    * synthesized slice text). Limited to INVERTIBLE measures
    * (sum/cnt/avg): extrema and approx-distinct need an
    * affected-group recompute whose input is a fact-wide join — those
    * shapes keep the hidden-silver auto-chain, whose silver point
    * reads make the recompute O(touched groups). */
  def refreshAggJoin(s: SparkSession, factDir: String,
      dims: Seq[JoinDim], dstDir: String, rowKey: String,
      slice: (DataFrame, Seq[DataFrame]) => DataFrame,
      groupCols: Seq[String], values: Seq[String],
      avgs: Seq[String] = Nil,
      maxTouchedKeys: Int = 100000,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty): (Int, Int) = {
    partitionCol.foreach(c => require(groupCols.contains(c),
      s"partition column '$c' must be one of the group columns " +
        s"(${groupCols.mkString(", ")}) — the view stores one row " +
        "per group"))
    val (to1, tos, note, pinned) = starWindow(s, factDir, dims, dstDir)
    def dimsAt(vs: Seq[Int]): Seq[DataFrame] =
      dims.indices.map(i => Versioned.read(s, dims(i).dir,
        Some(vs(i))))
    def aggOf(df: DataFrame): DataFrame = {
      val aggs = values.flatMap(c => Seq(sum(col(c)).as(s"sum_$c"),
        count(col(c)).as(s"cnt_$c"))) :+ count(lit(1)).as("n_rows")
      val base = df.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      if (avgs.isEmpty) base
      else base.select((groupCols.map(col) ++
        values.flatMap(c => Seq(col(s"sum_$c"), col(s"cnt_$c"))) ++
        Seq(col("n_rows")) ++ avgExprsOf(avgs)): _*)
    }
    if (pinned.isEmpty) {
      dims.indices.foreach(i => requireDimUniqueIn(dims(i),
        Versioned.read(s, dims(i).dir, Some(tos(i)))))
      val full = aggOf(slice(Versioned.read(s, factDir, Some(to1)),
        dimsAt(tos)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        require(full.filter(groupCols.map(col(_).isNull)
            .reduce(_ || _)).isEmpty,
          s"null '${groupCols.mkString(", ")}' group — filter or " +
            "coalesce the group columns (an unmatched LEFT-join " +
            "fact row groups as null) before aggregating")
        Versioned.commit(full, dstDir, note = Some(note),
          statsCols = Seq(groupCols.head),
          transform = layoutOf(partitionCol),
          props = Some(bootstrapProps).filter(_.nonEmpty))
      } finally full.unpersist(blocking = false)
      return (0, to1)
    }
    val (from1, froms) = pinned.get
    if (from1 == to1 && froms == tos) return (to1, to1)
    affectedFactKeys(s, factDir, dims, rowKey, from1, to1, froms, tos,
      maxTouchedKeys) { (kDf, nK, kProbe) =>
      if (nK == 0) Versioned.commitNote(s, dstDir, note)
      else {
        // the touched keys' join output at the OLD pins vs the NEW
        // heads — the signed union nets rows that entered/left the
        // join (dim deletes under INNER, fk moves, fact edits) the
        // same way the single-table path nets filter crossings
        def sideAt(factV: Int, dimVs: Seq[Int], w: Long): DataFrame =
          slice(pointRead(s, factDir, Seq(rowKey), nK,
            kProbe.map(_.get(0)).toSeq, Some(factV), kDf),
            dimsAt(dimVs)).drop(rowKey).withColumn("__w", lit(w))
        aggDeltaApply(s, dstDir, groupCols, values, Nil, avgs, Nil,
          sideAt(from1, froms, -1L).unionByName(sideAt(to1, tos, 1L)),
          (_, _, _) => throw new IllegalStateException(
            "unreachable: no extrema or distinct measures in the " +
              "direct aggregate-over-join path"),
          note, s"src=v$from1", s"src=v$to1", partitionCol)
      }
    }
    (from1, to1)
  }
  private def requireDimUniqueIn(dm: JoinDim, slice: DataFrame): Unit =
    require(slice.groupBy(dm.dimKeys.map(col): _*)
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1L).isEmpty,
      s"dim key '${dm.dimKeys.mkString(", ")}' is not unique " +
        s"in ${dm.dir} — a join view stores one row per fact " +
        "key, which a 1:N dim match cannot satisfy; dedupe the " +
        "dim or key it differently")

  /** The union of fact keys whose JOIN OUTPUT may change over a
    * refresh window — the star-refresh leg algebra shared by the
    * materialized join view ([[refreshJoinStar]]) and the direct
    * aggregate-over-join view ([[refreshAggJoin]]): fact diff
    * keys plus, per CHANGED dim leg, the pinned fact snapshot's rows
    * whose fk tuple is in that leg's touched dim keys (tiered point
    * read — an idle leg contributes nothing and costs nothing). Both
    * come from net diffs ([[Versioned.netChanges]]). Each changed
    * leg's touched dim keys are uniqueness-audited eagerly. The
    * limit-probe fold serves count, null check, and IN-tier values in
    * one job (the refreshAgg discipline). A null key value in a diff
    * refuses. The net diff carries full rows, so a window whose
    * equality tombstones key on other columns than the dim key (or,
    * on the fact, than `key`) refreshes like any other. `use` runs
    * with the persisted distinct key frame, its count, and the
    * ≤ limit+1 probe rows; every persist is released after. */
  private def affectedFactKeys[T](s: SparkSession, factDir: String,
      dims: Seq[JoinDim], key: String, from1: Int, to1: Int,
      froms: Seq[Int], tos: Seq[Int], maxTouchedKeys: Int)
      (use: (DataFrame, Long,
        Array[org.apache.spark.sql.Row]) => T): T = {
    var affected: Seq[DataFrame] = Nil
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try {
      dims.indices.foreach { i =>
        val dm = dims(i)
        if (tos(i) > froms(i)) {
          val dimKeyStr = dm.dimKeys.mkString(", ")
          val nullDimKey = s"a dim change event carries a null " +
            s"'$dimKeyStr' — the dim's equality tombstones key on a " +
            "different column, so the affected fact rows can't be " +
            s"located; key dim deletes on '$dimKeyStr' (or refresh by " +
            "rebuild)"
          val asFk = dm.dimKeys.zip(dm.fkCols).map { case (d, f) =>
            col(d).as(f) }
          val tdDf = Versioned.netChanges(s, dm.dir, froms(i), tos(i))
            .select(asFk: _*).distinct()
            .persist(org.apache.spark.storage.StorageLevel
              .MEMORY_AND_DISK)
          persisted += tdDf
          val tdProbe = tdDf.limit(PruneKeyLimit + 1).collect()
          val tdSmall = tdProbe.length <= PruneKeyLimit
          val allIdx = dm.fkCols.indices
          val (nTd, nTdNonNull) =
            if (tdSmall) (tdProbe.length.toLong,
              tdProbe.count(r => allIdx.forall(j => !r.isNullAt(j)))
                .toLong)
            else {
              val t = tdDf.agg(count(lit(1)).as("n"),
                count(when(dm.fkCols.map(col(_).isNotNull)
                  .reduce(_ && _), lit(1))).as("nn")).head()
              (t.getLong(0), t.getLong(1))
            }
          require(nTd == nTdNonNull, nullDimKey)
          require(nTd <= maxTouchedKeys,
            s"refresh range touches $nTd dim keys " +
              s"(> $maxTouchedKeys) — rebuild into a fresh " +
              "destination instead, or raise maxTouchedKeys")
          // eager uniqueness audit on exactly the touched dim keys: a
          // duplicate refuses at the refresh that INTRODUCED it, not
          // at the first fact row that happens to reference it
          if (nTd > 0) {
            requireDimUniqueIn(dm,
              pointRead(s, dm.dir, dm.dimKeys, nTd,
                tdProbe.map(_.get(0)).toSeq, Some(tos(i)),
                tdDf.select(dm.fkCols.zip(dm.dimKeys).map {
                  case (f, d) => col(f).as(d) }: _*)))
            affected :+= pointRead(s, factDir, dm.fkCols, nTd,
              tdProbe.map(_.get(0)).toSeq, Some(to1), tdDf)
              .select(col(key))
          }
        }
      }
      // —— fact-diff keys ∪ dim-affected keys ——
      val nullFactKey = s"a null '$key' fact key reached the refresh " +
        "— either a fact change event keyed on a different column or " +
        s"a dim-affected fact row with a null '$key'; key fact " +
        s"deletes on '$key' and filter null keys at ingest"
      val factTouched =
        if (to1 > from1) {
          Versioned.netChanges(s, factDir, from1, to1).select(col(key))
        } else Versioned.read(s, factDir, Some(to1)).select(col(key))
          .limit(0)
      val kDf = affected.foldLeft(factTouched)(_ unionByName _)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val kProbe = kDf.limit(PruneKeyLimit + 1).collect()
        val kSmall = kProbe.length <= PruneKeyLimit
        val (nK, nKNonNull) =
          if (kSmall) (kProbe.length.toLong,
            kProbe.count(!_.isNullAt(0)).toLong)
          else {
            val t = kDf.agg(count(lit(1)).as("n"),
              count(col(key)).as("nn")).head()
            (t.getLong(0), t.getLong(1))
          }
        require(nK == nKNonNull, nullFactKey)
        require(nK <= maxTouchedKeys,
          s"refresh range touches $nK fact keys (> $maxTouchedKeys) " +
            "— rebuild into a fresh destination instead, or raise " +
            "maxTouchedKeys")
        use(kDf, nK, kProbe)
      } finally kDf.unpersist(blocking = false)
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  /** The stored avg columns — the EXACT quotient of the stored
    * (sum, cnt) pair, NULL for the all-null group. ONE definition
    * serves the bootstrap aggregation and every incremental patch,
    * so the two paths can never store differently-derived avgs. */
  private def avgExprsOf(avgs: Seq[String]): Seq[Column] =
    avgs.map(c => when(col(s"cnt_$c") === 0L, lit(null))
      .otherwise(col(s"sum_$c") / col(s"cnt_$c")).as(s"avg_$c"))

  // —— approx-distinct measures: mergeable HLL sketch state ——
  // exact count(DISTINCT) is not delta-maintainable (a deleted value
  // says nothing about whether another row still carries it), but a
  // DataSketches HLL sketch is: HLL slot state is a per-slot MAX, so
  // unioning the new rows' sketch into the stored one is EXACTLY the
  // sketch of the union of the values — inserts merge in the one
  // signed-union pass. Deletes are not invertible in any sketch, so
  // a group that LOST rows falls back to the affected-group
  // recompute, the same discipline the extrema use. The stored
  // schema carries adc_<c> (the estimate the definition's
  // approx_count_distinct names) and hll_<c> (the sketch bytes the
  // merge needs) — the estimate column is what readers consume, the
  // sketch rides LAST as documented maintenance state.

  /** Canonicalize a sketch column: the EMPTY sketch (no non-null
    * values ever added — estimate 0) stores as NULL, so the
    * bootstrap's empty sketch and the patch path's null-merge agree
    * byte-for-byte on the all-null group. */
  private def hllNorm(c: Column): Column =
    when(coalesce(hll_sketch_estimate(c), lit(0L)) === 0L, lit(null))
      .otherwise(c)

  /** Union two nullable sketch columns (either side NULL = empty). */
  private def hllMerge(a: Column, b: Column): Column =
    when(a.isNull, b).when(b.isNull, a).otherwise(hll_union(a, b))

  /** The stored estimate columns — derived from the stored sketch on
    * every write, NEVER patched independently, so estimate and sketch
    * cannot drift. 0 for the all-null group (matching
    * approx_count_distinct over no non-null values). ONE definition
    * serves bootstrap and every patch, like [[avgExprsOf]]. */
  private def adcExprsOf(distincts: Seq[String]): Seq[Column] =
    distincts.map(c =>
      coalesce(hll_sketch_estimate(col(s"hll_$c")), lit(0L))
        .as(s"adc_$c"))

  /** Incrementally maintained AGGREGATE view — the GROUP BY rollup
    * twin of [[refresh]]: `dstDir` holds
    * `SELECT groupCols…, sum(valueCol), count(valueCol), count(*)
    * FROM source [WHERE …] GROUP BY groupCols…`, advanced per
    * refresh by ALGEBRAIC delta maintenance instead of
    * recomputation. Multi-column groups and a WHERE predicate are
    * both first-class: the group key is the column TUPLE end to end
    * (delta, point reads, destination upserts), and the predicate
    * applies to every snapshot-side read so the algebra runs on the
    * filtered stream — a filtered GROUP BY is the single most common
    * materialized view in practice.
    *
    * Each refresh reads ONE net diff of the pinned and head source
    * snapshots ([[Versioned.netChanges]]): full rows, −n for rows
    * that left the source and +n for rows that entered it, so an
    * updated row arrives as its old (−1) and new (+1) versions and a
    * row inserted AND deleted inside the window is absent. The signed
    * rows pass through the same derived columns and WHERE as every
    * snapshot-side read, and each group's delta is their weighted
    * aggregate — `agg(rows entered) − agg(rows left)`, ONE shuffle.
    * Destination groups are then patched through the manifest-pruned
    * point read, a group whose row count reaches zero is deleted, and
    * everything lands in one atomic commit whose note pins `src=vN`;
    * an empty diff lands a note-only commit.
    *
    * Stored schema: (groupCol, sum_<valueCol>, cnt_<valueCol>,
    * n_rows[, avg_<c>…][, adc_<c>…][, cd_<c> per `exactDistinctCols`
    * column][, min_<c>, max_<c> per `extrema` column][, hll/kll
    * sketch state last]). The value
    * count makes the all-null group exact: a group whose surviving
    * values are all null stores a NULL sum (`cnt` = 0), matching the
    * recompute — an unconditional 0 would not. avg is `sum / cnt`,
    * derivable at read.
    *
    * `extrema` columns get MIN/MAX maintenance by AFFECTED-GROUP
    * recompute — min/max are not delta-invertible (a deleted maximum
    * says nothing about the runner-up), so each refresh re-aggregates
    * exactly the touched groups' rows from the pinned `to` snapshot
    * (tiered point read keyed on the group columns) and leaves
    * untouched groups' stored values standing. Cost is O(rows of
    * touched groups) per refresh — the standard fallback every
    * incremental-view system uses for non-invertible aggregates. The
    * recompute doubles as a consistency audit: each surviving group's
    * recomputed row count must equal the algebraic one, or the
    * refresh refuses (corrupt pin). `exactDistinctCols` (cd_<c> =
    * exact count(DISTINCT c)) ride the same recompute — and FORCE it
    * on the insert path too, because an inserted value may already
    * exist in its group (no merge can tell); approx_count_distinct
    * (`distinctCols`) is the merge-on-insert alternative whose
    * append refresh pays no recompute read.
    *
    * Contracts refused loudly: a diff row whose `rowKey` is null, and
    * a patched group whose row
    * count would go negative (a corrupt pin/history). Exactness note:
    * integer/decimal sums are exact; float sums accumulate the usual
    * reassociation drift relative to a full recompute.
    *
    * `maxTouchedKeys` bounds the refresh by the diff's DISTINCT row
    * keys; a larger window refuses with the advice to rebuild — a
    * delta that touches a large fraction of the source approaches a
    * rebuild's cost anyway. */
  def refreshAgg(s: SparkSession, srcDir: String, dstDir: String,
      rowKey: String, groupCols: Seq[String], valueCol: String,
      maxTouchedKeys: Int = 100000,
      extrema: Seq[String] = Nil,
      where: Option[String] = None,
      partitionCol: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty,
      groupExprs: Seq[(String, String)] = Nil,
      withAvg: Boolean = false,
      moreValues: Seq[String] = Nil,
      avgCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      exactDistinctCols: Seq[String] = Nil,
      kllCols: Seq[String] = Nil,
      valueExprs: Seq[(String, String)] = Nil): (Int, Int) = {
    require(groupCols.nonEmpty, "refreshAgg needs at least one group " +
      "column")
    // EXACT distinct-count measures (cd_<c>): non-invertible in BOTH
    // directions (an inserted value may already exist; a deleted one
    // may survive on another row), so EVERY refresh recomputes the
    // touched groups from the pinned `to` snapshot — the extrema
    // discipline extended to the insert path. approx_count_distinct
    // (the HLL spelling) stays the merge-on-insert alternative.
    require(exactDistinctCols.distinct.length ==
      exactDistinctCols.length,
      s"exact-distinct columns must be distinct, got " +
        s"${exactDistinctCols.mkString(", ")}")
    require(exactDistinctCols.forall(c => !groupCols.contains(c)),
      "an exact-distinct column cannot also be a group column " +
        s"(${exactDistinctCols.filter(groupCols.contains)
          .mkString(", ")}) — within one group a group column has " +
        "exactly one value")
    // KLL QUANTILE measures (kll_<c> sketch bytes): same maintenance
    // algebra as the HLL sketches — see [[graft.functions.KllAggs]]
    // for the exactness contract (true order statistics below ~k
    // values per group, published rank error beyond)
    require(kllCols.distinct.length == kllCols.length,
      s"kll columns must be distinct, got ${kllCols.mkString(", ")}")
    require(kllCols.forall(c => !groupCols.contains(c)),
      "a kll column cannot also be a group column " +
        s"(${kllCols.filter(groupCols.contains).mkString(", ")})")
    // APPROX-DISTINCT measures (adc_<c> estimate + hll_<c> sketch
    // state): inserts merge sketches in the delta pass; a group that
    // lost rows recomputes its sketch from the pinned `to` snapshot
    // (the extrema discipline) — see the sketch-state comment block
    require(distinctCols.distinct.length == distinctCols.length,
      s"distinct columns must be distinct, got " +
        s"${distinctCols.mkString(", ")}")
    require(distinctCols.forall(c => !groupCols.contains(c)),
      "an approx-distinct column cannot also be a group column " +
        s"(${distinctCols.filter(groupCols.contains).mkString(", ")})" +
        " — within one group a group column has exactly one value")
    // MULTI-MEASURE views: every value column gets its own exact
    // (sum_c, cnt_c) pair in the one signed-union delta pass — a
    // rollup usually carries several measures, and splitting them
    // across views would pay the diff read per measure. `avgs`
    // (any subset of the values, in value order) each store the
    // exact quotient of their pair.
    // an EMPTY valueCol ("") declares the COUNT-ONLY rollup: no
    // sum/cnt pair, the view stores (groups…, n_rows[, non-pair
    // measure families]) — the delta algebra needs only d_n
    val values = (valueCol +: moreValues).filter(_.nonEmpty)
    require(values.distinct.length == values.length,
      s"value columns must be distinct, got ${values.mkString(", ")}")
    require(values.forall(v => !groupCols.contains(v)),
      s"a value column cannot also be a group column " +
        s"(${values.filter(groupCols.contains).mkString(", ")})")
    val avgs = if (avgCols.nonEmpty) avgCols
      else if (withAvg) Seq(valueCol) else Nil
    require(avgs.forall(values.contains) &&
      avgs.distinct.length == avgs.length,
      s"avg columns (${avgs.mkString(", ")}) must be distinct value " +
        s"columns (${values.mkString(", ")})")
    lazy val srcSchema = Versioned.read(s, srcDir).schema
    // (the DECIMAL-avg refusal moved below the derived-column stub —
    // an avg over an EXPRESSION measure needs the derived column's
    // type, which only the prepared-stream stub knows)
    // EXPRESSION-VALUED group keys (`GROUP BY date_trunc('day', ts)`
    // — the time-bucketed rollup, the single most common MV shape in
    // practice): each (name, exprText) materializes as a derived
    // column on EVERY snapshot-side read, and the delta algebra then
    // runs on the bucketed stream unchanged — the bucket is just
    // another group column of the filtered view of the source. The
    // expression must be deterministic (checked over a schema stub
    // below, the stored-query discipline) and row-pure by
    // construction (it is a scalar projection of the single row).
    require(groupExprs.map(_._1).forall(groupCols.contains),
      s"groupExprs names (${groupExprs.map(_._1).mkString(", ")}) " +
        s"must be group columns (${groupCols.mkString(", ")})")
    val derivedNames = groupExprs.map(_._1).toSet
    // EXPRESSION-VALUED measures (`sum(price * (1 - discount)) AS
    // sum_rev`): each (name, exprText) materializes as a derived
    // VALUE column on every snapshot-side read — the bucket
    // discipline applied to measures, so the delta algebra is
    // unchanged. Names must belong to a declared measure family and
    // must not shadow source columns (the stored WHERE and the
    // aggregate args would silently rebind).
    require(valueExprs.map(_._1).distinct.length == valueExprs.length,
      s"valueExprs names must be distinct, got " +
        s"${valueExprs.map(_._1).mkString(", ")}")
    require(valueExprs.map(_._1).forall(n => values.contains(n) ||
      distinctCols.contains(n) || exactDistinctCols.contains(n) ||
      kllCols.contains(n) || extrema.contains(n)),
      s"valueExprs names (${valueExprs.map(_._1).mkString(", ")}) " +
        "must each name a declared measure column")
    val allDerived = groupExprs ++ valueExprs
    if (allDerived.nonEmpty) {
      // a derived name that SHADOWS a source column would silently
      // change what the stored WHERE (and the aggregates) see —
      // refuse the collision outright
      val shadowed = allDerived.map(_._1)
        .filter(n => srcSchema.fieldNames.contains(n))
      require(shadowed.isEmpty,
        s"derived name(s) ${shadowed.mkString(", ")} shadow " +
          "source columns — the stored WHERE would see the derived " +
          "column instead; alias it differently")
      valueExprs.foreach { case (n, t) =>
        val quals = s.sessionState.sqlParser.parseExpression(t)
          .collect {
            case ua: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute if ua.nameParts.length > 1 =>
              ua.name
          }
        require(quals.isEmpty,
          s"measure expression '$n' references " +
            s"${quals.mkString(", ")} with a qualifier — the stored " +
            "text re-resolves against the bare source columns at " +
            "every refresh; use unqualified names")
      }
      // stub determinism check, once per refresh call: a rand() in a
      // bucket or measure expression would re-derive the same rows
      // differently on every read and the view silently diverges
      requireDeterministicOver(
        allDerived.foldLeft(stubOf(s, srcSchema)) {
          case (df, (n, t)) => df.withColumn(n, expr(t)) },
        allDerived.map(_._2).mkString("; "))
    }
    // Spark's avg(decimal) carries its own result precision/scale
    // and HALF_UP rounding — the stored sum/cnt quotient would
    // differ in type and digits from the definition, so DECIMAL avg
    // refuses (long/double quotients are the exact same arithmetic);
    // the type comes from the PREPARED stub so expression measures
    // are covered too
    if (avgs.nonEmpty) {
      val prepSchema = allDerived.foldLeft(stubOf(s, srcSchema)) {
        case (df, (n, t)) => df.withColumn(n, expr(t)) }.schema
      val dec = avgs.filter(c => prepSchema.fields.find(_.name == c)
        .exists(_.dataType
          .isInstanceOf[org.apache.spark.sql.types.DecimalType]))
      require(dec.isEmpty,
        s"avg over DECIMAL column(s) ${dec.mkString(", ")} is not " +
          "maintainable as the stored sum/cnt quotient (Spark's " +
          "avg(decimal) result type and rounding differ) — store " +
          "sum/cnt and divide at read, or cast the column to double")
    }
    // the destination's rows are one-per-group, so only a GROUP
    // column is a meaningful layout key (a value column would need
    // rewrites to move rows between partitions on every patch)
    partitionCol.foreach(c => require(groupCols.contains(c),
      s"partition column '$c' must be one of the group columns " +
        s"(${groupCols.mkString(", ")}) — the view stores one row " +
        "per group"))
    // the WHERE predicate applies to every snapshot-side read — the
    // bootstrap scan, the signed diff rows, and the extrema
    // recompute — so the delta algebra runs on the FILTERED stream
    // unchanged: a row crossing the predicate boundary on update is
    // simply an insert/delete of that stream, which the signed union
    // already nets correctly. Two contract checks up front: a
    // QUALIFIED reference can't re-resolve against the bare
    // snapshot reads, and a NONDETERMINISTIC predicate would sample
    // anew at every read — the view silently diverges from any
    // recompute (checked post-analysis on the first application,
    // where functions are resolved).
    where.foreach { w =>
      val quals = s.sessionState.sqlParser.parseExpression(w).collect {
        case ua: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute if ua.nameParts.length > 1 => ua.name
      }
      require(quals.isEmpty,
        s"WHERE references ${quals.mkString(", ")} with a qualifier " +
          "— the stored predicate re-resolves against the bare " +
          "source columns at every refresh; use unqualified names")
    }
    var whereChecked = false
    // every snapshot-side read goes through `prepared`: derived
    // bucket AND measure columns first (they may only reference
    // source columns), then the WHERE filter — so bootstrap, the
    // signed diff rows, and the extrema recompute all see
    // the same derived, filtered stream
    def prepared(df: DataFrame): DataFrame = {
      val bucketed = (groupExprs ++ valueExprs).foldLeft(df) {
        case (acc, (n, t)) => acc.withColumn(n, expr(t)) }
      where.map { w =>
        val out = bucketed.filter(expr(w))
        if (!whereChecked) {
          whereChecked = true
          val det = out.queryExecution.analyzed.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical
                .Filter => f.condition.deterministic
          }
          require(det.forall(identity),
            s"WHERE predicate '$w' is nondeterministic — every " +
              "snapshot-side read would sample it anew and the " +
              "delta algebra silently diverges from any recompute")
        }
        out
      }.getOrElse(bucketed)
    }
    def aggOf(df: DataFrame): DataFrame = {
      val aggs = values.flatMap(c =>
        Seq(sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"cnt_$c"))) ++
        Seq(count(lit(1)).as("n_rows")) ++
        exactDistinctCols.map(c =>
          count_distinct(col(c)).as(s"cd_$c")) ++
        extrema.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        distinctCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c")) ++
        kllCols.map(c =>
          call_function("graft_kll", col(c)).as(s"kll_$c"))
      val base = df.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      if (avgs.isEmpty && distinctCols.isEmpty && kllCols.isEmpty) base
      else base.select((groupCols.map(col) ++
        values.flatMap(c => Seq(col(s"sum_$c"), col(s"cnt_$c"))) ++
        Seq(col("n_rows")) ++ avgExprsOf(avgs) ++
        adcExprsOf(distinctCols) ++
        exactDistinctCols.map(c => col(s"cd_$c")) ++
        extrema.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))) ++
        distinctCols.map(c =>
          hllNorm(col(s"hll_$c")).as(s"hll_$c")) ++
        kllCols.map(c => col(s"kll_$c"))): _*)
    }
    val to = Versioned.currentVersion(s, srcDir)
    require(to > 0, s"no committed source version at $srcDir")
    val dstV = Versioned.currentVersion(s, dstDir)
    if (dstV == 0) {
      // PINNED read: a concurrent source commit between the version
      // capture and this scan would otherwise bake its rows into the
      // bootstrap while the note pins the older version — and unlike
      // refresh()'s upsert-by-key, the algebraic patch is NOT
      // idempotent, so the next refresh would double-count them
      val full = aggOf(prepared(Versioned.read(s, srcDir, Some(to))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // null group keys are refused up front (not at first touch):
        // IN-set point reads and equi-joins on the group columns both
        // skip SQL nulls, so a null group could never be patched
        require(full.filter(groupCols.map(col(_).isNull)
            .reduce(_ || _)).isEmpty,
          s"null '${groupCols.mkString(", ")}' group — filter or " +
            "coalesce the group columns before aggregating")
        Versioned.commit(full, dstDir,
          note = Some(Versioned.pinNote(Seq("src" -> to))),
          statsCols = Seq(groupCols.head),
          transform = layoutOf(partitionCol),
          props = Some(bootstrapProps).filter(_.nonEmpty))
      } finally full.unpersist(blocking = false)
      return (0, to)
    }
    val from = pinnedSrcVersion(s, dstDir)
    require(from <= to, s"$dstDir pins src=v$from beyond the source " +
      s"head v$to — the source was rolled back or replaced; rebuild " +
      "into a fresh destination")
    if (from == to) return (to, to)
    val nullRowKey = s"a change event carries a null '$rowKey' — the " +
      "source's equality tombstones key on a different column, so " +
      "the snapshot diff would miss those deletions; key deletes on " +
      s"'$rowKey' (or refresh by rebuild)"
    // persisted: the touched-key count and the delta aggregation both
    // read it
    val diff = Versioned.netChanges(s, srcDir, from, to)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the touched-key bound counts DISTINCT row keys of the diff;
      // the driver holds two longs, never the keys
      val t = diff.agg(count_distinct(col(rowKey)),
        count(when(col(rowKey).isNull, 1))).head()
      val nTouched = t.getLong(0)
      require(t.getLong(1) == 0, nullRowKey)
      require(nTouched <= maxTouchedKeys,
        s"refresh range touches $nTouched row keys " +
          s"(> $maxTouchedKeys) — rebuild into a fresh destination " +
          "instead, or raise maxTouchedKeys")
      if (nTouched == 0) {
        // an empty diff (metadata-only source commits, churn that
        // cancels): advance the pin with a note-only commit — a stuck
        // pin makes every later refresh re-cover this dead range
        Versioned.commitNote(s, dstDir, Versioned.pinNote(Seq("src" -> to)))
        return (from, to)
      }
      // the affected-group recompute read (extrema/sketches): touched
      // groups' rows at the pinned `to` snapshot — a DERIVED group key
      // can't drive the manifest-pruned point read (the source has no
      // such column), so it falls back to the pinned snapshot scan
      // semi-joined on the bucketed tuple, the same plan the >limit
      // tier uses
      def recomputeAt(gdf: DataFrame, n: Long, vals: Seq[Any]) =
        if (derivedNames.isEmpty)
          prepared(pointRead(s, srcDir, groupCols, n, vals, Some(to),
            gdf))
        else prepared(Versioned.read(s, srcDir, Some(to)))
          .join(broadcast(gdf), groupCols, "left_semi")
      // the diff's rows ARE the signed stream: −n rows left the
      // filtered view, +n rows entered it
      aggDeltaApply(s, dstDir, groupCols, values, extrema, avgs,
        distinctCols,
        prepared(diff).withColumnRenamed(Versioned.ChangeWeightCol, "__w"),
        recomputeAt, Versioned.pinNote(Seq("src" -> to)), s"src=v$from",
        s"src=v$to",
        partitionCol, exactDistinctCols, kllCols)
    } finally diff.unpersist(blocking = false)
    (from, to)
  }

  /** The aggregate-view PATCH core, shared by the single-table path
    * ([[refreshAgg]]) and the direct aggregate-over-join path
    * ([[refreshAggJoin]]): aggregate the SIGNED rows — `signed`
    * carries a long weight `__w`, negative for rows that left the
    * view's input, positive for rows that entered it — in ONE shuffle
    * into every group's per-measure deltas, patch the touched
    * destination groups via the tiered point read, audit, and land
    * one atomic commit whose note carries `note`. `recomputeAt` reads
    * the touched groups' rows at the NEW pinned state for the
    * non-invertible columns (extrema, HLL sketches) — callers with
    * neither pass a never-called stub. */
  private def aggDeltaApply(s: SparkSession, dstDir: String,
      groupCols: Seq[String], values: Seq[String],
      extrema: Seq[String], avgs: Seq[String], distincts: Seq[String],
      signed0: DataFrame,
      recomputeAt: (DataFrame, Long, Seq[Any]) => DataFrame,
      note: String, fromLabel: String, toLabel: String,
      partitionCol: Option[String],
      exacts: Seq[String] = Nil,
      klls: Seq[String] = Nil): Unit = {
    val gCols = groupCols.map(col)
    val extCols = extrema.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val extNames = extrema.flatMap(c => Seq(s"min_$c", s"max_$c"))
    // a KLL sketch counts every value it sees, so a row of weight
    // ±n enters the pass n times; every other measure is weighted
    val signed =
      if (klls.isEmpty) signed0
      else signed0.withColumn("__w", explode(array_repeat(
        signum(col("__w")).cast("long"), abs(col("__w")).cast("int"))))
    // distinct measures ride the same pass: d_hll_<c> sketches the
    // NEW-side values only (old-side rows null out and HLL skips
    // nulls), and d_old counts old-side rows — any means the group
    // lost or changed rows, so its sketch must recompute (no sketch
    // can subtract); none means insert-only, where the union of the
    // stored and new sketches is EXACTLY the sketch of the union
    val sketched = distincts.nonEmpty || klls.nonEmpty
    val deltaAggs = (values.flatMap(c => Seq(
      coalesce(sum(col(c) * col("__w")), lit(0L)).as(s"d_sum_$c"),
      sum(when(col(c).isNotNull, col("__w")).otherwise(0L))
        .as(s"d_cnt_$c"))) :+ sum(col("__w")).as("d_n")) ++
      (if (!sketched) Nil
       else Seq(sum(when(col("__w") < 0L, -col("__w")).otherwise(0L))
         .as("d_old")) ++ distincts.map(c =>
         hll_sketch_agg(when(col("__w") > 0L, col(c)))
           .as(s"d_hll_$c")) ++ klls.map(c =>
         call_function("graft_kll",
           when(col("__w") > 0L, col(c))).as(s"d_kll_$c")))
    val delta = signed.groupBy(gCols: _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one row per group by construction; the same limit-probe fold
      // as the touched keys — the common case's count, null check,
      // IN-tier first-column values, and (sketched) the per-group
      // old-side row count that picks merge vs recompute, ALL in one
      // job over the persisted delta (the loss-group probe used to be
      // its own collect)
      val groupsDf = delta.select(gCols: _*)
      val probeCols = if (sketched) gCols :+ col("d_old") else gCols
      val gProbe = delta.select(probeCols: _*)
        .limit(PruneKeyLimit + 1).collect()
      val gSmall = gProbe.length <= PruneKeyLimit
      val (nGroups, nGroupsNonNull) =
        if (gSmall) (gProbe.length.toLong, gProbe.count(r =>
          groupCols.indices.forall(i => !r.isNullAt(i))).toLong)
        else {
          val g = delta.agg(count(lit(1)).as("n"),
            count(when(groupCols.map(col(_).isNotNull)
              .reduce(_ && _), lit(1))).as("nn")).head()
          (g.getLong(0), g.getLong(1))
        }
      require(nGroups == nGroupsNonNull,
        s"null '${groupCols.mkString(", ")}' group — filter or " +
          "coalesce the group columns before aggregating")
      val groupVals = gProbe.map(_.get(0)).distinct.toSeq
      if (nGroups == 0) {
        // the window's inserts and deletes cancelled exactly (CDC
        // churn): nothing to patch, but the pin must still travel
        Versioned.commitNote(s, dstDir, note)
        return
      }
      // patch the touched destination groups via the same tiered
      // point read, keyed on the group columns. The existing-side key
      // set is ⊆ the delta's in EVERY tier (IN-tier: a row filter on
      // the delta's own values; semi-join tiers: the delta frame is
      // the probe), so the outer join degenerates to a LEFT join —
      // and the existing side is bounded by the same maxTouchedKeys
      // that bounds the whole algorithm, so it broadcasts: the patch
      // costs no second shuffle (the delta reuses its aggregation
      // partitioning) and the audit action is one stage shorter.
      val existing = pointRead(s, dstDir, groupCols, nGroups,
        groupVals, None, groupsDf)
        .withColumn("__present", lit(1))
      // broadcast hint only when the delta probe PROVED the group set
      // small (gSmall ≤ PruneKeyLimit rows): the existing side is
      // full MV rows including HLL/KLL sketch binaries, and at the
      // maxTouchedKeys bound a forced broadcast is a multi-hundred-MB
      // driver collect. Above the proven-small tier the join ships
      // un-hinted and AQE picks the strategy from the measured size.
      def hinted(df: DataFrame): DataFrame =
        if (gSmall) broadcast(df) else df
      val patched = delta
        .join(hinted(existing), groupCols, "left")
        .select(gCols ++ values.flatMap(c => Seq(
          (coalesce(col(s"sum_$c"), lit(0)) +
            coalesce(col(s"d_sum_$c"), lit(0))).as(s"sum_$c"),
          (coalesce(col(s"cnt_$c"), lit(0L)) +
            coalesce(col(s"d_cnt_$c"), lit(0L))).as(s"cnt_$c"))) ++
          Seq(
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_n"),
            lit(0L))).as("n_rows"),
          // a delta group with d_n == 0 is a pure value update: its
          // rows exist at BOTH pinned snapshots, so the group MUST
          // already stand in the destination — a missing row would
          // patch to n_rows=0 and silently emit a group DELETE
          // (dropping the updated sum) instead of refusing
          (col("__present").isNull && col("d_n") === 0L)
            .as("__ghost")) ++
          // the MERGED sketch (stored ∪ new-side — exact for
          // insert-only groups; the new-side sketch normalizes first
          // so an empty one leaves the stored bytes untouched) and
          // the old-side row count deciding merge vs recompute
          (if (!sketched) Nil
           else Seq(coalesce(col("d_old"), lit(0L)).as("__dold")) ++
             distincts.map(c =>
               hllMerge(col(s"hll_$c"), hllNorm(col(s"d_hll_$c")))
                 .as(s"hll_$c")) ++
             klls.map(c =>
               call_function("graft_kll_union", col(s"kll_$c"),
                 col(s"d_kll_$c")).as(s"kll_$c"))): _*)
      // the non-invertible recompute leg (extrema / exact-distinct /
      // sketch-loss), built BEFORE the audit so its consistency check
      // rides the SAME action as the algebraic audits below — the
      // extrema and sketch paths used to pay a separate count() job
      // per refresh for it. `offCond` is the leg's disagreement
      // predicate over the joined frame; lit(false) when no leg runs.
      val (extLeg, offCond) =
        if (extrema.nonEmpty || exacts.nonEmpty) {
          // affected-group recompute for the non-invertible extrema
          // and EXACT distinct counts: re-aggregate ONLY the touched
          // groups' rows at the pinned NEW state (tiered read, keyed
          // on the group columns, the same WHERE applied — they
          // summarize the filtered stream like every other stored
          // column). Exact distinct forces this read on the INSERT
          // path too — an inserted value may already exist, so no
          // merge can tell whether the count grows.
          val srcGroups = recomputeAt(groupsDf, nGroups, groupVals)
          val ext = srcGroups.groupBy(gCols: _*).agg(
            count(lit(1)).as("__extn"),
            (extCols ++
              exacts.map(c => count_distinct(col(c)).as(s"cd_$c")) ++
              distincts.map(c =>
              hll_sketch_agg(col(c)).as(s"r_hll_$c")) ++
              klls.map(c => call_function("graft_kll", col(c))
                .as(s"r_kll_$c"))): _*)
          // every surviving group must reappear with the algebraic
          // count (the recompute doubles as a consistency audit)
          (Some(ext), col("n_rows") > 0L &&
            (col("__extn").isNull || col("__extn") =!= col("n_rows")))
        } else if (sketched) {
          // groups that LOST rows in the window recompute their
          // sketches from the pinned `to` snapshot; insert-only
          // groups keep the exact merge — the common append path
          // pays NO extra source read. Loss groups come from the
          // gProbe's d_old column in the small tier (no extra job);
          // only an over-limit delta pays the separate probe.
          val delGroupsDf = delta.filter(col("d_old") > 0)
            .select(gCols: _*)
          val (nDel, dVals) =
            if (gSmall) {
              val dRows = gProbe.filter(_.getLong(gCols.length) > 0L)
              (dRows.length.toLong, dRows.map(_.get(0)).distinct.toSeq)
            } else {
              val dProbe = delGroupsDf.limit(PruneKeyLimit + 1)
                .collect()
              (if (dProbe.length <= PruneKeyLimit)
                 dProbe.length.toLong
               else delGroupsDf.count(),
                dProbe.map(_.get(0)).distinct.toSeq)
            }
          if (nDel == 0) (None, lit(false))
          else {
            val srcDel = recomputeAt(delGroupsDf, nDel, dVals)
            val rAggs = count(lit(1)).as("__rn") +:
              (distincts.map(c =>
                hll_sketch_agg(col(c)).as(s"r_hll_$c")) ++
               klls.map(c => call_function("graft_kll", col(c))
                 .as(s"r_kll_$c")))
            val rHll = srcDel.groupBy(gCols: _*)
              .agg(rAggs.head, rAggs.tail: _*)
            // recomputed SURVIVING groups must reappear with the
            // algebraic count — the extrema audit's twin
            (Some(rHll), col("n_rows") > 0L && col("__dold") > 0L &&
              (col("__rn").isNull || col("__rn") =!= col("n_rows")))
          }
        } else (None, lit(false))
      // the leg is one aggregated row per touched group — same
      // proven-small gating as the existing side above (it carries
      // recomputed sketch state, the same driver-pressure shape)
      val audited = extLeg.fold(patched)(e =>
          patched.join(hinted(e), groupCols, "left"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE action serves every audit AND the commit preflight the
        // merge used to recompute (upsert/delete counts, the
        // manifest-pruning key range): the algebraic invariants, the
        // ghost check, and the recompute-leg agreement are all
        // per-row facts of the same audited frame
        val key = groupCols.head
        val bad = audited.agg(
          sum(when(col("n_rows") < 0L, 1L).otherwise(0L)),
          sum(when(values.map(c => col(s"cnt_$c") < 0L)
            .reduceOption(_ || _).getOrElse(lit(false)), 1L)
            .otherwise(0L)),
          sum(when(col("__ghost"), 1L).otherwise(0L)),
          sum(when(offCond, 1L).otherwise(0L)),
          coalesce(sum(when(col("n_rows") > 0L, 1L).otherwise(0L)),
            lit(0L)),
          coalesce(sum(when(col("n_rows") === 0L, 1L).otherwise(0L)),
            lit(0L)),
          min(when(col("n_rows") > 0L, col(key))),
          max(when(col("n_rows") > 0L, col(key)))).head()
        require(bad.getLong(0) == 0 && bad.getLong(1) == 0,
          s"${bad.getLong(0)} group(s) would reach a negative row " +
          s"count and ${bad.getLong(1)} a negative value count — the " +
          s"destination does not reflect $fromLabel" +
          " (corrupt pin or out-of-band edits); rebuild")
        require(bad.getLong(2) == 0, s"${bad.getLong(2)} pure-value-" +
          "update group(s) have no destination row — the destination " +
          s"does not reflect $fromLabel (corrupt pin or out-of-band " +
          "edits); rebuild")
        require(bad.getLong(3) == 0, s"${bad.getLong(3)} group(s) " +
          s"disagree between the algebraic row count and the " +
          s"$toLabel recompute — corrupt pin or out-of-band edits; " +
          "rebuild")
        val nUps = bad.getLong(4)
        val nDels = bad.getLong(5)
        val range = if (nUps == 0 || bad.isNullAt(6)) None
          else Some((key, bad.get(6), bad.get(7)))
        // stored avgs re-derive from the PATCHED pairs on every
        // touch, so they can never drift from sum/cnt (NULL for the
        // all-null group, like the sum) — the same [[avgExprsOf]]
        // definition the bootstrap aggregation stores
        val avgCols = avgExprsOf(avgs)
        // recompute-leg columns the final projection reads (the
        // recompute read is already paid for every touched group, so
        // the sketches ride it too — ground truth)
        val legCols: Seq[Column] =
          if (extrema.nonEmpty || exacts.nonEmpty)
            extNames.map(col) ++
              exacts.map(c => col(s"cd_$c")) ++
              distincts.map(c => col(s"r_hll_$c")) ++
              klls.map(c => col(s"r_kll_$c"))
          else if (extLeg.isDefined)
            distincts.map(c => col(s"r_hll_$c")) ++
              klls.map(c => col(s"r_kll_$c"))
          else Nil
        val upserts0 = audited.filter(col("n_rows") > 0)
          // the all-null group stores NULL, matching the recompute
          .select(gCols ++ values.flatMap(c => Seq(
            when(col(s"cnt_$c") === 0L, lit(null))
              .otherwise(col(s"sum_$c")).as(s"sum_$c"),
            col(s"cnt_$c"))) ++
            Seq(col("n_rows")) ++ avgCols ++
            (if (!sketched) Nil
             else Seq(col("__dold")) ++
               distincts.map(c => col(s"hll_$c")) ++
               klls.map(c => col(s"kll_$c"))) ++ legCols: _*)
        // the stored order: groups, (sum, cnt)…, n_rows, avg…, adc…
        // (estimates re-derived from the FINAL sketches so they can
        // never drift), cd… (exact distinct counts), ext…, hll…
        // (sketch state rides last)
        def ordered(df: DataFrame): DataFrame =
          df.select((gCols ++
            values.flatMap(c => Seq(col(s"sum_$c"), col(s"cnt_$c"))) ++
            Seq(col("n_rows")) ++ avgs.map(c => col(s"avg_$c")) ++
            adcExprsOf(distincts) ++
            exacts.map(c => col(s"cd_$c")) ++ extNames.map(col) ++
            distincts.map(c => col(s"hll_$c")) ++
            klls.map(c => col(s"kll_$c"))): _*)
        val upserts = if (extrema.nonEmpty || exacts.nonEmpty) {
          ordered(klls.foldLeft(
            distincts.foldLeft(upserts0: DataFrame) {
              case (df, c) =>
                df.withColumn(s"hll_$c", hllNorm(col(s"r_hll_$c"))) }) {
            case (df, c) =>
              df.withColumn(s"kll_$c", col(s"r_kll_$c")) })
        } else if (extLeg.isDefined) {
          ordered(klls.foldLeft(
            distincts.foldLeft(upserts0: DataFrame) {
              case (df, c) => df.withColumn(s"hll_$c",
                when(col("__dold") > 0, hllNorm(col(s"r_hll_$c")))
                  .otherwise(col(s"hll_$c"))) }) {
            case (df, c) => df.withColumn(s"kll_$c",
              when(col("__dold") > 0, col(s"r_kll_$c"))
                .otherwise(col(s"kll_$c"))) })
        } else ordered(upserts0)
        val dels = audited.filter(col("n_rows") === 0L)
          .select(gCols: _*)
        // the audited frame's facts stand in for the merge's own
        // preflight: group tuples are distinct (one row per group by
        // construction), non-null (audited above), and the
        // upsert/delete sides partition on n_rows — so the trusted
        // entry skips the public path's preflight aggregation job
        Versioned.applyChangesKeysPre(s, dstDir, upserts = upserts,
          delKeys = dels, keyCols = groupCols,
          n = nUps, nDelOnly = nDels, pruneRange = range,
          transform = layoutOf(partitionCol),
          statsCols = Seq(groupCols.head), note = Some(note))
      } finally {
        audited.unpersist(blocking = false)
      }
    } finally delta.unpersist(blocking = false)
  }
}
