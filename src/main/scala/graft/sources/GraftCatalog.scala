package graft.sources

import java.util

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  NamespaceAlreadyExistsException, NonEmptyNamespaceException,
  NoSuchNamespaceException, NoSuchTableException,
  TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier,
  NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog,
  SupportsNamespaces, SupportsWrite, Table, TableCapability,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The resolved form of a catalog reference to a [[Versioned]] table:
  * one IMMUTABLE snapshot (directory + pinned version + that
  * version's schema). The table deliberately advertises NO read
  * capability — it is never scanned through the DSv2 `Batch` path.
  * Instead [[graft.plans.VersionedRelationRule]] (installed by
  * [[graft.GraftExtensions]]) rewrites its relation into the full
  * [[Versioned.read]] plan during analysis, because a snapshot read is
  * not a bare file scan: merge-on-read tombstones need anti-joins and
  * hidden partition transforms need column pruning — plan shapes the
  * `Scan` API cannot express. Keeping the rewrite in the analyzer
  * hands Catalyst the SAME declarative plan the programmatic API
  * builds (pushdown, pruning, AQE all apply); a session without the
  * extensions fails loudly at analysis ("does not support batch
  * scan") rather than returning wrong rows.
  *
  * WRITES go through the V1 write fallback (`V1_BATCH_WRITE`): the
  * commit protocol is a driver-side ATOMIC publish (stage → rename →
  * marker) over a whole DataFrame, which is exactly the
  * `InsertableRelation` contract — `INSERT INTO` /
  * `df.writeTo(...).append()` land as [[Versioned.append]] (O(delta),
  * auto-retried on slot races) and `INSERT OVERWRITE` (truncate) as a
  * fresh [[Versioned.commit]] snapshot, with full history retained
  * either way. Re-implementing the parquet task-writer protocol under
  * `BATCH_WRITE` would buy nothing: atomicity lives in the manifest
  * swap, not the file writes. */
final class GraftVersionedTable(val tableDir: String,
    val snapshotVersion: Int, tableSchema: StructType,
    displayName: String,
    declaredSpec: () => Option[Versioned.Transform] = () => None,
    tableProps: () => Map[String, String] = () => Map.empty)
    extends Table with SupportsWrite {
  override def name(): String = displayName
  override def schema(): StructType = tableSchema
  /** Persisted table properties (SHOW TBLPROPERTIES / DESCRIBE
    * EXTENDED read this); lazy like the spec — free on the hot path. */
  override def properties(): util.Map[String, String] = propsLazy
  private lazy val propsLazy: util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    tableProps().foreach { case (k, v) => m.put(k, v) }
    util.Collections.unmodifiableMap(m)
  }
  /** The table's CURRENT declared partition spec as DSv2 transforms,
    * so `DESCRIBE [EXTENDED]` and `SHOW CREATE TABLE` print
    * `PARTITIONED BY (...)` — the SQL user evolving specs sees the
    * live declaration without spelunking `.partitions` layouts or
    * `_tspec` internals. Lazy: resolved on first ask (DESCRIBE-style
    * commands), free on the hot read/write path. */
  override def partitioning():
      Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitioningLazy
  private lazy val partitioningLazy:
      Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    declaredSpec().map {
      case Versioned.Transform.Identity(c) => Expressions.identity(c)
      case Versioned.Transform.Years(c) => Expressions.years(c)
      case Versioned.Transform.Months(c) => Expressions.months(c)
      case Versioned.Transform.Days(c) => Expressions.days(c)
      case Versioned.Transform.Hours(c) => Expressions.hours(c)
      case Versioned.Transform.Bucket(n, c) => Expressions.bucket(n, c)
      case Versioned.Transform.Truncate(w, c) => Expressions.apply(
        "truncate", Expressions.literal(w), Expressions.column(c))
    }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION opts into MERGE ... WITH SCHEMA
    // EVOLUTION only: the analyzer routes missing source columns
    // through alterTable (a metadata-only addColumn) before the merge
    // lowers. It does NOT relax INSERT schema checks (that would be
    // ACCEPT_ANY_SCHEMA, deliberately absent).
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def version(): String = snapshotVersion.toString
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(tableDir, displayName)
}

/** A resolved METADATA table — `graft.db.t.history` / `graft.db.t
  * .files` / `.refs` / `.partitions`, the Iceberg metadata-table
  * addressing (README.md:78's
  * catalog exposes `db.t.history` the same way): the trailing
  * identifier segment selects the view over the PARENT table's
  * manifest surface. Like [[GraftVersionedTable]] it advertises no
  * read capability; [[graft.plans.VersionedRelationRule]] expands it
  * into [[Versioned.history]]/[[Versioned.files]] during analysis
  * (driver-metadata frames — no data file is opened). Writes are
  * refused by capability absence. */
final class GraftMetaTable(val tableDir: String, val kind: String,
    val pinnedVersion: Option[Int], tableSchema: StructType,
    displayName: String) extends Table {
  override def name(): String = displayName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.noneOf(classOf[TableCapability])
}

/** V1-fallback write builder for a versioned table: append by default;
  * `truncate()` (Spark's INSERT OVERWRITE lowering when the overwrite
  * condition is `true`) swaps in a fresh full snapshot. Partial
  * (filtered) overwrites are refused by Spark itself — the builder
  * implements only `SupportsTruncate`, matching the engine's
  * row-level surface ([[Versioned.deleteWhere]]/[[Versioned.upsert]])
  * which owns sub-snapshot mutation. */
private final class GraftWriteBuilder(tableDir: String,
    displayName: String) extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ignored: Boolean): Unit = {
          DerivedTable.requireNotMv(data.sparkSession, tableDir,
            displayName,
            if (overwrite) "INSERT OVERWRITE" else "INSERT INTO")
          if (overwrite) {
            // INSERT OVERWRITE truncates DATA, not table properties:
            // the fresh full snapshot re-declares the current spec
            // explicitly (commit deliberately never inherits — its
            // declaration IS the spec, the REPLACE semantic)
            val tspec = Versioned
              .currentTransform(data.sparkSession, tableDir)
              .filter(t => data.columns.contains(t.source))
            Versioned.commit(data, tableDir,
              note = Some(s"INSERT OVERWRITE $displayName"),
              transform = tspec)
          } else
            // append inherits the table's declared spec itself — one
            // copy of the policy, shared with the programmatic path
            Versioned.append(data, tableDir,
              note = Some(s"INSERT INTO $displayName"))
        }
      }
  }
}

/** Staged create/replace target ([[GraftCatalog.stageCreate]] family):
  * the CTAS/RTAS write publishes ONE atomic [[Versioned.commit]] — a
  * fresh full snapshot on the table's existing version line, so
  * `createOrReplace` RETAINS prior snapshots for time travel (the
  * Iceberg REPLACE semantic) instead of deleting the directory the
  * way the non-staged drop-then-create fallback would. A failed write
  * never publishes (the commit protocol is all-or-nothing), so
  * `commitStagedChanges` only has work to do when NO write ran at all
  * (plain `CREATE OR REPLACE TABLE` without AS SELECT): it publishes
  * the declared schema as an empty snapshot, mirroring
  * [[GraftCatalog.createTable]]. */
private final class GraftStagedTable(tableDir: String,
    displayName: String, declared: StructType, freshCreate: Boolean,
    spec: Option[Versioned.Transform],
    props: Map[String, String])
    extends StagedTable with SupportsWrite {
  @volatile private var wrote = false
  override def name(): String = displayName
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                ignored: Boolean): Unit = {
              // the DECLARED spec partitions the CTAS/RTAS write (and
              // persists as the table's default going forward); its
              // absence REPLACES any prior spec with unpartitioned
              // the DECLARED properties replace any prior set (the
              // Iceberg CREATE OR REPLACE contract) — Some(empty)
              // resets rather than inheriting
              Versioned.commit(data, tableDir,
                note = Some(s"CREATE OR REPLACE $displayName"),
                transform = spec, props = Some(props))
              wrote = true
            }
          }
      }
    }
  override def commitStagedChanges(): Unit =
    if (!wrote) {
      val s = SparkSession.active
      val empty = s.createDataFrame(
        new util.ArrayList[org.apache.spark.sql.Row](), declared)
      Versioned.commit(empty, tableDir,
        note = Some(s"CREATE OR REPLACE $displayName"),
        transform = spec, props = Some(props))
    }
  override def abortStagedChanges(): Unit = {
    // a failed write published nothing (atomic commit); only a FRESH
    // create may have left a partially-created directory worth
    // sweeping — never touch a pre-existing table's history
    if (freshCreate && !wrote) {
      val p = new Path(tableDir)
      val f = p.getFileSystem(
        SparkSession.active.sessionState.newHadoopConf())
      if (f.exists(p)) f.delete(p, true)
    }
  }
}

/** DSv2 `TableCatalog` over a directory tree of [[Versioned]] tables —
  * the catalog-resolution surface the reference's engines get from
  * their Iceberg catalog (reference
  * presto/etc/catalog/iceberg.properties:1-3; README.md:78 queries
  * `iceberg.db.nyc_taxi_table` by name): register once
  * (`spark.sql.catalog.graft=graft.sources.GraftCatalog`, wired by
  * [[graft.Sessions]]) and every versioned table is addressable from
  * plain SQL with NATIVE time travel —
  *
  *   - `SELECT … FROM graft.db.t`                      (current snapshot)
  *   - `SELECT … FROM graft.db.t VERSION AS OF 3`      (snapshot pin)
  *   - `SELECT … FROM graft.db.t VERSION AS OF 'tag'`  (named tag)
  *   - `SELECT … FROM graft.db.t TIMESTAMP AS OF '…'`  ([[Versioned.versionAsOf]])
  *
  * Identifiers resolve to directories: `graft.a.b.t` maps to
  * `<root>/a/b/t` under the catalog's root (the `root` catalog option,
  * re-read LIVE from the session conf on every lookup so one
  * long-lived session can point at test/staging roots without
  * rebuilding the catalog instance, which Spark's CatalogManager
  * caches); a BACKQUOTED absolute path (``graft.`/data/tbl` ``) maps
  * to itself, the Delta-style escape hatch that needs no root at all.
  *
  * Every reference pins the CURRENT version at resolution time, so one
  * statement reads one consistent snapshot, and the next statement
  * re-resolves — a post-commit `spark.table` sees the new version with
  * no re-registration (the staleness class [[Versioned.registerVersions]]'
  * temp views carry by design). `CREATE TABLE` commits an empty v=1
  * (identity-partitioned at most), `DROP TABLE` removes the directory.
  *
  * WRITES land through the same commit protocol the programmatic API
  * uses — `INSERT INTO graft.db.t`, `df.writeTo("graft.db.t")
  * .append()`, `INSERT OVERWRITE`, and (via [[StagingTableCatalog]])
  * `.create()`/`.replace()`/`.createOrReplace()` each publish ONE
  * atomic version, auto-retried on slot races, history retained —
  * the reference's own ETL commits exactly this way
  * (csv_to_ice.py:58 `writeTo(...).createOrReplace()`).
  * RENAME is refused like Iceberg's HadoopCatalog: positional
  * tombstones bind absolute file paths, so a moved directory would
  * resurrect deleted rows — refuse loudly, never lie. */
class GraftCatalog extends TableCatalog with StagingTableCatalog
    with SupportsNamespaces with ProcedureCatalog {
  private var catName = "graft"
  private var initRoot: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initRoot = Option(options.get("root"))
  }

  override def name(): String = catName

  private def spark = SparkSession.active

  private def root: String =
    spark.conf.getOption(s"spark.sql.catalog.$catName.root")
      .orElse(initRoot)
      .getOrElse(throw new IllegalStateException(
        s"catalog '$catName' has no root: set spark.sql.catalog." +
          s"$catName.root, or name tables by absolute path " +
          s"($catName.`/abs/dir`)"))

  /** The identifier→directory mapping, usable for NOT-YET-EXISTING
    * targets (CREATE MATERIALIZED VIEW resolves its destination
    * before the table exists — loadTable would throw). */
  def dirFor(ident: Identifier): String = dirOf(ident)

  private def dirOf(ident: Identifier): String =
    if (ident.name.startsWith("/")) {
      require(ident.namespace.isEmpty,
        s"absolute-path table `${ident.name}` takes no namespace, " +
          s"got ${ident.namespace.mkString(".")}")
      ident.name
    } else (root +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def display(ident: Identifier): String =
    (catName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  /** Snapshot schemas are immutable, so they memoize per (table,
    * version, publish-marker mtime) — the marker stamp keys out a
    * table dropped and recreated at the same path, the schemaMemo
    * pattern. Halves the per-reference metadata walks: the analyzer
    * rule still builds one fresh read() plan per occurrence (each
    * needs its own expression ids), but resolution stops paying a
    * second full plan construction just to learn the schema. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, StructType]()

  /** `<table>.history` / `<table>.files` resolve as metadata tables
    * of the parent — tried only when the full identifier is NOT
    * itself a committed table, so a real table named `history` under
    * a table-named directory still wins. */
  private def metaLoad(ident: Identifier,
      version: Option[Int]): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val kind = ident.name.toLowerCase(java.util.Locale.ROOT)
    if (kind != "history" && kind != "files" && kind != "refs" &&
      kind != "partitions" && kind != "snapshots" &&
      kind != "manifests" && kind != "all_files" && kind != "entries" &&
      kind != "position_deletes" && kind != "stats" &&
      kind != "all_manifests" && kind != "metadata_log")
      return None
    val parent = Identifier.of(ident.namespace.dropRight(1),
      ident.namespace.last)
    val dir = Try(dirOf(parent)).getOrElse(return None)
    if (Try(Versioned.currentVersion(spark, dir)).getOrElse(0) == 0)
      return None
    // pin at RESOLUTION like every catalog reference: one statement
    // reads one consistent snapshot's file inventory
    val pin = kind match {
      case "history" | "refs" | "all_files" | "all_manifests" |
          "metadata_log" =>
        if (version.isDefined)
          throw new UnsupportedOperationException(
            s"${display(ident)} is whole-table metadata; VERSION AS " +
              "OF does not apply (pin .files/.manifests instead)")
        None
      case "files" | "partitions" | "snapshots" | "manifests" |
          "entries" | "position_deletes" | "stats" =>
        Some(version.getOrElse(Versioned.currentVersion(spark, dir)))
    }
    val df = kind match {
      case "history" => Versioned.history(spark, dir)
      case "files" => Versioned.files(spark, dir, pin)
      case "refs" => Versioned.refs(spark, dir)
      case "partitions" => Versioned.partitions(spark, dir, pin)
      case "snapshots" => Versioned.snapshots(spark, dir, pin)
      case "manifests" => Versioned.manifests(spark, dir, pin)
      case "all_files" => Versioned.allFiles(spark, dir)
      case "all_manifests" => Versioned.allManifests(spark, dir)
      case "metadata_log" => Versioned.metadataLog(spark, dir)
      case "entries" => Versioned.entries(spark, dir, pin)
      case "position_deletes" =>
        Versioned.positionDeletes(spark, dir, pin)
      case "stats" => Versioned.statsTable(spark, dir, pin)
    }
    Some(new GraftMetaTable(dir, kind, pin, df.schema,
      display(ident)))
  }

  private def load(ident: Identifier, version: Option[Int]): Table = {
    // dirOf may itself fail for a meta-shaped ident (rootless catalog
    // with an absolute-path parent: graft.`/x`.history has namespace
    // ["/x"]) — a failed full-ident mapping falls through to metaLoad
    val cur = Try(Versioned.currentVersion(spark, dirOf(ident)))
      .getOrElse(0)
    if (cur == 0)
      return metaLoad(ident, version).getOrElse(
        throw new NoSuchTableException(ident.namespace :+ ident.name))
    val dir = dirOf(ident)
    // mv.refresh-on-read fires HERE, at resolution: a head read of a
    // stale-beyond-bound view that opted in advances the view first
    // and captures the NEW head, so every expansion of this query
    // reads one consistent, already-fresh snapshot and the analyzer
    // gates stay side-effect-free (they only refuse). Explicit
    // VERSION/TIMESTAMP AS OF reads are exempt — pinned snapshots
    // are immutable. Without the opt-in this NEVER throws
    // (refuseWhenStale = false): metadata surfaces like SHOW
    // TBLPROPERTIES resolve through here and must keep serving a
    // stale view — that is how one diagnoses it; only the scan
    // expansion refuses. Memoized: a non-MV or unbounded table costs
    // one head probe after first sight.
    val v = version.getOrElse(DerivedTable.freshVersionForRead(
      spark, dir, cur, refuseWhenStale = false))
    val vs = Versioned.versions(spark, dir)
    require(vs.contains(v),
      s"version $v of ${display(ident)} is not retained " +
        s"(retained: ${vs.mkString(", ")})")
    val stamp = Try(new Path(dir, s"_commit_$v")
      .getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(new Path(dir, s"_commit_$v"))
      .getModificationTime).toOption
    val schema = stamp match {
      case None => // marker probe failed: resolve fresh, never memo a guess
        Versioned.read(spark, dir, Some(v)).schema
      case Some(st) =>
        val key = s"$dir $v $st"
        Option(schemaMemo.get(key)).getOrElse {
          val sc = Versioned.read(spark, dir, Some(v)).schema
          if (schemaMemo.size > 10000) schemaMemo.clear()
          schemaMemo.put(key, sc)
          sc
        }
    }
    new GraftVersionedTable(dir, v, schema, display(ident),
      () => Versioned.currentTransform(spark, dir),
      () => {
        val props = Versioned.properties(spark, dir)
        // a materialized view's CURRENT source pin surfaces beside its
        // stored spec (DESCRIBE EXTENDED / SHOW TBLPROPERTIES show
        // both) — read from the head commit note, where the pin
        // actually lives, so it is always the refresh truth and never
        // a stale copy
        if (!props.contains(graft.sources.DerivedTable.MvKindProp)) props
        else props ++ Versioned.notePin(spark, dir, "src").map(v =>
            "graft.mv.pinned_source_version" -> v.toString) ++
          // the full freshness contract beside the pin, read LIVE
          // (SHOW TBLPROPERTIES is the MV refresh-state surface —
          // Iceberg's MV spec exposes the same trio). Per-LEG keys
          // keep the trio coherent on a join view: source_head pairs
          // with the src pin, a dim_* trio names the dim leg, and
          // staleness_versions is the VIEW's overall lag (the max —
          // the number the max-staleness bound gates on).
          {
            // ONE transitive walk serves both figures: own legs are
            // the '.'-free keys (the walk's first segment), so the
            // per-leg pin/head probes aren't paid twice
            val trans = graft.sources.DerivedTable
              .refreshLegsTransitive(spark, dir, props)
            val legs = trans.filter(!_._1.contains('.'))
            legs.flatMap {
              case ("src", _, Some((_, head, _))) => Seq(
                "graft.mv.source_head_version" -> head.toString)
              case ("dim", _, Some((pin, head, lag))) => Seq(
                "graft.mv.dim_pinned_version" -> pin.toString,
                "graft.mv.dim_head_version" -> head.toString,
                "graft.mv.dim_staleness_versions" -> lag.toString)
              case _ => Nil
            } ++ Some(legs.flatMap(_._3.map(_._3)))
              // the overall lag only when EVERY leg resolves: a
              // buried pin must read as UNKNOWN (key absent), not as
              // a confident number computed from the other leg alone
              .filter(ls => ls.nonEmpty && ls.length == legs.length)
              .map(ls =>
                "graft.mv.staleness_versions" -> ls.max.toString) ++
            // the TRANSITIVE lag a reader actually experiences —
            // follows sources that are themselves MVs through their
            // own pins (bronze→silver→gold); present only when a
            // lineage exists beyond the own legs and every leg of it
            // resolves (same unknown-over-confident discipline)
            Some(trans.flatMap(_._3.map(_._3)))
              .filter(ls => ls.length > legs.length &&
                ls.length == trans.length)
              .map(ls => "graft.mv.transitive_staleness_versions" ->
                ls.max.toString) ++
            // WALL-CLOCK staleness beside the version trio: seconds
            // since the oldest unseen source commit, 0 when fresh —
            // absent when any pin is buried or a lagging source
            // predates timestamped refs (unknown over confident)
            graft.sources.DerivedTable
              .stalenessSecondsFromLegs(spark, trans)
              .map(a => "graft.mv.staleness_seconds" -> a.toString)
          }
      })
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF`: an integer pins a snapshot, anything else
    * resolves as a named tag ([[Versioned.tags]]) or, failing that, a
    * branch head ([[Versioned.branches]]) — so an audit query can read
    * `VERSION AS OF 'staging'` before a fast-forward publishes it. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = Try(version.toInt).toOption.getOrElse {
      val dir = dirOf(ident)
      Versioned.tags(spark, dir).get(version)
        .orElse(Versioned.branches(spark, dir).get(version))
        .getOrElse(throw new IllegalArgumentException(
          s"'$version' is neither a version number, a tag, nor a " +
            s"branch of ${display(ident)} (tags: " +
            s"${Versioned.tags(spark, dir).keys.toSeq.sorted
              .mkString(", ")}; branches: " +
            s"${Versioned.branches(spark, dir).keys.toSeq.sorted
              .mkString(", ")})"))
    }
    load(ident, Some(v))
  }

  /** `TIMESTAMP AS OF` (Spark hands micros): same resolution — and
    * the same expired-gap refusals — as [[Versioned.readAsOf]]. */
  override def loadTable(ident: Identifier,
      timestampMicros: Long): Table =
    load(ident, Some(Versioned.versionAsOf(spark, dirOf(ident),
      Math.floorDiv(timestampMicros, 1000L))))

  override def tableExists(ident: Identifier): Boolean =
    Try(Versioned.currentVersion(spark, dirOf(ident))).getOrElse(0) > 0

  override def invalidateTable(ident: Identifier): Unit = ()

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new Path((root +: namespace.toSeq).mkString("/"))
    val f = base.getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!f.exists(base))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    f.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter(p =>
        Try(Versioned.currentVersion(spark, p.toString)).getOrElse(0) > 0)
      .map(p => Identifier.of(namespace, p.getName))
  }

  /** CREATE TABLE commits an empty v=1 with the declared schema, so
    * SQL DDL and programmatic appends compose. `PARTITIONED BY`
    * declares the table's DEFAULT partition spec (the reference's own
    * DDL shape — csv_to_ice.py:54 `PARTITIONED BY (pickup_date)`,
    * and Iceberg's hidden `days(ts)`/`bucket(n, id)` forms): the
    * empty commit records it in its `_tspec` sidecar (vacuously true
    * of zero files), and every later commit/INSERT without an
    * explicit transform inherits it via
    * [[Versioned.currentTransform]]. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new IllegalStateException(
        s"table ${display(ident)} already exists")
    val empty = spark.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema)
    Versioned.commit(empty, dirOf(ident), note = Some("CREATE TABLE"),
      transform = declaredSpec(partitions, schema),
      props = Some(userProps(properties)).filter(_.nonEmpty))
    load(ident, None)
  }

  /** The user-declared TBLPROPERTIES of a CREATE statement — Spark
    * mixes engine-reserved keys (provider/location/owner/…) into the
    * same map; those describe the catalog entry, not table state, and
    * must not persist into `_props`. */
  private def userProps(
      properties: util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val reserved = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION, "transient_lastDdlTime")
    properties.asScala.toMap -- reserved
  }

  /** Map Spark's DDL partition transforms onto the engine's hidden
    * transform spec ([[Versioned.Transform]]). One partition field
    * (the engine's spec is single-transform); a bare column is
    * IDENTITY; `years/months/days/hours(col)`, `bucket(n, col)` and
    * `truncate(w, col)` map by name (literal/column argument order is
    * accepted both ways — Spark's parser preserves whatever the user
    * wrote). Validated against the declared schema so a bad spec
    * fails the DDL statement, not the first insert. */
  private def declaredSpec(partitions: Array[Transform],
      schema: StructType): Option[Versioned.Transform] = {
    if (partitions.isEmpty) return None
    if (partitions.length > 1)
      throw new UnsupportedOperationException(
        "PARTITIONED BY supports exactly one partition field (the " +
          "table spec is single-transform); got " +
          partitions.map(_.describe).mkString(", "))
    val p = partitions.head
    val refs = p.references()
    if (refs.length != 1 || refs(0).fieldNames().length != 1)
      throw new UnsupportedOperationException(
        s"partition transform must reference one top-level column, " +
          s"got ${p.describe}")
    // SQL identifiers resolve case-insensitively everywhere else in
    // the statement; canonicalize to the declared field's exact name
    val srcRaw = refs(0).fieldNames()(0)
    val src = schema.fieldNames
      .find(_.equalsIgnoreCase(srcRaw)).getOrElse(srcRaw)
    def litInt: Int = p.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
        if l.value().isInstanceOf[Number] =>
        l.value().asInstanceOf[Number].intValue()
    }.getOrElse(throw new UnsupportedOperationException(
      s"${p.name()} needs an integer argument: ${p.describe}"))
    val t = p.name().toLowerCase match {
      case "identity" => Versioned.Transform.Identity(src)
      case "years" | "year" => Versioned.Transform.Years(src)
      case "months" | "month" => Versioned.Transform.Months(src)
      case "days" | "day" => Versioned.Transform.Days(src)
      case "hours" | "hour" => Versioned.Transform.Hours(src)
      case "bucket" => Versioned.Transform.Bucket(litInt, src)
      case "truncate" => Versioned.Transform.Truncate(litInt, src)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform '$other' — supported: " +
          "identity(col), years/months/days/hours(col), " +
          "bucket(n, col), truncate(w, col)")
    }
    if (!schema.fieldNames.contains(t.source))
      throw new IllegalArgumentException(
        s"partition source column '${t.source}' is not in the " +
          s"declared schema (${schema.fieldNames.mkString(", ")})")
    if (!t.source.matches("\\w+"))
      throw new UnsupportedOperationException(
        s"partition source column '${t.source}' must match \\w+ " +
          "(the persisted spec format)")
    // surface write-time refusals (identity on a timestamp) at DDL
    // time with the declared schema
    t.writeExpr(spark.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema))
    Some(t)
  }

  /** CTAS target. Existence is checked here AND by Spark's exec; the
    * staged write itself publishes (atomically), see
    * [[GraftStagedTable]]. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(
        ident.namespace :+ ident.name)
    new GraftStagedTable(dirOf(ident), display(ident), schema,
      freshCreate = true, declaredSpec(partitions, schema),
      userProps(properties))
  }

  /** RTAS target: the replacement is a fresh full-snapshot COMMIT on
    * the same version line — prior snapshots stay time-travelable.
    * The DECLARED spec replaces the old one (Iceberg's REPLACE TABLE
    * semantics): no `PARTITIONED BY` means the replaced table is
    * unpartitioned, whatever the prior layout was. */
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident))
      throw new NoSuchTableException(ident.namespace :+ ident.name)
    new GraftStagedTable(dirOf(ident), display(ident), schema,
      freshCreate = false, declaredSpec(partitions, schema),
      userProps(properties))
  }

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    new GraftStagedTable(dirOf(ident), display(ident), schema,
      freshCreate = !tableExists(ident), declaredSpec(partitions, schema),
      userProps(properties))
  }

  /** `ALTER TABLE` schema evolution, all METADATA-ONLY commits (no
    * data file touched — each publishes a schema step the read path
    * applies over immutable files, preserving column identity the way
    * Iceberg's field ids do): RENAME COLUMN ([[Versioned
    * .renameColumn]]), ADD COLUMN ([[Versioned.addColumn]] — older
    * files read NULL), DROP COLUMN ([[Versioned.dropColumn]] — the
    * data stays for time travel, the step hides it), and ALTER COLUMN
    * TYPE restricted to LOSSLESS widenings ([[Versioned
    * .retypeColumn]] — older files upcast at read; a narrowing or
    * lossy change still refuses loudly). Unsupported TableChange
    * kinds refuse with the reason. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException(ident.namespace :+ ident.name)
    // property changes batch into ONE metadata-only commit (a
    // SET TBLPROPERTIES statement arrives as one SetProperty per
    // key); column evolution stays one commit per change below
    val (propChanges, others) = changes.partition {
      case _: TableChange.SetProperty |
           _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (propChanges.nonEmpty) {
      val sets = propChanges.collect {
        case s: TableChange.SetProperty => s.property -> s.value
      }.toMap
      val unsets = propChanges.collect {
        case r: TableChange.RemoveProperty => r.property
      }
      Versioned.setProperties(spark, dirOf(ident), sets, unsets,
        note = Some(s"ALTER TABLE ${display(ident)} " +
          (if (sets.nonEmpty) "SET" else "UNSET") + " TBLPROPERTIES"))
    }
    others.foreach {
      case r: TableChange.RenameColumn =>
        if (r.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "RENAME COLUMN supports top-level columns only, got " +
              r.fieldNames.mkString("."))
        Versioned.renameColumn(spark, dirOf(ident),
          r.fieldNames()(0), r.newName(),
          note = Some(s"ALTER TABLE ${display(ident)} RENAME COLUMN " +
            s"${r.fieldNames()(0)} TO ${r.newName()}"))
      case a: TableChange.AddColumn =>
        if (a.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "ADD COLUMN supports top-level columns only, got " +
              a.fieldNames.mkString("."))
        if (!a.isNullable)
          throw new UnsupportedOperationException(
            "ADD COLUMN must be nullable: existing rows null-fill the " +
              "new column (the Iceberg new-optional-field contract)")
        if (a.position() != null)
          throw new UnsupportedOperationException(
            "ADD COLUMN ... FIRST/AFTER is not supported: added " +
              "columns land last (metadata-only add)")
        Versioned.addColumn(spark, dirOf(ident), a.fieldNames()(0),
          a.dataType(),
          note = Some(s"ALTER TABLE ${display(ident)} ADD COLUMN " +
            s"${a.fieldNames()(0)} ${a.dataType().catalogString}"))
      case d: TableChange.DeleteColumn =>
        if (d.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "DROP COLUMN supports top-level columns only, got " +
              d.fieldNames.mkString("."))
        Versioned.dropColumn(spark, dirOf(ident), d.fieldNames()(0),
          note = Some(s"ALTER TABLE ${display(ident)} DROP COLUMN " +
            s"${d.fieldNames()(0)}"))
      case u: TableChange.UpdateColumnType =>
        if (u.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "ALTER COLUMN TYPE supports top-level columns only, got " +
              u.fieldNames.mkString("."))
        Versioned.retypeColumn(spark, dirOf(ident), u.fieldNames()(0),
          u.newDataType(),
          note = Some(s"ALTER TABLE ${display(ident)} ALTER COLUMN " +
            s"${u.fieldNames()(0)} TYPE ${u.newDataType().catalogString}"))
      case c =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE on '$catName' supports RENAME / ADD / DROP " +
            "COLUMN and safe ALTER COLUMN TYPE widening (got " +
            s"${c.getClass.getSimpleName}); other evolution goes " +
            "through commits (appends union by name)")
    }
    load(ident, None)
  }

  // —— maintenance stored procedures: CALL graft.system.<proc>(…) ——
  // (the Iceberg `CALL catalog.system.rewrite_data_files /
  // expire_snapshots / …` surface; see [[GraftProcedures]])

  /** The `table` procedure argument resolves exactly like a table
    * identifier: `db.t` under the catalog root, `/abs/dir` as-is. */
  private def identOfArg(s: String): Identifier =
    if (s.startsWith("/")) Identifier.of(Array.empty[String], s)
    else {
      val parts = s.split('.')
      Identifier.of(parts.init, parts.last)
    }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!(ident.namespace.sameElements(Array("system"))))
      throw new IllegalArgumentException(
        s"procedures live under the 'system' namespace: " +
          s"CALL $catName.system.${ident.name}(...)")
    GraftProcedures.load(ident.name, arg => dirOf(identOfArg(arg)))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown procedure '${ident.name}' (available: " +
          s"${GraftProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** DROP deletes the directory ONLY when it actually holds a
    * committed Versioned table (a `_commit_*` marker) — the Iceberg
    * HadoopCatalog contract. Without the check, a typoed name or an
    * absolute-path ident would recursively delete an arbitrary
    * directory tree. */
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val p = new Path(dirOf(ident))
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    f.exists(p) && f.delete(p, true)
  }

  override def renameTable(old: Identifier, next: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"RENAME TABLE is not supported on '$catName': positional " +
        "delete files bind absolute data-file paths, so a moved " +
        "table would resurrect deleted rows; compact, then move the " +
        "directory out of band")

  // —— namespaces: plain directories under the catalog root ——
  // The HadoopCatalog model: a namespace IS a directory that is not
  // itself a table (no `_commit_*` marker), so `CREATE NAMESPACE
  // graft.db` + `CREATE TABLE graft.db.t` + `SHOW TABLES IN graft.db`
  // round-trip with no out-of-band mkdir, and `SHOW NAMESPACES`
  // enumerates the tree. All operations are driver-side directory
  // metadata — O(children), never data.

  private def nsPath(namespace: Seq[String]) =
    new Path((root +: namespace).mkString("/"))

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def isTableDir(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Boolean =
    Try(f.listStatus(p).exists(
      _.getPath.getName.startsWith("_commit_"))).getOrElse(false)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = nsPath(namespace.toSeq)
      val f = hadoopFs(p)
      Try(f.getFileStatus(p).isDirectory).getOrElse(false) &&
        !isTableDir(f, p)
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    val p = nsPath(namespace.toSeq)
    val f = hadoopFs(p)
    if (!f.exists(p)) return Array.empty // root not materialized yet
    f.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
        !n.contains("=") && !isTableDir(f, st.getPath)
    }.map(st => namespace :+ st.getPath.getName)
  }

  /** CREATE NAMESPACE mkdirs the directory (parents included, like
    * Iceberg's HadoopCatalog). Properties are refused rather than
    * silently dropped — a directory can't durably carry them. */
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val user = new util.HashMap[String, String](metadata)
    Seq(SupportsNamespaces.PROP_LOCATION, SupportsNamespaces.PROP_COMMENT,
      SupportsNamespaces.PROP_COLLATION, SupportsNamespaces.PROP_OWNER)
      .foreach(user.remove)
    if (!user.isEmpty)
      throw new UnsupportedOperationException(
        s"namespace properties are not supported on '$catName' " +
          s"(got ${user.keySet()}): namespaces are plain directories")
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(
        (catName +: namespace.toSeq).toArray)
    val p = nsPath(namespace.toSeq)
    val f = hadoopFs(p)
    require(!f.exists(p),
      s"path $p exists but is a table, not a namespace")
    f.mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"ALTER NAMESPACE is not supported on '$catName': namespaces " +
        "are plain directories with no mutable metadata")

  /** DROP NAMESPACE removes the directory; non-cascade requires it
    * empty of tables AND child namespaces (the SQL standard RESTRICT
    * contract), cascade removes everything beneath. */
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (namespace.isEmpty)
      throw new UnsupportedOperationException(
        s"cannot drop the root namespace of '$catName'")
    if (!namespaceExists(namespace)) return false
    val p = nsPath(namespace.toSeq)
    val f = hadoopFs(p)
    if (!cascade && f.listStatus(p).nonEmpty)
      throw new NonEmptyNamespaceException(
        (catName +: namespace.toSeq).toArray,
        "drop the tables first or use CASCADE", scala.None)
    f.delete(p, true)
  }
}
