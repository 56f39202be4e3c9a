package graft.catalog

import java.util
import java.util.concurrent.ConcurrentHashMap

import graft.tables.{TableManager, VersionedTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 [[TableCatalog]] over [[VersionedTable]] directories — the
  * metastore ergonomics the reference leans on (`00. Explore.py:66,75,89`
  * drives `saveAsTable` / `spark.table` / bare `%sql` verbs against a Hive
  * metastore). Registered as `spark.sql.catalog.graft = graft.catalog
  * .GraftCatalog` ([[graft.GraftSession.configure]]), after which
  *
  * {{{
  *   SELECT * FROM graft.t
  *   SELECT * FROM graft.t VERSION AS OF 3
  *   SELECT * FROM graft.t TIMESTAMP AS OF '2026-01-01 00:00:00'
  *   INSERT INTO graft.t SELECT ...
  *   CREATE TABLE graft.t2 AS SELECT ...
  * }}}
  *
  * all parse NATIVELY — time travel resolves through the `loadTable(ident,
  * version/timestamp)` overloads, not a string rewrite. [[graft.tables
  * .TableSql]] sets the session's current catalog to `graft` for its SELECT
  * path, so unqualified names resolve here too.
  *
  * Resolution is a name → table-directory map: an explicit [[register]]
  * entry, else `<warehouse>/<name>` when the catalog was initialized with a
  * `warehouse` option. The registry is process-wide and O(tables) tiny —
  * at 100 TB the registry is owned by the platform's metastore; this layer
  * needs only the resolution, not the storage ([[graft.tables.TableSql]]'s
  * design note). Namespaces are the single flat `default` (the reference
  * uses one schema, `dais_2021`).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  // advertise CHECK-constraint support so Spark's own
  // `ALTER TABLE ... ADD/DROP CONSTRAINT` grammar routes to alterTable
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  override def defaultNamespace(): Array[String] = Array("default")

  private def checkNamespace(ns: Array[String]): Unit =
    if (!(ns.isEmpty || ns.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(ns)

  private def dirOf(ident: Identifier): Option[String] = {
    checkNamespace(ident.namespace())
    GraftCatalog.resolve(ident.name())
      .orElse(warehouseDir(ident.name()))
  }

  /** The directory `name` would resolve to under this catalog's warehouse
    * (if one is configured) — the restart-surviving half of resolution,
    * consulted by the maintenance-verb parser. */
  def warehouseDir(name: String): Option[String] =
    warehouse.map(w => new Path(w, name).toString)

  private def committed(dir: String): Boolean =
    VersionedTable.latestVersion(dir).isDefined

  /** A committed table the versioned verbs (time travel, ALTER) serve — a
    * day-partitioned table commits through the same log but keeps its
    * narrower append/overwrite surface. */
  private def versionedTable(dir: String): Boolean =
    GraftCatalog.dayColumnCached(dir).isEmpty && committed(dir)

  override def tableExists(ident: Identifier): Boolean =
    dirOf(ident).exists(d => committed(d) ||
      GraftCatalog.pendingSchemas.containsKey(d) ||
      GraftCatalog.dayColumnCached(d).isDefined)

  override def loadTable(ident: Identifier): Table =
    dirOf(ident) match {
      // hidden-day-partitioned tables (PARTITIONED BY (days(ts))): the
      // persisted marker is authoritative; the pending-schema map serves
      // the CREATE → first-write window (the marker is there too, but the
      // schema is only in memory until files exist)
      case Some(d) if GraftCatalog.dayColumnCached(d).isDefined =>
        new GraftDayTable(ident.name(), d, GraftCatalog.dayColumnCached(d).get,
          Option(GraftCatalog.pendingSchemas.get(d)))
      case Some(d) if committed(d) =>
        // one-shot staged-evolution slot: the analyzer's merge-evolution
        // rule calls alterTable (which STAGED instead of committing) and
        // then immediately loadTable on the same thread — serve the
        // widened schema and carry the staged alters on the table so the
        // merge strategy folds them into the merge's own commit. The slot
        // is consumed here unconditionally (popped even on a dir
        // mismatch), so nothing can go stale past this call — and honored
        // only when THIS loadTable is the rule's own (same stack frame):
        // a rule failure between stage and pop leaves a slot that the next
        // unrelated load drains but never serves.
        val staged = Option(GraftCatalog.stagedEvolution.get())
        GraftCatalog.stagedEvolution.remove()
        staged match {
          case Some((sd, widened, alters))
              if sd == d && GraftCatalog.inMergeEvolutionRule =>
            new GraftTable(ident.name(), d, None, Some(widened),
              Some(catalogName), pendingEvolution = alters)
          case _ =>
            new GraftTable(ident.name(), d, None, None, Some(catalogName))
        }
      case Some(d) if GraftCatalog.pendingSchemas.containsKey(d) =>
        // created but not yet written (the CREATE → first INSERT window):
        // serve the declared schema so CTAS/INSERT resolve
        new GraftTable(ident.name(), d, None,
          Some(GraftCatalog.pendingSchemas.get(d)), Some(catalogName))
      case _ => throw new NoSuchTableException(ident)
    }

  /** `VERSION AS OF <v>` — the version string must be a commit number. */
  override def loadTable(ident: Identifier, version: String): Table =
    dirOf(ident) match {
      case Some(d) if versionedTable(d) =>
        val v = try version.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$catalogName.${ident.name()}: VERSION AS OF takes a commit number, got `$version`")
        }
        new GraftTable(ident.name(), d, Some(v), None, Some(catalogName))
      case _ => throw new NoSuchTableException(ident)
    }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    dirOf(ident) match {
      case Some(d) if versionedTable(d) =>
        new GraftTable(ident.name(), d,
          Some(VersionedTable.versionAsOf(d, timestamp / 1000L)), None, Some(catalogName))
      case _ => throw new NoSuchTableException(ident)
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    checkNamespace(namespace)
    import scala.jdk.CollectionConverters._
    GraftCatalog.registry.values().asScala.map(_._1).toArray.sorted
      .map(n => Identifier.of(Array("default"), n))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // the ONE supported partition transform: hidden day-partitioning,
    // `PARTITIONED BY (days(ts))` — the Iceberg transform contract over
    // TimePartitioned's layout. Identity/bucket/other transforms refuse:
    // the versioned layout clusters via OPTIMIZE ZORDER instead.
    val dayCol: Option[String] = partitions match {
      case Array() => None
      case Array(t) if t.name().equalsIgnoreCase("days") &&
          t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        val c = t.references()(0).fieldNames()(0)
        val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(sys.error(
          s"$catalogName: PARTITIONED BY (days($c)) — no column `$c` in the schema"))
        require(f.dataType == org.apache.spark.sql.types.LongType,
          s"$catalogName: days($c) needs an epoch-nanos BIGINT column (the " +
            s"engine timestamp contract), got ${f.dataType.simpleString}")
        // the derived key's name is reserved: a user column called p_day
        // would be silently overwritten by the writer's withColumn
        require(!schema.fields.exists(_.name.equalsIgnoreCase("p_day")),
          s"$catalogName: `p_day` is the hidden day-partition key's reserved " +
            "name — rename the column")
        Some(f.name)
      case other => sys.error(
        s"$catalogName: only PARTITIONED BY (days(<epoch-nanos col>)) is " +
          s"supported (got ${other.map(_.describe()).mkString(", ")}) — the " +
          "versioned layout clusters via OPTIMIZE ZORDER / commitCompact instead")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val d = dirOf(ident).getOrElse(sys.error(
      s"$catalogName: cannot place table `${ident.name()}` — register it " +
        s"explicitly (GraftCatalog.register) or configure " +
        s"spark.sql.catalog.$catalogName.warehouse"))
    GraftCatalog.register(ident.name(), d)
    GraftCatalog.pendingSchemas.put(d, schema)
    dayCol.foreach { c =>
      graft.tables.TimePartitioned.assertMarker(d, c)
      GraftCatalog.invalidateDayColumn(d)
      VersionedTable.setProperty(d, GraftCatalog.ManagedProp, "true")
      GraftCatalog.managedDirs.put(d, java.lang.Boolean.TRUE)
      return new GraftDayTable(ident.name(), d, c, Some(schema))
    }
    // created THROUGH the catalog = managed: DROP TABLE deletes its data.
    // The marker is PERSISTED in the table directory (a `_props` entry),
    // not only in this process's memory: managed-ness must survive a
    // restart, and must never be INFERRED from warehouse residency — a
    // pre-existing user directory that happens to sit under the configured
    // warehouse was not created here, and DROP destroying its versioned
    // history would be a destructive surprise.
    VersionedTable.setProperty(d, GraftCatalog.ManagedProp, "true")
    GraftCatalog.managedDirs.put(d, java.lang.Boolean.TRUE)
    new GraftTable(ident.name(), d, None, Some(schema), Some(catalogName))
  }

  /** Native `ALTER TABLE graft.t ...` — each supported change routes onto
    * the same commit the TableSql verb uses: ADD COLUMN is a metadata-only
    * schema commit (old files null-fill), RENAME/DROP COLUMN go through
    * the column-mapping protocol (physical names immutable, drops
    * tombstoned against resurrection), SET TBLPROPERTIES lands in the
    * table's `_props`. Anything else (type changes, repositioning, nested
    * fields) refuses loudly — those are rewrites, not metadata. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange._
    // property-only changes are legal in the CREATE → first-INSERT window;
    // schema changes need a committed version to commit against
    val d = dirOf(ident).filter(dd => versionedTable(dd) ||
      GraftCatalog.pendingSchemas.containsKey(dd)).getOrElse(
      throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"$catalogName: $what on nested field ${fieldNames.mkString(".")} is " +
          "not supported — alter the top-level struct column instead")
      fieldNames.head
    }
    def guardProp(key: String): Unit =
      require(!key.equalsIgnoreCase(GraftCatalog.ManagedProp),
        s"$catalogName: `$key` is a reserved engine property (it records " +
          "catalog managed-ness for DROP TABLE's managed/external split) and " +
          "cannot be set or unset through TBLPROPERTIES")
    // VALIDATE every change before APPLYING any (the TableCatalog contract:
    // a rejected change means none are applied) — including the schema-
    // level rejections the commits themselves would raise (existing /
    // missing / duplicate column names), simulated in statement order over
    // the CURRENT schema. Schema changes then land as ONE combined commit
    // (commitSchemaChanges), so even a crash or an OCC refusal mid-apply
    // cannot leave a multi-change ALTER half-applied.
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val names = scala.collection.mutable.Set.empty[String]
    if (versionedTable(d))
      names ++= VersionedTable.schemaOf(SparkSession.active, d, None)
        .fieldNames.map(lc)
    changes.foreach {
      case a: AddColumn =>
        val c = topLevel(a.fieldNames(), "ADD COLUMN")
        require(a.isNullable,
          s"$catalogName: ADD COLUMN must be nullable — existing rows " +
            "null-fill (add, then backfill with UPDATE)")
        require(a.defaultValue() == null,
          s"$catalogName: ADD COLUMN ... DEFAULT is not supported")
        require(a.position() == null,
          s"$catalogName: ADD COLUMN ... FIRST/AFTER is not supported — " +
            "columns append at the end (position is physical layout, " +
            "which OPTIMIZE owns)")
        require(versionedTable(d),
          s"$catalogName: cannot ADD COLUMN before the table's first write " +
            "commits a version")
        require(!names(lc(c)),
          s"$catalogName: ADD COLUMN `$c` — the column already exists")
        names += lc(c)
      case r: RenameColumn =>
        val from = topLevel(r.fieldNames(), "RENAME COLUMN")
        require(versionedTable(d),
          s"$catalogName: cannot RENAME COLUMN before the table's first write")
        require(names(lc(from)),
          s"$catalogName: RENAME COLUMN `$from` — no such column")
        require(!names(lc(r.newName())),
          s"$catalogName: RENAME COLUMN to `${r.newName()}` — the name is taken")
        names -= lc(from); names += lc(r.newName())
      case del: DeleteColumn =>
        val c = topLevel(del.fieldNames(), "DROP COLUMN")
        require(versionedTable(d),
          s"$catalogName: cannot DROP COLUMN before the table's first write")
        require(names(lc(c)),
          s"$catalogName: DROP COLUMN `$c` — no such column")
        names -= lc(c)
      case p: SetProperty    => guardProp(p.property())
      case p: RemoveProperty => guardProp(p.property())
      case a: AddConstraint =>
        // a constraint ADD validates existing rows with a scan whose
        // refusal cannot be pre-checked — keep the all-or-none contract by
        // refusing to combine it with other changes in one statement
        require(changes.size == 1,
          s"$catalogName: ADD CONSTRAINT must be its own ALTER statement " +
            "(its row validation cannot be pre-checked alongside other changes)")
        require(a.constraint().isInstanceOf[
            org.apache.spark.sql.connector.catalog.constraints.Check],
          s"$catalogName: only CHECK constraints are supported, got " +
            a.constraint().toDDL)
        require(versionedTable(d),
          s"$catalogName: cannot ADD CONSTRAINT before the table's first write")
      case del: DropConstraint =>
        require(del.ifExists() ||
            graft.tables.Constraints.list(d).exists(_._1 == del.name()),
          s"$catalogName: DROP CONSTRAINT `${del.name()}` — no such constraint " +
            s"(have: ${graft.tables.Constraints.list(d).map(_._1).mkString(", ")})")
      case other =>
        throw new UnsupportedOperationException(
          s"$catalogName: unsupported ALTER TABLE change $other — column " +
            "type/position changes rewrite data; use a CTAS")
    }
    // ALL schema changes land as ONE protocol commit (all-or-none even
    // against a crash or a concurrent writer's OCC refusal mid-statement,
    // not just validation-time rejections); property and constraint
    // changes apply after it, in statement order
    val schemaAlters: Seq[VersionedTable.SchemaAlter] = changes.collect {
      case a: AddColumn =>
        VersionedTable.AddColumnAlter(a.fieldNames().head, a.dataType())
      case r: RenameColumn =>
        VersionedTable.RenameColumnAlter(r.fieldNames().head, r.newName())
      case del: DeleteColumn =>
        VersionedTable.DropColumnAlter(del.fieldNames().head)
    }
    // `MERGE ... WITH SCHEMA EVOLUTION`: the analyzer's
    // ResolveMergeIntoSchemaEvolution routes the source-only columns here
    // as AddColumn changes and immediately re-loads the table. Committing
    // them HERE would make the widening its own transaction, separate from
    // the merge — a merge that subsequently fails would leave the column
    // behind (Delta folds both into ONE transaction). So for that caller —
    // identified by its stack frame, the only join point the analyzer
    // offers a catalog — the validated alters are STAGED into a one-shot
    // slot instead: the rule's very next loadTable (same thread) pops the
    // slot and serves the widened schema with the alters carried on the
    // table, and the merge strategy hands them to commitMergeConditional,
    // which folds the schema write into the merge's own commit entry.
    // Nothing commits at analysis time; an abandoned plan leaks nothing.
    val mergeEvolution = schemaAlters.nonEmpty &&
      schemaAlters.forall(_.isInstanceOf[VersionedTable.AddColumnAlter]) &&
      GraftCatalog.inMergeEvolutionRule
    if (mergeEvolution) {
      val adds = schemaAlters.collect { case a: VersionedTable.AddColumnAlter => a }
      val cur = VersionedTable.schemaOf(spark, d, None)
      val widened = org.apache.spark.sql.types.StructType(cur.fields ++
        adds.map(a => org.apache.spark.sql.types.StructField(
          a.name, a.dataType, nullable = true)))
      GraftCatalog.stagedEvolution.set((d, widened, schemaAlters))
      return new GraftTable(ident.name(), d, None, Some(widened),
        Some(catalogName), pendingEvolution = schemaAlters)
    }
    if (schemaAlters.nonEmpty)
      VersionedTable.commitSchemaChanges(spark, d, schemaAlters)
    changes.foreach {
      case _: AddColumn | _: RenameColumn | _: DeleteColumn => ()
      case p: SetProperty =>
        VersionedTable.setProperty(d, p.property(), p.value())
      case p: RemoveProperty =>
        VersionedTable.removeProperty(d, p.property())
      case a: AddConstraint =>
        val c = a.constraint().asInstanceOf[
          org.apache.spark.sql.connector.catalog.constraints.Check]
        graft.tables.Constraints.add(SparkSession.active, d, c.name(), c.predicateSql())
      case del: DropConstraint =>
        graft.tables.Constraints.drop(d, del.name()); ()
      case _ => ()
    }
    loadTable(ident)
  }

  /** DROP TABLE semantics follow the managed/external split: a MANAGED
    * table — created through this catalog, proven by the PERSISTED
    * [[GraftCatalog.ManagedProp]] marker createTable writes into the table
    * directory (so the split survives process restarts without inferring
    * managed-ness from warehouse residency — a pre-existing directory
    * under the warehouse was NOT created here) — drops its data; any
    * other table (an external, user-owned location — the common TableSql
    * case, and every unmarked warehouse directory) only loses its name
    * mapping, its directory untouched. Deleting a user's versioned
    * history because a query layer resolved its path would be a
    * destructive surprise. */
  override def dropTable(ident: Identifier): Boolean =
    dirOf(ident) match {
      case Some(d) if committed(d) || GraftCatalog.pendingSchemas.containsKey(d) ||
          GraftCatalog.dayColumnCached(d).isDefined =>
        val managed = GraftCatalog.managedDirs.containsKey(d) ||
          VersionedTable.property(d, GraftCatalog.ManagedProp).contains("true")
        if (managed) TableManager.deleteDir(SparkSession.active, d)
        GraftCatalog.deregister(ident.name())
        GraftCatalog.pendingSchemas.remove(d)
        GraftCatalog.managedDirs.remove(d)
        GraftCatalog.invalidateDayColumn(d)
        true
      case _ => false
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: RENAME TABLE is not supported (directory-addressed tables)")

  // ---- SupportsNamespaces: the single flat `default` namespace ----
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    checkNamespace(namespace); Array.empty
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default"))
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    checkNamespace(namespace); new util.HashMap[String, String]()
  }
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(s"$catalogName: single flat namespace")
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(s"$catalogName: single flat namespace")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(s"$catalogName: single flat namespace")
}

object GraftCatalog {

  private def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** Process-wide name → (display name, table directory) registry (the
    * "metastore"), keyed case-INsensitively like Spark's analyzer resolves
    * identifiers (`FROM Events` must find a table registered as `events`). */
  private val registry = new ConcurrentHashMap[String, (String, String)]()

  /** Declared schemas of created-but-never-committed tables, by directory —
    * bridges CREATE TABLE to the first INSERT/CTAS write. */
  private val pendingSchemas = new ConcurrentHashMap[String, StructType]()

  /** Table property marking a directory as catalog-MANAGED (written by
    * createTable, required by dropTable before it deletes data). Persisted
    * with the table so the managed/external split survives restarts. */
  val ManagedProp = "graft.managed"

  /** Directories whose tables were CREATED through this catalog (managed)
    * in THIS process — a fast path over the persisted [[ManagedProp]]
    * marker, which is the durable source of truth. */
  private val managedDirs = new ConcurrentHashMap[String, java.lang.Boolean]()

  private[catalog] def dayColumnCached(dir: String): Option[String] =
    graft.tables.TimePartitioned.dayColumnCached(dir)
  private[catalog] def invalidateDayColumn(dir: String): Unit =
    graft.tables.TimePartitioned.invalidateDayColumn(dir)

  /** One-shot handoff between the merge-evolution alterTable (which stages
    * instead of committing) and the rule's immediately-following loadTable
    * on the SAME thread: (dir, widened schema, staged alters). Popped
    * unconditionally by the next loadTable, and HONORED only when that
    * loadTable is itself inside [[MergeEvolutionRule]] — if the analyzer
    * rule dies between its alterTable and loadTable, a later unrelated
    * loadTable of the same dir drains the stale slot without serving the
    * uncommitted widened schema. */
  private[catalog] val stagedEvolution =
    new ThreadLocal[(String, StructType, Seq[VersionedTable.SchemaAlter])]()

  /** The Spark analyzer rule whose adjacent alterTable → loadTable pair the
    * staged-evolution slot bridges. The FULL class name is pinned by a spec
    * (Class.forName) so a Spark upgrade that renames/relocates the rule
    * fails tests loudly instead of silently reverting `MERGE ... WITH
    * SCHEMA EVOLUTION` to commit-at-analysis semantics. */
  private[catalog] val MergeEvolutionRule =
    "org.apache.spark.sql.catalyst.analysis.ResolveMergeIntoSchemaEvolution"
  private[catalog] def inMergeEvolutionRule: Boolean =
    Thread.currentThread().getStackTrace.exists(
      _.getClassName.startsWith(MergeEvolutionRule))

  /** Register `name` → `dir` so `graft.<name>` resolves. Idempotent. */
  def register(name: String, dir: String): Unit = registry.put(lc(name), (name, dir))

  /** Resolve a registered name (case-insensitive). */
  def resolve(name: String): Option[String] =
    Option(registry.get(lc(name))).map(_._2)

  /** Drop a registration (the table directory is untouched). */
  def deregister(name: String): Unit = { registry.remove(lc(name)); () }
}
