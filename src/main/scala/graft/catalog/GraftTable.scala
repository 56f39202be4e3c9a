package graft.catalog

import java.util

import graft.tables.VersionedTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.graft.V1FallbackShim
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 [[Table]] over a [[VersionedTable]] directory — the unit the
  * catalog ([[GraftCatalog]]) and the `format("graft")` provider
  * ([[GraftDataSource]]) hand to Spark's analyzer. `version = Some(v)` pins
  * a time-travel read (`VERSION AS OF` / `TIMESTAMP AS OF`, resolved to a
  * version number before construction).
  *
  * READ path: the table itself only DESCRIBES the data (name, schema,
  * capabilities). The actual scan is substituted at analysis time by
  * [[graft.plans.GraftExtensions]]' resolution rule, which replaces the
  * `DataSourceV2Relation` with [[VersionedTable.read]]'s full V1 plan — a
  * plain parquet scan (plus DV mask / column-mapping aliases when present),
  * so predicate pushdown, column pruning, and whole-stage codegen apply
  * exactly as for a hand-built read. This is Delta Lake's own architecture
  * (DSv2 for resolution, V1 plan for execution) re-expressed here. The
  * [[newScanBuilder]] below is the EXTENSION-LESS fallback — a [[V1Scan]]
  * row scan that is correct but unoptimized (no pushdown), used only when
  * the session lacks the graft extensions.
  *
  * WRITE path: a [[V1Write]] onto the commit protocol — `INSERT INTO`
  * appends ([[VersionedTable.commitAppend]], lock-free O(batch) staging),
  * `INSERT OVERWRITE` snapshots ([[VersionedTable.commit]]).
  *
  * Ref: `00. Explore.py:66,75` reads metastore tables via `spark.table` —
  * this class is what makes that ergonomics native here.
  */
class GraftTable(val tableName: String, val dir: String,
    val pinnedVersion: Option[Long], declaredSchema: Option[StructType] = None,
    catalogName: Option[String] = None,
    /** STAGED (uncommitted) `MERGE ... WITH SCHEMA EVOLUTION` widenings:
      * the analyzer's ResolveMergeIntoSchemaEvolution asked the catalog to
      * add these columns, but the catalog staged them instead of committing
      * ([[GraftCatalog.alterTable]]) so the merge strategy can fold them
      * into the merge's OWN commit entry — atomic with the merge, exactly
      * Delta's one-transaction semantics. A table instance carrying these
      * exists only inside the evolving merge's analyzed plan; if the merge
      * never executes, nothing was committed and nothing leaks. */
    val pendingEvolution: Seq[VersionedTable.SchemaAlter] = Nil)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with V1FallbackShim {

  override def name(): String = tableName

  // one resolution per Table instance (instances are per-loadTable), via
  // VersionedTable.schemaOf — declared schema or one driver footer, WITHOUT
  // building a scan plan (the resolution rule builds the real plan exactly
  // once). A directory with no committed version yet (a streaming sink's
  // first batch, a CREATE before the first INSERT) has no schema to resolve
  // — empty here, so capability checks can fall through to the V1 write
  // path; a batch READ of such a table still fails loudly at analysis
  // (readDataFrame refuses).
  private lazy val resolvedSchema: StructType =
    declaredSchema.getOrElse {
      // one log listing serves both the emptiness check and the lookup
      val committed = VersionedTable.log(dir)
      if (committed.isEmpty) new StructType()
      else VersionedTable.schemaOf(SparkSession.active, dir, committed, pinnedVersion)
    }

  override def schema(): StructType = resolvedSchema

  // Spark's native `SHOW TBLPROPERTIES graft.t` / `DESCRIBE EXTENDED`
  // read this map off the loaded table — surface the engine's `_props`
  // (the TBLPROPERTIES store ALTER TABLE SET TBLPROPERTIES writes to).
  // Lazily cached per Table instance (instances are per-loadTable) so
  // plain query resolution never pays the _props directory listing.
  private lazy val resolvedProps: util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    VersionedTable.properties(dir).foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def properties(): util.Map[String, String] = resolvedProps

  // AUTOMATIC_SCHEMA_EVOLUTION turns on `MERGE ... WITH SCHEMA EVOLUTION`:
  // the analyzer (ResolveMergeIntoSchemaEvolution) computes the source-only
  // columns itself and routes them through GraftCatalog.alterTable, which
  // STAGES them ([[pendingEvolution]]) — commitMergeConditional folds the
  // widening into the merge's own commit entry, atomic with the merge
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The full-fidelity V1 read plan the resolution rule substitutes. */
  def readDataFrame(spark: SparkSession): DataFrame =
    VersionedTable.read(spark, dir, pinnedVersion)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      // schema() (virtual), NOT resolvedSchema: a subclass whose read plan
      // is wider than the table state (GraftCdfTable's feed columns) must
      // stay consistent between the declared and the produced rows even on
      // this extension-less fallback path
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = GraftTable.this.schema()
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = GraftTable.this.schema()
            override def buildScan(): RDD[Row] =
              readDataFrame(context.sparkSession).rdd
          }.asInstanceOf[T]
      }
    }

  // STREAMING through the catalog — `spark.readStream.table("graft.t")`
  // and `df.writeStream.toTable("graft.t")`. Spark consults the v1
  // fallback ([[V1FallbackShim]]) ONLY on streaming paths, and both land
  // on [[graft.sources.VersionedStream]]'s paced source / txn-marked sink
  // via the `graft` provider — the same architecture as the batch read
  // (DSv2 resolves the NAME, a V1 plan executes). Streaming a pinned
  // version refuses: a snapshot has no commits to tail.
  override protected def fallbackName: String = tableName
  override protected def fallbackDir: String = dir
  override protected def fallbackSchema: StructType = resolvedSchema
  override protected def fallbackProvider: String = "graft"
  override protected def fallbackCatalog: Option[String] = catalogName
  override protected def fallbackCheck(): Unit =
    require(pinnedVersion.isEmpty,
      s"cannot stream $tableName at a pinned version (time travel is a " +
        "batch read; stream the live table and bound it with startingVersion)")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // INSERT OVERWRITE arrives as OverwriteByExpression(true-literal);
      // V2Writes reduces it to truncate() on the builder
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(pinnedVersion.isEmpty,
                s"cannot write to $tableName at a pinned version (time travel is read-only)")
              val spark = data.sparkSession
              if (overwrite || overwriteAll) VersionedTable.commit(spark, data, dir)
              else VersionedTable.commitAppend(spark, data, dir)
            }
          }
      }
    }

  // ---- native DELETE via SupportsDelete — the EXTENSION-LESS fallback
  // path only (with graft extensions, GraftRowLevelStrategy claims
  // DeleteFromTable first and routes ANY predicate onto commitDelete's
  // expression form): the analyzer pushes the WHERE down as v1 Filters; a
  // translatable set routes onto the same copy-on-write. canDeleteWhere
  // returning false makes Spark refuse loudly instead of this layer
  // guessing at untranslatable predicates.
  private def filterToColumn(f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case And(l, r)  => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r)   => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c)     => filterToColumn(c).map(!_)
      case _: AlwaysTrue  => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinnedVersion.isEmpty && filters.forall(f => filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(pinnedVersion.isEmpty,
      s"cannot DELETE from $tableName at a pinned version (time travel is read-only)")
    val cond = filters.toSeq.map(f => filterToColumn(f).getOrElse(
        sys.error(s"graft: untranslatable DELETE predicate $f")))
      .reduceOption(_ && _).getOrElse(lit(true)) // no WHERE = delete all rows
    VersionedTable.commitDelete(SparkSession.active, dir, cond)
    ()
  }

  override def toString: String =
    s"GraftTable($tableName, $dir${pinnedVersion.fold("")(v => s", v$v")})"
}

/** BATCH change-data-feed read through `format("graft")` (Delta's batch
  * `readChangeFeed` option):
  *
  * {{{
  *   spark.read.format("graft")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 0)       // default 0
  *     .option("endingVersion", 5)         // default: latest
  *     .load(dir)                          // _change_type / _commit_version / _commit_timestamp
  * }}}
  *
  * The plan substituted by the resolution rule is
  * [[graft.sources.VersionedStream.changeFeedBatch]] — the SAME frame
  * builder the CDF stream's batches use, so batch and stream feeds cannot
  * drift. Key columns resolve from the table declaration unless passed as
  * `keyColumns`. Read-only by construction: writes refuse. */
class GraftCdfTable(tableName: String, dir: String,
    keyCols: Option[Seq[String]], startingVersion: Long, endingVersion: Option[Long])
    extends GraftTable(tableName, dir, None) {

  // cached like the base class's resolvedSchema (one driver read per Table
  // instance), with the clean empty-table refusal surfacing at analysis
  private lazy val cdfSchema: StructType = {
    val committed = VersionedTable.log(dir)
    require(committed.nonEmpty,
      s"graft: readChangeFeed on $dir — the table has no committed version")
    graft.sources.VersionedStream.withCdfColumns(
      VersionedTable.schemaOf(SparkSession.active, dir, committed, None))
  }

  override def schema(): StructType = cdfSchema

  override def readDataFrame(spark: SparkSession): DataFrame =
    graft.sources.VersionedStream.changeFeedBatch(
      spark, dir, keyCols, startingVersion, endingVersion)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    sys.error(s"graft: a readChangeFeed relation is read-only — write to " +
      s"the table itself ($dir)")

  override def toString: String = s"GraftCdfTable($tableName, $dir)"
}
