package graft.catalog

import java.util

import graft.tables.{TimePartitioned, VersionedTable}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 [[Table]] for a HIDDEN-day-partitioned versioned table — what
  * `CREATE TABLE graft.t (...) PARTITIONED BY (days(ts))` creates (the
  * Iceberg transform contract, over [[TimePartitioned]]'s layout). The
  * partition key `p_day` derives from the raw epoch-nanos `ts` column at
  * WRITE time and never appears in the table schema: readers query the raw
  * timestamp, and [[graft.plans.DayPartitionPruning]] maps their time-range
  * predicates onto `p_day` directory pruning automatically — forgetting
  * the partition column cannot cause a full scan, because there is no
  * partition column to remember.
  *
  * The table is an ordinary [[VersionedTable]] whose files sit under
  * `data/p_day=<day>/`: INSERT INTO is one `commitAppend`, INSERT
  * OVERWRITE one whole-table `commit` — both publish through the versioned
  * log's single commit point, and a self-referential `INSERT OVERWRITE t
  * SELECT ... FROM t` reads the version it replaces. Row-level DML and
  * time travel stay refused here: DML belongs to [[GraftTable]], and the
  * catalog serves no `VERSION AS OF` for day tables.
  *
  * Ref: `01. Ingest.py:176-183` writes the reference's ingest table; the
  * day layout is the 100 TB shape for its `events`-style successors.
  */
class GraftDayTable(val tableName: String, val dir: String, val tsCol: String,
    declaredSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = tableName

  private lazy val resolvedSchema: StructType =
    declaredSchema.getOrElse(VersionedTable.schemaOf(SparkSession.active, dir))

  override def schema(): StructType = resolvedSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    VersionedTable.properties(dir).foreach { case (k, v) => m.put(k, v) }
    m.put(TimePartitioned.DaysProp, tsCol)
    m
  }

  /** The full-fidelity V1 read plan the resolution rule substitutes: the
    * head manifest's files as a `p_day`-partitioned parquet scan (keeping
    * `p_day` visible to Catalyst for directory pruning) projected back to
    * the hidden-partition schema. */
  def readDataFrame(spark: SparkSession): DataFrame =
    TimePartitioned.scan(spark, dir, resolvedSchema).drop(TimePartitioned.DayKey)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = resolvedSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = resolvedSchema
            override def buildScan(): RDD[Row] =
              readDataFrame(context.sparkSession).rdd
          }.asInstanceOf[T]
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(data.columns.exists(_.equalsIgnoreCase(tsCol)),
                s"graft: day-partitioned table $tableName needs its timestamp " +
                  s"column `$tsCol` in every write")
              if (overwrite || overwriteAll)
                VersionedTable.commit(data.sparkSession, data, dir)
              else VersionedTable.commitAppend(data.sparkSession, data, dir)
            }
          }
      }
    }

  override def toString: String = s"GraftDayTable($tableName, $dir, days($tsCol))"
}
