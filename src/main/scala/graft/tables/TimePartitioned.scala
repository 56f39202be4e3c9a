package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Hidden time-partitioning — the Iceberg `days(ts)` transform contract:
  * the table partitions by a DERIVED day key, but readers query the raw
  * timestamp column and the reader maps their time-range predicate onto
  * partition filters automatically. Users never see (or mis-filter) the
  * partition column; forgetting it cannot cause a full scan, because the
  * mapping lives in the read path, not in query discipline.
  *
  * A day-partitioned table is an ordinary [[VersionedTable]] carrying the
  * [[DaysProp]] marker: its data files sit under `data/p_day=<yyyy-MM-dd>/`
  * (the staging step derives the key, see [[withDayKey]]), and every
  * write — append, overwrite, retention drop, compaction — is one commit
  * through the versioned log. This object holds only the day-key helpers
  * around that layout.
  *
  * Timestamps follow the engine contract (epoch-nanos longs, UTC — see
  * `Tables.load`); the day key derives with integer division before the
  * date cast so the boundary is exact. 100 TB shape: an event table
  * partitioned by day turns every time-windowed query into an
  * O(window/retention) directory-pruned scan — the single most load-
  * bearing layout decision for an events pipeline.
  */
object TimePartitioned {

  private val DayFmt = "yyyy-MM-dd"

  /** The hidden partition column: a data directory component
    * `p_day=<yyyy-MM-dd>`, never a column of the stored files. */
  val DayKey = "p_day"

  /** Table property recording the hidden day-partitioning: its value is
    * the raw timestamp (epoch-nanos long) column the `p_day` key derives
    * from. Written by [[assertMarker]] before the table's first commit and
    * read by [[dayColumnOf]] — the staging step, the catalog's
    * `PARTITIONED BY (days(ts))` tables and the optimizer's hidden-pruning
    * rule all resolve through it. */
  val DaysProp = "graft.partition.days"

  /** Files each day receives per write: the intra-day spread of the
    * (day, spread) shuffle in [[withDayKey]], and the file count
    * [[compactDaysBefore]] compacts a fragmented day back under. */
  val FilesPerDay: Int = 8

  /** The day-derived timestamp column of a table directory, or None for
    * an unmarked table. One property read per call — hot paths use
    * [[dayColumnCached]]. */
  def dayColumnOf(dir: String): Option[String] = VersionedTable.property(dir, DaysProp)

  // process-wide dir → marker cache: every commit's staging step, the
  // pruning rule (inside a fixed-point optimizer batch) and the catalog's
  // loadTable consult the marker — none should pay the property read more
  // than once per dir. Keys are FS-QUALIFIED (`/tmp/x` and `file:/tmp/x`
  // are the same directory — the catalog holds the bare form, the
  // optimizer rule sees the relation's qualified basePath; unnormalized
  // they would cache independently and a drop would only invalidate one
  // form). Invalidated by assertMarker and table drop.
  private val dayColCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()
  private def cacheKey(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(FsIO.hadoopConf()).makeQualified(p).toString
  }
  def dayColumnCached(dir: String): Option[String] =
    dayColCache.computeIfAbsent(cacheKey(dir), _ => dayColumnOf(dir))
  def invalidateDayColumn(dir: String): Unit = { dayColCache.remove(cacheKey(dir)); () }

  /** Persist the day-partitioning marker. Must precede the table's first
    * commit: staging reads it to decide the layout. */
  def assertMarker(dir: String, tsNanosCol: String): Unit = {
    VersionedTable.setProperty(dir, DaysProp, tsNanosCol)
    invalidateDayColumn(dir)
  }

  /** ISO day string of an epoch-nanos timestamp. Lexicographic order on
    * the result matches day order for the entire epoch-nanos long range
    * (years 1677–2262 — always four digits), which is what lets the
    * pruning rule translate a ts range into a string-ordered p_day range. */
  private[graft] def dayOfNanos(tsNanos: Long): String =
    java.time.LocalDate.ofEpochDay(
      Math.floorDiv(Math.floorDiv(tsNanos, 1000000000L), 86400L)).toString

  private val DayNanos = 86400L * 1000000000L

  /** Floor-division day key as a Column — MUST match `dayOfNanos` exactly.
    * SQL `div` truncates toward zero, which disagrees with Math.floorDiv for
    * pre-epoch timestamps with a sub-unit remainder (e.g. ts = -0.5 s would
    * truncate to second 0 → 1970-01-01 while the reader floors to 1969-12-31
    * and prunes the row away). `pmod` is non-negative for a positive divisor,
    * so `(x - pmod(x, d)) div d` is exact floor division. */
  private def dayColExpr(tsNanosCol: String) = {
    val sec = s"((`$tsNanosCol` - pmod(`$tsNanosCol`, 1000000000L)) div 1000000000L)"
    val day = s"(($sec - pmod($sec, 86400L)) div 86400L)"
    expr(s"date_format(date_add(to_date('1970-01-01'), cast($day as int)), '$DayFmt')")
  }

  /** `df` with its [[DayKey]] derived from `tsNanosCol` and one shuffle on
    * (day, intra-day spread), ready for a `partitionBy(DayKey)` write: each
    * day directory gets contiguous, FEW files (at most [[FilesPerDay]] per
    * write) WITHOUT funneling a whole day through one task — hashing on the
    * day key alone serialized a hot day (1 TB of one p_day value) into a
    * single straggler task writing a single multi-GB file. */
  private[tables] def withDayKey(df: DataFrame, tsNanosCol: String): DataFrame =
    df.withColumn(DayKey, dayColExpr(tsNanosCol))
      .repartition(col(DayKey), pmod(col(tsNanosCol), lit(FilesPerDay.toLong)))

  /** The day of a day-layout data file (`data/p_day=<day>/<name>`), if any. */
  private def dayOfRel(rel: String): Option[String] =
    rel.split("/").collectFirst { case c if c.startsWith(DayKey + "=") =>
      c.stripPrefix(DayKey + "=") }

  /** Commit `df` as the whole new content of the day-partitioned table at
    * `dir` (INSERT OVERWRITE), marking the directory first. Appends are a
    * plain [[VersionedTable.commitAppend]] on the marked table. Returns
    * the committed version. */
  def write(df: DataFrame, dir: String, tsNanosCol: String): Long = {
    assertMarker(dir, tsNanosCol)
    VersionedTable.commit(df.sparkSession, df, dir)
  }

  /** The head version's rows WITH the hidden [[DayKey]] column, as a
    * directory-prunable scan: the manifest's files listed explicitly under
    * `basePath=<dir>/data`, so Spark's partition discovery surfaces
    * `p_day` (pinned to a string) and a `p_day` filter plans only the
    * window's day directories. `schema` is the table's data schema (a
    * created-but-unwritten table has only its declaration); an empty
    * manifest reads as no rows. */
  def scan(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val head = VersionedTable.latestVersion(dir)
    val entries = head.map(VersionedTable.entriesOf(dir, _)).getOrElse(Seq.empty)
    require(entries.forall(_._2.isEmpty),
      s"TimePartitioned: $dir carries deletion vectors — day tables take no row-level DML")
    val full = StructType(schema.fields :+ StructField(DayKey, StringType))
    if (entries.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    else spark.read.schema(full)
      .option("basePath", new org.apache.hadoop.fs.Path(dir, "data").toString)
      .parquet(entries.map(e => new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), e._1).toString): _*)
  }

  /** Time-range read: the [fromNanos, toNanos] predicate maps to a day-key
    * partition filter (directory pruning at planning time) plus the exact
    * nanos residual. Row-identical to a full-scan filter; the partition
    * column never escapes. */
  def readRange(spark: SparkSession, dir: String, tsNanosCol: String,
      fromNanos: Long, toNanos: Long): DataFrame = {
    require(fromNanos <= toNanos, s"empty range: $fromNanos > $toNanos")
    scan(spark, dir, VersionedTable.schemaOf(spark, dir))
      .where(col(DayKey) >= dayOfNanos(fromNanos) && col(DayKey) <= dayOfNanos(toNanos))
      .where(col(tsNanosCol).between(fromNanos, toNanos))
      .drop(DayKey)
  }

  /** RETENTION: drop every day strictly BEFORE the cutoff's UTC day — the
    * operational loop every day-partitioned events table runs (keep N
    * days, reclaim the rest). The cutoff's own day is always kept
    * (conservative: a cutoff mid-day must not drop that day's earlier
    * rows). Delta's partition-predicate delete: ONE metadata-only commit
    * removing the dropped days' manifest entries — zero row scans, zero
    * data I/O; readers of earlier versions keep their files until
    * [[VersionedTable.vacuum]] reclaims the bytes (and the emptied day
    * directories). Returns the dropped day keys, sorted. */
  def dropDaysBefore(spark: SparkSession, dir: String, cutoffNanos: Long): Seq[String] = {
    val cutoffDay = dayOfNanos(cutoffNanos)
    VersionedTable.commitDropFiles(spark, dir)(
      rel => dayOfRel(rel).exists(_ < cutoffDay)) // ISO-lex = day order
      .flatMap(dayOfRel).distinct.sorted
  }

  /** COMPACTION at day grain: every day strictly BEFORE the cutoff's UTC
    * day holding more than [[FilesPerDay]] files rewrites to at most that
    * many — the small-file maintenance an append-ingested day table needs
    * (each append adds files per live day; closed days then hold
    * batches × FilesPerDay fragments). Only closed days: the cutoff fences
    * compaction away from days writers may still append to. One
    * [[VersionedTable.commitCompact]] scoped to those days' ts ranges
    * (`dataChange=false`, O(the fragmented days' files)); already-compact
    * days are untouched. Returns the compacted day keys, sorted. */
  def compactDaysBefore(spark: SparkSession, dir: String, cutoffNanos: Long): Seq[String] = {
    val cutoffDay = dayOfNanos(cutoffNanos)
    val tsCol = dayColumnCached(dir).getOrElse(sys.error(
      s"compactDaysBefore: $dir is not a day-partitioned table"))
    val days = VersionedTable.latestVersion(dir).toSeq
      .flatMap(VersionedTable.filesOf(dir, _))
      .flatMap(dayOfRel).filter(_ < cutoffDay)
      .groupBy(identity).collect { case (d, fs) if fs.size > FilesPerDay => d }
      .toSeq.sorted
    if (days.nonEmpty) {
      val inDays = days.map { d =>
        val lo = java.time.LocalDate.parse(d).toEpochDay * DayNanos
        col(tsCol).between(lo, lo + DayNanos - 1)
      }.reduce(_ || _)
      VersionedTable.commitCompact(spark, dir, FilesPerDay, where = Some(inDays))
    }
    days
  }
}
