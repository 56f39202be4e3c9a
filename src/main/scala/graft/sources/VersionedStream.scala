package graft.sources

import graft.tables.VersionedTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamShim
import org.apache.spark.sql.sources.{StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a [[VersionedTable]] — the "stream
  * from a Delta table" shape: `spark.readStream.format(<this class>)
  * .option("path", dir).load()` turns every commit into a micro-batch.
  *
  * Implemented as a DSv1 `StreamSourceProvider`/`Source` pair — the same
  * contract Delta Lake's own streaming source uses — because V1's
  * `getBatch(start, end): DataFrame` is exactly the right altitude for a
  * manifest-based table: a batch IS "the files these commits added", and
  * the returned plan is a plain parquet scan of just those files (column
  * pruning and predicate pushdown reach it like any batch read).
  *
  * Semantics (Delta's, deliberately):
  *  - OFFSET = committed version number. Exactly-once riding the sink's
  *    checkpoint: offsets are replayed by the engine, and a version's
  *    file set is immutable, so re-planning a batch yields identical rows.
  *  - INITIAL batch = the full file list of the latest version at stream
  *    start (Delta's initial snapshot), then one batch per commit.
  *  - APPEND commits stream their NEW files only — O(appended data) per
  *    batch regardless of table size, the property that makes tailing a
  *    100 TB bronze table affordable.
  *  - `dataChange=false` re-layouts (OPTIMIZE) are SKIPPED wholesale.
  *  - UPDATE/DELETE/MERGE commits FAIL the stream by default (their
  *    rewritten files would re-emit shared rows); `.option
  *    ("ignoreChanges", "true")` opts into Delta's documented relaxation:
  *    rewritten files are re-emitted in full (downstream must be
  *    idempotent/upserting).
  *
  * Reads never lock: a batch plans from immutable committed manifests.
  * Vacuum of a version the stream still needs fails loudly at plan time
  * (the Delta retention hazard, surfaced not swallowed).
  */
class VersionedStream extends StreamSourceProvider with StreamSinkProvider {

  private def dirOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(sys.error("VersionedStream: .option(\"path\", <table dir>) is required"))

  /** SINK side: `writeStream.format(<this class>).option("path", dir)`
    * lands each micro-batch as a versioned COMMIT — Append mode appends
    * (O(batch) file writes, unchanged files shared), Complete mode
    * snapshots the whole state per batch (the streaming-aggregate shape).
    * Exactly-once in both modes rides the (txnAppId, txnVersion) marker
    * INSIDE the commit entry: appId derives from the checkpoint location,
    * txnVersion is the batch id, so a replayed `addBatch` after a crash
    * between data-commit and checkpoint-commit is recognized and skipped
    * — the same device [[graft.streaming.StreamingMatview]] uses, now
    * behind the standard DataStreamWriter API. */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "VersionedStream sink: partitionBy is not supported — cluster with commitCompact instead")
    val dir = dirOf(parameters)
    // exactly-once identity: the checkpoint location when it reaches the
    // sink's options (an explicit .option), else None — resolved at the
    // first addBatch from the running query's STABLE id (Spark only
    // injects checkpointLocation into sink parameters when the user set
    // it as a writer option; a conf-derived or default location never
    // arrives here). A table-dir fallback would make two distinct queries
    // writing the same table share one (txnAppId, txnVersion) marker and
    // silently skip each other's batches as replays.
    val appId = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v }
      .map(cp => s"graft-sink:${new Path(cp).toUri.getPath}")
    new VersionedStream.VersionedTableSink(
      sqlContext.sparkSession, dir, appId, outputMode)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val cdf = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v }
      .exists(_.toBoolean)
    val base = schema.getOrElse(VersionedTable.read(
      sqlContext.sparkSession, dirOf(parameters)).schema)
    ("graft-versioned",
      if (cdf) VersionedStream.withCdfColumns(base) else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val dir = dirOf(parameters)
    def opt(name: String) = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val ignoreChanges = opt("ignoreChanges").exists(_.toBoolean)
    val maxVersions   = opt("maxVersionsPerTrigger").map(_.toInt)
    maxVersions.foreach(m => require(m > 0,
      s"VersionedStream: maxVersionsPerTrigger must be positive, got $m"))
    val explicitStart = opt("startingVersion").map(_.toLong)
    explicitStart.foreach(v => require(v >= 0,
      s"VersionedStream: startingVersion must be >= 0, got $v"))
    // startingTimestamp (Delta option parity): the first commit AT or AFTER
    // the timestamp — resolved once here to a version number, then the
    // bootstrap/pacing machinery is identical to startingVersion's
    val startingTs = opt("startingTimestamp")
    require(explicitStart.isEmpty || startingTs.isEmpty,
      "VersionedStream: startingVersion and startingTimestamp are mutually exclusive")
    val startingVersion = explicitStart.orElse(startingTs.map { ts =>
      val ms = java.sql.Timestamp.valueOf(ts).getTime
      VersionedTable.versionAtOrAfter(dir, ms).getOrElse(sys.error(
        s"VersionedStream: startingTimestamp '$ts' is after the latest commit " +
          s"of $dir — nothing to replay (drop the option to tail new commits)"))
    })
    if (opt("readChangeFeed").exists(_.toBoolean)) {
      // key resolution: the per-query option wins; otherwise the table's
      // own key declaration ([[VersionedTable.KeyColumnsProp]], recorded by
      // the first MERGE or set explicitly) — Delta's CDF needs no read-time
      // key, and with a declared table this one doesn't either
      // blank option = undeclared, not "no keys" (same filter as
      // changeFeedBatch): an empty Seq would bypass both the table's
      // declaration and the loud error, then die mid-stream in the diff
      val keys = opt("keyColumns").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
        .orElse(VersionedTable.keyColumns(dir))
        .getOrElse(sys.error("VersionedStream: readChangeFeed needs key columns — " +
          "declare them on the table (VersionedTable.setKeyColumns; any MERGE " +
          "records its keys automatically) or pass " +
          ".option(\"keyColumns\", \"k1[,k2...]\") (the change feed diffs " +
          "version pairs by key; this engine records no per-commit CDC files)"))
      require(!ignoreChanges,
        "VersionedStream: ignoreChanges is meaningless under readChangeFeed " +
          "(rewrites ARE the feed)")
      new VersionedStream.ChangeFeedSource(
        sqlContext.sparkSession, dir,
        schema.getOrElse(VersionedTable.read(sqlContext.sparkSession, dir).schema) match {
          case s if s.fieldNames.contains(VersionedStream.ChangeTypeCol) =>
            StructType(s.filterNot(f => VersionedStream.CdfMetaCols.contains(f.name)))
          case s => s
        },
        keys, maxVersions, startingVersion)
    } else
      new VersionedStream.VersionedTableSource(
        sqlContext.sparkSession, dir,
        sourceSchema(sqlContext, schema, providerName, parameters)._2, ignoreChanges,
        maxVersions, startingVersion)
  }
}

object VersionedStream {

  /** `readStream.format(...)` string for this source. */
  val format: String = classOf[VersionedStream].getName

  /** CDF metadata columns (Delta's change-data-feed shape). */
  val ChangeTypeCol    = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTsCol      = "_commit_timestamp"
  val CdfMetaCols: Set[String] = Set(ChangeTypeCol, CommitVersionCol, CommitTsCol)

  private[graft] def withCdfColumns(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField(ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(CommitVersionCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(CommitTsCol,
        org.apache.spark.sql.types.TimestampType, nullable = false)))

  /** Version-paced ADMISSION CONTROL shared by both sources, including
    * first-class `Trigger.AvailableNow`: with these interfaces the engine
    * drains a backlog in PACED micro-batches (maxVersionsPerTrigger
    * honored) and stops at the target pinned when the run started —
    * instead of its fallback for unsupporting custom sources, which plans
    * the entire backlog as ONE unbounded batch. At scale that fallback is
    * the difference between "catch up a 10k-commit bronze tail in bounded
    * steps" and "one batch spanning 10k commits"; it is also Delta's own
    * contract (DeltaSource implements the same pair). As a bonus, the
    * admission-control path hands `latestOffset` the DURABLE start offset,
    * so a RESTARTED paced stream is bounded from its first batch — the
    * legacy `getOffset` path could only pace after the first `getBatch`
    * re-seeded its in-memory anchor. */
  private[sources] trait PacedAdmission
      extends org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
    self: Source =>

    protected def dir: String
    protected def maxVersionsPerTrigger: Option[Int]
    protected def startingVersion: Option[Long]
    /** Highest version already planned through getBatch (the in-memory
      * pacing anchor; the durable one arrives as latestOffset's start). */
    protected def planned: Option[Long]

    /** Offsets never fall below `startingVersion - 1`: a startingVersion
      * AHEAD of the current head anchors there and waits — without the
      * floor, the first (empty) batch would checkpoint the HEAD as the
      * anchor and versions below startingVersion would later leak into
      * the stream, silently violating the inclusive-from contract. */
    private def floorStart(v: Long): Long =
      startingVersion.map(sv => math.max(v, sv - 1)).getOrElse(v)

    /** Latest committed version capped at `anchor + maxVersionsPerTrigger`
      * — the shared pacing arithmetic. The initial snapshot batch (no
      * anchor, no startingVersion) is inherently uncapped: one snapshot. */
    private def paceFrom(anchor: Option[Long]): Option[LongOffset] =
      VersionedTable.latestVersion(dir).map { latest =>
        val capped = (anchor, maxVersionsPerTrigger) match {
          case (Some(last), Some(m)) => math.min(latest, last + m)
          case (None, Some(m)) if startingVersion.isDefined =>
            math.min(latest, startingVersion.get - 1 + m)
          case _ => latest
        }
        LongOffset(floorStart(capped))
      }

    final override def getOffset: Option[Offset] = paceFrom(planned)

    // target pinned by prepareForTriggerAvailableNow: commits landing
    // DURING an AvailableNow run are the NEXT run's work (the file-source
    // / Delta contract — the run must terminate)
    @volatile private var availableNowTarget: Option[Long] = None
    @volatile private var availableNowPrepared = false

    override def prepareForTriggerAvailableNow(): Unit = {
      availableNowTarget = VersionedTable.latestVersion(dir)
      availableNowPrepared = true
    }

    override def getDefaultReadLimit
        : org.apache.spark.sql.connector.read.streaming.ReadLimit =
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

    override def latestOffset(
        start: org.apache.spark.sql.connector.read.streaming.Offset,
        limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
        : org.apache.spark.sql.connector.read.streaming.Offset = {
      val startV = Option(start).map {
        case l: LongOffset => l.offset
        case o             => o.json().trim.toLong
      }
      // pace from the furthest of the in-memory anchor and the durable
      // start offset (after a clean restart only the latter exists)
      val anchor = (planned.toSeq ++ startV.toSeq).reduceOption(_ max _)
      // a table empty when the AvailableNow run was prepared contributes
      // nothing to THIS run, even if a first commit lands mid-run
      if (availableNowPrepared && availableNowTarget.isEmpty) null
      else paceFrom(anchor) match {
        case Some(p) =>
          availableNowTarget match {
            case Some(t) if startV.exists(_ >= t) => null // run's target drained
            // the floor also applies over the pinned target: a run whose
            // whole backlog sits below startingVersion anchors (one empty
            // batch at sv-1) and terminates instead of leaking versions
            case Some(t) => LongOffset(floorStart(math.min(p.offset, t)))
            case None    => p
          }
        case None => null
      }
    }
  }

  /** CHANGE-DATA-FEED streaming source (Delta's `readChangeFeed` stream):
    * each micro-batch carries the ROW-LEVEL changes the covered commits
    * made — full rows plus `_change_type` ∈ insert | delete |
    * update_preimage | update_postimage, `_commit_version`, and
    * `_commit_timestamp` — instead of the appended files. Steps resolve
    * through [[VersionedTable.changes]]' key-diff with shared-file pruning
    * (O(that commit's changed files), never O(table)), so UPDATE/DELETE
    * commits are first-class here where the plain source refuses them.
    * `dataChange=false` re-layouts (OPTIMIZE, RENAME/DROP COLUMN) emit
    * nothing, by the same contract.
    *
    * Without `startingVersion` the stream tails changes from the LATEST
    * version at start (no initial snapshot — the Delta CDF default); with
    * it, the feed replays from that commit inclusive, version 0 emitting
    * its full row set as inserts. Offsets are version numbers; a version's
    * diff is deterministic (immutable manifests), so checkpoint replay is
    * exactly-once like the file source. */
  private[sources] class ChangeFeedSource(spark: SparkSession,
      protected val dir: String,
      tableSchema: StructType, keyCols: Seq[String],
      protected val maxVersionsPerTrigger: Option[Int],
      protected val startingVersion: Option[Long])
      extends Source with PacedAdmission {

    require(keyCols.forall(tableSchema.fieldNames.contains),
      s"VersionedStream CDF: key column(s) ${keyCols.mkString(",")} not in " +
        s"table schema ${tableSchema.fieldNames.mkString(",")}")

    override val schema: StructType = withCdfColumns(tableSchema)

    @volatile private var lastPlanned: Option[Long] = None
    override protected def planned: Option[Long] = lastPlanned

    // schema-at-version memo (see schemaAt): versions are immutable, so one
    // resolution per version serves the stream's whole lifetime
    private val schemaAtMemo =
      new java.util.concurrent.ConcurrentHashMap[Long, StructType]()

    override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
      val endV = end match {
        case l: LongOffset => l.offset
        case other         => LongOffset(other.json().toLong).offset
      }
      lastPlanned = Some(endV)
      val fromExclusive = start match {
        case Some(s: LongOffset) => s.offset
        case Some(other)         => LongOffset(other.json().toLong).offset
        // no checkpoint: replay from startingVersion inclusive, or tail
        // from AFTER the latest-at-start version (no snapshot — the feed
        // is changes, not state)
        case None => startingVersion.map(_ - 1).getOrElse(endV)
      }
      cdfFrame(fromExclusive, endV) match {
        case None     => StreamShim.emptyStreaming(spark, schema)
        case Some(df) => StreamShim.asStreamingPinned(df)
      }
    }

    /** The CDF frame for commits in `(fromExclusive, endV]` — the shared
      * assembly behind the streaming batches above and the BATCH
      * `readChangeFeed` read ([[VersionedStream.changeFeedBatch]]). None
      * when no covered commit changed rows. */
    private[sources] def cdfFrame(fromExclusive: Long, endV: Long): Option[DataFrame] = {
      import org.apache.spark.sql.functions._
      // ONE log listing serves the whole batch: commit timestamps, the
      // head version, and the evolved-table probe all derive from it (the
      // old per-use latestVersion calls re-listed _log twice more per
      // trigger, and two separate head resolutions could even disagree if
      // a commit landed between them)
      val commitMs = VersionedTable.log(dir).toMap
      val headV    = if (commitMs.isEmpty) None else Some(commitMs.keys.max)
      def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      // never-evolved fast path: no declared schema at the TABLE HEAD means
      // no version carries one — every version has the stream's columns
      // under their own names, zero extra I/O per batch. Keyed on the head,
      // NOT endV: a paced replay's early batches sit below the schema
      // commit (declaredSchemaAt(endV) = None there), but the stream schema
      // was resolved from the head, so the null-fill machinery must engage.
      val evolvedTable = headV
        .exists(h => VersionedTable.declaredSchemaAt(dir, h).isDefined)
      // the LOGICAL schema version v's files resolve to — declared schema
      // (mapping metadata intact), or footer resolution through read() on
      // pre-declaration versions (where physical == logical by definition)
      def schemaAt(v: Long): StructType =
        if (!evolvedTable) tableSchema
        else schemaAtMemo.computeIfAbsent(v, _ =>
          VersionedTable.declaredSchemaAt(dir, v)
            .getOrElse(VersionedTable.read(spark, dir, Some(v)).schema))
      def physOf(f: org.apache.spark.sql.types.StructField): String =
        if (f.metadata.contains(VersionedTable.PhysicalNameKey))
          f.metadata.getString(VersionedTable.PhysicalNameKey)
        else f.name
      // logical → physical at the table HEAD (where the stream's schema
      // was resolved) — the identity every step's columns must agree with.
      // Retirement history is likewise resolved at the HEAD, once per
      // batch: a rename/drop anywhere in history makes "missing at step v"
      // ambiguous for EVERY v (the rename may sit above v — checking at v
      // would pass below it and silently null-fill the renamed-away
      // column's live values).
      val physAtHead: Map[String, String] =
        headV.map(h => schemaAt(h)).getOrElse(tableSchema)
          .fields.map(f => lc(f.name) -> lc(physOf(f))).toMap
      val headRetired = evolvedTable &&
        headV.exists(h => VersionedTable.hasSchemaRetirements(dir, h))
      val valueCols = tableSchema.fieldNames.filterNot(keyCols.contains).toSeq
      def meta(ctype: String, v: Long) = Seq(
        lit(ctype).as(ChangeTypeCol),
        lit(v).as(CommitVersionCol),
        lit(new java.sql.Timestamp(commitMs(v))).as(CommitTsCol))
      // Which stream columns exist at step v. A replay step BELOW an
      // additive evolution lacks the later columns — they null-fill (Delta
      // CDF's semantics: the column did not exist at that commit). The feed
      // keys on LOGICAL names, so this is only sound while a logical name
      // denotes ONE physical column across the span; two guards enforce it:
      //  - a name PRESENT at v must map to the same physical column as at
      //    the head (a DROP + re-add would alias the retired values);
      //  - a stream name MISSING at v on a table with any RENAME/DROP
      //    history refuses loudly — "missing because added later" and
      //    "missing because renamed away mid-stream" are indistinguishable
      //    there, and null-filling the latter would misreport live data
      //    (tables with no retirement history null-fill freely).
      def stepAvailable(v: Long): Set[String] = {
        val sv = schemaAt(v)
        val conflated = sv.fields.filter(f =>
          physAtHead.get(lc(f.name)).exists(_ != lc(physOf(f))))
        require(conflated.isEmpty,
          s"VersionedStream CDF: column(s) ${conflated.map(_.name).mkString(", ")} " +
            s"at version $v of $dir are RETIRED columns (RENAME/DROP + re-add) — " +
            "the same logical name denotes a different physical column at the " +
            "stream's head, so the feed cannot represent this span; start the " +
            "feed at a version after the schema change (startingVersion)")
        val avail = sv.fieldNames.map(lc).toSet
        val missing = tableSchema.fieldNames.filterNot(c => avail(lc(c)))
        require(missing.isEmpty || !headRetired,
          s"VersionedStream CDF: column(s) ${missing.mkString(", ")} are missing " +
            s"at version $v of $dir, which has RENAME/DROP COLUMN history — " +
            "null-filling could misreport a renamed-away column's live values; " +
            "restart the stream from a fresh checkpoint (or start the feed " +
            "after the schema change)")
        avail
      }
      def shaped(ch: DataFrame, avail: Set[String], side: String, ctype: String,
          v: Long): DataFrame =
        ch.where(col("change_type") === (ctype match {
          case "insert" => "added"
          case "delete" => "removed"
          case _        => "updated"
        })).select(tableSchema.fields.map { f =>
          if (keyCols.contains(f.name)) col(s"`${f.name}`")
          else if (avail(lc(f.name))) col(s"`${f.name}_$side`").as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq ++ meta(ctype, v): _*)
      // committed versions only (crashed attempts leave permanent number
      // gaps), from the log listing already in hand
      val steps = commitMs.keys.toSeq.sorted
        .filter(v => v > fromExclusive && v <= endV)
        .filter(v => VersionedTable.dataChanged(dir, v))
        .map { v =>
          if (v == 0L) {
            val avail = stepAvailable(0L)
            VersionedTable.read(spark, dir, Some(0L))
              .select(tableSchema.fields.map { f =>
                if (avail(lc(f.name))) col(s"`${f.name}`")
                else lit(null).cast(f.dataType).as(f.name)
              }.toSeq ++ meta("insert", 0L): _*)
          } else if (VersionedTable.isAppendOnlySpan(dir, v - 1, v)) {
            // APPEND-ONLY STEP FAST PATH (r19): the log proves the step
            // only added files, so its feed is exactly those files' rows
            // as inserts — one pruned scan instead of a diff join plus
            // three provably-empty delete/update branches (the old
            // subtree was 4× this plan; per-trigger getBatch analysis
            // time was the stream-CDF family's dominant driver cost)
            val avail = stepAvailable(v)
            VersionedTable.stepAddedRows(spark, dir, v)
              .select(tableSchema.fields.map { f =>
                if (avail(lc(f.name))) col(s"`${f.name}`")
                else lit(null).cast(f.dataType).as(f.name)
              }.toSeq ++ meta("insert", v): _*)
          } else {
            val avail = stepAvailable(v)
            val stepValues = valueCols.filter(c => avail(lc(c)))
            val ch = VersionedTable.changes(spark, dir, v - 1, v, keyCols, stepValues)
            shaped(ch, avail, "new", "insert", v)
              .unionByName(shaped(ch, avail, "old", "delete", v))
              .unionByName(shaped(ch, avail, "old", "update_preimage", v))
              .unionByName(shaped(ch, avail, "new", "update_postimage", v))
          }
        }
      if (steps.isEmpty) None
      else Some(steps.reduce(_.unionByName(_))
        .select(schema.fieldNames.map(c => org.apache.spark.sql.functions.col(s"`$c`")).toSeq: _*))
    }

    override def stop(): Unit = ()
    override def toString: String = s"ChangeFeedSource[$dir]"
  }

  /** BATCH change-data-feed read (Delta's batch `readChangeFeed`): the
    * row-level changes commits `[startingVersion, endingVersion]` made —
    * full rows plus `_change_type` / `_commit_version` /
    * `_commit_timestamp` — as a plain DataFrame. Key columns resolve from
    * the table declaration ([[VersionedTable.KeyColumnsProp]]) unless
    * passed; version 0 in the span emits its rows as inserts;
    * `dataChange=false` re-layouts emit nothing — identical semantics to
    * the CDF STREAM (one shared frame builder), minus offsets. */
  def changeFeedBatch(spark: SparkSession, dir: String,
      keyCols: Option[Seq[String]] = None,
      startingVersion: Long = 0L,
      endingVersion: Option[Long] = None): DataFrame = {
    require(startingVersion >= 0, s"startingVersion must be >= 0, got $startingVersion")
    val keys = keyCols.filter(_.nonEmpty)
      .orElse(VersionedTable.keyColumns(dir)).getOrElse(sys.error(
      "changeFeedBatch: readChangeFeed needs key columns — declare them on " +
        "the table (VersionedTable.setKeyColumns; any MERGE records its keys " +
        "automatically) or pass keyColumns"))
    val head = VersionedTable.latestVersion(dir).getOrElse(sys.error(
      s"changeFeedBatch: $dir has no committed version"))
    val endV = endingVersion.getOrElse(head)
    require(startingVersion <= endV && endV <= head,
      s"changeFeedBatch: version span [$startingVersion, $endV] must lie " +
        s"inside the committed history [0, $head]")
    // ONE driver footer/schema-file read (schemaOf), never a scan plan —
    // and the SAME resolution GraftCdfTable.schema() declares, so the
    // declared and produced shapes cannot drift
    val tableSchema = VersionedTable.schemaOf(spark, dir, None)
    val src = new ChangeFeedSource(spark, dir, tableSchema, keys, None, Some(startingVersion))
    src.cdfFrame(startingVersion - 1, endV).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], src.schema))
  }

  private[sources] class VersionedTableSource(spark: SparkSession,
      protected val dir: String,
      override val schema: StructType, ignoreChanges: Boolean,
      protected val maxVersionsPerTrigger: Option[Int] = None,
      protected val startingVersion: Option[Long] = None)
      extends Source with PacedAdmission {

    // the highest version already handed out through getBatch — the anchor
    // maxVersionsPerTrigger paces from. Recovery is safe: Spark replays the
    // checkpointed batch through getBatch before asking for a new offset,
    // which re-seeds this from the durable end offset.
    @volatile private var lastPlanned: Option[Long] = None
    override protected def planned: Option[Long] = lastPlanned

    // per-version schema memo for the retired-column batch guard (versions
    // are immutable — one resolution serves the stream's whole lifetime)
    private val schemaAtMemo =
      new java.util.concurrent.ConcurrentHashMap[Long, StructType]()

    override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
      val endV = versionOf(end)
      lastPlanned = Some(endV)
      val steps: Seq[(Long, Seq[(String, Seq[String])])] = start match {
        // no checkpoint: a startingVersion tails the log from that commit
        // (inclusive, no snapshot — the Delta startingVersion contract);
        // otherwise the initial batch is a snapshot of the end version
        case None if startingVersion.isDefined =>
          stepVersions(startingVersion.get - 1, endV)
        case None    => Seq(endV -> VersionedTable.entriesOf(dir, endV)) // initial snapshot
        case Some(s) => stepVersions(versionOf(s), endV)
      }
      val emit: Seq[(String, Seq[String])] = steps.flatMap(_._2)
      if (emit.isEmpty) StreamShim.emptyStreaming(spark, schema)
      else {
        // COLUMN-MAPPED tables: emitted files carry PHYSICAL names, so a
        // read through the stream's LOGICAL schema would silently stream
        // every renamed column as NULL. Resolve the declared schema (with
        // its mapping metadata) at the batch's end version and read through
        // it — readEntries scans physical and aliases back to logical. The
        // mapping must still DESCRIBE the stream's schema: a rename landing
        // mid-stream changes the logical names and refuses loudly (the
        // stream's pinned schema cannot represent it).
        val declaredRaw = VersionedTable.declaredSchemaAt(dir, endV)
        val declared = declaredRaw
          .filter(_.fields.exists(f =>
            f.metadata.contains(VersionedTable.PhysicalNameKey) &&
              f.metadata.getString(VersionedTable.PhysicalNameKey) != f.name))
        // The refusal must also engage on TOMBSTONE-ONLY retirements: a
        // pure DROP COLUMN leaves no rename mapping (physical == logical
        // for every surviving field), so `declared` filters to None — but a
        // stream pinned before the drop would then silently null-fill the
        // dropped column from post-drop files. Any retirement history at
        // the span's end version makes the declared schema authoritative
        // for the subset check, mapping or not (rename and drop both
        // refuse loudly — Delta's contract).
        // only the TOMBSTONE half needs checking here: declaredRaw was just
        // resolved and proved mapping-free (the `declared` filter), so
        // hasSchemaRetirements' mapping half would re-read the schema file
        // per micro-batch only to recompute a known false
        val guard =
          if (declared.isDefined) declared
          else declaredRaw.filter(_ => VersionedTable.hasTombstones(dir, endV))
        guard.foreach { d =>
          def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
          def physOf(f: org.apache.spark.sql.types.StructField): String =
            if (f.metadata.contains(VersionedTable.PhysicalNameKey))
              f.metadata.getString(VersionedTable.PhysicalNameKey)
            else f.name
          val dNames = d.fieldNames.map(lc).toSet
          val sNames = schema.fieldNames.map(lc).toSet
          require(sNames.subsetOf(dNames),
            s"VersionedStream: column(s) ${schema.fieldNames.filterNot(c => dNames(lc(c))).mkString(", ")} " +
              s"were renamed or dropped in $dir after this stream started — its " +
              "pinned schema cannot represent the table anymore; restart the " +
              "stream from a fresh checkpoint")
          // every file in this batch reads through the END version's
          // mapping, but a file was WRITTEN under its own version's
          // physical names — a DROP + same-name re-ADD inside the span
          // gives the logical name a FRESH physical at the end, so the
          // pre-drop files' live values would silently stream as NULL.
          // Require each emitted version's physical mapping to agree with
          // the end's for every stream column present there (the same
          // conflation check the CDF source runs per step).
          val physEnd = d.fields.map(f => lc(f.name) -> lc(physOf(f))).toMap
          steps.filter(_._2.nonEmpty).map(_._1).filter(_ != endV).foreach { v =>
            // the version's own mapping; pre-declaration versions resolve
            // from a footer, where physical == logical by definition (the
            // CDF source's schemaAt, memoized for the stream's lifetime)
            val sv = schemaAtMemo.computeIfAbsent(v, _ =>
              VersionedTable.declaredSchemaAt(dir, v)
                .getOrElse(VersionedTable.read(spark, dir, Some(v)).schema))
            val conflated = sv.fields.filter(f =>
              sNames(lc(f.name)) &&
                physEnd.get(lc(f.name)).exists(_ != lc(physOf(f))))
            require(conflated.isEmpty,
              s"VersionedStream: column(s) ${conflated.map(_.name).mkString(", ")} " +
                s"at version $v of $dir are RETIRED columns (RENAME/DROP + " +
                "re-add inside this batch's span) — the same logical name " +
                "denotes a different physical column at the span's end, so " +
                "the pre-change files' values cannot stream under it; restart " +
                "from a fresh checkpoint (or start after the schema change)")
          }
        }
        (declared, emit.forall(_._2.isEmpty)) match {
          case (None, true) =>
            StreamShim.asStreaming(
              spark.read.schema(schema).parquet(
                emit.map { case (rel, _) => new Path(new Path(dir), rel).toString }: _*))
          case _ =>
            // masked entries and/or mapped tables: the scan is a composite
            // plan — pin it under one streaming-flagged node instead of
            // re-flagging leaves. The declared schema (stream schema on
            // unmapped tables) rides into the scan: on an EVOLVED table the
            // batch must not resolve its schema from one sampled footer —
            // old narrow files read through the declared schema fill the
            // missing columns with null deterministically.
            StreamShim.asStreamingPinned(
              VersionedTable.readEntries(spark, dir, emit, Some(declared.getOrElse(schema)))
                .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*))
        }
      }
    }

    /** The files each version in `(fromExclusive, to]` ADDED (plus, under
      * ignoreChanges, re-masked entries' live rows), keyed by version —
      * the per-commit tail walk shared by incremental batches and
      * startingVersion bootstrap. ONE manifest resolution per version:
      * each iteration's current entries become the next one's previous
      * (the old per-version `entriesOf(v-1)` re-read doubled the driver's
      * log I/O — real money per trigger on an object store). */
    private def stepVersions(fromExclusive: Long, to: Long)
        : Seq[(Long, Seq[(String, Seq[String])])] = {
      if (fromExclusive >= to) return Seq.empty
      // walk COMMITTED versions only: crashed attempts leave permanent
      // number gaps (never reused), and the floored startingVersion anchor
      // may itself be an uncommitted number — the diff base is the last
      // committed version at or below it
      val commV = VersionedTable.log(dir).map(_._1)
      var prev: Map[String, Set[String]] =
        commV.filter(_ <= fromExclusive).lastOption
          .map(b => VersionedTable.entriesOf(dir, b)
            .map { case (rel, dvs) => rel -> dvs.toSet }.toMap)
          .getOrElse(Map.empty)
      commV.filter(v => v > fromExclusive && v <= to).flatMap { v =>
        val cur = VersionedTable.entriesOf(dir, v)
        val out: Seq[(String, Seq[String])] =
          if (!VersionedTable.dataChanged(dir, v)) Nil // OPTIMIZE: skip
          else {
            val added     = cur.filterNot { case (rel, _) => prev.contains(rel) }
            // a DV-only commit adds no files but removes rows — the same
            // pure-append violation as a rewrite, detected at entry grain
            val dvChanged = cur.filter { case (rel, dvs) =>
              prev.get(rel).exists(_ != dvs.toSet) }
            val removed   = prev.keySet -- cur.map(_._1)
            if ((removed.nonEmpty || dvChanged.nonEmpty) && !ignoreChanges)
              sys.error(s"VersionedStream: version $v of $dir rewrote, " +
                "removed, or deletion-vector-masked data files " +
                "(UPDATE/DELETE/MERGE). A pure-append stream cannot " +
                "represent it; restart from a fresh checkpoint, or set " +
                ".option(\"ignoreChanges\", \"true\") to re-emit changed " +
                "files' live rows (downstream must be idempotent).")
            // under ignoreChanges, Delta's relaxation: re-emit the changed
            // files' (masked) row sets alongside genuinely new files
            added ++ (if (ignoreChanges) dvChanged else Nil)
          }
        prev = cur.map { case (rel, dvs) => rel -> dvs.toSet }.toMap
        if (out.isEmpty) Nil else Seq(v -> out)
      }
    }

    private def versionOf(o: Offset): Long = o match {
      case l: LongOffset => l.offset
      case other         => LongOffset(other.json().toLong).offset
    }

    override def stop(): Unit = ()

    override def toString: String = s"VersionedTableSource[$dir]"
  }

  private[sources] class VersionedTableSink(spark: SparkSession, dir: String,
      explicitAppId: Option[String], mode: OutputMode) extends Sink {

    /** The replay-marker identity: the explicit checkpoint-derived id, or
      * the running query's STABLE id (persisted in the checkpoint's
      * metadata file, so it survives restarts — exactly the lifetime a
      * replay marker must have; a NEW checkpoint gets a new query id and
      * never mistakes an old run's batches for its own). Resolved lazily:
      * the query id local property exists on the micro-batch thread, not
      * at sink construction. */
    private lazy val appId: String = explicitAppId.orElse(
      Option(spark.sparkContext.getLocalProperty(
        org.apache.spark.sql.graft.StreamShim.QueryIdKey))
        .map(qid => s"graft-sink:query:$qid"))
      .getOrElse(s"graft-sink:$dir")

    override def addBatch(batchId: Long, data: DataFrame): Unit = {
      // pin the batch to its planned rows and strip the streaming flag —
      // the commit paths re-read STAGED files for constraint checks and
      // must see exactly these rows
      val batch = StreamShim.asBatch(data)
      mode match {
        case m if m == OutputMode.Append() =>
          VersionedTable.commitAppend(spark, batch, dir, txn = Some((appId, batchId)))
        case m if m == OutputMode.Complete() =>
          // Complete rewrites the whole (small, aggregated) state each
          // batch; the same replay marker makes a re-delivered batch a
          // no-op rather than an identical extra version
          VersionedTable.commit(spark, batch, dir, txn = Some((appId, batchId)))
        case other =>
          sys.error(s"VersionedStream sink: unsupported output mode $other " +
            "(Append and Complete are supported)")
      }
    }

    override def toString: String = s"VersionedTableSink[$dir]"
  }
}
