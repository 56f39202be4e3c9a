package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained materialized aggregate over a [[VersionedTable]]
  * source: `GROUP BY groupCols` with `COUNT(*)` and `SUM(c)` per requested
  * column, refreshed from the source's change feed instead of recomputed.
  *
  * The maintenance identity (classic incremental view maintenance, e.g.
  * Gupta & Mumick's counting algorithm): every change row decomposes into a
  * retraction of the OLD tuple (−1 count, −old values, on the old group) and
  * an assertion of the NEW tuple (+1, +new values, on the new group) —
  * removed has only the retraction, added only the assertion, updated both
  * (so a group-moving update debits one group and credits another, and a
  * no-op update cancels exactly). Folding these contributions into the
  * previous state with one more SUM yields the new state; groups whose
  * count reaches zero vanish. COUNT and SUM are the self-maintainable
  * aggregates under deletes; MIN/MAX are not (a deleted minimum forces a
  * group re-scan) and are maintained HYBRID instead (see below).
  *
  * MIN/MAX hybrid maintenance (`minMaxCols`): inserts self-maintain —
  * `new_min = least(state_min, min(inserted))` — but a retraction has no
  * inverse, so a group whose retracted values REACH its stored extremum
  * (`min(deleted) <= state_min` or `max(deleted) >= state_max`) is DIRTY
  * and its extrema are recomputed by re-scanning ONLY that group's rows at
  * the current source version (the standard IVM answer: self-maintained on
  * insert, O(affected groups) rescan on delete). The dirty test and the
  * clean-path merge ride ONE union-aggregate over (state ∪ change rows) —
  * no joins, so NULL group keys group correctly — and the rescan pushes an
  * IN filter on the group columns down to parquet, so with group-clustered
  * files the untouched groups' data pages are never read (the spec proves
  * this physically by corrupting them). Retracting a NULL never dirties
  * (NULL never contributes to MIN/MAX); an all-NULL group stores NULL
  * extrema natively, no `nn` sidecar needed.
  *
  * Sum columns must be EXACT types (integral or decimal) — refused loudly
  * for float/double, because incremental refresh must reach bit-identical
  * state regardless of how many refreshes the history was split into, and
  * FP addition is not associative. Decimal sums are stored at precision 38
  * (Spark's cap) with the source's scale; overflow past 38 digits fails
  * loudly under ANSI arithmetic rather than wrapping.
  *
  * Scale shape (100 TB): REFRESH cost is O(changed files) + O(groups) —
  * the change feed prunes every data file shared between the last-refreshed
  * source version and the current one before any I/O ([[VersionedTable
  * .changes]]), the contribution fold is one map-side-combined aggregation
  * over changed rows only, and the state merge is a union-aggregate over
  * O(groups) rows. A daily refresh of a corpus-wide aggregate reads only
  * the day's rewritten files; the corpus itself is never re-scanned. The
  * spec proves the pruning physically (shared source files corrupted on
  * disk; refresh still answers, full recompute fails). The view's own
  * versions ride [[VersionedTable.commit]], so the dashboard reading
  * version N is isolated from the refresh publishing N+1.
  */
object MaterializedAgg {

  final case class Meta(sourceDir: String, sourceVersion: Long,
      keyCols: Seq[String], groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String])

  /** Refuse rescans past this many dirty groups: collecting the dirty key
    * set to the driver (and broadcasting it back) is the hybrid plan's one
    * driver-sized structure. A change batch dirtying more groups than this
    * is a table-rewrite, not an increment — rebuild with [[create]]. */
  val MaxDirtyGroups = 100000

  private def metaDir(viewDir: String) = new Path(viewDir, "_matview")
  private def metaPath(viewDir: String, v: Long) =
    new Path(metaDir(viewDir), f"$v%05d.meta")

  private def writeMeta(viewDir: String, v: Long, m: Meta): Unit = {
    val fs  = metaDir(viewDir).getFileSystem(FsIO.hadoopConf())
    val tmp = new Path(metaDir(viewDir), f"$v%05d.meta.tmp")
    FsIO.writeText(tmp.toString,
      s"sourceDir=${m.sourceDir}\nsourceVersion=${m.sourceVersion}\n" +
        m.keyCols.map(c => s"key=$c\n").mkString +
        m.groupCols.map(c => s"group=$c\n").mkString +
        m.sumCols.map(c => s"sum=$c\n").mkString +
        m.minMaxCols.map(c => s"minmax=$c\n").mkString)
    if (!fs.rename(tmp, metaPath(viewDir, v)))
      sys.error(s"MaterializedAgg: could not publish meta for view version $v in $viewDir")
  }

  private def readMeta(viewDir: String, v: Long): Meta = {
    val body = FsIO.readText(metaPath(viewDir, v).toString)
      .getOrElse(sys.error(s"MaterializedAgg: no meta for view version $v in $viewDir"))
    val lines = body.split("\n").toSeq
    def one(k: String)  = lines.find(_.startsWith(s"$k=")).get.stripPrefix(s"$k=")
    def many(k: String) = lines.filter(_.startsWith(s"$k=")).map(_.stripPrefix(s"$k="))
    Meta(one("sourceDir"), one("sourceVersion").toLong,
      many("key"), many("group"), many("sum"), many("minmax"))
  }

  /** Latest view version that has BOTH a committed state and a published
    * meta (a crash between the two leaves an orphan state commit that is
    * simply not the refresh base). */
  private def latestMeta(viewDir: String): (Long, Meta) = {
    val md = metaDir(viewDir)
    val fs = md.getFileSystem(FsIO.hadoopConf())
    require(fs.exists(md), s"MaterializedAgg: $viewDir is not a materialized view (no _matview)")
    val metaName = "^(\\d+)\\.meta$".r
    val vs = fs.listStatus(md).toSeq
      .flatMap(s => metaName.findFirstMatchIn(s.getPath.getName).map(_.group(1).toLong))
    require(vs.nonEmpty, s"MaterializedAgg: $viewDir has no published meta")
    val v = vs.max
    (v, readMeta(viewDir, v))
  }

  /** Whether `viewDir` holds a created materialized view (used by streaming
    * drivers to decide create-vs-refresh across restarts). */
  def exists(viewDir: String): Boolean = {
    val md = metaDir(viewDir)
    md.getFileSystem(FsIO.hadoopConf()).exists(md)
  }

  /** Canonical stored type for a sum column: decimals widen to the
    * precision-38 cap (so the stored type never creeps across refreshes);
    * integrals store as long. Floats are refused — see class doc. */
  private def canonType(c: String, dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(38, d.scale)
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => LongType
    case other => sys.error(
      s"MaterializedAgg: sum column `$c` has non-exact type $other — " +
        "incremental refresh needs associative (exact) addition; cast to " +
        "decimal first (e.g. col.cast(\"decimal(18,2)\"))")
  }

  private def sumColName(c: String) = s"sum_$c"
  private def nnColName(c: String)  = s"nn_$c"
  private def minColName(c: String) = s"min_$c"
  private def maxColName(c: String) = s"max_$c"

  /** MIN/MAX columns keep their source type (no arithmetic, so no exactness
    * constraint) but must be orderable atomics — nested types have no total
    * order a rescan and a fold would agree on. */
  private def requireOrderable(c: String, dt: DataType): Unit = dt match {
    case _: NumericType | _: StringType | _: DateType | _: TimestampType |
         _: TimestampNTZType | _: BooleanType => ()
    case other => sys.error(
      s"MaterializedAgg: min/max column `$c` has non-orderable type $other")
  }

  /** Build the view: full aggregate of the source's latest version,
    * committed as view version 0. Returns the view version. State schema:
    * groupCols, `cnt` (rows per group), and per sum column `sum_<c>` /
    * `nn_<c>` (the non-null count that lets [[read]] report SQL-exact NULL
    * for an all-null group). */
  def create(spark: SparkSession, sourceDir: String, viewDir: String,
      keyCols: Seq[String], groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): Long = {
    require(groupCols.nonEmpty, "MaterializedAgg: need at least one group column")
    require(keyCols.nonEmpty, "MaterializedAgg: need the source's key columns")
    val srcV = VersionedTable.latestVersion(sourceDir)
      .getOrElse(sys.error(s"MaterializedAgg: $sourceDir has no committed version"))
    val full  = VersionedTable.read(spark, sourceDir, Some(srcV))
    val types = canonTypes(full, sumCols)
    minMaxCols.foreach { c =>
      val f = full.schema.fields.find(_.name == c)
        .getOrElse(sys.error(s"MaterializedAgg: no column `$c` in the source"))
      requireOrderable(c, f.dataType)
    }
    val state = full.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("cnt"),
        (sumCols.flatMap { c =>
          Seq(sum(col(s"`$c`").cast(types(c))).cast(types(c)).as(sumColName(c)),
            count(col(s"`$c`")).as(nnColName(c)))
        } ++ minMaxCols.flatMap { c =>
          Seq(min(col(s"`$c`")).as(minColName(c)),
            max(col(s"`$c`")).as(maxColName(c)))
        }): _*)
    val v = VersionedTable.commit(spark, state, viewDir)
    writeMeta(viewDir, v, Meta(sourceDir, srcV, keyCols, groupCols, sumCols, minMaxCols))
    v
  }

  private def canonTypes(df: DataFrame, sumCols: Seq[String]): Map[String, DataType] =
    sumCols.map { c =>
      val f = df.schema.fields.find(_.name == c)
        .getOrElse(sys.error(s"MaterializedAgg: no column `$c` in the source"))
      c -> canonType(c, f.dataType)
    }.toMap

  /** Fold the source changes since the last refresh into the state and
    * commit the result as the next view version (returned). A no-op when
    * the source hasn't moved — returns the current view version without
    * committing. */
  def refresh(spark: SparkSession, viewDir: String): Long =
    // Serialize refreshes on the META scope (lock file `_matview.__write_lock`
    // inside the view dir), NOT on viewDir itself — the inner
    // VersionedTable.commit takes the viewDir lease, and the lease is not
    // reentrant. Two refreshes still exclude each other here, so the
    // read-state → fold → commit → meta sequence stays single-writer.
    FsIO.withWriteLock(metaDir(viewDir).toString, "MaterializedAgg.refresh",
        TableManager.DefaultLockLeaseMs) {
      val (viewV, meta) = latestMeta(viewDir)
      val srcV = VersionedTable.latestVersion(meta.sourceDir)
        .getOrElse(sys.error(s"MaterializedAgg: source ${meta.sourceDir} has no versions"))
      require(srcV >= meta.sourceVersion,
        s"MaterializedAgg: source went backwards ($srcV < ${meta.sourceVersion})")
      if (srcV == meta.sourceVersion) viewV
      else {
        val ch = VersionedTable.changes(spark, meta.sourceDir,
          meta.sourceVersion, srcV, meta.keyCols,
          (meta.groupCols ++ meta.sumCols ++ meta.minMaxCols).distinct)
        // sum-column types come from the change feed's own schema (`<c>_new`
        // carries the source type) — NOT from a source-table read, whose
        // footer resolution would touch files the feed just pruned (the
        // O(changed files) contract covers schema I/O too).
        val types = meta.sumCols.map { c =>
          val f = ch.schema.fields.find(_.name == s"${c}_new")
            .getOrElse(sys.error(s"MaterializedAgg: change feed lost column `$c`"))
          c -> canonType(c, f.dataType)
        }.toMap
        def contrib(side: String, sign: Int): DataFrame = {
          val kinds = if (sign > 0) Seq("added", "updated") else Seq("removed", "updated")
          ch.where(col("change_type").isin(kinds: _*)).select(
            meta.groupCols.map(g => col(s"`${g}_$side`").as(g)) ++
              Seq(lit(sign.toLong).as("cnt")) ++
              meta.sumCols.flatMap { c =>
                val v = col(s"`${c}_$side`").cast(types(c))
                Seq((v * sign).cast(types(c)).as(sumColName(c)),
                  when(v.isNotNull, sign.toLong).otherwise(0L).as(nnColName(c)))
              }: _*)
        }
        val state = VersionedTable.read(spark, viewDir, Some(viewV))
        val gCols = meta.groupCols.map(c => col(s"`$c`"))
        // APPEND-ONLY SPAN FAST PATH (r19): when the span's log proves the
        // feed is `added`-only (no removes, no DV changes — the streaming
        // matview's every trigger), there are no retractions: the old-side
        // contribution leg is empty and every MIN/MAX fold is clean, so
        // state, new values AND extrema fold in ONE union-aggregate — no
        // perGroup checkpoint, no dirty-group collect, no rescan plan.
        // Result-identical to the general fold by construction: with
        // del_* all-NULL, foldMinMax's dirtyCond is false for every group
        // and its clean leg is least/greatest over (stored extrema ∪
        // inserted values) — exactly the min/max this single aggregate
        // computes (both skip NULLs).
        val appendOnly = VersionedTable.isAppendOnlySpan(
          meta.sourceDir, meta.sourceVersion, srcV)
        val mm = meta.minMaxCols
        lazy val mmType = mm.map { c =>
          val f = ch.schema.fields.find(_.name == s"${c}_new")
            .getOrElse(sys.error(s"MaterializedAgg: change feed lost column `$c`"))
          c -> f.dataType
        }.toMap
        val finalState = if (appendOnly) {
          val stateLeg = state.select(gCols ++ Seq(col("cnt")) ++
            meta.sumCols.flatMap(c => Seq(col(sumColName(c)), col(nnColName(c)))) ++
            mm.flatMap(c => Seq(col(minColName(c)), col(maxColName(c)))): _*)
          val newLeg = ch.where(col("change_type") === "added").select(
            meta.groupCols.map(g => col(s"`${g}_new`").as(g)) ++
              Seq(lit(1L).as("cnt")) ++
              meta.sumCols.flatMap { c =>
                val v = col(s"`${c}_new`").cast(types(c))
                Seq(v.as(sumColName(c)),
                  when(v.isNotNull, 1L).otherwise(0L).as(nnColName(c)))
              } ++
              mm.flatMap(c => Seq(col(s"`${c}_new`").cast(mmType(c)).as(minColName(c)),
                col(s"`${c}_new`").cast(mmType(c)).as(maxColName(c)))): _*)
          stateLeg.unionByName(newLeg)
            .groupBy(gCols: _*)
            .agg(sum(col("cnt")).as("cnt"),
              (meta.sumCols.flatMap { c =>
                Seq(sum(col(sumColName(c))).cast(types(c)).as(sumColName(c)),
                  sum(col(nnColName(c))).as(nnColName(c)))
              } ++ mm.flatMap(c => Seq(min(col(minColName(c))).as(minColName(c)),
                max(col(maxColName(c))).as(maxColName(c))))): _*)
            .where(col("cnt") > 0)
        } else {
          val merged = state
            .select(gCols ++ Seq(col("cnt")) ++ meta.sumCols.flatMap(c =>
              Seq(col(sumColName(c)), col(nnColName(c)))): _*)
            .unionByName(contrib("old", -1)).unionByName(contrib("new", 1))
            .groupBy(gCols: _*)
            .agg(sum(col("cnt")).as("cnt"),
              meta.sumCols.flatMap { c =>
                Seq(sum(col(sumColName(c))).cast(types(c)).as(sumColName(c)),
                  sum(col(nnColName(c))).as(nnColName(c)))
              }: _*)
            .where(col("cnt") > 0)
          if (mm.isEmpty) merged
          else foldMinMax(spark, meta, srcV, state, ch, merged)
        }
        val v = VersionedTable.commit(spark, finalState, viewDir)
        writeMeta(viewDir, v, meta.copy(sourceVersion = srcV))
        v
      }
    }

  /** Hybrid MIN/MAX maintenance (see class doc). One union-aggregate over
    * (state ∪ old-side change rows ∪ new-side change rows) yields, per
    * group: the stored extrema (`st_*`), the asserted extrema (`ins_*`) and
    * the retracted extrema (`del_*`) — no joins, so NULL group keys group
    * correctly. Clean groups merge as least/greatest; groups whose
    * retractions reach a stored extremum rescan their own source rows at
    * `srcV` through a pushed-down IN filter on the group columns. */
  private def foldMinMax(spark: SparkSession, meta: Meta, srcV: Long,
      state: DataFrame, ch: DataFrame, merged: DataFrame): DataFrame = {
    val gCols  = meta.groupCols.map(c => col(s"`$c`"))
    val mm     = meta.minMaxCols
    val mmType = mm.map { c =>
      val f = ch.schema.fields.find(_.name == s"${c}_new")
        .getOrElse(sys.error(s"MaterializedAgg: change feed lost column `$c`"))
      c -> f.dataType
    }.toMap
    // three legs with identical (group ++ st/ins/del min-max) schemas
    val stLeg = state.select(gCols ++ mm.flatMap(c => Seq(
      col(minColName(c)).as(s"st_min_$c"), col(maxColName(c)).as(s"st_max_$c"),
      lit(null).cast(mmType(c)).as(s"ins_min_$c"), lit(null).cast(mmType(c)).as(s"ins_max_$c"),
      lit(null).cast(mmType(c)).as(s"del_min_$c"), lit(null).cast(mmType(c)).as(s"del_max_$c"))): _*)
    def chLeg(side: String, pfx: String) = {
      val kinds = if (pfx == "ins") Seq("added", "updated") else Seq("removed", "updated")
      ch.where(col("change_type").isin(kinds: _*)).select(
        meta.groupCols.map(g => col(s"`${g}_$side`").as(g)) ++ mm.flatMap { c =>
          val v = col(s"`${c}_$side`")
          Seq(lit(null).cast(mmType(c)).as(s"st_min_$c"), lit(null).cast(mmType(c)).as(s"st_max_$c"),
            (if (pfx == "ins") v else lit(null).cast(mmType(c))).as(s"ins_min_$c"),
            (if (pfx == "ins") v else lit(null).cast(mmType(c))).as(s"ins_max_$c"),
            (if (pfx == "del") v else lit(null).cast(mmType(c))).as(s"del_min_$c"),
            (if (pfx == "del") v else lit(null).cast(mmType(c))).as(s"del_max_$c"))
        }: _*)
    }
    val perGroup = stLeg.unionByName(chLeg("new", "ins")).unionByName(chLeg("old", "del"))
      .groupBy(gCols: _*)
      .agg(min(col(s"st_min_${mm.head}")).as(s"st_min_${mm.head}"),
        (Seq(max(col(s"st_max_${mm.head}")).as(s"st_max_${mm.head}"),
          min(col(s"ins_min_${mm.head}")).as(s"ins_min_${mm.head}"),
          max(col(s"ins_max_${mm.head}")).as(s"ins_max_${mm.head}"),
          min(col(s"del_min_${mm.head}")).as(s"del_min_${mm.head}"),
          max(col(s"del_max_${mm.head}")).as(s"del_max_${mm.head}")) ++
          mm.tail.flatMap(c => Seq(
            min(col(s"st_min_$c")).as(s"st_min_$c"), max(col(s"st_max_$c")).as(s"st_max_$c"),
            min(col(s"ins_min_$c")).as(s"ins_min_$c"), max(col(s"ins_max_$c")).as(s"ins_max_$c"),
            min(col(s"del_min_$c")).as(s"del_min_$c"), max(col(s"del_max_$c")).as(s"del_max_$c")))): _*)
      .localCheckpoint(true) // consumed by the dirty collect AND both legs below
    // dirty iff a retraction reaches a stored extremum — INCLUDING a NULL
    // stored extremum (a group new in the span, or stored all-NULL): the
    // null comparison would read as clean, and the clean fold would keep a
    // value the span also deleted (insert 5+9, delete 5 on a new group
    // folded to min 5 instead of 9). NULL retractions still fold clean.
    val dirtyCond = coalesce(mm.map(c =>
      col(s"del_min_$c") <= col(s"st_min_$c") || col(s"del_max_$c") >= col(s"st_max_$c") ||
        (col(s"del_min_$c").isNotNull && col(s"st_min_$c").isNull))
      .reduce(_ || _), lit(false))
    val cleanMm = perGroup.where(!dirtyCond).select(gCols ++ mm.flatMap(c => Seq(
      least(col(s"st_min_$c"), col(s"ins_min_$c")).as(minColName(c)),
      greatest(col(s"st_max_$c"), col(s"ins_max_$c")).as(maxColName(c)))): _*)
    val dirtyKeys = perGroup.where(dirtyCond).select(gCols: _*).collect()
    val mmState =
      if (dirtyKeys.isEmpty) cleanMm
      else {
        require(dirtyKeys.length <= MaxDirtyGroups,
          s"MaterializedAgg: ${dirtyKeys.length} dirty groups (> $MaxDirtyGroups) — " +
            "this change batch rewrote the table; rebuild the view with create()")
        val src = VersionedTable.read(spark, meta.sourceDir, Some(srcV))
        // coarse pushed-down prune: per-column IN over the dirty key values
        // (parquet row-group stats skip untouched groups' pages when the
        // table is group-clustered), then the exact null-safe membership join
        val coarse = meta.groupCols.zipWithIndex.map { case (g, i) =>
          val vs = dirtyKeys.map(_.get(i)).toSeq
          val nn = vs.filter(_ != null).distinct
          val in = if (nn.isEmpty) lit(false) else col(s"`$g`").isin(nn: _*)
          if (vs.exists(_ == null)) in || col(s"`$g`").isNull else in
        }.reduce(_ && _)
        val keyDf = spark.createDataFrame(
          java.util.Arrays.asList(dirtyKeys: _*),
          StructType(meta.groupCols.map(g =>
            perGroup.schema.fields.find(_.name == g).get)))
        val joinCond = meta.groupCols.map(g => src(s"`$g`") <=> keyDf(s"`$g`")).reduce(_ && _)
        val rescan = src.where(coarse)
          .join(broadcast(keyDf), joinCond, "left_semi")
          .groupBy(gCols: _*)
          .agg(min(col(s"`${mm.head}`")).as(minColName(mm.head)),
            (max(col(s"`${mm.head}`")).as(maxColName(mm.head)) +:
              mm.tail.flatMap(c => Seq(min(col(s"`$c`")).as(minColName(c)),
                max(col(s"`$c`")).as(maxColName(c))))): _*)
        cleanMm.unionByName(rescan)
      }
    // attach extrema to the core fold by one more union-aggregate (again no
    // join: each group has ≤1 core row and ≤1 mm row, so max() selects the
    // lone non-NULL); groups present only in mm (vanished, or stale-clean)
    // carry NULL cnt and drop
    val coreU = merged.select(gCols ++ Seq(col("cnt")) ++
      meta.sumCols.flatMap(c => Seq(col(sumColName(c)), col(nnColName(c)))) ++
      mm.flatMap(c => Seq(lit(null).cast(mmType(c)).as(minColName(c)),
        lit(null).cast(mmType(c)).as(maxColName(c)))): _*)
    val sumTypes = meta.sumCols.map(c =>
      c -> merged.schema.fields.find(_.name == sumColName(c)).get.dataType).toMap
    val mmU = mmState.select(gCols ++ Seq(lit(null).cast("long").as("cnt")) ++
      meta.sumCols.flatMap(c => Seq(lit(null).cast(sumTypes(c)).as(sumColName(c)),
        lit(null).cast("long").as(nnColName(c)))) ++
      mm.flatMap(c => Seq(col(minColName(c)), col(maxColName(c)))): _*)
    coreU.unionByName(mmU).groupBy(gCols: _*)
      .agg(max(col("cnt")).as("cnt"),
        (meta.sumCols.flatMap(c => Seq(max(col(sumColName(c))).as(sumColName(c)),
          max(col(nnColName(c))).as(nnColName(c)))) ++
          mm.flatMap(c => Seq(max(col(minColName(c))).as(minColName(c)),
            max(col(maxColName(c))).as(maxColName(c))))): _*)
      .where(col("cnt").isNotNull)
  }

  /** The view's query surface: groupCols, `cnt`, and `sum_<c>` per sum
    * column — with an all-null group's sum reported as NULL (SQL SUM
    * semantics), which the raw state encodes via `nn_<c>`. Time travel via
    * `version` reads an older view state with its own meta. */
  def read(spark: SparkSession, viewDir: String,
      version: Option[Long] = None): DataFrame = {
    val v     = version.getOrElse(latestMeta(viewDir)._1)
    val meta  = readMeta(viewDir, v)
    val state = VersionedTable.read(spark, viewDir, Some(v))
    state.select(meta.groupCols.map(c => col(s"`$c`")) ++ Seq(col("cnt")) ++
      meta.sumCols.map(c =>
        when(col(nnColName(c)) > 0, col(sumColName(c))).as(sumColName(c))) ++
      meta.minMaxCols.flatMap(c =>
        Seq(col(minColName(c)), col(maxColName(c)))): _*)
  }
}
