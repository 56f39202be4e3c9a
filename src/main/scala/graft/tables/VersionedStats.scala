package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-version file statistics for a [[VersionedTable]] — the Delta
  * per-file-stats-in-the-log design (stats ride the commit, not a mutable
  * sidecar), emulated as an immutable stats manifest per version under
  * `<dir>/_stats/v=<n>`: one row per data file of that version's manifest
  * with `n_rows` and min/max/non-null-count per stat column, keyed by the
  * version's RELATIVE file list. That keying buys three things a mutable
  * sidecar beside a plain directory can't give: time travel (each
  * version's stats are its own immutable row set), vacuum-safety (no
  * staleness window — the stats row set and the manifest are checked 1:1
  * at read), and O(new files) maintenance
  * ([[refreshIncremental]] carries forward the stats of every file shared
  * with the previous statted version and reads back only the files the new
  * version added — the exact file-sharing structure commitAppend/
  * copy-on-write produce).
  *
  * 100 TB shape: the stats manifest is one row per file; a range read
  * prunes the FILE LIST driver-side before any scan plans (I/O ∝ selected
  * key range, not table), and daily stats maintenance costs one read-back
  * of the day's new files. The kept file list is collected to the driver
  * exactly like every FileIndex does; [[MaxPrunedFiles]] turns the
  * degenerate no-pruning-possible case into an actionable error instead of
  * a silent giant plan. */
object VersionedStats {

  /** Refuse to materialize absurd kept-file lists (no-stat overlap on every
    * file = the clustering is wrong for this predicate, not a read problem). */
  val MaxPrunedFiles = 1000000

  private def statsRoot(dir: String)          = new Path(dir, "_stats")
  private def statsDir(dir: String, v: Long)  = new Path(statsRoot(dir), f"v=$v%05d")

  /** Resolve logical stat columns to the PHYSICAL footer names of version
    * `v` — the key every stats artifact stores under. Physical names are
    * immutable once a file exists, so a RENAME COLUMN costs stats nothing:
    * the manifest stays valid and reads re-resolve through the current
    * mapping. A column DROPPED from the declared schema stops resolving
    * (its stats rows become unreachable dead weight, swept by the next
    * refresh), and a re-added same-named column gets a FRESH physical name
    * (tombstone guard), so stale stats can never answer for it. On tables
    * with no declared schema the mapping is the identity. */
  private def physicalStatCols(dir: String, v: Long,
      statCols: Seq[String]): Seq[(String, String)] = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val m = VersionedTable.columnMappingAt(dir, v)
    statCols.map { c =>
      if (m.nonEmpty) c -> m.getOrElse(lc(c), sys.error(
        s"VersionedStats: column `$c` is not in version $v's declared schema " +
          s"(have: ${m.keys.toSeq.sorted.mkString(", ")}) — dropped columns " +
          "have no stats; re-added columns need a fresh refresh"))
      else c -> c
    }
  }

  /** Physical stat columns plus their types, for the stats read-back of
    * `rels` (files of version `v`). Types come from the declared schema,
    * else from one driver footer read of the first file read back: the
    * commit gate holds every file of an undeclared table's version to one
    * schema, and taking the footer from `rels` keeps the incremental
    * refresh's I/O on the version's fresh files alone. The
    * read-back pins these types, so it never pays parquet's
    * footer-merging inference job, and files written BEFORE an ADD COLUMN
    * null-fill the new physical column while their stats rows keep its
    * (all-null → cnt 0) slots, one uniform manifest schema. None: a column
    * of an undeclared table that no file carries. */
  private def physicalStatColsTyped(spark: SparkSession, dir: String, v: Long,
      statCols: Seq[String], rels: Seq[String])
      : Seq[(String, Option[org.apache.spark.sql.types.DataType])] = {
    val schema = VersionedTable.declaredSchemaAt(dir, v).orElse(rels.headOption.map(rel =>
      org.apache.spark.sql.graft.FooterShim.schemaOf(spark, new Path(new Path(dir), rel).toString)))
    physicalStatCols(dir, v, statCols).map { case (c, p) =>
      p -> schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(c))).map(_.dataType)
    }
  }

  /** `version`, or the latest committed one — loud on a table with none. */
  private def versionOr(dir: String, version: Option[Long]): Long =
    version.getOrElse(VersionedTable.latestVersion(dir)
      .getOrElse(sys.error(s"VersionedStats: $dir has no committed version")))

  private def statAggs(statCols: Seq[String]): Seq[Column] =
    count(lit(1)).as("n_rows") +: statCols.flatMap(c =>
      Seq(min(col(s"`$c`")).as(s"min_$c"), max(col(s"`$c`")).as(s"max_$c"),
        count(col(s"`$c`")).as(s"cnt_$c")))

  /** Versions (ascending) that currently have a published stats manifest. */
  def stattedVersions(dir: String): Seq[Long] = {
    val root = statsRoot(dir)
    val fs   = root.getFileSystem(FsIO.hadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(s => "^v=(\\d+)$".r.findFirstMatchIn(s.getPath.getName).map(_.group(1).toLong))
      .sorted
  }

  private def writeStats(spark: SparkSession, dir: String, v: Long, stats: DataFrame): Unit = {
    val fs  = statsRoot(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(statsRoot(dir), f"v=$v%05d.__tmp")
    stats.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(statsDir(dir, v), true)
    if (!fs.rename(tmp, statsDir(dir, v)))
      sys.error(s"VersionedStats: could not publish stats for version $v in $dir")
  }

  /** Stats rows of `rels` (files of version `v`), one per file. */
  private def readBack(spark: SparkSession, dir: String, v: Long, rels: Seq[String],
      logicalCols: Seq[String]): DataFrame = {
    val statCols = physicalStatColsTyped(spark, dir, v, logicalCols, rels)
    val aggs = statAggs(statCols.map(_._1))
    val byAbs = rels.map(rel =>
      new Path(new Path(dir), rel).toUri.getPath -> rel).toMap
    val relOf = udf((f: String) =>
      byAbs.getOrElse(new Path(new java.net.URI(f)).toUri.getPath, null: String))
    val paths = rels.map(rel => new Path(new Path(dir), rel).toString)
    // A schema-less parquet read infers its schema from ONE footer (the
    // lexicographically-first file — an arbitrary UUID draw here), so on a
    // file set mixing pre/post-ADD-COLUMN files the sampled footer can
    // predate the evolution and project the new column away for EVERY
    // file, recording cnt=0 even for files holding real values. Pin the
    // read to the version's physical schema instead: the parquet reader
    // then null-fills the column per file that lacks it and reads it
    // wherever it exists.
    import org.apache.spark.sql.types.{StructField, StructType}
    val raw = spark.read
      .schema(StructType(statCols.collect { case (p, Some(dt)) => StructField(p, dt) }))
      .parquet(paths: _*)
    // a stat column present in NO file at all: null-fill so the stats row
    // still carries its slots (cnt 0, min/max null)
    val filled = statCols.foldLeft(raw) {
      case (df, (p, None)) => df.withColumn(p, lit(null))
      case (df, _)         => df
    }
    // group on the raw file name and map each GROUP to its relative name:
    // the path-parsing UDF then runs once per file, not once per row
    filled
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("file", relOf(col("file")))
  }

  /** (Re)build the stats manifest for `version` (default latest) from a
    * full read-back of its files. The bootstrap / re-key path; steady-state
    * maintenance is [[refreshIncremental]]. */
  def refresh(spark: SparkSession, dir: String, statCols: Seq[String],
      version: Option[Long] = None): Long = {
    require(statCols.nonEmpty, "VersionedStats: need at least one stat column")
    val v = versionOr(dir, version)
    // stats read raw footers, so they aggregate — and the manifest keys —
    // on PHYSICAL names, resolved from the logical statCols through the
    // version's column mapping; renames never invalidate a manifest
    writeStats(spark, dir, v, readBack(spark, dir, v, VersionedTable.filesOf(dir, v), statCols))
    v
  }

  /** Stats for the LATEST version at O(new files) cost: rows for files
    * shared with the newest already-statted version carry forward verbatim
    * (their files are immutable), only the latest version's fresh files are
    * read back. Falls back to a full [[refresh]] when nothing is statted
    * yet or the stat column set changed. */
  def refreshIncremental(spark: SparkSession, dir: String,
      statCols: Seq[String]): Long = {
    require(statCols.nonEmpty, "VersionedStats: need at least one stat column")
    val v = versionOr(dir, None)
    val phys = physicalStatCols(dir, v, statCols).map(_._2)
    val base = stattedVersions(dir).filter(_ < v).lastOption
    base match {
      case None => refresh(spark, dir, statCols)
      case Some(w) =>
        val prev = readStats(spark, dir, w)
        // physical-keyed carry-forward: the previous manifest must cover
        // the SAME physical columns (a rename alone changes nothing here;
        // a re-added column's fresh physical name forces the full re-key)
        if (!phys.forall(c => prev.columns.contains(s"min_$c")))
          refresh(spark, dir, statCols) // column set changed: re-key
        else {
          val rels    = VersionedTable.filesOf(dir, v)
          val prevSet = VersionedTable.filesOf(dir, w).toSet
          val (carried, fresh) = rels.partition(prevSet.contains)
          val carriedDf = prev.where(col("file").isin(carried: _*))
          val stats =
            if (fresh.isEmpty) carriedDf
            else carriedDf.unionByName(readBack(spark, dir, v, fresh, statCols))
          writeStats(spark, dir, v, stats)
          v
        }
    }
  }

  /** METADATA-ONLY AGGREGATE (Delta's "answer count(*)/min/max from the
    * log"): total rows, per-column non-null count / min / max for version
    * `v` (latest by default), resolved entirely from the stats manifest —
    * ZERO data-file I/O, the query a 100 TB dashboard asks hourly.
    * Soundness guards: [[checkedFiles]] proves the manifest covers EXACTLY
    * the version's file set (a stale manifest fails, never silently
    * misses rows), and any DELETION VECTOR on the version refuses loudly —
    * stored stats describe physical files, and masked rows would falsify
    * counts (compact the masks away first). One row per column:
    * `column, n_rows, n_notnull, min_d, max_d` (min/max as DOUBLE via
    * try_cast, null for non-numeric columns). */
  def statsOnlyAggregate(spark: SparkSession, dir: String,
      statCols: Seq[String], version: Option[Long] = None): DataFrame = {
    require(statCols.nonEmpty, "statsOnlyAggregate: need at least one column")
    val v = versionOr(dir, version)
    val masked = VersionedTable.entriesOf(dir, v).filter(_._2.nonEmpty)
    require(masked.isEmpty,
      s"statsOnlyAggregate: version $v of $dir has deletion vectors on " +
        s"${masked.size} file(s) — physical stats would count masked rows; " +
        "run commitCompact (or compactDeletionVectors + refresh) first, or " +
        "aggregate through a real read")
    val stats = readStats(spark, dir, v)
    checkedFiles(stats, dir, v, lit(true))
    // aggregate under the PHYSICAL key, surface the LOGICAL name — a
    // renamed table answers for its current names from the same manifest
    val byPhys = physicalStatCols(dir, v, statCols)
    byPhys.foreach { case (c, p) => require(stats.columns.contains(s"min_$p"),
      s"statsOnlyAggregate: column $c is not in version $v's stats manifest — " +
        "refresh with it included") }
    val aggs = sum(col("n_rows")).cast("long").as("__n") +: byPhys.flatMap { case (_, p) => Seq(
      sum(col(s"cnt_$p")).cast("long").as(s"__${p}__cnt"),
      min(expr(s"try_cast(`min_$p` AS DOUBLE)")).as(s"__${p}__min"),
      max(expr(s"try_cast(`max_$p` AS DOUBLE)")).as(s"__${p}__max")) }
    val one = stats.agg(aggs.head, aggs.tail: _*)
    val perCol = byPhys.map { case (c, p) => struct(
      lit(c).as("column"), col("__n").as("n_rows"),
      col(s"__${p}__cnt").as("n_notnull"),
      col(s"__${p}__min").as("min_d"), col(s"__${p}__max").as("max_d")) }
    one.select(explode(array(perCol: _*)).as("s")).select(col("s.*"))
  }

  /** The stats manifest of version `v`, read under the schema its one
    * file's footer carries (one driver footer read — a schema-less read
    * would launch a schema-inference job on every gate). */
  private def readStats(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val sd = statsDir(dir, v)
    val fs = sd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(sd),
      s"VersionedStats: no stats manifest for version $v of $dir — run refresh/refreshIncremental")
    val part = fs.listStatus(sd).map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"VersionedStats: stats manifest $sd holds no parquet file"))
    spark.read.schema(org.apache.spark.sql.graft.FooterShim.schemaOf(spark, part.toString))
      .parquet(sd.toString)
  }

  /** Every statted file of `stats` (version `v`'s manifest) with whether
    * its row satisfies `keep`, in ONE collect — the file set doubles as the
    * 1:1 integrity check against the version's file manifest: a stats set
    * that drifted (partial write, foreign tool) must fail, not silently
    * miss rows. */
  private def checkedFiles(stats: DataFrame, dir: String, v: Long,
      keep: Column): Seq[(String, Boolean)] = {
    val rows = stats.select(col("file"), coalesce(keep, lit(false)))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    val rels    = VersionedTable.filesOf(dir, v).toSet
    val statted = rows.map(_._1).toSet
    require(statted == rels,
      s"VersionedStats: stats manifest for version $v of $dir does not match its " +
        s"file manifest (${(rels -- statted).size} missing, ${(statted -- rels).size} extra) " +
        "— re-run refresh")
    rows
  }

  /** Relative files of `version` whose [min, max] intersects EVERY
    * (col, lo, hi) predicate, plus the version's total file count — both
    * from the one collect that proves the stats manifest 1:1. */
  def prunedFiles(spark: SparkSession, dir: String,
      preds: Seq[(String, Column, Column)],
      version: Option[Long] = None): (Seq[String], Long) = {
    require(preds.nonEmpty, "VersionedStats: need at least one predicate")
    val v = versionOr(dir, version)
    // the manifest keys on PHYSICAL names (immutable), so a column mapping
    // needs no refusal here — predicates resolve through physicalStatCols
    val stats = readStats(spark, dir, v)
    val physOf = physicalStatCols(dir, v, preds.map(_._1)).toMap
    preds.foreach { case (c, _, _) => require(stats.columns.contains(s"min_${physOf(c)}"),
      s"VersionedStats: column $c is not statted for version $v — refresh including it") }
    val cond = preds.map { case (c, lo, hi) =>
      col(s"max_${physOf(c)}") >= lo && col(s"min_${physOf(c)}") <= hi
    }.reduce(_ && _)
    val files = checkedFiles(stats, dir, v, cond)
    val kept = files.collect { case (f, true) => f }
    require(kept.size <= MaxPrunedFiles,
      s"VersionedStats: pruning kept ${kept.size} files — the clustering does not " +
        "discriminate for this predicate; re-cluster (commitCompact clusterBy) or read plainly")
    (kept, files.size.toLong)
  }

  /** Range read through the stats manifest: scan ONLY surviving files, then
    * the exact residual predicate. Row-identical to a full-scan filter.
    * Stats describe PHYSICAL files, so under deletion vectors min/max stay
    * conservative (a masked row can only widen, never narrow, the range) —
    * pruning is sound; the kept files then read through the version's DV
    * masks so deleted rows never surface. */
  def readPruned(spark: SparkSession, dir: String,
      preds: Seq[(String, Column, Column)],
      version: Option[Long] = None): DataFrame = {
    val v = versionOr(dir, version)
    readKept(spark, dir, preds, v, prunedFiles(spark, dir, preds, Some(v))._1)
  }

  /** [[readPruned]] over a kept set the caller already holds, for callers
    * that gate on the pruning before reading: the read then loads the stats
    * manifest and runs its 1:1 check once, not twice. `kept` must be what
    * [[prunedFiles]] returned at version `v` for `preds` (the intersection
    * of the sets for a split of `preds` is the same set: a file is kept iff
    * it intersects every range). */
  def readKept(spark: SparkSession, dir: String,
      preds: Seq[(String, Column, Column)], v: Long, kept: Seq[String]): DataFrame = {
    val base =
      if (kept.isEmpty) VersionedTable.read(spark, dir, Some(v)).limit(0)
      else {
        val keptSet = kept.toSet
        // pass the declared schema so a mapped table's kept files read
        // back under LOGICAL names (the residual predicate's names)
        VersionedTable.readEntries(spark, dir,
          VersionedTable.entriesOf(dir, v).filter(e => keptSet(e._1)),
          VersionedTable.declaredSchemaAt(dir, v))
      }
    base.where(preds.map { case (c, lo, hi) => col(s"`$c`") >= lo && col(s"`$c`") <= hi }
      .reduce(_ && _))
  }
}
