package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned path tables — the Delta-log behaviors a plain directory can't
  * give: TIME TRAVEL (read any retained version) and READER ISOLATION
  * during publish (a commit never deletes or renames the files under a
  * reader of an earlier version).
  *
  * Layout: data files live under `<dir>/data/` (a day-partitioned table —
  * [[TimePartitioned]] — nests them one level deeper, under
  * `data/p_day=<yyyy-MM-dd>/`); the `<dir>/_log/<n>-<ms>.commit` entry
  * (write-once: staged as `.tmp`, renamed into place) IS the commit point —
  * a version exists for readers iff its commit entry exists, and every
  * table with a history has exactly this one commit point. The entry
  * carries the version's MANIFEST: versions SHARE unchanged data files —
  * append writes only the new rows' files; update/delete rewrite only the
  * files that actually contain matching rows (file-level copy-on-write,
  * the Delta MERGE discipline); a whole-table [[commit]] (the
  * overwrite-table cadence the reference uses, `01. Ingest.py:176-189`)
  * stages a full new file set. COMMIT cost is O(change), never O(table) —
  * the property that makes versioning affordable on a 100 TB corpus, where
  * a daily append must not re-copy the year.
  *
  * Append-only per-version entries rather than one rewritten log: a
  * rewrite needs delete-then-rename (no atomic rename-over on HDFS), and a
  * crash or concurrent read in that window would observe NO log at all —
  * vanishing committed history. A crash after the data staging but before
  * the entry rename leaves orphan files no manifest references: never
  * visible, swept by the next [[vacuum]] once past its grace window. This
  * is a deliberate miniature of the Delta transaction log: commit = one
  * atomic metadata rename, data files are immutable once written.
  *
  * Manifests are DELTA-ENCODED with periodic checkpoints (the Delta-log
  * actions + checkpoint-parquet architecture): between checkpoints a
  * commit entry carries only its own actions (`add=`/`remove=` files,
  * `dvclear=`/`dvadd=` deletion-vector changes) — O(change) METADATA bytes,
  * so a one-file append to a million-file table does not rewrite a
  * million manifest lines; every [[CheckpointInterval]]-th entry in a
  * chain is a full `file=` manifest, bounding any snapshot resolution at
  * O(interval) small entry reads no matter how many commits accumulated.
  * [[vacuum]] refcounts files across retained manifests before deleting
  * anything.
  *
  * Concurrency: commits and vacuums serialize through
  * [[FsIO.acquireWriteLock]] (the lease guard); readers take no lock ever —
  * they resolve the log once and from then on touch only immutable files.
  */
object VersionedTable {

  private def logDir(dir: String)        = new Path(dir, "_log")
  private def dataDir(dir: String)       = new Path(dir, "data")
  // version AND commit-millis both ride in the entry NAME, so resolving the
  // log is ONE listStatus — no per-commit file read (O(versions) small-file
  // opens per read()/commit(), all inside the commit lease hold)
  private val commitName = "^(\\d+)-(\\d+)\\.commit$".r
  private def commitEntry(dir: String, v: Long, ms: Long) =
    new Path(logDir(dir), f"$v%05d-$ms%d.commit")

  /** One data file of a version's manifest plus the DELETION VECTORS
    * masking it: `dvs` are relative paths of skinny `(fname, pos)` parquet
    * sidecars ([[commitDeleteDV]]); a row of the file is live iff its
    * physical position appears in none of them. Files rewritten by
    * copy-on-write start with `dvs = Nil`. */
  final case class FileEntry(rel: String, dvs: List[String])

  /** Every [[CheckpointInterval]]-th manifest commit in a delta chain is
    * forced FULL (`kind=manifest`) — the checkpoint that bounds log
    * resolution at O(interval) small entry reads no matter how many
    * commits the table has accumulated (the Delta checkpoint-parquet
    * cadence). Between checkpoints, commits serialize only their
    * add/remove/dv actions: commit METADATA cost is O(change), not
    * O(table files) — the property that lets a 1M-file table take a
    * one-file append without rewriting a million manifest lines. */
  val CheckpointInterval: Int = 10

  /** A commit entry's manifest payload, as written:
    *  - [[FullEntry]]  — `kind=manifest`: the complete (file, dv) list;
    *    doubles as the checkpoint anchor for the delta chains above it.
    *  - [[DeltaEntry]] — `kind=delta`: only this commit's actions against
    *    the previous version (`add=`/`remove=` files, `dvclear=`/`dvadd=`
    *    deletion-vector changes). Resolution replays the chain from the
    *    nearest full entry below.
    * Detection is by explicit markers, never by line emptiness — an entry
    * with neither marker fails loudly rather than reading as empty. */
  private sealed trait ParsedEntry
  private final case class FullEntry(entries: Seq[FileEntry]) extends ParsedEntry
  private final case class DeltaEntry(adds: Seq[String], removes: Seq[String],
      dvClears: Set[String], dvAdds: Seq[(String, String)]) extends ParsedEntry

  // Commit entries are WRITE-ONCE (staged as .tmp, renamed into place,
  // never rewritten or deleted — vacuum drops DATA, the log is forever),
  // so their text caches process-wide. Without this, every commit's log
  // resolution re-reads the chain from the filesystem THREE times
  // (pre-flight gate, in-lease manifest, publish deltaBudget) and
  // lastTxnVersion re-reads the whole log per txn-marked append — measured
  // ~40% of the per-commit driver latency at a 12-commit chain, growing
  // with history. Bounded so a long-lived driver touching many tables
  // stays flat; hitting the cap CLEARS the cache (a one-time refill beats
  // serving forever-uncached reads, and beats any stale entry surviving a
  // delete+recreate that slipped past [[invalidateEntryCache]]).
  private val EntryTextCacheMax = 8192
  private val entryTextCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Drop every cached commit-entry text under `dir`. The write-once cache
    * contract breaks in exactly one way — a table DELETED and RECREATED at
    * the same path, where a recreated commit's (version, commit-millis)
    * filename can collide with the old table's (same-millisecond commits in
    * tests and long-lived drivers) — so the delete path
    * ([[TableManager.deleteDir]]) must call this. O(cache size) key scan,
    * driver-only. */
  def invalidateEntryCache(dir: String): Unit = {
    val prefix = logDir(dir).toString + "/"
    val it = entryTextCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
  }

  private def entryText(dir: String, v: Long, ms: Long): Option[String] = {
    val key = commitEntry(dir, v, ms).toString
    val hit = entryTextCache.get(key)
    if (hit != null) Some(hit)
    else FsIO.readText(key) match {
      case Some(t) =>
        if (entryTextCache.size >= EntryTextCacheMax) entryTextCache.clear()
        entryTextCache.put(key, t)
        Some(t)
      case None => None
    }
  }

  private def parseEntry(dir: String, v: Long, ms: Long): ParsedEntry = {
    val body = entryText(dir, v, ms).getOrElse(
      sys.error(s"VersionedTable: missing commit entry for version $v in $dir"))
    val lines = body.split("\n").toSeq
    def dvPairs(prefix: String) = lines.filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).split("\\|", 2))
      .collect { case Array(f, d) => (f, d) }
    if (lines.contains("kind=delta"))
      DeltaEntry(
        adds     = lines.filter(_.startsWith("add=")).map(_.stripPrefix("add=")),
        removes  = lines.filter(_.startsWith("remove=")).map(_.stripPrefix("remove=")),
        dvClears = lines.filter(_.startsWith("dvclear=")).map(_.stripPrefix("dvclear=")).toSet,
        dvAdds   = dvPairs("dvadd="))
    else if (lines.contains("kind=manifest")) {
      val dvs = dvPairs("dv=").groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).toList }
      FullEntry(lines.filter(_.startsWith("file=")).map(_.stripPrefix("file="))
        .map(rel => FileEntry(rel, dvs.getOrElse(rel, Nil))))
    } else sys.error(
      s"VersionedTable: commit entry for version $v in $dir carries no manifest " +
        "(neither kind=manifest nor kind=delta) — written by an incompatible " +
        "version of this layer")
  }

  /** Replay one delta on top of a resolved state: removes first, adds
    * appended at the end (matching writers' `untouched ++ new` order), then
    * deletion-vector clears and adds — dvadd lines may target files this
    * same delta added (the MoR-update shape). */
  private def applyDelta(entries: Seq[FileEntry], d: DeltaEntry): Seq[FileEntry] = {
    val removed = d.removes.toSet
    val base = entries.filterNot(e => removed(e.rel)) ++ d.adds.map(FileEntry(_, Nil))
    if (d.dvClears.isEmpty && d.dvAdds.isEmpty) base
    else {
      val dvAddMap = d.dvAdds.groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).toList }
      base.map { e =>
        val kept  = if (d.dvClears(e.rel)) Nil else e.dvs
        val extra = dvAddMap.getOrElse(e.rel, Nil)
        if (extra.isEmpty && (kept eq e.dvs)) e else e.copy(dvs = kept ++ extra)
      }
    }
  }

  /** This commit's actions against `prev` — the O(change) serialization.
    * A file whose stacked dv list merely EXTENDED serializes only the new
    * `dvadd=` suffix; a rewritten dv set (sidecar compaction) clears and
    * re-adds. */
  private def deltaLines(prev: Seq[FileEntry], cur: Seq[FileEntry]): Seq[String] = {
    val prevByRel = prev.map(e => e.rel -> e).toMap
    val curRels   = cur.map(_.rel).toSet
    val removes   = prev.collect { case e if !curRels(e.rel) => s"remove=${e.rel}" }
    val perFile = cur.flatMap { e =>
      prevByRel.get(e.rel) match {
        case None =>
          s"add=${e.rel}" +: e.dvs.map(d => s"dvadd=${e.rel}|$d")
        case Some(p) if p.dvs == e.dvs => Nil
        case Some(p) if e.dvs.startsWith(p.dvs) =>
          e.dvs.drop(p.dvs.size).map(d => s"dvadd=${e.rel}|$d")
        case Some(_) =>
          s"dvclear=${e.rel}" +: e.dvs.map(d => s"dvadd=${e.rel}|$d")
      }
    }
    removes ++ perFile
  }

  /** How many delta entries sit DIRECTLY below version `v` before the
    * nearest full-manifest anchor — Some(n) when a delta on top is legal,
    * None when it isn't (no previous commit, or a chain with no anchor —
    * force a full manifest and self-heal). Counted
    * in CHAIN terms, not version numbers, so crashed-commit numbering gaps
    * can't stretch a chain past the interval. */
  private def deltaBudget(dir: String, v: Long): Option[Int] = {
    val below = log(dir).filter(_._1 < v).reverse
    var n = 0
    val it = below.iterator
    while (it.hasNext) {
      val (vv, ms) = it.next()
      parseEntry(dir, vv, ms) match {
        case _: DeltaEntry => n += 1
        case _: FullEntry  => return Some(n)
      }
    }
    None
  }

  /** Full (file, deletion-vector) entries of a committed version: a full
    * manifest reads directly; a delta resolves by walking back to the
    * nearest full-manifest anchor (≤ [[CheckpointInterval]] entries by the
    * checkpoint cadence) and replaying the chain forward. No existence
    * checks on manifest files (log truth only); [[read]] and the scan
    * paths check what they actually touch. */
  private def entriesOfVersion(dir: String, v: Long, ms: Long): Seq[FileEntry] =
    parseEntry(dir, v, ms) match {
      case FullEntry(es) => es
      case d0: DeltaEntry =>
        val below = log(dir).filter(_._1 < v).reverse
        val pending = scala.collection.mutable.ArrayBuffer[DeltaEntry](d0)
        var anchor: Option[Seq[FileEntry]] = None
        val it = below.iterator
        while (anchor.isEmpty && it.hasNext) {
          val (vv, mms) = it.next()
          parseEntry(dir, vv, mms) match {
            case FullEntry(es)  => anchor = Some(es)
            case dd: DeltaEntry => pending += dd
          }
        }
        pending.reverseIterator.foldLeft(anchor.getOrElse(sys.error(
          s"VersionedTable: delta entry $v of $dir has no full-manifest anchor — log corrupt")))(applyDelta)
    }

  /** Stage the commit entry (with optional manifest lines and optional
    * idempotent-transaction marker) and rename it into the log — the atomic
    * commit point of every version. The txn marker riding IN the commit
    * entry (not a sidecar) is what makes [[commitAppend]]'s replay check
    * transactional: the data and the "this batch landed" fact become
    * visible in one rename, so no crash window can separate them. */
  private def publishEntry(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long, rels: Option[Seq[String]], txn: Option[(String, Long)] = None,
      dataChange: Boolean = true, opLabel: String = ""): Unit =
    publishEntries(fs, dir, v, rels.map(_.map(FileEntry(_, Nil))), txn, dataChange,
      opLabel = opLabel)

  /** Like [[publishEntry]] but carrying full (file, deletion-vector)
    * entries. When `prev` (the previous version's resolved entries) is
    * given, the entry serializes as a DELTA of actions — O(change) bytes —
    * unless (a) the chain below has reached [[CheckpointInterval]] (forced
    * checkpoint), (b) there is no anchored predecessor, or (c) the delta
    * wouldn't actually be smaller (a compaction that replaced everything).
    * Resolution cost for readers stays bounded
    * at O(interval) entry reads either way. */
  private def publishEntries(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long, entries: Option[Seq[FileEntry]], txn: Option[(String, Long)] = None,
      dataChange: Boolean = true, prev: Option[Seq[FileEntry]] = None,
      opLabel: String = ""): Unit = {
    val ms       = System.currentTimeMillis()
    val entryTmp = new Path(logDir(dir), f"$v%05d-$ms%d.commit.tmp")
    val manifestBlock = entries.map { es =>
      val full = "kind=manifest\n" + es.map(e => s"file=${e.rel}\n").mkString +
        es.flatMap(e => e.dvs.map(d => s"dv=${e.rel}|$d\n")).mkString
      prev
        .filter(_ => deltaBudget(dir, v).exists(_ + 1 < CheckpointInterval))
        .map(p => "kind=delta\n" + deltaLines(p, es).map(_ + "\n").mkString)
        .filter(_.length < full.length)
        .getOrElse(full)
    }.getOrElse("")
    FsIO.writeText(entryTmp.toString,
      s"commitMs=$ms\n" +
        (if (opLabel.isEmpty) "" else s"op=$opLabel\n") +
        (if (dataChange) "" else "dataChange=false\n") +
        txn.map { case (app, tv) => s"txnApp=$app\ntxnVersion=$tv\n" }.getOrElse("") +
        manifestBlock)
    if (!fs.rename(entryTmp, commitEntry(dir, v, ms)))
      sys.error(s"VersionedTable: could not commit log entry $v in $dir")
  }

  /** Whether version `v` was committed with `dataChange=false` (a pure
    * re-layout: identical rows, different files). Only [[commitCompact]]
    * writes the flag, and it rewrites the previous version's rows verbatim
    * inside the commit lease — that invariant is what lets [[changes]]
    * skip the step wholesale. */
  private def isNoDataChange(dir: String, v: Long, ms: Long): Boolean =
    entryText(dir, v, ms)
      .exists(_.split("\n").contains("dataChange=false"))

  /** Highest `txnVersion` ever committed for `appId` (Delta's
    * `txnAppId`/`txnVersion` idempotence device). Scans commit entries
    * newest-first and stops at the first match — streaming writers commit
    * monotonically increasing txn versions, so the newest match IS the
    * maximum. O(versions) small reads in the worst case; vacuum keeps the
    * log, so the marker survives data retention. */
  def lastTxnVersion(dir: String, appId: String): Option[Long] = {
    val entries = log(dir).reverse
    entries.iterator.flatMap { case (v, ms) =>
      entryText(dir, v, ms).toSeq.flatMap { body =>
        val lines = body.split("\n")
        if (lines.contains(s"txnApp=$appId"))
          lines.find(_.startsWith("txnVersion=")).map(_.stripPrefix("txnVersion=").toLong)
        else None
      }
    }.nextOption()
  }

  /** Relative data files of a committed version's manifest. Fails loudly
    * if the version's data was vacuumed. */
  private def relsOfVersion(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long, ms: Long): Seq[String] =
    checkedEntries(fs, dir, v, ms).map(_.rel)

  /** [[entriesOfVersion]] with existence (vacuum) checks on every data AND
    * deletion-vector file — the gate every scan path goes through. */
  private def checkedEntries(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long, ms: Long): Seq[FileEntry] = {
    val entries = entriesOfVersion(dir, v, ms)
    val missing = entries.flatMap(e => e.rel +: e.dvs)
      .filterNot(rel => fs.exists(new Path(dir, rel)))
    require(missing.isEmpty,
      s"version $v of $dir was vacuumed (missing: ${missing.take(3).mkString(", ")})")
    entries
  }

  // ------------------------------------------------------ declared schema
  // ADDITIVE SCHEMA EVOLUTION ([[commitAppendEvolve]]): an evolved table's
  // manifest legitimately mixes files of different widths (old files are
  // never rewritten — O(change) evolution, where the mergeSchema overwrite
  // path pays O(table)). Plain parquet schema resolution samples ONE
  // footer, so such a manifest needs a DECLARED schema: a write-once
  // `_schema/v=<n>.json` recorded by the evolving commit. Readers resolve
  // the newest declared schema at-or-below their version (one listing) and
  // read every file through it — columns missing from an old file's footer
  // come back null, which is exactly Delta's evolution read semantics.
  private def schemaDir(dir: String) = new Path(dir, "_schema")
  private val schemaName = "^v=(\\d+)\\.json$".r

  private def writeDeclaredSchema(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long, schema: org.apache.spark.sql.types.StructType): Unit = {
    fs.mkdirs(schemaDir(dir))
    val tmp = new Path(schemaDir(dir), f"v=$v%05d.json.tmp")
    FsIO.writeText(tmp.toString, schema.json)
    if (!fs.rename(tmp, new Path(schemaDir(dir), f"v=$v%05d.json")))
      sys.error(s"VersionedTable: could not record declared schema for version $v in $dir")
  }

  // -------------------------------------------------- column mapping
  // RENAME/DROP COLUMN (Delta's column-mapping mode, at name grain): the
  // PHYSICAL column name written in parquet footers is immutable once a
  // file exists; renames change only the LOGICAL name, recorded as field
  // metadata in the declared schema ([[PhysicalNameKey]] -> the physical
  // name). Reads resolve the physical schema, scan, and alias back to
  // logical — a metadata-only commit, zero files rewritten, and time
  // travel below the rename sees the old name (the mapping is versioned
  // like data). DROP removes the field from the declared schema (old
  // files keep the physical column; reads never select it) and TOMBSTONES
  // the physical name: a later evolve re-ADDING the same logical name gets
  // a FRESH physical name, so the dropped column's old values can never
  // resurrect (Delta prevents the same with field IDs).
  val PhysicalNameKey = "graft.physical"

  private def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  private def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => physName(f) != f.name)

  private def physicalSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields.map(f => org.apache.spark.sql.types.StructField(physName(f), f.dataType, f.nullable)))

  /** Whether version `v`'s declared schema carries a logical→physical
    * column mapping (any rename since the last snapshot). Layers that read
    * data files RAW ([[VersionedStats]]) key their artifacts by PHYSICAL
    * name (immutable by construction) and resolve through
    * [[columnMappingAt]] — renames cost nothing, stats stay valid. */
  def hasColumnMapping(dir: String, v: Long): Boolean =
    declaredSchemaAt(dir, v).exists(hasMapping)

  /** Logical → physical column-name mapping of version `v`'s declared
    * schema, keyed by LOWERCASED logical name (identity — empty map — for
    * tables that never declared a schema; identity entries for
    * never-renamed columns). Physical names are immutable once a file
    * exists, which is what makes them the right stats/index key: a RENAME
    * is a pure metadata change and every physical-keyed artifact stays
    * valid, re-resolved through this mapping at read. */
  def columnMappingAt(dir: String, v: Long): Map[String, String] =
    declaredSchemaAt(dir, v).map(_.fields.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) -> physName(f)).toMap)
      .getOrElse(Map.empty)

  /** Whether any RENAME/DROP COLUMN ever landed at or below `v` — a
    * column-mapping entry in the declared schema or a tombstoned physical
    * name. Incremental consumers that resolve HISTORY by logical name (the
    * CDF stream's null-fill of later-added columns) refuse such tables: on
    * them one logical name can denote different physical columns across a
    * span. */
  def hasSchemaRetirements(dir: String, v: Long): Boolean =
    hasColumnMapping(dir, v) || tombstonesAt(dir, v).nonEmpty

  /** Whether version `v` carries DROP-COLUMN tombstones — the half of
    * [[hasSchemaRetirements]] a caller needs when it has ALREADY resolved
    * the declared schema and proven it mapping-free (the streaming batch
    * guard: re-deriving the mapping half would re-read the schema file
    * every micro-batch). */
  private[graft] def hasTombstones(dir: String, v: Long): Boolean =
    tombstonesAt(dir, v).nonEmpty

  // ------------------------------------------------------ table properties
  // Small declarative metadata riding WITH the table (Delta's TBLPROPERTIES
  // shape): one write-once-per-set file per key under `<dir>/_props/`,
  // staged `.tmp` then renamed like commit entries. Properties are table
  // metadata, not version state (like [[Constraints]]) — O(1) bytes,
  // driver-only I/O.
  private def propsDir(dir: String) = new Path(dir, "_props")
  private val propNameRe = "^[A-Za-z0-9_][A-Za-z0-9_.-]{0,63}$".r

  /** Set (or overwrite) a table property. The overwrite must never let a
    * reader see the property ABSENT or truncated — a vanished keyColumns
    * declaration breaks every change-feed consumer that resolves keys
    * from the table — so it routes through [[FsIO.replaceText]]: staged
    * tmp + one atomic rename on file/HDFS, a single atomic PUT on object
    * stores (never delete-then-rename, which this file's header rejects
    * for the log and which is just as wrong here). */
  def setProperty(dir: String, key: String, value: String): Unit = {
    require(propNameRe.findFirstIn(key).isDefined,
      s"property key `$key` must match ${propNameRe.regex}")
    val fs = propsDir(dir).getFileSystem(FsIO.hadoopConf())
    fs.mkdirs(propsDir(dir))
    FsIO.replaceText(fs.makeQualified(new Path(propsDir(dir), s"$key.prop")), value,
      fs.makeQualified(new Path(propsDir(dir), s"$key.prop.tmp")))
  }

  /** Read a table property, if set. */
  def property(dir: String, key: String): Option[String] =
    FsIO.readText(new Path(propsDir(dir), s"$key.prop").toString)

  /** Remove a table property (no-op if absent). */
  def removeProperty(dir: String, key: String): Unit = {
    val fs = propsDir(dir).getFileSystem(FsIO.hadoopConf())
    fs.delete(new Path(propsDir(dir), s"$key.prop"), false)
    ()
  }

  /** All table properties, key-sorted. */
  def properties(dir: String): Seq[(String, String)] = {
    val d  = propsDir(dir)
    val fs = d.getFileSystem(FsIO.hadoopConf())
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .filter(_.getPath.getName.endsWith(".prop"))
      .map(s => (s.getPath.getName.stripSuffix(".prop"),
        FsIO.readText(s.getPath.toString).getOrElse("")))
      .sortBy(_._1)
  }

  /** The property under which a table declares its row-identity key
    * columns (comma-separated). Recorded automatically by the first
    * key-addressed write ([[commitMerge]]/[[commitMergeConditional]]) and
    * settable explicitly ([[setKeyColumns]]); the change-data-feed stream
    * resolves it so `readChangeFeed` needs no per-query `keyColumns`
    * option (Delta's CDF needs no key declaration at read time). */
  val KeyColumnsProp = "keyColumns"

  /** Declare the table's key columns (overwrites a previous declaration). */
  def setKeyColumns(dir: String, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "setKeyColumns: need at least one key column")
    setProperty(dir, KeyColumnsProp, keyCols.mkString(","))
  }

  /** The table's declared key columns, if any. */
  def keyColumns(dir: String): Option[Seq[String]] =
    property(dir, KeyColumnsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  /** Record `keyCols` as the table's key declaration unless one exists —
    * the merge paths call this after publishing, so any merged table's CDF
    * streams without per-query options. First declaration wins (a later
    * merge on other columns is that merge's business, not a re-keying). */
  private def recordKeyColumns(dir: String, keyCols: Seq[String]): Unit =
    if (keyColumns(dir).isEmpty) setKeyColumns(dir, keyCols)

  /** Rename a LOGICAL-schema frame to PHYSICAL column names just before
    * staging — on a mapped table every data file carries the immutable
    * physical names, whatever the logical names currently are. Columns
    * without a mapping entry (evolve's new fields) stage under their own
    * name. No-op (zero plan nodes) on unmapped tables. */
  private def toPhysical(df: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    declared.filter(hasMapping) match {
      case Some(s) =>
        import org.apache.spark.sql.functions.col
        val byName = s.fields.map(f =>
          f.name.toLowerCase(java.util.Locale.ROOT) -> physName(f)).toMap
        df.select(df.columns.map(c =>
          col(s"`$c`").as(byName.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c))): _*)
      case None => df
    }

  private def tombstonePath(dir: String, v: Long) =
    new Path(schemaDir(dir), f"v=$v%05d.tombstones")
  private val tombstoneName = "^v=(\\d+)\\.tombstones$".r

  /** PHYSICAL names retired by DROP COLUMN commits at or below `v`
    * (cumulative — each drop writes the full set): the names evolve must
    * never hand to a new field. */
  private def tombstonesAt(dir: String, v: Long): Set[String] = {
    val sd = schemaDir(dir)
    val fs = sd.getFileSystem(FsIO.hadoopConf())
    if (!fs.exists(sd)) Set.empty
    else {
      val committed = log(dir).map(_._1).toSet
      fs.listStatus(sd).toSeq
        .flatMap(s => tombstoneName.findFirstMatchIn(s.getPath.getName).map(m =>
          (m.group(1).toLong, s.getPath)))
        .filter { case (sv, _) => sv <= v && committed(sv) }
        .sortBy(_._1).lastOption
        .map { case (_, p) =>
          FsIO.readText(p.toString).getOrElse("").split("\n").filter(_.nonEmpty).toSet }
        .getOrElse(Set.empty)
    }
  }

  private def writeTombstones(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long, names: Set[String]): Unit = {
    fs.mkdirs(schemaDir(dir))
    val tmp = new Path(schemaDir(dir), f"v=$v%05d.tombstones.tmp")
    FsIO.writeText(tmp.toString, names.toSeq.sorted.mkString("\n"))
    if (!fs.rename(tmp, tombstonePath(dir, v)))
      sys.error(s"VersionedTable: could not record tombstones for version $v in $dir")
  }

  /** The declared schema governing version `v` — the newest schema file at
    * a COMMITTED version ≤ v (orphans from crashed evolves are ignored),
    * or None for a never-evolved table (whose files all agree and read
    * through plain footer resolution). */
  def declaredSchemaAt(dir: String, v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val sd = schemaDir(dir)
    val fs = sd.getFileSystem(FsIO.hadoopConf())
    if (!fs.exists(sd)) None
    else {
      val committed = log(dir).map(_._1).toSet
      fs.listStatus(sd).toSeq
        .flatMap(s => schemaName.findFirstMatchIn(s.getPath.getName).map(m =>
          (m.group(1).toLong, s.getPath)))
        .filter { case (sv, _) => sv <= v && committed(sv) }
        .sortBy(_._1).lastOption
        .map { case (_, p) =>
          org.apache.spark.sql.types.DataType.fromJson(
            FsIO.readText(p.toString).getOrElse(sys.error(
              s"VersionedTable: unreadable declared schema $p")))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
        }
    }
  }

  // helper columns the masked scan materializes from the parquet reader's
  // hidden `_metadata` struct; dropped before any caller-visible result
  private val FnameCol = "__graft_dv_fname"
  private val PosCol   = "__graft_dv_pos"

  /** Past this many total deletion-vector BYTES, the mask anti-join stops
    * hinting broadcast and lets AQE plan it (a shuffled anti-join on
    * (fname, pos) — still O(deleted rows), never O(table)). Overridable
    * per session with `spark.graft.dv.maxBroadcastBytes` — the ops escape
    * hatch for executors whose memory budget can't take a 64 MB broadcast
    * next to a wide scan, and the knob the SCALING study flips to measure
    * the shuffled regime on identical data. */
  val MaxBroadcastDvBytes: Long = 64L * 1024 * 1024

  private def dvBroadcastBound(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.maxBroadcastBytes").map(_.toLong)
      .getOrElse(MaxBroadcastDvBytes)

  /** One DRIVER footer read resolving an undeclared manifest's schema —
    * replaces Spark's parallel schema-inference JOB (every `spark.read
    * .parquet` without a schema launches one); sound because the commit
    * gates keep a manifest's files schema-uniform. */
  private def footerSchema(spark: SparkSession, dir: String,
      entries: Seq[FileEntry]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.graft.FooterShim.schemaOf(
      spark, absOf(dir, entries.head.rel).toString)

  /** Deletion-vector sidecar layout: skinny (file base name, row index)
    * pairs, written by [[commitDeleteDV]]/MoR UPDATE. Fixed by construction,
    * so sidecar reads never pay schema inference. */
  private val DvSidecarSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("fname", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType)))

  private def absOf(dir: String, rel: String) = new Path(new Path(dir), rel)
  private def baseName(rel: String)           = new Path(rel).getName

  /** DV-masked scan of `entries` with [[FnameCol]]/[[PosCol]] still
    * attached (write paths key touched-file detection on them). Row
    * identity: file base name + physical row index — base names are
    * globally unique by construction (staged files carry a commit+UUID
    * prefix), and the check below makes the assumption loud rather than
    * silent. */
  private def scanEntriesMeta(spark: SparkSession, dir: String,
      entries: Seq[FileEntry],
      declared: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(entries.nonEmpty, s"VersionedTable: empty file manifest in $dir")
    val names = entries.map(e => baseName(e.rel))
    require(names.distinct.size == names.size,
      s"VersionedTable: duplicate data-file base names in $dir manifest — " +
        "deletion-vector row identity would be ambiguous")
    // mapped tables scan under PHYSICAL names (what the footers carry) and
    // alias back to logical below — identical plan for unmapped tables
    // (physicalSchema is the identity there). Tables WITHOUT a declared
    // schema read through one DRIVER footer ([[footerSchema]]) instead of
    // Spark's schema-inference JOB — a manifest's files agree by the
    // commit-time gate, so the first footer IS the schema, and the saved
    // job is pure protocol latency on every probe/feed/rewrite scan.
    val raw = spark.read
      .schema(declared.map(physicalSchema).getOrElse(footerSchema(spark, dir, entries)))
      .parquet(entries.map(e => absOf(dir, e.rel).toString): _*)
      // substring_index, not split+element_at: the basename is computed per
      // ROW of the big side; split allocates a segment array per row
      .withColumn(FnameCol, substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn(PosCol, col("_metadata.row_index"))
    val base = declared.filter(hasMapping) match {
      case Some(s) => raw.select(
        s.fields.map(f => col(s"`${physName(f)}`").as(f.name)) ++
          Seq(col(FnameCol), col(PosCol)): _*)
      case None => raw
    }
    val dvRels = entries.flatMap(_.dvs).distinct
    if (dvRels.isEmpty) base
    else {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dvBytes = dvRels.map(r => fs.getFileStatus(absOf(dir, r)).getLen).sum
      val dvRaw = spark.read.schema(DvSidecarSchema)
        .parquet(dvRels.map(r => absOf(dir, r).toString): _*)
      // sidecars are shared per-commit, so a PRUNED scan (few entries)
      // would otherwise pay for every other file's positions too — push an
      // fname IN-filter into the sidecar read (sidecars are written
      // fname-sorted, so parquet stats prune at row-group grain). Skipped
      // past the bound: a near-full scan prunes nothing and a huge In
      // bloats the plan.
      val dvPruned =
        if (names.size <= MaxDvPruneFiles)
          dvRaw.where(col("fname").isInCollection(names))
        else dvRaw
      // no distinct(): a LEFT ANTI probe is insensitive to duplicate build
      // keys, and stacked sidecars cannot repeat a (fname, pos) anyway —
      // every DV commit evaluates its cond against LIVE rows only, so a
      // masked row never re-enters a later sidecar. The distinct() spelling
      // cost a full exchange + an extra AQE stage-job on EVERY masked scan —
      // pure protocol latency (2 jobs instead of 1 to build the mask).
      val dv0 = dvPruned.select(col("fname"), col("pos"))
      val dv = if (dvBytes <= dvBroadcastBound(spark)) broadcast(dv0) else dv0
      base.join(dv,
        base(FnameCol) === dv("fname") && base(PosCol) === dv("pos"), "left_anti")
    }
  }

  /** Past this many scanned files, the sidecar fname IN-filter is skipped
    * (see [[scanEntriesMeta]]). */
  val MaxDvPruneFiles: Int = 1000

  /** Distinct values of string column `c` collected in ONE shuffle-free
    * job: per-partition dedup in a mapPartitions, final dedup on the
    * driver. Only for columns whose cardinality is bounded by the
    * MANIFEST (file names of touched files — O(files), never O(rows)).
    * The `.distinct().collect()` spelling costs a full exchange plus a
    * second AQE stage-job per call — on the rewrite commits (update /
    * delete / merge / compact scoping) that was pure protocol latency,
    * ~1 extra job on every commit. */
  private def collectDistinctStrings(df: DataFrame, c: String): Set[String] = {
    import org.apache.spark.sql.functions.col
    val enc = org.apache.spark.sql.Encoders.STRING
    df.select(col(s"`$c`")).as(enc)
      .mapPartitions(it => it.toSet.iterator)(enc)
      .collect().toSet
  }

  /** A collect_set metric out of a completed [[org.apache.spark.sql.Observation]],
    * as a string set. */
  private def observedStrings(obs: org.apache.spark.sql.Observation,
      key: String): Set[String] =
    obs.get.apply(key) match {
      case s: scala.collection.Seq[_] => s.iterator.map(_.asInstanceOf[String]).toSet
      case other => sys.error(
        s"VersionedTable: observed metric `$key` is not a collected set: $other")
    }

  /** DV-masked scan with the helper columns dropped — the caller-facing
    * row set of `entries`. DV-free entries take the plain parquet path
    * (zero plan overhead — the common case must not pay for the feature). */
  private def scanEntries(spark: SparkSession, dir: String,
      entries: Seq[FileEntry],
      declared: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    if (entries.forall(_.dvs.isEmpty)) {
      require(entries.nonEmpty, s"VersionedTable: empty file manifest in $dir")
      val raw = spark.read
        .schema(declared.map(physicalSchema).getOrElse(footerSchema(spark, dir, entries)))
        .parquet(entries.map(e => absOf(dir, e.rel).toString): _*)
      declared.filter(hasMapping) match {
        case Some(s) =>
          import org.apache.spark.sql.functions.col
          raw.select(s.fields.map(f => col(s"`${physName(f)}`").as(f.name)).toSeq: _*)
        case None => raw
      }
    } else scanEntriesMeta(spark, dir, entries, declared).drop(FnameCol, PosCol)

  /** Public (file, deletion-vectors) entries of a committed version — what
    * incremental consumers ([[graft.sources.VersionedStream]]) compare to
    * detect DV-only commits that add no files but remove rows. */
  def entriesOf(dir: String, v: Long): Seq[(String, Seq[String])] = {
    val entry = log(dir).find(_._1 == v)
      .getOrElse(sys.error(s"VersionedTable.entriesOf: version $v does not exist in $dir"))
    entriesOfVersion(dir, v, entry._2).map(e => (e.rel, e.dvs))
  }

  /** DV-masked batch scan of an explicit entry subset (as returned by
    * [[entriesOf]]) — the building block for pruned reads
    * ([[VersionedStats.readPruned]]) and streaming emission, where the
    * caller selects WHICH files to read but row-level masking must still
    * apply. */
  def readEntries(spark: SparkSession, dir: String,
      entries: Seq[(String, Seq[String])],
      declared: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    scanEntries(spark, dir,
      entries.map { case (rel, dvs) => FileEntry(rel, dvs.toList) }, declared)

  /** Write `df`'s rows into a staging dir, then move each part file into
    * `<dir>/data/` under a version-prefixed UUID name (immutable once moved;
    * a crashed attempt's moved files are unreferenced orphans that the next
    * [[vacuum]] sweeps — never resurrected, because entry publication is the
    * only commit point). Returns the new relative paths. */
  private def stageDataFiles(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      df: DataFrame, v: Long): Seq[String] =
    stageDataFilesTagged(fs, dir, df, f"c$v%05d")

  /** Like [[stageDataFiles]] but with a caller-chosen name prefix — the
    * lock-free append path stages BEFORE a version number exists (the
    * version is only assigned inside the publish lease), so its files
    * carry a UUID tag instead of a version prefix. The prefix is cosmetic
    * either way: base-name uniqueness comes from the UUID.
    *
    * The table's layout is decided HERE, once for every row-writing
    * commit: a directory marked day-partitioned ([[TimePartitioned.DaysProp]],
    * read through the process-wide marker cache — unmarked tables pay no
    * listing) stages through the (day, spread) shuffle and lands each file
    * under `data/p_day=<day>/`. */
  private def stageDataFilesTagged(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      df: DataFrame, tag: String): Seq[String] =
    TimePartitioned.dayColumnCached(dir) match {
      case Some(ts) => stageFiles(fs, dir, TimePartitioned.withDayKey(df, ts), tag,
        Some(TimePartitioned.DayKey))
      case None => stageFiles(fs, dir, df, tag, None)
    }

  /** The staging write itself, partitioned by `partitionCol` when given.
    * Deletion-vector sidecars stage here directly, flat under `data/`
    * whatever the table's row layout: a sidecar holds `(fname, pos)`, no
    * rows to lay out. */
  private def stageFiles(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      df: DataFrame, tag: String, partitionCol: Option[String]): Seq[String] = {
    val stage = new Path(dir, s".stage-${java.util.UUID.randomUUID().toString.take(12)}.__tmp")
    partitionCol match {
      case Some(c) => df.write.partitionBy(c).parquet(stage.toString)
      case None    => df.write.parquet(stage.toString)
    }
    fs.mkdirs(dataDir(dir))
    // (sub-directory under data/, staged file): a partitioned write nests
    // its files one `<col>=<value>` level down
    val staged = fs.listStatus(stage).toSeq.flatMap { s =>
      if (s.isDirectory && partitionCol.exists(c => s.getPath.getName.startsWith(c + "=")))
        fs.listStatus(s.getPath).toSeq.map(f => (Some(s.getPath.getName), f))
      else Seq((None, s))
    }.filter(_._2.getPath.getName.endsWith(".parquet"))
    val rels = staged.map { case (sub, s) =>
      val name   = s"$tag-${java.util.UUID.randomUUID().toString.take(8)}-${s.getPath.getName}"
      val target = sub.fold(dataDir(dir))(new Path(dataDir(dir), _))
      // a day directory is made right before each move into it: a
      // concurrent vacuum removes day directories it emptied
      if (sub.isDefined) fs.mkdirs(target)
      if (!fs.rename(s.getPath, new Path(target, name)))
        sys.error(s"VersionedTable: could not stage data file $name in $dir")
      sub.fold(s"data/$name")(d => s"data/$d/$name")
    }
    fs.delete(stage, true)
    rels
  }

  /** Enforce the table's CHECK constraints ([[Constraints]]) against the
    * files a commit is about to publish — and ONLY those files, never the
    * shared remainder (O(change) enforcement; shared files passed their own
    * commit's check, and [[Constraints.add]] re-proves the whole table).
    * Reads back the STAGED parquet rather than re-evaluating the incoming
    * plan, so a nondeterministic source can't pass validation with rows
    * other than the ones actually landing. A throw here precedes the
    * commit-entry rename, so the rejected batch is invisible to readers;
    * its staged files are orphans the next [[vacuum]] sweeps. */
  private def validateStaged(spark: SparkSession, dir: String,
      rels: Seq[String], op: String,
      declared: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    // the constraint list probe first: an unconstrained table (the common
    // case) must not pay a per-commit read-back plan just to validate
    // against nothing
    if (rels.nonEmpty && Constraints.list(dir).nonEmpty) {
      val raw = spark.read.parquet(rels.map(rel =>
        new Path(new Path(dir), rel).toString): _*)
      // constraints bind LOGICAL names; staged files carry physical ones —
      // alias back before evaluating on a mapped table
      val logical = declared.filter(hasMapping) match {
        case Some(s) =>
          import org.apache.spark.sql.functions.col
          val physToLog = s.fields.map(f => physName(f) -> f.name)
            .filter(p => p._1 != p._2).toMap
          raw.select(raw.columns.map(c =>
            col(s"`$c`").as(physToLog.getOrElse(c, c))): _*)
        case None => raw
      }
      Constraints.validate(spark, dir, logical, op)
    }

  /** Inside the publish lease, just before the commit-entry rename: the
    * files this commit staged lock-free must still exist. A vacuum run
    * with `graceMs` smaller than this write's stage phase could have swept
    * them as orphans — publishing a manifest referencing vanished files
    * would make the new head unreadable, so abort LOUDLY instead (the
    * batch re-runs; the table stays sound). O(staged files) exists checks,
    * never O(manifest). */
  private def requireStagedPresent(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, staged: Seq[String], op: String): Unit = {
    val missing = staged.filterNot(rel => fs.exists(absOf(dir, rel)))
    require(missing.isEmpty,
      s"$op: staged file(s) swept before publish (a concurrent vacuum's grace " +
        s"window is smaller than this write's stage phase): " +
        s"${missing.take(3).mkString(", ")} — re-run the write and size the " +
        "vacuum graceMs above the longest in-flight commit")
  }

  /** Committed (version, commitMs) pairs in version order — the log,
    * verbatim. Includes versions later vacuumed (history stays; their DATA
    * is gone — [[read]] distinguishes). */
  def log(dir: String): Seq[(Long, Long)] = {
    val ld = logDir(dir)
    val fs = ld.getFileSystem(FsIO.hadoopConf())
    // one stat answers both "does the log exist" and "is it a directory"
    val status =
      try Some(fs.getFileStatus(ld)) catch { case _: java.io.FileNotFoundException => None }
    status.fold(Seq.empty[(Long, Long)]) { st =>
      // fail LOUDLY on a foreign layout at this path (e.g. a plain file
      // named _log): silently-empty here would make vacuum classify every
      // live version as an orphan and delete committed data
      require(st.isDirectory,
        s"VersionedTable: $ld is not a log directory — $dir was not written " +
          "by this layer (or by an incompatible version of it); refusing to " +
          "treat its versions as uncommitted")
      fs.listStatus(ld).toSeq
        .flatMap(s => commitName.findFirstMatchIn(s.getPath.getName)
          .map(m => (m.group(1).toLong, m.group(2).toLong)))
        .sortBy(_._1)
    }
  }

  /** Latest committed version, or None for an empty/uninitialized table. */
  def latestVersion(dir: String): Option[Long] = log(dir).lastOption.map(_._1)

  /** Relative data files of a committed version — the public manifest
    * accessor for stats/tooling layers ([[VersionedStats]]). Fails loudly
    * on vacuumed data, like [[read]]. */
  def filesOf(dir: String, v: Long): Seq[String] = {
    val fs = new Path(dir).getFileSystem(FsIO.hadoopConf())
    val entry = log(dir).find(_._1 == v)
      .getOrElse(sys.error(s"VersionedTable.filesOf: version $v does not exist in $dir"))
    relsOfVersion(fs, dir, v, entry._2)
  }

  /** Whether version `v` changed rows (false only for [[commitCompact]]'s
    * `dataChange=false` re-layouts) — the public flag incremental
    * consumers (change feed, streaming source) branch on. */
  def dataChanged(dir: String, v: Long): Boolean = {
    val committed = log(dir)
    require(v >= 0 && committed.lastOption.exists(_._1 >= v),
      s"dataChanged: version $v does not exist in $dir " +
        s"(head: ${committed.lastOption.map(_._1).getOrElse(-1L)})")
    committed.find(_._1 == v) match {
      case Some((_, ms)) => !isNoDataChange(dir, v, ms)
      // a GAP inside the committed range is a crashed attempt's number,
      // permanently skipped (nextVersion never reuses) — it committed
      // nothing, so it changed nothing; erroring here used to wedge every
      // incremental consumer walking a span across the gap
      case None => false
    }
  }

  /** Every file under `data/`, one level of nested directories included
    * (a day table's `data/p_day=<day>/`), as (`data/...` relative path,
    * status). One listing for a flat table; one more per day directory. */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val d = dataDir(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.flatMap { s =>
      if (s.isDirectory)
        fs.listStatus(s.getPath).toSeq.map(f =>
          (s"data/${s.getPath.getName}/${f.getPath.getName}", f))
      else Seq((s"data/${s.getPath.getName}", s))
    }
  }

  /** Committed versions whose data is still present (not vacuumed),
    * ascending, with commit timestamps. Existence resolves from ONE
    * listing of `data/` (plus one per day directory; set membership per
    * manifest entry) instead of a per-file fs.exists — the per-file form
    * turned DESCRIBE HISTORY on a deep log over a wide manifest into
    * O(versions × files) serial driver RPCs. Absolute entries (clones,
    * CONVERT adoptions — outside data/) still check individually; they
    * are rare and small in count. */
  def versions(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    lazy val dataRels: Set[String] = listDataFiles(fs, dir).map(_._1).toSet
    def present(rel: String): Boolean =
      if (rel.startsWith("data/")) dataRels(rel)
      else fs.exists(new Path(dir, rel))
    log(dir).filter { case (v, ms) =>
      entriesOfVersion(dir, v, ms).flatMap(e => e.rel +: e.dvs).forall(present)
    }
  }

  private def listSchemaVersions(fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[Long] = {
    val sd = schemaDir(dir)
    if (!fs.exists(sd)) Seq.empty
    else fs.listStatus(sd).toSeq
      .flatMap { s =>
        val n = s.getPath.getName
        // tombstone files reserve version numbers too: a crashed DROP's
        // orphan tombstone must never have its number reused (a later
        // commit there would make the orphan read as committed)
        schemaName.findFirstMatchIn(n).map(_.group(1).toLong)
          .orElse(tombstoneName.findFirstMatchIn(n).map(_.group(1).toLong))
      }
  }

  /** One past anything ever attempted that could masquerade as committed —
    * committed versions AND declared-schema files (a crashed evolve must
    * never have its orphan schema resurrected by a later commit reusing
    * the number). A crashed commit's staged data files need no reservation:
    * no manifest ever references them. */
  private def nextVersion(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      committed: Seq[(Long, Long)]): Long =
    ((committed.map(_._1).foldLeft(-1L)(math.max) +: listSchemaVersions(fs, dir)).max: Long) + 1

  /** Commit `df` as the whole content of the next version (overwrite).
    * Returns the new version number. Serialized by the write lease, held
    * across the staging write and heartbeat-renewed (a 100 TB day-table
    * overwrite runs hours and must never look crashed to a rival; the
    * publish aborts if the lease was lost anyway). The new files stage
    * through the table's layout ([[stageDataFiles]] — day directories on
    * a day-partitioned table) and publish as a full manifest, so every
    * crash window before the entry rename leaves the previously committed
    * history fully visible (the staged files are orphans [[vacuum]]
    * sweeps) — never a torn table. Earlier versions keep their files for
    * readers pinned to them until vacuum retires them. */
  def commit(spark: SparkSession, df: DataFrame, dir: String): Long =
    FsIO.withWriteLockHeartbeat(dir, "VersionedTable.commit", TableManager.DefaultLockLeaseMs) { hb =>
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = log(dir)
      val next = nextVersion(fs, dir, committed)
      val staged = stageDataFiles(fs, dir, df, next)
      validateStaged(spark, dir, staged, "VersionedTable.commit")
      // SCHEMA RESET: on a previously EVOLVED table, the overwrite's own
      // schema becomes the declared truth at this version — without it
      // declaredSchemaAt keeps resolving the pre-overwrite evolved schema
      // forever: later appends would gate against a stale schema and reads
      // of incremental versions on top of the overwrite would silently
      // null/drop its columns. Never-evolved tables skip this (no _schema
      // dir, no cost).
      if (committed.lastOption.exists { case (pv, _) => declaredSchemaAt(dir, pv).isDefined })
        writeDeclaredSchema(fs, dir, next, df.schema)
      // the commit point: a write-once entry staged then renamed into the
      // log dir (readers never observe a partially named commit entry)
      hb.verifyOwned("publishing the overwrite")
      publishEntry(fs, dir, next, Some(staged), opLabel = "WRITE")
      next
    }

  /** Metadata-only DELETE of whole files: one commit whose manifest is the
    * head's minus every entry whose relative path satisfies `drop` —
    * Delta's partition-predicate delete (the day-retention drop of
    * [[TimePartitioned.dropDaysBefore]]). Reads no data; the dropped
    * files stay for readers of earlier versions until [[vacuum]] reclaims
    * them. Returns the dropped relative paths — empty, with no commit, when
    * nothing matches or the table has no version. */
  private[tables] def commitDropFiles(spark: SparkSession, dir: String)(
      drop: String => Boolean): Seq[String] =
    FsIO.withWriteLock(dir, "VersionedTable.commitDropFiles", TableManager.DefaultLockLeaseMs) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = log(dir)
      committed.lastOption.toSeq.flatMap { case (pv, pms) =>
        val entries = entriesOfVersion(dir, pv, pms)
        val (gone, kept) = entries.partition(e => drop(e.rel))
        if (gone.nonEmpty)
          publishEntries(fs, dir, nextVersion(fs, dir, committed), Some(kept),
            prev = Some(entries), opLabel = "DELETE")
        gone.map(_.rel)
      }
    }

  /** Order-insensitive, nullability-insensitive (name, type) schema
    * equality — the append/rewrite gate. A manifest mixing files of
    * different schemas reads NON-DETERMINISTICALLY (plain parquet schema
    * resolution samples one footer), so an incompatible commit must fail
    * at write time, not corrupt reads later. Schema EVOLUTION is a
    * deliberate separate path (TableManager.overwriteTableMergeSchema);
    * silent drift is not evolution. */
  private def normType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name.toLowerCase(java.util.Locale.ROOT), normType(f.dataType))))
      case a: ArrayType  => ArrayType(normType(a.elementType), containsNull = true)
      case m: MapType    => MapType(normType(m.keyType), normType(m.valueType), valueContainsNull = true)
      case other         => other
    }
  }

  private def requireCompatibleSchema(op: String,
      existing: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType): Unit = {
    def keyed(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name.toLowerCase(java.util.Locale.ROOT), normType(f.dataType)))
        .sortBy(_._1).toSeq
    require(keyed(existing) == keyed(incoming),
      s"$op: schema mismatch — table has ${existing.simpleString}, " +
        s"incoming is ${incoming.simpleString}; a mixed-schema manifest reads " +
        "non-deterministically. Cast to the table schema, or evolve explicitly " +
        "through commitAppendEvolve (additive columns) or the mergeSchema " +
        "overwrite path.")
  }

  /** The evolution gate: every EXISTING column must appear in `incoming`
    * with the same normalized type; `incoming` may only ADD columns.
    * Returns the evolved table schema — existing fields keep their
    * declared order and types, new fields append (nullable: old files
    * don't carry them, so reads must be allowed to fill null). */
  private def requireAdditive(op: String,
      existing: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val inc = incoming.fields.map(f => key(f.name) -> normType(f.dataType)).toMap
    val missing = existing.fields.filterNot(f => inc.contains(key(f.name)))
    require(missing.isEmpty,
      s"$op: schema evolution may only ADD columns; incoming schema is missing " +
        s"existing column(s) ${missing.map(_.name).mkString(", ")}")
    val changed = existing.fields.filter(f =>
      inc.get(key(f.name)).exists(_ != normType(f.dataType)))
    require(changed.isEmpty,
      s"$op: column type changes are not additive evolution: " +
        changed.map(f => s"${f.name} (table ${f.dataType.catalogString})").mkString(", "))
    val existingKeys = existing.fields.map(f => key(f.name)).toSet
    org.apache.spark.sql.types.StructType(
      existing.fields ++
        incoming.fields.filterNot(f => existingKeys(key(f.name))).map(_.copy(nullable = true)))
  }

  /** Commit `df` as the next version by APPENDING: the new version's
    * manifest = the previous version's files (shared in place, never
    * copied) + files holding only `df`'s rows. O(appended-rows) write cost
    * regardless of table size.
    *
    * The O(data) work — writing the new rows' parquet and proving CHECK
    * constraints over them — runs OUTSIDE the write lease (Delta's
    * concurrent-blind-append discipline: staged files are invisible until
    * a manifest references them, and a crash before publish leaves only
    * orphans the next [[vacuum]] sweeps). The lease guards ONLY the
    * O(metadata) tail: version assignment, the one-footer schema gate, and
    * the commit-entry rename. Two streams appending to the same table
    * therefore overlap their entire write phase and serialize for
    * milliseconds, instead of one blocking for the other's whole upload —
    * the difference between one and N concurrent writers on a 100 TB
    * table. (Rewrites — update/delete/merge/compact — still hold the
    * lease across their read-compute-rewrite span: they depend on the
    * version they read, and that dependency is what the lease serializes.)
    *
    * `txn = Some((appId, txnVersion))` makes the append IDEMPOTENT per
    * (appId, txnVersion): if a commit for `appId` with an equal-or-higher
    * txn version already landed, the append is skipped and the current
    * latest version returned. The authoritative check runs inside the
    * write lease and the marker rides in the commit entry itself, so a
    * foreachBatch replay after a crash (batch ran, checkpoint didn't
    * commit) cannot double the rows — the exactly-once contract streaming
    * writers rely on. */
  def commitAppend(spark: SparkSession, df: DataFrame, dir: String,
      txn: Option[(String, Long)] = None): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // replay short-circuit before any staging work — an optimization only;
    // the check inside the lease is the one that holds under races
    val preReplayed = txn.flatMap { case (app, tv) =>
      lastTxnVersion(dir, app).filter(_ >= tv) }
    if (preReplayed.isDefined) latestVersion(dir).getOrElse(
      sys.error(s"VersionedTable.commitAppend: txn marker without a committed version in $dir"))
    else {
      // pre-flight schema gate (one footer read, lock-free): refuse drift
      // BEFORE paying the O(data) stage; the in-lease gate below stays
      // authoritative under concurrent schema evolution
      val preHead = log(dir).lastOption
      val preDeclared = preHead.flatMap { case (pv, _) => declaredSchemaAt(dir, pv) }
      preHead.foreach { case (pv, pms) =>
        // an evolved table's truth is its DECLARED schema (old files are
        // legitimately narrower); un-evolved tables gate on one footer
        val existing = preDeclared.orElse(
          // entriesOfVersion, NOT checkedEntries: the head is always
          // vacuum-retained, and the footer read itself fails loudly on a
          // missing file — the per-file existence sweep would put O(table)
          // serial RPCs on the append path for nothing
          entriesOfVersion(dir, pv, pms).headOption.map(e =>
            org.apache.spark.sql.graft.FooterShim.schemaOf(spark, absOf(dir, e.rel).toString)))
        existing.foreach(requireCompatibleSchema("commitAppend", _, df.schema))
      }
      // O(data), lock-free: stage under a UUID tag (no version exists yet)
      // and prove constraints against the staged bytes; mapped tables stage
      // under PHYSICAL names (renames never rewrite data, so the mapping
      // read pre-lease cannot go stale — physical names are immutable)
      val newRels = stageDataFilesTagged(fs, dir, toPhysical(df, preDeclared),
        s"a${java.util.UUID.randomUUID().toString.take(8)}")
      val provenAgainst = Constraints.list(dir)
      validateStaged(spark, dir, newRels, "VersionedTable.commitAppend", preDeclared)
      // the publish tail holds the lease for milliseconds, so a LIVE rival
      // ahead of us resolves by waiting, not erroring (bounded by the lease)
      FsIO.withWriteLockRetry(dir, "VersionedTable.commitAppend", TableManager.DefaultLockLeaseMs,
        maxWaitMs = TableManager.DefaultLockLeaseMs) {
        val replayed = txn.flatMap { case (app, tv) =>
          lastTxnVersion(dir, app).filter(_ >= tv) }
        if (replayed.isDefined) {
          // a rival replay of the same batch won the race while we staged:
          // drop our duplicate staging rather than leaving vacuum litter
          newRels.foreach(rel => fs.delete(absOf(dir, rel), false))
          latestVersion(dir).getOrElse(sys.error(
            s"VersionedTable.commitAppend: txn marker without a committed version in $dir"))
        } else {
          val committed = VersionedTable.log(dir)
          val next = nextVersion(fs, dir, committed)
          // entriesOfVersion, NOT checkedEntries: vacuum holds this same
          // lock and always retains the head, so inside the lease the
          // manifest's files cannot have been swept — the per-file
          // existence sweep would hold the lease for O(table files)
          // serial RPCs (minutes on a 1M-file table), starving every
          // rival appender of the milliseconds publish tail they wait on
          val prevEntries = committed.lastOption
            .map { case (v, ms) => entriesOfVersion(dir, v, ms) }
            .getOrElse(Seq.empty)
          // one footer read each side, gating the STAGED bytes — but only
          // when the head MOVED since the pre-flight gate: uncontended
          // appends (the common case) already proved this schema pair and
          // must not pay two more footer plans per commit
          if (committed.lastOption.map(_._1) != preHead.map(_._1))
            (prevEntries.headOption, newRels.headOption) match {
              case (Some(p), Some(n)) =>
                // both sides in PHYSICAL terms: the staged footer carries
                // physical names, and renames between stage and publish
                // never change them
                requireCompatibleSchema("commitAppend",
                  committed.lastOption.flatMap(h => declaredSchemaAt(dir, h._1))
                    .map(physicalSchema)
                    .getOrElse(org.apache.spark.sql.graft.FooterShim.schemaOf(spark, absOf(dir, p.rel).toString)),
                  org.apache.spark.sql.graft.FooterShim.schemaOf(spark, absOf(dir, n).toString))
              case _ => ()
            }
          // a CHECK constraint added after the lock-free validation must
          // still gate this batch: re-prove under the lease (rare path)
          if (Constraints.list(dir) != provenAgainst)
            validateStaged(spark, dir, newRels, "VersionedTable.commitAppend", preDeclared)
          requireStagedPresent(fs, dir, newRels, "VersionedTable.commitAppend")
          publishEntries(fs, dir, next,
            Some(prevEntries ++ newRels.map(FileEntry(_, Nil))), txn,
            prev = Some(prevEntries), opLabel = "APPEND")
          next
        }
      }
    }
  }

  /** APPEND with ADDITIVE SCHEMA EVOLUTION (Delta's
    * `mergeSchema`-on-append): `df` may carry NEW columns on top of the
    * table's schema — existing columns must match exactly; type changes
    * and drops are refused. O(change): only the new rows' files are
    * written, old files are never rewritten — where the overwrite
    * evolution path pays O(table). The evolving commit records the widened
    * schema as a write-once `_schema/v=<n>.json`; every read of that
    * version onward resolves it (one listing) and reads old files through
    * it, filling the missing columns with null. Time travel BELOW the
    * evolving commit still reads the narrow schema — evolution is
    * versioned like data. Same lock-free staging + bounded-retry publish
    * as [[commitAppend]]; a concurrent evolve is re-gated under the lease
    * against the head's schema. */
  def commitAppendEvolve(spark: SparkSession, df: DataFrame, dir: String,
      txn: Option[(String, Long)] = None): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preReplayed = txn.flatMap { case (app, tv) =>
      lastTxnVersion(dir, app).filter(_ >= tv) }
    if (preReplayed.isDefined) latestVersion(dir).getOrElse(
      sys.error(s"commitAppendEvolve: txn marker without a committed version in $dir"))
    else {
      def tableSchemaAt(v: Long, ms: Long): Option[org.apache.spark.sql.types.StructType] =
        declaredSchemaAt(dir, v).orElse(
          // one footer read; no O(table) existence sweep (see commitAppend)
          entriesOfVersion(dir, v, ms).headOption.map(e =>
            org.apache.spark.sql.graft.FooterShim.schemaOf(spark, absOf(dir, e.rel).toString)))
      // pre-flight additive gate, lock-free (authoritative re-gate under
      // the lease below)
      val preHead = log(dir).lastOption
      val preExisting = preHead.flatMap { case (pv, pms) => tableSchemaAt(pv, pms) }
      preExisting.foreach(requireAdditive("commitAppendEvolve", _, df.schema))
      val preDeclared = preHead.flatMap { case (pv, _) => declaredSchemaAt(dir, pv) }
      // COLUMN-MAPPING RESURRECTION GUARD: a new field whose name collides
      // with a TOMBSTONED physical name (a dropped column) — or with any
      // live physical name under a different logical name (a renamed-away
      // column) — must get a FRESH physical name, or the old files' stale
      // values would read back as the new column's data. The fresh names
      // are fixed HERE (pre-stage: they ride in the staged footers) and
      // recorded in the declared schema's mapping at publish.
      val preTomb = preHead.map { case (pv, _) => tombstonesAt(dir, pv) }.getOrElse(Set.empty)
      val usedPhys: Set[String] =
        preExisting.toSeq.flatMap(_.fields.map(f => physName(f).toLowerCase(java.util.Locale.ROOT))).toSet ++
          preTomb.map(_.toLowerCase(java.util.Locale.ROOT))
      def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      val existingNames = preExisting.toSeq.flatMap(_.fieldNames.map(lc)).toSet
      val physAssign: Map[String, String] = df.schema.fieldNames
        .filterNot(n => existingNames(lc(n)))
        .filter(n => usedPhys(lc(n)))
        .map(n => lc(n) -> s"${n}__p${java.util.UUID.randomUUID().toString.take(8)}")
        .toMap
      // stage under physical names: mapped existing columns through the
      // declared mapping, resurrection-guarded new columns through the
      // fresh assignments, everything else as-is
      val declMap = preDeclared.toSeq.flatMap(_.fields.map(f => lc(f.name) -> physName(f))).toMap
      // lc(logical) -> the physical name each column STAGES under — also the
      // in-lease re-gate's ground truth for what the staged footers carry
      val stagedPhysOf: Map[String, String] = df.schema.fieldNames.map(n =>
        lc(n) -> declMap.getOrElse(lc(n), physAssign.getOrElse(lc(n), n))).toMap
      val stagedDf = {
        import org.apache.spark.sql.functions.col
        if (declMap.forall(p => p._1 == lc(p._2)) && physAssign.isEmpty) df
        else df.select(df.columns.map(c =>
          col(s"`$c`").as(stagedPhysOf.getOrElse(lc(c), c))): _*)
      }
      val newRels = stageDataFilesTagged(fs, dir, stagedDf,
        s"a${java.util.UUID.randomUUID().toString.take(8)}")
      val provenAgainst = Constraints.list(dir)
      validateStaged(spark, dir, newRels, "commitAppendEvolve", preDeclared)
      FsIO.withWriteLockRetry(dir, "commitAppendEvolve", TableManager.DefaultLockLeaseMs,
        maxWaitMs = TableManager.DefaultLockLeaseMs) {
        val replayed = txn.flatMap { case (app, tv) =>
          lastTxnVersion(dir, app).filter(_ >= tv) }
        if (replayed.isDefined) {
          newRels.foreach(rel => fs.delete(absOf(dir, rel), false))
          latestVersion(dir).getOrElse(sys.error(
            s"commitAppendEvolve: txn marker without a committed version in $dir"))
        } else {
          val committed = VersionedTable.log(dir)
          val next = nextVersion(fs, dir, committed)
          // entriesOfVersion: same reasoning as commitAppend — the head is
          // lease-protected and vacuum-retained; no O(table) exists sweep
          val prevEntries = committed.lastOption
            .map { case (v, ms) => entriesOfVersion(dir, v, ms) }
            .getOrElse(Seq.empty)
          val headExisting = committed.lastOption.flatMap { case (pv, pms) =>
            tableSchemaAt(pv, pms) }
          val evolvedBase = headExisting match {
            case Some(existing) => requireAdditive("commitAppendEvolve", existing, df.schema)
            case None           => df.schema
          }
          // re-check the resurrection guard against the HEAD (a concurrent
          // drop/rename may have landed since the pre-flight): any colliding
          // new field must already carry a fresh physical assignment — the
          // staged footers are written, so a new collision cannot be fixed
          // here and must fail loudly (re-run re-stages with fresh names)
          val headTomb = committed.lastOption
            .map { case (pv, _) => tombstonesAt(dir, pv) }.getOrElse(Set.empty)
          val headUsed: Set[String] =
            headExisting.toSeq.flatMap(_.fields.map(f => lc(physName(f)))).toSet ++
              headTomb.map(lc)
          val headNames = headExisting.toSeq.flatMap(_.fieldNames.map(lc)).toSet
          val lateCollisions = df.schema.fieldNames
            .filterNot(n => headNames(lc(n)))
            .filter(n => headUsed(lc(n)) && !physAssign.contains(lc(n)))
          require(lateCollisions.isEmpty,
            s"commitAppendEvolve: a concurrent DROP/RENAME retired the name(s) " +
              s"${lateCollisions.mkString(", ")} while this evolve staged — " +
              "re-run the evolve (it will assign fresh physical names)")
          // STAGED-PHYSICAL re-gate: every df column that exists at HEAD must
          // have been staged under the HEAD's physical name for that logical
          // field. The name-collision gate above can't catch a concurrent
          // DROP X + rival evolve RE-ADDING X with a fresh physical name: X
          // is in headNames again, but our staged footers carry X under the
          // OLD physical name while the head mapping points at the fresh one
          // — publishing would make this batch's X values read back NULL.
          val physDrift = headExisting.toSeq.flatMap(_.fields).filter(hf =>
            stagedPhysOf.get(lc(hf.name)).exists(p => lc(p) != lc(physName(hf))))
          if (physDrift.nonEmpty) {
            newRels.foreach(rel => fs.delete(absOf(dir, rel), false))
            sys.error("commitAppendEvolve: a concurrent schema change remapped " +
              s"column(s) ${physDrift.map(f => s"${f.name} (staged as " +
                s"${stagedPhysOf(lc(f.name))}, head expects ${physName(f)})").mkString(", ")} " +
              "while this evolve staged — re-run the evolve (it will re-stage " +
              "under the current mapping)")
          }
          // record the fresh physical names in the evolved schema's mapping
          val evolved = org.apache.spark.sql.types.StructType(evolvedBase.fields.map { f =>
            physAssign.get(lc(f.name)) match {
              case Some(p) => f.copy(metadata =
                new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata).putString(PhysicalNameKey, p).build())
              case None => f
            }
          })
          if (Constraints.list(dir) != provenAgainst)
            validateStaged(spark, dir, newRels, "commitAppendEvolve", preDeclared)
          requireStagedPresent(fs, dir, newRels, "commitAppendEvolve")
          // schema BEFORE entry: a crash between leaves an orphan schema
          // file that declaredSchemaAt ignores (version never committed)
          // and nextVersion never reuses; the reverse order would commit
          // an evolved version whose mixed-width manifest reads
          // non-deterministically
          writeDeclaredSchema(fs, dir, next, evolved)
          publishEntries(fs, dir, next,
            Some(prevEntries ++ newRels.map(FileEntry(_, Nil))), txn,
            prev = Some(prevEntries), opLabel = "APPEND EVOLVE")
          next
        }
      }
    }
  }

  /** A concurrent commit modified files this rewrite read — the rebase in
    * [[publishRebased]] would be unsound. The OCC loop ([[withOccRetries]])
    * re-reads the new head and re-stages; past the retry budget it
    * surfaces to the caller. */
  private final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** OCC retry budget for lock-free rewrites (update/delete/merge/MoR). */
  val MaxOccRetries: Int = 3

  private def withOccRetries(op: String)(attempt: () => Long): Long = {
    var tries = 0
    while (true) {
      try return attempt()
      catch {
        case e: CommitConflict =>
          tries += 1
          if (tries >= MaxOccRetries) throw e
          System.err.println(s"[graft] $op: ${e.getMessage} — retrying ($tries/$MaxOccRetries)")
      }
    }
    sys.error("unreachable")
  }

  /** Publish a rewrite's `result` manifest — computed lock-free against
    * `readV`'s `readEntries` — onto the CURRENT log head, inside the
    * publish lease (Delta's WriteSerializable optimistic-concurrency
    * check):
    *
    *  - head == readV: plain publish.
    *  - head advanced by BLIND APPENDS only (every file we read is still
    *    present at head, byte- and mask-identical): REBASE — the appended
    *    files carry into our manifest untouched. Their rows were never
    *    seen by our predicate, which WriteSerializable permits.
    *  - anything else (a file we read was rewritten, removed, or
    *    re-masked): [[CommitConflict]] — the result was computed against
    *    rows that no longer exist; the OCC loop re-reads and re-stages.
    *
    * `staged` are this attempt's staged files, deleted on replay/conflict
    * so a retry loop doesn't accumulate vacuum litter. `provenAgainst` is
    * the constraint set the lock-free validation proved; if it changed,
    * the `validateRels` DATA files (never DV sidecars — constraints bind
    * rows, not position lists) are re-proven under the lease. */
  private def publishRebased(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, op: String,
      readV: Long, readEntries: Seq[FileEntry], result: Seq[FileEntry],
      staged: Seq[String], provenAgainst: Seq[(String, String)],
      txn: Option[(String, Long)],
      dataChange: Boolean = true, validateRels: Seq[String] = Seq.empty,
      validateDeclared: Option[org.apache.spark.sql.types.StructType] = None,
      /** Declared schema to publish WITH this commit (merge-folded
        * evolution): written before the entry, inside the same lease —
        * a crash between leaves an ignorable orphan, never a committed
        * version missing its schema. */
      declareSchema: Option[org.apache.spark.sql.types.StructType] = None,
      opLabel: String = ""): Long =
    FsIO.withWriteLockRetry(dir, op, TableManager.DefaultLockLeaseMs,
        maxWaitMs = TableManager.DefaultLockLeaseMs) {
      val replayed = txn.flatMap { case (app, tv) =>
        lastTxnVersion(dir, app).filter(_ >= tv) }
      if (replayed.isDefined) {
        staged.foreach(rel => fs.delete(absOf(dir, rel), false))
        latestVersion(dir).getOrElse(
          sys.error(s"$op: txn marker without a committed version in $dir"))
      } else {
        val committed = VersionedTable.log(dir)
        val next = nextVersion(fs, dir, committed)
        val (hv, hms) = committed.last
        def keyOf(e: FileEntry) = (e.rel, e.dvs)
        val (manifest, prevEntries) =
          if (hv == readV) (result, readEntries)
          else {
            val head     = checkedEntries(fs, dir, hv, hms)
            val headKeys = head.map(keyOf).toSet
            val gone     = readEntries.filterNot(e => headKeys(keyOf(e)))
            if (gone.nonEmpty) {
              staged.foreach(rel => fs.delete(absOf(dir, rel), false))
              throw new CommitConflict(s"concurrent commit v$hv modified " +
                s"${gone.size} file(s) this rewrite read at v$readV " +
                s"(e.g. ${gone.head.rel})")
            }
            val readKeys = readEntries.map(keyOf).toSet
            (result ++ head.filterNot(e => readKeys(keyOf(e))), head)
          }
        // a schema-publishing rewrite folded its evolution against readV's
        // schema — if a concurrent commit changed the declared schema or
        // the tombstone set since, the fold is stale; retry re-folds
        // against the new head (the OCC loop re-runs the whole attempt)
        if (declareSchema.isDefined && hv != readV &&
            (declaredSchemaAt(dir, hv) != declaredSchemaAt(dir, readV) ||
              tombstonesAt(dir, hv) != tombstonesAt(dir, readV))) {
          staged.foreach(rel => fs.delete(absOf(dir, rel), false))
          throw new CommitConflict(s"concurrent commit v$hv changed the " +
            s"declared schema this evolving rewrite folded against at v$readV")
        }
        if (Constraints.list(dir) != provenAgainst)
          validateStaged(spark, dir, validateRels, op, validateDeclared)
        requireStagedPresent(fs, dir, staged, op)
        declareSchema.foreach(s => writeDeclaredSchema(fs, dir, next, s))
        publishEntries(fs, dir, next, Some(manifest), txn,
          dataChange = dataChange, prev = Some(prevEntries), opLabel = opLabel)
        next
      }
    }

  /** File-level copy-on-write core for update/delete: files with no row
    * matching `cond` carry over into the new manifest untouched (shared);
    * only files that actually contain matching rows are rewritten through
    * `rewrite`. One pruning pass + one rewrite of the touched files —
    * O(touched), not O(table).
    *
    * The O(data) span — the cond scan, the rewrite, the constraint proof —
    * runs OUTSIDE the write lease against a pinned version; the publish
    * tail rebases over concurrent blind appends and retries from scratch
    * (bounded) if a rival rewrite raced ours ([[publishRebased]]). */
  private def copyOnWrite(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column, rewrite: DataFrame => DataFrame,
      op: String,
      txn: Option[(String, Long)] = None,
      opLabel: String = ""): Long = withOccRetries(op) { () =>
    import org.apache.spark.sql.functions.col
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preReplayed = txn.flatMap { case (app, tv) =>
      lastTxnVersion(dir, app).filter(_ >= tv) }
    if (preReplayed.isDefined) latestVersion(dir).getOrElse(
      sys.error(s"$op: txn marker without a committed version in $dir"))
    else {
      val committed = VersionedTable.log(dir)
      require(committed.nonEmpty, s"$op: $dir has no committed version")
      val (pv, pms) = committed.last
      val entries  = checkedEntries(fs, dir, pv, pms)
      val declared = declaredSchemaAt(dir, pv)
      // which FILES contain a LIVE matching row — the DV-masked scan, so
      // a row already deleted by a deletion vector can't drag its file
      // into the rewrite; parquet stats still prune the cond scan, and
      // only (file-name) strings come back to the driver (O(files))
      val touchedNames = collectDistinctStrings(
        scanEntriesMeta(spark, dir, entries, declared).where(cond), FnameCol)
      val (touched, untouched) = entries.partition(e => touchedNames(baseName(e.rel)))
      val stageTag = s"a${java.util.UUID.randomUUID().toString.take(8)}"
      val newRels =
        if (touched.isEmpty) Seq.empty
        else {
          // masked read: the rewrite sees only live rows, and the
          // rewritten files shed their deletion vectors (materialized)
          val touchedDf = scanEntries(spark, dir, touched, declared)
          val rewritten = rewrite(touchedDf)
          // an UPDATE expression that silently changes a column's TYPE
          // would split the manifest's schema between rewritten and
          // shared files — same hazard as a foreign append
          requireCompatibleSchema(op, touchedDf.schema, rewritten.schema)
          val physDf = toPhysical(rewritten, declared)
          val staged = stageDataFilesTagged(fs, dir, physDf, stageTag)
          // a rewrite that emptied every touched file can write zero part
          // files; a single-partition re-stage guarantees one schema-bearing
          // file so the version never publishes an empty manifest
          if (staged.nonEmpty || untouched.nonEmpty) staged
          else stageDataFilesTagged(fs, dir, physDf.coalesce(1), stageTag)
        }
      val provenAgainst = Constraints.list(dir)
      validateStaged(spark, dir, newRels, op, declared)
      publishRebased(spark, fs, dir, op, pv, entries,
        untouched ++ newRels.map(FileEntry(_, Nil)),
        staged = newRels, provenAgainst = provenAgainst,
        txn = txn, validateRels = newRels,
        validateDeclared = declared, opLabel = opLabel)
    }
  }

  /** Commit a row-level UPDATE as the next version: for rows matching
    * `cond`, each (column -> expression) in `set` applies; all other rows
    * and all untouched FILES are shared with the previous version. */
  def commitUpdate(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      txn: Option[(String, Long)] = None): Long = {
    require(set.nonEmpty, "commitUpdate: empty SET clause")
    // ONE withColumns, not a fold of withColumn: SQL UPDATE evaluates every
    // SET expression (and the WHERE) against the OLD row, so no assignment
    // may observe another's result — a fold would let a later column's
    // `when(cond, …)` re-evaluate `cond` against an already-mutated column
    // (silently skipping the update when the first assignment falsifies it)
    copyOnWrite(spark, dir, cond,
      df => {
        set.keys.foreach(c =>
          require(df.columns.contains(c), s"commitUpdate: no column `$c` to set"))
        df.withColumns(set.map { case (c, e) =>
          c -> org.apache.spark.sql.functions.when(cond, e)
            .otherwise(org.apache.spark.sql.functions.col(s"`$c`"))
        })
      },
      "VersionedTable.commitUpdate", txn, opLabel = "UPDATE")
  }

  /** Commit a row-level DELETE as the next version: rows matching `cond`
    * disappear; files with no matching row are shared, not rewritten. */
  def commitDelete(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      txn: Option[(String, Long)] = None): Long =
    copyOnWrite(spark, dir, cond, _.where(!cond), "VersionedTable.commitDelete",
      txn, opLabel = "DELETE")

  /** DELETE via DELETION VECTORS (Delta's merge-on-read delete): instead of
    * rewriting every file that holds a matching row (copy-on-write — write
    * amplification ∝ touched FILE bytes), commit one skinny `(fname, pos)`
    * sidecar listing the deleted rows' physical positions and attach it to
    * the touched files' manifest entries. Write cost is **O(deleted rows)**
    * no matter how the matches scatter: a 0.1% delete spread across every
    * file of a 100 TB table — the case that makes copy-on-write rewrite
    * nearly the whole corpus — commits in seconds. Readers anti-join the
    * masked files' rows against the vectors on (file base name, physical
    * row index), broadcast while the vectors are small; [[commitCompact]]
    * materializes the masks away (merge-on-read's compaction discipline),
    * and any copy-on-write rewrite of a masked file does the same for that
    * file. Positions are physical (the parquet reader's `row_index`), so
    * stacked DV deletes compose by union without rebasing.
    *
    * `cond` is evaluated against LIVE rows only — re-deleting an already
    * masked row is a no-op by construction. A delete matching nothing still
    * commits a (data-identical) version, like its CoW sibling. `txn` gives
    * [[commitAppend]]'s replay idempotence. */
  def commitDeleteDV(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      txn: Option[(String, Long)] = None): Long =
    withOccRetries("VersionedTable.commitDeleteDV") { () =>
      import org.apache.spark.sql.functions.col
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val preReplayed = txn.flatMap { case (app, tv) =>
        lastTxnVersion(dir, app).filter(_ >= tv) }
      if (preReplayed.isDefined) latestVersion(dir).getOrElse(
        sys.error(s"commitDeleteDV: txn marker without a committed version in $dir"))
      else {
        // O(data) span lock-free against a pinned version: the cond scan
        // and sidecar write overlap other writers; publish rebases over
        // blind appends (their rows were never seen by cond, which
        // WriteSerializable permits) and conflicts loudly on anything else
        val committed = VersionedTable.log(dir)
        require(committed.nonEmpty, s"commitDeleteDV: $dir has no committed version")
        val (pv, pms) = committed.last
        val entries = checkedEntries(fs, dir, pv, pms)
        val hits = scanEntriesMeta(spark, dir, entries,
          declaredSchemaAt(dir, pv)).where(cond)
          .select(col(FnameCol).as("fname"), col(PosCol).as("pos"))
        // one skinny sidecar per commit (shared by every touched file's
        // entry), fname-sorted so masked scans' pushed IN-filters prune it
        // at row-group grain; a production port would shard past ~10^8
        // positions. The touched-file set rides the SAME write job as an
        // observed collect_set — the old read-back-the-staged-parquet job
        // was one whole extra job per DV commit, and the observed metric
        // still describes exactly the rows that landed (the write is the
        // single materialization of a possibly nondeterministic cond scan).
        val obs = org.apache.spark.sql.Observation()
        val staged = stageFiles(fs, dir,
          hits.observe(obs, org.apache.spark.sql.functions.collect_set(
              org.apache.spark.sql.functions.col("fname")).as("touched"))
            .coalesce(1).sortWithinPartitions("fname", "pos"),
          s"a${java.util.UUID.randomUUID().toString.take(8)}", None)
        val touchedNames: Set[String] =
          if (staged.isEmpty) Set.empty
          else observedStrings(obs, "touched")
        if (touchedNames.isEmpty) {
          // nothing matched: drop the empty sidecar (orphan either way) and
          // commit the unchanged manifest — the truthful no-op version
          staged.foreach(rel => fs.delete(absOf(dir, rel), false))
          publishRebased(spark, fs, dir, "VersionedTable.commitDeleteDV",
            pv, entries, entries, staged = Seq.empty,
            provenAgainst = Constraints.list(dir), txn = txn,
            opLabel = "DELETE MOR")
        } else {
          val dvRel = staged match {
            case Seq(one) => one
            case other => sys.error(
              s"commitDeleteDV: expected one staged sidecar, got ${other.size}")
          }
          publishRebased(spark, fs, dir, "VersionedTable.commitDeleteDV",
            pv, entries,
            entries.map(e =>
              if (touchedNames(baseName(e.rel))) e.copy(dvs = e.dvs :+ dvRel) else e),
            staged = staged, provenAgainst = Constraints.list(dir),
            txn = txn, opLabel = "DELETE MOR")
        }
      }
    }

  /** UPDATE via DELETION VECTORS (merge-on-read UPDATE, Delta's
    * `delta.enableDeletionVectors` update path): mask every matched row
    * with a (fname, pos) sidecar — exactly [[commitDeleteDV]]'s device —
    * and APPEND the rewritten rows as new files, all in one atomic
    * manifest publish. Write cost is **O(matched rows)**, not O(touched
    * FILE bytes): a 0.01% update scattered across every file of a 100 TB
    * table appends megabytes where [[commitUpdate]] (copy-on-write) would
    * rewrite the corpus. The price moves to read time (the mask
    * anti-join) until [[commitCompact]] or any copy-on-write rewrite
    * materializes the masks away.
    *
    * Every SET expression evaluates against the OLD row (one
    * `withColumns`, no fold — same contract as [[commitUpdate]]), and
    * `cond` sees LIVE rows only: a row already masked by a prior delete
    * can neither update nor resurrect. A SET that changes a column's TYPE
    * is refused — it would split the manifest's schema between appended
    * and shared files. `txn` gives [[commitAppend]]'s replay idempotence. */
  def commitUpdateDV(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      txn: Option[(String, Long)] = None): Long =
    withOccRetries("VersionedTable.commitUpdateDV") { () =>
      import org.apache.spark.sql.functions.col
      require(set.nonEmpty, "commitUpdateDV: empty SET clause")
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val preReplayed = txn.flatMap { case (app, tv) =>
        lastTxnVersion(dir, app).filter(_ >= tv) }
      if (preReplayed.isDefined) latestVersion(dir).getOrElse(
        sys.error(s"commitUpdateDV: txn marker without a committed version in $dir"))
      else {
        // O(matched rows) span lock-free against a pinned version; publish
        // rebases over blind appends, conflicts on rival rewrites
        val committed = VersionedTable.log(dir)
        require(committed.nonEmpty, s"commitUpdateDV: $dir has no committed version")
        val (pv, pms) = committed.last
        val entries  = checkedEntries(fs, dir, pv, pms)
        // one schema resolution for the whole commit (this used to be
        // re-resolved four times — each a _schema + _log listing + read —
        // on the op whose selling point is commit latency)
        val declared = declaredSchemaAt(dir, pv)
        val masked   = scanEntriesMeta(spark, dir, entries, declared)
        set.keys.foreach { c =>
          require(masked.columns.contains(c), s"commitUpdateDV: no column `$c` to set")
        }
        // matched rows materialize ONCE (they feed both the sidecar and the
        // rewritten append) — O(matched rows), the operation's whole budget
        val hits = masked.where(cond).localCheckpoint(true)
        val stageTag = s"a${java.util.UUID.randomUUID().toString.take(8)}"
        // touched files observed on the sidecar write job itself (not a
        // read-back job) — hits is checkpointed, so the observed set and
        // the rewritten rows below come from the same materialized batch
        val obs = org.apache.spark.sql.Observation()
        val staged = stageFiles(fs, dir,
          hits.select(col(FnameCol).as("fname"), col(PosCol).as("pos"))
            .observe(obs, org.apache.spark.sql.functions.collect_set(
              org.apache.spark.sql.functions.col("fname")).as("touched"))
            .coalesce(1).sortWithinPartitions("fname", "pos"), stageTag, None)
        val touchedNames: Set[String] =
          if (staged.isEmpty) Set.empty
          else observedStrings(obs, "touched")
        if (touchedNames.isEmpty) {
          staged.foreach(rel => fs.delete(absOf(dir, rel), false))
          publishRebased(spark, fs, dir, "VersionedTable.commitUpdateDV",
            pv, entries, entries, staged = Seq.empty,
            provenAgainst = Constraints.list(dir), txn = txn,
            opLabel = "UPDATE MOR")
        } else {
          val dvRel = staged match {
            case Seq(one) => one
            case other => sys.error(
              s"commitUpdateDV: expected one staged sidecar, got ${other.size}")
          }
          // cond already filtered, so SET needs no when(cond) guard; the
          // single withColumns still evaluates every expression against the
          // OLD row (no assignment observes another's result)
          val updated = hits
            .withColumns(set.map { case (c, e) => c -> e })
            .drop(FnameCol, PosCol)
          requireCompatibleSchema("VersionedTable.commitUpdateDV",
            masked.drop(FnameCol, PosCol).schema, updated.schema)
          val newRels = stageDataFilesTagged(fs, dir,
            toPhysical(updated, declared), stageTag)
          val provenAgainst = Constraints.list(dir)
          validateStaged(spark, dir, newRels, "VersionedTable.commitUpdateDV",
            declared)
          publishRebased(spark, fs, dir, "VersionedTable.commitUpdateDV",
            pv, entries,
            entries.map(e =>
              if (touchedNames(baseName(e.rel))) e.copy(dvs = e.dvs :+ dvRel) else e) ++
              newRels.map(FileEntry(_, Nil)),
            staged = staged ++ newRels, provenAgainst = provenAgainst,
            txn = txn, validateRels = newRels,
            validateDeclared = declared, opLabel = "UPDATE MOR")
        }
      }
    }

  /** Merge every masked file's stacked deletion-vector sidecars into ONE
    * (fname, pos)-sorted sidecar for the whole table — a metadata-only
    * maintenance commit (dataChange=false, invisible to the change feed,
    * skipped by streaming tails). Each DV delete/update stacks one more
    * sidecar onto the files it touches; after K of them a masked scan
    * opens K small files. This bounds that at 1 without touching a single
    * data file — O(deleted rows) total, where [[commitCompact]] (which
    * also materializes masks) pays O(table). The sort gives the merged
    * sidecar per-row-group fname min/max stats, so pruned masked scans
    * skip other files' positions. No-op (current version, no commit) when
    * nothing would shrink. */
  def compactDeletionVectors(spark: SparkSession, dir: String): Long =
    FsIO.withWriteLock(dir, "VersionedTable.compactDeletionVectors",
        TableManager.DefaultLockLeaseMs) {
      import org.apache.spark.sql.functions.col
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = VersionedTable.log(dir)
      require(committed.nonEmpty,
        s"compactDeletionVectors: $dir has no committed version")
      val (pv, pms) = committed.last
      val entries = checkedEntries(fs, dir, pv, pms)
      val dvRels = entries.flatMap(_.dvs).distinct
      if (dvRels.size <= 1 && entries.forall(_.dvs.size <= 1)) pv // already compact
      else {
        val next = nextVersion(fs, dir, committed)
        val merged = spark.read.schema(DvSidecarSchema)
          .parquet(dvRels.map(r => absOf(dir, r).toString): _*)
          .select(col("fname"), col("pos")).distinct()
          .coalesce(1).sortWithinPartitions("fname", "pos")
        val dvRel = stageFiles(fs, dir, merged, f"c$next%05d", None) match {
          case Seq(one) => one
          case other => sys.error(
            s"compactDeletionVectors: expected one staged sidecar, got ${other.size}")
        }
        publishEntries(fs, dir, next, Some(entries.map(e =>
          if (e.dvs.nonEmpty) e.copy(dvs = List(dvRel)) else e)), dataChange = false,
          prev = Some(entries), opLabel = "OPTIMIZE DV")
        next
      }
    }


  /** The FILES holding any row key-matching the probe — the pruning pass
    * shared by [[commitMerge]] and [[commitMergeConditional]] (it was
    * duplicated near-verbatim; the null-key IN/isNull handling and the
    * null-safe join shape must never drift between the two). Under the
    * probe cap the keys push down as a coarse IN filter plus a broadcast
    * null-safe semi join (partition/row-group pruning reaches the scan);
    * past it, a keys-only scan join. `keyRows` carry exactly the key
    * columns, in `keyCols` order. */
  private def probeTouchedFiles(spark: SparkSession, full: DataFrame,
      keyRows: Array[org.apache.spark.sql.Row],
      keyFields: org.apache.spark.sql.types.StructType,
      keysOnly: DataFrame, keyCols: Seq[String]): Set[String] = {
    import org.apache.spark.sql.functions._
    collectDistinctStrings(
      if (keyRows.length <= MaxMergeProbeKeys) {
        val coarse = keyCols.zipWithIndex.map { case (k, i) =>
          val vs = keyRows.map(_.get(i)).toSeq
          val nn = vs.filter(_ != null).distinct
          val in = if (nn.isEmpty) lit(false) else col(s"`$k`").isin(nn: _*)
          if (vs.exists(_ == null)) in || col(s"`$k`").isNull else in
        }.reduce(_ && _)
        val keyLit = spark.createDataFrame(
          java.util.Arrays.asList(keyRows: _*), keyFields)
        full.where(coarse)
          .join(broadcast(keyLit),
            keyCols.map(k => full(s"`$k`") <=> keyLit(s"`$k`")).reduce(_ && _), "left_semi")
      } else {
        full.as("t").join(keysOnly.as("s"),
            keyCols.map(k => col(s"t.`$k`") <=> col(s"s.`$k`")).reduce(_ && _), "left_semi")
      },
      FnameCol)
  }

  /** Past this many distinct source keys, the merge probe stops collecting
    * keys for pushed-down file pruning and falls back to a keys-only scan
    * join (column pruning still reads just the key columns). */
  val MaxMergeProbeKeys = 100000

  /** Byte bound for force-broadcasting the merge source. The probe's key
    * cap bounds row COUNT but not row WIDTH — 100k rows carrying embedding
    * arrays or long text can exceed what a driver/executor should hold, a
    * regime where the planner's shuffle join was the right call. Above this
    * ESTIMATE (source rows × [[estRowBytes]]) the merge keeps the un-hinted
    * join; falling back costs one shuffle, never an opaque broadcast OOM. */
  val MaxMergeBroadcastBytes: Long = 64L << 20

  /** Conservative per-row width estimate for the broadcast gate: fixed
    * types at Catalyst's defaultSize, variable-width fields (string /
    * binary / array / map / struct) at a 1 KiB allowance each — statistics
    * for a LogicalRDD source don't exist, so the gate must come from the
    * schema alone without spending an extra job. */
  private[graft] def estRowBytes(schema: org.apache.spark.sql.types.StructType): Long =
    schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType => 1024L
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType => 1024L
        case dt => dt.defaultSize.toLong
      }
    }.sum.max(8L)

  /** The merge-source broadcast gate: row count under the probe cap AND
    * estimated bytes (rows × [[estRowBytes]]) under [[MaxMergeBroadcastBytes]]. */
  private[graft] def mergeBroadcastable(
      rows: Long, schema: org.apache.spark.sql.types.StructType): Boolean =
    rows >= 0 && rows <= MaxMergeProbeKeys &&
      rows <= MaxMergeBroadcastBytes / estRowBytes(schema)

  /** MERGE INTO (Delta semantics, whole-row): source rows matching a target
    * key UPDATE that row's source-covered columns; unmatched source rows
    * INSERT (missing columns null). Copy-on-write at file grain: only files
    * holding a matching row are rewritten — with a driver-sized source key
    * set the probe pushes an IN filter down to parquet, so a key-clustered
    * table never opens untouched files' pages (past [[MaxMergeProbeKeys]]
    * the probe degrades to a keys-only column scan, loudly linear in table
    * KEY bytes, never full rows). Source key uniqueness is enforced by
    * [[TableManager.mergeUpsert]]'s in-plan tripwire. `txn` gives the same
    * replay idempotence as [[commitAppend]] — the streaming CDC upsert
    * contract. The source is eagerly checkpointed: the probe and the merge
    * must see the same rows even if the source plan is nondeterministic. */
  def commitMerge(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String],
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "commitMerge: need at least one key column")
    withOccRetries("VersionedTable.commitMerge") { () =>
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val preReplayed = txn.flatMap { case (app, tv) =>
        lastTxnVersion(dir, app).filter(_ >= tv) }
      if (preReplayed.isDefined) latestVersion(dir).getOrElse(
        sys.error(s"VersionedTable.commitMerge: txn marker without a committed version in $dir"))
      else {
        // probe + rewrite lock-free against a pinned version; the publish
        // tail rebases over blind appends. NOTE a rebased-over append may
        // carry a key the merge INSERTED (it probed the pinned version) —
        // the duplicate surfaces at the next merge through mergeUpsert's
        // uniqueness tripwire; WriteSerializable accepts this write skew
        // in exchange for never blocking appenders behind a merge's scan.
        val committed = VersionedTable.log(dir)
        require(committed.nonEmpty, s"commitMerge: $dir has no committed version")
        val (pv, pms) = committed.last
        val entries = checkedEntries(fs, dir, pv, pms)
        // DV-masked probe: a row already deleted by a vector must not count
        // as a match (its key is free for plain INSERT)
        val declared = declaredSchemaAt(dir, pv)
        val full   = scanEntriesMeta(spark, dir, entries, declared)
        val srcChk = source.localCheckpoint(true)
        // ONE bounded collect decides small-vs-large AND delivers the keys:
        // ≤ cap+1 rows prove whether the literal-probe path applies, saving
        // the separate count() job the common small-batch path used to pay
        // (the CDC replication loop runs a merge per span — job count IS
        // the protocol latency there). Grouping with a count (same hash
        // aggregate a distinct() would run) also yields the source's TOTAL
        // row count for free: a duplicate-key source can be arbitrarily
        // large under the key cap, and it must fall out of the broadcast
        // fast path BEFORE the uniqueness tripwire gets a chance to fire.
        val cntCol = "__graft_merge_cnt"
        val keyDf  = srcChk.select(keyCols.map(k => col(s"`$k`")): _*)
          .groupBy(keyCols.map(k => col(s"`$k`")): _*)
          .agg(count(lit(1)).as(cntCol))
        val cntProbe = keyDf.limit(MaxMergeProbeKeys + 1).collect()
        val keyProbe = cntProbe.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1)))
        val srcRowEst: Long =
          if (cntProbe.length <= MaxMergeProbeKeys)
            cntProbe.iterator.map(_.getLong(keyCols.length)).sum
          else Long.MaxValue
        val touchedNames: Set[String] = probeTouchedFiles(spark, full,
          keyProbe,
          org.apache.spark.sql.types.StructType(keyCols.map(k => keyDf.schema(k))),
          keyDf, keyCols)
        val (touched, untouched) = entries.partition(e => touchedNames(baseName(e.rel)))
        val targetDf =
          if (touched.isEmpty) full.drop(FnameCol, PosCol).limit(0)
          else scanEntries(spark, dir, touched, declared) // masked; rewrite sheds the DVs
        // the checkpointed source is a LogicalRDD — unknown size to the
        // planner, so the upsert join would default to a shuffle join even
        // for a tiny CDC batch. Under the probe cap AND the byte bound
        // (exact row count × schema-width estimate — count alone doesn't
        // bound wide embedding/text rows, and a duplicate-key source can
        // dwarf its distinct keys), hint broadcast: the rewrite becomes a
        // shuffle-free broadcast join over just the touched files.
        val srcForMerge =
          if (keyProbe.length <= MaxMergeProbeKeys &&
              mergeBroadcastable(srcRowEst, srcChk.schema)) broadcast(srcChk)
          else srcChk
        val merged = toPhysical(
          TableManager.mergeUpsert(targetDf, srcForMerge, keyCols), declared)
        val stageTag = s"a${java.util.UUID.randomUUID().toString.take(8)}"
        val staged = stageDataFilesTagged(fs, dir, merged, stageTag)
        val newRels =
          if (staged.nonEmpty || untouched.nonEmpty) staged
          else stageDataFilesTagged(fs, dir, merged.coalesce(1), stageTag)
        val provenAgainst = Constraints.list(dir)
        validateStaged(spark, dir, newRels, "VersionedTable.commitMerge", declared)
        val v = publishRebased(spark, fs, dir, "VersionedTable.commitMerge",
          pv, entries, untouched ++ newRels.map(FileEntry(_, Nil)),
          staged = newRels, provenAgainst = provenAgainst,
          txn = txn, validateRels = newRels,
          validateDeclared = declared, opLabel = "MERGE")
        recordKeyColumns(dir, keyCols)
        v
      }
    }
  }

  /** One WHEN arm of a conditional MERGE ([[commitMergeConditional]]) —
    * Delta's `WHEN MATCHED [AND cond] THEN UPDATE/DELETE, WHEN NOT MATCHED
    * [AND cond] THEN INSERT` surface. Conditions and expressions are SQL
    * text evaluated with the TARGET row aliased `t` and the SOURCE row
    * aliased `s` (Delta's own qualification convention); Catalyst's full
    * expression language applies. */
  sealed trait MergeClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col -> expr, ... Unset target
    * columns keep their values; SET expressions all evaluate against the
    * OLD (t, s) pair — no assignment observes another's result.
    * `set = Map.empty` is UPDATE SET * (every source-covered non-key
    * column takes the source's value — Delta's update-all form). */
  final case class WhenMatchedUpdate(cond: Option[String],
      set: Map[String, String]) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class WhenMatchedDelete(cond: Option[String]) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (col -> expr, ...) — unlisted
    * target columns land NULL; `values = None` is INSERT * (source columns
    * by name, the whole-row-merge insert shape). */
  final case class WhenNotMatchedInsert(cond: Option[String],
      values: Option[Map[String, String]]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col -> expr, ...
    * — TARGET rows with no key-matching source row (Delta's retention/GC
    * merge arm). Conditions and SET expressions may reference the target
    * (`t.`) only — there is no source side for these rows; a stray `s.`
    * reference is refused UP FRONT (resolution against a target-only
    * frame — in the rewrite's outer join it would silently read NULL).
    * Conditions must also be deterministic and time-independent (they
    * are evaluated in two separate queries — pruning, then rewrite).
    * SET must be explicit (no SET * — nothing to take values from). */
  final case class WhenNotMatchedBySourceUpdate(cond: Option[String],
      set: Map[String, String]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class WhenNotMatchedBySourceDelete(cond: Option[String])
      extends MergeClause

  /** MERGE INTO with CONDITIONAL CLAUSES (the real Delta MERGE surface —
    * `WHEN MATCHED [AND c] THEN UPDATE SET ... / DELETE, WHEN NOT MATCHED
    * [AND c] THEN INSERT`). Clause semantics are Delta's exactly:
    *
    *  - a target row with a key-matching source row takes the FIRST
    *    matched clause whose condition holds (clause order = priority);
    *    no applicable clause → the row carries over unchanged;
    *  - a source row matching no target key takes the first not-matched
    *    clause whose condition holds → INSERT; none → dropped;
    *  - a TARGET row matching no source key takes the first NOT MATCHED BY
    *    SOURCE clause whose condition holds → UPDATE/DELETE (the
    *    retention/GC arm); none → carries over unchanged. Their pruning is
    *    by arm condition, not the key probe — a condition-less arm is an
    *    honest whole-table sweep;
    *  - source keys must be UNIQUE (several source rows matching one
    *    target row is the ambiguous-merge error, like Delta);
    *  - UPDATE/INSERT expressions cast to the target column's type (SQL
    *    store-assignment), so a clause can't split the manifest's schema.
    *
    * Same scale shape and OCC discipline as [[commitMerge]]: the probe
    * finds the FILES holding matching keys (pushed-down IN under
    * [[MaxMergeProbeKeys]], keys-only scan past it), only those rewrite
    * (file-grain copy-on-write), the O(data) span runs lock-free against a
    * pinned version, and the publish tail rebases over blind appends /
    * conflicts loudly on rival rewrites. `txn` gives [[commitAppend]]'s
    * replay idempotence. */
  def commitMergeConditional(spark: SparkSession, dir: String, source: DataFrame,
      keyCols: Seq[String], clauses: Seq[MergeClause],
      txn: Option[(String, Long)] = None,
      /** `MERGE ... WITH SCHEMA EVOLUTION` widenings staged at analysis
        * ([[graft.catalog.GraftCatalog.alterTable]]): ADD COLUMN alters
        * folded into THIS merge's commit entry — the declared-schema file
        * publishes with the merge's own version, so a merge that fails
        * anywhere leaves the schema byte-identical (Delta's
        * one-transaction semantics). Idempotent against a concurrent
        * writer adding the same column with the same type; a type clash
        * refuses loudly. ADD COLUMN only — evolution never renames/drops. */
      pendingAlters: Seq[SchemaAlter] = Nil): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "commitMergeConditional: need at least one key column")
    require(clauses.nonEmpty, "commitMergeConditional: need at least one WHEN clause")
    val matchedClauses = clauses.collect {
      case c: WhenMatchedUpdate => c: MergeClause
      case c: WhenMatchedDelete => c: MergeClause
    }
    val insertClauses = clauses.collect { case c: WhenNotMatchedInsert => c }
    val nmbsClauses = clauses.collect {
      case c: WhenNotMatchedBySourceUpdate => c: MergeClause
      case c: WhenNotMatchedBySourceDelete => c: MergeClause
    }
    nmbsClauses.foreach {
      case WhenNotMatchedBySourceUpdate(_, set) =>
        require(set.nonEmpty, "commitMergeConditional: WHEN NOT MATCHED BY " +
          "SOURCE UPDATE needs an explicit SET — there is no source row to " +
          "take values from (SET * is undefined here, as in Delta)")
      case _ => ()
    }
    withOccRetries("VersionedTable.commitMergeConditional") { () =>
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val preReplayed = txn.flatMap { case (app, tv) =>
        lastTxnVersion(dir, app).filter(_ >= tv) }
      if (preReplayed.isDefined) latestVersion(dir).getOrElse(
        sys.error(s"commitMergeConditional: txn marker without a committed version in $dir"))
      else {
        val committed = VersionedTable.log(dir)
        require(committed.nonEmpty, s"commitMergeConditional: $dir has no committed version")
        val (pv, pms) = committed.last
        val entries  = checkedEntries(fs, dir, pv, pms)
        val declared = declaredSchemaAt(dir, pv)
        // fold the staged evolution against the HEAD's schema (a retry or
        // a concurrent writer may have changed it since analysis): a
        // same-name-same-type column already present is an idempotent
        // no-op, a type clash refuses, anything but ADD is a caller bug.
        // applyAlter assigns fresh physical names on tombstone collisions,
        // exactly like the standalone ALTER commit.
        val baseSchema: org.apache.spark.sql.types.StructType =
          declared.getOrElse {
            require(entries.nonEmpty,
              "commitMergeConditional: cannot evolve the schema of an empty table")
            org.apache.spark.sql.graft.FooterShim.schemaOf(
              spark, absOf(dir, entries.head.rel).toString)
          }
        val effAlters: Seq[SchemaAlter] = pendingAlters.filter {
          case AddColumnAlter(n, dt) =>
            baseSchema.fields.find(_.name.equalsIgnoreCase(n)) match {
              case Some(f) =>
                require(f.dataType == dt,
                  s"commitMergeConditional: WITH SCHEMA EVOLUTION wants to add " +
                    s"`$n` ${dt.simpleString} but a concurrent change already " +
                    s"added `$n` ${f.dataType.simpleString} — re-run the merge")
                false
              case None => true
            }
          case other => sys.error("commitMergeConditional: only ADD COLUMN " +
            s"alters can fold into a merge commit, got $other")
        }
        val declaredEvolved: Option[org.apache.spark.sql.types.StructType] =
          if (effAlters.isEmpty) None
          else Some(effAlters.foldLeft((baseSchema, tombstonesAt(dir, pv))) {
            case ((s, t), a) => applyAlter(dir, s, t, a)
          }._1)
        val declaredForWrite = declaredEvolved.orElse(declared)
        val evoAdds: Seq[(String, org.apache.spark.sql.types.DataType)] =
          effAlters.collect { case AddColumnAlter(n, dt) => (n, dt) }
        def widen(df: DataFrame): DataFrame = evoAdds.foldLeft(df) {
          case (d0, (n, dt)) => d0.withColumn(n, lit(null).cast(dt))
        }
        val full     = widen(scanEntriesMeta(spark, dir, entries, declared))
        // every SET / INSERT assignment key must resolve to a TARGET column
        // (Delta rejects unknown assignment targets): a typo'd name must be
        // an error, not a silently dropped clause
        locally {
          val targetNames = full.schema.fieldNames
            .filterNot(Set(FnameCol, PosCol)).map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          def unknown(keys: Iterable[String]) =
            keys.filterNot(k => targetNames(k.toLowerCase(java.util.Locale.ROOT)))
          clauses.foreach {
            case WhenMatchedUpdate(_, set) =>
              val bad = unknown(set.keys)
              require(bad.isEmpty, "commitMergeConditional: UPDATE SET targets " +
                s"unknown column(s) ${bad.mkString(", ")} (table columns: " +
                s"${targetNames.toSeq.sorted.mkString(", ")})")
            case WhenNotMatchedInsert(_, Some(values)) =>
              val bad = unknown(values.keys)
              require(bad.isEmpty, "commitMergeConditional: INSERT targets " +
                s"unknown column(s) ${bad.mkString(", ")} (table columns: " +
                s"${targetNames.toSeq.sorted.mkString(", ")})")
            case WhenNotMatchedBySourceUpdate(_, set) =>
              val bad = unknown(set.keys)
              require(bad.isEmpty, "commitMergeConditional: NOT MATCHED BY " +
                s"SOURCE UPDATE SET targets unknown column(s) ${bad.mkString(", ")} " +
                s"(table columns: ${targetNames.toSeq.sorted.mkString(", ")})")
            case _ => ()
          }
        }
        // NOT MATCHED BY SOURCE expression discipline, enforced for EVERY
        // entry path (the native SQL strategy checks the same on resolved
        // plans; TableSql and direct Scala calls land here):
        //  - conditions and SET values may reference the TARGET only —
        //    there is no source row for these rows, and in the rewrite's
        //    outer-joined frame a stray `s.x` would silently evaluate to
        //    NULL (overwriting swept rows with nulls) instead of failing;
        //  - conditions must be DETERMINISTIC and time-independent — they
        //    are evaluated twice (the file-pruning scan and the rewrite
        //    are separate Spark queries), so rand()/current_timestamp()
        //    would disagree between the two and break the touched-file
        //    superset invariant, silently skipping rows (Delta refuses
        //    nondeterministic merge conditions for the same reason).
        locally {
          import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestampLike, LocalTimestamp}
          val targetProbe = full.drop(FnameCol, PosCol).limit(0).as("t")
          def resolveTargetOnly(text: String, what: String) = {
            val analyzed = try {
              targetProbe.select(expr(text)).queryExecution.analyzed
            } catch {
              case e: Throwable => sys.error(
                s"commitMergeConditional: NOT MATCHED BY SOURCE $what " +
                  s"`$text` must reference the target (`t.`) only — there " +
                  s"is no source row for these rows (${e.getMessage})")
            }
            analyzed.expressions
          }
          def requireStable(text: String): Unit =
            resolveTargetOnly(text, "condition").foreach { e =>
              require(e.deterministic && !e.exists(x =>
                  x.isInstanceOf[CurrentTimestampLike] ||
                  x.isInstanceOf[CurrentDate] || x.isInstanceOf[LocalTimestamp]),
                s"commitMergeConditional: NOT MATCHED BY SOURCE condition `$text` " +
                  "must be deterministic and time-independent — it is evaluated " +
                  "in two separate queries (file pruning, then the rewrite); " +
                  "materialize the value into a literal first")
            }
          clauses.foreach {
            case WhenNotMatchedBySourceUpdate(cc, set) =>
              cc.foreach(requireStable)
              set.values.foreach(resolveTargetOnly(_, "SET value"))
            case WhenNotMatchedBySourceDelete(cc) =>
              cc.foreach(requireStable)
            case _ => ()
          }
        }
        val srcChk   = source.localCheckpoint(true)
        val keyDf    = srcChk.select(keyCols.map(k => col(s"`$k`")): _*).distinct()
        // ONE bounded probe (commitMerge's device) delivers the keys, the
        // per-key counts, AND decides small-vs-large: under the cap, the
        // ambiguous-merge gate (Delta's — duplicate source keys would
        // multiply matched target rows through the join) checks the probe's
        // counts driver-side; past the cap the gate falls back to one
        // whole-source agg job (large sources only, amortized). The
        // separate count_distinct agg + keyDf.collect this replaces cost
        // two extra jobs on every small CDC span — pure protocol latency.
        val cntCol   = "__graft_merge_cnt"
        val cntProbe = srcChk.select(keyCols.map(k => col(s"`$k`")): _*)
          .groupBy(keyCols.map(k => col(s"`$k`")): _*)
          .agg(count(lit(1)).as(cntCol))
          .limit(MaxMergeProbeKeys + 1).collect()
        val nKeys: Long =
          if (cntProbe.length <= MaxMergeProbeKeys) {
            val dup = cntProbe.find(_.getLong(keyCols.length) > 1L)
            require(dup.isEmpty,
              s"commitMergeConditional: source keys (${keyCols.mkString(",")}) are not " +
                "unique — several source rows would match one target row (ambiguous merge)")
            cntProbe.length.toLong
          } else {
            val counts = srcChk.agg(count(lit(1)).as("n"),
              count_distinct(struct(keyCols.map(k => col(s"`$k`")): _*)).as("nk")).head
            require(counts.getLong(1) == counts.getLong(0),
              s"commitMergeConditional: source keys (${keyCols.mkString(",")}) are not " +
                "unique — several source rows would match one target row (ambiguous merge)")
            counts.getLong(1)
          }
        // cntProbe is limit(cap+1)-bounded: ≤ cap rows take the pushed-down
        // literal path, cap+1 rows overflow into the keys-only scan join
        val touchedNames: Set[String] = probeTouchedFiles(spark, full,
          cntProbe.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1))),
          org.apache.spark.sql.types.StructType(keyCols.map(k => keyDf.schema(k))),
          keyDf, keyCols)
        // NOT MATCHED BY SOURCE arms rewrite target rows the source never
        // names, so their pruning is by the arms' own conditions, not the
        // key probe: one extra column-pruned scan finds files holding ANY
        // row satisfying an arm condition (a condition-less arm touches
        // every file — the honest cost of a whole-table retention sweep,
        // same as Delta). The union with the key-touched set is a superset
        // of what actually changes; rewriting an extra file re-emits its
        // rows verbatim (match-ness is re-derived row-level below).
        // Target-only references and determinism were proven up front
        // (the validation block above), so this scan cannot diverge from
        // the rewrite's evaluation of the same conditions.
        val nmbsTouched: Set[String] =
          if (nmbsClauses.isEmpty) Set.empty
          else if (nmbsClauses.exists {
            case WhenNotMatchedBySourceUpdate(None, _) => true
            case WhenNotMatchedBySourceDelete(None)    => true
            case _ => false
          }) entries.map(e => baseName(e.rel)).toSet
          else {
            val condOr = nmbsClauses.map {
              case WhenNotMatchedBySourceUpdate(Some(cc), _) => expr(cc)
              case WhenNotMatchedBySourceDelete(Some(cc))    => expr(cc)
              case other => sys.error(s"unreachable nmbs clause $other")
            }.reduce(_ || _)
            collectDistinctStrings(full.as("t").where(condOr), FnameCol)
          }
        val (touched, untouched) = entries.partition(e =>
          touchedNames(baseName(e.rel)) || nmbsTouched(baseName(e.rel)))
        val targetDf = widen(
          if (touched.isEmpty) scanEntries(spark, dir, entries, declared).limit(0)
          else scanEntries(spark, dir, touched, declared)) // masked; rewrite sheds DVs
        val targetSchema = targetDf.schema
        // ---- matched side: t LEFT OUTER s on keys, first-true clause wins.
        // The checkpointed source reads as a LogicalRDD (unknown size), so
        // hint broadcast under the probe cap AND the byte bound (the
        // unique-key contract bounds row count — here rows == keys, gate-
        // enforced above — but not row WIDTH; wide embedding/text sources
        // keep the planner's shuffle join instead of OOMing a broadcast);
        // the clause rewrite then runs shuffle-free over the touched files.
        val presentCol = "__graft_s_present"
        val srcFlag0 = srcChk.withColumn(presentCol, lit(true))
        val srcFlag =
          if (mergeBroadcastable(nKeys, srcChk.schema)) broadcast(srcFlag0)
          else srcFlag0
        val joined = targetDf.as("t").join(srcFlag.as("s"),
          keyCols.map(k => col(s"t.`$k`") <=> col(s"s.`$k`")).reduce(_ && _), "left_outer")
        val matched = coalesce(col(s"s.`$presentCol`"), lit(false))
        def clauseCond(c: Option[String]) =
          c.map(t => expr(t)).getOrElse(lit(true))
        // action index: the first matched clause (in declaration order)
        // whose condition holds for this (t, s) pair — when() chains
        // evaluate in order, which IS the Delta priority rule
        val actionMatched = matchedClauses.zipWithIndex
          .foldLeft(when(lit(false), lit(-1))) { case (acc, (c, i)) =>
            val cond = c match {
              case WhenMatchedUpdate(cc, _) => clauseCond(cc)
              case WhenMatchedDelete(cc)    => clauseCond(cc)
              case _                        => lit(false)
            }
            acc.when(matched && cond, lit(i))
          }
        // NOT MATCHED BY SOURCE arms take the complementary rows, indexed
        // after the matched arms so one action column carries both families
        // (clause order within each family = Delta priority; the families
        // are disjoint by the matched flag, so relative interleaving in the
        // original statement cannot matter)
        val nmbsOffset = matchedClauses.length
        val action = nmbsClauses.zipWithIndex
          .foldLeft(actionMatched) { case (acc, (c, i)) =>
            val cond = c match {
              case WhenNotMatchedBySourceUpdate(cc, _) => clauseCond(cc)
              case WhenNotMatchedBySourceDelete(cc)    => clauseCond(cc)
              case _                                   => lit(false)
            }
            acc.when(!matched && cond, lit(nmbsOffset + i))
          }
        val deleteIdx = matchedClauses.zipWithIndex.collect {
          case (_: WhenMatchedDelete, i) => i } ++
          nmbsClauses.zipWithIndex.collect {
            case (_: WhenNotMatchedBySourceDelete, i) => nmbsOffset + i }
        val withAction = joined.withColumn("__graft_action", action)
        val kept = if (deleteIdx.isEmpty) withAction
          else withAction.where(!col("__graft_action").isInCollection(deleteIdx) ||
            col("__graft_action").isNull)
        val srcColsNorm = srcChk.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val keyColsNorm = keyCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val survivors = kept.select(targetSchema.fields.map { f =>
          val base  = col(s"t.`${f.name}`")
          val fNorm = f.name.toLowerCase(java.util.Locale.ROOT)
          val updated = matchedClauses.zipWithIndex
            .foldLeft(when(lit(false), base)) {
              case (acc, (WhenMatchedUpdate(_, set), i)) =>
                set.collectFirst { case (c, e) if c.equalsIgnoreCase(f.name) => e } match {
                  case Some(e) => acc.when(col("__graft_action") === i,
                    expr(e).cast(f.dataType))
                  // UPDATE SET *: every source-covered non-key column
                  // takes the source value (keys are equal by the match)
                  case None if set.isEmpty && srcColsNorm(fNorm) && !keyColsNorm(fNorm) =>
                    acc.when(col("__graft_action") === i,
                      col(s"s.`${f.name}`").cast(f.dataType))
                  case None    => acc
                }
              case (acc, _) => acc
            }
          val updated2 = nmbsClauses.zipWithIndex
            .foldLeft(updated) {
              case (acc, (WhenNotMatchedBySourceUpdate(_, set), i)) =>
                set.collectFirst { case (c, e) if c.equalsIgnoreCase(f.name) => e } match {
                  case Some(e) => acc.when(col("__graft_action") === (nmbsOffset + i),
                    expr(e).cast(f.dataType))
                  case None => acc
                }
              case (acc, _) => acc
            }
          updated2.otherwise(base).as(f.name)
        }.toSeq: _*)
        // ---- insert side: source rows matching NO target key (the probe
        // found every file holding a matching key, so anti-joining the
        // touched rows' keys is anti-joining the whole table's)
        val tKeys = targetDf.select(keyCols.map(k => col(s"`$k`")): _*)
        val unmatchedSrc = srcChk.as("s").join(tKeys.as("t"),
          keyCols.map(k => col(s"s.`$k`") <=> col(s"t.`$k`")).reduce(_ && _), "left_anti")
        val srcColsN = srcChk.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val inserted = insertClauses.zipWithIndex
          .foldLeft(Option.empty[DataFrame]) { case (accOpt, (c, i)) =>
            // first-true not-matched clause: row i takes clause i only if
            // no earlier clause's condition held
            val notEarlier = insertClauses.take(i)
              .map(p => !coalesce(clauseCond(p.cond), lit(false)))
              .reduceOption(_ && _).getOrElse(lit(true))
            val rows = unmatchedSrc
              .where(coalesce(clauseCond(c.cond), lit(false)) && notEarlier)
              .select(targetSchema.fields.map { f =>
                (c.values match {
                  case Some(vs) =>
                    vs.collectFirst { case (cc, e) if cc.equalsIgnoreCase(f.name) => expr(e) }
                      .getOrElse(lit(null))
                  case None => // INSERT *: source columns by name, else NULL
                    if (srcColsN(f.name.toLowerCase(java.util.Locale.ROOT)))
                      col(s"`${f.name}`")
                    else lit(null)
                }).cast(f.dataType).as(f.name)
              }.toSeq: _*)
            Some(accOpt.fold(rows)(_.unionByName(rows)))
          }
        val merged0 = inserted.fold(survivors)(survivors.unionByName(_))
        requireCompatibleSchema("commitMergeConditional", targetSchema, merged0.schema)
        val merged = toPhysical(merged0, declaredForWrite)
        val stageTag = s"a${java.util.UUID.randomUUID().toString.take(8)}"
        val staged = stageDataFilesTagged(fs, dir, merged, stageTag)
        val newRels =
          if (staged.nonEmpty || untouched.nonEmpty) staged
          else stageDataFilesTagged(fs, dir, merged.coalesce(1), stageTag)
        val provenAgainst = Constraints.list(dir)
        validateStaged(spark, dir, newRels, "commitMergeConditional", declaredForWrite)
        val v = publishRebased(spark, fs, dir, "VersionedTable.commitMergeConditional",
          pv, entries, untouched ++ newRels.map(FileEntry(_, Nil)),
          staged = newRels, provenAgainst = provenAgainst,
          txn = txn, validateRels = newRels,
          validateDeclared = declaredForWrite,
          declareSchema = declaredEvolved,
          opLabel = if (effAlters.isEmpty) "MERGE COND"
            else "MERGE COND; " + effAlters.map(alterLabel).mkString("; "))
        recordKeyColumns(dir, keyCols)
        v
      }
    }
  }

  /** One metadata-only schema change, applied by [[commitSchemaChanges]].
    * Several can combine into ONE commit — `ALTER TABLE t ADD COLUMN a
    * INT, DROP COLUMN b` is all-or-none at the protocol, not a sequence
    * of independent commits a crash could leave half-applied. */
  sealed trait SchemaAlter
  /** ADD COLUMN (Delta's `ALTER TABLE ... ADD COLUMNS`): the declared
    * schema widens with a NULLABLE field, existing rows read null. If the
    * chosen name collides with a TOMBSTONED physical name (a dropped
    * column) or a live physical name under a different logical name
    * (renamed-away), the new field gets a FRESH physical name through the
    * mapping — old files' stale values can never resurrect. */
  final case class AddColumnAlter(name: String,
      dataType: org.apache.spark.sql.types.DataType) extends SchemaAlter
  /** RENAME COLUMN via column mapping: the field takes the new LOGICAL
    * name and keeps its immutable PHYSICAL name (chained renames keep the
    * original). Refused when the new name collides or a CHECK constraint
    * references the old name (its text would silently stop binding). */
  final case class RenameColumnAlter(oldName: String, newName: String)
      extends SchemaAlter
  /** DROP COLUMN via column mapping: old files keep the physical column
    * (reads never select it; bytes reclaim at the next compaction), and
    * the physical name is TOMBSTONED so a later re-add of the same logical
    * name cannot resurrect dropped values. Refused for the last column and
    * for columns a CHECK constraint references. */
  final case class DropColumnAlter(name: String) extends SchemaAlter

  /** Apply one alter to the evolving (schema, tombstones) pair — the
    * validation each single-change commit did, against the state earlier
    * alters in the SAME statement produced (so `DROP a, ADD a` sees the
    * tombstone and mints a fresh physical name). */
  private def applyAlter(dir: String,
      cur: org.apache.spark.sql.types.StructType, tombstones: Set[String],
      alter: SchemaAlter)
      : (org.apache.spark.sql.types.StructType, Set[String]) = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    alter match {
      case RenameColumnAlter(oldName, newName) =>
        require(cur.fields.exists(_.name.equalsIgnoreCase(oldName)),
          s"commitRenameColumn: no column `$oldName` (have: ${cur.fieldNames.mkString(", ")})")
        require(!cur.fields.exists(_.name.equalsIgnoreCase(newName)),
          s"commitRenameColumn: column `$newName` already exists")
        requireNoConstraintMention(dir, oldName, "commitRenameColumn")
        (org.apache.spark.sql.types.StructType(cur.fields.map { f =>
          if (f.name.equalsIgnoreCase(oldName))
            org.apache.spark.sql.types.StructField(newName, f.dataType, f.nullable,
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).putString(PhysicalNameKey, physName(f)).build())
          else f
        }), tombstones)
      case AddColumnAlter(colName, dataType) =>
        require(!cur.fields.exists(_.name.equalsIgnoreCase(colName)),
          s"commitAddColumn: column `$colName` already exists " +
            s"(have: ${cur.fieldNames.mkString(", ")})")
        val used = cur.fields.map(f => lc(physName(f))).toSet ++ tombstones.map(lc)
        val field =
          if (used(lc(colName)))
            org.apache.spark.sql.types.StructField(colName, dataType, nullable = true,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(PhysicalNameKey,
                  s"${colName}__p${java.util.UUID.randomUUID().toString.take(8)}")
                .build())
          else org.apache.spark.sql.types.StructField(colName, dataType, nullable = true)
        (org.apache.spark.sql.types.StructType(cur.fields :+ field), tombstones)
      case DropColumnAlter(colName) =>
        val dropped = cur.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
          sys.error(s"commitDropColumn: no column `$colName` (have: ${cur.fieldNames.mkString(", ")})"))
        require(cur.fields.length > 1, "commitDropColumn: cannot drop the last column")
        requireNoConstraintMention(dir, colName, "commitDropColumn")
        (org.apache.spark.sql.types.StructType(
          cur.fields.filterNot(_.name.equalsIgnoreCase(colName))),
          tombstones + physName(dropped))
    }
  }

  private def alterLabel(a: SchemaAlter): String = a match {
    case AddColumnAlter(n, _)    => s"ADD COLUMN $n"
    case RenameColumnAlter(o, n) => s"RENAME COLUMN $o TO $n"
    case DropColumnAlter(n)      => s"DROP COLUMN $n"
  }

  /** The metadata-only schema commit (ADD/RENAME/DROP COLUMN, one or
    * several): resolve the head's declared schema (seeding from a footer
    * on never-declared tables), fold the alters over it in statement
    * order, publish the SAME manifest with the new declared schema — ONE
    * commit regardless of how many alters, zero data files touched, O(1)
    * data cost on any table size. All-or-none: any alter's refusal aborts
    * before anything publishes. `dataChange=false`: the row set is
    * identical, so the change feed and streaming tails skip the version
    * (the schema change itself surfaces through the op label and
    * declaredSchemaAt). */
  def commitSchemaChanges(spark: SparkSession, dir: String,
      alters: Seq[SchemaAlter]): Long = {
    require(alters.nonEmpty, "commitSchemaChanges: need at least one alter")
    val op = "VersionedTable.commitSchemaChanges"
    FsIO.withWriteLock(dir, op, TableManager.DefaultLockLeaseMs) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = VersionedTable.log(dir)
      require(committed.nonEmpty, s"$op: $dir has no committed version")
      val (pv, pms) = committed.last
      val cur = declaredSchemaAt(dir, pv).getOrElse {
        val entries = checkedEntries(fs, dir, pv, pms)
        require(entries.nonEmpty, s"$op: $dir has no data files to resolve a schema from")
        org.apache.spark.sql.graft.FooterShim.schemaOf(spark, absOf(dir, entries.head.rel).toString)
      }
      val next = nextVersion(fs, dir, committed)
      val tomb0 = tombstonesAt(dir, pv)
      val (changed, tombN) = alters.foldLeft((cur, tomb0)) {
        case ((s, t), a) => applyAlter(dir, s, t, a)
      }
      val prevEntries = checkedEntries(fs, dir, pv, pms)
      // schema (and tombstones) BEFORE the entry, like commitAppendEvolve:
      // a crash between leaves ignorable orphans, never a committed version
      // with a missing schema
      if (tombN != tomb0) writeTombstones(fs, dir, next, tombN)
      writeDeclaredSchema(fs, dir, next, changed)
      publishEntries(fs, dir, next, Some(prevEntries), dataChange = false,
        prev = Some(prevEntries), opLabel = alters.map(alterLabel).mkString("; "))
      next
    }
  }

  /** RENAME COLUMN as its own commit — see [[RenameColumnAlter]]. Reads at
    * or above the commit see the new name; time travel below it sees the
    * old one. */
  def commitRenameColumn(spark: SparkSession, dir: String,
      oldName: String, newName: String): Long =
    commitSchemaChanges(spark, dir, Seq(RenameColumnAlter(oldName, newName)))

  /** ADD COLUMN as its own commit — see [[AddColumnAlter]]. Subsequent
    * appends must carry the column (the schema gate reads the declared
    * schema); time travel below the commit reads the narrow schema. */
  def commitAddColumn(spark: SparkSession, dir: String, colName: String,
      dataType: org.apache.spark.sql.types.DataType): Long =
    commitSchemaChanges(spark, dir, Seq(AddColumnAlter(colName, dataType)))

  /** DROP COLUMN as its own commit — see [[DropColumnAlter]]. Time travel
    * below the drop still reads the column. */
  def commitDropColumn(spark: SparkSession, dir: String, colName: String): Long =
    commitSchemaChanges(spark, dir, Seq(DropColumnAlter(colName)))

  /** A CHECK constraint mentioning a column being renamed/dropped would
    * silently stop binding (constraints store SQL text with logical
    * names) — refuse loudly; drop the constraint first. Word-boundary
    * match, so a column `bal` does not trip on a constraint over
    * `global_bal`. */
  private def requireNoConstraintMention(dir: String, colName: String, op: String): Unit = {
    val re = ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(colName) + "(?![A-Za-z0-9_])").r
    val hits = Constraints.list(dir).filter { case (_, sql) => re.findFirstIn(sql).isDefined }
    require(hits.isEmpty,
      s"$op: CHECK constraint(s) ${hits.map(_._1).mkString(", ")} reference `$colName` — " +
        "drop them first (Constraints.drop), then re-add against the new schema")
  }

  /** OPTIMIZE for a versioned table: rewrite the latest version's rows
    * verbatim into `targetFiles` files and commit the new layout as the
    * next version, marked `dataChange=false`. An incremental table
    * accumulates one file set per append (a streaming source commits one
    * per micro-batch) — without compaction, reads degrade to
    * O(small files) opens. The flag is the Delta OPTIMIZE contract: the
    * rows are identical by construction, so [[changes]] skips the step
    * wholesale and incremental consumers (a [[MaterializedAgg]] refresh
    * spanning the compaction) stay O(changed files) instead of seeing
    * every row leave the old files and re-enter the new ones. [[diff]]
    * across a compaction stays CORRECT but loses shared-file pruning for
    * that pair (no files are shared); step through [[changes]] instead.
    *
    * `clusterBy` range-clusters while rewriting (sorted within files), so
    * per-file stats regain the selectivity append fragmentation lost —
    * the matview dirty-group rescan and parquet row-group skipping both
    * feed on exactly that clustering. Old versions still read their old
    * files; [[vacuum]] reclaims them once out of retention.
    *
    * `where` SCOPES the re-layout (Delta's `OPTIMIZE ... WHERE`): only
    * files holding at least one row matching the predicate rewrite; every
    * other file carries into the new manifest byte-identical (hot
    * partitions compact daily without re-laying 100 TB of cold history —
    * O(matching files), not O(table)). The row set is unchanged either
    * way, so the commit stays `dataChange=false`. A predicate matching no
    * file is a no-op: the CURRENT version number returns and no commit is
    * published.
    *
    * On a day-partitioned table the staging's (day, spread) shuffle is the
    * layout: the rows go to it unshuffled, each rewritten day gets at most
    * [[TimePartitioned.FilesPerDay]] files whatever `targetFiles` says, and
    * `clusterBy`/`zOrderCols` are refused (that shuffle would undo them). */
  def commitCompact(spark: SparkSession, dir: String, targetFiles: Int,
      clusterBy: Seq[String] = Seq.empty,
      where: Option[org.apache.spark.sql.Column] = None,
      zOrderCols: Seq[String] = Seq.empty): Long = {
    require(targetFiles >= 1, s"commitCompact: targetFiles must be >= 1, got $targetFiles")
    require(clusterBy.isEmpty || zOrderCols.isEmpty,
      "commitCompact: clusterBy and zOrderCols are mutually exclusive layouts")
    val dayTable = TimePartitioned.dayColumnCached(dir).isDefined
    require(!dayTable || (clusterBy.isEmpty && zOrderCols.isEmpty),
      s"commitCompact: $dir is day-partitioned; its layout is the day staging's, " +
        "so clusterBy/zOrderCols are not supported on it")
    FsIO.withWriteLock(dir, "VersionedTable.commitCompact", TableManager.DefaultLockLeaseMs) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = VersionedTable.log(dir)
      require(committed.nonEmpty, s"commitCompact: $dir has no committed version")
      val next = nextVersion(fs, dir, committed)
      val (pv, pms) = committed.last
      val entries  = checkedEntries(fs, dir, pv, pms)
      val declared = declaredSchemaAt(dir, pv)
      // predicate scoping: ONE column-pruned scan of the predicate's
      // columns finds the files holding matching rows (DV-masked — a row
      // already deleted must not drag its file into the rewrite)
      val (scoped, untouched) = where match {
        case Some(pred) if entries.nonEmpty =>
          import org.apache.spark.sql.functions.col
          val hit = collectDistinctStrings(
            scanEntriesMeta(spark, dir, entries, declared).where(pred), FnameCol)
          entries.partition(e => hit(baseName(e.rel)))
        case _ => (entries, Seq.empty[FileEntry])
      }
      if (where.isDefined && scoped.isEmpty) pv // no matching file: no-op
      else {
        // masked read: compaction MATERIALIZES deletion vectors away — the
        // re-laid rows are the live rows, and the new entries carry no DVs
        // (merge-on-read's compaction discipline)
        val full = scanEntries(spark, dir, scoped, declared)
        val laid =
          if (dayTable) full // stageDataFiles lays it out by day
          // OPTIMIZE ZORDER BY: each rewritten file covers a narrow range
          // of EVERY listed column, so per-file stats prune selective
          // filters on any of them
          else if (zOrderCols.nonEmpty)
            TableManager.zLayoutN(full, zOrderCols, targetFiles,
              "VersionedTable.commitCompact")
          else if (clusterBy.isEmpty) full.repartition(targetFiles)
          else full.repartitionByRange(targetFiles,
              clusterBy.map(c => org.apache.spark.sql.functions.col(s"`$c`")): _*)
            .sortWithinPartitions(clusterBy.head, clusterBy.tail: _*)
        val laidPhys = toPhysical(laid, declared)
        val newRels = stageDataFiles(fs, dir, laidPhys, next)
        // an empty table compacts to an empty manifest only if the previous
        // manifest was empty too — otherwise guarantee one schema-bearing file
        val staged =
          if (newRels.nonEmpty || untouched.nonEmpty || entries.isEmpty) newRels
          else stageDataFiles(fs, dir, laidPhys.coalesce(1), next)
        publishEntries(fs, dir, next,
          Some(untouched ++ staged.map(FileEntry(_, Nil))), dataChange = false,
          prev = Some(entries), opLabel = "OPTIMIZE")
        next
      }
    }
  }

  /** RESTORE the table to the content of an earlier committed version, as
    * a NEW commit (Delta `RESTORE TABLE ... TO VERSION AS OF` semantics:
    * history is never rewritten — a restore is just the next version, so
    * the "bad" versions stay readable and the restore itself is
    * time-travelable and shows up in the change feed as the rows it
    * re-adds/removes). ZERO data movement: the new commit's manifest is
    * the restored version's file list verbatim, every file shared in
    * place — O(1) data cost no matter the table size, which is what makes
    * "roll back the bad batch" affordable on a 100 TB table. Fails loudly
    * if the target version's data was vacuumed (Delta's documented RESTORE
    * hazard). Returns the new version number. */
  def commitRestore(spark: SparkSession, dir: String, toVersion: Long): Long =
    FsIO.withWriteLock(dir, "VersionedTable.commitRestore", TableManager.DefaultLockLeaseMs) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = VersionedTable.log(dir)
      val entry = committed.find(_._1 == toVersion).getOrElse(sys.error(
        s"commitRestore: version $toVersion does not exist in $dir " +
          s"(committed: ${committed.map(_._1).mkString(", ")})"))
      // loud on vacuumed data; deletion vectors restore verbatim with
      // their files (the restored version's row set includes its masks)
      val entries = checkedEntries(fs, dir, toVersion, entry._2)
      val next = nextVersion(fs, dir, committed)
      // SCHEMA restores with the data: if the target predates an evolution
      // (or was itself evolved differently than the head), pin the target's
      // schema at the new version — otherwise declaredSchemaAt(next) would
      // resolve the head's wider schema over the restored narrow files
      val restoredSchema = declaredSchemaAt(dir, toVersion)
      val headSchema     = committed.lastOption.flatMap(h => declaredSchemaAt(dir, h._1))
      if (restoredSchema != headSchema) {
        val pin = restoredSchema.getOrElse(
          org.apache.spark.sql.graft.FooterShim.schemaOf(spark, absOf(dir, entries.head.rel).toString))
        writeDeclaredSchema(fs, dir, next, pin)
      }
      publishEntries(fs, dir, next, Some(entries), opLabel = s"RESTORE $toVersion")
      next
    }

  /** SHALLOW CLONE: create `dstDir` as a new versioned table whose v0
    * manifest references `srcDir`'s files of `version` (latest by default)
    * IN PLACE — metadata-only, zero data copied, O(files) commit cost on
    * any table size (the Delta `CREATE TABLE ... SHALLOW CLONE` shape for
    * cheap dev/test forks of a production table). Manifest entries are
    * ABSOLUTE paths into the source; later DML on the clone copy-on-writes
    * touched files into the clone's own `data/` while untouched entries
    * keep pointing at the source — the source table is never modified
    * through the clone. Hazard (Delta's, documented verbatim): a VACUUM of
    * the SOURCE that drops the cloned version's files breaks the clone's
    * shared entries; deep-clone ([[cloneDeep]]) when the source's
    * retention is not under your control. Fails if `dstDir` already has
    * commits. */
  def cloneShallow(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None): Long =
    clone0(spark, srcDir, dstDir, version, deep = false)

  /** DEEP CLONE: like [[cloneShallow]] but every referenced file is COPIED
    * into the clone's `data/` — O(table) once, and from then on the clone
    * is fully self-contained (source vacuums/drops can't break it). */
  def cloneDeep(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long] = None): Long =
    clone0(spark, srcDir, dstDir, version, deep = true)

  private def clone0(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Long], deep: Boolean): Long =
    FsIO.withWriteLock(dstDir, "VersionedTable.clone", TableManager.DefaultLockLeaseMs) {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs   = new Path(dstDir).getFileSystem(conf)
      require(VersionedTable.log(dstDir).isEmpty,
        s"clone: $dstDir already has commits — clone only creates new tables")
      // a clone CRASHED mid-way leaves orphan v=00000 schema/tombstone
      // files (and, for deep clones, copied data) with NO commit entry;
      // unlike the evolve path, clone hardcodes version 0, so a retry's
      // writeDeclaredSchema would hit rename-onto-existing and brick the
      // destination — sweep the proven-orphan metadata first (the
      // log-empty gate above proves nothing ever committed here)
      Seq(new Path(schemaDir(dstDir), "v=00000.json"),
          new Path(schemaDir(dstDir), "v=00000.tombstones")).foreach { orphan =>
        if (fs.exists(orphan)) fs.delete(orphan, false)
      }
      val srcCommitted = VersionedTable.log(srcDir)
      require(srcCommitted.nonEmpty, s"clone: $srcDir has no committed version")
      val v = version.getOrElse(srcCommitted.last._1)
      val entry = srcCommitted.find(_._1 == v).getOrElse(sys.error(
        s"clone: version $v does not exist in $srcDir"))
      val srcFs      = new Path(srcDir).getFileSystem(conf)
      val srcEntries = checkedEntries(srcFs, srcDir, v, entry._2)
      val cloned =
        if (!deep) // absolute entries: Path(dst, abs) resolves to abs —
          // every existing read/DML/vacuum path handles them unchanged.
          // Deletion vectors clone shallowly too (same hazard, same cure).
          srcEntries.map(e => FileEntry(
            new Path(new Path(srcDir), e.rel).toUri.getPath,
            e.dvs.map(d => new Path(new Path(srcDir), d).toUri.getPath)))
        else {
          fs.mkdirs(dataDir(dstDir))
          def copyIn(rel: String): String = {
            val from = new Path(new Path(srcDir), rel)
            val name = f"c$v%05d-${java.util.UUID.randomUUID().toString.take(8)}-${from.getName}"
            if (!org.apache.hadoop.fs.FileUtil.copy(
                srcFs, from, fs, new Path(dataDir(dstDir), name), false, conf))
              sys.error(s"cloneDeep: could not copy $from into $dstDir")
            s"data/$name"
          }
          val dataCopied = srcEntries.map(e => e.rel -> copyIn(e.rel)).toMap
          // dv sidecars key rows by (file BASE NAME, position); the copy
          // renames every data file, so each sidecar (copied once — they're
          // shared across entries) is REWRITTEN with the clone's names.
          // Positions survive verbatim: the data copy is byte-identical.
          val renamed = dataCopied.map { case (o, n) => baseName(o) -> baseName(n) }
          val remap = org.apache.spark.sql.functions.udf(
            (f: String) => renamed.getOrElse(f, f))
          val dvCopied = srcEntries.flatMap(_.dvs).distinct.map { d =>
            val rewritten = spark.read.parquet(new Path(new Path(srcDir), d).toString)
              .withColumn("fname", remap(org.apache.spark.sql.functions.col("fname")))
            d -> (stageFiles(fs, dstDir, rewritten.coalesce(1), f"c$v%05d", None) match {
              case Seq(one) => one
              case other    => sys.error(s"cloneDeep: sidecar $d staged ${other.size} files")
            })
          }.toMap
          srcEntries.map(e => FileEntry(dataCopied(e.rel), e.dvs.map(dvCopied)))
        }
      // clones carry the source version's DECLARED schema (an evolved
      // source's old files are narrower than the table schema; without
      // this the clone's mixed manifest would read non-deterministically)
      // AND its tombstones (a re-added dropped column on the clone must
      // not resurrect old values from the cloned files)
      declaredSchemaAt(srcDir, v).foreach(s => writeDeclaredSchema(fs, dstDir, 0L, s))
      val srcTombs = tombstonesAt(srcDir, v)
      if (srcTombs.nonEmpty) writeTombstones(fs, dstDir, 0L, srcTombs)
      publishEntries(fs, dstDir, 0L, Some(cloned),
        opLabel = if (deep) "CLONE DEEP" else "CLONE SHALLOW")
      0L
    }

  /** CONVERT an existing plain-parquet directory into version 0 of a NEW
    * versioned table WITHOUT copying or rewriting a byte — Delta's
    * `CONVERT TO DELTA` shape, the migration path that matters at 100 TB
    * (a petabyte parquet lake adopts in O(files) metadata, not O(bytes)
    * rewrite). The table directory is SEPARATE from the data: adopted
    * files are referenced by absolute entries (exactly [[cloneShallow]]'s
    * device, which every read/DML/vacuum path already handles), so the
    * original layout keeps serving legacy readers while the versioned
    * table owns all future history — DML copy-on-write lands in the
    * table's own `data/`, and the table's vacuum NEVER deletes adopted
    * files (its data sweep walks only the table-owned `data/`, the same
    * guarantee shallow-clone sources get): dropping old versions merely
    * unreferences them, and the source directory stays intact for its
    * legacy readers until THEY retire it.
    *
    * Refusals, all loud: a directory with Hive-partition components
    * (`k=v`) — the path-encoded partition values would silently vanish
    * from the rows (Delta's CONVERT takes an explicit partition schema;
    * this engine's layout discipline is OPTIMIZE clustering instead —
    * read with spark.read + CTAS to keep the columns); mixed file
    * schemas (proven DISTRIBUTED via a mergeSchema footer sweep equal to
    * the first footer — a narrower file would otherwise silently
    * null-fill); an existing table at `tableDir`. */
  def convertParquet(spark: SparkSession, srcDir: String, tableDir: String): Long =
    FsIO.withWriteLock(tableDir, "VersionedTable.convertParquet", TableManager.DefaultLockLeaseMs) {
      val conf  = spark.sparkContext.hadoopConfiguration
      val fs    = new Path(tableDir).getFileSystem(conf)
      require(VersionedTable.log(tableDir).isEmpty,
        s"convertParquet: $tableDir already has commits — convert only creates new tables")
      val srcFs = new Path(srcDir).getFileSystem(conf)
      require(srcFs.exists(new Path(srcDir)) && srcFs.getFileStatus(new Path(srcDir)).isDirectory,
        s"convertParquet: $srcDir is not a directory")
      val it = srcFs.listFiles(new Path(srcDir), true)
      val files = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val s = it.next()
        val p = s.getPath
        if (s.isFile && p.getName.endsWith(".parquet") && !p.getName.startsWith("_")
            && !p.getName.startsWith(".")) files += p
      }
      require(files.nonEmpty, s"convertParquet: no *.parquet files under $srcDir")
      val srcRoot = srcFs.getFileStatus(new Path(srcDir)).getPath // normalized
      files.foreach { p =>
        var cur = p.getParent
        while (cur != null && cur != srcRoot) {
          require(!cur.getName.contains("="),
            s"convertParquet: $srcDir is a Hive-partitioned layout " +
              s"(component `${cur.getName}`) — the path-encoded partition " +
              "values would be lost; read it with spark.read.parquet and " +
              "CTAS/commitAppend instead (OPTIMIZE ZORDER re-clusters)")
          cur = cur.getParent
        }
      }
      // every DV/DML path keys rows by file BASE NAME — two adopted files
      // named part-00000.parquet in different subdirs would pass the plain
      // read and then permanently refuse row-level ops at use time; the
      // adoption gate is where that belongs
      val dupNames = files.groupBy(_.getName).filter(_._2.size > 1).keys
      require(dupNames.isEmpty,
        s"convertParquet: duplicate data-file base names under $srcDir " +
          s"(${dupNames.take(3).mkString(", ")}) — row-level operations key " +
          "rows by base name; rename the files or adopt via spark.read + commit")
      // uniform-schema proof, DISTRIBUTED over every footer: ANY mixture
      // of file shapes refuses (a mergeSchema union compared against one
      // arbitrary footer passes whenever the widest file happens to list
      // first — narrower files would then silently null-fill at read)
      val shapes = org.apache.spark.sql.graft.FooterShim
        .distinctFooterShapes(spark, files.map(_.toString).toSeq)
      require(shapes.size == 1,
        s"convertParquet: $srcDir holds files with ${shapes.size} differing " +
          s"schemas (${shapes.take(2).map(_.take(120)).mkString(" VS ")}) — " +
          "normalize first (spark.read + commit)")
      val adopted = files.map(p => FileEntry(p.toUri.getPath, Nil)).toSeq
      publishEntries(fs, tableDir, 0L, Some(adopted), opLabel = "CONVERT")
      0L
    }

  /** True iff every data-changing step in (vFrom, vTo] only ADDED files —
    * delta entries with no removes and no deletion-vector changes. Such a
    * span's change feed is provably `added`-only under the unique-key
    * contract (appends never retract a row), which lets change-feed
    * consumers skip retraction handling entirely
    * ([[MaterializedAgg.refresh]]'s append-only fold). Resolved from the
    * log alone — O(span) small entry reads, no data I/O; a full-manifest
    * entry in the span reports false (conservative: full
    * manifests do not say what they replaced). */
  def isAppendOnlySpan(dir: String, vFrom: Long, vTo: Long): Boolean =
    log(dir).filter { case (v, _) => v > vFrom && v <= vTo }
      .forall { case (v, ms) =>
        isNoDataChange(dir, v, ms) || (parseEntry(dir, v, ms) match {
          case d: DeltaEntry =>
            d.removes.isEmpty && d.dvClears.isEmpty && d.dvAdds.isEmpty
          case _ => false
        })
      }

  /** Rows ADDED by the single committed step ending at `v`: the step's
    * new files read through the span's schema — the change-feed fast
    * path for append-only steps (gate with [[isAppendOnlySpan]]). No
    * diff join, O(step's new files) I/O; the same pruned scan the
    * general diff uses for its to-side. */
  def stepAddedRows(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val prev = log(dir).map(_._1).filter(_ < v).lastOption.getOrElse(
      sys.error(s"stepAddedRows: no committed version below $v in $dir"))
    prunedScans(spark, dir, prev, v, Seq.empty)._2
  }

  /** DESCRIBE HISTORY: one row per committed version — (version,
    * commit timestamp, operation label, dataChange flag, whether the
    * version's data is still retained). Resolved from the log alone
    * (O(versions) small entry reads, no data I/O); versions older than
    * the op= line's introduction report a null operation. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retained = versions(spark, dir).map(_._1).toSet
    log(dir).map { case (v, ms) =>
      val body = entryText(dir, v, ms).getOrElse("")
      val lines = body.split("\n")
      (v, new java.sql.Timestamp(ms),
        lines.find(_.startsWith("op=")).map(_.stripPrefix("op=")).orNull,
        !lines.contains("dataChange=false"), retained(v))
    }.toDF("version", "timestamp", "operation", "data_change", "retained")
  }

  /** The LOGICAL schema of version `v` (latest by default) WITHOUT building
    * a scan plan: the declared schema when one exists, else ONE driver
    * footer read. What catalog/schema-inspection layers should call —
    * [[read]] pays manifest resolution and DV wiring just to answer
    * `.schema`, and the DSv2 layer was building that plan twice per
    * statement (once for the relation's schema, once for the substituted
    * scan). */
  def schemaOf(spark: SparkSession, dir: String,
      version: Option[Long] = None): org.apache.spark.sql.types.StructType =
    schemaOf(spark, dir, log(dir), version)

  /** [[schemaOf]] over an already-listed log (`committed`, as [[log]]
    * returns it), for callers that list it anyway. */
  private[graft] def schemaOf(spark: SparkSession, dir: String,
      committed: Seq[(Long, Long)],
      version: Option[Long]): org.apache.spark.sql.types.StructType = {
    require(committed.nonEmpty, s"schemaOf: $dir has no committed version")
    val v = version.getOrElse(committed.last._1)
    val entry = committed.find(_._1 == v).getOrElse(
      sys.error(s"schemaOf: version $v does not exist in $dir"))
    declaredSchemaAt(dir, v).getOrElse {
      val entries = entriesOfVersion(dir, v, entry._2)
      require(entries.nonEmpty, s"schemaOf: version $v of $dir has no data files")
      footerSchema(spark, dir, entries)
    }
  }

  /** DESCRIBE DETAIL (Delta's verb): one row summarizing the table's
    * CURRENT state — location, head version + commit time, live file/DV
    * counts and bytes (per the head manifest — vacuumed history doesn't
    * count), declared key columns, constraint count, and whether a column
    * mapping (rename/drop history) is active. O(head manifest) driver
    * listing, zero data I/O. */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val committed = log(dir)
    require(committed.nonEmpty, s"detail: $dir has no committed version")
    val (v, ms) = committed.last
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = entriesOfVersion(dir, v, ms)
    def len(rel: String) =
      try fs.getFileStatus(absOf(dir, rel)).getLen catch { case _: Throwable => 0L }
    val dvs = entries.flatMap(_.dvs).distinct
    // column_mapping = a LIVE logical→physical rename mapping;
    // schema_retirements = ANY rename/drop ever (tombstones count even when
    // every live field's names agree) — the flag raw-file readers and
    // history-resolving consumers actually branch on
    Seq((dir, v, new java.sql.Timestamp(ms), committed.size.toLong,
      entries.size.toLong, entries.map(e => len(e.rel)).sum,
      dvs.size.toLong,
      keyColumns(dir).map(_.mkString(",")).orNull,
      Constraints.list(dir).size.toLong,
      hasColumnMapping(dir, v),
      hasSchemaRetirements(dir, v)))
      .toDF("location", "version", "last_modified", "num_commits",
        "num_files", "size_bytes", "num_deletion_vectors", "key_columns",
        "num_constraints", "column_mapping", "schema_retirements")
  }

  /** The version that was CURRENT at `tsMillis` — the greatest committed
    * version with commitMs <= tsMillis (Delta `TIMESTAMP AS OF`
    * resolution). Fails loudly for a timestamp before the first commit. */
  def versionAsOf(dir: String, tsMillis: Long): Long = {
    val committed = log(dir)
    require(committed.nonEmpty, s"versionAsOf: $dir has no committed version")
    committed.filter(_._2 <= tsMillis).lastOption.map(_._1).getOrElse(sys.error(
      s"versionAsOf: $tsMillis precedes the first commit of $dir " +
        s"(earliest commitMs=${committed.head._2})"))
  }

  /** The FIRST committed version AT or AFTER `tsMillis` (Delta's
    * `startingTimestamp` resolution for streams and change feeds), or
    * None when every commit precedes the timestamp. */
  def versionAtOrAfter(dir: String, tsMillis: Long): Option[Long] =
    log(dir).find(_._2 >= tsMillis).map(_._1)

  /** Time travel by TIMESTAMP: [[read]] at [[versionAsOf]]`(tsMillis)`. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAsOf(dir, tsMillis)))

  /** Read a table version — the latest by default, or a pinned one (time
    * travel). The returned plan reads exactly that version's manifest
    * files, all immutable: later commits and vacuums of OTHER versions
    * never touch them. */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val committed = VersionedTable.log(dir)
    require(committed.nonEmpty, s"VersionedTable.read: $dir has no committed version")
    val v = version.getOrElse(committed.last._1)
    val entry = committed.find(_._1 == v)
    require(entry.isDefined,
      s"version $v does not exist (committed: ${committed.map(_._1).mkString(", ")})")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = entriesOfVersion(dir, v, entry.get._2)
    require(entries.nonEmpty, s"version $v of $dir committed no data files")
    val missing = entries.flatMap(e => e.rel +: e.dvs)
      .filterNot(rel => fs.exists(new Path(dir, rel)))
    require(missing.isEmpty,
      s"version $v of $dir was vacuumed " +
        s"(data retained for: ${versions(spark, dir).map(_._1).mkString(", ")})")
    scanEntries(spark, dir, entries, declaredSchemaAt(dir, v)) // DV-masked; plain when DV-free
  }

  /** Grace window for NEVER-REFERENCED files during [[vacuum]] (Delta's
    * VACUUM modification-time retention, applied to exactly the class it
    * protects): lock-free writers ([[commitAppend]], [[copyOnWrite]], the
    * DV commits, [[commitMerge]]) stage data files and `.stage-*.__tmp`
    * dirs while holding NO lease — to a concurrent vacuum those are
    * indistinguishable from a crashed attempt's orphans. Sweeping them
    * would delete a live writer's staged bytes and the writer would then
    * publish a manifest referencing vanished files (the publish tail
    * detects that and aborts loudly — see `requireStagedPresent` — but the
    * batch is still lost and must re-run). Files younger than the grace
    * are therefore SKIPPED; genuinely crashed litter is swept by the next
    * vacuum after it ages past the window. Files referenced by a committed
    * manifest (retained or dropped) never need the grace — dropping them
    * is deliberate retention policy, not a race. Size above the longest
    * legitimate write's stage phase. */
  val DefaultVacuumGraceMs: Long = 6L * 3600 * 1000

  /** Drop the data of all but the last `retainLast` committed versions,
    * plus any never-committed orphans from crashed commits (and stage
    * litter) OLDER than `graceMs` (see [[DefaultVacuumGraceMs]] — young
    * unreferenced files may be a live lock-free writer's staging). The log
    * keeps full history — a vacuumed version's read fails with a
    * "vacuumed" message, not "unknown version". Returns the dropped
    * version numbers. Readers of retained versions are untouched (their
    * files never move); a reader pinned to a version being vacuumed is the
    * documented Delta-VACUUM hazard — size `retainLast` to the longest
    * reader. */
  def vacuum(spark: SparkSession, dir: String, retainLast: Int,
      graceMs: Long = DefaultVacuumGraceMs): Seq[Long] = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    vacuumKeeping(spark, dir, graceMs,
      committed => committed.map(_._1).takeRight(retainLast).toSet)._1
  }

  /** DRY RUN (Delta's `VACUUM ... DRY RUN`): compute exactly what a real
    * [[vacuum]] with the same arguments would delete — dropped version
    * numbers plus every file/directory path — and delete NOTHING. Runs
    * under the same lease so the answer is a consistent snapshot; the
    * returned paths are table-relative. */
  def vacuumDryRun(spark: SparkSession, dir: String, retainLast: Int,
      graceMs: Long = DefaultVacuumGraceMs): (Seq[Long], Seq[String]) = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    vacuumKeeping(spark, dir, graceMs,
      committed => committed.map(_._1).takeRight(retainLast).toSet, dryRun = true)
  }

  /** AGE-based retention (Delta's `VACUUM ... RETAIN n HOURS` shape at
    * version grain): drop the data of versions COMMITTED more than
    * `olderThanMs` ago, always keeping the newest `retainLast` regardless
    * of age (the latest version must never become unreadable). Size the
    * window to the longest reader, same hazard as [[vacuum]]. */
  def vacuumOlderThan(spark: SparkSession, dir: String, olderThanMs: Long,
      retainLast: Int = 1,
      graceMs: Long = DefaultVacuumGraceMs): Seq[Long] = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val cutoff = System.currentTimeMillis() - olderThanMs
    vacuumKeeping(spark, dir, graceMs, committed =>
      (committed.filter(_._2 >= cutoff).map(_._1) ++
        committed.map(_._1).takeRight(retainLast)).toSet)._1
  }

  /** Age-based [[vacuumDryRun]] — the plan of [[vacuumOlderThan]] with the
    * same arguments, deleting nothing. */
  def vacuumOlderThanDryRun(spark: SparkSession, dir: String, olderThanMs: Long,
      retainLast: Int = 1,
      graceMs: Long = DefaultVacuumGraceMs): (Seq[Long], Seq[String]) = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val cutoff = System.currentTimeMillis() - olderThanMs
    vacuumKeeping(spark, dir, graceMs, committed =>
      (committed.filter(_._2 >= cutoff).map(_._1) ++
        committed.map(_._1).takeRight(retainLast)).toSet, dryRun = true)
  }

  /** Shared vacuum core. `dryRun = true` computes the FULL deletion plan
    * (same lease, same decisions) and touches nothing; the second return
    * component lists every planned path table-relative. */
  private def vacuumKeeping(spark: SparkSession, dir: String,
      graceMs: Long, keepOf: Seq[(Long, Long)] => Set[Long],
      dryRun: Boolean = false): (Seq[Long], Seq[String]) =
    FsIO.withWriteLock(dir, "VersionedTable.vacuum", TableManager.DefaultLockLeaseMs) {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rootUri = new Path(dir).toUri.getPath
      val planned = scala.collection.mutable.ArrayBuffer[String]()
      def del(p: Path, recursive: Boolean): Unit = {
        val abs = p.toUri.getPath
        planned += (if (abs.startsWith(rootUri))
          abs.stripPrefix(rootUri).stripPrefix("/") else abs)
        if (!dryRun) { fs.delete(p, recursive); () }
      }
      val cutoffMs = System.currentTimeMillis() - math.max(0L, graceMs)
      // crashed-before-rename staging litter goes too — but `.stage-*.__tmp`
      // dirs may be a LIVE lock-free writer's in-flight staging (no lease
      // held during the O(data) phase): only sweep past the grace window
      if (fs.exists(new Path(dir)))
        fs.listStatus(new Path(dir)).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.endsWith(".__tmp") &&
            s.getModificationTime < cutoffMs)
          .foreach(s => del(s.getPath, true))
      if (fs.exists(logDir(dir)))
        fs.listStatus(logDir(dir)).toSeq
          .filter(_.getPath.getName.endsWith(".commit.tmp"))
          .foreach(s => del(s.getPath, false))
      val committed = VersionedTable.log(dir)
      // declared-schema housekeeping: staging litter and crashed evolves'
      // orphan files (version never committed) go; COMMITTED versions'
      // schema files are kept forever, like log entries — retained
      // versions resolve their schema through files below retention
      if (fs.exists(schemaDir(dir))) {
        val committedVs = committed.map(_._1).toSet
        fs.listStatus(schemaDir(dir)).toSeq.foreach { s =>
          val n = s.getPath.getName
          val orphan =
            schemaName.findFirstMatchIn(n).exists(m => !committedVs(m.group(1).toLong)) ||
              tombstoneName.findFirstMatchIn(n).exists(m => !committedVs(m.group(1).toLong))
          if (n.endsWith(".tmp") || orphan) del(s.getPath, false)
        }
      }
      val keep      = keepOf(committed)
      // FILE REFCOUNT across retained manifests: a data file lives as long
      // as ANY retained version lists it — sharing means deletion must
      // check every retained manifest, not just the version being dropped.
      // Deletion-vector sidecars refcount exactly like data files: a DV
      // lives as long as any retained entry masks through it.
      // resolution-based: a retained DELTA version's full file set comes
      // from replaying its chain (anchors below retention stay readable —
      // the log keeps every entry forever)
      val keepRels: Set[String] = committed.filter(e => keep(e._1))
        .flatMap { case (v, ms) =>
          entriesOfVersion(dir, v, ms).flatMap(e => e.rel +: e.dvs)
        }.toSet
      // one listing of data/ (plus one per day directory) answers every
      // existence question below
      val dataFiles = listDataFiles(fs, dir)
      val dataRels  = dataFiles.map(_._1).toSet
      def present(rel: String): Boolean =
        if (rel.startsWith("data/")) dataRels(rel) else fs.exists(new Path(dir, rel))
      // versions being dropped (data present now, swept below)
      val dropped = committed.filterNot(e => keep(e._1))
        .filter { case (v, ms) =>
          val rels = entriesOfVersion(dir, v, ms).map(_.rel)
          rels.nonEmpty && rels.forall(present) && rels.exists(rel => !keepRels.contains(rel))
        }.map(_._1)
      // data/ sweep, two classes with different proof obligations:
      //  - referenced by SOME committed manifest but no retained one —
      //    a dropped version's exclusive file: deliberate retention drop,
      //    deleted immediately;
      //  - referenced by NO manifest at all — either a crashed attempt's
      //    orphan or a LIVE lock-free writer's just-staged file (the two
      //    are indistinguishable from here): deleted only past the grace
      //    window, so a vacuum racing an in-flight append/merge/DV commit
      //    never sweeps the bytes it is about to publish.
      // "ever referenced" needs only each entry's own ADDS (every data file
      // is introduced by exactly one commit), so this is O(versions) entry
      // parses, not O(versions) chain replays.
      val everReferenced: Set[String] = committed.flatMap { case (v, ms) =>
        parseEntry(dir, v, ms) match {
          case FullEntry(es) => es.flatMap(e => e.rel +: e.dvs)
          case DeltaEntry(adds, _, _, dvAdds) => adds ++ dvAdds.map(_._2)
        }
      }.toSet
      val swept = dataFiles
        .filterNot { case (rel, _) => keepRels.contains(rel) }
        .filter { case (rel, st) => everReferenced.contains(rel) || st.getModificationTime < cutoffMs }
      swept.foreach { case (_, st) => del(st.getPath, false) }
      // day directories (data/p_day=<day>/) this sweep emptied go too; the
      // non-recursive delete refuses a directory a racing stage just moved
      // a file into, which then simply stays
      val sweptRels = swept.map(_._1).toSet
      dataFiles.groupBy { case (rel, _) => rel.split("/").init.mkString("/") }
        .collect { case (sub, fs0) if sub != "data" && fs0.forall(f => sweptRels(f._1)) =>
          new Path(dir, sub) }
        .foreach(p => try del(p, false) catch { case _: java.io.IOException => () })
      // per-version stats manifests ([[VersionedStats]]) of dropped
      // versions describe files that no longer exist — sweep them (and
      // their crashed staging litter) so the stats root mirrors retention
      val statsRoot = new Path(dir, "_stats")
      if (fs.exists(statsRoot))
        fs.listStatus(statsRoot).toSeq.foreach { s =>
          val n = s.getPath.getName
          val vOf = "^v=(\\d+)$".r.findFirstMatchIn(n).map(_.group(1).toLong)
          if (n.endsWith(".__tmp") || vOf.exists(!keep(_)))
            del(s.getPath, true)
        }
      (dropped.sorted, planned.toSeq.sorted)
    }

  /** Row-level DIFF between two committed versions, keyed by `keyCols`:
    * one row per changed key with change_type ∈ added | removed |
    * updated. "updated" means the versions disagree (null-safely) on at
    * least one COMMON non-key column; columns present in only one
    * version's schema (mergeSchema evolution) are ignored — a pure
    * schema-widening commit diffs as empty, which is the truthful answer
    * about the ROWS. Keys are assumed unique per version (the upsert/
    * delete key contract) and non-null.
    *
    * Scale shape (100 TB): **O(changed files), not O(table)** — a data
    * file listed by BOTH versions' manifests holds bit-identical rows on
    * both sides of the join, every one of which diffs to "unchanged", so
    * shared files are pruned from BOTH scans before any I/O (sound
    * because keys are unique per version: a key in a shared file cannot
    * also appear in an exclusive file of either version). A daily
    * incremental commit on a 100 TB corpus diffs against yesterday by
    * reading only the day's rewritten files. The residue is one
    * full-outer join over the exclusive files — skinny keys + only the
    * compared columns are read (column pruning reaches both scans). The
    * spec proves the pruning physically: shared files are corrupted on
    * disk after commit and the diff still answers. */
  def diff(spark: SparkSession, dir: String,
      vFrom: Long, vTo: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val (a, b) = prunedScans(spark, dir, vFrom, vTo, keyCols)
    a.as("a").join(b.as("b"), stepJoinCond(keyCols), "full_outer")
      .withColumn("change_type", stepChangeType(a, b, keyCols))
      .where(col("change_type").isNotNull)
      .select(keyCols.map(k => coalesce(col(s"a.`$k`"), col(s"b.`$k`")).as(k)) :+
        col("change_type"): _*)
  }

  /** Change-data feed over a version span: one row per (key, version step)
    * that changed, with `version` = the step's TO version, `change_type`,
    * and for each requested value column `<c>_old` / `<c>_new` (null on the
    * absent side of added/removed). Each consecutive step (v, v+1) in
    * (vFrom, vTo] diffs independently with the same shared-file pruning as
    * [[diff]], so a span of N daily incremental commits costs N × O(that
    * day's changed files) — the feed never rereads the corpus. `valueCols`
    * must exist in every version of the span (explicit, not inferred: at
    * 100 TB, schema resolution must not require touching every version's
    * footers). "updated" still means ANY common non-key column disagrees —
    * a step that changed only an unrequested column reports `updated` with
    * identical old/new requested values, which is the truthful feed. */
  def changes(spark: SparkSession, dir: String, vFrom: Long, vTo: Long,
      keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(vFrom <= vTo, s"changes: vFrom $vFrom > vTo $vTo")
    require(keyCols.nonEmpty, "changes needs at least one key column")
    // valueCols MAY be empty (a table whose keys cover every column, or a
    // replay step below every value column's evolve commit): the diff then
    // reports added/removed only — "updated" cannot exist when the compared
    // non-key column set is empty (stepChangeType's eq degenerates to true)
    def stepDf(a0: Long, b0: Long): DataFrame = {
      val (a, b) = prunedScans(spark, dir, a0, b0, keyCols)
      require(valueCols.forall(a.columns.contains) && valueCols.forall(b.columns.contains),
        s"value columns ${valueCols.mkString(",")} must exist in versions $a0 and $b0 " +
          s"(have: ${a.columns.intersect(b.columns).mkString(",")}) — a column added " +
          "by a LATER evolution exists only from its evolve commit on (request the " +
          "span's columns, or diff from the evolve commit); a RENAME/DROP mid-span " +
          "requires re-bootstrapping the consumer")
      a.as("a").join(b.as("b"), stepJoinCond(keyCols), "full_outer")
        .withColumn("change_type", stepChangeType(a, b, keyCols))
        .where(col("change_type").isNotNull)
        .select(
          keyCols.map(k => coalesce(col(s"a.`$k`"), col(s"b.`$k`")).as(k)) ++
            Seq(lit(b0).as("version"), col("change_type")) ++
            valueCols.flatMap(c => Seq(
              col(s"a.`$c`").as(s"${c}_old"), col(s"b.`$c`").as(s"${c}_new"))): _*)
    }
    // steps are consecutive COMMITTED version pairs: crashed attempts
    // leave permanent number gaps (nextVersion never reuses), so a dense
    // (v, v+1) walk would demand versions that never existed and wedge
    // every consumer whose span crosses a gap. dataChange=false steps
    // (compactions) carry identical rows in new files: comparing them
    // would read the ENTIRE table to report nothing — skipped wholesale
    // (the [[commitCompact]] contract).
    val committed = VersionedTable.log(dir)
    val entryMs   = committed.toMap
    require(entryMs.contains(vTo),
      s"changes: version $vTo does not exist in $dir " +
        s"(committed head: ${committed.lastOption.map(_._1).getOrElse(-1L)})")
    val commV = committed.map(_._1)
    val base = commV.filter(_ <= vFrom).lastOption.getOrElse(sys.error(
      s"changes: no committed version at or below $vFrom in $dir"))
    val span = commV.filter(v => v > vFrom && v <= vTo)
    val live = (base +: span).sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
      .filterNot { case (_, b) =>
        entryMs.get(b).exists(ms => isNoDataChange(dir, b, ms)) }
    if (live.isEmpty && vFrom < vTo)
      stepDf(base, vTo).limit(0) // compaction-only span: EMPTY feed, right schema
    else live.map { case (a, b) => stepDf(a, b) }.reduceOption(_.unionByName(_))
      .getOrElse(sys.error(s"changes: empty span ($vFrom, $vFrom] has no steps"))
  }

  /** NET row-level change between two committed versions, keyed by
    * `keyCols`, carrying each requested value column's final (`_new`) and
    * initial (`_old`) value — the one-join span diff a REPLICATION consumer
    * wants. Where [[changes]] pays one full-outer join per version step
    * plus a window to find each key's last state, this diffs the span's
    * ENDPOINTS directly: a key added then removed inside the span nets to
    * no row (the mirror never saw it), an update chain nets to one row
    * with the final values — the mirror's end state is identical, at one
    * join and one shuffle pass. Same shared-file pruning as [[diff]]
    * (O(span-changed files), never O(table)) and the same unique-key /
    * additive-evolution contract. */
  def netChanges(spark: SparkSession, dir: String, vFrom: Long, vTo: Long,
      keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(vFrom <= vTo, s"netChanges: vFrom $vFrom > vTo $vTo")
    require(valueCols.nonEmpty, "netChanges: need at least one value column")
    require(keyCols.nonEmpty, "netChanges needs at least one key column")
    // TO-ENDPOINT SLIDING past dataChange=false commits: a trailing
    // compaction re-lays every file, so diffing against its manifest would
    // lose shared-file pruning and read O(table) to report nothing. Its
    // rows are identical to its predecessor's by the [[commitCompact]]
    // contract, so the TO endpoint slides down to the nearest data-changing
    // commit — same answer, pruned I/O. (The FROM side never slides: later
    // commits chain on top of the post-compact files, so vFrom's own
    // manifest is the one that shares files with the to side.) A span that
    // nets to re-layouts only is the truthful EMPTY feed.
    val logSeq = VersionedTable.log(dir)
    require(logSeq.exists(_._1 == vTo),
      s"netChanges: version $vTo does not exist in $dir (committed head: " +
        s"${logSeq.lastOption.map(_._1).getOrElse(-1L)}) — a replication " +
        "consumer advancing its offset past the head would silently skip " +
        "every later commit")
    val ef = vFrom
    val et = logSeq.filter(_._1 <= vTo).reverse
      .find { case (vv, ms) => !isNoDataChange(dir, vv, ms) }
      .map(_._1).getOrElse(vTo)
    if (et <= ef) {
      val b0 = read(spark, dir, Some(et))
      return b0.limit(0).select(
        keyCols.map(k => col(s"`$k`")) ++
          Seq(lit(vTo).as("version"), lit(null).cast("string").as("change_type")) ++
          valueCols.flatMap(c => Seq(
            col(s"`$c`").as(s"${c}_old"), col(s"`$c`").as(s"${c}_new"))): _*)
    }
    val (a, b) = prunedScans(spark, dir, ef, et, keyCols)
    require(valueCols.forall(a.columns.contains) && valueCols.forall(b.columns.contains),
      s"value columns ${valueCols.mkString(",")} must exist in versions $vFrom and $vTo " +
        s"(have: ${a.columns.intersect(b.columns).mkString(",")})")
    a.as("a").join(b.as("b"), stepJoinCond(keyCols), "full_outer")
      .withColumn("change_type", stepChangeType(a, b, keyCols))
      .where(col("change_type").isNotNull)
      .select(
        keyCols.map(k => coalesce(col(s"a.`$k`"), col(s"b.`$k`")).as(k)) ++
          Seq(lit(vTo).as("version"), col("change_type")) ++
          valueCols.flatMap(c => Seq(
            col(s"a.`$c`").as(s"${c}_old"), col(s"b.`$c`").as(s"${c}_new"))): _*)
  }

  private def stepJoinCond(keyCols: Seq[String]) = {
    import org.apache.spark.sql.functions.col
    keyCols.map(k => col(s"a.`$k`") === col(s"b.`$k`")).reduce(_ && _)
  }

  /** added/removed/updated classifier over the aliased a/b join (null when
    * the key is present and identical on both sides). */
  private def stepChangeType(a: DataFrame, b: DataFrame, keyCols: Seq[String]) = {
    import org.apache.spark.sql.functions._
    val nonKey = a.columns.intersect(b.columns).filterNot(keyCols.contains)
    val eq = nonKey.map(c => col(s"a.`$c`") <=> col(s"b.`$c`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    when(col(s"b.`${keyCols.head}`").isNull, lit("removed"))
      .when(col(s"a.`${keyCols.head}`").isNull, lit("added"))
      .when(!eq, lit("updated"))
  }

  /** The two scan sides of a version-pair diff, with files listed by BOTH
    * versions' manifests pruned from BOTH sides before any I/O (they hold
    * bit-identical rows, every one of which diffs to "unchanged" — sound
    * because keys are unique per version). Existence (vacuum detection) is
    * checked only for the files actually read. */
  private def prunedScans(spark: SparkSession, dir: String,
      vFrom: Long, vTo: Long, keyCols: Seq[String]): (DataFrame, DataFrame) = {
    // keyCols may be EMPTY for side-only consumers ([[stepAddedRows]]);
    // the diff/changes/netChanges joins require their own non-empty keys
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = VersionedTable.log(dir)
    def entriesAt(v: Long): Seq[FileEntry] = {
      val entry = committed.find(_._1 == v)
      require(entry.isDefined,
        s"version $v does not exist (committed: ${committed.map(_._1).mkString(", ")})")
      entriesOfVersion(dir, v, entry.get._2)
    }
    val entriesA = entriesAt(vFrom)
    val entriesB = entriesAt(vTo)
    // DECLARED-SCHEMA span handling: when the span crosses an ADDITIVE
    // evolution (vTo's declared schema is a superset of vFrom's, same
    // physical names and types), BOTH sides read through vTo's schema — the
    // from side's files null-fill the new columns, so the diff reports them
    // truthfully as old=null (Delta CDF's null-fill). A NON-additive change
    // across the span (RENAME/DROP COLUMN — a mapping or field-set
    // divergence) cannot be diffed under one schema and refuses loudly.
    def lcn(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val declA = declaredSchemaAt(dir, vFrom)
    val declB = declaredSchemaAt(dir, vTo)
    val spanDecl: (Option[org.apache.spark.sql.types.StructType],
        Option[org.apache.spark.sql.types.StructType]) =
      if (declA == declB) (declA, declB)
      else {
        val additive = declA match {
          case Some(a) =>
            val bByName = declB.toSeq.flatMap(_.fields).map(f => lcn(f.name) -> f).toMap
            a.fields.forall(af => bByName.get(lcn(af.name)).exists(bf =>
              lcn(physName(bf)) == lcn(physName(af)) &&
                normType(bf.dataType) == normType(af.dataType)))
          case None =>
            // the span contains the table's FIRST schema commit; it is pure
            // additive evolution iff no rename (mapping) or drop (tombstone)
            // has ever landed at or below vTo
            declB.exists(b => !hasMapping(b)) && tombstonesAt(dir, vTo).isEmpty
        }
        require(additive,
          s"changes/diff: the span ($vFrom, $vTo] of $dir crosses a NON-additive " +
            "schema change (RENAME/DROP COLUMN) — the two sides cannot be " +
            "compared under one schema. Diff in sub-spans that do not cross " +
            "the schema commit, or re-bootstrap the consumer/stream from a " +
            "fresh snapshot.")
        (declB, declB)
      }
    // the share key is (file, dv set): a file listed by both versions but
    // masked DIFFERENTLY holds changed rows and must stay in both scans
    def keyOf(e: FileEntry)          = (e.rel, e.dvs.toSet)
    val shared: Set[(String, Set[String])] =
      entriesA.map(keyOf).toSet.intersect(entriesB.map(keyOf).toSet)
    def scan(entries: Seq[FileEntry],
        declared: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
      val excl = entries.filterNot(e => shared(keyOf(e)))
      val missing = excl.flatMap(e => e.rel +: e.dvs)
        .filterNot(rel => fs.exists(new Path(dir, rel)))
      require(missing.isEmpty,
        s"diff: data files of $dir were vacuumed (missing: ${missing.take(3).mkString(", ")})")
      if (excl.nonEmpty)
        scanEntries(spark, dir, excl, declared) // DV-masked per side
      else {
        // schema-only empty side: the declared (logical) schema when one
        // exists, else a DRIVER footer read — either way an empty
        // LocalRelation (spark.read.parquet would launch a schema-inference
        // job just to build an empty frame)
        require(entries.nonEmpty, s"diff: version has no data files in $dir")
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          declared.getOrElse(
            org.apache.spark.sql.graft.FooterShim.schemaOf(
              spark, absOf(dir, entries.head.rel).toString)))
      }
    }
    val a = scan(entriesA, spanDecl._1)
    val b = scan(entriesB, spanDecl._2)
    require(keyCols.forall(a.columns.contains) && keyCols.forall(b.columns.contains),
      s"key columns ${keyCols.mkString(",")} must exist in both versions")
    (a, b)
  }
}
