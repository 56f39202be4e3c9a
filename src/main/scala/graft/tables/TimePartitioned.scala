package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hidden time-partitioning — the Iceberg `days(ts)` transform contract:
  * the table partitions by a DERIVED day key, but readers query the raw
  * timestamp column and the reader maps their time-range predicate onto
  * partition filters automatically. Users never see (or mis-filter) the
  * partition column; forgetting it cannot cause a full scan, because the
  * mapping lives in the read path, not in query discipline.
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

  /** Table property recording the hidden day-partitioning: its value is
    * the raw timestamp (epoch-nanos long) column the `p_day` key derives
    * from. Written by [[assertMarker]] after every catalog write (an
    * overwrite wipes the directory, marker included) and read by
    * [[dayColumnOf]] — the catalog's `PARTITIONED BY (days(ts))` tables
    * and the optimizer's hidden-pruning rule both resolve through it. */
  val DaysProp = "graft.partition.days"

  /** The day-derived timestamp column of a day-partitioned directory, or
    * None for plain dirs. One `_props` listing per call — hot paths use
    * [[dayColumnCached]]. */
  def dayColumnOf(dir: String): Option[String] =
    VersionedTable.properties(dir).collectFirst { case (DaysProp, v) => v }

  // process-wide dir → marker cache: the pruning rule runs inside a
  // fixed-point optimizer batch and the catalog consults the marker on
  // every loadTable — neither should pay the `_props` listing more than
  // once per dir. Keys are FS-QUALIFIED (`/tmp/x` and `file:/tmp/x` are
  // the same directory — the catalog holds the bare form, the optimizer
  // rule sees the relation's qualified rootPath; unnormalized they would
  // cache independently and a drop would only invalidate one form).
  // Invalidated by assertMarker and table drop.
  private val dayColCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()
  private def cacheKey(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(FsIO.hadoopConf()).makeQualified(p).toString
  }
  def dayColumnCached(dir: String): Option[String] =
    dayColCache.computeIfAbsent(cacheKey(dir), _ => dayColumnOf(dir))
  def invalidateDayColumn(dir: String): Unit = { dayColCache.remove(cacheKey(dir)); () }

  /** (Re-)persist the day-partitioning marker — must follow every
    * overwrite, which clears the directory. */
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

  /** Write `df` partitioned by the UTC day of `tsNanosCol`. One shuffle on
    * (day, intra-day spread) so each partition directory gets contiguous,
    * FEW files (the partitionBy small-file discipline of `buildIvfIndex`)
    * WITHOUT funneling a whole day through one task — hashing on the day
    * key alone serialized a hot day (1 TB of one p_day value) into a
    * single straggler task writing a single multi-GB file. `filesPerDay`
    * bounds both the parallelism and the per-directory file count. */
  def write(df: DataFrame, dir: String, tsNanosCol: String,
      filesPerDay: Int = 8): Unit =
    writeMode(df, dir, tsNanosCol, filesPerDay, "overwrite")

  /** How long [[append]]'s PUBLISH step waits out a LIVE maintenance
    * writer before failing loudly with the holder's label/age. The
    * publish hold is rename-grain (the data already staged lock-free),
    * so this only needs to absorb rival appenders' publishes and a short
    * heal; deliberately NOT long enough to silently absorb a multi-hour
    * compaction or overwrite — that is a pipeline stall better surfaced
    * than hidden inside an append call. */
  val AppendMaxWaitMs: Long = 60L * 1000

  /** Sibling directory holding per-batch append stages — OUTSIDE the
    * table root, so readers and the maintenance swap protocols never see
    * a half-written batch, and a maintenance writer renaming day dirs
    * can never capture one. */
  private[graft] def appendStageRoot(dir: String) =
    new org.apache.hadoop.fs.Path(dir + ".__append_stage")

  private val AppendPublishIntentName = "_publish_intent"

  /** APPEND into an existing day-partitioned layout — new files land in
    * their day directories next to the old ones (the catalog INSERT INTO
    * path). Same shuffle discipline as [[write]].
    *
    * STAGE-THEN-PUBLISH: the data-proportional write lands lock-free in
    * a per-batch stage under [[appendStageRoot]] (guarded by the batch's
    * OWN heartbeat lease, which is what tells a maintenance sweeper the
    * stage is live, not crash garbage); only the publish — metadata-grain
    * renames of the staged files into their root day dirs — runs under
    * the TABLE lease. Concurrent appenders therefore stage in parallel
    * and serialize only on millisecond renames, while the table lease
    * still guarantees no maintenance writer is mid-swap when files land:
    * the unserialized-append hazard (rows landing in a day the live
    * overwrite's intent already recorded as "retire" — swept to trash
    * with it) stays closed. Crashed predecessors heal under the same
    * lease before the publish.
    *
    * Crash contract: before the batch's `_publish_intent` exists, a
    * crashed append left nothing in the table — the stage is swept at
    * the next maintenance touch and the batch reports failed. From the
    * intent on, the publish rolls FORWARD ([[recoverAppendStages]]): the
    * batch lands exactly-once even if the appender dies mid-rename, at
    * worst waiting for the next append/heal/maintenance call to finish
    * the moves. A NON-crash failure after the intent surfaces as
    * [[AppendPending]] — deferred success, never resubmit. */
  def append(df: DataFrame, dir: String, tsNanosCol: String,
      filesPerDay: Int = 8, leaseMs: Long = MaintLeaseMs,
      maxWaitMs: Long = AppendMaxWaitMs): Unit = {
    val root  = new org.apache.hadoop.fs.Path(dir)
    val fs    = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(
      appendStageRoot(dir), java.util.UUID.randomUUID().toString)
    // the stage lease outlives both phases: while fresh, no sweeper
    // classifies this stage as crashed; if our heartbeat stalls past the
    // lease, a sweeper may legally own the stage — verifyOwned below
    // aborts the publish instead of racing it
    FsIO.withWriteLockHeartbeat(stage.toString, "TimePartitioned.append.stage",
        leaseMs) { stageHb =>
      var intentWritten = false
      try {
        writeMode(df, stage.toString, tsNanosCol, filesPerDay, "overwrite")
        FsIO.withWriteLockHeartbeatRetry(dir, "TimePartitioned.append", leaseMs,
            maxWaitMs) { hb =>
          recoverAll(fs, root, leaseMs,
            () => hb.verifyOwned("healing a crashed predecessor"))
          stageHb.verifyOwned("publishing the staged batch")
          hb.verifyOwned("publishing the staged batch")
          // durable intent BEFORE the first rename: from here a crash
          // rolls forward (the batch publishes exactly-once); before it,
          // a crash sweeps the stage (the batch never happened)
          FsIO.writeText(
            new org.apache.hadoop.fs.Path(stage, AppendPublishIntentName).toString, "")
          intentWritten = true
          try publishAppendStage(fs, stage, root)
          catch {
            case _: java.io.IOException | _: IllegalArgumentException =>
              // one inline retry: publishAppendStage is idempotent, and a
              // transient FS hiccup should not demote a committed batch
              // to deferred delivery
              Thread.sleep(200L)
              publishAppendStage(fs, stage, root)
          }
        }
      } catch {
        case t: Throwable if !intentWritten =>
          // refused (LockBusy) or failed BEFORE the intent: withdraw our
          // own stage so a refused append provably wrote nothing
          try fs.delete(stage, true)
          catch { case _: java.io.IOException => () }
          throw t
        case t: Throwable =>
          // the intent is durable, so the batch WILL land — the surviving
          // stage rolls forward at the next append/heal/maintenance touch.
          // The typed failure tells the caller NOT to resubmit: a retry of
          // a durably-committed batch would land every row twice.
          throw new AppendPending(
            s"append to $dir: publish interrupted AFTER the durable intent — " +
              "the batch is committed and will finish publishing at the next " +
              "maintenance touch of this table; do NOT resubmit it", t)
      }
    }
  }

  /** Thrown when an [[append]] fails after its publish intent is durable:
    * the batch is COMMITTED (it rolls forward at the next maintenance
    * touch) but not yet fully visible. Callers must treat this as
    * deferred success — resubmitting the batch would duplicate it. */
  final class AppendPending(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** Move every staged day file into its root day directory, then drop
    * the stage. Idempotent — an interrupted publish re-runs to
    * completion: a whole-day rename is used when the target day is new
    * (moves any checksum sidecars along for free); otherwise files move
    * one rename each, and a file already present at the destination
    * (an interrupted copy+delete on an object store) just drops its
    * stage copy. */
  private def publishAppendStage(fs: org.apache.hadoop.fs.FileSystem,
      stage: org.apache.hadoop.fs.Path, root: org.apache.hadoop.fs.Path): Unit = {
    fs.mkdirs(root)
    fs.listStatus(stage).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_day="))
      .foreach { d =>
        val dstDay = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
        if (!fs.exists(dstDay)) {
          require(fs.rename(d.getPath, dstDay),
            s"append: could not publish ${d.getPath} to $dstDay")
        } else {
          fs.listStatus(d.getPath).toSeq
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith("."))
            .foreach { f =>
              val dst = new org.apache.hadoop.fs.Path(dstDay, f.getPath.getName)
              if (fs.exists(dst)) fs.delete(f.getPath, false)
              else require(fs.rename(f.getPath, dst),
                s"append: could not publish ${f.getPath} to $dst")
            }
        }
      }
    fs.delete(stage, true)
  }

  /** Sweep or roll forward CRASHED append stages — called under the
    * table lease by every maintenance entry point. A stage whose own
    * lease file is fresh belongs to a LIVE appender (it is either still
    * staging, or waiting on the very table lease this sweeper holds) and
    * is left alone; a stale/abandoned stage WITH a publish intent
    * completes its moves (the batch lands exactly-once), one without is
    * deleted (the batch never published — its writer reports failure). */
  private def recoverAppendStages(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, staleMs: Long, check: () => Unit): Unit = {
    val sroot = appendStageRoot(root.toString)
    if (!fs.exists(sroot)) return
    val entries = fs.listStatus(sroot).toSeq
    // a stale lock, or a dead holder's lease-renewal temp, with NO stage
    // dir: the appender died between acquiring its stage lease and the
    // first staged write (or a sweep died mid-cleanup) — pure litter
    entries.filter(_.isFile).foreach { f =>
      if (settleableStageEntry(fs, sroot, f, staleMs)) {
        val lock = stageLockOf(sroot, f.getPath.getName).get
        fs.delete(lock, false)
        FsIO.sweepRenewTemps(fs, lock)
      }
    }
    entries.filter(_.isDirectory).foreach { s =>
      val stage = s.getPath
      if (settleableStageEntry(fs, sroot, s, staleMs)) {
        check() // about to move or delete another writer's files
        if (fs.exists(new org.apache.hadoop.fs.Path(stage, AppendPublishIntentName))) {
          System.err.println(s"[graft] TimePartitioned: rolling forward a crashed " +
            s"append publish under $root (${stage.getName})")
          publishAppendStage(fs, stage, root)
        } else {
          System.err.println(s"[graft] TimePartitioned: sweeping a crashed " +
            s"append stage under $root (${stage.getName})")
          fs.delete(stage, true)
        }
        val lock = new org.apache.hadoop.fs.Path(stage.toString + ".__write_lock")
        fs.delete(lock, false)
        // a holder killed mid-renewal leaves its temp next to the lock
        FsIO.sweepRenewTemps(fs, lock)
      }
    }
    // best-effort root cleanup: the non-recursive delete can legally race
    // a LIVE appender's lock-free stage-lock create (any moment) — a
    // now-non-empty dir must not fail the heal/maintenance call around it
    try {
      val rest = fs.listStatus(sroot)
      if (rest != null && rest.isEmpty) fs.delete(sroot, false)
    } catch { case _: java.io.IOException => () }
  }

  /** The stage lock a stage-root file belongs to: itself for a
    * `<stage>.__write_lock`, its lock for a `<stage>.__write_lock.renew.*`
    * renewal temp; None for any other file. */
  private def stageLockOf(sroot: org.apache.hadoop.fs.Path,
      name: String): Option[org.apache.hadoop.fs.Path] = {
    val i = name.indexOf(".__write_lock")
    val tail = if (i > 0) name.substring(i) else ""
    if (tail == ".__write_lock" || tail.startsWith(".__write_lock.renew."))
      Some(new org.apache.hadoop.fs.Path(sroot, name.take(i) + ".__write_lock"))
    else None
  }

  /** Is this append-stage entry settleable by a sweep — a stage dir
    * whose lease is stale/absent, or an orphan stage-lock (or renewal
    * temp) with no stage dir and no live lock? ONE copy of the
    * predicate, shared by the lock-free [[heal]]
    * probe and the under-lease [[recoverAppendStages]] sweep; liveness
    * delegates to [[FsIO.lockIsLive]], the single crash-classification
    * rule (body ts, mtime fallback, unreadable-reads-as-live, staleness
    * bar = max(observer's lease, the holder's DECLARED lease) — so a
    * long-lease appender is never classified crashed by a
    * default-configured sweeper). */
  private def settleableStageEntry(fs: org.apache.hadoop.fs.FileSystem,
      sroot: org.apache.hadoop.fs.Path, e: org.apache.hadoop.fs.FileStatus,
      staleMs: Long): Boolean =
    if (e.isDirectory)
      !FsIO.lockIsLive(
        new org.apache.hadoop.fs.Path(e.getPath.toString + ".__write_lock"),
        staleMs).getOrElse(false)
    else stageLockOf(sroot, e.getPath.getName).exists { lock =>
      val stageDir = new org.apache.hadoop.fs.Path(sroot,
        lock.getName.stripSuffix(".__write_lock"))
      !fs.exists(stageDir) && !FsIO.lockIsLive(lock, staleMs).getOrElse(false)
    }

  /** Lock-free probe: does the append-stage root hold anything a sweep
    * under the lease would settle? Used by [[heal]]'s evidence check so
    * that LIVE appends never force readers onto the table lease.
    * Tolerant of racing an under-lease sweep that deletes the stage root
    * between the exists and the list — absent either way is "nothing to
    * settle". */
  private def hasSettleableAppendStage(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, staleMs: Long): Boolean = {
    val sroot = appendStageRoot(dir)
    try fs.exists(sroot) &&
      fs.listStatus(sroot).toSeq.exists(settleableStageEntry(fs, sroot, _, staleMs))
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** The one crash-heal sequence every maintenance entry point runs
    * under its lease: roll a crashed compaction swap forward/back, roll
    * a crashed staged overwrite forward from its intent, settle crashed
    * append stages, and drop a stray compaction pending-marker. A single
    * copy — a recovery step added here reaches [[heal]], [[append]],
    * [[dropDaysBefore]], [[compactDaysBefore]] and [[overwriteStaged]]
    * alike. */
  private def recoverAll(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, staleMs: Long, check: () => Unit): Unit = {
    if (fs.exists(root)) {
      recoverCompaction(fs, root, check)
      recoverOverwrite(fs, root, check)
      fs.delete(new org.apache.hadoop.fs.Path(root, MaintPendingName), false)
    }
    recoverAppendStages(fs, root, staleMs, check)
  }

  private val OverwriteStageName = "_overwrite_stage"
  private val OverwriteTrashName = "_overwrite_trash"
  private val OverwriteIntentName = "_intent"
  private val MaintPendingName   = "_maint_pending"

  /** Default write-lease length shared by EVERY day-directory mutator —
    * the maintenance writers ([[overwriteStaged]], [[compactDaysBefore]],
    * [[dropDaysBefore]]), [[append]], and the crash-heal below. This is a
    * HEARTBEAT interval bound, not a work bound: the data-proportional
    * writers renew the lease every `leaseMs/3`
    * ([[FsIO.withWriteLockHeartbeat]]), so a legitimately slow multi-hour
    * 100 TB stage write never ages past the takeover bar — 15 min only
    * needs to exceed the longest plausible heartbeat stall (GC pause, FS
    * hiccup), and a crashed holder stops renewing and is healable within
    * one lease. */
  val MaintLeaseMs: Long = 15L * 60 * 1000

  /** Heal any CRASHED compaction or staged-overwrite swap — called at
    * day-table LOAD by the catalog (the hook that runs BEFORE a query's
    * child plans are built: a self-referential `INSERT OVERWRITE t
    * SELECT ... FROM t` resolves its scan at analysis, so a
    * write-time-only heal would read a shelved day's rows as absent) and
    * at the head of [[append]] / [[dropDaysBefore]].
    *
    * SAFE AGAINST LIVE WRITERS: recovery states are only decidable when
    * no writer is mid-flight (a live overwrite sits in the
    * stage-without-intent state — indistinguishable from crash garbage —
    * for its whole data-write phase), so the heal runs ONLY under the
    * same write lease every maintenance writer holds: a LIVE holder makes
    * the heal a silent no-op (that writer owns the state); a crashed
    * holder's lease expires and the heal takes over loudly.
    *
    * CHEAP WHEN CLEAN: three existence probes (stage, trash, the
    * [[MaintPendingName]] marker compaction leaves while swapping) gate
    * everything — the common no-crash load never lists the directory and
    * never touches the lock.
    *
    * Returns false IFF crash evidence exists but a LIVE writer holds the
    * lease — the heal correctly skips (that writer owns the state), but
    * the skip is logged with the holder's label/age and reported to the
    * caller, so "recovery deferred to the live writer" is distinguishable
    * from "no evidence" in both logs and specs. True on every path that
    * leaves the table heal-clean (no evidence, or recovery ran). */
  def heal(spark: SparkSession, dir: String, leaseMs: Long = MaintLeaseMs): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasRoot = fs.exists(root)
    // the append-stage probe triggers only on SETTLEABLE (stale/orphan)
    // stages: a LIVE appender's fresh stage must not make every reader
    // load acquire the table lease — that would serialize reads against
    // a continuously-appending writer for nothing. The probe is a
    // lock-free trigger; recoverAppendStages re-checks liveness UNDER
    // the lease before touching anything, so a mid-renewal misread here
    // costs one no-op lease acquisition, never a live stage.
    val evidence =
      (hasRoot && (
        fs.exists(new org.apache.hadoop.fs.Path(root, OverwriteStageName)) ||
        fs.exists(new org.apache.hadoop.fs.Path(root, OverwriteTrashName)) ||
        fs.exists(new org.apache.hadoop.fs.Path(root, MaintPendingName)))) ||
      hasSettleableAppendStage(fs, dir, leaseMs) // a crashed append can predate the root
    if (!evidence) return true
    // heartbeat lease, same as the writers: rolling a crashed overwrite
    // forward renames O(days) directories, and on object stores a rename
    // is copy+delete — a large recovery is data-proportional and must not
    // itself look crashed to the NEXT reader's heal mid-way through
    try {
      FsIO.withWriteLockHeartbeat(dir, "TimePartitioned.heal", leaseMs) { hb =>
        // the healer is itself a destructive data-proportional holder (on
        // object stores each roll-forward rename is a copy) — it re-checks
        // its own lease per recovery step like every writer does
        recoverAll(fs, root, leaseMs, () => hb.verifyOwned("healing the next day state"))
      }
      true
    } catch {
      case e: FsIO.LockBusy =>
        // a LIVE writer owns the state — correct no-op, but SAY so: a
        // silent skip is indistinguishable from "no evidence" in a
        // concurrency postmortem (the LockBusy message carries the
        // holder's label and lock age)
        System.err.println(s"[graft] TimePartitioned.heal: crash evidence under $dir " +
          s"is owned by a live writer; skipping recovery — ${e.getMessage}")
        false
    }
  }

  private def listDays(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Set[String] =
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_day="))
      .map(_.getPath.getName).toSet

  /** INSERT OVERWRITE for a day-partitioned path table, staged and
    * CRASH-RECOVERABLE: the new layout writes under a hidden stage
    * subdir (readers' hidden-path filter skips it), a durable INTENT
    * file records exactly which live days are pre-overwrite (to retire)
    * and which staged days publish, then days swap one rename at a time
    * through a hidden trash. Every interruption is decidable from the
    * intent: [[recoverOverwrite]] rolls the swap FORWARD at the next
    * write/maintenance touch, so a crash leaves at worst a transient
    * per-day gap until then — never a lost day, never a resurrectable
    * old copy, and never a deleted `_props` (this path touches only
    * `p_day=` directories, which is what keeps the managed flag and the
    * days marker alive through any crash).
    *
    * Heals crashed predecessors FIRST — both a prior overwrite and a
    * crashed [[compactDaysBefore]] shelf — because the incoming plan may
    * read THIS table (`INSERT OVERWRITE t SELECT ... FROM t`): the
    * self-read must see every row, including a shelved day's. */
  def overwriteStaged(df: DataFrame, dir: String, tsNanosCol: String,
      filesPerDay: Int = 8, leaseMs: Long = MaintLeaseMs): Unit =
    FsIO.withWriteLockHeartbeat(
      dir, "TimePartitioned.overwriteStaged", leaseMs) { hb =>
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    recoverAll(fs, root, leaseMs, () => hb.verifyOwned("healing a crashed predecessor"))
    val stage = new org.apache.hadoop.fs.Path(root, OverwriteStageName)
    val trash = new org.apache.hadoop.fs.Path(root, OverwriteTrashName)
    fs.delete(stage, true); fs.delete(trash, true)
    // the data write is the arbitrarily long phase the heartbeat exists
    // for: without renewal, a 100 TB stage write outlives the fixed lease
    // and a reader-triggered heal seizes the lock and deletes the
    // intent-less live stage under the writer
    writeMode(df, stage.toString, tsNanosCol, filesPerDay, "overwrite")
    // ownership gate BEFORE reading the day lists: if a healer did seize a
    // stalled lease mid-write, the stage is partially deleted — an intent
    // built from listDays here would retire every old day against a
    // truncated newDays set (silent data loss). Abort instead.
    hb.verifyOwned("listing the staged days")
    val oldDays = listDays(fs, root)
    val newDays = listDays(fs, stage)
    // the intent publishes by RENAME: a torn direct write could truncate
    // the new-days line, and recovery would then read every old day as
    // old-only — i.e. delete live data. Only a complete intent may exist.
    val intentTmp = new org.apache.hadoop.fs.Path(stage, OverwriteIntentName + ".tmp")
    FsIO.writeText(intentTmp.toString,
      oldDays.toSeq.sorted.mkString(",") + "\n" + newDays.toSeq.sorted.mkString(","))
    hb.verifyOwned("publishing the swap intent")
    require(fs.rename(intentTmp,
        new org.apache.hadoop.fs.Path(stage, OverwriteIntentName)),
      s"overwriteStaged: could not publish the swap intent under $dir")
    if (oldDays.nonEmpty) fs.mkdirs(trash)
    (oldDays ++ newDays).toSeq.sorted.foreach { day =>
      // per-day gate: after the intent exists a takeover's heal rolls the
      // SAME intent forward (convergent), but two actors racing the same
      // renames would fail loudly mid-swap — abort our side cleanly instead
      hb.verifyOwned(s"swapping $day")
      if (oldDays(day))
        require(fs.rename(new org.apache.hadoop.fs.Path(root, day),
            new org.apache.hadoop.fs.Path(trash, day)),
          s"overwriteStaged: could not retire $day of $dir")
      if (newDays(day))
        require(fs.rename(new org.apache.hadoop.fs.Path(stage, day),
            new org.apache.hadoop.fs.Path(root, day)),
          s"overwriteStaged: could not publish $day of $dir")
    }
    // trash first, stage (holding the intent) last: recovery stays
    // possible until the swap is fully cleaned
    fs.delete(trash, true)
    fs.delete(stage, true)
  }

  /** Roll a crashed [[overwriteStaged]] FORWARD from its durable intent.
    * Idempotent; called before appends, overwrites, and compaction. A
    * stage with no intent means the crash predated the swap (root is the
    * intact old table) — the stage is garbage and deletes; with an
    * intent, every (old, new) day pair's state is decidable: a staged
    * day still present publishes (retiring a still-live old copy first),
    * an old-only day retires, and a day already published is left
    * alone. */
  private[tables] def recoverOverwrite(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, check: () => Unit = () => ()): Unit = {
    val stage  = new org.apache.hadoop.fs.Path(root, OverwriteStageName)
    val trash  = new org.apache.hadoop.fs.Path(root, OverwriteTrashName)
    val intent = new org.apache.hadoop.fs.Path(stage, OverwriteIntentName)
    if (!fs.exists(stage) && !fs.exists(trash)) return
    if (!fs.exists(intent)) { fs.delete(stage, true); fs.delete(trash, true); return }
    // an unreadable intent must ABORT the heal loudly: treating it as
    // empty day sets would fall through to the trailing deletes and
    // destroy both the retired old copy and the unpublished new copy
    val lines = FsIO.readText(intent.toString).getOrElse(sys.error(
      s"recoverOverwrite: unreadable swap intent $intent — not healing"))
      .split("\n", -1)
    def parse(i: Int): Set[String] =
      if (i >= lines.length) Set.empty
      else lines(i).split(",").filter(_.nonEmpty).toSet
    check() // about to act on the intent
    val oldDays = parse(0)
    val newDays = parse(1)
    (oldDays ++ newDays).toSeq.sorted.foreach { day =>
      check() // per-day ownership gate: abort mid-recovery on a lost lease
      val rootDay  = new org.apache.hadoop.fs.Path(root, day)
      val stageDay = new org.apache.hadoop.fs.Path(stage, day)
      if (newDays(day)) {
        if (fs.exists(stageDay)) { // not yet published: root copy (if any) is OLD
          if (fs.exists(rootDay)) {
            fs.mkdirs(trash)
            require(fs.rename(rootDay, new org.apache.hadoop.fs.Path(trash, day)),
              s"recoverOverwrite: could not retire $day under $root")
          }
          require(fs.rename(stageDay, rootDay),
            s"recoverOverwrite: could not publish $day under $root")
        } // else: already published — rootDay is the new copy
      } else if (fs.exists(rootDay)) {
        fs.delete(rootDay, true) // old-only day: the overwrite removes it
      }
    }
    fs.delete(trash, true)
    fs.delete(stage, true)
  }

  private def writeMode(df: DataFrame, dir: String, tsNanosCol: String,
      filesPerDay: Int, mode: String): Unit = {
    require(filesPerDay >= 1, s"filesPerDay must be >= 1, got $filesPerDay")
    df.withColumn("p_day", dayColExpr(tsNanosCol))
      .repartition(col("p_day"), pmod(col(tsNanosCol), lit(filesPerDay.toLong)))
      .write.mode(mode).partitionBy("p_day").parquet(dir)
  }

  /** RETENTION: drop whole day directories strictly BEFORE the cutoff's
    * UTC day — the operational loop every day-partitioned events table
    * runs (keep N days, reclaim the rest at directory grain, zero row
    * scans). The cutoff's own day is always kept (conservative: a cutoff
    * mid-day must not drop that day's earlier rows). Returns the dropped
    * day keys. Plain-layout semantics like [[write]]: concurrent readers
    * of a dropped day see missing-file errors, the same contract as any
    * non-versioned parquet dir — versioned retention belongs to
    * VersionedTable.vacuum.
    *
    * Runs UNDER the maintenance write lease (heartbeat-renewed — the
    * delete loop is O(days) and each day delete is data-proportional on
    * object stores): an unserialized retention delete racing a live
    * compaction's shelve/publish renames could delete the published copy
    * while the shelf (about to be cleaned) holds the only other one, or
    * race a live overwrite's per-day swaps. A LIVE maintenance writer
    * fails this call loudly with the holder's label/age — retention is a
    * scheduled job; rerunning after the writer finishes is the correct
    * resolution. Crashed predecessors are healed under the SAME lease
    * first: a day hidden in a crashed swap's shelf/stage would otherwise
    * escape retention and resurrect after this pass. */
  def dropDaysBefore(spark: SparkSession, dir: String, cutoffNanos: Long,
      leaseMs: Long = MaintLeaseMs): Seq[String] = {
    val cutoffDay = dayOfNanos(cutoffNanos)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    FsIO.withWriteLockHeartbeat(dir, "TimePartitioned.dropDaysBefore", leaseMs) { hb =>
      recoverAll(fs, root, leaseMs, () => hb.verifyOwned("healing a crashed predecessor"))
      val dropped = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_day="))
        .map(s => s.getPath)
        .filter(_.getName.stripPrefix("p_day=") < cutoffDay) // ISO-lex = day order
      dropped.foreach { p =>
        hb.verifyOwned(s"dropping ${p.getName}") // irreversible: gate per day
        fs.delete(p, true)
      }
      dropped.map(_.getName.stripPrefix("p_day=")).sorted
    }
  }

  /** COMPACTION at day grain: every day directory strictly BEFORE the
    * cutoff's UTC day with more than `filesPerDay` files rewrites to
    * exactly `filesPerDay`, one day at a time — the small-file
    * maintenance an append-ingested day table needs (each [[append]] /
    * micro-batch adds files per live day; closed days then hold
    * batches × filesPerDay fragments). Only closed days: the cutoff
    * fences compaction away from days writers may still append to.
    *
    * Per-day swap protocol (stage → shelve → publish → clean), rolled
    * forward/back by [[recoverCompaction]] at the next compaction call:
    *  1. stage: the day's rows rewrite into `.compact_p_day=D.__tmp`
    *  2. shelve: `p_day=D` renames to `.shelf_p_day=D.__old` (dot-prefixed
  *     so a racing or post-crash reader's partition discovery can never
  *     see the shelved copy as a second partition and double-read the day)
    *  3. publish: the stage renames to `p_day=D`
    *  4. clean: the shelf deletes
    * A crash after 2 leaves the shelf + a COMPLETE stage (step 2 only
    * follows a finished stage write) → roll forward; a crash during 1
    * leaves only a stray stage → delete; a shelf next to a published day
    * → finish the clean. Readers racing a swap can see a day's files
    * vanish mid-plan — the same plain-layout contract as [[write]]'s
    * overwrite; versioned compaction belongs to commitCompact. */
  def compactDaysBefore(spark: SparkSession, dir: String, cutoffNanos: Long,
      filesPerDay: Int = 8, leaseMs: Long = MaintLeaseMs): Seq[String] = {
    require(filesPerDay >= 1, s"filesPerDay must be >= 1, got $filesPerDay")
    val cutoffDay = dayOfNanos(cutoffNanos)
    val root = new org.apache.hadoop.fs.Path(dir)
    val preFs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!preFs.exists(root)) return Seq.empty
    // heartbeat lease (not the fixed one): the per-day rewrite loop is
    // data-proportional — many closed days of a 100 TB table take hours
    FsIO.withWriteLockHeartbeat(dir, "TimePartitioned.compactDaysBefore", leaseMs) { hb =>
    val fs = preFs
    recoverAll(fs, root, leaseMs, () => hb.verifyOwned("healing a crashed predecessor"))
    val days = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_day="))
      .map(_.getPath)
      .filter(_.getName.stripPrefix("p_day=") < cutoffDay)
    val compacted = days.filter { dayDir =>
      val nFiles = fs.listStatus(dayDir).count(s =>
        s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
      nFiles > filesPerDay
    }
    // the pending marker is what lets the load-time heal's cheap probes
    // detect a crashed compaction without listing for shelf names; it
    // must exist before the first swap and go only after the last
    if (compacted.nonEmpty)
      FsIO.writeText(new org.apache.hadoop.fs.Path(root, MaintPendingName).toString, "")
    compacted.foreach { dayDir =>
      val day   = dayDir.getName
      val stage = new org.apache.hadoop.fs.Path(root, s".compact_$day.__tmp")
      val shelf = new org.apache.hadoop.fs.Path(root, s".shelf_$day.__old")
      fs.delete(stage, true)
      spark.read.parquet(dayDir.toString)
        .repartition(filesPerDay).write.parquet(stage.toString)
      // ownership gate before the shelve: a healer that seized a stalled
      // lease owns the day states now — shelving under it would race its
      // recovery into a torn swap. Abort loudly; the stray stage is
      // exactly what recoverCompaction classifies as pre-shelve garbage.
      hb.verifyOwned(s"shelving $day")
      require(fs.rename(dayDir, shelf),
        s"compactDaysBefore: could not shelve $dayDir")
      require(fs.rename(stage, dayDir),
        s"compactDaysBefore: could not publish compacted $dayDir")
      fs.delete(shelf, true)
    }
    if (compacted.nonEmpty)
      fs.delete(new org.apache.hadoop.fs.Path(root, MaintPendingName), false)
    compacted.map(_.getName.stripPrefix("p_day=")).sorted
    }
  }

  /** Roll a crashed [[compactDaysBefore]] swap forward or back — see the
    * protocol there. Idempotent; called before each compaction pass. */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, check: () => Unit = () => ()): Unit =
    fs.listStatus(root).toSeq.map(_.getPath).foreach { p =>
      if (p.getName.startsWith(".shelf_") && p.getName.endsWith(".__old")) {
        check() // per-shelf ownership gate
        val bare  = p.getName.stripPrefix(".shelf_").stripSuffix(".__old")
        val day   = new org.apache.hadoop.fs.Path(root, bare)
        val stage = new org.apache.hadoop.fs.Path(root, s".compact_$bare.__tmp")
        if (fs.exists(day)) fs.delete(p, true)          // published: clean
        else if (fs.exists(stage)) {                    // shelved: forward
          require(fs.rename(stage, day),
            s"recoverCompaction: could not publish $stage")
          fs.delete(p, true)
        } else {                                        // no stage: back
          require(fs.rename(p, day),
            s"recoverCompaction: could not restore $day")
        }
      } else if (p.getName.startsWith(".compact_") && p.getName.endsWith(".__tmp")) {
        val day = new org.apache.hadoop.fs.Path(root,
          p.getName.stripPrefix(".compact_").stripSuffix(".__tmp"))
        // a stray stage with its day intact is pre-shelve garbage
        if (fs.exists(day)) fs.delete(p, true)
      }
    }

  /** Time-range read: the [fromNanos, toNanos] predicate maps to a day-key
    * partition filter (directory pruning at planning time) plus the exact
    * nanos residual. Row-identical to a full-scan filter; the partition
    * column never escapes. */
  def readRange(spark: SparkSession, dir: String, tsNanosCol: String,
      fromNanos: Long, toNanos: Long): DataFrame = {
    require(fromNanos <= toNanos, s"empty range: $fromNanos > $toNanos")
    spark.read.parquet(dir)
      .where(col("p_day") >= dayOfNanos(fromNanos) && col("p_day") <= dayOfNanos(toNanos))
      .where(col(tsNanosCol).between(fromNanos, toNanos))
      .drop("p_day")
  }
}
