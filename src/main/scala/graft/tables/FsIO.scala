package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Small-file text I/O over the Hadoop FS API (path-scheme-agnostic:
  * file:// now, HDFS/S3 at scale) — the single copy of the sidecar/artifact
  * plumbing used by the versioned log, the IVF index, the model registry
  * and the change-feed offsets — plus the write lease that arbitrates the
  * versioned log's publish.
  */
object FsIO {

  /** A Hadoop configuration that carries the session's `spark.hadoop.*`
    * settings on BOTH driver and executors. Executors have no SparkSession,
    * but `SparkEnv.get.conf` is populated there — without this, an
    * `s3a://`/HDFS artifact read inside a task would use a bare
    * `Configuration` lacking credentials/endpoints. */
  // cached: Configuration construction costs milliseconds and this is
  // called on every small-file FS touch — dozens of times per versioned
  // commit. Callers treat the returned conf as read-only (getFileSystem /
  // pass-through). Only a SparkEnv-backed conf is cached: one built before
  // Spark started would lack the session's spark.hadoop.* forever.
  @volatile private var cachedConf: Configuration = _

  def hadoopConf(): Configuration = {
    val hit = cachedConf
    if (hit != null) hit
    else {
      val conf = new Configuration()
      val env  = org.apache.spark.SparkEnv.get
      if (env != null) {
        env.conf.getAllWithPrefix("spark.hadoop.").foreach { case (k, v) => conf.set(k, v) }
        cachedConf = conf
      }
      conf
    }
  }

  def writeText(path: String, text: String, conf: Configuration = hadoopConf()): Unit = {
    val p   = new Path(path)
    val fs  = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  def readText(path: String, conf: Configuration = hadoopConf()): Option[String] = {
    val p  = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      // exists→open is check-then-act: a concurrent writer can delete the
      // file (e.g. a lock holder releasing) between the two — absent-at-open
      // must read as None, same as absent-at-exists. Found by the
      // cross-process lock stress (LockStressSpec); unreachable single-JVM.
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Deterministic tmp-dir tag for a source path (shared by the IVF index
    * path and the ingest staging default). */
  def tmpTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  // ------------------------------------------------------ write lease lock

  /** A held write lease (see [[acquireWriteLock]]). */
  final case class WriteLock private[FsIO] (path: Path, owner: String)

  /** A LIVE holder owns the lease — thrown (never silently waited out) by
    * [[acquireWriteLock]]. Typed so callers with a SHORT critical section
    * ([[withWriteLockRetry]]) can distinguish "busy, try again shortly"
    * from real failures; [[withWriteLock]] callers keep failing loudly. */
  final class LockBusy(msg: String) extends RuntimeException(msg)

  /** Schemes with a TRUE atomic create-no-overwrite: POSIX O_EXCL
    * (file/local), HDFS namenode arbitration (hdfs/viewfs), ADLS gen2
    * hierarchical namespace (abfs/abfss), GCS precondition-checked create
    * (gs). On anything else — S3A being the important case: without
    * S3 conditional writes, create(overwrite=false) is check-then-act —
    * the lock is BEST-EFFORT ONLY, and because this lease gates the
    * versioned log's commit point and vacuum (which DELETES data),
    * best-effort must be an explicit operator decision, not a silent
    * default. */
  private val ExactLockSchemes = Set("file", "local", "hdfs", "viewfs", "abfs", "abfss", "gs")

  /** Hadoop conf key an operator sets (via `spark.hadoop.` prefix) to
    * accept best-effort locking on a scheme without an atomic
    * create-no-overwrite primitive. */
  val BestEffortLockKey = "graft.lock.bestEffort"

  /** Hadoop conf key an operator sets to ATTEST that the store performs
    * CONDITIONAL creates — S3 has supported conditional PUT
    * (If-None-Match) since 2024, and an s3a/DSv2 connector that routes
    * `create(overwrite = false)` through it makes create-no-overwrite
    * genuinely atomic there. Unlike [[BestEffortLockKey]] this is a
    * capability attestation, not an acceptance of risk: with it the
    * scheme is treated as exact and create-no-overwrite arbitrates the
    * lease, closing the gap where an operator on modern S3 could only
    * choose between a refusal and a lie. The attestation is the
    * operator's responsibility — the FileSystem API exposes no
    * capability probe for it. */
  val ConditionalPutLockKey = "graft.lock.conditionalPut"

  /** Acquire an exclusive write lease for `dir` — the concurrent-writer
    * guard for the versioned-log publish (two writers could otherwise both
    * publish the same version), the metadata-only commits, vacuum, and the
    * IVF index append.
    *
    * The lock is a SIBLING file (`<dir>.__write_lock`) holding (owner,
    * acquire millis, label). Acquisition: on `file://` a POSIX O_EXCL create
    * (`Files.createFile` — truly atomic; Hadoop's local create-no-overwrite
    * is check-then-act and the cross-process stress caught two writers both
    * passing the check), on other schemes create-no-overwrite (atomic on
    * HDFS) — plus a read-back-verify either way; on stores with neither
    * primitive (S3A without conditional writes) the read-back closes most
    * of the race window — best-effort there, exact where the FS allows.
    *
    * Lease, not lock: a holder that crashed can't release, so a lock older
    * than `staleMs` is taken over (deleted + one re-acquire attempt) on the
    * assumption the writer is gone — size `staleMs` above the longest
    * legitimate hold. Data commits stage outside the lease and hold it only
    * for their O(metadata) publish tail, so no hold is data-proportional.
    * A LIVE contender inside the lease window fails loudly with the
    * holder's label/age instead of corrupting the target. */
  def acquireWriteLock(dir: String, label: String, staleMs: Long,
      conf: Configuration = hadoopConf()): WriteLock = {
    require(staleMs > 0, s"staleMs must be positive, got $staleMs")
    val lock  = new Path(dir + ".__write_lock")
    val fs    = lock.getFileSystem(conf)
    val lockScheme = Option(lock.toUri.getScheme)
      .orElse(Option(fs.getUri.getScheme)).getOrElse("file")
    if (!ExactLockSchemes.contains(lockScheme) &&
        !conf.getBoolean(ConditionalPutLockKey, false) &&
        !conf.getBoolean(BestEffortLockKey, false))
      throw new IllegalStateException(s"$label: exact write-locking is unavailable on " +
        s"scheme '$lockScheme' (no atomic create-no-overwrite). This lease serializes " +
        "the engine's maintenance and commit protocols — including vacuum, which " +
        "deletes data, and the versioned log's commit point — so best-effort " +
        s"locking must be an explicit operator decision. Either attest the store's " +
        s"conditional-write support with $ConditionalPutLockKey=true " +
        s"(spark.hadoop.$ConditionalPutLockKey — S3 conditional PUT makes " +
        "create-no-overwrite exact), or set " +
        s"$BestEffortLockKey=true (spark.hadoop.$BestEffortLockKey) to accept the " +
        "residual two-writer race, or run the table on file/hdfs/abfs/gs")
    val owner = java.util.UUID.randomUUID().toString
    // the body DECLARES the holder's lease (`lease=`): staleness is then
    // judged against the HOLDER's declared tolerance, not only the
    // observer's — a sweeper or contender configured with a shorter lease
    // must not classify a live longer-lease holder as crashed (observer
    // bar = max of the two; see below)
    val body = (s"owner=$owner\nts=${System.currentTimeMillis()}\n" +
      s"label=$label\nlease=$staleMs\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def tryCreate(): Boolean =
      try {
        val scheme = lock.toUri.getScheme
        if (scheme == null || scheme == "file") {
          // POSIX O_CREAT|O_EXCL: the kernel arbitrates — exactly one
          // process creates. Body written after the create; the empty-body
          // window reads as LIVE below, never as stale. The parent dir is
          // created first: a first write into a fresh table path must not
          // have its NoSuchFileException read as "another writer".
          val nio = java.nio.file.Paths.get(lock.toUri.getPath)
          if (nio.getParent != null) java.nio.file.Files.createDirectories(nio.getParent)
          try java.nio.file.Files.createFile(nio)
          catch { case _: java.nio.file.FileAlreadyExistsException => return false }
          java.nio.file.Files.write(nio, body)
        } else {
          val out = fs.create(lock, false) // no-overwrite: atomic on HDFS
          try out.write(body) finally out.close()
        }
        // read-back: if two creates still raced, exactly one body survives
        readText(lock.toString, conf).exists(_.contains(s"owner=$owner"))
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val body   = readText(lock.toString, conf).getOrElse("")
      val fields = body.split("\n").map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      // Liveness: the body's ts when present; otherwise the lock FILE's
      // mtime. An absent/unparsable ts must read as LIVE, not stale — a
      // contender racing the winner's create-to-body-write window sees an
      // empty body, and classifying that as stale would steal a live lease
      // (both writers then interleave their writes). If even the mtime is
      // unreadable (lock vanished — holder released between our create
      // attempt and now), retry the create rather than deleting anything.
      val ageMs: Option[Long] = fields.get("ts").flatMap(_.toLongOption)
        .orElse(try Some(fs.getFileStatus(lock).getModificationTime)
          catch { case _: java.io.IOException => None })
        .map(System.currentTimeMillis() - _)
      // staleness bar: the HOLDER's declared lease when it exceeds ours —
      // a short-lease contender must honor a long-lease holder's declared
      // tolerance before declaring it crashed
      val bar = math.max(staleMs, fields.get("lease").flatMap(_.toLongOption).getOrElse(0L))
      if (ageMs.isEmpty || ageMs.exists(_ <= bar)) {
        if (ageMs.isEmpty && tryCreate()) return WriteLock(lock, owner)
        throw new LockBusy(s"$label: ${new Path(dir).getName} is being written by another " +
          s"writer (label=${fields.getOrElse("label", "?")}, lock age " +
          s"${ageMs.map(_.toString).getOrElse("unknown")} ms, lease $bar ms) — " +
          "a concurrent write would corrupt the target; retry after it finishes or " +
          "take over once the lease expires")
      }
      // stale lease (age measured and past the window): take over once,
      // loudly. Guarded delete: re-read immediately before deleting and
      // only proceed if the lock is STILL the same stale instance — an
      // unguarded delete could destroy a rival takeover's FRESH lock and
      // let two writers both "win". (Without an atomic compare-and-delete
      // primitive a thin race window remains on stores with non-atomic
      // create; on HDFS the subsequent create-no-overwrite arbitrates.)
      System.err.println(s"[graft] $label: taking over stale write lock on $dir " +
        s"(age ${ageMs.get} ms > lease $bar ms)")
      if (readText(lock.toString, conf).getOrElse("") == body) fs.delete(lock, false)
      if (!tryCreate())
        sys.error(s"$label: lost the write-lock takeover race on $dir — " +
          "another writer re-acquired it; retry later")
    }
    WriteLock(lock, owner)
  }

  /** Schemes that replace a file via staged-tmp + FileContext rename
    * (binding ships with the connector). On hdfs/viewfs the OVERWRITE
    * rename is a single atomic namenode operation. abfs/abfss are here
    * for a different reason: ADLS Gen2 has REAL-FILE create semantics —
    * `create(overwrite=true)` exposes a visible 0-byte file before data
    * flushes, so the in-place branch below would hand readers an EMPTY
    * body (an empty offset misparses); the rename path's residual
    * window is a brief ABSENT file instead (delete-dst-then-rename in
    * the delegate), which the change-feed's lost-offset recovery
    * handles. TRUE object stores (s3, gs, and
    * any attested scheme) stay on the in-place branch, where a PUT is
    * atomic at the store, many connectors ship no AbstractFileSystem
    * binding at all, and a FileContext call would throw
    * UnsupportedFileSystemException on every replace. */
  private val AtomicRenameSchemes = Set("hdfs", "viewfs", "abfs", "abfss")

  /** Replace `dst` with `tmp` ATOMICALLY, so a concurrent reader sees
    * either the old complete body or the new complete body — never a
    * truncated prefix. file:// uses NIO ATOMIC_MOVE; [[AtomicRenameSchemes]]
    * get FileContext rename with OVERWRITE. Callers route every other
    * scheme elsewhere (see [[replaceText]]). */
  private def atomicReplace(tmp: Path, dst: Path, conf: Configuration): Unit = {
    val scheme = Option(dst.toUri.getScheme).getOrElse("file")
    if (scheme == "file" || scheme == "local") {
      // the NIO move bypasses ChecksumFileSystem entirely, so its `.crc`
      // sidecars must go: the TARGET's (stale after the move, it would
      // fail every subsequent checksummed read of the new body — dropped
      // BEFORE the move so no reader ever sees new data paired with the
      // old sum) and the TEMP's (an orphan once the data file moved)
      val nioTmp = java.nio.file.Paths.get(tmp.toUri.getPath)
      val nioDst = java.nio.file.Paths.get(dst.toUri.getPath)
      java.nio.file.Files.deleteIfExists(
        nioDst.resolveSibling("." + nioDst.getFileName.toString + ".crc"))
      java.nio.file.Files.move(nioTmp, nioDst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.deleteIfExists(
        nioTmp.resolveSibling("." + nioTmp.getFileName.toString + ".crc"))
    } else
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Replace the text content of `path` such that a concurrent reader
    * always sees a COMPLETE body — the old one or the new one, never a
    * truncated prefix and never a vanished file. Per-scheme: file:// and
    * HDFS stage to `tmp` and atomically rename over the target; object
    * stores write in place, because `create(overwrite=true)` is one atomic
    * blob PUT there while a FileContext rename would be delete-dst-then-rename
    * (a no-file window — exactly what callers use this to avoid) or an
    * UnsupportedFileSystemException where the connector ships no
    * AbstractFileSystem binding. */
  private[tables] def replaceText(path: Path, text: String, tmp: Path,
      conf: Configuration = hadoopConf()): Unit = {
    val scheme = Option(path.toUri.getScheme)
      .orElse(Option(path.getFileSystem(conf).getUri.getScheme)).getOrElse("file")
    if (scheme == "file" || scheme == "local" || AtomicRenameSchemes.contains(scheme)) {
      writeText(tmp.toString, text, conf)
      atomicReplace(tmp, path, conf)
    } else writeText(path.toString, text, conf) // object store: atomic PUT
  }

  /** [[acquireWriteLock]] with LIVE contenders retried on jittered
    * exponential backoff up to `maxWaitMs` — the retry loop behind
    * [[withWriteLockRetry]]. */
  private def acquireWithRetry(dir: String, label: String, staleMs: Long,
      maxWaitMs: Long, conf: Configuration): WriteLock = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var backoff  = 50L
    while (true) {
      try return acquireWriteLock(dir, label, staleMs, conf)
      catch {
        case e: LockBusy =>
          if (System.currentTimeMillis() >= deadline) throw e
          Thread.sleep(backoff + scala.util.Random.nextLong(backoff))
          backoff = math.min(backoff * 2, 400L)
      }
    }
    sys.error("unreachable")
  }

  /** Release a held lease. Only deletes the file if this holder still owns
    * it (a stale takeover may have replaced it mid-operation — in that
    * case the takeover's lock must survive). */
  def releaseWriteLock(l: WriteLock, conf: Configuration = hadoopConf()): Unit =
    if (readText(l.path.toString, conf).exists(_.contains(s"owner=${l.owner}")))
      l.path.getFileSystem(conf).delete(l.path, false)

  /** Run `body` under the write lease for `dir`. */
  def withWriteLock[A](dir: String, label: String, staleMs: Long)(body: => A): A = {
    val l = acquireWriteLock(dir, label, staleMs)
    try body finally releaseWriteLock(l)
  }

  /** Like [[withWriteLock]] but retrying on a LIVE contender (jittered
    * ~50–100 ms polls up to `maxWaitMs`) — the versioned log's publish
    * tail, where the holder ahead releases within milliseconds and
    * erroring out would make concurrent writers flaky for no reason. The
    * metadata-only commits and vacuum keep [[withWriteLock]]'s fail-loud
    * semantics. */
  def withWriteLockRetry[A](dir: String, label: String, staleMs: Long,
      maxWaitMs: Long)(body: => A): A = {
    val l = acquireWithRetry(dir, label, staleMs, maxWaitMs, hadoopConf())
    try body finally releaseWriteLock(l)
  }
}
