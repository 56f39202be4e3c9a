package graft.tables

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** A RawLocalFileSystem mocking a store WITH conditional creates (the
  * S3-conditional-PUT shape): `create(overwrite = false)` is made
  * genuinely atomic by arbitrating check+create under one JVM-global
  * monitor — the moral equivalent of the store's If-None-Match PUT. The
  * scheme is deliberately NOT in FsIO's exact-lock set, so acquiring a
  * lease on it exercises the `graft.lock.conditionalPut` attestation
  * path end-to-end. */
class MockConditionalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockcond"
  override def getUri: java.net.URI = java.net.URI.create("mockcond:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (overwrite) super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    else MockConditionalFs.monitor.synchronized {
      if (exists(f))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"conditional create: $f exists")
      super.create(f, false, bufferSize, replication, blockSize, progress)
    }
}
object MockConditionalFs { val monitor = new Object }

/** Round-18 lock-protocol hardening specs:
  *  - ADVICE-r17 medium: the heartbeat's renewal boundary FENCE — a
  *    renewal whose ownership-read→rewrite span straddles the lease
  *    boundary must read as LOST, not as a success that resets the
  *    holder's clock while a displaced rival aborts.
  *  - ADVICE-r17 low: renewals land by temp-sibling + atomic rename, so
  *    a rival polling the lock can never parse a truncated `ts=` prefix
  *    as a tiny long and classify a LIVE lease as stale.
  *  - VERDICT-r17 #4: the `graft.lock.conditionalPut` capability
  *    attestation — a store with conditional creates (modern S3) gets an
  *    EXACT lease instead of a refusal-or-lie choice; proven exactly-once
  *    under a 16-thread acquire race on a mock conditional-create FS.
  *  - day-table writers serialize on the versioned log's lease: an
  *    append racing a live overwrite commits on top of it (never under
  *    the replaced head), concurrent appends all land, and a retention
  *    drop refuses to race a live maintenance writer. */
class LockProtocolR18Spec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_lockr18").toString

  private val Day1  = 1700000000000000000L
  private val DayNs = 86400L * 1000000000L

  // ------------------------------------------------ renewal boundary fence

  test("a renewal that straddles the lease boundary reads as LOST") {
    val dir  = tmp() + "/t"
    val conf = FsIO.hadoopConf()
    val l    = FsIO.acquireWriteLock(dir, "w", staleMs = 400, conf)
    val hb   = new FsIO.Heartbeat(l, "w", 400, conf)
    // a prompt renewal inside the window: held, clock advances
    FsIO.heartbeatTick(hb, 400, () => FsIO.renewWriteLock(l, "w", conf))
    assert(!hb.lost, "an in-window renewal must keep the lease held")
    // a renewal that stalls past the boundary before its write lands:
    // LOST — even though the write succeeded and the lock file still
    // carries this owner, a rival's legal takeover may have been
    // clobbered mid-stall, and "file still mine" is not evidence it
    // stayed so through the stall
    FsIO.heartbeatTick(hb, 400, () => {
      Thread.sleep(700)
      FsIO.renewWriteLock(l, "w", conf)
    })
    assert(hb.lost, "a boundary-straddling renewal must read as lost")
    intercept[RuntimeException] { hb.verifyOwned("publishing") }
    FsIO.releaseWriteLock(l, conf)
  }

  test("lease renewal is torn-read-free under concurrent polling") {
    val dir      = tmp() + "/t"
    val lockPath = dir + ".__write_lock"
    @volatile var stop = false
    val torn  = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => while (!stop) {
      // the exact parse a rival's staleness poll runs: a truncated body
      // (empty, or a partial ts digit prefix) would misread a LIVE lease
      FsIO.readText(lockPath).foreach { body =>
        reads.incrementAndGet()
        val tsOk = body.split("\n").exists(ln =>
          ln.startsWith("ts=") && ln.stripPrefix("ts=").toLongOption.exists(_ > 1600000000000L))
        if (!(body.contains("owner=") && tsOk && body.contains("label="))) {
          torn.incrementAndGet()
          System.err.println(s"TORN LOCK BODY: <<<$body>>>")
        }
      }
    })
    val l = FsIO.acquireWriteLock(dir, "w", staleMs = 60000)
    reader.start()
    (1 to 300).foreach { _ => assert(FsIO.renewWriteLock(l, "w")) }
    stop = true
    reader.join(10000)
    assert(reads.get > 0, "reader never observed the lock")
    assert(torn.get == 0, s"${torn.get} torn lock bodies observed by a concurrent poller")
    FsIO.releaseWriteLock(l)
    // the rename consumed every temp sibling — nothing lingers
    val leftovers = new java.io.File(dir).getParentFile.listFiles()
      .map(_.getName).filter(_.contains(".renew."))
    assert(leftovers.isEmpty, s"renewal temp files linger: ${leftovers.mkString(",")}")
  }

  test("renewal works on an object-store scheme with no AbstractFileSystem binding") {
    // mockcond deliberately registers only fs.mockcond.impl — no
    // fs.AbstractFileSystem binding, the shape of most object-store
    // connectors. A FileContext-rename renewal would throw
    // UnsupportedFileSystemException on every heartbeat tick here, so the
    // holder could never renew on exactly the stores the conditional-PUT
    // attestation admits; the in-place atomic-PUT path must renew fine.
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.mockcond.impl", classOf[MockConditionalFs].getName)
    conf.set("fs.mockcond.impl.disable.cache", "true")
    conf.setBoolean(FsIO.ConditionalPutLockKey, true)
    val dir = "mockcond:" + tmp() + "/t"
    val l   = FsIO.acquireWriteLock(dir, "w", staleMs = 60000, conf = conf)
    val ts0 = FsIO.readText(l.path.toString, conf).get
      .split("\n").find(_.startsWith("ts=")).get.stripPrefix("ts=").toLong
    Thread.sleep(5)
    assert(FsIO.renewWriteLock(l, "w", conf), "renewal must succeed on the object-store scheme")
    val body1 = FsIO.readText(l.path.toString, conf).get
    assert(body1.contains(s"owner=${l.owner}"), "renewal must preserve ownership")
    val ts1 = body1.split("\n").find(_.startsWith("ts=")).get.stripPrefix("ts=").toLong
    assert(ts1 > ts0, "renewal must advance the lease ts")
    FsIO.releaseWriteLock(l, conf)
  }

  test("crashed-renewal temp orphans are swept at release and at stale takeover") {
    val dir      = tmp() + "/t"
    val lockPath = dir + ".__write_lock"
    def orphans(): Seq[String] = {
      val files = new java.io.File(dir).getParentFile.listFiles()
      if (files == null) Seq.empty else files.map(_.getName).filter(_.contains(".renew.")).toSeq
    }
    // owned release sweeps a dead holder's leftover temp
    val l = FsIO.acquireWriteLock(dir, "w", staleMs = 60000)
    FsIO.writeText(lockPath + ".renew.deadbeef", "owner=dead\nts=1\nlabel=crashed\n")
    assert(orphans().nonEmpty)
    FsIO.releaseWriteLock(l)
    assert(orphans().isEmpty, s"release must sweep renew temps: ${orphans()}")
    // stale takeover sweeps the dead holder's temp too
    val stale = FsIO.acquireWriteLock(dir, "w-crashing", staleMs = 50)
    FsIO.writeText(lockPath + s".renew.${stale.owner.take(8)}", "owner=x\nts=1\nlabel=x\n")
    Thread.sleep(120) // age the lease past the taker's staleness bar
    val taker = FsIO.acquireWriteLock(dir, "w-taker", staleMs = 100)
    assert(orphans().isEmpty, s"takeover must sweep the dead holder's temps: ${orphans()}")
    FsIO.releaseWriteLock(taker)
  }

  test("a short-lease contender honors the holder's DECLARED lease") {
    val dir = tmp() + "/t"
    // holder declares a 60 s stall tolerance; a contender configured with
    // a 100 ms lease must NOT classify it crashed 150 ms in — staleness
    // is judged against max(observer, declared)
    val holder = FsIO.acquireWriteLock(dir, "long-holder", staleMs = 60000)
    Thread.sleep(150)
    val e = intercept[FsIO.LockBusy] {
      FsIO.acquireWriteLock(dir, "short-contender", staleMs = 100)
    }
    assert(e.getMessage.contains("long-holder"))
    FsIO.releaseWriteLock(holder)
    // with the holder released, the same short-lease acquire succeeds
    FsIO.releaseWriteLock(FsIO.acquireWriteLock(dir, "short-contender", staleMs = 100))
  }

  // ------------------------------------------- conditional-put attestation

  test("conditionalPut attestation: refused without it, exactly-once with it") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.mockcond.impl", classOf[MockConditionalFs].getName)
    conf.set("fs.mockcond.impl.disable.cache", "true")
    val dir = "mockcond:" + tmp() + "/t"
    // no attestation: the scheme gate refuses loudly and names BOTH outs
    val e = intercept[IllegalStateException] {
      FsIO.acquireWriteLock(dir, "w", staleMs = 60000, conf = conf)
    }
    assert(e.getMessage.contains(FsIO.ConditionalPutLockKey))
    assert(e.getMessage.contains(FsIO.BestEffortLockKey))
    // attested: create-no-overwrite arbitrates — exactly one of 16
    // simultaneous acquirers wins, the rest fail loudly as LIVE contenders
    conf.setBoolean(FsIO.ConditionalPutLockKey, true)
    val winners = new java.util.concurrent.atomic.AtomicInteger(0)
    val busy    = new java.util.concurrent.atomic.AtomicInteger(0)
    val other   = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val gate    = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 16).map { i =>
      new Thread(() => {
        gate.await()
        try { FsIO.acquireWriteLock(dir, s"w$i", staleMs = 60000, conf = conf); winners.incrementAndGet(); () }
        catch {
          case _: FsIO.LockBusy => busy.incrementAndGet(); ()
          case t: Throwable     => other.set(t)
        }
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(30000))
    assert(other.get() == null, s"unexpected failure: ${other.get()}")
    assert(winners.get == 1, s"expected exactly one winner, got ${winners.get}")
    assert(busy.get == 15, s"expected 15 LockBusy losers, got ${busy.get}")
  }

  // ------------------------------- day-table writers on the versioned log

  private def seedDays(dir: String, nDays: Int): Unit =
    TimePartitioned.write(
      spark.range(0L, nDays.toLong).select(
        (lit(Day1) + col("id") * lit(DayNs)).as("ts"), col("id").as("v")),
      dir, "ts")

  private def vSet(dir: String): Set[Long] =
    VersionedTable.read(spark, dir).select("v").collect().map(_.getLong(0)).toSet

  private def appendRow(dir: String, v: Long): Long =
    VersionedTable.commitAppend(spark,
      spark.range(0, 1).select(lit(Day1).as("ts"), lit(v).as("v")), dir)

  test("append racing a live staged overwrite lands entirely in the post-swap table") {
    val dir = tmp() + "/t"
    seedDays(dir, 6)
    val lock = new Path(dir + ".__write_lock")
    val fs   = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ~2.9 s single-partition stage write, held under the table lease —
    // the live-writer window
    val slow = udf((x: Long) => { Thread.sleep(120L); x })
    val next = spark.range(0, 24, 1, numPartitions = 1)
      .select((lit(Day1 + DayNs) + col("id")).as("ts"), slow(col("id") + 100L).as("v"))
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try TimePartitioned.write(next, dir, "ts")
      catch { case t: Throwable => writerErr.set(t) }
    })
    writer.start()
    val deadline = System.currentTimeMillis() + 30000
    while (!fs.exists(lock) && writerErr.get() == null &&
        System.currentTimeMillis() < deadline) Thread.onSpinWait()
    assert(fs.exists(lock), s"overwrite never took the lease: ${writerErr.get()}")
    // mid-stage append: it stages lock-free, then its publish waits out
    // the overwrite's lease and commits on top of the NEW version — an
    // append published under the old head would have been replaced
    val av = appendRow(dir, 999L)
    writer.join(60000)
    assert(writerErr.get() == null, s"overwrite failed: ${writerErr.get()}")
    assert(av == 2L, s"the append must commit after the overwrite (v1), got v$av")
    // every overwrite row AND the appended row survive — nothing retired
    assert(vSet(dir) == (100L until 124L).toSet + 999L,
      "append raced the overwrite into row loss")
  }

  test("concurrent appends stage in parallel and all land exactly-once") {
    val dir = tmp() + "/t"
    seedDays(dir, 2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        gate.await()
        try appendRow(dir, 1000L + i)
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent appends failed: ${errs.peek()}")
    val got = VersionedTable.read(spark, dir).select("v").collect().map(_.getLong(0)).toSeq
    assert(got.sorted == (Seq(0L, 1L) ++ (0 until 4).map(1000L + _)).sorted,
      s"concurrent appends lost or duplicated rows: $got")
    assert(VersionedTable.latestVersion(dir).contains(4L), "one commit per append")
    // every published file sits in its day directory
    assert(VersionedTable.filesOf(dir, 4L).forall(_.startsWith("data/p_day=")))
  }

  test("dropDaysBefore refuses to race a live maintenance writer") {
    val dir = tmp() + "/t"
    seedDays(dir, 4)
    val rival = FsIO.acquireWriteLock(dir, "live-compaction", staleMs = 60000)
    try intercept[FsIO.LockBusy] {
      TimePartitioned.dropDaysBefore(spark, dir, Day1 + 2 * DayNs)
    } finally FsIO.releaseWriteLock(rival)
    assert(vSet(dir) == Set(0L, 1L, 2L, 3L), "a refused retention pass must delete nothing")
    // uncontended: the same pass drops exactly the pre-cutoff days
    val dropped = TimePartitioned.dropDaysBefore(spark, dir, Day1 + 2 * DayNs)
    assert(dropped.size == 2)
    assert(vSet(dir) == Set(2L, 3L))
  }
}
