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

/** A RawLocalFileSystem wearing a scheme FsIO does not recognize as
  * having an atomic create-no-overwrite — the stand-in for S3A-without-
  * conditional-writes in the lock-honesty gate test. */
class MockNonAtomicFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}

/** Lock-protocol specs:
  *  - a fixed lease goes stale under a holder that outlives it, and a
  *    short-lease contender still honors a holder's DECLARED lease;
  *  - [[FsIO.replaceText]] (change-feed offsets, table properties) lands
  *    by temp-sibling + atomic rename, so a concurrent reader never
  *    parses a truncated body, and writes in place on an object store
  *    with no AbstractFileSystem binding;
  *  - lock honesty: a scheme without an atomic create is refused unless
  *    the operator opts in, and the `graft.lock.conditionalPut`
  *    attestation gives a store with conditional creates (modern S3) an
  *    EXACT lease, proven exactly-once under a 16-thread acquire race on
  *    a mock conditional-create FS;
  *  - day-table writers on the versioned log: an append that lands
  *    during an overwrite's stage survives it (the overwrite rebases),
  *    concurrent appends all land, and a retention drop refuses to race
  *    a live maintenance writer. */
class LockProtocolR18Spec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_lockr18").toString

  private val Day1  = 1700000000000000000L
  private val DayNs = 86400L * 1000000000L

  test("a fixed lease goes stale under a slow holder") {
    // ts is written once at acquire, so a rival's takeover succeeds once
    // the holder outlives the lease
    val dir = tmp() + "/t"
    FsIO.acquireWriteLock(dir, "slow-fixed", staleMs = 400)
    Thread.sleep(900)
    val rival = FsIO.acquireWriteLock(dir, "rival", staleMs = 400)
    FsIO.releaseWriteLock(rival)
  }

  test("lock honesty: a scheme without atomic create is refused unless opted in") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.mock.impl", classOf[MockNonAtomicFs].getName)
    conf.set("fs.mock.impl.disable.cache", "true")
    val dir = "mock:" + tmp() + "/t"
    val e = intercept[IllegalStateException] {
      FsIO.acquireWriteLock(dir, "w", staleMs = 60000, conf = conf)
    }
    assert(e.getMessage.contains(FsIO.BestEffortLockKey))
    conf.setBoolean(FsIO.BestEffortLockKey, true)
    val l = FsIO.acquireWriteLock(dir, "w", staleMs = 60000, conf = conf)
    FsIO.releaseWriteLock(l, conf)
  }

  // ---------------------------------------------------------- replaceText

  private def body(): String = s"owner=w\nts=${System.currentTimeMillis()}\nlabel=w\n"

  test("replaceText is torn-read-free under concurrent polling") {
    val dir  = tmp() + "/t"
    val path = new Path(dir + ".state")
    FsIO.writeText(path.toString, body())
    @volatile var stop = false
    val torn  = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => while (!stop) {
      // a truncated body (empty, or a partial ts digit prefix) would
      // misparse in any reader of the file
      FsIO.readText(path.toString).foreach { body =>
        reads.incrementAndGet()
        val tsOk = body.split("\n").exists(ln =>
          ln.startsWith("ts=") && ln.stripPrefix("ts=").toLongOption.exists(_ > 1600000000000L))
        if (!(body.contains("owner=") && tsOk && body.contains("label="))) {
          torn.incrementAndGet()
          System.err.println(s"TORN BODY: <<<$body>>>")
        }
      }
    })
    val tmpSibling = new Path(dir + ".state.tmp")
    reader.start()
    (1 to 300).foreach { _ => FsIO.replaceText(path, body(), tmpSibling) }
    stop = true
    reader.join(10000)
    assert(reads.get > 0, "reader never observed the file")
    assert(torn.get == 0, s"${torn.get} torn bodies observed by a concurrent poller")
    // the rename consumed every temp sibling — nothing lingers
    val leftovers = new java.io.File(dir).getParentFile.listFiles()
      .map(_.getName).filter(_.contains(".tmp"))
    assert(leftovers.isEmpty, s"temp files linger: ${leftovers.mkString(",")}")
  }

  test("replaceText works on an object-store scheme with no AbstractFileSystem binding") {
    // mockcond deliberately registers only fs.mockcond.impl — no
    // fs.AbstractFileSystem binding, the shape of most object-store
    // connectors. A FileContext-rename replace would throw
    // UnsupportedFileSystemException on every call here, on exactly the
    // stores the conditional-PUT attestation admits; the in-place
    // atomic-PUT path must replace fine.
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.mockcond.impl", classOf[MockConditionalFs].getName)
    conf.set("fs.mockcond.impl.disable.cache", "true")
    val path = new Path("mockcond:" + tmp() + "/t.state")
    FsIO.writeText(path.toString, body(), conf)
    val ts0 = FsIO.readText(path.toString, conf).get
      .split("\n").find(_.startsWith("ts=")).get.stripPrefix("ts=").toLong
    Thread.sleep(5)
    FsIO.replaceText(path, body(), new Path(path.toString + ".tmp"), conf)
    val body1 = FsIO.readText(path.toString, conf).get
    assert(body1.contains("owner=w"), "the replace must land the whole body")
    val ts1 = body1.split("\n").find(_.startsWith("ts=")).get.stripPrefix("ts=").toLong
    assert(ts1 > ts0, "the replace must land the new body")
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
    val marker = Files.createTempDirectory("graft_lockr18_m").resolve("staging").toString
    // ~2.9 s single-partition stage write, holding no lease — the window
    // the append below lands in
    val slow = udf { (x: Long) =>
      try Files.createFile(java.nio.file.Paths.get(marker))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      Thread.sleep(120L)
      x
    }
    val next = spark.range(0, 24, 1, numPartitions = 1)
      .select((lit(Day1 + DayNs) + col("id")).as("ts"), slow(col("id") + 100L).as("v"))
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var ov = -1L
    val writer = new Thread(() => {
      try ov = TimePartitioned.write(next, dir, "ts")
      catch { case t: Throwable => writerErr.set(t) }
    })
    writer.start()
    val deadline = System.currentTimeMillis() + 30000
    while (!Files.exists(java.nio.file.Paths.get(marker)) && writerErr.get() == null &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(Files.exists(java.nio.file.Paths.get(marker)),
      s"overwrite never started staging: ${writerErr.get()}")
    // mid-stage append: it commits v1 while the overwrite stages; the
    // overwrite then publishes v2 REBASED over it (WriteSerializable:
    // overwrite, then append), so the appended row is never replaced
    val av = appendRow(dir, 999L)
    writer.join(60000)
    assert(writerErr.get() == null, s"overwrite failed: ${writerErr.get()}")
    assert(av == 1L, s"the append must commit during the overwrite's stage, got v$av")
    assert(ov == 2L, s"the overwrite must publish after the append, got v$ov")
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
