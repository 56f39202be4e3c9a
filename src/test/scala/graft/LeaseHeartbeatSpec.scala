package graft

import java.nio.file.Files

import graft.tables.FsIO

/** A RawLocalFileSystem wearing a scheme FsIO does not recognize as
  * having an atomic create-no-overwrite — the stand-in for S3A-without-
  * conditional-writes in the lock-honesty gate test. */
class MockNonAtomicFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}

/** The maintenance-lease heartbeat: a write lease held across a
  * DATA-PROPORTIONAL write (TableManager's compaction swaps) must renew,
  * or a legitimately slow writer looks crashed to a rival, which then
  * seizes the lock mid-write. These tests prove: a heartbeated holder
  * never looks stale, a writer whose lease IS lost aborts loudly at its
  * next ownership check, and the lock-honesty gate refuses schemes
  * without an atomic create. */
class LeaseHeartbeatSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_lease").toString

  test("fixed lease goes stale under a slow holder; heartbeat lease never does") {
    val root = tmp()
    // control — the r16 hazard: ts written once at acquire, a rival's
    // takeover succeeds once the body outlives the lease
    val dirA = root + "/a"
    FsIO.acquireWriteLock(dirA, "slow-fixed", staleMs = 400)
    Thread.sleep(900)
    val rivalA = FsIO.acquireWriteLock(dirA, "rival", staleMs = 400)
    FsIO.releaseWriteLock(rivalA)
    // heartbeated — same timings, the rival must stay locked out for the
    // whole body because the renewal keeps the lease age under staleMs/3
    val dirB = root + "/b"
    // wide margins: suites run in parallel and the heartbeat thread can be
    // starved — renewal every 500 ms against a 1.5 s lease tolerates ~1 s
    // of scheduler delay without reading as stale
    FsIO.withWriteLockHeartbeat(dirB, "slow-hb", staleMs = 1500) { hb =>
      Thread.sleep(2500) // well past the lease; only renewals keep it live
      intercept[FsIO.LockBusy] {
        FsIO.acquireWriteLock(dirB, "rival", staleMs = 1500)
      }
      hb.verifyOwned("end of body")
      assert(!hb.lost)
    }
    // released on exit: a fresh acquire succeeds immediately
    FsIO.releaseWriteLock(FsIO.acquireWriteLock(dirB, "after", staleMs = 1500))
  }

  test("verifyOwned aborts once a foreign owner replaces the lock") {
    val dir = tmp() + "/t"
    val e = intercept[RuntimeException] {
      FsIO.withWriteLockHeartbeat(dir, "writer", staleMs = 300) { hb =>
        FsIO.writeText(dir + ".__write_lock",
          s"owner=intruder\nts=${System.currentTimeMillis()}\nlabel=rival\n")
        // poll: under parallel-suite load a heartbeat tick can be delayed
        val deadline = System.currentTimeMillis() + 10000
        while (!hb.lost && System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(hb.lost, "heartbeat renewal should have flagged the foreign owner")
        hb.verifyOwned("publishing")
        fail("verifyOwned must abort on a lost lease")
      }
    }
    assert(e.getMessage.contains("lost before publishing"))
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
}
