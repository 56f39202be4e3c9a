package graft

import java.nio.file.Files

import graft.tables.VersionedTable
import org.apache.spark.sql.functions._

/** CROSS-JVM OCC stress: two REAL processes (not threads — the lease file
  * is arbitrated by the kernel's O_CREAT|O_EXCL, which in-process tests
  * can't exercise) race commitAppend / copy-on-write DELETE / vacuum on
  * one shared table. Proves the Delta-parity properties under genuine
  * concurrency: no lost commit, serialized version numbers, no vanished
  * history for retained versions. */
class OccCrossJvmSpec extends SparkSpec {

  private val PerChild = 12

  private def spawn(dir: String, id: String, log: java.io.File): Process =
    ChildJvm.spawn("2g", "graft.OccStressChild", Seq(dir, id, PerChild.toString), log)

  test("two JVMs racing appends + delete + vacuum: no lost commit, serialized versions") {
    val root = Files.createTempDirectory("graft_occ").toString
    val dir = root + "/t"
    val (logA, logB) = (new java.io.File(root, "a.log"), new java.io.File(root, "b.log"))
    val (pa, pb) = (spawn(dir, "a", logA), spawn(dir, "b", logB))
    // SNAPSHOT-ISOLATION READER racing both writers from a THIRD process
    // (this JVM): readers take no lock — every successful read must land
    // on a commit boundary (counts are whole 5-row batches; the delete
    // removes whole batches too) and resolved versions must be monotone.
    // Reads that race a vacuum past retainLast may fail transiently (the
    // documented Delta-VACUUM hazard) — those retry, they don't count.
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val cleanReads = new java.util.concurrent.atomic.AtomicInteger
    val versionObs = new java.util.concurrent.atomic.AtomicInteger
    def racing = pa.isAlive || pb.isAlive
    // metadata sampler: one log listing per tick, dense coverage
    val sampler = new Thread(() => {
      var lastVersion = -1L
      while (racing) {
        try VersionedTable.latestVersion(dir).foreach { v =>
          if (v < lastVersion)
            violations.add(s"version went backwards: $lastVersion -> $v")
          lastVersion = math.max(lastVersion, v)
          versionObs.incrementAndGet()
        } catch { case _: Throwable => () }
        Thread.sleep(10)
      }
    })
    // snapshot reader: full table reads, seconds each under contention —
    // an aggressive retainLast=5 vacuum makes many race a drop (the
    // documented hazard; those retry and don't count)
    val reader = new Thread(() => {
      while (racing) {
        try if (VersionedTable.latestVersion(dir).isDefined) {
          val n = VersionedTable.read(spark, dir).count()
          if (n % 5 != 0) violations.add(s"torn read: $n rows")
          cleanReads.incrementAndGet()
        } catch { case _: Throwable => () }
        Thread.sleep(10)
      }
    })
    sampler.start(); reader.start()
    sampler.join(300000); reader.join(300000)
    // on a fast host every in-race read can lose to the vacuum — the
    // boundary-count invariant still gets one post-race sample (the live
    // monotonicity samples above are the in-race evidence)
    if (cleanReads.get == 0) {
      val n = VersionedTable.read(spark, dir).count()
      if (n % 5 != 0) violations.add(s"torn read: $n rows")
      cleanReads.incrementAndGet()
    }
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    assert(versionObs.get >= 10 && cleanReads.get >= 1,
      s"reader must observe the race: ${versionObs.get} version obs, " +
        s"${cleanReads.get} clean reads")
    assert(pa.waitFor(5, java.util.concurrent.TimeUnit.MINUTES), "child a timed out")
    assert(pb.waitFor(5, java.util.concurrent.TimeUnit.MINUTES), "child b timed out")
    def tail(f: java.io.File): String = {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      s.takeRight(4000)
    }
    val (outA, outB) = (tail(logA), tail(logB))
    assert(pa.exitValue() == 0, s"child a failed:\n$outA")
    assert(pb.exitValue() == 0, s"child b failed:\n$outB")
    assert(outA.contains(s"CHILD_OK a $PerChild"), outA.takeRight(500))
    assert(outB.contains(s"CHILD_OK b $PerChild"), outB.takeRight(500))

    // SERIALIZED VERSIONS: every commit got its own contiguous number —
    // 2×PerChild appends + 1 delete + 2 post-barrier ALTERs (vacuum
    // commits no version)
    val expectedCommits = 2 * PerChild + 3
    assert(VersionedTable.latestVersion(dir).contains(expectedCommits - 1L),
      s"latest=${VersionedTable.latestVersion(dir)} expected ${expectedCommits - 1}")

    // NO LOST COMMIT: the final table holds exactly each child's appended
    // batches minus child a's own delete — every (writer, seq) exactly 5 rows
    val rows = VersionedTable.read(spark, dir)
      .groupBy("writer", "seq").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected =
      ((3 until PerChild).map(i => ("a", i.toLong) -> 5L) ++
        (0 until PerChild).map(i => ("b", i.toLong) -> 5L)).toMap
    assert(rows == expected,
      s"missing=${expected.keySet -- rows.keySet} extra=${rows.keySet -- expected.keySet}")

    // RACED ALTERS both landed: two distinct metadata commits, one column
    // each — and the data read serves them as nulls on every pre-ALTER row
    val cols = VersionedTable.read(spark, dir).columns.toSet
    assert(Set("extra_a", "extra_b").subsetOf(cols), s"raced ALTERs lost: $cols")

    // NO VANISHED HISTORY: the log still answers for every commit, and
    // every vacuum-retained version reads in full
    assert(VersionedTable.history(spark, dir).count() == expectedCommits.toLong)
    val latest = VersionedTable.latestVersion(dir).get
    (latest - 4 to latest).foreach { v =>
      assert(VersionedTable.read(spark, dir, Some(v)).count() > 0L,
        s"retained version $v must read")
    }
  }
}
