package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._
import graft.tables.VersionedTable

/** Lock-free append staging: commitAppend's O(data) phase (parquet write +
  * constraint proof) runs OUTSIDE the write lease; only the O(metadata)
  * publish tail serializes, with bounded retry on a live rival. These
  * specs pin the two behaviors that buys: (1) N concurrent appenders all
  * land exactly once with contiguous versions, (2) one appender's slow
  * staging does not serialize the others behind it. */
class ConcurrentAppendSpec extends SparkSpec {
  import spark.implicits._

  private def dirOf() =
    java.nio.file.Files.createTempDirectory("graft_capp").toString + "/t"

  test("concurrent appenders: every batch lands exactly once, versions contiguous") {
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((-1L, -1L)).toDF("k", "x"), dir) // v0
    val nThreads = 4
    val perThread = 3
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        start.await()
        try (0 until perThread).foreach { i =>
          val k = (t * perThread + i).toLong
          VersionedTable.commitAppend(spark,
            Seq((k, k * 10)).toDF("k", "x"), dir)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"appender errors: ${errs.toArray.mkString("; ")}")
    val total = 1 + nThreads * perThread
    assert(VersionedTable.log(dir).map(_._1) == (0L until total.toLong),
      "versions must be contiguous")
    val rows = VersionedTable.read(spark, dir).collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (-1L until (nThreads * perThread).toLong).toSeq,
      s"every batch exactly once; got ${rows.mkString(",")}")
  }

  test("slow staging does not hold the lease: fast appenders commit DURING a rival's stage") {
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((0L, 0L)).toDF("k", "x"), dir) // v0
    val marker = java.nio.file.Files.createTempDirectory("graft_capp_m")
      .resolve("staging-started").toString
    // the slow appender's source plan sleeps INSIDE its write task — the
    // staging phase takes ≥2.5 s; under lease-held-during-staging semantics
    // the fast appender below would contend for that whole window
    val slowDf = spark.range(1).select(lit(999L).as("k"), lit(999L).as("x"))
      .map { r =>
        java.nio.file.Files.createFile(java.nio.file.Paths.get(marker))
        Thread.sleep(2500)
        (r.getLong(0), r.getLong(1))
      }.toDF("k", "x")
    @volatile var slowV = -1L
    val slow = new Thread(() => { slowV = VersionedTable.commitAppend(spark, slowDf, dir) })
    slow.start()
    // wait for the slow stage to be provably in flight
    val t0 = System.currentTimeMillis()
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)) &&
      System.currentTimeMillis() - t0 < 30000) Thread.sleep(10)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(marker)), "slow stage never started")
    // three fast appends while the rival is mid-stage
    val fastVs = (1 to 3).map { i =>
      VersionedTable.commitAppend(spark, Seq((i.toLong, i.toLong)).toDF("k", "x"), dir)
    }
    slow.join(TimeUnit.SECONDS.toMillis(60))
    assert(slowV >= 0, "slow append never committed")
    assert(fastVs.max < slowV,
      s"fast appends ($fastVs) must commit BEFORE the slow stager's publish ($slowV)")
    assert(VersionedTable.read(spark, dir).count() == 5)
  }

  test("an append lands DURING a rewrite's stage; the rewrite rebases over it (WriteSerializable)") {
    import ConcurrentAppendSpec.holdOn5
    // each rewrite: its name, the rewrite of `dir` (held open by a UDF
    // that touches `marker`), and the rows it leaves of the v0 table
    val rewrites: Seq[(String, (String, String) => Long, Map[Long, Long])] = Seq(
      ("commitUpdate", (dir, marker) => {
        val slow = udf { (x: Long) => holdOn5(marker, x); x }
        VersionedTable.commitUpdate(spark, dir, col("k") === 5L,
          Map("x" -> (slow(col("x")) + 1000L)))
      }, (0L until 10L).map(k => k -> (if (k == 5L) 1005L else k)).toMap),
      // the overwrite's source reads no table: its rows are the new content
      ("commit", (dir, marker) => {
        val slow = udf { (x: Long) => holdOn5(marker, x); x }
        VersionedTable.commit(spark, spark.range(0L, 10L)
          .select(col("id").as("k"), (slow(col("id")) * 2L).as("x")), dir)
      }, (0L until 10L).map(k => k -> k * 2L).toMap),
      // the scoping predicate's scan holds the compaction's stage open
      ("commitCompact", (dir, marker) => {
        val slow = udf { (k: Long) => holdOn5(marker, k); true }
        VersionedTable.commitCompact(spark, dir, targetFiles = 1, where = Some(slow(col("k"))))
      }, (0L until 10L).map(k => k -> k).toMap))
    for ((name, rewrite, expected) <- rewrites) {
      val dir = dirOf()
      VersionedTable.commitAppend(spark,
        spark.range(0L, 10L).select(col("id").as("k"), col("id").as("x")), dir) // v0
      val marker = java.nio.file.Files.createTempDirectory("graft_occ_m")
        .resolve("rewrite-started").toString
      @volatile var rwV = -1L
      @volatile var rwErr: Throwable = null
      val rw = new Thread(() => {
        try rwV = rewrite(dir, marker)
        catch { case e: Throwable => rwErr = e }
      })
      rw.start()
      val t0 = System.currentTimeMillis()
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)) &&
        System.currentTimeMillis() - t0 < 30000) Thread.sleep(10)
      // the rewrite is mid-stage (holding NO lease); a blind append lands now
      val appV = VersionedTable.commitAppend(spark,
        Seq((100L, 100L)).toDF("k", "x"), dir)
      rw.join(60000)
      assert(rwErr == null, s"$name failed: $rwErr")
      assert(rwV >= 0, s"$name never committed")
      assert(appV < rwV, s"$name: append ($appV) must land before the rewrite's publish ($rwV)")
      // the rewrite REBASED: its manifest carries the appended file it never read
      val rows = VersionedTable.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == expected + (100L -> 100L), s"$name: $rows")
      if (name == "commitCompact")
        assert(!VersionedTable.dataChanged(dir, rwV), "a rebased compaction changes no rows")
    }
  }

  test("two racing rewrites: the loser detects the conflict and auto-retries to a correct state") {
    import ConcurrentAppendSpec.holdOn5
    // each input holds one rewrite mid-stage (a UDF on key 5) while a rival
    // rewrite of the same files commits: two disjoint updates, and an
    // OPTIMIZE re-layout against an update of every row. The held rewrite's
    // publish conflicts, it re-reads the rival's head and commits on top;
    // every row carries exactly its update
    val inputs: Seq[(String, (String, String) => Long, String => Long, Long => Long)] = Seq(
      ("commitUpdate x2", (dir, marker) => {
        val two = udf { (k: Long) => holdOn5(marker, k); 2L }
        VersionedTable.commitUpdate(spark, dir, pmod(col("k"), lit(2L)) === 1L,
          Map("x" -> (col("x") + two(col("k")))))
      }, dir => VersionedTable.commitUpdate(spark, dir, pmod(col("k"), lit(2L)) === 0L,
          Map("x" -> (col("x") + 1L))),
        k => if (k % 2 == 0) 1L else 2L),
      ("commitCompact vs commitUpdate", (dir, marker) => {
        val scope = udf { (k: Long) => holdOn5(marker, k); true }
        VersionedTable.commitCompact(spark, dir, targetFiles = 1, where = Some(scope(col("k"))))
      }, dir => VersionedTable.commitUpdate(spark, dir, lit(true), Map("x" -> (col("x") + 1L))),
        _ => 1L))
    for ((name, held, rival, expected) <- inputs) {
      val dir = dirOf()
      VersionedTable.commitAppend(spark,
        spark.range(0L, 200L).select(col("id").as("k"), lit(0L).as("x"))
          .repartition(4), dir) // v0
      val marker = java.nio.file.Files.createTempDirectory("graft_occ_r")
        .resolve("held").toString
      @volatile var heldV = -1L
      @volatile var heldErr: Throwable = null
      val t = new Thread(() => {
        try heldV = held(dir, marker)
        catch { case e: Throwable => heldErr = e }
      })
      t.start()
      val t0 = System.currentTimeMillis()
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)) &&
        System.currentTimeMillis() - t0 < 30000) Thread.sleep(10)
      val rivalV = rival(dir)
      t.join(120000)
      assert(heldErr == null, s"$name: held rewrite failed: $heldErr")
      assert(rivalV == 1L && heldV == 2L,
        s"$name: the rival must commit during the held stage (v$rivalV), the held one after (v$heldV)")
      if (name.startsWith("commitCompact"))
        assert(!VersionedTable.dataChanged(dir, heldV), s"$name: a compaction changes no rows")
      val rows = VersionedTable.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.length == 200, name)
      assert(rows.forall { case (k, x) => x == expected(k) },
        s"$name: every row carries exactly its own update: ${rows.filterNot {
          case (k, x) => x == expected(k) }.take(5).mkString(",")}")
    }
  }

  test("DV delete rebases over a concurrent append; appended rows stay unmasked") {
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      spark.range(0L, 50L).select(col("id").as("k"), col("id").as("x")), dir) // v0
    val marker = java.nio.file.Files.createTempDirectory("graft_occ_dv")
      .resolve("scan-started").toString
    // NOTE the sidecar stage runs coalesce(1): the whole scan evaluates in
    // ONE task, so per-row sleeps add up — 50 × 100 ms ≈ 5 s of staging,
    // plenty of window for the rival append, comfortably under the join
    val slowCond = udf { (k: Long) =>
      try java.nio.file.Files.createFile(java.nio.file.Paths.get(marker))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      Thread.sleep(100)
      k % 10L == 0L
    }
    @volatile var delV = -1L
    @volatile var delErr: Throwable = null
    val del = new Thread(() => {
      try delV = VersionedTable.commitDeleteDV(spark, dir, slowCond(col("k")))
      catch { case e: Throwable => delErr = e }
    })
    del.start()
    val t0 = System.currentTimeMillis()
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)) &&
      System.currentTimeMillis() - t0 < 30000) Thread.sleep(10)
    // k=0 would match the delete cond — but this append is invisible to the
    // pinned scan, and WriteSerializable keeps it (blind appends never lose)
    val appV = VersionedTable.commitAppend(spark, Seq((0L, 999L)).toDF("k", "x"), dir)
    del.join(60000)
    assert(delErr == null, s"delete failed: $delErr")
    assert(delV >= 0 && appV < delV)
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!rows.exists { case (k, x) => k % 10 == 0 && x < 50 },
      "original %10 rows masked")
    assert(rows.contains((0L, 999L)), "the rebased-over appended row survives")
    assert(rows.size == 46) // 50 - 5 masked + 1 appended
  }
}

object ConcurrentAppendSpec {
  /** On key 5: mark the stage as started (create `marker`) and hold it open
    * for 2 s — the window a rival append lands in. */
  def holdOn5(marker: String, k: Long): Unit =
    if (k == 5L) {
      try java.nio.file.Files.createFile(java.nio.file.Paths.get(marker))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      Thread.sleep(2000)
    }
}
