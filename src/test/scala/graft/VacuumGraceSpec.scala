package graft

import java.nio.file.Files

import graft.tables.{FsIO, VersionedTable}

/** The vacuum/lock-free-writer race (round-11 hardening): commitAppend and
  * the rewrite commits stage data files while holding NO lease, so to a
  * concurrent vacuum those files are indistinguishable from crashed-attempt
  * orphans. Three defenses, each proven here:
  *  1. never-referenced files younger than the grace window are SKIPPED
  *     (the default-on protection);
  *  2. files referenced by a committed-but-dropped version still sweep
  *     immediately (retention policy is not a race);
  *  3. if an operator forces graceMs=0 under a live writer anyway, the
  *     writer's publish tail detects the sweep INSIDE the lease and aborts
  *     loudly instead of committing a manifest over vanished files.
  * Plus the snapshot-over-evolution declared-schema reset (a commit() on an
  * evolved table must not leave the stale evolved schema governing later
  * versions).
  */
class VacuumGraceSpec extends SparkSpec {

  private def dirOf() = Files.createTempDirectory("graft_vg").toString + "/t"

  test("grace window: young unreferenced litter survives default vacuum; graceMs=0 sweeps it") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((1L, "a")).toDF("id", "s"), dir)
    // forge a lock-free writer's in-flight artifacts: an unreferenced data
    // file and a staging dir, both freshly written (mtime = now)
    val fresh = new java.io.File(s"$dir/data/ainflight-part-00000.parquet")
    Files.write(fresh.toPath, Array[Byte](1, 2, 3))
    val stage = new java.io.File(s"$dir/.stage-inflight0000.__tmp")
    assert(stage.mkdirs())
    Files.write(new java.io.File(stage, "part-00000.parquet").toPath, Array[Byte](1))
    // default grace: both survive — a vacuum cannot tell them from a live
    // writer's staging, so it must not delete them
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(fresh.exists, "young unreferenced data file must survive the grace window")
    assert(stage.exists, "young staging dir must survive the grace window")
    // the table itself is untouched either way
    assert(VersionedTable.read(spark, dir).count() == 1L)
    // explicit graceMs=0 (operator asserting no writers are live): swept
    VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(!fresh.exists && !stage.exists, "graceMs=0 sweeps fresh litter")
  }

  test("files of a dropped committed version sweep immediately — grace is only for the never-referenced") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), dir) // one v0 file
    val v0Files = VersionedTable.filesOf(dir, 0L).toSet
    // rewrite every v0 file (the delete touches both rows' single file)
    VersionedTable.commitDelete(spark, dir, org.apache.spark.sql.functions.col("id") === 1L)
    // default grace, but v0's exclusive file was REFERENCED by v0's
    // manifest: dropping it is deliberate retention policy, no grace applies
    val dropped = VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(dropped.contains(0L))
    val left = new java.io.File(s"$dir/data").listFiles.map("data/" + _.getName).toSet
    assert(v0Files.forall(f => !left.contains(f)),
      s"dropped version's exclusive files must sweep immediately (left: $left)")
    assert(VersionedTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("publish tail aborts loudly when a graceless vacuum swept its staged files") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // every data commit stages lock-free: an append, an overwrite, and an
    // OPTIMIZE re-layout
    val writers: Seq[(String, String => Long)] = Seq(
      "commitAppend"  -> (dir => VersionedTable.commitAppend(spark, Seq((2L, "b")).toDF("id", "s"), dir)),
      "commit"        -> (dir => VersionedTable.commit(spark, Seq((2L, "b")).toDF("id", "s"), dir)),
      "commitCompact" -> (dir => VersionedTable.commitCompact(spark, dir, targetFiles = 1)))
    for ((name, write) <- writers) {
      val dir = dirOf()
      VersionedTable.commitAppend(spark, Seq((1L, "a")).toDF("id", "s"), dir)
      val referenced = VersionedTable.filesOf(dir, 0L).toSet
      // hold the table's write lease so the rival writer can stage
      // (lock-free) but cannot publish — the window a racing vacuum exploits
      val lock = FsIO.acquireWriteLock(dir, "test-hold", staleMs = 120000)
      try {
        val fut = Future(write(dir))
        def unreferenced(): Seq[java.io.File] = {
          val dd = new java.io.File(s"$dir/data")
          if (!dd.exists) Seq.empty
          else dd.listFiles.toSeq.filter(f => !referenced.contains("data/" + f.getName))
        }
        val deadline = System.currentTimeMillis() + 30000
        while (unreferenced().isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(unreferenced().nonEmpty, s"$name staged files while the lease was held")
        Thread.sleep(500) // let all of the rival's staging renames land
        // simulate the graceless vacuum: delete the staged files
        unreferenced().foreach(f => assert(f.delete()))
        FsIO.releaseWriteLock(lock)
        val ex = intercept[IllegalArgumentException] { Await.result(fut, 90.seconds) }
        assert(ex.getMessage.contains("swept before publish"), s"$name: ${ex.getMessage}")
        // the table head is untouched — no manifest references vanished files
        assert(VersionedTable.latestVersion(dir).contains(0L), name)
        assert(VersionedTable.read(spark, dir).count() == 1L, name)
      } finally FsIO.releaseWriteLock(lock)
    }
  }

  test("snapshot commit on an evolved table resets the declared schema") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((1L, 1.0)).toDF("id", "v"), dir)   // v0
    VersionedTable.commitAppendEvolve(spark,
      Seq((2L, 2.0, "x")).toDF("id", "v", "tag"), dir)                        // v1: declared (id,v,tag)
    // overwrite with a DIFFERENT schema: the snapshot's own schema must
    // become the declared truth from v2 on
    VersionedTable.commit(spark, Seq((5L, "w5")).toDF("id", "w"), dir)        // v2 snapshot
    // an append in the snapshot's schema must gate against IT, not the
    // stale evolved (id,v,tag) schema
    VersionedTable.commitAppend(spark, Seq((6L, "w6")).toDF("id", "w"), dir)  // v3
    val out = VersionedTable.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "w"), out.columns.mkString(","))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((5L, "w5"), (6L, "w6")))
    // and an append in the STALE evolved schema is refused
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.commitAppend(spark, Seq((7L, 7.0, "y")).toDF("id", "v", "tag"), dir)
    }
    assert(ex.getMessage.contains("schema mismatch"), ex.getMessage)
    // time travel below the snapshot still reads the evolved schema
    assert(VersionedTable.read(spark, dir, Some(1L)).columns.toSeq == Seq("id", "v", "tag"))
  }
}
