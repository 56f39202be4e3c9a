package graft

import org.apache.spark.sql.functions._
import graft.tables.VersionedTable

/** The delta-encoded commit log: between checkpoints a commit entry
  * carries only its own actions (add/remove/dvclear/dvadd) — O(change)
  * metadata bytes — and every CheckpointInterval-th entry in a chain is a
  * full manifest bounding resolution at O(interval) entry reads. These
  * specs pin (1) the serialization actually shrinks to O(change), (2) the
  * checkpoint cadence holds, (3) every version still resolves to exactly
  * the right row set across delta chains, DV actions, vacuum, and the
  * whole-table-commit anchor rule. */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private def dirOf() =
    java.nio.file.Files.createTempDirectory("graft_dlog").toString + "/t"

  private def entryBodies(dir: String): Seq[(Long, String)] =
    VersionedTable.log(dir).map { case (v, ms) =>
      val f = new java.io.File(new java.io.File(dir, "_log"), f"$v%05d-$ms%d.commit")
      v -> new String(java.nio.file.Files.readAllBytes(f.toPath))
    }

  private def kindOf(body: String): String = {
    val lines = body.split("\n").toSeq
    if (lines.contains("kind=delta")) "delta"
    else if (lines.contains("kind=manifest")) "manifest"
    else "none"
  }

  test("append chain: O(change) delta entries, full checkpoints on cadence, every version resolves") {
    val dir = dirOf()
    (0 until 25).foreach { i =>
      VersionedTable.commitAppend(spark,
        Seq((i.toLong, i * 10L)).toDF("k", "x").repartition(2), dir)
    }
    val bodies = entryBodies(dir)
    val kinds  = bodies.map { case (v, b) => v -> kindOf(b) }.toMap
    // v0 has no predecessor -> full; chain of 9 deltas, checkpoint, repeat
    assert(kinds(0L) == "manifest", kinds.toString)
    assert(kinds(10L) == "manifest" && kinds(20L) == "manifest", kinds.toString)
    assert((1L to 9L).forall(kinds(_) == "delta"), kinds.toString)
    assert((11L to 19L).forall(kinds(_) == "delta"), kinds.toString)
    // delta entries carry ONLY the appended files: 2 add-lines, no file= list
    val d19 = bodies.find(_._1 == 19L).get._2
    assert(d19.split("\n").count(_.startsWith("add=")) == 2, d19)
    assert(!d19.contains("file="), d19)
    // the v19 full manifest would be 40 lines; the delta is O(change)
    assert(VersionedTable.filesOf(dir, 19L).size == 40)
    // every version resolves to the right cumulative row set
    Seq(0L, 7L, 10L, 13L, 19L, 20L, 24L).foreach { v =>
      val got = VersionedTable.read(spark, dir, Some(v)).count()
      assert(got == v + 1, s"version $v: expected ${v + 1} rows, got $got")
    }
  }

  test("a whole-table commit publishes a full manifest: the next append is a delta on it (anchor rule)") {
    val dir = dirOf()
    VersionedTable.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir) // v0
    VersionedTable.commitAppend(spark, Seq((3L, "c")).toDF("k", "s"), dir)      // v1
    VersionedTable.commit(spark, Seq((4L, "d")).toDF("k", "s"), dir)            // v2
    VersionedTable.commitAppend(spark, Seq((5L, "e")).toDF("k", "s"), dir)      // v3
    val kinds = entryBodies(dir).map { case (v, b) => v -> kindOf(b) }.toMap
    assert(kinds == Map(0L -> "manifest", 1L -> "delta", 2L -> "manifest", 3L -> "delta"),
      kinds.toString)
    assert(VersionedTable.read(spark, dir, Some(1L)).count() == 3)
    assert(VersionedTable.read(spark, dir).count() == 2)
  }

  test("DV delete serializes as dvadd-only delta; sidecar compaction clears and re-adds; masks resolve across the chain") {
    val dir = dirOf()
    val base = spark.range(0L, 100L).select(col("id").as("k"), (col("id") * 2).as("x"))
    VersionedTable.commitAppend(spark, base.repartition(4), dir)              // v0 full
    VersionedTable.commitDeleteDV(spark, dir, pmod(col("k"), lit(10L)) === 0L) // v1
    VersionedTable.commitDeleteDV(spark, dir, pmod(col("k"), lit(10L)) === 1L) // v2 (stacked)
    val bodies = entryBodies(dir).toMap
    val d1 = bodies(1L)
    assert(kindOf(d1) == "delta", d1)
    assert(d1.split("\n").count(_.startsWith("dvadd=")) > 0, d1)
    assert(!d1.contains("add=") || d1.split("\n").forall(l => !l.startsWith("add=")), d1)
    assert(!d1.contains("remove="), d1)
    // stacked masks: 20 of 100 rows gone
    assert(VersionedTable.read(spark, dir).count() == 80)
    // sidecar compaction rewrites each entry's dv LIST -> dvclear+dvadd delta
    val vc = VersionedTable.compactDeletionVectors(spark, dir)
    val dc = entryBodies(dir).toMap.apply(vc)
    if (kindOf(dc) == "delta") {
      assert(dc.split("\n").count(_.startsWith("dvclear=")) == 4, dc)
    }
    assert(VersionedTable.read(spark, dir).count() == 80)
    assert(VersionedTable.entriesOf(dir, vc).forall(_._2.size <= 1))
    // time travel to pre-compaction versions still masks correctly
    assert(VersionedTable.read(spark, dir, Some(1L)).count() == 90)
    assert(VersionedTable.read(spark, dir, Some(0L)).count() == 100)
  }

  test("vacuum on a delta chain: retained versions resolve through anchors below retention; dropped data swept") {
    val dir = dirOf()
    (0 until 6).foreach { i =>
      VersionedTable.commitAppend(spark, Seq((i.toLong, i)).toDF("k", "x"), dir)
    }
    // v6 delete rewrites the file holding k=0 (v0's exclusive file becomes
    // unreferenced by v6+); v7 compaction rewrites everything
    VersionedTable.commitDelete(spark, dir, col("k") === 0L)    // v6 (delta)
    VersionedTable.commitCompact(spark, dir, targetFiles = 2)   // v7 (full rewrite)
    val dropped = VersionedTable.vacuum(spark, dir, retainLast = 2, graceMs = 0L)
    assert(dropped.nonEmpty, "expected versions dropped")
    // retained v6 is a DELTA whose full-manifest anchor (v0) is below
    // retention — it still resolves, because log entries are kept forever
    assert(VersionedTable.read(spark, dir, Some(6L)).count() == 5)
    assert(VersionedTable.read(spark, dir, Some(7L)).count() == 5)
    // a dropped version fails as vacuumed, not as unknown
    val ex = intercept[Exception] { VersionedTable.read(spark, dir, Some(0L)).count() }
    assert(ex.getMessage.contains("vacuumed"), ex.getMessage)
  }

  test("changes()/diff across a checkpoint boundary see exactly the per-step rows") {
    val dir = dirOf()
    (0 until 12).foreach { i =>
      VersionedTable.commitAppend(spark, Seq((i.toLong, i * 1L)).toDF("k", "x"), dir)
    }
    // span (8, 11] crosses the v10 checkpoint
    val feed = VersionedTable.changes(spark, dir, 8L, 11L, Seq("k"), Seq("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((9L, 9L, "added"), (10L, 10L, "added"), (11L, 11L, "added")), feed.toString)
    val d = VersionedTable.diff(spark, dir, 9L, 11L, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(10L -> "added", 11L -> "added"), d.toString)
  }

  test("timestamp time travel: readAsOf resolves the version current at that instant") {
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((1L, 1L)).toDF("k", "x"), dir) // v0
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    VersionedTable.commitAppend(spark, Seq((2L, 2L)).toDF("k", "x"), dir) // v1
    assert(VersionedTable.versionAsOf(dir, between) == 0L)
    assert(VersionedTable.readAsOf(spark, dir, between).count() == 1)
    assert(VersionedTable.readAsOf(spark, dir, System.currentTimeMillis()).count() == 2)
    val ex = intercept[Exception] { VersionedTable.versionAsOf(dir, 1000L) }
    assert(ex.getMessage.contains("precedes the first commit"), ex.getMessage)
  }

  test("age-based vacuum: old versions' exclusive data dropped, newest always survives") {
    val dir = dirOf()
    (0 until 3).foreach { i =>
      VersionedTable.commitAppend(spark, Seq((i.toLong, i)).toDF("k", "x"), dir)
    }
    VersionedTable.commitCompact(spark, dir, targetFiles = 1) // v3: full rewrite
    // a huge window drops nothing
    assert(VersionedTable.vacuumOlderThan(spark, dir, olderThanMs = 3600000L, graceMs = 0L).isEmpty)
    assert(VersionedTable.read(spark, dir, Some(0L)).count() == 1)
    // window 0: everything is "old" — only the newest version survives
    val dropped = VersionedTable.vacuumOlderThan(spark, dir, olderThanMs = 0L, graceMs = 0L)
    assert(dropped.nonEmpty, "pre-compaction versions' exclusive files must drop")
    assert(VersionedTable.read(spark, dir).count() == 3)
    intercept[Exception] { VersionedTable.read(spark, dir, Some(0L)).count() }
  }

  test("commitCompact zOrderCols: selective filters on EITHER column touch few files") {
    val dir = dirOf()
    // anti-correlated layout: clustering by a alone would leave b scattered
    val base = spark.range(0L, 4096L).select(
      col("id").as("a"), (lit(4095L) - col("id")).as("b"),
      pmod(col("id"), lit(7L)).as("x"))
    VersionedTable.commitAppend(spark, base.repartition(8), dir)
    val before = VersionedTable.read(spark, dir).collect().map(_.toSeq).toSet
    val vz = VersionedTable.commitCompact(spark, dir, targetFiles = 4,
      zOrderCols = Seq("a", "b"))
    assert(VersionedTable.read(spark, dir).collect().map(_.toSeq).toSet == before)
    // files touched by a narrow range on each dimension — z-order keeps
    // both selective (4 files tile the (a,b) plane in 2x2 z-cells)
    def filesFor(cond: org.apache.spark.sql.Column): Long =
      VersionedTable.read(spark, dir).where(cond)
        .select(input_file_name()).distinct().count()
    assert(filesFor(col("a") < 100L) <= 2, "narrow a-range must prune files")
    assert(filesFor(col("b") < 100L) <= 2, "narrow b-range must prune files")
    // the re-layout is dataChange=false: the change feed skips it wholesale
    assert(VersionedTable.changes(spark, dir, vz - 1, vz, Seq("a"), Seq("x")).count() == 0)
  }

  test("torn-commit litter is inert: orphans never read, numbers never reused, vacuum sweeps all") {
    val dir = dirOf()
    (0 until 3).foreach { i =>
      VersionedTable.commitAppend(spark, Seq((i.toLong, i)).toDF("k", "x"), dir)
    }
    val before = VersionedTable.read(spark, dir).collect().map(_.toSeq).toSet
    // simulate every crash window's residue at once:
    val fdir = new java.io.File(dir)
    // (a) crashed stage: a .__tmp staging dir and an orphan data file
    assert(new java.io.File(fdir, ".stage-deadbeef.__tmp").mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "data", "aorphan00-dead-part-0.parquet"),
      Array.fill[Byte](16)(0x7f))
    // (b) crashed entry publish: a .commit.tmp in the log
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_log", "00099-123.commit.tmp"),
      "commitMs=123\nkind=delta\nadd=data/never.parquet\n".getBytes("UTF-8"))
    // (c) crashed evolve: an orphan declared-schema file at an uncommitted version
    assert(new java.io.File(fdir, "_schema").mkdirs() || new java.io.File(fdir, "_schema").isDirectory)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_schema", "v=00007.json"),
      new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("x", "int").add("ghost", "string").json.getBytes("UTF-8"))
    // reads are unaffected by ALL of it — orphan schema ignored (version 7
    // never committed), litter invisible
    assert(VersionedTable.read(spark, dir).collect().map(_.toSeq).toSet == before)
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("k", "x"))
    // the next commit skips PAST the orphan schema's number — no reuse that
    // would resurrect the ghost column
    val v = VersionedTable.commitAppend(spark, Seq((9L, 9)).toDF("k", "x"), dir)
    assert(v == 8L, s"version assignment must skip the orphan's number: got $v")
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("k", "x"))
    // vacuum sweeps every class of litter and keeps all live data
    VersionedTable.vacuum(spark, dir, retainLast = 10, graceMs = 0L)
    assert(!new java.io.File(fdir, ".stage-deadbeef.__tmp").exists)
    assert(!new java.io.File(new java.io.File(fdir, "data"), "aorphan00-dead-part-0.parquet").exists)
    assert(!new java.io.File(new java.io.File(fdir, "_log"), "00099-123.commit.tmp").exists)
    assert(!new java.io.File(new java.io.File(fdir, "_schema"), "v=00007.json").exists)
    assert(VersionedTable.read(spark, dir).count() == 4)
  }

  test("version-number gaps (crashed attempts) never wedge incremental consumers") {
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), dir)                       // v0
    // a crashed schema-changing commit: its tombstone file written, the
    // entry never — nextVersion must skip its number forever
    new java.io.File(dir, "_schema").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_schema", "v=00001.tombstones"),
      "ghost".getBytes("UTF-8"))
    val v = VersionedTable.commitUpdate(spark, dir,
      col("k") === 1L, Map("x" -> lit(99L)))
    assert(v == 2L, s"the orphan's number must never be reused (got v$v)")
    assert(VersionedTable.log(dir).map(_._1) == Seq(0L, 2L))
    // the gap version changed nothing (and must not error)
    assert(!VersionedTable.dataChanged(dir, 1L))
    // changes() walks COMMITTED pairs across the gap
    val ch = VersionedTable.changes(spark, dir, 0L, 2L, Seq("k"), Seq("x"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(ch == Set((1L, "updated")), ch.toString)
    // netChanges refuses a version past the head (offset-advance safety)
    val e = intercept[Exception] {
      VersionedTable.netChanges(spark, dir, 0L, 999L, Seq("k"), Seq("x"))
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    // batch CDF spans the gap
    VersionedTable.setKeyColumns(dir, Seq("k"))
    val feed = graft.sources.VersionedStream.changeFeedBatch(spark, dir,
      startingVersion = 0L)
    assert(feed.where(col("_change_type") === "update_postimage").count() == 1L)
    // the plain STREAM walks the gap too
    val root = java.nio.file.Files.createTempDirectory("graft_gap_s").toString
    VersionedTable.commitAppend(spark, Seq((3L, 30L)).toDF("k", "x"), dir)  // v3
    val q = spark.readStream.format(graft.sources.VersionedStream.format)
      .option("path", dir).option("startingVersion", "3")
      .load()
      .writeStream.format("parquet")
      .option("path", root + "/out").option("checkpointLocation", root + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(root + "/out").count() == 1L)
  }

  test("setProperty overwrite is one atomic rename (value flips, never vanishes)") {
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((1L, 1L)).toDF("k", "x"), dir)
    VersionedTable.setProperty(dir, "stage", "bronze")
    assert(VersionedTable.property(dir, "stage").contains("bronze"))
    VersionedTable.setProperty(dir, "stage", "silver") // overwrite path
    assert(VersionedTable.property(dir, "stage").contains("silver"))
    VersionedTable.removeProperty(dir, "stage")
    assert(VersionedTable.property(dir, "stage").isEmpty)
  }

  test("CONVERT refuses duplicate data-file base names at the adoption gate") {
    val root = java.nio.file.Files.createTempDirectory("graft_convdup").toString
    val lake = s"$root/lake"
    spark.range(2L).toDF("k").coalesce(1).write.parquet(s"$lake/sub1")
    // copy the single part file into a second subdir under the SAME name
    val f = new java.io.File(s"$lake/sub1").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(s"$lake/sub2").mkdirs()
    java.nio.file.Files.copy(f.toPath,
      new java.io.File(s"$lake/sub2", f.getName).toPath)
    val e = intercept[Exception] {
      VersionedTable.convertParquet(spark, lake, s"$root/t")
    }
    assert(e.getMessage.contains("duplicate data-file base names"), e.getMessage)
  }

  test("restore and clone stay correct over delta-encoded history") {
    val dir = dirOf()
    (0 until 4).foreach { i =>
      VersionedTable.commitAppend(spark, Seq((i.toLong, i)).toDF("k", "x"), dir)
    }
    VersionedTable.commitDelete(spark, dir, col("k") < 2L) // v4
    val vr = VersionedTable.commitRestore(spark, dir, 3L)  // back to 4 rows
    assert(VersionedTable.read(spark, dir, Some(vr)).count() == 4)
    val cdir = dirOf()
    VersionedTable.cloneShallow(spark, dir, cdir)
    assert(VersionedTable.read(spark, cdir).count() == 4)
  }
}
