package graft

import java.nio.file.Files

import graft.tables.VersionedTable
import org.apache.spark.sql.functions._

class VersionedTableSpec extends SparkSpec {

  private def dirOf() = Files.createTempDirectory("graft_vt").toString + "/t"

  test("commit/read/time-travel: every retained version readable, latest by default") {
    import spark.implicits._
    val dir = dirOf()
    val v0 = VersionedTable.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    val v1 = VersionedTable.commit(spark, Seq((1L, "a2"), (3L, "c")).toDF("id", "s"), dir)
    val v2 = VersionedTable.commit(spark, Seq((9L, "z")).toDF("id", "s"), dir)
    assert(Seq(v0, v1, v2) == Seq(0L, 1L, 2L))
    assert(VersionedTable.latestVersion(dir).contains(2L))
    assert(VersionedTable.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(9L))
    assert(VersionedTable.read(spark, dir, Some(0L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a"), (2L, "b")))
    assert(VersionedTable.read(spark, dir, Some(1L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a2"), (3L, "c")))
    val vs = VersionedTable.versions(spark, dir)
    assert(vs.map(_._1) == Seq(0L, 1L, 2L))
    assert(vs.map(_._2).forall(_ > 0L), "commit timestamps recorded")
    // a version past the pointer does not exist for readers
    intercept[IllegalArgumentException] { VersionedTable.read(spark, dir, Some(5L)) }
  }

  test("reader isolation: a pinned version's files are untouched by later commits") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commit(spark, Seq((1L, 10.0)).toDF("id", "v"), dir)
    def files(v: Long) = VersionedTable.filesOf(dir, v)
      .map(rel => new java.io.File(dir, rel))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    val pinned = VersionedTable.read(spark, dir, Some(0L)) // lazy plan over v0
    val before = files(0L)
    VersionedTable.commit(spark, Seq((2L, 20.0)).toDF("id", "v"), dir)
    VersionedTable.commit(spark, Seq((3L, 30.0)).toDF("id", "v"), dir)
    assert(files(0L) == before, "v0 files must never move under a reader")
    // the pre-commit plan still evaluates against v0
    assert(pinned.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("vacuum keeps the last N, sweeps orphans, and vacuumed reads fail loudly") {
    import spark.implicits._
    val dir = dirOf()
    (0 until 4).foreach(i => VersionedTable.commit(spark, Seq((i.toLong, i)).toDF("id", "v"), dir))
    // forge the INVISIBLE residue of a crashed commit: a staged data file
    // and an entry temp for version 9, never renamed into the log
    val orphan = new java.io.File(s"$dir/data/c00009-deadbeef-part-00000.parquet")
    Seq((99L, 99)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/.stage-forged.__tmp")
    java.nio.file.Files.move(new java.io.File(s"$dir/.stage-forged.__tmp").listFiles
      .find(_.getName.endsWith(".parquet")).get.toPath, orphan.toPath)
    graft.tables.FsIO.writeText(s"$dir/_log/00009-1.commit.tmp",
      s"commitMs=1\nkind=manifest\nfile=data/${orphan.getName}\n")
    intercept[IllegalArgumentException] { VersionedTable.read(spark, dir, Some(9L)) }
    val next = VersionedTable.commit(spark, Seq((5L, 5)).toDF("id", "v"), dir)
    assert(next == 4L)
    assert(VersionedTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(5L),
      "the orphan never becomes visible")
    val dropped = VersionedTable.vacuum(spark, dir, retainLast = 2, graceMs = 0L)
    assert(dropped == Seq(0L, 1L, 2L), s"dropped $dropped")
    assert(!orphan.exists, "vacuum must sweep the crashed commit's staged file")
    assert(VersionedTable.versions(spark, dir).map(_._1) == Seq(3L, 4L))
    val e = intercept[IllegalArgumentException] { VersionedTable.read(spark, dir, Some(1L)) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(VersionedTable.read(spark, dir, Some(3L)).count() == 1L)
  }

  test("a foreign _log layout fails loudly instead of reading as an empty history") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commit(spark, Seq((1L, 1)).toDF("id", "v"), dir)
    // replace the log DIRECTORY with a plain file of the same name — a
    // foreign/incompatible layout; silently-empty here would let vacuum
    // classify every live version as an orphan and delete committed data
    val ld = new java.io.File(s"$dir/_log")
    ld.listFiles.foreach(_.delete()); ld.delete()
    graft.tables.FsIO.writeText(ld.getPath, "not a log dir\n")
    val e = intercept[IllegalArgumentException] { VersionedTable.log(dir) }
    assert(e.getMessage.contains("not a log directory"), e.getMessage)
    intercept[IllegalArgumentException] { VersionedTable.vacuum(spark, dir, 1, graceMs = 0L) }
    assert(new java.io.File(s"$dir/data").listFiles.exists(_.getName.endsWith(".parquet")),
      "data must survive the refusal")
  }

  // ---- incremental (file-sharing) commits --------------------------------

  private def dataFiles(dir: String): Map[String, (Long, Long)] = {
    val dd = new java.io.File(s"$dir/data")
    if (!dd.exists) Map.empty
    else dd.listFiles.filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
  }

  test("commitAppend shares the previous version's files: only new rows' files are written") {
    import spark.implicits._
    val dir = dirOf()
    val v0 = VersionedTable.commitAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2), dir)
    val after0 = dataFiles(dir)
    assert(v0 == 0L && after0.nonEmpty)
    val v1 = VersionedTable.commitAppend(spark, Seq((3L, "c")).toDF("id", "s"), dir)
    val after1 = dataFiles(dir)
    // v0's files are SHARED: byte-identical at the same path, not copied
    after0.foreach { case (name, sig) =>
      assert(after1.get(name).contains(sig), s"$name must be untouched by the append")
    }
    assert(after1.size > after0.size, "append must add at least one new file")
    assert(VersionedTable.read(spark, dir, Some(v0)).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L), "time travel to the pre-append version")
    assert(VersionedTable.read(spark, dir, Some(v1)).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
  }

  test("commitUpdate rewrites ONLY files containing matching rows (copy-on-write)") {
    import spark.implicits._
    val dir = dirOf()
    // two files with disjoint key ranges: the update touches only one
    VersionedTable.commitAppend(spark,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v").repartitionByRange(2, col("id")), dir)
    val before = dataFiles(dir)
    assert(before.size == 2, s"expected 2 data files, got ${before.size}")
    val v1 = VersionedTable.commitUpdate(spark, dir,
      cond = col("id") <= 10L, set = Map("v" -> (col("v") + 1000.0)))
    val after = dataFiles(dir)
    // nothing rewritten IN PLACE (v0 still references both originals), and
    // exactly ONE new file appeared — the rewrite of the single touched file
    before.foreach { case (n, sig) =>
      assert(after.get(n).contains(sig), s"$n must stay byte-identical (v0 references it)")
    }
    assert(after.size == before.size + 1,
      s"one touched file -> one rewritten file; got ${after.size - before.size} new")
    val got = VersionedTable.read(spark, dir, Some(v1))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 100 && got(5L) == 1005.0 && got(50L) == 50.0)
    // time travel: v0 still reads the original values through its manifest
    val v0got = VersionedTable.read(spark, dir, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(v0got(5L) == 5.0)
    // vacuum to v1 only: the touched ORIGINAL (now v0-exclusive) is swept,
    // the untouched original survives as v1's shared file
    assert(VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L) == Seq(0L))
    val afterVac = dataFiles(dir)
    assert(afterVac.size == before.size, s"${afterVac.size} files after vacuum")
    assert(before.count { case (n, sig) => afterVac.get(n).contains(sig) } == 1,
      "exactly the untouched original is shared into v1")
    assert(VersionedTable.read(spark, dir).count() == 100L)
  }

  test("commitDelete shares untouched files; vacuum refcounts shared files before deleting") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      (1L to 100L).map(i => (i, i)).toDF("id", "v").repartitionByRange(4, col("id")), dir)
    val v1 = VersionedTable.commitDelete(spark, dir, col("id").between(1L, 20L))
    assert(VersionedTable.read(spark, dir, Some(v1)).count() == 80L)
    val sharedNow = dataFiles(dir)
    // vacuum to the latest version only: v0's EXCLUSIVE file (the rewritten
    // range) goes, but every file v1 still references survives
    val dropped = VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(dropped == Seq(0L), s"dropped $dropped")
    val afterVac = dataFiles(dir)
    assert(afterVac.size < sharedNow.size, "v0's exclusive file must be swept")
    assert(VersionedTable.read(spark, dir, Some(v1)).count() == 80L,
      "retained version must be fully readable after vacuum")
    val e = intercept[IllegalArgumentException] { VersionedTable.read(spark, dir, Some(0L)) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("crashed incremental commit: orphan data files never become visible and vacuum sweeps them") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((1L, "a")).toDF("id", "s"), dir)
    // forge the artifact of an attempt that crashed after moving its data
    // files but before publishing the commit entry
    val orphan = new java.io.File(s"$dir/data/c00009-deadbeef-part-00000.parquet")
    Seq((99L, "zz")).toDF("id", "s").coalesce(1).write.parquet(s"$dir/.stage-forged.__tmp")
    val part = new java.io.File(s"$dir/.stage-forged.__tmp").listFiles
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, orphan.toPath)
    assert(VersionedTable.read(spark, dir).count() == 1L, "orphan must be invisible")
    VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(!orphan.exists, "vacuum must sweep unreferenced data files")
    assert(VersionedTable.read(spark, dir).count() == 1L)
  }

  test("commit serializes through the write lease: live contender fails loudly") {
    import spark.implicits._
    // the overwrite and the OPTIMIZE re-layout both refuse a live lease
    val writers: Seq[(String, String => Long)] = Seq(
      "commit"        -> (dir => VersionedTable.commit(spark, Seq((2L, 2)).toDF("id", "v"), dir)),
      "commitCompact" -> (dir => VersionedTable.commitCompact(spark, dir, targetFiles = 1)))
    for ((name, write) <- writers) {
      val dir  = dirOf()
      VersionedTable.commit(spark, Seq((1L, 1), (3L, 3)).toDF("id", "v").repartition(2), dir)
      val lock = graft.tables.FsIO.acquireWriteLock(dir, "other-committer", staleMs = 600000)
      val e = intercept[RuntimeException](write(dir))
      assert(e.getMessage.contains("another writer"), s"$name: ${e.getMessage}")
      assert(VersionedTable.latestVersion(dir).contains(0L), s"$name: failed commit must not publish")
      graft.tables.FsIO.releaseWriteLock(lock)
      assert(write(dir) == 1L, name)
    }
  }

  test("diff: added/removed/updated between versions; reverse diff mirrors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_diff").toString + "/t"
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "bal")
    VersionedTable.commit(spark, v1, dir)                                   // v0
    VersionedTable.commitAppend(spark, Seq((3L, "c", 30.0)).toDF("k", "name", "bal"), dir) // v1
    VersionedTable.commitUpdate(spark, dir, col("k") === 1L, Map("bal" -> lit(99.0)))      // v2
    VersionedTable.commitDelete(spark, dir, col("k") === 2L)                // v3
    val d = VersionedTable.diff(spark, dir, 0L, 3L, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "updated", 2L -> "removed", 3L -> "added"), d.toString)
    val rev = VersionedTable.diff(spark, dir, 3L, 0L, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rev == Map(1L -> "updated", 2L -> "added", 3L -> "removed"), rev.toString)
    // adjacent identical versions (no-op span) diff empty
    assert(VersionedTable.diff(spark, dir, 3L, 3L, Seq("k")).count() == 0L)
  }

  test("changes: per-step CDC feed with old/new values; group-moves visible") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_cdc").toString + "/t"
    val v1 = Seq((1L, "g1", 10.0), (2L, "g1", 20.0)).toDF("k", "g", "bal")
    VersionedTable.commit(spark, v1, dir)                                    // v0
    VersionedTable.commitAppend(spark, Seq((3L, "g2", 30.0)).toDF("k", "g", "bal"), dir) // v1
    VersionedTable.commitUpdate(spark, dir, col("k") === 1L,
      Map("g" -> lit("g2"), "bal" -> lit(99.0)))                             // v2
    VersionedTable.commitDelete(spark, dir, col("k") === 2L)                 // v3
    val ch = VersionedTable.changes(spark, dir, 0L, 3L, Seq("k"), Seq("g", "bal"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5)), Option(r.get(6)))).toSet
    assert(ch == Set(
      (3L, 1L, "added",   None, Some("g2"), None, Some(30.0)),
      (1L, 2L, "updated", Some("g1"), Some("g2"), Some(10.0), Some(99.0)),
      (2L, 3L, "removed", Some("g1"), None, Some(20.0), None)), ch.toString)
    // replay law: v0 + feed = v3 (apply adds/updates/deletes in step order)
    val latestByKey = VersionedTable.changes(spark, dir, 0L, 3L, Seq("k"), Seq("g", "bal"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("version").desc)))
      .where(col("rn") === 1)
    val replayed = VersionedTable.read(spark, dir, Some(0L)).as("s")
      .join(latestByKey.as("c"), col("s.k") === col("c.k"), "full_outer")
      .where(coalesce(col("change_type"), lit("")) =!= "removed")
      .select(coalesce(col("s.k"), col("c.k")).as("k"),
        coalesce(col("g_new"), col("s.g")).as("g"),
        coalesce(col("bal_new"), col("s.bal")).as("bal"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val v3 = VersionedTable.read(spark, dir, Some(3L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(replayed == v3, s"replayed=$replayed v3=$v3")
  }

  test("diff is O(changed files): corrupted SHARED files are never read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_dprune").toString + "/t"
    // 4 key-disjoint files so copy-on-write touches exactly one of them
    val base = spark.range(0L, 400L).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k"))
    VersionedTable.commitAppend(spark, base, dir)                          // v0
    VersionedTable.commitUpdate(spark, dir, col("k") === 7L, Map("v" -> lit(-1L))) // v1
    // v0 ∩ v1 manifests = the 3 untouched files; trash their bytes on disk
    val logLines = graft.tables.VersionedTable.log(dir)
      .map { case (v, _) => graft.tables.VersionedTable.filesOf(dir, v).toSet }
    val shared = logLines(0).intersect(logLines(1))
    assert(shared.size == 3, s"expected 3 shared files, got ${shared.size}")
    shared.foreach { rel =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, rel),
        Array.fill[Byte](64)(0x5a))
    }
    val d = VersionedTable.diff(spark, dir, 0L, 1L, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(7L -> "updated"), d.toString)
    // sanity: a full read of either version DOES fail on the corrupted files
    intercept[Throwable] { VersionedTable.read(spark, dir, Some(0L)).count() }
  }
  test("commitUpdate SET expressions all evaluate against the OLD row (SQL UPDATE semantics)") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commit(spark, Seq((1L, 10L, 100L), (2L, 5L, 200L)).toDF("k", "a", "b"), dir)
    // swap a and b where a > 7: both assignments must read the pre-update
    // row, and the second assignment must not observe `a` already swapped
    // (which would falsify the condition and silently skip `b`)
    VersionedTable.commitUpdate(spark, dir, col("a") > 7L,
      Map("a" -> col("b"), "b" -> col("a")))
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 100L, 10L), (2L, 5L, 200L)), rows.toString)
  }

  test("commitCompact: dataChange=false re-layout — identical rows, changes() skips the step") {
    import spark.implicits._
    val dir = dirOf()
    def manifests() = graft.tables.VersionedTable.log(dir)
      .map { case (v, _) => graft.tables.VersionedTable.filesOf(dir, v).toSet }
    // three appends -> fragmented manifest
    (0 until 3).foreach { i =>
      VersionedTable.commitAppend(spark,
        spark.range(i * 100L, (i + 1) * 100L).select(col("id").as("k"), (col("id") * 2).as("x"))
          .repartition(3), dir)
    }
    assert(manifests().last.size == 9)
    val before = VersionedTable.read(spark, dir).collect().map(_.toSeq).toSet
    val vc = VersionedTable.commitCompact(spark, dir, targetFiles = 2, clusterBy = Seq("k"))
    assert(manifests().last.size == 2, "compaction must hit the target file count")
    assert(VersionedTable.read(spark, dir).collect().map(_.toSeq).toSet == before)
    // the compaction-only span is an EMPTY feed with the right schema
    val feed0 = VersionedTable.changes(spark, dir, vc - 1, vc, Seq("k"), Seq("x"))
    assert(feed0.columns.toSeq == Seq("k", "version", "change_type", "x_old", "x_new"))
    assert(feed0.count() == 0L)
    // an update after the compaction: the full-span feed sees appends +
    // update, NOTHING from the re-layout
    val vu = VersionedTable.commitUpdate(spark, dir, col("k") === 7L, Map("x" -> lit(999L)))
    val feed = VersionedTable.changes(spark, dir, 0L, vu, Seq("k"), Seq("x"))
    assert(feed.where(col("version") === vc).count() == 0L)
    assert(feed.where(col("change_type") === "updated").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq == Seq((7L, 14L, 999L)))
    assert(feed.count() == 201L) // (0, vu] spans appends v1+v2 and the update
    // O(changed files) ACROSS the compaction, proven physically: corrupt
    // the compacted file NOT rewritten by the update; the feed still
    // answers (the skipped step never compares old vs new layout, and the
    // update step prunes the shared file), while a full read fails
    val ms = manifests()
    val shared = ms(3).intersect(ms(4))
    assert(shared.size == 1, s"expected 1 shared compacted file, got ${shared.size}")
    shared.foreach { rel =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, rel), Array.fill[Byte](64)(0x5a))
    }
    assert(VersionedTable.changes(spark, dir, 0L, vu, Seq("k"), Seq("x")).count() == 201L)
    intercept[Throwable] { VersionedTable.read(spark, dir).count() }
  }

  test("commitMerge: updates + inserts at file grain; untouched files never opened; txn replay skips") {
    import spark.implicits._
    val dir = dirOf()
    // key-clustered layout so the pushed-down probe can prune files
    VersionedTable.commitAppend(spark,
      spark.range(0L, 400L).select(col("id").as("k"), (col("id") * 2).as("x"),
        lit("base").as("tag")).repartitionByRange(4, col("k")), dir)
    def manifests() = graft.tables.VersionedTable.log(dir)
      .map { case (v, _) => graft.tables.VersionedTable.filesOf(dir, v).toSet }
    // corrupt the files that hold NO source key (k 10..19 live in file 0):
    // the probe and the rewrite must both skip them
    val src = Seq((10L, 1000L), (15L, 1500L), (450L, 4500L)).toDF("k", "x")
    val before = manifests().last
    val keep = VersionedTable.read(spark, dir).where(col("k") < 100)
      .select(input_file_name()).distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0))).toUri.getPath).toSet
    // corrupt DATA PAGES only (row-group byte ranges from the footer):
    // schema resolution may read any file's FOOTER — that is metadata, not
    // row I/O — but no untouched file's pages may be decoded
    val hconf = spark.sparkContext.hadoopConfiguration
    before.filterNot(rel => keep.contains(new java.io.File(dir, rel).getAbsolutePath)).foreach { rel =>
      val p = new org.apache.hadoop.fs.Path(dir, rel)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
      val blocks = try reader.getFooter.getBlocks finally reader.close()
      val raf = new java.io.RandomAccessFile(new java.io.File(dir, rel), "rw")
      try blocks.forEach { b =>
        raf.seek(b.getStartingPos)
        raf.write(Array.fill[Byte](b.getCompressedSize.toInt)(0x5a))
      } finally raf.close()
    }
    val app = "merge-test"
    val v1 = VersionedTable.commitMerge(spark, dir, src, Seq("k"), txn = Some((app, 1L)))
    // shared: the 3 untouched (corrupted) files carry over into the manifest
    assert(manifests().last.intersect(before).size == 3,
      s"expected 3 shared files, got ${manifests().last.intersect(before).size}")
    // replay with the same txn: skipped entirely
    assert(VersionedTable.commitMerge(spark, dir, src, Seq("k"), txn = Some((app, 1L))) == v1)
    assert(manifests().size == 2)
    // verify merged content through the SURVIVING file only
    val f0 = spark.read.parquet(
      manifests().last.diff(before).map(rel => s"$dir/$rel").toSeq: _*)
    val rows = f0.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(rows(10L) == (1000L, "base")) // update keeps uncovered column
    assert(rows(15L) == (1500L, "base"))
    assert(rows(450L) == (4500L, null))  // insert fills missing column with null
    assert(f0.count() == 101L)           // file 0's 100 rows + 1 insert
    // duplicate source keys trip the in-plan guard
    intercept[Throwable] {
      VersionedTable.commitMerge(spark, dir,
        Seq((7L, 1L), (7L, 2L)).toDF("k", "x"), Seq("k"))
    }
  }
  test("schema drift refused at write time: incompatible append and type-changing update fail loudly") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((1L, 10L)).toDF("k", "x"), dir)
    // extra column
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.commitAppend(spark, Seq((2L, 20L, "boom")).toDF("k", "x", "y"), dir)
    }
    assert(e1.getMessage.contains("schema mismatch"), e1.getMessage)
    // same names, different type
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.commitAppend(spark, Seq((3L, "s")).toDF("k", "x"), dir)
    }
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
    // an UPDATE whose SET silently WIDENS the column type (when/otherwise
    // coerces to the common type, splitting the manifest between DOUBLE
    // rewritten files and BIGINT shared files)
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.commitUpdate(spark, dir, col("k") === 1L, Map("x" -> (col("x") * 1.5)))
    }
    assert(e3.getMessage.contains("schema mismatch"), e3.getMessage)
    // column ORDER and case do not matter (parquet reads by name)
    VersionedTable.commitAppend(spark, Seq((9L, 2L)).toDF("x", "k")
      .select(col("x").as("X"), col("k")), dir)
    assert(VersionedTable.read(spark, dir).count() == 2L)
  }

  test("merge broadcast gate bounds WIDTH and duplicate blow-up, not just key count") {
    import org.apache.spark.sql.types._
    val narrow = StructType(Seq(StructField("k", LongType), StructField("x", DoubleType)))
    val wide = StructType(Seq(StructField("k", LongType),
      StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))
    // narrow CDC batch: broadcast fast path holds at the key cap
    assert(VersionedTable.mergeBroadcastable(1000L, narrow))
    assert(VersionedTable.mergeBroadcastable(VersionedTable.MaxMergeProbeKeys.toLong, narrow))
    // wide rows (text + embedding): the byte estimate trips before the key
    // cap — 100k such rows is a shuffle join's job, not a broadcast's
    assert(VersionedTable.mergeBroadcastable(1000L, wide))
    assert(!VersionedTable.mergeBroadcastable(VersionedTable.MaxMergeProbeKeys.toLong, wide))
    // a duplicate-key source reports TOTAL rows to the gate: arbitrarily
    // large under the key cap still falls out of the fast path
    assert(!VersionedTable.mergeBroadcastable(50000000L, narrow))
    assert(!VersionedTable.mergeBroadcastable(Long.MaxValue, narrow))
    // width estimate: variable-width fields carry the 1 KiB allowance
    assert(VersionedTable.estRowBytes(wide) >= 2048L)
    assert(VersionedTable.estRowBytes(narrow) == 16L)
  }

  test("commitMerge with duplicate source keys still fails the uniqueness tripwire loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.commitAppend(spark, Seq((1L, 10.0)).toDF("k", "x"), dir)
    val dup = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "x")
    val e = intercept[Exception] { VersionedTable.commitMerge(spark, dir, dup, Seq("k")) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.toLowerCase.contains("unique")), msgs(e).mkString(" | "))
    assert(VersionedTable.latestVersion(dir).contains(0L))
  }
}
