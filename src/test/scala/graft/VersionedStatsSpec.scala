package graft

import java.nio.file.Files

import graft.obs.Obs
import graft.tables.{VersionedStats, VersionedTable}
import org.apache.spark.sql.functions._

class VersionedStatsSpec extends SparkSpec {

  private def corruptPages(dir: String, rels: Iterable[String]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    rels.foreach { rel =>
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
  }

  test("pruned read: only intersecting files scanned (others corrupted); result = full filter") {
    val dir = Files.createTempDirectory("graft_vs").toString + "/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 800L).select(col("id").as("k"), (col("id") * 3).as("x"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"), dir)
    VersionedStats.refresh(spark, dir, Seq("k"))
    val (kept, total) = VersionedStats.prunedFiles(spark, dir,
      Seq(("k", lit(100L), lit(199L))))
    assert(total == 8L && kept.size == 1, s"kept ${kept.size}/$total")
    // an empty range keeps no file: an empty frame with the table's schema
    val none = VersionedStats.readPruned(spark, dir, Seq(("k", lit(-500L), lit(-100L))))
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "x"))
    // corrupt every file OUTSIDE the kept set: the pruned read never plans
    // a scan over them (file-LIST pruning, stronger than row-group stats —
    // their footers are never even opened by the pruned plan)
    corruptPages(dir, VersionedTable.filesOf(dir, 0L).filterNot(kept.contains))
    val got = VersionedStats.readPruned(spark, dir, Seq(("k", lit(100L), lit(199L))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (100L until 200L).map(k => (k, k * 3)).toSet)
    // negative control: an unfiltered read must hit the corrupted pages
    intercept[Throwable] { VersionedTable.read(spark, dir).count() }
  }

  test("refreshIncremental is O(new files): base files corrupted, stats still advance") {
    val dir = Files.createTempDirectory("graft_vs2").toString + "/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 400L).select(col("id").as("k"), col("id").as("x"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"), dir)
    VersionedStats.refresh(spark, dir, Seq("k"))
    VersionedTable.commitAppend(spark,
      spark.range(400L, 500L).select(col("id").as("k"), col("id").as("x"))
        .repartitionByRange(1, col("k")).sortWithinPartitions("k"), dir)
    // base files become unreadable at the PAGE level AFTER the append (the
    // append's schema gate legitimately reads one footer); the incremental
    // stats refresh may read back ONLY the appended batch's fresh files
    corruptPages(dir, VersionedTable.filesOf(dir, 0L))
    val v = VersionedStats.refreshIncremental(spark, dir, Seq("k"))
    assert(v == 1L)
    // stats for v1 cover all 5 files; the pruned read over the FRESH range
    // touches only the new file
    val (kept, total) = VersionedStats.prunedFiles(spark, dir,
      Seq(("k", lit(420L), lit(480L))), Some(1L))
    assert(total == 5L && kept.size == 1)
    assert(VersionedStats.readPruned(spark, dir,
      Seq(("k", lit(420L), lit(480L))), Some(1L)).count() == 61L)
    // time travel: v0's stats manifest is untouched and still 1:1
    assert(VersionedStats.prunedFiles(spark, dir,
      Seq(("k", lit(0L), lit(1000L))), Some(0L))._2 == 4L)
  }

  test("vacuum sweeps dropped versions' stats manifests; retained stats keep working") {
    val dir = Files.createTempDirectory("graft_vs4").toString + "/t"
    (0 until 3).foreach { i =>
      VersionedTable.commitAppend(spark,
        spark.range(i * 100L, (i + 1) * 100L).select(col("id").as("k"), col("id").as("x"))
          .repartitionByRange(1, col("k")), dir)
      VersionedStats.refreshIncremental(spark, dir, Seq("k"))
    }
    assert(VersionedStats.stattedVersions(dir) == Seq(0L, 1L, 2L))
    VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(VersionedStats.stattedVersions(dir) == Seq(2L))
    assert(VersionedStats.prunedFiles(spark, dir,
      Seq(("k", lit(0L), lit(1000L))), Some(2L))._2 == 3L)
  }

  test("stats/manifest drift fails loudly; unstatted column refused") {
    val dir = Files.createTempDirectory("graft_vs3").toString + "/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 10L).select(col("id").as("k"), col("id").as("x")), dir)
    VersionedStats.refresh(spark, dir, Seq("k"))
    intercept[IllegalArgumentException] {
      VersionedStats.prunedFiles(spark, dir, Seq(("x", lit(0L), lit(5L))))
    }
    // a new commit without a stats refresh: reading ITS stats must fail
    VersionedTable.commitAppend(spark,
      spark.range(10L, 20L).select(col("id").as("k"), col("id").as("x")), dir)
    intercept[IllegalArgumentException] {
      VersionedStats.prunedFiles(spark, dir, Seq(("k", lit(0L), lit(5L))), Some(1L))
    }
  }

  test("statsOnlyAggregate answers with EVERY data page corrupted; refuses under deletion vectors") {
    val dir = Files.createTempDirectory("graft_vs4").toString + "/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 100L).select(col("id").as("k"), (col("id") * 3).as("x"))
        .repartition(4), dir)
    VersionedStats.refresh(spark, dir, Seq("k", "x"))
    // zero data I/O, proven physically: trash every data file's pages
    corruptPages(dir, VersionedTable.filesOf(dir, 0L))
    val rows = VersionedStats.statsOnlyAggregate(spark, dir, Seq("k", "x"))
      .orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      ("k", 100L, 100L, 0.0, 99.0), ("x", 100L, 100L, 0.0, 297.0)), rows.mkString(","))
    // a real read DOES fail — the aggregate really never touched data
    intercept[Throwable] { VersionedTable.read(spark, dir).count() }
    // masked version: stored physical stats would count deleted rows — refuse
    val dir2 = Files.createTempDirectory("graft_vs5").toString + "/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 50L).select(col("id").as("k"), col("id").as("x")), dir2)
    VersionedTable.commitDeleteDV(spark, dir2, col("k") < 10L)
    VersionedStats.refresh(spark, dir2, Seq("k"))
    val e = intercept[IllegalArgumentException] {
      VersionedStats.statsOnlyAggregate(spark, dir2, Seq("k"))
    }
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    // nulls: n_notnull counts only non-null values, min/max skip them; an
    // unstatted column is refused with the fix named
    import spark.implicits._
    val dir3 = Files.createTempDirectory("graft_vs9").toString + "/t"
    VersionedTable.commit(spark, Seq[(java.lang.Long, java.lang.Double, String)](
        (1L, 10.5, "a"), (2L, null, "b"), (3L, -2.0, "c"), (4L, 7.25, "d"),
        (5L, null, "e"), (6L, 0.0, "f"))
      .toDF("k", "v", "w").repartitionByRange(3, col("k")), dir3)
    VersionedStats.refresh(spark, dir3, Seq("k", "v"))
    val byCol = VersionedStats.statsOnlyAggregate(spark, dir3, Seq("k", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(byCol("k") == ((6L, 6L, Some(1.0), Some(6.0))), byCol("k"))
    assert(byCol("v") == ((6L, 4L, Some(-2.0), Some(10.5))), byCol("v"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedStats.statsOnlyAggregate(spark, dir3, Seq("w"))
    }
    assert(e2.getMessage.contains("refresh with it included"), e2.getMessage)
  }

  test("z-order compaction: each dimension prunes alone; AND-read = two-range filter") {
    val dir = Files.createTempDirectory("graft_vsz").toString + "/t"
    VersionedTable.commit(spark, Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity"), dir)
    VersionedTable.commitCompact(spark, dir, targetFiles = 8,
      zOrderCols = Seq("l_orderkey", "l_partkey"))
    VersionedStats.refresh(spark, dir, Seq("l_orderkey", "l_partkey"))
    val a = ("l_orderkey", lit(1L), lit(600L))
    val b = ("l_partkey", lit(1L), lit(50L))
    val (kA, tot) = VersionedStats.prunedFiles(spark, dir, Seq(a))
    val (kB, _)   = VersionedStats.prunedFiles(spark, dir, Seq(b))
    assert(kA.size < tot, s"orderkey kept ${kA.size}/$tot")
    assert(kB.size < tot, s"partkey kept ${kB.size}/$tot")
    // the AND keeps at most what either dimension keeps alone
    val (kAB, _) = VersionedStats.prunedFiles(spark, dir, Seq(a, b))
    assert(kAB.size <= math.min(kA.size, kB.size))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), String.valueOf(r.get(1)), String.valueOf(r.get(2))))
        .sorted.toSeq
    val pruned = rows(VersionedStats.readPruned(spark, dir, Seq(a, b)))
    val full = rows(VersionedTable.read(spark, dir).where(
      col("l_orderkey").between(1L, 600L) && col("l_partkey").between(1L, 50L)))
    assert(pruned == full && pruned.nonEmpty)
  }

  test("prunedFiles takes the file total from the 1:1 check, not a count job") {
    val dir = Files.createTempDirectory("graft_vsj").toString + "/t"
    VersionedTable.commit(spark, spark.range(0L, 800L).select(col("id").as("k"))
      .repartitionByRange(8, col("k")), dir)
    VersionedStats.refresh(spark, dir, Seq("k"))
    val range = Seq(("k", lit(100L), lit(199L)))
    VersionedStats.prunedFiles(spark, dir, range) // warm
    val ((kept, total), run) = Obs.measure(spark)(VersionedStats.prunedFiles(spark, dir, range))
    assert(total == 8L && kept.size == 1, s"kept ${kept.size}/$total")
    // budget: ONE collect of (file, kept) — the manifest's schema comes
    // from a driver footer read, and the file set that proves the 1:1
    // check also carries the kept flag and the total
    assert(run.jobs <= 1, s"prunedFiles ran ${run.jobs} Spark jobs (budget 1)")
  }

  test("a gated read reuses the gate's kept set: gate + read run the jobs of the gate alone") {
    val dir = Files.createTempDirectory("graft_vsg").toString + "/t"
    VersionedTable.commit(spark, spark.range(0L, 800L)
      .select(col("id").as("k"), (col("id") * 3).as("x")).repartitionByRange(8, col("k")), dir)
    val v = VersionedStats.refresh(spark, dir, Seq("k"))
    val range = Seq(("k", lit(100L), lit(199L)))
    VersionedStats.prunedFiles(spark, dir, range, Some(v)) // warm
    val gate = Obs.measure(spark)(VersionedStats.prunedFiles(spark, dir, range, Some(v)))._2.jobs
    val (read, run) = Obs.measure(spark) {
      val (kept, total) = VersionedStats.prunedFiles(spark, dir, range, Some(v))
      require(kept.size < total)
      VersionedStats.readKept(spark, dir, range, v, kept)
    }
    assert(run.jobs == gate, s"gate + read ran ${run.jobs} Spark jobs, the gate alone $gate")
    assert(read.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (100L until 200L).map(k => (k, k * 3)).toSet)
  }

  test("refresh on an undeclared table types stats from one footer: no footer-merge job") {
    val dir = Files.createTempDirectory("graft_vsu").toString + "/t"
    VersionedTable.commitAppend(spark, spark.range(0L, 800L)
      .select(col("id").as("k"), (col("id") * 3).as("x")).repartition(8), dir)
    assert(VersionedTable.declaredSchemaAt(dir, 0L).isEmpty)
    VersionedStats.refresh(spark, dir, Seq("k")) // warm
    // a stat column no file carries still gets its null slots (cnt 0)
    val jobs = Obs.measure(spark)(VersionedStats.refresh(spark, dir, Seq("k", "x", "absent")))._2.jobs
    // budget: the per-file aggregate's shuffle stage and the stats write;
    // typing the read from one driver footer leaves no job to merge footers
    assert(jobs <= 2, s"refresh ran $jobs Spark jobs (budget 2)")
    val byCol = VersionedStats.statsOnlyAggregate(spark, dir, Seq("k", "x", "absent"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(byCol("k") == ((800L, 800L, Some(0.0), Some(799.0))), byCol("k"))
    assert(byCol("x") == ((800L, 800L, Some(0.0), Some(2397.0))), byCol("x"))
    assert(byCol("absent") == ((800L, 0L, None, None)), byCol("absent"))
  }

  test("readPruned on a table with no committed version fails loudly") {
    val dir = Files.createTempDirectory("graft_vsn").toString + "/t"
    val e = intercept[RuntimeException] {
      VersionedStats.readPruned(spark, dir, Seq(("k", lit(0L), lit(1L))))
    }
    assert(e.getMessage.contains("has no committed version"), e.getMessage)
  }

  test("stats survive RENAME COLUMN: physical-keyed manifest, logical-name reads") {
    val dir = Files.createTempDirectory("graft_vs6").toString + "/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 800L).select(col("id").as("k"), (col("id") * 3).as("x"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"), dir)
    VersionedStats.refresh(spark, dir, Seq("k", "x"))          // statted pre-rename
    VersionedTable.commitRenameColumn(spark, dir, "k", "key")  // v1: metadata only
    // the OLD manifest (v0, physical-keyed) is not v1's — refreshIncremental
    // carries it forward at O(new files): zero new files here, zero read-back
    VersionedStats.refreshIncremental(spark, dir, Seq("key", "x"))
    // metadata-only aggregate answers under the NEW logical name
    val rows = VersionedStats.statsOnlyAggregate(spark, dir, Seq("key", "x"))
      .orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      ("key", 800L, 0.0, 799.0), ("x", 800L, 0.0, 2397.0)), rows.mkString(","))
    // skipping-prune under the new name: only the intersecting file scans
    // (every other file's pages corrupted — their footers never open)
    val (kept, total) = VersionedStats.prunedFiles(spark, dir,
      Seq(("key", lit(100L), lit(199L))))
    assert(total == 8L && kept.size == 1, s"kept ${kept.size}/$total")
    corruptPages(dir, VersionedTable.filesOf(dir, 1L).filterNot(kept.contains))
    val got = VersionedStats.readPruned(spark, dir, Seq(("key", lit(100L), lit(199L))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (100L until 200L).map(k => (k, k * 3)).toSet)
    // the OLD name no longer resolves — loud, with the live names listed
    val e = intercept[RuntimeException] {
      VersionedStats.statsOnlyAggregate(spark, dir, Seq("k"))
    }
    assert(e.getMessage.contains("not in version"), e.getMessage)
  }

  test("stats after DROP + re-ADD: fresh physical name forces re-key, never stale answers") {
    val dir = Files.createTempDirectory("graft_vs7").toString + "/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 100L).select(col("id").as("k"), (col("id") * 3).as("x")), dir)
    VersionedStats.refresh(spark, dir, Seq("k", "x"))
    VersionedTable.commitDropColumn(spark, dir, "x")            // v1: x tombstoned
    VersionedTable.commitAddColumn(spark, dir, "x",
      org.apache.spark.sql.types.LongType)                      // v2: fresh physical name
    // the re-added x is all-null; its stats must NOT come from the dropped
    // column's old values — the fresh physical key misses the old manifest,
    // so refreshIncremental re-keys and the aggregate answers 0 non-nulls
    VersionedStats.refreshIncremental(spark, dir, Seq("k", "x"))
    val row = VersionedStats.statsOnlyAggregate(spark, dir, Seq("x")).head
    assert(row.getLong(1) == 100L && row.getLong(2) == 0L,
      s"re-added column must read 0 non-nulls, got $row")
  }

  test("refresh over mixed pre/post-ADD-COLUMN files reads the new column's values") {
    val dir = Files.createTempDirectory("graft_vs8").toString + "/t"
    // many pre-evolution files: a schema-less parquet read samples ONE
    // (lexicographically-first, i.e. random-UUID-order) footer, so with 8
    // old files vs 1 new the sample would almost surely predate the ADD
    // COLUMN and project x away for every file — the stats read must
    // instead pin the declared physical schema so x is read wherever it
    // exists and null-fills per file where it doesn't
    VersionedTable.commitAppend(spark,
      spark.range(0L, 400L).select(col("id").as("k")).repartition(8), dir)
    VersionedTable.commitAddColumn(spark, dir, "x",
      org.apache.spark.sql.types.LongType)
    VersionedTable.commitAppend(spark,
      spark.range(400L, 500L).select(col("id").as("k"), (col("id") * 2L).as("x"))
        .repartition(1), dir)
    VersionedStats.refresh(spark, dir, Seq("k", "x"))
    val byCol = VersionedStats.statsOnlyAggregate(spark, dir, Seq("k", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(byCol("k") == ((500L, 500L, Some(0.0), Some(499.0))), byCol("k"))
    // x holds real values in exactly the 100 post-evolution rows; the old
    // code nondeterministically recorded (500, 0, None, None) here
    assert(byCol("x") == ((500L, 100L, Some(800.0), Some(998.0))), byCol("x"))
    // and file-list pruning on x keeps only the post-evolution file
    val (kept, total) = VersionedStats.prunedFiles(spark, dir,
      Seq(("x", lit(800L), lit(998L))))
    assert(total == 9L && kept.size == 1, s"kept ${kept.size}/$total")
  }
}
