package graft

import graft.tables.{TimePartitioned, VersionedTable}
import org.apache.spark.sql.functions._

class TimePartitionedSpec extends SparkSpec {

  private val Day = 86400L * 1000000000L

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  /** Names of the `p_day=` directories under the table's `data/`. */
  private def dayDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir, "data").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("p_day=")).map(_.getName).sorted

  private def ids(dir: String): Set[Long] =
    VersionedTable.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet

  test("day boundaries are exact and inclusive; reader prunes to the window's days") {
    import spark.implicits._
    val d0 = 19724L * Day // some UTC midnight
    val rows = Seq(
      (1L, d0 - 1L),       // last nano of the previous day
      (2L, d0),            // exactly midnight
      (3L, d0 + Day - 1L), // last nano of day 0
      (4L, d0 + Day),      // midnight day 1
      (5L, d0 + 2 * Day + 5L))
    val dir = tmpDir("graft_tp_spec")
    TimePartitioned.write(rows.toDF("id", "ts"), dir, "ts")
    // 4 distinct days → 4 day directories
    assert(dayDirs(dir).size == 4, dayDirs(dir).toString)
    def ids(from: Long, to: Long): Set[Long] =
      TimePartitioned.readRange(spark, dir, "ts", from, to)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(d0, d0 + Day) == Set(2L, 3L, 4L), "inclusive midnight-to-midnight window")
    assert(ids(d0 - 1L, d0 - 1L) == Set(1L), "single-nano window on a day edge")
    // the partition column never escapes
    val cols = TimePartitioned.readRange(spark, dir, "ts", d0, d0 + Day).columns.toSeq
    assert(cols == Seq("id", "ts"))
    // plan prunes: a one-day window reads one partition of four
    val scanned = TimePartitioned.readRange(spark, dir, "ts", d0, d0 + Day - 1L)
      .queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.selectedPartitions.partitionCount).sum
    assert(scanned == 1, s"one-day window planned $scanned partitions")
    // a plain versioned read serves the hidden schema
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("id", "ts"))
  }

  test("pre-epoch timestamps map to the correct (negative-day) partition") {
    import spark.implicits._
    val dir = tmpDir("graft_tp_neg")
    val t = -3L * Day + 7L // 1969-12-29 00:00:00.000000007
    TimePartitioned.write(Seq((1L, t)).toDF("id", "ts"), dir, "ts")
    assert(dayDirs(dir) == Seq("p_day=1969-12-29"))
    assert(TimePartitioned.readRange(spark, dir, "ts", t, t).count() == 1)
  }

  test("pre-epoch ts in the last second of a UTC day floors (not truncates) to that day") {
    import spark.implicits._
    val dir = tmpDir("graft_tp_floor")
    // 1969-12-31 23:59:59.5 — trunc-div would store it under p_day=1970-01-01
    // and readRange's floorDiv pruning would silently drop it.
    val t = -500000000L
    TimePartitioned.write(Seq((1L, t)).toDF("id", "ts"), dir, "ts")
    assert(dayDirs(dir) == Seq("p_day=1969-12-31"),
      "write path must floor the day key like the reader does")
    assert(TimePartitioned.readRange(spark, dir, "ts", t, t).count() == 1)
  }

  test("dropDaysBefore reclaims whole day directories, keeps the cutoff's own day") {
    import spark.implicits._
    val d0 = 19724L * Day
    val dir = tmpDir("graft_tp_ret")
    TimePartitioned.write(
      (0L until 100L).map(i => (i, d0 + (i / 10L) * Day + i)).toDF("id", "ts"),
      dir, "ts") // 10 days
    // cutoff MID-day 3: days 0-2 drop, day 3 (the cutoff's day) stays
    val dropped = TimePartitioned.dropDaysBefore(spark, dir, d0 + 3 * Day + 12345L)
    assert(dropped.size == 3, dropped.toString)
    assert(ids(dir) == (30L until 100L).toSet, "days 3..9 intact, 0..2 dropped")
    // the drop is ONE metadata-only commit; the pre-drop version still reads
    assert(VersionedTable.latestVersion(dir).contains(1L))
    assert(VersionedTable.read(spark, dir, Some(0L)).count() == 100L)
    // vacuum reclaims the dropped days' bytes and their directories
    VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(dayDirs(dir).size == 7, dayDirs(dir).toString)
    assert(ids(dir) == (30L until 100L).toSet)
    // idempotent (no commit); and a later cutoff advances
    assert(TimePartitioned.dropDaysBefore(spark, dir, d0 + 3 * Day).isEmpty)
    assert(VersionedTable.latestVersion(dir).contains(1L))
    assert(TimePartitioned.dropDaysBefore(spark, dir, d0 + 5 * Day) == Seq(
      TimePartitioned.dayOfNanos(d0 + 3 * Day), TimePartitioned.dayOfNanos(d0 + 4 * Day)))
  }

  test("compactDaysBefore: closed days compact atomically; crash states recover") {
    import spark.implicits._
    val d0 = 19724L * Day
    val dir = tmpDir("graft_tp_cmp")
    def rows(wave: Long) =
      (0L until 400L).map(i => (wave * 1000L + i, d0 + (i / 100L) * Day + i)).toDF("id", "ts")
    def filesIn(day: String, v: Long) =
      VersionedTable.filesOf(dir, v).count(_.startsWith(s"data/p_day=$day/"))
    val day0 = TimePartitioned.dayOfNanos(d0)
    val day3 = TimePartitioned.dayOfNanos(d0 + 3 * Day)
    // appended waves over 4 days fragment every day past the target
    TimePartitioned.write(rows(0), dir, "ts")
    (1L to TimePartitioned.FilesPerDay.toLong).foreach(w =>
      VersionedTable.commitAppend(spark, rows(w), dir))
    val head = VersionedTable.latestVersion(dir).get
    assert(filesIn(day0, head) > TimePartitioned.FilesPerDay,
      s"appends fragment the day: ${filesIn(day0, head)} files")
    val before = VersionedTable.read(spark, dir).as[(Long, Long)].collect().toSet
    // compact days 0-2 (cutoff mid-day 3 keeps day 3 untouched)
    val compacted = TimePartitioned.compactDaysBefore(spark, dir, d0 + 3 * Day + 5L)
    assert(compacted.size == 3, compacted.toString)
    val cv = VersionedTable.latestVersion(dir).get
    assert(cv == head + 1, "compaction is ONE commit")
    assert(!VersionedTable.dataChanged(dir, cv), "compaction commits dataChange=false")
    assert(filesIn(day0, cv) <= TimePartitioned.FilesPerDay, s"day 0: ${filesIn(day0, cv)}")
    assert(VersionedTable.filesOf(dir, cv).filter(_.startsWith(s"data/p_day=$day3/")) ==
      VersionedTable.filesOf(dir, head).filter(_.startsWith(s"data/p_day=$day3/")),
      "the open day is never touched")
    assert(VersionedTable.read(spark, dir).as[(Long, Long)].collect().toSet == before,
      "compaction is row-identical")
    // idempotent: already-compact days skip, no commit
    assert(TimePartitioned.compactDaysBefore(spark, dir, d0 + 3 * Day).isEmpty)
    assert(VersionedTable.latestVersion(dir).contains(cv))
    // CRASH STATE: a compaction killed before its log rename leaves staged
    // files in a day directory and an entry temp — never visible, swept
    val fdir = new java.io.File(dir)
    val orphan = new java.io.File(fdir, s"data/p_day=$day0/c00099-deadbeef-part-0.parquet")
    Seq((-1L, d0)).toDF("id", "ts").coalesce(1).write.parquet(s"$dir/.stage-forged.__tmp")
    java.nio.file.Files.move(new java.io.File(s"$dir/.stage-forged.__tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath, orphan.toPath)
    java.nio.file.Files.write(new java.io.File(fdir, "_log/00099-1.commit.tmp").toPath,
      s"commitMs=1\nkind=manifest\nfile=data/p_day=$day0/${orphan.getName}\n".getBytes("UTF-8"))
    assert(VersionedTable.read(spark, dir).as[(Long, Long)].collect().toSet == before,
      "a crashed compaction's staged files never become visible")
    VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(!orphan.exists && !new java.io.File(fdir, "_log/00099-1.commit.tmp").exists)
    assert(!new java.io.File(s"$dir/.stage-forged.__tmp").exists)
    assert(VersionedTable.read(spark, dir).as[(Long, Long)].collect().toSet == before,
      "recovery preserves every row")
  }

  test("compactDaysBefore stages through exactly one shuffle: the day layout's") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val d0 = 19724L * Day
    val dir = tmpDir("graft_tp_cmp_plan")
    def rows(wave: Long) =
      (0L until 400L).map(i => (wave * 1000L + i, d0 + (i / 100L) * Day + i)).toDF("id", "ts")
    TimePartitioned.write(rows(0), dir, "ts")
    (1L to TimePartitioned.FilesPerDay.toLong).foreach(w =>
      VersionedTable.commitAppend(spark, rows(w), dir))
    // the shuffle count of every write command's optimized plan
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.optimizedPlan.exists(_.isInstanceOf[DataWritingCommand]))
          writes.add(qe.optimizedPlan.collect { case r: RepartitionOperation if r.shuffle => r }.size)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(TimePartitioned.compactDaysBefore(spark, dir, d0 + 3 * Day).size == 3)
      org.apache.spark.graft.ContextShim.drainListenerBus(spark.sparkContext, 60000L)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.toArray.toSeq == Seq(1), s"shuffles per staging write: $writes")
    // a layout the day staging would shuffle away is refused, not dropped
    val e = intercept[IllegalArgumentException](
      VersionedTable.commitCompact(spark, dir, 4, clusterBy = Seq("id")))
    assert(e.getMessage.contains("day-partitioned"), e.getMessage)
  }

  test("day-table INSERT OVERWRITE is staged: _props never deleted, crash leftovers recover") {
    import spark.implicits._
    val d0 = 19724L * Day
    (0L until 100L).map(i => (i, d0 + (i / 25L) * Day + i)).toDF("id", "ts")
      .createOrReplaceTempView("day_ow_src")
    val dir = tmpDir("graft_day_ow")
    graft.catalog.GraftCatalog.register("day_ow", dir)
    spark.sql("CREATE TABLE graft.day_ow PARTITIONED BY (days(ts)) " +
      "AS SELECT id, ts FROM day_ow_src")
    // a previous overwrite's crash leftovers: a populated staging dir and
    // a staged file moved into a day directory, no commit entry for either
    (900L to 909L).map(i => (i, d0)).toDF("id", "ts").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/.stage-crashed.__tmp")
    val orphan = new java.io.File(dir, "data/p_day=2024-01-01/c00042-deadbeef-part-0.parquet")
    orphan.getParentFile.mkdirs()
    java.nio.file.Files.copy(new java.io.File(s"$dir/.stage-crashed.__tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath, orphan.toPath)
    assert(spark.sql("SELECT count(*) AS n FROM graft.day_ow").head.getLong(0) == 100L,
      "a crash leftover must not leak into reads")
    // the table resolves as day-partitioned with its managed flag intact:
    // writes only ever add files and log entries, _props is never touched
    assert(TimePartitioned.dayColumnOf(dir).contains("ts"))
    spark.sql("INSERT OVERWRITE graft.day_ow SELECT id + 10, ts FROM day_ow_src")
    assert(spark.sql("SELECT count(*) AS n FROM graft.day_ow").head.getLong(0) == 100L)
    assert(spark.sql("SELECT min(id) AS m FROM graft.day_ow").head.getLong(0) == 10L)
    assert(TimePartitioned.dayColumnOf(dir).contains("ts"))
    // SELF-REFERENTIAL overwrite: `INSERT OVERWRITE t SELECT ... FROM t`
    // reads the version it replaces
    spark.sql("INSERT OVERWRITE graft.day_ow SELECT id, ts FROM graft.day_ow WHERE id % 2 = 0")
    assert(ids(dir) == (10L until 110L).filter(_ % 2 == 0).toSet)
    // vacuum sweeps the leftovers once past the grace window
    VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(!orphan.exists && !new java.io.File(s"$dir/.stage-crashed.__tmp").exists)
    assert(ids(dir) == (10L until 110L).filter(_ % 2 == 0).toSet)
    // managed-ness survived the overwrites: DROP still owns and deletes
    spark.sql("DROP TABLE graft.day_ow")
    assert(!new java.io.File(dir).exists(),
      "managed flag must survive INSERT OVERWRITE so DROP deletes data")
  }

  test("day-table manifests: every entry lies under data/p_day= after append, overwrite and compaction") {
    import spark.implicits._
    val d0 = 19724L * Day
    val dir = tmpDir("graft_day_layout")
    def rows(base: Long) = (0L until 40L).map(i => (base + i, d0 + (i / 10L) * Day + i)).toDF("id", "ts")
    def allUnderDays(): Unit = {
      val v = VersionedTable.latestVersion(dir).get
      val files = VersionedTable.filesOf(dir, v)
      assert(files.nonEmpty && files.forall(_.startsWith("data/p_day=")),
        s"version $v has files outside day directories: ${files.filterNot(_.startsWith("data/p_day="))}")
    }
    TimePartitioned.write(rows(0L), dir, "ts")
    allUnderDays()
    (1 to 9).foreach(w => VersionedTable.commitAppend(spark, rows(w * 100L), dir))
    allUnderDays()
    TimePartitioned.write(rows(5000L), dir, "ts")
    allUnderDays()
    (1 to 9).foreach(w => VersionedTable.commitAppend(spark, rows(5000L + w * 100L), dir))
    assert(TimePartitioned.compactDaysBefore(spark, dir, d0 + 100 * Day).nonEmpty)
    allUnderDays()
    assert(ids(dir) == (0 to 9).flatMap(w => (0L until 40L).map(5000L + w * 100L + _)).toSet)
  }

  test("catalog CTAS PARTITIONED BY (days(ts)): hidden layout, pruned reads, INSERT append") {
    import spark.implicits._
    val d0 = 19724L * Day
    (0L until 400L).map(i => (i, d0 + (i / 40L) * Day + i)).toDF("id", "ts")
      .createOrReplaceTempView("day_src")
    val dir = tmpDir("graft_day_cat")
    graft.catalog.GraftCatalog.register("day_ev", dir)
    spark.sql("CREATE TABLE graft.day_ev PARTITIONED BY (days(ts)) " +
      "AS SELECT id, ts FROM day_src")
    // hidden: the partition column never appears in the table schema
    assert(spark.table("graft.day_ev").columns.toSeq == Seq("id", "ts"))
    // 10 day directories on disk
    assert(dayDirs(dir).size == 10, dayDirs(dir).toString)
    // PRUNED-READ PLAN: a raw-ts range query plans a partition filter the
    // user never wrote, scanning only the window's directories
    val q = spark.sql(s"SELECT id FROM graft.day_ev " +
      s"WHERE ts >= ${d0 + 2 * Day} AND ts < ${d0 + 4 * Day}")
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "p_day")),
      s"no derived p_day partition filter in ${scans.head.partitionFilters}")
    assert(scans.map(_.selectedPartitions.partitionCount).sum == 2,
      "a 2-day window must scan exactly 2 day directories")
    assert(q.collect().map(_.getLong(0)).toSet == (80L until 160L).toSet)
    // INSERT INTO appends into day dirs; the full read sees both writes
    spark.sql(s"INSERT INTO graft.day_ev SELECT id + 1000, ts + ${20 * Day} FROM day_src")
    assert(spark.sql("SELECT count(*) AS n FROM graft.day_ev").head.getLong(0) == 800L)
    // the marker survives INSERT OVERWRITE
    spark.sql("INSERT OVERWRITE graft.day_ev SELECT id, ts FROM day_src")
    assert(spark.sql("SELECT count(*) AS n FROM graft.day_ev").head.getLong(0) == 400L)
    assert(TimePartitioned.dayColumnOf(dir).contains("ts"),
      "day marker must survive an overwrite")
    // time travel stays refused on day tables
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM graft.day_ev VERSION AS OF 0").collect()
    }
    // restart shape: a cold process resolves the table from the persisted
    // marker alone (cache + pending schema dropped)
    TimePartitioned.invalidateDayColumn(dir)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.day_ev " +
      s"WHERE ts BETWEEN ${d0 + Day} AND ${d0 + 2 * Day}").head.getLong(0) > 0)
    // non-CTAS create: declared schema serves the CREATE → first-INSERT
    // window, the persisted marker takes over after
    graft.catalog.GraftCatalog.register("day_ev2", tmpDir("graft_day_cat2"))
    spark.sql("CREATE TABLE graft.day_ev2 (id BIGINT, ts BIGINT) " +
      "PARTITIONED BY (days(ts))")
    assert(spark.sql("SELECT count(*) AS n FROM graft.day_ev2").head.getLong(0) == 0L)
    spark.sql(s"INSERT INTO graft.day_ev2 SELECT id, ts FROM day_src")
    assert(spark.sql("SELECT count(*) AS n FROM graft.day_ev2").head.getLong(0) == 400L)
    spark.sql("DROP TABLE graft.day_ev2")

    // non-days transforms still refuse loudly
    graft.catalog.GraftCatalog.register("day_bad", tmpDir("graft_day_bad"))
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.day_bad (k BIGINT, ts BIGINT) PARTITIONED BY (k)")
    }
    assert(e.getMessage.contains("days"), e.getMessage)
    spark.sql("DROP TABLE graft.day_ev")
    assert(!new java.io.File(dir).exists(), "managed day table drops its data")
  }
}
