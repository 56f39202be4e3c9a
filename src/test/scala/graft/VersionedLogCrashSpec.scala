package graft

import java.nio.file.Files

import graft.tables.{FsIO, TimePartitioned, VersionedTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The local file system with one deterministic crash point: the JVM
  * halts (no shutdown hooks, no finally blocks — a power cut) just before
  * or just after the rename of a `<v>-<ms>.commit.tmp` log entry onto its
  * `.commit` name, the versioned log's commit point. `graft.test.haltAt`
  * (`before` | `after`) in the Hadoop conf arms it. Keeps the `file`
  * scheme, so the write lease stays exact, and extends the engine's own
  * `file` file system, so the child runs production's file primitives. */
class HaltingLocalFs extends graft.tables.ForkFreeLocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    val at = if (src.getName.endsWith(".commit.tmp")) getConf.get("graft.test.haltAt", "") else ""
    if (at == "before") Runtime.getRuntime.halt(HaltingLocalFs.ExitCode)
    val ok = super.rename(src, dst)
    if (at == "after") Runtime.getRuntime.halt(HaltingLocalFs.ExitCode)
    ok
  }
}
object HaltingLocalFs { val ExitCode = 86 }

/** Child process for [[VersionedLogCrashSpec]]: a REAL second JVM whose
  * `file` scheme is [[HaltingLocalFs]], running ONE commit on the day
  * table `dir` — `append` (commitAppend of [[NewRows]]), `commit` (the
  * whole-table commit of the same rows) or `compact` (commitCompact of
  * the table as it stands) — so the crash lands exactly at the chosen side
  * of the log-entry rename. */
object LogCrashChild {

  val Day1    = 1700000000000000000L // 2023-11-14 UTC, epoch nanos
  val DayNs   = 86400L * 1000000000L
  val NewTag  = 100000L
  val NewRows = 30

  def main(args: Array[String]): Unit = {
    val Array(dir, mode, haltAt) = args
    val spark = GraftSession.builder("local[2]", shufflePartitions = 2)
      .config("spark.hadoop.fs.file.impl", classOf[HaltingLocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .config("spark.hadoop.graft.test.haltAt", haltAt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(0L, NewRows.toLong).select(
      (lit(Day1) + col("id") * lit(DayNs)).as("ts"), (col("id") + NewTag).as("v"))
    mode match {
      case "append"  => VersionedTable.commitAppend(spark, df, dir)
      case "compact" => VersionedTable.commitCompact(spark, dir, targetFiles = 1)
      case _         => VersionedTable.commit(spark, df, dir)
    }
    println("CHILD_DONE") // unreachable when the halt point is armed
    spark.stop()
  }
}

/** Deterministic crash spec for the versioned log — the one commit
  * protocol of plain and day-partitioned tables alike. A child JVM halts
  * at a NAMED point around the commit-entry rename (no wall-clock race:
  * the file system itself pulls the plug), and the parent checks the
  * table from the surviving state:
  *
  *  - halted BEFORE the rename: the table still reads the old snapshot;
  *    the child's staged files are orphans no manifest references, and
  *    [[VersionedTable.vacuum]] sweeps them (and the entry temp) once the
  *    grace window has passed;
  *  - halted AFTER the rename: the batch (append) or the overwrite
  *    (commit) is visible exactly once, and a compaction is a new
  *    `dataChange=false` version holding the same rows.
  *
  * Either way the dead child still holds the table lease; the parent
  * ages it out (a `ts=1` body, as a crashed writer's lease looks once
  * stale) and the next commitAppend must land. */
class VersionedLogCrashSpec extends SparkSpec {

  import LogCrashChild.{Day1, DayNs, NewRows, NewTag}

  private val OldDays = 10
  private val oldRows = (0L until OldDays.toLong).toSet
  private val newRows = (0L until NewRows.toLong).map(_ + NewTag).toSet
  private val Marker  = 999999L

  private def spawn(dir: String, mode: String, haltAt: String, log: java.io.File): Process =
    ChildJvm.spawn("1g", "graft.LogCrashChild", Seq(dir, mode, haltAt), log)

  private def vals(dir: String): Seq[Long] =
    VersionedTable.read(spark, dir).select("v").collect().map(_.getLong(0)).toSeq

  /** Every parquet file under the table's `data/`, table-relative. */
  private def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root.resolve("data"))
    try walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
    finally walk.close()
  }

  private def crashAt(mode: String, haltAt: String): Unit = {
    val root = Files.createTempDirectory("graft_logcrash").toString
    val dir  = root + "/t"
    TimePartitioned.write(
      spark.range(0L, OldDays.toLong).select(
        (lit(Day1) + col("id") * lit(DayNs)).as("ts"), col("id").as("v")),
      dir, "ts")
    val before = dataFiles(dir)
    val log = new java.io.File(root, "child.log")
    val child = spawn(dir, mode, haltAt, log)
    assert(child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES), "child hung")
    def tail = new String(Files.readAllBytes(log.toPath), "UTF-8").takeRight(3000)
    assert(child.exitValue() == HaltingLocalFs.ExitCode,
      s"child did not halt at the commit point (exit ${child.exitValue()}):\n$tail")
    val staged = dataFiles(dir) -- before
    assert(staged.nonEmpty && staged.forall(_.startsWith("data/p_day=")),
      s"the child must have staged day files: $staged")
    val expected = (mode, haltAt) match {
      case (_, "before") | ("compact", _) => oldRows
      case ("append", _)                  => oldRows ++ newRows
      case _                              => newRows
    }
    val got = vals(dir)
    assert(got.size == got.toSet.size, s"duplicated rows after the crash: $got")
    assert(got.toSet == expected,
      s"$mode halted $haltAt the rename: expected ${expected.size} rows, got ${got.size}")
    assert(VersionedTable.latestVersion(dir).contains(if (haltAt == "before") 0L else 1L))
    if (mode == "compact" && haltAt == "after")
      assert(!VersionedTable.dataChanged(dir, 1L), "a compaction changes no rows")
    // the dead child's lease, aged out the way a crashed writer's looks
    val lock = dir + ".__write_lock"
    assert(new java.io.File(lock).exists, "the halted child must die holding the lease")
    FsIO.writeText(lock, "owner=dead\nts=1\nlabel=halted-child\n")
    // vacuum past the grace window: orphans (before) go, published files stay
    VersionedTable.vacuum(spark, dir, retainLast = 2, graceMs = 0L)
    val logDir = new java.io.File(dir, "_log")
    assert(!logDir.listFiles().exists(_.getName.endsWith(".commit.tmp")),
      "vacuum must sweep the entry temp")
    val live = VersionedTable.versions(spark, dir).map(_._1)
      .flatMap(VersionedTable.filesOf(dir, _)).toSet
    assert(dataFiles(dir) == live, s"unreferenced files survive vacuum: ${dataFiles(dir) -- live}")
    if (haltAt == "before") assert(staged.intersect(dataFiles(dir)).isEmpty)
    else assert(staged.subsetOf(dataFiles(dir)))
    // the table stays writable: the next append lands on the surviving head
    VersionedTable.commitAppend(spark,
      spark.range(0, 1).select(lit(Day1).as("ts"), lit(Marker).as("v")), dir)
    val after = vals(dir)
    assert(after.count(_ == Marker) == 1 && after.toSet == expected + Marker,
      s"post-crash append did not land exactly once: ${after.size} rows")
  }

  test("commitAppend halted before the log rename: old snapshot stands, orphans are swept") {
    crashAt("append", "before")
  }

  test("commitAppend halted after the log rename: the batch is visible exactly once") {
    crashAt("append", "after")
  }

  test("commit halted before the log rename: old snapshot stands, orphans are swept") {
    crashAt("commit", "before")
  }

  test("commit halted after the log rename: the overwrite is visible exactly once") {
    crashAt("commit", "after")
  }

  test("commitCompact halted before the log rename: old snapshot stands") {
    crashAt("compact", "before")
  }

  test("commitCompact halted after the log rename: same rows, new layout") {
    crashAt("compact", "after")
  }
}
