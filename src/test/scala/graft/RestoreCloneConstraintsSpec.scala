package graft

import java.nio.file.Files

import graft.tables.{Constraints, VersionedTable}
import org.apache.spark.sql.functions._

/** RESTORE / CLONE / CHECK-constraint behaviors of the versioned layer. */
class RestoreCloneConstraintsSpec extends SparkSpec {

  private def rootOf() = Files.createTempDirectory("graft_rcc").toString

  test("restore: new commit, target content verbatim, zero data movement") {
    import spark.implicits._
    val dir = rootOf() + "/t"
    VersionedTable.commitAppend(spark,
      (1L to 20L).map(i => (i, i * 10.0)).toDF("id", "v"), dir)
    VersionedTable.commitUpdate(spark, dir, col("id") <= 5L,
      Map("v" -> (col("v") + 1.0)))
    VersionedTable.commitDelete(spark, dir, col("id") > 15L)
    val rv = VersionedTable.commitRestore(spark, dir, 1L)
    assert(rv == 3L, "restore is the NEXT version, not a rewrite")
    // zero movement: the manifest IS v1's file list
    assert(VersionedTable.filesOf(dir, rv) == VersionedTable.filesOf(dir, 1L))
    // content equals v1: all 20 ids, first five bumped
    val got = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 20 && got(3L) == 31.0 && got(18L) == 180.0)
    // history intact: the "bad" v2 still time-travels
    assert(VersionedTable.read(spark, dir, Some(2L)).count() == 15L)
    // the restore step's change feed is exactly the five re-added keys
    val feed = VersionedTable.changes(spark, dir, 2L, rv, Seq("id"), Seq("v")).collect()
    assert(feed.map(_.getAs[String]("change_type")).toSet == Set("added"))
    assert(feed.map(_.getLong(0)).toSet == (16L to 20L).toSet)
  }

  test("SQL RESTORE TO TIMESTAMP AS OF resolves the version current at that time") {
    import spark.implicits._
    val dir = rootOf() + "/t"
    VersionedTable.commitAppend(spark, Seq((1L, 10.0)).toDF("id", "v"), dir) // v0
    // the timestamp BETWEEN v0 and v1 must restore v0's content
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    VersionedTable.commitDelete(spark, dir, col("id") === 1L)                 // v1
    assert(VersionedTable.read(spark, dir).count() == 0L)
    // full toString keeps the fractional seconds (Timestamp.valueOf
    // accepts them) — truncating to whole seconds could land BEFORE v0
    val ts = new java.sql.Timestamp(betweenMs).toString
    val out = graft.tables.TableSql.execute(spark, Map("tt" -> dir),
      s"RESTORE TABLE tt TO TIMESTAMP AS OF '$ts'")
    assert(out.head().getString(0) == "RESTORE")
    assert(VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 10.0)))
  }

  test("restore: snapshot-commit versions restore too; vacuumed targets fail loudly") {
    import spark.implicits._
    val dir = rootOf() + "/t"
    VersionedTable.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) // v0
    VersionedTable.commit(spark, Seq((9L, "z")).toDF("id", "s"), dir)            // v1
    val rv = VersionedTable.commitRestore(spark, dir, 0L)
    assert(VersionedTable.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // v0's files are shared by the restore manifest: vacuum retaining only
    // the restore must KEEP them (refcount across manifests)
    VersionedTable.vacuum(spark, dir, retainLast = 1, graceMs = 0L)
    assert(VersionedTable.read(spark, dir, Some(rv)).count() == 2L)
    // restoring to the vacuumed v1 fails loudly, table unchanged
    val before = VersionedTable.latestVersion(dir)
    intercept[Exception] { VersionedTable.commitRestore(spark, dir, 1L) }
    assert(VersionedTable.latestVersion(dir) == before)
  }

  test("shallow clone: metadata-only fork; clone DML never reaches the source") {
    import spark.implicits._
    val root = rootOf()
    val (src, dst) = (root + "/src", root + "/clone")
    VersionedTable.commitAppend(spark,
      (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v").repartition(4), dir = src)
    VersionedTable.cloneShallow(spark, src, dst)
    // zero bytes copied: the clone has no data files of its own yet
    assert(!new java.io.File(dst + "/data").exists() ||
      new java.io.File(dst + "/data").listFiles().isEmpty)
    assert(VersionedTable.read(spark, dst).count() == 30L)
    // DML on the clone: copy-on-write into the clone's own data/
    VersionedTable.commitUpdate(spark, dst, col("id") <= 10L, Map("v" -> (col("v") * 100.0)))
    VersionedTable.commitDelete(spark, dst, col("id") > 25L)
    assert(VersionedTable.read(spark, dst).count() == 25L)
    assert(VersionedTable.read(spark, dst).where(col("id") === 3L)
      .collect().head.getDouble(1) == 300.0)
    // the source is untouched: still v0, all rows, original values
    assert(VersionedTable.latestVersion(src).contains(0L))
    val srcRows = VersionedTable.read(spark, src).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(srcRows.size == 30 && srcRows(3L) == 3.0 && srcRows(28L) == 28.0)
    // vacuum on the CLONE must never delete the source's files
    VersionedTable.vacuum(spark, dst, retainLast = 1, graceMs = 0L)
    assert(VersionedTable.read(spark, src).count() == 30L)
    // a clone of the clone (absolute entries re-cloned) still reads
    val dst2 = root + "/clone2"
    VersionedTable.cloneShallow(spark, dst, dst2)
    assert(VersionedTable.read(spark, dst2).count() == 25L)
  }

  test("deep clone is self-contained: survives total source destruction") {
    import spark.implicits._
    val root = rootOf()
    val (src, dst) = (root + "/src", root + "/deep")
    VersionedTable.commitAppend(spark, (1L to 10L).map(i => (i, i.toString)).toDF("id", "s"), src)
    VersionedTable.cloneDeep(spark, src, dst)
    // obliterate the source entirely
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(src))
    assert(VersionedTable.read(spark, dst).count() == 10L)
    // clone onto an existing table refuses
    intercept[IllegalArgumentException] { VersionedTable.cloneShallow(spark, dst, dst) }
  }

  test("constraints: enforcement across append/update/merge/snapshot, tri-state NULL") {
    import spark.implicits._
    val dir = rootOf() + "/t"
    VersionedTable.commitAppend(spark,
      Seq((1L, 5.0), (2L, 7.0)).toDF("id", "v"), dir)
    Constraints.add(spark, dir, "v_pos", "v > 0")
    assert(Constraints.list(dir).map(_._1) == Seq("v_pos"))
    val v0 = VersionedTable.latestVersion(dir)

    // violating APPEND rejected atomically
    intercept[Constraints.ConstraintViolation] {
      VersionedTable.commitAppend(spark, Seq((3L, -1.0)).toDF("id", "v"), dir)
    }
    assert(VersionedTable.latestVersion(dir) == v0)
    // violating UPDATE rewrite rejected atomically
    intercept[Constraints.ConstraintViolation] {
      VersionedTable.commitUpdate(spark, dir, col("id") === 1L, Map("v" -> lit(-9.0)))
    }
    assert(VersionedTable.latestVersion(dir) == v0)
    // violating MERGE rejected atomically
    intercept[Constraints.ConstraintViolation] {
      VersionedTable.commitMerge(spark, dir, Seq((2L, -3.0)).toDF("id", "v"), Seq("id"))
    }
    assert(VersionedTable.latestVersion(dir) == v0)
    // violating SNAPSHOT commit rejected (orphan dir, never visible)
    intercept[Constraints.ConstraintViolation] {
      VersionedTable.commit(spark, Seq((9L, -2.0)).toDF("id", "v"), dir)
    }
    assert(VersionedTable.latestVersion(dir) == v0)

    // tri-state: NULL predicate result PASSES (SQL CHECK semantics)
    VersionedTable.commitAppend(spark,
      Seq((4L, Option.empty[Double])).toDF("id", "v"), dir)
    assert(VersionedTable.read(spark, dir).count() == 3L)

    // valid writes pass through every path
    VersionedTable.commitUpdate(spark, dir, col("id") === 1L, Map("v" -> lit(6.0)))
    VersionedTable.commitMerge(spark, dir, Seq((5L, 1.0)).toDF("id", "v"), Seq("id"))
    assert(VersionedTable.read(spark, dir).count() == 4L)

    // DROP lifts enforcement; the formerly-rejected row lands
    assert(Constraints.drop(dir, "v_pos"))
    assert(!Constraints.drop(dir, "v_pos"))
    VersionedTable.commitAppend(spark, Seq((3L, -1.0)).toDF("id", "v"), dir)
    assert(VersionedTable.read(spark, dir).count() == 5L)
  }

  test("constraints: ALTER-time validation, duplicates, malformed input") {
    import spark.implicits._
    val dir = rootOf() + "/t"
    VersionedTable.commitAppend(spark, Seq((1L, -5.0)).toDF("id", "v"), dir)
    // adding a constraint the table violates fails, and leaves NO constraint
    intercept[Constraints.ConstraintViolation] {
      Constraints.add(spark, dir, "v_pos", "v > 0")
    }
    assert(Constraints.list(dir).isEmpty)
    Constraints.add(spark, dir, "v_real", "v IS NOT NULL")
    // duplicate name refused
    intercept[IllegalArgumentException] {
      Constraints.add(spark, dir, "v_real", "v < 100")
    }
    // malformed name / unparseable predicate refused up front
    intercept[IllegalArgumentException] {
      Constraints.add(spark, dir, "bad name!", "v > 0")
    }
    intercept[Exception] { Constraints.add(spark, dir, "nope", "SELECT FROM WHERE") }
    assert(Constraints.list(dir).map(_._1) == Seq("v_real"))
  }
}
