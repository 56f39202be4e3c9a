package graft

import java.nio.file.Files

import graft.tables.{TableSql, VersionedTable}
import graft.tables.VersionedTable.{WhenMatchedDelete, WhenMatchedUpdate, WhenNotMatchedBySourceDelete, WhenNotMatchedBySourceUpdate, WhenNotMatchedInsert}
import org.apache.spark.sql.functions._

/** Conditional MERGE (Delta's `WHEN MATCHED [AND c] THEN UPDATE/DELETE,
  * WHEN NOT MATCHED [AND c] THEN INSERT`) — clause priority, the
  * no-applicable-clause carry-over, the ambiguous-source gate, the SQL
  * surface (including commas/keywords inside string literals, the round-11
  * TableSql hardening), and the OCC rebase-over-blind-append discipline.
  */
class MergeConditionalSpec extends SparkSpec {

  private def dirOf() = Files.createTempDirectory("graft_mc").toString + "/t"

  test("update/delete/insert arms with conditions; unmatched rows carry over") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 10.0, "a"), (2L, -5.0, "b"), (3L, 7.0, "c"), (4L, 1.0, "d"))
        .toDF("k", "bal", "name"), dir)
    // source: hits 1 (positive → update), 2 (negative → delete),
    // 9 (no match, big delta → insert), 10 (no match, small delta → dropped)
    val src = Seq((1L, 100.0), (2L, 50.0), (9L, 60.0), (10L, 1.0))
      .toDF("k", "delta")
    VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
      WhenMatchedDelete(Some("t.bal < 0")),
      WhenMatchedUpdate(None, Map("bal" -> "t.bal + s.delta")),
      WhenNotMatchedInsert(Some("s.delta > 50"),
        Some(Map("k" -> "s.k", "bal" -> "s.delta")))))
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(rows == Set(
      (1L, 110.0, Some("a")), // matched, updated; unset column kept
      (3L, 7.0, Some("c")),   // untouched file/row carries over
      (4L, 1.0, Some("d")),   // matched by nothing (not in source)
      (9L, 60.0, None)        // inserted; unlisted column NULL
    ), rows.toString) // k=2 deleted; k=10 matched no insert clause → dropped
  }

  test("keys-only WhenMatchedDelete empties a whole file; a re-run is a no-op") {
    import spark.implicits._
    val dir = dirOf()
    // four key-range files, so one doomed key range can empty a whole file
    VersionedTable.commit(spark, spark.range(1L, 65L)
      .select(col("id").as("k"), (col("id") * 10.0).as("bal"))
      .repartitionByRange(4, col("k")), dir)
    val v0 = VersionedTable.filesOf(dir, 0L)
    assert(v0.size == 4, s"test needs four files, got $v0")
    val byFile = VersionedTable.read(spark, dir).select(col("k"), input_file_name())
      .collect().groupBy(_.getString(1)).map { case (f, rs) => f -> rs.map(_.getLong(0)).toSet }
    // doomed: every key of key 9's file, plus key 50 from another file
    val doomed = byFile.values.find(_.contains(9L)).get + 50L
    def delete(): Long = VersionedTable.commitMergeConditional(spark, dir,
      doomed.toSeq.toDF("k"), Seq("k"), Seq(WhenMatchedDelete(None)))
    def survivors() = VersionedTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = (1L to 64L).filterNot(doomed).map(k => k -> k * 10.0).toMap
    val v1 = delete()
    assert(survivors() == expected)
    // file-grain copy-on-write: files holding no doomed key stay shared
    val touched = byFile.filter(_._2.exists(doomed)).keySet
    val untouched = v0.filterNot(rel => touched.exists(_.endsWith(rel))).toSet
    assert(untouched.size == 2, s"expected 2 untouched files of $v0")
    assert(untouched.subsetOf(VersionedTable.filesOf(dir, v1).toSet))
    delete()
    assert(survivors() == expected, "re-running the delete must not change the contents")
  }

  test("NOT MATCHED BY SOURCE arms: retention delete + flag update, file-pruned") {
    import spark.implicits._
    val dir = dirOf()
    // two files: ks 1-4 in one, 11-14 in the other (clustered by range)
    VersionedTable.commitAppend(spark,
      Seq(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L).toDF("k")
        .select(col("k"), (col("k") * 10).cast("double").as("bal"))
        .repartitionByRange(2, col("k")), dir)
    val src = Seq((1L, 5.0), (11L, 5.0)).toDF("k", "delta")
    VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
      WhenMatchedUpdate(None, Map("bal" -> "t.bal + s.delta")),
      // conditions see the TARGET only; first-true wins within the family
      WhenNotMatchedBySourceDelete(Some("t.k = 2 OR t.k = 12")),
      WhenNotMatchedBySourceUpdate(Some("t.bal > 100"), Map("bal" -> "t.bal + 0.5"))))
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows == Map(
      1L -> 15.0, 11L -> 115.0,           // matched arm
      3L -> 30.0, 4L -> 40.0,             // unmatched, no arm condition held
      13L -> 130.5, 14L -> 140.5          // unmatched, bal > 100 → flagged
    ), rows.toString)                     // 2 and 12 deleted
    // SET * is undefined with no source side
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"),
        Seq(WhenNotMatchedBySourceUpdate(None, Map.empty)))
    }
    assert(e.getMessage.contains("explicit SET"), e.getMessage)
  }

  test("NOT MATCHED BY SOURCE with an empty-match source sweeps the whole table") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "bal"), dir)
    // source matches nothing and inserts nothing: only the sweep applies
    val src = Seq((99L, 0.0)).toDF("k", "delta")
    VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"),
      Seq(WhenNotMatchedBySourceDelete(None)))
    assert(VersionedTable.read(spark, dir).count() == 0L)
  }

  test("clause order is priority: the FIRST applicable matched clause wins") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 5.0), (2L, 50.0)).toDF("k", "bal"), dir)
    val src = Seq((1L, 0.0), (2L, 0.0)).toDF("k", "z")
    // both clauses' conditions hold for k=2 (50 > 10 and TRUE); the first
    // in declaration order must win
    VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
      WhenMatchedUpdate(Some("t.bal > 10"), Map("bal" -> "t.bal * 2")),
      WhenMatchedUpdate(None, Map("bal" -> "t.bal + 1"))))
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows == Map(1L -> 6.0, 2L -> 100.0), rows.toString)
  }

  test("UPDATE SET *: every source-covered non-key column takes the source value") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 10.0, "old1"), (2L, 20.0, "old2")).toDF("k", "bal", "note"), dir)
    // source covers bal but not note: SET * updates bal, note survives
    Seq((1L, 99.0)).toDF("k", "bal").createOrReplaceTempView("mcu_src")
    TableSql.execute(spark, Map("tgt" -> dir),
      "MERGE INTO tgt USING mcu_src ON (k) WHEN MATCHED THEN UPDATE SET *")
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows == Set((1L, 99.0, "old1"), (2L, 20.0, "old2")), rows.toString)
  }

  test("duplicate source keys are refused (ambiguous merge)") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark, Seq((1L, 1.0)).toDF("k", "bal"), dir)
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.commitMergeConditional(spark, dir,
        Seq((1L, 2.0), (1L, 3.0)).toDF("k", "bal"), Seq("k"),
        Seq(WhenMatchedUpdate(None, Map("bal" -> "s.bal"))))
    }
    assert(ex.getMessage.contains("not unique"), ex.getMessage)
  }

  test("SQL surface: WHEN clauses parse; INSERT *; literals survive the rewrites") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 10.0, "x"), (2L, -1.0, "y")).toDF("k", "bal", "note"), dir)
    Seq((1L, 5.0, "s1"), (2L, 9.0, "s2"), (7L, 70.0, "s7"), (8L, 0.5, "s8"))
      .toDF("k", "bal", "note").createOrReplaceTempView("mc_src")
    val cat = Map("tgt" -> dir)
    TableSql.execute(spark, cat,
      """MERGE INTO tgt USING mc_src ON (k)
        |WHEN MATCHED AND t.bal < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.bal, note = 'up,dated'
        |WHEN NOT MATCHED AND s.bal > 1 THEN INSERT *""".stripMargin)
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    // k=1 updated (note literal contains a comma — splitTop must not split
    // inside it); k=2 deleted; k=7 inserted via INSERT *; k=8 filtered
    assert(rows == Set((1L, 15.0, "up,dated"), (7L, 70.0, "s7")), rows.toString)

    // SELECT rewrite hardening: a literal containing `tgt VERSION AS OF 0`
    // must survive byte-identical, while the real travel clause rewrites
    val out = TableSql.execute(spark, cat,
      "SELECT k, 'tgt VERSION AS OF 0' AS tag FROM tgt VERSION AS OF 0 ORDER BY k")
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "tgt VERSION AS OF 0"), (2L, "tgt VERSION AS OF 0")))

    // UPDATE with a comma inside a SET literal parses as ONE assignment
    TableSql.execute(spark, cat, "UPDATE tgt SET note = 'a,b' WHERE k = 7")
    assert(VersionedTable.read(spark, dir).where(col("k") === 7L)
      .select("note").head().getString(0) == "a,b")
  }

  test("NMBS expressions: source references and unstable conditions refuse up front") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      spark.range(0L, 20L).select(col("id").as("k"), lit(1L).as("x")).coalesce(1), dir)
    val src = spark.range(0L, 5L).select(col("id").as("k"), lit(9L).as("x"))
    val before = VersionedTable.latestVersion(dir)
    // a SET value referencing the source would silently write NULL into
    // every swept row (no source side exists) — must refuse, not corrupt
    val e1 = intercept[Exception] {
      VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
        WhenNotMatchedBySourceUpdate(None, Map("x" -> "s.x"))))
    }
    assert(e1.getMessage.contains("target (`t.`) only"), e1.getMessage)
    // same for a condition alongside a condition-less arm (which would
    // short-circuit the pruning scan that used to catch the reference)
    val e2 = intercept[Exception] {
      VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
        WhenNotMatchedBySourceDelete(None),
        WhenNotMatchedBySourceUpdate(Some("s.x > 0"), Map("x" -> "-1"))))
    }
    assert(e2.getMessage.contains("target (`t.`) only"), e2.getMessage)
    // nondeterministic / time-dependent conditions are evaluated in TWO
    // queries (pruning, rewrite) — a disagreement silently skips rows
    val e3 = intercept[Exception] {
      VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
        WhenNotMatchedBySourceDelete(Some("rand() < 0.5"))))
    }
    assert(e3.getMessage.contains("deterministic"), e3.getMessage)
    val e4 = intercept[Exception] {
      VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
        WhenNotMatchedBySourceDelete(Some("t.x < unix_timestamp(current_timestamp())"))))
    }
    assert(e4.getMessage.contains("time-independent"), e4.getMessage)
    assert(VersionedTable.latestVersion(dir) == before, "nothing committed")
    // target-only deterministic arms still work
    VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
      WhenNotMatchedBySourceUpdate(Some("t.k < 10"), Map("x" -> "t.x + 100"))))
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((5L until 10L).forall(rows(_) == 101L))
    assert((10L until 20L).forall(rows(_) == 1L))
    assert((0L until 5L).forall(rows(_) == 1L), "matched rows untouched (no matched arm)")
  }

  test("conditional merge rebases over a concurrent blind append (WriteSerializable)") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      spark.range(0L, 30L).select(col("id").as("k"), lit(0L).as("x")).coalesce(1), dir)
    val marker = Files.createTempDirectory("graft_mc_occ").resolve("staging").toString
    // the slow SET expression opens the stage window AFTER the probe pinned
    // the read version (same device as the DV-delete OCC spec)
    spark.udf.register("mc_slow_add", (x: Long, d: Long) => {
      try Files.createFile(java.nio.file.Paths.get(marker))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      Thread.sleep(100)
      x + d
    })
    @volatile var mergeV = -1L
    @volatile var mergeErr: Throwable = null
    val th = new Thread(() => {
      try mergeV = VersionedTable.commitMergeConditional(spark, dir,
        spark.range(0L, 30L).select(col("id").as("k"), lit(7L).as("d")), Seq("k"),
        Seq(WhenMatchedUpdate(None, Map("x" -> "mc_slow_add(t.x, s.d)"))))
      catch { case e: Throwable => mergeErr = e }
    })
    th.start()
    val t0 = System.currentTimeMillis()
    while (!Files.exists(java.nio.file.Paths.get(marker)) &&
      System.currentTimeMillis() - t0 < 30000) Thread.sleep(10)
    val appV = VersionedTable.commitAppend(spark, Seq((100L, 1L)).toDF("k", "x"), dir)
    th.join(120000)
    assert(mergeErr == null, s"merge failed: $mergeErr")
    assert(appV < mergeV, s"append ($appV) lands before the merge's publish ($mergeV)")
    val rows = VersionedTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(100L) == 1L, "the rebased-over appended row survives")
    assert((0L until 30L).forall(k => rows(k) == 7L), "every matched row updated")
    assert(rows.size == 31)
  }

  test("evolution fold is idempotent against a rival adding the same column+type") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal"), dir)
    // a concurrent writer lands the SAME widening between the merge's
    // analysis (which staged the alter) and its commit
    VersionedTable.commitAddColumn(spark, dir, "seg",
      org.apache.spark.sql.types.StringType)
    val src = Seq((1L, 99.0, "hot"), (5L, 50.0, "new")).toDF("k", "bal", "seg")
    VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
      WhenMatchedUpdate(None, Map("bal" -> "s.bal", "seg" -> "s.seg")),
      WhenNotMatchedInsert(None, None)),
      pendingAlters = Seq(VersionedTable.AddColumnAlter("seg",
        org.apache.spark.sql.types.StringType)))
    val out = VersionedTable.read(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)).orNull))
    assert(out.toSeq == Seq((1L, 99.0, "hot"), (2L, 20.0, null), (5L, 50.0, "new")),
      out.mkString(","))
    // exactly one `seg` in the schema, no duplicate add committed
    assert(VersionedTable.schemaOf(spark, dir, None).fieldNames.toSeq
      == Seq("k", "bal", "seg"))
  }

  test("evolution fold refuses loudly on a rival's conflicting column type") {
    import spark.implicits._
    val dir = dirOf()
    VersionedTable.commitAppend(spark,
      Seq((1L, 10.0)).toDF("k", "bal"), dir)
    VersionedTable.commitAddColumn(spark, dir, "seg",
      org.apache.spark.sql.types.LongType) // rival: seg BIGINT
    val vBefore = VersionedTable.latestVersion(dir)
    val src = Seq((1L, 99.0, "hot")).toDF("k", "bal", "seg")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitMergeConditional(spark, dir, src, Seq("k"), Seq(
        WhenMatchedUpdate(None, Map.empty)),
        pendingAlters = Seq(VersionedTable.AddColumnAlter("seg",
          org.apache.spark.sql.types.StringType))) // staged: seg STRING
    }
    assert(e.getMessage.contains("concurrent change already added"), e.getMessage)
    assert(VersionedTable.latestVersion(dir) == vBefore,
      "the refused merge must not commit")
  }
}
