package graft

import graft.tables.{TableManager, VersionedTable}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class TableManagerSpec extends SparkSpec {

  test("overwriteTable + table scan round-trip (S4/S7)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    TableManager.overwriteTable(df, "t_roundtrip")
    assert(spark.table("t_roundtrip").count() == 2)
    TableManager.overwriteTable(df.where(col("id") === 1), "t_roundtrip")
    assert(spark.table("t_roundtrip").count() == 1)
    TableManager.dropTable(spark, "t_roundtrip")
  }

  test("overwriteTableMergeSchema unions schemas across writes (S8)") {
    import spark.implicits._
    TableManager.dropTable(spark, "t_evolve")
    TableManager.overwriteTableMergeSchema(spark, Seq((1L, "x")).toDF("id", "name"), "t_evolve")
    // second write lacks `name`, adds `score` — mergeSchema keeps both
    TableManager.overwriteTableMergeSchema(spark, Seq((2L, 9.5)).toDF("id", "score"), "t_evolve")
    val out = spark.table("t_evolve")
    assert(out.columns.toSet == Set("id", "name", "score"))
    val row = out.head()
    assert(row.getLong(0) == 2L && row.isNullAt(1) && row.getDouble(2) == 9.5)
    TableManager.dropTable(spark, "t_evolve")
  }

  test("overwriteTableMergeSchema keeps the EXISTING column casing on a case-variant write") {
    import spark.implicits._
    TableManager.dropTable(spark, "t_evolve_case")
    TableManager.overwriteTableMergeSchema(spark, Seq((1L, 1.0)).toDF("id", "Score"), "t_evolve_case")
    // incoming 'score' differs only by case: Delta's mergeSchema keeps 'Score'
    TableManager.overwriteTableMergeSchema(spark, Seq((2L, 9.5)).toDF("id", "score"), "t_evolve_case")
    val out = spark.table("t_evolve_case")
    assert(out.columns.toSeq == Seq("id", "Score"),
      s"evolved schema must keep existing casing, got ${out.columns.toSeq}")
    assert(out.head().getDouble(1) == 9.5)
    TableManager.dropTable(spark, "t_evolve_case")
  }

  test("mergeUpsert matches case-variant source columns like the analyzer does") {
    import spark.implicits._
    val target = Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "Bal", "tag")
    // source columns cased differently from the target (and the key arg
    // cased differently from both) must resolve, not be rejected
    val source = Seq((2L, 99.0), (3L, 33.0)).toDF("ID", "bal")
    val out = TableManager.mergeUpsert(target, source, Seq("Id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 10.0, "a"), (2L, 99.0, "b"), (3L, 33.0, null)))
  }

  test("compact rewrites a many-file dir into target file count, content-stable (S10)") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val li  = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    VersionedTable.commit(spark, li.repartition(16), dir)
    assert(VersionedTable.filesOf(dir, 0L).size >= 16)
    def rows() = VersionedTable.read(spark, dir)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity").collect()
    val before = rows()
    val v = VersionedTable.commitCompact(spark, dir, targetFiles = 2)
    assert(VersionedTable.filesOf(dir, v).size == 2)
    assert(!VersionedTable.dataChanged(dir, v), "OPTIMIZE is a dataChange=false commit")
    assert(rows().sameElements(before))
  }

  test("withParquetCodec restores previous codec even on failure (S11)") {
    val prev = spark.conf.get("spark.sql.parquet.compression.codec")
    intercept[RuntimeException] {
      TableManager.withParquetCodec(spark, "uncompressed") {
        assert(spark.conf.get("spark.sql.parquet.compression.codec") == "uncompressed")
        sys.error("boom")
      }
    }
    assert(spark.conf.get("spark.sql.parquet.compression.codec") == prev)
  }

  test("mergeUpsert: matched rows update, new keys insert, others pass through") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    // id=2 updates bal only (name keeps target value); id=9 inserts
    val source = Seq((2L, 99.0), (9L, 5.0)).toDF("id", "bal")
    val out = TableManager.mergeUpsert(target, source, Seq("id"))
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L))
    assert(out(1).getString(1) == "b" && out(1).getDouble(2) == 99.0)
    assert(out(0).getDouble(2) == 10.0 && out(2).getDouble(2) == 30.0)
    assert(out(3).isNullAt(1) && out(3).getDouble(2) == 5.0)
  }

  test("mergeUpsert: a null in a matched source column overwrites (UPDATE SET semantics)") {
    import spark.implicits._
    val target = Seq((1L, Some(10.0))).toDF("id", "bal")
    val source = Seq((1L, Option.empty[Double])).toDF("id", "bal")
    val out = TableManager.mergeUpsert(target, source, Seq("id")).collect()
    assert(out.length == 1 && out(0).isNullAt(1))
  }

  test("mergeUpsert: source derived from target (shared lineage) resolves unambiguously") {
    import spark.implicits._
    val target = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal")
    val source = target.where(col("id") === 1).withColumn("bal", col("bal") * 2)
    val out = TableManager.mergeUpsert(target, source, Seq("id")).orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 20.0), (2L, 20.0)))
  }

  test("mergeUpsert fails loudly on duplicate source keys (Delta MERGE semantics)") {
    import spark.implicits._
    val target = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal")
    val dupSrc = Seq((1L, 50.0), (1L, 60.0), (9L, 5.0)).toDF("id", "bal")
    val e = intercept[Exception] {
      TableManager.mergeUpsert(target, dupSrc, Seq("id")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate source key")), s"got: ${msgs(e)}")
    // dup keys that match no target row must also trip (insert path)
    val dupInsert = Seq((9L, 5.0), (9L, 6.0)).toDF("id", "bal")
    val e2 = intercept[Exception] {
      TableManager.mergeUpsert(target, dupInsert, Seq("id")).collect()
    }
    assert(msgs(e2).exists(_.contains("duplicate source key")), s"got: ${msgs(e2)}")
  }

  test("mergeUpsert rejects source columns outside the target schema") {
    import spark.implicits._
    val target = Seq((1L, 10.0)).toDF("id", "bal")
    val source = Seq((1L, "x")).toDF("id", "extra")
    val e = intercept[IllegalArgumentException] {
      TableManager.mergeUpsert(target, source, Seq("id"))
    }
    assert(e.getMessage.contains("extra"))
  }
}
