package graft

import java.nio.file.Files

import graft.sources.VersionedStream
import graft.tables.{Constraints, VersionedTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class VersionedSinkSpec extends SparkSpec {

  test("append sink: one commit per micro-batch, content exact, replay idempotent") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vsink").toString
    val (src, table, ckpt) = (root + "/src", root + "/t", root + "/ckpt")
    val df = (1L to 40L).map(i => (i, i * 2.0)).toDF("id", "v").repartition(4)
    df.write.parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.format(VersionedStream.format)
      .option("path", table).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(VersionedTable.latestVersion(table).contains(3L), "4 files -> 4 commits")
    assert(VersionedTable.read(spark, table).count() == 40L)
    // restart with nothing new: no new commits
    val q2 = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.format(VersionedStream.format)
      .option("path", table).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(VersionedTable.latestVersion(table).contains(3L))
  }

  test("crash-window replay: a re-delivered batch id commits exactly once") {
    import spark.implicits._
    // batch 1 is the new rows (Append) or the whole new state (Complete)
    for ((mode, b1) <- Seq(
        OutputMode.Append()   -> Seq((3L, "c")),
        OutputMode.Complete() -> Seq((1L, "a"), (2L, "b"), (3L, "c")))) {
      val root = Files.createTempDirectory("graft_vsink_rp").toString
      val table = root + "/t"
      val sink = new VersionedStream().createSink(spark.sqlContext,
        Map("path" -> table, "checkpointLocation" -> (root + "/ckpt")),
        Seq.empty, mode)
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      sink.addBatch(0L, b0)
      sink.addBatch(0L, b0) // crash between data-commit and checkpoint-commit
      assert(VersionedTable.read(spark, table).count() == 2L, s"$mode: replayed batch must be skipped")
      assert(VersionedTable.latestVersion(table).contains(0L), s"$mode: a replay adds no version")
      sink.addBatch(1L, b1.toDF("id", "s"))
      assert(VersionedTable.read(spark, table).count() == 3L, s"$mode")
    }
  }

  test("distinct queries without an explicit checkpoint option never share a replay marker") {
    import spark.implicits._
    val root  = Files.createTempDirectory("graft_vsink_qid").toString
    val table = root + "/t"
    // neither sink got checkpointLocation in its OPTIONS (conf-derived or
    // default locations never reach the sink parameters): the replay
    // identity must come from the running query's stable id, not the
    // table dir — a dir-shared marker would classify the second query's
    // low batch ids as replays of the first's and silently drop them
    def sinkFor() = new VersionedStream().createSink(spark.sqlContext,
      Map("path" -> table), Seq.empty, OutputMode.Append())
    val key = org.apache.spark.sql.graft.StreamShim.QueryIdKey
    try {
      spark.sparkContext.setLocalProperty(key, "query-one")
      sinkFor().addBatch(5L, Seq((1L, "a")).toDF("id", "s"))
      spark.sparkContext.setLocalProperty(key, "query-two")
      sinkFor().addBatch(0L, Seq((2L, "b")).toDF("id", "s"))
      // same query id + same batch id IS still a replay
      sinkFor().addBatch(0L, Seq((2L, "b")).toDF("id", "s"))
    } finally spark.sparkContext.setLocalProperty(key, null)
    assert(VersionedTable.read(spark, table).count() == 2L,
      "query-two's batch 0 must land (and its replay must not)")
  }

  test("sink enforces the target table's CHECK constraints per batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vsink_chk").toString
    val table = root + "/t"
    VersionedTable.commitAppend(spark, Seq((1L, 5.0)).toDF("id", "v"), table)
    Constraints.add(spark, table, "v_pos", "v > 0")
    val sink = new VersionedStream().createSink(spark.sqlContext,
      Map("path" -> table), Seq.empty, OutputMode.Append())
    intercept[Constraints.ConstraintViolation] {
      sink.addBatch(0L, Seq((2L, -1.0)).toDF("id", "v"))
    }
    assert(VersionedTable.read(spark, table).count() == 1L, "bad batch never lands")
  }

  test("versioned source -> versioned sink mirror: O(new files) per poll") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vmirror").toString
    val (a, b, ckpt) = (root + "/a", root + "/b", root + "/ckpt")
    VersionedTable.commitAppend(spark, (1L to 10L).map(i => (i, s"x$i")).toDF("id", "s"), a)
    def drain(): Unit = {
      val q = spark.readStream.format(VersionedStream.format).option("path", a).load()
        .writeStream.format(VersionedStream.format)
        .option("path", b).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(VersionedTable.read(spark, b).count() == 10L)
    VersionedTable.commitAppend(spark, Seq((11L, "y")).toDF("id", "s"), a)
    drain()
    val mirror = VersionedTable.read(spark, b)
    assert(mirror.count() == 11L)
    assert(mirror.select("id").as[Long].collect().toSet == (1L to 11L).toSet)
    // the tail poll committed exactly one more version to b
    assert(VersionedTable.latestVersion(b).contains(1L))
  }

  test("complete mode snapshots the aggregate state per batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vsink_cm").toString
    val (src, table, ckpt) = (root + "/src", root + "/t", root + "/ckpt")
    (1L to 30L).map(i => (i % 3, 1L)).toDF("g", "one").repartition(3).write.parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .writeStream.format(VersionedStream.format)
      .outputMode(OutputMode.Complete())
      .option("path", table).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fin = VersionedTable.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == Map(0L -> 10L, 1L -> 10L, 2L -> 10L))
  }
}
