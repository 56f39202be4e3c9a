package graft

import java.nio.file.Files

import graft.obs.Obs
import org.apache.spark.graft.ContextShim
import org.apache.spark.sql.streaming.Trigger

/** The metrics spine counts exactly: every count below is an equality or a
  * strict bound that a sleep-settled listener could miss, and nothing here
  * sleeps. */
class ObsSpec extends SparkSpec {

  test("a 7-partition foreach is exactly 1 job of 7 tasks") {
    val (_, run) = Obs.measure(spark) {
      spark.range(0L, 700L, 1L, 7).foreach((_: java.lang.Long) => ())
    }
    assert(run.jobs == 1)
    assert(run.tasks == 7)
    assert(run.jobRows.size == 1 && run.stageRows.map(_.tasks) == Seq(7))
  }

  test("a repartition action reports its shuffle write") {
    val (n, run) = Obs.measure(spark)(spark.range(0L, 10000L, 1L, 4).repartition(3).count())
    assert(n == 10000L)
    assert(run.shuffleWriteBytes > 0)
    assert(run.shuffleReadBytes > 0)
  }

  test("an availableNow file stream over 3 files, 1 file per trigger, reports 3 triggers") {
    val root = Files.createTempDirectory("graft_obs_stream")
    val src = root.resolve("src")
    Files.createDirectory(src)
    (0 until 3).foreach(i => Files.writeString(src.resolve(s"f$i.txt"), s"line $i\n"))
    val (_, run) = Obs.measure(spark) {
      spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(src.toString)
        .writeStream.format("noop")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(run.triggers.map(_.batchId) == Seq(0L, 1L, 2L))
    assert(run.triggers.forall(_.durationMs.contains("addBatch")))
  }

  test("back-to-back measures do not share jobs") {
    val (_, first) = Obs.measure(spark)(spark.range(0L, 100L, 1L, 2).count())
    val (_, empty) = Obs.measure(spark)(())
    val (_, next) = Obs.measure(spark)(spark.range(0L, 100L, 1L, 2).count())
    assert(first.jobs >= 1)
    assert(empty.jobs == 0 && empty.tasks == 0 && empty.jobRows.isEmpty)
    assert(next.jobs == first.jobs)
    assert(first.jobRows.map(_.id).intersect(next.jobRows.map(_.id)).isEmpty)
  }

  test("installing twice leaves one listener") {
    val a = Obs.install(spark)
    val b = Obs.install(spark)
    assert(a eq b)
    assert(ContextShim.listeners[Obs.Spine](spark.sparkContext).size == 1)
    assert(spark.streams.listListeners().count(_ eq a.streams) == 1)
  }
}
