package graft

import org.apache.spark.sql.functions._
import graft.tables.TimePartitioned

/** One-off day-table append concurrency profiler (not part of the public
  * surface): measures K equal batches appended SEQUENTIALLY vs K batches
  * appended from K CONCURRENT threads onto fresh day tables — the
  * stage-then-publish claim under test is that appenders overlap their
  * whole O(data) staging phase and serialize only on the metadata-grain
  * publish renames, so the concurrent wall approaches seq/K plus one
  * publish train, not K serialized data writes.
  * Usage: runMain graft.ProfileAppend [sfDir] [K] */
object ProfileAppend {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k     = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local(defaultCpus = 32)

    val ev = Tables.load(spark, sfDir, "events")
      .select(col("ts"), col("event_id").as("v"), col("user_id"), col("value"))
      .localCheckpoint(true) // batches re-read from block cache, not parquet
    val batches = (0 until k).map(i => ev.where(pmod(col("v"), lit(k)) === i))
    val rows    = batches.map(_.count()).sum

    def freshDir(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_profappend_$tag")
      d.toString + "/t"
    }
    def seconds(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warm-up: one throwaway append compiles the plan + opens committers
    TimePartitioned.append(batches.head, freshDir("warm"), "ts")

    val seqDir = freshDir("seq")
    val seqS = seconds { batches.foreach(b => TimePartitioned.append(b, seqDir, "ts")) }

    val concDir = freshDir("conc")
    val errs    = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = batches.map(b => new Thread(() =>
      try TimePartitioned.append(b, concDir, "ts", maxWaitMs = 600000L)
      catch { case t: Throwable => errs.add(t); () }))
    val concS = seconds { threads.foreach(_.start()); threads.foreach(_.join()) }
    require(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")

    val seqRows  = spark.read.parquet(seqDir).count()
    val concRows = spark.read.parquet(concDir).count()
    require(seqRows == rows && concRows == rows,
      s"row loss: seq $seqRows conc $concRows expected $rows")
    println(f"""{"metric":"append_concurrency","k":$k,"rows":$rows,""" +
      f""""seq_s":$seqS%.2f,"conc_s":$concS%.2f,""" +
      f""""speedup":${seqS / concS}%.2f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
