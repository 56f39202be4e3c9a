package graft

import org.apache.spark.sql.functions._
import graft.obs.Obs
import graft.tables.VersionedTable

/** One-off per-commit latency profiler (not part of the public surface):
  * separates the Spark parquet-write job from the protocol's metadata
  * tail, per commit, on the q_versioned_deltalog shape at a given SF.
  * Usage: runMain graft.ProfileCommit <sfDir> [cdc] */
object ProfileCommit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(defaultCpus = 32)
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        round(col("o_totalprice") * lit(100)).cast("long").as("cents"))
      .localCheckpoint(true)

    def ms[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    }

    // per phase: job count, summed job wall, and the driver-side rest
    def phase[T](label: String)(f: => T): T = {
      val (r, run) = Obs.measure(spark)(f)
      val wall = run.seconds * 1000
      println(f"[$label] wall=$wall%.0fms jobs=${run.jobs} jobWall=${run.jobMs}ms " +
        f"driverGap=${wall - run.jobMs}%.0fms")
      r
    }

    if (args.drop(1).headOption.contains("cdc")) {
      import graft.tables.ChangeFeedConsumer
      val root = java.nio.file.Files.createTempDirectory("graft_cdcprof").toString
      val (bronze, silver) = (root + "/bronze", root + "/silver")
      val c = Tables.load(spark, sfDir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      phase("bronze-bootstrap")(VersionedTable.commitAppend(spark,
        c.repartitionByRange(8, col("c_custkey")), bronze))
      def poll() = ChangeFeedConsumer.replicate(
        spark, bronze, silver, "mirror", Seq("c_custkey"), Seq("c_custkey", "c_name", "bal"))
      phase("poll-bootstrap")(poll())
      phase("bronze-update")(VersionedTable.commitUpdate(spark, bronze,
        pmod(col("c_custkey"), lit(3L)) === 0L, Map("bal" -> (col("bal") + 100.0))))
      phase("bronze-delete")(VersionedTable.commitDelete(spark, bronze,
        pmod(col("c_custkey"), lit(13L)) === 0L))
      phase("bronze-append")(VersionedTable.commitAppend(spark,
        c.where(pmod(col("c_custkey"), lit(11L)) === 0L)
          .select((col("c_custkey") + 3000000L).as("c_custkey"),
            concat(col("c_name"), lit("_new")).as("c_name"), col("bal")), bronze))
      phase("bronze-compact")(VersionedTable.commitCompact(spark, bronze,
        targetFiles = 4, clusterBy = Seq("c_custkey")))
      phase("poll-incremental")(poll())
      phase("silver-read")(VersionedTable.read(spark, silver)
        .select("c_custkey", "c_name", "bal").orderBy("c_custkey").collect())
      spark.stop()
      return
    }

    // pure floor: tiny one-partition write
    import spark.implicits._
    val tiny = (0 until 100).map(i => (i.toLong, s"s$i")).toDF("a", "b").coalesce(1)
    tiny.count()
    val floorDir = java.nio.file.Files.createTempDirectory("graft_prof_floor").toString
    (0 until 5).foreach(i => phase(s"tiny-write-$i")(tiny.write.parquet(s"$floorDir/w$i")))
    // DECOMPOSITION (r19): same slice through cheaper sinks — the deltas
    // attribute the write-job driver gap between plan+schedule (count),
    // plan+schedule+full-row materialization (noop), and the parquet
    // FileFormatWriter + committer machinery (parquet minus noop).
    (0 until 5).foreach(i => phase(s"tiny-count-$i")(tiny.count()))
    (0 until 5).foreach(i => phase(s"tiny-noop-$i")(
      tiny.write.format("noop").mode("overwrite").save()))

    // raw write cost of the same slices (no protocol)
    val rawDir = java.nio.file.Files.createTempDirectory("graft_prof_raw").toString
    val rawTimes = (0 until 12).map { i =>
      ms(o.where(pmod(col("o_orderkey"), lit(12L)) === i).coalesce(1)
        .write.parquet(s"$rawDir/w$i"))._2
    }
    println(f"raw write.parquet per-slice ms: ${rawTimes.map(t => f"$t%.0f").mkString(",")} median=${rawTimes.sorted.apply(6)}%.0f")

    // full protocol commits
    val dir = java.nio.file.Files.createTempDirectory("graft_prof").toString + "/t"
    (0 until 12).foreach { i =>
      phase(s"commitAppend-$i")(VersionedTable.commitAppend(spark,
        o.where(pmod(col("o_orderkey"), lit(12L)) === i).coalesce(1), dir))
    }

    // protocol-only pieces at the 12-commit chain depth
    val t1 = ms(VersionedTable.log(dir))._2
    val t2 = ms(VersionedTable.latestVersion(dir))._2
    println(f"log() ms=$t1%.1f latestVersion ms=$t2%.1f")
    phase("read+count-1")(VersionedTable.read(spark, dir).count())
    phase("read+count-2")(VersionedTable.read(spark, dir).count())
    phase("read+agg")(VersionedTable.read(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("cents").cast("long").as("sum_cents"))
      .orderBy("o_orderstatus", "o_orderpriority").collect())

    // DV delete + update on top (the other protocol verbs in the query)
    phase("commitDeleteDV")(VersionedTable.commitDeleteDV(spark, dir,
      pmod(col("o_orderkey"), lit(5L)) === 0L && col("o_orderstatus") === "F"))
    phase("commitUpdate")(VersionedTable.commitUpdate(spark, dir,
      col("o_orderpriority") === "1-URGENT",
      Map("cents" -> (col("cents") + lit(100L)))))
    phase("read+agg-final")(VersionedTable.read(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("cents").cast("long").as("sum_cents"))
      .orderBy("o_orderstatus", "o_orderpriority").collect())
    spark.stop()
  }
}
