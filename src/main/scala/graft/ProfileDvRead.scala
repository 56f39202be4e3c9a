package graft

import org.apache.spark.sql.functions._
import graft.tables.VersionedTable

/** One-off masked-read profiler for the DELETION-VECTOR read path (not
  * part of the public surface): past `MaxBroadcastDvBytes` the mask
  * anti-join flips from a broadcast hash anti-join to an AQE-planned
  * shuffled anti-join — this measures what that flip costs the reader on
  * IDENTICAL data, by overriding `spark.graft.dv.maxBroadcastBytes`
  * between runs instead of manufacturing 64 MB of sidecars.
  *
  * Usage: runMain graft.ProfileDvRead <sfDir> [amplify]
  * Builds lineitem ×amplify as one versioned table, DV-deletes ~25 % of
  * rows, then times an aggregate over the masked read in three regimes:
  * unmasked baseline (pre-delete version), broadcast mask, shuffled mask.
  */
object ProfileDvRead {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val amp = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local(defaultCpus = 32)

    val dir = java.nio.file.Files.createTempDirectory("graft_dvprof").toString + "/t"
    val li0 = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
    val li = (0 until amp).map(k =>
        li0.withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L)))
      .reduce(_ unionByName _)
    VersionedTable.commitAppend(spark, li.repartition(32), dir)
    val rows0 = VersionedTable.read(spark, dir).count()
    // ~25 % of rows, spread across every file
    VersionedTable.commitDeleteDV(spark, dir, pmod(col("l_orderkey"), lit(4L)) === 0L)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dvBytes = VersionedTable.entriesOf(dir, 1L).flatMap(_._2).distinct
      .map(r => fs.getFileStatus(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), r)).getLen).sum
    println(f"DVPROF rows=$rows0 dvBytes=${dvBytes / 1048576.0}%.2f MB amplify=$amp")

    def time(label: String)(f: => Long): Unit = {
      // warm once, then 3 measured runs
      f
      val runs = (1 to 3).map { _ =>
        val (n, run) = graft.obs.Obs.measure(spark)(f)
        (run.seconds, n, run.shuffleWriteBytes / 1048576.0)
      }
      val best = runs.minBy(_._1)
      println(f"DVPROF $label%-22s best=${best._1}%6.3f s rows=${best._2} " +
        f"shuffleW=${best._3}%8.2f MB (3 runs: ${runs.map(r => f"${r._1}%.3f").mkString(", ")})")
    }

    def agg(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("l_quantity"), count(lit(1))).head.getLong(1)

    time("unmasked (v0)") { agg(VersionedTable.read(spark, dir, Some(0L))) }
    spark.conf.set("spark.graft.dv.maxBroadcastBytes", Long.MaxValue.toString)
    time("masked broadcast") { agg(VersionedTable.read(spark, dir)) }
    // past the bound AT SCALE the DV side is GBs — far over Spark's own
    // auto-broadcast thresholds too. Small test sidecars would get
    // AQE-converted back to broadcast, so disable the auto conversion to
    // measure the regime that actually occurs there: a genuine shuffled
    // anti-join of scan vs sidecars.
    spark.conf.set("spark.graft.dv.maxBroadcastBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    time("masked shuffled") { agg(VersionedTable.read(spark, dir)) }
    spark.conf.unset("spark.graft.dv.maxBroadcastBytes")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.stop()
  }
}
