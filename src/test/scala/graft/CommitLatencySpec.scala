package graft

import java.nio.file.Files

import graft.obs.Obs
import graft.tables.VersionedTable

/** Driver-latency budget for the versioned-commit protocol (round-11
  * hardening item): an uncontended commitAppend must stay within a fixed
  * Spark-job budget — the per-commit fixed cost is what bounds commit rate
  * on a table taking per-minute appends, and every extra job is ~100 ms of
  * scheduler latency on a busy driver. */
class CommitLatencySpec extends SparkSpec {

  private def dirOf() = Files.createTempDirectory("graft_lat").toString + "/t"

  test("uncontended commitAppend: bounded Spark jobs and wall time per commit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = dirOf()
    val base = spark.range(0L, 20000L)
      .select(col("id").as("k"), (col("id") % 97L).as("x")).localCheckpoint(true)
    // warm the protocol paths (first commit pays class-loading etc.)
    VersionedTable.commitAppend(spark, base.where(col("k") < 100L).coalesce(1), dir)
    val jobs = Obs.measure(spark) {
      VersionedTable.commitAppend(spark,
        base.where(col("k") >= 100L && col("k") < 200L).coalesce(1), dir)
    }._2.jobs
    // budget: 1 stage-write job + at most 1 incidental (schema/validation
    // probes are footer reads or driver-only and must NOT spawn jobs on an
    // unconstrained table)
    assert(jobs <= 2, s"uncontended commitAppend ran $jobs Spark jobs (budget 2)")
    // wall-time: 12 sequential tiny appends — the q_versioned_deltalog
    // shape — must average well under the ~0.5 s/commit round-10 cost
    val t0 = System.nanoTime()
    (2 until 14).foreach { i =>
      VersionedTable.commitAppend(spark,
        base.where(col("k") % 12L === i.toLong).coalesce(1), dir)
    }
    val perCommit = (System.nanoTime() - t0) / 1e9 / 12
    info(f"uncontended commitAppend: $jobs jobs, $perCommit%.3f s/commit averaged over 12")
    assert(perCommit < 0.5, f"$perCommit%.3f s/commit — protocol fixed cost regressed")
  }
}
