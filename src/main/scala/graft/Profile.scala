package graft

import graft.obs.Obs

/** Dev utility for the optimization rounds: run declared queries k times
  * each in a warmed session and print, per run, what [[Obs.measure]]
  * recorded — the "how many passes and shuffles does this query actually
  * do, and where did its time go" view that a single bench number hides:
  *
  *  - `[profile]` totals: wall, rows, jobs, stages, tasks, task and GC
  *    time, shuffle read/write, spill, Janino compiles;
  *  - `STAGE`: the ten slowest completed stages by wall time;
  *  - `JOB`: one line per job, with its wall time and result-stage name;
  *  - `TRIGGER`: per streaming trigger, Spark's phase durations
  *    (`addBatch` is the batch's own work; latestOffset, getBatch,
  *    queryPlanning, walCommit and commitOffsets are the harness overhead),
  *    then the phase totals — printed only when the query ran streams.
  *
  * Runs are released between each other as in Bench (unpersist, clear
  * cache, drain the cleaner).
  *
  * Usage: runMain graft.Profile [sfDir] [k] query [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 3
    val names = args.drop(2).toSeq
    val spark = GraftSession.local(defaultCpus = 32)

    // same warmup as Bench so first-run numbers aren't codegen spin-up
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.count(); li.groupBy("l_returnflag").count().count()

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to k).foreach { i =>
        val (rows, run) = Obs.measure(spark) {
          try fn(spark, sfDir).count() catch {
            case e: Throwable => System.err.println(s"[profile] $n failed: ${e.getMessage}"); -1L
          }
        }
        report(s"$n run$i", rows, run)
        Obs.release(spark)
      }
    }
    spark.stop()
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  private def report(label: String, rows: Long, r: Obs.Run): Unit = {
    println(f"[profile] $label: ${r.seconds}%6.2fs rows=$rows jobs=${r.jobs} stages=${r.stages} " +
      f"tasks=${r.tasks} taskMs=${r.taskMs} gcMs=${r.gcMs} " +
      f"shuffleReadMB=${mb(r.shuffleReadBytes)}%.2f shuffleWriteMB=${mb(r.shuffleWriteBytes)}%.2f " +
      f"spillMB=${mb(r.spillBytes)}%.2f compiles=${r.compiles}")
    r.stageRows.sortBy(-_.wallMs).take(10).foreach(s =>
      println(f"  STAGE ${s.id}%5d wall=${s.wallMs / 1000.0}%7.3f s " +
        f"taskSum=${s.taskMs / 1000.0}%8.3f s tasks=${s.tasks}%4d " +
        f"shR=${mb(s.shuffleReadBytes)}%7.2f MB shW=${mb(s.shuffleWriteBytes)}%7.2f MB  ${s.name}"))
    r.jobRows.sortBy(_.id).foreach(j => println(f"  JOB ${j.id}%5d ${j.wallMs}%7d ms  ${j.label}"))
    if (r.triggers.nonEmpty) {
      val keys = Seq("triggerExecution", "addBatch", "latestOffset", "getBatch",
        "queryPlanning", "walCommit", "commitOffsets")
      r.triggers.foreach(t => println(s"  TRIGGER batch ${t.batchId}  " +
        keys.flatMap(k => t.durationMs.get(k).map(v => s"$k=$v")).mkString(" ")))
      val totals = r.triggers.flatMap(_.durationMs).groupMapReduce(_._1)(_._2)(_ + _)
      println(s"  TRIGGER TOTALS triggers=${r.triggers.size} " +
        totals.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=${v}ms" }.mkString(" "))
    }
  }
}
