package perfbench

import Main.Metric

/** Per-layer metrics of a traced run, each averaged per traced round. */
object Layers {

  val Names: Seq[String] = Seq("image", "operators", "tables", "catalog", "streaming", "sources")

  private def div(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics(tracer: Tracer, roundWallMs: Seq[Double], runCounters: Map[String, Double]): Seq[Metric] = {
    val (costs, waits) = tracer.costs()
    val rounds = math.max(1, roundWallMs.size).toDouble
    val mb = 1048576.0

    val perLayer = Names.flatMap { l =>
      val cs = costs.filter(_.span.layer == l)
      val w = cs.map(_.work).foldLeft(Work())(_ + _)
      def m(n: String, v: Double, unit: String) = Metric(s"$l.$n", v / rounds, unit)
      Seq(
        m("calls", cs.size, "count"),
        m("wall_ms", cs.map(_.span.ms).sum, "ms"),
        m("self_ms", cs.map(_.selfMs).sum, "ms"),
        m("jobs", w.jobs, "count"),
        m("tasks", w.tasks, "count"),
        m("task_ms", w.taskMs, "ms"),
        m("cpu_ms", w.cpuMs, "ms"),
        m("gc_ms", w.gcMs, "ms"),
        m("plan_ms", w.planMs, "ms"),
        m("gap_ms", cs.map(_.gapMs).sum, "ms"),
        m("shuffle_mb", w.shuffleWriteBytes / mb, "MB"),
        m("spill_mb", w.spillBytes / mb, "MB"),
        m("fs_read_mb", cs.map(_.fsReadBytes).sum / mb, "MB"),
        m("fs_write_mb", cs.map(_.fsWriteBytes).sum / mb, "MB"))
    }

    def in(l: String) = costs.filter(_.span.layer == l)
    def sumC(cs: Seq[SpanCost], k: String) = cs.map(_.span.counters.getOrElse(k, 0.0)).sum

    val commits = in("tables").filter(_.span.counters.contains("commit"))
    val nCommits = commits.size.toDouble
    val reads = costs.filter(_.span.counters.contains("snapshot_files"))
    val writes = costs.filter(_.span.counters.contains("added_bytes"))
    val catalog = in("catalog")

    def cnt(k: String) = runCounters.getOrElse(k, 0.0)

    val trig = tracer.triggers
    def d(t: Map[String, Long], k: String) = t.getOrElse(k, 0L).toDouble
    val execMs = trig.map(t => d(t._4, "triggerExecution"))
    val (_, trigTail) = if (execMs.isEmpty) (0.0, 0.0) else Stats.tail(execMs)
    // probe growth of the dedup stream: mean addBatch of the last quarter of
    // its triggers over that of the first quarter, averaged over its queries
    val growth = trig.filter(_._1.contains("streamImageDedup"))
      .groupBy(_._2).values.toSeq.flatMap { ts =>
        val ab = ts.sortBy(_._3).map(t => d(t._4, "addBatch"))
        val q = math.max(1, ab.size / 4)
        if (ab.size < 2) None else Some(div(ab.takeRight(q).sum / q, ab.take(q).sum / q))
      }

    val jaccard = costs.filter(_.span.counters.contains("pairs"))
    val work = (cs: Seq[SpanCost]) => cs.map(_.work).foldLeft(Work())(_ + _)
    val accounted = {
      // layer self time over all spans plus the gaps between top-level calls
      // must reproduce each round's wall time
      val top = costs.filter(_.span.parent == 0L)
      val selfSum = costs.map(_.selfMs).sum
      val topSum = top.map(_.span.ms).sum
      div(selfSum + (roundWallMs.sum - topSum), roundWallMs.sum)
    }

    perLayer ++ Seq(
      Metric("tables.jobs_per_commit", div(work(commits).jobs, nCommits), "count"),
      Metric("tables.plan_ms_per_commit", div(work(commits).planMs, nCommits), "ms"),
      Metric("tables.gap_ms_per_commit", div(commits.map(_.gapMs).sum, nCommits), "ms"),
      Metric("tables.fs_read_mb_per_commit", div(commits.map(_.fsReadBytes).sum / mb, nCommits), "MB"),
      Metric("tables.files_read_frac", div(work(reads).scanFiles, sumC(reads, "snapshot_files")), "ratio"),
      Metric("tables.write_amp", div(writes.map(_.fsWriteBytes).sum, sumC(writes, "added_bytes")), "ratio"),
      Metric("catalog.plan_ms_per_stmt", div(work(catalog).planMs, catalog.size), "ms"),
      Metric("streaming.triggers", trig.size / rounds, "count"),
      Metric("streaming.overhead_ms_per_trigger",
        div(trig.map(t => d(t._4, "triggerExecution") - d(t._4, "addBatch")).sum, trig.size), "ms"),
      Metric("streaming.wal_ms_per_trigger", div(trig.map(t => d(t._4, "walCommit")).sum, trig.size), "ms"),
      Metric("streaming.trigger_p50_ms", if (execMs.isEmpty) 0.0 else Stats.median(execMs), "ms"),
      Metric("streaming.trigger_tail_ms", trigTail, "ms"),
      Metric("streaming.probe_growth", if (growth.isEmpty) 0.0 else growth.sum / growth.size, "ratio"),
      Metric("image.cpu_ms_per_image", div(work(in("image")).cpuMs, sumC(costs, "images")), "ms"),
      Metric("operators.cpu_ms_per_doc", div(work(in("operators")).cpuMs, sumC(costs, "docs")), "ms"),
      Metric("operators.shuffle_records_per_pair",
        div(work(jaccard).shuffleReadRecords, sumC(jaccard, "pairs")), "ratio"),
      Metric("spark.sched_wait_ms", if (waits.isEmpty) 0.0 else Stats.median(waits.map(_.toDouble)), "ms"),
      Metric("spark.task_failures", costs.map(_.work.taskFailures).sum / rounds, "count"),
      Metric("trace.accounted_frac", accounted, "ratio"),
      Metric("dedup.recall", div(cnt("planted_dropped"), cnt("planted")), "ratio"),
      Metric("dedup.precision", div(cnt("drops_planted"), cnt("drops")), "ratio"))
  }
}
