package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by run.py):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up is JVM start, session start plus input generation from the seed
  * ([[SetupRepeats]] times, the median counted and the last kept), and one
  * untimed warm-up round on small inputs. Then the workload runs as many
  * timed rounds as its nominal round length fits in `seconds`. With
  * `--trace 1` half of them run untraced and half traced, and the last
  * stdout line carries the per-layer metrics; otherwise it carries the
  * end-to-end metrics. */
object Main {

  val SetupRepeats = 3

  final case class Metric(name: String, value: Double, unit: String)

  def session(work: String, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps few jobs, stages and queries, so that trimming
      // it is a small cost every round rather than a large one in some
      // rounds once it first fills up (nothing reads it: the UI is off)
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
    val s = graft.GraftSession.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Host-noise probes, not gated: a fixed single-threaded JVM loop and an
    * empty one-task Spark job, each the median of a few repetitions. */
  def calibMs(): Double = Stats.median((0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 0xff; i += 1 }
    if (acc == 42) println("") // keep the loop observable
    (System.nanoTime() - t0) / 1e6
  })

  def emptyJobMs(spark: SparkSession): Double = Stats.median((0 until 5).map { _ =>
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(Seq(1), 1).count()
    (System.nanoTime() - t0) / 1e6
  })

  /** Heap in use after a forced GC: the lowest of three collections, each
    * given time for Spark's context cleaner to release what the previous
    * one made unreachable. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** A timed round: its wall time, the items it completed and the space
    * amplification of the workload's tables after it (taken untimed). */
  final case class RoundStat(wallMs: Double, items: Long, spaceAmp: Double)

  /** Closed loop over a fixed number of rounds: as many of the workload's
    * nominal round length as fit in `seconds` (at least one), so every run
    * of a workload at one length does the same work however fast the host
    * is that minute. */
  def runRounds(wl: Workload, c: Client, seconds: Double): Seq[RoundStat] = {
    val out = mutable.ArrayBuffer[RoundStat]()
    val n = math.max(1, math.round(seconds / wl.nominalRoundS).toInt)
    var stop = false
    while (!stop && out.size < n) {
      c.round = out.size
      val r0 = System.nanoTime()
      try {
        val items = wl.round(c)
        val wallMs = (System.nanoTime() - r0) / 1e6
        wl.verify(c)
        out += RoundStat(wallMs, items, Workload.spaceAmp(wl.tableDirs))
      } catch { case e: Exception =>
        c.problems += s"round ${out.size} aborted: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        stop = true
      }
    }
    out.toSeq
  }

  def json(m: Seq[Metric], correct: Boolean, attempted: Long, failed: Long): String = {
    def num(x: Double) = if (x.isNaN || x.isInfinite) "0.0" else x.toString
    val ms = m.map(x => s""""${x.name}": {"value": ${num(x.value)}, "unit": "${x.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", sys.error("--work is required"))
    Workload(name) // reject an unknown name before any set-up
    val cores = Runtime.getRuntime.availableProcessors()

    // ---- set-up: JVM start (once), session start + input generation
    // (repeated, median kept), untimed warm-up round (once)
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val prepS = mutable.ArrayBuffer[Double]()
    val digests = mutable.ArrayBuffer[String]()
    var spark: SparkSession = null
    var wl: Workload = null
    for (i <- 0 until SetupRepeats) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, cores)
      wl = Workload(name)
      wl.setup(new Client(spark, None), s"$work/setup$i", seed)
      prepS += (System.nanoTime() - t0) / 1e9
      digests += wl.digest
    }
    require(digests.distinct.size == 1, s"input digest differs between set-ups: $digests")
    val w0 = System.nanoTime()
    val warm = new Client(spark, None)
    try wl.warmUpRound(warm) catch { case e: Exception => warm.problems += e.toString }
    if (warm.problems.nonEmpty) {
      System.err.println(s"[perfbench] warm-up failed: ${warm.problems.mkString("; ")}")
      sys.exit(1)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = jvmS + Stats.median(prepS.toSeq) + warmS
    println(s"""{"workload": "$name", "seed": $seed, "inputs_digest": "${digests.head}", "cores": $cores, """ +
      s""""setup": {"jvm_s": $jvmS, "session_and_inputs_s": [${prepS.mkString(", ")}], "warm_up_s": $warmS}}""")

    // ---- timed rounds
    val calib0 = calibMs(); val empty0 = emptyJobMs(spark)
    val plain = new Client(spark, None)
    val plainRounds = runRounds(wl, plain, if (trace) seconds / 2 else seconds)
    val tracer = if (trace) Some(new Tracer) else None
    val traced = tracer.map { t => t.install(spark); new Client(spark, Some(t)) }
    val tracedRounds = traced.map(c => runRounds(wl, c, seconds / 2)).getOrElse(Nil)
    val last = traced.getOrElse(plain)
    val calib1 = calibMs(); val empty1 = emptyJobMs(spark)
    try wl.finish(last) catch { case e: Exception =>
      last.problems += s"final check failed: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    val heapMb = liveHeapMb()
    val spaceAmp = Stats.median(plainRounds.map(_.spaceAmp).padTo(1, 0.0))
    spark.stop() // drains the listener bus before any trace is read

    val clients = Seq(plain) ++ traced
    val problems = clients.flatMap(_.problems)
    problems.foreach(p => System.err.println(s"[perfbench] WRONG: $p"))
    val attempted = clients.map(_.attempted).sum
    val failed = clients.map(_.failed).sum
    println(s"""{"diagnostics": {"host.calib_ms": [$calib0, $calib1], "spark.empty_job_ms": [$empty0, $empty1], """ +
      s""""round_s": [${plainRounds.map(_.wallMs / 1000.0).mkString(", ")}], "traced_rounds": ${tracedRounds.size}}}""")

    val runS = Stats.median(plainRounds.map(_.wallMs / 1000.0).padTo(1, 0.0))
    // the typical latency of a kind of call: the geometric mean over call
    // names of each name's median, so it does not jump with the mix of names
    def typicalMs(kind: String) = plain.validByName(kind).values.map(Stats.median).toSeq match {
      case Seq() => 0.0
      case meds => Stats.geoMean(meds)
    }
    // a tail needs at least 11 samples of a kind in one run; shorter runs
    // print their maximum here and report no tail metric
    val tails = Seq("commit", "call").map { k =>
      val xs = plain.valid(k)
      val (p, v) = if (xs.isEmpty) (100.0, 0.0) else Stats.tail(xs)
      s""""$k": {"samples": ${xs.size}, "percentile": $p, "ms": $v}"""
    }
    val byName = plain.samples.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, ss) => f""""$n": ${Stats.median(ss.map(_.ms).toSeq)}%.1f""" }
    println(s"""{"tails": {${tails.mkString(", ")}}, "call_median_ms": {${byName.mkString(", ")}}}""")
    val metrics: Seq[Metric] =
      if (!trace) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("run_s", runS, "s"),
        Metric("items_per_s", plainRounds.map(_.items).sum.toDouble / plainRounds.size / math.max(1e-9, runS), "1/s"),
        Metric("commit_ms", typicalMs("commit"), "ms"),
        Metric("call_ms", typicalMs("call"), "ms"),
        Metric("space_amp", spaceAmp, "ratio"),
        Metric("live_heap_mb", heapMb, "MB"),
        Metric("ok_frac", (attempted - failed).toDouble / math.max(1L, attempted), "ratio"))
      else {
        val tracedRunS = Stats.median(tracedRounds.map(_.wallMs / 1000.0).padTo(1, 0.0))
        Layers.metrics(tracer.get, tracedRounds.map(_.wallMs), wl.counters) ++ Seq(
          Metric("host.calib_ms", (calib0 + calib1) / 2, "ms"),
          Metric("host.calib_drift", calib1 / calib0, "ratio"),
          Metric("spark.empty_job_ms", (empty0 + empty1) / 2, "ms"),
          Metric("spark.empty_job_drift", empty1 / empty0, "ratio"),
          Metric("trace.overhead", tracedRunS / math.max(1e-9, runS), "ratio"))
      }
    // a trace whose self times and gaps do not add up to the rounds' wall
    // time attributes something twice or not at all
    val accounted = metrics.find(_.name == "trace.accounted_frac").forall(m => math.abs(m.value - 1) <= 0.05)
    if (!accounted) System.err.println("[perfbench] WRONG: trace does not account for the traced wall time")
    val correct = problems.isEmpty && plainRounds.nonEmpty && (!trace || tracedRounds.nonEmpty) && accounted
    println(json(metrics, correct, math.max(1L, attempted), failed))
  }
}
