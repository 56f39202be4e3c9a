package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer (or, for a stream, one trigger phase that
  * Structured Streaming reported). Times are epoch milliseconds as doubles,
  * so they line up with listener event timestamps. */
final case class Span(id: Long, parent: Long, layer: String, name: String, round: Int,
    start: Double, end: Double, fsReadBytes: Long = 0L, fsWriteBytes: Long = 0L,
    counters: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** Spark-side totals for one span, accumulated from listener events. */
final case class Work(jobs: Int = 0, tasks: Long = 0L, taskMs: Double = 0, cpuMs: Double = 0,
    gcMs: Double = 0, shuffleReadRecords: Long = 0L, shuffleWriteBytes: Long = 0L,
    spillBytes: Long = 0L, taskFailures: Long = 0L, planMs: Double = 0, scanFiles: Long = 0L) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs, cpuMs + o.cpuMs,
    gcMs + o.gcMs, shuffleReadRecords + o.shuffleReadRecords,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    taskFailures + o.taskFailures, planMs + o.planMs, scanFiles + o.scanFiles)
}

/** Per-span self time and where it went. */
final case class SpanCost(span: Span, selfMs: Double, gapMs: Double, work: Work,
    fsReadBytes: Long, fsWriteBytes: Long)

object Trace {
  /** Local property carrying the id of the span that issued a job. Spark
    * copies local properties into every job's properties, and a streaming
    * query's thread inherits them from the thread that started it (unlike
    * the job group, which the stream execution overwrites with its run id). */
  val SpanKey = "perfbench.span"
  val ExecIdKey = "spark.sql.execution.id"
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  /** Phase order inside one micro-batch (MicroBatchExecution): the offsets
    * are planned and logged, then the batch is fetched, planned, written to
    * the sink, and committed. */
  val TriggerPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  final case class JobRec(id: Int, span: Long, execId: Long, queryId: String,
      batchId: Long, start: Long, stages: Seq[Int])
  final case class QeRec(id: Long, phases: Seq[(Double, Double)], planMs: Double,
      scanFiles: Long, end: Double)
  final case class Progress(queryId: String, runId: String, batchId: Long, start: Double,
      durations: Map[String, Long])

  /** Bytes read and written through Hadoop FileSystems, all threads. (The
    * local filesystem counts bytes but no read operations.) */
  def fsTotals(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  /** Self time of each span: its interval minus the part covered by its
    * direct children (children may be laid out approximately; only their
    * overlap with the parent counts). */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> Stats.uncovered(s.start, s.end, ch)
    }.toMap
  }
}

/** Records spans and attributes Spark work to them. Created only for traced
  * runs: [[install]] registers one SparkListener, one
  * QueryExecutionListener and one StreamingQueryListener, and nothing is
  * computed until [[costs]] runs after `spark.stop()` has drained the
  * listener bus. */
final class Tracer {
  import Trace._

  private final class StageAcc(val span: Long, val queryId: String, val batchId: Long) {
    var tasks = 0L; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var shRecords = 0L; var shWrite = 0L; var spill = 0L; var failures = 0L
    var firstLaunch = Long.MaxValue
  }

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val spans = mutable.ArrayBuffer[Span]()
  private val queryOwner = mutable.Map[String, (Long, Option[String], Option[String])]()
  private var nextId = 1L

  private def propsOf(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(k)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      jobs.add(JobRec(e.jobId, propsOf(p, SpanKey).map(_.toLong).getOrElse(0L),
        propsOf(p, ExecIdKey).map(_.toLong).getOrElse(-1L), propsOf(p, QueryIdKey).orNull,
        propsOf(p, BatchIdKey).map(_.toLong).getOrElse(-1L), e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.put(e.jobId, e.time); () }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val p = e.properties
      stages.putIfAbsent(e.stageInfo.stageId, new StageAcc(
        propsOf(p, SpanKey).map(_.toLong).getOrElse(0L), propsOf(p, QueryIdKey).orNull,
        propsOf(p, BatchIdKey).map(_.toLong).getOrElse(-1L)))
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stages.get(e.stageId)
      if (acc != null) {
        acc.tasks += 1
        acc.firstLaunch = math.min(acc.firstLaunch, e.taskInfo.launchTime)
        if (e.taskInfo.failed || e.taskInfo.killed) acc.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          acc.runMs += m.executorRunTime
          acc.cpuMs += m.executorCpuTime / 1e6
          acc.gcMs += m.jvmGCTime
          acc.shRecords += m.shuffleReadMetrics.recordsRead
          acc.shWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.collect {
        case (k, v) if k == "analysis" || k == "optimization" || k == "planning" =>
          (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
      }.toSeq
      val files = try collect(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
      catch { case _: Exception => 0L }
      qes.add(QeRec(qe.id, ph, ph.map { case (a, b) => b - a }.sum, files,
        ph.map(_._2).maxOption.getOrElse(System.currentTimeMillis().toDouble)))
      ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.id.toString, p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      ()
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Open a span on the calling thread: its id becomes the job-tagging
    * local property until [[close]]. */
  def open(spark: SparkSession, layer: String, name: String, round: Int): (Span, (Long, Long)) = {
    val id = nextId; nextId += 1
    spark.sparkContext.setLocalProperty(SpanKey, id.toString)
    (Span(id, 0L, layer, name, round, Clock.nowMs(), 0.0), fsTotals())
  }

  def close(spark: SparkSession, open: (Span, (Long, Long)), counters: Map[String, Double]): Span = {
    val (s, (r0, w0)) = open
    val end = Clock.nowMs()
    spark.sparkContext.setLocalProperty(SpanKey, null)
    val (r1, w1) = fsTotals()
    val done = s.copy(end = end, fsReadBytes = r1 - r0, fsWriteBytes = w1 - w0, counters = counters)
    spans += done
    done
  }

  /** Declare that run `runId` of a streaming query ran inside `span`; its
    * trigger phases become child spans: source phases under `sourceLayer`,
    * the sink write (`addBatch`) under `sinkLayer` — each None to leave that
    * time with the stream span itself. */
  def bindQuery(runId: String, span: Long, sourceLayer: Option[String],
      sinkLayer: Option[String]): Unit = queryOwner(runId) = (span, sourceLayer, sinkLayer)

  def annotate(id: Long, counters: Map[String, Double]): Unit = {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(counters = spans(i).counters ++ counters)
  }

  /** (owning span's name, query id, batch id, phase durations) of every
    * trigger of a bound stream, in batch order per query. */
  def triggers: Seq[(String, String, Long, Map[String, Long])] =
    progress.asScala.toSeq.flatMap(p => queryOwner.get(p.runId).map(o =>
      (spans.find(_.id == o._1).map(_.name).getOrElse("?"), p.queryId, p.batchId, p.durations)))
      .sortBy(t => (t._2, t._3))

  /** Spans plus the synthetic trigger-phase children, and each span's cost.
    * Call after `spark.stop()`. */
  def costs(): (Seq[SpanCost], Seq[Long]) = {
    var synthId = -1L
    val byId = spans.map(s => s.id -> s).toMap
    // a stream started inside the program (its query id never reached the
    // benchmark) belongs to the call that was open when its triggers ran
    progress.asScala.filterNot(p => queryOwner.contains(p.runId)).foreach { p =>
      spans.find(s => s.parent == 0L && s.start <= p.start && p.start <= s.end)
        .foreach(s => queryOwner(p.runId) = (s.id, None, None))
    }
    // synthetic children: phase intervals laid out in execution order from
    // the trigger's start, clipped to the owning stream span
    val childOf = mutable.Map[(String, Long), Long]() // (query, batch) -> addBatch child
    val synth = progress.asScala.toSeq.flatMap { p =>
      queryOwner.get(p.runId).toSeq.flatMap { case (sid, srcLayer, sinkLayer) =>
        val parent = byId(sid)
        var t = p.start
        TriggerPhases.flatMap { ph =>
          val d = p.durations.getOrElse(ph, 0L).toDouble
          val (a, b) = (math.max(t, parent.start), math.min(t + d, parent.end))
          t += d
          val layer =
            if (ph == "addBatch") sinkLayer
            else if (ph == "latestOffset" || ph == "getBatch") srcLayer
            else None
          layer.filter(_ => b > a).map { l =>
            val id = synthId; synthId -= 1
            if (ph == "addBatch") childOf((p.queryId, p.batchId)) = id
            Span(id, sid, l, s"${parent.name}.$ph", parent.round, a, b)
          }
        }
      }
    }
    val all = spans.toSeq ++ synth
    val self = selfMs(all)

    val jobSeq = jobs.asScala.toSeq
    def owner(span: Long, q: String, b: Long): Long =
      if (q != null && b >= 0) childOf.getOrElse((q, b), span) else span
    val stageWork = mutable.Map[Long, Work]().withDefaultValue(Work())
    stages.asScala.foreach { case (_, a) =>
      val o = owner(a.span, a.queryId, a.batchId)
      stageWork(o) = stageWork(o) + Work(tasks = a.tasks, taskMs = a.runMs, cpuMs = a.cpuMs,
        gcMs = a.gcMs, shuffleReadRecords = a.shRecords, shuffleWriteBytes = a.shWrite,
        spillBytes = a.spill, taskFailures = a.failures)
    }
    val jobOwner = jobSeq.map(j => j.id -> owner(j.span, j.queryId, j.batchId)).toMap
    val jobIv = mutable.Map[Long, Seq[(Double, Double)]]().withDefaultValue(Nil)
    jobSeq.foreach { j =>
      val o = jobOwner(j.id)
      val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start)
      jobIv(o) = jobIv(o) :+ ((j.start.toDouble, end.toDouble))
      stageWork(o) = stageWork(o) + Work(jobs = 1)
    }
    // SQL executions reach their span through their jobs; an execution that
    // ran no job falls back to the innermost span open when it finished
    val execOwner = jobSeq.filter(_.execId >= 0).groupBy(_.execId)
      .map { case (e, js) => e -> jobOwner(js.minBy(_.id).id) }
    val planIv = mutable.Map[Long, Seq[(Double, Double)]]().withDefaultValue(Nil)
    qes.asScala.foreach { q =>
      val o = execOwner.getOrElse(q.id,
        all.filter(s => s.start <= q.end && q.end <= s.end).sortBy(_.ms).headOption.map(_.id)
          .getOrElse(0L))
      if (o != 0L) {
        planIv(o) = planIv(o) ++ q.phases
        stageWork(o) = stageWork(o) + Work(planMs = q.planMs, scanFiles = q.scanFiles)
      }
    }
    val kids = all.groupBy(_.parent)
    val costs = all.map { s =>
      val selfRegion = Stats.complement(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      val busy = Stats.overlap(selfRegion, planIv(s.id) ++ jobIv(s.id))
      val selfLen = self(s.id)
      SpanCost(s, selfLen, math.max(0.0, selfLen - busy), stageWork(s.id), s.fsReadBytes, s.fsWriteBytes)
    }
    // job submit -> first task launch, over every job issued inside a span
    val waits = jobSeq.filter(_.span != 0L).flatMap { j =>
      val first = j.stages.flatMap(st => Option(stages.get(st))).map(_.firstLaunch)
        .filter(_ != Long.MaxValue)
      if (first.isEmpty) None else Some(first.min - j.start)
    }
    (costs, waits.map(_.toLong))
  }
}

/** Wall clock as epoch milliseconds with sub-millisecond resolution: the
  * monotonic nano clock anchored once to the epoch clock. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
