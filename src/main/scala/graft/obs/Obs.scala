package graft.obs

import scala.collection.mutable

import org.apache.spark.graft.ContextShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The harness's one metrics spine: per-run job, stage, task, shuffle,
  * spill, GC and trigger counts for Bench, ScaleBench, Profile and the
  * job-budget specs. Only those install it; engine sessions never carry it.
  *
  * Exact by construction, not by settle sleeps: [[measure]] drains the
  * listener bus before and after its body. The DAGScheduler posts a job's
  * task-end, stage-completed and job-end events before it releases the
  * action waiting on that job, and a streaming query posts each trigger's
  * progress before the trigger ends, so once the body has returned and the
  * bus is empty, the run holds every event its work caused.
  */
object Obs {

  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int, taskMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long)
  /** `label` is the job's result-stage name: the action's call site, or
    * for a stream's jobs the call site that started the stream. */
  final case class Job(id: Int, label: String, wallMs: Long)
  /** One streaming trigger's phase durations (`StreamingQueryProgress.durationMs`). */
  final case class Trigger(batchId: Long, durationMs: Map[String, Long])

  /** What one measured body ran. `seconds` is the body's wall time;
    * `compiles` counts Janino compiles (the JVM-wide counter is bumped
    * synchronously in the compiling thread). */
  final case class Run(seconds: Double, jobs: Int, tasks: Long, taskMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, compiles: Long,
      stageRows: Seq[Stage], jobRows: Seq[Job], triggers: Seq[Trigger]) {
    def stages: Int = stageRows.size
    def jobMs: Long = jobRows.map(_.wallMs).sum
  }

  private final class Window {
    var jobs = 0; var tasks = 0L; var taskMs = 0L; var gcMs = 0L
    var shRead = 0L; var shWrite = 0L; var spill = 0L
    val jobStarts = mutable.Map[Int, (Long, String)]()
    val jobRows = mutable.ArrayBuffer[Job]()
    val stageRows = mutable.ArrayBuffer[Stage]()
    val triggers = mutable.ArrayBuffer[Trigger]()
    def run(seconds: Double, compiles: Long): Run = Run(seconds, jobs, tasks, taskMs, gcMs,
      shRead, shWrite, spill, compiles, stageRows.toList, jobRows.toList, triggers.toList)
  }

  private def firstLine(s: String): String = s.takeWhile(_ != '\n')

  /** The one SparkListener; [[streams]] is the one StreamingQueryListener.
    * Both record into the window [[measure]] opens and drop events while
    * none is open, so memory stays bounded over a long harness run. */
  final class Spine extends SparkListener {
    @volatile private[Obs] var window: Window = null

    private def record(f: Window => Unit): Unit = {
      val w = window
      if (w != null) w.synchronized(f(w))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = record { w =>
      w.jobs += 1
      val label = e.stageInfos.maxByOption(_.stageId).map(s => firstLine(s.name)).getOrElse("?")
      w.jobStarts(e.jobId) = (e.time, label)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = record { w =>
      w.jobStarts.remove(e.jobId).foreach { case (t0, label) =>
        w.jobRows += Job(e.jobId, label, e.time - t0)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record { w =>
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L)
      w.stageRows += Stage(i.stageId, firstLine(i.name), wall, i.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record { w =>
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shRead += m.shuffleReadMetrics.totalBytesRead
        w.shWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.diskBytesSpilled
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        record { w =>
          import scala.jdk.CollectionConverters._
          w.triggers += Trigger(e.progress.batchId,
            e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
    }
  }

  /** Attach the spine to `spark`'s SparkContext and streams, once: a second
    * call returns the spine already installed. */
  def install(spark: SparkSession): Spine = synchronized {
    val sc = spark.sparkContext
    val spine = ContextShim.listeners[Spine](sc).headOption.getOrElse {
      val s = new Spine
      sc.addSparkListener(s)
      s
    }
    if (!spark.streams.listListeners().contains(spine.streams))
      spark.streams.addListener(spine.streams)
    spine
  }

  // a drain that outlasts this is a wedged bus, not a slow one
  private val DrainTimeoutMs = 60000L

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` and return its result with its wall time and the Spark
    * work it caused. The bus drains run before and after `body`, never
    * inside its timed region. Not reentrant; work that other threads run
    * meanwhile is counted too. */
  def measure[A](spark: SparkSession)(body: => A): (A, Run) = {
    val spine = install(spark)
    val sc = spark.sparkContext
    ContextShim.drainListenerBus(sc, DrainTimeoutMs)
    val w = new Window
    spine.window = w
    try {
      val c0 = compiles()
      val t0 = System.nanoTime()
      val r = body
      val seconds = (System.nanoTime() - t0) / 1e9
      val c = compiles() - c0
      ContextShim.drainListenerBus(sc, DrainTimeoutMs)
      (r, w.synchronized(w.run(seconds, c)))
    } finally spine.window = null
  }

  /** Deterministic release between measured runs (untimed): operators that
    * localCheckpoint (dedup candidates, CC rounds) leave RDD blocks pinned
    * until the ContextCleaner GC-detects them, which would otherwise charge
    * block-manager pressure and cleanup to whichever run comes next. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    ContextShim.drainCleaner(spark.sparkContext)
  }
}
