package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's single closed-loop client: every call into the program
  * goes through [[commit]] (a write to a versioned table) or [[call]]
  * (anything else), which time it with a wall-clock timer and, when a
  * [[Tracer]] is present, record it as a span of the named layer.
  *
  * A call that throws, or whose output a later check rejects ([[check]]),
  * counts as failed and its latency is dropped from the samples. */
final class Client(val spark: SparkSession, val tracer: Option[Tracer]) {

  var round = 0
  var attempted = 0L
  val samples = mutable.ArrayBuffer[Client.Sample]()
  private val wrongOps = mutable.Set[Long]()
  val problems = mutable.ArrayBuffer[String]()
  private var nextOp = 0L
  /** Op id and span id of the most recent call. */
  var lastOp = 0L
  var lastSpan = 0L

  def traced: Boolean = tracer.isDefined

  def commit[A](layer: String, name: String)(body: => A): A = timed("commit", layer, name)(body)
  def call[A](layer: String, name: String)(body: => A): A = timed("call", layer, name)(body)

  private def timed[A](kind: String, layer: String, name: String)(body: => A): A = {
    val op = nextOp; nextOp += 1
    lastOp = op
    attempted += 1
    val span = tracer.map(_.open(spark, layer, name, round))
    val t0 = System.nanoTime()
    try {
      val r = body
      samples += Client.Sample(op, kind, name, (System.nanoTime() - t0) / 1e6)
      r
    } catch {
      case e: Throwable =>
        wrongOps += op
        problems += s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        throw e
    } finally span.foreach(s => lastSpan =
      tracer.get.close(spark, s, if (kind == "commit") Map("commit" -> 1.0) else Map.empty).id)
  }

  /** Attach counters to the most recent call's span (traced runs only). */
  def note(counters: (String, Double)*): Unit =
    tracer.foreach(_.annotate(lastSpan, counters.toMap))

  /** Record a wrong answer of operation `op` unless `ok`. */
  def check(op: Long, ok: Boolean, what: => String): Unit =
    if (!ok) { wrongOps += op; problems += what.take(400) }

  def failed: Long = wrongOps.size.toLong

  def valid(kind: String): Seq[Double] =
    samples.filter(s => s.kind == kind && !wrongOps.contains(s.op)).map(_.ms).toSeq

  /** Valid latencies of `kind`, grouped by call name. */
  def validByName(kind: String): Map[String, Seq[Double]] =
    samples.filter(s => s.kind == kind && !wrongOps.contains(s.op)).toSeq
      .groupBy(_.name).map { case (n, ss) => n -> ss.map(_.ms) }
}

object Client {
  final case class Sample(op: Long, kind: String, name: String, ms: Double)

  /** Run independent warm-up tasks on threads of their own, each with its
    * own client, and collect their problems into `c`. Only the untimed
    * warm-up uses this: it pays the cold start (class loading, code
    * generation, JIT) of disjoint code paths side by side. */
  def concurrently(c: Client, tasks: Seq[Client => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            val own = new Client(c.spark, None)
            try t(own) catch { case e: Exception => own.problems += e.toString }
            own.problems.toSeq
          }
        })
      }
      futures.foreach(f => c.problems ++= f.get())
    } finally pool.shutdown()
  }
}

/** A benchmark workload. One instance per set-up: [[setup]] generates the
  * inputs from the seed; [[warmUpRound]] runs untimed on small inputs;
  * [[round]] is one timed round and returns the work items it completed. */
trait Workload {
  def setup(c: Client, dir: String, seed: Long): Unit
  def digest: String
  def warmUpRound(c: Client): Unit
  def round(c: Client): Long
  /** Typical wall time of one round on a 4-core host; it sets how many
    * rounds a run of a given length does. */
  def nominalRoundS: Double
  /** Untimed checks of the round just run. */
  def verify(c: Client): Unit = ()
  /** Untimed checks after the last round. */
  def finish(c: Client): Unit = ()
  /** The versioned tables whose space amplification the run reports. */
  def tableDirs: Seq[String]
  /** Run-level counts for the per-layer dedup ratios: planted copies
    * (`planted`) and those dropped (`planted_dropped`), all drops (`drops`)
    * and the planted ones among them (`drops_planted`). */
  def counters: Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("image_pipeline", "corpus_dedup", "table_mix")

  def apply(name: String): Workload = name match {
    case "image_pipeline" => new ImagePipelineWorkload
    case "corpus_dedup"   => new CorpusDedupWorkload
    case "table_mix"      => new TableMixWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Bytes of the regular files under `dir`, recursively. */
  def duBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
          .map(p => java.nio.file.Files.size(p)).sum
      } finally walk.close()
    }
  }

  /** Space amplification of versioned tables: all bytes under their
    * directories ÷ bytes of their latest versions' data files. */
  def spaceAmp(dirs: Seq[String]): Double = {
    val live = dirs.map { dir =>
      val v = graft.tables.VersionedTable.latestVersion(dir).get
      graft.tables.VersionedTable.filesOf(dir, v)
        .map(f => new java.io.File(absolute(dir, f)).length()).sum
    }.sum
    dirs.map(duBytes).sum.toDouble / math.max(1L, live)
  }

  def absolute(dir: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains(":")) new org.apache.hadoop.fs.Path(rel).toUri.getPath
    else s"$dir/$rel"
}
