package graft

import graft.obs.Obs
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TEMPORARY probe: per-stage task counts + durations for the explode plans. */
class BloomProbeSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = GraftSession.builder("local[32]", shufflePartitions = 32).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def timed[T](label: String)(body: => T): T = {
    val (r, run) = Obs.measure(spark)(body)
    println(f"[probe] $label%-32s ${run.seconds}%.2f s  stages=" +
      run.stageRows.map(s => s"${s.name.split(" ").head}(tasks=${s.tasks},${s.wallMs}ms)")
        .mkString(" "))
    r
  }

  test("stage anatomy") {
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val isEval = col("doc_id") % 10 === 0
    val base = docs.where(col("text").isNotNull)
      .select(col("doc_id").as("id"), col("text").as("__text"), isEval.as("__is_eval"))
    // warm
    TextAnalysis.contamination(docs, "text", "doc_id", isEval, 3).count()
    base.select(explode(Dedup.wordShingles(col("__text"), 3)).as("gram")).count()

    timed("A bare explode count")(
      base.select(explode(Dedup.wordShingles(col("__text"), 3)).as("gram")).count())
    timed("B exact contamination e2e")(
      TextAnalysis.contamination(docs, "text", "doc_id", isEval, 3).count())
  }
}
