package graft

import graft.image.{ImageFixtures, ImagePipeline, LinearScoringModel}
import graft.operators.{CorpusPipeline, Dedup, Similarity}
import graft.streaming.StreamingInference
import graft.tables.VersionedTable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The engine's flows compile their generated classes once per JVM: a
  * second pass over the same inputs hits Spark's codegen cache for every
  * class. Two things make that hold. GraftSession sizes the cache past the
  * corpus-dedup working set, which is larger than Spark's default of 100
  * entries. And it turns artifact isolation off, so a stream run, which
  * Spark executes in a cloned session of its own, compiles under the same
  * class loader as every earlier run and finds their classes.
  *
  * The passes run with AQE off. AQE re-plans as shuffle stages finish, so
  * with it on the same flow over the same data now and then yields a stage
  * fused with a broadcast join where an earlier pass had none: a new class,
  * compiled once, in whichever pass first meets that plan. Static plans
  * make a later pass's compile count exactly the cache misses. */
class CodegenReuseSpec extends SparkSpec {

  private val Stops = Array("the", "and", "of", "to", "in", "is", "that", "it", "for", "with")

  /** Seeded English documents plus planted byte-identical and
    * one-token-edit copies. */
  private def documents(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Array.tabulate(600)(i => s"w${Integer.toString(i * 7919, 36)}")
    val base = (0 until n).map { i =>
      val toks = Array.fill(40 + rnd.nextInt(30)) {
        if (rnd.nextDouble() < 0.3) Stops(rnd.nextInt(Stops.length)) else vocab(rnd.nextInt(vocab.length))
      }
      toks(0) = Stops(0)
      i.toLong -> toks.mkString(" ")
    }
    val exact = (0 until n / 10).map(j => (n + j).toLong -> base(rnd.nextInt(n))._2)
    val near = (0 until n / 10).map { j =>
      val toks = base(rnd.nextInt(n))._2.split(" ")
      toks(1 + rnd.nextInt(toks.length - 1)) = "edited"
      (n + n / 10 + j).toLong -> toks.mkString(" ")
    }
    base ++ exact ++ near
  }

  /** Unit vectors around `centres` seeded centres, plus near copies. */
  private def embeddings(seed: Long, n: Int, dim: Int, centres: Int)
      : (Array[Array[Float]], Seq[(Long, Array[Float])]) = {
    val rnd = new java.util.SplittableRandom(seed)
    def unit(a: Array[Double]) = { val m = math.sqrt(a.map(x => x * x).sum); a.map(x => (x / m).toFloat) }
    def gauss() = rnd.nextDouble() * 2 - 1
    val cs = Array.fill(centres)(unit(Array.fill(dim)(gauss())))
    val origs = (0 until n).map { i =>
      val c = cs(rnd.nextInt(centres))
      i.toLong -> unit(Array.tabulate(dim)(d => c(d) + 0.3 * gauss()))
    }
    val near = (0 until n / 20).map { j =>
      val src = origs(rnd.nextInt(n))._2
      (n + j).toLong -> unit(Array.tabulate(dim)(d => src(d) + 0.005 * gauss()))
    }
    (cs, origs ++ near)
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `body` with AQE off (see the class doc), the directory removed after. */
  private def staticPlans[A](dir: String)(body: => A): A = {
    val aqe = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try body finally {
      spark.conf.set(aqe, prevAqe)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a repeated corpus-dedup pass compiles no generated classes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen_reuse").toString
    documents(7L, 200).toDF("doc_id", "text").repartition(4).write.parquet(s"$dir/docs")
    val (centres, vecs) = embeddings(7L, 200, 16, 4)
    vecs.toDF("vec_id", "embedding").repartition(4).write.parquet(s"$dir/emb")

    def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted
    def pass(): (Long, Seq[Seq[String]]) = {
      val c0 = compiles()
      val docs = spark.read.parquet(s"$dir/docs")
      val prepared = CorpusPipeline.prepare(docs, "text", "doc_id").localCheckpoint(true)
      val pairs = Dedup.jaccardJoinExact(docs, "text", "doc_id", 0.8, shingleN = 2).collect()
      val survivors = Similarity.semanticDedup(spark.read.parquet(s"$dir/emb"), "embedding",
        "vec_id", centres, 0.97).collect()
      val out = Seq(sorted(prepared.collect()), sorted(pairs), sorted(survivors))
      (compiles() - c0, out)
    }

    val ((first, out1), (second, out2)) = staticPlans(dir)((pass(), pass()))
    assert(out1.forall(_.nonEmpty), "every operator returns rows")
    assert(out2 == out1)
    assert(second == 0,
      s"second pass compiled $second generated classes (first pass: $first); " +
        s"codegen cache holds ${spark.conf.get("spark.sql.codegen.cache.maxEntries")}")
  }

  test("a re-run stream compiles no generated classes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen_stream").toString
    val images = ImagePipeline.readBinaryImages(spark, ImageFixtures.generate(s"$dir/fixture"))
    images.select(col("path").as("img_id"), col("content"))
      .coalesce(1).write.parquet(s"$dir/src/f1")
    val srcSchema = spark.read.parquet(s"$dir/src/f1").schema
    VersionedTable.commitAppend(spark, images.select("path", "content").coalesce(1), s"$dir/table")
    val model = new LinearScoringModel(ImageFixtures.Classes)

    // each run starts from a fresh sink and checkpoint over the same input,
    // so every run is a new stream query planning the same micro-batch
    def dedupRun(i: Int): Seq[String] =
      StreamingInference.streamImageDedup(spark, s"$dir/src/*", srcSchema, "content", "img_id",
        s"$dir/dedup_$i", s"$dir/dedup_ckpt_$i")
        .select("img_id").collect().map(_.getString(0)).toSeq.sorted
    def scoreRun(i: Int): Seq[String] = {
      ImagePipeline.batchInference(spark.readStream.format("graft")
          .option("startingVersion", "0").load(s"$dir/table"), model)
        .writeStream.format("parquet")
        .option("path", s"$dir/scored_$i").option("checkpointLocation", s"$dir/scored_ckpt_$i")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      spark.read.parquet(s"$dir/scored_$i").collect().map(_.toString).toSeq.sorted
    }
    def counted[A](run: => A): (Long, A) = { val c0 = compiles(); val a = run; (compiles() - c0, a) }

    val (dedup, scored) = staticPlans(dir)(
      ((1 to 4).map(i => counted(dedupRun(i))), (1 to 4).map(i => counted(scoreRun(i)))))
    val streams = Seq("streamImageDedup" -> dedup, "readStream.graft.batchInference" -> scored)
    for ((name, runs) <- streams) {
      assert(runs.head._2.nonEmpty, s"$name returned no rows")
      assert(runs.forall(_._2 == runs.head._2), s"$name runs disagree")
    }
    val perRun = streams.map { case (name, runs) => name -> runs.map(_._1) }
    val counts = "generated classes compiled in runs 1-4: " +
      perRun.map { case (name, n) => s"$name ${n.mkString(", ")}" }.mkString("; ")
    info(counts)
    assert(perRun.forall(_._2.tail.forall(_ == 0L)),
      s"$counts; artifact isolation is ${spark.conf.get("spark.sql.artifact.isolation.enabled")}")
  }
}
