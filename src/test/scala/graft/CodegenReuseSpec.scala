package graft

import graft.operators.{CorpusPipeline, Dedup, Similarity}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row

/** The corpus-dedup flow compiles its generated classes once per JVM: a
  * second pass over the same inputs hits Spark's codegen cache for every
  * class (GraftSession sizes the cache past the flow's working set, which
  * is larger than Spark's default of 100 entries).
  *
  * The passes run with AQE off. AQE re-plans as shuffle stages finish, so
  * with it on the same flow over the same data now and then yields a stage
  * fused with a broadcast join where an earlier pass had none: a new class,
  * compiled once, in whichever pass first meets that plan. Static plans
  * make the second pass's compile count exactly the evictions. */
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

    val aqe = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    val ((first, out1), (second, out2)) =
      try (pass(), pass()) finally {
        spark.conf.set(aqe, prevAqe)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    assert(out1.forall(_.nonEmpty), "every operator returns rows")
    assert(out2 == out1)
    assert(second == 0,
      s"second pass compiled $second generated classes (first pass: $first); " +
        s"codegen cache holds ${spark.conf.get("spark.sql.codegen.cache.maxEntries")}")
  }
}
