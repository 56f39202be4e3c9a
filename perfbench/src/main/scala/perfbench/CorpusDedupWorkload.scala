package perfbench

import graft.operators.{CorpusPipeline, Dedup, Similarity}
import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, Row}

/** corpus_dedup: the batch LLM-data preparation over a seeded, amplified
  * corpus. One round runs `CorpusPipeline.prepare`, `Dedup.jaccardJoinExact`
  * (t = 0.8 over word bigrams) and `Similarity.semanticDedup` (cosine ≥
  * 0.97 within IVF cells) over the embeddings, then
  * one `commitAppend` of the prepared corpus into a fresh table. Operator
  * results are collected inside their call; the checks afterwards compare
  * them with answers the benchmark computes by brute force. */
final class CorpusDedupWorkload extends Workload {

  val Seeds = 400; val Factor = 3; val Vectors = 800
  val Dim = 64; val Centres = 16
  val MinJaccard = 0.8; val CosThreshold = 0.97

  private final class Inputs(val docsPath: String, val embPath: String,
      val docs: Seq[Gen.Doc], val centres: Array[Array[Float]], val vecs: Seq[Gen.Vec])

  private var dir = ""
  private var seed = 0L
  private var main: Inputs = _
  private var warm: Inputs = _
  private var dg = ""
  private var tables = 0
  private var lastTable = ""
  private var result: Option[(DataFrame, Array[Row], Array[Row], Long)] = None
  private var recall = (0.0, 0.0) // (planted dropped, planted)
  private var precision = (0.0, 0.0) // (planted among drops, drops)

  def digest: String = dg

  private def write(c: Client, at: String, docs: Seq[Gen.Doc], vecs: Seq[Gen.Vec]): (String, String) = {
    val spark = c.spark
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text").repartition(cores)
      .write.parquet(s"$at/documents.parquet")
    vecs.map(v => (v.id, v.v)).toDF("vec_id", "embedding").repartition(cores)
      .write.parquet(s"$at/embeddings.parquet")
    (s"$at/documents.parquet", s"$at/embeddings.parquet")
  }

  private def inputs(c: Client, at: String, seed: Long, seeds: Int, factor: Int, n: Int): Inputs = {
    val docs = Gen.documents(seed, seeds, factor, exactRate = 0.03, nearRate = 0.03)
    val (cs, vecs) = Gen.embeddings(seed, n, Dim, Centres, nearRate = 0.04)
    val (dp, ep) = write(c, at, docs, vecs)
    new Inputs(dp, ep, docs, cs, vecs)
  }

  def setup(c: Client, dir: String, seed: Long): Unit = {
    this.dir = dir; this.seed = seed
    main = inputs(c, s"$dir/main", seed, Seeds, Factor, Vectors)
    warm = inputs(c, s"$dir/warm", seed + 1, 60, 2, 200)
    val d = new Gen.Digest
    main.docs.foreach(x => d.add(x.id).add(x.text))
    main.vecs.foreach(x => d.add(x.id).add(x.v.mkString(",")))
    dg = d.hex
  }

  private def prepare(c: Client, in: Inputs): DataFrame = {
    val prepared = c.call("operators", "CorpusPipeline.prepare") {
      CorpusPipeline.prepare(c.spark.read.parquet(in.docsPath), "text", "doc_id").localCheckpoint(true)
    }
    c.note("docs" -> in.docs.size.toDouble)
    prepared
  }

  private def jaccard(c: Client, in: Inputs): Array[Row] = {
    val pairs = c.call("operators", "Dedup.jaccardJoinExact") {
      Dedup.jaccardJoinExact(c.spark.read.parquet(in.docsPath), "text", "doc_id", MinJaccard,
        shingleN = 2).collect()
    }
    c.note("pairs" -> pairs.length.toDouble)
    pairs
  }

  private def semantic(c: Client, in: Inputs): Array[Row] =
    c.call("operators", "Similarity.semanticDedup") {
      Similarity.semanticDedup(c.spark.read.parquet(in.embPath), "embedding", "vec_id",
        in.centres, CosThreshold).collect()
    }

  private def commit(c: Client, prepared: DataFrame, table: String): Unit =
    c.commit("tables", "VersionedTable.commitAppend") {
      VersionedTable.commitAppend(c.spark, prepared, table)
    }

  def warmUpRound(c: Client): Unit = Client.concurrently(c, Seq(
    cc => commit(cc, prepare(cc, warm), s"$dir/corpus_warm"),
    cc => jaccard(cc, warm),
    cc => semantic(cc, warm)))

  def nominalRoundS: Double = 5.5

  def round(c: Client): Long = {
    val prepared = prepare(c, main)
    val pairs = jaccard(c, main)
    val sem = semantic(c, main)
    lastTable = s"$dir/corpus_$tables"; tables += 1
    commit(c, prepared, lastTable)
    result = Some((prepared, pairs, sem, c.lastOp))
    main.docs.size.toLong
  }

  // ------------------------------------------------------------- checks

  private def shingles(text: String): Set[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    (0 to math.max(0, toks.length - 2)).map(j => toks.slice(j, j + 2).mkString(" ")).toSet
  }

  /** Doc ids in a seeded sample, and every pair touching them with word-
    * bigram Jaccard ≥ t by the operator's integer rule, with its rounded
    * value. */
  private lazy val jaccardTruth: (Set[Long], Map[(Long, Long), Double]) = {
    val sets = main.docs.map(d => d.id -> shingles(d.text))
    val rnd = new java.util.SplittableRandom(seed ^ 0x5A3B1EL)
    val sample = Seq.fill(40)(sets(rnd.nextInt(sets.size))._1).toSet
    val (num, den) = (math.round(MinJaccard * 1000000), 1000000L)
    val hits = for {
      (a, sa) <- sets if sample.contains(a)
      (b, sb) <- sets if b != a
      i = sa.count(sb.contains).toLong
      u = sa.size + sb.size - i
      if u > 0 && i * den >= u * num
    } yield (math.min(a, b), math.max(a, b)) -> round6(i.toDouble / u)
    (sample, hits.toMap)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Semantic-dedup survivors by the operator's rule: cell = argmax cosine
    * to the centres (first on ties); a vector drops iff a lower-id vector of
    * its cell has rounded cosine ≥ the threshold. */
  private lazy val semTruth: Set[(Long, Int)] = {
    val cell = main.vecs.map { v =>
      val sims = main.centres.map(cos(v.v, _)); v.id -> sims.indexOf(sims.max) }.toMap
    main.vecs.groupBy(v => cell(v.id)).toSeq.flatMap { case (cl, vs) =>
      val sorted = vs.sortBy(_.id)
      sorted.zipWithIndex.filterNot { case (v, i) =>
        sorted.take(i).exists(o => round6(cos(v.v, o.v)) >= CosThreshold) }
        .map { case (v, _) => (v.id, cl) }
    }.toSet
  }

  override def verify(c: Client): Unit = result.foreach { case (prepared, pairs, sem, op) =>
    result = None
    val docs = main.docs
    val kept = prepared.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val english = docs.filter(_.kind != "foreign")
    val planted = english.filter(d => d.kind == "exact" || d.kind == "near")
    val drops = english.map(_.id).filterNot(kept)
    c.check(op, docs.filter(_.kind == "foreign").forall(d => !kept(d.id)),
      "prepare kept a document the language gate must drop")
    c.check(op, planted.filter(_.kind == "exact").forall(d => !kept(d.id)),
      "prepare kept a planted exact copy")
    c.check(op, english.filter(_.kind == "base").forall(d => kept(d.id)),
      s"prepare dropped original documents: ${english.filter(d => d.kind == "base" && !kept(d.id)).map(_.id).take(10)}")

    // Jaccard join: every planted copy pairs with its source; on the seeded
    // sample the pair set and values equal the brute-force answer
    val got = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    c.check(op, planted.forall(d => got.contains((math.min(d.of, d.id), math.max(d.of, d.id)))),
      "jaccardJoinExact missed a planted copy's pair")
    val (sample, truth) = jaccardTruth
    val gotSample = got.filter { case ((a, b), _) => sample(a) || sample(b) }
    c.check(op, gotSample == truth,
      s"jaccardJoinExact differs from brute force on the sample: ${gotSample.size} vs ${truth.size} pairs")

    val semGot = sem.map(r => (r.getLong(0), r.getInt(1))).toSet
    c.check(op, semGot == semTruth,
      s"semanticDedup survivors differ from brute force: ${semGot.size} vs ${semTruth.size}")
    val vDropped = main.vecs.map(_.id).toSet -- semGot.map(_._1)
    val vPlanted = main.vecs.filter(_.kind == "near").map(_.id).toSet

    val plantedIds = planted.map(_.id).toSet
    recall = (recall._1 + plantedIds.count(id => !kept(id)) + vPlanted.count(vDropped),
      recall._2 + plantedIds.size + vPlanted.size)
    precision = (precision._1 + drops.count(plantedIds) + vDropped.count(vPlanted),
      precision._2 + drops.size + vDropped.size)
  }

  def tableDirs: Seq[String] = Seq(lastTable)

  def counters: Map[String, Double] = Map(
    "planted_dropped" -> recall._1, "planted" -> recall._2,
    "drops_planted" -> precision._1, "drops" -> precision._2)
}
