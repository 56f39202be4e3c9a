package perfbench

import java.nio.file.{Files, Paths}

import graft.image.{ImagePipeline, LinearScoringModel}
import graft.streaming.StreamingInference
import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

/** image_pipeline: the paper's ingest → table → streaming-inference flow,
  * wave by wave. Each wave of seeded JPEGs under
  * `flower_photos/label=<class>/` goes through `ImagePipeline.ingest` and
  * one `commitAppend`; `readStream.format("graft")` paced one version per
  * trigger then feeds the new version through `ImagePipeline.batchInference`
  * into a parquet sink, and `StreamingInference.streamImageDedup` takes the
  * wave's file. Both streams run to completion per wave and resume from
  * their checkpoints, one trigger each. Later waves carry planted
  * brightness-shifted and byte-identical copies of earlier originals. */
final class ImagePipelineWorkload extends Workload {

  val Waves = 2; val PerWave = 8; val Copies = 3

  private final class Inputs(val root: String, val imgs: Seq[Gen.Img]) {
    def wave(w: Int): String = f"$root/wave_$w%02d"
    def waveFile(w: Int): java.nio.file.Path = Paths.get(root, "wave_files", f"wave_$w%02d.parquet")
    val waves: Int = imgs.map(_.wave).max + 1
  }

  private val srcSchema = StructType(Seq(
    StructField("img_id", StringType), StructField("content", BinaryType)))
  private val model = new LinearScoringModel(Gen.Classes, 42L)

  private var dir = ""
  private var main: Inputs = _
  private var warm: Inputs = _
  private var dg = ""
  private var rounds = 0
  private var lastTable = ""
  private var pending: Option[(String, String, DataFrame, Long)] = None
  private var recall = (0.0, 0.0)
  private var precision = (0.0, 0.0)

  def digest: String = dg

  private def write(c: Client, root: String, imgs: Seq[Gen.Img]): Inputs = {
    val in = new Inputs(root, imgs)
    imgs.foreach { m =>
      val p = Paths.get(in.wave(m.wave), "flower_photos", s"label=${m.cls}", s"${m.id}.jpg")
      Files.createDirectories(p.getParent)
      Files.write(p, m.bytes)
    }
    // one parquet file per wave for the dedup stream
    val spark = c.spark
    Files.createDirectories(in.waveFile(0).getParent)
    imgs.groupBy(_.wave).toSeq.sortBy(_._1).foreach { case (w, ms) =>
      val tmp = f"$root/tmp_$w%02d"
      spark.createDataFrame(spark.sparkContext.parallelize(ms.map(m => Row(m.id, m.bytes)), 1), srcSchema)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, in.waveFile(w))
    }
    in
  }

  def setup(c: Client, dir: String, seed: Long): Unit = {
    this.dir = dir
    main = write(c, s"$dir/main", Gen.images(seed, Waves, PerWave, Copies))
    warm = write(c, s"$dir/warm", Gen.images(seed + 1, 2, 3, 2))
    val d = new Gen.Digest
    main.imgs.foreach(m => d.add(m.id).add(m.cls).add(m.kind).add(m.of).add(m.bytes))
    dg = d.hex
  }

  /** Wave `w` lands: ingest it, commit it to `out`/table, and let the
    * scoring stream (restarted from its checkpoint) take the new version. */
  private def ingestWave(c: Client, in: Inputs, out: String, w: Int): Unit = {
    val spark = c.spark
    val table = s"$out/table"
    val ingested = c.call("image", "ImagePipeline.ingest")(ImagePipeline.ingest(spark, in.wave(w)))
    c.note("images" -> in.imgs.count(_.wave == w).toDouble)
    c.commit("tables", "VersionedTable.commitAppend")(VersionedTable.commitAppend(spark, ingested, table))
    c.call("streaming", "readStream.graft.batchInference") {
      val q = ImagePipeline.batchInference(
          spark.readStream.format("graft").option("startingVersion", "0")
            .option("maxVersionsPerTrigger", "1").load(table), model)
        .writeStream.format("parquet")
        .option("path", s"$out/scored").option("checkpointLocation", s"$out/scored_ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      c.tracer.foreach(_.bindQuery(q.runId.toString,
        spark.sparkContext.getLocalProperty(Trace.SpanKey).toLong, Some("sources"), Some("image")))
      q.awaitTermination()
    }
  }

  /** Wave `w`'s file lands in the dedup stream's source; the stream
    * (restarted from its checkpoint) dedups it against all earlier waves.
    * Returns the survivors so far. */
  private def dedupWave(c: Client, in: Inputs, out: String, w: Int): DataFrame = {
    val src = Paths.get(out, "dedup_src")
    Files.createDirectories(src)
    Files.copy(in.waveFile(w), src.resolve(in.waveFile(w).getFileName))
    c.call("streaming", "StreamingInference.streamImageDedup") {
      StreamingInference.streamImageDedup(c.spark, src.toString, srcSchema, "content", "img_id",
        s"$out/dedup", s"$out/dedup_ckpt")
    }
  }

  def warmUpRound(c: Client): Unit = Client.concurrently(c, Seq(
    cc => (0 until warm.waves).foreach(ingestWave(cc, warm, s"$dir/out_warm", _)),
    cc => (0 until warm.waves).foreach(dedupWave(cc, warm, s"$dir/out_warm", _))))

  def nominalRoundS: Double = 5.5

  def round(c: Client): Long = {
    val out = s"$dir/out_$rounds"; rounds += 1
    val survivors = (0 until main.waves).map { w =>
      ingestWave(c, main, out, w)
      dedupWave(c, main, out, w)
    }.last
    lastTable = s"$out/table"
    pending = Some((lastTable, out, survivors, c.lastOp))
    main.imgs.size.toLong
  }

  override def verify(c: Client): Unit = pending.foreach {
    case (table, out, survivors, op) =>
      pending = None
      val spark = c.spark
      val in = main
      val n = in.imgs.size
      val stored = VersionedTable.read(spark, table)
      // every image stored once, each with a grayscale payload of its size
      val gray = stored.select(col("path"), col("size"), col("grayscale_image")).collect()
      c.check(op, gray.length == n && gray.forall(r => !r.isNullAt(2)),
        s"table holds ${gray.length} images (want $n), some without grayscale payload")
      gray.take(3).foreach { r =>
        val png = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
        val sz = r.getStruct(1)
        c.check(op, png != null && png.getWidth == sz.getInt(0) && png.getHeight == sz.getInt(1),
          s"grayscale payload of ${r.getString(0)} does not match the image size")
      }
      // streaming inference over the versions = batch inference, as multisets
      def ms(df: DataFrame) = df.select("origin", "prediction", "probabilities").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).groupBy(identity).map { case (k, v) => k -> v.length }
      val streamed = ms(spark.read.parquet(s"$out/scored"))
      c.check(op, streamed == ms(ImagePipeline.batchInference(stored, model)) && streamed.values.sum == n,
        s"stream inference (${streamed.values.sum} rows) differs from batch inference over $n images")
      // dedup: originals survive, byte-identical copies drop
      val kept = survivors.select("img_id").collect().map(_.getString(0)).toSet
      c.check(op, in.imgs.filter(_.kind == "orig").forall(m => kept(m.id)),
        "streamImageDedup dropped an original")
      c.check(op, in.imgs.filter(_.kind == "exact").forall(m => !kept(m.id)),
        "streamImageDedup kept a byte-identical copy")
      val planted = in.imgs.filter(_.kind != "orig").map(_.id).toSet
      val drops = in.imgs.map(_.id).filterNot(kept)
      recall = (recall._1 + planted.count(id => !kept(id)), recall._2 + planted.size)
      precision = (precision._1 + drops.count(planted), precision._2 + drops.size)
  }

  def tableDirs: Seq[String] = Seq(lastTable)

  def counters: Map[String, Double] = Map(
    "planted_dropped" -> recall._1, "planted" -> recall._2,
    "drops_planted" -> precision._1, "drops" -> precision._2)
}
