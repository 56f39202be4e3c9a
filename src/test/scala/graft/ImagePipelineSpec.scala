package graft

import graft.image.{ImageFixtures, ImagePipeline, ImageUdfs, Kernels, LinearScoringModel}
import graft.obs.Obs
import java.nio.file.Files
import org.apache.spark.sql.functions._

class ImagePipelineSpec extends SparkSpec {

  private lazy val fixtureDir: String =
    ImageFixtures.generate(Files.createTempDirectory("graft_img_spec").toString)

  test("binaryFile scan excludes non-jpg via pathGlobFilter (S2/P8)") {
    val df = ImagePipeline.readBinaryImages(spark, fixtureDir)
    assert(df.count() == ImageFixtures.Classes.size * 6)
    assert(df.where(col("path").endsWith(".txt")).count() == 0)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
  }

  test("image source yields the nested image struct (S1)") {
    val df = ImagePipeline.readImageSource(spark, fixtureDir)
    val f  = df.schema("image").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(f.fieldNames.toSet == Set("origin", "height", "width", "nChannels", "mode", "data"))
    assert(df.count() > 0)
  }

  test("partition-dir scan prunes to one label (S3)") {
    val one = spark.read.format("binaryFile").option("pathGlobFilter", "*.jpg")
      .load(s"$fixtureDir/label=roses")
    assert(one.count() == 6)
  }

  test("ingest: labels, lex-rank indices, sizes, grayscale attached end-to-end") {
    val out = ImagePipeline.ingest(spark, fixtureDir).cache()
    assert(out.count() == ImageFixtures.Classes.size * 6)
    // A4: label_index = 0-based lexicographic rank
    val idx = out.select("label", "label_index").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx == ImageFixtures.Classes.sorted.zipWithIndex.map { case (c, i) => c -> i.toLong }.toMap)
    // I1: size matches actual decode
    val row = out.where(col("path").endsWith("label=daisy/img_000.jpg"))
      .select("size.width", "size.height", "content", "grayscale_image", "grayscale_format").head()
    val (w, h) = Kernels.size(row.getAs[Array[Byte]]("content"))
    assert(row.getInt(0) == w && row.getInt(1) == h)
    // I3 via grouped-map + J1 re-attach: grayscale decodes to same dims
    val gray = Kernels.decode(row.getAs[Array[Byte]]("grayscale_image"))
    assert(gray.getWidth == w && gray.getHeight == h)
    assert(row.getString(4) == "png")
    out.unpersist()
  }

  test("ingest stages to parquet and leaves no blocks pinned in the block manager") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stage  = Files.createTempDirectory("graft_stage").toString + "/ingested"
    val out    = ImagePipeline.ingest(spark, fixtureDir, stage)
    // result is backed by the staged files, not block-manager checkpoint state
    assert(out.count() == ImageFixtures.Classes.size * 6)
    assert(spark.read.parquet(stage).count() == out.count())
    // the scan cache (and any checkpoint blocks — there are none anymore)
    // must be released before ingest returns: an executor loss must not be
    // able to invalidate the returned frame, and 100 TB of payload must not
    // sit pinned in executor storage
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"ingest leaked persistent RDDs: $leaked")
  }

  test("ingest reads the stage back with the schema parquet inference gives") {
    val stage = Files.createTempDirectory("graft_stage_schema").toString + "/ingested"
    val out   = ImagePipeline.ingest(spark, fixtureDir, stage)
    val inferred = spark.read.parquet(stage).schema
    assert(out.schema == inferred,
      s"read-back schema ${out.schema.treeString} differs from inferred ${inferred.treeString}")
    assert(out.count() == ImageFixtures.Classes.size * 6)
  }

  test("ingest: bounded Spark jobs, no schema-inference job on the read-back") {
    ImagePipeline.ingest(spark, fixtureDir) // warm
    val jobs = Obs.measure(spark)(ImagePipeline.ingest(spark, fixtureDir))._2.jobs
    // budget: the scan/label-index and grouped-map stages, the join and the
    // staging write, as AQE submits them; the read-back takes the written
    // frame's schema, so parquet inference adds no tenth job
    assert(jobs <= 9, s"ingest ran $jobs Spark jobs (budget 9)")
  }

  test("spark.graft.stageRoot routes default staging under the configured root") {
    val root = Files.createTempDirectory("graft_stage_root").toString
    spark.conf.set("spark.graft.stageRoot", root)
    try {
      val out = ImagePipeline.ingest(spark, fixtureDir)
      assert(out.count() == ImageFixtures.Classes.size * 6)
      val staged = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith(".graft_ingest_stage_"))
      assert(staged.nonEmpty, s"no staging dir created under $root")
    } finally spark.conf.unset("spark.graft.stageRoot")
  }

  test("a second ingest does not invalidate a previously returned frame") {
    val a = ImagePipeline.ingest(spark, fixtureDir)
    ImagePipeline.ingest(spark, fixtureDir) // stages to its own dir
    assert(a.count() == ImageFixtures.Classes.size * 6) // first frame still readable
  }

  test("trainingPrep writes split parquet caches with uncompressed codec (S11/S12)") {
    val cache = Files.createTempDirectory("graft_cache").toString
    val (train, va) = ImagePipeline.trainingPrep(
      ImagePipeline.ingest(spark, fixtureDir), cache, limit = 20)
    assert(train.count() + va.count() == 20)
    assert(train.columns.toSet == Set("content", "label_index"))
    // codec restored after the bracketed write
    assert(spark.conf.get("spark.sql.parquet.compression.codec") != "uncompressed")
  }

  test("batchInference produces (origin, prediction, probabilities) (I6)") {
    val model = new LinearScoringModel(ImageFixtures.Classes.toList)
    val out = ImagePipeline.batchInference(
      ImagePipeline.readBinaryImages(spark, fixtureDir).limit(5), model)
    val rows = out.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(ImageFixtures.Classes.contains(r.getString(1)))
      assert(r.getString(2).startsWith("{"))
    }
  }

  test("ScoringModel save/load round-trips; batchInference scores from a loaded ref") {
    import graft.image.ScoringModel
    val model = new LinearScoringModel(List("daisy", "weird/class name+sym", "tulips"), seed = 7L)
    val path  = Files.createTempDirectory("graft_model").toString + "/model.graft"
    ScoringModel.save(model, path)
    val loaded = ScoringModel.load(path)
    assert(loaded.classes == model.classes && loaded.seed == model.seed)
    // identical predictions on a probe vector (weights re-derive from seed)
    val probe = Array.tabulate(48)(i => (i % 7 - 3) / 3.0f)
    assert(loaded.predict(probe).toSeq == model.predict(probe).toSeq)
    // the registry shape end-to-end: executors score through a lazy ref that
    // ships only the path (03. Inference.py:24-28)
    val viaRef = ImagePipeline.batchInference(
      ImagePipeline.readBinaryImages(spark, fixtureDir).limit(4), ScoringModel.lazyRef(path))
    val direct = ImagePipeline.batchInference(
      ImagePipeline.readBinaryImages(spark, fixtureDir).limit(4), model)
    assert(viaRef.orderBy("origin").collect().toSeq == direct.orderBy("origin").collect().toSeq)
    // a corrupted artifact fails loudly, not with a garbage model
    val bad = Files.createTempDirectory("graft_model_bad").toString + "/model.graft"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), "not-a-model".getBytes)
    intercept[IllegalArgumentException](ScoringModel.load(bad))
  }
}
