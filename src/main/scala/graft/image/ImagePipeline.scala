package graft.image

import graft.operators.{GroupedMap, Relational}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end re-expression of the reference's ingest notebook
  * (`01. Ingest.py`), Spark-first:
  *
  * {{{
  * binaryFile scan (glob *.jpg, recursive)          01. Ingest.py:33-37  S2
  *   → label = regexp_extract(path)                 :50-52,66-70         F1/P1
  *   → size struct via JVM kernel UDF               :54-62               I1
  *   → label_index (broadcast rank join — replaces
  *     the driver collect + dict-closure UDF)       :76-88               A4
  *   → grouped-map grayscale per label              :102-126             A5/I3
  *   → left-outer re-attach join on key             :129                 J1
  * }}}
  *
  * 100 TB notes: the grouped-map ships only (key, path, content); the wide
  * join back is on `path` (unique). The reference's own advice is encoded:
  * project to the columns a stage needs before shuffling it
  * (`01. Ingest.py:122-123`), and the label dictionary never round-trips
  * through the driver.
  */
object ImagePipeline {

  /** S2: binary-file scan with glob + recursion. */
  def readBinaryImages(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** S1: built-in image source (spark-mllib ImageFileFormat) — yields the
    * nested `image struct<origin,height,width,nChannels,mode,data>` the
    * reference explores (`00. Explore.py:45`). */
  def readImageSource(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("image").option("recursiveFileLookup", "true").load(dir)

  private val grayscaleSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("grayscale_image", BinaryType),
    StructField("grayscale_format", StringType)))

  /** Staging dir for one ingest call: unique per call (a shared
    * deterministic path would let the NEXT ingest's overwrite delete the
    * files backing a previously returned frame mid-lifetime, and two JVMs
    * ingesting the same source would clobber each other's in-flight reads).
    * Lifetime: the local default stages under [[graft.Scratch]] (swept at
    * JVM exit); shared-store stages persist until the caller removes
    * them — callers managing lifetime pass an explicit `stageDir` and
    * delete it via `TableManager.deleteDir`.
    *
    * The default must live on a filesystem ALL executors and the driver
    * share: a driver-local `java.io.tmpdir` path is only that on a
    * single-JVM master (executors would write their own local disks and the
    * read-back would see partial data). Local scheme → JVM temp dir.
    * Non-local schemes (HDFS/S3/...): `spark.graft.stageRoot`, when set,
    * names a shared writable staging root and every ingest stages under it;
    * otherwise the fallback is a sibling of the source directory on the
    * SAME filesystem (shared by construction) — which requires WRITE
    * permission next to the data and leaves `.graft_ingest_stage_*` dirs
    * there until the caller cleans them, so production jobs whose source
    * tree is read-only must set the conf key. */
  private def defaultStageDir(spark: SparkSession, dir: String): String = {
    val src = new org.apache.hadoop.fs.Path(dir)
    val fs  = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val local = fs.getUri.getScheme == null || fs.getUri.getScheme == "file"
    val root = spark.conf.getOption("spark.graft.stageRoot").filter(_.nonEmpty)
    val tag  = s".graft_ingest_stage_${src.getName}_${java.util.UUID.randomUUID().toString.take(8)}"
    (local, root) match {
      case (true, None) =>
        // swept at JVM exit (ADVICE-r16): a per-ingest temp stage that
        // nobody cleans accumulates image payloads across Verify/Bench runs
        graft.Scratch.dir(s"graft_ingest_${graft.tables.FsIO.tmpTag(dir)}_") + "/staged"
      case (_, Some(r)) =>
        new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(r), tag).toString
      case (false, None) =>
        val parent = Option(src.getParent).getOrElse(src)
        new org.apache.hadoop.fs.Path(parent, tag).toString
    }
  }

  /** Full ingest: returns
    * `(path, modificationTime, length, content, label, size{width,height},
    *   label_index, grayscale_image, grayscale_format)`.
    *
    * The result is STAGED — written once as uncompressed parquet under
    * `stageDir` and read back — mirroring the reference's own
    * materialize-then-train shape (`01. Ingest.py:176-183`). The earlier
    * `localCheckpoint(true)` form pinned a corpus-sized unreplicated copy
    * (payload included) in executor block storage: one executor loss
    * invalidated the frame with no recomputation path, and nothing could
    * evict it. A staged table is the 100 TB-safe materialization — durable,
    * rescannable, droppable — and releasing the scan cache here still
    * happens after one single scan+decode pass. */
  def ingest(spark: SparkSession, dir: String): DataFrame =
    ingest(spark, dir, defaultStageDir(spark, dir))

  def ingest(spark: SparkSession, dir: String, stageDir: String): DataFrame = {
    val labeled = readBinaryImages(spark, dir)
      .withColumn("label", regexp_extract(col("path"), "flower_photos/label=([^/]+)/", 1))
      .withColumn("size", ImageUdfs.imageSize(col("content")))
      // The grouped-map side of the self-join below would otherwise re-scan
      // and re-decode every image; at the 100 TB design point that doubles
      // the dominant I/O+decode cost, so the scan is cached (spills to disk)
      // for the duration of the staging write, then released.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val indexed = Relational.withDictIndex(labeled, "label", "label_index")

    // A5 grouped-map (the reference's applyInPandas grayscale kernel),
    // shipping only the columns the kernel needs (01. Ingest.py:122-123).
    val gray = GroupedMap.flatMapGroupsRows(
      indexed.select("label", "path", "content"), "label", grayscaleSchema) { (_, it) =>
      it.map { r =>
        Row(r.getString(1), Kernels.grayscalePng(r.getAs[Array[Byte]](2)), "png")
      }
    }

    // J1: left-outer re-attach by unique key (01. Ingest.py:129), staged so
    // the scan cache can be released here without leaking pinned payloads.
    // Uncompressed codec: payloads are already-compressed JPEG/PNG bytes —
    // recompressing burns CPU for ~0 ratio (same rationale as trainingPrep).
    // The read-back takes the written frame's schema: parquet schema
    // inference would launch a job of its own to merge the footers, one
    // more job per ingest for a schema already known here.
    val staged = indexed.join(gray, Seq("path"), "left_outer")
    try {
      graft.tables.TableManager.withParquetCodec(spark, "uncompressed") {
        staged.write.mode("overwrite").parquet(stageDir)
      }
    } finally labeled.unpersist(false)
    spark.read.schema(staged.schema).parquet(stageDir)
  }

  /** The training-prep shape (`02.a …:74-97`): project to (content,
    * label_index as long), limit, seeded split, parallelism floor, and a
    * columnar Parquet cache with small row groups (S12; petastorm row-group
    * size `02.a …:95-97`). */
  def trainingPrep(
      ingested: DataFrame,
      cacheDir: String,
      limit: Int = 100,
      splitWeights: Array[Double] = Array(0.6, 0.4),
      seed: Long = 12345L,
      minPartitions: Int = 2): (DataFrame, DataFrame) = {
    require(splitWeights.length == 2,
      s"trainingPrep is a train/val split (got ${splitWeights.length} weights); " +
        "use Relational.seededSplit directly for other arities")
    val slim = ingested
      .select(col("content"), col("label_index").cast("long").as("label_index"))
      .limit(limit)
    val Array(train, va) = slim.randomSplit(splitWeights, seed)
    val spark = ingested.sparkSession
    graft.tables.TableManager.withParquetCodec(spark, "uncompressed") {
      train.repartition(minPartitions)
        .write.mode("overwrite")
        .option("parquet.block.size", 1000000)
        .parquet(s"$cacheDir/train")
      va.repartition(minPartitions)
        .write.mode("overwrite")
        .option("parquet.block.size", 1000000)
        .parquet(s"$cacheDir/val")
    }
    (spark.read.parquet(s"$cacheDir/train"), spark.read.parquet(s"$cacheDir/val"))
  }

  /** Batch inference (`03. Inference.py:18-54`): score a table of images with
    * a model-as-UDF, producing `(origin, prediction, probabilities)`. */
  def batchInference(images: DataFrame, model: ScoringModel): DataFrame =
    images
      .withColumn("scored", ImageUdfs.score(model)(col("content")))
      .select(
        col("path").as("origin"),
        col("scored").getItem(0).as("prediction"),
        col("scored").getItem(1).as("probabilities"))
}
