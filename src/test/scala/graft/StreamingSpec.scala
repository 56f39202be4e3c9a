package graft

import graft.streaming.StreamingInference
import graft.tables.VersionedTable
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def transform(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("event_type"), (col("value") * 2.0 + 1.0).as("score"))

  test("micro-batch stream result equals batch result (SURVEY §5.4)") {
    val work   = Files.createTempDirectory("graft_stream_spec").toString
    val srcDir = s"$work/src"
    Tables.load(spark, sfDir, "events").select("event_id", "event_type", "value")
      .repartition(4).write.parquet(srcDir)

    val batchResult = transform(spark.read.parquet(srcDir))
      .orderBy("event_id").collect()

    val schema = spark.read.parquet(srcDir).schema
    val streamed = StreamingInference.streamTransform(
      spark, srcDir, schema, transform, s"$work/sink", s"$work/ckpt", maxFilesPerTrigger = 1)
      .orderBy("event_id").collect()

    assert(streamed.length == batchResult.length)
    assert(streamed.sameElements(batchResult))
  }

  test("streaming image inference equals batch inference (03. Inference shape)") {
    import graft.image.{ImageFixtures, ImagePipeline, ImageUdfs, LinearScoringModel}
    val work   = Files.createTempDirectory("graft_stream_img").toString
    val imgDir = ImageFixtures.generate(s"$work/fixtures")
    val model  = new LinearScoringModel(ImageFixtures.Classes.toList)

    def score(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("scored", ImageUdfs.score(model)(col("content")))
      .select(col("path").as("origin"),
        col("scored").getItem(0).as("prediction"),
        col("scored").getItem(1).as("probabilities"))

    val batch = score(ImagePipeline.readBinaryImages(spark, imgDir))
      .orderBy("origin").collect()

    val stream = spark.readStream
      .format("binaryFile")
      .schema(ImagePipeline.readBinaryImages(spark, imgDir).schema)
      .option("pathGlobFilter", "*.jpg")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 7) // several micro-batches over 30 files
      .load(imgDir)
    val streamed = StreamingInference.runToCompletion(
      score(stream), s"$work/sink", s"$work/ckpt")
      .orderBy("origin").collect()

    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("checkpoint restart processes only newly arrived files (incremental exactly-once)") {
    import spark.implicits._
    val work   = Files.createTempDirectory("graft_stream_inc").toString
    val srcDir = s"$work/src"
    Seq((1L, 10.0), (2L, 20.0)).toDF("event_id", "value")
      .coalesce(1).write.parquet(s"$srcDir/f1")
    val schema = spark.read.parquet(s"$srcDir/f1").schema

    def run(): Long = StreamingInference.streamTransform(
      spark, s"$srcDir/*", schema,
      df => df.select(col("event_id"), (col("value") * 2.0).as("score")),
      s"$work/sink", s"$work/ckpt", maxFilesPerTrigger = 1).count()

    assert(run() == 2L)
    // new file lands; restart from the same checkpoint picks up ONLY it
    Seq((3L, 30.0)).toDF("event_id", "value")
      .coalesce(1).write.parquet(s"$srcDir/f2")
    assert(run() == 3L)
    val ids = spark.read.parquet(s"$work/sink").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), "no duplicates, no gaps after restart")
  }

  test("streamNearDedup: batches dedup against the growing index; restart is incremental") {
    import spark.implicits._
    val work   = Files.createTempDirectory("graft_stream_nd").toString
    val srcDir = s"$work/src"
    val t1 = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    val t2 = "completely different text about spark engines and columnar execution at scale"
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$srcDir/f1")
    val schema = spark.read.parquet(s"$srcDir/f1").schema

    def run(): Set[Long] = StreamingInference.streamNearDedup(
      spark, s"$srcDir/*", schema, "text", "doc_id",
      s"$work/out", s"$work/ckpt",
      shingleN = 2, minEstJaccard = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    assert(run() == Set(1L, 2L))
    // second arrival: a near-dup of 1, a novel doc, an exact copy of 2
    Seq((3L, t1.replace("far away", "far off")),
        (4L, "a third genuinely novel document with entirely fresh vocabulary inside"),
        (5L, t2)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$srcDir/f2")
    assert(run() == Set(1L, 2L, 4L))
    // the sink table carries a signature for exactly the survivors (the
    // sink IS the index)
    assert(VersionedTable.read(spark, s"$work/out")
      .where(col("sig").isNotNull).count() == 3L)
    // no new files → no change (exactly-once)
    assert(run() == Set(1L, 2L, 4L))
  }

  test("streamImageDedup: later batches drop re-encodes against the hash index; restart incremental") {
    import spark.implicits._
    val work   = Files.createTempDirectory("graft_stream_id").toString
    val srcDir = s"$work/src"
    val a = png(1); val b = png(2)
    Seq(("a", a), ("b", b)).toDF("img_id", "content")
      .coalesce(1).write.parquet(s"$srcDir/f1")
    val schema = spark.read.parquet(s"$srcDir/f1").schema
    def run(): Set[String] = StreamingInference.streamImageDedup(
      spark, s"$srcDir/*", schema, "content", "img_id",
      s"$work/out", s"$work/ckpt")
      .select("img_id").collect().map(_.getString(0)).toSet
    assert(run() == Set("a", "b"))
    // second arrival: a shifted re-encode of a (dropped), a novel image (kept)
    Seq(("a2", graft.image.Kernels.brightnessShiftJpg(a, 8)), ("c", png(3)))
      .toDF("img_id", "content")
      .coalesce(1).write.parquet(s"$srcDir/f2")
    assert(run() == Set("a", "b", "c"))
    // combined sink = one phash per survivor; no new files → no change
    assert(VersionedTable.read(spark, s"$work/out")
      .where(col("phash").isNotNull).count() == 3L)
    assert(run() == Set("a", "b", "c"))
  }

  // One case per versioned-log sink. A setup writes the sink's one-file
  // source under `work` and returns the run (its survivors, sorted, so a
  // duplicated row shows) and the sink table directories.
  private val crashReplaySinks: Seq[(String, String => (() => Seq[String], Seq[String]))] = Seq(
    "streamNearDedup" -> { work =>
      import spark.implicits._
      val t1 = "the quick brown fox jumps over the lazy dog and keeps on running far away"
      val t2 = "completely different text about spark engines and columnar execution at scale"
      // doc 3 near-dups doc 1 inside the batch: the batch drops a row
      Seq((1L, t1), (2L, t2), (3L, t1.replace("far away", "far off")))
        .toDF("doc_id", "text").coalesce(1).write.parquet(s"$work/src/f1")
      val schema = spark.read.parquet(s"$work/src/f1").schema
      (() => StreamingInference.streamNearDedup(
          spark, s"$work/src/*", schema, "text", "doc_id", s"$work/out", s"$work/ckpt",
          shingleN = 2, minEstJaccard = 0.6)
        .collect().map(r => s"${r.getLong(0)}:${r.getString(1)}").toSeq.sorted,
        Seq(s"$work/out"))
    },
    "streamImageDedup" -> { work =>
      import spark.implicits._
      val a = png(1)
      // a2 is a shifted re-encode of a inside the batch: the batch drops it
      Seq(("a", a), ("b", png(2)), ("a2", graft.image.Kernels.brightnessShiftJpg(a, 8)))
        .toDF("img_id", "content").coalesce(1).write.parquet(s"$work/src/f1")
      val schema = spark.read.parquet(s"$work/src/f1").schema
      (() => StreamingInference.streamImageDedup(
          spark, s"$work/src/*", schema, "content", "img_id", s"$work/out", s"$work/ckpt")
        .collect().map(r => s"${r.getString(0)}:${r.getAs[Array[Byte]](1).length}").toSeq.sorted,
        Seq(s"$work/out"))
    },
    "streamValidateRoute" -> { work =>
      import spark.implicits._
      Seq((1L, 10.0), (2L, 99.0), (3L, 20.0)).toDF("id", "v")
        .coalesce(1).write.parquet(s"$work/src/f1")
      val schema = spark.read.parquet(s"$work/src/f1").schema
      (() => {
        val (v, q) = StreamingInference.streamValidateRoute(
          spark, s"$work/src/*", schema, Seq("v_small" -> (col("v") < 50)),
          s"$work/valid", s"$work/quar", s"$work/ckpt")
        (v.collect().map(r => s"valid ${r.getLong(0)}") ++
          q.collect().map(r => s"quarantine ${r.getLong(0)} ${r.getString(2)}")).toSeq.sorted
      }, Seq(s"$work/valid", s"$work/quar"))
    })

  private def png(seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val img = new java.awt.image.BufferedImage(64, 48, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 48; x <- 0 until 64) img.setRGB(x, y, rnd.nextInt(1 << 24))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  for ((sink, setup) <- crashReplaySinks)
    test(s"$sink crash-replay: a batch committed but not checkpointed replays as a no-op") {
      val work = Files.createTempDirectory("graft_stream_crash").toString
      val (run, sinkDirs) = setup(work)
      def dataFiles(dir: String): Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(s"$dir/data")).count(_.getName.endsWith(".parquet"))
      }
      def state() = sinkDirs.map(d => (VersionedTable.latestVersion(d), dataFiles(d)))
      val survivors = run()
      assert(survivors.nonEmpty)
      val before = state()
      assert(before.forall(_._1.isDefined), s"$sink: every sink table commits the batch")
      // the crash window: the data commit landed, the checkpoint commit of
      // batch 0 did not — the restarted stream re-executes the batch
      val commit0 = new java.io.File(s"$work/ckpt/commits/0")
      assert(commit0.delete())
      new java.io.File(s"$work/ckpt/commits/.0.crc").delete()
      val (replayed, replay) = graft.obs.Obs.measure(spark)(run())
      assert(replayed == survivors, s"$sink: replayed survivors differ")
      assert(commit0.exists, s"$sink: the uncheckpointed batch must re-execute")
      assert(state() == before,
        s"$sink: the replay must publish no version and stage no file")
      // the replayed batch returns on its txn marker before it runs a job:
      // the re-run costs exactly what a run with no batch to execute does
      // (the final read of the sink)
      val (_, idle) = graft.obs.Obs.measure(spark)(run())
      assert(replay.jobs == idle.jobs,
        s"$sink: the replayed batch ran Spark jobs: ${replay.jobRows.map(_.label)} " +
          s"vs an idle run's ${idle.jobRows.map(_.label)}")
    }

  test("streamValidateRoute: empty source runs zero batches and returns empty frames, not errors") {
    import spark.implicits._
    val work   = Files.createTempDirectory("graft_stream_vr0").toString
    val srcDir = s"$work/src"
    new java.io.File(srcDir).mkdirs()
    val schema = Seq((1L, 1.0)).toDF("id", "v").schema
    val (v, q) = StreamingInference.streamValidateRoute(
      spark, srcDir, schema, Seq("v_small" -> (col("v") < 50)),
      s"$work/valid", s"$work/quar", s"$work/ckpt")
    assert(v.count() == 0L && q.count() == 0L)
    assert(v.columns.toSeq == Seq("id", "v"))
    assert(q.columns.toSeq == Seq("id", "v", "violations"))
    // a side that never receives a row: every row is valid, so the
    // quarantine table is never appended to and reads as the typed empty
    // frame
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").coalesce(1).write.parquet(s"$work/src/f1")
    val (v1, q1) = StreamingInference.streamValidateRoute(
      spark, s"$srcDir/*", schema, Seq("v_small" -> (col("v") < 50)),
      s"$work/valid1", s"$work/quar1", s"$work/ckpt1")
    assert(v1.count() == 2L && q1.count() == 0L)
    assert(q1.columns.toSeq == Seq("id", "v", "violations"))
    assert(VersionedTable.latestVersion(s"$work/quar1").isEmpty,
      "an all-valid stream must commit no quarantine version")
  }

  test("streamValidateRoute: valid/quarantine dual sink, exactly-once replay") {
    import spark.implicits._
    val work   = Files.createTempDirectory("graft_stream_vr").toString
    val srcDir = s"$work/src"
    Seq((1L, 10.0), (2L, 99.0), (3L, 20.0)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$srcDir/f1")
    val schema = spark.read.parquet(s"$srcDir/f1").schema

    def run() = StreamingInference.streamValidateRoute(
      spark, s"$srcDir/*", schema, Seq("v_small" -> (col("v") < 50)),
      s"$work/valid", s"$work/quar", s"$work/ckpt")

    val (v1, q1) = run()
    assert(v1.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val quar = q1.select("id", "violations").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(quar == Map(2L -> "v_small"))
    // second arrival routes incrementally; re-run without new files = no-op
    Seq((4L, 70.0), (5L, 5.0)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$srcDir/f2")
    val (v2, q2) = run()
    assert(v2.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    assert(q2.select("id").collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    val (v3, q3) = run()
    assert(v3.count() == 3 && q3.count() == 2)
  }

  test("checkpoint makes re-run a no-op (exactly-once append)") {
    val work   = Files.createTempDirectory("graft_stream_spec2").toString
    val srcDir = s"$work/src"
    Tables.load(spark, sfDir, "events").select("event_id", "event_type", "value")
      .limit(100).repartition(2).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val first = StreamingInference.streamTransform(
      spark, srcDir, schema, transform, s"$work/sink", s"$work/ckpt", maxFilesPerTrigger = 1).count()
    // Same checkpoint, no new files → second run appends nothing.
    val second = StreamingInference.streamTransform(
      spark, srcDir, schema, transform, s"$work/sink", s"$work/ckpt", maxFilesPerTrigger = 1).count()
    assert(first == 100L && second == 100L)
  }

  test("empty source yields an empty typed frame, not a schema-inference crash") {
    val work   = Files.createTempDirectory("graft_stream_empty").toString
    val srcDir = s"$work/src"
    // a dir with schema but no data files: write then delete the data
    Tables.load(spark, sfDir, "events").select("event_id", "event_type", "value")
      .limit(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    new java.io.File(srcDir).listFiles.filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val out = StreamingInference.streamTransform(
      spark, srcDir, schema, transform, s"$work/sink", s"$work/ckpt", maxFilesPerTrigger = 1)
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq == Seq("event_id", "event_type", "score"))
  }

  test("streamUpsert merges each micro-batch into the target (CDC foreachBatch shape)") {
    import spark.implicits._
    val work      = Files.createTempDirectory("graft_stream_merge").toString
    val srcDir    = s"$work/src"
    val targetDir = s"$work/target"
    val ckpt      = s"$work/ckpt"
    VersionedTable.commit(spark,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal"), targetDir)
    // two update files → with maxFilesPerTrigger=1, two micro-batches; the
    // same key updated in both batches must end at the LAST batch's value
    Seq((2L, 99.0), (7L, 7.0)).toDF("id", "bal").coalesce(1)
      .write.parquet(srcDir)
    Seq((2L, 111.0)).toDF("id", "bal").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run() = StreamingInference.streamUpsert(
      spark, srcDir, schema, targetDir, Seq("id"),
      // within one micro-batch, collapse duplicate keys (max-bal wins here)
      b => b.groupBy("id").agg(max("bal").as("bal")),
      ckpt, maxFilesPerTrigger = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val result = run()
    // NOTE: file order across the two parquet files isn't guaranteed, but
    // both orders end with id=2 in {99→111} or {111→99}; assert the stable
    // facts: all keys present, id=7 inserted, id=1/3 untouched
    assert(result.map(_._1) == Seq(1L, 2L, 3L, 7L))
    assert(result(0)._2 == 10.0 && result(2)._2 == 30.0 && result(3)._2 == 7.0)
    assert(Set(99.0, 111.0).contains(result(1)._2))
    // each micro-batch publishes exactly one version on top of v0
    assert(VersionedTable.latestVersion(targetDir).contains(2L))
    // crash window: the last batch merged into the table, but its checkpoint
    // commit never landed — the restarted stream re-executes that batch and
    // the txn marker turns its merge into a no-op
    val lastCommit = new java.io.File(s"$ckpt/commits/1")
    assert(lastCommit.delete())
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val replayed = run()
    assert(lastCommit.exists, "the uncommitted batch must re-execute")
    assert(VersionedTable.latestVersion(targetDir).contains(2L),
      "a replayed batch must not publish a second version")
    assert(replayed == result)
  }

  test("streamUpsertPartitioned: only touched partitions change; others stay byte-identical") {
    // the upsert's scale contract on the versioned target: a micro-batch
    // rewrites only the data files holding its keys; every other file
    // stays in the new manifest as the SAME bytes on disk
    import spark.implicits._
    val work      = Files.createTempDirectory("graft_stream_pmerge").toString
    val srcDir    = s"$work/src"
    val targetDir = s"$work/target"
    val init = (1L to 64L).map(i => (i, i * 10.0)).toDF("id", "bal")
    VersionedTable.commit(spark, init.repartitionByRange(8, col("id")), targetDir)
    val v0Files = VersionedTable.filesOf(targetDir, 0L)
    assert(v0Files.size == 8, s"test needs 8 target files, got $v0Files")

    // fingerprint every data file before the stream
    def fileState(dir: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = fileState(targetDir)

    // updates touch two keys → at most two files
    Seq((2L, 999.0), (7L, 777.0)).toDF("id", "bal").coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val result = StreamingInference.streamUpsert(
      spark, srcDir, schema, targetDir, Seq("id"),
      b => b.groupBy("id").agg(max("bal").as("bal")),
      s"$work/ckpt", maxFilesPerTrigger = 1)
    val byId = result.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId.size == 64 && byId(2L) == 999.0 && byId(7L) == 777.0 && byId(1L) == 10.0)

    // files no update key lives in must be EXACTLY the same files: still in
    // the new version's manifest, same paths, lengths and mtimes on disk
    val touched = VersionedTable.read(spark, targetDir, Some(0L))
      .where(col("id").isin(2L, 7L)).select(input_file_name())
      .collect().map(_.getString(0)).toSet
    val untouched = v0Files.filterNot(rel => touched.exists(_.endsWith(rel)))
    assert(untouched.nonEmpty && untouched.size >= v0Files.size - 2,
      s"key files not found among $v0Files")
    val head = VersionedTable.latestVersion(targetDir).get
    assert(head == 1L, "one micro-batch publishes one version")
    val headFiles = VersionedTable.filesOf(targetDir, head).toSet
    assert(untouched.toSet.subsetOf(headFiles),
      s"untouched files left the manifest: ${untouched.toSet diff headFiles}")
    val after = fileState(targetDir)
    val untouchedState = (m: Map[String, (Long, Long)]) =>
      m.filter { case (p, _) => untouched.exists(p.endsWith) }
    assert(untouchedState(before).size == untouched.size)
    assert(untouchedState(after) == untouchedState(before),
      "untouched files were rewritten")
  }

  test("upsertPartitioned: live second writer loses loudly, target untouched; stale lease taken over") {
    // the upsert target's write lease: a data commit's publish waits out a
    // live lease (bounded retry), so the writer that must lose loudly here
    // is a non-waiting metadata-only one — a restore of the same target
    import graft.tables.{FsIO, VersionedTable}
    import spark.implicits._
    val targetDir = Files.createTempDirectory("graft_pmerge_lock").toString + "/target"
    VersionedTable.commit(spark, (1L to 8L).map(i => (i, 1.0)).toDF("id", "bal"), targetDir)
    def fileState(dir: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.isFile)
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    def bal(id: Long): Double =
      VersionedTable.read(spark, targetDir).where(col("id") === id).head().getDouble(1)
    // writer A holds a live lease; writer B must fail loudly BEFORE
    // touching the target
    val lockA  = FsIO.acquireWriteLock(targetDir, "streamUpsert", staleMs = 600000)
    val before = fileState(targetDir)
    val e = intercept[RuntimeException] {
      VersionedTable.commitRestore(spark, targetDir, 0L)
    }
    assert(e.getMessage.contains("another writer"), e.getMessage)
    assert(fileState(targetDir) == before, "loser must not have touched the target")
    assert(VersionedTable.latestVersion(targetDir).contains(0L))
    // A releases → the upsert applies cleanly
    FsIO.releaseWriteLock(lockA)
    VersionedTable.commitMerge(spark, targetDir, Seq((2L, 9.0)).toDF("id", "bal"), Seq("id"))
    assert(bal(2L) == 9.0)
    // a crashed writer's EXPIRED lease is taken over instead of deadlocking
    FsIO.writeText(s"$targetDir.__write_lock", "owner=dead\nts=1\nlabel=streamUpsert\n")
    VersionedTable.commitMerge(spark, targetDir, Seq((3L, 7.0)).toDF("id", "bal"), Seq("id"))
    assert(bal(3L) == 7.0)
    assert(!new java.io.File(s"$targetDir.__write_lock").exists, "lease released after takeover")
    // double-release of a superseded lock must not delete a later holder's lease
    val lockB = FsIO.acquireWriteLock(targetDir, "t", staleMs = 600000)
    FsIO.releaseWriteLock(lockA) // stale handle — must be a no-op
    assert(new java.io.File(s"$targetDir.__write_lock").exists)
    FsIO.releaseWriteLock(lockB)
  }

  test("compact under a live foreign lease stages but publishes only after release") {
    // a stream sink is a versioned table that grows one file set per
    // micro-batch; its compaction is commitCompact, which stages with no
    // lock and publishes only once the lease held by another writer is gone
    import graft.tables.FsIO
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val work   = Files.createTempDirectory("graft_compact_lock").toString
    val srcDir = s"$work/src"
    for (f <- 0 until 4)
      (f * 25L + 1 to f * 25L + 25).map(i => (i, 1.0)).toDF("id", "v")
        .repartition(2).write.parquet(s"$srcDir/f$f")
    val schema = spark.read.parquet(s"$srcDir/f0").schema
    val sink   = s"$work/valid"
    StreamingInference.streamValidateRoute(
      spark, s"$srcDir/*", schema, Seq("v_small" -> (col("v") < 50)),
      sink, s"$work/quar", s"$work/ckpt")
    def files(): Seq[String] =
      VersionedTable.entriesOf(sink, VersionedTable.latestVersion(sink).get).map(_._1)
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$sink/data")).map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    assert(files().size > 2, "every micro-batch appends its own files")
    val version = VersionedTable.latestVersion(sink)
    val before  = dataFiles()
    val lock = FsIO.acquireWriteLock(sink, "other-compactor", staleMs = 600000)
    val fut =
      try {
        val f = Future(VersionedTable.commitCompact(spark, sink, targetFiles = 2))
        val deadline = System.currentTimeMillis() + 30000
        while ((dataFiles() -- before).isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert((dataFiles() -- before).nonEmpty, "compaction must stage under the lease")
        Thread.sleep(500) // the publish now polls the held lease
        assert(!f.isCompleted, "compaction must not publish under a live lease")
        assert(VersionedTable.latestVersion(sink) == version, "the head must not move")
        assert(VersionedTable.read(spark, sink).count() == 100)
        f
      } finally FsIO.releaseWriteLock(lock)
    assert(Await.result(fut, 90.seconds) == version.get + 1)
    assert(VersionedTable.read(spark, sink).count() == 100)
    assert(files().size == 2)
  }

  test("stream-static broadcast enrichment equals the batch join") {
    // the standard streaming-enrichment shape: per-micro-batch join against a
    // static dimension; the dim broadcasts, so no stateful join machinery and
    // no watermark is involved — per batch it is a plain broadcast hash join
    val work   = Files.createTempDirectory("graft_stream_enrich").toString
    val srcDir = s"$work/src"
    Tables.load(spark, sfDir, "events")
      .select(expr("event_id % 25").as("n_nationkey"), col("event_id"), col("value"))
      .repartition(3).write.parquet(srcDir)
    val dim = Tables.load(spark, sfDir, "nation")

    def enrich(df: DataFrame): DataFrame =
      df.join(broadcast(dim), Seq("n_nationkey"), "left_outer")
        .select(col("event_id"), col("n_name"), col("value"))

    val batch  = enrich(spark.read.parquet(srcDir)).orderBy("event_id").collect()
    val schema = spark.read.parquet(srcDir).schema
    val streamed = StreamingInference.streamTransform(
      spark, srcDir, schema, enrich, s"$work/sink", s"$work/ckpt", maxFilesPerTrigger = 1)
      .orderBy("event_id").collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }
}
