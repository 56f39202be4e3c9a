package graft.streaming

import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Structured-Streaming re-expression of the reference's streaming inference
  * (`03. Inference.py:73-115`): a rate-limited file stream over a Parquet
  * table, a stateless scoring transform, and an append sink with a
  * checkpoint for exactly-once.
  *
  * The reference streams from a Delta table with `maxFilesPerTrigger=1`
  * (`03. Inference.py:73-77`) and appends to a Delta sink with a checkpoint
  * (`:102-108`); with no Delta jar here the equivalents are the Parquet file
  * source/sink — same micro-batch planner, same offset-log/commit-log
  * exactly-once contract.
  *
  * At scale the stateless transform shards per file-split; rate limiting via
  * `maxFilesPerTrigger` is the back-pressure dial, and the checkpoint dir is
  * the restart token — identical semantics on a 1000-executor cluster.
  */
object StreamingInference {

  /** S6: rate-limited streaming source over a Parquet directory. */
  def readFileStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)

  /** S9: append sink + checkpoint, run to completion over the currently
    * available input (Trigger.AvailableNow honors the per-trigger rate
    * limit, so the input is consumed in `maxFilesPerTrigger`-sized
    * micro-batches exactly as the reference's always-on stream would).
    * Returns the sink as a batch DataFrame. */
  def runToCompletion(
      transformed: DataFrame,
      sinkDir: String,
      checkpointDir: String): DataFrame = {
    val q = transformed.writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .option("path", sinkDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val spark = transformed.sparkSession
    // an empty source commits no files: read.parquet on the bare sink would
    // throw (no schema to infer) — return an empty frame of the sink schema
    try spark.read.schema(transformed.schema).parquet(sinkDir)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          transformed.schema)
    }
  }

  /** Full stream pipeline: source → stateless transform → sink; returns the
    * final sink contents. `transform` must be stateless (the reference's
    * scoring UDF + projections, `03. Inference.py:86-91`). */
  def streamTransform(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      transform: DataFrame => DataFrame,
      sinkDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    runToCompletion(
      transform(readFileStream(spark, srcDir, schema, maxFilesPerTrigger)),
      sinkDir, checkpointDir)

  /** Streaming MERGE (the Delta CDC pattern `writeStream.foreachBatch(merge)`):
    * each micro-batch of updates commits as ONE
    * [[graft.tables.VersionedTable.commitMerge]] into the versioned table at
    * `targetDir` — one log version per batch, copy-on-write at file grain
    * (only the files holding a batch key are rewritten; every other file
    * stays shared with the previous version). The target must already hold
    * a committed version ([[graft.tables.VersionedTable.commit]]).
    *
    * Batches must be keyed uniquely — within one micro-batch, duplicate keys
    * are pre-aggregated by `reduceBatch` (latest-wins needs an ordering
    * column; pass e.g. `max_by`-style aggs), because MERGE rejects ambiguous
    * sources. Exactly-once: each merge carries the txn marker
    * (`graft.upsert:<checkpointDir>`, batchId), so a batch that committed to
    * the table but crashed before its checkpoint commit replays as a no-op
    * (the [[StreamingMatview]] and `graft` sink idiom). Returns the final
    * target contents. */
  def streamUpsert(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      targetDir: String,
      keyCols: Seq[String],
      reduceBatch: DataFrame => DataFrame,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // stable across restarts: the checkpoint IS the stream's identity
    val appId = s"graft.upsert:$checkpointDir"
    val q = readFileStream(spark, srcDir, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        VersionedTable.commitMerge(spark, targetDir, reduceBatch(batch), keyCols,
          txn = Some((appId, batchId)))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    VersionedTable.read(spark, targetDir)
  }

  /** Streaming NEAR-dedup of an arriving document stream against the
    * corpus-so-far: each micro-batch near-dedups against the accumulated
    * MinHash signature index, and survivors persist to `outDir` WITH their
    * signature columns — the continuous-ingest form of the corpus hygiene
    * pass (history text is never re-read; the probe reads 8·numHashes + 32
    * bytes per accepted doc).
    *
    * COMBINED-SINK LAYOUT (r19): the sink IS the index. Each batch_id
    * partition holds the batch's survivors with their (`sig`, `seth`)
    * columns attached ([[graft.operators.Dedup.withMinHashSigs]], one
    * kernel pass per doc); the next batch's probe reads only (id, sig,
    * seth) — parquet column pruning leaves the payload bytes cold. One
    * write per trigger where the previous layout paid two (sink + separate
    * index, with the index's signatures recomputed from survivor text),
    * and the per-trigger read plans with an explicit schema — no
    * footer-inference pass per micro-batch.
    *
    * Exactly-once without a table swap: the sink partitions by `batch_id`
    * under DYNAMIC partition overwrite, so a crashed-and-replayed batch
    * rewrites exactly its own partition instead of appending duplicates —
    * the idempotence device for foreachBatch appends (the checkpoint
    * replays uncommitted batch ids only).
    *
    * 100 TB notes: per batch the work is ONE bands join of the batch
    * against (history ∪ lower-id batch siblings) — payloads never shuffle
    * and the probe side carries (id, sig) only. A long-lived deployment
    * should periodically compact the sink's batch_id partitions
    * (TableManager.compactBatchIndex); the per-batch plan is unchanged by
    * that maintenance. */
  def streamNearDedup(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      textCol: String,
      idCol: String,
      outDir: String,
      checkpointDir: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.8,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{ArrayType, StructField}
    // the sink schema is KNOWN (input schema + sig/seth + the batch_id
    // partition column): every per-trigger read and the final read plan
    // against it explicitly instead of paying schema inference per batch
    val sinkSchema = StructType(schema.fields ++ Seq(
      StructField("sig", ArrayType(LongType)),
      StructField("seth", StringType),
      StructField("batch_id", LongType)))
    val q = readFileStream(spark, srcDir, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // path.getFileSystem, NOT FileSystem.get(default): an outDir on
        // a non-default scheme (s3a:// under an hdfs:// default) would
        // throw Wrong FS on every micro-batch (readSink's documented rule)
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val index =
          if (fs.exists(outPath))
            // Exclude THIS batch id's partition: a replayed batch (crash
            // after a partial sink write, before the checkpoint commit)
            // would otherwise probe its own signatures, match every doc
            // against itself at Jaccard 1.0, and dynamically overwrite the
            // sink partition with an emptied survivor set. `=!=` rather
            // than `<`: under the documented checkpoint+sink PAIRING
            // contract later partitions don't exist, and if an operator
            // re-points a fresh checkpoint at a retained sink (batch ids
            // restart, a contract violation), `<` would silently probe
            // NOTHING while `=!=` still dedups against all other history.
            // Null-sig rows (null-text survivors) cannot near-dup and are
            // not part of the signature index.
            spark.read.schema(sinkSchema).parquet(outDir)
              .where(col("batch_id") =!= batchId && col("sig").isNotNull)
              .select(col(idCol).as("id"), col("sig"), col("seth"))
          else // empty index with the right (id, sig, seth) shape
            Dedup.minHashIndex(batch.limit(0), textCol, idCol, shingleN, numHashes)
        // one signature-kernel pass attaches (sig, seth) to the payload;
        // the drop set, the anti join and the sink write all resolve in
        // the single write action below while the persist is live
        val wide = Dedup.withMinHashSigs(batch, textCol, idCol, shingleN, numHashes)
        wide.persist()
        try {
          val batchSigs = wide.where(col("sig").isNotNull)
            .select(col(idCol).as("id"), col("sig"), col("seth"))
          val drops = Dedup.nearDedupDropSet(batchSigs, index, numHashes,
            bands, minEstJaccard).withColumnRenamed("id", idCol)
          wide.join(drops, Seq(idCol), "left_anti")
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(outDir)
        } finally wide.unpersist(false)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // an EMPTY SOURCE runs zero batches and never creates outDir — return
    // an empty frame of the known schema rather than PATH_NOT_FOUND (the
    // runToCompletion/streamValidateRoute discipline)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    if (!outPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(outPath))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(sinkSchema).parquet(outDir).drop("batch_id", "sig", "seth")
  }

  /** Streaming perceptual-hash image dedup — [[streamNearDedup]]'s
    * multimodal sibling: each micro-batch dHashes its images, drops rows
    * within `maxHamming` of the persisted hash index (all PRIOR survivors;
    * 8 bytes per image, payloads never re-read) or of a lower-id batch
    * sibling, then persists survivors WITH their `phash` column to the
    * combined sink under the same batch_id dynamic-partition-overwrite
    * replay contract (the probe excludes the CURRENT batch id, so a
    * crash-replayed batch never matches itself). One write per trigger
    * (the sink doubles as the hash index — column pruning keeps the probe
    * from touching image bytes), explicit schema on every read. */
  def streamImageDedup(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      bytesCol: String,
      idCol: String,
      outDir: String,
      checkpointDir: String,
      maxHamming: Int = 6,
      bands: Int = 8,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import graft.image.Perceptual
    import org.apache.spark.sql.types.StructField
    val sinkSchema = StructType(
      StructField("phash", LongType) +: schema.fields :+ StructField("batch_id", LongType))
    val q = readFileStream(spark, srcDir, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // path.getFileSystem, not the default FS (see streamNearDedup)
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val index =
          if (fs.exists(outPath))
            spark.read.schema(sinkSchema).parquet(outDir)
              .where(col("batch_id") =!= batchId)
              .select(col(idCol), col("phash"))
          else batch.limit(0).select(col(idCol), lit(0L).as("phash"))
        // single consumer: the survivor frame (id, phash, payload…) goes
        // straight to the one combined write — no checkpoint, no second
        // sink, no re-hash (dedupAgainstIndex checkpoints the decoded
        // hashes internally, so images decode once per batch)
        Perceptual.dedupAgainstIndex(batch, bytesCol, idCol, index, maxHamming, bands)
          .select(col("phash") +: batch.columns.map(c => col(s"`$c`")): _*)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // empty-source fallback, like streamNearDedup
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    if (!outPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(outPath))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(sinkSchema).parquet(outDir).drop("batch_id", "phash")
  }

  /** Continuous data-quality routing — `Relational.validateRules` in a
    * stream: each micro-batch splits into the valid sink and the
    * quarantine sink (rows annotated with their `violations`), both
    * written in the SAME foreachBatch so the source is read once per
    * batch. Exactly-once without a table swap, [[streamNearDedup]]'s
    * discipline: both sinks partition by `batch_id` under dynamic
    * partition overwrite, so a replayed batch rewrites its own partition
    * instead of appending duplicates.
    *
    * Scale shape: validation is map-side (one scan, no shuffle); the
    * split is two filters over the one validated frame, localCheckpointed
    * so scoring runs once, not once per sink. */
  def streamValidateRoute(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      validDir: String,
      quarantineDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): (DataFrame, DataFrame) = {
    import graft.operators.Relational
    val q = readFileStream(spark, srcDir, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val checked = Relational.validateRules(batch, rules)
          .localCheckpoint(true) // two sinks below: validate once
        checked.where(col("is_valid") === 1L)
          .drop("violations", "is_valid")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(validDir)
        checked.where(col("is_valid") === 0L)
          .drop("is_valid")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(quarantineDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Explicit schemas on the final reads: when EVERY batch routed one way,
    // the other sink directory holds no part files and a schema-inferring
    // read would throw "unable to infer schema". The sink schemas are
    // knowable without inference (input schema, + violations for the
    // quarantine side, + the batch_id partition column). An EMPTY SOURCE
    // runs zero batches and creates neither directory — return empty
    // frames of the known schemas rather than throwing path-not-found.
    def readSink(dir: String, s: StructType): DataFrame = {
      // per-path FS resolution (not FileSystem.get): sink paths may carry a
      // scheme that differs from the default filesystem
      val p  = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(s.fields.filterNot(_.name == "batch_id")))
      else spark.read.schema(s).parquet(dir).drop("batch_id")
    }
    val validSchema = new StructType(
      schema.fields :+ StructField("batch_id", LongType))
    val quarantineSchema = new StructType(
      (schema.fields :+ StructField("violations", StringType)) :+
        StructField("batch_id", LongType))
    (readSink(validDir, validSchema), readSink(quarantineDir, quarantineSchema))
  }
}
