package graft.streaming

import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
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

  /** Run `perBatch` on every micro-batch of the rate-limited file stream
    * over `srcDir` until the currently available input is consumed
    * (Trigger.AvailableNow); `checkpointDir` is the stream's restart
    * token. The foreachBatch sinks commit each batch through it. */
  private[streaming] def foreachBatchToCompletion(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      maxFilesPerTrigger: Int,
      checkpointDir: String)(perBatch: (DataFrame, Long) => Unit): Unit =
    readFileStream(spark, srcDir, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(perBatch)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** A sink table's head; while the sink has no committed version (an
    * empty source runs zero batches, and a routing side that never got a
    * row is never appended to) an empty frame of its known `schema` — a
    * local relation, so a probe against it optimizes away. */
  private def readSink(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (VersionedTable.latestVersion(dir).isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else VersionedTable.read(spark, dir)

  /** Whether the sink table at `dir` already holds `appId`'s commit of
    * `batchId` — a replayed batch returns on this before it runs a job. */
  private def committed(dir: String, appId: String, batchId: Long): Boolean =
    VersionedTable.lastTxnVersion(dir, appId).exists(_ >= batchId)

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
    foreachBatchToCompletion(spark, srcDir, schema, maxFilesPerTrigger, checkpointDir) {
      (batch, batchId) =>
        VersionedTable.commitMerge(spark, targetDir, reduceBatch(batch), keyCols,
          txn = Some((appId, batchId)))
    }
    VersionedTable.read(spark, targetDir)
  }

  /** Streaming NEAR-dedup of an arriving document stream against the
    * corpus-so-far: each micro-batch near-dedups against the accumulated
    * MinHash signature index, and survivors persist to `outDir` WITH their
    * signature columns — the continuous-ingest form of the corpus hygiene
    * pass (history text is never re-read; the probe reads 8·numHashes + 32
    * bytes per accepted doc).
    *
    * The sink IS the index: a [[graft.tables.VersionedTable]] whose rows are
    * the survivors with their (`sig`, `seth`) columns attached
    * ([[graft.operators.Dedup.withMinHashSigs]], one kernel pass per doc).
    * The next batch's probe reads the head projected to (id, sig, seth), so
    * parquet column pruning leaves the payload bytes cold. One write per
    * trigger.
    *
    * Exactly-once: each micro-batch is ONE [[graft.tables.VersionedTable.commitAppend]]
    * carrying the txn marker (`graft.near_dedup:<checkpointDir>`, batchId),
    * the [[streamUpsert]] idiom. A batch whose commit landed but whose
    * checkpoint did not replays as a no-op: the append returns before any
    * staging action, so its survivor frame is never evaluated — and the
    * batch returns before even that when the marker already covers it. A
    * batch whose commit did not land probes a head without its own rows.
    *
    * 100 TB notes: per batch the work is ONE bands join of the batch
    * against (history ∪ lower-id batch siblings) — payloads never shuffle
    * and the probe side carries (id, sig) only. The head grows by one file
    * set per trigger; a `commitCompact` (dataChange=false) re-lays it
    * without changing the per-batch plan. */
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
    val appId = s"graft.near_dedup:$checkpointDir"
    foreachBatchToCompletion(spark, srcDir, schema, maxFilesPerTrigger, checkpointDir) {
      (batch, batchId) => if (!committed(outDir, appId, batchId)) {
        // one signature-kernel pass attaches (sig, seth) to the payload;
        // the drop set, the anti join and the sink write all resolve in
        // the single staging write below while the persist is live
        val wide = Dedup.withMinHashSigs(batch, textCol, idCol, shingleN, numHashes)
        // null-sig rows (null-text survivors) cannot near-dup and are not
        // part of the signature index
        def sigs(df: DataFrame) = df.where(col("sig").isNotNull)
          .select(col(idCol).as("id"), col("sig"), col("seth"))
        wide.persist()
        try {
          val drops = Dedup.nearDedupDropSet(sigs(wide), sigs(readSink(spark, outDir, wide.schema)),
            numHashes, bands, minEstJaccard).withColumnRenamed("id", idCol)
          VersionedTable.commitAppend(spark, wide.join(drops, Seq(idCol), "left_anti"),
            outDir, txn = Some((appId, batchId)))
        } finally wide.unpersist(false)
      }
    }
    readSink(spark, outDir, schema).drop("sig", "seth")
  }

  /** Streaming perceptual-hash image dedup — [[streamNearDedup]]'s
    * multimodal sibling: each micro-batch dHashes its images, drops rows
    * within `maxHamming` of the sink head's hashes (all PRIOR survivors;
    * 8 bytes per image, payloads never re-read) or of a lower-id batch
    * sibling, then commits the survivors WITH their `phash` column as one
    * txn-marked append (`graft.image_dedup:<checkpointDir>`, batchId) —
    * the same replay contract: a covered batch returns before it decodes
    * an image. One write per trigger: the sink doubles as
    * the hash index, and column pruning keeps the probe from touching
    * image bytes. */
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
    val appId = s"graft.image_dedup:$checkpointDir"
    val sinkSchema = StructType(StructField("phash", LongType) +: schema.fields)
    foreachBatchToCompletion(spark, srcDir, schema, maxFilesPerTrigger, checkpointDir) {
      (batch, batchId) => if (!committed(outDir, appId, batchId)) {
        val index = readSink(spark, outDir, sinkSchema).select(col(idCol), col("phash"))
        // single consumer: the survivor frame (id, phash, payload…) goes
        // straight to the one append — no checkpoint, no second sink, no
        // re-hash (dedupAgainstIndex checkpoints the decoded hashes
        // internally, so images decode once per batch)
        VersionedTable.commitAppend(spark,
          Perceptual.dedupAgainstIndex(batch, bytesCol, idCol, index, maxHamming, bands)
            .select(col("phash") +: batch.columns.map(c => col(s"`$c`")): _*),
          outDir, txn = Some((appId, batchId)))
      }
    }
    readSink(spark, outDir, sinkSchema).drop("phash")
  }

  /** Continuous data-quality routing — `Relational.validateRules` in a
    * stream: each micro-batch splits into the valid sink and the
    * quarantine sink (rows annotated with their `violations`), both
    * written in the SAME foreachBatch so the source is read once per
    * batch. Each sink is a [[graft.tables.VersionedTable]] and each batch
    * makes one txn-marked append to each, under its own app id
    * (`graft.route.valid:<checkpointDir>`, `graft.route.quarantine:…`):
    * a crash between the two appends replays only the missing one. A side
    * with no rows is not appended to, so an all-valid stream leaves the
    * quarantine table without a version; a batch both markers cover
    * returns before it validates a row.
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
    val (validApp, quarantineApp) =
      (s"graft.route.valid:$checkpointDir", s"graft.route.quarantine:$checkpointDir")
    foreachBatchToCompletion(spark, srcDir, schema, maxFilesPerTrigger, checkpointDir) {
      (batch, batchId) =>
        if (!committed(validDir, validApp, batchId) ||
            !committed(quarantineDir, quarantineApp, batchId)) {
          val checked = Relational.validateRules(batch, rules)
            .localCheckpoint(true) // two sinks below: validate once
          val counts = checked.groupBy("is_valid").count().collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          if (counts.contains(1L))
            VersionedTable.commitAppend(spark,
              checked.where(col("is_valid") === 1L).drop("violations", "is_valid"),
              validDir, txn = Some((validApp, batchId)))
          if (counts.contains(0L))
            VersionedTable.commitAppend(spark,
              checked.where(col("is_valid") === 0L).drop("is_valid"),
              quarantineDir, txn = Some((quarantineApp, batchId)))
        }
    }
    (readSink(spark, validDir, schema),
      readSink(spark, quarantineDir, schema.add(StructField("violations", StringType))))
  }
}
