package graft.streaming

import graft.tables.{MaterializedAgg, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming materialized aggregate — the Delta "streaming aggregate table"
  * shape (reference: `03. Inference.py`'s always-on stream feeding a served
  * table, composed with the incremental-view layer instead of a plain
  * append): a file stream lands each micro-batch in a [[VersionedTable]],
  * then folds the view forward with [[MaterializedAgg.refresh]] — so the
  * serving layer reads an O(groups) table that is always one refresh behind
  * the stream head, and each refresh costs O(batch), never O(history).
  *
  * Exactly-once: the append carries Delta-style `(appId, batchId)` txn
  * metadata ([[VersionedTable.commitAppend]]), so a foreachBatch replay
  * after a crash (batch ran, checkpoint didn't commit) skips the re-append
  * instead of doubling rows; the refresh is idempotent by construction (a
  * no-op when the source version hasn't moved, and a fold of exactly the
  * unseen change feed when it has — including the crash window where the
  * append landed but the refresh didn't run). Restarting with the same
  * checkpoint resumes mid-stream: committed batches are skipped by the
  * checkpoint, an uncommitted-but-appended batch by the txn marker.
  *
  * 100 TB shape: per micro-batch cost is O(batch rows) append + O(batch)
  * change-feed fold + O(groups) state merge; the corpus is never re-read.
  * The view's versions give dashboards snapshot isolation from the stream.
  */
object StreamingMatview {

  /** Run the stream to completion over the currently-available input
    * (micro-batched per `maxFilesPerTrigger`) and return the final view.
    * `tableDir` accumulates the streamed rows as a versioned table (the
    * bronze layer); `viewDir` is the maintained aggregate (the gold layer).
    */
  def streamMatview(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      tableDir: String,
      viewDir: String,
      keyCols: Seq[String],
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // stable across restarts: the checkpoint IS the stream's identity
    val appId = s"graft.matview:$checkpointDir"
    StreamingInference.foreachBatchToCompletion(spark, srcDir, schema, maxFilesPerTrigger,
        checkpointDir) { (batch, batchId) =>
      VersionedTable.commitAppend(spark, batch, tableDir,
        txn = Some((appId, batchId)))
      if (!MaterializedAgg.exists(viewDir))
        MaterializedAgg.create(spark, tableDir, viewDir,
          keyCols, groupCols, sumCols, minMaxCols)
      else
        MaterializedAgg.refresh(spark, viewDir)
    }
    MaterializedAgg.read(spark, viewDir)
  }
}
