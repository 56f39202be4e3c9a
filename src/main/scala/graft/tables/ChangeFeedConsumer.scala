package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental consumer over a [[VersionedTable]]'s change feed — the Delta
  * `readChangeFeed` connector shape (reference streams its inference results
  * the same way, `03. Inference.py`'s always-on consumer): a durable
  * per-consumer offset under `<dir>/_consumers/` records the last source
  * version handled, and each poll delivers exactly the unseen span's
  * changes. Bootstrap follows the standard CDC-connector contract: the
  * first poll delivers a full SNAPSHOT of the current version (a change
  * feed cannot express the first version's contents — [[VersionedTable
  * .changes]] spans are predecessor-exclusive), and every later poll
  * delivers `changes(offset, latest)`.
  *
  * Delivery is at-least-once (a crash between the handler and the offset
  * write re-delivers the span); end-to-end exactly-once composes with
  * txn-marked sinks — pass the span's `to` version as the sink's
  * txnVersion ([[VersionedTable.commitAppend]]/[[VersionedTable
  * .commitMerge]]) and a re-delivered span's writes skip. The offset write
  * and each poll run under a consumer-scoped lease, so two instances of
  * the same consumer cannot interleave polls and double-process a span.
  *
  * 100 TB shape: each poll costs O(that span's changed files) — the
  * change feed prunes every file shared across the span's version steps
  * and skips dataChange=false (compaction) steps wholesale; the corpus is
  * re-read never, the offset is one tiny file. */
object ChangeFeedConsumer {

  private def consumersDir(dir: String) = new Path(dir, "_consumers")
  private def offsetPath(dir: String, id: String) = {
    require(id.matches("[A-Za-z0-9._:-]+"), s"consumer id `$id` must be filename-safe")
    new Path(consumersDir(dir), s"$id.offset")
  }

  /** Last source version this consumer has fully handled, if any. */
  def offset(dir: String, id: String): Option[Long] =
    FsIO.readText(offsetPath(dir, id).toString)
      .flatMap(_.split("\n").find(_.startsWith("version="))
        .map(_.stripPrefix("version=").toLong))

  private def writeOffset(dir: String, id: String, v: Long): Unit = {
    val fs = consumersDir(dir).getFileSystem(FsIO.hadoopConf())
    // the offset must never be ABSENT mid-update: a crash in a
    // delete→rename window would lose it and the next poll would re-run
    // the bootstrap SNAPSHOT on top of a populated sink (every row
    // duplicated). replaceText keeps it continuously present per-scheme
    // (staged atomic rename on file/HDFS, one atomic PUT on object
    // stores) — the same contract as the table's property store.
    FsIO.replaceText(fs.makeQualified(offsetPath(dir, id)), s"version=$v\n",
      fs.makeQualified(new Path(consumersDir(dir), s"$id.offset.tmp")))
  }

  /** Poll once at span grain — the lease/offset core under both feed
    * flavors. On first contact `snapshot(currentState, version)` runs;
    * afterwards `span(fromVersion, toVersion)` runs for the unseen span
    * (the handler chooses HOW to read it: the per-step feed, the net
    * diff, …). Neither runs when the source hasn't moved. Returns the new
    * offset. Handlers must be idempotent under re-delivery
    * (at-least-once). */
  def pollSpan(spark: SparkSession, dir: String, id: String)(
      snapshot: (DataFrame, Long) => Unit)(
      span: (Long, Long) => Unit,
      sinkOffset: () => Option[Long] = () => None): Long =
    FsIO.withWriteLock(offsetPath(dir, id).toString, s"ChangeFeedConsumer($id)",
        TableManager.DefaultLockLeaseMs) {
      val latest = VersionedTable.latestVersion(dir)
        .getOrElse(sys.error(s"ChangeFeedConsumer: $dir has no committed version"))
      // effective offset = the FURTHEST of the offset file and the sink's
      // own durable marker (`sinkOffset`, e.g. the replicate txn markers):
      // a crash between the sink commit and the offset write leaves the
      // sink AHEAD of the file — re-delivering from the stale file offset
      // while the source kept moving can apply a span whose endpoints
      // straddle the already-applied work (phantom keys that netted away
      // across the crash boundary would survive in the sink forever), and
      // a LOST offset file would re-run the whole bootstrap snapshot on a
      // populated sink. The sink marker recovers both.
      val eff = (offset(dir, id).toSeq ++ sinkOffset().toSeq)
        .reduceOption(_ max _)
      eff match {
        case None =>
          snapshot(VersionedTable.read(spark, dir, Some(latest)), latest)
          writeOffset(dir, id, latest)
          latest
        case Some(from) if from < latest =>
          span(from, latest)
          writeOffset(dir, id, latest)
          latest
        case Some(from) =>
          require(from == latest,
            s"ChangeFeedConsumer: offset $from is ahead of the source ($latest) — " +
              "the source table was rebuilt; drop the consumer offset to re-bootstrap")
          // self-heal: when the sink marker was ahead of (or replaced) a
          // stale/lost offset file, repair the file so the next poll
          // doesn't depend on the sink lookup again
          if (!offset(dir, id).contains(from)) writeOffset(dir, id, from)
          from
      }
    }

  /** Poll once. On first contact, `snapshot(currentState, version)` runs;
    * afterwards `changes(feed, fromVersion, toVersion)` runs with the
    * unseen span's change feed (columns per [[VersionedTable.changes]]).
    * Neither runs when the source hasn't moved. Returns the new offset.
    * The handler must be idempotent under re-delivery (at-least-once). */
  def poll(spark: SparkSession, dir: String, id: String,
      keyCols: Seq[String], valueCols: Seq[String])(
      snapshot: (DataFrame, Long) => Unit)(
      changes: (DataFrame, Long, Long) => Unit): Long =
    pollSpan(spark, dir, id)(snapshot) { (from, latest) =>
      changes(VersionedTable.changes(spark, dir, from, latest, keyCols, valueCols),
        from, latest)
    }

  /** Bronze→silver replication through the feed: maintains `silverDir` as a
    * row-identical mirror of `bronzeDir`'s latest version, incrementally —
    * each poll applies the whole span as ONE conditional MERGE
    * ([[VersionedTable.commitMergeConditional]]): the span's NET per-key
    * change ([[VersionedTable.netChanges]] — ONE endpoint diff join, not a
    * per-step feed plus a last-state window; a key added then removed
    * inside the span nets away entirely, which is exactly what the mirror
    * wants) rides in as the source with its `change_type`, a DELETE arm
    * takes the removed keys, UPDATE SET * the changed ones, and the INSERT
    * arm the added ones — one probe, one file-grain rewrite, ONE commit per
    * span (the merge-then-delete shape this replaced paid two probes, two
    * rewrites, two commits, and a driver-side key collect per span — pure
    * protocol latency on small CDC batches). Txn-marked with the span's
    * `to` version, so a crash-replayed span applies exactly once. The
    * mirror is the degenerate transform; real silver tables put a
    * projection/filter in `silverTransform`. */
  def replicate(spark: SparkSession, bronzeDir: String, silverDir: String,
      id: String, keyCols: Seq[String], valueCols: Seq[String],
      silverTransform: DataFrame => DataFrame = identity): Long = {
    import org.apache.spark.sql.functions._
    val ctCol = "__graft_change_type"
    // the sink's own durable markers recover the offset when the file is
    // lost or behind (crash between the silver commit and the offset
    // write); both the bootstrap and the apply markers count
    def silverMarker(): Option[Long] =
      if (VersionedTable.latestVersion(silverDir).isEmpty) None
      else (VersionedTable.lastTxnVersion(silverDir, s"replicate:$id").toSeq ++
        VersionedTable.lastTxnVersion(silverDir, s"replicate:$id:apply").toSeq)
        .reduceOption(_ max _)
    pollSpan(spark, bronzeDir, id) { (state, v) =>
      // the mirror maintains keyCols ++ valueCols (spans carry nothing
      // else) — bootstrapping the FULL bronze schema would leave any
      // extra column permanently stale on update and null on insert
      val projected = state.select(
        (keyCols ++ valueCols.filterNot(keyCols.contains)).map(c => col(s"`$c`")): _*)
      VersionedTable.commitAppend(spark, silverTransform(projected), silverDir,
        txn = Some((s"replicate:$id", v)))
    } ({ (from, to) =>
      val net = VersionedTable.netChanges(spark, bronzeDir, from, to,
        keyCols, valueCols)
      // source = the span's net per-key state, shaped as the silver row
      // plus the change flag. The transform applies ONLY to the upsert rows
      // — removed keys carry null value columns (no new side), and a
      // filtering transform would silently swallow the DELETE (null
      // predicate → dropped row → the key survives in silver forever); a
      // delete is keyed, not valued, so it must reach the merge
      // unconditionally. The transform must preserve the row shape
      // (identity/filter transforms do; unionByName refuses loudly
      // otherwise).
      val shaped = net.select(
        keyCols.map(c => col(s"`$c`")) ++
          valueCols.filterNot(keyCols.contains)
            .map(c => col(s"`${c}_new`").as(c)) :+
          col("change_type").as(ctCol): _*)
      val upserts = shaped.where(col(ctCol) =!= "removed")
      val kept    = silverTransform(upserts)
      // an update that moves a row OUT of a filtering transform must
      // become a DELETE — the row left f(bronze), so a matching silver
      // row is stale; without this the filtered-out upsert simply never
      // reached the merge and the stale row survived forever
      val filteredOut = upserts
        .join(kept.select(keyCols.map(c => col(s"`$c`")): _*), keyCols, "left_anti")
        .withColumn(ctCol, lit("removed"))
      val src = kept
        .unionByName(filteredOut)
        .unionByName(shaped.where(col(ctCol) === "removed"))
      VersionedTable.commitMergeConditional(spark, silverDir, src, keyCols,
        Seq(
          VersionedTable.WhenMatchedDelete(Some(s"s.$ctCol = 'removed'")),
          VersionedTable.WhenMatchedUpdate(Some(s"s.$ctCol != 'removed'"), Map.empty),
          VersionedTable.WhenNotMatchedInsert(Some(s"s.$ctCol != 'removed'"), None)),
        txn = Some((s"replicate:$id:apply", to)))
    }, sinkOffset = () => silverMarker())
  }
}
