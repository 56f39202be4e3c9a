package graft.tables

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter index for POINT lookups — the pruning min/max
  * stats can't do: a high-cardinality key written in arrival order gives
  * every file the full value range ([[VersionedStats]] keeps everything),
  * but each file still holds only its own keys, and a per-file Bloom
  * answers "could key k be in this file?" in O(1) with `fpp` false
  * positives and ZERO false negatives — the Delta/Iceberg bloom-index
  * feature. A lookup reads `1 + fpp·(files-1)` files in expectation
  * instead of all of them.
  *
  * Sidecar layout: one row per data file (`file`, serialized filter)
  * under `<path>/_graft_bloom_<column>` — underscore-prefixed, invisible
  * to plain reads, rides along with the table dir. Staleness contract: the
  * manifest's file set must match the data dir exactly or reads fail
  * loudly (a file appended behind the index's back would silently miss
  * rows).
  *
  * Values are indexed as their Spark STRING cast (one canonical form for
  * any key type); lookups cast the same way on both sides, so the probe
  * is exact. At 100 TB the manifest is one bloom (KBs at these defaults)
  * per file — a driver-trivial collect, like every FileIndex.
  */
object BloomIndex {

  private def bloomDir(path: String, column: String) = s"$path/_graft_bloom_$column"

  private class BloomAgg(expected: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expected, fpp)
    override def reduce(b: BloomFilter, a: String): BloomFilter = {
      if (a != null) b.putString(a)
      b
    }
    override def merge(b1: BloomFilter, b2: BloomFilter): BloomFilter = {
      b1.mergeInPlace(b2)
      b1
    }
    override def finish(r: BloomFilter): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      r.writeTo(out)
      out.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.javaSerialization[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build (or rebuild) the per-file Bloom sidecar for `column`. One
    * read-back pass; the per-file filters build as partial aggregates
    * (map-side put, merge across tasks) — no value list ever materializes. */
  def write(spark: SparkSession, path: String, column: String,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Unit = {
    require(expectedPerFile > 0 && fpp > 0 && fpp < 1, s"bad bloom params ($expectedPerFile, $fpp)")
    val agg = udaf(new BloomAgg(expectedPerFile, fpp))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(agg(col(column).cast("string")).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(bloomDir(path, column))
  }

  /** (kept files, total files) for an equality lookup — zero false
    * negatives by construction, so reading the kept files + an exact
    * residual filter is row-identical to the full scan. */
  def prunedFiles(spark: SparkSession, path: String, column: String,
      value: String): (Seq[String], Long) = {
    val rows = loadManifest(spark, path, column)
    val kept = rows.collect { case (f, bloom) if bloom.mightContainString(value) => f }
    (kept, rows.length.toLong)
  }

  /** Point-lookup read through the Bloom sidecar: scan only files that
    * might hold `value`, then the exact equality residual. */
  def lookup(spark: SparkSession, path: String, column: String, value: String): DataFrame = {
    val (kept, _) = prunedFiles(spark, path, column, value)
    val base =
      if (kept.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(kept: _*)
    base.where(col(column).cast("string") === value)
  }

  /** Manifest load + the staleness guard shared with the stats manifest. */
  private def loadManifest(spark: SparkSession, path: String,
      column: String): Array[(String, BloomFilter)] = {
    val dir = bloomDir(path, column)
    val rows =
      try spark.read.parquet(dir)
        .select("file", "bloom").collect()
        .map(r => r.getString(0) -> BloomFilter.readFrom(r.getAs[Array[Byte]](1)))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"no bloom index for '$column' at $dir — build it with BloomIndex.write", e)
      }
    // NAME-SET comparison, not a count: a same-count rewrite (N files
    // overwritten by N different files) would pass a count guard and every
    // stale bloom would answer mightContain=false for keys that exist —
    // a silently empty lookup (same hole the skipping manifest had)
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val actual = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val described = rows.map { case (f, _) =>
      new org.apache.hadoop.fs.Path(f).getName }.toSet
    require(described == actual,
      s"bloom index at $dir is STALE: " +
        s"${(actual -- described).take(3).mkString(", ")} on disk but not " +
        s"described / ${(described -- actual).take(3).mkString(", ")} described " +
        "but gone — re-run BloomIndex.write after appends/rewrites")
    rows
  }
}
