package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-management layer (SURVEY.md §2a S7–S13): managed Parquet tables
  * standing in for the reference's Delta tables. This environment ships no
  * Delta jar (SURVEY.md §1): the catalog-table helpers here (overwrite,
  * mergeSchema, bucketing, codec control) carry Spark's file-commit-protocol
  * guarantees, and every path table with a history — compaction included
  * ([[VersionedTable.commitCompact]]) — commits through [[VersionedTable]]'s
  * log.
  */
object TableManager {

  /** S7: overwrite + create managed table
    * (`write.format("delta").mode("overwrite").saveAsTable`,
    * `00. Explore.py:66`). */
  def overwriteTable(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(table)

  /** S8: `.option("mergeSchema", true)` overwrite emulation
    * (`01. Ingest.py:180`, `03. Inference.py:46-51`): the new table schema is
    * the union of the existing table's schema and the incoming one; columns
    * the incoming data lacks are null-filled with the existing type. */
  def overwriteTableMergeSchema(spark: SparkSession, df: DataFrame, table: String): Unit = {
    if (!spark.catalog.tableExists(table)) { overwriteTable(df, table); return }
    val existing = spark.table(table).schema
    val incoming = df.schema
    // Name matching must follow the analyzer's case sensitivity (default:
    // INsensitive): a case-sensitive contains() would classify 'Score' as
    // missing next to incoming 'score', null it out via withColumn (which
    // resolves case-insensitively and REPLACES the real column), then emit
    // duplicate columns. Delta's mergeSchema matches case-insensitively.
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def norm(n: String)  = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val incomingN = incoming.fieldNames.map(norm).toSet
    val existingN = existing.fieldNames.map(norm).toSet
    val missing  = existing.filterNot(f => incomingN.contains(norm(f.name)))
    val widened  = missing.foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    // Stable column order: existing columns first, then genuinely new ones.
    // Existing columns are aliased BACK to their existing-schema casing:
    // under the case-insensitive analyzer, col("Score") happily resolves to
    // an incoming 'score' attribute and the evolved table would silently
    // adopt the incoming casing — Delta's mergeSchema keeps the existing one.
    val aligned = widened.select(
      (existing.fieldNames.map(n => col(s"`$n`").as(n)) ++
        incoming.fieldNames.filterNot(n => existingN.contains(norm(n))).map(n => col(s"`$n`")))
        .toIndexedSeq: _*)
    // Overwriting the table being read requires materializing the plan first
    // (Delta does this via the transaction log; we stage through a temp view
    // of collected files by writing to a staging dir and swapping).
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val staging   = s"$warehouse/__staging_$table"
    aligned.write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging).write.mode("overwrite").format("parquet").saveAsTable(table)
    deleteDir(spark, staging)
  }

  /** Write-lease length of every table writer (versioned commits,
    * constraints, views, the IVF index append). No writer holds the lease
    * across a data-proportional write: versioned data commits stage
    * outside it and hold it only for the O(metadata) publish tail, so
    * 15 min is a wide bound on any legitimate hold, and a crashed
    * holder's lease is taken over within one lease. It also bounds how
    * long a publish waits behind a live holder. */
  val DefaultLockLeaseMs: Long = 15L * 60 * 1000

  /** N-COLUMN z-order (Delta's `ZORDER BY (c1, ..., cN)`): interleave each
    * column's range-normalized bucket rank bit-by-bit — dimension d's bit i
    * lands at z-bit i·N+d — so rows close in EVERY listed dimension are
    * close in the one-dimensional sort, and each written file's min/max
    * stats cover a narrow range of ALL the columns. Bits per dimension =
    * min(16, 62/N) (the z stays in a long; more dimensions trade per-axis
    * resolution, the standard z-order cost). Codegen'd bit arithmetic, no
    * UDF; one stats aggregate broadcast as literals. */
  private[tables] def zLayoutN(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String], targetFiles: Int, op: String): org.apache.spark.sql.DataFrame = {
    require(cols.nonEmpty && cols.size <= 7,
      s"$op: ZORDER BY takes 1-7 columns, got ${cols.size}")
    require(cols.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size == cols.size,
      s"$op: duplicate ZORDER BY column in ${cols.mkString(", ")}")
    // z-ordering is defined for numeric range-bucketable columns only —
    // reject anything else up front with a clear message (an ANSI cast
    // failure deep in the stats job would be opaque)
    cols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"$op: column '$c' is ${df.schema(c).dataType.catalogString}; z-order requires numeric columns")
    }
    // non-finite discipline: NaN would poison min/max and then fail the
    // ANSI cast to long, and an INFINITY makes the bucket expression
    // Inf/Inf = NaN (same crash) or — with an infinite lo — NaNs EVERY
    // row; null both out so degenerate rows cluster into one range
    def clean(c: String) = {
      val d = nanvl(col(c).cast("double"), lit(null).cast("double"))
      when(abs(d) === Double.PositiveInfinity, lit(null).cast("double")).otherwise(d)
    }
    val aggs  = cols.flatMap(c => Seq(min(clean(c)), max(clean(c))))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    require(!stats.anyNull,
      s"$op: ${cols.mkString("/")} have no non-null, non-NaN values to bucket")
    val n = cols.size
    val bitsPer   = math.min(16, 62 / n)
    val maxBucket = (1L << bitsPer) - 1
    // cleaned columns feed the bucket arithmetic too: a raw NaN row would
    // reach the ANSI cast-to-long and crash the rewrite; cleaned, a
    // NaN/null row gets a null z and clusters into one range
    def bucket(d: Int): Column = {
      val (lo, hi) = (stats.getDouble(2 * d), stats.getDouble(2 * d + 1))
      if (hi <= lo) lit(0L)
      else least(greatest(((clean(cols(d)) - lit(lo)) / lit(hi - lo) * lit(maxBucket.toDouble))
        .cast("long"), lit(0L)), lit(maxBucket))
    }
    val buckets = (0 until n).map(bucket)
    val z = (for { i <- 0 until bitsPer; d <- 0 until n } yield
      shiftright(buckets(d), i).bitwiseAND(1L) * lit(1L << (i * n + d))
    ).reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Bucketed managed table: pre-shuffles once at write time so subsequent
    * equi-joins and aggregations on `bucketCol` between co-bucketed tables
    * plan WITHOUT an Exchange — the decisive layout optimization for
    * repeated large-fact joins at 100 TB (pay one shuffle at ingest, never
    * again). Verify with `.explain`: no `Exchange` above the scans. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** S11: run `body` with a specific Parquet compression codec, restoring the
    * previous codec after — the reference brackets binary-payload writes with
    * `uncompressed` (`01. Ingest.py:176-183`: JPEG bytes don't recompress). */
  def withParquetCodec[T](spark: SparkSession, codec: String)(body: => T): T = {
    val key  = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.get(key)
    spark.conf.set(key, codec)
    try body
    finally spark.conf.set(key, prev)
  }

  /** S13: drop table + recursive dir delete (`%fs rm -r`,
    * `03. Inference.py:62-67`). */
  def dropTable(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")

  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir), true)
    // the write-lease lock lives NEXT TO the table dir and would linger as
    // an orphan past the delete
    fs.delete(new Path(dir + ".__write_lock"), false)
    // a table recreated here must not inherit the old one's day marker
    TimePartitioned.invalidateDayColumn(dir)
    // a versioned table recreated at this path could collide with cached
    // commit-entry text (same version + same-millisecond commit name)
    VersionedTable.invalidateEntryCache(dir)
  }

  /** Delta `MERGE INTO` emulation (upsert): WHEN MATCHED THEN UPDATE SET
    * <source columns>, WHEN NOT MATCHED THEN INSERT. The reference's storage
    * layer (Delta Lake) ships MERGE as its canonical upsert; on plain Parquet
    * we express the same semantics relationally; [[VersionedTable.commitMerge]]
    * applies it to the touched files and commits the result as one version.
    *
    * Result schema = target schema. For each matched key, non-key columns
    * present in `source` take the source value; columns absent from `source`
    * keep the target value. Source rows with no target match are inserted
    * (target-only columns null). Unmatched target rows pass through.
    *
    * 100 TB plan shape: NOT a full-outer join — Spark cannot broadcast
    * FullOuter, so that formulation sort-merge-shuffles the ENTIRE target
    * (payload columns included) even for a 10-row update batch. Instead:
    * update path = left-outer join (source broadcasts when small — the
    * common incremental-upsert case — and the target's rows never move);
    * insert path = left-anti of the source against the target's KEY
    * PROJECTION (column pruning means at worst the target ships keys only);
    * union the two. Worst case shuffles keys, never target payloads.
    *
    * Contract: `source` must contain all `keyCols` plus a subset of target
    * columns, and be unique per key. Like Delta MERGE, a duplicate source
    * key fails LOUDLY at execution time (a per-row assertion riding the
    * plan — silent fan-out of matched target rows would be corrupted
    * output); pre-aggregate the source to choose a winner. */
  def mergeUpsert(target: DataFrame, source: DataFrame, keyCols: Seq[String]): DataFrame = {
    val tCols = target.columns.toSeq
    // Membership checks follow the analyzer's case sensitivity (default:
    // INsensitive) — a source column cased differently from the target must
    // match here exactly as the join/select resolution below will match it,
    // not get spuriously rejected as "not in target schema".
    val caseSensitive = target.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def norm(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val tColsN   = tCols.map(norm).toSet
    val srcColsN = source.columns.map(norm).toSet
    val keyColsN = keyCols.map(norm).toSet
    val extra = source.columns.filterNot(c => tColsN.contains(norm(c)))
    require(keyCols.forall(k => srcColsN.contains(norm(k))),
      s"mergeUpsert: source lacks key column(s) ${keyCols.filterNot(k => srcColsN.contains(norm(k))).mkString(", ")}")
    require(extra.isEmpty,
      s"mergeUpsert: source column(s) ${extra.mkString(", ")} not in target schema " +
        "(schema evolution goes through overwriteTableMergeSchema)")
    // string-qualified references (not df(...)): the source typically derives
    // from the target (read-modify-upsert), and shared-lineage attribute ids
    // would make unqualified references ambiguous after the join. Backticks
    // keep dotted column names from parsing as nested-field access.
    def tc(c: String) = col(s"t.`$c`")
    def sc(c: String) = col(s"s.`$c`")
    val cond = keyCols.map(k => tc(k) <=> sc(k)).reduce(_ && _)
    // Match marker doubling as the duplicate-key tripwire: a source row may
    // carry null in any column (even, under null-safe keys, a key), so
    // nullness can't stand in for "matched"; and a window count over the
    // source's keys (source-sized shuffle only — the cheap side) detects
    // contract violations where they corrupt output instead of trusting docs.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(c => col(s"`$c`")): _*)
    val marked = source.withColumn("__matched",
      when(count(lit(1)).over(w) === 1, lit(true))
        .otherwise(raise_error(concat(
          lit("mergeUpsert: duplicate source key ("),
          concat_ws(",", keyCols.map(c => col(s"`$c`").cast("string")): _*),
          lit(") — MERGE requires a unique source per key; pre-aggregate the source")))
          .cast("boolean")))
    val updated = target.alias("t").join(marked.alias("s"), cond, "left_outer")
      // the filter is semantically a no-op (unmatched rows coalesce true;
      // matched rows' marker is true or raises) — its job is to REFERENCE
      // the marker so column pruning cannot drop the tripwire when the
      // source carries no non-key columns (a keys-only source with a dup
      // key used to fan the matched target row out silently)
      .where(coalesce(col("s.__matched"), lit(true)))
      .select(tCols.map { c =>
        if (!keyColsN.contains(norm(c)) && srcColsN.contains(norm(c)))
          when(col("s.__matched"), sc(c)).otherwise(tc(c)).as(c)
        else tc(c).as(c)
      }: _*)
    // insert path re-uses `marked` and filters on the (always-true) marker so
    // the duplicate tripwire also fires for dup keys that match no target row
    // (column pruning would silently drop an unreferenced assertion column)
    val inserts = marked.alias("s")
      .join(target.select(keyCols.map(c => col(s"`$c`")): _*).alias("t"), cond, "left_anti")
      .where(col("s.__matched"))
      .select(tCols.map { c =>
        if (srcColsN.contains(norm(c))) sc(c).as(c)
        else lit(null).cast(target.schema(c).dataType).as(c)
      }: _*)
    updated.unionByName(inserts)
  }
}
