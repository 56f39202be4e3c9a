package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap shared by Verify, Bench, and the test suites.
  *
  * Centralizes the configuration the engine requires:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the `events` fixture stores
  *    `TIMESTAMP(NANOS)`, which Spark 4 otherwise rejects with
  *    `PARQUET_TYPE_ILLEGAL` (SURVEY.md §5.1). With the flag set, `ts` reads
  *    as `LongType` epoch-nanoseconds; oracle SQL compares via `epoch_ns`.
  *  - AQE on (coalesce + skew-join): at the 100 TB design point we rely on
  *    runtime re-planning — partition coalescing after filters and skew-join
  *    splitting — instead of hand-tuned static partition counts.
  *  - Headless AWT: image kernels (`graft.image.Kernels`) run `javax.imageio`
  *    inside executor threads; no display exists in this environment
  *    (SURVEY.md §7 risk 6).
  *  - Codegen cache of [[CodegenCacheEntries]] classes
  *    (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100). Janino
  *    compiles each distinct generated class once into one JVM-wide LRU
  *    cache, and the engine's working sets exceed 100 entries. A
  *    corpus-dedup round (`CorpusPipeline.prepare`, `Dedup.jaccardJoinExact`,
  *    `Similarity.semanticDedup`) needs ~113 classes, so at 100 every class
  *    was evicted before its next use and each round recompiled all of
  *    them; keeping them cuts the round's wall time by ~30% on 4 vCPUs,
  *    with the same plans. One full `graft.Bench` pass at sf0.1 compiles
  *    2,587 distinct classes (the sum of the `compiles` map Bench writes to
  *    BENCH_FULL.json), which the constant holds with slack for the cache's
  *    hash segments. Cost: the benchmark's `live_heap_mb` rose 1.1–4.1 MB
  *    (≤5.2%) for 47–320 more cached classes, ~13–25 KB of heap per class.
  *    The conf is static: `CodeGenerator` reads it once per JVM, when the
  *    first codegen builds its cache, so a session built earlier in the
  *    same JVM without `configure` pins the cache at 100.
  */
object GraftSession {

  /** Capacity of Spark's JVM-wide generated-class cache; see the scaladoc
    * above for the measured working sets behind it. */
  val CodegenCacheEntries = 3000

  /** Apply the engine's standard configs to an existing builder (used by
    * Verify/Bench, which own master/parallelism per the driver contract). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    System.setProperty("java.awt.headless", "true")
    // WindowExec's "No Partition Defined" warning is quieted inside
    // GraftExtensions (post-logging-init) — see the audit note there.
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE coalescing is BYTE-based; its 1 MB minPartitionSize floor
      // serializes compute-dense small-shuffle stages (q_jaccard_join's
      // verification stage: 3.2 MB of candidate pairs but ~10 s of
      // array_intersect CPU was coalesced onto 3 of 32 cores — the whole
      // measured 3.5-vs-5.3 s variance band). parallelismFirst keeps the
      // core-count target; the lower floor lets it engage on small stages.
      // 256k measured best among {1m, 256k, 64k}: 64k re-split the
      // KB-scale commit-protocol shuffles into overhead-dominated tasks
      // (q_versioned_deltalog/matview +0.4 s), while 256k keeps those at
      // one task and still gives the MB-scale compute stages 10×+ the
      // parallelism the 1 MB default allowed.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
  }

  /** Standalone builder for tests / local exploration. */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    configure(
      SparkSession.builder()
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString))

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily overridden —
    * the per-query state-store sizing knob for STREAMING pipelines. A
    * stateful streaming query materializes one state store per shuffle
    * partition per stateful operator (a stream-stream join keeps four);
    * each store pays checkpoint/commit I/O EVERY micro-batch regardless of
    * how little state it holds, so the right partition count tracks state
    * VOLUME, not the session's batch-parallelism default — Structured
    * Streaming pins the count from the first run's checkpoint, making this
    * a deliberate per-pipeline choice, not a tuning afterthought. Queries
    * running under the override produce identical results (hash
    * partitioning only relocates keys). Scoped + restored; the session's
    * batch default is untouched outside `body`. */
  def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    require(n >= 1, s"shuffle partitions must be >= 1, got $n")
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }
}
