package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Empirical SCALING study — converts the "scale-safe by plan shape"
  * arguments into measurements. Amplifies the sf0.1 fixtures ×F with
  * STRUCTURE-PRESERVING transforms (below), then runs each scale-critical
  * workload at every factor, recording wall seconds, shuffle-write MB and
  * output rows. Results feed `SCALING.md`; linear shuffle growth per factor
  * is the claim under test.
  *
  * Amplification must preserve the workload's character, not just its row
  * count — naive row replication would make every replica a near-duplicate
  * of its siblings and blow the dedup workloads up quadratically with a
  * structure the real corpus doesn't have. Per copy k:
  *
  *  - documents: ids shift by k·10⁶; every token gets a copy-specific
  *    suffix (`word` → `word~k`). A token bijection preserves every
  *    within-copy shingle/Jaccard relation EXACTLY while making cross-copy
  *    token sets disjoint — duplicate structure per document stays constant
  *    as the corpus grows, the honest 100 TB shape.
  *  - embeddings: ids shift; each copy applies its own fixed PERMUTATION of
  *    the 64 dimensions — an isometry (all within-copy cosines exactly
  *    preserved), while cross-copy similarities decorrelate.
  *  - lineitem/orders: key ranges shift per copy (orderkey +k·10⁷, custkey
  *    +k·10⁶ — multiples of every modulus the workloads filter on);
  *    part stays FIXED (the item catalog is not data-sized in reality —
  *    interactions grow, the catalog doesn't).
  *
  * Scale-dependent knobs are derived from N exactly as a production
  * deployment would derive them (and SCALING.md documents each formula):
  * IVF centroid count ∝ √N, LSH band bits + log₂F, z-order target file
  * count ∝ F (constant file SIZE), streaming trigger size ∝ F (constant
  * trigger COUNT). Everything else runs with the declared queries' knobs.
  */
object ScaleBench {

  private val IdStride    = 1000000L  // divisible by 10, 50 — the workload moduli
  private val OrderStride = 10000000L

  // ------------------------------------------------------------ amplifier

  private def fisherYates(n: Int, seed: Long): Array[Int] = {
    def mix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d4a2ca9ab4c19bL
      z ^ (z >>> 31)
    }
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = (math.floorMod(mix(seed * 1013904223L + i), i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Planted-companion spacing and id offset (embeddings): every
    * `PlantEvery`-th amplified vector gets a jittered twin at
    * id + PlantOffset with cosine ≈ 0.97 to its original — a KNOWN
    * near-dup population, so the LSH study reports recall = found/planted
    * instead of guessing at unlabeled structure. PlantOffset sits above
    * every amplified id (ids < factor·IdStride ≤ 1000·IdStride). */
  val PlantEvery  = 50L
  val PlantOffset = 1000L * IdStride

  def amplify(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    import spark.implicits._
    require(factor >= 1 && factor <= 1000)
    val copies = spark.range(factor).select(col("id").cast("int").as("k"))

    // per-table idempotence: a workload-definition fix that touches one
    // table's amplification re-generates ONLY that table (delete its dir)
    def once(name: String)(write: String => Unit): Unit = {
      val path = s"$outDir/$name.parquet"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) write(path)
    }

    once("documents") { path =>
      Tables.load(spark, srcDir, "documents").crossJoin(broadcast(copies))
        .select(
          (col("doc_id") + col("k") * lit(IdStride)).as("doc_id"),
          when(col("k") === 0, col("text")).otherwise(
            regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1~"), col("k")))).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
        .repartition(4 * factor)
        .write.mode("overwrite").parquet(path)
    }

    once("embeddings") { path =>
      val perms = (0 until factor).map(k => (k, fisherYates(64, k.toLong)))
      val permDf = broadcast(perms.toDF("k", "perm"))
      val base = Tables.load(spark, srcDir, "embeddings").crossJoin(permDf)
        .select(
          (col("vec_id") + col("k") * lit(IdStride)).as("vec_id"),
          when(col("k") === 0, col("embedding")).otherwise(
            transform(col("perm"), i => element_at(col("embedding"), i + 1))).as("embedding"),
          col("label"))
      // companion = component-wise multiplicative jitter x·(1 + 0.43u),
      // u ∈ [-1,1] hash-derived: E[cos] = 1/√(1+Var[0.43u]) ≈ 0.97, and
      // the 64-component averaging keeps per-pair spread tight (±~0.015),
      // so every planted pair clears a 0.9 study threshold
      val planted = base.where(col("vec_id") % PlantEvery === 0)
        .select(
          (col("vec_id") + lit(PlantOffset)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x * (lit(1.0) + lit(0.43) *
              (pmod(xxhash64(col("vec_id"), i), lit(2001L)).cast("double") / 1000.0 - 1.0)))
              .cast("float")).as("embedding"),
          col("label"))
      base.unionByName(planted)
        .repartition(2 * factor)
        .write.mode("overwrite").parquet(path)
    }

    once("lineitem") { path =>
      Tables.load(spark, srcDir, "lineitem").crossJoin(broadcast(copies))
        .select(
          (col("l_orderkey") + col("k") * lit(OrderStride)).as("l_orderkey"),
          col("l_partkey"), col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
        .repartition(8 * factor)
        .write.mode("overwrite").parquet(path)
    }

    once("orders") { path =>
      Tables.load(spark, srcDir, "orders").crossJoin(broadcast(copies))
        .select(
          (col("o_orderkey") + col("k") * lit(OrderStride)).as("o_orderkey"),
          (col("o_custkey") + col("k") * lit(IdStride)).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .repartition(4 * factor)
        .write.mode("overwrite").parquet(path)
    }

    // fixed catalog: copied verbatim
    once("part") { path =>
      Tables.load(spark, srcDir, "part")
        .write.mode("overwrite").parquet(path)
    }
  }

  // ------------------------------------------------------------ workloads

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Bytes newly staged by version `v` of a versioned table: data files +
    * DV sidecars in v's manifest but not v-1's — a commit's physical write
    * amplification. */
  private def morStagedBytes(s: SparkSession, dir: String, v: Long): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def all(ver: Long) =
      tables.VersionedTable.entriesOf(dir, ver).flatMap(e => e._1 +: e._2)
    val prev = all(v - 1).toSet
    all(v).distinct.filterNot(prev).map { rel =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), rel)).getLen
    }.sum
  }

  /** (name, fn(spark, dir, factor) => result-to-count). Knob formulas in
    * the scaladoc above; each mirrors its declared q_* twin's plan. */
  private def workloads: Seq[(String, (SparkSession, String, Int) => DataFrame)] = Seq(

    "dedup_exact" -> ((s, d, _) =>
      Dedup.exactGroups(t(s, d, "documents"), "text", "doc_id")),

    "dedup_near_drop" -> ((s, d, _) =>
      Dedup.dropNearDuplicates(t(s, d, "documents"), "text", "doc_id",
        shingleN = 2, minJaccard = 0.8)),

    // exact-threshold similarity join: the token bijection keeps cross-copy
    // shingle sets disjoint, so candidates stay frequency-localized within
    // copies — the claim under test is candidates ∝ N (not N²)
    "jaccard_join" -> ((s, d, _) =>
      Dedup.jaccardJoinExact(t(s, d, "documents"), "text", "doc_id",
        minJaccard = 0.8, shingleN = 2)),

    // winnowing: doc-local kernel selection, only (id, fp) pairs shuffle
    "winnow" -> ((s, d, _) =>
      TextAnalysis.winnowStats(t(s, d, "documents"), "text", "doc_id",
        k = 8, w = 16)),

    "minhash_index" -> ((s, d, _) =>
      Dedup.minHashIndex(t(s, d, "documents"), "text", "doc_id")),

    // fixed base index (copy-0's first 250 docs), growing batch — same
    // plan as the declared q_dedup_near_incr since its r18 conversion:
    // 2-shingles, J == 1.0 (the seth exact-equality confirm path), the
    // 512 bucket cap. Measuring the old 0.7-estimate plan here would
    // hide the fingerprint join/compare cost from the scaling curve.
    "dedup_near_incr" -> ((s, d, _) => {
      val docs  = t(s, d, "documents")
      val index = Dedup.minHashIndex(
        docs.where(col("doc_id") < 250), "text", "doc_id", shingleN = 2)
      Dedup.nearDedupAgainstIndex(
        docs.where(col("doc_id") >= 250), "text", "doc_id", index,
        shingleN = 2, minEstJaccard = 1.0, maxBucketSize = 512)
    }),

    // FIXED eval set (copy-0's %10 docs), growing train side — the real
    // decontamination shape at 100 TB
    "decontaminate" -> ((s, d, _) =>
      TextAnalysis.contamination(t(s, d, "documents"), "text", "doc_id",
        isEval = col("doc_id") < IdStride && col("doc_id") % 10 === 0, n = 3)),

    "decontaminate_bloom" -> ((s, d, _) =>
      TextAnalysis.contaminationBloom(t(s, d, "documents"), "text", "doc_id",
        isEval = col("doc_id") < IdStride && col("doc_id") % 10 === 0, n = 3)),

    // support ∝ 1/F — a constant ABSOLUTE count threshold: the token
    // bijection grows the vocabulary ×F while each variant's count stays
    // fixed, so holding relative support constant would (correctly) return
    // an empty set past f≈10. MG state is k = 1/support entries/partition,
    // growing ∝ F — the honest price of a lower support at any scale.
    "heavy_hitters" -> ((s, d, f) =>
      TextAnalysis.heavyHitters(t(s, d, "documents"), "text", support = 0.002 / f)),

    // planted-duplicate recall study. Per-band bits r grow with log2(F):
    // SRP random-pair band collision odds are 2^-r (hyperplane bits on
    // near-orthogonal vectors are fair coins), so candidate volume
    // ∝ bands·N²·2^-r stays ∝ N; bands grow 4→5 alongside to buy back the
    // recall longer bands cost on true pairs (per-bit agreement ≈0.92 at
    // the planted cosine 0.97). minCosine 0.9 (vs the declared query's
    // 0.2 on un-amplified data) keeps the OUTPUT linear too: a threshold
    // 1.6σ from random admits a quadratic share of random pairs at ANY
    // engine's hands; the planted population sits safely above 0.9.
    // rows ≈ recovered planted pairs; denominator = N_base·F/PlantEvery.
    // bands 4→5→8 as r grows (multi-word band keys lift the old r·b ≤ 64
    // single-long ceiling, so the recall the longer bands cost is bought
    // back instead of surrendered — the measured recall-vs-scale table)
    "embedding_neardup" -> ((s, d, f) => {
      val r = 6 + (math.log(f.toDouble) / math.log(2)).round.toInt
      val b = if (f >= 16) 8 else if (f >= 4) 5 else 4
      Similarity.cosineNearDupPairs(t(s, d, "embeddings"), "embedding", "vec_id",
        dim = 64, minCosine = 0.9, nBits = r * b, bands = b)
    }),

    // centroid count ∝ √N — the production IVF sizing rule
    "knn_join_ivf" -> ((s, d, _) => {
      val emb = t(s, d, "embeddings")
      val n   = emb.count()
      val c   = math.max(8, math.sqrt(n.toDouble).round.toInt)
      val cents = emb.where(col("vec_id") < c).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      Similarity.knnJoinIvf(emb, "embedding", "vec_id", k = 5, cents, nProbes = 2)
    }),

    // same sizing rule, candidates as 8-byte PQ codes + ADC lookups — the
    // constant-factor answer to the IVF-flat N^1.5 compute shape
    "knn_join_ivfpq" -> ((s, d, _) => {
      val emb = t(s, d, "embeddings")
      val n   = emb.count()
      val c   = math.max(8, math.sqrt(n.toDouble).round.toInt)
      val cents = emb.where(col("vec_id") < c).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      Similarity.knnJoinIvfPq(emb, "embedding", "vec_id", k = 5, cents,
        nProbes = 2, m = 8, kCodes = 16, dim = 64)
    }),

    // growing users/interactions, fixed catalog
    "negative_sample" -> ((s, d, _) => {
      val pos = t(s, d, "lineitem").join(
          broadcast(t(s, d, "orders").where(col("o_custkey") % 50 === 0)),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").cast("long").as("item_id"))
      Relational.negativeSample(pos, "user_id", "item_id",
        t(s, d, "part"), "p_partkey", k = 5)
    }),

    // node space ∝ F: constant average degree ~6 (the honest graph
    // growth — real graphs are sparse). The space must be big enough that
    // the multigraph does not SATURATE: at 200·f nodes the ~600k·f raw
    // edges collapse to a near-complete simple graph whose wedge count
    // grows cubically — a fixture artifact, not a plan property.
    "triangle_count" -> ((s, d, f) =>
      Graph.triangleCount(
        t(s, d, "lineitem").select(
          (col("l_orderkey") % (100000L * f)).as("src"),
          ((col("l_suppkey") * 31 + col("l_orderkey")) % (100000L * f)).as("dst")),
        "src", "dst")),

    // file COUNT ∝ F (constant file size); prune ranges constant → the
    // pruned read must stay ~flat while the write/compact side grows
    "skipping_zorder" -> ((s, d, f) => {
      val work = java.nio.file.Files.createTempDirectory("graft_scale_z").toString
      val tbl  = s"$work/t"
      tables.VersionedTable.commit(s, t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"), tbl)
      tables.VersionedTable.commitCompact(s, tbl, targetFiles = 16 * f,
        zOrderCols = Seq("l_orderkey", "l_partkey"))
      tables.VersionedStats.refresh(s, tbl, Seq("l_orderkey", "l_partkey"))
      tables.VersionedStats.readPruned(s, tbl, Seq(
        ("l_orderkey", lit(1000L), lit(4000L)),
        ("l_partkey", lit(100L), lit(400L))))
    }),

    // IVM refresh claim: with the table range-clustered on the key and a
    // FIXED change batch (copy-0 keys %97 — constant count and constant
    // touched-file set at every F), refresh cost must be O(batch)+O(groups)
    // — flat while the table grows ∝F. Build (O(table): append + full
    // create aggregate + the localized delete) is measured separately so
    // the refresh row isolates the fold itself.
    "matview_build" -> ((s, d, f) => {
      val work = s"$d/matview"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(work), true)
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .repartitionByRange(4 * f, col("o_orderkey"))
      tables.VersionedTable.commitAppend(s, o, s"$work/src")
      tables.MaterializedAgg.create(s, s"$work/src", s"$work/view",
        Seq("o_orderkey"), Seq("o_orderpriority"), Seq("price"))
      tables.VersionedTable.commitDelete(s, s"$work/src",
        col("o_orderkey") < OrderStride && col("o_orderkey") % 97 === 0)
      tables.MaterializedAgg.read(s, s"$work/view")
    }),

    "matview_refresh" -> ((s, d, _) => {
      val work = s"$d/matview"
      tables.MaterializedAgg.refresh(s, s"$work/view")
      tables.MaterializedAgg.read(s, s"$work/view")
    }),

    // hybrid MIN/MAX rescan claim: deleting ONE group's minimum dirties
    // only that group, and the rescan's pushed-down IN(g) reads only its
    // rows — flat while the table grows ∝F (groups grow ∝F at FIXED
    // ~2.4k-row size, so per-group work is constant; the O(groups) state
    // merge is the only ∝F term and it is ~62F skinny rows). Build pays
    // O(table); the rescan row isolates the dirty rescan + fold.
    "matview_minmax_build" -> ((s, d, f) => {
      val work = s"$d/matview_mm"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(work), true)
      // g is monotone in the cluster key → group-contiguous files → the
      // rescan's group filter prunes at file/row-group grain. Divisor
      // 2441 slices each copy's ~150k dense keys into ~62 fixed-size
      // groups (copies shift by OrderStride, keeping g disjoint per copy)
      val o = t(s, d, "orders").select(col("o_orderkey"),
          (col("o_orderkey") / lit(2441L)).cast("long").as("g"),
          col("o_totalprice").cast("double").as("price"))
        .repartitionByRange(4 * f, col("o_orderkey"))
      tables.VersionedTable.commitAppend(s, o, s"$work/src")
      tables.MaterializedAgg.create(s, s"$work/src", s"$work/view",
        Seq("o_orderkey"), Seq("g"), Seq.empty, Seq("price"))
      // remove group 0's cheapest orders: retracts its stored minimum
      tables.VersionedTable.commitDelete(s, s"$work/src",
        col("g") === 0L && col("price") < 5000.0)
      tables.MaterializedAgg.read(s, s"$work/view")
    }),

    "matview_minmax_rescan" -> ((s, d, _) => {
      val work = s"$d/matview_mm"
      tables.MaterializedAgg.refresh(s, s"$work/view")
      tables.MaterializedAgg.read(s, s"$work/view")
    }),

    // The delete/update rows report their WRITE AMPLIFICATION in the rows
    // field: rows = bytes newly staged by that commit (data files + DV
    // sidecars not in the previous manifest) — wall clock hides the
    // rewrite behind the page cache at local scale; bytes don't lie.
    // merge-on-read vs copy-on-write write amplification. A fixed-RATE
    // (~0.1%) delete scattered across EVERY file — the adversarial case
    // for copy-on-write, which must rewrite every touched file (∝ TABLE
    // bytes) while the DV path writes one (fname, pos) sidecar
    // (∝ DELETED rows). Both pay the same O(table) predicate scan, so the
    // dv row's wall tracks the scan alone and the cow/dv wall RATIO is the
    // measured write amplification. Build (two identical tables, ∝F each)
    // is measured separately; OrderStride % 1000 == 0 keeps the scatter
    // uniform across copies.
    "mor_build" -> ((s, d, f) => {
      val work = s"$d/mor"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(work), true)
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("price"))
        .repartitionByRange(4 * f, col("o_orderkey"))
      tables.VersionedTable.commitAppend(s, o, s"$work/dv")
      tables.VersionedTable.commitAppend(s, o, s"$work/cow")
      s.range(1).toDF("ok")
    }),

    "mor_delete_dv" -> ((s, d, _) => {
      val v = tables.VersionedTable.commitDeleteDV(s, s"$d/mor/dv",
        col("o_orderkey") % 1000 === 7)
      s.range(morStagedBytes(s, s"$d/mor/dv", v)).toDF("staged_bytes")
    }),

    "mor_delete_cow" -> ((s, d, _) => {
      val v = tables.VersionedTable.commitDelete(s, s"$d/mor/cow",
        col("o_orderkey") % 1000 === 7)
      s.range(morStagedBytes(s, s"$d/mor/cow", v)).toDF("staged_bytes")
    }),

    // read-path price of the masks: a real aggregate scan (sum — a bare
    // count() would let the plain side answer from parquet footers and
    // compare a scan against no scan) of the DV table (anti-join against a
    // ~0.1% sidecar, broadcast) vs the already-materialized cow table —
    // the dv read must stay within a small constant of the plain one at
    // every F
    "mor_read_masked" -> ((s, d, _) =>
      tables.VersionedTable.read(s, s"$d/mor/dv")
        .agg(org.apache.spark.sql.functions.sum("price").as("s"))),

    "mor_read_plain" -> ((s, d, _) =>
      tables.VersionedTable.read(s, s"$d/mor/cow")
        .agg(org.apache.spark.sql.functions.sum("price").as("s"))),

    // merge-on-read UPDATE: same scatter rate, SET price = O(matched rows)
    // appended + one sidecar; compare with mor_delete_cow's rewrite wall
    "mor_update_dv" -> ((s, d, _) => {
      val v = tables.VersionedTable.commitUpdateDV(s, s"$d/mor/dv",
        col("o_orderkey") % 1000 === 57, Map("price" -> (col("price") + 1.0)))
      s.range(morStagedBytes(s, s"$d/mor/dv", v)).toDF("staged_bytes")
    }),

    // delta-encoded log: commit METADATA cost for a fixed change on a table
    // whose FILE COUNT grows ∝F. Build a 16F-file table (v0 full manifest),
    // then take 8 one-file appends — all within one delta chain (below the
    // checkpoint interval). rows = total log bytes those 8 appends wrote:
    // FLAT (~8 × one add-line) where the full-manifest encoding paid
    // 8 × 16F file-lines (∝F). The checkpoint the 10th commit would write
    // amortizes that full cost over the interval — the Delta-log
    // actions+checkpoint architecture, measured.
    "deltalog_append" -> ((s, d, f) => {
      val work = s"$d/dlog/t"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/dlog"), true)
      val o = t(s, d, "orders").select("o_orderkey").repartition(16 * f)
      tables.VersionedTable.commitAppend(s, o, work) // v0: 16F-file full manifest
      val ld = new org.apache.hadoop.fs.Path(work, "_log")
      def logBytes() = fs.listStatus(ld).map(_.getLen).sum
      val before = logBytes()
      (0 until 8).foreach { i =>
        tables.VersionedTable.commitAppend(s,
          s.range(i, i + 1).select(col("id").as("o_orderkey")), work)
      }
      s.range(logBytes() - before).toDF("log_bytes")
    }),

    // lock-free append concurrency, measured: the same 12 slice-appends on
    // a fresh table, serial vs 4 writer threads. Staging runs outside the
    // write lease, so concurrent writers overlap their O(data) phase and
    // serialize only at the publish tail — the wall-clock gap between
    // these two rows is the measured payoff (bounded by Spark's shared
    // scheduler, not by the table's lock).
    "append_serial" -> ((s, d, f) => {
      val work = s"$d/capp_serial/t"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/capp_serial"), true)
      val o = t(s, d, "orders").select("o_orderkey", "o_totalprice").localCheckpoint(true)
      (0 until 12).foreach { i =>
        tables.VersionedTable.commitAppend(s,
          o.where(col("o_orderkey") % 12 === i).coalesce(1), work)
      }
      tables.VersionedTable.read(s, work)
    }),

    "append_concurrent" -> ((s, d, f) => {
      val work = s"$d/capp_conc/t"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/capp_conc"), true)
      val o = t(s, d, "orders").select("o_orderkey", "o_totalprice").localCheckpoint(true)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until 4).map { w =>
        new Thread(() => {
          try (0 until 3).foreach { j =>
            val i = w * 3 + j
            tables.VersionedTable.commitAppend(s,
              o.where(col("o_orderkey") % 12 === i).coalesce(1), work)
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      require(errs.isEmpty, s"concurrent appenders failed: ${errs.toArray.headOption}")
      tables.VersionedTable.read(s, work)
    }),

    // additive schema evolution is O(change) at any table size: ONE
    // evolve-append of one row onto a 16F-file table. rows = total bytes
    // the evolve wrote (staged data + delta log entry + declared-schema
    // json) — flat in F, because no existing file is rewritten and the
    // entry carries only the commit's actions. The mergeSchema overwrite
    // alternative rewrites the corpus (∝F).
    "evolve_append" -> ((s, d, f) => {
      val work = s"$d/evo/t"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/evo"), true)
      val o = t(s, d, "orders").select("o_orderkey").repartition(16 * f)
      tables.VersionedTable.commitAppend(s, o, work)
      def treeBytes(): Long = Seq("data", "_log", "_schema").map { sub =>
        val p = new org.apache.hadoop.fs.Path(work, sub)
        if (!fs.exists(p)) 0L else fs.listStatus(p).map(_.getLen).sum
      }.sum
      val before = treeBytes()
      tables.VersionedTable.commitAppendEvolve(s,
        s.range(1).select(col("id").as("o_orderkey"),
          org.apache.spark.sql.functions.lit("evolved").as("note")), work)
      s.range(treeBytes() - before).toDF("evolve_bytes")
    }),

    // the read side of the same claim: resolving the LATEST version after
    // the appends replays ≤ interval delta entries from the v0 anchor —
    // wall is metadata-bound and must stay near-flat while the manifest it
    // reconstructs grows ∝F (rows = resolved file count, the ∝F sanity
    // check that the resolution actually saw the whole table)
    "deltalog_resolve" -> ((s, d, f) => {
      val work = s"$d/dlog/t"
      val v = tables.VersionedTable.latestVersion(work).getOrElse(
        sys.error("deltalog_resolve: run deltalog_append first"))
      s.range(tables.VersionedTable.filesOf(work, v).size.toLong).toDF("n_files")
    }),

    // DSv2 catalog resolution vs LOG DEPTH: a FIXED-size table takes 10F
    // one-row appends (history ∝ F) and re-compacts to a FIXED 8-file head
    // layout, then 20 full SQL round-trips run through the whole native
    // path — parser → GraftCatalog.loadTable → GraftTableResolution's V1
    // substitution → log replay → scan. With the scan side pinned, the
    // claim under test is that per-query wall stays FLAT as the log
    // deepens: resolution replays ≤ checkpoint-interval delta entries
    // from the nearest checkpoint anchor, never the whole log.
    // rows = MEDIAN resolve+scan micros over the 20 runs (setup cost is
    // excluded from the claim number by construction)
    "catalog_resolve" -> ((s, d, f) => {
      val work = java.nio.file.Files.createTempDirectory("graft_scale_cres")
        .toString + "/t"
      val base = t(s, d, "documents")
        .select(col("doc_id").as("k"), length(col("text")).cast("long").as("x"))
        .where(col("k") < 20000L) // FIXED table size at every factor
      tables.VersionedTable.commitAppend(s,
        base.repartitionByRange(8, col("k")), work)
      (1 to 10 * f).foreach(i => // fixed-size commits, count ∝ F
        tables.VersionedTable.commitAppend(s,
          s.range(i.toLong, i + 1L).select(col("id").as("k"), lit(0L).as("x")),
          work))
      tables.VersionedTable.commitCompact(s, work, targetFiles = 8)
      catalog.GraftCatalog.register("scale_resolve", work)
      val micros = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        s.sql("SELECT sum(x) AS sx FROM graft.scale_resolve").collect()
        (System.nanoTime() - t0) / 1000
      }.sorted
      s.range(micros(micros.length / 2)).toDF("median_resolve_us")
    }),

    // CONVERT adoption is O(files) metadata, not O(bytes): adopt a 16F-file
    // parquet dir and report how many bytes the conversion WROTE (log entry
    // only — rows = bytes written under the new table root). Data bytes
    // copied must be ZERO at every factor; the wall is file-listing plus
    // the distributed footer sweep (the schema-uniformity proof, the only
    // O(files) distributed step). The ∝F read count()s the adopted table.
    "convert_adopt" -> ((s, d, f) => {
      val work = java.nio.file.Files.createTempDirectory("graft_scale_conv").toString
      val lake = s"$work/lake"
      t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .repartition(16 * f).write.parquet(lake)
      val tdir = s"$work/t"
      tables.VersionedTable.convertParquet(s, lake, tdir)
      val fs = new org.apache.hadoop.fs.Path(tdir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def treeBytes(p: String): Long = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        var n = 0L; while (it.hasNext) n += it.next().getLen; n
      }
      require(tables.VersionedTable.read(s, tdir).count() ==
        t(s, d, "orders").count(), "adopted table must read the full source")
      s.range(treeBytes(tdir)).toDF("convert_bytes")
    }),

    // RENAME COLUMN is metadata-only at any table size: one rename on a
    // 16F-file table, rows = total bytes it wrote (log entry + declared
    // schema json) — must stay FLAT in F because zero data files are
    // touched; the read-back through the mapping is the ∝F sanity check
    "rename_metadata" -> ((s, d, f) => {
      val work = s"$d/ren/t"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/ren"), true)
      val o = t(s, d, "orders").select("o_orderkey", "o_totalprice").repartition(16 * f)
      tables.VersionedTable.commitAppend(s, o, work)
      def treeBytes(): Long = Seq("_log", "_schema").map { sub =>
        val p = new org.apache.hadoop.fs.Path(work, sub)
        if (!fs.exists(p)) 0L else fs.listStatus(p).map(_.getLen).sum
      }.sum
      val before = treeBytes()
      tables.VersionedTable.commitRenameColumn(s, work, "o_totalprice", "price")
      require(tables.VersionedTable.read(s, work).columns.contains("price"))
      s.range(treeBytes() - before).toDF("rename_bytes")
    }),

    // conditional MERGE at file grain: source touches 1-in-997 keys plus
    // a fixed insert batch — shuffle must track the TOUCHED files' rows,
    // not the table (the key-probe pushes an IN filter into the scan)
    "merge_conditional" -> ((s, d, f) => {
      val work = s"$d/mcond/t"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/mcond"), true)
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("price"))
      tables.VersionedTable.commitAppend(s,
        o.repartitionByRange(16 * f, col("o_orderkey")), work)
      val src = o.where(col("o_orderkey") % 997 === 0)
          .select(col("o_orderkey"), lit(50.0).as("inc"))
        .unionByName(s.range(1000).select(
          (col("id") - 2000000L).as("o_orderkey"), lit(10.0).as("inc")))
      tables.VersionedTable.commitMergeConditional(s, work, src, Seq("o_orderkey"), Seq(
        tables.VersionedTable.WhenMatchedUpdate(Some("t.price < 1000"),
          Map("price" -> "t.price + s.inc")),
        tables.VersionedTable.WhenMatchedDelete(Some("t.price >= 100000")),
        tables.VersionedTable.WhenNotMatchedInsert(Some("s.inc > 5"),
          Some(Map("o_orderkey" -> "s.o_orderkey", "price" -> "s.inc")))))
      tables.VersionedTable.read(s, work)
    }),

    // SQ8 retrieval: one skinny (pos, x) stats aggregation + one scoring
    // scan → top-k; shuffle is O(partitions · dim) for the stats and the
    // k-row result only — wall ∝ N, wire near-flat
    "sq8_topk" -> ((s, d, _) =>
      operators.Similarity.sq8TopK(t(s, d, "embeddings"), "embedding", "vec_id",
        queryId = 1L, k = 20)),

    // predicate-scoped OPTIMIZE: table ∝ F (key-clustered), predicate
    // matching a FIXED key slice (copy 0 only) — the rewrite is
    // O(matching files) (constant), the probe is one column-pruned scan of
    // the predicate column with parquet row-group skipping (∝ table column
    // bytes, the honest residual cost of ARBITRARY predicates vs Delta's
    // partition-column-only OPTIMIZE WHERE). The harness row's wall is
    // dominated by building the ∝F table; the stderr line isolates the
    // scoped-compact phase itself, which SCALING.md quotes.
    "optimize_scoped" -> ((s, d, f) => {
      val work  = java.nio.file.Files.createTempDirectory("graft_scale_osc").toString
      val table = s"$work/t"
      tables.VersionedTable.commitAppend(s,
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"),
          col("l_quantity").cast("double").as("qty"))
          .repartitionByRange(8 * f, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"), table)
      val t0 = System.nanoTime()
      val v = tables.VersionedTable.commitCompact(s, table, targetFiles = 2,
        where = Some(col("l_orderkey") < 3000000L))
      val compactSec = (System.nanoTime() - t0) / 1e9
      val files   = tables.VersionedTable.filesOf(table, v)
      val shared  = tables.VersionedTable.filesOf(table, v - 1).toSet
      val rewrote = files.count(rel => !shared(rel))
      System.err.println(f"[scale] optimize_scoped f=$f compact_sec=$compactSec%.2f " +
        s"rewrote=$rewrote of_total=${files.size}")
      s.range(files.size.toLong).toDF("n")
    }),

    // CDF stream bootstrap: source HISTORY ∝ F (4·f fixed-size update
    // commits on a fixed-size keyed table), then ONE startingVersion=0
    // drain — the O(history) bootstrap bound made explicit: each commit
    // resolves one shared-file-pruned key diff, so wall is per-commit flat
    // (total ∝ commits) and wire is O(changed keys per commit), never
    // O(table). Rows out ∝ commits (pre+post images per touched key).
    "cdf_stream" -> ((s, d, f) => {
      val work  = java.nio.file.Files.createTempDirectory("graft_scale_cdf").toString
      val table = s"$work/t"
      val base = t(s, d, "documents")
        .select(col("doc_id").as("k"), length(col("text")).cast("long").as("x"))
        .where(col("k") < 20000L) // FIXED table size at every factor
      tables.VersionedTable.commitAppend(s,
        base.repartitionByRange(8, col("k")), table)
      (1 to 4 * f).foreach(i =>
        tables.VersionedTable.commitUpdate(s, table,
          pmod(col("k"), lit(400L)) === (i % 400).toLong,
          Map("x" -> (col("x") + 1L))))
      val out = s"$work/out"
      val q = s.readStream.format(sources.VersionedStream.format)
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("keyColumns", "k")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
    }),

    // history ∝ F read as ONE batch change feed (no stream machinery):
    // the per-commit diff cost and flat wire must match the stream's —
    // same frame builder, so this row cross-checks cdf_stream's shape
    "cdf_batch" -> ((s, d, f) => {
      val work  = java.nio.file.Files.createTempDirectory("graft_scale_cdfb").toString
      val table = s"$work/t"
      val base = t(s, d, "documents")
        .select(col("doc_id").as("k"), length(col("text")).cast("long").as("x"))
        .where(col("k") < 20000L) // FIXED table size at every factor
      tables.VersionedTable.commitAppend(s,
        base.repartitionByRange(8, col("k")), table)
      tables.VersionedTable.setKeyColumns(table, Seq("k"))
      (1 to 4 * f).foreach(i =>
        tables.VersionedTable.commitUpdate(s, table,
          pmod(col("k"), lit(400L)) === (i % 400).toLong,
          Map("x" -> (col("x") + 1L))))
      s.read.format("graft")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load(table)
    }),

    // backlog ∝ F drained by ONE Trigger.AvailableNow run in PACED batches
    // (maxVersionsPerTrigger fixed at 4): the claim under test is that the
    // engine never plans a batch proportional to the BACKLOG — each batch
    // spans exactly 4 commits' files whether the backlog is 4 or 120
    // commits, so per-commit wall and wire stay flat as history grows
    // (the pre-PacedAdmission fallback planned the whole backlog as one
    // batch — O(backlog) peak batch size, the thing this row refutes)
    "availablenow_drain" -> ((s, d, f) => {
      val work  = java.nio.file.Files.createTempDirectory("graft_scale_now").toString
      val table = s"$work/t"
      val base = t(s, d, "documents")
        .select(col("doc_id").as("k"), length(col("text")).cast("long").as("x"))
        .where(col("k") < 20000L) // FIXED table size at every factor
      tables.VersionedTable.commitAppend(s,
        base.repartitionByRange(8, col("k")), table)
      (1 to 4 * f).foreach(i => // fixed-size commits, count ∝ F
        tables.VersionedTable.commitAppend(s,
          base.where(pmod(col("k"), lit(400L)) === (i % 400).toLong)
            .withColumn("x", col("x") + i.toLong).coalesce(1), table))
      val out = s"$work/out"
      val q = s.readStream.format(sources.VersionedStream.format)
        .option("path", table)
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "4")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
    }),

    // VACUUM at decade-deep history: a single-file table takes 100·F
    // copy-on-write updates (history ∝ F, f=10 is the 1,000-commit
    // point) — each version's data file is EXCLUSIVE to it (the next
    // update rewrites the whole one-file table), so every dropped
    // version frees exactly one file. ONE vacuum then drops a FIXED
    // 40-version slice (retainLast = H − 40, graceMs = 0 — no live
    // rival here): data I/O is 40 file deletes at every factor; the
    // O(history) residue is driver-side entry parses for the retained
    // refcount (µs each, the honest linear metadata term this row
    // sizes). A pure-append history is deliberately NOT used — there
    // vacuum correctly drops nothing, every old file still being
    // referenced by the head. rows = the vacuum's own micros (the ∝F
    // history build dominates the harness row's wall — the stderr
    // line and rows isolate the sweep, which SCALING.md quotes).
    "vacuum_deep_history" -> ((s, d, f) => {
      val work = s"$d/vacdeep/t"
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/vacdeep"), true)
      val h = 100 * f
      tables.VersionedTable.commitAppend(s,
        s.range(0L, 100L).select(col("id").as("k"), lit(0L).as("x"))
          .coalesce(1), work)
      (1 until h).foreach(i =>
        tables.VersionedTable.commitUpdate(s, work,
          col("k") === (i % 100).toLong, Map("x" -> lit(i.toLong))))
      val t0 = System.nanoTime()
      val dropped = tables.VersionedTable.vacuum(s, work,
        retainLast = h - 40, graceMs = 0L)
      val us = (System.nanoTime() - t0) / 1000
      require(dropped.size == 40, s"expected 40 dropped versions, got ${dropped.size}")
      require(tables.VersionedTable.read(s, work).count() == 100L,
        "latest version must survive the sweep intact")
      System.err.println(s"[scale] vacuum_deep_history f=$f history=$h " +
        s"dropped=40 vacuum_us=$us")
      s.range(us).toDF("vacuum_us")
    }),

    // RETENTION at day grain, decade-deep: a day-partitioned table with
    // 40·F day directories drops a FIXED 7-day prefix — dropDaysBefore is
    // one metadata-only commit (the head manifest minus the dropped days'
    // entries; zero data I/O), so wall must stay near-flat while the day
    // count grows ∝F. rows = the sweep's own micros.
    "drop_days_sweep" -> ((s, d, f) => {
      val work = s"$d/dropdays/t"
      tables.TableManager.deleteDir(s, work)
      val day = 86400L * 1000000000L
      val d0  = 19724L * day
      tables.TimePartitioned.write(
        s.range(40L * f).select(col("id").as("k"), (lit(d0) + col("id") * day).as("ts")),
        work, "ts")
      val t0 = System.nanoTime()
      val droppedDays = tables.TimePartitioned.dropDaysBefore(s, work, d0 + 7 * day)
      val us = (System.nanoTime() - t0) / 1000
      require(droppedDays.size == 7, s"expected 7 dropped days, got ${droppedDays.size}")
      require(tables.VersionedTable.read(s, work).count() == 40L * f - 7,
        "remaining days must read in full")
      System.err.println(s"[scale] drop_days_sweep f=$f days=${40 * f} " +
        s"dropped=7 sweep_us=$us")
      s.range(us).toDF("drop_days_us")
    }),

    // trigger SIZE ∝ F (constant trigger count): per-byte streaming cost
    "stream_near_dedup" -> ((s, d, f) => {
      val work   = java.nio.file.Files.createTempDirectory("graft_scale_snd").toString
      val srcDir = s"$work/src"
      t(s, d, "documents").select("doc_id", "text")
        .repartition(4 * f).write.parquet(srcDir)
      streaming.StreamingInference.streamNearDedup(
        s, srcDir, s.read.parquet(srcDir).schema, "text", "doc_id",
        s"$work/sink", s"$work/ckpt",
        maxFilesPerTrigger = 2 * f)
    })
  )

  // ------------------------------------------------------------ harness

  def main(args: Array[String]): Unit = {
    val factors = (if (args.nonEmpty) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,30"))
      .split(",").map(_.trim.toInt).toSeq
    val only    = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val srcDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val baseOut = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale")
    val spark   = GraftSession.local(defaultCpus = 8)

    val results = new StringBuilder
    factors.foreach { f =>
      val dir = s"$baseOut/f$f"
      // amplify is per-table idempotent: tables already on disk are kept,
      // deleted ones are regenerated (workload-definition iteration path)
      System.err.println(s"[scale] amplifying x$f into $dir (idempotent)")
      amplify(spark, srcDir, dir, f)
      workloads.filter { case (n, _) => only.forall(_.contains(n)) }
        .foreach { case (name, fn) =>
          System.err.println(s"[scale] f=$f $name")
          val res = try {
            val (rows, run) = graft.obs.Obs.measure(spark)(fn(spark, dir, f).count())
            val mb = run.shuffleWriteBytes / 1048576.0
            f"""{"workload":"$name","factor":$f,"sec":${math.rint(run.seconds * 100) / 100},"shuffle_mb":${math.rint(mb * 100) / 100},"rows":$rows}"""
          } catch {
            case e: Throwable =>
              s"""{"workload":"$name","factor":$f,"error":"${e.getMessage.take(120).replace('"', '\'')}"}"""
          }
          graft.obs.Obs.release(spark)
          println(res)
          results.append(res).append('\n')
        }
    }
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALING_RAW.jsonl"), results.toString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[scale] dump failed: ${e.getMessage}") }
    spark.stop()
  }
}
