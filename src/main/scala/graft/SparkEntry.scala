package graft

import graft.functions.VectorFunctions
import graft.image.{ImageFixtures, ImagePipeline, ImageUdfs}
import graft.operators._
import graft.multimodal.Multimodal
import graft.streaming.{Stateful, StreamingInference}
import graft.tables.{TableManager, VersionedStats, VersionedTable}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — the declared query set of SURVEY.md §2h.
  *
  * Every oracle-checked query follows the determinism rules of SURVEY.md §5:
  * total ORDER BY on both sides, decimal-cast sums, double arithmetic with
  * identical operation order, `ts` compared as epoch-nanos (Spark reads the
  * NANOS parquet column as long via `nanosAsLong`; DuckDB via `epoch_ns`),
  * and column names aliased identically in both engines.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Swept scratch dir for the table/stream/checkpoint queries — see
    * [[Scratch]] (ADVICE-r16: the per-query temp dirs previously leaked
    * on every Verify/Bench invocation). */
  private def scratchDir(tag: String): String = Scratch.dir(tag)

  /** Range-cluster `df` on `l_orderkey` into `n` files, sorted within each:
    * every file then covers a narrow key interval, which is what makes its
    * min/max stats selective for the skipping queries (random placement
    * gives every file the full range and nothing prunes). */
  private def clustered(df: DataFrame, n: Int): DataFrame =
    df.repartitionByRange(n, col("l_orderkey")).sortWithinPartitions("l_orderkey")

  /** Planted-copy id offset for the dedup/near-dup decision gates: copies
    * are `id + PlantOffset` and leakage is detected via
    * `id >= PlantOffset`, so every real fixture id must stay strictly
    * below it. Row counts scale with SF (ADVICE-r17): at a large enough
    * scale factor real ids would cross the offset, collide with planted
    * ids, falsely trip the leak gate, and silently break Spark/DuckDB
    * oracle parity — [[assertPlantable]] turns that into a loud, cheap
    * in-query failure instead. The DuckDB oracles pin the SAME literal
    * (1000000), so the offset and the SQL must move together. */
  private val PlantOffset = 1000000L

  private def assertPlantable(df: DataFrame, idCol: String): DataFrame = {
    val head = df.agg(max(col(idCol))).head()
    // max() over zero rows is NULL — an empty/truncated fixture must fail
    // as its own loud message, not as an opaque NPE inside getLong
    require(!head.isNullAt(0),
      s"fixture is empty — cannot assert $idCol stays below the plant offset")
    val mx = head.getLong(0)
    require(mx < PlantOffset,
      s"fixture $idCol max $mx >= plant offset $PlantOffset — planted-copy ids " +
        "would collide with real ids and break oracle parity; raise the offset " +
        "in BOTH the Spark queries and their DuckDB oracles")
    df
  }

  /** Build-once IVF index shared by `q_ivf_build` (always rebuilds — its
    * bench line IS the build cost) and `q_similarity_ivf` (probe-only when
    * the index exists). Centroids are DETERMINISTIC data rows (vectors
    * 0..7, the `q_knn_join_ivf` convention) so the whole index — assignment
    * histogram, pruned probes — replays in DuckDB and the queries are fully
    * oracle-checked; the LEARNED-centroid path keeps its own recall-gated
    * coverage (`q_knn_join_ivf_learned`). Memoized per (dir, SOURCE-FILE
    * fingerprint): the fingerprint (file names/sizes/mtimes — a
    * metadata-only listing, no data read) is re-derived on EVERY call, so an
    * embeddings table regenerated mid-process invalidates the memo instead
    * of probing stale centroids. A new fingerprint for a dir evicts that
    * dir's superseded entries — otherwise a long-lived JVM repeatedly
    * regenerating a dataset grows the map (and its centroid arrays) without
    * bound. */
  private val ivfMemo = scala.collection.concurrent.TrieMap[(String, String), Array[Array[Float]]]()

  private def ivfIndexPath(dir: String): String =
    // `ivf2`: deterministic-centroid generation — a stale index from the
    // learned-centroid era must never satisfy the memoized load
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf2${graft.tables.FsIO.tmpTag(dir)}"

  private def dataRowCentroids(df: DataFrame, below: Long,
      filter: Column = lit(true)): Array[Array[Float]] =
    df.where(col("vec_id") < below && filter).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)

  private def ensureIvfIndex(s: SparkSession, dir: String): (String, Array[Array[Float]]) = {
    val path = ivfIndexPath(dir)
    val emb  = t(s, dir, "embeddings")
    val fp   = Similarity.sourceFingerprint(emb)
    val cent = ivfMemo.getOrElseUpdate((dir, fp), {
      ivfMemo.filterInPlace { case ((d, _), _) => d != dir }
      Similarity.loadIvfCentroids(s, path, expectSource = Some(fp))
        .getOrElse(Similarity.buildIvfIndexWith(emb, "embedding", "vec_id",
          dataRowCentroids(emb, 8L), path))
    })
    (path, cent)
  }

  private val Dec = "decimal(38,4)"

  /** SQL-text twins (`q_sql_*`): ONE string per query runs verbatim on BOTH
    * engines — Spark executes it via [[graft.Sql.run]] over the fixture
    * views, DuckDB executes it as the oracle. Strongest form of the
    * "SQL-first users get the same engine" claim: not equivalent SQL, the
    * IDENTICAL text. Portability constraints: ANSI-only syntax, aliased
    * subqueries, decimal-cast sums (the §5 determinism discipline). */
  private val SqlTextQueries: Map[String, String] = Map(
    "q_sql_group_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n, MIN(l_discount) AS min_disc, MAX(l_extendedprice) AS max_price " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    "q_sql_window_rank" ->
      ("SELECT * FROM (SELECT o_orderkey, o_custkey, o_totalprice, " +
        "RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk " +
        "FROM orders) t WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey"),
    "q_sql_mjoin_topk" ->
      ("SELECT o_orderkey, " +
        "CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "AND l_shipdate >= TIMESTAMP '1998-01-01' " +
        "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"))

  /** Exact decimal sum, then DOUBLE for the output column. DECIMAL(38,4)
    * keeps the summation order-independent (bit-exact across partitionings
    * and engines); the final DOUBLE cast makes both engines *serialize* the
    * value identically — the driver's hash normalizes decimals to float on
    * one side only, so a DECIMAL output column whose scale-4 rendering has
    * trailing zeros (e.g. 1524135.0000) is graded as a mismatch. Both
    * engines' decimal→double conversion is correctly rounded (unscaled
    * values < 2^53 here), so the doubles are bit-identical. */
  private def decSum(c: Column): Column = sum(c.cast(Dec)).cast(Dec).cast("double")

  /** Flagship query (slice 0): left-outer join + decimal group-agg — the
    * reference's J1 + A-family shape (`01. Ingest.py:129` + §2d) on the
    * fixtures. Driver smoke-checks rows > 0 at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val l   = t(spark, dir, "lineitem")
    val o   = t(spark, dir, "orders")
    l.join(o, l("l_orderkey") === o("o_orderkey"), "left_outer")
      .groupBy("l_returnflag")
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(Dec)).cast(Dec).as("sum_rev"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // =====================================================================
  // Query implementations (one per SURVEY §2 operator family)
  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- S5 scan + P1/P6/P7 projection/cast/literal -----------------------
    "q_scan_project" -> ((s, d) => {
      t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          // scale-4 quantize, then DOUBLE for the output (see decSum note)
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(Dec).cast("double").as("revenue"),
          lit("A").as("tag"),
          col("l_quantity").cast("long").as("qty"))
        // (l_orderkey, l_linenumber) is not unique in the fixture lineitem —
        // total order needs the value columns too (SURVEY §5 hazard: row order)
        .orderBy("l_orderkey", "l_linenumber", "revenue", "qty")
    }),

    // -- filter reaching the parquet scan (P8 analog) ---------------------
    "q_filter_pushdown" -> ((s, d) => {
      t(s, d, "lineitem")
        .where(col("l_quantity") < 10 && col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // -- F1 regexp_extract ------------------------------------------------
    "q_regexp_extract" -> ((s, d) => {
      t(s, d, "documents").select(
          col("doc_id"),
          regexp_extract(col("text"), "the ([a-z]+)", 1).as("after_the"),
          regexp_extract(col("source"), "src([0-9]+)", 1).cast("long").as("src_num"))
        .orderBy("doc_id")
    }),

    // -- F2 replace + F3 JSON + nanos timestamp ---------------------------
    "q_string_replace_json" -> ((s, d) => {
      t(s, d, "events").select(
          col("event_id"),
          // LongType epoch-nanos via nanosAsLong (SURVEY §5.1); compared at
          // µs precision because DuckDB's TIMESTAMP truncates sub-µs.
          expr("ts div 1000").as("ts_us"),
          expr("replace(event_type, 'click', 'tap')").as("etype"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy("event_id")
    }),

    // -- A2 distinct ------------------------------------------------------
    "q_distinct_labels" -> ((s, d) =>
      t(s, d, "events").select("event_type").distinct().orderBy("event_type")),

    // -- A1/A3 count + count-distinct ------------------------------------
    "q_count_distinct" -> ((s, d) =>
      t(s, d, "customer").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("c_mktsegment")).as("n_segments"))),

    // -- A4 dictionary-encode (dense_rank semantics, broadcast re-attach) -
    "q_label_index" -> ((s, d) => {
      Relational.withDictIndex(t(s, d, "documents"), "lang", "label_index")
        .select(col("doc_id"), col("lang"), col("label_index"))
        .orderBy("doc_id")
    }),

    // -- J1 left-outer equi-join -----------------------------------------
    "q_join_leftouter" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"), "left_outer")
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // -- 3-way inner join, dims explicitly broadcast ----------------------
    "q_join_inner_multi" -> ((s, d) => {
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))
        .orderBy("c_custkey")
    }),

    // -- group-agg: sum/count/avg/min/max (decimal-exact) -----------------
    "q_group_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_rev"),
          count(lit(1)).as("n"),
          (sum(col("l_quantity").cast(Dec)).cast("double") / count(lit(1))).as("avg_qty"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // -- A5 grouped-map (typed flatMapGroups; oracle = window MIN) --------
    "q_grouped_map" -> ((s, d) => {
      val ev = t(s, d, "events").select("event_id", "event_type", "value")
      val outSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value_rebased", DoubleType)))
      GroupedMap.flatMapGroupsRows(ev, "event_type", outSchema) { (key, it) =>
        val rows = it.toArray
        val mn   = rows.iterator.map(_.getDouble(2)).min
        rows.iterator.map(r => Row(r.getLong(0), key, r.getDouble(2) - mn))
      }.orderBy("event_id")
    }),

    // -- window rank ------------------------------------------------------
    "q_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"))
        .where(col("rnk") <= 3)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    }),

    // -- L1 top-k (TakeOrderedAndProject) --------------------------------
    "q_topk" -> ((s, d) =>
      Relational.topK(t(s, d, "orders"), 10, col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // -- P4/P5 struct construction + nested field extraction --------------
    "q_struct_nested" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("s"), col("o_orderpriority").as("p")).as("meta"))
        .select(col("o_orderkey"), col("meta.s").as("status"), col("meta.p").as("priority"))
        .orderBy("o_orderkey")
    }),

    // -- S8 schema-evolution union ---------------------------------------
    "q_union_schema" -> ((s, d) => {
      val p  = t(s, d, "part")
      val v1 = p.select(col("p_partkey"), col("p_name"))
      val v2 = p.select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      Relational.unionEvolved(v1, v2)
        .orderBy(col("p_partkey"), col("p_name").asc_nulls_first)
    }),

    // -- F4/F5 argmax + round over arrays --------------------------------
    "q_argmax_round" -> ((s, d) => {
      t(s, d, "embeddings").select(
          col("vec_id"),
          VectorFunctions.argmax(col("embedding")).as("argmax_idx"),
          round(array_max(col("embedding")).cast("double"), 3).as("max_val"))
        .orderBy("vec_id")
    }),

    // -- north-star: exact dedup -----------------------------------------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(t(s, d, "documents"), "text", "doc_id").orderBy("content_hash")),

    // -- north-star: text stats histogram --------------------------------
    "q_text_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("total_tokens"))
        .orderBy("lang")
    }),

    // -- north-star: per-doc token count ---------------------------------
    "q_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),

    // -- north-star: quality score ---------------------------------------
    "q_quality_score" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // -- north-star: LLM-corpus chunking (stride + overlap, posexplode) ---
    "q_chunk_docs" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), chunkSize = 256, stride = 200)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          length(col("col")).cast("long").as("chunk_len"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // -- north-star: deterministic hash split (reproducible train/val) ----
    "q_hash_split" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), Relational.hashSplitTag(col("doc_id"), 80).as("split"))
        .orderBy("doc_id")
    }),

    // -- north-star: sequence packing (chunks → token-budget sequences) ---
    // Non-overlapping 128-char chunks, token-counted, packed into 32-token
    // sequences per document (window partitioned by doc — parallel at scale)
    "q_pack_sequences" -> ((s, d) => {
      val chunked = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), chunkSize = 128, stride = 128)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          TextAnalysis.tokenCount(col("col")).as("n_tokens"))
      TextAnalysis.packSequences(chunked, "doc_id", "chunk_idx", "n_tokens", budget = 32L)
        .groupBy("doc_id", "seq_idx")
        .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").cast("long").as("seq_tokens"))
        .orderBy("doc_id", "seq_idx")
    }),

    // -- north-star: train/eval decontamination (n-gram collision) --------
    // Eval set = every 10th doc; a shared word-trigram with any training
    // doc marks contamination (the GPT-3-style n-gram overlap check)
    "q_decontaminate" -> ((s, d) =>
      TextAnalysis.contamination(t(s, d, "documents"), "text", "doc_id",
          isEval = col("doc_id") % 10 === 0, n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- north-star: deterministic stratified sampling (corpus rebalance) --
    "q_stratified_sample" -> ((s, d) =>
      Relational.hashStratifiedSample(t(s, d, "documents"),
          col("doc_id"), col("lang"), Map("en" -> 60, "de" -> 30), defaultPct = 10)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // -- north-star: Bloom-prefiltered decontamination ---------------------
    // Same contract and SAME ORACLE as q_decontaminate — the Bloom stage
    // only prunes the train-side shuffle (the 100 TB scan); an exact confirm
    // join removes its false positives, so the result is bit-identical.
    "q_decontaminate_bloom" -> ((s, d) =>
      TextAnalysis.contaminationBloom(t(s, d, "documents"), "text", "doc_id",
          isEval = col("doc_id") % 10 === 0, n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- north-star: target-mixture corpus rebalance -----------------------
    // Keep the largest subset whose expected lang mixture is en:de:zh=3:1:1;
    // rates derived IN THE PLAN from the observed counts (no driver collect),
    // row choice by the engine-replayable id-hash bucket.
    "q_mixture_sample" -> ((s, d) =>
      Relational.mixtureSample(t(s, d, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 3.0, "de" -> 1.0, "zh" -> 1.0))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // -- north-star: deterministic training-order shuffle -------------------
    // Epoch reshuffle without RNG state: multiplicative hash of (id, salt),
    // range-exchange sort — reproducible across runs/engines/partitionings.
    "q_shuffle_order" -> ((s, d) =>
      Relational.deterministicShuffle(t(s, d, "documents"), col("doc_id"), salt = 7L)
        .select(col("doc_id"), col("shuffle_key"))),

    // -- approximate aggregates (the 100 TB cardinality path) --------------
    // HLL++ distinct + approx percentile: sketches merge as partial
    // aggregates (map-side combined, no key shuffle). Engine-specific sketch
    // values → no cross-engine oracle by contract; tolerance vs the exact
    // answers is asserted in RelationalSpec.
    "q_approx_agg" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        percentile_approx(col("l_quantity").cast("double"), lit(0.5), lit(10000))
          .as("approx_median_qty"))),

    // -- north-star: frequency-ranked vocabulary build ---------------------
    // Two-phase global rank (withGlobalRank): no single-partition window,
    // vocab ids assigned in parallel — the vocab-scale dictionary path.
    "q_vocab_build" -> ((s, d) =>
      TextAnalysis.buildVocab(t(s, d, "documents"), "text", minCount = 5, numParts = 32)
        .select(col("token"), col("n"), col("vocab_id"))
        .orderBy("vocab_id")),

    // -- exact heavy hitters at Misra-Gries sketch cost --------------------
    // Per-partition MG candidates (guaranteed superset) + exact confirm
    // count; the sketch only prunes, so the oracle is the brute-force
    // token groupBy with the same support threshold.
    "q_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(t(s, d, "documents"), "text", support = 0.002)
        .orderBy("token")),

    // -- exact heavy keys at count-min sketch cost -------------------------
    // The point-query sibling of q_heavy_hitters: a 4x32768 CMS (1 MB,
    // size-invariant in input and cardinality) estimates every key's count
    // map-side as a codegen'd literal-array lookup; its one-sided error
    // (never underestimates) makes the >=T filter a no-false-negative
    // prune, so sketch-filter + exact-confirm is EXACTLY the plain
    // GROUP BY HAVING — at the shuffle cost of the heavy tail only.
    // In-query gate: the sketch must discard >=80% of the key universe.
    "q_countmin_heavy" -> ((s, d) => {
      val o = t(s, d, "orders")
      val sk = graft.operators.CountMin.build(o, "o_custkey", depth = 4, width = 32768)
      val keys = o.select("o_custkey").distinct()
      val nTot  = keys.count()
      val nCand = keys.where(sk.estimateCol(col("o_custkey")) >= 18L).count()
      require(nCand * 5 <= nTot,
        s"count-min must prune the key universe: $nCand of $nTot keys survived")
      graft.operators.CountMin.heavyKeys(o, "o_custkey", 18L, sk)
        .orderBy("o_custkey")
    }),

    // -- interchange formats: exact CSV / JSON-lines round-trips -----------
    // Write the parquet table out and read it back under an explicit schema;
    // the oracle reads the ORIGINAL parquet — hash equality proves the text
    // round-trip is lossless (types, nulls, timestamps).
    "q_csv_roundtrip" -> ((s, d) => {
      val src = t(s, d, "orders")
      val dir = scratchDir("graft_csv_rt") + "/orders_csv"
      graft.tables.FormatIO.writeCsv(src, dir)
      graft.tables.FormatIO.readCsv(s, dir, src.schema)
        .orderBy("o_orderkey")
    }),

    "q_json_roundtrip" -> ((s, d) => {
      val src = t(s, d, "customer")
      val dir = scratchDir("graft_json_rt") + "/customer_json"
      graft.tables.FormatIO.writeJsonLines(src, dir)
      graft.tables.FormatIO.readJsonLines(s, dir, src.schema)
        .orderBy("c_custkey")
    }),

    // -- north-star: sub-document (chunk-level) exact dedup ----------------
    // The C4/RefinedWeb paragraph-dedup pass on this corpus' text shape:
    // 16-char chunks, first corpus occurrence survives, docs re-assemble
    // from their surviving chunks. 16 chars yields ~7% duplicate chunks on
    // the fixtures (measured) — real discrimination for the oracle.
    "q_dedup_chunks" -> ((s, d) =>
      Dedup.dedupChunks(t(s, d, "documents"), "text", "doc_id", chunkSize = 16)
        .orderBy("doc_id")),

    // -- north-star: incremental dedup of a batch against corpus history ---
    // History = docs 0..249 (as a 32-byte hash index, text never re-read);
    // batch = docs 250+ plus planted duplicates (every 7th doc re-submitted
    // under id+10000). Survivors: the genuinely new texts, min-id per
    // within-batch duplicate group.
    "q_dedup_incremental" -> ((s, d) => {
      val docs  = t(s, d, "documents")
      val prior = docs.where(col("doc_id") < 250)
        .select(sha2(col("text"), 256).as("h")).where(col("h").isNotNull)
      val batch = docs.where(col("doc_id") >= 250)
        .unionAll(docs.where(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.dedupAgainstCorpus(batch, "text", "doc_id", prior)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // -- north-star: exact k-NN join (every vector's 5 nearest) ------------
    // Broadcast nested-loop scoring (vectors never shuffle) + per-id window
    // top-k; O(n²) by nature — the oracle-checked baseline for knn_join_ivf.
    "q_knn_join" -> ((s, d) =>
      Similarity.knnJoinExact(t(s, d, "embeddings"), "embedding", "vec_id", k = 5)
        .orderBy("vec_id", "rank")),

    // -- contrastive hard-negative mining ----------------------------------
    // Top-k most-similar CROSS-LABEL neighbors per vector (the negative-
    // sampling pass of contrastive embedding training); knnJoinExact plan
    // + per-(partition,label) complement arrays — no per-pair label branch.
    "q_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(t(s, d, "embeddings"), "embedding", "vec_id", "label", k = 5)
        .orderBy("vec_id", "rank")),

    // -- north-star: IVF-celled approximate k-NN join ----------------------
    // Same contract at scale: pairs meet only through shared IVF cells
    // (build side = primary cell, probe side = 2 nearest cells). Centroids
    // here are the first 8 vectors — deterministic data, NOT learned — so
    // the whole plan is cross-engine reproducible and fully oracle-checked
    // (vs rows-only, which a k-means centroid set would force).
    "q_knn_join_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      Similarity.knnJoinIvf(emb, "embedding", "vec_id", k = 5, cents, nProbes = 2)
        .orderBy("vec_id", "rank")
    }),

    // -- learned-centroid IVF: index QUALITY is the gated quantity ---------
    // The production path (k-means fitIvfCentroids) is inherently rows-only
    // (learned centroids are engine-specific), so the query grades what
    // actually matters about it: recall of the learned-cell ANN join vs the
    // exact join on the same fixtures, asserted IN-QUERY — a centroid
    // regression fails the driver gate instead of shipping silently. The
    // fixture embeddings are near-random (the ANN worst case: no cluster
    // structure to exploit), so the gate probes half the cells and floors
    // at 0.6 (measured ~0.77); a real corpus clusters and probes fewer.
    // Recall alone can't catch a COLLAPSED fit (one giant cell ⇒ brute
    // force ⇒ recall 1.0), so the max-cell population share is gated too.
    // Output: 1-row summary (rows-only by contract — learned values).
    "q_knn_join_ivf_learned" -> ((s, d) => {
      import s.implicits._
      val emb   = t(s, d, "embeddings")
      val pair  = (df: DataFrame) => df.select("vec_id", "neighbor_id")
      // Overlap independent jobs (r18, guide §2.6): the exact k-NN side
      // does not depend on the centroid fit, and the MLlib fit is a chain
      // of small driver-paced Lloyd jobs that leave the cluster mostly
      // idle — materialize the exact pairs concurrently with the fit, and
      // run the two final aggregates (recall join, cell histogram)
      // concurrently too. Same computations, same results; only the
      // action scheduling changes.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val (nExact, nAgree, cellRows) = try {
        // job-group the overlapped exact side (ADVICE r18): if the fit
        // throws, pool.shutdown() alone would leave the in-flight
        // localCheckpoint job running detached — cancel its group on the
        // failure path so the query's failure releases the cluster
        val exactGroup = "q_knn_join_ivf_learned.exact"
        val exactF = scala.concurrent.Future {
          s.sparkContext.setJobGroup(exactGroup,
            "exact kNN pairs (overlapped with the IVF fit)")
          try pair(Similarity.knnJoinExact(emb, "embedding", "vec_id", k = 5))
            .localCheckpoint(true)
          finally s.sparkContext.clearJobGroup()
        }
        val cents =
          try Similarity.fitIvfCentroids(emb, "embedding", k = 8)
          catch { case e: Throwable =>
            s.sparkContext.cancelJobGroup(exactGroup); throw e }
        val exact = scala.concurrent.Await.result(exactF,
          scala.concurrent.duration.Duration.Inf)
        val ivf = pair(
          Similarity.knnJoinIvf(emb, "embedding", "vec_id", k = 5, cents, nProbes = 4))
        // one pass for both counts: (pairs are distinct by construction on
        // both sides, so the left-outer match count IS the intersection size)
        val cntF = scala.concurrent.Future {
          exact.join(ivf.withColumn("__m", lit(1)),
              Seq("vec_id", "neighbor_id"), "left_outer")
            .agg(count(lit(1)).as("n"), count(col("__m")).as("m")).head()
        }
        val cellF = scala.concurrent.Future {
          Similarity.assignCells(
              emb.select(col("vec_id"), col("embedding")), "embedding", cents)
            .groupBy("ivf_cell").count().agg(max("count"), sum("count")).head()
        }
        val cnt = scala.concurrent.Await.result(cntF,
          scala.concurrent.duration.Duration.Inf)
        (cnt.getLong(0), cnt.getLong(1),
          scala.concurrent.Await.result(cellF,
            scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
      val recall = nAgree.toDouble / math.max(nExact, 1L)
      require(recall >= 0.6,
        f"learned-centroid IVF recall $recall%.3f < 0.6 vs exact k-NN " +
          s"($nAgree/$nExact pairs) — centroid fit or probe path regressed")
      val maxShare = cellRows.getLong(0).toDouble / cellRows.getLong(1)
      require(maxShare <= 0.5,
        f"IVF fit collapsed: largest cell holds $maxShare%.2f of the corpus")
      Seq((nExact, nAgree, math.round(recall * 1000), math.round(maxShare * 1000)))
        .toDF("n_exact_pairs", "n_agree_pairs", "recall_permille", "max_cell_permille")
    }),

    // -- north-star: corpus-LM quality score (perplexity-filter shape) -----
    // Char-trigram LM built from the corpus itself; score = mean gram
    // probability in exact-integer arithmetic (one double division at the
    // end — no ln, bit-reproducible cross-engine).
    "q_lm_score" -> ((s, d) =>
      TextAnalysis.ngramLmScore(t(s, d, "documents"), "text", "doc_id", n = 3)
        .orderBy("doc_id")),

    // -- skew-safe salted equi-join (result == plain join, oracle-checked) -
    "q_salted_join" -> ((s, d) => {
      val l = t(s, d, "lineitem").select(
        col("l_orderkey").as("okey"), col("l_partkey"), col("l_quantity"))
      val o = t(s, d, "orders").select(
        col("o_orderkey").as("okey"), col("o_orderpriority"))
      Relational.saltedJoin(l, o, "okey", col("l_partkey"), saltBuckets = 8)
        .groupBy("o_orderpriority")
        .agg(decSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // -- north-star: bag-of-words fingerprint dedup ----------------------
    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // -- north-star: winnowing fingerprints (MOSS overlap detection) -------
    // Schleimer et al. 2003: k-gram rolling-hash window-min fingerprints,
    // selected doc-locally in one kernel pass (only (id, fp) pairs
    // shuffle); per-doc (n_fp, n_shared-with-another-doc) is the overlap
    // report shape. Exact positive long arithmetic end to end — the hash,
    // the (hash, pos) selection key, and the sharing counts all replay in
    // DuckDB.
    "q_winnow" -> ((s, d) =>
      TextAnalysis.winnowStats(t(s, d, "documents"), "text", "doc_id",
          k = 8, w = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- north-star: PII redaction (corpus hygiene) ------------------------
    // The fixture text carries no PII, so deterministic email/phone/IP spans
    // are synthesized from doc_id before scrubbing — the query checks the
    // REDACTION parity (same RE2-safe patterns, same order) across engines.
    "q_pii_scrub" -> ((s, d) =>
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.piiScrub(concat(
            substring(col("text"), 1, 40),
            lit(" mail u"), col("doc_id").cast("string"),
            lit("@ex.org tel 555-01"), (col("doc_id") % 100).cast("string"),
            lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7 end"))).as("scrubbed"))
        .orderBy("doc_id")),

    // -- north-star: duplicated-bigram repetition signal (quality filter) --
    "q_repetition_ratio" -> ((s, d) =>
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
        .orderBy("doc_id")),

    // -- north-star: embedding L2 norm (raw IEEE — no rounding) -----------
    "q_vector_norm" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"), VectorFunctions.norm2(col("embedding")).as("l2"))
        .orderBy("vec_id")),

    // -- north-star: symmetric int8 embedding quantization ----------------
    "q_int8_quantize" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q   = VectorFunctions.quantizeInt8(col("embedding"))
      emb.where(VectorFunctions.maxAbs(col("embedding")) > 0.0)
        .select(col("vec_id"),
          element_at(q, 1).as("q0"),
          element_at(q, 2).as("q1"),
          size(filter(col("embedding"),
            x => abs(x.cast("double")) === VectorFunctions.maxAbs(col("embedding"))))
            .cast("long").as("n_sat"))
        .orderBy("vec_id")
    }),

    // -- north-star: exact n-gram (token-set) Jaccard of adjacent docs ----
    "q_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sets = docs.select(col("doc_id"),
        array_distinct(TextAnalysis.tokens(col("text"))).as("toks"))
      val a = sets.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
      val b = sets.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("toks_a"), col("toks_b")), 6).as("jaccard"))
        .orderBy("id_a")
    }),

    // -- time-series resample + gap-fill + forward fill --------------------
    // The regularization step before windowed features: hourly grid per
    // sampled user from first to last event, missing buckets generated
    // (was_gap=1) and values carried forward. Floor-div bucketing (the
    // ADVICE-r7 truncate hazard avoided by construction), total-order
    // per-bucket argmax, deterministic running fill — fully oracle-replayed.
    "q_resample_ffill" -> ((s, d) =>
      TimeSeries.resampleFill(
          t(s, d, "events").where(col("user_id") % 100 === 0),
          "user_id", "ts", "value", intervalNanos = 3600L * 1000000000L)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "bucket_ns")),

    // -- ranked-retrieval evaluation (P@k/R@k/MRR/MAP) ---------------------
    // The measurement half of the ANN stack: truth = each sampled
    // customer's purchased parts; results = a deterministic integer-hash
    // ranking over the part catalog. AP sums are lcm-scaled exact
    // integers (Ranking scaladoc) so the whole metric table hash-matches
    // DuckDB.
    "q_ranking_metrics" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("score"), col("item"))
      val qids = t(s, d, "orders").where(col("o_custkey") % 50 === 0)
        .select(col("o_custkey").as("qid")).distinct()
      val truth = t(s, d, "orders").where(col("o_custkey") % 50 === 0)
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("qid"), col("l_partkey").as("item"))
      // candidate catalog: a deterministic 1-in-7 slice of part — the
      // cross join is |qids|x|catalog| TEST WIRING, not the operator under
      // test (exact-integer AP over rank<=k rows), so the synthetic
      // candidate set stays small by construction
      val results = qids
        .crossJoin(broadcast(t(s, d, "part").select(col("p_partkey").as("item"))
          .where(col("item") % 7 === 0)))
        .withColumn("score", pmod(col("qid") * 31 + col("item") * 7, lit(97)))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
      Ranking.metricsAtK(results, truth, "qid", "rank", "item", k = 10)
        .orderBy("qid")
    }),

    // -- exact-threshold Jaccard set-similarity join (AllPairs prefix) ----
    // The no-false-negative complement to the MinHash/LSH family: prefix
    // filtering under a rarest-first global shingle order + exact
    // integer-rational threshold tests. The oracle is the full O(n²)
    // brute force — candidate pruning must lose NOTHING to hash-match it.
    "q_jaccard_join" -> ((s, d) =>
      Dedup.jaccardJoinExact(t(s, d, "documents"), "text", "doc_id",
          minJaccard = 0.8, shingleN = 2)
        .orderBy("id_a", "id_b")),

    // -- north-star: brute-force cosine top-k ----------------------------
    "q_similarity_cosine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q   = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.cosineTopK(emb, "embedding", "vec_id", q, 20)
    }),

    // -- matryoshka (MRL) coarse-to-fine retrieval -------------------------
    // The truncated-embedding two-stage shape: rank the corpus by cosine
    // over the FIRST 16 dims (the cheap MRL prefix — at 100 TB this scan
    // reads 1/4 of the vector bytes), keep top-100, then exact full-dim
    // re-rank to the final top-20. Both stages order by (rounded cos DESC,
    // id) so the candidate cut is deterministic and the whole pipeline is
    // DuckDB-oracle-checked.
    "q_matryoshka" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val sliced = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val q16 = sliced.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val q64 = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val coarse = Similarity.cosineTopK(sliced, "embedding", "vec_id", q16, 100)
        .select("vec_id")
      Similarity.cosineTopK(emb.join(coarse, "vec_id"), "embedding", "vec_id", q64, 20)
    }),

    // -- MapType: parse JSON to map, explode to key/value rows ------------
    "q_json_map" -> ((s, d) => {
      t(s, d, "events")
        // explode_outer: a null/unparseable props row must still emit one
        // row (null key/value) — the oracle emits one row per event
        .select(col("event_id"),
          explode_outer(from_json(col("props"), MapType(StringType, LongType))))
        .select(col("event_id"), col("key"), col("value"))
        .orderBy("event_id", "key")
    }),

    // -- edit distance (levenshtein) between adjacent docs' sources -------
    "q_levenshtein" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "source")
      val a = docs.select(col("doc_id").as("id_a"), col("source").as("src_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("source").as("src_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("src_a"), col("src_b")).cast("long").as("edit_dist"))
        .orderBy("id_a")
    }),

    // -- generator family: explode + token frequency top-k ----------------
    "q_explode_tokens" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("token"))
        .limit(20)
    }),

    // -- pivot: per-lang counts spread over source columns ----------------
    "q_pivot" -> ((s, d) => {
      val srcs = Seq("src0", "src1", "src2", "src3")
      t(s, d, "documents")
        .where(col("source").isin(srcs: _*))
        .groupBy("lang").pivot("source", srcs).count()
        .select(col("lang") +: srcs.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("lang")
    }),

    // -- exact interpolated percentiles per group -------------------------
    "q_percentile" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
          round(percentile(col("l_quantity"), lit(0.9)), 6).as("p90"))
        .orderBy("l_returnflag")
    }),

    // -- TPC-H Q3 shape: selective 3-way join → agg → top-k by revenue ----
    "q_mjoin_agg_topk" -> ((s, d) => {
      val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = t(s, d, "lineitem").where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("o_orderkey")
        .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    }),

    // -- TPC-H Q5 shape: 6-way snowflake join → per-nation revenue --------
    "q_mjoin_regional" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val sup = t(s, d, "supplier")
      val n = broadcast(t(s, d, "nation"))
      val r = broadcast(t(s, d, "region").where(col("r_name") === "ASIA"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    // -- rollup: hierarchical subtotals + grand total ---------------------
    "q_rollup" -> ((s, d) => {
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          decSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // -- cube: all grouping-set combinations ------------------------------
    "q_cube" -> ((s, d) => {
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          decSum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // -- set operations: intersect / except (distinct-set semantics) ------
    "q_set_ops" -> ((s, d) => {
      val c = t(s, d, "customer")
      val a = c.where(col("c_acctbal") > 0).select("c_custkey")
      val b = c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      a.intersect(b).withColumn("tag", lit("both"))
        .unionAll(a.except(b).withColumn("tag", lit("only_a")))
        .orderBy("tag", "c_custkey")
    }),

    // -- date/time family: month truncation + per-month aggregates --------
    "q_date_agg" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          decSum(col("o_totalprice")).as("sum_price"))
        .orderBy("month")
    }),

    // -- watermark-style tumbling-window aggregation (epoch-aligned) ------
    "q_windowed_agg" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("event_time", timestamp_seconds(expr("ts div 1000000000")))
      ev.groupBy(window(col("event_time"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          decSum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("window_start_s"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start_s", "event_type")
    }),

    // -- north-star: BPE-ish subword count heuristic ----------------------
    "q_subword_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.subwordCountApprox(col("text")).as("n_subwords"))
        .orderBy("doc_id")),

    // -- L4 repartition preserves content --------------------------------
    "q_repartition_stable" -> ((s, d) =>
      t(s, d, "lineitem").repartition(8)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")),

    // -- as-of join: point-in-time attach of latest purchase per user -----
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("t"), col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "t")
      // right side unique per (user, ts): asofJoin contract
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "t").agg(max("value").as("pval"))
      Relational.asofJoin(clicks, purchases, Seq("user_id"), "t", "t", Seq("pval"))
        .select(col("event_id"), col("user_id"), col("t").as("ts_us"),
          col("asof_pval").as("last_purchase"))
        .orderBy("event_id")
    }),

    // -- range (band) join: broadcast interval table, no equi-key ----------
    "q_range_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq(("b0", 0e0, 1e5), ("b1", 1e5, 2e5), ("b2", 2e5, 3e5),
        ("b3", 3e5, 4e5), ("b4", 4e5, 6e5)).toDF("band", "lo", "hi")
      // tiny interval dim × big fact: broadcast nested-loop is the RIGHT
      // plan (5 bands); an equi-bucketing rewrite only pays above ~1e3 bands
      t(s, d, "orders")
        .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("sum_price"))
        .orderBy("band")
    }),

    // -- deterministic negative sampling (implicit-feedback training) ------
    // k non-interacted parts per sampled customer, chosen by an exact
    // arithmetic hash both engines replay bit-for-bit — no RNG in the
    // training-pair generator, so shards rebuild identically.
    "q_negative_sample" -> ((s, d) => {
      // filter orders to the sampled users BEFORE the join and broadcast
      // that side: lineitem (the big side) then never shuffles
      val pos = t(s, d, "lineitem").join(
          broadcast(t(s, d, "orders").where(col("o_custkey") % 50 === 0)),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").cast("long").as("item_id"))
      Relational.negativeSample(pos, "user_id", "item_id",
          t(s, d, "part"), "p_partkey", k = 5)
        .orderBy("user_id", "rk")
    }),

    // -- robust outliers: Hampel rule on group medians ---------------------
    // MAD flagging where zscore's mean/std would move with the outliers;
    // both medians ride the q_median interpolation contract.
    "q_mad_outliers" -> ((s, d) =>
      Relational.madOutliers(
          t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
          "l_quantity", "l_returnflag", nMads = 3.0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "med", "mad", "outlier")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    // -- binned range join: the interval-join SCALE path in the gate -------
    // 1000 deterministic overlapping bands — the regime where q_range_join's
    // broadcast nested loop stops being the right plan. Self-gating: the
    // require fails if the plan ever degrades to a nested loop / cartesian;
    // values are checked against DuckDB's plain inequality join.
    "q_range_join_binned" -> ((s, d) => {
      val bands = s.range(1000).select(col("id").as("band"),
        (col("id") * 600).cast("double").as("lo"),
        (col("id") * 600 + 300 + pmod(col("id"), lit(7)) * 150).cast("double").as("hi"))
      val joined = Relational.binnedRangeJoin(
        t(s, d, "orders"), "o_totalprice", bands, "lo", "hi", binWidth = 600.0)
      val agg = joined.groupBy("band")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("sum_price"))
      val plan = agg.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"binned range join must plan as an equi-join; got:\n$plan")
      agg.orderBy("band")
    }),

    // -- grouping sets (beyond rollup/cube): explicit set list + grouping()
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    }),

    // -- left-semi + left-anti joins ---------------------------------------
    "q_join_semi_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey")).withColumn("tag", lit("has_orders"))
        .unionAll(
          c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
            .select(col("c_custkey")).withColumn("tag", lit("no_orders")))
        .orderBy("tag", "c_custkey")
    }),

    // -- window navigation: lag / lead / first_value -----------------------
    "q_window_lag" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          first("o_totalprice")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_price"))
        .orderBy("o_orderkey")
    }),

    // -- window distribution: ntile / percent_rank / cume_dist -------------
    "q_window_ntile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders").select(
          col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy("o_orderkey")
    }),

    // -- deterministic moment statistics (stddev/corr from decimal sums) ---
    // built-in stddev/corr merge partial moments in partition order —
    // nondeterministic in the last double bits; exact decimal power sums
    // fed through an identical double formula are bit-stable on both
    // engines. The price is pre-scaled by 1/1000 (identically on both
    // sides) so the squared-price sum's DECIMAL(38,4) unscaled value stays
    // below 2^53 — beyond that the decimal→double cast is inexact and the
    // engines' rounding need not agree. corr is invariant under the
    // scaling; std/mean are only reported for the (small) quantity.
    "q_stats_agg" -> ((s, d) => {
      val q  = col("l_quantity")
      val p  = col("l_extendedprice") / lit(1000.0)
      val g = t(s, d, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(q.cast(Dec)).cast(Dec).as("sx"),
        sum((q * q).cast(Dec)).cast(Dec).as("sxx"),
        sum(p.cast(Dec)).cast(Dec).as("sy"),
        sum((p * p).cast(Dec)).cast(Dec).as("syy"),
        sum((q * p).cast(Dec)).cast(Dec).as("sxy"))
      val n   = col("n")
      val sx  = col("sx").cast("double"); val sxx = col("sxx").cast("double")
      val sy  = col("sy").cast("double"); val syy = col("syy").cast("double")
      val sxy = col("sxy").cast("double")
      g.select(col("l_returnflag"), n,
          round(sx / n, 6).as("mean_qty"),
          round(sqrt((sxx - sx * sx / n) / (n - 1)), 6).as("std_qty"),
          round((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6).as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // -- array higher-order functions (exact ops only — no float folds) ----
    "q_array_funcs" -> ((s, d) =>
      t(s, d, "embeddings").select(
          col("vec_id"),
          size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
          size(filter(col("embedding"), x => abs(x) > lit(0.5))).cast("long").as("n_big"),
          round(array_min(col("embedding")).cast("double"), 6).as("min_v"),
          round(element_at(col("embedding"), 5).cast("double"), 6).as("elem5"))
        .orderBy("vec_id")),

    // -- HAVING: post-aggregation predicate --------------------------------
    "q_having" -> ((s, d) =>
      t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          (sum(col("c_acctbal").cast(Dec)).cast(Dec).cast("double") / count(lit(1))).as("avg_bal"))
        .where(col("n") > 100)
        .orderBy("c_mktsegment")),

    // -- salted two-phase aggregation (skew guard), oracle = plain group-by
    "q_skew_salted" -> ((s, d) =>
      Relational.saltedAggregate(
          t(s, d, "events"), "event_type", saltBuckets = 8,
          partialAggs = Seq(sum(col("value").cast(Dec)).as("ps"), count(lit(1)).as("pn")),
          mergeAggs = Seq(sum(col("ps")).cast(Dec).cast("double").as("sum_value"),
            sum(col("pn")).as("n")))
        .orderBy("event_type")),

    // -- unpivot (wide → long melt) ----------------------------------------
    "q_unpivot" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"), col("p_retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")), "attr", "val")
        .orderBy("p_partkey", "attr")),

    // -- sum-valued pivot (long → wide), q_pivot's aggregating sibling -----
    // EXPLICIT pivot-value list — the scale-safe form: without it Spark
    // runs a hidden distinct-scan job over the pivot column just to
    // discover the output schema (a full extra pass at 100 TB), and the
    // schema becomes data-dependent. With the list, the plan is a single
    // groupBy with conditional partial aggregates — one shuffle, map-side
    // combined, schema fixed at plan time.
    "q_pivot_sum" -> ((s, d) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      t(s, d, "customer")
        .groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(sum(col("c_acctbal").cast(Dec)).cast(Dec).cast("double"))
        .select(col("c_nationkey") +: segs.map(v =>
          col(s"`$v`").as(s"bal_${v.toLowerCase}")): _*)
        .orderBy("c_nationkey")
    }),

    // -- max_by / min_by: value of one column at the extreme of another ----
    // ordering column (o_orderkey) is unique per group → deterministic
    "q_agg_minmax_by" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(
          max_by(col("o_totalprice"), col("o_orderkey")).as("price_of_last_order"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("price_of_first_order"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey")),

    // -- string function family --------------------------------------------
    "q_string_funcs" -> ((s, d) =>
      t(s, d, "part").select(
          col("p_partkey"),
          substring(col("p_name"), 1, 8).as("prefix8"),
          lpad(col("p_brand"), 12, "_").as("brand_lpad"),
          rpad(col("p_brand"), 12, ".").as("brand_rpad"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          reverse(col("p_name")).as("rev_name"),
          upper(col("p_type")).as("type_up"),
          length(col("p_type")).cast("long").as("type_len"))
        .orderBy("p_partkey")),

    // -- date/time function family ----------------------------------------
    // (dayofweek conventions differ: Spark is 1=Sunday, DuckDB 0=Sunday —
    //  the oracle adds 1)
    "q_date_funcs" -> ((s, d) =>
      t(s, d, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          weekofyear(col("o_orderdate")).cast("long").as("wk"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
          datediff(to_date(lit("1999-01-01")), col("o_orderdate")).cast("long").as("days_to_99"))
        .orderBy("o_orderkey")),

    // ================= non-oracle queries (rows-only check) =============

    // -- L3 seeded random split (engine-specific RNG, SURVEY §5 hazard 3) -
    "q_random_split" -> ((s, d) => {
      val Array(train, va) =
        Relational.seededSplit(t(s, d, "lineitem"), Array(0.6, 0.4), 12345L)
      train.select(col("l_orderkey"), col("l_linenumber")).withColumn("split", lit("train"))
        .unionAll(va.select(col("l_orderkey"), col("l_linenumber")).withColumn("split", lit("val")))
    }),

    // -- north-star: MinHash + LSH near-dedup DECISIONS (oracle-checked) --
    // r17 conversion (VERDICT r16 #3, the q_embedding_neardup pattern):
    // signature matrices are engine hash-family outputs no oracle can
    // express, but the DECISION — which docs survive an exact-duplicate
    // (Jaccard == 1.0) near-dedup — is set algebra DuckDB replays. Recall
    // on identical shingle sets is STRUCTURAL, not probabilistic:
    // identical sets → identical 64-hash signatures → identical band keys
    // in all 16 bands, so the pair meets unless every one of its 16
    // buckets is capped, and the exact-Jaccard confirm inside
    // dropNearDuplicates removes any est-collision false positive.
    // J == 1.0 is transitive, so the one-pass keep-min rule equals the
    // oracle's min-per-identical-shingle-set group. Planted copies (every
    // 10th doc, id + 1_000_000) keep the recall claim loud in-query.
    "q_dedup_minhash" -> ((s, d) => {
      val docs = assertPlantable(t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      val planted = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(PlantOffset)).as("doc_id"), col("text"))
      // maxBucketSize 512: an identical-text group caps ALL its buckets at
      // once, so the cap must exceed the largest exact-duplicate
      // multiplicity in the fixture (measured max 2; 512 is data-skew
      // headroom, not tuning — see dropNearDuplicates)
      val surv = Dedup.dropNearDuplicates(docs.unionByName(planted), "text", "doc_id",
          shingleN = 2, numHashes = 64, bands = 16, minJaccard = 1.0, maxBucketSize = 512)
        .select("doc_id").localCheckpoint(true) // gate + result share one pass
      val leaked = surv.where(col("doc_id") >= 1000000L).count()
      require(leaked == 0, s"minhash dedup decision regressed: $leaked planted " +
        "exact copies survived (an identical-signature pair can only be lost " +
        "to a bucket-cap/banding regression or a broken exact confirm)")
      surv.orderBy("doc_id")
    }),

    // -- north-star: full corpus-prep pipeline (filter→dedup→chunk→split) -
    "q_corpus_prep" -> ((s, d) =>
      CorpusPipeline.prepare(
          t(s, d, "documents"), "text", "doc_id",
          CorpusPipeline.Config(
            minQuality = 0.2,
            languages = Seq("en", "und"),
            nearDedupShingleN = 2,
            chunkSize = 256, chunkStride = 200, trainPct = 80))
        .select(col("doc_id"), col("chunk_idx"), length(col("chunk")).cast("long").as("chunk_len"),
          col("lang"), col("split"))
        .orderBy("doc_id", "chunk_idx")),

    // -- corpus-pipeline dropout provenance (observability) ----------------
    // One row per input doc: which stage of the SAME pipeline as
    // q_corpus_prep would drop it (quality/lang gate, exact-dup rep,
    // near-dedup) and how many chunks it contributes. Fully
    // oracle-replayed — the "why did my document disappear" answer is a
    // deterministic set-membership question.
    "q_corpus_audit" -> ((s, d) =>
      CorpusPipeline.audit(
          t(s, d, "documents"), "text", "doc_id",
          CorpusPipeline.Config(
            minQuality = 0.2,
            languages = Seq("en", "und"),
            nearDedupShingleN = 2,
            chunkSize = 256, chunkStride = 200, trainPct = 80))
        .orderBy("doc_id")),

    // -- north-star: end-to-end near-dedup (candidates → confirm → drop) --
    // Word BIGRAM shingles: at this corpus's ~30-word vocabulary, unigram
    // token sets make nearly every doc pair resemble every other (30k+ true
    // pairs at sf0.01 — candidate recall through capped LSH buckets is then
    // structurally impossible), while bigrams isolate the generator's
    // planted near-dup pairs. Oracle-checked against brute-force all-pairs
    // exact Jaccard in DuckDB — the LSH path must achieve full recall on
    // the >= 0.8 pairs for the hash to match (bands=16, r=4: per-pair miss
    // probability <= (1-0.8^4)^16 ≈ 2e-4, and the hash family is fixed-seed
    // deterministic, so a green run stays green).
    "q_dedup_near_drop" -> ((s, d) =>
      Dedup.dropNearDuplicates(t(s, d, "documents"), "text", "doc_id",
          shingleN = 2, minJaccard = 0.8)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // -- north-star: SimHash near-dup decisions on planted exact copies ---
    // r17 conversion: the 64-bit sketch itself is engine-specific, but a
    // planted EXACT copy (identical token stream → identical simhash →
    // Hamming 0 → shares all four 16-bit pigeonhole blocks) is found
    // structurally, so the copy↔source decision pairs are an
    // oracle-expressible set. Output restricted to the planted relation
    // (id_b = id_a + 1_000_000): natural hamming<=3 pairs remain
    // engine-sketch-specific and stay out of the hashed result; the
    // in-query gate still fails loudly if blocking loses ANY planted pair
    // (only a bucket-cap regression could — a capped block bucket drops
    // the pair in that block only, and all four blocks match here).
    "q_dedup_simhash" -> ((s, d) => {
      val docs = assertPlantable(t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      val planted = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(PlantOffset)).as("doc_id"), col("text"))
      // maxBucketSize 512: identical texts share all four blocks, so a
      // degenerate identical-text group past the cap would lose its
      // planted pairs in every block at once (headroom over the measured
      // fixture max of 2, same rationale as q_dedup_minhash)
      val found = Dedup.simHashCandidatePairs(docs.unionByName(planted),
          "text", "doc_id", maxHamming = 3, maxBucketSize = 512)
        .where(col("hamming") === 0 && col("id_b") === col("id_a") + 1000000L &&
          col("id_a") % 10 === 0)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(true) // gate + result share one pass
      val expected = docs.where(col("doc_id") % 10 === 0).count()
      val got = found.count()
      require(got == expected, s"simhash blocking recall regressed: found $got " +
        s"of $expected planted identical-sketch pairs")
      found.orderBy("id_a")
    }),

    // -- north-star: heuristic language ID --------------------------------
    "q_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("guessed_lang"))
        .orderBy("doc_id")),

    // -- north-star: LSH-bucketed approximate nearest neighbors -----------
    // Gated like q_knn_join_ivf_learned: the LSH result is rows-only by
    // contract (hash-family-specific candidates), so the query computes the
    // exact top-k IN-QUERY and fails itself if recall drops below 0.7 —
    // an LSH-parameter regression (bits/bands/seed) trips the driver gate
    // instead of shipping a silently-degraded index. Adding the gate
    // exposed that the old radius-4 default had recall 0.10 on these
    // fixtures: near-random embeddings (the ANN worst case) put even true
    // top-20 neighbors at cosine ~0.4, where a 16-bit SRP signature
    // disagrees on ~6 bits in expectation. Radius 8 measures recall
    // 0.80/0.85/1.0 at sf0.001/0.01/0.1 (deterministic: fixed seed + fixed
    // fixtures); a real clustered corpus runs a tighter radius cheaper.
    "q_similarity_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q   = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val ann = Similarity.annLshTopK(emb, "embedding", "vec_id", q, k = 20,
        maxHamming = 8)
      val annIds   = ann.select("vec_id").collect().map(_.getLong(0)).toSet
      val exactIds = Similarity.cosineTopK(emb, "embedding", "vec_id", q, k = 20)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = annIds.intersect(exactIds).size.toDouble / math.max(exactIds.size, 1)
      require(recall >= 0.7,
        f"ANN LSH recall $recall%.3f < 0.7 vs exact top-20 — LSH parameters regressed")
      ann
    }),

    // -- north-star: embedding-cosine near-dup pairs (LSH-blocked) --------
    // Oracle-checked (round 16): the fixtures are near-random (max natural
    // cosine ~0.51), so true near-dups are PLANTED in-query — a 0.5-scaled
    // copy of every 10th vector. Powers-of-two scaling is IEEE-exact, so
    // the planted cosine is exactly 1.0 in BOTH engines, and sign(w·v) is
    // scale-invariant, so the copy's SRP signature is IDENTICAL to its
    // source's — LSH recall on the planted set is structurally 1.0, not
    // probabilistic, which is what lets the LSH-blocked pair set equal the
    // brute-force all-pairs oracle (threshold 0.95 clears the 0.51 natural
    // ceiling with margin). The in-query gate keeps the recall claim loud.
    "q_embedding_neardup" -> ((s, d) => {
      val emb = assertPlantable(
        t(s, d, "embeddings").where(col("embedding").isNotNull), "vec_id")
      val planted = emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(PlantOffset)).as("vec_id"),
          transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
      val aug = emb.select("vec_id", "embedding").unionByName(planted)
      // 24-bit signatures: 6-bit bands keep bucket sizes ~n/64 — the 8-bit
      // variant had only 4 distinct keys per band and hit the bucket cap.
      val pairs = Similarity.cosineNearDupPairs(aug, "embedding", "vec_id",
          dim = 64, minCosine = 0.95, nBits = 24)
        .localCheckpoint(true) // the gate below and the result share one pass
      val expected = emb.where(col("vec_id") % 10 === 0).count()
      val found = pairs.where(col("id_b") === col("id_a") + 1000000L &&
        col("id_a") % 10 === 0).count()
      require(found == expected,
        s"embedding near-dup recall regressed: found $found of $expected " +
          "planted scaled-copy pairs (identical-signature pairs can only be " +
          "lost to a bucket-cap or banding regression)")
      pairs.orderBy("id_a", "id_b")
    }),

    // -- stateful: flatMapGroupsWithState gap sessionization --------------
    // µs precision on both sides (DuckDB truncates nanos, SURVEY §5.1);
    // oracle replicates the gap logic with lag + cumulative-sum windows.
    "q_sessionize" -> ((s, d) => {
      val evUs = t(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_type"))
      Stateful.sessionizeEvents(s, evUs, gapNanos = 3600L * 1000000L /* 1h in µs */ )
        .toDF()
        .select(col("user_id"), col("start_ns").as("start_us"),
          col("end_ns").as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // -- multimodal: binary payload + typed meta + batch feature extract --
    // (audio/video decode are deterministic STUBS — no codecs here; the
    //  schema/partitioning/mapPartitions plumbing is the real deliverable)
    "q_multimodal_features" -> ((s, _) => {
      val dir   = ImageFixtures.shared()
      val files = ImagePipeline.readBinaryImages(s, dir)
      val media = Multimodal.fromBinaryFiles(files, "image")
        .unionAll(Multimodal.fromBinaryFiles(files.limit(10), "audio"))
        .unionAll(Multimodal.fromBinaryFiles(files.limit(10), "video"))
      Multimodal.extractFeatures(media, dim = 16)
        .select(col("media_id"), col("modality"), size(col("features")).as("feat_dim"))
        .orderBy("modality", "media_id")
    }),

    // -- north-star: IVF index build (assignment + partitioned write) ------
    // Deliberately rebuilds every call: its bench line is the honest
    // build cost, separated from the probe (`q_similarity_ivf`) the way a
    // real deployment amortizes it. Centroids = vectors 0..7 (deterministic
    // data — the q_knn_join_ivf convention), so the per-cell histogram it
    // returns replays exactly in the oracle; the learned-fit cost stays
    // measured by q_knn_join_ivf_learned / q_kmeans.
    "q_ivf_build" -> ((s, d) => {
      val emb  = t(s, d, "embeddings")
      val path = ivfIndexPath(d)
      val fp   = Similarity.sourceFingerprint(emb)
      val cent = Similarity.buildIvfIndexWith(emb, "embedding", "vec_id",
        dataRowCentroids(emb, 8L), path)
      ivfMemo.put((d, fp), cent)
      s.read.parquet(path)
        .groupBy("ivf_cell").agg(count(lit(1)).as("n"))
        .select(col("ivf_cell").cast("long"), col("n"))
        .orderBy("ivf_cell")
    }),

    // -- north-star: IVF ANN probe over the persisted index ---------------
    // Partition-pruned read: only the 3 probed cells' directories are
    // scanned (PlansSpec asserts the selected-partition count). Fully
    // oracle-checked: deterministic centroids make the probe-cell choice
    // and the in-cell top-k replayable in SQL.
    "q_similarity_ivf" -> ((s, d) => {
      val (path, centroids) = ensureIvfIndex(s, d)
      val q = t(s, d, "embeddings").where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.probeIvfIndex(s, path, "vec_id", "embedding", q, centroids, k = 20, nProbes = 3)
    }),

    // -- IVF index incremental append (continuous ingest, no refit) --------
    // Build on the EVEN half with deterministic centroids (the even
    // vectors below 16), append the odd half to the EXISTING cells, probe
    // the appended index. Doubly checked: the in-query require proves the
    // appended index answers probes IDENTICALLY to a direct assignment
    // scan of the full corpus (append drops/misroutes nothing), and the
    // oracle replays that scan in SQL — so the probe result itself is
    // hash-checked too.
    "q_ivf_append" -> ((s, d) => {
      val emb  = t(s, d, "embeddings")
      val path = scratchDir("graft_qivfapp") + "/idx"
      val base  = emb.where(pmod(col("vec_id"), lit(2L)) === 0L)
      val batch = emb.where(pmod(col("vec_id"), lit(2L)) === 1L)
      val cents = Similarity.buildIvfIndexWith(base, "embedding", "vec_id",
        dataRowCentroids(emb, 16L, pmod(col("vec_id"), lit(2L)) === 0L), path)
      Similarity.appendToIvfIndex(batch, "embedding", "vec_id", path)
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val out = Similarity.probeIvfIndex(s, path, "vec_id", "embedding", q,
        cents, k = 20, nProbes = 3).localCheckpoint(true)
      val direct = Similarity.annIvfTopK(emb, "embedding", "vec_id", q,
        cents, k = 20, nProbes = 3)
      require(out.collect().toSeq == direct.collect().toSeq,
        "appended IVF index diverged from the direct assignment scan")
      out
    }),

    // -- S1 image source: spark-mllib ImageFileFormat nested struct --------
    // (rows-only: the image struct's decode metadata has no SQL oracle; the
    //  decoded dims are cross-checked against the binary pipeline's header
    //  kernel in ImagePipelineSpec — 00. Explore.py:45)
    "q_image_source" -> ((s, _) => {
      val dir = ImageFixtures.shared()
      ImagePipeline.readImageSource(s, dir)
        .select(
          regexp_extract(col("image.origin"), "(flower_photos/.*)$", 1).as("rel_path"),
          col("image.width").as("width"), col("image.height").as("height"),
          col("image.nChannels").as("n_channels"))
        .orderBy("rel_path")
    }),

    // -- S2+I1+A4 image ingest: binaryFile scan → label → size → index -----
    // (binary pipeline; self-checked in ImagePipelineSpec — no SQL oracle)
    "q_image_size" -> ((s, _) => {
      val dir = ImageFixtures.shared()
      ImagePipeline.ingest(s, dir)
        .select(
          regexp_extract(col("path"), "(flower_photos/.*)$", 1).as("rel_path"),
          col("label"), col("size.width").as("width"), col("size.height").as("height"),
          col("label_index"))
        .orderBy("rel_path")
    }),

    // -- A5+I3 grouped-map grayscale, compared on decoded pixels ----------
    "q_image_grayscale" -> ((s, _) => {
      val dir = ImageFixtures.shared()
      ImagePipeline.ingest(s, dir)
        .select(
          regexp_extract(col("path"), "(flower_photos/.*)$", 1).as("rel_path"),
          col("label"), col("grayscale_format"),
          ImageUdfs.pixelChecksum(col("grayscale_image")).as("gray_checksum"))
        .orderBy("rel_path")
    }),

    // -- north-star: perceptual-hash image near-dedup ----------------------
    // LAION-shape image dedup: each fixture image plus a brightness-shifted
    // re-encode (every byte differs; the dHash barely moves) run through
    // banded near-dup grouping. Rows-only by contract (no SQL engine
    // decodes JPEGs); PerceptualSpec proves shifted copies group with
    // their originals and distinct images keep distinct groups. The
    // in-query require makes the driver gate itself fail if recall breaks.
    "q_image_phash" -> ((s, _) => {
      val dir  = ImageFixtures.shared()
      // parallelizeScan (r18): the brightness-shift (decode + re-encode)
      // and both phash passes otherwise run inside the 1-2 partitions the
      // binaryFile scan packs the small fixture files into
      val base = Tables.parallelizeScan(ImagePipeline.readBinaryImages(s, dir)
        .select(regexp_extract(col("path"), "(flower_photos/.*)$", 1).as("img_id"),
          col("content")))
      val shifted = base.select(concat(col("img_id"), lit("#b")).as("img_id"),
        ImageUdfs.brightnessShift(col("content"), lit(8)).as("content"))
      val out = graft.image.Perceptual
        .nearDupGroups(base.unionByName(shifted), "content", "img_id",
          maxHamming = 6, bands = 8) // 8×8-bit bands: JPEG re-encode noise headroom
        .select(col("img_id"), col("phash"), col("rep"))
        .localCheckpoint(true) // grouped twice below: hash images once
      val nPaired = out.where(col("rep") =!= col("img_id")).count()
      val nSrc    = out.where(!col("img_id").endsWith("#b")).count()
      require(nPaired >= nSrc / 2,
        s"phash near-dup recall collapsed: only $nPaired of ~$nSrc shifted copies paired")
      out.orderBy("img_id")
    }),

    // -- S6+S9 micro-batch file stream → stateless transform → append sink
    // (batch-equivalence self-checked in StreamingSpec — no SQL oracle)
    "q_stream_inference" -> ((s, d) => {
      val work    = scratchDir("graft_stream")
      val srcDir  = s"$work/src"
      t(s, d, "events").select("event_id", "event_type", "value")
        .repartition(4).write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      StreamingInference.streamTransform(
        s, srcDir, schema,
        df => df.select(col("event_id"), col("event_type"),
          (col("value") * 2.0 + 1.0).as("score")),
        s"$work/sink", s"$work/ckpt", maxFilesPerTrigger = 2)
        .orderBy("event_id")
    }),

    // -- the reference notebooks END-TO-END as ONE query -------------------
    // The full `01. Ingest.py:33-189` + `03. Inference.py:73-115` chain:
    // binaryFile glob scan → label regex + size decode → dict label index →
    // grouped-map grayscale kernel → left-outer re-attach → commit into a
    // versioned table → OPTIMIZE (`commitCompact`) → stream inference over
    // the table through `readStream.format("graft")`, whose initial
    // snapshot is the compacted version. Two in-query gates keep the
    // un-oracle-able layers loud (grayscale payloads re-attached for every
    // image; stream inference == batch inference row-for-row); the EMITTED
    // columns are the metadata the DuckDB oracle re-derives from the
    // fixture generator's arithmetic — width/height and the alphabetical
    // dense label index are pure functions of (class, i), so the oracle
    // needs no image decoding, just the same integer formulas.
    "q_reference_e2e" -> ((s, _) => {
      val src  = ImageFixtures.shared()
      val work = scratchDir("graft_ref_e2e")
      val ingested = ImagePipeline.ingest(s, src, s"$work/stage")
      val tableDir = s"$work/table"
      VersionedTable.commit(s, ingested, tableDir)
      VersionedTable.commitCompact(s, tableDir, targetFiles = 2)
      val table = VersionedTable.read(s, tableDir)
      val model = new graft.image.LinearScoringModel(ImageFixtures.Classes)
      // localCheckpoint both sides: the gate below runs three actions, and
      // uncached plans would re-run the model inference for each
      val streamed = StreamingInference.runToCompletion(
        ImagePipeline.batchInference(s.readStream.format("graft").load(tableDir), model),
        s"$work/sink", s"$work/ckpt")
        .localCheckpoint(true)
      val batch = ImagePipeline.batchInference(table, model).localCheckpoint(true)
      // MULTISET equality (exceptAll both ways): a count+set check would
      // pass a replay that duplicates one row and drops another
      require(batch.count() > 0 &&
          streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "q_reference_e2e: stream inference must equal batch inference row-for-row")
      require(table.where(col("grayscale_image").isNull).count() == 0,
        "q_reference_e2e: grouped-map grayscale must re-attach for every image")
      table.select(
        col("label"),
        regexp_extract(col("path"), "img_(\\d+)\\.jpg", 1).cast("long").as("img_i"),
        col("size.width").cast("long").as("width"),
        col("size.height").cast("long").as("height"),
        col("label_index").cast("long").as("label_index"))
        .orderBy("label", "img_i")
    }),

    // -- streaming LLM-pipeline: incremental near-dedup --------------------
    // The arrival-order near-dedup shape: each micro-batch LSH-probes the
    // MinHash signatures of all PRIOR survivors (payloads never shuffle;
    // the probe reads (id, sig) only), survivors persist WITH their
    // signatures to the sink table as one txn-marked append per trigger
    // (replay-idempotent; the sink is the index).
    // Run-to-completion on fixture documents split
    // into deterministic micro-batches. Rows-only by contract: the result
    // depends on arrival order (a batch semantics no SQL oracle replays);
    // batch-equivalence + exactly-once specs in StreamingSpec.
    "q_stream_near_dedup" -> ((s, d) => {
      val work   = scratchDir("graft_snd")
      val srcDir = s"$work/src"
      val docs   = assertPlantable(
        t(s, d, "documents").select("doc_id", "text"), "doc_id")
      // the source write below and the planted-copies write after it are
      // independent — overlap them (r18, guide §2.6); the mtime ordering
      // that sequences the TRIGGERS is stamped explicitly afterwards
      val srcWriteF = {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        scala.concurrent.Future(docs.repartition(4).write.parquet(srcDir))
      }
      // planted EXACT copies (r17 gate): arrive LAST (later mtime → later
      // trigger), after every source doc is in the index — an identical
      // text has an identical signature, so est == 1.0 and the LSH probe
      // finds it structurally; every planted copy MUST be dropped, making
      // an index/probe/recall regression fail the driver gate, not just
      // the batch-equivalence specs
      val copyTmp = s"$work/copies"
      docs.where(col("text").isNotNull && col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(PlantOffset)).as("doc_id"), col("text"))
        .repartition(1).write.parquet(copyTmp)
      // both writes done before the copies file moves INTO the source dir
      scala.concurrent.Await.result(srcWriteF,
        scala.concurrent.duration.Duration.Inf)
      val copyPart = new java.io.File(copyTmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val planted = java.nio.file.Paths.get(srcDir, "z_copies.parquet")
      java.nio.file.Files.move(copyPart.toPath, planted)
      planted.toFile.setLastModified(System.currentTimeMillis() + 5000)
      // maxFilesPerTrigger 3: five files run in the same TWO triggers the
      // pre-gate query used (per-trigger commit overhead is the cost unit
      // here). The copies file still sorts last; a copy landing in the
      // same batch as its source collapses within-batch to the min id, so
      // the zero-survivor guarantee is batch-placement-independent.
      val surv = StreamingInference.streamNearDedup(
        s, srcDir, s.read.parquet(srcDir).schema, "text", "doc_id",
        s"$work/sink", s"$work/ckpt",
        maxFilesPerTrigger = 3)
        .select("doc_id").localCheckpoint(true) // gate + result share one pass
      val leaked = surv.where(col("doc_id") >= 1000000L).count()
      require(leaked == 0, s"streaming near-dedup recall regressed: $leaked planted " +
        "exact copies survived the index probe")
      surv.orderBy("doc_id")
    }),

    // -- co-bucketed join: the layout optimization in the gate -------------
    // Both tables bucketed+sorted on the join key at write time, so the
    // join AND the downstream key aggregation plan with ZERO shuffle
    // exchanges — pay one shuffle at ingest, never again (the decisive
    // repeated-fact-join layout at 100 TB). Self-gating: the in-query
    // require fails if the plan ever re-acquires an Exchange; values are
    // DuckDB-oracle-checked like any join.
    "q_bucketed_join" -> ((s, d) => {
      val c = t(s, d, "customer").select("c_custkey", "c_name")
      val o = t(s, d, "orders").select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      Seq("bj_cust", "bj_ord").foreach { tbl => // stale-warehouse hygiene
        TableManager.dropTable(s, tbl)
        TableManager.deleteDir(s,
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + "/" + tbl)
      }
      TableManager.writeBucketed(c, "bj_cust", "c_custkey", 8)
      TableManager.writeBucketed(o, "bj_ord", "c_custkey", 8)
      // disable broadcast: at fixture scale Spark would broadcast the small
      // side and ignore the bucket layout — at 100 TB neither side
      // broadcasts, and THAT plan (sort-merge over co-bucketed scans, zero
      // shuffles through join AND aggregation) is the gated property
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = s.table("bj_cust").join(s.table("bj_ord"), "c_custkey")
          .groupBy("c_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(Dec)).cast(Dec).cast("double").as("total"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
          s"co-bucketed join+agg must plan with zero shuffles; got:\n$plan")
        require(plan.contains("Bucketed: true"),
          s"scan must use the bucket layout; got:\n$plan")
        joined.orderBy("c_custkey").localCheckpoint(true) // materialize under the conf
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }),

    // -- watermarked streaming dedup, fully oracle-checked -----------------
    // The duplicated-delivery shape (at-least-once upstream): the SAME
    // event file lands twice; dropDuplicatesWithinWatermark keeps the
    // first-seen row per event_id with seen-key state bounded by the
    // watermark horizon (plain streaming dropDuplicates state grows
    // without bound on an unbounded feed — the 100 TB/day contract).
    // Copies are bit-identical rows, so the run-to-completion output is
    // order-independent and the oracle is a plain scan of the base table
    // (event_id is unique in the fixture): a late copy is either still in
    // state (suppressed) or below the watermark (dropped) — either way it
    // never re-emits, which is exactly the property being gated.
    "q_stream_dedup" -> ((s, d) => GraftSession.withShufflePartitions(s, 2) {
      // per-query state-store sizing: tiny dedup state, 2 stores not 32
      val work   = scratchDir("graft_sdd")
      val srcDir = s"$work/src"
      val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "ts")
      new java.io.File(srcDir).mkdirs()
      Seq("c1", "c2").foreach { nm => // two identical deliveries
        val tmp = s"$work/$nm"
        // repartition(1), not coalesce(1): coalesce collapses the UPSTREAM
        // read to one thread; repartition keeps the scan parallel and only
        // funnels the write
        ev.repartition(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(srcDir, s"$nm.parquet"))
      }
      val schema = s.read.parquet(srcDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .withColumn("event_time", timestamp_seconds(expr("ts div 1000000000")))
      val q = Stateful.dedupWithinWatermark(stream, Seq("event_id"), "event_time", "1 hour")
        .select("event_id", "user_id", "event_type", "ts")
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", s"$work/ckpt").option("path", s"$work/sink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$work/sink").orderBy("event_id")
    }),

    // -- watermarked stream-stream interval join, fully oracle-checked -----
    // The click-attribution shape: purchases within 30 minutes before each
    // click of the same user, joined STREAM-TO-STREAM (both sides
    // watermarked; state bounded by watermark + gap) and run to
    // completion. The result is time-deterministic, so the oracle replays
    // the interval predicate as plain SQL over the base table — the
    // streaming state machinery must agree with the batch join bit-for-bit
    // (StatefulSpec proves batch ≡ stream; this puts it in the gate).
    "q_stream_interval_join" -> ((s, d) => GraftSession.withShufflePartitions(s, 2) {
      // 2 state partitions, not the batch default: a stream-stream join
      // keeps FOUR state stores per partition, each paying checkpoint
      // commit I/O every micro-batch — state volume here is tiny (a few
      // thousand rows), so store count is pure overhead (see
      // withShufflePartitions; 8→2 measured -0.5s at sf0.1, results
      // identical — hash partitioning only relocates keys)
      val work = scratchDir("graft_ssj")
      val src  = s"$work/src"
      t(s, d, "events").select("event_id", "user_id", "ts", "event_type")
        .repartition(2).write.parquet(src)
      val schema = s.read.parquet(src).schema
      def clicks(df: DataFrame) = df.where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          timestamp_seconds(expr("ts div 1000000000")).as("c_time"))
      def buys(df: DataFrame) = df.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          timestamp_seconds(expr("ts div 1000000000")).as("p_time"))
      val q = Stateful.streamIntervalJoin(
          clicks(s.readStream.schema(schema).parquet(src)),
          buys(s.readStream.schema(schema).parquet(src)),
          "c_user", "p_user", "c_time", "p_time", gap = "30 minutes")
        .select("c_id", "p_id")
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", s"$work/ckpt").option("path", s"$work/sink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$work/sink").orderBy("c_id", "p_id")
    }),

    // -- streaming CDC upsert, fully oracle-checked -------------------------
    // Two COMMUTATIVE update batches (disjoint key sets: +50 on %3 keys,
    // zero-out on %5∖%3 keys, inserts on %11 shifted keys) stream through
    // foreachBatch → VersionedTable.commitMerge (one log version per batch,
    // file-grain copy-on-write, txn-marked for exactly-once replay).
    // Disjointness makes the final state independent of file-discovery
    // order, so the streaming merge is DuckDB-replayable: the oracle applies
    // both batches as one CASE.
    "q_stream_upsert" -> ((s, d) => {
      val work   = scratchDir("graft_sup")
      val srcDir = s"$work/src"
      val target = s"$work/target"
      val c = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      // cast updates to the table's OWN balance type — fixture vintages
      // have shipped both DECIMAL(15,2) and DOUBLE here
      val balType = c.schema("c_acctbal").dataType
      VersionedTable.commit(s, c, target)
      val u1 = c.where(pmod(col("c_custkey"), lit(3L)) === 0L)
        .withColumn("c_acctbal", (col("c_acctbal") + 50).cast(balType))
      val u2 = c.where(pmod(col("c_custkey"), lit(5L)) === 0L &&
          pmod(col("c_custkey"), lit(3L)) =!= 0L)
        .withColumn("c_acctbal", lit(0).cast(balType))
        .unionByName(c.where(pmod(col("c_custkey"), lit(11L)) === 0L)
          .select((col("c_custkey") + 3000000L).as("c_custkey"),
            concat(col("c_name"), lit("_new")).as("c_name"), col("c_acctbal")))
      new java.io.File(srcDir).mkdirs()
      // the two update-batch files derive independently from the customer
      // scan — overlap their write jobs (guide §2.6). Their key sets are
      // DISJOINT by construction (u2 excludes %3 keys), so the final
      // merged state is batch-order-independent and the overlapped writes
      // cannot change the declared result.
      locally {
        val batches = Seq(("b1", u1), ("b2", u2))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(batches.map { case (nm, u) =>
            scala.concurrent.Future(u.coalesce(1).write.parquet(s"$work/$nm"))
          }), scala.concurrent.duration.Duration.Inf)
        batches.foreach { case (nm, _) =>
          val part = new java.io.File(s"$work/$nm").listFiles()
            .find(f => f.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(srcDir, s"$nm.parquet"))
        }
      }
      StreamingInference.streamUpsert(
        s, srcDir, s.read.parquet(s"$srcDir/b1.parquet").schema, target,
        Seq("c_custkey"), identity, s"$work/ckpt", maxFilesPerTrigger = 1)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    // -- streaming data-quality routing, fully oracle-checked --------------
    // The split is batch-deterministic (map-side rules), so unlike the
    // arrival-order near-dedup the STREAMING machinery's output equals a
    // plain filter — the oracle replays rules + violations string in SQL
    // while the engine side routes through foreachBatch dual sinks, one
    // txn-marked versioned append each. Quarantine side declared (it carries
    // the violations annotation; the valid side is its complement).
    "q_stream_validate_route" -> ((s, d) => {
      val work   = scratchDir("graft_svr")
      val srcDir = s"$work/src"
      t(s, d, "events").select("event_id", "event_type", "value")
        .repartition(4).write.parquet(srcDir)
      val (_, quarantine) = StreamingInference.streamValidateRoute(
        s, srcDir, s.read.parquet(srcDir).schema,
        Seq("no_error"  -> (col("event_type") =!= "error"),
            "value_cap" -> (col("value") <= 100.0)),
        s"$work/valid", s"$work/quarantine", s"$work/ckpt",
        maxFilesPerTrigger = 2)
      quarantine.orderBy("event_id")
    }),

    // -- math function family (abs/ceil/floor/sqrt/sign/mod) ---------------
    // sqrt is IEEE-754 correctly rounded in both engines (bit-identical,
    // emitted RAW — a decimal round on top would reintroduce engine-specific
    // rounding paths); ln/exp are libm-dependent and deliberately excluded.
    "q_math_funcs" -> ((s, d) =>
      t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc"),
          ceil(col("l_quantity")).as("ceil_qty"),
          floor(col("l_quantity")).as("floor_qty"),
          sqrt(col("l_extendedprice")).as("sqrt_price"),
          signum(col("l_discount") - 0.05).cast("long").as("sgn"),
          pmod(col("l_orderkey"), lit(7L)).as("mod7"))
        .orderBy("l_orderkey", "l_linenumber")),

    // -- conditional aggregates: FILTER-style count, bool_or/bool_and ------
    "q_cond_agg" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderpriority")
        .agg(
          count_if(col("o_totalprice") > 100000).as("n_big"),
          bool_or(col("o_orderstatus") === "F").as("any_f"),
          bool_and(col("o_totalprice") > lit(0.0)).as("all_pos"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // -- exact median per group (interpolating, matches quantile_cont 0.5) -
    "q_median" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("med_qty"),
          median(col("l_tax")).as("med_tax"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // -- window frames: bounded rolling sum + running count ----------------
    "q_window_frame" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast(Dec)).over(w.rowsBetween(-3, 0))
            .cast(Dec).cast("double").as("roll4"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("n_sofar"))
        .orderBy("o_orderkey")
    }),

    // -- time-series gap fill: densify daily counts over a generated -------
    // calendar (sequence + explode ⋈ agg; the agg side broadcasts)
    "q_gap_fill" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val cal = daily.agg(min("d").as("lo"), max("d").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
      cal.join(daily, Seq("d"), "left_outer")
        .select(col("d"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("d")
    }),

    // -- Delta MERGE INTO emulation: upsert aggregated balances ------------
    // (even keys update existing customers; odd keys map to NEGATIVE ids so
    // the insert branch never collides with a real custkey at ANY scale
    // factor — a fixed positive offset would alias back into the key space
    // once custkeys outgrow it)
    "q_merge_upsert" -> ((s, d) => {
      val target = t(s, d, "customer")
      val upd = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(decSum(col("o_totalprice")).as("c_acctbal"))
        .select(
          when(col("o_custkey") % 2 === 0, col("o_custkey"))
            .otherwise(-col("o_custkey") - 1).as("c_custkey"),
          col("c_acctbal"))
      TableManager.mergeUpsert(target, upd, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // -- correlated scalar subqueries (spark.sql surface; same text runs ---
    // on the oracle — Catalyst decorrelates both into aggregate+join)
    "q_corr_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(corrSubquerySql)
    }),

    // -- bitwise aggregates ------------------------------------------------
    "q_bitwise_agg" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(bit_and(col("event_id")).as("b_and"),
          bit_or(col("event_id")).as("b_or"),
          bit_xor(col("event_id")).as("b_xor"))
        .orderBy("event_type")),

    // -- ordered string aggregation (collect_list is unordered by contract;
    // array_sort before render makes the result deterministic)
    "q_collect_sorted" -> ((s, d) => {
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      n.join(c, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(array_join(array_sort(collect_list(col("c_name"))), ",").as("names"),
          count(lit(1)).as("n_cust"))
        .orderBy("n_nationkey")
    }),

    // -- regexp occurrence count + substring position ----------------------
    "q_regexp_count" -> ((s, d) =>
      t(s, d, "documents").select(
          col("doc_id"),
          regexp_count(col("text"), lit("the")).cast("long").as("n_the"),
          instr(col("text"), "data").cast("long").as("pos_data"))
        .orderBy("doc_id")),

    // -- null-handling function family (coalesce/nullif/greatest/least) ----
    "q_null_funcs" -> ((s, d) =>
      t(s, d, "customer").select(
          col("c_custkey"),
          coalesce(expr("nullif(c_mktsegment, 'BUILDING')"), lit("OTHER")).as("seg2"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_pos"),
          least(col("c_acctbal"), lit(1000.0)).as("bal_cap"))
        .orderBy("c_custkey")),

    // -- MapType function family over parsed JSON (keys/lookup/cardinality);
    // keys rendered to a string — array-valued output columns don't survive
    // the driver's value compare
    "q_map_funcs" -> ((s, d) => {
      val m = from_json(col("props"), MapType(StringType, LongType))
      t(s, d, "events")
        .where(m.isNotNull)
        .select(col("event_id"),
          concat_ws(",", map_keys(m)).as("keys"),
          element_at(m, "k").as("val_k"),
          size(m).cast("long").as("n_entries"))
        .orderBy("event_id")
    }),

    // -- value-based RANGE window frames (vs q_window_frame's ROWS) --------
    "q_window_range" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_orderkey"))
        .rangeBetween(-100, Window.currentRow)
      t(s, d, "orders").select(
          col("o_orderkey"), col("o_orderstatus"),
          count(lit(1)).over(w).as("n_nearby"),
          sum(col("o_totalprice").cast(Dec)).over(w).cast(Dec).cast("double").as("sum_nearby"))
        .orderBy("o_orderkey")
    }),

    // -- north-star: group-level MinHash (the UDAF) — union-set decisions --
    // Jaccard between whole SOURCES' shingle-set unions: per-row signatures
    // map-side, one distributive aggregation (partial min merge like sum),
    // then a tiny #groups×#groups pair comparison. r17 conversion:
    // element-wise-min aggregation of per-row signatures IS the signature
    // of the group's shingle-set UNION (min of mins), so two groups with
    // the same union set have IDENTICAL group signatures (est == 1.0)
    // structurally — planting a copy::<source> group per source makes the
    // decision set DuckDB-expressible (union-set equality) while the UDAF,
    // its merge path, and the estimator all stay on the measured path.
    "q_group_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("source"), col("text"))
      val aug = docs.unionByName(
        docs.select(concat(lit("copy::"), col("source")).as("source"), col("text")))
      val sigs = Dedup.groupMinHashSignatures(aug, "text", "source",
        shingleN = 1, numHashes = 64)
      val a = sigs.select(col("source").as("src_a"), col("group_sig").as("sig_a"))
      val b = sigs.select(col("source").as("src_b"), col("group_sig").as("sig_b"))
      val cand = a.join(b, col("src_a") < col("src_b"))
        .where(Dedup.estimatedJaccardNative(col("sig_a"), col("sig_b")) >= 1.0)
        .select(col("src_a"), col("src_b"))
      // exact union-set confirm (equal unions ⇒ identical signatures, so
      // est == 1.0 is a recall-complete CANDIDATE filter; the converse can
      // collide at ~J^64 for almost-equal unions, which this removes —
      // tokenization mirrors the kernel: Catalyst trim/lower/split are the
      // sparkTokens contract, shingleN = 1 means the union is the distinct
      // tokens). #sources is tiny, so the exact pass is a small aggregation.
      val uni = aug
        .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .groupBy("source").agg(sort_array(collect_set(col("tok"))).as("uts"))
      cand
        .join(uni.select(col("source").as("src_a"), col("uts").as("uts_a")), Seq("src_a"))
        .join(uni.select(col("source").as("src_b"), col("uts").as("uts_b")), Seq("src_b"))
        .where(col("uts_a") === col("uts_b"))
        .select(col("src_a"), col("src_b"))
        .orderBy("src_a", "src_b")
    }),

    // -- built-in session_window gap sessionization ------------------------
    // (the native complement of the custom flatMapGroupsWithState
    // sessionizer in q_sessionize; batch mode here, streaming-capable by
    // construction). Boundary semantics: windows are [start, last+gap), so
    // an event at exactly prev+gap starts a NEW session — the oracle's
    // lag-diff break is >= gap, unlike q_sessionize's strictly-greater gap.
    "q_session_window" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("event_time"))
      ev.groupBy(session_window(col("event_time"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // -- north-star: TF-IDF term relevance (ratio idf — IEEE-exact) --------
    "q_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdf(t(s, d, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("token"), col("tf"), col("df"), col("score"))
        .orderBy(col("score").desc, col("doc_id"), col("token"))
        .limit(100)),

    // -- equi-width histogram: two-pass numeric binning (bounds agg ---------
    // broadcasts under the cross join; arithmetic order mirrors the oracle).
    // least(bin, 9): the max value computes bin==10 exactly, and standard
    // equi-width binning clamps it into the last bin rather than emitting a
    // spurious 11th bucket.
    "q_histogram" -> ((s, d) => {
      val o = t(s, d, "orders")
      val b = o.agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      // degenerate range (all values equal): everything lands in bin 0 —
      // without the guard the width is 0.0 and ANSI mode throws DIVIDE_BY_ZERO
      o.crossJoin(b)
        .select(when(col("mx") === col("mn"), lit(0.0))
          .otherwise(least(
            floor((col("o_totalprice") - col("mn")) / ((col("mx") - col("mn")) / 10.0)),
            lit(9.0)))
          .cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // -- north-star: BM25 ranked retrieval (ratio idf — IEEE-exact) --------
    "q_bm25" -> ((s, d) =>
      TextAnalysis.bm25(t(s, d, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("token"), col("tf"), col("df"),
          col("dl"), col("score"))
        .orderBy(col("score").desc, col("doc_id"), col("token"))
        .limit(100)),

    // -- north-star: inverted index (token → df + sorted postings) ---------
    "q_inverted_index" -> ((s, d) =>
      TextAnalysis.invertedIndex(t(s, d, "documents"), "text", "doc_id")
        .orderBy("token")),

    // -- north-star: per-domain quota cap (C4-style source balancing) ------
    "q_domain_cap" -> ((s, d) =>
      Relational.groupQuota(
          t(s, d, "documents").select("doc_id", "source", "n_chars"),
          "source", 20, col("n_chars").desc, col("doc_id"))
        .select("doc_id", "source", "n_chars", "rk")
        .orderBy("source", "rk")),

    // -- north-star: semantic dedup (SemDeDup; deterministic data-row ------
    // centroids make even the clustered variant fully oracle-checkable)
    "q_semantic_dedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      Similarity.semanticDedup(emb, "embedding", "vec_id", cents, threshold = 0.3)
        .orderBy("vec_id")
    }),

    // -- deterministic Lloyd k-means over the embedding corpus -------------
    // One full fit (seed on the k smallest ids, one Lloyd update, final
    // assignment) with every float reduction rounded to 6 dp before any
    // comparison — so the ENTIRE fit replays in DuckDB and the oracle
    // checks the algorithm end-to-end, not just output shape. Vectors
    // never shuffle: centroids broadcast for assignment, the update moves
    // only k x dims rounded cells.
    "q_kmeans" -> ((s, d) =>
      graft.operators.Clustering.kmeansAssign(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 1)
        .orderBy("vec_id")),

    // -- in-plan quantile band trim (outlier filter, no driver collect) ----
    "q_quantile_filter" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val band = docs.agg(
        round(percentile(col("n_chars"), lit(0.1)), 6).as("p10"),
        round(percentile(col("n_chars"), lit(0.9)), 6).as("p90"))
      docs.crossJoin(band)
        .where(col("n_chars").cast("double") >= col("p10") &&
          col("n_chars").cast("double") <= col("p90"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // -- full-outer join (the one join type not otherwise declared) --------
    "q_join_full" -> ((s, d) => {
      val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name")
      val o = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("sum_price"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          coalesce(c("c_custkey"), o("o_custkey")).as("key"),
          coalesce(c("c_name"), lit("<none>")).as("name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("sum_price"), lit(0.0)).as("sum_price"))
        .orderBy("key")
    }),

    // -- interchange: ORC round-trip (columnar, splittable, stats-pruned) --
    // Write the parquet table out as ORC and read it back; the oracle reads
    // the ORIGINAL parquet — hash equality proves the columnar hop is
    // lossless. (l_orderkey, l_linenumber) is NOT unique in the fixtures,
    // so the total order lists every column (full-duplicate rows then tie
    // only with identical content — hash-safe).
    "q_orc_roundtrip" -> ((s, d) => {
      val src = t(s, d, "lineitem")
      val dir = scratchDir("graft_orc_rt") + "/lineitem_orc"
      graft.tables.FormatIO.writeOrc(src, dir)
      val back = graft.tables.FormatIO.readOrc(s, dir, src.schema)
      back.orderBy(src.columns.map(col).toIndexedSeq: _*)
    }),

    // -- north-star: WebDataset-style tar shard export + scan --------------
    // documents → `<doc_id>.txt` members packed into hash-assigned ustar
    // shards, scanned back via binaryFile + the in-task parser. The oracle
    // is the base table itself — equality proves the archive bytes round-
    // trip every document (incl. empty and multi-byte UTF-8 texts) and
    // that member↔row is a bijection.
    "q_tar_roundtrip" -> ((s, d) => {
      val work = scratchDir("graft_tar") + "/shards"
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .select(format_string("%012d.txt", col("doc_id")).as("member"),
          encode(col("text"), "UTF-8").as("payload"))
      graft.sources.TarShards.writeShards(docs, "member", "payload", work, nShards = 8)
      graft.sources.TarShards.readShards(s, work)
        .select(regexp_extract(col("member"), "([0-9]+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          decode(col("content"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }),

    // -- north-star: Gopher-rule composite quality filter ------------------
    // Word-level subset of Rae et al. 2021 table A1 (the corpus has no line
    // structure): word-count bounds, mean-word-length band, stopword floor,
    // alpha-word floor. Metrics + verdict per doc; exact integer counts,
    // two final double divisions — bit-reproducible in the oracle.
    "q_gopher_filter" -> ((s, d) =>
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.gopherFlags(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.stop_hits").as("stop_hits"),
          col("g.alpha_ratio").as("alpha_ratio"),
          col("g.keep").cast("long").as("keep"))
        .orderBy("doc_id")),

    // -- north-star: sparse random projection (64-d → 16-d) ----------------
    // Deterministic Achlioptas matrix + floor-quantized exact-integer
    // accumulation (see VectorFunctions.sparseRandomProject) — the
    // dimensionality-reduction step ahead of ANN, fully oracle-checked.
    "q_random_projection" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(VectorFunctions.sparseRandomProject(col("embedding"), 64, 16))
            .as(Seq("j", "proj")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("proj"))
        .orderBy("vec_id", "j")),

    // -- north-star: edit-distance fuzzy join (FastSS deletion blocking) ---
    // All customer-name pairs within Levenshtein distance 1 — candidates
    // from deletion neighborhoods (recall-complete), exact verify; the
    // oracle brute-forces all pairs, so equality proves full recall.
    "q_fuzzy_join" -> ((s, d) =>
      // parallelizeScan (r18): the deletion-variant neighborhood (O(len)
      // string slices per row, 3 consumers) otherwise generates inside the
      // one-task scan
      Dedup.editDistanceJoinPairs(
          Tables.parallelizeScan(t(s, d, "customer").select("c_custkey", "c_name")),
          "c_name", "c_custkey", maxDist = 1)
        .orderBy("id_a", "id_b")),

    // -- in-plan winsorize (percentile clamp; keeps rows, caps values) -----
    "q_winsorize" -> ((s, d) =>
      Relational.winsorize(
          t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", 0.05, 0.95)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_totalprice_w"))
        .orderBy("o_orderkey")),

    // -- equi-depth histogram without a global-window ntile ----------------
    "q_equidepth_hist" -> ((s, d) =>
      Relational.equiDepthHistogram(
          t(s, d, "orders").select(col("o_totalprice")), "o_totalprice", buckets = 8)
        .orderBy("bucket")),

    // -- north-star: URL domain extraction + blocklist filter --------------
    // Fixture text carries no URLs, so deterministic hosts are synthesized
    // from doc_id (same device as q_pii_scrub); the query checks extraction
    // + normalization + anti-join parity across engines.
    "q_url_filter" -> ((s, d) => {
      val aug = t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), concat(
          substring(col("text"), 1, 20),
          lit(" HTTP://Site"), (col("doc_id") % 20).cast("string"),
          lit(".Example.com/p/"), col("doc_id").cast("string"),
          lit(" and https://www.site"), (col("doc_id") % 7).cast("string"),
          lit(".org/x")).as("aug"))
      val blocked = Seq("site3.example.com", "www.site2.org")
      aug.select(col("doc_id"), explode(TextAnalysis.extractDomains(col("aug"))).as("domain"))
        .where(!col("domain").isInCollection(blocked))
        .orderBy("doc_id", "domain")
    }),

    // -- north-star: learned BPE tokenizer (train + encode) ----------------
    // Iterative merge learning on the word-frequency dict (rows-only by
    // contract: a 40-step argmax recursion is not SQL-expressible; the
    // classic Sennrich merge sequence is hand-verified in TextAnalysisSpec).
    "q_bpe_train" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.bpeTrain(t(s, d, "documents"), "text", numMerges = 40)
        .zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "left", "right")
        .orderBy("rank")
    }),

    "q_bpe_encode" -> ((s, d) => {
      val docs   = t(s, d, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 40)
      val enc    = TextAnalysis.bpeEncodeUdf(merges)
      docs.where(col("text").isNotNull)
        .select(col("doc_id"), size(enc(col("text"))).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // -- north-star: incremental NEAR-dedup vs a persisted signature index -
    // History = docs 0..249 as a MinHash index (text never re-read); batch
    // = docs 250+ plus every 9th historical doc re-submitted as an EXACT
    // copy under id + PlantOffset. r18 conversion (VERDICT r17 #6, the
    // q_dedup_minhash pattern): at minEstJaccard = 1.0 every decision is
    // structural — est == 1.0 ⟺ all 64 signature slots agree, and
    // identical shingle sets agree identically on BOTH legs (batch-vs-
    // history and within-batch) — so the survivor set is the set algebra
    // DuckDB replays: keep a batch doc iff its word-bigram shingle set
    // matches no indexed doc's AND it is the min id of its within-batch
    // shingle-set group (null-text docs pass through, as the operator
    // documents). At J == 1.0 the decision is EXACT on both legs via the
    // index's `seth` set fingerprint (history text stays cold): the
    // est-only confirm measurably dropped 9 extra docs at sf0.01 — the
    // fixture's planted high-J near-dup pairs collide on all 64 hashes
    // with p ≈ J^64 each — which is precisely the false-positive
    // direction the fingerprint removes. The in-query planted gate keeps
    // the structural-recall claim loud. maxBucketSize 512: same
    // identical-text-group cap-escape headroom rationale as
    // q_dedup_minhash.
    "q_dedup_near_incr" -> ((s, d) => {
      val docs  = assertPlantable(t(s, d, "documents"), "doc_id")
      val hist  = docs.where(col("doc_id") < 250)
      val index = Dedup.minHashIndex(hist, "text", "doc_id", shingleN = 2)
      val planted = hist
        .where(col("doc_id") % 9 === 0 && col("text").isNotNull)
        .select((col("doc_id") + lit(PlantOffset)).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val batch = docs.where(col("doc_id") >= 250).unionByName(planted)
      val surv = Dedup.nearDedupAgainstIndex(batch, "text", "doc_id", index,
          shingleN = 2, minEstJaccard = 1.0, maxBucketSize = 512)
        .select(col("doc_id"), col("n_chars"))
        .localCheckpoint(true) // gate + result share one pass
      val leaked = surv.where(col("doc_id") >= PlantOffset).count()
      require(leaked == 0, s"incremental near-dedup decision regressed: $leaked " +
        "planted exact copies survived the index probe (an identical-signature " +
        "batch-vs-history pair can only be lost to a banding/cap regression)")
      surv.orderBy("doc_id")
    }),

    // -- north-star: max-inner-product top-k (un-normalized retrieval) -----
    "q_mips_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.mipsTopK(emb, "embedding", "vec_id", q, 20)
    }),

    // -- north-star: SQ8 scalar-quantized retrieval -------------------------
    // Per-dimension int8 affine quantization (the FAISS ScalarQuantizer
    // shape — the memory-bandwidth half of the quantization toolkit next
    // to PQ): floor-quantized codes, EXACT integer code dot product, so
    // the whole path replays in DuckDB (the q_random_projection
    // discipline). Recall vs the exact float top-k is spec-gated.
    "q_sq8_topk" -> ((s, d) =>
      Similarity.sq8TopK(t(s, d, "embeddings"), "embedding", "vec_id",
        queryId = 1L, k = 20)),

    // -- incremental distinct-count sketches (DataSketches HLL) ------------
    // Sketches built per (event_type, half-of-stream), merged per type —
    // the persist-then-union workflow of incremental corpus statistics.
    // Rows-only by contract (estimates are a function of the engine's
    // sketch implementation; ±2% accuracy and union≡whole are spec-checked).
    "q_hll_sketch" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("half", (col("event_id") % 2).cast("int"))
      val sketches = Relational.distinctSketches(ev, Seq("event_type", "half"), "user_id")
      Relational.unionSketchEstimate(sketches, Seq("event_type"))
        .orderBy("event_type")
    }),

    // -- persistable quantile sketch (KLL), the HLL index's rank twin ------
    // Build per-(type, half) partial sketches, PERSIST the bytes, read
    // back, union to per-type, read p50/p90 — the full incremental-stats
    // loop. KLL compaction is randomized (rows-only by contract, like
    // q_hll_sketch); the in-query gate pins the rank-error bound: the
    // empirical rank of each returned quantile must sit within ±4% of its
    // target, and n must be EXACT. Output = the deterministic columns.
    "q_quantile_sketch" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("value").isNotNull)
        .withColumn("half", (col("event_id") % 2).cast("int"))
      val parts = operators.Quantiles.quantileSketches(ev, Seq("event_type", "half"), "value")
      val dir = scratchDir("graft_kllq") + "/s"
      parts.write.parquet(dir)
      val merged = operators.Quantiles.mergeSketches(s.read.parquet(dir), Seq("event_type"))
      val q = operators.Quantiles.sketchQuantiles(merged, Seq("event_type"), Seq(0.5, 0.9))
      val graded = ev.join(broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(max("n").as("n"), count(lit(1)).as("n_exact"),
          avg((col("value").cast("double") <= col("p50")).cast("double")).as("r50"),
          avg((col("value").cast("double") <= col("p90")).cast("double")).as("r90"))
      val bad = graded.where(col("n") =!= col("n_exact") ||
        abs(col("r50") - 0.5) > 0.04 || abs(col("r90") - 0.9) > 0.04).count()
      require(bad == 0, s"$bad groups outside the KLL rank-error contract")
      graded.select("event_type", "n").orderBy("event_type")
    }),

    // -- lexical statistics (diversity / randomness / distribution shape) --
    "q_ttr" -> ((s, d) =>
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.typeTokenRatio(col("text")).as("ttr"))
        .orderBy("doc_id")),

    "q_char_entropy" -> ((s, d) =>
      t(s, d, "documents")
        .where(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("entropy"))
        .orderBy("doc_id")),

    "q_zipf_slope" -> ((s, d) =>
      TextAnalysis.zipfSlope(t(s, d, "documents"), "text", topN = 1000)),

    // -- north-star: PMI collocation mining (phrase detection) -------------
    "q_pmi" -> ((s, d) =>
      TextAnalysis.bigramPmi(t(s, d, "documents"), "text", minCount = 5)
        .orderBy(desc("pmi"), col("a"), col("b"))
        .limit(50)),

    // -- positional token explode (UDTF-shape: one row per token position) -
    "q_pos_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .where(col("text").isNotNull && col("doc_id") < 40)
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
        .toDF("doc_id", "pos", "token")
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos")),

    // -- PII audit: redaction (piiScrub, cf. q_pii_scrub) + match counts ---
    // Synthetic contact block appended per doc so every pattern fires; the
    // new surface here is the n_pii AUDIT column a compliance log records.
    "q_pii_redact" -> ((s, d) => {
      val aug = concat(col("text").substr(1, 40),
        lit(" contact user"), (col("doc_id") % 5).cast("string"),
        lit("@mail"), (col("doc_id") % 3).cast("string"), lit(".example.com"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
        lit(" tel 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-4321"))
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          TextAnalysis.piiScrub(col("aug")).as("redacted"),
          TextAnalysis.piiCount(col("aug")).as("n_pii"))
        .orderBy("doc_id")
    }),

    // -- north-star: boilerplate line removal (CCNet/C4 hygiene) ----------
    // Docs rebuilt as multi-line pages: a banner line planted in EVERY doc
    // (dropped at docFreq > 300 of ~475 non-null docs), a second banner in
    // every other doc (kept — under the cutoff), body, and a unique tail.
    "q_boilerplate_strip" -> ((s, d) => {
      val paged = t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), concat(
          lit("subscribe to our newsletter\n"),
          when(col("doc_id") % 2 === 0, lit("cookie policy applies\n")).otherwise(lit("")),
          col("text").substr(1, 60),
          lit("\nunique tail "), col("doc_id").cast("string")).as("text"))
      TextAnalysis.stripBoilerplate(paged, "text", "doc_id", maxDocFreq = 300)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // -- north-star: hybrid retrieval via reciprocal-rank fusion -----------
    // Lexical leg: docs ranked by tf of the query token; dense leg: cosine
    // top-100 against vec 0's embedding (doc_id and vec_id share the id
    // space in the fixtures). Both legs are top-k bounded BEFORE ranking,
    // so the global row_number windows each see ≤100 rows.
    "q_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val emb  = t(s, d, "embeddings")
      val tf = docs.where(col("text").isNotNull)
        .select(col("doc_id").as("id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .where(col("token") === "join")
        .groupBy("id").agg(count(lit(1)).as("tf"))
        .orderBy(desc("tf"), col("id")).limit(100)
      // both rank windows run on ≤100-row post-LIMIT frames (two of the
      // engine's four audited, frame-bounded global windows)
      val lex = tf.withColumn("rank",
        row_number().over(Window.orderBy(desc("tf"), col("id"))).cast("long"))
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val dense = Similarity.cosineTopK(emb, "embedding", "vec_id", q, 100)
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("cos"), col("vec_id"))).cast("long"))
        .select(col("vec_id").as("id"), col("rank"))
      Similarity.rrfFuse(lex.select(col("id"), col("rank")), dense, "id")
        .orderBy(desc("rrf"), col("id"))
    }),

    // -- deterministic per-group uniform sample (md5 priority) -------------
    "q_priority_sample" -> ((s, d) =>
      Relational.hashPrioritySample(t(s, d, "events"), "event_type", 5, "event_id")
        .select(col("event_type"), col("event_id"), col("user_id"))
        .orderBy("event_type", "event_id")),

    // -- north-star: temperature-scaled mixture rebalance (α = 0.5) --------
    // Weights derived IN THE PLAN from the observed lang counts (mT5 rule):
    // rate_s = min_t(√N_t)·√N_s/N_s — every term correctly rounded (sqrt/
    // mul/div, no pow, no float summation), so the kept set replays
    // bit-exactly in the oracle.
    "q_temperature_sample" -> ((s, d) =>
      Relational.temperatureSample(t(s, d, "documents"), col("doc_id"), col("lang"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // -- data-quality expectations: validate + quarantine in one pass ------
    // Named rules over lineitem; `violations` = comma-joined failed rule
    // names in declaration order, '' when clean. One scan, purely map-side.
    "q_validate" -> ((s, d) =>
      Relational.validateRules(t(s, d, "lineitem"), Seq(
          "qty_le_45"    -> (col("l_quantity") <= 45),
          "disc_le_8pct" -> (col("l_discount") <= 0.08),
          "price_pos"    -> (col("l_extendedprice") > 0),
          "flag_known"   -> col("l_returnflag").isin("A", "N", "R")))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("violations"), col("is_valid"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "violations")),

    // -- SCD Type-2 dimension versioning ------------------------------------
    // Dim = customer snapshot opened 2020-01-01; update batch derived
    // in-plan: acctbal+100 for custkey%7=0 (changed versions), '_new'
    // clones under custkey+1000000 for custkey%97=0 (new keys). Changed
    // rows close at 2021-06-01 and reopen; unchanged/unmatched untouched.
    "q_scd2" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long").as("c_nationkey"), col("c_acctbal"))
      val dim = c
        .withColumn("valid_from", to_date(lit("2020-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val updates = c.where(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(c.where(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L)
          .withColumn("c_name", concat(col("c_name"), lit("_new"))))
      Relational.scd2Merge(dim, updates, "c_custkey",
          Seq("c_name", "c_nationkey", "c_acctbal"), to_date(lit("2021-06-01")))
        .withColumn("is_current", col("is_current").cast("long"))
        .orderBy("c_custkey", "valid_from")
    }),

    // -- north-star: normalization-insensitive exact dedup ------------------
    // Every 11th doc re-enters under id+10000 uppercased with '!!' noise
    // and padding — raw-byte dedup misses them, canonicalized dedup
    // collapses them. Group key is the sha of the NORMALIZED text, so the
    // only shuffle carries (32-byte hash, id), never the text.
    "q_dedup_normalized" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val noisy = docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !! ")).as("text"))
      docs.unionByName(noisy)
        .select(col("doc_id"), sha2(TextAnalysis.normalizeText(col("text")), 256).as("h"))
        .withColumn("keep",
          (col("doc_id") === min("doc_id").over(Window.partitionBy("h"))).cast("long"))
        .select(col("doc_id"), col("keep"))
        .orderBy("doc_id")
    }),

    // -- north-star: C4 mechanical page cleaning ----------------------------
    // Docs rebuilt as 10-line pages (lines vary by terminal punctuation and
    // word count); page_id%13 pages get a code line ('{' → page dropped),
    // page_id%17 pages get a 'Lorem Ipsum…' line (dropped, case-folded).
    // The filter itself is pure per-row HOFs — no shuffle beyond assembly.
    "q_c4_filter" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val line = concat(
        col("text").substr(lit(1), when(col("doc_id") % 4 === 0, 12).otherwise(45)),
        when(col("doc_id") % 3 =!= 0, lit(".")).otherwise(lit("")))
      val pages = docs
        .select(floor(col("doc_id") / 10).cast("long").as("page_id"),
          col("doc_id"), line.as("line"))
        .groupBy("page_id")
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"), col("line")))),
            x => x.getField("line"))).as("body"))
        .withColumn("text", concat(col("body"),
          when(col("page_id") % 13 === 0, lit("\nfunction() { var x = 1; }")).otherwise(lit("")),
          when(col("page_id") % 17 === 0, lit("\nLorem Ipsum dolor sit amet.")).otherwise(lit(""))))
      pages.select(col("page_id"), TextAnalysis.c4Clean(col("text")).as("c"))
        .select(col("page_id"), col("c.keep").cast("long").as("keep"),
          col("c.n_kept").as("n_kept"), col("c.text").as("clean_text"))
        .orderBy("page_id")
    }),

    // -- PageRank over a derived link graph (fixed-point, bit-exact) --------
    // Edges: distinct (l_partkey%200 → l_suppkey%200) — a dense determin-
    // istic digraph. Integer micro-unit arithmetic makes 3 iterations of
    // ranks replay EXACTLY in the oracle (no float summation anywhere).
    "q_pagerank" -> ((s, d) => {
      val edges = t(s, d, "lineitem")
        .select((col("l_partkey") % 200).as("src"), (col("l_suppkey") % 200).as("dst"))
      Graph.pageRankFixedPoint(edges, "src", "dst", iterations = 3)
        .select(col("node").as("node_id"), col("r").as("rank_fp"))
        .orderBy("node_id")
    }),

    // -- graph: exact triangle count, skew-safe forward algorithm ----------
    // Degree-ordered orientation concentrates wedge fan-out at low-degree
    // vertices (Σ min-degree per edge, not Σ deg² — the hub-skew killer);
    // the count is exact and the oracle replays the canonical u<v<w triple
    // join.
    "q_triangle_count" -> ((s, d) =>
      Graph.triangleCount(
        t(s, d, "lineitem")
          .select((col("l_partkey") % 200).as("src"), (col("l_suppkey") % 200).as("dst")),
        "src", "dst")),

    // -- north-star: product-quantization encode (memory-bounded ANN) ------
    // 64-d float → 8 subvector codes over a 16-centroid codebook (data-row
    // centroids ids 0..15, the knnJoinIvf rule). floor(x·1000) quantization
    // → exact long distances → fully oracle-checkable.
    "q_pq_encode" -> ((s, d) =>
      Similarity.pqEncode(t(s, d, "embeddings"), "embedding", "vec_id",
          m = 8, k = 16, dim = 64)
        .select(col("vec_id"),
          concat_ws(",", transform(col("codes"), c => c.cast("string"))).as("codes"))
        .orderBy("vec_id")),

    // -- north-star: ADC top-k scan over PQ codes ---------------------------
    // Query = vector 0; approximate distance = Σ_j d²(query_j,
    // centroid[code_j]_j), exact longs, ranked (adc, id) — a total order,
    // so the top-20 cut is engine-stable.
    "q_pq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.pqAdcTopK(emb, "embedding", "vec_id", q,
          m = 8, k = 16, dim = 64, n = 20)
        .orderBy("adc", "vec_id")
    }),

    // -- IVF-PQ composed ANN (the FAISS IVFPQ shape) -----------------------
    // Coarse IVF cells gate WHICH rows are scanned; PQ ADC decides the
    // rank — nProbes/k_cells of the corpus touched, m byte-code lookups
    // per touched row. Deterministic data-row centroids + codebook and
    // exact long ADC make the whole composition oracle-replayable.
    "q_ivfpq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.ivfPqTopK(emb, "embedding", "vec_id", q, cents, nProbes = 3,
          m = 8, k = 16, dim = 64, n = 20)
        .orderBy("adc", "vec_id")
    }),

    // -- persisted IVF-PQ index: build once, probe from codes only ---------
    // The serving layout: (id, codes) partitioned by cell + centroid and
    // codebook sidecars — a probe partition-prunes to nProbes cells and
    // never loads a raw vector. Rank-identical to q_ivfpq_topk by
    // contract (shared oracle); the in-query require proves the sidecar
    // codebook round-trips exactly.
    "q_ivfpq_index" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val path = scratchDir("graft_ivfpq") + "/idx"
      val codebook = Similarity.buildIvfPqIndex(emb, "embedding", "vec_id",
        cents, m = 8, kCodes = 16, dim = 64, indexPath = path)
      val loaded = Similarity.loadPqCodebook(path)
      require(loaded.exists(_.map(_.toSeq).toSeq == codebook.map(_.toSeq).toSeq),
        "codebook sidecar did not round-trip")
      Similarity.probeIvfPqIndex(s, path, "vec_id", q, cents, loaded.get,
          m = 8, dim = 64, n = 20, nProbes = 3)
        .orderBy("adc", "vec_id")
    }),

    // -- k-NN JOIN over PQ codes within IVF cells (FAISS IVFPQ as a join) --
    // q_knn_join_ivf's cogroup plan with the REPLICATED side compressed to
    // m-byte codes (~32× fewer bytes on the wire) and each cell-local
    // comparison reduced to m exact-long table lookups. Deterministic
    // data-row centroids/codebook ⇒ the whole composition oracle-replays.
    "q_knn_join_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      Similarity.knnJoinIvfPq(emb, "embedding", "vec_id", k = 5, cents,
          nProbes = 2, m = 8, kCodes = 16, dim = 64)
        .orderBy("vec_id", "rank")
    }),

    // -- north-star: cross-doc duplicated-substring detection ---------------
    // ExactSubstr (Lee et al. 2022) reduced to strided 32-char windows:
    // a window is duplicated when its exact text recurs in another doc.
    // Per-doc (n_windows, n_dup) — the flag/removal criterion.
    "q_dup_substring" -> ((s, d) =>
      Dedup.duplicateWindowStats(t(s, d, "documents"), "text", "doc_id",
          width = 32, stride = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- unicode canonicalization: NFC + accent strip ----------------------
    // Accents are SYNTHESIZED identically in both engines (every 'e' gets
    // a combining acute — decomposed NFD spelling), then: NFC must compose
    // them (n_nfc < n_raw) and strip_accents must recover the original
    // ASCII text — so the oracle checks real normalization work, not an
    // ASCII no-op.
    "q_unicode_normalize" -> ((s, d) => {
      val acc = regexp_replace(col("text"), "e", "e\u0301") // e + combining acute (decomposed NFD)
      t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.normalizeNfc(acc).as("nfc"),
          TextAnalysis.stripAccents(acc).as("stripped"),
          length(acc).cast("long").as("n_raw"),
          length(TextAnalysis.normalizeNfc(acc)).cast("long").as("n_nfc"))
        .orderBy("doc_id")
    }),

    // -- ExactSubstr span GEOMETRY: merged duplicate intervals -------------
    // duplicateWindowStats upgraded to WHAT to cut: cross-doc hit windows
    // merged into maximal [span_start, span_end) islands per doc.
    "q_dup_spans" -> ((s, d) =>
      Dedup.duplicateSpans(t(s, d, "documents"), "text", "doc_id",
          width = 32, stride = 16)
        .orderBy("doc_id", "span_start")),

    // -- ExactSubstr span REMOVAL: excised text, oracle-checked ------------
    // Every duplicate span cut from every copy (the Lee et al. 2022
    // default); per-row Catalyst fold rebuilds the kept segments — the
    // char-exact clean text is compared against DuckDB's reconstruction.
    "q_dedup_spans" -> ((s, d) =>
      Dedup.removeDuplicateSpans(t(s, d, "documents"), "text", "doc_id",
          width = 32, stride = 16)
        .orderBy("doc_id")),

    // -- north-star: DSIR-style domain-affinity score ----------------------
    // Target domain = source 'src0'; affinity = target-gram mass over
    // raw-gram mass, exact longs + one final division — bit-exact.
    "q_domain_affinity" -> ((s, d) =>
      TextAnalysis.domainAffinity(t(s, d, "documents"), "text", "doc_id",
          col("source") === "src0")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- north-star: audio spectral analysis (real DFT on real WAV) ---------
    // Per-row sine WAV (200 + id%10·100 Hz) → decode → RMS/ZCR/centroid/
    // dominant frequency. Rows-only by contract (binary + trig kernel);
    // the 440 Hz ground truth is spec-checked in MultimodalSpec.
    "q_audio_features" -> ((s, d) => {
      val gen = udf((id: Long) =>
        Multimodal.sineWav(200.0 + (id % 10) * 100.0, 8000, 2000))
      val feat = udf((b: Array[Byte]) => {
        val pcm = Multimodal.decodeAudio(b)
        val sr  = Multimodal.wavMeta(b).map(_._1).getOrElse(0)
        Multimodal.audioSpectralFeatures(pcm, sr)
      })
      t(s, d, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), feat(gen(col("doc_id"))).as("f"))
        .select(col("doc_id"), round(col("f._1"), 6).as("rms"),
          round(col("f._2"), 6).as("zcr"), round(col("f._3"), 2).as("centroid_hz"),
          col("f._4").as("dominant_hz"))
        .orderBy("doc_id")
    }),

    // -- north-star: paired multimodal WebDataset export -------------------
    // The (image, caption) training-shard pipeline end-to-end: fixture
    // JPEGs + derived captions pack as `<key>.jpg`/`<key>.txt` members,
    // SHARDED BY EXAMPLE KEY (both members of a pair must land in the
    // same shard — a loader reads one shard sequentially and needs
    // complete examples), scanned back and re-paired. In-query gates:
    // pair co-location per shard, bijective pairing, caption↔label
    // agreement. Rows-only by contract (image bytes).
    "q_webdataset_export" -> ((s, _) => {
      val dir  = ImageFixtures.shared()
      val work = scratchDir("graft_wds") + "/shards"
      val keyed = ImagePipeline.readBinaryImages(s, dir)
        .select(concat(
          regexp_extract(col("path"), "label=([a-z]+)/", 1), lit("_"),
          regexp_extract(col("path"), "img_([0-9]+)\\.jpg", 1)).as("key"),
          col("content"))
      val members = keyed
        .select(col("key"), concat(col("key"), lit(".jpg")).as("member"),
          col("content").as("payload"))
        .unionByName(keyed.select(col("key"),
          concat(col("key"), lit(".txt")).as("member"),
          encode(concat(lit("a photo of a "),
            regexp_extract(col("key"), "^([a-z]+)_", 1)), "UTF-8").as("payload")))
      graft.sources.TarShards.writeShards(members, "member", "payload", work,
        nShards = 4, shardBy = col("key"))
      val back = graft.sources.TarShards.readShards(s, work)
        .select(col("shard"),
          regexp_extract(col("member"), "^(.*)\\.(jpg|txt)$", 1).as("key"),
          regexp_extract(col("member"), "\\.(jpg|txt)$", 1).as("ext"),
          col("content"))
        .localCheckpoint(true) // consumed by two gates + the pairing
      val split = back.groupBy("key")
        .agg(countDistinct("shard").as("n_shards"), count(lit(1)).as("n_members"))
        .where(col("n_shards") =!= 1 || col("n_members") =!= 2).count()
      require(split == 0, s"$split examples split across shards or missing a member")
      val out = back.where(col("ext") === "jpg")
        .select(col("key"), ImageUdfs.pixelChecksum(col("content")).as("img_checksum"))
        .join(back.where(col("ext") === "txt")
          .select(col("key"), decode(col("content"), "UTF-8").as("caption")), Seq("key"))
        .localCheckpoint(true)
      val badCap = out
        .where(col("caption") =!= concat(lit("a photo of a "),
          regexp_extract(col("key"), "^([a-z]+)_", 1))).count()
      require(badCap == 0, s"$badCap captions disagree with their image label")
      out.orderBy("key")
    }),

    // -- streaming multimodal: perceptual-hash image dedup -----------------
    // Batch 1 streams mutually-distinct originals (pre-collapsed to phash
    // reps), batch 2 their brightness-shifted re-encodes; the second batch
    // probes the persisted 16-byte/image hash index and drops. Rows-only
    // by contract (arrival-order + image bytes); in-query gates: every rep
    // survives, survivors never leave the rep set, most copies drop.
    "q_stream_image_dedup" -> ((s, _) => {
      val dir  = ImageFixtures.shared()
      val work = scratchDir("graft_sid")
      // parallelizeScan (r18): same decode-parallelism rationale as
      // q_image_phash — the phash grouping and the brightness-shift copy
      // generation both decode every image
      val base = Tables.parallelizeScan(ImagePipeline.readBinaryImages(s, dir)
        .select(regexp_extract(col("path"), "(flower_photos/.*)$", 1).as("img_id"),
          col("content")))
      val reps = graft.image.Perceptual
        .nearDupGroups(base, "content", "img_id", maxHamming = 6, bands = 8)
        .where(col("rep") === col("img_id")).select("img_id")
        .join(base, Seq("img_id")) // mutually-distinct originals
        .localCheckpoint(true)     // reused: b1 write + copies + gates
      val copies = reps.select(concat(col("img_id"), lit("#b")).as("img_id"),
        ImageUdfs.brightnessShift(col("content"), lit(8)).as("content"))
      // r17 exact gate: BIT-IDENTICAL copies in a third batch — identical
      // bytes → identical perceptual hash → Hamming 0 and identical band
      // keys, so the index probe finds every one structurally; a single
      // survivor is a committed recall regression, not tolerance drift
      val exact = reps.select(concat(col("img_id"), lit("#c")).as("img_id"),
        col("content"))
      val srcDir = s"$work/src"
      new java.io.File(srcDir).mkdirs()
      // the three batch files derive independently from the checkpointed
      // reps — overlap their write jobs (r18, guide §2.6); the moves +
      // mtime stamps that order the TRIGGERS stay sequential below
      locally {
        val batches =
          Seq(("b1", reps.select("img_id", "content")), ("b2", copies), ("b3", exact))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(batches.map { case (nm, df) =>
            scala.concurrent.Future(df.repartition(1).write.parquet(s"$work/$nm"))
          }), scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
        batches.zipWithIndex.foreach { case ((nm, _), i) =>
          val part = new java.io.File(s"$work/$nm").listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = java.nio.file.Paths.get(srcDir, s"$nm.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(System.currentTimeMillis() + i * 5000L)
        }
      }
      val out = StreamingInference.streamImageDedup(
          s, srcDir, s.read.parquet(srcDir).schema, "content", "img_id",
          s"$work/sink", s"$work/ckpt")
        .select(col("img_id"), ImageUdfs.pixelChecksum(col("content")).as("checksum"))
        .localCheckpoint(true)
      val nReps     = reps.count()
      val nSurv     = out.count()
      val survCopies = out.where(col("img_id").endsWith("#b")).count()
      val survExact  = out.where(col("img_id").endsWith("#c")).count()
      require(survExact == 0,
        s"$survExact bit-identical copies escaped the perceptual-hash index")
      require(nSurv >= nReps && nSurv - nReps == survCopies,
        s"survivors ($nSurv) must be the $nReps reps plus $survCopies border copies")
      require(survCopies <= nReps / 2,
        s"$survCopies of $nReps shifted copies escaped the hash index")
      out.orderBy("img_id")
    }),

    // -- north-star: energy-based speech/silence segmentation (VAD shape) --
    // Known-geometry tone-burst WAVs (doc_id%3+1 bursts separated by
    // silence) run through the windowed-RMS segmenter; the in-query gate
    // requires segment count == burst count for EVERY row, so the driver
    // gate itself fails if the detector drifts. Rows-only by contract
    // (no SQL engine decodes WAV); exact geometry asserted in
    // MultimodalSpec.
    "q_audio_segments" -> ((s, d) => {
      val gen = udf((id: Long) =>
        Multimodal.toneBurstWav((id % 3 + 1).toInt, 8000))
      val seg = udf((b: Array[Byte]) => Multimodal.speechSegments(b))
      val out = t(s, d, "documents").where(col("doc_id") < 120)
        .select(col("doc_id"), posexplode(seg(gen(col("doc_id")))).as(Seq("seg_idx", "seg")))
        .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
          col("seg.start_ms").as("start_ms"), col("seg.end_ms").as("end_ms"),
          col("seg.rms_db").as("rms_db"))
        .localCheckpoint(true) // two consumers: per-row gate + output
      val bad = out.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .where(col("n") =!= (col("doc_id") % 3 + 1)).count()
      require(bad == 0, s"segment detector missed geometry on $bad fixtures")
      out.orderBy("doc_id", "seg_idx")
    }),

    // -- north-star: whole-doc example packing (FFD bins) -------------------
    // Pack short docs into 512-token windows; rows-only by contract (bin
    // ids depend on the engine's fixed hash bucketing), FFD quality and
    // budget invariants spec-checked in TextAnalysisSpec.
    "q_pack_examples" -> ((s, d) =>
      TextAnalysis.packExamples(
          t(s, d, "documents").where(col("text").isNotNull)
            .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 512)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- north-star: zlib redundancy signal ---------------------------------
    // Compression ratio per doc (repetitive text ⇒ low ratio). Deflater-
    // specific byte counts → rows-only; ordering spec-checked.
    "q_compression_ratio" -> ((s, d) =>
      t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          round(TextAnalysis.compressionRatioUdf(col("text")), 6).as("zratio"))
        .orderBy("doc_id")),

    // -- file-stat data skipping: the lakehouse manifest-pruning read ------
    // lineitem range-clustered on l_orderkey into 16 files of a versioned
    // table + its per-version min/max stats; the range read prunes the file
    // list BEFORE the scan plans (self-gated: require fails unless files
    // were actually skipped) and must be row-identical to the full-scan
    // filter the oracle runs.
    "q_skipping_scan" -> ((s, d) => {
      val tbl = scratchDir("graft_skip") + "/t"
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      VersionedTable.commit(s, clustered(li, 16), tbl)
      val v = VersionedStats.refresh(s, tbl, Seq("l_orderkey"))
      val range = Seq(("l_orderkey", lit(1000L), lit(2000L)))
      val (kept, total) = VersionedStats.prunedFiles(s, tbl, range, Some(v))
      require(kept.size < total,
        s"stats must prune the range scan; kept ${kept.size} of $total files")
      VersionedStats.readKept(s, tbl, range, v, kept)
        .withColumn("l_extendedprice", col("l_extendedprice").cast(Dec).cast("double"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),

    // -- 2-D skipping: OPTIMIZE ZORDER + multi-column stats ----------------
    // The space-filling curve makes BOTH columns' per-file ranges narrow,
    // so one layout serves range predicates on either or both — the reason
    // lakehouses pair data skipping with Z-order rather than one sort key.
    // Self-gated on each dimension pruning ALONE, then read with the AND.
    "q_skipping_zorder" -> ((s, d) => {
      val tbl = scratchDir("graft_zskip") + "/t"
      VersionedTable.commit(s, t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"), tbl)
      VersionedTable.commitCompact(s, tbl, targetFiles = 16,
        zOrderCols = Seq("l_orderkey", "l_partkey"))
      val v = VersionedStats.refresh(s, tbl, Seq("l_orderkey", "l_partkey"))
      val ranges = Seq(("l_orderkey", lit(1000L), lit(4000L)),
        ("l_partkey", lit(100L), lit(400L)))
      val (kA, tot) = VersionedStats.prunedFiles(s, tbl, ranges.take(1), Some(v))
      val (kB, _)   = VersionedStats.prunedFiles(s, tbl, ranges.drop(1), Some(v))
      require(kA.size < tot && kB.size < tot,
        s"z-order stats must prune on BOTH dimensions; kept " +
          s"${kA.size}/$tot on l_orderkey, ${kB.size}/$tot on l_partkey")
      VersionedStats.readKept(s, tbl, ranges, v, kA.intersect(kB))
        .orderBy("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    }),

    // -- skipping table under continuous ingest ----------------------------
    // Half the table lands as the first version, half as an appended
    // version whose stats refresh INCREMENTALLY (only the new files read
    // back, history never re-read); the pruned range read must still equal
    // the plain filter over BOTH halves, and the stats must still prune
    // (in-query gate).
    "q_skipping_append" -> ((s, d) => {
      val tbl = scratchDir("graft_skipapp") + "/t"
      val li = t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      VersionedTable.commit(s,
        clustered(li.where(pmod(col("l_orderkey"), lit(2L)) === 0L), 8), tbl)
      VersionedStats.refresh(s, tbl, Seq("l_orderkey"))
      VersionedTable.commitAppend(s,
        clustered(li.where(pmod(col("l_orderkey"), lit(2L)) === 1L), 8), tbl)
      val v = VersionedStats.refreshIncremental(s, tbl, Seq("l_orderkey"))
      val range = Seq(("l_orderkey", lit(1000L), lit(2000L)))
      val (kept, total) = VersionedStats.prunedFiles(s, tbl, range, Some(v))
      require(total == 16 && kept.size < total,
        s"append must extend the stats and still prune; kept ${kept.size} of $total")
      VersionedStats.readKept(s, tbl, range, v, kept)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // -- data-parallel training loop (the reference's 02.a/02.b shape) -----
    // Softmax regression trained full-batch on Spark aggregations: each
    // iteration's gradient is an allreduce expressed as one exact-decimal
    // aggregation job (bit-reproducible across partitionings). Labels come
    // from a hidden deterministic linear teacher — separable by
    // construction, so the in-query gate demands the trainer actually
    // recover them (accuracy ≥ 0.9) through a save/load registry round
    // trip. Rows-only by contract (iterative optimization isn't SQL).
    "q_train_distributed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val teacher = graft.image.Trainer.teacherVectors(5, 64)
      val labelUdf = udf((x: Seq[Float]) => {
        var best = 0
        var bs = Double.MinValue
        var c = 0
        while (c < teacher.length) {
          var acc = 0.0
          var i = 0
          while (i < 64) { acc += teacher(c)(i) * x(i); i += 1 }
          if (acc > bs) { bs = acc; best = c }
          c += 1
        }
        best
      })
      val data = emb.select(col("embedding").as("x"), labelUdf(col("embedding")).as("y"))
      // lr/momentum/iters sized by a convergence study on the fixtures:
      // ≥0.92 train accuracy at every sf in 20 iterations (near-random
      // 64-d vectors put many points close to the teacher's decision
      // boundaries — slower than clustered real data)
      val model = graft.image.Trainer.trainSoftmax(data, "x", "y",
        classes = (0 until 5).map(i => s"c$i"), dim = 64)
      val path = scratchDir("graft_train") + "/model.txt"
      graft.image.Trainer.save(model, path)
      val loaded = graft.image.Trainer.load(path)
      val acc = graft.image.Trainer.accuracy(loaded, data, "x", "y")
      // typical 0.93-0.96 across fixture draws; the 0.85 floor keeps the
      // gate meaningful (majority class ≈ 0.2) with headroom for the
      // per-round fixture regeneration
      require(acc >= 0.85,
        f"trainer failed to recover the separable teacher: accuracy $acc%.3f < 0.85")
      data.groupBy(col("y").as("label")).agg(count(lit(1)).as("n"))
        .withColumn("acc_permille", lit(math.round(acc * 1000)))
        .orderBy("label")
    }),

    // -- ordered funnel over the events stream -----------------------------
    // Strict progression view → click → purchase: each step's earliest
    // time at or after the previous step's. Skinny (user, min-ts)
    // aggregations + user-key joins — no window, no event-list collect.
    "q_funnel" -> ((s, d) =>
      Events.funnel(t(s, d, "events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // -- cohort retention matrix -------------------------------------------
    // Cohort = UTC day index of first activity (exact integer nanos
    // division); rows = (cohort, day_offset, distinct active users).
    "q_retention" -> ((s, d) =>
      Events.retention(t(s, d, "events"), "user_id", "ts")
        .orderBy("cohort", "day_offset")),

    // -- rolling 7-day active users (WAU) ----------------------------------
    // Distinct (user, day) grains each contribute to their next 7 window
    // days via a bounded map-side explode — no day-range self-join; the
    // one shuffle is the final (day, user) count-distinct.
    "q_rolling_active" -> ((s, d) =>
      Events.rollingActiveUsers(t(s, d, "events"), "user_id", "ts", windowDays = 7)
        .orderBy("day")),

    // -- error-tolerant JSONL ingest: bad-record routing -------------------
    // Same contract as q_csv_badrecords on the other interchange format —
    // and it routes around JSON's nastier default (malformed lines
    // silently become all-null rows).
    "q_json_badrecords" -> ((s, d) => {
      val work = scratchDir("graft_jsonbad") + "/t"
      val c = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      graft.tables.FormatIO.writeJsonLines(c.coalesce(1), work)
      val part = new java.io.File(work).listFiles()
        .find(_.getName.endsWith(".json")).get
      java.nio.file.Files.write(part.toPath,
        "{\"c_custkey\": \"zz\", \"c_name\": 1}\nnot json at all\n{broken\n".getBytes,
        java.nio.file.StandardOpenOption.APPEND)
      new java.io.File(part.getParent, s".${part.getName}.crc").delete()
      val (good, bad, _) = graft.tables.FormatIO.readJsonLinesRouted(s, work, c.schema)
      val nBad = bad.count()
      require(nBad == 3, s"expected 3 quarantined records, got $nBad")
      good.select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    // -- error-tolerant CSV ingest: bad-record routing ---------------------
    // Three malformed lines injected into a vendor-drop CSV (bad type,
    // extra columns, junk) must each land verbatim in quarantine while
    // every well-formed row parses — the batch validate/quarantine split.
    // Oracle = the clean base table; the in-query gate pins the
    // quarantine count.
    "q_csv_badrecords" -> ((s, d) => {
      val work = scratchDir("graft_csvbad") + "/t"
      val c = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      graft.tables.FormatIO.writeCsv(c.coalesce(1), work)
      val part = new java.io.File(work).listFiles()
        .find(_.getName.endsWith(".csv")).get
      java.nio.file.Files.write(part.toPath,
        "99x,bad type,12.5\n5,extra columns,1.0,surplus,fields\njustgarbage\n".getBytes,
        java.nio.file.StandardOpenOption.APPEND)
      // the local FS keeps a checksum sidecar; the injected bytes invalidate it
      new java.io.File(part.getParent, s".${part.getName}.crc").delete()
      val (good, bad, _) = graft.tables.FormatIO.readCsvRouted(s, work, c.schema)
      val nBad = bad.count()
      require(nBad == 3, s"expected 3 quarantined records, got $nBad")
      good.select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    // -- hidden time-partitioning (Iceberg days(ts) transform) -------------
    // The table partitions by a derived day key; the READER maps the raw
    // nanos range onto partition filters — forgetting the partition column
    // can't cause a full scan. In-query gate: the range scan plans fewer
    // partitions than the table holds (directory pruning, PlansSpec
    // asserts the exact count). Oracle = the plain nanos filter.
    "q_time_partition" -> ((s, d) => {
      val work = scratchDir("graft_tp") + "/t"
      val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "ts")
      graft.tables.TimePartitioned.write(ev, work, "ts")
      // window derived from the data (fixture time ranges drift between
      // vintages): days [first+7, first+12], mirrored in the oracle
      val DayNs  = 86400L * 1000000000L
      val day0   = Math.floorDiv(ev.agg(min("ts")).head().getLong(0), DayNs)
      val from   = (day0 + 7) * DayNs
      val to     = (day0 + 13) * DayNs - 1
      val out = graft.tables.TimePartitioned.readRange(s, work, "ts", from, to)
      val scanned = out.queryExecution.executedPlan
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.selectedPartitions.partitionCount).sum
      require(scanned > 0 && scanned <= 7,
        s"day pruning failed: $scanned partitions planned for a 6-day window")
      out.orderBy("event_id")
    }),

    // -- hidden day-partitioning through the CATALOG -----------------------
    // CREATE TABLE ... PARTITIONED BY (days(ts)) — the Iceberg transform
    // contract as native DSv2 DDL: the p_day key never appears in the
    // schema, and DayPartitionPruning maps the raw-ts range onto directory
    // pruning (plan-asserted ≤7 of ~30 day dirs for a 6-day window).
    "q_day_partition_catalog" -> ((s, d) => {
      val dir = scratchDir("graft_daycat") + "/t"
      graft.catalog.GraftCatalog.register("day_events", dir)
      t(s, d, "events").select("event_id", "user_id", "event_type", "ts")
        .createOrReplaceTempView("day_cat_src")
      s.sql("CREATE TABLE graft.day_events PARTITIONED BY (days(ts)) " +
        "AS SELECT event_id, user_id, event_type, ts FROM day_cat_src")
      val DayNs = 86400L * 1000000000L
      val day0  = s.table("day_cat_src").agg(min("ts")).head().getLong(0) / DayNs
      val from  = (day0 + 7) * DayNs
      val to    = (day0 + 13) * DayNs - 1
      val out = s.sql("SELECT event_id, user_id, event_type, ts FROM graft.day_events " +
        s"WHERE ts >= $from AND ts <= $to")
      val scanned = out.queryExecution.executedPlan
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .map(_.selectedPartitions.partitionCount).sum
      require(scanned > 0 && scanned <= 7,
        s"hidden day pruning failed: $scanned partitions planned for a 6-day window")
      out.orderBy("event_id")
    }),

    // -- per-file Bloom index: point lookups min/max stats can't prune -----
    // Arrival-order layout (every file spans the full key range — range
    // stats keep everything); the per-file Bloom prunes each equality
    // lookup to ~1 file with zero false negatives. In-query gate: the five
    // lookups together open far fewer than files×lookups.
    "q_bloom_lookup" -> ((s, d) => {
      val work = scratchDir("graft_bloomq") + "/t"
      val c = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      c.repartition(16).write.parquet(work) // hash-random placement
      graft.tables.BloomIndex.write(s, work, "c_custkey", expectedPerFile = 10000L)
      val keys = Seq(3L, 500L, 777L, 1234L, 123456789L) // last key absent
      var keptTotal = 0L
      var files     = 0L
      val frames = keys.map { k =>
        val (kept, total) = graft.tables.BloomIndex.prunedFiles(s, work, "c_custkey", k.toString)
        keptTotal += kept.size
        files = total
        graft.tables.BloomIndex.lookup(s, work, "c_custkey", k.toString)
      }
      require(keptTotal < keys.size * files / 2,
        s"bloom barely pruned: opened $keptTotal of ${keys.size * files} file-lookups")
      frames.reduce(_ unionByName _)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    // -- metadata-only aggregation from the stats manifest -----------------
    // The Delta/Iceberg "min/max/count from the log" fast path: the
    // aggregate is answered entirely from the version's per-file stats
    // (one row per file; data files never open — VersionedStatsSpec proves
    // it by corrupting them first). Oracle is the same aggregate as a full
    // table scan — equality proves exact mergeability of the file stats.
    "q_stats_pushdown" -> ((s, d) => {
      val tbl  = scratchDir("graft_statsagg") + "/t"
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice")
      VersionedTable.commit(s, clustered(t(s, d, "lineitem").select(cols.map(col): _*), 16), tbl)
      VersionedStats.refresh(s, tbl, cols)
      VersionedStats.statsOnlyAggregate(s, tbl, cols)
        .orderBy("column")
    }),

    // -- batch CDC: snapshot diff -------------------------------------------
    // New snapshot derived in-plan: acctbal+50 for %13 (updates), %17 keys
    // removed (deletes), '_v2' clones under +2000000 for %29 (inserts).
    // Output = the minimal change set; unchanged keys omitted.
    "q_snapshot_diff" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val newSnap = c.where(col("c_custkey") % 17 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 13 === 0, col("c_acctbal") + 50.0)
            .otherwise(col("c_acctbal")))
        .unionByName(c.where(col("c_custkey") % 29 === 0)
          .select((col("c_custkey") + 2000000L).as("c_custkey"),
            concat(col("c_name"), lit("_v2")).as("c_name"), col("c_acctbal")))
      Relational.snapshotDiff(c, newSnap, "c_custkey", Seq("c_name", "c_acctbal"))
        .orderBy("c_custkey")
    }),

    // -- ANALYZE-style one-scan column statistics ---------------------------
    "q_column_stats" -> ((s, d) =>
      Relational.columnStats(t(s, d, "lineitem"),
          Seq("l_quantity", "l_discount", "l_extendedprice", "l_returnflag"))
        .orderBy("column")),

    // -- the 100 TB stats variant: HLL++ distinct counts --------------------
    // Same one-scan shape without the per-column Expand replication;
    // n_distinct is a sketch estimate (engine-specific bytes → rows-only by
    // contract). Sketch-vs-exact TOLERANCE is guarded in RelationalSpec;
    // the in-query check is limited to invariants that cost nothing (an
    // exact compare here would price the Expand plan this variant exists
    // to avoid into its own bench line).
    "q_column_stats_approx" -> ((s, d) => {
      // parallelizeScan (r18): 13 aggregate kernels (4× HLL among them)
      // over the whole table otherwise run inside the single-row-group
      // scan's one task; project to the profiled columns first so the
      // balancing shuffle carries only them
      val out = Relational.columnStatsApprox(
          Tables.parallelizeScan(t(s, d, "lineitem")
            .select("l_quantity", "l_discount", "l_extendedprice", "l_returnflag")),
          Seq("l_quantity", "l_discount", "l_extendedprice", "l_returnflag"))
        .orderBy("column")
        .localCheckpoint(true) // sanity check + returned frame: compute once
      out.collect().foreach { r =>
        val (c, notnull, nd) = (r.getString(0), r.getLong(1), r.getLong(3))
        // estimate may legitimately exceed a fully-distinct column's true
        // count by ~rsd — bound with slack, not equality
        require(nd > 0 && nd <= notnull + notnull / 5 + 5,
          s"approx n_distinct for $c out of bounds: $nd vs $notnull non-null rows")
      }
      out
    }),

    // -- Delta-style time travel over versioned path tables -----------------
    // Three commits (base → update → delete), then the output joins the
    // TIME-TRAVELED v0 read against the latest read. The versioned layer is
    // engine machinery, but the committed contents derive deterministically
    // from `customer`, so the whole pipeline is DuckDB-oracle-checked: the
    // oracle replays both snapshots from the base table. v2 is derived from
    // a pinned v1 read — the time-travel path sits IN the lineage, not just
    // in the final comparison.
    "q_time_travel" -> ((s, d) => {
      val dir = scratchDir("graft_tt") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      VersionedTable.commit(s, c, dir) // v0: base
      VersionedTable.commit(s, c.withColumn("c_acctbal", // v1: +100 on %10 keys
        when(pmod(col("c_custkey"), lit(10L)) === 0L, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal"))), dir)
      VersionedTable.commit(s, // v2: delete %7 keys, FROM the pinned v1 read
        VersionedTable.read(s, dir, Some(1L))
          .where(pmod(col("c_custkey"), lit(7L)) =!= 0L), dir)
      val v0     = VersionedTable.read(s, dir, Some(0L))
      val latest = VersionedTable.read(s, dir)
      v0.as("a").join(latest.as("b"), col("a.c_custkey") === col("b.c_custkey"), "left_outer")
        .select(col("a.c_custkey").as("c_custkey"),
          col("a.c_acctbal").cast("double").as("bal_v0"),
          col("b.c_acctbal").cast("double").as("bal_latest"))
        .orderBy("c_custkey")
    }),

    // -- incremental (file-sharing) versioned commits ----------------------
    // append + append + copy-on-write update + delete, each commit O(change)
    // with unchanged files SHARED across versions (manifest commits —
    // VersionedTableSpec proves the file-level sharing); the query reads
    // the latest version joined against a time-traveled middle version.
    // Oracle replays the same history from the base table in SQL.
    "q_versioned_incremental" -> ((s, d) => {
      val dir = scratchDir("graft_vti") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), dir)
      VersionedTable.commitUpdate(s, dir, col("c_acctbal") < 0,
        Map("c_acctbal" -> (col("c_acctbal") + 1000)))
      VersionedTable.commitDelete(s, dir, pmod(col("c_custkey"), lit(13L)) === 0L)
      val v1     = VersionedTable.read(s, dir, Some(1L)) // pre-update, full key set
      val latest = VersionedTable.read(s, dir)
      latest.as("b").join(v1.as("a"), col("a.c_custkey") === col("b.c_custkey"))
        .select(col("a.c_custkey").as("c_custkey"),
          col("a.c_acctbal").cast("double").as("bal_v1"),
          col("b.c_acctbal").cast("double").as("bal_latest"))
        .orderBy("c_custkey")
    }),

    // -- version DIFF: what changed between two committed versions ---------
    // Same replay as q_versioned_incremental; diff v0 (first append only)
    // against v3 (both appends + update + delete) — all three change
    // types appear: evens added, %13 odds removed, negative-balance odds
    // updated. One full-outer key join over column-pruned version scans.
    "q_versioned_diff" -> ((s, d) => {
      val dir = scratchDir("graft_vtd") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), dir)
      VersionedTable.commitUpdate(s, dir, col("c_acctbal") < 0,
        Map("c_acctbal" -> (col("c_acctbal") + 1000)))
      VersionedTable.commitDelete(s, dir, pmod(col("c_custkey"), lit(13L)) === 0L)
      VersionedTable.diff(s, dir, 0L, 3L, Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    // -- CHANGE-DATA FEED over a version span ------------------------------
    // Same replay; the feed emits one row per (key, step) with old/new
    // values: step 1 adds the evens, step 2 updates negative balances,
    // step 3 removes the %13 keys. Each step diffs ONLY its changed files.
    "q_versioned_changes" -> ((s, d) => {
      val dir = scratchDir("graft_vtc") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), dir)
      VersionedTable.commitUpdate(s, dir, col("c_acctbal") < 0,
        Map("c_acctbal" -> (col("c_acctbal") + 1000)))
      VersionedTable.commitDelete(s, dir, pmod(col("c_custkey"), lit(13L)) === 0L)
      VersionedTable.changes(s, dir, 0L, 3L, Seq("c_custkey"), Seq("c_acctbal"))
        .select(col("c_custkey"), col("version"), col("change_type"),
          col("c_acctbal_old").cast("double").as("c_acctbal_old"),
          col("c_acctbal_new").cast("double").as("c_acctbal_new"))
        .orderBy("version", "c_custkey")
    }),

    // -- DELETION VECTORS: merge-on-read DELETE ----------------------------
    // Two DV deletes (no data file rewritten — O(deleted rows) sidecars
    // only), then a copy-on-write UPDATE that must apply the masks while
    // rewriting its touched files. The read path anti-joins (file, pos)
    // against the sidecars; the oracle replays the whole history in SQL.
    "q_versioned_dv" -> ((s, d) => {
      val dir = scratchDir("graft_dv") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), dir)
      VersionedTable.commitDeleteDV(s, dir, pmod(col("c_custkey"), lit(13L)) === 0L)
      VersionedTable.commitDeleteDV(s, dir, col("bal") < 0)
      VersionedTable.commitUpdate(s, dir, pmod(col("c_custkey"), lit(7L)) === 0L,
        Map("bal" -> (col("bal") + 100)))
      VersionedTable.read(s, dir).orderBy("c_custkey")
    }),

    // -- DV change feed: a deletion-vector commit in the CDC span ----------
    // The span crosses a DV delete; shared-file pruning must NOT prune the
    // masked files (same file, different mask = changed rows), and the feed
    // reports exactly the masked keys as removed.
    "q_dv_changes" -> ((s, d) => {
      val dir = scratchDir("graft_dvc") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), dir)
      VersionedTable.commitDeleteDV(s, dir, pmod(col("c_custkey"), lit(13L)) === 0L)
      VersionedTable.changes(s, dir, 1L, 2L, Seq("c_custkey"), Seq("bal"))
        .orderBy("c_custkey")
    }),

    // -- MERGE-ON-READ UPDATE: DV-mask matched rows + append rewrites ------
    // A DV delete, then an MoR update over the masked table (cond must see
    // live rows only; SET evaluates against old values), then a read. Write
    // cost O(matched rows); the oracle replays the history in SQL.
    "q_versioned_update_mor" -> ((s, d) => {
      val dir = scratchDir("graft_mor") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c, dir)
      VersionedTable.commitDeleteDV(s, dir, pmod(col("c_custkey"), lit(11L)) === 0L)
      VersionedTable.commitUpdateDV(s, dir, col("bal") < 0,
        Map("bal" -> (-col("bal"))))
      VersionedTable.read(s, dir).orderBy("c_custkey")
    }),

    // -- DELTA-ENCODED LOG: a 14-commit chain across a checkpoint ----------
    // 12 key-sliced appends (v0 full manifest, v1..v9 O(change) delta
    // entries, v10 forced full checkpoint, v11 delta), then a DV delete and
    // a copy-on-write update — the final read resolves anchor + replay and
    // must equal DuckDB replaying the same history in SQL. Commit METADATA
    // stays O(change) between checkpoints: the log-architecture property
    // that lets a million-file table take a one-file append without
    // rewriting a million manifest lines.
    "q_versioned_deltalog" -> ((s, d) => {
      val dir = scratchDir("graft_dlog") + "/t"
      // integer cents: the sum is exact and order-free, so the driver hash
      // is bit-identical cross-engine (the round-2 decimal rule).
      // localCheckpoint: 12 slice-appends filter the cached projection
      // instead of re-scanning the orders parquet 12 times
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        round(col("o_totalprice") * lit(100)).cast("long").as("cents"))
        .localCheckpoint(true)
      // one file per slice: without it each append inherits the session's
      // 32 partitions and the chain accrues ~384 tiny files that every
      // later scan (the DV delete, the update, the final read) reopens
      //
      // Concurrent appenders (r18, guide §2.6): the 12 slices are disjoint
      // and order-independent (the final read aggregates the whole table),
      // and the commit protocol serializes publishes under the write lease
      // — exactly the concurrent-append contract the cross-JVM race specs
      // prove. Staging (the per-slice write job) overlaps across 4
      // threads; only the millisecond publish tails serialize. Same 12
      // committed versions, same final table content.
      locally {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((0 until 12).map { i =>
            scala.concurrent.Future {
              VersionedTable.commitAppend(s,
                o.where(pmod(col("o_orderkey"), lit(12L)) === i).coalesce(1), dir)
            }
          }), scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
      }
      VersionedTable.commitDeleteDV(s, dir,
        pmod(col("o_orderkey"), lit(5L)) === 0L && col("o_orderstatus") === "F")
      VersionedTable.commitUpdate(s, dir, col("o_orderpriority") === "1-URGENT",
        Map("cents" -> (col("cents") + lit(100L))))
      VersionedTable.read(s, dir)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum("cents").cast("long").as("sum_cents"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // -- METADATA-ONLY AGGREGATE OVER A VERSIONED TABLE ---------------------
    // count(*)/min/max answered from the per-version stats manifest — zero
    // data-file I/O (the spec corrupts every data page and the answer
    // survives). Two appends prove the incremental stats maintenance path
    // feeds it; DuckDB recomputes the truth from the raw rows.
    "q_versioned_stats_agg" -> ((s, d) => {
      val dir = scratchDir("graft_vsagg") + "/t"
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"))
      VersionedTable.commitAppend(s,
        li.where(pmod(col("l_orderkey"), lit(2L)) === 0L).repartition(2), dir)
      VersionedStats.refreshIncremental(s, dir,
        Seq("l_extendedprice", "l_quantity"))
      // RENAME mid-history: stats key on immutable PHYSICAL names, so the
      // manifest survives the rename and the carry-forward stays O(new
      // files); reads resolve the NEW logical name through the mapping
      VersionedTable.commitRenameColumn(s, dir, "l_quantity", "qty")
      VersionedTable.commitAppend(s,
        li.where(pmod(col("l_orderkey"), lit(2L)) === 1L)
          .withColumnRenamed("l_quantity", "qty").repartition(2), dir)
      VersionedStats.refreshIncremental(s, dir,
        Seq("l_extendedprice", "qty"))
      VersionedStats.statsOnlyAggregate(s, dir,
        Seq("l_extendedprice", "qty")).orderBy("column")
    }),

    // -- SQL DML VERBS OVER A VERSIONED TABLE -------------------------------
    // The reference drives OPTIMIZE from `%sql` (00. Explore.py:89-90);
    // here the whole DML surface routes through SQL text: UPDATE, DELETE
    // (which must see the post-update balances), OPTIMIZE re-layout, and
    // the final SELECT — all onto the same commit protocol the API uses.
    "q_sql_dml" -> ((s, d) => {
      val dir = scratchDir("graft_tsql") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c, dir)
      val cat = Map("cust" -> dir)
      graft.tables.TableSql.execute(s, cat,
        "UPDATE cust SET bal = bal + 100 WHERE c_custkey % 7 = 0")
      graft.tables.TableSql.execute(s, cat, "DELETE FROM cust WHERE bal < 0")
      graft.tables.TableSql.execute(s, cat, "OPTIMIZE cust TARGET 2 FILES")
      graft.tables.TableSql.execute(s, cat,
        "SELECT c_custkey, bal FROM cust ORDER BY c_custkey")
    }),

    // -- NATIVE ROW-LEVEL SQL (Spark's own grammar, no TableSql layer) -----
    // UPDATE / MERGE INTO / DELETE all parse in Spark's parser and plan
    // onto the commit protocol (GraftRowLevelStrategy + SupportsDelete):
    // the verbs Delta gets from its Spark extensions, same file-grain
    // copy-on-write underneath. One pipeline: +100 on %7 keys (UPDATE),
    // upsert %3 keys to bal 500 + insert shifted %13 keys (MERGE), then
    // drop negatives (DELETE); DuckDB replays the algebra.
    "q_sql_rowlevel_native" -> ((s, d) => {
      val dir = scratchDir("graft_rln") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), dir)
      graft.catalog.GraftCatalog.register("rln_cust", dir)
      s.sql("UPDATE graft.rln_cust SET bal = bal + 100 WHERE c_custkey % 7 = 0")
      c.where(pmod(col("c_custkey"), lit(3L)) === 0L)
          .select(col("c_custkey"), lit(500.0).as("bal"))
        .unionByName(c.where(pmod(col("c_custkey"), lit(13L)) === 0L)
          .select((col("c_custkey") + 9000000L).as("c_custkey"), col("bal")))
        .createOrReplaceTempView("rln_src")
      s.sql("MERGE INTO graft.rln_cust t USING rln_src s ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (c_custkey, bal) VALUES (s.c_custkey, s.bal)")
      s.sql("DELETE FROM graft.rln_cust WHERE bal < 0")
      // native maintenance verb (delegating parser): re-layout, no rows
      // change — the oracle is unaffected by design (dataChange=false)
      s.sql("OPTIMIZE graft.rln_cust ZORDER BY (c_custkey) TARGET 2 FILES")
      s.sql("SELECT c_custkey, bal FROM graft.rln_cust ORDER BY c_custkey")
    }),

    // -- NATIVE DELETE WITH AN UNTRANSLATABLE PREDICATE --------------------
    // SupportsDelete's v1-Filter pushdown can't express arithmetic or
    // function calls; the strategy's scan-based fallback (Delta's) routes
    // any predicate onto commitDelete's copy-on-write expression form.
    // Chains a pushable DELETE after it to prove both paths share state.
    "q_sql_delete_expr" -> ((s, d) => {
      val dir = scratchDir("graft_dexpr") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"), col("c_mktsegment").as("seg"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), dir)
      graft.catalog.GraftCatalog.register("dexpr_cust", dir)
      // modulo arithmetic + abs() — neither survives v1 Filter translation
      s.sql("DELETE FROM graft.dexpr_cust WHERE c_custkey % 7 = 3 AND abs(bal) > 1000")
      // computed string predicate
      s.sql("DELETE FROM graft.dexpr_cust WHERE length(seg) + c_custkey % 2 = 10")
      // and the plain pushable shape still lands on the same table state
      s.sql("DELETE FROM graft.dexpr_cust WHERE bal < -900")
      s.sql("SELECT c_custkey, bal, seg FROM graft.dexpr_cust ORDER BY c_custkey")
    }),

    // -- NATIVE MERGE: WHEN NOT MATCHED BY SOURCE (retention arms) ---------
    // The standard CDC retention merge a Delta user writes weekly: the
    // source carries the refreshed partition (%3 keys, +100); target rows
    // the source does NOT name take the BY SOURCE arms in order — purge
    // stale negatives, then age-flag (+1) the sub-1000 remainder. Arm
    // conditions reference the target only (Spark's analyzer enforces it);
    // pruning is by arm condition, not the key probe. DuckDB replays the
    // three arms as one CASE over match-ness.
    "q_sql_merge_unmatched_source" -> ((s, d) => {
      val dir = scratchDir("graft_nmbs") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), dir)
      graft.catalog.GraftCatalog.register("nmbs_cust", dir)
      c.where(pmod(col("c_custkey"), lit(3L)) === 0L)
        .select(col("c_custkey"), lit(100.0).as("inc"))
        .createOrReplaceTempView("nmbs_src")
      s.sql("MERGE INTO graft.nmbs_cust t USING nmbs_src s ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.inc " +
        "WHEN NOT MATCHED BY SOURCE AND t.bal < 0 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE AND t.bal < 1000 THEN UPDATE SET bal = t.bal + 1")
      s.sql("SELECT c_custkey, bal FROM graft.nmbs_cust ORDER BY c_custkey")
    }),

    // -- CONVERT: zero-copy parquet adoption + history on top --------------
    // Delta's CONVERT TO DELTA shape: a plain parquet dir becomes v0 of a
    // versioned table WITHOUT copying a byte (absolute entries — the 100 TB
    // migration path), then normal DML history accrues on top while the
    // source dir keeps serving legacy readers unchanged. DuckDB replays
    // the post-adoption DML directly over the fixture table.
    "q_convert_parquet" -> ((s, d) => {
      val work = scratchDir("graft_conv")
      val lake = s"$work/lake"
      t(s, d, "customer").select(col("c_custkey"),
          col("c_acctbal").cast("double").as("bal"))
        .repartitionByRange(8, col("c_custkey")).write.parquet(lake)
      val dir = s"$work/t"
      VersionedTable.convertParquet(s, lake, dir)
      graft.tables.TableSql.execute(s, Map("cust" -> dir),
        "DELETE FROM cust WHERE bal < 0")
      graft.tables.TableSql.execute(s, Map("cust" -> dir),
        "UPDATE cust SET bal = bal + 100 WHERE c_custkey % 7 = 0")
      VersionedTable.read(s, dir).select("c_custkey", "bal").orderBy("c_custkey")
    }),

    // -- NATIVE MERGE WITH SCHEMA EVOLUTION ---------------------------------
    // Delta's autoMerge surface: the source carries a column the target
    // lacks (`seg`); WITH SCHEMA EVOLUTION makes the analyzer commit it
    // through GraftCatalog.alterTable (ONE metadata-only schema commit —
    // old rows null-fill) before the merge plans, so UPDATE SET * /
    // INSERT * carry the new column. DuckDB replays update+insert+null-fill.
    "q_sql_merge_evolve" -> ((s, d) => {
      val dir = scratchDir("graft_evosql") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), dir)
      graft.catalog.GraftCatalog.register("evo_cust", dir)
      c.where(pmod(col("c_custkey"), lit(4L)) === 0L)
          .select(col("c_custkey"), (col("bal") + 50.0).as("bal"), lit("hot").as("seg"))
        .unionByName(c.where(pmod(col("c_custkey"), lit(9L)) === 0L)
          .select((col("c_custkey") + 7000000L).as("c_custkey"), col("bal"),
            lit("new").as("seg")))
        .createOrReplaceTempView("evo_src")
      s.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.evo_cust t USING evo_src s " +
        "ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      s.sql("SELECT c_custkey, bal, seg FROM graft.evo_cust ORDER BY c_custkey")
    }),

    // -- CONDITIONAL MERGE (WHEN MATCHED/NOT MATCHED clauses) --------------
    // The real Delta MERGE surface, driven through SQL text: a DELETE arm
    // fires first for matched negative balances, the UPDATE arm (+inc)
    // takes the remaining matches, and the NOT MATCHED arm filters inserts
    // by condition (negative-balance candidates dropped). DuckDB replays
    // the three arms as WHERE + CASE + UNION ALL.
    "q_sql_merge_cond" -> ((s, d) => {
      val dir = scratchDir("graft_mcq") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), dir)
      // source: update/delete arm rows (%3 keys, inc=100) + insert
      // candidates (%11 keys shifted out of the key range, inc = that
      // row's balance, so the insert condition has both signs to filter)
      c.where(pmod(col("c_custkey"), lit(3L)) === 0L)
          .select(col("c_custkey"), lit(100.0).as("inc"))
        .unionByName(c.where(pmod(col("c_custkey"), lit(11L)) === 0L)
          .select((col("c_custkey") + 3000000L).as("c_custkey"), col("bal").as("inc")))
        .createOrReplaceTempView("merge_cond_src")
      graft.tables.TableSql.execute(s, Map("cust" -> dir),
        """MERGE INTO cust USING merge_cond_src ON (c_custkey)
          |WHEN MATCHED AND t.bal < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.inc
          |WHEN NOT MATCHED AND s.inc >= 0 THEN INSERT (c_custkey, bal) VALUES (s.c_custkey, s.inc)""".stripMargin)
      VersionedTable.read(s, dir).select("c_custkey", "c_name", "bal")
        .orderBy("c_custkey")
    }),

    // -- ADDITIVE SCHEMA EVOLUTION ON APPEND --------------------------------
    // Odd keys land narrow (v0); evens land through commitAppendEvolve with
    // a derived `segment` column (v1 — old files untouched, schema declared
    // in the log); an update then writes the NEW column on rows living in
    // NARROW files (%99 hits both parities), forcing a wide rewrite of
    // touched narrow files while untouched ones stay narrow on disk. The
    // final read resolves everything through the declared schema; DuckDB
    // replays the same history in SQL.
    "q_schema_evolution" -> ((s, d) => {
      val dir = scratchDir("graft_evo") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitAppendEvolve(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 0L)
          .withColumn("segment",
            when(col("bal") >= 5000.0, "high").otherwise("low")), dir)
      VersionedTable.commitUpdate(s, dir,
        pmod(col("c_custkey"), lit(99L)) === 0L, Map("segment" -> lit("vip")))
      VersionedTable.read(s, dir).orderBy("c_custkey")
    }),

    // -- COLUMN RENAME VIA COLUMN MAPPING -----------------------------------
    // Rename is a METADATA-ONLY commit: odd keys land as `bal` (v0), the
    // rename to `balance` touches zero data files (v1), evens append under
    // the new logical name while staging the immutable physical name (v2),
    // and a copy-on-write update keys on the renamed column (v3). An
    // in-query gate proves the pre-rename time travel still reads `bal`.
    // DuckDB replays the value history under the final name.
    "q_schema_rename" -> ((s, d) => {
      val dir = scratchDir("graft_ren") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitRenameColumn(s, dir, "bal", "balance")
      VersionedTable.commitAppend(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 0L)
          .withColumnRenamed("bal", "balance"), dir)
      VersionedTable.commitUpdate(s, dir,
        pmod(col("c_custkey"), lit(99L)) === 0L,
        Map("balance" -> (col("balance") + 1000.0)))
      require(VersionedTable.read(s, dir, Some(0L)).columns.toSeq ==
        Seq("c_custkey", "bal"),
        "time travel below the rename must see the old column name")
      VersionedTable.read(s, dir).orderBy("c_custkey")
    }),

    // -- COLUMN DROP + TOMBSTONED RE-ADD ------------------------------------
    // Drop is metadata-only (old files keep the physical column; reads
    // never select it) and TOMBSTONES the physical name: the evolve that
    // re-adds `seg` gets a fresh physical column, so v0's dropped
    // mktsegment values must NOT resurrect — the oracle asserts NULL for
    // every pre-drop row and 're' only for the evolve batch's new rows.
    "q_schema_drop" -> ((s, d) => {
      val dir = scratchDir("graft_drop") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"), col("c_mktsegment").as("seg"))
      VersionedTable.commitAppend(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 1L), dir)
      VersionedTable.commitDropColumn(s, dir, "seg")
      VersionedTable.commitAppend(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 0L).drop("seg"), dir)
      VersionedTable.commitAppendEvolve(s,
        c.where(pmod(col("c_custkey"), lit(7L)) === 0L)
          .select((col("c_custkey") + 3000000L).as("c_custkey"), col("bal"),
            lit("re").as("seg")), dir)
      VersionedTable.read(s, dir).orderBy("c_custkey")
    }),

    // -- INCREMENTALLY-MAINTAINED MATERIALIZED AGGREGATE -------------------
    // Build the view at v0 (odd keys only), then refresh once after three
    // more source commits (evens appended, negative balances updated,
    // %13 keys deleted). The refresh folds ONLY the change feed into the
    // state — O(changed files) + O(groups), the corpus never re-scanned —
    // and must land bit-identical to the full recompute the oracle runs.
    "q_matview_refresh" -> ((s, d) => {
      val root = scratchDir("graft_mv")
      val src  = root + "/src"
      val view = root + "/view"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L), src)
      graft.tables.MaterializedAgg.create(s, src, view,
        Seq("c_custkey"), Seq("c_nationkey"), Seq("c_acctbal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), src)
      VersionedTable.commitUpdate(s, src, col("c_acctbal") < 0,
        Map("c_acctbal" -> (col("c_acctbal") + 1000).cast("decimal(18,2)")))
      VersionedTable.commitDelete(s, src, pmod(col("c_custkey"), lit(13L)) === 0L)
      graft.tables.MaterializedAgg.refresh(s, view)
      graft.tables.MaterializedAgg.read(s, view)
        .select(col("c_nationkey"), col("cnt"),
          col("sum_c_acctbal").cast("double").as("bal_sum"))
        .orderBy("c_nationkey")
    }),

    // -- hybrid MIN/MAX maintenance in the materialized aggregate ----------
    // Inserts self-maintain (least/greatest fold); the delete removes most
    // nations' minimum balance and the update retracts their maxima (the
    // -20000 rewrite also plants new global minima), forcing the
    // O(affected-groups) rescan path. One refresh at the end must equal the
    // oracle's full recompute over the replayed final source.
    "q_matview_minmax" -> ((s, d) => {
      val root = scratchDir("graft_mvmm")
      val src  = root + "/src"
      val view = root + "/view"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal_dec"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L), src)
      graft.tables.MaterializedAgg.create(s, src, view,
        Seq("c_custkey"), Seq("c_nationkey"), Seq("bal_dec"), Seq("bal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), src)
      VersionedTable.commitDelete(s, src, col("bal") < -800.0)
      VersionedTable.commitUpdate(s, src, col("bal") > 9800.0,
        Map("bal" -> (col("bal") - 20000.0),
          "bal_dec" -> (col("bal_dec") - 20000).cast("decimal(18,2)")))
      graft.tables.MaterializedAgg.refresh(s, view)
      graft.tables.MaterializedAgg.read(s, view)
        .select(col("c_nationkey"), col("cnt"),
          col("sum_bal_dec").cast("double").as("bal_sum"),
          col("min_bal").as("bal_min"), col("max_bal").as("bal_max"))
        .orderBy("c_nationkey")
    }),

    // -- per-version file stats + pruned range read ------------------------
    // Delta's stats-in-the-log, emulated per version: two clustered appends
    // (the second statted INCREMENTALLY — only its new files read back),
    // then a range read that prunes the file LIST through the version's
    // stats manifest before any scan plans. In-query gates: pruning must
    // actually discriminate (kept < 40% of files) and both appends' stats
    // must be 1:1 with the manifest. Oracle = the plain range filter.
    "q_versioned_skipping" -> ((s, d) => {
      val dir = scratchDir("graft_vsk") + "/t"
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("double").as("qty"))
      VersionedTable.commitAppend(s, clustered(li.where(col("l_orderkey") % 2 === 1), 8), dir)
      VersionedStats.refresh(s, dir, Seq("l_orderkey"))
      VersionedTable.commitAppend(s, clustered(li.where(col("l_orderkey") % 2 === 0), 8), dir)
      val v = VersionedStats.refreshIncremental(s, dir, Seq("l_orderkey"))
      val range = Seq(("l_orderkey", lit(1000L), lit(5000L)))
      val (kept, total) = VersionedStats.prunedFiles(s, dir, range, Some(v))
      require(kept.size.toDouble / total < 0.4,
        s"stats pruning kept ${kept.size}/$total files — clustering regressed")
      VersionedStats.readKept(s, dir, range, v, kept)
        .orderBy("l_orderkey", "l_partkey", "qty")
    }),

    // -- CDC bronze→silver replication through the change feed -------------
    // The medallion shape: a consumer with a durable offset bootstraps from
    // a snapshot, then applies each unseen span (update + delete + append,
    // with a compaction the feed must skip) to the silver mirror via
    // txn-marked MERGE/DELETE — exactly-once end to end. Two polls run; the
    // final silver must equal the oracle's replay of bronze's latest state.
    "q_cdc_replicate" -> ((s, d) => {
      val root = scratchDir("graft_cdc")
      val (bronze, silver) = (root + "/bronze", root + "/silver")
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), bronze)
      def poll() = graft.tables.ChangeFeedConsumer.replicate(
        s, bronze, silver, "mirror", Seq("c_custkey"), Seq("c_custkey", "c_name", "bal"))
      poll() // bootstrap snapshot
      VersionedTable.commitUpdate(s, bronze, pmod(col("c_custkey"), lit(3L)) === 0L,
        Map("bal" -> (col("bal") + 100.0)))
      VersionedTable.commitDelete(s, bronze, pmod(col("c_custkey"), lit(13L)) === 0L)
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(11L)) === 0L)
        .select((col("c_custkey") + 3000000L).as("c_custkey"),
          concat(col("c_name"), lit("_new")).as("c_name"), col("bal")), bronze)
      VersionedTable.commitCompact(s, bronze, targetFiles = 4, clusterBy = Seq("c_custkey"))
      poll() // incremental span
      VersionedTable.read(s, silver).select("c_custkey", "c_name", "bal")
        .orderBy("c_custkey")
    }),

    // -- MERGE INTO a versioned table --------------------------------------
    // One source batch carrying both updates (+100 on %3 keys, covering
    // only the balance column — the name must survive untouched) and
    // inserts (shifted keys, no name column — must land NULL). Whole-row
    // Delta MERGE semantics, file-grain copy-on-write on a key-clustered
    // table; the oracle replays the merge as CASE + UNION ALL.
    "q_versioned_merge" -> ((s, d) => {
      val src = scratchDir("graft_vm") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), src)
      val batch = c.where(pmod(col("c_custkey"), lit(3L)) === 0L)
          .select(col("c_custkey"), (col("bal") + 100.0).as("bal"))
        .unionByName(c.where(pmod(col("c_custkey"), lit(11L)) === 0L)
          .select((col("c_custkey") + 3000000L).as("c_custkey"), col("bal")))
      VersionedTable.commitMerge(s, src, batch, Seq("c_custkey"))
      VersionedTable.read(s, src).select("c_custkey", "c_name", "bal")
        .orderBy("c_custkey")
    }),

    // -- OPTIMIZE on a versioned table (dataChange=false) ------------------
    // Two fragmented appends compact into 4 key-clustered files, then a
    // real delete lands on top. The latest read must equal the plain
    // filter (compaction is a pure re-layout), the manifest must hit the
    // target file count, and the change feed across the whole span must
    // contain ZERO rows from the compaction step — all asserted in-query.
    "q_versioned_compact" -> ((s, d) => {
      val src = scratchDir("graft_vc") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L)
        .repartition(6), src)
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L)
        .repartition(6), src)
      val vc = VersionedTable.commitCompact(s, src, targetFiles = 4,
        clusterBy = Seq("c_custkey"))
      val vd = VersionedTable.commitDelete(s, src, pmod(col("c_custkey"), lit(7L)) === 0L)
      val feed = VersionedTable.changes(s, src, 0L, vd,
        Seq("c_custkey"), Seq("bal"))
      require(feed.where(col("version") === vc).count() == 0L,
        "change feed must skip the dataChange=false compaction step")
      VersionedTable.read(s, src).select("c_custkey", "c_name", "bal")
        .orderBy("c_custkey")
    }),

    // -- RESTORE: roll the table back to an earlier version ----------------
    // base → +100 update on %10 keys → a "bad" delete of the %7 keys →
    // RESTORE to the pre-delete version. Delta semantics: the restore is a
    // NEW commit (history intact, the bad version still readable) with
    // ZERO data movement — asserted in-query: the restored manifest must
    // equal v1's file list verbatim, and the restore step's change feed
    // must be exactly the deleted keys coming back as `added`.
    "q_versioned_restore" -> ((s, d) => {
      val dir = scratchDir("graft_vr") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), dir)
      VersionedTable.commitUpdate(s, dir, pmod(col("c_custkey"), lit(10L)) === 0L,
        Map("bal" -> (col("bal") + 100.0)))
      VersionedTable.commitDelete(s, dir, pmod(col("c_custkey"), lit(7L)) === 0L)
      val rv = VersionedTable.commitRestore(s, dir, 1L)
      require(VersionedTable.filesOf(dir, rv) == VersionedTable.filesOf(dir, 1L),
        "restore must share the target version's files verbatim (zero data movement)")
      val feed = VersionedTable.changes(s, dir, rv - 1, rv, Seq("c_custkey"), Seq("bal"))
      require(feed.where(col("change_type") =!= "added").count() == 0L,
        "the restore step's change feed must contain only the re-added deleted keys")
      VersionedTable.read(s, dir).orderBy("c_custkey")
    }),

    // -- SHALLOW CLONE + DML on the clone ----------------------------------
    // Metadata-only fork of the source (manifest references the source's
    // files in place — zero bytes copied), then UPDATE + DELETE applied to
    // the CLONE copy-on-write: touched files rewrite into the clone's own
    // data/, untouched entries keep pointing at the source, and the source
    // table is asserted byte-untouched (still at v0, deleted keys present).
    "q_versioned_clone" -> ((s, d) => {
      val root = scratchDir("graft_vcl")
      val (src, dst) = (root + "/src", root + "/clone")
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.repartitionByRange(8, col("c_custkey")), src)
      VersionedTable.cloneShallow(s, src, dst)
      VersionedTable.commitUpdate(s, dst, pmod(col("c_custkey"), lit(5L)) === 0L,
        Map("bal" -> (col("bal") + 500.0)))
      VersionedTable.commitDelete(s, dst, pmod(col("c_custkey"), lit(9L)) === 0L)
      require(VersionedTable.latestVersion(src).contains(0L),
        "DML on the clone must never commit to the source")
      require(VersionedTable.read(s, src)
          .where(pmod(col("c_custkey"), lit(9L)) === 0L).count() > 0L,
        "the clone's delete must not reach the source's rows")
      VersionedTable.read(s, dst).orderBy("c_custkey")
    }),

    // -- write-time CHECK constraints --------------------------------------
    // Delta's ADD CONSTRAINT ... CHECK: a clean base commits, then two
    // constraints attach; adding one the data already violates must FAIL;
    // an append carrying violating rows and an update whose rewrite would
    // violate are both rejected ATOMICALLY (version unchanged — asserted);
    // the clipped-valid append then lands. Enforcement reads only each
    // commit's new files, never the table.
    "q_constraint_enforce" -> ((s, d) => {
      val dir = scratchDir("graft_chk") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.where(col("bal") >= 0.0), dir)
      graft.tables.Constraints.add(s, dir, "bal_nonneg", "bal >= 0.0")
      graft.tables.Constraints.add(s, dir, "key_notnull", "c_custkey IS NOT NULL")
      val badAdd =
        try { graft.tables.Constraints.add(s, dir, "bal_huge", "bal > 100000"); false }
        catch { case _: graft.tables.Constraints.ConstraintViolation => true }
      require(badAdd, "adding a constraint the table violates must fail")
      val before = VersionedTable.latestVersion(dir)
      val rejectedAppend =
        try { VersionedTable.commitAppend(s, c.where(col("bal") < 0.0), dir); false }
        catch { case _: graft.tables.Constraints.ConstraintViolation => true }
      require(rejectedAppend && VersionedTable.latestVersion(dir) == before,
        "a violating append must be rejected without committing")
      val rejectedUpdate =
        try {
          VersionedTable.commitUpdate(s, dir, pmod(col("c_custkey"), lit(3L)) === 0L,
            Map("bal" -> (col("bal") - 100000.0))); false
        } catch { case _: graft.tables.Constraints.ConstraintViolation => true }
      require(rejectedUpdate && VersionedTable.latestVersion(dir) == before,
        "a violating update rewrite must be rejected without committing")
      VersionedTable.commitAppend(s,
        c.where(col("bal") < 0.0).withColumn("bal", lit(0.0)), dir)
      VersionedTable.read(s, dir).orderBy("c_custkey")
    }),

    // -- STREAM FROM A VERSIONED TABLE (the Delta streaming-source shape) --
    // A real Structured Streaming SOURCE whose offsets are commit versions:
    // run 1 drains the initial snapshot (odd keys); then two appends land
    // around an OPTIMIZE; run 2 resumes from the SAME checkpoint and must
    // emit exactly the appended files — the compaction wholesale-skipped,
    // nothing re-emitted (exactly-once across restart rides offset replay
    // + immutable manifests). Oracle = replay of everything ever appended.
    "q_stream_versioned" -> ((s, d) => {
      val root  = scratchDir("graft_vstr")
      val table = root + "/t"
      val (out, ckpt) = (root + "/out", root + "/ckpt")
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      def drain(): Unit = {
        val q = s.readStream.format(graft.sources.VersionedStream.format)
          .option("path", table).load()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L)
        .repartitionByRange(4, col("c_custkey")), table)
      drain() // initial snapshot
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), table)
      VersionedTable.commitCompact(s, table, targetFiles = 4, clusterBy = Seq("c_custkey"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(11L)) === 0L)
        .select((col("c_custkey") + 3000000L).as("c_custkey"), col("c_name"), col("bal")),
        table)
      drain() // tail: two appended file sets, compaction skipped
      s.read.parquet(out).orderBy("c_custkey")
    }),

    // -- AUTO-LOADER-SHAPE INCREMENTAL FILE INGEST -------------------------
    // The cloudFiles front door: a stream over a GROWING raw directory with
    // durable per-file discovery state. Run 1 backfills the pre-existing
    // files (paced, 2/trigger); more raw files land; run 2 resumes from the
    // SAME checkpoint and ingests exactly the new files — per-file ledger
    // replay, not a re-listing — into a versioned table through the
    // exactly-once sink. Oracle = every raw row exactly once.
    "q_autoload_ingest" -> ((s, d) => {
      val root = scratchDir("graft_al_q")
      val (raw, table, ckpt) = (root + "/raw", root + "/t", root + "/ckpt")
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      def drain(): Unit = {
        val q = s.readStream.format(graft.sources.AutoLoader.format)
          .option("path", raw).option("maxFilesPerTrigger", "2").load()
          .writeStream.format(graft.sources.VersionedStream.format)
          .option("path", table).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      c.where(pmod(col("c_custkey"), lit(2L)) === 1L).repartition(4)
        .write.mode("append").parquet(raw)
      drain() // backfill of the pre-existing files
      c.where(pmod(col("c_custkey"), lit(2L)) === 0L).repartition(3)
        .write.mode("append").parquet(raw)
      drain() // new files only
      VersionedTable.read(s, table).orderBy("c_custkey")
    }),

    // -- AUTO-LOADER BINARY INGEST (rows-only; binary outputs by contract) -
    // The reference's image front door (`01. Ingest.py:33-36`) as an
    // INCREMENTAL stream: raw binary files land in waves, each becomes one
    // (path, length, content) row exactly once across two AvailableNow
    // runs over one checkpoint. Self-gated: second wave must not re-ingest
    // the first, and content round-trips byte-exact (sha over the bytes).
    "q_autoload_binary" -> ((s, d) => {
      val root = scratchDir("graft_alb_q")
      val (raw, out, ckpt) = (root + "/raw", root + "/out", root + "/ckpt")
      new java.io.File(raw).mkdirs()
      val names = t(s, d, "customer").select("c_custkey", "c_name")
        .where(col("c_custkey") <= 40).orderBy("c_custkey").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      def drop(k: Long, payload: String): Unit = {
        val tmp = java.nio.file.Paths.get(root, f"c_$k%06d.bin.tmp")
        java.nio.file.Files.write(tmp, payload.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(raw, f"c_$k%06d.bin"))
      }
      def drain(): Unit = {
        val q = s.readStream.format(graft.sources.AutoLoader.format)
          .option("path", raw).option("fileFormat", "binaryFile")
          .option("maxFilesPerTrigger", "8").load()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val (w1, w2) = names.partition(_._1 % 2 == 1)
      w1.foreach { case (k, n) => drop(k, n) }
      drain()
      w2.foreach { case (k, n) => drop(k, n) }
      drain()
      val res = s.read.parquet(out)
        .select(
          element_at(split(col("path"), "/"), -1).as("fname"),
          col("length"),
          sha2(col("content"), 256).as("sha"))
      require(res.count() == names.length,
        s"expected ${names.length} rows (one per raw file, no replays), got ${res.count()}")
      val expected = names.map { case (k, n) =>
        (f"c_$k%06d.bin",
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(n.getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString) }.toMap
      val bad = res.collect().filterNot(r =>
        expected.get(r.getString(0)).contains(r.getString(2)))
      require(bad.isEmpty, s"content mismatch for ${bad.take(3).mkString(",")}")
      res.orderBy("fname")
    }),

    // -- CHANGE-DATA-FEED STREAM over a versioned table --------------------
    // Delta's readChangeFeed as a stream: the batches carry ROW-LEVEL
    // changes (insert / delete / update_preimage / update_postimage with
    // commit versions), not appended files — so UPDATE/DELETE commits are
    // first-class where the plain source refuses them, and OPTIMIZE emits
    // nothing. Two drains across a checkpoint prove exactly-once replay;
    // DuckDB reconstructs the full expected feed from the known history.
    "q_stream_cdf" -> ((s, d) => {
      val root  = scratchDir("graft_cdf")
      val table = root + "/t"
      val (out, ckpt) = (root + "/out", root + "/ckpt")
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      // key columns come from the TABLE's declaration (set once below) —
      // the Delta-parity path: readChangeFeed needs no per-query option
      def drain(): Unit = {
        val q = s.readStream.format(graft.sources.VersionedStream.format)
          .option("path", table)
          .option("readChangeFeed", "true")
          .option("startingVersion", "0")
          .load()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L)
        .repartitionByRange(4, col("c_custkey")), table)                    // v0
      VersionedTable.setKeyColumns(table, Seq("c_custkey"))
      VersionedTable.commitAppend(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 0L), table)             // v1
      drain() // v0 inserts (startingVersion=0 full replay) + v1 inserts
      VersionedTable.commitUpdate(s, table,
        pmod(col("c_custkey"), lit(7L)) === 0L,
        Map("bal" -> (col("bal") + 100.0)))                                  // v2
      VersionedTable.commitDelete(s, table,
        pmod(col("c_custkey"), lit(13L)) === 0L)                             // v3
      VersionedTable.commitCompact(s, table, targetFiles = 2)                // v4: silent
      drain() // resumes at v2: update pre/post + deletes, nothing for v4
      s.read.parquet(out)
        .select(col("c_custkey"), col("bal"), col("_change_type"),
          col("_commit_version"))
        .orderBy("c_custkey", "_commit_version", "_change_type")
    }),

    // -- BATCH change-data-feed read ---------------------------------------
    // Delta's batch readChangeFeed: the same commit history as q_stream_cdf
    // read as ONE plain DataFrame through format("graft") — the shared frame
    // builder guarantees batch and stream feeds cannot drift, and this
    // oracle proves the batch side independently.
    "q_cdf_batch" -> ((s, d) => {
      val table = scratchDir("graft_cdfb") + "/t"
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L)
        .repartitionByRange(4, col("c_custkey")), table)                    // v0
      VersionedTable.setKeyColumns(table, Seq("c_custkey"))
      VersionedTable.commitAppend(s,
        c.where(pmod(col("c_custkey"), lit(2L)) === 0L), table)             // v1
      VersionedTable.commitUpdate(s, table,
        pmod(col("c_custkey"), lit(7L)) === 0L,
        Map("bal" -> (col("bal") + 100.0)))                                  // v2
      VersionedTable.commitDelete(s, table,
        pmod(col("c_custkey"), lit(13L)) === 0L)                             // v3
      VersionedTable.commitCompact(s, table, targetFiles = 2)                // v4: silent
      s.read.format("graft")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load(table)
        .select(col("c_custkey"), col("bal"), col("_change_type"),
          col("_commit_version"))
        .orderBy("c_custkey", "_commit_version", "_change_type")
    }),

    // -- versioned source -> versioned SINK mirror -------------------------
    // The full streaming pair behind the standard DataStreamWriter API:
    // poll 1 snapshots bronze into the mirror as one txn-marked commit;
    // two appends (around a skipped OPTIMIZE) land in bronze; poll 2
    // resumes from the checkpoint and commits exactly ONE more version to
    // the mirror holding only the new files' rows (asserted). Exactly-once
    // end to end: source offset replay + sink (appId, batchId) txn marker.
    "q_stream_versioned_mirror" -> ((s, d) => {
      val root = scratchDir("graft_vmir")
      val (bronze, mirror, ckpt) = (root + "/bronze", root + "/mirror", root + "/ckpt")
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      def drain(): Unit = {
        val q = s.readStream.format(graft.sources.VersionedStream.format)
          .option("path", bronze).load()
          .writeStream.format(graft.sources.VersionedStream.format)
          .option("path", mirror).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L)
        .repartitionByRange(4, col("c_custkey")), bronze)
      drain() // snapshot poll
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), bronze)
      VersionedTable.commitCompact(s, bronze, targetFiles = 4, clusterBy = Seq("c_custkey"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(11L)) === 0L)
        .select((col("c_custkey") + 3000000L).as("c_custkey"), col("c_name"), col("bal")),
        bronze)
      drain() // tail poll
      require(VersionedTable.latestVersion(mirror).contains(1L),
        "the tail poll must land as exactly one more mirror commit")
      VersionedTable.read(s, mirror).orderBy("c_custkey")
    }),

    // -- CATALOG-ADDRESSED STREAMING (readStream.table / toTable) ----------
    // The Delta "stream table-to-table by NAME" ergonomics: both ends
    // resolve through the DSv2 catalog (V2TableWithV1Fallback bridges to
    // the versioned source/sink), snapshot batch + incremental tail, dest
    // committed exactly once per drain.
    "q_stream_table_mirror" -> ((s, d) => {
      val root = scratchDir("graft_ctmir")
      val (bronze, mirror, ckpt) = (root + "/bronze", root + "/mirror", root + "/ckpt")
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 1L)
        .repartitionByRange(4, col("c_custkey")), bronze)
      VersionedTable.commitAppend(s, c.limit(0), mirror) // declared, empty
      graft.catalog.GraftCatalog.register("ctmir_bronze", bronze)
      graft.catalog.GraftCatalog.register("ctmir_mirror", mirror)
      def drain(): Unit = {
        val q = s.readStream.table("graft.ctmir_bronze")
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft.ctmir_mirror")
        q.awaitTermination()
      }
      drain() // snapshot poll
      VersionedTable.commitAppend(s, c.where(pmod(col("c_custkey"), lit(2L)) === 0L), bronze)
      drain() // tail poll
      require(VersionedTable.latestVersion(mirror).contains(2L),
        "each drain must land as exactly one mirror commit")
      s.table("graft.ctmir_mirror").orderBy("c_custkey")
    }),

    // -- STREAMING MATERIALIZED VIEW ---------------------------------------
    // The Delta "streaming aggregate table" shape: a 4-file customer stream
    // lands micro-batch by micro-batch in a versioned bronze table (each
    // append carrying Delta-style (appId, batchId) txn idempotence), and
    // after every batch the gold aggregate folds forward incrementally —
    // O(batch) per refresh, the history never re-scanned. Run to
    // completion, the view must equal the oracle's one-shot recompute.
    "q_stream_matview" -> ((s, d) => {
      val root = scratchDir("graft_smv")
      val src  = root + "/src"
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal_dec"),
        col("c_acctbal").cast("double").as("bal"))
      c.repartition(4).write.parquet(src)
      graft.streaming.StreamingMatview.streamMatview(
        s, src, s.read.parquet(src).schema, root + "/table", root + "/view",
        Seq("c_custkey"), Seq("c_nationkey"), Seq("bal_dec"), Seq("bal"),
        root + "/ckpt", maxFilesPerTrigger = 1)
        .select(col("c_nationkey"), col("cnt"),
          col("sum_bal_dec").cast("double").as("bal_sum"),
          col("min_bal").as("bal_min"), col("max_bal").as("bal_max"))
        .orderBy("c_nationkey")
    }),

    // -- key-addressed DELETE (right-to-be-forgotten) ----------------------
    // Delta's key-set delete: a keys-only source MERGEd with WHEN MATCHED
    // THEN DELETE. File-grain copy-on-write — only the files holding doomed
    // keys are rewritten; oracle = the surviving-row filter.
    "q_delete_keys" -> ((s, d) => {
      val work = scratchDir("graft_delk") + "/t"
      val c = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      VersionedTable.commit(s, c, work)
      VersionedTable.commitMergeConditional(s, work,
        c.where(col("c_custkey") % 7 === 0).select("c_custkey"), Seq("c_custkey"),
        Seq(VersionedTable.WhenMatchedDelete(None)))
      VersionedTable.read(s, work)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    // -- CDC round trip: APPLY CHANGES INTO ---------------------------------
    // Change set = q_snapshot_diff's ops joined to the new values; applying
    // it to the OLD snapshot must reproduce the NEW snapshot exactly — the
    // oracle IS the new-snapshot definition (round-trip law).
    "q_apply_changes" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val newSnap = c.where(col("c_custkey") % 17 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 13 === 0, col("c_acctbal") + 50.0)
            .otherwise(col("c_acctbal")))
        .unionByName(c.where(col("c_custkey") % 29 === 0)
          .select((col("c_custkey") + 2000000L).as("c_custkey"),
            concat(col("c_name"), lit("_v2")).as("c_name"), col("c_acctbal")))
      val changes = Relational
        .snapshotDiff(c, newSnap, "c_custkey", Seq("c_name", "c_acctbal"))
        .join(newSnap, Seq("c_custkey"), "left_outer")
      Relational.applyChangeSet(c, changes, "c_custkey")
        .orderBy("c_custkey")
    }),

    // -- group-wise z-score feature standardization -------------------------
    // Exact decimal power sums → one double conversion → map-side z after
    // a broadcast stats join (no float aggregation anywhere).
    "q_zscore" -> ((s, d) =>
      Relational.zscoreNormalize(t(s, d, "lineitem"), "l_quantity", "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_returnflag"), col("l_quantity_z"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    // -- decontamination, the dropping side ---------------------------------
    // Score TRAIN docs by eval-gram overlap; kept = n_shared < 3. Same
    // one-pass gram window as q_decontaminate, roles reversed.
    "q_decontaminate_drop" -> ((s, d) =>
      TextAnalysis.decontaminateDrop(t(s, d, "documents"), "text", "doc_id",
          isEval = col("doc_id") % 10 === 0, n = 3, minShared = 3L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- fractional contamination severity (GPT-3 appendix-C measure) ------
    // Per train doc: share of its distinct 3-grams present in the eval
    // set. Gram totals are map-side (size of the shingle array, zero
    // shuffle); only Bloom-pruned hit candidates shuffle (exact confirm
    // join discards false positives) — result exact, oracle-checked.
    "q_contamination_frac" -> ((s, d) =>
      TextAnalysis.contaminationFraction(t(s, d, "documents"), "text", "doc_id",
          isEval = col("doc_id") % 10 === 0, n = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // -- leakage-safe grouped train/val split ------------------------------
    // Split by GROUP (site/domain), not by doc: near-duplicate pages from
    // one site must land on the same side or the val set leaks training
    // data (the classic eval-inflation bug). Same overflow-safe integer
    // hash as q_hash_split applied to the group key; the in-query gate
    // proves no domain straddles the split.
    "q_group_split" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .withColumn("domain", concat(lit("site"), (col("doc_id") % 20).cast("string")))
        .withColumn("split", Relational.hashSplitTag(col("doc_id") % 20, 80))
        .localCheckpoint(true) // two consumers: leakage gate + output
      val leaked = docs.groupBy("domain")
        .agg(countDistinct("split").as("n")).where(col("n") > 1).count()
      require(leaked == 0, s"group split leaked $leaked domains across sides")
      docs.select("doc_id", "domain", "split").orderBy("doc_id")
    }),

    // -- HTML → text extraction (crawl-corpus front door) ------------------
    // Deterministic HTML synthesized around each doc's text (script/style
    // with content, comments, entities, nested tags), then extracted with
    // the pure-Column regexp chain. Oracle runs the IDENTICAL chain in
    // DuckDB — char-for-char agreement across engines.
    "q_html_extract" -> ((s, d) =>
      t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), concat(
          lit("<html><head><style>p { color: red; }</style>" +
            "<script type=\"text/javascript\">if (1 < 2) { alert(\"x&y\"); }</script>" +
            "</head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1>\n<p>"), substring(col("text"), 1, 80),
          lit("</p><!-- hidden --> <div>tail &amp; more &lt;b&gt; &quot;q&quot;&nbsp;end</div></body></html>"))
          .as("html"))
        .select(col("doc_id"), TextAnalysis.htmlExtract(col("html")).as("clean"))
        .orderBy("doc_id")),

    // -- sentence segmentation (posexplode with stable ordinals) -----------
    // Regex in the Java∩RE2 subset (no lookbehind — RE2 lacks it): maximal
    // runs of non-terminators plus their trailing terminators, trimmed,
    // empties dropped. The fixture text carries no punctuation, so
    // terminators are synthesized deterministically first (the q_pii_scrub
    // pattern) — the split then produces real multi-sentence output.
    // Map-side generate; the ordinal is the in-doc position.
    "q_sentence_split" -> ((s, d) =>
      t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          replace(replace(replace(col("text"),
            lit("table"), lit("table.")),
            lit("fast"), lit("fast!")),
            lit("value"), lit("value?")).as("marked"))
        .select(col("doc_id"), posexplode(expr(
          "filter(transform(regexp_extract_all(marked, '[^.!?]+[.!?]*', 0), " +
            "x -> trim(x)), x -> x != '')")).as(Seq("sent_idx", "sentence")))
        .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"), col("sentence"))
        .orderBy("doc_id", "sent_idx")),

    // -- crawl-frontier URL canonicalization + dedup ------------------------
    // Four in-plan variants of each logical URL (case, tracking params,
    // param order, fragment, trailing slash); canonical forms collapse and
    // keep-min-id decides. Map-side regexp/HOF canonicalization; the only
    // shuffle carries (canonical, id).
    "q_url_canonical" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val base = concat(lit("Site"), (col("doc_id") % 20).cast("string"),
        lit(".Example.com/page/"), (col("doc_id") % 50).cast("string"))
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://"), base, lit("?utm_source=x&b=2&a=1#frag")))
        .when(col("doc_id") % 4 === 1, concat(lit("http://"), base, lit("/?a=1&b=2")))
        .when(col("doc_id") % 4 === 2, concat(lit("http://"), base, lit("?b=2&a=1&gclid=zz")))
        .otherwise(concat(lit("http://"), base, lit("#section")))
      docs.select(col("doc_id"), TextAnalysis.canonicalizeUrl(url).as("canonical"))
        .withColumn("keep",
          (col("doc_id") === min("doc_id").over(Window.partitionBy("canonical"))).cast("long"))
        .orderBy("doc_id")
    }),

    // -- within-doc line dedup (C4 page hygiene) ----------------------------
    // Pages planted with repeated lines; array_distinct keeps the first
    // occurrence in order, the oracle reconstructs via MIN(pos) per line.
    "q_dedup_doc_lines" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val paged = docs.select(col("doc_id"), concat(
        col("text").substr(1, 30), lit("\nfollow us on social media\n"),
        col("text").substr(1, 30), lit("\n"),
        col("text").substr(31, 30), lit("\nfollow us on social media")).as("text"))
      paged.select(col("doc_id"),
          TextAnalysis.dedupDocLines(col("text")).as("clean"))
        .orderBy("doc_id")
    }),

    // -- SQL entry surface: the IDENTICAL text runs on both engines --------
    // (graft.Sql views + spark.sql on this side, DuckDB as the oracle)
    "q_sql_group_agg" -> ((s, d) => graft.Sql.run(s, d, SqlTextQueries("q_sql_group_agg"))),
    "q_sql_window_rank" -> ((s, d) => graft.Sql.run(s, d, SqlTextQueries("q_sql_window_rank"))),
    "q_sql_mjoin_topk" -> ((s, d) => graft.Sql.run(s, d, SqlTextQueries("q_sql_mjoin_topk")))
  )

  /** Shared text for q_corr_subquery: the SAME SQL runs in Spark and DuckDB
    * (ANSI-portable correlated scalar subqueries). */
  private val corrSubquerySql: String =
    "SELECT c_custkey, c_name, " +
      "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders, " +
      "(SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price " +
      "FROM customer c ORDER BY c_custkey"

  // =====================================================================
  // Oracle SQL (DuckDB 1.0.0) — names and arithmetic order mirror the
  // Spark side exactly (driver hash-compares after sorting columns by name).
  // =====================================================================

  private val tokensSql  = "string_split_regex(trim(lower(text)), '\\s+')"
  private val stopInList = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString(", ")

  /** DuckDB replica of `Dedup.wordShingles(_, n)` over a token-list column
    * named `tk`: start positions 1..greatest(len-(n-1),1), final shingle
    * truncated on short texts, distinct — ONE definition shared by every
    * shingle-consuming oracle (near-drop, corpus-prep, decontaminate) so
    * the engines can't drift on what an n-gram is. */
  private def shinglesSql(n: Int): String =
    s"list_distinct(list_transform(range(1, greatest(len(tk)-${n - 1},1)+1), " +
      s"i -> array_to_string(tk[i:least(i+${n - 1}, len(tk))], ' ')))"

  /** Shared CTE prefix of the ExactSubstr span oracles (`q_dup_spans`,
    * `q_dedup_spans`): positioned strided 32/16 windows → cross-doc
    * duplicated window set → hit intervals → merged islands `m(doc_id,
    * span_start, span_end)`. One definition so geometry and removal can't
    * drift on what a duplicate span is. */
  private val dupSpanCte: String =
    "WITH wins AS (SELECT doc_id, u.s AS start, u.w AS win FROM (" +
      "SELECT doc_id, unnest(list_transform(range((len(text) - 32) // 16 + 1), " +
      "p -> {'s': p * 16, 'w': substr(text, CAST(p * 16 + 1 AS INTEGER), 32)})) AS u " +
      "FROM documents WHERE text IS NOT NULL AND len(text) >= 32) z), " +
      "dupw AS (SELECT win FROM (SELECT win, COUNT(DISTINCT doc_id) AS df " +
      "FROM wins GROUP BY win) y WHERE df > 1), " +
      "hits AS (SELECT doc_id, start, start + 32 AS e FROM wins " +
      "WHERE win IN (SELECT win FROM dupw)), " +
      "isl AS (SELECT doc_id, start, e, CASE WHEN start > COALESCE(MAX(e) OVER " +
      "(PARTITION BY doc_id ORDER BY start ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) " +
      "THEN 1 ELSE 0 END AS brk FROM hits), " +
      "m AS (SELECT doc_id, CAST(MIN(start) AS BIGINT) AS span_start, " +
      "CAST(MAX(e) AS BIGINT) AS span_end FROM " +
      "(SELECT doc_id, start, e, SUM(brk) OVER " +
      "(PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS g FROM isl) x " +
      "GROUP BY doc_id, g) "

  /** Ground truth for BOTH decontamination plans (`q_decontaminate` exact
    * one-pass window; `q_decontaminate_bloom` Bloom-prefilter + exact
    * confirm) — the two are contractually bit-identical, so they share one
    * oracle definition. */
  private def decontaminateSql: String =
    "WITH toks AS (SELECT doc_id, doc_id % 10 = 0 AS is_eval, " +
      s"$tokensSql AS tk FROM documents WHERE text IS NOT NULL), " +
      s"grams AS (SELECT doc_id, is_eval, unnest(${shinglesSql(3)}) AS gram FROM toks), " +
      "train AS (SELECT DISTINCT gram FROM grams WHERE NOT is_eval), " +
      "eg AS (SELECT DISTINCT doc_id, gram FROM grams WHERE is_eval), " +
      "sh AS (SELECT doc_id, COUNT(*) AS n_shared FROM eg " +
      "WHERE EXISTS (SELECT 1 FROM train WHERE train.gram = eg.gram) GROUP BY doc_id), " +
      "ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM eg GROUP BY doc_id) " +
      "SELECT ng.doc_id AS doc_id, ng.n_grams AS n_grams, " +
      "COALESCE(sh.n_shared, 0) AS n_shared, " +
      "CAST(COALESCE(sh.n_shared, 0) > 0 AS BIGINT) AS contaminated " +
      "FROM ng LEFT JOIN sh USING (doc_id) ORDER BY doc_id"

  /** DuckDB expression replica of `TextAnalysis.qualityScore` over a column
    * named `text` — shared by `q_quality_score` and the end-to-end
    * `q_corpus_prep` oracle so the two can't drift. Both engines round to 6
    * decimals, so threshold comparisons against the score agree bit-wise. */
  private def qualityExprSql: String =
    s"ROUND(LEAST(CAST(len($tokensSql) AS DOUBLE) / 100.0, 1.0) * 0.4 + " +
      s"(1.0 - (CASE WHEN len(regexp_replace(lower(text), '\\s', '', 'g')) = 0 THEN 0.0 " +
      s"ELSE CAST(len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / " +
      s"CAST(len(regexp_replace(lower(text), '\\s', '', 'g')) AS DOUBLE) END)) * 0.3 + " +
      s"LEAST((CASE WHEN len($tokensSql) = 0 THEN 0.0 " +
      s"ELSE CAST(len(list_filter($tokensSql, w -> w IN ($stopInList))) AS DOUBLE) / " +
      s"CAST(len($tokensSql) AS DOUBLE) END) * 5.0, 1.0) * 0.3, 6)"

  def oracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |'A' AS tag, CAST(l_quantity AS BIGINT) AS qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, qty""".stripMargin.replace("\n", " "),

    "q_filter_pushdown" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_quantity < 10 AND l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1998-01-01' " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity"),

    "q_regexp_extract" ->
      ("SELECT doc_id, regexp_extract(text, 'the ([a-z]+)', 1) AS after_the, " +
        "CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT) AS src_num " +
        "FROM documents ORDER BY doc_id"),

    "q_string_replace_json" ->
      ("SELECT event_id, epoch_us(ts) AS ts_us, " +
        "replace(event_type, 'click', 'tap') AS etype, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val " +
        "FROM events ORDER BY event_id"),

    "q_distinct_labels" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",

    "q_count_distinct" ->
      "SELECT COUNT(*) AS n_rows, COUNT(DISTINCT c_mktsegment) AS n_segments FROM customer",

    "q_label_index" ->
      ("SELECT doc_id, lang, CAST(DENSE_RANK() OVER (ORDER BY lang) - 1 AS BIGINT) AS label_index " +
        "FROM documents ORDER BY doc_id"),

    "q_join_leftouter" ->
      ("SELECT l_orderkey, l_linenumber, o_orderstatus, o_totalprice " +
        "FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey " +
        "ORDER BY l_orderkey, l_linenumber"),

    "q_join_inner_multi" ->
      ("SELECT c_custkey, c_name, n_name, r_name FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey ORDER BY c_custkey"),

    "q_group_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty, " +
        "CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_rev, " +
        "COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS avg_qty, " +
        "MIN(l_discount) AS min_disc, MAX(l_extendedprice) AS max_price " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    "q_grouped_map" ->
      ("SELECT event_id, event_type, value - MIN(value) OVER (PARTITION BY event_type) AS value_rebased " +
        "FROM events ORDER BY event_id"),

    "q_window_rank" ->
      ("SELECT * FROM (SELECT o_orderkey, o_custkey, o_totalprice, " +
        "RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk " +
        "FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey"),

    "q_topk" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),

    "q_struct_nested" ->
      ("SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS priority " +
        "FROM orders ORDER BY o_orderkey"),

    "q_union_schema" ->
      ("SELECT p_partkey, p_name, CAST(NULL AS VARCHAR) AS p_brand, CAST(NULL AS DOUBLE) AS p_retailprice FROM part " +
        "UNION ALL " +
        "SELECT p_partkey, CAST(NULL AS VARCHAR) AS p_name, p_brand, p_retailprice FROM part " +
        "ORDER BY p_partkey, p_name NULLS FIRST"),

    "q_argmax_round" ->
      ("SELECT vec_id, CAST(list_position(embedding, list_max(embedding)) - 1 AS BIGINT) AS argmax_idx, " +
        "ROUND(CAST(list_max(embedding) AS DOUBLE), 3) AS max_val " +
        "FROM embeddings ORDER BY vec_id"),

    "q_dedup_exact" ->
      // WHERE text IS NOT NULL mirrors exactGroups' null discipline (a null
      // text can't duplicate anything; without the filter, sha256(null)=null
      // would form one spurious all-nulls group)
      ("SELECT sha256(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_dup " +
        "FROM documents WHERE text IS NOT NULL GROUP BY content_hash ORDER BY content_hash"),

    "q_text_stats" ->
      (s"SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
        s"CAST(SUM(len($tokensSql)) AS BIGINT) AS total_tokens " +
        "FROM documents GROUP BY lang ORDER BY lang"),

    "q_token_count" ->
      (s"SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens FROM documents ORDER BY doc_id"),

    "q_quality_score" ->
      s"SELECT doc_id, $qualityExprSql AS quality FROM documents ORDER BY doc_id",

    "q_chunk_docs" ->
      ("SELECT doc_id, i AS chunk_idx, CAST(len(substr(text, CAST(i AS INT) * 200 + 1, 256)) AS BIGINT) AS chunk_len " +
        "FROM documents, UNNEST(range(0, GREATEST(CAST(ceil(len(text) / 200.0) AS BIGINT), 1))) AS t(i) " +
        "ORDER BY doc_id, chunk_idx"),

    "q_hash_split" ->
      // pmod-style arithmetic mirroring Relational.hashSplitTag: the prime
      // pre-mod keeps the product < 2^52 for any long id (overflow-safe)
      ("SELECT doc_id, CASE WHEN ((doc_id % 1000003 + 1000003) % 1000003 * 2654435761) % 100 < 80 " +
        "THEN 'train' ELSE 'val' END AS split " +
        "FROM documents ORDER BY doc_id"),

    "q_fingerprint" ->
      (s"SELECT doc_id, sha256(array_to_string(list_sort(list_distinct($tokensSql)), ' ')) AS fp " +
        "FROM documents ORDER BY doc_id"),

    "q_winnow" -> {
      // constants GENERATED from TextAnalysis.winnowPowers so the gram-hash
      // weights can't drift between engines; ord(substr) ≡ the kernel's
      // charAt on the all-ASCII fixtures (the kernel itself is BMP-correct).
      // Window-min selection + i >= w emission + DISTINCT replay the
      // kernel's trailing-window rule exactly.
      val k = 8; val w = 16
      val powers = graft.operators.TextAnalysis.winnowPowers(k).mkString(", ")
      val M = graft.operators.TextAnalysis.WinnowMod
      val cap = graft.operators.TextAnalysis.WinnowPosCap
      s"WITH t AS (SELECT doc_id, lower(text) AS t FROM documents " +
        s"WHERE text IS NOT NULL AND len(lower(text)) - $k + 1 >= $w), " +
        s"g AS (SELECT doc_id, i, CAST(list_sum(list_transform(range($k), " +
        s"j -> CAST(ord(substr(t, CAST(i + j AS INT), 1)) AS BIGINT) * ([$powers])[j + 1])) % $M AS BIGINT) AS h " +
        s"FROM t, UNNEST(range(1, len(t) - $k + 2)) AS r(i)), " +
        s"k2 AS (SELECT doc_id, i, h * $cap + (i - 1) AS key FROM g), " +
        s"sel AS (SELECT doc_id, i, MIN(key) OVER (PARTITION BY doc_id ORDER BY i " +
        s"ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS skey FROM k2), " +
        s"fp AS (SELECT DISTINCT doc_id, skey FROM sel WHERE i >= $w), " +
        "cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM fp GROUP BY doc_id), " +
        s"dh AS (SELECT DISTINCT doc_id, skey // $cap AS fph FROM fp), " +
        "sh AS (SELECT fph FROM dh GROUP BY fph HAVING COUNT(*) > 1), " +
        "ns AS (SELECT doc_id, COUNT(*) AS n_shared FROM dh JOIN sh USING (fph) GROUP BY doc_id) " +
        "SELECT c.doc_id, c.n_fp, CAST(COALESCE(ns.n_shared, 0) AS BIGINT) AS n_shared " +
        "FROM cnt c LEFT JOIN ns ON c.doc_id = ns.doc_id ORDER BY c.doc_id"
    },

    "q_pack_sequences" ->
      // chunk construction mirrors q_chunk_docs (128/128); seq_idx is the
      // stride-fill rule: integer division of the tokens-before running sum
      ("WITH chunks AS (SELECT doc_id, i AS chunk_idx, " +
        "substr(text, CAST(i AS INT) * 128 + 1, 128) AS chunk " +
        "FROM documents, UNNEST(range(0, GREATEST(CAST(ceil(len(text) / 128.0) AS BIGINT), 1))) AS t(i) " +
        "WHERE text IS NOT NULL), " +
        "tk AS (SELECT doc_id, chunk_idx, " +
        "CAST(len(string_split_regex(trim(lower(chunk)), '\\s+')) AS BIGINT) AS n_tokens FROM chunks), " +
        "cum AS (SELECT doc_id, chunk_idx, n_tokens, " +
        "SUM(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_idx ROWS UNBOUNDED PRECEDING) AS cum FROM tk) " +
        "SELECT doc_id, CAST((cum - n_tokens) // 32 AS BIGINT) AS seq_idx, " +
        "COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens " +
        "FROM cum GROUP BY doc_id, seq_idx ORDER BY doc_id, seq_idx"),

    "q_decontaminate" -> decontaminateSql,

    // the Bloom variant is contractually bit-identical to the exact plan —
    // ONE oracle definition keeps the two from drifting
    "q_decontaminate_bloom" -> decontaminateSql,

    "q_mixture_sample" ->
      // rate arithmetic ordered exactly as Relational.mixtureSample builds
      // it ((c * w) / n, counts cast to DOUBLE before the division), so the
      // derived doubles — and hence the kept row set — are bit-identical
      ("WITH counts AS (SELECT lang AS s, CAST(COUNT(*) AS DOUBLE) AS n, " +
        "CASE WHEN lang = 'de' THEN 1.0 WHEN lang = 'en' THEN 3.0 WHEN lang = 'zh' THEN 1.0 END AS w " +
        "FROM documents WHERE lang IN ('de','en','zh') GROUP BY lang), " +
        "mn AS (SELECT MIN(n / w) AS c FROM counts), " +
        "rates AS (SELECT s, (mn.c * w / n) AS rate FROM counts, mn) " +
        "SELECT doc_id, lang FROM documents d JOIN rates ON d.lang = rates.s " +
        "WHERE CAST(((doc_id % 1000003 + 1000003) % 1000003 * 2654435761) % 1000000 AS DOUBLE) " +
        "< rate * 1000000.0 ORDER BY doc_id"),

    "q_shuffle_order" ->
      // same overflow-safe pmod chain as Relational.deterministicShuffle;
      // the row ORDER is the payload here — the hash covers it
      ("SELECT doc_id, (((doc_id % 1000003 + 1000003) % 1000003 + 7) % 1000003) " +
        "* 2654435761 % 1000000 AS shuffle_key " +
        "FROM documents ORDER BY shuffle_key, doc_id"),

    "q_vocab_build" ->
      ("WITH tok AS (SELECT unnest(" + tokensSql + ") AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM tok WHERE token <> '' " +
        "GROUP BY token HAVING COUNT(*) >= 5) " +
        "SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS vocab_id " +
        "FROM cnt ORDER BY vocab_id"),

    "q_heavy_hitters" ->
      // brute force IS the oracle: the MG sketch on the engine side only
      // prunes candidates, never changes the answer
      ("WITH tok AS (SELECT unnest(" + tokensSql + ") AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "ne AS (SELECT token FROM tok WHERE token <> '') " +
        "SELECT token, COUNT(*) AS n FROM ne GROUP BY token " +
        "HAVING CAST(COUNT(*) AS DOUBLE) > 0.002 * (SELECT CAST(COUNT(*) AS DOUBLE) FROM ne) " +
        "ORDER BY token"),

    "q_countmin_heavy" ->
      // the CMS filter never drops a true heavy (one-sided error) and the
      // exact confirm drops every collision — plain HAVING is the oracle
      ("SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey " +
        "HAVING COUNT(*) >= 18 ORDER BY o_custkey"),

    // round-trips: the oracle reads the ORIGINAL parquet — equality means
    // the text-format hop lost nothing
    "q_csv_roundtrip" ->
      "SELECT * FROM orders ORDER BY o_orderkey",

    "q_json_roundtrip" ->
      "SELECT * FROM customer ORDER BY c_custkey",

    "q_dedup_chunks" ->
      // chunk construction mirrors q_chunk_docs (16/16); first occurrence =
      // min (doc_id, chunk_idx) per chunk VALUE (hash-grouping in the engine,
      // value-grouping here — sha256 is injective for the comparison's
      // purposes, and grouping by value directly is the simpler oracle)
      ("WITH ch AS (SELECT doc_id, i AS chunk_idx, " +
        "substr(text, CAST(i AS INT) * 16 + 1, 16) AS chunk " +
        "FROM documents, UNNEST(range(0, GREATEST(CAST(ceil(len(text) / 16.0) AS BIGINT), 1))) AS t(i) " +
        "WHERE text IS NOT NULL), " +
        "kept AS (SELECT doc_id, chunk_idx, chunk FROM " +
        "(SELECT doc_id, chunk_idx, chunk, ROW_NUMBER() OVER " +
        "(PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn FROM ch) WHERE rn = 1) " +
        "SELECT doc_id, COUNT(*) AS n_kept, CAST(SUM(len(chunk)) AS BIGINT) AS kept_chars, " +
        "string_agg(chunk, '' ORDER BY chunk_idx) AS text " +
        "FROM kept GROUP BY doc_id ORDER BY doc_id"),

    "q_dedup_incremental" ->
      // history = hashes of docs 0..249; batch = docs 250+ plus every 7th
      // doc re-submitted under id+10000; survivor = min-id per within-batch
      // text group whose hash is absent from history
      ("WITH prior AS (SELECT sha256(text) AS h FROM documents " +
        "WHERE doc_id < 250 AND text IS NOT NULL), " +
        "batch AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 250 " +
        "UNION ALL SELECT doc_id + 10000, text, n_chars FROM documents WHERE doc_id % 7 = 0), " +
        "keyed AS (SELECT sha256(text) AS h, MIN(doc_id) AS doc_id FROM batch " +
        "WHERE text IS NOT NULL GROUP BY sha256(text)), " +
        "kept AS (SELECT doc_id FROM keyed WHERE NOT EXISTS " +
        "(SELECT 1 FROM prior WHERE prior.h = keyed.h)) " +
        "SELECT b.doc_id, CAST(b.n_chars AS BIGINT) AS n_chars " +
        "FROM batch b JOIN kept USING (doc_id) ORDER BY doc_id"),

    "q_knn_join" ->
      // rank over the ROUNDED cosine with id tie-break — the order is a
      // function of values both engines agree on bit-exactly
      ("WITH p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, " +
        "ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id) " +
        "SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos FROM " +
        "(SELECT vec_id, neighbor_id, cos, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank " +
        "FROM p WHERE NOT isnan(cos) AND cos IS NOT NULL) " +
        "WHERE rank <= 5 ORDER BY vec_id, rank"),

    "q_hard_negatives" ->
      // q_knn_join's oracle with the cross-label predicate: rank over the
      // ROUNDED cosine with id tie-break, self and same-label pairs excluded
      ("WITH p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, " +
        "ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id " +
        "AND a.label IS NOT NULL AND b.label IS NOT NULL AND a.label <> b.label) " +
        "SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos FROM " +
        "(SELECT vec_id, neighbor_id, cos, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank " +
        "FROM p WHERE NOT isnan(cos) AND cos IS NOT NULL) " +
        "WHERE rank <= 5 ORDER BY vec_id, rank"),

    "q_knn_join_ivf" ->
      // centroids = vectors 0..7 (deterministic data, not learned) so the
      // cell assignment replays exactly: build side takes its single nearest
      // centroid (raw cosine, lowest cid on ties — matching argmax's
      // first-occurrence rule), probe side its 2 nearest; candidates meet
      // through shared cells and re-rank like q_knn_join
      ("WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings), " +
        "sims AS (SELECT v.vec_id, c.cid, list_cosine_similarity(ev, cv) AS s FROM v, c), " +
        "ranked AS (SELECT vec_id, cid, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sims), " +
        "build AS (SELECT vec_id AS neighbor_id, cid FROM ranked WHERE rn = 1), " +
        "probe AS (SELECT vec_id, cid FROM ranked WHERE rn <= 2), " +
        "cand AS (SELECT DISTINCT p.vec_id, b.neighbor_id FROM probe p " +
        "JOIN build b USING (cid) WHERE p.vec_id <> b.neighbor_id), " +
        "scored AS (SELECT cand.vec_id, cand.neighbor_id, " +
        "ROUND(list_cosine_similarity(va.ev, vb.ev), 6) AS cos FROM cand " +
        "JOIN v va ON va.vec_id = cand.vec_id JOIN v vb ON vb.vec_id = cand.neighbor_id) " +
        "SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos FROM " +
        "(SELECT vec_id, neighbor_id, cos, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank " +
        "FROM scored WHERE NOT isnan(cos) AND cos IS NOT NULL) " +
        "WHERE rank <= 5 ORDER BY vec_id, rank"),

    "q_ivf_build" ->
      // the index's per-cell histogram: assignment = argmax cosine against
      // the deterministic centroids (vectors 0..7), lowest cid on ties —
      // the q_knn_join_ivf assignment CTE, aggregated
      ("WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings), " +
        "sims AS (SELECT v.vec_id, c.cid, list_cosine_similarity(ev, cv) AS s FROM v, c), " +
        "ranked AS (SELECT vec_id, cid, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sims) " +
        "SELECT cid AS ivf_cell, COUNT(*) AS n FROM ranked WHERE rn = 1 " +
        "GROUP BY 1 ORDER BY 1"),

    "q_similarity_ivf" ->
      // pruned probe replay: the 3 cells nearest the query vector (vec 0),
      // then the exact in-cell top-20 by rounded cosine, id tie-break —
      // byte-for-byte the probeIvfIndex contract
      ("WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
        "cellrank AS (SELECT c.cid, ROW_NUMBER() OVER " +
        "(ORDER BY list_cosine_similarity(qv, cv) DESC, cid) AS crn FROM c, q), " +
        "sims AS (SELECT v.vec_id, c.cid, list_cosine_similarity(ev, cv) AS s FROM v, c), " +
        "assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sims) WHERE rn = 1), " +
        "scored AS (SELECT a.vec_id, ROUND(list_cosine_similarity(v.ev, q.qv), 6) AS cos " +
        "FROM assign a JOIN (SELECT cid FROM cellrank WHERE crn <= 3) p USING (cid) " +
        "JOIN v ON v.vec_id = a.vec_id, q) " +
        "SELECT vec_id, cos FROM scored WHERE NOT isnan(cos) AND cos IS NOT NULL " +
        "ORDER BY cos DESC, vec_id LIMIT 20"),

    "q_ivf_append" ->
      // the appended index ≡ the full corpus assigned to the BASE
      // centroids (even vectors below 16) — the in-query require proves
      // that equivalence against the live index; this replays the direct
      // scan, so the probe output is hash-checked end to end
      ("WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id < 16 AND vec_id % 2 = 0), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
        "cellrank AS (SELECT c.cid, ROW_NUMBER() OVER " +
        "(ORDER BY list_cosine_similarity(qv, cv) DESC, cid) AS crn FROM c, q), " +
        "sims AS (SELECT v.vec_id, c.cid, list_cosine_similarity(ev, cv) AS s FROM v, c), " +
        "assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sims) WHERE rn = 1), " +
        "scored AS (SELECT a.vec_id, ROUND(list_cosine_similarity(v.ev, q.qv), 6) AS cos " +
        "FROM assign a JOIN (SELECT cid FROM cellrank WHERE crn <= 3) p USING (cid) " +
        "JOIN v ON v.vec_id = a.vec_id, q) " +
        "SELECT vec_id, cos FROM scored WHERE NOT isnan(cos) AND cos IS NOT NULL " +
        "ORDER BY cos DESC, vec_id LIMIT 20"),

    "q_lm_score" ->
      // hits and both denominator factors are exact integers; the one double
      // division is correctly rounded in both engines (no ln — SURVEY §5)
      ("WITH g AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram FROM " +
        "(SELECT doc_id, trim(lower(text)) AS t FROM documents " +
        "WHERE text IS NOT NULL AND len(trim(text)) > 0), " +
        "UNNEST(range(1, GREATEST(len(t) - 2, 1) + 1)) AS r(i)), " +
        "lm AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram), " +
        "tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM lm), " +
        "doc AS (SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(cnt) AS BIGINT) AS hits " +
        "FROM g JOIN lm USING (gram) GROUP BY doc_id) " +
        "SELECT doc_id, n_grams, hits, " +
        "CAST(hits AS DOUBLE) / CAST(n_grams * total AS DOUBLE) AS lm_score " +
        "FROM doc, tot ORDER BY doc_id"),

    "q_salted_join" ->
      // the salted plan's contract: result == the plain inner join
      ("SELECT o_orderpriority, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_stratified_sample" ->
      // same overflow-safe pmod arithmetic as q_hash_split; CASE order is
      // irrelevant (strata are disjoint), null lang falls to the default
      ("SELECT doc_id, lang FROM documents " +
        "WHERE ((doc_id % 1000003 + 1000003) % 1000003 * 2654435761) % 100 < " +
        "CASE WHEN lang = 'en' THEN 60 WHEN lang = 'de' THEN 30 ELSE 10 END " +
        "ORDER BY doc_id"),

    "q_pii_scrub" -> {
      // the redaction chain is GENERATED from TextAnalysis.piiPatterns, so
      // the two engines can never disagree on pattern text or order
      val input = "concat(substr(text,1,40), ' mail u', CAST(doc_id AS VARCHAR), " +
        "'@ex.org tel 555-01', CAST(doc_id % 100 AS VARCHAR), " +
        "' ip 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7 end')"
      // DuckDB single-quoted literals process no backslash escapes, so the
      // Java pattern text passes through verbatim; only ' needs doubling
      val scrubbed = TextAnalysis.piiPatterns.foldLeft(input) { case (acc, (p, r)) =>
        s"regexp_replace($acc, '${p.replace("'", "''")}', '$r', 'g')"
      }
      s"SELECT doc_id, $scrubbed AS scrubbed FROM documents " +
        "WHERE text IS NOT NULL ORDER BY doc_id"
    },

    "q_repetition_ratio" ->
      // gram construction mirrors TextAnalysis.repetitionRatio(gramWidth=2):
      // positions 1..greatest(len-1,1), final gram truncated on 1-token texts
      (s"WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sh AS (SELECT doc_id, list_transform(range(1, greatest(len(tk)-1,1)+1), " +
        "i -> array_to_string(tk[i:least(i+1, len(tk))], ' ')) AS grams FROM toks) " +
        "SELECT doc_id, CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / " +
        "CAST(len(grams) AS DOUBLE) AS rep_ratio FROM sh ORDER BY doc_id"),

    "q_vector_norm" ->
      // raw IEEE sqrt of the sequential double fold — identical operation
      // order to VectorFunctions.dot, so the doubles are bit-identical
      ("SELECT vec_id, sqrt(list_aggregate(list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS l2 " +
        "FROM embeddings ORDER BY vec_id"),

    "q_int8_quantize" ->
      // floor (not round): identical semantics across engines
      ("WITH m AS (SELECT vec_id, embedding, " +
        "list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS mx " +
        "FROM embeddings) " +
        "SELECT vec_id, " +
        "CAST(floor(CAST(embedding[1] AS DOUBLE) * 127.0 / mx) AS BIGINT) AS q0, " +
        "CAST(floor(CAST(embedding[2] AS DOUBLE) * 127.0 / mx) AS BIGINT) AS q1, " +
        "CAST(len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) = mx)) AS BIGINT) AS n_sat " +
        "FROM m WHERE mx > 0 ORDER BY vec_id"),

    "q_ngram_jaccard" ->
      (s"SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        s"ROUND(CASE WHEN len(list_distinct(list_concat(list_distinct(string_split_regex(trim(lower(a.text)), '\\s+')), list_distinct(string_split_regex(trim(lower(b.text)), '\\s+'))))) = 0 THEN 0.0 " +
        s"ELSE CAST(len(list_intersect(list_distinct(string_split_regex(trim(lower(a.text)), '\\s+')), list_distinct(string_split_regex(trim(lower(b.text)), '\\s+')))) AS DOUBLE) / " +
        s"CAST(len(list_distinct(list_concat(list_distinct(string_split_regex(trim(lower(a.text)), '\\s+')), list_distinct(string_split_regex(trim(lower(b.text)), '\\s+'))))) AS DOUBLE) END, 6) AS jaccard " +
        "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 ORDER BY id_a"),

    "q_resample_ffill" ->
      // pmod-shifted floor-div bucketing (exact: the numerator is an exact
      // interval multiple), ROW_NUMBER argmax with the same NULLS LAST tie
      // order, IGNORE NULLS running fill — value passes through with no
      // arithmetic, so doubles hash-match verbatim
      ("WITH e AS (SELECT user_id, epoch_ns(ts) AS tn, value FROM events " +
        "WHERE user_id % 100 = 0 AND ts IS NOT NULL AND user_id IS NOT NULL), " +
        "b AS (SELECT user_id, (tn - ((tn % 3600000000000) + 3600000000000) % 3600000000000) // 3600000000000 AS bucket, tn, value FROM e), " +
        "lastv AS (SELECT user_id, bucket, value FROM (SELECT user_id, bucket, value, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id, bucket ORDER BY tn DESC, value DESC NULLS LAST) AS rn FROM b) WHERE rn = 1), " +
        "span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b GROUP BY user_id), " +
        "grid AS (SELECT span.user_id, r.bucket FROM span, UNNEST(range(b0, b1 + 1)) AS r(bucket)), " +
        "j AS (SELECT g.user_id, g.bucket, l.value AS v, " +
        "CASE WHEN l.user_id IS NULL THEN 1 ELSE 0 END AS was_gap " +
        "FROM grid g LEFT JOIN lastv l ON l.user_id = g.user_id AND l.bucket = g.bucket) " +
        "SELECT user_id, CAST(bucket * 3600000000000 AS BIGINT) AS bucket_ns, " +
        "LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value, " +
        "CAST(was_gap AS BIGINT) AS was_gap FROM j ORDER BY user_id, bucket_ns"),

    "q_ranking_metrics" ->
      // lcm(1..10) = 2520: ap terms are exact integers in both engines;
      // the ROUND(…, 6) divisions are single correctly-rounded double ops
      ("WITH qids AS (SELECT DISTINCT o_custkey AS qid FROM orders WHERE o_custkey % 50 = 0), " +
        "truth AS (SELECT DISTINCT o_custkey AS qid, l_partkey AS item FROM orders " +
        "JOIN lineitem ON o_orderkey = l_orderkey WHERE o_custkey % 50 = 0), " +
        "nrel AS (SELECT qid, COUNT(*) AS n_rel FROM truth GROUP BY qid), " +
        "cand AS (SELECT q.qid, p.p_partkey AS item, (q.qid * 31 + p.p_partkey * 7) % 97 AS score " +
        "FROM qids q, part p WHERE p.p_partkey % 7 = 0), " +
        "res AS (SELECT qid, item, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score, item) AS rank FROM cand), " +
        "top AS (SELECT r.qid, r.rank, CASE WHEN t.item IS NULL THEN 0 ELSE 1 END AS rel " +
        "FROM res r LEFT JOIN truth t ON t.qid = r.qid AND t.item = r.item WHERE r.rank <= 10), " +
        "sc AS (SELECT qid, rank, rel, SUM(rel) OVER (PARTITION BY qid ORDER BY rank) AS hits_r FROM top), " +
        "ag AS (SELECT qid, CAST(SUM(rel) AS BIGINT) AS n_hits, " +
        "CAST(SUM(rel * hits_r * (2520 // rank)) AS BIGINT) AS ap_num, " +
        "MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel FROM sc GROUP BY qid), " +
        "resq AS (SELECT DISTINCT qid FROM res) " +
        "SELECT n.qid, n.n_rel, COALESCE(a.n_hits, 0) AS n_hits, " +
        "ROUND(CAST(COALESCE(a.n_hits, 0) AS DOUBLE) / 10, 6) AS p_at_k, " +
        "ROUND(CAST(COALESCE(a.n_hits, 0) AS DOUBLE) / CAST(n.n_rel AS DOUBLE), 6) AS r_at_k, " +
        "ROUND(COALESCE(1.0 / CAST(a.first_rel AS DOUBLE), 0.0), 6) AS rr, " +
        "ROUND(CAST(COALESCE(a.ap_num, 0) AS DOUBLE) / CAST(LEAST(n.n_rel, 10) * 2520 AS DOUBLE), 6) AS ap " +
        "FROM nrel n JOIN resq USING (qid) LEFT JOIN ag a USING (qid) ORDER BY n.qid"),

    "q_jaccard_join" ->
      // FULL brute force — every pair, exact integer-rational threshold
      // (i·10⁶ ≥ u·num), the same shinglesSql definition as the other
      // shingle oracles. The engine's prefix-filtered plan must reproduce
      // this exactly: pruning that loses a pair fails the hash.
      (s"WITH tkt AS (SELECT doc_id, $tokensSql AS tk FROM documents WHERE text IS NOT NULL), " +
        s"s AS (SELECT doc_id, ${shinglesSql(2)} AS toks FROM tkt), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS i, " +
        "CAST(len(list_distinct(a.toks || b.toks)) AS BIGINT) AS u " +
        "FROM s a JOIN s b ON a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / CAST(u AS DOUBLE), 6) AS jaccard " +
        "FROM p WHERE i * 1000000 >= u * 800000 AND u > 0 ORDER BY id_a, id_b"),

    "q_json_map" ->
      // fixture props carry exactly one key ('k'); DuckDB 1.0 lacks
      // json_each, so the oracle enumerates that key explicitly. A null or
      // unparseable props row must yield a NULL key/value (explode_outer on
      // the Spark side emits one null row) — hence the json_valid guard and
      // NULLS FIRST, matching Spark's asc_nulls_first default.
      ("SELECT event_id, CASE WHEN json_valid(props) THEN 'k' END AS key, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS value " +
        "FROM events ORDER BY event_id, key NULLS FIRST"),

    "q_levenshtein" ->
      ("SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(levenshtein(a.source, b.source) AS BIGINT) AS edit_dist " +
        "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 ORDER BY id_a"),

    // Brute-force ground truth for the LSH near-dedup: all-pairs exact
    // word-BIGRAM Jaccard >= 0.8, drop the larger id of every qualifying
    // pair (the one-pass keep-first rule of Dedup.dropNearDuplicates).
    // Shingle construction = shinglesSql(2) (mirrors Dedup.shingleSetKernel:
    // Spark-split token list with kept trailing empties, truncated final
    // shingle, distinct). Null-text docs pair with nothing and survive.
    "q_dedup_near_drop" ->
      (s"WITH toks AS (SELECT doc_id, $tokensSql AS tk " +
        "FROM documents WHERE text IS NOT NULL), " +
        s"sh AS (SELECT doc_id, ${shinglesSql(2)} AS ts FROM toks), " +
        "drops AS (SELECT DISTINCT b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE (CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS DOUBLE)) >= 0.8) " +
        "SELECT d.doc_id, d.lang FROM documents d " +
        "WHERE NOT EXISTS (SELECT 1 FROM drops WHERE drops.id_b = d.doc_id) " +
        "ORDER BY d.doc_id"),

    // Decision ground truth for the MinHash near-dedup at J == 1.0: the
    // survivors are exactly the min doc_id per IDENTICAL-shingle-set group
    // (J == 1.0 is transitive, so one-pass keep-min == group-min) — a
    // GROUP BY on the sorted shingle set, no all-pairs join needed. The
    // planted id+1_000_000 copies mirror the Spark side's union.
    "q_dedup_minhash" ->
      (s"WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents " +
        "WHERE text IS NOT NULL AND doc_id % 10 = 0), " +
        s"toks AS (SELECT doc_id, $tokensSql AS tk FROM base), " +
        s"sh AS (SELECT doc_id, list_sort(${shinglesSql(2)}) AS ts FROM toks) " +
        "SELECT MIN(doc_id) AS doc_id FROM sh GROUP BY ts ORDER BY doc_id"),

    // Decision ground truth for the SimHash blocking: every planted exact
    // copy shares its source's sketch (Hamming 0, all four blocks), so the
    // emitted copy↔source pair set is exactly the planted relation.
    "q_dedup_simhash" ->
      ("SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents " +
        "WHERE text IS NOT NULL AND doc_id % 10 = 0 ORDER BY id_a"),

    // Decision ground truth for the incremental near-dedup at J == 1.0
    // (r18 conversion): a batch doc survives iff its sorted word-bigram
    // shingle set matches no indexed (doc_id < 250) doc's AND it is the
    // min id of its within-batch shingle-set group; null-text batch docs
    // pass through (nothing to index or compare). The planted
    // id+1_000_000 exact copies mirror the Spark side's union and are
    // dropped by the history leg by construction.
    "q_dedup_near_incr" ->
      (s"WITH hb AS (SELECT doc_id, text FROM documents WHERE doc_id < 250 " +
        "AND text IS NOT NULL), " +
        s"htoks AS (SELECT doc_id, $tokensSql AS tk FROM hb), " +
        s"hsh AS (SELECT DISTINCT list_sort(${shinglesSql(2)}) AS ts FROM htoks), " +
        "batch AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 250 " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text, n_chars FROM documents " +
        "WHERE doc_id < 250 AND doc_id % 9 = 0 AND text IS NOT NULL), " +
        s"btoks AS (SELECT doc_id, n_chars, $tokensSql AS tk FROM batch " +
        "WHERE text IS NOT NULL), " +
        s"bsh AS (SELECT doc_id, n_chars, list_sort(${shinglesSql(2)}) AS ts FROM btoks), " +
        "keepers AS (SELECT MIN(doc_id) AS doc_id FROM bsh GROUP BY ts) " +
        "SELECT doc_id, n_chars FROM (" +
        "SELECT b.doc_id, b.n_chars FROM bsh b JOIN keepers k USING (doc_id) " +
        "WHERE NOT EXISTS (SELECT 1 FROM hsh h WHERE h.ts = b.ts) " +
        "UNION ALL SELECT doc_id, n_chars FROM batch WHERE text IS NULL) s " +
        "ORDER BY doc_id"),

    // Decision ground truth for the group-MinHash UDAF: group signatures
    // are equal (est == 1.0) iff the groups' token-set UNIONS are equal —
    // the planted copy::<source> groups plus any naturally union-identical
    // source pair. shingleN = 1, so the union set is the distinct tokens.
    "q_group_minhash" ->
      (s"WITH base AS (SELECT source, text FROM documents WHERE text IS NOT NULL " +
        "UNION ALL SELECT 'copy::' || source AS source, text FROM documents " +
        "WHERE text IS NOT NULL), " +
        s"toks AS (SELECT source, $tokensSql AS tk FROM base), " +
        "uni AS (SELECT source, list_sort(list_distinct(flatten(list(tk)))) AS ts " +
        "FROM toks GROUP BY source) " +
        "SELECT a.source AS src_a, b.source AS src_b FROM uni a JOIN uni b " +
        "ON a.source < b.source AND a.ts = b.ts ORDER BY src_a, src_b"),

    // End-to-end ground truth for the FULL corpus-prep pipeline — the same
    // composition CorpusPipeline.prepare runs, each stage the already-proven
    // oracle fragment: quality filter (round-6 score, both engines bit-equal)
    // + langId replica, exact dedup (sha256 keep-min-id over RAW docs —
    // duplicates share text hence quality/lang, so filtering before or after
    // the keep-join is equivalent), brute-force all-pairs word-bigram Jaccard
    // >= 0.8 with the one-pass keep-smaller-id drop rule AMONG THE SURVIVORS
    // of the earlier stages, stride-200/size-256 chunking, and the
    // deterministic 80/20 hash split. LSH candidate recall is the one
    // divergence risk and is exactly what this surfaces (same bands/rows
    // bound as q_dedup_near_drop: per-pair miss <= 2e-4, fixed-seed family).
    "q_corpus_prep" ->
      (s"WITH filt AS (SELECT doc_id, text, $langIdExprSql AS lang FROM documents " +
        s"WHERE text IS NOT NULL AND $qualityExprSql >= 0.2), " +
        "keep AS (SELECT MIN(doc_id) AS doc_id FROM documents WHERE text IS NOT NULL GROUP BY sha256(text)), " +
        "s AS (SELECT f.doc_id, f.text, f.lang FROM filt f JOIN keep USING (doc_id) " +
        "WHERE f.lang IN ('en','und')), " +
        s"toks AS (SELECT doc_id, $tokensSql AS tk FROM s), " +
        s"sh AS (SELECT doc_id, ${shinglesSql(2)} AS ts FROM toks), " +
        "drops AS (SELECT DISTINCT b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE (CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS DOUBLE)) >= 0.8), " +
        "surv AS (SELECT * FROM s WHERE NOT EXISTS (SELECT 1 FROM drops WHERE drops.id_b = s.doc_id)) " +
        "SELECT doc_id, i AS chunk_idx, " +
        "CAST(len(substr(text, CAST(i AS INT) * 200 + 1, 256)) AS BIGINT) AS chunk_len, lang, " +
        "CASE WHEN ((doc_id % 1000003 + 1000003) % 1000003 * 2654435761) % 100 < 80 " +
        "THEN 'train' ELSE 'val' END AS split " +
        "FROM surv, UNNEST(range(0, GREATEST(CAST(ceil(len(text) / 200.0) AS BIGINT), 1))) AS t(i) " +
        "ORDER BY doc_id, chunk_idx"),

    "q_corpus_audit" ->
      // same CTE skeleton as q_corpus_prep, re-aimed at per-doc flags
      (s"WITH sc AS (SELECT doc_id, text, $qualityExprSql AS quality, " +
        s"$langIdExprSql AS lang FROM documents WHERE text IS NOT NULL), " +
        "keep AS (SELECT MIN(doc_id) AS kid FROM documents WHERE text IS NOT NULL GROUP BY sha256(text)), " +
        "s AS (SELECT sc.doc_id, sc.text FROM sc JOIN keep ON doc_id = kid " +
        "WHERE quality >= 0.2 AND lang IN ('en','und')), " +
        s"toks AS (SELECT doc_id, $tokensSql AS tk FROM s), " +
        s"sh AS (SELECT doc_id, ${shinglesSql(2)} AS ts FROM toks), " +
        "drops AS (SELECT DISTINCT b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE (CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / " +
        "CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS DOUBLE)) >= 0.8), " +
        "k AS (SELECT sc.doc_id, sc.quality, sc.lang, sc.text, " +
        "CAST(sc.quality >= 0.2 AND sc.lang IN ('en','und') AS BIGINT) AS passed_filter, " +
        "CAST(EXISTS (SELECT 1 FROM keep WHERE kid = sc.doc_id) AS BIGINT) AS is_rep, " +
        "CAST(EXISTS (SELECT 1 FROM s WHERE s.doc_id = sc.doc_id) AND NOT EXISTS " +
        "(SELECT 1 FROM drops WHERE id_b = sc.doc_id) AS BIGINT) AS kept FROM sc) " +
        "SELECT doc_id, quality, lang, passed_filter, is_rep, kept, " +
        "CASE WHEN kept = 1 THEN GREATEST(CAST(ceil(len(text) / 200.0) AS BIGINT), 1) " +
        "ELSE 0 END AS n_chunks " +
        "FROM k ORDER BY doc_id"),

    "q_explode_tokens" ->
      (s"SELECT token, COUNT(*) AS n FROM " +
        s"(SELECT unnest($tokensSql) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token LIMIT 20"),

    "q_pivot" ->
      ("SELECT lang, " +
        "COUNT(*) FILTER (WHERE source = 'src0') AS src0, " +
        "COUNT(*) FILTER (WHERE source = 'src1') AS src1, " +
        "COUNT(*) FILTER (WHERE source = 'src2') AS src2, " +
        "COUNT(*) FILTER (WHERE source = 'src3') AS src3 " +
        "FROM documents WHERE source IN ('src0','src1','src2','src3') " +
        "GROUP BY lang ORDER BY lang"),

    "q_percentile" ->
      ("SELECT l_returnflag, ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50, " +
        "ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "q_mjoin_agg_topk" ->
      ("SELECT o_orderkey, " +
        "CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "AND l_shipdate >= TIMESTAMP '1998-01-01' " +
        "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"),

    "q_mjoin_regional" ->
      ("SELECT n_name, " +
        "CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),

    "q_rollup" ->
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),

    "q_cube" ->
      ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"),

    "q_set_ops" ->
      ("SELECT c_custkey, 'both' AS tag FROM " +
        "((SELECT c_custkey FROM customer WHERE c_acctbal > 0) INTERSECT " +
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) " +
        "UNION ALL " +
        "SELECT c_custkey, 'only_a' AS tag FROM " +
        "((SELECT c_custkey FROM customer WHERE c_acctbal > 0) EXCEPT " +
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) " +
        "ORDER BY tag, c_custkey"),

    "q_date_agg" ->
      ("SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY month ORDER BY month"),

    "q_sessionize" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), " +
        "m AS (SELECT user_id, t, CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL " +
        "OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) > 3600000000 THEN 1 ELSE 0 END AS brk FROM e), " +
        "s AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sess FROM m) " +
        "SELECT user_id, MIN(t) AS start_us, MAX(t) AS end_us, COUNT(*) AS n_events " +
        "FROM s GROUP BY user_id, sess ORDER BY user_id, start_us"),

    "q_windowed_agg" ->
      ("SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_s, event_type, " +
        "COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY window_start_s, event_type ORDER BY window_start_s, event_type"),

    "q_subword_count" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subwords " +
        "FROM documents ORDER BY doc_id"),

    "q_similarity_cosine" ->
      ("SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos " +
        "FROM embeddings ORDER BY cos DESC, vec_id LIMIT 20"),

    // Ground truth for the end-to-end reference pipeline's METADATA: the
    // fixture generator's sizes are pure integer functions of (class, i)
    // (ImageFixtures.generate: w = 8+(i%4)*12, h = 6+((i+c)%3)*10) and the
    // dict label index is the alphabetical dense rank, which for the five
    // class names equals the class ordinal — so the oracle re-derives every
    // emitted row from arithmetic, no image bytes involved. The pipeline's
    // binary layers (grayscale payloads, stream-vs-batch inference) are
    // gated in-query.
    "q_reference_e2e" ->
      ("WITH cls AS (SELECT * FROM (VALUES ('daisy',0),('dandelion',1)," +
        "('roses',2),('sunflowers',3),('tulips',4)) AS t(label, c)), " +
        "imgs AS (SELECT label, c, r.range AS i FROM cls CROSS JOIN range(6) r) " +
        "SELECT label, CAST(i AS BIGINT) AS img_i, " +
        "CAST(8 + (i % 4) * 12 AS BIGINT) AS width, " +
        "CAST(6 + ((i + c) % 3) * 10 AS BIGINT) AS height, " +
        "CAST(c AS BIGINT) AS label_index " +
        "FROM imgs ORDER BY label, img_i"),

    // Brute-force all-pairs ground truth for the LSH-blocked near-dup: the
    // planted 0.5-scaled copies are rebuilt identically (powers-of-two
    // scaling is IEEE-exact in both engines), and the >= 0.95 threshold is
    // applied to the same 6-dp rounded cosine the Spark side emits. NaN
    // guard mirrors validCos (DuckDB orders NaN greatest, so an unguarded
    // >= would admit zero-norm junk pairs).
    "q_embedding_neardup" ->
      ("WITH aug AS (" +
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
        "WHERE embedding IS NOT NULL " +
        "UNION ALL " +
        "SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5) " +
        "FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 10 = 0), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos, " +
        "list_cosine_similarity(a.v, b.v) AS raw " +
        "FROM aug a JOIN aug b ON a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, cos FROM p " +
        "WHERE NOT isnan(raw) AND cos >= 0.95 ORDER BY id_a, id_b"),

    "q_matryoshka" ->
      // same two stages replayed: 16-dim prefix cut to 100, full-dim rerank
      ("WITH coarse AS (SELECT vec_id, " +
        "ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[])[1:16], " +
        "(SELECT CAST(embedding AS DOUBLE[])[1:16] FROM embeddings WHERE vec_id = 0)), 6) AS c16 " +
        "FROM embeddings ORDER BY c16 DESC, vec_id LIMIT 100) " +
        "SELECT e.vec_id, ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), " +
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos " +
        "FROM embeddings e JOIN coarse USING (vec_id) " +
        "ORDER BY cos DESC, vec_id LIMIT 20"),

    "q_repartition_stable" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity",

    "q_asof_join" ->
      ("WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type, value FROM events), " +
        "c AS (SELECT event_id, user_id, t FROM ev WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, t, MAX(value) AS pval FROM ev WHERE event_type = 'purchase' GROUP BY user_id, t) " +
        "SELECT c.event_id, c.user_id, c.t AS ts_us, p.pval AS last_purchase " +
        "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.t <= c.t " +
        "ORDER BY event_id"),

    "q_range_join" ->
      ("SELECT band, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price " +
        "FROM orders JOIN (VALUES ('b0', 0, 100000), ('b1', 100000, 200000), ('b2', 200000, 300000), " +
        "('b3', 300000, 400000), ('b4', 400000, 600000)) AS bands(band, lo, hi) " +
        "ON o_totalprice >= lo AND o_totalprice < hi " +
        "GROUP BY band ORDER BY band"),

    "q_negative_sample" ->
      // same hash, same knockout, same (hash, item) rank — % on positive
      // operands ≡ pmod
      ("WITH pos AS (SELECT DISTINCT o_custkey AS user_id, CAST(l_partkey AS BIGINT) AS item_id " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey % 50 = 0), " +
        "cand AS (SELECT u.user_id, CAST(p.p_partkey AS BIGINT) AS item_id " +
        "FROM (SELECT DISTINCT user_id FROM pos) u, part p), " +
        "neg AS (SELECT c.user_id, c.item_id FROM cand c WHERE NOT EXISTS " +
        "(SELECT 1 FROM pos WHERE pos.user_id = c.user_id AND pos.item_id = c.item_id)), " +
        "px AS (SELECT user_id, item_id, " +
        "(user_id * 2654435761 + item_id * 40503) % 2147483647 AS x FROM neg), " +
        "scored AS (SELECT user_id, item_id, (x * x) % 2147483647 AS h FROM px) " +
        "SELECT user_id, item_id, CAST(rk AS BIGINT) AS rk FROM " +
        "(SELECT user_id, item_id, ROW_NUMBER() OVER " +
        "(PARTITION BY user_id ORDER BY h, item_id) AS rk FROM scored) z " +
        "WHERE rk <= 5 ORDER BY user_id, rk"),

    "q_mad_outliers" ->
      // identical two-level median + one multiply; the flag is a function
      // of values both engines hold bit-exactly
      ("WITH med AS (SELECT l_returnflag AS g, median(l_quantity) AS med " +
        "FROM lineitem GROUP BY 1), " +
        "dev AS (SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, med, " +
        "abs(l_quantity - med) AS adev FROM lineitem JOIN med ON l_returnflag = g), " +
        "mad AS (SELECT l_returnflag AS g2, median(adev) AS mad FROM dev GROUP BY 1) " +
        "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, med, mad, " +
        "CAST(adev > 3.0 * mad AS BIGINT) AS outlier " +
        "FROM dev JOIN mad ON l_returnflag = g2 " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag"),

    "q_range_join_binned" ->
      // the SAME inequality join, unbinned — proves the bin rewrite is a
      // pure plan transformation, not a semantics change
      ("WITH bands AS (SELECT i AS band, CAST(i*600 AS DOUBLE) AS lo, " +
        "CAST(i*600 + 300 + (i%7)*150 AS DOUBLE) AS hi FROM range(1000) t(i)) " +
        "SELECT band, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price " +
        "FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi " +
        "GROUP BY band ORDER BY band"),

    "q_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf, CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls, " +
        "COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),

    "q_join_semi_anti" ->
      ("SELECT c_custkey, 'has_orders' AS tag FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "UNION ALL " +
        "SELECT c_custkey, 'no_orders' AS tag FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "ORDER BY tag, c_custkey"),

    "q_window_lag" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, " +
        "LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price, " +
        "LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price, " +
        "FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price " +
        "FROM orders ORDER BY o_orderkey"),

    "q_window_ntile" ->
      ("SELECT o_orderkey, o_orderstatus, " +
        "CAST(NTILE(4) OVER w AS BIGINT) AS quartile, " +
        "ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank, " +
        "ROUND(CUME_DIST() OVER w, 6) AS cdist " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_orderkey"),

    "q_stats_agg" ->
      ("SELECT l_returnflag, n, ROUND(sx / n, 6) AS mean_qty, " +
        "ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std_qty, " +
        "ROUND((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS corr_qty_price " +
        "FROM (SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sx, " +
        "CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx, " +
        "CAST(CAST(SUM(CAST((l_extendedprice / 1000.0) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sy, " +
        "CAST(CAST(SUM(CAST((l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS syy, " +
        "CAST(CAST(SUM(CAST(l_quantity * (l_extendedprice / 1000.0) AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy " +
        "FROM lineitem GROUP BY l_returnflag) ORDER BY l_returnflag"),

    "q_array_funcs" ->
      ("SELECT vec_id, " +
        "CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos, " +
        "CAST(len(list_filter(embedding, x -> abs(x) > 0.5)) AS BIGINT) AS n_big, " +
        "ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_v, " +
        "ROUND(CAST(embedding[5] AS DOUBLE), 6) AS elem5 " +
        "FROM embeddings ORDER BY vec_id"),

    "q_having" ->
      ("SELECT c_mktsegment, COUNT(*) AS n, " +
        "CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) / COUNT(*) AS avg_bal " +
        "FROM customer GROUP BY c_mktsegment HAVING COUNT(*) > 100 ORDER BY c_mktsegment"),

    "q_unpivot" ->
      ("SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part " +
        "UNION ALL " +
        "SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part " +
        "ORDER BY p_partkey, attr"),

    "q_pivot_sum" ->
      ("SELECT c_nationkey, " +
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(v =>
          s"CAST(CAST(SUM(CASE WHEN c_mktsegment = '$v' " +
          s"THEN CAST(c_acctbal AS DECIMAL(38,4)) END) AS DECIMAL(38,4)) AS DOUBLE) " +
          s"AS bal_${v.toLowerCase}"
        ).mkString(", ") +
        " FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),

    "q_agg_minmax_by" ->
      ("SELECT o_custkey, arg_max(o_totalprice, o_orderkey) AS price_of_last_order, " +
        "arg_min(o_totalprice, o_orderkey) AS price_of_first_order, COUNT(*) AS n " +
        "FROM orders GROUP BY o_custkey ORDER BY o_custkey"),

    "q_string_funcs" ->
      ("SELECT p_partkey, substring(p_name, 1, 8) AS prefix8, " +
        "lpad(p_brand, 12, '_') AS brand_lpad, rpad(p_brand, 12, '.') AS brand_rpad, " +
        "concat_ws('|', p_brand, p_type) AS brand_type, reverse(p_name) AS rev_name, " +
        "upper(p_type) AS type_up, CAST(length(p_type) AS BIGINT) AS type_len " +
        "FROM part ORDER BY p_partkey"),

    "q_date_funcs" ->
      ("SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr, " +
        "CAST(month(o_orderdate) AS BIGINT) AS mo, CAST(day(o_orderdate) AS BIGINT) AS dom, " +
        "CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow, " +
        "CAST(weekofyear(o_orderdate) AS BIGINT) AS wk, " +
        "strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30, " +
        "strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom, " +
        "CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_99 " +
        "FROM orders ORDER BY o_orderkey"),

    "q_skew_salted" ->
      ("SELECT event_type, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value, " +
        "COUNT(*) AS n " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    "q_math_funcs" ->
      ("SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS abs_disc, " +
        "CAST(ceil(l_quantity) AS BIGINT) AS ceil_qty, " +
        "CAST(floor(l_quantity) AS BIGINT) AS floor_qty, " +
        "sqrt(l_extendedprice) AS sqrt_price, " +
        "CAST(sign(l_discount - 0.05) AS BIGINT) AS sgn, " +
        "l_orderkey % 7 AS mod7 " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),

    "q_cond_agg" ->
      ("SELECT o_orderpriority, " +
        "count(*) FILTER (WHERE o_totalprice > 100000) AS n_big, " +
        "bool_or(o_orderstatus = 'F') AS any_f, " +
        "bool_and(o_totalprice > 0.0) AS all_pos, " +
        "count(*) AS n " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_median" ->
      // both engines interpolate the even-count midpoint as (a+b)/2 over
      // exact small doubles — bit-identical
      ("SELECT l_returnflag, median(l_quantity) AS med_qty, " +
        "median(l_tax) AS med_tax, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "q_window_frame" ->
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS DOUBLE) AS roll4, " +
        "count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sofar " +
        "FROM orders ORDER BY o_orderkey"),

    "q_gap_fill" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders " +
        "FROM orders GROUP BY 1), " +
        "b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily), " +
        "cal AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM b) " +
        "SELECT cal.d AS d, COALESCE(daily.n_orders, 0) AS n_orders " +
        "FROM cal LEFT JOIN daily ON cal.d = daily.d ORDER BY d"),

    "q_merge_upsert" ->
      ("WITH upd AS (SELECT CASE WHEN o_custkey % 2 = 0 THEN o_custkey " +
        "ELSE -o_custkey - 1 END AS c_custkey, " +
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS c_acctbal " +
        "FROM orders GROUP BY o_custkey) " +
        "SELECT COALESCE(u.c_custkey, c.c_custkey) AS c_custkey, c.c_name AS c_name, " +
        "CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE c.c_acctbal END AS c_acctbal, " +
        "c.c_mktsegment AS c_mktsegment " +
        "FROM customer c FULL JOIN upd u ON c.c_custkey = u.c_custkey " +
        "ORDER BY c_custkey"),

    "q_corr_subquery" -> corrSubquerySql,

    "q_bitwise_agg" ->
      ("SELECT event_type, bit_and(event_id) AS b_and, bit_or(event_id) AS b_or, " +
        "bit_xor(event_id) AS b_xor " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    "q_collect_sorted" ->
      ("SELECT n_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names, " +
        "count(*) AS n_cust " +
        "FROM nation JOIN customer ON c_nationkey = n_nationkey " +
        "GROUP BY n_nationkey ORDER BY n_nationkey"),

    "q_regexp_count" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, 'the')) AS BIGINT) AS n_the, " +
        "CAST(strpos(text, 'data') AS BIGINT) AS pos_data " +
        "FROM documents ORDER BY doc_id"),

    "q_histogram" ->
      ("SELECT CAST(CASE WHEN mx = mn THEN 0.0 " +
        "ELSE least(floor((o_totalprice - mn) / ((mx - mn) / 10.0)), 9.0) END AS BIGINT) AS bin, " +
        "count(*) AS n " +
        "FROM orders, (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders) " +
        "GROUP BY 1 ORDER BY bin"),

    "q_lang_id" -> langIdOracleSql,

    "q_null_funcs" ->
      ("SELECT c_custkey, coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg2, " +
        "greatest(c_acctbal, 0.0) AS bal_pos, least(c_acctbal, 1000.0) AS bal_cap " +
        "FROM customer ORDER BY c_custkey"),

    "q_map_funcs" ->
      ("SELECT event_id, " +
        "array_to_string(map_keys(CAST(props AS JSON)::MAP(VARCHAR, BIGINT)), ',') AS keys, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS val_k, " +
        "CAST(cardinality(CAST(props AS JSON)::MAP(VARCHAR, BIGINT)) AS BIGINT) AS n_entries " +
        "FROM events WHERE json_valid(props) ORDER BY event_id"),

    "q_window_range" ->
      ("SELECT o_orderkey, o_orderstatus, " +
        "count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey " +
        "RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS n_nearby, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) OVER " +
        "(PARTITION BY o_orderstatus ORDER BY o_orderkey " +
        "RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DECIMAL(38,4)) AS DOUBLE) AS sum_nearby " +
        "FROM orders ORDER BY o_orderkey"),

    "q_session_window" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), " +
        "m AS (SELECT user_id, t, CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL " +
        "OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) >= 3600000000 THEN 1 ELSE 0 END AS brk FROM e), " +
        "s AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sess FROM m) " +
        "SELECT user_id, MIN(t) AS start_us, MAX(t) + 3600000000 AS end_us, COUNT(*) AS n_events " +
        "FROM s GROUP BY user_id, sess ORDER BY user_id, start_us"),

    "q_tfidf" ->
      (s"WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents) " +
        "SELECT tf.doc_id AS doc_id, tf.token AS token, tf.tf AS tf, dfq.df AS df, " +
        "CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score " +
        "FROM tf JOIN dfq USING (token), n " +
        "ORDER BY score DESC, doc_id, token LIMIT 100"),

    "q_bm25" ->
      // every factor is an exact integer or one correctly-rounded IEEE
      // op in the same order as the Spark plan; constants written as the
      // same arithmetic ((1.2 + 1.0), not 2.2) so both engines fold the
      // identical double
      (s"WITH tk AS (SELECT doc_id, unnest($tokensSql) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tk2 AS (SELECT doc_id, token FROM tk WHERE token <> ''), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tk2 GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tk2 GROUP BY 1), " +
        "dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl) " +
        "SELECT tf.doc_id AS doc_id, tf.token AS token, tf.tf AS tf, dfq.df AS df, dl.dl AS dl, " +
        "ROUND(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
        "(CAST(tf.tf AS DOUBLE) * (1.2 + 1.0) / (CAST(tf.tf AS DOUBLE) + " +
        "1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / " +
        "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))), 6) AS score " +
        "FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token), tot " +
        "ORDER BY score DESC, doc_id, token LIMIT 100"),

    "q_inverted_index" ->
      (s"WITH tk AS (SELECT DISTINCT doc_id, token FROM " +
        s"(SELECT doc_id, unnest($tokensSql) AS token FROM documents WHERE text IS NOT NULL) " +
        "WHERE token <> '') " +
        "SELECT token, count(*) AS df, " +
        "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings " +
        "FROM tk GROUP BY token ORDER BY token"),

    "q_domain_cap" ->
      ("SELECT doc_id, source, n_chars, rk FROM " +
        "(SELECT doc_id, source, n_chars, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk FROM documents) " +
        "WHERE rk <= 20 ORDER BY source, rk"),

    "q_semantic_dedup" ->
      // centroids = vectors 0..7 (deterministic data rows); cell = nearest
      // centroid by raw cosine, lowest cid on ties (argmax first-occurrence);
      // a vector is dropped iff a LOWER-id cellmate has rounded cos >= 0.3
      ("WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings " +
        "WHERE embedding IS NOT NULL AND NOT isnan(list_cosine_similarity(" +
        "CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), " +
        "sims AS (SELECT v.vec_id, c.cid, list_cosine_similarity(ev, cv) AS s FROM v, c), " +
        "cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sims) WHERE rn = 1) " +
        "SELECT ca.vec_id AS vec_id, CAST(ca.cid AS INT) AS cell " +
        "FROM cell ca JOIN v va ON va.vec_id = ca.vec_id " +
        "WHERE NOT EXISTS (SELECT 1 FROM cell cb JOIN v vb ON vb.vec_id = cb.vec_id " +
        "WHERE cb.cid = ca.cid AND vb.vec_id < ca.vec_id " +
        "AND ROUND(list_cosine_similarity(va.ev, vb.ev), 6) >= 0.3) " +
        "ORDER BY vec_id"),

    "q_kmeans" ->
      // full replay of the deterministic fit: seeds = 8 smallest ids,
      // assignment by ROUNDED euclidean distance (id tie-break), centroid
      // update = per-dimension ROUNDED means, final re-assignment
      ("WITH pts AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS v " +
        "FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL), " +
        "c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY pid) - 1 AS BIGINT) AS cid, v AS c " +
        "FROM (SELECT pid, v FROM pts ORDER BY pid LIMIT 8)), " +
        "d1 AS (SELECT p.pid, p.v, c.cid, " +
        "ROW_NUMBER() OVER (PARTITION BY p.pid " +
        "ORDER BY ROUND(list_distance(p.v, c.c), 6) ASC, c.cid ASC) AS rn " +
        "FROM pts p CROSS JOIN c0 c), " +
        "a1 AS (SELECT pid, v, cid FROM d1 WHERE rn = 1), " +
        "e1 AS (SELECT cid, generate_subscripts(v, 1) AS p, unnest(v) AS x FROM a1), " +
        "c1 AS (SELECT cid, list(m ORDER BY p) AS c FROM " +
        "(SELECT cid, p, ROUND(AVG(x), 6) AS m FROM e1 GROUP BY cid, p) GROUP BY cid), " +
        "d2 AS (SELECT p.pid, c.cid, ROUND(list_distance(p.v, c.c), 6) AS d, " +
        "ROW_NUMBER() OVER (PARTITION BY p.pid " +
        "ORDER BY ROUND(list_distance(p.v, c.c), 6) ASC, c.cid ASC) AS rn " +
        "FROM pts p CROSS JOIN c1 c) " +
        "SELECT pid AS vec_id, cid AS cluster, d AS dist FROM d2 WHERE rn = 1 " +
        "ORDER BY vec_id"),

    "q_quantile_filter" ->
      ("SELECT doc_id, n_chars FROM documents, " +
        "(SELECT ROUND(quantile_cont(n_chars, 0.1), 6) AS p10, " +
        "ROUND(quantile_cont(n_chars, 0.9), 6) AS p90 FROM documents) " +
        "WHERE CAST(n_chars AS DOUBLE) >= p10 AND CAST(n_chars AS DOUBLE) <= p90 " +
        "ORDER BY doc_id"),

    "q_join_full" ->
      ("WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'), " +
        "o AS (SELECT o_custkey, count(*) AS n_orders, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY o_custkey) " +
        "SELECT coalesce(c_custkey, o_custkey) AS key, " +
        "coalesce(c_name, '<none>') AS name, " +
        "coalesce(n_orders, 0) AS n_orders, coalesce(sum_price, 0.0) AS sum_price " +
        "FROM c FULL JOIN o ON c_custkey = o_custkey ORDER BY key"),

    // ORC round-trip: oracle reads the ORIGINAL parquet (see q_csv_roundtrip)
    "q_orc_roundtrip" ->
      ("SELECT * FROM lineitem ORDER BY l_orderkey, l_partkey, l_suppkey, " +
        "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, " +
        "l_returnflag, l_linestatus, l_shipdate"),

    // tar-shard round-trip: oracle is the base table — equality proves the
    // ustar encode → binaryFile scan → parse pipeline loses nothing
    "q_tar_roundtrip" ->
      "SELECT doc_id, text FROM documents WHERE text IS NOT NULL ORDER BY doc_id",

    "q_gopher_filter" ->
      (s"WITH g AS (SELECT doc_id, $tokensSql AS tk, " +
        "CAST(len(regexp_replace(trim(lower(text)), '\\s', '', 'g')) AS BIGINT) AS wc " +
        "FROM documents WHERE text IS NOT NULL), " +
        "m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words, wc, " +
        s"CAST(len(list_filter(tk, w -> w IN ($stopInList))) AS BIGINT) AS stop_hits, " +
        "CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha_words " +
        "FROM g) " +
        "SELECT doc_id, n_words, " +
        "CAST(wc AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len, stop_hits, " +
        "CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_ratio, " +
        "CAST((n_words BETWEEN 50 AND 100000) AND " +
        "(CAST(wc AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 3.0 AND 10.0) AND " +
        "stop_hits >= 2 AND " +
        "CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8 AS BIGINT) AS keep " +
        "FROM m ORDER BY doc_id"),

    // sparse random projection: identical cell formula + floor quantization,
    // exact long accumulation on both sides (order-free)
    "q_random_projection" ->
      ("SELECT vec_id, j, CAST(SUM(q * r) AS BIGINT) AS proj FROM (" +
        "SELECT e.vec_id, jj.j AS j, " +
        "CAST(floor(CAST(e.embedding[CAST(ii.i AS INTEGER) + 1] AS DOUBLE) * 1000) AS BIGINT) AS q, " +
        "CASE (((ii.i * 16 + jj.j) * 2654435761) % 1000003) % 6 " +
        "WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS r " +
        "FROM embeddings e, range(0, 64) ii(i), range(0, 16) jj(j)) " +
        "GROUP BY vec_id, j ORDER BY vec_id, j"),

    // fuzzy join: brute-force all pairs — equality proves the deletion-
    // neighborhood blocking has full recall
    "q_fuzzy_join" ->
      ("SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "levenshtein(a.c_name, b.c_name) AS dist " +
        "FROM customer a, customer b " +
        "WHERE a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1 " +
        "ORDER BY id_a, id_b"),

    "q_winsorize" ->
      ("SELECT o_orderkey, o_totalprice, " +
        "LEAST(GREATEST(CAST(o_totalprice AS DOUBLE), lo), hi) AS o_totalprice_w " +
        "FROM orders, (SELECT ROUND(quantile_cont(o_totalprice, 0.05), 6) AS lo, " +
        "ROUND(quantile_cont(o_totalprice, 0.95), 6) AS hi FROM orders) " +
        "ORDER BY o_orderkey"),

    "q_equidepth_hist" ->
      ("WITH b AS (SELECT list_transform(quantile_cont(CAST(o_totalprice AS DOUBLE), " +
        s"[${(1 until 8).map(_.toDouble / 8).mkString(", ")}]), c -> ROUND(c, 6)) AS cuts " +
        "FROM orders), " +
        "r AS (SELECT CAST(len(list_filter(cuts, x -> x <= CAST(o_totalprice AS DOUBLE))) + 1 " +
        "AS BIGINT) AS bucket, CAST(o_totalprice AS DOUBLE) AS v FROM orders, b) " +
        "SELECT bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi " +
        "FROM r GROUP BY bucket ORDER BY bucket"),

    "q_mips_topk" ->
      ("SELECT vec_id, ROUND(list_inner_product(CAST(embedding AS DOUBLE[]), " +
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)), 6) AS ip " +
        "FROM embeddings ORDER BY ip DESC, vec_id LIMIT 20"),

    // SQ8: identical per-dimension absmax stats, identical floor
    // arithmetic shape (x * 127.0 / absmax), exact BIGINT code dot product
    "q_sq8_topk" ->
      ("WITH stats AS (" +
        "SELECT ii.i AS j, MAX(ABS(CAST(e.embedding[CAST(ii.i AS INTEGER) + 1] AS DOUBLE))) AS am " +
        "FROM embeddings e, range(0, 64) ii(i) GROUP BY ii.i), " +
        "codes AS (" +
        "SELECT e.vec_id, s.j, CAST(CASE WHEN s.am > 0 THEN " +
        "floor(CAST(e.embedding[CAST(s.j AS INTEGER) + 1] AS DOUBLE) * 127.0 / s.am) " +
        "ELSE 0 END AS BIGINT) AS q " +
        "FROM embeddings e, stats s), " +
        "qv AS (SELECT j, q FROM codes WHERE vec_id = 1) " +
        "SELECT c.vec_id, CAST(SUM(c.q * qv.q) AS BIGINT) AS score_q " +
        "FROM codes c JOIN qv ON c.j = qv.j " +
        "GROUP BY c.vec_id ORDER BY score_q DESC, c.vec_id LIMIT 20"),

    "q_ttr" ->
      (s"SELECT doc_id, ROUND(CAST(len(list_distinct($tokensSql)) AS DOUBLE) / " +
        s"CAST(len($tokensSql) AS DOUBLE), 6) AS ttr " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id"),

    // Entropy fold mirrors the Spark expression: sorted distinct chars,
    // cnt·ln(cnt) terms summed in list order, ln(n) − sum/n, round 6.
    "q_char_entropy" ->
      ("WITH c AS (SELECT doc_id, string_split(text, '') AS cs, " +
        "CAST(len(string_split(text, '')) AS DOUBLE) AS n, " +
        "list_sort(list_distinct(string_split(text, ''))) AS uq " +
        "FROM documents WHERE text IS NOT NULL AND len(text) > 0) " +
        "SELECT doc_id, ROUND(ln(n) - list_aggregate(list_transform(uq, " +
        "ch -> CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) * " +
        "ln(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE))), 'sum') / n, 6) " +
        "AS entropy FROM c ORDER BY doc_id"),

    "q_zipf_slope" ->
      (s"WITH counts AS (SELECT token, COUNT(*) AS n FROM " +
        s"(SELECT unnest($tokensSql) AS token FROM documents WHERE text IS NOT NULL) " +
        "WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 1000), " +
        "r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank FROM counts) " +
        "SELECT ROUND(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) " +
        "AS zipf_slope, COUNT(*) AS n_ranks FROM r"),

    // PMI keeps one fixed double-op order on both engines:
    // ln(((cab·n1)·n1) / ((n2·ca)·cb)).
    "q_pmi" ->
      (s"WITH tk AS (SELECT $tokensSql AS tk FROM documents WHERE text IS NOT NULL), " +
        "uni AS (SELECT w, COUNT(*) AS cw FROM (SELECT unnest(tk) AS w FROM tk) WHERE w <> '' GROUP BY w), " +
        "n1t AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n1 FROM uni), " +
        "bi AS (SELECT a, b, COUNT(*) AS cab FROM " +
        "(SELECT list_extract(tk, CAST(i AS INT)) AS a, list_extract(tk, CAST(i AS INT) + 1) AS b " +
        "FROM tk, UNNEST(range(1, len(tk))) AS t(i) WHERE len(tk) >= 2) WHERE a <> '' AND b <> '' GROUP BY a, b), " +
        "n2t AS (SELECT CAST(SUM(cab) AS DOUBLE) AS n2 FROM bi) " +
        "SELECT a, b, cab, ROUND(ln((CAST(cab AS DOUBLE) * n1 * n1) / " +
        "(n2 * CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 6) AS pmi " +
        "FROM bi JOIN (SELECT w AS a, cw AS ca FROM uni) ua USING (a) " +
        "JOIN (SELECT w AS b, cw AS cb FROM uni) ub USING (b), n1t, n2t " +
        "WHERE cab >= 5 ORDER BY pmi DESC, a, b LIMIT 50"),

    "q_pos_tokens" ->
      (s"SELECT doc_id, CAST(i AS BIGINT) AS pos, token FROM " +
        s"(SELECT doc_id, unnest(range(len($tokensSql))) AS i, " +
        s"unnest($tokensSql) AS token " +
        "FROM documents WHERE text IS NOT NULL AND doc_id < 40) " +
        "ORDER BY doc_id, pos"),

    // Redaction/count SQL is GENERATED from TextAnalysis.piiPatterns so the
    // two engines can never drift on the pattern table.
    "q_pii_redact" -> {
      val augSql = "substr(text, 1, 40) || ' contact user' || CAST(doc_id % 5 AS VARCHAR) || " +
        "'@mail' || CAST(doc_id % 3 AS VARCHAR) || '.example.com' || " +
        "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' || " +
        "' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4321'"
      val redSql = graft.operators.TextAnalysis.piiPatterns.foldLeft("aug") {
        case (e, (re, tag)) => s"regexp_replace($e, '${re.replace("'", "''")}', '$tag', 'g')"
      }
      val cntSql = graft.operators.TextAnalysis.piiPatterns
        .map { case (re, _) => s"len(regexp_extract_all(aug, '${re.replace("'", "''")}'))" }
        .mkString(" + ")
      s"WITH a AS (SELECT doc_id, $augSql AS aug FROM documents WHERE text IS NOT NULL) " +
        s"SELECT doc_id, $redSql AS redacted, CAST($cntSql AS BIGINT) AS n_pii " +
        "FROM a ORDER BY doc_id"
    },

    "q_boilerplate_strip" ->
      ("WITH src AS (SELECT doc_id, 'subscribe to our newsletter' || chr(10) || " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'cookie policy applies' || chr(10) ELSE '' END) || " +
        "substr(text, 1, 60) || chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR) AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "ls AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM src), " +
        "l AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos, " +
        "list_extract(parts, CAST(t.i AS INT)) AS ln " +
        "FROM ls, UNNEST(range(1, len(parts) + 1)) AS t(i)), " +
        "blocked AS (SELECT trim(ln) AS nline FROM l WHERE trim(ln) <> '' " +
        "GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 300) " +
        "SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS clean_text FROM l " +
        "WHERE trim(ln) NOT IN (SELECT nline FROM blocked) " +
        "GROUP BY doc_id ORDER BY doc_id"),

    "q_rrf_fusion" ->
      (s"WITH tf AS (SELECT id, tf FROM (SELECT doc_id AS id, COUNT(*) AS tf FROM " +
        s"(SELECT doc_id, unnest($tokensSql) AS token FROM documents WHERE text IS NOT NULL) " +
        "WHERE token = 'join' GROUP BY doc_id) ORDER BY tf DESC, id LIMIT 100), " +
        "lex AS (SELECT id, ROW_NUMBER() OVER (ORDER BY tf DESC, id) AS rank_a FROM tf), " +
        "cosd AS (SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos " +
        "FROM embeddings ORDER BY cos DESC, vec_id LIMIT 100), " +
        "dense AS (SELECT vec_id AS id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank_b FROM cosd) " +
        "SELECT COALESCE(lex.id, dense.id) AS id, " +
        "ROUND(COALESCE(1.0 / (60.0 + CAST(rank_a AS DOUBLE)), 0.0) + " +
        "COALESCE(1.0 / (60.0 + CAST(rank_b AS DOUBLE)), 0.0), 6) AS rrf " +
        "FROM lex FULL OUTER JOIN dense ON lex.id = dense.id ORDER BY rrf DESC, id"),

    "q_priority_sample" ->
      ("SELECT event_type, event_id, user_id FROM (SELECT event_type, event_id, user_id, " +
        "ROW_NUMBER() OVER (PARTITION BY event_type " +
        "ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk FROM events) " +
        "WHERE rk <= 5 ORDER BY event_type, event_id"),

    "q_url_filter" ->
      ("SELECT doc_id, domain FROM (SELECT doc_id, " +
        "unnest(regexp_extract_all(lower(substr(text, 1, 20) || ' HTTP://Site' || " +
        "CAST(doc_id % 20 AS VARCHAR) || '.Example.com/p/' || CAST(doc_id AS VARCHAR) || " +
        "' and https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.org/x'), " +
        "'https?://([a-z0-9.-]+)', 1)) AS domain " +
        "FROM documents WHERE text IS NOT NULL) " +
        "WHERE domain NOT IN ('site3.example.com', 'www.site2.org') " +
        "ORDER BY doc_id, domain"),

    "q_temperature_sample" ->
      // same arithmetic order as Relational.temperatureSample: rate =
      // (min_t(sqrt(n_t)) * sqrt(n_s)) / n_s — sqrt is correctly rounded in
      // both engines and no float summation occurs, so the doubles (and the
      // kept set) are bit-identical
      ("WITH counts AS (SELECT lang AS s, CAST(COUNT(*) AS DOUBLE) AS n " +
        "FROM documents WHERE lang IS NOT NULL GROUP BY lang), " +
        "mn AS (SELECT MIN(sqrt(n)) AS c FROM counts), " +
        "rates AS (SELECT s, (mn.c * sqrt(n) / n) AS rate FROM counts, mn) " +
        "SELECT doc_id, lang FROM documents d JOIN rates ON d.lang = rates.s " +
        "WHERE CAST(((doc_id % 1000003 + 1000003) % 1000003 * 2654435761) % 1000000 AS DOUBLE) " +
        "< rate * 1000000.0 ORDER BY doc_id"),

    "q_validate" ->
      // concat_ws skips NULLs in both engines; a NULL predicate counts as a
      // violation (coalesce to false) exactly as Relational.validateRules
      ("SELECT l_orderkey, l_linenumber, l_quantity, violations, " +
        "CAST(violations = '' AS BIGINT) AS is_valid FROM (" +
        "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, " +
        "concat_ws(',', " +
        "CASE WHEN NOT coalesce(l_quantity <= 45, false) THEN 'qty_le_45' END, " +
        "CASE WHEN NOT coalesce(l_discount <= 0.08, false) THEN 'disc_le_8pct' END, " +
        "CASE WHEN NOT coalesce(l_extendedprice > 0, false) THEN 'price_pos' END, " +
        "CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), false) THEN 'flag_known' END" +
        ") AS violations FROM lineitem) " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, violations"),

    "q_scd2" ->
      // null-safe change detection (IS DISTINCT FROM ≡ Spark <=> negated);
      // legs mirror scd2Merge: kept/closed from dim by changed-key membership,
      // opened = changed updates + new keys
      ("WITH dim AS (SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey, " +
        "c_acctbal FROM customer), " +
        "upd AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal " +
        "FROM dim WHERE c_custkey % 7 = 0 " +
        "UNION ALL SELECT c_custkey + 1000000, c_name || '_new', c_nationkey, c_acctbal " +
        "FROM dim WHERE c_custkey % 97 = 0), " +
        "chg AS (SELECT u.c_custkey FROM upd u JOIN dim d USING (c_custkey) " +
        "WHERE u.c_name IS DISTINCT FROM d.c_name " +
        "OR u.c_nationkey IS DISTINCT FROM d.c_nationkey " +
        "OR u.c_acctbal IS DISTINCT FROM d.c_acctbal) " +
        "SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal, " +
        "DATE '2020-01-01' AS valid_from, " +
        "CASE WHEN chg.c_custkey IS NOT NULL THEN DATE '2021-06-01' END AS valid_to, " +
        "CAST(chg.c_custkey IS NULL AS BIGINT) AS is_current " +
        "FROM dim d LEFT JOIN chg ON d.c_custkey = chg.c_custkey " +
        "UNION ALL SELECT u.c_custkey, u.c_name, u.c_nationkey, u.c_acctbal, " +
        "DATE '2021-06-01', CAST(NULL AS DATE), CAST(1 AS BIGINT) " +
        "FROM upd u JOIN chg ON u.c_custkey = chg.c_custkey " +
        "UNION ALL SELECT u.c_custkey, u.c_name, u.c_nationkey, u.c_acctbal, " +
        "DATE '2021-06-01', CAST(NULL AS DATE), CAST(1 AS BIGINT) " +
        "FROM upd u LEFT JOIN dim d ON u.c_custkey = d.c_custkey WHERE d.c_custkey IS NULL " +
        "ORDER BY c_custkey, valid_from"),

    "q_dedup_normalized" ->
      // the oracle groups by the normalized text itself (the engine groups
      // by its sha256 — same partition, text never shuffles on the Spark side)
      ("WITH all_docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL " +
        "UNION ALL SELECT doc_id + 10000, '  ' || upper(text) || ' !! ' " +
        "FROM documents WHERE text IS NOT NULL AND doc_id % 11 = 0), " +
        "n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm FROM all_docs) " +
        "SELECT doc_id, CAST(doc_id = MIN(doc_id) OVER (PARTITION BY norm) AS BIGINT) AS keep " +
        "FROM n ORDER BY doc_id"),

    "q_c4_filter" ->
      // identical page assembly (string_agg ORDER BY doc_id ≡ array_sort of
      // (doc_id, line) structs) and identical line/page predicates
      ("WITH lines AS (SELECT doc_id // 10 AS page_id, doc_id, " +
        "substr(text, 1, CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 45 END) || " +
        "CASE WHEN doc_id % 3 <> 0 THEN '.' ELSE '' END AS line " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pages AS (SELECT page_id, string_agg(line, chr(10) ORDER BY doc_id) || " +
        "CASE WHEN page_id % 13 = 0 THEN chr(10) || 'function() { var x = 1; }' ELSE '' END || " +
        "CASE WHEN page_id % 17 = 0 THEN chr(10) || 'Lorem Ipsum dolor sit amet.' ELSE '' END " +
        "AS text FROM lines GROUP BY page_id), " +
        "f AS (SELECT page_id, text, list_filter(string_split(text, chr(10)), " +
        "l -> regexp_matches(l, '[.!?]$') AND len(string_split_regex(trim(l), ' +')) >= 5) " +
        "AS kept FROM pages), " +
        "v AS (SELECT page_id, kept, (len(kept) >= 3 " +
        "AND NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')) AS ok FROM f) " +
        "SELECT page_id, CAST(ok AS BIGINT) AS keep, CAST(len(kept) AS BIGINT) AS n_kept, " +
        "CASE WHEN ok THEN array_to_string(kept, chr(10)) END AS clean_text " +
        "FROM v ORDER BY page_id"),

    "q_triangle_count" ->
      ("WITH edges AS (SELECT l_partkey % 200 AS src, l_suppkey % 200 AS dst FROM lineitem), " +
        "e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v " +
        "FROM edges WHERE src <> dst) " +
        "SELECT (SELECT COUNT(DISTINCT x) FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)) AS n_nodes, " +
        "(SELECT COUNT(*) FROM e) AS n_edges, " +
        "(SELECT COUNT(*) FROM e e1 " +
        "JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v " +
        "JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles"),
    "q_pagerank" ->
      // 3 unrolled iterations of the identical integer recurrence; `//`
      // floors where Spark's `div` truncates — equal on positive operands
      ("WITH edges AS (SELECT DISTINCT l_partkey % 200 AS src, l_suppkey % 200 AS dst " +
        "FROM lineitem), " +
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges), " +
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src), " +
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes), " +
        "c1 AS (SELECT e.dst AS node, SUM((r.r * 85) // (100 * g.deg)) AS s " +
        "FROM edges e JOIN r0 r ON e.src = r.node JOIN deg g ON e.src = g.src GROUP BY e.dst), " +
        "r1 AS (SELECT n.node, CAST(150000 + COALESCE(c.s, 0) AS BIGINT) AS r " +
        "FROM nodes n LEFT JOIN c1 c ON n.node = c.node), " +
        "c2 AS (SELECT e.dst AS node, SUM((r.r * 85) // (100 * g.deg)) AS s " +
        "FROM edges e JOIN r1 r ON e.src = r.node JOIN deg g ON e.src = g.src GROUP BY e.dst), " +
        "r2 AS (SELECT n.node, CAST(150000 + COALESCE(c.s, 0) AS BIGINT) AS r " +
        "FROM nodes n LEFT JOIN c2 c ON n.node = c.node), " +
        "c3 AS (SELECT e.dst AS node, SUM((r.r * 85) // (100 * g.deg)) AS s " +
        "FROM edges e JOIN r2 r ON e.src = r.node JOIN deg g ON e.src = g.src GROUP BY e.dst), " +
        "r3 AS (SELECT n.node, CAST(150000 + COALESCE(c.s, 0) AS BIGINT) AS r " +
        "FROM nodes n LEFT JOIN c3 c ON n.node = c.node) " +
        "SELECT node AS node_id, r AS rank_fp FROM r3 ORDER BY node_id"),

    // PQ: shared quantize/codebook/argmin CTE text (see pqOracleCtes)
    "q_pq_encode" ->
      (pqOracleCtes +
        " SELECT vec_id, string_agg(CAST(cid AS VARCHAR), ',' ORDER BY j) AS codes " +
        "FROM enc GROUP BY vec_id ORDER BY vec_id"),

    "q_pq_topk" ->
      (pqOracleCtes +
        ", qv0 AS (SELECT qv AS q0 FROM q WHERE vec_id = 0), " +
        // d²(query_j, centroid_c_j) for every (j, c): exact longs
        "dt AS (SELECT jj.j, c.cid, CAST(list_sum(list_transform(range(8), " +
        "i -> (q0[jj.j*8+i+1] - c.cqv[jj.j*8+i+1]) * (q0[jj.j*8+i+1] - c.cqv[jj.j*8+i+1]))) " +
        "AS BIGINT) AS d2q FROM qv0, range(0, 8) jj(j), c), " +
        "adc AS (SELECT e.vec_id, CAST(SUM(dt.d2q) AS BIGINT) AS adc " +
        "FROM enc e JOIN dt ON e.j = dt.j AND e.cid = dt.cid GROUP BY e.vec_id) " +
        "SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 20"),

    "q_ivfpq_topk" -> ivfPqOracleSql,

    // the persisted-index probe is contractually rank-identical to the
    // in-plan composition — ONE oracle definition keeps them from drifting
    "q_ivfpq_index" -> ivfPqOracleSql,

    "q_knn_join_ivfpq" ->
      // PQ codes/per-query distance grid from pqOracleCtes (grid IS every
      // query's ADC table); cells/probes per the q_knn_join_ivf rules;
      // ADC(u,w) = Σ_j grid[u, j, enc[w].cid_j] in exact longs; rank =
      // (adc ASC, neighbor ASC)
      (pqOracleCtes +
        ", cc AS (SELECT vec_id AS ccid, CAST(embedding AS DOUBLE[]) AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings), " +
        "simr AS (SELECT v.vec_id, cc.ccid, ROW_NUMBER() OVER " +
        "(PARTITION BY v.vec_id ORDER BY list_cosine_similarity(ev, cv) DESC, ccid) AS rn " +
        "FROM v, cc), " +
        "build AS (SELECT vec_id AS neighbor_id, ccid AS cell FROM simr WHERE rn = 1), " +
        "probe AS (SELECT vec_id, ccid AS cell FROM simr WHERE rn <= 2), " +
        "cand AS (SELECT DISTINCT p.vec_id, b.neighbor_id FROM probe p " +
        "JOIN build b USING (cell) WHERE p.vec_id <> b.neighbor_id), " +
        "adc AS (SELECT cand.vec_id, cand.neighbor_id, CAST(SUM(g.d2) AS BIGINT) AS adc " +
        "FROM cand JOIN enc e ON e.vec_id = cand.neighbor_id " +
        "JOIN grid g ON g.vec_id = cand.vec_id AND g.j = e.j AND g.cid = e.cid " +
        "GROUP BY cand.vec_id, cand.neighbor_id) " +
        "SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc FROM " +
        "(SELECT vec_id, neighbor_id, adc, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY adc, neighbor_id) AS rank FROM adc) " +
        "WHERE rank <= 5 ORDER BY vec_id, rank"),

    "q_dup_substring" ->
      // identical strided-window generation; `//` ≡ `div` on positives
      ("WITH w AS (SELECT doc_id, unnest(list_transform(" +
        "range((len(text) - 32) // 16 + 1), " +
        "p -> substr(text, CAST(p * 16 + 1 AS INTEGER), 32))) AS win " +
        "FROM documents WHERE text IS NOT NULL AND len(text) >= 32), " +
        "dup AS (SELECT win FROM (SELECT win, COUNT(DISTINCT doc_id) AS df " +
        "FROM w GROUP BY win) WHERE df > 1) " +
        "SELECT doc_id, COUNT(*) AS n_windows, " +
        "CAST(SUM(CASE WHEN win IN (SELECT win FROM dup) THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_dup FROM w GROUP BY doc_id ORDER BY doc_id"),

    "q_skipping_scan" ->
      // the skipping read is a pure I/O optimization: values must equal
      // the plain full-scan range filter
      ("SELECT l_orderkey, l_linenumber, l_quantity, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(38,4)) AS DOUBLE) AS l_extendedprice " +
        "FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey <= 2000 " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"),

    "q_unicode_normalize" ->
      // same synthesized decomposed accents; DuckDB's utf8proc NFC /
      // strip_accents vs the JVM Normalizer must agree char-for-char
      ("WITH a AS (SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS acc " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, nfc_normalize(acc) AS nfc, strip_accents(acc) AS stripped, " +
        "CAST(len(acc) AS BIGINT) AS n_raw, " +
        "CAST(len(nfc_normalize(acc)) AS BIGINT) AS n_nfc " +
        "FROM a ORDER BY doc_id"),

    "q_skipping_zorder" ->
      // layout + manifest are pure I/O concerns: values equal the plain
      // two-range filter
      ("SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_orderkey >= 1000 AND l_orderkey <= 4000 " +
        "AND l_partkey >= 100 AND l_partkey <= 400 " +
        "ORDER BY l_orderkey, l_partkey, l_linenumber, l_quantity"),

    "q_funnel" ->
      ("WITH v AS (SELECT user_id, MIN(epoch_ns(ts)) AS t1 FROM events " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2 FROM events e " +
        "JOIN v ON e.user_id = v.user_id " +
        "WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= v.t1 GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3 FROM events e " +
        "JOIN c ON e.user_id = c.user_id " +
        "WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= c.t2 GROUP BY e.user_id) " +
        "SELECT v.user_id, t1, t2, t3 FROM v " +
        "LEFT JOIN c ON v.user_id = c.user_id " +
        "LEFT JOIN p ON v.user_id = p.user_id ORDER BY v.user_id"),

    "q_retention" ->
      ("WITH days AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "first AS (SELECT user_id, MIN(day) AS cohort FROM days GROUP BY user_id) " +
        "SELECT cohort, day - cohort AS day_offset, " +
        "CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_users " +
        "FROM days d JOIN first f ON d.user_id = f.user_id " +
        "GROUP BY cohort, day - cohort ORDER BY cohort, day_offset"),

    "q_csv_badrecords" ->
      // good-side routing must recover exactly the clean base table
      ("SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal " +
        "FROM customer ORDER BY c_custkey"),

    "q_json_badrecords" ->
      ("SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal " +
        "FROM customer ORDER BY c_custkey"),

    "q_rolling_active" ->
      ("WITH days AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "hi AS (SELECT MAX(day) AS h FROM days), " +
        "w AS (SELECT user_id, day + i AS w_day FROM days, UNNEST(range(0, 7)) AS t(i)) " +
        "SELECT w_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM w, hi WHERE w_day <= hi.h GROUP BY w_day ORDER BY day"),

    "q_time_partition" ->
      // same data-derived day window as the Spark side
      ("WITH d0 AS (SELECT MIN(epoch_ns(ts)) // 86400000000000 AS day0 FROM events) " +
        "SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts FROM events, d0 " +
        "WHERE epoch_ns(ts) BETWEEN (day0 + 7) * 86400000000000 " +
        "AND (day0 + 13) * 86400000000000 - 1 ORDER BY event_id"),

    "q_day_partition_catalog" ->
      // same data-derived window as q_time_partition (min-ts is day-aligned
      // in no fixture vintage, so floor-div like the Spark side)
      ("WITH d0 AS (SELECT MIN(epoch_ns(ts)) // 86400000000000 AS day0 FROM events) " +
        "SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts FROM events, d0 " +
        "WHERE epoch_ns(ts) BETWEEN (day0 + 7) * 86400000000000 " +
        "AND (day0 + 13) * 86400000000000 - 1 ORDER BY event_id"),

    "q_bloom_lookup" ->
      ("SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal FROM customer " +
        "WHERE c_custkey IN (3, 500, 777, 1234, 123456789) ORDER BY c_custkey"),

    "q_skipping_append" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_orderkey >= 1000 AND l_orderkey <= 2000 " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity"),

    // manifest-only aggregate must equal the full-scan aggregate
    "q_stats_pushdown" ->
      (Seq("l_extendedprice", "l_orderkey", "l_quantity").map(c =>
        s"SELECT '$c' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows, " +
          s"CAST(COUNT($c) AS BIGINT) AS n_notnull, " +
          s"CAST(MIN($c) AS DOUBLE) AS min_d, CAST(MAX($c) AS DOUBLE) AS max_d " +
          "FROM lineitem").mkString(" UNION ALL ") +
        " ORDER BY \"column\""),

    "q_dup_spans" ->
      // same windows WITH offsets; islands via the standard gaps pass
      (dupSpanCte +
        "SELECT doc_id, span_start, span_end FROM m ORDER BY doc_id, span_start"),

    "q_dedup_spans" ->
      // kept segments = gap before each span (LAG of span_end) + the tail
      // after the last span, string_agg'd in offset order; span-free docs
      // pass through via the left join
      (dupSpanCte +
        ", base AS (SELECT doc_id, text, len(text) AS L FROM documents WHERE text IS NOT NULL)" +
        ", segs AS (SELECT doc_id, COALESCE(LAG(span_end) OVER " +
        "(PARTITION BY doc_id ORDER BY span_start), 0) AS ks, span_start AS ke FROM m " +
        "UNION ALL SELECT m.doc_id, MAX(m.span_end) AS ks, MAX(b.L) AS ke " +
        "FROM m JOIN base b USING (doc_id) GROUP BY m.doc_id)" +
        ", cln AS (SELECT b.doc_id, CASE WHEN COUNT(s.ks) = 0 THEN b.text " +
        "ELSE string_agg(substr(b.text, CAST(s.ks AS INTEGER) + 1, " +
        "CAST(s.ke - s.ks AS INTEGER)), '' ORDER BY s.ks) END AS clean " +
        "FROM base b LEFT JOIN segs s USING (doc_id) GROUP BY b.doc_id, b.text) " +
        "SELECT c.doc_id, c.clean, CAST(b.L - len(c.clean) AS BIGINT) AS n_removed " +
        "FROM cln c JOIN base b USING (doc_id) ORDER BY doc_id"),

    "q_domain_affinity" ->
      // exact long masses, one final double division — same operation order
      ("WITH t2 AS (SELECT doc_id, (source = 'src0') AS is_t, tok FROM (" +
        s"SELECT doc_id, source, unnest($tokensSql) AS tok " +
        "FROM documents WHERE text IS NOT NULL) WHERE tok <> ''), " +
        "stats AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_r, " +
        "CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t FROM t2 GROUP BY tok), " +
        "tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS t_r, CAST(SUM(c_t) AS BIGINT) AS t_t " +
        "FROM stats), " +
        "tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n FROM t2 GROUP BY doc_id, tok), " +
        "j AS (SELECT tf.doc_id, CAST(SUM(tf.n * s.c_t) AS BIGINT) AS num, " +
        "CAST(SUM(tf.n * s.c_r) AS BIGINT) AS den FROM tf JOIN stats s ON tf.tok = s.tok " +
        "GROUP BY tf.doc_id) " +
        "SELECT doc_id, CAST(num * t_r AS DOUBLE) / CAST(den * t_t AS DOUBLE) AS affinity " +
        "FROM j, tot ORDER BY doc_id"),

    "q_snapshot_diff" ->
      ("WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer), " +
        "n AS (SELECT c_custkey, c_name, CASE WHEN c_custkey % 13 = 0 " +
        "THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal " +
        "FROM c WHERE c_custkey % 17 <> 0 " +
        "UNION ALL SELECT c_custkey + 2000000, c_name || '_v2', c_acctbal " +
        "FROM c WHERE c_custkey % 29 = 0) " +
        "SELECT * FROM (SELECT COALESCE(n.c_custkey, c.c_custkey) AS c_custkey, " +
        "CASE WHEN c.c_custkey IS NULL THEN 'insert' " +
        "WHEN n.c_custkey IS NULL THEN 'delete' " +
        "WHEN c.c_name IS DISTINCT FROM n.c_name " +
        "OR c.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update' END AS op " +
        "FROM c FULL OUTER JOIN n ON c.c_custkey = n.c_custkey) " +
        "WHERE op IS NOT NULL ORDER BY c_custkey"),

    "q_column_stats" ->
      (Seq("l_discount", "l_extendedprice", "l_quantity", "l_returnflag").map { c =>
        s"SELECT '$c' AS \"column\", CAST(COUNT($c) AS BIGINT) AS n_notnull, " +
          s"CAST((SELECT COUNT(*) FROM lineitem) - COUNT($c) AS BIGINT) AS n_null, " +
          s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, " +
          s"MIN(TRY_CAST($c AS DOUBLE)) AS min_d, MAX(TRY_CAST($c AS DOUBLE)) AS max_d " +
          "FROM lineitem"
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY \"column\"")),

    "q_bucketed_join" ->
      ("SELECT c.c_custkey, COUNT(*) AS n_orders, " +
        "CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total " +
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
        "GROUP BY c.c_custkey ORDER BY c.c_custkey"),

    "q_stream_dedup" ->
      // first-seen-per-key over two bit-identical deliveries = the base
      // table itself (event_id is unique in the fixture)
      ("SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts " +
        "FROM events ORDER BY event_id"),

    "q_stream_interval_join" ->
      // the interval predicate replayed in SQL on second-truncated epochs
      // (both engines compare the identical integers)
      ("SELECT c.event_id AS c_id, p.event_id AS p_id " +
        "FROM events c JOIN events p ON c.user_id = p.user_id " +
        "WHERE c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND (epoch_ns(p.ts) // 1000000000) >= (epoch_ns(c.ts) // 1000000000) - 1800 " +
        "AND (epoch_ns(p.ts) // 1000000000) <= (epoch_ns(c.ts) // 1000000000) " +
        "ORDER BY c_id, p_id"),

    "q_stream_upsert" ->
      // both commutative batches applied as one CASE over the base table,
      // plus the shifted-key inserts
      ("SELECT * FROM (" +
        "SELECT c_custkey, c_name, CAST(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 50 " +
        "WHEN c_custkey % 5 = 0 THEN 0 ELSE c_acctbal END AS DOUBLE) AS bal " +
        "FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey + 3000000 AS c_custkey, c_name || '_new' AS c_name, " +
        "CAST(c_acctbal AS DOUBLE) AS bal FROM customer WHERE c_custkey % 11 = 0" +
        ") ORDER BY c_custkey"),

    "q_stream_validate_route" ->
      // rules + violations string replayed in SQL; quarantine = any rule
      // failed (null-failing via COALESCE, matching validateRules)
      ("SELECT event_id, event_type, \"value\", " +
        "CONCAT_WS(',', " +
        "CASE WHEN COALESCE(event_type <> 'error', FALSE) THEN NULL ELSE 'no_error' END, " +
        "CASE WHEN COALESCE(\"value\" <= 100.0, FALSE) THEN NULL ELSE 'value_cap' END" +
        ") AS violations " +
        "FROM events " +
        "WHERE NOT (COALESCE(event_type <> 'error', FALSE) " +
        "AND COALESCE(\"value\" <= 100.0, FALSE)) " +
        "ORDER BY event_id"),

    "q_time_travel" ->
      // both snapshots replayed from the base table: v0 = customer, latest =
      // v1's +100-on-%10 update minus the %7 deletes (null bal for deleted)
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal_v0, " +
        "CAST(CASE WHEN c_custkey % 7 = 0 THEN NULL " +
        "WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 " +
        "ELSE c_acctbal END AS DOUBLE) AS bal_latest " +
        "FROM customer ORDER BY c_custkey"),

    "q_versioned_diff" ->
      // replay the commit semantics directly: v0 = odd keys only;
      // v3 = all keys minus %13, negatives updated — so evens (non-%13)
      // are added, %13 odds removed, negative-balance surviving odds
      // updated; everything else is unchanged and must NOT appear
      ("SELECT c_custkey, CASE " +
        "WHEN c_custkey % 2 = 1 AND c_custkey % 13 = 0 THEN 'removed' " +
        "WHEN c_custkey % 2 = 1 AND c_acctbal < 0 THEN 'updated' " +
        "WHEN c_custkey % 2 = 0 AND c_custkey % 13 <> 0 THEN 'added' " +
        "END AS change_type FROM customer WHERE " +
        "(c_custkey % 2 = 1 AND c_custkey % 13 = 0) OR " +
        "(c_custkey % 2 = 1 AND c_acctbal < 0) OR " +
        "(c_custkey % 2 = 0 AND c_custkey % 13 <> 0) " +
        "ORDER BY c_custkey"),

    "q_versioned_changes" ->
      // replay the three steps directly: step 1 adds evens, step 2 updates
      // negative balances (+1000), step 3 removes %13 keys (at their
      // post-update balance)
      ("SELECT c_custkey, CAST(1 AS BIGINT) AS version, 'added' AS change_type, " +
        "CAST(NULL AS DOUBLE) AS c_acctbal_old, CAST(c_acctbal AS DOUBLE) AS c_acctbal_new " +
        "FROM customer WHERE c_custkey % 2 = 0 " +
        "UNION ALL SELECT c_custkey, 2, 'updated', CAST(c_acctbal AS DOUBLE), " +
        "CAST(c_acctbal + 1000 AS DOUBLE) FROM customer WHERE c_acctbal < 0 " +
        "UNION ALL SELECT c_custkey, 3, 'removed', " +
        "CAST(CASE WHEN c_acctbal < 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS DOUBLE), " +
        "CAST(NULL AS DOUBLE) FROM customer WHERE c_custkey % 13 = 0 " +
        "ORDER BY version, c_custkey"),

    "q_versioned_dv" ->
      // replay: DV-delete %13 keys and negative balances (order-free:
      // both conds read original values), then +100 on surviving %7 keys
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END AS bal " +
        "FROM customer WHERE c_custkey % 13 <> 0 AND CAST(c_acctbal AS DOUBLE) >= 0 " +
        "ORDER BY c_custkey"),

    "q_dv_changes" ->
      // the masked keys surface as 'removed' with their pre-delete balance
      ("SELECT c_custkey, 2 AS version, 'removed' AS change_type, " +
        "CAST(c_acctbal AS DOUBLE) AS bal_old, CAST(NULL AS DOUBLE) AS bal_new " +
        "FROM customer WHERE c_custkey % 13 = 0 ORDER BY c_custkey"),

    "q_versioned_update_mor" ->
      // replay: drop %11 keys (DV delete), then flip surviving negative
      // balances positive (MoR update reads the old value)
      ("SELECT c_custkey, ABS(CAST(c_acctbal AS DOUBLE)) AS bal " +
        "FROM customer WHERE c_custkey % 11 <> 0 ORDER BY c_custkey"),

    "q_versioned_stats_agg" ->
      // `qty` is l_quantity renamed mid-history (column mapping) — the
      // metadata-only aggregate answers under the NEW logical name
      (Seq("l_extendedprice" -> "l_extendedprice", "qty" -> "l_quantity").map {
        case (alias, c) =>
          s"SELECT '$alias' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows, " +
            s"CAST(COUNT($c) AS BIGINT) AS n_notnull, " +
            s"CAST(MIN($c) AS DOUBLE) AS min_d, CAST(MAX($c) AS DOUBLE) AS max_d " +
            "FROM lineitem" }.mkString(" UNION ALL ") +
        " ORDER BY \"column\""),

    "q_sql_rowlevel_native" ->
      // replay: +100 on %7 keys; %3 keys forced to 500 (merge UPDATE arm
      // wins over the earlier +100); shifted %13 keys inserted at their
      // original balance; negatives dropped last
      ("SELECT * FROM (" +
        "SELECT c_custkey, CASE WHEN c_custkey % 3 = 0 THEN 500.0 " +
        "ELSE CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END END AS bal " +
        "FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey + 9000000 AS c_custkey, CAST(c_acctbal AS DOUBLE) AS bal " +
        "FROM customer WHERE c_custkey % 13 = 0" +
        ") WHERE bal >= 0 ORDER BY c_custkey"),

    "q_sql_delete_expr" ->
      // replay the three DELETEs as one survival filter
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal, c_mktsegment AS seg " +
        "FROM customer " +
        "WHERE NOT (c_custkey % 7 = 3 AND abs(CAST(c_acctbal AS DOUBLE)) > 1000) " +
        "AND NOT (length(c_mktsegment) + c_custkey % 2 = 10) " +
        "AND NOT (CAST(c_acctbal AS DOUBLE) < -900) " +
        "ORDER BY c_custkey"),

    "q_sql_merge_unmatched_source" ->
      // replay: matched (%3) keys +100; unmatched negatives purged (first
      // BY SOURCE arm), unmatched sub-1000 aged +1, the rest carry over
      ("SELECT c_custkey, bal FROM (" +
        "SELECT c_custkey, " +
        "CASE WHEN c_custkey % 3 = 0 THEN CAST(c_acctbal AS DOUBLE) + 100.0 " +
        "WHEN CAST(c_acctbal AS DOUBLE) < 1000 THEN CAST(c_acctbal AS DOUBLE) + 1.0 " +
        "ELSE CAST(c_acctbal AS DOUBLE) END AS bal, " +
        "CASE WHEN c_custkey % 3 <> 0 AND CAST(c_acctbal AS DOUBLE) < 0 " +
        "THEN 1 ELSE 0 END AS del " +
        "FROM customer) WHERE del = 0 ORDER BY c_custkey"),

    "q_convert_parquet" ->
      // replay: negatives dropped at the adopted v0 state, then +100 on
      // surviving %7 keys
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END AS bal " +
        "FROM customer WHERE CAST(c_acctbal AS DOUBLE) >= 0 " +
        "ORDER BY c_custkey"),

    "q_sql_merge_evolve" ->
      // replay: matched (%4) keys take the source row (bal+50, seg='hot');
      // other target rows null-fill the evolved column; shifted %9 keys
      // insert with seg='new'
      ("SELECT c_custkey, bal, seg FROM (" +
        "SELECT c_custkey, " +
        "CASE WHEN c_custkey % 4 = 0 THEN CAST(c_acctbal AS DOUBLE) + 50.0 " +
        "ELSE CAST(c_acctbal AS DOUBLE) END AS bal, " +
        "CASE WHEN c_custkey % 4 = 0 THEN 'hot' ELSE NULL END AS seg " +
        "FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey + 7000000 AS c_custkey, CAST(c_acctbal AS DOUBLE) AS bal, " +
        "'new' AS seg FROM customer WHERE c_custkey % 9 = 0" +
        ") ORDER BY c_custkey"),

    "q_sql_dml" ->
      // replay: +100 on %7 keys, then delete rows whose POST-update
      // balance is negative (order matters), re-layout changes no rows
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END AS bal " +
        "FROM customer WHERE CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END >= 0 " +
        "ORDER BY c_custkey"),

    "q_sql_merge_cond" ->
      // replay the three arms: matched negatives deleted (first clause
      // wins), surviving %3 matches +100, inserts filtered to inc >= 0
      // (inc = the source row's balance), name NULL on inserts
      ("SELECT * FROM (" +
        "SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 3 = 0 THEN 100.0 ELSE 0.0 END AS bal " +
        "FROM customer " +
        "WHERE NOT (c_custkey % 3 = 0 AND CAST(c_acctbal AS DOUBLE) < 0) " +
        "UNION ALL " +
        "SELECT c_custkey + 3000000 AS c_custkey, CAST(NULL AS VARCHAR) AS c_name, " +
        "CAST(c_acctbal AS DOUBLE) AS bal FROM customer " +
        "WHERE c_custkey % 11 = 0 AND CAST(c_acctbal AS DOUBLE) >= 0" +
        ") ORDER BY c_custkey"),

    "q_schema_evolution" ->
      // replay: odd keys never saw the evolved column (NULL unless the
      // update reached them); evens derive it; %99 keys of EITHER parity
      // were overwritten to 'vip' by the post-evolution update
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal, " +
        "CASE WHEN c_custkey % 99 = 0 THEN 'vip' " +
        "WHEN c_custkey % 2 = 0 THEN " +
        "(CASE WHEN CAST(c_acctbal AS DOUBLE) >= 5000 THEN 'high' ELSE 'low' END) " +
        "ELSE NULL END AS segment " +
        "FROM customer ORDER BY c_custkey"),

    "q_versioned_deltalog" ->
      // replay the 14-commit history: union of the 12 slices = all orders;
      // DV-delete (%5, status F); +100 cents on urgent-priority prices
      ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT) + " +
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 100 ELSE 0 END) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE NOT (o_orderkey % 5 = 0 AND o_orderstatus = 'F') " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    "q_schema_rename" ->
      // value history under the final name: all keys, +1000 on %99
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 99 = 0 THEN 1000.0 ELSE 0.0 END AS balance " +
        "FROM customer ORDER BY c_custkey"),

    "q_schema_drop" ->
      // pre-drop rows read NULL for the re-added column (tombstone — the
      // old physical values never resurrect); only the evolve batch's
      // shifted keys carry 're'
      ("SELECT * FROM (" +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal, " +
        "CAST(NULL AS VARCHAR) AS seg FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey + 3000000 AS c_custkey, CAST(c_acctbal AS DOUBLE) AS bal, " +
        "'re' AS seg FROM customer WHERE c_custkey % 7 = 0" +
        ") ORDER BY c_custkey"),

    "q_matview_refresh" ->
      // the incremental state must equal the full recompute over the
      // replayed final source: all keys minus %13, negatives +1000
      ("SELECT c_nationkey, COUNT(*) AS cnt, CAST(SUM(" +
        "CASE WHEN c_acctbal < 0 THEN CAST(c_acctbal AS DECIMAL(18,2)) + 1000 " +
        "ELSE CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS bal_sum " +
        "FROM customer WHERE c_custkey % 13 <> 0 " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),

    "q_matview_minmax" ->
      // replay: delete bal < -800 first (on original values), then the
      // -20000 rewrite of bal > 9800 applies to the survivors
      ("WITH final AS (SELECT c_nationkey, " +
        "CASE WHEN CAST(c_acctbal AS DOUBLE) > 9800.0 " +
        "THEN CAST(c_acctbal AS DECIMAL(18,2)) - 20000 " +
        "ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal_dec, " +
        "CASE WHEN CAST(c_acctbal AS DOUBLE) > 9800.0 " +
        "THEN CAST(c_acctbal AS DOUBLE) - 20000.0 " +
        "ELSE CAST(c_acctbal AS DOUBLE) END AS bal " +
        "FROM customer WHERE NOT (CAST(c_acctbal AS DOUBLE) < -800.0)) " +
        "SELECT c_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(bal_dec) AS DOUBLE) AS bal_sum, " +
        "MIN(bal) AS bal_min, MAX(bal) AS bal_max " +
        "FROM final GROUP BY c_nationkey ORDER BY c_nationkey"),

    "q_versioned_skipping" ->
      // list-level pruning is an I/O plan change only: result = plain filter
      ("SELECT l_orderkey, l_partkey, CAST(l_quantity AS DOUBLE) AS qty " +
        "FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey <= 5000 " +
        "ORDER BY l_orderkey, l_partkey, qty"),

    "q_cdc_replicate" ->
      // replay bronze's final state: +100 on %3, %13 deleted, %11 inserts
      // shifted (update precedes delete; the insert keys don't collide)
      ("SELECT * FROM (" +
        "SELECT c_custkey, c_name, " +
        "CAST(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100 " +
        "ELSE c_acctbal END AS DOUBLE) AS bal " +
        "FROM customer WHERE c_custkey % 13 <> 0 " +
        "UNION ALL " +
        "SELECT c_custkey + 3000000 AS c_custkey, c_name || '_new' AS c_name, " +
        "CAST(c_acctbal AS DOUBLE) AS bal FROM customer WHERE c_custkey % 11 = 0" +
        ") ORDER BY c_custkey"),

    "q_versioned_merge" ->
      // updates keep uncovered columns; inserts fill them with NULL
      ("SELECT * FROM (" +
        "SELECT c_custkey, c_name, " +
        "CAST(CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100 " +
        "ELSE c_acctbal END AS DOUBLE) AS bal FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey + 3000000 AS c_custkey, CAST(NULL AS VARCHAR) AS c_name, " +
        "CAST(c_acctbal AS DOUBLE) AS bal FROM customer WHERE c_custkey % 11 = 0" +
        ") ORDER BY c_custkey"),

    "q_versioned_compact" ->
      // compaction is a pure re-layout: the final read is the plain filter
      ("SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal " +
        "FROM customer WHERE c_custkey % 7 <> 0 ORDER BY c_custkey"),

    "q_versioned_restore" ->
      // restore to v1 undoes the %7 delete: every key present, +100 on %10
      ("SELECT c_custkey, CAST(CASE WHEN c_custkey % 10 = 0 " +
        "THEN c_acctbal + 100 ELSE c_acctbal END AS DOUBLE) AS bal " +
        "FROM customer ORDER BY c_custkey"),

    "q_versioned_clone" ->
      // the clone's own history: +500 on %5 keys, %9 keys deleted — the
      // source (asserted in-query) never sees either
      ("SELECT c_custkey, c_name, CAST(CASE WHEN c_custkey % 5 = 0 " +
        "THEN c_acctbal + 500 ELSE c_acctbal END AS DOUBLE) AS bal " +
        "FROM customer WHERE c_custkey % 9 <> 0 ORDER BY c_custkey"),

    "q_constraint_enforce" ->
      // the rejected batches left no trace; the final state is the clean
      // base plus the clipped negatives
      ("SELECT c_custkey, CAST(CASE WHEN c_acctbal < 0 THEN 0.0 " +
        "ELSE c_acctbal END AS DOUBLE) AS bal " +
        "FROM customer ORDER BY c_custkey"),

    "q_autoload_ingest" ->
      // every raw row exactly once across backfill + incremental runs
      ("SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal " +
        "FROM customer ORDER BY c_custkey"),

    "q_stream_versioned" ->
      // exactly-once across the restart and the skipped compaction:
      // every key exactly once — odds (snapshot), evens (tail), shifted
      // %11 inserts (tail); a duplicate or loss breaks the hash
      ("SELECT * FROM (" +
        "SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey + 3000000 AS c_custkey, c_name, " +
        "CAST(c_acctbal AS DOUBLE) AS bal FROM customer WHERE c_custkey % 11 = 0" +
        ") ORDER BY c_custkey"),

    "q_stream_cdf" ->
      // the full expected feed from the known history: v0 inserts (odds),
      // v1 inserts (evens), v2 update pre/post on %7, v3 deletes of %13
      // survivors (carrying the +100 where %7 applied), v4 OPTIMIZE silent
      ("SELECT * FROM (" +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal, " +
        "'insert' AS _change_type, " +
        "CAST(CASE WHEN c_custkey % 2 = 1 THEN 0 ELSE 1 END AS BIGINT) AS _commit_version " +
        "FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE), 'update_preimage', 2 " +
        "FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + 100.0, 'update_postimage', 2 " +
        "FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END, 'delete', 3 " +
        "FROM customer WHERE c_custkey % 13 = 0" +
        ") ORDER BY c_custkey, _commit_version, _change_type"),

    "q_cdf_batch" ->
      // identical algebra to q_stream_cdf's oracle — the batch feed must
      // replay the same history
      ("SELECT * FROM (" +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal, " +
        "'insert' AS _change_type, " +
        "CAST(CASE WHEN c_custkey % 2 = 1 THEN 0 ELSE 1 END AS BIGINT) AS _commit_version " +
        "FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE), 'update_preimage', 2 " +
        "FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + 100.0, 'update_postimage', 2 " +
        "FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL " +
        "SELECT c_custkey, CAST(c_acctbal AS DOUBLE) + " +
        "CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END, 'delete', 3 " +
        "FROM customer WHERE c_custkey % 13 = 0" +
        ") ORDER BY c_custkey, _commit_version, _change_type"),

    "q_stream_versioned_mirror" ->
      // the mirror must equal bronze's final state: every key exactly once
      ("SELECT * FROM (" +
        "SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal FROM customer " +
        "UNION ALL " +
        "SELECT c_custkey + 3000000 AS c_custkey, c_name, " +
        "CAST(c_acctbal AS DOUBLE) AS bal FROM customer WHERE c_custkey % 11 = 0" +
        ") ORDER BY c_custkey"),

    "q_stream_table_mirror" ->
      // catalog-addressed mirror equals the source's final state
      ("SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal " +
        "FROM customer ORDER BY c_custkey"),

    "q_stream_matview" ->
      // the incrementally-folded stream must equal the one-shot recompute
      ("SELECT c_nationkey, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum, " +
        "MIN(CAST(c_acctbal AS DOUBLE)) AS bal_min, " +
        "MAX(CAST(c_acctbal AS DOUBLE)) AS bal_max " +
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),

    "q_versioned_incremental" ->
      // v1 = both appends (the full customer key set, original balances);
      // latest = +1000 on negative balances, minus the %13 deletes
      ("SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal_v1, " +
        "CAST(CASE WHEN c_acctbal < 0 THEN c_acctbal + 1000 " +
        "ELSE c_acctbal END AS DOUBLE) AS bal_latest " +
        "FROM customer WHERE c_custkey % 13 <> 0 ORDER BY c_custkey"),

    "q_apply_changes" ->
      // the round-trip law: old snapshot + change set = new snapshot, so
      // the oracle is simply the new-snapshot definition
      ("WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer), " +
        "n AS (SELECT c_custkey, c_name, CASE WHEN c_custkey % 13 = 0 " +
        "THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal " +
        "FROM c WHERE c_custkey % 17 <> 0 " +
        "UNION ALL SELECT c_custkey + 2000000, c_name || '_v2', c_acctbal " +
        "FROM c WHERE c_custkey % 29 = 0) " +
        "SELECT c_custkey, c_name, c_acctbal FROM n ORDER BY c_custkey"),

    "q_zscore" ->
      // identical decimal power sums and operation order; lineitem
      // quantities are integers so the sums are exact at scale 4
      ("WITH s AS (SELECT l_returnflag AS g, CAST(COUNT(*) AS DOUBLE) AS n, " +
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sx, " +
        "CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, " +
        "l_returnflag, CASE WHEN n > 1.0 THEN " +
        "(CASE WHEN (sxx - sx * sx / n) / (n - 1.0) > 0.0 THEN " +
        "ROUND((CAST(l_quantity AS DOUBLE) - sx / n) / " +
        "sqrt((sxx - sx * sx / n) / (n - 1.0)), 6) END) END AS l_quantity_z " +
        "FROM lineitem JOIN s ON l_returnflag = s.g " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag"),

    "q_decontaminate_drop" ->
      // train-side mirror of decontaminateSql: per train doc, distinct
      // grams present in ANY eval doc
      ("WITH toks AS (SELECT doc_id, doc_id % 10 = 0 AS is_eval, " +
        s"$tokensSql AS tk FROM documents WHERE text IS NOT NULL), " +
        s"grams AS (SELECT doc_id, is_eval, unnest(${shinglesSql(3)}) AS gram FROM toks), " +
        "ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval), " +
        "tg AS (SELECT DISTINCT doc_id, gram FROM grams WHERE NOT is_eval), " +
        "sh AS (SELECT doc_id, CAST(SUM(CASE WHEN EXISTS " +
        "(SELECT 1 FROM ev WHERE ev.gram = tg.gram) THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_shared FROM tg GROUP BY doc_id) " +
        "SELECT doc_id, n_shared, CAST(n_shared < 3 AS BIGINT) AS kept " +
        "FROM sh ORDER BY doc_id"),

    "q_contamination_frac" ->
      // per-train-doc distinct grams, eval-hit count, rounded ratio —
      // identical CTE skeleton to q_decontaminate_drop
      ("WITH toks AS (SELECT doc_id, doc_id % 10 = 0 AS is_eval, " +
        s"$tokensSql AS tk FROM documents WHERE text IS NOT NULL), " +
        s"grams AS (SELECT doc_id, is_eval, unnest(${shinglesSql(3)}) AS gram FROM toks), " +
        "ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval), " +
        "tg AS (SELECT DISTINCT doc_id, gram FROM grams WHERE NOT is_eval), " +
        "agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
        "CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM ev WHERE ev.gram = tg.gram) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_shared FROM tg GROUP BY doc_id) " +
        "SELECT doc_id, n_grams, n_shared, " +
        "ROUND(CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS overlap_frac " +
        "FROM agg ORDER BY doc_id"),

    "q_delete_keys" ->
      ("SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal " +
        "FROM customer WHERE c_custkey % 7 <> 0 ORDER BY c_custkey"),

    "q_group_split" ->
      // group key < 1000003, so the pre-mod is identity and the bare Knuth
      // product form replays the Spark pmod chain exactly
      ("SELECT doc_id, 'site' || CAST(doc_id % 20 AS VARCHAR) AS domain, " +
        "CASE WHEN ((doc_id % 20) * 2654435761) % 100 < 80 THEN 'train' ELSE 'val' END AS split " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id"),

    "q_html_extract" ->
      // identical synthesis + extraction chain; DuckDB regexp_replace needs
      // the explicit 'g' flag (Spark's is always global)
      ("WITH h AS (SELECT doc_id, '<html><head><style>p { color: red; }</style>" +
        "<script type=\"text/javascript\">if (1 < 2) { alert(\"x&y\"); }</script>" +
        "</head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || " +
        "'<p>' || substring(text, 1, 80) || '</p><!-- hidden --> <div>tail &amp; more " +
        "&lt;b&gt; &quot;q&quot;&nbsp;end</div></body></html>' AS html " +
        "FROM documents WHERE text IS NOT NULL), " +
        "s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        "html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'), " +
        "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), " +
        "'(?s)<!--.*?-->', ' ', 'g'), '(?s)<[^>]+>', ' ', 'g') AS t FROM h), " +
        "e AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t, " +
        "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
        "'&#39;', chr(39)), '&amp;', '&') AS t FROM s1) " +
        "SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean " +
        "FROM e ORDER BY doc_id"),

    "q_sentence_split" ->
      ("WITH m AS (SELECT doc_id, replace(replace(replace(text, " +
        "'table', 'table.'), 'fast', 'fast!'), 'value', 'value?') AS marked " +
        "FROM documents WHERE text IS NOT NULL), " +
        "l AS (SELECT doc_id, list_filter(list_transform(" +
        "regexp_extract_all(marked, '[^.!?]+[.!?]*'), x -> trim(x)), x -> x != '') AS sents " +
        "FROM m) " +
        "SELECT doc_id, i AS sent_idx, sents[CAST(i AS INT) + 1] AS sentence " +
        "FROM l, UNNEST(range(0, len(sents))) AS t(i) " +
        "ORDER BY doc_id, sent_idx"),

    "q_url_canonical" ->
      // identical regexp splits (RE2-safe), tracking-param filter, and
      // lexicographic param sort; binary collation on both engines
      ("WITH u AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 4 = 0 THEN 'HTTP://' || b || '?utm_source=x&b=2&a=1#frag' " +
        "WHEN doc_id % 4 = 1 THEN 'http://' || b || '/?a=1&b=2' " +
        "WHEN doc_id % 4 = 2 THEN 'http://' || b || '?b=2&a=1&gclid=zz' " +
        "ELSE 'http://' || b || '#section' END AS url FROM (" +
        "SELECT doc_id, 'Site' || CAST(doc_id % 20 AS VARCHAR) || " +
        "'.Example.com/page/' || CAST(doc_id % 50 AS VARCHAR) AS b " +
        "FROM documents WHERE text IS NOT NULL)), " +
        "p AS (SELECT doc_id, " +
        "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch, " +
        "lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host, " +
        "regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), " +
        "'/$', '') AS path, " +
        "regexp_extract(url, '^[^#]*\\?([^#]*)', 1) AS query FROM u), " +
        "c AS (SELECT doc_id, CASE WHEN sch <> '' AND host <> '' THEN " +
        "sch || '://' || host || path || " +
        "CASE WHEN len(prm) > 0 THEN '?' || array_to_string(list_sort(prm), '&') " +
        "ELSE '' END END AS canonical FROM (SELECT *, " +
        "list_filter(string_split(query, '&'), x -> x <> '' AND " +
        "NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=')) AS prm FROM p)) " +
        "SELECT doc_id, canonical, " +
        "CAST(doc_id = MIN(doc_id) OVER (PARTITION BY canonical) AS BIGINT) AS keep " +
        "FROM c ORDER BY doc_id"),

    "q_dedup_doc_lines" ->
      // first-occurrence line dedup reconstructed via MIN(pos) per line
      ("WITH p AS (SELECT doc_id, substr(text, 1, 30) || chr(10) || " +
        "'follow us on social media' || chr(10) || substr(text, 1, 30) || chr(10) || " +
        "substr(text, 31, 30) || chr(10) || 'follow us on social media' AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "e AS (SELECT doc_id, unnest(list_transform(range(len(sp)), " +
        "i -> struct_pack(p := i, line := sp[i+1]))) AS u " +
        "FROM (SELECT doc_id, string_split(text, chr(10)) AS sp FROM p)), " +
        "m AS (SELECT doc_id, u.line AS line, MIN(u.p) AS mp FROM e GROUP BY doc_id, u.line) " +
        "SELECT doc_id, string_agg(line, chr(10) ORDER BY mp) AS clean " +
        "FROM m GROUP BY doc_id ORDER BY doc_id")
  ) ++ SqlTextQueries // q_sql_*: the Spark-side text IS the oracle text

  /** Shared DuckDB CTE prefix for the PQ queries: floor(x·1000) long
    * quantization (the q_random_projection discipline), data-row codebook
    * (cids 0..15), and per-(vector, subvector) nearest-centroid codes with
    * (d2, cid) tie-break — exactly `Similarity.pqEncode`'s argmin. */
  private val pqOracleCtes: String =
    "WITH q AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings), " +
      "c AS (SELECT CAST(vec_id AS INTEGER) AS cid, qv AS cqv FROM q WHERE vec_id < 16), " +
      "grid AS (SELECT v.vec_id, jj.j, c.cid, " +
      "CAST(list_sum(list_transform(range(8), " +
      "i -> (v.qv[jj.j*8+i+1] - c.cqv[jj.j*8+i+1]) * (v.qv[jj.j*8+i+1] - c.cqv[jj.j*8+i+1]))) " +
      "AS BIGINT) AS d2 FROM q v, range(0, 8) jj(j), c), " +
      "enc AS (SELECT vec_id, j, cid FROM (SELECT vec_id, j, cid, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn FROM grid) " +
      "WHERE rn = 1)"

  /** Shared IVF-PQ oracle (q_ivfpq_topk + q_ivfpq_index — the persisted-
    * index probe is contractually rank-identical to the in-plan
    * composition): PQ codes/distance table from [[pqOracleCtes]]; cell
    * assignment + probe selection per the q_knn_join_ivf rules (raw
    * cosine, ROW_NUMBER ties → lowest cell); final rank is the exact-long
    * (adc, vec_id) total order over rows in probed cells only. */
  private def ivfPqOracleSql: String =
    (pqOracleCtes +
      ", pq0 AS (SELECT qv AS q0 FROM q WHERE vec_id = 0), " +
      "dt AS (SELECT jj.j, c.cid, CAST(list_sum(list_transform(range(8), " +
      "i -> (q0[jj.j*8+i+1] - c.cqv[jj.j*8+i+1]) * (q0[jj.j*8+i+1] - c.cqv[jj.j*8+i+1]))) " +
      "AS BIGINT) AS d2q FROM pq0, range(0, 8) jj(j), c), " +
      "cc AS (SELECT vec_id AS ccid, CAST(embedding AS DOUBLE[]) AS cv " +
      "FROM embeddings WHERE vec_id < 8), " +
      "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings), " +
      "assign AS (SELECT vec_id, ccid AS cell FROM (SELECT v.vec_id, cc.ccid, " +
      "ROW_NUMBER() OVER (PARTITION BY v.vec_id " +
      "ORDER BY list_cosine_similarity(ev, cv) DESC, ccid) AS rn FROM v, cc) WHERE rn = 1), " +
      "qv AS (SELECT ev AS qe FROM v WHERE vec_id = 0), " +
      "probe AS (SELECT ccid FROM (SELECT cc.ccid, ROW_NUMBER() OVER " +
      "(ORDER BY list_cosine_similarity(qe, cv) DESC, ccid) AS rn FROM qv, cc) WHERE rn <= 3), " +
      "adc AS (SELECT e.vec_id, CAST(SUM(dt.d2q) AS BIGINT) AS adc " +
      "FROM enc e JOIN dt ON e.j = dt.j AND e.cid = dt.cid GROUP BY e.vec_id) " +
      "SELECT a.vec_id, CAST(s.cell AS BIGINT) AS ivf_cell, a.adc FROM adc a " +
      "JOIN assign s ON a.vec_id = s.vec_id " +
      "WHERE s.cell IN (SELECT ccid FROM probe) ORDER BY adc, a.vec_id LIMIT 20")

  /** DuckDB replica of `TextAnalysis.langId`, generated from the SAME
    * `langMarkers` table so the two can't drift. Semantics mirrored exactly:
    * marker-hit counts over identical tokenization, CJK chars weighted 2
    * (RE2 needs `\x{...}` — Java's `\uXXXX` class silently matches nothing
    * there), 0.5 'und' floor, and `list_sort(...)[-1]` = Spark's
    * `greatest(structs)`: max score, ties to the lexicographically greatest
    * code. */
  /** DuckDB expression replica of `TextAnalysis.langId` over a column named
    * `text`, generated from the SAME `langMarkers` table so the two can't
    * drift. Shared by `q_lang_id` and the `q_corpus_prep` oracle. */
  private def langIdExprSql: String = {
    val scores = TextAnalysis.langMarkers.map { case (lang, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"{'score': CAST(len(list_filter($tokensSql, w -> w IN ($inList))) AS DOUBLE), 'lang': '$lang'}"
    }
    val zh  = "{'score': CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 2 AS DOUBLE), 'lang': 'zh'}"
    val und = "{'score': CAST(0.5 AS DOUBLE), 'lang': 'und'}"
    // NULL text: every marker/CJK score is NULL and Spark's struct greatest()
    // orders null fields FIRST, so the 0.5 'und' floor wins; DuckDB's sort
    // puts NULLs last, so without the CASE a null-score struct would win and
    // [-1] would pick the wrong code
    "CASE WHEN text IS NULL THEN 'und' ELSE " +
      s"list_sort([${(scores :+ zh :+ und).mkString(", ")}])[-1].lang END"
  }

  private def langIdOracleSql: String =
    s"SELECT doc_id, lang, $langIdExprSql AS guessed_lang FROM documents ORDER BY doc_id"
}
