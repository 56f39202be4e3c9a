package graft

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Relational}
import graft.tables.TableManager
import org.apache.spark.sql.functions._

/** Catalyst-extension and physical-layout checks: the native expression,
  * the UDAF, bucketed exchange-free joins, and salted aggregation. */
class PlansSpec extends SparkSpec {

  test("graft_cosine native expression is bit-identical to the HOF form") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val q   = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val both = emb.select(
      VectorFunctions.cosine(col("embedding"), typedLit(q)).as("hof"),
      VectorFunctions.cosineNative(col("embedding"), typedLit(q)).as("native"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("graft_dot native expression is bit-identical to the HOF dot; cached-norm cosine is bit-identical to fused") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val q   = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val rows = emb.select(
      VectorFunctions.dot(col("embedding"), typedLit(q)).as("hof"),
      VectorFunctions.dotNative(col("embedding"), typedLit(q)).as("native"),
      VectorFunctions.cosineNative(col("embedding"), typedLit(q)).as("fused"),
      (VectorFunctions.dotNative(col("embedding"), typedLit(q)) /
        (VectorFunctions.norm2Native(col("embedding")) *
          VectorFunctions.norm2Native(typedLit(q)))).as("cached"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "dot: HOF vs native")
      // the k-NN join's cached-norm decomposition must reproduce the fused
      // cosine EXACTLY — same folds, same final multiply/divide order
      assert(r.getDouble(2) == r.getDouble(3), "cosine: fused vs cached-norm")
    }
  }

  test("graft_cosine is callable from SQL (extension registration)") {
    Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("emb_v")
    val n = spark.sql(
      "SELECT graft_cosine(embedding, embedding) AS c FROM emb_v").collect()
    assert(n.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("graft_cosine fails fast on mismatched vector dimensions") {
    import spark.implicits._
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorFunctions.cosineNative(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("mismatched vector dimensions") ||
      e.getCause != null && e.getCause.getMessage.contains("mismatched vector dimensions"))
  }

  test("graft_cosine rejects wrong input types with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_cosine('a', 'b')").collect()
    }
    assert(e.getMessage.contains("graft_cosine") || e.getMessage.contains("DATATYPE"))
  }

  test("MinHashUnion UDAF: group signature = element-wise min of row signatures") {
    import spark.implicits._
    val df = Seq(
      ("g1", "alpha beta gamma"),
      ("g1", "delta epsilon zeta"),
      ("g2", "eta theta iota")).toDF("grp", "text")
    val sigUdf = Dedup.minHashSignatureUdf(1, 16)
    val rows   = df.select(col("grp"), sigUdf(col("text")).as("sig"))
    val manual = rows.collect().filter(_.getString(0) == "g1").map(_.getSeq[Long](1))
      .reduce((a, b) => a.zip(b).map { case (x, y) => math.min(x, y) })
    val grouped = Dedup.groupMinHashSignatures(df, "text", "grp", shingleN = 1, numHashes = 16)
      .where(col("grp") === "g1").head().getSeq[Long](1)
    assert(grouped == manual)
  }

  test("MinHashUnion skips null signatures (null-text rows in a group)") {
    import spark.implicits._
    val df = Seq(("g", "alpha beta"), ("g", null.asInstanceOf[String])).toDF("grp", "text")
    val out = Dedup.groupMinHashSignatures(df, "text", "grp", shingleN = 1, numHashes = 16)
    assert(out.count() == 1)
    assert(out.head().getSeq[Long](1).length == 16)
  }

  test("co-bucketed tables join without a shuffle exchange") {
    // clear any stale warehouse leftovers from interrupted earlier runs
    Seq("b_orders", "b_lineitem").foreach { t =>
      TableManager.dropTable(spark, t)
      TableManager.deleteDir(spark, s"spark-warehouse/$t")
    }
    val orders = Tables.load(spark, sfDir, "orders")
    val li     = Tables.load(spark, sfDir, "lineitem")
    TableManager.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    TableManager.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 4)
    // Force the sort-merge path (at fixture scale Spark would broadcast and
    // ignore bucketing; at 100 TB neither side broadcasts).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"), "o_orderkey")
      val plan   = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must use bucket layout:\n$plan")
      assert(joined.count() == li.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    TableManager.dropTable(spark, "b_orders"); TableManager.dropTable(spark, "b_lineitem")
  }

  test("asofJoin plans as union + window: no join operator, no pair blowup") {
    val ev = Tables.load(spark, sfDir, "events").select(col("event_id"), col("user_id"),
      expr("ts div 1000").as("t"), col("event_type"), col("value"))
    val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "t")
    val buys = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "t").agg(max("value").as("v"))
    val out  = Relational.asofJoin(clicks, buys, Seq("user_id"), "t", "t", Seq("v"))
    val plan = out.queryExecution.executedPlan.toString
    // the scalable property: an inequality join would plan a nested-loop /
    // range join that explodes per key; the union+window shape never joins
    assert(!plan.toLowerCase.contains("join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("Window"), s"expected a window operator:\n$plan")
    assert(out.count() == clicks.count())
  }

  test("MinHashAgreement native expression matches the HOF estimatedJaccard") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)),
      (Seq(5L, 5L), Seq(5L, 5L))).toDF("a", "b")
    val rows = df.select(
      Dedup.estimatedJaccard(col("a"), col("b")).as("hof"),
      Dedup.estimatedJaccardNative(col("a"), col("b")).as("native")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows(0).getDouble(1) == 0.5 && rows(1).getDouble(1) == 1.0)
  }

  test("hive-style partitioned write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/docs"
    Tables.load(spark, sfDir, "documents").write.partitionBy("lang").parquet(dir)
    val pruned = spark.read.parquet(dir).where(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"expected partition filters in:\n$scan")
    val expected = Tables.load(spark, sfDir, "documents").where(col("lang") === "en").count()
    assert(pruned.count() == expected)
  }

  test("persisted IVF index: probe scans only the probed cells' partitions") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb  = Tables.load(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString + "/idx"
    val centroids = Similarity.buildIvfIndex(emb, "embedding", "vec_id", k = 8, path)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val probe = Similarity.probeIvfIndex(spark, path, "vec_id", "embedding", q, centroids,
      k = 10, nProbes = 3)
    val scan = probe.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scan.nonEmpty, "expected a file scan in the probe plan")
    // partition pruning is THE point of the persisted index: the pruned scan
    // must select exactly the probed cells' directories, not the whole table
    val selected = scan.map(_.selectedPartitions.partitionCount).sum
    assert(selected == 3, s"probe must read exactly nProbes=3 partitions, read $selected")
    assert(probe.count() == 10)
    // stale-index guard: a source-fingerprint mismatch (regenerated dataset,
    // even at identical row count) refuses the persisted centroids
    val fp = Similarity.sourceFingerprint(emb)
    assert(Similarity.loadIvfCentroids(spark, path, Some(fp)).isDefined)
    assert(Similarity.loadIvfCentroids(spark, path, Some(fp + "x")).isEmpty)
    // probe results match the direct (unpersisted) IVF path on the same centroids
    val direct = Similarity.annIvfTopK(emb, "embedding", "vec_id", q, centroids,
      k = 10, nProbes = 3).collect()
    assert(probe.collect().toSeq == direct.toSeq)
  }

  test("persisted IVF-PQ index: code-only probe partition-prunes and matches the in-plan composition") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb  = Tables.load(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec").toString + "/idx"
    val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    Similarity.buildIvfPqIndex(emb, "embedding", "vec_id", cents,
      m = 8, kCodes = 16, dim = 64, indexPath = path)
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val probe = Similarity.probeIvfPqIndex(spark, path, "vec_id", q, cents,
      Similarity.loadPqCodebook(path).get, m = 8, dim = 64, n = 15, nProbes = 3)
    val scans = probe.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scans.map(_.selectedPartitions.partitionCount).sum == 3,
      "probe must read exactly nProbes=3 cell partitions")
    // no vector column anywhere in the probe plan — codes only
    val schemaStr = scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")
    assert(!schemaStr.contains("embedding"), s"probe read raw vectors: $schemaStr")
    // rank-identical to the in-plan composition over the same parameters
    val direct = Similarity.ivfPqTopK(emb, "embedding", "vec_id", q, cents,
      nProbes = 3, m = 8, k = 16, dim = 64, n = 15)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val stored = probe.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(stored == direct, "stored-code probe diverged from the in-plan IVF-PQ")
  }

  test("approx_count_distinct (HLL) lands within 5% of exact") {
    val ev = Tables.load(spark, sfDir, "events")
    val row = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("approx_percentile (quantile sketch) lands within the accuracy bound of exact") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val row = li.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx")).head()
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    // accuracy=1000 bounds the RANK error to n/1000; translate to a loose
    // value-relative check appropriate for this distribution
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("mergeUpsert never plans a full-outer join; small update batch broadcasts") {
    val target = Tables.load(spark, sfDir, "customer")
    val src = target.limit(10)
      .select(col("c_custkey"), (col("c_acctbal") * 2).as("c_acctbal"))
    val out = TableManager.mergeUpsert(target, src, Seq("c_custkey"))
    // logical shape: LeftOuter (update) + LeftAnti (insert), never FullOuter —
    // FullOuter cannot broadcast, so it would shuffle the whole target
    val logical = out.queryExecution.optimizedPlan.toString
    assert(!logical.contains("FullOuter"), s"merge must not plan FullOuter:\n$logical")
    assert(logical.contains("LeftOuter") && logical.contains("LeftAnti"),
      s"expected LeftOuter + LeftAnti:\n$logical")
    out.collect() // let AQE finalize join strategies
    val physical = out.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"small source must broadcast under the update join:\n$physical")
  }

  test("declared scan queries push filters and prune columns at the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scans(name: String) =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
        .collect { case s: FileSourceScanExec => s }
    // q_filter_pushdown: the shipdate/quantity predicates must reach the scan
    val f = scans("q_filter_pushdown")
    assert(f.nonEmpty && f.exists(s => s.metadata("PushedFilters") != "[]"),
      s"expected non-empty PushedFilters, got ${f.map(_.metadata("PushedFilters"))}")
    // q_scan_project: a 5-column projection over the 16-column lineitem must
    // prune the read schema — a scan reading all columns is wrong (§2 P1)
    val p = scans("q_scan_project")
    assert(p.nonEmpty && p.forall(_.requiredSchema.fields.length <= 6),
      s"expected pruned ReadSchema (<=6 cols), got ${p.map(_.requiredSchema.fields.length)}")
  }

  test("pqEncode kernel: exchange-free map-side plan, codes ≡ relational HOF form") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val enc = graft.operators.Similarity.pqEncode(emb, "embedding", "vec_id",
      m = 8, k = 16, dim = 64)
    // closure-shipped codebook → scan + project only, no join, no exchange
    val plan = enc.queryExecution.executedPlan.toString
    val shuffles = "ShuffleExchange|Exchange hashpartitioning|Exchange rangepartitioning".r
      .findAllIn(plan).length
    assert(shuffles == 0, s"kernel encode must be exchange-free, got $shuffles:\n$plan")
    // kernel ≡ relational HOF reference, code for code
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val hof = codes(graft.operators.Similarity.pqEncodeRelational(
      emb, "embedding", "vec_id", m = 8, k = 16, dim = 64))
    val kernel = codes(enc)
    assert(kernel == hof, "kernel and relational PQ codes must be identical")
  }

  test("ivfPqTopK plans exchange-free: cell filter + ADC kernel + TakeOrdered") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val q = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val top = graft.operators.Similarity.ivfPqTopK(emb, "embedding", "vec_id", q,
      cents, nProbes = 3, m = 8, k = 16, dim = 64, n = 10)
    // probe = map-side cell filter over the scan, ADC via closure-shipped
    // tables, rank via TakeOrderedAndProject — no join, no wide exchange
    val plan = top.queryExecution.executedPlan.toString
    val shuffles = "ShuffleExchange|Exchange hashpartitioning|Exchange rangepartitioning".r
      .findAllIn(plan).length
    assert(shuffles == 0, s"IVF-PQ probe must be exchange-free, got $shuffles:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$plan")
  }

  test("phashDf is a map-side pass; statsOnlyAggregate never touches data files in-plan") {
    import spark.implicits._
    // a real 1×1 PNG: ConvertToLocalRelation evaluates UDFs over local
    // relations at optimization time, so the payload must decode
    val img = new java.awt.image.BufferedImage(1, 1, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val imgs = Seq(("a", out.toByteArray)).toDF("img_id", "content")
    val plan = graft.image.Perceptual.phashDf(imgs, "content", "img_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"phash must be map-side:\n$plan")
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_stats").toString + "/t"
    graft.tables.VersionedTable.commit(spark,
      Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
        .repartitionByRange(4, col("l_orderkey")), dir)
    graft.tables.VersionedStats.refresh(spark, dir, Seq("l_orderkey"))
    val stats = graft.tables.VersionedStats.statsOnlyAggregate(spark, dir, Seq("l_orderkey"))
    // the only file source in the plan is the version's stats manifest
    val scan = stats.queryExecution.executedPlan.toString
    val fileScans = scan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(fileScans.nonEmpty, s"stats manifest scan missing:\n$scan")
    assert(fileScans.forall(_.contains("/_stats/")),
      s"data files entered the stats-only plan:\n$scan")
  }

  test("saltedAggregate matches direct aggregation (algebraic aggs)") {
    val ev = Tables.load(spark, sfDir, "events")
    val salted = Relational.saltedAggregate(
      ev, "event_type", saltBuckets = 8,
      partialAggs = Seq(count(lit(1)).as("pc"), max("value").as("pm")),
      mergeAggs = Seq(sum("pc").as("n"), max("pm").as("max_value")))
      .orderBy("event_type").collect()
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("value").as("max_value"))
      .orderBy("event_type").collect()
    assert(salted.length == direct.length)
    salted.zip(direct).foreach { case (s, d) =>
      assert(s.getString(0) == d.getString(0) && s.getLong(1) == d.getLong(1) && s.getDouble(2) == d.getDouble(2))
    }
  }

  test("appendToIvfIndex: probe ≡ direct scan over base+batch; untouched cells byte-identical; pruning intact") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb  = Tables.load(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString + "/idx"
    val base  = emb.where(col("vec_id") < 400)
    val batch = emb.where(col("vec_id") >= 400 && col("vec_id") < 405) // tiny: leaves cells untouched
    val centroids = Similarity.buildIvfIndex(base, "embedding", "vec_id", k = 8, path)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    assert(Similarity.appendToIvfIndex(batch, "embedding", "vec_id", path)
      .map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq, "centroids unchanged by append")
    // cells the 5-vector batch didn't hash into keep byte-identical files
    val touched = Similarity.assignCells(batch, "embedding", centroids)
      .select("ivf_cell").distinct().collect().map(r => f"ivf_cell=${r.getInt(0)}").toSet
    assert(touched.size < 8, "test needs untouched cells to compare")
    val untouchedBefore = before.filterNot { case (p, _) => touched.exists(p.contains) }
    assert(untouchedBefore.nonEmpty &&
      files().filterNot { case (p, _) => touched.exists(p.contains) } == untouchedBefore,
      "append must not rewrite untouched cell partitions")
    // probe over the appended index ≡ the direct assignment scan over base+batch
    val q = emb.where(col("vec_id") === 1).select("embedding").head().getSeq[Float](0).toArray
    val viaIndex = Similarity.probeIvfIndex(spark, path, "vec_id", "embedding", q,
      centroids, k = 10, nProbes = 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = Similarity.annIvfTopK(base.unionByName(batch), "embedding", "vec_id", q,
      centroids, k = 10, nProbes = 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == direct)
    // partition pruning and sidecar semantics survive the append
    val scan = Similarity.probeIvfIndex(spark, path, "vec_id", "embedding", q,
        centroids, k = 10, nProbes = 3)
      .queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scan.map(_.selectedPartitions.partitionCount).sum == 3)
    assert(Similarity.ivfAppendedFingerprints(path).size == 1)
    assert(Similarity.loadIvfCentroids(spark, path).exists(_.length == 8))
    // appending to a non-index fails loudly
    val e = intercept[RuntimeException] {
      Similarity.appendToIvfIndex(batch, "embedding", "vec_id", path + "_missing")
    }
    assert(e.getMessage.contains("buildIvfIndex"), e.getMessage)
  }

  test("heavyHitters confirm pass: candidate prune is a broadcast join, no sort-merge") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sfDir, "documents")
    val hh   = TextAnalysis.heavyHitters(docs, "text", support = 0.005)
    val plan = hh.queryExecution.executedPlan.toString
    // the candidate set is ≤ k·partitions rows by construction — if it ever
    // sort-merge-joined, the full token stream would shuffle, which is
    // exactly what the MG prune exists to avoid
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast candidate join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"token stream must not shuffle for the join:\n$plan")
  }

  test("VersionedTable.read scans exactly one version directory") {
    import graft.tables.VersionedTable
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_plan").toString + "/t"
    (0 until 3).foreach(i =>
      VersionedTable.commit(spark, Seq((i.toLong, i)).toDF("id", "v"), dir))
    val pinned = VersionedTable.read(spark, dir, Some(1L))
    val scans = pinned.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // time travel must not list or read sibling versions: the scan's root
    // paths are exactly the pinned version's manifest files
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toUri.getPath)).toSet
    val pinnedFiles = VersionedTable.filesOf(dir, 1L)
      .map(rel => new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir), rel).toUri.getPath).toSet
    assert(roots == pinnedFiles, s"scan roots: $roots")
  }
}
