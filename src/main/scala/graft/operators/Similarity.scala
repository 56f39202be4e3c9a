package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ArrayType(FloatType)`).
  *
  * Two tiers, per the north-star contract:
  *  - [[cosineTopK]]: brute-force exact scan — the correctness baseline.
  *    Plans as a map-side cosine + TakeOrderedAndProject (per-partition
  *    top-k heaps, k-way merge on the driver) — no global sort, no shuffle
  *    of the vectors, O(k) driver memory. At 100 TB this is one scan.
  *  - [[annLshTopK]]: random-hyperplane LSH pre-filter — candidates within a
  *    Hamming radius of the query signature are re-ranked exactly. Cuts the
  *    cosine evaluations to the candidate set while still reading with full
  *    pushdown; the signature is a per-row fold (zero shuffle).
  */
object Similarity {

  /** Literal column for a query vector. */
  def queryVec(q: Array[Float]): Column = typedLit(q)

  /** Rank/threshold guard: a zero-norm (or null) vector yields cosine
    * NaN/null, and since SPARK-32110 NaN orders ABOVE every real double —
    * unguarded, degenerate rows would capture the whole top-k and pass any
    * `>= threshold` filter. Drop them before ranking. */
  private def validCos(c: Column): Column = c.isNotNull && !isnan(c)

  /** Brute-force exact cosine top-k against a single query vector.
    * `cos` is rounded to 6 decimals (bit-stable vs the DuckDB oracle) and
    * the ordering ties on id for determinism. Zero-norm/null vectors are
    * excluded (see [[validCos]]). */
  def cosineTopK(df: DataFrame, vecCol: String, idCol: String, q: Array[Float], k: Int): DataFrame =
    df.select(
        col(idCol),
        round(cosineNative(col(vecCol), queryVec(q)), 6).as("cos"))
      .where(validCos(col("cos")))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)

  /** Brute-force MAX-INNER-PRODUCT top-k against a single query vector —
    * the retrieval scoring for un-normalized embeddings (two-tower
    * recommenders, learned-sparse retrieval), where magnitude carries
    * signal and cosine's normalization would erase it. Same determinism
    * contract as [[cosineTopK]]: sequential double fold, rounded to 6
    * decimals, id tie-break; same plan shape (one scan →
    * TakeOrderedAndProject, no shuffle of vectors). The classic
    * norm-augmentation reduction (Bachrach et al. 2014) maps MIPS onto any
    * cosine ANN index when the brute-force scan outgrows one pass. */
  def mipsTopK(df: DataFrame, vecCol: String, idCol: String, q: Array[Float], k: Int): DataFrame =
    df.select(
        col(idCol),
        round(dotNative(col(vecCol), queryVec(q)), 6).as("ip"))
      .where(validCos(col("ip")))
      .orderBy(desc("ip"), col(idCol))
      .limit(k)

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval rank
    * lists — the standard hybrid-search combiner (lexical BM25/tf leg +
    * dense embedding leg): `rrf(d) = Σ_leg 1/(kRrf + rank_leg(d))`, robust
    * to the legs' incomparable score scales because only RANKS enter.
    * Inputs carry (`idCol`, `rank`); a doc absent from one leg contributes
    * 0 for it (full-outer join). The two reciprocal terms are each one
    * IEEE division of exact integers and are added in a fixed order
    * (a-leg + b-leg), rounded to 6 decimals — bit-reproducible across
    * engines.
    *
    * Scale shape: rank lists are top-k bounded by construction (each leg
    * is already a TakeOrdered result), so the fusion join is k-vs-k —
    * broadcast territory regardless of corpus size. */
  def rrfFuse(rankA: DataFrame, rankB: DataFrame, idCol: String, kRrf: Int = 60): DataFrame = {
    val termA = lit(1.0) / (lit(kRrf).cast("double") + col("rank_a").cast("double"))
    val termB = lit(1.0) / (lit(kRrf).cast("double") + col("rank_b").cast("double"))
    rankA.select(col(idCol), col("rank").as("rank_a"))
      .join(rankB.select(col(idCol), col("rank").as("rank_b")), Seq(idCol), "full_outer")
      .select(col(idCol),
        round(coalesce(termA, lit(0.0)) + coalesce(termB, lit(0.0)), 6).as("rrf"))
  }

  /** Exact k-NN JOIN: for every vector of `df`, its `k` nearest neighbors
    * (cosine, self excluded) among all the others. Output
    * (idCol, rank, neighbor_id, cos) with rank 1..k ordered by
    * (cos desc, neighbor_id asc) — cos rounded to 6 decimals first so the
    * rank order is a function of the ROUNDED value and ties break on id,
    * keeping the ordering bit-stable across engines.
    *
    * Plan shape: the neighbor side is `broadcast()` — the join is a
    * BroadcastNestedLoopJoin producing (id, id, cos) score triples only
    * (vectors never shuffle), then a per-id window top-k over the scores.
    * This is inherently O(n²) scoring: correct and profitable only while
    * one side fits in a broadcast (≲ low millions of rows). At 100 TB use
    * [[knnJoinIvf]], which joins by shared IVF cell instead. */
  /** Relational reference form of [[knnJoinExact]] — broadcast join +
    * bounded partial top-k. The declared query runs the kernel form (the
    * 4M-pair join machinery dominates its cost); VectorFunctionsSpec
    * asserts the two are row-identical on the fixtures. */
  private[graft] def knnJoinExactRelational(
      df: DataFrame, vecCol: String, idCol: String, k: Int): DataFrame = {
    // norms cached once per ROW; each of the O(n²) pairs then pays one dot
    // instead of three (dot + both norms) — bit-identical (see DotProduct)
    val left  = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm2Native(col(vecCol)).as("nrm"))
    val right = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"),
      norm2Native(col(vecCol)).as("nnrm"))
    val scored = left.join(broadcast(right), col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"),
        round(dotNative(col("vec"), col("nvec")) / (col("nrm") * col("nnrm")), 6).as("cos"))
      .where(validCos(col("cos")))
    // bounded partial top-k: each id's pairs are already co-located after
    // the broadcast join, so the aggregation truncates to k map-side and
    // the shuffle carries n·k rows, not the O(n²) scored pairs a window
    // rank would move
    topKPerId(scored, idCol, k)
  }

  /** Cache (id, vec, ‖vec‖) for a neighbor array — in-order double fold,
    * the same arithmetic norm2Native performs. */
  private def withNorms(rows: Array[(Long, Array[Float])]): Array[(Long, Array[Float], Double)] =
    rows.map { case (id, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      (id, v, math.sqrt(s))
    }

  /** THE shared exact-scoring kernel of [[knnJoinExact]] and [[knnJoinIvf]]
    * (one copy so the parity/oracle contracts can't de-sync): in-order dot,
    * cos = dot/(‖a‖·‖b‖), HALF_UP rounding to 6 (what Catalyst Round does),
    * NaN and self pairs skipped, bounded insertion heap in (cos DESC,
    * id ASC) order. Emits this row's top-k as rank-ordered (cos, id). */
  private def scoreTopK(
      id: Long, vec: Array[Float],
      others: Array[(Long, Array[Float], Double)], k: Int): Iterator[(Double, Long)] = {
    var s = 0.0; var i = 0
    while (i < vec.length) { s += vec(i).toDouble * vec(i); i += 1 }
    val nrm = math.sqrt(s)
    val top = new scala.collection.mutable.ArrayBuffer[(Double, Long)](k + 1)
    var j = 0
    while (j < others.length) {
      val (nid, nvec, nnrm) = others(j)
      if (nid != id && nvec.length == vec.length) {
        var d = 0.0; var t = 0
        while (t < vec.length) { d += vec(t).toDouble * nvec(t); t += 1 }
        val cos0 = d / (nrm * nnrm)
        // Rounding prune (r18, guide §1.2 "per-task work"): the decimal
        // rounding below costs a BigDecimal round-trip PER PAIR — on an
        // O(n²) scoring pass that is the hot allocation. HALF_UP to 6dp
        // moves a value by at most 5e-7; the margin is 1e-6 (double the
        // theoretical bound — ADVICE r18) so the double-arithmetic guard
        // is PROVABLY above any half-ulp edge where a candidate rounding
        // exactly to kth could still enter via the id tie-break. A
        // candidate with cos0 + 1e-6 < kth cannot round to ≥ kth and can
        // never enter — skip it before rounding. Results are bit-identical
        // (the prune only discards candidates the insert would reject).
        val kth = if (top.length == k) top(k - 1)._1 else Double.NegativeInfinity
        if (!cos0.isNaN && cos0 + 1e-6 >= kth) {
          val cos = java.math.BigDecimal.valueOf(cos0)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          val pos = top.indexWhere(e => e._1 < cos || (e._1 == cos && e._2 > nid))
          if (pos >= 0) { top.insert(pos, (cos, nid)); if (top.length > k) top.remove(k) }
          else if (top.length < k) top += ((cos, nid))
        }
      }
      j += 1
    }
    top.iterator
  }

  /** Raise map-side parallelism for the broadcast-scoring kernels: a
    * compute-dense O(n·broadcast) pass inherits the SCAN's partitioning,
    * which for a small/compacted input can be far below the cores
    * available (one fixture file = one task doing the whole O(n²) score).
    * A round-robin repartition of the (id, vec) rows costs one shuffle of
    * the input — negligible against the scoring it parallelizes — and is
    * applied only when the scan is under-partitioned, so a well-
    * partitioned 100 TB input keeps its layout and pays nothing. */
  private def parallelizeScoring[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] = {
    val target = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < target) ds.repartition(target) else ds
  }

  def knnJoinExact(df: DataFrame, vecCol: String, idCol: String, k: Int,
      maxBroadcastRows: Long = 4000000L): DataFrame = {
    // Kernel form: the neighbor side ships as ONE broadcast array (the
    // same broadcastability contract as the relational form — this join is
    // only legal while one side fits a broadcast) and each left partition
    // scores against it in a tight loop with a bounded top-k heap. The
    // arithmetic replicates the relational path exactly: in-order dot,
    // norms cached per row, cos = dot/(na·nb), HALF_UP rounding to 6 (what
    // Catalyst Round does), (cos DESC, id ASC) order, NaN/zero-norm rows
    // skipped — row-identical results (parity spec), ~5× less overhead
    // than driving 4M pairs through join machinery.
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"), col(vecCol))
      .where(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
    // ENFORCED broadcastability contract (not just documented): ONE
    // BOUNDED collect (limit cap+1) both proves the bound and delivers the
    // neighbor side — the driver never materializes more than cap+1 rows,
    // failing loudly instead of dying opaquely in an unbounded collect(),
    // and the separate count() pre-pass job (a second scan) is gone. The
    // exact join is O(n²) by nature; past this bound it is the wrong
    // operator, not a tuning problem.
    require(maxBroadcastRows < Int.MaxValue.toLong,
      s"knnJoinExact: maxBroadcastRows=$maxBroadcastRows cannot be enforced " +
        "(limit() caps at Int.MaxValue, so a larger bound would silently " +
        "truncate the neighbor side) — a corpus that size needs knnJoinIvf")
    val neigh = rows.limit(maxBroadcastRows.toInt + 1).collect()
    require(neigh.length <= maxBroadcastRows,
      s"knnJoinExact needs the neighbor side collected + broadcast to every " +
        s"executor, but it exceeds maxBroadcastRows=$maxBroadcastRows. " +
        s"At this scale use knnJoinIvf (cell-local candidate generation, no " +
        s"broadcast of the corpus) or raise maxBroadcastRows deliberately.")
    val bc = spark.sparkContext.broadcast(withNorms(neigh))
    parallelizeScoring(rows).flatMap { case (id, vec) =>
      scoreTopK(id, vec, bc.value, k).zipWithIndex
        .map { case ((cos, nid), r) => (id, (r + 1).toLong, nid, cos) }
    }.toDF(idCol, "rank", "neighbor_id", "cos")
  }

  /** Relational reference form of [[hardNegatives]] — the knnJoinExact
    * broadcast join with the cross-label predicate added. Declared query
    * runs the kernel form; parity spec in VectorFunctionsSpec. */
  private[graft] def hardNegativesRelational(
      df: DataFrame, vecCol: String, idCol: String, labelCol: String, k: Int): DataFrame = {
    val base  = df.where(col(labelCol).isNotNull)
    val left  = base.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm2Native(col(vecCol)).as("nrm"), col(labelCol).cast("int").as("lbl"))
    val right = base.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"),
      norm2Native(col(vecCol)).as("nnrm"), col(labelCol).cast("int").as("nlbl"))
    val scored = left.join(broadcast(right),
        col("id") =!= col("neighbor_id") && col("lbl") =!= col("nlbl"))
      .select(col("id"), col("neighbor_id"),
        round(dotNative(col("vec"), col("nvec")) / (col("nrm") * col("nnrm")), 6).as("cos"))
      .where(validCos(col("cos")))
    topKPerId(scored, idCol, k)
  }

  /** Contrastive hard-negative mining: for every labeled vector, its `k`
    * most-similar vectors carrying a DIFFERENT label — the standard
    * negative-sampling pass for contrastive/triplet embedding training
    * (high-cosine cross-class pairs are exactly the ones a margin loss
    * learns most from). Output (idCol, rank, neighbor_id, cos), rank 1..k
    * by (cos DESC, id ASC) on the 6-decimal-rounded cosine — the
    * [[knnJoinExact]] determinism contract, so the operator is fully
    * oracle-checkable. Null-label and null-vector rows are excluded from
    * both sides (a row with no class can be neither anchor nor negative).
    *
    * Plan shape: identical to [[knnJoinExact]] — the labeled neighbor side
    * ships as ONE broadcast array (bound ENFORCED, same loud guard) and
    * each anchor partition scores a tight loop with the shared
    * [[scoreTopK]] kernel. The cross-label exclusion is precomputed ONCE
    * per (partition, label) as a complement array — labels are few, so
    * that is a handful of array copies, zero per-row allocation — not a
    * per-pair branch in the hot loop and not a per-row filter. At corpus
    * scale mine within IVF cells first ([[knnJoinIvf]] candidates), then
    * apply the label exclusion to the candidate pairs. */
  def hardNegatives(df: DataFrame, vecCol: String, idCol: String, labelCol: String, k: Int,
      maxBroadcastRows: Long = 4000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"), col(vecCol), col(labelCol).cast("int"))
      .where(col(vecCol).isNotNull && col(labelCol).isNotNull)
      .as[(Long, Array[Float], Int)]
    // same bounded-collect contract as knnJoinExact: one job, cap enforced
    require(maxBroadcastRows < Int.MaxValue.toLong,
      s"hardNegatives: maxBroadcastRows=$maxBroadcastRows cannot be enforced " +
        "(limit() caps at Int.MaxValue, so a larger bound would silently " +
        "truncate the neighbor side) — generate candidates with knnJoinIvf")
    val neigh = rows.limit(maxBroadcastRows.toInt + 1).collect()
    require(neigh.length <= maxBroadcastRows,
      s"hardNegatives scores every cross-label pair against a broadcast " +
        s"neighbor side, but it exceeds maxBroadcastRows=$maxBroadcastRows. " +
        s"At this scale generate candidates with knnJoinIvf (cell-local " +
        s"pairs) and filter to cross-label, or raise maxBroadcastRows " +
        s"deliberately.")
    val labeled = neigh.map { case (id, v, l) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      (id, v, math.sqrt(s), l)
    }
    val bc = spark.sparkContext.broadcast(labeled)
    parallelizeScoring(rows).mapPartitions { it =>
      val all  = bc.value
      val comp = scala.collection.mutable.Map.empty[Int, Array[(Long, Array[Float], Double)]]
      it.flatMap { case (id, vec, lbl) =>
        val others = comp.getOrElseUpdate(lbl,
          all.collect { case (nid, nv, nn, nl) if nl != lbl => (nid, nv, nn) })
        scoreTopK(id, vec, others, k).zipWithIndex
          .map { case ((cos, nid), r) => (id, (r + 1).toLong, nid, cos) }
      }
    }.toDF(idCol, "rank", "neighbor_id", "cos")
  }

  /** Relational reference form of [[knnJoinIvf]] — cell equi-join +
    * rounded-cosine collapse + bounded partial top-k. The declared query
    * runs the kernel form (cell-local scoring through join machinery
    * dominated its cost the same way the exact join's did);
    * VectorFunctionsSpec asserts the two are row-identical on the
    * fixtures. */
  private[graft] def knnJoinIvfRelational(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      centroids: Array[Array[Float]],
      nProbes: Int = 2): DataFrame = {
    require(centroids.nonEmpty && nProbes >= 1, "need centroids and nProbes >= 1")
    val sims  = array(centroids.map(c => cosineNative(col("vec"), typedLit(c))): _*)
    val base  = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm2Native(col(vecCol)).as("nrm"))
    // build side: primary cell only; probe side: nProbes nearest cells
    val build = base.withColumn("cell", argmax(sims).cast("int"))
      .select(col("id").as("neighbor_id"), col("vec").as("nvec"),
        col("nrm").as("nnrm"), col("cell"))
    val probe = base
      .withColumn("cell",
        explode(slice(transform(
          array_sort(transform(sims, (s, i) => struct((-s).as("neg"), i.as("idx")))),
          s => s.getField("idx")), 1, nProbes)))
      .select(col("id"), col("vec"), col("nrm"), col("cell"))
    probe.join(build, Seq("cell"))
      .where(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"),
        round(dotNative(col("vec"), col("nvec")) / (col("nrm") * col("nnrm")), 6).as("cos"))
      .where(validCos(col("cos")))
      // a pair can meet through several probed cells — collapse before
      // ranking, then the same bounded partial top-k as knnJoinExact
      .groupBy("id", "neighbor_id").agg(max("cos").as("cos"))
      .transform(topKPerId(_, idCol, k))
  }

  /** Approximate k-NN join at scale: vectors meet only within their IVF
    * cell (each row assigned to its `nProbes` nearest centroids on the
    * PROBE side so neighbors straddling a cell boundary are still found on
    * the build side's primary cell). Recall is governed by nProbes/centroid
    * quality (spec-checked ≥ threshold vs the exact join on the fixtures);
    * correctness of returned ranks is exact within the candidates.
    *
    * Plan shape: cell assignment is the native-cosine argmax map-side;
    * the ONE shuffle co-groups build and probe rows by cell key (cluster-
    * local pair generation, never all-pairs). Cell-local scoring then runs
    * the [[knnJoinExact]] kernel per cell — build-side norms cached once
    * per cell group, in-order dot, HALF_UP rounding to 6, bounded
    * (cos DESC, id ASC) heap — instead of driving the per-cell O(n²/cells)
    * pairs through join + aggregate machinery. Emitting only the per-cell
    * top-k is lossless: a pair in some probe row's GLOBAL top-k is beaten
    * by < k candidates overall, hence by < k within any one cell, so it
    * survives every cell-local truncation (same total order both levels).
    * Per-group memory is one cell's build vectors — bounded by centroid
    * count/quality, the quantity IVF exists to control.
    *
    * Arithmetic is bit-identical to [[knnJoinIvfRelational]] (parity spec
    * in VectorFunctionsSpec, the knnJoinExact discipline). */
  def knnJoinIvf(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      centroids: Array[Array[Float]],
      nProbes: Int = 2): DataFrame = {
    require(centroids.nonEmpty && nProbes >= 1, "need centroids and nProbes >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // Cell assignment: the EXACT expressions of the relational form, so
    // build/probe candidate sets are identical by construction.
    val sims = array(centroids.map(c => cosineNative(col("vec"), typedLit(c))): _*)
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .where(col("vec").isNotNull)
    val build = base.withColumn("cell", argmax(sims).cast("int"))
      .as[(Long, Array[Float], Int)]
    val probe = base
      .withColumn("cell",
        explode(slice(transform(
          array_sort(transform(sims, (s, i) => struct((-s).as("neg"), i.as("idx")))),
          s => s.getField("idx")), 1, nProbes)))
      .as[(Long, Array[Float], Int)]
    val candidates = probe.groupByKey(_._3).cogroup(build.groupByKey(_._3)) {
      (_, probes, builds) =>
        val others = withNorms(builds.map { case (nid, nvec, _) => (nid, nvec) }.toArray)
        probes.flatMap { case (id, vec, _) =>
          scoreTopK(id, vec, others, k).map { case (cos, nid) => (id, nid, cos) }
        }
    }.toDF("id", "neighbor_id", "cos")
    candidates
      // a pair can meet through several probed cells (same cos each time —
      // cos is a function of the vectors alone) — collapse, then the same
      // bounded partial top-k as the relational form
      .groupBy("id", "neighbor_id").agg(max("cos").as("cos"))
      .transform(topKPerId(_, idCol, k))
  }

  /** Deterministic pseudo-random hyperplanes (splitmix64-seeded), returned
    * as literal columns — broadcast with the plan, not via closure. */
  private def hyperplanes(dim: Int, nBits: Int, seed: Long): Array[Array[Float]] = {
    var s = seed
    def next(): Long = { s += 0x9e3779b97f4a7c15L; var z = s; z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L; z = (z ^ (z >>> 27)) * 0x94d4a2ca9ab4c19bL; z ^ (z >>> 31) }
    Array.fill(nBits)(Array.fill(dim) {
      // Box-Muller-free: map uniform bits to approximately-normal via sum of
      // 4 uniforms (CLT) — sign symmetry is all LSH needs.
      val u = (0 until 4).map(_ => (next() >>> 11).toDouble / (1L << 53).toDouble).sum - 2.0
      u.toFloat
    })
  }

  /** Signature: bit i = (v · hyperplane_i) > 0, packed into a long (nBits ≤ 64).
    * Null vectors yield a null signature (not an all-zero one, which would
    * slip junk rows through Hamming candidate filters).
    *
    * The sign test runs through the native codegen DOT product:
    * sign(cos(v,p)) = sign(v·p) (norms are positive), so the two norm
    * loops cosine pays per bit buy nothing here — on the signature scan
    * (the dominant cost of a near-dup run, nBits kernels per row) dot is
    * ~3× cheaper for identical bits. A zero vector dots to 0.0, and
    * 0.0 > 0 is false — the same bit cosine's NaN produced. */
  def lshSignature(vec: Column, planes: Array[Array[Float]]): Column = {
    require(planes.length <= 64, "signature packs into a single long")
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dotNative(vec, typedLit(p)) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }
    when(vec.isNotNull, bits.reduce((a, b) => a.bitwiseOR(b))).otherwise(lit(null).cast("long"))
  }

  /** ANN top-k: LSH-bucketed candidate generation + exact re-rank.
    *
    * Recall/cost dial: `maxHamming` (radius 0 = same bucket only). The scan
    * computes the 16-bit-ish signature per row (map-side), filters to
    * candidates, and only candidates pay the full-dimension cosine. */
  def annLshTopK(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      q: Array[Float],
      k: Int,
      nBits: Int = 16,
      maxHamming: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"annLshTopK: nBits must be in [1,64], got $nBits")
    val dim    = q.length
    val planes = hyperplanes(dim, nBits, seed)
    val qSig   = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum
      if (d > 0.0) 1L << i else 0L
    }.reduce(_ | _)
    df.select(col(idCol), col(vecCol), lshSignature(col(vecCol), planes).as("sig"))
      .where(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= maxHamming)
      .select(col(idCol), round(cosineNative(col(vecCol), queryVec(q)), 6).as("cos"))
      .where(validCos(col("cos")))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-dup candidate pairs via banded LSH blocking:
    * the nBits signature splits into `bands` bands and rows sharing ANY
    * band key become candidates (pigeonhole: any pair within signature
    * Hamming distance < bands is guaranteed to meet — exact-full-signature
    * blocking would drop most qualifying pairs). Candidates are
    * exact-re-ranked by cosine. Same shuffle discipline as [[Dedup]]: only
    * (band, id) flows through the pair join; vectors re-attach per unique
    * pair by id, and degenerate mega-buckets are capped (quadratic-pair
    * guard).
    *
    * `bands`/`nBits` are the AND–OR amplification dials, and the scale
    * story lives in them: a RANDOM pair collides in a band with odds
    * 2^-(nBits/bands) (SRP bits on near-orthogonal vectors are fair
    * coins), so candidate volume is ~ bands · N² · 2^-(nBits/bands).
    * Growing the per-band bit count with log₂(corpus growth) holds the
    * candidate volume linear in N; growing `bands` alongside buys back
    * the recall the longer bands cost on true near-dups (per-bit
    * agreement 1-θ/π ≈ 0.92 at cosine 0.97). ScaleBench measures exactly
    * this schedule against planted duplicates.
    *
    * Each band packs its own ≤64-bit key from its own hyperplane slice
    * (collision semantics identical to slicing one packed signature, but
    * with no TOTAL bit bound), so nBits/bands ≤ 64 is the only geometry
    * limit — the r·bands ≤ 64 single-long ceiling the ×30/×60 recall
    * schedule used to hit is gone. */
  def cosineNearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      minCosine: Double = 0.95,
      nBits: Int = 16,
      seed: Long = 42L,
      maxBucketSize: Int = 256,
      bands: Int = 4): DataFrame = {
    require(bands >= 1 && nBits % bands == 0 &&
        nBits / bands >= 1 && nBits / bands <= 64,
      s"per-band bits (nBits/bands) must be in [1,64], got nBits=$nBits bands=$bands")
    val bandBits = nBits / bands
    val planes   = hyperplanes(dim, nBits, seed)
    // the (id, vec, per-band keys) projection feeds banding AND both pair
    // re-attach joins — cache it for the pair build (the nBits-dot-product
    // signature scan previously recomputed three times), then release
    // (ADVICE r01)
    val rawSigs = df
      // null vectors can't near-dup — drop before banding (their null band
      // keys would otherwise group into junk buckets; same discipline as
      // minHashCandidatePairs / simHashCandidatePairs)
      .where(col(vecCol).isNotNull)
      .select(
        col(idCol).as("id"),
        col(vecCol).as("vec"),
        array((0 until bands).map(j =>
          lshSignature(col(vecCol), planes.slice(j * bandBits, (j + 1) * bandBits))): _*).as("sig"))
    Dedup.withSigsCache(rawSigs) { sigs =>
      val blocked = sigs.select(col("id"), posexplode(col("sig")))
        .select(col("id"), col("pos").as("blk"), col("col").as("key"))
      val pairs = Dedup.bucketedPairs(blocked, Seq("blk", "key"), maxBucketSize)
      pairs
        .join(sigs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), round(cosineNative(col("vec_a"), col("vec_b")), 6).as("cos"))
        // validCos: NaN >= threshold is TRUE under Spark's nan-safe ordering,
        // so two zero-norm vectors would otherwise report a confirmed pair
        .where(validCos(col("cos")) && col("cos") >= minCosine)
    }
  }

  /** IVF-flat ANN: assign every vector to its nearest of `centroids`
    * (map-side argmax over literal centroid columns — no shuffle), then
    * answer a query by probing the `nProbes` nearest centroid cells and
    * re-ranking exactly within them.
    *
    * At 100 TB the assignment is a one-pass projection and the partition
    * pruning comes from writing the table partitioned/bucketed by
    * `ivf_cell` ([[assignCells]] output) so a probe reads only its cells'
    * files. Centroids would come from a sampled k-means; any deterministic
    * centroid set (e.g. sampled rows) preserves correctness — IVF affects
    * recall/cost only. */
  def assignCells(df: DataFrame, vecCol: String, centroids: Array[Array[Float]]): DataFrame = {
    val sims = array(centroids.map(c => cosineNative(col(vecCol), typedLit(c))): _*)
    df.withColumn("ivf_cell", argmax(sims).cast("int"))
  }

  /** Learn IVF centroids with MLlib k-means (seeded, deterministic given a
    * fixed input): the real centroid path for [[annIvfTopK]] — sampled-row
    * centroids work, learned ones probe fewer cells for the same recall.
    * The fit runs on a (sampled) pass over the vectors; at 100 TB fit on a
    * sample, not the corpus. */
  def fitIvfCentroids(
      df: DataFrame,
      vecCol: String,
      k: Int,
      seed: Long = 42L,
      maxIter: Int = 10,
      fitSampleRows: Int = 4096): Array[Array[Float]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    // Fit on a bounded sample, in a handful of partitions: k-means quality
    // saturates far below corpus size (centroids only steer recall/cost),
    // and each LLoyd iteration is a full job — tiny per-task work over many
    // partitions is pure scheduler overhead. This IS the 100 TB path: the
    // corpus never feeds the fit, only the one-pass cell assignment.
    // The sample is the fitSampleRows lowest content-hash rows (a
    // per-partition top-k + driver merge, no full sort): pseudo-random and
    // layout-independent, where a bare limit() would take the first files
    // in partition order — on a corpus written clustered by topic/source
    // that biases every centroid into one region of embedding space.
    // null AND zero-norm discipline: MLlib's cosine k-means asserts norm > 0
    // ("Cosine distance is not defined for zero-length vectors") — one
    // all-zero embedding in the sample would crash the whole fit
    // NaN discipline: a NaN element gives a NaN norm, which crashes the
    // fit exactly like a zero norm (and NaN =!= 0.0f is TRUE under Spark
    // ordering, so the zero-norm test alone would let it through)
    val feats = df.where(col(vecCol).isNotNull &&
        exists(col(vecCol), x => x =!= lit(0.0f)) &&
        !exists(col(vecCol), x => isnan(x)))
      .orderBy(xxhash64(col(vecCol)))
      .limit(fitSampleRows)
      .select(toVec(col(vecCol)).as("features"))
      .coalesce(4)
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      // seeded random init: the default k-means|| init costs several extra
      // distributed passes — for a handful of IVF cells over a bounded
      // sample, random init + Lloyd iterations reach the same geometry
      .setInitMode("random")
      // cells are assigned and probed by cosine (assignCells/annIvfTopK) —
      // train with the same geometry or the learned Voronoi cells disagree
      // with query-time assignment
      .setDistanceMeasure("cosine")
      .fit(feats)
    model.clusterCenters.map((v: Vector) => v.toArray.map(_.toFloat))
  }

  private def driverCos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Centroid cells to probe for query `q`: the `nProbes` nearest by cosine. */
  def probeCellsFor(q: Array[Float], centroids: Array[Array[Float]], nProbes: Int): Seq[Int] =
    centroids.indices.sortBy(i => -driverCos(q, centroids(i))).take(nProbes)

  def annIvfTopK(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      q: Array[Float],
      centroids: Array[Array[Float]],
      k: Int,
      nProbes: Int = 2): DataFrame = {
    val probeCells = probeCellsFor(q, centroids, nProbes)
    assignCells(df, vecCol, centroids)
      .where(col("ivf_cell").isin(probeCells: _*))
      .select(col(idCol), round(cosineNative(col(vecCol), queryVec(q)), 6).as("cos"))
      .where(validCos(col("cos")))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  // ---- persisted IVF index: build once, probe many --------------------------
  //
  // The scale story for IVF is NOT the assignment scan (one map-side pass) but
  // the read path: persist the cell assignment PARTITIONED BY `ivf_cell`, so a
  // probe's `ivf_cell IN (...)` predicate prunes to the probed cells'
  // directories at planning time and the query never opens the other cells'
  // files. At 100 TB with k=1024 cells and nProbes=8, a probe reads <1% of the
  // corpus. Mirrors the reference's petastorm cache-then-train shape
  // (01. Ingest.py:176-183): one expensive materialization, many cheap reads.

  private def centroidsFile(indexPath: String) = s"$indexPath.centroids"

  /** Staleness fingerprint of a DataFrame's SOURCE FILES: name + length +
    * mtime of every backing file, hashed. Metadata-only (no data scan) and
    * catches a regenerated dataset even when the row count is unchanged —
    * a row-count-only guard cannot. Frames not backed by files (in-memory
    * test fixtures) fingerprint to the empty-listing hash, which still
    * round-trips consistently. */
  def sourceFingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val parts = df.inputFiles.sorted.map { f =>
      val p  = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    // 128-bit SHA-256 prefix: a 32-bit hash collides at birthday-bound
    // rates (~50% after ~77k regenerations of a busy hourly source), and a
    // collision silently accepts a STALE index — at 128 bits that is
    // practically impossible for any pipeline lifetime
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(x => md.update(x.getBytes("UTF-8")))
    md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** Fit centroids (bounded sample), assign every row, and write the index:
    * `(idCol, vecCol, ivf_cell)` parquet partitioned by `ivf_cell`, plus the
    * centroid matrix as a sidecar text file whose header carries the source
    * fingerprint ([[sourceFingerprint]] — file names/sizes/mtimes, so a
    * regenerated source invalidates the index even at an identical row
    * count). Returns the centroids. One corpus pass; the shuffle-free
    * assignment rides the write. */
  def buildIvfIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      indexPath: String,
      seed: Long = 42L): Array[Array[Float]] =
    buildIvfIndexWith(df, vecCol, idCol, fitIvfCentroids(df, vecCol, k, seed), indexPath)

  /** [[buildIvfIndex]] with CALLER-CHOSEN centroids (fixed data rows, a
    * prior fit, an external codebook) — same partitioned layout, sidecar,
    * and probe contract, no fit. With deterministic centroids the whole
    * index (assignment, histogram, probes) is replayable by an external
    * engine, which is what lets the index queries be oracle-checked; the
    * LEARNED path stays covered by [[fitIvfCentroids]]'s recall gate. */
  def buildIvfIndexWith(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Float]],
      indexPath: String): Array[Array[Float]] = {
    require(centroids.nonEmpty, "buildIvfIndexWith: need at least one centroid")
    // null vectors assign to a null cell and would land in an unreachable
    // __HIVE_DEFAULT_PARTITION__ directory (probes isin-exclude null) —
    // drop them before the write, like the PQ index does
    assignCells(df.where(col(vecCol).isNotNull)
        .select(col(idCol), col(vecCol)), vecCol, centroids)
      // cluster by cell before the partitioned write: without this every
      // write task emits a file into every cell directory (tasks × cells
      // small files — the classic partitionBy explosion); with it each cell
      // directory gets contiguous, few, large files. At 100 TB add a file
      // count per cell (repartition(n, col)) sized to the target file size.
      .repartition(col("ivf_cell"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(indexPath)
    val body = s"source=${sourceFingerprint(df)}\n" +
      centroids.map(_.mkString(",")).mkString("\n")
    graft.tables.FsIO.writeText(centroidsFile(indexPath), body)
    centroids
  }

  /** Load a persisted index's centroids, or None if absent/stale (the
    * sidecar's source fingerprint disagrees with `expectSource` — e.g. the
    * source table was regenerated, even at the same row count).
    * `appended=` lineage lines ([[appendToIvfIndex]]) are metadata, not
    * centroids, and are skipped. */
  def loadIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      expectSource: Option[String] = None): Option[Array[Array[Float]]] =
    graft.tables.FsIO.readText(centroidsFile(indexPath)).flatMap { body =>
      val lines = body.split("\n").toSeq
      val src   = lines.head.stripPrefix("source=")
      if (expectSource.exists(_ != src)) None
      else Some(lines.tail.filterNot(l => l.startsWith("appended=") || l.isEmpty)
        .map(_.split(",").map(_.toFloat)).toArray)
    }

  /** Fingerprints of every batch appended to a persisted index since its
    * build, in append order — the index's ingest lineage. */
  def ivfAppendedFingerprints(indexPath: String): Seq[String] =
    graft.tables.FsIO.readText(centroidsFile(indexPath)).toSeq.flatMap(
      _.split("\n").toSeq.filter(_.startsWith("appended="))
        .map(_.stripPrefix("appended=")))

  /** Append NEW vectors to a persisted IVF index without a refit or a
    * rewrite — the continuous-ingest maintenance op. Arrivals assign to
    * the EXISTING centroids (cell geometry unchanged, so every prior probe
    * plan, pruning property, and recall characteristic is preserved) and
    * append files into their cells' partition directories; untouched
    * cells' files never move (spec-checked). The sidecar gains one
    * `appended=<fingerprint>` lineage line per batch; its `source=` line
    * still names the base corpus, so [[loadIvfCentroids]]' staleness check
    * is unchanged.
    *
    * At 100 TB: one map-side assignment scan of the batch, appended files
    * in ≤ |touched cells| directories — the base index is never read or
    * rewritten. Centroid DRIFT is the caller's rebuild trigger: once
    * appended volume rivals the base corpus, [[buildIvfIndex]] again (IVF
    * recall degrades gracefully under drift, not catastrophically).
    * Serialized against concurrent appends/rebuilds by the write lease. */
  def appendToIvfIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      indexPath: String): Array[Array[Float]] =
    graft.tables.FsIO.withWriteLock(indexPath, "appendToIvfIndex",
        graft.tables.TableManager.DefaultLockLeaseMs) {
      val spark = df.sparkSession
      val centroids = loadIvfCentroids(spark, indexPath).getOrElse(
        sys.error(s"appendToIvfIndex: no IVF index at $indexPath — build one " +
          "with buildIvfIndex first"))
      assignCells(df.where(col(vecCol).isNotNull)
          .select(col(idCol), col(vecCol)), vecCol, centroids)
        .repartition(col("ivf_cell"))
        .write.mode("append").partitionBy("ivf_cell").parquet(indexPath)
      val sidecar = centroidsFile(indexPath)
      val body    = graft.tables.FsIO.readText(sidecar).get // loaded above ⇒ present
      graft.tables.FsIO.writeText(sidecar,
        body.stripSuffix("\n") + s"\nappended=${sourceFingerprint(df)}\n")
      centroids
    }

  /** Probe a persisted IVF index: plans as a pruned parquet read over ONLY
    * the probed cells' partition directories (PlansSpec asserts the scan's
    * selected-partition count equals `nProbes`), then an exact re-rank.
    * No per-query assignment scan, no shuffle. */
  def probeIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      q: Array[Float],
      centroids: Array[Array[Float]],
      k: Int,
      nProbes: Int = 2): DataFrame = {
    val probeCells = probeCellsFor(q, centroids, nProbes)
    spark.read.parquet(indexPath)
      .where(col("ivf_cell").isin(probeCells: _*))
      .select(col(idCol), round(cosineNative(col(vecCol), queryVec(q)), 6).as("cos"))
      .where(validCos(col("cos")))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** Semantic (embedding-space) deduplication — the SemDeDup shape
    * (Abbas et al. 2023): cluster vectors, then within each cluster drop
    * every vector that has a LOWER-id neighbor with cosine ≥ `threshold`
    * (keep-min-id, the same survivor rule as the text near-dedup family).
    * Returns survivors as (idCol, cell).
    *
    * Determinism: cluster = argmax cosine against the given `centroids`
    * (first-occurrence on ties, matching the IVF assignment), and the drop
    * predicate tests the ROUNDED cosine — both replayable by an external
    * engine, so the operator is fully oracle-checkable when the centroids
    * are deterministic data rows (learned centroids → rows-only).
    *
    * Scale shape (100 TB): vectors shuffle ONCE on the cell key; pair
    * scoring is cluster-local (O(Σ|cell|²), never corpus-all-pairs — cell
    * count grows with the corpus so |cell| stays bounded), and the drop
    * decision per pair is a map-side semi-join probe. The left-semi output
    * carries (id, cell) only — payloads never ride through the pair join.
    * One-sided rule (lower-id neighbor) means no connected-components
    * iteration: a single pass decides survival, at the cost of SemDeDup's
    * documented transitive over-drop (a chain a~b~c with cos(a,c) < τ still
    * drops both b and c) — the standard trade the paper itself makes. */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Float]],
      threshold: Double): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val sims = array(centroids.map(c => cosineNative(col("vec"), typedLit(c))): _*)
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .where(validCos(round(cosineNative(col("vec"), col("vec")), 6)))
      .withColumn("cell", argmax(sims).cast("int"))
    // Pairs meet only through their shared cell; a row is dropped iff some
    // lower-id cellmate is within the threshold. Anti-join keeps survivors.
    val dropped = base.alias("a")
      .join(base.alias("b"),
        col("a.cell") === col("b.cell") && col("b.id") < col("a.id") &&
          round(cosineNative(col("a.vec"), col("b.vec")), 6) >= threshold,
        "left_semi")
      .select(col("id"))
    base.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }

  /** Bounded per-group top-k heap — a true PARTIAL aggregate, unlike the
    * `row_number` window the k-NN joins previously used: the window form
    * shuffles every scored pair (O(n²) rows for the exact join) to sort
    * whole groups, while this buffer truncates to k elements map-side, so
    * only n·k skinny rows cross the wire. Ordering (cos DESC, id ASC) is
    * total, so results are bit-identical to the window form — spec-checked
    * in VectorFunctionsSpec, and the oracle queries re-verified unchanged.
    * The buffer is a k-bounded sorted insert (k is single digits here;
    * switch to a real heap if k grows). */
  class TopKNeighbors(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private def insert(buf: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] = {
      // rank order: cos DESC, id ASC
      val pos = buf.indexWhere(e => e._1 < x._1 || (e._1 == x._1 && e._2 > x._2))
      val merged =
        if (pos < 0) buf :+ x
        else { val (a, b) = buf.splitAt(pos); (a :+ x) ++ b }
      if (merged.length > k) merged.take(k) else merged
    }
    override def zero: Seq[(Double, Long)] = Seq.empty
    override def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      insert(b, a)
    override def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] =
      b2.foldLeft(b1)(insert)
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Per-id top-k of a (id, neighbor_id, cos) frame via [[TopKNeighbors]],
    * emitted as (idCol, rank, neighbor_id, cos) in rank order. */
  private def topKPerId(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val agg = udaf(new TopKNeighbors(k))
    scored
      .groupBy(col("id"))
      .agg(agg(col("cos"), col("neighbor_id")).as("nn"))
      .select(col("id"), posexplode(col("nn")))
      .select(col("id").as(idCol), (col("pos") + 1).cast("long").as("rank"),
        col("col").getField("_2").as("neighbor_id"), col("col").getField("_1").as("cos"))
  }

  // ------------------------------------------- scalar quantization (SQ8)

  /** Dimension bound for [[sq8TopK]]'s driver-collected per-dimension
    * stats (2·dim doubles — O(dim), never O(rows)). */
  val MaxSq8Dim = 4096

  /** SQ8 — per-dimension SYMMETRIC int8 quantization (the signed variant
    * of FAISS's ScalarQuantizer / the GGML Q8 shape — the memory-bandwidth
    * half of the quantization toolkit next to PQ): each dimension scales
    * by its absolute max, `code = floor(x · 127 / absmax_d)` ∈ [-127, 127],
    * and retrieval scores by the EXACT INTEGER dot product of code arrays
    * — order-free long arithmetic, so the whole path replays in oracle SQL
    * (the q_random_projection floor-quantization discipline). Symmetric,
    * not min-shifted: a shift adds a per-vector `shift·Σx` term to the
    * code dot product that swamps the true inner product and wrecks
    * ranking (measured: recall 0.25 vs 0.95+ symmetric on the fixtures);
    * with no shift the code score is the per-dimension-reweighted inner
    * product `Σ (127/absmax_d)² x_d q_d`, which tracks the float ranking.
    * At scale the codes column is a 4× read cut vs float32 (int8 per
    * element; held as longs here only for the exact replay — a production
    * port stores ByteType) and the scan stays one map-side pass + top-k.
    *
    * Plan shape: one skinny (pos, x) aggregation for the per-dimension
    * stats (O(dim) result, driver-bounded by [[MaxSq8Dim]]), then one scan
    * scoring against the broadcast quantized query → TakeOrderedAndProject.
    * Returns (idCol, score_q) — top `k` by quantized score, id-ascending
    * tie-break. */
  def sq8TopK(df: DataFrame, vecCol: String, idCol: String,
      queryId: Long, k: Int): DataFrame = {
    val clean = df.where(col(vecCol).isNotNull)
    // dimension comes from the QUERY row, not whichever row head() happens
    // to return (partition-order dependent — one corrupt short vector
    // landing first would silently filter the corpus down to its dim);
    // the fetch doubles as the loud missing-query check
    val qRows = clean.where(col(idCol) === queryId)
      .select(col(vecCol)).limit(2).collect()
    require(qRows.length == 1,
      s"sq8TopK: query id $queryId " +
        (if (qRows.isEmpty) "not found (or its vector is null)"
         else "is ambiguous (several rows)"))
    val q   = qRows.head.getSeq[Float](0).toArray
    val dim = q.length
    require(dim >= 1 && dim <= MaxSq8Dim,
      s"sq8TopK: dimension $dim outside [1, $MaxSq8Dim]")
    val rows = clean.where(size(col(vecCol)) === dim)
    // per-dimension absmax: explode to (pos, x) pairs, hash-agg into dim
    // groups — map-side partials keep the shuffle at O(partitions · dim)
    val stats = rows
      .select(posexplode(col(vecCol)).as(Seq("j", "x")))
      .groupBy("j")
      .agg(max(abs(col("x").cast("double"))).as("am"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1)
    require(stats.length == dim, s"sq8TopK: expected $dim dimension stats, got ${stats.length}")
    val amax  = stats.map(_._2)
    val amaxL = typedLit(amax)
    // the one arithmetic shape both engines replay bit-for-bit:
    // floor(double(x) * 127.0 / absmax) — operand order matters
    def codes(vec: Column): Column = transform(vec, (x, i) => {
      val am = element_at(amaxL, i + lit(1))
      when(am > 0.0, floor(x.cast("double") * lit(127.0) / am)).otherwise(lit(0L))
    })
    // query codes computed driver-side with the IDENTICAL double ops
    val qCodes: Array[Long] = Array.tabulate(dim) { i =>
      if (amax(i) > 0.0) math.floor(q(i).toDouble * 127.0 / amax(i)).toLong else 0L
    }
    rows.select(col(idCol),
      aggregate(
        zip_with(codes(col(vecCol)), typedLit(qCodes), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).as("score_q"))
      .orderBy(col("score_q").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------- product quantization

  /** Element-wise floor(x·1000) quantization to long — the same exact-
    * integer discipline as `VectorFunctions.sparseRandomProject`: every
    * distance below becomes order-free long arithmetic, so PQ stays fully
    * oracle-checkable (float-sum order never enters). */
  private def pqQuantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1000).cast("long"))

  /** 1-row codebook frame: centroids are the DATA ROWS `id < k` (the
    * knnJoinIvf deterministic-centroid rule — a learned codebook would
    * force rows-only), quantized, cid-sorted so argmin ties resolve to the
    * lowest cid by scan order. Null/mis-sized centroid rows are excluded
    * with the SAME filter as [[pqCollectCodebook]] so the two parity forms
    * always build an identical codebook. */
  private def pqCodebook(df: DataFrame, vecCol: String, idCol: String, k: Int, dim: Int): DataFrame =
    df.where(col(idCol) < k && col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("int").as("cid"), pqQuantize(col(vecCol)).as("qv"))
      .agg(array_sort(collect_list(struct(col("cid"), col("qv")))).as("__cents"))

  /** Exact squared L2 distance between subvector `j` (of width `sub`) of
    * two quantized long arrays — an in-order HOF fold, but the terms are
    * longs so the sum is the same in any order. */
  private def pqSubDist2(a: Column, b: Column, j: Column, sub: Int): Column =
    aggregate(sequence(lit(0), lit(sub - 1)), lit(0L), (acc, i) => {
      val idx  = j * sub + i + 1
      val diff = element_at(a, idx) - element_at(b, idx)
      acc + diff * diff
    })

  /** [[pqEncode]] keeping the codebook and quantized-vector work columns
    * for [[pqAdcTopK]] to reuse. */
  private def pqEncodeRaw(
      df: DataFrame, vecCol: String, idCol: String,
      m: Int, k: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val sub = dim / m
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .crossJoin(broadcast(pqCodebook(df, vecCol, idCol, k, dim)))
      .withColumn("__qv", pqQuantize(col(vecCol)))
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)), j => {
        val scored = transform(col("__cents"), c =>
          struct(pqSubDist2(col("__qv"), c.getField("qv"), j, sub).as("d2"),
            c.getField("cid").as("cid")))
        aggregate(scored,
          struct(lit(Long.MaxValue).as("d2"), lit(-1).as("cid")),
          (best, s) => when(s.getField("d2") < best.getField("d2"), s).otherwise(best))
          .getField("cid")
      }))
  }

  /** Relational (pure-HOF) PQ encode — the oracle-shaped reference form:
    * broadcast codebook row, nested HOF argmin. The declared queries run
    * [[pqEncode]]'s kernel instead (the HOFs evaluate interpreted, ~µs per
    * lambda — an order of magnitude slower); PlansSpec asserts the two
    * are value-identical on the fixtures, the qualityLangUdf parity
    * discipline. */
  private[graft] def pqEncodeRelational(
      df: DataFrame, vecCol: String, idCol: String,
      m: Int, k: Int, dim: Int): DataFrame =
    pqEncodeRaw(df, vecCol, idCol, m, k, dim).drop("__cents", "__qv")

  /** Quantized codebook collected to the driver — k rows by CONTRACT (a
    * codebook is small by definition; the fitIvfCentroids precedent),
    * cid-ascending so argmin tie-breaks resolve to the lowest cid. */
  private def pqCollectCodebook(
      df: DataFrame, vecCol: String, idCol: String, k: Int, dim: Int): Array[Array[Long]] = {
    require(k >= 1, s"PQ codebook needs k >= 1 centroids, got $k " +
      "(k = 0 would vacuously pass the completeness gate and emit code -1 " +
      "from every encode)")
    val cents = df.where(col(idCol) < k && col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .orderBy(col(idCol))
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(f => math.floor(f * 1000.0).toLong))
    // The encode kernel emits the ARRAY INDEX as the code; that is only the
    // real cid when every id in [0,k) contributed a valid centroid row. A
    // sparse/filtered codebook would silently shift codes off the cids the
    // relational form (which carries real cids) emits — fail loudly instead.
    require(cents.length == k,
      s"PQ codebook needs exactly $k valid centroid rows ($idCol in [0,$k) with " +
        s"non-null $dim-d vectors); found ${cents.length}")
    cents
  }

  /** Per-row PQ encode kernel over the closure-shipped quantized codebook.
    * Same exact integers as the HOF form: floor(x·1000) quantization,
    * per-subspace squared-L2 argmin, strict `<` so the lowest cid wins
    * ties. */
  private def pqEncodeUdf(cents: Array[Array[Long]], m: Int, sub: Int, dim: Int) =
    udf((v: Seq[Float]) => {
      val qv = new Array[Long](dim)
      var i = 0
      while (i < dim) { qv(i) = math.floor(v(i) * 1000.0).toLong; i += 1 }
      val codes = new Array[Int](m)
      var j = 0
      while (j < m) {
        var best = Long.MaxValue
        var bc   = -1
        var c    = 0
        while (c < cents.length) {
          var d = 0L
          var t = 0
          while (t < sub) {
            val diff = qv(j * sub + t) - cents(c)(j * sub + t)
            d += diff * diff
            t += 1
          }
          if (d < best) { best = d; bc = c }
          c += 1
        }
        codes(j) = bc
        j += 1
      }
      codes
    })

  /** Product quantization encode (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): split each `dim`-d vector into `m`
    * subvectors and store, per subvector, the id of the nearest of `k`
    * codebook centroids — `m` small ints instead of `dim` floats (64-d
    * float → 8 bytes here), the memory-bounded ANN representation for a
    * corpus whose raw vectors no longer fit the cluster.
    *
    * Scale shape (100 TB): the codebook (k rows by contract) ships in the
    * task closure; encoding is one map-side kernel pass — no shuffle, no
    * join, embarrassingly parallel. Ties (equal d2) take the lowest cid.
    * Value-identical to [[pqEncodeRelational]] (parity spec). */
  def pqEncode(
      df: DataFrame, vecCol: String, idCol: String,
      m: Int, k: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val cents = pqCollectCodebook(df, vecCol, idCol, k, dim)
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .withColumn("codes", pqEncodeUdf(cents, m, dim / m, dim)(col(vecCol)))
  }

  /** Asymmetric-distance top-n over PQ codes: approximate squared L2 from
    * the query to each vector = Σ_j d²(query_j, centroid[code_j]_j) —
    * the classic ADC scan. The (m × k) query-to-centroid distance table is
    * precomputed ONCE driver-side (that is the entire point of ADC) and
    * ships in the closure; each row then pays m encode argmins + m table
    * lookups. Exact long arithmetic throughout; ranked by (adc, id) — a
    * deterministic total order, so the top-n cut is engine-stable. Plans
    * as one map-side scan + TakeOrderedAndProject, like [[cosineTopK]]. */
  def pqAdcTopK(
      df: DataFrame, vecCol: String, idCol: String, q: Array[Float],
      m: Int, k: Int, dim: Int, n: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val sub   = dim / m
    val cents = pqCollectCodebook(df, vecCol, idCol, k, dim)
    val adc   = adcColumn(q, cents, m, sub, dim)
    df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol), adc(col(vecCol)).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(n)
  }

  /** encode→table-lookup ADC as a single column function: the (m × k)
    * query-to-centroid distance table is precomputed driver-side and rides
    * the closure (the whole point of ADC — each row pays m argmins + m
    * lookups, no per-row query math). */
  private def adcColumn(q: Array[Float], cents: Array[Array[Long]],
      m: Int, sub: Int, dim: Int): Column => Column = {
    val qq = q.map(f => math.floor(f.toDouble * 1000).toLong)
    // dtable(j)(c) = d²(query_j, centroid_c_j)
    val dtable = Array.tabulate(m, cents.length) { (j, c) =>
      var d = 0L
      var t = 0
      while (t < sub) { val diff = qq(j * sub + t) - cents(c)(j * sub + t); d += diff * diff; t += 1 }
      d
    }
    val enc = pqEncodeUdf(cents, m, sub, dim)
    val adcUdf = udf((codes: Seq[Int]) => {
      var s = 0L
      var j = 0
      while (j < m) { s += dtable(j)(codes(j)); j += 1 }
      s
    })
    (v: Column) => adcUdf(enc(v))
  }

  /** Query-to-centroid ADC lookup over STORED codes: the probe-side half
    * of [[adcColumn]], for indexes that persist codes instead of vectors. */
  private def adcLookupUdf(q: Array[Float], cents: Array[Array[Long]],
      m: Int, sub: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val qq = q.map(f => math.floor(f.toDouble * 1000).toLong)
    val dtable = Array.tabulate(m, cents.length) { (j, c) =>
      var d = 0L
      var t = 0
      while (t < sub) { val diff = qq(j * sub + t) - cents(c)(j * sub + t); d += diff * diff; t += 1 }
      d
    }
    udf((codes: Seq[Int]) => {
      var s = 0L
      var j = 0
      while (j < m) { s += dtable(j)(codes(j)); j += 1 }
      s
    })
  }

  private def codebookFile(indexPath: String) = s"$indexPath.codebook"

  /** Persist a quantized PQ codebook sidecar / load it back. */
  def loadPqCodebook(indexPath: String): Option[Array[Array[Long]]] =
    graft.tables.FsIO.readText(codebookFile(indexPath)).map(
      _.split("\n").filter(_.nonEmpty).map(_.split(",").map(_.toLong)))

  /** Build the SERVING-side IVF-PQ index: (id, codes) partitioned by
    * `ivf_cell`, centroids + quantized codebook as sidecars. The stored
    * index is m ints per vector instead of `dim` floats (~32× smaller at
    * the defaults), and [[probeIvfPqIndex]] reads ONLY the probed cells'
    * code files — the raw vectors never load at query time. This is the
    * layout a 100 TB embedding corpus actually serves from: nProbes/k of
    * the (already 32×-compressed) index scanned per query, everything else
    * cold. `centroids` come from the caller ([[fitIvfCentroids]] for the
    * learned path; deterministic data rows for oracle-replayable builds). */
  def buildIvfPqIndex(
      df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Float]],
      m: Int, kCodes: Int, dim: Int, indexPath: String): Array[Array[Long]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val cents = pqCollectCodebook(df, vecCol, idCol, kCodes, dim)
    val enc   = pqEncodeUdf(cents, m, dim / m, dim)
    assignCells(df.select(col(idCol), col(vecCol))
        .where(col(vecCol).isNotNull && size(col(vecCol)) === dim), vecCol, centroids)
      .select(col(idCol), enc(col(vecCol)).as("codes"), col("ivf_cell"))
      .repartition(col("ivf_cell")) // contiguous files per cell dir (see buildIvfIndex)
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(indexPath)
    graft.tables.FsIO.writeText(centroidsFile(indexPath),
      s"source=${sourceFingerprint(df)}\n" + centroids.map(_.mkString(",")).mkString("\n"))
    graft.tables.FsIO.writeText(codebookFile(indexPath),
      cents.map(_.mkString(",")).mkString("\n"))
    cents
  }

  /** Probe a [[buildIvfPqIndex]] layout: partition-pruned read of the
    * probed cells' (id, codes) files + the driver-side ADC distance table
    * — no vector column exists in the plan at all. Same (adc, id) total
    * order as [[ivfPqTopK]], hence the same oracle. */
  def probeIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String, q: Array[Float],
      centroids: Array[Array[Float]], codebook: Array[Array[Long]],
      m: Int, dim: Int, n: Int, nProbes: Int): DataFrame = {
    val probeCells = probeCellsFor(q, centroids, nProbes)
    val adc = adcLookupUdf(q, codebook, m, dim / m)
    spark.read.parquet(indexPath)
      .where(col("ivf_cell").isin(probeCells: _*))
      .select(col(idCol), col("ivf_cell").cast("long").as("ivf_cell"),
        adc(col("codes")).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(n)
  }

  /** IVF-PQ composed ANN (the FAISS `IVFPQ` shape, Jégou et al. 2011 §V):
    * coarse-quantize the corpus into IVF cells, probe the `nProbes` cells
    * nearest the query, and ADC-scan PQ codes ONLY within those cells.
    * This is the memory-AND-compute-bounded 100 TB read path: the probe
    * touches `nProbes/k_cells` of the corpus (partition-pruned when the
    * assignment is persisted via [[buildIvfIndex]]'s layout), and each
    * touched row costs m table lookups on an 8-byte code instead of a
    * `dim`-float cosine.
    *
    * Exactness contract: cell assignment + probe selection are the
    * [[annIvfTopK]] rules (raw-cosine argmax, ties to the lowest cell);
    * ADC is exact long arithmetic over floor(x·1000) quantization; final
    * rank is the total order (adc, id) — all deterministic, so the whole
    * composition is oracle-replayable when the centroids/codebook are
    * data rows. */
  def ivfPqTopK(
      df: DataFrame, vecCol: String, idCol: String, q: Array[Float],
      centroids: Array[Array[Float]], nProbes: Int,
      m: Int, k: Int, dim: Int, n: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val sub        = dim / m
    val cents      = pqCollectCodebook(df, vecCol, idCol, k, dim)
    val adc        = adcColumn(q, cents, m, sub, dim)
    val probeCells = probeCellsFor(q, centroids, nProbes)
    assignCells(df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim), vecCol, centroids)
      .where(col("ivf_cell").isin(probeCells: _*))
      .select(col(idCol), col("ivf_cell").cast("long").as("ivf_cell"), adc(col(vecCol)).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(n)
  }

  /** [[TopKNeighbors]]' ascending exact-long twin for ADC ranking:
    * (adc ASC, id ASC), k-bounded map-side insert — only n·k skinny rows
    * cross the wire, same as the cosine form. */
  class TopKNeighborsAdc(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
    private def insert(buf: Seq[(Long, Long)], x: (Long, Long)): Seq[(Long, Long)] = {
      val pos = buf.indexWhere(e => e._1 > x._1 || (e._1 == x._1 && e._2 > x._2))
      val merged =
        if (pos < 0) buf :+ x
        else { val (a, b) = buf.splitAt(pos); (a :+ x) ++ b }
      if (merged.length > k) merged.take(k) else merged
    }
    override def zero: Seq[(Long, Long)] = Seq.empty
    override def reduce(b: Seq[(Long, Long)], a: (Long, Long)): Seq[(Long, Long)] =
      insert(b, a)
    override def merge(b1: Seq[(Long, Long)], b2: Seq[(Long, Long)]): Seq[(Long, Long)] =
      b2.foldLeft(b1)(insert)
    override def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
  }

  /** Approximate k-NN JOIN over PQ codes within IVF cells — [[knnJoinIvf]]
    * with the candidate side compressed: build rows carry (id, cell,
    * m-byte codes) instead of (id, cell, dim-float vector), so THE
    * replicated side of the one cell cogroup shuffles ~32× fewer bytes at
    * the defaults, and each cell-local comparison is m table lookups
    * instead of a dim-float dot — the FAISS IVFPQ search loop as a join.
    * Probe rows keep their raw vector (each query precomputes its own
    * (m × kCodes) exact-long distance table once per cell group — the ADC
    * trick amortized across the cell's candidates).
    *
    * Exactness contract: cell assignment + probe selection are
    * [[knnJoinIvf]]'s rules; encode/ADC are [[pqEncode]]'s exact-long
    * arithmetic; rank is the (adc ASC, id ASC) total order. Everything is
    * deterministic data-row-derived, so the whole join is DuckDB-oracle
    * replayable (q_knn_join_ivfpq). Approximation (vs [[knnJoinIvf]]) is
    * confined to ADC distance quality — candidates are identical.
    *
    * Per-cell top-k truncation is lossless by the [[knnJoinIvf]] argument
    * (same total order at cell and global level); a pair meeting through
    * several probed cells has the SAME adc each time (function of codes +
    * query alone), collapsed by min before the global rank. */
  def knnJoinIvfPq(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      centroids: Array[Array[Float]],
      nProbes: Int,
      m: Int,
      kCodes: Int,
      dim: Int): DataFrame = {
    require(centroids.nonEmpty && nProbes >= 1, "need centroids and nProbes >= 1")
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val spark = df.sparkSession
    import spark.implicits._
    val sub   = dim / m
    val cents = pqCollectCodebook(df, vecCol, idCol, kCodes, dim)
    val enc   = pqEncodeUdf(cents, m, sub, dim)
    val sims  = array(centroids.map(c => cosineNative(col("vec"), typedLit(c))): _*)
    val base  = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .where(col("vec").isNotNull && size(col("vec")) === dim)
    val build = base.withColumn("cell", argmax(sims).cast("int"))
      .select(col("id"), enc(col("vec")).as("codes"), col("cell"))
      .as[(Long, Array[Int], Int)]
    val probe = base
      .withColumn("cell",
        explode(slice(transform(
          array_sort(transform(sims, (s, i) => struct((-s).as("neg"), i.as("idx")))),
          s => s.getField("idx")), 1, nProbes)))
      .as[(Long, Array[Float], Int)]
    val candidates = probe.groupByKey(_._3).cogroup(build.groupByKey(_._3)) {
      (_, probes, builds) =>
        val cands = builds.map { case (nid, codes, _) => (nid, codes) }.toArray
        probes.flatMap { case (id, vec, _) =>
          // per-query ADC distance table: exact-long d²(query_j, centroid_c_j)
          val qq = new Array[Long](dim)
          var i = 0
          while (i < dim) { qq(i) = math.floor(vec(i).toDouble * 1000.0).toLong; i += 1 }
          val dtable = Array.tabulate(m, cents.length) { (j, c) =>
            var d = 0L
            var t = 0
            while (t < sub) { val diff = qq(j * sub + t) - cents(c)(j * sub + t); d += diff * diff; t += 1 }
            d
          }
          // bounded (adc ASC, id ASC) insertion — this row's cell-local top-k
          val top = new scala.collection.mutable.ArrayBuffer[(Long, Long)](k + 1)
          var ci = 0
          while (ci < cands.length) {
            val (nid, codes) = cands(ci)
            if (nid != id) {
              var adc = 0L
              var j = 0
              while (j < m) { adc += dtable(j)(codes(j)); j += 1 }
              val pos = top.indexWhere(e => e._1 > adc || (e._1 == adc && e._2 > nid))
              if (pos >= 0) { top.insert(pos, (adc, nid)); if (top.length > k) top.remove(k) }
              else if (top.length < k) top += ((adc, nid))
            }
            ci += 1
          }
          top.iterator.map { case (adc, nid) => (id, nid, adc) }
        }
    }.toDF("id", "neighbor_id", "adc")
    val agg = udaf(new TopKNeighborsAdc(k))
    candidates
      .groupBy("id", "neighbor_id").agg(min("adc").as("adc"))
      .groupBy(col("id"))
      .agg(agg(col("adc"), col("neighbor_id")).as("nn"))
      .select(col("id"), posexplode(col("nn")))
      .select(col("id").as(idCol), (col("pos") + 1).cast("long").as("rank"),
        col("col").getField("_2").as("neighbor_id"), col("col").getField("_1").as("adc"))
  }
}
