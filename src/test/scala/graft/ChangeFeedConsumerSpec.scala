package graft

import java.nio.file.Files

import graft.tables.{ChangeFeedConsumer, VersionedTable}
import org.apache.spark.sql.functions._

class ChangeFeedConsumerSpec extends SparkSpec {

  private def mirror(bronze: String, silver: String): Long =
    ChangeFeedConsumer.replicate(spark, bronze, silver, "mirror",
      Seq("k"), Seq("k", "x", "tag"))

  private def rowsOf(dir: String) =
    VersionedTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("replicate: snapshot bootstrap, incremental spans, deletes, compaction-skip — silver ≡ bronze") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cfc").toString
    val (bronze, silver) = (s"$root/bronze", s"$root/silver")
    VersionedTable.commitAppend(spark,
      spark.range(0L, 200L).select(col("id").as("k"), (col("id") * 2).as("x"),
        lit("base").as("tag")).repartitionByRange(4, col("k")), bronze)
    // bootstrap = snapshot
    mirror(bronze, silver)
    assert(rowsOf(silver) == rowsOf(bronze))
    // span of update + delete + append, then a compaction the feed must skip
    VersionedTable.commitUpdate(spark, bronze, col("k") < 10L, Map("x" -> (col("x") + 1000L)))
    VersionedTable.commitDelete(spark, bronze, col("k") % 50L === 7L)
    VersionedTable.commitAppend(spark,
      Seq((500L, 1L, "new"), (501L, 2L, "new")).toDF("k", "x", "tag"), bronze)
    VersionedTable.commitCompact(spark, bronze, targetFiles = 2, clusterBy = Seq("k"))
    mirror(bronze, silver)
    assert(rowsOf(silver) == rowsOf(bronze))
    assert(rowsOf(silver).exists(_ == ((0L, 1000L, "base"))))
    assert(!rowsOf(silver).exists(_._1 == 7L))
    // no new commits: poll is a no-op (offset == latest)
    val off = ChangeFeedConsumer.offset(bronze, "mirror").get
    assert(mirror(bronze, silver) == off)
    // a key touched TWICE in one span: the last step must win
    VersionedTable.commitUpdate(spark, bronze, col("k") === 20L, Map("x" -> lit(1L)))
    VersionedTable.commitUpdate(spark, bronze, col("k") === 20L, Map("x" -> lit(2L)))
    mirror(bronze, silver)
    assert(rowsOf(silver) == rowsOf(bronze))
    assert(rowsOf(silver).exists(_ == ((20L, 2L, "base"))))
  }

  test("crash-replay: a rewound offset re-delivers the span; txn-marked sinks apply it exactly once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cfc2").toString
    val (bronze, silver) = (s"$root/bronze", s"$root/silver")
    VersionedTable.commitAppend(spark,
      spark.range(0L, 100L).select(col("id").as("k"), col("id").as("x"),
        lit("base").as("tag")), bronze)
    mirror(bronze, silver)
    val offBefore = ChangeFeedConsumer.offset(bronze, "mirror").get
    VersionedTable.commitUpdate(spark, bronze, col("k") === 3L, Map("x" -> lit(333L)))
    VersionedTable.commitDelete(spark, bronze, col("k") === 4L)
    mirror(bronze, silver)
    val want = rowsOf(bronze)
    assert(rowsOf(silver) == want)
    val silverVersions = VersionedTable.log(silver).size
    // simulate the crash window: span handled, offset write lost (rewind
    // through the hadoop fs so the checksum sidecar stays consistent)
    val fs = new org.apache.hadoop.fs.Path(bronze)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val offPath = new org.apache.hadoop.fs.Path(bronze, "_consumers/mirror.offset")
    val out = fs.create(offPath, true)
    try out.write(s"version=$offBefore\n".getBytes) finally out.close()
    mirror(bronze, silver) // re-delivers; merge + delete both skip via txn
    assert(rowsOf(silver) == want)
    assert(VersionedTable.log(silver).size == silverVersions,
      "re-delivered span must not commit new silver versions")
    assert(ChangeFeedConsumer.offset(bronze, "mirror").get > offBefore)
  }

  test("a FILTERING silverTransform cannot swallow deletes (removed keys bypass it)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cfc4").toString
    val (bronze, silver) = (s"$root/bronze", s"$root/silver")
    VersionedTable.commitAppend(spark,
      spark.range(0L, 100L).select(col("id").as("k"), (col("id") * 10L).as("x"),
        lit("base").as("tag")), bronze)
    def m(): Long = ChangeFeedConsumer.replicate(spark, bronze, silver, "f",
      Seq("k"), Seq("k", "x", "tag"),
      // a filter over a VALUE column: NULL on removed rows, so a transform
      // applied to the whole span state would drop the delete row — the
      // removed keys must bypass the transform
      silverTransform = df => df.where(col("x") >= 0L))
    m()
    VersionedTable.commitDelete(spark, bronze, col("k") === 7L)
    m()
    assert(!VersionedTable.read(spark, silver).collect().map(_.getLong(0)).contains(7L),
      "the filtering transform swallowed the delete")
  }

  test("an update that leaves a filtering transform's predicate DELETES the silver row") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cfc5").toString
    val (bronze, silver) = (s"$root/bronze", s"$root/silver")
    VersionedTable.commitAppend(spark,
      spark.range(0L, 20L).select(col("id").as("k"), (col("id") + 1L).as("x"),
        lit("base").as("tag")), bronze)
    def m(): Long = ChangeFeedConsumer.replicate(spark, bronze, silver, "fo",
      Seq("k"), Seq("k", "x", "tag"),
      silverTransform = df => df.where(col("x") > 0L))
    m()
    assert(VersionedTable.read(spark, silver).count() == 20L)
    // k=3 moves OUT of the filter: the silver row must disappear, not stale
    VersionedTable.commitUpdate(spark, bronze, col("k") === 3L, Map("x" -> lit(-5L)))
    m()
    val silverKeys = VersionedTable.read(spark, silver).collect().map(_.getLong(0)).toSet
    assert(!silverKeys.contains(3L),
      "an out-of-filter update must delete the stale silver row")
    assert(silverKeys.size == 19)
    // and moving back IN re-inserts it
    VersionedTable.commitUpdate(spark, bronze, col("k") === 3L, Map("x" -> lit(42L)))
    m()
    assert(VersionedTable.read(spark, silver).where(col("k") === 3L)
      .head.getLong(1) == 42L)
  }

  test("a lost offset file recovers from the silver txn markers — no snapshot duplication") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cfc6").toString
    val (bronze, silver) = (s"$root/bronze", s"$root/silver")
    VersionedTable.commitAppend(spark,
      spark.range(0L, 50L).select(col("id").as("k"), (col("id") * 10L).as("x"),
        lit("base").as("tag")), bronze)
    ChangeFeedConsumer.replicate(spark, bronze, silver, "rec",
      Seq("k"), Seq("k", "x", "tag"))
    assert(VersionedTable.read(spark, silver).count() == 50L)
    // simulate the crash window: the offset file vanishes while the sink
    // kept its bootstrap txn marker; bronze then advances
    val off = new java.io.File(s"$bronze/_consumers/rec.offset")
    assert(off.exists); off.delete()
    VersionedTable.commitAppend(spark,
      Seq((500L, 1L, "new")).toDF("k", "x", "tag"), bronze)
    ChangeFeedConsumer.replicate(spark, bronze, silver, "rec",
      Seq("k"), Seq("k", "x", "tag"))
    assert(VersionedTable.read(spark, silver).count() == 51L,
      "a re-bootstrap on the populated sink would have duplicated every row")
  }

  test("span apply is ONE silver commit and bounded Spark jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cfc3").toString
    val (bronze, silver) = (s"$root/bronze", s"$root/silver")
    VersionedTable.commitAppend(spark,
      spark.range(0L, 200L).select(col("id").as("k"), col("id").as("x"),
        lit("base").as("tag")).repartitionByRange(4, col("k")), bronze)
    mirror(bronze, silver)
    VersionedTable.commitUpdate(spark, bronze, col("k") < 10L, Map("x" -> lit(9L)))
    VersionedTable.commitDelete(spark, bronze, col("k") === 100L)
    VersionedTable.commitAppend(spark, Seq((900L, 1L, "new")).toDF("k", "x", "tag"), bronze)
    val silverBefore = VersionedTable.log(silver).size
    val jobs = graft.obs.Obs.measure(spark)(mirror(bronze, silver))._2.jobs
    assert(rowsOf(silver) == rowsOf(bronze))
    // the whole span (update + delete + insert) lands as ONE conditional
    // MERGE — one probe, one rewrite, one commit. The job budget pins the
    // CDC protocol cost: the span-state checkpoint, the ambiguity agg, the
    // key collect, the file probe, and the staged write, each split into
    // per-stage jobs by AQE (measured 17 on this shape). Regressions this
    // catches: re-splitting the apply into merge-then-delete, re-adding
    // count() probes, or re-introducing schema-INFERENCE jobs on the feed's
    // scans (every undeclared scan resolves through one driver footer now).
    assert(VersionedTable.log(silver).size == silverBefore + 1,
      s"span must apply as ONE commit (${VersionedTable.log(silver).size - silverBefore})")
    assert(jobs <= 20, s"span apply cost $jobs Spark jobs (> 20)")
  }
}
