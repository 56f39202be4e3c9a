package perfbench

import scala.collection.mutable

import graft.catalog.GraftCatalog
import graft.tables.VersionedTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** table_mix: one versioned table, one client, a seeded sequence of about
  * half writes and half reads over zipf-skewed keys (see [[Gen.op]]).
  * Writes alternate between the `VersionedTable` API (layer `tables`) and
  * the SQL verbs on the `graft` catalog (layer `catalog`); reads go through
  * `spark.sql` and collect their result. An in-driver model of the table
  * (key → value, plus a checksum per version) checks every read and the
  * final snapshot. */
final class TableMixWorkload extends Workload {

  /** One table with its model: live rows and per-version checksums. */
  private final class TableState(val dir: String, val name: String) {
    val rows = mutable.HashMap[Long, Long]()
    val sums = mutable.HashMap[Long, (Long, Long, Long)]()
    var readable = Vector[Long]()
    var files = Map[String, Long]() // latest version's data files → bytes (traced runs)
    def checksum: (Long, Long, Long) = (rows.size.toLong, rows.valuesIterator.sum, rows.keysIterator.sum)
  }

  private var seed = 0L
  private var dir = ""
  private var warmRows = Seq.empty[(Long, Long)]
  private var main: TableState = _
  private var nextOp = 0L
  private var dg = ""

  val RetainVersions = 12

  def digest: String = dg

  private def create(c: Client, dir: String, name: String, rows: Seq[(Long, Long)]): TableState = {
    val spark = c.spark
    import spark.implicits._
    val st = new TableState(dir, name)
    VersionedTable.commitAppend(spark,
      rows.map { case (k, v) => (k, v, Gen.payload(k)) }.toDF("k", "v", "s")
        .repartitionByRange(8, col("k")), dir)
    GraftCatalog.register(name, dir)
    st.rows ++= rows
    val v = VersionedTable.latestVersion(dir).get
    st.sums(v) = st.checksum
    st.readable = Vector(v)
    st
  }

  def setup(c: Client, dir: String, seed: Long): Unit = {
    this.seed = seed
    this.dir = dir
    val rows = Gen.initialRows(seed)
    warmRows = rows.take(2000)
    val d = new Gen.Digest
    rows.foreach { case (k, v) => d.add(k).add(v) }
    (0L until 2000L).map(Gen.op(seed, _)).foreach(o =>
      d.add(s"${o.kind}|${o.sql}|${o.keys.mkString(",")}|${o.a}|${o.b}|${o.vals.mkString(",")}"))
    dg = d.hex
    main = create(c, s"$dir/table", "pb_mix", rows)
  }

  private def source(c: Client, op: Gen.Op): DataFrame = {
    val spark = c.spark
    import spark.implicits._
    op.keys.zip(op.vals).map { case (k, v) => (k, v, Gen.payload(k)) }.toDF("k", "v", "s")
  }

  private def inList(keys: Seq[Long]) = keys.mkString("(", ", ", ")")

  /** Execute one operation against `st`, then check it against the model. */
  private def exec(c: Client, st: TableState, op: Gen.Op): Unit = {
    val spark = c.spark
    val t = s"graft.${st.name}"
    def write(sqlName: String, apiName: String)(sql: => String)(api: => Any): Unit = {
      if (op.sql) {
        val stmt = sql
        c.commit("catalog", sqlName)(spark.sql(stmt).collect())
      } else c.commit("tables", apiName)(api)
      op.kind match {
        case "append" | "merge" => st.rows ++= op.keys.zip(op.vals)
        case "delete" => st.rows --= op.keys
        case "update" => op.keys.filter(st.rows.contains).foreach(k => st.rows(k) += op.a)
        case _ => ()
      }
      val prev = st.readable.last
      val v = VersionedTable.latestVersion(st.dir).get
      if (v != prev) {
        st.sums(v) = st.checksum
        st.readable :+= v
      }
      if (op.kind == "vacuum") st.readable = st.readable.takeRight(RetainVersions)
      if (c.traced) {
        val now = VersionedTable.filesOf(st.dir, v)
          .map(f => f -> new java.io.File(Workload.absolute(st.dir, f)).length()).toMap
        c.note("added_bytes" -> now.collect { case (f, b) if !st.files.contains(f) => b.toDouble }.sum)
        st.files = now
      }
    }
    def read(what: String, stmt: String, version: Long): Array[Row] = {
      val out = c.call("catalog", what)(spark.sql(stmt).collect())
      if (c.traced) c.note("snapshot_files" -> VersionedTable.filesOf(st.dir, version).size.toDouble)
      out
    }
    def agg(r: Array[Row]) = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    val aggCols = "count(*), coalesce(sum(v), 0L), coalesce(sum(k), 0L)"

    op.kind match {
      case "append" =>
        val src = source(c, op)
        write("INSERT INTO", "VersionedTable.commitAppend") {
          src.createOrReplaceTempView("pb_src"); s"INSERT INTO $t SELECT k, v, s FROM pb_src"
        }(VersionedTable.commitAppend(spark, src, st.dir))
      case "merge" =>
        val src = source(c, op)
        write("MERGE INTO", "VersionedTable.commitMerge") {
          src.createOrReplaceTempView("pb_src")
          s"MERGE INTO $t t USING pb_src s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        }(VersionedTable.commitMerge(spark, st.dir, src, Seq("k")))
      case "delete" =>
        write("DELETE", "VersionedTable.commitDelete")(s"DELETE FROM $t WHERE k IN ${inList(op.keys)}")(
          VersionedTable.commitDelete(spark, st.dir, col("k").isin(op.keys: _*)))
      case "update" =>
        write("UPDATE", "VersionedTable.commitUpdate")(
          s"UPDATE $t SET v = v + ${op.a} WHERE k IN ${inList(op.keys)}")(
          VersionedTable.commitUpdate(spark, st.dir, col("k").isin(op.keys: _*),
            Map("v" -> (col("v") + op.a))))
      case "optimize" =>
        write("OPTIMIZE", "VersionedTable.commitCompact")(s"OPTIMIZE $t ZORDER BY (k) TARGET 8 FILES")(
          VersionedTable.commitCompact(spark, st.dir, 8, clusterBy = Seq("k")))
      case "vacuum" =>
        write("VACUUM", "VersionedTable.vacuum")(s"VACUUM $t RETAIN $RetainVersions VERSIONS")(
          VersionedTable.vacuum(spark, st.dir, RetainVersions))
      case "point" =>
        val k = op.keys.head
        val got = read("SELECT point", s"SELECT k, v, s FROM $t WHERE k = $k", st.readable.last)
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
        val want = st.rows.get(k).map(v => (k, v, Gen.payload(k))).toSeq
        c.check(c.lastOp, got == want, s"point read k=$k: got $got, model $want")
      case "range" =>
        val got = agg(read("SELECT range",
          s"SELECT $aggCols FROM $t WHERE k BETWEEN ${op.a} AND ${op.b}", st.readable.last))
        val in = st.rows.filter { case (k, _) => k >= op.a && k <= op.b }
        val want = (in.size.toLong, in.values.sum, in.keys.sum)
        c.check(c.lastOp, got == want, s"range read [${op.a}, ${op.b}]: got $got, model $want")
      case "travel" =>
        val v = st.readable(math.max(0, st.readable.size - 1 - op.a.toInt))
        val got = agg(read("SELECT VERSION AS OF", s"SELECT $aggCols FROM $t VERSION AS OF $v", v))
        c.check(c.lastOp, got == st.sums(v), s"read of version $v: got $got, model ${st.sums(v)}")
    }
  }

  private def isRead(o: Gen.Op) = Set("point", "range", "travel")(o.kind)

  /** One operation of every (kind, API or SQL) pair, from another seed:
    * API writes, SQL writes and reads each on a small table of their own. */
  def warmUpRound(c: Client): Unit = {
    val ops = (0L until 400L).map(Gen.op(seed + 1, _)).groupBy(o => (o.kind, o.sql)).values
      .map(_.minBy(_.i)).toSeq.sortBy(_.i)
    val groups = Seq(ops.filter(o => !isRead(o) && !o.sql), ops.filter(o => !isRead(o) && o.sql),
      ops.filter(isRead))
    Client.concurrently(c, groups.zipWithIndex.map { case (g, j) => (cc: Client) =>
      val st = create(cc, s"$dir/warm$j", s"pb_mix_warm$j", warmRows)
      g.foreach(exec(cc, st, _))
    })
  }

  def nominalRoundS: Double = 4.5

  def round(c: Client): Long = {
    (0 until Gen.OpsPerRound).foreach { _ => exec(c, main, Gen.op(seed, nextOp)); nextOp += 1 }
    Gen.OpsPerRound.toLong
  }

  override def finish(c: Client): Unit = {
    val got = c.spark.sql(s"SELECT k, v, s FROM graft.${main.name}").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val want = main.rows.map { case (k, v) => k -> (v, Gen.payload(k)) }.toMap
    c.check(c.lastOp, got == want,
      s"final snapshot differs from the model: ${got.size} rows vs ${want.size}")
  }

  def tableDirs: Seq[String] = Seq(main.dir)

  def counters: Map[String, Double] = Map.empty
}
