package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, expr, lit, not}

/** Write-time CHECK constraints for [[VersionedTable]]s — the Delta
  * `ALTER TABLE ... ADD CONSTRAINT ... CHECK (...)` device: data quality
  * enforced at COMMIT time, where a violation costs one rejected batch,
  * instead of at read time, where it costs a corrupted downstream.
  *
  * Layout: one write-once file per constraint under `<dir>/_constraints/`
  * (`<name>.check`, body = the SQL predicate; staged `.tmp` then renamed,
  * like commit entries — a reader never sees a torn predicate). Constraints
  * are table metadata, not version state: they apply from the moment they
  * exist to every subsequent commit, and [[add]] first proves the CURRENT
  * table already satisfies the predicate (the Delta semantics — adding a
  * constraint a table violates must fail, or the constraint is a lie).
  *
  * SQL-standard tri-state: a row violates a CHECK only when the predicate
  * is definitively FALSE — NULL passes (`NOT NULL` is its own predicate:
  * `col IS NOT NULL`). Enforcement reads ONLY the rows being committed
  * (append batch / rewritten files / merged output), never the table —
  * O(change) per commit, the only shape that survives a 100 TB table with
  * per-minute appends. Validation is one `isEmpty`-style probe: Catalyst
  * pushes the negated predicate into the batch's plan and stops at the
  * first violating row.
  */
object Constraints {

  private def cDir(dir: String) = new Path(dir, "_constraints")
  private val nameRe = "^[A-Za-z0-9_][A-Za-z0-9_-]{0,63}$".r

  /** Violation at commit time: carries the constraint and one offending
    * row so the rejected batch is debuggable from the message alone. */
  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  /** Add a CHECK constraint. Validates the table's CURRENT content first
    * (latest version, full scan — paid once at ALTER time, like Delta);
    * refuses duplicates and malformed names. Serialized with commits via
    * the table write lease so a concurrent commit can't slip unvalidated
    * rows between the scan and the publish. */
  def add(spark: SparkSession, dir: String, name: String, predicateSql: String): Unit = {
    require(nameRe.findFirstIn(name).isDefined,
      s"constraint name `$name` must match ${nameRe.regex}")
    // parse NOW: an unparseable predicate must fail the ALTER, not every
    // future commit
    expr(predicateSql)
    FsIO.withWriteLock(dir, s"Constraints.add($name)", TableManager.DefaultLockLeaseMs) {
      val fs = cDir(dir).getFileSystem(FsIO.hadoopConf())
      val target = new Path(cDir(dir), s"$name.check")
      require(!fs.exists(target), s"constraint `$name` already exists on $dir")
      if (VersionedTable.latestVersion(dir).isDefined)
        requireSatisfied(VersionedTable.read(spark, dir), name, predicateSql,
          s"add constraint `$name` to $dir: existing data violates it")
      fs.mkdirs(cDir(dir))
      val tmp = new Path(cDir(dir), s"$name.check.tmp")
      FsIO.writeText(tmp.toString, predicateSql)
      if (!fs.rename(tmp, target))
        sys.error(s"Constraints.add: could not publish `$name` on $dir")
    }
  }

  /** Drop a constraint; returns whether it existed. */
  def drop(dir: String, name: String): Boolean = {
    val fs = cDir(dir).getFileSystem(FsIO.hadoopConf())
    fs.delete(new Path(cDir(dir), s"$name.check"), false)
  }

  /** (name, predicate SQL) of every constraint on the table, name-sorted. */
  def list(dir: String): Seq[(String, String)] = {
    val d  = cDir(dir)
    val fs = d.getFileSystem(FsIO.hadoopConf())
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .filter(_.getPath.getName.endsWith(".check"))
      .map(s => (s.getPath.getName.stripSuffix(".check"),
        FsIO.readText(s.getPath.toString).getOrElse("")))
      .sortBy(_._1)
  }

  /** Enforce every constraint of `dir` against `df` (the rows a commit is
    * about to publish — and ONLY those rows). Called by the VersionedTable
    * commit paths inside the write lease; throws [[ConstraintViolation]]
    * with the first offending row, leaving the table untouched (the commit
    * entry was never published, so readers can't observe the batch). */
  def validate(spark: SparkSession, dir: String, df: DataFrame, op: String): Unit =
    list(dir).foreach { case (name, sql) =>
      requireSatisfied(df, name, sql, s"$op on $dir")
    }

  private def requireSatisfied(df: DataFrame, name: String, predicateSql: String,
      context: String): Unit = {
    // violation = predicate definitively FALSE (SQL CHECK tri-state:
    // NULL passes); limit(1) stops the scan at the first offender
    val bad = df.where(not(coalesce(expr(predicateSql).cast("boolean"), lit(true))))
      .limit(1).collect()
    if (bad.nonEmpty)
      throw new ConstraintViolation(
        s"$context rejected by CHECK `$name` ($predicateSql); " +
          s"example row: ${bad.head.toString.take(500)}")
  }
}
