package graft.plans

import graft.tables.TimePartitioned
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HIDDEN partition pruning for day-partitioned tables (the Iceberg
  * `days(ts)` transform contract, [[graft.catalog.GraftDayTable]]): the
  * table partitions by a derived `p_day` key users never see; this rule
  * maps their raw-timestamp range predicates onto `p_day` bounds so
  * FileSourceStrategy's directory pruning fires — a time-windowed query
  * reads O(window) directories without the query author ever naming the
  * partition column. The mapping is the read-path twin of
  * [[TimePartitioned.readRange]], generalized to any SQL/DataFrame filter.
  * It fires on the day-table scan [[TimePartitioned.scan]] builds: the
  * head manifest's files under `basePath=<table>/data`, so the table
  * directory — and its day marker — resolve from that base path.
  *
  * Soundness: `p_day = dayOfNanos(ts)` holds for every stored row (the
  * writer derives it), `dayOfNanos` is monotone in ts, and ISO day strings
  * compare lexicographically in day order across the whole epoch-nanos
  * range — so `ts >= L` implies `p_day >= dayOfNanos(L)` and dually. Only
  * top-level conjuncts translate (an OR branch is skipped, conservatively),
  * bounds only TIGHTEN the scan (the residual ts predicate still applies
  * row-level), and the rule is idempotent: a condition already naming
  * `p_day` is one this rule produced, so it never re-derives. */
case class DayPartitionPruning(spark: SparkSession) extends Rule[LogicalPlan] {

  private def nanosOf(l: Literal): Option[Long] = l.dataType match {
    case LongType    => Option(l.value).map(_.asInstanceOf[Long])
    case IntegerType => Option(l.value).map(_.asInstanceOf[Int].toLong)
    case _           => None
  }

  // strict integer bounds sharpen by one nano (ts < L ⟺ ts ≤ L−1): on a
  // day boundary that excludes a whole directory. Overflow-guarded — at
  // the Long extremes the unsharpened bound is still sound.
  private def sharpLo(l: Option[Long]) = l.map(v => if (v == Long.MaxValue) v else v + 1)
  private def sharpHi(l: Option[Long]) = l.map(v => if (v == Long.MinValue) v else v - 1)

  /** (lower, upper) epoch-nanos bounds `e` puts on `ts`, if any. */
  private def boundsOf(e: Expression, ts: Attribute): (Option[Long], Option[Long]) =
    e match {
      case GreaterThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(ts) =>
        (nanosOf(l), None)
      case GreaterThan(a: Attribute, l: Literal) if a.semanticEquals(ts) =>
        (sharpLo(nanosOf(l)), None)
      case LessThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(ts) =>
        (None, nanosOf(l))
      case LessThan(a: Attribute, l: Literal) if a.semanticEquals(ts) =>
        (None, sharpHi(nanosOf(l)))
      case EqualTo(a: Attribute, l: Literal) if a.semanticEquals(ts) =>
        (nanosOf(l), nanosOf(l))
      // literal-first spellings
      case GreaterThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(ts) =>
        (None, nanosOf(l))
      case GreaterThan(l: Literal, a: Attribute) if a.semanticEquals(ts) =>
        (None, sharpHi(nanosOf(l)))
      case LessThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(ts) =>
        (nanosOf(l), None)
      case LessThan(l: Literal, a: Attribute) if a.semanticEquals(ts) =>
        (sharpLo(nanosOf(l)), None)
      case EqualTo(l: Literal, a: Attribute) if a.semanticEquals(ts) =>
        (nanosOf(l), nanosOf(l))
      case _ => (None, None)
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, lr: LogicalRelation)
        if lr.relation.isInstanceOf[HadoopFsRelation] &&
          lr.output.exists(_.name == "p_day") =>
      val fs = lr.relation.asInstanceOf[HadoopFsRelation]
      val pDay = lr.output.find(_.name == "p_day").get
      // already derived (p_day is hidden — only this rule writes it here)?
      if (cond.references.contains(pDay)) f
      else {
        // the scan lists manifest FILES; the table directory is the parent
        // of the `data` base path
        val dirOpt = fs.options.get("basePath")
          .map(b => new org.apache.hadoop.fs.Path(b).getParent.toString)
        dirOpt.flatMap(TimePartitioned.dayColumnCached) match {
          case Some(tsName) =>
            lr.output.find(_.name.equalsIgnoreCase(tsName)) match {
              case Some(ts) if pDay.dataType == StringType =>
                val bs = conjuncts(cond).map(boundsOf(_, ts))
                val lower = bs.flatMap(_._1).maxOption
                val upper = bs.flatMap(_._2).minOption
                // the injected literal is built at p_day's resolved type
                // (the scan pins it to string): this comparison is
                // optimizer-built and never re-analyzed
                def dayLit(nanos: Long) =
                  Literal(UTF8String.fromString(TimePartitioned.dayOfNanos(nanos)), StringType)
                val derived: Seq[Expression] =
                  lower.map(l => GreaterThanOrEqual(pDay, dayLit(l))).toSeq ++
                  upper.map(u => LessThanOrEqual(pDay, dayLit(u))).toSeq
                if (derived.isEmpty) f
                else Filter((derived :+ cond).reduce(And), lr)
              case _ => f
            }
          case None => f
        }
      }
  }
}
