package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality check family (SURVEY.md §2.12; reference
  * `src/common/dq.py:12-118` and the hardcoded gate asserts in
  * `customer_features_daily.py:30-80`, `labels.py:50-79`).
  *
  * Severity gating mirrors the reference: only `critical` failures block a
  * publish; `warn` failures are reported but pass.
  *
  * Scale design: all row-predicate checks for a table are evaluated in ONE
  * scan (a single agg of conditional sums); `Unique` folds into the same
  * pass as `count(*) - countDistinct(key)`. No per-check job, no collect of
  * failed rows beyond a bounded sample.
  */
sealed trait DqCheck {
  def name: String
  def severity: String
  /** Aggregate expression counting violating rows (long). */
  def failCount: Column = failCountWhere(lit(true))
  /** Aggregate expression counting violating rows among the rows the
    * boolean `rows` selects (long) — lets one aggregate check a subset
    * of a frame beside other counts of the same scan.
    */
  def failCountWhere(rows: Column): Column
  /** Row-level predicate selecting violating rows, if expressible. */
  def failPredicate: Option[Column]
}

/** Rows where any listed column is null (dq.py:19-28). */
final case class NotNull(cols: Seq[String], severity: String = "critical")
    extends DqCheck {
  val name = s"not_null_${cols.mkString("_")}"
  private val pred = cols.map(col(_).isNull).reduce(_ || _)
  def failCountWhere(rows: Column): Column =
    sum(when(rows && pred, 1L).otherwise(0L)).cast("long")
  def failPredicate: Option[Column] = Some(pred)
}

/** Null or outside the allowed set (dq.py:38-39). */
final case class InSet(c: String, allowed: Seq[String],
    severity: String = "critical") extends DqCheck {
  val name = s"in_set_$c"
  private val pred = col(c).isNull || !col(c).isin(allowed: _*)
  def failCountWhere(rows: Column): Column =
    sum(when(rows && pred, 1L).otherwise(0L)).cast("long")
  def failPredicate: Option[Column] = Some(pred)
}

/** Excess rows beyond one per key (dq.py:31-35). Counted as
  * count(*) - countDistinct(keys): zero iff the key is unique.
  */
final case class UniqueKey(cols: Seq[String], severity: String = "critical")
    extends DqCheck {
  val name = s"unique_${cols.mkString("_")}"
  def failCountWhere(rows: Column): Column =
    (count(when(rows, lit(1))) -
      countDistinct(when(rows, struct(cols.map(col): _*)))).cast("long")
  def failPredicate: Option[Column] = None // needs a self-join; see failedKeys
}

/** Cross-column ordering / range rule, e.g. orders_30d <= orders_90d
  * (customer_features_daily.py:55-68).
  */
final case class Predicate(name: String, violated: Column,
    severity: String = "critical") extends DqCheck {
  def failCountWhere(rows: Column): Column =
    sum(when(rows && violated, 1L).otherwise(0L)).cast("long")
  def failPredicate: Option[Column] = Some(violated)
}

final case class DqResult(
    checkName: String, severity: String, failedCount: Long) {
  def passed: Boolean = failedCount == 0L
}

/** `rowCount`: the rows checked; `extra`: the values of the extra
  * aggregates evaluated in the same pass (see [[DqRunner.run]]).
  */
final case class DqReport(results: Seq[DqResult], rowCount: Long,
    extra: Seq[Long]) {
  def criticalFailures: Seq[DqResult] =
    results.filter(r => !r.passed && r.severity == "critical")
  def passed: Boolean = criticalFailures.isEmpty
}

object DqRunner {
  /** All checks in one scan: a single aggregate row of violation counts. */
  def summaryDf(df: DataFrame, checks: Seq[DqCheck]): DataFrame = {
    val agg = df.agg(
      checks.head.failCount.as(checks.head.name),
      checks.tail.map(c => c.failCount.as(c.name)): _*)
    // unpivot the 1×N agg row to (check_name, n_failed) rows
    val stackArgs = checks
      .map(c => s"'${c.name}', `${c.name}`").mkString(", ")
    agg.select(expr(
      s"stack(${checks.size}, $stackArgs) as (check_name, n_failed)"))
  }

  /** All checks over the rows `rows` selects, in one aggregate that also
    * counts those rows and evaluates the `extra` long aggregates over the
    * whole frame (a caller's other counts of the same scan).
    */
  def run(df: DataFrame, checks: Seq[DqCheck], rows: Column = lit(true),
      extra: Seq[Column] = Nil): DqReport = {
    val aggs = checks.map(_.failCountWhere(rows)) ++
      (count(when(rows, lit(1))) +: extra)
    val row = df.agg(aggs.head.as("c0"), aggs.tail.zipWithIndex.map {
      case (a, i) => a.as(s"c${i + 1}")
    }: _*).collect()(0)
    def long(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    DqReport(checks.zipWithIndex.map { case (c, i) =>
      DqResult(c.name, c.severity, long(i))
    }, long(checks.size), extra.indices.map(i => long(checks.size + 1 + i)))
  }

  /** Bounded sample of violating rows for quarantine (dq.py:101-118). */
  def failedSample(df: DataFrame, check: DqCheck, limit: Int = 100): DataFrame =
    check.failPredicate match {
      case Some(p) => df.filter(p).limit(limit)
      case None => // unique check: join back on over-represented keys
        check match {
          case UniqueKey(cols, _) =>
            val dupKeys = df.groupBy(cols.map(col): _*)
              .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
              .drop("_n")
            df.join(dupKeys, cols, "left_semi").limit(limit)
          case _ => df.limit(0)
        }
    }
}
