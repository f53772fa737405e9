package churnbench

import java.time.LocalDate

/** A gold (or export) row as read back from the program's tables. */
final case class GoldRow(customerId: String, asOf: LocalDate, f: Features)

/** A label row as read back from the program's tables. */
final case class LabelRow(customerId: String, asOf: LocalDate, label: Int)

/** One HTTP answer to `POST /v1/churn/predict`, as the load generator saw
  * it, with what the request was meant to provoke.
  */
final case class Answer(customerId: String, status: Int,
    probability: Option[Double], label: Option[Int],
    modelVersion: Option[String], featureVersion: Option[String],
    requestIdEchoed: Boolean, wrongKey: Boolean, inStore: Boolean)

/** The correctness checks. Each compares program output, read back into
  * plain values, with the benchmark's own reckoning or with a property the
  * method must have, and returns one message per failure (at most a few
  * examples each).
  */
object Checks {
  val Tolerance = 1e-9
  private val Examples = 5

  private def report(what: String, bad: Seq[String]): Seq[String] =
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} mismatches, e.g. " +
      bad.take(Examples).mkString("; "))

  private def duplicates[K](what: String, keys: Seq[K]): Seq[String] =
    report(s"$what duplicate keys",
      keys.groupBy(identity).collect { case (k, vs) if vs.size > 1 =>
        s"$k x${vs.size}" }.toSeq)

  private def sameKeys[K](what: String, expected: Set[K],
      actual: Set[K]): Seq[String] =
    report(s"$what missing keys", (expected -- actual).toSeq.map(_.toString)) ++
      report(s"$what unexpected keys", (actual -- expected).toSeq.map(_.toString))

  /** Silver: the same order ids, customers, timestamps and statuses. */
  def silver(expected: Map[String, SilverOrder],
      actual: Seq[SilverOrder]): Seq[String] = {
    val got = actual.map(o => o.orderId -> o).toMap
    duplicates("silver", actual.map(_.orderId)) ++
      sameKeys("silver", expected.keySet, got.keySet) ++
      report("silver rows", expected.toSeq.flatMap { case (id, e) =>
        got.get(id).filter(_ != e).map(a => s"$id: expected $e, got $a")
      })
  }

  def featuresMatch(e: Features, a: Features): Boolean =
    e.recencyDays == a.recencyDays && e.orders30d == a.orders30d &&
      e.orders90d == a.orders90d && e.lifetimeOrders == a.lifetimeOrders &&
      e.tenureDays == a.tenureDays &&
      math.abs(e.avgDaysBetweenOrders - a.avgDaysBetweenOrders) <= Tolerance

  /** Gold: every (customer, as-of) with all six features. */
  def gold(expected: Map[(String, LocalDate), Features],
      actual: Seq[GoldRow]): Seq[String] = {
    val got = actual.map(r => (r.customerId, r.asOf) -> r.f).toMap
    duplicates("gold", actual.map(r => (r.customerId, r.asOf))) ++
      sameKeys("gold", expected.keySet, got.keySet) ++
      report("gold features", expected.toSeq.flatMap { case (k, e) =>
        got.get(k).filterNot(featuresMatch(e, _))
          .map(a => s"$k: expected $e, got $a")
      })
  }

  /** Gold properties: the windows nest, and per as-of date the lifetime
    * counts add up to the distinct silver orders up to that date.
    */
  def goldProperties(actual: Seq[GoldRow],
      silver: Iterable[SilverOrder]): Seq[String] = {
    val nesting = actual.collect {
      case r if !(r.f.orders30d <= r.f.orders90d &&
          r.f.orders90d <= r.f.lifetimeOrders) => s"${r.customerId}@${r.asOf}"
    }
    val sums = actual.groupBy(_.asOf).toSeq.flatMap { case (d, rs) =>
      val total = rs.map(_.f.lifetimeOrders).sum
      val orders = silver.count(!_.date.isAfter(d)).toLong
      if (total == orders) None
      else Some(s"$d: sum of lifetime_orders $total, orders up to it $orders")
    }
    report("gold orders_30d <= orders_90d <= lifetime_orders", nesting) ++
      report("gold lifetime sums", sums)
  }

  def labels(expected: Map[(String, LocalDate), Int],
      actual: Seq[LabelRow]): Seq[String] = {
    val got = actual.map(r => (r.customerId, r.asOf) -> r.label).toMap
    duplicates("labels", actual.map(r => (r.customerId, r.asOf))) ++
      sameKeys("labels", expected.keySet, got.keySet) ++
      report("labels", expected.toSeq.flatMap { case (k, e) =>
        got.get(k).filter(_ != e).map(a => s"$k: expected $e, got $a")
      })
  }

  /** Gold and labels hold the same customers on every date both have. */
  def goldLabelKeys(gold: Seq[GoldRow], labels: Seq[LabelRow]): Seq[String] = {
    val g = gold.groupBy(_.asOf).map { case (d, rs) => d -> rs.map(_.customerId).toSet }
    val l = labels.groupBy(_.asOf).map { case (d, rs) => d -> rs.map(_.customerId).toSet }
    (g.keySet intersect l.keySet).toSeq.sorted.flatMap(d =>
      sameKeys(s"gold vs labels on $d", g(d), l(d)))
  }

  /** The export: one row per customer, at its latest as-of date in gold,
    * with that row's features.
    */
  def export(actual: Seq[GoldRow], gold: Seq[GoldRow]): Seq[String] = {
    val latest = gold.groupBy(_.customerId).map { case (c, rs) =>
      c -> rs.maxBy(_.asOf.toEpochDay) }
    val got = actual.map(r => r.customerId -> r).toMap
    duplicates("export", actual.map(_.customerId)) ++
      sameKeys("export", latest.keySet, got.keySet) ++
      report("export rows", latest.toSeq.flatMap { case (c, e) =>
        got.get(c).filterNot(a => a.asOf == e.asOf && featuresMatch(e.f, a.f))
          .map(a => s"$c: expected $e, got $a")
      })
  }

  def equal[A](what: String, expected: A, actual: A): Seq[String] =
    if (expected == actual) Nil else Seq(s"$what: expected $expected, got $actual")

  def atLeast(what: String, floor: Double, actual: Double): Seq[String] =
    if (actual >= floor) Nil else Seq(s"$what: $actual is below $floor")

  /** Predict answers: 200s carry the reference probability (within
    * [[Tolerance]]), `label == (p >= 0.5)` and the bundle's versions; ids
    * outside the store get 404, a wrong key 401; every answer echoes its
    * request id.
    */
  def answers(actual: Seq[Answer], reference: Map[String, Double],
      modelVersion: String, featureVersion: String): Seq[String] = {
    val status = actual.collect {
      case a if a.status != (if (a.wrongKey) 401 else if (!a.inStore) 404 else 200) =>
        s"${a.customerId}: status ${a.status} (wrong key ${a.wrongKey}, in store ${a.inStore})"
    }
    val scored = actual.filter(_.status == 200)
    val probability = scored.collect {
      case a if !reference.get(a.customerId).exists(p =>
          a.probability.exists(q => math.abs(p - q) <= Tolerance)) =>
        s"${a.customerId}: ${a.probability} against ${reference.get(a.customerId)}"
    }
    val label = scored.collect {
      case a if !a.probability.exists(p =>
          a.label.contains(if (p >= 0.5) 1 else 0)) =>
        s"${a.customerId}: label ${a.label} for ${a.probability}"
    }
    val versions = scored.collect {
      case a if !a.modelVersion.contains(modelVersion) ||
          !a.featureVersion.contains(featureVersion) =>
        s"${a.customerId}: ${a.modelVersion}/${a.featureVersion}"
    }
    report("predict status", status) ++
      report("predict probability", probability) ++
      report("predict label", label) ++
      report("predict versions", versions) ++
      report("predict request id", actual.collect {
        case a if !a.requestIdEchoed => a.customerId })
  }
}
