package churnbench

import java.time.{LocalDate, LocalDateTime}
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.time.temporal.ChronoUnit.DAYS
import scala.util.Try

/** A silver order as the benchmark reckons it. */
final case class SilverOrder(orderId: String, customerId: String,
    ts: LocalDateTime, status: String) {
  def date: LocalDate = ts.toLocalDate
}

/** The six gold features of one customer at one as-of date. */
final case class Features(recencyDays: Int, orders30d: Long, orders90d: Long,
    lifetimeOrders: Long, tenureDays: Int, avgDaysBetweenOrders: Double)

/** Silver as reckoned from raw batches: the kept orders by id, and how
  * many raw rows were invalid or lost the dedupe.
  */
final case class SilverOutcome(kept: Map[String, SilverOrder], invalid: Int,
    duplicates: Int)

/** The benchmark's own reckoning of silver, gold and labels, in plain
  * Scala over the generated rows and independent of the program. It
  * follows the reference's written rules: ids trimmed and lower-cased,
  * `yyyy-MM-dd HH:mm:ss` timestamps, `cancelled` → `canceled` and
  * `shipment_pending` → `processing`, rows with a null key field or an
  * unknown status are invalid, and the latest row per order id wins
  * (later purchase time, then later batch).
  */
object Reckon {
  val HorizonDays = 60
  val Allowed: Set[String] = Set("approved", "canceled", "created",
    "delivered", "invoiced", "processing", "shipped", "unavailable")
  val LabelIgnored: Set[String] = Set("canceled", "unavailable")

  private val TsFormat = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")
    .withResolverStyle(ResolverStyle.STRICT)

  def canonicalId(raw: String): Option[String] =
    Option(raw).map(_.trim.toLowerCase)

  def canonicalStatus(raw: String): Option[String] =
    Option(raw).map(_.trim.toLowerCase).map {
      case "cancelled" => "canceled"
      case "shipment_pending" => "processing"
      case s => s
    }

  def parseTs(raw: String): Option[LocalDateTime] =
    Option(raw).flatMap(r => Try(LocalDateTime.parse(r.trim, TsFormat)).toOption)

  /** Silver from raw batches in the order they were ingested. */
  def silver(batches: Seq[Seq[RawOrder]]): SilverOutcome = {
    var invalid = 0
    val candidates = for {
      (rows, batch) <- batches.zipWithIndex
      r <- rows
      o <- {
        val o = for {
          oid <- canonicalId(r.orderId)
          cid <- canonicalId(r.customerId)
          ts <- parseTs(r.purchaseTs)
          st <- canonicalStatus(r.status) if Allowed(st)
        } yield (SilverOrder(oid, cid, ts, st), batch)
        if (o.isEmpty) invalid += 1
        o
      }
    } yield o
    val byId = candidates.groupBy(_._1.orderId)
    val kept = byId.map { case (id, cs) =>
      id -> cs.maxBy { case (o, batch) => (o.ts, batch) }._1
    }
    SilverOutcome(kept, invalid, candidates.size - kept.size)
  }

  /** Features of one customer's orders (any order) at `asOf`, or None
    * if the customer has no order on or before it.
    */
  def features(orders: Seq[SilverOrder], asOf: LocalDate): Option[Features] = {
    val seen = orders.filter(!_.date.isAfter(asOf))
      .sortBy(o => (o.ts, o.orderId))
    if (seen.isEmpty) None
    else {
      def within(days: Int) =
        seen.count(o => !o.date.isBefore(asOf.minusDays(days - 1L))).toLong
      val gaps = seen.sliding(2).collect {
        case Seq(a, b) => DAYS.between(a.date, b.date)
      }.toSeq
      Some(Features(
        recencyDays = DAYS.between(seen.last.date, asOf).toInt,
        orders30d = within(30),
        orders90d = within(90),
        lifetimeOrders = seen.size.toLong,
        tenureDays = DAYS.between(seen.head.date, asOf).toInt,
        avgDaysBetweenOrders =
          if (gaps.isEmpty) 0.0 else gaps.sum.toDouble / gaps.size))
    }
  }

  /** Silver orders grouped by customer, each customer's in time order. */
  def byCustomer(silver: Iterable[SilverOrder]): Map[String, Seq[SilverOrder]] =
    silver.groupBy(_.customerId).map { case (c, os) =>
      c -> os.toVector.sortBy(o => (o.ts, o.orderId)) }

  /** Gold at `asOf`: features of every customer with an order by then. */
  def gold(customers: Map[String, Seq[SilverOrder]],
      asOf: LocalDate): Map[String, Features] =
    customers.flatMap { case (c, os) => features(os, asOf).map(c -> _) }

  /** Labels at `asOf`: 1 iff a customer with an order by then places no
    * order outside [[LabelIgnored]] in the following [[HorizonDays]].
    */
  def labels(customers: Map[String, Seq[SilverOrder]],
      asOf: LocalDate): Map[String, Int] = {
    val end = asOf.plusDays(HorizonDays.toLong)
    customers.collect {
      case (c, os) if os.exists(!_.date.isAfter(asOf)) =>
        val retained = os.exists(o => o.date.isAfter(asOf) &&
          !o.date.isAfter(end) && !LabelIgnored(o.status))
        c -> (if (retained) 0 else 1)
    }
  }
}
