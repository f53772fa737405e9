package churnbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One raw order row as the source system sends it: every field a string,
  * some of them dirty (case, padding, spellings, nulls, bad timestamps).
  */
final case class RawOrder(orderId: String, customerId: String,
    status: String, purchaseTs: String, estimatedDelivery: String)

/** One raw file: the rows that land for `day` (the backfill lands as one
  * batch dated on its last day).
  */
final case class Batch(day: LocalDate, rows: Vector[RawOrder])

/** Shape of a generated order history.
  *
  * @param customers    customers in the history
  * @param start        first day of the history
  * @param backfillDays days covered by the one backfill batch
  * @param timedDays    daily batches available after the backfill
  * @param churnShare   share of customers who stop ordering at some point
  */
final case class GenConfig(customers: Int, start: LocalDate,
    backfillDays: Int, timedDays: Int, churnShare: Double = 0.5) {
  def backfillEnd: LocalDate = start.plusDays(backfillDays - 1L)

  /** Month-ends inside the backfill whose 60-day label window is
    * observable in it: the as-of dates the backfill publishes.
    */
  def backfillAsOfs: Seq[LocalDate] =
    Iterator.iterate(start.withDayOfMonth(start.lengthOfMonth))(d =>
      d.plusDays(1).withDayOfMonth(d.plusDays(1).lengthOfMonth))
      .takeWhile(!_.plusDays(Reckon.HorizonDays).isAfter(backfillEnd))
      .toSeq
}

/** Seeded order-history generator. Customers start at a random day, order
  * with a personal mean gap, and a `churnShare` of them stop for good at a
  * random point (planted churn, so labels and the model have signal).
  *
  * Dirt mirrors the reference fixtures: ids, statuses and timestamps with
  * random case and padding, `cancelled` and `shipment_pending` spellings,
  * null customer ids, and (daily batches only) orders re-sent with a
  * later status. A re-send never moves an order into or out of the
  * statuses that labels ignore, so a label published earlier stays what
  * the final silver table implies. Unparseable timestamps stay out of
  * the seeded batches: the silver publish fails on them (see
  * [[DirtyProbe]]).
  */
object Gen {

  /** Canonical status → its share of orders. */
  val StatusMix: Seq[(String, Double)] = Seq(
    "delivered" -> 0.66, "shipped" -> 0.08, "canceled" -> 0.06,
    "processing" -> 0.05, "invoiced" -> 0.04, "approved" -> 0.04,
    "created" -> 0.04, "unavailable" -> 0.03)

  /** Status a re-send moves an order to. */
  val NextStatus: Map[String, String] = Map(
    "created" -> "approved", "approved" -> "invoiced",
    "invoiced" -> "processing", "processing" -> "shipped",
    "shipped" -> "delivered")

  val NullCustomerShare = 0.015
  val ResendShare = 0.03
  val ResendLookbackDays = 7

  val TsFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")

  def customerId(i: Int): String = f"c$i%07d"

  /** The orders each day of the history holds, clean. */
  private def history(cfg: GenConfig,
      rnd: SplittableRandom): Array[Vector[SilverOrder]] = {
    val totalDays = cfg.backfillDays + cfg.timedDays
    val byDay = Array.fill(totalDays)(Vector.newBuilder[SilverOrder])
    var orderSeq = 0
    for (c <- 0 until cfg.customers) {
      val first = rnd.nextInt(math.max(1, totalDays * 3 / 4))
      val gap = 4.0 + rnd.nextDouble() * 40.0
      val stop =
        if (rnd.nextDouble() < cfg.churnShare)
          first + 1 + expo(rnd, 70.0).toInt
        else Int.MaxValue
      var t = first
      while (t < math.min(stop, totalDays)) {
        val ts = cfg.start.plusDays(t.toLong).atStartOfDay
          .plusSeconds(rnd.nextInt(86400).toLong)
        byDay(t) += SilverOrder(f"o$orderSeq%08d", customerId(c), ts,
          pick(rnd, StatusMix))
        orderSeq += 1
        t += 1 + expo(rnd, gap).toInt
      }
    }
    byDay.map(_.result())
  }

  /** The history's orders as silver should hold them, without raw rows. */
  def cleanOrders(cfg: GenConfig, seed: Long): Seq[SilverOrder] =
    history(cfg, new SplittableRandom(seed)).toSeq.flatten

  /** The history as raw batches: the backfill, then one per timed day. */
  def generate(cfg: GenConfig, seed: Long): Seq[Batch] = {
    val rnd = new SplittableRandom(seed)
    val days = history(cfg, rnd)

    // latest canonical status of every order sent clean, for re-sends
    val current = scala.collection.mutable.HashMap.empty[String, SilverOrder]
    def raw(o: SilverOrder, customerId: String, padTs: Boolean): RawOrder = {
      val ts = TsFormat.format(o.ts)
      RawOrder(dirty(rnd, o.orderId), customerId, spell(rnd, o.status),
        if (padTs) s" $ts " else ts, ts.take(10))
    }
    def send(o: SilverOrder): RawOrder = {
      val nullCustomer = rnd.nextDouble() < NullCustomerShare
      if (!nullCustomer) current(o.orderId) = o
      raw(o, if (nullCustomer) null else dirty(rnd, o.customerId),
        rnd.nextDouble() < 0.1)
    }
    val backfill =
      days.take(cfg.backfillDays).flatten.map(send).toVector
    val timed = (cfg.backfillDays until days.length).map { d =>
      val resends = days.slice(d - ResendLookbackDays, d).flatten
        .flatMap(o => current.get(o.orderId))
        .filter(o => NextStatus.contains(o.status) &&
          rnd.nextDouble() < ResendShare)
        .map { o =>
          val moved = o.copy(status = NextStatus(o.status))
          current(o.orderId) = moved
          raw(moved, dirty(rnd, o.customerId), padTs = false)
        }
      Batch(cfg.start.plusDays(d.toLong), days(d).map(send) ++ resends)
    }
    Batch(cfg.backfillEnd, backfill) +: timed
  }

  private def expo(rnd: SplittableRandom, mean: Double): Double =
    -mean * math.log(1.0 - rnd.nextDouble())

  private def pick(rnd: SplittableRandom, mix: Seq[(String, Double)]): String = {
    var u = rnd.nextDouble() * mix.map(_._2).sum
    mix.find { case (_, w) => u -= w; u < 0 }.getOrElse(mix.last)._1
  }

  /** Random case and padding on about one value in five. */
  private def dirty(rnd: SplittableRandom, s: String): String =
    if (rnd.nextDouble() >= 0.2) s
    else {
      val cased = if (rnd.nextBoolean()) s.toUpperCase else s.capitalize
      (if (rnd.nextBoolean()) " " else "") + cased +
        (if (rnd.nextBoolean()) "  " else "")
    }

  private def spell(rnd: SplittableRandom, status: String): String =
    dirty(rnd, status match {
      case "canceled" if rnd.nextBoolean() => "cancelled"
      case "processing" if rnd.nextBoolean() => "shipment_pending"
      case s => s
    })
}
