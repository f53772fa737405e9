package churnbench

import java.time.{LocalDate, LocalDateTime}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own reckoning against the reference's published
  * goldens (BASELINE.md §2) and the generator's promises.
  */
class ReckonSpec extends AnyFunSuite {
  private def ts(s: String) = LocalDateTime.parse(s.replace(' ', 'T'))

  test("two-order customer's features match the reference golden") {
    val orders = Seq(
      SilverOrder("o1", "c1", ts("2025-01-10 10:00:00"), "delivered"),
      SilverOrder("o2", "c1", ts("2025-03-10 11:00:00"), "delivered"))
    assert(Reckon.features(orders, LocalDate.parse("2025-03-31")) ===
      Some(Features(recencyDays = 21, orders30d = 1, orders90d = 2,
        lifetimeOrders = 2, tenureDays = 80, avgDaysBetweenOrders = 59.0)))
    assert(Reckon.features(orders, LocalDate.parse("2025-01-09")).isEmpty)
  }

  test("three-row silver dedupe matches the reference golden") {
    val batches = Seq(
      Seq(RawOrder("ORD-1", "CUST-1", "delivered", "2025-01-01 10:00:00", null)),
      Seq(RawOrder("ORD-1", "CUST-1", "shipment_pending",
        "2025-01-02 10:00:00", null)),
      Seq(RawOrder("ORD-2", null, "delivered", "2025-01-03 10:00:00", null)))
    val s = Reckon.silver(batches)
    assert(s.kept === Map("ord-1" ->
      SilverOrder("ord-1", "cust-1", ts("2025-01-02 10:00:00"), "processing")))
    assert(s.invalid === 1)
    assert(s.duplicates === 1)
  }

  test("a re-send with the same purchase time wins by its later batch") {
    val first = RawOrder(" O1", "C1 ", "created", "2025-01-01 10:00:00", null)
    val again = first.copy(status = " Approved ")
    assert(Reckon.silver(Seq(Seq(first), Seq(again))).kept("o1").status ===
      "approved")
    assert(Reckon.silver(Seq(Seq(RawOrder("o1", "c1", "lost",
      "2025-01-01 10:00:00", null)))).invalid === 1)
  }

  test("labels ignore canceled and unavailable orders") {
    val asOf = LocalDate.parse("2025-01-31")
    val byCustomer = Reckon.byCustomer(Seq(
      SilverOrder("a1", "a", ts("2025-01-05 10:00:00"), "delivered"),
      SilverOrder("a2", "a", ts("2025-02-05 10:00:00"), "canceled"),
      SilverOrder("b1", "b", ts("2025-01-05 10:00:00"), "delivered"),
      SilverOrder("b2", "b", ts("2025-03-30 10:00:00"), "shipped"),
      SilverOrder("c1", "c", ts("2025-02-01 10:00:00"), "delivered")))
    assert(Reckon.labels(byCustomer, asOf) === Map("a" -> 1, "b" -> 0))
  }

  test("the generator is seeded, dirty, and re-sends keep label relevance") {
    val cfg = GenConfig(customers = 300, start = LocalDate.of(2024, 1, 1),
      backfillDays = 120, timedDays = 10)
    val a = Gen.generate(cfg, 7)
    assert(a === Gen.generate(cfg, 7))
    assert(a !== Gen.generate(cfg, 8))
    assert(a.size === 11 && a.tail.map(_.day) ===
      (120 until 130).map(d => cfg.start.plusDays(d.toLong)))
    val raw = a.flatMap(_.rows)
    assert(raw.exists(_.customerId == null))
    assert(raw.exists(_.status.trim == "cancelled"))
    assert(raw.exists(r => r.orderId != r.orderId.trim.toLowerCase))
    val silver = Reckon.silver(a.map(_.rows))
    assert(silver.duplicates > 0, "no re-sends")
    val first = Reckon.silver(Seq(a.head.rows)).kept
    silver.kept.values.filter(o => first.contains(o.orderId)).foreach { o =>
      assert(Reckon.LabelIgnored(o.status) ===
        Reckon.LabelIgnored(first(o.orderId).status))
    }
    assert(cfg.backfillAsOfs ===
      Seq(LocalDate.parse("2024-01-31"), LocalDate.parse("2024-02-29")))
  }
}
