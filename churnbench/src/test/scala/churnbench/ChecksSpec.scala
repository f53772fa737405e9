package churnbench

import java.time.{LocalDate, LocalDateTime}
import org.scalatest.funsuite.AnyFunSuite

/** Each check passes the reckoning's own output and rejects it once one
  * value is altered.
  */
class ChecksSpec extends AnyFunSuite {
  private val cfg = GenConfig(customers = 200, start = LocalDate.of(2024, 1, 1),
    backfillDays = 120, timedDays = 3)
  private val silver = Reckon.silver(Gen.generate(cfg, 3).map(_.rows)).kept
  private val customers = Reckon.byCustomer(silver.values)
  private val asOfs = cfg.backfillAsOfs
  private val gold = for {
    d <- asOfs
    (c, f) <- Reckon.gold(customers, d).toSeq.sortBy(_._1)
  } yield GoldRow(c, d, f)
  private val labels = for {
    d <- asOfs
    (c, l) <- Reckon.labels(customers, d).toSeq.sortBy(_._1)
  } yield LabelRow(c, d, l)
  private def expectedGold = gold.map(r => (r.customerId, r.asOf) -> r.f).toMap
  private def expectedLabels =
    labels.map(r => (r.customerId, r.asOf) -> r.label).toMap

  test("silver rejects one flipped status") {
    val rows = silver.values.toSeq.sortBy(_.orderId)
    assert(Checks.silver(silver, rows).isEmpty)
    val flipped = rows.updated(3, rows(3).copy(status =
      if (rows(3).status == "delivered") "shipped" else "delivered"))
    assert(Checks.silver(silver, flipped).nonEmpty)
    assert(Checks.silver(silver, rows.tail).nonEmpty)
    assert(Checks.silver(silver, rows :+ rows.head).nonEmpty)
  }

  test("gold rejects one feature off by one and a nudged average") {
    assert(Checks.gold(expectedGold, gold).isEmpty)
    assert(Checks.goldProperties(gold, silver.values).isEmpty)
    val r = gold(5)
    val offByOne = gold.updated(5,
      r.copy(f = r.f.copy(lifetimeOrders = r.f.lifetimeOrders + 1)))
    assert(Checks.gold(expectedGold, offByOne).nonEmpty)
    assert(Checks.goldProperties(offByOne, silver.values).nonEmpty)
    assert(Checks.gold(expectedGold, gold.updated(5,
      r.copy(f = r.f.copy(recencyDays = r.f.recencyDays - 1)))).nonEmpty)
    val nudged = gold.updated(5, r.copy(f = r.f.copy(
      avgDaysBetweenOrders = r.f.avgDaysBetweenOrders + 1e-6)))
    assert(Checks.gold(expectedGold, nudged).nonEmpty)
    val wrongNesting = gold.updated(5, r.copy(f = r.f.copy(
      orders30d = r.f.lifetimeOrders + 1)))
    assert(Checks.goldProperties(wrongNesting, silver.values).nonEmpty)
  }

  test("labels and their key sets reject one flipped or dropped label") {
    assert(Checks.labels(expectedLabels, labels).isEmpty)
    assert(Checks.goldLabelKeys(gold, labels).isEmpty)
    val flipped = labels.updated(2, labels(2).copy(label = 1 - labels(2).label))
    assert(Checks.labels(expectedLabels, flipped).nonEmpty)
    assert(Checks.goldLabelKeys(gold, labels.tail).nonEmpty)
  }

  test("the export rejects a stale or duplicated customer") {
    val latest = gold.groupBy(_.customerId).values.map(_.maxBy(_.asOf.toEpochDay))
      .toSeq.sortBy(_.customerId)
    assert(Checks.export(latest, gold).isEmpty)
    val c = latest.head.customerId
    val stale = gold.find(r => r.customerId == c && r.asOf != latest.head.asOf)
    stale.foreach(s => assert(Checks.export(latest.updated(0, s), gold).nonEmpty))
    assert(Checks.export(latest :+ latest.head, gold).nonEmpty)
  }

  test("predict answers reject a nudged probability, a wrong label or status") {
    val ok = Seq(
      Answer("c1", 200, Some(0.25), Some(0), Some("m"), Some("f"), true, false, true),
      Answer("c2", 200, Some(0.75), Some(1), Some("m"), Some("f"), true, false, true),
      Answer("c1", 401, None, None, None, None, true, true, true),
      Answer("x9", 404, None, None, None, None, true, false, false))
    val reference = Map("c1" -> 0.25, "c2" -> 0.75)
    assert(Checks.answers(ok, reference, "m", "f").isEmpty)
    def bad(i: Int, a: Answer) =
      assert(Checks.answers(ok.updated(i, a), reference, "m", "f").nonEmpty)
    bad(0, ok(0).copy(probability = Some(0.25 + 1e-6)))
    bad(1, ok(1).copy(label = Some(0)))
    bad(1, ok(1).copy(modelVersion = Some("other")))
    bad(2, ok(2).copy(status = 200))
    bad(3, ok(3).copy(status = 200))
    bad(0, ok(0).copy(requestIdEchoed = false))
  }

  test("counts and floors") {
    assert(Checks.equal("rows", 3L, 3L).isEmpty)
    assert(Checks.equal("rows", 3L, 4L).nonEmpty)
    assert(Checks.atLeast("auc", 0.65, 0.64).nonEmpty)
  }
}
