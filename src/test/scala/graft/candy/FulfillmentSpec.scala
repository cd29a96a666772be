package graft.candy

import graft.SparkTestBase

/** Property-style checks of the pure fulfillment fold (seeded random cases)
  * plus a distributed equivalence check: Fulfillment.run must agree with
  * the in-memory reference model (FulfillmentFuzzProps.Model) on arbitrary
  * inputs.
  */
class FulfillmentSpec extends SparkTestBase {

  private def randomItems(rnd: scala.util.Random, n: Int, products: Int): Seq[ItemRow] =
    (1 to n).map { i =>
      ItemRow(rnd.nextInt(200).toLong,
        f"2024-02-${1 + rnd.nextInt(10)}%02dT0${rnd.nextInt(10)}:00:00.000000",
        rnd.nextInt(products).toLong, rnd.nextInt(15), i.toLong)
    }

  test("fulfilled <= requested and total fulfilled <= initial stock (200 random cases)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val stock = rnd.nextInt(100)
      val items = randomItems(rnd, rnd.nextInt(40), 1)
        .sortBy(r => (r.order_datetime, r.seq))
      val out = Fulfillment.fold(items.iterator, Map(0L -> InventoryEntry(stock, 2.5)),
        reloadDaily = false).toList
      assert(out.length == items.length)
      out.zip(items).foreach { case (f, r) =>
        assert(f.quantity == 0 || f.quantity == r.quantity)
      }
      assert(out.map(_.quantity.toLong).sum <= stock)
    }
  }

  test("cancelled rows do not consume stock: later smaller orders can fulfill") {
    val items = Seq(
      ItemRow(1, "2024-02-01T00:00:00", 1, 8, 0),
      ItemRow(2, "2024-02-01T01:00:00", 1, 9, 1), // cancelled (only 2 left)
      ItemRow(3, "2024-02-01T02:00:00", 1, 2, 2)) // still fulfills
    val out = Fulfillment.fold(items.iterator, Map(1L -> InventoryEntry(10, 1.0)),
      reloadDaily = false).toList
    assert(out.map(_.quantity) == List(8, 0, 2))
  }

  test("line_total is 2dp of fulfilled * price") {
    val out = Fulfillment.fold(Iterator(ItemRow(1, "t", 1, 4, 0)),
      Map(1L -> InventoryEntry(100, 6.7)), reloadDaily = false).toList
    assert(out.head.line_total == 26.8)
  }

  test("reloadDaily resets stock at day boundaries") {
    import spark.implicits._
    val items = Seq(
      ItemRow(1, "2024-02-01T00:00:00", 1, 8, 0),
      ItemRow(2, "2024-02-01T01:00:00", 1, 3, 1), // cancelled: 2 left
      ItemRow(3, "2024-02-02T00:00:00", 1, 9, 2)) // reload: fulfills from 10
    val inv = Map(1L -> InventoryEntry(10, 1.0))
    val carry = Fulfillment.run(spark, items.toDS(), inv)
      .collect().sortBy(_.order_id).map(_.quantity).toSeq
    val reload = Fulfillment.run(spark, items.toDS(), inv, reloadDaily = true)
      .collect().sortBy(_.order_id).map(_.quantity).toSeq
    assert(carry == Seq(8, 0, 0), s"carry-over: $carry")
    assert(reload == Seq(8, 0, 9), s"daily reload: $reload")
  }

  test("distributed run equals sequential reference on random input (both modes)") {
    import spark.implicits._
    Seq(false, true).foreach { reload =>
      val rnd = new scala.util.Random(7)
      val items = randomItems(rnd, 500, 13)
      val inv = (0L to 12L).map(p => p -> InventoryEntry(30 + (p * 7 % 40).toInt, 1.5 + p)).toMap
      // multiset comparison over (order, product, quantity, order_date):
      // (order_id, product_id) is NOT unique in random input, and order_date
      // truthfulness in both modes is part of the contract
      val got = Fulfillment.run(spark, items.toDS(), inv, reloadDaily = reload)
        .collect().map(f => (f.order_id, f.product_id, f.quantity, f.order_date))
        .sorted.toSeq
      val want = items.groupBy(_.product_id).flatMap { case (pid, rs) =>
        val sorted = rs.sortBy(r => (r.order_datetime.take(10), r.seq))
        val e = inv.getOrElse(pid, InventoryEntry(0, 0.0))
        FulfillmentFuzzProps.Model.fold(e.stock, e.price, sorted, reload)
          .map(f => (f.order_id, f.product_id, f.quantity, f.order_date))
      }.toSeq.sorted
      assert(got == want, s"reloadDaily=$reload")
    }
  }
}
