package graft.candy

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** Property-based fuzz of the fulfillment fold (SURVEY §5.4).
  *
  * `Model.fold` is an in-memory reference implementation written directly
  * from the reference's semantics (reference src/data_processor.py:33-62):
  * walk a product's rows in fulfillment order with running stock; a row is
  * fulfilled in full iff `available > 0 && qty <= available`, otherwise
  * CANCELLED with stock untouched; under daily reload the stock reloads to
  * the snapshot at each day boundary.
  *
  * Pure properties run 300 cases each (5 x 300 = 1500 here, plus the
  * distributed suite below — >= 1000 total); generators deliberately cover
  * stock 0, qty 0, qty > stock, multi-day runs and day-boundary resets.
  */
object FulfillmentFuzzProps extends Properties("FulfillmentFold") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(300)

  object Model {
    def fold(stock: Int, price: Double, rows: Seq[ItemRow],
             resetDaily: Boolean): Seq[FulfilledLine] = {
      var available = stock
      var day: String = null
      rows.map { r =>
        val d = r.order_datetime.take(10)
        if (day == null) day = d
        else if (d != day) { day = d; if (resetDaily) available = stock }
        val f =
          if (available > 0 && r.quantity <= available) { available -= r.quantity; r.quantity }
          else 0
        FulfilledLine(r.order_id, r.product_id, f, price,
          Fulfillment.round2(f * price), d)
      }
    }
  }

  val genStock: Gen[Int] = Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(0, 60))
  val genPrice: Gen[Double] = Gen.choose(1, 999900).map(_ / 100.0)
  val genDay: Gen[String] = Gen.choose(1, 4).map(d => f"2024-02-0$d%d")

  /** Rows for one product, already in the kernel's required fulfillment
    * order (day, seq) with unique (day, seq) keys.
    */
  def genRows(pid: Long): Gen[List[ItemRow]] = for {
    n <- Gen.choose(0, 40)
    specs <- Gen.listOfN(n, Gen.zip(genDay, Gen.choose(0, 25)))
  } yield specs.zipWithIndex.map { case ((day, qty), i) =>
    ItemRow(pid * 1000000L + i, s"${day}T08:00:00.000000", pid, qty, i.toLong)
  }.sortBy(r => (r.order_datetime.take(10), r.seq))

  val genCase: Gen[(Int, Double, List[ItemRow], Boolean)] = for {
    stock <- genStock
    price <- genPrice
    rows <- genRows(7L)
    reset <- Gen.oneOf(false, true)
  } yield (stock, price, rows, reset)

  /** The production fold over one product's rows (pid 7, as genRows makes). */
  private def fold(rows: List[ItemRow], stock: Int, price: Double,
                   reset: Boolean): List[FulfilledLine] =
    Fulfillment.fold(rows.iterator, Map(7L -> InventoryEntry(stock, price)), reset).toList

  property("kernel fold == in-memory reference model") =
    forAllNoShrink(genCase) { case (stock, price, rows, reset) =>
      val got = fold(rows, stock, price, reset)
      val want = Model.fold(stock, price, rows, reset)
      Prop(got == want) :| s"got=$got want=$want"
    }

  property("fulfilled is all-or-nothing and never exceeds requested") =
    forAllNoShrink(genCase) { case (stock, price, rows, reset) =>
      val out = fold(rows, stock, price, reset)
      Prop(out.zip(rows).forall { case (o, r) =>
        (o.quantity == 0 || o.quantity == r.quantity) && o.quantity <= r.quantity
      })
    }

  property("total fulfilled never exceeds initial stock (per day under reload)") =
    forAllNoShrink(genCase) { case (stock, price, rows, reset) =>
      val out = fold(rows, stock, price, reset)
      if (reset)
        Prop(out.groupBy(_.order_date).forall(_._2.map(_.quantity).sum <= math.max(0, stock)))
      else
        Prop(out.map(_.quantity).sum <= math.max(0, stock))
    }

  property("a cancelled order leaves every later outcome unchanged") =
    forAllNoShrink(genCase, Gen.choose(0, 40)) {
      case ((stock, price, rows, reset), posRaw) =>
        // insert an always-cancelled giant order (qty > stock >= available in
        // both modes) with the same day as the row it precedes, so the insert
        // can never introduce or mask a day-boundary reset
        val pos = if (rows.isEmpty) 0 else posRaw % (rows.size + 1)
        val day = if (rows.isEmpty) "2024-02-01"
          else rows(math.min(pos, rows.size - 1)).order_datetime.take(10)
        val giant = ItemRow(999999999L, s"${day}T08:00:00.000000", 7L,
          math.max(stock, 0) + 26, 999999L)
        val spliced = rows.take(pos) ::: giant :: rows.drop(pos)
        val base = fold(rows, stock, price, reset)
        val withGiant = fold(spliced, stock, price, reset)
        val giantOut = withGiant(pos)
        Prop(giantOut.quantity == 0 &&
          withGiant.patch(pos, Nil, 1) == base) :|
          s"giant=$giantOut spliced=${withGiant.patch(pos, Nil, 1)} base=$base"
    }

  property("oversize orders always cancel; zero-qty orders never consume stock") =
    forAllNoShrink(genCase) { case (stock, price, rows, reset) =>
      val out = fold(rows, stock, price, reset)
      val oversize = out.zip(rows).filter(_._2.quantity > math.max(stock, 0))
      val zeros = out.zip(rows).filter(_._2.quantity == 0)
      Prop(oversize.forall(_._1.quantity == 0) &&
        zeros.forall(o => o._1.quantity == 0 && o._1.line_total == 0.0))
    }
}
