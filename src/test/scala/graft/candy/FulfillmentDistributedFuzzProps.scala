package graft.candy

import graft.SparkTestBase
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import scala.util.Random

/** Distributed leg of the kernel fuzz: random multi-product scenarios run
  * through [[Fulfillment.run]] and must equal the in-memory reference model
  * row-for-row. The input Dataset is fed in a RANDOM permutation each case,
  * spread over a random input partition count and folded under a random
  * `spark.sql.shuffle.partitions`: the kernel's internal (product, day,
  * seq) ordering contract — not input order or partition layout — must
  * determine the fold.
  *
  * Case count is deliberately small (each case is real Spark jobs); the
  * 1000+-case bulk runs in the pure suite (FulfillmentFuzzProps).
  */
object FulfillmentDistributedFuzzProps extends Properties("FulfillmentDistributed") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private def spark = SparkTestBase.session

  val genProduct: Gen[(Long, Int, Double, List[ItemRow])] = for {
    pid <- Gen.choose(1L, 1000L)
    stock <- FulfillmentFuzzProps.genStock
    price <- FulfillmentFuzzProps.genPrice
    rows <- FulfillmentFuzzProps.genRows(pid)
  } yield (pid, stock, price, rows)

  /** (products, reloadDaily, permutation seed, input partitions, shuffle partitions). */
  type Scenario = (List[(Long, Int, Double, List[ItemRow])], Boolean, Long, Int, Int)

  val genScenario: Gen[Scenario] = for {
    nProducts <- Gen.choose(1, 5)
    prods0 <- Gen.listOfN(nProducts, genProduct)
    reset <- Gen.oneOf(false, true)
    seed <- Gen.choose(0L, Long.MaxValue)
    inputParts <- Gen.oneOf(1, 4, 13)
    shuffleParts <- Gen.oneOf(1, 3, 4)
  } yield {
    // distinct pids, and re-key order_ids to be globally unique so outputs
    // compare as sets
    val prods = prods0.zipWithIndex.map { case ((pid, st, pr, rows), i) =>
      val p = pid * 10 + i
      (p, st, pr, rows.map(r => r.copy(product_id = p,
        order_id = p * 1000000L + r.seq)))
    }
    (prods, reset, seed, inputParts, shuffleParts)
  }

  property("run matches the in-memory model under input permutation and partition counts") =
    forAllNoShrink(genScenario) { case (prods, reset, seed, inputParts, shuffleParts) =>
      val s = spark
      import s.implicits._
      val inventory = prods.map { case (pid, st, pr, _) =>
        pid -> InventoryEntry(st, pr) }.toMap
      val want = prods.flatMap { case (_, st, pr, rows) =>
        FulfillmentFuzzProps.Model.fold(st, pr, rows, reset) }.toSet
      val shuffled = new Random(seed).shuffle(prods.flatMap(_._4))
      val items = spark.createDataset(shuffled).repartition(inputParts)
      val key = "spark.sql.shuffle.partitions"
      val saved = spark.conf.get(key)
      spark.conf.set(key, shuffleParts.toLong)
      val got =
        try Fulfillment.run(spark, items, inventory, reset).collect().toSet
        finally spark.conf.set(key, saved)
      Prop(got == want) :| s"inputParts=$inputParts shuffleParts=$shuffleParts " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}"
    }
}
