package graft.candy

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Guards the arrival-order invariant behind the golden fulfillment order
  * (SURVEY §5.3): `Ingest.readTransactionsOrdered` must yield `seq` values
  * whose sort order is (file name order, in-JSON-array order) — even under
  * scan configurations that aggressively pack or split files.
  *
  * The second test is the failing-by-construction proof that the invariant
  * NEEDS the per-file read: a naive glob scan + monotonically_increasing_id
  * orders rows by Spark's size-descending file packing, not by file name,
  * so its order diverges on the same inputs. If Spark's packing ever
  * changed to make the naive path accidentally correct, that test flags
  * the guard as obsolete rather than silently passing.
  */
class IngestOrderSpec extends SparkTestBase {

  /** One transaction row; transaction_id = fileNo * 1000 + position encodes
    * the expected global arrival order.
    */
  private def txJson(fileNo: Int, pos: Int): String =
    s"""{"transaction_id": ${fileNo * 1000 + pos}, "customer_id": $pos,
       | "timestamp": "2024-01-0${fileNo}T08:00:00.000000",
       | "items": [{"product_id": 1, "product_name": "gum", "qty": 2}]}""".stripMargin

  /** Three day files whose SIZES reverse their NAME order (day 1 smallest,
    * day 2 largest), so size-ordered packing != name-ordered arrival.
    */
  private def writeDays(): (Path, Seq[Long]) = {
    val dir = Paths.get(tempDir("graft-ingest-order"))
    val rowsPerDay = Seq(1 -> 2, 2 -> 30, 3 -> 10)
    for ((day, n) <- rowsPerDay) {
      val body = (0 until n).map(txJson(day, _)).mkString("[\n", ",\n", "\n]")
      Files.writeString(dir.resolve(f"transactions_2024010$day.json"), body)
    }
    val expected = rowsPerDay.flatMap { case (day, n) =>
      (0 until n).map(pos => (day * 1000 + pos).toLong)
    }
    (dir, expected)
  }

  private def withScanConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("readTransactionsOrdered preserves arrival order under adversarial scan packing") {
    val (dir, expected) = writeDays()
    // zero open cost + tiny partition target: the most file-packing and
    // file-splitting pressure a scan config can apply
    withScanConfs(
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.files.maxPartitionBytes" -> "128") {
      val got = Ingest.readTransactionsOrdered(spark, dir.toString)
        .orderBy("seq").select("transaction_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got == expected,
        s"arrival order broken under packing pressure:\n$got\nvs\n$expected")
    }
  }

  test("a naive glob scan scrambles arrival order on the same files (why the guard exists)") {
    val (dir, expected) = writeDays()
    withScanConfs("spark.sql.files.openCostInBytes" -> "0") {
      val naive = spark.read.schema(Schemas.transactions)
        .option("multiLine", value = true)
        .json(s"$dir/transactions_*.json")
        .withColumn("mid", monotonically_increasing_id())
        .orderBy("mid").select("transaction_id")
        .collect().map(_.getLong(0)).toSeq
      assert(naive.sorted == expected.sorted, "same rows must be read")
      assert(naive != expected,
        "glob scan now preserves name order — packing behavior changed; " +
          "re-evaluate whether readTransactionsOrdered still needs per-file reads")
    }
  }
}
