package graft.functions

import graft.SparkTestBase
import graft.operators.Pipeline
import org.apache.spark.sql.functions._

/** The bounded sample aggregate must select exactly the window-ranked
  * bottom-n (same (key, id) order), stay partitioning-invariant (heap
  * merges are associative; serialization round-trips through the partial
  * exchange), and do its bounding MAP-SIDE (partial ObjectHashAggregate
  * below the exchange — the scale reason it exists).
  */
class SampleAggSpec extends SparkTestBase {

  import spark.implicits._

  private def df = (1L to 500L).map(i => (Seq("a", "b", "c")(i.toInt % 3), i))
    .toDF("grp", "id")

  private val sampleExpr =
    "sample_ids(md5(concat('s7:', CAST(id AS STRING))), id, 10)"

  test("selects the window-ranked bottom-n, invariant under repartitioning") {
    def run(input: org.apache.spark.sql.DataFrame) = input
      .groupBy("grp").agg(expr(sampleExpr).as("ids"))
      .select(col("grp"), posexplode(col("ids")).as(Seq("pos", "id")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val got = run(df)
    val want = Pipeline.groupSample(df, "grp", "id", n = 10, seed = "s7")
      .select(col("grp"), (col("sample_rank") - 1).cast("int"), col("id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want && got.size == 30)
    assert(run(df.repartition(11, col("id"))) == got)
    assert(run(df.coalesce(1)) == got)
  }

  test("null keys/ids are skipped; small groups return whole; n respected") {
    val withNulls = Seq((Some("g"), Some(1L)), (Some("g"), None),
      (None, Some(3L)), (Some("g"), Some(2L))).toDF("k", "id")
      .select(col("k"), col("id"),
        when(col("id").isNotNull,
          md5(concat(lit("s:"), col("id").cast("string")))).as("h"))
    val r = withNulls.filter(col("k").isNotNull).groupBy("k")
      .agg(expr("sample_ids(h, id, 10)").as("ids")).head()
    assert(r.getSeq[Long](1).toSet == Set(1L, 2L))
  }

  test("bounding happens map-side: partial aggregate sits below the exchange") {
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.groupBy("grp").agg(expr(sampleExpr).as("ids"))
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val partialBelowShuffle = plan.collect {
        case e: ShuffleExchangeExec => e
      }.exists { e =>
        val sub = e.child.toString
        sub.contains("ObjectHashAggregate") && sub.contains("partial_sample_ids")
      }
      assert(partialBelowShuffle,
        s"no partial sample_ids below the exchange:\n$plan")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
