package graft

import graft.operators.Artifacts
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.storage.StorageLevel

/** [[QueryScope]] frees what a query persisted, cached or checkpointed, on
  * success and on a throw, keeps the store's artifacts and everything that
  * existed before it, and names every job of the query after it. */
class QueryScopeSpec extends SparkTestBase {

  private def sc = spark.sparkContext
  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  test("what the body persists or checkpoints is released on success and on a throw") {
    val before = persisted
    val n = QueryScope(spark, "scope-ok") {
      sc.parallelize(1 to 100, 2).persist().count() +
        spark.range(0, 50, 1, 2).localCheckpoint().count()
    }
    assert(n == 150L)
    assert(persisted == before)

    val e = intercept[IllegalStateException] {
      QueryScope(spark, "scope-throw") {
        spark.range(0, 50, 1, 2).localCheckpoint().count()
        sc.parallelize(1 to 10).persist().count()
        throw new IllegalStateException("query failed")
      }
    }
    assert(e.getMessage == "query failed")
    assert(persisted == before)
  }

  test("a frame cached inside the scope is uncached when it ends") {
    val df = spark.range(0, 100, 1, 2).toDF("id")
    QueryScope(spark, "scope-cache") {
      df.cache()
      assert(df.count() == 100L)
      assert(df.storageLevel != StorageLevel.NONE)
    }
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("an artifact frame built inside a scope survives it and is read in the next one") {
    val dir = tempDir("graft-scope-art")
    spark.range(0, 10).write.parquet(s"$dir/t.parquet")
    val built = QueryScope(spark, "scope-build") {
      val f = Artifacts.frame(spark, dir, "scope_spec")(
        spark.read.parquet(s"$dir/t.parquet").selectExpr("sum(id) AS s"))
      assert(f.head().getLong(0) == 45L)
      f
    }
    assert(Artifacts.rddIds(sc).nonEmpty && Artifacts.rddIds(sc).subsetOf(persisted))
    QueryScope(spark, "scope-read") {
      assert(built.head().getLong(0) == 45L)
      assert(Artifacts.frame(spark, dir, "scope_spec")(
        throw new AssertionError("rebuilt")) eq built)
    }
  }

  test("frames that existed before the scope are untouched") {
    val outer = spark.range(0, 20, 1, 2).localCheckpoint()
    val rdd = sc.parallelize(1 to 20, 2).persist()
    rdd.count()
    val before = persisted
    QueryScope(spark, "scope-inner") {
      spark.range(0, 5).localCheckpoint().count()
      assert(outer.count() == 20L)
    }
    assert(persisted == before)
    assert(outer.count() == 20L && rdd.count() == 20L)
    rdd.unpersist()
  }

  test("every job of a broadcast-join query carries the scope's name; the outer group returns") {
    val big = spark.range(0, 2000, 1, 4).toDF("k")
    val small = spark.range(0, 10).toDF("k")
    val m = JobMeter(sc)(QueryScope(spark, "scope-bhj")(
      Force.rows(big.join(broadcast(small), "k"))))
    assert(m.value == 10L)
    // the broadcast is collected by its own job on Spark's exchange pool
    assert(m.jobs.size >= 2, m.jobs.mkString("\n"))
    assert(m.jobs.forall(_.group == "scope-bhj"), m.jobs.mkString("\n"))
    val after = JobMeter(sc)(spark.range(0, 10).count())
    assert(after.jobs.nonEmpty && after.jobs.forall(_.group == suiteName))
  }

  test("battery queries that persist or checkpoint leave the persistent-RDD set as they found it") {
    val sf = sfDir("0.001")
    Seq("q_g1_pagerank", "q_l9_snapshot_changes", "q_l17_mirror", "q_v17_semdedup",
        "q_d10_substring_spans", "q_m18_image_dedup_clusters").foreach { name =>
      val before = persisted
      QueryScope(spark, name)(Force.rows(SparkEntry.queries(name)(spark, sf)))
      val owned = Artifacts.rddIds(sc)
      assert(persisted -- owned == before -- owned, name)
    }
  }
}
