package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The shared test session is built by [[GraftSession.build]]: it must carry
  * the session settings every graft entry point relies on, and graft's SQL
  * functions from the start. Reads the session; never rebuilds or
  * reconfigures it.
  */
class GraftSessionSpec extends SparkTestBase {

  private val graftFunctions = Seq(
    "cosine_sim", "simhash60", "minhash_sig", "pigeonhole_keys", "srp_buckets",
    "sorted_long_intersect", "nfc_normalize", "strip_accents", "url_canonical",
    "url_host", "url_domain", "url_idn_host", "sample_ids", "lev_within",
    "bloom_agg", "bloom_might_contain")

  private def unresolved: Seq[String] = graftFunctions.filterNot(f =>
    spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(f)))

  test("the test session carries UTC, nanosAsLong, no UI, 4 shuffle partitions, the codegen cache and no cleaner key") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val sc = spark.sparkContext
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(sc.uiWebUrl.isEmpty)
    assert(sc.getConf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    // blocks are freed by QueryScope, not by a forced periodic GC
    assert(!sc.getConf.getAll.exists(_._1.startsWith("spark.cleaner.")))
  }

  test("all 16 graft SQL functions resolve by name") {
    assert(graftFunctions.distinct.size == 16)
    assert(unresolved.isEmpty)
    assert(spark.sql("SELECT url_host('https://example.com/a')").head().getString(0) ==
      "example.com")
  }

  test("registering twice more keeps every function resolvable") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    assert(unresolved.isEmpty)
    assert(spark.sql("SELECT lev_within('kitten', 'sitting', 3)").head().getBoolean(0))
  }
}
