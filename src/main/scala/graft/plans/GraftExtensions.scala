package graft.plans

import graft.functions.{CosineSimilarity, LevenshteinWithin, MinHashSignatureExpr, SimHash60Expr, SortedLongIntersectCount, SrpBucketKeysExpr}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's native expressions as SQL functions — functions only: no planner
  * strategies or optimizer rules. [[graft.GraftSession.build]] registers
  * them on every session it builds; [[register]] adds them to any other
  * live session.
  */
object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e.eval() match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"cosine_sim expects 2 arguments, got ${args.length}")
        CosineSimilarity(args.head, args.last)
      }),
    (FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60Expr].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"simhash60 expects (tokens[, family]), got ${args.length} arguments")
        val family =
          if (args.length == 1) graft.functions.HashFamily.Md5
          else args(1).eval() match {
            case s: org.apache.spark.unsafe.types.UTF8String =>
              graft.functions.HashFamily.validate(s.toString)
            case other => throw new IllegalArgumentException(
              s"simhash60 family must be a string literal, got $other")
          }
        SimHash60Expr(args.head, family)
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignatureExpr].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"minhash_sig expects 2 arguments, got ${args.length}")
        MinHashSignatureExpr(args.head, intArg(args(1), "minhash_sig"))
      }),
    (FunctionIdentifier("pigeonhole_keys"),
      new ExpressionInfo(classOf[graft.functions.PigeonholeKeysExpr].getName,
        "pigeonhole_keys"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          s"pigeonhole_keys expects (h, bits, chunks, maxDist), got ${args.length} arguments")
        graft.functions.PigeonholeKeysExpr(args.head,
          intArg(args(1), "pigeonhole_keys"), intArg(args(2), "pigeonhole_keys"),
          intArg(args(3), "pigeonhole_keys"))
      }),
    (FunctionIdentifier("srp_buckets"),
      new ExpressionInfo(classOf[SrpBucketKeysExpr].getName, "srp_buckets"),
      (args: Seq[Expression]) => {
        require(args.length == 4, s"srp_buckets expects 4 arguments, got ${args.length}")
        SrpBucketKeysExpr(args.head, intArg(args(1), "srp_buckets"),
          intArg(args(2), "srp_buckets"), intArg(args(3), "srp_buckets").toLong)
      }),
    (FunctionIdentifier("sorted_long_intersect"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, "sorted_long_intersect"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"sorted_long_intersect expects 2 arguments, got ${args.length}")
        SortedLongIntersectCount(args.head, args.last)
      }),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName,
        "nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"nfc_normalize expects 1 argument, got ${args.length}")
        graft.functions.NfcNormalize(args.head)
      }),
    (FunctionIdentifier("strip_accents"),
      new ExpressionInfo(classOf[graft.functions.StripAccents].getName,
        "strip_accents"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"strip_accents expects 1 argument, got ${args.length}")
        graft.functions.StripAccents(args.head)
      }),
    (FunctionIdentifier("url_canonical"),
      new ExpressionInfo(classOf[graft.functions.CanonicalizeUrlExpr].getName,
        "url_canonical"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"url_canonical expects 1 argument, got ${args.length}")
        graft.functions.CanonicalizeUrlExpr(args.head)
      }),
    (FunctionIdentifier("url_host"),
      new ExpressionInfo(classOf[graft.functions.UrlHostExpr].getName,
        "url_host"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"url_host expects 1 argument, got ${args.length}")
        graft.functions.UrlHostExpr(args.head)
      }),
    (FunctionIdentifier("url_domain"),
      new ExpressionInfo(classOf[graft.functions.RegisteredDomainExpr].getName,
        "url_domain"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"url_domain expects 1 argument, got ${args.length}")
        graft.functions.RegisteredDomainExpr(args.head)
      }),
    (FunctionIdentifier("url_idn_host"),
      new ExpressionInfo(classOf[graft.functions.IdnHostExpr].getName,
        "url_idn_host"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"url_idn_host expects 1 argument, got ${args.length}")
        graft.functions.IdnHostExpr(args.head)
      }),
    (FunctionIdentifier("sample_ids"),
      new ExpressionInfo(classOf[graft.functions.BoundedHashSampleAgg].getName,
        "sample_ids"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"sample_ids expects (key, id, n), got ${args.length} arguments")
        graft.functions.BoundedHashSampleAgg(args(0), args(1),
          intArg(args(2), "sample_ids"))
      }),
    (FunctionIdentifier("lev_within"),
      new ExpressionInfo(classOf[LevenshteinWithin].getName, "lev_within"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"lev_within expects (a, b, k), got ${args.length} arguments")
        LevenshteinWithin(args(0), args(1), intArg(args(2), "lev_within"))
      }),
    // Spark's own runtime-filter expressions (what InjectRuntimeFilter
    // plants under AQE), surfaced as callable functions so an explicit
    // bloom-pruned join can build/probe the same sketch the engine uses
    // internally. bloom_agg(xxhash64(k), n_items, n_bits) aggregates a
    // serialized bloom filter; bloom_might_contain(bloom, xxhash64(k))
    // probes it (bloom must be a constant/literal — Spark's contract).
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"bloom_agg expects (value, n_items, n_bits), got ${args.length} arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2))
      }),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"bloom_might_contain expects (bloom, value), got ${args.length} arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args(0), args(1))
      }))

  /** Register on a live session. Idempotent: registering again replaces
    * each function with the same builder. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
