package graft.operators

import graft.SparkTestBase

/** Unigram-LM trainer + Viterbi encode kernel (r15 VERDICT #7):
  * correctness properties a segmentation tokenizer must hold, plus the
  * kernel ≡ driver-fold consistency the BPE layer pins the same way.
  */
class UnigramSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDf = spark.read
    .parquet(sfDir("0.001") + "/documents.parquet").select("doc_id", "text")

  test("segmentation is lossless, total, and vocab-bounded on a real corpus") {
    val (model, artifact) = Tokenizer.unigramTrainLocal(
      docsDf, "text", vocabSize = 120, maxPieceLen = 3, rounds = 2)
    val codec = model.codec
    val words = Tokenizer.wordFreq(docsDf, "text")
      .collect().map(_.getString(0))
    assert(words.nonEmpty)
    words.foreach { w =>
      val toks = codec.tokens(w)
      assert(toks.mkString == w, s"lossy segmentation of '$w': ${toks.toSeq}")
      assert(codec.countTokens(w) == toks.length)
      assert(toks.forall(t => t.codePointCount(0, t.length) <= 3))
    }
    // every single character is in the inventory; size is bounded by
    // max(vocabSize, #chars)
    val singles = words.flatMap(_.codePoints().toArray.map(cp =>
      new String(Character.toChars(cp)))).toSet
    val pieceSet = model.pieces.map(_._1).toSet
    assert(singles.subsetOf(pieceSet))
    assert(pieceSet.size <= math.max(120, singles.size))
    // the artifact is a dense (usage desc, piece asc) id ordering
    assert(artifact.map(_._1) == artifact.indices)
    assert(artifact.sliding(2).forall {
      case Seq((_, pa, ua), (_, pb, ub)) => ua > ub || (ua == ub && pa < pb)
      case _ => true
    })
    // multi-char pieces exist and get used: the corpus compresses
    val totalChars = Tokenizer.wordFreq(docsDf, "text").collect()
      .map(r => r.getString(0).length * r.getLong(1)).sum
    val totalToks = Tokenizer.wordFreq(docsDf, "text").collect()
      .map(r => codec.countTokens(r.getString(0)) * r.getLong(1)).sum
    assert(totalToks < totalChars,
      s"no compression: $totalToks tokens over $totalChars chars")
  }

  test("training is deterministic and partitioning-independent") {
    val a = Tokenizer.unigramTrainLocal(docsDf, "text", 120)._2
    val b = Tokenizer.unigramTrainLocal(docsDf.repartition(17), "text", 120)._2
    assert(a == b)
  }

  test("kernel (codegen'd expression) == driver codec on every doc") {
    val (model, _) = Tokenizer.unigramTrainLocal(docsDf, "text", 120)
    val codec = model.codec
    val got = Tokenizer.unigramEncodeCounts(docsDf, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    docsDf.collect().foreach { r =>
      val id = r.getLong(0)
      val ws = Option(r.getString(1)).getOrElse("").split(" ").filter(_.nonEmpty)
      val expect = (ws.length.toLong, ws.map(w => codec.countTokens(w).toLong).sum)
      assert(got(id) == expect, s"doc $id: got ${got(id)}, expect $expect")
    }
  }

  test("a dominant repeated bigram becomes a piece (likelihood wins)") {
    val docs = (Seq.tabulate(40)(i => (i.toLong, "xyxyxy xyxy")) :+
      (99L, "zq")).toDF("doc_id", "text")
    // vocabSize 5 = 4 single chars + ONE multi piece: the budget must go
    // to the dominant 'xy', and the one-off 'zq' falls back to singles
    val (model, artifact) = Tokenizer.unigramTrainLocal(
      docs, "text", vocabSize = 5, maxPieceLen = 3, rounds = 2)
    val codec = model.codec
    // "xyxyxy" must not fall back to 6 single chars
    assert(codec.countTokens("xyxyxy") <= 3,
      s"no compression: ${codec.tokens("xyxyxy").toSeq}")
    // 'zq' lost its piece to the budget: falls back to the singles the
    // prune is REQUIRED to keep
    assert(codec.tokens("zq").forall(_.length == 1),
      s"zq survived a 1-multi budget: ${model.pieces.map(_._1)}")
    assert(artifact.map(_._2).exists(_.length > 1), "no multi-char piece kept")
  }

  test("ilog is the exact integer piecewise-linear log2") {
    val c = new graft.functions.UnigramCodec(Array("a"), Array(0L), 1)
    assert(c.ilog(1) == 0L)
    assert(c.ilog(2) == 1000L)
    assert(c.ilog(3) == 1500L)
    assert(c.ilog(4) == 2000L)
    assert(c.ilog(6) == 2500L)
    assert(c.ilog(1L << 40) == 40000L)
    assert(c.ilog((1L << 40) + (1L << 39)) == 40500L)
  }
}
