package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference BPE trainer and encoders that the tokenizer specs compare
  * the production paths against: the distributed per-merge trainer
  * ([[bpeTrain]], one Spark job per merge, against
  * [[Tokenizer.bpeTrainLocal]]) and the literal-replace encoders
  * ([[bpeEncodeCountsSpec]] in SQL, [[encodeWordSpec]] in plain Scala,
  * against [[graft.functions.BpeCodec]]). Symbol sequences are
  * double-space joined strings ("  a  b  c  "), so applying merge (a, b)
  * is the literal replacement " a  b " -> " ab " — the form the DuckDB
  * oracles replay.
  */
object BpeReference {

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /** Symbol-string of a word column: each character a symbol, double-space
    * joined, double-space padded.
    */
  private def symExpr(wordCol: String): String =
    s"concat('  ', array_join(transform(sequence(1, length($wordCol)), i -> substring($wordCol, i, 1)), '  '), '  ')"

  /** Symbols of a symbol-string. */
  private def symsOf(symCol: String): String =
    s"filter(split($symCol, '  '), x -> x != '')"

  /** Adjacent-pair structs of a symbol array column. */
  private def pairsOf(symsCol: String): String =
    s"""CASE WHEN size($symsCol) >= 2
       |  THEN transform(sequence(0, size($symsCol) - 2),
       |                 j -> struct($symsCol[j] AS lhs, $symsCol[j + 1] AS rhs))
       |  ELSE array() END""".stripMargin

  /** Learn `numMerges` BPE merges from the corpus: repeatedly merge the
    * most frequent adjacent symbol pair (ties broken by (lhs, rhs) string
    * order — a total order, so training is deterministic on any engine and
    * any partitioning). Stops early if no pair remains. Returns the merge
    * list in learned order.
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int): Seq[Tokenizer.Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // vocabulary-sized from here on; localCheckpoint cuts the corpus scan
    // out of every iteration's lineage
    var words = Tokenizer.wordFreq(docs, textCol)
      .withColumn("sym", expr(symExpr("word")))
      .select("freq", "sym")
      .localCheckpoint()
    val merges = Seq.newBuilder[Tokenizer.Merge]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val top = words
        .select(col("freq"), expr(symsOf("sym")).as("syms"))
        .select(col("freq"), explode(expr(pairsOf("syms"))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Tokenizer.Merge(step, l, r, c)
        words = words
          .withColumn("sym",
            expr(s"replace(sym, ' ${esc(l)}  ${esc(r)} ', ' ${esc(l + r)} ')"))
          .localCheckpoint()
        step += 1
      }
    }
    merges.result()
  }

  /** Token count of one word-symbol-string after applying `merges` in
    * order — the merge list compiles into a chain of literal replaces.
    */
  private def encodedSyms(symCol: String, merges: Seq[Tokenizer.Merge]): String =
    merges.foldLeft(symCol) { (acc, m) =>
      s"replace($acc, ' ${esc(m.lhs)}  ${esc(m.rhs)} ', ' ${esc(m.lhs + m.rhs)} ')"
    }

  /** The EXECUTABLE SPEC of [[Tokenizer.bpeEncodeCounts]]: the merge list compiled
    * into a chain of literal `replace` calls over the double-space symbol
    * string, folded per word through an aggregate HOF. Interpreted and
    * plan-sized-in-the-vocab — usable only at test vocabularies, kept
    * because it is engine-replayable as plain SQL (the DuckDB oracles
    * replay exactly this) and TokenizerKernelProps pins kernel ≡ spec.
    */
  def bpeEncodeCountsSpec(docs: DataFrame, idCol: String, textCol: String,
                          merges: Seq[Tokenizer.Merge]): DataFrame = {
    val perWord = encodedSyms(symExpr("w"), merges)
    docs.select(
      col(idCol),
      expr(Dedup.letBind(Dedup.tokensExpr(textCol), "ws",
        s"""named_struct(
           |  'n_words', size(ws),
           |  'n_tokens', aggregate(ws, 0, (acc, w) ->
           |      acc + size(${symsOf(s"($perWord)")}))
           |)""".stripMargin)).as("r"))
      .select(col(idCol),
        col("r.n_words").cast("long").as("n_words"),
        col("r.n_tokens").cast("long").as("n_tokens"))
  }

  /** Plain-Scala spec of encoding ONE word under `merges` applied in step
    * order: the literal-replace chain over the double-space symbol string
    * — the reference TokenizerKernelProps fuzzes [[graft.functions.BpeCodec]]
    * against (same semantics as [[encodedSyms]], evaluated without Spark).
    */
  def encodeWordSpec(word: String, merges: Seq[Tokenizer.Merge],
                     byteLevel: Boolean = false): Seq[String] = {
    val syms0 =
      if (byteLevel) graft.functions.ByteSymbols.of(word).toSeq
      else word.codePoints().toArray.toSeq
        .map(cp => new String(Character.toChars(cp)))
    if (syms0.isEmpty) return Nil
    var sym = syms0.mkString("  ", "  ", "  ")
    merges.sortBy(_.step).foreach { m =>
      sym = sym.replace(s" ${m.lhs}  ${m.rhs} ", s" ${m.lhs + m.rhs} ")
    }
    sym.split("  ", -1).filter(_.nonEmpty).toSeq
  }
}
