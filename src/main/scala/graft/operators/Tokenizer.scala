package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** BPE tokenizer TRAINING and ENCODING as engine operators — the
  * "train the tokenizer on the corpus you just curated" step of an LLM
  * data pipeline, usually done by a separate tool, expressed here as the
  * same kind of deterministic, oracle-checkable Spark job as the rest of
  * the engine.
  *
  * Scale design. Classic BPE trainers (Sennrich et al. 2016) operate on
  * the word-frequency table, not the raw corpus — merges depend only on
  * (distinct word, count). The corpus is touched EXACTLY ONCE to build
  * that table (one hash-agg shuffle, map-side combined); the
  * vocabulary-sized table is collected and every merge iteration folds
  * on the driver ([[bpeTrainLocal]]). Encoding is purely row-local: the
  * learned merge list rides as data inside one codegen'd kernel
  * expression ([[graft.functions.BpeCodec]]) — the corpus never shuffles
  * to be tokenized.
  *
  * Exact replayability. The specs and the DuckDB oracles represent
  * symbol sequences as DOUBLE-SPACE joined strings with leading/trailing
  * double spaces ("  a  b  c  ").
  * Applying merge (a, b) is then the literal string replacement
  * " a  b " -> " ab ": the single outer spaces consume one space from
  * each two-space boundary, so consecutive overlapping occurrences
  * ("a b a b" -> "ab ab") merge exactly like the greedy left-to-right
  * fold, while multi-char symbols can never match spuriously (every true
  * boundary is two spaces; a pattern's single space never matches inside
  * a symbol). Both engines' `replace` scan left-to-right continuing
  * after each replacement, so Spark and an external SQL engine replay
  * the merge bit-for-bit — no UDF, no fold, no regex.
  */
object Tokenizer {

  /** One learned merge: `lhs`+`rhs` became a symbol at `step`, having been
    * the most frequent adjacent pair with weighted count `pair_freq`.
    */
  final case class Merge(step: Int, lhs: String, rhs: String, pairFreq: Long)

  /** The word-frequency table of a corpus — the ONE corpus-sized pass of
    * BPE training. (word, freq), freq = total occurrences.
    */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    // r17 perf: spread before the tokenize+explode so the corpus pass
    // parallelizes even when the source is a single split (guide §2.5);
    // the groupBy's partial aggregation still combines map-side, so the
    // word shuffle volume is unchanged. Keyed on hash(text, row position)
    // rather than the text value (r17 ADVICE): dedup-style corpora hold
    // many identical (or null) texts by construction, and a value-keyed
    // hash would re-concentrate exactly those duplicates onto one task.
    // The row position is deterministic for a deterministic scan, so
    // retries reproduce the same placement (no rand(), SPARK-38388).
    Tables.spread(docs.select(textCol),
        xxhash64(expr(textCol), monotonically_increasing_id()))
      .select(explode(expr(Dedup.tokensExpr(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** The learned merges as a DataFrame (step, lhs, rhs, pair_freq) — the
    * tokenizer-training artifact a pipeline persists.
    */
  def bpeTrainFrame(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainLocal(docs, textCol, numMerges)
      .map(m => (m.step, m.lhs, m.rhs, m.pairFreq))
      .toDF("step", "lhs", "rhs", "pair_freq")
  }

  // ---- production training path: one corpus pass, driver-side folds ----

  private def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  /** PRODUCTION trainer: identical merges to the distributed reference
    * trainer `BpeReference.bpeTrain` (spec-pinned in TokenizerSpec), but
    * the corpus is touched EXACTLY ONCE — the word-frequency table (vocabulary-sized, the training artifact scale:
    * the same bounded-collect class as k-means centroids) is collected
    * and the merge iterations fold DRIVER-SIDE with incremental pair
    * accounting, so 1 merge or 32k merges is still ONE Spark job.
    * The reference trainer launches a job per merge (localCheckpoint per
    * iteration), which at production merge counts is thousands of
    * scheduler round-trips over a frame that fits in driver memory — it
    * stays as the distributed executable spec.
    *
    * Incremental accounting (Sennrich et al. 2016, the subword-nmt
    * update): per merge, only words CONTAINING the merged pair are
    * touched — their old adjacent-pair counts are subtracted, the merge
    * pass applied, new counts added — and the argmax scans the pair-count
    * map (distinct ADJACENT pairs: alphabet²-ish plus one entry per
    * applied merge, thousands not millions). Tie-break matches the
    * reference trainer's `orderBy(c desc, lhs, rhs)` exactly: UTF-8 byte
    * order (Spark's string comparator), not Java's UTF-16 order.
    */
  def bpeTrainLocal(docs: DataFrame, textCol: String, numMerges: Int,
                    byteLevel: Boolean = false): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val wf = wordFreq(docs, textCol).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    trainFromWordFreq(wf, numMerges, byteLevel)
  }

  /** Driver-side BPE training over a (word, freq) table — the in-memory
    * twin of the reference trainer's per-iteration argmax + literal-replace
    * application (see [[graft.functions.BpeCodec]] for why the array
    * merge pass is byte-equivalent to the double-space string replace).
    */
  def trainFromWordFreq(wordFreq: Seq[(String, Long)], numMerges: Int,
                        byteLevel: Boolean = false): Seq[Merge] = {
    import scala.collection.mutable
    // code-point symbols (one per substring(word, i, 1)) — or
    // the GPT-2 byte remap in byte-level mode (ByteSymbols doc)
    val words = new Array[Array[String]](wordFreq.size)
    val freqs = new Array[Long](wordFreq.size)
    var w = 0
    wordFreq.foreach { case (word, f) =>
      val arr =
        if (byteLevel) graft.functions.ByteSymbols.of(word)
        else {
          val cps = word.codePoints().toArray
          val a = new Array[String](cps.length)
          var i = 0
          while (i < cps.length) { a(i) = new String(Character.toChars(cps(i))); i += 1 }
          a
        }
      words(w) = arr
      freqs(w) = f
      w += 1
    }
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    // pair → word indices that (at some point) contained it; entries can
    // go stale after later merges — the apply loop re-checks adjacency
    val pairWords = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def addWord(idx: Int, sign: Long): Unit = {
      val arr = words(idx)
      var i = 0
      while (i < arr.length - 1) {
        val k = (arr(i), arr(i + 1))
        val c = pairCount.getOrElse(k, 0L) + sign * freqs(idx)
        if (c == 0L) pairCount.remove(k) else pairCount.update(k, c)
        if (sign > 0) pairWords.getOrElseUpdate(k, mutable.HashSet.empty) += idx
        i += 1
      }
    }
    var i = 0
    while (i < words.length) { addWord(i, 1L); i += 1 }

    def mergePass(arr: Array[String], l: String, r: String): Array[String] = {
      val out = new Array[String](arr.length)
      var j = 0
      var n = 0
      while (j < arr.length) {
        if (j + 1 < arr.length && arr(j) == l && arr(j + 1) == r) {
          out(n) = l + r; n += 1; j += 2
        } else { out(n) = arr(j); n += 1; j += 1 }
      }
      if (n == arr.length) out else java.util.Arrays.copyOf(out, n)
    }

    val merges = Seq.newBuilder[Merge]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      // argmax by (count desc, lhs, rhs asc in UTF-8 byte order): a strict
      // total order, so HashMap iteration order is irrelevant
      var bestK: (String, String) = null
      var bestC = 0L
      pairCount.foreach { case (k, c) =>
        if (bestK == null || c > bestC ||
            (c == bestC && (utf8Lt(k._1, bestK._1) ||
              (k._1 == bestK._1 && utf8Lt(k._2, bestK._2))))) {
          bestK = k; bestC = c
        }
      }
      if (bestK == null) exhausted = true
      else {
        val (l, r) = bestK
        merges += Merge(step, l, r, bestC)
        val touched = pairWords.getOrElse(bestK, mutable.HashSet.empty).toArray
        var t = 0
        while (t < touched.length) {
          val idx = touched(t)
          val arr = words(idx)
          // stale-entry check: does the pair still occur adjacently?
          var has = false
          var j = 0
          while (!has && j < arr.length - 1) {
            if (arr(j) == l && arr(j + 1) == r) has = true
            j += 1
          }
          if (has) {
            addWord(idx, -1L)
            words(idx) = mergePass(arr, l, r)
            addWord(idx, 1L)
          }
          t += 1
        }
        pairWords.remove(bestK)
        step += 1
      }
    }
    merges.result()
  }

  /** The encode kernel for a learned merge list — merges applied in step
    * order. */
  def codecOf(merges: Seq[Merge],
              byteLevel: Boolean = false): graft.functions.BpeCodec = {
    val ordered = merges.sortBy(_.step)
    new graft.functions.BpeCodec(ordered.map(_.lhs).toArray,
      ordered.map(_.rhs).toArray, byteLevel)
  }

  /** The VOCABULARY a trainer actually consumes — (symbol, token_id):
    * base symbols first (UTF-8 byte order, the engine's string order),
    * then one entry per merge in step order (GPT-2's vocab construction).
    * Two merges can produce the SAME symbol string by different splits
    * ((a,bc) and (ab,c) both yield "abc"); the FIRST occurrence keeps the
    * id — ids are positions in the deduplicated ordered list, so the
    * table is dense. Driver-side: the vocab is the training artifact
    * scale by definition. */
  def vocab(merges: Seq[Merge], baseSymbols: Seq[String]): Seq[(String, Int)] = {
    val ordered = baseSymbols.distinct.sortWith(utf8Lt) ++
      merges.sortBy(_.step).map(m => m.lhs + m.rhs)
    ordered.distinct.zipWithIndex
  }

  /** [[vocab]] with the base alphabet read from the corpus (every
    * distinct code point of every word — exactly the symbols encode can
    * emit besides merge outputs), returned as a DataFrame
    * (token_id, symbol). ONE corpus pass; the distinct-char agg is
    * alphabet-sized. */
  def vocabFrame(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // r17 perf: spread before the double explosion (one task on a
    // single-split source otherwise — ~1 s measured at sf0.1 for q_t37);
    // the distinct stays alphabet-sized. Same duplicate-robust spread
    // key as [[wordFreq]] (r17 ADVICE).
    val chars = Tables.spread(docs.select(textCol),
        xxhash64(expr(textCol), monotonically_increasing_id()))
      .select(explode(expr(Dedup.tokensExpr(textCol))).as("w"))
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("c"))
      .distinct().collect().map(_.getString(0)).toSeq
    vocab(merges, chars).map { case (s, i) => (i, s) }.toDF("token_id", "symbol")
  }

  /** ENCODE: per-document token counts under the learned tokenizer —
    * (idCol, n_words, n_tokens). Entirely row-local and zero-shuffle: the
    * merge table rides as DATA inside ONE codegen'd kernel expression
    * ([[graft.functions.BpeCodec]]), so a 32k-merge production vocabulary
    * costs the same plan as a 6-merge test one — the r11 finding that the
    * literal-replace chain both ran interpreted (aggregate-HOF) and grew
    * the plan linearly with the vocab is closed here. The REAL subword
    * count that [[TextAnalysis.approxSubwordCount]] only approximates.
    */
  def bpeEncodeCounts(docs: DataFrame, idCol: String, textCol: String,
                      merges: Seq[Merge]): DataFrame = {
    val ws = expr(Dedup.tokensExpr(textCol))
    docs.select(
      col(idCol),
      size(ws).cast("long").as("n_words"),
      graft.functions.BpeExprs.docTokenCount(ws, codecOf(merges)).as("n_tokens"))
  }

  // ------------------- unigram-LM trainer (r15 VERDICT #7) -------------------

  /** The unigram-LM training artifact: pieces with their final counts
    * (ids are positions in (usage desc, piece UTF-8 asc) order) plus the
    * encode kernel over them. */
  final case class UnigramModel(pieces: Seq[(String, Long)], maxPieceLen: Int) {
    def codec: graft.functions.UnigramCodec =
      new graft.functions.UnigramCodec(pieces.map(_._1).toArray,
        pieces.map(_._2).toArray, maxPieceLen)
  }

  /** Unigram-LM (SentencePiece-style) tokenizer trainer — the alternative
    * to BPE that segments by MAXIMUM LIKELIHOOD over a learned piece
    * inventory instead of by greedy merge history (Kudo 2018,
    * arXiv:1804.10959). [[bpeTrainLocal]]'s driver-fold discipline: ONE
    * corpus pass builds the word-frequency table, everything after is a
    * vocabulary-sized fold on the driver; scores are the integer
    * `ilog`-scaled likelihoods of [[graft.functions.UnigramCodec]] so the
    * oracle replays every round bit-for-bit.
    *
    * The HARD-EM variant (Viterbi re-estimation), with usage-based
    * pruning — the standard engineering simplification of Kudo's
    * full-lattice EM + likelihood-loss pruning (expected counts over the
    * single best segmentation instead of the full lattice; both converge
    * to the same inventory on well-separated corpora, and hard-EM is
    * exactly replayable in integer arithmetic, which full-lattice
    * log-sum-exp is not):
    *
    *  1. SEED: every substring of length ≤ `maxPieceLen` of every corpus
    *     word, count = Σ freq(word)·occurrences (overlapping counted).
    *  2. EM round ×`rounds`: Viterbi-segment every distinct word under
    *     the current counts ([[graft.functions.UnigramCodec]]'s integer
    *     scores + tie order); new count(p) = Σ freq(word)·uses. PRUNE
    *     pieces that no segmentation used — except single characters,
    *     which are kept (at count 0) for open coverage.
    *  3. FINAL PRUNE to `vocabSize`: all single chars + the top
    *     (vocabSize − #chars) multi-char pieces by (count desc, piece
    *     UTF-8 asc).
    *  4. The artifact's `usage` is one more Viterbi pass under the final
    *     inventory; token ids are (usage desc, piece asc) positions.
    */
  def unigramTrainFromWordFreq(wordFreq: Seq[(String, Long)], vocabSize: Int,
                               maxPieceLen: Int = 3,
                               rounds: Int = 2): (UnigramModel, Seq[(Int, String, Long)]) = {
    require(vocabSize >= 1 && maxPieceLen >= 1 && rounds >= 1)
    import scala.collection.mutable
    def cpSyms(w: String): Array[String] = {
      val cps = w.codePoints().toArray
      val a = new Array[String](cps.length)
      var i = 0
      while (i < cps.length) { a(i) = new String(Character.toChars(cps(i))); i += 1 }
      a
    }
    val words = wordFreq.map { case (w, f) => (cpSyms(w), w, f) }
    val singles: Set[String] = words.iterator.flatMap(_._1).toSet
    // 1. seed counts
    val seed = mutable.HashMap.empty[String, Long]
    words.foreach { case (cps, _, f) =>
      var i = 0
      while (i < cps.length) {
        var k = 1
        val sb = new java.lang.StringBuilder()
        while (k <= maxPieceLen && i + k <= cps.length) {
          sb.append(cps(i + k - 1))
          val p = sb.toString
          seed.update(p, seed.getOrElse(p, 0L) + f)
          k += 1
        }
        i += 1
      }
    }
    def segmentUsage(counts: Map[String, Long]): mutable.HashMap[String, Long] = {
      val codec = new graft.functions.UnigramCodec(counts.keys.toArray,
        counts.keys.toArray.map(counts), maxPieceLen)
      val usage = mutable.HashMap.empty[String, Long]
      words.foreach { case (_, w, f) =>
        codec.tokens(w).foreach(p => usage.update(p, usage.getOrElse(p, 0L) + f))
      }
      usage
    }
    // 2. EM rounds with usage pruning
    var counts: Map[String, Long] = seed.toMap
    (1 to rounds).foreach { _ =>
      val usage = segmentUsage(counts)
      counts = usage.toMap ++
        singles.iterator.filterNot(usage.contains).map(_ -> 0L)
    }
    // 3. final prune to vocabSize
    val multiBudget = math.max(0, vocabSize - singles.size)
    val keptMulti = counts.iterator
      .filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
      .toSeq
      .sortWith { case ((pa, ca), (pb, cb)) =>
        ca > cb || (ca == cb && utf8Lt(pa, pb))
      }
      .take(multiBudget)
    val finalCounts =
      singles.iterator.map(s => s -> counts.getOrElse(s, 0L)).toMap ++ keptMulti
    // 4. final usage + ids
    val finalUsage = segmentUsage(finalCounts)
    val model = UnigramModel(
      finalCounts.toSeq.sortWith { case ((pa, _), (pb, _)) => utf8Lt(pa, pb) },
      maxPieceLen)
    val artifact = finalCounts.keys.toSeq
      .map(p => (p, finalUsage.getOrElse(p, 0L)))
      .sortWith { case ((pa, ua), (pb, ub)) =>
        ua > ub || (ua == ub && utf8Lt(pa, pb))
      }
      .zipWithIndex
      .map { case ((p, u), id) => (id, p, u) }
    (model, artifact)
  }

  /** [[unigramTrainFromWordFreq]] over the corpus — one corpus pass, then
    * driver folds (the [[bpeTrainLocal]] bounded-collect class). */
  def unigramTrainLocal(docs: DataFrame, textCol: String, vocabSize: Int,
                        maxPieceLen: Int = 3,
                        rounds: Int = 2): (UnigramModel, Seq[(Int, String, Long)]) = {
    val wf = wordFreq(docs, textCol).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    unigramTrainFromWordFreq(wf, vocabSize, maxPieceLen, rounds)
  }

  /** The training artifact as a DataFrame (token_id, piece, usage). */
  def unigramTrainFrame(docs: DataFrame, textCol: String, vocabSize: Int,
                        maxPieceLen: Int = 3, rounds: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    unigramTrainLocal(docs, textCol, vocabSize, maxPieceLen, rounds)
      ._2.toDF("token_id", "piece", "usage")
  }

  /** ENCODE under a trained unigram model: per-document token counts —
    * (idCol, n_words, n_tokens), row-local, zero-shuffle, the piece table
    * riding as data in ONE codegen'd node (the [[bpeEncodeCounts]]
    * contract with Viterbi instead of merge replay). */
  def unigramEncodeCounts(docs: DataFrame, idCol: String, textCol: String,
                          model: UnigramModel): DataFrame = {
    val ws = expr(Dedup.tokensExpr(textCol))
    docs.select(
      col(idCol),
      size(ws).cast("long").as("n_words"),
      graft.functions.UnigramExprs.docTokenCount(ws, model.codec).as("n_tokens"))
  }
}
