package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE ENCODE kernel: the merge table rides as DATA (a plain
  * serialized object shipped with the plan, broadcast once per executor
  * with the task binary), not as an expression tree — the fix for the
  * round-11 finding that the encoder's literal-replace chain
  * (a) runs as an interpreted higher-order lambda on the hot path and
  * (b) grows the plan linearly with the vocabulary, structurally capping
  * the tokenizer layer at toy merge counts. One expression node, one
  * virtual call per row, any vocabulary size; the UrlCanon discipline
  * (`graft.functions.UrlCanon`): the replace-chain form stays the
  * executable SPEC and TokenizerKernelProps pins kernel ≡ spec.
  *
  * == Exactness contract (kernel ≡ literal-replace spec) ==
  *
  * The spec applies merge k as ONE source-scan, left-to-right,
  * non-overlapping literal replacement over the double-space symbol
  * string (`" a  b "` → `" ab "`), merges in step order. The kernel
  * replays that for ARBITRARY merge tables — not just trained ones — via
  * the `minAllowed` loop: repeatedly merge the lowest-rank pair whose
  * rank is `>= minAllowed` (ranks below `minAllowed` missed their
  * sequential turn: a pair CREATED by merging rank k can only be acted
  * on by the sequential spec at steps > k), then raise `minAllowed` past
  * it. One pass per APPLIED merge, and every pass strictly shrinks the
  * word, so the loop is O(len) passes of O(len) — and
  * merges whose pair never occurs cost nothing, which is what makes a
  * 32k-merge vocabulary O(word) instead of O(word · vocab). This is the
  * GPT-2 encoder shape (Radford et al. 2019, `encoder.py` bpe()) made
  * sequential-faithful; greedy min-rank alone is only equivalent for
  * TRAINED tables (where created pairs always rank later), and the
  * engine also encodes under CONSTRUCTED tables (q_t35).
  *
  * Symbols are Unicode CODE POINTS, matching the spec's
  * `substring(word, i, 1)` over `length(word)` (both count code points
  * on UTF8String), so multibyte text tokenizes identically on both
  * paths. With `byteLevel = true` the initial symbols are instead the
  * [[ByteSymbols]] remap of the word's UTF-8 bytes — the production
  * GPT-style mode where no text is OOV; merge semantics are unchanged
  * (the merge pass never looks inside a symbol).
  *
  * Reference surface: the candy pipeline has no tokenizer
  * (`reference/src/data_processor.py` is relational) — this is part of
  * the training-data extensions; the merge semantics cite Sennrich et
  * al. 2016 (ACL, subword-nmt) for training and the GPT-2 public
  * encoder for the rank-loop encode.
  */
/** The GPT-2 byte→unicode remap (Radford et al. 2019, `encoder.py`
  * `bytes_to_unicode`): printable bytes — `!`..`~`, `¡`..`¬`, `®`..`ÿ` —
  * map to themselves as one-char symbols; the remaining 68 bytes map to
  * `chr(256 + n)` in ascending byte order. Every UTF-8 byte gets a
  * PRINTABLE single-char symbol, so byte-level merge tables are plain
  * strings any engine can store and replay, and no text is ever OOV. */
object ByteSymbols {
  val syms: Array[String] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = new Array[String](256)
    var shift = 0
    var b = 0
    while (b < 256) {
      if (keep(b)) out(b) = new String(Character.toChars(b))
      else { out(b) = new String(Character.toChars(256 + shift)); shift += 1 }
      b += 1
    }
    out
  }

  /** A word's initial byte-level symbol array. */
  def of(word: String): Array[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val a = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) { a(i) = syms(bytes(i) & 0xff); i += 1 }
    a
  }
}

final class BpeCodec(val lhs: Array[String], val rhs: Array[String],
                     val byteLevel: Boolean = false)
    extends Serializable {
  require(lhs.length == rhs.length,
    s"merge table sides differ: ${lhs.length} vs ${rhs.length}")
  require(lhs.forall(_.nonEmpty) && rhs.forall(_.nonEmpty),
    "merge table entries must be non-empty symbols")

  def numMerges: Int = lhs.length

  /** (lhs, rhs) → ALL its 0-based ranks, ascending. A pair CAN appear at
    * two steps in a legitimate table: after its first pass it may
    * RE-FORM when a later merge rebuilds an identical symbol string by a
    * different split (merge ("a","b") after ("ab","c") recreates an
    * "ab" that can sit next to a "c"), and the sequential spec then
    * merges it again at the later step — so the lookup must yield the
    * smallest rank `>= minAllowed`, not just the first. Keyed on a
    * two-level map to avoid any separator-collision assumption about
    * symbol contents. */
  @transient private lazy val ranks: java.util.HashMap[String, java.util.HashMap[String, Array[Int]]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, Array[Int]]]()
    var i = 0
    while (i < lhs.length) {
      val inner = m.computeIfAbsent(lhs(i), _ => new java.util.HashMap[String, Array[Int]]())
      val prev = inner.get(rhs(i))
      // appended in ascending i, so each array stays sorted
      val next =
        if (prev == null) Array(i)
        else { val a = java.util.Arrays.copyOf(prev, prev.length + 1); a(prev.length) = i; a }
      inner.put(rhs(i), next)
      i += 1
    }
    m
  }

  /** Bounded per-executor word → token-count memo (Zipfian corpora hit
    * this at ~99%); cleared wholesale when it outgrows the cap, so the
    * worst case is recomputation, never growth. */
  @transient private lazy val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer](1 << 12)
  private val MemoCap = 1 << 17

  /** Smallest rank of pair (a, b) that is `>= minAllowed`, or
    * Int.MaxValue. Rank lists are tiny (duplicates are rare), so a
    * linear scan beats binary search overhead. */
  private def rankOf(a: String, b: String, minAllowed: Int): Int = {
    val inner = ranks.get(a)
    if (inner == null) return Int.MaxValue
    val rs = inner.get(b)
    if (rs == null) return Int.MaxValue
    var i = 0
    while (i < rs.length) {
      if (rs(i) >= minAllowed) return rs(i)
      i += 1
    }
    Int.MaxValue
  }

  /** One left-to-right, non-overlapping source-scan merge pass — the
    * array twin of `replace(sym, " a  b ", " ab ")` on the double-space
    * symbol string (matches consume source symbols; replacements are
    * never rescanned within the pass). */
  private def mergePass(arr: Array[String], l: String, r: String): Array[String] = {
    val out = new Array[String](arr.length)
    var i = 0
    var n = 0
    while (i < arr.length) {
      if (i + 1 < arr.length && arr(i) == l && arr(i + 1) == r) {
        out(n) = l + r; n += 1; i += 2
      } else {
        out(n) = arr(i); n += 1; i += 1
      }
    }
    if (n == arr.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Encode one word: code-point symbols, merges applied in step order
    * (see class doc for the minAllowed sequential-faithfulness
    * argument). */
  def tokens(word: String): Array[String] = {
    if (word.isEmpty) return Array.empty[String]
    var arr =
      if (byteLevel) ByteSymbols.of(word)
      else {
        val cps = word.codePoints().toArray
        val a = new Array[String](cps.length)
        var i = 0
        while (i < cps.length) {
          a(i) = new String(Character.toChars(cps(i)))
          i += 1
        }
        a
      }
    var minAllowed = 0
    var done = arr.length < 2
    while (!done) {
      var best = Int.MaxValue
      var j = 0
      while (j < arr.length - 1) {
        val r = rankOf(arr(j), arr(j + 1), minAllowed)
        if (r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        arr = mergePass(arr, lhs(best), rhs(best))
        minAllowed = best + 1
        if (arr.length < 2) done = true
      }
    }
    arr
  }

  /** Token count of one word, memoized. */
  def countTokens(word: String): Int = {
    val hit = countMemo.get(word)
    if (hit != null) return hit.intValue()
    val n = tokens(word).length
    if (countMemo.size() >= MemoCap) countMemo.clear()
    countMemo.put(word, Integer.valueOf(n))
    n
  }

  // ---- entry points called from generated code ----

  /** Total token count of a document's word array (null words count 0). */
  def countDocTokens(words: ArrayData): Long = {
    var total = 0L
    var i = 0
    val n = words.numElements()
    while (i < n) {
      if (!words.isNullAt(i))
        total += countTokens(words.getUTF8String(i).toString)
      i += 1
    }
    total
  }

  /** Token array of one word. */
  def tokensOf(word: UTF8String): ArrayData = {
    val ts = tokens(word.toString)
    val out = new Array[Any](ts.length)
    var i = 0
    while (i < ts.length) { out(i) = UTF8String.fromString(ts(i)); i += 1 }
    new GenericArrayData(out)
  }

  // value equality over the merge table (lets Catalyst CSE/semanticEquals
  // deduplicate repeated references to the same tokenizer)
  override def equals(other: Any): Boolean = other match {
    case o: BpeCodec =>
      byteLevel == o.byteLevel &&
        java.util.Arrays.equals(lhs.asInstanceOf[Array[AnyRef]], o.lhs.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(rhs.asInstanceOf[Array[AnyRef]], o.rhs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    (31 * java.util.Arrays.hashCode(lhs.asInstanceOf[Array[AnyRef]]) +
      java.util.Arrays.hashCode(rhs.asInstanceOf[Array[AnyRef]])) * 31 +
      byteLevel.hashCode()
}

/** A token vocabulary riding the plan as DATA (the [[BpeCodec]]
  * discipline): `symbols(id)` is the symbol with that token id — the
  * dense first-occurrence-keeps-id order of `Tokenizer.vocab`. Value
  * equality over the symbol array lets Catalyst CSE repeated
  * references. */
final class BpeVocab(val symbols: Array[String]) extends Serializable {
  require(symbols.nonEmpty, "empty vocabulary")

  @transient private lazy val idOf: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](symbols.length * 2)
    var i = 0
    while (i < symbols.length) {
      // first occurrence keeps the id (ids are dense positions already,
      // but guard against a caller passing duplicates)
      m.putIfAbsent(symbols(i), java.lang.Long.valueOf(i.toLong))
      i += 1
    }
    m
  }

  /** Whole-document token-id encode: split on single spaces with empties
    * dropped (the `filter(split(text, ' '), x -> x != '')` contract every
    * word-level operator in the engine uses), BPE-encode each word under
    * `codec`, map token symbols to ids. A symbol outside the vocabulary
    * is a CONTRACT violation (the vocab was built from this corpus +
    * table) and fails loudly rather than emitting a wrong id. */
  def idsOf(doc: UTF8String, codec: BpeCodec): ArrayData = {
    val s = doc.toString
    val out = new java.util.ArrayList[Any]()
    var i = 0
    val n = s.length
    while (i <= n) {
      val j = s.indexOf(' ', i)
      val end = if (j < 0) n else j
      if (end > i) {
        val toks = codec.tokens(s.substring(i, end))
        var k = 0
        while (k < toks.length) {
          val id = idOf.get(toks(k))
          if (id == null) throw new IllegalStateException(
            s"token '${toks(k)}' not in the ${symbols.length}-symbol vocabulary")
          out.add(id.longValue())
          k += 1
        }
      }
      i = end + 1
      if (j < 0) i = n + 1
    }
    new GenericArrayData(out.toArray)
  }

  override def equals(other: Any): Boolean = other match {
    case o: BpeVocab =>
      java.util.Arrays.equals(symbols.asInstanceOf[Array[AnyRef]],
        o.symbols.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(symbols.asInstanceOf[Array[AnyRef]])
}

object BpeExprs {
  import org.apache.spark.sql.graft.{GraftDatasetBridge => Bridge}

  /** `n_tokens` of a word-array column under `codec` — one codegen'd
    * expression node; the merge table never appears in the plan. */
  def docTokenCount(words: Column, codec: BpeCodec): Column =
    Bridge.column(BpeDocTokenCount(Bridge.expression(words), codec))

  /** Token array of a single-word string column under `codec`. */
  def encodeTokens(word: Column, codec: BpeCodec): Column =
    Bridge.column(BpeEncodeTokens(Bridge.expression(word), codec))

  /** Whole-DOCUMENT token-id sequence of a text column — the pretraining
    * artifact (array<bigint> per doc) built row-locally with ZERO
    * exchanges: split → per-word BPE → vocab id lookup all inside one
    * codegen'd node. The explode → vocab-join → sort_array-regroup shape
    * this replaces pays a corpus-token-sized shuffle. */
  def encodeDocIds(text: Column, codec: BpeCodec, vocab: BpeVocab): Column =
    Bridge.column(BpeDocTokenIds(Bridge.expression(text), codec, vocab))
}

/** `ids(text)` of a string column → array<bigint> (see
  * [[BpeVocab.idsOf]]). */
case class BpeDocTokenIds(child: Expression, codec: BpeCodec, vocab: BpeVocab)
    extends UnaryExpression {
  override def prettyName: String = "bpe_doc_token_ids"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(text: Any): Any =
    vocab.idsOf(text.asInstanceOf[UTF8String], codec)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vRef = ctx.addReferenceObj("bpeVocab", vocab, classOf[BpeVocab].getName)
    val cRef = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    defineCodeGen(ctx, ev, c => s"$vRef.idsOf($c, $cRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `SUM(tokens(word))` over an `array<string>` of words → long. */
case class BpeDocTokenCount(child: Expression, codec: BpeCodec)
    extends UnaryExpression {
  override def prettyName: String = "bpe_doc_token_count"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }
  override protected def nullSafeEval(words: Any): Any =
    codec.countDocTokens(words.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    defineCodeGen(ctx, ev, c => s"$ref.countDocTokens($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `tokens(word)` of a string column → array<string>. */
case class BpeEncodeTokens(child: Expression, codec: BpeCodec)
    extends UnaryExpression {
  override def prettyName: String = "bpe_encode"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${child.dataType.simpleString}")
  override protected def nullSafeEval(word: Any): Any =
    codec.tokensOf(word.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    defineCodeGen(ctx, ev, c => s"$ref.tokensOf($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
