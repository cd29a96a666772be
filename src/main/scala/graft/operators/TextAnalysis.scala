package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token statistics, quality
  * scoring, n-gram-heuristic language ID, and document fingerprinting.
  * Everything is codegen'd collection/string expressions — no UDFs.
  */
object TextAnalysis {

  private def w(textCol: String): String = Dedup.tokensExpr(textCol)

  /** BPE-ish subword count: words plus length and digit-run surcharges — a
    * cheap upper-bound proxy for tokenizer counts (every 4 chars of a long
    * word and every maximal digit run count as an extra subword). Digit runs
    * rather than lookahead-regex transition splits: RE2-family engines (and
    * therefore the oracle) have no lookahead, and the run count is the same
    * signal.
    */
  def approxSubwordCount(textCol: String): Column = expr(
    s"""CAST(aggregate(${w(textCol)}, 0, (acc, x) ->
       |  acc + 1 + CAST(floor(length(x) / 4) AS INT)
       |      + size(filter(split(x, '[^0-9]+'), s -> s != ''))
       |) AS INT)""".stripMargin)

  /** Per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — language ID at pipeline scale is a
    * cheap filter, not a model.
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de", "que", "por"))

  private def hitCount(wordsExpr: String, words: Seq[String]): String = {
    val list = words.map(s => s"'$s'").mkString(", ")
    s"size(filter($wordsExpr, x -> x IN ($list)))"
  }

  /** Language-ID heuristic: argmax of stopword hits across profiles, with a
    * deterministic tie order (en > de > fr > es) and 'und' (undetermined)
    * when nothing hits.
    */
  def languageId(textCol: String): Column = {
    val langs = Seq("en", "de", "fr", "es")
    val scores = langs.map(l => l -> hitCount("wv", stopwordProfiles(l))).toMap
    val best = langs.map(scores).mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN ${scores(l)} = $best THEN '$l'").mkString(" ")
    expr(Dedup.letBind(w(textCol), "wv",
      s"""CASE WHEN $best = 0 THEN 'und' ELSE
         |  CASE $cases END END""".stripMargin))
  }

  /** Composite quality score in [0, 1]: balanced stopword ratio, lexical
    * diversity, and sane mean token length. Deterministic; thresholds are
    * the usual web-corpus heuristics, not learned.
    */
  def qualityScore(textCol: String): Column = {
    val en = hitCount("wv", stopwordProfiles("en"))
    expr(Dedup.letBind(w(textCol), "wv",
      s"""CASE WHEN size(wv) = 0 THEN 0.0 ELSE
         |  round(
         |    0.4 * least(1.0D, CAST($en AS DOUBLE) / size(wv) / 0.08)
         |  + 0.3 * least(1.0D, CAST(size(array_distinct(wv)) AS DOUBLE) / size(wv) / 0.5)
         |  + 0.3 * (CASE WHEN aggregate(wv, 0, (a, x) -> a + length(x)) / size(wv)
         |                     BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END), 6)
         |END""".stripMargin))
  }

  /** Gopher-style composite quality RULE CARD (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1, adapted to single-line documents): one row
    * per document with the raw measurements and one integer flag per
    * rule, plus the conjunctive verdict. Unlike [[qualityScore]]'s single
    * scalar, the card keeps WHICH rule failed — the auditable form a
    * filtering pipeline reviews and tunes per-rule.
    *
    * Rules: R1 word count in [minWords, maxWords]; R2 mean word length
    * in [3, 10] (zero-word docs fail R2 — a vacuous cross-multiply would
    * otherwise flag them 1 while mean_word_len reads 0.0); R3
    * hash/ellipsis symbol-to-word ratio <= 0.1; R4 >= 80% of words
    * contain an alphabetic character; R5 >= 2 distinct English stopwords
    * present (the [[stopwordProfiles]] "en" list).
    *
    * Every threshold compares as an integer cross-multiplication
    * (3·n <= Σlen <= 10·n, 10·symbols <= n, 5·alpha >= 4·n) — no float
    * boundary, so the flags are bit-stable and externally replayable.
    * Entirely row-local (one scan, no shuffle); the intermediate projects
    * keep the tokenization evaluated once per row.
    */
  def gopherRuleCard(docs: DataFrame, idCol: String, textCol: String,
                     minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val stops = stopwordProfiles("en").map(s => s"'$s'").mkString(", ")
    // NULL text coalesces to the empty doc (the scrubDuplicatedSpans
    // convention): size(NULL)/length(NULL) are NULL, which would turn
    // every measurement and flag NULL instead of a countable failing row.
    val t = s"coalesce($textCol, '')"
    docs
      .selectExpr(
        idCol,
        s"${w(t)} AS wv",
        s"""CAST((length($t) - length(replace($t, '#', '')))
           |  + (length($t) - length(replace($t, '...', ''))) div 3
           |  AS INT) AS n_symbols""".stripMargin)
      .selectExpr(
        idCol,
        "CAST(size(wv) AS INT) AS n_words",
        "aggregate(wv, CAST(0 AS BIGINT), (a, x) -> a + length(x)) AS sum_word_len",
        "n_symbols",
        "CAST(size(filter(wv, x -> x RLIKE '[A-Za-z]')) AS INT) AS n_alpha_words",
        s"""CAST(size(array_intersect(
           |  array_distinct(transform(wv, x -> lower(x))),
           |  array($stops))) AS INT) AS n_stopwords""".stripMargin)
      .selectExpr(
        idCol, "n_words",
        """CAST(round(CASE WHEN n_words = 0 THEN 0.0
          |  ELSE sum_word_len / CAST(n_words AS DOUBLE) END, 4) AS DOUBLE)
          |  AS mean_word_len""".stripMargin,
        "n_symbols", "n_alpha_words", "n_stopwords",
        s"CAST(n_words >= $minWords AND n_words <= $maxWords AS INT) AS r1_word_count",
        // n_words > 0 guard: 3*0 <= 0 <= 10*0 is vacuously true, which
        // would stamp a zero-word doc r2 = 1 while its mean_word_len
        // column reads 0.0 — outside the [3, 10] range the flag claims.
        "CAST(n_words > 0 AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words AS INT) AS r2_word_len",
        "CAST(10 * n_symbols <= n_words AS INT) AS r3_symbols",
        "CAST(5 * n_alpha_words >= 4 * n_words AS INT) AS r4_alpha",
        "CAST(n_stopwords >= 2 AS INT) AS r5_stopwords")
      .selectExpr(
        idCol, "n_words", "mean_word_len", "n_symbols", "n_alpha_words",
        "n_stopwords", "r1_word_count", "r2_word_len", "r3_symbols",
        "r4_alpha", "r5_stopwords",
        """CAST(r1_word_count = 1 AND r2_word_len = 1 AND r3_symbols = 1
          |  AND r4_alpha = 1 AND r5_stopwords = 1 AS INT) AS pass""".stripMargin)
  }

  /** Gopher REPETITION card (Rae et al. 2021, arXiv:2112.11446 Table A1,
    * the "repetitious text" family): one row per document with the nine
    * within-document repetition fractions and one integer flag per rule.
    * This is the half of Gopher's quality battery [[gopherRuleCard]]
    * doesn't cover — documents dominated by repeated lines, paragraphs,
    * or n-grams (boilerplate, scraper loops, keyword stuffing).
    *
    * Measurements (all per document, hence all row-local — the operator
    * rides the scan with zero exchanges, the shape a 100 TB filter pass
    * must have):
    *  - dup_line_frac / dup_para_frac: occurrences beyond the first of a
    *    repeated line (paragraph) over total lines (paragraphs) =
    *    (n - n_distinct) / n. Lines split on chr(10), paragraphs on
    *    chr(10)chr(10); empties dropped.
    *  - dup_line_char_frac / dup_para_char_frac: characters in those
    *    beyond-first occurrences over total line (paragraph) characters =
    *    (Σlen - Σlen_distinct) / Σlen.
    *  - top{2,3,4}gram_char_frac: characters covered by occurrences of
    *    the most frequent word n-gram over total word characters =
    *    cnt_max · wordchars(g*) / Σ wordchars. Tie rule: among grams at
    *    cnt_max, the one with the most characters — the fraction is then
    *    a deterministic scalar even when the argmax gram is not unique.
    *  - dup{5,10}gram_char_frac: characters of words covered by ANY
    *    occurrence of a repeated (count >= 2) n-gram, over total word
    *    characters. Overlapping occurrences count each word once — the
    *    coverage definition, computed exactly: repeated-gram start
    *    positions from one sort + run-length pass, then a positional
    *    interval test per word.
    *
    * Thresholds are Table A1's (0.30/0.20 lines and paragraphs;
    * 0.20/0.18/0.16 top 2/3/4-grams; 0.15/0.10 dup 5/10-grams), compared
    * as integer cross-multiplications so the flags are bit-stable; the
    * reported fractions are round(·, 6) doubles derived from the same
    * exact integers. NULL text coalesces to the empty doc: zero
    * denominators read as zero repetition, so the row passes every rule
    * and stays countable ([[gopherRuleCard]]'s convention).
    *
    * Per-row cost is O(L log L) in the token count (array sorts dominate;
    * the coverage test adds O(L·D) integer compares for D repeated-gram
    * positions) — no quadratic gram-vs-gram scan, no UDF, nothing leaves
    * the row.
    */
  def gopherRepetitionCard(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val t = s"coalesce($textCol, '')"
    // Non-distinct positional n-grams over wv (0-based start i), joined
    // with single spaces; L < n yields the empty list.
    def grams(n: Int) =
      s"""filter(transform(wv, (x, i) ->
         |  IF(i + $n <= size(wv), concat_ws(' ', slice(wv, i + 1, $n)), NULL)),
         |  g -> g IS NOT NULL)""".stripMargin
    // (cnt_max · wordchars of the longest argmax gram) via one sorted
    // run-length pass. State: p = previous gram, r = its run length so
    // far, b = best run, bl = max gram chars among runs of length b. The
    // inner letBind evaluates the incremented run once per step.
    def topNum(n: Int, src: String) =
      s"""aggregate(array_sort($src),
         |  named_struct('p', '', 'r', CAST(0 AS BIGINT),
         |               'b', CAST(0 AS BIGINT), 'bl', CAST(0 AS BIGINT)),
         |  (s, x) -> element_at(transform(
         |      array(IF(x = s.p, s.r + 1, CAST(1 AS BIGINT))), r2 ->
         |    named_struct('p', x, 'r', r2,
         |      'b', IF(r2 > s.b, r2, s.b),
         |      'bl', CASE WHEN r2 > s.b THEN CAST(length(x) AS BIGINT)
         |                 WHEN r2 = s.b THEN greatest(s.bl, CAST(length(x) AS BIGINT))
         |                 ELSE s.bl END)), 1),
         |  s -> s.b * (s.bl - ${n - 1}))""".stripMargin
    // 0-based start positions of every occurrence of a repeated gram:
    // sort (gram, pos) structs, then one pass collecting each value's
    // positions and flushing them to the output when the run length is
    // >= 2. Output order is by gram value — irrelevant, it only feeds an
    // existential interval test.
    def dupPos(src: String) =
      s"""aggregate(array_sort(transform($src, (g, i) -> named_struct('g', g, 'i', i))),
         |  named_struct('p', '', 'pend', CAST(array() AS ARRAY<INT>),
         |               'buf', CAST(array() AS ARRAY<INT>)),
         |  (s, x) -> IF(x.g = s.p,
         |    named_struct('p', s.p, 'pend', concat(s.pend, array(x.i)), 'buf', s.buf),
         |    named_struct('p', x.g, 'pend', array(x.i),
         |      'buf', IF(size(s.pend) >= 2, concat(s.buf, s.pend), s.buf))),
         |  s -> IF(size(s.pend) >= 2, concat(s.buf, s.pend), s.buf))""".stripMargin
    // Characters of words covered by any repeated n-gram occurrence: the
    // union of intervals [p, p + n - 1] over repeated starts p. The naive
    // form (per-word exists() over every start) is an O(words × starts)
    // interpreted-lambda product that dominated the whole card (measured
    // 3.9 s of a 4.1 s warm run at sf0.1); instead merge the SORTED
    // starts into coverage islands in one pass, then sum word lengths
    // island by island — total lambda work proportional to the covered
    // words only. The union is identical, so the relational interval-join
    // oracle is unchanged.
    def covChars(n: Int, posCol: String) = {
      val islands =
        s"""aggregate(array_sort($posCol),
           |  named_struct('lo', -1, 'hi', -1,
           |    'acc', CAST(array() AS ARRAY<STRUCT<lo: INT, hi: INT>>)),
           |  (s, p) -> CASE
           |    WHEN s.lo = -1 THEN named_struct('lo', p, 'hi', p + ${n - 1}, 'acc', s.acc)
           |    WHEN p <= s.hi + 1 THEN named_struct('lo', s.lo,
           |      'hi', greatest(s.hi, p + ${n - 1}), 'acc', s.acc)
           |    ELSE named_struct('lo', p, 'hi', p + ${n - 1},
           |      'acc', concat(s.acc, array(named_struct('lo', s.lo, 'hi', s.hi)))) END,
           |  s -> IF(s.lo = -1, s.acc,
           |    concat(s.acc, array(named_struct('lo', s.lo, 'hi', s.hi)))))""".stripMargin
      s"""aggregate($islands, CAST(0 AS BIGINT), (a, iv) ->
         |  a + aggregate(slice(wv, iv.lo + 1, iv.hi - iv.lo + 1),
         |        CAST(0 AS BIGINT), (c, x) -> c + length(x)))""".stripMargin
    }
    def sumLen(src: String) =
      s"aggregate($src, CAST(0 AS BIGINT), (a, x) -> a + length(x))"
    def frac(num: String, den: String) =
      s"CASE WHEN $den = 0 THEN 0.0D ELSE round($num / CAST($den AS DOUBLE), 6) END"

    docs
      .selectExpr(idCol,
        s"filter(split($t, chr(10)), x -> x != '') AS lv",
        s"filter(split($t, concat(chr(10), chr(10))), x -> x != '') AS pv",
        s"filter(split(replace($t, chr(10), ' '), ' '), x -> x != '') AS wv")
      .selectExpr(idCol, "wv",
        "CAST(size(lv) AS INT) AS n_lines",
        "CAST(size(array_distinct(lv)) AS INT) AS nd_lines",
        s"${sumLen("lv")} AS lc",
        s"${sumLen("array_distinct(lv)")} AS lcd",
        "CAST(size(pv) AS INT) AS n_paras",
        "CAST(size(array_distinct(pv)) AS INT) AS nd_paras",
        s"${sumLen("pv")} AS pc",
        s"${sumLen("array_distinct(pv)")} AS pcd",
        s"${sumLen("wv")} AS wchars",
        s"${grams(5)} AS g5",
        s"${grams(10)} AS g10")
      .selectExpr(idCol, "wv", "n_lines", "nd_lines", "lc", "lcd",
        "n_paras", "nd_paras", "pc", "pcd", "wchars",
        s"${topNum(2, grams(2))} AS top2",
        s"${topNum(3, grams(3))} AS top3",
        s"${topNum(4, grams(4))} AS top4",
        s"${dupPos("g5")} AS dp5",
        s"${dupPos("g10")} AS dp10")
      .selectExpr(idCol, "n_lines", "nd_lines", "lc", "lcd",
        "n_paras", "nd_paras", "pc", "pcd", "wchars",
        "top2", "top3", "top4",
        s"${covChars(5, "dp5")} AS cov5",
        s"${covChars(10, "dp10")} AS cov10")
      .selectExpr(idCol,
        "n_lines", "n_paras",
        s"CAST(${frac("(n_lines - nd_lines)", "n_lines")} AS DOUBLE) AS dup_line_frac",
        s"CAST(${frac("(lc - lcd)", "lc")} AS DOUBLE) AS dup_line_char_frac",
        s"CAST(${frac("(n_paras - nd_paras)", "n_paras")} AS DOUBLE) AS dup_para_frac",
        s"CAST(${frac("(pc - pcd)", "pc")} AS DOUBLE) AS dup_para_char_frac",
        s"CAST(${frac("top2", "wchars")} AS DOUBLE) AS top2gram_char_frac",
        s"CAST(${frac("top3", "wchars")} AS DOUBLE) AS top3gram_char_frac",
        s"CAST(${frac("top4", "wchars")} AS DOUBLE) AS top4gram_char_frac",
        s"CAST(${frac("cov5", "wchars")} AS DOUBLE) AS dup5gram_char_frac",
        s"CAST(${frac("cov10", "wchars")} AS DOUBLE) AS dup10gram_char_frac",
        "CAST(10 * (n_lines - nd_lines) <= 3 * n_lines AS INT) AS r1_dup_lines",
        "CAST(5 * (lc - lcd) <= lc AS INT) AS r2_dup_line_chars",
        "CAST(10 * (n_paras - nd_paras) <= 3 * n_paras AS INT) AS r3_dup_paras",
        "CAST(5 * (pc - pcd) <= pc AS INT) AS r4_dup_para_chars",
        "CAST(5 * top2 <= wchars AS INT) AS r5_top2gram",
        "CAST(100 * top3 <= 18 * wchars AS INT) AS r6_top3gram",
        "CAST(100 * top4 <= 16 * wchars AS INT) AS r7_top4gram",
        "CAST(100 * cov5 <= 15 * wchars AS INT) AS r8_dup5gram",
        "CAST(10 * cov10 <= wchars AS INT) AS r9_dup10gram")
      .selectExpr("*",
        """CAST(r1_dup_lines = 1 AND r2_dup_line_chars = 1
          |  AND r3_dup_paras = 1 AND r4_dup_para_chars = 1
          |  AND r5_top2gram = 1 AND r6_top3gram = 1 AND r7_top4gram = 1
          |  AND r8_dup5gram = 1 AND r9_dup10gram = 1 AS INT) AS pass""".stripMargin)
  }

  /** 60-bit md5-derived hash of a string SQL expression: the first 15 hex
    * chars of md5 parsed as an integer (always non-negative, fits a signed
    * long). md5 is the one hash family every engine computes bit-for-bit
    * (DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT`), which is what
    * makes hash-derived outputs exactly oracle-checkable. The oracle-checked
    * queries pin this family; production paths default to [[hash60]]'s
    * xx64 — same 60-bit non-negative contract, a fraction of the cost.
    */
  def md5Hash60(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** 60-bit hash of a string SQL expression in the given family ("xx64"
    * fast production default, "md5" oracle-check mode — see [[md5Hash60]]).
    */
  def hash60(e: String, family: String = graft.functions.HashFamily.Xx64): String =
    graft.functions.HashFamily.validate(family) match {
      case graft.functions.HashFamily.Md5 => md5Hash60(e)
      case _ => s"shiftrightunsigned(xxhash64($e), 4)"
    }

  /** 60-bit document fingerprint of whitespace-normalized text. Fingerprint
    * EQUALITY (the dedup signal) is family-independent: either family maps
    * equal normalized texts to equal hashes, and 60-bit collisions are
    * negligible at any corpus size where exact dedup is run per partition.
    */
  def fingerprint60(textCol: String,
                    family: String = graft.functions.HashFamily.Xx64): Column =
    expr(hash60(s"regexp_replace(lower(trim($textCol)), '\\\\s+', ' ')", family))

  /** Winnowing-style sketch: the `n` smallest distinct k-shingle hashes —
    * a compact, order-insensitive document signature for containment checks.
    */
  def shingleSketch(textCol: String, k: Int = 3, n: Int = 16,
                    family: String = graft.functions.HashFamily.Xx64): Column = {
    val sh = Dedup.shinglesExprStr(textCol, k)
    expr(s"slice(array_sort(transform($sh, s -> ${hash60("s", family)})), 1, $n)")
  }

  /** Corpus-level BOILERPLATE profile (the RefinedWeb/C4-style "how much of
    * this document is repeated across the corpus" signal): for each doc,
    * the count and fraction of its distinct word n-grams whose document
    * frequency reaches `minDf`. High-fraction docs are templated/boilerplate
    * content a training pipeline down-weights or drops.
    *
    * Scale shape: explode distinct n-grams (row-local, codegen'd), ONE
    * hash-agg shuffle on the gram key for document frequency (map-side
    * combined; gram keys are near-unique so no skew), join the df back on
    * the same key (the exchange is reusable — both sides hash-partition on
    * gram), then one per-doc agg. No corpus self-join anywhere; every step
    * is linear in total gram count. Short docs (< n words) surface with
    * zero counts, not silently dropped.
    */
  def boilerplateNgramStats(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 5, minDf: Int = 2): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    // r17 perf: spread before the shingle explosion (guide §2.5); `grams`
    // feeds two aggregates, both still map-side combined
    val grams = Tables.spread(docs, col(idCol)).select(col(idCol),
      explode(Dedup.shingles(textCol, n)).as("gram"))
    // shingles are DISTINCT per doc, so count(*) per gram == document freq
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val per = grams.join(df, "gram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boilerplate"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"),
        round(coalesce(col("n_boilerplate").cast("double") / col("n_grams"),
          lit(0d)), 6).as("boilerplate_frac"))
  }

  /** WITHIN-DOCUMENT repetition signals (the Gopher-rules family, adapted
    * to unstructured text): over a doc's NON-distinct word n-grams,
    *  - `top_ngram_count`: occurrences of the most repeated n-gram,
    *  - `dup_ngram_frac`: fraction of n-gram occurrences that belong to
    *    some repeated n-gram (count >= 2).
    * High values flag loops/templating/keyword stuffing — content a
    * training pipeline down-weights even when it is corpus-unique.
    *
    * Scale shape: explode (row-local) + two hash aggs keyed by (id, gram)
    * then id — both map-side combined, no joins against the corpus. Short
    * docs (< n words) surface with zeros.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val parts = (0 until n).map(i => s"w[i + $i]").mkString(", ' ', ")
    // non-distinct n-grams: repetition is the signal, dedup would erase it
    val gramsExpr = Dedup.letBind(Dedup.tokensExpr(textCol), "w",
      s"""CASE WHEN size(w) >= $n
         |  THEN transform(sequence(0, size(w) - $n), i -> concat($parts))
         |  ELSE array() END""".stripMargin)
    val counts = docs
      .select(col(idCol), explode(expr(gramsExpr)).as("gram"))
      .groupBy(idCol, "gram").agg(count(lit(1)).as("c"))
    val per = counts.groupBy(idCol).agg(
      sum("c").as("n_ngrams"),
      max("c").as("top_ngram_count"),
      sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_occ"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("top_ngram_count"), lit(0L)).as("top_ngram_count"),
        round(coalesce(col("dup_occ").cast("double") / col("n_ngrams"),
          lit(0d)), 6).as("dup_ngram_frac"))
  }

  /** Benchmark DECONTAMINATION check: training docs that share at least one
    * word n-gram with the evaluation/benchmark set, with the shared-gram
    * count. The published-pipeline shape (e.g. GPT-3 appendix C /
    * open-LM decontamination): n-gram overlap against held-out benchmarks,
    * flagged docs dropped or audited before training.
    *
    * Scale shape: the benchmark gram set is benchmark-sized — tiny next to
    * a 100 TB corpus — so it BROADCASTS and the corpus side is one scan +
    * explode + broadcast-hash semi-join + per-doc agg (map-side combined):
    * the corpus never shuffles on the gram key at all. Returns only
    * flagged docs (id, shared_grams); clean docs are the anti-join's
    * complement and never materialize.
    *
    * Companion: [[Dedup.crossCorpusWindowOverlap]] keeps per-BENCHMARK-doc
    * attribution (which eval doc leaked, with distinct-window counts) and
    * [[Dedup.decontaminate]] materializes the surviving corpus; this check
    * is the cheaper per-train-doc audit summary.
    */
  def contaminationCheck(train: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val benchGrams = benchmark
      .select(explode(Dedup.shingles(textCol, n)).as("gram")).distinct()
    train.select(col(idCol), explode(Dedup.shingles(textCol, n)).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Hashed bag-of-words dimension table: one (keys..., dim, wt) row per
    * occupied dimension, where dim = hash60(token) mod `dims` and wt is
    * the token count — the feature-hashing text vectorizer (Weinberger et
    * al. 2009) as a plain relational frame. Integer weights keep every
    * downstream dot product / norm exact and order-independent.
    */
  def hashedBowDims(df: DataFrame, keyCols: Seq[String], textCol: String,
                    dims: Int,
                    family: String = graft.functions.HashFamily.Xx64): DataFrame = {
    require(dims >= 2, s"dims must be >= 2, got $dims")
    // r17 perf: spread before tokenize/explode/hash — the per-token hash
    // kernel otherwise inherits the source's split count (guide §2.5),
    // and the grouped counts downstream keep their map-side combine
    Tables.spread(df, col(keyCols.head))
      .select(keyCols.map(col) :+
        explode(expr(Dedup.tokensExpr(textCol))).as("w"): _*)
      .withColumn("dim", pmod(expr(hash60("w", family)), lit(dims)).cast("int"))
      .groupBy((keyCols :+ "dim").map(col): _*)
      .agg(count(lit(1)).as("wt"))
  }

  /** RAG-shaped CHUNK RETRIEVAL — the composition a retrieval index build
    * runs: [[Pipeline.chunkDocuments]] → [[hashedBowDims]] vectors →
    * exact cosine top-k against one query chunk. This is the EXACT-scoring
    * baseline (and the oracle-checkable twin, md5 family): integer dot
    * products and norms make the score bit-deterministic under any
    * partitioning. At corpus scale the same chunk frame feeds the ANN
    * paths (SRP buckets / IVF over real embeddings) — exact scoring here
    * is the recall referee, not the production prober.
    *
    * Scale shape: the query vector (≤ chunk-length dims) broadcasts; only
    * dimension-colliding (chunk, dim) rows reach the per-chunk dot
    * aggregation, and norms ride the same vector frame — an ingest-time
    * artifact a real deployment persists once per corpus.
    */
  def chunkRetrieval(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, strideTokens: Int, dims: Int,
                     queryDocId: Long, queryChunkIdx: Int, k: Int,
                     family: String = graft.functions.HashFamily.Xx64): DataFrame = {
    val chunks = Pipeline.chunkDocuments(docs, idCol, textCol,
      chunkTokens, strideTokens)
    val vecs = hashedBowDims(chunks, Seq("id", "chunk_idx"), "chunk_text",
      dims, family).persist()
    try {
      val qv = vecs
        .filter(col("id") === queryDocId && col("chunk_idx") === queryChunkIdx)
        .select(col("dim"), col("wt").as("qwt"))
      // query-sized scalar (one chunk's norm) — not a corpus collect. An
      // absent query chunk sums to NULL; read it nullable so the require
      // fires instead of an opaque NPE.
      val qnormRow = qv.agg(sum(col("qwt") * col("qwt"))).head()
      val qnorm = if (qnormRow.isNullAt(0)) 0L else qnormRow.getLong(0)
      require(qnorm > 0,
        s"query chunk ($queryDocId, $queryChunkIdx) is empty or absent")
      // One fused aggregation computes dot AND norm per chunk (was two
      // (id, chunk_idx) hash-aggs + a join — 2x the wide work): LEFT join
      // against the broadcast query vector keeps every chunk row for the
      // norm sum, matched dims contribute to the dot, and a NULL dot
      // (zero shared dims) reproduces the inner join's exclusion.
      vecs
        .filter(!(col("id") === queryDocId && col("chunk_idx") === queryChunkIdx))
        .join(broadcast(qv), Seq("dim"), "left")
        .groupBy("id", "chunk_idx")
        .agg(sum(col("wt") * col("qwt")).as("dp"),
          sum(col("wt") * col("wt")).as("n2"))
        .filter(col("dp").isNotNull)
        .select(col("id"), col("chunk_idx"),
          (col("dp").cast("double") /
            (sqrt(col("n2").cast("double")) * math.sqrt(qnorm.toDouble)))
            .as("cosine"))
        .orderBy(col("cosine").desc, col("id"), col("chunk_idx"))
        .limit(k)
        .localCheckpoint()
    } finally vecs.unpersist()
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (Robertson/Lucene `+1` idf variant):
    *
    *   score(d) = sum over matched terms t of
    *     ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
    *       * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    *
    * Returns (idCol, n_terms, bm25) for docs matching >= 1 term, rounded
    * to 6 dp. Ranks corpus passages for retrieval-style curation (e.g.
    * pulling topic-relevant training slices).
    *
    * Scale shape: the per-doc term-frequency VECTOR for the whole query
    * is computed row-locally in one codegen'd pass (`transform` over the
    * query array — the corpus is never exploded on its full token list,
    * and non-matching docs die in the scan). Only matched (doc, term)
    * pairs — query-bounded, tiny next to the corpus — reach the df hash
    * agg; corpus stats (N, sum dl) come from the same scan's agg, and
    * both join back by broadcast. The corpus never shuffles.
    *
    * Determinism: per-term contributions are rounded to 9 dp and summed
    * as scaled longs — integer addition is order-independent, so the
    * score is bit-stable under any partitioning (and replayable by an
    * external engine). idf is rounded to 9 dp before use for the same
    * reason.
    */
  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
                queryTerms: Seq[String], k1: Double = 1.2,
                b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.toSet.size == queryTerms.size,
      "queryTerms must be distinct")
    val qArr = s"array(${queryTerms.map(t => s"'${t.replace("'", "\\'")}'").mkString(",")})"
    // one row-local pass: doc length + tf per query term (aligned with
    // queryTerms order), corpus never exploded
    val scanned = docs.select(
      col(idCol),
      expr(Dedup.letBind(w(textCol), "w",
        s"named_struct('dl', size(w), 'tf', transform($qArr, qt -> size(filter(w, x -> x = qt))))"))
        .as("s"))
      .select(col(idCol), col("s.dl").as("dl"), col("s.tf").as("tf"))
    val stats = scanned.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl"))
    val pairs = scanned
      .select(col(idCol), col("dl"), posexplode(col("tf")).as(Seq("pos", "tf")))
      .filter(col("tf") > 0)
    val df = pairs.groupBy("pos").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    // + and * are COMMUTATIVE (bitwise) for doubles, so Column-first
    // operand order below is value-identical to the oracle's SQL spelling
    val saturation = col("tf") + (col("dl") * b / avgdl + (1 - b)) * k1
    pairs
      .join(broadcast(df), "pos")
      .crossJoin(broadcast(stats))
      .withColumn("idf", round(
        log(lit(1d) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 9))
      .withColumn("c9",
        round(round(col("idf") * col("tf") * (k1 + 1) / saturation, 9) * 1e9)
          .cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_terms"),
        round(sum("c9") / 1e9, 6).as("bm25"))
  }

  /** Per-document top-`k` TF-IDF terms: the classic term-weighting step of
    * corpus curation (keyword extraction, topic labeling, boilerplate
    * triage). Returns (idCol, rank, term, tf, score), rank 1..k per doc by
    * (score DESC, term ASC) — a total order, so the cut is deterministic.
    *
    * Scale shape: one (doc, term) hash agg with map-side combine for tf —
    * rows shrink to distinct pairs before the exchange — then a term-keyed
    * agg (term-cardinality-sized, vocabulary not corpus) for df. The df
    * join runs on the term key and is left to AQE: a trimmed vocabulary
    * broadcasts, a web-scale one shuffle-joins — both correct, neither
    * hand-forced. The top-k window partitions by doc — no global sort, no
    * driver state.
    *
    * Determinism: idf = ln(n_docs / df) is rounded to 9 dp before the
    * tf multiply, and the score again after it (the bm25Score idiom), so
    * an external engine replays the arithmetic bit-for-bit.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = docs
      .select(col(idCol), explode(expr(w(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val df = pairs.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term"))
    pairs
      .join(df, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        round(log(col("n_docs").cast("double") / col("df")), 9))
      .withColumn("score", round(col("idf") * col("tf"), 9))
      .withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("score"))
  }

  /** Statistical-LM quality filter (the CCNet/KenLM perplexity-filtering
    * shape, re-expressed as an exactly-replayable bigram model): train
    * add-one-smoothed bigram counts on the rows where `trainCol` holds,
    * then score EVERY document by its mean negative log-likelihood
    *
    *   nll(d) = mean over bigram positions of
    *     -ln( (c2(w1,w2) + 1) / (c1(w1) + V) )
    *
    * where c2 = train bigram count, c1 = count of w1 as a LEFT CONTEXT in
    * the train slice (so probabilities over the vocabulary sum to exactly
    * 1), and V = the model's right-context vocabulary size. High-nll docs
    * are far from the training distribution — the corpus-curation signal
    * pipelines threshold on (CCNet keeps the low-perplexity head/middle).
    * Returns (idCol, n_bigrams, avg_nll); docs with < 2 tokens surface
    * with zeros.
    *
    * Scale shape: the train slice aggregates to a VOCABULARY-sized bigram
    * count table in one gram-key shuffle (map-side combined); c1 and V
    * derive from that table, never re-touching the corpus. Scoring is one
    * corpus scan exploded to bigrams joined against the two count tables —
    * both model-sized, so AQE broadcasts them for any trimmed vocabulary
    * and shuffle-joins only a web-scale one. No corpus self-join; only V
    * (one long) reaches the driver.
    *
    * Determinism: per-bigram contributions are rounded to 9 dp and
    * accumulated in DECIMAL (exact addition ⇒ shuffle-order-independent,
    * the domainDrift idiom), final mean rounded to 6 dp.
    */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
                   trainCol: Column): DataFrame = {
    val parts = Seq("w[i]", "w[i + 1]").mkString(", ' ', ")
    // NON-distinct bigrams: the model counts occurrences, not types
    val gramsExpr = Dedup.letBind(Dedup.tokensExpr(textCol), "w",
      s"""CASE WHEN size(w) >= 2
         |  THEN transform(sequence(0, size(w) - 2), i -> concat($parts))
         |  ELSE array() END""".stripMargin)
    val c2 = docs.filter(trainCol)
      .select(explode(expr(gramsExpr)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c2"))
      .localCheckpoint() // feeds c1, V, and the scoring join
    val c1 = c2.groupBy(substring_index(col("gram"), " ", 1).as("w1"))
      .agg(sum("c2").as("c1"))
    val vocabV = c2.select(substring_index(col("gram"), " ", -1))
      .distinct().count()
    val scored = docs
      .select(col(idCol), explode(expr(gramsExpr)).as("gram"))
      .join(c2, Seq("gram"), "left")
      .withColumn("w1", substring_index(col("gram"), " ", 1))
      .join(c1, Seq("w1"), "left")
      .withColumn("nll9", round(-log(
        (coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + vocabV)), 9))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll9").cast("decimal(28,9)")).as("nll_sum"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // decimal -> double BEFORE the division: both engines convert the
        // exact same decimal to the same double, then divide identically —
        // a decimal division would round at engine-specific result scales
        round(coalesce(col("nll_sum").cast("double") / col("n_bigrams"),
          lit(0d)), 6).as("avg_nll"))
  }

  /** Character-level Shannon entropy of the non-space text — the
    * gibberish/compressibility quality signal (near-zero for repeated
    * characters, high for diverse text; pipelines drop both extremes).
    * Entirely row-local: per-char probabilities via array ops over the
    * doc's own characters (O(distinct·len) per row, distinct bounded by
    * the alphabet), each term -p·ln(p) scaled to a 1e-9 fixed-point LONG
    * before summation — integer addition is order-independent, so the
    * value doesn't depend on the engine's distinct-order and replays
    * externally. Returns entropy in nats, 6 dp; empty/whitespace-only
    * text scores 0.
    */
  def charEntropy(textCol: String): Column = {
    val chars =
      s"transform(sequence(1, length(s)), i -> substring(s, i, 1))"
    expr(Dedup.letBind(s"regexp_replace($textCol, ' ', '')", "s",
      s"""CASE WHEN length(s) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
         |  ${Dedup.letBind(chars, "cs",
             s"""round(aggregate(
                |  transform(array_distinct(cs), c ->
                |    CAST(round(-(CAST(size(filter(cs, x -> x = c)) AS DOUBLE) / size(cs)
                |         * ln(CAST(size(filter(cs, x -> x = c)) AS DOUBLE) / size(cs))) * 1e9)
                |      AS BIGINT)),
                |  CAST(0 AS BIGINT), (a, x) -> a + x) / 1e9, 6)""".stripMargin)}
         |END""".stripMargin))
  }

  /** Model-based quality scoring in the fasttext/linear-classifier shape,
    * executed ENTIRELY row-locally: each token hashes into one of `dim`
    * weight buckets, bucket weights are 9-dp fixed-point LONGS, and the
    * document's margin is the mean bucket weight — computed inside one
    * codegen'd fold, all-integer until the final division, so the score is
    * exact, partitioning-independent, and externally replayable.
    *
    * The weight table here is DERIVED from a seed (md5-uniform in [-1, 1])
    * — the stand-in for trained weights, which makes the whole inference
    * path verifiable end-to-end; a real model plugs in by swapping
    * `weightExpr` for a lookup against its exported bucket->weight9 array
    * (dim-sized, shipped as a plan literal — the same shape, still
    * shuffle-free). This is the 100 TB posture for classifier-based corpus
    * filtering: the model rides the scan; the corpus never moves.
    *
    * Returns (idCol, n_tokens, margin, label): margin = sum(w9)/1e9/n
    * rounded to 6 dp, label = 1 iff the raw integer weight sum is
    * positive (decided on the EXACT sum, so it can never disagree with
    * the margin's sign at higher precision).
    */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        dim: Int = 1024, seed: String = "graft-qc-1",
                        family: String = graft.functions.HashFamily.Md5): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val bucket = s"${hash60("x", family)} % $dim"
    val weight9 =
      s"${hash60(s"concat('$seed:', CAST($bucket AS STRING))", family)} % 2000000001 - 1000000000"
    // r17 perf: spread before the per-token double-hash aggregate — it
    // otherwise runs on the source's split count (q_t17 measured two
    // ~0.9 s single-task jobs at sf0.1); guide §2.5
    Tables.spread(docs, col(idCol)).select(
      col(idCol),
      expr(Dedup.letBind(w(textCol), "wv",
        s"""named_struct(
           |  'n', size(wv),
           |  's9', aggregate(wv, CAST(0 AS BIGINT), (acc, x) -> acc + ($weight9))
           |)""".stripMargin)).as("r"))
      .select(col(idCol),
        col("r.n").cast("long").as("n_tokens"),
        when(col("r.n") === 0, lit(0d))
          .otherwise(round(col("r.s9") / 1e9 / col("r.n"), 6)).as("margin"),
        (col("r.s9") > 0).cast("int").as("label"))
  }

  /** Distributed full-batch PERCEPTRON training over hashed bag-of-words
    * counts — the data-parallel model-TRAINING shape a quality-classifier
    * pipeline runs (the trained twin of [[hashedLinearScore]]'s inference
    * path), kept ALL-INTEGER so the learned weights are bit-exact under
    * any partitioning and externally replayable: no learning-rate float,
    * no transcendental — the classic perceptron update IS integer
    * arithmetic.
    *
    * `labelCol` must hold ±1 ints on `docs`. Per iteration: margins
    * m_i = Σ_d w_d·x_{i,d} via a codegen'd lookup of the dim-sized weight
    * array shipped as a PLAN LITERAL (the [[Clustering.kmeansInt]]
    * centroids discipline) + one per-doc aggregation; docs with
    * y_i·m_i <= 0 contribute Δw_d = Σ y_i·x_{i,d} through one dim-keyed
    * aggregation whose output is DIMENSION-sized — the only thing that
    * ever reaches the driver. The (doc, dim, count) feature frame is
    * computed once and persisted; at 100 TB each iteration is one scan of
    * that cached frame with map-side partial aggregation — exactly the
    * data-parallel batch-gradient shape a parameter-server-free cluster
    * runs for small models. Docs with no tokens have no feature rows and
    * never vote. Returns one row per dimension: (dim, weight), zeros
    * included.
    */
  def perceptronTrain(docs: DataFrame, idCol: String, textCol: String,
                      labelCol: String, dim: Int = 64, iterations: Int = 3,
                      family: String = graft.functions.HashFamily.Xx64): DataFrame = {
    require(dim >= 2 && iterations >= 1,
      s"dim >= 2 and iterations >= 1 required, got $dim / $iterations")
    val spark = docs.sparkSession
    val feats = hashedBowDims(docs.select(col(idCol), col(labelCol), col(textCol)),
        Seq(idCol, labelCol), textCol, dim, family)
      .select(col(idCol).as("id"), col(labelCol).cast("long").as("y"),
        col("dim"), col("wt"))
      .persist()
    try {
      feats.count()
      val w = Array.fill[Long](dim)(0L)
      for (_ <- 1 to iterations) {
        val wLit = w.map(v => s"${v}L").mkString("array(", ", ", ")")
        val mis = feats
          .withColumn("wd", expr(s"element_at($wLit, dim + 1)"))
          .groupBy("id", "y")
          .agg(sum(col("wd") * col("wt")).as("m"))
          .filter(col("y") * col("m") <= 0)
          .select("id")
        val deltas = feats.join(mis, "id")
          .groupBy("dim")
          .agg(sum(col("y") * col("wt")).as("dw"))
          .collect() // dimension-sized, never corpus-sized
        deltas.foreach(r => w(r.getInt(0)) += r.getLong(1))
      }
      import spark.implicits._
      w.toSeq.zipWithIndex.map { case (v, d) => (d, v) }.toDF("dim", "weight")
    } finally feats.unpersist()
  }

  /** Token-distribution drift of each corpus slice against a base slice:
    * KL(P_slice ‖ P_base) with add-one smoothing over the WHOLE corpus
    * vocabulary (so zero-count terms still contribute their smoothed
    * mass). The monitoring primitive behind "did this crawl snapshot /
    * source mix shift against the reference distribution" — the per-slice
    * number is comparable across snapshots because the smoothing and
    * vocabulary are pinned to the corpus itself.
    *
    * Determinism: each term's contribution `p·ln(p/q)` is rounded to 9 dp
    * and ACCUMULATED IN DECIMAL — decimal addition is exact, so the sum is
    * independent of shuffle arrival order and replayable by any engine
    * (the RRF/TF-IDF rounding idiom; a double sum over a vocab-sized term
    * list would drift in the last ulps and break the oracle hash).
    *
    * Scale shape: one (slice, term) count shuffle over the token stream —
    * everything downstream works on vocabulary-sized frames (slices ×
    * vocab grid, map-side-combined back to one row per slice). The corpus
    * is touched exactly once; only `V` (one long) reaches the driver.
    */
  def domainDrift(docs: DataFrame, textCol: String, sliceCol: String,
                  baseValue: String): DataFrame = {
    val counts = docs
      .select(col(sliceCol).as("slice"), explode(expr(w(textCol))).as("term"))
      .groupBy("slice", "term").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds vocab, totals, base, and the grid
    val vocab = counts.select("term").distinct()
    val vocabSize = vocab.count()
    val totals = counts.groupBy("slice")
      .agg(sum("c").as("tot"), count(lit(1)).as("n_terms"))
    val base = counts.filter(col("slice") === baseValue)
      .select(col("term"), col("c").as("c_b"))
    val baseTot = totals.filter(col("slice") === baseValue)
      .select(col("tot").as("tot_b"))
    val grid = counts.select("slice").distinct()
      .filter(col("slice") =!= baseValue)
      .crossJoin(vocab)
      .join(counts, Seq("slice", "term"), "left")
      .join(base, Seq("term"), "left")
      .join(broadcast(totals), "slice")
      .crossJoin(broadcast(baseTot))
    val p = (coalesce(col("c"), lit(0L)) + 1).cast("double") /
      (col("tot") + vocabSize)
    val q = (coalesce(col("c_b"), lit(0L)) + 1).cast("double") /
      (col("tot_b") + vocabSize)
    grid
      .withColumn("kl_term", round(p * log(p / q), 9))
      .groupBy("slice", "tot", "n_terms")
      .agg(round(sum(col("kl_term").cast("decimal(28,9)")).cast("double"), 6)
        .as("kl_vs_base"))
      .select(col("slice"), col("tot").as("n_tokens"),
        col("n_terms").as("n_terms_seen"), col("kl_vs_base"))
  }

  /** Tags that end one candidate text block and start the next. `br` is
    * included: consecutive inline text separated by explicit breaks is
    * scored per line, the way nav link lists actually render.
    */
  private val BlockTagRe =
    "(?i)</?(?:p|div|li|h[1-6]|br|section|article|header|footer|nav|td|ul|ol|table|blockquote)[^>]*>"

  /** Whitespace class spelled explicitly because Java's `\s` and RE2's
    * `\s` disagree on vertical tab — the oracle replays this regex in
    * DuckDB (RE2) and must collapse exactly the same characters.
    */
  private val WsRe = "[ \\t\\n\\r\\f]+"

  private def stripMarkup(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), WsRe, " "))

  /** Main-text extraction from raw HTML (the pre-tokenization stage of a
    * web-corpus pipeline): drop script/style/comments, split on
    * block-level tags, score each block by LINK DENSITY — the
    * trafilatura/Arc90-family heuristic that separates prose from
    * boilerplate, because nav bars and footers are mostly anchor text
    * while article bodies are mostly not — and keep blocks with at least
    * `minChars` of text whose anchor-text share is at most `maxLinkPct`.
    *
    * Entirely row-local codegen'd regexp/array expressions — no UDF, no
    * shuffle, runs at scan speed — and every regex is RE2-compatible (no
    * backreferences: script and style are stripped by separate patterns),
    * so any engine replays it byte-for-byte. Integer-only scoring
    * (`link_chars * 100 <= text_chars * maxLinkPct`): no float rounding
    * to drift across engines. The `<`-inside-script hazard is handled by
    * stripping script bodies BEFORE the generic tag strip — a naive
    * one-pass tag strip would truncate `if (a < 2)` mid-expression.
    *
    * Returns one row per input doc: the candidate block count (nonempty
    * text after markup strip), kept count, and the extracted text (kept
    * blocks joined in document order).
    */
  def extractMainText(docs: DataFrame, idCol: String, htmlCol: String,
                      minChars: Int = 25, maxLinkPct: Int = 30): DataFrame = {
    // the block/kept frames are let-bound (single-element transform, the
    // letBind idiom) so the whole strip/split/score pipeline evaluates
    // ONCE per row — as Scala vals they would inline per reference
    // (n_blocks, n_kept, extracted = three copies of everything)
    def bind(bound: Column)(body: Column => Column): Column =
      element_at(transform(array(bound), body), 1)
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(col(htmlCol), "(?is)<script[^>]*>.*?</script>", " "),
        "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val result = bind(filter(
        transform(split(clean, BlockTagRe, -1), b => struct(
          stripMarkup(b).as("txt"),
          length(stripMarkup(
            array_join(regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
              " "))).as("llen"))),
        s => s.getField("txt") =!= "")) { blocks =>
      bind(filter(blocks, s =>
          length(s.getField("txt")) >= minChars &&
            s.getField("llen") * 100 <= length(s.getField("txt")) * maxLinkPct)) { kept =>
        struct(
          size(blocks).as("n_blocks"),
          size(kept).as("n_kept"),
          array_join(transform(kept, _.getField("txt")), " ").as("extracted"))
      }
    }
    docs.select(col(idCol), result.as("_r"))
      .select(col(idCol), col("_r.n_blocks").as("n_blocks"),
        col("_r.n_kept").as("n_kept"), col("_r.extracted").as("extracted"))
  }

  // ---------------------------------------------------------------------
  // Encoding repair (mojibake). UTF-8 text that was decoded as
  // Windows-1252 somewhere upstream in a crawl pipeline shows up as 2-3
  // character garbage runs ("Ã©" where é was meant, "â€™" for ’) — the
  // single most common encoding defect in web corpora. The repair table
  // is DERIVED, not transcribed: for each intended character, encode to
  // UTF-8 and decode those bytes as cp1252 — exactly the corruption being
  // inverted (the core of ftfy's fix; public knowledge). Targets whose
  // corrupted form would contain a cp1252 C1-gap byte (0x81/8D/8F/90/9D,
  // e.g. the ” quote) are excluded so every entry is printable and safe
  // to splice into a SQL string literal. Sorted longest-corrupted-form
  // first so a 3-char E2-80-xx punctuation run is never half-eaten by a
  // 2-char accent rule sharing a byte.

  /** (corrupted sequence, intended character), longest sequence first. */
  val mojibakeTable: Seq[(String, String)] = {
    val targets = "’“…–—éèáóñüöäç"
    targets.map { ch =>
      val bad = new String(
        ch.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        "windows-1252")
      bad -> ch.toString
    }.filter { case (bad, _) =>
      bad.forall(c => c >= ' ' && c != '\'' && !c.isControl)
    }.sortBy { case (bad, _) => (-bad.length, bad) }
  }

  /** SQL text counting mojibake-sequence occurrences in `textExpr`
    * (per-sequence length-difference arithmetic — replayable in any SQL
    * engine, no regex). The bound var keeps the input evaluated once.
    */
  def mojibakeCountExpr(textExpr: String): String =
    Dedup.letBind(textExpr, "mj",
      mojibakeTable.map { case (bad, _) =>
        s"(length(mj) - length(replace(mj, '$bad', ''))) DIV ${bad.length}"
      }.mkString("(", ") + (", ")"))

  /** SQL text of the repair chain: one `replace` per table entry applied
    * longest-first. Row-local, codegen'd, one pass per sequence.
    */
  def mojibakeRepairExpr(textExpr: String): String =
    mojibakeTable.foldLeft(textExpr) { case (acc, (bad, good)) =>
      s"replace($acc, '$bad', '$good')"
    }

  /** The corrupted form of an intended character, for building test /
    * planted-injection fixtures from the same table the repair uses.
    */
  def mojibakeOf(good: String): String =
    mojibakeTable.collectFirst { case (b, g) if g == good => b }.getOrElse(
      throw new IllegalArgumentException(s"no mojibake entry for '$good'"))
}
