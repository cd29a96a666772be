package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis and deduplication battery over the `documents` table —
  * the LLM-training-pipeline operator surface (tokenize, quality metrics,
  * n-gram profiles, exact + normalized dedup). Everything here stays inside
  * Spark's codegen'd collection expressions (split / filter / transform /
  * aggregate) — no UDFs — so the hot path survives whole-stage codegen.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  /** Whitespace tokens with empties dropped, as a SQL expression string. */
  private val wordsExpr = "filter(split(text, ' '), x -> x != '')"

  // q_t26's page skeleton, shared verbatim by the Spark planting and the
  // DuckDB oracle (the two halves of the head sandwich the doc_id)
  private val htmlHeadA = "<html><head><title>Doc "
  private val htmlHeadB = "</title><style>p{margin:0}</style>" +
    "<script>var a=1;if(a<2){a=3;}</script></head><body>"
  private val htmlNav = "<div class=\"nav\"><a href=\"/\">Home</a> " +
    "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></div>"
  private val htmlAd = "<div class=\"ad\"><a href=\"/buy\">Buy now</a></div>"
  private val htmlRel = "<div>Related reading: <a href=\"/more\">read more</a> " +
    "about these topics in much greater depth</div>"
  private val htmlFoot = "<footer><a href=\"/tos\">Terms</a> | " +
    "<a href=\"/privacy\">Privacy</a></footer></body></html>"

  /** q_t28's line/paragraph planting: synth docs are single-line, so the
    * repetition card gets structure from a deterministic construction over
    * substrings of the doc's own text — three paragraphs with
    * doc_id-dependent duplicated lines and paragraphs (rates vary per doc
    * so every fraction column takes many distinct values). Shared
    * semantics with the DuckDB oracle, which rebuilds ptext with the same
    * substr/concat arithmetic.
    */
  private[graft] def withPlantedParagraphs(d: DataFrame): DataFrame =
    d.selectExpr("doc_id",
      "coalesce(text, '') AS t0")
      .selectExpr("doc_id",
        "substring(t0, 1, 40) AS l1", "substring(t0, 41, 40) AS l2",
        "substring(t0, 11, 30) AS l3", "substring(t0, 5, 25) AS l4")
      .selectExpr("doc_id",
        """concat(l1, chr(10), l2,
          |  CASE WHEN doc_id % 3 = 0 THEN concat(chr(10), l1) ELSE '' END)
          |  AS p1""".stripMargin,
        """CASE WHEN doc_id % 4 < 2 THEN l3
          |  ELSE concat(l3, chr(10), l3) END AS p2""".stripMargin,
        "l4")
      .selectExpr("doc_id",
        """concat(p1, chr(10), chr(10), p2, chr(10), chr(10),
          |  CASE WHEN doc_id % 5 = 0 THEN p2 ELSE l4 END) AS ptext""".stripMargin)

  /** q_t29's construction + detect/repair body (shared with the ScaleBench
    * leg, which skips the registry's output sort): per-variant cp1252
    * mojibake injected from the SAME derived table the repairer inverts,
    * then detect, repair, and residual re-detect — all in one codegen'd
    * row-local span.
    */
  private[graft] def mojibakeRepairQuery(d: DataFrame): DataFrame = {
    val injAcc = "replace(replace(t, 'a', '" +
      TextAnalysis.mojibakeOf("á") + "'), 'e', '" +
      TextAnalysis.mojibakeOf("é") + "')"
    val injP = s"'${TextAnalysis.mojibakeOf("’")}'"
    d.selectExpr("doc_id", "coalesce(text, '') AS t")
      .selectExpr("doc_id",
        s"""CASE CAST(doc_id % 4 AS INT)
           |  WHEN 0 THEN t
           |  WHEN 1 THEN $injAcc
           |  WHEN 2 THEN replace(t, 's', $injP)
           |  ELSE replace($injAcc, 's', $injP) END AS c""".stripMargin)
      .selectExpr("doc_id",
        s"CAST(${TextAnalysis.mojibakeCountExpr("c")} AS BIGINT) AS n_bad",
        Dedup.letBind(TextAnalysis.mojibakeRepairExpr("c"), "r",
          s"""struct(
             |  CAST(${TextAnalysis.mojibakeCountExpr("r")} AS BIGINT)
             |    AS n_resid,
             |  md5(r) AS fixed_md5,
             |  CAST(length(r) AS BIGINT) AS fixed_chars)""".stripMargin) +
          " AS _r")
      .selectExpr("doc_id", "n_bad", "_r.n_resid AS n_resid",
        "_r.fixed_md5 AS fixed_md5", "_r.fixed_chars AS fixed_chars")
  }

  /** Wrap each doc's text in the deterministic page skeleton (variant by
    * doc_id % 3: plain / +ad block / +mixed prose-and-link block).
    */
  private[graft] def withPlantedHtml(d: DataFrame): DataFrame = {
    val v = expr("doc_id % 3")
    d.withColumn("html", concat(
      lit(htmlHeadA), col("doc_id").cast("string"), lit(htmlHeadB),
      lit(htmlNav),
      when(v === 1, lit(htmlAd)).otherwise(lit("")),
      lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
      when(v === 2, lit(htmlRel)).otherwise(lit("")),
      lit(htmlFoot)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 analogue — explode tokens, global frequency top-100.
    "q_t0_word_freq" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr(s"explode($wordsExpr) AS word")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(100)),

    // Token statistics per document (token counting for data pipelines).
    "q_t1_token_stats" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"$wordsExpr AS w", "length(text) AS len_chars")
        .selectExpr(
          "doc_id",
          "CAST(size(w) AS INT) AS n_tokens",
          "CAST(size(array_distinct(w)) AS INT) AS n_distinct_tokens",
          "CAST(len_chars AS INT) AS n_chars_computed",
          "round(CAST(aggregate(w, 0, (acc, x) -> acc + length(x)) AS DOUBLE) / size(w), 4) AS avg_token_len")
        .orderBy("doc_id")),

    // Quality scoring: stopword ratio + lexical diversity (type/token ratio).
    "q_t2_quality" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"$wordsExpr AS w")
        .selectExpr(
          "doc_id",
          "round(CAST(size(filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) / size(w), 6) AS stopword_ratio",
          "round(CAST(size(array_distinct(w)) AS DOUBLE) / size(w), 6) AS ttr")
        .orderBy("doc_id")),

    // Word-level trigram profile, top-50 (shingling — the substrate of
    // MinHash dedup, here surfaced as its own oracle-checked op).
    "q_t3_trigrams" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr(s"$wordsExpr AS w")
        .selectExpr(
          """explode(CASE WHEN size(w) >= 3
            |  THEN transform(sequence(0, size(w) - 3),
            |                 i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
            |  ELSE filter(w, x -> false) END) AS trigram""".stripMargin)
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(50)),

    // Outer generator — explode_outer keeps rows whose array is empty
    // (short docs produce no trigrams but must survive with a NULL).
    "q_p2_explode_outer" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"${Dedup.shinglesExprStr("text", 16)} AS grams")
        .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_rows"), count(col("gram")).as("n_grams"))
        .orderBy("doc_id")),

    // Corpus boilerplate profile: fraction of each doc's distinct 5-grams
    // that recur in >= 2 documents (the templated-content signal a
    // training pipeline down-weights). One gram-key shuffle, no self-join.
    "q_t8_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateNgramStats(docs(s, dir), "doc_id", "text",
          n = 5, minDf = 2)
        .orderBy("doc_id")),

    // Benchmark decontamination: training docs sharing any 5-gram with the
    // held-out set (doc_id % 50 == 0 stands in for a benchmark). The
    // benchmark gram set broadcasts; the corpus side never shuffles on the
    // gram key.
    "q_t9_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.contaminationCheck(
          d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    // Within-document repetition (Gopher-rule family): most-repeated
    // bigram count + fraction of bigram occurrences that are repeats.
    "q_t10_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text", n = 2)
        .orderBy("doc_id")),

    // Distributed full-batch perceptron TRAINING (3 iterations, 64 hashed
    // dims, md5 family): the data-parallel model-training shape — margins
    // via a plan-literal weight lookup, misclassified docs vote per-dim
    // integer deltas, only the dim-sized delta frame reaches the driver.
    // All-integer, so the learned weights are bit-exact and the oracle
    // unrolls the three iterations CTE-by-CTE. Labels derive in-query
    // (>= 40 words), replayed identically by DuckDB.
    "q_t25_perceptron_train" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("y", expr(
        "CASE WHEN size(filter(split(coalesce(text, ''), ' '), x -> x != '')) >= 40 " +
          "THEN 1 ELSE -1 END"))
      TextAnalysis.perceptronTrain(d, "doc_id", "text", "y",
          dim = 64, iterations = 3, family = graft.functions.HashFamily.Md5)
        .orderBy("dim")
    }),

    // Gopher-style quality RULE CARD (Rae et al. 2021 §A1.1): per-doc
    // measurements + one integer flag per rule + conjunctive verdict —
    // the auditable per-rule form, vs q_t2's single scalar. Integer
    // cross-multiplied thresholds, one scan, no shuffle.
    "q_t24_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRuleCard(docs(s, dir), "doc_id", "text",
          minWords = 50, maxWords = 100000)
        .orderBy("doc_id")),

    // Gopher REPETITION card (Rae et al. Table A1's other half): synth
    // documents are single-line, so each doc is given line/paragraph
    // structure IN-QUERY by a deterministic construction that plants
    // repeated lines (doc_id % 3 = 0), repeated intra-paragraph lines
    // (doc_id % 4 >= 2) and repeated whole paragraphs (doc_id % 5 = 0) at
    // doc-varying rates; the n-gram metrics additionally see the natural
    // repetition of the synth vocabulary. The oracle replays the planting
    // verbatim and recomputes all nine fractions relationally (gram
    // counts via GROUP BY, coverage via an interval join) — a drift in
    // the sort/run-length/coverage machinery fails the hash.
    // Order by sorting the CHEAP planted frame and keeping the row-local
    // card above it (1:1 projections preserve partition-local order and
    // the range partitioning, so the output files are globally
    // doc_id-ordered exactly as a post-card orderBy would be). Sorting
    // AFTER the card would range-SAMPLE the card itself — executing the
    // whole per-row sort/run-length battery twice — and the sf parquet is
    // a single row group, so without the explicit repartition the entire
    // CPU-dense card runs in ONE task (48 s -> ~2 s at sf0.1; the
    // explicit partition count also keeps AQE from coalescing the tiny
    // sorted shuffle back to one partition). At real scale the scan
    // arrives pre-split and the card rides it with zero exchanges — that
    // shape is what the q_t28 ScaleBench leg measures.
    "q_t28_repetition_card" -> ((s, dir) =>
      TextAnalysis.gopherRepetitionCard(
          withPlantedParagraphs(docs(s, dir))
            .repartitionByRange(32, col("doc_id"))
            .sortWithinPartitions("doc_id"),
          "doc_id", "ptext")),

    // Encoding repair (ftfy-shape mojibake fix): per-variant injection of
    // cp1252-mojibake IN-QUERY (doc_id % 4: clean / accents a,e / curly
    // apostrophe on s / both — the corrupted forms come from the SAME
    // derived table the repairer inverts), then detect + repair + residual
    // re-detect. PLANTED-CONSTRUCTION oracle: DuckDB never replays the
    // repair chain — it computes the EXPECTED outputs analytically from
    // the construction (n_bad from original char counts, fixed_md5 from a
    // direct a→á/e→é/s→’ substitution, fixed_chars = length(t) since
    // every repair is 1-char↔1-char) so a shared table/ordering bug in
    // the operator fails the hash instead of cancelling out. All
    // row-local string expressions, one codegen span, zero exchanges
    // before the output sort.
    // r17 perf: spread the thin (id, text) input before the repair
    // battery — the kernel's OUTPUT still never shuffles (the sort is
    // above a 1:1 projection); only the scan's single split made it
    // serial (1.0 s one-task job at sf0.1; guide §2.5)
    "q_t29_mojibake_repair" -> ((s, dir) =>
      mojibakeRepairQuery(Tables.spread(docs(s, dir), col("doc_id")))
        .orderBy("doc_id")),

    // HTML boilerplate extraction (trafilatura/Arc90 shape): raw web text
    // arrives as markup; each doc is wrapped IN-QUERY in a deterministic
    // page skeleton — head/title, style + script (with a '<' inside the
    // script body), link-only nav and footer, per-variant ad / mixed
    // "related reading" blocks — and extractMainText must strip
    // script/style, split on block tags, and keep exactly the blocks with
    // >= 25 chars of text at <= 30% link density. The oracle replays the
    // planting and the strip/density arithmetic in DuckDB byte-for-byte.
    // r17 perf: same spread-before-kernel as q_t29 (the block-split +
    // link-density battery ran in one task on the single-split scan)
    "q_t26_html_extract" -> ((s, dir) =>
      TextAnalysis.extractMainText(
          Tables.spread(withPlantedHtml(docs(s, dir)), col("doc_id")),
          "doc_id", "html", minChars = 25, maxLinkPct = 30)
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          length(col("extracted")).cast("long").as("extracted_chars"),
          substring(col("extracted"), 1, 80).as("preview"))
        .orderBy("doc_id")),

    // A14 — heavy hitters: vocabulary words covering >= 1% of all token
    // occurrences (tokenizer/stopword design input). Misra-Gries
    // candidate pass per partition (bounded memory, provably no false
    // negatives) + exact candidate-only verification — the output is
    // EXACT, so the oracle is a plain HAVING over the full count; only
    // candidate keys ever shuffle.
    "q_a14_heavy_hitters" -> ((s, dir) =>
      HeavyHitters.heavyHitters(
          docs(s, dir).selectExpr(s"explode($wordsExpr) AS word"),
          "word", theta = 0.01)
        .orderBy(col("cnt").desc, col("word"))),

    // BM25 retrieval scoring of the corpus against a fixed query —
    // ranking passages for topic-targeted training slices. The per-doc tf
    // vector is computed row-locally (corpus never exploded, never
    // shuffled); df/stats join back by broadcast. One query term is
    // absent from the corpus on purpose (df = 0 path). Scores sum as
    // 9-dp scaled longs so the result is bit-stable under partitioning.
    "q_t11_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Score(docs(s, dir), "doc_id", "text",
          Seq("spark", "window", "query", "zzyzx"))
        .orderBy(col("bm25").desc, col("doc_id"))),

    // Hybrid-retrieval fusion: reciprocal-rank fusion (RRF, k=60) of the
    // BM25 ranking and the query-vector cosine ranking, both cut to their
    // top-100 before fusing. Ranks come from the 6-dp-rounded scores with
    // id tiebreaks, so both engines rank identically; the 1/(60+r) terms
    // are 9-dp-rounded before the sum (two bit-identical doubles add
    // bit-identically). At scale each ranker's top-K comes from its own
    // index probe (q_t11's scan / q_v7's IVF) — the fusion itself touches
    // only 2K rows, which is the point of RRF.
    "q_t13_rrf_fusion" -> ((s, dir) => {
      // Each leg's top-100 comes from orderBy + limit — planned as
      // TakeOrderedAndProject, so partitions x 100 candidate rows move,
      // never the scored corpus (the old row_number-then-filter form
      // single-partitioned the FULL score frame to rank it: a
      // driver-killer task at 100x scale). Ranks are then assigned on the
      // <= 100-row slice, where the single-group window is bounded by the
      // limit by construction (a constant partitionBy would not help: the
      // optimizer folds foldable partition keys away). PlanSpec asserts
      // the TakeOrdered-below-Window shape.
      def rankSlice(ord: Seq[Column]) = row_number().over(
        Window.orderBy(ord: _*))
      val bmOrd = Seq(col("bm25").desc, col("doc_id"))
      val bm = TextAnalysis.bm25Score(docs(s, dir), "doc_id", "text",
          Seq("spark", "window", "query", "zzyzx"))
        .orderBy(bmOrd: _*).limit(100)
        .withColumn("r_bm", rankSlice(bmOrd))
      val e = Tables.read(s, dir, "embeddings")
      val query = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")))
      import graft.functions.VectorExprs
      val vecOrd = Seq(col("cosine").desc, col("vec_id"))
      val vec = e.filter(col("vec_id") =!= 0)
        .crossJoin(query)
        .select(col("vec_id"),
          round(VectorExprs.dot("embedding", "q_emb") /
            (VectorExprs.l2Norm("embedding") * VectorExprs.l2Norm("q_emb")), 6)
            .as("cosine"))
        .orderBy(vecOrd: _*).limit(100)
        .withColumn("r_vec", rankSlice(vecOrd))
      bm.select(col("doc_id").as("id"), col("r_bm"))
        .join(vec.select(col("vec_id").as("id"), col("r_vec")),
          Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(round(lit(1.0) / (col("r_bm") + 60), 9), lit(0.0)) +
            coalesce(round(lit(1.0) / (col("r_vec") + 60), 9), lit(0.0)))
        .orderBy(col("rrf").desc, col("id"))
        .limit(20)
        .select("id", "r_bm", "r_vec", "rrf")
    }),

    // Per-document top-3 TF-IDF terms (keyword extraction / topic labels).
    "q_t12_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")),

    // Unicode-normalized dedup: accent/NFD variants of a document collapse
    // onto one normalized key (strip_accents ∘ nfc_normalize ∘ lower —
    // custom codegen expressions; Spark has neither builtin). Variants are
    // planted in-query: every third doc re-enters with vowels swapped for
    // precomposed accented ones, every seventh with a combining acute
    // appended after each 'e' (an NFD-style form) — raw text dedup sees
    // three distinct documents, the normalized key sees one.
    "q_t14_normalized_dedup" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val accented = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          translate(col("text"), "aeiou", "áéíóú").as("text"))
      val nfd = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 600000L).as("doc_id"),
          regexp_replace(col("text"), "e", "é").as("text"))
      base.unionByName(accented).unionByName(nfd)
        .withColumn("norm_key",
          expr("strip_accents(nfc_normalize(lower(text)))"))
        .groupBy("norm_key")
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
        .filter(col("n_copies") > 1)
        .select("keeper", "n_copies")
        .orderBy("keeper")
    }),

    // Exact dedup by grouping key: keeper = min id, with group size.
    "q_d1_dedup_exact" -> ((s, dir) =>
      docs(s, dir)
        .groupBy("lang", "source")
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("group_size"))
        .orderBy("lang", "source")),

    // Normalized-text dedup: lower/trim/collapse-whitespace before grouping
    // (catches trivial near-duplicates exactly).
    "q_d2_dedup_normalized" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
        .groupBy("norm")
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
        .select("keeper_doc_id", "n_copies")
        .orderBy("keeper_doc_id")),

    // Corpus-mix monitoring: smoothed KL divergence of every language
    // slice's token distribution against the English slice. The number a
    // curation pipeline watches across crawl snapshots for drift.
    "q_t15_domain_drift" -> ((s, dir) =>
      TextAnalysis.domainDrift(docs(s, dir), "text", "lang", "en")
        .withColumnRenamed("slice", "lang")
        .orderBy("lang")),

    // Statistical-LM perplexity filter (the CCNet shape): a smoothed
    // bigram model trained on a deterministic 25% slice scores every doc's
    // mean negative log-likelihood. The model tables are vocabulary-sized
    // (AQE broadcasts them); the corpus is scanned once for training
    // counts and once for scoring — never self-joined.
    "q_t16_lm_perplexity" -> ((s, dir) =>
      TextAnalysis.lmPerplexity(docs(s, dir), "doc_id", "text",
          col("doc_id") % 4 === 0)
        .orderBy("doc_id")),

    // Classifier-based quality filtering (the fasttext shape): hashed
    // token buckets -> fixed-point weights -> per-doc mean margin, all
    // inside one row-local codegen'd fold — the corpus never shuffles.
    // md5 family so the oracle replays every weight bit-for-bit.
    "q_t17_linear_classifier" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(docs(s, dir), "doc_id", "text",
          dim = 1024, seed = "graft-qc-1",
          family = graft.functions.HashFamily.Md5)
        .orderBy("doc_id")),

    // Classifier CALIBRATION card — the artifact that picks a quality-
    // filter threshold: sweep a fixed grid of margin floors, count the
    // confusion quadrant against a weak label (doc length >= 40 words,
    // the q_t25 labeling rule) and report exact integer ppm precision/
    // recall. Margins ride the scan (q_t17's scorer); the sweep is a
    // 5-row explode + one group-by-5 — never a per-threshold rescan.
    "q_t33_classifier_calibration" -> ((s, dir) => {
      val grid = array(Seq(-20000L, -10000L, 0L, 10000L, 20000L).map(lit): _*)
      TextAnalysis.hashedLinearScore(docs(s, dir), "doc_id", "text",
          dim = 1024, seed = "graft-qc-1",
          family = graft.functions.HashFamily.Md5)
        .select(col("n_tokens"),
          expr("CAST(round(margin * 1000000) AS BIGINT)").as("m6"))
        .withColumn("y", (col("n_tokens") >= 40).cast("int"))
        .select(col("m6"), col("y"), explode(grid).as("threshold6"))
        .groupBy("threshold6")
        .agg(
          sum(when(col("y") === 1 && col("m6") >= col("threshold6"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("y") === 0 && col("m6") >= col("threshold6"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("y") === 1 && col("m6") < col("threshold6"), 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("y") === 0 && col("m6") < col("threshold6"), 1L)
            .otherwise(0L)).as("tn"))
        .withColumn("precision_ppm",
          when(col("tp") + col("fp") > 0,
            expr("(tp * 1000000) div (tp + fp)")).otherwise(lit(0L)))
        .withColumn("recall_ppm",
          when(col("tp") + col("fn") > 0,
            expr("(tp * 1000000) div (tp + fn)")).otherwise(lit(0L)))
        .orderBy("threshold6")
    }),

    // BPE tokenizer TRAINING on the corpus: 6 merges learned from the
    // word-frequency table (one corpus pass; iterations vocabulary-sized;
    // one argmax row per iteration reaches the driver). The oracle
    // replays all 6 unrolled iterations including the string-level merge
    // application — a single wrong count or tie-break fails the hash.
    "q_t18_bpe_train" -> ((s, dir) =>
      Tokenizer.bpeTrainFrame(docs(s, dir), "text", numMerges = 6)
        .orderBy("step")),

    // ENCODE under the learned tokenizer: per-doc real subword counts —
    // the merge chain compiles into literal replaces riding the scan
    // (row-local, zero shuffle). Training reruns in-query so the pair is
    // self-contained; at ingest the merge table would be a persisted
    // artifact.
    "q_t19_bpe_encode" -> ((s, dir) => {
      val merges = Tokenizer.bpeTrainLocal(docs(s, dir), "text", numMerges = 6)
      Tokenizer.bpeEncodeCounts(docs(s, dir), "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Tokenizer FERTILITY report (the tokenizer-eval artifact a corpus
    // build reviews before committing to a vocab): per-language doc/word/
    // token/char mass under the TRAINED BPE tokenizer, tokens-per-word
    // (fertility — high = the vocab fragments that language) and
    // chars-per-token (compression). Ratios are one double division of
    // exact integer sums, 6-dp rounded — deterministic in both engines.
    // Training reruns in-query (6 merges, the q_t18/q_t19 contract); at
    // ingest the merge table is a persisted artifact and this is one scan.
    "q_t27_tokenizer_fertility" -> ((s, dir) => {
      val merges = Tokenizer.bpeTrainLocal(docs(s, dir), "text", numMerges = 6)
      val enc = Tokenizer.bpeEncodeCounts(docs(s, dir), "doc_id", "text", merges)
      docs(s, dir).select(col("doc_id"), col("lang"),
          length(coalesce(col("text"), lit(""))).cast("long").as("chars"))
        .join(enc, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
          sum("n_tokens").as("n_tokens"), sum("chars").as("n_chars"))
        .withColumn("fertility",
          when(col("n_words") > 0, round(col("n_tokens") / col("n_words"), 6))
            .otherwise(lit(0d)))
        .withColumn("chars_per_token",
          when(col("n_tokens") > 0, round(col("n_chars") / col("n_tokens"), 6))
            .otherwise(lit(0d)))
        .orderBy("lang")
    }),

    // Unigram-LM tokenizer TRAINING (r15 VERDICT #7; Kudo 2018): seed
    // substrings → 2 hard-EM rounds (Viterbi re-estimation under the
    // integer ilog likelihoods) → usage pruning → final prune to 120
    // pieces. One corpus pass + driver folds (the bpeTrainLocal
    // discipline). The oracle replays EVERY round analytically — seeding,
    // both Viterbi DPs (list-state recursive CTEs), both usage backtraces,
    // both prunes — so one wrong count, score, or tie-break anywhere in
    // training fails the hash.
    "q_t41_unigram_train" -> ((s, dir) =>
      Tokenizer.unigramTrainFrame(docs(s, dir), "text", vocabSize = UniVocab,
          maxPieceLen = UniMaxLen, rounds = UniRounds)
        .orderBy("token_id")),

    // Unigram token IDS per word (the q_t37 surface for the unigram
    // tokenizer): every distinct corpus word's Viterbi segmentation as
    // (word, pos, token_id, token) under the q_t41 artifact's id
    // assignment — training + segmentation + id mapping all under one
    // hash. Encode is the codegen'd Viterbi kernel; the id table
    // broadcasts (vocabulary-sized).
    "q_t43_unigram_token_ids" -> ((s, dir) => {
      import s.implicits._
      val (model, artifact) = Tokenizer.unigramTrainLocal(docs(s, dir), "text",
        vocabSize = UniVocab, maxPieceLen = UniMaxLen, rounds = UniRounds)
      val ids = broadcast(artifact.toDF("token_id", "piece", "usage"))
      Tokenizer.wordFreq(docs(s, dir), "text")
        .select(col("word"),
          posexplode(graft.functions.UnigramExprs
            .encodeTokens(col("word"), model.codec))
            .as(Seq("pos", "token")))
        .join(ids, col("token") === col("piece"))
        .select(col("word"), col("pos"),
          col("token_id").cast("long").as("token_id"), col("token"))
        .orderBy("word", "pos")
    }),

    // BPE vs unigram FERTILITY on the SAME corpus — the tokenizer-eval
    // comparison the q_t27 card could not make while only BPE existed:
    // per-language token mass and tokens-per-word under BOTH trained
    // tokenizers (BPE: 6 merges, the q_t18/q_t19 contract; unigram: the
    // q_t41 contract), one row per language. Encodes are row-local
    // single-node expressions; training reruns in-query so the pair is
    // self-contained.
    "q_t42_unigram_fertility" -> ((s, dir) => {
      val merges = Tokenizer.bpeTrainLocal(docs(s, dir), "text", numMerges = 6)
      val (model, _) = Tokenizer.unigramTrainLocal(docs(s, dir), "text",
        vocabSize = UniVocab, maxPieceLen = UniMaxLen, rounds = UniRounds)
      val bpe = Tokenizer.bpeEncodeCounts(docs(s, dir), "doc_id", "text", merges)
        .withColumnRenamed("n_tokens", "n_tokens_bpe")
      val uni = Tokenizer.unigramEncodeCounts(docs(s, dir), "doc_id", "text", model)
        .select(col("doc_id"), col("n_tokens").as("n_tokens_uni"))
      docs(s, dir).select("doc_id", "lang")
        .join(bpe, "doc_id").join(uni, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
          sum("n_tokens_bpe").as("n_tokens_bpe"),
          sum("n_tokens_uni").as("n_tokens_uni"))
        .withColumn("fertility_bpe",
          when(col("n_words") > 0, round(col("n_tokens_bpe") / col("n_words"), 6))
            .otherwise(lit(0d)))
        .withColumn("fertility_uni",
          when(col("n_words") > 0, round(col("n_tokens_uni") / col("n_words"), 6))
            .otherwise(lit(0d)))
        .orderBy("lang")
    }),

    // Tokenizer-AWARE sequence packing: the q_t6 bin arithmetic driven by
    // REAL subword counts from the trained BPE (not whitespace tokens) —
    // the packing a trainer actually runs, since its context budget is in
    // tokenizer tokens. Composition receipt for bpeEncodeCounts ∘
    // packSequences: encode rides the scan (row-local literal-replace
    // chain), packing is one window per language partition. Training
    // reruns in-query (6 merges, the q_t18/q_t19 contract).
    "q_t30_pack_bpe" -> ((s, dir) => {
      val merges = Tokenizer.bpeTrainLocal(docs(s, dir), "text", numMerges = 6)
      val enc = Tokenizer.bpeEncodeCounts(docs(s, dir), "doc_id", "text", merges)
      Pipeline.packSequences(
          docs(s, dir).select(col("doc_id"), col("lang")).join(enc, "doc_id"),
          "lang", "doc_id", "n_tokens", budgetTokens = 512L)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_packed"))
        .orderBy("lang", "bin")
    }),

    // BPE encode kernel at a PRODUCTION-SIZED vocabulary (>= 1k merges,
    // VERDICT r11 #1 done-criterion): the merge table is CONSTRUCTED
    // deterministically in both engines — every distinct char pair
    // ranked by (weighted freq desc, lhs, rhs), plus all 32x32 pairwise
    // compositions of the top-32 merged symbols (chained multi-char
    // merges; the synthetic corpus's ~31-word vocabulary exhausts real
    // TRAINING at ~90 merges, so scale comes from construction) — then
    // every distinct word is encoded by the native kernel (merge table
    // as data, ONE expression node; the plan does not grow with the
    // vocab). The oracle re-derives the same table and replays ALL
    // steps sequentially through a 1280-iteration recursive CTE of
    // literal replaces — a kernel that mis-orders interleaved merges,
    // skips a re-formed pair, or breaks the non-overlapping scan
    // semantics fails the hash on tokens_str, not just counts.
    "q_t35_bpe_kernel_1k" -> ((s, dir) => {
      val all = constructed1kMerges(s, dir)
      val codec = Tokenizer.codecOf(all)
      Tokenizer.wordFreq(docs(s, dir), "text")
        .select(col("word"),
          graft.functions.BpeExprs.encodeTokens(col("word"), codec).as("toks"))
        .select(col("word"), size(col("toks")).cast("long").as("n_tokens"),
          array_join(col("toks"), " ").as("tokens_str"))
        .orderBy("word")
    }),

    // Tokenizer-aware packing UNDER THE 1k+-MERGE VOCABULARY — the q_t30
    // artifact with the toy-vocab cap removed (the r11 finding was that
    // fertility/packing/manifest only held at 6 merges): same constructed
    // 1106-merge table as q_t35, per-doc REAL token counts from the
    // native kernel (plan vocab-independent), then the q_t6 running-sum
    // bin replay. The oracle re-derives the table AND re-encodes every
    // word through the 1280-step recursive replay before packing.
    "q_t36_pack_bpe1k" -> ((s, dir) => {
      val all = constructed1kMerges(s, dir)
      val enc = Tokenizer.bpeEncodeCounts(docs(s, dir), "doc_id", "text", all)
      Pipeline.packSequences(
          docs(s, dir).select(col("doc_id"), col("lang")).join(enc, "doc_id"),
          "lang", "doc_id", "n_tokens", budgetTokens = 512L)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_packed"))
        .orderBy("lang", "bin")
    }),

    // TOKEN IDS under the 1k+-merge vocabulary — the artifact a trainer
    // actually consumes: vocab = base code points (UTF-8 byte order) then
    // merge outputs in step order, first occurrence keeping the id when
    // two merges build the same symbol by different splits; every word's
    // kernel tokens join the broadcast vocab to (word, pos, token_id).
    // An id gap, a mis-ordered vocab, or a token the vocab cannot cover
    // drops rows and fails the hash.
    "q_t37_bpe_token_ids" -> ((s, dir) => {
      val all = constructed1kMerges(s, dir)
      val codec = Tokenizer.codecOf(all)
      val vf = broadcast(Tokenizer.vocabFrame(docs(s, dir), "text", all))
      Tokenizer.wordFreq(docs(s, dir), "text")
        .select(col("word"),
          posexplode(graft.functions.BpeExprs.encodeTokens(col("word"), codec))
            .as(Seq("pos", "token")))
        .join(vf, col("token") === col("symbol"))
        .select(col("word"), col("pos"),
          col("token_id").cast("long").as("token_id"), col("token"))
        .orderBy("word", "pos")
    }),

    // BYTE-LEVEL BPE (r12 VERDICT #7): the production GPT-style mode —
    // initial symbols are the GPT-2 byte→unicode remap of the word's
    // UTF-8 bytes, so NO text is ever OOV. The corpus is ASCII at test
    // scale, so multibyte words are PLANTED identically in both engines;
    // on them byte mode and code-point mode provably differ (n_tokens >
    // n_chars is impossible in code-point mode — merges only shrink).
    // The merge table (64 ranked byte-symbol pairs + 8×8 chained
    // compositions) is derived deterministically in both engines; the
    // oracle rebuilds the remap FROM BYTE ARITHMETIC (hex decomposition
    // of encode(word)) and replays all 128 steps sequentially.
    "q_t38_bpe_byte_level" -> ((s, dir) => {
      import s.implicits._
      val wf = Tokenizer.wordFreq(docs(s, dir), "text")
        .unionByName(byteLevelPlants.toDF("word", "freq"))
      val merges = constructedByteMerges(
        wf.collect().map(r => (r.getString(0), r.getLong(1))))
      val codec = Tokenizer.codecOf(merges, byteLevel = true)
      wf.select(col("word"),
          graft.functions.BpeExprs.encodeTokens(col("word"), codec).as("toks"))
        .select(col("word"),
          length(col("word")).cast("long").as("n_chars"),
          size(col("toks")).cast("long").as("n_tokens"),
          array_join(col("toks"), " ").as("tokens_str"))
        .orderBy("word")
    }),

    // The PRETRAINING ARTIFACT: whole-document token-ID sequences under
    // the 1k+-merge vocabulary — what a training run actually reads. One
    // codegen'd expression node does split → per-word BPE → vocab id
    // lookup row-locally (BpeVocab rides the plan as data next to the
    // codec), so the build pays ZERO exchanges; the explode → vocab-join
    // → regroup alternative shuffles every token in the corpus. The
    // oracle re-derives table AND vocab, replays the recursive encode,
    // and reassembles each document's ids in (word, token) order — an id
    // off by one position anywhere in any document fails the hash.
    "q_t39_bpe_doc_token_ids" -> ((s, dir) => {
      val all = constructed1kMerges(s, dir)
      val codec = Tokenizer.codecOf(all)
      val vocabSyms = Tokenizer.vocabFrame(docs(s, dir), "text", all)
        .orderBy("token_id").collect().map(_.getString(1))
      val vocab = new graft.functions.BpeVocab(vocabSyms)
      // r17 perf: spread before the per-doc BPE encode kernel (0.88 s
      // single-task job on the single-split sf parquet — guide §2.5);
      // the kernel still pays zero exchanges of its TOKEN output
      Tables.spread(docs(s, dir).select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"), graft.functions.BpeExprs.encodeDocIds(
          coalesce(col("text"), lit("")), codec, vocab).as("ids"))
        .select(col("doc_id"), size(col("ids")).cast("long").as("n_tokens"),
          expr("array_join(transform(ids, x -> CAST(x AS STRING)), ' ')")
            .as("ids_str"))
        .filter(col("n_tokens") > 0)
        .orderBy("doc_id")
    }),

    // Token-STREAM packing: the GPT-style contiguous sample layout —
    // per language, documents concatenate into one id stream chunked at
    // 512 ids, docs SPLITTING across chunk boundaries (q_t36 packs
    // doc-atomic budget bins; this is the other production layout). Per-
    // doc counts ride the scan (the q_t39 kernel), the stream offset is
    // one per-lang window, and the chunk fan-out is a row-local explode
    // over each doc's chunk range — so the only exchange is the per-lang
    // window, id-count-independent. Output: per chunk, the id count
    // (512 except each stream's tail), docs touching it, docs STARTING
    // in it — the manifest a dataloader needs.
    "q_t40_pack_token_stream" -> ((s, dir) => {
      val all = constructed1kMerges(s, dir)
      val codec = Tokenizer.codecOf(all)
      val vocabSyms = Tokenizer.vocabFrame(docs(s, dir), "text", all)
        .orderBy("token_id").collect().map(_.getString(1))
      val vocab = new graft.functions.BpeVocab(vocabSyms)
      val b = 512L
      // r17 perf: same spread-before-BPE-kernel as q_t39 (guide §2.5);
      // the per-lang window below re-keys anyway, so the extra exchange
      // carries only (lang, doc_id, n) row counts
      val counted = Tables.spread(
          docs(s, dir).select("lang", "doc_id", "text"), col("doc_id"))
        .select(col("lang"), col("doc_id"),
          size(graft.functions.BpeExprs.encodeDocIds(
            coalesce(col("text"), lit("")), codec, vocab))
            .cast("long").as("n"))
        .filter(col("n") > 0)
      val w = Window.partitionBy("lang").orderBy("doc_id")
      counted
        .withColumn("off", sum(col("n")).over(w) - col("n"))
        .withColumn("chunk", explode(expr(
          s"sequence(off div $b, (off + n - 1) div $b)")))
        .withColumn("ids_here",
          least(lit(b) * (col("chunk") + 1), col("off") + col("n")) -
            greatest(lit(b) * col("chunk"), col("off")))
        .groupBy("lang", "chunk")
        .agg(sum("ids_here").as("n_ids"), count(lit(1)).as("n_docs"),
          sum((col("off") >= col("chunk") * b).cast("long")).as("n_doc_starts"))
        .orderBy("lang", "chunk")
    }),

    // Vocabulary statistics per language slice — the corpus profile that
    // drives tokenizer/dedup planning: token mass, distinct words and
    // 3-gram shingles (exact twins + bounded-memory HLL++ estimates with
    // the q_a10 in-plan 8%-gate discipline — a drifting sketch fails the
    // driver hash), and type/token ratio (the Heaps-law vocabulary-growth
    // signal, 6-dp from exact integers). At 100 TB the exact twins drop
    // and the mergeable sketches ARE the product; the gates are the
    // regression harness that keeps them honest at test scale.
    "q_t20_vocab_growth" -> ((s, dir) => {
      // r17 perf: spread before the word/shingle explosions — both
      // subtrees otherwise explode the whole corpus in ONE task on the
      // single-row-group sf parquet (0.83 s single-task job measured);
      // the partial aggregation below stays map-side (guide §2.5)
      val spreadDocs = Tables.spread(
        docs(s, dir).select("doc_id", "lang", "text"), col("doc_id"))
      val words = spreadDocs.select(col("lang"),
        explode(expr(wordsExpr)).as("w"))
      val tris = spreadDocs.select(col("lang"),
        explode(Dedup.shingles("text", 3)).as("g"))
      // r18 perf (guide §2.3 — shuffle fewer bytes): countDistinct beside
      // approx_count_distinct makes the single-distinct rewrite key its
      // first aggregate by (lang, w) — and the HLL partial buffer
      // (~410 longs at rsd 0.02) then travels the exchange PER DISTINCT
      // WORD/GRAM (~3.3 KB each; the r17 plan showed 400+-column Exchange
      // rows). Pre-aggregating to distinct pairs shuffles 3 thin columns
      // and builds the sketch once per LANG in the second aggregate.
      // Results are identical: n_tokens = sum of pair counts, exact_* =
      // non-null pair count, and HLL++ register state is duplicate-
      // insensitive (max per register over hashed values), so the
      // estimate over the deduped frame is the same bits.
      val wAgg = words.groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .groupBy("lang").agg(
          sum("c").as("n_tokens"),
          count(col("w")).as("exact_words"),
          approx_count_distinct(col("w"), 0.02).as("aw"))
      val tAgg = tris.distinct()
        .groupBy("lang").agg(
          count(col("g")).as("exact_trigrams"),
          approx_count_distinct(col("g"), 0.02).as("ag"))
      wAgg.join(tAgg, "lang")
        .select(col("lang"), col("n_tokens"), col("exact_words"),
          col("exact_trigrams"),
          round(col("exact_words").cast("double") / col("n_tokens"), 6)
            .as("ttr"),
          (abs(col("aw") - col("exact_words"))
            <= col("exact_words") * 0.08).cast("int").as("words_ok"),
          (abs(col("ag") - col("exact_trigrams"))
            <= col("exact_trigrams") * 0.08).cast("int").as("trigrams_ok"))
        .orderBy("lang")
    }),

    // Character-entropy quality signal (gibberish/compressibility): fully
    // row-local, fixed-point term summation so the value is independent
    // of distinct-char enumeration order and engine-replayable.
    // Same plan reshape as q_t28: sort the CHEAP scan and keep the
    // per-char entropy projection above it (1:1 projection preserves the
    // range partitioning and partition-local order, so output files stay
    // globally doc_id-ordered). Sorting AFTER would range-SAMPLE the
    // entropy itself (double execution) and the single-row-group sf
    // parquet would run the whole per-char battery in ONE task
    // (4.8 s -> sub-second at sf0.1).
    "q_t21_char_entropy" -> ((s, dir) =>
      docs(s, dir)
        .repartitionByRange(32, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .select(col("doc_id"),
          expr("CAST(length(regexp_replace(text, ' ', '')) AS INT)")
            .as("n_chars_sig"),
          TextAnalysis.charEntropy("text").as("entropy"))),

    // DATASET-CARD composition report: per language — doc/token mass,
    // exact-duplicate rate (normalized-text groups of size >= 2), mean
    // lexical quality (type/token ratio, DECIMAL-accumulated 6-dp terms
    // so the mean is order-independent), and median tokens per doc by
    // EXACT nearest-rank. The numbers a pipeline publishes with a corpus
    // release; every input signal is an already-oracle-checked operator,
    // composed here into one artifact. Three lang-keyed aggregates, one
    // join — group-cardinality-sized frames after the first agg.
    "q_c1_dataset_card" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
        expr(s"size($wordsExpr)").as("n_tok"),
        expr(s"""CASE WHEN size($wordsExpr) = 0 THEN CAST(0.0 AS DOUBLE)
                |ELSE round(CAST(size(array_distinct($wordsExpr)) AS DOUBLE) / size($wordsExpr), 6)
                |END""".stripMargin).as("ttr6"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
      val mass = base.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        round(sum(col("ttr6").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_ttr"))
      val dups = base.groupBy("lang", "norm")
        .agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_docs"))
      val w = Window.partitionBy("lang")
      val med = base
        .withColumn("rk", row_number().over(w.orderBy(col("n_tok"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("rk") === ceil(col("n") * 0.5).cast("int"))
        .select(col("lang"), col("n_tok").as("median_tokens"))
      mass.join(dups, "lang").join(med, "lang")
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          round(col("dup_docs").cast("double") / col("n_docs"), 6)
            .as("exact_dup_rate"),
          col("mean_ttr"), col("median_tokens"))
        .orderBy("lang")
    }),

    // Per-language length winsorization by EXACT nearest-rank
    // percentiles (integer rank arithmetic, no interpolation): the
    // outlier-doc triage step, summarized per (lang, status).
    "q_q4_length_winsorize" -> ((s, dir) =>
      Quality.winsorizeFlags(
          docs(s, dir).select(col("lang"), col("doc_id"), col("n_chars")),
          "lang", "n_chars", pLo = 0.05, pHi = 0.95)
        .groupBy("lang", "status")
        .agg(count(lit(1)).as("n"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang", "status"))
  ,

    // Sliding-window context chunking (30-token windows, stride 20):
    // row-local explode, integer-exact start arithmetic — the training-
    // sample / RAG-index prep step.
    "q_t22_chunking" -> ((s, dir) =>
      Pipeline.chunkDocuments(docs(s, dir), "doc_id", "text",
          chunkTokens = 30, strideTokens = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_idx")),

    // Chunk retrieval over hashed bag-of-words vectors (md5 oracle
    // family): exact cosine top-10 for doc 42's first chunk — the
    // RAG-index composition's exact-scoring leg.
    "q_t23_chunk_retrieval" -> ((s, dir) =>
      TextAnalysis.chunkRetrieval(docs(s, dir), "doc_id", "text",
          chunkTokens = 30, strideTokens = 20, dims = 64,
          queryDocId = 42L, queryChunkIdx = 0, k = 10,
          family = graft.functions.HashFamily.Md5)
        .withColumnRenamed("id", "doc_id")
        .withColumn("cosine", round(col("cosine"), 6)))
  )

  /** The deterministic 1k+-merge table q_t35/q_t36 run the kernel under:
    * every distinct char pair ranked by (weighted freq desc, lhs, rhs) —
    * capped at 256 — plus all 32×32 pairwise compositions of the top-32
    * merged symbols (chained multi-char merges). 82 + 1024 = 1106 merges
    * on the synthetic corpus, whose ~31-word vocabulary exhausts REAL
    * training at ~90 merges. [[bpe1kOracleStages]] re-derives the same
    * table in DuckDB, step for step. */
  private[operators] def constructed1kMerges(s: SparkSession, dir: String): Seq[Tokenizer.Merge] = {
    val wf = Tokenizer.wordFreq(docs(s, dir), "text")
    val base = wf.where(expr("length(word) >= 2"))
      .select(col("freq"), explode(expr(
        """transform(sequence(1, length(word) - 1),
          |  i -> struct(substring(word, i, 1) AS l,
          |              substring(word, i + 1, 1) AS r))""".stripMargin)).as("p"))
      .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
      .agg(sum("freq").as("c"))
      .orderBy(col("c").desc, col("lhs"), col("rhs"))
      .limit(256)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    val syms = base.take(32).map { case (l, r) => l + r }
    val chain = for { i <- syms.indices; j <- syms.indices }
      yield (syms(i), syms(j))
    val all = (base.toSeq ++ chain).zipWithIndex
      .map { case ((l, r), k) => Tokenizer.Merge(k + 1, l, r, 1L) }
    require(all.length >= 1000,
      s"constructed merge table too small: ${all.length}")
    all
  }

  /** Multibyte words planted into q_t38's word-frequency table (the
    * synthetic corpus is pure ASCII, so byte-vs-code-point divergence
    * needs them): accented Latin (2-byte UTF-8, printable-remap bytes),
    * an em-dash and CJK (3-byte, exercising the chr(256+n) shifted-remap
    * branch). Values replayed verbatim in the oracle's VALUES list. */
  private val byteLevelPlants: Seq[(String, Long)] = Seq(
    ("héllo", 50L), ("naïve", 40L), ("wörld—x", 30L),
    ("日本語", 20L), ("résumé", 10L))

  /** q_t38's deterministic byte-level merge table: every adjacent pair of
    * BYTE symbols ([[graft.functions.ByteSymbols]] remap) ranked by
    * (weighted freq desc, lhs, rhs in UTF-8 byte order) capped at 64,
    * plus all 8×8 pairwise compositions of the top-8 merged symbols.
    * Driver-side over the collected word-freq table (vocabulary-sized,
    * the training-artifact scale — the bpeTrainLocal discipline). */
  private def constructedByteMerges(wf: Array[(String, Long)]): Seq[Tokenizer.Merge] = {
    import org.apache.spark.unsafe.types.UTF8String
    val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
    wf.foreach { case (w, f) =>
      val a = graft.functions.ByteSymbols.of(w)
      var i = 0
      while (i < a.length - 1) {
        val k = (a(i), a(i + 1))
        pc.update(k, pc.getOrElse(k, 0L) + f)
        i += 1
      }
    }
    def u8lt(a: String, b: String) =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val base = pc.toSeq.sortWith { case (((la, ra), ca), ((lb, rb), cb)) =>
      if (ca != cb) ca > cb
      else if (la != lb) u8lt(la, lb)
      else u8lt(ra, rb)
    }.take(64).map(_._1)
    val syms = base.take(8).map { case (l, r) => l + r }
    val chain = for { i <- syms.indices; j <- syms.indices }
      yield (syms(i), syms(j))
    (base ++ chain).zipWithIndex
      .map { case ((l, r), k) => Tokenizer.Merge(k + 1, l, r, 1L) }
  }

  /** DuckDB twin of [[constructedByteMerges]] + the byte-level encode
    * replay: the remap table from pure byte arithmetic, per-word byte
    * decomposition via hex(encode(word)), the ranked merge table, and
    * the recursive sequential replay (128 iterations bounds 64 base + 64
    * chain). End state: `bwt` = (word, toks array). */
  private val bpeByteOracleStages: String =
    """wf AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
      |    FROM documents)
      |  GROUP BY 1
      |  UNION ALL
      |  SELECT word, CAST(freq AS BIGINT) FROM (VALUES
      |    ('héllo', 50), ('naïve', 40), ('wörld—x', 30),
      |    ('日本語', 20), ('résumé', 10)) t(word, freq)),
      |remap AS MATERIALIZED (
      |  SELECT b, CASE WHEN keep THEN chr(CAST(b AS INT))
      |                 ELSE chr(CAST(256 + row_number() OVER
      |                        (PARTITION BY keep ORDER BY b) - 1 AS INT))
      |            END AS sym
      |  FROM (SELECT unnest(range(256)) AS b,
      |               (b BETWEEN 33 AND 126 OR b BETWEEN 161 AND 172
      |                OR b BETWEEN 174 AND 255) AS keep)),
      |wbytes AS (
      |  SELECT word, i,
      |         (strpos('0123456789ABCDEF', substr(h, 2 * i + 1, 1)) - 1) * 16 +
      |         (strpos('0123456789ABCDEF', substr(h, 2 * i + 2, 1)) - 1) AS b
      |  FROM (SELECT word, hex(encode(word)) AS h,
      |               octet_length(encode(word)) AS nb
      |        FROM wf),
      |       unnest(generate_series(0, nb - 1)) AS t(i)),
      |bsyms AS MATERIALIZED (
      |  SELECT w.word,
      |         '  ' || string_agg(r.sym, '  ' ORDER BY w.i) || '  ' AS sym
      |  FROM wbytes w JOIN remap r ON r.b = w.b
      |  GROUP BY w.word),
      |bpairs AS (
      |  SELECT s.syms[j] AS lhs, s.syms[j + 1] AS rhs,
      |         CAST(sum(s.freq) AS BIGINT) AS c
      |  FROM (SELECT f.freq,
      |               list_filter(string_split(b.sym, '  '), x -> x != '') AS syms
      |        FROM bsyms b JOIN wf f ON f.word = b.word) s,
      |       unnest(generate_series(1, len(s.syms) - 1)) AS t(j)
      |  GROUP BY 1, 2),
      |branked AS (
      |  SELECT lhs, rhs, row_number() OVER (ORDER BY c DESC, lhs, rhs) AS step
      |  FROM bpairs),
      |bbase AS MATERIALIZED (SELECT lhs, rhs, step FROM branked WHERE step <= 64),
      |bchain AS (
      |  SELECT a.lhs || a.rhs AS lhs, b.lhs || b.rhs AS rhs,
      |         (SELECT count(*) FROM bbase) + (a.step - 1) * 8 + b.step AS step
      |  FROM bbase a JOIN bbase b ON a.step <= 8 AND b.step <= 8),
      |bmerges AS MATERIALIZED (
      |  SELECT lhs, rhs, step FROM bbase
      |  UNION ALL SELECT lhs, rhs, step FROM bchain),
      |benc AS (
      |  SELECT word, sym, 0 AS step FROM bsyms
      |  UNION ALL
      |  SELECT e.word,
      |         CASE WHEN m.lhs IS NULL THEN e.sym
      |              ELSE replace(e.sym, ' ' || m.lhs || '  ' || m.rhs || ' ',
      |                           ' ' || m.lhs || m.rhs || ' ') END,
      |         e.step + 1
      |  FROM benc e LEFT JOIN bmerges m ON m.step = e.step + 1
      |  WHERE e.step < 128),
      |bwt AS MATERIALIZED (
      |  SELECT word, list_filter(string_split(sym, '  '), x -> x != '') AS toks
      |  FROM benc WHERE step = 128)""".stripMargin

  /** DuckDB twin of [[constructed1kMerges]] + the full sequential encode
    * replay: `merges` (the table), `syms` (per distinct word, the
    * double-space symbol string), and recursive `enc` applying every step
    * as a literal replace; 1280 iterations bounds the max step (256 base
    * + 1024 chain; steps past the actual table are LEFT-JOIN identity).
    * End state: `wt1k` = (word, toks array). */
  private val bpe1kOracleStages: String =
    """wf AS MATERIALIZED (
      |  SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
      |    FROM documents)
      |  GROUP BY 1),
      |pairs AS (
      |  SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs,
      |         sum(freq) AS c
      |  FROM (SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i
      |        FROM wf WHERE length(word) >= 2)
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT lhs, rhs, row_number() OVER (ORDER BY c DESC, lhs, rhs) AS step
      |  FROM pairs),
      |base AS MATERIALIZED (SELECT lhs, rhs, step FROM ranked WHERE step <= 256),
      |chain AS (
      |  SELECT a.lhs || a.rhs AS lhs, b.lhs || b.rhs AS rhs,
      |         (SELECT count(*) FROM base) + (a.step - 1) * 32 + b.step AS step
      |  FROM base a JOIN base b ON a.step <= 32 AND b.step <= 32),
      |merges AS MATERIALIZED (
      |  SELECT lhs, rhs, step FROM base
      |  UNION ALL SELECT lhs, rhs, step FROM chain),
      |syms AS (
      |  SELECT word,
      |         '  ' || array_to_string(list_transform(generate_series(1, length(word)),
      |                                 i -> word[i]), '  ') || '  ' AS sym
      |  FROM wf),
      |enc AS (
      |  SELECT word, sym, 0 AS step FROM syms
      |  UNION ALL
      |  SELECT e.word,
      |         CASE WHEN m.lhs IS NULL THEN e.sym
      |              ELSE replace(e.sym, ' ' || m.lhs || '  ' || m.rhs || ' ',
      |                           ' ' || m.lhs || m.rhs || ' ') END,
      |         e.step + 1
      |  FROM enc e LEFT JOIN merges m ON m.step = e.step + 1
      |  WHERE e.step < 1280),
      |wt1k AS MATERIALIZED (
      |  SELECT word, list_filter(string_split(sym, '  '), x -> x != '') AS toks
      |  FROM enc WHERE step = 1280)""".stripMargin

  /** The 6-iteration unrolled BPE-training replay: w0 = word frequencies,
    * s0 = char symbol-strings, then per iteration i: pair counts pI,
    * argmax mI, merged symbol-strings sI. Shared by the train and encode
    * oracles.
    */
  private def bpeOracleStages(numMerges: Int): String = {
    val stages = (1 to numMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT s.lhs, s.rhs, sum(s.freq) AS c FROM (
         |    SELECT freq, syms[j] AS lhs, syms[j + 1] AS rhs
         |    FROM (SELECT freq, list_filter(string_split(sym, '  '), x -> x != '') AS syms
         |          FROM s${i - 1}),
         |         unnest(generate_series(1, len(syms) - 1)) AS t(j)
         |  ) s GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT word, freq,
         |         replace(sym, ' ' || (SELECT lhs FROM m$i) || '  ' || (SELECT rhs FROM m$i) || ' ',
         |                 ' ' || (SELECT lhs || rhs FROM m$i) || ' ') AS sym
         |  FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
       |    FROM documents)
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         '  ' || array_to_string(list_transform(generate_series(1, length(word)),
       |                                 i -> word[i]), '  ') || '  ' AS sym
       |  FROM w0),
       |$stages""".stripMargin
  }

  /** The q_t41/q_t42 unigram training configuration — ONE definition for
    * the Spark side, the oracle stage generator, and the oracle's
    * references to generated CTE names (the udp<rounds+1>_<maxW> final
    * DP stage), so a setting bump can never desynchronize them. */
  private val UniVocab = 120
  private val UniMaxLen = 3
  private val UniRounds = 2
  private val UniMaxW = 12

  /** The q_t41/q_t42 unigram-LM training replay (r15 VERDICT #7): seeding,
    * `rounds` hard-EM rounds — integer ilog scores, Viterbi DP, usage
    * backtrace, zero-usage pruning — and the final vocab prune, as a CTE
    * chain. The DP is UNROLLED to `maxW` per-position stages (the
    * bpeOracleStages discipline) because DuckDB's recursive CTEs silently
    * yield NULL from a correlated join subquery on the first iteration;
    * `uw0` fails loudly (string→INT cast) if any corpus word outgrows the
    * unroll. ilog is the integer piecewise-linear log2 of
    * [[graft.functions.UnigramCodec]]: `floor(log2)` is exact at powers of
    * two in both engines, everything else is BIGINT arithmetic. All CTEs
    * are `u`-prefixed so the chain composes beside the BPE stages in one
    * WITH. */
  private def unigramOracleStages(vocabSize: Int, maxLen: Int, rounds: Int,
                                  maxW: Int = 12): String = {
    def ilog(x: String): String =
      s"""(1000 * CAST(floor(log2($x)) AS BIGINT)
         | + (1000 * ($x - (CAST(1 AS BIGINT) << CAST(floor(log2($x)) AS INT))))
         | // (CAST(1 AS BIGINT) << CAST(floor(log2($x)) AS INT)))""".stripMargin
    def dpStages(r: Int, prevCounts: String): String = {
      val head =
        s"""ul$r AS MATERIALIZED (
           |  SELECT piece, ${ilog("(c + 1)")} AS l FROM $prevCounts),
           |ult$r AS MATERIALIZED (
           |  SELECT ${ilog("tt")} AS lt FROM (
           |    SELECT CAST(sum(c + 1) AS BIGINT) AS tt FROM $prevCounts)),
           |udp${r}_0 AS (
           |  SELECT word, freq,
           |         [struct_pack(sc := CAST(0 AS BIGINT), np := 0, k := 0)] AS dps
           |  FROM uw0)""".stripMargin
      val dps = (1 to maxW).map { j =>
        s"""udp${r}_$j AS MATERIALIZED (
           |  SELECT word, freq,
           |         CASE WHEN length(word) < $j THEN dps
           |              ELSE list_append(dps, (
           |                SELECT struct_pack(
           |                         sc := dps[$j - t.k + 1].sc + s.l - (SELECT lt FROM ult$r),
           |                         np := dps[$j - t.k + 1].np + 1, k := t.k)
           |                FROM unnest(generate_series(1, least($maxLen, $j))) AS t(k)
           |                JOIN ul$r s ON s.piece = substr(word, $j - t.k + 1, t.k)
           |                ORDER BY dps[$j - t.k + 1].sc + s.l DESC,
           |                         dps[$j - t.k + 1].np ASC, t.k DESC
           |                LIMIT 1)) END AS dps
           |  FROM udp${r}_${j - 1})""".stripMargin
      }
      val bt0 =
        s"""ubt${r}_0 AS (
           |  SELECT word, freq, dps, CAST(length(word) AS INT) AS j,
           |         CAST([] AS VARCHAR[]) AS ps
           |  FROM udp${r}_$maxW)""".stripMargin
      val bts = (1 to maxW).map { i =>
        s"""ubt${r}_$i AS MATERIALIZED (
           |  SELECT word, freq, dps,
           |         CASE WHEN j > 0 THEN j - dps[j + 1].k ELSE j END AS j,
           |         CASE WHEN j > 0
           |              THEN list_append(ps, substr(word, j - dps[j + 1].k + 1, dps[j + 1].k))
           |              ELSE ps END AS ps
           |  FROM ubt${r}_${i - 1})""".stripMargin
      }
      val tail =
        s"""uu$r AS MATERIALIZED (
           |  SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM (
           |    SELECT freq, unnest(ps) AS piece FROM ubt${r}_$maxW)
           |  GROUP BY 1),
           |uc$r AS MATERIALIZED (
           |  SELECT piece, c FROM uu$r
           |  UNION ALL
           |  SELECT piece, CAST(0 AS BIGINT) AS c FROM usingles
           |  WHERE piece NOT IN (SELECT piece FROM uu$r))""".stripMargin
      (head +: dps :+ bt0) ++ bts :+ tail
    }.mkString(",\n")
    val emRounds = (1 to rounds).map(r => dpStages(r, s"uc${r - 1}")).mkString(",\n")
    s"""uw0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
       |    FROM documents)
       |  GROUP BY 1
       |  HAVING 1 = min(CASE WHEN length(word) <= $maxW THEN 1
       |                      ELSE CAST('word-exceeds-unrolled-DP-depth' AS INT) END)),
       |usingles AS MATERIALIZED (
       |  SELECT DISTINCT substr(word, i, 1) AS piece
       |  FROM uw0, unnest(generate_series(1, length(word))) AS t(i)),
       |uc0 AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM (
       |    SELECT freq, substr(word, i, k) AS piece
       |    FROM uw0,
       |         unnest(generate_series(1, length(word))) AS t(i),
       |         unnest(generate_series(1, $maxLen)) AS u(k)
       |    WHERE i + k - 1 <= length(word))
       |  GROUP BY 1),
       |$emRounds,
       |ufin AS MATERIALIZED (
       |  SELECT piece, c FROM uc$rounds WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rn
       |    FROM uc$rounds WHERE length(piece) > 1)
       |  WHERE rn <= $vocabSize - (SELECT count(*) FROM uc$rounds
       |                            WHERE length(piece) = 1)),
       |${dpStages(rounds + 1, "ufin")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // full analytic replay of unigram training: seeding, 2 hard-EM rounds
    // (integer Viterbi + backtrace usage + pruning), final vocab prune,
    // final usage pass, id assignment — one wrong integer anywhere in the
    // chain moves a count or an id and fails the hash
    "q_t41_unigram_train" ->
      s"""WITH ${unigramOracleStages(UniVocab, UniMaxLen, UniRounds, UniMaxW)},
         |uart AS (
         |  SELECT f.piece, coalesce(u.c, 0) AS usage
         |  FROM ufin f LEFT JOIN uu${UniRounds + 1} u USING (piece))
         |SELECT CAST(row_number() OVER (ORDER BY usage DESC, piece) - 1 AS INT)
         |         AS token_id,
         |       piece, CAST(usage AS BIGINT) AS usage
         |FROM uart ORDER BY token_id""".stripMargin,

    // the training replay (q_t41 stages) + the final backtrace's piece
    // lists REVERSED into word order + the artifact id assignment —
    // segmentation order, piece identity, and ids all under the hash
    "q_t43_unigram_token_ids" ->
      s"""WITH ${unigramOracleStages(UniVocab, UniMaxLen, UniRounds, UniMaxW)},
         |uart AS (
         |  SELECT f.piece, coalesce(u.c, 0) AS usage
         |  FROM ufin f LEFT JOIN uu${UniRounds + 1} u USING (piece)),
         |uids AS (
         |  SELECT CAST(row_number() OVER (ORDER BY usage DESC, piece) - 1
         |           AS BIGINT) AS token_id, piece
         |  FROM uart),
         |tk AS (
         |  SELECT word, x['pos'] AS pos, x['tok'] AS tok FROM (
         |    SELECT word,
         |           unnest(list_transform(list_reverse(ps),
         |                  (t, i) -> {'pos': i - 1, 'tok': t})) AS x
         |    FROM ubt${UniRounds + 1}_$UniMaxW))
         |SELECT tk.word, CAST(tk.pos AS INTEGER) AS pos, v.token_id,
         |       tk.tok AS token
         |FROM tk JOIN uids v ON tk.tok = v.piece
         |ORDER BY word, pos""".stripMargin,

    // both tokenizers replayed end to end on the same corpus: the BPE
    // merge chain (q_t18 stages) AND the unigram training chain, then
    // per-word token counts joined back through every doc's word list
    "q_t42_unigram_fertility" ->
      s"""WITH ${bpeOracleStages(6)},
         |${unigramOracleStages(UniVocab, UniMaxLen, UniRounds, UniMaxW)},
         |wt AS (
         |  SELECT word,
         |         len(list_filter(string_split(sym, '  '), x -> x != '')) AS btoks
         |  FROM s6),
         |uwt AS (
         |  SELECT word, dps[length(word) + 1].np AS utoks
         |  FROM udp${UniRounds + 1}_$UniMaxW),
         |dw AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_words, sum(btoks) AS n_tokens_bpe,
         |         sum(utoks) AS n_tokens_uni
         |  FROM dw JOIN wt USING (word) JOIN uwt USING (word) GROUP BY 1),
         |per AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(coalesce(n_words, 0)) AS BIGINT) AS n_words,
         |         CAST(sum(coalesce(n_tokens_bpe, 0)) AS BIGINT) AS n_tokens_bpe,
         |         CAST(sum(coalesce(n_tokens_uni, 0)) AS BIGINT) AS n_tokens_uni
         |  FROM documents d LEFT JOIN agg USING (doc_id)
         |  GROUP BY 1)
         |SELECT lang, n_docs, n_words, n_tokens_bpe, n_tokens_uni,
         |       CASE WHEN n_words > 0
         |            THEN round(CAST(n_tokens_bpe AS DOUBLE) / n_words, 6)
         |            ELSE 0.0 END AS fertility_bpe,
         |       CASE WHEN n_words > 0
         |            THEN round(CAST(n_tokens_uni AS DOUBLE) / n_words, 6)
         |            ELSE 0.0 END AS fertility_uni
         |FROM per ORDER BY lang""".stripMargin,
    "q_t0_word_freq" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
        |  FROM documents)
        |GROUP BY 1 ORDER BY n DESC, word LIMIT 100""".stripMargin,

    "q_t1_token_stats" ->
      """SELECT doc_id,
        |       CAST(len(w) AS INTEGER) AS n_tokens,
        |       CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct_tokens,
        |       CAST(length(text) AS INTEGER) AS n_chars_computed,
        |       round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 4) AS avg_token_len
        |FROM (SELECT doc_id, text,
        |             list_filter(string_split(text, ' '), x -> x != '') AS w
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_t2_quality" ->
      """SELECT doc_id,
        |       round(CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE) / len(w), 6) AS stopword_ratio,
        |       round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS ttr
        |FROM (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x != '') AS w
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_t3_trigrams" ->
      """SELECT trigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - 2),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS trigram
        |  FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents))
        |GROUP BY 1 ORDER BY n DESC, trigram LIMIT 50""".stripMargin,

    "q_p2_explode_outer" -> {
      val parts = (0 until 16).map(i => s"w[i+$i]").mkString(" || ' ' || ")
      s"""WITH g AS (
         |  SELECT doc_id,
         |         list_distinct(CASE WHEN len(w) >= 16
         |           THEN list_transform(generate_series(1, len(w) - 15), i -> $parts)
         |           ELSE [] END) AS grams
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
         |        FROM documents)),
         |exploded AS (
         |  SELECT doc_id,
         |         unnest(CASE WHEN len(grams) = 0 THEN [NULL] ELSE grams END) AS gram
         |  FROM g)
         |SELECT doc_id, count(*) AS n_rows, count(gram) AS n_grams
         |FROM exploded GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_t8_boilerplate" -> {
      val parts = (0 until 5).map(i => s"w[i+$i]").mkString(" || ' ' || ")
      s"""WITH base AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         unnest(list_distinct(CASE WHEN len(w) >= 5
         |           THEN list_transform(generate_series(1, len(w) - 4), i -> $parts)
         |           ELSE [] END)) AS gram
         |  FROM base),
         |df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
         |per AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_boilerplate
         |  FROM g JOIN df USING (gram) GROUP BY 1)
         |SELECT d.doc_id,
         |       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
         |       round(coalesce(CAST(n_boilerplate AS DOUBLE) / n_grams, 0.0), 6) AS boilerplate_frac
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "q_t9_contamination" -> {
      val parts = (0 until 5).map(i => s"w[i+$i]").mkString(" || ' ' || ")
      s"""WITH base AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         unnest(list_distinct(CASE WHEN len(w) >= 5
         |           THEN list_transform(generate_series(1, len(w) - 4), i -> $parts)
         |           ELSE [] END)) AS gram
         |  FROM base),
         |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_grams
         |FROM g JOIN eg USING (gram)
         |WHERE doc_id % 50 != 0
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_t10_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(w) >= 2
        |           THEN list_transform(generate_series(1, len(w) - 1),
        |                               i -> w[i] || ' ' || w[i+1])
        |           ELSE [] END) AS gram
        |  FROM base),
        |counts AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |per AS (
        |  SELECT doc_id, sum(c) AS n_ngrams, max(c) AS top_ngram_count,
        |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ
        |  FROM counts GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(n_ngrams, 0) AS BIGINT) AS n_ngrams,
        |       CAST(coalesce(top_ngram_count, 0) AS BIGINT) AS top_ngram_count,
        |       round(coalesce(CAST(dup_occ AS DOUBLE) / n_ngrams, 0.0), 6) AS dup_ngram_frac
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Unrolls the three perceptron iterations: w0 = 0 makes every
    // featured doc misclassified in round 1 (margin 0, y*0 <= 0), so
    // w1 = per-dim sum of y*count; rounds 2-3 recompute margins against
    // the previous weights, re-vote the misclassified set, and add the
    // integer deltas. All arithmetic is BIGINT; the final select grids
    // every dim 0..63 with zero-weight fill, exactly like the engine's
    // zero-initialized array.
    "q_t25_perceptron_train" ->
      """WITH f AS (
        |  SELECT id, y, CAST(h % 64 AS INT) AS dim, CAST(count(*) AS BIGINT) AS wt
        |  FROM (
        |    SELECT doc_id AS id,
        |           CASE WHEN len(list_filter(string_split(coalesce(text, ''), ' '),
        |                        x -> x != '')) >= 40 THEN 1 ELSE -1 END AS y,
        |           ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
        |    FROM (SELECT doc_id, text,
        |                 unnest(list_filter(string_split(coalesce(text, ''), ' '),
        |                        x -> x != '')) AS w
        |          FROM documents))
        |  GROUP BY 1, 2, 3),
        |w1 AS (SELECT dim, sum(y * wt) AS w FROM f GROUP BY 1),
        |m2 AS (SELECT f.id, f.y, sum(coalesce(w1.w, 0) * f.wt) AS m
        |       FROM f LEFT JOIN w1 USING (dim) GROUP BY 1, 2),
        |d2 AS (SELECT dim, sum(y * wt) AS dw FROM f
        |       WHERE id IN (SELECT id FROM m2 WHERE y * m <= 0) GROUP BY 1),
        |w2 AS (SELECT coalesce(w1.dim, d2.dim) AS dim,
        |              coalesce(w1.w, 0) + coalesce(d2.dw, 0) AS w
        |       FROM w1 FULL JOIN d2 ON w1.dim = d2.dim),
        |m3 AS (SELECT f.id, f.y, sum(coalesce(w2.w, 0) * f.wt) AS m
        |       FROM f LEFT JOIN w2 USING (dim) GROUP BY 1, 2),
        |d3 AS (SELECT dim, sum(y * wt) AS dw FROM f
        |       WHERE id IN (SELECT id FROM m3 WHERE y * m <= 0) GROUP BY 1),
        |w3 AS (SELECT coalesce(w2.dim, d3.dim) AS dim,
        |              coalesce(w2.w, 0) + coalesce(d3.dw, 0) AS w
        |       FROM w2 FULL JOIN d3 ON w2.dim = d3.dim)
        |SELECT d.dim, CAST(coalesce(w3.w, 0) AS BIGINT) AS weight
        |FROM (SELECT unnest(generate_series(0, 63)) AS dim) d
        |LEFT JOIN w3 ON d.dim = w3.dim
        |ORDER BY d.dim""".stripMargin,

    // Replays the rule card's integer cross-multiplied thresholds; the
    // only float is the 4-dp-rounded mean word length. DuckDB's // is
    // Spark's div (exact here: the '...' diff is a multiple of 3);
    // Replays the q_t26 page planting and the whole extraction pipeline —
    // script/style/comment strip, block-tag split, per-block tag strip +
    // whitespace collapse (explicit char class: Java \s and RE2 \s
    // disagree on \x0B), anchor-text length, and the integer link-density
    // keep rule — so a drift in ANY regex or in the density arithmetic
    // fails the hash.
    "q_t26_html_extract" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         '$htmlHeadA' || doc_id || '$htmlHeadB' || '$htmlNav'
         |         || CASE WHEN doc_id % 3 = 1 THEN '$htmlAd' ELSE '' END
         |         || '<p>' || coalesce(text, '') || '</p>'
         |         || CASE WHEN doc_id % 3 = 2 THEN '$htmlRel' ELSE '' END
         |         || '$htmlFoot' AS html
         |  FROM documents),
         |cleaned AS (
         |  SELECT doc_id,
         |         regexp_replace(regexp_replace(regexp_replace(html,
         |           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |           '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |           '(?s)<!--.*?-->', ' ', 'g') AS clean
         |  FROM planted),
         |blocks AS (
         |  SELECT doc_id,
         |         list_filter(list_transform(
         |           string_split_regex(clean,
         |             '(?i)</?(?:p|div|li|h[1-6]|br|section|article|header|footer|nav|td|ul|ol|table|blockquote)[^>]*>'),
         |           b -> {'txt': trim(regexp_replace(regexp_replace(b,
         |                    '<[^>]*>', ' ', 'g'), '[ \\t\\n\\r\\f]+', ' ', 'g')),
         |                 'llen': len(trim(regexp_replace(regexp_replace(
         |                    coalesce(array_to_string(regexp_extract_all(b,
         |                      '(?is)<a[^>]*>(.*?)</a>', 1), ' '), ''),
         |                    '<[^>]*>', ' ', 'g'), '[ \\t\\n\\r\\f]+', ' ', 'g')))}),
         |           s -> s.txt != '') AS bl
         |  FROM cleaned),
         |scored AS (
         |  SELECT doc_id, bl,
         |         list_filter(bl, s -> len(s.txt) >= 25
         |                              AND s.llen * 100 <= len(s.txt) * 30) AS kept
         |  FROM blocks)
         |SELECT doc_id,
         |       CAST(len(bl) AS INTEGER) AS n_blocks,
         |       CAST(len(kept) AS INTEGER) AS n_kept,
         |       CAST(len(coalesce(array_to_string(list_transform(kept, s -> s.txt),
         |         ' '), '')) AS BIGINT) AS extracted_chars,
         |       substr(coalesce(array_to_string(list_transform(kept, s -> s.txt),
         |         ' '), ''), 1, 80) AS preview
         |FROM scored ORDER BY doc_id""".stripMargin,

    // list_sum on an empty list is NULL where Spark's aggregate returns
    // its 0 seed, hence the coalesce.
    "q_t24_gopher_rules" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         list_filter(string_split(coalesce(text, ''), ' '), x -> x != '') AS wv,
        |         (length(coalesce(text, '')) - length(replace(coalesce(text, ''), '#', '')))
        |           + (length(coalesce(text, ''))
        |              - length(replace(coalesce(text, ''), '...', ''))) // 3
        |           AS n_symbols
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         len(wv) AS n_words,
        |         CAST(coalesce(list_sum(list_transform(wv, x -> length(x))), 0) AS BIGINT)
        |           AS sum_word_len,
        |         n_symbols,
        |         len(list_filter(wv, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha_words,
        |         len(list_intersect(list_distinct(list_transform(wv, x -> lower(x))),
        |             ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'for']))
        |           AS n_stopwords
        |  FROM m)
        |SELECT doc_id,
        |       CAST(n_words AS INT) AS n_words,
        |       round(CASE WHEN n_words = 0 THEN 0.0
        |             ELSE sum_word_len / CAST(n_words AS DOUBLE) END, 4) AS mean_word_len,
        |       CAST(n_symbols AS INT) AS n_symbols,
        |       CAST(n_alpha_words AS INT) AS n_alpha_words,
        |       CAST(n_stopwords AS INT) AS n_stopwords,
        |       CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r1_word_count,
        |       CAST(n_words > 0
        |            AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words AS INT)
        |         AS r2_word_len,
        |       CAST(10 * n_symbols <= n_words AS INT) AS r3_symbols,
        |       CAST(5 * n_alpha_words >= 4 * n_words AS INT) AS r4_alpha,
        |       CAST(n_stopwords >= 2 AS INT) AS r5_stopwords,
        |       CAST(n_words BETWEEN 50 AND 100000
        |            AND n_words > 0
        |            AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
        |            AND 10 * n_symbols <= n_words
        |            AND 5 * n_alpha_words >= 4 * n_words
        |            AND n_stopwords >= 2 AS INT) AS pass
        |FROM c ORDER BY doc_id""".stripMargin,

    // q_t29's planted-construction oracle: the EXPECTED post-repair state
    // computed analytically — n_bad from original a/e/s character counts
    // (each injected occurrence is exactly one table sequence), n_resid 0
    // by inversion, fixed_md5 from the direct intended-character
    // substitution, fixed_chars = length(t) because every repair maps one
    // corrupted run to one character. The corrupted forms never appear
    // here, so an engine-side table or ordering bug cannot cancel out.
    "q_t29_mojibake_repair" ->
      """WITH b AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |         CAST(doc_id % 4 AS INTEGER) AS v
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, v, t,
        |         length(t) - length(replace(t, 'a', '')) AS na,
        |         length(t) - length(replace(t, 'e', '')) AS ne,
        |         length(t) - length(replace(t, 's', '')) AS ns
        |  FROM b)
        |SELECT doc_id,
        |       CAST(CASE v WHEN 0 THEN 0 WHEN 1 THEN na + ne
        |                   WHEN 2 THEN ns ELSE na + ne + ns END
        |            AS BIGINT) AS n_bad,
        |       CAST(0 AS BIGINT) AS n_resid,
        |       md5(CASE v WHEN 0 THEN t
        |                  WHEN 1 THEN replace(replace(t, 'a', 'á'), 'e', 'é')
        |                  WHEN 2 THEN replace(t, 's', '’')
        |                  ELSE replace(replace(replace(t, 'a', 'á'),
        |                               'e', 'é'), 's', '’') END) AS fixed_md5,
        |       CAST(length(t) AS BIGINT) AS fixed_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    // Replays q_t28 end to end: the paragraph planting (same
    // substr/concat arithmetic), the three splits, and all nine
    // repetition fractions — gram counts recomputed relationally
    // (GROUP BY instead of Spark's sorted run-length pass), coverage via
    // an interval join on 1-based positions (Spark's are 0-based;
    // the interval test is shift-invariant). Parallel unnests zip in
    // DuckDB, which is what pairs each gram with its position.
    // list_sum of an empty list is NULL -> coalesce; docs too short for
    // an n-gram produce no rows -> LEFT JOIN + coalesce 0.
    "q_t28_repetition_card" ->
      """WITH p0 AS (
        |  SELECT doc_id,
        |         substr(coalesce(text, ''), 1, 40) AS l1,
        |         substr(coalesce(text, ''), 41, 40) AS l2,
        |         substr(coalesce(text, ''), 11, 30) AS l3,
        |         substr(coalesce(text, ''), 5, 25) AS l4
        |  FROM documents),
        |planted AS (
        |  SELECT doc_id,
        |    (l1 || chr(10) || l2 ||
        |     CASE WHEN doc_id % 3 = 0 THEN chr(10) || l1 ELSE '' END)
        |    || chr(10) || chr(10)
        |    || (CASE WHEN doc_id % 4 < 2 THEN l3 ELSE l3 || chr(10) || l3 END)
        |    || chr(10) || chr(10)
        |    || (CASE WHEN doc_id % 5 = 0
        |          THEN (CASE WHEN doc_id % 4 < 2 THEN l3 ELSE l3 || chr(10) || l3 END)
        |          ELSE l4 END) AS ptext
        |  FROM p0),
        |li AS (
        |  SELECT doc_id,
        |    list_filter(string_split(ptext, chr(10)), x -> x != '') AS lv,
        |    list_filter(string_split(ptext, chr(10) || chr(10)), x -> x != '') AS pv,
        |    list_filter(string_split(replace(ptext, chr(10), ' '), ' '), x -> x != '') AS wv
        |  FROM planted),
        |scal AS (
        |  SELECT doc_id,
        |    CAST(len(lv) AS INT) AS n_lines,
        |    CAST(len(list_distinct(lv)) AS INT) AS nd_lines,
        |    CAST(coalesce(list_sum(list_transform(lv, x -> length(x))), 0) AS BIGINT) AS lc,
        |    CAST(coalesce(list_sum(list_transform(list_distinct(lv), x -> length(x))), 0) AS BIGINT) AS lcd,
        |    CAST(len(pv) AS INT) AS n_paras,
        |    CAST(len(list_distinct(pv)) AS INT) AS nd_paras,
        |    CAST(coalesce(list_sum(list_transform(pv, x -> length(x))), 0) AS BIGINT) AS pc,
        |    CAST(coalesce(list_sum(list_transform(list_distinct(pv), x -> length(x))), 0) AS BIGINT) AS pcd,
        |    CAST(coalesce(list_sum(list_transform(wv, x -> length(x))), 0) AS BIGINT) AS wchars
        |  FROM li),
        |gr AS (
        |  SELECT doc_id, n, unnest(gl) AS gram FROM (
        |    SELECT doc_id, 2 AS n,
        |           CASE WHEN len(wv) >= 2 THEN list_transform(
        |             generate_series(1, len(wv) - 1), i -> array_to_string(wv[i:i+1], ' '))
        |           ELSE [] END AS gl FROM li
        |    UNION ALL SELECT doc_id, 3,
        |           CASE WHEN len(wv) >= 3 THEN list_transform(
        |             generate_series(1, len(wv) - 2), i -> array_to_string(wv[i:i+2], ' '))
        |           ELSE [] END FROM li
        |    UNION ALL SELECT doc_id, 4,
        |           CASE WHEN len(wv) >= 4 THEN list_transform(
        |             generate_series(1, len(wv) - 3), i -> array_to_string(wv[i:i+3], ' '))
        |           ELSE [] END FROM li)),
        |topn AS (
        |  SELECT doc_id, n, CAST(c * (length(gram) - (n - 1)) AS BIGINT) AS num,
        |         row_number() OVER (PARTITION BY doc_id, n
        |                            ORDER BY c DESC, length(gram) DESC) AS rn
        |  FROM (SELECT doc_id, n, gram, count(*) AS c FROM gr GROUP BY 1, 2, 3)),
        |tops AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN n = 2 THEN num END), 0) AS top2,
        |    coalesce(max(CASE WHEN n = 3 THEN num END), 0) AS top3,
        |    coalesce(max(CASE WHEN n = 4 THEN num END), 0) AS top4
        |  FROM topn WHERE rn = 1 GROUP BY doc_id),
        |gp AS (
        |  SELECT doc_id, n, unnest(gl) AS gram, unnest(generate_series(1, len(gl))) AS i
        |  FROM (
        |    SELECT doc_id, 5 AS n,
        |           CASE WHEN len(wv) >= 5 THEN list_transform(
        |             generate_series(1, len(wv) - 4), i -> array_to_string(wv[i:i+4], ' '))
        |           ELSE [] END AS gl FROM li
        |    UNION ALL SELECT doc_id, 10,
        |           CASE WHEN len(wv) >= 10 THEN list_transform(
        |             generate_series(1, len(wv) - 9), i -> array_to_string(wv[i:i+9], ' '))
        |           ELSE [] END FROM li)),
        |gc AS (SELECT doc_id, n, gram, count(*) AS c FROM gp GROUP BY 1, 2, 3),
        |flg AS (
        |  SELECT g.doc_id, g.n, g.i FROM gp g
        |  JOIN gc ON g.doc_id = gc.doc_id AND g.n = gc.n AND g.gram = gc.gram
        |  WHERE gc.c >= 2),
        |wp AS (
        |  SELECT doc_id, unnest(generate_series(1, len(wv))) AS k,
        |         unnest(list_transform(wv, x -> length(x))) AS wl
        |  FROM li),
        |cov AS (
        |  SELECT doc_id, n, CAST(sum(wl) AS BIGINT) AS covch FROM (
        |    SELECT DISTINCT w.doc_id, f.n, w.k, w.wl
        |    FROM wp w JOIN flg f
        |      ON w.doc_id = f.doc_id AND w.k BETWEEN f.i AND f.i + f.n - 1)
        |  GROUP BY 1, 2),
        |fin AS (
        |  SELECT s.*, coalesce(t.top2, 0) AS top2, coalesce(t.top3, 0) AS top3,
        |         coalesce(t.top4, 0) AS top4,
        |         coalesce(c5.covch, 0) AS cov5, coalesce(c10.covch, 0) AS cov10
        |  FROM scal s
        |  LEFT JOIN tops t ON s.doc_id = t.doc_id
        |  LEFT JOIN cov c5 ON s.doc_id = c5.doc_id AND c5.n = 5
        |  LEFT JOIN cov c10 ON s.doc_id = c10.doc_id AND c10.n = 10)
        |SELECT doc_id, n_lines, n_paras,
        |  CASE WHEN n_lines = 0 THEN 0.0
        |       ELSE round((n_lines - nd_lines) / CAST(n_lines AS DOUBLE), 6) END AS dup_line_frac,
        |  CASE WHEN lc = 0 THEN 0.0
        |       ELSE round((lc - lcd) / CAST(lc AS DOUBLE), 6) END AS dup_line_char_frac,
        |  CASE WHEN n_paras = 0 THEN 0.0
        |       ELSE round((n_paras - nd_paras) / CAST(n_paras AS DOUBLE), 6) END AS dup_para_frac,
        |  CASE WHEN pc = 0 THEN 0.0
        |       ELSE round((pc - pcd) / CAST(pc AS DOUBLE), 6) END AS dup_para_char_frac,
        |  CASE WHEN wchars = 0 THEN 0.0
        |       ELSE round(top2 / CAST(wchars AS DOUBLE), 6) END AS top2gram_char_frac,
        |  CASE WHEN wchars = 0 THEN 0.0
        |       ELSE round(top3 / CAST(wchars AS DOUBLE), 6) END AS top3gram_char_frac,
        |  CASE WHEN wchars = 0 THEN 0.0
        |       ELSE round(top4 / CAST(wchars AS DOUBLE), 6) END AS top4gram_char_frac,
        |  CASE WHEN wchars = 0 THEN 0.0
        |       ELSE round(cov5 / CAST(wchars AS DOUBLE), 6) END AS dup5gram_char_frac,
        |  CASE WHEN wchars = 0 THEN 0.0
        |       ELSE round(cov10 / CAST(wchars AS DOUBLE), 6) END AS dup10gram_char_frac,
        |  CAST(10 * (n_lines - nd_lines) <= 3 * n_lines AS INT) AS r1_dup_lines,
        |  CAST(5 * (lc - lcd) <= lc AS INT) AS r2_dup_line_chars,
        |  CAST(10 * (n_paras - nd_paras) <= 3 * n_paras AS INT) AS r3_dup_paras,
        |  CAST(5 * (pc - pcd) <= pc AS INT) AS r4_dup_para_chars,
        |  CAST(5 * top2 <= wchars AS INT) AS r5_top2gram,
        |  CAST(100 * top3 <= 18 * wchars AS INT) AS r6_top3gram,
        |  CAST(100 * top4 <= 16 * wchars AS INT) AS r7_top4gram,
        |  CAST(100 * cov5 <= 15 * wchars AS INT) AS r8_dup5gram,
        |  CAST(10 * cov10 <= wchars AS INT) AS r9_dup10gram,
        |  CAST(10 * (n_lines - nd_lines) <= 3 * n_lines
        |       AND 5 * (lc - lcd) <= lc
        |       AND 10 * (n_paras - nd_paras) <= 3 * n_paras
        |       AND 5 * (pc - pcd) <= pc
        |       AND 5 * top2 <= wchars
        |       AND 100 * top3 <= 18 * wchars
        |       AND 100 * top4 <= 16 * wchars
        |       AND 100 * cov5 <= 15 * wchars
        |       AND 10 * cov10 <= wchars AS INT) AS pass
        |FROM fin ORDER BY doc_id""".stripMargin,

    // The heavy-hitter output is exact by construction (the Misra-Gries
    // stage only prunes candidates), so the oracle needs no gate columns:
    // a plain full-count HAVING replays it.
    "q_a14_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS word
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT word, count(*) AS cnt,
        |       round(count(*) / (SELECT CAST(n AS DOUBLE) FROM tot), 6) AS frac
        |FROM toks GROUP BY 1
        |HAVING count(*) >= (SELECT n FROM tot) * 0.01
        |ORDER BY cnt DESC, word""".stripMargin,

    // Replays bm25Score's exact arithmetic: same left-associated double
    // products, idf rounded to 9 dp, contributions as 9-dp scaled BIGINTs
    // (order-independent integer sum), final round to 6 dp.
    "q_t11_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |stats AS (SELECT count(*) AS n_docs, sum(len(w)) AS sum_dl FROM toks),
        |q(term) AS (VALUES ('spark'), ('window'), ('query'), ('zzyzx')),
        |m AS (
        |  SELECT doc_id, len(w) AS dl, term,
        |         len(list_filter(w, x -> x = term)) AS tf
        |  FROM toks CROSS JOIN q
        |  WHERE len(list_filter(w, x -> x = term)) > 0),
        |df AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
        |c AS (
        |  SELECT m.doc_id,
        |         CAST(round(round(
        |           round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 9)
        |             * tf * 2.2
        |             / (tf + 1.2 * (0.25 + (0.75 * dl)
        |                 / (CAST(sum_dl AS DOUBLE) / n_docs))), 9) * 1e9)
        |           AS BIGINT) AS c9
        |  FROM m JOIN df USING (term), stats)
        |SELECT doc_id, count(*) AS n_terms, round(sum(c9) / 1e9, 6) AS bm25
        |FROM c GROUP BY 1 ORDER BY bm25 DESC, doc_id""".stripMargin,

    // replays the planting (precomposed accents via translate, an NFD
    // combining acute via regexp_replace+chr(769)) and the normalization
    // pipeline with DuckDB's NATIVE nfc_normalize/strip_accents — two
    // independent Unicode implementations must agree on every key
    "q_t14_normalized_dedup" -> (
      "WITH planted AS (\n" +
      "  SELECT doc_id, text FROM documents\n" +
      "  UNION ALL\n" +
      "  SELECT doc_id + 300000, " +
      "translate(text, 'aeiou', 'áéíóú')\n" +
      "  FROM documents WHERE doc_id % 3 = 0\n" +
      "  UNION ALL\n" +
      "  SELECT doc_id + 600000, " +
      "regexp_replace(text, 'e', 'e' || chr(769), 'g')\n" +
      "  FROM documents WHERE doc_id % 7 = 0),\n" +
      "g AS (\n" +
      "  SELECT strip_accents(nfc_normalize(lower(text))) AS norm_key,\n" +
      "         count(*) AS n_copies, min(doc_id) AS keeper\n" +
      "  FROM planted GROUP BY 1)\n" +
      "SELECT keeper, n_copies FROM g WHERE n_copies > 1 ORDER BY keeper"),

    // replays both rankers (the q_t11 and q_v1 oracles) and the 9-dp RRF
    // arithmetic exactly
    "q_t13_rrf_fusion" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |stats AS (SELECT count(*) AS n_docs, sum(len(w)) AS sum_dl FROM toks),
        |q(term) AS (VALUES ('spark'), ('window'), ('query'), ('zzyzx')),
        |m AS (
        |  SELECT doc_id, len(w) AS dl, term,
        |         len(list_filter(w, x -> x = term)) AS tf
        |  FROM toks CROSS JOIN q
        |  WHERE len(list_filter(w, x -> x = term)) > 0),
        |df AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
        |c AS (
        |  SELECT m.doc_id,
        |         CAST(round(round(
        |           round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 9)
        |             * tf * 2.2
        |             / (tf + 1.2 * (0.25 + (0.75 * dl)
        |                 / (CAST(sum_dl AS DOUBLE) / n_docs))), 9) * 1e9)
        |           AS BIGINT) AS c9
        |  FROM m JOIN df USING (term), stats),
        |bm AS (
        |  SELECT doc_id, round(sum(c9) / 1e9, 6) AS bm25 FROM c GROUP BY 1),
        |bmr AS (
        |  SELECT doc_id AS id,
        |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
        |           AS r_bm
        |  FROM bm QUALIFY r_bm <= 100),
        |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |cs AS (
        |  SELECT vec_id,
        |         round(
        |           list_sum(list_transform(generate_series(1, len(embedding)),
        |             i -> CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |           6) AS cosine
        |  FROM embeddings, qv WHERE vec_id <> 0),
        |vr AS (
        |  SELECT vec_id AS id,
        |         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER)
        |           AS r_vec
        |  FROM cs QUALIFY r_vec <= 100)
        |SELECT COALESCE(bmr.id, vr.id) AS id, bmr.r_bm, vr.r_vec,
        |       COALESCE(round(1.0 / (bmr.r_bm + 60), 9), 0.0)
        |         + COALESCE(round(1.0 / (vr.r_vec + 60), 9), 0.0) AS rrf
        |FROM bmr FULL OUTER JOIN vr ON bmr.id = vr.id
        |ORDER BY rrf DESC, id LIMIT 20""".stripMargin,

    // replays the 9-dp idf/score rounding exactly (the bm25 idiom)
    "q_t12_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |pairs AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT p.doc_id, p.term, p.tf,
        |         round(round(ln(CAST(n_docs AS DOUBLE) / df), 9) * tf, 9) AS score
        |  FROM pairs p JOIN df USING (term), stats),
        |ranked AS (
        |  SELECT doc_id, term, tf, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |                                 ORDER BY score DESC, term) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_d1_dedup_exact" ->
      """SELECT lang, source, min(doc_id) AS keeper_doc_id,
        |       count(*) AS group_size
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_d2_dedup_normalized" ->
      """SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |      FROM documents)
        |GROUP BY norm ORDER BY keeper_doc_id""".stripMargin,

    // Replays the smoothed-KL arithmetic term by term: identical p/q
    // expression trees (integer add, one double division), ln in DOUBLE,
    // 9-dp rounding per term, DECIMAL accumulation — the same
    // order-independence contract as the Spark side.
    "q_t15_domain_drift" ->
      """WITH counts AS (
        |  SELECT slice, term, count(*) AS c FROM (
        |    SELECT lang AS slice,
        |           unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT term FROM counts),
        |v AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT slice, CAST(sum(c) AS BIGINT) AS tot,
        |                  count(*) AS n_terms
        |           FROM counts GROUP BY 1),
        |base AS (SELECT term, c AS c_b FROM counts WHERE slice = 'en'),
        |base_tot AS (SELECT tot AS tot_b FROM totals WHERE slice = 'en'),
        |terms AS (
        |  SELECT g.slice, t.tot, t.n_terms,
        |         round((CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (t.tot + v.v))
        |               * ln((CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (t.tot + v.v))
        |                    / (CAST(coalesce(b.c_b, 0) + 1 AS DOUBLE) / (bt.tot_b + v.v))),
        |               9) AS kl_term
        |  FROM (SELECT s.slice, vo.term
        |        FROM (SELECT DISTINCT slice FROM counts WHERE slice <> 'en') s
        |        CROSS JOIN vocab vo) g
        |  LEFT JOIN counts c ON c.slice = g.slice AND c.term = g.term
        |  LEFT JOIN base b ON b.term = g.term
        |  JOIN totals t ON t.slice = g.slice
        |  CROSS JOIN v CROSS JOIN base_tot bt)
        |SELECT slice AS lang, tot AS n_tokens, n_terms AS n_terms_seen,
        |       round(CAST(sum(CAST(kl_term AS DECIMAL(28,9))) AS DOUBLE), 6) AS kl_vs_base
        |FROM terms
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // Replays the smoothed-bigram arithmetic exactly: integer count adds,
    // ONE double division per bigram, ln in DOUBLE, 9-dp rounding per
    // contribution, DECIMAL accumulation, decimal -> double BEFORE the
    // final mean division (engine decimal-division scales differ).
    "q_t16_lm_perplexity" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(w) >= 2
        |           THEN list_transform(generate_series(1, len(w) - 1),
        |                               i -> w[i] || ' ' || w[i+1])
        |           ELSE [] END) AS gram
        |  FROM base),
        |c2 AS (SELECT gram, count(*) AS c2 FROM g WHERE doc_id % 4 = 0 GROUP BY 1),
        |c1 AS (SELECT split_part(gram, ' ', 1) AS w1, sum(c2) AS c1
        |       FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT split_part(gram, ' ', 2)) AS v FROM c2),
        |scored AS (
        |  SELECT g.doc_id, count(*) AS n_bigrams,
        |         sum(CAST(round(-ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)
        |               / (coalesce(c1.c1, 0) + v.v)), 9) AS DECIMAL(28,9)))
        |           AS nll_sum
        |  FROM g
        |  LEFT JOIN c2 USING (gram)
        |  LEFT JOIN c1 ON c1.w1 = split_part(g.gram, ' ', 1)
        |  CROSS JOIN v
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       round(coalesce(CAST(nll_sum AS DOUBLE) / n_bigrams, 0.0), 6)
        |         AS avg_nll
        |FROM documents d LEFT JOIN scored USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Replays every hashed weight bit-for-bit: md5-60 bucket, md5-60
    // seeded weight in [-1e9, 1e9], BIGINT token fold — integer until the
    // one final division, so a single weight off fails the hash.
    "q_t17_linear_classifier" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, len(w) AS n,
        |         coalesce(list_sum(list_transform(w, x ->
        |           ('0x' || substr(md5('graft-qc-1:' || CAST(
        |               ('0x' || substr(md5(x), 1, 15))::BIGINT % 1024
        |             AS VARCHAR)), 1, 15))::BIGINT % 2000000001 - 1000000000)),
        |           0) AS s9
        |  FROM base)
        |SELECT doc_id,
        |       CAST(n AS BIGINT) AS n_tokens,
        |       CASE WHEN n = 0 THEN 0.0
        |            ELSE round(s9 / 1e9 / n, 6) END AS margin,
        |       CAST(s9 > 0 AS INTEGER) AS label
        |FROM scored ORDER BY doc_id""".stripMargin,

    // replays the q_t17 margin derivation, the scaled-long grid compare,
    // and the exact integer ppm divisions
    "q_t33_classifier_calibration" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, len(w) AS n,
        |         coalesce(list_sum(list_transform(w, x ->
        |           ('0x' || substr(md5('graft-qc-1:' || CAST(
        |               ('0x' || substr(md5(x), 1, 15))::BIGINT % 1024
        |             AS VARCHAR)), 1, 15))::BIGINT % 2000000001 - 1000000000)),
        |           0) AS s9
        |  FROM base),
        |m AS (
        |  SELECT CAST(n AS BIGINT) AS n_tokens,
        |         CAST(round((CASE WHEN n = 0 THEN 0.0
        |                          ELSE round(s9 / 1e9 / n, 6) END) * 1000000)
        |              AS BIGINT) AS m6
        |  FROM scored),
        |g AS (SELECT CAST(unnest([-20000, -10000, 0, 10000, 20000]) AS BIGINT)
        |             AS threshold6),
        |c AS (
        |  SELECT threshold6,
        |         CAST(sum(CASE WHEN n_tokens >= 40 AND m6 >= threshold6
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |         CAST(sum(CASE WHEN n_tokens < 40 AND m6 >= threshold6
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |         CAST(sum(CASE WHEN n_tokens >= 40 AND m6 < threshold6
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |         CAST(sum(CASE WHEN n_tokens < 40 AND m6 < threshold6
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM m, g GROUP BY 1)
        |SELECT threshold6, tp, fp, fn, tn,
        |       CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp)
        |            ELSE 0 END AS precision_ppm,
        |       CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn)
        |            ELSE 0 END AS recall_ppm
        |FROM c ORDER BY threshold6""".stripMargin,

    "q_t18_bpe_train" -> {
      val unions = (1 to 6).map(i =>
        s"SELECT CAST($i AS INTEGER) AS step, lhs, rhs, CAST(c AS BIGINT) AS pair_freq FROM m$i")
        .mkString("\n  UNION ALL ")
      s"""WITH ${bpeOracleStages(6)}
         |SELECT * FROM (
         |  $unions)
         |ORDER BY step""".stripMargin
    },

    // replays the per-char probability terms as 1e-9 fixed-point BIGINTs
    // (order-independent sum — list_distinct enumeration order is free)
    "q_t21_char_entropy" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_replace(text, ' ', '', 'g') AS s FROM documents),
        |c AS (
        |  SELECT doc_id, s,
        |         list_transform(generate_series(1, length(s)), i -> s[i]) AS cs
        |  FROM base)
        |SELECT doc_id, CAST(length(s) AS INTEGER) AS n_chars_sig,
        |       CASE WHEN length(s) = 0 THEN 0.0 ELSE
        |         round(list_sum(list_transform(list_distinct(cs), c ->
        |           CAST(round(-(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs)
        |                * ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs))) * 1e9)
        |             AS BIGINT))) / 1e9, 6)
        |       END AS entropy
        |FROM c ORDER BY doc_id""".stripMargin,

    // replays every card number from the raw corpus: token masses, the
    // normalized-dup group algebra, the DECIMAL-accumulated quality mean,
    // and the nearest-rank median
    "q_c1_dataset_card" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |         len(w) AS n_tok,
        |         CASE WHEN len(w) = 0 THEN 0.0
        |              ELSE round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
        |         END AS ttr6,
        |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM (SELECT doc_id, lang, text,
        |               list_filter(string_split(text, ' '), x -> x != '') AS w
        |        FROM documents)),
        |mass AS (
        |  SELECT lang, count(*) AS n_docs, sum(n_tok) AS n_tokens,
        |         round(CAST(sum(CAST(ttr6 AS DECIMAL(18,6))) AS DOUBLE)
        |               / count(*), 6) AS mean_ttr
        |  FROM base GROUP BY 1),
        |dups AS (
        |  SELECT lang, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_docs
        |  FROM (SELECT lang, norm, count(*) AS c FROM base GROUP BY 1, 2)
        |  GROUP BY 1),
        |med AS (
        |  SELECT lang, n_tok AS median_tokens FROM (
        |    SELECT lang, n_tok,
        |           row_number() OVER (PARTITION BY lang
        |                              ORDER BY n_tok, doc_id) AS rk,
        |           count(*) OVER (PARTITION BY lang) AS n
        |    FROM base)
        |  WHERE rk = CAST(ceil(n * 0.5) AS INTEGER))
        |SELECT mass.lang, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(CAST(dup_docs AS DOUBLE) / n_docs, 6) AS exact_dup_rate,
        |       mean_ttr, CAST(median_tokens AS INTEGER) AS median_tokens
        |FROM mass JOIN dups USING (lang) JOIN med USING (lang)
        |ORDER BY lang""".stripMargin,

    // replays the nearest-rank percentile lookups (integer ranks, the
    // value at sorted position ceil(p*n)) and the flagging
    "q_q4_length_winsorize" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |         max(CASE WHEN rk = CAST(ceil(n * 0.05) AS INTEGER)
        |             THEN n_chars END) AS lo,
        |         max(CASE WHEN rk = CAST(ceil(n * 0.95) AS INTEGER)
        |             THEN n_chars END) AS hi
        |  FROM r GROUP BY 1),
        |f AS (
        |  SELECT r.lang, n_chars,
        |         CASE WHEN n_chars < lo THEN 'low'
        |              WHEN n_chars > hi THEN 'high'
        |              ELSE 'keep' END AS status
        |  FROM r JOIN p USING (lang))
        |SELECT lang, status, count(*) AS n, min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // exact twins externally recomputed; the sketch gates are asserted as
    // literal 1s (the q_a10 oracle shape — Spark emitting 0 on sketch
    // drift breaks the hash)
    "q_t20_vocab_growth" -> {
      val tri = """list_distinct(CASE WHEN len(w) >= 3
                  |  THEN list_transform(generate_series(1, len(w) - 2),
                  |                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  |  ELSE [] END)""".stripMargin
      s"""WITH words AS (
         |  SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
         |  FROM documents),
         |tris AS (
         |  SELECT lang, unnest($tri) AS g
         |  FROM (SELECT lang, list_filter(string_split(text, ' '), x -> x != '') AS w
         |        FROM documents)),
         |wa AS (
         |  SELECT lang, count(*) AS n_tokens, count(DISTINCT w) AS exact_words
         |  FROM words GROUP BY 1),
         |ta AS (
         |  SELECT lang, count(DISTINCT g) AS exact_trigrams FROM tris GROUP BY 1)
         |SELECT wa.lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(exact_words AS BIGINT) AS exact_words,
         |       CAST(exact_trigrams AS BIGINT) AS exact_trigrams,
         |       round(CAST(exact_words AS DOUBLE) / n_tokens, 6) AS ttr,
         |       CAST(1 AS INTEGER) AS words_ok,
         |       CAST(1 AS INTEGER) AS trigrams_ok
         |FROM wa JOIN ta USING (lang)
         |ORDER BY lang""".stripMargin
    },

    // re-derives the constructed 1k+ merge table (char-pair ranking +
    // top-32 chain compositions) and replays EVERY step as a sequential
    // literal replace through a recursive CTE — 1280 iterations bounds
    // the max possible step (256 base + 1024 chain); steps past the
    // actual table are identity via the LEFT JOIN
    "q_t35_bpe_kernel_1k" ->
      s"""WITH RECURSIVE
         |$bpe1kOracleStages
         |SELECT word, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       array_to_string(toks, ' ') AS tokens_str
         |FROM wt1k
         |ORDER BY word""".stripMargin,

    // byte-level: the remap and byte decomposition are re-derived from
    // pure arithmetic (no shared code with the engine), the table
    // re-ranked, and all 128 steps replayed sequentially
    "q_t38_bpe_byte_level" ->
      s"""WITH RECURSIVE
         |$bpeByteOracleStages
         |SELECT b.word, CAST(length(b.word) AS BIGINT) AS n_chars,
         |       CAST(len(b.toks) AS BIGINT) AS n_tokens,
         |       array_to_string(b.toks, ' ') AS tokens_str
         |FROM bwt b
         |ORDER BY word""".stripMargin,

    // re-derives the vocab (ranked base chars, then merge outputs in
    // step order, min-ord dedupe = first-occurrence-keeps-id) and joins
    // the replayed tokens against it
    "q_t37_bpe_token_ids" ->
      s"""WITH RECURSIVE
         |$bpe1kOracleStages,
         |chars AS (
         |  SELECT DISTINCT unnest(list_transform(generate_series(1, length(word)),
         |                         i -> word[i])) AS sym
         |  FROM wf),
         |ordered AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS ord
         |  FROM chars
         |  UNION ALL
         |  SELECT lhs || rhs AS sym, (SELECT count(*) FROM chars) + step AS ord
         |  FROM merges),
         |vocab AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY ord) - 1 AS BIGINT)
         |           AS token_id
         |  FROM (SELECT sym, min(ord) AS ord FROM ordered GROUP BY 1)),
         |tk AS (
         |  SELECT word, x['pos'] AS pos, x['tok'] AS tok FROM (
         |    SELECT word,
         |           unnest(list_transform(toks, (t, i) -> {'pos': i - 1, 'tok': t})) AS x
         |    FROM wt1k))
         |SELECT tk.word, CAST(tk.pos AS INTEGER) AS pos, v.token_id,
         |       tk.tok AS token
         |FROM tk JOIN vocab v ON tk.tok = v.sym
         |ORDER BY word, pos""".stripMargin,

    // re-derives table + vocab (the q_t37 stages), then reassembles
    // every document's id sequence in (word position, token position)
    // order via the ordinality-struct trick
    "q_t39_bpe_doc_token_ids" ->
      s"""WITH RECURSIVE
         |$bpe1kOracleStages,
         |chars AS (
         |  SELECT DISTINCT unnest(list_transform(generate_series(1, length(word)),
         |                         i -> word[i])) AS sym
         |  FROM wf),
         |ordered AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS ord
         |  FROM chars
         |  UNION ALL
         |  SELECT lhs || rhs AS sym, (SELECT count(*) FROM chars) + step AS ord
         |  FROM merges),
         |vocab AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY ord) - 1 AS BIGINT)
         |           AS token_id
         |  FROM (SELECT sym, min(ord) AS ord FROM ordered GROUP BY 1)),
         |dw AS (
         |  SELECT doc_id, x['w'] AS word, x['wpos'] AS wpos FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(
         |             list_filter(string_split(text, ' '), t -> t != ''),
         |             (t, i) -> {'w': t, 'wpos': i})) AS x
         |    FROM documents)),
         |dt AS (
         |  SELECT dw.doc_id, dw.wpos,
         |         unnest(list_transform(k.toks,
         |           (t, i) -> {'tpos': i, 'tok': t})) AS y
         |  FROM dw JOIN wt1k k ON k.word = dw.word),
         |ids AS (
         |  SELECT dt.doc_id, dt.wpos, dt.y['tpos'] AS tpos, v.token_id
         |  FROM dt JOIN vocab v ON v.sym = dt.y['tok'])
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       string_agg(CAST(token_id AS VARCHAR), ' '
         |                  ORDER BY wpos, tpos) AS ids_str
         |FROM ids GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays per-doc counts from wt1k, the per-lang stream offsets, and
    // the chunk-range fan-out with the same floor-division boundary math
    "q_t40_pack_token_stream" ->
      s"""WITH RECURSIVE
         |$bpe1kOracleStages,
         |wt AS (SELECT word, len(toks) AS t FROM wt1k),
         |dw AS (
         |  SELECT doc_id, lang,
         |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT d.doc_id, any_value(d.lang) AS lang,
         |         CAST(sum(wt.t) AS BIGINT) AS n
         |  FROM dw d JOIN wt ON wt.word = d.word
         |  GROUP BY d.doc_id),
         |offs AS (
         |  SELECT lang, doc_id, n,
         |         CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id) - n
         |              AS BIGINT) AS off
         |  FROM agg WHERE n > 0),
         |ex AS (
         |  SELECT lang, doc_id, n, off,
         |         unnest(generate_series(off // 512, (off + n - 1) // 512)) AS chunk
         |  FROM offs)
         |SELECT lang, chunk,
         |       CAST(sum(least(512 * (chunk + 1), off + n) -
         |                greatest(512 * chunk, off)) AS BIGINT) AS n_ids,
         |       count(*) AS n_docs,
         |       CAST(sum(CASE WHEN off >= chunk * 512 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_doc_starts
         |FROM ex GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // re-derives the 1k+ table, re-encodes every word through the full
    // recursive replay, then replays the q_t6 running-sum bin packing
    "q_t36_pack_bpe1k" ->
      s"""WITH RECURSIVE
         |$bpe1kOracleStages,
         |wt AS (SELECT word, len(toks) AS toks FROM wt1k),
         |dw AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, sum(toks) AS n_tokens
         |  FROM dw JOIN wt USING (word) GROUP BY 1),
         |b2 AS (
         |  SELECT d.doc_id, d.lang,
         |         CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens
         |  FROM documents d LEFT JOIN agg USING (doc_id)),
         |packed AS (
         |  SELECT lang, doc_id, n_tokens,
         |         CAST(floor(COALESCE(sum(n_tokens) OVER (
         |             PARTITION BY lang ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           / 512) AS BIGINT) AS bin
         |  FROM b2)
         |SELECT lang, bin, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS tokens_packed
         |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_t19_bpe_encode" ->
      s"""WITH ${bpeOracleStages(6)},
         |wt AS (
         |  SELECT word,
         |         len(list_filter(string_split(sym, '  '), x -> x != '')) AS toks
         |  FROM s6),
         |dw AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_words, sum(toks) AS n_tokens
         |  FROM dw JOIN wt USING (word) GROUP BY 1)
         |SELECT d.doc_id,
         |       CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
         |       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // replays the trained tokenizer (bpeOracleStages), the per-doc real
    // token counts (the q_t19 agg), and the q_t6 running-sum bin replay
    "q_t30_pack_bpe" ->
      s"""WITH ${bpeOracleStages(6)},
         |wt AS (
         |  SELECT word,
         |         len(list_filter(string_split(sym, '  '), x -> x != '')) AS toks
         |  FROM s6),
         |dw AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_words, sum(toks) AS n_tokens
         |  FROM dw JOIN wt USING (word) GROUP BY 1),
         |base AS (
         |  SELECT d.doc_id, d.lang,
         |         CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens
         |  FROM documents d LEFT JOIN agg USING (doc_id)),
         |packed AS (
         |  SELECT lang, doc_id, n_tokens,
         |         CAST(floor(COALESCE(sum(n_tokens) OVER (
         |             PARTITION BY lang ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           / 512) AS BIGINT) AS bin
         |  FROM base)
         |SELECT lang, bin, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS tokens_packed
         |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // replays the trained tokenizer (bpeOracleStages), the per-doc real
    // token counts, and the per-language integer sums + 6-dp ratio divisions
    "q_t27_tokenizer_fertility" ->
      s"""WITH ${bpeOracleStages(6)},
         |wt AS (
         |  SELECT word,
         |         len(list_filter(string_split(sym, '  '), x -> x != '')) AS toks
         |  FROM s6),
         |dw AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_words, sum(toks) AS n_tokens
         |  FROM dw JOIN wt USING (word) GROUP BY 1),
         |per AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(coalesce(n_words, 0)) AS BIGINT) AS n_words,
         |         CAST(sum(coalesce(n_tokens, 0)) AS BIGINT) AS n_tokens,
         |         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars
         |  FROM documents d LEFT JOIN agg USING (doc_id)
         |  GROUP BY 1)
         |SELECT lang, n_docs, n_words, n_tokens, n_chars,
         |       CASE WHEN n_words > 0
         |            THEN round(CAST(n_tokens AS DOUBLE) / n_words, 6)
         |            ELSE 0.0 END AS fertility,
         |       CASE WHEN n_tokens > 0
         |            THEN round(CAST(n_chars AS DOUBLE) / n_tokens, 6)
         |            ELSE 0.0 END AS chars_per_token
         |FROM per ORDER BY lang""".stripMargin,

    // Chunking: 1 + ceil(max(n-30,0)/20) windows per doc via exact integer
    // ceil ((a + s - 1) // s); slice bounds replayed inclusively.
    "q_t22_chunking" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, ws,
         |         unnest(generate_series(0,
         |           (greatest(len(ws) - 30, 0) + 19) // 20)) AS i
         |  FROM w WHERE len(ws) >= 1)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |       CAST(i * 20 + 1 AS INT) AS start_word,
         |       CAST(least(i * 20 + 30, len(ws)) AS INT) AS end_word,
         |       CAST(least(i * 20 + 30, len(ws)) - i * 20 AS INT) AS n_tokens,
         |       array_to_string(ws[(i * 20 + 1):least(i * 20 + 30, len(ws))], ' ')
         |         AS chunk_text
         |FROM g ORDER BY doc_id, chunk_idx""".stripMargin,

    // Chunk retrieval: DuckDB re-derives the chunks, hashes tokens into 64
    // dims via the shared md5-60-bit idiom, and scores exact integer
    // dot/norm cosine; selection by the unrounded double (identical IEEE
    // arithmetic from identical integers), ties by (doc_id, chunk_idx).
    "q_t23_chunk_retrieval" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, ws,
         |         unnest(generate_series(0,
         |           (greatest(len(ws) - 30, 0) + 19) // 20)) AS i
         |  FROM w WHERE len(ws) >= 1),
         |tok AS (
         |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |         unnest(ws[(i * 20 + 1):least(i * 20 + 30, len(ws))]) AS wd
         |  FROM g),
         |dimt AS (
         |  SELECT doc_id, chunk_idx,
         |         CAST(('0x' || substr(md5(wd), 1, 15))::BIGINT % 64 AS INT) AS dim,
         |         count(*) AS wt
         |  FROM tok GROUP BY 1, 2, 3),
         |qv AS (
         |  SELECT dim, wt AS qwt FROM dimt WHERE doc_id = 42 AND chunk_idx = 0),
         |qn AS (SELECT sum(qwt * qwt) AS q2 FROM qv),
         |nrm AS (
         |  SELECT doc_id, chunk_idx, sum(wt * wt) AS n2 FROM dimt GROUP BY 1, 2),
         |dot AS (
         |  SELECT d.doc_id, d.chunk_idx, sum(d.wt * q.qwt) AS dp
         |  FROM dimt d JOIN qv q USING (dim)
         |  WHERE NOT (d.doc_id = 42 AND d.chunk_idx = 0)
         |  GROUP BY 1, 2)
         |SELECT d.doc_id, d.chunk_idx,
         |       round(dp / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(q2 AS DOUBLE))), 6)
         |         AS cosine
         |FROM dot d JOIN nrm USING (doc_id, chunk_idx) CROSS JOIN qn
         |ORDER BY dp / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(q2 AS DOUBLE))) DESC,
         |         doc_id, chunk_idx
         |LIMIT 10""".stripMargin
  )
}
