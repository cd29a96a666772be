package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing queries for the corpus-preparation operators ([[Pipeline]])
  * plus the exact n-gram-Jaccard dedup twin. All five are fully
  * deterministic and DuckDB-oracle-checked — including the splits and the
  * shuffle, because [[Pipeline]] derives them from seeded md5, not RNG.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  private val splitFractions =
    Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
  private val splitSeed = "graft-split-42"
  private val shuffleSeed = "graft-shuffle-7"
  private val packBudget = 256L

  private val tokensSql = "filter(split(text, ' '), x -> x != '')"
  private val duckTokens = "list_filter(string_split(text, ' '), x -> x != '')"

  private val mergeLock = new Object

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic 80/10/10 hash split, summarized per (split, lang):
    // the reproducible-split primitive (same id -> same split on any
    // cluster, any rerun; no sampling RNG).
    "q_sp1_hash_split" -> ((s, dir) =>
      Pipeline.hashSplit(docs(s, dir), "doc_id", splitSeed, splitFractions)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_total"))
        .orderBy("split", "lang")),

    // Deterministic corpus shuffle: seed-keyed md5 defines the training
    // order; first 100 docs of the permutation. The write path is
    // Pipeline.deterministicShuffle (range exchange + local sorts — no
    // global sort); here the top-k prefix doubles as its oracle check.
    "q_sp2_det_shuffle" -> ((s, dir) =>
      docs(s, dir)
        .select(Pipeline.shuffleKey(col("doc_id"), shuffleSeed).as("shuffle_key"),
          col("doc_id"))
        .orderBy("shuffle_key")
        .limit(100)),

    // Token-budget sequence packing per language shard: one-pass streaming
    // bin assignment (bin = tokens_before / budget), summarized per bin.
    "q_t6_seq_pack" -> ((s, dir) =>
      Pipeline.packSequences(
          docs(s, dir).selectExpr("doc_id", "lang",
            s"CAST(size($tokensSql) AS BIGINT) AS n_tokens"),
          "lang", "doc_id", "n_tokens", packBudget)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_packed"))
        .orderBy("lang", "bin")),

    // Data-mixing recipe card (Gopher/Llama data-recipe shape): per
    // source, token mass, sqrt-weighted target allocation from a 2M-token
    // budget, and the implied exact milli-epoch count — small sources
    // land above 1000 (multi-epoch repetition), big ones below. Integer-
    // exact after one sqrt; one group shuffle + a 1-row broadcast total.
    "q_sp15_mix_recipe" -> ((s, dir) =>
      Pipeline.mixRecipe(
          docs(s, dir).selectExpr("source",
            s"CAST(size($tokensSql) AS BIGINT) AS n_tokens"),
          "source", "n_tokens", budgetTokens = 2000000L)
        .orderBy("source")),

    // Materialized mix on top of the q_sp15 recipe (100k-token budget so
    // epochs land ~3-4): every doc repeats per full epoch, and joins one
    // fractional epoch by a seeded md5-bucket draw at the exact milli
    // rate. The oracle replays the recipe arithmetic, the epoch
    // generate_series, and the threshold draw.
    "q_sp16_mix_materialize" -> ((s, dir) =>
      Pipeline.materializeMix(
          docs(s, dir).selectExpr("source", "doc_id",
            s"CAST(size($tokensSql) AS BIGINT) AS n_tokens"),
          "source", "doc_id", "n_tokens", budgetTokens = 100000L,
          seed = "graft-mix-16")
        .select("source", "doc_id", "epoch")
        .orderBy("source", "doc_id", "epoch")),

    // Packed-sample manifest — the loader-facing artifact on top of q_t6:
    // per doc, its bin plus position and starting token OFFSET inside the
    // bin (the attention-mask reset points at document boundaries). Same
    // single per-group exchange as packing (the second window reuses the
    // partitioning).
    "q_t32_pack_manifest" -> ((s, dir) =>
      Pipeline.packManifest(
          docs(s, dir).selectExpr("doc_id", "lang",
            s"CAST(size($tokensSql) AS BIGINT) AS n_tokens"),
          "lang", "doc_id", "n_tokens", packBudget)
        .select("lang", "bin", "seq_in_bin", "doc_id", "start_offset", "n_tokens")
        .orderBy("lang", "bin", "seq_in_bin")),

    // PII-style scrubbing: emails then numbers to typed tags, with per-doc
    // scrub counts and a redacted preview.
    "q_t7_redact" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        Pipeline.matchCount(col("text"), Pipeline.EmailRe).as("n_emails"),
        Pipeline.matchCount(col("text"), Pipeline.NumberRe).as("n_nums"),
        substring(Pipeline.redact(col("text")), 1, 120).as("preview"))
        .orderBy("doc_id")),

    // Word-blocklist flag card (the C4 "bad words" gate): sentinel words
    // planted by doc_id%5 at WORD BOUNDARIES, not just spaces — one
    // listed word against a comma (1); two distinct listed words with a
    // period, a NEWLINE boundary, a repeat, and a case-mangled spelling
    // (2); LONGER words CONTAINING a listed word as a substring,
    // including a parenthesized one, (3) which must NOT flag (word-level
    // matching, the classic false-positive guard); and a tab+multi-punct
    // boundary (4) — the r11 ADVICE under-blocking class (space-only
    // split missed 'badword,' / 'foo\nbadword'). The list itself carries
    // a case-mangled entry too, so both sides' lowercasing is
    // load-bearing. Corpus text never shuffles: distinct lowercased
    // boundary-split tokens broadcast-semi-join the list, one id-keyed
    // count.
    // ... plus the PHRASE class (r12 ADVICE: real lists carry multi-word
    // and hyphenated entries): the list's "ZZQX4-zzqx5" normalizes to the
    // phrase [zzqx4 zzqx5]; %5==0 plants it space-adjacent, %5==4 plants
    // it DOT-adjacent ("zzqx4.zzqx5" — boundary class, not spaces), and
    // %5==3 plants both words NON-adjacent, which must NOT flag
    // (adjacency is the phrase semantics). The "?!" entry has no token
    // at all and is dropped, not an error.
    "q_t34_word_blocklist" -> ((s, dir) => {
      import s.implicits._
      val planted = docs(s, dir).select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 5 === 1, lit(" zzqx1, tail"))
            .when(col("doc_id") % 5 === 2, lit(" zzqx1 ZZQX2.\nzzqx1 end"))
            .when(col("doc_id") % 5 === 3, lit(" xzzqx1x (zzqx1z) zzqx4 far zzqx5"))
            .when(col("doc_id") % 5 === 4, lit("\tzzqx3!? zzqx4.zzqx5 tail"))
            .otherwise(lit(" zzqx4 zzqx5, end"))).as("text"))
      Pipeline.wordBlocklistFlagged(planted, "doc_id", "text",
          Seq("zzqx1", "zzqx2", "ZZQX3", "ZZQX4-zzqx5", "?!").toDF("word"))
        .orderBy("doc_id")
    }),

    // Typed PII redaction at production breadth: email / phone / IPv4 /
    // IPv6 / number, each to a digit-free typed tag, counts taken stage-
    // wise so nothing double-counts. PLANTED CONSTRUCTION: doc_id % 5
    // prepends one PII class (the base text is lowercase words — zero
    // natural matches), doc_id % 9 appends two bare numbers; the oracle
    // never runs a regex — it builds the EXPECTED tagged text and counts
    // analytically from the construction, so a shared pattern bug fails
    // the hash (the q_u1/q_t29 discipline).
    "q_t31_pii_typed" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 1,
            lit("mail bob.smith+spam@mail.example.co.uk and "))
            .when(col("doc_id") % 5 === 2,
              lit("call +1-555-867-5309 or (212) 555-0123 now "))
            .when(col("doc_id") % 5 === 3,
              lit("host 10.0.0.1 and 192.168.100.255 up "))
            .when(col("doc_id") % 5 === 4,
              lit("node 2001:db8::7334 and fe80:1:2:3:4:5:6:7 on "))
            .otherwise(lit("")),
          coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 0, lit(" version 3.14 build 42"))
            .otherwise(lit(""))).as("text"))
      // r17 perf: spread before the five-pattern regex battery — it
      // otherwise runs on the scan's single split (two ~0.64 s one-task
      // jobs measured at sf0.1); only (doc_id, text) crosses (guide §2.5)
      Tables.spread(planted, col("doc_id"))
        .select(col("doc_id"), Pipeline.redactTyped(col("text")).as("p"))
        .select(col("doc_id"),
          col("p.n_emails").as("n_emails"), col("p.n_phones").as("n_phones"),
          col("p.n_ipv4").as("n_ipv4"), col("p.n_ipv6").as("n_ipv6"),
          col("p.n_nums").as("n_nums"),
          md5(col("p.clean")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Language-balanced corpus capping: keep at most 50 docs per language,
    // longest-first (deterministic tie-break on doc_id) — the rebalancing
    // step that stops one language from dominating a mixed corpus.
    "q_sp3_lang_cap" -> ((s, dir) =>
      Pipeline.capPerGroup(docs(s, dir), "lang",
          Seq(col("n_chars").desc, col("doc_id")), 50)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")),

    // Seeded stratified sampling: keep 50% of en, 25% of de, 0% of the
    // rest — membership is a pure function of (seed, doc_id), so the
    // sample is reproducible and stable under corpus growth.
    "q_sp4_stratified_sample" -> ((s, dir) =>
      Pipeline.stratifiedSample(docs(s, dir), "lang", "doc_id",
          "graft-strat-9", Map("en" -> 0.5, "de" -> 0.25))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")),

    // Split-leakage audit (the eval-contamination receipt a dataset card
    // ships): near-dup pairs at the q_d6 operating point tagged with each
    // side's hash-split membership, counted per unordered split pair —
    // off-diagonal rows are train/eval LEAKS (which is why Curation
    // dedups BEFORE splitting; this audit measures the raw corpus).
    // Scale shape: the pair set comes from the AllPairs prefix join
    // (never all-pairs; session-shared with q_d6 via
    // [[jaccardPairsShared]]), the split tag is a row-local md5 and joins
    // back id-keyed; everything after the pair join is pairs-sized.
    "q_sp14_split_leak_audit" -> ((s, dir) => {
      val d = docs(s, dir)
      val split = Pipeline.hashSplit(d, "doc_id", splitSeed, splitFractions)
        .select(col("doc_id"), col("split"))
      jaccardPairsShared(s, dir)
        .select("id_a", "id_b")
        .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .groupBy(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("split_lo", "split_hi")
    }),

    // Exact n-gram Jaccard near-dup pairs (word 3-grams, J >= 0.5) via the
    // prefix-filtered similarity join — EXACT results (oracle = the brute
    // force) without the all-pairs cross join, so this one scales. The
    // pair set is the session-shared artifact ([[jaccardPairsShared]],
    // build reported as `d6_pairs`); q_sp14 reuses it.
    "q_d6_ngram_jaccard" -> ((s, dir) =>
      jaccardPairsShared(s, dir)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    // Same join THROUGH the bucketed prefix-token index (the repeatedly-
    // joined-corpus shape): the token shuffle is paid once at index build —
    // an ingest-time step, built once per dataset dir and memoized like the
    // IVF index — and the query path is the exchange-free bucketed join +
    // verify. Same oracle as q_d6: identical output is the correctness
    // claim; BucketingSpec asserts the zero-exchange plan.
    "q_d7_ngram_jaccard_indexed" -> ((s, dir) =>
      Dedup.jaccardSimilarityJoinIndexed(s, d6IndexCached(s, dir), 0.5,
          expectShingleSize = Some(3))
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    // Directed CONTAINMENT join — the sub-document/quotation dedup signal
    // Jaccard structurally misses (a short doc quoted inside a long one
    // drowns in the union). True inclusions are planted in-query: every
    // 10th doc re-enters as its first-half word prefix, whose shingle set
    // is contained in the original's by construction (containment 1.0).
    // Runs THROUGH the bucketed containment index (the q_d7 move for the
    // directed join): the ranked-token shuffle — the direct path's
    // dominant cost — is paid once at index build (ingest-time, memoized
    // per dataset dir), and the query path is the exchange-free bucketed
    // candidate join + merge-scan verify. Oracle is the brute directed
    // scan over the same planted frame; DedupSpec pins indexed == direct.
    "q_d9_containment_join" -> ((s, dir) =>
      Dedup.containmentSimilarityJoinIndexed(s, d9IndexCached(s, dir), 0.6,
          expectShingleSize = Some(3))
        .withColumn("containment", round(col("containment"), 6))
        .orderBy("id_a", "id_b")),

    // Winnowing (MOSS) fingerprint-overlap pairs over the same planted
    // corpus: positional 3-gram hashes, min per 4-window, distinct
    // selected values; pairs sharing >= 2 sketch fingerprints (df-capped
    // at 50). The position-robust substring modality — the planted
    // half-prefix shares runs with its host wherever they sit, and the
    // sketch is ~2/5 of the gram count. md5 family = oracle-replayable.
    "q_d15_winnowing_pairs" -> ((s, dir) =>
      Dedup.winnowingPairs(containmentCorpus(s, dir), "doc_id", "text",
          k = 3, window = 4, minShared = 2, maxDf = 50,
          family = graft.functions.HashFamily.Md5)
        .orderBy("id_a", "id_b")),

    // L1 — CDC merge/upsert into a year-partitioned lake table
    // (graft.sources.LakeLayout.mergeUpsert): base = orders partitioned by
    // order year; the changeset re-prices every 7th key (deleting those
    // also divisible by 3) and inserts shifted copies of every 11th key.
    // The merge rewrites ONLY the touched year partitions (dynamic
    // partition overwrite; LakeLayoutSpec asserts untouched directories
    // stay byte-identical). The merge runs FRESH each invocation — it is
    // the operator under test, not an ingest-time artifact — and the
    // result is the post-merge table aggregated per partition, which the
    // oracle replays set-algebraically (survivors + updates + inserts).
    // Deterministic per-language sample: 20 docs per lang in seed-keyed
    // shuffle order (the replayable reservoir).
    "q_sp5_group_sample" -> ((s, dir) =>
      Pipeline.groupSample(docs(s, dir), "lang", "doc_id", n = 20,
          seed = shuffleSeed)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank")),

    // Bounded-memory per-group sampling as a custom TypedImperativeAggregate:
    // the partial (map-side) aggregation keeps <= n candidates per group,
    // so only groups x n rows reach the exchange — the 100 TB shape the
    // window-ranked q_sp5 cannot have (it shuffles every row). Same
    // selection function, so the output is q_sp5's rank <= 10 prefix.
    "q_sp7_sample_agg" -> ((s, dir) => {
      docs(s, dir)
        .groupBy("lang")
        .agg(expr(s"sample_ids(md5(concat('$shuffleSeed:', " +
          "CAST(doc_id AS STRING))), doc_id, 10)").as("ids"))
        .select(col("lang"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("sample_rank"),
          col("doc_id"))
        .orderBy("lang", "sample_rank")
    }),

    // Domain-mix sampling: shape the corpus to target per-language counts
    // (en-heavy mixture; es weight zero -> dropped).
    "q_sp6_mix_sample" -> ((s, dir) =>
      Pipeline.mixSample(docs(s, dir), "lang",
          caps = Map("en" -> 50, "de" -> 30, "fr" -> 20),
          idCol = "doc_id", seed = shuffleSeed)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank")),

    // Quality-weighted soft sampling: each doc survives with probability
    // equal to its lexical-quality score (ttr), decided by the seed-keyed
    // md5 uniform — no RNG, rerun-stable, row-local.
    "q_sp12_weighted_sample" -> ((s, dir) => {
      val w = "filter(split(text, ' '), x -> x != '')"
      val d = docs(s, dir).withColumn("w6", expr(
        s"""CASE WHEN size($w) = 0 THEN CAST(0.0 AS DOUBLE)
           |ELSE round(CAST(size(array_distinct($w)) AS DOUBLE) / size($w), 6)
           |END""".stripMargin))
      Pipeline.weightedSample(d, "doc_id", "w6", seed = shuffleSeed)
        .select("doc_id", "lang", "w6")
        .orderBy("doc_id")
    }),

    // Global deterministic sample: the 150 docs with the smallest
    // seed-keyed hash keys corpus-wide — plans as TakeOrderedAndProject
    // (per-partition top-n, no full shuffle, no global sort).
    "q_sp11_global_sample" -> ((s, dir) =>
      Pipeline.globalSample(docs(s, dir), "doc_id", n = 150,
          seed = shuffleSeed)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // Temperature mixing at alpha = 0.5: per-language caps DERIVED from
    // the counts (∝ sqrt(c) — upsamples rare languages vs proportional),
    // exact scaled-long cap arithmetic, rows in the q_sp5 shuffle order.
    "q_sp10_temperature_mix" -> ((s, dir) =>
      Pipeline.temperatureMix(docs(s, dir), "lang", "doc_id",
          totalTarget = 300L, alpha = 0.5, seed = shuffleSeed)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank")),

    // SCD type-2 dimension build from the orders change log: per-customer
    // versioned rows with half-open validity intervals. lead()-windowed,
    // one shuffle on the key.
    "q_l2_scd2" -> ((s, dir) =>
      graft.operators.TimeSeries.scd2(
          Tables.read(s, dir, "orders")
            .select("o_custkey", "o_orderdate", "o_orderkey",
              "o_orderstatus", "o_totalprice"),
          "o_custkey", "o_orderdate", tieBreakCols = Seq("o_orderkey"))
        .select(col("o_custkey"), col("version"), col("o_orderkey"),
          col("o_orderstatus"),
          col("valid_from").cast("date").as("valid_from"),
          col("valid_to").cast("date").as("valid_to"),
          col("is_current"))
        .orderBy("o_custkey", "version")),

    // Incremental aggregate maintenance (materialized-view refresh): a
    // per-(year, status) count/revenue table absorbs a CDC changeset as a
    // DELTA — the orders fact is read once to build the pristine aggregate
    // and once for the (synthetic, source-derived) changeset; maintenance
    // itself never re-reads it. The aggregate table is tiny, so each
    // invocation stages a fresh copy and applies the delta exactly once
    // (the apply is additive, deliberately NOT idempotent — re-running it
    // against a mutated table would double-count, so the table is
    // run-scoped; LakeLayoutSpec pins the partition-rewrite receipts).
    "q_l3_agg_maintain" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("rev", col("o_totalprice").cast("decimal(18,2)"))
      val agg0 = base.groupBy("o_year", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum("rev").as("revenue"))
      val path = RunDirs.fresh("graft_aggmaint")
      graft.sources.LakeLayout.writePartitioned(agg0, path,
        partitionCols = Seq("o_year"))
      val dels = base.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_year"), col("o_orderstatus"), col("rev"),
          lit(true).as("_del"))
      val ins = base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_year"), col("o_orderstatus"), col("rev"),
          lit(false).as("_del"))
      graft.sources.LakeLayout.maintainAggregate(s, path,
        dels.unionByName(ins), Seq("o_year", "o_orderstatus"),
        countCol = "n_orders", sumCols = Map("revenue" -> col("rev")),
        partitionCols = Seq("o_year"), deleteCol = Some("_del"))
      RunDirs.seal(
        s.read.parquet(path)
          .select(col("o_year").cast("int").as("o_year"), col("o_orderstatus"),
            col("n_orders"), col("revenue").cast("double").as("revenue"))
          .orderBy("o_year", "o_orderstatus"),
        path)
    }),

    // Snapshot-table TIME TRAVEL (r11 VERDICT #2): v1 = the base orders
    // table committed o_year-partitioned; v2 = a snapshot-atomic
    // mergeUpsert (price bump on %5 keys, %15 deletes, %9 inserts under
    // shifted keys). Both versions are then read from the SAME table
    // state: the v1 rows must still produce the PRE-merge numbers after
    // v2 commits — the atomicity/history guarantee, not just the merge
    // math. The table is run-scoped (commits are versioned; a shared
    // table would accrete history across invocations).
    "q_l5_snapshot_time_travel" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      val path = RunDirs.fresh("graft_snap")
      graft.sources.SnapshotTable.commitOverwrite(base, path, Seq("o_year"))
      val updates = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice",
          expr("floor(o_totalprice * 1.2D * 100D + 0.5D) / 100D"))
        .withColumn("_deleted", col("o_orderkey") % 3 === 0)
      val inserts = base.filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .withColumn("_deleted", lit(false))
      graft.sources.SnapshotTable.mergeUpsert(s, path,
        updates.unionByName(inserts), keyCols = Seq("o_orderkey"),
        partitionCols = Seq("o_year"), deleteCol = Some("_deleted"))
      def snap(v: Long) =
        graft.sources.SnapshotTable.readSnapshot(s, path, Some(v))
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .select(lit(v.toInt).as("version"), col("o_year"),
            col("n_orders"), col("revenue"))
      RunDirs.seal(
        snap(1L).unionByName(snap(2L)).orderBy("version", "o_year"), path)
    }),

    // Snapshot-atomic AGGREGATE maintenance (the q_l3 delta algebra with
    // q_l5's isolation proof): v1 = the initial per-(year, status)
    // aggregate committed o_year-partitioned; v2 = one
    // SnapshotTable.maintainAggregate of the %17-delete / %19-insert
    // changeset. BOTH versions read from the same table state — v1 must
    // still show the PRE-maintenance numbers after v2 commits. Different
    // mods than q_l3 so the two queries can't mask each other.
    "q_l6_snapshot_agg_maintain" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("rev", col("o_totalprice").cast("decimal(18,2)"))
      val agg0 = base.groupBy("o_year", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), sum("rev").as("revenue"))
      val path = RunDirs.fresh("graft_snapagg")
      graft.sources.SnapshotTable.commitOverwrite(agg0, path, Seq("o_year"))
      val dels = base.filter(col("o_orderkey") % 17 === 0)
        .select(col("o_year"), col("o_orderstatus"), col("rev"),
          lit(true).as("_del"))
      val ins = base.filter(col("o_orderkey") % 19 === 0)
        .select(col("o_year"), col("o_orderstatus"), col("rev"),
          lit(false).as("_del"))
      graft.sources.SnapshotTable.maintainAggregate(s, path,
        dels.unionByName(ins), Seq("o_year", "o_orderstatus"),
        countCol = "n_orders", sumCols = Map("revenue" -> col("rev")),
        partitionCols = Seq("o_year"), deleteCol = Some("_del"))
      def snap(v: Long) =
        graft.sources.SnapshotTable.readSnapshot(s, path, Some(v))
          .select(lit(v.toInt).as("version"),
            col("o_year").cast("int").as("o_year"), col("o_orderstatus"),
            col("n_orders"), col("revenue").cast("double").as("revenue"))
      RunDirs.seal(
        snap(1L).unionByName(snap(2L))
          .orderBy("version", "o_year", "o_orderstatus"),
        path)
    }),

    // Manifest COLUMN-STATS file skipping (r12 VERDICT #2): the orders
    // table committed range-clustered on o_custkey with per-file min/max
    // recorded in the manifest; the read prunes files whose bounds
    // provably exclude [500, 1200] BEFORE planning and applies the
    // residual filter. Correct under- AND over-pruning both fail the
    // oracle (missing rows / the residual filter masks nothing the
    // bounds lied about). SnapshotTableSpec asserts the <0.5 file-touch
    // fraction; this query pins the numbers.
    "q_l7_snapshot_stats_skipping" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
      val path = RunDirs.fresh("graft_snapstats")
      graft.sources.SnapshotTable.commitOverwrite(base, path, Nil,
        filesPerPartition = 16, clusterBy = Seq(col("o_custkey")),
        statsCols = Seq("o_custkey"))
      RunDirs.seal(
        graft.sources.SnapshotTable.readSnapshot(s, path,
            statsPruning = st =>
              graft.sources.ColStats.overlaps(st, "o_custkey", "500", "1200"))
          .filter(col("o_custkey").between(500L, 1200L))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .orderBy("o_orderstatus"),
        path)
    }),

    // MERGE-ON-READ delete (r12 VERDICT #5): v2 removes the %13 keys as
    // a delete-KEY file — no data file is rewritten (SnapshotTableSpec
    // proves byte-identity); the read anti-joins the keys away from
    // older files. Both versions read from the same post-delete table
    // state: v1 must still show the full corpus.
    "q_l8_snapshot_mor_delete" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      val path = RunDirs.fresh("graft_snapmor")
      graft.sources.SnapshotTable.commitOverwrite(base, path, Seq("o_year"))
      graft.sources.SnapshotTable.commitDeleteByKeys(s, path,
        base.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      def snap(v: Long) =
        graft.sources.SnapshotTable.readSnapshot(s, path, Some(v))
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .select(lit(v.toInt).as("version"), col("o_year"),
            col("n_orders"), col("revenue"))
      RunDirs.seal(
        snap(1L).unionByName(snap(2L)).orderBy("version", "o_year"), path)
    }),

    // CDC CHANGES read (r12 VERDICT #6): v2 = mergeUpsert (%5 price
    // bump with %15 deletes, %9 inserts under shifted keys), v3 = a
    // merge-on-read key delete; changes(1, 3) replays the version-range
    // diff from the MANIFEST alone (changed-file volume, not a table
    // scan) as insert/delete row images. The oracle computes the same
    // diff as multiset algebra (EXCEPT ALL both ways).
    "q_l9_snapshot_changes" -> ((s, dir) => {
      // localCheckpoint: the base frame feeds FOUR legs (overwrite,
      // updates, inserts, delete keys) — materialize the 3-column
      // projection once instead of re-scanning orders.parquet per leg
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
        .localCheckpoint()
      val path = RunDirs.fresh("graft_snapcdc")
      graft.sources.SnapshotTable.commitOverwrite(base, path, Seq("o_year"))
      val updates = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice",
          expr("floor(o_totalprice * 1.2D * 100D + 0.5D) / 100D"))
        .withColumn("_deleted", col("o_orderkey") % 3 === 0)
      val inserts = base.filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(300000000L))
        .withColumn("_deleted", lit(false))
      graft.sources.SnapshotTable.mergeUpsert(s, path,
        updates.unionByName(inserts), keyCols = Seq("o_orderkey"),
        partitionCols = Seq("o_year"), deleteCol = Some("_deleted"))
      graft.sources.SnapshotTable.commitDeleteByKeys(s, path,
        base.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      RunDirs.seal(
        graft.sources.SnapshotTable.changes(s, path, 1L, 3L)
          .groupBy(col("_change_type").as("change_type"),
            col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_rows"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .orderBy("change_type", "o_year"),
        path)
    }),

    // followChanges E2E under the hash gate (round 13): the incremental
    // consumer front door driven through its real lifecycle — initial
    // load as inserts, then one fused range spanning a merge AND a
    // merge-on-read delete, then a caught-up no-op (asserted by absence:
    // only two rounds emit rows). Counts per round and per change type
    // are the oracle's multiset algebra (the q_l9 construction, shifted
    // mods so the two queries cannot mask each other).
    "q_l10_follow_changes" -> ((s, dir) => {
      import s.implicits._
      // localCheckpoint: the base frame feeds FOUR legs (overwrite,
      // updates, inserts, delete keys) — the q_l9 discipline
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
        .localCheckpoint()
      val root = RunDirs.fresh("graft_follow")
      val path = s"$root/tbl"
      val wm = s"$root/wm"
      graft.sources.SnapshotTable.commitOverwrite(base, path, Seq("o_year"))
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
      def follow(round: Int): Unit =
        graft.sources.SnapshotTable.followChanges(s, path, wm) { (df, vf, vt) =>
          // one aggregate job per round, not one count() per change type
          val r = df.agg(
            count(when(col("_change_type") === "insert", 1)).as("ins"),
            count(when(col("_change_type") === "delete", 1)).as("del")).head()
          rounds += ((round, vf, vt, r.getLong(0), r.getLong(1)))
        }
      follow(1) // initial load
      val updates = base.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice",
          expr("floor(o_totalprice * 1.3D * 100D + 0.5D) / 100D"))
        .withColumn("_deleted", col("o_orderkey") % 3 === 0)
      val inserts = base.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(400000000L))
        .withColumn("_deleted", lit(false))
      graft.sources.SnapshotTable.mergeUpsert(s, path,
        updates.unionByName(inserts), keyCols = Seq("o_orderkey"),
        partitionCols = Seq("o_year"), deleteCol = Some("_deleted"))
      graft.sources.SnapshotTable.commitDeleteByKeys(s, path,
        base.filter(col("o_orderkey") % 17 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      follow(2) // fused (1, 3] range
      follow(3) // caught up: must emit NO row
      RunDirs.seal(
        rounds.toSeq.toDF("round", "v_from", "v_to", "n_inserts", "n_deletes")
          .orderBy("round"),
        root)
    }),

    // NAMED REFS lifecycle (round 14): branch/tag pointers driven through
    // create → append → pin → compact → CAS-advance → vacuum, then BOTH
    // refs read back BY NAME from post-maintenance table state. The
    // vacuum is load-bearing: keepSnapshots = 1 would reclaim v1 if the
    // 'rel' pin did not protect it, so the rel branch's numbers failing
    // to match the pristine base is exactly the retention bug. The 'exp'
    // advance rides a compaction commit, proving refs survive full file
    // rewrites (content, not files, is what a ref pins).
    "q_l11_snapshot_refs" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
      val path = RunDirs.fresh("graft_snapref")
      val st = graft.sources.SnapshotTable
      st.commitOverwrite(base, path, Seq("o_year"))
      st.createRef(path, "rel") // pins v1
      st.commitAppend(
        base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(500000000L)),
        path, Seq("o_year"))
      st.createRef(path, "exp", Some(2L))
      st.compact(s, path, Seq("o_year")) // v3: every file rewritten
      st.advanceRef(path, "exp", 3L, expected = Some(2L))
      st.vacuum(s, path, keepSnapshots = 1, minAgeMs = 0)
      def agg(ref: String) =
        st.readRef(s, path, ref)
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .select(lit(ref).as("ref"),
            lit(st.refVersion(path, ref).get.toInt).as("ref_version"),
            col("o_year"), col("n_orders"), col("revenue"))
      RunDirs.seal(
        agg("rel").unionByName(agg("exp")).orderBy("ref", "o_year"), path)
    }),

    // Metadata-ONLY aggregates (r14 VERDICT #2): per-partition file/row
    // counts and column min/max answered from manifest rows + per-file
    // stats — the Iceberg metadata-table surface. The two commits record
    // rows+bounds in their stats read-back; the aggregate then NEVER
    // plans a data file (SnapshotTableSpec holds the zero-FileScan
    // receipt), yet the driver hash demands it equal the oracle's
    // full-scan twin exactly. At 100 TB this is the difference between
    // microseconds over kilobytes of manifest and a full-table scan.
    "q_l12_metadata_aggregates" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
      val path = RunDirs.fresh("graft_metaagg")
      val st = graft.sources.SnapshotTable
      val statsCols = Seq("o_orderkey", "o_totalprice")
      st.commitOverwrite(base, path, Seq("o_year"), statsCols = statsCols)
      st.commitAppend(
        base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(700000000L)),
        path, Seq("o_year"), statsCols = statsCols)
      RunDirs.seal(
        st.metadataAggregate(s, path, statsCols)
          .select(
            expr("CAST(split(part_spec, '=')[1] AS INT)").as("o_year"),
            col("n_files"), col("n_rows"),
            expr("CAST(mins['o_orderkey'] AS BIGINT)").as("min_key"),
            expr("CAST(maxs['o_orderkey'] AS BIGINT)").as("max_key"),
            expr("CAST(mins['o_totalprice'] AS DOUBLE)").as("min_price"),
            expr("CAST(maxs['o_totalprice'] AS DOUBLE)").as("max_price"))
          .orderBy("o_year"),
        path)
    }),

    // FIELD-ID SCHEMA EVOLUTION (r16 VERDICT #2): the full Iceberg-class
    // lifecycle under the driver hash — v1 commits the base table, v2
    // RENAMES o_totalprice to price and ADDS segment, v3 appends rows
    // that carry both, v4 DROPS segment, v5 RE-ADDS the same name. The
    // two graded reads pin the semantics field ids exist for: at v3 the
    // renamed column must read the OLD files' o_totalprice values (same
    // field id — rename is not drop+add) while segment is non-null only
    // for appended rows; at v5 segment must be NULL EVERYWHERE (the
    // re-added name has a fresh id, so the appended files' dropped
    // values cannot resurrect). The oracle replays both projections
    // analytically from orders.parquet — a name-based resolver diverges
    // on either read and fails the hash.
    "q_l13_schema_evolution" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
      val path = RunDirs.fresh("graft_snapevo")
      val st = graft.sources.SnapshotTable
      st.commitOverwrite(base, path, Seq("o_year")) // v1
      st.evolveSchema(path, Seq(
        st.RenameColumn("o_totalprice", "price"),
        st.AddColumn("segment", "string"))) // v2
      st.commitAppend(
        base.filter(col("o_orderkey") % 7 === 0)
          .select(
            (col("o_orderkey") + lit(600000000L)).as("o_orderkey"),
            col("o_year"),
            col("o_totalprice").as("price"),
            concat(lit("s"), col("o_orderkey") % 3).as("segment")),
        path, Seq("o_year")) // v3
      st.evolveSchema(path, Seq(st.DropColumn("segment"))) // v4
      st.evolveSchema(path, Seq(st.AddColumn("segment", "string"))) // v5
      def snap(v: Long) =
        st.readSnapshot(s, path, Some(v), allowSchemaEvolution = true)
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("price").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"),
            count(col("segment")).as("n_seg"))
          .select(lit(v.toInt).as("version"), col("o_year"),
            col("n_orders"), col("revenue"), col("n_seg"))
      RunDirs.seal(
        snap(3L).unionByName(snap(5L)).orderBy("version", "o_year"), path)
    }),

    // EXACTLY-ONCE STREAMING INGESTION into the snapshot table (r16
    // VERDICT #3) under the driver hash: the orders corpus staged as 3
    // mtime-ordered files, replayed through a REAL Structured Streaming
    // query (file source, one file per micro-batch) whose foreachBatch is
    // [[graft.streaming.StreamSinks.snapshotTxnSink]] — each micro-batch
    // one atomic commitAppendTxn. After the stream drains, batch 1 is
    // FAILURE-REPLAYED through the same sink: the txn must settle as a
    // committed no-op. The output reads the ingested table back plus the
    // count of data-bearing commits — a duplicated batch fails on
    // n_orders/revenue AND n_commits; a dropped batch on the totals.
    "q_l14_stream_snapshot_ingest" -> ((s, dir) => {
      // localCheckpoint: feeds three staged slices + the replay without
      // re-scanning orders.parquet per leg (the q_l9 discipline)
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
        .localCheckpoint()
      val root = RunDirs.fresh("graft_snapstream")
      val in = s"$root/in"
      val table = s"$root/tbl"
      (0 until 3).foreach { k =>
        base.filter(col("o_orderkey") % 3 === k)
          .coalesce(1).write.parquet(s"$in/b$k")
        // distinct mtimes pin the file-source batch order b0, b1, b2
        Option(new java.io.File(s"$in/b$k").listFiles())
          .getOrElse(Array.empty)
          .foreach(f => f.setLastModified(1700000000000L + k * 60000L))
      }
      val src = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(in)
      val sink = graft.streaming.StreamSinks.snapshotTxnSink(
        table, Seq("o_year"), txnAppId = "l14")
      val q = src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"$root/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // failure replay of micro-batch 1: settleTxn probes it COMMITTED
      // and returns before staging a byte — no version, no files, no rows
      sink(base.filter(col("o_orderkey") % 3 === 1), 1L)
      val st = graft.sources.SnapshotTable
      val nCommits = st.manifest(table).filterNot(_.isDelete)
        .map(_.commitVersion).distinct.size
      RunDirs.seal(
        st.readSnapshot(s, table)
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .select(col("o_year"), col("n_orders"), col("revenue"),
            lit(nCommits).as("n_commits"))
          .orderBy("o_year"),
        root)
    }),

    // BLOOM point-lookup file skipping (r17): per-file manifest blooms
    // prune EQUALITY probes on an unclustered layout where min/max stats
    // cannot (every file's key range overlaps). Six analytically-chosen
    // orderkeys are each fetched through a bloom-pruned read; the oracle
    // is the plain key join, so a bloom that wrongly prunes the match's
    // file loses a row and fails the hash (false positives only cost
    // extra reads — BloomPruneSpec holds the pruning-fraction receipt).
    "q_l18_bloom_point_lookup" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
      val path = RunDirs.fresh("graft_snapbloom")
      val st = graft.sources.SnapshotTable
      st.commitOverwrite(base, path, Seq("o_year"), filesPerPartition = 4,
        bloomCols = Seq("o_orderkey"))
      val keys = base.filter(col("o_orderkey") % 1999 === 0)
        .select("o_orderkey").orderBy("o_orderkey").limit(6)
        .as[Long].collect() // 6 keys — bounded by construction
      val results = keys.map { k =>
        st.readSnapshot(s, path,
            bloomPruning = st.bloomPrune("o_orderkey", k))
          .filter(col("o_orderkey") === k)
      }.reduce(_.unionByName(_))
      RunDirs.seal(results.orderBy("o_orderkey"), path)
    }),

    // EXACTLY-ONCE TABLE MIRROR under the driver hash (r17): a source
    // lifecycle — overwrite, merge (updates with embedded deletes +
    // inserts), MoR key delete — replicated version-by-version into a
    // SECOND snapshot table through mirrorChanges' txn-keyed commits,
    // then the DESTINATION graded against the source-algebra oracle.
    // The mirror is re-run after catching up (all txns must settle as
    // no-ops), and the destination's commit count is part of the hash —
    // a replay that double-applies, a crash protocol that loses the
    // delete leg, or an update pair applied in the wrong order all
    // shift the totals or the commit count.
    "q_l17_mirror" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
        .localCheckpoint()
      val root = RunDirs.fresh("graft_snapmirror")
      val src = s"$root/src"
      val dst = s"$root/dst"
      val wm = s"$root/wm"
      val st = graft.sources.SnapshotTable
      st.commitOverwrite(base, src, Seq("o_year")) // v1
      val updates = base.filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_totalprice",
          expr("floor(o_totalprice * 1.4D * 100D + 0.5D) / 100D"))
        .withColumn("_deleted", col("o_orderkey") % 5 === 0)
      val inserts = base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(800000000L))
        .withColumn("_deleted", lit(false))
      st.mergeUpsert(s, src, updates.unionByName(inserts),
        keyCols = Seq("o_orderkey"), partitionCols = Seq("o_year"),
        deleteCol = Some("_deleted")) // v2
      st.commitDeleteByKeys(s, src,
        base.filter(col("o_orderkey") % 19 === 0).select("o_orderkey"),
        Seq("o_orderkey")) // v3
      st.mirrorChanges(s, src, dst, wm, Seq("o_orderkey"), Seq("o_year"))
      // caught-up replay: every txn settles, no new dst version
      st.mirrorChanges(s, src, dst, wm, Seq("o_orderkey"), Seq("o_year"))
      val nDst = st.currentVersion(dst).get.toInt
      RunDirs.seal(
        st.readSnapshot(s, dst)
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .select(col("o_year"), col("n_orders"), col("revenue"),
            lit(nDst).as("n_dst_commits"))
          .orderBy("o_year"),
        root)
    }),

    // TYPE WIDENING under the driver hash (r17, completing the field-id
    // evolution surface): v1 commits INT key/cents columns, v2 widens
    // both to BIGINT (ids unchanged — WidenColumn), v3 appends rows
    // whose values only fit the WIDENED types (keys + 5e9, cents +
    // 3e9). The graded read folds old-file int values (cast up by the
    // id-resolution read) together with the new bigint rows — a reader
    // that re-reads old files under the old type, or a widening that
    // secretly re-ids the column (NULLing old files), shifts the sums
    // and fails the hash.
    "q_l16_type_widening" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .select(
          col("o_orderkey").cast("int").as("okey"),
          year(col("o_orderdate")).as("o_year"),
          expr("CAST(floor(o_totalprice * 100D + 0.5D) AS INT)").as("cents"))
      val path = RunDirs.fresh("graft_snapwide")
      val st = graft.sources.SnapshotTable
      st.commitOverwrite(base, path, Seq("o_year")) // v1: int columns
      st.evolveSchema(path, Seq(
        st.WidenColumn("okey", "bigint"),
        st.WidenColumn("cents", "bigint"))) // v2
      st.commitAppend(
        base.filter(col("okey") % 7 === 0)
          .select(
            (col("okey").cast("bigint") + lit(5000000000L)).as("okey"),
            col("o_year"),
            (col("cents").cast("bigint") + lit(3000000000L)).as("cents")),
        path, Seq("o_year")) // v3: values beyond int range
      RunDirs.seal(
        st.readSnapshot(s, path, allowSchemaEvolution = true)
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_rows"),
            sum("okey").as("sum_okey"),
            sum("cents").as("sum_cents"))
          .orderBy("o_year"),
        path)
    }),

    // MoR DELETE-FILE MAINTENANCE (r16 VERDICT #4) under the driver
    // hash: v1 commits the orders table, v2 lands a %13 merge-on-read
    // key delete, then rewriteDeletes folds the delete file into
    // rewritten partition files. The graded read is the POST-maintenance
    // version — identical numbers to the q_l8 resolved read but with
    // ZERO delete entries in the manifest (pinned via n_del; the
    // anti-join-free plan shape is RewriteDeletesSpec's receipt). An
    // over-eager rewrite (dropping rows), an under-eager one (dropped
    // delete file still needed), or a partition the victim scan missed
    // all change the totals and fail the hash.
    "q_l15_mor_rewrite" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_year", "o_totalprice")
      val path = RunDirs.fresh("graft_snaprw")
      val st = graft.sources.SnapshotTable
      st.commitOverwrite(base, path, Seq("o_year"))
      st.commitDeleteByKeys(s, path,
        base.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      val v = st.rewriteDeletes(s, path, Seq("o_year"))
      val nDel = st.manifest(path, Some(v)).count(_.isDelete)
      RunDirs.seal(
        st.readSnapshot(s, path, Some(v))
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")) / 100.0).as("revenue"))
          .select(col("o_year"), col("n_orders"), col("revenue"),
            lit(nDel).as("n_del"))
          .orderBy("o_year"),
        path)
    }),

    "q_l1_merge_upsert" -> ((s, dir) => {
      val base = Tables.read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val path =
        s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_merge/$key"
      // The base table is ingest-time state, built once per dataset dir
      // (one file per year partition via our own layout writer). The
      // MERGE is the operator under test and runs every invocation; it is
      // IDEMPOTENT here because the changeset derives from the immutable
      // source parquet, not from table state — survivors∖keys ∪ upserts
      // reaches the same fixed point from the pristine or merged table.
      mergeLock.synchronized {
        if (!new java.io.File(s"$path/_graft_base_ready").exists()) {
          graft.sources.LakeLayout.writePartitioned(base, path,
            partitionCols = Seq("o_year"))
          new java.io.File(s"$path/_graft_base_ready").createNewFile()
        }
      }
      val updates = base.filter(col("o_orderkey") % 7 === 0)
        // floor(x*100 + 0.5)/100 instead of round(x, 2): every step is a
        // plain IEEE double op, so Spark and the oracle engine agree
        // bit-for-bit (their round(double, 2) builtins differ on ties)
        .withColumn("o_totalprice",
          expr("floor(o_totalprice * 1.1D * 100D + 0.5D) / 100D"))
        .withColumn("_deleted", col("o_orderkey") % 3 === 0)
      val inserts = base.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("_deleted", lit(false))
      graft.sources.LakeLayout.mergeUpsert(s, path,
        updates.unionByName(inserts),
        keyCols = Seq("o_orderkey"), partitionCols = Seq("o_year"),
        deleteCol = Some("_deleted"))
      s.read.parquet(path)
        .groupBy(col("o_year").cast("int").as("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          (sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")) / 100.0).as("revenue"))
        .orderBy("o_year")
    }),

    // SP9 — leakage-safe (dedup-aware) train/valid/test split: near-dup
    // CLUSTERS are the split unit, not documents — a pair of near-dups can
    // never straddle train and test (the train/test-contamination failure
    // a naive per-doc split bakes in). Reuses the memoized MinHash pair
    // stage and the connected-components labels; the in-plan
    // `leaked_pairs` column COUNTS straddling pairs, so the oracle hash
    // asserts zero leakage structurally, not by trust.
    "q_sp9_leakage_safe_split" -> ((s, dir) => {
      val pairs = DedupQueries.textPairsShared(s, dir).select("id_a", "id_b")
      val clusters = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      val labeled = docs(s, dir).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val assigned = Pipeline.hashSplit(labeled, "cluster", "graft-leak-3",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      val sp = assigned.select("doc_id", "split")
      val leaked = pairs
        .join(sp.toDF("id_a", "sa"), "id_a")
        .join(sp.toDF("id_b", "sb"), "id_b")
        .filter(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("leaked_pairs"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster").as("n_clusters"),
          min("doc_id").as("first_doc"))
        .crossJoin(broadcast(leaked))
        .orderBy("split")
    }),

    // SP8 — deterministic hash-ring negative sampling: 3 seeded negatives
    // per anchor document for contrastive-pair construction
    // (Pipeline.negativeSample — global md5 ring run as a bucket-local
    // merge + broadcast successor table). No RNG: the full pair listing
    // is the query result, so the oracle hash pins every single draw.
    "q_sp8_negative_sample" -> ((s, dir) =>
      Pipeline.negativeSample(
          Tables.read(s, dir, "documents").select("doc_id"),
          "doc_id", k = 3, seed = "graft-neg-7")
        .orderBy("anchor", "j")),

    // L4 — snapshot diff: what changed between two corpus snapshots, by
    // content fingerprint (Pipeline.snapshotDiff — one id-keyed full-outer
    // join carrying hashes, not documents). The "current" snapshot derives
    // deterministically from the source: every 17th doc dropped, every
    // 13th edited, every 29th re-added under a shifted id — so DuckDB can
    // replay the exact change set.
    "q_l4_snapshot_diff" -> ((s, dir) => {
      val prev = Tables.read(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val src = Tables.read(s, dir, "documents")
      val cur = src.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 13 === 1, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("fp"))
        .unionByName(src.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(col("text")).as("fp")))
      Pipeline.snapshotDiff(prev, cur, "doc_id", "fp")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
        .orderBy("status")
    })
  )

  /** Build-once prefix-token index per (session, dataset dir) — index
    * construction is ingest-time work (Bench builds it untimed; ScaleBench
    * times it separately as d6_index_build_sec), so the query measures the
    * join a user with a maintained corpus index would run.
    */
  // Memoized per dataset dir, but VALIDATED against the calling session's
  // catalog: a second SparkSession in the same JVM (test suites, repeated
  // Bench mains) shares the TrieMap but not necessarily the catalog entry,
  // so a hit whose table the session can't see rebuilds instead of handing
  // back a dangling name. The external path is deterministic per dir (and
  // written mode=overwrite), so rebuilds reuse one directory rather than
  // leaking a fresh temp dir per build. `version` bumps BOTH the table
  // name and the path when the on-disk layout changes (the d6 v2 sorted-
  // hashed-sets migration), so a live session or stale directory can never
  // be read with a newer plan. One helper so the next such fix lands once.
  private def indexCached(cache: scala.collection.concurrent.TrieMap[String, String],
                          lock: Object, s: SparkSession, dir: String,
                          prefix: String, version: String)
                         (build: (String, String) => Unit): String =
    lock.synchronized {
      // a hit must have BOTH halves of the index: an interrupted build or
      // external drop can leave `_tokens` without `_sets`, and handing that
      // name back fails later with an opaque table-not-found
      cache.get(dir).filter(t => s.catalog.tableExists(s"${t}_tokens") &&
          s.catalog.tableExists(s"${t}_sets"))
        .getOrElse {
          val (table, path) = indexLocation(prefix, dir, version)
          build(table, path)
          cache(dir) = table
          table
        }
    }

  /** THE (prefix, dataset dir, layout version) → (table name, external
    * path) derivation — one definition shared by [[indexCached]] and the
    * standalone mains (ScaleBench), so a layout bump that must move BOTH
    * the table name and the on-disk path (the d6 v2 migration) lands once.
    */
  private[graft] def indexLocation(prefix: String, dir: String,
                                   version: String,
                                   fmt: String = PersistentLayout.Fmt): (String, String) = {
    // fmt folded into the hash (r15 VERDICT #6): a global layout bump
    // moves EVERY index's table name and path in one line — old-layout
    // artifacts become unreachable instead of misread
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$fmt|$dir".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    (s"${prefix}_${key}_$version",
      s"${System.getProperty("java.io.tmpdir", "/tmp")}/$prefix/$key-$version")
  }

  /** Bucket count sized to the corpus: ~200 docs of tokens per bucket
    * file — 32 buckets over a 500-doc test corpus is pure per-task
    * overhead, and a 50k-doc corpus wants the full width.
    */
  private def bucketsFor(nDocs: Long): Int =
    math.max(4, math.min(32, (nDocs / 200).toInt))

  /** The exact n-gram Jaccard pair set at the q_d6 contract (word
    * 3-grams, J >= 0.5), computed ONCE per (SparkContext, dataset dir) —
    * the DedupQueries.textPairsShared one-stage-many-outputs shape:
    * q_d6 lists the pairs, q_sp14 cross-tabulates them against split
    * membership. Bench reports the build as `d6_pairs` so the shared cost
    * is never hidden. Sharing is also the r11 variance fix: q_sp14's
    * same-boot bench reps spanned 2.25–18.03 s in round 10 because each
    * rep re-ran the AllPairs verify's giant codegen'd expression inside a
    * 179-query JVM (isolated 7-rep runs converge smoothly to ~2 s, so the
    * spread is JVM churn — Spark's bounded generated-class cache evicting
    * under 179 queries' worth of code — not AQE plan instability; see
    * SCALING.md r11b). Against the localCheckpointed artifact the reps do
    * pairs-sized work only.
    */
  private val jaccardPairsMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private val jaccardPairsLock = new Object
  private[graft] def jaccardPairsShared(s: SparkSession, dir: String): DataFrame =
    jaccardPairsLock.synchronized {
      jaccardPairsMemo.getOrElseUpdate(
        (System.identityHashCode(s.sparkContext), dir),
        Dedup.jaccardSimilarityJoin(docs(s, dir), "doc_id", "text",
          shingleSize = 3, threshold = 0.5).localCheckpoint())
    }

  private val d6Indexes = scala.collection.concurrent.TrieMap.empty[String, String]
  private val d6Lock = new Object
  private[graft] def d6IndexCached(s: SparkSession, dir: String): String =
    // v2: the _sets table stores sorted hashed token sets (shh)
    indexCached(d6Indexes, d6Lock, s, dir, "graft_d6idx", "v2") { (table, path) =>
      val d = docs(s, dir)
      Dedup.prefixTokenIndexWrite(d, "doc_id", "text",
        name = table, shingleSize = 3, threshold = 0.5,
        buckets = bucketsFor(d.count()), externalPath = Some(path))
    }

  /** Every 10th doc's first-half word prefix re-entering under
    * doc_id + `offset` — a guaranteed containment-1.0 inclusion. ONE
    * definition (q_d9/q_d15 registry corpus, their DuckDB oracles replay
    * it, and ScaleSmoke's 55k-doc receipt reuses it with a larger offset)
    * so the planted shape can't silently desynchronize across receipts.
    */
  private[graft] def plantedFragments(d: DataFrame,
                                      offset: Long = 700000L): DataFrame = {
    val w = "filter(split(text, ' '), x -> x != '')"
    d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(offset)).as("doc_id"),
        expr(s"array_join(slice($w, 1, greatest(CAST(ceil(size($w) / 2) AS INT), 3)), ' ')")
          .as("text"))
  }

  /** The q_d9/q_d15 planted-containment corpus: the documents table plus
    * its [[plantedFragments]].
    */
  private[graft] def containmentCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(plantedFragments(d))
  }

  /** Build-once containment index per (session, dataset dir) over the
    * planted corpus — same memoization/validation discipline as
    * [[d6IndexCached]] (catalog-checked hit, deterministic external path,
    * mode=overwrite rebuilds).
    */
  private val d9Indexes = scala.collection.concurrent.TrieMap.empty[String, String]
  private val d9Lock = new Object
  private[graft] def d9IndexCached(s: SparkSession, dir: String): String =
    indexCached(d9Indexes, d9Lock, s, dir, "graft_d9idx", "v1") { (table, path) =>
      val d = containmentCorpus(s, dir)
      Dedup.containmentIndexWrite(d, "doc_id", "text",
        name = table, shingleSize = 3, buckets = bucketsFor(d.count()),
        externalPath = Some(path))
    }

  private val duckShingles3 =
    """list_distinct(CASE WHEN len(w) >= 3
      |  THEN list_transform(generate_series(1, len(w) - 2),
      |                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |  ELSE [] END)""".stripMargin

  val oracles: Map[String, String] = {
    val Seq(thTrain, thValid) =
      Pipeline.hexThresholds(splitFractions.map(_._2))
    Map(
      "q_sp1_hash_split" ->
        s"""SELECT split, lang, count(*) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
           |FROM (SELECT lang, n_chars,
           |        CASE WHEN substr(md5('$splitSeed:' || CAST(doc_id AS VARCHAR)), 1, 4) < '$thTrain' THEN 'train'
           |             WHEN substr(md5('$splitSeed:' || CAST(doc_id AS VARCHAR)), 1, 4) < '$thValid' THEN 'valid'
           |             ELSE 'test' END AS split
           |      FROM documents)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_sp2_det_shuffle" ->
        s"""SELECT md5('$shuffleSeed:' || CAST(doc_id AS VARCHAR)) AS shuffle_key, doc_id
           |FROM documents ORDER BY 1 LIMIT 100""".stripMargin,

      // Replays the merge set-algebraically: survivors (keys not in the
      // changeset) + re-priced updates (minus deletes) + shifted inserts,
      // aggregated per partition with the exact-decimal sum idiom.
      "q_sp5_group_sample" ->
        s"""WITH ranked AS (
           |  SELECT lang, doc_id,
           |         CAST(row_number() OVER (
           |           PARTITION BY lang
           |           ORDER BY md5('$shuffleSeed:' || CAST(doc_id AS VARCHAR)),
           |                    doc_id) AS INTEGER) AS sample_rank
           |  FROM documents)
           |SELECT lang, sample_rank, doc_id
           |FROM ranked WHERE sample_rank <= 20
           |ORDER BY lang, sample_rank""".stripMargin,

      // same ranking as q_sp5, capped at the aggregate's bound
      "q_sp7_sample_agg" ->
        s"""WITH ranked AS (
           |  SELECT lang, doc_id,
           |         CAST(row_number() OVER (
           |           PARTITION BY lang
           |           ORDER BY md5('$shuffleSeed:' || CAST(doc_id AS VARCHAR)),
           |                    doc_id) AS INTEGER) AS sample_rank
           |  FROM documents)
           |SELECT lang, sample_rank, doc_id
           |FROM ranked WHERE sample_rank <= 10
           |ORDER BY lang, sample_rank""".stripMargin,

      "q_sp6_mix_sample" ->
        s"""WITH caps(lang, cap) AS (VALUES ('en', 50), ('de', 30), ('fr', 20)),
           |ranked AS (
           |  SELECT d.lang, d.doc_id, c.cap,
           |         CAST(row_number() OVER (
           |           PARTITION BY d.lang
           |           ORDER BY md5('$shuffleSeed:' || CAST(d.doc_id AS VARCHAR)),
           |                    d.doc_id) AS INTEGER) AS sample_rank
           |  FROM documents d JOIN caps c ON d.lang = c.lang)
           |SELECT lang, sample_rank, doc_id
           |FROM ranked WHERE sample_rank <= cap
           |ORDER BY lang, sample_rank""".stripMargin,

      // replays the md5 uniform, the clamp, and the weight comparison
      "q_sp12_weighted_sample" ->
        s"""WITH d AS (
           |  SELECT doc_id, lang,
           |         CASE WHEN len(w) = 0 THEN 0.0
           |              ELSE round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
           |         END AS w6
           |  FROM (SELECT doc_id, lang,
           |               list_filter(string_split(text, ' '), x -> x != '') AS w
           |        FROM documents))
           |SELECT doc_id, lang, w6 FROM d
           |WHERE CAST(('0x' || substr(md5('$shuffleSeed:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
           |        / 1152921504606846976.0 < least(1.0, greatest(0.0, w6))
           |ORDER BY doc_id""".stripMargin,

      // replays the global hash order and the cut
      "q_sp11_global_sample" ->
        s"""SELECT doc_id, lang, source FROM (
           |  SELECT doc_id, lang, source FROM documents
           |  ORDER BY md5('$shuffleSeed:' || CAST(doc_id AS VARCHAR)), doc_id
           |  LIMIT 150)
           |ORDER BY doc_id""".stripMargin,

      // replays the derived caps (sqrt weights as scaled longs, exact
      // integer division) and the seed-keyed selection order
      "q_sp10_temperature_mix" ->
        s"""WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
           |w AS (SELECT lang, CAST(round(sqrt(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS w6 FROM c),
           |tot AS (SELECT sum(w6) AS tw6 FROM w),
           |caps AS (SELECT lang, (300 * w6) // tw6 AS cap FROM w, tot),
           |ranked AS (
           |  SELECT d.lang, d.doc_id, caps.cap,
           |         CAST(row_number() OVER (
           |           PARTITION BY d.lang
           |           ORDER BY md5('$shuffleSeed:' || CAST(d.doc_id AS VARCHAR)),
           |                    d.doc_id) AS INTEGER) AS sample_rank
           |  FROM documents d JOIN caps ON d.lang = caps.lang)
           |SELECT lang, sample_rank, doc_id
           |FROM ranked WHERE sample_rank <= cap
           |ORDER BY lang, sample_rank""".stripMargin,

      // replays the delta algebra: base aggregate ± changeset contributions
      // both versions analytic: v1 the plain agg, v2 the delta algebra —
      // the Spark side reading v1's pre-maintenance numbers from
      // post-maintenance table state is the isolation proof
      "q_l6_snapshot_agg_maintain" ->
        """WITH base AS (
          |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
          |         o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS rev
          |  FROM orders),
          |agg0 AS (
          |  SELECT o_year, o_orderstatus, count(*) AS n, sum(rev) AS revenue
          |  FROM base GROUP BY 1, 2),
          |delta AS (
          |  SELECT o_year, o_orderstatus,
          |         sum(CASE WHEN del THEN -1 ELSE 1 END) AS dn,
          |         sum(CASE WHEN del THEN -rev ELSE rev END) AS drev
          |  FROM (
          |    SELECT o_year, o_orderstatus, rev, TRUE AS del
          |    FROM base WHERE o_orderkey % 17 = 0
          |    UNION ALL
          |    SELECT o_year, o_orderstatus, rev, FALSE AS del
          |    FROM base WHERE o_orderkey % 19 = 0)
          |  GROUP BY 1, 2),
          |v1 AS (
          |  SELECT 1 AS version, o_year, o_orderstatus,
          |         CAST(n AS BIGINT) AS n_orders,
          |         CAST(revenue AS DOUBLE) AS revenue
          |  FROM agg0),
          |v2 AS (
          |  SELECT 2 AS version, a.o_year, a.o_orderstatus,
          |         CAST(a.n + coalesce(d.dn, 0) AS BIGINT) AS n_orders,
          |         CAST(a.revenue + coalesce(d.drev, 0) AS DOUBLE) AS revenue
          |  FROM agg0 a LEFT JOIN delta d USING (o_year, o_orderstatus)
          |  WHERE a.n + coalesce(d.dn, 0) > 0)
          |SELECT * FROM v1 UNION ALL SELECT * FROM v2
          |ORDER BY version, o_year, o_orderstatus""".stripMargin,

      "q_l3_agg_maintain" ->
        """WITH base AS (
          |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
          |         o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS rev
          |  FROM orders),
          |agg0 AS (
          |  SELECT o_year, o_orderstatus, count(*) AS n, sum(rev) AS revenue
          |  FROM base GROUP BY 1, 2),
          |delta AS (
          |  SELECT o_year, o_orderstatus,
          |         sum(CASE WHEN del THEN -1 ELSE 1 END) AS dn,
          |         sum(CASE WHEN del THEN -rev ELSE rev END) AS drev
          |  FROM (
          |    SELECT o_year, o_orderstatus, rev, TRUE AS del
          |    FROM base WHERE o_orderkey % 13 = 0
          |    UNION ALL
          |    SELECT o_year, o_orderstatus, rev, FALSE AS del
          |    FROM base WHERE o_orderkey % 11 = 0)
          |  GROUP BY 1, 2)
          |SELECT a.o_year, a.o_orderstatus,
          |       CAST(a.n + coalesce(d.dn, 0) AS BIGINT) AS n_orders,
          |       CAST(a.revenue + coalesce(d.drev, 0) AS DOUBLE) AS revenue
          |FROM agg0 a LEFT JOIN delta d USING (o_year, o_orderstatus)
          |WHERE a.n + coalesce(d.dn, 0) > 0
          |ORDER BY 1, 2""".stripMargin,

      "q_l2_scd2" ->
        """WITH v AS (
          |  SELECT o_custkey, o_orderkey, o_orderstatus,
          |         CAST(o_orderdate AS DATE) AS valid_from,
          |         CAST(lead(o_orderdate) OVER w AS DATE) AS valid_to,
          |         CAST(row_number() OVER w AS INTEGER) AS version
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_custkey
          |               ORDER BY o_orderdate, o_orderkey))
          |SELECT o_custkey, version, o_orderkey, o_orderstatus,
          |       valid_from, valid_to,
          |       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INTEGER)
          |         AS is_current
          |FROM v ORDER BY o_custkey, version""".stripMargin,

      // replays BOTH snapshots analytically: v1 is the raw base; v2 is
      // the survivors/updates/inserts algebra — the Spark side reading
      // v1's PRE-merge numbers from post-merge table state is what
      // proves snapshot isolation
      "q_l5_snapshot_time_travel" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders),
          |v1 AS (SELECT o_year, o_totalprice FROM base),
          |v2 AS (
          |  SELECT o_year, o_totalprice FROM base WHERE o_orderkey % 5 != 0
          |  UNION ALL
          |  SELECT o_year,
          |         floor(o_totalprice * CAST(1.2 AS DOUBLE) * 100 + 0.5) / 100
          |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 != 0
          |  UNION ALL
          |  SELECT o_year, o_totalprice FROM base WHERE o_orderkey % 9 = 0)
          |SELECT version, o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue
          |FROM (SELECT 1 AS version, * FROM v1
          |      UNION ALL SELECT 2 AS version, * FROM v2)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // stats skipping is a pure file-subset optimization: the oracle is
      // the plain predicate — any file wrongly skipped loses rows and
      // fails the hash
      "q_l7_snapshot_stats_skipping" ->
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue
          |FROM orders WHERE o_custkey BETWEEN 500 AND 1200
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_l8_snapshot_mor_delete" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders)
          |SELECT version, o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue
          |FROM (SELECT 1 AS version, o_year, o_totalprice FROM base
          |      UNION ALL
          |      SELECT 2 AS version, o_year, o_totalprice FROM base
          |      WHERE o_orderkey % 13 != 0)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // the engine diffs manifests and resolves delete files; the oracle
      // states the same thing as multiset algebra over the replayed
      // version contents — EXCEPT ALL both ways is exactly the
      // insert/delete row-image semantics (updates = delete+insert)
      "q_l9_snapshot_changes" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders),
          |merged AS (
          |  SELECT o_orderkey, o_year, o_totalprice FROM base
          |  WHERE o_orderkey % 5 != 0
          |  UNION ALL
          |  SELECT o_orderkey, o_year,
          |         floor(o_totalprice * CAST(1.2 AS DOUBLE) * 100 + 0.5) / 100
          |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 != 0
          |  UNION ALL
          |  SELECT o_orderkey + 300000000, o_year, o_totalprice
          |  FROM base WHERE o_orderkey % 9 = 0),
          |v3 AS (SELECT * FROM merged WHERE o_orderkey NOT IN
          |        (SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0)),
          |ins AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM base),
          |del AS (SELECT * FROM base EXCEPT ALL SELECT * FROM v3),
          |cdc AS (SELECT 'insert' AS change_type, * FROM ins
          |        UNION ALL SELECT 'delete' AS change_type, * FROM del)
          |SELECT change_type, o_year, count(*) AS n_rows,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue
          |FROM cdc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // round 1 = the full corpus as inserts at range (0, 1]; round 2 =
      // the (1, 3] multiset diff (EXCEPT ALL both ways) over the merge +
      // key-delete algebra; round 3 never lands a row
      "q_l10_follow_changes" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders),
          |merged AS (
          |  SELECT o_orderkey, o_year, o_totalprice FROM base
          |  WHERE o_orderkey % 4 != 0
          |  UNION ALL
          |  SELECT o_orderkey, o_year,
          |         floor(o_totalprice * CAST(1.3 AS DOUBLE) * 100 + 0.5) / 100
          |  FROM base WHERE o_orderkey % 4 = 0 AND o_orderkey % 3 != 0
          |  UNION ALL
          |  SELECT o_orderkey + 400000000, o_year, o_totalprice
          |  FROM base WHERE o_orderkey % 11 = 0),
          |v3 AS (SELECT * FROM merged WHERE o_orderkey NOT IN
          |        (SELECT o_orderkey FROM base WHERE o_orderkey % 17 = 0)),
          |ins AS (SELECT count(*) AS n FROM
          |        (SELECT * FROM v3 EXCEPT ALL SELECT * FROM base)),
          |del AS (SELECT count(*) AS n FROM
          |        (SELECT * FROM base EXCEPT ALL SELECT * FROM v3))
          |SELECT 1 AS round, CAST(0 AS BIGINT) AS v_from,
          |       CAST(1 AS BIGINT) AS v_to,
          |       (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_inserts,
          |       CAST(0 AS BIGINT) AS n_deletes
          |UNION ALL
          |SELECT 2, 1, 3, (SELECT CAST(n AS BIGINT) FROM ins),
          |       (SELECT CAST(n AS BIGINT) FROM del)
          |ORDER BY round""".stripMargin,

      // 'rel' pins v1 = the pristine base; 'exp' rides the compaction to
      // v3 = base plus the %7-shifted appends (compaction preserves
      // rows). Both replayed analytically — no snapshot machinery runs
      // oracle-side, so a vacuum-reclaimed pin or a ref reading the
      // wrong version cannot be masked.
      "q_l11_snapshot_refs" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders),
          |v3 AS (SELECT o_year, o_totalprice FROM base
          |       UNION ALL
          |       SELECT o_year, o_totalprice FROM base
          |       WHERE o_orderkey % 7 = 0),
          |lab AS (
          |  SELECT 'rel' AS ref, 1 AS ref_version, o_year, o_totalprice
          |  FROM base
          |  UNION ALL
          |  SELECT 'exp', 3, o_year, o_totalprice FROM v3)
          |SELECT ref, ref_version, o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue
          |FROM lab GROUP BY 1, 2, 3 ORDER BY ref, o_year""".stripMargin,

      // full-scan twin of the metadata-only aggregate: n_files = one
      // file per commit per touched partition (filesPerPartition = 1)
      "q_l12_metadata_aggregates" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders),
          |all_rows AS (
          |  SELECT o_orderkey, o_year, o_totalprice, 0 AS cmt FROM base
          |  UNION ALL
          |  SELECT o_orderkey + 700000000, o_year, o_totalprice, 1
          |  FROM base WHERE o_orderkey % 5 = 0)
          |SELECT o_year,
          |       CAST(count(DISTINCT cmt) AS BIGINT) AS n_files,
          |       CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
          |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
          |       min(o_totalprice) AS min_price,
          |       max(o_totalprice) AS max_price
          |FROM all_rows GROUP BY 1 ORDER BY o_year""".stripMargin,

      // analytic replay of both evolution reads: v3 = base rows (price =
      // the renamed o_totalprice, segment NULL) + appended rows (segment
      // populated); v5 = the same rows with segment NULL everywhere (the
      // re-added column has a fresh field id)
      "q_l13_schema_evolution" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders),
          |rows3 AS (
          |  SELECT o_year, o_totalprice AS price,
          |         CAST(NULL AS VARCHAR) AS segment
          |  FROM base
          |  UNION ALL
          |  SELECT o_year, o_totalprice,
          |         's' || CAST(o_orderkey % 3 AS VARCHAR)
          |  FROM base WHERE o_orderkey % 7 = 0),
          |lab AS (
          |  SELECT 3 AS version, o_year, price, segment FROM rows3
          |  UNION ALL
          |  SELECT 5, o_year, price, CAST(NULL AS VARCHAR) FROM rows3)
          |SELECT version, o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue,
          |       count(segment) AS n_seg
          |FROM lab GROUP BY 1, 2 ORDER BY version, o_year""".stripMargin,

      // analytic twin: the table must hold exactly the base rows (each
      // staged batch exactly once, the replay a no-op) across exactly 3
      // data-bearing commits
      "q_l14_stream_snapshot_ingest" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders)
          |SELECT o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue,
          |       3 AS n_commits
          |FROM base GROUP BY 1 ORDER BY o_year""".stripMargin,

      // plain key-join twin of the bloom-pruned point lookups
      "q_l18_bloom_point_lookup" ->
        """WITH keys AS (
          |  SELECT o_orderkey FROM orders
          |  WHERE o_orderkey % 1999 = 0 ORDER BY 1 LIMIT 6)
          |SELECT o.o_orderkey, CAST(year(o.o_orderdate) AS INT) AS o_year,
          |       o.o_totalprice
          |FROM orders o JOIN keys k USING (o_orderkey)
          |ORDER BY o_orderkey""".stripMargin,

      // source-algebra twin of the mirrored destination: survivors of
      // the %6 merge (update-deletes %5 removed, prices *1.4), the %13
      // shifted inserts, minus the %19 MoR delete keys — across exactly
      // 4 destination commits (initial + merge delete/insert legs +
      // the key-delete leg)
      "q_l17_mirror" ->
        """WITH base AS (
          |  SELECT o_orderkey AS k, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice AS p
          |  FROM orders),
          |merged AS (
          |  SELECT k, o_year, p FROM base WHERE k % 6 != 0
          |  UNION ALL
          |  SELECT k, o_year, floor(p * CAST(1.4 AS DOUBLE) * 100 + 0.5) / 100
          |  FROM base WHERE k % 6 = 0 AND k % 5 != 0
          |  UNION ALL
          |  SELECT k + 800000000, o_year, p FROM base WHERE k % 13 = 0),
          |fin AS (
          |  SELECT * FROM merged
          |  WHERE k NOT IN (SELECT k FROM base WHERE k % 19 = 0))
          |SELECT o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |       4 AS n_dst_commits
          |FROM fin GROUP BY 1 ORDER BY o_year""".stripMargin,

      // analytic twin of the widened read: base int values + the %7
      // appended bigint rows, summed in one 64-bit domain
      "q_l16_type_widening" ->
        """WITH base AS (
          |  SELECT CAST(o_orderkey AS BIGINT) AS okey,
          |         CAST(year(o_orderdate) AS INT) AS o_year,
          |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          |  FROM orders),
          |allr AS (
          |  SELECT okey, o_year, cents FROM base
          |  UNION ALL
          |  SELECT okey + 5000000000, o_year, cents + 3000000000
          |  FROM base WHERE okey % 7 = 0)
          |SELECT o_year, count(*) AS n_rows,
          |       CAST(sum(okey) AS BIGINT) AS sum_okey,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM allr GROUP BY 1 ORDER BY o_year""".stripMargin,

      // resolved read after delete-file maintenance: base minus the %13
      // keys, with zero delete files left in the manifest
      "q_l15_mor_rewrite" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders
          |  WHERE o_orderkey % 13 != 0)
          |SELECT o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS revenue,
          |       0 AS n_del
          |FROM base GROUP BY 1 ORDER BY o_year""".stripMargin,

      "q_l1_merge_upsert" ->
        """WITH base AS (
          |  SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
          |         o_totalprice
          |  FROM orders),
          |survivors AS (
          |  SELECT o_year, o_totalprice FROM base WHERE o_orderkey % 7 != 0),
          |updates AS (
          |  SELECT o_year,
          |         floor(o_totalprice * CAST(1.1 AS DOUBLE) * 100 + 0.5) / 100
          |           AS o_totalprice
          |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 != 0),
          |inserts AS (
          |  SELECT o_year, o_totalprice FROM base WHERE o_orderkey % 11 = 0),
          |merged AS (
          |  SELECT * FROM survivors
          |  UNION ALL SELECT * FROM updates
          |  UNION ALL SELECT * FROM inserts)
          |SELECT o_year, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_t6_seq_pack" ->
        s"""SELECT lang, bin, count(*) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS tokens_packed
           |FROM (
           |  SELECT lang, doc_id, n_tokens,
           |         CAST(floor(COALESCE(sum(n_tokens) OVER (
           |             PARTITION BY lang ORDER BY doc_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           / $packBudget) AS BIGINT) AS bin
           |  FROM (SELECT lang, doc_id,
           |               CAST(len($duckTokens) AS BIGINT) AS n_tokens
           |        FROM documents))
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // replays the sqrt weighting, the scaled-long allocation div, and
      // the milli-epoch div
      "q_sp15_mix_recipe" ->
        s"""WITH per AS (
           |  SELECT source, count(*) AS n_docs,
           |         CAST(sum(len($duckTokens)) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |w AS (SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
           |                     AS BIGINT) AS w6 FROM per),
           |tot AS (SELECT CAST(sum(w6) AS BIGINT) AS tw6 FROM w)
           |SELECT source, n_docs, n_tokens,
           |       (2000000 * w6) // tw6 AS target_tokens,
           |       CASE WHEN n_tokens > 0
           |            THEN (((2000000 * w6) // tw6) * 1000) // n_tokens
           |            ELSE 0 END AS epochs_milli
           |FROM w, tot ORDER BY source""".stripMargin,

      // replays the recipe arithmetic, the full-epoch series, and the
      // fractional md5-bucket draw at the exact 4-hex threshold
      "q_sp16_mix_materialize" ->
        s"""WITH per AS (
           |  SELECT source, CAST(sum(len($duckTokens)) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |w AS (SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
           |                     AS BIGINT) AS w6 FROM per),
           |tot AS (SELECT CAST(sum(w6) AS BIGINT) AS tw6 FROM w),
           |rec AS (
           |  SELECT source,
           |         CASE WHEN n_tokens > 0
           |              THEN (((100000 * w6) // tw6) * 1000) // n_tokens
           |              ELSE 0 END AS em
           |  FROM w, tot),
           |d AS (
           |  SELECT doc.source, doc.doc_id,
           |         CAST(em // 1000 AS INTEGER) AS nf,
           |         printf('%04x', (em % 1000) * 65536 // 1000) AS th
           |  FROM documents doc JOIN rec ON doc.source = rec.source),
           |fe AS (
           |  SELECT source, doc_id,
           |         CAST(unnest(generate_series(1, nf)) AS INTEGER) AS epoch
           |  FROM d WHERE nf > 0),
           |frac AS (
           |  SELECT source, doc_id, nf + 1 AS epoch FROM d
           |  WHERE substr(md5('graft-mix-16:' || CAST(doc_id AS VARCHAR)), 1, 4) < th)
           |SELECT source, doc_id, CAST(epoch AS INTEGER) AS epoch FROM fe
           |UNION ALL
           |SELECT source, doc_id, CAST(epoch AS INTEGER) AS epoch FROM frac
           |ORDER BY source, doc_id, epoch""".stripMargin,

      // replays the q_t6 bin assignment plus the in-bin rank and running
      // token-offset windows
      "q_t32_pack_manifest" ->
        s"""WITH base AS (
           |  SELECT lang, doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens
           |  FROM documents),
           |packed AS (
           |  SELECT lang, doc_id, n_tokens,
           |         CAST(floor(COALESCE(sum(n_tokens) OVER (
           |             PARTITION BY lang ORDER BY doc_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           / $packBudget) AS BIGINT) AS bin
           |  FROM base)
           |SELECT lang, bin,
           |       CAST(row_number() OVER (PARTITION BY lang, bin ORDER BY doc_id)
           |            AS INTEGER) AS seq_in_bin,
           |       doc_id,
           |       CAST(COALESCE(sum(n_tokens) OVER (
           |           PARTITION BY lang, bin ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |         AS BIGINT) AS start_offset,
           |       n_tokens
           |FROM packed ORDER BY lang, bin, seq_in_bin""".stripMargin,

      "q_t7_redact" ->
        s"""SELECT doc_id,
           |       CAST(len(regexp_extract_all(text, '${Pipeline.EmailRe}')) AS INTEGER) AS n_emails,
           |       CAST(len(regexp_extract_all(text, '${Pipeline.NumberRe}')) AS INTEGER) AS n_nums,
           |       substr(regexp_replace(regexp_replace(text, '${Pipeline.EmailRe}', '<EMAIL>', 'g'),
           |                             '${Pipeline.NumberRe}', '<NUM>', 'g'), 1, 120) AS preview
           |FROM documents ORDER BY doc_id""".stripMargin,

      // analytic: expected counts from the planted construction — no
      // tokenizer runs on the oracle side. Flagged docs and their
      // distinct-listed counts are pure doc_id arithmetic; the %5==3
      // substring plants are proven NOT flagged by their absence from
      // the expected rows, and the %5∈{1,2,4} punctuation/newline/tab-
      // adjacent plants are proven FLAGGED by their presence (a
      // space-only tokenizer fails this hash on every %5==1 and %5==4
      // row)
      // phrase class added (r12 ADVICE): %5==0 flags via the space-
      // adjacent phrase, %5==4 gains the dot-adjacent phrase (2 entries),
      // %5==3 stays ABSENT — its words are present but non-adjacent, so a
      // bag-of-words phrase matcher fails this hash on every %5==3 row
      "q_t34_word_blocklist" ->
        """SELECT doc_id,
          |       CAST(CASE doc_id % 5 WHEN 2 THEN 2 WHEN 4 THEN 2 ELSE 1 END
          |            AS BIGINT) AS n_listed_words
          |FROM documents WHERE doc_id % 5 IN (0, 1, 2, 4)
          |ORDER BY doc_id""".stripMargin,

      "q_t31_pii_typed" ->
        """SELECT doc_id,
          |  CAST(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END AS INTEGER) AS n_emails,
          |  CAST(CASE WHEN doc_id % 5 = 2 THEN 2 ELSE 0 END AS INTEGER) AS n_phones,
          |  CAST(CASE WHEN doc_id % 5 = 3 THEN 2 ELSE 0 END AS INTEGER) AS n_ipv4,
          |  CAST(CASE WHEN doc_id % 5 = 4 THEN 2 ELSE 0 END AS INTEGER) AS n_ipv6,
          |  CAST(CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 0 END AS INTEGER) AS n_nums,
          |  md5(CASE CAST(doc_id % 5 AS INTEGER)
          |        WHEN 1 THEN 'mail <EMAIL> and '
          |        WHEN 2 THEN 'call <PHONE> or <PHONE> now '
          |        WHEN 3 THEN 'host <IPFOUR> and <IPFOUR> up '
          |        WHEN 4 THEN 'node <IPSIX> and <IPSIX> on '
          |        ELSE '' END
          |      || coalesce(text, '')
          |      || CASE WHEN doc_id % 9 = 0 THEN ' version <NUM> build <NUM>'
          |              ELSE '' END) AS clean_md5
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_sp3_lang_cap" ->
        """SELECT lang, doc_id, n_chars FROM (
          |  SELECT lang, doc_id, n_chars,
          |         row_number() OVER (PARTITION BY lang
          |                            ORDER BY n_chars DESC, doc_id) AS rk
          |  FROM documents)
          |WHERE rk <= 50 ORDER BY lang, doc_id""".stripMargin,

      "q_sp4_stratified_sample" -> {
        def th(f: Double) = f"${math.round(f * 65536).toInt}%04x"
        s"""SELECT lang, doc_id FROM documents
           |WHERE (lang = 'en' AND substr(md5('graft-strat-9:' || CAST(doc_id AS VARCHAR)), 1, 4) < '${th(0.5)}')
           |   OR (lang = 'de' AND substr(md5('graft-strat-9:' || CAST(doc_id AS VARCHAR)), 1, 4) < '${th(0.25)}')
           |ORDER BY lang, doc_id""".stripMargin
      },

      "q_d6_ngram_jaccard" -> ngramJaccardOracle,

      // replays the d6 brute pair set + the q_sp1 split derivation, then
      // counts pairs per unordered split combination
      "q_sp14_split_leak_audit" ->
        s"""WITH d AS (
           |  SELECT doc_id, $duckShingles3 AS sh
           |  FROM (SELECT doc_id, $duckTokens AS w FROM documents)),
           |nonempty AS (SELECT * FROM d WHERE len(sh) > 0),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
           |s AS (
           |  SELECT doc_id,
           |    CASE WHEN substr(md5('$splitSeed:' || CAST(doc_id AS VARCHAR)), 1, 4) < '$thTrain' THEN 'train'
           |         WHEN substr(md5('$splitSeed:' || CAST(doc_id AS VARCHAR)), 1, 4) < '$thValid' THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM documents)
           |SELECT least(sa.split, sb.split) AS split_lo,
           |       greatest(sa.split, sb.split) AS split_hi,
           |       count(*) AS n_pairs
           |FROM p JOIN s sa ON p.id_a = sa.doc_id
           |       JOIN s sb ON p.id_b = sb.doc_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // the indexed path must produce EXACTLY the brute-force pair set —
      // one oracle serves both the direct and the index-backed join
      "q_d7_ngram_jaccard_indexed" -> ngramJaccardOracle,

      // replays the fragment planting (first-half word prefix) and the
      // brute directed containment scan |A∩B|/|A| over the planted frame
      "q_d9_containment_join" ->
        s"""WITH planted AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 700000,
           |         array_to_string(list_slice(w, 1,
           |           greatest(CAST(ceil(len(w) / 2) AS INTEGER), 3)), ' ')
           |  FROM (SELECT doc_id, $duckTokens AS w FROM documents)
           |  WHERE doc_id % 10 = 0),
           |d AS (
           |  SELECT doc_id, $duckShingles3 AS sh
           |  FROM (SELECT doc_id, $duckTokens AS w FROM planted)),
           |ne AS (SELECT * FROM d WHERE len(sh) > 0)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |             / len(a.sh), 6) AS containment
           |FROM ne a JOIN ne b ON a.doc_id <> b.doc_id
           |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |      / len(a.sh) >= 0.6
           |ORDER BY id_a, id_b""".stripMargin,

      // Replays winnowing exactly: positional 3-gram md5-60 hashes
      // (('0x' || md5-prefix)::BIGINT ≡ Spark's conv(..., 16, 10)),
      // list_min per 4-window (1-based inclusive slices match Spark's
      // slice), short-doc global-min fallback, df-cap, and the >= 2
      // shared-count HAVING.
      "q_d15_winnowing_pairs" ->
        s"""WITH planted AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 700000,
           |         array_to_string(list_slice(w, 1,
           |           greatest(CAST(ceil(len(w) / 2) AS INTEGER), 3)), ' ')
           |  FROM (SELECT doc_id, $duckTokens AS w FROM documents)
           |  WHERE doc_id % 10 = 0),
           |t AS (SELECT doc_id, $duckTokens AS w FROM planted),
           |g AS (
           |  SELECT doc_id,
           |         CASE WHEN len(w) >= 3
           |           THEN list_transform(generate_series(1, len(w) - 2),
           |                i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT)
           |           ELSE [] END AS hs
           |  FROM t),
           |f AS (
           |  SELECT DISTINCT doc_id, fp FROM (
           |    SELECT doc_id,
           |           unnest(CASE WHEN len(hs) = 0 THEN []
           |                       WHEN len(hs) < 4 THEN [list_min(hs)]
           |                       ELSE list_distinct(list_transform(
           |                              generate_series(1, len(hs) - 3),
           |                              j -> list_min(hs[j:j+3]))) END) AS fp
           |    FROM g)),
           |kept AS (
           |  SELECT doc_id, fp FROM f
           |  WHERE fp IN (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50))
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(count(*) AS INT) AS n_shared
           |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2
           |HAVING count(*) >= 2
           |ORDER BY 1, 2""".stripMargin,

      // replays the whole chain: brute MinHash-contract pairs (the d5
      // idiom), recursive-CTE components, per-CLUSTER hash split, and the
      // cross-split pair count (must be 0 — structural no-leakage)
      "q_sp9_leakage_safe_split" -> {
        val Seq(t80, t90) = Pipeline.hexThresholds(Seq(0.8, 0.1, 0.1))
        s"""WITH RECURSIVE d AS (
           |  SELECT doc_id, ${DedupQueries.shingleSql} AS sh
           |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
           |        FROM documents)),
           |nonempty AS (SELECT * FROM d WHERE len(sh) > 0),
           |pairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |walk(id, label) AS (
           |  SELECT DISTINCT src, src FROM edges
           |  UNION
           |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
           |clusters AS (SELECT id AS doc_id, min(label) AS cluster FROM walk GROUP BY 1),
           |labeled AS (
           |  SELECT dd.doc_id, coalesce(c.cluster, dd.doc_id) AS cluster
           |  FROM documents dd LEFT JOIN clusters c ON c.doc_id = dd.doc_id),
           |assigned AS (
           |  SELECT doc_id, cluster,
           |         CASE WHEN substr(md5('graft-leak-3:' || CAST(cluster AS VARCHAR)), 1, 4) < '$t80' THEN 'train'
           |              WHEN substr(md5('graft-leak-3:' || CAST(cluster AS VARCHAR)), 1, 4) < '$t90' THEN 'valid'
           |              ELSE 'test' END AS split
           |  FROM labeled),
           |leaked AS (
           |  SELECT count(*) AS leaked_pairs
           |  FROM pairs p
           |  JOIN assigned a ON a.doc_id = p.id_a
           |  JOIN assigned b ON b.doc_id = p.id_b
           |  WHERE a.split <> b.split)
           |SELECT split, count(*) AS n_docs,
           |       count(DISTINCT cluster) AS n_clusters,
           |       min(doc_id) AS first_doc, leaked.leaked_pairs
           |FROM assigned, leaked
           |GROUP BY split, leaked.leaked_pairs ORDER BY split""".stripMargin
      },

      // replays the hash ring globally (bucket-local execution + wrap
      // table is provably identical — the bucket is a key prefix)
      "q_sp8_negative_sample" ->
        """WITH ring AS (
          |  SELECT doc_id AS rid,
          |         md5('ring:graft-neg-7:' || CAST(doc_id AS VARCHAR)) AS rkey
          |  FROM documents),
          |probes AS (
          |  SELECT doc_id AS anchor, CAST(j.j AS INTEGER) AS j,
          |         md5('probe:graft-neg-7:' || CAST(doc_id AS VARCHAR)
          |             || ':' || CAST(j.j AS VARCHAR)) AS tkey
          |  FROM documents
          |  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j) j),
          |sel AS (
          |  SELECT p.anchor, p.j,
          |         coalesce(
          |           (SELECT min_by(r.rid, r.rkey) FROM ring r WHERE r.rkey >= p.tkey),
          |           (SELECT min_by(r.rid, r.rkey) FROM ring r)) AS neg_id
          |  FROM probes p)
          |SELECT anchor, j, neg_id FROM sel
          |WHERE neg_id <> anchor ORDER BY anchor, j""".stripMargin,

      "q_l4_snapshot_diff" ->
        """WITH prev AS (SELECT doc_id, md5(text) AS fp FROM documents),
          |cur AS (
          |  SELECT doc_id,
          |         md5(CASE WHEN doc_id % 13 = 1 THEN text || ' v2'
          |                  ELSE text END) AS fp
          |  FROM documents WHERE doc_id % 17 <> 3
          |  UNION ALL
          |  SELECT doc_id + 1000000, md5(text)
          |  FROM documents WHERE doc_id % 29 = 0),
          |d AS (
          |  SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
          |         CASE WHEN p.fp IS NULL THEN 'added'
          |              WHEN c.fp IS NULL THEN 'removed'
          |              WHEN p.fp <> c.fp THEN 'changed'
          |              ELSE 'unchanged' END AS status
          |  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
          |SELECT status, count(*) AS n, min(doc_id) AS first_doc
          |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    )
  }

  private lazy val ngramJaccardOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, $duckShingles3 AS sh
       |  FROM (SELECT doc_id, $duckTokens AS w FROM documents)),
       |nonempty AS (SELECT * FROM d WHERE len(sh) > 0)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       |FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
}
