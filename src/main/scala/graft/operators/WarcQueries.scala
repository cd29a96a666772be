package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing query for the WARC ingestion layer
  * ([[graft.sources.WarcIngest]]), using the planted-construction oracle
  * discipline: WARC segment BYTES are constructed in-query from the
  * documents table — one `WARC/1.0` response record per doc (URL, date,
  * Content-Length framing), 50 records per gzip segment, records
  * concatenated in doc_id order — and every segment whose id ≡ 3 (mod 7)
  * is TRUNCATED 10 bytes short (a cut-off upload). Because the
  * construction is analytic, DuckDB derives every expected output field
  * — record indexes, byte offsets (running sums of exact record
  * lengths), truncation arithmetic (got = declared − 6: the 4-byte
  * trailer plus 6 payload bytes are gone), payload digests — WITHOUT
  * replaying the parser, so a parser bug cannot be masked.
  *
  * The WARC-Date is built from fixed epoch arithmetic
  * (2024-01-01T00:00:00Z + doc_id % 86400 seconds) with zero-padded
  * string math rather than `date_format`, so the construction is
  * timezone-independent; the parser's `Instant.parse` must invert it
  * exactly (`fetch_ts = 1704067200 + doc_id % 86400`).
  */
object WarcQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  private[graft] val SegDocs = 50
  private[graft] val BaseEpoch = 1704067200L // 2024-01-01T00:00:00Z

  /** One record's WARC text per doc (see object doc). Byte-exact twin of
    * the oracle's length arithmetic: 107 constant bytes + url + the
    * Content-Length digits + the payload. */
  private def recordText = {
    val date = concat(lit("2024-01-01T"),
      lpad(expr("CAST(doc_id % 86400 div 3600 AS STRING)"), 2, "0"), lit(":"),
      lpad(expr("CAST((doc_id % 86400) % 3600 div 60 AS STRING)"), 2, "0"), lit(":"),
      lpad(expr("CAST(doc_id % 60 AS STRING)"), 2, "0"), lit("Z"))
    val url = concat(lit("https://warc.example.org/doc/"), col("doc_id"))
    // pad payloads to >= 6 BYTES so the 10-byte segment truncation always
    // lands inside the last record's payload (4-byte trailer + 6 payload
    // bytes): without the floor, a shorter last doc would push the cut
    // into the record FRAMING and silently invalidate the oracle's
    // got_len = declared - 6 arithmetic (r11 ADVICE). A <6-byte octet
    // length implies <6 characters, so the 6-char rpad guarantees the
    // byte floor.
    val payload = expr(
      """CASE WHEN octet_length(coalesce(text, '')) >= 6
        |     THEN coalesce(text, '')
        |     ELSE rpad(coalesce(text, ''), 6, '.') END""".stripMargin)
    concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
      lit("\r\nWARC-Date: "), date,
      lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
  }

  /** The constructed segment byte frame `(file, content)`: records
    * concatenated in doc_id order, gzipped per segment (the Common Crawl
    * file layout the reader magic-sniffs), seg ≡ 3 (mod 7) truncated 10
    * BYTES short (byte-level, after UTF-8 encoding — a char-level cut
    * would shift under multibyte payloads). */
  private[graft] def plantedSegments(s: SparkSession, dir: String) = {
    import s.implicits._
    docs(s, dir)
      .select(expr("doc_id div 50").as("seg"), col("doc_id"),
        recordText.as("rec"))
      .groupBy("seg")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("rec")))).as("rs"))
      .select(col("seg"), array_join(expr("transform(rs, x -> x.rec)"), "").as("segtext"))
      .as[(Long, String)]
      .map { case (seg, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val cut =
          if (seg % 7 == 3) java.util.Arrays.copyOf(bytes, math.max(bytes.length - 10, 0))
          else bytes
        val bos = new java.io.ByteArrayOutputStream(cut.length / 2 + 64)
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(cut)
        gz.close()
        (f"seg-$seg%05d", bos.toByteArray)
      }
  }

  /** The per-record-gzip-member layout (one member per record — what
    * crawlers actually write, and what makes CDX random access work):
    * each doc's record is its own gzip member, members concatenated per
    * segment; every seg ≡ 2 (mod 5) gets trailing garbage bytes planted
    * after its last member (the scanner must quarantine the tail, never
    * silently drop it). `ByteArrayOutputStream.close()` is a no-op, so
    * closing each `GZIPOutputStream` member flushes its trailer while the
    * segment buffer keeps accepting the next member. */
  private[graft] def plantedMemberSegments(s: SparkSession, dir: String) = {
    import s.implicits._
    docs(s, dir)
      .select(expr("doc_id div 50").as("seg"), col("doc_id"),
        recordText.as("rec"))
      .groupBy("seg")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("rec")))).as("rs"))
      .select(col("seg"), expr("transform(rs, x -> x.rec)").as("recs"))
      .as[(Long, Seq[String])]
      .map { case (seg, recs) =>
        val bos = new java.io.ByteArrayOutputStream()
        recs.foreach { r =>
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(r.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          gz.close()
        }
        if (seg % 5 == 2)
          bos.write("GARBAGEGARBAGE".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (f"seg-$seg%05d", bos.toByteArray)
      }
  }

  /** The q_tar3/q_tar4 shared published table, built once per session:
    * three doc waves committed exactly-once, wave 0 REPLAYED
    * mid-sequence — the receipt. Every call re-runs the four writeTxns
    * against the session's table; once committed each is a settleTxn
    * no-op, so the replays must not ship a byte. */
  private[graft] def tarPubTable(s: SparkSession, dir: String): String = {
    def wave(w: Int) = docs(s, dir).filter(col("doc_id") % 3 === w).selectExpr(
      "doc_id % 4 AS fkey", "doc_id AS ord",
      "concat(lpad(CAST(doc_id AS STRING), 8, '0'), '.txt') AS name",
      "encode(concat('doc-', CAST(doc_id AS STRING)), 'UTF-8') AS payload")
    def publish(table: String): Unit = {
      val st = graft.sources.TarShardIO
      st.writeTxn(wave(0), "fkey", "ord", "name", "payload", table, 4, "wave-0")
      st.writeTxn(wave(1), "fkey", "ord", "name", "payload", table, 4, "wave-1")
      // the replay: already committed — must not ship a byte
      st.writeTxn(wave(0), "fkey", "ord", "name", "payload", table, 4, "wave-0")
      st.writeTxn(wave(2), "fkey", "ord", "name", "payload", table, 4, "wave-2")
    }
    val table = Artifacts.directory(s, dir, "graft_tarpub")(publish)
    publish(table)
    table
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TFRecord ROUND-TRIP (round 13): payloads written through the real
    // framing (uint64-LE length + masked CRC32C twice), read back
    // CRC-verified — then ONE payload byte of file 3's first record is
    // flipped, so that file's quarantine row (and the ABSENCE of its
    // records) is part of the hash. The oracle never touches the
    // container: it hashes the payload strings directly and plants the
    // quarantine row analytically, so a framing/CRC/order bug anywhere
    // in write OR read diverges.
    "q_tf1_tfrecord_roundtrip" -> ((s, dir) => {
      val out = RunDirs.fresh("graft_tfrec")
      val payloads = Tables.read(s, dir, "documents")
        .selectExpr("doc_id % 8 AS fkey", "doc_id",
          "encode(concat(CAST(doc_id AS STRING), '|', " +
            "substring(coalesce(text, ''), 1, 40)), 'UTF-8') AS payload")
      graft.sources.TfRecordIO.write(payloads, "fkey", "doc_id", "payload",
        out, numFiles = 8)
      // flip one payload byte: record 0 of file 3 (offset 12 = first
      // payload byte) — its CRC must now mismatch and the file quarantine
      val p = java.nio.file.Paths.get(s"$out/part-00003.tfrecord")
      val bytes = java.nio.file.Files.readAllBytes(p)
      bytes(12) = (bytes(12) ^ 1).toByte
      java.nio.file.Files.write(p, bytes)
      // drop Hadoop's local-FS checksum sidecar for the file we just
      // corrupted — OUR CRC must be the one that catches the flip
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$out/.part-00003.tfrecord.crc"))
      RunDirs.seal(
        graft.sources.TfRecordIO.read(s, out).toDF()
          .selectExpr(
            """CASE WHEN valid
              |     THEN CAST(split(decode(payload, 'UTF-8'), '\\|')[0] AS BIGINT)
              |     ELSE -CAST(regexp_extract(file, 'part-0*([0-9]+)', 1) AS BIGINT) - 1
              |END AS key""".stripMargin,
            "CASE WHEN valid THEN md5(payload) ELSE reason END AS val")
          .orderBy("key"),
        out)
    }),

    // TAR/WEBDATASET shards (round 14): per-doc .txt + .cls members
    // written into 8 ustar shards, read back entry-streamed, grouped
    // into WebDataset samples (ext → payload map). A planted first-
    // header corruption in shard 3 must surface as ONE bad-checksum
    // quarantine row while the shard's samples vanish — the TfRecordIO
    // corruption discipline on the tar container. Content digests are
    // analytic ('doc-<id>' / 'cls-<id%7>'): the oracle never parses tar.
    "q_tar1_webdataset_shards" -> ((s, dir) => {
      val out = RunDirs.fresh("graft_tar")
      val docs = Tables.read(s, dir, "documents")
      val members = docs.selectExpr(
        "doc_id % 8 AS fkey", "doc_id * 2 AS ord",
        "concat(lpad(CAST(doc_id AS STRING), 8, '0'), '.txt') AS name",
        "encode(concat('doc-', CAST(doc_id AS STRING)), 'UTF-8') AS payload")
        .unionAll(docs.selectExpr(
          "doc_id % 8 AS fkey", "doc_id * 2 + 1 AS ord",
          "concat(lpad(CAST(doc_id AS STRING), 8, '0'), '.cls') AS name",
          "encode(concat('cls-', CAST(doc_id % 7 AS STRING)), 'UTF-8') AS payload"))
      graft.sources.TarShardIO.write(members, "fkey", "ord", "name",
        "payload", out, numFiles = 8)
      // flip shard 3's first name byte: the stored checksum goes stale
      val p = java.nio.file.Paths.get(s"$out/shard-00003.tar")
      val bytes = java.nio.file.Files.readAllBytes(p)
      bytes(0) = (bytes(0) ^ 1).toByte
      java.nio.file.Files.write(p, bytes)
      // drop Hadoop's local-FS checksum sidecar — OUR header checksum
      // must be the one that catches the flip
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$out/.shard-00003.tar.crc"))
      val entries = graft.sources.TarShardIO.read(s, out)
      val good = graft.sources.TarShardIO.samples(entries)
        .select(col("key"), col("n_members"),
          md5(element_at(col("members"), "txt")).as("txt_md5"),
          md5(element_at(col("members"), "cls")).as("cls_md5"))
      val bad = entries.toDF().filter(!col("valid"))
        .select(concat(lit("!"), col("reason")).as("key"),
          lit(-1L).as("n_members"),
          lit(null).cast("string").as("txt_md5"),
          lit(null).cast("string").as("cls_md5"))
      RunDirs.seal(good.unionByName(bad).orderBy("key"), out)
    }),

    // EXACTLY-ONCE PUBLISHING under the hash (round 15): three waves
    // commit through writeTxn, wave 0 REPLAYED between them — the
    // catalog read must show every doc exactly once with its exact
    // payload digest, so a replay that re-ships (or a crash path that
    // drops) shards flips n_copies and fails the hash. The table is
    // built once per session (the q_l1 discipline): later calls and bench
    // reps re-run every writeTxn as a replay, making exactly-once itself
    // the thing that keeps the result stable.
    "q_tar3_exactly_once_publish" -> ((s, dir) => {
      val table = tarPubTable(s, dir)
      graft.sources.TarShardIO.readPublished(s, table).toDF()
        .filter(col("valid"))
        .select(expr("CAST(substring(key, 1, 8) AS BIGINT)").as("doc_id"),
          md5(col("payload")).as("payload_md5"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_copies"), min("payload_md5").as("payload_md5"))
        .orderBy("doc_id")
    }),

    // RESHARD (round 15): the loader-parallelism repack — q_tar3's
    // committed 4-shard table rewritten as 5 shards through another
    // exactly-once txn, routed by doc-id arithmetic so the oracle
    // replays shard membership exactly. Both the source read (committed
    // catalog only) and the delivery (writeTxn) are the audited paths;
    // per-shard member counts and doc-id sums pin the routing AND that
    // no member was dropped or duplicated crossing the repack.
    "q_tar4_reshard" -> ((s, dir) => {
      val src = tarPubTable(s, dir) // idempotent: q_tar3's table, shared
      val dst = s"$src-re"
      val st = graft.sources.TarShardIO
      st.reshard(s, src, dst, numFiles = 5,
        txnId = s"reshard-${src.split('/').last}",
        routeBy = expr("CAST(substring(key, 1, 8) AS BIGINT) % 5"))
      st.readPublished(s, dst).toDF()
        .filter(col("valid"))
        .select(
          expr("CAST(regexp_extract(file, 'shard-(\\\\d+)', 1) AS INT)")
            .as("shard_idx"),
          expr("CAST(substring(key, 1, 8) AS BIGINT)").as("doc_id"))
        .groupBy("shard_idx")
        .agg(count(lit(1)).as("n_members"), sum("doc_id").as("sum_doc_ids"))
        .orderBy("shard_idx")
    }),

    // WEBDATASET EXPORT (round 14): the training-data DELIVERY shape —
    // the corpus packed into loader-ready tar shards, two members per
    // sample (payload .txt + metadata .json), sample members adjacent,
    // shards routed by (split, doc_id) arithmetic. Read back through
    // samples(): every digest, member count, and the SHARD each sample
    // landed in are analytic — a routing or adjacency bug moves a
    // sample to the wrong shard and fails the hash.
    "q_tar2_webdataset_export" -> ((s, dir) => {
      val out = RunDirs.fresh("graft_tarx")
      val docs = Tables.read(s, dir, "documents")
        .selectExpr("doc_id", "coalesce(text, '') AS text",
          """CASE WHEN doc_id % 10 < 8 THEN 'train'
            |     WHEN doc_id % 10 = 8 THEN 'valid'
            |     ELSE 'test' END AS split""".stripMargin,
          """CAST(CASE WHEN doc_id % 10 < 8 THEN 0
            |          WHEN doc_id % 10 = 8 THEN 1
            |          ELSE 2 END * 4 + doc_id % 4 AS BIGINT) AS fkey""".stripMargin)
      val members = docs.selectExpr("fkey", "doc_id * 2 AS ord",
        "concat(split, '/', lpad(CAST(doc_id AS STRING), 8, '0'), '.txt') AS name",
        "encode(text, 'UTF-8') AS payload")
        .unionAll(docs.selectExpr("fkey", "doc_id * 2 + 1 AS ord",
          "concat(split, '/', lpad(CAST(doc_id AS STRING), 8, '0'), '.json') AS name",
          "encode(concat('{\"doc_id\":', CAST(doc_id AS STRING), '}'), 'UTF-8') AS payload"))
      // COMPRESSED transport (.tar.gz — the common WebDataset shipping
      // form): the oracle is transport-independent, so the gz write +
      // sequential-inflate read sit fully under the same hash gate
      // (q_tar1 keeps the plain-.tar path covered)
      graft.sources.TarShardIO.write(members, "fkey", "ord", "name",
        "payload", out, numFiles = 12, compress = true)
      val entries = graft.sources.TarShardIO.read(s, out)
      val shards = entries.toDF().filter(col("ext") === "txt")
        .select(col("key"),
          regexp_extract(col("file"), "shard-0*([0-9]+)", 1).cast("int")
            .as("shard"))
      RunDirs.seal(
        graft.sources.TarShardIO.samples(entries)
          .join(shards, Seq("key"))
          .select(col("key"), col("shard"), col("n_members"),
            md5(element_at(col("members"), "txt")).as("txt_md5"),
            md5(element_at(col("members"), "json")).as("json_md5"))
          .orderBy("key"),
        out)
    }),

    // WARC record split: constructed gzip segments -> records with exact
    // decompressed-stream offsets; the planted truncations quarantine
    // with declared/got accounting (malformed=1, no payload digest) and
    // never kill the parse.
    "q_warc1_record_split" -> ((s, dir) =>
      graft.sources.WarcIngest.readWarc(plantedSegments(s, dir))
        .toDF()
        .select(col("file"), col("record_index"), col("offset"), col("url"),
          col("fetch_ts"), col("declared_len"), col("got_len"),
          col("n_headers"),
          when(col("malformed") === 0, md5(col("payload")))
            .otherwise(lit(null)).as("payload_md5"),
          col("malformed"))
        .orderBy("file", "record_index")),

    // CDX-style random-access index over the per-record-member layout:
    // one gzip member per record, member offsets/lengths recorded (the
    // spec proves slice+gunzip random access on them; offsets depend on
    // deflate output so the ORACLE checks the analytic columns — member
    // index, url, timestamp, payload digest — plus the planted
    // trailing-garbage quarantine row per seg%5==2).
    "q_warc2_cdx_index" -> ((s, dir) =>
      graft.sources.WarcIngest.cdxIndex(plantedMemberSegments(s, dir))
        .toDF()
        .select(col("file"), col("member_index"), col("url"), col("fetch_ts"),
          col("digest_md5"), col("malformed"), col("error"))
        .orderBy("file", "member_index"))
  )

  val oracles: Map[String, String] = Map(
    // the oracle hashes payload CONTENT directly — the container round
    // trip must be byte-lossless for the md5s to land, and the planted
    // corruption must surface as exactly one quarantine row while its
    // file's records vanish
    "q_tf1_tfrecord_roundtrip" ->
      """SELECT CAST(doc_id AS BIGINT) AS key,
        |       md5(CAST(doc_id AS VARCHAR) || '|' ||
        |           substr(coalesce(text, ''), 1, 40)) AS val
        |FROM documents WHERE doc_id % 8 != 3
        |UNION ALL
        |SELECT CAST(-4 AS BIGINT), 'payload-crc-mismatch'
        |ORDER BY key""".stripMargin,

    // exactly-once: every doc exactly ONE committed member, digest exact
    "q_tar3_exactly_once_publish" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS n_copies,
        |       md5('doc-' || CAST(doc_id AS VARCHAR)) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // reshard routing is pure doc-id arithmetic: shard = doc_id % 5
    "q_tar4_reshard" ->
      """SELECT CAST(doc_id % 5 AS INT) AS shard_idx,
        |       CAST(count(*) AS BIGINT) AS n_members,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids
        |FROM documents GROUP BY 1 ORDER BY shard_idx""".stripMargin,

    // split/shard routing, member digests, and adjacency all replay from
    // doc_id arithmetic — the oracle never touches tar bytes
    "q_tar2_webdataset_export" ->
      """SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
        |            WHEN doc_id % 10 = 8 THEN 'valid' ELSE 'test' END ||
        |       '/' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        |       CAST(CASE WHEN doc_id % 10 < 8 THEN 0
        |                 WHEN doc_id % 10 = 8 THEN 1 ELSE 2 END * 4
        |            + doc_id % 4 AS INTEGER) AS shard,
        |       CAST(2 AS BIGINT) AS n_members,
        |       md5(coalesce(text, '')) AS txt_md5,
        |       md5('{"doc_id":' || CAST(doc_id AS VARCHAR) || '}') AS json_md5
        |FROM documents ORDER BY key""".stripMargin,

    // samples and digests replayed from the construction arithmetic —
    // shard 3 (doc_id % 8 = 3) vanishes behind its one quarantine row
    "q_tar1_webdataset_shards" ->
      """SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        |       CAST(2 AS BIGINT) AS n_members,
        |       md5('doc-' || CAST(doc_id AS VARCHAR)) AS txt_md5,
        |       md5('cls-' || CAST(doc_id % 7 AS VARCHAR)) AS cls_md5
        |FROM documents WHERE doc_id % 8 != 3
        |UNION ALL
        |SELECT '!bad-checksum', CAST(-1 AS BIGINT), NULL, NULL
        |ORDER BY key""".stripMargin,

    // every field derived analytically from the construction: record
    // lengths are 107 constant bytes + url + Content-Length digits +
    // payload octets; offsets are per-segment running sums; the last
    // record of seg%7==3 segments lost its 4-byte trailer + 6 payload
    // bytes to the 10-byte truncation
    "q_warc1_record_split" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CASE WHEN strlen(coalesce(text, '')) >= 6
         |              THEN coalesce(text, '')
         |              ELSE rpad(coalesce(text, ''), 6, '.') END AS text,
         |         doc_id // $SegDocs AS seg
         |  FROM documents),
         |r AS (
         |  SELECT seg, doc_id, text,
         |         'https://warc.example.org/doc/' || doc_id AS url,
         |         CAST(strlen(text) AS BIGINT) AS n
         |  FROM d),
         |le AS (
         |  SELECT *, 107 + len(url) + len(CAST(n AS VARCHAR)) + n AS rec_len
         |  FROM r),
         |idx AS (
         |  SELECT *,
         |         CAST(row_number() OVER w - 1 AS INTEGER) AS record_index,
         |         CAST(coalesce(sum(rec_len) OVER (
         |           PARTITION BY seg ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS "offset",
         |         (doc_id = max(doc_id) OVER (PARTITION BY seg)
         |          AND seg % 7 = 3) AS trunc
         |  FROM le
         |  WINDOW w AS (PARTITION BY seg ORDER BY doc_id))
         |SELECT 'seg-' || lpad(CAST(seg AS VARCHAR), 5, '0') AS file,
         |       record_index, "offset", url,
         |       $BaseEpoch + doc_id % 86400 AS fetch_ts,
         |       n AS declared_len,
         |       CASE WHEN trunc THEN n - 6 ELSE n END AS got_len,
         |       CAST(4 AS INTEGER) AS n_headers,
         |       CASE WHEN trunc THEN NULL ELSE md5(text) END AS payload_md5,
         |       CASE WHEN trunc THEN 1 ELSE 0 END AS malformed
         |FROM idx ORDER BY file, record_index""".stripMargin,

    // member_index is analytic under the one-record-per-member layout
    // (the record's rank in its segment); the garbage tail is one extra
    // member_index = n_records quarantine row per planted segment
    "q_warc2_cdx_index" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CASE WHEN strlen(coalesce(text, '')) >= 6
         |              THEN coalesce(text, '')
         |              ELSE rpad(coalesce(text, ''), 6, '.') END AS text,
         |         doc_id // $SegDocs AS seg
         |  FROM documents),
         |idx AS (
         |  SELECT seg, doc_id, text,
         |         'https://warc.example.org/doc/' || doc_id AS url,
         |         CAST(row_number() OVER (PARTITION BY seg ORDER BY doc_id) - 1
         |              AS INTEGER) AS member_index
         |  FROM d),
         |good AS (
         |  SELECT 'seg-' || lpad(CAST(seg AS VARCHAR), 5, '0') AS file,
         |         member_index, url,
         |         $BaseEpoch + doc_id % 86400 AS fetch_ts,
         |         md5(text) AS digest_md5,
         |         0 AS malformed, '' AS "error"
         |  FROM idx),
         |bad AS (
         |  SELECT 'seg-' || lpad(CAST(seg AS VARCHAR), 5, '0') AS file,
         |         CAST(count(*) AS INTEGER) AS member_index,
         |         '' AS url, CAST(-1 AS BIGINT) AS fetch_ts,
         |         '' AS digest_md5, 1 AS malformed,
         |         'corrupt-gzip-member' AS "error"
         |  FROM d WHERE seg % 5 = 2 GROUP BY seg)
         |SELECT * FROM good UNION ALL SELECT * FROM bad
         |ORDER BY file, member_index""".stripMargin
  )
}
