package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.operators.{ImageCodec, Multimodal}
import org.apache.spark.sql.functions._

/** Tar/WebDataset shard invariants: ustar byte layout a stock `tar`
  * binary reads back, deterministic shard bytes, defect-class
  * quarantine, WebDataset key/ext grouping, and composition with the
  * real image/audio decoders over tar member payloads. */
class TarShardIOSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-tar")

  private def members(n: Int, shards: Int = 3) = (0 until n).flatMap { i =>
    Seq(
      (i.toLong % shards, i.toLong * 2, f"$i%06d.txt",
        s"text-$i".getBytes("UTF-8")),
      (i.toLong % shards, i.toLong * 2 + 1, f"$i%06d.cls",
        s"c${i % 5}".getBytes("UTF-8")))
  }.toDF("fkey", "ord", "name", "payload")

  test("round trip is byte-lossless; a stock tar binary lists our shards") {
    val dir = freshDir()
    assert(TarShardIO.write(members(12), "fkey", "ord", "name", "payload",
      dir, 3) == 24L)
    val back = TarShardIO.read(spark, dir).collect()
    assert(back.length == 24 && back.forall(_.valid))
    val byName = back.map(r => r.name -> new String(r.payload, "UTF-8")).toMap
    assert(byName("000007.txt") == "text-7" && byName("000007.cls") == "c2")
    // entry order within a shard follows ord
    val shard0 = back.filter(_.file.endsWith("shard-00000.tar")).sortBy(_.entry_idx)
    assert(shard0.map(_.name).toSeq ==
      (0 until 12).filter(_ % 3 == 0).flatMap(i => Seq(f"$i%06d.txt", f"$i%06d.cls")))
    // shard bytes are content-determined: a rewrite is byte-identical
    val before = Files.readAllBytes(Paths.get(dir, "shard-00001.tar"))
    TarShardIO.write(members(12), "fkey", "ord", "name", "payload", dir, 3)
    assert(java.util.Arrays.equals(before,
      Files.readAllBytes(Paths.get(dir, "shard-00001.tar"))))
    // cross-tool receipt: the system tar (when present) reads our ustar
    // layout and lists exactly our member names, in order
    if (Files.exists(Paths.get("/usr/bin/tar")) || Files.exists(Paths.get("/bin/tar"))) {
      val p = new ProcessBuilder("tar", "-tf", s"$dir/shard-00000.tar")
        .redirectErrorStream(true).start()
      val listed = scala.io.Source.fromInputStream(p.getInputStream)
        .getLines().toList
      assert(p.waitFor() == 0, s"tar -tf failed: $listed")
      assert(listed == shard0.map(_.name).toList)
    }
  }

  test("every defect class quarantines the shard TAIL as one loud row") {
    def oneShard(mutate: Array[Byte] => Unit): Seq[TarShardIO.TarEntry] = {
      val dir = freshDir()
      val good = TarShardIO.header("a.txt", 3) ++ "abc".getBytes ++
        new Array[Byte](509) ++
        TarShardIO.header("b.txt", 5) ++ "defgh".getBytes ++
        new Array[Byte](507) ++ new Array[Byte](1024)
      mutate(good)
      Files.write(Paths.get(dir, "shard-00000.tar"), good)
      TarShardIO.read(spark, dir).collect().toSeq.sortBy(_.entry_idx)
    }
    // clean file: both entries valid
    val clean = oneShard(_ => ())
    assert(clean.map(r => (r.valid, r.name)) ==
      Seq((true, "a.txt"), (true, "b.txt")))
    // flipped payload byte: tar has NO payload CRC — reads back changed
    // (documented container property, the honest contrast to TFRecord)
    val flipped = oneShard(b => b(512) = 'X')
    assert(flipped.forall(_.valid) &&
      new String(flipped.head.payload, "UTF-8") == "Xbc")
    // defects in the SECOND header: first entry survives, tail quarantined
    def second(reason: String)(mutate: Array[Byte] => Unit) = {
      val got = oneShard(mutate)
      assert(got.map(_.valid) == Seq(true, false), s"$reason: $got")
      assert(got(1).reason == reason, s"got ${got(1).reason}, want $reason")
      assert(got(1).bytes_skipped > 0)
    }
    second("bad-checksum") { b => b(1024) = 'Z' } // name edit breaks sum
    second("bad-magic") { b =>
      // recompute a valid checksum over a wrong magic, isolating the check
      val h = TarShardIO.header("b.txt", 5)
      h(257) = 'X'
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L; var i = 0
      while (i < 512) { sum += h(i) & 0xff; i += 1 }
      "%06o".format(sum).getBytes("US-ASCII").copyToArray(h, 148)
      h(154) = 0; h(155) = ' '
      System.arraycopy(h, 0, b, 1024, 512)
    }
    second("truncated-payload") { b =>
      // size says 5000 (needs 10 blocks) but file ends after 2
      val h = TarShardIO.header("b.txt", 5000)
      System.arraycopy(h, 0, b, 1024, 512)
    }
    // truncated header: file ends mid-block
    val dir2 = freshDir()
    val bytes = TarShardIO.header("a.txt", 3) ++ "abc".getBytes ++
      new Array[Byte](509) ++ TarShardIO.header("b.txt", 5).take(100)
    Files.write(Paths.get(dir2, "shard-00000.tar"), bytes)
    val trunc = TarShardIO.read(spark, dir2).collect().toSeq.sortBy(_.entry_idx)
    assert(trunc.map(_.valid) == Seq(true, false) &&
      trunc(1).reason == "truncated-header")
  }

  test("WebDataset grouping: key/ext split at first dot; samples() builds ext→payload maps") {
    assert(TarShardIO.splitName("000123.jpg") == ("000123", "jpg"))
    assert(TarShardIO.splitName("a/b/000123.seg.png") == ("a/b/000123", "seg.png"))
    assert(TarShardIO.splitName("noext") == ("noext", ""))
    val dir = freshDir()
    TarShardIO.write(members(6, shards = 2), "fkey", "ord", "name", "payload", dir, 2)
    val s = TarShardIO.samples(TarShardIO.read(spark, dir))
    assert(s.count() == 6)
    val row = s.filter(col("key") === "000004").head()
    assert(row.getAs[Long]("n_members") == 2)
    val m = row.getAs[Map[String, Array[Byte]]]("members")
    assert(new String(m("txt"), "UTF-8") == "text-4")
    assert(new String(m("cls"), "UTF-8") == "c4")
  }

  test("gzip shards: byte-deterministic write, mixed-dir read, stock tar -tzf, corrupt-deflate quarantine") {
    val dir = freshDir()
    assert(TarShardIO.write(members(12), "fkey", "ord", "name", "payload",
      dir, 3, compress = true) == 24L)
    val back = TarShardIO.read(spark, dir).collect()
    assert(back.length == 24 && back.forall(_.valid))
    assert(back.forall(_.file.endsWith(".tar.gz")))
    val byName = back.map(r => r.name -> new String(r.payload, "UTF-8")).toMap
    assert(byName("000007.txt") == "text-7" && byName("000007.cls") == "c2")
    // compressed shard bytes are content-determined too
    val before = Files.readAllBytes(Paths.get(dir, "shard-00001.tar.gz"))
    TarShardIO.write(members(12), "fkey", "ord", "name", "payload", dir, 3,
      compress = true)
    assert(java.util.Arrays.equals(before,
      Files.readAllBytes(Paths.get(dir, "shard-00001.tar.gz"))))
    // cross-tool receipt: stock tar lists the gz shard
    if (Files.exists(Paths.get("/usr/bin/tar")) || Files.exists(Paths.get("/bin/tar"))) {
      val p = new ProcessBuilder("tar", "-tzf", s"$dir/shard-00000.tar.gz")
        .redirectErrorStream(true).start()
      val listed = scala.io.Source.fromInputStream(p.getInputStream)
        .getLines().toList
      assert(p.waitFor() == 0 && listed.size == 8, s"tar -tzf: $listed")
    }
    // a MIXED directory reads both transports
    TarShardIO.write(members(6, shards = 2), "fkey", "ord", "name",
      "payload", dir, 2) // plain .tar beside the .tar.gz shards
    assert(TarShardIO.read(spark, dir).count() == 24 + 12)
    // corrupt DEFLATE bytes quarantine (bytes_skipped = -1: unknowable
    // under compression), never kill the task
    val dir2 = freshDir()
    TarShardIO.write(members(6, shards = 1), "fkey", "ord", "name",
      "payload", dir2, 1, compress = true)
    val gz = Paths.get(dir2, "shard-00000.tar.gz")
    val bytes = Files.readAllBytes(gz)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(gz, bytes)
    Files.deleteIfExists(Paths.get(dir2, ".shard-00000.tar.gz.crc"))
    val got = TarShardIO.read(spark, dir2).collect().toSeq.sortBy(_.entry_idx)
    val bad = got.filterNot(_.valid)
    assert(bad.size == 1 && bad.head.bytes_skipped == -1L &&
      (bad.head.reason == "gzip-corrupt" || bad.head.reason == "bad-checksum" ||
        bad.head.reason == "truncated-payload" || bad.head.reason == "truncated-header"),
      s"got $bad")
    assert(got.takeWhile(_.valid).nonEmpty, "members before the flip still stream")
  }

  test("compose: WAV and BMP members decode through the real parsers") {
    val dir = freshDir()
    val wav = Multimodal.pcmWav(16000, 1,
      Array.tabulate[Byte](3200)(i => (i % 127).toByte))
    val bmp = ImageCodec.grayBmp(4, 2,
      Array(0, 32, 64, 96, 128, 160, 192, 255))
    val rows = Seq(
      (0L, 0L, "s0.wav", wav), (0L, 1L, "s0.bmp", bmp),
      (0L, 2L, "s0.txt", "a tiny caption".getBytes("UTF-8")))
      .toDF("fkey", "ord", "name", "payload")
    TarShardIO.write(rows, "fkey", "ord", "name", "payload", dir, 1)
    val entries = TarShardIO.read(spark, dir)
    val audio = Multimodal.parseWav(
      entries.filter(col("ext") === "wav").toDF()
        .withColumn("id", lit(1L)), "id", "payload").head()
    assert(audio.valid && audio.sample_rate == 16000 &&
      audio.channels == 1 && audio.n_samples == 1600)
    val img = ImageCodec.decodeImages(
      entries.filter(col("ext") === "bmp").toDF()
        .withColumn("id", lit(1L)), "id", "payload", gridW = 4, gridH = 2)
      .head()
    assert(img.decoded && img.width == 4 && img.height == 2)
  }

  test("writeTxn: exactly-once publishing — replay no-ops, crashes converge, orphans invisible") {
    import spark.implicits._
    val table = freshDir() + "/pub"
    def stagingDirs() = {
      val d = new java.io.File(s"$table/shards")
      if (d.exists()) d.list().sorted.toSeq else Seq.empty
    }
    // first publish commits the catalog
    val data = members(12)
    val v1 = TarShardIO.writeTxn(data, "fkey", "ord", "name", "payload",
      table, 3, "txn-A")
    val cat1 = TarShardIO.publishedShards(spark, table).collect()
    assert(cat1.length == 3 && cat1.map(_.getAs[Long]("n_members")).sum == 24)
    assert(cat1.forall(_.getAs[Long]("bytes") > 0))
    // replay of the SAME txn: same version, not one byte re-staged
    val staged1 = stagingDirs()
    assert(TarShardIO.writeTxn(data, "fkey", "ord", "name", "payload",
      table, 3, "txn-A") == v1)
    assert(stagingDirs() == staged1, "replay must not re-stage shards")
    // crash BETWEEN staging and commit: a half-published attempt sits on
    // disk uncommitted; the replay stages fresh and commits exactly once
    val data2 = members(8, shards = 2)
    TarShardIO.write(data2, "fkey", "ord", "name", "payload",
      s"$table/shards/u0000crashedattempt", 2) // the crashed attempt
    val v2 = TarShardIO.writeTxn(data2, "fkey", "ord", "name", "payload",
      table, 2, "txn-B")
    assert(v2 > v1)
    val cat2 = TarShardIO.publishedShards(spark, table).collect()
    assert(cat2.length == 5 && cat2.map(_.getAs[Long]("n_members")).sum == 40)
    // committed members stream exactly once; the orphaned attempt is
    // invisible to the catalog read (its dir still exists on disk)
    val got = TarShardIO.readPublished(spark, table).collect()
    assert(got.length == 40 && got.forall(_.valid))
    assert(new java.io.File(s"$table/shards/u0000crashedattempt").exists())
    // byte-determinism receipt: the replayed staging is byte-identical
    // to the crashed attempt — converging content, not just counts
    val committedB = cat2.map(_.getAs[String]("shard"))
      .filterNot(s => cat1.map(_.getAs[String]("shard")).contains(s)).sorted
    committedB.zipWithIndex.foreach { case (rel, i) =>
      val a = Files.readAllBytes(Paths.get(s"$table/$rel"))
      val b = Files.readAllBytes(Paths.get(
        f"$table/shards/u0000crashedattempt/shard-$i%05d.tar"))
      assert(java.util.Arrays.equals(a, b), s"shard $i bytes diverge")
    }
    // crash BETWEEN manifest prepare and pointer swap: replay rolls the
    // prepared commit forward without staging anything new
    TarShardIO.write(members(4, shards = 1), "fkey", "ord", "name",
      "payload", s"$table/shards/u0001prepared", 1)
    val metaC = Seq(("shards/u0001prepared/shard-00000.tar", 8L,
      Files.size(Paths.get(s"$table/shards/u0001prepared/shard-00000.tar"))))
      .toDF("shard", "n_members", "bytes")
    val prepared = SnapshotTable.prepare(metaC, table, Nil, 1,
      Some("txn-C"))((prev, f) => prev ++ f) // pointer NOT swapped: the crash
    val staged3 = stagingDirs()
    val v3 = TarShardIO.writeTxn(members(4, shards = 1), "fkey", "ord",
      "name", "payload", table, 1, "txn-C")
    assert(v3 == prepared, "replay must roll the prepared commit forward")
    assert(stagingDirs() == staged3, "roll-forward must not re-stage")
    assert(TarShardIO.readPublished(spark, table).count() == 48)
    // the gz transport publishes through the same txn machinery
    TarShardIO.writeTxn(members(6, shards = 2), "fkey", "ord", "name",
      "payload", table, 2, "txn-D", compress = true)
    val cat3 = TarShardIO.publishedShards(spark, table).collect()
    assert(cat3.count(_.getAs[String]("shard").endsWith(".tar.gz")) == 2)
    assert(TarShardIO.readPublished(spark, table).count() == 60)
  }

  test("reshard: lossless repack, sample adjacency preserved, byte-deterministic, exactly-once") {
    val src = freshDir() + "/src"
    val members24 = members(12) // 24 members, keys 000000..000011, 2 each
    TarShardIO.writeTxn(members24, "fkey", "ord", "name", "payload",
      src, 3, "pub")
    val dst = freshDir() + "/dst"
    val v = TarShardIO.reshard(spark, src, dst, numFiles = 5, txnId = "re")
    // lossless: same member multiset (name → payload), nothing dropped
    val before = TarShardIO.readPublished(spark, src).collect()
      .map(e => e.name -> new String(e.payload, "UTF-8")).sorted.toSeq
    val after = TarShardIO.readPublished(spark, dst).collect()
    assert(after.map(e => e.name -> new String(e.payload, "UTF-8"))
      .sorted.toSeq == before)
    // adjacency: both members of a sample share a shard and are adjacent
    val byKey = after.groupBy(_.key)
    byKey.foreach { case (k, es) =>
      assert(es.map(_.file).distinct.length == 1, s"sample $k split across shards")
      assert(math.abs(es(0).entry_idx - es(1).entry_idx) == 1,
        s"sample $k members not adjacent")
    }
    // replay: no-op at the same version; byte-determinism: a second
    // reshard to a FRESH table produces byte-identical shards
    assert(TarShardIO.reshard(spark, src, dst, 5, "re") == v)
    val dst2 = freshDir() + "/dst2"
    TarShardIO.reshard(spark, src, dst2, 5, "re2")
    def shardBytes(t: String) = TarShardIO.publishedShards(spark, t)
      .collect().map(_.getAs[String]("shard")).sorted.map(rel =>
        Files.readAllBytes(Paths.get(s"$t/$rel")).toSeq)
    assert(shardBytes(dst).toSeq == shardBytes(dst2).toSeq)
    // LOSSLESS means loud: a quarantined source shard must refuse the
    // repack, never publish a clean-looking dst missing members
    val srcShard = TarShardIO.publishedShards(spark, src)
      .collect().map(_.getAs[String]("shard")).sorted.head
    val corrupted = Files.readAllBytes(Paths.get(s"$src/$srcShard"))
    corrupted(0) = (corrupted(0) ^ 1).toByte
    Files.write(Paths.get(s"$src/$srcShard"), corrupted)
    // drop Hadoop's local-FS checksum sidecar so OUR header checksum is
    // the gate that catches the flip
    val crcSide = Paths.get(s"$src/$srcShard").getParent
      .resolve("." + Paths.get(srcShard).getFileName + ".crc")
    Files.deleteIfExists(crcSide)
    val e = intercept[IllegalArgumentException] {
      TarShardIO.reshard(spark, src, freshDir() + "/dst3", 5, "re3")
    }
    assert(e.getMessage.contains("quarantined"), e.getMessage)
  }

  test("reshard is single-pass: each source shard opened exactly once " +
       "(r15 VERDICT #3 receipt)") {
    val src = freshDir() + "/src"
    TarShardIO.writeTxn(members(12), "fkey", "ord", "name", "payload",
      src, 3, "pub")
    val dst = freshDir() + "/dst"
    val before = TarShardIO.shardFileOpens.get()
    TarShardIO.reshard(spark, src, dst, numFiles = 5, txnId = "re")
    val opens = TarShardIO.shardFileOpens.get() - before
    // 3 committed source shards -> exactly 3 stream opens for the whole
    // repack (the write pass). The old audit-then-write shape opened 6.
    assert(opens == 3L, s"expected 3 source-shard opens, saw $opens")
    // and the repack stayed lossless under the in-flight audit
    assert(TarShardIO.readPublished(spark, dst).count() == 24L)
  }

  test("empty and gzip-header-corrupt .tar.gz quarantine, never kill the read job") {
    // r14 ADVICE: GZIPInputStream reads the gzip header in its
    // CONSTRUCTOR, so these defects used to escape the fetch guard
    val dir = freshDir()
    Files.write(Paths.get(dir, "empty.tar.gz"), Array.emptyByteArray)
    Files.write(Paths.get(dir, "notgzip.tar.gz"),
      Array.tabulate[Byte](64)(i => i.toByte)) // wrong magic from byte 0
    TarShardIO.write(members(3, shards = 1), "fkey", "ord", "name",
      "payload", dir, 1, compress = true)
    val hdrFlip = Paths.get(dir, "shard-00000.tar.gz")
    val moved = Paths.get(dir, "hdrflip.tar.gz")
    val b = Files.readAllBytes(hdrFlip)
    b(1) = (b(1) ^ 0x7f).toByte // break the gzip magic itself
    Files.write(moved, b)
    Files.delete(hdrFlip)
    Files.deleteIfExists(Paths.get(dir, ".shard-00000.tar.gz.crc"))
    val got = TarShardIO.read(spark, dir).collect()
    assert(got.length == 3 && got.forall(!_.valid), s"got ${got.toSeq}")
    assert(got.forall(e => e.reason == "gzip-corrupt" && e.bytes_skipped == -1L),
      s"got ${got.toSeq}")
  }

  private def rechecksum(hdr: Array[Byte]): Unit = {
    java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
    var sum = 0L
    var i = 0
    while (i < 512) { sum += hdr(i) & 0xff; i += 1 }
    "%06o".format(sum).getBytes("US-ASCII").copyToArray(hdr, 148)
    hdr(154) = 0; hdr(155) = ' '
  }

  test("ustar prefix field: POSIX long names reassemble; old-GNU prefix bytes are ignored") {
    val dir = freshDir()
    // POSIX shard: prefix="deep/dir/tree", name="sample.txt"
    val posix = TarShardIO.header("sample.txt", 3)
    "deep/dir/tree".getBytes("US-ASCII").copyToArray(posix, 345)
    rechecksum(posix)
    Files.write(Paths.get(dir, "posix.tar"),
      posix ++ "abc".getBytes ++ new Array[Byte](509) ++ new Array[Byte](1024))
    // old-GNU shard: magic "ustar  \0", junk where POSIX keeps the prefix
    val gnu = TarShardIO.header("plain.txt", 3)
    gnu(262) = ' '; gnu(263) = ' '; gnu(264) = 0
    "1234567890".getBytes("US-ASCII").copyToArray(gnu, 345) // atime bytes
    rechecksum(gnu)
    Files.write(Paths.get(dir, "gnu.tar"),
      gnu ++ "xyz".getBytes ++ new Array[Byte](509) ++ new Array[Byte](1024))
    val got = TarShardIO.read(spark, dir).collect()
    assert(got.length == 2 && got.forall(_.valid), s"got ${got.toSeq}")
    val byFile = got.map(e => e.file.split('/').last -> e).toMap
    assert(byFile("posix.tar").name == "deep/dir/tree/sample.txt")
    assert(byFile("posix.tar").key == "deep/dir/tree/sample" &&
      byFile("posix.tar").ext == "txt")
    assert(byFile("gnu.tar").name == "plain.txt")
    // the gz transport shares parseHeader — prefix works through it too
    val gzDir = freshDir()
    val baos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(baos)
    gz.write(posix ++ "abc".getBytes ++ new Array[Byte](509) ++ new Array[Byte](1024))
    gz.close()
    Files.write(Paths.get(gzDir, "posix.tar.gz"), baos.toByteArray)
    val gzGot = TarShardIO.read(spark, gzDir).collect()
    assert(gzGot.length == 1 && gzGot.head.valid &&
      gzGot.head.name == "deep/dir/tree/sample.txt")
  }
}
