package graft.sources

import graft.SparkTestBase
import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._

/** Layout-on-disk checks: hive-style partition directories must prune at
  * the scan (the plan reads fewer partitions, not just fewer rows), and
  * the on-disk IVF index prunes unprobed inverted lists at the directory
  * level.
  */
class LakeLayoutSpec extends SparkTestBase {

  private lazy val li = spark.read.parquet(sfDir("0.001") + "/lineitem.parquet")

  test("writePartitioned creates partition dirs and the scan prunes them") {
    val path = tempDir("lake") + "/li"
    LakeLayout.writePartitioned(li, path,
      partitionCols = Seq("l_returnflag"), clusterCols = Seq("l_shipdate"))

    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"),
      s"unexpected layout: ${dirs.toSeq}")

    val back = spark.read.parquet(path)
    // lossless: same rows (modulo column order — partition col moves last)
    assert(back.count() == li.count())
    val filtered = back.filter(col("l_returnflag") === "A")
    val expected = li.filter(col("l_returnflag") === "A").count()
    assert(filtered.count() == expected)
    // the prune must happen at planning: a partition filter in the plan,
    // and only the one matching directory's files actually read
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("l_returnflag"),
      s"partition filter missing from scan:\n$scan")
    val dirsRead = filtered.withColumn("f", input_file_name())
      .select("f").distinct().collect()
      .flatMap(r => "l_returnflag=([A-Z])".r.findFirstMatchIn(r.getString(0)).map(_.group(1)))
      .distinct
    assert(dirsRead.toSeq == Seq("A"), s"read beyond the pruned partition: ${dirsRead.toSeq}")
    // row-group clustering: each written file is sorted by l_shipdate
    val disorder = spark.read.parquet(path + "/l_returnflag=A")
      .withColumn("f", input_file_name())
      .withColumn("prev", lag("l_shipdate", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f").orderBy(monotonically_increasing_id())))
      .filter(col("prev") > col("l_shipdate"))
    assert(disorder.isEmpty, "files are not clustered by l_shipdate")
  }

  test("compact rewrites a many-small-file table into the target file count") {
    val in = tempDir("compact_in")
    val out = tempDir("compact_out")
    // 40 tiny files
    li.repartition(40).write.mode("overwrite").parquet(in)
    val (before, after) = LakeLayout.compact(spark, in, out,
      targetFileBytes = 256L << 10)
    assert(before == 40, s"setup wrote $before files")
    assert(after < 10, s"compaction left $after files")
    // lossless: same multiset of rows ((orderkey, linenumber) is not unique
    // in the synthetic data, so compare canonicalized row strings)
    val a = spark.read.parquet(in).collect().map(_.toString).sorted.toSeq
    val b = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(a == b)
    // file sizes land at/below target (plus parquet overhead tolerance)
    val fs = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(fs.forall(_.length <= (256L << 10) * 2))
  }

  test("schema evolution: mergeSchema unifies widening parquet batches") {
    import spark.implicits._
    val dir = tempDir("evolve")
    // batch 1: (id, a); batch 2 adds column b
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.mode("append").parquet(dir)
    Seq((3L, "z", 9.5)).toDF("id", "a", "b")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).isNullAt(rows(0).fieldIndex("b")), "old rows surface NULL for new columns")
    assert(rows(2).getDouble(rows(2).fieldIndex("b")) == 9.5)
  }

  test("on-disk IVF prunes unprobed inverted lists at the directory level") {
    val emb = spark.read.parquet(sfDir("0.001") + "/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val base = emb.filter(col("vec_id") =!= 0)
    val idx = SimilaritySearch.ivfIndex(base, "embedding", nlist = 8)
    val path = tempDir("lake") + "/ivf"
    SimilaritySearch.ivfWrite(idx, path)
    val reread = SimilaritySearch.ivfRead(spark, path)
    assert(reread.centroids.length == 8)

    // identical results from the persisted index (same lists, same rerank)
    val mem = SimilaritySearch.ivfTopK(idx, "vec_id", "embedding", query,
      k = 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    val disk = SimilaritySearch.ivfTopK(reread, "vec_id", "embedding", query,
      k = 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    assert(disk == mem, s"disk IVF diverged: $disk vs $mem")

    // nprobe=2 of 8: the scan must touch only the 2 probed directories
    val pruned = SimilaritySearch.ivfTopK(reread, "vec_id", "embedding", query,
      k = 10, nprobe = 2)
    pruned.collect()
    val files = pruned.withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0))
    val listsTouched = files.flatMap(f =>
      "list_id=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).distinct
    assert(listsTouched.length <= 2,
      s"expected <=2 inverted lists read, got ${listsTouched.toSeq}")
  }

  test("mergeUpsert rewrites only touched partitions; untouched files stay byte-identical") {
    import spark.implicits._
    val path = tempDir("lake") + "/t"
    // 3 partitions p=1,2,3 with 2 keys each
    Seq((1L, 1, "a", 10.0), (2L, 1, "b", 20.0),
        (3L, 2, "c", 30.0), (4L, 2, "d", 40.0),
        (5L, 3, "e", 50.0), (6L, 3, "f", 60.0))
      .toDF("k", "p", "name", "v")
      .write.partitionBy("p").parquet(path)
    def fileState(p: Int): Seq[(String, Long, Long)] =
      new java.io.File(s"$path/p=$p").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
    val p3Before = fileState(3)

    // changeset touches p=1 (update k=1, delete k=2), p=2 (insert k=9),
    // and a brand-new partition p=4 (insert k=10); p=3 untouched
    val changes = Seq(
      (1L, 1, "a2", 11.0, false), (2L, 1, "b", 20.0, true),
      (9L, 2, "z", 90.0, false), (10L, 4, "new", 100.0, false))
      .toDF("k", "p", "name", "v", "_deleted")
    val n = LakeLayout.mergeUpsert(spark, path, changes,
      keyCols = Seq("k"), partitionCols = Seq("p"),
      deleteCol = Some("_deleted"))
    assert(n == 3, s"expected 3 partitions rewritten, got $n")

    val got = spark.read.parquet(path)
      .select("k", "p", "name", "v").as[(Long, Int, String, Double)]
      .collect().toSet
    assert(got == Set(
      (1L, 1, "a2", 11.0),                       // updated
      (3L, 2, "c", 30.0), (4L, 2, "d", 40.0),    // untouched rows, touched partition
      (9L, 2, "z", 90.0),                        // inserted
      (5L, 3, "e", 50.0), (6L, 3, "f", 60.0),    // untouched partition
      (10L, 4, "new", 100.0)),                   // new partition
      s"merged state wrong: $got")
    // k=2 deleted
    assert(!got.exists(_._1 == 2L))
    // p=3 files untouched byte-for-byte (same names, sizes, mtimes)
    assert(fileState(3) == p3Before,
      s"untouched partition rewritten: ${fileState(3)} vs $p3Before")
  }

  test("mergeUpsert with an empty changeset is a no-op") {
    import spark.implicits._
    val path = tempDir("lake") + "/t2"
    Seq((1L, 1, 5.0)).toDF("k", "p", "v").write.partitionBy("p").parquet(path)
    val empty = Seq.empty[(Long, Int, Double)].toDF("k", "p", "v")
    assert(LakeLayout.mergeUpsert(spark, path, empty, Seq("k"), Seq("p")) == 0L)
    assert(spark.read.parquet(path).count() == 1)
  }

  test("maintainAggregate applies the delta exactly; untouched partitions stay byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = tempDir("lake") + "/agg"
    // facts across 3 partitions (p = year-like), grouped by (p, g)
    val facts = Seq(
      (1, "a", 10.0), (1, "a", 20.0), (1, "b", 5.0),
      (2, "a", 7.0),
      (3, "c", 50.0), (3, "c", 60.0))
      .toDF("p", "g", "v")
      .withColumn("rev", col("v").cast("decimal(18,2)"))
    val agg0 = facts.groupBy("p", "g")
      .agg(count(lit(1)).as("n"), sum("rev").as("revenue"))
    LakeLayout.writePartitioned(agg0, path, partitionCols = Seq("p"))
    def fileState(p: Int): Seq[(String, Long, Long)] =
      new java.io.File(s"$path/p=$p").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
    val p3Before = fileState(3)

    // changeset: insert into (1,a); delete ONE row of (1,b) -> group shrinks
    // but survives? no — (1,b) had n=1, the delete zeroes it -> dropped;
    // insert a brand-new group in a brand-new partition p=4; p=3 untouched
    val changes = Seq(
      (1, "a", 100.0, false),
      (1, "b", 5.0, true),
      (4, "z", 9.0, false), (4, "z", 1.0, false))
      .toDF("p", "g", "v", "_del")
      .withColumn("rev", col("v").cast("decimal(18,2)"))
    val n = LakeLayout.maintainAggregate(spark, path, changes,
      groupCols = Seq("p", "g"), countCol = "n",
      sumCols = Map("revenue" -> col("rev")),
      partitionCols = Seq("p"), deleteCol = Some("_del"))
    assert(n == 2, s"expected 2 partitions rewritten, got $n")

    val got = spark.read.parquet(path)
      .select(col("p").cast("int"), col("g"), col("n"),
        col("revenue").cast("double"))
      .as[(Int, String, Long, Double)].collect().toSet
    // the maintained state must equal a full recompute over facts ± changes
    assert(got == Set(
      (1, "a", 3L, 130.0),   // 2 rows + 1 insert
      (2, "a", 1L, 7.0),     // untouched group, untouched partition
      (3, "c", 2L, 110.0),   // untouched partition
      (4, "z", 2L, 10.0)),   // new group in new partition
      s"maintained state wrong: $got")
    assert(!got.exists(r => r._1 == 1 && r._2 == "b"), "zeroed group must drop")
    assert(fileState(3) == p3Before,
      s"untouched partition rewritten: ${fileState(3)} vs $p3Before")
    // schema must not drift (decimal widening pinned back to the stored type)
    assert(spark.read.parquet(path).schema("revenue").dataType ==
      agg0.schema("revenue").dataType)

    // empty changeset: no-op
    val empty = changes.filter(col("p") < 0)
    assert(LakeLayout.maintainAggregate(spark, path, empty,
      Seq("p", "g"), "n", Map("revenue" -> col("rev")), Seq("p"),
      Some("_del")) == 0L)
  }

  test("schema evolution: appended columns surface via mergeSchema with nulls backfilled") {
    import spark.implicits._
    val dir = tempDir("graft-evolve")
    // v1 writer: (id, a)
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.mode("append").parquet(dir)
    // v2 writer adds a column: (id, a, b) — the schema-drift shape every
    // long-lived ingestion hits
    Seq((3L, "z", 9L)).toDF("id", "a", "b")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"))
    val rows = merged.orderBy("id").collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("a")),
        if (r.isNullAt(r.fieldIndex("b"))) None else Some(r.getLong(r.fieldIndex("b")))))
    assert(rows.toSeq == Seq((1L, "x", None), (2L, "y", None), (3L, "z", Some(9L))))
    // WITHOUT mergeSchema the footer race picks one schema — pin the
    // contract that evolution REQUIRES the explicit option, so readers
    // never silently depend on file enumeration order
    val plain = spark.read.parquet(dir)
    assert(plain.columns.length <= 3)
  }
}
