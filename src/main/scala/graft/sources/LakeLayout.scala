package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-layout utilities for the 100 TB posture: how data is laid out on
  * disk decides how much of it a query has to read. Three levers, composed
  * by [[writePartitioned]]:
  *
  *   - **Hive-style partition directories** (`partitionBy`): equality/IN
  *     filters on partition columns prune whole directories at planning
  *     time — the scan never lists them. This is the coarse-grained prune
  *     (per the reference's per-day collection layout,
  *     src/data_processor.py:226-255, re-expressed as date-partitioned
  *     files instead of per-day tables).
  *   - **Within-partition clustering** (`sortWithinPartitions` before
  *     write): parquet writes min/max stats per row group, so range
  *     predicates on the cluster column skip row groups inside each file.
  *   - **File sizing** (`maxRecordsPerFile` + `repartition`): a 100 TB
  *     table written from 10k tasks without sizing yields millions of tiny
  *     files (listing + open dominate) or a few huge ones (no read
  *     parallelism). Target files in the 100 MB–1 GB range.
  */
object LakeLayout {

  /** Write `df` as a partitioned, clustered table. `partitionCols` become
    * hive-style directories; `clusterCols` are sorted within each output
    * task so row-group stats stay selective; `filesPerPartition` bounds
    * task fan-in, and `maxRecordsPerFile` caps file size from above.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       clusterCols: Seq[String] = Nil,
                       filesPerPartition: Int = 1,
                       maxRecordsPerFile: Long = 5000000L,
                       format: String = "parquet"): Unit = {
    // One shuffle: co-locate each output directory's rows into
    // `filesPerPartition` tasks (a deterministic row-hash salt fans a hot
    // directory out across tasks), then sort (partition dirs + cluster
    // cols) within each task so every task writes each directory once,
    // clustered.
    val keys = partitionCols.map(col) :+
      pmod(hash(df.columns.map(col): _*), lit(filesPerPartition))
    val shaped =
      if (partitionCols.isEmpty) df
      else df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
    val sorted =
      if ((partitionCols ++ clusterCols).isEmpty) shaped
      else shaped.sortWithinPartitions((partitionCols ++ clusterCols).map(col): _*)
    sorted.write
      .format(format)
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .save(path)
  }

  /** Recursively list data files under `path` (skips hidden/_metadata
    * files), returning (count, totalBytes).
    */
  def dataFileStats(spark: SparkSession, path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        n += 1; bytes += f.getLen
      }
    }
    (n, bytes)
  }

  /** Small-file compaction: rewrite a table directory into
    * ceil(totalBytes / targetFileBytes) files. The small-file problem is a
    * first-order 100 TB cost — a table written by many tasks accumulates
    * files whose open/list/seek overhead dominates scan time, and fixing
    * it is a periodic maintenance pass, not a read-time workaround.
    * Round-robin repartition (no keys) spreads rows evenly regardless of
    * skew in the input files. Writes to `outPath` (an in-place swap is the
    * caller's rename; on object stores the swap is a manifest flip).
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L << 20,
              format: String = "parquet"): (Long, Long) = {
    val (before, bytes) = dataFileStats(spark, inPath)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.format(format).load(inPath)
      .repartition(nFiles)
      .write.format(format).mode(SaveMode.Overwrite).save(outPath)
    (before, dataFileStats(spark, outPath)._1)
  }

  /** MERGE-style CDC apply into a hive-partitioned parquet table: rows in
    * `changes` replace same-key rows, new keys insert, and rows flagged
    * true in `deleteCol` remove their key — rewriting ONLY the partitions
    * the changeset touches.
    *
    * The 100 TB shape: a day's CDC batch against a years-deep table must
    * not rewrite (or even read) the cold partitions. The changeset's
    * distinct partition values — bounded by the PARTITION count, never by
    * data volume — are collected and pushed as an `isin` filter, so the
    * read of current data directory-prunes at planning time; the write
    * uses dynamic partition overwrite, which atomically swaps exactly the
    * partitions present in the output and leaves every other directory's
    * files byte-untouched. Cost is proportional to the affected
    * partitions, not the table.
    *
    * CONTRACT: a key's partition value must be stable across versions
    * (the standard CDC layout — partition by an immutable attribute of
    * the key, e.g. creation date). A key that "moves" partitions would
    * leave its old version behind, because the old partition is by
    * design never read. `changes` must carry one row per key (dedupe
    * upstream — e.g. latest-by-sequence — first) and must include the
    * table's full column set for upserts.
    *
    * ISOLATION: the dynamic overwrite is atomic PER PARTITION, not per
    * table — a reader racing a multi-partition merge can observe
    * partition A new + partition B old. Dynamic overwrite also only
    * swaps partitions PRESENT in the output: a partition whose keys are
    * ALL deleted writes nothing and its old files silently survive (same
    * for an all-groups-zeroed partition in [[maintainAggregate]]). When
    * readers and maintenance overlap — or emptied partitions must truly
    * drop — use [[SnapshotTable.mergeUpsert]]/
    * [[SnapshotTable.maintainAggregate]]: same contracts, one atomic
    * manifest commit with an EXPLICIT replaced-partition set, plus time
    * travel.
    *
    * Returns the number of partitions rewritten.
    */
  def mergeUpsert(spark: SparkSession, tablePath: String, changes: DataFrame,
                  keyCols: Seq[String], partitionCols: Seq[String],
                  deleteCol: Option[String] = None,
                  filesPerPartition: Int = 1): Long = {
    require(keyCols.nonEmpty && partitionCols.nonEmpty)
    require(partitionCols.forall(p => !keyCols.contains(p)),
      "partition columns must not overlap the key")
    // partition-count-bounded driver fetch: the affected partition VALUES
    val affected = changes.select(partitionCols.map(col): _*).distinct().collect()
    if (affected.isEmpty) return 0L
    val prune = affected.map { row =>
      partitionCols.zipWithIndex
        .map { case (p, i) => col(p) === lit(row.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val dataCols = spark.read.parquet(tablePath).columns.toSeq
    val current = spark.read.parquet(tablePath).filter(prune)
    val changeKeys = changes.select(keyCols.map(col): _*).distinct()
    val upserts = deleteCol match {
      case Some(d) => changes.filter(!coalesce(col(d), lit(false))).drop(d)
      case None => changes
    }
    val raw = current
      .join(changeKeys, keyCols, "left_anti")
      .unionByName(upserts.select(dataCols.map(col): _*))
    stageAndSwap(raw, tablePath, dataCols, partitionCols, affected.length,
      filesPerPartition)
    affected.length.toLong
  }

  /** Shape, stage, and dynamically overwrite the affected partitions.
    *
    * Shape BEFORE staging, exactly like writePartitioned: co-locate each
    * rewritten directory's rows into `filesPerPartition` tasks so the
    * merge output keeps the table's file discipline — an unshaped merge
    * writes every-task x every-dir small files, and the table degrades a
    * little with every CDC batch until a compaction bails it out.
    * localCheckpoint = the stage step of stage-then-swap: materializes
    * ONLY the affected partitions' merged rows (executor storage), and
    * cuts lineage so the overwrite below no longer reads the path it is
    * about to replace (Spark rejects a same-path read-overwrite plan).
    */
  private def stageAndSwap(raw: DataFrame, tablePath: String,
                           dataCols: Seq[String], partitionCols: Seq[String],
                           affectedCount: Int,
                           filesPerPartition: Int): Unit = {
    val shapeKeys = partitionCols.map(col) :+
      pmod(hash(dataCols.map(col): _*), lit(filesPerPartition))
    val merged = raw
      .repartition(math.max(affectedCount * filesPerPartition,
        filesPerPartition), shapeKeys: _*)
      .sortWithinPartitions(partitionCols.map(col): _*)
      .localCheckpoint()
    merged.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(tablePath)
  }

  /** Incremental maintenance of an ADDITIVE grouped-aggregate table (the
    * materialized-view-refresh shape): apply a CDC changeset to a stored
    * `group → (count, sums...)` table by aggregating only the DELTA and
    * rewriting only the partitions whose groups the changeset touches. A
    * 0.1% changeset against a 100 TB fact history costs one pass over the
    * changeset plus a group-count-bounded merge — the fact table is never
    * re-read.
    *
    * `sumCols` maps each stored sum column to the measure expression over
    * a CHANGE row (use exact types — e.g. a DECIMAL cast — so delta
    * addition is associative and replayable). Deletes (rows flagged true
    * in `deleteCol`) must carry the measure values being removed, as CDC
    * delete images do; they subtract. Groups whose maintained count
    * reaches zero are dropped. Returns partitions rewritten.
    *
    * CONTRACT: only additive aggregates (count/sum and anything derivable
    * from them — mean, variance via moments). min/max are not
    * delta-maintainable without the full history; keep those in a
    * recompute path.
    */
  def maintainAggregate(spark: SparkSession, tablePath: String,
                        changes: DataFrame, groupCols: Seq[String],
                        countCol: String, sumCols: Map[String, Column],
                        partitionCols: Seq[String],
                        deleteCol: Option[String] = None,
                        filesPerPartition: Int = 1): Long = {
    require(groupCols.nonEmpty && partitionCols.nonEmpty)
    require(partitionCols.forall(groupCols.contains),
      "partition columns must be group columns")
    // r18 perf: the delta feeds BOTH the affected-partition collect and
    // the combine — materialize the group-count-sized aggregate once
    // (guide §5) instead of re-running the changeset aggregation twice
    val delta = aggregateDelta(changes, groupCols, countCol, sumCols,
      deleteCol).localCheckpoint()
    val affected = delta.select(partitionCols.map(col): _*).distinct().collect()
    if (affected.isEmpty) return 0L
    val prune = affected.map { row =>
      partitionCols.zipWithIndex
        .map { case (p, i) => col(p) === lit(row.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val base = spark.read.parquet(tablePath)
    val current = base.filter(prune)
    val typed = combineAggregate(current, delta, base.schema, groupCols,
      countCol, sumCols.keys.toSeq.sorted)
    stageAndSwap(typed, tablePath, base.columns.toSeq,
      partitionCols, affected.length, filesPerPartition)
    affected.length.toLong
  }

  /** The per-change delta aggregation shared by the in-place and
    * snapshot maintenance paths: signed counts/sums per group. */
  private[sources] def aggregateDelta(changes: DataFrame, groupCols: Seq[String],
                                      countCol: String, sumCols: Map[String, Column],
                                      deleteCol: Option[String]): DataFrame = {
    val sgn = deleteCol
      .map(d => when(coalesce(col(d), lit(false)), lit(-1L)).otherwise(lit(1L)))
      .getOrElse(lit(1L))
    val sumNames = sumCols.keys.toSeq.sorted
    val deltaAggs = sum(sgn).as(countCol) +:
      sumNames.map(n => sum(sumCols(n) * sgn).as(n))
    changes.groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
  }

  /** Base ⋈ delta combine shared by both maintenance paths: full-outer on
    * the group key (using-columns → coalesced keys — a group present only
    * in the base passes through, only in the delta inserts, in both sums
    * component-wise), zero-count groups dropped, and the stored schema
    * PINNED (decimal addition widens precision; an unpinned write would
    * drift the table's types a digit per batch). */
  private[sources] def combineAggregate(current: DataFrame, delta: DataFrame,
                                        schema: org.apache.spark.sql.types.StructType,
                                        groupCols: Seq[String], countCol: String,
                                        sumNames: Seq[String]): DataFrame = {
    val dataCols = schema.fieldNames.toSeq
    val combined = current.as("b").join(delta.as("d"), groupCols, "full_outer")
      .select((groupCols.map(col) :+
        (coalesce(col(s"b.$countCol"), lit(0L)) +
          coalesce(col(s"d.$countCol"), lit(0L))).as(countCol)) ++
        sumNames.map(n => (coalesce(col(s"b.$n"), lit(0)) +
          coalesce(col(s"d.$n"), lit(0))).as(n)): _*)
      .filter(col(countCol) > 0)
    combined.select(dataCols.map(c =>
      col(c).cast(schema(c).dataType).as(c)): _*)
  }
}
