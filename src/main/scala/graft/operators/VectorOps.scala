package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding compression for corpus storage: symmetric per-vector int8
  * quantization. At 100 TB an `array<float>` embedding column is the
  * dominant storage (and scan-bytes) line item; int8 cuts it 4x with a
  * bounded reconstruction error (<= scale/2 per component, scale =
  * max|x|/127), which downstream ANN re-ranking absorbs by re-scoring the
  * short candidate list against the full-precision source of truth.
  *
  * Everything is row-local codegen'd collection expressions — quantization
  * is a map over the corpus with no shuffle, and the arithmetic (floor(x /
  * scale + 0.5), round-half-up) is chosen to be bit-replayable by external
  * engines so the driver oracle can recompute it.
  */
object VectorOps {

  /** Per-vector symmetric scale: max|x| / 127, floored at 1e-12 so the
    * all-zero vector quantizes to zeros instead of dividing by zero.
    */
  def quantScale(embCol: String): Column = expr(
    s"greatest(aggregate($embCol, CAST(0 AS DOUBLE), " +
      s"(a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) / 127.0D, 1e-12D)")

  /** `array<tinyint>` quantized form: round-half-up of x/scale, clamped to
    * [-127, 127] (the symmetric range; -128 is never produced, so the
    * codes negate safely). `scaleCol` must be [[quantScale]] of the same
    * vector.
    */
  def quantizeInt8(embCol: String, scaleCol: String): Column = expr(
    s"transform($embCol, x -> CAST(greatest(least(" +
      s"floor(CAST(x AS DOUBLE) / $scaleCol + 0.5D), 127.0D), -127.0D) AS TINYINT))")

  /** Dequantized `array<double>`: code * scale. */
  def dequantize(qCol: String, scaleCol: String): Column = expr(
    s"transform($qCol, v -> CAST(v AS DOUBLE) * $scaleCol)")

  /** The storable quantized corpus: (idCol, q_scale, q_emb). At scale this
    * is materialized at ingest and the float column never enters the search
    * scan — int8 codes are the phase-1 working set (4x fewer scan bytes,
    * and the per-vector scale CANCELS out of cosine, so phase-1 scoring is
    * a pure integer-code dot product).
    */
  def quantizedTable(emb: DataFrame, idCol: String, embCol: String): DataFrame =
    emb
      .withColumn("q_scale", quantScale(embCol))
      .select(col(idCol), col("q_scale"), quantizeInt8(embCol, "q_scale").as("q_emb"))

  /** Two-phase ANN top-k: approximate scoring over the QUANTIZED corpus
    * (scan reads int8 codes only; score = dot(codes, query) / (|codes| x
    * |query|) — q_scale cancels), take the top `k * margin` candidates,
    * then rerank that short list against the full-precision table with
    * exact cosine. Returns (idCol, cosine) — identical to brute force
    * whenever the true top-k survive the approximate cut, which `margin`
    * buys: the approximate score deviates from the true cosine by at most
    * ~(1 - cosine_recon) ~ 1e-3 at 8-bit/64-dim, far below the candidate
    * gap at margin 8. Phase 1 is a scan + TakeOrdered over the small
    * quantized table; phase 2 joins `k * margin` ids (broadcast) back to
    * full precision — the float column is read for the candidate list
    * only.
    */
  def quantizedTopK(full: DataFrame, quantized: DataFrame, idCol: String,
                    embCol: String, query: Array[Float], k: Int,
                    margin: Int = 8): DataFrame = {
    val q = typedLit(query.toSeq)
    val cands = quantized
      .withColumn("q_vec", q)
      .withColumn("approx_cos", expr(
        "aggregate(zip_with(q_emb, q_vec, (c, y) -> CAST(c AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)" +
          " / greatest(sqrt(aggregate(q_emb, CAST(0 AS DOUBLE), (a, c) -> a + CAST(c AS DOUBLE) * CAST(c AS DOUBLE))) * " +
          "sqrt(aggregate(q_vec, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))), 1e-12D)"))
      .orderBy(col("approx_cos").desc, col(idCol))
      .limit(k * margin)
      .select(col(idCol))
    val dot = s"aggregate(zip_with($embCol, q_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    val n1 = s"sqrt(aggregate($embCol, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val n2 = "sqrt(aggregate(q_vec, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"
    full
      .join(broadcast(cands), idCol)
      .withColumn("q_vec", q)
      // greatest(..., 1e-12): an all-zero vector in the shortlist must
      // score 0, not NaN (the quantizedTopK discipline — r14 ADVICE)
      .selectExpr(idCol, s"round($dot / greatest($n1 * $n2, 1e-12D), 6) AS cosine")
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** `emb` plus q_scale, q_emb and reconstruction diagnostics per vector:
    * `max_abs_err` (worst component error — bounded by q_scale/2 up to
    * clamping) and `cosine_recon` (cosine between the original and its
    * dequantized reconstruction).
    */
  def quantizeWithError(emb: DataFrame, embCol: String): DataFrame = {
    val dot =
      s"aggregate(zip_with($embCol, _deq, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    val n1 = s"sqrt(aggregate($embCol, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val n2 = "sqrt(aggregate(_deq, CAST(0 AS DOUBLE), (a, x) -> a + x * x))"
    emb
      .withColumn("q_scale", quantScale(embCol))
      .withColumn("q_emb", quantizeInt8(embCol, "q_scale"))
      .withColumn("_deq", dequantize("q_emb", "q_scale"))
      .withColumn("max_abs_err", expr(
        s"aggregate(zip_with($embCol, _deq, (x, y) -> abs(CAST(x AS DOUBLE) - y)), " +
          "CAST(0 AS DOUBLE), (a, v) -> greatest(a, v))"))
      .withColumn("cosine_recon", expr(s"$dot / greatest($n1 * $n2, 1e-12D)"))
      .drop("_deq")
  }
  // ------------------------------------------------------------- IVF-PQ

  /** A trained product-quantization model (Jégou, Douze, Schmid 2011 —
    * "Product Quantization for Nearest Neighbor Search"): `m` subspace
    * codebooks over `dsub`-dim slices of the L2-NORMALIZED vector, each
    * codebook ≤ 256 integer centroids in [[Clustering.kmeansInt]]'s
    * quantized domain (`round((x + shift) * scale)` longs — the same
    * bit-replayable arithmetic, so training is deterministic and an
    * external engine can replay it). A vector stores as `m` code BYTES:
    * at 64-dim float32 and m = 8 that is a 32× scan-byte cut (int8
    * quantization's 4×, squared) — the standard 100 TB ANN memory shape.
    */
  final case class PqModel(m: Int, dsub: Int, scale: Long, shift: Double,
                           books: Vector[Vector[Vector[Long]]]) {
    require(books.length == m && books.forall(_.nonEmpty))
    /** code bytes per vector (1 byte per subspace — ksub ≤ 256). */
    def codeBytes: Int = m
  }

  /** (id, q) rows: the L2-normalized vector in the integer-quantized
    * domain shared by training, encoding, and the ADC scan. Unit
    * normalization first makes squared-L2 ADC ordering agree with
    * cosine (|u - v|² = 2 - 2·cos for unit vectors). */
  private def unitQuant(emb: DataFrame, idCol: String, embCol: String,
                        scale: Long, shift: Double): DataFrame = {
    val n = s"greatest(sqrt(aggregate($embCol, CAST(0 AS DOUBLE), " +
      s"(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 1e-12D)"
    // r17 perf: spread before the normalize/quantize HOF and the typed
    // encode/ADC kernels above it — a single-split source otherwise runs
    // the whole PQ pipeline in one task (q_v19 measured 1.0 s + 0.85 s
    // single-task jobs at sf0.1); only (id, embedding) crosses (§2.5)
    Tables.spread(emb, col(idCol)).selectExpr(idCol,
      s"transform($embCol, x -> CAST(round((CAST(x AS DOUBLE) / $n + " +
        s"CAST($shift AS DOUBLE)) * $scale) AS BIGINT)) AS q")
  }

  /** Train `m` per-subspace codebooks on a BOUNDED DETERMINISTIC SAMPLE
    * (the `trainSample` smallest ids — the FAISS discipline: PQ
    * codebooks train on ~10⁴-10⁵ sampled vectors however big the
    * corpus, so training cost and driver memory are sample-sized,
    * never corpus-sized). The kmeans itself replicates
    * [[Clustering.kmeansInt]]'s integer arithmetic exactly — seeds =
    * the `ksub` smallest-id vectors, argmin by (distance, seed order),
    * integer means via floor division on the shifted nonnegative
    * domain — folded in memory over the sample (a corpus-sized Spark
    * job per iteration per subspace would be ~100 scheduling rounds
    * for nothing: the sample decides the same codebook). Deterministic:
    * same data → bit-identical model. Codes are indexes into each
    * book's centroid list; empty clusters drop. */
  def pqTrain(emb: DataFrame, idCol: String, embCol: String, m: Int,
              ksub: Int, iterations: Int = 3, scale: Long = 1000000L,
              shift: Double = 1.0, trainSample: Int = 4096): PqModel = {
    require(m >= 1 && ksub >= 2 && ksub <= 256, "need 2 <= ksub <= 256")
    require(trainSample >= ksub, "sample must cover the seed count")
    val d = emb.selectExpr(s"size($embCol)").head().getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    val sample: Array[Array[Long]] =
      unitQuant(emb, idCol, embCol, scale, shift)
        .orderBy(col(idCol)).limit(trainSample)
        .collect().map(_.getSeq[Long](1).toArray)
    require(sample.nonEmpty, "cannot train on an empty corpus")
    // validate the ACTUAL sample, not just the requested cap — a corpus
    // smaller than ksub would silently train fewer centroids (r14 ADVICE)
    require(sample.length >= ksub,
      s"corpus has only ${sample.length} rows — cannot seed ksub=$ksub centroids")
    val books = (0 until m).toVector.map { j =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      // floorDiv ≡ truncating div on this shifted nonnegative domain, so
      // delegating to the shared in-memory kmeans is bit-identical
      kmeansLocal(sub, ksub, iterations).map(_.toVector)
    }
    PqModel(m, dsub, scale, shift, books)
  }

  private def sqDistL(a: IndexedSeq[Long], off: Int, b: IndexedSeq[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < b.length) { val d = a(off + i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Encode the corpus: (id, pq_code array<int>) — per subspace the
    * nearest codebook centroid by integer squared L2, smallest code on
    * ties. Row-local typed pass; the model travels as task-closure data
    * (model-sized). This is the STORED form: m bytes of information per
    * vector, the float column never enters the ADC scan. */
  def pqEncode(emb: DataFrame, idCol: String, embCol: String,
               model: PqModel): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    unitQuant(emb, idCol, embCol, model.scale, model.shift)
      .as[(Long, Seq[Long])]
      .map { case (id, qSeq) =>
        val q = qSeq.toIndexedSeq
        val code = new Array[Int](model.m)
        var j = 0
        while (j < model.m) {
          val book = model.books(j)
          var best = 0
          var bestD = Long.MaxValue
          var c = 0
          while (c < book.length) {
            val dd = sqDistL(q, j * model.dsub, book(c))
            if (dd < bestD) { bestD = dd; best = c }
            c += 1
          }
          code(j) = best
          j += 1
        }
        (id, code.toSeq)
      }.toDF(idCol, "pq_code")
  }

  /** IVF-PQ-style two-phase top-k: an ASYMMETRIC-DISTANCE scan over the
    * code table (the query's per-subspace distance table to every
    * centroid is computed ONCE driver-side — m·ksub longs — and rides
    * the closure; each row costs m table lookups over its code bytes),
    * shortlist `k * margin` by ADC distance, then exact cosine rerank
    * against full precision for the ids in the shortlist only — the
    * [[quantizedTopK]] discipline at a 32× (vs 4×) phase-1 byte cut.
    * Returns (idCol, cosine), identical to brute force whenever the true
    * top-k survive the ADC cut. */
  def pqTopK(full: DataFrame, codes: DataFrame, idCol: String,
             embCol: String, model: PqModel, query: Array[Float], k: Int,
             margin: Int = 8): DataFrame = {
    // flat PQ = IVFADC with ONE list: delegate to the shared ADC + rerank
    // core (r14 review — the shortlist/rerank arithmetic is hash-contract-
    // bearing for q_v19 AND q_v20 and must live once)
    val qn = math.max(math.sqrt(query.map(x => x.toDouble * x).sum), 1e-12)
    val qq = query.map(x =>
      math.round((x / qn + model.shift) * model.scale)).toIndexedSeq
    val table: Array[Array[Long]] = (0 until model.m).map { j =>
      model.books(j).map(c => sqDistL(qq, j * model.dsub, c)).toArray
    }.toArray
    adcScanRerank(full, codes.withColumn("list_id", lit(0)),
      Map(0 -> table), idCol, embCol, query, k, margin)
  }
  /** IVF-PQ composition (the FAISS IVFADC shape — Jégou et al. 2011
    * §IV): a COARSE quantizer of `nlist` centroids routes every vector
    * to an inverted list, and PQ encodes the RESIDUAL (vector − its
    * coarse centroid) — residuals are tighter than raw vectors, so the
    * same code budget buys more recall. Query time probes only the
    * `nprobe` nearest lists: at 10^10 vectors with nlist = 65536 and
    * nprobe = 64, the ADC scan touches ~0.1% of the code table — the
    * coarse router is what turns PQ's byte cut into a ROW cut. */
  final case class IvfPqModel(coarse: Vector[Vector[Long]], pq: PqModel) {
    def nlist: Int = coarse.length
  }

  /** Index of the nearest centroid to `v(off until off+len)` by integer
    * squared L2, first (smallest-index) centroid winning ties — the ONE
    * argmin every trainer/encoder in this file shares. */
  private def nearestIndex(v: Array[Long], off: Int, len: Int,
                           cents: IndexedSeq[Array[Long]]): Int = {
    var best = 0
    var bd = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var s2 = 0L
      var i = 0
      while (i < len) { val dd = v(off + i) - cent(i); s2 += dd * dd; i += 1 }
      if (s2 < bd) { bd = s2; best = c }
      c += 1
    }
    best
  }

  /** In-memory integer kmeans over sample rows (the [[pqTrain]]
    * arithmetic: smallest-id seeds, (distance, seed-order) argmin,
    * FLOOR-division means — `Math.floorDiv`, since residual domains go
    * negative where kmeansInt's shifted domain could truncate-divide).
    * Deterministic; empty clusters drop. */
  private def kmeansLocal(rows: Array[Array[Long]], k: Int,
                          iterations: Int): Vector[Array[Long]] = {
    require(rows.nonEmpty)
    val dim = rows(0).length
    var cents: Vector[Array[Long]] = rows.take(k).map(_.clone()).toVector
    def assign(): Array[Int] = rows.map(v => nearestIndex(v, 0, dim, cents))
    def means(asg: Array[Int]): Vector[Array[Long]] = {
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      val counts = new Array[Long](cents.length)
      var r = 0
      while (r < rows.length) {
        val c = asg(r)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += rows(r)(i); i += 1 }
        r += 1
      }
      (0 until cents.length).iterator.filter(counts(_) > 0).map { c =>
        val m = new Array[Long](dim)
        var i = 0
        while (i < dim) { m(i) = Math.floorDiv(sums(c)(i), counts(c)); i += 1 }
        m
      }.toVector
    }
    for (_ <- 1 to iterations) cents = means(assign())
    means(assign())
  }

  /** Train the coarse quantizer AND the per-subspace residual codebooks
    * on one bounded deterministic sample ([[pqTrain]]'s discipline). */
  def ivfPqTrain(emb: DataFrame, idCol: String, embCol: String,
                 nlist: Int, m: Int, ksub: Int, iterations: Int = 3,
                 scale: Long = 1000000L, shift: Double = 1.0,
                 trainSample: Int = 4096): IvfPqModel = {
    require(nlist >= 1 && m >= 1 && ksub >= 2 && ksub <= 256)
    require(trainSample >= math.max(ksub, nlist),
      s"trainSample=$trainSample must cover the seed counts " +
        s"(nlist=$nlist, ksub=$ksub) — fewer sample rows than seeds would " +
        "silently train a smaller quantizer than requested")
    val d = emb.selectExpr(s"size($embCol)").head().getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    val sample: Array[Array[Long]] =
      unitQuant(emb, idCol, embCol, scale, shift)
        .orderBy(col(idCol)).limit(trainSample)
        .collect().map(_.getSeq[Long](1).toArray)
    require(sample.nonEmpty, "cannot train on an empty corpus")
    // validate the ACTUAL sample, not just the requested cap — a corpus
    // smaller than the seed counts would silently train a smaller
    // quantizer than requested (r14 ADVICE)
    require(sample.length >= math.max(ksub, nlist),
      s"corpus has only ${sample.length} rows — cannot seed " +
        s"nlist=$nlist coarse centroids and ksub=$ksub codewords")
    val coarse = kmeansLocal(sample, nlist, iterations)
    // residual sample trains the PQ books, subspace by subspace
    val residuals = sample.map { v =>
      val c = coarse(nearestIndex(v, 0, d, coarse))
      Array.tabulate(d)(i => v(i) - c(i))
    }
    val books = (0 until m).toVector.map { j =>
      val sub = residuals.map(r =>
        java.util.Arrays.copyOfRange(r, j * dsub, (j + 1) * dsub))
      kmeansLocal(sub, ksub, iterations).map(_.toVector)
    }
    IvfPqModel(coarse.map(_.toVector),
      PqModel(m, dsub, scale, shift, books))
  }

  /** Encode: (id, list_id, pq_code) — each vector routed to its nearest
    * coarse list, its RESIDUAL PQ-coded against that list's frame. The
    * stored search table is (1 small int + m bytes) per vector; at scale
    * it is written partitioned by `list_id`, so a probe reads only the
    * probed lists' files (the [[SimilaritySearch.ivfTopK]] layout). */
  def ivfPqEncode(emb: DataFrame, idCol: String, embCol: String,
                  model: IvfPqModel): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pq = model.pq
    val coarseArr: IndexedSeq[Array[Long]] = model.coarse.map(_.toArray)
    unitQuant(emb, idCol, embCol, pq.scale, pq.shift)
      .as[(Long, Seq[Long])]
      .map { case (id, qSeq) =>
        val q = qSeq.toArray
        val d = q.length
        val bestL = nearestIndex(q, 0, d, coarseArr)
        val cent = coarseArr(bestL)
        val code = new Array[Int](pq.m)
        var j = 0
        while (j < pq.m) {
          val book = pq.books(j)
          var best = 0
          var bD = Long.MaxValue
          var k = 0
          while (k < book.length) {
            val bk = book(k)
            var s2 = 0L
            var i = 0
            while (i < pq.dsub) {
              val dd = (q(j * pq.dsub + i) - cent(j * pq.dsub + i)) - bk(i)
              s2 += dd * dd
              i += 1
            }
            if (s2 < bD) { bD = s2; best = k }
            k += 1
          }
          code(j) = best
          j += 1
        }
        (id, bestL, code.toSeq)
      }.toDF(idCol, "list_id", "pq_code")
  }

  /** Probe-and-rerank search: rank coarse lists by distance to the
    * query (driver-side, nlist-bounded), keep `nprobe`, build ONE ADC
    * table per probed list over the query's residual against that
    * list's centroid (nprobe · m · ksub longs — model-sized), scan only
    * rows whose `list_id` is probed (a partition-prunable filter at
    * scale), shortlist by ADC distance, exact-cosine rerank. Identical
    * to brute force whenever the true top-k live in probed lists AND
    * survive the ADC cut — nprobe and margin are the two recall dials,
    * both part of q_v20's hashed contract. */
  def ivfPqTopK(full: DataFrame, codes: DataFrame, idCol: String,
                embCol: String, model: IvfPqModel, query: Array[Float],
                k: Int, nprobe: Int, margin: Int = 8): DataFrame = {
    val probed = probeTables(model, query, nprobe)
    val scoped = codes.filter(col("list_id").isin(probed.keySet.toSeq: _*))
    adcScanRerank(full, scoped, probed, idCol, embCol, query, k, margin)
  }

  /** The query's per-probed-list ADC tables: rank coarse lists by
    * distance (nlist-bounded, driver-side), keep `nprobe`, precompute
    * each kept list's residual distance table — nprobe · m · ksub longs
    * of closure data. */
  private[operators] def probeTables(model: IvfPqModel, query: Array[Float],
                          nprobe: Int): Map[Int, Array[Array[Long]]] = {
    val pq = model.pq
    val d = model.coarse(0).length
    val qn = math.max(math.sqrt(query.map(x => x.toDouble * x).sum), 1e-12)
    val qq = Array.tabulate(d)(i =>
      math.round((query(i) / qn + pq.shift) * pq.scale))
    val listDist = model.coarse.zipWithIndex.map { case (cent, li) =>
      var s2 = 0L
      var i = 0
      while (i < d) { val dd = qq(i) - cent(i); s2 += dd * dd; i += 1 }
      (s2, li)
    }.sorted.take(math.min(nprobe, model.nlist))
    listDist.map { case (_, li) =>
      val cent = model.coarse(li)
      val table = (0 until pq.m).map { j =>
        pq.books(j).map { bk =>
          var s2 = 0L
          var i = 0
          while (i < pq.dsub) {
            val dd = (qq(j * pq.dsub + i) - cent(j * pq.dsub + i)) - bk(i)
            s2 += dd * dd
            i += 1
          }
          s2
        }.toArray
      }.toArray
      li -> table
    }.toMap
  }

  /** ADC-score `codesScoped` (already restricted to probed lists),
    * shortlist `k * margin`, exact-cosine rerank against full
    * precision. */
  private def adcScanRerank(full: DataFrame, codesScoped: DataFrame,
                            probed: Map[Int, Array[Array[Long]]],
                            idCol: String, embCol: String,
                            query: Array[Float], k: Int,
                            margin: Int): DataFrame = {
    val spark = full.sparkSession
    import spark.implicits._
    val cands = codesScoped
      .select(col(idCol).cast("long"), col("list_id").cast("int"), col("pq_code"))
      .as[(Long, Int, Seq[Int])]
      .map { case (id, li, code) =>
        val table = probed(li)
        var s = 0L
        var j = 0
        while (j < code.length) { s += table(j)(code(j)); j += 1 }
        (id, s)
      }.toDF(idCol, "adc_dist")
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k * margin)
      .select(col(idCol))
    val dot = s"aggregate(zip_with($embCol, q_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    val n1 = s"sqrt(aggregate($embCol, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val n2 = "sqrt(aggregate(q_vec, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"
    full
      .join(broadcast(cands), idCol)
      .withColumn("q_vec", typedLit(query.toSeq))
      // greatest(..., 1e-12): an all-zero vector in the shortlist must
      // score 0, not NaN (the quantizedTopK discipline — r14 ADVICE)
      .selectExpr(idCol, s"round($dot / greatest($n1 * $n2, 1e-12D), 6) AS cosine")
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Persist the code table PARTITIONED BY LIST (hive layout
    * `list_id=N/`): the stored 100 TB shape — a probe then lists, opens,
    * and plans ONLY the probed directories ([[ivfPqTopKIndexed]]), so
    * the ADC row cut becomes a FILE cut before any Spark scan exists. */
  def ivfPqWriteIndex(codes: DataFrame, path: String): Unit =
    // r17 perf: cluster by list before the hive-partitioned write — with
    // an upstream of N tasks every task otherwise opens a file in every
    // list dir (N×nlist tiny files; a probe then plans nprobe×N files
    // instead of nprobe). One file per list is the stored 100 TB shape
    // (guide §6: writers sized by partition value, not task count).
    codes.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)

  /** Probe-only read of a written index: the probed lists' directories,
    * selected DRIVER-SIDE through the Hadoop filesystem of `path` (so
    * hdfs:///s3a:// indexes probe exactly like local ones — r14 review);
    * directories that do not exist (empty lists) are skipped; `basePath`
    * keeps `list_id` as a column. `None` when NO probed list exists —
    * a legal state (all probed centroids drew zero vectors), the
    * caller's empty result, never an error. */
  def ivfPqReadLists(spark: org.apache.spark.sql.SparkSession, path: String,
                     lists: Seq[Int]): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = lists.map(l => new org.apache.hadoop.fs.Path(path, s"list_id=$l"))
      .filter(fs.exists).map(_.toString)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", path).parquet(dirs: _*))
  }

  /** [[ivfPqTopK]] against a written index: only probed-list FILES are
    * planned (the `.inputFiles` receipt in PqSpec). An all-empty probe
    * returns the empty result, matching the in-memory path's behavior. */
  def ivfPqTopKIndexed(full: DataFrame, indexPath: String, idCol: String,
                       embCol: String, model: IvfPqModel,
                       query: Array[Float], k: Int, nprobe: Int,
                       margin: Int = 8): DataFrame = {
    val probed = probeTables(model, query, nprobe)
    ivfPqReadLists(full.sparkSession, indexPath, probed.keySet.toSeq.sorted) match {
      case Some(scoped) =>
        adcScanRerank(full, scoped, probed, idCol, embCol, query, k, margin)
      case None =>
        full.limit(0).selectExpr(idCol, "CAST(0.0 AS DOUBLE) AS cosine")
    }
  }
}
