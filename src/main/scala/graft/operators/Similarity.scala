package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two physical strategies with the same logical contract
  * (query id -> top-k corpus neighbors by cosine):
  *
  *  - [[bruteForceTopK]]: broadcast the (small) query set against the
  *    full corpus — one narrow map stage + two-phase per-query top-k
  *    (partial bounded heaps map-side, tiny merge), no corpus shuffle.
  *    Exact. The right plan whenever |queries| is
  *    driver-broadcastable, at ANY corpus size.
  *  - [[lshTopK]]: random-hyperplane bucket join — both sides shuffle
  *    on the bucket id only; recall traded for candidate-set size via
  *    `nBits`/`probes`. The scale path when the query set itself is
  *    huge (all-pairs-ish workloads).
  */
object Similarity {

  /** L2-normalize a double vector in place-free loop form. The
    * arithmetic (left-fold sum of squares, then divide) matches
    * `VectorFunctions.normalize` on a cast-to-double array exactly, so
    * downstream dot-product scores are bit-identical to the expression
    * form. Shared by the brute-force and IVF kernels. */
  private def normLocal(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else { val o = new Array[Double](v.length)
      i = 0; while (i < v.length) { o(i) = v(i) / n; i += 1 }; o }
  }

  /** Indices of the `m` nearest centroids by squared L2, ascending
    * (ties break to the smaller cell index — the same total order as
    * `array_sort` over (dist, cell) structs, and the same sequential
    * left-fold arithmetic as `VectorFunctions.l2Sq`). Selection scan:
    * O(nLists * m) after the O(nLists * dim) distance pass — both
    * primitive-array loops, so per-row cost is flat in plan size. */
  private def nearestCells(cs: Array[Array[Double]], v: Array[Double],
                           m: Int): Array[Int] = {
    val n = cs.length
    val d = new Array[Double](n)
    var c = 0
    while (c < n) {
      var s = 0.0; var j = 0
      val cc = cs(c)
      while (j < v.length) { val t = v(j) - cc(j); s += t * t; j += 1 }
      d(c) = s; c += 1
    }
    val out = new Array[Int](math.min(m, n))
    val used = new Array[Boolean](n)
    var i = 0
    while (i < out.length) {
      var best = -1; var bd = Double.MaxValue
      c = 0
      while (c < n) { if (!used(c) && d(c) < bd) { bd = d(c); best = c }; c += 1 }
      used(best) = true; out(i) = best; i += 1
    }
    out
  }

  /** Two-phase top-k: a per-partition bounded heap keeps at most k
    * candidates per query (primitive arrays, no per-row allocation),
    * then a tiny window ranks the <= partitions x k survivors per
    * query. Emits (query_id, rank, neighbor_id, score) with rank 1..k
    * by (score desc, neighbor_id asc) — the same contract as a global
    * `row_number` window, but the full corpus's candidate rows never
    * funnel through one reducer: only heap survivors shuffle. The
    * survivor set is a function of each partition's row SET (top-k
    * under a total order), so the final result is layout-independent. */
  private def topKSelect(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val qType = scored.schema("query_id").dataType
    val partial = scored
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("score").cast("double"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        // (score asc, id desc) min-heap: root = current worst kept
        val ord = new Ordering[(Double, Long)] {
          def compare(a: (Double, Long), b: (Double, Long)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        val heaps = scala.collection.mutable.LongMap
          .empty[java.util.PriorityQueue[(Double, Long)]]
        it.foreach { case (q, id, s) =>
          val h = heaps.getOrNull(q) match {
            case null =>
              val nh = new java.util.PriorityQueue[(Double, Long)](k + 1, ord)
              heaps(q) = nh; nh
            case x => x
          }
          h.add((s, id))
          if (h.size > k) h.poll()
        }
        heaps.iterator.flatMap { case (q, h) =>
          h.iterator().asScala.map(t => (q, t._2, t._1))
        }
      }
      .toDF("query_id", "neighbor_id", "score")
    partial
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id").cast(qType).as("query_id"), col("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Exact top-k by cosine: the query set (driver-sized by contract) is
    * collected, L2-normalized, and broadcast; ONE narrow pass over the
    * corpus scores every (query, row) pair with primitive-array dot
    * products and keeps per-partition top-k heaps. No corpus shuffle,
    * no per-pair expression evaluation — the quadratic stage is a tight
    * loop, and only heap survivors (<= partitions x |q| x k rows) move.
    * Correct at ANY corpus size; |queries| bounds driver memory.
    *
    * The arithmetic (left-fold sum of squares, divide, left-fold dot)
    * matches `VectorFunctions.normalize`/`dot` exactly, so scores are
    * bit-identical to the expression form. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qArr = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1)
      .map { case (id, v) => (id, normLocal(v)) }
    val bc = spark.sparkContext.broadcast(qArr)
    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        val ord = new Ordering[(Double, Long)] {
          def compare(a: (Double, Long), b: (Double, Long)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Double, Long)](k + 1, ord))
        it.foreach { case (nid, raw) =>
          val cv = normLocal(raw)
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (!(excludeSelf && qid == nid)) {
              var s = 0.0; var j = 0
              while (j < qv.length) { s += qv(j) * cv(j); j += 1 }
              val h = heaps(qi)
              h.add((s, nid))
              if (h.size > k) { h.poll(); () }
            }
            qi += 1
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator().asScala.map(t => (qs(qi)._1, t._2, t._1))
        }
      }
      .toDF("query_id", "neighbor_id", "score")
      .withColumn("query_id", col("query_id").cast(queries.schema(idCol).dataType))
    topKSelect(partial, k)
  }

  /** Int8 scalar-quantized brute-force top-k cosine, with a
    * full-precision certificate column.
    *
    * The 100-TB memory-bandwidth path for embedding scans: each vector
    * is quantized ONCE to int8 with a per-vector max-abs scale
    * (`q_i = floor(v_i * 127 / max|v| + 0.5)` — the closed, engine-
    * replayable form), and candidate scoring runs on the int vectors.
    * Cosine is scale-invariant, so the per-vector scales cancel:
    * `score = qdot / (|q_a| * |q_b|)` needs no dequantization. A
    * deployment stores the int8 corpus (4x smaller than float32, 8x
    * smaller than float64) and streams it through the same broadcast +
    * per-partition-heap plan as [[bruteForceTopK]] — no corpus
    * shuffle. `score_fp` carries the full-precision cosine of each
    * SELECTED pair, so every output row is its own quantization-error
    * certificate. Ranking ties (quantized scores are discrete) break
    * by ascending neighbor id — deterministic for the oracle. The
    * final window runs over heap survivors only
    * (<= partitions x |queries| x k rows), never the corpus. */
  def int8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
               vecCol: String, k: Int,
               excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def quantize(v: Array[Double]): Array[Int] = {
      var m = 0.0
      var i = 0
      while (i < v.length) {
        val a = math.abs(v(i)); if (a > m) m = a; i += 1
      }
      val q = new Array[Int](v.length)
      if (m != 0.0) {
        i = 0
        while (i < v.length) {
          q(i) = math.floor(v(i) * 127 / m + 0.5).toInt; i += 1
        }
      }
      q
    }
    def qnorm(q: Array[Int]): Double = {
      var s = 0.0; var i = 0
      while (i < q.length) { s += q(i).toDouble * q(i); i += 1 }
      math.sqrt(s)
    }
    def fnorm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val qType = queries.schema(idCol).dataType
    val qArr = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1)
      .map { case (id, raw) =>
        val q = quantize(raw)
        (id, raw, fnorm(raw), q, qnorm(q))
      }
    val bc = spark.sparkContext.broadcast(qArr)
    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        // min-heap on (quantized score asc, id desc): root = worst kept,
        // ties keep the SMALLER id (matches rank order score desc, id asc)
        val ord = new Ordering[(Double, Long, Double)] {
          def compare(a: (Double, Long, Double), b: (Double, Long, Double)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Double, Long, Double)](k + 1, ord))
        it.foreach { case (nid, raw) =>
          val cq = quantize(raw)
          val cqn = qnorm(cq)
          val cfn = fnorm(raw)
          var qi = 0
          while (qi < qs.length) {
            val (qid, qraw, qfn, qq, qqn) = qs(qi)
            if (!(excludeSelf && qid == nid)) {
              // both dots in one pass over the 2x-resident vectors
              var qd = 0.0
              var fd = 0.0
              var j = 0
              while (j < qq.length) {
                qd += qq(j).toDouble * cq(j)
                fd += qraw(j) * raw(j)
                j += 1
              }
              val qs1 = if (qqn == 0.0 || cqn == 0.0) 0.0 else qd / (qqn * cqn)
              val fs1 = if (qfn == 0.0 || cfn == 0.0) 0.0 else fd / (qfn * cfn)
              val h = heaps(qi)
              h.add((qs1, nid, fs1))
              if (h.size > k) { h.poll(); () }
            }
            qi += 1
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator().asScala.map(t => (qs(qi)._1, t._2, t._1, t._3))
        }
      }
      .toDF("query_id", "neighbor_id", "score", "score_fp")
    partial
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id").cast(qType).as("query_id"), col("rank"),
        col("neighbor_id"), col("score"), col("score_fp"))
  }

  /** Random-projection (Johnson-Lindenstrauss) approximate top-k
    * cosine, with a full-precision certificate column.
    *
    * The dimensionality-reduction path for embedding scans: a fixed
    * Gaussian projection matrix (`rDim` rows of
    * [[graft.functions.VectorFunctions.hyperplanes]] — the SAME
    * deterministic driver-seeded family the sign-bit LSH uses, so an
    * external SQL oracle can inline the planes as literals) maps both
    * sides to `rDim` dimensions, and candidate scoring is cosine in the
    * REDUCED space — at d=64 -> r=16 that is 4x less memory bandwidth
    * and 4x fewer multiply-adds per candidate, with the JL bound
    * controlling the distortion. Same broadcast-queries /
    * per-partition-heap plan as [[bruteForceTopK]]: the corpus never
    * shuffles, each row is projected once, in-pass. `score_fp` carries
    * the exact full-dimension cosine of each SELECTED pair (the
    * per-row distortion certificate, same contract as [[int8TopK]]).
    * All arithmetic is left-fold dot / divide-by-norm-product, matching
    * `list_dot_product(...)/ (sqrt(..)*sqrt(..))` bit-for-bit. */
  def rpTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, dim: Int, rDim: Int, seed: Long, k: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = graft.functions.VectorFunctions.hyperplanes(dim, rDim, seed)
    def project(v: Array[Double]): Array[Double] = {
      val p = new Array[Double](planes.length)
      var i = 0
      while (i < planes.length) {
        val pl = planes(i)
        var s = 0.0; var j = 0
        while (j < pl.length) { s += v(j) * pl(j); j += 1 }
        p(i) = s; i += 1
      }
      p
    }
    def fnorm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val qType = queries.schema(idCol).dataType
    val qArr = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1)
      .map { case (id, raw) =>
        val p = project(raw)
        (id, raw, fnorm(raw), p, fnorm(p))
      }
    val bc = spark.sparkContext.broadcast(qArr)
    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        val ord = new Ordering[(Double, Long, Double)] {
          def compare(a: (Double, Long, Double), b: (Double, Long, Double)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Double, Long, Double)](k + 1, ord))
        it.foreach { case (nid, raw) =>
          val cp = project(raw)
          val cpn = fnorm(cp)
          val cfn = fnorm(raw)
          var qi = 0
          while (qi < qs.length) {
            val (qid, qraw, qfn, qp, qpn) = qs(qi)
            if (!(excludeSelf && qid == nid)) {
              var rd = 0.0
              var j = 0
              while (j < qp.length) { rd += qp(j) * cp(j); j += 1 }
              var fd = 0.0
              j = 0
              while (j < qraw.length) { fd += qraw(j) * raw(j); j += 1 }
              val rs = if (qpn == 0.0 || cpn == 0.0) 0.0 else rd / (qpn * cpn)
              val fs = if (qfn == 0.0 || cfn == 0.0) 0.0 else fd / (qfn * cfn)
              val h = heaps(qi)
              h.add((rs, nid, fs))
              if (h.size > k) { h.poll(); () }
            }
            qi += 1
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator().asScala.map(t => (qs(qi)._1, t._2, t._1, t._3))
        }
      }
      .toDF("query_id", "neighbor_id", "score", "score_fp")
    partial
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id").cast(qType).as("query_id"), col("rank"),
        col("neighbor_id"), col("score"), col("score_fp"))
  }

  /** Product-quantization (PQ) approximate top-k cosine with asymmetric
    * distance, plus a full-precision certificate column.
    *
    * The classic FAISS-style compression path: the dimension is split
    * into `m` sub-blocks, each with its own `nCodes`-centroid codebook
    * (trained by the SAME deterministic driver-local k-means as IVF's
    * coarse quantizer — bounded hash-ordered sample, so codebooks are a
    * pure function of the data and the output is golden-able). A corpus
    * vector is stored as `m` byte codes — at d=64, m=8 that is 8 bytes
    * against 512 for float64, a 64x compression — and queries score
    * candidates ASYMMETRICALLY: the query stays full-precision, each
    * block contributes `dot(q_block, centroid[code])` from a per-query
    * lookup table built once per partition (m x nCodes entries), so
    * scoring a candidate is m table lookups, never a d-dim dot. The
    * approximate cosine divides by the RECONSTRUCTED corpus norm
    * (sqrt of summed per-code squared norms) — everything the scan
    * touches derives from codes + codebooks alone. `score_fp` carries
    * the exact cosine of each selected pair (the per-row quantization
    * certificate, same contract as [[int8TopK]]). A deployment encodes
    * once and scans only the code table; this operator runs both in one
    * corpus pass, with the approximate score computed strictly from the
    * codes. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, nCodes: Int = 16,
             excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qType = queries.schema(idCol).dataType
    val qArr = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1)
    require(qArr.nonEmpty, "empty query set")
    val dim = qArr.head._2.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    // per-block codebooks from the deterministic sampled k-means
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val sub = corpus.select(col(idCol),
        slice(col(vecCol).cast("array<double>"), j * subDim + 1, subDim)
          .as("__sub"))
      trainQuantizer(sub, idCol, "__sub", nCodes)
    }
    def fnorm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val qFull = qArr.map { case (id, raw) => (id, raw, fnorm(raw)) }
    val bcQ = spark.sparkContext.broadcast(qFull)
    val bcB = spark.sparkContext.broadcast(books)
    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bcQ.value
        val bks = bcB.value
        // per-(block, code) squared centroid norms — shared by all queries
        val normTab = Array.tabulate(m, nCodes) { (j, c) =>
          var s = 0.0; var t = 0
          val cc = bks(j)(c)
          while (t < subDim) { s += cc(t) * cc(t); t += 1 }
          s
        }
        // per-query LUT: dot(query block j, centroid c)
        val lut = Array.tabulate(qs.length, m, nCodes) { (qi, j, c) =>
          var s = 0.0; var t = 0
          val qv = qs(qi)._2
          val cc = bks(j)(c)
          while (t < subDim) { s += qv(j * subDim + t) * cc(t); t += 1 }
          s
        }
        val ord = new Ordering[(Double, Long, Double)] {
          def compare(a: (Double, Long, Double), b: (Double, Long, Double)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Double, Long, Double)](k + 1, ord))
        val codes = new Array[Int](m)
        it.foreach { case (nid, raw) =>
          // ENCODE: nearest centroid per block (the stored representation)
          var j = 0
          while (j < m) {
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < nCodes) {
              var d = 0.0; var t = 0
              val cc = bks(j)(c)
              while (t < subDim) {
                val x = raw(j * subDim + t) - cc(t); d += x * x; t += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            codes(j) = best
            j += 1
          }
          var xn2 = 0.0
          j = 0
          while (j < m) { xn2 += normTab(j)(codes(j)); j += 1 }
          val xnorm = math.sqrt(xn2)
          val cfn = fnorm(raw)
          var qi = 0
          while (qi < qs.length) {
            val (qid, qraw, qfn) = qs(qi)
            if (!(excludeSelf && qid == nid)) {
              // SCAN: m lookups — the only use of the vector is its codes
              var ad = 0.0
              j = 0
              while (j < m) { ad += lut(qi)(j)(codes(j)); j += 1 }
              val score = if (qfn == 0.0 || xnorm == 0.0) 0.0
                else ad / (qfn * xnorm)
              // full-precision certificate for the selected pairs
              var fd = 0.0
              var t = 0
              while (t < dim) { fd += qraw(t) * raw(t); t += 1 }
              val fp = if (qfn == 0.0 || cfn == 0.0) 0.0 else fd / (qfn * cfn)
              val h = heaps(qi)
              h.add((score, nid, fp))
              if (h.size > k) { h.poll(); () }
            }
            qi += 1
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator().asScala.map(t => (qs(qi)._1, t._2, t._1, t._3))
        }
      }
      .toDF("query_id", "neighbor_id", "score", "score_fp")
    partial
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id").cast(qType).as("query_id"), col("rank"),
        col("neighbor_id"), col("score"), col("score_fp"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * (MLlib, seeded) partitions the corpus into `nLists` cells; each
    * query scores only the corpus vectors in its `nProbe` nearest
    * cells. The classic FAISS-style scale path when both sides are
    * large: corpus shuffles once on cell id, queries replicate only
    * nProbe times, and candidate volume is corpus/nLists * nProbe.
    */
  /** Deterministic coarse quantizer: Lloyd's k-means run driver-locally
    * over a bounded, hash-ordered corpus sample — the FAISS pattern (the
    * quantizer always trains on a sample, so this is also the 100-TB
    * shape: `orderBy(hash).limit(n)` is a partial per-partition top-n,
    * never a full sort). Sequential driver FP order makes the centers a
    * pure function of the data; MLlib's KMeans aggregates partials in
    * task-completion order, so its centers carry run-to-run jitter that
    * can flip boundary cell assignments. */
  private[graft] def trainQuantizer(corpus: DataFrame, idCol: String,
                                    vecCol: String, nLists: Int,
                                    maxIter: Int = 10,
                                    sampleN: Int = 65536): Array[Array[Double]] = {
    val sample = corpus
      .select(col(vecCol).cast("array<double>").as("v"),
        xxhash64(col(vecCol).cast("array<double>"), col(idCol)).as("h"),
        col(idCol).cast("string").as("tid"))
      .orderBy("h", "tid")
      .limit(sampleN)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample(0).length
    def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0.0; var j = 0
        val cc = cs(c)
        while (j < dim) { val t = v(j) - cc(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    // evenly-strided init over the hash-ordered sample (hash order is a
    // deterministic pseudo-random permutation, so strides behave like a
    // seeded random init)
    var centers = Array.tabulate(nLists)(i =>
      sample(((i.toLong * sample.length) / nLists).toInt).clone())
    var it = 0
    while (it < maxIter) {
      val sums = Array.fill(nLists)(new Array[Double](dim))
      val cnt = new Array[Long](nLists)
      var i = 0
      while (i < sample.length) {
        val v = sample(i)
        val c = nearest(centers, v)
        val s = sums(c)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        cnt(c) += 1
        i += 1
      }
      centers = Array.tabulate(nLists)(c =>
        if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else centers(c))
      it += 1
    }
    centers
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = trainQuantizer(corpus, idCol, vecCol, nLists)
    // broadcast the centroid matrix and assign cells in a tight
    // primitive-array argmin per partition: plan size and per-row cost
    // stay O(1) in nLists (the previous form inlined nLists x dim
    // literals into the expression tree and array_sort'ed 10^4 structs
    // per row at production IVF scale — plan compilation blew up before
    // data cost mattered). Cell choice and normalized vectors are
    // bit-identical to the expression form (see normLocal/nearestCells).
    val bcCenters = spark.sparkContext.broadcast(centers)
    val qType = queries.schema(idCol).dataType
    val c = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcCenters.value
        it.map { case (id, raw) =>
          (id, normLocal(raw), nearestCells(cs, raw, 1)(0))
        }
      }
      .toDF("neighbor_id", "cv", "cell")
    val q = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcCenters.value
        it.flatMap { case (id, raw) =>
          val qv = normLocal(raw)
          nearestCells(cs, raw, nProbe).iterator.map(cell => (id, qv, cell))
        }
      }
      .toDF("query_id", "qv", "cell")
    // no distinct needed: each corpus vector lives in exactly one cell
    // and a query's probe cells are distinct, so a (query, neighbor)
    // candidate appears at most once
    val scored = q.join(c, "cell")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id").cast(qType).as("query_id"), col("neighbor_id"),
        dot(col("qv"), col("cv")).as("score"))
    topKSelect(scored, k)
  }

  /** IVFPQ: the FAISS production composition (`IndexIVFPQ`) of the two
    * halves above — IVF's coarse k-means quantizer restricts each query
    * to its `nProbe` nearest cells, and a product quantizer over the
    * RESIDUALS (v − centroid[cell]) compresses every corpus vector to
    * `m` byte codes scored through per-query lookup tables.
    *
    * Score decomposition (asymmetric, inner-product form):
    *   dot(q, v̂) = dot(q, c_cell) + Σ_j LUT_j[code_j]
    * with LUT_j[t] = dot(q_block_j, book_j[t]) built once per partition
    * per query (m × nCodes entries), and the reconstructed corpus norm
    *   ‖v̂‖² = ‖c‖² + 2·Σ_j dot(c_block_j, book_j[code_j]) + Σ_j ‖book_j[code_j]‖²
    * read from THREE driver-precomputed tables (nLists; nLists×m×nCodes;
    * m×nCodes) — the scan never touches a d-dimensional corpus value
    * after encoding, exactly the deployed-index read path. Cosine =
    * decomposed dot / (‖q‖·‖v̂‖); `score_fp` carries the exact cosine of
    * each SELECTED pair (per-row quantization certificate, same contract
    * as [[pqTopK]]/[[int8TopK]]).
    *
    * Plan shape: codebooks/centroids train on the deterministic
    * hash-ordered sample ([[trainQuantizer]] — a partial top-n, never a
    * full sort); the corpus is scanned ONCE with broadcast queries and
    * per-partition bounded heaps — the corpus never shuffles, and a row
    * is scored only by the queries probing its cell, so candidate
    * volume is Σ_cells |rows_c|·|queries probing c| ≈ |corpus|·|Q|·
    * nProbe/nLists under balance (the SKEW.md bound). Deterministic
    * end-to-end → golden-able. */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, nLists: Int = 8, nProbe: Int = 2,
                m: Int = 8, nCodes: Int = 16,
                excludeSelf: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qType = queries.schema(idCol).dataType
    val qArr = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1)
    require(qArr.nonEmpty, "empty query set")
    val dim = qArr.head._2.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val centers = trainQuantizer(corpus, idCol, vecCol, nLists)
    val bcCenters = spark.sparkContext.broadcast(centers)
    // residual frame: one narrow pass, persisted across the m codebook
    // trainings + the scoring scan
    val res = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcCenters.value
        it.map { case (id, raw) =>
          val cell = nearestCells(cs, raw, 1)(0)
          val cc = cs(cell)
          val r = new Array[Double](raw.length)
          var j = 0
          while (j < raw.length) { r(j) = raw(j) - cc(j); j += 1 }
          (id, raw, cell, r)
        }
      }
      .toDF("nid", "raw", "cell", "res")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val sub = res.select(col("nid"),
        slice(col("res"), j * subDim + 1, subDim).as("__sub"))
      trainQuantizer(sub, "nid", "__sub", nCodes)
    }
    // driver tables: cell norms, cell-x-code cross dots, code norms
    val cnorm2 = centers.map { c =>
      var s = 0.0; var j = 0
      while (j < dim) { s += c(j) * c(j); j += 1 }; s
    }
    val crossTab = Array.tabulate(nLists, m, nCodes) { (cell, j, t) =>
      val c = centers(cell); val bk = books(j)(t)
      var s = 0.0; var u = 0
      while (u < subDim) { s += c(j * subDim + u) * bk(u); u += 1 }
      s
    }
    val rnorm2 = Array.tabulate(m, nCodes) { (j, t) =>
      val bk = books(j)(t)
      var s = 0.0; var u = 0
      while (u < subDim) { s += bk(u) * bk(u); u += 1 }
      s
    }
    def fnorm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val qFull = qArr.map { case (id, raw) => (id, raw, fnorm(raw)) }
    // per-cell probe lists: which queries score rows of each cell
    val probeLists: Array[Array[Int]] = {
      val ls = Array.fill(nLists)(scala.collection.mutable.ArrayBuffer.empty[Int])
      qFull.zipWithIndex.foreach { case ((_, raw, _), qi) =>
        nearestCells(centers, raw, nProbe).foreach(cell => ls(cell) += qi)
      }
      ls.map(_.toArray)
    }
    val bcQ = spark.sparkContext.broadcast(qFull)
    val bcB = spark.sparkContext.broadcast(books)
    val bcCn = spark.sparkContext.broadcast(cnorm2)
    val bcCross = spark.sparkContext.broadcast(crossTab)
    val bcRn = spark.sparkContext.broadcast(rnorm2)
    val bcProbe = spark.sparkContext.broadcast(probeLists)
    val partial = res
      .select(col("nid"), col("raw"), col("cell"))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { it =>
        val qs = bcQ.value
        val bks = bcB.value
        val cs = bcCenters.value
        val cn2 = bcCn.value
        val cross = bcCross.value
        val rn2 = bcRn.value
        val probe = bcProbe.value
        // per-query: block LUTs (raw q x codebooks) and q·centroid dots
        val lut = Array.tabulate(qs.length, m, nCodes) { (qi, j, t) =>
          val qv = qs(qi)._2; val bk = bks(j)(t)
          var s = 0.0; var u = 0
          while (u < subDim) { s += qv(j * subDim + u) * bk(u); u += 1 }
          s
        }
        val qcdot = Array.tabulate(qs.length, nLists) { (qi, cell) =>
          val qv = qs(qi)._2; val c = cs(cell)
          var s = 0.0; var j = 0
          while (j < dim) { s += qv(j) * c(j); j += 1 }
          s
        }
        val ord = new Ordering[(Double, Long, Double)] {
          def compare(a: (Double, Long, Double), b: (Double, Long, Double)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        val heaps = Array.fill(qs.length)(
          new java.util.PriorityQueue[(Double, Long, Double)](k + 1, ord))
        val codes = new Array[Int](m)
        it.foreach { case (nid, raw, cell) =>
          val watchers = probe(cell)
          if (watchers.nonEmpty) {
            // ENCODE the residual (recomputed from raw + centroid so the
            // scan input stays 3 narrow columns)
            val cc = cs(cell)
            var j = 0
            while (j < m) {
              var best = 0
              var bestD = Double.MaxValue
              var t = 0
              while (t < nCodes) {
                val bk = bks(j)(t)
                var d = 0.0; var u = 0
                while (u < subDim) {
                  val x = (raw(j * subDim + u) - cc(j * subDim + u)) - bk(u)
                  d += x * x; u += 1
                }
                if (d < bestD) { bestD = d; best = t }
                t += 1
              }
              codes(j) = best
              j += 1
            }
            var vn2 = cn2(cell)
            j = 0
            while (j < m) {
              vn2 += 2.0 * cross(cell)(j)(codes(j)) + rn2(j)(codes(j))
              j += 1
            }
            val vnorm = math.sqrt(math.max(0.0, vn2))
            val cfn = fnorm(raw)
            var wi = 0
            while (wi < watchers.length) {
              val qi = watchers(wi)
              val (qid, qraw, qfn) = qs(qi)
              if (!(excludeSelf && qid == nid)) {
                var ad = qcdot(qi)(cell)
                j = 0
                while (j < m) { ad += lut(qi)(j)(codes(j)); j += 1 }
                val score = if (qfn == 0.0 || vnorm == 0.0) 0.0
                  else ad / (qfn * vnorm)
                var fd = 0.0
                var u = 0
                while (u < dim) { fd += qraw(u) * raw(u); u += 1 }
                val fp = if (qfn == 0.0 || cfn == 0.0) 0.0 else fd / (qfn * cfn)
                val h = heaps(qi)
                h.add((score, nid, fp))
                if (h.size > k) { h.poll(); () }
              }
              wi += 1
            }
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator().asScala.map(t => (qs(qi)._1, t._2, t._1, t._3))
        }
      }
      .toDF("query_id", "neighbor_id", "score", "score_fp")
    val out = partial
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id").cast(qType).as("query_id"), col("rank"),
        col("neighbor_id"), col("score"), col("score_fp"))
      .localCheckpoint(true)
    res.unpersist()
    out
  }

  /** Approximate top-k via sign-bit LSH buckets with multiprobe.
    *
    * Each corpus vector lands in one bucket; each query probes its own
    * bucket plus every 1-bit-flip neighbor up to `probes` extra buckets
    * (classic multiprobe LSH — recovers most recall lost to bit
    * boundaries without replicating the corpus).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int, dim: Int,
              nBits: Int = 12, probes: Int = 4, seed: Long = 42L,
              excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      normalize(col(vecCol)).as("cv"),
      hyperplaneBucket(col(vecCol), dim, nBits, seed).as("bucket"))
    val qb = queries.select(col(idCol).as("query_id"),
      normalize(col(vecCol)).as("qv"),
      hyperplaneBucket(col(vecCol), dim, nBits, seed).as("b0"))
    // probe buckets: own bucket + single-bit flips (deterministic order)
    val probeList = qb.select(col("query_id"), col("qv"),
      explode(array((col("b0") +:
        (0 until math.min(probes, nBits))
          .map(i => col("b0").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"))
    val scored = probeList.join(c, "bucket")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qv"), col("cv")).as("score"))
      .distinct()
    topKSelect(scored, k)
  }

  /** Cluster assignment with pre-normalized vectors: one narrow
    * mapPartitions over a broadcast centroid matrix, emitting
    * (id, normalized vector, cluster, squared L2 to the centroid).
    * Shared kernel of [[kmeansAssign]] and `Dedup.semanticDupPairs`.
    * Argmin ties break to the smaller cluster index (same total order
    * as [[nearestCells]]); normalization is [[normLocal]], so cosines
    * computed downstream are bit-identical to the IVF/brute-force
    * scores. Plan cost is O(1) in nClusters — the centroids travel as
    * ONE broadcast, never as expression-tree literals. */
  private[graft] def assignNormalized(df: DataFrame, idCol: String,
                                      vecCol: String,
                                      centers: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    val idType = df.schema(idCol).dataType
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, raw) =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            var s = 0.0; var j = 0
            val cc = cs(c)
            while (j < raw.length) { val t = raw(j) - cc(j); s += t * t; j += 1 }
            if (s < bd) { bd = s; best = c }
            c += 1
          }
          (id, normLocal(raw), best, bd)
        }
      }
      .toDF("__id", "v", "cluster", "dist2")
      .select(col("__id").cast(idType).as("id"), col("v"),
        col("cluster"), col("dist2"))
  }

  /** K-means cluster assignment over an embedding column: centroids
    * train driver-locally on a hash-ordered sample (the IVF quantizer,
    * [[trainQuantizer]] — deterministic, layout-independent), then ship
    * as one broadcast for a shuffle-free per-partition argmin. Returns
    * (idCol, cluster, dist2) where dist2 is the row's squared L2
    * distance to its centroid (the per-row inertia term). At 100 TB the
    * cluster never shuffles: training reads a bounded sample, and
    * assignment is a narrow map — the same shape whether nClusters is
    * 8 or 65536. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   nClusters: Int, maxIter: Int = 10): DataFrame = {
    val centers = trainQuantizer(df, idCol, vecCol, nClusters, maxIter)
    assignNormalized(df, idCol, vecCol, centers)
      .select(col("id").as(idCol), col("cluster"), col("dist2"))
  }

  /** Per-cluster summary — size, inertia (sum of squared distances),
    * and mean squared distance. One narrow assignment map + one
    * groupBy: after map-side combine only nClusters rows shuffle, so
    * the aggregate is free at any corpus size. */
  def kmeansClusterStats(df: DataFrame, idCol: String, vecCol: String,
                         nClusters: Int, maxIter: Int = 10): DataFrame =
    kmeansAssign(df, idCol, vecCol, nClusters, maxIter)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist2")).as("inertia"),
        avg(col("dist2")).as("mean_dist2"))

  // ---- Incremental semantic (embedding) index ----

  /** The trained half of the incremental semantic index: IVF coarse
    * centers + per-block PQ codebooks. Driver-side arrays (a few KB) —
    * a production pipeline persists them next to the index table; both
    * are pure functions of the corpus (hash-ordered-sample k-means,
    * [[trainQuantizer]]), so re-deriving them is also deterministic. */
  case class SemanticIndexModel(centers: Array[Array[Double]],
                                books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def dim: Int = centers(0).length
    def subDim: Int = dim / m

    /** Persist next to the index table (JSON; exact via the %.17g
      * round-trip guarantee of Double.toString). */
    def save(path: String): Unit = {
      def arr2(a: Array[Array[Double]]) = a.map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      val json = s"""{"centers":${arr2(centers)},"books":${books.map(arr2).mkString("[", ",", "]")}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
      ()
    }
  }

  /** Load a model persisted by [[SemanticIndexModel.save]] — the
    * read side of the encode-once contract: a later ingestion batch
    * needs the SAME quantizers the index rows were coded with. */
  def loadSemanticIndexModel(path: String): SemanticIndexModel = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    def arr2(n: com.fasterxml.jackson.databind.JsonNode) =
      n.elements().asScala.map(r =>
        r.elements().asScala.map(_.asDouble()).toArray).toArray
    SemanticIndexModel(arr2(node.get("centers")),
      node.get("books").elements().asScala.map(arr2).toArray)
  }

  /** Train the IVF+PQ model from a corpus (coarse quantizer over the
    * full vectors, one codebook per dimension sub-block). */
  def trainSemanticIndex(corpus: DataFrame, idCol: String, vecCol: String,
                         nLists: Int = 16, m: Int = 8,
                         nCodes: Int = 16): SemanticIndexModel = {
    val centers = trainQuantizer(corpus, idCol, vecCol, nLists)
    val dim = centers(0).length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val books = Array.tabulate(m) { j =>
      val sub = corpus.select(col(idCol),
        slice(col(vecCol).cast("array<double>"), j * subDim + 1, subDim)
          .as("__sub"))
      trainQuantizer(sub, idCol, "__sub", nCodes)
    }
    SemanticIndexModel(centers, books)
  }

  /** The maintained KEEPER TABLE of the incremental semantic index —
    * the IVF+PQ analogue of `Dedup.minhashSignatureIndex`: one row per
    * corpus vector with its coarse `cell`, its `m` PQ `codes`, and the
    * reconstructed norm. 8 bytes of codes stand in for the vector at
    * probe time; the raw embedding is never re-read. A production
    * pipeline persists this table once (bucketed BY cell, so probes
    * become partition-pruned scans) and appends each accepted batch's
    * rows (`index.union(semanticSignatureIndex(model, newVecs, ...))`)
    * — encode-once, exactly the MinHash keeper-table contract. */
  def semanticSignatureIndex(model: SemanticIndexModel, df: DataFrame,
                             idCol: String, vecCol: String): DataFrame = {
    requireIntegralId(df, idCol, "semanticSignatureIndex")
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val idType = df.schema(idCol).dataType
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val mm = bc.value
        val sd = mm.subDim
        it.map { case (id, raw) =>
          val cell = nearestCells(mm.centers, raw, 1)(0)
          val codes = new Array[Int](mm.m)
          var rn2 = 0.0
          var j = 0
          while (j < mm.m) {
            // per-block argmin over the codebook, ties to lower code —
            // same total order as nearestCells
            var best = 0; var bd = Double.MaxValue
            var c = 0
            val bk = mm.books(j)
            while (c < bk.length) {
              var s = 0.0; var t = 0
              val cc = bk(c)
              while (t < sd) {
                val d = raw(j * sd + t) - cc(t); s += d * d; t += 1
              }
              if (s < bd) { bd = s; best = c }
              c += 1
            }
            codes(j) = best
            val cc = bk(best)
            var t = 0
            while (t < sd) { rn2 += cc(t) * cc(t); t += 1 }
            j += 1
          }
          (id, cell, codes, math.sqrt(rn2))
        }
      }
      .toDF("__id", "cell", "codes", "rec_norm")
      .select(col("__id").cast(idType).as("id"), col("cell"),
        col("codes"), col("rec_norm"))
  }

  /** The model's nProbe nearest coarse cells for one raw vector. */
  private[graft] def probeCells(m: SemanticIndexModel, raw: Array[Double],
                                nProbe: Int): Array[Int] =
    nearestCells(m.centers, raw, nProbe)

  /** Persist a [[semanticSignatureIndex]] keeper table BUCKETED BY
    * `cell` — the write that makes every later probe corpus-shuffle-
    * free: the probe join's corpus side arrives hash-clustered on cell
    * straight from the files, so the only exchange in
    * [[incrementalSemanticFlags]] is the batch-sized probe side
    * (plan-asserted in OperatorsSpec's bucketed-probe test, the
    * ExportSpec zero-shuffle discipline). One shuffle at write time,
    * amortized over every ingestion batch thereafter. */
  def saveSemanticIndex(index: DataFrame, table: String,
                        buckets: Int = 32): Unit =
    index.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell").saveAsTable(table)

  /** Fail-loud id contract for the semantic-index operators: they run
    * the id through cast("long") and back, which would turn a
    * non-numeric id (string/uuid) into silent nulls — corrupting cell
    * and canonical assignments instead of erroring (r11 ADVICE). The
    * MinHash cluster operators support arbitrary ids; these require
    * integral ones (or a caller-supplied surrogate key). */
  private[graft] def requireIntegralId(df: DataFrame, idCol: String,
                                       op: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(dt == ByteType || dt == ShortType || dt == IntegerType ||
      dt == LongType,
      s"$op requires an integral id column (cast-to-long roundtrip); " +
        s"'$idCol' is ${dt.catalogString} — supply a surrogate key")
  }

  /** The SINGLE shared scoring column for the asymmetric PQ cosine —
    * one definition used by BOTH the batch flags and the streaming
    * gate (r11 verdict ask #7), since r13 a NATIVE codegen'd
    * expression ([[graft.functions.ApproxPqCosine]]) instead of a
    * closure ScalaUDF: the candidate projection stays inside
    * whole-stage codegen, and NULL handling (a left-outer probe row
    * with no candidate scores 0.0, below any positive threshold) lives
    * inside the expression itself. Same arithmetic order as
    * [[approxCosFromCodes]], so scores are bit-identical. */
  private[graft] def approxCosUdf(model: SemanticIndexModel)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column) => org.apache.spark.sql.Column = {
    // digest-keyed wrapper: equal books => semanticEquals expressions
    // (r13 hygiene #3)
    val books = new graft.functions.PqCodebooks(model.books)
    val sd = model.subDim
    (q, codes, recNorm) => {
      import org.apache.spark.sql.graft.ColumnShim
      ColumnShim.column(graft.functions.ApproxPqCosine(
        ColumnShim.expression(q.cast("array<double>")),
        ColumnShim.expression(codes.cast("array<int>")),
        ColumnShim.expression(recNorm.cast("double")),
        books, sd))
    }
  }

  /** Asymmetric approximate cosine from PQ codes alone: the query
    * stays full precision, the candidate contributes
    * dot(q, reconstruction)/(|q|·rec_norm) — shared by the batch
    * flags and the streaming gate (identical scores by construction). */
  private[graft] def approxCosFromCodes(q: Seq[Double], codes: Seq[Int],
                                        recNorm: Double,
                                        books: Array[Array[Array[Double]]],
                                        sd: Int): Double = {
    var qn = 0.0; var i = 0
    while (i < q.length) { qn += q(i) * q(i); i += 1 }
    val qnorm = math.sqrt(qn)
    if (qnorm == 0.0 || recNorm == 0.0) 0.0
    else {
      var s = 0.0; var j = 0
      while (j < codes.length) {
        val cc = books(j)(codes(j))
        var t = 0
        while (t < sd) { s += q(j * sd + t) * cc(t); t += 1 }
        j += 1
      }
      s / (qnorm * recNorm)
    }
  }

  /** Incremental SEMANTIC near-dup: flag an incoming embedding batch
    * against the persisted corpus index without touching corpus
    * vectors — `Dedup.incrementalMinhashFlags`' production asymmetry
    * carried from MinHash-LSH to IVF+PQ. Output per batch vector:
    * `status` in {near_dup_of_corpus (priority), near_dup_in_batch,
    * new}, `canonical_id` (minimum matching corpus id; else the
    * minimum EARLIER matching batch id — single-pass keep-first; else
    * own id), and the best approximate cosine `est_cosine` (0.0 for
    * new). Scores are ASYMMETRIC: the batch vector stays full
    * precision, the candidate contributes only its codes —
    * dot(q, reconstruction)/(|q|·rec_norm), the pqTopK discipline.
    *
    * 100-TB shape: the batch's probe-cell set (≤ batch × nProbe cells)
    * BROADCASTS as a semi-join filter over the index, so the
    * corpus-side shuffle carries only cells the batch actually probes
    * — cost tracks the BATCH, not the corpus. With the index persisted
    * via [[saveSemanticIndex]] (bucketed by cell) the corpus never
    * shuffles AT ALL: the probe join's corpus side reads
    * hash-clustered from the files and only the batch side exchanges —
    * plan-asserted in OperatorsSpec ("bucketed keeper table") and
    * measured flat in corpus size (0.48 s at 200k vs 0.47 s at 2M
    * corpus rows, SCALING.md). In-batch candidates reuse the batch's own
    * single-cell index rows with the strict `earlier id` join, exactly
    * the MinHash stage's shape. */
  def incrementalSemanticFlags(model: SemanticIndexModel,
                               corpusIndex: DataFrame, batch: DataFrame,
                               idCol: String, vecCol: String,
                               nProbe: Int = 4,
                               threshold: Double = 0.5): DataFrame = {
    requireIntegralId(batch, idCol, "incrementalSemanticFlags")
    requireIntegralId(corpusIndex, "id", "incrementalSemanticFlags(corpusIndex)")
    val spark = batch.sparkSession
    import spark.implicits._
    val idType = batch.schema(idCol).dataType
    val bc = spark.sparkContext.broadcast(model)
    // batch probes: full-precision vector replicated to nProbe cells
    val probes = graft.CacheRegistry.register(
      batch.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .as[(Long, Array[Double])]
        .mapPartitions { it =>
          val mm = bc.value
          it.flatMap { case (id, raw) =>
            probeCells(mm, raw, nProbe).iterator
              .map(cell => (id, raw, cell))
          }
        }
        .toDF("id", "qv", "cell")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bIdx = graft.CacheRegistry.register(
      semanticSignatureIndex(model, batch, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // asymmetric score from codes alone (books captured in the UDF —
    // m × nCodes × subDim doubles, a few KB per task); the ONE shared
    // definition with the streaming gate, so stream and batch scores
    // are identical by construction
    val approxCos = approxCosUdf(model)
    val batchCells = probes.select("cell").distinct()
    val corpusHit = corpusIndex
      .join(broadcast(batchCells), Seq("cell"), "left_semi")
    def matches(cand: DataFrame, strictEarlier: Boolean) = {
      val joined = probes.join(
        cand.select(col("cell"), col("id").cast("long").as("cid"),
          col("codes"), col("rec_norm")), Seq("cell"))
        .filter(if (strictEarlier) col("cid") < col("id")
                else col("cid") =!= col("id"))
        .select(col("id"), col("cid"),
          approxCos(col("qv"), col("codes"), col("rec_norm")).as("e"))
        .filter(col("e") >= threshold)
      // probe-cell collisions (same candidate via two cells) need no
      // distinct: min/max absorb them
      joined.groupBy("id")
        .agg(min("cid").as("canon"), max("e").as("best"))
    }
    val corpusMatch = matches(corpusHit, strictEarlier = false)
      .withColumnRenamed("canon", "c_canon").withColumnRenamed("best", "c_best")
    val batchMatch = matches(bIdx, strictEarlier = true)
      .withColumnRenamed("canon", "b_canon").withColumnRenamed("best", "b_best")
    batch.select(col(idCol).cast("long").as("id"))
      .join(corpusMatch, Seq("id"), "left")
      .join(batchMatch, Seq("id"), "left")
      .select(col("id").cast(idType).as("id"),
        when(col("c_canon").isNotNull, lit("near_dup_of_corpus"))
          .when(col("b_canon").isNotNull, lit("near_dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("c_canon"), col("b_canon"), col("id")).cast(idType)
          .as("canonical_id"),
        coalesce(when(col("c_canon").isNotNull, col("c_best")),
          col("b_best"), lit(0.0)).as("est_cosine"))
  }
}
