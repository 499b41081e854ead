package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native vector kernels, called from generated code (static forwarders).
  *
  * Why these exist: Spark's higher-order functions (`zip_with`,
  * `aggregate`, `transform`) are CodegenFallback — every call breaks the
  * enclosing WholeStageCodegen span, runs interpreted, and allocates an
  * intermediate array per lambda application. For one dot product per
  * row that is tolerable; for 16 hyperplane projections (sign-LSH
  * bucketing) or 64–128 MinHash permutations per row it dominates the
  * operator. Each kernel below is a single allocation-free pass that the
  * surrounding projection inlines into Tungsten codegen.
  *
  * Semantics are bit-identical to the HOF formulations they replace
  * (same element order, same double accumulation sequence, same
  * modular arithmetic), so swapping them in changes no query result.
  */
object VecUtil {

  /** dot(a,b) / sqrt(dot(a,a)) / sqrt(dot(b,b)) — the division sequence
    * matches the Column formulation exactly (two divides, not one by a
    * product). Arrays shorter than each other: zip_with pads with null
    * and null poisons the HOF sum; here mismatched lengths return NaN
    * (embeddings are fixed-dim, so this path never fires on real data).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    dab / math.sqrt(daa) / math.sqrt(dbb)
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) { d += a.getDouble(i) * b.getDouble(i); i += 1 }
    d
  }

  /** Squared euclidean distance (IVF assignment kernel). */
  def squaredDist(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) { val t = a.getDouble(i) - b.getDouble(i); d += t * t; i += 1 }
    d
  }

  /** splitmix64 — public-domain mixer; the shared seed→pseudorandom
    * primitive for hyperplanes and MinHash permutations. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hyperplane component (b-th plane, d-th dim) in [-1, 1] — identical
    * to the literal-matrix formulation in the sign-LSH operator. */
  @inline private def planeComp(seed: Long, b: Int, d: Int): Double =
    mix(seed + b.toLong * 131071L + d).toDouble / Long.MaxValue.toDouble

  /** Sign-LSH bucket id: bit b set iff dot(vec, plane_b) > 0. One pass
    * per plane over the vector, zero allocation (the HOF version built
    * nbits zipped arrays per row).
    */
  def signBucket(vec: ArrayData, nbits: Int, seed: Long): Long = {
    val n = vec.numElements()
    var bucket = 0L
    var b = 0
    while (b < nbits) {
      var d = 0.0
      var i = 0
      while (i < n) { d += vec.getDouble(i) * planeComp(seed, b, i); i += 1 }
      if (d > 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  /** Symmetric int8 quantization stats in one pass: scale = max|x|,
    * q_i = trunc(x_i·127/scale) (trunc, not round — round-half ties
    * break differently across engines, trunc is bit-portable), and the
    * reconstruction cosine between x and dequantized q·scale/127.
    * Returns (q_sum, recon_cos): the checksum and quality measure of
    * the quantized artifact. Zero vector → (0, NaN).
    */
  def quantStats(vec: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = vec.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getDouble(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    var qSum = 0L
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    if (maxAbs > 0) {
      i = 0
      while (i < n) {
        val x = vec.getDouble(i)
        val q = (x * 127.0 / maxAbs).toLong   // trunc toward zero
        val dq = q * maxAbs / 127.0
        qSum += q
        dab += x * dq; daa += x * x; dbb += dq * dq
        i += 1
      }
    }
    val cos = dab / math.sqrt(daa) / math.sqrt(dbb)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](qSum, cos))
  }

  /** Int8 quantization codes: q_i = trunc(x_i·127/max|x|) as bytes —
    * the stored form of a quantized embedding column (4–8× smaller than
    * float32/float64 on disk and over the wire). Zero vector → all 0. */
  def quantizeI8(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getDouble(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (maxAbs > 0) {
      i = 0
      while (i < n) {
        out(i) = (vec.getDouble(i) * 127.0 / maxAbs).toByte
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Cosine over int8 codes. The per-vector scale cancels out of the
    * cosine, so quantized search needs no dequantization at all — just
    * integer dot products (the reason symmetric int8 is the standard
    * storage form for cosine-metric ANN). */
  def cosineI8(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dab = 0L; var daa = 0L; var dbb = 0L
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toLong; val y = b.getByte(i).toLong
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    dab.toDouble / math.sqrt(daa.toDouble) / math.sqrt(dbb.toDouble)
  }

  /** Exact integer dot product of two int8 code arrays — the piece of
    * [[cosineI8]] that needs no sqrt, for operators whose ORDERING must
    * be engine-reproducible (MMR diversification): |dot| ≤ 127²·d, so
    * i64 is exact up to ~5·10¹⁴ dimensions. Long.MinValue sentinel on
    * length mismatch (a NaN-like poison an integer can't express —
    * callers join same-corpus codes, so it never fires in practice). */
  def dotI8(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (n != b.numElements()) return Long.MinValue
    var d = 0L
    var i = 0
    while (i < n) {
      d += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    d
  }

  /** Nearest integer-centroid LABEL for one int8-quantized vector.
    * For each label l with n_l members and per-dimension code sums
    * S_l: D_l = Σ_p (n_l·x_p − S_lp)² — exact int64 (no float
    * accumulation, so summation order cannot matter), then
    * score_l = D_l / n_l² as one correctly-rounded double division —
    * identical in any engine — and argmin on (score, label asc).
    * Centroid tables ride the constant pool (labels × dims longs, the
    * IVF-codebook pattern). */
  def nearestLabelQ8(qi: ArrayData, labels: Array[Long], ns: Array[Long],
                     sums: Array[Long]): Long = {
    val nl = labels.length
    if (nl == 0) return -1L
    val dims = sums.length / nl
    var bestScore = Double.PositiveInfinity
    var best = Long.MaxValue
    var l = 0
    while (l < nl) {
      val n = ns(l)
      var dd = 0L
      var p = 0
      while (p < dims) {
        val diff = n * qi.getByte(p) - sums(l * dims + p)
        dd += diff * diff
        p += 1
      }
      val score = dd.toDouble / (n * n).toDouble
      if (score < bestScore || (score == bestScore && labels(l) < best)) {
        bestScore = score; best = labels(l)
      }
      l += 1
    }
    best
  }

  /** The `nprobe` nearest centroid ids by (squaredDist, cid) — ordering
    * bit-identical to the `array_sort(transform(cents, (dist, cid)))`
    * struct formulation it replaces (java.lang.Double.compare semantics:
    * NaN sorts last, ties broken by cid asc). Partial selection over the
    * distance array: O(nlist·(dim + nprobe)) per row, zero allocation
    * beyond the two output-sized scratch arrays — the HOF version
    * allocated one struct per centroid per row in an interpreted
    * projection (nlist=4096 → 4096 allocs/row).
    */
  def nearestLists(vec: ArrayData, cids: Array[Long],
                   cvs: Array[Array[Double]], nprobe: Int): ArrayData = {
    val nlist = cvs.length
    val dists = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val cv = cvs(c)
      val n = math.min(vec.numElements(), cv.length)
      var d = 0.0
      var i = 0
      while (i < n) { val t = vec.getDouble(i) - cv(i); d += t * t; i += 1 }
      dists(c) = d
      c += 1
    }
    val k = math.min(nprobe, nlist)
    val taken = new Array[Boolean](nlist)
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var best = -1
      var bd = 0.0; var bc = 0L
      c = 0
      while (c < nlist) {
        if (!taken(c)) {
          val cmp = if (best < 0) -1 else {
            val dc = java.lang.Double.compare(dists(c), bd)
            if (dc != 0) dc else java.lang.Long.compare(cids(c), bc)
          }
          if (cmp < 0) { best = c; bd = dists(c); bc = cids(c) }
        }
        c += 1
      }
      taken(best) = true
      out(j) = bc
      j += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature: sig[j] = min over h of (h*a[j]+b[j]) mod p,
    * p = 2^31-1. Inputs are 31-bit hashes, coefficients bounded below p,
    * so the arithmetic stays under 2^62 — no overflow (matches the
    * ANSI-safe Column formulation). Empty input → all-null signature
    * (array_min of an empty array is null).
    */
  def minhash(hashes: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val p = (1L << 31) - 1
    val n = hashes.numElements()
    val k = a.length
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var min = Long.MaxValue
      var i = 0
      val aj = a(j); val bj = b(j)
      while (i < n) {
        val v = (hashes.getLong(i) * aj + bj) % p
        if (v < min) min = v
        i += 1
      }
      out(j) = min
      j += 1
    }
    new GenericArrayData(out)
  }

  /** PQ encode: per subspace, the index of the L2-nearest centroid in
    * that subspace's table — one byte per subspace (first-index
    * tie-break; a vector shorter than m·dsub reads as zero-padded).
    * books(s)(j) is subspace s's centroid j. */
  def pqEncode(vec: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val out = new Array[Byte](m)
    val nv = vec.numElements()
    var s = 0
    var off = 0
    while (s < m) {
      val tab = books(s)
      val dsub = tab(0).length
      var best = 0
      var bd = Double.MaxValue
      var j = 0
      while (j < tab.length) {
        val cv = tab(j)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = (if (off + i < nv) vec.getDouble(off + i) else 0.0) - cv(i)
          d += x * x
          i += 1
        }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      out(s) = best.toByte
      off += dsub
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup table for one query: flat [m·ksub] of
    * dot(q_subspace_s, books(s)(j)) — built once per query row, so
    * every query↔code pair afterwards costs m array reads instead of a
    * dim-length float loop. */
  def pqLut(vec: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val ksub = books(0).length
    val out = new Array[Double](m * ksub)
    val nv = vec.numElements()
    var s = 0
    var off = 0
    while (s < m) {
      val tab = books(s)
      val dsub = tab(0).length
      var j = 0
      while (j < ksub) {
        val cv = tab(j)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          d += (if (off + i < nv) vec.getDouble(off + i) else 0.0) * cv(i)
          i += 1
        }
        out(s * ksub + j) = d
        j += 1
      }
      off += dsub
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score: Σ_s lut[s·ksub + code_s] ≈ dot(query, reconstructed
    * corpus vector) — m adds per pair. */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut.getDouble(s * ksub + (codes.getByte(s) & 0xff))
      s += 1
    }
    acc
  }
}

/** cosine_sim(array<double>, array<double>) → double. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecUtil.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecUtil.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** dot_product(array<double>, array<double>) → double. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecUtil.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** squared_dist(array<double>, array<double>) → double. */
case class SquaredDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecUtil.squaredDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecUtil.squaredDist($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SquaredDist =
    copy(left = l, right = r)
}

/** sign_bucket(array<double>) → long LSH bucket id (nbits planes, fixed seed). */
case class SignBucket(child: Expression, nbits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(vec: Any): Any =
    VecUtil.signBucket(vec.asInstanceOf[ArrayData], nbits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecUtil.signBucket($c, $nbits, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SignBucket =
    copy(child = newChild)
}

/** quantize_i8(array<double>) → array<tinyint> codes. */
case class QuantizeI8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullSafeEval(vec: Any): Any =
    VecUtil.quantizeI8(vec.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecUtil.quantizeI8($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}

/** cosine_i8(array<tinyint>, array<tinyint>) → double. */
case class CosineI8(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecUtil.cosineI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecUtil.cosineI8($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineI8 =
    copy(left = l, right = r)
}

/** quant_stats(array<double>) → struct<q_sum: long, recon_cos: double>. */
/** dot_i8(array<tinyint>, array<tinyint>) → bigint exact integer dot
  * product ([[VecUtil.dotI8]]) — [[CosineI8]]'s sqrt-free sibling for
  * order-reproducible scoring. */
case class DotI8(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecUtil.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecUtil.dotI8($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotI8 =
    copy(left = l, right = r)
}

case class QuantStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("q_sum", LongType, nullable = false),
    StructField("recon_cos", DoubleType, nullable = false)))
  override def nullSafeEval(vec: Any): Any =
    VecUtil.quantStats(vec.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecUtil.quantStats($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantStats =
    copy(child = newChild)
}

/** nearest_lists(array<double>) → array<long> of the `nprobe` nearest
  * IVF centroid ids. The codebook is a driver-side artifact shipped as
  * constant-pool reference objects (like [[MinHashSig]]'s coefficients);
  * the kernel stays inside WholeStageCodegen — the
  * `array_min(transform(...))` formulation it replaces was
  * CodegenFallback with one struct alloc per centroid per row.
  */
case class NearestLists(child: Expression, cids: Array[Long],
                        cvs: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(vec: Any): Any =
    VecUtil.nearestLists(vec.asInstanceOf[ArrayData], cids, cvs, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("ivfCids", cids, "long[]")
    val cvsRef = ctx.addReferenceObj("ivfCvs", cvs, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecUtil.nearestLists($c, $cidsRef, $cvsRef, $nprobe)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestLists =
    copy(child = newChild)
}

/** nearest_label_q8(array<tinyint>) → bigint: nearest integer-centroid
  * label; the (labels, counts, sums) centroid table rides the constant
  * pool like the IVF codebook. Ties break on the smaller label. */
case class NearestLabelQ8(child: Expression, labels: Array[Long],
                          ns: Array[Long], sums: Array[Long])
    extends UnaryExpression {
  // an n=0 label scores 0/0 = NaN and is silently never selectable
  // (and n*n overflows Long past ~3e9 members) — reject the degenerate
  // centroid table at the kernel boundary instead of returning a
  // quietly wrong argmin (embClassify can never produce n=0, so this
  // costs nothing on the real path)
  require(ns.forall(n => n > 0 && n <= 3_000_000_000L),
    "NearestLabelQ8: every label needs 0 < n <= 3e9 members")
  override def dataType: DataType = LongType
  override def nullSafeEval(qi: Any): Any =
    VecUtil.nearestLabelQ8(qi.asInstanceOf[ArrayData], labels, ns, sums)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("nlLabels", labels, "long[]")
    val nRef = ctx.addReferenceObj("nlNs", ns, "long[]")
    val sRef = ctx.addReferenceObj("nlSums", sums, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecUtil.nearestLabelQ8($c, $lRef, $nRef, $sRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestLabelQ8 =
    copy(child = newChild)
}

/** minhash_sig(array<long>) → array<long> signature. Coefficients are
  * derived on the driver from (numHashes, seed) and shipped inside the
  * expression; codegen references them as a constant pool object.
  */
case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  // permutation coefficients: a odd-mixed into [1, p-1], b into [0, p-1]
  // (identical normalization to the Column formulation it replaces)
  private lazy val (aCoef, bCoef): (Array[Long], Array[Long]) = {
    val p = (1L << 31) - 1
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = VecUtil.mix(seed + 2L * i) | 1L
      val b = VecUtil.mix(seed + 2L * i + 1)
      as(i) = ((a % (p - 1)) + (p - 1)) % (p - 1) + 1
      bs(i) = ((b % p) + p) % p
      i += 1
    }
    (as, bs)
  }

  override def nullSafeEval(hashes: Any): Any =
    VecUtil.minhash(hashes.asInstanceOf[ArrayData], aCoef, bCoef)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aCoef, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bCoef, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecUtil.minhash($c, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Column-API surface for the vector kernels. */
/** pq_encode(array<double>) → array<tinyint> of per-subspace centroid
  * indices. The trained codebooks ride the constant pool, like the IVF
  * codebook in [[NearestLists]]. */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullSafeEval(vec: Any): Any =
    VecUtil.pqEncode(vec.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecUtil.pqEncode($c, $booksRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** pq_lut(array<double>) → array<double> flat [m·ksub] ADC table. */
case class PqLut(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(vec: Any): Any =
    VecUtil.pqLut(vec.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VecUtil.pqLut($c, $booksRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** pq_adc(codes, lut) → double approximate inner product. */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(codes: Any, lut: Any): Any =
    VecUtil.pqAdc(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.functions.VecUtil.pqAdc($c, $l, $ksub)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(left = l, right = r)
}

object Vecs {
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def squaredDist(a: Column, b: Column): Column =
    ColumnBridge.column(SquaredDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def signBucket(vec: Column, nbits: Int = 16, seed: Long = 7L): Column =
    ColumnBridge.column(SignBucket(ColumnBridge.expression(vec), nbits, seed))
  def nearestLists(vec: Column, centroids: Array[(Long, Array[Double])], nprobe: Int): Column =
    ColumnBridge.column(NearestLists(ColumnBridge.expression(vec),
      centroids.map(_._1), centroids.map(_._2), nprobe))
  def minhashSig(hashes: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(hashes), numHashes, seed))
  def quantStats(vec: Column): Column =
    ColumnBridge.column(QuantStats(ColumnBridge.expression(vec)))
  def quantizeI8(vec: Column): Column =
    ColumnBridge.column(QuantizeI8(ColumnBridge.expression(vec)))
  def cosineI8(a: Column, b: Column): Column =
    ColumnBridge.column(CosineI8(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def dotI8(a: Column, b: Column): Column =
    ColumnBridge.column(DotI8(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def nearestLabelQ8(qi: Column, labels: Array[Long], ns: Array[Long],
                     sums: Array[Long]): Column =
    ColumnBridge.column(NearestLabelQ8(ColumnBridge.expression(qi), labels, ns, sums))
  def pqEncode(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), books))
  def pqLut(vec: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqLut(ColumnBridge.expression(vec), books))
  def pqAdc(codes: Column, lut: Column, ksub: Int): Column =
    ColumnBridge.column(PqAdc(ColumnBridge.expression(codes), ColumnBridge.expression(lut), ksub))

  // SQL registration lives in graft.GraftExtensions only (see the note
  // in graft.functions.Sketches).
}
