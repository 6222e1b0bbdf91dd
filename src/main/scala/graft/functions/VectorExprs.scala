package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native array kernels for the similarity/dedup operators. Each replaces a
  * tree of higher-order-function expressions (zip_with/aggregate/filter)
  * whose per-row interpretation dominated the profile; the kernels are one
  * virtual call inside whole-stage codegen, single pass, no allocation
  * beyond the result.
  */
object VectorExprs {

  /** Cosine similarity of two float vectors, accumulated in double in index
    * order — bit-identical to the dot/sqrt(dot*dot) column formula (and the
    * DuckDB oracle formula) but one pass for all three dot products. */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorExprs.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorExprs.cosine($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** MinHash signature: for each of numPerms seeds, the minimum xxhash64 of
    * the shingle strings — all perms in one pass over the array (replaces an
    * explode + numPerms aggregate columns + shuffle). */
  case class MinHashSig(child: Expression, numPerms: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      VectorExprs.minhashSig(input.asInstanceOf[ArrayData], numPerms)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.minhashSig($c, $numPerms);")
    override protected def withNewChildInternal(newChild: Expression): MinHashSig =
      copy(child = newChild)
  }

  def minhashSig(shingles: ArrayData, numPerms: Int): ArrayData = {
    val mins = Array.fill(numPerms)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      var p = 0
      while (p < numPerms) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), p)
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def minhashSigCol(shingles: Column, numPerms: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), numPerms))

  /** MinHash signature over PRE-HASHED shingles ([[graft.functions
    * .ShingleExprs.ShingleHashes]] output): per (shingle, perm) the value is
    * a splitmix64-style integer mix of the 64-bit shingle hash at stream
    * position `perm` — a universal-hash permutation family, ~10 ALU ops
    * instead of re-hashing the shingle STRING once per perm (the r21 kernel
    * paid O(shingles x perms x strlen); this is O(shingles x perms) with
    * the string bytes touched exactly once, in [[graft.functions
    * .ShingleExprs.shingleHashes]]). Signature values differ from the
    * string kernel's — candidate recall is re-proven by the oracle gate
    * (the final pair set is what is checked, and the exact-Jaccard verify
    * is unchanged). */
  case class MinHashSigFromHashes(child: Expression, numPerms: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      VectorExprs.minhashSigFromHashes(input.asInstanceOf[ArrayData], numPerms)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.minhashSigFromHashes($c, $numPerms);")
    override protected def withNewChildInternal(newChild: Expression): MinHashSigFromHashes =
      copy(child = newChild)
  }

  def minhashSigFromHashes(hashes: ArrayData, numPerms: Int): ArrayData = {
    val mins = Array.fill(numPerms)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var p = 0
      while (p < numPerms) {
        // splitmix64 finalizer over stream position p — public-domain mixer.
        var z = h + (p + 1L) * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        if (z < mins(p)) mins(p) = z
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def minhashSigFromHashesCol(hashes: Column, numPerms: Int): Column =
    ColumnBridge.column(MinHashSigFromHashes(ColumnBridge.expression(hashes), numPerms))

  /** Sign-of-dot-product LSH bucket id over fixed hyperplanes (one pass,
    * planes flattened row-major). */
  case class LshBucket(child: Expression, planes: Seq[Double], dim: Int)
    extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    @transient private lazy val planeArr = planes.toArray
    override protected def nullSafeEval(input: Any): Any =
      VectorExprs.lshBucket(input.asInstanceOf[ArrayData], planeArr, dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planeArr, "double[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.lshBucket($c, $ref, $dim);")
    }
    override protected def withNewChildInternal(newChild: Expression): LshBucket =
      copy(child = newChild)
  }

  def lshBucket(vec: ArrayData, planes: Array[Double], dim: Int): Long = {
    val numPlanes = planes.length / dim
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      var d = 0.0
      val off = p * dim
      val n = math.min(dim, vec.numElements())
      var j = 0
      while (j < n) { d += vec.getFloat(j).toDouble * planes(off + j); j += 1 }
      if (d >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  def lshBucketCol(vec: Column, planes: Seq[Double], dim: Int): Column =
    ColumnBridge.column(LshBucket(ColumnBridge.expression(vec), planes, dim))

  /** The `n` nearest centroid ids for a vector, by cosine desc / id asc —
    * the IVF coarse-quantizer kernel. One pass over a flattened (row-major)
    * broadcast centroid matrix, so cell assignment stays O(k·dim) machine
    * ops per row instead of a k-element struct-expression tree evaluated
    * interpretively (which collapses at the k≈4096 a 100 TB corpus needs). */
  case class NearestCells(child: Expression, centroids: Array[Float],
                          dim: Int, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      VectorExprs.nearestCells(input.asInstanceOf[ArrayData], centroids, dim, n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroids, "float[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.nearestCells($c, $ref, $dim, $n);")
    }
    override protected def withNewChildInternal(newChild: Expression): NearestCells =
      copy(child = newChild)
  }

  def nearestCells(vec: ArrayData, centroids: Array[Float], dim: Int, n: Int): ArrayData = {
    // Every IVF/PQ append, sync and query assigns through here, so a
    // vector of the wrong dimension fails here instead of landing in a cell.
    if (vec.numElements() != dim) throw new IllegalArgumentException(
      s"vector has dim ${vec.numElements()}, the index expects dim $dim")
    val k = centroids.length / dim
    val nn = math.min(n, k)
    val ids = new Array[Int](nn)
    val sc = new Array[Double](nn)
    var filled = 0
    var nv = 0.0
    var j = 0
    while (j < dim) { val x = vec.getFloat(j).toDouble; nv += x * x; j += 1 }
    var c = 0
    while (c < k) {
      val off = c * dim
      var dot = 0.0; var nc = 0.0
      var i = 0
      while (i < dim) {
        val x = vec.getFloat(i).toDouble
        val y = centroids(off + i).toDouble
        dot += x * y; nc += y * y
        i += 1
      }
      var s = dot / math.sqrt(nv * nc)
      // NaN (zero vector / zero centroid) ranks last; ties keep the earlier id.
      if (java.lang.Double.isNaN(s)) s = Double.NegativeInfinity
      if (filled < nn) {
        var pos = filled
        while (pos > 0 && sc(pos - 1) < s) {
          sc(pos) = sc(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
        }
        sc(pos) = s; ids(pos) = c; filled += 1
      } else if (s > sc(nn - 1)) {
        var pos = nn - 1
        while (pos > 0 && sc(pos - 1) < s) {
          sc(pos) = sc(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
        }
        sc(pos) = s; ids(pos) = c
      }
      c += 1
    }
    new GenericArrayData(ids)
  }

  def nearestCellsCol(vec: Column, centroids: Array[Float], dim: Int, n: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vec), centroids, dim, n))

  /** Product-quantization encode: the vector split into `m` contiguous
    * `dsub`-dim subspaces, each mapped to its nearest (L2) sub-centroid's
    * id — one byte per subspace (ksub ≤ 256), so a dim-float vector
    * compresses to `m` bytes. `codebooks` is row-major
    * [subspace][code][component], broadcast once per plan like the IVF
    * centroid matrix. */
  case class PqEncode(child: Expression, codebooks: Array[Float],
                      m: Int, ksub: Int, dsub: Int) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      VectorExprs.pqEncode(input.asInstanceOf[ArrayData], codebooks, m, ksub, dsub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("codebooks", codebooks, "float[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.pqEncode($c, $ref, $m, $ksub, $dsub);")
    }
    override protected def withNewChildInternal(newChild: Expression): PqEncode =
      copy(child = newChild)
  }

  def pqEncode(vec: ArrayData, cb: Array[Float], m: Int, ksub: Int,
               dsub: Int): Array[Byte] = {
    val out = new Array[Byte](m)
    val n = vec.numElements()
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var k0 = 0
      while (k0 < ksub) {
        val off = (j * ksub + k0) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val idx = j * dsub + i
          val x = if (idx < n) vec.getFloat(idx).toDouble else 0.0
          val diff = x - cb(off + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = k0 } // ties keep the earlier code
        k0 += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  def pqEncodeCol(vec: Column, codebooks: Array[Float], m: Int, ksub: Int,
                  dsub: Int): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), codebooks, m, ksub, dsub))

  /** Asymmetric-distance cosine: the query stays a full float vector, the
    * candidate is reconstructed on the fly from its PQ code — one pass,
    * no allocation, same double-accumulation order as [[CosineSim]]. */
  case class PqCosine(left: Expression, right: Expression,
                      codebooks: Array[Float], m: Int, ksub: Int, dsub: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(q: Any, code: Any): Any =
      VectorExprs.pqCosine(q.asInstanceOf[ArrayData],
        code.asInstanceOf[Array[Byte]], codebooks, m, ksub, dsub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("codebooks", codebooks, "float[]")
      nullSafeCodeGen(ctx, ev, (q, c) =>
        s"${ev.value} = graft.functions.VectorExprs.pqCosine($q, $c, $ref, $m, $ksub, $dsub);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqCosine =
      copy(left = l, right = r)
  }

  def pqCosine(q: ArrayData, code: Array[Byte], cb: Array[Float], m: Int,
               ksub: Int, dsub: Int): Double = {
    val n = q.numElements()
    var dot = 0.0; var nq = 0.0; var nc = 0.0
    var j = 0
    while (j < m) {
      val k0 = code(j) & 0xff
      val off = (j * ksub + k0) * dsub
      var i = 0
      while (i < dsub) {
        val idx = j * dsub + i
        val x = if (idx < n) q.getFloat(idx).toDouble else 0.0
        val y = cb(off + i).toDouble
        dot += x * y; nq += x * x; nc += y * y
        i += 1
      }
      j += 1
    }
    dot / math.sqrt(nq * nc)
  }

  def pqCosineCol(q: Column, code: Column, codebooks: Array[Float], m: Int,
                  ksub: Int, dsub: Int): Column =
    ColumnBridge.column(PqCosine(ColumnBridge.expression(q),
      ColumnBridge.expression(code), codebooks, m, ksub, dsub))

  /** Per-query ADC lookup table — the classic IVF-PQ optimization: the
    * query's dot product against EVERY sub-centroid is computed ONCE
    * (O(ksub·dim) on the small query side, before the candidate join),
    * so each candidate then scores in O(m) table lookups instead of an
    * O(dim) reconstruction ([[PqLutScore]]). Layout: m·ksub partial dots
    * followed by the query's squared norm. */
  case class PqLut(child: Expression, codebooks: Array[Float],
                   m: Int, ksub: Int, dsub: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      VectorExprs.pqLut(input.asInstanceOf[ArrayData], codebooks, m, ksub, dsub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("codebooks", codebooks, "float[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.pqLut($c, $ref, $m, $ksub, $dsub);")
    }
    override protected def withNewChildInternal(newChild: Expression): PqLut =
      copy(child = newChild)
  }

  def pqLut(vec: ArrayData, cb: Array[Float], m: Int, ksub: Int,
            dsub: Int): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Double](m * ksub + 1)
    var nq = 0.0
    var j = 0
    while (j < m) {
      var k0 = 0
      while (k0 < ksub) {
        val off = (j * ksub + k0) * dsub
        var dot = 0.0
        var i = 0
        while (i < dsub) {
          val idx = j * dsub + i
          val x = if (idx < n) vec.getFloat(idx).toDouble else 0.0
          dot += x * cb(off + i).toDouble
          i += 1
        }
        out(j * ksub + k0) = dot
        k0 += 1
      }
      j += 1
    }
    var i = 0
    while (i < n) { val x = vec.getFloat(i).toDouble; nq += x * x; i += 1 }
    out(m * ksub) = nq
    new GenericArrayData(out)
  }

  def pqLutCol(q: Column, codebooks: Array[Float], m: Int, ksub: Int,
               dsub: Int): Column =
    ColumnBridge.column(PqLut(ColumnBridge.expression(q), codebooks, m, ksub, dsub))

  /** O(m) ADC cosine from a precomputed [[PqLut]] and the model-constant
    * per-sub-centroid squared norms (`norms`, length m·ksub). */
  case class PqLutScore(left: Expression, right: Expression,
                        norms: Array[Double], m: Int, ksub: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(lut: Any, code: Any): Any =
      VectorExprs.pqLutScore(lut.asInstanceOf[ArrayData],
        code.asInstanceOf[Array[Byte]], norms, m, ksub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("norms", norms, "double[]")
      nullSafeCodeGen(ctx, ev, (l, c) =>
        s"${ev.value} = graft.functions.VectorExprs.pqLutScore($l, $c, $ref, $m, $ksub);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqLutScore =
      copy(left = l, right = r)
  }

  def pqLutScore(lut: ArrayData, code: Array[Byte], norms: Array[Double],
                 m: Int, ksub: Int): Double = {
    var dot = 0.0; var nc = 0.0
    var j = 0
    while (j < m) {
      val k0 = code(j) & 0xff
      dot += lut.getDouble(j * ksub + k0)
      nc += norms(j * ksub + k0)
      j += 1
    }
    dot / math.sqrt(lut.getDouble(m * ksub) * nc)
  }

  def pqLutScoreCol(lut: Column, code: Column, norms: Array[Double],
                    m: Int, ksub: Int): Column =
    ColumnBridge.column(PqLutScore(ColumnBridge.expression(lut),
      ColumnBridge.expression(code), norms, m, ksub))
}
