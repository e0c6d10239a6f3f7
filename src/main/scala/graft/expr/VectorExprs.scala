package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.types._

/** Vector kernels over `array<float>` embedding columns.
  *
  * The north-star similarity-search surface (SURVEY.md §2.12) needs a dense
  * dot-product/cosine in the scan loop. `functions.zip_with` +
  * `functions.aggregate` express this with builtins, but higher-order
  * functions evaluate one lambda call per element outside whole-stage
  * codegen; a tight primitive loop in a custom expression is the
  * 100 TB-friendly form (no per-element boxing, stays in codegen).
  *
  * Static kernels are shared by interpreted eval and generated code.
  */
object VectorKernels {
  /** Cosine similarity; null on length mismatch or zero norm. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / math.sqrt(na * nb))
  }

  /** Spark's SQL double ordering for sims, not IEEE '>': NaN sorts
    * GREATEST and -0.0 == 0.0 (Spark normalizes signed zeros before
    * comparing), so a kernel that ranks by it keeps exactly the row a
    * `row_number` window over `sim DESC` keeps. `Double.compare` gives
    * the NaN total order; the zero-fold handles ±0.0. */
  @inline def cmpSim(a: Double, b: Double): Int =
    java.lang.Double.compare(if (a == 0.0) 0.0 else a,
      if (b == 0.0) 0.0 else b)

  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    java.lang.Double.valueOf(s)
  }

  def cosine_sim(l: Column, r: Column): Column =
    GraftColumn.column(
      CosineSimilarity(GraftColumn.expression(l), GraftColumn.expression(r)))

  def dot_product(l: Column, r: Column): Column =
    GraftColumn.column(
      DotProduct(GraftColumn.expression(l), GraftColumn.expression(r)))

  /** Join-multiplicity intersection count of two SORTED array<long>
    * columns (non-null elements): for every value present in both, adds
    * run_a × run_b — exactly the row count an equi-join of the two
    * exploded multisets would produce. The row-local kernel that lets
    * the n-gram Jaccard verify replace its pair×shingle expansion join
    * + re-aggregation (|pairs|·|set| shuffled rows) with one merge scan
    * per candidate pair (guide §2.3/§2.4: the decision needs only the
    * per-doc hash multiset, so ship it once as one array row instead of
    * one row per element). Both inputs MUST be ascending-sorted
    * (sort_array(collect_list(h))); a two-pointer merge is then exact. */
  def sorted_intersect_count(l: Column, r: Column): Column =
    GraftColumn.column(
      SortedIntersectCount(GraftColumn.expression(l), GraftColumn.expression(r)))

  /** Two-pointer merge over sorted long arrays; equal runs contribute
    * the product of their lengths (join multiplicity). */
  def sortedIntersect(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var cnt = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        var ra = 0L; while (i < na && a.getLong(i) == x) { ra += 1; i += 1 }
        var rb = 0L; while (j < nb && b.getLong(j) == x) { rb += 1; j += 1 }
        cnt += ra * rb
      }
    }
    cnt
  }
}

/** Row-local nearest-centroid argmax over a PLAN-BAKED centroid list:
  * for an `array<float>` embedding, the centroid id maximizing
  * [[VectorKernels.cosine]], ties to the LOWEST cid, null when no
  * centroid yields a defined cosine (zero norm / length mismatch) —
  * exactly the row that `crossJoin(centroids) → row_number over
  * (csim DESC, cid ASC) → rn = 1` kept, without the
  * |collection|×|centroids| explode or the window's corpus-sized
  * shuffle (guide §2.4: the decision is row-local once the bounded
  * centroid list ships with the plan). Sims compare under Spark's SQL
  * double ordering (NaN greatest, ±0.0 equal), matching the window's
  * sort. Centroids MUST be passed sorted by cid ascending.
  *
  * The centroid payload lives in the expression as immutable Seqs
  * (structural equality keeps plan canonicalization sound) and is
  * decoded once per task into primitive arrays. */
case class NearestCentroid(child: Expression,
    cids: Seq[Long], cembs: Seq[Seq[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(cids.length == cembs.length,
    "cids and centroid embeddings must align")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<float> arg, got ${t.catalogString}")
    }

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val embArr: Array[Array[Float]] =
    cembs.map(_.toArray).toArray

  def nearest(emb: ArrayData): Any = {
    val n = emb.numElements()
    var best = 0L
    var bestSim = 0.0
    var found = false
    var j = 0
    while (j < cidArr.length) {
      val c = embArr(j)
      if (c.length == n) {
        // same accumulation order as VectorKernels.cosine — the sim is
        // bit-identical to cosine_sim(embedding, c_emb)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = emb.getFloat(i).toDouble
          val y = c(i).toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        if (na != 0.0 && nb != 0.0) {
          val s = dot / math.sqrt(na * nb)
          // strict > keeps the first (lowest-cid) maximum: cid tiebreak
          if (!found || VectorKernels.cmpSim(s, bestSim) > 0) {
            best = cidArr(j); bestSim = s; found = true
          }
        }
      }
      j += 1
    }
    if (found) java.lang.Long.valueOf(best) else null
  }

  override protected def nullSafeEval(a: Any): Any =
    nearest(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("nearestCentroid", this,
        classOf[NearestCentroid].getName)
      val r = ctx.freshName("ncRes")
      s"""
         |Object $r = $ref.nearest($a);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
  override def prettyName: String = "nearest_centroid"
}

object NearestCentroid {
  /** Column builder; centroid pairs are sorted by cid here. */
  def nearest_centroid(emb: Column,
      centroids: Seq[(Long, Seq[Float])]): Column = {
    val sorted = centroids.sortBy(_._1)
    GraftColumn.column(NearestCentroid(GraftColumn.expression(emb),
      sorted.map(_._1), sorted.map(_._2)))
  }
}

abstract class FloatVecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  protected def kernel: String // static method name on VectorKernels

  override protected def nullSafeEval(a: Any, b: Any): Any

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecRes")
      s"""
         |java.lang.Double $r = graft.expr.VectorKernels.$kernel($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends FloatVecBinary {
  override protected def kernel: String = "cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSimilarity = copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

case class DotProduct(left: Expression, right: Expression)
    extends FloatVecBinary {
  override protected def kernel: String = "dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

/** See [[VectorKernels.sorted_intersect_count]]: join-multiplicity
  * intersection count over two ascending-sorted array<long> columns.
  * LongType output, null-intolerant, whole-stage-codegen friendly. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersect(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.VectorKernels.sortedIntersect($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

/** 60-bit md5-prefix hash: numerically identical to
  * conv(substring(md5(s), 1, 15), 16, 10)::long — the first 60 bits of
  * the md5 digest, i.e. bytes 0..6 and the high nibble of byte 7 — but
  * computed straight from the digest bytes. The builtin chain
  * materializes a 32-char hex string, a 15-char substring, and a
  * string-parsing conv per row; this kernel allocates nothing but the
  * digest and reuses a thread-local MessageDigest. The hash sits in the
  * hot path of every shingle/token/gram pipeline. */
object Hash60Kernel {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  // reused digest output buffer: MessageDigest.digest() would allocate
  // a fresh 16-byte array per hash — in the gram path that is one
  // allocation per CHARACTER of the corpus
  private val bufLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }
  @inline private def pack60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }
  def hash60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    md.update(s.getBytes)
    val buf = bufLocal.get()
    md.digest(buf, 0, 16)
    pack60(buf)
  }
  def hash60col(c: Column): Column =
    GraftColumn.column(Hash60(GraftColumn.expression(c)))

  /** All overlapping n-gram [[hash60]] values of `s` (codepoint-based
    * windows, the SQL substring semantics) as one long array.
    *
    * Incremental byte-offset walk (r14 §7 item 1): the former
    * `s.substring(i, i + n)` per gram re-scanned the string from byte 0
    * to find codepoint offsets — O(len²) byte touches per document —
    * and allocated a fresh UTF8String + digest array per gram. This
    * walks the codepoint start offsets ONCE (the same
    * `numBytesForFirstByte` stepping UTF8String.substring uses, clamped
    * at the byte end exactly as substring clamps) and feeds each gram's
    * byte slice straight into the reused MessageDigest: md5 of a
    * substring IS md5 of its byte slice, so values are bit-identical
    * (Hash60GramsParitySpec pins this against the substring chain). */
  def gramHashes(s: org.apache.spark.unsafe.types.UTF8String,
      n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = s.numChars()
    val cnt = len - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val bytes = s.getBytes
    val nBytes = bytes.length
    val offs = new Array[Int](len + 1)
    var o = 0
    var i = 0
    while (i < len) {
      offs(i) = if (o < nBytes) o else nBytes
      if (o < nBytes)
        o += org.apache.spark.unsafe.types.UTF8String
          .numBytesForFirstByte(bytes(o))
      i += 1
    }
    offs(len) = if (o < nBytes) o else nBytes
    val md = mdLocal.get()
    val buf = bufLocal.get()
    val out = new Array[Long](cnt)
    var g = 0
    while (g < cnt) {
      val from = offs(g)
      val until = offs(g + n)
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(buf, 0, 16)
      out(g) = pack60(buf)
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def gramHashesCol(c: Column, n: Int): Column =
    GraftColumn.column(Hash60Grams(GraftColumn.expression(c), n))
}

case class Hash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string arg, got ${t.catalogString}")
    }
  override protected def nullSafeEval(s: Any): Any =
    Hash60Kernel.hash60(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.Hash60Kernel.hash60($c)")
  override protected def withNewChildInternal(c: Expression): Hash60 =
    copy(child = c)
  override def prettyName: String = "hash60"
}

/** All overlapping character-n-gram [[Hash60]] values of a string in
  * one pass: value-identical to exploding
  * transform(sequence(1, length(s) − n + 1), i → substring(s, i, n))
  * and hashing each gram, but with no per-gram UTF8String row flowing
  * through a generator — the row stream stays one array<long> per
  * document until the (much cheaper) long explode. Returns an empty
  * array for strings shorter than n; null for null input. Substring
  * semantics are codepoint-based, matching the SQL substring. */
case class Hash60Grams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, "gram size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string arg, got ${t.catalogString}")
    }
  override protected def nullSafeEval(s: Any): Any =
    Hash60Kernel.gramHashes(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.Hash60Kernel.gramHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): Hash60Grams =
    copy(child = c)
  override def prettyName: String = "hash60_grams"
}

/** Row-local (value % m) multiplicity counts of a non-null
  * `array<long>`: sorts a copy of the residues and run-length encodes
  * them into array<struct<b long, n long>> (b ascending) — exactly the
  * rows `explode(arr) → (h % m) → groupBy(b).count()` would produce
  * for this row's group, without shuffling one row per element (guide
  * §2.3/§2.4: a per-document reduction keyed only by in-row values is
  * row-local by construction). Inputs must be non-negative (Hash60
  * values are 60-bit), so Java's `%` matches Spark's remainder.
  * Null input → null; empty input → empty array. */
case class BucketCounts(child: Expression, m: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(m >= 1, "bucket count must be >= 1")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<long> (no nulls), got ${t.catalogString}")
    }

  def counts(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = a.numElements()
    val res = new Array[Long](len)
    var i = 0
    while (i < len) { res(i) = a.getLong(i) % m; i += 1 }
    java.util.Arrays.sort(res)
    // one struct row per run
    var runs = 0
    i = 0
    while (i < len) {
      var j = i + 1
      while (j < len && res(j) == res(i)) j += 1
      runs += 1; i = j
    }
    val out = new Array[Any](runs)
    var r = 0
    i = 0
    while (i < len) {
      var j = i + 1
      while (j < len && res(j) == res(i)) j += 1
      out(r) = org.apache.spark.sql.catalyst.InternalRow(
        res(i), (j - i).toLong)
      r += 1; i = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    counts(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("bucketCounts", this,
        classOf[BucketCounts].getName)
      s"${ev.value} = $ref.counts($a);"
    })
  override protected def withNewChildInternal(c: Expression): BucketCounts =
    copy(child = c)
  override def prettyName: String = "bucket_counts"
}

object BucketCounts {
  /** Column builder: bucket_counts(arr, m) → array<struct<b, n>>. */
  def bucket_counts(arr: Column, m: Int): Column =
    GraftColumn.column(BucketCounts(GraftColumn.expression(arr), m))
}
