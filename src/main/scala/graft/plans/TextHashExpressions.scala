package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.GraftColumnBridge.AbstractType
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 64-bit string hash: an xorshift64 fold over the UTF-8
  * bytes.
  *
  * ```
  * h = 0x9E3779B97F4A7C15
  * for each byte b: h ^= b; h ^= h<<13; h ^= h>>>7; h ^= h<<17
  * ```
  *
  * Exists so the dedup operators (minhash / simhash / n-gram shingles) can
  * be replayed EXACTLY by the DuckDB oracle: every step is xor/shift, which
  * the oracle reproduces in HUGEINT mod-2^64 arithmetic (`xxhash64` has no
  * cross-engine twin). Quality is xorshift-grade: measured zero collisions
  * and 48–52% per-bit balance over a 7.7k word-like vocabulary — ample for
  * LSH bucketing. Codegen emits the fold as a tight primitive loop inside
  * whole-stage codegen; no UDF, no boxing.
  */
case class XsHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "xs_hash"
  // fail at ANALYSIS on a non-string input, not with a codegen/cast error
  // deep inside a job
  override def inputTypes: Seq[AbstractType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    XsHash.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0x9E3779B97F4A7C15L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h ^= ($bytes[$i] & 0xffL);
         |  $h ^= $h << 13;
         |  $h ^= $h >>> 7;
         |  $h ^= $h << 17;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): XsHash =
    copy(child = newChild)
}

/** One portable mix step over two longs: `xorshift64(acc ^ v)`.
  *
  * Used to fold several 64-bit values (e.g. an LSH band's signature slice
  * plus the band index) into one band key. A Column-level formulation of
  * the three xorshift steps would reference each intermediate twice and
  * the optimizer would inline the whole accumulator chain 8^depth times
  * (the engine's known HOF-inlining trap); as a single expression the
  * generated code is three sequential statements per fold step.
  */
case class XsMix(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with ImplicitCastInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "xs_mix"
  // ImplicitCast (not strict ExpectsInputTypes): integer literals widen to
  // long losslessly, matching every built-in hash function
  override def inputTypes: Seq[AbstractType] = Seq(LongType, LongType)

  override def nullSafeEval(a: Any, b: Any): Any =
    XsMix.mix(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val h = ctx.freshName("h")
      s"""
         |long $h = $a ^ $b;
         |$h ^= $h << 13;
         |$h ^= $h >>> 7;
         |$h ^= $h << 17;
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): XsMix =
    copy(left = newLeft, right = newRight)
}

object XsMix {

  /** Reference implementation (tests cross-check codegen against this). */
  def mix(acc: Long, v: Long): Long = {
    var h = acc ^ v
    h ^= h << 13
    h ^= h >>> 7
    h ^= h << 17
    h
  }
}

object XsHash {

  /** Reference implementation (tests cross-check codegen against this). */
  def hash(bytes: Array[Byte]): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h ^= h << 13
      h ^= h >>> 7
      h ^= h << 17
      i += 1
    }
    h
  }
}

/** 256-bucket BYTE HISTOGRAM of a binary payload in ONE pass — the census
  * behind per-doc byte entropy (q332) without materializing a row per
  * byte: the explode formulation pushes ~corpus-bytes rows through the
  * scan stage before the map-side combine (at 100 TB that is ~10¹⁴
  * intermediate rows of codegen work), where this emits one 256-long
  * array per document and the entropy finishes in array HOFs. The loop
  * is primitive Java inside whole-stage codegen; SURVEY.md §5 records the
  * measured explode-vs-census gap (16.8× at 100× sf0.1), and
  * `graft.Profile q332 … 1,10` measures q332's slope.
  */
case class ByteHistogram(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_histogram"
  override def inputTypes: Seq[AbstractType] =
    Seq(org.apache.spark.sql.types.BinaryType)

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ByteHistogram.census(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val h = ctx.freshName("hist")
      val i = ctx.freshName("i")
      s"""
         |long[] $h = new long[256];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h[$b[$i] & 0xff]++;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($h);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ByteHistogram =
    copy(child = newChild)
}

object ByteHistogram {

  /** Reference implementation (tests cross-check codegen against this). */
  def census(bytes: Array[Byte]): Array[Long] = {
    val h = new Array[Long](256)
    var i = 0
    while (i < bytes.length) {
      h(bytes(i) & 0xff) += 1
      i += 1
    }
    h
  }
}

/** Content-defined chunk boundaries in ONE pass: the 1-based character
  * positions `i` (w ≤ i ≤ n) where [[XsHash]] of the w-char substring
  * ending at `i` is ≡ 0 (mod `modulus`), plus the final position n —
  * exactly the bounds array `Dedup.contentChunks` needs.
  *
  * Semantically identical to the HOF formulation
  * `array_distinct(concat(filter(transform(sequence(w,n), i -> ...)), [n]))`
  * but those higher-order functions evaluate their lambdas INTERPRETED,
  * per element, with a fresh UTF8String allocation per window — measured
  * ~5× slower at sf0.1. Here the whole scan is a primitive loop inside
  * whole-stage codegen. Windows are CHARACTER-based (UTF-8 aware, byte
  * offsets tracked through a w+1 ring buffer), matching `substr`
  * semantics on both engines.
  */
case class XsWindowCuts(child: Expression, w: Int, modulus: Long)
  extends UnaryExpression with ExpectsInputTypes {

  require(w >= 2 && modulus >= 2, "window and modulus must be at least 2")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "xs_window_cuts"
  override def inputTypes: Seq[AbstractType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      XsWindowCuts.cuts(input.asInstanceOf[UTF8String].getBytes, w, modulus))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val tmp = ctx.freshName("tmp")
      val ring = ctx.freshName("ring")
      val outN = ctx.freshName("outN")
      val off = ctx.freshName("off")
      val ci = ctx.freshName("ci")
      val st = ctx.freshName("st")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val res = ctx.freshName("res")
      val w1 = w + 1
      s"""
         |byte[] $bytes = $s.getBytes();
         |long[] $tmp = new long[$bytes.length + 1];
         |int[] $ring = new int[$w1];
         |int $outN = 0; int $off = 0; int $ci = 0;
         |while ($off < $bytes.length) {
         |  $ring[$ci % $w1] = $off;
         |  $off += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte($bytes[$off]);
         |  $ci++;
         |  if ($ci >= $w) {
         |    int $st = $ring[($ci - $w) % $w1];
         |    long $h = 0x9E3779B97F4A7C15L;
         |    for (int $i = $st; $i < $off; $i++) {
         |      $h ^= ($bytes[$i] & 0xffL);
         |      $h ^= $h << 13; $h ^= $h >>> 7; $h ^= $h << 17;
         |    }
         |    long $m = $h % ${modulus}L; if ($m < 0) $m += ${modulus}L;
         |    if ($m == 0) $tmp[$outN++] = (long) $ci;
         |  }
         |}
         |if ($outN == 0 || $tmp[$outN - 1] != (long) $ci) $tmp[$outN++] = (long) $ci;
         |long[] $res = new long[$outN];
         |System.arraycopy($tmp, 0, $res, 0, $outN);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): XsWindowCuts =
    copy(child = newChild)
}

object XsWindowCuts {

  /** Reference implementation (tests cross-check codegen against this). */
  def cuts(bytes: Array[Byte], w: Int, modulus: Long): Array[Long] = {
    val tmp = new Array[Long](bytes.length + 1)
    val ring = new Array[Int](w + 1)
    var outN = 0; var off = 0; var ci = 0
    while (off < bytes.length) {
      ring(ci % (w + 1)) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      ci += 1
      if (ci >= w) {
        val h = XsHash.hash(java.util.Arrays.copyOfRange(bytes, ring((ci - w) % (w + 1)), off))
        val m = h % modulus
        if ((if (m < 0) m + modulus else m) == 0) { tmp(outN) = ci.toLong; outN += 1 }
      }
    }
    if (outN == 0 || tmp(outN - 1) != ci.toLong) { tmp(outN) = ci.toLong; outN += 1 }
    java.util.Arrays.copyOf(tmp, outN)
  }
}

object TextHashExpressions {

  /** Column-level portable hash backed by the codegen expression. */
  def xsHash(c: Column): Column =
    GraftColumnBridge.column(XsHash(GraftColumnBridge.expression(c)))

  /** Column-level content-defined chunk bounds (see [[XsWindowCuts]]). */
  def xsWindowCuts(c: Column, w: Int, modulus: Long): Column =
    GraftColumnBridge.column(
      XsWindowCuts(GraftColumnBridge.expression(c), w, modulus))

  /** Column-level 256-bucket byte census (see [[ByteHistogram]]). */
  def byteHistogram(c: Column): Column =
    GraftColumnBridge.column(ByteHistogram(GraftColumnBridge.expression(c)))

  /** Column-level portable mix step: `xorshift64(acc ^ v)`. */
  def xsMix(acc: Column, v: Column): Column =
    GraftColumnBridge.column(
      XsMix(GraftColumnBridge.expression(acc), GraftColumnBridge.expression(v)))

  /** Register for SQL use on an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "xs_hash", exprs => XsHash(exprs.head), "built-in")
}
