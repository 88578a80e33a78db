package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, IntegralDivide, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's numeric hot paths.
  *
  * Rationale (measured at sf0.1): the declarative higher-order-function
  * formulations (`zip_with` + `aggregate`, `transform` × `array_min`)
  * are interpreted per-element with boxing — the O(pairs × dim) and
  * O(docs × k × shingles) inner loops dominated the bench (139 s + 83 s
  * + 49 s of 294 s total). Each expression here runs the same loop as
  * one primitive-typed eval per row, and [[DotProductD]] additionally
  * participates in whole-stage codegen.
  */

/** Sequential-fold dot product of two `array<double>` columns —
  * left-to-right accumulation, bit-identical to the `aggregate()`
  * formulation and to DuckDB's `list_dot_product` fold.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $b.getDouble($i); }
         |${ev.value} = $s;""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** MinHash signature from an `array<long>` of element hashes: k affine
  * permutations (a·x + b) mod 2^31-1 (classic universal hash family;
  * deterministic seeded parameters), elementwise min. One eval per
  * document replaces k × |shingles| interpreted lambda invocations.
  */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  private val P: Long = 2147483647L
  @transient private lazy val (as, bs): (Array[Long], Array[Long]) = {
    val r = new java.util.Random(seed)
    val a = new Array[Long](k); val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = r.nextInt((P - 1).toInt).toLong + 1L
      b(i) = r.nextInt(P.toInt).toLong
      i += 1
    }
    (a, b)
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      val x = { val m = h % P; if (m < 0) m + P else m }  // pmod
      var j = 0
      while (j < k) {
        val v = (as(j) * x + bs(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val sig = ctx.freshName("sig")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val h = ctx.freshName("h"); val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      s"""int $n = $c.numElements();
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  long $x = $h % ${P}L; if ($x < 0) $x += ${P}L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($asRef[$j] * $x + $bsRef[$j]) % ${P}L;
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** 64-bit SimHash from an `array<long>` of token hashes: bit j of the
  * result is the sign of Σ (±1 by bit j of each hash).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) {
        counts(j) += (((h >>> j) & 1L).toInt << 1) - 1  // +1 / -1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val counts = ctx.freshName("counts")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val h = ctx.freshName("h"); val out = ctx.freshName("out")
      s"""int $n = $c.numElements();
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    $counts[$j] += (int) ((($h >>> $j) & 1L) << 1) - 1;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) $out |= (1L << $j);
         |}
         |${ev.value} = $out;""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Sign-LSH signature for cosine similarity: bit b of the output is
  * the sign of ⟨e, h_b⟩ for `bits` fixed pseudo-random Gaussian
  * hyperplanes (seeded; generated lazily per observed dimensionality,
  * identically on every executor). Packed into ceil(bits/64) longs.
  * P(bit agrees) = 1 − θ/π — the standard SRP-LSH family.
  */
case class SignLsh(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {
  private val nWords = (bits + 63) / 64
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  /** Deterministic hyperplanes for a given dimensionality (public for
    * the generated code; thread-safe — executor threads may share one
    * generated-class instance).
    */
  def planesFor(dim: Int): Array[Double] = planeCache.computeIfAbsent(dim, _ => {
    val r = new java.util.Random(seed)
    Array.fill(bits * dim)(r.nextGaussian())
  })
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val dim = e.numElements()
    val pl = planesFor(dim)
    val out = new Array[Long](nWords)
    var b = 0
    while (b < bits) {
      var s = 0.0d
      var d = 0
      val off = b * dim
      while (d < dim) { s += pl(off + d) * e.getDouble(d); d += 1 }
      if (s > 0) out(b >> 6) |= (1L << (b & 63))
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("signLsh", this, classOf[SignLsh].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val dim = ctx.freshName("dim"); val pl = ctx.freshName("pl")
      val out = ctx.freshName("out"); val b = ctx.freshName("b")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      val off = ctx.freshName("off")
      s"""int $dim = $c.numElements();
         |double[] $pl = $self.planesFor($dim);
         |long[] $out = new long[$nWords];
         |for (int $b = 0; $b < $bits; $b++) {
         |  double $s = 0.0;
         |  int $off = $b * $dim;
         |  for (int $d = 0; $d < $dim; $d++) { $s += $pl[$off + $d] * $c.getDouble($d); }
         |  if ($s > 0) $out[$b >> 6] |= (1L << ($b & 63));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Argmin over k centroids by scaled-integer squared L2 — the k-means
  * inner loop as ONE codegen'd primitive eval per row. Inputs: the
  * row's scaled vector (`array<long>`) and the broadcast centroid array
  * (`array<struct<cluster long, cv array<long>>>`); output
  * `struct<d2 long, cluster long>`, ties to the lowest cluster id —
  * exactly the lexicographic `array_min(transform(...))` contract, but
  * without the O(k·d) interpreted-lambda boxing that formulation pays
  * per row (NOTES.md measured 40-100× on the same shape).
  */
case class NearestCentroidL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("d2", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false)))
  override protected def nullSafeEval(v: Any, cs: Any): Any = {
    val ev = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    var bestD2 = Long.MaxValue
    var bestCl = Long.MaxValue
    val k = cents.numElements()
    var i = 0
    while (i < k) {
      val st = cents.getStruct(i, 2)
      val cluster = st.getLong(0)
      val cv = st.getArray(1)
      val n = math.min(ev.numElements(), cv.numElements())
      var s = 0L
      var j = 0
      while (j < n) {
        val d = ev.getLong(j) - cv.getLong(j)
        s += d * d
        j += 1
      }
      if (s < bestD2 || (s == bestD2 && cluster < bestCl)) {
        bestD2 = s; bestCl = cluster
      }
      i += 1
    }
    InternalRow(bestD2, bestCl)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      val bestD2 = ctx.freshName("bestD2"); val bestCl = ctx.freshName("bestCl")
      val k = ctx.freshName("k"); val i = ctx.freshName("i")
      val st = ctx.freshName("st"); val cl = ctx.freshName("cl")
      val cv = ctx.freshName("cv"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      s"""long $bestD2 = Long.MAX_VALUE;
         |long $bestCl = Long.MAX_VALUE;
         |int $k = $cs.numElements();
         |for (int $i = 0; $i < $k; $i++) {
         |  org.apache.spark.sql.catalyst.InternalRow $st = $cs.getStruct($i, 2);
         |  long $cl = $st.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $st.getArray(1);
         |  int $n = java.lang.Math.min($v.numElements(), $cv.numElements());
         |  long $s = 0L;
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $d = $v.getLong($j) - $cv.getLong($j);
         |    $s += $d * $d;
         |  }
         |  if ($s < $bestD2 || ($s == $bestD2 && $cl < $bestCl)) {
         |    $bestD2 = $s; $bestCl = $cl;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$bestD2, $bestCl});""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** 64-bit FNV-1a rolling hash of a string's UTF-8 bytes — the cheap
  * content fingerprint for dedup pre-bucketing (md5 stays the
  * oracle-comparable fingerprint; this one is 8 bytes and faster).
  */
case class RollingHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
  // Java long arithmetic wraps by definition, so the generated code is
  // the interpreted loop verbatim (ANSI mode only guards Catalyst-level
  // arithmetic, not emitted Java).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val b = ctx.freshName("b"); val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""byte[] $b = $s.getBytes();
         |long $h = 0xcbf29ce484222325L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h ^= ($b[$i] & 0xFFL);
         |  $h *= 0x100000001b3L;
         |}
         |${ev.value} = $h;""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Up-to-k-deletion neighborhood of a string (the SymSpell blocking
  * set): the string itself plus every string reachable by deleting at
  * most k characters, distinct, as `array<string>`. One primitive eval
  * per row replaces the nested `transform × flatten × array_distinct`
  * lambda tree, which Catalyst interprets per element — measured ~3 s
  * of the 11 s `fuzzy_name_pairs_d2` run at sf0.1 just generating
  * variants for 15k names, twice (once per self-join side).
  * Supported k: 1 or 2 (what [[graft.operators.Dedup.blockedFuzzyPairs]]
  * blocks on). Character = UTF-16 unit, identical to Spark's `substr`
  * for all BMP text; the emitted set equals the SQL formulation's.
  */
case class DeletionNeighborhood(child: Expression, maxDist: Int)
    extends UnaryExpression {
  require(maxDist == 1 || maxDist == 2, "deletion neighborhood supports k in {1, 2}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    DeletionNeighborhood.compute(input.asInstanceOf[UTF8String], maxDist)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DeletionNeighborhood.compute($c, $maxDist);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object DeletionNeighborhood {
  /** Static so generated code can call it — builds the distinct
    * neighborhood in one tight loop (LinkedHashSet: deterministic
    * order, though consumers only rely on the set).
    */
  def compute(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.LinkedHashSet[String]()
    out.add(str)
    var i = 0
    while (i < n) {
      out.add(str.substring(0, i) + str.substring(i + 1))
      i += 1
    }
    if (k >= 2) {
      i = 0
      while (i < n - 1) {
        val head = str.substring(0, i)
        var j = i + 1
        while (j < n) {
          out.add(head + str.substring(i + 1, j) + str.substring(j + 1))
          j += 1
        }
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(arr)
  }
}

/** The reference tokenizer (`sendFileByFile.cpp:88-93`) as one native
  * expression: `array<string>` of a text's surviving, lowercased words
  * in order, from a single pass over its UTF-8 bytes (see
  * [[CleanWords.compute]]). Replaces `split` → per-element
  * `transform(lower(regexp_extract))` → `filter`, whose lambdas
  * Catalyst interprets per token.
  */
case class CleanWords(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    CleanWords.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CleanWords.compute($c);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Tokenizer kernel shared by [[CleanWords]] (bytes) and the RDD word
  * count (chars). A token is a maximal run of non-whitespace, where
  * whitespace is the six characters of
  * [[graft.operators.WordCount.WhitespacePattern]] (9..13 and space,
  * the reference's `isspace`); its word is its longest prefix of `'`
  * and 65..122 ([[graft.operators.WordCount.CleanPattern]]) with A-Z
  * lowercased; empty words are dropped. Both classes are ASCII and
  * every byte of a multibyte UTF-8 character is >= 0x80, so deciding
  * per byte equals deciding per character.
  */
object CleanWords {
  private def isSpace(b: Int): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
  private def isKept(b: Int): Boolean = b == '\'' || (b >= 'A' && b <= 'z')
  private def lower(b: Int): Int = if (b >= 'A' && b <= 'Z') b + 32 else b

  /** Scans the string in place and copies only the surviving bytes,
    * lowercased, into one buffer per row at their own offsets; each
    * word is a view of that buffer.
    */
  def compute(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val buf = new Array[Byte](n)
    var words = new Array[Any](16)
    var nWords = 0
    var i = 0
    while (i < n) {
      val start = i
      while (i < n && isKept(Platform.getByte(base, off + i))) {
        buf(i) = lower(Platform.getByte(base, off + i)).toByte
        i += 1
      }
      if (i > start) {
        if (nWords == words.length) words = Array.copyOf(words, nWords * 2)
        words(nWords) = UTF8String.fromBytes(buf, start, i - start)
        nWords += 1
      }
      while (i < n && !isSpace(Platform.getByte(base, off + i))) i += 1
      i += 1
    }
    new GenericArrayData(Array.copyOf(words, nWords))
  }

  /** The same loop over a `String`'s chars, for the RDD spine. */
  def words(s: String): Array[String] = {
    val n = s.length
    val chars = new Array[Char](n)
    val out = Array.newBuilder[String]
    var i = 0
    while (i < n) {
      val start = i
      while (i < n && isKept(s.charAt(i))) {
        chars(i) = lower(s.charAt(i)).toChar
        i += 1
      }
      if (i > start) out += new String(chars, start, i - start)
      while (i < n && !isSpace(s.charAt(i))) i += 1
      i += 1
    }
    out.result()
  }
}

/** Unicode NFC normalization as a native codegen expression — the
  * canonicalization pass a crawl corpus needs before hashing or
  * deduplication (the same logical text arrives composed on one site
  * and decomposed on another; fingerprints diverge unless normalized
  * first). `java.text.Normalizer` is a static call, so the generated
  * code stays inside whole-stage codegen; NFC of 'e'+U+0301 → 'é' is
  * stable across Unicode versions (canonical compositions are frozen),
  * which is what lets the DuckDB oracle (`nfc_normalize`) mirror it.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.NFC));""".stripMargin)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Primitive winnowing kernel shared by interpreted eval and generated
  * code ([[WinnowFingerprints]]): per document, hash every word k-gram
  * (first 60 bits of the md5 of the space-joined gram — bit-identical
  * to `conv(substr(md5(concat_ws(' ', gram)), 1, 15), 16, 10)`), then
  * keep the RIGHTMOST minimum of each w-window at distinct positions
  * (Schleimer/Wilkerson/Aiken winnowing). One primitive-typed pass per
  * row replaces the transform/slice/reverse/array_min lambda chain
  * that evaluated O(n·w) boxed closures per document.
  */
object WinnowKernel {
  def select(ws: ArrayData, k: Int, w: Int): ArrayData = {
    val n = ws.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val nGrams = n - k + 1
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(ws.getUTF8String(i + j).getBytes)
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      i += 1
    }
    if (nGrams < w) return new GenericArrayData(Array.emptyLongArray)
    // rightmost-min positions per window, distinct (positions are
    // non-decreasing as the window slides, so "skip if same as last")
    val out = new Array[Long](nGrams)
    var nOut = 0
    var lastPos = -1
    var jw = 0
    while (jw <= nGrams - w) {
      var best = jw
      var t = jw + 1
      while (t < jw + w) { if (hs(t) <= hs(best)) best = t; t += 1 }
      if (best != lastPos) {
        out(nOut) = hs(best); nOut += 1; lastPos = best
      }
      jw += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }
}

/** Winnowing fingerprint selection as ONE native expression over the
  * cleaned word array — the codegen twin of the documented SQL
  * formulation (see [[graft.operators.Dedup.winnowSelected]]); both
  * route through [[WinnowKernel]] semantics: 60-bit md5-prefix gram
  * hashes, rightmost-min per w-window, distinct positions, values in
  * position order (duplicate VALUES at different positions kept).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    WinnowKernel.select(input.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowKernel.select($c, $k, $w);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-level entry points for the expressions above, and one
  * composite of Spark's theta sketches ([[functions.theta_jaccard]]).
  */
object functions {
  private def col(e: Expression): Column = GraftColumnBridge.column(e)
  private def ex(c: Column): Expression = GraftColumnBridge.expression(c)

  def dot_d(a: Column, b: Column): Column = col(DotProductD(ex(a), ex(b)))
  def minhash_sig(hashes: Column, k: Int, seed: Long = 42L): Column =
    col(MinHashSignature(ex(hashes), k, seed))
  def simhash64(hashes: Column): Column = col(SimHash64(ex(hashes)))
  def sign_lsh(e: Column, bits: Int, seed: Long = 7L): Column =
    col(SignLsh(ex(e), bits, seed))
  def rolling_hash64(s: Column): Column = col(RollingHash64(ex(s)))
  def nfc_normalize(s: Column): Column = col(NfcNormalize(ex(s)))
  def deletion_neighborhood(s: Column, maxDist: Int): Column =
    col(DeletionNeighborhood(ex(s), maxDist))
  def nearest_centroid_l2(vec: Column, cents: Column): Column =
    col(NearestCentroidL2(ex(vec), ex(cents)))
  def winnow_fps(ws: Column, k: Int, w: Int): Column =
    col(WinnowFingerprints(ex(ws), k, w))
  def clean_words(text: Column): Column = col(CleanWords(ex(text)))

  /** Two-set distinct counts over Spark's theta sketches, as an
    * aggregate: `side` true routes a row's `c` to set A, false to set
    * B (NULL side or value: neither), and the struct holds
    * `(n_a, n_b, n_inter, jaccard_ppm)`. Each side is one
    * `theta_sketch_agg`, `n_inter` their `theta_intersection`. The
    * union is `n_a + n_b − n_inter`, exact wherever both sides are
    * (below k = 2^lgNomEntries), where `theta_union` would estimate
    * once the union alone passes k.
    */
  def theta_jaccard(c: Column, side: Column, lgNomEntries: Int): Column = {
    import org.apache.spark.sql.{functions => F}
    val a = F.theta_sketch_agg(F.when(side, c), lgNomEntries)
    val b = F.theta_sketch_agg(F.when(!side, c), lgNomEntries)
    val (na, nb) = (F.theta_sketch_estimate(a), F.theta_sketch_estimate(b))
    val ni = F.theta_sketch_estimate(F.theta_intersection(a, b))
    val u = na + nb - ni
    F.struct(na.as("n_a"), nb.as("n_b"), ni.as("n_inter"),
      F.when(u === 0, 0L).otherwise(col(IntegralDivide(ex(ni * 1000000L), ex(u))))
        .as("jaccard_ppm"))
  }
}
