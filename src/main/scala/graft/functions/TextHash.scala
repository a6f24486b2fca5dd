package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass document-signature expressions for the dedup pipeline.
  *
  * The declarative formulation (explode shingles → md5 per shingle → wide
  * min/sum aggregate) is semantically right but pays per-shingle expression
  * overhead and — worse — its janino-generated hash loop starts cold on
  * every fresh JVM: the first run of a generated class executes interpreted
  * until C2 tiers up, a measured ~30× penalty on the md5 path. These
  * expressions do the whole signature in one compiled pass per document
  * (plain jar code: JIT state is shared across every query that touches
  * it), reuse one MessageDigest per thread instead of allocating per call,
  * and emit NO intermediate rows — the MinHash stage becomes a pure
  * projection, shuffle-free until the LSH bucket join. At cluster scale
  * this is the ideal shape: an embarrassingly parallel map over documents.
  *
  * Values are bit-exact with the portable SQL formulation (and hence the
  * DuckDB oracle): a MinHash family value is the lexicographically-minimal
  * 8-hex-char slice of md5(shingle) / md5('x'||shingle); a SimHash bit is
  * the per-document majority vote of hex-nibble draws of md5(token) /
  * md5('x'||token). Reference semantics: apache/hama has no dedup surface;
  * this follows the standard MinHash/SimHash constructions (Broder 1997,
  * Charikar 2002) as SURVEY.md's LLM-pipeline extension.
  */
object TextHashUtil {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** digest of s and of "x"+s in one thread-local MessageDigest */
  private def digest2(md: MessageDigest, s: Array[Byte]): (Array[Byte], Array[Byte]) = {
    md.reset()
    val m1 = md.digest(s)
    md.reset()
    md.update('x'.toByte)
    val m2 = md.digest(s)
    (m1, m2)
  }

  /** token array with null elements dropped (ADVICE r2: checkInputDataTypes
    * accepts containsNull arrays, so a null token must be skipped, not NPE
    * inside codegen'd eval) — also hoists the per-element accessor calls
    * out of the hash loops. */
  private def compact(tokens: ArrayData): Array[UTF8String] = {
    val n = tokens.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) { out(m) = tokens.getUTF8String(i); m += 1 }
      i += 1
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }

  /** big-endian unsigned 32-bit slice k (0..3) of a 16-byte digest — equals
    * hex chars [8k, 8k+8) of the md5 hex string, compared as unsigned ints
    * (lexicographic order on lowercase hex == unsigned numeric order) */
  private def slice32(m: Array[Byte], k: Int): Long = {
    val o = k * 4
    ((m(o) & 0xffL) << 24) | ((m(o + 1) & 0xffL) << 16) |
      ((m(o + 2) & 0xffL) << 8) | (m(o + 3) & 0xffL)
  }

  private def toHex8(v: Long): UTF8String = {
    val cs = new Array[Char](8)
    var i = 0
    while (i < 8) { cs(i) = hexChars(((v >>> ((7 - i) * 4)) & 0xf).toInt); i += 1 }
    UTF8String.fromString(new String(cs))
  }

  /** numHashes-value MinHash signature over word w-grams of the token
    * array; null when the document has fewer than w tokens (no shingles —
    * same docs the explode-formulation drops). Hash family 4k+j is slice j
    * of md5("x"*k || shingle): one digest yields four independent 32-bit
    * family values, so 64 hashes (production dedup scale) cost 16 digests
    * per shingle. numHashes must be a positive multiple of 4 (enforced by
    * [[MinHashSig.checkInputDataTypes]]); 8 reproduces the declared-query
    * oracle's two-digest formulation bit-for-bit. */
  def minhash(tokens: ArrayData, w: Int, numHashes: Int): ArrayData = {
    // enforced here as well as in MinHashSig.checkInputDataTypes: a direct
    // util call with e.g. numHashes=6 would otherwise leave the trailing
    // mins at the sentinel and render them as bogus signature values
    require(numHashes > 0 && numHashes % 4 == 0,
      s"numHashes ($numHashes) must be a positive multiple of 4")
    val toks = compact(tokens)
    val n = toks.length
    if (n < w) return null
    val md = md5Local.get()
    val numDigests = numHashes / 4
    val mins = Array.fill(numHashes)(0xffffffffL + 1) // > any unsigned 32-bit value
    val sb = new java.lang.StringBuilder(64)
    var p = 0
    while (p <= n - w) {
      sb.setLength(0)
      var q = 0
      while (q < w) {
        if (q > 0) sb.append(' ')
        sb.append(toks(p + q).toString)
        q += 1
      }
      val bytes = sb.toString.getBytes(UTF_8)
      var k = 0
      while (k < numDigests) {
        md.reset()
        var x = 0
        while (x < k) { md.update('x'.toByte); x += 1 }
        val m = md.digest(bytes)
        var j = 0
        while (j < 4) {
          val v = slice32(m, j)
          if (v < mins(k * 4 + j)) mins(k * 4 + j) = v
          j += 1
        }
        k += 1
      }
      p += 1
    }
    new GenericArrayData(mins.map(toHex8))
  }

  /** Hamming distance between two equal-length bit strings ('0'/'1'
    * chars, byte-per-byte compare): count of differing positions, plus
    * any length delta (so ragged inputs can never under-count). One
    * linear byte scan — replaces the 64-step `aggregate(sequence(...))`
    * SQL fold the banded-pairs verifies previously evaluated per
    * candidate, which built 64 substring calls per row. */
  def hamming(a: UTF8String, b: UTF8String): Long = {
    val ba = a.getBytes; val bb = b.getBytes
    val n = math.min(ba.length, bb.length)
    var i = 0; var c: Long = math.abs(ba.length - bb.length).toLong
    while (i < n) { if (ba(i) != bb(i)) c += 1; i += 1 }
    c
  }

  /** distinct space-joined w-grams in first-occurrence order; empty array
    * when the document has fewer than w tokens */
  def distinctNGrams(tokens: ArrayData, w: Int): ArrayData = {
    val toks = compact(tokens)
    val n = toks.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]((n - w + 1) * 2)
    val sb = new java.lang.StringBuilder(64)
    var p = 0
    while (p <= n - w) {
      sb.setLength(0)
      var q = 0
      while (q < w) {
        if (q > 0) sb.append(' ')
        sb.append(toks(p + q).toString)
        q += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      p += 1
    }
    new GenericArrayData(seen.toArray)
  }

  /** Distinct 128-bit hashes of the document's space-joined w-grams in
    * first-occurrence order, computed BYTE-LEVEL from the token bytes —
    * no gram string (or UTF8String) is ever materialized (optimization
    * r15, VERDICT r14 #3: the containment row's dominant stage was the
    * gram build + every downstream exchange carrying ~20-40-byte gram
    * strings; a 16-byte fixed-width key halves the shuffled bytes and
    * turns every gram compare into two long compares). h1/h2 are
    * xxhash64 of the gram's exact UTF-8 bytes (tokens joined by 0x20)
    * at seeds 0 and 1 — bit-identical to Spark's XxHash64 expression on
    * the materialized gram string at those seeds (NGramHashSpec pins
    * it), so the pair is verifiable without this code. 128 bits keep
    * hash-equality collisions below ~1e-14 even at 10^12 distinct grams
    * (birthday bound), so gram-set intersections computed on hashes are
    * exact at any realistic corpus scale. */
  def distinctNGramHashes(tokens: ArrayData, w: Int): ArrayData = {
    val toks = compact(tokens)
    val n = toks.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[(Long, Long)]((n - w + 1) * 2)
    var buf = new Array[Byte](64)
    var p = 0
    while (p <= n - w) {
      var len = w - 1 // the joining spaces
      var q = 0
      while (q < w) { len += toks(p + q).numBytes(); q += 1 }
      if (buf.length < len) buf = new Array[Byte](math.max(len, buf.length * 2))
      var off = 0
      q = 0
      while (q < w) {
        if (q > 0) { buf(off) = ' '.toByte; off += 1 }
        val t = toks(p + q)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
        off += t.numBytes()
        q += 1
      }
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 0L)
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 1L)
      seen.add((h1, h2)): Unit
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) {
      val (h1, h2) = it.next()
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h1, h2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** |A ∩ B| over two DUPLICATE-FREE arrays of (h1, h2) 128-bit hash
    * pairs ([[distinctNGramHashes]] output) in O(|A| + |B|) with
    * primitive open addressing — no boxing, no per-element allocation.
    * Exists because `array_intersect` has NO fast path for struct
    * elements (TypeUtils.typeWithProperEquals is false for structs, so
    * Spark falls back to a per-element O(n) ordering scan — O(n·m) per
    * pair, interpreted; measured 2-5× slower than the exploded verify it
    * was meant to replace, and growing with doc gram counts — exactly
    * wrong at 100 TB). Count semantics equal
    * `size(array_intersect(a, b))` whenever both inputs are
    * duplicate-free, which the gram-hash kernel guarantees per doc
    * (NGramHashSpec pins the equality on real documents). */
  def hashPairIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val (s, l) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = s.numElements()
    if (n == 0) return 0L
    // table capacity: next power of two >= 2n. Guard the shift — past
    // 2^29 elements the capacity would have to reach 2^31, which
    // overflows Int, and the doubling loop would never exit
    require(n <= (1 << 29),
      s"hash_pair_intersect_size: array of $n elements exceeds the 2^29 bound")
    var cap = 4
    while (cap < n * 2) cap <<= 1
    val mask = cap - 1
    val k1 = new Array[Long](cap)
    val k2 = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    @inline def slot(h1: Long, h2: Long): Int = {
      val h = h1 * 0x9E3779B97F4A7C15L + h2
      ((h ^ (h >>> 32)) & mask).toInt
    }
    var i = 0
    while (i < n) {
      // null elements are skipped (can't be a hash pair): the type check
      // admits containsNull=true arrays because Catalyst types derived
      // columns conservatively, but the gram kernel never emits nulls
      if (!s.isNullAt(i)) {
        val r = s.getStruct(i, 2)
        val h1 = r.getLong(0); val h2 = r.getLong(1)
        var p = slot(h1, h2)
        while (used(p) && !(k1(p) == h1 && k2(p) == h2)) p = (p + 1) & mask
        if (!used(p)) { used(p) = true; k1(p) = h1; k2(p) = h2 }
      }
      i += 1
    }
    var cnt = 0L
    val m = l.numElements()
    i = 0
    while (i < m) {
      if (!l.isNullAt(i)) {
        val r = l.getStruct(i, 2)
        val h1 = r.getLong(0); val h2 = r.getLong(1)
        var p = slot(h1, h2)
        while (used(p) && !(k1(p) == h1 && k2(p) == h2)) p = (p + 1) & mask
        if (used(p)) cnt += 1
      }
      i += 1
    }
    cnt
  }

  /** 64-bit SimHash bit string ('1'/'0' per majority vote) over the token
    * array; null when the document has no tokens. */
  def simhash(tokens: ArrayData): UTF8String = {
    val toks = compact(tokens)
    val n = toks.length
    if (n == 0) return null
    val md = md5Local.get()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val (m1, m2) = digest2(md, toks(i).getBytes)
      var j = 0
      while (j < 64) {
        val m = if (j < 32) m1 else m2
        val k = j % 32
        val nib = (m(k / 2) >> (if (k % 2 == 0) 4 else 0)) & 0xf
        votes(j) += (if (nib < 8) 1 else -1)
        j += 1
      }
      i += 1
    }
    val cs = new Array[Char](64)
    var j = 0
    while (j < 64) { cs(j) = if (votes(j) >= 0) '1' else '0'; j += 1 }
    UTF8String.fromString(new String(cs))
  }
}

/** distinct word n-grams: array<string> tokens → array<string> of the
  * doc's DISTINCT space-joined w-grams (first-occurrence order). Folding
  * the per-document dedup into the expression means the n-gram relation
  * needs no aggregate at all — explode directly yields distinct
  * (doc, gram) pairs. */
case class DistinctNGrams(child: Expression, nGramWidth: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"distinct_ngrams needs array<string>, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextHashUtil.distinctNGrams(input.asInstanceOf[ArrayData], nGramWidth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextHashUtil.distinctNGrams($a, $nGramWidth)")

  override protected def withNewChildInternal(newChild: Expression): DistinctNGrams =
    copy(child = newChild)

  override def prettyName: String = "distinct_ngrams"
}

/** distinct word n-gram 128-bit hashes: array<string> tokens →
  * array<struct<h1:bigint, h2:bigint>> of the doc's DISTINCT w-grams'
  * (xxhash64 seed 0, seed 1) pairs in first-occurrence order, hashed
  * byte-level with no gram string materialization
  * ([[TextHashUtil.distinctNGramHashes]]). The fixed-width key replaces
  * the gram string through the whole containment join pipeline. */
case class NGramHashes(child: Expression, nGramWidth: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"ngram_hashes needs array<string>, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextHashUtil.distinctNGramHashes(input.asInstanceOf[ArrayData], nGramWidth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextHashUtil.distinctNGramHashes($a, $nGramWidth)")

  override protected def withNewChildInternal(newChild: Expression): NGramHashes =
    copy(child = newChild)

  override def prettyName: String = "ngram_hashes"
}

/** min-hash signature: array<string> tokens → array<string> of `numHashes`
  * hex mins (a positive multiple of 4 — each md5 digest yields 4 family
  * values). 8 is the declared-query/oracle config; 64+ is the production
  * dedup scale exercised by ScaleBench's LSH-knob segment. */
case class MinHashSig(child: Expression, nGramWidth: Int, numHashes: Int = 8)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if numHashes <= 0 || numHashes % 4 != 0 =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sig numHashes must be a positive multiple of 4, got $numHashes")
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig needs array<string>, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextHashUtil.minhash(input.asInstanceOf[ArrayData], nGramWidth, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.TextHashUtil.minhash($a, $nGramWidth, $numHashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** sim-hash signature: array<string> tokens → 64-char '1'/'0' bit string */
case class SimHashSig(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash_sig needs array<string>, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextHashUtil.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.TextHashUtil.simhash($a);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)

  override def prettyName: String = "simhash_sig"
}

/** codegen'd bit-string Hamming distance (see [[TextHashUtil.hamming]]) */
case class HammingBits(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hamming_bits needs (string, string), got (${l.sql}, ${r.sql})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.hamming(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashUtil.hamming($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingBits =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hamming_bits"
}

/** codegen'd exact |A ∩ B| over two duplicate-free
  * array<struct<h1,h2>> gram-hash relations
  * (see [[TextHashUtil.hashPairIntersectSize]]) */
case class HashPairIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = LongType

  private def isHashPairArray(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, false, _),
      StructField(_, LongType, false, _))), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (l, r) if isHashPairArray(l) && isHashPairArray(r) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hash_pair_intersect_size needs two array<struct<bigint,bigint>>, " +
          s"got (${l.sql}, ${r.sql})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.hashPairIntersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TextHashUtil.hashPairIntersectSize($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashPairIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hash_pair_intersect_size"
}

object TextHash {
  def minhashSig(tokens: Column, nGramWidth: Int, numHashes: Int = 8): Column =
    bridge.column(MinHashSig(bridge.expression(tokens), nGramWidth, numHashes))

  def hammingBits(a: Column, b: Column): Column =
    bridge.column(HammingBits(bridge.expression(a), bridge.expression(b)))

  def simhashSig(tokens: Column): Column =
    bridge.column(SimHashSig(bridge.expression(tokens)))

  def distinctNGrams(tokens: Column, nGramWidth: Int): Column =
    bridge.column(DistinctNGrams(bridge.expression(tokens), nGramWidth))

  def ngramHashes(tokens: Column, nGramWidth: Int): Column =
    bridge.column(NGramHashes(bridge.expression(tokens), nGramWidth))

  /** `hash_pair_intersect_size(a, b)`: |A ∩ B| over two
    * `array<struct<bigint,bigint>>` hash-pair arrays, as produced by
    * [[ngramHashes]]. Precondition, not checked: neither array holds a
    * duplicate element — a duplicate of the larger array is counted once
    * per occurrence, where `size(array_intersect(a, b))` counts it once.
    * Null elements are skipped; a null array gives null. The smaller
    * array may hold at most 2^29 elements. */
  def hashPairIntersectSize(a: Column, b: Column): Column =
    bridge.column(HashPairIntersectSize(bridge.expression(a), bridge.expression(b)))
}
