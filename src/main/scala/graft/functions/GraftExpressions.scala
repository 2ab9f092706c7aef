package graft.functions

import org.apache.spark.sql.{graftshim, Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the training-data pipeline operators.
  *
  * These are scalar functions Spark lacks; per the preference order they are
  * `Expression`s (not Scala UDFs) so they stay inside Tungsten rows, avoid
  * serialization, and — for the hot-path cosine kernel — participate in
  * whole-stage codegen via `doGenCode`.
  */

/** Cosine similarity between two float/double arrays, computed in double.
  * Hot path of ANN / embedding dedup, so it has real codegen: one fused loop,
  * no boxing, no intermediate arrays (vs composing `zip_with` + `aggregate`,
  * which allocates an array per row). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // float or double arrays only: anything else would silently read garbage
  // through ArrayData.getFloat, so reject it at analysis time
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(FloatType), ArrayType(DoubleType)),
    Seq(ArrayType(FloatType), ArrayType(DoubleType)))

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val ad = elemIsDouble(left); val bd = elemIsDouble(right)
    var i = 0
    while (i < n) {
      // a null ELEMENT passes the analysis-time type check (nullability is
      // not part of type equality) but would be misread as 0.0 through the
      // primitive accessor — fail loudly, matching this class's contract
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"cosine_sim: null array element at index $i — vectors must be dense")
      val x = if (ad) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bd) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getA = if (elemIsDouble(left)) "getDouble" else "getFloat"
    val getB = if (elemIsDouble(right)) "getDouble" else "getFloat"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  if ($a.isNullAt(i) || $b.isNullAt(i)) {
         |    throw new IllegalArgumentException(
         |      "cosine_sim: null array element at index " + i + " — vectors must be dense");
         |  }
         |  double x = (double) $a.$getA(i);
         |  double y = (double) $b.$getB(i);
         |  dot += x * y; na += x * x; nb += y * y;
         |}
         |${ev.value} = (na == 0.0 || nb == 0.0) ? 0.0 : dot / java.lang.Math.sqrt(na * nb);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MinHash signature of a set of string tokens: `numHashes` 32-bit hash
  * slots, each the minimum over tokens of g_i(t) = h1(t) + i*h2(t)
  * (Kirsch–Mitzenmacher double hashing over two murmur3 seeds). Returned as
  * array<long> of the unsigned 32-bit minima. Runs once per document (not
  * per row-pair), so interpreted eval is off the hot path. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(StringType)))

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinHashCore.slots(input.asInstanceOf[ArrayData], numHashes))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The Kirsch–Mitzenmacher double-hashing minhash inner loop, shared by
  * [[MinHashSignature]] and [[MinHashBandKeys]] — the two MUST stay
  * bit-identical (band keys are documented as a fusion of the signature),
  * so the seeds and slot update live in exactly one place. */
private[functions] object MinHashCore {
  final val SeedA = 0x3c074a61
  final val SeedB = 0x8ea39d9b

  /** `numHashes` unsigned-32-bit minima over the tokens of `arr`. */
  def slots(arr: ArrayData, numHashes: Int): Array[Long] = {
    val mins = Array.fill[Long](numHashes)(0xFFFFFFFFL)
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val s = arr.getUTF8String(t)
        val h1 = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SeedA)
        val h2 = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SeedB)
        var i = 0
        var g = h1
        while (i < numHashes) {
          val u = g.toLong & 0xFFFFFFFFL
          if (u < mins(i)) mins(i) = u
          g += h2
          i += 1
        }
      }
      t += 1
    }
    mins
  }

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** Signature + per-band FNV bucket keys in one pass — the static kernel
    * behind [[MinHashBandKeys]] (called from generated code). */
  def bandKeys(arr: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val mins = slots(arr, numHashes)
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = FnvOffset
      var r = 0
      while (r < rows) {
        h = (h ^ mins(b * rows + r)) * FnvPrime
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** 64-bit SimHash over string tokens: each token's 64-bit hash votes its
  * bits, the sign of each bit's vote becomes the output bit. Near-duplicate
  * texts differ in few bits (small Hamming distance).
  *
  * The per-token hash is the top 8 bytes of MD5 (big-endian) — deliberately
  * a hash every engine can compute, so an external oracle (DuckDB
  * `('0x' || substr(md5(t),1,16))::UBIGINT`) reproduces the signature
  * bit-for-bit. MD5 costs more than xxhash but runs once per distinct
  * shingle per document — off the pairwise hot path. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(StringType)))

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val d = md.digest(arr.getUTF8String(t).getBytes)
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct word n-gram shingles of a text column, SORTED ascending by
  * UTF8 binary order — one fused eval replacing the
  * `split → sequence → transform(slice + concat_ws) → array_distinct →
  * array_sort` built-in chain. The chain is semantically right but its
  * higher-order functions are interpreted (no whole-stage codegen) and
  * allocate per position; profiled at sf0.1 the shingle pass dominated the
  * signature stage of every near-dup operator. Semantics match the chain
  * exactly: tokens split on single spaces keeping empties (Spark
  * `split(text, " ")`), fewer than n tokens → empty array, output distinct
  * and sorted (the `sorted_intersect_count` invariant).
  *
  * With `distinct = false` the shingles come back in TEXT ORDER with
  * multiplicity — the occurrence stream that corpus-level n-gram statistics
  * and language-model counts need (set semantics would undercount repeats). */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with graftshim.GraftExpectsInputTypes {
  require(n > 0, "shingle size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.shingles(input.asInstanceOf[UTF8String], n, distinct)

  // real codegen (a static kernel call on the already-unpacked UTF8String)
  // rather than CodegenFallback. MEASURED (SURVEY §8, sf0.1 documents,
  // min-of-7): 0.186 s codegen vs 0.182 s fallback for the shingle stage,
  // 0.213 vs 0.224 s for shingles→band-keys — within ±5% run noise both
  // ways, because the per-document kernel work dominates the call path.
  // Kept the static call since it never loses and keeps the surrounding
  // stage in one WholeStageCodegen span.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleKernel.shingles($c, $n, $distinct);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Static kernel behind [[WordShingles]] — a plain object method so
  * generated code can call it directly (whole-stage codegen keeps running
  * the surrounding loop; only this call leaves generated code). */
object ShingleKernel {
  def shingles(input: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val toks = input.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    // TreeSet of UTF8String: dedup + UTF8-binary sort in one structure,
    // matching array_sort(array_distinct(...)) over StringType
    val set = if (distinct) new java.util.TreeSet[UTF8String]() else null
    val seq = if (distinct) null else new Array[AnyRef](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    val last = toks.length - n
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = UTF8String.fromString(sb.toString)
      if (distinct) set.add(s) else seq(i) = s
      i += 1
    }
    if (distinct) new GenericArrayData(set.toArray[AnyRef](new Array[AnyRef](set.size())))
    else new GenericArrayData(seq)
  }
}

/** Shannon entropy (base 2) of the character distribution of a string — the
  * classic gibberish/boilerplate quality signal (very low entropy = repeated
  * filler, very high = random bytes). One pass over the UTF-16 chars, no row
  * explosion: the built-in alternative (explode chars → groupBy → agg)
  * multiplies the row count by the text length, which is exactly what a
  * 100 TB corpus pass cannot afford. Accumulation runs in sorted-char order,
  * so the double result is deterministic; an external oracle computing
  * −Σ p·log₂p over the same characters agrees to well past 4 decimals. */
case class CharEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (s.isEmpty) 0.0
    else {
      // count CODE POINTS, not UTF-16 code units: an external engine
      // splitting per character sees one symbol where a surrogate pair
      // would be two chars — code points keep the distributions equal
      val counts = new java.util.TreeMap[Int, Long]()
      var i = 0
      var n = 0L
      while (i < s.length) {
        val cp = s.codePointAt(i)
        counts.merge(cp, 1L, (a, b) => a + b)
        n += 1
        i += Character.charCount(cp)
      }
      var acc = 0.0
      counts.forEach { (_, c) =>
        val p = c.toDouble / n
        acc -= p * (math.log(p) / math.log(2.0))
      }
      acc
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Membership probe against a pre-built Bloom filter sketch
  * (`org.apache.spark.util.sketch.BloomFilter` bytes, as produced by
  * `DataFrameStatFunctions.bloomFilter`): true if the string MIGHT be in the
  * set, false if it definitely is not. The 100 TB decontamination pattern:
  * an eval-suite n-gram set too large to broadcast as a hash relation
  * (~50+ bytes/entry) still fits as ~10 bloom bits/entry, and the filter
  * runs as a NARROW map pass over the corpus gram stream — only the ~fpp
  * survivors reach the exact verification join. The sketch rides the
  * expression (serialized once into the task closure) and is deserialized
  * lazily once per executor instance, not per row. */
case class BloomMightContain(
    child: Expression,
    bloomBytes: scala.collection.immutable.ArraySeq[Byte])
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes.unsafeArray.asInstanceOf[Array[Byte]]))

  override def nullSafeEval(input: Any): Any =
    filter.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hamming distance between two 64-bit hashes (for SimHash comparison). */
case class HammingDistance64(left: Expression, right: Expression)
    extends BinaryExpression with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming64"
  // long or int per side (SQL integer literals arrive as Int) — anything
  // else must fail at analysis, not ClassCastException executor-side
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(LongType, IntegerType), Seq(LongType, IntegerType))
  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.bitCount(
      l.asInstanceOf[Number].longValue ^ r.asInstanceOf[Number].longValue)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = java.lang.Long.bitCount(((long) $a) ^ ((long) $b));")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Winnowing-style document fingerprint: minimum polynomial rolling hash
  * (base 1000003, modulus 2^31−1) over all `window`-byte windows of the
  * UTF-8 text. Equal fingerprints ⇒ the documents share at least one k-byte
  * substring that happens to be both documents' minimum — a cheap
  * single-pass fingerprint for clustering / shard-local dedup.
  *
  * The modulus is a prime below 2^31 so every intermediate fits a 64-bit
  * long without wraparound — which also makes the hash reproducible in any
  * engine with plain BIGINT arithmetic (the DuckDB oracle recomputes it with
  * `list_reduce`). */
case class RollingHashFingerprint(child: Expression, window: Int)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  private final val Base = 1000003L
  private final val Mod = 2147483647L // 2^31 − 1 (prime)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    if (n == 0) return 0L
    val k = math.min(window, n)
    // Base^(k-1) mod M for the rolling subtract
    var basePow = 1L
    var i = 0
    while (i < k - 1) { basePow = (basePow * Base) % Mod; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (h * Base + (bytes(i) & 0xFF)) % Mod; i += 1 }
    var min = h
    while (i < n) {
      val dropped = ((bytes(i - k) & 0xFF) * basePow) % Mod
      h = ((h - dropped + Mod) % Mod * Base + (bytes(i) & 0xFF)) % Mod
      if (h < min) min = h
      i += 1
    }
    min
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Heuristic language identification: script detection (CJK, Cyrillic,
  * Greek, Arabic, Hangul, Hiragana/Katakana) plus stopword voting over small
  * per-language function-word sets for Latin-script languages. Returns an
  * ISO 639-1 code or "und". A real deployment would swap in trained n-gram
  * profiles; the plumbing (one pass, no UDF serialization) stays the same. */
case class LanguageId(child: Expression)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    UTF8String.fromString(LanguageId.detect(text))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LanguageId {
  // Function words (public knowledge; top closed-class words per language).
  // An ORDERED Seq, not a Map: equal-hit ties resolve to the earliest
  // language, so detection is deterministic (and an external SQL oracle can
  // reproduce it with an ordered CASE).
  private[functions] val stopwords: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "it", "that", "was", "for", "with", "are", "this", "not"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "los", "del", "se", "las", "por", "un", "una", "con", "es", "para"),
    "de" -> Set("der", "die", "und", "das", "ist", "von", "den", "im", "nicht", "mit", "ein", "eine", "zu", "auf", "sich"),
    "fr" -> Set("le", "la", "les", "et", "des", "est", "un", "une", "du", "dans", "que", "pour", "qui", "sur", "pas", "ce"),
    "it" -> Set("il", "di", "che", "la", "per", "un", "una", "sono", "con", "non", "del", "gli", "nel"),
    "pt" -> Set("o", "a", "de", "que", "e", "do", "da", "em", "um", "uma", "para", "com", "os", "não"))

  def detect(text: String): String = {
    if (text.isEmpty) return "und"
    var cjk = 0; var cyr = 0; var greek = 0; var arab = 0
    var hangul = 0; var kana = 0; var letters = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) {
        letters += 1
        val block = Character.UnicodeBlock.of(c)
        if (block == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS) cjk += 1
        else if (block == Character.UnicodeBlock.CYRILLIC) cyr += 1
        else if (block == Character.UnicodeBlock.GREEK) greek += 1
        else if (block == Character.UnicodeBlock.ARABIC) arab += 1
        else if (block == Character.UnicodeBlock.HANGUL_SYLLABLES) hangul += 1
        else if (block == Character.UnicodeBlock.HIRAGANA ||
                 block == Character.UnicodeBlock.KATAKANA) kana += 1
      }
      i += 1
    }
    if (letters == 0) return "und"
    if (kana * 5 >= letters) return "ja"
    if (cjk * 3 >= letters) return "zh"
    if (hangul * 3 >= letters) return "ko"
    if (cyr * 2 >= letters) return "ru"
    if (greek * 2 >= letters) return "el"
    if (arab * 2 >= letters) return "ar"
    // Latin script: stopword voting
    val tokens = text.toLowerCase.split("[^\\p{L}]+")
    var best = "und"; var bestHits = 0
    stopwords.foreach { case (lang, words) =>
      var hits = 0
      var t = 0
      while (t < tokens.length) {
        if (words.contains(tokens(t))) hits += 1
        t += 1
      }
      if (hits > bestHits) { best = lang; bestHits = hits }
    }
    if (bestHits == 0) "und" else best
  }
}

/** Random-hyperplane (sign) LSH sketch: `tables` bucket values of `bits`
  * sign-bits each, from dot products with a fixed seeded Gaussian plane
  * matrix. One fused eval per row — NOT an expression tree of
  * dim × tables × bits literal multiplies (which bloats codegen and the
  * driver heap). Deterministic across executors: planes derive from the
  * seed, not from runtime randomness. */
case class SignSketch(child: Expression, dim: Int, tables: Int, bits: Int, seed: Long)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sign_sketch"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(FloatType), ArrayType(DoubleType)))

  @transient private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables * bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val dd = isDouble
    val out = new Array[Int](tables)
    var c0 = 0
    while (c0 < n) {
      if (v.isNullAt(c0))
        throw new IllegalArgumentException(
          s"sign_sketch: null array element at index $c0 — vectors must be dense")
      c0 += 1
    }
    var t = 0
    while (t < tables) {
      var bucket = 0
      var b = 0
      while (b < bits) {
        val plane = planes(t * bits + b)
        var dot = 0.0
        val m = math.min(n, plane.length)
        var i = 0
        while (i < m) {
          val x = if (dd) v.getDouble(i) else v.getFloat(i).toDouble
          dot += x * plane(i)
          i += 1
        }
        if (dot >= 0) bucket |= (1 << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) via `java.text.Normalizer` —
  * the canonicalization step in front of hashing/dedup/tokenization, so
  * byte-different but canonically-equal texts (é composed vs e+◌́) hash
  * identically. Normalization is a JDK-table pure function: identical
  * output on every executor/JVM, and NFC agrees with external engines'
  * `nfc_normalize` (the oracle check). Not codegen'd: the per-row cost is
  * the Normalizer call itself; a quick-check fast path skips already-NFC
  * text (the overwhelmingly common case) in O(n). */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))

  @transient private lazy val normForm = java.text.Normalizer.Form.valueOf(form.toUpperCase)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, normForm)) input
    else UTF8String.fromString(java.text.Normalizer.normalize(s, normForm))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Indices of the `take` nearest centroids (by cosine) from a constant
  * centroid matrix — the IVF assignment/probe kernel, fused in one eval. */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]], take: Int)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(FloatType), ArrayType(DoubleType)))

  @transient private lazy val cents: Array[Array[Double]] = centroids.map(_.toArray).toArray
  @transient private lazy val centNorms: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum))

  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val dd = isDouble
    val vec = new Array[Double](n)
    var i = 0
    var vn = 0.0
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"nearest_centroids: null array element at index $i — vectors must be dense")
      vec(i) = if (dd) v.getDouble(i) else v.getFloat(i).toDouble
      vn += vec(i) * vec(i)
      i += 1
    }
    vn = math.sqrt(vn)
    val sims = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var dot = 0.0
      val m = math.min(n, cent.length)
      i = 0
      while (i < m) { dot += vec(i) * cent(i); i += 1 }
      sims(c) = if (vn == 0.0 || centNorms(c) == 0.0) -2.0 else dot / (vn * centNorms(c))
      c += 1
    }
    // top-`take` indices by sim desc, index asc on ties
    val idx = (0 until cents.length).sortBy(j => (-sims(j), j)).take(take).toArray
    new GenericArrayData(idx)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Product-quantization encode: split the vector into `m` equal subspaces
  * and emit, per subspace, the index of the L2-NEAREST codebook centroid
  * (ties → lowest index). `codebooks(j)(c)` is centroid c of subspace j.
  * The 64-dim float vector (256 B) becomes m codes (m bytes stored as ints
  * here) + one stored norm — the ~30× memory cut that makes a 10⁹-vector
  * ANN index RAM-resident. L2 assignment (not cosine) because the codes
  * must reconstruct the subvector for the ADC dot-product approximation:
  * dot(q, v) ≈ Σⱼ dot(qⱼ, codebook(j)(codeⱼ)). */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  // uniform ksub across subspaces is the LUT layout contract: PqLut flattens
  // at stride books.head.length and PqAdc re-derives that stride from the
  // array lengths — ragged books would silently misindex, so reject them
  require(codebooks.nonEmpty && codebooks.forall(_.length == codebooks.head.length),
    "pq codebooks must have the same centroid count per subspace")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(FloatType), ArrayType(DoubleType)))

  @transient private lazy val books: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dd = isDouble
    val m = books.length
    val out = new Array[Int](m)
    var j = 0
    var off = 0
    while (j < m) {
      val book = books(j)
      val subdim = if (book.isEmpty) 0 else book(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d = 0.0
        var i = 0
        while (i < subdim) {
          val idx = off + i
          val x =
            if (idx >= v.numElements() || v.isNullAt(idx)) 0.0
            else if (dd) v.getDouble(idx) else v.getFloat(idx).toDouble
          val diff = x - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict <: ties keep lowest
        c += 1
      }
      out(j) = best
      off += subdim
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-query ADC lookup table: lut[j·ksub + c] = dot(qⱼ, codebook(j)(c)),
  * flattened. Computed ONCE per query row; each (query, candidate) pair
  * then approximates the full dot product with m array reads ([[PqAdc]])
  * instead of a dim-length multiply loop — the amortization that makes PQ
  * scoring ~dim/m cheaper per pair than exact scoring. */
case class PqLut(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  require(codebooks.nonEmpty && codebooks.forall(_.length == codebooks.head.length),
    "pq codebooks must have the same centroid count per subspace")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(FloatType), ArrayType(DoubleType)))

  @transient private lazy val books: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val ksub: Int = books.headOption.map(_.length).getOrElse(0)

  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dd = isDouble
    val m = books.length
    val out = new Array[Double](m * ksub)
    var j = 0
    var off = 0
    while (j < m) {
      val book = books(j)
      val subdim = if (book.isEmpty) 0 else book(0).length
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var dot = 0.0
        var i = 0
        while (i < subdim) {
          val idx = off + i
          val x =
            if (idx >= v.numElements() || v.isNullAt(idx)) 0.0
            else if (dd) v.getDouble(idx) else v.getFloat(idx).toDouble
          dot += x * cent(i)
          i += 1
        }
        out(j * ksub + c) = dot
        c += 1
      }
      off += subdim
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC approximate dot product: Σⱼ lut[j·ksub + codes[j]] — the per-pair
  * hot path of PQ scoring (m array reads). The LUT stride (the ACTUAL
  * per-subspace centroid count) is derived from the array lengths, so a
  * codebook trained on a corpus smaller than the requested ksub still
  * indexes correctly. Static-kernel codegen keeps the scoring stage in one
  * WholeStageCodegen span. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(DoubleType)), Seq(ArrayType(IntegerType)))

  override def nullSafeEval(l: Any, r: Any): Any =
    PqKernel.adc(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.PqKernel.adc($l, $r);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqKernel {
  def adc(lut: ArrayData, codes: ArrayData): Double = {
    var s = 0.0
    val m = codes.numElements()
    if (m == 0) return s
    val stride = lut.numElements() / m // actual ksub of the trained books
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      val idx = j * stride + c
      if (c < stride && idx < lut.numElements()) s += lut.getDouble(idx)
      j += 1
    }
    s
  }
}

/** All unordered pairs (a, b) with a < b from an array of ids (long or
  * string) — the LSH bucket→candidate-pairs kernel. Emitting pairs from a
  * grouped bucket (`groupBy(bucket).agg(collect_list(id))` → explode this)
  * costs ONE exchange of the bucket table; the equivalent bucket self-join
  * shuffles the table twice and sorts/hashes it for the join.
  *
  * Output size is m(m-1)/2 per bucket, materialized as one array row —
  * acceptable only while LSH bucket occupancy is bounded. That bound is a
  * DESIGN obligation on the LSH parameters (bands/bits sized to the
  * corpus; asserted empirically in PlanQualitySpec), not something this
  * expression can restore after the fact — so rather than silently
  * OOM-ing or overflowing on a skew-blown bucket, it FAILS with the
  * occupancy and a remediation hint at `maxPairs` (default 10M pairs ≈
  * occupancy ~4.5k). Ids are sorted first so (id_a < id_b) holds without
  * a filter. */
case class PairCombinations(child: Expression, maxPairs: Long = PairCombinations.DefaultMaxPairs)
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _                => LongType
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", elemType, nullable = false),
      StructField("id_b", elemType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "pair_combinations"
  override def graftInputTypes: Seq[Seq[DataType]] =
    Seq(Seq(ArrayType(LongType), ArrayType(IntegerType), ArrayType(StringType)))

  @transient private lazy val ordering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(elemType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val ids = arr.toObjectArray(elemType)
    val n = ids.length
    val nPairs = n.toLong * (n - 1) / 2
    if (nPairs > maxPairs)
      throw new IllegalStateException(
        s"pair_combinations: bucket occupancy $n yields $nPairs candidate pairs " +
          s"(> $maxPairs). The LSH bucket space is too small for this corpus — " +
          "increase bands/bits-per-table or pre-block the input (see Dedup scaladoc).")
    java.util.Arrays.sort(ids, ordering.asInstanceOf[java.util.Comparator[Any]])
    // strict a < b: a duplicated id value in one bucket (dirty input rows
    // sharing an id) must not emit a self-pair — the bucket self-join this
    // replaced enforced the same with its l.id < r.id filter
    val out = new scala.collection.mutable.ArrayBuffer[Any](nPairs.toInt)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (ordering.compare(ids(i), ids(j)) != 0) out += InternalRow(ids(i), ids(j))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PairCombinations {
  val DefaultMaxPairs: Long = 10_000_000L
}

/** LAZY generator form of [[PairCombinations]]: yields the strict
  * id_a < id_b pairs of one sorted array as an ITERATOR, so per-row
  * transient memory is the input array itself — never the C(n,2) pair
  * set the eager form materializes before explode. No occupancy cap:
  * this form is for call sites whose fan-out is bounded BY CONTRACT
  * upstream (the degree-oriented wedge stream, where orientation caps
  * out-degree and total pair WORK is O(m^1.5) regardless of
  * representation); LSH bucket sites keep the eager capped form, whose
  * occupancy guard is their misconfiguration detector. Same ordering
  * and no-self-pair (equal ids skipped) contract as the eager form. */
case class PairCombinationsGenerate(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback
    with graftshim.GraftExpectsInputTypes {
  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _                => LongType
  }
  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", elemType, nullable = false),
    StructField("id_b", elemType, nullable = false)))
  override def prettyName: String = "pair_combinations_stream"
  override def graftInputTypes: Seq[Seq[DataType]] =
    Seq(Seq(ArrayType(LongType), ArrayType(IntegerType), ArrayType(StringType)))

  @transient private lazy val ordering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(elemType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val ids = v.asInstanceOf[ArrayData].toObjectArray(elemType)
    val n = ids.length
    if (n < 2) return Iterator.empty
    java.util.Arrays.sort(ids, ordering.asInstanceOf[java.util.Comparator[Any]])
    new scala.collection.AbstractIterator[InternalRow] {
      private var i = 0
      private var j = 1
      private var nextRow: InternalRow = _
      private def computeNext(): Unit = {
        nextRow = null
        while (nextRow == null && i < n - 1) {
          if (j >= n) { i += 1; j = i + 1 }
          else {
            if (ordering.compare(ids(i), ids(j)) != 0)
              nextRow = InternalRow(ids(i), ids(j))
            j += 1
          }
        }
      }
      computeNext()
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow; computeNext(); r
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Size-filtered pair combinations — the AllPairs/PPJoin LENGTH filter
  * applied INSIDE the bucket, before any candidate pair crosses the wire.
  * Input is a bucket's `array<struct<sz, id>>` (set size + id); output is
  * every id pair whose sizes can still satisfy `J ≥ threshold`
  * (min ≥ threshold·max — the same bound the verify step re-checks, but a
  * pair pruned here never joins its payloads back at all). Entries are
  * scanned sorted by size ascending, so each anchor's inner loop STOPS at
  * the first partner larger than sz/threshold instead of touching the
  * whole bucket. Same loud occupancy guard (on the unfiltered pair count)
  * and the same `id_a < id_b`, no-self-pairs contract as
  * [[PairCombinations]]. */
case class SizeFilteredPairCombinations(
    child: Expression, threshold: Double,
    maxPairs: Long = PairCombinations.DefaultMaxPairs)
    extends UnaryExpression with CodegenFallback {
  private def fields: Option[(DataType, DataType)] = child.dataType match {
    case ArrayType(StructType(Array(sz, id)), _) => Some((sz.dataType, id.dataType))
    case _                                       => None
  }
  private def idType: DataType = fields.map(_._2).getOrElse(LongType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", idType, nullable = false),
      StructField("id_b", idType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "size_filtered_pair_combinations"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    fields match {
      case Some((szT, idT))
          if Seq(IntegerType, LongType).contains(szT) &&
            Seq(IntegerType, LongType, StringType).contains(idT) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<struct<sz: int/bigint, id: int/bigint/string>>, " +
            s"got ${child.dataType.catalogString}")
    }

  @transient private lazy val ordering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
  @transient private lazy val szIsLong = fields.exists(_._1 == LongType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val nPairs = m.toLong * (m - 1) / 2
    if (nPairs > maxPairs)
      throw new IllegalStateException(
        s"$prettyName: bucket occupancy $m yields $nPairs candidate pairs " +
          s"(> $maxPairs). The blocking/prefix space is too small for this corpus — " +
          "tighten the threshold, raise n, or pre-block the input (see Dedup scaladoc).")
    val szs = new Array[Long](m)
    val ids = new Array[Any](m)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 2)
      szs(i) = if (szIsLong) row.getLong(0) else row.getInt(0).toLong
      ids(i) = row.get(1, idType)
      i += 1
    }
    // sort by (size asc, id) so each anchor's partner scan can stop early
    val order = (0 until m).sortBy(k => (szs(k), ids(k)))(
      Ordering.Tuple2(Ordering.Long, ordering))
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < m) {
      val a = order(i)
      val bound = szs(a) / threshold
      var j = i + 1
      var inBound = true
      while (j < m && inBound) {
        val b = order(j)
        if (szs(b) > bound) inBound = false
        else if (ordering.compare(ids(a), ids(b)) != 0) {
          if (ordering.compare(ids(a), ids(b)) < 0) out += InternalRow(ids(a), ids(b))
          else out += InternalRow(ids(b), ids(a))
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All cross pairs (a, b) with a from `left` and b from `right` — the
  * bipartite bucket→candidate-pairs kernel for LSH joins BETWEEN two
  * corpora (e.g. near-dup decontamination of a training set against an
  * eval set). Same one-exchange shape and the same occupancy obligation as
  * [[PairCombinations]]: output is |left|·|right| per bucket, so a bucket
  * blown past `maxPairs` fails loudly with a remediation hint instead of
  * silently OOM-ing — bucket occupancy is a design obligation on the LSH
  * parameters, not something this kernel can repair. */
case class CrossPairCombinations(
    left: Expression, right: Expression,
    maxPairs: Long = PairCombinations.DefaultMaxPairs)
    extends BinaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _                => LongType
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", elemType(left), nullable = false),
      StructField("id_b", elemType(right), nullable = false))),
    containsNull = false)
  override def prettyName: String = "cross_pair_combinations"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(LongType), ArrayType(IntegerType), ArrayType(StringType)),
    Seq(ArrayType(LongType), ArrayType(IntegerType), ArrayType(StringType)))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData].toObjectArray(elemType(left))
    val ra = r.asInstanceOf[ArrayData].toObjectArray(elemType(right))
    val nPairs = la.length.toLong * ra.length
    if (nPairs > maxPairs)
      throw new IllegalStateException(
        s"cross_pair_combinations: bucket occupancy ${la.length}×${ra.length} yields " +
          s"$nPairs candidate pairs (> $maxPairs). The LSH bucket space is too small " +
          "for this corpus — increase bands/bits-per-table or pre-block the input " +
          "(see Dedup scaladoc).")
    val out = new Array[Any](nPairs.toInt)
    var k = 0
    var i = 0
    while (i < la.length) {
      var j = 0
      while (j < ra.length) {
        out(k) = InternalRow(la(i), ra(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Intersection size of two SORTED arrays (string or bigint elements, both
  * sides alike) by linear merge — no per-row hash set, no allocation. This
  * is the exact-Jaccard verification kernel: candidate pairs dominate
  * near-dup dedup cost, and a merge over pre-sorted shingle sets (sorted
  * once per document, not once per pair) beats `array_intersect`'s
  * per-pair hashing. The bigint form is for verification over 64-bit
  * shingle HASHES (xxhash64 of each shingle, sorted): an 8-byte fixed
  * element merges ~4× faster than a UTF8 compare and quarters the pair
  * payload, while a hash collision inflating an intersection needs two
  * distinct shingles of the SAME pair to collide — probability
  * ~|a|·|b|/2⁶⁴, immaterial at any corpus size. Inputs MUST be sorted and
  * distinct (pair with `array_sort(array_distinct(...))`). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(
    Seq(ArrayType(StringType), ArrayType(LongType)),
    Seq(ArrayType(StringType), ArrayType(LongType)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (left.dataType.asInstanceOf[ArrayType].elementType !=
        right.dataType.asInstanceOf[ArrayType].elementType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires both arrays to share an element type, got " +
          s"${left.dataType.catalogString} vs ${right.dataType.catalogString}")
    else base
  }

  @transient private lazy val longElements =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j))
        throw new IllegalArgumentException(
          "sorted_intersect_count: null array element — inputs must be dense sorted sets")
      val cmp =
        if (longElements) java.lang.Long.compare(a.getLong(i), b.getLong(j))
        else a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { n += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused MinHash band keys: computes the `numHashes`-slot minhash signature
  * (identical to [[MinHashSignature]]) and collapses each of the `bands`
  * consecutive `numHashes/bands`-slot groups into one 64-bit FNV-mixed
  * bucket key, in a single pass. Replaces a 64-way `transform(slice(hash))`
  * expression tree over the signature array — one eval, no intermediate
  * signature array crossing operators. */
case class MinHashBandKeys(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with graftshim.GraftExpectsInputTypes {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(StringType)))

  override def nullSafeEval(input: Any): Any =
    MinHashCore.bandKeys(input.asInstanceOf[ArrayData], numHashes, bands)

  // static-kernel codegen, same rationale as [[WordShingles.doGenCode]]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashCore.bandKeys($c, $numHashes, $bands);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bounded top-k by score: a [[TypedImperativeAggregate]] keeping at most
  * `k` (score, id) pairs in a min-heap (worst at the root). With
  * partial/final aggregation only k rows per group per partition cross the
  * exchange — vs a window `row_number()` which shuffles EVERY scored row.
  * This is the scale-safe top-k for ANN: |corpus|×|queries| scored rows stay
  * map-side; `k × queries × partitions` rows move.
  *
  * Output: array<struct<neighbor_id,sim>> sorted by (sim desc, id asc) —
  * ties break on the smaller id, matching a `row_number() OVER (ORDER BY
  * sim DESC, id)` oracle. */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with graftshim.GraftExpectsInputTypes {
  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_by_score"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(DoubleType), Seq(LongType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neighbor_id", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.n) { buffer.insert(other.scores(i), other.ids(i)); i += 1 }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val order = (0 until buffer.n).sortBy(i => (-buffer.scores(i), buffer.ids(i)))
    new GenericArrayData(order.map(i =>
      InternalRow(buffer.ids(i), buffer.scores(i)): Any).toArray)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buffer.n * 16)
    bb.putInt(buffer.n)
    var i = 0
    while (i < buffer.n) { bb.putDouble(buffer.scores(i)); bb.putLong(buffer.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}

/** Min-heap of at most k (score, id) pairs, worst element at the root;
  * "worse" = lower score, then higher id (so ties keep the smaller id). */
final class TopKBuffer(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  def insert(s: Double, id: Long): Unit = {
    if (n < k) {
      scores(n) = s; ids(n) = id; n += 1
      var c = n - 1
      while (c > 0 && worse(scores(c), ids(c), scores((c - 1) / 2), ids((c - 1) / 2))) {
        swap(c, (c - 1) / 2); c = (c - 1) / 2
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      var c = 0
      var done = false
      while (!done) {
        val l = 2 * c + 1; val r = 2 * c + 2
        var worst = c
        if (l < n && worse(scores(l), ids(l), scores(worst), ids(worst))) worst = l
        if (r < n && worse(scores(r), ids(r), scores(worst), ids(worst))) worst = r
        if (worst == c) done = true
        else { swap(c, worst); c = worst }
      }
    }
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }
}

/** KLL doubles quantile sketch aggregate (Apache DataSketches, already on
  * Spark's classpath): builds one mergeable sketch per group — the
  * quantile analog of `hll_sketch_agg`, which Spark does not ship. With
  * partial/final aggregation only ~3k retained items per partition cross
  * the exchange, vs an exact percentile which shuffles every value.
  *
  * Exactness contract: a KLL sketch is EXACT (it retains every item) until
  * its capacity (~k items, more after merges grow levels) forces a
  * compaction; past that, rank error is ~1.33% at k=200 and compaction
  * offsets are randomized (true of any KLL implementation), so compacted
  * estimates are not run-deterministic. Size k above the merged row count
  * to stay in the exact regime — the sf0.01 oracle does; a 100 TB run
  * accepts the ±ε instead. */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[org.apache.datasketches.kll.KllDoublesSketch]
  with graftshim.GraftExpectsInputTypes {
  require(k >= 8 && k <= 65535, s"k must be in [8, 65535], got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "kll_sketch_agg"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(DoubleType))
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): org.apache.datasketches.kll.KllDoublesSketch =
    org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k)

  override def update(
      buffer: org.apache.datasketches.kll.KllDoublesSketch,
      input: InternalRow): org.apache.datasketches.kll.KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(
      buffer: org.apache.datasketches.kll.KllDoublesSketch,
      other: org.apache.datasketches.kll.KllDoublesSketch): org.apache.datasketches.kll.KllDoublesSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: org.apache.datasketches.kll.KllDoublesSketch): Any =
    buffer.toByteArray

  override def serialize(buffer: org.apache.datasketches.kll.KllDoublesSketch): Array[Byte] =
    buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): org.apache.datasketches.kll.KllDoublesSketch = {
    // heapify returns a READ-ONLY view over compact bytes; merges need an
    // updatable heap sketch, so adopt the items into a fresh instance
    val s = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k)
    s.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes)))
    s
  }

  override def withNewMutableAggBufferOffset(offset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = c(0))
}

/** Union of KLL sketch binaries (the quantile analog of `hll_union_agg`):
  * rolls cell sketches up to coarser groups without touching raw values. */
case class KllMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[org.apache.datasketches.kll.KllDoublesSketch]
  with graftshim.GraftExpectsInputTypes {
  require(k >= 8 && k <= 65535, s"k must be in [8, 65535], got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "kll_merge_agg"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(BinaryType))
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): org.apache.datasketches.kll.KllDoublesSketch =
    org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k)

  override def update(
      buffer: org.apache.datasketches.kll.KllDoublesSketch,
      input: InternalRow): org.apache.datasketches.kll.KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null)
      buffer.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buffer
  }

  override def merge(
      buffer: org.apache.datasketches.kll.KllDoublesSketch,
      other: org.apache.datasketches.kll.KllDoublesSketch): org.apache.datasketches.kll.KllDoublesSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: org.apache.datasketches.kll.KllDoublesSketch): Any =
    buffer.toByteArray

  override def serialize(buffer: org.apache.datasketches.kll.KllDoublesSketch): Array[Byte] =
    buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): org.apache.datasketches.kll.KllDoublesSketch = {
    val s = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k)
    s.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes)))
    s
  }

  override def withNewMutableAggBufferOffset(offset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllMergeAgg =
    copy(child = c(0))
}

/** Mergeable heavy-hitters aggregate (DataSketches frequent-items over
  * longs): finds every item whose count reaches `threshold` in ONE pass
  * with fixed `maxMapSize`-bounded memory per partial — the corpus-scale
  * answer to "which hosts/tokens/keys dominate" that an exact
  * count-group-by-filter answers only by shuffling every distinct key.
  * Partials are sketches, so the map-side combine and the final merge both
  * stay sketch-sized.
  *
  * Exactness contract: while the distinct-item count stays below the
  * sketch's map capacity no purge ever happens and estimates are exact
  * counts (the sf0.01 oracle regime). Past capacity, counts carry at most
  * ε·N error with ε ≈ 3.5/maxMapSize, and NO_FALSE_NEGATIVES guarantees
  * every true heavy hitter is returned (some borderline extras may ride
  * along) — the right failure mode for corpus triage.
  *
  * Output: array<struct<item, est>> sorted (est desc, item asc). */
case class FreqItemsAgg(
    child: Expression,
    maxMapSize: Int,
    threshold: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[org.apache.datasketches.frequencies.LongsSketch]
  with graftshim.GraftExpectsInputTypes {
  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")
  require(threshold > 0, s"threshold must be positive, got $threshold")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "freq_items_agg"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(LongType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", LongType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): org.apache.datasketches.frequencies.LongsSketch =
    new org.apache.datasketches.frequencies.LongsSketch(maxMapSize)

  override def update(
      buffer: org.apache.datasketches.frequencies.LongsSketch,
      input: InternalRow): org.apache.datasketches.frequencies.LongsSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Long])
    buffer
  }

  override def merge(
      buffer: org.apache.datasketches.frequencies.LongsSketch,
      other: org.apache.datasketches.frequencies.LongsSketch): org.apache.datasketches.frequencies.LongsSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: org.apache.datasketches.frequencies.LongsSketch): Any = {
    val rows = buffer.getFrequentItems(threshold,
      org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
    val order = rows.sortBy(r => (-r.getEstimate, r.getItem))
    new GenericArrayData(order.map(r =>
      InternalRow(r.getItem, r.getEstimate): Any))
  }

  override def serialize(buffer: org.apache.datasketches.frequencies.LongsSketch): Array[Byte] =
    buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): org.apache.datasketches.frequencies.LongsSketch =
    org.apache.datasketches.frequencies.LongsSketch.getInstance(
      org.apache.datasketches.memory.Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(offset: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FreqItemsAgg =
    copy(child = c(0))
}

/** Quantiles from a KLL sketch binary at the given probabilities, INCLUSIVE
  * rank semantics: result i is the smallest retained item whose inclusive
  * normalized rank (#items ≤ item)/n ≥ probs(i) — the `cume_dist() ≥ q`
  * rule, so an exact-regime sketch matches a windowed SQL oracle
  * element-for-element with zero float arithmetic. CodegenFallback: this
  * evaluates on summary rows (one per group cell), never per raw row. */
case class KllQuantiles(child: Expression, probs: Seq[Double])
    extends UnaryExpression with CodegenFallback with graftshim.GraftExpectsInputTypes {
  require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
    s"probs must be in [0,1], got $probs")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "kll_quantiles"
  override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(BinaryType))
  // an EMPTY sketch (a cell whose values were all null) yields null even
  // when the child is non-nullable — don't inherit the child's nullability
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(input.asInstanceOf[Array[Byte]]))
    if (s.isEmpty) null
    else new GenericArrayData(probs.map(p => s.getQuantile(p,
      org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)).toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column wrappers + SQL registration for the expressions above. */
object GraftFunctions {
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotent PER FUNCTION: an existing registration (ours from an
    // earlier call, or a user's same-named function, which we must not
    // clobber) is skipped, but every still-missing graft function is added —
    // a single-sentinel early return would silently skip the rest whenever
    // any one name pre-exists
    def ensure(name: String)(builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    ensure("cosine_sim")(es => CosineSimilarity(es(0), es(1)))
    ensure("minhash_sig")(es => MinHashSignature(es(0), es(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(s"numHashes must be an int literal, got $other")
    }))
    ensure("simhash64")(es => SimHash64(es(0)))
    ensure("hamming64")(es => HammingDistance64(es(0), es(1)))
    ensure("rolling_fingerprint")(es => RollingHashFingerprint(es(0), es(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(s"window must be an int literal, got $other")
    }))
    ensure("lang_id")(es => LanguageId(es(0)))
    ensure("char_entropy")(es => CharEntropy(es(0)))
    ensure("unicode_normalize")(es => UnicodeNormalize(es(0), es(1) match {
      case Literal(v, StringType) => v.toString
      case other => throw new IllegalArgumentException(s"form must be a string literal, got $other")
    }))
    ensure("word_shingles")(es => WordShingles(es(0), es(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(s"n must be an int literal, got $other")
    }))
    ensure("sorted_intersect_count")(es => SortedIntersectCount(es(0), es(1)))
  }

  import org.apache.spark.sql.graftshim.GraftColumn

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftColumn.of(SortedIntersectCount(GraftColumn.expr(a), GraftColumn.expr(b)))
  def signSketch(vec: Column, dim: Int, tables: Int, bits: Int, seed: Long = 42L): Column =
    GraftColumn.of(SignSketch(GraftColumn.expr(vec), dim, tables, bits, seed))
  def nearestCentroids(vec: Column, centroids: Seq[Seq[Double]], take: Int): Column =
    GraftColumn.of(NearestCentroids(GraftColumn.expr(vec), centroids, take))
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftColumn.of(PqEncode(GraftColumn.expr(vec), codebooks))
  def pqLut(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftColumn.of(PqLut(GraftColumn.expr(vec), codebooks))
  def pqAdc(lut: Column, codes: Column): Column =
    GraftColumn.of(PqAdc(GraftColumn.expr(lut), GraftColumn.expr(codes)))
  def minhashSig(tokens: Column, numHashes: Int): Column =
    call_function("minhash_sig", tokens, org.apache.spark.sql.functions.lit(numHashes))
  def minhashBandKeys(tokens: Column, numHashes: Int, bands: Int): Column =
    GraftColumn.of(MinHashBandKeys(GraftColumn.expr(tokens), numHashes, bands))
  def topKByScore(score: Column, id: Column, k: Int): Column =
    GraftColumn.of(
      TopKByScore(GraftColumn.expr(score), GraftColumn.expr(id), k).toAggregateExpression())
  def kllSketchAgg(value: Column, k: Int): Column =
    GraftColumn.of(KllSketchAgg(GraftColumn.expr(value), k).toAggregateExpression())
  def kllMergeAgg(sketch: Column, k: Int): Column =
    GraftColumn.of(KllMergeAgg(GraftColumn.expr(sketch), k).toAggregateExpression())
  def kllQuantiles(sketch: Column, probs: Seq[Double]): Column =
    GraftColumn.of(KllQuantiles(GraftColumn.expr(sketch), probs))
  def freqItemsAgg(item: Column, maxMapSize: Int, threshold: Long): Column =
    GraftColumn.of(
      FreqItemsAgg(GraftColumn.expr(item), maxMapSize, threshold).toAggregateExpression())
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)
  def hamming64(a: Column, b: Column): Column = call_function("hamming64", a, b)
  def rollingFingerprint(text: Column, window: Int): Column =
    call_function("rolling_fingerprint", text, org.apache.spark.sql.functions.lit(window))
  def langId(text: Column): Column = call_function("lang_id", text)
  // direct construction (not call_function): usable without registerAll
  def charEntropy(text: Column): Column =
    GraftColumn.of(CharEntropy(GraftColumn.expr(text)))
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    GraftColumn.of(UnicodeNormalize(GraftColumn.expr(text), form))
  def bloomMightContain(text: Column, bloomBytes: Array[Byte]): Column =
    GraftColumn.of(BloomMightContain(
      GraftColumn.expr(text),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(bloomBytes)))
  def wordShinglesExpr(text: Column, n: Int): Column =
    GraftColumn.of(WordShingles(GraftColumn.expr(text), n))
  def wordNgramsAll(text: Column, n: Int): Column =
    GraftColumn.of(WordShingles(GraftColumn.expr(text), n, distinct = false))
  def pairCombinations(ids: Column): Column =
    GraftColumn.of(PairCombinations(GraftColumn.expr(ids)))
  /** Generator (multi-column) form — alias with .as(Seq("a", "b")). */
  def pairCombinationsStream(ids: Column): Column =
    GraftColumn.of(PairCombinationsGenerate(GraftColumn.expr(ids)))
  def crossPairCombinations(leftIds: Column, rightIds: Column): Column =
    GraftColumn.of(CrossPairCombinations(GraftColumn.expr(leftIds), GraftColumn.expr(rightIds)))
  def sizeFilteredPairCombinations(entries: Column, threshold: Double): Column =
    GraftColumn.of(SizeFilteredPairCombinations(GraftColumn.expr(entries), threshold))
}
