package graft.functions

import java.security.MessageDigest
import java.util.Locale

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass kernel for the dedup shingle pipeline.
  *
  * The SQL-composed equivalent — `regexp_extract_all` + nested
  * `transform`/`concat_ws`/`md5`/`conv` lambdas — runs per ELEMENT through
  * interpreted higher-order-function eval (Spark's lambda functions are not
  * code-generated), costing ~10 µs per shingle. This kernel does tokenize →
  * shingle → hash → distinct → sort in one scan per document and is invoked
  * as a single static call from within whole-stage codegen.
  *
  * Semantics are bit-identical to the SQL chain (and to the DuckDB oracle):
  *   - tokens: maximal `[a-z0-9]+` runs of `lower(text)`;
  *   - shingles: space-joined word n-grams; texts with < n tokens yield one
  *     whole-text shingle (all tokens space-joined — "" for empty text);
  *   - hash: first 15 hex digits of md5(shingle) as a base-16 number —
  *     computed here as the big-endian first 8 digest bytes >>> 4;
  *   - distinct + ascending sort.
  */
object ShingleKernel extends Serializable {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(s): == CAST(conv(substr(md5(s),1,15),16,10) AS BIGINT). */
  def hash60(s: String): Long = {
    val d = md.get()
    d.reset()
    val b = d.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def tokens(text: String): mutable.ArrayBuffer[String] = {
    val s = text.toLowerCase(Locale.ROOT)
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        while (i < len && {
          val d = s.charAt(i); (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) i += 1
        out += s.substring(start, i)
      } else i += 1
    }
    out
  }

  def hashedShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = tokens(text.toString)
    val hashes =
      if (toks.length < n) Array(hash60(toks.mkString(" ")))
      else {
        val set = new java.util.HashSet[java.lang.Long](toks.length * 2)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        val m = toks.length - n + 1
        val arr = mutable.ArrayBuffer.empty[Long]
        while (i < m) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          val h = hash60(sb.toString)
          if (set.add(h)) arr += h
          i += 1
        }
        arr.toArray
      }
    java.util.Arrays.sort(hashes)
    new GenericArrayData(hashes)
  }
}

/** `hashed_shingles(text, n)`: sorted distinct 60-bit hashes of word
  * n-gram shingles (see [[ShingleKernel]]). */
object HashedShingles {
  def column(text: Column, n: Int): Column = Kernel.column("hashed_shingles", ShingleKernel,
    "hashedShingles", ArrayType(LongType, containsNull = false))(text, lit(n))
}

/** Kernel for [[MinMd5Ngram]]: one MessageDigest reused across positions,
  * min kept as the raw 16-byte digest (unsigned byte-wise order ≡
  * lexicographic order of the lowercase-hex rendering, because the hex
  * alphabet 0-9a-f is ascending in ASCII), hex-encoded once at the end. */
object FingerprintKernel extends Serializable {
  private val HexChars = "0123456789abcdef".toCharArray

  def minMd5Ngram(s: UTF8String, n: Int): UTF8String = {
    // one byte-array pass builds char-start offsets, then every n-gram
    // digests straight out of the shared byte buffer: no per-position
    // substring, no per-position digest allocation (digest into a
    // reusable 16-byte buffer via the DigestException overload)
    val bytes = s.getBytes
    val len = bytes.length
    val offs = new Array[Int](len + 1) // chars <= bytes, malformed-input safe
    var i = 0
    var chars = 0
    while (i < len) {
      offs(chars) = i
      chars += 1
      val b = bytes(i) & 0xFF
      i += (if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4)
    }
    offs(chars) = len
    val positions = math.max(chars - (n - 1), 1)
    val md = MessageDigest.getInstance("MD5")
    val cand = new Array[Byte](16)
    val best = new Array[Byte](16)
    var have = false
    var p = 0
    while (p < positions) {
      val from = offs(p)
      val until = offs(math.min(p + n, chars))
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(cand, 0, 16)
      if (!have || java.util.Arrays.compareUnsigned(cand, best) < 0) {
        System.arraycopy(cand, 0, best, 0, 16)
        have = true
      }
      p += 1
    }
    val out = new Array[Char](32)
    var j = 0
    while (j < 16) {
      out(j * 2) = HexChars((best(j) >> 4) & 0xF)
      out(j * 2 + 1) = HexChars(best(j) & 0xF)
      j += 1
    }
    UTF8String.fromString(new String(out))
  }
}

/** `min_md5_ngram(text, n)`: minimum md5 hex digest over all character
  * n-grams — the winnowing-style document fingerprint, natively.
  *
  * Bit-identical to the SQL chain
  * `array_min(transform(sequence(1, greatest(length(t)-(n-1), 1)),
  * i => md5(substr(t, i, n))))` (pinned by KernelSuite), but ~10×
  * cheaper: the composed form materializes a position array, a substring
  * string, an md5 call AND a 32-char hex string per position through
  * interpreted higher-order-function eval; the kernel runs one digest
  * instance down the document and hex-encodes exactly once. Texts shorter
  * than n (empty included) hash their whole content, matching
  * `substr`'s clamping. */
object MinMd5Ngram {
  def column(text: Column, n: Int): Column = {
    require(n > 0, s"n must be positive, got $n")
    Kernel.column("min_md5_ngram", FingerprintKernel, "minMd5Ngram", StringType)(text, lit(n))
  }
}

/** Kernel for [[TokenNgramHashes]]. Tokenization replicates
  * `split(trim(text), "\\s+")` EXACTLY — UTF8String.trim (spaces only,
  * like SQL trim, NOT Java's control-char trim) then the same Java regex
  * with limit −1 (trailing empties kept) — so positions match the
  * composed form byte-for-byte; the hash is the same XXH64/seed-42 that
  * `xxhash64(string)` computes. */
object NgramHashKernel extends Serializable {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def positionalHashes(s: UTF8String, k: Int): ArrayData = {
    val trimmed = s.trim.toString
    if (trimmed.isEmpty) return new GenericArrayData(Array.empty[Any])
    val toks = Ws.split(trimmed, -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(UTF8String.fromString(sb.toString), 42L))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `token_ngram_hashes(text, k)`: xxhash64 of every POSITIONAL k-gram of
  * whitespace tokens, in document order (length max(0, ntok−k+1); shorter
  * texts yield an empty array). Bit-identical to
  * `transform(sequence(0, size(toks)-k), i => xxhash64(concat_ws(' ',
  * slice(toks, i+1, k))))` over `toks = split(trim(text), '\\s+')`
  * (pinned by Round8OpsSuite) — but the composed form evaluates an
  * interpreted lambda, an array slice, a concat AND a fresh string per
  * position; the kernel tokenizes once and reuses one builder. This is
  * the hot inner map of the duplicated-span detector
  * ([[graft.ext.Dedup.duplicatedSpans]]), which runs it over every token
  * position of the corpus. */
object TokenNgramHashes {
  def column(text: Column, k: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    Kernel.column("token_ngram_hashes", NgramHashKernel, "positionalHashes",
      ArrayType(LongType, containsNull = false))(text, lit(k))
  }
}

/** `dsir_slots(text, buckets)`: the DSIR hashed feature stream — every
  * word token AND every adjacent bigram, each mapped to
  * `hash60(feature) mod buckets` — as one positional int array
  * (duplicates preserved; the slot COUNTS are the feature vector).
  * Bit-identical to exploding `wordTokens` ∪ adjacent-bigram concats
  * through `pmod(conv(substr(md5(f),1,15),16,10), buckets)` (pinned by
  * KernelSuite) — but one scan, one digest instance, and no feature
  * STRINGS ever materialize in the plan. Documents with no tokens yield
  * an empty array (explode drops them, matching the composed form). */
object DsirSlots {
  def column(text: Column, buckets: Int): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    Kernel.column("dsir_slots", DsirSlotKernel, "slots",
      ArrayType(IntegerType, containsNull = false))(text, lit(buckets))
  }
}

object DsirSlotKernel extends Serializable {
  def slots(text: UTF8String, buckets: Int): ArrayData = {
    val toks = ShingleKernel.tokens(text.toString)
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n + math.max(n - 1, 0))
    var i = 0
    while (i < n) {
      out(i) = (ShingleKernel.hash60(toks(i)) % buckets).toInt
      i += 1
    }
    val sb = new java.lang.StringBuilder(48)
    var g = 1
    while (g < n) {
      sb.setLength(0)
      sb.append(toks(g - 1)).append(' ').append(toks(g))
      out(n + g - 1) = (ShingleKernel.hash60(sb.toString) % buckets).toInt
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** `bigram_hashes(text)`: per adjacent word-token bigram, the struct
  * (w1h = xxhash64(w1), bh = xxhash64(w1, w2)) in document order — the
  * hash-only bigram stream of the corpus LM
  * ([[graft.ext.TextAnalysis.lmScore]]). Bit-identical to exploding
  * `struct(w1, w2)` and hashing per row (xxhash64's multi-argument
  * chaining: bh seeds w2's hash with w1's — pinned by KernelSuite),
  * minus the per-position lambda, struct-of-strings, and two expression
  * evals. Texts with < 2 tokens yield an empty array. */
object BigramHashes {
  val Schema: ArrayType = ArrayType(
    StructType(Seq(StructField("w1h", LongType, nullable = false),
      StructField("bh", LongType, nullable = false))), containsNull = false)

  def column(text: Column): Column =
    Kernel.column("bigram_hashes", BigramHashKernel, "bigrams", Schema)(text)
}

object BigramHashKernel extends Serializable {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  def bigrams(text: UTF8String): ArrayData = {
    val toks = ShingleKernel.tokens(text.toString)
    val n = toks.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = UTF8String.fromString(toks(0))
    var g = 1
    while (g < n) {
      val cur = UTF8String.fromString(toks(g))
      val w1h = XXH64.hashUTF8String(prev, 42L)
      val bh = XXH64.hashUTF8String(cur, w1h)
      out(g - 1) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](w1h, bh))
      prev = cur
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** 60-bit SimHash sketch computed natively: tokenize (same scanner as
  * [[ShingleKernel.tokens]]), distinct tokens, one md5-derived 60-bit hash
  * per token, ±1 per-bit vote, sign fold. Bit-identical to the SQL
  * `aggregate(zip_with(...))` chain in [[graft.ext.Dedup.simhash]]'s
  * documentation (hash bit b lands at sketch position 59−b), which paid
  * one interpreted md5 re-evaluation PER BIT per token. */
object SimHashKernel extends Serializable {
  def sketch(text: UTF8String): Long = {
    val toks = ShingleKernel.tokens(text.toString)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val counts = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val h = ShingleKernel.hash60(t)
        var b = 0
        while (b < 60) {
          counts(b) += (((h >>> b) & 1L) * 2 - 1).toInt
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { sig = sig * 2 + (if (counts(b) > 0) 1 else 0); b += 1 }
    sig
  }
}

object SimHashSketch {
  def column(text: Column): Column =
    Kernel.column("simhash_sketch", SimHashKernel, "sketch", LongType)(text)
}

/** MinHash band keys computed natively from a hashed-shingle array.
  *
  * For each hash function i: `sig_i = min over h of ((a_i·(h mod p) + b_i)
  * mod p)`; band key b = comma-joined decimal `sig` values of its
  * `numHashes/bands` rows. One static call per document replaces
  * `numHashes` interpreted `array_min(transform(...))` lambda scans. The
  * hash parameters ride the plan as Seqs (value equality: two plans with
  * the same parameters compare equal) with primitive mirrors built once.
  */
case class MinHashKernel(a: Seq[Long], b: Seq[Long], bands: Int) {
  require(a.length == b.length && a.length % bands == 0)
  private val aArr = Kernel.unwrap(a)
  private val bArr = Kernel.unwrap(b)
  import MinHashKernel.Prime

  def bandKeys(hv: ArrayData): ArrayData = {
    val a = aArr
    val b = bArr
    val k = a.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = hv.numElements()
    var i = 0
    while (i < n) {
      val hm = hv.getLong(i) % Prime
      var j = 0
      while (j < k) {
        val v = (a(j) * hm + b(j)) % Prime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    val r = k / bands
    val out = new Array[AnyRef](bands)
    val sb = new java.lang.StringBuilder(r * 11)
    var bi = 0
    while (bi < bands) {
      sb.setLength(0)
      var j = 0
      while (j < r) {
        if (j > 0) sb.append(',')
        sb.append(sig(bi * r + j))
        j += 1
      }
      out(bi) = UTF8String.fromString(sb.toString)
      bi += 1
    }
    new GenericArrayData(out)
  }
}

object MinHashKernel {
  val Prime = 1000000007L
}

/** `minhash_band_keys(hashedShingles)`: array of `bands` band-key strings. */
object MinHashBandKeys {
  def column(hashedShingles: Column, params: Seq[(Long, Long)], bands: Int): Column =
    Kernel.column("minhash_band_keys", MinHashKernel(params.map(_._1), params.map(_._2), bands),
      "bandKeys", ArrayType(StringType, containsNull = false))(hashedShingles)
}

/** Membership scan for a driver-built sorted long set: does any element of
  * the child array appear in it? One binary search per element, the set
  * shipped once per executor as a codegen reference object — the kernel
  * behind [[graft.ext.Dedup.decontaminateBroadcast]]'s per-row filter
  * (no join, no shuffle, streaming-safe). The set rides the plan as a Seq
  * (value equality for Catalyst transforms), sorted on the driver and
  * wrapped without a copy (`ArraySeq.ofLong`, primitive-backed, so no
  * boxing); the kernel searches the wrapped array itself, which ships
  * once inside the Seq. Equality walks the elements, which bounds how
  * large a set should ride a plan (the decontamination cap defaults to
  * 5M). */
case class LongSetKernel(set: Seq[Long]) {
  private val sorted = Kernel.unwrap(set)

  def overlaps(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0)
        return true
      i += 1
    }
    false
  }
}

/** `array_overlaps_set(array<long>)`: true iff any element is in the
  * fixed sorted set ([[LongSetKernel]]). */
object ArrayOverlapsSet {
  def column(arr: Column, set: Array[Long]): Column = {
    val sorted = set.clone()
    java.util.Arrays.sort(sorted)
    Kernel.column("array_overlaps_set", LongSetKernel(ArraySeq.unsafeWrapArray(sorted)),
      "overlaps", BooleanType)(arr)
  }
}

/** Weighted-vocabulary lookup-sum for a driver-built sorted (token,
  * weight) table: Σ weight(token) over the array WITH multiplicity,
  * unknown tokens contributing 0. One binary search per token, the
  * vocabulary shipped once per executor as codegen reference objects —
  * the kernel behind [[graft.ext.TextAnalysis.nbScoreWith]]'s per-row
  * classifier scoring (no join, no shuffle, streaming-safe). Vocab and
  * weights ride the plan as Seqs (value equality for Catalyst transforms),
  * encoded and sorted on the driver and wrapped without a copy; the kernel
  * searches the wrapped arrays themselves. */
case class TokenWeightKernel(vocab: Seq[UTF8String], weights: Seq[Double]) {
  private val keys = Kernel.unwrap(vocab)
  private val w = Kernel.unwrap(weights)

  def sum(arr: ArrayData): Double = {
    var s = 0.0
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      var lo = 0
      var hi = keys.length - 1
      while (lo <= hi) {
        val m = (lo + hi) >>> 1
        val c = keys(m).compareTo(t)
        if (c == 0) { s += w(m); lo = hi + 1; hi = -2 } // found → exit
        else if (c < 0) lo = m + 1
        else hi = m - 1
      }
      i += 1
    }
    s
  }
}

/** `token_weight_sum(array<string>)`: Σ weight over the fixed sorted
  * vocabulary, 0 for unknown tokens ([[TokenWeightKernel]]). */
object TokenWeightSum {
  /** `pairs` need not be sorted; UTF8String (binary) order is applied
    * here so the kernel's binary search sees a consistent key order. */
  def column(tokens: Column, pairs: Array[(String, Double)]): Column = {
    val sorted = pairs.map(p => (UTF8String.fromString(p._1), p._2)).sortBy(_._1)
    val kernel = TokenWeightKernel(ArraySeq.unsafeWrapArray(sorted.map(_._1)),
      ArraySeq.unsafeWrapArray(sorted.map(_._2)))
    Kernel.column("token_weight_sum", kernel, "sum", DoubleType)(tokens)
  }
}

/** Kernel for [[DeflateRatio]]: one-shot zlib DEFLATE (level 6) of the
  * UTF-8 bytes, counting output without keeping it. A fresh Deflater per
  * call — Deflaters are not thread-safe and rows evaluate on 32 codegen
  * threads; `end()` releases the native zlib state eagerly instead of
  * waiting on finalization. Deterministic: zlib's DEFLATE output for a
  * fixed input/level/strategy is stable across JDK releases (the
  * algorithm is pinned by RFC 1951 greedy matching at each level). */
object CompressKernel extends Serializable {
  def deflateRatio(t: UTF8String): Double = {
    val bytes = t.getBytes
    if (bytes.length == 0) return 1.0
    val d = new java.util.zip.Deflater(6, false)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](4096)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length.toDouble
    } finally d.end()
  }
}

/** `deflate_ratio(text)`: zlib-compressed size over raw UTF-8 size — the
  * classic compressibility quality signal (Gopher/RefinedWeb family):
  * boilerplate and template spam compress far below natural prose, random
  * noise compresses above 1. Empty text reports 1.0 (incompressible by
  * convention). No SQL-expressible oracle exists (zlib is not a DuckDB
  * builtin) — the kernel is suite-pinned against known-entropy inputs
  * instead. */
object DeflateRatio {
  def column(text: Column): Column =
    Kernel.column("deflate_ratio", CompressKernel, "deflateRatio", DoubleType)(text)
}
