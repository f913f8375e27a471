/*
 * JVM kernels for the dedup operators: the fused MinHash kernel (text ->
 * distinct shingle-hash set, K-permutation signature, band keys) and the
 * SimHash md5 fold. Both run inside the executor's own task threads as
 * typed Scala UDFs, so a dedup plan starts no Python worker and ships no
 * Arrow batch.
 *
 * Outputs are bit-identical to the numpy reference kernel the tests keep
 * (tests/minhash_reference.py): persisted streaming MinHash indexes store
 * `sh` and `bkeys`, so a hash change would silently orphan them. That
 * includes Python's `str.lower` semantics, which differ from Java's
 * String.toLowerCase in two ways this file handles explicitly:
 *   - Python 3.11 uses Unicode 14, Java 17 Unicode 13: 40 uppercase
 *     letters added in Unicode 14 lower only in Python (LowerOverrides),
 *     and ~300 codepoints changed case class (CasedExtra etc.);
 *   - final sigma: Python's context rule is Unicode's Final_Sigma
 *     (cased, case-ignorable*, then no cased after case-ignorables);
 *     Java's walks word boundaries instead ("A1Σ" differs).
 * tests/test_dd_kernels.py checks every codepoint and every sigma context
 * class against the running Python.
 *
 * Python wraps the returned Columns (operators/dedup.py); the jar loads
 * with `jvm.register(spark)`.
 */
package org.apache.spark.sql.dazzleduck

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.JavaConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Kernel output without band keys (bands = 0). */
case class DdShingleSig(sh: Array[Long], sig: Array[Long])
/** Kernel output with one bucket key per band. */
case class DdShingleSigKeys(sh: Array[Long], sig: Array[Long], bkeys: Array[Long])

object DdKernels extends Serializable {
  /** MinHash universe: the Mersenne prime 2^31-1. */
  final val P31 = 2147483647L
  // two ~31-bit primes for the double polynomial rolling hash; the bases
  // exceed the largest codepoint, so per-position mixing is injective
  private final val RhP1 = 2147483647L
  private final val RhP2 = 2147483629L
  private final val RhB1 = 1114117L
  private final val RhB2 = 1114129L
  /** Window pad for texts shorter than n: above the Unicode range, so no
   *  padded window collides with a real one. */
  private final val Pad = 0x110000

  // ---------------------------------------------------- Python lowering

  /** (first, last, delta) triples: Unicode 14 uppercase letters that
   *  Java 17 leaves unmapped (U+2C2F, U+A7C0, U+A7D0, U+A7D6, U+A7D8 and
   *  the Vithkuqi capitals), 40 codepoints in all. */
  private val LowerOverrides: Array[Int] = Array(
    0x2C2F, 0x2C2F, 0x30, 0xA7C0, 0xA7C0, 1, 0xA7D0, 0xA7D0, 1,
    0xA7D6, 0xA7D6, 1, 0xA7D8, 0xA7D8, 1,
    0x10570, 0x1057A, 0x27, 0x1057C, 0x1058A, 0x27,
    0x1058C, 0x10592, 0x27, 0x10594, 0x10595, 0x27)

  private def lowerOverride(c: Int): Int = {
    var o = 0
    while (o < LowerOverrides.length) {
      if (c >= LowerOverrides(o) && c <= LowerOverrides(o + 1)) return c + LowerOverrides(o + 2)
      o += 3
    }
    c
  }

  // Sorted inclusive [first, last] pairs: codepoints whose case class
  // (for the final-sigma rule) Unicode 14 changed from Java 17's.
  private val CasedExtra: Array[Int] = Array(
    0x2C2F, 0x2C2F, 0x2C5F, 0x2C5F, 0xA7C0, 0xA7C1, 0xA7D0, 0xA7D1,
    0xA7D3, 0xA7D3, 0xA7D5, 0xA7D9, 0x10570, 0x1057A, 0x1057C, 0x1058A,
    0x1058C, 0x10592, 0x10594, 0x10595, 0x10597, 0x105A1, 0x105A3, 0x105B1,
    0x105B3, 0x105B9, 0x105BB, 0x105BC, 0x1DF00, 0x1DF09, 0x1DF0B, 0x1DF1E)
  private val IgnorableExtra: Array[Int] = Array(
    0x888, 0x888, 0x890, 0x891, 0x898, 0x89F, 0x8C9, 0x8D2, 0xC3C, 0xC3C,
    0x180F, 0x180F, 0x1AC1, 0x1ACE, 0x1DFA, 0x1DFA, 0xA7F2, 0xA7F4,
    0xFBC2, 0xFBC2, 0x10780, 0x10785, 0x10787, 0x107B0, 0x107B2, 0x107BA,
    0x10F82, 0x10F85, 0x11070, 0x11070, 0x11073, 0x11074, 0x110C2, 0x110C2,
    0x1AFF0, 0x1AFF3, 0x1AFF5, 0x1AFFB, 0x1AFFD, 0x1AFFE, 0x1CF00, 0x1CF2D,
    0x1CF30, 0x1CF46, 0x1E2AE, 0x1E2AE)
  // U+1734 HANUNOO SIGN PAMUDPOD: Mn in Unicode 13, Mc in Unicode 14
  private val NotIgnorable: Array[Int] = Array(0x1734, 0x1734)

  private def inRanges(r: Array[Int], c: Int): Boolean = {
    var lo = 0
    var hi = r.length / 2 - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (c < r(2 * mid)) hi = mid - 1
      else if (c > r(2 * mid + 1)) lo = mid + 1
      else return true
    }
    false
  }

  /** Unicode Case_Ignorable: Mn, Me, Cf, Lm, Sk, or Word_Break
   *  MidLetter / MidNumLet / Single_Quote. */
  private def caseIgnorable(c: Int): Boolean = {
    if (inRanges(IgnorableExtra, c)) return true
    if (inRanges(NotIgnorable, c)) return false
    Character.getType(c) match {
      case Character.NON_SPACING_MARK | Character.ENCLOSING_MARK |
           Character.FORMAT | Character.MODIFIER_LETTER |
           Character.MODIFIER_SYMBOL => true
      case _ => c match {
        case 0x27 | 0x2E | 0x3A | 0xB7 | 0x387 | 0x55F | 0x5F4 | 0x2018 |
             0x2019 | 0x2024 | 0x2027 | 0xFE13 | 0xFE52 | 0xFE55 | 0xFF07 |
             0xFF0E | 0xFF1A => true
        case _ => false
      }
    }
  }

  private def cased(c: Int): Boolean =
    Character.isLowerCase(c) || Character.isUpperCase(c) ||
      Character.isTitleCase(c) || inRanges(CasedExtra, c)

  /** Python's Final_Sigma test for the U+03A3 at cps(i). */
  private def finalSigma(cps: Array[Int], len: Int, i: Int): Boolean = {
    var j = i - 1
    while (j >= 0 && caseIgnorable(cps(j))) j -= 1
    if (j < 0 || !cased(cps(j))) return false
    j = i + 1
    while (j < len && caseIgnorable(cps(j))) j += 1
    j == len || !cased(cps(j))
  }

  /** Codepoints of Python's `s.strip(" ").lower()`. */
  def lowerCodepoints(text: String): Array[Int] = {
    var from = 0
    var to = text.length
    while (from < to && text.charAt(from) == ' ') from += 1
    while (to > from && text.charAt(to - 1) == ' ') to -= 1
    val src = new Array[Int](to - from)
    var len = 0
    var p = from
    while (p < to) {
      val c = text.codePointAt(p)
      src(len) = c
      len += 1
      p += Character.charCount(c)
    }
    // U+0130 lowers to two codepoints, the only full mapping that grows
    val out = new Array[Int](len * 2)
    var k = 0
    var i = 0
    while (i < len) {
      val c = src(i)
      if (c < 0x80) {
        out(k) = if (c >= 'A' && c <= 'Z') c + 32 else c
      } else if (c == 0x130) {
        out(k) = 'i'; k += 1; out(k) = 0x307
      } else if (c == 0x3A3) {
        out(k) = if (finalSigma(src, len, i)) 0x3C2 else 0x3C3
      } else {
        val m = Character.toLowerCase(c)
        out(k) = if (m == c) lowerOverride(c) else m
      }
      k += 1
      i += 1
    }
    java.util.Arrays.copyOf(out, k)
  }

  /** Python's `s.strip(" ").lower()`. */
  def stripLower(text: String): String = {
    val cps = lowerCodepoints(text)
    new String(cps, 0, cps.length)
  }

  // ------------------------------------------------------------ MinHash

  /** Sorted distinct shingle codes of lower(strip(text)): each window of
   *  n codepoints hashes to (poly_p1 << 31) | poly_p2, a 62-bit double
   *  hash. A text shorter than n is one window padded with `Pad`. */
  def shingleSet(text: String, n: Int): Array[Long] = {
    val cps = lowerCodepoints(text)
    val m = cps.length
    val windows = if (m < n) 1 else m - n + 1
    val hs = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      var h1 = 0L
      var h2 = 0L
      var j = 0
      while (j < n) { // Horner, mod kept < 2^31 so products fit a Long
        val c: Long = if (w + j < m) cps(w + j) else Pad
        h1 = (h1 * RhB1 + c) % RhP1
        h2 = (h2 * RhB2 + c) % RhP2
        j += 1
      }
      hs(w) = (h1 << 31) | h2
      w += 1
    }
    java.util.Arrays.sort(hs)
    var k = 0
    var i = 0
    while (i < windows) {
      if (k == 0 || hs(i) != hs(k - 1)) { hs(k) = hs(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, k)
  }

  /** sig[k] = min over h of (a[k]*(h mod P31) + b[k]) mod P31; all P31
   *  for an empty set. Products stay below 2^62. */
  def signature(sh: Array[Long], a: Array[Long], b: Array[Long]): Array[Long] = {
    val k = a.length
    val sig = Array.fill(k)(P31)
    var i = 0
    while (i < sh.length) {
      val h = Math.floorMod(sh(i), P31)
      var p = 0
      while (p < k) {
        val v = Math.floorMod(a(p) * h + b(p), P31)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** One bucket key per band: a double 31-bit polynomial fold of the
   *  band's signature rows, seeded with the band index, as a 62-bit key.
   *  When bands does not divide K, the trailing K - bands*r rows are
   *  unused. */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val r = sig.length / bands
    val keys = new Array[Long](bands)
    var band = 0
    while (band < bands) {
      var acc1 = band.toLong
      var acc2 = band.toLong + 1
      var j = 0
      while (j < r) {
        val v = sig(band * r + j)
        acc1 = Math.floorMod(acc1 * 1000003L + v, RhP1)
        acc2 = Math.floorMod(acc2 * 1000033L + v, RhP2)
        j += 1
      }
      keys(band) = (acc1 << 31) | acc2
      band += 1
    }
    keys
  }

  private def longs(xs: java.util.List[_]): Array[Long] =
    xs.asScala.map(_.asInstanceOf[Number].longValue).toArray

  /** The fused kernel as a Column: struct<sh, sig[, bkeys]>. The seed
   *  arrays and (n, bands) live in the UDF's closure, not in the rows. */
  def minhash(text: Column, a: java.util.List[_], b: java.util.List[_],
              n: Int, bands: Int): Column = {
    val av = longs(a)
    val bv = longs(b)
    require(av.length == bv.length, "minhash: a and b differ in length")
    val empty = Array.fill(av.length)(P31)
    def shSig(t: String): (Array[Long], Array[Long]) =
      if (t == null) (Array.emptyLongArray, empty)
      else { val sh = shingleSet(t, n); (sh, signature(sh, av, bv)) }
    if (bands > 0) {
      udf { (t: String) =>
        val (sh, sig) = shSig(t)
        DdShingleSigKeys(sh, sig, bandKeys(sig, bands))
      }.withName("dd_minhash").apply(text)
    } else {
      udf { (t: String) =>
        val (sh, sig) = shSig(t)
        DdShingleSig(sh, sig)
      }.withName("dd_minhash").apply(text)
    }
  }

  // ------------------------------------------------------------ SimHash

  /** 60-bit md5 prefix of a token: int(md5(utf8(t)).hexdigest()[:15], 16). */
  private def hash60(md: MessageDigest, t: String): Long =
    ByteBuffer.wrap(md.digest(t.getBytes(StandardCharsets.UTF_8))).getLong >>> 4

  /** Majority fold over `bits` bit positions of the tokens' hash60 values:
   *  bit b is set when more tokens have it set than not. 0 for a null or
   *  empty array. */
  def simhashOf(tokens: Seq[String], bits: Int): Long = {
    if (tokens == null || tokens.isEmpty) return 0L
    val md = MessageDigest.getInstance("MD5")
    val ones = new Array[Int](bits)
    var n = 0
    tokens.foreach { t =>
      val h = hash60(md, t)
      var b = 0
      while (b < bits) { if (((h >>> b) & 1L) != 0) ones(b) += 1; b += 1 }
      n += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (2 * ones(b) - n > 0) out |= 1L << b; b += 1 }
    out
  }

  /** The SimHash fold as a Column over an array<string> of tokens. */
  def simhash(tokens: Column, bits: Int): Column =
    udf((ts: Seq[String]) => simhashOf(ts, bits)).withName("dd_simhash").apply(tokens)
}
