package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The tight-loop kernel bodies behind [[NativeExprs]], as plain JVM
  * methods so generated (whole-stage codegen) Java can call them via
  * the object's static forwarders — `doGenCode` emits one call per
  * row, keeping the surrounding projection inside a single
  * WholeStageCodegen span while the kernel itself stays a JIT-hot
  * monomorphic loop. The interpreted path (`nullSafeEval`) calls the
  * exact same methods, so both execution modes share one
  * implementation.
  */
object NativeKernels {

  @inline private def hashString(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** Sorted distinct xxhash64'd word-3-gram shingles; see
    * [[NativeExprs.ShingleHashes]]. */
  def shingleHashes(input: UTF8String): ArrayData = {
    val toks = input.toLowerCase.toString.split(" ", -1)
    if (toks.length < 3) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val u = UTF8String.fromString(toks(i))
      th(i) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      i += 1
    }
    val out = new Array[Long](toks.length - 2)
    i = 0
    while (i < out.length) {
      out(i) = XXH64.hashLong(th(i + 2), XXH64.hashLong(th(i + 1), th(i)))
      i += 1
    }
    java.util.Arrays.sort(out)
    var n = 0
    i = 0
    while (i < out.length) {
      if (n == 0 || out(i) != out(n - 1)) { out(n) = out(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, n))
  }

  /** Positional hashed w-token windows: element i = chained xxhash64
    * over tokens [i, i+w) of `split(lower(text), " ")` (empties
    * kept, matching [[shingleHashes]]' tokenizer). NOT deduped or
    * sorted — position is the payload: substring-level dedup expands
    * shared window hashes back into maximal duplicated spans, so the
    * index into this array IS the span coordinate. One native pass;
    * window strings are never materialized, so only fixed-size longs
    * leave the scan. The per-window chain is w hashLong steps — a
    * fixed small constant; a O(1)-per-step rolling polynomial would
    * shave it but weakens collision behavior for no measured need. */
  def spanHashes(input: UTF8String, w: Int): ArrayData = {
    require(w >= 2, s"span window must be >= 2 tokens, got $w")
    val toks = input.toLowerCase.toString.split(" ", -1)
    if (toks.length < w) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val u = UTF8String.fromString(toks(i))
      th(i) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.numBytes, 42L)
      i += 1
    }
    val out = new Array[Long](toks.length - w + 1)
    i = 0
    while (i < out.length) {
      var h = th(i)
      var j = 1
      while (j < w) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Merge-rank lookup for [[bpeTokens]]: pair "a\u0000b" -> rank.
    * Built once per plan (the expression holds it as a reference
    * object), probed per adjacent symbol pair. */
  def bpeRanks(merges: Array[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) { m.put(merges(i), Integer.valueOf(i)); i += 1 }
    m
  }

  /** BPE-encode a text column under a trained merge list: lowercase →
    * split(" ") → per word, start from CODE-POINT symbols and
    * repeatedly merge the adjacent pair with the LOWEST rank (all its
    * occurrences, left to right) until no adjacent pair is ranked —
    * the standard deterministic BPE encoder. Returns the full token
    * array so the lossless-roundtrip law (concat(tokens) ==
    * text-without-spaces) is checkable; by construction no merge
    * loses a character. Code points (not UTF-16 units) keep
    * token-count ≤ char-count sound for astral-plane text. */
  def bpeTokens(input: UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val words = input.toLowerCase.toString.split(" ", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var syms = {
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < w.length) {
            val cp = w.codePointAt(i)
            b += new String(Character.toChars(cp))
            i += Character.charCount(cp)
          }
          b
        }
        var done = syms.length < 2
        while (!done) {
          // lowest-ranked adjacent pair present in this word
          var best = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val r = ranks.get(syms(i) + "\u0000" + syms(i + 1))
            if (r != null && r.intValue() < best) best = r.intValue()
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            // merge ALL occurrences of the best pair, left to right
            val merged = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && {
                val r = ranks.get(syms(j) + "\u0000" + syms(j + 1))
                r != null && r.intValue() == best
              }) {
                merged += syms(j) + syms(j + 1)
                j += 2
              } else {
                merged += syms(j)
                j += 1
              }
            }
            syms = merged
            if (syms.length < 2) done = true
          }
        }
        syms.foreach(t => out += UTF8String.fromString(t))
      }
      wi += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** MinHash signature over already-hashed shingles. */
  def minHashFromHashes(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var k = 0
        while (k < numHashes) {
          val hk = XXH64.hashLong(h, k)
          if (hk < mins(k)) mins(k) = hk
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** MinHash signature of a distinct-string array. */
  def minHashSignature(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val e = arr.getUTF8String(i)
        var k = 0
        while (k < numHashes) {
          val h = hashString(e, k)
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** FNV-1a 64-bit over a string's bytes. Chosen over xxhash64 for
    * the SimHash token hash because it is engine-portable: DuckDB
    * reproduces it exactly with HUGEINT arithmetic, so the simhash
    * pipeline is oracle-comparable end to end (xxhash64's
    * seed/implementation is Spark-private). */
  @inline private def fnv1a(s: UTF8String): Long = {
    var h = 0xcbf29ce484222325L
    val n = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      h = (h ^ (b & 0xffL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash of a token array (FNV-1a token hashes). */
  def simHash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) >= 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  /** Exact Jaccard of two string arrays as sets (NaN when both
    * empty; NULL array *elements* count as a set member). */
  def jaccard(x: ArrayData, y: ArrayData): Double = {
    val xs = new java.util.HashSet[UTF8String](math.max(8, x.numElements() * 2))
    var hasNullX = false
    var hasNullY = false
    var i = 0
    while (i < x.numElements()) {
      if (x.isNullAt(i)) hasNullX = true else xs.add(x.getUTF8String(i))
      i += 1
    }
    val ys = new java.util.HashSet[UTF8String](math.max(8, y.numElements() * 2))
    var inter = 0
    i = 0
    while (i < y.numElements()) {
      if (y.isNullAt(i)) hasNullY = true
      else {
        val e = y.getUTF8String(i)
        if (ys.add(e) && xs.contains(e)) inter += 1
      }
      i += 1
    }
    if (hasNullX && hasNullY) inter += 1
    val union = xs.size + (if (hasNullX) 1 else 0) +
      ys.size + (if (hasNullY) 1 else 0) - inter
    inter.toDouble / union.toDouble // 0/0 => NaN
  }

  /** Merge-walk Jaccard of two sorted distinct long arrays; boxed
    * null for contract-violating (null-containing) inputs. */
  def jaccardSorted(x: ArrayData, y: ArrayData): java.lang.Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < nx && j < ny) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    while (i < nx) { if (x.isNullAt(i)) return null; i += 1 }
    while (j < ny) { if (y.isNullAt(j)) return null; j += 1 }
    java.lang.Double.valueOf(inter.toDouble / (nx + ny - inter).toDouble)
  }

  /** Sequential-order dot product; boxed null on length mismatch or
    * null elements (zip_with-fold semantics). */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  private val FpPrime = 1000000007L
  private val FpSeed = 7L

  /** Polynomial rolling fingerprint mod 1e9+7 over code points. */
  def polyFingerprint(input: UTF8String): Long = {
    val s = input.toString
    var h = FpSeed
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % FpPrime
      i += Character.charCount(cp)
    }
    h
  }

  /** Min polynomial hash over all `window`-code-point substrings. */
  def polyMinWindow(input: UTF8String, window: Int): Long = {
    val s = input.toString
    val cps = s.codePoints().toArray
    val n = cps.length
    var best = Long.MaxValue
    var start = 0
    val lastStart = n - window
    if (lastStart < 0) {
      var h = FpSeed
      var i = 0
      while (i < n) { h = (h * 31 + cps(i)) % FpPrime; i += 1 }
      return h
    }
    while (start <= lastStart) {
      var h = FpSeed
      var i = start
      val end = start + window
      while (i < end) { h = (h * 31 + cps(i)) % FpPrime; i += 1 }
      if (h < best) best = h
      start += 1
    }
    best
  }

  /** Bloom probe count (fixed — part of the filter's wire format). */
  final val BloomProbes = 4

  /** Bit index of probe `i` for element-hash `h` in an `mBits`-wide
    * bloom filter: Kirsch–Mitzenhauer double hashing
    * g_i(h) = h + i·h2, with h2 forced odd so the probe stride is
    * coprime with the power-of-two width. */
  def bloomBit(h: Long, i: Int, mBits: Long): Long = {
    val h2 = ((h >>> 33) * 0xff51afd7ed558ccdL) | 1L
    java.lang.Long.remainderUnsigned(h + i.toLong * h2, mBits)
  }

  /** Set `h`'s probe bits (driver-side builder). */
  def bloomAdd(bloom: Array[Byte], h: Long): Unit = {
    val m = bloom.length.toLong * 8L
    var i = 0
    while (i < BloomProbes) {
      val b = bloomBit(h, i, m)
      bloom((b >>> 3).toInt) =
        (bloom((b >>> 3).toInt) | (1 << (b & 7L).toInt)).toByte
      i += 1
    }
  }

  /** Membership test: true iff every probe bit is set (no false
    * negatives by construction; false positives bounded by the
    * filter's bits-per-element). */
  def bloomContains(bloom: Array[Byte], h: Long): Boolean = {
    val m = bloom.length.toLong * 8L
    var i = 0
    while (i < BloomProbes) {
      val b = bloomBit(h, i, m)
      if ((bloom((b >>> 3).toInt) & (1 << (b & 7L).toInt)) == 0) return false
      i += 1
    }
    true
  }

  /** Bit test against a little-endian bitmap (java.util.BitSet's
    * toByteArray layout: bit n lives in byte n/8 at position n%8) —
    * the deletion-vector membership probe: O(1), branch-light,
    * positions beyond the bitmap read as unset. */
  def bitsetGet(bs: Array[Byte], pos: Long): Boolean = {
    // bound-check in Long space: (pos >>> 3).toInt wraps negative for
    // pos >= 2^34 and would pass an Int-space guard, then AIOOBE
    val i = pos >>> 3
    pos >= 0 && i < bs.length && ((bs(i.toInt) >> (pos & 7L).toInt) & 1) == 1
  }

  /** Bitmap from a position array (any order, duplicates fine):
    * length = highest position / 8 + 1, so a file's blob is at most
    * rows/8 bytes no matter how many rows are deleted. */
  def bitsetFromPositions(
      arr: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
    val n = arr.numElements()
    var max = -1L
    var i = 0
    while (i < n) {
      val p = arr.getLong(i)
      // loud, not AIOOBE / silent Int wrap: the SQL surface accepts
      // arbitrary bigints
      require(p >= 0, s"bitmap position must be non-negative: $p")
      if (p > max) max = p
      i += 1
    }
    if (n == 0) return Array.emptyByteArray
    require(max < (Int.MaxValue.toLong << 3),
      s"bitmap position $max exceeds the 2^34-row addressable range")
    val out = new Array[Byte]((max >>> 3).toInt + 1)
    i = 0
    while (i < n) {
      val p = arr.getLong(i)
      val b = (p >>> 3).toInt
      out(b) = (out(b) | (1 << (p & 7L).toInt)).toByte
      i += 1
    }
    out
  }

  /** Byte-wise OR of two bitmaps; result length = the longer input
    * (the shorter reads as zero-padded) — how a new DELETE's bits
    * merge into a data file's existing deletion vector. */
  def bitsetOr(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (lo, hi) = if (a.length >= b.length) (b, a) else (a, b)
    val out = java.util.Arrays.copyOf(hi, hi.length)
    var i = 0
    while (i < lo.length) { out(i) = (out(i) | lo(i)).toByte; i += 1 }
    out
  }

  /** Number of set bits — the deleted-row count of a deletion vector,
    * read from the blob alone (no data scan). */
  def bitsetCardinality(bs: Array[Byte]): Long = {
    var c = 0L
    var i = 0
    while (i < bs.length) {
      c += java.lang.Integer.bitCount(bs(i) & 0xff)
      i += 1
    }
    c
  }

  /** a AND NOT b, byte-wise; result length = a's (bits only in b
    * cannot survive) — the deletion-vector DIFF: positions set in the
    * newer bitmap but not the older are the rows deleted in-range. */
  def bitsetAndNot(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = (a(i) & ~(if (i < b.length) b(i) else 0)).toByte
      i += 1
    }
    out
  }

  /** [[bitsetPositions]] in Catalyst's array format — the executor
    * side of exploding a bitmap diff into changelog rows. */
  def bitsetPositionsData(
      bs: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      bitsetPositions(bs))

  /** Ascending set-bit positions of a bitmap — the deleted rows of a
    * deletion vector, as the `graft_bitset_positions` SQL function
    * and `position_deletes` metadata list them. */
  def bitsetPositions(bs: Array[Byte]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < bs.length) {
      val v = bs(i) & 0xff
      if (v != 0) {
        var j = 0
        while (j < 8) {
          if ((v & (1 << j)) != 0) out += (i.toLong << 3) + j
          j += 1
        }
      }
      i += 1
    }
    out.result()
  }
}
