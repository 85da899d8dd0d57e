package graft.expr

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The kernels behind the engine's native text-hash Columns, which replaced
  * the repo's three hottest interpreted higher-order-function kernels (guide
  * §1.2 step 2 / §4: once the job shape is right, the per-task work must not
  * run through CodegenFallback lambdas). Spark's array HOFs (`transform`,
  * `aggregate`) evaluate their lambda bodies with the INTERPRETED expression
  * evaluator per element — a per-token `aggregate(sequence(1, length(tok)),
  * ...)` allocates a boxed position array and walks an expression tree per
  * character. [[Native]] calls each kernel below as one static call inside
  * whole-stage codegen, and each matches the replaced Column tree
  * bit-for-bit:
  *
  *  - [[TextHash.polyHash]] == aggregate(sequence(1, length(s)), 0L,
  *                       (acc, i) => (acc*b + ascii(substr(s, i, 1))) % m)
  *    Spark's `ascii` is `toString.codePointAt(0)` of the 1-char substring
  *    (verified against the 4.1.2 bytecode), i.e. a CODE-POINT walk — the
  *    loop here decodes the same way, so zh/CJK tokens hash identically.
  *  - [[TextHash.gramMd5s]] == transform(sequence(1, size(toks)-k+1),
  *                       i => md5(array_join(slice(toks, i, k), " ")))
  *    md5 bytes == MD5 over the UTF-8 concatenation with single 0x20
  *    separators; null elements are skipped exactly like array_join.
  *  - [[TextHash.winnow]] == the fingerprints pipeline's hash+window+distinct:
  *    array_distinct(transform(.., j => array_min(slice(hs, j, w)))) over
  *    hs = transform(.., i => Horner fold of k code points mod m), with
  *    array_distinct's first-occurrence order preserved.
  *  - [[TextHash.simHashSig]] == the per-doc SimHash aggregate: explode of
  *    split(trim(text), "\\s+") minus empty tokens, two polyHash folds per
  *    token, then one sum(when(parity, 1).otherwise(-1)) per bit and bit i
  *    set iff its sum is > 0.
  */
object TextHash {
  private val Hex = "0123456789abcdef".toCharArray

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Horner fold of the string's Unicode code points: acc*b + cp mod m.
    * Walks `toString` + codePointAt so malformed byte sequences degrade to
    * U+FFFD exactly like the `ascii(substr(...))` tree it replaces. Plain
    * integer arithmetic that DuckDB evaluates identically (the oracle SQL
    * mirrors it): acc < m <= 1e9, so acc*b + cp never overflows.
    */
  def polyHash(s: UTF8String, b: Long, m: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * b + cp) % m
      i += Character.charCount(cp)
    }
    acc
  }

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]. */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** `bits`-wide SimHash of `s`, or -1 when `s` has no token. Tokens are the
    * maximal runs of non-`\s` characters, i.e. exactly the non-empty
    * elements of split(trim(s), "\\s+") (trim strips only spaces, which are
    * separators here anyway). Each token folds its code points into
    * h1 = [[polyHash]](b1, m1) and h2 = polyHash(b2, m2) in the same walk and
    * votes +1 on bit i when ((h1*(i+1) + h2) mod m1) is odd, -1 otherwise;
    * bit i is set when its vote sum is positive. The vote operand is stepped
    * by h1 mod m1 per bit, which equals the closed form because every
    * operand is non-negative and below m1 (h2 < m2 <= m1).
    */
  def simHash(s: UTF8String, bits: Int, b1: Long, m1: Long, b2: Long, m2: Long): Long = {
    val str = s.toString
    val votes = new Array[Int](bits)
    var h1 = 0L
    var h2 = 0L
    var inTok = false
    var any = false
    def vote(): Unit = {
      var x = (h1 + h2) % m1
      var i = 0
      while (i < bits) {
        votes(i) += (if ((x & 1L) == 1L) 1 else -1)
        x += h1
        if (x >= m1) x -= m1
        i += 1
      }
    }
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if (isRegexSpace(c)) {
        if (inTok) { vote(); h1 = 0L; h2 = 0L; inTok = false; any = true }
        i += 1
      } else {
        val cp = str.codePointAt(i)
        h1 = (h1 * b1 + cp) % m1
        h2 = (h2 * b2 + cp) % m2
        inTok = true
        i += Character.charCount(cp)
      }
    }
    if (inTok) { vote(); any = true }
    if (!any) return -1L
    var sig = 0L
    i = 0
    while (i < bits) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** [[simHash]] boxed for a nullable Column: null when `s` has no token
    * (the rows the replaced explode + groupBy never produced).
    */
  def simHashSig(s: UTF8String, bits: Int, b1: Long, m1: Long, b2: Long, m2: Long): java.lang.Long = {
    val sig = simHash(s, bits, b1, m1, b2, m2)
    if (sig < 0) null else sig
  }

  /** md5 hex (lowercase — DigestUtils.md5Hex parity) of every k-token
    * window of `toks` joined by a single space. Windows are 1-based
    * positions 1..n-k+1; n < k yields the empty array (callers guard, the
    * HOF form's sequence() would have produced a descending range there).
    */
  def gramMd5s(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val digest = mdLocal.get()
    val out = new Array[Any](n - k + 1)
    var w = 0
    while (w <= n - k) {
      digest.reset()
      var first = true
      var j = 0
      while (j < k) {
        val t = toks(w + j)
        if (t != null) { // array_join semantics: null elements are skipped
          if (!first) digest.update(0x20.toByte)
          digest.update(t)
          first = false
        }
        j += 1
      }
      out(w) = hex(digest.digest())
      w += 1
    }
    new GenericArrayData(out)
  }

  private def hex(d: Array[Byte]): UTF8String = {
    val cs = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      cs(2 * i) = Hex((d(i) >> 4) & 0xf).toByte
      cs(2 * i + 1) = Hex(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(cs)
  }

  /** Winnowing fingerprints of `s`: k-gram Horner hashes over code points
    * (positions are CHARACTER positions, matching substr), minimum of every
    * w-window, deduplicated in first-occurrence order (array_distinct
    * parity). Callers guard length >= k + w (the fingerprints filter).
    */
  def winnow(s: UTF8String, k: Int, w: Int, b: Long, m: Long): ArrayData = {
    val str = s.toString
    // decode once to a code-point array (char positions == code points)
    var cpCount = 0
    var ci = 0
    while (ci < str.length) { cpCount += 1; ci += Character.charCount(str.codePointAt(ci)) }
    val cps = new Array[Int](cpCount)
    ci = 0
    var p = 0
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      cps(p) = cp; p += 1
      ci += Character.charCount(cp)
    }
    val nH = cpCount - k + 1 // k-gram hash count (callers guard nH >= w)
    if (nH < 1) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](nH)
    var i = 0
    while (i < nH) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * b + cps(i + j)) % m; j += 1 }
      hs(i) = acc
      i += 1
    }
    val nW = nH - w + 1
    if (nW < 1) return new GenericArrayData(Array.empty[Any])
    // sliding-window minimum via monotonic deque: O(n) instead of O(n*w);
    // array_min of equal values picks the value (position-independent), so
    // ties need no tie-break — the VALUE stream is what the transform built
    val deque = new Array[Int](nH)
    var head = 0
    var tail = 0 // [head, tail) indices into hs, increasing, hs values increasing
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < nH) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(hs(deque(head)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    p = 0
    while (it.hasNext) { out(p) = it.next().longValue(); p += 1 }
    new GenericArrayData(out)
  }
}

object ShingleMinHash {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Spark's xxhash64 default seed (XxHash64 expression). */
  final val Seed = 42L

  /** xxhash64(seed 42) of every 3-character shingle of `s` — byte-identical
    * to xxhash64(substr(s, i, 3)): XxHash64 over a string hashes its UTF-8
    * bytes, and the windows below are byte SLICES at code-point boundaries,
    * so no per-shingle UTF8String is ever allocated. len < 3 chars yields
    * the empty array (the callers' guard branch).
    */
  def shingleHashes(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nBytes = s.numBytes()
    // byte offset of each character start, plus the end sentinel
    val offs = new Array[Int](s.numChars() + 1)
    var c = 0
    var i = 0
    while (i < nBytes) {
      offs(c) = i
      c += 1
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
    }
    offs(c) = nBytes
    if (c < 3) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](c - 2)
    i = 0
    while (i < c - 2) {
      val st = offs(i)
      out(i) = XXH64.hashUnsafeBytes(base, off + st, offs(i + 3) - st, Seed)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-permutation seeds: xxhash64(lit(i), h) hashes the int literal first
    * (hashInt(i, 42)) and feeds the result as the seed of hashLong(h, _).
    */
  private def seedsFor(p: Int): Array[Long] = Array.tabulate(p)(XXH64.hashInt(_, Seed))
  private val seeds64 = seedsFor(64)

  /** The `p` minhash signature values min_h xxhash64(i, h) over the
    * (possibly duplicated) shingle hashes — one native double loop instead
    * of p separate min-aggregate columns over exploded rows. Signed-long
    * min, matching the min() aggregate.
    */
  def minhash(hashes: ArrayData, p: Int): ArrayData = {
    val seeds = if (p == 64) seeds64 else seedsFor(p)
    val out = Array.fill[Long](p)(Long.MaxValue)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < p) {
        val v = XXH64.hashLong(h, seeds(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out.map(x => x: Any))
  }

  /** Count of positions where the two equal-length signature arrays agree —
    * size(filter(zip_with(a, b, ==), identity)) without the interpreted
    * lambda walk.
    */
  def positionalEq(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** |a ∩ b| for two DISTINCT long arrays — size(array_intersect(a, b))
    * without the per-pair interpreted set build (sort the smaller side once,
    * binary-search the larger).
    */
  def intersectCount(a: ArrayData, b: ArrayData): Int = {
    val (s, l) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = s.numElements()
    val sorted = new Array[Long](ns)
    var i = 0
    while (i < ns) { sorted(i) = s.getLong(i); i += 1 }
    java.util.Arrays.sort(sorted)
    var c = 0
    val nl = l.numElements()
    i = 0
    while (i < nl) {
      if (java.util.Arrays.binarySearch(sorted, l.getLong(i)) >= 0) c += 1
      i += 1
    }
    c
  }
}
