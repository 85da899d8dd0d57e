package graft.expr

import java.text.Normalizer

import org.apache.spark.unsafe.types.UTF8String

/** ASCII folding — NFD-normalize then strip combining marks (the public
  * `java.text` analog of the reference's `unidecode` call,
  * cnstd/utils/metrics.py:39-57). [[Native.fold]] calls
  * [[foldUTF8]] as one static call inside whole-stage codegen; it replaced
  * the last Scala UDF in the repo: a UDF boxes its argument, hides nulls
  * behind a wrapper, and blocks null-intolerant expression pushout.
  *
  * ASCII-range fast path: strings with no code point >= 0x80 cannot change
  * under NFD (Latin letters/digits/punct are all NFC==NFD and carry no
  * combining marks), so the common case skips the Normalizer allocation
  * entirely and returns the input UTF8String unchanged.
  */
object AsciiFold {
  /** Fold one string; shared by the Column path and the plain-Scala callers
    * (metrics oracle paths).
    */
  def fold(s: String): String =
    Normalizer.normalize(s, Normalizer.Form.NFD).replaceAll("\\p{M}+", "")

  def foldUTF8(s: UTF8String): UTF8String = {
    // pure-ASCII fast path: every byte < 0x80 means NFD is the identity and
    // there are no marks to strip
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) s else UTF8String.fromString(fold(s.toString))
  }
}
