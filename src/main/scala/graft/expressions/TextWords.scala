package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one word scanner behind the text kernels ([[ShingleHashes]],
  * [[WordHashes]], [[Md5WordHashes]], [[ShingleStrings]], [[Md5SpanFps]],
  * [[QualityScoreExpr]]).
  *
  * Word semantics are exactly `split(trim(text), "\\s+", -1)` with "" after
  * the trim giving no words (`TextFunctions.words`):
  *  - `trim` is `UTF8String.trim`, which strips only the space byte 0x20;
  *  - words are split on runs of the six ASCII `\s` bytes (space, `\t`,
  *    `\n`, `\x0B`, `\f`, `\r`). Nothing else separates words: U+00A0 and
  *    U+3000 stay inside them;
  *  - a separator run at either end yields a leading or trailing "" word,
  *    as Java's `Pattern.split` with a negative limit does, so a
  *    whitespace-only text such as "\t" is the two words "", "".
  *
  * The scanner reads the text's bytes in place and writes the words joined
  * by one space into a reused buffer, so word i is `bytes[start(i),
  * end(i))` and the n-word shingle from word s is the single slice
  * `bytes[start(s), end(s + n - 1))`. When the text is not valid UTF-8 the
  * SQL formulation sees the `toString` decode (malformed sequences become
  * U+FFFD) re-encoded, so the scanner makes that one `toString.getBytes`
  * round trip and scans its bytes instead; hashes stay bit-identical.
  * `UTF8String.isValid` accepts exactly the bytes that round trip
  * unchanged (pinned on random bytes by SketchExprSpec), and it runs only
  * when the scan met a non-ASCII byte. The six separator bytes are ASCII
  * and never occur inside a multi-byte UTF-8 sequence, so splitting bytes
  * equals splitting the decoded string.
  *
  * One scanner per thread: a kernel loads a text, reads the words and
  * copies out what it returns before the next load.
  */
private[expressions] final class TextWords private (initialBytes: Int) {
  /** The words joined by one space; only `[0, length)` is meaningful. */
  var bytes: Array[Byte] = new Array[Byte](initialBytes)
  var length: Int = 0
  var count: Int = 0
  private var starts: Array[Int] = new Array[Int](256)

  def start(i: Int): Int = starts(i)
  def end(i: Int): Int = if (i + 1 < count) starts(i + 1) - 1 else length

  private def load(text: UTF8String): this.type = {
    val t = text.trim
    if (scan(t.getBaseObject, t.getBaseOffset, t.numBytes) && !t.isValid) {
      val b = t.toString.getBytes(StandardCharsets.UTF_8)
      scan(b, Platform.BYTE_ARRAY_OFFSET, b.length)
    }
    this
  }

  /** Splits `n` bytes at `base + offset`; true when any byte is non-ASCII. */
  private def scan(base: AnyRef, offset: Long, n: Int): Boolean = {
    count = 0
    length = 0
    if (n == 0) return false
    if (bytes.length < n) bytes = new Array[Byte](n)
    val buf = bytes
    var pos = 0
    var cnt = 1
    starts(0) = 0
    var inSep = false
    var high = 0
    var i = 0
    while (i < n) {
      val c = Platform.getByte(base, offset + i)
      if (c == ' ' || (c >= '\t' && c <= '\r')) {
        if (!inSep) {
          inSep = true
          buf(pos) = ' '
          pos += 1
          if (cnt == starts.length) starts = java.util.Arrays.copyOf(starts, cnt * 2)
          starts(cnt) = pos
          cnt += 1
        }
      } else {
        inSep = false
        buf(pos) = c
        pos += 1
        high |= c
      }
      i += 1
    }
    count = cnt
    length = pos
    high < 0
  }
}

private[expressions] object TextWords {
  /** A thread keeps at most this much scanner buffer; a longer text gets a
    * scanner of its own for the one call.
    */
  private final val MaxRetainedBytes = 1 << 20

  private val scanners: ThreadLocal[TextWords] =
    ThreadLocal.withInitial(() => new TextWords(1 << 12))

  /** The words of `text`, in this thread's scanner. */
  def of(text: UTF8String): TextWords =
    (if (text.numBytes <= MaxRetainedBytes) scanners.get()
     else new TextWords(text.numBytes)).load(text)
}
