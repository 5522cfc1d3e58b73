package graft.core

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Order-preserving tuple key codec.
  *
  * The reference orders view keys via LevelDB with JSON key encoding
  * (/root/reference/lib/view.js:37) and its tests rely on element-wise
  * compound-key ordering (/root/reference/test/compound-keys.js). JSON
  * string order is an implementation accident there (it would sort
  * numbers lexicographically); this codec implements the *intended*
  * semantics — element-wise, typed, numerically ordered — as a
  * byte-comparable encoding in the style of the public FoundationDB
  * tuple layer design:
  *
  *   - type tags: null < false < true < number < string;
  *   - numbers (JS doubles): IEEE-754 bits, sign-flipped, big-endian;
  *   - strings: UTF-8 with 0x00 escaped as 0x00 0xFF, 0x00-terminated;
  *   - compound keys: element encodings concatenated, so a key is a
  *     byte-prefix of every key it prefixes.
  *
  * Why bytes: `list(gt/gte/lt/lte)` becomes a BinaryType range filter
  * that Spark pushes into the parquet scan (row-group min/max pruning),
  * so a range query over a 100 TB view state touches only the row
  * groups covering the range — never a full scan. Spark and parquet
  * both compare BinaryType as unsigned lexicographic, matching this
  * encoding.
  */
object KeyCodec {

  private val TagNull: Int = 0x05
  private val TagFalse: Int = 0x10
  private val TagTrue: Int = 0x11
  private val TagNum: Int = 0x20
  private val TagStr: Int = 0x30

  /** Encode a compound key. Scalar keys are 1-element Seqs. Numbers are
    * normalized to Double (JS semantics; exact for |n| <= 2^53).
    */
  def encode(key: Seq[Any]): Array[Byte] = {
    val out = new ByteArrayOutputStream(key.size * 12)
    key.foreach {
      case null => out.write(TagNull)
      case b: Boolean => out.write(if (b) TagTrue else TagFalse)
      case s: String =>
        out.write(TagStr)
        val bytes = s.getBytes(StandardCharsets.UTF_8)
        bytes.foreach { b =>
          if (b == 0) { out.write(0x00); out.write(0xFF) } else out.write(b.toInt)
        }
        out.write(0x00)
      case n =>
        out.write(TagNum)
        writeDouble(out, toDouble(n))
    }
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): Vector[Any] = {
    val b = Vector.newBuilder[Any]
    var i = 0
    while (i < bytes.length) {
      (bytes(i) & 0xFF) match {
        case TagNull => b += null; i += 1
        case TagFalse => b += false; i += 1
        case TagTrue => b += true; i += 1
        case TagNum =>
          var bits = 0L
          var j = i + 1
          while (j < i + 9) { bits = (bits << 8) | (bytes(j) & 0xFFL); j += 1 }
          bits = if (bits < 0) bits ^ Long.MinValue else ~bits
          b += java.lang.Double.longBitsToDouble(bits)
          i += 9
        case TagStr =>
          val out = new ByteArrayOutputStream
          var j = i + 1
          var done = false
          while (!done) {
            if (bytes(j) == 0) {
              if (j + 1 < bytes.length && (bytes(j + 1) & 0xFF) == 0xFF) {
                out.write(0); j += 2
              } else { done = true; j += 1 }
            } else { out.write(bytes(j).toInt); j += 1 }
          }
          b += new String(out.toByteArray, StandardCharsets.UTF_8)
          i = j
        case other =>
          throw new IllegalArgumentException(f"bad key tag 0x$other%02x at $i")
      }
    }
    b.result()
  }

  /** Canonical JSON rendering of a key: 1-element keys render as the
    * scalar (matching the reference, where `emit('a', v)` and
    * `get('a')` use the bare scalar).
    */
  def json(key: Seq[Any]): String =
    if (key.size == 1) Json.render(normalize(key.head))
    else Json.render(key.map(normalize))

  /** Accept a user key that may be a bare scalar or a Seq. */
  def asKey(key: Any): Seq[Any] = key match {
    case s: Seq[_] => s.asInstanceOf[Seq[Any]]
    case a: Array[_] => a.toSeq.asInstanceOf[Seq[Any]]
    case other => Seq(other)
  }

  private def normalize(v: Any): Any = v match {
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case n: Float => n.toDouble
    case n: Short => n.toDouble
    case other => other
  }

  private def toDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case n: Short => n.toDouble
    case n: Byte => n.toDouble
    case other =>
      throw new IllegalArgumentException(
        s"unsupported key element type: ${other.getClass.getName}")
  }

  private def writeDouble(out: ByteArrayOutputStream, d: Double): Unit = {
    var bits = java.lang.Double.doubleToLongBits(d)
    // Flip so the byte order matches numeric order: negatives get all
    // bits flipped (reverses their magnitude order), non-negatives get
    // the sign bit flipped (moves them above all negatives).
    bits = if (bits < 0) ~bits else bits ^ Long.MinValue
    var shift = 56
    while (shift >= 0) { out.write(((bits >>> shift) & 0xFF).toInt); shift -= 8 }
  }

  /** Unsigned lexicographic compare — the order Spark/parquet use for
    * BinaryType, exposed for tests and driver-side merges.
    */
  def compare(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Strings in UTF-8 byte order — Spark's `StringType` order. Java's
    * `String.compareTo` compares UTF-16 code units, which disagrees with
    * it for supplementary characters (`"😀" < "！"` in UTF-16, `>` in
    * UTF-8), so driver-side code that must agree with a Spark sort
    * compares with this.
    */
  def compareUtf8(x: String, y: String): Int =
    compare(x.getBytes(StandardCharsets.UTF_8), y.getBytes(StandardCharsets.UTF_8))
}
