package graft.formats

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SAM tag values as Catalyst values: the one conversion behind the BAM
  * and CRAM decoders and the SAM text parser.
  *
  * A tag column's Catalyst type resolves once, per partition, to a target
  * code ([[target]]). [[read]] decodes a value in BAM's binary encoding
  * (`A c C s S i I f Z H B`; CRAM stores its tag values in the same
  * encoding) straight into that target; [[fromText]] converts a SAM text
  * value. A value whose type drifted from its column's degrades by
  * conversion, never by a failed task: integers and floats convert into
  * each other (floats truncate), numbers and arrays render as SAM text in
  * a string column (`i,1,2,3` for a B array), and anything else is null.
  */
object TagValues {
  final val AsString = 0
  final val AsLong = 1
  final val AsFloat = 2
  final val AsLongArray = 3
  final val AsFloatArray = 4
  /** A column type no tag converts into: every value reads null. */
  final val Unsupported = -1

  def target(dt: DataType): Int = dt match {
    case StringType => AsString
    case LongType => AsLong
    case FloatType => AsFloat
    case ArrayType(LongType, _) => AsLongArray
    case ArrayType(FloatType, _) => AsFloatArray
    case _ => Unsupported
  }

  /** Decode the value of type `tpe` at the buffer's position into
    * `target`, leaving the position after it. A `Z`/`H` value ends at its
    * NUL or at the buffer's limit (CRAM may store it without the NUL). */
  def read(bb: ByteBuffer, tpe: Char, target: Int): Any = tpe match {
    case 'A' =>
      val b = bb.get()
      if (target == AsString) UTF8String.fromBytes(Array(b)) else null
    case 'Z' | 'H' =>
      val start = bb.position()
      var end = start
      while (end < bb.limit() && bb.get(end) != 0) end += 1
      bb.position(math.min(end + 1, bb.limit()))
      if (target == AsString)
        UTF8String.fromBytes(bb.array(), bb.arrayOffset() + start, end - start)
      else null
    case 'B' => readArray(bb, target)
    case 'f' =>
      val f = bb.getFloat
      target match {
        case AsLong => f.toLong
        case AsFloat => f
        case AsString => UTF8String.fromString(f.toString)
        case _ => null
      }
    case _ =>
      val l = integral(bb, tpe)
      target match {
        case AsLong => l
        case AsFloat => l.toFloat
        case AsString => UTF8String.fromString(l.toString)
        case _ => null
      }
  }

  /** Advance past a value without materializing it. */
  def skip(bb: ByteBuffer, tpe: Char): Unit = tpe match {
    case 'Z' | 'H' => while (bb.get() != 0) ()
    case 'B' =>
      val sub = bb.get().toChar
      val n = bb.getInt
      bb.position(bb.position() + n * width(sub))
    case _ => bb.position(bb.position() + width(tpe))
  }

  /** A SAM text value of type `tpe` (the part after `TAG:T:`) into
    * `target`: numbers that do not parse as the column's type go through
    * a double, and what still does not parse is null, as is a value other
    * than a B array in an array column. */
  def fromText(tpe: Char, v: String, target: Int): Any =
    if ((target == AsLongArray || target == AsFloatArray) && tpe != 'B') null
    else try target match {
      case AsString => UTF8String.fromString(v)
      case AsLong =>
        try v.toLong catch { case _: NumberFormatException => v.toDouble.toLong }
      case AsFloat => v.toFloat
      case AsLongArray =>
        val vs = v.split(",").drop(1)
        ArrayData.toArrayData(
          try vs.map(_.toLong) catch { case _: NumberFormatException =>
            vs.map(_.toDouble.toLong) })
      case AsFloatArray => ArrayData.toArrayData(v.split(",").drop(1).map(_.toFloat))
      case _ => throw new IllegalArgumentException(
        s"unsupported tag column type for value '$v'")
    } catch { case _: NumberFormatException => null }

  private def readArray(bb: ByteBuffer, target: Int): Any = {
    val sub = bb.get().toChar
    val n = bb.getInt
    target match {
      case AsLongArray =>
        val a = new Array[Long](n)
        var i = 0
        while (i < n) {
          a(i) = if (sub == 'f') bb.getFloat.toLong else integral(bb, sub)
          i += 1
        }
        ArrayData.toArrayData(a)
      case AsFloatArray =>
        val a = new Array[Float](n)
        var i = 0
        while (i < n) {
          a(i) = if (sub == 'f') bb.getFloat else integral(bb, sub).toFloat
          i += 1
        }
        ArrayData.toArrayData(a)
      case AsString =>
        val sb = new java.lang.StringBuilder().append(sub)
        var i = 0
        while (i < n) {
          sb.append(',')
          if (sub == 'f') sb.append(bb.getFloat) else sb.append(integral(bb, sub))
          i += 1
        }
        UTF8String.fromString(sb.toString)
      case _ =>
        bb.position(bb.position() + n * width(sub))
        null
    }
  }

  private def integral(bb: ByteBuffer, tpe: Char): Long = tpe match {
    case 'c' => bb.get().toLong
    case 'C' => (bb.get() & 0xff).toLong
    case 's' => bb.getShort.toLong
    case 'S' => (bb.getShort & 0xffff).toLong
    case 'i' => bb.getInt.toLong
    case 'I' => bb.getInt.toLong & 0xffffffffL
    case other =>
      throw new IllegalArgumentException(s"unknown BAM tag type '$other'")
  }

  private def width(tpe: Char): Int = tpe match {
    case 'A' | 'c' | 'C' => 1
    case 's' | 'S' => 2
    case 'i' | 'I' | 'f' => 4
    case other =>
      throw new IllegalArgumentException(s"unknown BAM tag type '$other'")
  }
}

/** The tag slots one partition fills: a tag's two name bytes map to its
  * slot in `schema` (-1 for a tag no slot takes), and each slot carries
  * its [[TagValues]] target, both resolved once. `index` names the slots
  * to fill (nested pruning leaves the others null). The 64Ki key table
  * (256 KiB) makes the per-tag lookup one array read, with no String or
  * Option per tag. */
final class TagSlots(val schema: StructType, index: Map[String, Int]) {
  private val byKey: Array[Int] = {
    val arr = Array.fill(1 << 16)(-1)
    index.foreach { case (t, i) =>
      if (t.length == 2 && (t.charAt(0) | t.charAt(1)) <= 0xff)
        arr((t.charAt(0) << 8) | t.charAt(1)) = i
    }
    arr
  }
  private val targets: Array[Int] =
    schema.fields.map(f => TagValues.target(f.dataType))

  /** Slot of the tag whose name is the two characters (or unsigned
    * bytes) `t0 t1`, or -1. */
  def slot(t0: Int, t1: Int): Int =
    if ((t0 | t1) > 0xff) -1 else byKey((t0 << 8) | t1)

  /** [[TagValues.read]] into `slot`'s target. */
  def read(bb: ByteBuffer, tpe: Char, slot: Int): Any =
    TagValues.read(bb, tpe, targets(slot))

  /** [[TagValues.fromText]] into `slot`'s target. */
  def fromText(tpe: Char, v: String, slot: Int): Any =
    TagValues.fromText(tpe, v, targets(slot))
}

/** Reference names as UTF8String, encoded once per reference id and shared
  * by every row (UTF8String is immutable). An id outside the dictionary,
  * including the negative "no reference", reads null. */
final class RefNames(names: Seq[String]) {
  private val utf8: Array[UTF8String] =
    names.iterator.map(UTF8String.fromString).toArray

  def apply(id: Int): UTF8String =
    if (id < 0 || id >= utf8.length) null else utf8(id)
}
