package graft.formats

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** VCF and BCF values as Catalyst values: the one conversion behind the
  * VCF text parser and the BCF record reader.
  *
  * A column's Catalyst type resolves once, per partition, to a target
  * code ([[target]]). [[fromText]] converts a VCF text value and
  * [[fromTyped]] a BCF typed value as [[BcfCodec]] decodes it (a Long,
  * Float or String, a Seq of them, or null for MISSING). Both follow one
  * table:
  *  - missing: `.` or empty text, MISSING, a `.` or empty string, and a
  *    vector with no value or whose only value is missing read null (BCF
  *    writes VCF's `.` as MISSING, then END_OF_VECTOR padding); a missing
  *    element inside a vector reads a null element;
  *  - Flag: a present key reads true, whatever its value;
  *  - GT: `0|1`, or BCF's codes `(allele + 1) << 1 | phased`, reads as
  *    `[{0, false}, {1, true}]`: each allele takes the phase of the
  *    separator before it (a leading `|` phases the first), and a `.`
  *    allele (code 0, or MISSING) reads a null allele;
  *  - a value that does not fit its column's type raises, so FAILFAST
  *    fails the scan and PERMISSIVE skips the record.
  */
object VariantValues {
  final val AsLong = 0
  final val AsFloat = 1
  final val AsString = 2
  final val AsFlag = 3
  final val AsLongArray = 4
  final val AsFloatArray = 5
  final val AsStringArray = 6
  final val AsGenotype = 7
  /** A column type no value converts into: every value raises. */
  final val Unsupported = -1

  /** The GT column type: one `{allele, phased}` entry per allele. */
  val GenotypeType: DataType = ArrayType(StructType(Seq(
    StructField("allele", IntegerType), StructField("phased", BooleanType))))

  def target(dt: DataType): Int = dt match {
    case LongType => AsLong
    case FloatType => AsFloat
    case StringType => AsString
    case BooleanType => AsFlag
    case ArrayType(LongType, _) => AsLongArray
    case ArrayType(FloatType, _) => AsFloatArray
    case ArrayType(StringType, _) => AsStringArray
    case ArrayType(st: StructType, _)
        if st.fieldNames.sameElements(Array("allele", "phased")) => AsGenotype
    case _ => Unsupported
  }

  /** Whether a VCF text value is the missing value. */
  def isMissing(v: String): Boolean = v.isEmpty || v == "."

  /** A VCF text value into `target`. */
  def fromText(v: String, target: Int): Any =
    if (isMissing(v)) null
    else target match {
      case AsLong => v.toLong
      case AsFloat => v.toFloat
      case AsString => UTF8String.fromString(v)
      case AsFlag => true
      case AsLongArray => ArrayData.toArrayData(v.split(",").map(x =>
        if (isMissing(x)) null else java.lang.Long.valueOf(x.toLong)))
      case AsFloatArray => ArrayData.toArrayData(v.split(",").map(x =>
        if (isMissing(x)) null else java.lang.Float.valueOf(x.toFloat)))
      case AsStringArray =>
        ArrayData.toArrayData(v.split(",").map(UTF8String.fromString))
      case AsGenotype => genotypeFromText(v)
      case _ => throw new IllegalArgumentException(
        s"unsupported variant column type for value '$v'")
    }

  /** A BCF typed value into `target`. */
  def fromTyped(v: Any, target: Int): Any =
    if (target == AsFlag) true
    else if (missing(v)) null
    else target match {
      case AsLong => v match {
        case l: java.lang.Long => l
        case xs: Seq[_] => scalar(xs) match {
          case l: java.lang.Long => l
          case _ => null
        }
        case _ => mismatch(v)
      }
      case AsFloat => v match {
        case f: java.lang.Float => f
        case l: java.lang.Long => l.floatValue()
        case xs: Seq[_] => scalar(xs) match {
          case f: java.lang.Float => f
          case l: java.lang.Long => l.floatValue()
          case _ => null
        }
        case _ => mismatch(v)
      }
      case AsString => UTF8String.fromString(v.toString)
      case AsLongArray => v match {
        case xs: Seq[_] => ArrayData.toArrayData(xs.map {
          case l: java.lang.Long => l
          case _ => null
        }.toArray)
        case l: java.lang.Long => ArrayData.toArrayData(Array(l))
        case _ => mismatch(v)
      }
      case AsFloatArray => v match {
        case xs: Seq[_] => ArrayData.toArrayData(xs.map {
          case f: java.lang.Float => f
          case l: java.lang.Long => java.lang.Float.valueOf(l.floatValue())
          case _ => null
        }.toArray)
        case f: java.lang.Float => ArrayData.toArrayData(Array(f))
        case l: java.lang.Long => ArrayData.toArrayData(Array(l.floatValue()))
        case _ => mismatch(v)
      }
      case AsStringArray => v match {
        case s: String => ArrayData.toArrayData(s.split(",").map(UTF8String.fromString))
        case xs: Seq[_] => ArrayData.toArrayData(xs.map(x =>
          if (x == null) null else UTF8String.fromString(x.toString)).toArray)
        case _ => mismatch(v)
      }
      case AsGenotype => v match {
        case xs: Seq[_] => ArrayData.toArrayData(xs.map(genotypeCode).toArray)
        case l: java.lang.Long => ArrayData.toArrayData(Array(genotypeCode(l)))
        case _ => null
      }
      case _ => mismatch(v)
    }

  private def missing(v: Any): Boolean = v match {
    case null => true
    case s: String => isMissing(s)
    case xs: Seq[_] => xs.isEmpty || xs.lengthCompare(1) == 0 && xs.head == null
    case _ => false
  }

  /** The one value of a vector in a scalar column: it may hold at most
    * one. */
  private def scalar(xs: Seq[_]): Any = {
    require(xs.lengthCompare(1) <= 0,
      s"scalar-typed BCF value carries ${xs.length} elements")
    xs.headOption.orNull
  }

  private def mismatch(v: Any): Nothing = throw new IllegalArgumentException(
    s"BCF value of type ${v.getClass.getSimpleName} does not match the " +
      "header-declared column type")

  private def genotypeCode(code: Any): InternalRow = code match {
    case l: java.lang.Long =>
      val allele = (l.intValue() >> 1) - 1
      new GenericInternalRow(Array[Any](
        if (allele < 0) null else allele, (l.intValue() & 1) == 1))
    case _ => new GenericInternalRow(Array[Any](null, false))
  }

  private def genotypeFromText(v: String): ArrayData = {
    val start = if (v.charAt(0) == '|') 1 else 0
    var n = 1
    var i = start
    while (i < v.length) {
      val ch = v.charAt(i)
      if (ch == '/' || ch == '|') n += 1
      i += 1
    }
    val out = new Array[InternalRow](n)
    var phased = start == 1
    i = start
    var k = 0
    while (k < n) {
      var end = i
      while (end < v.length && v.charAt(end) != '/' && v.charAt(end) != '|')
        end += 1
      val allele: Any =
        if (end == i || end == i + 1 && v.charAt(i) == '.') null
        else Integer.parseInt(v, i, end, 10)
      out(k) = new GenericInternalRow(Array[Any](allele, phased))
      if (end < v.length) phased = v.charAt(end) == '|'
      i = end + 1
      k += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** `##` header lines of VCF text, which is also the header block of a
  * BCF file. */
object VcfHeaderLines {

  /** The attributes of a definition body, `ID=DP,Number=1,Type=Integer,
    * Description="..."`. A comma inside quotes does not split, so a
    * Description with commas cannot mis-key the attributes. */
  def attributes(body: String): Map[String, String] = {
    val out = mutable.Map.empty[String, String]
    var i = 0; val sb = new StringBuilder; var inQuote = false
    val parts = mutable.ArrayBuffer.empty[String]
    while (i < body.length) {
      val ch = body.charAt(i)
      if (ch == '"') { inQuote = !inQuote; sb.append(ch) }
      else if (ch == ',' && !inQuote) { parts += sb.toString; sb.clear() }
      else sb.append(ch)
      i += 1
    }
    if (sb.nonEmpty) parts += sb.toString
    parts.foreach { p =>
      val eq = p.indexOf('=')
      if (eq > 0) out(p.substring(0, eq)) = p.substring(eq + 1)
    }
    out.toMap
  }
}
