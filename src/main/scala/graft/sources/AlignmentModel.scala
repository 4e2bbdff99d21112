package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.types._

import graft.core.CoordSystem
import graft.formats.TagSlots
import graft.sources.common.LineSourceUtil

/** The one alignment model behind the SAM, BAM and CRAM readers
  * (reference: `oxbow/src/alignment/model`). Twelve fixed columns, `qname
  * flag rname pos mapq cigar rnext pnext tlen seq qual end` (field set
  * `alignment/model/field.rs:17-76`; `end` is the computed alignment end,
  * pos + CIGAR reference length − 1, 1-based closed), plus an optional
  * `tags` struct. Each reader keeps its own decode and takes its schema,
  * tag typing, tag slots and position shift from here; tag values convert
  * through [[graft.formats.TagValues]].
  *
  * Tag types follow the reference grid (`tag.rs:124-165`): A/Z/H →
  * string, c/C/s/S/i/I → long, f → float, B:* → array of long or float.
  * Internal codes: 'L' = B integer array, 'G' = B float array.
  */
object AlignmentModel {
  val FixedFields: Seq[StructField] = Seq(
    StructField("qname", StringType), StructField("flag", IntegerType),
    StructField("rname", StringType), StructField("pos", LongType),
    StructField("mapq", IntegerType), StructField("cigar", StringType),
    StructField("rnext", StringType), StructField("pnext", LongType),
    StructField("tlen", IntegerType), StructField("seq", StringType),
    StructField("qual", StringType), StructField("end", LongType))

  /** The table schema: the fixed columns, plus the `tags` struct that the
    * `tags` option declares ("NM:i,MD:Z") or that `discover(n)` samples
    * with n = `tag_scan_rows` (default `defaultScanRows`; 0 drops the
    * column). */
  def schema(options: Map[String, String], defaultScanRows: Int)(
      discover: Int => Seq[(String, Char)]): StructType = {
    val tagDefs = options.get("tags") match {
      case Some(spec) => parseTagSpec(spec)
      case None =>
        val n = options.get("tag_scan_rows").map(_.toInt)
          .getOrElse(defaultScanRows)
        if (n == 0) Nil else discover(n)
    }
    if (tagDefs.isEmpty) StructType(FixedFields)
    else StructType(FixedFields :+ StructField("tags",
      StructType(tagDefs.map { case (name, c) =>
        StructField(name, sparkType(c))
      })))
  }

  /** Tag types seen while sampling, in first-appearance order. A tag seen
    * with two Spark types sinks to string ('Z'), like the reference's
    * conflict rule. */
  final class TagTypes {
    private val seen = mutable.LinkedHashMap.empty[String, Char]

    def add(tag: String, code: Char): Unit = seen.get(tag) match {
      case Some(prev) if sparkType(prev) != sparkType(code) => seen(tag) = 'Z'
      case Some(_) => ()
      case None => seen(tag) = code
    }

    def result: Seq[(String, Char)] = seen.toSeq
  }

  /** A user-supplied schema lets a caller skip inference (a catalog
    * schema, say), not reorder or subset columns: the readers emit rows
    * in [[FixedFields]] order, so a reordered schema would misalign every
    * value ('rname' reading qname bytes). Rejected loudly; projection
    * belongs in select(). */
  def requireLayout(schema: StructType, format: String): Unit = {
    val core =
      if (schema.fieldNames.lastOption.contains("tags")) schema.fields.init
      else schema.fields
    require(core.map(f => (f.name, f.dataType)).toSeq ==
        FixedFields.map(f => (f.name, f.dataType)),
      s"user-supplied $format schema must match the source layout " +
        s"(${FixedFields.map(_.name).mkString(",")}[, tags]); got " +
        s"${schema.fieldNames.mkString(",")} — project with select() " +
        "instead of a reordered/subset schema")
  }

  /** Shift from 1-based `pos`/`pnext` for the `coords` option: 0 for "11"
    * (the default), -1 for "01". `end` never shifts: a 1-based closed end
    * equals the 0-based half-open end. */
  def posShift(options: Map[String, String]): Long =
    -1L - CoordSystem.fromCode(options.getOrElse("coords", "11")).startOffset

  /** The `tags` struct of a full alignment schema, if it has one. */
  def tagSchema(fullSchema: StructType): Option[StructType] =
    fullSchema.fields.find(_.name == "tags")
      .map(_.dataType.asInstanceOf[StructType])

  /** The tag slots a reader fills for the `needed` schema: None when it
    * reads no tags, else only the tags `needed` names (nested pruning). */
  def tagSlots(fullSchema: StructType, needed: StructType): Option[TagSlots] =
    for {
      ts <- tagSchema(fullSchema)
      want <- LineSourceUtil.nestedStruct(needed, "tags")
    } yield {
      val keep = want.fieldNames.toSet
      new TagSlots(ts, ts.fieldNames.zipWithIndex.filter(kv => keep(kv._1)).toMap)
    }

  /** Parse a `tags` option: comma list of `NAME:code`, plus the spec-style
    * array form `NAME:B:sub` (→ 'L' or 'G', the codes discovery produces).
    * A bare `NAME:B` is ambiguous and rejected with a usable message
    * instead of a MatchError. */
  def parseTagSpec(spec: String): Seq[(String, Char)] =
    spec.split(",").toSeq.filter(_.nonEmpty).map { td =>
      td.trim.split(":") match {
        case Array(name, "B", sub)
            if Set("c", "C", "s", "S", "i", "I", "f").contains(sub) =>
          (name, if (sub == "f") 'G' else 'L')
        case Array(name, code) if code.nonEmpty && code != "B" =>
          (name, code.head)
        case _ => throw new IllegalArgumentException(
          s"cannot parse tag declaration '$td' " +
            "(use NAME:code or NAME:B:sub with sub in c,C,s,S,i,I,f)")
      }
    }

  /** Tag type code → Spark type. A bare 'B' (CRAM's tag dictionary names
    * no array subtype) reads as an integer array. */
  def sparkType(code: Char): DataType = code match {
    case 'A' | 'Z' | 'H' => StringType
    case 'c' | 'C' | 's' | 'S' | 'i' | 'I' => LongType
    case 'f' => FloatType
    case 'L' | 'B' => ArrayType(LongType)
    case 'G' => ArrayType(FloatType)
    case other =>
      throw new IllegalArgumentException(s"unknown SAM tag type '$other'")
  }

  /** Reference bases consumed by a CIGAR string; -1 when unavailable. */
  def cigarRefLen(cigar: String): Long = {
    if (cigar == "*" || cigar.isEmpty) return -1L
    var total = 0L; var n = 0L; var i = 0
    while (i < cigar.length) {
      val ch = cigar.charAt(i)
      if (ch >= '0' && ch <= '9') n = n * 10 + (ch - '0')
      else {
        ch match {
          case 'M' | 'D' | 'N' | '=' | 'X' => total += n
          case _ => ()
        }
        n = 0
      }
      i += 1
    }
    total
  }
}
