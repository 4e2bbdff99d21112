package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.CoordSystem
import graft.formats.{VariantValues, VcfHeaderLines}
import graft.sources.common.LineSourceUtil

/** One `##INFO` or `##FORMAT` definition. */
final case class VcfTypeDef(id: String, number: String, vcfType: String) {

  /** Declared fixed cardinality when Number=n with n > 1 (the
    * reference's FixedSizeList case, `variant/model/info.rs:81-113`).
    * Spark has no fixed-size array type, so the count is carried as
    * field metadata (key `vcf_number`) and enforced by
    * [[VariantModel.enforceNumber]]. Flags, GT and the A/R/G/. symbolic
    * numbers are unconstrained. */
  def fixedCount: Option[Int] =
    if (vcfType == "Flag" || id == "GT") None
    else number.toIntOption.filter(_ > 1)

  def fieldMetadata: Metadata =
    fixedCount.map(n => new MetadataBuilder()
      .putLong("vcf_number", n.toLong).build()).getOrElse(Metadata.empty)

  /** Spark type per the reference mapping (`variant/model/info.rs:81-177`):
    * Number=1 or 0 → scalar, anything else → array; Integer → long,
    * Float → float, String/Character → string, Flag → boolean. GT is
    * special-cased to [[VariantValues.GenotypeType]]
    * (`variant/model/genotype.rs:169-180`). */
  def sparkType: DataType = {
    if (id == "GT") return VariantValues.GenotypeType
    val scalar: DataType = vcfType match {
      case "Integer" => LongType
      case "Float" => FloatType
      case "Flag" => BooleanType
      case _ => StringType // String | Character
    }
    if (vcfType == "Flag") scalar
    else if (number == "1" || number == "0") scalar
    else ArrayType(scalar)
  }
}

final case class VcfHeaderInfo(info: Seq[VcfTypeDef], format: Seq[VcfTypeDef],
    samples: Seq[String])

/** The one variant model behind the VCF text and BCF readers (reference:
  * `oxbow/src/variant/model`). Seven fixed columns, `chrom pos id ref alt
  * qual filter` (`variant/model/field.rs:17-65`; id, alt and filter are
  * string arrays), then an `info` struct typed from the header's
  * `##INFO` definitions, then a `samples` struct from `##FORMAT` and the
  * sample columns: `genotype_by=sample` (the default) nests sample →
  * field, `genotype_by=field` nests field → sample
  * (`variant/model.rs:230-270`).
  *
  * Each reader keeps its own decode and takes from here its schema, the
  * user-schema check, the position shift and a per-partition
  * [[VariantLayout]]; values convert through [[VariantValues]].
  */
object VariantModel {
  val FixedFields: Seq[StructField] = Seq(
    StructField("chrom", StringType), StructField("pos", LongType),
    StructField("id", ArrayType(StringType)), StructField("ref", StringType),
    StructField("alt", ArrayType(StringType)),
    StructField("qual", FloatType),
    StructField("filter", ArrayType(StringType)))

  private val DefRe = """##(INFO|FORMAT)=<(.+)>""".r

  /** The header model of the `##` and `#CHROM` lines: VCF text's file
    * head, or a BCF file's header block. */
  def header(lines: Iterator[String]): VcfHeaderInfo = {
    val info = mutable.ArrayBuffer.empty[VcfTypeDef]
    val format = mutable.ArrayBuffer.empty[VcfTypeDef]
    var samples: Seq[String] = Nil
    lines.foreach {
      case DefRe(kind, body) =>
        val attrs = VcfHeaderLines.attributes(body)
        val d = VcfTypeDef(attrs.getOrElse("ID", ""),
          attrs.getOrElse("Number", "."), attrs.getOrElse("Type", "String"))
        if (d.id.nonEmpty) {
          if (kind == "INFO") info += d else format += d
        }
      case l if l.startsWith("#CHROM") =>
        val cols = l.split("\t")
        if (cols.length > 9) samples = cols.drop(9).toSeq
      case _ => ()
    }
    VcfHeaderInfo(info.toSeq, format.toSeq, samples)
  }

  /** The table schema of `paths`, from the first file's header. The
    * sample columns come from that one header but apply to every file, so
    * with samples included every other file's sample list must equal it:
    * a different sample order would silently hand one sample's genotypes
    * to another. A sites-only first file is no exception (its [] differs
    * from [A,B]). FORMAT may differ between files (each row's FORMAT
    * column drives its parse), and INFO types that differ fail at parse
    * time. */
  def schema(paths: Seq[Path], options: Map[String, String])(
      readHeader: Path => VcfHeaderInfo): StructType = {
    val header = readHeader(paths.head)
    if (paths.length > 1 && options.getOrElse("include_samples", "true").toBoolean)
      paths.tail.foreach { p =>
        val other = readHeader(p).samples
        require(other == header.samples,
          s"sample columns of $p (${other.mkString(",")}) differ from " +
            s"${paths.head} (${header.samples.mkString(",")}); load " +
            "files with differing sample headers separately")
      }
    buildSchema(header, options)
  }

  /** Options `info_fields` and `samples` (comma lists) keep a subset;
    * `include_samples=false` drops the samples struct. Each kept sample
    * field carries its position in the full header sample list as
    * metadata (`vcf_sample_idx`): with a subset, schema position j is not
    * header sample j. */
  private def buildSchema(header: VcfHeaderInfo,
      options: Map[String, String]): StructType = {
    def subset(key: String) = options.get(key).map(_.split(",").map(_.trim).toSet)
    val infoSubset = subset("info_fields")
    val infoDefs = header.info.filter(d => infoSubset.forall(_.contains(d.id)))
    val infoField =
      if (infoDefs.isEmpty) None
      else Some(StructField("info", StructType(infoDefs.map(d =>
        StructField(d.id, d.sparkType, metadata = d.fieldMetadata)))))

    val sampleSubset = subset("samples")
    val samples = header.samples.filter(s => sampleSubset.forall(_.contains(s)))
    val samplesField =
      if (!options.getOrElse("include_samples", "true").toBoolean ||
          samples.isEmpty || header.format.isEmpty) None
      else {
        def sampleMeta(s: String, base: Metadata): Metadata =
          new MetadataBuilder().withMetadata(base)
            .putLong("vcf_sample_idx", header.samples.indexOf(s).toLong)
            .build()
        val fieldStruct = StructType(header.format.map(d =>
          StructField(d.id, d.sparkType, metadata = d.fieldMetadata)))
        val st =
          if (options.getOrElse("genotype_by", "sample") == "field")
            StructType(header.format.map(d => StructField(d.id,
              StructType(samples.map(s => StructField(s, d.sparkType,
                metadata = sampleMeta(s, d.fieldMetadata)))))))
          else
            StructType(samples.map(s =>
              StructField(s, fieldStruct, metadata = sampleMeta(s, Metadata.empty))))
        Some(StructField("samples", st))
      }
    StructType(FixedFields ++ infoField ++ samplesField)
  }

  /** A user-supplied schema lets a caller skip inference (a catalog
    * schema, say), not reorder or subset columns: the readers write the
    * fixed columns by position, so a reordered schema would misalign every
    * value. The layout is the seven [[FixedFields]], then an optional
    * `info` struct, then an optional `samples` struct of structs.
    * Rejected loudly; projection belongs in select(). */
  def requireLayout(schema: StructType, format: String): Unit = {
    val (fixed, rest) = schema.fields.toSeq.splitAt(FixedFields.length)
    def struct(f: StructField) = f.dataType.isInstanceOf[StructType]
    val restOk = rest.map(_.name) match {
      case Seq() | Seq("info") => rest.forall(struct)
      case Seq("samples") | Seq("info", "samples") => rest.forall(struct) &&
        rest.last.dataType.asInstanceOf[StructType].forall(struct)
      case _ => false
    }
    require(restOk && fixed.map(f => (f.name, f.dataType)) ==
        FixedFields.map(f => (f.name, f.dataType)),
      s"user-supplied $format schema must match the source layout " +
        s"(${FixedFields.map(_.name).mkString(",")}[, info][, samples]); " +
        s"got ${schema.fieldNames.mkString(",")} — project with select() " +
        "instead of a reordered/subset schema")
  }

  /** Shift from 1-based `pos` for the `coords` option: 0 for "11" (the
    * default), -1 for "01". */
  def posShift(options: Map[String, String]): Long =
    -1L - CoordSystem.fromCode(options.getOrElse("coords", "11")).startOffset

  /** The declared Number=n of a field (its `vcf_number` metadata), or -1
    * when unconstrained. */
  private[sources] def maxCount(f: StructField): Int =
    if (f.metadata.contains("vcf_number")) f.metadata.getLong("vcf_number").toInt
    else -1

  /** The Number rule (the reference's FixedSizeList semantics,
    * `variant/model/info.rs:81-113`): a value longer than the declared
    * `max` (>= 0) is malformed, so FAILFAST raises and PERMISSIVE skips
    * the record. Shorter is legal: trailing missing values may be omitted
    * in text, and BCF pads with END_OF_VECTOR. */
  def enforceNumber(value: Any, max: Int, field: String, format: String): Any = {
    if (max >= 0) value match {
      case a: ArrayData if a.numElements() > max =>
        throw new IllegalArgumentException(
          s"$format field $field declares Number=$max but the record " +
            s"carries ${a.numElements()} values")
      case _ => ()
    }
    value
  }
}

/** The cells of one entry of the `samples` struct that a partition reads:
  * a sample (its FORMAT fields), or with `genotype_by=field` a FORMAT
  * field (its samples). Cell k fills `slots(k)` of the entry's struct of
  * `width` with FORMAT key `keys(k)` (an index into
  * [[VariantLayout.formatKeys]]) of header sample `samples(k)`,
  * converted into `targets(k)` and checked against Number `counts(k)`. */
final class GenotypeCells(val width: Int, val slots: Array[Int],
    val samples: Array[Int], val keys: Array[Int], val targets: Array[Int],
    val counts: Array[Int]) extends Serializable

/** One partition's row layout, resolved once from the full schema, the
  * nested-pruned columns the partition fills (`needed`) and
  * `genotype_by`. Rows always have the full schema's shape; a slot the
  * partition does not fill stays null. Both layouts prune per sample and
  * per FORMAT field, so `samples.s1.GT` out of a 1000-sample file reads
  * one cell per row. `format` names the reader in error messages. */
final class VariantLayout(fullSchema: StructType, needed: StructType,
    byField: Boolean, format: String) extends Serializable {

  val width: Int = fullSchema.length

  /** Per fixed column, in [[VariantModel.FixedFields]] order: is it read? */
  val fixed: Array[Boolean] = {
    val top = needed.fieldNames.toSet
    VariantModel.FixedFields.map(f => top(f.name)).toArray
  }

  private def struct(name: String): StructType =
    fullSchema.find(_.name == name).map(_.dataType.asInstanceOf[StructType])
      .orNull

  private val infoSchema = struct("info")
  private val infoNeed = LineSourceUtil.nestedStruct(needed, "info")

  /** The row slot of `info`, or -1 when the partition reads no info. */
  val infoSlot: Int =
    if (infoSchema == null || infoNeed.isEmpty) -1 else fullSchema.fieldIndex("info")
  val infoWidth: Int = if (infoSchema == null) 0 else infoSchema.length
  /** INFO key → slot in the info struct, for the keys read. */
  val infoIndex: Map[String, Int] =
    if (infoSlot < 0) Map.empty
    else {
      val keep = infoNeed.get.fieldNames.toSet
      infoSchema.fieldNames.zipWithIndex.filter(kv => keep(kv._1)).toMap
    }
  /** Per info slot: the [[VariantValues]] target. */
  val infoTargets: Array[Int] =
    if (infoSchema == null) Array.empty
    else infoSchema.fields.map(f => VariantValues.target(f.dataType))
  private val infoCounts: Array[Int] =
    if (infoSchema == null) Array.empty else infoSchema.fields.map(VariantModel.maxCount)

  /** `value` for info slot `slot`, checked against its Number. */
  def info(slot: Int, value: Any): Any =
    VariantModel.enforceNumber(value, infoCounts(slot), infoSchema(slot).name, format)

  private val samplesSchema = struct("samples")
  private val samplesNeed = LineSourceUtil.nestedStruct(needed, "samples")

  /** The row slot of `samples`, or -1 when the partition reads none. */
  val samplesSlot: Int =
    if (samplesSchema == null || samplesNeed.isEmpty) -1
    else fullSchema.fieldIndex("samples")

  private val keyIndex = mutable.LinkedHashMap.empty[String, Int]

  /** Per entry of the samples struct: its cells, or null when not read. */
  val genotypes: Array[GenotypeCells] =
    if (samplesSlot < 0) Array.empty
    else {
      val need = samplesNeed.get.fields.map(f =>
        f.name -> f.dataType.asInstanceOf[StructType].fieldNames.toSet).toMap
      // a field's header sample column: its `vcf_sample_idx`, or its
      // position in a user-supplied schema that carries none
      def sampleOf(f: StructField, pos: Int): Int =
        if (f.metadata.contains("vcf_sample_idx"))
          f.metadata.getLong("vcf_sample_idx").toInt
        else pos
      samplesSchema.fields.zipWithIndex.map { case (outer, o) =>
        need.get(outer.name).map { keep =>
          val inner = outer.dataType.asInstanceOf[StructType]
          val cells = inner.fields.zipWithIndex.filter(c => keep(c._1.name))
          new GenotypeCells(inner.length, cells.map(_._2),
            cells.map { case (f, i) =>
              if (byField) sampleOf(f, i) else sampleOf(outer, o) },
            cells.map { case (f, _) =>
              keyIndex.getOrElseUpdate(if (byField) outer.name else f.name,
                keyIndex.size) },
            cells.map(c => VariantValues.target(c._1.dataType)),
            cells.map(c => VariantModel.maxCount(c._1)))
        }.orNull
      }
    }

  /** The FORMAT keys the partition reads; cells refer to them by index. */
  val formatKeys: Array[String] = keyIndex.keys.toArray

  /** One past the largest header sample index any cell reads. */
  val sampleCount: Int =
    genotypes.iterator.filter(_ != null).flatMap(_.samples).maxOption.fold(0)(_ + 1)

  /** The samples struct of one record. `cell(key, sample, target)` is the
    * record's value of FORMAT key `key` for header sample `sample`
    * converted into `target`, or null when the record has none. */
  def samplesRow(cells: VariantLayout.Cells): GenericInternalRow = {
    val out = new Array[Any](genotypes.length)
    var o = 0
    while (o < genotypes.length) {
      val g = genotypes(o)
      if (g != null) {
        val inner = new Array[Any](g.width)
        var k = 0
        while (k < g.slots.length) {
          val key = g.keys(k)
          val v = cells.cell(key, g.samples(k), g.targets(k))
          if (v != null) inner(g.slots(k)) =
            VariantModel.enforceNumber(v, g.counts(k), formatKeys(key), format)
          k += 1
        }
        out(o) = new GenericInternalRow(inner)
      }
      o += 1
    }
    new GenericInternalRow(out)
  }
}

object VariantLayout {
  /** A reader's view of the record it is building. */
  trait Cells {
    def cell(key: Int, sample: Int, target: Int): Any
  }
}
