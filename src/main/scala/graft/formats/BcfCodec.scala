package graft.formats

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

/** BCF2 binary record codec, implemented from the published BCF2
  * specification (VCFv4.x spec §6): header string dictionaries, typed
  * values, and the shared/indiv record layout. The reference reads BCF
  * through noodles (`/root/reference/oxbow/src/variant/scanner/bcf.rs`);
  * here only the observable row shape matches.
  */
object BcfCodec {

  /** Typed-value descriptor types. */
  final val TypeInt8 = 1
  final val TypeInt16 = 2
  final val TypeInt32 = 3
  final val TypeFloat = 5
  final val TypeChar = 7

  final val MissingInt8 = 0x80.toByte.toInt // -128
  final val MissingInt16 = 0x8000.toShort.toInt
  final val MissingInt32 = 0x80000000
  final val EovInt8 = 0x81.toByte.toInt
  final val EovInt16 = 0x8001.toShort.toInt
  final val EovInt32 = 0x80000001
  final val MissingFloatBits = 0x7f800001
  final val EovFloatBits = 0x7f800002

  /** The shared FILTER/INFO/FORMAT string dictionary and the contig
    * dictionary, built from the VCF header text per the BCF2 implicit
    * ordering rule (PASS = 0, then IDs in order of first appearance;
    * explicit IDX= overrides). */
  final case class Dictionaries(strings: IndexedSeq[String],
      contigs: IndexedSeq[String])

  private val HeaderLine = """##(FILTER|INFO|FORMAT|contig)=<(.+)>""".r

  def dictionaries(headerText: String): Dictionaries = {
    // collect declarations first: the implicit-vs-explicit numbering
    // decision needs the whole header (BCF2 §6.2.1 — IDX= is
    // all-or-none; when present it REnumbers the dictionary, including
    // PASS, so pre-seeding PASS -> 0 unconditionally would ignore an
    // explicit ##FILTER=<ID=PASS,...,IDX=3>)
    val stringDecls = mutable.ArrayBuffer.empty[(String, Option[Int])]
    val contigDecls = mutable.ArrayBuffer.empty[(String, Option[Int])]
    headerText.linesIterator.foreach {
      case HeaderLine(kind, body) =>
        // quote-aware: a comma inside Description must not create a
        // phantom attribute (which could shift implicit IDX numbering)
        val attrs = VcfHeaderLines.attributes(body)
        attrs.get("ID").foreach { id =>
          val idx = attrs.get("IDX").flatMap(_.toIntOption)
          if (kind == "contig") contigDecls += (id -> idx)
          else stringDecls += (id -> idx)
        }
      case _ => ()
    }
    val strings = mutable.LinkedHashMap.empty[String, Int]
    // implicit mode only: PASS is slot 0 whether or not it is declared
    if (!stringDecls.exists(_._2.isDefined)) strings("PASS") = 0
    stringDecls.foreach { case (id, idx) =>
      strings.getOrElseUpdate(id, idx.getOrElse(strings.size))
    }
    val contigs = mutable.LinkedHashMap.empty[String, Int]
    contigDecls.foreach { case (id, idx) =>
      contigs.getOrElseUpdate(id, idx.getOrElse(contigs.size))
    }
    def toSeq(m: mutable.LinkedHashMap[String, Int]): IndexedSeq[String] = {
      val size = if (m.isEmpty) 0 else m.values.max + 1
      val arr = new Array[String](size)
      m.foreach { case (k, v) => arr(v) = k }
      arr.toIndexedSeq
    }
    Dictionaries(toSeq(strings), toSeq(contigs))
  }

  /** One decoded typed value: Long/Float/String scalars, or Seq thereof;
    * null for missing. */
  def readTypedValue(bb: ByteBuffer): Any = {
    val desc = bb.get() & 0xff
    val tpe = desc & 0xf
    var len = desc >>> 4
    if (len == 15) {
      readTypedValue(bb) match {
        case l: Long => len = l.toInt
        case other => throw new IllegalStateException(s"bad length $other")
      }
    }
    readTypedBody(bb, tpe, len)
  }

  /** Advance past one full typed value (descriptor included) without
    * materializing it. Mirrors [[readTypedValue]]'s descriptor handling
    * exactly — including THROWING on a malformed long-vector length —
    * so the skip path can never silently desynchronize where the read
    * path would error. */
  def skipTypedValue(bb: ByteBuffer): Unit = {
    val desc = bb.get() & 0xff
    val tpe = desc & 0xf
    var len = desc >>> 4
    if (len == 15) {
      readTypedValue(bb) match {
        case l: Long => len = l.toInt
        case other => throw new IllegalStateException(s"bad length $other")
      }
    }
    skipTypedBody(bb, tpe, len)
  }

  /** Advance past one typed value (descriptor already consumed) without
    * materializing it — nested pruning walks un-requested INFO/FORMAT
    * entries by size only. */
  def skipTypedBody(bb: ByteBuffer, tpe: Int, len: Int): Unit = tpe match {
    case 0 => ()
    case TypeChar | TypeInt8 => bb.position(bb.position() + len)
    case TypeInt16 => bb.position(bb.position() + 2 * len)
    case TypeInt32 | TypeFloat => bb.position(bb.position() + 4 * len)
    case other =>
      throw new IllegalArgumentException(s"unknown BCF type $other")
  }

  def readTypedBody(bb: ByteBuffer, tpe: Int, len: Int): Any = tpe match {
    case 0 => null // MISSING type (flag values)
    case TypeChar =>
      val b = new Array[Byte](len)
      bb.get(b)
      // a char value ends at its first NUL: per-sample FORMAT strings
      // are NUL-padded to the longest sample's length
      var n = 0
      while (n < len && b(n) != 0) n += 1
      new String(b, 0, n, "UTF-8")
    case TypeFloat =>
      val bits = (0 until len).map(_ => bb.getInt)
      val vals: Seq[Any] = bits.takeWhile(_ != EovFloatBits).map(b =>
        if (b == MissingFloatBits) null
        else java.lang.Float.valueOf(java.lang.Float.intBitsToFloat(b)))
      if (len == 1) vals.headOption.orNull else vals
    case TypeInt8 | TypeInt16 | TypeInt32 =>
      val raw = (0 until len).map { _ =>
        tpe match {
          case TypeInt8 => bb.get().toInt
          case TypeInt16 => bb.getShort.toInt
          case TypeInt32 => bb.getInt
        }
      }
      val (missing, eov) = tpe match {
        case TypeInt8 => (MissingInt8, EovInt8)
        case TypeInt16 => (MissingInt16, EovInt16)
        case TypeInt32 => (MissingInt32, EovInt32)
      }
      val vals: Seq[Any] = raw.takeWhile(_ != eov).map(v =>
        if (v == missing) null else java.lang.Long.valueOf(v.toLong))
      if (len == 1) vals.headOption.orNull else vals
    case other =>
      throw new IllegalArgumentException(s"unknown BCF type $other")
  }

  /** Raw per-site decoded record. FORMAT values are per-field vectors of
    * per-sample values. */
  final case class BcfRecord(
      contigId: Int, pos0: Long, rlen: Long, qual: Option[Float],
      ids: Seq[String], ref: String, alts: Seq[String],
      filters: Seq[Int],
      info: Seq[(Int, Any)],
      formats: Seq[(Int, IndexedSeq[Any])],
      nSample: Int)

  /** Read one record from a little-endian stream; None at EOF. */
  /** `wantInfo`/`wantFormats` = false skips decoding the INFO typed
    * values / the entire per-sample block (the projection-aware reader
    * passes the pruned requirement; the site fields and rlen are always
    * decoded, so region residual checks never depend on the flags). */
  def readRecord(le: BamCodec.LEInput, wantInfo: Boolean = true,
      wantFormats: Boolean = true,
      wantInfoKey: Int => Boolean = _ => true,
      wantFmtKey: Int => Boolean = _ => true): Option[BcfRecord] = {
    val lShared = le.tryReadInt().getOrElse(return None)
    val lIndiv = le.readInt()
    val shared = ByteBuffer.wrap(le.readBytes(lShared))
      .order(ByteOrder.LITTLE_ENDIAN)
    val indiv =
      if (wantFormats) ByteBuffer.wrap(le.readBytes(lIndiv))
        .order(ByteOrder.LITTLE_ENDIAN)
      else { le.readBytes(lIndiv); null } // consume, skip decode

    val contigId = shared.getInt
    val pos0 = shared.getInt.toLong
    val rlen = shared.getInt.toLong
    val qualBits = shared.getInt
    val qual =
      if (qualBits == MissingFloatBits) None
      else Some(java.lang.Float.intBitsToFloat(qualBits))
    val nAlleleInfo = shared.getInt
    val nInfo = nAlleleInfo & 0xffff
    val nAllele = nAlleleInfo >>> 16
    val nFmtSample = shared.getInt
    val nSample = nFmtSample & 0xffffff
    val nFmt = nFmtSample >>> 24

    val idStr = readTypedValue(shared) match {
      case s: String => s
      case _ => ""
    }
    val ids = if (idStr.isEmpty || idStr == ".") Nil
      else idStr.split(";").toSeq
    val alleles = (0 until nAllele).map(_ => readTypedValue(shared) match {
      case s: String => s
      case _ => ""
    })
    val filters = readTypedValue(shared) match {
      case null => Nil
      case l: Long => Seq(l.toInt)
      case xs: Seq[_] => xs.collect { case l: Long => l.toInt }
      case _ => Nil
    }
    val info = if (!wantInfo) Nil else (0 until nInfo).flatMap { _ =>
      val key = readTypedValue(shared) match {
        case l: Long => l.toInt
        case other => throw new IllegalStateException(s"bad info key $other")
      }
      if (wantInfoKey(key)) Some(key -> readTypedValue(shared))
      else {
        // un-requested key: advance by size, never box the value
        skipTypedValue(shared)
        None
      }
    }

    val formats = if (!wantFormats) Nil else (0 until nFmt).flatMap { _ =>
      val key = readTypedValue(indiv) match {
        case l: Long => l.toInt
        case other => throw new IllegalStateException(s"bad fmt key $other")
      }
      val desc = indiv.get() & 0xff
      val tpe = desc & 0xf
      var perLen = desc >>> 4
      if (perLen == 15) {
        perLen = readTypedValue(indiv) match {
          case l: Long => l.toInt
          case other => // silent 0 would desync every later field
            throw new IllegalStateException(s"bad fmt length $other")
        }
      }
      if (!wantFmtKey(key)) {
        // un-requested FORMAT field: one sized skip over all samples
        skipTypedBody(indiv, tpe, perLen * nSample)
        None
      } else {
      val values = (0 until nSample).map(_ =>
        readTypedBody(indiv, tpe, perLen)).toIndexedSeq
      Some(key -> values)
      }
    }

    Some(BcfRecord(contigId, pos0, rlen, qual.map(_.floatValue()),
      ids, alleles.headOption.getOrElse(""),
      alleles.drop(1), filters, info, formats, nSample))
  }
}
