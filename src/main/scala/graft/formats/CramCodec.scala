package graft.formats

import java.io.{ByteArrayInputStream, EOFException, InputStream}
import java.util.zip.GZIPInputStream

import scala.collection.mutable

/** CRAM 3.0 container/slice/record codec (SURVEY §2.1 S7), implemented
  * from the published CRAM specification (samtools/hts-specs). The
  * reference reaches the same behavior through noodles
  * (`/root/reference/oxbow/src/alignment/scanner/cram.rs:42-120`); this
  * is an independent JVM implementation of the subset needed for
  * reference-based scans:
  *
  *  - file definition, container headers, blocks (raw, gzip and
  *    rANS 4x8 methods — see [[RansCodec]])
  *  - compression header: preservation map (RN/AP/RR/SM/TD), data-series
  *    and tag encoding maps
  *  - codecs: EXTERNAL, HUFFMAN (canonical, incl. the common 0-bit
  *    single-symbol case), BETA, BYTE_ARRAY_LEN, BYTE_ARRAY_STOP
  *  - record decode with read features (B X I S D i N P H b q) and
  *    reference-based sequence reconstruction via the substitution
  *    matrix; detached mate info; CRAI index parsing for region queries
  *
  * Block methods — the full CRAM 3.0 + 3.1 set: raw, gzip, bzip2
  * (commons-compress), lzma (xz-java — both the .xz container htslib
  * writes and the bare .lzma "alone" format), rans4x8, and the CRAM 3.1
  * codecs ransNx16 ([[RansNx16Codec]]), adaptive arithmetic
  * ([[ArithCodec]]), fqzcomp ([[FqzCodec]]) and the name tokeniser
  * ([[NameTokCodec]]).
  */
object CramCodec {

  // ------------------------------------------------------------- varints

  def readItf8(in: InputStream): Int = {
    val b0 = read1(in)
    if ((b0 & 0x80) == 0) b0
    else if ((b0 & 0x40) == 0) ((b0 & 0x7f) << 8) | read1(in)
    else if ((b0 & 0x20) == 0)
      ((b0 & 0x3f) << 16) | (read1(in) << 8) | read1(in)
    else if ((b0 & 0x10) == 0)
      ((b0 & 0x1f) << 24) | (read1(in) << 16) | (read1(in) << 8) | read1(in)
    else
      ((b0 & 0x0f) << 28) | (read1(in) << 20) | (read1(in) << 12) |
        (read1(in) << 4) | (read1(in) & 0x0f)
  }

  def writeItf8(out: java.io.OutputStream, value: Int): Unit = {
    val v = value & 0xffffffffL
    if (v < (1 << 7)) out.write(v.toInt)
    else if (v < (1 << 14)) {
      out.write((0x80 | (v >> 8)).toInt); out.write((v & 0xff).toInt)
    } else if (v < (1 << 21)) {
      out.write((0xc0 | (v >> 16)).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    } else if (v < (1 << 28)) {
      out.write((0xe0 | (v >> 24)).toInt)
      out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    } else {
      out.write((0xf0 | (v >> 28)).toInt)
      out.write(((v >> 20) & 0xff).toInt)
      out.write(((v >> 12) & 0xff).toInt)
      out.write(((v >> 4) & 0xff).toInt); out.write((v & 0x0f).toInt)
    }
  }

  def readLtf8(in: InputStream): Long = {
    val b0 = read1(in)
    var extra = 0
    var mask = 0x80
    while (extra < 8 && (b0 & mask) != 0) { extra += 1; mask >>= 1 }
    var value: Long =
      if (extra == 8) 0L else (b0 & ((1 << (7 - extra)) - 1)).toLong
    var i = 0
    while (i < extra) { value = (value << 8) | read1(in); i += 1 }
    value
  }

  def writeLtf8(out: java.io.OutputStream, value: Long): Unit = {
    // count bytes needed for the unsigned representation
    var extra = 0
    while (extra < 8 &&
        (value >>> (7 - extra + 8 * extra)) != 0) extra += 1
    if (extra == 8) {
      out.write(0xff)
      var i = 7
      while (i >= 0) { out.write(((value >>> (8 * i)) & 0xff).toInt); i -= 1 }
    } else {
      val prefix = (0xff << (8 - extra)) & 0xff
      out.write(prefix | ((value >>> (8 * extra)) & ((1 << (7 - extra)) - 1)).toInt)
      var i = extra - 1
      while (i >= 0) { out.write(((value >>> (8 * i)) & 0xff).toInt); i -= 1 }
    }
  }

  private def read1(in: InputStream): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException("unexpected CRAM EOF")
    b
  }

  def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var done = 0
    while (done < n) {
      val got = in.read(buf, done, n - done)
      if (got < 0) throw new EOFException("unexpected CRAM EOF")
      done += got
    }
    buf
  }

  private def readIntLE(in: InputStream): Int =
    read1(in) | (read1(in) << 8) | (read1(in) << 16) | (read1(in) << 24)

  // ------------------------------------------------------------ structure

  /** "CRAM" + major.minor + 20-byte file id. */
  final case class FileDefinition(major: Int, minor: Int, fileId: Array[Byte])

  def readFileDefinition(in: InputStream): FileDefinition = {
    val magic = readFully(in, 4)
    require(magic.sameElements("CRAM".getBytes("ASCII")), "not a CRAM file")
    FileDefinition(read1(in), read1(in), readFully(in, 20))
  }

  final case class ContainerHeader(length: Int, refSeqId: Int, startPos: Int,
      span: Int, nRecords: Int, recordCounter: Long, bases: Long,
      nBlocks: Int, landmarks: Seq[Int]) {
    def isEof: Boolean = refSeqId == -1 && nRecords == 0 && nBlocks == 1 &&
      startPos == 4542278 // the spec's EOF sentinel container
  }

  def readContainerHeader(in: InputStream): ContainerHeader = {
    // CRC32 of the header bytes preceding the CRC field (spec §6);
    // checksum as read so non-minimal ITF8 encodings still validate
    val crc = new java.util.zip.CRC32
    val cin = new java.util.zip.CheckedInputStream(in, crc)
    val length = readIntLE(cin)
    val refSeqId = readItf8(cin)
    val startPos = readItf8(cin)
    val span = readItf8(cin)
    val nRecords = readItf8(cin)
    val recordCounter = readLtf8(cin)
    val bases = readLtf8(cin)
    val nBlocks = readItf8(cin)
    val nLandmarks = readItf8(cin)
    val landmarks = (0 until nLandmarks).map(_ => readItf8(cin))
    val stored = readIntLE(in)
    require(crc.getValue.toInt == stored,
      f"CRAM container header CRC mismatch: stored 0x$stored%08x, " +
        f"computed 0x${crc.getValue.toInt}%08x")
    ContainerHeader(length, refSeqId, startPos, span, nRecords, recordCounter,
      bases, nBlocks, landmarks)
  }

  /** content types: 0 file header, 1 compression header, 2 slice header,
    * 4 external, 5 core. */
  final case class Block(method: Int, contentType: Int, contentId: Int,
      data: Array[Byte])

  def readBlock(in: InputStream): Block = readBlock(in, _ => false)

  /** `skipExternal(contentId)` = true skips DECOMPRESSION of that
    * external data block (the payload bytes are still consumed from the
    * stream) and returns it with `data = null` — the projection-aware
    * reader uses this to avoid paying rANS/fqzcomp decode for blocks
    * (quality scores, read names) no projected column consumes. */
  def readBlock(in: InputStream, skipExternal: Int => Boolean): Block = {
    // the block CRC32 covers everything from the method byte through the
    // payload (spec §8); checksum the bytes as read — htslib validates
    // this, and so must we, or storage corruption inside a compressed
    // payload decodes as silently wrong records
    val crc = new java.util.zip.CRC32
    val cin = new java.util.zip.CheckedInputStream(in, crc)
    val method = read1(cin)
    val contentType = read1(cin)
    val contentId = readItf8(cin)
    val compressedSize = readItf8(cin)
    val rawSize = readItf8(cin)
    val payload = readFully(cin, compressedSize)
    val stored = readIntLE(in) // CRC field itself is not covered
    // projection-skipped blocks are consumed but NOT validated: a query
    // that never reads qualities must not fail on a corrupt quality
    // block — only bytes that contribute to results get the check
    if (contentType == 4 && skipExternal(contentId)) {
      return Block(method, contentType, contentId, null)
    }
    require(crc.getValue.toInt == stored,
      f"CRAM block CRC mismatch (content type $contentType id $contentId): " +
        f"stored 0x$stored%08x, computed 0x${crc.getValue.toInt}%08x")
    val data = method match {
      case 0 => payload
      case 1 =>
        val gz = new GZIPInputStream(new ByteArrayInputStream(payload))
        try readFully(gz, rawSize) finally gz.close()
      case 2 =>
        // bzip2, via commons-compress (a Spark runtime dependency)
        val bz = new org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorInputStream(new ByteArrayInputStream(payload))
        try readFully(bz, rawSize) finally bz.close()
      case 3 =>
        // htslib writes LZMA blocks in the .xz container
        // (lzma_easy_buffer_encode); accept the bare .lzma "alone"
        // format too for robustness. xz-java ships with Spark.
        val isXz = payload.length >= 6 &&
          payload(0) == 0xfd.toByte && payload(1) == '7'.toByte &&
          payload(2) == 'z'.toByte && payload(3) == 'X'.toByte &&
          payload(4) == 'Z'.toByte && payload(5) == 0x00.toByte
        val xz: InputStream =
          if (isXz) new org.tukaani.xz.XZInputStream(
            new ByteArrayInputStream(payload))
          else new org.tukaani.xz.LZMAInputStream(
            new ByteArrayInputStream(payload))
        try readFully(xz, rawSize) finally xz.close()
      case 4 => RansCodec.decode(payload)
      case 5 => RansNx16Codec.decode(payload, rawSize)
      case 6 => ArithCodec.decode(payload, rawSize)
      case 7 => FqzCodec.decode(payload, rawSize)
      case 8 => NameTokCodec.decode(payload, rawSize)
      case other =>
        throw new UnsupportedOperationException(
          s"CRAM block compression method $other (unknown id) not " +
            "supported; supported: raw, gzip, bzip2, lzma, rans4x8, " +
            "ransNx16, arith, fqzcomp, name-tokeniser")
    }
    Block(method, contentType, contentId, data)
  }

  // ---------------------------------------------------- compression header

  sealed trait Encoding
  case object NullEncoding extends Encoding
  /** Substituted for a series whose values the projection does not need
    * AND whose reads touch only its own external blocks ([[pureExternal]]):
    * reads become no-ops, keeping every shared stream position intact. */
  case object Skipped extends Encoding
  final case class External(contentId: Int) extends Encoding
  final case class Huffman(alphabet: Seq[Int], lengths: Seq[Int]) extends Encoding
  final case class ByteArrayLen(lenEnc: Encoding, valEnc: Encoding) extends Encoding
  final case class ByteArrayStop(stop: Int, contentId: Int) extends Encoding
  final case class Beta(offset: Int, bits: Int) extends Encoding

  def readEncoding(in: InputStream): Encoding = {
    val codec = readItf8(in)
    val size = readItf8(in)
    val params = new ByteArrayInputStream(readFully(in, size))
    codec match {
      case 0 => NullEncoding
      case 1 => External(readItf8(params))
      case 3 =>
        val n = readItf8(params)
        val alphabet = (0 until n).map(_ => readItf8(params))
        val m = readItf8(params)
        val lengths = (0 until m).map(_ => readItf8(params))
        Huffman(alphabet, lengths)
      case 4 => ByteArrayLen(readEncoding(params), readEncoding(params))
      case 5 => ByteArrayStop(read1(params), readItf8(params))
      case 6 => Beta(readItf8(params), readItf8(params))
      case other => throw new UnsupportedOperationException(
        s"CRAM encoding codec $other not supported")
    }
  }

  final case class CompressionHeader(
      readNamesIncluded: Boolean, apDelta: Boolean, referenceRequired: Boolean,
      substitutionMatrix: Array[Byte],
      tagDictionary: Seq[Seq[(String, Char)]],
      dataSeries: Map[String, Encoding],
      tagEncodings: Map[Int, Encoding])

  def readCompressionHeader(data: Array[Byte]): CompressionHeader = {
    val in = new ByteArrayInputStream(data)
    // preservation map
    var rn = true; var ap = true; var rr = true
    var sm: Array[Byte] = Array(0x1b, 0x1b, 0x1b, 0x1b, 0x1b).map(_.toByte)
    var td: Seq[Seq[(String, Char)]] = Seq(Nil)
    locally {
      readItf8(in) // byte size
      val n = readItf8(in)
      (0 until n).foreach { _ =>
        val key = new String(readFully(in, 2), "ASCII")
        key match {
          case "RN" => rn = read1(in) != 0
          case "AP" => ap = read1(in) != 0
          case "RR" => rr = read1(in) != 0
          case "SM" => sm = readFully(in, 5)
          case "TD" =>
            val len = readItf8(in)
            val bytes = readFully(in, len)
            td = new String(bytes, "ASCII").split("\u0000", -1).toSeq
              .map { line =>
                line.grouped(3).filter(_.length == 3)
                  .map(t => (t.substring(0, 2), t.charAt(2))).toSeq
              }
          case _ => throw new UnsupportedOperationException(
            s"unknown CRAM preservation key $key")
        }
      }
    }
    val ds: Map[String, Encoding] = {
      readItf8(in) // byte size
      val n = readItf8(in)
      (0 until n).map { _ =>
        val key = new String(readFully(in, 2), "ASCII")
        key -> readEncoding(in)
      }.toMap
    }
    val tags: Map[Int, Encoding] = {
      readItf8(in) // byte size
      val n = readItf8(in)
      (0 until n).map(_ => readItf8(in) -> readEncoding(in)).toMap
    }
    CompressionHeader(rn, ap, rr, sm, td, ds, tags)
  }

  final case class SliceHeader(refSeqId: Int, start: Int, span: Int,
      nRecords: Int, recordCounter: Long, nBlocks: Int,
      contentIds: Seq[Int], embeddedRefId: Int, md5: Array[Byte])

  def readSliceHeader(data: Array[Byte]): SliceHeader = {
    val in = new ByteArrayInputStream(data)
    val refSeqId = readItf8(in)
    val start = readItf8(in)
    val span = readItf8(in)
    val nRecords = readItf8(in)
    val recordCounter = readLtf8(in)
    val nBlocks = readItf8(in)
    val nIds = readItf8(in)
    val ids = (0 until nIds).map(_ => readItf8(in))
    val embeddedRefId = readItf8(in)
    val md5 = readFully(in, 16)
    SliceHeader(refSeqId, start, span, nRecords, recordCounter, nBlocks,
      ids, embeddedRefId, md5)
  }

  // -------------------------------------------------------------- readers

  /** MSB-first bit reader over the core block. */
  final class BitReader(data: Array[Byte]) {
    private var bytePos = 0
    private var bitPos = 0
    def readBit(): Int = {
      val b = (data(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      b
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }

  final class ByteCursor(val data: Array[Byte]) {
    var pos = 0
    def readByte(): Int = {
      val b = data(pos) & 0xff; pos += 1; b
    }
    // inline ITF8 decode straight off the array: this is the hottest
    // cursor op (most int series are EXTERNAL — 10+ reads per record),
    // and the stream-based form allocated a fresh ByteArrayInputStream
    // per value. Same prefix scheme as CramCodec.readItf8: the number
    // of leading 1-bits in the first byte selects 0-4 continuation
    // bytes; the 5-byte form keeps only the LOW 4 bits of the prefix.
    def readItf8Value(): Int = {
      val b0 = data(pos) & 0xff
      pos += 1
      if ((b0 & 0x80) == 0) b0
      else if ((b0 & 0x40) == 0) {
        val v = ((b0 & 0x3f) << 8) | (data(pos) & 0xff); pos += 1; v
      } else if ((b0 & 0x20) == 0) {
        val v = ((b0 & 0x1f) << 16) | ((data(pos) & 0xff) << 8) |
          (data(pos + 1) & 0xff)
        pos += 2; v
      } else if ((b0 & 0x10) == 0) {
        val v = ((b0 & 0x0f) << 24) | ((data(pos) & 0xff) << 16) |
          ((data(pos + 1) & 0xff) << 8) | (data(pos + 2) & 0xff)
        pos += 3; v
      } else {
        val v = ((b0 & 0x0f) << 28) | ((data(pos) & 0xff) << 20) |
          ((data(pos + 1) & 0xff) << 12) | ((data(pos + 2) & 0xff) << 4) |
          (data(pos + 3) & 0x0f)
        pos += 4; v
      }
    }
    def readBytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(data, pos, pos + n)
      pos += n
      out
    }
    def readUntil(stop: Int): Array[Byte] = {
      val start = pos
      while (data(pos) != stop.toByte) pos += 1
      val out = java.util.Arrays.copyOfRange(data, start, pos)
      pos += 1 // consume stop byte
      out
    }
  }

  /** Canonical Huffman decoder (symbols ranked by (length, list order)). */
  final class HuffmanDecoder(alphabet: Seq[Int], lengths: Seq[Int]) {
    // zero-LENGTH code, not just single-symbol: a writer may legally
    // assign a 1-bit code to a one-symbol alphabet, and skipping the
    // bit read would leave an unconsumed core bit per record,
    // desynchronizing every later core-consuming series in the slice
    private val single: Option[Int] =
      if (alphabet.size == 1 && lengths.headOption.contains(0))
        Some(alphabet.head)
      else None
    // (code, length) -> symbol
    private val table: Map[(Int, Int), Int] = {
      val sorted = alphabet.zip(lengths).sortBy { case (sym, len) => (len, sym) }
      var code = 0
      var prevLen = 0
      sorted.map { case (sym, len) =>
        code <<= (len - prevLen)
        prevLen = len
        val entry = (code, len) -> sym
        code += 1
        entry
      }.toMap
    }
    def read(core: BitReader): Int = single.getOrElse {
      var code = 0
      var len = 0
      while (len < 32) {
        code = (code << 1) | core.readBit()
        len += 1
        table.get((code, len)) match {
          case Some(sym) => return sym
          case None => ()
        }
      }
      throw new IllegalStateException("bad huffman code in CRAM core stream")
    }
  }

  /** Evaluates one data series' encoding against the slice streams. The
    * external block it reads and the readers of a BYTE_ARRAY_LEN's parts
    * are resolved once, not on every read. */
  final class SeriesReader(enc: Encoding, core: BitReader,
      ext: Map[Int, ByteCursor]) {
    private val huff = enc match {
      case h: Huffman => new HuffmanDecoder(h.alphabet, h.lengths)
      case _ => null
    }
    // null when the slice has no such block: reading then fails, but a
    // series that is never read needs no block
    private val cursor: ByteCursor = enc match {
      case External(id) => ext.getOrElse(id, null)
      case ByteArrayStop(_, id) => ext.getOrElse(id, null)
      case _ => null
    }
    private val (lenReader, valReader) = enc match {
      case ByteArrayLen(l, v) =>
        (new SeriesReader(l, core, ext), new SeriesReader(v, core, ext))
      case _ => (null, null)
    }
    private def cur(): ByteCursor =
      if (cursor != null) cursor
      else throw new IllegalStateException(
        s"missing CRAM external block ${externalIds(enc).mkString(",")}")
    def readInt(): Int = enc match {
      case _: External => cur().readItf8Value()
      case _: Huffman => huff.read(core)
      case Beta(offset, bits) => core.readBits(bits) - offset
      case Skipped => 0
      case other => throw new UnsupportedOperationException(
        s"encoding $other for int series")
    }
    def readByte(): Int = enc match {
      case _: External => cur().readByte()
      case _: Huffman => huff.read(core)
      case Beta(offset, bits) => core.readBits(bits) - offset
      case Skipped => 0
      case other => throw new UnsupportedOperationException(
        s"encoding $other for byte series")
    }
    def readBytes(): Array[Byte] = enc match {
      case ByteArrayStop(stop, _) => cur().readUntil(stop)
      case _: ByteArrayLen => valReader.readBytesN(lenReader.readInt())
      case Skipped => Array.emptyByteArray
      case other => throw new UnsupportedOperationException(
        s"encoding $other for byte-array series")
    }
    def readBytesN(n: Int): Array[Byte] = enc match {
      case _: External => cur().readBytes(n)
      case Skipped => null
      case _ => Array.fill(n)(readByte().toByte)
    }
  }

  /** External content ids an encoding reads from (transitively through
    * composite encodings). */
  def externalIds(e: Encoding): Set[Int] = e match {
    case External(id) => Set(id)
    case ByteArrayStop(_, id) => Set(id)
    case ByteArrayLen(l, v) => externalIds(l) ++ externalIds(v)
    case _ => Set.empty
  }

  /** True when every read of this encoding touches only its own external
    * blocks — never the shared core bitstream — so skipping its reads
    * cannot desynchronize any other series. */
  def pureExternal(e: Encoding): Boolean = e match {
    case External(_) | ByteArrayStop(_, _) | NullEncoding | Skipped => true
    case ByteArrayLen(l, v) => pureExternal(l) && pureExternal(v)
    case _ => false
  }

  // -------------------------------------------------------------- records

  final case class Feature(code: Char, pos: Int, intVal: Int,
      bytes: Array[Byte])

  /** One decoded record. `readName` is the RN bytes (null when the
    * slice stores no names); `referenceLength` is the reference bases
    * its features consume (the M/D/N span, end1 = start + this - 1),
    * computed once in [[decodeSlice]]. */
  final case class CramRecord(bamFlags: Int, cramFlags: Int, refId: Int,
      readLength: Int, alignmentStart: Int, readGroup: Int,
      readName: Array[Byte], mateRefId: Int, matePos: Int, templateSize: Int,
      features: collection.Seq[Feature], mappingQuality: Int,
      qualityScores: Array[Byte], bases: Array[Byte],
      referenceLength: Int,
      /** (tag, SAM type char, BAM-binary value bytes) per TD line order. */
      tags: Seq[(String, Char, Array[Byte])] = Nil) {
    def isUnmapped: Boolean = (bamFlags & 0x4) != 0
  }

  /** Decode all records of one slice. `decodeTags=false` skips tag-value
    * reads entirely (safe: every tag series has its own blocks). */
  /** `skipSeries`/`skipTagKeys` name series whose reads may be no-ops —
    * the caller must guarantee (as CramPartitionReader's fixpoint does)
    * that their external blocks are not shared with any series still
    * being read; the default (skip nothing, discard-read every
    * un-projected tag) is always safe. */
  def decodeSlice(comp: CompressionHeader, slice: SliceHeader,
      core: Array[Byte], external: Map[Int, Array[Byte]],
      decodeTags: Boolean = true,
      skipSeries: Set[String] = Set.empty,
      skipTagKeys: Set[Int] = Set.empty): collection.IndexedSeq[CramRecord] = {
    val bits = new BitReader(core)
    val cursors = external.map { case (id, d) => id -> new ByteCursor(d) }
    def series(key: String): SeriesReader = {
      val enc =
        if (skipSeries(key) &&
          pureExternal(comp.dataSeries.getOrElse(key, NullEncoding))) Skipped
        else comp.dataSeries.getOrElse(key, NullEncoding)
      new SeriesReader(enc, bits, cursors)
    }
    val bf = series("BF"); val cf = series("CF"); val ri = series("RI")
    val rl = series("RL"); val ap = series("AP"); val rg = series("RG")
    val rnS = series("RN"); val mf = series("MF"); val ns = series("NS")
    val np = series("NP"); val ts = series("TS"); val nf = series("NF")
    val tl = series("TL"); val fn = series("FN"); val fc = series("FC")
    val fp = series("FP"); val bs = series("BS"); val inS = series("IN")
    val sc = series("SC"); val dl = series("DL"); val ba = series("BA")
    val rs = series("RS"); val pd = series("PD"); val hc = series("HC")
    val mq = series("MQ"); val qs = series("QS")
    val bb = series("BB"); val qq = series("QQ")
    val tagReaders = mutable.Map.empty[Int, SeriesReader]

    var prevAlignmentStart = slice.start
    val out = mutable.ArrayBuffer.empty[CramRecord]
    // hot-loop hygiene: no per-record allocation beyond the record
    // itself — `.lift` per record allocates a function, and indexing a
    // potentially-List dictionary is O(n), so resolve both once
    val tagDict = comp.tagDictionary.toIndexedSeq
    var i = 0
    while (i < slice.nRecords) {
      var bamFlags = bf.readInt()
      val cramFlags = cf.readInt()
      val refId = if (slice.refSeqId == -2) ri.readInt() else slice.refSeqId
      val readLength = rl.readInt()
      val alignmentStart =
        if (comp.apDelta) { prevAlignmentStart += ap.readInt(); prevAlignmentStart }
        else ap.readInt()
      val readGroup = rg.readInt()
      var readName: Array[Byte] =
        if (comp.readNamesIncluded) rnS.readBytes() else null
      var mateRefId = -1
      var matePos = 0
      var templateSize = 0
      if ((cramFlags & 0x2) != 0) { // detached
        // MF's mate-reverse (0x1) and mate-unmapped (0x2) bits are the
        // BAM flags 0x20 and 0x8, as htslib and htsjdk restore them
        val mateFlags = mf.readInt()
        if ((mateFlags & 0x1) != 0) bamFlags |= 0x20
        if ((mateFlags & 0x2) != 0) bamFlags |= 0x8
        if (!comp.readNamesIncluded) readName = rnS.readBytes()
        mateRefId = ns.readInt()
        matePos = np.readInt()
        templateSize = ts.readInt()
      } else if ((cramFlags & 0x4) != 0) {
        // KNOWN GAP: NF (downstream mate distance) is consumed but
        // in-slice mates are not resolved — non-detached paired
        // records report mateRefId=-1/matePos=0/templateSize=0 (null
        // rnext/pnext, tlen 0 in the row) where htslib reconstructs
        // them from the mate record NF points at. Parity holds for
        // detached pairs (the common cross-slice case) and all current
        // fixtures; full resolution needs a second pass over the
        // decoded slice records plus htslib's tlen/flag reconstruction.
        nf.readInt()
      }
      val tagLine = tl.readInt()
      // each (tag, type) has its own encoding/blocks, keyed by the
      // 3-byte int (tag0<<16 | tag1<<8 | type)
      val tagDefs =
        if (tagLine >= 0 && tagLine < tagDict.length) tagDict(tagLine)
        else Nil
      val tags: Seq[(String, Char, Array[Byte])] =
        if (decodeTags) tagDefs.map {
          case (tag, tpe) =>
            val key = (tag.charAt(0) << 16) | (tag.charAt(1) << 8) | tpe.toInt
            val reader = tagReaders.getOrElseUpdate(key,
              new SeriesReader(comp.tagEncodings.getOrElse(key, NullEncoding),
                bits, cursors))
            (tag, tpe, reader.readBytes())
        } else {
          // un-projected tags: every tag series the caller did not prove
          // skippable must still be read (and discarded) to keep shared
          // streams in sync
          tagDefs.foreach { case (tag, tpe) =>
            val key = (tag.charAt(0) << 16) | (tag.charAt(1) << 8) | tpe.toInt
            // a tag with no encoding entry has no stream to keep in sync
            if (!skipTagKeys(key)) comp.tagEncodings.get(key).foreach { enc =>
              tagReaders.getOrElseUpdate(key,
                new SeriesReader(enc, bits, cursors)).readBytes()
            }
          }
          Nil
        }

      var features: collection.Seq[Feature] = Nil
      // an unmapped record stores no MQ; it reads 0, as in htslib
      var mappingQuality = 0
      var quals: Array[Byte] = null
      var bases: Array[Byte] = null
      // reference span, walked as the features arrive: FP is a delta, so
      // they come in read order
      var refLen = 0
      var spanPos = 1
      if ((bamFlags & 0x4) == 0) {
        val nFeat = fn.readInt()
        var readPos = 0
        // a read with no features (the common all-match case) shares Nil
        val fs = if (nFeat > 0) mutable.ArrayBuffer.empty[Feature] else null
        var j = 0
        while (j < nFeat) {
          val code = fc.readByte().toChar
          readPos += fp.readInt()
          val feat = code match {
            case 'B' =>
              val b = ba.readByte()
              qs.readByte() // paired quality
              Feature(code, readPos, b, null)
            case 'X' => Feature(code, readPos, bs.readByte(), null)
            case 'I' => Feature(code, readPos, 0, inS.readBytes())
            case 'S' => Feature(code, readPos, 0, sc.readBytes())
            case 'D' => Feature(code, readPos, dl.readInt(), null)
            case 'i' => Feature(code, readPos, ba.readByte(), null)
            case 'N' => Feature(code, readPos, rs.readInt(), null)
            case 'P' => Feature(code, readPos, pd.readInt(), null)
            case 'H' => Feature(code, readPos, hc.readInt(), null)
            case 'b' => Feature(code, readPos, 0, bb.readBytes())
            case 'q' => Feature(code, readPos, 0, qq.readBytes())
            case 'Q' => Feature(code, readPos, qs.readByte(), null)
            case other => throw new UnsupportedOperationException(
              s"CRAM read feature '$other'")
          }
          fs += feat
          refLen += readPos - spanPos // matched stretch before the feature
          spanPos = readPos
          val n = if (feat.bytes != null) feat.bytes.length else 0
          code match {
            case 'X' | 'B' => refLen += 1; spanPos += 1
            case 'i' => spanPos += 1
            case 'I' | 'S' => spanPos += n
            case 'b' => refLen += n; spanPos += n
            case 'D' | 'N' => refLen += feat.intVal
            case _ => () // H, P, Q, q consume neither (q is quality-only)
          }
          j += 1
        }
        // the buffer is never mutated after this point; skipping toSeq
        // avoids one copy per mapped record
        if (fs != null) features = fs
        mappingQuality = mq.readInt()
        if ((cramFlags & 0x1) != 0) quals = qs.readBytesN(readLength)
      } else {
        bases = ba.readBytesN(readLength)
        if ((cramFlags & 0x1) != 0) quals = qs.readBytesN(readLength)
      }
      refLen += readLength + 1 - spanPos // trailing matched stretch
      out += CramRecord(bamFlags, cramFlags, refId, readLength,
        alignmentStart, readGroup, readName, mateRefId, matePos,
        templateSize, features, mappingQuality, quals, bases, refLen, tags)
      i += 1
    }
    out
  }

  // ------------------------------------------------- sequence + cigar

  private val Bases = "ACGTN"

  /** Index of a reference base in ACGTN, either case; anything else is N. */
  private val BaseIndex: Array[Byte] = {
    val t = Array.fill[Byte](256)(4)
    "ACGT".indices.foreach { i =>
      t(Bases(i)) = i.toByte; t(Bases(i).toLower) = i.toByte
    }
    t
  }

  /** The substitution matrix as a lookup: entry `4 * ref + code` is the
    * read base substituted for reference base `ref` (ACGTN index) under
    * BS code `code`. The matrix byte for a reference base ranks the
    * other four bases (ACGTN order) in 2-bit fields; a code no field
    * holds decodes as N. */
  def substitutionTable(matrix: Array[Byte]): Array[Byte] = {
    val t = Array.fill[Byte](20)('N')
    (0 until 5).foreach { r =>
      val alts = Bases.filter(_ != Bases(r))
      val b = matrix(r) & 0xff
      (3 to 0 by -1).foreach { i =>
        t(4 * r + ((b >> (6 - 2 * i)) & 0x3)) = alts(i).toByte
      }
    }
    t
  }

  private def substituted(table: Array[Byte], refBase: Int, code: Int): Byte =
    if (code < 0 || code > 3) 'N'
    else table(4 * BaseIndex(refBase & 0xff) + code)

  /** Substitution decode of one base (see [[substitutionTable]]). */
  def substitute(matrix: Array[Byte], refBase: Char, code: Int): Char =
    (substituted(substitutionTable(matrix),
      if (refBase > 0xff) 'N' else refBase, code) & 0xff).toChar

  /** Encode side of [[substitute]] (fixture writers). */
  def substitutionCode(matrix: Array[Byte], refBase: Char, readBase: Char): Int = {
    val r = math.max(Bases.indexOf(refBase.toUpper), 0)
    val alts = Bases.filter(_ != Bases(r))
    val i = alts.indexOf(readBase.toUpper)
    require(i >= 0, s"$readBase is not a substitution for $refBase")
    ((matrix(r) & 0xff) >> (6 - 2 * i)) & 0x3
  }

  /** ASCII cigar text built op by op; adjacent ops of one kind merge. */
  private final class CigarBuilder {
    private var buf = new Array[Byte](16)
    private var n = 0
    private var op = ' '
    private var len = 0
    def emit(o: Char, k: Int): Unit =
      if (k != 0) {
        if (o == op) len += k
        else { flush(); op = o; len = k }
      }
    private def flush(): Unit =
      if (len > 0) {
        if (n + 11 > buf.length) buf = java.util.Arrays.copyOf(buf, 2 * buf.length + 11)
        var digits = 1
        var v = len / 10
        while (v > 0) { digits += 1; v /= 10 }
        v = len
        var i = n + digits - 1
        while (i >= n) { buf(i) = ('0' + v % 10).toByte; v /= 10; i -= 1 }
        buf(n + digits) = op.toByte
        n += digits + 1
      }
    def result(): Array[Byte] = { flush(); java.util.Arrays.copyOf(buf, n) }
  }

  /** Reconstruct (cigar, seq) of a mapped record as ASCII bytes.
    * `substitutions` is the container's [[substitutionTable]]; `ref`
    * holds the reference bases from 0-based position `refStart` on
    * (null when there is no reference). Matched bases outside `ref`
    * decode as N. */
  def reconstruct(rec: CramRecord, substitutions: Array[Byte],
      ref: Array[Byte], refStart: Long): (Array[Byte], Array[Byte]) = {
    val cigar = new CigarBuilder
    val seq = new Array[Byte](rec.readLength)
    java.util.Arrays.fill(seq, 'N'.toByte)
    var readPos = 1 // 1-based position in the read
    var refPos = rec.alignmentStart.toLong - 1 // 0-based reference position
    def refBase(pos: Long): Int = {
      val i = pos - refStart
      if (ref != null && i >= 0 && i < ref.length) ref(i.toInt) else 'N'
    }
    def fillMatch(n: Int): Unit = {
      if (n > 0 && ref != null) {
        // the part of [refPos, refPos + n) that `ref` covers
        val lo = math.max(refPos, refStart)
        val hi = math.min(refPos + n, refStart + ref.length)
        if (lo < hi) System.arraycopy(ref, (lo - refStart).toInt, seq,
          (readPos - 1 + lo - refPos).toInt, (hi - lo).toInt)
      }
      cigar.emit('M', n)
      readPos += n
      refPos += n
    }
    def put(bytes: Array[Byte]): Unit =
      System.arraycopy(bytes, 0, seq, readPos - 1, bytes.length)
    val fs = rec.features
    var k = 0
    while (k < fs.length) {
      val f = fs(k)
      fillMatch(f.pos - readPos)
      f.code match {
        case 'X' =>
          seq(readPos - 1) = substituted(substitutions, refBase(refPos), f.intVal)
          cigar.emit('M', 1); readPos += 1; refPos += 1
        case 'B' =>
          seq(readPos - 1) = f.intVal.toByte
          cigar.emit('M', 1); readPos += 1; refPos += 1
        case 'I' => put(f.bytes); cigar.emit('I', f.bytes.length); readPos += f.bytes.length
        case 'i' =>
          seq(readPos - 1) = f.intVal.toByte
          cigar.emit('I', 1); readPos += 1
        case 'S' => put(f.bytes); cigar.emit('S', f.bytes.length); readPos += f.bytes.length
        case 'D' => cigar.emit('D', f.intVal); refPos += f.intVal
        case 'N' => cigar.emit('N', f.intVal); refPos += f.intVal
        case 'P' => cigar.emit('P', f.intVal)
        case 'H' => cigar.emit('H', f.intVal)
        case 'b' =>
          put(f.bytes); cigar.emit('M', f.bytes.length)
          readPos += f.bytes.length; refPos += f.bytes.length
        // 'q'/'Q' carry quality only: bases stay reference matches, so the
        // span is covered as M by the surrounding fillMatch (hts-specs CRAM
        // §10.4; matches htsjdk/noodles).
        case 'q' | 'Q' => ()
        case other => throw new UnsupportedOperationException(
          s"CRAM read feature '$other'")
      }
      k += 1
    }
    fillMatch(rec.readLength + 1 - readPos)
    (cigar.result(), seq)
  }

  // ----------------------------------------------------------------- CRAI

  /** One CRAI line: region → (container offset, slice offset, size). */
  final case class CraiEntry(refSeqId: Int, start: Int, span: Int,
      containerOffset: Long, sliceOffset: Int, sliceSize: Int)

  def readCrai(in: InputStream): Seq[CraiEntry] = {
    val gz = new GZIPInputStream(in)
    val text = new String(readAll(gz), "ASCII")
    text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
      val c = line.split("\t")
      CraiEntry(c(0).toInt, c(1).toInt, c(2).toInt, c(3).toLong,
        c(4).toInt, c(5).toInt)
    }
  }

  private def readAll(in: InputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }
}
