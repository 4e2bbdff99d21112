package graft.formats

import java.io.{DataInputStream, EOFException, InputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BAM binary record codec, implemented from the published SAM/BAM spec
  * (§4): header, reference dictionary, record block layout, 4-bit packed
  * sequence. Rows take the shape of the one alignment model the SAM, BAM
  * and CRAM readers share (12 fixed columns + `tags`), with tag values
  * from [[TagValues]] and reference names from [[RefNames]], the pieces
  * the CRAM reader also uses, so the three are drop-in interchangeable
  * (reference parity: `oxbow/src/alignment/scanner/bam.rs`).
  */
object BamCodec {

  val SeqCodes = "=ACMGRSVTWYHKDBN"
  val CigarOps = "MIDNSHP=X"

  final case class BamHeader(text: String, refNames: IndexedSeq[String],
      refLengths: IndexedSeq[Int])

  final class LEInput(in: InputStream) {
    private val d = new DataInputStream(in)
    def readInt(): Int = java.lang.Integer.reverseBytes(d.readInt())
    def readShort(): Int =
      java.lang.Short.reverseBytes(d.readShort()) & 0xffff
    def readByte(): Int = d.readUnsignedByte()
    def readFloat(): Float =
      java.lang.Float.intBitsToFloat(readInt())
    def readBytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); d.readFully(b); b
    }
    /** Try to read the next int; None at clean EOF. */
    def tryReadInt(): Option[Int] =
      try Some(readInt()) catch { case _: EOFException => None }
    /** Next little-endian int as a Long, or Long.MinValue at clean EOF
      * — the allocation-free variant for per-record loops (the Option
      * box was one of the per-record allocations flagged by the r14
      * JIT-stability audit; every real int32 fits a Long, so the
      * sentinel is unambiguous). */
    def readIntOrEof(): Long =
      try readInt().toLong catch { case _: EOFException => Long.MinValue }
  }

  def readHeader(le: LEInput): BamHeader = {
    val magic = le.readBytes(4)
    require(magic.sameElements(Array[Byte]('B', 'A', 'M', 1)),
      "bad BAM magic")
    val lText = le.readInt()
    val text = new String(le.readBytes(lText), "UTF-8")
    val nRef = le.readInt()
    val names = new Array[String](nRef)
    val lengths = new Array[Int](nRef)
    var i = 0
    while (i < nRef) {
      val lName = le.readInt()
      val nameBytes = le.readBytes(lName)
      names(i) = new String(nameBytes, 0, lName - 1, "UTF-8") // strip NUL
      lengths(i) = le.readInt()
      i += 1
    }
    BamHeader(text, names.toIndexedSeq, lengths.toIndexedSeq)
  }

  /** A decoded record, pre-row, for filtering decisions. */
  final case class RawRecord(refId: Int, pos0: Long, flag: Int, refLen: Long,
      row: InternalRow)

  /** Decoder producing rows in the full schema order:
    * qname flag rname pos mapq cigar rnext pnext tlen seq qual end [tags].
    * `need` marks which of the 12 fixed columns must be materialized
    * (pruned columns are skipped, not decoded — reference P1 semantics).
    * A `tagSchema` gives the row its tags slot; `tagSlots` names the tag
    * slots to fill, and None leaves the slot null without scanning the
    * tags (the projection-aware reader passes None when the tags struct
    * is not consumed). Tag values convert through [[TagValues]], the
    * decoder the CRAM reader shares. */
  final class RecordDecoder(header: BamHeader, tagSchema: Option[StructType],
      need: Array[Boolean], posShift: Long,
      tagSlots: Option[TagSlots] = None) {

    require(tagSlots.isEmpty || tagSchema.isDefined,
      "tag slots need a tags column")
    private val slots: TagSlots = tagSlots.orNull
    private val refNames = new RefNames(header.refNames)

    /** Read one record from the stream; null at EOF (an Option wrapper
      * here would box every record — see the scaladoc on
      * [[LEInput.readIntOrEof]]). */
    def read(le: LEInput): RawRecord = {
      val blockSizeL = le.readIntOrEof()
      if (blockSizeL == Long.MinValue) return null
      val blockSize = blockSizeL.toInt
      val block = le.readBytes(blockSize)
      val bb = java.nio.ByteBuffer.wrap(block)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val refId = bb.getInt
      val pos0 = bb.getInt.toLong
      val lReadName = bb.get() & 0xff
      val mapq = bb.get() & 0xff
      bb.getShort // bin
      val nCigar = bb.getShort & 0xffff
      val flag = bb.getShort & 0xffff
      val lSeq = bb.getInt
      val nextRefId = bb.getInt
      val nextPos0 = bb.getInt.toLong
      val tlen = bb.getInt
      // pruned fixed columns advance the cursor for FREE — no
      // allocation, no copy (the decoder's own pruned-column contract;
      // a pos-only scan of a long-read BAM must not copy 100 kb of
      // name/seq/qual bytes per record)
      val qname =
        if (need(0)) {
          val nameBytes = new Array[Byte](lReadName)
          bb.get(nameBytes)
          new String(nameBytes, 0, lReadName - 1, "UTF-8")
        } else { bb.position(bb.position() + lReadName); null }

      var refLen = 0L
      var cigarStr: String = null
      // long-CIGAR placeholder (SAMv1 §4.2.2): >65535 ops overflow
      // n_cigar_op, so the record carries `lSeq S, refLen N` here and
      // the REAL CIGAR in a CG:B,I tag
      var cigarPlaceholder = false
      if (nCigar > 0) {
        val sb = if (need(5)) new java.lang.StringBuilder else null
        var op0 = ' '; var len0 = 0; var opLast = ' '
        var i = 0
        while (i < nCigar) {
          val v = bb.getInt
          val op = CigarOps.charAt(v & 0xf)
          val len = v >>> 4
          if (i == 0) { op0 = op; len0 = len }
          opLast = op
          if (op == 'M' || op == 'D' || op == 'N' || op == '=' || op == 'X')
            refLen += len
          if (sb != null) { sb.append(len); sb.append(op) }
          i += 1
        }
        if (sb != null) cigarStr = sb.toString
        cigarPlaceholder =
          nCigar == 2 && op0 == 'S' && len0 == lSeq && opLast == 'N'
      }

      val seqStr: String =
        if (need(9) && lSeq > 0) {
          val seqBytes = new Array[Byte]((lSeq + 1) / 2)
          bb.get(seqBytes)
          val sb = new java.lang.StringBuilder(lSeq)
          var i = 0
          while (i < lSeq) {
            val b = seqBytes(i / 2) & 0xff
            sb.append(SeqCodes.charAt(if (i % 2 == 0) b >>> 4 else b & 0xf))
            i += 1
          }
          sb.toString
        } else { bb.position(bb.position() + (lSeq + 1) / 2); null }

      val qualStr: String =
        if (need(10) && lSeq > 0) {
          val qualBytes = new Array[Byte](lSeq)
          bb.get(qualBytes)
          if (qualBytes(0) == -1) null // 0xff fill = "*" (absent quals)
          else {
            val sb = new java.lang.StringBuilder(lSeq)
            var i = 0
            while (i < lSeq) { sb.append((qualBytes(i) + 33).toChar); i += 1 }
            sb.toString
          }
        } else { bb.position(bb.position() + lSeq); null }

      // reconstruct the real CIGAR from CG:B,I when the record carries
      // the placeholder; the scan restores the buffer position so the
      // regular tag walk below is unaffected
      var cigarReconstructed = false
      if (cigarPlaceholder && need(5)) {
        val save = bb.position()
        while (!cigarReconstructed && bb.remaining() >= 3) {
          val t0 = bb.get(); val t1 = bb.get(); val tpe = bb.get().toChar
          if (t0 == 'C' && t1 == 'G' && tpe == 'B' &&
              bb.get(bb.position()) == 'I') {
            bb.get() // subtype
            val n = bb.getInt
            val sb = new java.lang.StringBuilder
            var rl = 0L
            var j = 0
            while (j < n) {
              val v = bb.getInt
              val op = CigarOps.charAt(v & 0xf)
              val len = v >>> 4
              if (op == 'M' || op == 'D' || op == 'N' ||
                  op == '=' || op == 'X') rl += len
              sb.append(len); sb.append(op)
              j += 1
            }
            cigarStr = sb.toString
            refLen = rl
            cigarReconstructed = true
          } else TagValues.skip(bb, tpe)
        }
        bb.position(save)
      }

      val unmapped = (flag & 0x4) != 0 || refId < 0 || pos0 < 0

      // exact-width row array filled by index (the previous 12-slot
      // `base :+ tags` copied the whole array per record)
      val base = new Array[Any](if (tagSchema.isDefined) 13 else 12)
      base(0) =
        if (qname == null || qname == "*") null
        else UTF8String.fromString(qname)
      base(1) = flag
      // placement, not mappedness: a flag-0x4 read with a valid
      // refId/pos is a mate-placed unmapped read whose RNAME/POS are
      // real data (the SAM text parser keeps them — '*'/0 are the
      // only null spellings there); nulling on the flag lost the
      // placement and broke SAM/BAM row parity
      base(2) = refNames(refId)
      base(3) =
        if (pos0 < 0) null else pos0 + 1 + posShift // 1-based out ("11")
      base(4) = mapq
      base(5) =
        if (cigarStr == null) null else UTF8String.fromString(cigarStr)
      base(6) = refNames(nextRefId)
      base(7) =
        if (nextRefId < 0 || nextPos0 < 0) null
        else nextPos0 + 1 + posShift
      base(8) = tlen
      base(9) = if (seqStr == null) null else UTF8String.fromString(seqStr)
      base(10) =
        if (qualStr == null) null else UTF8String.fromString(qualStr)
      base(11) =
        if (unmapped || refLen == 0) null
        else pos0 + refLen // closed 1-based

      if (slots != null) {
        val tags = new Array[Any](slots.schema.length)
        while (bb.remaining() >= 3) {
          val t0 = bb.get() & 0xff
          val t1 = bb.get() & 0xff
          val tpe = bb.get().toChar
          // a record carrying the long-CIGAR placeholder holds its real
          // CIGAR in CG:B,I — that tag is never reported as a tag
          // (htslib's convention), and the gate must be the RECORD
          // property (placeholder present), not whether the cigar column
          // happened to be projected: tags.CG must not change value with
          // the projection
          val slot =
            if (cigarPlaceholder && t0 == 'C' && t1 == 'G') -1
            else slots.slot(t0, t1)
          if (slot >= 0) tags(slot) = slots.read(bb, tpe, slot)
          else TagValues.skip(bb, tpe) // advance, never box
        }
        base(12) = new GenericInternalRow(tags)
      }
      RawRecord(refId, pos0, flag, refLen, new GenericInternalRow(base))
    }
  }
}
