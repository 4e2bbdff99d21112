package graft.fixtures

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPOutputStream

import graft.formats.{Bgzf, GenomicIndex}

/** Spec-conformant BCF2 + CSI fixture generator (one record per BGZF
  * block, like BamFixture, so chunk vpos bookkeeping stays exact). */
object BcfFixture {

  /** Typed-value encoders (BCF2 spec §6.3.3). */
  def typedString(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    require(b.length < 15, "fixture strings must be short")
    (Array(((b.length << 4) | 7).toByte) ++ b)
  }
  def typedInt(v: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(5).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(((1 << 4) | 3).toByte).putInt(v)
    bb.array()
  }
  def typedIntVec(vs: Seq[Int]): Array[Byte] = {
    require(vs.length < 15)
    val bb = ByteBuffer.allocate(1 + 4 * vs.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(((vs.length << 4) | 3).toByte)
    vs.foreach(bb.putInt)
    bb.array()
  }
  def typedFloatVec(vs: Seq[Float]): Array[Byte] = {
    require(vs.length < 15)
    val bb = ByteBuffer.allocate(1 + 4 * vs.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(((vs.length << 4) | 5).toByte)
    vs.foreach(bb.putFloat)
    bb.array()
  }
  def typedFloat(v: Float): Array[Byte] = typedFloatVec(Seq(v))
  def typedFlag: Array[Byte] = Array(0x00.toByte) // len 0, type 0

  final case class BcfRec(contigId: Int, pos0: Int, rlen: Int,
      qual: Option[Float], ids: Seq[String], alleles: Seq[String],
      filterIdx: Seq[Int], info: Seq[(Int, Array[Byte])],
      /** (key dict idx, per-sample int8 vectors) — covers GT/DP shapes */
      fmt: Seq[(Int, Seq[Seq[Int]])], nSample: Int,
      /** (key dict idx, per-sample strings), written after `fmt` as one
        * char vector per sample, NUL-padded to the longest */
      charFmt: Seq[(Int, Seq[String])] = Nil)

  private def encodeRecord(r: BcfRec): Array[Byte] = {
    val shared = new java.io.ByteArrayOutputStream()
    val sb = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    sb.putInt(r.contigId).putInt(r.pos0).putInt(r.rlen)
    sb.putInt(r.qual.map(java.lang.Float.floatToIntBits)
      .getOrElse(graft.formats.BcfCodec.MissingFloatBits))
    sb.putInt((r.alleles.length << 16) | r.info.length)
    sb.putInt(((r.fmt.length + r.charFmt.length) << 24) | r.nSample)
    shared.write(sb.array())
    shared.write(typedString(r.ids.mkString(";")))
    r.alleles.foreach(a => shared.write(typedString(a)))
    shared.write(typedIntVec(r.filterIdx))
    r.info.foreach { case (key, value) =>
      shared.write(typedInt(key)); shared.write(value)
    }
    val indiv = new java.io.ByteArrayOutputStream()
    r.fmt.foreach { case (key, perSample) =>
      indiv.write(typedInt(key))
      val width = perSample.map(_.length).max
      // width 15 means "long length follows" in BCF typing — a wider
      // vector needs the long-form descriptor this fixture doesn't emit
      require(width < 15, s"FORMAT vector width $width needs long-form typing")
      indiv.write(Array(((width << 4) | 1).toByte)) // int8 vector per sample
      perSample.foreach { vals =>
        val padded = vals.padTo(width, graft.formats.BcfCodec.EovInt8)
        padded.foreach(v => indiv.write(Array(v.toByte)))
      }
    }
    r.charFmt.foreach { case (key, perSample) =>
      indiv.write(typedInt(key))
      val bytes = perSample.map(_.getBytes("UTF-8"))
      val width = bytes.map(_.length).max
      require(width < 15, s"FORMAT string width $width needs long-form typing")
      indiv.write(Array(((width << 4) | 7).toByte))
      bytes.foreach(b => indiv.write(b.padTo(width, 0.toByte)))
    }
    val sBytes = shared.toByteArray
    val iBytes = indiv.toByteArray
    val out = ByteBuffer.allocate(8 + sBytes.length + iBytes.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(sBytes.length).putInt(iBytes.length)
    out.put(sBytes).put(iBytes)
    out.array()
  }

  /** Write header + records (.bcf) and a CSI index (.bcf.csi). */
  def write(path: String, headerText: String, records: Seq[BcfRec]): Unit = {
    val out = new FileOutputStream(path)
    val textBytes = (headerText + "\u0000").getBytes("UTF-8")
    val head = ByteBuffer.allocate(9 + textBytes.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    head.put("BCF".getBytes).put(2.toByte).put(2.toByte)
    head.putInt(textBytes.length).put(textBytes)
    val headerBlock = Bgzf.writeBlock(head.array())
    out.write(headerBlock)
    // offsets accumulate from bytes written, not File.length() on a
    // still-open stream (see BamFixture.write)
    var offset = headerBlock.length.toLong
    val spans = records.map { r =>
      val block = Bgzf.writeBlock(encodeRecord(r))
      out.write(block)
      val start = offset
      offset += block.length
      (r, start, offset)
    }
    out.write(Bgzf.EofBlock)
    out.close()

    // CSI: gzip(magic, min_shift, depth, l_aux=0, n_ref, bins...)
    // header-only BCFs (no records) get a valid 0-ref CSI, not empty.max
    val nRef = records.map(_.contigId).maxOption.fold(0)(_ + 1)
    val bb = ByteBuffer.allocate(1 << 20).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("CSI".getBytes).put(1.toByte)
    bb.putInt(14).putInt(5).putInt(0)
    bb.putInt(nRef)
    (0 until nRef).foreach { refId =>
      val mine = spans.filter(_._1.contigId == refId)
      val bins = mine.groupBy { case (r, _, _) =>
        GenomicIndex.reg2bin(r.pos0.toLong, (r.pos0 + math.max(r.rlen, 1)).toLong)
      }
      val writeMeta = mine.nonEmpty
      bb.putInt(bins.size + (if (writeMeta) 1 else 0))
      bins.toSeq.sortBy(_._1).foreach { case (bin, rs) =>
        bb.putInt(bin)
        bb.putLong(rs.map(_._2).min << 16) // loffset
        bb.putInt(rs.size)
        rs.foreach { case (_, s, e) => bb.putLong(s << 16).putLong(e << 16) }
      }
      if (writeMeta) {
        // htslib appends the metadata pseudo-bin to CSIs too (id 37450
        // for the 14/5 scheme, loffset 0): fixture indexes must carry it
        // so the reader's pseudo-bin skip is exercised on the CSI path,
        // not just against real bcftools files
        bb.putInt(37450)
        bb.putLong(0L) // loffset (meaningless for the pseudo-bin)
        bb.putInt(2)
        bb.putLong(mine.map(_._2).min << 16) // off_beg
        bb.putLong(mine.map(_._3).max << 16) // off_end
        bb.putLong(mine.size.toLong)         // n_mapped (raw count)
        bb.putLong(0L)                       // n_unmapped
      }
    }
    val csi = new Array[Byte](bb.position())
    bb.rewind(); bb.get(csi)
    val gz = new GZIPOutputStream(new FileOutputStream(path + ".csi"))
    gz.write(csi); gz.close()
  }
}
