package graft.fixtures

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.GZIPOutputStream

import graft.formats.CramCodec

/** Spec-conformant CRAM 3.0 fixture generator (FIXTURES.md convention:
  * generated, never copied). All data series use EXTERNAL encodings
  * (one content id per series) with raw blocks, read names and byte
  * arrays via BYTE_ARRAY_STOP — the simplest layout the CRAM spec
  * permits, exercising container/slice/block structure, the compression
  * header, feature decode, and reference-based reconstruction. */
object CramFixture {

  final case class Feat(code: Char, pos: Int, intVal: Int = 0,
      bytes: Array[Byte] = null)

  /** One record; `pos1` 1-based. Unmapped (flag & 4): `bases` stored.
    * `tags`: (tag, SAM type char in {i, f, Z, A, B}, value; a B value is
    * a Seq[Int], written as a B:i array). `mateFlags` is
    * the MF series value (0x1 mate reverse, 0x2 mate unmapped); every
    * record is written detached. */
  final case class CRec(qname: String, flag: Int, refId: Int, pos1: Int,
      mapq: Int, readLen: Int, feats: Seq[Feat] = Nil,
      quals: Array[Byte] = null, bases: String = null,
      tags: Seq[(String, Char, Any)] = Nil, mateFlags: Int = 0)

  // content ids, one per data series
  private val Ids: Map[String, Int] = Map(
    "BF" -> 1, "CF" -> 2, "RL" -> 3, "AP" -> 4, "RG" -> 5, "RN" -> 6,
    "MF" -> 7, "NS" -> 8, "NP" -> 9, "TS" -> 10, "TL" -> 11, "FN" -> 12,
    "FC" -> 13, "FP" -> 14, "BS" -> 15, "IN" -> 16, "SC" -> 17, "DL" -> 18,
    "BA" -> 19, "MQ" -> 20, "QS" -> 21, "RS" -> 22, "PD" -> 23, "HC" -> 24,
    "QQ" -> 25)

  val SubstitutionMatrix: Array[Byte] =
    Array(0x1b, 0x1b, 0x1b, 0x1b, 0x1b).map(_.toByte)

  private def itf8(v: Int): Array[Byte] = {
    val o = new ByteArrayOutputStream(); CramCodec.writeItf8(o, v); o.toByteArray
  }
  private def ltf8(v: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream(); CramCodec.writeLtf8(o, v); o.toByteArray
  }

  private def encExternal(id: Int): Array[Byte] = {
    val args = itf8(id)
    itf8(1) ++ itf8(args.length) ++ args
  }
  private def encByteArrayStop(stop: Int, id: Int): Array[Byte] = {
    val args = Array(stop.toByte) ++ itf8(id)
    itf8(5) ++ itf8(args.length) ++ args
  }

  /** BYTE_ARRAY_LEN(EXTERNAL lenId, EXTERNAL valId) — the common layout
    * for tag values. */
  private def encByteArrayLen(lenId: Int, valId: Int): Array[Byte] = {
    val args = encExternal(lenId) ++ encExternal(valId)
    itf8(4) ++ itf8(args.length) ++ args
  }

  private def compressionHeaderData(tdLines: Seq[String],
      tagKeys: Seq[(Int, Int, Int)]): Array[Byte] = {
    // preservation map: RN=true, AP=false (absolute), RR=true, SM, TD
    val pres = new ByteArrayOutputStream()
    val presInner = new ByteArrayOutputStream()
    CramCodec.writeItf8(presInner, 5)
    presInner.write("RN".getBytes); presInner.write(1)
    presInner.write("AP".getBytes); presInner.write(0)
    presInner.write("RR".getBytes); presInner.write(1)
    presInner.write("SM".getBytes); presInner.write(SubstitutionMatrix)
    presInner.write("TD".getBytes)
    val tdBytes = tdLines.flatMap(l => l.getBytes("ASCII") :+ 0.toByte).toArray
    CramCodec.writeItf8(presInner, tdBytes.length); presInner.write(tdBytes)
    val presBytes = presInner.toByteArray
    pres.write(itf8(presBytes.length)); pres.write(presBytes)

    val ds = new ByteArrayOutputStream()
    val dsInner = new ByteArrayOutputStream()
    val byteArraySeries = Set("RN", "IN", "SC", "QQ")
    CramCodec.writeItf8(dsInner, Ids.size)
    Ids.toSeq.sortBy(_._2).foreach { case (key, id) =>
      dsInner.write(key.getBytes)
      dsInner.write(
        if (byteArraySeries(key)) encByteArrayStop(0, id) else encExternal(id))
    }
    val dsBytes = dsInner.toByteArray
    ds.write(itf8(dsBytes.length)); ds.write(dsBytes)

    val tags = new ByteArrayOutputStream()
    val tagsInner = new ByteArrayOutputStream()
    CramCodec.writeItf8(tagsInner, tagKeys.size)
    tagKeys.foreach { case (key, lenId, valId) =>
      CramCodec.writeItf8(tagsInner, key)
      tagsInner.write(encByteArrayLen(lenId, valId))
    }
    val tagsBytes = tagsInner.toByteArray
    tags.write(itf8(tagsBytes.length)); tags.write(tagsBytes)

    pres.toByteArray ++ ds.toByteArray ++ tags.toByteArray
  }

  /** BAM-binary encoding of a tag value. */
  private def tagBytes(tpe: Char, v: Any): Array[Byte] = tpe match {
    case 'i' =>
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(v.asInstanceOf[Int]); bb.array()
    case 'f' =>
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putFloat(v.asInstanceOf[Float]); bb.array()
    case 'Z' => v.asInstanceOf[String].getBytes("ASCII") :+ 0.toByte
    case 'A' => Array(v.asInstanceOf[Char].toByte)
    case 'B' =>
      val vs = v.asInstanceOf[Seq[Int]]
      val bb = java.nio.ByteBuffer.allocate(5 + 4 * vs.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('i'.toByte).putInt(vs.length)
      vs.foreach(bb.putInt)
      bb.array()
    case other =>
      throw new IllegalArgumentException(s"fixture tag type '$other'")
  }

  private def block(contentType: Int, contentId: Int, data: Array[Byte],
      method: Int = 0, fqzLens: Seq[Int] = Nil): Array[Byte] = {
    val (m, payload) = method match {
      case _ if data.isEmpty => (0, data)
      case 0 => (0, data)
      case 1 =>
        val b = new ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(b)
        gz.write(data); gz.close()
        (1, b.toByteArray)
      case 2 =>
        val b = new ByteArrayOutputStream()
        val bz = new org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorOutputStream(b)
        bz.write(data); bz.close()
        (2, b.toByteArray)
      case 3 =>
        // the .xz container, matching htslib's lzma_easy_buffer_encode
        val b = new ByteArrayOutputStream()
        val xz = new org.tukaani.xz.XZOutputStream(
          b, new org.tukaani.xz.LZMA2Options())
        xz.write(data); xz.close()
        (3, b.toByteArray)
      case 4 => (4, graft.formats.RansCodec.encode(data, 1))
      case 5 => (5, graft.formats.RansNx16Codec.encode(data))
      case 6 => (6, graft.formats.ArithCodec.encode(data, 1)) // order-1
      case 7 => (7, graft.formats.FqzCodec.encode(data, fqzLens))
      case 8 => (8, graft.formats.NameTokCodec.encode(data))
      case other =>
        throw new IllegalArgumentException(s"fixture block method $other")
    }
    val o = new ByteArrayOutputStream()
    o.write(m)
    o.write(contentType)
    o.write(itf8(contentId))
    o.write(itf8(payload.length))
    o.write(itf8(data.length))
    o.write(payload)
    // spec §8: the CRC32 covers the WHOLE block (method byte through
    // data), not just the compressed payload
    o.write(crc32le(o.toByteArray))
    o.toByteArray
  }

  /** CRC32 of `bytes` as the 4 little-endian bytes CRAM stores — shared
    * by the fixture writers and hand-assembled test streams. */
  def crc32le(bytes: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32(); crc.update(bytes)
    val c = crc.getValue
    Array((c & 0xff).toByte, ((c >> 8) & 0xff).toByte,
      ((c >> 16) & 0xff).toByte, ((c >> 24) & 0xff).toByte)
  }

  /** The spec's 38-byte v3 end-of-file container. */
  val EofContainer: Array[Byte] = Array(
    0x0f, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0x0f, 0xe0, 0x45, 0x4f,
    0x46, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x05, 0xbd, 0xd9, 0x4f, 0x00,
    0x01, 0x00, 0x06, 0x06, 0x01, 0x00, 0x01, 0x00, 0x01, 0x00, 0xee, 0x63,
    0x01, 0x4b).map(_.toByte)

  private def refConsumed(r: CRec): Int = {
    var readPos = 1; var refLen = 0
    r.feats.sortBy(_.pos).foreach { f =>
      refLen += f.pos - readPos; readPos = f.pos
      f.code match {
        case 'X' => refLen += 1; readPos += 1
        case 'I' => readPos += f.bytes.length
        case 'S' => readPos += f.bytes.length
        case 'i' => readPos += 1
        case 'D' | 'N' => refLen += f.intVal
        case _ => ()
      }
    }
    refLen + (r.readLen + 1 - readPos)
  }

  /** Content id reserved for embedded-reference blocks. */
  val EmbeddedRefId = 95

  /** Write a CRAM whose data containers each hold one slice of `recs`
    * (all sharing a refId), plus the companion .crai. `blockMethod`
    * compresses the external data blocks: 0 raw, 1 gzip, 4 rANS 4x8,
    * 5 rANS Nx16, 6 adaptive arithmetic, 8 name tokeniser;
    * `seriesMethods` overrides the method per data series (e.g.
    * "RN" -> 8, "QS" -> 7 — the htslib CRAM 3.1 shape; method 7
    * fqzcomp is only valid for "QS", which supplies record lengths).
    * `embeddedRefs` (refId → full contig) embeds the slice's reference
    * span as an in-slice block instead of requiring an external FASTA.
    * `minorVersion` sets the file-definition minor (1 = CRAM 3.1). */
  def write(path: String, samHeader: String,
      containers: Iterable[Seq[CRec]], blockMethod: Int = 0,
      embeddedRefs: Map[Int, String] = Map.empty,
      seriesMethods: Map[String, Int] = Map.empty,
      minorVersion: Int = 0): Unit =
    writeSliced(path, samHeader, containers.map(Seq(_)), blockMethod,
      embeddedRefs, seriesMethods, minorVersion)

  /** Like [[write]] but each container holds SEVERAL slices (the shape
    * real CRAM writers produce); the compression header is shared per
    * container, blocks and streams are per-slice. */
  def writeSliced(path: String, samHeader: String,
      containerSlices: Iterable[Seq[Seq[CRec]]], blockMethod: Int = 0,
      embeddedRefs: Map[Int, String] = Map.empty,
      seriesMethods: Map[String, Int] = Map.empty,
      minorVersion: Int = 0): Unit = {
    val out = new FileOutputStream(path)
    out.write("CRAM".getBytes)
    out.write(3); out.write(minorVersion)
    out.write(Array.fill[Byte](20)(0x20))

    // SAM header container: single FILE_HEADER block
    val headerBytes = samHeader.getBytes("UTF-8")
    val headerBlockData = Array[Byte](
      (headerBytes.length & 0xff).toByte,
      ((headerBytes.length >> 8) & 0xff).toByte,
      ((headerBytes.length >> 16) & 0xff).toByte,
      ((headerBytes.length >> 24) & 0xff).toByte) ++ headerBytes
    val headerBlock = block(0, 0, headerBlockData)
    writeContainerHeader(out, headerBlock.length, 0, 0, 0, 0, 1, Seq(0))
    out.write(headerBlock)

    val craiLines = scala.collection.mutable.ArrayBuffer.empty[String]
    var fileOffset = 26L + containerHeaderSize(headerBlock.length, 0, 0, 0,
      0, 1, Seq(0)) + headerBlock.length

    containerSlices.foreach { slices =>
      val allRecs = slices.flatten
      require(allRecs.nonEmpty, "fixture containers must hold records")

      // tag dictionary: per-container (shared compression header);
      // line 0 is always the empty (no-tags) line
      def sig(r: CRec): String =
        r.tags.map(t => s"${t._1}${t._2}").mkString
      val tdLines = "" +: allRecs.map(sig).filter(_.nonEmpty).distinct
      val tagDefs = allRecs.flatMap(_.tags.map(t => (t._1, t._2))).distinct
      val tagIds: Map[(String, Char), (Int, Int)] =
        tagDefs.zipWithIndex.map { case (d, k) =>
          d -> (100 + 2 * k, 101 + 2 * k)
        }.toMap
      val tagKeys = tagDefs.map { case (tag, tpe) =>
        val (lenId, valId) = tagIds((tag, tpe))
        ((tag.charAt(0) << 16) | (tag.charAt(1) << 8) | tpe.toInt,
          lenId, valId)
      }

      // build each slice's blocks (headerless): per-slice streams
      val builtSlices: Seq[(Array[Byte], Array[Byte], Int, Int, Int)] =
        slices.map { recs =>
          buildSlice(recs, tdLines, tagIds, blockMethod, embeddedRefs,
            sig, seriesMethods)
        }

      val refIds = slices.map(_.head.refId).distinct
      val refId = if (refIds.size == 1) refIds.head else -2
      val starts = builtSlices.map(_._3).filter(_ > 0)
      val start = if (starts.isEmpty) 0 else starts.min
      val ends = builtSlices.collect { case (_, _, s, sp, _) if sp > 0 =>
        s + sp }
      val span = if (ends.isEmpty) 0 else ends.max - start

      val compBlock = block(1, 0, compressionHeaderData(tdLines, tagKeys))
      val sliceBytes = builtSlices.map { case (sb, rest, _, _, _) =>
        sb ++ rest }
      val allBlocks = compBlock ++ sliceBytes.flatten.toArray
      val nBlocks = 1 + builtSlices.map { case (_, _, _, _, n) => 1 + n }.sum
      // landmark per slice header, relative to end of container header
      val landmarks = sliceBytes.scanLeft(compBlock.length)(_ + _.length)
        .dropRight(1)

      val headSize = containerHeaderSize(allBlocks.length, refId, start,
        span, allRecs.size, nBlocks, landmarks)
      // CRAI slice offset is relative to the end of the container header
      // CRAI field 6 is the TOTAL slice size (header block + core +
      // external blocks); htslib bounds its read by it
      builtSlices.zipWithIndex.foreach { case ((sb, rest, s, sp, _), i) =>
        craiLines += s"${slices(i).head.refId}\t$s\t$sp\t$fileOffset\t" +
          s"${landmarks(i)}\t${sb.length + rest.length}"
      }
      writeContainerHeader(out, allBlocks.length, refId, start, span,
        allRecs.size, nBlocks, landmarks)
      out.write(allBlocks)
      fileOffset += headSize + allBlocks.length
    }

    out.write(EofContainer)
    out.close()

    val gz = new GZIPOutputStream(new FileOutputStream(path + ".crai"))
    gz.write((craiLines.mkString("\n") + "\n").getBytes("ASCII"))
    gz.close()
  }

  /** One slice's bytes: (slice header block, core+external blocks,
    * start, span, nBlocks in slice). */
  private def buildSlice(recs: Seq[CRec], tdLines: Seq[String],
      tagIds: Map[(String, Char), (Int, Int)], blockMethod: Int,
      embeddedRefs: Map[Int, String],
      sig: CRec => String, seriesMethods: Map[String, Int] = Map.empty)
      : (Array[Byte], Array[Byte], Int, Int, Int) = {
    require(recs.nonEmpty && recs.map(_.refId).distinct.size == 1,
      "fixture slices are single-ref")
    val refId = recs.head.refId
    val mapped = recs.filter(r => (r.flag & 0x4) == 0)
    val start = if (mapped.isEmpty) 0 else mapped.map(_.pos1).min
    val span =
      if (mapped.isEmpty) 0
      else mapped.map(r => r.pos1 + refConsumed(r) - 1).max - start + 1

    // per-series external buffers (slice-scoped)
    val bufs = Ids.map { case (k, _) => k -> new ByteArrayOutputStream() }
    def w(series: String, v: Int): Unit =
      CramCodec.writeItf8(bufs(series), v)
    def wByte(series: String, v: Int): Unit = bufs(series).write(v)
    def wStop(series: String, bytes: Array[Byte]): Unit = {
      bufs(series).write(bytes); bufs(series).write(0)
    }
    val tagBufs = tagIds.map { case (d, _) =>
      d -> (new ByteArrayOutputStream(), new ByteArrayOutputStream())
    }

    recs.foreach { r =>
        val qualStored = r.quals != null
        val cf = (if (qualStored) 0x1 else 0) | 0x2 // detached mates
        w("BF", r.flag); w("CF", cf)
        w("RL", r.readLen); w("AP", r.pos1); w("RG", -1)
        wStop("RN", r.qname.getBytes("ASCII"))
        w("MF", r.mateFlags); w("NS", -1); w("NP", 0); w("TS", 0)
        w("TL", tdLines.indexOf(sig(r)))
        r.tags.foreach { case (tag, tpe, v) =>
          val bytes = tagBytes(tpe, v)
          val (lenB, valB) = tagBufs((tag, tpe))
          CramCodec.writeItf8(lenB, bytes.length)
          valB.write(bytes)
        }
        if ((r.flag & 0x4) == 0) {
          w("FN", r.feats.size)
          var prev = 0
          r.feats.sortBy(_.pos).foreach { f =>
            wByte("FC", f.code.toInt)
            w("FP", f.pos - prev); prev = f.pos
            f.code match {
              case 'X' => wByte("BS", f.intVal)
              case 'I' => wStop("IN", f.bytes)
              case 'S' => wStop("SC", f.bytes)
              case 'D' => w("DL", f.intVal)
              case 'i' => wByte("BA", f.intVal)
              case 'N' => w("RS", f.intVal)
              case 'P' => w("PD", f.intVal)
              case 'H' => w("HC", f.intVal)
              case 'q' => wStop("QQ", f.bytes) // quality stretch, bases=ref
              case 'Q' => wByte("QS", f.intVal) // single quality score
              case other => throw new IllegalArgumentException(
                s"fixture feature '$other'")
            }
          }
          w("MQ", r.mapq)
          if (qualStored) bufs("QS").write(r.quals)
        } else {
          r.bases.foreach(c => wByte("BA", c.toInt))
          if (qualStored) bufs("QS").write(r.quals)
        }
      }

      val embedRef: Option[(Int, Array[Byte])] =
        embeddedRefs.get(refId).map { contig =>
          val s0 = math.max(0, start - 1)
          val e0 = math.min(contig.length, s0 + span)
          (EmbeddedRefId,
            block(4, EmbeddedRefId,
              contig.substring(s0, e0).getBytes("ASCII"), blockMethod))
        }
      // record lengths of quality-bearing records, for fqzcomp ("QS" -> 7)
      val qsLens = recs.collect { case r if r.quals != null => r.readLen }
      val extBlocks = (Ids.toSeq.sortBy(_._2).flatMap { case (k, id) =>
        val data = bufs(k).toByteArray
        if (data.isEmpty) None
        else Some((id, block(4, id, data,
          seriesMethods.getOrElse(k, blockMethod), qsLens)))
      } ++ tagIds.toSeq.sortBy(_._2._1).flatMap { case (d, (lenId, valId)) =>
        val (lenB, valB) = tagBufs(d)
        Seq((lenId, block(4, lenId, lenB.toByteArray, blockMethod)),
          (valId, block(4, valId, valB.toByteArray, blockMethod)))
      }) ++ embedRef.toSeq
      val sliceHeaderData = {
        val o = new ByteArrayOutputStream()
        CramCodec.writeItf8(o, refId)
        CramCodec.writeItf8(o, start)
        CramCodec.writeItf8(o, span)
        CramCodec.writeItf8(o, recs.size)
        CramCodec.writeLtf8(o, 0L)
        CramCodec.writeItf8(o, 1 + extBlocks.size) // core + externals
        CramCodec.writeItf8(o, extBlocks.size)
        extBlocks.foreach { case (id, _) => CramCodec.writeItf8(o, id) }
        CramCodec.writeItf8(o,
          if (embedRef.isDefined) EmbeddedRefId else -1)
        o.write(Array.fill[Byte](16)(0))
        o.toByteArray
      }
      val sliceBlock = block(2, 0, sliceHeaderData)
      val coreBlock = block(5, 0, Array.empty[Byte])
      val rest = coreBlock ++ extBlocks.flatMap(_._2)
      (sliceBlock, rest, start, span, 1 + extBlocks.size)
  }

  private def containerHeaderBytes(length: Int, refId: Int, start: Int,
      span: Int, nRecords: Int, nBlocks: Int,
      landmarks: Seq[Int]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(length & 0xff); o.write((length >> 8) & 0xff)
    o.write((length >> 16) & 0xff); o.write((length >> 24) & 0xff)
    o.write(itf8(refId)); o.write(itf8(start)); o.write(itf8(span))
    o.write(itf8(nRecords))
    o.write(ltf8(0L)) // record counter
    o.write(ltf8(0L)) // bases
    o.write(itf8(nBlocks))
    o.write(itf8(landmarks.size))
    landmarks.foreach(l => o.write(itf8(l)))
    // spec §6: CRC32 of the header bytes preceding this field — htslib
    // validates it, so a zero CRC fails external conformance checks
    o.write(crc32le(o.toByteArray))
    o.toByteArray
  }

  private def containerHeaderSize(length: Int, refId: Int, start: Int,
      span: Int, nRecords: Int, nBlocks: Int, landmarks: Seq[Int]): Int =
    containerHeaderBytes(length, refId, start, span, nRecords, nBlocks,
      landmarks).length

  private def writeContainerHeader(out: FileOutputStream, length: Int,
      refId: Int, start: Int, span: Int, nRecords: Int, nBlocks: Int,
      landmarks: Seq[Int]): Unit =
    out.write(containerHeaderBytes(length, refId, start, span, nRecords,
      nBlocks, landmarks))
}
