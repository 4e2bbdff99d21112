package graft.formats

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileInputStream,
  FilterInputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.{BcfFixture, BenchCorpus}
import graft.fixtures.BcfFixture.BcfRec
import graft.formats.Bgzf.VirtualPosition
import graft.formats.GenomicIndex.{Chunk, Index}

/** Index parsing, region lookup and split planning over the benchmark
  * corpus's BAI and TBI files (a linear-index entry per 16 kbp window:
  * 100-200 KB each), a BCF fixture's CSI and hand-built hostile indexes. */
class GenomicIndexSpec extends AnyFunSuite {

  private lazy val corpus = BenchCorpus.ensure(
    java.nio.file.Files.createTempDirectory("graft-index").toString,
    nBam = 3000, nVcf = 3000, nBed = 3000, nCram = 100)

  /** Counts every read call the parser makes on the underlying stream. */
  private final class CountingStream(in: InputStream)
      extends FilterInputStream(in) {
    var calls = 0
    override def read(): Int = { calls += 1; super.read() }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      calls += 1; super.read(b, off, len)
    }
  }

  private def load(path: String, read: InputStream => Index): Index = {
    val in = new FileInputStream(path)
    try read(in) finally in.close()
  }

  test("readBai and readTbi take the index in bulk reads") {
    Seq((corpus.bam + ".bai", GenomicIndex.readBai _),
        (corpus.vcf + ".tbi", GenomicIndex.readTbi _),
        (corpus.bed + ".tbi", GenomicIndex.readTbi _)).foreach {
      case (path, read) =>
        val size = new java.io.File(path).length
        val in = new CountingStream(new FileInputStream(path))
        val ix = try read(in) finally in.close()
        assert(ix.refs.nonEmpty && ix.refs.exists(_.linear.nonEmpty), path)
        assert(in.calls <= size / 4096 + 8, s"$path: ${in.calls} read " +
          s"calls for $size bytes")
    }
  }

  /** The split planner as first written: every chunk begin and linear
    * offset, boxed, sorted, made distinct, then one greedy walk. */
  private def referencePlan(index: Index, chunksize: Long)
      : Seq[VirtualPosition] = {
    val offsets = index.refs.iterator
      .flatMap(r => r.begins.iterator ++ r.linear.iterator)
      .filter(_ > 0).toArray.sorted.distinct
    if (offsets.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer(VirtualPosition(offsets.head))
    offsets.foreach { v =>
      val vp = VirtualPosition(v)
      if (vp.compressedOffset - out.last.compressedOffset >= chunksize)
        out += vp
    }
    out.toSeq
  }

  test("partitionFromIndex returns the reference model's split list") {
    Seq((corpus.bam + ".bai", GenomicIndex.readBai _),
        (corpus.vcf + ".tbi", GenomicIndex.readTbi _),
        (corpus.bed + ".tbi", GenomicIndex.readTbi _)).foreach {
      case (path, read) =>
        val ix = load(path, read)
        Seq(1L, 1L << 16, 1L << 20, Long.MaxValue).foreach { chunksize =>
          val want = referencePlan(ix, chunksize)
          assert(want.nonEmpty)
          assert(GenomicIndex.partitionFromIndex(ix, chunksize) == want,
            s"$path at chunksize $chunksize")
        }
    }
  }

  /** A CSI (no linear index: lookups bound by the bins' loffsets) over
    * 600 BCF records on two contigs, one record per BGZF block. Records
    * of up to 2 Mbp sit in coarse bins, so a lookup whose deepest bin is
    * empty takes its bound from an ancestor's loffset. */
  private lazy val csiPath: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-index-csi")
      .resolve("x.bcf").toString
    val header = Seq("##fileformat=VCFv4.2",
      "##contig=<ID=chr1,length=4000000>", "##contig=<ID=chr2,length=4000000>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO").mkString("\n")
    val rnd = new scala.util.Random(11)
    val recs = Seq.fill(600)(BcfRec(rnd.nextInt(2), rnd.nextInt(4000000),
      rnd.nextInt(10) match {
        case 0 => 1 + rnd.nextInt(2000000)
        case 1 | 2 => 1 + rnd.nextInt(50000)
        case _ => 1
      }, None, Nil, Seq("A", "G"), Nil, Nil, Nil, 0))
      .sortBy(r => (r.contigId, r.pos0))
    BcfFixture.write(p, header, recs)
    p + ".csi"
  }

  /** (path, index, bases its contigs span) */
  private def corpusAndCsi: Seq[(String, Index, Long)] = Seq(
    (corpus.bam + ".bai", load(corpus.bam + ".bai", GenomicIndex.readBai),
      200000000L),
    (corpus.vcf + ".tbi", load(corpus.vcf + ".tbi", GenomicIndex.readTbi),
      200000000L),
    (corpus.bed + ".tbi", load(corpus.bed + ".tbi", GenomicIndex.readTbi),
      200000000L),
    (csiPath, load(csiPath, GenomicIndex.readCsi), 4000000L))

  /** `Index.query` written as a linear scan: the bins of `reg2bins`, each
    * found by scanning every bin id, all of their chunks past the same
    * lower bound (the linear index, else the loffset of the deepest
    * present bin on the path to the root), then `mergeChunks`. */
  private def modelQuery(ix: Index, refId: Int, beg: Long, end: Long)
      : Seq[Chunk] = {
    val maxPos = 1L << (ix.minShift + ix.depth * 3)
    if (refId < 0 || refId >= ix.refs.size || end <= beg || beg >= maxPos)
      return Nil
    val begC = math.max(0L, math.min(beg, maxPos - 1))
    val endC = math.max(begC + 1, math.min(end, maxPos))
    val r = ix.refs(refId)
    def bin(id: Int): Option[Int] = r.binIds.indices.find(r.binIds(_) == id)
    val lower =
      if (r.linear.nonEmpty)
        r.linear(math.min((begC >> ix.minShift).toInt, r.linear.length - 1))
      else {
        val deepest = ((1L << (ix.depth * 3)) - 1) / 7 + (begC >> ix.minShift)
        Iterator.iterate(deepest.toInt)(b => if (b == 0) -1 else (b - 1) >> 3)
          .takeWhile(_ >= 0).flatMap(bin).nextOption()
          .filter(_ => r.lOffsets.nonEmpty).fold(0L)(r.lOffsets(_))
      }
    GenomicIndex.mergeChunks(GenomicIndex.reg2bins(begC, endC, ix.minShift,
        ix.depth).flatMap(bin).flatMap { i =>
      (r.chunkFrom(i) until r.chunkFrom(i + 1)).map(k =>
        Chunk(VirtualPosition(r.begins(k)), VirtualPosition(r.ends(k))))
    }.filter(_.end.value > lower))
  }

  test("property: Index.query equals a linear-scan model on seeded regions") {
    val rnd = new scala.util.Random(20261018L)
    corpusAndCsi.foreach { case (path, ix, span) =>
      val maxPos = 1L << (ix.minShift + ix.depth * 3)
      var nonEmpty = 0
      (0 until 600).foreach { i =>
        val refId = rnd.nextInt(ix.refs.size + 2) - 1
        val beg = i % 6 match {
          case 0 => maxPos - rnd.nextInt(1 << 16) // straddles the range end
          case 1 => maxPos + rnd.nextInt(1 << 20) // beyond the range
          case _ => rnd.nextLong(span)
        }
        val end = i % 5 match {
          case 0 => beg // empty
          case 1 => beg - 1 - rnd.nextInt(1000) // inverted
          case 2 => beg + 1
          case _ => beg + 10000 + rnd.nextLong(span / 25)
        }
        val got = ix.query(refId, beg, end)
        assert(got == modelQuery(ix, refId, beg, end),
          s"$path ref $refId [$beg, $end)")
        if (got.nonEmpty) nonEmpty += 1
      }
      assert(nonEmpty > 50, s"$path: only $nonEmpty regions found chunks")
    }
  }

  /** Bytes the calling thread allocates while `f` runs, and what `f`
    * threw. */
  private def allocatedBy(f: => Any): (Long, Throwable) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val e = intercept[Throwable](f)
    (mx.getCurrentThreadAllocatedBytes - before, e)
  }

  private def le(parts: Any*): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 << 12).order(ByteOrder.LITTLE_ENDIAN)
    parts.foreach {
      case i: Int => bb.putInt(i)
      case l: Long => bb.putLong(l)
      case s: String => bb.put(s.getBytes("ISO-8859-1"))
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }

  private def gunzip(b: Array[Byte]): Array[Byte] =
    new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes()

  test("hostile counts fail by field before anything is sized from them") {
    val bai = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(corpus.bam + ".bai"))
    val csi = gunzip(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(csiPath)))
    val cases = Seq(
      // one bin of one chunk, then a linear index of Int.MaxValue entries
      ("BAI n_intv = Int.MaxValue", "n_intv", () => GenomicIndex.readBai(
        new ByteArrayInputStream(le("BAI\u0001", 1, 1, 4681, 1, 1L << 16,
          2L << 16, Int.MaxValue, 0L, 0L)))),
      ("TBI n_bin = 2^28", "n_bin", () => GenomicIndex.readTbi(
        new ByteArrayInputStream(gzip(le("TBI\u0001", 1, 0, 1, 2, 3, '#'.toInt,
          0, 5, "chr1\u0000", 1 << 28, 0, 0, 0))))),
      // the payload ends halfway through its bins (a BGZF file cut at a
      // block boundary)
      ("truncated CSI", "", () => GenomicIndex.readCsi(
        new ByteArrayInputStream(gzip(csi.take(csi.length / 2))))),
      ("CSI cut inside its gzip member", "", () => GenomicIndex.readCsi(
        new ByteArrayInputStream(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(csiPath)).dropRight(20)))),
      // a bin declaring two chunks, cut inside the second
      ("BAI cut mid-chunk", "n_chunk", () => GenomicIndex.readBai(
        new ByteArrayInputStream(le("BAI\u0001", 1, 1, 4681, 2, 1L << 16,
          2L << 16, 3L << 16)))),
      ("corpus BAI cut halfway", "", () => GenomicIndex.readBai(
        new ByteArrayInputStream(bai.take(bai.length / 2)))))
    cases.foreach { case (what, field, read) =>
      val (bytes, e) = allocatedBy(read())
      assert(e.isInstanceOf[IllegalArgumentException], s"$what: $e")
      assert(e.getMessage.contains(s"index field $field") ||
        field.isEmpty && e.getMessage.contains("index"), s"$what: $e")
      assert(bytes < (4L << 20), s"$what: allocated $bytes bytes")
    }
  }

  test("bins written out of id order are sorted; a repeated id keeps its last") {
    // BAI writers emit bins in hash order. Bins 4682, 0, 4681 and 0 again,
    // one chunk each, no linear index
    val ix = GenomicIndex.readBai(new ByteArrayInputStream(le("BAI\u0001", 1,
      4, 4682, 1, 5L << 16, 6L << 16, 0, 1, 1L << 16, 2L << 16,
      4681, 1, 3L << 16, 4L << 16, 0, 1, 7L << 16, 8L << 16, 0)))
    val r = ix.refs.head
    assert(r.binIds.toSeq == Seq(0, 4681, 4682))
    assert(r.chunkFrom.toSeq == Seq(0, 1, 2, 3))
    assert(r.begins.toSeq == Seq(7L << 16, 3L << 16, 5L << 16))
    assert(ix.query(0, 0, 100).map(_.begin.compressedOffset) == Seq(3, 7))
    assert(ix.query(0, 0, 20000).map(_.begin.compressedOffset) == Seq(3, 5, 7))
    assert(GenomicIndex.partitionFromIndex(ix, 1L)
      .map(_.compressedOffset) == Seq(3, 5, 7))
  }
}
