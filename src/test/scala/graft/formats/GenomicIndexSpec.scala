package graft.formats

import java.io.{FileInputStream, FilterInputStream, InputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.BenchCorpus
import graft.formats.Bgzf.VirtualPosition
import graft.formats.GenomicIndex.Index

/** Index parsing and split planning over the benchmark corpus's BAI and
  * TBI files (a linear-index entry per 16 kbp window: 100-200 KB each). */
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
      .flatMap(r => r.bins.valuesIterator.flatMap(_.chunks.iterator.map(_.begin))
        ++ r.linear.iterator)
      .map(_.value).filter(_ > 0).toArray.sorted.distinct
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
}
