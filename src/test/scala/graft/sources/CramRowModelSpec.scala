package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkSuite
import graft.fixtures.CramFixture
import graft.fixtures.CramFixture.{CRec, Feat}

/** Seeded random CRAM records, written by both fixture writers, must read
  * back as a test-side model of seq, cigar, end, qual and flag says, and
  * every projection must return the full scan's columns. The model
  * follows the CRAM 3.0 read-feature rules directly; it shares no code
  * with the reader. */
class CramRowModelSpec extends SparkSuite {

  private val rnd0 = new scala.util.Random(0x5eed)

  /** Random contig over ACGT, with some lowercase bases and Ns. */
  private def contig(n: Int): String = Array.fill(n) {
    val k = rnd0.nextInt(100)
    if (k < 4) 'N' else if (k < 10) "acgt".charAt(k % 4) else "ACGT".charAt(k % 4)
  }.mkString

  private val contigs = IndexedSeq(contig(3000), contig(1500))

  private val samHeader = "@HD\tVN:1.6\n" + contigs.zipWithIndex.map {
    case (c, i) => s"@SQ\tSN:chr${i + 1}\tLN:${c.length}\n" }.mkString

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-cram-model")

  private lazy val fastaPath: String = {
    val fa = new StringBuilder
    val fai = new StringBuilder
    contigs.zipWithIndex.foreach { case (c, i) =>
      val head = s">chr${i + 1}\n"
      fa.append(head)
      val offset = fa.length
      c.grouped(60).foreach(line => fa.append(line).append('\n'))
      fai.append(s"chr${i + 1}\t${c.length}\t$offset\t60\t61\n")
    }
    val p = dir.resolve("ref.fa")
    java.nio.file.Files.write(p, fa.toString.getBytes("ASCII"))
    java.nio.file.Files.write(dir.resolve("ref.fa.fai"),
      fai.toString.getBytes("ASCII"))
    p.toString
  }

  // ------------------------------------------------------------ records

  private def bases(rnd: scala.util.Random, n: Int): Array[Byte] =
    Array.fill(n)("ACGTN".charAt(rnd.nextInt(5)).toByte)

  private def quals(rnd: scala.util.Random, n: Int): Array[Byte] =
    rnd.nextInt(6) match {
      case 0 | 1 => null
      case 2 => Array.fill(n)(0xff.toByte)
      case _ => Array.fill(n)(rnd.nextInt(61).toByte)
    }

  /** A mapped read built by walking the read: every feature code the
    * fixture writes, several of them sharing a read position. */
  private def mapped(rnd: scala.util.Random, name: String, refId: Int): CRec = {
    val readLen = 1 + rnd.nextInt(60)
    val feats = mutable.ArrayBuffer.empty[Feat]
    var p = 1
    var refLen = 0
    if (rnd.nextInt(5) == 0) feats += Feat('H', 1, intVal = 1 + rnd.nextInt(5))
    if (readLen > 3 && rnd.nextInt(4) == 0) {
      val k = 1 + rnd.nextInt(3)
      feats += Feat('S', 1, bytes = bases(rnd, k)); p += k
    }
    while (p <= readLen) {
      val left = readLen - p + 1
      rnd.nextInt(14) match {
        case 0 => feats += Feat('X', p, intVal = rnd.nextInt(4)); p += 1; refLen += 1
        case 1 =>
          val k = 1 + rnd.nextInt(math.min(4, left))
          feats += Feat('I', p, bytes = bases(rnd, k)); p += k
        case 2 => feats += Feat('i', p, intVal = "ACGTN".charAt(rnd.nextInt(5)))
          p += 1
        case 3 =>
          val k = 1 + rnd.nextInt(5)
          feats += Feat('D', p, intVal = k); refLen += k
        case 4 =>
          val k = 1 + rnd.nextInt(40)
          feats += Feat('N', p, intVal = k); refLen += k
        case 5 => feats += Feat('P', p, intVal = 1 + rnd.nextInt(3))
        case 6 =>
          val k = 1 + rnd.nextInt(math.min(4, left))
          feats += Feat('q', p, bytes = Array.fill(k)((1 + rnd.nextInt(60)).toByte))
        case 7 => feats += Feat('Q', p, intVal = rnd.nextInt(61))
        case 8 if left <= 3 =>
          feats += Feat('S', p, bytes = bases(rnd, left)); p += left
        case _ =>
          val k = 1 + rnd.nextInt(math.min(8, left))
          p += k; refLen += k
      }
    }
    if (rnd.nextInt(5) == 0)
      feats += Feat('H', readLen + 1, intVal = 1 + rnd.nextInt(5))
    val flag = Seq(0, 16, 0x1 | 0x2 | 0x20 | 0x40, 0x1 | 0x80 | 0x10, 256,
      1024, 2048)(rnd.nextInt(7))
    val span = math.max(refLen, 1)
    val pos1 = 1 + rnd.nextInt(contigs(refId).length - span)
    CRec(name, flag, refId, pos1, rnd.nextInt(61), readLen, feats = feats.toSeq,
      quals = quals(rnd, readLen))
  }

  /** An unmapped read with bases: placed on `refId`, or unplaced (-1). */
  private def unmapped(rnd: scala.util.Random, name: String, refId: Int): CRec = {
    val readLen = 1 + rnd.nextInt(40)
    CRec(name, 0x4 | Seq(0, 0x1 | 0x8 | 0x40)(rnd.nextInt(2)), refId,
      if (refId < 0) 0 else 1 + rnd.nextInt(contigs(refId).length - 1), -1,
      readLen, bases = new String(bases(rnd, readLen).map(_.toChar)),
      quals = quals(rnd, readLen))
  }

  /** Slices of one reference each: chr1, chr2, then the unplaced tail. */
  private val slices: Seq[Seq[CRec]] = {
    val rnd = new scala.util.Random(42)
    var n = 0
    def name(): String = { n += 1; f"m$n%04d" }
    def ref(refId: Int, nMapped: Int, nUnmapped: Int): Seq[CRec] =
      rnd.shuffle(Seq.fill(nMapped)(mapped(rnd, name(), refId)) ++
        Seq.fill(nUnmapped)(unmapped(rnd, name(), refId))).sortBy(_.pos1)
    val unplaced = Seq.fill(9)(unmapped(rnd, name(), -1))
    (ref(0, 80, 6).grouped(17) ++ ref(1, 45, 4).grouped(13) ++
      unplaced.grouped(5)).toSeq
  }

  // -------------------------------------------------------------- model

  private final case class Want(flag: Int, seq: String, cigar: String,
      end: Any, qual: String)

  private def model(r: CRec, ref: Option[String]): Want = {
    val qual =
      if (r.quals == null || r.quals.forall(_ == 0xff.toByte)) null
      else r.quals.map(q => (q + 33).toChar).mkString
    if ((r.flag & 0x4) != 0)
      return Want(r.flag, r.bases, null, null, qual)
    def refBase(g: Int): Char = ref match {
      case Some(c) if g < c.length => c.charAt(g)
      case _ => 'N'
    }
    val seq = Array.fill(r.readLen)('N')
    val ops = mutable.ArrayBuffer.empty[(Char, Int)]
    def op(c: Char, n: Int): Unit =
      if (n > 0) {
        if (ops.nonEmpty && ops.last._1 == c) ops(ops.size - 1) = (c, ops.last._2 + n)
        else ops += ((c, n))
      }
    var rp = 1
    var g = r.pos1 - 1
    def matchTo(pos: Int): Unit = {
      val n = pos - rp
      (0 until n).foreach(i => seq(rp - 1 + i) = refBase(g + i))
      op('M', n); rp += n; g += n
    }
    def put(bytes: Array[Byte]): Unit =
      bytes.indices.foreach(i => seq(rp - 1 + i) = bytes(i).toChar)
    r.feats.sortBy(_.pos).foreach { f =>
      matchTo(f.pos)
      f.code match {
        case 'X' =>
          // substitution matrix 0x1b: code k is the k-th of ACGTN without
          // the (upper-cased) reference base
          val b = refBase(g).toUpper
          seq(rp - 1) = "ACGTN".filter(_ != (if ("ACGT".contains(b)) b else 'N'))
            .charAt(f.intVal)
          op('M', 1); rp += 1; g += 1
        case 'I' => put(f.bytes); op('I', f.bytes.length); rp += f.bytes.length
        case 'S' => put(f.bytes); op('S', f.bytes.length); rp += f.bytes.length
        case 'i' => seq(rp - 1) = f.intVal.toChar; op('I', 1); rp += 1
        case 'D' => op('D', f.intVal); g += f.intVal
        case 'N' => op('N', f.intVal); g += f.intVal
        case 'P' => op('P', f.intVal)
        case 'H' => op('H', f.intVal)
        case 'q' | 'Q' => ()
      }
    }
    matchTo(r.readLen + 1)
    // a read that covers no reference base has no end, as in BAM
    Want(r.flag, seq.mkString, ops.map { case (c, n) => s"$n$c" }.mkString,
      if (g == r.pos1 - 1) null else g.toLong, qual)
  }

  // -------------------------------------------------------------- files

  private val refModes = Seq("embedded", "fasta", "none")

  for {
    method <- Seq(0, 1, 4)
    refMode <- refModes
    sliced <- Seq(false, true)
  } test(s"cram rows match the model: QS/RN method $method, reference " +
      s"$refMode, ${if (sliced) "writeSliced" else "write"}") {
    val p = dir.resolve(s"model-$method-$refMode-$sliced.cram").toString
    val embedded =
      if (refMode == "embedded") Map(0 -> contigs(0), 1 -> contigs(1))
      else Map.empty[Int, String]
    val series = Map("QS" -> method, "RN" -> method)
    if (sliced)
      CramFixture.writeSliced(p, samHeader, slices.grouped(3).toSeq,
        embeddedRefs = embedded, seriesMethods = series)
    else
      CramFixture.write(p, samHeader, slices, embeddedRefs = embedded,
        seriesMethods = series)
    val reader = spark.read.format("cram")
    val df = (if (refMode == "fasta") reader.option("reference", fastaPath)
      else reader).load(p)

    val full = df.collect().toSeq
    val recs = slices.flatten
    assert(full.map(_.getString(0)) == recs.map(_.qname))
    full.zip(recs).foreach { case (row, r) =>
      val ref = if (refMode == "none" || r.refId < 0) None
        else Some(contigs(r.refId))
      val want = model(r, ref)
      val got = Want(row.getInt(1), row.getString(9), row.getString(5),
        row.get(11), row.getString(10))
      assert(got == want, s"${r.qname} (${r.feats.map(_.code).mkString})")
      val mappedRec = (r.flag & 0x4) == 0
      assert(row.get(2) == (if (r.refId < 0) null else s"chr${r.refId + 1}"))
      // placement, not mappedness, as in BAM: a placed unmapped read
      // keeps its pos; CRAM stores no MQ for it, so it reads 0
      assert(row.get(3) == (if (r.pos1 > 0) r.pos1.toLong else null))
      assert(row.get(4) == (if (mappedRec) r.mapq else 0))
    }

    def column(i: Int): Seq[Any] = full.map(_.get(i))
    df.columns.zipWithIndex.foreach { case (c, i) =>
      assert(df.select(c).collect().map(_.get(0)).toSeq == column(i),
        s"projection of $c")
    }
    assert(df.select("rname", "pos").collect().toSeq ==
      full.map(r => Row(r.get(2), r.get(3))), "projection of rname, pos")
  }
}
