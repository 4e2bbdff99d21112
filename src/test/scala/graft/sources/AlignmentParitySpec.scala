package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.fixtures.{BamFixture, CramFixture}
import graft.fixtures.CramFixture.{CRec, Feat}

/** The same reads written as SAM text, BAM and CRAM must read back as the
  * same rows: one alignment model behind three decoders. Each case
  * compares whole collected rows (ordered by qname) and the schemas. */
class AlignmentParitySpec extends SparkSuite {

  // the third contig is outside the @SQ dictionary: the CRAM embeds its
  // bases, the header does not name it
  private val contigs = IndexedSeq(
    ("ACGTTGCAAGCT" * 20).take(200),
    ("GATTACA" * 20).take(100),
    ("CCGGTTAA" * 20).take(100))
  private val dictionary = contigs.take(2).zipWithIndex.map { case (c, i) =>
    (s"chr${i + 1}", c.length) }

  private val header = "@HD\tVN:1.6\n" + dictionary.map {
    case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString

  /** One read: `pos1` is the 1-based start of the first aligned base;
    * seq comes from the reference under M and is `T` under S and I, or is
    * `bases` (an unmapped read's). Tag values: Int for 'i', Float for 'f',
    * String for 'Z', Seq[Int] for a B:i array ('B'). */
  private final case class Read(qname: String, flag: Int, refId: Int,
      pos1: Int, mapq: Int, cigar: Seq[(Int, Char)], qual: String,
      tags: Seq[(String, Char, Any)], bases: String = null) {
    lazy val seq: String = if (bases != null) bases else {
      val sb = new StringBuilder
      var ref0 = pos1 - 1
      cigar.foreach {
        case (n, 'M') =>
          sb.append(contigs(refId).substring(ref0, ref0 + n)); ref0 += n
        case (n, 'D') => ref0 += n
        case (n, _) => sb.append("T" * n)
      }
      sb.toString
    }
  }

  private val reads = Seq(
    Read("a1", 0, 0, 5, 60, Seq((10, 'M')), "I" * 10,
      Seq(("NM", 'i', 0), ("XS", 'f', 1.5f), ("RG", 'Z', "grp1"))),
    Read("a2", 16, 0, 20, 30, Seq((2, 'S'), (8, 'M')), null,
      Seq(("NM", 'i', 3), ("RG", 'Z', "grp2"))),
    Read("a3", 0, 0, 40, 0, Seq((5, 'M'), (2, 'D'), (5, 'M')), "#" * 10,
      Seq(("XS", 'f', 2.25f), ("AS", 'i', 7))),
    Read("a4", 0, 0, 60, 45, Seq((4, 'M'), (2, 'I'), (4, 'M')), null,
      Seq(("NM", 'i', 2), ("XS", 'f', -0.5f))),
    Read("a5", 16, 1, 10, 60, Seq((12, 'M')), "5" * 12,
      Seq(("NM", 'i', 1), ("RG", 'Z', "grp1"))))

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-alignment-parity")

  private def samText(r: Read): String = {
    val tags = r.tags.map {
      case (t, 'B', v: Seq[_]) => s"$t:B:i,${v.mkString(",")}"
      case (t, c, v) => s"$t:$c:$v"
    }
    (Seq(r.qname, r.flag.toString, s"chr${r.refId + 1}", r.pos1.toString,
      r.mapq.toString,
      if (r.cigar.isEmpty) "*" else r.cigar.map { case (n, op) => s"$n$op" }.mkString,
      "*", "0", "0", r.seq, Option(r.qual).getOrElse("*")) ++ tags)
      .mkString("\t")
  }

  private def bamRec(r: Read): BamFixture.Rec =
    BamFixture.Rec(r.qname, r.flag, r.refId, r.pos1 - 1, r.mapq, r.cigar,
      r.seq, r.qual, r.tags.map {
        case (t, 'i', v: Int) => BamFixture.tagInt(t, v)
        case (t, 'f', v: Float) => BamFixture.tagFloat(t, v)
        case (t, 'Z', v: String) => BamFixture.tagStr(t, v)
        case (t, 'B', v: Seq[_]) =>
          BamFixture.tagIntArray(t, v.map(_.asInstanceOf[Int]))
        case other => sys.error(s"no BAM fixture tag for $other")
      }.foldLeft(Array.empty[Byte])(_ ++ _))

  /** CIGAR to CRAM read features; M stretches are reference matches. */
  private def cramRec(r: Read): CRec = {
    var readPos = 1
    val feats = r.cigar.flatMap { case (n, op) =>
      val f = op match {
        case 'S' | 'I' => Some(Feat(op, readPos, bytes = ("T" * n).getBytes))
        case 'D' => Some(Feat('D', readPos, intVal = n))
        case _ => None
      }
      if (op != 'D') readPos += n
      f
    }
    CRec(r.qname, r.flag, r.refId, r.pos1, r.mapq, r.seq.length, feats,
      quals = Option(r.qual).map(_.map(c => (c - 33).toByte).toArray).orNull,
      bases = if ((r.flag & 0x4) != 0) r.seq else null, tags = r.tags)
  }

  /** `rs` as SAM, BAM and CRAM files: (format, path) in that order. */
  private def write(name: String, rs: Seq[Read]): Seq[(String, String)] = {
    val sam = dir.resolve(s"$name.sam")
    java.nio.file.Files.write(sam,
      (header + rs.map(samText).mkString("\n") + "\n").getBytes("UTF-8"))
    val bam = dir.resolve(s"$name.bam").toString
    BamFixture.write(bam, dictionary, rs.map(bamRec))
    val cram = dir.resolve(s"$name.cram").toString
    CramFixture.write(cram, header, rs.groupBy(_.refId).toSeq.sortBy(_._1)
      .map(_._2.map(cramRec)), embeddedRefs = contigs.indices.map(i =>
        i -> contigs(i)).toMap)
    Seq("sam" -> sam.toString, "bam" -> bam, "cram" -> cram)
  }

  private lazy val files = write("reads", reads)

  /** Each face's rows of `q`, ordered by qname, must equal the first
    * face's, with the same schema; returns the first face's rows. */
  private def assertParity(faces: Seq[(String, String)],
      opts: Map[String, String] = Map.empty)(q: DataFrame => DataFrame)
      : Seq[Row] = {
    val dfs = faces.map { case (fmt, p) =>
      fmt -> q(spark.read.format(fmt).options(opts).load(p)) }
    val (first, want) = dfs.head
    val rows = want.orderBy("qname").collect().toSeq
    dfs.tail.foreach { case (fmt, df) =>
      assert(df.schema == want.schema, s"$fmt schema differs from $first")
      assert(df.orderBy("qname").collect().toSeq == rows,
        s"$fmt rows differ from $first")
    }
    rows
  }

  test("parity: all columns with discovered tags") {
    val rows = assertParity(files)(identity)
    assert(rows.length == reads.length)
    val tags = rows.head.getStruct(rows.head.fieldIndex("tags"))
    assert(tags.schema.fieldNames.toSeq == Seq("NM", "XS", "RG", "AS"))
    assert(tags.getFloat(1) == 1.5f && tags.getString(2) == "grp1")
  }

  test("parity: rname, pos, end only") {
    val rows = assertParity(files)(_.select("qname", "rname", "pos", "end"))
    assert(rows.map(_.getLong(3)) == Seq(14L, 27L, 51L, 67L, 21L))
  }

  test("parity: one nested tag (tags.NM) alone") {
    val rows = assertParity(files)(_.select(col("qname"), col("tags.NM")))
    assert(rows.map(r => if (r.isNullAt(1)) null else r.getLong(1)) ==
      Seq(0L, 3L, null, 2L, 1L))
  }

  test("parity: coords=01 shifts pos and keeps end") {
    val rows = assertParity(files, Map("coords" -> "01"))(identity)
    assert(rows.head.getLong(3) == 4L && rows.head.getLong(11) == 14L)
  }

  test("parity: a tags option whose types disagree with the data") {
    // XS is f in the data: an i column truncates it, a Z column renders
    // it; NM is i: an f column widens it
    val rows = assertParity(files, Map("tags" -> "XS:i,NM:f,AS:Z"))(
      _.select("qname", "tags"))
    val t = rows.map(_.getStruct(1))
    assert(t.head.getLong(0) == 1L && t.head.getFloat(1) == 0f)
    assert(t(2).getLong(0) == 2L && t(2).getString(2) == "7")
    assert(t(3).getLong(0) == 0L && t(3).getFloat(1) == 2f)
    val asZ = assertParity(files, Map("tags" -> "XS:Z"))(
      _.select("qname", "tags.XS"))
    assert(asZ.map(_.getString(1)) == Seq("1.5", null, "2.25", "-0.5", null))
  }

  private lazy val arrayFiles = write("arrays", Seq(
    Read("b1", 0, 0, 5, 60, Seq((10, 'M')), null,
      Seq(("XB", 'B', Seq(1, 2, 3)), ("XS", 'f', 0.25f))),
    Read("b2", 0, 0, 30, 60, Seq((10, 'M')), null,
      Seq(("XB", 'B', Seq(-7)), ("NM", 'i', 1)))))

  test("parity: float and B:i array tags") {
    val rows = assertParity(arrayFiles)(identity)
    val t = rows.head.getStruct(rows.head.fieldIndex("tags"))
    assert(t.getSeq[Long](0) == Seq(1L, 2L, 3L) && t.getFloat(1) == 0.25f)
  }

  test("parity: a B array in a string column reads as SAM text") {
    val rows = assertParity(arrayFiles, Map("tags" -> "XB:Z"))(
      _.select("qname", "tags.XB"))
    assert(rows.map(_.getString(1)) == Seq("i,1,2,3", "i,-7"))
  }

  test("parity: a reference id past the dictionary reads a null rname") {
    // SAM text names its reference, so only BAM and CRAM can hold this
    val rows = assertParity(write("outside", Seq(
      Read("o1", 0, 0, 5, 60, Seq((10, 'M')), null, Nil),
      Read("o2", 0, 2, 8, 60, Seq((10, 'M')), null, Nil)))
      .filter(_._1 != "sam"))(_.select("qname", "rname", "pos", "seq"))
    assert(rows(1).isNullAt(1) && rows(1).getLong(2) == 8L)
    assert(rows(1).getString(3) == contigs(2).substring(7, 17))
  }

  test("parity: a placed unmapped read keeps its pos, and mapq 0") {
    val rows = assertParity(write("placed", Seq(
      Read("m1", 0, 0, 5, 60, Seq((10, 'M')), null, Nil),
      Read("u1", 4, 0, 10, 0, Nil, null, Nil, bases = "ACGTA"))))(
      _.select("qname", "rname", "pos", "mapq", "end"))
    assert(rows(1) == Row("u1", "chr1", 10L, 0, null))
  }

  test("parity: a read with no reference span has a null end") {
    val rows = assertParity(write("clipped", Seq(
      Read("c1", 0, 0, 5, 60, Seq((10, 'M')), null, Nil),
      Read("c2", 0, 0, 21, 60, Seq((4, 'S')), null, Nil))))(
      _.select("qname", "rname", "pos", "end"))
    assert(rows(1) == Row("c2", "chr1", 21L, null))
  }

  test("parity: a scalar tag in an array column reads null") {
    val rows = assertParity(write("scalar", Seq(
      Read("x1", 0, 0, 5, 60, Seq((10, 'M')), null, Seq(("XB", 'i', 5))),
      Read("x2", 0, 0, 30, 60, Seq((10, 'M')), null,
        Seq(("XB", 'B', Seq(4, 2)))))), Map("tags" -> "XB:B:i"))(
      _.select("qname", "tags.XB"))
    assert(rows.head.isNullAt(1) && rows(1).getSeq[Long](1) == Seq(4L, 2L))
  }
}
