package graft.formats

import org.scalatest.funsuite.AnyFunSuite

class RansCodecSpec extends AnyFunSuite {

  private val samples: Seq[Array[Byte]] = Seq(
    "A".getBytes("ASCII"),
    "AAAAAAAAAA".getBytes("ASCII"),
    "ACGTACGTACGTACGT".getBytes("ASCII"),
    ("the quick brown fox jumps over the lazy dog " * 20).getBytes("ASCII"),
    Array.tabulate[Byte](4096)(i => (i % 251).toByte),
    { // skewed distribution with consecutive symbol runs (RLE paths)
      val rnd = new scala.util.Random(3)
      Array.fill[Byte](10000)(
        if (rnd.nextInt(10) < 7) (65 + rnd.nextInt(4)).toByte
        else rnd.nextInt(256).toByte)
    },
    Array.tabulate[Byte](4099)(i => (i * 7 % 13 + 60).toByte)) // n%4 != 0

  test("rans empty input round-trips in both orders") {
    Seq(0, 1).foreach { order =>
      val enc = RansCodec.encode(Array.empty[Byte], order)
      assert(RansCodec.decode(enc).isEmpty, s"order $order")
    }
  }

  test("unknown order byte raises IAE naming the codec") {
    // spec defines orders 0/1 only; anything else is corruption and must
    // honor the documented IAE contract, not leak an UnsupportedOperation
    val payload = Array[Byte](2, 0, 0, 0, 0, 1, 0, 0, 0)
    val e = intercept[IllegalArgumentException] { RansCodec.decode(payload) }
    assert(e.getMessage.contains("rANS"))
  }

  test("rans order-0 round-trip") {
    samples.foreach { s =>
      val enc = RansCodec.encode(s, 0)
      assert(RansCodec.decode(enc).sameElements(s),
        s"order-0 failed for len ${s.length}")
    }
  }

  test("rans order-1 round-trip") {
    samples.foreach { s =>
      val enc = RansCodec.encode(s, 1)
      assert(RansCodec.decode(enc).sameElements(s),
        s"order-1 failed for len ${s.length}")
    }
  }

  test("rans order-1 compresses context-heavy data better than order-0") {
    val s = ("ACGT" * 5000).getBytes("ASCII")
    val o0 = RansCodec.encode(s, 0).length
    val o1 = RansCodec.encode(s, 1).length
    assert(o1 < o0, s"o1=$o1 o0=$o0")
  }

  test("cram blocks declared method=4 decode through rans") {
    val payload = ("read data payload " * 50).getBytes("ASCII")
    val compressed = RansCodec.encode(payload, 1)
    val o = new java.io.ByteArrayOutputStream()
    o.write(4) // method rans4x8
    o.write(4) // content type external
    CramCodec.writeItf8(o, 77)
    CramCodec.writeItf8(o, compressed.length)
    CramCodec.writeItf8(o, payload.length)
    o.write(compressed)
    o.write(graft.fixtures.CramFixture.crc32le(o.toByteArray)) // crc
    val block = CramCodec.readBlock(
      new java.io.ByteArrayInputStream(o.toByteArray))
    assert(block.contentId == 77)
    assert(block.data.sameElements(payload))
  }

  test("cram blocks declared method=3 accept bare .lzma alone format") {
    // htslib emits the .xz container (covered by CramSourceSpec); the
    // bare LZMA-alone framing is the documented fallback sniff path
    val payload = ("quality string data " * 40).getBytes("ASCII")
    val b = new java.io.ByteArrayOutputStream()
    val lz = new org.tukaani.xz.LZMAOutputStream(
      b, new org.tukaani.xz.LZMA2Options(), payload.length.toLong)
    lz.write(payload); lz.close()
    val compressed = b.toByteArray
    assert(compressed(0) != 0xfd.toByte) // genuinely not the xz container
    val o = new java.io.ByteArrayOutputStream()
    o.write(3) // method lzma
    o.write(4) // content type external
    CramCodec.writeItf8(o, 78)
    CramCodec.writeItf8(o, compressed.length)
    CramCodec.writeItf8(o, payload.length)
    o.write(compressed)
    o.write(graft.fixtures.CramFixture.crc32le(o.toByteArray)) // crc
    val block = CramCodec.readBlock(
      new java.io.ByteArrayInputStream(o.toByteArray))
    assert(block.contentId == 78)
    assert(block.data.sameElements(payload))
  }

  // ------------------------------------------- decoder vs reference model

  private def assertSameAsModel(enc: Array[Byte], what: String): Unit = {
    val want = RansReferenceModel.decode(enc)
    val got = RansCodec.decode(enc)
    assert(got.sameElements(want), s"$what: decoder differs from the model")
  }

  /** Seeded inputs: every length 0-5 and 1-3 byte tails around block
    * sizes, up to 64 KiB, over 1-, 4-, 64- and 256-symbol alphabets. */
  private val modelInputs: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(0x7a45)
    def draw(n: Int, alphabet: Int): Array[Byte] =
      Array.fill[Byte](n)((33 + rnd.nextInt(alphabet)).toByte)
    val lengths = (0 to 5) ++ Seq(7, 255, 1021, 1022, 1023, 4097, 10001,
      65533, 65534, 65535, 65536)
    for {
      n <- lengths
      alphabet <- Seq(1, 4, 64)
    } yield (s"n=$n alphabet=$alphabet", draw(n, alphabet))
  } ++ Seq(
    "256 symbols" -> Array.tabulate[Byte](65536)(i => (i * 31 + i / 256).toByte),
    // 4095/1 tables: decoding the rare symbol drops the state by 2^12,
    // so its renormalization takes two bytes
    "skewed 4095/1" -> {
      val a = Array.fill[Byte](65535)('A'.toByte); a(40000) = 'B'.toByte; a
    },
    "skewed 4095/1, rare symbol in the tail" -> {
      val a = Array.fill[Byte](65533)('A'.toByte); a(65532) = 'B'.toByte; a
    },
    "skewed contexts" -> Array.tabulate[Byte](50001)(i =>
      (if (i % 997 == 0) 'C' else if (i % 2 == 0) 'A' else 'G').toByte))

  test("decoder is byte-equal to the reference model (order 0 and 1)") {
    for ((what, input) <- modelInputs; order <- Seq(0, 1)) {
      val enc = RansCodec.encode(input, order)
      assertSameAsModel(enc, s"$what order=$order")
      assert(RansCodec.decode(enc).sameElements(input), s"$what order=$order")
    }
  }

  test("decoder matches the model on well-formed headers over random bodies") {
    var decoded = 0
    // tables summing to 4096, states in [2^23, 2^31) and random
    // renormalization bytes: the output (or the IAE when the body runs
    // out) must be the model's
    val rnd = new scala.util.Random(0x4b1d)
    (0 until 300).foreach { k =>
      val order = k % 2
      val n = rnd.nextInt(3000)
      val syms = 1 + rnd.nextInt(40)
      val head = RansStreams.header(order, n,
        if (order == 0) Seq(0 -> RansStreams.table(rnd, syms))
        else (0 until 256).filter(c => c == 0 || (c >= 33 && c < 33 + syms) ||
          rnd.nextInt(8) == 0).map(_ -> RansStreams.table(rnd, syms)))
      val states = Array.fill(4)((1 << 23) + rnd.nextInt(Int.MaxValue - (1 << 23)))
      val enc = head ++ states.flatMap(RansStreams.le32) ++
        Array.fill[Byte](rnd.nextInt(4 * n + 8))(rnd.nextInt().toByte)
      val want =
        try Right(RansReferenceModel.decode(enc))
        catch { case e: IllegalArgumentException => Left(e.getClass) }
      val got =
        try Right(RansCodec.decode(enc))
        catch { case e: IllegalArgumentException => Left(e.getClass) }
      assert(got.map(_.toSeq) == want.map(_.toSeq), s"stream $k order $order")
      if (want.isRight) decoded += 1
    }
    assert(decoded > 150, s"only $decoded of 300 streams decoded")
  }

  test("decoder is byte-equal to the model on the bench corpus QS blocks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rans").toString
    val cram = graft.fixtures.BenchCorpus.ensure(dir, nBam = 100, nVcf = 100,
      nBed = 100, nCram = 60000).cram
    val in = SeekableInputs.forLocal(cram)
    val qs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    try {
      val (_, containers) = graft.sources.CramSource.scanContainers(in)
      containers.foreach { c =>
        val s = new graft.sources.CramSource.CountingStream(in, c.offset)
        val ch = CramCodec.readContainerHeader(s)
        (0 until ch.nBlocks).foreach { _ =>
          val method = s.read(); val contentType = s.read()
          val id = CramCodec.readItf8(s)
          val size = CramCodec.readItf8(s)
          CramCodec.readItf8(s)
          val payload = CramCodec.readFully(s, size)
          CramCodec.readFully(s, 4)
          if (method == 4 && contentType == 4 && id == 21) qs += payload
        }
      }
    } finally in.close()
    assert(qs.size == 6)
    qs.zipWithIndex.foreach { case (b, i) => assertSameAsModel(b, s"QS $i") }
  }

  // ------------------------------------------------------ hostile payloads

  private def assertRejected(payload: Array[Byte], what: String): String = {
    val e =
      try { RansCodec.decode(payload); fail(s"$what: decoded") }
      catch { case e: IllegalArgumentException => e }
    assert(e.getMessage.contains("rANS 4x8"), s"$what: ${e.getMessage}")
    e.getMessage
  }

  test("an order-1 stream cut every 7 bytes raises IAE naming the codec") {
    val rnd = new scala.util.Random(11)
    val enc = RansCodec.encode(
      Array.fill[Byte](5003)((40 + rnd.nextInt(20)).toByte), 1)
    (0 until enc.length by 7).foreach(k =>
      assertRejected(enc.take(k), s"cut at $k of ${enc.length}"))
  }

  test("a frequency table summing past 4096 raises IAE naming the codec") {
    val head = RansStreams.header(0, 64,
      Seq(0 -> Seq('A'.toInt -> 3000, 'B'.toInt -> 2000)))
    assertRejected(head ++ Array.fill(4)(RansStreams.le32(1 << 23)).flatten ++
      new Array[Byte](64), "sum 5000")
  }

  test("an initial state at or above 2^31 raises IAE naming the codec") {
    // valid 4x8 states stay below 2^31; the states follow the 9-byte
    // prefix and the one-symbol table (symbol, 2-byte frequency, end)
    val enc = RansCodec.encode(Array.fill[Byte](64)('A'.toByte), 0)
    val statesAt = 9 + 4
    (0 until 4).foreach { k =>
      val bad = enc.clone()
      bad(statesAt + 4 * k + 3) = (bad(statesAt + 4 * k + 3) | 0x80).toByte
      assert(assertRejected(bad, s"state $k").contains("2^31"))
    }
  }

  test("a symbol decoded in a context with no table raises IAE") {
    // only context 0 has a table, and it decodes 'A' whose context has none
    val head = RansStreams.header(1, 64, Seq(0 -> Seq('A'.toInt -> 4096)))
    assertRejected(head ++ Array.fill(4)(RansStreams.le32(1 << 23)).flatten ++
      new Array[Byte](64), "missing context")
  }
}

/** Hand-assembled rANS 4x8 headers, for streams the encoder never
  * writes. */
private object RansStreams {
  def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def freq(f: Int): Seq[Byte] =
    if (f >= 128) Seq((0x80 | (f >> 8)).toByte, f.toByte) else Seq(f.toByte)

  /** One frequency table in the spec's layout, each symbol announced
    * (run byte 0 where it follows its predecessor). */
  private def freqTable(fs: Seq[(Int, Int)]): Seq[Byte] = {
    var last = -10
    fs.flatMap { case (sym, f) =>
      val run = if (sym == last + 1) Seq(0.toByte) else Nil
      last = sym
      Seq(sym.toByte) ++ run ++ freq(f)
    } :+ 0.toByte
  }

  /** Order byte, sizes and the table(s): one per (context, table). */
  def header(order: Int, outSz: Int, tables: Seq[(Int, Seq[(Int, Int)])])
      : Array[Byte] = {
    val body =
      if (order == 0) freqTable(tables.head._2)
      else {
        var last = -10
        tables.flatMap { case (ctx, t) =>
          val run = if (ctx == last + 1) Seq(0.toByte) else Nil
          last = ctx
          Seq(ctx.toByte) ++ run ++ freqTable(t)
        } :+ 0.toByte
      }
    Array(order.toByte) ++ le32(0) ++ le32(outSz) ++ body
  }

  /** A random table over `n` symbols (ascending, from 33) summing to
    * exactly 4096. */
  def table(rnd: scala.util.Random, n: Int): Seq[(Int, Int)] = {
    val cuts = (Seq.fill(n - 1)(1 + rnd.nextInt(4095)).distinct.sorted :+ 4096)
    val fs = (0 +: cuts).sliding(2).map { case Seq(a, b) => b - a }.toSeq
    fs.zipWithIndex.map { case (f, i) => (33 + i) -> f }
  }
}

/** The rANS 4x8 decoder as it stood before the table-driven rewrite:
  * 64-bit states in an array, per-symbol F/C arrays and a lazily built
  * symbol lookup. Kept as the reference the production decoder must
  * match byte for byte. */
private object RansReferenceModel {
  private val TotFreq = 4096
  private val RansByteL = 1 << 23

  private final class In(val data: Array[Byte]) {
    var pos = 0
    def u8(): Int = { val b = data(pos) & 0xff; pos += 1; b }
    def u32(): Long = u8() | (u8() << 8) | (u8() << 16) | (u8().toLong << 24)
    def freq(): Int = {
      val b0 = u8()
      if (b0 >= 128) ((b0 & 0x7f) << 8) | u8() else b0
    }
  }

  private final class Model {
    val F = new Array[Int](256)
    val C = new Array[Int](256)
    lazy val lookup: Array[Byte] = {
      val t = new Array[Byte](TotFreq)
      var s = 0
      while (s < 256) {
        var i = 0
        while (i < F(s)) { t(C(s) + i) = s.toByte; i += 1 }
        s += 1
      }
      t
    }
    def buildCumulative(): Unit = {
      var x = 0
      var s = 0
      while (s < 256) { C(s) = x; x += F(s); s += 1 }
    }
  }

  private def readFreqTable(in: In): Model = {
    val m = new Model
    var sym = in.u8()
    var lastSym = sym
    var rle = 0
    var done = false
    while (!done) {
      m.F(sym) = in.freq()
      if (rle > 0) { rle -= 1; sym += 1 }
      else {
        sym = in.u8()
        if (sym == lastSym + 1) rle = in.u8()
      }
      lastSym = sym
      if (sym == 0) done = true
    }
    m.buildCumulative()
    m
  }

  def decode(data: Array[Byte]): Array[Byte] =
    try decodeImpl(data)
    catch {
      case e: IllegalArgumentException => throw e
      case e @ (_: IndexOutOfBoundsException | _: NegativeArraySizeException |
          _: NullPointerException) =>
        throw new IllegalArgumentException(s"rANS 4x8 model: $e", e)
    }

  private def decodeImpl(data: Array[Byte]): Array[Byte] = {
    val in = new In(data)
    val order = in.u8()
    in.u32()
    val outSz = in.u32().toInt
    if (outSz == 0) return Array.empty
    order match {
      case 0 => decode0(in, outSz)
      case 1 => decode1(in, outSz)
      case other => throw new IllegalArgumentException(s"order $other")
    }
  }

  private def decode0(in: In, outSz: Int): Array[Byte] = {
    val m = readFreqTable(in)
    val R = Array.fill(4)(in.u32())
    val out = new Array[Byte](outSz)
    var i = 0
    while (i < outSz) {
      val j = i & 3
      val mask = (R(j) & (TotFreq - 1)).toInt
      val s = m.lookup(mask) & 0xff
      out(i) = s.toByte
      R(j) = m.F(s) * (R(j) >>> 12) + mask - m.C(s)
      while (R(j) < RansByteL) R(j) = (R(j) << 8) | in.u8()
      i += 1
    }
    out
  }

  private def decode1(in: In, outSz: Int): Array[Byte] = {
    val models = new Array[Model](256)
    var ctx = in.u8()
    var lastCtx = ctx
    var rle = 0
    var done = false
    while (!done) {
      models(ctx) = readFreqTable(in)
      if (rle > 0) { rle -= 1; ctx += 1 }
      else {
        ctx = in.u8()
        if (ctx == lastCtx + 1) rle = in.u8()
      }
      lastCtx = ctx
      if (ctx == 0) done = true
    }
    val R = Array.fill(4)(in.u32())
    val out = new Array[Byte](outSz)
    val isz4 = outSz >> 2
    val l = new Array[Int](4)
    var i = 0
    while (i < isz4) {
      var j = 0
      while (j < 4) {
        val m = models(l(j))
        val mask = (R(j) & (TotFreq - 1)).toInt
        val s = m.lookup(mask) & 0xff
        out(j * isz4 + i) = s.toByte
        R(j) = m.F(s) * (R(j) >>> 12) + mask - m.C(s)
        while (R(j) < RansByteL) R(j) = (R(j) << 8) | in.u8()
        l(j) = s
        j += 1
      }
      i += 1
    }
    var t = 4 * isz4
    while (t < outSz) {
      val m = models(l(3))
      val mask = (R(3) & (TotFreq - 1)).toInt
      val s = m.lookup(mask) & 0xff
      out(t) = s.toByte
      R(3) = m.F(s) * (R(3) >>> 12) + mask - m.C(s)
      while (R(3) < RansByteL) R(3) = (R(3) << 8) | in.u8()
      l(3) = s
      t += 1
    }
    out
  }
}
