package graft.formats

/** rANS 4x8 entropy codec (CRAM 3.0 block compression method 4),
  * implemented from the published CRAM specification's rANS section
  * (4 interleaved 32-bit range-ANS states, 12-bit normalized
  * frequencies, byte-wise renormalization at 2^23).
  *
  * Stream layout: order byte (0|1), u32-LE compressed size, u32-LE
  * uncompressed size, frequency table(s), 4 u32-LE initial states,
  * renormalization bytes. Order-0 models bytes independently; order-1
  * conditions each byte's table on the previous byte, with the output
  * split into four quarters (one per state, tail on state 3).
  *
  * Both directions are implemented — decode for reading real CRAM
  * files, encode for generating spec-conformant fixtures.
  */
object RansCodec {

  private val TotFreq = 4096 // 12-bit normalized frequencies
  private val RansByteL = 1 << 23

  // -------------------------------------------------------------- helpers

  private final class In(val data: Array[Byte]) {
    var pos = 0
    def u8(): Int = { val b = data(pos) & 0xff; pos += 1; b }
    def u32(): Long = u8() | (u8() << 8) | (u8() << 16) | (u8().toLong << 24)
    /** 1-2 byte frequency: values >= 128 are (0x80|hi, lo). */
    def freq(): Int = {
      val b0 = u8()
      if (b0 >= 128) ((b0 & 0x7f) << 8) | u8() else b0
    }
  }

  private final class Out {
    private val buf = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = buf.write(v & 0xff)
    def u32(v: Long): Unit = {
      u8(v.toInt); u8((v >> 8).toInt); u8((v >> 16).toInt); u8((v >> 24).toInt)
    }
    def freq(f: Int): Unit =
      if (f >= 128) { u8(0x80 | (f >> 8)); u8(f & 0xff) } else u8(f)
    def bytes: Array[Byte] = buf.toByteArray
  }

  /** Decode tables of one model (the order-0 model, or one order-1
    * context), read from a frequency table in the spec's
    * ReadFrequencies0/1 layout.
    *
    * `packed(s)` holds symbol `s`'s frequency and cumulative frequency
    * as `freq << 12 | cum`; frequencies are at most 4096 (bits 12-24).
    * `syms(slot)` is the symbol that owns each of the 4096 slots of the
    * 12-bit state residue. A table summing to less than 4096 leaves its
    * tail slots to symbol 0, as the spec's reference decoder does; one
    * summing past 4096 is malformed. */
  private final class Tables(in: In) {
    val packed = new Array[Int](256)
    val syms = new Array[Byte](TotFreq)
    locally {
      // sym/freq RLE: a symbol announced as `last+1` is followed by a run
      // byte counting the further consecutive symbols whose frequencies
      // follow without announcement
      val freq = new Array[Int](256)
      var sym = in.u8()
      var lastSym = sym
      var rle = 0
      var done = false
      while (!done) {
        freq(sym) = in.freq()
        if (rle > 0) { rle -= 1; sym += 1 }
        else {
          sym = in.u8()
          if (sym == lastSym + 1) rle = in.u8()
        }
        lastSym = sym
        if (sym == 0) done = true
      }
      val total = freq.sum
      if (total > TotFreq) throw new IllegalArgumentException(
        s"rANS 4x8: corrupt payload, frequency table sums to $total " +
          s"(past $TotFreq)")
      var cum = 0
      var s = 0
      while (s < 256) {
        val f = freq(s)
        packed(s) = (f << 12) | (cum & (TotFreq - 1))
        java.util.Arrays.fill(syms, cum, cum + f, s.toByte)
        cum += f
        s += 1
      }
    }
  }

  /** Mirror of the [[Tables]] reader's state machine: a symbol announced as
    * `last+1` is followed by a run byte counting the FURTHER consecutive
    * symbols whose freqs follow without announcements. */
  private def writeFreqTable(out: Out, f: Array[Int]): Unit = {
    val present = (0 until 256).filter(f(_) > 0)
    var i = 0
    var lastWritten = -10
    while (i < present.size) {
      val sym = present(i)
      out.u8(sym)
      if (sym == lastWritten + 1) {
        var run = 0
        while (i + run + 1 < present.size &&
          present(i + run + 1) == sym + run + 1) run += 1
        out.u8(run)
        (0 to run).foreach(k => out.freq(f(sym + k)))
        lastWritten = sym + run
        i += run + 1
      } else {
        out.freq(f(sym))
        lastWritten = sym
        i += 1
      }
    }
    out.u8(0)
  }

  private def normalize(hist: Array[Long], total: Long): Array[Int] = {
    val f = new Array[Int](256)
    if (total == 0) return f
    var assigned = 0
    var maxSym = 0
    (0 until 256).foreach { s =>
      if (hist(s) > 0) {
        val v = math.max(1L, hist(s) * TotFreq / total).toInt
        f(s) = v
        assigned += v
        if (hist(s) > hist(maxSym)) maxSym = s
      }
    }
    // absorb rounding error into the most frequent symbol
    f(maxSym) += TotFreq - assigned
    require(f(maxSym) > 0, "rANS frequency normalization failed")
    f
  }

  // --------------------------------------------------------------- decode

  /** Corrupt or truncated payloads raise [[IllegalArgumentException]]
    * naming the codec, never a bare index error — the same error
    * contract as the 3.1 block codecs.
    *
    * The four states are Int locals. A well-formed 4x8 state lies in
    * [2^23, 2^31): initial states at or above 2^31 are rejected, and a
    * decode step maps a state below 2^31 to one below 2^31 (its frequency
    * and cumulative frequency sum to at most 4096). A step leaves a state
    * of at least 2^23 at or above 2^11, so renormalization shifts in at
    * most two bytes, with no loop. A state that falls lower only comes
    * from a stream no encoder wrote (an initial state below 2^23, or a
    * slot past a table's sum); it decodes as garbage or runs into the
    * truncation error, like any corruption the format cannot detect. */
  def decode(data: Array[Byte]): Array[Byte] =
    try decodeImpl(data)
    catch {
      case e: IllegalArgumentException => throw e
      case e @ (_: IndexOutOfBoundsException | _: NegativeArraySizeException |
          _: NullPointerException | _: java.io.IOException) =>
        throw new IllegalArgumentException(
          s"rANS 4x8: corrupt or truncated payload " +
            s"(${data.length} bytes): ${e.getClass.getSimpleName}", e)
    }

  private def decodeImpl(data: Array[Byte]): Array[Byte] = {
    val in = new In(data)
    val order = in.u8()
    in.u32() // compressed size (informational)
    val outSz = in.u32().toInt
    // empty blocks carry no frequency tables or states (writers normally
    // use the raw method for these, but accept them in either direction)
    if (outSz == 0) return Array.empty
    order match {
      case 0 => decode0(in, outSz)
      case 1 => decode1(in, outSz)
      case other => throw new IllegalArgumentException(
        s"rANS 4x8: corrupt payload, order byte $other (spec defines 0/1)")
    }
  }

  private def initialState(in: In): Int = {
    val x = in.u32()
    if (x >= (1L << 31)) throw new IllegalArgumentException(
      f"rANS 4x8: corrupt payload, initial state 0x$x%08x is at or above 2^31")
    x.toInt
  }

  private def decode0(in: In, outSz: Int): Array[Byte] = {
    val t = new Tables(in)
    val packed = t.packed
    val syms = t.syms
    val d = in.data
    var x0 = initialState(in); var x1 = initialState(in)
    var x2 = initialState(in); var x3 = initialState(in)
    var p = in.pos
    val out = new Array[Byte](outSz)
    val mask = TotFreq - 1
    val end4 = outSz & ~3
    var i = 0
    while (i < end4) {
      val s0 = syms(x0 & mask); val s1 = syms(x1 & mask)
      val s2 = syms(x2 & mask); val s3 = syms(x3 & mask)
      out(i) = s0; out(i + 1) = s1; out(i + 2) = s2; out(i + 3) = s3
      val f0 = packed(s0 & 0xff); val f1 = packed(s1 & 0xff)
      val f2 = packed(s2 & 0xff); val f3 = packed(s3 & 0xff)
      x0 = (f0 >>> 12) * (x0 >>> 12) + (x0 & mask) - (f0 & mask)
      x1 = (f1 >>> 12) * (x1 >>> 12) + (x1 & mask) - (f1 & mask)
      x2 = (f2 >>> 12) * (x2 >>> 12) + (x2 & mask) - (f2 & mask)
      x3 = (f3 >>> 12) * (x3 >>> 12) + (x3 & mask) - (f3 & mask)
      if (x0 < RansByteL) {
        x0 = (x0 << 8) | (d(p) & 0xff); p += 1
        if (x0 < RansByteL) { x0 = (x0 << 8) | (d(p) & 0xff); p += 1 }
      }
      if (x1 < RansByteL) {
        x1 = (x1 << 8) | (d(p) & 0xff); p += 1
        if (x1 < RansByteL) { x1 = (x1 << 8) | (d(p) & 0xff); p += 1 }
      }
      if (x2 < RansByteL) {
        x2 = (x2 << 8) | (d(p) & 0xff); p += 1
        if (x2 < RansByteL) { x2 = (x2 << 8) | (d(p) & 0xff); p += 1 }
      }
      if (x3 < RansByteL) {
        x3 = (x3 << 8) | (d(p) & 0xff); p += 1
        if (x3 < RansByteL) { x3 = (x3 << 8) | (d(p) & 0xff); p += 1 }
      }
      i += 4
    }
    // 1-3 tail bytes, on states 0, 1 and 2 in turn
    while (i < outSz) {
      val x = if ((i & 3) == 0) x0 else if ((i & 3) == 1) x1 else x2
      val s = syms(x & mask)
      out(i) = s
      val f = packed(s & 0xff)
      var y = (f >>> 12) * (x >>> 12) + (x & mask) - (f & mask)
      if (y < RansByteL) {
        y = (y << 8) | (d(p) & 0xff); p += 1
        if (y < RansByteL) { y = (y << 8) | (d(p) & 0xff); p += 1 }
      }
      if ((i & 3) == 0) x0 = y else if ((i & 3) == 1) x1 = y else x2 = y
      i += 1
    }
    out
  }

  private def decode1(in: In, outSz: Int): Array[Byte] = {
    // context-conditioned tables, outer RLE over contexts; a context
    // with no table stays null, and decoding in it is corruption
    val packed = new Array[Array[Int]](256)
    val syms = new Array[Array[Byte]](256)
    var ctx = in.u8()
    var lastCtx = ctx
    var rle = 0
    var done = false
    while (!done) {
      val t = new Tables(in)
      packed(ctx) = t.packed
      syms(ctx) = t.syms
      if (rle > 0) { rle -= 1; ctx += 1 }
      else {
        ctx = in.u8()
        if (ctx == lastCtx + 1) rle = in.u8()
      }
      lastCtx = ctx
      if (ctx == 0) done = true
    }
    val d = in.data
    var x0 = initialState(in); var x1 = initialState(in)
    var x2 = initialState(in); var x3 = initialState(in)
    var p = in.pos
    val out = new Array[Byte](outSz)
    val mask = TotFreq - 1
    val isz4 = outSz >> 2
    // output quarter q decodes on state q in the context of its own
    // previous byte (0 at the quarter start)
    var l0 = 0; var l1 = 0; var l2 = 0; var l3 = 0
    var i = 0
    while (i < isz4) {
      val s0 = syms(l0)(x0 & mask) & 0xff; val s1 = syms(l1)(x1 & mask) & 0xff
      val s2 = syms(l2)(x2 & mask) & 0xff; val s3 = syms(l3)(x3 & mask) & 0xff
      out(i) = s0.toByte; out(i + isz4) = s1.toByte
      out(i + 2 * isz4) = s2.toByte; out(i + 3 * isz4) = s3.toByte
      val f0 = packed(l0)(s0); val f1 = packed(l1)(s1)
      val f2 = packed(l2)(s2); val f3 = packed(l3)(s3)
      x0 = (f0 >>> 12) * (x0 >>> 12) + (x0 & mask) - (f0 & mask)
      x1 = (f1 >>> 12) * (x1 >>> 12) + (x1 & mask) - (f1 & mask)
      x2 = (f2 >>> 12) * (x2 >>> 12) + (x2 & mask) - (f2 & mask)
      x3 = (f3 >>> 12) * (x3 >>> 12) + (x3 & mask) - (f3 & mask)
      if (x0 < RansByteL) {
        x0 = (x0 << 8) | (d(p) & 0xff); p += 1
        if (x0 < RansByteL) { x0 = (x0 << 8) | (d(p) & 0xff); p += 1 }
      }
      if (x1 < RansByteL) {
        x1 = (x1 << 8) | (d(p) & 0xff); p += 1
        if (x1 < RansByteL) { x1 = (x1 << 8) | (d(p) & 0xff); p += 1 }
      }
      if (x2 < RansByteL) {
        x2 = (x2 << 8) | (d(p) & 0xff); p += 1
        if (x2 < RansByteL) { x2 = (x2 << 8) | (d(p) & 0xff); p += 1 }
      }
      if (x3 < RansByteL) {
        x3 = (x3 << 8) | (d(p) & 0xff); p += 1
        if (x3 < RansByteL) { x3 = (x3 << 8) | (d(p) & 0xff); p += 1 }
      }
      l0 = s0; l1 = s1; l2 = s2; l3 = s3
      i += 1
    }
    // tail bytes decode on state 3
    var t = 4 * isz4
    while (t < outSz) {
      val s = syms(l3)(x3 & mask) & 0xff
      out(t) = s.toByte
      val f = packed(l3)(s)
      x3 = (f >>> 12) * (x3 >>> 12) + (x3 & mask) - (f & mask)
      if (x3 < RansByteL) {
        x3 = (x3 << 8) | (d(p) & 0xff); p += 1
        if (x3 < RansByteL) { x3 = (x3 << 8) | (d(p) & 0xff); p += 1 }
      }
      l3 = s
      t += 1
    }
    out
  }

  // --------------------------------------------------------------- encode

  private def encSymbol(x0: Long, f: Int, c: Int,
      emit: Int => Unit): Long = {
    var x = x0
    val xMax = ((RansByteL >>> 12) << 8).toLong * f
    while (x >= xMax) { emit((x & 0xff).toInt); x >>>= 8 }
    (x / f) * TotFreq + c + (x % f)
  }

  def encode(input: Array[Byte], order: Int): Array[Byte] = {
    require(order == 0 || order == 1, s"rANS order $order")
    val body =
      if (input.isEmpty) Array.empty[Byte]
      else if (order == 0) encode0(input) else encode1(input)
    val out = new Out
    out.u8(order)
    out.u32(body.length.toLong)
    out.u32(input.length.toLong)
    out.bytes ++ body
  }

  private def encode0(input: Array[Byte]): Array[Byte] = {
    val hist = new Array[Long](256)
    input.foreach(b => hist(b & 0xff) += 1)
    val f = normalize(hist, input.length.toLong)
    val c = new Array[Int](256)
    var x = 0
    (0 until 256).foreach { s => c(s) = x; x += f(s) }

    val head = new Out
    writeFreqTable(head, f)
    // encode in reverse; renorm bytes are emitted backwards
    val tail = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val R = Array.fill(4)(RansByteL.toLong)
    var i = input.length - 1
    while (i >= 0) {
      val j = i & 3
      val s = input(i) & 0xff
      R(j) = encSymbol(R(j), f(s), c(s), b => tail += b.toByte)
      i -= 1
    }
    finish(head, tail, R)
  }

  private def encode1(input: Array[Byte]): Array[Byte] = {
    val n = input.length
    val isz4 = n >> 2
    // per-context histograms: context = previous byte (0 at quarter start)
    val hist = Array.fill(256)(new Array[Long](256))
    val totals = new Array[Long](256)
    def ctxOf(pos: Int, qStart: Int): Int =
      if (pos == qStart) 0 else input(pos - 1) & 0xff
    val qStarts = Array(0, isz4, 2 * isz4, 3 * isz4)
    var q = 0
    while (q < 4) {
      val start = qStarts(q)
      val end = if (q == 3) n else start + isz4
      var p = start
      while (p < end) {
        val cx = ctxOf(p, start)
        hist(cx)(input(p) & 0xff) += 1
        totals(cx) += 1
        p += 1
      }
      q += 1
    }
    val f = new Array[Array[Int]](256)
    val c = new Array[Array[Int]](256)
    (0 until 256).foreach { cx =>
      if (totals(cx) > 0) {
        f(cx) = normalize(hist(cx), totals(cx))
        val cc = new Array[Int](256)
        var x = 0
        (0 until 256).foreach { s => cc(s) = x; x += f(cx)(s) }
        c(cx) = cc
      }
    }

    val head = new Out
    // outer context table, same announce/run state machine as the inner
    val present = (0 until 256).filter(totals(_) > 0)
    var i = 0
    var lastWritten = -10
    while (i < present.size) {
      val cx = present(i)
      head.u8(cx)
      if (cx == lastWritten + 1) {
        var run = 0
        while (i + run + 1 < present.size &&
          present(i + run + 1) == cx + run + 1) run += 1
        head.u8(run)
        (0 to run).foreach(k => writeFreqTable(head, f(cx + k)))
        lastWritten = cx + run
        i += run + 1
      } else {
        writeFreqTable(head, f(cx))
        lastWritten = cx
        i += 1
      }
    }
    head.u8(0)

    val tail = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val R = Array.fill(4)(RansByteL.toLong)
    // encode each quarter in reverse on its state; tail first (state 3)
    var t = n - 1
    while (t >= 4 * isz4) {
      val cx = ctxOf(t, qStarts(3))
      val s = input(t) & 0xff
      R(3) = encSymbol(R(3), f(cx)(s), c(cx)(s), b => tail += b.toByte)
      t -= 1
    }
    var p = isz4 - 1
    while (p >= 0) {
      var j = 3
      while (j >= 0) {
        val pos = qStarts(j) + p
        val cx = ctxOf(pos, qStarts(j))
        val s = input(pos) & 0xff
        R(j) = encSymbol(R(j), f(cx)(s), c(cx)(s), b => tail += b.toByte)
        j -= 1
      }
      p -= 1
    }
    finish(head, tail, R)
  }

  private def finish(head: Out, tail: scala.collection.mutable.ArrayBuffer[Byte],
      R: Array[Long]): Array[Byte] = {
    val states = new Out
    R.foreach(states.u32)
    head.bytes ++ states.bytes ++ tail.reverseIterator.toArray
  }
}
