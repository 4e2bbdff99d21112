package graft.formats

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPInputStream

import scala.collection.mutable

import graft.formats.Bgzf.VirtualPosition

/** BAI / CSI / TBI index readers, the R-tree-free binning scheme, and the
  * compressed-byte split planner.
  *
  * All three formats share the chunk/bin model from the SAM spec §5
  * (implemented from the published htslib specs):
  *  - BAI: fixed binning (min_shift=14, depth=5), plain (not gzipped)
  *  - CSI: parameterized min_shift/depth, BGZF/gzip-compressed
  *  - TBI: tabix for generic coordinate text, gzip-compressed, carries
  *    target-name list + column configuration
  *
  * `partitionFromIndex` reproduces the reference's split planning
  * (`/root/reference/oxbow/src/util/index.rs:117-178`): collect every
  * chunk-begin virtual position, sort, then prune boundaries that are
  * closer than `chunksize` compressed bytes — yielding record-aligned,
  * roughly equal-sized scan partitions.
  */
object GenomicIndex {

  final case class Chunk(begin: VirtualPosition, end: VirtualPosition)

  /** Per-reference statistics from the BAI/TBI/CSI metadata pseudo-bin
    * (SAM spec §5.2: bin id 37450 for the 14/5 scheme). Its first
    * pseudo-chunk holds the virtual-offset span of this reference's
    * records; the second holds raw mapped/unmapped record counts — NOT
    * virtual positions, which is why pseudo-bins must never feed split
    * planning or region queries. */
  final case class RefMetadata(offBeg: VirtualPosition, offEnd: VirtualPosition,
      nMapped: Long, nUnmapped: Long)

  /** One reference's index in flat primitive arrays. `binIds` holds the
    * real bins in ascending id order; bin `binIds(i)` owns the chunks
    * `chunkFrom(i) until chunkFrom(i + 1)` of `begins`/`ends` (raw
    * virtual positions, in file order). `lOffsets` holds each bin's CSI
    * loffset and is empty for BAI/TBI; `linear` is the BAI/TBI 16 kbp
    * linear index and is empty for CSI. */
  final class RefIndex(val binIds: Array[Int], val chunkFrom: Array[Int],
      val begins: Array[Long], val ends: Array[Long],
      val lOffsets: Array[Long], val linear: Array[Long],
      val metadata: Option[RefMetadata] = None) {
    /** Position of bin `id` in `binIds`, or -1 when the index lacks it. */
    def binIndex(id: Int): Int =
      math.max(java.util.Arrays.binarySearch(binIds, id), -1)
  }

  /** Parsed index, uniform across BAI/CSI/TBI. */
  final case class Index(
      minShift: Int, depth: Int,
      refs: IndexedSeq[RefIndex],
      /** tabix only: target name → ref id */
      names: Map[String, Int],
      /** tabix only: (seqCol, begCol, endCol, zeroBased) 1-based columns */
      tabixConfig: Option[(Int, Int, Int, Boolean)]) {

    /** Candidate chunks overlapping [beg, end) (0-based half-open) on
      * `refId`, filtered by the linear index low bound and merged. */
    def query(refId: Int, beg: Long, end: Long): Seq[Chunk] = {
      if (refId < 0 || refId >= refs.size) return Nil
      // an empty interval (end <= beg, constructible via "chr1:[100,100)")
      // or one past the scheme's addressable range provably matches
      // nothing: return Nil instead of inflating it to a 1-base window
      // that opens/seeks/inflates blocks (a remote GET each) for rows
      // the residual predicate then drops
      val maxPos = 1L << (minShift + depth * 3)
      if (end <= beg || beg >= maxPos) return Nil
      val begC = math.max(0L, math.min(beg, maxPos - 1))
      val endC = math.max(begC + 1, math.min(end, maxPos))
      val ref = refs(refId)
      val minOffset: Long = {
        val window = (begC >> minShift).toInt
        if (ref.linear.nonEmpty)
          ref.linear(math.min(math.max(window, 0), ref.linear.length - 1))
        else {
          // CSI has no linear index; its per-bin loffset carries the
          // same information (virtual offset of the first record
          // overlapping the bin's window). Use the deepest bin
          // containing beg, walking to ancestors when absent — each
          // step widens the window, so the bound only gets more
          // conservative, never unsafe. Without this every candidate
          // chunk of every coarse bin survives the filter, costing a
          // pointless block open/seek/inflate per query (a remote GET
          // each on object stores).
          // Long shift: Int `1 << (depth*3)` wraps at depth >= 11 and
          // lands the walk on a wrong (shallow) bin id, whose loffset
          // could then unsafely inflate the lower bound
          var bin = ((((1L << (depth * 3)) - 1) / 7) +
            (begC >> minShift)).toInt
          var res = 0L
          var found = false
          while (!found && bin >= 0) {
            val i = if (ref.lOffsets.isEmpty) -1 else ref.binIndex(bin)
            if (i >= 0) { res = ref.lOffsets(i); found = true }
            else if (bin == 0) found = true
            else bin = (bin - 1) >> 3
          }
          res
        }
      }
      val cand = mutable.ArrayBuffer.empty[Chunk]
      reg2bins(begC, endC, minShift, depth).foreach { b =>
        val i = ref.binIndex(b)
        if (i >= 0) {
          var k = ref.chunkFrom(i)
          while (k < ref.chunkFrom(i + 1)) {
            if (ref.ends(k) > minOffset) cand += Chunk(
              VirtualPosition(ref.begins(k)), VirtualPosition(ref.ends(k)))
            k += 1
          }
        }
      }
      mergeChunks(cand.toSeq)
    }
  }

  /** Sort chunks by begin vpos and coalesce overlapping/adjacent ones.
    * Used both within one region's bin lookup and to dedupe the union of
    * chunk lists across a multi-region query — two regions landing in the
    * same bin otherwise plan the same compressed range twice and every
    * matching record is emitted per-duplicate. */
  def mergeChunks(chunks: Seq[Chunk]): Seq[Chunk] = {
    val sorted = chunks.sortBy(_.begin.value)
    val merged = mutable.ArrayBuffer.empty[Chunk]
    sorted.foreach { c =>
      merged.lastOption match {
        case Some(last) if c.begin.value <= last.end.value =>
          if (c.end.value > last.end.value)
            merged(merged.size - 1) = Chunk(last.begin, c.end)
        case _ => merged += c
      }
    }
    merged.toSeq
  }

  /** Group merged chunks into scan-partition ranges: consecutive chunks
    * whose compressed gap is ≤ `gapBytes` coalesce into one range, and a
    * range is cut once its compressed span would exceed `spanBytes`.
    *
    * Region queries over block-packed files otherwise plan one partition
    * PER index chunk — an 8 Mbp slice of a real BAM yields hundreds of
    * near-adjacent chunks, i.e. hundreds of tasks that each open the
    * file to read ~one block (observed in the r8 reader bench: 278
    * partitions for a 2 MB compressed slice). Decoding a bounded gap and
    * letting the residual region predicate drop its records costs
    * microseconds; a task costs milliseconds plus scheduler pressure, so
    * coalescing is strictly better until spans approach the split size. */
  def coalesceChunks(chunks: Seq[Chunk], gapBytes: Long,
      spanBytes: Long): Seq[Chunk] = {
    val merged = mergeChunks(chunks)
    val out = mutable.ArrayBuffer.empty[Chunk]
    merged.foreach { c =>
      out.lastOption match {
        case Some(last)
          if c.begin.compressedOffset - last.end.compressedOffset <= gapBytes &&
            c.end.compressedOffset - last.begin.compressedOffset <= spanBytes =>
          out(out.size - 1) = Chunk(last.begin, c.end)
        case _ => out += c
      }
    }
    out.toSeq
  }

  /** Pack gap-coalesced ranges into partition groups holding ~`spanBytes`
    * of real compressed data each (a zero-length chunk still costs one
    * block read, so it is charged a block).
    *
    * Complements [[coalesceChunks]]: records straddling coarse-bin
    * boundaries leave a tail of tiny chunks scattered across the
    * reference (a real BAM's BAI always has them), and gap coalescing
    * rightly refuses to span the multi-MB gaps between them. Packing
    * them into shared multi-range partitions bounds the task count by
    * data volume — ceil(bytes/spanBytes) — instead of by chunk scatter,
    * with zero read amplification. */
  def packRanges(chunks: Seq[Chunk], spanBytes: Long): Seq[Seq[Chunk]] = {
    val out = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Chunk]]
    var acc = 0L
    chunks.foreach { c =>
      val sz = math.max(
        c.end.compressedOffset - c.begin.compressedOffset, 1L << 16)
      if (out.isEmpty || acc + sz > spanBytes) {
        out += mutable.ArrayBuffer(c); acc = sz
      } else { out.last += c; acc += sz }
    }
    out.map(_.toSeq).toSeq
  }

  /** Bins overlapping [beg, end) for the given binning parameters
    * (SAM spec reg2bins generalized to CSI). */
  def reg2bins(beg: Long, end: Long, minShift: Int, depth: Int): Seq[Int] = {
    if (end <= beg) return Nil
    val out = mutable.ArrayBuffer.empty[Int]
    val e = end - 1
    var l = 0
    var t = 0L
    var s = minShift + depth * 3
    while (l <= depth) {
      val bOff = t + (beg >> s)
      val eOff = t + (e >> s)
      var b = bOff
      while (b <= eOff) { out += b.toInt; b += 1 }
      s -= 3
      t += 1L << (l * 3)
      l += 1
    }
    out.toSeq
  }

  /** Bin number of [beg, end) at the deepest level (for index writers). */
  def reg2bin(beg: Long, end: Long, minShift: Int = 14, depth: Int = 5): Int = {
    val e = end - 1
    var l = depth
    var s = minShift
    var t = ((1L << (depth * 3)) - 1) / 7
    while (l > 0) {
      if ((beg >> s) == (e >> s)) return (t + (beg >> s)).toInt
      s += 3
      l -= 1
      t -= 1L << (l * 3)
    }
    0
  }

  // ---------------------------------------------------------------- parsing

  /** Every reader below takes the whole index in one bulk read and parses
    * it from memory: a per-field stream read costs a Hadoop `read()` call
    * per byte of BAI, and a JNI inflate call per byte of TBI/CSI. */
  def readBai(in: InputStream): Index = {
    val d = new LEData(in.readAllBytes())
    require(d.readBytes(4, "magic").sameElements("BAI\u0001".getBytes),
      "bad BAI magic")
    val nRef = d.readCount("n_ref", 8)
    Index(14, 5, IndexedSeq.fill(nRef)(readRef(d, csi = false, depth = 5)),
      Map.empty, None)
  }

  def readCsi(in: InputStream): Index = {
    val d = new LEData(inflate(in))
    require(d.readBytes(4, "magic").sameElements("CSI\u0001".getBytes),
      "bad CSI magic")
    val minShift = d.readInt("min_shift")
    val depth = d.readInt("depth")
    // htslib writes 14/5 by default; depth <= 10 covers 2^(shift+30)
    // positions. Implausible values are corruption — raise a parse
    // error (findFor degrades it to the next suffix / full scan)
    // rather than let the shift math wrap downstream.
    require(minShift > 0 && minShift < 32 && depth >= 0 && depth <= 10,
      s"implausible CSI parameters min_shift=$minShift depth=$depth")
    val aux = d.readBytes(d.readInt("l_aux"), "l_aux")
    val nRef = d.readCount("n_ref", 4)
    val refs = IndexedSeq.fill(nRef)(readRef(d, csi = true, depth = depth))
    // aux may carry a tabix-style config+names payload
    val (names, cfg) = parseCsiAux(aux)
    Index(minShift, depth, refs, names, cfg)
  }

  def readTbi(in: InputStream): Index = {
    val d = new LEData(inflate(in))
    require(d.readBytes(4, "magic").sameElements("TBI\u0001".getBytes),
      "bad TBI magic")
    val nRef = d.readCount("n_ref", 8)
    val format = d.readInt("format")
    val colSeq = d.readInt("col_seq")
    val colBeg = d.readInt("col_beg")
    val colEnd = d.readInt("col_end")
    d.readInt("meta"); d.readInt("skip")
    val nameBytes = d.readBytes(d.readInt("l_nm"), "l_nm")
    val names = new String(nameBytes, "UTF-8").split("\u0000")
      .filter(_.nonEmpty).zipWithIndex.toMap
    val refs = IndexedSeq.fill(nRef)(readRef(d, csi = false, depth = 5))
    val zeroBased = (format & 0x10000) != 0
    Index(14, 5, refs, names, Some((colSeq, colBeg, colEnd, zeroBased)))
  }

  /** The whole gzip (or BGZF: concatenated gzip members) stream `in`,
    * read in one bulk read and inflated in one buffered pass. A stream
    * cut inside a member is a parse error like any other truncation. */
  private def inflate(in: InputStream): Array[Byte] = {
    val raw = in.readAllBytes()
    try new GZIPInputStream(new ByteArrayInputStream(raw), 1 << 16)
      .readAllBytes()
    catch {
      case e: java.io.EOFException => throw new IllegalArgumentException(
        s"index gzip stream of ${raw.length} bytes ends inside a member", e)
    }
  }

  private def parseCsiAux(aux: Array[Byte]):
      (Map[String, Int], Option[(Int, Int, Int, Boolean)]) = {
    if (aux.length < 28) return (Map.empty, None)
    val bb = ByteBuffer.wrap(aux).order(ByteOrder.LITTLE_ENDIAN)
    val format = bb.getInt; val colSeq = bb.getInt
    val colBeg = bb.getInt; val colEnd = bb.getInt
    bb.getInt; bb.getInt // meta, skip
    val lNm = bb.getInt
    if (lNm <= 0 || lNm > aux.length - 28) return (Map.empty, None)
    val nameBytes = new Array[Byte](lNm)
    bb.get(nameBytes)
    val names = new String(nameBytes, "UTF-8").split("\u0000")
      .filter(_.nonEmpty).zipWithIndex.toMap
    (names, Some((colSeq, colBeg, colEnd, (format & 0x10000) != 0)))
  }

  /** First non-real bin id for a binning scheme: real bins are
    * `0 until maxRealBins(depth)`; samtools/tabix/bcftools write per-ref
    * statistics into a metadata pseudo-bin past that (id 37450 for the
    * 14/5 scheme). Anything at or beyond this id must be excluded from
    * chunk math — its "chunks" are counts, not virtual positions. */
  def maxRealBins(depth: Int): Int =
    // clamp instead of .toInt-wrapping for depth >= 11 (bin ids are i32
    // in the file formats, so Int.MaxValue is the honest ceiling)
    math.min((((1L << ((depth + 1) * 3)) - 1) / 7), Int.MaxValue.toLong).toInt

  /** One reference's bins and linear index, read straight into flat
    * arrays: a first pass checks each bin's counts and notes where its
    * record starts; the real bins are then ordered by id (the last of a
    * repeated id wins; htslib writes bins in hash order) and read back
    * from those offsets into the arrays. */
  private def readRef(d: LEData, csi: Boolean, depth: Int): RefIndex = {
    val pseudoFrom = maxRealBins(depth)
    val head = if (csi) 16 else 8 // id, [loffset], n_chunk
    val nBin = d.readCount("n_bin", head)
    val at = new Array[Int](nBin)
    var nReal = 0
    var metadata: Option[RefMetadata] = None
    var i = 0
    while (i < nBin) {
      val p = d.position
      val id = d.readInt("bin")
      if (csi) d.readLong("loffset")
      val nChunk = d.readCount("n_chunk", 16)
      if (id < pseudoFrom) { at(nReal) = p; nReal += 1 }
      // metadata pseudo-bin: chunk0 = record vpos span, chunk1 = counts
      else if (nChunk >= 2) metadata = Some(RefMetadata(
        VirtualPosition(d.longAt(p + head)),
        VirtualPosition(d.longAt(p + head + 8)),
        d.longAt(p + head + 16), d.longAt(p + head + 24)))
      d.skip(16 * nChunk)
      i += 1
    }
    val order = byId(d, at, nReal)
    val n = order.length
    val binIds = new Array[Int](n)
    val lOffsets = new Array[Long](if (csi) n else 0)
    val chunkFrom = new Array[Int](n + 1)
    i = 0
    while (i < n) {
      binIds(i) = d.intAt(order(i))
      if (csi) lOffsets(i) = d.longAt(order(i) + 4)
      chunkFrom(i + 1) = chunkFrom(i) + d.intAt(order(i) + head - 4)
      i += 1
    }
    val begins = new Array[Long](chunkFrom(n))
    val ends = new Array[Long](chunkFrom(n))
    i = 0
    while (i < n) {
      var p = order(i) + head
      var k = chunkFrom(i)
      while (k < chunkFrom(i + 1)) {
        begins(k) = d.longAt(p); ends(k) = d.longAt(p + 8)
        p += 16; k += 1
      }
      i += 1
    }
    val linear = new Array[Long](if (csi) 0 else d.readCount("n_intv", 8))
    i = 0
    while (i < linear.length) { linear(i) = d.readLong("ioffset"); i += 1 }
    new RefIndex(binIds, chunkFrom, begins, ends, lOffsets, linear, metadata)
  }

  /** The bin record offsets `at(0 until n)` ordered by bin id, keeping
    * the last record of a repeated id. */
  private def byId(d: LEData, at: Array[Int], n: Int): Array[Int] = {
    // id in the high word, index in the low word: one primitive sort,
    // linear on the ascending ids most writers emit
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) { keys(i) = (d.intAt(at(i)).toLong << 32) | i; i += 1 }
    java.util.Arrays.sort(keys)
    val out = new Array[Int](n)
    var m = 0
    i = 0
    while (i < n) {
      if (i == n - 1 || (keys(i) >> 32) != (keys(i + 1) >> 32)) {
        out(m) = at(keys(i).toInt); m += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, m)
  }

  /** Auto-detect and load the companion index of `path`: tries
    * `<path>.bai/.csi/.tbi` (reference behavior `util/index.rs:181-230`). */
  def findFor(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Option[Index] = {
    def tryRead(suffix: String, read: InputStream => Index): Option[Index] = {
      val p = new org.apache.hadoop.fs.Path(path.toString + suffix)
      // one metadata RPC (open + FileNotFoundException) instead of
      // exists + open; a PRESENT-but-corrupt index (zero-byte stale
      // .bai next to a valid .csi) falls through to the next suffix —
      // and if every suffix fails the caller's no-index path is a full
      // scan with the residual predicate, which stays correct
      val in =
        try fs.open(p)
        catch { case _: java.io.FileNotFoundException => return None }
      try Some(read(in))
      catch {
        case e: Exception =>
          System.err.println(
            s"[graft] unreadable index $p ($e) — " +
              "falling back to the next index suffix or a full scan")
          None
      } finally in.close()
    }
    tryRead(".bai", readBai)
      .orElse(tryRead(".csi", readCsi))
      .orElse(tryRead(".tbi", readTbi))
  }

  // ----------------------------------------------------- split planning (R1)

  /** Compute record-aligned split points from an index: every chunk-begin
    * and linear-index virtual position, deduplicated and pruned so
    * consecutive boundaries are ≥ `chunksize` compressed bytes apart.
    * Returns split-start vpos in ascending order (callers pair them into
    * [start, next) ranges). An index holds an offset per chunk and per
    * 16 kbp window, so they go into one primitive array: one sort, then
    * one greedy walk, with no per-offset boxing. `chunksize` is positive. */
  def partitionFromIndex(index: Index, chunksize: Long): Seq[VirtualPosition] = {
    require(chunksize > 0, s"split size must be positive, got $chunksize")
    val offsets = new Array[Long](
      index.refs.iterator.map(r => r.begins.length + r.linear.length).sum)
    var n = 0
    index.refs.foreach { r =>
      System.arraycopy(r.begins, 0, offsets, n, r.begins.length)
      n += r.begins.length
      System.arraycopy(r.linear, 0, offsets, n, r.linear.length)
      n += r.linear.length
    }
    java.util.Arrays.sort(offsets)
    // a repeat is 0 bytes from its first copy, so it is never taken
    // twice; offsets <= 0 (zero linear entries) are never splits
    val out = mutable.ArrayBuffer.empty[VirtualPosition]
    var last = 0L
    offsets.foreach { v =>
      if (v > 0 && (out.isEmpty || (v >>> 16) - last >= chunksize)) {
        out += VirtualPosition(v); last = v >>> 16
      }
    }
    out.toSeq
  }

  /** Little-endian primitive reader over an index held in memory. Every
    * read checks the bytes left, and every count is checked against them
    * before anything is sized from it, so a truncated or hostile index
    * raises an `IllegalArgumentException` naming the field and its
    * offset — a parse error that [[findFor]] turns into a fallback —
    * instead of allocating from a declared count. */
  private[formats] final class LEData(bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def position: Int = bb.position()
    private def need(n: Long, field: String): Unit =
      require(n >= 0 && n <= bb.remaining, s"index field $field at offset " +
        s"${bb.position()} needs $n bytes, ${bb.remaining} left")
    def readBytes(n: Int, field: String): Array[Byte] = {
      need(n, field)
      val b = new Array[Byte](n); bb.get(b); b
    }
    def readInt(field: String): Int = { need(4, field); bb.getInt() }
    def readLong(field: String): Long = { need(8, field); bb.getLong() }
    /** A count field whose entries take at least `entryBytes` each. */
    def readCount(field: String, entryBytes: Int): Int = {
      val n = readInt(field)
      require(n >= 0 && n.toLong * entryBytes <= bb.remaining,
        s"index field $field = $n at offset ${bb.position() - 4} exceeds " +
          s"the ${bb.remaining} bytes left")
      n
    }
    /** Skip or read, at an absolute offset, bytes a checked count covers. */
    def skip(n: Int): Unit = bb.position(bb.position() + n)
    def intAt(p: Int): Int = bb.getInt(p)
    def longAt(p: Int): Long = bb.getLong(p)
  }
}
