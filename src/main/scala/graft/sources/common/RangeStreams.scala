package graft.sources.common

import java.io.InputStream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/** Lazily concatenates a sequence of input streams: each opens only when
  * the read position reaches it, and `close()` closes ONLY the stream
  * currently open.
  *
  * Exists because `java.io.SequenceInputStream.close()` drains its
  * enumeration, instantiating every remaining stream just to close it —
  * for BGZF range streams that constructor cost is a file open, a seek
  * and a block inflate per unread range, so closing a partially-read
  * multi-range partition (e.g. a `limit`/`show` over a packed region
  * query) would pay hundreds of pointless opens (remote GETs on object
  * stores). */
final class LazyConcatInputStream(parts: Iterator[() => InputStream],
    onClose: () => Unit = () => ()) extends InputStream {
  private var cur: InputStream = _
  private var closed = false
  private val one = new Array[Byte](1)

  /** Close the current stream and open the next; false at exhaustion. */
  private def advance(): Boolean = {
    if (cur != null) { cur.close(); cur = null }
    if (parts.hasNext) { cur = parts.next()(); true } else false
  }

  override def read(): Int = {
    val n = read(one, 0, 1)
    if (n <= 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (closed) return -1
    if (len == 0) return 0
    var out = -1
    var looping = true
    while (looping) {
      if (cur == null && !advance()) looping = false
      else {
        val n = cur.read(b, off, len)
        if (n > 0) { out = n; looping = false }
        // n == 0 for len > 0 violates the InputStream contract: advancing
        // would silently drop the rest of that part's bytes — fail loudly
        else if (n == 0) throw new java.io.IOException(
          s"underlying stream returned 0 for a $len-byte read")
        else if (!advance()) looping = false
      }
    }
    out
  }

  override def close(): Unit = {
    if (!closed) {
      closed = true
      try { if (cur != null) { cur.close(); cur = null } }
      finally onClose()
    }
  }
}

/** Shared plumbing for multi-range partition readers and the columnar
  * batch path (one definition — the BAM/BCF/text readers must not
  * drift apart). */
object RangeStreams {

  /** One contiguous record stream over record-aligned (startVpos,
    * endVpos) ranges of a BGZF file, each range's stream opened lazily
    * when reached.
    *
    * One seekable input is shared across every range of the partition —
    * a per-range open costs getFileStatus + open + gzip-magic probe
    * (2-3 RPCs each on object stores), so an N-range partition would
    * pay 3N round-trips on the same file. The input opens lazily with
    * the first range (an unread partition — `limit`/`show` — still
    * pays nothing) and is closed once by the concat stream. */
  def bgzfRanges(fs: FileSystem, path: Path,
      ranges: Seq[(Long, Long)]): InputStream = {
    var shared: graft.formats.Bgzf.SeekableInput = null
    var rawMode: Option[Boolean] = None
    new LazyConcatInputStream(
      ranges.iterator.map { case (a, b) => () =>
        if (shared == null)
          shared = graft.formats.SeekableInputs.forHadoop(fs, path)
        if (rawMode.isEmpty)
          rawMode = Some(!graft.formats.Bgzf.hasGzipMagic(shared))
        new graft.formats.BgzfRangeInputStream(
          shared,
          graft.formats.Bgzf.VirtualPosition(a),
          Some(graft.formats.Bgzf.VirtualPosition(b)),
          ownsInput = false,
          rawModeHint = rawMode): InputStream
      },
      onClose = () => if (shared != null) shared.close())
  }

  /** Columnar-read eligibility of [[GenomicReaderFactory]]: opt-in
    * (`columnar=true` — off by default, see its measurement note) and a
    * flat primitive/string projection. */
  def columnarEligible(options: Map[String, String],
      required: StructType): Boolean =
    (options.getOrElse("columnar", "false").toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"option columnar must be true or false, got '$other'")
    }) &&
      required.fields.nonEmpty &&
      required.fields.forall(_.dataType match {
        case LongType | IntegerType | DoubleType | FloatType |
             BooleanType | StringType => true
        case _ => false
      })
}
