package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{RangeSweep, SweepCol, SweepInput, SweepIterator, SweepKernel}
import org.apache.spark.sql.types.{ArrayType, BooleanType}

/** Skew-robust distributed running fill: the range-partitioned two-pass
  * replacement for the textbook
  * `last(c, ignoreNulls = true) OVER (PARTITION BY key ORDER BY ...
  * ROWS UNBOUNDED PRECEDING)` window, whose one-task-per-key shape
  * serializes an entire stage on a skewed key (one chromosome holding
  * most of a genome's intervals, one symbol holding most of a tape's
  * ticks). Results are IDENTICAL to the window formulation; only the
  * physical plan changes.
  *
  * Scale shape: one [[RangeSweep]] over a range shuffle on
  * (key, ordering) — a single-key load uses ALL partitions, not one
  * task. The driver state is O(partitions), INDEPENDENT of key
  * cardinality (see [[KeyRuns]]).
  *
  * Both passes run on the plan's `InternalRow`s: rows that need no fill
  * pass through untouched. Cost vs the window: one range-boundary
  * sampling job plus the (tiny) pass-A summary job — the price of skew
  * robustness. Callers with guaranteed-balanced high-cardinality keys
  * can keep the plain window; callers that cannot bound the largest
  * key's share should use this.
  */
object RangeFill {

  /** @param df      input frame
    * @param key      partition-key column name (the window's
    *                 PARTITION BY); null keys group together, exactly
    *                 as `Window.partitionBy` groups them
    * @param fillCol  column to fill: each row gets the latest non-null
    *                 value of this column at-or-before it in
    *                 (key, order) sort order (its own value when
    *                 non-null — the inclusive running frame)
    * @param order    the window's ORDER BY within each key (sort
    *                 direction and null placement respected)
    * @param partitions range-partition count; 0 = the session's
    *                 shuffle-partition default
    * @return the input rows (in range-partition order) with `fillCol`
    *         filled; schema unchanged */
  def fill(df: DataFrame, key: String, fillCol: String,
      order: Seq[Column], partitions: Int = 0): DataFrame =
    // the range exprs ARE the full window ordering (key first): range
    // partitions then concatenate to the exact global sort the window
    // would produce, and equal key tuples never straddle a boundary
    RangeSweep.frame(df, FillSweep, Seq(key, fillCol), col(key).asc +: order,
      Nil, partitions)

  /** Bidirectional [[fill]] over ONE range shuffle: `fwdCol` fills with
    * the latest non-null value at-or-before each row in (key, order)
    * row order (exactly [[fill]]), and `bwdCol` fills with the NEXT
    * non-null value at-or-after it — the reverse-direction fill that
    * would otherwise cost a second range shuffle with the ordering
    * flipped. Callers that sweep one timeline in both directions
    * (closest's left/right candidates, reldist's flanking midpoints)
    * pay one range-boundary sampling job, one pass-A summary job, and
    * one shuffle instead of two of each.
    *
    * Scale shape: pass B streams forward once: rows whose `bwdCol` is
    * null are buffered (copied) until the next non-null value of their
    * key arrives — or their key ends (no later value exists → stays
    * null), or the partition ends (the trailing run takes the backward
    * carry). Buffer memory is the longest gap between
    * consecutive non-null `bwdCol` values within one key — the
    * distance between adjacent reference rows on a timeline, NOT the
    * partition (a whole partition only when a key has no reference
    * rows at all).
    *
    * @param probeCol optional name of a BOOLEAN column: when set, only
    *                 rows where it is true ("probes") receive fills or
    *                 enter the pending buffer — every other row passes
    *                 through untouched as the plan's own live row (its
    *                 non-null fwd/bwd values still drive the running
    *                 state). Event-timeline callers whose reference
    *                 rows never consume a fill (closest, reldist) skip
    *                 one full-row copy per reference row this way. The
    *                 cost: with probeCol set, a partition's output may
    *                 interleave pass-through rows ahead of buffered
    *                 probes, so within-partition row ORDER is not
    *                 preserved (both callers filter + aggregate). */
  def fillBoth(df: DataFrame, key: String, fwdCol: String,
      bwdCol: String, order: Seq[Column], partitions: Int = 0,
      probeCol: Option[String] = None): DataFrame =
    RangeSweep.frame(df, FillSweep,
      Seq(key, fwdCol, bwdCol) ++ probeOf(df, probeCol),
      col(key).asc +: order, Nil, partitions)

  /** K-deep [[fillBoth]]: instead of ONE value per direction, every
    * probe row receives the last `k` non-null `fwdCol` values
    * at-or-before it (most-recent-first) and the next `k` non-null
    * `bwdCol` values at-or-after it (earliest-first), as two NEW array
    * columns appended to the schema (`outFwd`, `outBwd`) — the
    * "as-of join with k matches" primitive under
    * [[IntervalOps.closestK]]'s bedtools `closest -k` analogue.
    * Rows where `probeCol` is false/absent pass through with null
    * arrays (their non-null fwd/bwd values still drive the running
    * state). A row's OWN non-null value is included in its fill, both
    * directions — [[fillBoth]]'s inclusive at-or-before / at-or-after
    * contract.
    *
    * Scale shape — [[fillBoth]]'s, with O(partitions × k) driver
    * state. Pass B streams forward once keeping a k-deep deque; probes
    * awaiting backward values buffer until k values arrive, their key
    * ends, or the partition ends (the carry tops up). Buffer memory is
    * k × the gap between reference rows, not the partition.
    *
    * Within-partition output ORDER is not preserved (buffered probes
    * flush behind pass-through rows) — callers filter + aggregate,
    * exactly [[fillBoth]]'s probeCol contract. */
  def fillBothK(df: DataFrame, key: String, fwdCol: String,
      bwdCol: String, outFwd: String, outBwd: String, k: Int,
      order: Seq[Column], partitions: Int = 0,
      probeCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"fillBothK needs k >= 1, got $k")
    RangeSweep.frame(df, FillKSweep(k, outFwd, outBwd),
      Seq(key, fwdCol, bwdCol) ++ probeOf(df, probeCol),
      col(key).asc +: order, Nil, partitions)
  }

  private def probeOf(df: DataFrame, probeCol: Option[String])
      : Option[String] = probeCol.map { p =>
    require(df.schema(p).dataType == BooleanType,
      s"probeCol $p must be boolean, got " +
        df.schema(p).dataType.simpleString)
    p
  }
}

/** A sorted partition's key runs as the carry walks need them: its
  * first and last key, the last ≤k non-null forward values of the
  * trailing key run (most recent first) and the first ≤k non-null
  * backward values of the leading key run (earliest first). Range
  * partitions are contiguous in the total order, so only a partition's
  * FIRST key can continue from earlier partitions (and only its LAST
  * key into later ones). */
private[operators] final case class KeyRuns(first: Any, last: Any,
    tailFwd: List[Any], leadBwd: List[Any])

/** The ≤k forward values entering a partition's first key run and the
  * ≤k backward values following its last key run. */
private[operators] final case class RunCarry(fwd: List[Any], bwd: List[Any])

/** The fill family's pass A and carry walks. Inputs are (key, fwd,
  * [bwd, [probe]]). */
private[operators] abstract class RunSweep(k: Int)
    extends SweepKernel[Option[KeyRuns], RunCarry] {

  def summarize(rows: Iterator[InternalRow], in: SweepInput)
      : Option[KeyRuns] = {
    val run = new KeyRun(in.cols(0))
    val fwd = in.cols(1)
    val bwd = in.cols.lift(2).orNull
    var tail: List[Any] = Nil
    var lead: List[Any] = Nil
    var leadN = 0
    var inLeading = true
    rows.foreach { r =>
      if (run.changed(r)) { tail = Nil; inLeading = false }
      if (!fwd.isNull(r)) tail = (fwd.copy(r) :: tail).take(k)
      if (bwd != null && inLeading && leadN < k && !bwd.isNull(r)) {
        lead = bwd.copy(r) :: lead; leadN += 1
      }
    }
    if (run.seen) Some(KeyRuns(run.first, run.cur, tail, lead.reverse))
    else None
  }

  /** Forward: a partition continues the chain when the previous
    * non-empty partition's last key equals its first key; a
    * single-key partition passes its carry-in on below its own values,
    * and a key that began mid-partition takes nothing from earlier
    * partitions. Backward is the mirror walk. */
  def resolve(s: IndexedSeq[Option[KeyRuns]]): IndexedSeq[RunCarry] = {
    def walk(order: Seq[Int], joins: (KeyRuns, KeyRuns) => Boolean,
        own: KeyRuns => List[Any]): Array[List[Any]] = {
      val carry = Array.fill[List[Any]](s.length)(Nil)
      var prev: KeyRuns = null
      var prevOut: List[Any] = Nil
      for (p <- order; r <- s(p)) {
        if (prev != null && joins(prev, r)) carry(p) = prevOut
        prevOut = (own(r) ++ (if (r.first == r.last) carry(p) else Nil))
          .take(k)
        prev = r
      }
      carry
    }
    val fwd = walk(s.indices, _.last == _.first, _.tailFwd)
    val bwd = walk(s.indices.reverse, _.first == _.last, _.leadBwd)
    s.indices.map(p => RunCarry(fwd(p), bwd(p)))
  }

  /** The current key of a sorted stream, detached from the row buffer. */
  protected final class KeyRun(key: SweepCol) {
    var seen = false
    var first: Any = null
    var cur: Any = null
    /** Whether `r` starts a new key after the first row. */
    def changed(r: InternalRow): Boolean = {
      val kv = key.get(r)
      val isNew = seen && kv != cur
      if (!seen || isNew) cur = InternalRow.copyValue(kv)
      if (!seen) { seen = true; first = cur }
      isNew
    }
  }

  protected def isProbe(r: InternalRow, in: SweepInput): Boolean =
    in.cols.length < 4 || {
      val p = in.cols(3)
      !p.isNull(r) && r.getBoolean(p.ordinal)
    }
}

/** [[RangeFill.fill]] and [[RangeFill.fillBoth]]: fills in place. */
private[operators] case object FillSweep extends RunSweep(1) {

  def output(child: Seq[Attribute], inputs: Seq[Attribute])
      : Seq[Attribute] = {
    val filled = inputs.slice(1, 3).map(_.exprId).toSet
    child.map(a => if (filled(a.exprId)) a.newInstance() else a)
  }

  def sweep(rows: Iterator[InternalRow], in: SweepInput, carry: RunCarry)
      : Iterator[InternalRow] = new SweepIterator(rows) {
    private val run = new KeyRun(in.cols(0))
    private val fwd = in.cols(1)
    private val bwd = in.cols.lift(2).orNull
    // null-bwd probes wait, detached, for their key's next bwd value
    private val pend = mutable.ArrayBuffer.empty[Array[Any]]
    private var curFwd: Any = carry.fwd.headOption.orNull
    private def flush(bwdVal: Any): Unit = {
      pend.foreach { vals =>
        if (bwdVal != null) vals(bwd.ordinal) = bwdVal
        emit(new GenericInternalRow(vals))
      }
      pend.clear()
    }
    protected def step(r: InternalRow): Unit = {
      if (run.changed(r)) {
        curFwd = null
        flush(null) // the old key ended: no later value exists
      }
      val fwdNull = fwd.isNull(r)
      if (!fwdNull) curFwd = fwd.copy(r)
      val bwdNull = bwd != null && bwd.isNull(r)
      if (bwd != null && !bwdNull) flush(bwd.copy(r))
      if (!isProbe(r, in)) emit(r)
      else if (bwdNull) {
        val vals = in.fields(r, detach = true)
        if (fwdNull && curFwd != null) vals(fwd.ordinal) = curFwd
        pend += vals
      } else if (fwdNull && curFwd != null) {
        val vals = in.fields(r)
        vals(fwd.ordinal) = curFwd
        emit(new GenericInternalRow(vals))
      } else emit(r)
    }
    // the trailing run takes the value from later partitions
    override protected def finish(): Unit =
      flush(carry.bwd.headOption.orNull)
  }
}

/** [[RangeFill.fillBothK]]: appends the two k-deep array columns. */
private[operators] final case class FillKSweep(k: Int, outFwd: String,
    outBwd: String) extends RunSweep(k) {

  def output(child: Seq[Attribute], inputs: Seq[Attribute])
      : Seq[Attribute] = child ++ Seq(
    AttributeReference(outFwd, ArrayType(inputs(1).dataType))(),
    AttributeReference(outBwd, ArrayType(inputs(2).dataType))())

  def sweep(rows: Iterator[InternalRow], in: SweepInput, carry: RunCarry)
      : Iterator[InternalRow] = new SweepIterator(rows) {
    private val run = new KeyRun(in.cols(0))
    private val fwd = in.cols(1)
    private val bwd = in.cols(2)
    private val n = in.types.length
    // pending probes: detached fields + the backward values so far
    private val pend =
      mutable.ArrayBuffer.empty[(Array[Any], mutable.ArrayBuffer[Any])]
    private val deque = mutable.ArrayDeque.from(carry.fwd)
    private def done(vals: Array[Any], got: Iterable[Any]): Unit = {
      vals(n + 1) = new GenericArrayData(got.toArray)
      emit(new GenericInternalRow(vals))
    }
    private def flush(more: List[Any]): Unit = {
      pend.foreach { case (vals, got) => done(vals, (got ++ more).take(k)) }
      pend.clear()
    }
    protected def step(r: InternalRow): Unit = {
      if (run.changed(r)) {
        deque.clear()
        flush(Nil) // the old key ended: no later values
      }
      if (!fwd.isNull(r)) {
        deque.prepend(fwd.copy(r))
        if (deque.length > k) deque.removeLast()
      }
      if (isProbe(r, in)) {
        val vals = in.fields(r, extra = 2, detach = true)
        vals(n) = new GenericArrayData(deque.toArray)
        // enqueued with no values BEFORE this row's own bwd value is
        // applied, so a probe that is also a reference row collects
        // its own value exactly once (the inclusive at-or-after contract)
        pend += ((vals, mutable.ArrayBuffer.empty[Any]))
      } else emit(new GenericInternalRow(in.fields(r, extra = 2)))
      if (!bwd.isNull(r)) {
        val v = bwd.copy(r)
        pend.foreach(_._2 += v)
        val (full, waiting) = pend.partition(_._2.length >= k)
        full.foreach { case (vals, got) => done(vals, got) }
        pend.clear(); pend ++= waiting
      }
    }
    override protected def finish(): Unit = flush(carry.bwd)
  }
}
