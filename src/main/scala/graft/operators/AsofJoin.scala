package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe backward as-of join (each probe row matched to the latest
  * reference row at-or-before its time, per key).
  *
  * Shape: union the two inputs into one keyed timeline, shuffle ONCE on
  * the key, sort each key's timeline ONCE, then fill reference columns
  * forward with running `last(_, ignoreNulls)` and keep the probe rows.
  * Cost is O(shuffle + sort + linear scan) regardless of how many
  * reference rows precede each probe — unlike the naive
  * join-all-earlier + row_number()=1 plan, whose intermediate is
  * quadratic per hot key and which re-sorts per probe row. All
  * operations are codegen'd built-ins (running window frames evaluate
  * in linear time).
  *
  * Matches the as-of semantics of the reference's query layer (probe
  * rows with no earlier reference row get nulls; drop them for inner
  * semantics).
  *
  * SKEW BOUND of [[backward]]/[[forward]]: the running fill is a
  * per-key window, so one key = one task for the fill stage — standard
  * for as-of semantics and fine for well-distributed keys (event keys
  * are typically high-cardinality), but a single hot key holding most
  * rows serializes the stage, exactly like [[IntervalOps
  * .mergeIntervals]]' per-chromosome window. [[backwardRange]] /
  * [[forwardRange]] are the skew-robust twins: identical results
  * through [[RangeFill]]'s range-partitioned two-pass fill, where a
  * hot key spreads across ALL partitions; they cost one extra
  * sampling pass plus the small pass-A summary job, so the window
  * variants stay the default for balanced keys.
  */
object AsofJoin {

  /** @param probe     left side; every row is kept (left-outer as-of)
    * @param ref       right side supplying the as-of payload
    * @param probeKey  equality key column in `probe`
    * @param refKey    equality key column in `ref` (renamed to probeKey)
    * @param probeTime probe event-time column (cast to timestamp)
    * @param refTime   reference event-time column (cast to timestamp);
    *                  ties with a probe time match (inclusive <=)
    * @param tieBreak  extra `ref` columns ordering same-time reference
    *                  rows ascending — the LAST one wins
    * @param tolerance max allowed probe-minus-reference gap in
    *                  MICROSECONDS (both timelines are cast to
    *                  timestamp, so one unit serves every input type);
    *                  a match older than the tolerance is nulled
    *                  struct-atomically, exactly as if it did not
    *                  exist — the kdb `wj`/pandas `merge_asof`
    *                  tolerance semantics
    * @return probe columns plus the matched ref payload columns (null
    *         when no reference row precedes the probe) */
  def backward(probe: DataFrame, ref: DataFrame, probeKey: String,
      refKey: String, probeTime: String, refTime: String,
      tieBreak: Seq[String] = Nil,
      tolerance: Option[Long] = None): DataFrame =
    asofImpl(probe, ref, probeKey, refKey, probeTime, refTime,
      tieBreak, tolerance, forwardDir = false)

  /** Forward as-of join: each probe row matched to the EARLIEST
    * reference row at-or-after its time, per key — the other direction
    * of pandas `merge_asof(direction='forward')` (funnel attribution:
    * "the next purchase after this click"). Same machinery as
    * [[backward]] with the timeline walked in reverse; `tolerance`
    * bounds `refTime - probeTime` in microseconds; among reference
    * rows sharing (key, time) the LAST in `tieBreak` order still
    * wins. */
  def forward(probe: DataFrame, ref: DataFrame, probeKey: String,
      refKey: String, probeTime: String, refTime: String,
      tieBreak: Seq[String] = Nil,
      tolerance: Option[Long] = None): DataFrame =
    asofImpl(probe, ref, probeKey, refKey, probeTime, refTime,
      tieBreak, tolerance, forwardDir = true)

  /** [[backward]] through [[RangeFill]]'s range-partitioned two-pass
    * fill instead of the per-key window: identical results, but a
    * single hot key (one symbol holding most of the tape) spreads
    * across all `partitions` instead of serializing one task. Use when
    * the largest key's row share is unbounded; see the object scaladoc
    * for the cost trade. */
  def backwardRange(probe: DataFrame, ref: DataFrame, probeKey: String,
      refKey: String, probeTime: String, refTime: String,
      tieBreak: Seq[String] = Nil, tolerance: Option[Long] = None,
      partitions: Int = 0): DataFrame =
    asofImpl(probe, ref, probeKey, refKey, probeTime, refTime,
      tieBreak, tolerance, forwardDir = false,
      rangePartitions = Some(partitions))

  /** [[forward]]'s skew-robust twin; see [[backwardRange]]. */
  def forwardRange(probe: DataFrame, ref: DataFrame, probeKey: String,
      refKey: String, probeTime: String, refTime: String,
      tieBreak: Seq[String] = Nil, tolerance: Option[Long] = None,
      partitions: Int = 0): DataFrame =
    asofImpl(probe, ref, probeKey, refKey, probeTime, refTime,
      tieBreak, tolerance, forwardDir = true,
      rangePartitions = Some(partitions))

  private def asofImpl(probe: DataFrame, ref: DataFrame,
      probeKey: String, refKey: String, probeTime: String,
      refTime: String, tieBreak: Seq[String],
      tolerance: Option[Long], forwardDir: Boolean,
      rangePartitions: Option[Int] = None): DataFrame = {
    tolerance.foreach(tol =>
      require(tol >= 0, "tolerance must be >= 0 microseconds"))
    // working-column names probed to miss BOTH inputs (the
    // IntervalJoin.overlapJoin fresh() pattern): a caller column named
    // "__asof_t" would otherwise duplicate in the union projection and
    // make the window's time reference ambiguous. Case-insensitive,
    // because withColumn/drop resolve case-insensitively under the
    // default spark.sql.caseSensitive=false.
    val used = (probe.columns ++ ref.columns).toSeq
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !used.exists(_.equalsIgnoreCase(n))).get
    val t = fresh("__asof_t")
    val isProbe = fresh("__asof_is_probe")
    val refStruct = fresh("__asof_ref")
    val probePayload = probe.columns.toSeq.filterNot(_ == probeKey)
    val refPayload = ref.columns.toSeq.filterNot(_ == refKey)
    // the output carries probeKey + probe payload + ref payload, so a
    // ref payload column named like probeKey collides too (duplicate
    // output names → ambiguous downstream references)
    val collisions = probePayload.intersect(refPayload) ++
      refPayload.filter(_ == probeKey)
    require(collisions.isEmpty,
      s"column collision: ${collisions.mkString(",")}")

    // ref payload travels as ONE struct so the running fill is row-atomic
    // (per-column last(ignoreNulls) could mix reference rows when a
    // payload column is legitimately null)
    val refStructType = org.apache.spark.sql.types.StructType(
      refPayload.map(c => ref.schema(c)))
    val probeU = probe.select(
      col(probeKey) +: col(probeTime).cast("timestamp").as(t) +:
        lit(1).as(isProbe) +: probePayload.map(col) :+
        lit(null).cast(refStructType).as(refStruct): _*)
    // a null (or uncastable) refTime would sort NULLS FIRST — before
    // every real row of its key — and its payload would become the
    // "earliest" match for every probe with no genuine predecessor;
    // a reference row without a time cannot be an as-of match at all.
    // A null KEY cannot match either: Window.partitionBy groups nulls
    // TOGETHER, so an unfiltered null-key reference row would supply
    // payloads to null-key probes — where the equi-join these window
    // semantics replace (key = key is never true for nulls) returns
    // null payloads. Null-key PROBE rows are kept (left-outer), they
    // just match nothing.
    val refU = ref
      .where(col(refKey).isNotNull &&
        col(refTime).cast("timestamp").isNotNull)
      .select(
        col(refKey).as(probeKey) +: col(refTime).cast("timestamp").as(t) +:
          lit(0).as(isProbe) +: probePayload.map(c =>
            lit(null).cast(probe.schema(c).dataType).as(c)) :+
          struct(refPayload.map(col): _*).as(refStruct): _*)

    // reference rows sort before probe rows at equal time (inclusive
    // as-of); among same-time reference rows the tieBreak order decides
    // (probe rows carry a null struct, so their tieBreak fields are null
    // and nulls_first keeps them out of the reference ordering).
    // Forward direction = the same running frame over a REVERSED
    // timeline: last(ignoreNulls) then picks the smallest
    // at-or-after reference time instead of the largest at-or-before.
    // NULLS FIRST in BOTH directions: a probe row with a null (or
    // uncastable) time can never be an as-of match, so it must sort
    // before every reference row and fill null. asc defaults to nulls
    // first, but desc defaults to NULLS LAST — which would sort a
    // null-time probe after the whole reversed timeline and hand it
    // the smallest-time reference row as a spurious "match".
    val timeOrd =
      if (forwardDir) col(t).desc_nulls_first else col(t).asc
    val ordering: Seq[Column] =
      timeOrd +: col(isProbe).asc +:
        tieBreak.map(c => col(s"$refStruct.$c").asc_nulls_first)

    // the fill step is the ONLY physical difference between the window
    // variants and the *Range twins: same union, same ordering, same
    // running last(ignoreNulls) semantics
    val unioned = probeU.unionByName(refU)
    val filled = rangePartitions match {
      case Some(n) =>
        RangeFill.fill(unioned, probeKey, refStruct, ordering, n)
      case None =>
        val w = Window.partitionBy(col(probeKey)).orderBy(ordering: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned.withColumn(refStruct,
          last(col(refStruct), ignoreNulls = true).over(w))
    }
    // tolerance nulls the WHOLE struct (row-atomic, like the fill
    // itself): a too-old match must be indistinguishable from no match
    val bounded = tolerance match {
      case None => filled
      case Some(tol) =>
        val mt = col(s"$refStruct.$refTime").cast("timestamp")
        val gap =
          if (forwardDir) unix_micros(mt) - unix_micros(col(t))
          else unix_micros(col(t)) - unix_micros(mt)
        val ok = mt.isNotNull && (gap <= tol)
        filled.withColumn(refStruct, when(ok, col(refStruct)))
    }
    bounded
      .where(col(isProbe) === 1)
      .select(col(probeKey) +: (probePayload.map(col) ++
        refPayload.map(c => col(s"$refStruct.$c").as(c))): _*)
  }
}
