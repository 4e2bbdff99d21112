package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{RangeSweep, SweepInput, SweepIterator, SweepKernel}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Interval-set algebra over (chrom, start, end) frames — the
  * bedtools-merge family the reference leaves to downstream engines
  * (its own surface stops at indexed scans; see
  * `/root/reference/oxbow/src/util/index.rs` for the binning it uses
  * internally).
  *
  * Scale shape: one shuffle to order each chromosome's intervals, then a
  * running-maximum sweep — the textbook window formulation Catalyst
  * executes with partial windows and no driver state. Chromosome count
  * bounds parallelism of the window stage; genomic data has enough
  * chromosomes/contigs to keep a cluster busy, and a salt column can
  * split a pathological single-contig load at the cost of a second
  * merge pass over the salt boundaries.
  */
/** Strand constraint for the interval operators — the bedtools
  * `-s`/`-S` analogue (the reference's own BED/GFF models type a
  * strand column, `bed/model/field_def.rs:16-32`,
  * `gxf/model/field.rs:9-51`; the reference leaves the stranded
  * OPERATORS to downstream engines).
  *
  * Semantics (engineering contract, replayed verbatim by the oracle
  * gates): strands compare as RAW STRINGS under [[Strandedness.Same]]
  * (so `'.'` matches `'.'`), and under [[Strandedness.Opposite]] only
  * a `'+'`/`'-'` pairing matches (a `'.'` has no opposite). A null
  * strand never matches anything.
  *
  * A-side rows whose strand cannot match anything are KEPT and
  * reported as unmatched — bedtools' own `-s`/`-S` behavior (subtract
  * returns them unmodified, coverage reports zero, closest reports no
  * hit). Predicate-based operators (overlapJoin, windowJoin,
  * mapOverlaps, overlapFilter) get this for free from the join
  * condition; key-based operators (closest/closestAll, subtract,
  * coverageBy, annotate — where the strand joins the sweep/merge KEY)
  * get it from [[IntervalOps.strandKeyCols]]'s total A fragment,
  * whose NUL sentinel can never equal a B strand. B-side null-strand
  * rows still drop from key-based operators (they could never match;
  * their absence is invisible). Pinned by the q107 oracle gate
  * (Opposite subtract over '.'-strand rows) and the stranded unit
  * specs. */
/** Sign convention for closest's `signed_distance` — the bedtools
  * `closest -D ref|a|b` analogue. Negative = the B feature is
  * "upstream" of A under the convention; 0 for any overlap or
  * book-ended touch.
  *  - [[DistanceMode.Ref]] (`-D ref`): upstream = lower reference
  *    coordinate (B entirely at-or-below A's start).
  *  - [[DistanceMode.RespectA]] (`-D a`): as ref, but when A's strand
  *    column holds `'-'` the sign flips (upstream = higher
  *    coordinate). Any other strand value (`'+'`, `'.'`, null) leaves
  *    the ref sign — bedtools' unstranded-feature rule.
  *  - [[DistanceMode.RespectB]] (`-D b`): as ref, but the sign flips
  *    when the CANDIDATE B's strand is `'-'`.
  */
sealed trait DistanceMode
object DistanceMode {
  case object Ref extends DistanceMode
  /** `-D a`: sign relative to A's strand (`aCol` names A's column). */
  final case class RespectA(aCol: String = "strand") extends DistanceMode
  /** `-D b`: sign relative to each candidate B's strand. */
  final case class RespectB(bCol: String = "strand") extends DistanceMode
}

/** Candidate-set options for [[IntervalOps.closest]] /
  * [[IntervalOps.closestAll]] / [[IntervalOps.closestK]] — the
  * bedtools `closest -io -iu -id -D` flags.
  *
  * Semantics (engineering contract, replayed by the q112/q113 oracle
  * gates):
  *  - `ignoreOverlaps` (`-io`): STRICTLY overlapping B features are
  *    not candidates; book-ended features (0 shared bases, distance 0)
  *    remain — bedtools counts only bp-sharing features as overlaps.
  *  - `ignoreUpstream` / `ignoreDownstream` (`-iu` / `-id`): B
  *    features whose signed distance under `distanceMode` is negative
  *    (resp. positive) are not candidates; distance-0 features
  *    (overlap or touch) are neither upstream nor downstream and
  *    always remain.
  *  - `signed`: emit the `signed_distance` column from [[closest]]
  *    (always emitted by [[closestAll]]/[[closestK]]); required when
  *    `ignoreUpstream`/`ignoreDownstream` is set there, mirroring
  *    bedtools' "-iu/-id require -D" rule. */
final case class ClosestOptions(
    signed: Boolean = false,
    distanceMode: DistanceMode = DistanceMode.Ref,
    ignoreOverlaps: Boolean = false,
    ignoreUpstream: Boolean = false,
    ignoreDownstream: Boolean = false) {
  private[operators] def aStrandCol: Option[String] = distanceMode match {
    case DistanceMode.RespectA(c) => Some(c)
    case _ => None
  }
  private[operators] def bStrandCol: Option[String] = distanceMode match {
    case DistanceMode.RespectB(c) => Some(c)
    case _ => None
  }
  private[operators] def isDefault: Boolean = this == ClosestOptions()
}

sealed trait Strandedness
object Strandedness {
  /** Strand-blind (the default everywhere). */
  case object Ignore extends Strandedness
  /** bedtools `-s`: equal strand strings required. */
  final case class Same(aCol: String = "strand",
    bCol: String = "strand") extends Strandedness
  /** bedtools `-S`: one side `'+'`, the other `'-'`. */
  final case class Opposite(aCol: String = "strand",
    bCol: String = "strand") extends Strandedness
}

object IntervalOps {

  /** Materialize a frame that an operator's physical plan would
    * otherwise evaluate several times. The multi-subplan operators here
    * reference their projected inputs 3-5x — sweep events + probes, the
    * binned join's two sides, its long-row existence probes
    * ([[IntervalJoin.overlapJoin]] re-scans each input for a one-row
    * aggregate), and the join-backs that restore unmatched rows — so a
    * BAM/CRAM/BED-backed input was DECODED 3-5 times per query (the r21
    * b13b plan carried 4 full BAM decodes). An eager `localCheckpoint`
    * computes the narrow projection ONCE and turns every later
    * reference into an executor-block read (optimization-guide §1.2:
    * remove unnecessary passes; §3.3: materialize intermediates that
    * feed several subplans).
    *
    * `localCheckpoint`, NOT `persist()`: no CacheManager registration,
    * so no plan-fragment reuse can leak across queries — every
    * invocation computes from its inputs, and the blocks die with the
    * RDD. Storage is MEMORY_AND_DISK_SER (spills, never OOMs the
    * executor; SERIALIZED because the deserialized default stores one
    * JVM object per row — a 4M-row BAM projection checkpointed as 4M
    * pinned UnsafeRows turned the whole-suite bench into a GC storm:
    * b13b's in-suite samples ran 34-57 s against 14 s in a fresh JVM
    * until the blocks became a handful of serialized byte buffers).
    * The checkpointed frames are id+coordinate projections — tens of
    * bytes per row — so at 100 TB input scale the materialization is
    * the small-metadata table of guide §8, not a copy of the payload.
    * Trade-off vs recompute: one executor-loss during the (short)
    * lifetime of the blocks fails the query (localCheckpoint's
    * documented contract, same as the text-dedup Snapshotter default);
    * recomputing a CRAM decode 4x per query loses that bet at scale.
    *
    * EAGER, with a cost gate: an eager checkpoint is an extra
    * serialized job, a measured ~20% regression on small cheap
    * parquet-derived inputs (r21 A/B: q77 3.10 -> 3.81 s) against the
    * BAM rows' 1.4-2x win — so a frame is only materialized when
    * recomputing it is NOT trivially cheap: its optimized subtree
    * contains anything beyond projections/filters over v1 file scans
    * (a DSv2 decode — the BAM/CRAM/VCF/BED readers, a join, an
    * aggregate, a window, an RDD-backed stage), OR its estimated size
    * exceeds `spark.graft.materialize.threshold` (default 1 GiB —
    * at 100 TB even a plain columnar rescan x4 is 3 full I/O passes
    * wasted, so big frames materialize regardless of shape; the local
    * default keeps small-SF plans lean and the bench comparable).
    * (A LAZY checkpoint was also tried and is strictly worse: the
    * first consumers race to write blocks and mostly recompute —
    * b13b 12.2 s eager vs 34.0 s lazy in the same window.) */
  /** The one storage level every interval-operator checkpoint uses. */
  private val MaterializeLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  private def materializeInputs(df: DataFrame): DataFrame =
    if (shouldMaterialize(df))
      df.localCheckpoint(eager = true, MaterializeLevel)
    else df

  /** Eagerly materialize several INDEPENDENT frames at once: the
    * checkpoint jobs are submitted from a small thread pool so the
    * second input's decode back-fills executors the first one's tail
    * leaves idle (guide §2.6) instead of running serially. Frames the
    * cost gate skips pass through untouched. */
  private def materializeAll(dfs: DataFrame*): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = dfs.map { d =>
      if (shouldMaterialize(d))
        Future(d.localCheckpoint(eager = true, MaterializeLevel))
      else Future.successful(d)
    }
    futs.map(Await.result(_, Duration.Inf))
  }

  /** The [[materializeInputs]] cost gate: true when the frame's
    * optimized subtree is more than projections/filters/unions over
    * v1 file relations (parquet — columnar, pruned, cheap to rescan)
    * or in-memory literals, or when its size estimate crosses the
    * materialize threshold. */
  private def shouldMaterialize(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // production escape hatch / A-B knob: results are identical either
    // way (the checkpoint only changes how many times inputs re-decode)
    if (df.sparkSession.conf
        .getOption("spark.graft.materialize.enabled").contains("false"))
      return false
    val plan = df.queryExecution.optimizedPlan
    def cheap(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: Union | _: SubqueryAlias =>
        p.children.forall(cheap)
      case _: LocalRelation => true
      case _: org.apache.spark.sql.execution.datasources
        .LogicalRelation => true
      case _ => false
    }
    val threshold = df.sparkSession.conf
      .getOption("spark.graft.materialize.threshold")
      .flatMap(_.toLongOption)
      .getOrElse(1L << 30)
    !cheap(plan) ||
      plan.stats.sizeInBytes > BigInt(threshold)
  }

  /** The A-side/B-side key fragments a strand policy adds to a
    * composite (chrom, strand) sweep or merge key: equality of the two
    * fragments IS the policy (the A side flips under Opposite). None
    * under Ignore.
    *
    * The A fragment is TOTAL (never null): an A row whose strand
    * cannot match anything — null under Same; `'.'`/null/other under
    * Opposite — gets a NUL sentinel no text-format B strand can equal,
    * so key-based operators KEEP it and report "no match" (subtract
    * returns it unmodified, coverageBy zero, closest null columns),
    * which is bedtools' own `-s`/`-S` behavior. Only the B side still
    * drops its null-strand rows (they could never match; their absence
    * is invisible). Predicate-based operators compare the fragments in
    * the join condition, where sentinel-vs-anything is false — the
    * same no-match outcome they already had. */
  private[operators] def strandKeyCols(s: Strandedness)
      : Option[(Column, Column)] = s match {
    case Strandedness.Ignore => None
    case Strandedness.Same(ac, bc) =>
      Some((coalesce(col(ac).cast("string"), lit("\u0000")),
        col(bc).cast("string")))
    case Strandedness.Opposite(ac, bc) =>
      Some((when(col(ac) === "+", "-").when(col(ac) === "-", "+")
        .otherwise(lit("\u0000")),
        col(bc).cast("string")))
  }

  /** Extends a normalized chromosome-string key with the strand
    * fragment (NUL-separated — a character no text-format chromosome
    * name can carry); a null fragment nulls the key, which the caller's
    * isNotNull filter then drops (the key-based drop policy). */
  private def compositeKey(chromStr: Column,
      frag: Option[Column]): Column = frag match {
    case None => chromStr
    case Some(f) => concat(chromStr, lit("\u0000"), f)
  }

  /** BED12 `-split` preamble shared by the block-aware overlap family
    * (and public for composition with [[mergeIntervals]]/[[coverage]]/
    * [[complement]]): one output row per block, with absolute
    * half-open bounds. `blockStarts`/`blockSizes` name two
    * integral-array columns — block start offsets RELATIVE to the
    * row's `start` and block lengths, pairwise by position (the
    * BED12 columns 11/12 convention, as [[SequenceOps.getFasta]]'s
    * `-split`). Added columns:
    *  - `blk_start`/`blk_end` — the block's absolute bounds;
    *  - `blk_index` — 0-based block ordinal (−1 on a fallback row);
    *  - `blk_total` — the row's TOTAL block bases (the `-f` fraction
    *    denominator under `-split`; the whole interval's length on a
    *    fallback row);
    *  - `blk_pairs` — the validated (o, l) offset/length struct array
    *    (null on a fallback row; lets downstream predicates test
    *    "does an EARLIER block overlap" without a self-join).
    * A row whose arrays are null, empty, or degrade to no valid pair
    * (index pairs exhaust at the shorter array; null elements drop)
    * falls back to ONE whole-interval row — the family's
    * malformed-rows-degrade rule. Blocks are assumed disjoint (the
    * BED12 contract); overlapping blocks would double-count bases.
    * All other columns pass through; no shuffle. */
  def explodeBlocks(df: DataFrame, start: String = "start",
      end: String = "end", blockStarts: String = "block_starts",
      blockSizes: String = "block_sizes"): DataFrame = {
    val valid = validBlocks(col(blockStarts), col(blockSizes))
    df.withColumn("__blks", when(size(valid) > 0, valid))
      .withColumn("blk_total",
        blockTotal(col("__blks"), col(start), col(end)))
      .select(col("*"),
        posexplode_outer(col("__blks")).as(Seq("__bi", "__blk")))
      .withColumn("blk_index", coalesce(col("__bi"), lit(-1)))
      .withColumn("blk_start",
        when(col("__blk").isNotNull,
          col(start).cast("long") + col("__blk.o"))
          .otherwise(col(start).cast("long")))
      .withColumn("blk_end",
        when(col("__blk").isNotNull,
          col(start).cast("long") + col("__blk.o") + col("__blk.l"))
          .otherwise(greatest(col(end).cast("long"),
            col(start).cast("long"))))
      .withColumnRenamed("__blks", "blk_pairs")
      .drop("__bi", "__blk")
  }

  /** The validated zipped (o, l) block array: index pairs exhaust at
    * the shorter array (zip_with pads with nulls; the filter drops
    * them), null elements drop, and a NEGATIVE length drops too (r21,
    * ADVICE fix: a negative l silently subtracted from blk_total —
    * the -split -f denominator and coverageBy's a_len — overstating
    * fractions; a malformed pair now degrades like the other
    * documented malformed shapes, falling back to the whole-interval
    * row when no valid pair remains). */
  private def validBlocks(bs: Column, sz: Column): Column =
    when(bs.isNotNull && sz.isNotNull,
      filter(
        zip_with(bs, sz, (o, l) =>
          struct(o.cast("long").as("o"), l.cast("long").as("l"))),
        b => b.getField("o").isNotNull && b.getField("l").isNotNull &&
          b.getField("l") >= 0L))

  /** Total block bases (the `-split` fraction denominator), falling
    * back to the whole interval's clamped length. */
  private def blockTotal(blks: Column, start: Column,
      end: Column): Column =
    coalesce(
      aggregate(blks, lit(0L), (acc, b) => acc + b.getField("l")),
      greatest(end.cast("long") - start.cast("long"), lit(0L)))

  /** The `-split` "count each B once" predicate: true when NO earlier
    * block of the same A row strictly overlaps the pair's B interval
    * (so a B spanning several blocks contributes exactly one pair,
    * attributed to its first overlapping block). Fallback rows
    * (blk_index −1) and first blocks pass trivially. Zero-length
    * earlier blocks never overlap (mirroring the exploded rows' own
    * `blk_start < blk_end` join filter). */
  private def firstHit(blkIndex: Column, blkPairs: Column,
      aStart: Column, bs: Column, be: Column): Column =
    blkIndex <= 0 || !coalesce(
      exists(slice(blkPairs, lit(1), greatest(blkIndex, lit(0))), b =>
        b.getField("l") > 0L &&
          aStart + b.getField("o") < be &&
          bs < aStart + b.getField("o") + b.getField("l")),
      lit(false))

  /** Merge overlapping or book-ended (`end == start`, half-open abutting)
    * intervals per chromosome: the minimal set of disjoint intervals
    * covering the input, with the count of source rows per merged
    * interval. Zero-length and inverted rows participate as points at
    * `start`. Rows with a null chromosome or coordinate are DROPPED —
    * they have no well-defined position (and the [[mergeIntervalsRange]]
    * twin's typed sweep could not represent them), so both variants
    * share one explicit semantics instead of the window's
    * null-sorts-first accident. */
  def mergeIntervals(df: DataFrame, chrom: String = "chrom",
      start: String = "start", end: String = "end",
      maxGap: Long = 0L): DataFrame =
    windowMerge(dropNullCoords(df, chrom, start, end), chrom, start, end,
      lit(1L), maxGap)

  /** `maxGap` rides long additions beside coordinates; bound it so
    * `end + maxGap` can never overflow for any plausible coordinate. */
  private def requireMaxGap(maxGap: Long, op: String): Unit =
    require(maxGap >= 0L && maxGap <= Long.MaxValue / 4,
      s"$op maxGap must be in [0, 2^61], got $maxGap")

  private def dropNullCoords(df: DataFrame, chrom: String, start: String,
      end: String): DataFrame =
    df.where(col(chrom).isNotNull && col(start).isNotNull &&
      col(end).isNotNull)

  /** The running-max window sweep shared by both merge variants; `cnt`
    * is each row's source-row weight. */
  private def windowMerge(df: DataFrame, chrom: String, start: String,
      end: String, cnt: org.apache.spark.sql.Column,
      maxGap: Long = 0L): DataFrame = {
    requireMaxGap(maxGap, "mergeIntervals")
    val ord = Window.partitionBy(col(chrom)).orderBy(col(start), col(end))
    // the running max of `end` over all PRIOR rows; a new merged group
    // starts where the current start exceeds it by more than `maxGap`
    // (bedtools merge -d; at 0, strictly: half-open intervals touching
    // at a point still merge)
    val prevMax = max(greatest(col(end), col(start)))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val grouped = df
      .withColumn("__new_grp",
        when(prevMax.isNull || col(start) > prevMax + maxGap, 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__new_grp")).over(ord))
    grouped
      .groupBy(col(chrom), col("__grp"))
      .agg(
        min(col(start)).as("start"),
        max(greatest(col(end), col(start))).as("end"),
        sum(cnt).as("n_merged"))
      .drop("__grp")
  }

  /** Skew-robust merge for few-contig loads. [[mergeIntervals]]'s window
    * puts an entire chromosome in one task; here the data is
    * range-repartitioned ONCE on (chrom, start) and merged end-to-end by
    * one [[RangeSweep]] — NO per-chromosome window anywhere, so even the
    * sparse no-overlap worst case (surviving runs ≈ rows, the shape that
    * used to fall back to one window task per contig) stays spread
    * across all range partitions. Results are identical to
    * [[mergeIntervals]], including the output schema: the chromosome
    * column keeps the caller's name and type (the sweep widens
    * coordinates to long internally and casts back).
    *
    * Scale shape: pass A is the plain sweep of each sorted partition,
    * summarized as its first and last local merged groups and its row
    * count — O(partitions) driver state. The driver chains the open
    * group across partitions: only a partition's FIRST chromosome can
    * continue an earlier partition's group, and a carried end `c`
    * reaches a partition's last local group iff `c >= lastGroupStart`
    * (sorted starts make every intermediate group's start a smaller
    * threshold, so one comparison settles the whole chain); the whole
    * partition then joins the group. Pass B emits every merged group
    * exactly once: a group that spans partitions is emitted by the
    * partition where it ends.
    *
    * Determinism contract: pass B re-reads the range shuffle's files,
    * and if an executor loss forces their recomputation Spark re-runs
    * the upstream map stage — a NONDETERMINISTIC input (unseeded
    * sampling, a table mutating mid-job) could then disagree with the
    * pass-A summaries of the same execution and mis-stitch.
    * Deterministic inputs (every graft source; any pure plan over
    * stable files) are safe by construction. Callers feeding
    * nondeterministic frames should persist/checkpoint them FIRST.
    *
    * INTEGRAL coordinates only (enforced below): the sweep's long cast
    * would TRUNCATE fractional coordinates, silently merging intervals
    * like (1.9, 2.5) and (2.6, 3.0) that [[mergeIntervals]] keeps
    * apart — a loud analysis-time error beats a quiet wrong answer.
    * Genomic coordinates are integral; fractional domains should use
    * [[mergeIntervals]].
    *
    * `maxGap` (bedtools `merge -d`): intervals separated by at most
    * that many bases merge too; every comparison in the sweep and the
    * driver chain carries the same slack, so the handoff derivation
    * holds unchanged (carry reaches the last local group iff
    * `carry + maxGap >= lastGroupStart`). */
  def mergeIntervalsRange(df: DataFrame, chrom: String = "chrom",
      start: String = "start", end: String = "end",
      partitions: Int = 0, maxGap: Long = 0L): DataFrame = {
    requireMaxGap(maxGap, "mergeIntervalsRange")
    Seq(start, end).foreach { c =>
      require(Integral.contains(df.schema(c).dataType),
        s"mergeIntervalsRange requires integral coordinates, got " +
          s"$c: ${df.schema(c).dataType.simpleString} — " +
          "use mergeIntervals for fractional domains")
    }
    sweepCoords(df, chrom, start, end, longCoords(df, chrom, start, end),
      MergeSweep(maxGap), Seq("__c", "__s", "__e"), Seq(col("__e")),
      partitions)
  }

  /** `df`'s rows with non-null coordinates as (__c string, __s long,
    * __e long) plus `extra`; inverted rows clamp to points (greatest),
    * exactly the window formulation's greatest(end, start). */
  private def longCoords(df: DataFrame, chrom: String, start: String,
      end: String, extra: Column*): DataFrame =
    dropNullCoords(df, chrom, start, end)
      .select(Seq(col(chrom).cast("string").as("__c"),
        col(start).cast("long").as("__s"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__e")) ++ extra: _*)

  /** `rows` range-sorted on (__c, inputs(1)) and swept by `kernel`,
    * with the output's leading (__c, __s, __e) cast back to the
    * caller's column types; the kernel's other columns follow. */
  private def sweepCoords(df: DataFrame, chrom: String, start: String,
      end: String, rows: DataFrame, kernel: SweepKernel[_, _],
      inputs: Seq[String], localSort: Seq[Column],
      partitions: Int): DataFrame = {
    val swept = RangeSweep.frame(rows, kernel, inputs,
      Seq(col("__c"), col(inputs(1))), localSort, partitions)
    swept.select(Seq(col("__c").cast(df.schema(chrom).dataType).as(chrom),
      col("__s").cast(df.schema(start).dataType).as("start"),
      col("__e").cast(df.schema(end).dataType).as("end")) ++
      swept.columns.drop(3).map(col): _*)
  }

  /** Fresh (__c, __s, __e) sweep output attributes plus `more`. */
  private[operators] def segmentAttrs(more: (String, DataType)*)
      : Seq[Attribute] =
    (Seq("__c" -> StringType, "__s" -> LongType, "__e" -> LongType) ++ more)
      .map { case (n, t) => AttributeReference(n, t)() }

  /** [[coverage]] and [[multiinter]]: the 2n (chrom, pos, ±1) events
    * netted per (chrom, pos[, label]) with map-side combine, zero-net
    * rows dropped (they would only split equal segments), then swept. */
  private def breakpointSweep(df: DataFrame, chrom: String, start: String,
      end: String, label: Option[String], kernel: BreakpointSweep,
      partitions: Int): DataFrame = {
    requireSharedIntegralCoords(df, start, end, kernel.op)
    val set = label.map(l => col(l).cast("string").as("__set")).toSeq
    val events = longCoords(label.fold(df)(l => df.where(col(l).isNotNull)),
        chrom, start, end, set: _*)
      .select(Seq(col("__c")) ++ set.map(_ => col("__set")) :+
        explode(array(
          struct(col("__s").as("pos"), lit(1L).as("d")),
          struct(col("__e").as("pos"), lit(-1L).as("d")))).as("__ev"): _*)
      .groupBy(Seq(col("__c"), col("__ev.pos").as("__p")) ++
        set.map(_ => col("__set")): _*)
      .agg(sum(col("__ev.d")).as("__d"))
      .where(col("__d") =!= 0L)
    sweepCoords(df, chrom, start, end, events, kernel,
      Seq("__c", "__p", "__d") ++ set.map(_ => "__set"), Nil, partitions)
  }

  /** Per-base coverage depth of an interval set (the bedtools
    * `genomecov -bga` analogue; the reference's surface stops at
    * indexed scans, so this is downstream-engine territory it leaves
    * open): the disjoint segments between consecutive NET breakpoints
    * of each chromosome, each labeled with how many input intervals
    * cover it — interior zero-depth gaps included, the unbounded zero
    * tail after a chromosome's last end not emitted. Half-open
    * [start, end) intervals; inverted rows clamp to points (whose
    * +1/-1 events then cancel and vanish); null chrom/coords are
    * dropped ([[mergeIntervals]]' shared semantics). Breakpoints whose
    * events net to zero are removed, so adjacent segments ALWAYS
    * differ in depth — the output is the canonical coalesced form.
    *
    * Scale shape (the 100 TB plan): ONE hash shuffle nets the 2n
    * (chrom, pos, ±1) events into breakpoints with map-side combine;
    * then one [[RangeSweep]] runs the classic two-pass distributed
    * prefix sum (see [[BreakpointSweep]]). No per-chromosome window: a
    * single-contig load spreads across ALL range partitions, unlike the
    * textbook
    * `sum(d) OVER (PARTITION BY chrom ORDER BY pos)` formulation whose
    * one-task-per-contig skew this exists to avoid (the q74 oracle IS
    * that window formulation, in DuckDB, over the same breakpoints).
    *
    * INTEGRAL coordinates of one shared type only: the sweep widens to
    * long and casts back, and segment boundaries MIX the two coordinate
    * domains (a segment can start at an input END), so an int start
    * column would silently wrap a long end value. */
  def coverage(df: DataFrame, chrom: String = "chrom",
      start: String = "start", end: String = "end",
      partitions: Int = 0): DataFrame =
    breakpointSweep(df, chrom, start, end, None, CoverageSweep, partitions)

  /** N-set breakpoint partition — the bedtools `multiinter` analogue:
    * the atomic segments between consecutive NET breakpoints of the
    * UNION of several interval sets, each labeled with how many and
    * WHICH sets cover it (`n_sets`, `sets` — the sorted
    * comma-joined labels). Segments no set covers are not emitted; a
    * net breakpoint is a position where at least one set's depth
    * changes, so adjacent segments can share a membership when only a
    * depth changed (nested same-set intervals) — the atomic, not the
    * coalesced, form, stated contract. Inverted rows clamp to points
    * and vanish; null chrom/coords/labels drop; INTEGRAL shared
    * coordinate type as [[coverage]].
    *
    * Input is ONE frame with a set-label column — the union-with-label
    * form a DataFrame pipeline naturally has; [[multiinterOf]] wraps
    * separate frames.
    *
    * Scale shape: [[coverage]]'s, generalized from a scalar depth to a
    * per-set depth vector — pass-A driver state O(partitions × contigs
    * × sets), sets being small by construction. */
  def multiinter(df: DataFrame, setCol: String = "set",
      chrom: String = "chrom", start: String = "start",
      end: String = "end", partitions: Int = 0): DataFrame =
    breakpointSweep(df, chrom, start, end, Some(setCol), MultiinterSweep,
      partitions)

  /** Relative-distance statistic — the bedtools `reldist` analogue's
    * per-A core: every A interval's midpoint against its flanking B
    * midpoints on the same chromosome, `reldist = min(a − prev,
    * next − a) / (next − prev)` ∈ [0, 0.5] (0 when a B midpoint
    * coincides, per the 0/0 convention). A rows before the first or
    * after the last B midpoint of their chromosome emit null reldist
    * (bedtools drops them from its histogram; keeping the rows lets
    * the caller count them). Midpoints are floor((start + end) / 2)
    * on clamped coordinates; null coords/ids drop. The caller
    * aggregates the histogram (`groupBy(floor(reldist * 100))`) —
    * that composition IS the bedtools output.
    *
    * Scale shape: ONE [[RangeFill.fillBoth]] pass over the
    * (chrom, midpoint) union timeline — the range-partitioned two-pass
    * bidirectional fill, so a single dense contig spreads across all
    * partitions (exactly [[closest]]'s machinery, carrying one long
    * instead of a struct). Both flanks land on the SAME probe row, so
    * no join is needed at all — the r17 shape (two sweeps + two
    * equi-joins on the A id) collapsed to one shuffle. Never
    * all-pairs.
    *
    * @param aId unique id column in `a`, carried to the output */
  def reldist(a: DataFrame, b: DataFrame, aId: String,
      chrom: String = "chrom", start: String = "start",
      end: String = "end", partitions: Int = 0): DataFrame = {
    // midpoints in INTEGRAL arithmetic: Spark's `/ 2` is double
    // division (exactness lost past 2^53) and its long cast truncates
    // toward zero rather than flooring — shiftright is the exact
    // floor((s + e) / 2) for every long, the same rationale as
    // IntervalJoin.floorDivExpr
    def mid(s: Column, e: Column): Column =
      shiftright(s.cast("long") +
        greatest(e.cast("long"), s.cast("long")), 1)
    val a2 = dropNullCoords(a, chrom, start, end)
      .select(col(aId).as("__aid"), col(chrom).cast("string").as("__c"),
        mid(col(start), col(end)).as("__am"))
      .where(col("__aid").isNotNull)
    val b2 = dropNullCoords(b, chrom, start, end)
      .select(col(chrom).cast("string").as("__c"),
        mid(col(start), col(end)).as("__bm"))
    // combined timeline: each B midpoint contributes a forward-payload
    // event (kind 0, sorts BEFORE probes at equal positions — a
    // coinciding B is an inclusive left flanker) and a backward-payload
    // event (kind 2, sorts AFTER probes — the backward next-at-or-after
    // reaches a B coinciding with the probe); each A contributes one
    // probe (kind 1) that receives BOTH flanks in one pass
    val aidT = a2.schema("__aid").dataType
    val bFwd = b2.select(col("__c"), col("__bm").as("__pos"),
      lit(0).as("__kind"), col("__bm").as("__prev"),
      lit(null).cast("long").as("__next"),
      lit(null).cast(aidT).as("__aid"))
    val bBwd = b2.select(col("__c"), col("__bm").as("__pos"),
      lit(2).as("__kind"), lit(null).cast("long").as("__prev"),
      col("__bm").as("__next"), lit(null).cast(aidT).as("__aid"))
    val aProbes = a2.select(col("__c"), col("__am").as("__pos"),
      lit(1).as("__kind"), lit(null).cast("long").as("__prev"),
      lit(null).cast("long").as("__next"), col("__aid"))
    val filled = RangeFill.fillBoth(
      bFwd.unionByName(bBwd).unionByName(aProbes)
        .withColumn("__probe", col("__kind") === 1),
      "__c", "__prev", "__next",
      Seq(col("__pos").asc, col("__kind").asc), partitions,
      probeCol = Some("__probe"))
    val span = col("__next") - col("__prev")
    filled.where(col("__kind") === 1)
      .select(col("__aid").as(aId),
        col("__c").cast(a.schema(chrom).dataType).as(chrom),
        col("__pos").as("a_mid"),
        col("__prev").as("prev_mid"), col("__next").as("next_mid"),
        when(col("__prev").isNotNull && col("__next").isNotNull,
          when(span === 0L, lit(0.0)).otherwise(
            least(col("__pos") - col("__prev"),
              col("__next") - col("__pos")).cast("double") /
              span.cast("double")))
          .as("reldist"))
  }

  /** [[multiinter]] over separate frames: unions them under literal
    * labels (each frame needs only the three coordinate columns). */
  def multiinterOf(sets: Seq[(String, DataFrame)],
      chrom: String = "chrom", start: String = "start",
      end: String = "end", partitions: Int = 0): DataFrame = {
    require(sets.nonEmpty, "multiinterOf needs at least one set")
    // pass-A driver state is O(partitions x contigs x sets): the
    // partition and contig dimensions are bounded by construction
    // (range partitions are contiguous, so each partition meets few
    // contigs), but the SET dimension multiplies every entry — a
    // 1000-set panel over a draft assembly's 100k scaffolds would be
    // ~10^8 driver entries. bedtools-style panels are dozens of sets;
    // fail loudly past that instead of silently ballooning the driver.
    require(sets.size <= 64,
      s"multiinterOf supports at most 64 sets, got ${sets.size} — " +
        "per-set driver state in the breakpoint sweep grows with " +
        "sets x contigs x partitions; partition the panel and union " +
        "the results instead")
    val tagged = sets.map { case (name, f) =>
      f.select(col(chrom), col(start), col(end))
        .withColumn("__setname", lit(name))
    }.reduce(_.unionByName(_))
    multiinter(tagged, setCol = "__setname", chrom = chrom,
      start = start, end = end, partitions = partitions)
  }

  /** Uncovered gaps of an interval set — the bedtools `complement`
    * analogue. Without `chromSizes` the result is restricted to the
    * data's covered span (the unbounded span before each chromosome's
    * first start and after its last end is not emitted, the same tail
    * contract as [[coverage]]); these are exactly [[coverage]]'s
    * depth-0 segments, so the operator inherits the two-pass
    * range-partitioned breakpoint-sweep scale shape verbatim — and its
    * gate (q78) shares q74's oracle CTEs with a `depth = 0` filter, so
    * the two can never drift.
    *
    * With `chromSizes` (full bedtools parity — a genome file; the
    * chrom-sizes metadata every indexed source here already exposes
    * via `GraftTableProps`, the reference analogue being the BBI
    * header's chrom B-tree, `oxbow/src/bbi/scanner/bigwig.rs:94-117`),
    * the boundary gaps are added: `[0, first_start)` per covered
    * chromosome, `[last_end, size)` per covered chromosome, and
    * `[0, size)` whole for declared chromosomes with no data. The
    * boundary pieces cost one tiny per-chromosome aggregate broadcast-
    * joined to the sizes frame — O(contigs), nothing at data scale.
    * Contract details: coordinates are assumed non-negative (the head
    * gap appears only when the first start is > 0); data BEYOND a
    * declared size is not clipped (the tail gap is simply omitted when
    * `last_end >= size` — bedtools errors there instead); chromosomes
    * present in the data but missing from `chromSizes` keep interior
    * gaps only; null or non-positive sizes drop.
    *
    * @param chromSizes one row per chromosome: a chromosome column
    *                   named like `chrom` and a long-castable `size`
    *                   column */
  def complement(df: DataFrame, chrom: String = "chrom",
      start: String = "start", end: String = "end",
      partitions: Int = 0,
      chromSizes: Option[DataFrame] = None): DataFrame = {
    val cov0 = coverage(df, chrom, start, end, partitions)
    // with sizes, the segments feed the gaps and three boundary
    // branches: materialized once instead of sweeping four times
    val cov = if (chromSizes.isEmpty) cov0 else materializeInputs(cov0)
    val base = cov.where(col("depth") === 0L).drop("depth")
    chromSizes match {
      case None => base
      case Some(sz) =>
        // coverage already enforced start/end type equality
        val coordT = df.schema(start).dataType
        val szl = sz
          .select(col(chrom).cast("string").as("__c"),
            col("size").cast("long").as("__sz"))
          .where(col("__c").isNotNull && col("__sz").isNotNull &&
            col("__sz") > 0L)
        // boundary spans from coverage's OWN segments (per chromosome,
        // [first breakpoint, last breakpoint] IS [first start, last
        // end] of the NET-covered span), not a second scan of the raw
        // input — at scale the input is decoded once, full stop. Side
        // contract: a chromosome whose rows are ALL degenerate points
        // has no segments, counts as uncovered, and emits its whole
        // [0, size) gap — the canonical maximal-gap form (the raw-scan
        // formulation split it at the point, two abutting rows).
        // coverage's output coordinate columns are LITERALLY named
        // "start"/"end" regardless of the caller's names (only the
        // chrom name is preserved) — referencing the caller's names
        // here threw AnalysisException for e.g. start = "s"
        val spans = cov
          .groupBy(col(chrom).cast("string").as("__c"))
          .agg(min(col("start").cast("long")).as("__first"),
            max(col("end").cast("long")).as("__last"))
        val joined = spans.join(broadcast(szl), Seq("__c"))
        val head = joined.where(col("__first") > 0L)
          .select(col("__c"), lit(0L).as("__s"),
            col("__first").as("__e"))
        val tail = joined.where(col("__last") < col("__sz"))
          .select(col("__c"), col("__last").as("__s"),
            col("__sz").as("__e"))
        // a left-anti join can build only its right side: broadcast the
        // per-chromosome spans, O(contigs) rows like the sizes
        val whole = szl.join(broadcast(spans), Seq("__c"), "left_anti")
          .select(col("__c"), lit(0L).as("__s"), col("__sz").as("__e"))
        val bounds = head.unionByName(tail).unionByName(whole)
          .select(col("__c").cast(df.schema(chrom).dataType).as(chrom),
            col("__s").cast(coordT).as("start"),
            col("__e").cast(coordT).as("end"))
        base.unionByName(bounds)
    }
  }

  /** The chrom-sizes frame [[complement]]'s `chromSizes` parameter
    * takes, sourced from a genomic file's OWN header/index metadata —
    * the same map [[graft.sources.common.GraftTableProps]] surfaces as
    * the SQL-visible `chrom_sizes` table property (reference analogue:
    * the per-handle `chrom_sizes` of
    * `oxbow/src/bbi/scanner/bigwig.rs:94-117`). Works for any source
    * whose header or index declares lengths (BAM/CRAM/SAM headers,
    * FASTA .fai, BBI chrom B-trees); one driver-side metadata read,
    * O(contigs) rows. */
  def chromSizes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.createDataFrame(
        graft.formats.GraftMeta.chromSizes(path).toSeq.sortBy(_._1))
      .toDF("chrom", "size")

  /** A minus B (the bedtools `subtract` analogue): each A interval's
    * surviving sub-intervals after removing every base covered by any
    * B interval on the same chromosome — possibly several output rows
    * per A, possibly none (fully covered). Half-open arithmetic;
    * inverted rows clamp to points; zero-length A rows cover no bases
    * and emit nothing; null chrom/coords (and null `aId`) drop, the
    * family's shared policy.
    *
    * Scale shape — never per-base, never all-pairs: B first collapses
    * to its disjoint union ([[mergeIntervalsRange]], skew-robust), the
    * binned equi-join ([[IntervalJoin.overlapJoin]]) finds each A's
    * overlapping covered segments (disjoint by construction), and a
    * per-A window ordered by segment start emits each row's leading
    * gap plus — on the last row — the trailing gap. A rows touching no
    * covered segment pass through whole via an anti-join. Window
    * parallelism is per A INTERVAL (not per chromosome), so this stage
    * has no single-contig skew at all.
    *
    * Inherits [[mergeIntervalsRange]]'s determinism contract.
    * Constructing the frame runs jobs: the merged B side and the marked
    * join are materialized.
    *
    * @param aId unique id column in `a`, carried to the output (one A
    *            can split into many rows; the id says which) */
  def subtract(a: DataFrame, b: DataFrame, aId: String,
      chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      strand: Strandedness = Strandedness.Ignore): DataFrame = {
    // stranded subtraction keys the merge AND the join on the
    // composite (chrom, strand fragment): only same-key B bases are
    // removed (bedtools -s/-S). Unmatchable A rows keep a sentinel
    // key and pass through unmodified; unmatchable B rows drop.
    val sk = strandKeyCols(strand)
    // a2 feeds the binned join, its existence probe, and the untouched
    // pass-through anti-join: materialized once
    val a2 = materializeInputs(dropNullCoords(a, chrom, start, end)
      .select(col(aId).as("__aid"),
        compositeKey(col(chrom).cast("string"), sk.map(_._1)).as("__c"),
        col(chrom).cast("string").as("__oc"),
        col(start).cast("long").as("__as"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__ae"))
      .where(col("__aid").isNotNull && col("__as") < col("__ae") &&
        col("__c").isNotNull))
    // mb feeds the binned join and its existence probe: materialized
    // once instead of sweeping per reference
    val mb = materializeInputs(mergeIntervalsRange(
        dropNullCoords(b, chrom, start, end)
          .select(compositeKey(col(chrom).cast("string"), sk.map(_._2))
            .as("__c"),
            col(start).cast("long").as("__bs"),
            col(end).cast("long").as("__be"))
          .where(col("__c").isNotNull),
        chrom = "__c", start = "__bs", end = "__be")
      .withColumnRenamed("start", "__bs")
      .withColumnRenamed("end", "__be")
      .drop("n_merged")
      // zero-length survivors (inverted/point B rows clamp to [p,p)
      // and survive the merge when isolated) cover no bases, but the
      // strict overlap predicate below would still match one strictly
      // inside an A interval and split A's output at p — drop them
      .where(col("__bs") < col("__be")))
    val ov = IntervalJoin.overlapJoin(a2,
      mb.withColumnRenamed("__c", "__c2"),
      leftCols = ("__c", "__as", "__ae"),
      rightCols = ("__c2", "__bs", "__be"), binSize = binSize)
    // covered segments clipped to A are DISJOINT (merged B), so the
    // survivors are each row's leading gap + the last row's tail
    val w = Window.partitionBy(col("__aid")).orderBy(col("__bs"))
    val clipS = greatest(col("__bs"), col("__as"))
    val clipE = least(col("__be"), col("__ae"))
    // __lastBs shares w's partitioning AND ordering (full-partition
    // frame) so both window columns evaluate in ONE Window operator
    // over one sort — the unordered max().over(partitionBy) spec forced
    // a second window pass. Same values: the max over the whole
    // partition is frame-independent.
    // `marked` feeds three consumers (leading, tails, untouched's id
    // set) — materialized once instead of running the binned join and
    // window three times.
    val marked = materializeInputs(ov
      .withColumn("__gs", coalesce(lag(clipE, 1).over(w), col("__as")))
      .withColumn("__ce", clipE)
      .withColumn("__cs", clipS)
      .withColumn("__lastBs",
        max(col("__bs")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))))
    val leading = marked.where(col("__gs") < col("__cs"))
      .select(col("__aid"), col("__oc"), col("__gs").as("__as"),
        col("__cs").as("__ae"))
    val tails = marked
      .where(col("__bs") === col("__lastBs") &&
        col("__ce") < col("__ae"))
      .select(col("__aid"), col("__oc"), col("__ce").as("__as"),
        col("__ae"))
    // same id set as ov's: marked is ov plus derived columns
    val untouched = a2.join(marked.select(col("__aid")).distinct(),
      Seq("__aid"), "left_anti")
      .select(col("__aid"), col("__oc"), col("__as"), col("__ae"))
    leading.unionByName(tails).unionByName(untouched)
      .select(col("__aid").as(aId),
        col("__oc").cast(a.schema(chrom).dataType).as(chrom),
        col("__as").cast(a.schema(start).dataType).as(start),
        col("__ae").cast(a.schema(end).dataType).as(end))
  }

  /** Per-A aggregation of overlapping B values — the bedtools `map`
    * analogue (reference surface stops at indexed scans; this is the
    * downstream annotation step its users run in pandas/polars). For
    * every A interval: the count of B intervals overlapping it by at
    * least one base (strict half-open overlap — book-ended touching
    * does NOT count, matching `bedtools map`'s ≥1 bp contract) and the
    * sum/min/max/mean of `value` over those B rows. A rows with no
    * overlapping B keep `n_overlaps = 0` and null aggregates (bedtools'
    * `.`); zero-length or inverted rows on either side cover no bases
    * and can overlap nothing (A points still appear in the output with
    * zero overlaps); null chrom/coords (and null `aId`) drop — the
    * family's shared policy. Null `value`s on matched B rows count in
    * `n_overlaps` but are ignored by sum/min/max/mean (SQL aggregate
    * semantics).
    *
    * Scale shape: the binned equi-join ([[IntervalJoin.overlapJoin]] —
    * never per-chromosome, never all-pairs) followed by ONE hash
    * aggregation on the A id (map-side combined) and one equi-join back
    * to A to restore the zero-overlap rows. No window anywhere, so no
    * contig skew; a pathologically popular single A interval is bounded
    * by its own overlap count, not by its chromosome's.
    *
    * @param aId unique id column in `a` (duplicates would double-count)
    * @param value numeric column in `b` to aggregate */
  def mapOverlaps(a: DataFrame, b: DataFrame, aId: String,
      value: String, chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      strand: Strandedness = Strandedness.Ignore,
      minOverlapFracA: Double = 0.0,
      minOverlapFracB: Double = 0.0,
      blockStarts: String = null,
      blockSizes: String = null): DataFrame = {
    require((blockStarts == null) == (blockSizes == null),
      "mapOverlaps -split needs BOTH blockStarts and blockSizes")
    val split = blockStarts != null
    // fractions under -split would need per-(A, B-row) shared-base
    // re-aggregation, and mapOverlaps carries no B identity to
    // aggregate against — use intersectJoin (which has one) instead
    require(!split ||
      (minOverlapFracA == 0.0 && minOverlapFracB == 0.0),
      "mapOverlaps -split does not compose with fraction thresholds")
    // strand columns ride the normalized projections under fixed
    // names; the policy itself is enforced INSIDE the binned join's
    // condition (predicate-based: unmatchable A rows stay, with
    // zero overlaps). Fractions (-f/-F; -r = both) likewise.
    val sk = strandKeyCols(strand)
    // both projections feed the binned join + its existence probes,
    // and a2 additionally the zero-overlap join-back: materialized once
    val Seq(a2, b2) = materializeAll(
      dropNullCoords(a, chrom, start, end)
      .select(Seq(col(aId).as("__aid"),
        col(chrom).cast("string").as("__c"),
        col(start).cast("long").as("__as"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__ae")) ++
        sk.map(_._1.as("__astr")).toSeq: _*)
      .where(col("__aid").isNotNull),
      dropNullCoords(b, chrom, start, end)
      .select(Seq(col(chrom).cast("string").as("__c2"),
        col(start).cast("long").as("__bs"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__be"),
        col(value).as("__v")) ++
        sk.map(_._2.as("__bstr")).toSeq: _*)
      // zero-length B rows cover no bases; the strict predicate would
      // still match one strictly inside an A interval (subtract's
      // boundary case), so they drop here
      .where(col("__bs") < col("__be")))
    val joined =
      if (!split) IntervalJoin.overlapJoin(
        a2.where(col("__as") < col("__ae")), b2,
        leftCols = ("__c", "__as", "__ae"),
        rightCols = ("__c2", "__bs", "__be"), binSize = binSize,
        strand =
          if (sk.isEmpty) Strandedness.Ignore
          else Strandedness.Same("__astr", "__bstr"),
        minOverlapFracLeft = minOverlapFracA,
        minOverlapFracRight = minOverlapFracB)
      else {
        // -split: blocks join, then the first-overlapping-block
        // predicate keeps exactly one pair per (A row, B row) — a B
        // spanning several blocks must aggregate once. Materialized:
        // the exploded block frame feeds the join and its probe.
        val a3 = materializeInputs(
          explodeBlocks(dropNullCoords(a, chrom, start, end),
            start, end, blockStarts, blockSizes)
          .select(Seq(col(aId).as("__aid"),
            col(chrom).cast("string").as("__c"),
            col(start).cast("long").as("__as"),
            col("blk_start").as("__ks"), col("blk_end").as("__ke"),
            col("blk_index").as("__bix"),
            col("blk_pairs").as("__bp")) ++
            sk.map(_._1.as("__astr")).toSeq: _*)
          .where(col("__aid").isNotNull && col("__ks") < col("__ke")))
        IntervalJoin.overlapJoin(a3, b2,
            leftCols = ("__c", "__ks", "__ke"),
            rightCols = ("__c2", "__bs", "__be"), binSize = binSize,
            strand =
              if (sk.isEmpty) Strandedness.Ignore
              else Strandedness.Same("__astr", "__bstr"))
          .where(firstHit(col("__bix"), col("__bp"), col("__as"),
            col("__bs"), col("__be")))
      }
    val agg = joined
      .groupBy(col("__aid"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("v_sum"),
        min(col("__v")).as("v_min"), max(col("__v")).as("v_max"),
        avg(col("__v")).as("v_mean"))
    a2.join(agg, Seq("__aid"), "left")
      .select(col("__aid").as(aId),
        col("__c").cast(a.schema(chrom).dataType).as(chrom),
        col("__as").cast(a.schema(start).dataType).as(start),
        col("__ae").cast(a.schema(end).dataType).as(end),
        coalesce(col("__n"), lit(0L)).as("n_overlaps"),
        col("v_sum"), col("v_min"), col("v_max"), col("v_mean"))
  }

  /** Pairwise overlap report — the bedtools `intersect -wa -wb`
    * family: one row per qualifying (A, B) pair carrying both
    * intervals plus `overlap_bp`, the clipped overlap length
    * (bedtools `-wo`). `mode`:
    *  - `"wo"`: qualifying pairs only;
    *  - `"wao"`: additionally one row per A with NO qualifying B —
    *    null B columns, `overlap_bp` 0 (bedtools `-wao`, where a
    *    fraction threshold that filtered every pair still reports
    *    the A row with 0);
    *  - `"loj"`: as `"wao"` but `overlap_bp` null (bedtools `-loj`
    *    prints no overlap count; null marks "not a measured 0").
    *
    * B-side columns come back under fixed names (`b_id`, `b_start`,
    * `b_end`, coordinate types preserved). Strand (`-s`/`-S`) and
    * fraction (`-f`/`-F`; both = `-r`) options ride the join
    * condition — predicate policy, so unmatchable A rows still
    * surface under `"wao"`/`"loj"`. Zero-length B rows cover no bases
    * and drop; zero-length A rows can never form a pair (they surface
    * only via the `"wao"`/`"loj"` miss branch). Null chrom/coords and
    * null ids drop (family policy).
    *
    * Scale shape: ONE binned equi-join ([[IntervalJoin.overlapJoin]] —
    * long rows ride its coarse channels, AQE handles skew) whose
    * output size IS the answer; the `"wao"`/`"loj"` miss branch adds
    * one aId anti-join against the pair ids (the [[subtract]]
    * pass-through pattern), never a second interval join. */
  def intersectJoin(a: DataFrame, b: DataFrame, aId: String,
      bId: String, chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      strand: Strandedness = Strandedness.Ignore,
      minOverlapFracA: Double = 0.0, minOverlapFracB: Double = 0.0,
      mode: String = "wo", blockStarts: String = null,
      blockSizes: String = null): DataFrame = {
    require(Set("wo", "wao", "loj").contains(mode),
      s"intersectJoin mode must be wo|wao|loj, got '$mode'")
    require((blockStarts == null) == (blockSizes == null),
      "intersectJoin -split needs BOTH blockStarts and blockSizes")
    val split = blockStarts != null
    val sk = strandKeyCols(strand)
    // materialized once for the binned join, its existence probes, and
    // (wao/loj) the miss branch's join-back
    val Seq(a2, b2) = materializeAll(
      dropNullCoords(a, chrom, start, end)
      .select(Seq(col(aId).as("__aid"),
        col(chrom).cast("string").as("__c"),
        col(start).cast("long").as("__as"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__ae")) ++
        sk.map(_._1.as("__astr")).toSeq: _*)
      .where(col("__aid").isNotNull),
      dropNullCoords(b, chrom, start, end)
      .select(Seq(col(bId).as("__bid"),
        col(chrom).cast("string").as("__c2"),
        col(start).cast("long").as("__bs"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__be")) ++
        sk.map(_._2.as("__bstr")).toSeq: _*)
      .where(col("__bid").isNotNull && col("__bs") < col("__be")))
    val pairs0 =
      if (!split) IntervalJoin.overlapJoin(
          a2.where(col("__as") < col("__ae")), b2,
          leftCols = ("__c", "__as", "__ae"),
          rightCols = ("__c2", "__bs", "__be"), binSize = binSize,
          strand =
            if (sk.isEmpty) Strandedness.Ignore
            else Strandedness.Same("__astr", "__bstr"),
          minOverlapFracLeft = minOverlapFracA,
          minOverlapFracRight = minOverlapFracB)
        .select(col("__aid"), col("__c"), col("__as"), col("__ae"),
          col("__bid"), col("__bs"), col("__be"),
          (least(col("__ae"), col("__be")) -
            greatest(col("__as"), col("__bs"))).as("__ovl"))
      else {
        // -split: blocks join, then ONE hash re-aggregation per
        // (A, B) pair sums the per-block clipped overlaps (blocks are
        // disjoint by the BED12 contract, so the sum is exact).
        // Fractions apply AFTER the re-aggregation: -f measures
        // against the row's BLOCK bases (bedtools' -split rule), -F
        // against the whole B interval.
        val a3 = materializeInputs(
          explodeBlocks(dropNullCoords(a, chrom, start, end),
            start, end, blockStarts, blockSizes)
          .select(Seq(col(aId).as("__aid"),
            col(chrom).cast("string").as("__c"),
            col(start).cast("long").as("__as"),
            greatest(col(end).cast("long"), col(start).cast("long"))
              .as("__ae"),
            col("blk_start").as("__ks"), col("blk_end").as("__ke"),
            col("blk_total").as("__blen")) ++
            sk.map(_._1.as("__astr")).toSeq: _*)
          .where(col("__aid").isNotNull && col("__ks") < col("__ke")))
        val fracConds: Seq[Column] =
          (if (minOverlapFracA > 0.0)
            Seq(col("__ovl") >= lit(minOverlapFracA) * col("__blen"))
          else Nil) ++
          (if (minOverlapFracB > 0.0)
            Seq(col("__ovl") >=
              lit(minOverlapFracB) * (col("__be") - col("__bs")))
          else Nil)
        fracConds.foldLeft(
          IntervalJoin.overlapJoin(a3, b2,
              leftCols = ("__c", "__ks", "__ke"),
              rightCols = ("__c2", "__bs", "__be"), binSize = binSize,
              strand =
                if (sk.isEmpty) Strandedness.Ignore
                else Strandedness.Same("__astr", "__bstr"))
            .groupBy(col("__aid"), col("__c"), col("__as"),
              col("__ae"), col("__blen"), col("__bid"), col("__bs"),
              col("__be"))
            .agg(sum(least(col("__ke"), col("__be")) -
              greatest(col("__ks"), col("__bs"))).as("__ovl"))
          )(_ where _)
          .select(col("__aid"), col("__c"), col("__as"), col("__ae"),
            col("__bid"), col("__bs"), col("__be"), col("__ovl"))
      }
    // wao/loj reference the pair frame twice (rows + the miss
    // anti-join's id set) — without the checkpoint the binned join ran
    // twice; "wo" consumes it once and skips the materialization
    val pairs = if (mode == "wo") pairs0 else materializeInputs(pairs0)
    val rows = mode match {
      case "wo" => pairs
      case _ =>
        val missOvl =
          if (mode == "wao") lit(0L) else lit(null).cast("long")
        val misses = a2
          .join(pairs.select(col("__aid")).distinct(), Seq("__aid"),
            "left_anti")
          .select(col("__aid"), col("__c"), col("__as"), col("__ae"),
            lit(null).cast(b2.schema("__bid").dataType).as("__bid"),
            lit(null).cast("long").as("__bs"),
            lit(null).cast("long").as("__be"),
            missOvl.as("__ovl"))
        pairs.unionByName(misses)
    }
    rows.select(col("__aid").as(aId),
      col("__c").cast(a.schema(chrom).dataType).as(chrom),
      col("__as").cast(a.schema(start).dataType).as(start),
      col("__ae").cast(a.schema(end).dataType).as(end),
      col("__bid").as("b_id"),
      col("__bs").cast(b.schema(start).dataType).as("b_start"),
      col("__be").cast(b.schema(end).dataType).as("b_end"),
      col("__ovl").as("overlap_bp"))
  }

  /** Overlap similarity of two interval SETS — the bedtools `jaccard`
    * analogue: each side first collapses to its disjoint union, then
    * `intersection` = total bases covered by both, `union_len` =
    * total bases covered by either, `jaccard` = intersection /
    * union_len (null when both sets are empty), `n_intersections` =
    * the count of disjoint intersection segments. One output row.
    * Half-open arithmetic; inverted rows clamp to points, which cover
    * no bases and are dropped after the merge; null chrom/coords drop.
    *
    * Scale shape: two skew-robust merges ([[mergeIntervalsRange]] —
    * range-partitioned streaming sweeps, no per-contig window), the
    * binned equi-join of the two DISJOINT merged sets (each base of
    * intersection appears in exactly one joined pair, so a global sum
    * of clipped lengths is exact), and three scalar aggregates. Each
    * merged set feeds BOTH its length aggregate and the join, so both
    * are persisted for the duration and the statistics computed
    * EAGERLY (merging a 100-TB input twice is not acceptable; the
    * same eager-stats contract as the k-means/IVF/BM25 operators) —
    * the returned frame is one literal row. */
  def jaccard(a: DataFrame, b: DataFrame, chrom: String = "chrom",
      start: String = "start", end: String = "end",
      binSize: Long = 1000L): DataFrame = {
    // ONE merge over the union of both sets, keyed on the composite
    // "<tag> <chrom>" string (r21, guide §2.4): a merge never crosses
    // the tag boundary, so the result equals two separate merges —
    // for one range shuffle, one boundary-sampling job and one pass-A
    // summary instead of two of each, run back to back. The prefix is
    // FIXED-WIDTH (one tag char + one separator), so recovery by
    // substring is unambiguous for every chromosome string.
    def tagged(df: DataFrame, tag: String): DataFrame =
      dropNullCoords(df, chrom, start, end)
        .select(concat(lit(tag + " "),
            col(chrom).cast("string")).as("__ck"),
          col(start).cast("long").as("__s"),
          greatest(col(end).cast("long"), col(start).cast("long"))
            .as("__e"))
    val m = mergeIntervalsRange(
        tagged(a, "a").unionByName(tagged(b, "b")),
        chrom = "__ck", start = "__s", end = "__e")
      .select(col("__ck"), col("start").as("__s"),
        col("end").as("__e"))
      // isolated point survivors cover no bases (subtract's case)
      .where(col("__s") < col("__e"))
      .persist()
    try {
      val isA = col("__ck").startsWith("a")
      val chromOf = expr("substring(__ck, 3)")
      val ma = m.where(isA)
        .select(chromOf.as("__c"), col("__s"), col("__e"))
      val mb = m.where(!isA)
        .select(chromOf.as("__c2"), col("__s").as("__bs"),
          col("__e").as("__be"))
      val Array(inter, nx) = IntervalJoin.overlapJoin(ma, mb,
          leftCols = ("__c", "__s", "__e"),
          rightCols = ("__c2", "__bs", "__be"), binSize = binSize)
        .agg(coalesce(sum(least(col("__e"), col("__be")) -
            greatest(col("__s"), col("__bs"))), lit(0L)),
          count(lit(1)))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      // both side lengths in ONE job over the cached merged frame
      val lens = m.agg(
          coalesce(sum(when(isA, col("__e") - col("__s"))), lit(0L)),
          coalesce(sum(when(!isA, col("__e") - col("__s"))), lit(0L)))
        .collect().head
      val (la, lb) = (lens.getLong(0), lens.getLong(1))
      val union = la + lb - inter
      val jac: java.lang.Double =
        if (union == 0L) null else inter.toDouble / union
      val session = a.sparkSession
      import session.implicits._
      Seq((inter, union, Option(jac).map(_.doubleValue), nx))
        .toDF("intersection", "union_len", "jaccard", "n_intersections")
    } finally {
      m.unpersist()
    }
  }

  /** Coordinate extension — the bedtools `slop` analogue: every
    * interval grows `both + left` bases leftward (floored at 0) and
    * `both + right` bases rightward (capped at the chromosome's
    * declared size when `chromSizes` is given; chromosomes absent from
    * the sizes frame stay uncapped, and data already beyond a declared
    * size keeps `end >= start` rather than inverting). All other
    * columns pass through untouched; inverted rows clamp to points
    * before growing; null chrom/coords drop (family policy). INTEGRAL
    * coordinates sharing one type, enforced like [[coverage]] (the
    * arithmetic widens to long and casts back).
    *
    * Scale shape: a narrow codegen'd projection — plus one broadcast
    * join to the O(contigs) sizes frame when capping. Nothing
    * shuffles. */
  def slop(df: DataFrame, both: Long = 0L, left: Long = 0L,
      right: Long = 0L, chromSizes: Option[DataFrame] = None,
      chrom: String = "chrom", start: String = "start",
      end: String = "end"): DataFrame = {
    val (gl, gr) = (both + left, both + right)
    require(gl >= 0L && gr >= 0L,
      s"slop growth must be non-negative, got left $gl / right $gr")
    requireSharedIntegralCoords(df, start, end, "slop")
    val coordT = df.schema(start).dataType
    val pe = greatest(col(end).cast("long"), col(start).cast("long"))
    val ns = greatest(col(start).cast("long") - gl, lit(0L))
    val grown = chromSizes match {
      case None =>
        df.withColumn("__ns", ns).withColumn("__ne", pe + gr)
      case Some(sz) =>
        val szl = broadcast(sz
          .select(col(chrom).cast("string").as("__slc"),
            col("size").cast("long").as("__ssz"))
          .where(col("__slc").isNotNull && col("__ssz").isNotNull &&
            col("__ssz") > 0L))
        df.join(szl, col(chrom).cast("string") === col("__slc"), "left")
          .withColumn("__ns", ns)
          .withColumn("__ne", greatest(
            least(pe + gr, coalesce(col("__ssz"), pe + gr)), ns))
          .drop("__slc", "__ssz")
    }
    val out = grown
      .withColumn(start, col("__ns").cast(coordT))
      .withColumn(end, col("__ne").cast(coordT))
      .drop("__ns", "__ne")
    dropNullCoords(out, chrom, start, end).select(
      df.columns.map(col).toIndexedSeq: _*)
  }

  /** Flanking intervals — the bedtools `flank` analogue: for every
    * input interval, up to two output rows — the `left` bases
    * immediately before `start` (floored at 0) tagged `side = 'left'`,
    * and the `right` bases immediately after `end` (capped at the
    * declared chromosome size like [[slop]]) tagged `side = 'right'`.
    * Empty flanks (zero requested, floored/capped away, or start at 0)
    * are not emitted. All other columns pass through; inverted rows
    * clamp to points first; null chrom/coords drop. INTEGRAL shared
    * coordinate type, as [[slop]].
    *
    * Scale shape: a narrow explode of a two-element array — at most 2
    * output rows per input, no shuffle, plus [[slop]]'s broadcast
    * sizes join when capping. */
  def flank(df: DataFrame, left: Long = 0L, right: Long = 0L,
      chromSizes: Option[DataFrame] = None, chrom: String = "chrom",
      start: String = "start", end: String = "end"): DataFrame = {
    require(left >= 0L && right >= 0L,
      s"flank widths must be non-negative, got left $left / right $right")
    requireSharedIntegralCoords(df, start, end, "flank")
    val coordT = df.schema(start).dataType
    val sl = col(start).cast("long")
    val pe = greatest(col(end).cast("long"), sl)
    val base = chromSizes match {
      case None => dropNullCoords(df, chrom, start, end)
      case Some(sz) =>
        val szl = broadcast(sz
          .select(col(chrom).cast("string").as("__slc"),
            col("size").cast("long").as("__ssz"))
          .where(col("__slc").isNotNull && col("__ssz").isNotNull &&
            col("__ssz") > 0L))
        dropNullCoords(df, chrom, start, end)
          .join(szl, col(chrom).cast("string") === col("__slc"), "left")
    }
    val pieces = array(
      struct(lit("left").as("side"),
        greatest(sl - left, lit(0L)).as("__fs"), sl.as("__fe")),
      struct(lit("right").as("side"), pe.as("__fs"),
        (chromSizes match {
          case None => pe + right
          case Some(_) => greatest(
            least(pe + right, coalesce(col("__ssz"), pe + right)), pe)
        }).as("__fe")))
    val passCols = df.columns.filter(c => c != start && c != end)
    base
      .select(passCols.map(col).toIndexedSeq :+
        explode(filter(pieces, p =>
          p.getField("__fs") < p.getField("__fe"))).as("__f"): _*)
      .select(passCols.map(col).toIndexedSeq ++ Seq(
        col("__f.side").as("side"),
        col("__f.__fs").cast(coordT).as(start),
        col("__f.__fe").cast(coordT).as(end)): _*)
  }

  /** Coordinate translation — the bedtools `shift` analogue: every
    * interval moves `amount` bases (negative = leftward), both
    * coordinates floored at 0 and capped at the declared chromosome
    * size when `chromSizes` is given ([[slop]]'s sizes contract). An
    * interval pushed entirely past a boundary collapses to a
    * zero-length point AT the boundary (kept — callers who want them
    * gone filter `start < end`); inverted rows clamp to points before
    * moving; null chrom/coords drop. INTEGRAL shared coordinate type,
    * enforced as [[slop]]. All other columns pass through.
    *
    * Scale shape: a narrow codegen'd projection, plus [[slop]]'s
    * broadcast sizes join when clamping. Nothing shuffles. */
  def shift(df: DataFrame, amount: Long,
      chromSizes: Option[DataFrame] = None, chrom: String = "chrom",
      start: String = "start", end: String = "end"): DataFrame = {
    requireSharedIntegralCoords(df, start, end, "shift")
    val coordT = df.schema(start).dataType
    val pe = greatest(col(end).cast("long"), col(start).cast("long"))
    val ns0 = greatest(col(start).cast("long") + amount, lit(0L))
    val ne0 = greatest(pe + amount, lit(0L))
    val moved = chromSizes match {
      case None =>
        df.withColumn("__ns", ns0).withColumn("__ne", ne0)
      case Some(sz) =>
        val szl = broadcast(sz
          .select(col(chrom).cast("string").as("__slc"),
            col("size").cast("long").as("__ssz"))
          .where(col("__slc").isNotNull && col("__ssz").isNotNull &&
            col("__ssz") > 0L))
        df.join(szl, col(chrom).cast("string") === col("__slc"), "left")
          .withColumn("__ns", least(ns0, coalesce(col("__ssz"), ns0)))
          .withColumn("__ne", least(ne0, coalesce(col("__ssz"), ne0)))
          .drop("__slc", "__ssz")
    }
    val out = moved
      .withColumn(start, col("__ns").cast(coordT))
      .withColumn(end, col("__ne").cast(coordT))
      .drop("__ns", "__ne")
    dropNullCoords(out, chrom, start, end).select(
      df.columns.map(col).toIndexedSeq: _*)
  }

  /** Seeded deterministic interval relocation — the bedtools
    * `shuffle -chrom` analogue for NULL MODELS: every interval keeps
    * its chromosome and length but moves to a pseudo-random start
    * drawn from `pmod(xxhash64(id, seed), size - len + 1)` — fully
    * deterministic given (id, seed), so two engines (and two runs of
    * a 1000-executor job) place every interval identically, unlike a
    * `rand()`-based shuffle. Lengths longer than the chromosome
    * truncate to it; rows on chromosomes absent from `chromSizes`
    * DROP (bedtools errors there; a loud contract note instead);
    * inverted rows clamp to points first; null coords/ids drop.
    * INTEGRAL shared coordinate type as [[slop]]. All other columns
    * pass through.
    *
    * Scale shape: a narrow codegen'd projection (xxhash64 is a
    * codegen'd Catalyst expression) + the broadcast sizes join.
    * Nothing shuffles — "shuffle" here is bedtools' name, not
    * Spark's. */
  def shuffleIntervals(df: DataFrame, chromSizes: DataFrame, seed: Long,
      idCol: String, chrom: String = "chrom", start: String = "start",
      end: String = "end"): DataFrame = {
    requireSharedIntegralCoords(df, start, end, "shuffleIntervals")
    val coordT = df.schema(start).dataType
    val szl = broadcast(chromSizes
      .select(col(chrom).cast("string").as("__slc"),
        col("size").cast("long").as("__ssz"))
      .where(col("__slc").isNotNull && col("__ssz").isNotNull &&
        col("__ssz") > 0L))
    val sl = col(start).cast("long")
    val pe = greatest(col(end).cast("long"), sl)
    val len = least(pe - sl, col("__ssz"))
    val room = col("__ssz") - len + 1L
    val ns = pmod(xxhash64(col(idCol), lit(seed)), room)
    val out = dropNullCoords(df, chrom, start, end)
      .where(col(idCol).isNotNull)
      .join(szl, col(chrom).cast("string") === col("__slc"))
      .withColumn("__ns", ns)
      .withColumn("__ne", col("__ns") + len)
      .drop("__slc", "__ssz")
      .withColumn(start, col("__ns").cast(coordT))
      .withColumn(end, col("__ne").cast(coordT))
      .drop("__ns", "__ne")
    out.select(df.columns.map(col).toIndexedSeq: _*)
  }

  private val Integral =
    Set[DataType](ByteType, ShortType, IntegerType, LongType)

  private def requireSharedIntegralCoords(df: DataFrame, start: String,
      end: String, op: String): Unit = {
    Seq(start, end).foreach { c =>
      require(Integral.contains(df.schema(c).dataType),
        s"$op requires integral coordinates, got " +
          s"$c: ${df.schema(c).dataType.simpleString}")
    }
    require(df.schema(start).dataType == df.schema(end).dataType,
      s"$op requires $start and $end to share a type, got " +
        s"${df.schema(start).dataType.simpleString} vs " +
        s"${df.schema(end).dataType.simpleString}")
  }

  /** Proximity join — the bedtools `window` analogue: every (A, B)
    * pair where B overlaps A extended by `window` bases on each side
    * (equivalently: B overlaps A, or the gap between them is STRICTLY
    * below `window` — the exact `slop -b w | intersect` composition,
    * half-open throughout; a B starting exactly `window` bases past
    * A's end touches the extended interval book-ended and does NOT
    * match). Output columns are the two inputs' columns side by side
    * (names must not collide, as [[IntervalJoin.overlapJoin]]);
    * zero-length B rows match nothing, zero-length A rows match only
    * what their extension overlaps; null coords drop.
    *
    * Scale shape: [[IntervalJoin.overlapJoin]] on the extended
    * coordinates — the binned equi-join with its AQE skew pin, never
    * per-chromosome. The extension widens each A row's bin fan-out by
    * `2 * window / binSize` bins, so callers with very large windows
    * should raise `binSize` proportionally. */
  def windowJoin(a: DataFrame, b: DataFrame, window: Long,
      leftCols: (String, String, String) = ("chrom", "start", "end"),
      rightCols: (String, String, String) = ("chrom", "start", "end"),
      binSize: Long = 1000L,
      strand: Strandedness = Strandedness.Ignore): DataFrame = {
    require(window >= 0L, s"window must be non-negative, got $window")
    val (c, s, e) = leftCols
    // extension-column names probed against BOTH inputs (overlapJoin's
    // case-insensitive fresh() rule): a caller frame already carrying
    // "__ws"/"__we" was silently clobbered and dropped from the output
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !a.columns.exists(_.equalsIgnoreCase(n)) &&
          !b.columns.exists(_.equalsIgnoreCase(n)))
        .get
    val wsCol = fresh("__ws")
    val weCol = fresh("__we")
    // each side feeds the binned join and its existence probe:
    // materialized once (these frames keep ALL caller columns — the
    // alternative, evaluating the caller subtree twice, costs the same
    // width in compute instead of spillable storage)
    // (zero-length/inverted B rows cover no bases; the strict
    // predicate would still match one strictly inside the extended
    // interval — subtract's boundary case — so they drop here)
    val Seq(wa, b2) = materializeAll(
      dropNullCoords(a, c, s, e)
      .withColumn(wsCol,
        greatest(col(s).cast("long") - window, lit(0L)))
      .withColumn(weCol,
        greatest(col(e).cast("long"), col(s).cast("long")) + window),
      dropNullCoords(b, rightCols._1, rightCols._2, rightCols._3)
      .where(col(rightCols._3).cast("long") >
        col(rightCols._2).cast("long")))
    IntervalJoin.overlapJoin(wa, b2, leftCols = (c, wsCol, weCol),
        rightCols = rightCols, binSize = binSize, strand = strand)
      .drop(wsCol, weCol)
  }

  /** Per-A breadth and depth of B coverage — the bedtools `coverage`
    * analogue: for every A interval, the count of B intervals
    * overlapping it by ≥1 base, the bases of A covered by the UNION of
    * those B intervals (overlapping B rows never double-count: B is
    * merged first, so the clipped segments are disjoint), A's own
    * length, and the covered fraction (null for zero-length A rows,
    * which cover no bases; they still appear with zero counts).
    * Zero-length/inverted B clamps to points and drops; null
    * chrom/coords and null `aId` drop — the family policy.
    *
    * Scale shape: one skew-robust merge of B ([[mergeIntervalsRange]]),
    * two binned equi-joins ([[IntervalJoin.overlapJoin]] — raw B for
    * the count, merged B for the covered bases), each reduced by ONE
    * hash aggregation on the A id, then two equi-joins back to A. No
    * window, no per-contig stage, no all-pairs. */
  def coverageBy(a: DataFrame, b: DataFrame, aId: String,
      chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      strand: Strandedness = Strandedness.Ignore,
      blockStarts: String = null,
      blockSizes: String = null): DataFrame = {
    require((blockStarts == null) == (blockSizes == null),
      "coverageBy -split needs BOTH blockStarts and blockSizes")
    val split = blockStarts != null
    // stranded coverage keys BOTH joins and the B merge on the
    // composite (chrom, strand fragment) -- bedtools coverage -s/-S.
    // Unmatchable A rows keep a sentinel key -> zero coverage rows;
    // unmatchable B rows drop (invisible).
    val sk = strandKeyCols(strand)
    // a2 feeds the join-back plus (non-split) both binned joins and
    // their probes via aPos; b2 feeds the count join, its probe, and
    // the merge: materialized once each
    val a2 = materializeInputs(dropNullCoords(a, chrom, start, end)
      .select(Seq(col(aId).as("__aid"),
        compositeKey(col(chrom).cast("string"), sk.map(_._1)).as("__c"),
        col(chrom).cast("string").as("__oc"),
        col(start).cast("long").as("__as"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__ae")) ++
        // -split: the row's block bases become a_len / the fraction
        // denominator (bedtools' exon-space coverage rule)
        (if (split) Seq(blockTotal(
          validBlocks(col(blockStarts), col(blockSizes)),
          col(start), col(end)).as("__blen"))
        else Nil): _*)
      .where(col("__aid").isNotNull && col("__c").isNotNull))
    // -split: both joins probe the exploded BLOCK rows; the count
    // join's first-overlapping-block predicate counts a multi-block-
    // spanning B once, the covered-bases join clips merged B against
    // each (disjoint) block so the per-A sum stays exact
    val aPos =
      if (!split) a2.where(col("__as") < col("__ae"))
      else materializeInputs(
        explodeBlocks(dropNullCoords(a, chrom, start, end),
          start, end, blockStarts, blockSizes)
        .select(col(aId).as("__aid"),
          compositeKey(col(chrom).cast("string"), sk.map(_._1))
            .as("__c"),
          col(start).cast("long").as("__as"),
          col("blk_start").as("__ks"), col("blk_end").as("__ke"),
          col("blk_index").as("__bix"), col("blk_pairs").as("__bp"))
        .where(col("__aid").isNotNull && col("__c").isNotNull &&
          col("__ks") < col("__ke")))
    val aCols: (String, String, String) =
      if (!split) ("__c", "__as", "__ae") else ("__c", "__ks", "__ke")
    val b2 = materializeInputs(dropNullCoords(b, chrom, start, end)
      .select(compositeKey(col(chrom).cast("string"), sk.map(_._2))
          .as("__c2"),
        col(start).cast("long").as("__bs"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__be"))
      .where(col("__bs") < col("__be") && col("__c2").isNotNull))
    // ONE binned join over the TAGGED union of raw B (the count side)
    // and merged B (the covered-bases side) instead of one join per
    // statistic (r21, guide §2.4): the A side is scanned/exploded
    // once, one hash aggregation computes both statistics with
    // conditional aggregates, and one join-back restores zero rows —
    // a full binned join, an aggregation and a join fewer than the
    // two-join shape, with the same joined pair volume.
    val mb = mergeIntervalsRange(b2, chrom = "__c2", start = "__bs",
        end = "__be")
      .select(col("__c2"), col("start").as("__bs"),
        col("end").as("__be"))
    val bTagged = b2.withColumn("__mrg", lit(false))
      .unionByName(mb.withColumn("__mrg", lit(true)))
    val joined = IntervalJoin.overlapJoin(aPos, bTagged,
        leftCols = aCols,
        rightCols = ("__c2", "__bs", "__be"), binSize = binSize)
    val clipLo = if (!split) col("__as") else col("__ks")
    val clipHi = if (!split) col("__ae") else col("__ke")
    // -split counts a multi-block-spanning B once (firstHit on the raw
    // rows only); covered bases clip merged B against each disjoint
    // block, so the per-A sum stays exact
    val cntRow = !col("__mrg") &&
      (if (!split) lit(true)
      else firstHit(col("__bix"), col("__bp"),
        col("__as"), col("__bs"), col("__be")))
    val agg = joined.groupBy(col("__aid"))
      .agg(sum(when(cntRow, 1L).otherwise(0L)).as("__n"),
        sum(when(col("__mrg"), least(clipHi, col("__be")) -
          greatest(clipLo, col("__bs")))).as("__cov"))
    val aLen = if (!split) col("__ae") - col("__as") else col("__blen")
    a2.join(agg, Seq("__aid"), "left")
      .select(col("__aid").as(aId),
        col("__oc").cast(a.schema(chrom).dataType).as(chrom),
        col("__as").cast(a.schema(start).dataType).as(start),
        col("__ae").cast(a.schema(end).dataType).as(end),
        coalesce(col("__n"), lit(0L)).as("n_overlaps"),
        coalesce(col("__cov"), lit(0L)).as("covered_bases"),
        aLen.as("a_len"),
        when(aLen > 0L,
          coalesce(col("__cov"), lit(0L)).cast("double") /
            aLen.cast("double"))
          .as("fraction"))
  }

  /** Per-A coverage breakdown across SEVERAL labeled B sets — the
    * bedtools `annotate` analogue (`-counts`/`-both`, long format: one
    * output row per (A, set) rather than pivoted columns — the
    * Spark-idiomatic shape; pivot downstream if wanted). Per pair: the
    * count of that set's intervals overlapping A by ≥1 base, the bases
    * of A covered by that SET's union (each set merged separately, so
    * within-set overlap never double-counts), A's length, and the
    * fraction (null for zero-length A). Every (A, set) pair appears,
    * zero rows included. Edge policy as [[coverageBy]].
    *
    * Scale shape: per-set skew-robust merges, ONE binned equi-join per
    * statistic over the tagged unions (not one join per set), hash
    * aggregations on (A id, set), and a broadcast literal set-name
    * grid to restore zero rows. */
  def annotate(a: DataFrame, sets: Seq[(String, DataFrame)],
      aId: String, chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      strand: Strandedness = Strandedness.Ignore): DataFrame = {
    require(sets.nonEmpty, "annotate needs at least one set")
    require(sets.map(_._1).distinct.size == sets.size,
      "annotate set labels must be distinct")
    // stranded annotation: the composite key rides the tagged unions
    // through both joins and the per-set merges (bedtools annotate
    // -s/-S). Key-based policy, as coverageBy.
    val sk = strandKeyCols(strand)
    // a2 feeds both binned joins + their probes (via aPos) and the
    // zero-row-restoring grid join: materialized once (5 evaluations
    // of the A subtree before)
    val a2 = materializeInputs(dropNullCoords(a, chrom, start, end)
      .select(col(aId).as("__aid"),
        compositeKey(col(chrom).cast("string"), sk.map(_._1)).as("__c"),
        col(chrom).cast("string").as("__oc"),
        col(start).cast("long").as("__as"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__ae"))
      .where(col("__aid").isNotNull && col("__c").isNotNull))
    val aPos = a2.where(col("__as") < col("__ae"))
    def norm(f: DataFrame, name: String): DataFrame =
      dropNullCoords(f, chrom, start, end)
        .select(lit(name).as("__set"),
          compositeKey(col(chrom).cast("string"), sk.map(_._2))
            .as("__c2"),
          col(start).cast("long").as("__bs"),
          greatest(col(end).cast("long"), col(start).cast("long"))
            .as("__be"))
        .where(col("__bs") < col("__be") && col("__c2").isNotNull)
    // each set frame feeds the count join (via raw), its probe, AND
    // its own merge — normalize + materialize each set once (all sets
    // in parallel) and derive all three from the blocks
    val normed = sets.map(_._1).zip(
      materializeAll(sets.map { case (n, f) => norm(f, n) }: _*))
    // ONE binned join over the tagged union of every set's raw rows
    // (count side) and per-set merged rows (covered-bases side)
    // instead of one join per statistic — coverageBy's r21 fusion
    // applied across the set dimension: the A side is scanned once,
    // one hash aggregation on (A id, set) computes both statistics
    // with conditional aggregates, and one join restores zero rows.
    val raw = normed.map(_._2).reduce(_.unionByName(_))
      .withColumn("__mrg", lit(false))
    // ONE merge for ALL sets, keyed on the fixed-width "<4-digit set
    // index> <chrom>" composite (jaccard's r21 trick, legal because a
    // merge never crosses the composite-key boundary): one range
    // shuffle, one boundary-sampling job and one pass-A summary
    // instead of one serial eager merge pipeline PER SET. The index
    // is zero-padded to a FIXED width, so recovery by substring is
    // unambiguous for every label/chrom.
    require(sets.size <= 9999,
      s"annotate supports at most 9999 sets, got ${sets.size}")
    val setNames = sets.map(_._1)
    val mrg = {
      val tagged = normed.zipWithIndex.map { case ((_, f), i) =>
        f.select(concat(lit(f"$i%04d "), col("__c2")).as("__ck"),
          col("__bs"), col("__be"))
      }.reduce(_.unionByName(_))
      mergeIntervalsRange(tagged, chrom = "__ck", start = "__bs",
          end = "__be")
        .select(element_at(array(setNames.map(lit): _*),
            substring(col("__ck"), 1, 4).cast("int") + 1).as("__set"),
          expr("substring(__ck, 6)").as("__c2"),
          col("start").as("__bs"), col("end").as("__be"))
    }.withColumn("__mrg", lit(true))
    val stats = IntervalJoin.overlapJoin(aPos, raw.unionByName(mrg),
        leftCols = ("__c", "__as", "__ae"),
        rightCols = ("__c2", "__bs", "__be"), binSize = binSize)
      .groupBy(col("__aid"), col("__set"))
      .agg(sum(when(!col("__mrg"), 1L).otherwise(0L)).as("__n"),
        sum(when(col("__mrg"), least(col("__ae"), col("__be")) -
          greatest(col("__as"), col("__bs")))).as("__cov"))
    val session = a.sparkSession
    import session.implicits._
    val names = broadcast(sets.map(_._1).toDF("__set"))
    a2.crossJoin(names)
      .join(stats, Seq("__aid", "__set"), "left")
      .select(col("__aid").as(aId), col("__set").as("set"),
        col("__oc").cast(a.schema(chrom).dataType).as(chrom),
        col("__as").cast(a.schema(start).dataType).as(start),
        col("__ae").cast(a.schema(end).dataType).as(end),
        coalesce(col("__n"), lit(0L)).as("n_overlaps"),
        coalesce(col("__cov"), lit(0L)).as("covered_bases"),
        (col("__ae") - col("__as")).as("a_len"),
        when(col("__ae") > col("__as"),
          coalesce(col("__cov"), lit(0L)).cast("double") /
            (col("__ae") - col("__as")).cast("double"))
          .as("fraction"))
  }

  /** Overlap-existence filter — the bedtools `intersect -u` / `-v`
    * analogue: the A rows that DO (`keep = true`) or do NOT
    * (`keep = false`) overlap at least one B interval by ≥ 1 base,
    * each A reported once, all columns passing through untouched.
    * Strand and minimum-overlap-fraction options compose (`-s -v`,
    * `-f 0.5 -u`, ...); zero-length A rows overlap only B intervals
    * strictly spanning them ([[IntervalJoin.overlapJoin]]'s degenerate
    * contract); zero-length B rows match nothing; null chrom/coords
    * drop.
    *
    * Scale shape: the binned equi-join reduced to the DISTINCT
    * matched A ids (map-side-combined aggregate), then one
    * left-semi/anti equi-join back to A — never a row explosion in
    * the output, never all-pairs.
    *
    * @param aId unique id column in `a` (the join-back key) */
  def overlapFilter(a: DataFrame, b: DataFrame, aId: String,
      keep: Boolean, chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      strand: Strandedness = Strandedness.Ignore,
      minOverlapFracA: Double = 0.0,
      minOverlapFracB: Double = 0.0): DataFrame = {
    val sk = strandKeyCols(strand)
    // each projection feeds the binned join and its existence probe:
    // materialized once
    val Seq(a2, b2) = materializeAll(
      dropNullCoords(a, chrom, start, end)
      .select(Seq(col(aId).as("__aid"),
        col(chrom).cast("string").as("__c"),
        col(start).cast("long").as("__as"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__ae")) ++
        sk.map(_._1.as("__astr")).toSeq: _*)
      .where(col("__aid").isNotNull),
      dropNullCoords(b, chrom, start, end)
      .select(Seq(col(chrom).cast("string").as("__c2"),
        col(start).cast("long").as("__bs"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__be")) ++
        sk.map(_._2.as("__bstr")).toSeq: _*)
      .where(col("__bs") < col("__be")))
    val matched = IntervalJoin.overlapJoin(a2, b2,
        leftCols = ("__c", "__as", "__ae"),
        rightCols = ("__c2", "__bs", "__be"), binSize = binSize,
        strand =
          if (sk.isEmpty) Strandedness.Ignore
          else Strandedness.Same("__astr", "__bstr"),
        minOverlapFracLeft = minOverlapFracA,
        minOverlapFracRight = minOverlapFracB)
      .select(col("__aid")).distinct()
    // null ids drop in BOTH modes (family policy) — without the filter
    // the anti join would KEEP them (null never matches) while the
    // semi join dropped them
    val cleaned = dropNullCoords(a, chrom, start, end)
      .where(col(aId).isNotNull)
    cleaned.join(matched,
      col(aId) === matched("__aid"),
      if (keep) "left_semi" else "left_anti")
  }

  /** Per-row cluster assignment — the bedtools `cluster` analogue:
    * every input row is tagged with the disjoint merged run
    * (overlap-or-book-ended transitive closure, [[mergeIntervals]]'
    * semantics) it belongs to — `cluster_start`/`cluster_end` are the
    * run's span (a deterministic cluster key that two engines can
    * agree on, unlike an ordinal) and `cluster_n` the run's source-row
    * count. Point/inverted rows cluster like the merge treats them
    * (points at `start`, including pure book-end touches); null
    * chrom/coords drop.
    *
    * Scale shape: one skew-robust merge ([[mergeIntervalsRange]]),
    * then ONE binned equi-join of each row's start PROBE ([s, s+1))
    * against the runs extended to [rs, re+1) — strict overlap there is
    * exactly `rs <= s <= re`, the membership rule, and merged runs
    * never touch, so each row joins exactly one run. No window over
    * input rows, no per-contig stage. Inherits
    * [[mergeIntervalsRange]]'s determinism contract. */
  def cluster(df: DataFrame, chrom: String = "chrom",
      start: String = "start", end: String = "end",
      binSize: Long = 1000L, maxGap: Long = 0L): DataFrame = {
    requireMaxGap(maxGap, "cluster")
    val coordT = df.schema(start).dataType
    // d2 feeds the probe join, its existence probe, AND the merge's
    // input: materialized once (3 evaluations of the input before)
    val d2 = materializeInputs(dropNullCoords(df, chrom, start, end)
      .withColumn("__ps", col(start).cast("long"))
      .withColumn("__pe", col(start).cast("long") + 1L))
    val runs = mergeIntervalsRange(
        d2.select(col(chrom).cast("string").as("__rc"),
          col(start).cast("long").as("__rs"),
          greatest(col(end).cast("long"), col(start).cast("long"))
            .as("__re")),
        chrom = "__rc", start = "__rs", end = "__re", maxGap = maxGap)
      .select(col("__rc"), col("start").as("__rs"),
        col("end").as("__re"), (col("end") + 1L).as("__rx"),
        col("n_merged").as("__rn"))
    IntervalJoin.overlapJoin(d2, runs,
        leftCols = (chrom, "__ps", "__pe"),
        rightCols = ("__rc", "__rs", "__rx"), binSize = binSize)
      .select(df.columns.map(col).toIndexedSeq ++ Seq(
        col("__rs").cast(coordT).as("cluster_start"),
        col("__re").cast(coordT).as("cluster_end"),
        col("__rn").as("cluster_n")): _*)
  }

  /** Fixed-size genome tiling — the bedtools `makewindows` analogue:
    * each declared chromosome `[0, size)` tiles into windows of
    * `windowSize` starting every `step` (default: `windowSize`, the
    * non-overlapping case), the final windows truncated at `size`.
    * Null or non-positive sizes drop.
    *
    * Scale shape: a whole genome is O(contigs) INPUT rows exploding
    * into millions of windows, so a naive per-chromosome explode
    * would both build giant in-memory arrays and leave one task per
    * contig. Windows generate in two levels instead: coarse chunks of
    * `chunkWindows` steps first, REPARTITIONED so the fine explode
    * runs distributed, with per-row arrays bounded by `chunkWindows`.
    *
    * @param chromSizes one row per chromosome: `chrom` + long-castable
    *                   `size` (the [[chromSizes]] helper reads one
    *                   from any indexed genomic file's own header) */
  def makeWindows(chromSizes: DataFrame, windowSize: Long,
      step: Long = 0L, chrom: String = "chrom",
      chunkWindows: Int = 4096): DataFrame = {
    val st = if (step > 0L) step else windowSize
    require(windowSize > 0L, s"windowSize must be positive, got $windowSize")
    require(chunkWindows > 0, s"chunkWindows must be positive")
    val chunk = st * chunkWindows
    val sz = chromSizes
      .select(col(chrom).cast("string").as("__c"),
        col("size").cast("long").as("__sz"))
      .where(col("__c").isNotNull && col("__sz").isNotNull &&
        col("__sz") > 0L)
    sz.select(col("__c"), col("__sz"),
        explode(sequence(lit(0L), col("__sz") - 1L, lit(chunk)))
          .as("__cs"))
      .repartition(col("__c"), col("__cs"))
      .select(col("__c"), col("__sz"),
        explode(sequence(col("__cs"),
          least(col("__cs") + chunk - 1L, col("__sz") - 1L), lit(st)))
          .as("__ws"))
      .select(col("__c").as(chrom), col("__ws").as("start"),
        least(col("__ws") + windowSize, col("__sz")).as("end"))
  }

  /** Nearest B interval for every A interval, per chromosome — the
    * bedtools `closest` analogue. Distance is 0 for any overlap or
    * book-ended touch (half-open), else the gap between the facing
    * ends; ties resolve by the GLOBAL deterministic rule
    * argmin (distance, b start, b id) — engineered so an external
    * engine can replay the exact pick (the q77 oracle is a naive
    * all-pairs argmin over the same rule). A rows on a chromosome with
    * no B rows keep null closest columns (left-outer semantics).
    *
    * Scale shape — NEVER all-pairs: any B is left-of, right-of, or
    * overlapping a given A, and within each class the best candidate
    * under the tie rule is computable by a linear structure:
    *  - left candidate (max b.end ≤ a.start): a union timeline per
    *    chromosome, filled FORWARD with the running latest candidate
    *    struct — the [[AsofJoin]] formulation on plain coordinates;
    *  - right candidate (min b.start ≥ a.end): the BACKWARD fill of
    *    the same timeline;
    *  - overlap candidates: the binned equi-join
    *    ([[IntervalJoin.overlapJoin]]) reduced per A by struct-min.
    * The global winner is `least()` of the three candidate structs
    * ordered (distance, b start, b id). Both directions ride ONE
    * combined timeline through [[RangeFill.fillBoth]] — one range
    * shuffle, one boundary-sampling job, one pass-A summary — instead
    * of two single-direction sweeps (the r17 shape this halves). Each
    * B contributes an end event (kind 0, forward payload) and a start
    * event (kind 2, backward payload); each A contributes a start
    * probe (left candidate) and an end probe (right candidate), both
    * kind 1. The kind ordering makes an equal-position B inclusive in
    * BOTH directions: end events sort before probes (a book-ended B
    * is a distance-0 left candidate), start events after them (the
    * backward fill's next-at-or-after reaches a B starting exactly at
    * the probe). The fill is range-partitioned on (chrom, ordering),
    * so one dense contig spreads over every partition — no
    * per-chromosome window anywhere.
    *
    * @param aId unique id column in `a` (joins the candidate frames
    *            back together; duplicates would cross-product)
    * @param bId unique id column in `b` (tie-break + output id)
    * @param partitions range-partition count for the sweep; 0 = the
    *            session's shuffle-partition default
    * @param opts [[ClosestOptions]] — `-io`/`-iu`/`-id` candidate
    *            filters and the `-D` sign convention; with
    *            `opts.signed` the output gains `signed_distance` */
  def closest(a: DataFrame, b: DataFrame, aId: String, bId: String,
      chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      partitions: Int = 0,
      strand: Strandedness = Strandedness.Ignore,
      opts: ClosestOptions = ClosestOptions()): DataFrame = {
    require(!(opts.ignoreUpstream || opts.ignoreDownstream) ||
      opts.signed,
      "closest -iu/-id need opts.signed (bedtools' -iu/-id require -D)")
    // NOT materialized (r21 A/B, one window): the union-timeline core
    // evaluates each projection ~3x (events/probes, the binned join,
    // its existence probe), and recomputing even a full BAM decode 3x
    // beat the checkpoint's write+8-block-reads+lost-pipelining at
    // every size tried (b13b 13.0 s plain vs 15.3 s checkpointed;
    // q113 5.0 vs 5.8) — the opposite verdict from subtract/mapOverlaps,
    // whose join-heavy shapes keep their checkpoints
    val a2 = closestProjectA(a, aId, chrom, start, end, strand,
      opts.aStrandCol)
    val b2 = closestProjectB(b, bId, chrom, start, end, strand,
      opts.bStrandCol)
    val best = col("__best")
    val baseCols = Seq(col("__aid").as(aId),
      col("__oc").cast(a.schema(chrom).dataType).as(chrom),
      col("__as").cast(a.schema(start).dataType).as(start),
      col("__ae").cast(a.schema(end).dataType).as(end),
      best.getField("i").as("closest_id"),
      best.getField("s").as("closest_start"),
      best.getField("e").as("closest_end"),
      best.getField("d").as("distance"))
    val outCols =
      if (!opts.signed) baseCols
      else {
        val d = best.getField("d")
        // geometry disambiguates the side for d > 0: only a left
        // (upstream-by-ref) candidate can end at-or-below A's start
        val ref = when(d === 0L, lit(0L))
          .when(best.getField("e") <= col("__as"), -d)
          .otherwise(d)
        baseCols :+ signFlip(ref, opts.distanceMode,
          col("__astr"), best.getField("t")).as("signed_distance")
      }
    closestCore(a2, b2, binSize, partitions, opts).select(outCols: _*)
  }

  /** Applies [[DistanceMode]]'s strand flip to a ref-signed value:
    * only a literal `'-'` strand flips (bedtools' rule — `'+'`, `'.'`,
    * null, anything else keeps the reference sign). */
  private def signFlip(ref: Column, mode: DistanceMode,
      aStrand: => Column, bStrand: => Column): Column = mode match {
    case DistanceMode.Ref => ref
    case DistanceMode.RespectA(_) =>
      when(aStrand === "-", -ref).otherwise(ref)
    case DistanceMode.RespectB(_) =>
      when(bStrand === "-", -ref).otherwise(ref)
  }

  /** [[closest]]'s A-side projection: (__aid, __c composite sweep key,
    * __oc original chrom, __as, __ae) with the key-based strand drop.
    * Shared with [[closestAll]] so the tie join reuses the SAME
    * projected frame instead of rebuilding it (one scan, not two).
    *
    * Stranded closest keys the SWEEPS and the overlap join on the
    * composite (chrom, strand fragment) — a candidate must share the
    * key, so a same/opposite-strand B is found even when a
    * wrong-strand B sits nearer (a residual filter could not do
    * that). Unmatchable A rows keep a sentinel key and surface with
    * null closest columns; unmatchable B rows drop. */
  private def closestProjectA(a: DataFrame, aId: String, chrom: String,
      start: String, end: String, strand: Strandedness,
      aStrandCol: Option[String] = None): DataFrame = {
    val sk = strandKeyCols(strand)
    dropNullCoords(a, chrom, start, end)
      .select(Seq(col(aId).as("__aid"),
        compositeKey(col(chrom).cast("string"), sk.map(_._1)).as("__c"),
        col(chrom).cast("string").as("__oc"),
        col(start).cast("long").as("__as"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__ae")) ++
        // -D a: A's RAW strand rides beside the (possibly composite)
        // key — the sign convention is orthogonal to strand MATCHING
        aStrandCol.map(c => col(c).cast("string").as("__astr")): _*)
      .where(col("__aid").isNotNull && col("__c").isNotNull)
  }

  /** [[closest]]'s B-side projection twin of [[closestProjectA]]:
    * (__bid, __c, __bs, __be[, __bstr under -D b]). */
  private def closestProjectB(b: DataFrame, bId: String, chrom: String,
      start: String, end: String, strand: Strandedness,
      bStrandCol: Option[String] = None): DataFrame = {
    val sk = strandKeyCols(strand)
    dropNullCoords(b, chrom, start, end)
      .select(Seq(col(bId).as("__bid"),
        compositeKey(col(chrom).cast("string"), sk.map(_._2)).as("__c"),
        col(start).cast("long").as("__bs"),
        greatest(col(end).cast("long"), col(start).cast("long"))
          .as("__be")) ++
        bStrandCol.map(c => col(c).cast("string").as("__bstr")): _*)
      .where(col("__bid").isNotNull && col("__c").isNotNull)
  }

  /** The argmin machinery under [[closest]]/[[closestAll]], over the
    * ALREADY-projected frames: one [[RangeFill.fillBoth]] timeline for
    * both sweep directions plus the binned overlap join for the
    * distance-0 candidates. Returns one row per A row — (__aid, __c,
    * __oc, __as, __ae, __best) where __best is the winning
    * (d, s, i, e) candidate struct, null when the A's key has no B at
    * all.
    *
    * Shape (r21 restructure, guide §2.4 — remove shuffles outright):
    * the probe rows CARRY the A payload (__c/__oc/__as/__ae[/__astr])
    * through the timeline, every candidate — per-side sweep winners
    * and raw overlap pairs — flows into ONE union, and a single
    * hash aggregation on the A id takes `min(candidate)` (the struct
    * ordering IS the global (distance, b start, b id) tie rule) while
    * re-assembling the constant payload with `max()`. Every A emits
    * its two probe rows even when no B exists on its key, so the
    * aggregate output has exactly one row per A and the old
    * left-join-back to the A projection — one more exchange AND one
    * more evaluation of the A input — is gone, as are the separate
    * per-sweep and per-overlap aggregates (three hash aggregations and
    * two joins collapsed into one aggregation). Candidate masking
    * (-iu/-id × -D) is applied per candidate row BEFORE the argmin —
    * each side has exactly one sweep candidate per A, so masking
    * before or after the per-side pick is the same function. */
  private def closestCore(a2: DataFrame, b2: DataFrame, binSize: Long,
      partitions: Int,
      opts: ClosestOptions = ClosestOptions()): DataFrame = {
    // -D b: the candidate struct carries the B strand as a trailing
    // field `t` — min() compares (d, s, i, ...) lexicographically
    // and `i` is unique, so the extra field never affects the argmin
    val withBt = opts.bStrandCol.isDefined
    val withAt = opts.aStrandCol.isDefined
    val cbStruct =
      if (!withBt) struct(col("__bs"), col("__bid"), col("__be"))
      else struct(col("__bs"), col("__bid"), col("__be"), col("__bstr"))
    val aidT = a2.schema("__aid").dataType
    val nullAstr = lit(null).cast("string").as("__astr")
    // -iu/-id: a candidate whose effective sign (branch geometry ×
    // the -D strand flip) is negative/positive is masked to null
    // BEFORE the argmin; min() skips nulls, so the argmin runs over
    // the survivors. refSign: 0 for distance-0, else the row's side.
    def kept(cand: Column, refSign: Column): Column =
      if (!opts.ignoreUpstream && !opts.ignoreDownstream) cand
      else {
        val eff = signFlip(refSign, opts.distanceMode,
          col("__astr"), cand.getField("t"))
        val keep =
          (if (opts.ignoreUpstream) eff >= 0L else lit(true)) &&
            (if (opts.ignoreDownstream) eff <= 0L else lit(true))
        when(keep, cand)
      }
    /** Static masking for the class-split path: refSgn `r` × class
      * flip `f` is a compile-time constant for d > 0; a fully-masked
      * (side, class) keeps only its distance-0 candidate. */
    def keptStatic(cand: Column, r: Int, f: Int): Column = {
      val masked = (opts.ignoreUpstream && r * f < 0) ||
        (opts.ignoreDownstream && r * f > 0)
      if (masked) when(cand.getField("d") === 0L, cand) else cand
    }
    /** One bidirectional sweep over `b2x`'s events: per-probe
      * candidate rows (__aid, payload, __cand) — each A contributes
      * exactly two (side 0 = best left, side 1 = best right; __cand
      * null when that side has no candidate or masking dropped it).
      * `maskOf(side)` is identity outside -iu/-id.
      *
      * `classed` (the -D b × -iu/-id path, r22): the sweep KEY gains
      * the B strand class ('-' = "m", everything else = "o") and every
      * A probe appears once per class — per (side, class) the fill's
      * winner is that class's true best, the static per-class mask
      * keeps only distance-0 candidates when the (side, class) is
      * disallowed (the flip is constant within a class), and ONE range
      * shuffle replaces the former two per-class timelines. The total
      * probe row count is unchanged (2 sides × 2 classes); each A
      * contributes four candidate rows. The PLAIN key rides as probe
      * payload (__pc) so the classed key never leaves the sweep —
      * downstream ([[closestAll]]'s tie join on __c) is untouched. */
    def sweepCands(b2x: DataFrame,
        maskOf: Int => Column => Column,
        classed: Boolean = false): DataFrame = {
      val nul = "\u0000" // compositeKey separator; class is the last fragment
      // ONE pass over b2x emits BOTH event kinds via explode (r22) —
      // the former bEnd/bStart union branches each evaluated the B
      // projection separately, so the range shuffle's sampling job and
      // map stage both decoded B twice; the exploded form also halves
      // the union fan-in the analyzer/optimizer walk per invocation
      val bKey =
        if (!classed) col("__c")
        else concat(col("__c"), lit(nul),
          when(col("__bstr") === "-", lit("m")).otherwise(lit("o")))
      val bEvents = b2x.select(bKey.as("__c"), cbStruct.as("__cb"),
          explode(array(
            struct(col("__be").as("p"), lit(0).as("k")),
            struct(col("__bs").as("p"), lit(2).as("k")))).as("__ev"))
      val cbT = bEvents.schema("__cb").dataType
      val bFull = bEvents.select(Seq(col("__c"),
        col("__ev.p").as("__pos"), col("__ev.k").as("__kind"),
        when(col("__ev.k") === 0, col("__cb")).as("__cbL"),
        when(col("__ev.k") === 2, col("__cb")).as("__cbR"),
        lit(null).cast(aidT).as("__aid"),
        lit(null).cast("int").as("__side"),
        lit(null).cast("string").as("__oc"),
        lit(null).cast("long").as("__as"),
        lit(null).cast("long").as("__ae"), nullAstr) ++
        (if (classed) Seq(lit(null).cast("string").as("__pc"),
          lit(null).cast("string").as("__cls")) else Nil): _*)
      // probes carry the A payload through the fill so the aggregate
      // below can re-emit it without a join back to a2
      val probeStructs =
        if (!classed) array(
          struct(col("__as").as("p"), lit(0).as("sd"), lit("").as("cl")),
          struct(col("__ae").as("p"), lit(1).as("sd"), lit("").as("cl")))
        else array(
          struct(col("__as").as("p"), lit(0).as("sd"), lit("m").as("cl")),
          struct(col("__ae").as("p"), lit(1).as("sd"), lit("m").as("cl")),
          struct(col("__as").as("p"), lit(0).as("sd"), lit("o").as("cl")),
          struct(col("__ae").as("p"), lit(1).as("sd"), lit("o").as("cl")))
      val aProbes = a2.select(Seq(col("__c"), col("__aid"),
          col("__oc"), col("__as").as("__pas"),
          col("__ae").as("__pae")) ++
          (if (withAt) Seq(col("__astr")) else Seq(nullAstr)) :+
          explode(probeStructs).as("__pr"): _*)
        .select(Seq(
          (if (!classed) col("__c")
          else concat(col("__c"), lit(nul), col("__pr.cl"))).as("__c"),
          col("__pr.p").as("__pos"),
          lit(1).as("__kind"), lit(null).cast(cbT).as("__cbL"),
          lit(null).cast(cbT).as("__cbR"), col("__aid"),
          col("__pr.sd").as("__side"), col("__oc"),
          col("__pas").as("__as"), col("__pae").as("__ae"),
          col("__astr")) ++
          (if (classed) Seq(col("__c").as("__pc"),
            col("__pr.cl").as("__cls")) else Nil): _*)
      // among equal-position B events the GLOBAL rule wants the MIN
      // (b start, b id): the forward fill keeps the LAST seen, so
      // kind-0 tie columns sort DESCENDING; the backward fill keeps
      // the FIRST, so kind-2 ties sort ASCENDING (equal-position start
      // events share their __bs — the id alone decides). Each tie
      // column is constant null outside its own kind, so the combined
      // order stays total.
      val ord: Seq[Column] = Seq(col("__pos").asc, col("__kind").asc,
        col("__cbL.__bs").desc_nulls_first,
        col("__cbL.__bid").desc_nulls_first,
        col("__cbR.__bid").asc_nulls_first)
      val filled = RangeFill.fillBoth(
        bFull.unionByName(aProbes)
          .withColumn("__probe", col("__kind") === 1),
        "__c", "__cbL", "__cbR", ord, partitions,
        probeCol = Some("__probe"))
      // candidate struct layout: min() compares lexicographically,
      // so (distance, b start, b id) IS the tie rule
      def candOf(cb: String, dist: Column) = {
        val base = Seq(dist.as("d"), col(s"$cb.__bs").as("s"),
          col(s"$cb.__bid").as("i"), col(s"$cb.__be").as("e"))
        struct((if (withBt) base :+ col(s"$cb.__bstr").as("t")
          else base): _*)
      }
      val candL = when(col("__side") === 0 && col("__cbL").isNotNull,
        candOf("__cbL", col("__pos") - col("__cbL.__be")))
      val candR = when(col("__side") === 1 && col("__cbR").isNotNull,
        candOf("__cbR", col("__cbR.__bs") - col("__pos")))
      // classed masking: keptStatic with the class flip as a per-row
      // column — `when(!masked || d == 0, cand)` IS keptStatic's
      // `if (masked) when(d === 0, cand) else cand`, row-wise
      def keptCl(cand: Column, r: Int): Column = {
        val flip = when(col("__cls") === "m", lit(-1L)).otherwise(lit(1L))
        val masked =
          (if (opts.ignoreUpstream) lit(r) * flip < 0L else lit(false)) ||
            (if (opts.ignoreDownstream) lit(r) * flip > 0L else lit(false))
        when(!masked || cand.getField("d") === 0L, cand)
      }
      val mL = if (classed) keptCl(candL, -1) else maskOf(0)(candL)
      val mR = if (classed) keptCl(candR, 1) else maskOf(1)(candR)
      filled.where(col("__kind") === 1)
        .select((if (classed) col("__pc") else col("__c")).as("__c"),
          col("__aid"), col("__oc"), col("__as"),
          col("__ae"), col("__astr"),
          when(col("__side") === 0, mL).otherwise(mR).as("__cand"))
    }
    // -D b with -iu/-id: the filter depends on each CANDIDATE's
    // strand, so one per-side argmin is unsound (the side's best may
    // be masked while a deeper same-side candidate survives). The
    // class-keyed sweep (classed = true above) runs one per-(side,
    // class) argmin inside ONE timeline — within a strand class the
    // flip is constant, so per-(side, class) masking is exact: a
    // masked (side, class) contributes only its distance-0
    // (book-ended) candidate, which is always allowed.
    val classSplit =
      (opts.ignoreUpstream || opts.ignoreDownstream) && withBt
    val sweeps =
      if (!classSplit) {
        // dynamic masking (identity outside -iu/-id): refSign 0 for a
        // distance-0 candidate, else the side's geometric sign
        def dyn(side: Int): Column => Column = cand =>
          kept(cand, when(cand.getField("d") === 0L, lit(0L))
            .otherwise(lit(if (side == 0) -1L else 1L)))
        sweepCands(b2, dyn)
      } else sweepCands(b2, _ => identity, classed = true)
    // -io: the overlap candidates are simply absent (left/right sweep
    // candidates are non-overlapping by construction; book-ended
    // distance-0 candidates still arrive via the sweeps — bedtools
    // counts only bp-sharing features as "overlaps"). Overlap
    // candidates are never masked: their effective sign is 0, which
    // passes both -iu and -id.
    val cands =
      if (opts.ignoreOverlaps) sweeps
      else {
        val oBase = Seq(lit(0L).as("d"), col("__bs").as("s"),
          col("__bid").as("i"), col("__be").as("e"))
        val overlapCand = IntervalJoin.overlapJoin(
            a2, b2.withColumnRenamed("__c", "__c2"),
            leftCols = ("__c", "__as", "__ae"),
            rightCols = ("__c2", "__bs", "__be"), binSize = binSize)
          .select(col("__aid"), col("__c"), col("__oc"), col("__as"),
            col("__ae"),
            (if (withAt) col("__astr") else nullAstr),
            struct((if (withBt) oBase :+ col("__bstr").as("t")
              else oBase): _*).as("__cand"))
        sweeps.unionByName(overlapCand)
      }
    // ONE hash aggregation: min(candidate) is the global argmin, the
    // payload columns are constant per A (max() re-emits them; every
    // A has its two probe rows, so no A is lost)
    cands.groupBy(col("__aid"))
      .agg(max(col("__c")).as("__c"), max(col("__oc")).as("__oc"),
        max(col("__as")).as("__as"), max(col("__ae")).as("__ae"),
        max(col("__astr")).as("__astr"),
        min(col("__cand")).as("__best"))
      .select(Seq(col("__aid"), col("__c"), col("__oc"),
        col("__as"), col("__ae")) ++
        opts.aStrandCol.map(_ => col("__astr")).toSeq :+
        col("__best"): _*)
  }

  /** Every-tie variant of [[closest]] — the bedtools `closest -t all`
    * analogue, with the `-D ref`-style SIGNED distance: one output row
    * per (A, B-at-minimum-distance) pair instead of the deterministic
    * argmin pick. `distance` matches [[closest]]'s rule exactly (0 for
    * any overlap or book-ended touch); `signed_distance` is 0 there,
    * negative for an upstream B (`b.end <= a.start` — B lower on the
    * reference), positive downstream. A rows with no candidate on
    * their (chrom, strand) key keep one row of null closest columns —
    * [[closest]]'s left-outer contract.
    *
    * Scale shape — still never all-pairs: [[closest]] first computes
    * each A's minimum distance d (its one-shuffle sweep machinery),
    * then ONE binned equi-join of A extended by d + 1 on each side
    * against B keeps the pairs at exactly distance d. The per-row
    * extension means an isolated A whose nearest B sits far away fans
    * out over many bins — [[IntervalJoin.overlapJoin]]'s long-row
    * coarse channels bound that explosion exactly as they bound long
    * input intervals. Ties at distance d are the output, so the join's
    * result size IS the answer's size.
    *
    * @param strand [[Strandedness]] — applied inside [[closest]]'s
    *               sweeps AND the tie join's key
    * @param opts [[ClosestOptions]] — the candidate filters apply to
    *               the argmin AND to the tie join's pair predicate */
  def closestAll(a: DataFrame, b: DataFrame, aId: String, bId: String,
      chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      partitions: Int = 0,
      strand: Strandedness = Strandedness.Ignore,
      opts: ClosestOptions = ClosestOptions()): DataFrame = {
    // ONE pair of projections feeds both the argmin core and the tie
    // join (the core's output already carries a2's columns, so no
    // re-join against a2 either); NOT checkpointed — closest()'s r21
    // A/B verdict (recomputing the narrow projections beats the
    // block write + re-reads at every size tried)
    val a2 = closestProjectA(a, aId, chrom, start, end, strand,
      opts.aStrandCol)
    val b2raw = closestProjectB(b, bId, chrom, start, end, strand,
      opts.bStrandCol)
    val b2 = b2raw.withColumnRenamed("__c", "__c2")
    // the core output feeds the tie join's extended probe side, that
    // join's OWN existence probe, and the miss branch — without the
    // checkpoint the ENTIRE argmin core (range fill + joins) executed
    // three times per query
    val withD = materializeInputs(
      closestCore(a2, b2.withColumnRenamed("__c2", "__c"),
          binSize, partitions, opts)
        .withColumn("__d", col("__best").getField("d")))
    // extend by d + 1 so a B at EXACTLY distance d still strictly
    // overlaps the probe interval (be > as - d - 1 <=> be >= as - d)
    val aExt = withD.where(col("__d").isNotNull)
      .withColumn("__xs", col("__as") - col("__d") - 1L)
      .withColumn("__xe", col("__ae") + col("__d") + 1L)
    val dist =
      when(col("__as") < col("__be") && col("__bs") < col("__ae"),
        lit(0L))
        .when(col("__be") <= col("__as"), col("__as") - col("__be"))
        .otherwise(col("__bs") - col("__ae"))
    // `dist` is inlined into the filter and BOTH output columns (one
    // flat select over the join, no stacked Project): with a
    // __dist-column intermediate the optimizer's collapse-vs-keep
    // decision on the two stacked Projects was nondeterministic
    // across builds (exprId hash ordering), flipping the canonical
    // plan and tripping the TVF plan-equality pin. Duplicating the
    // CASE is free under codegen and makes the plan shape a function
    // of the code alone.
    // the tie join replays the SAME candidate filters the argmin saw:
    // -io drops strictly-overlapping pairs (a book-ended pair shares
    // distance 0 but no bases and stays), -iu/-id drop by the
    // effective sign under the -D convention
    val refSd = when(dist === 0L, lit(0L))
      .when(col("__be") <= col("__as"), -dist)
      .otherwise(dist)
    val effSd = signFlip(refSd, opts.distanceMode,
      col("__astr"), col("__bstr"))
    val pairConds: Seq[Column] =
      (if (opts.ignoreOverlaps)
        Seq(!(col("__as") < col("__be") && col("__bs") < col("__ae")))
      else Nil) ++
      (if (opts.ignoreUpstream) Seq(effSd >= 0L) else Nil) ++
      (if (opts.ignoreDownstream) Seq(effSd <= 0L) else Nil)
    val ties = IntervalJoin.overlapJoin(aExt, b2,
        leftCols = ("__c", "__xs", "__xe"),
        rightCols = ("__c2", "__bs", "__be"), binSize = binSize)
      .where(pairConds.foldLeft(dist === col("__d"))(_ && _))
      .select(col("__aid"), col("__oc"), col("__as"), col("__ae"),
        col("__bid").as("__ci"), col("__bs").as("__cs"),
        col("__be").as("__ce"), dist.as("__dist"),
        (if (opts.distanceMode == DistanceMode.Ref) refSd else effSd)
          .as("__sd"))
    val misses = withD.where(col("__d").isNull)
      .select(col("__aid"), col("__oc"), col("__as"), col("__ae"),
        lit(null).cast(b2.schema("__bid").dataType).as("__ci"),
        lit(null).cast("long").as("__cs"),
        lit(null).cast("long").as("__ce"),
        lit(null).cast("long").as("__dist"),
        lit(null).cast("long").as("__sd"))
    ties.unionByName(misses)
      .select(col("__aid").as(aId),
        col("__oc").cast(a.schema(chrom).dataType).as(chrom),
        col("__as").cast(a.schema(start).dataType).as(start),
        col("__ae").cast(a.schema(end).dataType).as(end),
        col("__ci").as("closest_id"),
        col("__cs").as("closest_start"),
        col("__ce").as("closest_end"),
        col("__dist").as("distance"),
        col("__sd").as("signed_distance"))
  }

  /** K-nearest B intervals for every A interval — the bedtools
    * `closest -k` analogue: up to `k` output rows per A, ranked by the
    * family's global deterministic rule (distance, b start, b id) with
    * `rank` 1..k, plus one null-columned row for an A with no
    * candidate on its (chrom, strand) key ([[closest]]'s left-outer
    * contract). `distance`/`signed_distance` follow [[closest]]'s
    * conventions; [[ClosestOptions]]' `-io`/`-iu`/`-id`/`-D` filters
    * compose (candidates are filtered BEFORE ranking, so the k
    * survivors are the true top-k of the filtered set).
    *
    * Scale shape — never all-pairs: [[RangeFill.fillBothK]] runs
    * [[closest]]'s one combined event timeline with a k-deep deque per
    * direction (ONE range shuffle; the per-side deques hold exactly
    * the top-k left/right candidates because the timeline's tie
    * ordering makes deque order = ascending (distance, b start,
    * b id)), the binned overlap join supplies distance-0 candidates
    * capped to k per A by a row_number over the A id (no skew: the
    * partition key is the unique A id), and one final per-A window
    * ranks ≤3k candidate rows. Output size ≤ k × |A| + misses.
    *
    * @param aId unique id column in `a` ([[closest]]'s contract:
    *            duplicate values cross-product the candidate
    *            machinery — here the per-A ranking window and the
    *            final join back)
    * @param bId unique id column in `b` (tie-break + output id)
    * @param k how many nearest features to report (bedtools `-k`) */
  def closestK(a: DataFrame, b: DataFrame, aId: String, bId: String,
      k: Int, chrom: String = "chrom", start: String = "start",
      end: String = "end", binSize: Long = 1000L,
      partitions: Int = 0,
      strand: Strandedness = Strandedness.Ignore,
      opts: ClosestOptions = ClosestOptions()): DataFrame = {
    require(k >= 1, s"closestK needs k >= 1, got $k")
    // materialized once for the k-deep timeline, the overlap join +
    // probes, and the final join-back (see materializeInputs)
    val Seq(a2, b2) = materializeAll(
      closestProjectA(a, aId, chrom, start, end, strand,
        opts.aStrandCol),
      closestProjectB(b, bId, chrom, start, end, strand,
        opts.bStrandCol))
    val withBt = opts.bStrandCol.isDefined
    val withAt = opts.aStrandCol.isDefined
    val cbStruct =
      if (!withBt) struct(col("__bs"), col("__bid"), col("__be"))
      else struct(col("__bs"), col("__bid"), col("__be"), col("__bstr"))
    val aidT = a2.schema("__aid").dataType
    val nullAstr = lit(null).cast("string").as("__astr")
    /** The k-deep timeline over `b2x`'s events — [[closestCore]]'s
      * construction with [[RangeFill.fillBothK]] and two extra probe
      * payloads (__apoint for the both-zero-length dedup corner,
      * __astr under -D a). */
    def filledOf(b2x: DataFrame): DataFrame = {
      // ONE pass over b2x emits BOTH event kinds via explode (r22,
      // closestCore's rewrite applied here): the former bEnd/bStart
      // union branches each evaluated the B projection separately
      val bEvents = b2x.select(col("__c"), cbStruct.as("__cb"),
          explode(array(
            struct(col("__be").as("p"), lit(0).as("k")),
            struct(col("__bs").as("p"), lit(2).as("k")))).as("__ev"))
      val cbT = bEvents.schema("__cb").dataType
      val bFull = bEvents.select(col("__c"),
        col("__ev.p").as("__pos"), col("__ev.k").as("__kind"),
        when(col("__ev.k") === 0, col("__cb")).as("__cbL"),
        when(col("__ev.k") === 2, col("__cb")).as("__cbR"),
        lit(null).cast(aidT).as("__aid"),
        lit(null).cast("int").as("__side"),
        lit(null).cast("boolean").as("__apoint"), nullAstr)
      val aProbes = a2.select(Seq(col("__c"), col("__aid"),
          (col("__as") === col("__ae")).as("__apoint")) ++
          (if (withAt) Seq(col("__astr")) else Seq(nullAstr)) :+
          explode(array(
            struct(col("__as").as("p"), lit(0).as("sd")),
            struct(col("__ae").as("p"), lit(1).as("sd")))).as("__pr"): _*)
        .select(col("__c"), col("__pr.p").as("__pos"),
          lit(1).as("__kind"), lit(null).cast(cbT).as("__cbL"),
          lit(null).cast(cbT).as("__cbR"), col("__aid"),
          col("__pr.sd").as("__side"), col("__apoint"), col("__astr"))
      // the SAME total order as closestCore's timeline: deque order
      // becomes ascending (distance, b start, b id) on both sides
      val ord: Seq[Column] = Seq(col("__pos").asc, col("__kind").asc,
        col("__cbL.__bs").desc_nulls_first,
        col("__cbL.__bid").desc_nulls_first,
        col("__cbR.__bid").asc_nulls_first)
      RangeFill.fillBothK(
        bFull.unionByName(aProbes)
          .withColumn("__probe", col("__kind") === 1),
        "__c", "__cbL", "__cbR", "__Lk", "__Rk", k, ord, partitions,
        probeCol = Some("__probe"))
    }
    // ONE pass over a fill: each probe explodes its own side's deque
    // (side 0 = left, the __Lk values; side 1 = right, __Rk). `maskedL`/
    // `maskedR` (only in the -D b × -iu/-id class-split below): the
    // (side, class)'s d > 0 candidates are all disallowed, so only the
    // distance-0 prefix of the deque survives — still the true top of
    // the filtered set (deque order is ascending distance)
    def candsOf(filled: DataFrame, maskedL: Boolean,
        maskedR: Boolean): DataFrame = {
      val left = col("__side") === 0
      val cb = col("__cb")
      val d = when(left, col("__pos") - cb.getField("__be"))
        .otherwise(cb.getField("__bs") - col("__pos"))
      // a zero-length B book-ended at a zero-length A's point is BOTH a
      // left and a right candidate (the only double-report case in the
      // family); it stays on the left side and drops on the right
      val rightDup = col("__apoint") &&
        cb.getField("__bs") === cb.getField("__be") &&
        cb.getField("__bs") === col("__pos")
      filled.where(col("__kind") === 1)
        .select(col("__aid"), col("__pos"), col("__astr"), col("__apoint"),
          col("__side"), explode(when(left, col("__Lk"))
            .otherwise(col("__Rk"))).as("__cb"))
        .where(when(left, lit(!maskedL) || d === 0L)
          .otherwise(!rightDup && (lit(!maskedR) || d === 0L)))
        .select(Seq(col("__aid"), d.as("__d"), cb.getField("__bs").as("__s"),
          cb.getField("__bid").as("__i"), cb.getField("__be").as("__e"),
          when(left, lit("L")).otherwise(lit("R")).as("__src"),
          col("__astr")) ++
          (if (withBt) Seq(cb.getField("__bstr").as("__bt"))
          else Seq(lit(null).cast("string").as("__bt"))): _*)
    }
    val classSplit =
      (opts.ignoreUpstream || opts.ignoreDownstream) && withBt
    val sweepC =
      if (!classSplit) candsOf(filledOf(b2), maskedL = false, maskedR = false)
      else {
        def maskedFor(r: Int, f: Int): Boolean =
          (opts.ignoreUpstream && r * f < 0) ||
            (opts.ignoreDownstream && r * f > 0)
        candsOf(filledOf(b2.where(col("__bstr") === "-")),
          maskedFor(-1, -1), maskedFor(1, -1))
          .unionByName(candsOf(filledOf(b2.where(!(col("__bstr") <=> "-"))),
            maskedFor(-1, 1), maskedFor(1, 1)))
      }
    val cands0 =
      if (opts.ignoreOverlaps) sweepC
      else {
        val wO = Window.partitionBy(col("__aid"))
          .orderBy(col("__bs"), col("__bid"))
        val overlapC = IntervalJoin.overlapJoin(
            a2, b2.withColumnRenamed("__c", "__c2"),
            leftCols = ("__c", "__as", "__ae"),
            rightCols = ("__c2", "__bs", "__be"), binSize = binSize)
          .withColumn("__ork", row_number().over(wO))
          .where(col("__ork") <= k)
          .select(Seq(col("__aid"), lit(0L).as("__d"),
            col("__bs").as("__s"), col("__bid").as("__i"),
            col("__be").as("__e"), lit("O").as("__src")) ++
            (if (withAt) Seq(col("__astr")) else Seq(nullAstr)) ++
            (if (withBt) Seq(col("__bstr").as("__bt"))
            else Seq(lit(null).cast("string").as("__bt"))): _*)
        sweepC.unionByName(overlapC)
      }
    // -iu/-id filter BEFORE ranking (the deques' per-side top-k are
    // supersets of the filtered per-side top-k: survivors of the sign
    // predicate always sort ahead of non-survivors in deque order)
    val refSign = when(col("__d") === 0L, lit(0L))
      .when(col("__src") === "L", lit(-1L)).otherwise(lit(1L))
    val effSign = signFlip(refSign, opts.distanceMode,
      col("__astr"), col("__bt"))
    val signConds: Seq[Column] =
      (if (opts.ignoreUpstream) Seq(effSign >= 0L) else Nil) ++
        (if (opts.ignoreDownstream) Seq(effSign <= 0L) else Nil)
    val cands = signConds.foldLeft(cands0)(_ where _)
    val w = Window.partitionBy(col("__aid"))
      .orderBy(col("__d"), col("__s"), col("__i"))
    val ranked = cands.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .withColumnRenamed("__astr", "__castr")
    val refSd = when(col("__d") === 0L, lit(0L))
      .when(col("__src") === "L", -col("__d")).otherwise(col("__d"))
    joinedK(a2, ranked, a, aId, chrom, start, end,
      signFlip(refSd, opts.distanceMode, col("__castr"), col("__bt")))
  }

  /** [[closestK]]'s final assembly: the left join back to the A
    * projection (restoring no-candidate rows as single null-columned
    * rows) and the typed output select. */
  private def joinedK(a2: DataFrame, ranked: DataFrame, a: DataFrame,
      aId: String, chrom: String, start: String, end: String,
      signedCol: Column): DataFrame =
    a2.join(ranked, Seq("__aid"), "left")
      .select(col("__aid").as(aId),
        col("__oc").cast(a.schema(chrom).dataType).as(chrom),
        col("__as").cast(a.schema(start).dataType).as(start),
        col("__ae").cast(a.schema(end).dataType).as(end),
        col("__i").as("closest_id"),
        col("__s").as("closest_start"),
        col("__e").as("closest_end"),
        col("__d").as("distance"),
        signedCol.as("signed_distance"),
        col("__rk").cast("long").as("rank"))
}

/** One merged group of [[IntervalOps.mergeIntervalsRange]]. */
private[operators] final case class MergeGroup(chrom: String, start: Long,
    end: Long, n: Long)

/** The open group a partition continues (null when none), and whether
  * the next partition continues this partition's trailing group. */
private[operators] final case class MergeCarry(group: MergeGroup,
    continued: Boolean)

/** The [[IntervalOps.mergeIntervalsRange]] sweep over sorted
  * (chrom, start, clamped end) rows. Pass A is the un-seeded sweep: a
  * partition's first and last local groups and its row count. */
private[operators] final case class MergeSweep(maxGap: Long)
    extends SweepKernel[Option[(MergeGroup, MergeGroup, Long)], MergeCarry] {

  def output(child: Seq[Attribute], inputs: Seq[Attribute])
      : Seq[Attribute] = IntervalOps.segmentAttrs("n_merged" -> LongType)

  def summarize(rows: Iterator[InternalRow], in: SweepInput)
      : Option[(MergeGroup, MergeGroup, Long)] = {
    sweep(rows, in, MergeCarry(null, continued = false)).map(g =>
      MergeGroup(g.getUTF8String(0).toString, g.getLong(1), g.getLong(2),
        g.getLong(3))
    ).foldLeft(Option.empty[(MergeGroup, MergeGroup, Long)]) {
      case (None, g) => Some((g, g, g.n))
      case (Some((first, _, n)), g) => Some((first, g, n + g.n))
    }
  }

  /** One forward pass: a partition takes the previous non-empty
    * partition's trailing group when its first row joins it; the group
    * then absorbs the whole partition iff it reaches the partition's
    * last local group (see mergeIntervalsRange's derivation). */
  def resolve(s: IndexedSeq[Option[(MergeGroup, MergeGroup, Long)]])
      : IndexedSeq[MergeCarry] = {
    val carries = Array.fill(s.length)(MergeCarry(null, continued = false))
    var prev = -1
    var open: MergeGroup = null // prev's trailing group
    for (p <- s.indices; (first, last, rows) <- s(p)) {
      val joins = open != null && open.chrom == first.chrom &&
        first.start <= open.end + maxGap
      if (joins) {
        carries(prev) = carries(prev).copy(continued = true)
        carries(p) = MergeCarry(open, continued = false)
      }
      open =
        if (joins && first.chrom == last.chrom &&
          open.end + maxGap >= last.start)
          MergeGroup(last.chrom, open.start, math.max(open.end, last.end),
            open.n + rows)
        else last
      prev = p
    }
    carries.toIndexedSeq
  }

  def sweep(rows: Iterator[InternalRow], in: SweepInput, carry: MergeCarry)
      : Iterator[InternalRow] = new SweepIterator(rows) {
    private val Seq(cO, sO, eO) = in.cols.map(_.ordinal)
    private var open = carry.group != null
    private val g = if (open) carry.group else MergeGroup(null, 0L, 0L, 0L)
    private var curC = if (open) UTF8String.fromString(g.chrom) else null
    private var (gS, gE, gN) = (g.start, g.end, g.n)
    private def close(): Unit =
      emit(new GenericInternalRow(Array[Any](curC, gS, gE, gN)))
    protected def step(r: InternalRow): Unit = {
      val c = r.getUTF8String(cO)
      val st = r.getLong(sO)
      val en = r.getLong(eO)
      val sameC = curC != null && c == curC
      if (open && sameC && st <= gE + maxGap) {
        gE = math.max(gE, en); gN += 1L
      } else {
        if (open) close()
        if (!sameC) curC = c.copy()
        gS = st; gE = en; gN = 1L; open = true
      }
    }
    // a trailing group the next partition continues is emitted there
    override protected def finish(): Unit =
      if (open && !carry.continued) close()
  }
}

/** Pass A of the breakpoint sweeps: a partition's first breakpoint and
  * its net delta per (chrom, label). */
private[operators] final case class BreakpointSums(first: (String, Long),
    sums: Seq[((String, String), Long)])

/** The entering depth per label of a partition's first chromosome (no
  * other chromosome of the partition has rows in earlier partitions),
  * and the next non-empty partition's first breakpoint, which closes
  * the last open segment (null when none). */
private[operators] final case class BreakpointCarry(depth: Map[String, Long],
    term: (String, Long))

/** [[IntervalOps.coverage]] and [[IntervalOps.multiinter]]: a prefix
  * sum over sorted (chrom, pos, delta[, label]) net breakpoints. Pass A
  * collects per-partition per-(chrom, label) delta totals plus first
  * breakpoints; pass B streams each partition once, seeding the first
  * chromosome's depth and closing the last segment against the next
  * non-empty partition's first breakpoint. */
private[operators] abstract class BreakpointSweep(val op: String)
    extends SweepKernel[Option[BreakpointSums], BreakpointCarry] {

  protected def label(r: InternalRow, in: SweepInput): String

  def summarize(rows: Iterator[InternalRow], in: SweepInput)
      : Option[BreakpointSums] = {
    val Seq(cO, pO, dO) = in.cols.take(3).map(_.ordinal)
    var first: (String, Long) = null
    var curC: UTF8String = null
    var curCs: String = null
    val sums = mutable.LinkedHashMap.empty[(String, String), Long]
    rows.foreach { r =>
      val c = r.getUTF8String(cO)
      if (curC == null || c != curC) {
        curC = c.copy(); curCs = curC.toString
        if (first == null) first = (curCs, r.getLong(pO))
      }
      val k = (curCs, label(r, in))
      sums(k) = sums.getOrElse(k, 0L) + r.getLong(dO)
    }
    Option(first).map(BreakpointSums(_, sums.toSeq))
  }

  /** Entering depths: a prefix over partitions (a chromosome's deltas
    * net to zero once it ends, so only open ones stay). Terminators:
    * the nearest LATER non-empty partition's first breakpoint. */
  def resolve(s: IndexedSeq[Option[BreakpointSums]])
      : IndexedSeq[BreakpointCarry] = {
    val running = mutable.HashMap.empty[(String, String), Long]
    val depths = s.map(_.fold(Map.empty[String, Long]) { b =>
      val entering = running.collect {
        case ((c, l), d) if c == b.first._1 => l -> d
      }.toMap
      b.sums.foreach { case (k, d) =>
        val nd = running.getOrElse(k, 0L) + d
        if (nd == 0L) running.remove(k) else running(k) = nd
      }
      entering
    })
    var next: (String, Long) = null
    s.indices.reverse.map { p =>
      val carry = BreakpointCarry(depths(p), next)
      s(p).foreach(b => next = b.first)
      carry
    }.reverse
  }

  /** Pass B: walks the breakpoints, closing each one's segment at the
    * next breakpoint of the same chromosome (or at the terminator). All
    * rows of one (chrom, pos) are adjacent in the sort, and a range
    * partition never splits equal keys. */
  protected abstract class Segments(rows: Iterator[InternalRow],
      in: SweepInput, carry: BreakpointCarry) extends SweepIterator(rows) {
    private val cO = in.cols(0).ordinal
    private val pO = in.cols(1).ordinal
    protected var chrom: UTF8String = null
    protected var pos = 0L
    private var seed = carry.depth
    protected def reset(seed: Map[String, Long]): Unit
    protected def add(r: InternalRow): Unit
    /** Emits the segment [pos, end) of `chrom`, if it has one. */
    protected def close(end: Long): Unit
    protected def step(r: InternalRow): Unit = {
      val c = r.getUTF8String(cO)
      val p = r.getLong(pO)
      val sameC = chrom != null && c == chrom
      if (!sameC || p != pos) {
        // a new breakpoint: the previous one's segment closes here
        // (same chrom) or not at all (chrom changed: net depth 0)
        if (sameC) close(p)
        else { chrom = c.copy(); reset(seed); seed = Map.empty }
        pos = p
      }
      add(r)
    }
    override protected def finish(): Unit =
      if (chrom != null && carry.term != null &&
        chrom.toString == carry.term._1) close(carry.term._2)
  }
}

private[operators] case object CoverageSweep
    extends BreakpointSweep("coverage") {

  def output(child: Seq[Attribute], inputs: Seq[Attribute])
      : Seq[Attribute] = IntervalOps.segmentAttrs("depth" -> LongType)

  protected def label(r: InternalRow, in: SweepInput): String = ""

  def sweep(rows: Iterator[InternalRow], in: SweepInput,
      carry: BreakpointCarry): Iterator[InternalRow] =
    new Segments(rows, in, carry) {
      private val dO = in.cols(2).ordinal
      private var depth = 0L
      protected def reset(seed: Map[String, Long]): Unit =
        depth = seed.getOrElse("", 0L)
      protected def add(r: InternalRow): Unit = depth += r.getLong(dO)
      protected def close(end: Long): Unit =
        emit(new GenericInternalRow(Array[Any](chrom, pos, end, depth)))
    }
}

private[operators] case object MultiinterSweep
    extends BreakpointSweep("multiinter") {

  def output(child: Seq[Attribute], inputs: Seq[Attribute])
      : Seq[Attribute] = IntervalOps.segmentAttrs("n_sets" -> LongType,
    "sets" -> StringType)

  protected def label(r: InternalRow, in: SweepInput): String =
    r.getUTF8String(in.cols(3).ordinal).toString

  def sweep(rows: Iterator[InternalRow], in: SweepInput,
      carry: BreakpointCarry): Iterator[InternalRow] =
    new Segments(rows, in, carry) {
      private val dO = in.cols(2).ordinal
      private val sO = in.cols(3).ordinal
      // per-set depth; sets at depth 0 are removed
      private val depth = mutable.HashMap.empty[UTF8String, Long]
      protected def reset(seed: Map[String, Long]): Unit = {
        depth.clear()
        seed.foreach { case (s, d) => depth(UTF8String.fromString(s)) = d }
      }
      protected def add(r: InternalRow): Unit = {
        val s = r.getUTF8String(sO)
        val d = depth.getOrElse(s, 0L) + r.getLong(dO)
        if (d == 0L) depth.remove(s)
        else if (depth.contains(s)) depth(s) = d
        else depth(s.copy()) = d
      }
      protected def close(end: Long): Unit = if (depth.nonEmpty) {
        val names = depth.keysIterator.map(_.toString).toArray.sorted
        emit(new GenericInternalRow(Array[Any](chrom, pos, end,
          names.length.toLong, UTF8String.fromString(names.mkString(",")))))
      }
    }
}
