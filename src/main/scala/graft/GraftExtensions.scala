package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.functions.GenomicFunctions

/** Session extension registering the genomic expressions in the SQL
  * function registry (SURVEY §7.3), so
  * `spark.sql("SELECT parse_region(r).chrom ...")` works:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Scalar functions: `parse_region(str[, coords])`,
  * `cigar_ref_len(str)`, `cigar_ops(str)`.
  *
  * Table-valued functions surfacing the interval-algebra / as-of
  * operators to SQL-only users (each takes TABLE OR VIEW NAMES as
  * literal strings — resolved in the active session's catalog — plus
  * optional literal column names; the built plan is IDENTICAL to the
  * Scala API's, pinned by spec):
  *
  *  - `SELECT * FROM interval_merge('ivs')` —
  *    [[graft.operators.IntervalOps.mergeIntervals]]
  *  - `SELECT * FROM interval_coverage('ivs')` —
  *    [[graft.operators.IntervalOps.coverage]]
  *  - `SELECT * FROM interval_complement('ivs')` —
  *    [[graft.operators.IntervalOps.complement]] (data-span variant;
  *    the genome-sizes variant needs a second frame, Scala API only)
  *  - `SELECT * FROM interval_subtract('a', 'b', 'aid')` —
  *    [[graft.operators.IntervalOps.subtract]]
  *  - `SELECT * FROM interval_closest('a', 'b', 'aid', 'bid')` —
  *    [[graft.operators.IntervalOps.closest]]; an optional 5th
  *    options literal carries the bedtools flags
  *    (`'io,iu,id,signed,D=ref|a|b'`)
  *  - `SELECT * FROM interval_closest_all('a', 'b', 'aid', 'bid')` —
  *    [[graft.operators.IntervalOps.closestAll]] (every tie + signed
  *    distance; same optional options literal; strand MATCHING
  *    policies are Scala API on all operators)
  *  - `SELECT * FROM interval_closest_k('a', 'b', 'aid', 'bid', 3)` —
  *    [[graft.operators.IntervalOps.closestK]] (k nearest with rank;
  *    same optional trailing options literal)
  *  - `SELECT * FROM interval_map('a', 'b', 'aid', 'v')` —
  *    [[graft.operators.IntervalOps.mapOverlaps]]
  *  - `SELECT * FROM interval_jaccard('a', 'b')` —
  *    [[graft.operators.IntervalOps.jaccard]]
  *  - `SELECT * FROM interval_filter('a', 'b', 'aid', 'u')` —
  *    [[graft.operators.IntervalOps.overlapFilter]] ('u' keeps
  *    overlapping A rows, 'v' the rest; strand/fraction options are
  *    Scala API)
  *  - `SELECT * FROM interval_getfasta('ivs', '/ref.fa')` /
  *    `interval_nuc('ivs', '/ref.fa')` —
  *    [[graft.operators.SequenceOps.getFasta]] /
  *    [[graft.operators.SequenceOps.nucContent]]
  *  - `SELECT * FROM interval_slop('ivs', 500)` /
  *    `interval_slop('ivs', 500, 'sizes')` —
  *    [[graft.operators.IntervalOps.slop]] (symmetric growth; the
  *    left/right split is Scala API)
  *  - `SELECT * FROM interval_flank('ivs', 100, 200[, 'sizes'])` —
  *    [[graft.operators.IntervalOps.flank]]
  *  - `SELECT * FROM interval_window('a', 'b', 5000[, 'bc', 'bs',
  *    'be'])` — [[graft.operators.IntervalOps.windowJoin]] (the output
  *    holds both sides' columns, so B's coordinate names must differ
  *    from A's; A-side custom names are Scala API)
  *  - `SELECT * FROM interval_coverage_by('a', 'b', 'aid')` —
  *    [[graft.operators.IntervalOps.coverageBy]]
  *  - `SELECT * FROM interval_cluster('ivs')` —
  *    [[graft.operators.IntervalOps.cluster]]
  *  - `SELECT * FROM make_windows('sizes', 1000[, step])` —
  *    [[graft.operators.IntervalOps.makeWindows]]
  *  - `SELECT * FROM interval_shift('ivs', -500[, 'sizes'])` —
  *    [[graft.operators.IntervalOps.shift]]
  *  - `SELECT * FROM interval_multiinter('u'[, 'set'])` —
  *    [[graft.operators.IntervalOps.multiinter]] (one frame with a
  *    set-label column; the separate-frames form is Scala API)
  *  - `SELECT * FROM interval_reldist('a', 'b', 'aid')` —
  *    [[graft.operators.IntervalOps.reldist]]
  *  - `SELECT * FROM interval_shuffle('ivs', 'sizes', 7, 'id')` —
  *    [[graft.operators.IntervalOps.shuffleIntervals]]
  *  - `SELECT * FROM interval_annotate('a', 'aid', 'lbl1', 'b1'[,
  *    'lbl2', 'b2', ...])` —
  *    [[graft.operators.IntervalOps.annotate]] (long format)
  *  - `SELECT * FROM asof_backward('clicks', 'views', 'uid', 'uid',
  *    'ts', 'vts')` / `asof_forward(...)` —
  *    [[graft.operators.AsofJoin.backward]] / [[graft.operators
  *    .AsofJoin.forward]] (tie-break / tolerance / range variants:
  *    Scala API)
  *
  * The single-table interval TVFs accept an optional trailing
  * (chrom, start, end) column-name triple. NOTE: operators that
  * materialize a shared intermediate (subtract, cluster, jaccard, ...)
  * run that job when the TVF is ANALYZED, as the Scala API does when
  * the frame is built; the range sweeps run only with the query.
  *
  * Also injects [[graft.plans.IntervalJoinRewrite]], the optimizer rule
  * that turns naive chrom-equality + range-overlap joins into binned
  * equi-joins (disable with `spark.graft.intervalJoin.binSize=0`), and
  * the planner strategy for the range sweeps
  * ([[org.apache.spark.sql.graftshim.RangeSweepStrategy]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GenomicFunctions.type].getName, null, name,
      usage, "", "", "", "", "", "", "built-in")

  private def litStr(e: Expression, what: String): String = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal string")
    val v = e.eval()
    if (v == null) throw new IllegalArgumentException(
      s"$what must not be null")
    v.toString
  }

  /** Resolve a TVF table argument in the ACTIVE session's catalog (the
    * session analyzing the query — TVF builders run at analysis time,
    * so one is always active).
    *
    * Rejects NONDETERMINISTIC inputs up front: the two-pass
    * range-partitioned operators behind many of these TVFs resolve
    * their pass-A summaries before pass B, and an executor loss
    * recomputing a `rand()`-bearing child during pass B could
    * disagree with them (see
    * [[graft.operators.IntervalOps.mergeIntervalsRange]]'s
    * determinism contract). The check walks the OPTIMIZED plan,
    * so a persisted/cached derivation passes — its nondeterminism is
    * frozen behind an InMemoryRelation leaf, which is exactly the
    * documented remedy. */
  private def tableOf(e: Expression): DataFrame = {
    val name = litStr(e, "table name")
    val df = SparkSession.active.table(name)
    val nondet = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(!_.deterministic)))
    if (nondet) throw new IllegalArgumentException(
      s"table '$name' has a nondeterministic derivation (rand()/uuid()" +
        "/...); graft table functions resolve driver-side summaries " +
        "before their second pass, so recomputation under executor " +
        "loss could disagree — cache/persist (and materialize) the " +
        "table first")
    df
  }

  private def litLong(e: Expression, what: String): Long = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal integer")
    e.eval() match {
      case null => throw new IllegalArgumentException(
        s"$what must not be null")
      // reject fractional numerics explicitly: longValue() would
      // silently truncate e.g. 1.5e0 to 1 despite the "literal
      // integer" contract (decimal literals like 1.5 already error,
      // so acceptance must not depend on the literal's spelling)
      case n: Number if n.doubleValue() == n.longValue().toDouble =>
        n.longValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a literal integer, got $other")
    }
  }

  /** Parses the closest family's option-string TVF argument —
    * comma-separated bedtools-style flags: `io` (ignore strict
    * overlaps), `iu`/`id` (ignore upstream/downstream; imply signed
    * output), `signed`/`D=ref`, `D=a`, `D=b` (sign convention; the
    * strand column is the default `strand` on the respective side). */
  private def parseClosestOpts(s: String)
      : graft.operators.ClosestOptions = {
    var o = graft.operators.ClosestOptions()
    s.split(',').map(_.trim).filter(_.nonEmpty).foreach {
      case "io" => o = o.copy(ignoreOverlaps = true)
      case "iu" => o = o.copy(ignoreUpstream = true, signed = true)
      case "id" => o = o.copy(ignoreDownstream = true, signed = true)
      case "signed" | "D=ref" => o = o.copy(signed = true)
      case "D=a" => o = o.copy(signed = true,
        distanceMode = graft.operators.DistanceMode.RespectA())
      case "D=b" => o = o.copy(signed = true,
        distanceMode = graft.operators.DistanceMode.RespectB())
      case other => throw new IllegalArgumentException(
        s"unknown closest option '$other' " +
          "(io|iu|id|signed|D=ref|D=a|D=b)")
    }
    o
  }

  /** Single-table interval TVF plumbing: `f(tbl)` with the operator's
    * default (chrom, start, end) names, or `f(tbl, chrom, start, end)`. */
  private def intervalTvf(name: String)(
      op: (DataFrame, String, String, String) => DataFrame)
      : Seq[Expression] => LogicalPlan = {
    case Seq(t) =>
      op(tableOf(t), "chrom", "start", "end").queryExecution.logical
    case Seq(t, c, s, e) =>
      op(tableOf(t), litStr(c, "chrom column"), litStr(s, "start column"),
        litStr(e, "end column")).queryExecution.logical
    case other => throw new IllegalArgumentException(
      s"$name takes (table[, chrom, start, end]), got ${other.size} args")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.IntervalJoinRewrite)
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graftshim.RangeSweepStrategy)
    ext.injectTableFunction((
      FunctionIdentifier("interval_merge"),
      info("interval_merge",
        "interval_merge(table[, chrom, start, end]) - merge " +
          "overlapping/book-ended intervals per chromosome"),
      intervalTvf("interval_merge")((df, c, s, e) =>
        graft.operators.IntervalOps.mergeIntervals(df, c, s, e))))
    ext.injectTableFunction((
      FunctionIdentifier("interval_coverage"),
      info("interval_coverage",
        "interval_coverage(table[, chrom, start, end]) - per-base " +
          "coverage depth segments (bedtools genomecov)"),
      intervalTvf("interval_coverage")((df, c, s, e) =>
        graft.operators.IntervalOps.coverage(df, c, s, e))))
    ext.injectTableFunction((
      FunctionIdentifier("interval_complement"),
      info("interval_complement",
        "interval_complement(table[, chrom, start, end]) - uncovered " +
          "gaps within the data's span (bedtools complement)"),
      intervalTvf("interval_complement")((df, c, s, e) =>
        graft.operators.IntervalOps.complement(df, c, s, e))))
    ext.injectTableFunction((
      FunctionIdentifier("interval_subtract"),
      info("interval_subtract",
        "interval_subtract(a_table, b_table, a_id[, chrom, start, end])" +
          " - A minus every base B covers (bedtools subtract)"),
      {
        case Seq(a, b, aid) =>
          graft.operators.IntervalOps.subtract(tableOf(a), tableOf(b),
            litStr(aid, "a_id column")).queryExecution.logical
        case Seq(a, b, aid, c, s, e) =>
          graft.operators.IntervalOps.subtract(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(c, "chrom column"),
            litStr(s, "start column"), litStr(e, "end column"))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_subtract takes (a_table, b_table, a_id[, chrom, " +
            s"start, end]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_closest"),
      info("interval_closest",
        "interval_closest(a_table, b_table, a_id, b_id[, chrom, start, " +
          "end]) - nearest B interval per A (bedtools closest)"),
      {
        case Seq(a, b, aid, bid) =>
          graft.operators.IntervalOps.closest(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"))
            .queryExecution.logical
        case Seq(a, b, aid, bid, o) =>
          graft.operators.IntervalOps.closest(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"),
            opts = parseClosestOpts(litStr(o, "options")))
            .queryExecution.logical
        case Seq(a, b, aid, bid, c, s, e) =>
          graft.operators.IntervalOps.closest(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"),
            litStr(c, "chrom column"), litStr(s, "start column"),
            litStr(e, "end column")).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_closest takes (a_table, b_table, a_id, b_id[, " +
            "options][, chrom, start, end]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_closest_k"),
      info("interval_closest_k",
        "interval_closest_k(a_table, b_table, a_id, b_id, k[, options])" +
          " - k nearest B intervals per A with rank and signed " +
          "distance (bedtools closest -k)"),
      {
        case Seq(a, b, aid, bid, k) =>
          graft.operators.IntervalOps.closestK(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"),
            litLong(k, "k").toInt).queryExecution.logical
        case Seq(a, b, aid, bid, k, o) =>
          graft.operators.IntervalOps.closestK(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"),
            litLong(k, "k").toInt,
            opts = parseClosestOpts(litStr(o, "options")))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_closest_k takes (a_table, b_table, a_id, b_id, " +
            s"k[, options]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_closest_all"),
      info("interval_closest_all",
        "interval_closest_all(a_table, b_table, a_id, b_id[, chrom, " +
          "start, end]) - every tie at each A's minimum distance with " +
          "signed distance (bedtools closest -t all -D ref)"),
      {
        case Seq(a, b, aid, bid) =>
          graft.operators.IntervalOps.closestAll(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"))
            .queryExecution.logical
        case Seq(a, b, aid, bid, o) =>
          graft.operators.IntervalOps.closestAll(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"),
            opts = parseClosestOpts(litStr(o, "options")))
            .queryExecution.logical
        case Seq(a, b, aid, bid, c, s, e) =>
          graft.operators.IntervalOps.closestAll(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(bid, "b_id column"),
            litStr(c, "chrom column"), litStr(s, "start column"),
            litStr(e, "end column")).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_closest_all takes (a_table, b_table, a_id, b_id[, " +
            s"options][, chrom, start, end]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_map"),
      info("interval_map",
        "interval_map(a_table, b_table, a_id, value[, chrom, start, " +
          "end]) - aggregate overlapping B values per A (bedtools map)"),
      {
        case Seq(a, b, aid, v) =>
          graft.operators.IntervalOps.mapOverlaps(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(v, "value column"))
            .queryExecution.logical
        case Seq(a, b, aid, v, bs, sz) =>
          // -split: two trailing block-array column names
          graft.operators.IntervalOps.mapOverlaps(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(v, "value column"),
            blockStarts = litStr(bs, "blockStarts column"),
            blockSizes = litStr(sz, "blockSizes column"))
            .queryExecution.logical
        case Seq(a, b, aid, v, c, s, e) =>
          graft.operators.IntervalOps.mapOverlaps(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(v, "value column"),
            litStr(c, "chrom column"), litStr(s, "start column"),
            litStr(e, "end column")).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_map takes (a_table, b_table, a_id, value[, " +
            "block_starts, block_sizes | chrom, start, end]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_jaccard"),
      info("interval_jaccard",
        "interval_jaccard(a_table, b_table[, chrom, start, end]) - " +
          "overlap similarity of two interval sets (bedtools jaccard)"),
      {
        case Seq(a, b) =>
          graft.operators.IntervalOps.jaccard(tableOf(a), tableOf(b))
            .queryExecution.logical
        case Seq(a, b, c, s, e) =>
          graft.operators.IntervalOps.jaccard(tableOf(a), tableOf(b),
            litStr(c, "chrom column"), litStr(s, "start column"),
            litStr(e, "end column")).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_jaccard takes (a_table, b_table[, chrom, start, " +
            s"end]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_filter"),
      info("interval_filter",
        "interval_filter(a_table, b_table, a_id, 'u'|'v'[, chrom, " +
          "start, end]) - A rows that do ('u') or do not ('v') " +
          "overlap any B interval (bedtools intersect -u/-v)"),
      {
        def keepOf(m: Expression): Boolean =
          litStr(m, "mode") match {
            case "u" => true
            case "v" => false
            case other => throw new IllegalArgumentException(
              s"interval_filter mode must be 'u' or 'v', got '$other'")
          }
        val f: Seq[Expression] => LogicalPlan = {
          case Seq(a, b, aid, m) =>
            graft.operators.IntervalOps.overlapFilter(tableOf(a),
              tableOf(b), litStr(aid, "a_id column"), keepOf(m))
              .queryExecution.logical
          case Seq(a, b, aid, m, c, s, e) =>
            graft.operators.IntervalOps.overlapFilter(tableOf(a),
              tableOf(b), litStr(aid, "a_id column"), keepOf(m),
              litStr(c, "chrom column"), litStr(s, "start column"),
              litStr(e, "end column")).queryExecution.logical
          case other => throw new IllegalArgumentException(
            "interval_filter takes (a_table, b_table, a_id, 'u'|'v'[, " +
              s"chrom, start, end]), got ${other.size} args")
        }
        f
      }))
    ext.injectTableFunction((
      FunctionIdentifier("interval_intersect"),
      info("interval_intersect",
        "interval_intersect(a_table, b_table, a_id, b_id" +
          "[, 'wo'|'wao'|'loj']) - one row per overlapping (A, B) " +
          "pair with overlap_bp (bedtools intersect -wo/-wao/-loj)"),
      {
        case Seq(a, b, aid, bid) =>
          graft.operators.IntervalOps.intersectJoin(tableOf(a),
            tableOf(b), litStr(aid, "a_id column"),
            litStr(bid, "b_id column")).queryExecution.logical
        case Seq(a, b, aid, bid, m) =>
          graft.operators.IntervalOps.intersectJoin(tableOf(a),
            tableOf(b), litStr(aid, "a_id column"),
            litStr(bid, "b_id column"),
            mode = litStr(m, "mode")).queryExecution.logical
        case Seq(a, b, aid, bid, m, bs, sz) =>
          // -split: two trailing column names carry the BED12 block
          // arrays (offsets relative to start / lengths)
          graft.operators.IntervalOps.intersectJoin(tableOf(a),
            tableOf(b), litStr(aid, "a_id column"),
            litStr(bid, "b_id column"),
            mode = litStr(m, "mode"),
            blockStarts = litStr(bs, "blockStarts column"),
            blockSizes = litStr(sz, "blockSizes column"))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_intersect takes (a_table, b_table, a_id, b_id" +
            s"[, mode[, block_starts, block_sizes]]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_getfasta"),
      info("interval_getfasta",
        "interval_getfasta(table, fasta_path[, chrom, start, end" +
          "[, strand, name]]) - per-interval FASTA sequence " +
          "extraction (bedtools getfasta; strand='' disables -s, " +
          "name='' disables -name)"),
      {
        case Seq(t, fp) =>
          graft.operators.SequenceOps.getFasta(tableOf(t),
            litStr(fp, "fasta path")).queryExecution.logical
        case Seq(t, fp, c, s, e) =>
          graft.operators.SequenceOps.getFasta(tableOf(t),
            litStr(fp, "fasta path"), litStr(c, "chrom column"),
            litStr(s, "start column"), litStr(e, "end column"))
            .queryExecution.logical
        case Seq(t, fp, c, s, e, str, nm) =>
          // empty string = option off, the TVF's nullability idiom
          val strandOpt = litStr(str, "strand column")
          val nameOpt = litStr(nm, "name column")
          graft.operators.SequenceOps.getFasta(tableOf(t),
            litStr(fp, "fasta path"), litStr(c, "chrom column"),
            litStr(s, "start column"), litStr(e, "end column"),
            strand = if (strandOpt.isEmpty) null else strandOpt,
            name = if (nameOpt.isEmpty) null else nameOpt)
            .queryExecution.logical
        case Seq(t, fp, c, s, e, str, nm, bs, sz) =>
          val strandOpt = litStr(str, "strand column")
          val nameOpt = litStr(nm, "name column")
          val bsOpt = litStr(bs, "block starts column")
          val szOpt = litStr(sz, "block sizes column")
          graft.operators.SequenceOps.getFasta(tableOf(t),
            litStr(fp, "fasta path"), litStr(c, "chrom column"),
            litStr(s, "start column"), litStr(e, "end column"),
            strand = if (strandOpt.isEmpty) null else strandOpt,
            name = if (nameOpt.isEmpty) null else nameOpt,
            blockStarts = if (bsOpt.isEmpty) null else bsOpt,
            blockSizes = if (szOpt.isEmpty) null else szOpt)
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_getfasta takes (table, fasta_path[, chrom, start, " +
            s"end[, strand, name[, block_starts, block_sizes]]]), " +
            s"got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_nuc"),
      info("interval_nuc",
        "interval_nuc(table, fasta_path[, chrom, start, end]) - " +
          "per-interval nucleotide composition (bedtools nuc)"),
      {
        case Seq(t, fp) =>
          graft.operators.SequenceOps.nucContent(tableOf(t),
            litStr(fp, "fasta path")).queryExecution.logical
        case Seq(t, fp, c, s, e) =>
          graft.operators.SequenceOps.nucContent(tableOf(t),
            litStr(fp, "fasta path"), litStr(c, "chrom column"),
            litStr(s, "start column"), litStr(e, "end column"))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_nuc takes (table, fasta_path[, chrom, start, " +
            s"end]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_slop"),
      info("interval_slop",
        "interval_slop(table, both[, sizes_table]) - grow every " +
          "interval both ways, floored at 0 / capped at the declared " +
          "size (bedtools slop)"),
      {
        case Seq(t, g) =>
          graft.operators.IntervalOps.slop(tableOf(t),
            both = litLong(g, "growth")).queryExecution.logical
        case Seq(t, g, sz) =>
          graft.operators.IntervalOps.slop(tableOf(t),
            both = litLong(g, "growth"),
            chromSizes = Some(tableOf(sz))).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_slop takes (table, both[, sizes_table]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_flank"),
      info("interval_flank",
        "interval_flank(table, left, right[, sizes_table]) - the " +
          "flanking intervals before/after each input (bedtools flank)"),
      {
        case Seq(t, l, r) =>
          graft.operators.IntervalOps.flank(tableOf(t),
            left = litLong(l, "left width"),
            right = litLong(r, "right width")).queryExecution.logical
        case Seq(t, l, r, sz) =>
          graft.operators.IntervalOps.flank(tableOf(t),
            left = litLong(l, "left width"),
            right = litLong(r, "right width"),
            chromSizes = Some(tableOf(sz))).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_flank takes (table, left, right[, sizes_table]), " +
            s"got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_window"),
      info("interval_window",
        "interval_window(a_table, b_table, window[, b_chrom, b_start, " +
          "b_end]) - every (A, B) pair within the window (bedtools " +
          "window; output holds both sides' columns, so B's coordinate " +
          "names must differ from A's — pass them when not defaults)"),
      {
        case Seq(a, b, w) =>
          graft.operators.IntervalOps.windowJoin(tableOf(a), tableOf(b),
            window = litLong(w, "window")).queryExecution.logical
        case Seq(a, b, w, bc, bs, be) =>
          graft.operators.IntervalOps.windowJoin(tableOf(a), tableOf(b),
            window = litLong(w, "window"),
            rightCols = (litStr(bc, "b_chrom column"),
              litStr(bs, "b_start column"), litStr(be, "b_end column")))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_window takes (a_table, b_table, window[, b_chrom, " +
            s"b_start, b_end]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_coverage_by"),
      info("interval_coverage_by",
        "interval_coverage_by(a_table, b_table, a_id[, chrom, start, " +
          "end]) - per-A overlap count and union-covered bases " +
          "(bedtools coverage)"),
      {
        case Seq(a, b, aid) =>
          graft.operators.IntervalOps.coverageBy(tableOf(a), tableOf(b),
            litStr(aid, "a_id column")).queryExecution.logical
        case Seq(a, b, aid, bs, sz) =>
          // -split: two trailing block-array column names (bedtools
          // coverage -split, exon-space coverage)
          graft.operators.IntervalOps.coverageBy(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"),
            blockStarts = litStr(bs, "blockStarts column"),
            blockSizes = litStr(sz, "blockSizes column"))
            .queryExecution.logical
        case Seq(a, b, aid, c, s, e) =>
          graft.operators.IntervalOps.coverageBy(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(c, "chrom column"),
            litStr(s, "start column"), litStr(e, "end column"))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_coverage_by takes (a_table, b_table, a_id[, " +
            "block_starts, block_sizes | chrom, start, end]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_explode_blocks"),
      info("interval_explode_blocks",
        "interval_explode_blocks(table[, start, end, block_starts, " +
          "block_sizes]) - one row per BED12 block with absolute " +
          "blk_start/blk_end (the -split preamble; compose with " +
          "interval_merge/interval_coverage/interval_complement)"),
      {
        case Seq(t) =>
          graft.operators.IntervalOps.explodeBlocks(tableOf(t))
            .queryExecution.logical
        case Seq(t, s, e, bs, sz) =>
          graft.operators.IntervalOps.explodeBlocks(tableOf(t),
            litStr(s, "start column"), litStr(e, "end column"),
            litStr(bs, "blockStarts column"),
            litStr(sz, "blockSizes column")).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_explode_blocks takes (table[, start, end, " +
            s"block_starts, block_sizes]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_cluster"),
      info("interval_cluster",
        "interval_cluster(table[, chrom, start, end]) - tag every row " +
          "with its merged run's span and size (bedtools cluster)"),
      intervalTvf("interval_cluster")((df, c, s, e) =>
        graft.operators.IntervalOps.cluster(df, c, s, e))))
    ext.injectTableFunction((
      FunctionIdentifier("make_windows"),
      info("make_windows",
        "make_windows(sizes_table, window_size[, step]) - tile each " +
          "declared chromosome into fixed windows (bedtools makewindows)"),
      {
        case Seq(t, w) =>
          graft.operators.IntervalOps.makeWindows(tableOf(t),
            litLong(w, "window size")).queryExecution.logical
        case Seq(t, w, st) =>
          graft.operators.IntervalOps.makeWindows(tableOf(t),
            litLong(w, "window size"), step = litLong(st, "step"))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "make_windows takes (sizes_table, window_size[, step]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_shift"),
      info("interval_shift",
        "interval_shift(table, amount[, sizes_table]) - move every " +
          "interval by amount bases, floored at 0 / capped at the " +
          "declared size (bedtools shift)"),
      {
        case Seq(t, n) =>
          graft.operators.IntervalOps.shift(tableOf(t),
            litLong(n, "amount")).queryExecution.logical
        case Seq(t, n, sz) =>
          graft.operators.IntervalOps.shift(tableOf(t),
            litLong(n, "amount"), chromSizes = Some(tableOf(sz)))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_shift takes (table, amount[, sizes_table]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_multiinter"),
      info("interval_multiinter",
        "interval_multiinter(table[, set_col]) - atomic segments of " +
          "the union of labeled interval sets with per-segment " +
          "membership (bedtools multiinter)"),
      {
        case Seq(t) =>
          graft.operators.IntervalOps.multiinter(tableOf(t))
            .queryExecution.logical
        case Seq(t, sc) =>
          graft.operators.IntervalOps.multiinter(tableOf(t),
            setCol = litStr(sc, "set column")).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_multiinter takes (table[, set_col]), got " +
            s"${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_reldist"),
      info("interval_reldist",
        "interval_reldist(a_table, b_table, a_id[, chrom, start, end])" +
          " - per-A relative distance between flanking B midpoints " +
          "(bedtools reldist core)"),
      {
        case Seq(a, b, aid) =>
          graft.operators.IntervalOps.reldist(tableOf(a), tableOf(b),
            litStr(aid, "a_id column")).queryExecution.logical
        case Seq(a, b, aid, c, s, e) =>
          graft.operators.IntervalOps.reldist(tableOf(a), tableOf(b),
            litStr(aid, "a_id column"), litStr(c, "chrom column"),
            litStr(s, "start column"), litStr(e, "end column"))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_reldist takes (a_table, b_table, a_id[, chrom, " +
            s"start, end]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_shuffle"),
      info("interval_shuffle",
        "interval_shuffle(table, sizes_table, seed, id_col) - seeded " +
          "deterministic relocation within each chromosome (bedtools " +
          "shuffle -chrom, null models)"),
      {
        case Seq(t, sz, seed, id) =>
          graft.operators.IntervalOps.shuffleIntervals(tableOf(t),
            tableOf(sz), litLong(seed, "seed"), litStr(id, "id column"))
            .queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_shuffle takes (table, sizes_table, seed, id_col), " +
            s"got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    ext.injectTableFunction((
      FunctionIdentifier("interval_annotate"),
      info("interval_annotate",
        "interval_annotate(a_table, a_id, label1, b_table1[, label2, " +
          "b_table2, ...]) - per-A per-set overlap counts and " +
          "union-covered bases, long format (bedtools annotate)"),
      {
        case Seq(a, aid, rest @ _*) if rest.size >= 2 &&
            rest.size % 2 == 0 =>
          val pairs = rest.grouped(2).map {
            case Seq(lbl, tbl) =>
              litStr(lbl, "set label") -> tableOf(tbl)
          }.toSeq
          graft.operators.IntervalOps.annotate(tableOf(a), pairs,
            litStr(aid, "a_id column")).queryExecution.logical
        case other => throw new IllegalArgumentException(
          "interval_annotate takes (a_table, a_id, label1, b_table1[, " +
            s"label2, b_table2, ...]), got ${other.size} args")
      }: Seq[Expression] => LogicalPlan))
    def asofTvf(name: String, forward: Boolean)
        : Seq[Expression] => LogicalPlan = {
      case Seq(p, r, pk, rk, pt, rt) =>
        val probe = tableOf(p)
        val ref = tableOf(r)
        val args = (litStr(pk, "probe key"), litStr(rk, "ref key"),
          litStr(pt, "probe time"), litStr(rt, "ref time"))
        (if (forward)
          graft.operators.AsofJoin.forward(probe, ref, args._1, args._2,
            args._3, args._4)
        else
          graft.operators.AsofJoin.backward(probe, ref, args._1, args._2,
            args._3, args._4)).queryExecution.logical
      case other => throw new IllegalArgumentException(
        s"$name takes (probe_table, ref_table, probe_key, ref_key, " +
          s"probe_time, ref_time), got ${other.size} args")
    }
    ext.injectTableFunction((
      FunctionIdentifier("asof_backward"),
      info("asof_backward",
        "asof_backward(probe_table, ref_table, probe_key, ref_key, " +
          "probe_time, ref_time) - latest ref at-or-before each probe"),
      asofTvf("asof_backward", forward = false)))
    ext.injectTableFunction((
      FunctionIdentifier("asof_forward"),
      info("asof_forward",
        "asof_forward(probe_table, ref_table, probe_key, ref_key, " +
          "probe_time, ref_time) - earliest ref at-or-after each probe"),
      asofTvf("asof_forward", forward = true)))
    ext.injectFunction((
      FunctionIdentifier("parse_region"),
      info("parse_region",
        "parse_region(str[, coords]) - parse a UCSC/bracket region string " +
          "into struct<chrom,start,end> (0-based half-open)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => GenomicFunctions.ParseRegion(c, "11")
        case Seq(c, coords) =>
          // eval()'d at analysis time: only a non-null literal works —
          // guard so a column/null gets an analysis-time error, not an
          // internal Catalyst crash
          if (!coords.foldable) throw new IllegalArgumentException(
            "parse_region coords argument must be a literal ('01'/'11')")
          val v = coords.eval()
          if (v == null) throw new IllegalArgumentException(
            "parse_region coords argument must not be null")
          GenomicFunctions.ParseRegion(c, v.toString)
        case other => throw new IllegalArgumentException(
          s"parse_region takes 1-2 arguments, got ${other.size}")
      }))
    ext.injectFunction((
      FunctionIdentifier("cigar_ref_len"),
      info("cigar_ref_len",
        "cigar_ref_len(cigar) - reference bases consumed by a CIGAR string"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => GenomicFunctions.CigarRefLen(c)
        case other => throw new IllegalArgumentException(
          s"cigar_ref_len takes 1 argument, got ${other.size}")
      }))
    ext.injectFunction((
      FunctionIdentifier("cigar_ops"),
      info("cigar_ops",
        "cigar_ops(cigar) - CIGAR string as array<struct<op,len>>"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => GenomicFunctions.CigarOps(c)
        case other => throw new IllegalArgumentException(
          s"cigar_ops takes 1 argument, got ${other.size}")
      }))
  }
}
