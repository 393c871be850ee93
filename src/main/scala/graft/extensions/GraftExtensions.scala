package graft.extensions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.expressions.JaccardSim

/** Catalyst optimizer extension: threshold-pruning for Jaccard filters.
  *
  * With s(X) = |distinct(X)|: `jaccard(A, B) >= t` implies
  * `s(A) >= t·s(B) AND s(B) >= t·s(A)` (|A∩B| ≤ min and |A∪B| ≥ max of the
  * SET sizes, so j ≥ t ⟹ min ≥ t·max — distinct sizes, not raw lengths:
  * raw lengths would be unsound for arrays with duplicates). The rule
  * conjoins that cheap ratio test in front of the full set computation, so
  * grossly mismatched candidate pairs short-circuit early — on an LSH
  * verify stage this prunes without changing a single result row (the
  * implied predicate is never stricter than the original).
  *
  * The rewritten JaccardSim is marked `prefiltered` so the fixpoint
  * optimizer applies the rule exactly once per occurrence.
  */
class JaccardThresholdPruning extends Rule[LogicalPlan] {

  private def sizeOf(e: Expression): Expression =
    Cast(Size(ArrayDistinct(e), legacySizeOfNull = false), DoubleType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = cond.transform {
        case GreaterThanOrEqual(j @ JaccardSim(a, b, false), t @ Literal(_, DoubleType)) =>
          And(
            And(GreaterThanOrEqual(sizeOf(a), Multiply(t, sizeOf(b))),
                GreaterThanOrEqual(sizeOf(b), Multiply(t, sizeOf(a)))),
            GreaterThanOrEqual(j.copy(prefiltered = true), t))
        case GreaterThan(j @ JaccardSim(a, b, false), t @ Literal(_, DoubleType)) =>
          And(
            And(GreaterThanOrEqual(sizeOf(a), Multiply(t, sizeOf(b))),
                GreaterThanOrEqual(sizeOf(b), Multiply(t, sizeOf(a)))),
            GreaterThan(j.copy(prefiltered = true), t))
        // the long-array kernel does its own ratio-preprune and mid-merge
        // early exit — the rewrite just hands it the filter's threshold
        // (exact values for surviving rows are part of its contract); the
        // non-infinite threshold after copy() keeps the fixpoint at once
        case GreaterThanOrEqual(
            j @ graft.expressions.LongJaccardSim(_, _, t0),
            lt @ Literal(t: Double, DoubleType)) if t0.isNegInfinity && t > 0 =>
          GreaterThanOrEqual(j.copy(threshold = t), lt)
        case GreaterThan(
            j @ graft.expressions.LongJaccardSim(_, _, t0),
            lt @ Literal(t: Double, DoubleType)) if t0.isNegInfinity && t > 0 =>
          GreaterThan(j.copy(threshold = t), lt)
      }
      if (rewritten fastEquals cond) f else Filter(rewritten, child)
  }
}

/** Session extension entry point:
  * `.config("spark.sql.extensions", "graft.extensions.GraftExtensions")`.
  *
  * Besides the optimizer rule, the native codegen expressions are registered
  * as SQL functions, so `spark.sql("SELECT graft_cosine(a, b) ...")` works
  * anywhere the DataFrame builders do — the same dual surface (python API +
  * libcudf C++ callable) the reference exposes per operator.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import org.apache.spark.sql.catalyst.FunctionIdentifier

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => new JaccardThresholdPruning)

    // the graft-table DDL with no DSv2 hook (MSCK REPAIR adoption,
    // DESCRIBE's face rows, the loud refusals) — every other graft-table
    // statement runs through GraftCatalog's handle, in every session
    ext.injectResolutionRule(s => new GraftDdlRule(s))

    // the table functions with no CALL twin (CDF read, history, vacuum
    // preview, clustering / ZORDER, COPY INTO)
    GraftTableFunctions.register(ext)

    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - fused cosine similarity of two double arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine(a, b) takes 2 arguments")
        graft.expressions.CosineSim(args.head, args(1))
      }))

    ext.injectFunction((FunctionIdentifier("graft_jaccard"),
      info("graft_jaccard", "graft_jaccard(a, b) - set Jaccard similarity of two string arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_jaccard(a, b) takes 2 arguments")
        graft.expressions.JaccardSim(args.head, args(1))
      }))

    ext.injectFunction((FunctionIdentifier("graft_jaccard_hashes"),
      info("graft_jaccard_hashes",
        "graft_jaccard_hashes(a, b[, t]) - jaccard of two bigint-array hash " +
          "sets; with threshold t, rows provably under t may return -1 " +
          "(compose with a >= t filter)"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_jaccard_hashes(a, b[, t]) takes 2 or 3 arguments")
        val t =
          if (args.length < 3) Double.NegativeInfinity
          else args(2) match {
            case e if e.foldable => e.eval() match {
              case n: java.lang.Number => n.doubleValue()
              case d: org.apache.spark.sql.types.Decimal => d.toDouble
              case other => throw new IllegalArgumentException(
                s"threshold must be a numeric literal, got $other")
            }
            case other => throw new IllegalArgumentException(
              s"threshold must be a numeric literal, got $other")
          }
        // the public surface is TOTAL: compact+dedup+sort each argument so
        // the kernel's strictly-ascending contract holds for arbitrary SQL
        // inputs (DataFrame internals sort once per row upstream instead)
        def norm(e: Expression): Expression =
          new SortArray(ArrayDistinct(ArrayCompact(e)), Literal(true))
        graft.expressions.LongJaccardSim(norm(args.head), norm(args(1)), t)
      }))

    ext.injectFunction((FunctionIdentifier("graft_polyhash"),
      info("graft_polyhash", "graft_polyhash(s) - 31-base polynomial string hash mod 1e9+7"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_polyhash(s) takes 1 argument")
        graft.expressions.PolyHash(args.head)
      }))

    ext.injectFunction((FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(s, n) - distinct word n-gram shingles of a string"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles(s, n) takes 2 arguments")
        graft.expressions.WordShingles(args.head, intLit(args(1), "shingle width n"))
      }))

    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes",
        "graft_shingle_hashes(s, n) - distinct polynomial hashes of word n-gram shingles (strings never materialized)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingle_hashes(s, n) takes 2 arguments")
        graft.expressions.WordShingleHashes(args.head, intLit(args(1), "shingle width n"))
      }))

    ext.injectFunction((FunctionIdentifier("graft_span_hashes"),
      info("graft_span_hashes",
        "graft_span_hashes(s, n) - one polynomial hash per word n-gram " +
          "window, in window order (duplicates kept; the array index is " +
          "the window's start-token position)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_span_hashes(s, n) takes 2 arguments")
        graft.expressions.WordShingleHashes(args.head,
          intLit(args(1), "window width n"), distinct = false)
      }))

    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash",
        "graft_simhash(tokens, bits) - SimHash of a token array: bit j " +
          "set iff the per-token polyhash bit-j votes sum positive; " +
          "bits <= 30 (the polyhash is bounded by 1e9+7, so higher " +
          "bits carry no signal)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_simhash(tokens, bits) takes 2 arguments")
        graft.expressions.SimHash(args.head, intLit(args(1), "bits"))
      }))
  }
}
