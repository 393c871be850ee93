package graft.ops

import org.apache.spark.sql.DataFrame

/** Conditional scan widening — the guide's input-skew remedy ("one huge
  * unsplittable file ... repartition immediately after the read").
  *
  * The bench fixtures are single-file, SINGLE-ROW-GROUP parquet, so every
  * scan stage is exactly one task regardless of split configuration (a
  * byte-range split only yields rows to the task holding the row-group
  * midpoint), and whole-stage codegen fuses every pre-exchange expression
  * into that one serial task. `widen` inserts a round-robin repartition
  * ONLY when the planned scan parallelism is below the session's default
  * parallelism; on properly-split inputs (many files / row groups — the
  * normal cluster case) it is the identity and adds no exchange.
  *
  * Measured discipline (r19): this pays ONLY where per-row expression cost
  * far exceeds the one-hop shuffle of the scan's pruned output — e.g. the
  * WordPiece longest-match tokenizer or a 6-regex PII chain over every
  * document. For ordinary aggregates the added exchange is a net loss
  * (see OPTIMIZATION_r19.md "rejected" log); do not blanket-apply.
  * Deterministic under retry: sort-before-repartition is on by default
  * (SPARK-23207).
  */
object ScanParallel {
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // physical planning only — no job runs; at scale the scan reports its
    // real split count and the branch is not taken
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** [[widen]] by HASH of deterministic key columns instead of round-robin
    * (r20). A keyless repartition(n) local-sorts its whole input first
    * (sort-before-repartition, SPARK-23207) — on the single-task fixture
    * scan that is another full serial sort, self-defeating exactly where
    * the downstream serial cost IS a sort (e.g. the partial
    * WindowGroupLimit's sort). Hash partitioning skips that sort and is
    * retry-deterministic by construction, provided `keys` are real data
    * columns (never rand()-derived — guide §2.5). Pick a high-cardinality
    * key so 32 partitions spread evenly. Identity on pre-split inputs,
    * like widen.
    *
    * @param keys at least one deterministic data column (no rand()-derived
    *             expression); an empty list would silently fall back to
    *             the round-robin repartition this method exists to avoid,
    *             so it is refused */
  def widenBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    require(keys.nonEmpty,
      "ScanParallel.widenBy needs at least one key column — use widen " +
        "for a keyless round-robin repartition")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, keys: _*)
    else df
  }
}
