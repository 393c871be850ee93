package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation — the
  * transitive-closure step of near-dup clustering (pairs are not enough:
  * A≈B, B≈C ⇒ drop two of {A,B,C}).
  *
  * Every iteration is one equi-join (edges × labels, both hash-partitioned
  * on the key) plus one min() aggregate, PLUS a label-shortcut self-join
  * (pointer doubling: L(v) ← min(L(v), L(L(v))) — the Shiloach-Vishkin /
  * MapReduce-CC contraction step). Neighbor propagation alone needs
  * rounds proportional to the component DIAMETER (a million-node chain =
  * a million rounds); with shortcutting the pointer chains halve each
  * round, so convergence is O(log n) rounds on ANY graph — a 1M-vertex
  * chain converges in ~21 rounds instead of failing the cap. Shuffle
  * volume per round is O(|edges| + |V|). The driver sees one Boolean per
  * round, never the labels.
  *
  * LINEAGE DISCIPLINE — each round's plan references the previous labels
  * relation twice (the neighbor join and the carry join), so building
  * lazily would DOUBLE the logical plan per round: 2^rounds plan nodes,
  * a driver OOM near the round cap even on a 40-row graph (measured:
  * the pre-truncation version of this loop died exactly that way in
  * ConnectedComponentsSpec). persist() alone does not help — it caches
  * blocks, not plans. Every round is therefore materialized into a
  * persisted RDD and re-wrapped as a LogicalRDD leaf (the same truncation
  * Dataset.checkpoint performs), which keeps an explicit handle for
  * cleanup: each round unpersists its predecessor, so round storage stays
  * O(one round), not O(rounds) — Dataset.checkpoint offers no public
  * release and reliable checkpoint files are never auto-deleted under the
  * default cleaner config. Same discipline as GraphX's Pregel
  * checkpointer, which likewise unpersists superseded rounds eagerly.
  * The undirected EDGE list is the one other persisted relation: a
  * DataFrame cache every round reads, held for the whole loop. Both
  * caches are released on EVERY exit path (try/finally): the edges
  * always, the live round unless it is the returned labels, so a failed
  * or cancelled job mid-iteration leaks no block. The returned labels'
  * round is registered with [[OrderedOps.clearPins]]: the caller's
  * clearPins() after its consuming action frees it.
  *
  * The round cap still exists and hitting it FAILS LOUDLY: silently
  * returning partially-propagated labels would under-merge clusters and
  * let duplicates through the dedup gate, which is exactly the corruption
  * a pipeline can least afford to miss. With shortcutting the default cap
  * of 32 covers any graph up to ~2^30 vertices, so reaching it means a
  * genuine bug, not a deep graph. Reference semantics: transitive
  * near-dup clustering over MinHash pairs (Lee et al. 2022 dedup;
  * cuDF has no graph op — this is the Spark-native construction).
  */
object ConnectedComponents {

  /** Eager materialization (persisted RDD re-wrapped as a fresh leaf
    * DataFrame — truncates the logical plan like Dataset.checkpoint, with
    * an explicit release handle) fused with the round's convergence probe:
    * labels are
    * per-vertex NON-INCREASING (each round folds L(L(v)) ≤ L(v) into the
    * min), so the exact decimal SUM of labels strictly decreases iff any
    * label improved — one scalar per round replaces carrying the previous
    * label through an extra join just to count `label < old` rows. The agg
    * job both pins the persisting blocks and answers "did anything change"
    * (None = empty graph). */
  private def materializedSum(df: DataFrame)
      : (DataFrame, () => Unit, Option[java.math.BigDecimal]) = {
    val rdd = df.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { rdd.unpersist(false); () }
    val out = df.sparkSession.createDataFrame(rdd, df.schema)
    val s =
      try Option(out.agg(
          sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head.getDecimal(0))
      catch { case e: Throwable => release(); throw e }
    (out, release, s)
  }

  /** Rounds the last [[minLabel]] call ON THIS THREAD took to converge —
    * a TEST seam (the chain-shaped spec pins that local contraction
    * collapses the round count), not an API. ThreadLocal, not a shared
    * var: concurrent minLabel callers (parallel streaming micro-batches,
    * concurrent queries) must not interleave each other's counts. */
  private val lastRoundsTl: ThreadLocal[Int] =
    ThreadLocal.withInitial(() => 0)
  private[graft] def lastRounds: Int = lastRoundsTl.get()

  /** PHASE 1 — local contraction: a per-partition union-find over each
    * partition's edges (mapPartitions is the right tool here: the
    * union-find is genuinely imperative and touches only local state),
    * emitting one STAR edge (v, localRoot) per vertex the partition
    * saw. Component-equivalent by construction — every original edge
    * lives in exactly one partition and its endpoints share a local
    * root there — so the global min-label rounds run on a graph whose
    * intra-partition chains have already collapsed to depth 1: the
    * edge volume drops to ≈ one row per (vertex, partition) and the
    * remaining diameter is bounded by the number of PARTITIONS a
    * component spans, not its vertex count. O(|E_p|·α) time and
    * O(|V_p|) heap per partition, no shuffle (the MapReduce-CC /
    * large-star contraction step, done partition-locally). */
  private def contractLocally(pairs: DataFrame): DataFrame = {
    val session = pairs.sparkSession
    import session.implicits._
    pairs.select(col("d1").cast("long"), col("d2").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def add(x: Long): Unit =
          if (!parent.containsKey(x)) parent.put(x, x): Unit
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) {
            val n = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          add(a); add(b)
          val ra = find(a); val rb = find(b)
          // union by MIN id: the root is always the component's local
          // minimum, so the emitted stars carry the final local labels
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        parent.keySet().forEach { v => out += ((v, find(v))) }
        out.iterator
      }
      .toDF("d1", "d2")
  }

  /** Labels every vertex of the undirected `pairs` graph with its
    * component's minimum vertex id.
    *
    * @param pairs    (d1, d2) edge list; direction ignored
    * @param maxIters hard round cap; exceeding it throws IllegalStateException
    * @param localContract run the per-partition union-find contraction
    *                      first (long-typed vertex ids only; the tests
    *                      that pin the round-cap contract disable it)
    * @return (doc_id, label) — one row per vertex that appears in any pair
    */
  def minLabel(pairs: DataFrame, maxIters: Int = 32,
               localContract: Boolean = true): DataFrame = {
    // gate on the d1/d2 columns BY NAME (the same columns the selects
    // below use) — a positional check could approve unrelated leading
    // columns and cast string vertex ids to null
    val contractable = localContract &&
      Seq("d1", "d2").forall(c =>
        pairs.schema.fields.find(_.name == c)
          .exists(_.dataType == org.apache.spark.sql.types.LongType))
    val base =
      if (contractable) contractLocally(pairs.select("d1", "d2"))
      else pairs.select("d1", "d2")
    // round 1 FUSED into the edge materialization (r20, guide §2.4): the
    // undirected edge list derives from the directed stars by an INLINE
    // explode — one evaluation of the upstream pipeline with the rows
    // doubled inside the same stage, where the former union-of-two-arms
    // shape forced the directed list through its own rdd-materialization
    // job barrier first (two ~equal sequential jobs in the Prof dump)
    // before round 1 could run. The doubled list persists as a DataFrame
    // cache that round 1's aggregation job both populates (en route to its
    // exchange) and consumes; every loop round then reads ONE cached leaf
    // instead of two cached scans + union. Same relation, same labels.
    val edges = base.select(explode(array(
        struct(col("d1").as("d1"), col("d2").as("d2")),
        struct(col("d2").as("d1"), col("d1").as("d2")))).as("e"))
      .select(col("e.d1").as("d1"), col("e.d2").as("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the live round's release handle: every exit but the successful
    // return frees it; the successful return registers it as a pin, so
    // the caller's OrderedOps.clearPins() after its action frees it
    var releaseLive: () => Unit = () => ()
    var returned = false
    try {
      // round 1 for free: from identity labels, one propagation step is
      // just min(neighbor) vs self over the raw edge list — a single
      // aggregation instead of a full loop-body round
      val (first, releaseFirst, firstSum) = materializedSum(
        edges.groupBy(col("d1"))
          .agg(min(col("d2")).as("nmin"))
          .select(col("d1").as("doc_id"),
            least(col("d1"), col("nmin")).as("label")))
      releaseLive = releaseFirst
      var labels = first
      var prevSum = firstSum
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        // ONE join + ONE aggregate per round: the label relation rides
        // along as PSEUDO-EDGES (v → L(v)), so min-of-joined-labels over
        // edges ∪ pseudo yields min(min_{u∈N(v)} L(u), L(L(v))) in a
        // single equi-join — the pointer-doubling shortcut (L(L(v))) that
        // used to be a separate labels×labels self-join, and the old-label
        // carry join, both fold away. L(L(v)) ≤ L(v) keeps the per-vertex
        // minimum non-increasing (which the sum probe relies on), every
        // vertex has a pseudo-edge (no vertex drops out), and labels are
        // always vertex ids of the same component, so the inner join
        // resolves every row. The label progression is identical to the
        // former least(L(v), nbrMin, shortcut) round — same round counts.
        val g = edges.union(
          labels.select(col("doc_id").as("d1"), col("label").as("d2")))
        val (round, releaseRound, roundSum) = materializedSum(g
          .join(labels.select(col("doc_id").as("d2"), col("label").as("nl")),
            Seq("d2"))
          .groupBy(col("d1").as("doc_id")).agg(min(col("nl")).as("label")))
        converged = roundSum == prevSum
        prevSum = roundSum
        releaseLive() // superseded round's blocks freed immediately
        releaseLive = releaseRound
        labels = round
        iter += 1
      }
      lastRoundsTl.set(iter)
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge within $maxIters rounds — " +
            "with pointer doubling that covers components of ~2^" + maxIters +
            " vertices, so this is a data or logic bug, not a deep graph. " +
            "Returning the partial labels would under-merge clusters " +
            "(duplicates would pass the dedup gate).")
      graft.ops.OrderedOps.onClearPins(releaseLive)
      returned = true
      labels
    } finally {
      edges.unpersist(false)
      if (!returned) releaseLive()
    }
  }
}
