package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.text.TextFunctions._

/** Deduplication operators for large-scale training-data pipelines
  * (north-star extension; seeded by nvtext + hashing primitives, SURVEY §2.8).
  *
  * Scale design, per operator:
  *  - exact: one hash-groupBy on a 64-bit digest — single shuffle of
  *    (digest, id), never the text.
  *  - minhash LSH: signatures are computed partition-locally; the join that
  *    finds candidates shuffles only (band, key, id). Candidate verification
  *    re-joins the shingle sets for candidates only — at 100 TB the candidate
  *    set is orders of magnitude smaller than the corpus.
  *  - simhash: one 64-bit value per doc; near-dup buckets = groupBy.
  *  - n-gram Jaccard: DF-capped inverted-index candidate pairs (posting-list
  *    self-join), exact verify on candidates only.
  *  - embedding cosine: banded random-hyperplane LSH candidates (2 tables ×
  *    12 sign bits, per-bucket candidate cap ⇒ linear-in-N pair count),
  *    exact cosine verify on candidates only.
  * Every join in this pack is an equi-join on a short key; there is no
  * CartesianProduct / BroadcastNestedLoopJoin anywhere (asserted repo-wide
  * in PlanSpec's cartesian sweep).
  */
object DedupQueries extends QueryPack {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** One shared shingle source per query: `docs` for index/signature
    * building, and a candidate-verify accessor that re-derives shingles for
    * the (small) candidate id set — O(candidates), not O(corpus). Never
    * persisted: MEASURED at sf0.1 (local[32], noop writes), persisting the
    * (doc_id, shingles) relation made every LSH query SLOWER
    * (dedup_ngram_jaccard 9.1 → 12.6 s) — the codegen'd WordShingles
    * recompute over a column-pruned parquet scan is cheaper than
    * serializing string arrays into the block store, and the persist also
    * forces full-corpus shingling on the verify side where the lazy plan
    * shingles candidates only (the semi-join runs BEFORE the shingle
    * projection). */
  private def shingleSource(s: SparkSession, d: String): (DataFrame, DataFrame => DataFrame) = {
    val base = Tables.documents(s, d)
    val docs = base.select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) >= 1)
    (docs, candIds => base.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(col("text")).as("sh")))
  }

  private def sqlPolyHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(h, c) -> (h * 31 + c) % 1000000007)"

  // shared oracle CTE: distinct 3-shingles per doc
  private val sqlShingles =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS shingles
      |       FROM toks WHERE len(t) >= 3)""".stripMargin

  // --- exact dedup via content digest (hash-groupBy) ------------------------
  // Key = polynomial hash of the normalized text; survivors = min doc_id.
  register("dedup_exact",
    s"""SELECT digest, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM (SELECT doc_id, ${sqlPolyHash("text")} AS digest FROM documents)
       |GROUP BY digest HAVING count(*) >= 1
       |ORDER BY digest""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), polyHash(col("text")).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("digest")
  }

  // --- MinHash + LSH near-dup: shingle → sign → band → bucket-join → verify -
  register("dedup_minhash_lsh",
    s"""$sqlShingles,
       |hs AS (SELECT doc_id,
       |         list_distinct(list_transform(shingles, g -> ${sqlPolyHash("g")})) AS h FROM sh),
       |mh AS (SELECT doc_id, h,
       |         list_transform(range(0, 8), i -> list_min(list_transform(h,
       |           f -> ((2*i + 1) * f + i * 7919) % 1000000007))) AS sig FROM hs),
       |bands AS (SELECT doc_id, h, unnest(range(0, 4)) AS band, sig FROM mh),
       |keyed AS (SELECT doc_id, h, band,
       |            CAST(sig[2*band + 1] AS VARCHAR) || '_' || CAST(sig[2*band + 2] AS VARCHAR) AS bkey
       |          FROM bands),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |            a.h AS h1, b.h AS h2
       |         FROM keyed a JOIN keyed b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT d1, d2,
       |  round(CAST(len(list_intersect(h1, h2)) AS DOUBLE) /
       |        len(list_distinct(list_concat(h1, h2))), 6) AS jaccard
       |FROM cand
       |WHERE CAST(len(list_intersect(h1, h2)) AS DOUBLE) /
       |      len(list_distinct(list_concat(h1, h2))) >= 0.3
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    // Shuffle-payload discipline: the band self-join carries ONLY
    // (band, bkey, doc_id) — ~32 bytes/doc/band — never shingle data.
    // Fully hash-keyed: the fused WordShingleHashes expression streams the
    // polynomial hash over the tokens, so shingle STRINGS never materialize
    // — signatures come from the hash explode, and the candidate verify
    // compares distinct-hash SETS (a collision merges two shingles
    // identically on both engines, keeping the similarity oracle-exact).
    // Hash sets are re-derived for the (distinct) candidate id-pairs only,
    // which at 100 TB is orders of magnitude smaller than the corpus.
    val base = Tables.documents(s, d)
    // Signature computation is explode-based, NOT nested array expressions:
    // Catalyst collapses chained projections into the band-explode and
    // re-evaluates the (interpreted, higher-order-function) minhash tree per
    // band reference — measured 30× slower. Exploding to (doc_id, hash)
    // evaluates the shingle hash exactly once; the 8 permutation minima
    // are plain min() aggregates with map-side partial aggregation, so the
    // shuffle carries only (doc_id, 8 longs) per document.
    val nHashes = 8
    val fp = base
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("fp"))
    val hashCols = (0 until nHashes).map(i =>
      min((lit(2L * i + 1) * col("fp") + lit(i * 7919L)) % lit(HashMod)).as(s"h$i"))
    val sig = fp.groupBy(col("doc_id")).agg(hashCols.head, hashCols.tail: _*)
    val bandCols = (0 until 4).map(b =>
      concat_ws("_", col(s"h${2 * b}"), col(s"h${2 * b + 1}")))
    // pins as in lshVerifiedPairs: `keyed` feeds both self-join sides,
    // `cand` has three consumers — one signature pass instead of two
    val keyed = graft.ops.OrderedOps.pinned(sig
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bkey"))))
    val cand = graft.ops.OrderedOps.pinned(
      keyed.select(col("band"), col("bkey"), col("doc_id").as("d1"))
        .join(keyed.select(col("band"), col("bkey"), col("doc_id").as("d2")),
          Seq("band", "bkey"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct())
    // Verify stage: semi-join candidate ids FIRST, then re-derive hash sets
    // for candidate documents only — verify-side work is O(candidates),
    // not O(corpus).
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    // hash sets SORTED once per candidate doc: the LongJaccardSim merge
    // kernel (exact for rows ≥ threshold, early-exit below it) replaces
    // the array_intersect/array_distinct(concat) builtins — same values
    // on surviving rows, no per-pair array materialization
    val candH = base.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_sort(shingleHashes(col("text"))).as("h"))
    val jac = jaccardHashes(col("h1"), col("h2"), 0.3)
    cand
      .join(candH.select(col("doc_id").as("d1"), col("h").as("h1")), Seq("d1"))
      .join(candH.select(col("doc_id").as("d2"), col("h").as("h2")), Seq("d2"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= 0.3)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("d1", "d2")
  }

  // --- SimHash near-dup buckets (16-bit for the oracle-checked demo) --------
  register("dedup_simhash",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, w -> ${sqlPolyHash("w")}) AS th FROM t),
       |s AS (SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 16)), (acc, j) ->
       |    acc + CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), th), (sm, v) ->
       |        sm + CASE WHEN CAST(floor(v / power(2, j)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) > 0
       |      THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS simhash16
       |  FROM h)
       |SELECT simhash16, count(*) AS n_docs, min(doc_id) AS keep_id
       |FROM s GROUP BY simhash16 ORDER BY simhash16""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), simhash(tokenize(col("text")), 16).as("simhash16"))
      .groupBy(col("simhash16"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy("simhash16")
  }

  // --- LSH→verify: the CANONICAL near-dup path at scale ---------------------
  // Same construction as dedup_minhash_lsh but with 8 bands × 1 row (higher
  // recall, catches pairs down to jaccard ≈ 0.2) and the exact n-gram
  // Jaccard verification threshold of the pairwise demo — i.e. this operator
  // REPLACES dedup_ngram_jaccard's all-pairs crossJoin with a plan whose
  // only joins are equi-joins on (band, key) and candidate ids. No
  // CartesianProduct / BroadcastNestedLoopJoin anywhere (asserted in
  // DedupPlanSpec).
  /** Oracle SQL for the LSH-verified pair set (no final ORDER BY) — shared
    * by dedup_lsh_verified and the connected-components clustering. */
  private val sqlLshVerifiedPairs =
    s"""$sqlShingles,
       |hs AS (SELECT doc_id,
       |         list_distinct(list_transform(shingles, g -> ${sqlPolyHash("g")})) AS h FROM sh),
       |mh AS (SELECT doc_id, list_transform(range(0, 8), i -> list_min(list_transform(h,
       |         f -> ((2*i + 1) * f + i * 7919) % 1000000007))) AS sig FROM hs),
       |keyed AS (SELECT doc_id, unnest(range(0, 8)) AS band, sig FROM mh),
       |kb AS (SELECT doc_id, band, sig[band + 1] AS bkey FROM keyed),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM kb a JOIN kb b ON a.band = b.band AND a.bkey = b.bkey
       |            AND a.doc_id < b.doc_id)
       |SELECT d1, d2,
       |  round(CAST(len(list_intersect(s1.h, s2.h)) AS DOUBLE) /
       |        len(list_distinct(list_concat(s1.h, s2.h))), 6) AS jaccard
       |FROM cand JOIN hs s1 ON s1.doc_id = d1 JOIN hs s2 ON s2.doc_id = d2
       |WHERE CAST(len(list_intersect(s1.h, s2.h)) AS DOUBLE) /
       |      len(list_distinct(list_concat(s1.h, s2.h))) >= 0.2""".stripMargin

  /** LSH-verified near-dup pairs (d1 < d2, jaccard ≥ 0.2) — the Spark side
    * of [[sqlLshVerifiedPairs]]. Fully hash-keyed like dedup_minhash_lsh:
    * fused shingle hashes for signatures, distinct-hash-set verify. */
  private def lshVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    // The banded `keyed` relation is PINNED: it feeds both sides of the
    // candidate self-join — unpinned, the dominant shingling+signature
    // chain would run twice with no reusable exchange (two sides of one
    // join canonicalize differently after aliasing). `cand` is pinned too
    // (three consumers: both candIds arms + the verify join). Pinning the
    // pre-explode hash-array table as well was MEASURED slower under the
    // per-run cache rebuild Bench models (array cache writes dominate), so
    // the verify side re-shingles only the few candidate docs. This helper
    // backs three registered queries (lsh_verified, connected_components,
    // cluster_best); the pins pay off in each.
    // NOT widened (measured twice, 8g and 24g heaps): a repartition ahead
    // of the shingle pipeline made every LSH query 2-3x slower — the pinned
    // exploded relations amortize the serial scan already, and the extra
    // exchange + wide cache writes dominate. See OPTIMIZATION_r19.md.
    val base = Tables.documents(s, d)
    val nHashes = 8
    // per-row minhash: min over the shingle-hash ARRAY of each affine
    // transform — identical values to the former explode + groupBy(min)
    // but with NO shuffle (the exploded relation was |docs|·|shingles|
    // rows wide; array_min(transform(...)) folds it inside the row)
    val harr = base.select(col("doc_id"), shingleHashes(col("text")).as("fp"))
    val hashCols = (0 until nHashes).map(i =>
      array_min(transform(col("fp"),
        x => (lit(2L * i + 1) * x + lit(i * 7919L)) % lit(HashMod)))
        .as(s"h$i"))
    val sig = harr.select(col("doc_id") +: hashCols: _*)
    // 8 bands × 1 hash: band key IS the single minhash value. The PIN
    // sits on the compact signature table (|docs| rows × 8 longs), not
    // the 8×-exploded banded relation: both self-join arms derive the
    // explosion from the one cached signature scan (a projection, no
    // shuffle), so the cache write is an eighth the size
    val sigP = graft.ops.OrderedOps.pinned(sig)
    val bandCols = (0 until nHashes).map(i => col(s"h$i").cast(StringType))
    val keyed = sigP
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bkey")))
    val cand = graft.ops.OrderedOps.pinned(
      keyed.select(col("band"), col("bkey"), col("doc_id").as("d1"))
        .join(keyed.select(col("band"), col("bkey"), col("doc_id").as("d2")),
          Seq("band", "bkey"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct())
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    // verify side re-derives hash sets for the (small) candidate id set
    // only — PINNED: it feeds both the d1 and d2 arms of the verify
    // join, and unpinned each arm re-scans the corpus and re-shingles
    // the candidates (two full passes for one small relation)
    // SORTED hash sets + the LongJaccardSim merge kernel (threshold
    // early-exit; exact on surviving rows) — the sort runs once per
    // candidate doc inside the pinned relation, amortized over every
    // pair the doc participates in
    val candH = graft.ops.OrderedOps.pinned(
      base.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), array_sort(shingleHashes(col("text"))).as("h")))
    val jac = jaccardHashes(col("h1"), col("h2"), 0.2)
    cand
      .join(candH.select(col("doc_id").as("d1"), col("h").as("h1")), Seq("d1"))
      .join(candH.select(col("doc_id").as("d2"), col("h").as("h2")), Seq("d2"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= 0.2)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
  }

  register("dedup_lsh_verified",
    sqlLshVerifiedPairs + "\nORDER BY d1, d2") { (s, d) =>
    lshVerifiedPairs(s, d).orderBy("d1", "d2")
  }

  // --- near-dup CLUSTERS: connected components over the verified pairs ------
  // The "keep one per cluster" step every production dedup pipeline needs:
  // pairs are not enough, the transitive closure is (A≈B, B≈C ⇒ drop two of
  // {A,B,C}). Distributed min-label propagation: every iteration is one
  // equi-join (edges × labels, both hash-partitioned on the key) plus one
  // min() aggregate — shuffle volume O(|edges|) per round, iteration count
  // bounded by the component diameter (near-dup clusters are shallow; the
  // loop also short-circuits on a converged round). Each round materializes
  // via persist and drops its predecessor, so lineage stays flat — the same
  // discipline GraphX/production CC jobs use (checkpoint dir at cluster
  // scale). The driver sees one Boolean per round, never the labels.
  register("dedup_connected_components",
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($sqlLshVerifiedPairs)),
       |e AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
       |r AS (SELECT d1 AS a, d2 AS b FROM e
       |      UNION SELECT r.a, e.d2 FROM r JOIN e ON r.b = e.d1 WHERE e.d2 <> r.a),
       |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM r GROUP BY a)
       |SELECT component, count(*) AS n_docs, max(doc_id) AS max_doc
       |FROM lab GROUP BY component ORDER BY component""".stripMargin) { (s, d) =>
    // min-label propagation loop lives in ops.ConnectedComponents (shared,
    // spec'd there incl. the loud non-convergence failure past the cap)
    graft.ops.ConnectedComponents
      .minLabel(lshVerifiedPairs(s, d).select("d1", "d2"))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .orderBy("component")
  }

  // --- cluster representative selection (keep-best, not keep-min) -----------
  // What production dedup actually ships: after near-dup clusters form, the
  // kept member is the BEST one (here: longest by stored n_chars, doc_id
  // tiebreak), not the smallest id — Lee et al. 2022 keep one canonical
  // member per duplicate cluster for exactly this reason. Composes the CC
  // labels with a broadcast-joined quality signal; the only corpus-scale
  // exchanges are CC's own rounds plus one per-component aggregate. Scale
  // note: the quality join keys on doc_id (equi), and the per-component
  // argmax is a single min_by/max_by aggregate — no window over the corpus.
  register("dedup_cluster_best",
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($sqlLshVerifiedPairs)),
       |e AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
       |r AS (SELECT d1 AS a, d2 AS b FROM e
       |      UNION SELECT r.a, e.d2 FROM r JOIN e ON r.b = e.d1 WHERE e.d2 <> r.a),
       |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM r GROUP BY a),
       |scored AS (SELECT lab.doc_id, lab.component, d.n_chars
       |  FROM lab JOIN documents d ON d.doc_id = lab.doc_id)
       |SELECT component, doc_id AS keep_id, n_chars AS keep_chars,
       |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_docs
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY component
       |  ORDER BY n_chars DESC, doc_id) = 1
       |ORDER BY component""".stripMargin) { (s, d) =>
    val labels = graft.ops.ConnectedComponents
      .minLabel(lshVerifiedPairs(s, d).select("d1", "d2"))
    labels
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("label").as("component"))
      .agg(
        max_by(struct(col("doc_id"), col("n_chars")),
          // highest n_chars wins; ties keep the LOWEST doc_id (negate it)
          struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("component"), col("best.doc_id").as("keep_id"),
        col("best.n_chars").as("keep_chars"), col("n_docs"))
      .orderBy("component")
  }
  // --- n-gram Jaccard via PPJoin prefix filtering (EXACT, scale path) ------
  // r18 DELIBERATE SEMANTICS CHANGE (r17 verdict ask #4, applied to BOTH
  // engines): the retired `dedup_ngram_jaccard` found pairs sharing >= 3
  // rare (df <= 20) shingles and verified jaccard >= 0.2 — a heuristic
  // whose candidate-pair shuffle was the suite's last multi-second sf1
  // term (22.1 s), linear in pairs by construction with a documented
  // recall caveat. This query is the production near-dup contract
  // instead: the EXACT jaccard >= 0.7 self-join, with candidates from
  // PPJoin-style prefix filtering (Xiao et al., WWW'08; Chaudhuri et al.,
  // ICDE'06 — public algorithm):
  //
  //   order every doc's shingle-hash set by one GLOBAL total order
  //   (ascending document frequency, ties by hash — rarest first); with
  //   p = |h| - ceil(t*|h|) + 1, any pair with jaccard >= t MUST share a
  //   token inside BOTH docs' first-p prefixes (|a n b| >= t*|a u b| >=
  //   ceil(t*|a|), so a miss in the prefix leaves fewer than ceil(t*|a|)
  //   positions — contradiction). The inverted index is built over
  //   PREFIXES ONLY (~30% of tokens at t = 0.7, and the globally RAREST
  //   30% of each doc, so posting lists skew short by construction); the
  //   length filter t*|a| <= |b| <= |a|/t prunes pairs before the
  //   distinct. 100% recall at the threshold — unlike the df-cap
  //   heuristic, nothing is missed.
  //
  // Scale shape: shuffles carry (doc_id, long) pairs only; the per-doc
  // collect buffer is each doc's OWN shingle set (bounded by document
  // length — never a posting list, so the stopword-shingle OOM hazard the
  // r5 audit rejected structurally cannot occur); candidate pairs shrink
  // from every-pair-sharing-a-rare-shingle to every-pair-sharing-a-
  // PREFIX-token-with-compatible-lengths. Exact verify runs the
  // LongJaccardSim merge kernel over sorted hash sets, threshold 0.7.
  register("dedup_ppjoin",
    s"""$sqlShingles,
       |hs AS (SELECT doc_id,
       |    list_distinct(list_transform(shingles, g -> ${sqlPolyHash("g")})) AS h FROM sh),
       |ex AS (SELECT doc_id, unnest(h) AS g FROM hs),
       |dfs AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
       |ord AS (SELECT e.doc_id, e.g,
       |         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.g) AS rn,
       |         count(*) OVER (PARTITION BY e.doc_id) AS sz
       |        FROM ex e JOIN dfs d ON e.g = d.g),
       |pre AS (SELECT doc_id, g, sz FROM ord
       |        WHERE rn <= sz - ceil(0.7 * sz) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM pre a JOIN pre b ON a.g = b.g AND a.doc_id < b.doc_id
       |         WHERE a.sz >= 0.7 * b.sz AND b.sz >= 0.7 * a.sz)
       |SELECT d1, d2,
       |  round(CAST(len(list_intersect(s1.h, s2.h)) AS DOUBLE) /
       |        len(list_distinct(list_concat(s1.h, s2.h))), 6) AS jaccard
       |FROM cand JOIN hs s1 ON s1.doc_id = d1 JOIN hs s2 ON s2.doc_id = d2
       |WHERE CAST(len(list_intersect(s1.h, s2.h)) AS DOUBLE) /
       |      len(list_distinct(list_concat(s1.h, s2.h))) >= 0.7
       |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    val t = 0.7
    val base = Tables.documents(s, d) // not widened — see lshVerifiedPairs note
    // the whole pipeline runs on 64-bit shingle hashes (fused
    // WordShingleHashes — strings never materialize); PINNED because it
    // feeds both the global-df aggregate and the per-doc ordering join.
    // (r19 A/B: a count-over-window(g) variant that drops the pin and one
    // exchange measured only noise-level different locally and is WORSE at
    // scale — a stopword-frequency shingle becomes one unsplittable window
    // partition, where this shape keeps a one-counter aggregate and an
    // AQE-skew-splittable join. Kept as-is deliberately.)
    val ex = graft.ops.OrderedOps.pinned(
      base.select(col("doc_id"), explode(shingleHashes(col("text"))).as("g")))
    val dfs = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // per-doc canonical order (df asc, hash asc — one GLOBAL total
    // order), then keep only the first |h| - ceil(t|h|) + 1 tokens: the
    // prefix index. collect_list buffers one doc's own shingles — the
    // bounded-by-document-length shape, never a posting list.
    // PINNED (r20): `pre` feeds both arms of the candidate self-join, which
    // plans as a BROADCAST hash join — the build arm evaluates `pre` inside
    // its broadcast-exchange future while the probe arm evaluates it again
    // in the main stage, and ReuseExchange cannot dedupe across a
    // broadcast/probe split (Prof: two ~350 ms collect_list+sort pipeline
    // stages per run, one per arm). The pin is (doc_id, sz, g) ints only.
    val pre = graft.ops.OrderedOps.pinned(ex.join(dfs, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("g"))).as("a"))
      .select(col("doc_id"), expr("transform(array_sort(a), x -> x.g)").as("og"))
      .select(col("doc_id"), size(col("og")).as("sz"),
        expr(s"slice(og, 1, CAST(size(og) - ceil($t * size(og)) + 1 AS INT))")
          .as("prefix"))
      .select(col("doc_id"), col("sz"), explode(col("prefix")).as("g")))
    // candidates: shared prefix token + compatible lengths; ids+ints only
    val cand = graft.ops.OrderedOps.pinned(
      pre.as("a").join(pre.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") >= lit(t) * col("b.sz") &&
          col("b.sz") >= lit(t) * col("a.sz"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct())
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    // exact verify over the (small) candidate id set only — sorted hash
    // sets + the LongJaccardSim merge kernel (threshold pushed down)
    val candH = graft.ops.OrderedOps.pinned(
      base.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), array_sort(shingleHashes(col("text"))).as("h")))
    val jac = jaccardHashes(col("h1"), col("h2"), t)
    cand
      .join(candH.select(col("doc_id").as("d1"), col("h").as("h1")), Seq("d1"))
      .join(candH.select(col("doc_id").as("d2"), col("h").as("h2")), Seq("d2"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= t)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("d1", "d2")
  }

  // --- benchmark contamination check ----------------------------------------
  // The decontamination gate every pretraining pipeline runs before training:
  // flag corpus documents sharing n-gram content with an evaluation set
  // (GPT-3 appendix C / PaLM §8 use exactly this 3-gram-overlap construction).
  // The benchmark here is the deterministic doc_id % 97 == 0 slice standing
  // in for MMLU/GSM8K/etc. Scale shape: the benchmark is ALWAYS tiny relative
  // to the corpus, so its distinct-shingle set is collected into a broadcast
  // hash relation and the corpus side streams through a broadcast semi-join —
  // the 100-TB corpus never shuffles, and the ≥3-shared-shingle threshold
  // applies per (doc, benchmark-set), not per pair, so output is one row per
  // contaminated doc.
  register("dedup_contamination",
    s"""$sqlShingles,
       |bg AS (SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id % 97 = 0),
       |ov AS (SELECT s.doc_id, count(*) AS n_overlap
       |       FROM (SELECT doc_id, unnest(shingles) AS g FROM sh WHERE doc_id % 97 <> 0) s
       |       JOIN bg USING (g) GROUP BY 1 HAVING count(*) >= 3)
       |SELECT doc_id, n_overlap FROM ov ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (docs, _) = shingleSource(s, d)
    val benchG = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("g")).distinct()
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(benchG), Seq("g"))
      // sh is distinct per doc, so count(*) counts distinct shared shingles
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 3)
      .orderBy("doc_id")
  }

  // --- decontamination at eval-aggregate scale: Bloom prune + exact confirm -
  // dedup_contamination broadcasts the benchmark's RAW distinct-shingle set —
  // right when decontaminating against one eval set, wrong when the
  // "benchmark" is the union of every public benchmark + held-out suites
  // (10⁹ shingles ≈ 100s of GB of strings: unbroadcastable, and a driver
  // collect is out of the question). This variant keeps the benchmark side
  // fully distributed: its shingle hashes fold into a FIXED-SIZE Bloom
  // sketch via Spark's BloomFilterAggregate (the same tree-aggregated
  // partial-merge machinery the engine's runtime row-level filtering uses —
  // one binary row comes back, 2²⁰ bits = 128 KiB here regardless of
  // benchmark cardinality; size bits ∝ items at production scale, ~1.2 MB
  // per 10⁶ items at 1% FP). The corpus side is then pruned by a codegen'd
  // `might_contain` on the embedded constant sketch BEFORE anything
  // shuffles, so only sketch survivors (true overlaps + the FP-rate sliver)
  // reach the exact-confirm equi-join against the benchmark relation.
  // Result is EXACT — Bloom has no false negatives and the confirm join
  // removes false positives — which is what lets a hash-comparing oracle
  // check a sketch-accelerated plan at all.
  register("dedup_contamination_bloom",
    s"""$sqlShingles,
       |bg AS (SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id % 89 = 0),
       |ov AS (SELECT s.doc_id, count(*) AS n_overlap
       |       FROM (SELECT doc_id, unnest(shingles) AS g FROM sh WHERE doc_id % 89 <> 0) s
       |       JOIN bg USING (g) GROUP BY 1 HAVING count(*) >= 2)
       |SELECT doc_id, n_overlap FROM ov ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (docs, _) = shingleSource(s, d)
    val bench = docs.filter(col("doc_id") % 89 === 0)
      .select(explode(col("sh")).as("g")).distinct()
    // benchmark pass: distributed sketch build, one 128 KiB row to the driver
    // (bounded by BITS, not by benchmark size — the whole point)
    val sketch = graft.ops.SketchOps.bloomSketch(bench)
    docs.filter(col("doc_id") % 89 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      // sketch prune: codegen scalar filter, pre-shuffle
      .filter(graft.ops.SketchOps.mightContain(sketch)(col("g")))
      .join(bench, Seq("g")) // exact confirm on survivors only
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 2)
      .orderBy("doc_id")
  }

  // --- embedding-cosine near-dup via banded hyperplane LSH (no x-join) ------
  // Candidates come from 2 hash tables of 12 sign bits each. Cost bound, the
  // property that survives 100×: (a) key width — 12 bits ≈ log₂N at test
  // scale (at production N, widen to ceil(log₂N): the per-band bucket count
  // tracks N, so E[bucket size] stays O(1)); (b) a HARD per-bucket cap —
  // buckets with more than MaxBucket members are dropped before pairing
  // (the embedding-space analogue of the n-gram df cap above), so total
  // candidate pairs ≤ (N/MaxBucket)·C(MaxBucket,2) < N·MaxBucket/2 — LINEAR
  // in N for any key width and any data skew, never Θ(N²). Recall contract:
  // a pair is found iff it agrees on all 12 sign bits of one band and its
  // bucket is not degenerate-dense (dropped dense buckets are re-findable by
  // widening keys — the documented production knob).
  //
  // Sign bits are computed on QUANTIZED integer components
  // (xi = floor(1000·x): exact in IEEE — float mantissa 24 bits × 1000 < 2⁵³)
  // so every hyperplane dot is integer arithmetic: the sign is exact and
  // independent of summation order, which lets the dots be computed by
  // explode → 24 codegen sum() aggregates with map-side partials — NOT by
  // nested interpreted higher-order aggregates duplicated through the band
  // posexplode (the 30×-measured trap documented at dedup_minhash_lsh).
  register("dedup_embedding_cosine",
    """WITH e AS (SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000) AS BIGINT)) AS xi,
      |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bk AS (SELECT vec_id, band,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 12)), (acc, jj) ->
      |    acc + CASE WHEN list_reduce(list_transform(range(1, len(xi) + 1),
      |        i -> xi[i] * (((i - 1) * 31 + (band * 12 + jj) * 17) % 7 - 3)), (x, y) -> x + y) > 0
      |      THEN (CAST(1 AS BIGINT) << jj) ELSE 0 END) AS bkey
      |  FROM e, (SELECT unnest(range(0, 2)) AS band) bands),
      |ok AS (SELECT band, bkey FROM bk GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 50),
      |pr AS (SELECT b.vec_id, b.band, b.bkey FROM bk b JOIN ok USING (band, bkey)),
      |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
      |         FROM pr a JOIN pr b ON a.band = b.band AND a.bkey = b.bkey
      |            AND a.vec_id < b.vec_id)
      |SELECT v1, v2,
      |  round(list_reduce(list_transform(range(1, len(e1.v) + 1), i -> e1.v[i] * e2.v[i]), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(e1.v, x -> x * x), (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(e2.v, x -> x * x), (x, y) -> x + y))), 6) AS cosine
      |FROM cand JOIN e e1 ON e1.vec_id = v1 JOIN e e2 ON e2.vec_id = v2
      |WHERE list_reduce(list_transform(range(1, len(e1.v) + 1), i -> e1.v[i] * e2.v[i]), (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_transform(e1.v, x -> x * x), (x, y) -> x + y))
      |     * sqrt(list_reduce(list_transform(e2.v, x -> x * x), (x, y) -> x + y))) >= 0.3
      |ORDER BY v1, v2""".stripMargin) { (s, d) =>
    val BitsPerBand = 12 // ≈ log₂N at test scale; production: ceil(log₂N)
    val NBands = 2
    val MaxBucket = 50 // hard cap ⇒ candidates ≤ N·MaxBucket/2, linear in N
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    // One explode pass: (vec_id, dim, quantized component). The 24 hyperplane
    // dots are plain integer sum() aggregates — whole-stage codegen with
    // map-side partial aggregation; the shuffle carries (vec_id, 24 longs).
    val dims = e.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), floor(col("x") * 1000).cast(LongType).as("xi"))
    val dotCols = (0 until NBands * BitsPerBand).map { j =>
      sum(col("xi") * ((col("i") * 31 + lit(j * 17)) % 7 - 3)).as(s"dot$j")
    }
    val dots = dims.groupBy(col("vec_id")).agg(dotCols.head, dotCols.tail: _*)
    val bandKey = (band: Int) =>
      (0 until BitsPerBand).map { jj =>
        when(col(s"dot${band * BitsPerBand + jj}") > 0, lit(1L << jj)).otherwise(0L)
      }.reduce(_ + _)
    val keyed = dots.select(col("vec_id"),
      posexplode(array((0 until NBands).map(bandKey): _*)).as(Seq("band", "bkey")))
    // Per-bucket cap: drop degenerate-dense buckets BEFORE pairing — the
    // df-cap pattern from dedup_ngram_jaccard applied to hash buckets.
    val okBuckets = keyed.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, MaxBucket))
      .select("band", "bkey")
    val pruned = keyed.join(okBuckets, Seq("band", "bkey"))
    val cand = pruned.select(col("band"), col("bkey"), col("vec_id").as("v1"))
      .join(pruned.select(col("band"), col("bkey"), col("vec_id").as("v2")),
        Seq("band", "bkey"))
      .filter(col("v1") < col("v2"))
      .select("v1", "v2").distinct()
    cand
      .join(e.select(col("vec_id").as("v1"), col("v").as("va")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("v").as("vb")), Seq("v2"))
      // fused codegen cosine kernel — bit-identical to the HOF fold
      .withColumn("cosine", graft.functions.GF.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= 0.3)
      .select(col("v1"), col("v2"), round(col("cosine"), 6).as("cosine"))
      .orderBy("v1", "v2")
  }

  // --- line-level boilerplate removal (C4/CCNet-style, north-star) ----------
  // Cross-document repeated "lines" (3-token blocks standing in for the
  // sentences/lines of real corpora) are boilerplate: any line appearing in
  // ≥3 distinct documents is dropped from EVERY document, and each doc's
  // surviving text is re-assembled in original order. Scale shape: explode
  // lines (linear in corpus tokens) → one map-side-combined groupBy for the
  // document-frequency table → one equi-join back on the line key → per-doc
  // re-aggregation. The line key here is the 3-token string (short, and it
  // must match the oracle's grouping exactly); at 100 TB you'd key the DF
  // table and the join on xxhash64(line) instead, shrinking the shuffle to
  // (digest, doc_id, pos) — same plan shape, narrower rows.
  register("dedup_lines",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |l AS (SELECT doc_id,
      |    unnest(list_transform(range(0, CAST(ceil(len(toks) / 3.0) AS INT)),
      |      i -> {'pos': i, 'line': array_to_string(list_slice(toks, i*3+1, i*3+3), ' ')})) AS p
      |  FROM t),
      |lines AS (SELECT doc_id, p.pos AS pos, p.line AS line FROM l),
      |df AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line),
      |m AS (SELECT lines.doc_id, lines.pos, lines.line, df.n_docs >= 3 AS boiler
      |  FROM lines JOIN df USING (line))
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  md5(coalesce(array_to_string(list_transform(
      |    list_sort(list((pos, line)) FILTER (NOT boiler)), x -> x[2]), ' '), '')) AS kept_md5
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    // PINNED: the line relation feeds both the document-frequency aggregate
    // and the probe side of the boilerplate join — unpinned, the
    // tokenize+explode line derivation runs twice (no reusable exchange:
    // the two consumers shuffle by different keys)
    val lines = graft.ops.OrderedOps.pinned(Tables.documents(s, d)
      .select(col("doc_id"), tokenize(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, cast(ceil(size(toks) / 3.0) as int) - 1), " +
          "i -> struct(i as pos, array_join(slice(toks, i*3+1, 3), ' ') as line))")).as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.line").as("line")))
    val df = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    lines.join(df, Seq("line"))
      .withColumn("boiler", col("n_docs") >= 3)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("boiler").cast(IntegerType)).as("n_removed"),
        // collect_list drops the nulls `when` leaves on boilerplate rows;
        // sort_array orders struct(pos, line) by pos — original line order
        md5(array_join(transform(
          sort_array(collect_list(when(!col("boiler"), struct(col("pos"), col("line"))))),
          x => x.getField("line")), " ")).as("kept_md5"))
      .orderBy("doc_id")
  }

  // --- normalized-text exact dedup ------------------------------------------
  // The tier between byte-exact and fuzzy: digest the text after casefold,
  // punctuation strip, and whitespace-run collapse, so trivially-reformatted
  // copies (the most common web duplicates) collapse without any candidate
  // generation. Same single (digest, id) shuffle as dedup_exact; the
  // normalization is a per-row codegen regex chain fused into the scan.
  register("dedup_exact_normalized",
    s"""WITH n AS (SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
       |         ' +', ' ', 'g')) AS norm
       |  FROM documents)
       |SELECT ${sqlPolyHash("norm")} AS digest, min(doc_id) AS keep_id,
       |  count(*) AS n_copies
       |FROM n GROUP BY 1 ORDER BY digest""".stripMargin) { (s, d) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, d)
      .select(col("doc_id"), polyHash(norm).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("digest")
  }

  // --- incremental dedup: new batch vs existing digest index ----------------
  // The daily-increment mode: a 100-TB corpus is NOT re-deduplicated per
  // ingest — the new batch anti-joins the standing digest index, and only
  // batch-internal duplicates need the groupBy. Corpus side collapses to
  // digests only (min_by carries nothing); the increment is the small side.
  // Here the "new batch" is the deterministic doc_id % 5 = 0 slice.
  register("dedup_incremental",
    s"""WITH idx AS (SELECT DISTINCT ${sqlPolyHash("text")} AS digest
       |           FROM documents WHERE doc_id % 5 <> 0),
       |batch AS (SELECT doc_id, ${sqlPolyHash("text")} AS digest
       |          FROM documents WHERE doc_id % 5 = 0),
       |fresh AS (SELECT b.doc_id, b.digest FROM batch b
       |          LEFT JOIN idx ON b.digest = idx.digest WHERE idx.digest IS NULL)
       |SELECT digest, min(doc_id) AS keep_id, count(*) AS n_in_batch
       |FROM fresh GROUP BY digest ORDER BY digest""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), polyHash(col("text")).as("digest"))
    val idx = docs.filter(col("doc_id") % 5 =!= 0).select("digest").distinct()
    val batch = docs.filter(col("doc_id") % 5 === 0)
    batch.join(idx, Seq("digest"), "left_anti")
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_in_batch"))
      .orderBy("digest")
  }

  // --- incremental NEAR-dup: new batch vs a persisted LSH band index --------
  // The near-dup face of dedup_incremental: a standing corpus keeps its
  // (doc_id, band, bkey) LSH index as a snapshotted feather table, and a
  // new batch is checked by signing ONLY the batch and equi-joining its
  // band keys against the stored index — the corpus is never re-shingled
  // in the ingest path. At 100 TB this is the difference between an
  // O(corpus) re-hash per day and O(batch + candidates): index maintenance
  // is an append of the accepted batch's keys (the connector's snapshot
  // append gives that atomically), and verification re-derives shingle
  // hash sets for candidate ids only, exactly like the full LSH queries.
  // Here corpus = doc_id % 10 <> 0 (index built once, in the untimed
  // fixture), batch = doc_id % 10 = 0.
  register("dedup_lsh_incremental",
    s"""$sqlShingles,
       |hs AS (SELECT doc_id,
       |         list_distinct(list_transform(shingles, g -> ${sqlPolyHash("g")})) AS h FROM sh),
       |mh AS (SELECT doc_id, list_transform(range(0, 8), i -> list_min(list_transform(h,
       |         f -> ((2*i + 1) * f + i * 7919) % 1000000007))) AS sig FROM hs),
       |keyed AS (SELECT doc_id, unnest(range(0, 8)) AS band, sig FROM mh),
       |kb AS (SELECT doc_id, band, CAST(sig[band + 1] AS VARCHAR) AS bkey FROM keyed),
       |cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
       |         FROM kb a JOIN kb b ON a.band = b.band AND a.bkey = b.bkey
       |         WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
       |SELECT new_id, old_id,
       |  round(CAST(len(list_intersect(s1.h, s2.h)) AS DOUBLE) /
       |        len(list_distinct(list_concat(s1.h, s2.h))), 6) AS jaccard
       |FROM cand JOIN hs s1 ON s1.doc_id = new_id JOIN hs s2 ON s2.doc_id = old_id
       |WHERE CAST(len(list_intersect(s1.h, s2.h)) AS DOUBLE) /
       |      len(list_distinct(list_concat(s1.h, s2.h))) >= 0.2
       |ORDER BY new_id, old_id""".stripMargin) { (s, d) =>
    // the banding construction is the SHARED one the streaming ingest
    // sink persists its index with — one definition, or the hash family
    // would drift between the stored index and its probes
    import graft.streaming.CorpusIngest.bandKeys
    val indexPath = IoQueries.readFixture("lsh_band_index", d) { p =>
      bandKeys(Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0))
        .write.format("feather").mode("overwrite")
        .option("snapshots", "true").save(p)
    }
    val index = s.read.format("feather").load(indexPath)
    val batch = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
    val cand = graft.ops.OrderedOps.pinned(
      bandKeys(batch).select(col("band"), col("bkey"), col("doc_id").as("new_id"))
        .join(index.select(col("band"), col("bkey"), col("doc_id").as("old_id")),
          Seq("band", "bkey"))
        .select("new_id", "old_id").distinct())
    val base = Tables.documents(s, d)
    def candH(idCol: String) = base
      .join(cand.select(col(idCol).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_sort(shingleHashes(col("text"))).as("h"))
    val jac = jaccardHashes(col("h1"), col("h2"), 0.2)
    cand
      .join(candH("new_id").select(col("doc_id").as("new_id"), col("h").as("h1")),
        Seq("new_id"))
      .join(candH("old_id").select(col("doc_id").as("old_id"), col("h").as("h2")),
        Seq("old_id"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= 0.2)
      .select(col("new_id"), col("old_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("new_id", "old_id")
  }

  // --- duplicate-span coverage (exact-substring dedup signal; Lee et al.
  // 2022 "Deduplicating Training Data Makes Language Models Better") -------
  // Overlapping 8-token windows; a window is a duplicate span iff its
  // (hashed) content occurs in ≥ 2 distinct documents. Per doc: span counts
  // plus the fraction of token positions covered by ≥ 1 duplicate span —
  // the paper's dup-coverage metric, the usual cut feature for substring-
  // level contamination. Differs from dedup_lines (non-overlapping fixed
  // lines, removal) in window overlap and in producing coverage, not a
  // scrubbed text.
  //
  // Scale: window rows shuffle as (doc_id, pos, 64-bit hash) — never text;
  // per-shingle document frequency is a map-combinable count over the
  // per-doc-distinct (shid, doc_id) relation; flagging is a semi-join on
  // shid; coverage is a per-row interval-merge fold over the SORTED dup
  // positions — O(dup spans) per doc, not the quadratic exists() scan.
  // Hash note: 64-bit-space polyhash (mod 1e9+7 here for oracle parity)
  // conflates colliding spans identically on both engines; production
  // would widen to 128-bit (xxhash64 pair) — same plan shape.
  register("dedup_span_ngrams",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tt AS (SELECT doc_id, len(toks) AS n_tok, toks FROM t WHERE len(toks) >= 8),
       |w AS (SELECT doc_id, n_tok,
       |    unnest(range(0, n_tok - 7)) AS pos,
       |    unnest(list_transform(range(0, n_tok - 7),
       |      i -> ${sqlPolyHash("array_to_string(toks[i+1:i+8], '_')")})) AS shid
       |  FROM tt),
       |dup AS (SELECT shid FROM (SELECT DISTINCT doc_id, shid FROM w)
       |        GROUP BY shid HAVING count(*) >= 2),
       |f AS (SELECT w.doc_id, w.pos FROM w JOIN dup ON w.shid = dup.shid),
       |dp AS (SELECT doc_id, count(*) AS n_dup, list_sort(list(pos)) AS dpos
       |       FROM f GROUP BY doc_id),
       |pd AS (SELECT doc_id, count(*) AS n_spans, any_value(n_tok) AS n_tok FROM w GROUP BY doc_id)
       |SELECT pd.doc_id, pd.n_spans,
       |  coalesce(dp.n_dup, 0) AS n_dup_spans,
       |  len(list_filter(range(0, n_tok),
       |    t -> len(list_filter(coalesce(dpos, []), i -> t - i BETWEEN 0 AND 7)) > 0)) AS covered_tokens,
       |  round(CAST(len(list_filter(range(0, n_tok),
       |    t -> len(list_filter(coalesce(dpos, []), i -> t - i BETWEEN 0 AND 7)) > 0)) AS DOUBLE) / n_tok, 6) AS dup_cover_frac
       |FROM pd LEFT JOIN dp ON pd.doc_id = dp.doc_id
       |ORDER BY pd.doc_id""".stripMargin) { (s, d) =>
    // FUSED span hashing (r17): one hash per window position straight
    // off the text — the '_'-joined 8-gram strings never materialize
    // (the same fusion shingleHashes gave the LSH tier), and posexplode's
    // index IS the window's start-token position
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        size(tokenize(col("text"))).cast(LongType).as("n_tok"))
      .filter(col("n_tok") >= 8)
    // NOT pinned (r20 measured-and-rejected): `wins` does feed two
    // consumers (the doc-frequency aggregate and the semi-join probe, two
    // ~190 ms spanHashes stages in the Prof dump), but pinning it measured
    // SLOWER (Prof warm 1.05 → 1.47 s) — the block-store write of the
    // exploded (doc_id, n_tok, pos, shid) relation costs more than the
    // second fused span-hash pass it saves. Same lesson as the unpersisted
    // shingleSource above.
    val wins = base
      .select(col("doc_id"), col("n_tok"),
        posexplode(spanHashes(col("text"), 8)).as(Seq("pos", "shid")))
    val dup = wins.select(col("doc_id"), col("shid")).distinct()
      .groupBy(col("shid")).agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") >= 2)
      .select("shid")
    val perDocDup = wins.join(dup, Seq("shid"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sort_array(collect_set(col("pos"))).as("dpos"))
    // n_spans is DERIVED, not aggregated: spanHashes emits exactly
    // n_tok - 7 windows per kept doc, so the per-doc stats come straight
    // off the base relation — one full span-hash pass (and its shuffle)
    // fewer than aggregating `wins` a second time
    val perDoc = base
      .select(col("doc_id"), (col("n_tok") - 7).as("n_spans"), col("n_tok"))
    // interval-merge fold over the sorted dup positions (TextFunctions
    // .spanCoverage — property-pinned against a naive per-position scan)
    val covered = spanCoverage(
      coalesce(col("dpos"), expr("cast(array() as array<int>)")), 8)
    perDoc.join(perDocDup, Seq("doc_id"), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .withColumn("covered_tokens", covered)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"), col("covered_tokens"),
        round(col("covered_tokens").cast(DoubleType) / col("n_tok"), 6).as("dup_cover_frac"))
      .orderBy("doc_id")
  }

  // --- cross-source overlap matrix ------------------------------------------
  // Which sources duplicate each other, and how much? For every source
  // pair: |shingles(s1) ∩ shingles(s2)|, both set sizes, and the overlap
  // coefficient |∩| / min(|S1|, |S2|) — the number a mix planner reads
  // before weighting sources (two mirrors of the same crawl must not both
  // get full weight). Scale shape: the corpus collapses to DISTINCT
  // (source, shingle-hash) pairs in one shuffle — ids and hashes only,
  // text never moves — and the shingle-keyed self-join emits at most
  // C(#sources, 2) rows per distinct hash, so with tens of sources the
  // candidate volume is bounded by vocabulary size, not corpus size. No
  // DF cap needed (contrast dedup_ngram_jaccard, where the posting lists
  // are per-DOCUMENT and unbounded).
  register("dedup_source_overlap",
    s"""$sqlShingles,
       |hs AS (SELECT doc_id,
       |         list_distinct(list_transform(shingles, g -> ${sqlPolyHash("g")})) AS h FROM sh),
       |sd AS (SELECT DISTINCT d.source AS source, hsh
       |       FROM (SELECT doc_id, unnest(h) AS hsh FROM hs) x
       |       JOIN documents d USING (doc_id)),
       |sizes AS (SELECT source, count(*) AS n FROM sd GROUP BY source),
       |inter AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_common
       |          FROM sd a JOIN sd b ON a.hsh = b.hsh AND a.source < b.source
       |          GROUP BY 1, 2)
       |SELECT s1, s2, n_common, x.n AS n1, y.n AS n2,
       |  round(CAST(n_common AS DOUBLE) / least(x.n, y.n), 6) AS overlap
       |FROM inter JOIN sizes x ON s1 = x.source JOIN sizes y ON s2 = y.source
       |ORDER BY s1, s2""".stripMargin) { (s, d) =>
    // PINNED: the distinct (source, hash) relation has three consumers
    // (sizes + both self-join arms) — unpinned, the shingle pass and its
    // distinct shuffle run for each
    val sd = graft.ops.OrderedOps.pinned(Tables.documents(s, d)
      .select(col("source"), explode(shingleHashes(col("text"))).as("hsh"))
      .distinct())
    val sizes = sd.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sd.as("a")
      .join(sd.as("b"), col("a.hsh") === col("b.hsh") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), Seq("s2"))
      .select(col("s1"), col("s2"), col("n_common"), col("n1"), col("n2"),
        round(col("n_common").cast(DoubleType) /
          least(col("n1"), col("n2")).cast(DoubleType), 6).as("overlap"))
      .orderBy("s1", "s2")
  }
}
