package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, UpdateTable}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraftCatalog
import graft.sources.{FeatherPartitions, FeatherSnapshots, RowLevelCommitMetrics}

/** Predicate DELETE and UPDATE on snapshotted tables, as engine calls
  * over the one SQL DML path (reference analog: the reference
  * deletes/updates by boolean mask over an in-memory frame,
  * python/cudf/cudf/core/dataframe.py `__setitem__` with a boolean
  * indexer and `drop`; a distributed table needs the predicate pushed
  * into candidate pruning instead):
  *
  *  - [[deleteWhere]]: drop every row the predicate selects (NULL
  *    keeps, SQL semantics), copy-on-write — `DELETE FROM graft.`<path>``.
  *  - [[deleteWhereDV]]: same rows masked via [[DeletionVectors]]
  *    sidecars, bytes ∝ deleted rows (the takedown shape) —
  *    `DELETE FROM graft_dv.`<path>``.
  *  - [[updateWhere]]: SET expressions applied to selected rows,
  *    copy-on-write — `UPDATE graft.`<path>``; on a hive-partitioned
  *    table a SET on a partition column MOVES the row (delete-here +
  *    insert-there, one commit).
  *
  * Each builds Spark's DeleteFromTable / UpdateTable plan from the
  * caller's Columns and runs it through Spark's row-level rewrite onto
  * [[graft.sources.FaceRowLevel]]: its scan prunes leaves by partition
  * values and files by stats and Bloom sidecars (the pushed filters),
  * and its copy-on-write scan narrows the rewrite at runtime to the
  * files holding a match. The relation comes from a catalog built in
  * place over the qualified path, so any session runs them and a
  * relative path names that directory, never a warehouse table. A SET
  * applies only exact types and lossless upcasts whatever the session's
  * store assignment policy; Spark's analysis pins the clock functions to
  * one instant per statement. The `Result` comes from the commit itself:
  * the row-level write's driver metrics ([[RowLevelCommitMetrics]]). A
  * statement that matches nothing publishes no version (the
  * foreachBatch replay contract), except a no-match UPDATE whose pruning
  * kept exactly one file: the runtime filter is not offered there, so
  * that file is republished. */
object PredicateMutations {
  import FeatherMutations.Result

  def deleteWhere(spark: SparkSession, path: String, cond: Column): Result =
    rowLevel(spark, path, "graft", Some(cond), Map.empty)

  def deleteWhereDV(spark: SparkSession, path: String,
                    cond: Column): Result =
    rowLevel(spark, path, "graft_dv", Some(cond), Map.empty)

  /** A no-match UPDATE whose pruning kept exactly one file republishes
    * that file (a new version with the same rows): the runtime group
    * filter that would prove the no-match costs two jobs on every pruned
    * UPDATE, so it is offered only past one file. */
  def updateWhere(spark: SparkSession, path: String,
                  set: Map[String, Column],
                  cond: Option[Column] = None): Result = {
    require(set.nonEmpty, "updateWhere: empty SET")
    rowLevel(spark, path, "graft", cond, set)
  }

  private def rowLevel(spark: SparkSession, path: String, catalog: String,
                       cond: Option[Column],
                       set: Map[String, Column]): Result = {
    val op = if (set.isEmpty) "delete" else "update"
    val rel = pathRelation(spark, path, catalog)
    val target = Bridge.ofRows(spark, rel)
    // Spark's analysis refuses a nondeterministic WHERE itself, not a
    // non-boolean one
    cond.foreach { c =>
      val dt = target.select(c).schema.head.dataType
      require(dt == BooleanType,
        s"$op: WHERE predicate is ${dt.catalogString}, not boolean")
    }
    requireSets(op, target.schema, target, set.toSeq)
    def expr(c: Column) = Bridge.convertedExpression(spark, c)
    val plan =
      if (set.isEmpty)
        DeleteFromTable(rel, cond.map(expr).getOrElse(Literal.TrueLiteral))
      else UpdateTable(rel, set.toSeq.map { case (c, e) =>
        Assignment(UnresolvedAttribute.quoted(c), expr(e)) }, cond.map(expr))
    // partsWritten = DV sidecars for the merge-on-read delete, exactly
    // FeatherMutations.deleteByKeyDV's accounting — the two spellings of
    // one takedown report identically
    Result.of(commitReport(spark, plan, s"$op on $path"),
      dvSidecars = catalog == "graft_dv")
  }

  /** The relation of ``graft.`<path>` `` (copy-on-write) or
    * ``graft_dv.`<path>` `` (merge-on-read), from a catalog of that name
    * built in place: no session conf needed, and the qualified path
    * always takes the catalog's path branch (a relative name would
    * resolve under a warehouse). On the default filesystem the bare
    * absolute path is the name the SQL spelling `graft.`/abs/t`` uses.
    * The statement built over it runs on this one table load. */
  private[io] def pathRelation(spark: SparkSession, path: String,
                               catalog: String): DataSourceV2Relation = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = new Path(path)
    val fs = raw.getFileSystem(conf)
    val qualified = fs.makeQualified(raw)
    require(FeatherSnapshots.enabled(fs, qualified),
      s"row-level DML on $path, which has no ${FeatherSnapshots.Dir} " +
        "directory — it is a manifest operation; write the table with " +
        "option(\"snapshots\", \"true\") first")
    val name =
      if (fs.getUri == FileSystem.getDefaultUri(conf)) qualified.toUri.getPath
      else qualified.toString
    val cat = new GraftCatalog
    cat.initialize(catalog, CaseInsensitiveStringMap.empty())
    val ident = Identifier.of(Array.empty[String], name)
    DataSourceV2Relation.create(cat.loadTable(ident), Some(cat), Some(ident))
  }

  /** The SET rule of every row-level entry point, an input check Spark's
    * analysis leaves open: each (column, value) names a column of
    * `table`, and the value, resolved over `shape`, is deterministic (a
    * replayed statement must write the same rows) and of the column's
    * exact type or a lossless upcast, whatever the session's store
    * assignment policy. */
  private[io] def requireSets(op: String, table: StructType, shape: DataFrame,
                              sets: Seq[(String, Column)]): Unit = {
    val caseSensitive = shape.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def field(c: String) = table.fields.find(f =>
      if (caseSensitive) f.name == c else f.name.equalsIgnoreCase(c))
    sets.foreach { case (c, _) => require(field(c).isDefined,
      s"$op: SET names column '$c', not in the table schema " +
        s"(${table.fieldNames.mkString(", ")})") }
    if (sets.isEmpty) return
    val resolved = shape.select(sets.map(_._2): _*)
      .queryExecution.analyzed.expressions
    sets.zip(resolved).foreach { case ((c, _), e) =>
      val to = field(c).get.dataType
      require(e.dataType == to || Cast.canUpCast(e.dataType, to),
        s"$op: SET of column '$c' (${to.catalogString}) from a " +
          s"${e.dataType.catalogString} expression — only exact types and " +
          "lossless upcasts are applied; cast the expression explicitly " +
          "if the narrowing is intended")
      require(e.deterministic,
        s"$op: the SET of column '$c' is nondeterministic — a replayed " +
          "statement would write different rows; make it deterministic")
    }
  }

  /** Runs a row-level statement and returns what its commit published:
    * the write's driver metrics ([[RowLevelCommitMetrics]]). */
  private[io] def commitReport(spark: SparkSession, plan: LogicalPlan,
                               what: String): RowLevelCommitMetrics.Report =
    RowLevelCommitMetrics.of(Bridge.ofRows(spark, plan)).getOrElse(
      throw new IllegalStateException(s"$what: the executed statement " +
        "carries no commit report"))

  /** Translatable conjuncts of a RESOLVED predicate, through Spark's
    * OWN filter translation (`Bridge.translateFilter`) so pruning
    * semantics can never drift from scan pushdown. Foldable subtrees
    * fold first: analysis leaves `id > CAST(350 AS bigint)` unfolded
    * (the optimizer would fold it, but optimizing over the empty shape
    * relation would erase the whole Filter), and the translator only
    * recognizes bare literals. Anything untranslatable just doesn't
    * prune — pruning is an optimization, never a correctness input. */
  private def translatedConjuncts(spark: SparkSession,
                                  fullSchema: StructType, cond: Column)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    val shape = spark.createDataFrame(new java.util.ArrayList[Row](),
      fullSchema)
    val analyzed = shape.where(cond).queryExecution.analyzed
    val resolved = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    def fold(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.transformUp {
        case x if x.foldable &&
            !x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
          org.apache.spark.sql.catalyst.expressions.Literal
            .create(x.eval(null), x.dataType)
      }
    resolved.toSeq.flatMap(conjuncts).map(fold).flatMap(e =>
      org.apache.spark.sql.graft.Bridge.translateFilter(e))
  }

  /** The two-tier conservative candidate filter: a file survives unless
    * its partition LEAF refutes every translated conjunct or its stats
    * sidecars prove every row group empty. No filters → every file is a
    * candidate. */
  private def pruneCandidateIdx(absFiles: Seq[(String, Long)],
                                condFilters: Seq[org.apache.spark.sql.sources.Filter],
                                leafByAbs: Map[String, FeatherPartitions.LeafFile],
                                partSchema: StructType,
                                statsByFile: Map[String, Option[Seq[Map[String, FeatherStats.ColStat]]]])
      : Seq[Int] =
    absFiles.indices.filter { i =>
      val (abs, _) = absFiles(i)
      val leafOk = condFilters.isEmpty ||
        leafByAbs.get(abs).forall(
          FeatherPartitions.survives(_, partSchema, condFilters))
      val statsOk = condFilters.isEmpty ||
        (statsByFile.getOrElse(abs, None) match {
          case Some(batches) if batches.nonEmpty =>
            !batches.forall(
              FeatherStats.batchProvablyEmpty(_, condFilters))
          case _ => true
        })
      leafOk && statsOk
    }

  /** Predicate-scoped atomic OVERWRITE — the `replaceWhere` backfill
    * statement (Delta's `option("replaceWhere", ...)` semantics, as an
    * API): ONE commit deletes every row `cond` selects and inserts
    * `data`. The recompute-one-slice-and-swap-it job a daily-partitioned
    * 100-TB corpus runs — readers see the old slice or the new one,
    * never a mix, and time travel keeps the old version. (Reference
    * anchor: the reference replaces a slice by boolean-mask drop +
    * concat over an in-memory frame, python/cudf/cudf/core/dataframe.py
    * `drop`/reshape.py `concat`; a distributed table needs the atomic
    * commit + pruning story instead.)
    *
    * Contract (Delta parity):
    *  - every `data` row must satisfy `cond`, checked BEFORE any write —
    *    a row outside the predicate would silently grow the replacement
    *    scope and make the backfill non-idempotent;
    *  - `cond` must be a deterministic boolean; `data`'s plan must be
    *    deterministic too (the constraint probe and the write each
    *    evaluate it; persist is best-effort under eviction);
    *  - clock functions in both pin to one per-statement instant;
    *  - `data` aligns BY NAME under the lossless-or-exact cast rule;
    *    columns it does not supply read as NULL (partition columns must
    *    be supplied); extra columns refuse with evolution guidance.
    *
    * Work ∝ selectivity: candidates prune through partition values and
    * stats sidecars through Spark's own filter translation (the
    * row-level scan's pushdown semantics), non-candidate files carry through the manifest
    * untouched, and only candidate rows the predicate does NOT select
    * rewrite — for the common leaf-aligned backfill that is ~zero rows,
    * so the write is the new data plus the manifest. Commits as an
    * `overwrite` under the mutation conflict matrix; a statement that
    * matches nothing and inserts nothing publishes NO version (the
    * replay-clean rule). */
  def replaceWhere(spark: SparkSession, path: String, data: DataFrame,
                   cond: Column): Result = {
    val op = "replaceWhere"
    val conf = spark.sparkContext.hadoopConfiguration
    val r = FeatherMutations.resolveTable(spark, path, op, requireHive = true)
    val FeatherMutations.Resolved(root, fs, snap, face, partCols, absFiles,
      tableSchema, partSchema, fullSchema, caseSensitive, leafByAbs) = r
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op on $path: $msg")
    val nowInstant = java.time.Instant.now()
    val cond0 = FeatherMutations.pinClock(spark,
      fullSchema.fieldNames.toSeq, nowInstant)(cond)
    def emptyFrame = spark.createDataFrame(
      new java.util.ArrayList[Row](), fullSchema)
    locally {
      val dt = emptyFrame.select(cond0).schema.head.dataType
      if (dt != BooleanType)
        bad(s"predicate is ${dt.catalogString}, not boolean")
      if (!emptyFrame.select(cond0).queryExecution.analyzed.expressions
          .forall(_.deterministic))
        bad("the predicate is nondeterministic — the statement evaluates " +
          "it in several separate Spark jobs (pruning, the constraint " +
          "probe, the survivor rewrite), so a nondeterministic predicate " +
          "can silently duplicate or lose rows; make it deterministic " +
          "(clock functions are pinned per statement automatically)")
      // data's PLAN too: the constraint probe and the write each scan it
      data.queryExecution.analyzed.find(p =>
          !p.expressions.forall(_.deterministic)).foreach(_ =>
        bad("the replacement data's plan is nondeterministic — the " +
          "constraint probe and the write each evaluate it (persist is " +
          "best-effort under eviction), so " +
          "rand()/uuid()-shaped data can silently violate the predicate " +
          "or mis-route rows; materialize the data first (write it to a " +
          "staging path and read it back)"))
    }
    // ---- align data BY NAME -------------------------------------------------
    val canon = FeatherMutations.canonicalName(fullSchema, caseSensitive) _
    val aligned0: DataFrame = {
      val posNames = data.columns.indices.map(i => s"__rw_c$i")
      val d2 = data.toDF(posNames: _*)
      val named: Seq[(String, Column, DataType)] =
        data.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          (canon(f.name), d2(posNames(i)), f.dataType) }
      named.groupBy(_._1).foreach { case (n, vs) =>
        if (vs.size > 1) bad(s"data supplies column '$n' more than once") }
      val unknown = named.map(_._1)
        .filterNot(fullSchema.fieldNames.contains)
      if (unknown.nonEmpty)
        bad(s"data supplies column(s) ${unknown.mkString(", ")} not in " +
          s"the table schema (${fullSchema.fieldNames.mkString(", ")}) — " +
          "replaceWhere never evolves the schema; evolve via the write " +
          "API's mergeSchema=true or MERGE WITH SCHEMA EVOLUTION first, " +
          "or drop the column")
      val byName = named.map { case (n, c, dt) => n -> (c, dt) }.toMap
      val cols = fullSchema.fields.toSeq.map { f =>
        val raw: Column = byName.get(f.name) match {
          case Some((c, actual)) =>
            if (!(actual == f.dataType ||
                org.apache.spark.sql.catalyst.expressions.Cast
                  .canUpCast(actual, f.dataType)))
              bad(s"column '${f.name}' (${f.dataType.catalogString}) " +
                s"from a ${actual.catalogString} expression — only exact " +
                "types and lossless upcasts are applied; cast the data " +
                "column explicitly if the narrowing is intended")
            c.cast(f.dataType)
          case None =>
            if (partCols.contains(f.name))
              bad(s"data does not supply partition column '${f.name}' — " +
                "an unnamed partition value would route rows to the " +
                "null leaf")
            lit(null).cast(f.dataType)
        }
        FeatherMutations.nullableAsTable(raw, f.nullable).as(f.name)
      }
      d2.select(cols: _*)
    }
    val fire: Column = coalesce(cond0, lit(false))
    // one statement, one instant, even across the probe + routed writes
    val (ins, ownIns) = ConnectorFace.pinIfUncached(
      FeatherMutations.pinClockInPlan(spark, aligned0, nowInstant))
    try {
      // ---- the scope constraint (before any pruning or write) --------------
      val insEmpty = ins.limit(1).count() == 0
      if (!insEmpty && ins.where(!fire).limit(1).count() > 0)
        bad("the replacement data contains row(s) the predicate does " +
          "NOT select — every inserted row must satisfy the replaceWhere " +
          "predicate (otherwise the statement silently grows its own " +
          "scope); widen the predicate or filter the data")
      // ---- candidates (two-tier pruning) ------------------------------------
      val condFilters = translatedConjuncts(spark, fullSchema, cond0)
      val statsByFile
          : Map[String, Option[Seq[Map[String, FeatherStats.ColStat]]]] =
        if (condFilters.isEmpty) Map.empty
        else FeatherStats.loadForFiles(conf, absFiles)
      val candidateIdx = pruneCandidateIdx(absFiles, condFilters,
        leafByAbs, partSchema, statsByFile)
      val candidateAbs = candidateIdx.map(absFiles)
      val targetV = snap.version + 1
      val prefix = FeatherSnapshots.runPrefix(targetV, "rw-")
      def noOp = Result(snap.version, 0, snap.files.size, 0)
      val (cand, ownCand) =
        if (candidateAbs.isEmpty) (emptyFrame, false)
        else ConnectorFace.pinIfUncached(
          FeatherMutations.readWithPartValues(spark, face, candidateAbs,
            r.dvPathsAll, tableSchema, partSchema, r.valuesByAbs))
      try {
        // exact limit-1 probe: nothing to delete AND nothing to insert
        // publishes no version (replay-clean), even when stats could not
        // refute the match
        val anyMatch = candidateAbs.nonEmpty &&
          cand.where(fire).limit(1).count() > 0
        if (!anyMatch && insEmpty) return noOp
        // a PROVEN zero-match statement is semantically a pure insert:
        // keep every candidate file untouched and append only the data
        // (without this, an insert-only backfill under an UNTRANSLATABLE
        // predicate — every file a candidate — would rewrite the whole
        // table to delete nothing)
        val rewriting = anyMatch
        // survivors: candidate rows the predicate does NOT select (NULL
        // keeps, SQL semantics) — non-candidate files never rewrite
        val out = if (rewriting) cand.where(!fire).unionAll(ins) else ins
        val rewriteIdx = if (rewriting) candidateIdx else Seq.empty
        val written: Seq[(String, Long, String)] =
          if (r.partitioned)
            FeatherMutations.routePartitionedInserts(op, face, fs, root, out,
              partCols, tableSchema, prefix, "lz4",
              partsFor = rewriteIdx
                .map(i => FeatherMutations.relDirOf(snap.files(i)._1))
                .groupBy(identity).map { case (k, v) => k -> v.size })
          else face.writeParts(
            out.coalesce(math.max(1, rewriteIdx.size +
              (if (insEmpty) 0 else ConnectorFace.capWriteParts(ins)))),
            root.toString, prefix, "lz4")
        val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        added ++= written.map { case (rel, len, _) => (rel, len) }
        val removeRel: Set[String] =
          rewriteIdx.map(i => snap.files(i)._1).toSet
        if (added.isEmpty && snap.files.nonEmpty &&
            snap.files.forall { case (rel, _) => removeRel(rel) })
          added ++= FeatherMutations.stampLeaves(face, fs, root,
            snap.files.map(_._1), prefix, tableSchema)
        // commits as "overwrite": the snapshot stream's closed op set
        // treats it exactly like Delta does (new files are novel rows,
        // replaced rows are not retracted), and CDF is diff-based either
        // way. The proven-zero-match case removed nothing — it is a
        // blind APPEND and commits as one (streams keep flowing, and it
        // commutes with concurrent mutations under the conflict matrix)
        val committed =
          if (!rewriting)
            FeatherSnapshots.publishDataCommit(fs, root,
              truncate = false, Seq(face.suffix), added.toSeq,
              stampPart = () => face.stamp(fs, root, prefix, tableSchema))
              .version
          else FeatherSnapshots.commitMutation(fs, root,
            "overwrite", snap, removeRel, added.toSeq,
            // conflict scope = the rewritten candidates: a concurrent
            // mutation on non-candidate files commits beside this
            // backfill
            readRel = Some(removeRel))
        LeafWriter.foldStats(fs, root, written)
        Result(committed, rewriteIdx.size,
          snap.files.size - rewriteIdx.size, added.size)
      } finally {
        if (ownCand) cand.unpersist(blocking = false): Unit
      }
    } finally {
      if (ownIns) ins.unpersist(blocking = false): Unit
    }
  }
}
