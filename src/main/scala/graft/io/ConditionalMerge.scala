package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction}
import org.apache.spark.sql.connector.catalog.TableCatalog
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

import graft.catalog.GraftTable
import graft.sources.{FeatherPartitions, FeatherSnapshots, KeyedMerge, RowLevelCommitMetrics}

/** Conditional MERGE — the Delta/industry MERGE surface CDC consumers
  * actually write (reference analog: the reference's in-memory upsert is
  * an unconditional boolean-mask scatter, cpp/include/cudf/copying.hpp
  * boolean_mask_scatter; a table needs the clause algebra):
  *
  * {{{
  * ConditionalMerge(spark, path, source, keyCols = Seq("id"))
  *   .whenMatchedUpdate(cond = Some(col("source.ts") > col("target.ts")),
  *     set = Map("pay" -> col("source.pay")))
  *   .whenMatchedDelete(Some(col("source.tombstone")))
  *   .whenNotMatchedInsertAll()
  *   .whenNotMatchedBySourceDelete(Some(col("target.expired")))
  *   .execute()          // copy-on-write
  *   // .executeDV()     // merge-on-read: masks + new parts
  * }}}
  *
  * Both entry points build Spark's MergeIntoTable over ``graft.`<path>` ``
  * (copy-on-write) or ``graft_dv.`<path>` `` (merge-on-read) — the SQL
  * MERGE statement, run through Spark's row-level rewrite onto
  * [[graft.sources.FaceRowLevel]] (an insert-only merge becomes Spark's
  * append). The semantics are Spark's (the Delta contract):
  *  - rows pair by `keyCols` equality (null keys never match); the sides
  *    are aliased `target` and `source`;
  *  - clauses of each family evaluate IN ORDER, the first whose condition
  *    holds wins; a row matching no clause of its family is left as it is
  *    (matched / not-matched-by-source) or ignored (not-matched source);
  *  - an update leaves unlisted columns at their target values, an insert
  *    fills them with NULL;
  *  - two source rows matching one target row fail the statement
  *    (MERGE_CARDINALITY_VIOLATION);
  *  - one atomic manifest commit under the conflict matrix; a merge that
  *    changes nothing publishes no version, and one whose clauses all
  *    delete commits as a delete (`rowlevel_delete`); one wall-clock
  *    instant per statement.
  *
  * The engine's key probe ([[FeatherMutations.probeTouched]]: stats
  * ranges and Bloom sidecars in one distributed pass, the keys never on
  * the driver) names the files of the head snapshot that hold no source
  * key; they ride the statement's table handle
  * ([[graft.catalog.GraftTable.withKeyedMerge]]) and its scans drop
  * them, so both strategies plan — and a concurrent commit is checked
  * against — only the candidates, at any key count. A file committed
  * after the probe is planned. The source is persisted for the
  * statement (unless the caller already did), so the probe and the
  * statement's reads evaluate it once. The copy-on-write rewrite then
  * keeps only the files that hold a match (the runtime `_file` filter); a
  * `whenNotMatchedBySource` clause rewrites every file, and a merge that
  * evolves the schema plans every file (Spark reloads the table after
  * its ADD COLUMNS, a handle without the verdict). Merge-on-read masks
  * the rows a clause changes or deletes and lands the clause output as
  * new parts; it refuses `whenNotMatchedBySource`, a full-table clause.
  * On a hive-partitioned table the partition columns are ordinary
  * columns of both sides: a SET on one moves the row, and every written
  * row lands in the leaf its values name.
  *
  * The entry points check only what Spark's analysis leaves open: keys
  * (named, on both sides, never a partition column), a partitioned insert
  * naming every partition column, a hive layout for a merge that writes
  * rows (a delete-only merge reads any layout), deterministic source,
  * conditions and SETs (the copy-on-write plan reads the source twice),
  * and the lossless-or-exact SET rule ([[PredicateMutations.requireSets]]),
  * applied to the implicit SETs of updateAll/insertAll too. */
final case class ConditionalMerge(
    spark: SparkSession, path: String, source: DataFrame,
    keyCols: Seq[String],
    matched: Seq[(Option[Column], ConditionalMerge.MatchedAction)] = Nil,
    notMatched: Seq[(Option[Column], Map[String, Column])] = Nil,
    bySource: Seq[(Option[Column], ConditionalMerge.MatchedAction)] = Nil,
    evolveSchema: Boolean = false) {
  import ConditionalMerge._

  /** Schema evolution opt-in (`MERGE WITH SCHEMA EVOLUTION`): the
    * source's NEW columns that a clause writes join the table schema as
    * nullable, through the catalog's ADD COLUMNS before the merge plans —
    * its own commit, kept even when the merge then fails or changes
    * nothing. Without the opt-in an extra source column is ignored
    * (Delta's default) unless a clause references it as a table column,
    * which stays loud. */
  def withSchemaEvolution(): ConditionalMerge = copy(evolveSchema = true)

  def whenMatchedUpdate(cond: Option[Column] = None,
                        set: Map[String, Column]): ConditionalMerge =
    copy(matched = matched :+ (cond -> Update(set)))
  /** SET every table column to the source's value. */
  def whenMatchedUpdateAll(cond: Option[Column] = None): ConditionalMerge =
    copy(matched = matched :+ (cond -> UpdateAll))
  def whenMatchedDelete(cond: Option[Column] = None): ConditionalMerge =
    copy(matched = matched :+ (cond -> Delete))
  /** Insert with explicit values; unlisted columns become NULL. */
  def whenNotMatchedInsert(cond: Option[Column] = None,
                           values: Map[String, Column]): ConditionalMerge = {
    require(values.nonEmpty,
      "whenNotMatchedInsert: empty values — use whenNotMatchedInsertAll()")
    copy(notMatched = notMatched :+ (cond -> values))
  }
  def whenNotMatchedInsertAll(cond: Option[Column] = None): ConditionalMerge =
    copy(notMatched = notMatched :+ (cond -> Map.empty[String, Column]))
  def whenNotMatchedBySourceDelete(cond: Option[Column] = None)
      : ConditionalMerge =
    copy(bySource = bySource :+ (cond -> Delete))
  def whenNotMatchedBySourceUpdate(cond: Option[Column] = None,
                                   set: Map[String, Column])
      : ConditionalMerge =
    copy(bySource = bySource :+ (cond -> Update(set)))

  /** Copy-on-write execution. */
  def execute(): FeatherMutations.Result =
    FeatherMutations.Result.of(report("graft"))

  /** Merge-on-read execution (DV masks + new parts). */
  def executeDV(): FeatherMutations.Result =
    FeatherMutations.Result.of(report("graft_dv"))

  /** Runs the merge on `catalog` (`graft` or `graft_dv`) and returns what
    * its commit published. `check` sees the table's schema and partition
    * columns before anything runs — the keyed entry points' own source
    * contract ([[FeatherMutations]]). */
  private[io] def report(catalog: String,
                         check: (StructType, Seq[String]) => Unit =
                           (_, _) => ()): RowLevelCommitMetrics.Report = {
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "merge: no clauses — add whenMatched*/whenNotMatched* first")
    require(catalog == "graft" || bySource.isEmpty,
      "merge: whenNotMatchedBySource touches every table row — a " +
        "merge-on-read mask of the whole table buys nothing; use " +
        "execute() (copy-on-write) for this clause")
    require(keyCols.nonEmpty, "merge: keyCols must be non-empty")
    val rel0 = PredicateMutations.pathRelation(spark, path, catalog)
    val target = Bridge.ofRows(spark, rel0)
    val table = target.schema
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def in(names: Iterable[String])(c: String): Boolean =
      names.exists(n => if (caseSensitive) n == c else n.equalsIgnoreCase(c))
    val partCols = rel0.table.partitioning().toSeq
      .flatMap(_.references().map(_.fieldNames().head))
    check(table, partCols)
    // a nested NON-hive layout has no partition values to route rows by;
    // a delete-only merge writes no row and reads any layout
    val root = new Path(rel0.table.properties().get(TableCatalog.PROP_LOCATION))
    val snap = FeatherSnapshots.resolve(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, None)
    val chains = snap.toSeq.flatMap(_.files.map(f =>
      FeatherMutations.relDirOf(f._1))).distinct.filter(_.nonEmpty)
    val writesRows = notMatched.nonEmpty ||
      (matched ++ bySource).exists(_._2 != Delete)
    require(!writesRows || chains.isEmpty ||
        FeatherPartitions.hiveLayout(chains)._1,
      s"merge on $path: table has non-hive subdirectories " +
        s"(${chains.mkString(", ")}) — clause output routes rows by " +
        "partition values and needs a hive key=value layout")
    keyCols.foreach { k =>
      require(in(source.columns)(k),
        s"merge: key column '$k' not in source (${source.columns.mkString(", ")})")
      require(!in(partCols)(k),
        s"merge: key column '$k' is a partition column — partition " +
          "values live in the directory chain, not the data files; key " +
          "on data columns (clause output routes by partition values)")
      require(in(table.fieldNames)(k), s"merge: key column '$k' not in " +
        s"table schema (${table.fieldNames.mkString(", ")})")
    }
    // an unnamed partition value would route the row to the null leaf
    if (partCols.nonEmpty)
      notMatched.zipWithIndex.foreach { case ((_, values), i) =>
        val missing = partCols.filterNot(in(values.keys))
        require(values.isEmpty || missing.isEmpty,
          s"merge: whenNotMatched clause ${i + 1}'s VALUES omits " +
            s"partition column(s) ${missing.mkString(", ")} — an " +
            "unnamed partition value would silently route the row to " +
            "the null partition; name every partition column")
      }
    // the copy-on-write plan evaluates the source, conditions and SETs
    // twice (the runtime filter's matching-rows query, then the rewrite):
    // a nondeterministic one could match one row set and write another
    def nondeterministic(what: String) = new IllegalArgumentException(
      s"merge: $what is nondeterministic — the statement evaluates it " +
        "more than once, so it could match, duplicate or lose different " +
        "rows each time; make it deterministic (materialize a source " +
        "first: write it to a staging path and read it back)")
    if (source.queryExecution.analyzed.find(p =>
        !p.expressions.forall(_.deterministic)).isDefined)
      throw nondeterministic("the source plan")
    val on = keyCols.map(k => EqualTo(UnresolvedAttribute(Seq("target", k)),
      UnresolvedAttribute(Seq("source", k)))).reduce[Expression](And(_, _))
    val shape = target.alias("target")
      .join(source.alias("source"), Bridge.column(on), "left_outer")
    val conds = (matched ++ bySource).flatMap(_._1) ++ notMatched.flatMap(_._1)
    if (conds.nonEmpty && !shape.select(conds: _*).queryExecution.analyzed
        .expressions.forall(_.deterministic))
      throw nondeterministic("a clause condition")
    // a row not matched by the source has no source side: Spark refuses
    // a `source.x` name there, but a column taken off the source frame
    // (`sourceDf("x")`) would read NULL on every row it applies to
    val bySourceExprs = bySource.flatMap { case (c, a) =>
      c.toSeq ++ (a match { case Update(set) => set.values; case _ => Nil }) }
    if (bySourceExprs.nonEmpty) {
      val srcOut = source.queryExecution.analyzed.outputSet
      val refs = shape.select(bySourceExprs: _*).queryExecution.analyzed
        .expressions.flatMap(_.references).filter(srcOut.contains)
      require(refs.isEmpty,
        s"merge: whenNotMatchedBySource references source column(s) " +
          s"${refs.map(_.name).distinct.mkString(", ")} — a row not " +
          "matched by the source has no source side (the reference would " +
          "read NULL on every row); use target columns only")
    }
    // under schema evolution a SET may name a source column the table
    // lacks: Spark adds the column the clause writes
    def fresh(c: String) = evolveSchema && !in(table.fieldNames)(c) &&
      in(source.columns)(c)
    (matched ++ bySource).foreach {
      case (_, Update(set)) =>
        PredicateMutations.requireSets("merge", table, shape,
          set.toSeq.filterNot(e => fresh(e._1)))
      case _ => ()
    }
    notMatched.foreach { case (_, values) =>
      PredicateMutations.requireSets("merge (insert VALUES)", table, shape,
        values.toSeq.filterNot(e => fresh(e._1)))
    }
    // updateAll / insertAll SET every table column from the source's
    if (matched.exists(_._2 == UpdateAll) || notMatched.exists(_._2.isEmpty)) {
      table.fieldNames.foreach(c => require(in(source.columns)(c),
        s"merge: updateAll/insertAll needs source column '$c' " +
          s"(source has: ${source.columns.mkString(", ")})"))
      PredicateMutations.requireSets("merge: updateAll/insertAll", table,
        shape, table.fieldNames.toSeq.map(c =>
          c -> Bridge.column(UnresolvedAttribute(Seq("source", c)))))
    }

    // the engine's key probe over the head snapshot: the files whose
    // stats ranges and Bloom sidecars prove they hold no source key ride
    // the statement's table handle, and its scans drop them — so the
    // planned files, which are also the read set a concurrent commit is
    // checked against, are the candidates at any key count. The keys
    // never reach the driver. Skipped for a bySource clause (it reads
    // every row) and for a merge that evolves the schema (Spark reloads
    // the table after its ADD COLUMNS, a fresh handle without the
    // verdict). A merge that only deletes commits as a delete.
    val evolving = evolveSchema && (
      (matched.exists(_._2 == UpdateAll) || notMatched.exists(_._2.isEmpty)) &&
        source.columns.exists(c => !in(table.fieldNames)(c)) ||
      (matched.collect { case (_, Update(set)) => set.keys }.flatten ++
        notMatched.flatMap(_._2.keys)).exists(fresh))
    // the source is evaluated once: the probe reads it, and so does the
    // statement — twice on copy-on-write (the runtime filter's
    // matching-rows query, then the rewrite). A foreachBatch source
    // built from an expensive plan must not re-execute per pass.
    val (src, ownSrc) = ConnectorFace.pinIfUncached(source)
    try {
      val cleared: Set[String] = snap match {
        case Some(s) if bySource.isEmpty && !evolving =>
          val tableKeys =
            keyCols.map(FeatherMutations.canonicalName(table, caseSensitive))
          val keys = src.select(keyCols.zip(tableKeys).map { case (k, t) =>
            src(k).as(t) }: _*)
          val absFiles = s.files.map { case (r, len) =>
            (new Path(root, r).toString, len) }
          val touched = FeatherMutations.probeTouched(spark, absFiles, table,
            keys, tableKeys)
          s.files.indices.filterNot(touched).map(s.files(_)._1).toSet
        case _ => Set.empty
      }
      val rel =
        if (cleared.isEmpty && writesRows) rel0
        else rel0.copy(table = rel0.table.asInstanceOf[GraftTable]
          .withKeyedMerge(KeyedMerge(cleared, deleteOnly = !writesRows)))
      def expr(c: Column) = Bridge.convertedExpression(spark, c)
      def assign(set: Map[String, Column]) = set.toSeq.map { case (c, e) =>
        Assignment(UnresolvedAttribute.quoted(c), expr(e)) }
      def action(cond: Option[Column], a: MatchedAction): MergeAction =
        a match {
          case Update(set) => UpdateAction(cond.map(expr), assign(set), false)
          case UpdateAll => UpdateStarAction(cond.map(expr))
          case Delete => DeleteAction(cond.map(expr))
        }
      val plan = MergeIntoTable(SubqueryAlias("target", rel),
        SubqueryAlias("source", src.queryExecution.analyzed), on,
        matched.map { case (c, a) => action(c, a) },
        notMatched.map {
          case (c, values) if values.isEmpty => InsertStarAction(c.map(expr))
          case (c, values) => InsertAction(c.map(expr), assign(values))
        },
        bySource.map { case (c, a) => action(c, a) },
        evolveSchema)
      PredicateMutations.commitReport(spark, plan, s"merge on $path")
    } finally if (ownSrc) src.unpersist()
  }
}

object ConditionalMerge {
  sealed trait MatchedAction extends Serializable
  final case class Update(set: Map[String, Column]) extends MatchedAction
  case object UpdateAll extends MatchedAction
  case object Delete extends MatchedAction
}
