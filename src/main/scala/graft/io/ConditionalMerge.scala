package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction}
import org.apache.spark.sql.connector.catalog.TableCatalog
import org.apache.spark.sql.graft.Bridge

import graft.sources.{FeatherPartitions, FeatherSnapshots}

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
  *    changes nothing publishes no version; one wall-clock instant per
  *    statement.
  *
  * Up to [[ConditionalMerge.MaxPrunedKeys]] distinct source keys join the
  * ON condition as `target.key IN (…)`, which Spark pushes into the
  * target scan: its stats and Bloom sidecars drop the files no key can
  * be in, so both strategies plan — and a concurrent commit is checked
  * against — only those. The copy-on-write rewrite then keeps only the
  * files that hold a match (the runtime `_file` filter); a
  * `whenNotMatchedBySource` clause rewrites every file. Merge-on-read
  * masks the rows a clause changes or deletes
  * and lands the clause output as new parts; it refuses
  * `whenNotMatchedBySource`, a full-table clause. On a hive-partitioned
  * table the partition columns are ordinary columns of both sides: a SET
  * on one moves the row, and every written row lands in the leaf its
  * values name.
  *
  * The entry points check only what Spark's analysis leaves open: keys
  * (named, on both sides, never a partition column), a partitioned insert
  * naming every partition column, deterministic source, conditions and
  * SETs (the copy-on-write plan reads the source twice), and the
  * lossless-or-exact SET rule ([[PredicateMutations.requireSets]]),
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
  def execute(): FeatherMutations.Result = run("graft")

  /** Merge-on-read execution (DV masks + new parts). */
  def executeDV(): FeatherMutations.Result = run("graft_dv")

  private def run(catalog: String): FeatherMutations.Result = {
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "merge: no clauses — add whenMatched*/whenNotMatched* first")
    require(catalog == "graft" || bySource.isEmpty,
      "merge: whenNotMatchedBySource touches every table row — a " +
        "merge-on-read mask of the whole table buys nothing; use " +
        "execute() (copy-on-write) for this clause")
    require(keyCols.nonEmpty, "merge: keyCols must be non-empty")
    val rel = PredicateMutations.pathRelation(spark, path, catalog)
    val target = Bridge.ofRows(spark, rel)
    val table = target.schema
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def in(names: Iterable[String])(c: String): Boolean =
      names.exists(n => if (caseSensitive) n == c else n.equalsIgnoreCase(c))
    val partCols = rel.table.partitioning().toSeq
      .flatMap(_.references().map(_.fieldNames().head))
    // a nested NON-hive layout has no partition values to route rows by
    val root = new Path(rel.table.properties().get(TableCatalog.PROP_LOCATION))
    val chains = FeatherSnapshots.resolve(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, None)
      .toSeq.flatMap(_.files.map(f => FeatherMutations.relDirOf(f._1)))
      .distinct.filter(_.nonEmpty)
    require(chains.isEmpty || FeatherPartitions.hiveLayout(chains)._1,
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
    (matched ++ bySource).foreach {
      case (_, Update(set)) =>
        PredicateMutations.requireSets("merge", table, shape, set.toSeq)
      case _ => ()
    }
    notMatched.foreach { case (_, values) =>
      PredicateMutations.requireSets("merge (insert VALUES)", table, shape,
        values.toSeq)
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

    def expr(c: Column) = Bridge.convertedExpression(spark, c)
    // the source's keys as one more ON conjunct on the target: exact (a
    // target row outside them matches no source row either way), and
    // Spark pushes it into the target scan, whose stats and Bloom sidecars
    // prune the files no key can be in — the planned files, which are
    // also the read set a concurrent commit is checked against. Batches
    // past MaxPrunedKeys distinct keys read every planned file; so does a
    // bySource clause, which reads every row anyway.
    val keyPrune: Option[Expression] =
      if (bySource.nonEmpty) None
      else {
        val keys = source.select(keyCols.map(source(_)): _*).na.drop()
          .distinct().limit(MaxPrunedKeys + 1).collect()
        if (keys.isEmpty || keys.length > MaxPrunedKeys) None
        else Some(keyCols.indices.map(i => expr(Bridge.column(
          UnresolvedAttribute(Seq("target", keyCols(i))))
          .isin(keys.map(_.get(i)).distinct.toSeq: _*))).reduce(And(_, _)))
      }
    def assign(set: Map[String, Column]) = set.toSeq.map { case (c, e) =>
      Assignment(UnresolvedAttribute.quoted(c), expr(e)) }
    def action(cond: Option[Column], a: MatchedAction): MergeAction = a match {
      case Update(set) => UpdateAction(cond.map(expr), assign(set), false)
      case UpdateAll => UpdateStarAction(cond.map(expr))
      case Delete => DeleteAction(cond.map(expr))
    }
    val plan = MergeIntoTable(SubqueryAlias("target", rel),
      SubqueryAlias("source", source.queryExecution.analyzed),
      keyPrune.fold(on)(And(on, _)),
      matched.map { case (c, a) => action(c, a) },
      notMatched.map {
        case (c, values) if values.isEmpty => InsertStarAction(c.map(expr))
        case (c, values) => InsertAction(c.map(expr), assign(values))
      },
      bySource.map { case (c, a) => action(c, a) },
      evolveSchema)
    val r = PredicateMutations.commitReport(spark, plan, s"merge on $path")
    FeatherMutations.Result(r.version, r.filesRemoved + r.dvsBound,
      r.filesKept, r.partsAdded)
  }
}

object ConditionalMerge {
  /** Distinct source keys the merge collects to prune target files. */
  val MaxPrunedKeys = 10000

  sealed trait MatchedAction extends Serializable
  final case class Update(set: Map[String, Column]) extends MatchedAction
  case object UpdateAll extends MatchedAction
  case object Delete extends MatchedAction
}
