package graft.extensions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{ResolvedIdentifier, ResolvedTable, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.GraftTable

/** The graft-table DDL that has NO DSv2 hook — everything else (reads,
  * INSERT, overwrites, DELETE / UPDATE / MERGE, CREATE / REPLACE / CTAS,
  * TRUNCATE, ADD COLUMNS, SHOW PARTITIONS, DROP) runs through
  * [[graft.catalog.GraftCatalog]] and its table handle, in every
  * session. This rule claims only:
  *
  * {{{
  *   MSCK REPAIR TABLE graft.`/dir`      -- adopt a plain directory
  *   SELECT * FROM graft.`/plain/dir`    -- refused: says how to adopt
  *                                        (or names the missing catalog conf)
  *   REPLACE TABLE graft.`/missing` ...  -- refused: names OR CREATE
  *   DESCRIBE [EXTENDED] graft.t         -- + Face / Data Files rows
  *   TRUNCATE TABLE graft.t PARTITION (...), ANALYZE TABLE graft.t,
  *   SHOW CREATE TABLE graft.t           -- loud refusals with guidance
  * }}}
  *
  * MSCK REPAIR names a directory that is not a table yet, so the
  * catalog cannot resolve it; the refusals would otherwise surface
  * Spark's generic "not supported" / "cannot be found" errors without
  * saying what does the job. No case here claims a read, a write, or a
  * row-level statement. */
private[extensions] class GraftDdlRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private val Faces = Set("graft", "graft_dv")

  /** `graft.`/path`` the catalog left unresolved (no manifest yet). */
  private def unresolvedPathOf(t: LogicalPlan): Option[String] = t match {
    case UnresolvedTable(parts, _, _)
        if parts.length == 2 && Faces(parts.head.toLowerCase) &&
          (parts(1).startsWith("/") || parts(1).contains("://")) =>
      Some(parts(1))
    case _ => None
  }

  /** A catalog-resolved graft table. */
  private def graftOf(t: LogicalPlan): Option[GraftTable] = t match {
    case r: ResolvedTable => r.table match {
      case g: GraftTable => Some(g)
      case _ => None
    }
    case _ => None
  }

  /** A `graft.`/path`` relation the catalog could not resolve, as
    * (catalog name, path). */
  private def unresolvedRelationPath(t: LogicalPlan)
      : Option[(String, String)] =
    t match {
      case UnresolvedRelation(parts, _, _)
          if parts.length == 2 && Faces(parts.head.toLowerCase) &&
            (parts(1).startsWith("/") || parts(1).contains("://")) =>
        Some((parts.head, parts(1)))
      case _ => None
    }

  /** A plain (not OR CREATE) REPLACE target the catalog holds no table
    * for. */
  private def missingReplaceTarget(name: LogicalPlan, orCreate: Boolean)
      : Option[String] = name match {
    case ResolvedIdentifier(c: graft.catalog.GraftCatalog, id)
        if !orCreate && !c.tableExists(id) =>
      Some(s"${c.name}.$id")
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case r: ReplaceTable
        if missingReplaceTarget(r.name, r.orCreate).isDefined =>
      refuseMissingReplace(missingReplaceTarget(r.name, r.orCreate).get)
    case r: ReplaceTableAsSelect
        if missingReplaceTarget(r.name, r.orCreate).isDefined =>
      refuseMissingReplace(missingReplaceTarget(r.name, r.orCreate).get)
    case r: RepairTable if unresolvedPathOf(r.child)
        .orElse(graftOf(r.child).map(_.path)).isDefined =>
      // MSCK REPAIR = ADOPT: build the v1 manifest from a plain
      // directory — the SQL spelling of the one-shot migration API (an
      // existing table refuses through adopt's own exactly-once check)
      val path =
        unresolvedPathOf(r.child).getOrElse(graftOf(r.child).get.path)
      GraftDdlCommand(s"repair_table($path)", () =>
        graft.io.TableDdl.repairTable(spark, path): Unit)
    case TruncatePartition(tbl, _) if graftOf(tbl).isDefined =>
      throw new IllegalArgumentException(
        s"TRUNCATE TABLE ${graftOf(tbl).get.name()} PARTITION (...): " +
          "partition-scoped truncate is not supported — use DELETE FROM " +
          "... WHERE on the partition column, or INSERT OVERWRITE ... " +
          "PARTITION (k=v) with an empty query")
    case a: AnalyzeTable if graftOf(a.child).isDefined =>
      throw new IllegalArgumentException(
        s"ANALYZE TABLE ${graftOf(a.child).get.name()}: statistics " +
          "live in per-file sidecars, not a catalog — they are written " +
          "at write time and backfilled with " +
          "graft.io.FeatherStats backfill (the io_stats_backfill path); " +
          "nothing here needs ANALYZE")
    case s: ShowCreateTable if graftOf(s.child).isDefined =>
      throw new IllegalArgumentException(
        s"SHOW CREATE TABLE ${graftOf(s.child).get.name()}: there is no " +
          "stored CREATE statement (a graft table is a path plus " +
          "manifests) — DESCRIBE TABLE EXTENDED prints the schema, " +
          "partitioning, and face")
    case d: DescribeRelation if graftOf(d.relation).isDefined =>
      describe(d, graftOf(d.relation).get)
    case other =>
      // a path spelling naming a plain directory: say what makes it a
      // table instead of Spark's generic "cannot be found" (only an
      // unresolved plan can hold one — resolved plans skip the walk)
      if (!other.resolved)
        other.foreachWithSubqueries(n =>
          unresolvedRelationPath(n).foreach((refusePlainDir _).tupled))
      other
  }

  private def refuseMissingReplace(name: String): Nothing =
    throw new IllegalArgumentException(
      s"REPLACE TABLE $name: no snapshot table at this path — REPLACE " +
        "TABLE requires one (CREATE OR REPLACE TABLE creates it)")

  private def refusePlainDir(catalog: String, path: String): Unit = {
    // every graft-table statement resolves through the catalog: a
    // session that loaded the extensions but registered no catalog
    // under this name can only fail later with "cannot be found"
    if (spark.conf.getOption(s"spark.sql.catalog.$catalog").isEmpty)
      throw new IllegalArgumentException(
        s"$catalog.`$path`: this session has no catalog named " +
          s"'$catalog' — graft-table SQL runs through the catalog; set " +
          s"spark.sql.catalog.$catalog=graft.catalog.GraftCatalog " +
          "(graft.GraftSession sets it)")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root) && !graft.sources.FeatherSnapshots.enabled(fs, root))
      throw new IllegalArgumentException(
        s"graft.`$path` names a snapshotted table, but the path has no " +
          s"${graft.sources.FeatherSnapshots.Dir} directory — write it " +
          "with option(\"snapshots\", \"true\") / ParquetTable.write, " +
          "or adopt it with MSCK REPAIR TABLE (plain directories read " +
          "with spark.read or SQL's own parquet.`path` spelling)")
  }

  /** DESCRIBE [EXTENDED] — a metadata-only read resolved at plan time
    * (one snapshot + schema resolution, Spark's own output shape:
    * col_name / data_type / comment rows, the hive-style partition
    * section, and the detail block under EXTENDED). */
  private def describe(d: DescribeRelation, g: GraftTable): LogicalPlan = {
    if (d.partitionSpec.nonEmpty)
      throw new IllegalArgumentException(
        s"DESCRIBE ${g.name()} PARTITION (...): per-partition describe " +
          "is not supported — partition values are ordinary columns " +
          "here; SELECT DISTINCT them")
    val info = graft.io.TableDdl.describeInfo(spark, g.path)
    def u(s: String) = if (s == null) null else UTF8String.fromString(s)
    def row(n: String, t: String, c: String) = InternalRow(u(n), u(t), u(c))
    def colRows(st: StructType) =
      st.fields.toSeq.map(f => row(f.name, f.dataType.simpleString,
        if (f.metadata.contains("comment"))
          f.metadata.getString("comment") else null))
    val partSection =
      if (info.partCols.isEmpty) Nil
      else row("# Partition Information", "", "") +:
        row("# col_name", "data_type", "comment") +:
        colRows(info.partSchema)
    val detail =
      if (!d.isExtended) Nil
      else Seq(row("", "", ""),
        row("# Detailed Table Information", "", ""),
        row("Location", g.path, null),
        row("Face", info.face, null),
        row("Version", info.version.toString, null),
        row("Data Files", info.files.toString, null),
        row("Deletion Vectors", info.dvs.toString, null))
    // Spark's own DESCRIBE shape: the MAIN section lists the FULL
    // schema (partition columns included), then the partition section
    // repeats them — consumers that parse rows up to the first '#'
    // marker must recover the whole schema
    LocalRelation(d.output,
      colRows(StructType(info.dataSchema.fields ++ info.partSchema.fields)) ++
        partSection ++ detail)
  }
}

/** A DDL statement with no result rows, run through Spark's own command
  * execution: eager, exactly once, at statement issue; `EXPLAIN` never
  * runs it. */
private[extensions] case class GraftDdlCommand(name: String,
                                               action: () => Unit)
    extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    action()
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDdlCommand $name"
}
