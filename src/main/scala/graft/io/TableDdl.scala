package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StructField, StructType}

import graft.sources.{FaceConvert, FeatherSnapshots}

/** The DDL statements a snapshot table takes — reached from SQL through
  * [[graft.catalog.GraftCatalog]] (CREATE / CTAS / REPLACE / TRUNCATE /
  * ADD COLUMNS) and [[graft.extensions.GraftDdlRule]] (MSCK REPAIR,
  * DESCRIBE):
  *
  * {{{
  *   CREATE TABLE graft.`/t` (id BIGINT) [USING face]
  *   CREATE TABLE graft.`/t` [PARTITIONED BY (day)] AS SELECT ...
  *   TRUNCATE TABLE graft.`/t`
  *   ALTER TABLE graft.`/t` ADD COLUMNS (score DOUBLE, tags ARRAY<STRING>)
  *   DESCRIBE TABLE [EXTENDED] graft.`/t`
  * }}}
  *
  * Neither statement reads or rewrites DATA — the writes are the
  * per-leaf zero-row schema stamps plus one manifest. The statements'
  * cost is the shared table resolution (a snapshot read plus the
  * merged-schema footer resolution, served by the head-schema cache on
  * warm tables but O(files) footer opens cold) and O(leaves) stamp
  * writes. (Reference anchor: the reference drops all rows with a
  * boolean mask and adds columns by assignment over an in-memory
  * frame — python/cudf/cudf/core/dataframe.py `drop`, `__setitem__`;
  * a distributed table needs the committed-metadata equivalents.) */
object TableDdl {
  import FeatherMutations.Result

  /** The USING clause names the FACE. The SQL path always arrives with
    * a provider (Spark fills an omitted USING with its own
    * spark.sql.sources.default — parquet unless reconfigured); the
    * direct API defaults to feather, the engine's native format. */
  private[graft] def faceOf(provider: Option[String],
                            bad: String => Nothing): ConnectorFace =
    provider.map(_.toLowerCase(java.util.Locale.ROOT))
      .getOrElse("feather") match {
      case "feather" => ConnectorFace.FeatherFace
      case "parquet" => ConnectorFace.ParquetFace
      case "avro" | "graft-avro" => ConnectorFace.AvroFace
      case other => bad(s"USING $other — a graft table's face is one " +
        "of feather (default), parquet, avro (spelled `graft-avro` in " +
        "SQL: Spark's own provider lookup runs first)")
    }

  /** What a staged `... AS SELECT` wrote: the query's `schema`, and the
    * parts its write tasks left in `staging` (routed by leaf on a
    * partitioned table) — none when the query produced no rows. */
  private[graft] final case class StagedRows(schema: StructType,
                                             staging: Path,
                                             parts: Seq[LeafPart])

  /** The data schema of an `AS SELECT` routed by `partitionCols`: every
    * partition column must be the query's, and a data column must be
    * left beside them. */
  private def routedDataSchema(schema: StructType, partitionCols: Seq[String],
                               bad: String => Nothing): StructType = {
    partitionCols.filterNot(schema.fieldNames.contains).headOption.foreach(
      c => bad(s"PARTITIONED BY names '$c', which the query does not " +
        s"produce (${schema.fieldNames.mkString(", ")})"))
    val dataSchema = StructType(schema.fields.filterNot(f =>
      partitionCols.contains(f.name)))
    if (partitionCols.nonEmpty && dataSchema.isEmpty)
      bad("the query produces only the partition columns — a hive " +
        "leaf's files hold the DATA columns (values live in the " +
        "directory chain)")
    dataSchema
  }

  /** `CREATE TABLE graft.`/t` (cols) [USING face]` — an EMPTY snapshot
    * table: v1 is the schema stamp, so the table reads (zero rows,
    * full schema) and every statement (INSERT/MERGE/COPY INTO/ALTER)
    * targets it from birth. PARTITIONED BY refuses: partitioning
    * derives from the hive key=value layout, which an empty table
    * cannot record — create partitioned tables with rows (CTAS or the
    * writer API's partitionBy). IF NOT EXISTS no-ops on an existing
    * table (Spark semantics). */
  def createTable(spark: SparkSession, path: String, schema: StructType,
                  provider: Option[String], partitionCols: Seq[String],
                  ifNotExists: Boolean): Result = {
    val op = "CREATE TABLE"
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op graft.`$path`: $msg")
    val connFace = faceOf(provider, bad)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (FeatherSnapshots.enabled(fs, root)) {
      if (!ifNotExists)
        bad("the table already exists — TRUNCATE or INSERT OVERWRITE " +
          "to replace its content, or CREATE TABLE IF NOT EXISTS to " +
          "no-op; recreating with a different schema means deleting " +
          "the directory first (its versions are history)")
      val snap = FeatherSnapshots.resolve(fs, root, None).get
      return Result(snap.version, 0, snap.files.size, 0)
    }
    if (partitionCols.nonEmpty)
      bad(s"PARTITIONED BY (${partitionCols.mkString(", ")}) on an " +
        "empty table — partitioning derives from the hive key=value " +
        "layout, which exists only once rows land; use CREATE TABLE " +
        "... AS SELECT (rows route to their leaves) or the writer " +
        "API's partitionBy")
    if (schema.isEmpty) bad("no columns")
    requireFreshDir(fs, root, bad)
    // v1 is ONE schema stamp — never a zero-row data part: DESCRIBE
    // counts data files by the `<prefix>-empty.<ext>` stamp naming, and
    // an empty CREATE routed through a face's ordinary writer would
    // land a part-…​ file that miscounts as data
    fs.mkdirs(root)
    val prefix = FeatherSnapshots.runPrefix(1L, "create-")
    val stamp = connFace.stamp(fs, root, prefix, schema)
    val v = FeatherSnapshots.publishDataCommit(fs, root,
      truncate = false, Seq(connFace.suffix), Seq(stamp),
      stampPart = () => stamp).version
    Result(v, 0, 0, 1)
  }

  /** A CREATE must never destroy what it did not make: the path may be
    * missing or an empty directory, but a NON-EMPTY non-snapshot
    * directory (a plain parquet/csv dir) refuses — the overwrite write
    * below would silently delete its files. And NO ancestor may be a
    * snapshot table: the outer table's maintenance walks every
    * non-hidden subdirectory (hive leaves), so its vacuum would reclaim
    * a nested table's parts as orphans — silent data loss. The walk is
    * O(path depth) exists() probes, paid once per CREATE. */
  private def requireFreshDir(fs: org.apache.hadoop.fs.FileSystem,
                              root: Path, bad: String => Nothing): Unit = {
    if (fs.exists(root) && fs.listStatus(root).nonEmpty)
      bad("the path exists and is not empty (and carries no " +
        s"${FeatherSnapshots.Dir} directory) — CREATE would overwrite " +
        "files it did not make; adopt() the directory into a snapshot " +
        "table, or point CREATE at an empty path")
    var p = root.getParent
    while (p != null && !p.isRoot) {
      if (fs.exists(p) && FeatherSnapshots.enabled(fs, p))
        bad(s"'$p' is a snapshot TABLE — a table cannot nest inside " +
          "another table's directory (the outer table's vacuum would " +
          "reclaim the nested data as orphans)")
      p = p.getParent
    }
  }

  /** `CREATE TABLE graft.`/t` [USING face] [PARTITIONED BY (cols)]
    * AS SELECT ...` — create-and-fill in one statement; the schema
    * comes from the query. The staged write's tasks already wrote the
    * rows in the face's parts (or, flat and not feather, tmp feather
    * parts converted here in one pass, as an INSERT's are), routed to
    * their key=value leaves on a partitioned table: this renames them
    * into the fresh table and publishes ONE v1 commit. */
  private[graft] def createTableAs(spark: SparkSession, path: String,
                                   rows: StagedRows,
                                   provider: Option[String],
                                   partitionCols: Seq[String]): Result = {
    val op = "CREATE TABLE AS SELECT"
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op graft.`$path`: $msg")
    val connFace = faceOf(provider, bad)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (FeatherSnapshots.enabled(fs, root))
      bad("the table already exists — INSERT INTO/OVERWRITE to add " +
        "or replace content, or CREATE TABLE IF NOT EXISTS to no-op")
    val dataSchema = routedDataSchema(rows.schema, partitionCols, bad)
    if (partitionCols.nonEmpty && rows.parts.isEmpty)
      bad("the query produced no rows — an empty frame cannot define " +
        "a partitioned table (no partition values to route)")
    requireFreshDir(fs, root, bad)
    fs.mkdirs(root)
    val prefix = FeatherSnapshots.runPrefix(1L, "ctas-")
    val parts = FaceConvert.toFaceParts(connFace, fs, rows.staging, root,
      rows.parts, dataSchema, partitionCols, prefix)
    val report =
      try FeatherSnapshots.publishDataCommit(fs, root, truncate = false,
        Seq(connFace.suffix), parts.map { case (rel, len, _) => (rel, len) },
        stampPart = () => connFace.stamp(fs, root, prefix, dataSchema))
      catch { case e: Throwable =>
        // a lost exactly-once v1 never published the parts
        FeatherMutations.deletePartsAndSidecars(fs, root, parts.map(_._1))
        throw e
      }
    LeafWriter.foldStats(fs, root, parts)
    Result(report.version, 0, 0, report.partsAdded)
  }

  /** `[CREATE OR] REPLACE TABLE graft.`/t` [USING face] [AS SELECT ...]`
    * — ONE manifest commit swaps the whole table: files, schema, even
    * the face. Prior versions keep reading their own files, so time
    * travel and RESTORE undo a replace until expire (the concern the
    * old refusal named — "old versions stop describing the data" — does
    * not apply to a versioned manifest: each version describes itself).
    *
    * Concurrency: the STRICTEST contract in the mutation tier. A
    * replace's output does not depend on the old content, but any
    * concurrent commit must abort — a blind append would otherwise
    * carry its file into the replaced table (appends commute with
    * ordinary mutations, NOT with a whole-table swap), so the commit
    * runs with the full read set AND requireNoNewFiles.
    *
    * `orCreate=false` (REPLACE TABLE) requires the table to exist.
    *
    * PARTITIONED BY replaces the table WITH a hive layout (any face):
    * the staged write's tasks routed the rows to their key=value leaves
    * ([[StagedRows]]), and the one commit swaps every old file for
    * the new leaves — the layout itself may change (flat→partitioned,
    * different keys, different face). A partitioned replace needs ROWS:
    * schema-only / zero-row shapes refuse (no partition values to
    * route; TRUNCATE keeps the existing layout and removes the rows). */
  private[graft] def replaceTable(spark: SparkSession, path: String,
                                  schemaOrRows: Either[StructType, StagedRows],
                                  provider: Option[String],
                                  partitionCols: Seq[String],
                                  orCreate: Boolean): Result = {
    val op = if (orCreate) "CREATE OR REPLACE TABLE" else "REPLACE TABLE"
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op graft.`$path`: $msg")
    val connFace = faceOf(provider, bad)
    if (partitionCols.nonEmpty && schemaOrRows.isLeft)
      bad(s"PARTITIONED BY (${partitionCols.mkString(", ")}) without " +
        "AS SELECT — a hive layout derives from rows; REPLACE ... AS " +
        "SELECT routes them (TRUNCATE TABLE keeps the existing layout)")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!FeatherSnapshots.enabled(fs, root)) {
      if (!orCreate)
        bad("no snapshot table at this path — REPLACE TABLE requires " +
          "one (CREATE OR REPLACE TABLE creates it)")
      return schemaOrRows match {
        case Right(rows) =>
          createTableAs(spark, path, rows, provider, partitionCols)
        case Left(schema) =>
          createTable(spark, path, schema, provider, Nil,
            ifNotExists = false)
      }
    }
    val snap = FeatherSnapshots.resolve(fs, root, None).get
    val targetV = snap.version + 1
    val prefix = FeatherSnapshots.runPrefix(targetV, "rep-")
    val schema = schemaOrRows.fold(identity, _.schema)
    if (schema.isEmpty) bad("no columns")
    val dataSchema = routedDataSchema(schema, partitionCols, bad)
    val rows = schemaOrRows.toOption
    if (partitionCols.nonEmpty && rows.exists(_.parts.isEmpty))
      bad("the query produced no rows — an empty result cannot " +
        "define a partitioned layout (TRUNCATE TABLE keeps the " +
        "existing layout and removes the rows)")
    val written = rows.toSeq.flatMap(r => FaceConvert.toFaceParts(connFace,
      fs, r.staging, root, r.parts, dataSchema, partitionCols, prefix))
    // empty FLAT replace (schema-only, or a zero-row query): v+1 is one
    // schema stamp, the shared all-rows-gone shape
    val added: Seq[(String, Long)] =
      if (written.nonEmpty) written.map { case (rel, len, _) => (rel, len) }
      else Seq(connFace.stamp(fs, root, prefix, schema))
    val committed =
      try FeatherSnapshots.commitMutation(fs, root, "replace", snap,
        removeRel = snap.files.map(_._1).toSet, add = added,
        readRel = Some(snap.files.map(_._1).toSet),
        requireNoNewFiles = true)
      catch { case e: Throwable =>
        // a lost conflict check never published the new parts: delete
        // them (the merged stats fold runs only after a won commit)
        FeatherMutations.deletePartsAndSidecars(fs, root, added.map(_._1))
        throw e
      }
    LeafWriter.foldStats(fs, root, written)
    Result(committed, snap.files.size, 0, added.size)
  }

  /** Everything `DESCRIBE TABLE graft.`/t`` prints: the merged schema
    * split into data and partition columns, plus the head's face /
    * version / file count / DV count for the EXTENDED form. One
    * snapshot resolution, no data read. */
  final case class DescribeInfo(dataSchema: StructType,
                                partCols: Seq[String],
                                partSchema: StructType,
                                face: String, version: Long,
                                files: Int, dvs: Int)
  def describeInfo(spark: SparkSession, path: String): DescribeInfo = {
    val r = FeatherMutations.resolveTable(spark, path, "DESCRIBE TABLE",
      requireHive = false,
      snapshotsHint = "DESCRIBE targets a snapshot table; a plain " +
        "directory describes via spark.read(...).printSchema",
      checkEmbedded = false) // a metadata read, not a routing write
    // schema STAMPS (zero-row parts, always named `<prefix>-empty.<ext>`
    // by ConnectorFace.stamp) are bookkeeping, not data — a freshly-
    // created or truncated table must report 0. Match the engine's
    // exact stamp naming (suffix-anchored on the table's own face), not
    // a bare substring: an ADOPTED external file whose name merely
    // contains '-empty.' is data and must count
    val dataFiles = r.snap.files.count(f =>
      !f._1.endsWith("-empty" + r.face.suffix))
    DescribeInfo(r.tableSchema, r.partCols, r.partSchema,
      r.face.suffix.stripPrefix("."), r.snap.version,
      dataFiles, r.snap.dvs.size)
  }

  /** `MSCK REPAIR TABLE graft.`/t`` — ADOPT: build the v1 manifest
    * from an existing plain directory (flat or hive key=value), the
    * face detected from the files' own extension. The SQL spelling of
    * the adopt() API a migration runs once per legacy directory; an
    * already-snapshotted table refuses through adopt's own exactly-once
    * contract. */
  def repairTable(spark: SparkSession, path: String): Result = {
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"MSCK REPAIR TABLE graft.`$path`: $msg")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) bad("the path does not exist")
    // adopt is a table-minting door like CREATE: repairing a hive LEAF
    // of an existing table would nest a manifest inside it, and the
    // outer table's vacuum would reclaim the nested parts as orphans
    locally {
      var p = root.getParent
      while (p != null && !p.isRoot) {
        if (fs.exists(p) && FeatherSnapshots.enabled(fs, p))
          bad(s"'$p' is a snapshot TABLE — repairing a subdirectory " +
            "of an existing table would nest a manifest inside it " +
            "(the outer table's vacuum would reclaim the nested data); " +
            "repair the table root, or move the directory out first")
        p = p.getParent
      }
    }
    val known = Seq(".parquet", ".feather", ".avro")
    val seen = scala.collection.mutable.Set.empty[String]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { e =>
      val n = e.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) ()
      else if (e.isDirectory) walk(e.getPath)
      else known.find(n.endsWith).foreach(seen += _)
    }
    walk(root)
    if (seen.isEmpty)
      bad(s"no ${known.mkString("/")} data files under the path")
    if (seen.size > 1)
      bad(s"mixed data formats (${seen.toSeq.sorted.mkString(", ")}) — " +
        "a table has ONE face; split the directory first")
    val v = FeatherSnapshots.adopt(fs, root, seen.toSeq)
    val snap = FeatherSnapshots.resolve(fs, root, None).get
    Result(v, 0, snap.files.size, 0)
  }

  /** TRUNCATE TABLE — ONE commit removes every data file while the
    * schema (and the hive layout's key=value paths) stay readable via
    * the shared per-leaf stamps. Prior versions keep reading their
    * files: time travel and RESTORE undo a truncate until expire.
    * Unlike a zero-row `INSERT OVERWRITE`, TRUNCATE truncates under
    * `partitionOverwriteMode=dynamic` too — the statement's meaning
    * does not depend on a session conf. */
  def truncate(spark: SparkSession, path: String): Result = {
    val r = FeatherMutations.resolveTable(spark, path, "TRUNCATE TABLE",
      requireHive = false, snapshotsHint = TableInserts.InsertSnapshotsHint)
    val targetV = r.snap.version + 1
    val prefix = FeatherSnapshots.runPrefix(targetV, "trunc-")
    val added = FeatherMutations.stampLeaves(r.face, r.fs, r.root,
      r.snap.files.map(_._1), prefix, r.tableSchema)
    val committed = FeatherSnapshots.commitMutation(r.fs, r.root,
      "overwrite", r.snap, r.snap.files.map(_._1).toSet, added)
    Result(committed, r.snap.files.size, 0, added.size)
  }

  /** ALTER TABLE ... ADD COLUMNS — schema evolution WITHOUT data: one
    * append commit of per-leaf zero-row stamps carrying the union
    * schema, so existing rows read the new columns as NULL (the
    * write-evolution read contract) and subsequent INSERTs may supply
    * them. Added columns must be top-level, nullable, position-free,
    * and default-free; a name colliding with an existing column OR its
    * case-variant refuses outright (the WriteSchemaEvolution rule — a
    * silently-landed case conflict bricks every merged read). */
  def addColumns(spark: SparkSession, path: String,
                 cols: Seq[StructField]): Result = {
    val op = "ALTER TABLE ADD COLUMNS"
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op on graft.`$path`: $msg")
    if (cols.isEmpty) bad("no columns to add")
    cols.groupBy(_.name.toLowerCase(java.util.Locale.ROOT)).foreach {
      case (_, vs) if vs.size > 1 =>
        bad(s"column '${vs.head.name}' is added more than once")
      case _ => ()
    }
    def attempt(): Result = {
      val r = FeatherMutations.resolveTable(spark, path, op,
        requireHive = false,
        snapshotsHint = TableInserts.InsertSnapshotsHint)
      // case-variants refuse REGARDLESS of spark.sql.caseSensitive: the
      // footers outlive the session conf, and an insensitive reader of a
      // sensitive writer's 'amt'+'AMT' table has no sound merge
      val existing = r.fullSchema.fieldNames.toSeq
      cols.foreach { f =>
        existing.find(_.equalsIgnoreCase(f.name)).foreach(e =>
          bad(s"column '${f.name}' already exists as '$e'" +
            (if (r.partCols.contains(e)) " (a partition column)" else "")))
        if (!f.nullable)
          bad(s"column '${f.name}' is NOT NULL — existing rows have no " +
            "value for it; add it nullable (backfill with UPDATE, then " +
            "treat it as required downstream)")
      }
      val newSchema = StructType(r.tableSchema.fields ++ cols)
      val targetV = r.snap.version + 1
      val prefix = FeatherSnapshots.runPrefix(targetV, "alt-")
      val added0 = FeatherMutations.stampLeaves(r.face, r.fs, r.root,
        r.snap.files.map(_._1), prefix, newSchema)
      // a zero-file head (unreachable today — every commit path stamps
      // empties) must still record the column SOMEWHERE: a stamp-less
      // "success" would silently add nothing
      val added =
        if (added0.nonEmpty) added0
        else Seq(r.face.stamp(r.fs, r.root, prefix, newSchema))
      // op "append" (streams deliver the zero-row stamps as nothing; CDF
      // is diff-based) — but through the MUTATION commit with the
      // no-new-files check: the name validation above ran against THIS
      // snapshot's schema, and a concurrent addition (another ALTER's
      // stamps, an evolving merge/append) may have evolved it; two
      // racing ALTERs landing 'score DOUBLE' and 'score STRING' would
      // brick every merged read. The READ SET is declared empty — ALTER
      // reads no data files, so losing a race to a delete/merge/compact
      // invalidates nothing (those commutes land both); only the
      // added-files schema race aborts, and the loop below retries it.
      val committed = FeatherSnapshots.commitMutation(r.fs, r.root,
        "append", r.snap, Set.empty, added, requireNoNewFiles = true,
        readRel = Some(Set.empty))
      Result(committed, 0, r.snap.files.size, added.size)
    }
    // the no-new-files abort also fires on schema-NEUTRAL blind appends
    // (a plain append cannot evolve the schema, but commit-time footers
    // are not read to prove it) — on a continuously-ingesting table the
    // statement would never land without this revalidate-and-retry
    // loop: each retry re-resolves the head and re-runs the name checks
    // against the possibly-evolved schema before committing again.
    // (Races against deletes/merges/compactions never abort at all: the
    // commit declares an EMPTY read set, so the conflict matrix lets
    // them land beside the stamps.)
    var lastConflict: Throwable = null
    for (_ <- 1 to 5) {
      try return attempt()
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("concurrent commit added file") =>
          lastConflict = e
      }
    }
    throw new IllegalArgumentException(
      s"$op on graft.`$path`: lost the commit race 5 times in a row to " +
        "concurrent commits (each retry revalidated against the new " +
        "head); pause the heaviest writer or re-run",
      lastConflict)
  }
}
