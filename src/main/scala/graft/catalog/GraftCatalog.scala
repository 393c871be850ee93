package graft.catalog

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{ConnectorFace, TableDdl}
import graft.sources.{FeatherPartitions, FeatherSnapshots}

/** Name-based addressing for graft tables through Spark's PUBLIC
  * catalog machinery — a DSv2 `TableCatalog`:
  *
  * {{{
  *   spark.sql.catalog.graft            = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse  = /data/graft
  *
  *   CREATE TABLE graft.events (id BIGINT, payload STRING) USING feather
  *   INSERT INTO graft.events SELECT ...
  *   SELECT * FROM graft.events VERSION AS OF 3
  *   SHOW TABLES IN graft
  *   DESCRIBE TABLE EXTENDED graft.events
  *   ALTER TABLE graft.events ADD COLUMNS (score DOUBLE)
  *   DROP TABLE graft.events
  * }}}
  *
  * The store is the FILESYSTEM, not a metastore: table `ns.t` IS the
  * directory `<warehouse>/ns/t` (a graft table is a path plus
  * manifests — the standing contract), so the catalog is self-healing
  * and needs no extra consistency protocol. `SHOW TABLES` lists the
  * warehouse directories that carry a `_snapshots` manifest; a
  * directory without one is a NAMESPACE.
  *
  * The path spelling stays as the escape hatch THROUGH the same
  * catalog: an identifier whose name starts with `/` (or carries a
  * URI scheme) addresses that absolute path — `graft.`/tmp/t`` keeps
  * resolving with the catalog registered, and its DROP keeps the loud
  * refusal (the catalog manages warehouse directories; it does not
  * delete arbitrary paths).
  *
  * Registering the SAME class as `spark.sql.catalog.graft_dv` gives
  * the merge-on-read DML strategy by name (the catalog's initialized
  * NAME picks the face, exactly like the path spellings).
  *
  * Every graft-table SQL statement — read, INSERT, overwrite, DELETE /
  * UPDATE / MERGE, CREATE / REPLACE / CTAS, ALTER, DROP — resolves
  * through this catalog and runs on its [[GraftTable]] handle, with or
  * without the graft session extensions: the name and path spellings
  * share one implementation.
  *
  * (Reference anchor: the reference's frames are named PYTHON objects —
  * python/cudf/cudf/core/dataframe.py instances live in the
  * interpreter's namespace — so "address a table by name" needs no
  * machinery there; a persistent distributed engine expresses the same
  * ergonomics through Spark's TableCatalog.) */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog {

  private var catalogName: String = "graft"
  private var warehouse: Option[String] = None

  override def name(): String = catalogName

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
  }

  /** The merge-on-read strategy face rides the catalog NAME (register
    * the class twice: graft = copy-on-write, graft_dv = DV masks). */
  private[graft] def dvFace: Boolean =
    catalogName.toLowerCase(java.util.Locale.ROOT) == "graft_dv"

  private def spark: SparkSession = SparkSession.active
  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def fsOf(p: Path) = p.getFileSystem(hadoopConf)

  /** `graft.`/abs/path`` — the escape hatch: a name that IS a path,
    * absolute or a URI (`hdfs://nn/t`, or `file:/t` with no authority).
    * No table name can be read this way: [[checkSegment]] refuses '/'. */
  private def isPathIdent(ident: Identifier): Boolean =
    ident.namespace.isEmpty && (ident.name.startsWith("/") ||
      ident.name.matches("[A-Za-z][A-Za-z0-9+.-]*:/.*"))

  private def requireWarehouse(what: String): String =
    warehouse.getOrElse(throw new IllegalArgumentException(
      s"$what on catalog '$catalogName': no warehouse configured — set " +
        s"spark.sql.catalog.$catalogName.warehouse to the directory " +
        "that holds named graft tables (absolute-path identifiers " +
        s"like $catalogName.`/data/t` work without one)"))

  private def checkSegment(what: String, seg: String): Unit = {
    // dots are refused OUTRIGHT (not just leading): `events.v2` as one
    // backticked segment is indistinguishable from namespace `events`,
    // table `v2` everywhere names travel as strings (the maintenance
    // TVFs take 'ns.t'), and a destructive op resolving the WRONG
    // reading is the worst possible outcome of the ambiguity
    if (seg.isEmpty || seg.contains("/") || seg.contains("=") ||
        seg.contains(".") || seg.startsWith("_"))
      throw new IllegalArgumentException(
        s"$what: identifier segment '$seg' — table and namespace names " +
          "are single path segments (no '/', '=', or '.', not starting " +
          "with '_'; '/' and '=' collide with hive key=value leaves, " +
          "'.' with namespace syntax, '_' with service directories)")
  }

  private[graft] def pathOf(ident: Identifier): String =
    if (isPathIdent(ident)) ident.name
    else {
      val wh = requireWarehouse(s"resolving $catalogName.$ident")
      (ident.namespace :+ ident.name).foreach(
        checkSegment(s"$catalogName.$ident", _))
      (wh +: ident.namespace :+ ident.name).mkString("/")
    }

  private def nsDir(namespace: Array[String]): Path =
    new Path((requireWarehouse(s"namespace ${namespace.mkString(".")}") +:
      namespace).mkString("/"))

  /** No table or namespace may nest INSIDE an existing table's
    * directory: the outer table's maintenance walks every non-hidden
    * subdirectory (hive leaves), so vacuum would see the nested
    * table's parts as unreferenced orphans and delete them — silent
    * data loss. Checked at creation/rename time (ancestor segments
    * must not carry a manifest). */
  private def requireNoTableAncestor(what: String,
                                     ident: Identifier): Unit = {
    val wh = requireWarehouse(what)
    val segs = ident.namespace :+ ident.name
    segs.inits.toSeq.reverse.drop(1).dropRight(1).foreach { prefix =>
      val p = new Path((wh +: prefix).mkString("/"))
      val fs = fsOf(p)
      if (fs.exists(p) && FeatherSnapshots.enabled(fs, p))
        throw new IllegalArgumentException(
          s"$what: '${prefix.mkString(".")}' is a TABLE — tables and " +
            "namespaces cannot nest inside a table's directory (the " +
            "outer table's vacuum would reclaim the nested data as " +
            "orphans)")
    }
  }

  // ---- tables --------------------------------------------------------------

  override def tableExists(ident: Identifier): Boolean = {
    val root = new Path(pathOf(ident))
    val fs = fsOf(root)
    fs.exists(root) && FeatherSnapshots.enabled(fs, root)
  }

  override def loadTable(ident: Identifier): Table =
    resolve(ident, None, None)

  /** `VERSION AS OF n` — Spark's time-travel overload. */
  override def loadTable(ident: Identifier, version: String): Table =
    resolve(ident, Some(version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"time travel on $catalogName.$ident: VERSION AS OF '$version' " +
          "is not an integer version"))), None)

  /** `TIMESTAMP AS OF ts` — micros since epoch (Spark's contract). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    resolve(ident, None, Some(Math.floorDiv(timestampMicros, 1000L)))

  private def resolve(ident: Identifier, versionAsOf: Option[Long],
                      tsMillis: Option[Long]): GraftTable = {
    val path = pathOf(ident)
    val root = new Path(path)
    val fs = fsOf(root)
    if (!fs.exists(root) || !FeatherSnapshots.enabled(fs, root))
      throw new NoSuchTableException(ident)
    val snap = tsMillis match {
      case Some(ms) => FeatherSnapshots.resolveAt(fs, root, ms)
      case None => FeatherSnapshots.resolve(fs, root, versionAsOf)
        .getOrElse(throw new NoSuchTableException(ident))
    }
    val face = ConnectorFace.detect(snap.files, "loadTable", path)
    val absFiles = snap.files.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    // every data column (and nested field) nullable: a footer's NOT NULL
    // is an artifact of how one generation was written, not a table
    // constraint (there is no metastore to declare one), and Spark fills
    // a column an INSERT or MERGE INSERT list omits with NULL only when
    // it is nullable
    val dataSchema = graft.io.GraftFeather.looseType(
      face.mergedSchema(spark, absFiles)).asInstanceOf[StructType]
    val discovered = FeatherSnapshots.toDiscovered(root, snap)
    val partSchema = discovered.partSchema
    val pinned = if (versionAsOf.isDefined || tsMillis.isDefined)
      Some(snap.version) else None
    new GraftTable(path, s"$catalogName.$ident", dataSchema,
      discovered.partCols, partSchema,
      face.suffix.stripPrefix("."), snap.version, pinned, dvFace)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    val fs = fsOf(dir)
    if (!fs.exists(dir)) {
      if (namespace.isEmpty) return Array.empty
      throw new NoSuchNamespaceException(namespace)
    }
    // ONE glob over `*/_snapshots` instead of a per-child enabled() probe
    // chain: N+1 RPCs become 2 on an object store. The glob also matches
    // a plain FILE named _snapshots — filter on the status's own
    // isDirectory (already fetched, no extra RPC) so a listed table is
    // one loadTable can actually resolve
    Option(fs.globStatus(new Path(dir, s"*/${FeatherSnapshots.Dir}")))
      .getOrElse(Array.empty).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getParent.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .toArray.sorted
      .map(n => Identifier.of(namespace, n))
  }

  // ---- StagingTableCatalog -------------------------------------------------
  // Atomic CREATE / REPLACE / CREATE OR REPLACE (plain and AS SELECT):
  // Spark stages the table, writes the query through the staged table's
  // DSv2 writer (the face's parts, leaf-routed, in a hidden staging
  // directory), and ONE manifest publish at commitStagedChanges makes
  // everything visible — replace keeps prior
  // versions time-travelable, and the strictest conflict contract in
  // the tier aborts on ANY concurrent commit (see FeatherStagedTable).

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): StagedTable =
    stage("CREATE TABLE", ident, schema, partitions, properties,
      replaceExisting = false, requireExists = false)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: JMap[String, String]): StagedTable =
    stage("REPLACE TABLE", ident, schema, partitions, properties,
      replaceExisting = true, requireExists = true)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: JMap[String, String])
      : StagedTable =
    stage("CREATE OR REPLACE TABLE", ident, schema, partitions, properties,
      replaceExisting = true, requireExists = false)

  private def stage(op: String, ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: JMap[String, String],
                    replaceExisting: Boolean,
                    requireExists: Boolean): StagedTable = {
    val path = pathOf(ident)
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"$op $catalogName.$ident: $msg")
    validateTableClauses(op, ident, properties.asScala.toMap, bad)
    // identity transforms only — same rule as the non-staged CREATE;
    // the staged write's tasks route rows into key=value leaves (every
    // face), so PARTITIONED BY carries straight through
    val partCols = partitions.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case t => bad(s"PARTITIONED BY ${t.describe()} — only plain " +
        "column partitioning maps onto the hive key=value layout")
    }
    val exists = tableExists(ident)
    if (requireExists && !exists) throw new NoSuchTableException(ident)
    if (!replaceExisting && exists)
      throw new TableAlreadyExistsException(ident)
    if (!exists) {
      requireNoTableAncestor(s"$op $catalogName.$ident", ident)
      val root = new Path(path)
      val fs = fsOf(root)
      if (fs.exists(root) && fs.listStatus(root).nonEmpty)
        bad("the path exists and is not empty (and carries no " +
          s"${FeatherSnapshots.Dir} directory) — a staged CREATE would " +
          "overwrite files it did not make; MSCK REPAIR adopts plain " +
          "directories")
    }
    new graft.sources.FeatherStagedTable(path, s"$catalogName.$ident",
      schema, partCols.toSeq,
      properties.asScala.get(TableCatalog.PROP_PROVIDER),
      replaceExisting, orCreate = !requireExists)
  }

  /** The clause refusals shared by CREATE and the staged CREATE/REPLACE
    * surfaces — silently DROPPING a clause is worse than refusing it
    * (a clause with nowhere to persist must be heard, not dropped). */
  private def validateTableClauses(op: String, ident: Identifier,
                                   props: Map[String, String],
                                   bad: String => Nothing): Unit = {
    props.get(TableCatalog.PROP_LOCATION).foreach(l =>
      bad(s"LOCATION '$l' — a named table lives at " +
        s"<warehouse>/<name>; address an existing path as " +
        s"$catalogName.`$l` (MSCK REPAIR adopts plain directories)"))
    props.get(TableCatalog.PROP_COMMENT).foreach(_ =>
      bad("COMMENT — there is no metastore to hold it; record it " +
        "beside the data (a README in the directory outlives any " +
        "session)"))
    val noisy = props.keys.filterNot(Set(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_TABLE_TYPE, "is_managed_location"))
    if (noisy.nonEmpty)
      bad(s"TBLPROPERTIES/OPTIONS (${noisy.mkString(", ")}) — a graft " +
        "table is a path plus manifests; there is no catalog store to " +
        "hold properties")
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val path = pathOf(ident)
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"CREATE TABLE $catalogName.$ident: $msg")
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    // no requireNoTableAncestor here: TableDdl's fresh-directory guard
    // walks the target's ancestors itself (one probe chain, not two)
    val props = properties.asScala.toMap
    validateTableClauses("CREATE TABLE", ident, props, bad)
    val partCols = partitions.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case t => bad(s"PARTITIONED BY ${t.describe()} — only plain " +
        "column partitioning maps onto the hive key=value layout")
    }
    TableDdl.createTable(spark, path, schema,
      props.get(TableCatalog.PROP_PROVIDER), partCols.toSeq,
      ifNotExists = false): Unit
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"ALTER TABLE $catalogName.$ident: $msg")
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val fields = changes.map {
      case add: TableChange.AddColumn =>
        if (add.fieldNames.length != 1)
          bad(s"'${add.fieldNames.mkString(".")}' is nested — only " +
            "top-level columns can be added")
        if (add.position != null)
          bad(s"'${add.fieldNames.head}' carries FIRST/AFTER — added " +
            "columns append at the end (footer order is the merge order)")
        if (add.defaultValue != null)
          bad(s"'${add.fieldNames.head}' carries a DEFAULT — existing " +
            "footers cannot record it; add the column nullable and " +
            "backfill with UPDATE")
        org.apache.spark.sql.types.StructField(add.fieldNames.head,
          add.dataType, add.isNullable,
          Option(add.comment).map(c =>
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("comment", c).build())
            .getOrElse(org.apache.spark.sql.types.Metadata.empty))
      case other =>
        bad(s"${other.getClass.getSimpleName} is not supported — only " +
          "ADD COLUMNS is. Column drops/renames/retypes would rewrite " +
          "or remap every footer, and table properties have no catalog " +
          "store to live in")
    }
    TableDdl.addColumns(spark, pathOf(ident), fields): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (isPathIdent(ident))
      throw new IllegalArgumentException(
        s"DROP TABLE $catalogName.`${ident.name}`: a path-addressed " +
          "graft table IS its directory — DROP would delete data as a " +
          "side effect of a metadata statement; delete the path " +
          s"deliberately, or use CALL $catalogName.system.expire / " +
          "vacuum to reclaim history (named warehouse tables ARE " +
          "catalog-managed and do drop)")
    val root = new Path(pathOf(ident))
    val fs = fsOf(root)
    if (!fs.exists(root) || !FeatherSnapshots.enabled(fs, root)) false
    else { fs.delete(root, true); true }
  }

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"ALTER TABLE $catalogName.$oldIdent RENAME TO $newIdent: $msg")
    if (isPathIdent(oldIdent) || isPathIdent(newIdent))
      bad("renames move MANAGED warehouse tables; a path-addressed " +
        "table renames by moving its directory deliberately")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    requireNoTableAncestor(
      s"RENAME TO $catalogName.$newIdent", newIdent)
    val to = new Path(pathOf(newIdent))
    val fs = fsOf(to)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.exists(to.getParent))
      bad(s"namespace ${newIdent.namespace.mkString(".")} does not " +
        "exist — CREATE NAMESPACE first")
    // one atomic directory move: the manifest travels with its data
    if (!fs.rename(new Path(pathOf(oldIdent)), to))
      bad("filesystem rename failed")
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // ---- ProcedureCatalog ----------------------------------------------------
  // `CALL <catalog>.system.<proc>(...)` — the SQL face of table
  // maintenance (compact / expire / vacuum / analyze / restore) in every
  // session. See [[GraftProcedures]].

  /** Table-address resolution for procedure arguments: the catalog's
    * two spellings (`ns.t` against THIS warehouse, or an absolute
    * path), with the same segment validation every statement runs. */
  private def resolveProcTable(v: String): String =
    if (v.contains("/") || v.contains("://")) v
    else {
      val segs = v.split('.')
      pathOf(Identifier.of(segs.dropRight(1), segs.last))
    }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"CALL $catalogName.$ident: $msg (procedures live in the " +
        s"'system' namespace: CALL $catalogName.system.<name>; " +
        s"available: ${GraftProcedures.all.map(_.name).mkString(", ")})")
    if (ident.namespace.toSeq != Seq("system")) bad("unknown namespace")
    GraftProcedures.byName.get(
        ident.name.toLowerCase(java.util.Locale.ROOT))
      .map(GraftProcedures.unbound(_, resolveProcTable))
      .getOrElse(bad("unknown procedure"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system") || namespace.isEmpty)
      GraftProcedures.all.map(s =>
        Identifier.of(Array("system"), s.name)).toArray
    else Array.empty

  // ---- namespaces ----------------------------------------------------------

  /** A namespace is a plain warehouse directory: not hidden, no
    * manifest. Takes the already-listed FileStatus — re-fetching it
    * would cost one extra RPC per child on an object store. */
  private def isNamespaceStatus(fs: org.apache.hadoop.fs.FileSystem,
                                s: org.apache.hadoop.fs.FileStatus)
      : Boolean =
    s.isDirectory && !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".") &&
      !FeatherSnapshots.enabled(fs, s.getPath)

  override def defaultNamespace(): Array[String] = Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = nsDir(namespace)
      val fs = fsOf(dir)
      fs.exists(dir) && isNamespaceStatus(fs, fs.getFileStatus(dir))
    }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    val fs = fsOf(dir)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).iterator
      .filter(isNamespaceStatus(fs, _))
      .map(s => namespace :+ s.getPath.getName).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      nsDir(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    namespace.foreach(checkSegment(
      s"CREATE NAMESPACE ${namespace.mkString(".")}", _))
    if (namespace.nonEmpty) {
      requireNoTableAncestor(
        s"CREATE NAMESPACE ${namespace.mkString(".")}",
        Identifier.of(namespace.init, namespace.last))
      // ... and the namespace's OWN path must not be a table either —
      // mkdirs on an existing table dir would no-op and report success
      // for a namespace SHOW NAMESPACES then omits (enabled() handles
      // a missing path itself — no extra exists() probe)
      val own = nsDir(namespace)
      if (FeatherSnapshots.enabled(fsOf(own), own))
        throw new IllegalArgumentException(
          s"CREATE NAMESPACE ${namespace.mkString(".")}: the path is a " +
            "TABLE — a table directory cannot double as a namespace")
    }
    val user = metadata.asScala.keys.filterNot(
      Set(SupportsNamespaces.PROP_OWNER))
    if (user.nonEmpty)
      throw new IllegalArgumentException(
        s"CREATE NAMESPACE ${namespace.mkString(".")}: properties " +
          s"(${user.mkString(", ")}) have no catalog store to live in")
    val dir = nsDir(namespace)
    fsOf(dir).mkdirs(dir): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new IllegalArgumentException(
      s"ALTER NAMESPACE ${namespace.mkString(".")}: namespaces are " +
        "plain warehouse directories; there are no properties to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val dir = nsDir(namespace)
    val fs = fsOf(dir)
    if (fs.listStatus(dir).nonEmpty) {
      if (!cascade)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace)
      throw new IllegalArgumentException(
        s"DROP NAMESPACE ${namespace.mkString(".")} CASCADE: the " +
          "namespace holds tables — cascading would delete their data " +
          "as a side effect; DROP each table deliberately first")
    }
    fs.delete(dir, true)
  }
}

/** The catalog's Table handle — the ONE path every graft-table SQL
  * statement takes, in every session: metadata (schema, partitioning,
  * DESCRIBE/SHOW surfaces), TRUNCATE, batch/streaming reads through the
  * face delegates, inserts and overwrites through the delegate or
  * [[graft.sources.FaceBatchWrite]], and DELETE / UPDATE / MERGE through
  * Spark's own row-level rewrite machinery, one operation pair for every
  * face and layout ([[graft.sources.FaceRowLevel]]). Spark's
  * TableOutputResolver aligns inserts (no ACCEPT_ANY_SCHEMA: that
  * capability would also set `skipSchemaResolution` on UPDATE/MERGE and
  * strand the statement at physical planning).
  *
  * `keyed` is set only by the engine's keyed merges
  * ([[withKeyedMerge]], on the handle their one statement runs on;
  * [[graft.sources.KeyedMerge]]): every scan of that handle — the
  * row-level scan and the batch scans Spark's MERGE rewrite reads the
  * target through — drops the files the key probe cleared. The catalog
  * never sets it, so SQL statements plan as before. */
private[graft] class GraftTable(
    val path: String, ident: String,
    dataSchema: StructType, partCols: Seq[String],
    partSchema: StructType, face: String,
    headVersion: Long, pinnedVersion: Option[Long],
    dvFace: Boolean, keyed: Option[graft.sources.KeyedMerge] = None)
    extends Table with TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** `_file` (per-split constant) and `_pos` (per-row format-local
    * position) — the engine's stable row id, served by EVERY face's
    * batch scan (feather/avro connectors splice them; the parquet face
    * reads through the generic [[graft.sources.FaceScanBuilder]] which
    * does the same) and required by the row-level rewrite plans. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    graft.sources.GraftMetaColumns.columns

  override def name(): String = ident

  /** This handle for one keyed merge statement (see the class doc). */
  def withKeyedMerge(k: graft.sources.KeyedMerge): GraftTable =
    new GraftTable(path, ident, dataSchema, partCols, partSchema, face,
      headVersion, pinnedVersion, dvFace, Some(k))

  private def keyCleared: Set[String] =
    keyed.fold(Set.empty[String])(_.cleared)

  override def schema(): StructType =
    StructType(dataSchema.fields ++ partSchema.fields)

  override def partitioning(): Array[Transform] =
    partCols.map(c => Expressions.identity(QuotingUtils.quoteIdentifier(c)))
      .toArray

  override def properties(): JMap[String, String] =
    Map(
      TableCatalog.PROP_LOCATION -> path,
      TableCatalog.PROP_PROVIDER -> face,
      "face" -> face,
      "format" -> s"graft/$face",
      "current-version" -> headVersion.toString).asJava

  /** The feather/avro faces are full DSv2 connectors — batch and
    * STREAMING reads (`spark.readStream.table("graft.events")`) delegate
    * to them, so a named table reads and streams exactly like its
    * `format("feather")` spelling (pushdown, DV masking, version-based
    * snapshot offsets, exactly-once restarts). */
  private lazy val delegate: Option[Table] = (face match {
    case "feather" => Some(new graft.sources.FeatherDataSource())
    case "avro" => Some(new graft.sources.AvroDataSource())
    case _ => None
  }).map { src =>
    // the pin travels with the delegate: a VERSION AS OF read must not
    // silently serve the head
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", path)
    // the catalog serves the merged UNION schema — the delegate must
    // decode leniently (older files null-fill evolved columns)
    opts.put("mergeSchema", "true")
    pinnedVersion.foreach(v => opts.put("versionasof", v.toString): Unit)
    src.getTable(schema(), partitioning(), opts)
  }

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE,
      // MERGE WITH SCHEMA EVOLUTION: Spark's
      // ResolveMergeIntoSchemaEvolution keys on this capability, computes
      // the source-minus-target additions, applies them through the
      // catalog's alterTable (top-level nullable ADD COLUMNS — exactly
      // the engine's evolution contract; retypes refuse there loudly),
      // and reloads the relation before the row-level rewrite plans
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // a time-travel pin has no streaming meaning, and the parquet face
    // streams through the face-agnostic `feather-cdf` format instead
    if (delegate.isDefined && pinnedVersion.isEmpty) {
      caps.add(TableCapability.MICRO_BATCH_READ): Unit
      // writeStream.toTable("graft.t") — the connectors' streaming
      // sinks commit epoch-tagged idempotent appends to the manifest.
      // Hive-partitioned tables write through the BATCH-only generic
      // face write, so the capability must not promise a streaming
      // sink the builder cannot produce.
      if (partCols.isEmpty) caps.add(TableCapability.STREAMING_WRITE): Unit
    }
    caps
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    delegate match {
      case Some(t: org.apache.spark.sql.connector.catalog.SupportsRead)
          if keyCleared.isEmpty =>
        t.newScanBuilder(options)
      case _ =>
        // faces without a DSv2 connector (parquet) read through the
        // generic ConnectorFace scan: whole-file partitions, partition/
        // stats/bloom file skipping, DV-aware, `_file`/`_pos` served,
        // clean snapshots on Spark's vectorized parquet reader. A handle
        // carrying a key probe's verdict reads here on every face, so
        // the verdict drops its files from the batch scans too.
        // pinnedVersion only: an unpinned handle resolves the HEAD at
        // scan time, exactly like the connector delegates
        new graft.sources.FaceScanBuilder(None,
          graft.io.ConnectorFace.byLabel(face), path, schema(), partSchema,
          pinnedVersion, keyCleared)
    }

  /** Batch inserts and streaming sinks delegate like the read path —
    * the connectors' write builders detect the manifest and commit
    * through the snapshot protocol regardless of options, so a
    * delegated write IS a proper table commit. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (pinnedVersion.isDefined)
      throw new UnsupportedOperationException(
        s"$ident: a time-travel-pinned table is read-only")
    delegate match {
      // flat tables on connector faces append and truncate through the
      // delegate (the native part writers, streaming sinks included);
      // predicate and dynamic overwrites take the generic write's
      // replace logic
      case Some(t: org.apache.spark.sql.connector.catalog.SupportsWrite)
          if partCols.isEmpty =>
        import org.apache.spark.sql.connector.write._
        val inner = t.newWriteBuilder(info)
        new WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {
          override def truncate(): WriteBuilder =
            inner.asInstanceOf[SupportsTruncate].truncate()
          override def overwrite(
              filters: Array[org.apache.spark.sql.sources.Filter])
              : WriteBuilder =
            if (filters.forall(_.isInstanceOf[
                org.apache.spark.sql.sources.AlwaysTrue])) truncate()
            else genericWrite(info).overwrite(filters)
          override def overwriteDynamicPartitions(): WriteBuilder =
            genericWrite(info).overwriteDynamicPartitions()
          override def build(): Write = inner.build()
        }
      // everything else — the parquet face (no connector) and HIVE-
      // PARTITIONED tables on any face (the flat sinks refuse root
      // appends into key=value layouts) — writes through the generic
      // ConnectorFace batch write: append / truncate / static
      // partition-equality overwrite / predicate overwrite / dynamic
      // partition overwrite, rows routed to their leaves
      case _ => genericWrite(info)
    }
  }

  private def genericWrite(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo) =
    new graft.sources.FaceBatchWrite(path,
      graft.io.ConnectorFace.byLabel(face), dataSchema, partCols,
      info.schema())

  override def truncateTable(): Boolean = {
    TableDdl.truncate(SparkSession.active, path): Unit
    true
  }

  // ---- SupportsPartitionManagement ----------------------------------------
  // SHOW PARTITIONS (incl. the filtered PARTITION (k=v) form) runs
  // through Spark's OWN ShowPartitionsExec. Partitions DERIVE from the
  // hive key=value layout the manifest records, so the management verbs
  // refuse with the statement that actually does the job.

  override def partitionSchema(): StructType = partSchema

  private def partitionRefusal(what: String, instead: String): Nothing =
    throw new UnsupportedOperationException(
      s"$ident: $what — partitions derive from the hive key=value " +
        s"layout the manifest records, not from catalog entries; $instead")

  override def createPartition(ident0: InternalRow,
                               properties: JMap[String, String]): Unit =
    partitionRefusal("ALTER TABLE ADD PARTITION",
      "rows create their partition on write (INSERT routes each row to " +
        "its key=value leaf)")

  override def dropPartition(ident0: InternalRow): Boolean =
    partitionRefusal("ALTER TABLE DROP PARTITION",
      "use DELETE FROM ... WHERE <partition column> = <value> (one " +
        "predicate-scoped atomic commit) or INSERT OVERWRITE ... " +
        "PARTITION (k=v) with an empty query")

  override def replacePartitionMetadata(ident0: InternalRow,
                                        properties: JMap[String, String])
      : Unit =
    partitionRefusal("ALTER TABLE ... SET partition metadata",
      "there is no metastore to hold per-partition properties")

  override def loadPartitionMetadata(ident0: InternalRow)
      : JMap[String, String] = java.util.Collections.emptyMap()

  override def listPartitionIdentifiers(names: Array[String],
                                        ident0: InternalRow)
      : Array[InternalRow] = {
    require(partCols.nonEmpty,
      s"SHOW PARTITIONS on $ident: the table is not partitioned")
    require(names.length == ident0.numFields,
      s"partition filter names (${names.length}) and values " +
        s"(${ident0.numFields}) differ")
    val root = new Path(path)
    val fs = root.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    val snap = FeatherSnapshots.resolve(fs, root,
        pinnedVersion.orElse(Some(headVersion)))
      .getOrElse(throw new IllegalStateException(
        s"$ident: snapshot v$headVersion no longer resolves " +
          "(expired under this handle?)"))
    val leaves = FeatherSnapshots.toDiscovered(root, snap).files
    val toCatalyst = partSchema.fields.map(f =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(f.dataType))
    val tuples: Seq[Seq[String]] = leaves
      .map(l => partCols.map(c => l.values.toMap.getOrElse(c, null)))
      .distinct.sortBy(_.map(v => if (v == null) "" else v).mkString("/"))
    val rows = tuples.map { vs =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        vs.zipWithIndex.map { case (raw, i) =>
          toCatalyst(i)(graft.sources.FeatherPartitions.castValue(
            raw, partSchema.fields(i).dataType)) }.toArray)
    }
    val nameIdx = names.map(n => partSchema.fieldIndex(n))
    rows.filter(r => nameIdx.indices.forall { j =>
      val dt = partSchema.fields(nameIdx(j)).dataType
      java.util.Objects.equals(r.get(nameIdx(j), dt), ident0.get(j, dt))
    }).toArray
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (pinnedVersion.isDefined)
      throw new UnsupportedOperationException(
        s"$ident: ${info.command()} on a time-travel-pinned table — " +
          "pinned snapshots are read-only; address the table without " +
          "VERSION/TIMESTAMP AS OF")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      // the catalog NAME picks the strategy, exactly like the engine's
      // path spellings: graft = group-based copy-on-write rewrite,
      // graft_dv = delta rewrite producing deletion-vector sidecars
      // (bytes ∝ deleted rows — the merge-on-read parity the graft_dv
      // spelling promises). Every face and layout takes the one
      // FaceRowLevel pair; what differs per face (feather batch splits,
      // zero-copy flat-feather inserts, hive routing) is chosen inside it,
      // and its COW scan narrows the groups at runtime to the files
      // holding a match (Spark's runtime group filter on `_file`).
      // A table that OWNS a `_pos` or `_file` column (data or hive
      // partition) shadows the engine's metadata columns — Spark hides
      // a conflicting metadata column, so the delta rowId (`_file`,
      // `_pos`) would resolve to the STORED values and the delta writer
      // would record those as deletion-vector coordinates, masking
      // arbitrary rows: the one silent-corruption shape in this tier.
      // Such tables take the group-based COW strategy even on the
      // graft_dv catalog: COW never consumes rowId values (the scan
      // state names the groups, rows are rewritten wholesale), so the
      // statement stays correct — it just pays copy-on-write instead of
      // merge-on-read, without the runtime group filter (an owned `_file`
      // would filter on stored values). Pinned by RowLevelCatalogSpec's
      // owned-rowid rows.
      private val ownsRowId = schema().fieldNames.exists(n =>
        n == graft.sources.GraftMetaColumns.FileName ||
          n == graft.sources.GraftMetaColumns.PosName)
      override def build()
          : org.apache.spark.sql.connector.write.RowLevelOperation =
        graft.sources.FaceRowLevel.operation(info.command(), path,
          graft.io.ConnectorFace.byLabel(face), dataSchema, partCols,
          partSchema, delta = dvFace && !ownsRowId, keyed)
    }
  }
}
