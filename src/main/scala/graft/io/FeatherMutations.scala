package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.sources.FeatherSnapshots

/** Keyed DELETE, MERGE (upsert) and CDC apply on snapshotted tables of
  * every face — the mutation tier a 100-TB corpus table needs
  * (takedown/right-to-erasure deletes by document key; incremental
  * corrections and late-arriving re-crawls as upserts; change batches
  * from a CDC feed) that the reference gets from in-memory ownership
  * (`DataFrame.drop` / boolean-mask assignment mutate the frame in
  * place, python/cudf/cudf/core/dataframe.py `drop`/`__setitem__`;
  * cpp/include/cudf/copying.hpp `boolean_mask_scatter`) but a
  * distributed immutable table does not.
  *
  * Each entry point is one [[ConditionalMerge]] — Spark's MERGE over
  * ``graft.`<path>` `` (copy-on-write) or ``graft_dv.`<path>` ``
  * (merge-on-read), run on [[graft.sources.FaceRowLevel]]:
  *
  *  - [[deleteByKey]] / [[deleteByKeyDV]]: `WHEN MATCHED THEN DELETE`
  *    over the distinct key tuples;
  *  - [[merge]] / [[mergeDV]]: `WHEN MATCHED THEN UPDATE SET *` +
  *    `WHEN NOT MATCHED THEN INSERT *`;
  *  - [[applyCdc]] / [[applyCdcDV]]: delete where the tombstone is set,
  *    update otherwise, insert only live rows.
  *
  * Rows pair by `keyCols` equality (null keys never match). The merge's
  * key probe ([[probeTouched]]: stats ranges and Bloom sidecars in one
  * distributed pass, keys never on the driver) hands the row-level scan
  * the files that provably hold no key, so a narrow mutation plans — and
  * a concurrent commit is checked against — only its candidates, at any
  * key count; the copy-on-write rewrite then keeps only the files that
  * hold a match. One atomic manifest commit under the conflict matrix
  * ([[FeatherSnapshots.commitMutation]]: concurrent blind appends
  * commute, a concurrent rewrite of a read file aborts loudly); time
  * travel keeps the pre-mutation rows until `expire()`, the compliance
  * point that makes an erasure physical.
  *
  * Semantics are Spark's MERGE:
  *  - a mutation that changes nothing (absent keys, a replayed tombstone
  *    batch) publishes no version — the foreachBatch replay contract; a
  *    re-run upsert that matches rows publishes one more version with
  *    identical rows;
  *  - two source rows matching one table row fail the statement
  *    (MERGE_CARDINALITY_VIOLATION): a change batch must carry one change
  *    per key;
  *  - on a hive-partitioned table the partition columns are ordinary
  *    columns: inserts land in the leaf their values name, and a matched
  *    key whose source row names other values moves;
  *  - a delete commits as `rowlevel_delete`, an upsert or change batch as
  *    `rowlevel_merge` (`rowlevel_delta_*` merge-on-read);
  *  - rows land with the face's default codec.
  *
  * The entry points keep two input contracts of their own: an upsert or
  * change source carries exactly the table's columns (partition columns
  * included; the tombstone column aside), and the key columns are named
  * on both sides. `Result.filesTouched` counts the files the commit
  * rewrote or masked — files that held a match — and
  * `Result.filesPlanned` the files the statement planned.
  *
  * The object also holds the table helpers the row-level writes,
  * `replaceWhere` and the inserts share: leaf routing and stamps, DV
  * binding, table resolution and the key probe. */
object FeatherMutations {

  /** `version` = the committed snapshot (the planned one when nothing
    * was published); `filesTouched` = files rewritten, dropped or masked;
    * `filesKept` = the rest of the parent manifest; `partsWritten` = new
    * parts in the commit (deletion-vector sidecars for the merge-on-read
    * deletes); `filesPlanned` = files the statement's row-level scan
    * planned, its read set (0 for statements without one). */
  final case class Result(version: Long, filesTouched: Int, filesKept: Int,
                          partsWritten: Int, filesPlanned: Int = 0)

  object Result {
    /** What a row-level commit reported. `dvSidecars`: `partsWritten`
      * counts the deletion-vector sidecars bound (the merge-on-read
      * deletes). */
    private[io] def of(r: graft.sources.RowLevelCommitMetrics.Report,
                       dvSidecars: Boolean = false): Result =
      Result(r.version, r.filesRemoved + r.dvsBound, r.filesKept,
        if (dvSidecars) r.dvsBound else r.partsAdded, r.filesPlanned)
  }

  /** Drop every table row whose `keyCols` tuple appears in `keys`,
    * copy-on-write. Any layout: a delete writes no new row, so nested
    * non-hive directories are fine — though the rewritten survivors of
    * a non-hive leaf land as parts at the table root. */
  def deleteByKey(spark: SparkSession, path: String, keys: DataFrame,
                  keyCols: Seq[String]): Result =
    Result.of(keyedDelete(spark, path, keys, keyCols).report("graft"))

  /** Merge-on-read [[deleteByKey]]: matched rows are masked by
    * [[DeletionVectors]] sidecars bound in the manifest — bytes written
    * scale with DELETED ROWS, not with touched-file sizes (a file the
    * masks cover entirely drops from the manifest). Compaction folds the
    * masks physically; `expire()` then makes the erasure physical. Prefer
    * this for scattered takedowns and [[deleteByKey]] when a delete drops
    * a large fraction of the touched files' rows. `partsWritten` reports
    * the sidecars bound, exactly as `PredicateMutations.deleteWhereDV`
    * does. */
  def deleteByKeyDV(spark: SparkSession, path: String, keys: DataFrame,
                    keyCols: Seq[String]): Result =
    Result.of(keyedDelete(spark, path, keys, keyCols).report("graft_dv"),
      dvSidecars = true)

  /** Upsert, copy-on-write: table rows matched by a source key tuple are
    * replaced by the source row, unmatched source rows are inserted.
    * `evolveSchema = true` lets the source carry NEW columns, which join
    * the table schema as nullable (survivors and older generations read
    * them as null): an ADD COLUMNS commit of its own before the rows, so
    * a merge that then fails keeps the new columns; such a merge plans
    * every file (the probe's verdict rides a table handle Spark reloads
    * after the ADD COLUMNS). */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            keyCols: Seq[String], evolveSchema: Boolean = false): Result =
    Result.of(upsert(spark, path, source, keyCols, evolveSchema)
      .report("graft", exactColumns("merge", source, evolveSchema)))

  /** Merge-on-read [[merge]]: matched rows are DV-masked and the
    * replacements land as new parts beside the inserts — bytes written
    * scale with CHANGED ROWS, not with touched-file sizes. Prefer
    * [[merge]] when the source replaces a large fraction of the touched
    * files' rows (a masked file still decodes its masked rows' pages).
    * Same contracts as [[merge]], `evolveSchema` included. */
  def mergeDV(spark: SparkSession, path: String, source: DataFrame,
              keyCols: Seq[String], evolveSchema: Boolean = false): Result =
    Result.of(upsert(spark, path, source, keyCols, evolveSchema)
      .report("graft_dv", exactColumns("merge", source, evolveSchema)))

  /** CDC apply, copy-on-write: one change frame carrying upserts AND
    * deletes, flagged by a boolean tombstone column (null = live).
    * Matched tombstoned keys are deleted, matched live keys replaced,
    * unmatched live rows inserted (an unmatched tombstone is a no-op) —
    * one commit, so a change batch is atomic, and a replayed batch leaves
    * the content as it was, which is what a `foreachBatch` sink needs.
    * The batch must carry one change per key (standard CDC compaction:
    * the max-sequence row per key). The tombstone column never becomes a
    * table column, `evolveSchema` or not. */
  def applyCdc(spark: SparkSession, path: String, changes: DataFrame,
               keyCols: Seq[String], deleteCol: String = "_deleted",
               evolveSchema: Boolean = false): Result =
    Result.of(cdc(spark, path, changes, keyCols, deleteCol, evolveSchema)
      .report("graft", exactColumns("applyCdc", changes.drop(deleteCol),
        evolveSchema)))

  /** Merge-on-read [[applyCdc]]: matched keys (tombstoned or live) are
    * DV-masked, live rows land as new parts — bytes ∝ the change batch. */
  def applyCdcDV(spark: SparkSession, path: String, changes: DataFrame,
                 keyCols: Seq[String], deleteCol: String = "_deleted",
                 evolveSchema: Boolean = false): Result =
    Result.of(cdc(spark, path, changes, keyCols, deleteCol, evolveSchema)
      .report("graft_dv", exactColumns("applyCdcDV",
        changes.drop(deleteCol), evolveSchema)))

  // ---- the merges behind the entry points ---------------------------------

  private def keyedDelete(spark: SparkSession, path: String, keys: DataFrame,
                          keyCols: Seq[String]): ConditionalMerge =
    ConditionalMerge(spark, path,
      keys.select(keyCols.map(keys(_)): _*).distinct(), keyCols)
      .whenMatchedDelete()

  private def upsert(spark: SparkSession, path: String, source: DataFrame,
                     keyCols: Seq[String],
                     evolveSchema: Boolean): ConditionalMerge = {
    val m = ConditionalMerge(spark, path, source, keyCols)
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
    if (evolveSchema) m.withSchemaEvolution() else m
  }

  /** Under `evolveSchema` the clauses SET each non-tombstone column by
    * name: `UPDATE SET *` would evolve the tombstone into the table. */
  private def cdc(spark: SparkSession, path: String, changes: DataFrame,
                  keyCols: Seq[String], deleteCol: String,
                  evolveSchema: Boolean): ConditionalMerge = {
    require(changes.columns.contains(deleteCol),
      s"applyCdc: tombstone column '$deleteCol' not in changes frame " +
        s"(${changes.columns.mkString(", ")})")
    def source(c: String) = Bridge.column(UnresolvedAttribute(Seq("source", c)))
    val tomb = coalesce(source(deleteCol), lit(false))
    val m = ConditionalMerge(spark, path, changes, keyCols)
      .whenMatchedDelete(Some(tomb))
    if (!evolveSchema)
      m.whenMatchedUpdateAll().whenNotMatchedInsertAll(Some(!tomb))
    else {
      val set = changes.columns.filterNot(_ == deleteCol)
        .map(c => c -> source(c)).toMap
      m.withSchemaEvolution().whenMatchedUpdate(None, set)
        .whenNotMatchedInsert(Some(!tomb), set)
    }
  }

  /** The upsert/CDC input contract: the source carries exactly the
    * table's columns, partition columns included — or, under
    * `evolveSchema`, at least them. */
  private def exactColumns(op: String, source: DataFrame,
                           evolveSchema: Boolean)
                          (table: StructType, partCols: Seq[String]): Unit = {
    val caseSensitive = source.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def in(names: Seq[String])(c: String) = names.exists(n =>
      if (caseSensitive) n == c else n.equalsIgnoreCase(c))
    val cols = source.columns.toSeq
    val missing = table.fieldNames.filterNot(in(cols))
    val extra = if (evolveSchema) Nil else cols.filterNot(in(table.fieldNames))
    require(missing.isEmpty && extra.isEmpty,
      s"$op: source columns (${cols.sorted.mkString(", ")}) must be exactly " +
        "the table's data columns" +
        (if (partCols.nonEmpty) " plus its partition columns" else "") +
        s" (${table.fieldNames.sorted.mkString(", ")})")
  }

  // ---- shared helpers ------------------------------------------------------

  /** Leaf-grouped DV read of replaceWhere's candidates: `files` (abs
    * path, len) read with their DV bindings applied and, when
    * partitioned, each leaf's partition values attached as typed literal
    * columns (the same values-from-the-chain contract every partitioned
    * read applies; `lit(null).cast` for the hive null leaf) — one union
    * arm per leaf, folded as a BALANCED tree so the analyzer never
    * recurses O(leaves) deep. Callers guarantee `files` is non-empty. */
  private[io] def readWithPartValues(spark: SparkSession,
                                     face: ConnectorFace,
                                     files: Seq[(String, Long)],
                                     dvPathsAll: Map[String, String],
                                     tableSchema: StructType,
                                     partSchema: StructType,
                                     valuesByAbs: Map[String, Seq[(String, String)]])
      : DataFrame = {
    require(files.nonEmpty, "readWithPartValues: empty file list")
    def attachParts(df: DataFrame,
                    values: Seq[(String, String)]): DataFrame =
      values.foldLeft(df) { case (acc, (c, v)) =>
        acc.withColumn(c, lit(v).cast(partSchema(c).dataType))
      }
    val arms = files.groupBy(f =>
        valuesByAbs.getOrElse(f._1, Nil)).toSeq.sortBy(_._1.toString)
      .map { case (values, leafFiles) =>
        // Set membership, not a linear scan per map entry — a bySource
        // sweep over thousands of DV-bound files would otherwise pay
        // O(leaves × dvMappings × filesPerLeaf) driver work
        val leafSet = leafFiles.map(_._1).toSet
        val dvs = dvPathsAll.filter { case (abs, _) => leafSet(abs) }
        attachParts(ConnectorFace.align(
          face.readMergedDv(spark, leafFiles, dvs), tableSchema), values)
      }
    def balanced(fs: Seq[DataFrame]): DataFrame =
      if (fs.size == 1) fs.head
      else {
        val (l, r) = fs.splitAt(fs.size / 2)
        balanced(l).unionByName(balanced(r))
      }
    balanced(arms)
  }

  /** Column-name canonicalization onto a schema's spelling under
    * spark.sql.caseSensitive=false (exact names and the case-sensitive
    * conf pass through; absent/ambiguous names fall through unchanged
    * for the caller's loud validation). */
  private[io] def canonicalName(schema: StructType,
                                caseSensitive: Boolean)(k: String): String =
    if (schema.fieldNames.contains(k) || caseSensitive) k
    else schema.fieldNames.filter(_.equalsIgnoreCase(k)) match {
      case Array(one) => one
      case _ => k
    }

  /** WALL-CLOCK pin of replaceWhere: rewrite clock functions in a user
    * expression to LITERALS of one per-statement instant. The statement
    * evaluates its expressions in several separate Spark jobs (pruning
    * fold, limit-1 probe, survivor rewrite, where persist is only
    * best-effort under eviction/task retry) — left unpinned,
    * current_timestamp()/current_date() would evaluate at a DIFFERENT
    * instant per job: pruning could drop files the executed predicate
    * matches, and the rewrite could write rows the probe never saw. The
    * clock functions arrive as UNRESOLVED nodes here —
    * functions.current_timestamp() lowers to UnresolvedFunction, the
    * bare SQL keyword to a one-part UnresolvedAttribute (claimed only
    * when no real column in `shadowNames` shadows the name, mirroring
    * Spark's literal-function resolution order) — plus the resolved
    * spellings for hand-built expressions. */
  /** The pinned literal for one clock function name at `nowInstant`
    * (session-zone-aware for the date/local spellings). */
  private def clockLit(spark: SparkSession,
                       nowInstant: java.time.Instant)(name: String)
      : Option[org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    lazy val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    name.toLowerCase match {
      case "current_timestamp" | "now" =>
        Some(Literal(DateTimeUtils.instantToMicros(nowInstant),
          TimestampType))
      case "current_date" | "curdate" =>
        Some(Literal(java.time.LocalDate.ofInstant(nowInstant, zone)
          .toEpochDay.toInt, DateType))
      case "localtimestamp" =>
        Some(Literal(DateTimeUtils.localDateTimeToMicros(
          java.time.LocalDateTime.ofInstant(nowInstant, zone)),
          TimestampNTZType))
      case _ => None
    }
  }

  private[io] def pinClock(spark: SparkSession, shadowNames: Seq[String],
                           nowInstant: java.time.Instant)
                          (c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    val clockLit = this.clockLit(spark, nowInstant) _
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Bridge.convertedExpression(spark, c)
        .transform {
          case f: UnresolvedFunction
              if f.nameParts.length == 1 && f.arguments.isEmpty &&
                clockLit(f.nameParts.head).isDefined =>
            clockLit(f.nameParts.head).get
          case ua: UnresolvedAttribute
              if ua.nameParts.length == 1 &&
                clockLit(ua.nameParts.head).isDefined &&
                !shadowNames.exists(
                  _.equalsIgnoreCase(ua.nameParts.head)) =>
            clockLit(ua.nameParts.head).get
          case _: CurrentTimestamp | _: Now =>
            clockLit("current_timestamp").get
          case _: CurrentDate => clockLit("current_date").get
          case _: LocalTimestamp => clockLit("localtimestamp").get
        })
  }

  /** Stamp the TABLE's nullability on an output column: a
    * literal-valued insert would otherwise write a NON-NULLABLE footer
    * for a column the table holds nulls in elsewhere — and since part
    * files sort mutation-prefix-first, first-footer schema inference
    * (mergeSchema=false) would then read the null-bearing generations
    * under a non-nullable schema and NPE in codegen. KnownNullable is a
    * no-op tag at execution; it only widens the ANALYZED schema the
    * part writers derive their footers from. */
  private[io] def nullableAsTable(c: org.apache.spark.sql.Column,
                                  nullable: Boolean)
      : org.apache.spark.sql.Column =
    if (!nullable) c
    else org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.KnownNullable(
        org.apache.spark.sql.graft.Bridge.expression(c)))

  /** [[pinClock]] for a whole ANALYZED frame (the INSERT statement's
    * query): resolved clock calls anywhere in the plan pin to literals
    * of one per-statement instant — the insert evaluates the plan in
    * two jobs (the emptiness probe and the write, whose persist is
    * best-effort, so a partition the probe cached carries the probe's
    * evaluation), and `INSERT ... SELECT current_timestamp()` must write
    * ONE instant. Only the RESOLVED spellings appear in an analyzed
    * plan. */
  private[io] def pinClockInPlan(spark: SparkSession, df: DataFrame,
                                 nowInstant: java.time.Instant): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions._
    val clockLit = this.clockLit(spark, nowInstant) _
    val pinned = df.queryExecution.analyzed.transformAllExpressions {
      case _: CurrentTimestamp | _: Now =>
        clockLit("current_timestamp").get
      case _: CurrentDate => clockLit("current_date").get
      case _: LocalTimestamp => clockLit("localtimestamp").get
    }
    org.apache.spark.sql.graft.Bridge.ofRows(spark, pinned)
  }

  /** Shared table resolution for every statement that opens a snapshot
    * table by path (replaceWhere, INSERT, COPY INTO): snapshot head,
    * face, hive layout, merged + partition schemas — ONE definition
    * (the same drift class relDirOf/hiveLayout were extracted for).
    * `requireHive` refuses non-hive subdirectories
    * for ops that must ROUTE rows by partition values; a pure delete
    * only drops rows and reads any layout. `snapshotsHint` tailors the
    * no-manifest refusal's guidance to the statement family. */
  private[io] final case class Resolved(root: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      snap: graft.sources.FeatherSnapshots.Snapshot,
      face: ConnectorFace, partCols: Seq[String],
      absFiles: Seq[(String, Long)],
      tableSchema: StructType,
      partSchema: StructType,
      fullSchema: StructType,
      caseSensitive: Boolean,
      leafByAbs: Map[String, graft.sources.FeatherPartitions.LeafFile]) {
    def partitioned: Boolean = partCols.nonEmpty
    def valuesByAbs: Map[String, Seq[(String, String)]] =
      leafByAbs.map { case (abs, lf) => abs -> lf.values }
    def dvPathsAll: Map[String, String] =
      snap.dvs.map { case (rel, (dvRel, _)) =>
        new Path(root, rel).toString -> new Path(root, dvRel).toString }
  }

  private[io] def resolveTable(spark: SparkSession, path: String,
      op: String, requireHive: Boolean,
      snapshotsHint: String = "row-level mutation is a manifest " +
        "operation; write the table with option(\"snapshots\", " +
        "\"true\") first",
      checkEmbedded: Boolean = true): Resolved = {
    import graft.sources.{FeatherPartitions, FeatherSnapshots}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(FeatherSnapshots.enabled(fs, root),
      s"$op on $path, which has no ${FeatherSnapshots.Dir} directory — " +
        snapshotsHint)
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      sys.error(s"$op on $path: no snapshot versions"))
    val face = ConnectorFace.detect(snap.files, op, path)
    val chains = snap.files.map { case (rel, _) => relDirOf(rel) }
      .distinct.filter(_.nonEmpty)
    val (hiveChains, partCols) = FeatherPartitions.hiveLayout(chains)
    require(chains.isEmpty || hiveChains || !requireHive,
      s"$op on $path: table has non-hive subdirectories " +
        s"(${chains.mkString(", ")}) — $op routes rows by " +
        "partition values and needs a hive key=value layout")
    val partitioned = partCols.nonEmpty
    val absFiles = snap.files.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    val tableSchema = face.mergedSchema(spark, absFiles)
    val discovered =
      if (!partitioned) None
      else Some(FeatherSnapshots.toDiscovered(root, snap))
    val partSchema: StructType =
      discovered.map(_.partSchema).getOrElse(new StructType())
    val fullSchema = StructType(tableSchema.fields ++ partSchema.fields)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    // refuse a table whose DATA files also embed a partition column: the
    // partition-value attach of a routed rewrite would clobber the
    // embedded values. A ROUTING contract — metadata-only consumers
    // (DESCRIBE) read such tables fine and must not inherit it
    val embedded = partCols.filter(p => tableSchema.fieldNames.exists(f =>
      f == p || (!caseSensitive && f.equalsIgnoreCase(p))))
    require(!checkEmbedded || embedded.isEmpty,
      s"$op: partition column(s) ${embedded.mkString(", ")} are ALSO " +
        "embedded in the data files — routing cannot tell the path copy " +
        "from the data copy")
    val leafByAbs: Map[String, FeatherPartitions.LeafFile] =
      discovered.map(_.files.map(lf => lf.file -> lf).toMap)
        .getOrElse(Map.empty)
    Resolved(root, fs, snap, face, partCols, absFiles, tableSchema,
      partSchema, fullSchema, caseSensitive, leafByAbs)
  }

  /** The relative DIRECTORY of a manifest rel path ("" for a root
    * file) — ONE definition (this split existed in four private copies,
    * the same drift class hiveLayout/stampLeaves were extracted for). */
  private[io] def relDirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** One schema-only stamp per distinct leaf of `relPaths` — the
    * all-rows-deleted shape shared by every mutation path (the
    * row-level writes, replaceWhere, overwrites): a table whose every row
    * dropped must still read as an EMPTY frame with its schema, and a
    * hive layout must keep its key=value paths (a single root-level
    * stamp would silently drop the partition columns discovery infers).
    * Stamp names ride the run-unique `prefix`, so a racing retry can
    * never truncate a stamp an already-won commit references. Returns
    * the (rel path, len) entries for the manifest. ONE definition —
    * this loop existed in four copies before r14, the same drift class
    * hiveLayout was extracted for. */
  private[graft] def stampLeaves(face: ConnectorFace,
                              fs: org.apache.hadoop.fs.FileSystem,
                              root: Path, relPaths: Seq[String],
                              prefix: String, schema: StructType)
      : Seq[(String, Long)] =
    relPaths.map(relDirOf).distinct.map { relDir =>
      val leafDir = if (relDir.isEmpty) root else new Path(root, relDir)
      val (name, len) = face.stamp(fs, leafDir, prefix, schema)
      (if (relDir.isEmpty) name else s"$relDir/$name", len)
    }

  /** Partitioned insert routing for the DataFrame writers — CTAS and
    * REPLACE ([[TableDdl]], the staged SQL CTAS / REPLACE included),
    * [[TableInserts]] and replaceWhere: source rows land in the leaf
    * THEIR partition values name (the hive contract — a matched
    * key whose source row carries other partition values moves leaves).
    * ONE distributed pass: the rows cluster by the partition columns,
    * the task holding a leaf writes its parts ([[LeafParts]], the SQL
    * writes' task writer), and the driver lands them ([[LeafWriter.land]])
    * — no distinct pass, no per-leaf job, no persist of the source, and a
    * row's leaf and content come from one evaluation of it. Tmp parts of
    * a failed or losing task attempt are swept by the run prefix. Returns
    * the (rel path, len, stats JSON) parts; the CALLER folds the merged
    * stats after its manifest commit ([[LeafWriter.foldStats]]).
    *
    * `partsFor(escapedRelDir)` sizes a leaf's parts — 1 for insert
    * batches (the default; a correction batch per leaf is small), the
    * leaf's rewritten-file count for replaceWhere's survivor rewrite
    * (whose routed output carries every candidate row, not just the
    * changed ones — one part per rewritten input keeps part counts
    * stable). */
  private[graft] def routePartitionedInserts(op: String, face: ConnectorFace,
                                      fs: org.apache.hadoop.fs.FileSystem,
                                      root: Path, src: DataFrame,
                                      partCols: Seq[String],
                                      tableSchema: StructType,
                                      prefix: String, codec: String,
                                      partsFor: Map[String, Int] = Map.empty)
      : Seq[(String, Long, String)] = {
    val spark = src.sparkSession
    // quoted: a column named `the d.ay` is one name, not a nested field
    def named(c: String) = col(QuotingUtils.quoteIdentifier(c))
    val rows = src.select((tableSchema.fieldNames.toSeq ++ partCols)
        .map(named): _*)
      .repartition(partCols.map(named): _*)
      .sortWithinPartitions(partCols.map(named): _*)
    val st = rows.schema
    val sinks = PartSinks(spark, face,
      StructType(st.fields.take(tableSchema.size)), codec)
    val confMap = GraftHadoop.confBroadcast(spark)
    val rootStr = root.toString
    val stem = s".$prefix"
    try {
      val parts = rows.queryExecution.toRdd.mapPartitionsWithIndex {
        (pid, it) =>
          val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
          val w = new LeafParts(op, st, partCols, sinks,
            GraftHadoop.execConf(confMap), new Path(rootStr),
            f"$stem-$pid%05d-a$attempt", pid, sorted = true, partsFor)
          try { it.foreach(w.write); w.commit().iterator }
          catch { case e: Throwable => w.abort(); throw e }
      }.collect().toSeq
      LeafWriter.land(fs, root, parts, prefix, face.suffix)
    } finally
      fs.listStatus(root).iterator
        .filter(e => !e.isDirectory && e.getPath.getName.startsWith(stem + "-"))
        .foreach(e => fs.delete(e.getPath, false))
  }

  /** Failure-path unwind for parts that never published: delete the
    * files and their stats sidecars — a manifest commit that threw
    * never made them visible. */
  private[graft] def deletePartsAndSidecars(
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      rels: Seq[String]): Unit =
    rels.foreach { rel =>
      try {
        fs.delete(new Path(root, rel), false)
        fs.delete(new Path(root, rel + ".stats.json"), false)
      } catch { case _: Exception => () }
      ()
    }

  /** Write the DV sidecars and compute the manifest actions for one
    * commit: fresh positions union into any existing binding (a fresh
    * sidecar per commit — the old one expires with its version); a DV
    * that would cover EVERY row of its file drops the file from the
    * manifest instead (stats-proven row counts only — no sidecar, no
    * shortcut): readers then skip the file entirely rather than decode
    * batches to discard every row. The file itself stays on disk for
    * time travel until expire(). Returns (bindings to set, rel paths to
    * drop). */
  private[graft] def bindDvs(fs: org.apache.hadoop.fs.FileSystem,
                      conf: org.apache.hadoop.conf.Configuration,
                      root: Path, snap: FeatherSnapshots.Snapshot,
                      targetV: Long, newByFile: Map[Int, Array[Long]],
                      fileRowCount: Int => Option[Long])
      : (Map[String, (String, Long)], Set[String]) = {
    val perFile: Map[Int, (String, Array[Long])] = newByFile.map {
      case (fid, fresh) =>
        val rel = snap.files(fid)._1
        val existing = snap.dvs.get(rel).map { case (dvRel, _) =>
          DeletionVectors.read(conf, new Path(root, dvRel).toString) }
        // union's contract is sorted inputs — the driver-collected
        // positions arrive in arbitrary order
        val sortedFresh = fresh.distinct.sorted
        fid -> (rel, existing.map(DeletionVectors.union(_, sortedFresh))
          .getOrElse(sortedFresh))
    }
    val (dropped, bound) = perFile.partition { case (fid, (_, all)) =>
      fileRowCount(fid).contains(all.length.toLong)
    }
    val newBindings: Map[String, (String, Long)] = bound.map {
      case (_, (rel, all)) =>
        val i = rel.lastIndexOf('/')
        val (relDir, name) =
          if (i < 0) ("", rel) else (rel.substring(0, i), rel.substring(i + 1))
        val leafDir = if (relDir.isEmpty) root else new Path(root, relDir)
        val dvFile = DeletionVectors.dvName(targetV, name)
        DeletionVectors.write(fs, leafDir, dvFile, all)
        rel -> ((if (relDir.isEmpty) dvFile else s"$relDir/$dvFile"),
          all.length.toLong)
    }
    (newBindings, dropped.values.map(_._1).toSet)
  }

  private sealed trait KeyRange
  private case object Unknown extends KeyRange // no/partial stats: must touch
  private case object NoRows extends KeyRange  // zero non-null keys: skip
  private final case class Rng(lo: Any, hi: Any) extends KeyRange

  /** Exact row count from per-batch stats — defined only when EVERY
    * batch carries a count (a partial answer could prove the wrong
    * thing). Shared by the delta write's full-coverage check and the
    * avro sink's zero-row check. */
  private[graft] def exactRows(batches: Seq[Map[String, FeatherStats.ColStat]])
      : Option[Long] = {
    val counts = batches.map(_.get(FeatherStats.RowCountKey) match {
      case Some(FeatherStats.ColStat.Count(n)) => Some(n)
      case _ => None
    })
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** The key probe of every keyed merge ([[ConditionalMerge]]): which
    * files (by index into `absFiles`) could contain a key from `keysDf`?
    * Stats ranges of the first key column (sorted-boundary binary search
    * on disjoint layouts, interval-stab on overlapping ones) and Bloom
    * sidecars fold into one distributed pass; a file without usable
    * stats is a candidate unconditionally — pruning is an optimization,
    * never a correctness input. Mutation keys never collect to the
    * driver; only candidate file indices do. */
  private[io] def probeTouched(spark: SparkSession,
                               absFiles: Seq[(String, Long)],
                               tableSchema: StructType,
                               keysDf: DataFrame,
                               keyCols: Seq[String]): Set[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = FeatherStats.loadForFiles(conf, absFiles)
    val k0 = keyCols.head
    val ranges: Seq[KeyRange] = absFiles.map { case (abs, _) =>
      stats.getOrElse(abs, None) match {
        case None => Unknown
        case Some(batches) =>
          val sts = batches.map(_.get(k0))
          if (sts.exists(_.isEmpty)) Unknown // a batch without k0 stats
          else {
            val live = sts.flatten.filter(_ != FeatherStats.ColStat.Empty)
            if (live.isEmpty) NoRows
            else {
              import FeatherStats.ColStat._
              if (live.forall(_.isInstanceOf[Longs]))
                Rng(live.map(_.asInstanceOf[Longs].lo).min,
                    live.map(_.asInstanceOf[Longs].hi).max)
              else if (live.forall(_.isInstanceOf[Doubles]))
                Rng(live.map(_.asInstanceOf[Doubles].lo).min,
                    live.map(_.asInstanceOf[Doubles].hi).max)
              else if (live.forall(_.isInstanceOf[Strings])) {
                // UTF-8 byte order, matching BoundBucket / Spark string
                // comparisons (Java's UTF-16 min/max would disagree
                // beyond the BMP and mis-sort the probe bounds)
                val ord = Ordering.fromLessThan[String](FeatherStats.utf8Lt)
                Rng(live.map(_.asInstanceOf[Strings].lo).min(ord),
                    live.map(_.asInstanceOf[Strings].hi).max(ord))
              } else Unknown
            }
          }
      }
    }

    // pruning family: both sides must map to the SAME stats family, else
    // a cast could silently move a key across a file boundary (e.g. a
    // double key overflowing a long cast) — when in doubt, touch.
    def integral(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true; case _ => false
    }
    def fractional(dt: DataType) = dt match {
      case FloatType | DoubleType => true; case _ => false
    }
    val family: Option[DataType] =
      (tableSchema(k0).dataType, keysDf.schema(k0).dataType) match {
        case (a, b) if integral(a) && integral(b) => Some(LongType)
        case (a, b) if fractional(a) && fractional(b) => Some(DoubleType)
        case (StringType, StringType) => Some(StringType)
        // dates probe in the LongType family: the stats tier records
        // them as epoch-day longs (FeatherStats.dateToDay), and the key
        // scan maps through unix_date to the same axis
        case (DateType, DateType) => Some(LongType)
        case _ => None
      }
    val dateKey = tableSchema(k0).dataType == DateType
    def keyAsFamily(dt: DataType): org.apache.spark.sql.Column =
      if (dateKey) unix_date(col(k0)).cast(LongType) else col(k0).cast(dt)

    val rangedIdx = ranges.zipWithIndex.collect { case (r: Rng, i) => (r, i) }
    val candidateIdx: Set[Int] = family match {
      case Some(dt) if rangedIdx.nonEmpty =>
        // stats whose value family disagrees with the chosen probe family
        // (foreign sidecars) can't be compared — touch them unconditionally
        def familyOk(v: Any): Boolean = (dt, v) match {
          case (LongType, _: Long) | (DoubleType, _: Double)
             | (StringType, _: String) => true
          case _ => false
        }
        val (typed, alien) = rangedIdx.partition { case (r, _) =>
          familyOk(r.lo) && familyOk(r.hi) }
        def lt(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Long, y: Long) => x < y
          case (x: Double, y: Double) => x < y
          // UTF-8 byte order: the sort/disjoint check must agree with the
          // ordering BoundBucket's binary search (UTF8String.compareTo)
          // applies, or a probe key could binary-search past its file
          case (x: String, y: String) => FeatherStats.utf8Lt(x, y)
          case _ => false
        }
        val sorted = typed.sortWith { case ((a, _), (b, _)) => lt(a.lo, b.lo) }
        val disjoint = sorted.size <= 1 ||
          sorted.iterator.sliding(2).forall(p => lt(p.head._1.hi, p(1)._1.lo))
        // Any -> expression-value / typed-literal-array converters shared
        // by BOTH probe shapes (a per-branch copy per key family would
        // silently drift when a family is added)
        def exprVal(v: Any): Any = v match {
          case s: String =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case other => other
        }
        def typedArrayCol(vs: Seq[Any]) = dt match {
          case LongType => lit(vs.map(_.asInstanceOf[Long]).toArray)
          case DoubleType => lit(vs.map(_.asInstanceOf[Double]).toArray)
          case _ => lit(vs.map(_.asInstanceOf[String]).toArray)
        }
        // one probe pass: (key, candidate fid) pairs through the range
        // structure, optionally filtered by per-file Bloom sidecars
        def probeOnce(blooms: Option[Array[Any]]): Set[Int] =
          if (typed.isEmpty) Set.empty
          else if (disjoint) {
            // sorted-boundary fast path (the invariant FeatherCluster
            // establishes): per key ONE O(log files) binary search fused
            // into the key scan — no join, no broadcast build
            import org.apache.spark.sql.graft.Bridge
            val los: Array[Any] = sorted.map(r => exprVal(r._1.lo)).toArray
            val his = sorted.map(_._1.hi)
            val fids = sorted.map(_._2)
            val keyed = keysDf.select(keyAsFamily(dt).as("__k"))
              .where(col("__k").isNotNull).distinct()
              .select(col("__k"), Bridge.column(graft.expressions.BoundBucket(
                los, Bridge.expression(col("__k")))).as("__b"))
              .where(col("__b") >= 0)
            val hit = keyed
              .where(element_at(typedArrayCol(his), col("__b") + 1) >= col("__k"))
              .select(element_at(lit(fids.toArray), col("__b") + 1).as("__fid"),
                col("__k"))
            blooms.map(arr => hit.where(Bridge.column(
                graft.expressions.BloomHit(arr,
                  Bridge.expression(col("__fid")),
                  Bridge.expression(col("__k"))))))
              .getOrElse(hit)
              .select("__fid").distinct().collect().map(_.getInt(0)).toSet
          } else {
            // overlapping ranges (multiple unclustered generations):
            // interval-STAB probe. Elementary segments between the sorted
            // distinct endpoints; segment i's candidates are exactly the
            // intervals CONTAINING its start breakpoint (no endpoint lies
            // strictly inside a segment, so an interval intersecting a
            // segment must contain its start). Per key: ONE O(log files)
            // binary search fused into the key scan (BoundBucket), an
            // explode of the segment's candidate list, and an exact
            // bounds re-check — O(keys · (log files + overlap depth))
            // instead of the old DISTINCT-keys × broadcast-ranges
            // BroadcastNestedLoopJoin's O(keys × files) comparisons.
            // Driver build is a single sweep over 2·files endpoint
            // events; the flattened segment→candidate table is files ×
            // overlap depth, and a pathological layout that blows the cap
            // falls back to the broadcast non-equi join instead of
            // OOMing the driver.
            import org.apache.spark.sql.graft.Bridge
            val anyOrd = Ordering.fromLessThan[Any](lt)
            val los = typed.map(_._1.lo)
            val his = typed.map(_._1.hi)
            val breakpoints = (los ++ his).distinct.sorted(anyOrd).toIndexedSeq
            val startsAt: Map[Any, Seq[Int]] = typed.indices.groupBy(los)
            val pq = scala.collection.mutable.PriorityQueue.empty[Int](
              Ordering.by[Int, Any](his)(anyOrd).reverse) // min-heap by hi
            val coverSegs = new Array[Array[Int]](breakpoints.size)
            var total = 0L
            var capped = false
            var i = 0
            while (i < breakpoints.size && !capped) {
              val b = breakpoints(i)
              startsAt.getOrElse(b, Nil).foreach(pq.enqueue(_))
              while (pq.nonEmpty && lt(his(pq.head), b)) { pq.dequeue(): Unit }
              coverSegs(i) = pq.toArray
              total += coverSegs(i).length
              if (total > 4000000L) capped = true
              i += 1
            }
            if (capped) {
              // overlap depth × breakpoints too large to materialize:
              // broadcast non-equi fallback (correct, O(keys×files))
              val schema = StructType(Seq(
                StructField("__fid", IntegerType, nullable = false),
                StructField("__lo", dt, nullable = false),
                StructField("__hi", dt, nullable = false)))
              val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
              typed.foreach { case (Rng(lo, hi), fi) =>
                rows.add(org.apache.spark.sql.Row(fi, lo, hi)) }
              val rangesDf = spark.createDataFrame(rows, schema)
              val hit = keysDf.select(keyAsFamily(dt).as("__k"))
                .where(col("__k").isNotNull).distinct()
                .join(broadcast(rangesDf),
                  col("__k") >= col("__lo") && col("__k") <= col("__hi"))
              blooms.map(arr => hit.where(Bridge.column(
                  graft.expressions.BloomHit(arr,
                    Bridge.expression(col("__fid")),
                    Bridge.expression(col("__k"))))))
                .getOrElse(hit)
                .select("__fid").distinct()
                .collect().map(_.getInt(0)).toSet
            } else {
              val segStarts: Array[Any] = breakpoints.map(exprVal).toArray
              val coverLit = typedlit(coverSegs.map(_.toSeq).toSeq)
              val hit = keysDf.select(keyAsFamily(dt).as("__k"))
                .where(col("__k").isNotNull).distinct()
                .select(col("__k"), Bridge.column(graft.expressions.BoundBucket(
                  segStarts, Bridge.expression(col("__k")))).as("__s"))
                .where(col("__s") >= 0) // below the smallest lo: no file
                .select(col("__k"),
                  explode(element_at(coverLit, col("__s") + 1)).as("__j"))
                .where(element_at(typedArrayCol(los), col("__j") + 1) <= col("__k") &&
                  col("__k") <= element_at(typedArrayCol(his), col("__j") + 1))
                .select(element_at(lit(typed.map(_._2).toArray),
                  col("__j") + 1).as("__fid"), col("__k"))
              blooms.map(arr => hit.where(Bridge.column(
                  graft.expressions.BloomHit(arr,
                    Bridge.expression(col("__fid")),
                    Bridge.expression(col("__k"))))))
                .getOrElse(hit)
                .select("__fid").distinct()
                .collect().map(_.getInt(0)).toSet
            }
          }
        // Bloom sidecars (FeatherBloom.build) fold into the SAME probe
        // pass: a range-candidate file whose bloom excludes the key drops
        // out inside the codegen filter — the refinement that saves a
        // SCATTERED key list (takedown ids span the whole table; ranges
        // alone prune nothing). Loading is one existence check + read per
        // ranged file, the same O(files) driver bound the stats load paid.
        val blooms: Option[Array[Any]] =
          if ((dt != LongType && dt != StringType) || dateKey) None
          else {
            val loaded = typed.flatMap { case (_, i) =>
              FeatherBloom.load(conf, absFiles(i)._1, absFiles(i)._2, k0)
                .map(i -> _) }
            if (loaded.isEmpty) None
            else {
              val arr = Array.fill[Any](absFiles.length)(null)
              loaded.foreach { case (i, b) => arr(i) = b }
              Some(arr)
            }
          }
        probeOnce(blooms) ++ alien.map(_._2)
      case _ => rangedIdx.map(_._2).toSet // no comparable family: touch all
    }
    ranges.zipWithIndex.collect {
      case (Unknown, i) => i
      case (_: Rng, i) if candidateIdx(i) => i
    }.toSet
  }
}
