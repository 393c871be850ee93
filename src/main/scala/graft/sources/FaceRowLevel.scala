package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.CommandResultExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{ConnectorFace, DeletionVectors, FeatherMutations, FeatherStats, GraftFeather, GraftHadoop, LeafPart, LeafParts, LeafWriter, PartSinks}

/** The DSv2 row-level machinery — the ONE SQL DML path for every graft
  * table: DELETE / UPDATE / MERGE, in every session, on EVERY face
  * (feather / parquet / avro) and layout (flat or hive-partitioned),
  * through Spark's OWN rewrite machinery (`RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` → ReplaceData for the
  * `graft` catalog, WriteDelta for `graft_dv`) and one scan/write pair
  * programmed against [[graft.io.ConnectorFace]] (the same per-format
  * adapter the maintenance tier uses). What differs per face and layout
  * is selected here from the face and layout — never a user setting:
  *
  *  - SPLITS: the feather face plans record-batch splits from the IPC
  *    footers ([[GraftFeather.planReadFiles]], [[MaxSplitBytes]]) and
  *    reads through the feather connector's reader; the other faces read
  *    one partition per file through [[ConnectorFace.fileRowsPos]].
  *  - BATCH SKIPPING: delta scans drop stats-empty feather batches INSIDE
  *    kept files (positions are batch-absolute, so skipping never shifts
  *    them); COW scans stay whole-file (the group contract below).
  *  - INSERTS: one task writer ([[FaceConvert]], [[graft.io.LeafParts]]).
  *    On a hive layout each task routes its rows to a part of the leaf
  *    their partition VALUES name, in the face's own format (an UPDATE
  *    that changes a partition column moves the row between leaves
  *    inside the one atomic commit); the COW write clusters and orders
  *    its rows by the partition columns first, so each touched leaf gains
  *    one part. The commit only renames the parts into their leaves — no
  *    Spark job. Flat feather tables rename their tmp feather parts in
  *    place (the tmp format IS the final format); other flat faces
  *    convert them in one distributed pass ([[ConnectorFace.writeParts]]).
  *
  * THE GROUP CONTRACT (what makes copy-on-write correct): the scan
  * defines the replacement granularity — whatever FILES it reads are the
  * "groups" the commit atomically replaces with the rewrite query's
  * output. Spark's planning rule (GroupBasedRowLevelOperationScanPlanning)
  * pushes the command's condition into the scan builder; the scan uses it
  * ONLY to prune whole files at planning time (partition directories,
  * stats sidecars proving every batch empty, blooms excluding every point
  * lookup), NEVER to drop rows or batches inside a kept file — they would
  * silently vanish from the rewritten table. Every pushed filter returns
  * as residual, so Spark re-evaluates the predicate row by row. A
  * condition no file statistic can answer (MERGE `ON t.id = s.id`,
  * `WHERE id % 97 = 5`) then narrows at RUNTIME: the COW scan offers
  * `_file` to Spark's RowLevelOperationRuntimeGroupFiltering, which runs
  * the statement's matching-rows query and hands back `_file IN (…)`, so
  * the groups become the planned files that hold a match and every other
  * file carries through the manifest under its own name.
  *
  * The scan and the write share one operation instance: the scan records
  * the snapshot it planned against, the groups and the planned files
  * ([[RowLevelScanState]]); the commit publishes through
  * [[FeatherSnapshots.commitMutation]] with readRel = the PLANNED files,
  * never the runtime-narrowed groups — the read-set
  * optimistic-concurrency contract (a concurrent rewrite or DV re-bind
  * of a READ file aborts loudly; disjoint mutations and blind appends
  * commute). The matching-rows query reads through the table's batch
  * scan, possibly at a newer snapshot: a file it pruned because a racing
  * commit rewrote it is still in the read set, so the statement aborts
  * instead of missing that file's matches. A statement left with no
  * group and no written row publishes NO version, but still checks its
  * read set against the head (a racer that rewrote the only matching
  * file leaves the runtime filter nothing to keep); so does a COW DELETE
  * of one file that wrote back every live row the file's stats count
  * (the runtime filter is not offered there). The manifest commit
  * swaps groups (COW) or binds deletion vectors (delta); tmp parts are
  * deleted either way, and a failed commit unwinds the final parts and
  * fresh DV sidecars.
  *
  * Every engine DML entry point runs here too: `deleteWhere`,
  * `deleteWhereDV` and `updateWhere` ([[graft.io.PredicateMutations]])
  * build Spark's DeleteFromTable / UpdateTable; `ConditionalMerge.execute`
  * / `executeDV` ([[graft.io.ConditionalMerge]]) and the keyed
  * `deleteByKey*` / `merge*` / `applyCdc*` built on it
  * ([[graft.io.FeatherMutations]]) Spark's MergeIntoTable — over
  * ``graft.`<path>` `` or ``graft_dv.`<path>` `` (a relation of a catalog
  * they build in place), so their pruning is this scan's. A keyed merge
  * also hands the scan its key probe's verdict on the table handle
  * ([[KeyedMerge]]): the files that provably hold no key are never
  * planned. Both writes report what the commit did as DSv2 driver
  * metrics on the command's plan — `commitVersion`, `filesRemoved`,
  * `filesKept`, `partsAdded`, `dvsBound`, `filesPlanned`
  * ([[RowLevelCommitMetrics]]) — which the SQL statements show and the
  * entry points return; so do the table appends an insert-only MERGE
  * becomes. A merge-on-read commit refuses past
  * [[FaceRowLevel.MaxDvPositionsKey]] deleted positions.
  *
  * Cost honesty: on a flat table of a converting face rewritten/inserted
  * rows are written twice (tmp feather, then the face part) — bytes ∝
  * the statement's own output, never the table, and the conversion is
  * one extra job per STATEMENT, not per file. A partitioned COW write
  * pays one shuffle of its output for the leaf clustering. Plain batch
  * READS of the parquet face do not come here — [[FaceScanBuilder]]
  * hands them to Spark's vectorized parquet reader
  * ([[ParquetFaceBatchScan]]). */
private[graft] object FaceRowLevel {
  /** One operation per (command, strategy): group-based COW for the
    * `graft` catalog, delta (DV sidecars) for `graft_dv`. */
  def operation(cmd: Command, path: String, face: ConnectorFace,
                dataSchema: StructType, partCols: Seq[String],
                partSchema: StructType, delta: Boolean,
                keyed: Option[KeyedMerge]): RowLevelOperation = {
    val cleared = keyed.fold(Set.empty[String])(_.cleared)
    val verb =
      if (keyed.exists(_.deleteOnly)) "delete" else cmd.toString.toLowerCase
    if (delta)
      new FaceDeltaOperation(cmd, path, face, dataSchema, partCols, partSchema,
        cleared, s"rowlevel_delta_$verb")
    else
      new FaceCowOperation(cmd, path, face, dataSchema, partCols, partSchema,
        cleared, s"rowlevel_$verb")
  }

  /** Feather split size for row-level scans — the connector's default. */
  val MaxSplitBytes: Long = 128L << 20

  /** Cap on the deletion-vector positions one merge-on-read statement
    * (DELETE, UPDATE or MERGE on `graft_dv`) may bind, checked in
    * [[FaceDeltaWrite]]'s commit. 10M positions ≈ 80 MB of longs; a
    * delete past it belongs to copy-on-write anyway. Session conf,
    * overridable per workload. */
  val MaxDvPositionsKey = "spark.graft.dv.maxDeletePositions"
  val MaxDvPositionsDefault: Long = 10000000L

  /** The rows a reader sees in files `rels` of `snap`: the stats
    * sidecars' exact counts less each file's deletion-vector count. None
    * when a file's stats carry no count (adopted, not yet backfilled). */
  def liveRows(root: org.apache.hadoop.fs.Path,
               snap: FeatherSnapshots.Snapshot,
               rels: Set[String]): Option[Long] = {
    val lenOf = snap.files.toMap
    FeatherStats.exactRowCount(
      SparkSession.active.sparkContext.hadoopConfiguration,
      rels.toSeq.map(rel =>
        (new org.apache.hadoop.fs.Path(root, rel).toString, lenOf(rel))))
      .map(_ - rels.toSeq.flatMap(snap.dvs.get).map(_._2).sum)
  }
}

/** What one of the engine's keyed merges ([[graft.io.ConditionalMerge]])
  * hands the row-level path on its statement's table handle
  * ([[graft.catalog.GraftTable.withKeyedMerge]]):
  *
  *  - `cleared`: the key probe's verdict
  *    ([[graft.io.FeatherMutations.probeTouched]]) — root-relative names
  *    of files of the probed snapshot that provably hold no key. Every
  *    scan of the handle drops them; a file committed after the probe
  *    carries a name the verdict never saw and is planned, so the planned
  *    set (the read set) stays the candidates.
  *  - `deleteOnly`: every clause deletes, so the commit records a delete
  *    and a snapshot stream treats it as one (its added files hold only
  *    already-delivered survivors).
  *
  * A typed field, not a predicate or an option: a `_file IN (…)`
  * conjunct in the ON condition fails Spark's copy-on-write analysis (the
  * group-filter subquery does not carry the metadata column), and an
  * option or conf would be a knob nothing outside the engine should set. */
private[graft] final case class KeyedMerge(cleared: Set[String],
                                           deleteOnly: Boolean)

// ---------------------------------------------------------------------------
// operations
// ---------------------------------------------------------------------------

/** What the row-level SCAN hands the row-level WRITE: both operations
  * host one scan-state slot, set by the scan at planning time and read by
  * the write at commit. One operation instance serves one statement
  * execution (Spark holds it in a RowLevelOperationTable), and the scan
  * plans strictly before the write commits. */
private[sources] trait RowLevelHost {
  def command(): Command
  /** The operation name the commit records in the manifest. */
  def opName: String
  /** COW scans are group-based: whole files, narrowed at runtime to the
    * files holding a match. Delta scans may skip batches inside kept
    * files instead. */
  def groupBased: Boolean
  @volatile private[sources] var scanState: Option[RowLevelScanState] = None
}

/** What the row-level scan read: the snapshot it planned against, the
  * root-relative names of the files it kept (= the groups a COW commit
  * replaces; the runtime group filter narrows them to the files holding
  * a match) and the files it planned before any runtime filter (the read
  * set of either commit). */
private[sources] final case class RowLevelScanState(
    snap: FeatherSnapshots.Snapshot, keptRel: Set[String],
    readRel: Set[String])

private class FaceCowOperation(cmd: Command, path: String,
                               face: ConnectorFace, dataSchema: StructType,
                               partCols: Seq[String], partSchema: StructType,
                               keyCleared: Set[String], val opName: String)
    extends RowLevelOperation with RowLevelHost {
  override def command(): Command = cmd
  override def groupBased: Boolean = true
  override def description(): String =
    s"graft COW $cmd on $path (${face.label} face)"
  /** `_file` rides the rewrite plan: a metadata attribute puts Spark's
    * write pipeline into data+metadata mode
    * (DataAndMetadataWritingSparkTask), which projects the plan's
    * bookkeeping columns (`__row_operation`, `_file`) AWAY before rows
    * reach the part writer. Without one Spark hands the writer the RAW
    * query output, operation column included, which no fixed-schema
    * writer can decode. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FaceScanBuilder(Some(this), face, path,
      StructType(dataSchema.fields ++ partSchema.fields), partSchema, None,
      keyCleared)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FaceCowWrite(this, info.schema(), path, face, dataSchema, partCols)
}

/** Merge-on-read: every deleted or pre-update row arrives as a
  * `delete(_, rowId)` callback carrying the engine's stable row id
  * `(_file, _pos)`, and the commit persists those positions as
  * deletion-vector sidecars bound in the manifest — bytes written scale
  * with DELETED ROWS, not touched files. Updates split into DELETE +
  * INSERT (an in-place update of an immutable part does not exist). */
private class FaceDeltaOperation(cmd: Command, path: String,
                                 face: ConnectorFace, dataSchema: StructType,
                                 partCols: Seq[String], partSchema: StructType,
                                 keyCleared: Set[String], val opName: String)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta
    with RowLevelHost {
  override def command(): Command = cmd
  override def groupBased: Boolean = false
  override def description(): String =
    s"graft delta (merge-on-read) $cmd on $path (${face.label} face)"
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName),
      Expressions.column(GraftMetaColumns.PosName))
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FaceScanBuilder(Some(this), face, path,
      StructType(dataSchema.fields ++ partSchema.fields), partSchema, None,
      keyCleared)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new FaceDeltaWrite(this, info, path, face, dataSchema, partCols)
}

// ---------------------------------------------------------------------------
// scan
// ---------------------------------------------------------------------------

/** `host = Some(op)`: a row-level read (records the scan state the write
  * commits against). `host = None`: the catalog's BATCH read for faces
  * without a DSv2 delegate (the parquet face) — optional time-travel
  * pin. */
private[graft] class FaceScanBuilder(host: Option[RowLevelHost],
                                     face: ConnectorFace, path: String,
                                     fullSchema: StructType,
                                     partSchema: StructType,
                                     pinnedVersion: Option[Long],
                                     keyCleared: Set[String] = Set.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var fileFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    fileFilters = filters.filter(FeatherScanBuilder.usable)
    filters // ALL residual: file/leaf skipping only, Spark re-filters rows
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    fileFilters
  override def build(): Scan =
    // the parquet face's BY-NAME batch read rides the engine's read plan
    // (vectorized splits — see ParquetFaceBatchScan); row-level scans
    // (host = Some) stay on the whole-file group contract
    if (host.isEmpty && (face eq graft.io.ConnectorFace.ParquetFace))
      new ParquetFaceBatchScan(face, path, required, fileFilters.toSeq,
        StructType(fullSchema.fields.filterNot(f =>
          partSchema.fieldNames.contains(f.name))),
        partSchema, pinnedVersion, owned = fullSchema.fieldNames.toSet,
        keyCleared)
    else
      new FaceScan(host, face, path, required, fileFilters.toSeq, partSchema,
        pinnedVersion, owned = fullSchema.fieldNames.toSet, keyCleared)
}

private[sources] class FaceScan(host: Option[RowLevelHost],
                                face: ConnectorFace, path: String,
                                readSchema0: StructType,
                                fileFilters: Seq[org.apache.spark.sql.sources.Filter],
                                partSchema: StructType,
                                pinnedVersion: Option[Long],
                                owned: Set[String] = Set.empty,
                                keyCleared: Set[String] = Set.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {
  private val feather = face eq ConnectorFace.FeatherFace
  private val batchSkip = host.exists(!_.groupBased)
  override def readSchema(): StructType = readSchema0
  override def description(): String =
    s"graft ${face.label} face scan `$path`" + (if (fileFilters.nonEmpty)
      s", FileSkipFilters: ${fileFilters.mkString(", ")}" else "")
  override def toBatch: Batch = this

  // resolved ONCE per scan instance: the snapshot, the kept files, their
  // DVs and splits must be one consistent view — re-resolving per call
  // could straddle a concurrent commit. private[sources]: the parquet
  // batch scan reuses this exact planning
  private[sources] lazy val planned
      : (RowLevelScanState, Array[InputPartition], Long) = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val snap = FeatherSnapshots.resolve(fs, root, pinnedVersion).getOrElse(
      throw new IllegalStateException(
        s"${face.label} scan on $path: no snapshot manifest"))
    val disc = FeatherSnapshots.toDiscovered(root, snap)
    val relOfAbs: Map[String, String] = snap.files.map { case (rel, _) =>
      new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
    // partition-DIRECTORY pruning first (free), then STATS-FIRST
    // whole-file pruning, then blooms for point lookups, footers only
    // for survivors: the sidecars are length-validated (a present entry
    // covers every row of exactly this file) and loads are merged-first
    // — O(directories) + O(kept) planning, never O(files) footer fetches
    // for a narrow statement over a wide table
    // a key probe's verdict names files of ITS snapshot: a file
    // committed after it (a blind append, a compaction's output) carries
    // a name the verdict never saw, so it is planned
    val leafKept =
      (if (disc.partCols.isEmpty || fileFilters.isEmpty) disc.files
       else disc.files.filter(
         FeatherPartitions.survives(_, disc.partSchema, fileFilters)))
        .filterNot(l => keyCleared(relOfAbs(l.file)))
    val statsByFile
        : Map[String, Option[Seq[Map[String, FeatherStats.ColStat]]]] =
      if (fileFilters.isEmpty) Map.empty
      else FeatherStats.loadForFiles(conf, leafKept.map(l => (l.file, l.len)))
    val pointFilters = FeatherScanBuilder.pointLookups(fileFilters)
    def statsEmpty(abs: String): Boolean =
      statsByFile.getOrElse(abs, None).exists(stats =>
        stats.nonEmpty && stats.forall(
          FeatherStats.batchProvablyEmpty(_, fileFilters)))
    def bloomExcluded(abs: String, len: Long): Boolean =
      pointFilters.nonEmpty &&
        graft.io.FeatherBloom.excludesFile(conf, abs, len, pointFilters)
    // schema stamps (`<prefix>-empty.<ext>`) hold ZERO rows by the
    // engine's reserved naming — never a group (a no-op statement must
    // publish NO version), never scanned
    val candidates = leafKept.filterNot(l =>
      l.file.endsWith(s"-empty${face.suffix}") ||
        statsEmpty(l.file) || bloomExcluded(l.file, l.len))
    // (file, batch indices) per partition: Nil = the whole file
    val splits: Seq[(FeatherPartitions.LeafFile, Seq[Int])] =
      if (!feather) candidates.map(l => (l, Nil))
      else featherSplits(spark, candidates, statsByFile)
    val kept = splits.map(_._1).distinct
    val keptRel = kept.map(l => relOfAbs(l.file)).toSet
    val state = RowLevelScanState(snap, keptRel, keptRel)
    val parts = splits.map { case (l, idxs) =>
      // `_file` splices per split exactly like a partition value; `_pos`
      // rides per row; the DV binding rides every split of its file
      val pv = l.values ++
        GraftMetaColumns.fileValue(readSchema0, l.file, l.values, owned)
      // LeafFile.dv already carries the ROOT-RESOLVED sidecar path
      // (toDiscovered) — re-resolving doubled the prefix for relative
      // roots (absolute roots silently absorbed it: Path(parent, abs)
      // = abs), caught by the pqread scale receipt
      val dv = l.dv.map(_._1)
      val pos = GraftMetaColumns.posName(readSchema0, l.values, owned)
      (if (feather) FeatherInputPartition(l.file, l.len, idxs, pv, dv, pos)
       else FaceInputPartition(l.file, l.len, pv, dv, pos)): InputPartition
    }.toArray
    (state, parts, kept.map(_.len).sum)
  }

  /** Footer-planned record-batch splits of the surviving feather files. A
    * file the plan gives ZERO batches can never produce a row — never a
    * group. Delta scans also drop stats-empty batches inside kept files.
    * Stats only prune: a sidecar holds one entry per batch for a part the
    * engine wrote but ONE entry for the whole file after a backfill, so
    * its length is never the file's batch count (hence `i < stats.size`;
    * a whole-file entry that proves batch 0 empty proves the file empty). */
  private def featherSplits(
      spark: SparkSession, files: Seq[FeatherPartitions.LeafFile],
      statsByFile: Map[String, Option[Seq[Map[String, FeatherStats.ColStat]]]])
      : Seq[(FeatherPartitions.LeafFile, Seq[Int])] = {
    if (files.isEmpty) return Nil
    val byFile = files.map(l => l.file -> l).toMap
    GraftFeather.planReadFiles(spark, files.map(l => (l.file, l.len)),
      FaceRowLevel.MaxSplitBytes)._2.flatMap { case (f, _, idxs) =>
      val keep = statsByFile.getOrElse(f, None) match {
        case Some(stats) if batchSkip => idxs.filterNot(i => i < stats.size &&
          FeatherStats.batchProvablyEmpty(stats(i), fileFilters))
        case _ => idxs
      }
      if (keep.isEmpty) None else Some((byFile(f), keep))
    }
  }

  /** The runtime group filter (Spark's
    * RowLevelOperationRuntimeGroupFiltering): offered on COW scans only,
    * never when the table owns `_file` (the reference would resolve to
    * stored values — [[GraftMetaColumns.fileValue]]'s shadowing rule),
    * and only when the plan kept more than one file: with one, the filter
    * can only turn a no-match statement into a no-op, for two extra jobs
    * on every pruned statement. A one-file DELETE proves its no-match at
    * commit instead, by the row count ([[FaceCowWrite]]), and gets the
    * filter only when its file's stats carry no count; a one-file MERGE
    * always gets it (a merge that changes nothing publishes no version —
    * the engine's key-pruned merges often plan one file); a no-match
    * UPDATE narrowed to one file republishes that file. Asking resolves
    * [[planned]]: the rule asks BEFORE it builds the matching-rows query,
    * so that query's batch scan reads this snapshot or a newer one, never
    * an older one — a newer one is what the read-set check catches. */
  override def filterAttributes(): Array[NamedReference] = {
    val state = planned._1
    def oneFileFilter = host.exists(h => h.command() == Command.MERGE ||
      h.command() == Command.DELETE &&
        FaceRowLevel.liveRows(new org.apache.hadoop.fs.Path(path),
          state.snap, state.keptRel).isEmpty)
    if (host.exists(_.groupBased) &&
        !owned.contains(GraftMetaColumns.FileName) &&
        (state.keptRel.size > 1 || state.keptRel.size == 1 && oneFileFilter))
      Array(Expressions.column(GraftMetaColumns.FileName))
    else Array.empty
  }

  /** Planned files narrowed to those the runtime filter names — None
    * until Spark calls [[filter]]. */
  @volatile private var runtimeKept: Option[Set[String]] = None

  /** Records `_file IN (…)` — the files the matching-rows query saw a
    * match in. Planning is not redone: [[planInputPartitions]] drops the
    * other files' splits. Every face's batch read splices `_file` from the
    * same catalog path as [[absOf]], so the literals compare as they are.
    * Any other predicate narrows nothing. */
  override def filter(predicates: Array[Predicate]): Unit = {
    val (state, _, _) = planned
    predicates.foreach { p =>
      p.children().toSeq match {
        case (ref: NamedReference) +: values if p.name() == "IN" &&
            ref.fieldNames().sameElements(Array(GraftMetaColumns.FileName)) =>
          val hit = values.collect { case l: Literal[_] =>
            l.value().toString }.toSet
          runtimeKept = Some(runtimeKept.getOrElse(state.keptRel).filter(rel =>
            hit(absOf(rel))))
        case _ => ()
      }
    }
  }

  private def absOf(rel: String): String =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(path), rel)
      .toString

  /** Spark calls this again after [[filter]]: that call publishes the
    * narrowed groups (the read set stays the planned files). */
  override def planInputPartitions(): Array[InputPartition] = {
    val (state, parts, _) = planned
    runtimeKept match {
      case None =>
        host.foreach(_.scanState = Some(state))
        parts
      case Some(rels) =>
        host.foreach(_.scanState = Some(state.copy(keptRel = rels)))
        val abs = rels.map(absOf)
        parts.filter {
          case p: FeatherInputPartition => abs(p.file)
          case p: FaceInputPartition => abs(p.file)
        }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // lenient decode: an evolved table's older files null-fill the
    // columns an ALTER added (the catalog serves the merged union schema)
    if (feather)
      return new FeatherReaderFactory(readSchema0, -1,
        GraftHadoop.confBroadcast(spark), mergeSchema = true)
    val (state, _, _) = planned
    val root = new org.apache.hadoop.fs.Path(path)
    val keptAbs = state.keptRel.toSeq.map(rel =>
      new org.apache.hadoop.fs.Path(root, rel).toString)
    val lenOf = state.snap.files.map { case (rel, len) =>
      new org.apache.hadoop.fs.Path(root, rel).toString -> len }.toMap
    // avro merged reader schema, resolved ONCE per scan and shipped via
    // the (broadcast) factory, never per partition; a scan that planned
    // no file (everything pruned) opens no reader and has none to resolve
    val readerJson =
      if (keptAbs.isEmpty) ""
      else face.readerJson(spark, keptAbs.map(abs => (abs, lenOf(abs))))
    new FaceReaderFactory(face, readSchema0, readerJson,
      GraftHadoop.confBroadcast(spark))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(planned._3)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}

private[sources] case class FaceInputPartition(
    file: String, len: Long, partValues: Seq[(String, String)],
    dvPath: Option[String], posName: Option[String])
    extends InputPartition

/** Whole-file rows of a non-feather face through [[SplicedRowReader]]. */
private class FaceReaderFactory(
    face: ConnectorFace, readSchema: StructType, readerJson: String,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FaceInputPartition]
    new SplicedRowReader(readSchema, p.partValues, p.posName, p.dvPath, -1,
      confMap)((conf, cols, _, dv, track, untrack) =>
      face.fileRowsPos(conf, readerJson, p.file, p.len, cols, dv, track,
        untrack))
  }
}

/** The engine's DSv2 metadata columns, served by EVERY face's scans:
  *
  *  - `_file` — the absolute data-file path of each row (Spark's
  *    `_metadata.file_path` parity for the connector). A per-split
  *    CONSTANT, spliced exactly like the hive partition values.
  *  - `_pos` — the row's format-local stable position inside its file.
  *    The ENCODING is face-specific (each face's DV position axis):
  *    feather packs `(recordBatch << 32) | rowInBatch`
  *    ([[graft.io.DeletionVectors.featherPos]]), avro packs
  *    `(blockSyncOffset << 24) | recordInBlock`, parquet serves the
  *    file-wide row ordinal (Spark's `_metadata.row_index`). All three
  *    are split-plan-invariant, so `(_file, _pos)` is the stable row id
  *    the DELTA row-level operations key their deletion vectors on;
  *    `SELECT _pos` serves it too — compare positions only within one
  *    face, never across faces. */
private[graft] object GraftMetaColumns {
  val FileName = "_file"
  val PosName = "_pos"

  val columns: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = FileName
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "absolute path of the data file holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = PosName
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "format-local stable row position inside the data file " +
            "(encoding varies by face: feather packs batch<<32|row, " +
            "avro packs block offset|record, parquet is the row ordinal)"
      })

  /** `_pos` splice request for a split — mirrors [[fileValue]]'s
    * shadowing rule: a table-owned `_pos` (hive partition OR data
    * column) wins, because Spark hides a conflicting metadata column and
    * the reference is then the table column. */
  def posName(readSchema: StructType,
              existing: Seq[(String, String)] = Seq.empty,
              owned: Set[String] = Set.empty): Option[String] =
    if (readSchema.fieldNames.contains(PosName) &&
        !existing.exists(_._1 == PosName) && !owned.contains(PosName))
      Some(PosName)
    else None

  /** The (name, value) splice entry for a split of file `f` — empty when
    * the projected schema never asked for `_file`, and empty when the
    * TABLE already owns a `_file` column (a hive partition value in
    * `existing`, or a data/partition column in `owned` — the table's own
    * schema): Spark hides a conflicting metadata column
    * (canRenameConflictingMetadataColumns = false), so the reference is
    * the table column and the splice must not shadow its value. */
  def fileValue(readSchema: StructType, f: String,
                existing: Seq[(String, String)] = Seq.empty,
                owned: Set[String] = Set.empty)
      : Seq[(String, String)] =
    if (readSchema.fieldNames.contains(FileName) &&
        !existing.exists(_._1 == FileName) && !owned.contains(FileName))
      Seq(FileName -> f)
    else Seq.empty
}

/** What a reader factory supplies to [[SplicedRowReader]]: the split's
  * DATA rows (the `dataNames` columns, in order), each with its `_pos`
  * coordinate when `withPos` (or 0 — the splice ignores it), the deletion
  * vector (null = none) applied, and every opened resource reported to
  * `track` (and to `untrack` once the iterator released it). */
private[sources] trait SplitRows {
  def apply(conf: org.apache.hadoop.conf.Configuration,
            dataNames: Seq[String], withPos: Boolean, dv: Array[Long],
            track: AutoCloseable => Unit, untrack: AutoCloseable => Unit)
      : Iterator[(Long, org.apache.spark.sql.Row)]
}

/** The ONE partition reader every row-producing scan shares (the feather
  * and avro connectors, the non-feather row-level faces): partition
  * columns come from the directory chain, not the file — their (projected
  * position → typed value) splice is precomputed once per split; `_file`
  * arrives as one more split constant in `partValues`; `_pos` splices
  * per ROW from the source's coordinate; the deletion vector loads once
  * per split (executor-side, tiny file). A throw AFTER a resource opened
  * but BEFORE construction finished (missing column, corrupt footer)
  * means Spark never gets a reader to close() — released here, or the fd
  * and its buffers leak per retry. */
private[sources] final class SplicedRowReader(
    readSchema: StructType, partValues: Seq[(String, String)],
    posName: Option[String], dvPath: Option[String], limit: Int,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])(
    source: SplitRows)
    extends PartitionReader[InternalRow] {
  // per-JVM cached rebuild — O(entries) once per executor, not per
  // partition (the 10⁵-partition lens)
  private val execConf = GraftHadoop.execConf(confMap)
  private val open = scala.collection.mutable.Set.empty[AutoCloseable]
  private val toInternal =
    CatalystTypeConverters.createToCatalystConverter(readSchema)
  private val partRaw = partValues.toMap
  private val partAt: Map[Int, Any] =
    readSchema.fields.zipWithIndex.collect {
      case (f, i) if partRaw.contains(f.name) =>
        i -> FeatherPartitions.castValue(partRaw(f.name), f.dataType)
    }.toMap
  private val posIdx: Int = posName.map(readSchema.fieldIndex).getOrElse(-1)
  private val dataNames = readSchema.fieldNames.filterNot(n =>
    partRaw.contains(n) || posName.contains(n)).toSeq
  private val rows: Iterator[(Long, org.apache.spark.sql.Row)] = {
    val all =
      try {
        val dv = dvPath.map(DeletionVectors.read(execConf, _)).orNull
        source(execConf, dataNames, posIdx >= 0, dv, open.add(_),
          open.remove(_))
      } catch { case e: Throwable => close(); throw e }
    if (limit >= 0) all.take(limit) else all
  }
  private var current: InternalRow = _
  private def splice(pos: Long, dataRow: org.apache.spark.sql.Row)
      : org.apache.spark.sql.Row =
    if (partAt.isEmpty && posIdx < 0) dataRow
    else {
      var di = 0
      org.apache.spark.sql.Row.fromSeq(
        readSchema.fields.indices.map { i =>
          if (i == posIdx) pos
          else partAt.getOrElse(i, { val v = dataRow.get(di); di += 1; v })
        })
    }
  override def next(): Boolean =
    if (rows.hasNext) {
      val (pos, r) = rows.next()
      current = toInternal(splice(pos, r)).asInstanceOf[InternalRow]
      true
    } else false
  override def get(): InternalRow = current
  override def close(): Unit =
    open.foreach(r => try r.close() catch { case _: Exception => () })
}

// ---------------------------------------------------------------------------
// writes
// ---------------------------------------------------------------------------

/** The insert side shared by the catalog writes ([[FaceBatchWrite]],
  * [[FaceCowWrite]], the insert half of [[FaceDeltaWrite]]): one task
  * writer ([[graft.io.LeafParts]]) and one driver finalization.
  *
  *  - a HIVE-PARTITIONED table's tasks route each row to a part of the
  *    leaf its partition values name, in the face's own format, and the
  *    commit only renames each part into its leaf under the run prefix
  *    and writes its stats sidecar ([[graft.io.LeafWriter.land]]) — no
  *    Spark job at commit;
  *  - a FLAT feather table's tasks write feather parts the commit renames
  *    in place the same way (the tmp format IS the final format);
  *  - a FLAT table of another face lands tmp feather parts that the
  *    commit converts into face parts in one writeParts pass, capped at
  *    the cluster parallelism.
  *
  * The merged stats fold runs only after the manifest commit published
  * the parts ([[graft.io.LeafWriter.foldStats]]), so a lost conflict
  * check strands no cache entry (per-part sidecars cover readers in the
  * window; merged is a planning cache). */
private[sources] object FaceConvert {
  /** The writes' task-side factory: rows of `st` routed by `routeCols`
    * into `face` parts, or (no route) into flat feather parts. `sorted`
    * when the write declared the leaf clustering ([[LeafClustering]]). */
  def writerFactory(op: String, face: ConnectorFace, st: StructType,
                    routeCols: Seq[String], path: String,
                    sorted: Boolean): LeafWriterFactory = {
    val spark = SparkSession.active
    val sinks =
      if (routeCols.isEmpty) PartSinks(spark, ConnectorFace.FeatherFace, st,
        "lz4")
      else PartSinks(spark, face, StructType(st.fields.filterNot(f =>
        routeCols.exists(_.equalsIgnoreCase(f.name)))), "lz4")
    new LeafWriterFactory(op, st, routeCols, sinks, path, sorted,
      GraftHadoop.confBroadcast(spark))
  }

  /** Land the tasks' parts as FINAL face parts of version `targetV`'s
    * run prefix; returns (rel path, len, stats JSON) — the caller commits
    * them, then folds their stats. Converted tmp parts are deleted here,
    * success or not (they were never visible). */
  def toFaceParts(face: ConnectorFace, fs: org.apache.hadoop.fs.FileSystem,
                  path: String, parts: Seq[LeafPart], dataSchema: StructType,
                  partCols: Seq[String], targetV: Long)
      : Seq[(String, Long, String)] = {
    if (parts.isEmpty) return Seq.empty
    val prefix = FeatherSnapshots.runPrefix(targetV)
    val root = new org.apache.hadoop.fs.Path(path)
    if (partCols.nonEmpty || (face eq ConnectorFace.FeatherFace))
      return LeafWriter.land(fs, root, parts, prefix, face.suffix)
    try {
      val df = GraftFeather.readFiles(SparkSession.active, parts.map(p =>
        (new org.apache.hadoop.fs.Path(path, p.tmpName).toString, p.bytes)))
      // cap the write fan-out like the mutation tier: a 32-task insert
      // must not fill the table with 32 near-empty parts per statement
      face.writeParts(
        df.select(dataSchema.fieldNames.toSeq.map(
          org.apache.spark.sql.functions.col): _*)
          .coalesce(ConnectorFace.capWriteParts(df)),
        path, prefix, face.codecFor("lz4"))
    } finally deleteTmp(fs, path, parts)
  }

  /** Delete tasks' tmp parts (abort, or parts a commit never lands). */
  def deleteTmp(fs: org.apache.hadoop.fs.FileSystem, path: String,
                parts: Seq[LeafPart]): Unit =
    parts.foreach { p =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, p.tmpName), false)
      catch { case _: Exception => () }
      ()
    }

  /** The write schema must round-trip through the tmp feather parts. */
  def requireFeatherMappable(st: StructType): Unit =
    st.fields.foreach(f =>
      GraftFeather.toArrowField(f.name, f.dataType, f.nullable))
}

/** What one write task landed. */
private[sources] final case class LeafCommitMessage(parts: Seq[LeafPart])
    extends WriterCommitMessage

private[sources] final class LeafWriterFactory(
    op: String, st: StructType, routeCols: Seq[String], sinks: PartSinks,
    path: String, sorted: Boolean,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends DataWriterFactory {
  /** The task's parts, under `.part-<partition>-task-<task>` tmp names. */
  def parts(partitionId: Int, taskId: Long): LeafParts =
    new LeafParts(op, st, routeCols, sinks, GraftHadoop.execConf(confMap),
      new org.apache.hadoop.fs.Path(path),
      f".part-$partitionId%05d-task-$taskId", partitionId, sorted)

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val w = parts(partitionId, taskId)
    override def write(row: InternalRow): Unit = w.write(row)
    override def commit(): WriterCommitMessage = LeafCommitMessage(w.commit())
    override def abort(): Unit = w.abort()
    override def close(): Unit = ()
  }
}

/** The leaf clustering a routed write asks of Spark: rows clustered and
  * ordered by the partition columns, so each leaf's rows reach one task,
  * in one run — one open part per task, one part per touched leaf per
  * statement (AQE coalesces the small shuffle). No clustering when the
  * write routes nothing. */
private[sources] trait LeafClustering
    extends org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  protected def clusterCols: Seq[String]
  // one-part references: a partition column named `the d.ay` is one name
  private def clusterRefs: Seq[NamedReference] =
    clusterCols.map(c => Expressions.column(QuotingUtils.quoteIdentifier(c)))
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (clusterCols.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      clusterRefs.toArray[org.apache.spark.sql.connector.expressions.Expression])
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterRefs.map(r => Expressions.sort(r,
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      .toArray
}

/** What a table commit did, as DSv2 driver metrics: both row-level
  * writes and the table appends ([[FaceBatchWrite]], the feather and avro
  * sinks — where an insert-only MERGE lands) declare them
  * (`supportedCustomMetrics`) and report them (`reportDriverMetrics`),
  * which Spark's write exec posts on the command's physical plan once the
  * commit returns. The SQL statements show them in their executed plan;
  * the engine entry points ([[graft.io.PredicateMutations]],
  * [[graft.io.ConditionalMerge]]) read their `Result` from them — never
  * from a diff of the head, which a concurrent commit inside the
  * statement's window would make name the wrong version.
  *
  *  - `commitVersion`: the version the commit published, or the planned
  *    snapshot's version when it published none;
  *  - `filesRemoved`: files dropped from the manifest (COW groups, or
  *    files a delta delete masked entirely);
  *  - `filesKept`: planned-snapshot files carried through untouched;
  *  - `partsAdded`: parts the commit added (schema stamps included);
  *  - `dvsBound`: deletion-vector sidecars bound;
  *  - `filesPlanned`: files the row-level scan planned — the read set a
  *    concurrent commit is checked against (0 for appends and
  *    overwrites, which plan no row-level scan). */
private[graft] object RowLevelCommitMetrics {
  // Spark's UI instantiates these by class name to aggregate the values
  sealed abstract class Sum(n: String, d: String) extends CustomSumMetric {
    override def name(): String = n
    override def description(): String = d
  }
  final class CommitVersion extends Sum("commitVersion", "commit version")
  final class FilesRemoved extends Sum("filesRemoved", "files removed")
  final class FilesKept extends Sum("filesKept", "files kept")
  final class PartsAdded extends Sum("partsAdded", "parts added")
  final class DvsBound extends Sum("dvsBound", "deletion vectors bound")
  final class FilesPlanned extends Sum("filesPlanned", "files planned")

  /** In [[Report]]'s field order. */
  def supported: Array[CustomMetric] = Array(new CommitVersion,
    new FilesRemoved, new FilesKept, new PartsAdded, new DvsBound,
    new FilesPlanned)
  private val names: Seq[String] = supported.map(_.name()).toSeq

  final case class Report(version: Long, filesRemoved: Int, filesKept: Int,
                          partsAdded: Int, dvsBound: Int,
                          filesPlanned: Int = 0) {
    def toTaskMetrics: Array[CustomTaskMetric] =
      names.zip(Seq(version, filesRemoved.toLong, filesKept.toLong,
          partsAdded.toLong, dvsBound.toLong, filesPlanned.toLong)).map {
        case (n, v) =>
          new CustomTaskMetric {
            override def name(): String = n
            override def value(): Long = v
          }: CustomTaskMetric
      }.toArray
  }

  /** A report for a statement that published nothing. */
  def noOp(snap: FeatherSnapshots.Snapshot, filesPlanned: Int = 0): Report =
    Report(snap.version, 0, snap.files.size, 0, 0, filesPlanned)

  /** The report on an executed row-level command's plan (the plan of a
    * DataFrame built over a DELETE / UPDATE / MERGE); None when no node
    * of it carries these metrics. */
  def of(df: org.apache.spark.sql.DataFrame): Option[Report] = {
    val physical = df.queryExecution.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    physical.collectFirst {
      case p if names.forall(p.metrics.contains) =>
        names.map(p.metrics(_).value)
    }.map(v => Report(v(0), v(1).toInt, v(2).toInt, v(3).toInt, v(4).toInt,
      v(5).toInt))
  }

  /** Both writes' side: declare the metrics, report what `commit` set. */
  trait Reporting extends Write {
    @volatile protected var report: Option[Report] = None
    override def supportedCustomMetrics(): Array[CustomMetric] = supported
    override def reportDriverMetrics(): Array[CustomTaskMetric] =
      report.map(_.toTaskMetrics).getOrElse(Array.empty)
  }
}

/** Group-based COW write (finalize first: a MERGE into a fully-pruned
  * table still publishes its NOT MATCHED inserts; no-read no-write
  * statements publish NO version; unwind on a lost conflict check). A
  * hive-partitioned table's rewrite clusters by its partition columns
  * ([[LeafClustering]]): each touched leaf gains one part. */
private class FaceCowWrite(op: RowLevelHost,
                                    st: StructType,
                                    path: String, face: ConnectorFace,
                                    dataSchema: StructType,
                                    partCols: Seq[String])
    extends WriteBuilder with Write with BatchWrite with LeafClustering
    with RowLevelCommitMetrics.Reporting {
  FaceConvert.requireFeatherMappable(st)

  override protected def clusterCols: Seq[String] = partCols
  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft COW ${op.command()} $path (${face.label})"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    FaceConvert.writerFactory(op.opName, face, st, partCols, path,
      sorted = true)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = op.scanState.getOrElse(throw new IllegalStateException(
      s"row-level ${op.command()} on $path: write committed before the " +
        "scan planned — the group set is unknown"))
    val data = messages.toSeq.collect { case m: LeafCommitMessage => m }
      .flatMap(_.parts)
    // a one-file DELETE that wrote back every live row of its group
    // deleted nothing (the scan offers no runtime filter on one counted
    // file): no version, at no extra job
    def rows(p: LeafPart): Long =
      FeatherStats.fromJson(p.statsJson).flatMap(_.get(FeatherStats.RowCountKey))
        .collect { case FeatherStats.ColStat.Count(n) => n }.sum
    val noneDeleted = op.command() == Command.DELETE &&
      state.keptRel.size == 1 &&
      FaceRowLevel.liveRows(root, state.snap, state.keptRel)
        .contains(data.map(rows).sum)
    if (noneDeleted) FaceConvert.deleteTmp(fs, path, data)
    val opName = op.opName
    if (noneDeleted || state.keptRel.isEmpty && data.isEmpty) {
      // nothing replaced, nothing written: no version. The runtime group
      // filter may have narrowed a non-empty read set to no group (or the
      // one-file DELETE wrote its group back whole), so that read set is
      // still checked — a racing rewrite of a matching file must abort
      // the statement, not turn it into a no-op.
      if (state.readRel.nonEmpty)
        FeatherSnapshots.requireReadSetCurrent(fs, root, opName, state.snap,
          state.readRel)
      report = Some(RowLevelCommitMetrics.noOp(state.snap,
        state.readRel.size))
      return
    }
    val targetV = state.snap.version + 1
    val parts = FaceConvert.toFaceParts(face, fs, path, data, dataSchema,
      partCols, targetV)
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    added ++= parts.map { case (rel, len, _) => (rel, len) }
    if (added.isEmpty &&
        state.snap.files.forall { case (rel, _) => state.keptRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        state.snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), dataSchema)
    val version =
      try
        FeatherSnapshots.commitMutation(fs, root, opName, state.snap,
          removeRel = state.keptRel, add = added.toSeq,
          readRel = Some(state.readRel))
      catch { case e: Throwable =>
        FeatherMutations.deletePartsAndSidecars(fs, root, added.toSeq.map(_._1))
        throw e
      }
    report = Some(RowLevelCommitMetrics.Report(version, state.keptRel.size,
      state.snap.files.size - state.keptRel.size, added.size, 0,
      state.readRel.size))
    LeafWriter.foldStats(fs, root, parts)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FaceConvert.deleteTmp(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
      path, messages.toSeq.collect { case m: LeafCommitMessage => m }
        .flatMap(_.parts))
}

/** Delta write: deleted rows → DV sidecars (per-face position encodings
  * ride the scans' `_pos` on the way in and the faces' DV-aware reads on
  * the way out), inserted rows → final parts through
  * [[FaceConvert.toFaceParts]], one atomic manifest commit, full unwind
  * (parts, sidecars, fresh DVs) when the conflict check loses. It asks
  * for no clustering — a DELETE gains no shuffle — so the insert half
  * routes unsorted rows: one part per leaf per task. A file whose
  * UNION'd vector covers every row (stats-proven) is dropped from the
  * manifest instead of carrying a full mask ([[FeatherMutations.bindDvs]]). The commit refuses a statement whose
  * deleted positions sum past [[FaceRowLevel.MaxDvPositionsKey]] before
  * it finalizes a part or writes a sidecar: the task commit messages
  * already brought the positions to the driver, so the cap bounds the
  * sidecar write and the manifest, not the collect. */
private class FaceDeltaWrite(op: RowLevelHost,
                                      info: LogicalWriteInfo,
                                      path: String, face: ConnectorFace,
                                      dataSchema: StructType,
                                      partCols: Seq[String])
    extends DeltaWriteBuilder with DeltaWrite with DeltaBatchWrite
    with RowLevelCommitMetrics.Reporting {

  private val rowSchema: StructType = info.schema()
  private val rowIdSchema: StructType = info.rowIdSchema().orElseThrow(() =>
    new IllegalStateException(
      s"delta ${op.command()} on $path: Spark supplied no rowId schema"))
  FaceConvert.requireFeatherMappable(rowSchema)

  override def build(): DeltaWrite = this
  override def toBatch(): DeltaBatchWrite = this
  override def description(): String =
    s"graft delta ${op.command()} $path (${face.label})"

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    new FaceDeltaWriterFactory(rowIdSchema,
      FaceConvert.writerFactory(op.opName, face, rowSchema, partCols, path,
        sorted = false))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val state = op.scanState.getOrElse(throw new IllegalStateException(
      s"delta ${op.command()} on $path: write committed before the scan " +
        "planned — the touched-file set is unknown"))
    val msgs = messages.collect { case m: FaceDeltaCommitMessage => m }
    val relOfAbs: Map[String, String] = state.snap.files.map {
      case (rel, _) =>
        new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
    val relIdx: Map[String, Int] =
      state.snap.files.map(_._1).zipWithIndex.toMap
    val byFid = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    msgs.foreach(_.deletes.foreach { case (abs, poss) =>
      val rel = relOfAbs.getOrElse(abs, throw new IllegalStateException(
        s"delta ${op.command()} on $path: writer reported deletions in " +
          s"'$abs', which is not in the scanned snapshot"))
      byFid.getOrElseUpdate(relIdx(rel),
        scala.collection.mutable.ArrayBuffer.empty[Long]) ++= poss
    })
    // the position cap, before any part finalizes or sidecar writes: the
    // throw makes Spark call abort, which deletes the tmp insert parts
    val maxPos = spark.conf.get(FaceRowLevel.MaxDvPositionsKey,
      FaceRowLevel.MaxDvPositionsDefault.toString).toLong
    val selected = byFid.valuesIterator.map(_.size.toLong).sum
    require(selected <= maxPos,
      s"delta ${op.command()} on $path: this statement selects $selected " +
        s"rows for deletion, above the $maxPos-position cap " +
        s"(${FaceRowLevel.MaxDvPositionsKey}) — use copy-on-write " +
        "(deleteWhere, or the `graft` catalog), where a delete this large " +
        "pays for its rewrite")
    val insertMsgs = msgs.toSeq.flatMap(_.inserts)
    // nothing deleted, nothing inserted: a no-match statement publishes
    // NO version (replay-clean, the COW contract)
    if (byFid.isEmpty && insertMsgs.isEmpty) {
      report = Some(RowLevelCommitMetrics.noOp(state.snap,
        state.readRel.size))
      return
    }
    val targetV = state.snap.version + 1
    val opName = op.opName
    val parts = FaceConvert.toFaceParts(face, fs, path, insertMsgs,
      dataSchema, partCols, targetV)
    // exact row counts (stats sidecars) let fully-masked files DROP from
    // the manifest instead of carrying a 100%-coverage vector — loads
    // are bounded by the TOUCHED file set, not the table
    val touched = byFid.keys.map(state.snap.files(_)).toSeq
      .map { case (rel, len) =>
        (new org.apache.hadoop.fs.Path(root, rel).toString, len) }
    val statsByFile = FeatherStats.loadForFiles(conf, touched)
    def fileRowCount(fid: Int): Option[Long] = {
      val abs = new org.apache.hadoop.fs.Path(root,
        state.snap.files(fid)._1).toString
      statsByFile.getOrElse(abs, None).flatMap(FeatherMutations.exactRows)
    }
    val (bindings, droppedRel) = FeatherMutations.bindDvs(fs, conf, root,
      state.snap, targetV,
      byFid.view.mapValues(_.toArray).toMap, fileRowCount)
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    added ++= parts.map { case (rel, len, _) => (rel, len) }
    // every file dropped and nothing inserted: schema stamps keep the
    // table readable (the mutation tier's shared all-rows-deleted shape)
    if (added.isEmpty && droppedRel.nonEmpty &&
        state.snap.files.forall { case (rel, _) => droppedRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        state.snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), dataSchema)
    val version =
      try
        FeatherSnapshots.commitMutation(fs, root, opName, state.snap,
          removeRel = droppedRel, add = added.toSeq, setDvs = bindings,
          readRel = Some(state.readRel))
      catch { case e: Throwable =>
        // the publish failed (conflict): parts, stamps AND the freshly
        // written DV sidecars were never visible — delete them all
        FeatherMutations.deletePartsAndSidecars(fs, root, added.toSeq.map(_._1))
        bindings.values.foreach { case (dvRel, _) =>
          try fs.delete(new org.apache.hadoop.fs.Path(root, dvRel), false)
          catch { case _: Exception => () }
          ()
        }
        throw e
      }
    report = Some(RowLevelCommitMetrics.Report(version, droppedRel.size,
      state.snap.files.size - droppedRel.size - bindings.size, added.size,
      bindings.size, state.readRel.size))
    LeafWriter.foldStats(fs, root, parts)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FaceConvert.deleteTmp(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
      path, messages.toSeq.collect { case m: FaceDeltaCommitMessage => m }
        .flatMap(_.inserts))
}

/** One task's delta output: its insert parts plus its deleted positions
  * grouped by ABSOLUTE data-file path. */
private case class FaceDeltaCommitMessage(
    inserts: Seq[LeafPart],
    deletes: Map[String, Array[Long]]) extends WriterCommitMessage

private class FaceDeltaWriterFactory(rowIdSchema: StructType,
                                     inserts: LeafWriterFactory)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {
    private val fileIdx = rowIdSchema.fieldIndex(GraftMetaColumns.FileName)
    private val posIdx = rowIdSchema.fieldIndex(GraftMetaColumns.PosName)
    // deleted positions per absolute file path — memory ∝ rows THIS task
    // deletes (the same driver-side bound the engine's DV delete has,
    // sharded across tasks here)
    private val deletes = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    // the insert parts open lazily: a pure DELETE never creates a tmp
    // file at all
    private var insertPw: LeafParts = null
    private def insertWriter = {
      if (insertPw == null) insertPw = inserts.parts(partitionId, taskId)
      insertPw
    }

    override def delete(meta: InternalRow, id: InternalRow): Unit = {
      // the id row is a reused projection — copy the file path out
      val f = id.getUTF8String(fileIdx).toString
      deletes.getOrElseUpdate(f,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(posIdx)
      ()
    }

    override def insert(row: InternalRow): Unit = insertWriter.write(row)

    // unreachable with representUpdateAsDeleteAndInsert = true; kept
    // total so a Spark behavior change degrades to the same semantics
    override def update(meta: InternalRow, id: InternalRow,
                        row: InternalRow): Unit = {
      delete(meta, id); insert(row)
    }

    override def commit(): WriterCommitMessage =
      FaceDeltaCommitMessage(
        Option(insertPw).fold(Seq.empty[LeafPart])(_.commit()),
        deletes.view.mapValues(_.toArray).toMap)

    override def abort(): Unit = if (insertPw != null) insertPw.abort()
    override def close(): Unit = ()
  }
}
