package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{ConnectorFace, FeatherStats, GraftFeather, GraftHadoop}

/** Group-based (copy-on-write) DSv2 row-level operations for flat
  * feather snapshot tables — how SQL DELETE / UPDATE / MERGE against
  * `graft.<ns>.<table>` (or `graft.`/path``) run, in every session,
  * through Spark's OWN rewrite machinery (`RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` → ReplaceData).
  * Hive-partitioned tables and the other faces take [[FaceRowLevel]].
  *
  * THE GROUP CONTRACT (what makes copy-on-write correct here):
  *
  *  - the scan defines the replacement granularity: whatever FILES it
  *    reads are the "groups" the commit atomically replaces with the
  *    rewrite query's output. Spark's planning rule
  *    (GroupBasedRowLevelOperationScanPlanning) pushes the command's
  *    condition into the scan builder — the scan may use it ONLY to
  *    prune whole files (a pruned file is left untouched), NEVER to
  *    drop rows or batches inside a kept file: dropped rows would
  *    silently vanish from the rewritten table. The feather scan's
  *    batch-level stats skipping is therefore deliberately absent here;
  *    pruning is whole-file (partition-less tables: stats sidecars
  *    proving EVERY batch empty, or a bloom excluding every point
  *    lookup), and every pushed filter is returned as residual so Spark
  *    re-evaluates the predicate row-by-row above the scan.
  *
  *  - the scan and the write share this operation instance: the scan
  *    records the snapshot it planned against and the files it kept;
  *    the write's commit publishes through
  *    [[FeatherSnapshots.commitMutation]] with readRel = removeRel =
  *    those files — the r16 optimistic-concurrency contract (a
  *    concurrent rewrite of a READ file aborts loudly; disjoint
  *    mutations and blind appends commute).
  *
  * This FEATHER-NATIVE pair serves flat feather tables (split scans,
  * zero-copy part renames); every other face/layout routes through the
  * ConnectorFace-generic siblings in [[FaceRowLevel]]. The one refusal
  * left in GraftTable.newRowLevelOperationBuilder is the pinned
  * time-travel handle (read-only by definition).
  */
/** What the row-level SCAN hands the row-level WRITE: both the COW and
  * the delta operations host one scan-state slot, set by the scan at
  * planning time and read by the write at commit. One operation instance
  * serves one statement execution (Spark holds it in a
  * RowLevelOperationTable), and the scan plans strictly before the write
  * commits. */
private[sources] trait FeatherRowLevelHost {
  def command(): Command
  @volatile private[sources] var scanState: Option[FeatherCowState] = None
}

private[graft] class FeatherRowLevelOperation(cmd: Command, path: String,
                                              fullSchema: StructType,
                                              maxSplitBytes: Long)
    extends RowLevelOperation with FeatherRowLevelHost {

  override def command(): Command = cmd
  override def description(): String = s"graft COW $cmd on $path"

  /** `_file` (the table's metadata column) rides the rewrite plan. This
    * is what puts Spark's write pipeline into its data+metadata mode
    * (DataAndMetadataWritingSparkTask): the plan's bookkeeping columns —
    * `__row_operation`, `_file` — are projected AWAY from the data rows
    * before they reach the part writer, and the metadata row arrives
    * through the `DataWriter.write(meta, row)` overload whose default
    * ignores it. Without a metadata attribute Spark hands the writer the
    * RAW query output, operation column included (the
    * plain-DataWritingSparkTask path), which no fixed-schema writer can
    * decode. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftMetaColumns.FileName))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FeatherCowScanBuilder(this, path, fullSchema, maxSplitBytes)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FeatherCowWrite(this, info.schema(), path)
}

/** What the COW scan read: the snapshot it planned against and the
  * root-relative names of the files it kept (= the groups the commit
  * replaces). */
private[sources] final case class FeatherCowState(
    snap: FeatherSnapshots.Snapshot, keptRel: Set[String])

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

private class FeatherCowScanBuilder(op: FeatherRowLevelHost,
                                    path: String, fullSchema: StructType,
                                    maxSplitBytes: Long,
                                    batchSkip: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var fileFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  // file-skip-only pushdown: remember the shapes the skipping index can
  // use, return EVERY filter as residual (row-level evaluation stays with
  // Spark — the group contract above)
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    fileFilters = filters.filter(FeatherScanBuilder.usable)
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    fileFilters
  override def build(): Scan =
    new FeatherCowScan(op, required, path, maxSplitBytes, fileFilters.toSeq,
      batchSkip, owned = fullSchema.fieldNames.toSet)
}

/** The row-level read shared by the COW and delta operations. With
  * `batchSkip = false` (COW) pruning is WHOLE-FILE only — the group
  * contract: a kept file's every batch must be read or rewritten rows
  * would vanish. With `batchSkip = true` (delta) stats may drop batches
  * INSIDE a kept file too: a delta write touches only the rows it is
  * handed, untouched rows stay in place, and `_pos` coordinates are
  * batch-absolute — skipping batches never shifts them. */
private class FeatherCowScan(op: FeatherRowLevelHost,
                             readSchema0: StructType, path: String,
                             maxSplitBytes: Long,
                             fileFilters: Seq[org.apache.spark.sql.sources.Filter],
                             batchSkip: Boolean = false,
                             owned: Set[String] = Set.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = readSchema0
  override def description(): String =
    s"graft ${if (batchSkip) "delta" else "COW"} scan `$path`" +
      (if (fileFilters.nonEmpty)
        s", FileSkipFilters: ${fileFilters.mkString(", ")}" else "")
  override def toBatch: Batch = this

  // resolved ONCE per scan instance (memoized): the snapshot, the kept
  // files, and their splits must be one consistent view — re-resolving
  // per call could straddle a concurrent commit
  private lazy val planned: (FeatherCowState, Array[InputPartition]) = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      throw new IllegalStateException(
        s"row-level ${op.command()} on $path: no snapshot manifest"))
    val disc = FeatherSnapshots.toDiscovered(root, snap)
    val relOfAbs: Map[String, String] = snap.files.map { case (rel, _) =>
      new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
    // STATS-FIRST whole-file pruning, footers only for survivors: the
    // sidecars are length-validated (a present entry was written for
    // exactly this file content, so it covers every batch — the same
    // trust the COUNT(*) pushdown answers from), and loads are
    // merged-first (O(directories), not O(files)). Footer-planning all
    // files BEFORE pruning would cost O(files) footer fetches for a
    // narrow DELETE over a wide table — the wrong side of a 10⁵-part
    // 100 TB layout.
    val files = disc.files.map(l => (l.file, l.len))
    val statsByFile
        : Map[String, Option[Seq[Map[String, FeatherStats.ColStat]]]] =
      if (fileFilters.isEmpty) Map.empty
      else FeatherStats.loadForFiles(conf, files)
    val pointFilters = FeatherScanBuilder.pointLookups(fileFilters)
    def statsEmpty(abs: String): Boolean =
      statsByFile.getOrElse(abs, None).exists(stats =>
        stats.nonEmpty && stats.forall(
          FeatherStats.batchProvablyEmpty(_, fileFilters)))
    def bloomExcluded(abs: String, len: Long): Boolean =
      pointFilters.nonEmpty &&
        graft.io.FeatherBloom.excludesFile(conf, abs, len, pointFilters)
    val candidates = disc.files.filterNot(l =>
      statsEmpty(l.file) || bloomExcluded(l.file, l.len))
    val splits0 = GraftFeather.planReadFiles(spark,
      candidates.map(l => (l.file, l.len)), maxSplitBytes)._2
    // delta mode may skip batches INSIDE kept files (positions are
    // batch-absolute; untouched rows stay in place) — COW must not
    val splits = if (!batchSkip) splits0 else splits0.flatMap {
      case (f, len, idxs) =>
        val keep = statsByFile.getOrElse(f, None) match {
          case Some(stats) => idxs.filter(i => !(i < stats.size &&
            FeatherStats.batchProvablyEmpty(stats(i), fileFilters)))
          case None => idxs
        }
        if (keep.isEmpty) None else Some((f, len, keep))
    }
    val batchesByFile: Map[String, Seq[Int]] =
      splits.groupBy(_._1).view.mapValues(_.flatMap(_._3)).toMap
    // a file the footer plan gives ZERO batches (schema stamps) can
    // never produce a row — never a group, regardless of stats
    val kept = candidates.filter(l =>
      batchesByFile.getOrElse(l.file, Seq.empty).nonEmpty)
    val keptAbs = kept.map(_.file).toSet
    val dvByAbs = kept.flatMap(l => l.dv.map(d => l.file -> d._1)).toMap
    val state = FeatherCowState(snap, keptAbs.map(relOfAbs))
    val parts = splits.filter(s => keptAbs(s._1)).map { case (f, len, idxs) =>
      // partition values empty by construction (hive layouts are refused
      // upstream); `_file` splices per split exactly like a partition
      // value; `_pos` rides per row; the DV binding rides every split
      FeatherInputPartition(f, len, idxs,
        GraftMetaColumns.fileValue(readSchema0, f, owned = owned),
        dvByAbs.get(f),
        GraftMetaColumns.posName(readSchema0, owned = owned))
        : InputPartition
    }.toArray
    (state, parts)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (state, parts) = planned
    op.scanState = Some(state)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // lenient decode: an evolved table's older files null-fill the
    // columns an ALTER added (the catalog serves the merged union schema)
    new FeatherReaderFactory(readSchema0, -1,
      GraftHadoop.confBroadcast(SparkSession.active), mergeSchema = true)
}

/** The flat-feather ReplaceData write: the shared [[FaceCowWrite]]
  * commit protocol with ZERO-COPY insert finalization — tmp feather
  * parts RENAME to finals (flat feather is the one face whose tmp and
  * final formats coincide, so it never pays the generic conversion). */
private class FeatherCowWrite(op: FeatherRowLevelHost, st: StructType,
                              path: String)
    extends FaceCowWrite(op, st, path, ConnectorFace.FeatherFace, st, Nil) {
  override protected def finalizeInserts(
      fs: org.apache.hadoop.fs.FileSystem,
      msgs: Seq[FeatherCommitMessage], opName: String, targetV: Long)
      : (Seq[(String, Long)],
         Map[String, (Long, Seq[Map[String, FeatherStats.ColStat]])]) = {
    val renamed = FeatherDsvWrites.renameParts(fs, path, msgs)
    (renamed.map { case (n, (len, _)) => (n, len) }.toSeq, renamed)
  }
}

/** Shared plumbing of the engine's DSv2 writes that publish through a
  * MANIFEST commit (the row-level COW/delta writes, the staged
  * CREATE/REPLACE write): rename the tasks' tmp parts to gen-tagged
  * finals and write their stats sidecars. PUBLISHING belongs to the
  * caller (one atomic manifest commit owns visibility), and so does the
  * merged-stats fold — callers run [[graft.io.FeatherStats.upsertMerged]]
  * only AFTER their manifest commit succeeds, so a lost conflict check
  * never strands cache entries for parts that were never published
  * (per-part sidecars cover readers in the window; merged is a planning
  * cache). */
private[sources] object FeatherDsvWrites {
  /** Rename tmp parts to final names + write per-part sidecars; returns
    * final name → (bytes, batch stats), the upsertMerged input shape.
    * ZERO-ROW parts (empty batch stats — a task every row bypassed) are
    * deleted, not renamed: publishing them would add one junk file per
    * idle task to the manifest. */
  def renameParts(fs: org.apache.hadoop.fs.FileSystem, path: String,
                  committed: Seq[FeatherCommitMessage])
      : Map[String, (Long, Seq[Map[String, FeatherStats.ColStat]])] = {
    // the append sink's naming: the gen tag keeps these parts
    // collision-free beside retained generations
    val gen = f"-g${System.nanoTime()}%x"
    committed.flatMap { m =>
      val stats = FeatherStats.fromJson(m.statsJson)
      val tmp = new org.apache.hadoop.fs.Path(path, m.tmpName)
      if (stats.isEmpty) {
        try fs.delete(tmp, false) catch { case _: Exception => () }
        None
      } else {
        val fin = new org.apache.hadoop.fs.Path(path,
          f"part-${m.partitionId}%05d-${java.util.UUID.nameUUIDFromBytes(
            m.tmpName.getBytes("UTF-8"))}$gen.feather")
        require(fs.rename(tmp, fin), s"commit rename $tmp -> $fin failed")
        val sc = fs.create(new org.apache.hadoop.fs.Path(path,
          fin.getName + ".stats.json"), true)
        try sc.write(m.statsJson.getBytes("UTF-8")) finally sc.close()
        Some(fin.getName -> (m.bytes, stats))
      }
    }.toMap
  }

  /** Failure-path unwind: delete finalized parts and their sidecars — a
    * manifest commit that threw never made them visible. */
  def deleteFinalized(fs: org.apache.hadoop.fs.FileSystem, path: String,
                      names: Seq[String]): Unit =
    names.foreach { n =>
      try {
        fs.delete(new org.apache.hadoop.fs.Path(path, n), false)
        fs.delete(new org.apache.hadoop.fs.Path(path, n + ".stats.json"),
          false)
      } catch { case _: Exception => () }
      ()
    }
}
