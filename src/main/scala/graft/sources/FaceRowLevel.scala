package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{ConnectorFace, DeletionVectors, FeatherMutations, FeatherStats, GraftFeather, GraftHadoop}

/** FACE-GENERIC DSv2 row-level machinery — the SQL DML path for every
  * graft table that is not flat feather: DELETE / UPDATE / MERGE, in
  * every session, run on EVERY face (feather / parquet / avro) and on
  * hive-partitioned layouts, through one scan/write pair programmed against
  * [[graft.io.ConnectorFace]] (the same per-format adapter the
  * maintenance tier uses).
  *
  * The SCAN ([[FaceScan]]) plans one InputPartition per kept data file:
  * partition-directory pruning (conservative tri-state over the pushed
  * filters), whole-file stats pruning, then the face's own row iterator
  * with the file's deletion vector applied; hive partition values,
  * `_file`, and the per-row `_pos` splice in exactly like the feather
  * connector's reader. Every pushed filter returns as residual — for the
  * GROUP (COW) operation that is the group contract (a kept file's every
  * row must flow through the rewrite); for the batch-read fallback it
  * just means Spark re-filters rows above the scan. Whole-file
  * granularity is deliberate: a row-level rewrite is file-granular
  * anyway. Plain batch READS of the parquet face do not come here —
  * [[FaceScanBuilder]] hands them to Spark's vectorized parquet reader
  * ([[ParquetFaceBatchScan]], DV-bound snapshots as masked rows).
  *
  * The WRITES land each task's rows as TMP FEATHER parts (the engine's
  * one universal task-side row writer), and the driver-side commit
  * converts them into final face parts in one distributed pass —
  * [[ConnectorFace.writeParts]] for flat tables,
  * [[FeatherMutations.routePartitionedInserts]] for hive layouts (rows
  * route to the leaf their partition VALUES name, so an UPDATE that
  * changes a partition column moves the row between leaves inside the
  * one atomic commit). The manifest commit then swaps groups (COW) or
  * binds deletion vectors (delta) exactly like the feather-only paths;
  * tmp parts are deleted either way, and a failed commit unwinds the
  * converted parts and fresh DV sidecars.
  *
  * Cost honesty: rewritten/inserted rows are written twice (tmp feather,
  * then the face part). Bytes ∝ the statement's own output — never the
  * table — and the conversion is one extra job per STATEMENT, not per
  * file. */
private[graft] object FaceRowLevel {
  /** One operation per (command, strategy): group-based COW for the
    * `graft` catalog, delta (DV sidecars) for `graft_dv`. */
  def operation(cmd: Command, path: String, face: ConnectorFace,
                dataSchema: StructType, partCols: Seq[String],
                partSchema: StructType, delta: Boolean): RowLevelOperation =
    if (delta)
      new FaceDeltaOperation(cmd, path, face, dataSchema, partCols, partSchema)
    else
      new FaceCowOperation(cmd, path, face, dataSchema, partCols, partSchema)
}

// ---------------------------------------------------------------------------
// operations
// ---------------------------------------------------------------------------

private class FaceCowOperation(cmd: Command, path: String,
                               face: ConnectorFace, dataSchema: StructType,
                               partCols: Seq[String], partSchema: StructType)
    extends RowLevelOperation with FeatherRowLevelHost {
  override def command(): Command = cmd
  override def description(): String =
    s"graft COW $cmd on $path (${face.label} face)"
  // puts Spark's write pipeline into data+metadata mode so the plan's
  // bookkeeping columns strip before rows reach the part writer (the
  // feather COW operation's contract)
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FaceScanBuilder(Some(this), face, path,
      StructType(dataSchema.fields ++ partSchema.fields), partSchema, None)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FaceCowWrite(this, info.schema(), path, face, dataSchema, partCols)
}

private class FaceDeltaOperation(cmd: Command, path: String,
                                 face: ConnectorFace, dataSchema: StructType,
                                 partCols: Seq[String], partSchema: StructType)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta
    with FeatherRowLevelHost {
  override def command(): Command = cmd
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
      StructType(dataSchema.fields ++ partSchema.fields), partSchema, None)
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
private[graft] class FaceScanBuilder(host: Option[FeatherRowLevelHost],
                                     face: ConnectorFace, path: String,
                                     fullSchema: StructType,
                                     partSchema: StructType,
                                     pinnedVersion: Option[Long])
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
        partSchema, pinnedVersion, owned = fullSchema.fieldNames.toSet)
    else
      new FaceScan(host, face, path, required, fileFilters.toSeq, partSchema,
        pinnedVersion, owned = fullSchema.fieldNames.toSet)
}

private[sources] class FaceScan(host: Option[FeatherRowLevelHost],
                                face: ConnectorFace, path: String,
                                readSchema0: StructType,
                                fileFilters: Seq[org.apache.spark.sql.sources.Filter],
                                partSchema: StructType,
                                pinnedVersion: Option[Long],
                                owned: Set[String] = Set.empty)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = readSchema0
  override def description(): String =
    s"graft ${face.label} face scan `$path`" + (if (fileFilters.nonEmpty)
      s", FileSkipFilters: ${fileFilters.mkString(", ")}" else "")
  override def toBatch: Batch = this

  // resolved ONCE per scan instance: snapshot + kept files + their DVs
  // must be one consistent view (the feather COW scan's memo rule);
  // private[sources]: the parquet batch scan reuses this exact planning
  private[sources] lazy val planned
      : (FeatherCowState, Array[InputPartition], Long) = {
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
    // partition-DIRECTORY pruning first (free), then stats-first
    // whole-file pruning, then blooms for point lookups — the same
    // O(directories)+O(kept) planning discipline the feather scans keep
    val leafKept =
      if (disc.partCols.isEmpty || fileFilters.isEmpty) disc.files
      else disc.files.filter(
        FeatherPartitions.survives(_, disc.partSchema, fileFilters))
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
    // publish NO version, the feather twin's contract), never scanned
    val kept = leafKept.filterNot(l =>
      l.file.endsWith(s"-empty${face.suffix}") ||
        statsEmpty(l.file) || bloomExcluded(l.file, l.len))
    val state = FeatherCowState(snap, kept.map(l => relOfAbs(l.file)).toSet)
    val parts = kept.map { l =>
      val pv = l.values ++
        GraftMetaColumns.fileValue(readSchema0, l.file, l.values, owned)
      FaceInputPartition(l.file, l.len, pv,
        // LeafFile.dv already carries the ROOT-RESOLVED sidecar path
        // (toDiscovered) — re-resolving doubled the prefix for relative
        // roots (absolute roots silently absorbed it: Path(parent, abs)
        // = abs), caught by the pqread scale receipt
        l.dv.map(_._1),
        GraftMetaColumns.posName(readSchema0, l.values, owned))
        : InputPartition
    }.toArray
    (state, parts, kept.map(_.len).sum)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (state, parts, _) = planned
    host.foreach(_.scanState = Some(state))
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val (state, _, _) = planned
    val root = new org.apache.hadoop.fs.Path(path)
    val keptAbs = state.keptRel.toSeq.map(rel =>
      new org.apache.hadoop.fs.Path(root, rel).toString)
    val lenOf = state.snap.files.map { case (rel, len) =>
      new org.apache.hadoop.fs.Path(root, rel).toString -> len }.toMap
    // avro merged reader schema, resolved ONCE per scan and shipped via
    // the (broadcast) factory, never per partition
    val readerJson = face.readerJson(spark,
      keptAbs.map(abs => (abs, lenOf(abs))))
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

private class FaceReaderFactory(
    face: ConnectorFace, readSchema: StructType, readerJson: String,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FaceInputPartition]
    new PartitionReader[InternalRow] {
      // per-JVM cached rebuild — O(entries) once per executor, not per
      // partition (the 10⁵-partition lens)
      private val execConf = GraftHadoop.execConf(confMap)
      private val open =
        scala.collection.mutable.Set.empty[AutoCloseable]
      private val toInternal =
        CatalystTypeConverters.createToCatalystConverter(readSchema)
      private val partRaw = p.partValues.toMap
      private val partAt: Map[Int, Any] =
        readSchema.fields.zipWithIndex.collect {
          case (f, i) if partRaw.contains(f.name) =>
            i -> FeatherPartitions.castValue(partRaw(f.name), f.dataType)
        }.toMap
      private val posIdx: Int =
        p.posName.map(readSchema.fieldIndex).getOrElse(-1)
      private val dataNames = readSchema.fieldNames.filterNot(n =>
        partRaw.contains(n) || p.posName.contains(n)).toSeq
      private val rows: Iterator[(Long, org.apache.spark.sql.Row)] =
        try {
          val dv = p.dvPath
            .map(DeletionVectors.read(execConf, _)).orNull
          face.fileRowsPos(execConf, readerJson, p.file, p.len, dataNames,
            dv, open.add(_), open.remove(_))
        } catch { case e: Throwable =>
          open.foreach(r => try r.close() catch { case _: Exception => () })
          throw e
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
  }
}

// ---------------------------------------------------------------------------
// writes
// ---------------------------------------------------------------------------

/** Shared driver-side conversion: read the tasks' tmp feather parts and
  * land them as FINAL face parts (flat: one writeParts pass; hive: rows
  * route to the leaf their partition values name). Returns the (rel
  * name, len) parts plus the flat parts' merged-stats fold input —
  * the CALLER upserts after its manifest commit. Tmp parts are deleted
  * here, success or not (they were never visible). */
private object FaceConvert {
  def toFaceParts(op: String, face: ConnectorFace,
                  fs: org.apache.hadoop.fs.FileSystem, path: String,
                  tmpMsgs: Seq[FeatherCommitMessage],
                  dataSchema: StructType, partCols: Seq[String],
                  targetV: Long)
      : (Seq[(String, Long)],
         Map[String, (Long, Seq[Map[String, FeatherStats.ColStat]])]) = {
    if (tmpMsgs.isEmpty) return (Seq.empty, Map.empty)
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val tmpFiles = tmpMsgs.map(m =>
      (new org.apache.hadoop.fs.Path(path, m.tmpName).toString, m.bytes))
    try {
      val df = GraftFeather.readFiles(spark, tmpFiles)
      val prefix = FeatherSnapshots.runPrefix(targetV)
      if (partCols.isEmpty) {
        // cap the write fan-out like the mutation tier: a 32-task insert
        // must not fill the table with 32 near-empty parts per statement
        val parts = face.writeParts(
          df.select(dataSchema.fieldNames.toSeq.map(
            org.apache.spark.sql.functions.col): _*)
            .coalesce(ConnectorFace.capWriteParts(df)),
          path, prefix, face.codecFor("lz4"))
        (parts.map { case (n, len, _) => (n, len) },
          parts.map { case (n, len, js) =>
            n -> (len, FeatherStats.fromJson(js)) }.toMap)
      } else {
        // routed inserts fold their own per-leaf stats (the mutation
        // tier's shared path)
        (FeatherMutations.routePartitionedInserts(op, face, fs, root, df,
          partCols, dataSchema, prefix, face.codecFor("lz4")), Map.empty)
      }
    } finally tmpMsgs.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
  }

  /** Unwind twin of the routed inserts' per-leaf merged-stats fold —
    * ONE definition in [[FeatherMutations.unpublishLeafStats]], shared
    * with the partitioned REPLACE/CTAS commits. No-op for the flat path
    * (its fold is already deferred past the commit). */
  def unpublishLeafStats(fs: org.apache.hadoop.fs.FileSystem,
                         path: String, rels: Seq[String]): Unit =
    FeatherMutations.unpublishLeafStats(fs,
      new org.apache.hadoop.fs.Path(path), rels)

  /** The write schema must round-trip through the tmp feather parts. */
  def requireFeatherMappable(st: StructType): Unit =
    st.fields.foreach(f =>
      GraftFeather.toArrowField(f.name, f.dataType, f.nullable))
}

/** Group-based COW write — ONE commit protocol for the feather-native
  * and face-generic paths (finalize first: a MERGE into a fully-pruned
  * table still publishes its NOT MATCHED inserts; no-read no-write
  * statements publish NO version; unwind on a lost conflict check).
  * Only [[finalizeInserts]] differs per path: the generic one converts
  * tmp feathers to face parts, [[FeatherCowWrite]] renames them in
  * place (zero-copy — flat feather tables never pay the conversion). */
private[sources] class FaceCowWrite(op: FeatherRowLevelHost,
                                    st: StructType,
                                    path: String, face: ConnectorFace,
                                    dataSchema: StructType,
                                    partCols: Seq[String])
    extends WriteBuilder with Write with BatchWrite {
  FaceConvert.requireFeatherMappable(st)

  /** tmp-part messages (zero-row ones already dropped by the caller) →
    * (final parts, the DEFERRED flat merged-stats fold input). */
  protected def finalizeInserts(fs: org.apache.hadoop.fs.FileSystem,
                                msgs: Seq[FeatherCommitMessage],
                                opName: String, targetV: Long)
      : (Seq[(String, Long)],
         Map[String, (Long, Seq[Map[String, FeatherStats.ColStat]])]) =
    FaceConvert.toFaceParts(opName, face, fs, path, msgs, dataSchema,
      partCols, targetV)

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft COW ${op.command()} $path (${face.label})"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val spark = SparkSession.active
    new FeatherWriterFactory(st, path, "lz4", 4096,
      GraftHadoop.confBroadcast(spark))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = op.scanState.getOrElse(throw new IllegalStateException(
      s"row-level ${op.command()} on $path: write committed before the " +
        "scan planned — the group set is unknown"))
    val committed = messages.collect { case m: FeatherCommitMessage => m }
    val (data, empty) = committed.partition(m =>
      FeatherStats.fromJson(m.statsJson).nonEmpty)
    empty.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
    if (state.keptRel.isEmpty && data.isEmpty) return
    val opName = s"rowlevel_${op.command().toString.toLowerCase}"
    val targetV = state.snap.version + 1
    val (parts, flatStats) = finalizeInserts(fs, data.toSeq, opName, targetV)
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    added ++= parts
    if (added.isEmpty &&
        state.snap.files.forall { case (rel, _) => state.keptRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        state.snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), dataSchema)
    try
      FeatherSnapshots.commitMutation(fs, root, opName, state.snap,
        removeRel = state.keptRel, add = added.toSeq,
        readRel = Some(state.keptRel)): Unit
    catch { case e: Throwable =>
      FeatherDsvWrites.deleteFinalized(fs, path, added.toSeq.map(_._1))
      FaceConvert.unpublishLeafStats(fs, path, added.toSeq.map(_._1))
      throw e
    }
    if (flatStats.nonEmpty) FeatherStats.upsertMerged(fs, root, flatStats)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: FeatherCommitMessage => m }.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
  }
}

/** Delta write — ONE commit protocol for the feather-native and
  * face-generic merge-on-read paths: deleted rows → DV sidecars
  * (per-face position encodings ride [[ConnectorFace.fileRowsPos]] on
  * the way in and the faces' DV-aware reads on the way out), inserted
  * rows → final parts through [[finalizeInserts]] (generic: tmp-feather
  * conversion; [[FeatherDeltaWrite]]: zero-copy rename), one atomic
  * manifest commit, full unwind (parts, sidecars, fresh DVs, leaf-stats
  * entries) when the conflict check loses. */
private[sources] class FaceDeltaWrite(op: FeatherRowLevelHost,
                                      info: LogicalWriteInfo,
                                      path: String, face: ConnectorFace,
                                      dataSchema: StructType,
                                      partCols: Seq[String])
    extends DeltaWriteBuilder with DeltaWrite with DeltaBatchWrite {

  private val rowSchema: StructType = info.schema()
  private val rowIdSchema: StructType = info.rowIdSchema().orElseThrow(() =>
    new IllegalStateException(
      s"delta ${op.command()} on $path: Spark supplied no rowId schema"))
  FaceConvert.requireFeatherMappable(rowSchema)

  protected def finalizeInserts(fs: org.apache.hadoop.fs.FileSystem,
                                msgs: Seq[FeatherCommitMessage],
                                opName: String, targetV: Long)
      : (Seq[(String, Long)],
         Map[String, (Long, Seq[Map[String, FeatherStats.ColStat]])]) =
    FaceConvert.toFaceParts(opName, face, fs, path, msgs, dataSchema,
      partCols, targetV)

  override def build(): DeltaWrite = this
  override def toBatch(): DeltaBatchWrite = this
  override def description(): String =
    s"graft delta ${op.command()} $path (${face.label})"

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val spark = SparkSession.active
    new FeatherDeltaWriterFactory(rowSchema, rowIdSchema, path,
      GraftHadoop.confBroadcast(spark))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val state = op.scanState.getOrElse(throw new IllegalStateException(
      s"delta ${op.command()} on $path: write committed before the scan " +
        "planned — the touched-file set is unknown"))
    val msgs = messages.collect { case m: FeatherDeltaCommitMessage => m }
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
    val (insertMsgs, emptyIns) = msgs.flatMap(_.insert).toSeq
      .partition(m => FeatherStats.fromJson(m.statsJson).nonEmpty)
    emptyIns.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
    // nothing deleted, nothing inserted: a no-match statement publishes
    // NO version (replay-clean, the COW sibling's contract)
    if (byFid.isEmpty && insertMsgs.isEmpty) return
    val targetV = state.snap.version + 1
    val opName =
      s"rowlevel_delta_${op.command().toString.toLowerCase}"
    val (parts, flatStats) =
      finalizeInserts(fs, insertMsgs, opName, targetV)
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
    added ++= parts
    // every file dropped and nothing inserted: schema stamps keep the
    // table readable (the mutation tier's shared all-rows-deleted shape)
    if (added.isEmpty && droppedRel.nonEmpty &&
        state.snap.files.forall { case (rel, _) => droppedRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        state.snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), dataSchema)
    try
      FeatherSnapshots.commitMutation(fs, root, opName, state.snap,
        removeRel = droppedRel, add = added.toSeq, setDvs = bindings,
        readRel = Some(state.keptRel)): Unit
    catch { case e: Throwable =>
      // the publish failed (conflict): parts, stamps, leaf-stats
      // entries, AND the freshly written DV sidecars were never
      // visible — delete them all
      FeatherDsvWrites.deleteFinalized(fs, path, added.toSeq.map(_._1))
      FaceConvert.unpublishLeafStats(fs, path, added.toSeq.map(_._1))
      bindings.values.foreach { case (dvRel, _) =>
        try fs.delete(new org.apache.hadoop.fs.Path(root, dvRel), false)
        catch { case _: Exception => () }
        ()
      }
      throw e
    }
    if (flatStats.nonEmpty) FeatherStats.upsertMerged(fs, root, flatStats)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: FeatherDeltaCommitMessage => m }
      .flatMap(_.insert).foreach { m =>
        try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
        catch { case _: Exception => () }
      }
  }
}
