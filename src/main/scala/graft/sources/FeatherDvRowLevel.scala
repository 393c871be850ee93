package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{ConnectorFace, DeletionVectors, FeatherMutations, FeatherStats, GraftFeather, GraftHadoop}

/** DELTA-based (merge-on-read) DSv2 row-level operations for feather
  * snapshot tables — the `graft_dv` catalog's SQL DML strategy. Where the group-based sibling
  * ([[FeatherRowLevelOperation]]) REWRITES whole files, this one routes
  * DELETE / UPDATE / MERGE through Spark's delta rewrite
  * (`SupportsDelta`): every deleted or pre-update row arrives as a
  * `delete(_, rowId)` callback carrying the engine's stable row id
  * `(_file, _pos)`, and the commit persists those positions as deletion-
  * vector sidecars ([[graft.io.DeletionVectors]]) bound in the manifest —
  * bytes written scale with DELETED ROWS, not touched files — the
  * merge-on-read parity of the engine's `deleteWhereDV` / `executeDV`.
  * Inserted rows (MERGE NOT MATCHED, the insert half of an UPDATE) land
  * as ordinary new parts in the SAME atomic manifest commit.
  *
  * Contracts that differ from the COW sibling:
  *
  *  - the scan may skip row batches INSIDE kept files (stats-proven
  *    empty): a delta write touches only the rows it is handed, untouched
  *    rows stay in place, and `_pos` coordinates are batch-absolute — the
  *    group contract's "whole files only" rule does not bind here.
  *  - updates split into DELETE + INSERT
  *    (`representUpdateAsDeleteAndInsert`): an in-place update of an
  *    immutable part file does not exist; the deleted half masks, the
  *    inserted half appends.
  *  - a file whose UNION'd vector covers every row (stats-proven) is
  *    dropped from the manifest instead of carrying a full mask — shared
  *    with the engine path through [[FeatherMutations.bindDvs]].
  *
  * Concurrency: same read-set OCC as the COW path — readRel = the files
  * the scan kept; every DV (re)binding and drop is inside that set, so a
  * concurrent rewrite of a READ file aborts loudly and disjoint
  * mutations commute. */
private[graft] class FeatherDeltaOperation(cmd: Command, path: String,
                                           fullSchema: StructType,
                                           maxSplitBytes: Long)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta
    with FeatherRowLevelHost {

  override def command(): Command = cmd
  override def description(): String =
    s"graft delta (merge-on-read) $cmd on $path"

  /** The engine's stable row id: which file, which batch-absolute
    * position. Both are metadata columns the feather scans serve. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName),
      Expressions.column(GraftMetaColumns.PosName))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FeatherCowScanBuilder(this, path, fullSchema, maxSplitBytes,
      batchSkip = true)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new FeatherDeltaWrite(this, info, path, fullSchema)
}

/** One task's delta output: at most one insert part (tmp name + stats)
  * plus its deleted positions grouped by ABSOLUTE data-file path. */
private case class FeatherDeltaCommitMessage(
    insert: Option[FeatherCommitMessage],
    deletes: Map[String, Array[Long]]) extends WriterCommitMessage

/** The flat-feather delta write: the shared [[FaceDeltaWrite]] commit
  * protocol with ZERO-COPY insert finalization — tmp feather parts
  * RENAME to finals instead of paying the generic path's conversion
  * pass (flat feather is the one face whose tmp and final formats
  * coincide). */
private class FeatherDeltaWrite(op: FeatherRowLevelHost,
                                info: LogicalWriteInfo, path: String,
                                tableSchema: StructType)
    extends FaceDeltaWrite(op, info, path,
      graft.io.ConnectorFace.FeatherFace, tableSchema, Nil) {
  override protected def finalizeInserts(
      fs: org.apache.hadoop.fs.FileSystem,
      msgs: Seq[FeatherCommitMessage], opName: String, targetV: Long)
      : (Seq[(String, Long)],
         Map[String, (Long, Seq[Map[String, FeatherStats.ColStat]])]) = {
    val renamed = FeatherDsvWrites.renameParts(fs, path, msgs)
    (renamed.map { case (n, (len, _)) => (n, len) }.toSeq, renamed)
  }
}

private class FeatherDeltaWriterFactory(
    rowSchema: StructType, rowIdSchema: StructType, path: String,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
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
    // the insert part writer opens lazily: a pure DELETE never creates
    // a tmp file at all
    private var insertPw
        : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = null
    private def insertWriter = {
      if (insertPw == null)
        insertPw = FeatherSourceWriters.dataWriter(rowSchema, path,
          f".part-$partitionId%05d-task-$taskId.feather.tmp",
          "lz4", 4096, partitionId, confMap)
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
      FeatherDeltaCommitMessage(
        Option(insertPw).map(_.commit().asInstanceOf[FeatherCommitMessage]),
        deletes.view.mapValues(_.toArray).toMap)

    override def abort(): Unit = if (insertPw != null) insertPw.abort()
    override def close(): Unit = ()
  }
}
