package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

import graft.io.TableDdl

/** The STAGED table behind `StagingTableCatalog` — what gives SQL
  * atomic `CREATE OR REPLACE TABLE [AS SELECT]`,
  * `REPLACE TABLE`, and atomic CTAS by name, on EVERY face, partitioned
  * layouts included (a partitioned REPLACE swaps the old files for the
  * new leaves in the one commit).
  *
  * Protocol: Spark stages the table and writes the query through
  * [[newWriteBuilder]] — the catalog writes' own task writer
  * ([[FaceConvert.writerFactory]]), rows clustered by leaf on a
  * partitioned table ([[LeafClustering]]), parts landing in a hidden
  * staging directory, visible to nobody. Then [[commitStagedChanges]]
  * hands those parts to the ENGINE's own DDL lowering —
  * [[TableDdl.createTableAs]] / [[TableDdl.createTable]] /
  * [[TableDdl.replaceTable]] — which renames them into the table (a flat
  * parquet or avro table converts its tmp feather parts in one pass, as
  * its INSERTs do) and publishes, so a SQL statement gets exactly the
  * engine's semantics: face-dispatched final parts (USING
  * feather/parquet/avro), schema stamps for empty results, prior
  * versions time-travelable with RESTORE undoing a replace, and the
  * strictest conflict contract in the tier (replace commits with the
  * FULL read set + requireNoNewFiles — ANY concurrent commit aborts; a
  * racing CREATE loses at the manifest's exactly-once v1 / the
  * fresh-directory check). The rows are written once.
  *
  * [[abortStagedChanges]] (and any publish failure) deletes the staging
  * directory — un-manifested files were never visible to readers. */
private[graft] class FeatherStagedTable(path: String, identName: String,
                                        tableSchema: StructType,
                                        partCols: Seq[String],
                                        provider: Option[String],
                                        replaceExisting: Boolean,
                                        orCreate: Boolean)
    extends StagedTable with SupportsWrite {

  private val op =
    if (!replaceExisting) "CREATE TABLE AS SELECT"
    else if (orCreate) "CREATE OR REPLACE TABLE" else "REPLACE TABLE"

  // what the staged `AS SELECT` wrote, pending the one publish; None for
  // a plain REPLACE TABLE, which writes no rows
  @volatile private var rows: Option[TableDdl.StagedRows] = None

  /** Tmp parts live in a HIDDEN SIBLING directory (same filesystem — a
    * cluster's tasks need a shared landing zone), never in the target:
    * a staged CREATE must find the target directory exactly as fresh as
    * the engine's own fresh-directory guard demands. */
  private val stagingDir: Path = {
    val t = new Path(path)
    new Path(Option(t.getParent).getOrElse(t),
      s".${t.getName}-staged-${java.util.UUID.randomUUID().toString.take(8)}")
  }

  override def name(): String = identName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new StagedWrite(info.schema())

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    try {
      if (replaceExisting)
        // replaceTable handles the table-vanished-since-staging race
        // itself: orCreate falls back to CREATE, plain REPLACE refuses
        TableDdl.replaceTable(spark, path, rows.toRight(tableSchema),
          provider, partCols, orCreate): Unit
      else rows match {
        case Some(r) =>
          TableDdl.createTableAs(spark, path, r, provider, partCols): Unit
        case None =>
          TableDdl.createTable(spark, path, tableSchema, provider,
            partCols, ifNotExists = false): Unit
      }
    } finally
      // the parts are landed (or the publish refused / lost its race) —
      // whatever is left was never visible; delete it either way
      abortStagedChanges()
  }

  override def abortStagedChanges(): Unit = {
    val fs = stagingDir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    try fs.delete(stagingDir, true) catch { case _: Exception => () }
    ()
  }

  private def partsOf(messages: Array[WriterCommitMessage]) =
    messages.toSeq.collect { case m: LeafCommitMessage => m }.flatMap(_.parts)

  /** The staged `AS SELECT`'s write; `commit` only STASHES the parts —
    * every rename, conversion and publish belongs to
    * commitStagedChanges' single engine-DDL call. */
  private class StagedWrite(st: StructType)
      extends WriteBuilder with Write with BatchWrite with LeafClustering
      with SupportsTruncate {
    FaceConvert.requireFeatherMappable(st)
    private val face = TableDdl.faceOf(provider,
      msg => throw new IllegalArgumentException(s"$op $identName: $msg"))

    override protected def clusterCols: Seq[String] = partCols
    // a staged replace IS a truncate-and-write; the staged commit already
    // publishes replace semantics, so the mode flag changes nothing
    override def truncate(): WriteBuilder = this
    override def build(): Write = this
    override def toBatch: BatchWrite = this
    override def description(): String = s"graft staged write $path"

    override def createBatchWriterFactory(info: PhysicalWriteInfo)
        : DataWriterFactory = {
      // retry-idempotence: a re-run batch write (new factory) must not
      // publish a previous attempt's parts
      rows = None
      FaceConvert.writerFactory(op, face, st, partCols, stagingDir.toString,
        sorted = true)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit =
      rows = Some(TableDdl.StagedRows(st, stagingDir, partsOf(messages)))

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      FaceConvert.deleteTmp(stagingDir.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration),
        stagingDir.toString, partsOf(messages))
  }
}
