package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

import graft.io.{GraftFeather, TableDdl}

/** The STAGED table behind `StagingTableCatalog` — what gives SQL
  * atomic `CREATE OR REPLACE TABLE [AS SELECT]`,
  * `REPLACE TABLE`, and atomic CTAS by name, on EVERY face, partitioned
  * layouts included (rows route to their key=value leaves through the
  * engine's shared insert routing; a partitioned REPLACE swaps the old
  * files for the new leaves in the one commit).
  *
  * Protocol: Spark stages the table, writes the query through
  * [[newWriteBuilder]] (tasks land hidden TMP FEATHER parts — the
  * engine's universal task-side row writer — visible to nobody), then
  * calls [[commitStagedChanges]], which reads the tmp parts back as one
  * frame and hands the publish to the ENGINE's own DDL lowering —
  * [[TableDdl.createTableAs]] / [[TableDdl.createTable]] /
  * [[TableDdl.replaceTable]] — so a SQL statement gets exactly the
  * Scala API's semantics: face-dispatched final parts (USING
  * feather/parquet/avro), partitioned leaf routing on every face,
  * schema stamps for empty results, prior versions time-travelable with
  * RESTORE undoing a replace, and the strictest conflict contract in the
  * tier (replace commits with the FULL read set + requireNoNewFiles —
  * ANY concurrent commit aborts; a racing CREATE loses at the
  * manifest's exactly-once v1 / the fresh-directory check).
  *
  * Cost honesty: the staged rows are written twice (tmp feather, then
  * the face parts) — bytes ∝ the statement's own output, one extra
  * conversion pass per STATEMENT.
  *
  * [[abortStagedChanges]] (and any publish failure) deletes the tmp
  * parts — un-manifested files were never visible to readers. */
private[graft] class FeatherStagedTable(path: String, identName: String,
                                        tableSchema: StructType,
                                        partCols: Seq[String],
                                        provider: Option[String],
                                        replaceExisting: Boolean,
                                        orCreate: Boolean)
    extends StagedTable with SupportsWrite {

  // the staged write's TMP part messages, pending the one publish; the
  // buffer clears when a (retried) batch write creates a new factory
  private[sources] val staged =
    scala.collection.mutable.ArrayBuffer.empty[FeatherCommitMessage]

  /** Tmp parts live in a HIDDEN SIBLING directory (same filesystem — a
    * cluster's tasks need a shared landing zone), never in the target:
    * a staged CREATE must find the target directory exactly as fresh as
    * the engine's own fresh-directory guard demands. */
  private val stagingDir: String = {
    val t = new org.apache.hadoop.fs.Path(path)
    new org.apache.hadoop.fs.Path(
      Option(t.getParent).getOrElse(t),
      s".${t.getName}-staged-${java.util.UUID.randomUUID().toString.take(8)}"
    ).toString
  }

  override def name(): String = identName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FeatherStagedWrite(info.schema(), stagingDir, staged)

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val msgs = staged.synchronized { staged.toSeq }
    try {
      // zero-batch tmps are zero-row tasks' residue; with NO rows staged
      // at all the statement is schema-only (plain REPLACE TABLE, or a
      // CTAS whose query planned zero tasks)
      val dataTmps = msgs.filter(m =>
        graft.io.FeatherStats.fromJson(m.statsJson).nonEmpty)
      val query = if (dataTmps.isEmpty) None else Some(
        GraftFeather.readFiles(spark, dataTmps.map(m =>
          (new org.apache.hadoop.fs.Path(stagingDir, m.tmpName).toString,
            m.bytes))))
      if (replaceExisting)
        // replaceTable handles the table-vanished-since-staging race
        // itself: orCreate falls back to CREATE, plain REPLACE refuses
        TableDdl.replaceTable(spark, path, query.toRight(tableSchema),
          provider, partCols, orCreate): Unit
      else query match {
        case Some(q) =>
          TableDdl.createTableAs(spark, path, q, provider, partCols,
            ifNotExists = false): Unit
        case None =>
          TableDdl.createTable(spark, path, tableSchema, provider,
            partCols, ifNotExists = false): Unit
      }
    } finally
      // the tmp parts served their purpose (or the publish refused /
      // lost its race) — they were never visible; delete either way
      abortStagedChanges()
  }

  override def abortStagedChanges(): Unit = {
    val spark = SparkSession.active
    val sd = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = sd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.delete(sd, true) catch { case _: Exception => () }
    ()
  }
}

/** The staged table's DSv2 write: the engine's universal tmp-feather
  * task writers; `commit` only STASHES the tmp messages on the staged
  * table — every rename/conversion/publish belongs to
  * commitStagedChanges' single engine-DDL call. */
private class FeatherStagedWrite(
    st: StructType, path: String,
    staged: scala.collection.mutable.ArrayBuffer[FeatherCommitMessage])
    extends WriteBuilder with Write with BatchWrite
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  // fail on unmappable schemas BEFORE tasks launch (the tmp parts must
  // round-trip every column)
  st.fields.foreach(f =>
    graft.io.GraftFeather.toArrowField(f.name, f.dataType, f.nullable))

  // a staged replace IS a truncate-and-write; the staged commit already
  // publishes replace semantics, so the mode flag changes nothing
  override def truncate(): WriteBuilder = this
  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String = s"graft staged write $path"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root): Unit
    // retry-idempotence: a re-run batch write (new factory) must not
    // double-publish a previous attempt's parts
    staged.synchronized { staged.clear() }
    new FeatherWriterFactory(st, path, "lz4", 4096,
      graft.io.GraftHadoop.confBroadcast(spark))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect { case m: FeatherCommitMessage => m }
    staged.synchronized { staged ++= committed }
    ()
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
