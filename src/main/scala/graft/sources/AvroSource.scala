package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{GraftAvro, GraftHadoop}

/** DataSource V2 connector for Avro container files:
  * `spark.read.format("graft-avro").load(path)`. Short name deliberately
  * NOT "avro": deployments that ship the official spark-avro connector
  * must not have it shadowed by this one.
  *
  * Planner-integrated face of [[GraftAvro.read]]: sync-marker byte-range
  * splits become `InputPartition`s; `SupportsPushDownRequiredColumns`
  * prunes CONVERSION work (Avro's serial record encoding still decodes
  * every field's bytes — same contract as the reference's `columns=`);
  * file-length statistics feed the broadcast threshold. Writes stay on
  * [[GraftAvro.write]] (temp+rename commit, ErrorIfExists). */
class AvroDataSource extends TableProvider with DataSourceRegister
    with CdfFallbackProvider {
  override def shortName(): String = "graft-avro"


  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-avro source requires a path: " +
        "spark.read.format(\"graft-avro\").load(path)")
    p
  }

  private def pinnedVersion(options: CaseInsensitiveStringMap,
                            path: String): Option[Long] =
    FeatherTimeTravel.pinnedVersion(
      Option(options.get("versionasof")),
      Option(options.get("timestampasof")), path)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // data schema from the first discovered file's header, plus the
    // partition columns the directory layout declares; mergeSchema=true
    // unions EVERY header (bounded pool) — schema evolution the Avro way
    // (the merged reader schema carries null defaults; per-file
    // resolution fills them). Discovery is snapshot-aware: a table with
    // a _snapshots directory plans off its manifest, with version/
    // timestamp time travel exactly like the feather face.
    val spark = SparkSession.active
    val disc = AvroDiscovery.discover(spark, pathOf(options),
      pinnedVersion(options, pathOf(options)))
    val dataSchema =
      if (Option(options.get("mergeschema")).exists(_.toBoolean))
        GraftAvro.toSparkType(GraftAvro.mergedSchema(spark,
          disc.files.map(l => (l.file, l.len))))
          .asInstanceOf[StructType]
      else GraftAvro.planReadFiles(spark,
        Seq((disc.files.head.file, disc.files.head.len)),
        maxSplitBytes = Long.MaxValue)._2
    StructType(dataSchema.fields ++ disc.partSchema.fields)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new AvroTable(schema, pathOf(opts),
      Option(opts.get("mergeschema")).exists(_.toBoolean),
      pinnedVersion(opts, pathOf(opts)),
      Option(opts.get("readchangefeed")).exists(_.toBoolean))
  }

  override def supportsExternalMetadata(): Boolean = true
}

/** Snapshot-aware discovery for the avro face: manifest-planned when a
  * `_snapshots/` directory exists, directory walk otherwise — the same
  * contract as FeatherDiscovery. */
private object AvroDiscovery {
  def discover(spark: SparkSession, path: String,
               versionAsOf: Option[Long]): FeatherPartitions.Discovered =
    FeatherSnapshots.discoverOrWalk(spark, path, versionAsOf, Seq(".avro"))
}

private class AvroTable(tableSchema: StructType, path: String,
                        mergeSchema: Boolean = false,
                        versionAsOf: Option[Long] = None,
                        readChangeFeed: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-avro `$path`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    // under readChangeFeed the table withholds MICRO_BATCH_READ so the
    // stream falls back to the provider's V1 CDF source
    if (readChangeFeed)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.STREAMING_WRITE)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(!readChangeFeed && !Option(options.get("readchangefeed"))
        .exists(_.toBoolean),
      s"readChangeFeed on a BATCH read of $path: batch change feeds are " +
        "served by graft_table_changes(path, from, to) in SQL or " +
        "FeatherChanges.readChanges/changesSince on the API " +
        "(readChangeFeed is a readStream option)")
    new AvroScanBuilder(tableSchema, path,
      Option(options.get("maxsplitbytes")).map(_.toLong)
        .getOrElse(128L << 20),
      Option(options.get("maxfilespertrigger")).map(_.toInt),
      Option(options.get("mergeschema")).map(_.toBoolean)
        .getOrElse(mergeSchema),
      FeatherTimeTravel.pinnedVersion(
        Option(options.get("versionasof")),
        Option(options.get("timestampasof")), path).orElse(versionAsOf),
      Option(options.get("ignorechanges")).exists(_.toBoolean),
      Option(options.get("maxbytespertrigger")).map(_.toLong))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new AvroWriteBuilder(info, path)
}

// ---- write path (same commit protocol as the feather connector: tmp per
// task, driver-side rename in commit(), Spark's commit coordinator
// guarantees exactly one committed attempt per partition) ------------------

private class AvroWriteBuilder(
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo, path: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new AvroWrite(info.schema(), path, doTruncate,
      Option(info.options.get("codec")).getOrElse("snappy"),
      Option(info.options.get("snapshots")).exists(_.toBoolean),
      Option(info.options.get("mergeschema")).exists(_.toBoolean))
}

private case class AvroCommitMessage(tmpName: String, partitionId: Int,
                                     statsJson: String, bytes: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private class AvroWrite(st: StructType, path: String, truncate: Boolean,
                        codec: String, snapshotsOpt: Boolean = false,
                        mergeSchemaOpt: Boolean = false)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with RowLevelCommitMetrics.Reporting {
  // fail on unmappable schemas / bad codecs BEFORE tasks launch
  private val schemaJson = GraftAvro.toAvroSchema(st).toString
  require(Seq("snappy", "deflate", "null", "none").contains(codec),
    s"unknown codec $codec (snappy, deflate, none)")
  // write-side schema-evolution gate, shared contract with the feather
  // sink (WriteSchemaEvolution): widening/narrowing appends need
  // option("mergeSchema","true"); type changes are refused outright
  if (!truncate)
    WriteSchemaEvolution.validateSinkAppend(
      org.apache.spark.sql.SparkSession.active, path, st, mergeSchemaOpt,
      Seq(".avro"))

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    new AvroWriterFactory(st, schemaJson, path, codec,
      GraftHadoop.confBroadcast(spark))
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = messages.collect { case m: AvroCommitMessage => m }
    // snapshot mode mirrors the feather face: requested on this write or
    // already snapshotted (then every commit must publish a manifest)
    val snapMode = snapshotsOpt || FeatherSnapshots.enabled(fs, out)
    // a snapshot APPEND keeps only the parts that hold rows, and a
    // zero-row append publishes no version (the feather sink's rule)
    val tableAppend = !truncate && FeatherSnapshots.enabled(fs, out)
    val (committed, empty) =
      if (tableAppend) all.partition(m => !graft.io.FeatherMutations
        .exactRows(graft.io.FeatherStats.fromJson(m.statsJson)).contains(0L))
      else (all, Array.empty[AvroCommitMessage])
    empty.foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false))
    if (tableAppend && committed.isEmpty) {
      report = FeatherSnapshots.resolve(fs, out, None)
        .map(RowLevelCommitMetrics.noOp(_))
      return
    }
    // refuse a root append into a hive layout BEFORE renaming (see the
    // feather commit: a post-rename refusal leaves orphan residue)
    if (snapMode && !truncate && committed.nonEmpty)
      FeatherSnapshots.requireRootAppendable(fs, out, Seq(".avro"))
    if (truncate && !snapMode)
      fs.listStatus(out).filter(_.getPath.getName.endsWith(".avro"))
        .foreach(s => fs.delete(s.getPath, false))
    // snapshot overwrite deletes NOTHING (retained generations keep
    // reading; expire() reclaims); generation tag avoids name collisions
    val gen = if (snapMode) f"-g${System.nanoTime()}%x" else ""
    val mergedAdd = committed.map { m =>
      val tmp = new org.apache.hadoop.fs.Path(path, m.tmpName)
      val fin = new org.apache.hadoop.fs.Path(path,
        f"part-${m.partitionId}%05d-${java.util.UUID.nameUUIDFromBytes(
          m.tmpName.getBytes("UTF-8"))}$gen.avro")
      require(fs.rename(tmp, fin), s"commit rename $tmp -> $fin failed")
      val sc = fs.create(new org.apache.hadoop.fs.Path(path,
        fin.getName + ".stats.json"), true)
      try sc.write(m.statsJson.getBytes("UTF-8")) finally sc.close()
      fin.getName -> (m.bytes, graft.io.FeatherStats.fromJson(m.statsJson))
    }.toMap
    graft.io.FeatherStats.upsertMerged(fs, out, mergedAdd,
      replaceAll = truncate && !snapMode)
    def stampPart(): (String, Long) = {
      val stampName = s"part-00000$gen.avro"
      val pw = new GraftAvro.AvroPartWriter(st, schemaJson,
        fs.create(new org.apache.hadoop.fs.Path(out, stampName),
          true), "null")
      pw.finish()
      stampName -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(out, stampName)).getLen
    }
    if (snapMode)
      report = Some(FeatherSnapshots.publishDataCommit(fs, out, truncate,
        Seq(".avro"), mergedAdd.map { case (n, (len, _)) => (n, len) }.toSeq,
        stampPart _))
    else if (!fs.listStatus(out).exists(_.getPath.getName.endsWith(".avro")))
      stampPart(): Unit
    fs.create(new org.apache.hadoop.fs.Path(out, "_SUCCESS"), true).close()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: AvroCommitMessage => m }.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
  }

  // streaming sink: epoch-tagged tmps, idempotent driver-side rename
  // commit — the same contract as the feather sink (see
  // FeatherStreamingWrite for the replayed-epoch reasoning)
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "graft-avro streaming sink supports APPEND output mode only")
    new AvroStreamingWrite(st, schemaJson, path, codec)
  }
}

private class AvroStreamingWrite(st: StructType, schemaJson: String,
                                 path: String, codec: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    new AvroStreamingWriterFactory(st, schemaJson, path, codec,
      GraftHadoop.confBroadcast(spark))
  }

  override def commit(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // snapshotted table: refuse BEFORE renaming when the epoch's root
    // parts would mix into a hive layout (same pre-rename discipline as
    // the batch sinks — a post-rename refusal strands orphans each retry)
    if (FeatherSnapshots.enabled(fs, new org.apache.hadoop.fs.Path(path)))
      FeatherSnapshots.requireRootAppendable(fs,
        new org.apache.hadoop.fs.Path(path), Seq(".avro"))
    val mergedAdd = messages.collect { case m: AvroCommitMessage => m }
      .flatMap { m =>
        val tmp = new org.apache.hadoop.fs.Path(path, m.tmpName)
        val fin = new org.apache.hadoop.fs.Path(path,
          f"part-e$epochId%05d-${m.partitionId}%05d-${java.util.UUID
            .nameUUIDFromBytes(m.tmpName.getBytes("UTF-8"))}.avro")
        if (fs.exists(fin) && !fs.exists(tmp)) {
          // replayed: no re-rename, but the part REJOINS the stats and
          // manifest paths (sidecar rewrite idempotent; publishEpoch
          // appends only never-referenced parts)
          val sc = fs.create(new org.apache.hadoop.fs.Path(path,
            fin.getName + ".stats.json"), true)
          try sc.write(m.statsJson.getBytes("UTF-8")) finally sc.close()
          Some(fin.getName ->
            (fs.getFileStatus(fin).getLen,
              graft.io.FeatherStats.fromJson(m.statsJson)))
        } else {
          require(fs.rename(tmp, fin), s"commit rename $tmp -> $fin failed")
          val sc = fs.create(new org.apache.hadoop.fs.Path(path,
            fin.getName + ".stats.json"), true)
          try sc.write(m.statsJson.getBytes("UTF-8")) finally sc.close()
          Some(fin.getName ->
            (m.bytes, graft.io.FeatherStats.fromJson(m.statsJson)))
        }
      }.toMap
    if (mergedAdd.nonEmpty)
      graft.io.FeatherStats.upsertMerged(fs,
        new org.apache.hadoop.fs.Path(path), mergedAdd)
    // shared epoch protocol (layout guard + replay healing), same as the
    // feather sink
    FeatherSnapshots.publishEpoch(fs, new org.apache.hadoop.fs.Path(path),
      mergedAdd.map { case (n, (len, _)) => (n, len) }.toSeq)
  }

  override def abort(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: AvroCommitMessage => m }.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
  }
}

private class AvroStreamingWriterFactory(
    st: StructType, schemaJson: String, path: String, codec: String,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    AvroSourceWriters.dataWriter(st, schemaJson, path,
      f".part-e$epochId%05d-$partitionId%05d-task-$taskId.avro.tmp",
      codec, partitionId, confMap)
}

private class AvroWriterFactory(
    st: StructType, schemaJson: String, path: String, codec: String,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    AvroSourceWriters.dataWriter(st, schemaJson, path,
      f".part-$partitionId%05d-task-$taskId.avro.tmp",
      codec, partitionId, confMap)
}

/** Task-side writer shared by the batch and streaming factories (only the
  * tmp naming differs — streaming tags the epoch). */
private object AvroSourceWriters {
  def dataWriter(st: StructType, schemaJson: String, path: String,
                 tmpName: String, codec: String, partitionId: Int,
                 confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val execConf = {
        val c = new org.apache.hadoop.conf.Configuration(false)
        confMap.value.foreach { case (k, v) => c.set(k, v) }
        c
      }
      private val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(execConf)
      private val pw = new GraftAvro.AvroPartWriter(st, schemaJson,
        fs.create(new org.apache.hadoop.fs.Path(path, tmpName), true), codec)
      private val toRow = CatalystTypeConverters.createToScalaConverter(st)
      // ONE stats batch per part: avro splits on byte ranges, not indexed
      // batches, so the skipping unit is the whole file (parquet's
      // footer-stats granularity, supplied from outside the format)
      private val stats = new graft.io.FeatherStats.Collector(st)
      override def write(record: InternalRow): Unit = {
        val r = toRow(record).asInstanceOf[org.apache.spark.sql.Row]
        pw.append(r)
        stats.observe(r)
      }
      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        pw.finish()
        AvroCommitMessage(tmpName, partitionId,
          graft.io.FeatherStats.toJson(Seq(stats.snapshotAndReset())),
          fs.getFileStatus(new org.apache.hadoop.fs.Path(path, tmpName)).getLen)
      }
      override def abort(): Unit = {
        pw.abort()
        try fs.delete(new org.apache.hadoop.fs.Path(path, tmpName), false)
        catch { case _: Exception => () }
      }
      override def close(): Unit = ()
    }
}

private class AvroScanBuilder(fullSchema: StructType, path: String,
                              maxSplitBytes: Long,
                              maxFilesPerTrigger: Option[Int],
                              mergeSchema: Boolean = false,
                              versionAsOf: Option[Long] = None,
                              ignoreChanges: Boolean = false,
                              maxBytesPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  // filters are captured to prune partition directories AND to skip whole
  // files whose stats sidecar proves no row can match; every filter is
  // returned for post-scan evaluation (and pushedFilters stays empty —
  // nothing is consumed row-level, pruning is skip-only)
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pruneFilters = filters
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var required: StructType = fullSchema
  private var limit: Int = -1
  private var pruneFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  // partial push: per-partition row cap; the global limit stays above
  override def pushLimit(l: Int): Boolean = { limit = l; false }
  // complete aggregate pushdown from the per-file stats sidecars — same
  // engine and gate as the feather connector (StatsAggPushdown); avro has
  // one stats batch per file
  private var aggAnswer: Option[(StructType, InternalRow)] = None
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (aggAnswer.isEmpty)
      aggAnswer = StatsAggPushdown.answer(
        // snapshot-aware: the answer must come from the pinned version's
        // LIVE files, never a directory listing that still holds retired
        // generations
        AvroDiscovery.discover(SparkSession.active, path, versionAsOf),
        fullSchema, agg, pruneFilters)
    aggAnswer.nonEmpty
  }
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    supportCompletePushDown(agg)
  override def build(): Scan = aggAnswer match {
    case Some((schema, row)) => new AvroLocalScan(path, schema, Array(row))
    case None =>
      new AvroScan(required, path, maxSplitBytes, limit,
        pruneFilters.toSeq, maxFilesPerTrigger, mergeSchema, versionAsOf,
        ignoreChanges, maxBytesPerTrigger,
        owned = fullSchema.fieldNames.toSet)
  }
}

/** One-row driver-side scan carrying a completely-pushed aggregate. */
private class AvroLocalScan(path: String, schema: StructType,
                            rs: Array[InternalRow])
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rs
  override def description(): String =
    s"graft-avro `$path` (aggregate answered from stats sidecars)"
}

private class AvroScan(readSchema0: StructType, path: String,
                       maxSplitBytes: Long, limit: Int,
                       pruneFilters: Seq[org.apache.spark.sql.sources.Filter],
                       maxFilesPerTrigger: Option[Int],
                       mergeSchema: Boolean = false,
                       versionAsOf: Option[Long] = None,
                       ignoreChanges: Boolean = false,
                       maxBytesPerTrigger: Option[Long] = None,
                       owned: Set[String] = Set.empty)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = readSchema0
  override def description(): String =
    s"graft-avro `$path` ReadSchema: ${readSchema0.catalogString}"
  override def toBatch: Batch = this

  // discovery + partition-directory pruning (see FeatherScan — same
  // machinery, avro suffix), then FILE-level stats skipping: a file whose
  // single stats batch proves every pushed comparison impossible never
  // plans a split (skip-only — Spark re-applies all filters; files with
  // no/bad sidecar never prune)
  private lazy val disc =
    AvroDiscovery.discover(SparkSession.active, path, versionAsOf)

  private lazy val surviving: Seq[FeatherPartitions.LeafFile] = {
    val ps = disc.partSchema
    val afterPart =
      if (disc.partCols.isEmpty || pruneFilters.isEmpty) disc.files
      else disc.files.filter(FeatherPartitions.survives(_, ps, pruneFilters))
    val skipFilters = pruneFilters.filter(FeatherScanBuilder.usable)
    val afterStats =
      if (skipFilters.isEmpty || afterPart.isEmpty) afterPart
      else {
        val statsByFile = graft.io.FeatherStats.loadForFiles(
          SparkSession.active.sparkContext.hadoopConfiguration,
          afterPart.map(l => (l.file, l.len)))
        afterPart.filterNot { l =>
          statsByFile.getOrElse(l.file, None) match {
            case Some(batches) => batches.nonEmpty && batches.forall(
              graft.io.FeatherStats.batchProvablyEmpty(_, skipFilters))
            case None => false
          }
        }
      }
    // point-lookup file skipping via bloom sidecars, same contract as the
    // feather scan: a file whose bloom excludes every EqualTo/In value
    // cannot match the conjunction
    val pointFilters = FeatherScanBuilder.pointLookups(pruneFilters)
    if (pointFilters.isEmpty || afterStats.isEmpty) afterStats
    else afterStats.filterNot { l =>
      // one sidecar load per (file, column): excludesFile caches per
      // column inside a file instead of re-parsing per point filter
      graft.io.FeatherBloom.excludesFile(
        SparkSession.active.sparkContext.hadoopConfiguration,
        l.file, l.len, pointFilters)
    }
  }

  private lazy val plan =
    // every file skip-pruned: zero partitions, and the reader factory's
    // schema is never consulted (Spark still constructs the factory)
    if (surviving.isEmpty)
      ("", org.apache.spark.sql.types.StructType(Nil),
        Seq.empty[(String, Long, Long, Seq[(String, String)], Option[String])])
    else {
      val byFile =
        surviving.map(l => l.file -> (l.values, l.dv.map(_._1))).toMap
      val p = GraftAvro.planReadFiles(SparkSession.active,
        surviving.map(l => (l.file, l.len)), maxSplitBytes)
      // mergeSchema: the expected (reader) schema becomes the UNION of
      // every DISCOVERED header (not the pruned subset — pruning away
      // every file that carries an evolved column must not make that
      // column unresolvable), null-defaulted; per-file resolution in the
      // task then fills nulls for predating writers
      val schemaJson =
        if (mergeSchema) GraftAvro.mergedSchema(SparkSession.active,
          disc.files.map(l => (l.file, l.len))).toString
        else p._1
      (schemaJson, p._2, p._3.map { case (f, s, e) =>
        val (pv, dv) = byFile(f)
        (f, s, e, pv, dv) })
    }

  override def planInputPartitions(): Array[InputPartition] =
    if (surviving.isEmpty) Array.empty
    else plan._3.map { case (f, s, e, pv, dv) =>
      // `_file` splices as a per-split constant, `_pos` per row (block
      // coordinates are byte-offset-absolute, so any split plan yields
      // the same row ids) — the feather connector's metadata contract
      AvroInputPartition(f, s, e,
        pv ++ GraftMetaColumns.fileValue(readSchema0, f, pv, owned), dv,
        GraftMetaColumns.posName(readSchema0, pv, owned))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    // schemaJson rides the factory (serialized ONCE into the shared task
    // binary), not every InputPartition — a 100KB writer schema must not
    // be duplicated across thousands of task descriptions
    new AvroReaderFactory(readSchema0, plan._1, limit,
      GraftHadoop.confBroadcast(SparkSession.active))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a SNAPSHOTTED avro table streams by MANIFEST VERSION, exactly like
    // the feather face (file-set offsets would re-deliver retired
    // generations); a plain drop directory streams by file-set offsets
    val rp = new org.apache.hadoop.fs.Path(path)
    val sfs = rp.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (FeatherSnapshots.enabled(sfs, rp))
      new AvroSnapshotStream(readSchema0, path, maxSplitBytes, ignoreChanges,
        mergeSchema)
    else
      new AvroMicroBatchStream(readSchema0, path, maxSplitBytes,
        maxFilesPerTrigger, checkpointLocation, maxBytesPerTrigger)
  }

  // exact row count from the stats sidecars (one Count batch per avro
  // file) — see FeatherStats.exactRowCount for the all-covered contract
  private lazy val exactRows: Option[Long] =
    graft.io.FeatherStats.exactRowCount(
      SparkSession.active.sparkContext.hadoopConfiguration,
      surviving.map(l => (l.file, l.len)))
      // manifest-tracked deletion vectors subtract exactly
      .map(_ - surviving.flatMap(_.dv.map(_._2)).sum)

  override def estimateStatistics(): Statistics = new Statistics {
    // bytes AFTER partition pruning (post-pushdown, like parquet reports)
    private val bytes = surviving.map(_.len).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      exactRows.map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
  }
}

// ---- streaming read --------------------------------------------------------
// Drop-directory ingestion on the shared DropDirectoryMicroBatchStream
// machinery (file-set offsets, maxFilesPerTrigger admission control);
// this subclass contributes Avro's sync-marker byte-range splits.

private class AvroMicroBatchStream(readSchema: StructType, path: String,
                                   maxSplitBytes: Long,
                                   maxFilesPerTrigger: Option[Int],
                                   checkpointLocation: String,
                                   maxBytesPerTrigger: Option[Long] = None)
    extends DropDirectoryMicroBatchStream(path, Seq(".avro"),
      maxFilesPerTrigger, checkpointLocation, maxBytesPerTrigger) {

  // Expected schema for per-file resolution, fixed at stream start for the
  // stream's lifetime (same contract as the batch scan, where it is the
  // first part file's writer schema): files dropped later with reordered /
  // evolved writer schemas resolve against it by field name, and an
  // irreconcilable drop fails with GraftAvro's named-file diagnostic. A
  // stream started on an EMPTY directory (user-supplied schema) falls back
  // to the table schema's Avro mapping.
  private lazy val expectedSchemaJson: String = {
    val existing = listFiles()
    if (existing.nonEmpty)
      GraftAvro.planRead(spark, existing.min, Long.MaxValue)._1
    else GraftAvro.toAvroSchema(readSchema).toString
  }

  override protected def planSplits(fresh: Seq[String]): Array[InputPartition] =
    fresh.flatMap { f =>
      GraftAvro.planRead(spark, f, maxSplitBytes)._3.map {
        case (file, s, e) => AvroInputPartition(file, s, e)
      }
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(readSchema, expectedSchemaJson, -1,
      GraftHadoop.confBroadcast(spark))
}

/** Streams a SNAPSHOTTED avro table by manifest version — the avro face
  * of [[FeatherSnapshotStream]]: offsets are version numbers, batches are
  * version diffs (semantics in FeatherSnapshots.versionDiffFiles, ONE
  * definition for both faces), zero listings, exactly-once by manifest
  * immutability. */
private class AvroSnapshotStream(readSchema: StructType, path: String,
                                 maxSplitBytes: Long,
                                 ignoreChanges: Boolean,
                                 mergeSchema: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private def rp = new org.apache.hadoop.fs.Path(path)
  private def fs = rp.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def initialOffset(): Offset = SnapshotVersionOffset(0L)
  override def latestOffset(): Offset =
    SnapshotVersionOffset(FeatherSnapshots.latestVersion(fs, rp).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    SnapshotVersionOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // expected reader schema for per-file resolution, fixed at stream start
  // (same contract as AvroMicroBatchStream): under mergeSchema the
  // null-defaulted UNION of the head snapshot's headers (an evolved
  // table's predating generations must resolve, exactly as the batch
  // read), otherwise the head snapshot's first part's writer schema;
  // the table schema's mapping on an empty table
  private lazy val expectedSchemaJson: String =
    FeatherSnapshots.resolve(fs, rp, None)
      .filter(_.files.nonEmpty)
      .map { snap =>
        val abs = snap.files.map { case (rel, len) =>
          (new org.apache.hadoop.fs.Path(rp, rel).toString, len) }
        if (mergeSchema)
          GraftAvro.mergedSchema(SparkSession.active, abs).toString
        else GraftAvro.planReadFiles(SparkSession.active,
          Seq(abs.head), Long.MaxValue)._1
      }
      .getOrElse(GraftAvro.toAvroSchema(readSchema).toString)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotVersionOffset].v
    val e = end.asInstanceOf[SnapshotVersionOffset].v
    if (e <= s) return Array.empty
    val (newRel, dvs) =
      FeatherSnapshots.versionDiffFiles(fs, rp, s, e, ignoreChanges)
    if (newRel.isEmpty) return Array.empty
    val leaves = FeatherSnapshots.toDiscovered(rp,
      FeatherSnapshots.Snapshot(e, s, "batch", newRel.sortBy(_._1),
        dvs = dvs)).files
    val byFile = leaves.map(l => l.file -> (l.values, l.dv.map(_._1))).toMap
    GraftAvro.planReadFiles(SparkSession.active,
      leaves.map(l => (l.file, l.len)), maxSplitBytes)._3
      .map { case (f, st, en) =>
        val (pv, dv) = byFile(f)
        AvroInputPartition(f, st, en, pv, dv) }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(readSchema, expectedSchemaJson, -1,
      GraftHadoop.confBroadcast(SparkSession.active))
}

private case class AvroInputPartition(file: String, start: Long, end: Long,
                                      partValues: Seq[(String, String)] = Nil,
                                      dvPath: Option[String] = None,
                                      posName: Option[String] = None)
    extends InputPartition

private class AvroReaderFactory(
    readSchema: StructType, schemaJson: String, limit: Int,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AvroInputPartition]
    // positions are only encoded when `_pos` or the DV cursor needs them
    // (see GraftAvro.splitRows)
    new SplicedRowReader(readSchema, p.partValues, p.posName, p.dvPath, limit,
      confMap)((conf, cols, withPos, dv, track, untrack) =>
      GraftAvro.splitRowsPos(conf, schemaJson, p.file, p.start, p.end,
        Some(cols), track, untrack, dv = dv,
        needPos = withPos || dv != null))
  }
}
