package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

import graft.io.{ConnectorFace, FeatherMutations, GraftFeather, LeafWriter}

/** FACE-GENERIC catalog batch WRITE — the insert half of the catalog
  * surface ([[FaceScanBuilder]] is the read half): what runs SQL
  * `INSERT INTO` / `INSERT OVERWRITE` (and DataFrameWriterV2 appends
  * and overwrites) against tables the connector delegates cannot serve
  * — the parquet face (no DSv2 connector) and HIVE-PARTITIONED tables
  * on any face (the flat connector sinks refuse root appends into
  * key=value layouts) — plus predicate and dynamic overwrites of flat
  * connector-face tables.
  *
  * Parts land through [[FaceConvert]]'s one task writer: on a
  * partitioned table Spark clusters and orders the rows by the partition
  * columns ([[LeafClustering]]), each task writes one face part per leaf
  * its rows name, and the commit renames them into their leaves (no Spark
  * job at commit); a flat table's tasks write feather parts, renamed in
  * place on the feather face and converted in one pass on the others.
  * The manifest commit then publishes:
  *
  *  - append (`INSERT INTO`): add-only — commutes with every concurrent
  *    commit (empty read set); a zero-row insert publishes NO version.
  *  - truncate (`INSERT OVERWRITE` without/with an always-true filter):
  *    one commit removes every current file and adds the new parts
  *    (stamps when none) — prior versions stay time-travelable.
  *  - static partition overwrite (`INSERT OVERWRITE ... PARTITION
  *    (k=v)`): the filters Spark hands down are EqualTo on partition
  *    columns — leaves whose values match are replaced, everything else
  *    carries through verbatim.
  *  - predicate overwrite (`writeTo(t).overwrite(condition)` with any
  *    other filter): exactly replaceWhere — the filter's rows are deleted
  *    and the written rows inserted in one predicate-scoped commit
  *    ([[graft.io.PredicateMutations.replaceWhere]]).
  *  - dynamic partition overwrite (only under
  *    `spark.sql.sources.partitionOverwriteMode=dynamic`): only the
  *    leaves the query's rows actually land in are replaced
  *    (Spark/Hive dynamic semantics). */
private[graft] class FaceBatchWrite(path: String, face: ConnectorFace,
                                    dataSchema: StructType,
                                    partCols: Seq[String],
                                    writeSchema: StructType)
    extends WriteBuilder with Write with BatchWrite with LeafClustering
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    with RowLevelCommitMetrics.Reporting {
  FaceConvert.requireFeatherMappable(writeSchema)

  /** append | truncate | static (leaf-equality filters) | predicate |
    * dynamic */
  private var mode: String = "append"
  private var staticFilters: Seq[(String, Any)] = Seq.empty
  private var predicate: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty

  override def truncate(): WriteBuilder = { mode = "truncate"; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    if (!SparkSession.active.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic"))
      throw new UnsupportedOperationException(
        s"overwritePartitions on graft table $path: set " +
          "spark.sql.sources.partitionOverwriteMode=dynamic — dynamic " +
          "overwrites are scoped by that conf (the SQL INSERT OVERWRITE " +
          "spelling arrives here only when it is already set)")
    mode = "dynamic"; this
  }

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo}
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) return truncate()
    // Spark spells a static PARTITION (k=v) spec as EqualNullSafe
    val leafEq = filters.toSeq.collect {
      case EqualTo(a, v) if partCols.contains(a) => (a, v)
      case EqualNullSafe(a, v) if partCols.contains(a) => (a, v)
    }
    if (leafEq.size == filters.length) {
      staticFilters = leafEq
      mode = "static"
    } else {
      predicate = filters.toSeq
      mode = "predicate"
    }
    this
  }

  /** A pushed-down overwrite filter as a Column over the table's names. */
  private def toColumn(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v) => col(a).endsWith(v)
      case StringContains(a, v) => col(a).contains(v)
      case And(l, r) => toColumn(l) && toColumn(r)
      case Or(l, r) => toColumn(l) || toColumn(r)
      case Not(c) => !toColumn(c)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(
        s"overwrite on $path: filter $other has no column form")
    }
  }

  /** A predicate overwrite hands its rows to replaceWhere as one frame
    * (which routes them itself): its tasks write flat parts. */
  override protected def clusterCols: Seq[String] =
    if (mode == "predicate") Nil else partCols

  private def opName = if (mode == "append") "append" else "insert_overwrite"

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft $mode insert $path (${face.label})"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    FaceConvert.writerFactory(opName, face, writeSchema,
      clusterCols, path, sorted = true)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = messages.toSeq.collect { case m: LeafCommitMessage => m }
      .flatMap(_.parts)
    if (mode == "predicate") {
      // replaceWhere reads the written rows back as one frame and owns
      // the whole commit; the tmp parts are never published themselves
      try {
        val rows =
          if (data.isEmpty) spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            writeSchema)
          else GraftFeather.readFiles(spark, data.map(m =>
            (new org.apache.hadoop.fs.Path(path, m.tmpName).toString,
              m.bytes)))
        val r = graft.io.PredicateMutations.replaceWhere(spark, path, rows,
          predicate.map(toColumn).reduce(_ && _))
        report = Some(RowLevelCommitMetrics.Report(r.version, r.filesTouched,
          r.filesKept, r.partsWritten, 0))
      } finally abort(messages)
      return
    }
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      throw new IllegalStateException(
        s"insert on $path: no snapshot manifest (catalog tables always " +
          "carry one)"))
    // a zero-row APPEND publishes no version (replay-clean); overwrites
    // still publish — emptying is their meaning
    if (data.isEmpty && mode == "append") {
      report = Some(RowLevelCommitMetrics.noOp(snap))
      return
    }
    val targetV = snap.version + 1
    val written = FaceConvert.toFaceParts(face, fs, root, root, data,
      dataSchema, partCols, FeatherSnapshots.runPrefix(targetV))
    val parts = written.map { case (rel, len, _) => (rel, len) }
    // which existing files does this statement replace?
    val removeRel: Set[String] = mode match {
      case "append" => Set.empty
      case "truncate" => snap.files.map(_._1).toSet
      case "dynamic" if parts.isEmpty => Set.empty
      case "dynamic" =>
        // Spark/Hive dynamic semantics: only the leaves the new rows
        // actually landed in are replaced — matched by TYPED partition
        // value, not directory spelling (an existing `day=07` leaf IS the
        // partition a fresh `day=7` part lands in)
        val ps = FeatherSnapshots.toDiscovered(root, snap).partSchema
        def typed(files: Seq[(String, Long)]) =
          FeatherSnapshots.toDiscovered(root,
              snap.copy(files = files, dvs = Map.empty)).files
            .map(l => l.file -> l.values.map { case (c, raw) =>
              scala.util.Try(FeatherPartitions.castValue(raw,
                ps(c).dataType)).getOrElse(raw) })
        val touched = typed(parts).map(_._2).toSet
        val relOfAbs = snap.files.map { case (rel, _) =>
          new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
        typed(snap.files).collect {
          case (abs, vs) if touched(vs) => relOfAbs(abs) }.toSet
      case "static" =>
        // leaves whose partition VALUES equal every static filter value
        // (a partition column is constant per leaf, so equality decides
        // whole files exactly)
        val disc = FeatherSnapshots.toDiscovered(root, snap)
        val ps = disc.partSchema
        val matching = disc.files.filter { l =>
          val vals = l.values.toMap
          staticFilters.forall { case (c, v) =>
            vals.get(c).exists { raw =>
              val leafV = FeatherPartitions.castValue(raw, ps(c).dataType)
              if (v == null) leafV == null
              else java.util.Objects.equals(leafV,
                FeatherPartitions.castValue(String.valueOf(v),
                  ps(c).dataType))
            }
          }
        }
        val relOfAbs = snap.files.map { case (rel, _) =>
          new org.apache.hadoop.fs.Path(root, rel).toString -> rel }.toMap
        matching.map(l => relOfAbs(l.file)).toSet
    }
    // nothing written AND nothing replaced (dynamic overwrite of zero
    // rows, static overwrite matching no leaf): publish no version
    if (parts.isEmpty && removeRel.isEmpty) {
      report = Some(RowLevelCommitMetrics.noOp(snap))
      return
    }
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    added ++= parts
    // an overwrite that emptied the table (or its target leaves) must
    // leave it readable — stamp per replaced leaf, the mutation tier's
    // shared all-rows-gone shape
    if (added.isEmpty && removeRel.nonEmpty &&
        snap.files.forall { case (rel, _) => removeRel(rel) })
      added ++= FeatherMutations.stampLeaves(face, fs, root,
        snap.files.map(_._1), FeatherSnapshots.runPrefix(targetV),
        dataSchema)
    val version =
      try
        FeatherSnapshots.commitMutation(fs, root, opName, snap,
          removeRel = removeRel, add = added.toSeq,
          readRel = Some(removeRel))
      catch { case e: Throwable =>
        FeatherMutations.deletePartsAndSidecars(fs, root,
          added.toSeq.map(_._1))
        throw e
      }
    report = Some(RowLevelCommitMetrics.Report(version, removeRel.size,
      snap.files.size - removeRel.size, added.size, 0))
    LeafWriter.foldStats(fs, root, written)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FaceConvert.deleteTmp(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
      path, messages.toSeq.collect { case m: LeafCommitMessage => m }
        .flatMap(_.parts))
}
