package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.io.{ConnectorFace, DeletionVectors, GraftHadoop}

/** The parquet face's SQL BATCH read — `SELECT ... FROM <catalog>.t` —
  * on the ENGINE's read plan instead of the generic row-converter scan.
  *
  * The generic [[FaceScan]] is the right plan for the row-level scans
  * (whole-file partitions are the group contract, a rewrite is
  * file-granular anyway), but as a by-name read it is the wrong plan at
  * 100×: one task per FILE (a multi-GB part becomes a straggler), a
  * per-row `CatalystTypeConverters` decode, and no executor-side
  * row-group pruning. This scan keeps the generic scan's PLANNING
  * (snapshot resolution, partition-directory pruning, stats/bloom
  * whole-file skipping, `_file`/`_pos` splice rules — one definition,
  * reused via the wrapped [[FaceScan]]) and swaps the EXECUTION onto
  * Spark's own DSv2 parquet reader factory: vectorized columnar
  * batches feeding whole-stage codegen, byte-range splits packed with
  * the native file-scan policy (small files coalesce, large files
  * split), pushed filters pruning row groups from each file's footer on
  * the executors, hive partition values appended as per-split constants
  * by the reader itself. A requested `_pos` metadata column rides
  * Spark's file-wide row-index generator — the parquet face's exact DV
  * position encoding ([[graft.io.GraftParquet]]) — so `(_file, _pos)`
  * reads identically on both plans.
  *
  * DV-BOUND snapshots keep the parquet reader factory but read ROWS
  * (Spark refuses mixed columnar/row partitions inside one scan): the
  * vectorized reader still decodes each batch, the row-index generator
  * supplies every row's file position, and [[DvMaskedReaderFactory]]
  * drops the positions each file's sidecar names — the anti-join plan
  * of [[graft.io.GraftParquet.readFiles]] without the join. */
private[sources] class ParquetFaceBatchScan(
    face: ConnectorFace, path: String, required: StructType,
    fileFilters: Seq[org.apache.spark.sql.sources.Filter],
    dataSchema: StructType, partSchema: StructType,
    pinnedVersion: Option[Long], owned: Set[String],
    keyCleared: Set[String])
    extends Scan with Batch with SupportsReportStatistics {

  private val partNames = partSchema.fieldNames.toSet
  private val metaFile =
    required.fieldNames.contains(GraftMetaColumns.FileName) &&
      !owned.contains(GraftMetaColumns.FileName)
  private val metaPos =
    required.fieldNames.contains(GraftMetaColumns.PosName) &&
      !owned.contains(GraftMetaColumns.PosName)

  /** The factory's natural output order is `readDataSchema ++
    * partitionSchema`; the scan REPORTS that order (Spark rebuilds the
    * relation's attribute order from readSchema by name, a projection
    * above restores the query's shape) so no per-batch reordering wrap
    * is ever needed. Table-OWNED `_file`/`_pos` columns are ordinary
    * data columns here — the splice/rename rules below apply only to
    * the METADATA columns (the same precedence [[GraftMetaColumns]]
    * pins for every face). */
  private val dataSection: Seq[StructField] = required.fields.toSeq
    .filter(f => !partNames(f.name) &&
      !(metaFile && f.name == GraftMetaColumns.FileName))
  private val partSection: Seq[StructField] =
    required.fields.toSeq.filter(f => partNames(f.name)) ++
      (if (metaFile)
        Seq(StructField(GraftMetaColumns.FileName,
          org.apache.spark.sql.types.StringType, nullable = false))
      else Nil)

  override def readSchema(): StructType =
    StructType(dataSection ++ partSection)

  /** `_pos` → Spark's row-index generator field, position preserved
    * (rows and batches carry no names — only the factory's requested
    * schema needs the temporary spelling). A DV-bound read that did not
    * ask for `_pos` appends the generator field LAST in the data
    * section; the masking reader strips it again. */
  private lazy val readDataSchema: StructType = StructType(dataSection.map(f =>
    if (metaPos && f.name == GraftMetaColumns.PosName)
      org.apache.spark.sql.graft.Bridge.rowIndexField
    else f) ++ (if (anyDv && !metaPos)
      Seq(org.apache.spark.sql.graft.Bridge.rowIndexField) else Nil))

  // ONE planning pass (snapshot + kept files + DVs as one consistent
  // view), the generic scan's own, so this read and the row-level scans
  // prune files identically
  private val generic = new FaceScan(None, face, path, readSchema(),
    fileFilters, partSchema, pinnedVersion, owned, keyCleared)

  private def keptParts: Seq[FaceInputPartition] =
    generic.planned._2.toSeq.map(_.asInstanceOf[FaceInputPartition])

  private lazy val anyDv: Boolean = keptParts.exists(_.dvPath.isDefined)

  override def toBatch: Batch = this
  override def description(): String =
    s"graft parquet face batch scan `$path` " +
      (if (anyDv) "(vectorized, DV-masked rows)" else "(vectorized)") +
      (if (fileFilters.nonEmpty)
        s", FileSkipFilters: ${fileFilters.mkString(", ")}" else "")

  override def planInputPartitions(): Array[InputPartition] = {
    val toCatalyst = partSection.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val splits = org.apache.spark.sql.graft.Bridge.parquetFilePartitions(
      SparkSession.active,
      keptParts.map { p =>
        val raw = p.partValues.toMap
        val pv = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(partSection.zipWithIndex.map {
            case (f, i) => toCatalyst(i)(FeatherPartitions.castValue(
              raw.getOrElse(f.name, null), f.dataType))
          }.toArray)
        (p.file, p.len, pv: org.apache.spark.sql.catalyst.InternalRow)
      })
    if (!anyDv) splits
    else {
      // keyed by the split's own spelling of its path (the splits were
      // built from these same absolute strings)
      val dvByFile = keptParts.flatMap(p => p.dvPath.map(d =>
        org.apache.spark.paths.SparkPath.fromPathString(p.file).urlEncoded
          -> d)).toMap
      splits.map { s =>
        val fp = s.asInstanceOf[FilePartition]
        DvMaskedPartition(fp, fp.files.toSeq.flatMap(f =>
          dvByFile.get(f.urlEncodedPath).map(f.urlEncodedPath -> _)).toMap)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // row-group pruning wants data-column filters only: partition and
    // metadata predicates already pruned whole leaves/files at
    // planning, and no parquet footer can answer them
    val dataNames = dataSchema.fieldNames.toSet
    val spark = SparkSession.active
    val inner = org.apache.spark.sql.graft.Bridge.parquetReaderFactory(
      spark, dataSchema, readDataSchema, StructType(partSection),
      fileFilters.filter(_.references.forall(dataNames)).toArray)
    if (!anyDv) inner
    else {
      val posAt = readDataSchema.fieldNames.indexOf(
        org.apache.spark.sql.graft.Bridge.rowIndexField.name)
      new DvMaskedReaderFactory(inner,
        (readDataSchema.fields ++ partSection).map(_.dataType).toSeq,
        posAt, dropPos = !metaPos, GraftHadoop.confBroadcast(spark))
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(generic.planned._3)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}

/** One read task of a DV-bound batch scan: Spark's packed splits plus
  * the sidecar of every split file that has one. */
private[sources] case class DvMaskedPartition(
    files: FilePartition, dvs: Map[String, String]) extends InputPartition {
  override def preferredLocations(): Array[String] =
    files.preferredLocations()
}

/** Row reads over the parquet reader factory, one split at a time,
  * dropping every row whose file position (the row-index column at
  * `posAt`, ascending within a split) its file's sidecar names. A
  * generator column the query did not ask for (`dropPos`) is projected
  * away from the emitted rows. */
private class DvMaskedReaderFactory(
    inner: PartitionReaderFactory, outTypes: Seq[DataType], posAt: Int,
    dropPos: Boolean,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DvMaskedPartition]
    val execConf = GraftHadoop.execConf(confMap)
    val strip: InternalRow => InternalRow =
      if (!dropPos) identity
      else {
        val proj = UnsafeProjection.create(outTypes.indices
          .filter(_ != posAt)
          .map(i => BoundReference(i, outTypes(i), nullable = true)))
        proj(_)
      }
    new PartitionReader[InternalRow] {
      private val splits = p.files.files.iterator
      private var reader: PartitionReader[InternalRow] = _
      private var mask: DeletionVectors.Cursor = _
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (reader != null || splits.hasNext) {
          if (reader == null) {
            val f = splits.next()
            reader = inner.createReader(
              FilePartition(p.files.index, Array(f)))
            mask = p.dvs.get(f.urlEncodedPath).map(d =>
              new DeletionVectors.Cursor(DeletionVectors.read(execConf, d),
                keep = false)).orNull
          }
          if (reader.next()) {
            row = reader.get()
            if (mask == null || mask.admit(row.getLong(posAt))) return true
          } else {
            reader.close()
            reader = null
          }
        }
        false
      }
      override def get(): InternalRow = strip(row)
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
