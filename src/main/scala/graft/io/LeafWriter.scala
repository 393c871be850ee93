package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.types.{StringType, StructType}

import graft.sources.FeatherPartitions

/** One part a write task wrote: `leaf` is its escaped hive directory
  * chain ("" on a flat table), `tmpName` the hidden ROOT-level file it
  * sits in until [[LeafWriter.land]] renames it into the leaf, and
  * (`partitionId`, `seq`) name it there (`seq` counts the parts one task
  * opened). */
private[graft] final case class LeafPart(leaf: String, tmpName: String,
                                         partitionId: Int, seq: Int,
                                         statsJson: String, bytes: Long)

/** One open part of a face, task-side. */
private[graft] trait PartSink {
  def write(row: InternalRow): Unit
  /** Close the part; returns its batch stats as sidecar JSON. */
  def finish(): String
  def abort(): Unit
}

/** Opens parts of ONE schema in one face's format: built on the driver
  * ([[PartSinks.apply]]), shipped to the write tasks. */
private[graft] sealed trait PartSinks extends Serializable {
  def open(conf: Configuration, file: Path): PartSink
}

private[graft] object PartSinks {
  /** `face`'s parts of `st`; `codec` is translated by the face
    * (`"lz4"` is every face's default). */
  def apply(spark: SparkSession, face: ConnectorFace, st: StructType,
            codec: String): PartSinks = {
    val c = face.codecFor(codec)
    face match {
      case ConnectorFace.FeatherFace =>
        require(Seq("lz4", "zstd", "none", "null").contains(c),
          s"unknown codec $c (lz4, zstd, none)")
        new FeatherSinks(st, c)
      case ConnectorFace.AvroFace =>
        require(Seq("snappy", "deflate", "null", "none").contains(c),
          s"unknown codec $c (snappy, deflate, none)")
        new AvroSinks(st, GraftAvro.toAvroSchema(st).toString, c)
      case ConnectorFace.ParquetFace =>
        // Spark's own parquet writer, prepared on the micros-pinned
        // session exactly as the face's writeParts sink is; only the conf
        // keys the preparation set travel with the factory
        val base = spark.sparkContext.hadoopConfiguration
        val job = org.apache.hadoop.mapreduce.Job.getInstance(
          new Configuration(base))
        val factory = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat().prepareWrite(GraftParquet.microsSession(spark),
            job, Map("compression" -> GraftParquet.normCodec(c)), st)
        val set = job.getConfiguration.iterator().asScala
          .collect { case e if base.get(e.getKey) != e.getValue =>
            e.getKey -> e.getValue }.toMap
        new ParquetSinks(st, factory, set)
    }
  }

  private def toRows(st: StructType): InternalRow => Row = {
    val conv = CatalystTypeConverters.createToScalaConverter(st)
    r => conv(r).asInstanceOf[Row]
  }

  private final class FeatherSinks(st: StructType, codec: String)
      extends PartSinks {
    def open(conf: Configuration, file: Path): PartSink = {
      val pw = new GraftFeather.FeatherPartWriter(st,
        file.getFileSystem(conf).create(file, true), codec, 4096)
      val toRow = toRows(st)
      new PartSink {
        def write(row: InternalRow): Unit = pw.append(toRow(row))
        def finish(): String = {
          pw.finish(); FeatherStats.toJson(pw.batchStats)
        }
        def abort(): Unit = pw.abort()
      }
    }
  }

  private final class AvroSinks(st: StructType, schemaJson: String,
                                codec: String) extends PartSinks {
    def open(conf: Configuration, file: Path): PartSink = {
      val pw = new GraftAvro.AvroPartWriter(st, schemaJson,
        file.getFileSystem(conf).create(file, true), codec)
      val stats = new FeatherStats.Collector(st)
      val toRow = toRows(st)
      new PartSink {
        def write(row: InternalRow): Unit = {
          val r = toRow(row); pw.append(r); stats.observe(r)
        }
        def finish(): String = {
          pw.finish(); FeatherStats.toJson(Seq(stats.snapshotAndReset()))
        }
        def abort(): Unit = pw.abort()
      }
    }
  }

  private final class ParquetSinks(st: StructType,
                                   factory: OutputWriterFactory,
                                   jobConf: Map[String, String])
      extends PartSinks {
    def open(conf: Configuration, file: Path): PartSink = {
      val c = new Configuration(conf)
      jobConf.foreach { case (k, v) => c.set(k, v) }
      val w = factory.newInstance(file.toString, st,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(c,
          new org.apache.hadoop.mapreduce.TaskAttemptID()))
      new PartSink {
        def write(row: InternalRow): Unit = w.write(row)
        def finish(): String = {
          w.close()
          FeatherStats.toJson(GraftParquet.footerBatches(c, file.toString))
        }
        def abort(): Unit = try w.close() catch { case _: Exception => () }
      }
    }
  }
}

/** One write task's open parts, routed by hive leaf — the task side of
  * every partitioned write (the SQL writes' DataWriters and
  * [[FeatherMutations.routePartitionedInserts]]) and of the SQL writes'
  * flat parts. Rows arrive in `rowSchema` order; `partCols` name the
  * routing columns (none: every row lands in the root), whose values
  * cast to string at `timeZone`, the session's, as Spark's partitioned
  * sink casts them. Parts open on a leaf's first row, so a task no row
  * reached writes nothing. With `sorted` input (clustered and ordered by
  * the partition columns) a leaf's parts close when the next leaf
  * starts, so the task holds one open part at a time, as Spark's own
  * dynamic-partition writer does; unsorted input keeps every leaf it has
  * seen open. `partsFor(leaf)` > 1 spreads that leaf over as many parts
  * by row hash (a retried task re-derives the same split). */
private[graft] final class LeafParts(op: String, rowSchema: StructType,
                                     partCols: Seq[String], timeZone: String,
                                     sinks: PartSinks,
                                     conf: Configuration, root: Path,
                                     tmpStem: String, partitionId: Int,
                                     sorted: Boolean,
                                     partsFor: Map[String, Int] = Map.empty) {
  private val partIdx: Seq[Int] = partCols.map { c =>
    val i = rowSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
    require(i >= 0, s"$op: partition column '$c' is not in the written " +
      s"rows (${rowSchema.fieldNames.mkString(", ")})")
    i
  }
  private val partVals: InternalRow => UnsafeRow = {
    val proj = UnsafeProjection.create(partIdx.map(i => Cast(BoundReference(i,
      rowSchema(i).dataType, rowSchema(i).nullable), StringType,
      Some(timeZone))))
    proj(_)
  }
  private val dataOf: InternalRow => InternalRow =
    if (partIdx.isEmpty) identity
    else {
      val proj = UnsafeProjection.create(rowSchema.fields.indices
        .filterNot(partIdx.contains).map(i => BoundReference(i,
          rowSchema(i).dataType, rowSchema(i).nullable)))
      proj(_)
    }
  private val fs: FileSystem = root.getFileSystem(conf)

  private final class Slot(val seq: Int, val tmp: Path, val sink: PartSink)
  private val open = scala.collection.mutable.LinkedHashMap
    .empty[String, Array[Slot]]
  private val written = scala.collection.mutable.ArrayBuffer.empty[Path]
  private val done = scala.collection.mutable.ArrayBuffer.empty[LeafPart]
  private var lastVals: UnsafeRow = null
  private var lastLeaf: String = null
  private var current: String = null

  private def leafOf(row: InternalRow): String =
    if (partIdx.isEmpty) ""
    else {
      val vals = partVals(row)
      if (vals != lastVals) {
        lastVals = vals.copy()
        lastLeaf = LeafWriter.leafOf(op, partCols, partIdx.indices.map(k =>
          if (vals.isNullAt(k)) null else vals.getUTF8String(k).toString))
      }
      lastLeaf
    }

  def write(row: InternalRow): Unit = {
    val leaf = leafOf(row)
    if (sorted && current != null && current != leaf) close(current)
    current = leaf
    val slots = open.getOrElseUpdate(leaf,
      new Array[Slot](math.max(1, partsFor.getOrElse(leaf, 1))))
    val j =
      if (slots.length == 1) 0 else Math.floorMod(row.hashCode, slots.length)
    if (slots(j) == null) {
      val seq = written.size
      val tmp = new Path(root, f"$tmpStem-$seq%04d.tmp")
      written += tmp
      slots(j) = new Slot(seq, tmp, sinks.open(conf, tmp))
    }
    slots(j).sink.write(dataOf(row))
  }

  private def close(leaf: String): Unit = {
    open(leaf).filter(_ != null).foreach { s =>
      val stats = s.sink.finish()
      done += LeafPart(leaf, s.tmp.getName, partitionId, s.seq, stats,
        fs.getFileStatus(s.tmp).getLen)
    }
    open.remove(leaf): Unit
  }

  /** Close every open part; the parts this task wrote. */
  def commit(): Seq[LeafPart] = {
    open.keys.toSeq.foreach(close)
    done.toSeq
  }

  /** Release every open part and delete every file this task wrote. */
  def abort(): Unit = {
    open.values.foreach(_.filter(_ != null).foreach(_.sink.abort()))
    open.clear()
    written.foreach(p =>
      try fs.delete(p, false) catch { case _: Exception => () })
  }
}

/** Hive-partitioned part landing, shared by every write into a graft
  * table: tasks route rows to per-leaf parts ([[LeafParts]]), and the
  * driver only renames each part into its leaf under the run prefix and
  * writes its stats sidecar ([[land]]) — no Spark job at commit. The
  * merged per-leaf stats fold ([[foldStats]]) runs after the manifest
  * commit, so a commit that loses its conflict check strands no cache
  * entry. */
private[graft] object LeafWriter {
  /** THE leaf a row's partition values (cast to string) name, spelled
    * as Spark's partitioned sink spells it (`getPartitionPathString`):
    * Hive escaping, which every reader unescapes, and NULL and `""` in
    * the hive-null leaf. The literal hive-null marker is refused (it
    * would read back as NULL). */
  def leafOf(op: String, partCols: Seq[String], values: Seq[String]): String =
    partCols.zip(values).map { case (c, v) =>
      if (v == FeatherPartitions.HiveNull)
        throw new IllegalArgumentException(
          s"$op: partition value for '$c' is the literal hive null " +
            s"marker '$v' — it would be unreadable as anything but " +
            "NULL; use an actual null")
      ExternalCatalogUtils.getPartitionPathString(c, v)
    }.mkString("/")

  /** Rename each task part from `src`, the directory its tasks wrote
    * into, into its leaf under `root` as
    * `<prefix>-part-<partition>-<seq><suffix>` and write its per-part
    * stats sidecar. Returns (root-relative path, len, stats JSON). */
  def land(fs: FileSystem, src: Path, root: Path, parts: Seq[LeafPart],
           prefix: String, suffix: String): Seq[(String, Long, String)] = {
    parts.map(_.leaf).distinct.filter(_.nonEmpty)
      .foreach(l => fs.mkdirs(new Path(root, l)))
    parts.map { p =>
      val dir = if (p.leaf.isEmpty) root else new Path(root, p.leaf)
      val name = f"$prefix-part-${p.partitionId}%05d-${p.seq}%04d$suffix"
      val tmp = new Path(src, p.tmpName)
      val fin = new Path(dir, name)
      require(fs.rename(tmp, fin), s"commit rename $tmp -> $fin failed")
      val sc = fs.create(new Path(dir, name + ".stats.json"), true)
      try sc.write(p.statsJson.getBytes("UTF-8")) finally sc.close()
      (if (p.leaf.isEmpty) name else s"${p.leaf}/$name", p.bytes, p.statsJson)
    }
  }

  /** Fold landed parts into their directories' merged stats — after the
    * manifest commit that published them. */
  def foldStats(fs: FileSystem, root: Path,
                parts: Seq[(String, Long, String)]): Unit =
    parts.groupBy { case (rel, _, _) => FeatherMutations.relDirOf(rel) }
      .foreach { case (dir, ps) =>
        FeatherStats.upsertMerged(fs,
          if (dir.isEmpty) root else new Path(root, dir),
          ps.map { case (rel, len, js) =>
            rel.substring(rel.lastIndexOf('/') + 1) ->
              (len, FeatherStats.fromJson(js)) }.toMap)
      }
}
