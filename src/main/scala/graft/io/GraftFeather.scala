package graft.io

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ATimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Feather v2 source/sink. Feather v2 IS the Arrow IPC file format
  * (magic `ARROW1`), and Spark bundles the Arrow Java libraries
  * (arrow-vector / arrow-memory / arrow-compression 18.x) for its own
  * Python interchange — so, exactly like [[GraftAvro]] un-blocked
  * read_avro on the bundled codec, feather needs no new dependency.
  * Reference: python/cudf/cudf/io/feather.py:12 (read_feather /
  * to_feather as pyarrow passthroughs — the file format below is the
  * same one pyarrow emits).
  *
  * Scale shape: SPLITTABLE reads at record-batch granularity. The IPC
  * file footer indexes every record batch (offset + length), so the
  * driver plans one task per group of batches (grouped to
  * `maxSplitBytes` of body bytes) and each task seeks straight to its
  * batches — a single giant third-party .feather drop parallelizes
  * across the cluster with no scan-to-find-boundaries pass (cheaper
  * than the Avro sync-marker protocol: the footer IS the split index).
  * Batch body IO is monolithic per batch (buffers for all columns live
  * in one contiguous body), so `columns=` prunes at CONVERSION, not IO
  * — same contract as the reference's feather passthrough, which also
  * materializes whole record batches.
  *
  * Compressed buffers (LZ4_FRAME / ZSTD — pandas `to_feather` emits
  * LZ4_FRAME by default) go through [[GraftArrowCompression]] in both
  * directions: LZ4 frames are built and parsed over the bundled
  * lz4-java's block API straight between Arrow buffers (the
  * commons-compress LZ4 of the stock factory measured ~20× slow, and
  * lz4-java's frame streams allocate 8 MB of heap per buffer); pyarrow's
  * linked-block frames over 64 KB and ZSTD go to the stock factory.
  *
  * Unsigned integer columns widen exactly like the parquet unsigned
  * ingest path (SURVEY §1.2): UINT8→Short, UINT16→Int, UINT32→Long,
  * UINT64→Decimal(20,0) — a signed misread would surface negative
  * values and fail the oracle hash.
  */
object GraftFeather {

  // ---- allocator (one per JVM; vectors are task-scoped) --------------------

  private lazy val allocator = new RootAllocator(Long.MaxValue)

  // ---- schema mapping ------------------------------------------------------

  /** Arrow field → Spark type (read side). */
  def toSparkType(f: Field): DataType = f.getType match {
    case _: ArrowType.Bool => BooleanType
    case i: ArrowType.Int if i.getIsSigned => i.getBitWidth match {
      case 8 => ByteType
      case 16 => ShortType
      case 32 => IntegerType
      case 64 => LongType
      case w => throw new IllegalArgumentException(s"unsupported int width $w")
    }
    case i: ArrowType.Int => i.getBitWidth match { // unsigned: widen (§1.2)
      case 8 => ShortType
      case 16 => IntegerType
      case 32 => LongType
      case 64 => DecimalType(20, 0)
      case w => throw new IllegalArgumentException(s"unsupported uint width $w")
    }
    case fp: ArrowType.FloatingPoint => fp.getPrecision match {
      case FloatingPointPrecision.SINGLE => FloatType
      case FloatingPointPrecision.DOUBLE => DoubleType
      case p => throw new IllegalArgumentException(s"unsupported float precision $p")
    }
    case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 => StringType
    case _: ArrowType.Binary | _: ArrowType.LargeBinary => BinaryType
    case _: ArrowType.Date => DateType
    case t: ArrowType.Timestamp =>
      if (t.getTimezone == null) TimestampNTZType else TimestampType
    case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
    case _: ArrowType.List | _: ArrowType.LargeList =>
      val elem = f.getChildren.get(0)
      ArrayType(toSparkType(elem), elem.isNullable)
    case _: ArrowType.Struct =>
      StructType(f.getChildren.asScala.map(c =>
        StructField(c.getName, toSparkType(c), c.isNullable)).toSeq)
    case other =>
      throw new IllegalArgumentException(s"unsupported Arrow type $other")
  }

  /** Per-column value converter, built once per file from the Arrow field
    * (the field carries unit/signedness the runtime object loses — a bare
    * Long could be micros or nanos; a bare Byte could be i8 or u8). */
  private def converter(f: Field): Any => Any = {
    val conv: Any => Any = f.getType match {
      case i: ArrowType.Int if !i.getIsSigned => i.getBitWidth match {
        case 8 => v => v match {
          case b: java.lang.Byte => ((b.toInt) & 0xff).toShort
          case n: Number => n.shortValue()
        }
        case 16 => v => v match {
          case c: java.lang.Character => c.toInt
          case s: java.lang.Short => s.toInt & 0xffff
          case n: Number => n.intValue()
        }
        case 32 => v => v match {
          case i32: java.lang.Integer => i32.toLong & 0xffffffffL
          case n: Number => n.longValue()
        }
        case _ => v => v match {
          case l: java.lang.Long =>
            BigDecimal(new java.math.BigInteger(java.lang.Long.toUnsignedString(l)))
          case n: Number => BigDecimal(n.toString)
        }
      }
      case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 => v => v.toString
      case _: ArrowType.Date => v => v match {
        case days: java.lang.Integer =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
        case ldt: java.time.LocalDateTime => java.sql.Date.valueOf(ldt.toLocalDate)
      }
      case t: ArrowType.Timestamp =>
        val toMicros: Long => Long = t.getUnit match {
          case ATimeUnit.SECOND => _ * 1000000L
          case ATimeUnit.MILLISECOND => _ * 1000L
          case ATimeUnit.MICROSECOND => identity
          case ATimeUnit.NANOSECOND => Math.floorDiv(_, 1000L)
        }
        def micros(v: Any): Long = v match {
          case l: java.lang.Long => toMicros(l)
          case ldt: java.time.LocalDateTime => // getObject pre-applies the unit
            val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
            inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        }
        if (t.getTimezone == null)
          // TimestampNTZ: wall-clock, no instant semantics
          v => {
            val m = micros(v)
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(m, 1000000L),
              (Math.floorMod(m, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC)
          }
        else
          v => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(micros(v), 1000000L),
            Math.floorMod(micros(v), 1000000L) * 1000L))
      case _: ArrowType.Decimal => v =>
        BigDecimal(v.asInstanceOf[java.math.BigDecimal])
      case _: ArrowType.List | _: ArrowType.LargeList =>
        val elem = converter(f.getChildren.get(0))
        v => v.asInstanceOf[java.util.List[Any]].asScala
          .map(e => if (e == null) null else elem(e)).toSeq
      case _: ArrowType.Struct =>
        val children = f.getChildren.asScala.toSeq
        val convs = children.map(converter)
        v => {
          val m = v.asInstanceOf[java.util.Map[String, Any]]
          Row.fromSeq(children.zip(convs).map { case (c, cf) =>
            val cv = m.get(c.getName)
            if (cv == null) null else cf(cv)
          })
        }
      case _ => identity // bool/signed ints/float/double/binary pass through
    }
    v => if (v == null) null else conv(v)
  }

  // ---- read ----------------------------------------------------------------

  /** A SeekableByteChannel over a Hadoop input stream — the Arrow reader
    * wants NIO channel seeks; Hadoop gives Seekable streams. Same role
    * FsInput plays for the Avro reader. */
  private class HadoopChannel(in: org.apache.hadoop.fs.FSDataInputStream,
                              len: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var pos = 0L
    private var open = true
    override def read(dst: java.nio.ByteBuffer): Int = {
      val want = math.min(dst.remaining().toLong, len - pos).toInt
      if (want <= 0) return -1
      in.seek(pos)
      val n =
        if (dst.hasArray) { // write straight into the buffer's backing array
          val m = in.read(dst.array(), dst.arrayOffset() + dst.position(), want)
          if (m > 0) dst.position(dst.position() + m)
          m
        } else { // direct buffer: one bounded copy through a scratch array
          val arr = new Array[Byte](want)
          val m = in.read(arr, 0, want)
          if (m > 0) dst.put(arr, 0, m)
          m
        }
      if (n > 0) pos += n
      n
    }
    override def write(src: java.nio.ByteBuffer): Int =
      throw new UnsupportedOperationException("read-only channel")
    override def position(): Long = pos
    override def position(p: Long): java.nio.channels.SeekableByteChannel = {
      pos = p; this
    }
    override def size(): Long = len
    override def truncate(s: Long): java.nio.channels.SeekableByteChannel =
      throw new UnsupportedOperationException("read-only channel")
    override def isOpen: Boolean = open
    override def close(): Unit = { open = false; in.close() }
  }

  private[graft] def openReader(conf: org.apache.hadoop.conf.Configuration,
                         file: String, len: Long): ArrowFileReader = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    new ArrowFileReader(
      new HadoopChannel(fs.open(p), len), allocator,
      GraftArrowCompression)
  }

  private def partFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stat = fs.getFileStatus(p)
    val files =
      if (stat.isDirectory)
        fs.listStatus(p).toSeq
          .filter { f =>
            val n = f.getPath.getName
            (n.endsWith(".feather") || n.endsWith(".arrow")) && !n.startsWith("_")
          }
      else Seq(stat)
    require(files.nonEmpty, s"no .feather/.arrow files under $path")
    files.map(f => f.getPath.toString -> f.getLen).sortBy(_._1)
  }

  /** read_feather(path, columns=...): schema + split plan from the IPC
    * footers (one footer read per file, on the driver — same cost class
    * as parquet footer planning), then one task per batch group. */
  def read(spark: SparkSession, path: String,
           columns: Seq[String] = Nil,
           maxSplitBytes: Long = 128L << 20): DataFrame =
    readFiles(spark, partFiles(spark, path), columns, maxSplitBytes)

  /** [[read]] over an explicit (file, length) list — the entry point for
    * callers that already hold a file set (the mutation rewriter reads
    * only a snapshot's TOUCHED files, never the directory listing).
    * `mergeSchema = true` reads the UNION of the files' footers with
    * nulls filling predating files — mutations and re-clustering use it
    * so a rewrite of a schema-evolved table carries every generation's
    * columns instead of silently projecting to the first footer. */
  private[graft] def readFiles(spark: SparkSession,
                               files: Seq[(String, Long)],
                               columns: Seq[String] = Nil,
                               maxSplitBytes: Long = 128L << 20,
                               mergeSchema: Boolean = false,
                               dvPaths: Map[String, String] = Map.empty,
                               posKeep: Map[String, Array[Long]] = Map.empty)
      : DataFrame = {
    val (firstFields, splits) = planReadFiles(spark, files, maxSplitBytes)
    val arrowFields =
      if (mergeSchema) readFieldsMerged(spark, files) else firstFields
    val projected: Seq[Field] =
      if (columns.isEmpty) arrowFields
      else columns.map { c =>
        arrowFields.find(_.getName == c).getOrElse(throw new IllegalArgumentException(
          s"column '$c' not in feather schema " +
            s"(${arrowFields.map(_.getName).mkString(", ")})"))
      }
    val sparkSchema = StructType(projected.map(f =>
      StructField(f.getName, toSparkType(f), f.isNullable)))
    val colNames = projected.map(_.getName)
    // a 0-row dataset has files with footers but no record batches: a
    // valid empty frame, not an error
    if (splits.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), sparkSchema)
    val confMap = GraftHadoop.confBroadcast(spark)
    val rdd = spark.sparkContext
      .parallelize(splits, splits.size)
      .mapPartitions { sit =>
        val execConf = new org.apache.hadoop.conf.Configuration(false)
        confMap.value.foreach { case (k, v) => execConf.set(k, v) }
        val open = new java.util.ArrayList[ArrowFileReader]()
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            open.asScala.foreach(r => try r.close() catch { case _: Exception => () })))
        sit.flatMap { case (file, len, batchIdxs) =>
          // deletion vectors load EXECUTOR-side (per split, tiny files):
          // the driver never ships position arrays through the closure
          // for the scan path. posKeep inverts the filter — the CDF
          // "exactly these rows" read with driver-computed position sets.
          posKeep.get(file) match {
            case Some(keep) =>
              // decode ONLY the batches the kept positions name — a
              // 10-row dv-diff read of a 100-batch part must not
              // decompress 100 batches to keep 10 rows
              val wanted = keep.map(p => (p >>> 32).toInt).toSet
              splitRows(execConf, file, len,
                batchIdxs.filter(wanted), colNames,
                open.add(_), lenient = mergeSchema, dv = keep,
                dvKeep = true)
            case None =>
              val dv = dvPaths.get(file)
                .map(p => DeletionVectors.read(execConf, p)).orNull
              splitRows(execConf, file, len, batchIdxs, colNames,
                open.add(_), lenient = mergeSchema, dv = dv)
          }
        }
      }
    spark.createDataFrame(rdd, sparkSchema)
  }

  /** Schema-only planning: the Arrow fields from the FIRST file's footer.
    * One footer read — what `inferSchema` needs; the full every-file
    * sweep happens once, in [[planRead]], at scan time. */
  private[graft] def readFields(spark: SparkSession, path: String): Seq[Field] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = partFiles(spark, path)
    val head = openReader(conf, files.head._1, files.head._2)
    try head.getVectorSchemaRoot.getSchema.getFields.asScala.toSeq
    finally head.close()
  }

  /** Schema-evolution inference: the UNION of every file's footer fields,
    * first-seen order (first file's layout, later files' new columns
    * appended in discovery order). A name carried with two different
    * types fails loudly BY FILE — silent coercion would corrupt a column
    * an old generation wrote narrower. Footer reads run on the same
    * bounded pool as split planning, so a 10⁵-file table infers in
    * O(files / pool), not serially on the driver. */
  private[graft] def readFieldsMerged(spark: SparkSession,
                                      files: Seq[(String, Long)]): Seq[Field] =
    readFieldsMergedConf(spark.sparkContext.hadoopConfiguration, files)

  /** `dt` with every NESTED nullability flag loosened (array elements,
    * map values, struct fields). */
  private[graft] def looseType(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(looseType(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(looseType(k), looseType(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = looseType(f.dataType), nullable = true)))
    case other => other
  }

  /** [[readFieldsMerged]] off a bare Hadoop conf — callable from executor
    * code (the compaction rewriter unions its GROUP's footers there). */
  private[graft] def readFieldsMergedConf(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[(String, Long)]): Seq[Field] = {
    require(files.nonEmpty, "readFieldsMerged: empty file list")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    val perFile =
      try {
        val futs = files.map { case (f, len) =>
          (f, pool.submit(new java.util.concurrent.Callable[Seq[Field]] {
            def call(): Seq[Field] = {
              val r = openReader(conf, f, len)
              try r.getVectorSchemaRoot.getSchema.getFields.asScala.toSeq
              finally r.close()
            }
          }))
        }
        futs.map { case (f, fu) =>
          try (f, fu.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw new java.io.IOException(
                s"Feather part file $f: cannot read IPC footer", e.getCause)
          }
        }
      } finally pool.shutdown()
    val order = scala.collection.mutable.LinkedHashMap
      .empty[String, (Field, String, Int, Boolean)]
    perFile.foreach { case (f, fields) =>
      fields.foreach { fld =>
        order.get(fld.getName) match {
          case None => order(fld.getName) = (fld, f, 1, fld.isNullable)
          case Some((prev, prevFile, n, anyNullable)) =>
            val (pt, ft) = (toSparkType(prev), toSparkType(fld))
            require(pt == ft || looseType(pt) == looseType(ft),
              s"mergeSchema: column '${fld.getName}' is " +
                s"${pt.catalogString} in $prevFile but " +
                s"${ft.catalogString} in $f — evolved columns " +
                "must keep their type")
            // types differing only in NESTED nullability (an array's
            // containsNull, a struct field's nullable) are one type; the
            // looser footer wins, for the same reason as the top level
            val keep = if (pt != ft && looseType(ft) == ft) fld else prev
            order(fld.getName) = (keep, prevFile, n + 1,
              anyNullable || fld.isNullable)
        }
      }
    }
    // a column some file PREDATES widens to nullable (those files read
    // null), and so does a column ANY generation declared nullable — the
    // first-seen footer must not impose non-null over files that hold
    // nulls (codegen elides null checks off the schema: silent wrong
    // results, not an error). Only a column every file carries AND every
    // file declares non-null keeps the non-null guarantee.
    order.values.map { case (f, _, seen, anyNullable) =>
      if (f.isNullable) f
      else if (seen == perFile.size && !anyNullable) f
      else new Field(f.getName,
        new FieldType(true, f.getType, f.getDictionary, f.getMetadata),
        f.getChildren)
    }.toSeq
  }

  /** Driver-side read planning: the Arrow schema fields (from the first
    * footer) and the (file, fileLen, batchIndices) splits — consecutive
    * batches grouped until a group's body bytes exceed `maxSplitBytes`.
    * Shared by [[read]] and the DSv2 connector (graft.sources). */
  private[graft] def planRead(spark: SparkSession, path: String,
                              maxSplitBytes: Long)
      : (Seq[Field], Seq[(String, Long, Seq[Int])]) =
    planReadFiles(spark, partFiles(spark, path), maxSplitBytes)

  /** [[planRead]] over an explicit file list — the entry point for callers
    * that discover files themselves (the partitioned-layout connector
    * walks `key=value` chains; `partFiles` only lists flat dirs). */
  private[graft] def planReadFiles(spark: SparkSession,
                                   files: Seq[(String, Long)],
                                   maxSplitBytes: Long)
      : (Seq[Field], Seq[(String, Long, Seq[Int])]) = {
    require(maxSplitBytes > 0, s"maxSplitBytes must be positive, got $maxSplitBytes")
    require(files.nonEmpty, "planReadFiles: empty file list")
    val conf = spark.sparkContext.hadoopConfiguration
    val head = openReader(conf, files.head._1, files.head._2)
    val fields =
      try head.getVectorSchemaRoot.getSchema.getFields.asScala.toSeq
      finally head.close()
    // footer reads are tiny but per-file; a 10k-part directory must not
    // serialize them on the driver (parquet parallelizes its footer
    // planning the same way)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    val batchInfo =
      try {
        val futures = files.map { case (f, len) =>
          pool.submit(new java.util.concurrent.Callable[(String, Long, Seq[Long])] {
            def call(): (String, Long, Seq[Long]) = {
              val r = openReader(conf, f, len)
              try {
                val blocks = r.getRecordBlocks.asScala
                (f, len, blocks.map(b => b.getBodyLength + b.getMetadataLength).toSeq)
              } catch {
                case e: Exception => throw new java.io.IOException(
                  s"Feather part file $f: cannot read IPC footer " +
                    "(not an Arrow IPC file, or truncated)", e)
              } finally r.close()
            }
          })
        }
        futures.map { fu =>
          try fu.get()
          catch { // unwrap: the IOException above names the file
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
      } finally pool.shutdown()
    val splits = batchInfo.flatMap { case (f, len, sizes) =>
      if (sizes.isEmpty) Seq.empty[(String, Long, Seq[Int])]
      else {
        val groups = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        var acc = 0L
        sizes.zipWithIndex.foreach { case (sz, i) =>
          if (acc > 0 && acc + sz > maxSplitBytes) {
            groups += scala.collection.mutable.ArrayBuffer.empty[Int]
            acc = 0L
          }
          groups.last += i
          acc += sz
        }
        groups.map(g => (f, len, g.toSeq))
      }
    }
    (fields, splits)
  }

  /** Executor-side split decode: rows of `colNames` from the given record
    * batches of one file. Name-based resolution, like the Avro reader: a
    * part missing a projected column fails by FILE name. The caller owns
    * reader lifecycle via `registerClose` (task-completion close). Shared
    * by [[read]] and the DSv2 connector. */
  private[graft] def splitRows(execConf: org.apache.hadoop.conf.Configuration,
                               file: String, len: Long, batchIdxs: Seq[Int],
                               colNames: Seq[String],
                               registerClose: ArrowFileReader => Unit,
                               lenient: Boolean = false,
                               dv: Array[Long] = null,
                               dvKeep: Boolean = false): Iterator[Row] =
    rowsFrom(execConf, file, len, _ => batchIdxs, colNames, registerClose,
      lenient, dv, dvKeep).map(_._2)

  /** [[splitRows]] with each row's DV POSITION (the `_pos` metadata
    * column and the delta row-level writes consume this — positions are
    * batch-absolute, so any split plan yields the same coordinates). */
  private[graft] def splitRowsPos(execConf: org.apache.hadoop.conf.Configuration,
                                  file: String, len: Long,
                                  batchIdxs: Seq[Int],
                                  colNames: Seq[String],
                                  registerClose: ArrowFileReader => Unit,
                                  lenient: Boolean = false,
                                  dv: Array[Long] = null)
      : Iterator[(Long, Row)] =
    rowsFrom(execConf, file, len, _ => batchIdxs, colNames, registerClose,
      lenient, dv)

  /** Every record batch of `file` through ONE reader open — the whole-file
    * shape compaction consumes (a separate footer probe just to learn the
    * batch count would double per-file open cost on exactly the
    * thousands-of-tiny-files inputs the job exists for). `dv` filters
    * deletion-vector positions out (merge-on-read application). */
  private[graft] def allRows(execConf: org.apache.hadoop.conf.Configuration,
                             file: String, len: Long, colNames: Seq[String],
                             registerClose: ArrowFileReader => Unit,
                             lenient: Boolean = false,
                             dv: Array[Long] = null): Iterator[Row] =
    rowsFrom(execConf, file, len, r => 0 until r.getRecordBlocks.size(),
      colNames, registerClose, lenient, dv).map(_._2)

  /** [[allRows]] with each row's DELETION-VECTOR POSITION
    * (`(batchIdx << 32) | rowInBatch` — [[DeletionVectors.featherPos]]):
    * the DV writer scans key columns with positions to learn WHERE the
    * matched rows live without rewriting anything. */
  private[graft] def allRowsPos(execConf: org.apache.hadoop.conf.Configuration,
                                file: String, len: Long, colNames: Seq[String],
                                registerClose: ArrowFileReader => Unit,
                                lenient: Boolean = false,
                                dv: Array[Long] = null)
      : Iterator[(Long, Row)] =
    rowsFrom(execConf, file, len, r => 0 until r.getRecordBlocks.size(),
      colNames, registerClose, lenient, dv)

  private def rowsFrom(execConf: org.apache.hadoop.conf.Configuration,
                       file: String, len: Long,
                       idxsOf: ArrowFileReader => Seq[Int],
                       colNames: Seq[String],
                       registerClose: ArrowFileReader => Unit,
                       lenient: Boolean = false,
                       dv: Array[Long] = null,
                       dvKeep: Boolean = false): Iterator[(Long, Row)] = {
    val reader =
      try openReader(execConf, file, len)
      catch { case e: Exception =>
        throw new java.io.IOException(s"Feather part file $file: cannot open", e)
      }
    registerClose(reader)
    val root = reader.getVectorSchemaRoot
    val fileFields = root.getSchema.getFields.asScala.toSeq
    // lenient: a projected column absent from this file reads as NULL for
    // every row — the mergeSchema contract (older file generations predate
    // the column). Default stays loud: a missing column in a homogeneous
    // table is corruption, not evolution.
    val colIdx = colNames.map { c =>
      val i = fileFields.indexWhere(_.getName == c)
      if (i < 0 && !lenient) throw new java.io.IOException(
        s"Feather part file $file: no column '$c' " +
          s"(file has: ${fileFields.map(_.getName).mkString(", ")})")
      i
    }
    val convs = colIdx.map(i => if (i < 0) null else converter(fileFields(i)))
    val blocks = reader.getRecordBlocks.asScala
    idxsOf(reader).iterator.flatMap { bi =>
      require(reader.loadRecordBatch(blocks(bi)),
        s"Feather part file $file: failed to load record batch $bi")
      val n = root.getRowCount
      val vecs = colIdx.map(i => if (i < 0) null else root.getVector(i))
      // deletion-vector application: one binary search to enter the
      // batch, then an O(1)-amortized advancing cursor per row — the
      // decode of skipped rows' values is avoided, the batch decompress
      // is not (Arrow IPC decompresses whole batches)
      val cursor =
        if (dv == null) null
        else {
          val c = new DeletionVectors.Cursor(dv, dvKeep)
          c.seek(bi.toLong << 32)
          c
        }
      (0 until n).iterator
        .filter(r => cursor == null ||
          cursor.admit(DeletionVectors.featherPos(bi, r)))
        .map { r =>
          (DeletionVectors.featherPos(bi, r),
            Row.fromSeq(colIdx.indices.map { c =>
              if (vecs(c) == null) null else convs(c)(vecs(c).getObject(r))
            }))
        }
    }
  }

  // ---- write ---------------------------------------------------------------

  /** Spark → Arrow field (write side). */
  def toArrowField(name: String, dt: DataType, nullable: Boolean): Field = {
    def prim(t: ArrowType): Field =
      new Field(name, new FieldType(nullable, t, null), null)
    dt match {
      case BooleanType => prim(ArrowType.Bool.INSTANCE)
      case ByteType => prim(new ArrowType.Int(8, true))
      case ShortType => prim(new ArrowType.Int(16, true))
      case IntegerType => prim(new ArrowType.Int(32, true))
      case LongType => prim(new ArrowType.Int(64, true))
      case FloatType => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType => prim(ArrowType.Utf8.INSTANCE)
      case BinaryType => prim(ArrowType.Binary.INSTANCE)
      case DateType => prim(new ArrowType.Date(DateUnit.DAY))
      case TimestampType => prim(new ArrowType.Timestamp(ATimeUnit.MICROSECOND, "UTC"))
      case TimestampNTZType => prim(new ArrowType.Timestamp(ATimeUnit.MICROSECOND, null))
      case d: DecimalType =>
        prim(new ArrowType.Decimal(d.precision, d.scale, 128))
      case ArrayType(et, containsNull) =>
        new Field(name, new FieldType(nullable, ArrowType.List.INSTANCE, null),
          Seq(toArrowField("element", et, containsNull)).asJava)
      case st: StructType =>
        new Field(name, new FieldType(nullable, ArrowType.Struct.INSTANCE, null),
          st.fields.map(f => toArrowField(f.name, f.dataType, f.nullable)).toSeq.asJava)
      case other =>
        throw new IllegalArgumentException(s"unsupported write type $other for '$name'")
    }
  }

  /** Recursive setter: Spark row value → Arrow vector slot. `setSafe`
    * variants grow buffers, so no pre-sizing pass is needed. */
  private def setValue(vec: FieldVector, i: Int, dt: DataType, v: Any): Unit = {
    if (v == null) vec match {
      case f: BaseFixedWidthVector => f.setNull(i)
      case s: BaseVariableWidthVector => s.setNull(i)
      case l: ListVector => l.setNull(i)
      case s: StructVector => s.setNull(i)
      case other => throw new IllegalArgumentException(
        s"cannot set null on ${other.getClass.getSimpleName}")
    }
    else (vec, dt) match {
      case (b: BitVector, _) =>
        b.setSafe(i, if (v.asInstanceOf[Boolean]) 1 else 0)
      case (t: TinyIntVector, _) => t.setSafe(i, v.asInstanceOf[Byte].toInt)
      case (s: SmallIntVector, _) => s.setSafe(i, v.asInstanceOf[Short].toInt)
      case (n: IntVector, _) => n.setSafe(i, v.asInstanceOf[Int])
      case (l: BigIntVector, _) => l.setSafe(i, v.asInstanceOf[Long])
      case (f: Float4Vector, _) => f.setSafe(i, v.asInstanceOf[Float])
      case (d: Float8Vector, _) => d.setSafe(i, v.asInstanceOf[Double])
      case (s: VarCharVector, _) =>
        s.setSafe(i, v.asInstanceOf[String].getBytes("UTF-8"))
      case (b: VarBinaryVector, _) => b.setSafe(i, v.asInstanceOf[Array[Byte]])
      case (d: DateDayVector, _) =>
        val days = v match {
          case sd: java.sql.Date => sd.toLocalDate.toEpochDay
          case ld: java.time.LocalDate => ld.toEpochDay
        }
        d.setSafe(i, days.toInt)
      case (t: TimeStampVector, _) =>
        val micros = v match {
          case ts: java.sql.Timestamp =>
            ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
          case inst: java.time.Instant =>
            inst.getEpochSecond * 1000000L + inst.getNano / 1000L
          case ldt: java.time.LocalDateTime =>
            val u = ldt.toInstant(java.time.ZoneOffset.UTC)
            u.getEpochSecond * 1000000L + u.getNano / 1000L
        }
        t.setSafe(i, micros)
      case (d: DecimalVector, dec: DecimalType) =>
        val bd = v match {
          case b: java.math.BigDecimal => b
          case b: BigDecimal => b.bigDecimal
        }
        d.setSafe(i, bd.setScale(dec.scale))
      case (l: ListVector, ArrayType(et, _)) =>
        val xs = v.asInstanceOf[scala.collection.Seq[_]]
        val start = l.startNewValue(i)
        xs.zipWithIndex.foreach { case (e, j) =>
          setValue(l.getDataVector.asInstanceOf[FieldVector], start + j, et, e)
        }
        l.endValue(i, xs.size)
      case (s: StructVector, st: StructType) =>
        s.setIndexDefined(i)
        val row = v.asInstanceOf[Row]
        st.fields.zipWithIndex.foreach { case (f, j) =>
          setValue(s.getChild(f.name), i, f.dataType, row.get(j))
        }
      case (other, d) => throw new IllegalArgumentException(
        s"no setter for ${other.getClass.getSimpleName} <- $d")
    }
  }

  /** One open .feather part: batches rows, flushes every `batchSize`,
    * closes into a complete IPC file on [[finish]]. Shared by
    * [[write]]'s RDD path and the DSv2 DataWriter (graft.sources), which
    * each own file placement and commit. */
  private[graft] final class FeatherPartWriter(
      st: StructType, stream: java.io.OutputStream,
      codec: String, batchSize: Int) {
    private val root = VectorSchemaRoot.create(
      new ArrowSchema(st.fields.map(f =>
        toArrowField(f.name, f.dataType, f.nullable)).toSeq.asJava), allocator)
    private val writer = codec match {
      case "none" | "null" =>
        new ArrowFileWriter(root, null,
          java.nio.channels.Channels.newChannel(stream))
      case c =>
        new ArrowFileWriter(root, null,
          java.nio.channels.Channels.newChannel(stream), null,
          org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
          GraftArrowCompression,
          if (c == "lz4")
            org.apache.arrow.vector.compression.CompressionUtil.CodecType.LZ4_FRAME
          else
            org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD)
    }
    private val vecs = root.getFieldVectors.asScala.toSeq
    private val fields = st.fields
    private var i = 0
    // per-batch min/max ranges -> the <part>.stats.json skipping sidecar
    private val statsCollector = new FeatherStats.Collector(st)
    private val stats = scala.collection.mutable.ArrayBuffer
      .empty[Map[String, FeatherStats.ColStat]]
    writer.start()

    def append(r: Row): Unit = {
      if (i == 0) root.allocateNew()
      var c = 0
      while (c < fields.length) {
        setValue(vecs(c), i, fields(c).dataType, r.get(c))
        c += 1
      }
      statsCollector.observe(r)
      i += 1
      if (i == batchSize) flush()
    }

    private def flush(): Unit = {
      root.setRowCount(i)
      writer.writeBatch()
      stats += statsCollector.snapshotAndReset()
      i = 0
    }

    def finish(): Unit = {
      if (i > 0) flush()
      writer.end()
      writer.close()
      root.close()
    }

    /** One entry per written batch, in batch order; call after finish. */
    def batchStats: Seq[Map[String, FeatherStats.ColStat]] = stats.toSeq

    /** Error-path release: each close swallows separately so a dead
      * channel can't leak Arrow buffers. */
    def abort(): Unit = {
      try writer.close() catch { case _: Exception => () }
      try root.close() catch { case _: Exception => () }
    }
  }

  /** to_feather: one .feather part per partition, record batches of
    * `batchSize` rows, LZ4_FRAME (pandas' default) / ZSTD / none buffer
    * compression. Same commit discipline as [[GraftAvro.write]]: temp
    * file per attempt, rename on success, `_SUCCESS` stamped by the
    * driver. */
  def write(df: DataFrame, path: String, codec: String = "lz4",
            overwrite: Boolean = false, batchSize: Int = 4096): Unit = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val st = df.schema
    // validate the schema maps BEFORE launching tasks
    st.fields.foreach(f => toArrowField(f.name, f.dataType, f.nullable))
    val codecNorm = codec match {
      case "lz4" | "zstd" | "none" | "null" => codec
      case other => throw new IllegalArgumentException(
        s"unknown codec $other (lz4, zstd, none)")
    }
    val spark = df.sparkSession
    val confMap = GraftHadoop.confBroadcast(spark)
    val out = new Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(out)) {
      if (!overwrite)
        throw new IllegalArgumentException(
          s"GraftFeather.write: $path already exists; pass overwrite = true " +
            "to replace it (ErrorIfExists is the default, as with " +
            "DataFrameWriter.mode)")
      fs.delete(out, true)
    }
    fs.mkdirs(out)
    val schemaFields = StructType(st.fields)
    // each task reports (part name, committed length, stats JSON) — schema-
    // sized metadata, one row per part (the same payload a DSv2 commit
    // message carries) — so the driver can fold one merged _stats.json
    // beside the per-part sidecars
    val partMeta = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val execConf = new org.apache.hadoop.conf.Configuration(false)
      confMap.value.foreach { case (k, v) => execConf.set(k, v) }
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val partFs = new Path(path).getFileSystem(execConf)
      val finalPart = new Path(path, f"part-$pid%05d.feather")
      val tmpPart = new Path(path, f".part-$pid%05d-attempt-$attempt.feather.tmp")
      val pw = new FeatherPartWriter(schemaFields,
        partFs.create(tmpPart, true), codecNorm, batchSize)
      try {
        var n = 0L
        while (rows.hasNext) { pw.append(rows.next()); n += 1 }
        pw.finish()
        // commit by RENAME ONLY — never delete the destination first: a
        // speculative duplicate killed between a delete and its rename
        // would silently lose the part another attempt already committed.
        // If the rename loses the race, the existing part is a COMPLETE
        // file (parts only appear via rename) — drop our tmp and succeed.
        val statsJson = FeatherStats.toJson(pw.batchStats)
        if (!partFs.rename(tmpPart, finalPart)) {
          require(partFs.exists(finalPart),
            s"rename $tmpPart -> $finalPart failed with no winner present")
          partFs.delete(tmpPart, false)
        } else {
          // skipping sidecar beside the committed part (idempotent small
          // write; a missing sidecar only costs pruning, never rows)
          val sc = partFs.create(
            new Path(path, finalPart.getName + ".stats.json"), true)
          try sc.write(statsJson.getBytes("UTF-8"))
          finally sc.close()
        }
        // stats are order-invariant, so even a lost-race attempt's ranges
        // describe the winner's part; the length read here is the WINNER's
        // committed length either way (the merged entry is length-validated
        // on read)
        Iterator.single((finalPart.getName,
          partFs.getFileStatus(finalPart).getLen, statsJson))
      } catch {
        case e: Throwable =>
          pw.abort()
          try partFs.delete(tmpPart, false) catch { case _: Exception => () }
          throw e
      }
    }.collect()
    FeatherStats.upsertMerged(fs, out,
      partMeta.map { case (name, len, js) =>
        name -> (len, FeatherStats.fromJson(js))
      }.toMap, replaceAll = true) // write() always starts from an empty dir
    // an empty frame can optimize to a ZERO-partition RDD: no task ran, so
    // no part carries the schema — stamp one schema-only part (footer, no
    // record batches) so a later read returns an empty frame, not ENOENT
    if (!fs.listStatus(out).exists(_.getPath.getName.endsWith(".feather"))) {
      val arrowSchema = new ArrowSchema(schemaFields.map(f =>
        toArrowField(f.name, f.dataType, f.nullable)).asJava)
      val root = VectorSchemaRoot.create(arrowSchema, allocator)
      val stream = fs.create(new Path(out, "part-00000.feather"), true)
      val w = new ArrowFileWriter(root,
        null, java.nio.channels.Channels.newChannel(stream))
      try { w.start(); w.end() } finally { w.close(); root.close() }
    }
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  /** Write `df`'s partitions as `$prefix-NNNNN.feather` parts (plus stats
    * sidecars) INTO an existing directory, without touching anything else
    * there. Empty partitions write nothing. Returns one (partName,
    * committedLen, statsJson) row per part written — schema-sized
    * metadata the caller folds into its own commit (snapshot manifest +
    * merged-stats upsert); this helper deliberately does NOT write
    * `_SUCCESS`, the merged stats, or a manifest.
    *
    * Names are DETERMINISTIC in (prefix, partitionId), so the caller must
    * own the prefix (FeatherMutations derives it from the snapshot
    * version it commits against, under a single-mutator contract). The
    * driver pre-deletes any `$prefix-*` leftovers first: under that
    * contract they can only be a crashed prior run's orphans — no
    * manifest references them — so the pre-clean doubles as orphan
    * reclamation. Task commit is rename-only, exactly like [[write]]
    * (speculative duplicate attempts race to a complete file of
    * identical content; the loser drops its tmp). */
  private[graft] def writeParts(df: DataFrame, dir: String, prefix: String,
                                codec: String = "lz4",
                                batchSize: Int = 4096): Seq[(String, Long, String)] = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(prefix.nonEmpty && !prefix.contains("/") && !prefix.startsWith("."),
      s"writeParts prefix must be a plain name fragment, got '$prefix'")
    val st = df.schema
    st.fields.foreach(f => toArrowField(f.name, f.dataType, f.nullable))
    val codecNorm = codec match {
      case "lz4" | "zstd" | "none" | "null" => codec
      case other => throw new IllegalArgumentException(
        s"unknown codec $other (lz4, zstd, none)")
    }
    val spark = df.sparkSession
    val out = new Path(dir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(out) && fs.getFileStatus(out).isDirectory,
      s"writeParts: $dir is not an existing directory")
    fs.listStatus(out).iterator
      .filter(e => !e.isDirectory && e.getPath.getName.startsWith(prefix + "-"))
      .foreach(e => fs.delete(e.getPath, false))
    val confMap = GraftHadoop.confBroadcast(spark)
    val schemaFields = StructType(st.fields)
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val execConf = new org.apache.hadoop.conf.Configuration(false)
        confMap.value.foreach { case (k, v) => execConf.set(k, v) }
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val partFs = new Path(dir).getFileSystem(execConf)
        val finalPart = new Path(dir, f"$prefix-$pid%05d.feather")
        val tmpPart = new Path(dir, f".$prefix-$pid%05d-attempt-$attempt.feather.tmp")
        val pw = new FeatherPartWriter(schemaFields,
          partFs.create(tmpPart, true), codecNorm, batchSize)
        try {
          while (rows.hasNext) pw.append(rows.next())
          pw.finish()
          val statsJson = FeatherStats.toJson(pw.batchStats)
          if (!partFs.rename(tmpPart, finalPart)) {
            require(partFs.exists(finalPart),
              s"rename $tmpPart -> $finalPart failed with no winner present")
            partFs.delete(tmpPart, false)
          } else {
            val sc = partFs.create(
              new Path(dir, finalPart.getName + ".stats.json"), true)
            try sc.write(statsJson.getBytes("UTF-8"))
            finally sc.close()
          }
          Iterator.single((finalPart.getName,
            partFs.getFileStatus(finalPart).getLen, statsJson))
        } catch {
          case e: Throwable =>
            pw.abort()
            try partFs.delete(tmpPart, false) catch { case _: Exception => () }
            throw e
        }
      }
    }.collect().toSeq
  }

  /** Stamp one schema-only part (footer, no record batches) so a table
    * whose every row was deleted still reads back as an EMPTY frame with
    * its schema, not ENOENT — same trick [[write]] uses for zero-partition
    * frames. Returns (name, committedLen). */
  private[graft] def stampSchemaOnly(fs: org.apache.hadoop.fs.FileSystem,
                                     dir: Path, name: String,
                                     fields: Seq[Field]): (String, Long) = {
    val arrowSchema = new ArrowSchema(fields.asJava)
    val root = VectorSchemaRoot.create(arrowSchema, allocator)
    val p = new Path(dir, name)
    val stream = fs.create(p, true)
    val w = new ArrowFileWriter(root,
      null, java.nio.channels.Channels.newChannel(stream))
    try { w.start(); w.end() } finally { w.close(); root.close() }
    (name, fs.getFileStatus(p).getLen)
  }
}
