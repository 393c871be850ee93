package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The PARQUET face of the table tier — the format a 100-TB corpus
  * actually stores. Unlike the feather/avro faces (custom readers), the
  * read path here IS Spark's native vectorized parquet scan: predicate
  * pushdown, column pruning, row-group skipping, and whole-stage codegen
  * come from Catalyst for free, and the face only supplies what a plain
  * directory read lacks — manifest-planned file sets, deletion-vector
  * filtering, part writing under the snapshot commit protocol, and the
  * executor-side row iterators the maintenance passes (bloom build,
  * stats backfill, DV position probe) consume.
  *
  * DELETION-VECTOR POSITIONS are the file-wide ROW ORDINAL (0-based) —
  * exactly Spark's `_metadata.row_index`, which the scan derives from
  * row-group metadata, so it is stable under any split plan and under
  * row-group skipping (each row group knows the count of all rows before
  * it in the FILE). The DV read path filters with an anti-join against
  * the broadcast position set on (qualified file path, row index); files
  * without a binding bypass the join entirely and keep the plain
  * full-codegen scan. Reference: read_parquet's filter→row-group pruning
  * (python/cudf/cudf/io/parquet.py:213-236) is the same footer-stats
  * machinery the mutation probe reuses via the sidecars derived below.
  *
  * STATS SIDECARS are derived from the parquet FOOTER at write time (one
  * map per row group: min/max per tracked column plus the row count) in
  * [[FeatherStats]]' families — integral→Longs, DATE→epoch-day Longs,
  * float/double→Doubles, string→Strings in UTF-8 byte order (parquet
  * STRING stats compare unsigned-lexicographic, which IS UTF-8 order).
  * The mutation probe, COUNT(*) accounting, and aggregate pushdown then
  * work unchanged. Parquet-mr's row-group statistics are exact under the
  * default writer properties (truncation is off; column-index truncation
  * does not affect them); adopted FOREIGN files carry no sidecars and
  * are probed conservatively until [[FeatherStats.backfill]] decodes
  * them exactly. */
private[graft] object GraftParquet {

  val Suffix = ".parquet"

  /** The footer key Spark itself writes; carrying it on stamps makes the
    * read-back schema exact (nullability, timestamp variants) instead of
    * best-effort parquet-type inference. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  // ---- schema ---------------------------------------------------------------

  /** UNION schema over the files — Spark's own distributed footer merge
    * (mergeSchema), the same evolution contract as the other faces. */
  def mergedSchema(spark: SparkSession, files: Seq[(String, Long)]): StructType = {
    require(files.nonEmpty, "parquet mergedSchema over zero files")
    spark.read.option("mergeSchema", "true")
      .parquet(files.map(_._1): _*).schema
  }

  // ---- merged read with deletion vectors ------------------------------------

  /** Read `files` as one frame. Per file: `posKeep` (driver-computed KEEP
    * sets — the CDF dv-diff read) wins over `dvPaths` (DV sidecar of
    * DROPPED positions, loaded executor-side) wins over a plain scan.
    * Files with neither read through Spark's untouched vectorized scan
    * (no metadata columns, no join) and are unioned with the filtered
    * branches — at head, DV-bound files are the small minority by
    * design, so the common read stays whole-stage codegen end to end.
    *
    * `basePath` turns on hive partition-column inference for the
    * user-facing table read ([[ParquetTable.read]]); maintenance reads
    * leave it unset (partition values live in the directory chain, never
    * in the data files — the other faces' contract). */
  def readFiles(spark: SparkSession, files: Seq[(String, Long)],
                dvPaths: Map[String, String] = Map.empty,
                posKeep: Map[String, Array[Long]] = Map.empty,
                basePath: Option[String] = None): DataFrame = {
    require(files.nonEmpty, "parquet readFiles over zero files")
    def reader = {
      val r = spark.read.option("mergeSchema", "true")
      basePath.map(r.option("basePath", _)).getOrElse(r)
    }
    val keepFiles = files.filter(f => posKeep.contains(f._1))
    val dropFiles = files.filter(f =>
      dvPaths.contains(f._1) && !posKeep.contains(f._1))
    if (keepFiles.isEmpty && dropFiles.isEmpty)
      return reader.parquet(files.map(_._1): _*)
    // ONE schema inference over the full set: the branches must union
    // with identical columns even when evolved generations split across
    // them (a per-branch mergeSchema could disagree)
    val schema = reader.parquet(files.map(_._1): _*).schema
    Seq("__gp_dv_file", "__gp_dv_pos").foreach(n => require(
      !schema.fieldNames.contains(n),
      s"parquet DV read: reserved column name '$n' collides with a table column"))
    def branch(paths: Seq[String]) = {
      val r = spark.read.schema(schema)
      basePath.map(r.option("basePath", _)).getOrElse(r).parquet(paths: _*)
    }
    val plain = files.filterNot(f =>
      posKeep.contains(f._1) || dvPaths.contains(f._1))
    val hconf = spark.sparkContext.hadoopConfiguration
    // the join key must equal _metadata.file_path VERBATIM, which Spark
    // fills with the percent-ENCODED URI form rendered WITHOUT empty
    // authority slashes (measured: `file:/tmp/with%20space/part…` —
    // Path.toString is decoded, Path.toUri.toString renders `file:///`).
    // Rebuild the URI with a null authority when it is absent/empty so
    // both plain and escapable paths match; real authorities (hdfs://nn)
    // pass through. Qualified driver-side once per file instead of
    // URI-parsing per row.
    def qualify(p: String): String = {
      val pp = new Path(p)
      val u = pp.getFileSystem(hconf).makeQualified(pp).toUri
      if (u.getAuthority == null || u.getAuthority.isEmpty)
        new java.net.URI(u.getScheme, null, u.getPath, null, null).toString
      else u.toString
    }
    val posSchema = StructType(Seq(
      StructField("__gp_dv_file", StringType, nullable = false),
      StructField("__gp_dv_pos", LongType, nullable = false)))
    def withMeta(paths: Seq[String]) = branch(paths)
      .withColumn("__gp_dv_file", col("_metadata.file_path"))
      .withColumn("__gp_dv_pos", col("_metadata.row_index"))
    def joined(paths: Seq[String], posDf: DataFrame, joinType: String) =
      withMeta(paths)
        .join(broadcast(posDf), Seq("__gp_dv_file", "__gp_dv_pos"), joinType)
        .drop("__gp_dv_file", "__gp_dv_pos")
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (plain.nonEmpty) parts += branch(plain.map(_._1))
    if (dropFiles.nonEmpty) {
      // sidecars load EXECUTOR-side (deleted-row-sized files); the
      // driver ships only (qualified path, sidecar path) pairs
      val pairs = dropFiles.map(f => (qualify(f._1), dvPaths(f._1)))
      val confMap = GraftHadoop.confBroadcast(spark)
      val rdd = spark.sparkContext
        .parallelize(pairs, math.max(1, math.min(pairs.size, 32)))
        .mapPartitions { it =>
          val execConf = new org.apache.hadoop.conf.Configuration(false)
          confMap.value.foreach { case (k, v) => execConf.set(k, v) }
          it.flatMap { case (qf, dvp) =>
            DeletionVectors.read(execConf, dvp).iterator.map(p => Row(qf, p))
          }
        }
      parts += joined(dropFiles.map(_._1),
        spark.createDataFrame(rdd, posSchema), "left_anti")
    }
    if (keepFiles.nonEmpty) {
      // keep sets are driver-computed and deleted-row-sized by contract
      val rows = keepFiles.flatMap(f =>
        posKeep(f._1).map(p => Row(qualify(f._1), p)))
      parts += joined(keepFiles.map(_._1),
        spark.createDataFrame(rows.asJava, posSchema), "left_semi")
    }
    parts.reduce(_.unionByName(_))
  }

  // ---- part writing ----------------------------------------------------------

  /** Write one parquet part per input partition as `$prefix-NNNNN.parquet`
    * under `dir`, returning (name, length, stats json) per part — the
    * [[ConnectorFace.writeParts]] contract. Spark-first: the frame goes
    * through Spark's own parquet sink into a run-local `_tmp-$prefix`
    * staging directory (exact type fidelity, task-commit safety), the
    * parts rename into place, and the stats sidecars derive from each
    * part's FOOTER (per-row-group min/max, exact under default writer
    * properties) instead of a second decode pass. A crashed run's
    * staging directory is run-unique residue that
    * [[graft.sources.FeatherSnapshots.vacuumOrphans]] reclaims. */
  /** `df` rebound for a table-tier part write: the parquet sink pinned
    * to the modern physical timestamp encoding — annotated int64 micros
    * instead of Spark's deprecated INT96 default. Scoped via a CLONED
    * session (no per-write parquet option exists for this key), so it
    * can neither leak into the shared session — most damagingly
    * `graft.Verify`'s result dumps, whose timestamps must stay tz-naive
    * on read-back to schema-match the naive-timestamp DuckDB oracle
    * (the r13 regression) — nor race a concurrent writer's
    * get/set/restore on another thread. INT96 remains fully READABLE
    * (foreign corpus + maintenance scan); table parts just never WRITE
    * it, keeping footer stats usable. */
  // one IMMUTABLE clone per (live session, conf fingerprint): clones
  // are never mutated after the fork, so a write in flight on one
  // thread can never observe another thread's conf change — when the
  // parent's runtime conf drifts (ANSI mode, rebase modes, custom
  // keys), the fingerprint changes and the NEXT write forks a fresh
  // clone while in-flight writes keep theirs. Both map slots are weak
  // (the clone strongly references its parent through
  // parentSessionState→planner, so a weak KEY alone would never
  // expunge — the value must be a WeakReference too); a collected
  // clone just re-forks, the cache is best-effort.
  private val MicrosPin =
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"
  // the fingerprint is the conf MAP compared by equality — a hashCode
  // fingerprint could collide after a conf change (ANSI toggled) and
  // silently reuse a clone carrying the stale conf for a part write
  private val microsSessions =
    new java.util.WeakHashMap[SparkSession,
      (Map[String, String], java.lang.ref.WeakReference[SparkSession])]()
  private[graft] def withOutputMicros(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.ofRows(microsSession(df.sparkSession),
      df.queryExecution.analyzed)

  /** The cached micros-pinned clone of `parent` ([[withOutputMicros]]'s
    * session; the task-side part sinks prepare their writes on it). */
  private[graft] def microsSession(parent: SparkSession): SparkSession = {
    val fp = parent.conf.getAll
    microsSessions.synchronized {
      Option(microsSessions.get(parent))
        .collect { case (f, ref) if f == fp => ref.get }
        .flatMap(Option(_))
        .getOrElse {
          val c = org.apache.spark.sql.graft.Bridge
            .cloneWithConf(parent, MicrosPin)
          microsSessions.put(parent,
            (fp, new java.lang.ref.WeakReference(c)))
          c
        }
    }
  }

  def writeParts(df: DataFrame, dir: String, prefix: String,
                 codec: String = "snappy"): Seq[(String, Long, String)] = {
    require(prefix.nonEmpty && !prefix.contains("/") && !prefix.startsWith("."),
      s"writeParts prefix must be a plain name fragment, got '$prefix'")
    val codecNorm = normCodec(codec)
    val spark = df.sparkSession
    val out = new Path(dir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(out) && fs.getFileStatus(out).isDirectory,
      s"writeParts: $dir is not an existing directory")
    // pre-clean THIS run's residue only (prefixes are run-unique; a
    // rival's pending outputs are untouchable by construction)
    fs.listStatus(out).iterator
      .filter(e => !e.isDirectory && e.getPath.getName.startsWith(prefix + "-"))
      .foreach(e => fs.delete(e.getPath, false))
    val tmpDir = new Path(out, s"_tmp-$prefix")
    if (fs.exists(tmpDir)) fs.delete(tmpDir, true)
    withOutputMicros(df).write.mode("overwrite")
      .option("compression", codecNorm).parquet(tmpDir.toString)
    try {
      val staged = fs.listStatus(tmpDir).iterator
        .map(_.getPath)
        .filter(p => p.getName.endsWith(Suffix) && !p.getName.startsWith(".")
          && !p.getName.startsWith("_"))
        .toSeq.sortBy(_.getName)
      landStaged(fs, staged, out, prefix)
    } finally {
      fs.delete(tmpDir, true): Unit
    }
  }

  /** Land staged parquet files into `destDir` under the run prefix: one
    * footer read per file derives the stats sidecar AND filters
    * zero-row files (Spark's FLAT sink keeps partition 0's file even
    * when empty; the no-op guards upstream key on an empty parts list).
    * Skipped files stay in the staging dir for the caller's cleanup. */
  private def landStaged(fs: FileSystem, staged: Seq[Path],
                                destDir: Path, prefix: String)
      : Seq[(String, Long, String)] = {
    val withStats = staged.map(p =>
      (p, footerBatches(fs.getConf, p.toString)))
      .filter { case (_, batches) =>
        batches.map(_.get(FeatherStats.RowCountKey).collect {
          case FeatherStats.ColStat.Count(n) => n }.getOrElse(0L)).sum > 0L
      }
    withStats.zipWithIndex.map { case ((src, batches), i) =>
      val name = f"$prefix-$i%05d$Suffix"
      val dest = new Path(destDir, name)
      require(fs.rename(src, dest),
        s"landStaged: rename $src -> $dest failed")
      val statsJson = FeatherStats.toJson(batches)
      val sc = fs.create(new Path(destDir, name + ".stats.json"), true)
      try sc.write(statsJson.getBytes("UTF-8")) finally sc.close()
      (name, fs.getFileStatus(dest).getLen, statsJson)
    }
  }

  /** The deliverable codecs. "lz4" never reaches here: it is the
    * feather-centric DEFAULT sentinel that ConnectorFace.codecFor maps
    * to this face's default (snappy) — advertising it would promise an
    * output the public API cannot deliver. */
  private[graft] def normCodec(codec: String): String = codec match {
    case "snappy" | "zstd" | "gzip" => codec
    case "none" | "null" | "uncompressed" => "uncompressed"
    case other => throw new IllegalArgumentException(
      s"unknown parquet codec $other (snappy, zstd, gzip, none)")
  }

  /** Schema-only part (footer, zero row groups): keeps an all-rows-deleted
    * table readable as an empty frame WITH its schema. The footer carries
    * Spark's own schema metadata key, so the read-back types are exact. */
  def stampSchemaOnly(fs: FileSystem, dir: Path, name: String,
                      schema: StructType): (String, Long) = {
    val p = new Path(dir, name)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(p, fs.getConf))
      .withType(org.apache.spark.sql.graft.Bridge.parquetMessageType(schema))
      .withExtraMetaData(Map(SparkSchemaKey -> schema.json).asJava)
      .withConf(fs.getConf)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    w.close() // zero rows: footer only
    (name, fs.getFileStatus(p).getLen)
  }

  // ---- footer-derived stats ---------------------------------------------------

  /** Per-row-group stats batches from the parquet footer, in
    * [[FeatherStats]]' exact conventions. Conservative by omission: a
    * column whose stats are absent, non-exact-capable (unsigned ints,
    * NaN-poisoned floats), or of an untracked type simply records
    * nothing — the probe then touches, never skips wrongly. */
  def footerBatches(conf: org.apache.hadoop.conf.Configuration,
                    file: String): Seq[Map[String, FeatherStats.ColStat]] = {
    import FeatherStats.ColStat
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try {
      r.getFooter.getBlocks.asScala.toSeq.map { b =>
        val m = scala.collection.mutable.Map.empty[String, ColStat]
        b.getColumns.asScala.foreach { c =>
          val pathArr = c.getPath.toArray
          if (pathArr.length == 1) {
            val name = pathArr(0)
            val st = c.getStatistics
            if (st != null && !st.isEmpty) {
              if (!st.hasNonNullValue && st.getNumNulls == b.getRowCount) {
                m(name) = ColStat.Empty
              } else if (st.hasNonNullValue) {
                val pt = c.getPrimitiveType
                val ann = pt.getLogicalTypeAnnotation
                statFromFooter(pt.getPrimitiveTypeName, ann, st)
                  .foreach(m(name) = _)
              }
            }
          }
        }
        m(FeatherStats.RowCountKey) = ColStat.Count(b.getRowCount)
        m.toMap
      }
    } finally r.close()
  }

  private def statFromFooter(
      ptn: PrimitiveTypeName, ann: LogicalTypeAnnotation,
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[FeatherStats.ColStat] = {
    import FeatherStats.ColStat
    import LogicalTypeAnnotation._
    def signedInt: Boolean = ann match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _: DateLogicalTypeAnnotation => true // epoch-day ints: the
        // exact axis the stats tier tracks dates on (dateToDay)
      case _ => false // decimal/time/unsigned: untracked or unsafe
    }
    (ptn, st) match {
      case (PrimitiveTypeName.INT32,
            s: org.apache.parquet.column.statistics.IntStatistics)
          if signedInt =>
        Some(ColStat.Longs(s.getMin.toLong, s.getMax.toLong))
      case (PrimitiveTypeName.INT64,
            s: org.apache.parquet.column.statistics.LongStatistics)
          if signedInt =>
        Some(ColStat.Longs(s.getMin, s.getMax))
      case (PrimitiveTypeName.FLOAT,
            s: org.apache.parquet.column.statistics.FloatStatistics)
          if !s.getMin.isNaN && !s.getMax.isNaN =>
        Some(ColStat.Doubles(s.getMin.toDouble, s.getMax.toDouble))
      case (PrimitiveTypeName.DOUBLE,
            s: org.apache.parquet.column.statistics.DoubleStatistics)
          if !s.getMin.isNaN && !s.getMax.isNaN =>
        Some(ColStat.Doubles(s.getMin, s.getMax))
      case (PrimitiveTypeName.BINARY,
            s: org.apache.parquet.column.statistics.BinaryStatistics)
          if ann.isInstanceOf[StringLogicalTypeAnnotation] =>
        // parquet STRING stats order is unsigned-lexicographic on the
        // UTF-8 bytes — exactly the UTF8String order the stats tier
        // pins. FOREIGN writers may have byte-truncated a value
        // mid-codepoint (still a valid byte-wise bound): decoding maps
        // the dangling lead byte to U+FFFD, whose re-encoding can sort
        // BELOW the true max and make the probe wrongly prune — record
        // the stat only when the bytes survive a decode round-trip
        // (graft-written stats always do; a foreign truncation falls
        // back to "no stat", never to a wrong one).
        def roundTrips(b: Array[Byte]): Boolean =
          java.util.Arrays.equals(
            new String(b, java.nio.charset.StandardCharsets.UTF_8)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8), b)
        val (lo, hi) = (s.getMin.getBytes, s.getMax.getBytes)
        if (roundTrips(lo) && roundTrips(hi))
          Some(ColStat.Strings(
            new String(lo, java.nio.charset.StandardCharsets.UTF_8),
            new String(hi, java.nio.charset.StandardCharsets.UTF_8)))
        else None
      case _ => None
    }
  }

  // ---- executor-side row iterators --------------------------------------------

  /** Single-file row iterator over `cols` for the maintenance passes —
    * parquet-mr's example Group reader (the scan-scale path is Spark's
    * own vectorized reader; THIS runs per-file inside bloom build, stats
    * backfill, and the DV position probe, which touch candidate files
    * only). Supports the scalar types a maintenance key/stat can carry;
    * nested columns are loud; INT96 decodes as legacy timestamps. A
    * column absent from the file's footer (schema evolution) reads as
    * null. */
  def allRows(execConf: org.apache.hadoop.conf.Configuration,
              file: String, cols: Seq[String],
              track: AutoCloseable => Unit,
              untrack: AutoCloseable => Unit): Iterator[Row] =
    groupRows(execConf, file, cols, dv = null, track, untrack).map(_._2)

  /** [[allRows]] with each row's file-wide ROW ORDINAL — the DV position
    * encoding of this face (== Spark's `_metadata.row_index`). Positions
    * in `dv` (sorted) are skipped but still advance the ordinal. */
  def allRowsPos(execConf: org.apache.hadoop.conf.Configuration,
                 file: String, cols: Seq[String], dv: Array[Long],
                 track: AutoCloseable => Unit,
                 untrack: AutoCloseable => Unit): Iterator[(Long, Row)] =
    groupRows(execConf, file, cols, dv, track, untrack)

  private def groupRows(execConf: org.apache.hadoop.conf.Configuration,
                        file: String, cols: Seq[String], dv: Array[Long],
                        track: AutoCloseable => Unit,
                        untrack: AutoCloseable => Unit)
      : Iterator[(Long, Row)] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), execConf))
    track(reader)
    def closeNow(): Unit = {
      untrack(reader)
      try reader.close() catch { case _: Exception => () }
    }
    val footer = reader.getFooter
    val fileSchema = footer.getFileMetaData.getSchema
    def dropped(pos: Long): Boolean =
      dv != null && java.util.Arrays.binarySearch(dv, pos) >= 0
    val present: Seq[Option[Int]] = cols.map(c =>
      if (fileSchema.containsField(c)) Some(fileSchema.getFieldIndex(c))
      else None)
    val projFields = present.flatten.map(fileSchema.getFields.get(_))
    if (projFields.isEmpty) {
      // pure-evolution file: none of the requested columns exist — the
      // rows are all-null at this projection, countable from the footer
      val total = footer.getBlocks.asScala.map(_.getRowCount).sum
      closeNow()
      val nulls = Row.fromSeq(cols.map(_ => null))
      return (0L until total).iterator
        .filter(p => !dropped(p)).map(p => (p, nulls))
    }
    projFields.foreach { t =>
      require(t.isPrimitive,
        s"parquet maintenance scan of $file: column '${t.getName}' is " +
          s"$t — nested columns cannot key a maintenance pass")
    }
    val projSchema = new MessageType(fileSchema.getName, projFields.asJava)
    // Group field index (within the projection) per requested column
    val projIdx: Map[String, Int] =
      projFields.map(_.getName).zipWithIndex.toMap
    val getters: Seq[Option[(org.apache.parquet.example.data.Group, Int) => Any]] =
      cols.zip(present).map {
        case (_, None) => None
        case (c, Some(_)) =>
          Some(groupGetter(projFields(projIdx(c)).asPrimitiveType()))
      }
    reader.setRequestedSchema(projSchema.getColumns)
    val colIO = new org.apache.parquet.io.ColumnIOFactory()
      .getColumnIO(projSchema)

    new Iterator[(Long, Row)] {
      private var pos = -1L
      private var inGroup = 0L
      private var groupRows = 0L
      private var rec: org.apache.parquet.io.RecordReader[
        org.apache.parquet.example.data.Group] = null
      private var done = false
      private var pending: (Long, Row) = null

      private def advanceGroup(): Boolean = {
        val pages = reader.readNextRowGroup()
        if (pages == null) { done = true; closeNow(); false }
        else {
          rec = colIO.getRecordReader(pages,
            new org.apache.parquet.example.data.simple.convert
              .GroupRecordConverter(projSchema))
          groupRows = pages.getRowCount
          inGroup = 0L
          true
        }
      }

      @annotation.tailrec
      private def fetch(): Unit = {
        if (done) return
        if (rec == null || inGroup >= groupRows) {
          if (!advanceGroup()) return
        }
        val g = rec.read()
        inGroup += 1
        pos += 1
        if (dropped(pos)) fetch()
        else {
          val vals = getters.zipWithIndex.map {
            case (None, _) => null
            case (Some(f), i) =>
              val gi = projIdx(cols(i))
              if (g.getFieldRepetitionCount(gi) == 0) null else f(g, gi)
          }
          pending = (pos, Row.fromSeq(vals))
        }
      }

      override def hasNext: Boolean = {
        if (pending == null && !done) fetch()
        pending != null
      }
      override def next(): (Long, Row) = {
        if (!hasNext) throw new NoSuchElementException
        val out = pending; pending = null; out
      }
    }
  }

  /** Group → external Spark Row value converter for one primitive column.
    * The produced values are the exact externals `createDataFrame`
    * expects for the Spark type the column maps to (java.sql.Date /
    * Timestamp, LocalDateTime for NTZ, BigDecimal, UTF-8 String). */
  private def groupGetter(pt: PrimitiveType)
      : (org.apache.parquet.example.data.Group, Int) => Any = {
    import LogicalTypeAnnotation._
    val ann = pt.getLogicalTypeAnnotation
    def unsupported: Nothing = throw new IllegalArgumentException(
      s"parquet maintenance scan: unsupported column type $pt")
    def micTs(micros: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L))
    def micLdt(micros: Long): java.time.LocalDateTime =
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    pt.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN => (g, i) => g.getBoolean(i, 0)
      case PrimitiveTypeName.FLOAT => (g, i) => g.getFloat(i, 0)
      case PrimitiveTypeName.DOUBLE => (g, i) => g.getDouble(i, 0)
      case PrimitiveTypeName.INT32 => ann match {
        case null => (g, i) => g.getInteger(i, 0)
        case a: IntLogicalTypeAnnotation if a.isSigned && a.getBitWidth == 8 =>
          (g, i) => g.getInteger(i, 0).toByte
        case a: IntLogicalTypeAnnotation if a.isSigned && a.getBitWidth == 16 =>
          (g, i) => g.getInteger(i, 0).toShort
        case a: IntLogicalTypeAnnotation if a.isSigned =>
          (g, i) => g.getInteger(i, 0)
        // unsigned ints widen exactly as Spark's scan reads them
        // (UINT_8→short, UINT_16→int, UINT_32→long) — foreign
        // Arrow/C++ corpora carry these and a maintenance pass must not
        // refuse a table for merely containing one
        case a: IntLogicalTypeAnnotation if a.getBitWidth == 8 =>
          (g, i) => (g.getInteger(i, 0) & 0xFF).toShort
        case a: IntLogicalTypeAnnotation if a.getBitWidth == 16 =>
          (g, i) => g.getInteger(i, 0) & 0xFFFF
        case a: IntLogicalTypeAnnotation if a.getBitWidth == 32 =>
          (g, i) => g.getInteger(i, 0).toLong & 0xFFFFFFFFL
        case _: DateLogicalTypeAnnotation =>
          (g, i) => java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(g.getInteger(i, 0).toLong))
        case a: DecimalLogicalTypeAnnotation =>
          (g, i) => java.math.BigDecimal.valueOf(
            g.getInteger(i, 0).toLong, a.getScale)
        case _ => unsupported
      }
      case PrimitiveTypeName.INT64 => ann match {
        case null => (g, i) => g.getLong(i, 0)
        case a: IntLogicalTypeAnnotation if a.isSigned =>
          (g, i) => g.getLong(i, 0)
        case a: IntLogicalTypeAnnotation => // UINT_64 → decimal(20,0)
          (g, i) => new java.math.BigDecimal(
            java.lang.Long.toUnsignedString(g.getLong(i, 0)))
        case a: TimestampLogicalTypeAnnotation
            if a.getUnit == TimeUnit.NANOS =>
          // TIMESTAMP(NANOS) maps to LongType in this engine
          // (spark.sql.legacy.parquet.nanosAsLong, pinned session-wide —
          // without it Spark refuses nanos parquet outright), so the
          // maintenance iterator must emit the raw long too or the scan
          // frame's schema and the Row values disagree
          (g, i) => g.getLong(i, 0)
        case a: TimestampLogicalTypeAnnotation =>
          val toMicros: Long => Long = a.getUnit match {
            case TimeUnit.MICROS => identity
            case _ => _ * 1000L // MILLIS (NANOS handled above)
          }
          if (a.isAdjustedToUTC) (g, i) => micTs(toMicros(g.getLong(i, 0)))
          else (g, i) => micLdt(toMicros(g.getLong(i, 0)))
        case a: DecimalLogicalTypeAnnotation =>
          (g, i) => java.math.BigDecimal.valueOf(g.getLong(i, 0), a.getScale)
        case _ => unsupported
      }
      case PrimitiveTypeName.INT96 =>
        // the legacy Impala/Spark timestamp encoding (12 bytes LE:
        // nanos-of-day, Julian day) — cudf decodes it too
        // (cpp/src/io/parquet/page_data.cu INT96 path); foreign
        // warehouses still carry it, so the maintenance scan must read
        // it even though our own sink writes TIMESTAMP_MICROS
        (g, i) => {
          val bb = java.nio.ByteBuffer.wrap(g.getInt96(i, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanosOfDay = bb.getLong
          val julianDay = bb.getInt
          micTs((julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L)
        }
      case PrimitiveTypeName.BINARY |
           PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY => ann match {
        case _: StringLogicalTypeAnnotation | _: EnumLogicalTypeAnnotation |
             _: JsonLogicalTypeAnnotation =>
          (g, i) => g.getString(i, 0)
        case a: DecimalLogicalTypeAnnotation =>
          (g, i) => new java.math.BigDecimal(
            new java.math.BigInteger(g.getBinary(i, 0).getBytes), a.getScale)
        case null if pt.getPrimitiveTypeName == PrimitiveTypeName.BINARY =>
          (g, i) => g.getBinary(i, 0).getBytes
        case _ => unsupported
      }
      case _ => unsupported // every PrimitiveTypeName is matched above
    }
  }
}
