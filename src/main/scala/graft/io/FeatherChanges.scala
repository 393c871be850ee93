package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{FeatherPartitions, FeatherSnapshots}

/** Batch CHANGE-DATA-FEED read over a snapshotted table's version
  * history (the Delta CDF / `table_changes` shape): the row-level
  * changes versions `(fromVersion, toVersion]` introduced, as one
  * DataFrame of the table's columns — data AND hive partition columns —
  * plus `_change_type` ("insert" | "delete"; an update is its
  * delete+insert pair, the relational normal form) and
  * `_commit_version`. `fromVersion = 0` bootstraps from nothing: v1's
  * creation rows arrive as inserts, so a consumer can build its copy
  * purely from the feed.
  *
  * Downstream incremental ETL wants exactly this: "give me what changed
  * since the version I last processed" as a batch frame — the version
  * STREAM (FeatherSnapshotStream) delivers appends continuously but
  * skips/refuses mutation commits; the CDF read answers them exactly.
  *
  * Semantics per version step, derived from the manifest diff alone:
  *  - `compact` / `cluster` are row-preserving rewrites: no changes.
  *  - every other op (append, delete, merge, cdc, overwrite, restore)
  *    diffs at ROW level over the TOUCHED files only: removed = rows of
  *    files the commit retired, added = rows of files it introduced;
  *    one tagged union + count aggregation nets them out (a multiset
  *    EXCEPT ALL in both directions in a single pass), so rows carried
  *    unchanged through a rewrite cancel — an append yields pure
  *    inserts, a delete exactly the dropped rows, a merge the old image
  *    of matched keys as deletes plus the new/inserted rows as inserts,
  *    an overwrite the honest full replace.
  *  - Row identity INCLUDES the partition columns (spliced per leaf
  *    from the `key=value` paths, typed by the same inference the batch
  *    read uses): a merge that MOVES a row across partitions reads as
  *    delete-in-old-partition + insert-in-new even when the data
  *    columns are unchanged.
  *
  * Scale: the diff touches O(changed bytes) per version, never the full
  * table (except overwrite/restore, whose change set IS the table), and
  * nets out in ONE shuffle of exactly those rows. PLANNING is O(changed
  * files) too: the feed's data schema merges the footers of exactly the
  * files the range reads (a no-change range shapes its empty frame from
  * the newest non-empty snapshot) — a streaming micro-batch over a
  * 100k-part table pays for its one appended file, not a 100k-footer
  * sweep. The BATCH forms then align that union to the feed schema at
  * the range's end version (see [[readChanges]]) so consumers see a
  * stable schema per head; the streaming source aligns to its own
  * start-pinned schema instead and skips the end-version sweep
  * entirely. A pipeline that can shape its writes should still use the
  * change frames it hands [[FeatherMutations.applyCdc]] as its change
  * source (they ARE the change set, no diff needed); the CDF read is for
  * consumers who only see the table.
  * Map-typed data columns are not groupable and are rejected loudly.
  *
  * Face-agnostic via [[ConnectorFace]] (feather and avro tables both
  * serve changes). Evolved generations union by name with nulls filling
  * predating files. Versions must still be retained — expire() makes
  * history unreadable, loudly. */
object FeatherChanges {

  /** Per-table head-schema cache for the [[changesSince]] poll loop:
    * the live file NAMES and DATA schema as of `head`, plus the
    * combined feed schema. The name set is what makes the next head's
    * schema INCREMENTAL (see [[headFeedSchema]]); versions are
    * immutable, so the entry is exact for its head. One entry per
    * (normalized path, incarnation) — superseded keys for a path evict
    * on each memoization, and the cache as a whole is CAPPED: a driver
    * polling many distinct tables drops the excess (one footer sweep to
    * rebuild) instead of pinning every table's name set forever. */
  private case class HeadSchemaEntry(head: Long,
                                     fileNames: Set[String],
                                     data: org.apache.spark.sql.types.StructType,
                                     combined: org.apache.spark.sql.types.StructType)
  // var, not val: the eviction spec lowers it (driving 33 real tables
  // through a unit test would dwarf the suite)
  private[graft] var feedSchemaCacheCap = 32
  private val feedSchemaCache =
    new LruMap[(String, (Long, Long)), HeadSchemaEntry](
      () => feedSchemaCacheCap)
  private def cacheGet(k: (String, (Long, Long))): Option[HeadSchemaEntry] =
    feedSchemaCache.get(k)
  private def cachePut(k: (String, (Long, Long)),
                       v: HeadSchemaEntry): Unit =
    // superseded incarnations of the same path evict eagerly — they
    // can never be read again and would only displace live tables
    feedSchemaCache.putEvicting(k, v)(kk => kk._1 == k._1 && kk != k)
  private[graft] def feedSchemaCacheSize: Int = feedSchemaCache.size
  // removeEldestEntry evicts at most one entry per insertion, so a map
  // already above a LOWERED cap never drains to it — the eviction spec
  // clears first to make its size assertion order-independent
  private[graft] def feedSchemaCacheClear(): Unit = feedSchemaCache.clear()

  /** The incremental-ETL loop primitive: everything that changed after
    * `lastProcessedVersion`, plus the head version to checkpoint for the
    * next call — `val (changes, v) = changesSince(spark, path, ckpt)`;
    * an unchanged table returns an empty frame and the same version.
    * A checkpoint AHEAD of the head is loud: it means the table was
    * dropped and rebuilt (or the caller mixed checkpoints across
    * tables) — silently regressing the checkpoint would re-deliver or
    * lose data. */
  def changesSince(spark: SparkSession, path: String,
                   lastProcessedVersion: Long): (DataFrame, Long) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = FeatherSnapshots.latestVersion(fs, root).getOrElse(
      sys.error(s"changesSince on $path: no snapshot versions"))
    require(head >= lastProcessedVersion,
      s"changesSince on $path: checkpoint v$lastProcessedVersion is ahead " +
        s"of the table head v$head — the table was dropped and rebuilt, " +
        "or this checkpoint belongs to another table; restart the " +
        "consumer from 0 deliberately")
    // The feed schema AT THE HEAD shapes every result of this call —
    // the idle poll's empty frame and a change batch alike — so a poll
    // loop sees ONE schema per head regardless of which files a batch
    // happened to touch (an old-generation append must not narrow the
    // output, see [[headFeedSchema]]).
    val schema = headFeedSchema(spark, path, root, fs, head)
    if (head == lastProcessedVersion)
      (spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema), head)
    else (alignCast(
      readChanges(spark, path, lastProcessedVersion, head, Some(schema)),
      schema, path), head)
  }

  /** The feed schema at `head`, memoized per (path, incarnation) and
    * computed INCREMENTALLY across head transitions: when no file the
    * cached head referenced was removed, the new data schema is the
    * cached one merged with the ADDED files' footers — a poll loop over
    * a 100k-part table that receives one appended file per poll reads
    * ONE footer per poll, not 100k (the cost class the module scaladoc
    * promises). Any removal (mutation/overwrite/restore can drop a
    * column's last carriers) falls back to the full sweep, the only
    * operation whose schema cannot be derived forward. The idle poll
    * (same head) touches no manifest beyond the incarnation probe. The
    * incarnation key (oldest version + its commit ts) means a
    * drop-and-recreate racing back to the same (path, head) cannot be
    * served the old incarnation's schema. Partition-column inference is
    * pure path-string work over the manifest list (no I/O) and always
    * runs against the FULL head list — a range-local inference could
    * type `k=1` as long where the head's `k=x` leaf makes the column a
    * string. */
  private def headFeedSchema(spark: SparkSession, path: String, root: Path,
                             fs: org.apache.hadoop.fs.FileSystem, head: Long)
      : org.apache.spark.sql.types.StructType =
    headEntry(spark, path, root, fs, head).combined

  /** The table's merged DATA schema at the current head, through the
    * same incrementally-maintained cache — what the write-evolution gate
    * ([[graft.sources.WriteSchemaEvolution]]) validates appends against:
    * one footer per appended file amortized, full sweep only after
    * removals. Comparing against any SINGLE file's footer would be
    * unsound (the oldest generation predates evolved columns; the newest
    * can be a narrowing append), so the union is the only authority. */
  private[graft] def headDataSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = FeatherSnapshots.latestVersion(fs, root).getOrElse(
      sys.error(s"headDataSchema on $path: no snapshot versions"))
    headEntry(spark, path, root, fs, head).data
  }

  private def headEntry(spark: SparkSession, path: String, root: Path,
                        fs: org.apache.hadoop.fs.FileSystem, head: Long)
      : HeadSchemaEntry = {
    import org.apache.spark.sql.types._
    val inc = FeatherSnapshots.incarnation(fs, root).getOrElse((0L, 0L))
    val key = (root.toString, inc) // normalized: /t and /t/ are one table
    cacheGet(key) match {
      case Some(e) if e.head == head => e
      case prev =>
        val snap = FeatherSnapshots.read(fs, root, head)
        val face = ConnectorFace.detect(snap.files, "changesSince", path)
        def abs(fl: Seq[(String, Long)]) = fl.map { case (rel, len) =>
          (new Path(root, rel).toString, len) }
        val curNames = snap.files.map(_._1).toSet
        val dataSchema = prev match {
          case Some(e) if e.head < head &&
              e.fileNames.forall(curNames.contains) =>
            val added = snap.files.filterNot(f => e.fileNames(f._1))
            if (added.isEmpty) e.data
            else mergeDataSchemas(e.data,
              face.mergedSchema(spark, abs(added)), path)
          case _ => face.mergedSchema(spark, abs(snap.files))
        }
        val partSchema = FeatherSnapshots.toDiscovered(root,
          FeatherSnapshots.Snapshot(0, 0, "cdf",
            snap.files.sortBy(_._1))).partSchema
        val combined = StructType(dataSchema.fields ++ partSchema.fields ++
          Seq(StructField("_change_type", StringType, nullable = false),
            StructField("_commit_version", LongType, nullable = false)))
        val entry = HeadSchemaEntry(head, curNames, dataSchema, combined)
        cachePut(key, entry)
        entry
    }
  }

  /** Merge two already-merged data schemas of DISJOINT file populations
    * — the incremental form of both faces' footer fold, with the same
    * two rules: a column must keep its (Spark) type across generations,
    * and a column any side lacks — or either side declares nullable —
    * widens to nullable (files predating it read null). */
  private[graft] def mergeDataSchemas(a: org.apache.spark.sql.types.StructType,
                               b: org.apache.spark.sql.types.StructType,
                               path: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val bMap = b.fields.map(f => f.name -> f).toMap
    val aNames = a.fieldNames.toSet
    StructType(
      a.fields.map { fa =>
        bMap.get(fa.name) match {
          case Some(fb) =>
            require(fa.dataType == fb.dataType,
              s"changesSince on $path: column '${fa.name}' is " +
                s"${fa.dataType.catalogString} in older files but " +
                s"${fb.dataType.catalogString} in newly added ones — " +
                "evolved columns must keep their type")
            fa.copy(nullable = fa.nullable || fb.nullable)
          case None => fa.copy(nullable = true)
        }
      } ++ b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true)))
  }

  /** The feed's schema at the table's CURRENT head — what the streaming
    * CDF source fixes at stream start. */
  def feedSchemaAtHead(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = FeatherSnapshots.latestVersion(fs, root).getOrElse(
      sys.error(s"change feed on $path: no snapshot versions — the feed " +
        "is derived from the manifest history (write with " +
        "option(\"snapshots\", \"true\"))"))
    feedSchemaAt(spark, path, head)
  }

  /** The feed's schema at a specific retained version. The head form
    * backs the streaming source's widening guard: a batch column still
    * LIVE at the current head is a widening; one absent there was
    * dropped (its only occurrences are retired rows) and projects. */
  private def feedSchemaAt(spark: SparkSession, path: String, version: Long)
      : org.apache.spark.sql.types.StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = FeatherSnapshots.read(fs, root, version)
    val face = ConnectorFace.detect(snap.files, "changeFeed", path)
    feedSchema(spark, root, face, snap.files)
  }

  /** The feed's output schema for a file population: data columns
    * (merged), typed partition columns, then the two change columns. */
  private def feedSchema(spark: SparkSession, root: Path,
                         face: ConnectorFace,
                         files: Seq[(String, Long)])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val partSchema = FeatherSnapshots.toDiscovered(root,
      FeatherSnapshots.Snapshot(0, 0, "cdf", files.sortBy(_._1))).partSchema
    val dataSchema = face.mergedSchema(spark,
      files.map { case (rel, len) => (new Path(root, rel).toString, len) })
    StructType(dataSchema.fields ++ partSchema.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
  }

  /** Batch form: the output schema is the FEED SCHEMA AT `toVersion`
    * (Delta's `table_changes` contract — the end-of-range schema), not
    * the union over whichever files the range happened to touch: a
    * range whose only change is an append of a pre-evolution file still
    * carries the evolved columns (null-filled), and a column already
    * dropped by `toVersion` projects away (its only occurrences are
    * retired rows). Batch-to-batch, a consumer at one head sees ONE
    * schema. Costs one footer sweep of `toVersion`'s live files per
    * call — this is the pull/audit API; the streaming source pins its
    * schema once at start instead. */
  def readChanges(spark: SparkSession, path: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    val out = feedSchemaAt(spark, path, toVersion)
    alignCast(
      readChanges(spark, path, fromVersion, toVersion,
        emptyShape = Some(out)), out, path)
  }

  /** [[ConnectorFace.align]] plus lossless up-casts for columns whose
    * batch-local type is NARROWER than the target schema's — a range
    * touching only `k=1` leaves infers long where the head's `k=x` leaf
    * makes the column a string (residually: string targets are adopted
    * up front, see [[readChanges]]), and the streaming source replays
    * pre-retype batches against its start-pinned schema. align itself
    * never casts, and silently emitting a batch whose column type
    * disagrees with the target is the instability the
    * one-schema-per-head contract exists to prevent. A type the target
    * cannot absorb losslessly throws with the CALLER's message — one
    * definition of the mechanics for both the batch and streaming
    * consumers (a per-caller copy of exactly this drifted once). */
  private[graft] def alignCast(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      stuckMsg: Seq[(String, org.apache.spark.sql.types.DataType,
        org.apache.spark.sql.types.DataType)] => String): DataFrame = {
    val want = schema.fields.map(f => f.name -> f.dataType).toMap
    val mismatched = df.schema.fields.flatMap { f =>
      want.get(f.name).collect {
        case w if w != f.dataType => (f.name, f.dataType, w) } }.toSeq
    val stuck = mismatched.filterNot { case (_, have, w) =>
      org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(have, w) }
    if (stuck.nonEmpty) throw new IllegalStateException(stuckMsg(stuck))
    val casted = mismatched.foldLeft(df) { case (d, (n, _, w)) =>
      d.withColumn(n, col(n).cast(w)) }
    ConnectorFace.align(casted, schema)
  }

  /** [[alignCast]] with the batch feed's error message. */
  private def alignCast(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      path: String): DataFrame =
    alignCast(df, schema, stuck => s"change feed on $path: column(s) " +
      stuck.map { case (n, have, w) =>
        s"$n (${have.catalogString}, feed schema expects " +
          s"${w.catalogString})" }.mkString(", ") +
      " cannot be cast losslessly to the feed schema — the table's " +
      "history carries an incompatible type change")

  /** [[readChanges]] with the caller's ALIGN TARGET schema (the feed
    * schema the caller will shape the result to). Two uses: a NO-CHANGE
    * range (only compact/cluster versions) shapes its empty frame from
    * it instead of a footer sweep of the newest snapshot — O(table) per
    * idle micro-batch would be pure waste — and string-typed partition
    * columns adopt it up front so the raw leaf string survives verbatim
    * (see the partSchema comment below). */
  private[graft] def readChanges(spark: SparkSession, path: String,
                                 fromVersion: Long, toVersion: Long,
                                 emptyShape: Option[
                                   org.apache.spark.sql.types.StructType])
      : DataFrame = {
    require(fromVersion >= 0 && toVersion >= math.max(fromVersion, 1L),
      s"readChanges: bad version range ($fromVersion, $toVersion]")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(FeatherSnapshots.enabled(fs, root),
      s"readChanges on $path, which has no ${FeatherSnapshots.Dir} " +
        "directory — change feeds are derived from the version history")
    val effFrom = math.max(1L, fromVersion)
    val snaps = FeatherSnapshots.readRange(fs, root, effFrom, toVersion)
    val face = ConnectorFace.detect(snaps.last.files, "readChanges", path)

    // ---- pass 1 (metadata only): which files does this range READ? ----
    // Planning must be O(changed files), not O(table): a streaming CDF
    // micro-batch over a 100k-part table processes one appended file —
    // sweeping every footer of every version's FULL file list per batch
    // would make the stream's steady-state cost proportional to the
    // table instead of the change.
    val dvCache = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    def loadDv(binding: Option[(String, Long)]): Array[Long] =
      binding.map { case (dvRel, _) =>
        dvCache.getOrElseUpdate(dvRel,
          DeletionVectors.read(conf, new Path(root, dvRel).toString))
      }.getOrElse(Array.emptyLongArray)
    case class StepMeta(version: Long,
                        removedFiles: Seq[(String, Long)],
                        addedFiles: Seq[(String, Long)],
                        prevDvs: Map[String, (String, Long)],
                        curDvs: Map[String, (String, Long)],
                        delKeep: Map[String, Array[Long]],
                        insKeep: Map[String, Array[Long]],
                        commonLens: Map[String, Long])
    val stepMeta: Seq[StepMeta] = snaps.sliding(2).flatMap { pair =>
      if (pair.size < 2) None
      else {
        val (prev, cur) = (pair.head, pair(1))
        cur.op match {
          case "compact" | "cluster" => None // row-preserving rewrites
          case _ =>
            val prevSet = prev.files.toSet
            val curSet = cur.files.toSet
            val removedFiles = prev.files.filterNot(curSet)
            val addedFiles = cur.files.filterNot(prevSet)
            // deletion-vector DELTAS on files carried through unchanged:
            // positions newly bound are this version's deleted rows
            // (read exactly those positions → "delete"); positions
            // un-bound (a restore to an earlier binding) come back as
            // inserts. O(delta positions) read work, no rewrite diffing.
            val common = prev.files.filter(curSet)
            var delKeep = Map.empty[String, Array[Long]]
            var insKeep = Map.empty[String, Array[Long]]
            val commonLens = scala.collection.mutable.HashMap.empty[String, Long]
            common.foreach { case (rel, len) =>
              val pb = prev.dvs.get(rel)
              val cb = cur.dvs.get(rel)
              if (pb != cb) {
                val pArr = loadDv(pb)
                val cArr = loadDv(cb)
                val nd = DeletionVectors.diff(cArr, pArr)
                val ui = DeletionVectors.diff(pArr, cArr)
                if (nd.nonEmpty) { delKeep += rel -> nd; commonLens(rel) = len }
                if (ui.nonEmpty) { insKeep += rel -> ui; commonLens(rel) = len }
              }
            }
            if (removedFiles.isEmpty && addedFiles.isEmpty &&
                delKeep.isEmpty && insKeep.isEmpty) None
            else Some(StepMeta(cur.version, removedFiles, addedFiles,
              prev.dvs, cur.dvs, delKeep, insKeep, commonLens.toMap))
        }
      }
    }.toSeq
    val bootstrapFiles: Seq[(String, Long)] =
      if (fromVersion == 0) snaps.head.files else Nil
    val readFilesAll: Seq[(String, Long)] =
      (bootstrapFiles ++ stepMeta.flatMap(m =>
        m.removedFiles ++ m.addedFiles ++
          (m.delKeep.keySet ++ m.insKeep.keySet).toSeq.sorted
            .map(r => (r, m.commonLens(r))))).distinct

    // ---- a NO-CHANGE range (compact/cluster-only) returns its empty
    // frame immediately: the caller's shape if supplied, else one
    // derived from the newest non-empty snapshot (the only remaining
    // O(snapshot files) schema sweep, and only on this rare path) ----
    if (readFilesAll.isEmpty) {
      val outSchema = emptyShape.getOrElse {
        val shapeFiles = snaps.reverse.map(_.files).find(_.nonEmpty)
          .getOrElse(sys.error(
            s"readChanges on $path: no files in versions " +
              s"[${snaps.head.version}, $toVersion] to derive the feed " +
              "schema from"))
        feedSchema(spark, root, face, shapeFiles)
      }
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    }

    // ---- schema over exactly the files the range reads. Partition
    // values are part of row identity (see scaladoc). A partition
    // column the align TARGET types as STRING adopts that type HERE,
    // not via a later cast: the range-local inference can type `dom=01`
    // as long where the head's `dom=x` leaf makes the column a string,
    // and casting the parsed 1L back to string re-spells it "1" — a
    // value no table read ever returns ("01" is what the head-typed
    // read serves). With the column string-typed up front, castValue
    // passes the raw leaf string through verbatim. Numeric/date
    // narrowings re-spell identically under cast and stay range-local.
    val schemaFiles = readFilesAll
    val partSchema0 = FeatherSnapshots.toDiscovered(root,
      FeatherSnapshots.Snapshot(toVersion, 0, "cdf",
        schemaFiles.sortBy(_._1))).partSchema
    val partSchema = org.apache.spark.sql.types.StructType(
      partSchema0.fields.map { f =>
        emptyShape.flatMap(_.fields.find(_.name == f.name)) match {
          case Some(t)
              if t.dataType == org.apache.spark.sql.types.StringType =>
            f.copy(dataType = t.dataType)
          case _ => f
        }
      })
    val dataSchema = face.mergedSchema(spark,
      schemaFiles.map { case (rel, len) => (new Path(root, rel).toString, len) })
    dataSchema.fields.find(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.MapType]).foreach { f =>
      throw new IllegalArgumentException(
        s"readChanges on $path: column '${f.name}' is map-typed — maps " +
          "have no grouping identity, so row-level diffs are undefined")
    }
    val idCols: Seq[String] =
      dataSchema.fieldNames.toSeq ++ partSchema.fieldNames

    /** One file set as rows, per hive leaf, with its typed partition
      * values spliced in as columns. `dvs` (REL-path-keyed manifest
      * bindings) filter deleted positions out; `posKeep` (rel path →
      * positions) reads ONLY those rows — the DV-delta read. A file in
      * `posKeep` ignores `dvs` (the delta positions were already computed
      * against both bindings). */
    def readSet(files: Seq[(String, Long)],
                dvs: Map[String, (String, Long)],
                posKeep: Map[String, Array[Long]] = Map.empty): DataFrame = {
      val leaves = FeatherSnapshots.toDiscovered(root,
        FeatherSnapshots.Snapshot(0, 0, "cdf", files.sortBy(_._1))).files
      val absOf = files.map { case (rel, _) =>
        new Path(root, rel).toString -> rel }.toMap
      leaves.groupBy(_.values).map { case (values, lf) =>
        val dvPaths = lf.flatMap { l =>
          val rel = absOf(l.file)
          if (posKeep.contains(rel)) None
          else dvs.get(rel).map { case (dvRel, _) =>
            l.file -> new Path(root, dvRel).toString }
        }.toMap
        val keep = lf.flatMap { l =>
          posKeep.get(absOf(l.file)).map(l.file -> _) }.toMap
        val df0 = ConnectorFace.align(
          face.readMergedDv(spark, lf.map(l => (l.file, l.len)), dvPaths,
            keep), dataSchema)
        val vm = values.toMap
        partSchema.fields.foldLeft(df0) { (df, f) =>
          vm.get(f.name).flatMap(Option(_)) match {
            case Some(raw) => df.withColumn(f.name,
              lit(FeatherPartitions.castValue(raw, f.dataType))
                .cast(f.dataType))
            case None => df.withColumn(f.name, lit(null).cast(f.dataType))
          }
        }
      }.reduce(_ unionByName _)
    }
    def tagged(df: DataFrame, change: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(change))
        .withColumn("_commit_version", lit(v))

    /** Net row-level diff of one version step in a SINGLE pass: tag the
      * sides, one count aggregation over the full row identity, expand
      * the surplus per side (multiset semantics — duplicate rows diff by
      * count). */
    def diff(removed: Option[DataFrame], added: Option[DataFrame],
             v: Long): Option[DataFrame] =
      if (removed.isEmpty && added.isEmpty) None
      else if (removed.isEmpty) Some(tagged(added.get, "insert", v))
      else if (added.isEmpty) Some(tagged(removed.get, "delete", v))
      else {
        val both = removed.get.withColumn("__side", lit(1L))
          .unionByName(added.get.withColumn("__side", lit(-1L)))
        val net = both.groupBy(idCols.map(col): _*)
          .agg(sum(when(col("__side") === 1L, 1L).otherwise(0L)).as("__rc"),
            sum(when(col("__side") === -1L, 1L).otherwise(0L)).as("__ac"))
          .where(col("__rc") =!= col("__ac"))
        Some(net
          .withColumn("_change_type",
            when(col("__rc") > col("__ac"), "delete").otherwise("insert"))
          .withColumn("__i",
            explode(sequence(lit(1L), abs(col("__rc") - col("__ac")))))
          .select((idCols.map(col) :+ col("_change_type")): _*)
          .withColumn("_commit_version", lit(v)))
      }

    /** Union the optional side frames (a side can have both retired
      * whole files AND DV-delta position reads). */
    def merge2(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] =
      (a, b) match {
        case (Some(x), Some(y)) => Some(x.unionByName(y))
        case (x, None) => x
        case (None, y) => y
      }
    val initial: Option[DataFrame] =
      if (fromVersion == 0 && bootstrapFiles.nonEmpty)
        Some(tagged(readSet(bootstrapFiles, snaps.head.dvs), "insert",
          snaps.head.version))
      else None
    val steps = stepMeta.map { m =>
      def posFrame(keep: Map[String, Array[Long]]): Option[DataFrame] =
        if (keep.isEmpty) None
        else Some(readSet(
          keep.keys.toSeq.sorted.map(r => (r, m.commonLens(r))),
          Map.empty, keep))
      val removedDf = merge2(
        if (m.removedFiles.isEmpty) None
        else Some(readSet(m.removedFiles, m.prevDvs)),
        posFrame(m.delKeep))
      val addedDf = merge2(
        if (m.addedFiles.isEmpty) None
        else Some(readSet(m.addedFiles, m.curDvs)),
        posFrame(m.insKeep))
      // a StepMeta only exists when some side is non-empty, so diff
      // always yields a frame here
      diff(removedDf, addedDf, m.version).get
    }
    // readFilesAll non-empty ⇒ bootstrapFiles or some step is non-empty
    // ⇒ at least one frame exists (the empty range returned early above)
    val frames = initial.toSeq ++ steps
    frames.reduce(_ unionByName _)
  }
}
