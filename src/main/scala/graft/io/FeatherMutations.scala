package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.FeatherSnapshots

/** Row-level DELETE and MERGE (upsert) on snapshotted feather AND avro
  * tables (face auto-detected from the manifest's part suffixes), as
  * copy-on-write MANIFEST operations — the mutation tier a 100-TB corpus
  * table needs (takedown/right-to-erasure deletes by document key;
  * incremental corrections and late-arriving re-crawls as upserts) that
  * the reference gets trivially from in-memory ownership
  * (`DataFrame.drop` / boolean-mask assignment mutate the frame in
  * place, python/cudf/cudf/core/dataframe.py `drop`/`__setitem__`) but a
  * distributed immutable table does not.
  *
  * Shape, from the same playbook as [[Compaction.runSnapshot]]:
  *
  *  - **Copy-on-write, file-pruned.** Only files whose skipping-index key
  *    range could contain a mutation key are rewritten ("touched");
  *    everything else carries into the new manifest untouched. On a
  *    range-clustered layout (repartitionByRange ingest, or hive
  *    partitions) a narrow delete touches a sliver of the table. A file
  *    with no usable stats is touched unconditionally — pruning is an
  *    optimization, never a correctness input.
  *  - **Candidate probe is distributed.** Mutation keys are NEVER
  *    collected to the driver: per-file [min,max] ranges (schema-sized,
  *    from the manifest + stats sidecars) become a sorted-boundary
  *    structure a codegen binary search probes INSIDE the key scan —
  *    disjoint ranges (clustered layouts) search the file boundaries
  *    directly; overlapping ranges stab an elementary-segment index
  *    (O(log files + overlap depth) per key). Only matching file ids
  *    come back to the driver. No broadcast join in either shape; a
  *    pathological overlap that would blow the segment index's memory
  *    cap falls back to a broadcast non-equi probe.
  *  - **One atomic commit.** New parts land via tmp+rename under a
  *    version-derived name prefix, then ONE snapshot manifest publishes
  *    the swap (touched files out, new parts in). Readers of any retained
  *    version are untouched — time travel across a delete shows the
  *    pre-delete rows until `expire()` reclaims them, which is exactly
  *    the audit trail a takedown pipeline wants (and `expire` is the
  *    compliance point that makes erasure physical).
  *  - **Conflict matrix** ([[FeatherSnapshots.commitMutation]], shared
  *    with cluster/compact): concurrent blind APPENDS commute — the
  *    appended files carry through the mutation's manifest untouched
  *    (write-serializable: the mutation serializes before the append, so
  *    appended rows are not subject to its predicate). A concurrent
  *    mutation/overwrite/restore that touched anything this run read
  *    aborts loudly rather than publish a manifest computed against dead
  *    state. Part prefixes are RUN-unique, so racing mutators can never
  *    pre-clean each other's uncommitted parts; a crashed run's orphans
  *    are reclaimed by [[FeatherSnapshots.vacuumOrphans]] (age-gated,
  *    in-flight-guarded).
  *
  * Semantics:
  *  - `deleteByKey(keys, keyCols)`: drop every table row whose `keyCols`
  *    tuple appears in `keys` (left-anti join; null keys never match,
  *    per SQL equality). Works on hive-partitioned tables (each leaf
  *    rewrites independently; rows never change partition).
  *  - `merge(source, keyCols)`: upsert — table rows matched by a source
  *    key tuple are REPLACED by the source row, unmatched source rows
  *    are inserted. Source schema must carry exactly the table's data
  *    columns — plus, on a hive-partitioned table, its partition
  *    columns: inserts ROUTE to the leaf their partition values name,
  *    and a matched key whose source row names different partition
  *    values MOVES partitions (delete-here + insert-there in the same
  *    commit).
  *    Re-running the same merge is idempotent on table CONTENT (one more
  *    version, same rows) — which makes it safe as a foreachBatch sink
  *    under Structured Streaming's replayed-batch semantics.
  */
object FeatherMutations {

  /** `version` = the committed snapshot; `filesTouched`/`filesKept` split
    * the parent manifest; `partsWritten` = new parts in the commit. */
  final case class Result(version: Long, filesTouched: Int, filesKept: Int,
                          partsWritten: Int)

  def deleteByKey(spark: SparkSession, path: String, keys: DataFrame,
                  keyCols: Seq[String], codec: String = "lz4"): Result =
    mutate(spark, path, "delete", keys, keyCols, appendSource = None, codec)

  /** MERGE-ON-READ delete: same semantics as [[deleteByKey]] (drop every
    * row whose `keyCols` tuple appears in `keys`; null keys never match)
    * but instead of copy-on-writing every candidate file it writes one
    * tiny [[DeletionVectors]] sidecar of matched ROW POSITIONS per
    * touched file and binds it in the manifest — bytes written scale
    * with DELETED ROWS, not with touched-file sizes. The read path
    * filters the positions inside the scan; compaction/clustering folds
    * the DV into a physical rewrite; `expire()` then makes the erasure
    * physical (the same compliance path as the copy-on-write delete).
    * A second DV delete on an already-bound file unions into a fresh
    * sidecar (the old one expires with its version). Prefer this for
    * scattered takedowns; prefer [[deleteByKey]] when a delete drops a
    * large fraction of the touched files' rows (the rewrite then pays
    * for itself in read-side work).
    *
    * Scale: the probe is the same distributed stats/bloom candidate scan
    * as the COW path; the position scan reads ONLY key columns of
    * candidate files; matched (file, position) pairs come back to the
    * driver — deleted-row-count-sized, the quantity a DV delete is for
    * (a takedown list, not a retention sweep). `partsWritten` reports DV
    * sidecars written. */
  def deleteByKeyDV(spark: SparkSession, path: String, keys: DataFrame,
                    keyCols: Seq[String]): Result = {
    val op = "delete"
    require(keyCols.nonEmpty, s"$op: keyCols must be non-empty")
    keyCols.foreach(k => require(keys.columns.contains(k),
      s"$op: key column '$k' not in keys frame (${keys.columns.mkString(", ")})"))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(FeatherSnapshots.enabled(fs, root),
      s"$op on $path, which has no ${FeatherSnapshots.Dir} directory — " +
        "row-level mutation is a manifest operation; write the table with " +
        "option(\"snapshots\", \"true\") first")
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      sys.error(s"$op on $path: snapshot directory exists but holds no versions"))
    val face = ConnectorFace.detect(snap.files, op, path)
    val absFiles = snap.files.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    val tableSchema = face.mergedSchema(spark, absFiles)
    keyCols.foreach(k => require(tableSchema.fieldNames.contains(k),
      s"$op: key column '$k' not in table schema " +
        s"(${tableSchema.fieldNames.mkString(", ")}) — partition columns " +
        "live in the directory chain and cannot key a DV delete"))
    val (touchedSet, probeStats) =
      probeTouched(spark, op, absFiles, tableSchema, keys, keyCols)
    val touchedIdx = touchedSet.toSeq.sorted
    val targetV = snap.version + 1
    val newByFile = dvPositionScan(spark, face, root, snap, absFiles,
      touchedIdx, keys, keyCols, tableSchema)
    def fileRowCount(fid: Int): Option[Long] =
      probeStats.getOrElse(absFiles(fid)._1, None).flatMap(exactRows)
    val (newBindings, droppedRel) =
      bindDvs(fs, conf, root, snap, targetV, newByFile, fileRowCount)

    // an all-rows delete must still leave a readable table: when every
    // file drops, stamp one schema-only part per leaf (hive layouts keep
    // their key=value paths), same as the COW path
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    if (droppedRel.nonEmpty &&
        snap.files.forall { case (rel, _) => droppedRel(rel) })
      added ++= stampLeaves(face, fs, root, snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), tableSchema)

    // a delete that matched NOTHING (already-deleted keys, absent keys)
    // publishes no commit: an empty op="delete" version would abort any
    // live snapshot stream for a change that altered zero rows, and a
    // retried takedown must be a true no-op
    if (newBindings.isEmpty && droppedRel.isEmpty && added.isEmpty)
      return Result(snap.version, 0, snap.files.size, 0)
    // conflict scope = the key-probed candidates (commitMutation's
    // readRel contract): a concurrent mutation disjoint from them
    // commits beside this takedown
    val committed = FeatherSnapshots.commitMutation(fs, root, op, snap,
      droppedRel, added.toSeq, setDvs = newBindings,
      readRel = Some(touchedIdx.map(i => snap.files(i)._1).toSet))
    Result(committed, newBindings.size + droppedRel.size,
      snap.files.size - newBindings.size - droppedRel.size,
      newBindings.size)
  }

  /** `evolveSchema = true` lets the source carry NEW columns: they join
    * the table schema (nullable), survivors and older generations read
    * them as null — the Delta mergeSchema-on-write contract. The table
    * becomes schema-heterogeneous, which is exactly what the mergeSchema
    * read option exists for. */
  def merge(spark: SparkSession, path: String, source: DataFrame,
            keyCols: Seq[String], codec: String = "lz4",
            evolveSchema: Boolean = false): Result =
    mutate(spark, path, "merge", source, keyCols,
      appendSource = Some(source), codec, evolveSchema)

  /** CDC apply: one change frame carrying upserts AND deletes, flagged by
    * a boolean tombstone column (null = live). Matched tombstoned keys are
    * deleted, matched live keys replaced, unmatched live rows inserted
    * (an unmatched tombstone is a no-op) — all in ONE manifest commit, so
    * a change batch is atomic. Idempotent on content like [[merge]],
    * which is exactly what a `foreachBatch` streaming sink needs: Spark
    * replays a batch after a crash, and the replay commits one more
    * version with identical rows. The batch must be pre-collapsed to one
    * change per key (standard CDC compaction: keep the max-sequence row
    * per key) — with several changes to one key in a frame there is no
    * order to apply them in. */
  def applyCdc(spark: SparkSession, path: String, changes: DataFrame,
               keyCols: Seq[String], deleteCol: String = "_deleted",
               codec: String = "lz4",
               evolveSchema: Boolean = false): Result = {
    require(changes.columns.contains(deleteCol),
      s"applyCdc: tombstone column '$deleteCol' not in changes frame " +
        s"(${changes.columns.mkString(", ")})")
    val live = changes
      .filter(!coalesce(col(deleteCol), lit(false))).drop(deleteCol)
    mutate(spark, path, "cdc", changes, keyCols,
      appendSource = Some(live), codec, evolveSchema)
  }

  /** MERGE-ON-READ upsert: the same semantics as [[merge]] (matched table
    * rows are REPLACED by the source row, unmatched source rows insert)
    * but instead of copy-on-writing every candidate file it DV-masks the
    * matched old rows ([[DeletionVectors]] sidecars, the same position
    * scan as [[deleteByKeyDV]]) and lands the ENTIRE source as ordinary
    * new parts — all in ONE manifest commit. Bytes written scale with
    * CHANGED ROWS (source size + position sidecars), not with
    * touched-file sizes: a 1000-key correction against scattered 128 MiB
    * parts writes ~one small part + ~8 KB of sidecars instead of
    * rewriting every candidate. Prefer [[merge]] when the source
    * replaces a large fraction of the touched files' rows (the rewrite
    * then pays for itself in read-side work — a DV-masked file still
    * decodes its masked rows' pages).
    *
    * Same contracts as [[merge]]: idempotent on table CONTENT (a re-run
    * masks the first run's copies and lands identical replacements —
    * safe as a foreachBatch sink), partitioned tables route inserts by
    * the source's partition values (a matched key with different values
    * MOVES partitions: mask-here + insert-there), `evolveSchema` lets
    * the source carry new columns (and is CHEAPER here: survivors are
    * never rewritten, old generations read the new column as null via
    * mergeSchema). The CDF emits the masked rows as deletes and the new
    * parts as inserts through the same net-diff machinery; compaction
    * folds the masks physically; expire() completes the erasure. */
  def mergeDV(spark: SparkSession, path: String, source: DataFrame,
              keyCols: Seq[String], codec: String = "lz4",
              evolveSchema: Boolean = false): Result =
    mutateDv(spark, path, "merge", source, keyCols,
      insertSource = source, codec, evolveSchema)

  /** The merge-on-read face of [[applyCdc]]: matched keys (tombstoned or
    * live) DV-mask, live rows land as new parts — one atomic commit,
    * idempotent on content, bytes ∝ the change batch. */
  def applyCdcDV(spark: SparkSession, path: String, changes: DataFrame,
                 keyCols: Seq[String], deleteCol: String = "_deleted",
                 codec: String = "lz4",
                 evolveSchema: Boolean = false): Result = {
    require(changes.columns.contains(deleteCol),
      s"applyCdcDV: tombstone column '$deleteCol' not in changes frame " +
        s"(${changes.columns.mkString(", ")})")
    val live = changes
      .filter(!coalesce(col(deleteCol), lit(false))).drop(deleteCol)
    mutateDv(spark, path, "cdc", changes, keyCols, live, codec,
      evolveSchema)
  }

  // ---- shared implementation ----------------------------------------------

  /** The merge-on-read mutation core behind [[mergeDV]]/[[applyCdcDV]]:
    * probe → position scan → DV bind → whole-source part write → one
    * commit. `keysDf` drives the mask (all change keys, tombstones
    * included); `insertSource` is what lands as new parts (the live
    * rows). Validation mirrors [[mutate]]'s merge path exactly — the two
    * strategies must accept and reject the same inputs. */
  private def mutateDv(spark: SparkSession, path: String, op: String,
                       keysDf: DataFrame, keyCols: Seq[String],
                       insertSource: DataFrame, codec: String,
                       evolveSchema: Boolean): Result = {
    require(keyCols.nonEmpty, s"$op: keyCols must be non-empty")
    keyCols.foreach(k => require(keysDf.columns.contains(k),
      s"$op: key column '$k' not in keys frame (${keysDf.columns.mkString(", ")})"))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(FeatherSnapshots.enabled(fs, root),
      s"$op on $path, which has no ${FeatherSnapshots.Dir} directory — " +
        "row-level mutation is a manifest operation; write the table with " +
        "option(\"snapshots\", \"true\") first")
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      sys.error(s"$op on $path: snapshot directory exists but holds no versions"))
    val face = ConnectorFace.detect(snap.files, op, path)
    val targetV = snap.version + 1
    val prefix = FeatherSnapshots.runPrefix(targetV)

    val chains: Seq[String] = snap.files.map { case (rel, _) => relDirOf(rel) }
      .distinct.filter(_.nonEmpty)
    val (hiveChains, partCols) =
      graft.sources.FeatherPartitions.hiveLayout(chains)
    if (chains.nonEmpty && !hiveChains)
      throw new IllegalArgumentException(
        s"$op on $path: table has non-hive subdirectories " +
          s"(${chains.mkString(", ")}) — $op routes inserts by partition " +
          "values and needs a hive key=value layout")
    val partitioned = partCols.nonEmpty

    val absFiles = snap.files.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    val tableSchema0 = face.mergedSchema(spark, absFiles)
    val tableSchema =
      if (!evolveSchema) tableSchema0
      else {
        val known = tableSchema0.fieldNames.toSet ++ partCols
        val extra = insertSource.schema.fields.filterNot(f => known(f.name))
          .map(f => StructField(f.name, f.dataType, nullable = true))
        StructType(tableSchema0.fields ++ extra)
      }
    keyCols.foreach(k => require(tableSchema0.fieldNames.contains(k),
      if (partCols.contains(k))
        s"$op: key column '$k' is a partition column — partition values " +
          "live in the directory chain, not the data files; key on data " +
          "columns (the source's partition values route the rows)"
      else s"$op: key column '$k' not in table schema " +
        s"(${tableSchema.fieldNames.mkString(", ")})"))
    requireNotEmbedded(op, partCols, tableSchema,
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean)
    val expected = (tableSchema.fieldNames ++ partCols).sorted
    require(insertSource.columns.sorted.sameElements(expected),
      s"$op: source columns (${insertSource.columns.sorted.mkString(", ")})" +
        s" must be exactly the table's data columns" +
        (if (partitioned) " plus its partition columns" else "") +
        s" (${expected.mkString(", ")})")
    tableSchema.fields.foreach { tf =>
      val st = insertSource.schema(tf.name).dataType
      require(st == tf.dataType,
        s"$op: source column '${tf.name}' is ${st.catalogString} but the " +
          s"table carries ${tf.dataType.catalogString} — cast the source " +
          "before merging")
    }

    // ---- mask the matched old rows ------------------------------------------
    // ONE materialization of the change batch serves the probe, the
    // position scan, and (for merge, where insertSource eq keysDf) the
    // part write — a foreachBatch source built from an expensive plan
    // must not re-execute per pass (the routePartitionedInserts
    // precedent). Unpersisted in the finally.
    val (keysC, ownKeys) = ConnectorFace.pinIfUncached(keysDf)
    val (insertC, ownInsert) =
      if (insertSource eq keysDf) (keysC, false)
      else ConnectorFace.pinIfUncached(insertSource)
    try {
    val (touchedSet, probeStats) =
      probeTouched(spark, op, absFiles, tableSchema0, keysC, keyCols)
    val touchedIdx = touchedSet.toSeq.sorted
    val newByFile = dvPositionScan(spark, face, root, snap, absFiles,
      touchedIdx, keysC, keyCols, tableSchema0)
    def fileRowCount(fid: Int): Option[Long] =
      probeStats.getOrElse(absFiles(fid)._1, None).flatMap(exactRows)
    val (newBindings, droppedRel) =
      bindDvs(fs, conf, root, snap, targetV, newByFile, fileRowCount)

    // ---- land the whole source as new parts ---------------------------------
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var partsWritten = 0
    if (!partitioned) {
      val src = insertC.select(tableSchema.fieldNames.map(col).toSeq: _*)
      val parts = face.writeParts(
        src.coalesce(ConnectorFace.capWriteParts(insertC)), root.toString,
        prefix, codec)
      if (parts.nonEmpty)
        FeatherStats.upsertMerged(fs, root,
          parts.map { case (name, len, js) =>
            name -> (len, FeatherStats.fromJson(js)) }.toMap)
      added ++= parts.map { case (name, len, _) => (name, len) }
      partsWritten += parts.size
    } else {
      val routed = routePartitionedInserts(op, face, fs, root, insertC,
        partCols, tableSchema, prefix, codec)
      added ++= routed
      partsWritten += routed.size
    }

    // a change batch that tombstones EVERY remaining row and inserts
    // nothing must still leave a readable table — stamp per leaf, same
    // as the delete paths
    if (added.isEmpty && droppedRel.nonEmpty &&
        snap.files.forall { case (rel, _) => droppedRel(rel) })
      added ++= stampLeaves(face, fs, root, snap.files.map(_._1),
        FeatherSnapshots.runPrefix(targetV), tableSchema)

    // a batch that changed NOTHING (replayed tombstones whose rows are
    // already masked, no live rows) publishes no commit: an empty
    // op="merge"/"cdc" version would abort any live snapshot stream for
    // a change that altered zero rows, and a foreachBatch replay must be
    // a true no-op — the same guard deleteByKeyDV carries
    if (newBindings.isEmpty && droppedRel.isEmpty && added.isEmpty)
      return Result(snap.version, 0, snap.files.size, 0)
    // conflict scope = the key-probed candidates (deleteByKeyDV's rule)
    val committed = FeatherSnapshots.commitMutation(fs, root, op, snap,
      droppedRel, added.toSeq, setDvs = newBindings,
      readRel = Some(touchedIdx.map(i => snap.files(i)._1).toSet))
    Result(committed, newBindings.size + droppedRel.size,
      snap.files.size - newBindings.size - droppedRel.size, partsWritten)
    } finally {
      if (ownKeys) keysC.unpersist(blocking = false): Unit
      if (ownInsert) insertC.unpersist(blocking = false): Unit
    }
  }

  // ---- shared implementation (cont.) ----------------------------------------

  /** Distributed position scan shared by [[deleteByKeyDV]] and
    * [[mergeDV]]: one task per candidate file reads ONLY the key columns
    * with row positions (existing DV applied, so an already-deleted row
    * can never re-match); the inner join against the key frame leaves
    * exactly the matched (file index, position) pairs. Matched pairs
    * collect to the driver — changed-row-count-sized by design (a
    * takedown list or correction batch, never a retention sweep). */
  private[io] def dvPositionScan(spark: SparkSession, face: ConnectorFace,
                             root: Path,
                             snap: FeatherSnapshots.Snapshot,
                             absFiles: Seq[(String, Long)],
                             touchedIdx: Seq[Int], keysDf: DataFrame,
                             keyCols: Seq[String],
                             tableSchema: StructType)
      : Map[Int, Array[Long]] = {
    if (touchedIdx.isEmpty) return Map.empty
    val readerJson = face.readerJson(spark, touchedIdx.map(absFiles))
    val confMap = GraftHadoop.confBroadcast(spark)
    val work = touchedIdx.map { i =>
      (i, absFiles(i)._1, absFiles(i)._2,
        snap.dvs.get(snap.files(i)._1).map { case (dvRel, _) =>
          new Path(root, dvRel).toString })
    }
    import org.apache.spark.sql.Row
    val scanSchema = StructType(
      StructField("__fid", IntegerType, nullable = false) +:
      StructField("__pos", LongType, nullable = false) +:
      keyCols.map(k => tableSchema(k)))
    // readers tracked onto the task completion listener
    val rdd = spark.sparkContext
      .parallelize(work, math.max(1, work.size))
      .mapPartitions { it =>
        val execConf = new org.apache.hadoop.conf.Configuration(false)
        confMap.value.foreach { case (k, v) => execConf.set(k, v) }
        val open = new java.util.ArrayList[AutoCloseable]()
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => open.forEach(r =>
            try r.close() catch { case _: Exception => () })))
        it.flatMap { case (fid, abs, len, dvPath) =>
          val dv = dvPath
            .map(p => DeletionVectors.read(execConf, p)).orNull
          face.fileRowsPos(execConf, readerJson, abs, len, keyCols, dv,
            r => open.add(r): Unit, r => open.remove(r): Unit)
            .map { case (pos, row) =>
              Row.fromSeq(fid +: pos +: row.toSeq) }
        }
      }
    // matched (file ordinal → positions, ARBITRARY order — the shuffle
    // decides; bindDvs sorts before writing sidecars)
    spark.createDataFrame(rdd, scanSchema)
      .join(keysDf.select(keyCols.map(col): _*).distinct(), keyCols, "inner")
      .select(col("__fid"), col("__pos"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (fid, rows) => fid -> rows.map(_.getLong(1)) }
  }

  /** Leaf-grouped DV read shared by the clause and predicate mutation
    * tiers: `files` (abs path, len) read with their DV bindings applied
    * and, when partitioned, each leaf's partition values attached as
    * typed literal columns (the same values-from-the-chain contract
    * every partitioned read applies; `lit(null).cast` for the hive null
    * leaf) — one union arm per leaf, folded as a BALANCED tree so the
    * analyzer never recurses O(leaves) deep. `keep` optionally pins the
    * posKeep positions per file (the DV matched-rows read). Callers
    * guarantee `files` is non-empty. */
  private[io] def readWithPartValues(spark: SparkSession,
                                     face: ConnectorFace,
                                     files: Seq[(String, Long)],
                                     dvPathsAll: Map[String, String],
                                     tableSchema: StructType,
                                     partSchema: StructType,
                                     valuesByAbs: Map[String, Seq[(String, String)]],
                                     keep: Map[String, Array[Long]] = Map.empty)
      : DataFrame = {
    require(files.nonEmpty, "readWithPartValues: empty file list")
    def attachParts(df: DataFrame,
                    values: Seq[(String, String)]): DataFrame =
      values.foldLeft(df) { case (acc, (c, v)) =>
        acc.withColumn(c, lit(v).cast(partSchema(c).dataType))
      }
    val arms = files.groupBy(f =>
        valuesByAbs.getOrElse(f._1, Nil)).toSeq.sortBy(_._1.toString)
      .map { case (values, leafFiles) =>
        // Set membership, not a linear scan per map entry — a bySource
        // sweep over thousands of DV-bound files would otherwise pay
        // O(leaves × dvMappings × filesPerLeaf) driver work
        val leafSet = leafFiles.map(_._1).toSet
        val dvs = dvPathsAll.filter { case (abs, _) => leafSet(abs) }
        val raw =
          if (keep.isEmpty) face.readMergedDv(spark, leafFiles, dvs)
          else face.readMergedDv(spark, leafFiles, dvs,
            keep.filter { case (abs, _) => leafSet(abs) })
        attachParts(ConnectorFace.align(raw, tableSchema), values)
      }
    def balanced(fs: Seq[DataFrame]): DataFrame =
      if (fs.size == 1) fs.head
      else {
        val (l, r) = fs.splitAt(fs.size / 2)
        balanced(l).unionByName(balanced(r))
      }
    balanced(arms)
  }

  /** Refuse a table whose DATA files also embed a partition column —
    * the partition-value attach in every routed rewrite would clobber
    * the embedded values (or the plan dies later as a raw
    * AMBIGUOUS_REFERENCE). Matches like the resolver: case-insensitive
    * under the default conf. ONE definition across all four mutation
    * paths. */
  private[io] def requireNotEmbedded(op: String, partCols: Seq[String],
                                     tableSchema: StructType,
                                     caseSensitive: Boolean): Unit = {
    val embedded = partCols.filter(p => tableSchema.fieldNames.exists(f =>
      f == p || (!caseSensitive && f.equalsIgnoreCase(p))))
    require(embedded.isEmpty,
      s"$op: partition column(s) ${embedded.mkString(", ")} are ALSO " +
        "embedded in the data files — routing cannot tell the path copy " +
        "from the data copy")
  }

  /** Column-name canonicalization onto a schema's spelling under
    * spark.sql.caseSensitive=false (exact names and the case-sensitive
    * conf pass through; absent/ambiguous names fall through unchanged
    * for the caller's loud validation). */
  private[io] def canonicalName(schema: StructType,
                                caseSensitive: Boolean)(k: String): String =
    if (schema.fieldNames.contains(k) || caseSensitive) k
    else schema.fieldNames.filter(_.equalsIgnoreCase(k)) match {
      case Array(one) => one
      case _ => k
    }

  /** WALL-CLOCK pin, shared by the clause merge and replaceWhere:
    * rewrite clock functions in a user expression to LITERALS of one
    * per-statement instant. A mutation evaluates its expressions in
    * several separate Spark jobs (pruning fold, limit-1 probe, position
    * scan, COW rewrite, and routePartitionedInserts' distinct() +
    * per-leaf scans, where persist is only best-effort under
    * eviction/task retry) — left unpinned,
    * current_timestamp()/current_date() would evaluate at a DIFFERENT
    * instant per job: pruning could drop files the executed predicate
    * matches, and a routed write could route on one timestamp and write
    * another. The clock functions arrive as UNRESOLVED nodes here —
    * functions.current_timestamp() lowers to UnresolvedFunction, the
    * bare SQL keyword to a one-part UnresolvedAttribute (claimed only
    * when no real column in `shadowNames` shadows the name, mirroring
    * Spark's literal-function resolution order) — plus the resolved
    * spellings for hand-built expressions. */
  /** The pinned literal for one clock function name at `nowInstant`
    * (session-zone-aware for the date/local spellings). */
  private def clockLit(spark: SparkSession,
                       nowInstant: java.time.Instant)(name: String)
      : Option[org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    lazy val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    name.toLowerCase match {
      case "current_timestamp" | "now" =>
        Some(Literal(DateTimeUtils.instantToMicros(nowInstant),
          TimestampType))
      case "current_date" | "curdate" =>
        Some(Literal(java.time.LocalDate.ofInstant(nowInstant, zone)
          .toEpochDay.toInt, DateType))
      case "localtimestamp" =>
        Some(Literal(DateTimeUtils.localDateTimeToMicros(
          java.time.LocalDateTime.ofInstant(nowInstant, zone)),
          TimestampNTZType))
      case _ => None
    }
  }

  private[io] def pinClock(spark: SparkSession, shadowNames: Seq[String],
                           nowInstant: java.time.Instant)
                          (c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    val clockLit = this.clockLit(spark, nowInstant) _
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Bridge.convertedExpression(spark, c)
        .transform {
          case f: UnresolvedFunction
              if f.nameParts.length == 1 && f.arguments.isEmpty &&
                clockLit(f.nameParts.head).isDefined =>
            clockLit(f.nameParts.head).get
          case ua: UnresolvedAttribute
              if ua.nameParts.length == 1 &&
                clockLit(ua.nameParts.head).isDefined &&
                !shadowNames.exists(
                  _.equalsIgnoreCase(ua.nameParts.head)) =>
            clockLit(ua.nameParts.head).get
          case _: CurrentTimestamp | _: Now =>
            clockLit("current_timestamp").get
          case _: CurrentDate => clockLit("current_date").get
          case _: LocalTimestamp => clockLit("localtimestamp").get
        })
  }

  /** Stamp the TABLE's nullability on an output column: a
    * literal-valued insert would otherwise write a NON-NULLABLE footer
    * for a column the table holds nulls in elsewhere — and since part
    * files sort mutation-prefix-first, first-footer schema inference
    * (mergeSchema=false) would then read the null-bearing generations
    * under a non-nullable schema and NPE in codegen. KnownNullable is a
    * no-op tag at execution; it only widens the ANALYZED schema the
    * part writers derive their footers from. */
  private[io] def nullableAsTable(c: org.apache.spark.sql.Column,
                                  nullable: Boolean)
      : org.apache.spark.sql.Column =
    if (!nullable) c
    else org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.KnownNullable(
        org.apache.spark.sql.graft.Bridge.expression(c)))

  /** [[pinClock]] for a whole ANALYZED frame (the INSERT statement's
    * query): resolved clock calls anywhere in the plan pin to literals
    * of one per-statement instant — the routed partitioned write
    * evaluates the plan in several jobs (distinct() + per-leaf slices,
    * persist best-effort), and `INSERT ... SELECT current_timestamp()`
    * must write ONE instant, not one per leaf. Only the RESOLVED
    * spellings appear in an analyzed plan. */
  private[io] def pinClockInPlan(spark: SparkSession, df: DataFrame,
                                 nowInstant: java.time.Instant): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions._
    val clockLit = this.clockLit(spark, nowInstant) _
    val pinned = df.queryExecution.analyzed.transformAllExpressions {
      case _: CurrentTimestamp | _: Now =>
        clockLit("current_timestamp").get
      case _: CurrentDate => clockLit("current_date").get
      case _: LocalTimestamp => clockLit("localtimestamp").get
    }
    org.apache.spark.sql.graft.Bridge.ofRows(spark, pinned)
  }

  /** Shared table resolution for every statement that opens a snapshot
    * table by path (replaceWhere, INSERT, COPY INTO): snapshot head,
    * face, hive layout, merged + partition schemas — ONE definition
    * (the same drift class relDirOf/hiveLayout were extracted for).
    * `requireHive` refuses non-hive subdirectories
    * for ops that must ROUTE rows by partition values; a pure delete
    * only drops rows and reads any layout. `snapshotsHint` tailors the
    * no-manifest refusal's guidance to the statement family. */
  private[io] final case class Resolved(root: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      snap: graft.sources.FeatherSnapshots.Snapshot,
      face: ConnectorFace, partCols: Seq[String],
      absFiles: Seq[(String, Long)],
      tableSchema: StructType,
      partSchema: StructType,
      fullSchema: StructType,
      caseSensitive: Boolean,
      leafByAbs: Map[String, graft.sources.FeatherPartitions.LeafFile]) {
    def partitioned: Boolean = partCols.nonEmpty
    def valuesByAbs: Map[String, Seq[(String, String)]] =
      leafByAbs.map { case (abs, lf) => abs -> lf.values }
    def dvPathsAll: Map[String, String] =
      snap.dvs.map { case (rel, (dvRel, _)) =>
        new Path(root, rel).toString -> new Path(root, dvRel).toString }
  }

  private[io] def resolveTable(spark: SparkSession, path: String,
      op: String, requireHive: Boolean,
      snapshotsHint: String = "row-level mutation is a manifest " +
        "operation; write the table with option(\"snapshots\", " +
        "\"true\") first",
      checkEmbedded: Boolean = true): Resolved = {
    import graft.sources.{FeatherPartitions, FeatherSnapshots}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(FeatherSnapshots.enabled(fs, root),
      s"$op on $path, which has no ${FeatherSnapshots.Dir} directory — " +
        snapshotsHint)
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      sys.error(s"$op on $path: no snapshot versions"))
    val face = ConnectorFace.detect(snap.files, op, path)
    val chains = snap.files.map { case (rel, _) => relDirOf(rel) }
      .distinct.filter(_.nonEmpty)
    val (hiveChains, partCols) = FeatherPartitions.hiveLayout(chains)
    require(chains.isEmpty || hiveChains || !requireHive,
      s"$op on $path: table has non-hive subdirectories " +
        s"(${chains.mkString(", ")}) — $op routes rows by " +
        "partition values and needs a hive key=value layout")
    val partitioned = partCols.nonEmpty
    val absFiles = snap.files.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    val tableSchema = face.mergedSchema(spark, absFiles)
    val discovered =
      if (!partitioned) None
      else Some(FeatherSnapshots.toDiscovered(root, snap))
    val partSchema: StructType =
      discovered.map(_.partSchema).getOrElse(new StructType())
    val fullSchema = StructType(tableSchema.fields ++ partSchema.fields)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    // the embedded-partition-column refusal is a ROUTING contract —
    // metadata-only consumers (DESCRIBE) read such tables fine and
    // must not inherit a write-path refusal
    if (checkEmbedded)
      requireNotEmbedded(op, partCols, tableSchema, caseSensitive)
    val leafByAbs: Map[String, FeatherPartitions.LeafFile] =
      discovered.map(_.files.map(lf => lf.file -> lf).toMap)
        .getOrElse(Map.empty)
    Resolved(root, fs, snap, face, partCols, absFiles, tableSchema,
      partSchema, fullSchema, caseSensitive, leafByAbs)
  }

  /** The relative DIRECTORY of a manifest rel path ("" for a root
    * file) — ONE definition (this split existed in four private copies,
    * the same drift class hiveLayout/stampLeaves were extracted for). */
  private[io] def relDirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** One schema-only stamp per distinct leaf of `relPaths` — the
    * all-rows-deleted shape shared by every mutation path (COW delete,
    * DV delete, DV merge, conditional merge): a table whose every row
    * dropped must still read as an EMPTY frame with its schema, and a
    * hive layout must keep its key=value paths (a single root-level
    * stamp would silently drop the partition columns discovery infers).
    * Stamp names ride the run-unique `prefix`, so a racing retry can
    * never truncate a stamp an already-won commit references. Returns
    * the (rel path, len) entries for the manifest. ONE definition —
    * this loop existed in four copies before r14, the same drift class
    * hiveLayout was extracted for. */
  private[graft] def stampLeaves(face: ConnectorFace,
                              fs: org.apache.hadoop.fs.FileSystem,
                              root: Path, relPaths: Seq[String],
                              prefix: String, schema: StructType)
      : Seq[(String, Long)] =
    relPaths.map(relDirOf).distinct.map { relDir =>
      val leafDir = if (relDir.isEmpty) root else new Path(root, relDir)
      val (name, len) = face.stamp(fs, leafDir, prefix, schema)
      (if (relDir.isEmpty) name else s"$relDir/$name", len)
    }

  /** Partitioned insert routing shared by the COW and DV mutations:
    * source rows land in the leaf THEIR partition values name (the hive
    * contract: a matched key whose source row carries different
    * partition values moves partitions — delete-here + insert-there,
    * both inside the one manifest commit). The distinct partition tuples
    * of the source collect to the driver: partition-count-sized (a
    * correction batch touches few partitions), never row-count-sized.
    * Returns the (rel path, len) parts written.
    *
    * `partsFor(escapedRelDir)` sizes the write per leaf — 1 for insert
    * batches (the default; a correction batch per leaf is small), the
    * leaf's rewritten-file count for replaceWhere's survivor rewrite
    * (whose routed output carries every candidate row, not just the
    * changed ones — one part per rewritten input keeps part counts
    * stable, the same rule `mutate`'s flat rewrite applies). */
  private[graft] def routePartitionedInserts(op: String, face: ConnectorFace,
                                      fs: org.apache.hadoop.fs.FileSystem,
                                      root: Path, src0: DataFrame,
                                      partCols: Seq[String],
                                      tableSchema: StructType,
                                      prefix: String, codec: String,
                                      partsFor: String => Int = _ => 1)
      : Seq[(String, Long)] = {
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // one source scan feeds the distinct() AND every per-tuple slice —
    // an expensive upstream plan must not re-execute once per partition.
    // A frame the caller already persisted (mutateDv pins its batch) is
    // reused as-is; unpersisting it here would evict the caller's cache.
    val (src, owned) = ConnectorFace.pinIfUncached(src0)
    try {
      // Spark's Hive escaping — the SAME encoding the partitioned sink
      // writes (ParquetTable) and every reader unescapes; URLEncoder's
      // space→'+' would land key=a+b and read back the literal "a+b"
      def enc(v: String) = graft.sources.FeatherPartitions.escapePath(v)
      def leafOf(row: org.apache.spark.sql.Row): String =
        partCols.zipWithIndex.map { case (c, i) =>
          val v = row.get(i)
          if (v != null &&
              v.toString == graft.sources.FeatherPartitions.HiveNull)
            throw new IllegalArgumentException(
              s"$op: partition value for '$c' is the literal hive null " +
                s"marker '${v.toString}' — it would be unreadable as " +
                "anything but NULL; use an actual null")
          s"${enc(c)}=${if (v == null)
            graft.sources.FeatherPartitions.HiveNull else enc(v.toString)}"
        }.mkString("/")
      // deterministic leaf order keeps tuple → sub-prefix assignment
      // stable within the run; a crashed attempt's residue (run-unique
      // prefix) is vacuumOrphans work
      val tuples = src.select(partCols.map(col): _*).distinct().collect()
        .map(row => (leafOf(row), row)).sortBy(_._1)
      tuples.zipWithIndex.foreach { case ((relDir, row), idx) =>
        val leafDir = new Path(root, relDir)
        fs.mkdirs(leafDir)
        val slice = src.filter(partCols.zipWithIndex.map { case (c, i) =>
            if (row.get(i) == null) col(c).isNull
            else col(c) === lit(row.get(i))
          }.reduce(_ && _))
          .drop(partCols: _*)
          .select(tableSchema.fieldNames.map(col).toSeq: _*)
        // per-tuple sub-prefix: the pre-clean of one tuple's write must
        // never delete this run's survivor parts OR a sibling tuple's
        // fresh insert parts
        val parts = face.writeParts(
          slice.coalesce(math.max(1, partsFor(relDir))),
          leafDir.toString, f"$prefix-ins$idx%04d", codec)
        if (parts.nonEmpty)
          FeatherStats.upsertMerged(fs, leafDir,
            parts.map { case (name, len, js) =>
              name -> (len, FeatherStats.fromJson(js)) }.toMap)
        added ++= parts.map { case (name, len, _) => (s"$relDir/$name", len) }
      }
    } finally { if (owned) src.unpersist(blocking = false): Unit }
    added.toSeq
  }

  /** Failure-path unwind for parts that never published: delete the
    * files and their stats sidecars — a manifest commit that threw
    * never made them visible. */
  private[graft] def deletePartsAndSidecars(
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      rels: Seq[String]): Unit =
    rels.foreach { rel =>
      try {
        fs.delete(new Path(root, rel), false)
        fs.delete(new Path(root, rel + ".stats.json"), false)
      } catch { case _: Exception => () }
      ()
    }

  /** Unwind twin of [[routePartitionedInserts]]'s per-leaf merged-stats
    * fold (which runs BEFORE the caller's manifest commit): when that
    * commit loses its conflict check, the routed parts are deleted and
    * their cache entries must go too, or the merged file strands
    * entries for parts that never published. */
  private[graft] def unpublishLeafStats(
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      rels: Seq[String]): Unit =
    rels.groupBy(relDirOf).foreach { case (dir, names) =>
      val leaf = if (dir.isEmpty) root else new Path(root, dir)
      val base = names.map(n => n.substring(n.lastIndexOf('/') + 1)).toSet
      try FeatherStats.upsertMerged(fs, leaf, Map.empty, remove = base)
      catch { case _: Exception => () }
    }

  /** Write the DV sidecars and compute the manifest actions for one
    * commit: fresh positions union into any existing binding (a fresh
    * sidecar per commit — the old one expires with its version); a DV
    * that would cover EVERY row of its file drops the file from the
    * manifest instead (stats-proven row counts only — no sidecar, no
    * shortcut): readers then skip the file entirely rather than decode
    * batches to discard every row. The file itself stays on disk for
    * time travel until expire(). Returns (bindings to set, rel paths to
    * drop). */
  private[graft] def bindDvs(fs: org.apache.hadoop.fs.FileSystem,
                      conf: org.apache.hadoop.conf.Configuration,
                      root: Path, snap: FeatherSnapshots.Snapshot,
                      targetV: Long, newByFile: Map[Int, Array[Long]],
                      fileRowCount: Int => Option[Long])
      : (Map[String, (String, Long)], Set[String]) = {
    val perFile: Map[Int, (String, Array[Long])] = newByFile.map {
      case (fid, fresh) =>
        val rel = snap.files(fid)._1
        val existing = snap.dvs.get(rel).map { case (dvRel, _) =>
          DeletionVectors.read(conf, new Path(root, dvRel).toString) }
        // union's contract is sorted inputs — the driver-collected
        // positions arrive in arbitrary order
        val sortedFresh = fresh.distinct.sorted
        fid -> (rel, existing.map(DeletionVectors.union(_, sortedFresh))
          .getOrElse(sortedFresh))
    }
    val (dropped, bound) = perFile.partition { case (fid, (_, all)) =>
      fileRowCount(fid).contains(all.length.toLong)
    }
    val newBindings: Map[String, (String, Long)] = bound.map {
      case (_, (rel, all)) =>
        val i = rel.lastIndexOf('/')
        val (relDir, name) =
          if (i < 0) ("", rel) else (rel.substring(0, i), rel.substring(i + 1))
        val leafDir = if (relDir.isEmpty) root else new Path(root, relDir)
        val dvFile = DeletionVectors.dvName(targetV, name)
        DeletionVectors.write(fs, leafDir, dvFile, all)
        rel -> ((if (relDir.isEmpty) dvFile else s"$relDir/$dvFile"),
          all.length.toLong)
    }
    (newBindings, dropped.values.map(_._1).toSet)
  }

  private sealed trait KeyRange
  private case object Unknown extends KeyRange // no/partial stats: must touch
  private case object NoRows extends KeyRange  // zero non-null keys: skip
  private final case class Rng(lo: Any, hi: Any) extends KeyRange

  /** Exact row count from per-batch stats — defined only when EVERY
    * batch carries a count (a partial answer could prove the wrong
    * thing). Shared by the DV full-coverage check and the COW no-op
    * delete proof. */
  private[graft] def exactRows(batches: Seq[Map[String, FeatherStats.ColStat]])
      : Option[Long] = {
    val counts = batches.map(_.get(FeatherStats.RowCountKey) match {
      case Some(FeatherStats.ColStat.Count(n)) => Some(n)
      case _ => None
    })
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** The file-pruning PROBE shared by the copy-on-write mutations and the
    * deletion-vector delete: which files (by index into `absFiles`) could
    * contain a key from `keysDf`? Stats ranges (sorted-boundary binary
    * search on disjoint layouts, interval-stab on overlapping ones) and
    * Bloom sidecars fold into one distributed pass; a file without usable
    * stats is touched unconditionally — pruning is an optimization, never
    * a correctness input. Mutation keys never collect to the driver.
    *
    * Returns (touched file indices, the stats it loaded) — callers that
    * need sidecar stats afterwards (the DV delete's full-coverage check)
    * reuse them instead of paying a second per-leaf sidecar read. */
  private[io] def probeTouched(spark: SparkSession, op: String,
                           absFiles: Seq[(String, Long)],
                           tableSchema: StructType,
                           keysDf: DataFrame,
                           keyCols: Seq[String])
      : (Set[Int],
         Map[String, Option[Seq[Map[String, FeatherStats.ColStat]]]]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = FeatherStats.loadForFiles(conf, absFiles)
    val k0 = keyCols.head
    val ranges: Seq[KeyRange] = absFiles.map { case (abs, _) =>
      stats.getOrElse(abs, None) match {
        case None => Unknown
        case Some(batches) =>
          val sts = batches.map(_.get(k0))
          if (sts.exists(_.isEmpty)) Unknown // a batch without k0 stats
          else {
            val live = sts.flatten.filter(_ != FeatherStats.ColStat.Empty)
            if (live.isEmpty) NoRows
            else {
              import FeatherStats.ColStat._
              if (live.forall(_.isInstanceOf[Longs]))
                Rng(live.map(_.asInstanceOf[Longs].lo).min,
                    live.map(_.asInstanceOf[Longs].hi).max)
              else if (live.forall(_.isInstanceOf[Doubles]))
                Rng(live.map(_.asInstanceOf[Doubles].lo).min,
                    live.map(_.asInstanceOf[Doubles].hi).max)
              else if (live.forall(_.isInstanceOf[Strings])) {
                // UTF-8 byte order, matching BoundBucket / Spark string
                // comparisons (Java's UTF-16 min/max would disagree
                // beyond the BMP and mis-sort the probe bounds)
                val ord = Ordering.fromLessThan[String](FeatherStats.utf8Lt)
                Rng(live.map(_.asInstanceOf[Strings].lo).min(ord),
                    live.map(_.asInstanceOf[Strings].hi).max(ord))
              } else Unknown
            }
          }
      }
    }

    // pruning family: both sides must map to the SAME stats family, else
    // a cast could silently move a key across a file boundary (e.g. a
    // double key overflowing a long cast) — when in doubt, touch.
    def integral(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true; case _ => false
    }
    def fractional(dt: DataType) = dt match {
      case FloatType | DoubleType => true; case _ => false
    }
    val family: Option[DataType] =
      (tableSchema(k0).dataType, keysDf.schema(k0).dataType) match {
        case (a, b) if integral(a) && integral(b) => Some(LongType)
        case (a, b) if fractional(a) && fractional(b) => Some(DoubleType)
        case (StringType, StringType) => Some(StringType)
        // dates probe in the LongType family: the stats tier records
        // them as epoch-day longs (FeatherStats.dateToDay), and the key
        // scan maps through unix_date to the same axis
        case (DateType, DateType) => Some(LongType)
        case _ => None
      }
    val dateKey = tableSchema(k0).dataType == DateType
    def keyAsFamily(dt: DataType): org.apache.spark.sql.Column =
      if (dateKey) unix_date(col(k0)).cast(LongType) else col(k0).cast(dt)

    val rangedIdx = ranges.zipWithIndex.collect { case (r: Rng, i) => (r, i) }
    val candidateIdx: Set[Int] = family match {
      case Some(dt) if rangedIdx.nonEmpty =>
        // stats whose value family disagrees with the chosen probe family
        // (foreign sidecars) can't be compared — touch them unconditionally
        def familyOk(v: Any): Boolean = (dt, v) match {
          case (LongType, _: Long) | (DoubleType, _: Double)
             | (StringType, _: String) => true
          case _ => false
        }
        val (typed, alien) = rangedIdx.partition { case (r, _) =>
          familyOk(r.lo) && familyOk(r.hi) }
        def lt(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Long, y: Long) => x < y
          case (x: Double, y: Double) => x < y
          // UTF-8 byte order: the sort/disjoint check must agree with the
          // ordering BoundBucket's binary search (UTF8String.compareTo)
          // applies, or a probe key could binary-search past its file
          case (x: String, y: String) => FeatherStats.utf8Lt(x, y)
          case _ => false
        }
        val sorted = typed.sortWith { case ((a, _), (b, _)) => lt(a.lo, b.lo) }
        val disjoint = sorted.size <= 1 ||
          sorted.iterator.sliding(2).forall(p => lt(p.head._1.hi, p(1)._1.lo))
        // Any -> expression-value / typed-literal-array converters shared
        // by BOTH probe shapes (a per-branch copy per key family would
        // silently drift when a family is added)
        def exprVal(v: Any): Any = v match {
          case s: String =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case other => other
        }
        def typedArrayCol(vs: Seq[Any]) = dt match {
          case LongType => lit(vs.map(_.asInstanceOf[Long]).toArray)
          case DoubleType => lit(vs.map(_.asInstanceOf[Double]).toArray)
          case _ => lit(vs.map(_.asInstanceOf[String]).toArray)
        }
        // one probe pass: (key, candidate fid) pairs through the range
        // structure, optionally filtered by per-file Bloom sidecars
        def probeOnce(blooms: Option[Array[Any]]): Set[Int] =
          if (typed.isEmpty) Set.empty
          else if (disjoint) {
            // sorted-boundary fast path (the invariant FeatherCluster
            // establishes): per key ONE O(log files) binary search fused
            // into the key scan — no join, no broadcast build
            import org.apache.spark.sql.graft.Bridge
            val los: Array[Any] = sorted.map(r => exprVal(r._1.lo)).toArray
            val his = sorted.map(_._1.hi)
            val fids = sorted.map(_._2)
            val keyed = keysDf.select(keyAsFamily(dt).as("__k"))
              .where(col("__k").isNotNull).distinct()
              .select(col("__k"), Bridge.column(graft.expressions.BoundBucket(
                los, Bridge.expression(col("__k")))).as("__b"))
              .where(col("__b") >= 0)
            val hit = keyed
              .where(element_at(typedArrayCol(his), col("__b") + 1) >= col("__k"))
              .select(element_at(lit(fids.toArray), col("__b") + 1).as("__fid"),
                col("__k"))
            blooms.map(arr => hit.where(Bridge.column(
                graft.expressions.BloomHit(arr,
                  Bridge.expression(col("__fid")),
                  Bridge.expression(col("__k"))))))
              .getOrElse(hit)
              .select("__fid").distinct().collect().map(_.getInt(0)).toSet
          } else {
            // overlapping ranges (multiple unclustered generations):
            // interval-STAB probe. Elementary segments between the sorted
            // distinct endpoints; segment i's candidates are exactly the
            // intervals CONTAINING its start breakpoint (no endpoint lies
            // strictly inside a segment, so an interval intersecting a
            // segment must contain its start). Per key: ONE O(log files)
            // binary search fused into the key scan (BoundBucket), an
            // explode of the segment's candidate list, and an exact
            // bounds re-check — O(keys · (log files + overlap depth))
            // instead of the old DISTINCT-keys × broadcast-ranges
            // BroadcastNestedLoopJoin's O(keys × files) comparisons.
            // Driver build is a single sweep over 2·files endpoint
            // events; the flattened segment→candidate table is files ×
            // overlap depth, and a pathological layout that blows the cap
            // falls back to the broadcast non-equi join instead of
            // OOMing the driver.
            import org.apache.spark.sql.graft.Bridge
            val anyOrd = Ordering.fromLessThan[Any](lt)
            val los = typed.map(_._1.lo)
            val his = typed.map(_._1.hi)
            val breakpoints = (los ++ his).distinct.sorted(anyOrd).toIndexedSeq
            val startsAt: Map[Any, Seq[Int]] = typed.indices.groupBy(los)
            val pq = scala.collection.mutable.PriorityQueue.empty[Int](
              Ordering.by[Int, Any](his)(anyOrd).reverse) // min-heap by hi
            val coverSegs = new Array[Array[Int]](breakpoints.size)
            var total = 0L
            var capped = false
            var i = 0
            while (i < breakpoints.size && !capped) {
              val b = breakpoints(i)
              startsAt.getOrElse(b, Nil).foreach(pq.enqueue(_))
              while (pq.nonEmpty && lt(his(pq.head), b)) { pq.dequeue(): Unit }
              coverSegs(i) = pq.toArray
              total += coverSegs(i).length
              if (total > 4000000L) capped = true
              i += 1
            }
            if (capped) {
              // overlap depth × breakpoints too large to materialize:
              // broadcast non-equi fallback (correct, O(keys×files))
              val schema = StructType(Seq(
                StructField("__fid", IntegerType, nullable = false),
                StructField("__lo", dt, nullable = false),
                StructField("__hi", dt, nullable = false)))
              val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
              typed.foreach { case (Rng(lo, hi), fi) =>
                rows.add(org.apache.spark.sql.Row(fi, lo, hi)) }
              val rangesDf = spark.createDataFrame(rows, schema)
              val hit = keysDf.select(keyAsFamily(dt).as("__k"))
                .where(col("__k").isNotNull).distinct()
                .join(broadcast(rangesDf),
                  col("__k") >= col("__lo") && col("__k") <= col("__hi"))
              blooms.map(arr => hit.where(Bridge.column(
                  graft.expressions.BloomHit(arr,
                    Bridge.expression(col("__fid")),
                    Bridge.expression(col("__k"))))))
                .getOrElse(hit)
                .select("__fid").distinct()
                .collect().map(_.getInt(0)).toSet
            } else {
              val segStarts: Array[Any] = breakpoints.map(exprVal).toArray
              val coverLit = typedlit(coverSegs.map(_.toSeq).toSeq)
              val hit = keysDf.select(keyAsFamily(dt).as("__k"))
                .where(col("__k").isNotNull).distinct()
                .select(col("__k"), Bridge.column(graft.expressions.BoundBucket(
                  segStarts, Bridge.expression(col("__k")))).as("__s"))
                .where(col("__s") >= 0) // below the smallest lo: no file
                .select(col("__k"),
                  explode(element_at(coverLit, col("__s") + 1)).as("__j"))
                .where(element_at(typedArrayCol(los), col("__j") + 1) <= col("__k") &&
                  col("__k") <= element_at(typedArrayCol(his), col("__j") + 1))
                .select(element_at(lit(typed.map(_._2).toArray),
                  col("__j") + 1).as("__fid"), col("__k"))
              blooms.map(arr => hit.where(Bridge.column(
                  graft.expressions.BloomHit(arr,
                    Bridge.expression(col("__fid")),
                    Bridge.expression(col("__k"))))))
                .getOrElse(hit)
                .select("__fid").distinct()
                .collect().map(_.getInt(0)).toSet
            }
          }
        // Bloom sidecars (FeatherBloom.build) fold into the SAME probe
        // pass: a range-candidate file whose bloom excludes the key drops
        // out inside the codegen filter — the refinement that saves a
        // SCATTERED key list (takedown ids span the whole table; ranges
        // alone prune nothing). Loading is one existence check + read per
        // ranged file, the same O(files) driver bound the stats load paid.
        val blooms: Option[Array[Any]] =
          if ((dt != LongType && dt != StringType) || dateKey) None
          else {
            val loaded = typed.flatMap { case (_, i) =>
              FeatherBloom.load(conf, absFiles(i)._1, absFiles(i)._2, k0)
                .map(i -> _) }
            if (loaded.isEmpty) None
            else {
              val arr = Array.fill[Any](absFiles.length)(null)
              loaded.foreach { case (i, b) => arr(i) = b }
              Some(arr)
            }
          }
        probeOnce(blooms) ++ alien.map(_._2)
      case _ => rangedIdx.map(_._2).toSet // no comparable family: touch all
    }
    val touchedIdx: Set[Int] = ranges.zipWithIndex.collect {
      case (Unknown, i) => i
      case (_: Rng, i) if candidateIdx(i) => i
    }.toSet
    (touchedIdx, stats)
  }

  private def mutate(spark: SparkSession, path: String, op: String,
                     keysDf: DataFrame, keyCols: Seq[String],
                     appendSource: Option[DataFrame], codec: String,
                     evolveSchema: Boolean = false): Result = {
    require(keyCols.nonEmpty, s"$op: keyCols must be non-empty")
    keyCols.foreach(k => require(keysDf.columns.contains(k),
      s"$op: key column '$k' not in keys frame (${keysDf.columns.mkString(", ")})"))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(FeatherSnapshots.enabled(fs, root),
      s"$op on $path, which has no ${FeatherSnapshots.Dir} directory — " +
        "row-level mutation is a manifest operation; write the table with " +
        "option(\"snapshots\", \"true\") first")
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      sys.error(s"$op on $path: snapshot directory exists but holds no versions"))
    val face = ConnectorFace.detect(snap.files, op, path)
    val parentV = snap.version
    // RUN-UNIQUE prefix: the pre-clean in writeParts removes only THIS
    // run's residue (a crash-retry of the same logical mutation gets a
    // new tag, so the crashed attempt's parts become vacuumOrphans
    // work — age-gated, in-flight-guarded). A parent-version-only
    // prefix would let two mutators racing the same parent pre-clean
    // each other's uncommitted parts: the loser aborts at commit, but
    // the WINNER could publish a manifest referencing files the loser
    // already deleted.
    val prefix = FeatherSnapshots.runPrefix(parentV + 1)

    val byLeaf: Seq[(String, Seq[(String, Long)])] =
      snap.files.groupBy { case (rel, _) => relDirOf(rel) }.toSeq.sortBy(_._1)
    // hive partition columns from the leaf chains (the manifest layout
    // guard keeps them uniform); a partitioned merge/cdc ROUTES inserts
    // to their partition leaf and must carry the partition columns. A
    // nested NON-hive layout (adopted `batch1/`, `batch2/` directories —
    // segments without `=`) is not partitioned: delete rewrites its
    // leaves generically, but merge has nowhere to route inserts and
    // must refuse rather than silently drop them.
    val chains: Seq[String] = byLeaf.map(_._1).filter(_.nonEmpty)
    val (hiveChains, partCols) =
      graft.sources.FeatherPartitions.hiveLayout(chains)
    if (appendSource.isDefined && chains.nonEmpty && !hiveChains)
      throw new IllegalArgumentException(
        s"$op on $path: table has non-hive subdirectories " +
          s"(${chains.mkString(", ")}) — $op routes inserts by partition " +
          "values and needs a hive key=value layout (deleteByKey supports " +
          "any layout)")
    val partitioned = partCols.nonEmpty

    // table schema = the UNION of every live footer/header (a mutated
    // table may carry evolved generations; projecting to the first file
    // would silently drop evolved columns from the rewritten survivors) —
    // validates keys before any work
    val tableSchema0 = face.mergedSchema(spark,
      snap.files.map { case (rel, len) => (new Path(root, rel).toString, len) })
    // schema evolution on write (opt-in): the source's NEW columns join
    // the table schema as nullable — survivors and untouched generations
    // read them as null through mergeSchema, exactly the read-side
    // evolution contract. Without the flag, an unexpected column stays
    // the loud mistake it usually is.
    val tableSchema =
      if (!evolveSchema) tableSchema0
      else appendSource match {
        case Some(src) =>
          val known = tableSchema0.fieldNames.toSet ++ partCols
          val extra = src.schema.fields.filterNot(f => known(f.name))
            .map(f => StructField(f.name, f.dataType, nullable = true))
          StructType(tableSchema0.fields ++ extra)
        case None => tableSchema0
      }
    // keys validate against the PRE-evolution schema: a key naming a
    // column that exists only in the evolving SOURCE (a typo for a real
    // key) would otherwise pass and silently rewrite the whole table as
    // an expensive no-match append
    keyCols.foreach(k => require(tableSchema0.fieldNames.contains(k),
      if (partCols.contains(k))
        s"$op: key column '$k' is a partition column — partition values " +
          "live in the directory chain, not the data files; key on data " +
          "columns (the source's partition values route the rows)"
      else s"$op: key column '$k' not in table schema " +
        s"(${tableSchema.fieldNames.mkString(", ")})"))
    appendSource.foreach { src =>
      requireNotEmbedded(op, partCols, tableSchema,
        spark.conf.get("spark.sql.caseSensitive", "false").toBoolean)
      val expected = (tableSchema.fieldNames ++ partCols).sorted
      require(src.columns.sorted.sameElements(expected),
        s"$op: source columns (${src.columns.sorted.mkString(", ")}) must " +
          s"be exactly the table's data columns" +
          (if (partitioned) s" plus its partition columns" else "") +
          s" (${expected.mkString(", ")})")
      // names alone would let a type-mismatched source commit parts whose
      // footer types disagree with the table — corruption that surfaces
      // only on a later read. Compare types, nullability-insensitive.
      tableSchema.fields.foreach { tf =>
        val st = src.schema(tf.name).dataType
        require(st == tf.dataType,
          s"$op: source column '${tf.name}' is ${st.catalogString} but the " +
            s"table carries ${tf.dataType.catalogString} — cast the source " +
            "before merging")
      }
    }

    // ---- prune: which files could contain a mutation key? ------------------
    val absFiles = snap.files.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    val (touchedIdx, probeStatsCow) =
      probeTouched(spark, op, absFiles, tableSchema0, keysDf, keyCols)
    val touchedRel: Set[String] =
      touchedIdx.map(i => snap.files(i)._1)

    // ---- rewrite touched leaves --------------------------------------------
    val keysProj = keysDf.select(keyCols.map(col): _*)
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // (leafDir, part name, exact rows) per rewritten part — feeds the
    // no-op delete proof below
    val writtenMeta = scala.collection.mutable.ArrayBuffer
      .empty[(Path, String, Option[Long])]
    var partsWritten = 0
    byLeaf.foreach { case (relDir, leafFiles) =>
      val touchedLeaf = leafFiles.filter { case (rel, _) => touchedRel(rel) }
      if (touchedLeaf.nonEmpty ||
          (appendSource.isDefined && !partitioned && relDir.isEmpty)) {
        val leafDir = if (relDir.isEmpty) root else new Path(root, relDir)
        val survivors: Option[DataFrame] =
          if (touchedLeaf.isEmpty) None
          else {
            // deletion vectors on touched files apply INSIDE the read: a
            // plain merged read would resurrect rows a DV delete already
            // dropped — the rewrite folds the DV away (the new parts have
            // no binding)
            val dvPaths = touchedLeaf.flatMap { case (rel, _) =>
              snap.dvs.get(rel).map { case (dvRel, _) =>
                new Path(root, rel).toString ->
                  new Path(root, dvRel).toString }
            }.toMap
            val sv0 = face.readMergedDv(spark,
              touchedLeaf.map { case (rel, len) =>
                (new Path(root, rel).toString, len) }, dvPaths)
            // project to the FULL table schema (mergeSchema above unions
            // only the TOUCHED footers): when every touched file predates
            // an evolved column, sv would lack it and a legitimate
            // merge/cdc would die in unionByName — null-fill instead,
            // exactly what a merged read of those files yields
            Some(ConnectorFace.align(sv0, tableSchema)
              .join(keysProj, keyCols, "left_anti"))
          }
        // partitioned: survivors only here (inserts route per-partition
        // below — a source row must land in ITS leaf, not this one)
        val srcHere = if (partitioned) None else appendSource
        val outDf = (survivors, srcHere) match {
          case (Some(sv), Some(src)) => sv.unionByName(src)
          case (Some(sv), None) => sv
          case (None, Some(src)) => src
          case (None, None) => sys.error("unreachable: untouched leaf")
        }
        // one output part per touched input (or per source partition for a
        // pure insert) — keeps part counts stable across mutations instead
        // of inheriting spark.sql.shuffle.partitions tiny parts; compaction
        // owns long-run part hygiene either way
        val targetParts = math.max(1, math.max(touchedLeaf.size,
          srcHere.map(_.rdd.getNumPartitions).getOrElse(0)))
        val parts = face.writeParts(
          outDf.coalesce(targetParts), leafDir.toString, prefix, codec)
        if (parts.nonEmpty)
          FeatherStats.upsertMerged(fs, leafDir,
            parts.map { case (name, len, js) =>
              name -> (len, FeatherStats.fromJson(js)) }.toMap)
        added ++= parts.map { case (name, len, _) =>
          (if (relDir.isEmpty) name else s"$relDir/$name", len) }
        writtenMeta ++= parts.map { case (name, _, js) =>
          (leafDir, name, exactRows(FeatherStats.fromJson(js))) }
        partsWritten += parts.size
      }
    }

    // ---- partitioned insert routing ----------------------------------------
    if (partitioned && appendSource.isDefined) {
      val routed = routePartitionedInserts(op, face, fs, root,
        appendSource.get, partCols, tableSchema, prefix, codec)
      added ++= routed
      partsWritten += routed.size
    }

    // a table whose every row was deleted must still read as an EMPTY
    // frame with its schema — stamp one schema-only part PER LEAF, so a
    // hive layout keeps its key=value paths (and with them the partition
    // columns discovery infers; a single root-level stamp would silently
    // drop them from the table's schema)
    if (added.isEmpty && snap.files.forall { case (rel, _) => touchedRel(rel) })
      added ++= stampLeaves(face, fs, root, snap.files.map(_._1), prefix,
        tableSchema)

    // ---- one atomic manifest publish ---------------------------------------
    // a DELETE that touched no file publishes no commit (same reasoning
    // as the DV path: an empty op="delete" version aborts live snapshot
    // streams for nothing); merge/cdc always commit — even an insert-only
    // batch writes parts, and a truly empty source is a legitimate
    // idempotent version
    if (op == "delete" && touchedRel.isEmpty && added.isEmpty)
      return Result(snap.version, 0, snap.files.size, 0)
    // ... and a DELETE whose candidates were rewritten ROW-EQUIVALENTLY
    // (a retried takedown whose keys fall inside surviving ranges, so
    // stats/bloom pruning cannot clear them) must be a true no-op too:
    // prove it by exact counts — old effective rows (stats minus DV
    // cardinality) vs rewritten rows — and WITHDRAW the rewrite instead
    // of publishing an empty op="delete" version. Unknown counts fall
    // back to committing (pruning stats are optional; the proof is not
    // allowed to guess).
    if (op == "delete" && appendSource.isEmpty && touchedRel.nonEmpty) {
      val oldRows: Option[Long] = {
        val per = touchedIdx.toSeq.map { i =>
          val rel = snap.files(i)._1
          // the manifest binding carries the DV's cardinality exactly so
          // accounting like this never opens the sidecar
          val dvRows = snap.dvs.get(rel).map(_._2).getOrElse(0L)
          probeStatsCow.getOrElse(absFiles(i)._1, None).flatMap(exactRows)
            .map(_ - dvRows)
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
      }
      val newRows: Option[Long] =
        if (writtenMeta.exists(_._3.isEmpty)) None
        else Some(writtenMeta.flatMap(_._3).sum)
      if (oldRows.isDefined && oldRows == newRows) {
        writtenMeta.groupBy(_._1).foreach { case (leafDir, ps) =>
          FeatherStats.upsertMerged(fs, leafDir, Map.empty,
            ps.map(_._2).toSet)
        }
        added.foreach { case (rel, _) =>
          fs.delete(new Path(root, rel), false): Unit
          // the writer's per-part stats sidecar rides along
          fs.delete(new Path(root, s"$rel.stats.json"), false): Unit
        }
        return Result(snap.version, 0, snap.files.size, 0)
      }
    }
    // conflict matrix (FeatherSnapshots.commitMutation): concurrent blind
    // appends commute — their files carry through; a concurrent mutation/
    // overwrite/restore touching any key-probed candidate aborts loudly,
    // while one disjoint from them commits beside this run (readRel)
    val committed = FeatherSnapshots.commitMutation(fs, root, op, snap,
      touchedRel, added.toSeq, readRel = Some(touchedRel))
    Result(committed, touchedIdx.size, snap.files.size - touchedIdx.size,
      partsWritten)
  }
}
