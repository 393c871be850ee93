package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Format-agnostic engine behind [[FeatherCompact]] and [[AvroCompact]]:
  * leaf discovery, greedy grouping, the distributed rewrite fan-out, and
  * the crash-safe manifest swap are identical across formats — only "read
  * every row of these inputs into one output part" differs, which is the
  * [[Compaction.Rewriter]] a format supplies.
  *
  * See [[FeatherCompact]] for the full design rationale (scale properties,
  * crash-safety protocol, and the streaming-consumer caveat).
  */
private[graft] object Compaction {

  case class Result(leaves: Int, groupsRewritten: Int,
                    filesBefore: Int, filesAfter: Int)

  /** Face-dispatched compaction — ONE definition behind the Scala API
    * and the `CALL <catalog>.system.compact` procedure: the face detects
    * from the
    * manifest's suffixes, mixed-suffix manifests fail loudly instead of
    * silently routing to the wrong compactor. */
  def compactAny(spark: SparkSession, path: String,
                 targetBytes: Long): Result = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = graft.sources.FeatherSnapshots.resolve(fs, root, None)
      .getOrElse(sys.error(s"compact on $path: no snapshot versions"))
    ConnectorFace.detect(snap.files, "compact", path).suffix match {
      case ".avro" => AvroCompact.compact(spark, path, targetBytes)
      case ".parquet" => ParquetCompact.compact(spark, path, targetBytes)
      case _ => FeatherCompact.compact(spark, path, targetBytes)
    }
  }

  /** Executor-side group rewrite. Implementations stream rows from every
    * input into ONE part file at `tmp` and return the sidecar JSON to
    * commit beside the final part, if the format carries one. */
  trait Rewriter extends Serializable {
    def rewriteGroup(execConf: org.apache.hadoop.conf.Configuration,
                     inputs: Seq[(String, Long)], tmp: Path): Option[String]
  }

  private case class Group(leaf: String, gid: Int, suffix: String,
                           inputs: Seq[(String, Long)], tag: String = "") {
    // directory mode (empty tag): deterministic output name — re-planning
    // the same inputs reproduces it, so a crashed run's recovery through
    // the _compact manifest and the re-run converge. Snapshot mode: the
    // run-unique `mut-v…` tag prefixes it — concurrent compactors race to
    // the COMMIT (conflict matrix), so neither may ever touch a name the
    // other might have already published; a crashed run's orphan is
    // unreferenced and vacuumOrphans reclaims it (in-flight guard covers
    // the `mut-v` prefix, then the grace window)
    def outName: String = {
      val h = inputs.map(_._1).hashCode() & 0x7fffffff
      f"${tag}compact-$gid%05d-$h%08x$suffix"
    }
  }

  /** `mkRewriter(leafDir, firstFile)` runs on the driver once per leaf —
    * the place to fix the schema for the leaf's lifetime. */
  def run(spark: SparkSession, path: String, suffix: String,
          targetBytes: Long,
          mkRewriter: (String, String) => Rewriter): Result = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"Compaction: $path does not exist")
    // a snapshotted table's retained versions still reference the input
    // parts — its compaction is a MANIFEST operation: rewrite groups, add
    // the outputs, publish one "compact" snapshot that drops the inputs
    // from view, and leave physical deletion to expire()
    if (fs.exists(new Path(root,
        graft.sources.FeatherSnapshots.Dir)))
      return runSnapshot(spark, root, fs, suffix, targetBytes, mkRewriter)

    // leaves = every directory directly holding data parts (the bare dir,
    // or hive key=value leaves); service dirs (_compact, _temporary) skip
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(dir: Path): Unit = {
      val entries = fs.listStatus(dir)
      if (entries.exists(e => !e.isDirectory &&
          e.getPath.getName.endsWith(suffix) &&
          !e.getPath.getName.startsWith(".")))
        leaves += dir
      entries.filter(e => e.isDirectory && !e.getPath.getName.startsWith("_"))
        .foreach(e => walk(e.getPath))
    }
    walk(root)

    var groupsRewritten = 0
    var filesBefore = 0
    var filesAfter = 0
    leaves.foreach { leaf =>
      recover(fs, leaf)
      // ONE listing serves both the tmp vacuum and the grouping — at 10⁵
      // files an extra per-file getFileStatus round-trip is the planning
      // stall this job exists to remove, not to add
      val listing = fs.listStatus(leaf).filter(!_.isDirectory)
      // vacuum stale hidden tmps: a killed writer task leaves
      // `.part-…​.tmp` (sink) / `.compact-…​.tmp` (a crashed run that never
      // wrote its manifest) behind, and nothing else ever retires them.
      // Safe under this job's contract — no concurrent writer owns the
      // leaf while compaction runs; committed parts are never hidden.
      listing.iterator
        .filter(e => e.getPath.getName.startsWith(".") &&
          e.getPath.getName.endsWith(".tmp"))
        .foreach(e => fs.delete(e.getPath, false))
      val files = listing.iterator
        .filter { e =>
          val n = e.getPath.getName
          n.endsWith(suffix) && !n.startsWith(".")
        }
        .map(e => (e.getPath.toString, e.getLen))
        .toSeq.sortBy(_._1)
      filesBefore += files.size

      val groups = planGroups(leaf.toString, files, suffix, targetBytes)

      if (groups.nonEmpty) {
        val rewriter = mkRewriter(leaf.toString, groups.head.inputs.head._1)
        val confMap = GraftHadoop.confBroadcast(spark)
        // one task per group; tasks write HIDDEN tmps and return sidecar
        // payloads — the driver owns the commit protocol
        val written = spark.sparkContext
          .parallelize(groups.toSeq, groups.size)
          .map { g =>
            val execConf = new org.apache.hadoop.conf.Configuration(false)
            confMap.value.foreach { case (k, v) => execConf.set(k, v) }
            val tmp = new Path(g.leaf, s".${g.outName}.tmp")
            try (g.gid, rewriter.rewriteGroup(execConf, g.inputs, tmp))
            catch {
              case e: Throwable =>
                val lfs = new Path(g.leaf).getFileSystem(execConf)
                try lfs.delete(tmp, false) catch { case _: Exception => () }
                throw e
            }
          }.collect().toMap

        groups.foreach { g =>
          val lfs = new Path(g.leaf).getFileSystem(conf)
          val out = new Path(g.leaf, g.outName)
          val tmp = new Path(g.leaf, s".${g.outName}.tmp")
          // 1. manifest first (atomic): from here a crash is recoverable
          writeManifest(lfs, new Path(g.leaf), g)
          // 2. sidecar BEFORE the output rename: a sidecar with no part is
          // inert (readers look sidecars up per part), but a committed
          // part that lost its sidecar to a crash would silently never
          // batch-prune again; recovery's no-output branch deletes it
          written(g.gid).foreach { sidecar =>
            val sc = lfs.create(new Path(g.leaf, g.outName + ".stats.json"), true)
            try sc.write(sidecar.getBytes("UTF-8"))
            finally sc.close()
          }
          // 3. output becomes visible (complete file, atomic rename)
          require(lfs.rename(tmp, out), s"rename $tmp -> $out failed")
          // 4. inputs retire; 5. manifest retires
          g.inputs.foreach { case (f, _) =>
            lfs.delete(new Path(f), false)
            lfs.delete(new Path(f + ".stats.json"), false)
            lfs.delete(new Path(f + ".bloom"), false)
          }
          lfs.delete(manifestPath(new Path(g.leaf), g.outName), false)
          groupsRewritten += 1
        }
        // merged-stats cache maintenance: retire the compacted-away names,
        // add the new parts (when the format carries sidecars). Only when
        // the leaf already holds a merged file — it is a CACHE; a crash
        // between the group commits and here leaves stale entries that no
        // longer match any name/length and are simply ignored on read.
        val lfs = new Path(leaf.toString).getFileSystem(conf)
        if (lfs.exists(new Path(leaf, FeatherStats.MergedName))) {
          val retired = groups.flatMap(_.inputs.map {
            case (f, _) => new Path(f).getName }).toSet
          val added = groups.flatMap { g =>
            written(g.gid).map { sidecar =>
              g.outName -> (lfs.getFileStatus(new Path(g.leaf, g.outName)).getLen,
                FeatherStats.fromJson(sidecar))
            }
          }.toMap
          FeatherStats.upsertMerged(lfs, leaf, added, retired)
        }
      }
      filesAfter += fs.listStatus(leaf).count(e => !e.isDirectory &&
        e.getPath.getName.endsWith(suffix) && !e.getPath.getName.startsWith("."))
    }
    Result(leaves.size, groupsRewritten, filesBefore, filesAfter)
  }

  /** Greedy first-fit in name order; a group of ONE is left untouched,
    * so a re-run over a compacted directory rewrites nothing. */
  private def planGroups(leaf: String, files: Seq[(String, Long)],
                         suffix: String, targetBytes: Long,
                         tag: String = ""): Seq[Group] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var accBytes = 0L
    def close(): Unit = {
      if (acc.size > 1)
        groups += Group(leaf, groups.size, suffix, acc.toSeq, tag)
      acc.clear(); accBytes = 0L
    }
    files.foreach { case (f, len) =>
      if (acc.nonEmpty && accBytes + len > targetBytes) close()
      acc += ((f, len)); accBytes += len
      if (accBytes >= targetBytes) close()
    }
    close()
    groups.toSeq
  }

  /** Snapshotted-table compaction: inputs come from the LATEST manifest
    * (never the listing — orphans and retired generations are not
    * compaction's business), outputs land beside them, and ONE "compact"
    * snapshot atomically swaps the group inputs for their outputs. Nothing
    * is physically deleted: retained versions keep reading their files and
    * expire() reclaims them later. Crash safety needs no _compact manifest
    * here — outputs carry a run-unique `mut-v…` name (the commit is the
    * atomic publish), so an output that never made its commit is an
    * unreferenced orphan that vacuumOrphans reclaims; a rival compactor
    * racing to the same commit (conflict matrix) can never collide with —
    * let alone pre-delete — a name another run may have published. */
  private def runSnapshot(spark: SparkSession, root: Path,
                          fs: org.apache.hadoop.fs.FileSystem, suffix: String,
                          targetBytes: Long,
                          mkRewriter: (String, String) => Rewriter): Result = {
    import graft.sources.FeatherSnapshots
    val snap = FeatherSnapshots.resolve(fs, root, None) match {
      case Some(sn) => sn
      case None => return Result(0, 0, 0, 0)
    }
    val byLeaf: Seq[(String, Seq[(String, Long)])] = snap.files
      .groupBy { case (rel, _) =>
        val i = rel.lastIndexOf('/')
        if (i < 0) "" else rel.substring(0, i)
      }.toSeq.sortBy(_._1)
    var groupsRewritten = 0
    val removedRel = scala.collection.mutable.ArrayBuffer.empty[String]
    val addedRel = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // deletion-vector FOLD: a DV-bound file cannot ride the binary
    // batch-copy rewriter (it would resurrect the deleted rows) — each
    // one decode-rewrites 1:1 through the face reader with its DV
    // applied, joining the same commit. This is where a DV delete
    // becomes physical-erasure-eligible: the new part has no binding,
    // and expire() reclaims the old bytes.
    val dvFold = snap.dvs.keySet
    if (dvFold.nonEmpty) {
      val face = ConnectorFace.detect(snap.files, "compact", root.toString)
      // run-unique prefix (racing compactors must never pre-clean each
      // other); ONE decode job per leaf over ALL its DV-bound files,
      // coalesced toward targetBytes — a per-file loop would launch N
      // sequential Spark jobs and leave the folds fragmented for a
      // second optimize pass
      val prefix = FeatherSnapshots.runPrefix(snap.version + 1, "dvf")
      byLeaf.foreach { case (relDir, relFiles) =>
        val leaf = if (relDir.isEmpty) root else new Path(root, relDir)
        val folds = relFiles.filter { case (rel, _) => dvFold(rel) }
        if (folds.nonEmpty) {
          val absFiles = folds.map { case (rel, len) =>
            (new Path(root, rel).toString, len) }
          val dvPaths = folds.map { case (rel, _) =>
            new Path(root, rel).toString ->
              new Path(root, snap.dvs(rel)._1).toString }.toMap
          val nOut = math.max(1, math.ceil(
            folds.map(_._2).sum.toDouble / targetBytes).toInt)
          // the binary Rewriter preserves input codecs; a decode pass
          // picks the face default ("lz4" → lz4 feather / snappy avro)
          val parts = face.writeParts(
            face.readMergedDv(spark, absFiles, dvPaths).coalesce(nOut),
            leaf.toString, prefix, "lz4")
          if (parts.nonEmpty)
            FeatherStats.upsertMerged(fs, leaf,
              parts.map { case (name, l, js) =>
                name -> (l, FeatherStats.fromJson(js)) }.toMap)
          addedRel ++= parts.map { case (name, l, _) =>
            (if (relDir.isEmpty) name else s"$relDir/$name", l) }
          removedRel ++= folds.map(_._1)
          // one fold job can emit several output parts (nOut > 1): count
          // them all, matching the plain path's per-group accounting —
          // Result.groupsRewritten surfaces through graft_optimize's
          // groups_rewritten column and must not under-report
          groupsRewritten += math.max(1, parts.size)
        }
      }
    }
    // run-unique output tag, same invariant as the DV-fold prefix above:
    // racing compactors must never write (or clean) each other's names,
    // and the `mut-v` prefix keeps pending outputs under vacuumOrphans'
    // in-flight guard until this run's commit wins or aborts
    val runTag = FeatherSnapshots.runPrefix(snap.version + 1, "cpt") + "-"
    byLeaf.foreach { case (relDir, relFiles) =>
      val leaf = if (relDir.isEmpty) root else new Path(root, relDir)
      val files = relFiles
        .filter { case (rel, _) => !dvFold(rel) && // folded above
          // schema STAMPS (`<prefix>-empty.<ext>`, zero rows by the
          // engine's reserved naming) are bookkeeping, never compaction
          // inputs: rewriting them gains nothing, and the parquet
          // binary row-group appender refuses their footer (a stamp is
          // not a sink part — the shape ProcedureSpec caught on a
          // CREATE-then-INSERT table)
          !rel.endsWith("-empty" + suffix) }
        .map { case (rel, len) =>
          (new Path(root, rel).toString, len) }.sortBy(_._1)
      val groups = planGroups(leaf.toString, files, suffix, targetBytes,
        runTag)
      if (groups.nonEmpty) {
        val rewriter = mkRewriter(leaf.toString, groups.head.inputs.head._1)
        val confMap = GraftHadoop.confBroadcast(spark)
        val written = spark.sparkContext
          .parallelize(groups, groups.size)
          .map { g =>
            val execConf = new org.apache.hadoop.conf.Configuration(false)
            confMap.value.foreach { case (k, v) => execConf.set(k, v) }
            val tmp = new Path(g.leaf, s".${g.outName}.tmp")
            try (g.gid, rewriter.rewriteGroup(execConf, g.inputs, tmp))
            catch {
              case e: Throwable =>
                val lfs = new Path(g.leaf).getFileSystem(execConf)
                try lfs.delete(tmp, false) catch { case _: Exception => () }
                throw e
            }
          }.collect().toMap
        groups.foreach { g =>
          // the run-unique tag makes `out` exist-free by construction: a
          // crashed run's orphan has a different tag and is vacuum's to
          // reclaim, never this run's to delete (it may be a rival's
          // already-committed live file)
          val out = new Path(g.leaf, g.outName)
          val tmp = new Path(g.leaf, s".${g.outName}.tmp")
          written(g.gid).foreach { sidecar =>
            val sc = fs.create(new Path(g.leaf, g.outName + ".stats.json"), true)
            try sc.write(sidecar.getBytes("UTF-8"))
            finally sc.close()
          }
          require(fs.rename(tmp, out), s"rename $tmp -> $out failed")
          val outLen = fs.getFileStatus(out).getLen
          val outRel = if (relDir.isEmpty) g.outName else s"$relDir/${g.outName}"
          addedRel += ((outRel, outLen))
          removedRel ++= g.inputs.map { case (f, _) =>
            val n = new Path(f).getName
            if (relDir.isEmpty) n else s"$relDir/$n"
          }
          // merged-stats cache: ADD the outputs, keep the inputs' entries
          // (old versions still plan against them)
          written(g.gid).foreach { sidecar =>
            FeatherStats.upsertMerged(fs, leaf,
              Map(g.outName -> (outLen, FeatherStats.fromJson(sidecar))))
          }
          groupsRewritten += 1
        }
      }
    }
    if (removedRel.nonEmpty) {
      // a fold of the table's LAST live rows (full-coverage DV, zero
      // output parts) must still publish a readable table — stamp one
      // schema-only part per leaf, same as the mutation tier's all-rows
      // delete
      val goneSet = removedRel.toSet
      if (addedRel.isEmpty && snap.files.forall(f => goneSet(f._1))) {
        val face = ConnectorFace.detect(snap.files, "compact", root.toString)
        val schema = face.mergedSchema(spark, snap.files.map {
          case (rel, len) => (new Path(root, rel).toString, len) })
        byLeaf.map(_._1).foreach { relDir =>
          val leafDir = if (relDir.isEmpty) root else new Path(root, relDir)
          // run-unique: a racing retry must never truncate a stamp a
          // winning commit already references
          val (name, len) = face.stamp(fs, leafDir,
            FeatherSnapshots.runPrefix(snap.version + 1) + "-stamp",
            schema)
          addedRel += ((if (relDir.isEmpty) name else s"$relDir/$name", len))
        }
      }
      // conflict matrix (FeatherSnapshots.commitMutation): concurrent
      // appends commute; a concurrent mutation that touched any input
      // aborts loudly instead of silently resurrecting its deleted rows
      // through the compacted copies — but one disjoint from the inputs
      // (a delete on files this pass is not compacting) commits beside,
      // so maintenance never blocks takedowns on other partitions
      FeatherSnapshots.commitMutation(fs, root, "compact", snap,
        goneSet, addedRel.toSeq, readRel = Some(goneSet)): Unit
    }
    Result(byLeaf.size, groupsRewritten, snap.files.size,
      snap.files.size - removedRel.size + addedRel.size)
  }

  private def manifestPath(leaf: Path, outName: String): Path =
    new Path(new Path(leaf, "_compact"), outName + ".json")

  /** Atomic (tmp + rename): a manifest is either absent or complete, so
    * recovery never has to interpret a torn write. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            leaf: Path, g: Group): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("output", g.outName)
    val arr = node.putArray("inputs")
    g.inputs.foreach { case (f, _) => arr.add(new Path(f).getName) }
    fs.mkdirs(new Path(leaf, "_compact"))
    val fin = manifestPath(leaf, g.outName)
    val tmp = new Path(fin.getParent, s".${fin.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(m.writeValueAsString(node).getBytes("UTF-8"))
    finally out.close()
    fs.delete(fin, false) // replay-safe: same name ⇒ same content
    require(fs.rename(tmp, fin), s"manifest rename $tmp -> $fin failed")
  }

  /** Completes or discards swaps a crashed run left behind. Idempotent.
    * Manifests are written atomically, so an unparseable one can only be
    * foreign junk — and since inputs are never deleted before a VALID
    * manifest exists and its output committed, dropping junk is safe. */
  private def recover(fs: org.apache.hadoop.fs.FileSystem, leaf: Path): Unit = {
    val dir = new Path(leaf, "_compact")
    if (!fs.exists(dir)) return
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name.endsWith(".tmp")) fs.delete(st.getPath, false)
      else if (name.endsWith(".json")) {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val parsed =
          try {
            val in = fs.open(st.getPath)
            val node =
              try m.readTree(new String(
                org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
              finally in.close()
            if (node != null && node.hasNonNull("output") &&
                node.get("inputs") != null && node.get("inputs").isArray)
              Some(node)
            else None
          } catch { case _: Exception => None }
        parsed match {
          case Some(node) =>
            val out = new Path(leaf, node.get("output").asText())
            if (fs.exists(out)) {
              // crash between rename and input deletion: finish retiring
              val it = node.get("inputs").elements()
              while (it.hasNext) {
                val n = it.next().asText()
                fs.delete(new Path(leaf, n), false)
                fs.delete(new Path(leaf, n + ".stats.json"), false)
                fs.delete(new Path(leaf, n + ".bloom"), false)
              }
            } else {
              // crash before the rename: inputs intact — drop the
              // half-write AND its already-committed sidecar
              fs.delete(new Path(leaf, s".${out.getName}.tmp"), false)
              fs.delete(new Path(leaf, out.getName + ".stats.json"), false)
            }
          case None => () // junk: fall through to manifest deletion below
        }
        fs.delete(st.getPath, false)
      }
    }
  }
}
