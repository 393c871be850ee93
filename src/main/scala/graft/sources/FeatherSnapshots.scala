package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}

/** Snapshot manifests for the feather DSv2 connector: a `_snapshots/`
  * directory of numbered JSON manifests. Storage is a DELTA LOG with
  * SIZE-AWARE checkpoints (the Delta-Lake commit-log shape): most
  * commits serialize only `add`/`remove` actions against their parent —
  * O(changed files) driver bytes per commit — and a commit writes the
  * COMPLETE file list as a checkpoint only when v1 (no parent), when the
  * accumulated delta bytes since the last checkpoint would outweigh the
  * full list (so total log bytes stay O(full list) between checkpoints),
  * when the delta chain reaches [[MaxDeltaChain]] manifests (the
  * read-latency backstop — reconstruction is one sequential manifest
  * read per chain link, which on an object store is a round trip), or
  * when the commit's own diff outweighs the full list (an overwrite
  * naturally checkpoints). A 10⁵-file table's per-epoch append is a few
  * hundred bytes, and the 10⁵-entry checkpoint amortizes over at least
  * [[MaxDeltaChain]] commits instead of landing every fixed-K-th; a
  * 3-file table checkpoints nearly every commit, which costs nothing.
  * Retained history holds O(files + versions·changes) bytes instead of
  * O(versions × files). Modeled on the table-format idea parquet
  * directories lack (Iceberg/Delta commit logs; the reference gets
  * consistency for free from single-process ownership — a distributed
  * 100-TB table does not):
  *
  *  - **Atomic multi-file commits**: a write renames its parts, then
  *    publishes ONE manifest with create-exclusive semantics. Readers
  *    either see the whole commit or none of it — never a half-renamed
  *    directory.
  *  - **O(1) planning**: a snapshot read opens two files (latest-version
  *    probe + manifest) instead of listing a 10⁵-object prefix — on object
  *    stores, listing is the slow, eventually-consistent operation.
  *  - **Snapshot isolation + time travel**: overwrite publishes a manifest
  *    that REFERENCES new files without deleting old ones, so concurrent
  *    readers of version N finish against intact files and
  *    `option("versionAsOf", n)` reproduces any retained version.
  *  - **Explicit vacuum**: `expire(keepLast)` retires old manifests and
  *    deletes data files no kept version references — physical deletion is
  *    a separate, deliberate operation, never a side effect of a write.
  *
  * Manifest paths are RELATIVE to the table root (the manifest survives a
  * directory move/copy) and may contain `key=value/` segments, so hive
  * partition pruning works straight off the manifest without any listing.
  */
private[graft] object FeatherSnapshots {

  val Dir = "_snapshots"

  /** files = (root-relative path, byte length), sorted by path.
    * `ts` = commit wall-clock millis (0 for pre-timestamp manifests).
    * `dvs` = deletion-vector bindings: data-file relative path →
    * (DV sidecar relative path, deleted-row count) — a file with a
    * binding reads with those row positions filtered out
    * ([[graft.io.DeletionVectors]]); the count lets COUNT(*) pushdown
    * and row statistics subtract without opening the sidecar. */
  final case class Snapshot(version: Long, parent: Long, op: String,
                            files: Seq[(String, Long)], ts: Long = 0L,
                            dvs: Map[String, (String, Long)] = Map.empty)

  private def snapDir(root: Path) = new Path(root, Dir)
  private def snapPath(root: Path, v: Long) =
    new Path(snapDir(root), f"v$v%08d.json")

  def enabled(fs: FileSystem, root: Path): Boolean =
    try fs.exists(snapDir(root)) catch { case _: Exception => false }

  def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    versionBounds(fs, root).map(_._2)

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Read-latency backstop on the checkpoint cadence: a reconstruction
    * folds at most this many delta manifests forward (each is one
    * sequential object-store round trip — the BYTES between checkpoints
    * are already bounded at ≤ one full list by the size rule, but 15 000
    * tiny deltas would still cost 15 000 reads without this cap). */
  private[graft] val MaxDeltaChain = 16

  /** One manifest file as stored: `full` = complete file list (v1,
    * checkpoints, legacy pre-delta manifests); otherwise `add`/`remove`
    * actions against the parent version. `bytes` = the manifest file's
    * serialized size (feeds the size-aware checkpoint cadence).
    * DV actions: `fullDv` rides checkpoints (complete binding list,
    * ABSENT means "no bindings" for legacy and dv-free manifests);
    * deltas carry `dvSet` (bind/replace a file's DV) and `dvClear`
    * (unbind while the file survives — restore paths); removing a file
    * implicitly drops its binding. */
  private final case class Raw(version: Long, parent: Long, op: String,
                               ts: Long, full: Option[Seq[(String, Long)]],
                               add: Seq[(String, Long)], remove: Set[String],
                               bytes: Int = 0,
                               fullDv: Map[String, (String, Long)] = Map.empty,
                               dvSet: Map[String, (String, Long)] = Map.empty,
                               dvClear: Set[String] = Set.empty)

  private def readRaw(fs: FileSystem, root: Path, version: Long): Raw = {
    val p = snapPath(root, version)
    require(fs.exists(p),
      s"feather snapshot v$version does not exist under $root/$Dir " +
        "(expired or never committed)")
    val in = fs.open(p)
    val txt =
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    val n = mapper.readTree(txt)
    def pairs(field: String): Seq[(String, Long)] = {
      val arr = n.get(field)
      (0 until arr.size()).map { i =>
        val f = arr.get(i)
        (f.get("p").asText(), f.get("len").asText().toLong)
      }
    }
    def dvMap(field: String): Map[String, (String, Long)] = {
      val arr = n.get(field)
      (0 until arr.size()).map { i =>
        val f = arr.get(i)
        f.get("f").asText() ->
          (f.get("p").asText(), f.get("n").asText().toLong)
      }.toMap
    }
    Raw(n.get("version").asText().toLong, n.get("parent").asText().toLong,
      n.get("op").asText(),
      if (n.hasNonNull("ts")) n.get("ts").asText().toLong else 0L,
      if (n.has("files")) Some(pairs("files")) else None,
      if (n.has("add")) pairs("add") else Nil,
      if (n.has("remove")) {
        val arr = n.get("remove")
        (0 until arr.size()).map(arr.get(_).asText()).toSet
      } else Set.empty,
      txt.length,
      if (n.has("dv")) dvMap("dv") else Map.empty,
      if (n.has("dvSet")) dvMap("dvSet") else Map.empty,
      if (n.has("dvClear")) {
        val arr = n.get("dvClear")
        (0 until arr.size()).map(arr.get(_).asText()).toSet
      } else Set.empty)
  }

  private def applyDelta(parent: Seq[(String, Long)], d: Raw)
      : Seq[(String, Long)] =
    parent.filterNot(f => d.remove(f._1)) ++ d.add

  /** Fold one delta's DV actions: a removed file takes its binding with
    * it, `dvClear` unbinds surviving files, `dvSet` binds/replaces. A
    * full manifest's `fullDv` IS the state. */
  private def applyDvDelta(parentDv: Map[String, (String, Long)], d: Raw)
      : Map[String, (String, Long)] =
    d.full match {
      case Some(_) => d.fullDv
      case None =>
        (parentDv -- d.remove -- d.dvClear) ++ d.dvSet
    }

  /** Reconstruct one version: walk back to the nearest full manifest
    * (checkpoint / v1 / legacy), then fold the delta chain forward —
    * ≤ [[MaxDeltaChain]] + 1 manifest reads. A broken chain (a delta
    * whose parent was expired without the checkpoint-materialization
    * step) is loud and names both versions. */
  def read(fs: FileSystem, root: Path, version: Long): Snapshot =
    readChain(fs, root, version)._1

  /** [[read]] plus the delta chain the reconstruction folded (nearest
    * full manifest first) — [[commit]] consumes the chain's length and
    * byte sizes for the size-aware checkpoint decision, at zero extra
    * manifest reads (it had to reconstruct the parent anyway). */
  private def readChain(fs: FileSystem, root: Path, version: Long)
      : (Snapshot, List[Raw]) = {
    var chain = List(readRaw(fs, root, version))
    while (chain.head.full.isEmpty) {
      val child = chain.head
      val parent =
        try readRaw(fs, root, child.parent)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"feather snapshot v$version under $root/$Dir cannot be " +
              s"reconstructed: delta v${child.version} needs parent " +
              s"v${child.parent} (${e.getMessage})", e)
        }
      chain = parent :: chain
    }
    var files = chain.head.full.get
    var dvs = chain.head.fullDv
    chain.tail.foreach { d =>
      dvs = applyDvDelta(dvs, d)
      files = applyDelta(files, d)
    }
    val tip = chain.last
    (Snapshot(tip.version, tip.parent, tip.op, files.sortBy(_._1), tip.ts,
      dvs), chain)
  }

  /** Versions `from..to` inclusive, reconstructed with each manifest file
    * read ONCE: `from` pays its chain walk, later versions fold raw
    * deltas forward — the version-stream diff path's shape (per-version
    * [[read]] would re-walk the chain for every version in the range). */
  private[graft] def readRange(fs: FileSystem, root: Path,
                               from: Long, to: Long): Seq[Snapshot] = {
    require(from >= 1 && to >= from,
      s"readRange: bad version range [$from, $to]")
    val first = read(fs, root, from)
    val out = scala.collection.mutable.ArrayBuffer(first)
    var files = first.files
    var dvs = first.dvs
    var v = from + 1
    while (v <= to) {
      val r = readRaw(fs, root, v)
      require(r.full.isDefined || r.parent == v - 1,
        s"snapshot chain under $root/$Dir is broken at delta v$v " +
          s"(parent v${r.parent})")
      dvs = applyDvDelta(dvs, r)
      files = r.full.getOrElse(applyDelta(files, r))
      out += Snapshot(r.version, r.parent, r.op, files.sortBy(_._1), r.ts,
        dvs)
      files = out.last.files
      v += 1
    }
    out.toSeq
  }

  /** The (relPath, len) files version range `(s, e]` DELIVERS to a
    * snapshot-version stream — the Delta streaming contract, shared by
    * the feather and avro faces (one definition of the op semantics; a
    * per-face copy would drift): `s == 0` is the initial load (the
    * CURRENT snapshot whole — history before the stream started is not
    * change data); `append`/`adopt` versions stream their novel files;
    * `compact`/`cluster` are row-preserving rewrites of already-delivered
    * rows and SKIP; `overwrite`/`delete`/`merge`/`cdc`/`restore` are
    * non-append changes that fail loudly unless `ignoreChanges` — which
    * skips a delete's rewrites (survivors only, nothing new) and a
    * restore's re-publish (previously-delivered rows) but DELIVERS
    * merge/cdc parts AND an overwrite's novel files (new rows must
    * arrive; re-delivered survivors are downstream's key-dedup problem —
    * Delta's ignoreChanges contract re-delivers rewritten/new files and
    * makes duplicates downstream's responsibility). */
  private[graft] def versionDiffFiles(fs: FileSystem, root: Path,
                                      s: Long, e: Long,
                                      ignoreChanges: Boolean)
      : (Seq[(String, Long)], Map[String, (String, Long)]) = {
    val newRel = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // deletion vectors apply ONLY to the initial load (rows deleted
    // before the stream started were never table content); incremental
    // appends deliver files as-at-introduction — a LATER DV delete on a
    // delivered file is a mid-stream deletion, which this stream does
    // not propagate (the documented ignoreChanges contract; the CDF
    // source is the feed that does)
    var dvs: Map[String, (String, Long)] = Map.empty
    if (s == 0) {
      val snap = read(fs, root, e)
      newRel ++= snap.files
      dvs = snap.dvs
    }
    else {
      val snaps = readRange(fs, root, s, e)
      var prev: Map[String, Long] = snaps.head.files.toMap
      for (snap <- snaps.tail) {
        val v = snap.version
        snap.op match {
          case "append" | "adopt" =>
            newRel ++= snap.files.filterNot { case (rel, _) => prev.contains(rel) }
          case "compact" | "cluster" =>
          case "restore" =>
            // restore re-publishes previously-DELIVERED rows (its files
            // existed in an earlier version this stream already served):
            // under ignoreChanges it skips — there is nothing novel
            if (!ignoreChanges) throw new IllegalStateException(
              s"snapshot stream on $root hit a restore commit " +
                s"(v$v): the table changed non-append. Restart the stream " +
                "from scratch, or set option(\"ignoreChanges\", \"true\") " +
                "to skip the replaced data.")
          case "overwrite" | "replace" | "insert_overwrite" =>
            // an overwrite's NEW files hold rows never delivered — under
            // ignoreChanges they must arrive (the Delta contract; skipping
            // them would silently lose the replacement's novel rows). The
            // replaced files' rows are simply never re-sent.
            if (!ignoreChanges) throw new IllegalStateException(
              s"snapshot stream on $root hit an overwrite commit " +
                s"(v$v): the table changed non-append. Restart the stream " +
                "from scratch, or set option(\"ignoreChanges\", \"true\") " +
                "to receive the replacement's new files (replaced rows " +
                "are not retracted downstream).")
            else newRel ++= snap.files.filterNot {
              case (rel, _) => prev.contains(rel) }
          case "delete" | "rowlevel_delete" | "rowlevel_delta_delete" =>
            // COW row-level deletes ADD files, but those hold only
            // previously-delivered surviving rows; delta deletes add
            // nothing — either way there is nothing novel to send
            if (!ignoreChanges) throw new IllegalStateException(
              s"snapshot stream on $root hit a delete commit " +
                s"(v$v): rows were removed mid-stream. Restart from " +
                "scratch, or set option(\"ignoreChanges\", \"true\") to " +
                "continue (the deletions are not propagated downstream).")
          case "merge" | "cdc" | "update" | "replaceWhere" |
               "rowlevel_update" | "rowlevel_merge" |
               "rowlevel_delta_update" | "rowlevel_delta_merge" =>
            if (!ignoreChanges) throw new IllegalStateException(
              s"snapshot stream on $root hit a ${snap.op} commit " +
                s"(v$v): rows were updated mid-stream. Restart from " +
                "scratch, or set option(\"ignoreChanges\", \"true\") to " +
                "deliver the rewritten parts (downstream must dedup by key).")
            else newRel ++= snap.files.filterNot {
              case (rel, _) => prev.contains(rel) }
          case other => throw new IllegalStateException(
            s"snapshot v$v carries unknown op '$other'")
        }
        prev = snap.files.toMap
      }
    }
    (newRel.toSeq, dvs)
  }

  /** Every retained version reconstructed in ASCENDING order, each
    * manifest file read exactly once (the per-version [[read]] would pay
    * the chain walk per call). The oldest retained manifest must be full
    * — [[expire]] materializes the oldest kept version as a checkpoint
    * before deleting below it, so a delta there means a torn expire. */
  private[graft] def readAll(fs: FileSystem, root: Path): Seq[Snapshot] = {
    val d = snapDir(root)
    if (!fs.exists(d)) return Nil
    val versions = fs.listStatus(d).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq.sorted
    if (versions.isEmpty) return Nil
    val raws = versions.map(readRaw(fs, root, _))
    require(raws.head.full.isDefined,
      s"oldest retained snapshot v${raws.head.version} under $root/$Dir " +
        "is a delta manifest with no parent — torn expire; restore the " +
        "chain or re-adopt the table")
    var cur: Seq[(String, Long)] = Nil
    var curDv: Map[String, (String, Long)] = Map.empty
    var prevV = -1L
    raws.map { r =>
      // a delta must chain off the version the fold just produced — a
      // hole in the version sequence (a manually deleted manifest) must
      // not silently apply a delta against the wrong parent
      require(r.full.isDefined || r.parent == prevV,
        s"snapshot chain under $root/$Dir is broken: delta v${r.version} " +
          s"expects parent v${r.parent} but the fold is at v$prevV")
      curDv = applyDvDelta(curDv, r)
      cur = r.full.getOrElse(applyDelta(cur, r))
      prevV = r.version
      Snapshot(r.version, r.parent, r.op, cur.sortBy(_._1), r.ts, curDv)
    }
  }

  /** The snapshot a read plans against: `versionAsOf` pins a version
    * (loud error if the table has no snapshots or the version is gone);
    * otherwise the latest, or None for a legacy listing-based directory. */
  def resolve(fs: FileSystem, root: Path, versionAsOf: Option[Long])
      : Option[Snapshot] = versionAsOf match {
    case Some(v) =>
      require(enabled(fs, root),
        s"versionAsOf=$v on $root, which has no $Dir directory — time " +
          "travel needs snapshot commits (write with option(\"snapshots\", \"true\"))")
      Some(read(fs, root, v))
    case None => latestVersion(fs, root).map(read(fs, root, _))
  }

  private def pairsJson(files: Seq[(String, Long)]): java.util.List[Any] =
    files.map { case (p, len) =>
      val f = new java.util.LinkedHashMap[String, Any]()
      f.put("p", p); f.put("len", len.toString)
      f: Any
    }.asJava

  private def dvJson(dvs: Map[String, (String, Long)]): java.util.List[Any] =
    dvs.toSeq.sortBy(_._1).map { case (file, (dvPath, n)) =>
      val f = new java.util.LinkedHashMap[String, Any]()
      f.put("f", file); f.put("p", dvPath); f.put("n", n.toString)
      f: Any
    }.asJava

  private def baseNode(v: Long, parentV: Long, op: String, ts: Long) = {
    val node = new java.util.LinkedHashMap[String, Any]()
    node.put("version", v.toString)
    node.put("parent", parentV.toString)
    node.put("op", op)
    node.put("ts", ts.toString)
    node
  }

  private def writeManifest(fs: FileSystem, root: Path, v: Long,
                            node: java.util.Map[String, Any],
                            overwrite: Boolean): Unit = {
    if (!overwrite) {
      val out = fs.create(snapPath(root, v), false)
      try out.write(mapper.writeValueAsString(node).getBytes("UTF-8"))
      finally out.close()
    } else {
      // in-place REWRITE (expire's checkpoint materialization) must never
      // leave a torn manifest: write a tmp beside it, then atomically
      // rename over the destination (FileContext.rename OVERWRITE — the
      // plain FileSystem.create(overwrite=true) truncates first, so a
      // crash mid-write corrupts the only copy)
      val dest = snapPath(root, v)
      val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
      val out = fs.create(tmp, true)
      try out.write(mapper.writeValueAsString(node).getBytes("UTF-8"))
      finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Publish the next version. `mkFiles(parentFiles)` builds the new
    * complete file list from the parent snapshot's (append folds them in,
    * overwrite ignores them); the create-exclusive manifest write makes
    * the version number the arbiter under concurrent committers — the
    * loser recomputes against the winner's files and retries.
    *
    * Storage form is decided HERE, invisibly to callers: the diff vs the
    * parent is serialized as `add`/`remove` actions unless this version
    * is a checkpoint. The cadence is SIZE-AWARE: checkpoint when (a) v1
    * (no parent), (b) this commit's own diff would outweigh the full
    * list (an overwrite naturally checkpoints), (c) the delta bytes
    * accumulated since the last checkpoint — plus this delta — would
    * outweigh the full list (bounds total log bytes between checkpoints
    * at ~2× the full list), or (d) the delta chain has reached
    * [[MaxDeltaChain]] manifests (bounds reconstruction round trips; a
    * 10⁵-file table emitting 500-byte deltas would otherwise chain
    * thousands of reads before rule (c) fired). A fixed every-K cadence
    * would write the 10⁵-entry list every K-th epoch no matter how small
    * the deltas were. */
  def commit(fs: FileSystem, root: Path, op: String)
            (mkFiles: Seq[(String, Long)] => Seq[(String, Long)]): Long =
    // DV bindings carry through for files the commit leaves IDENTICAL
    // (same path, same length); a removed/replaced file takes its
    // binding with it — appends and epoch publishes never have to know
    // deletion vectors exist
    commitDv(fs, root, op) { (parentFiles, parentDvs) =>
      val out = mkFiles(parentFiles)
      val outMap = out.toMap
      val parentMap = parentFiles.toMap
      (out, parentDvs.filter { case (f, _) =>
        outMap.get(f).exists(parentMap.get(f).contains) })
    }

  /** [[commit]] with deletion-vector bindings exposed: `mk` maps the
    * parent's (files, dvs) to the new version's. The mutation tier binds
    * DVs here; everything else goes through [[commit]]. */
  def commitDv(fs: FileSystem, root: Path, op: String)
              (mk: (Seq[(String, Long)], Map[String, (String, Long)]) =>
                (Seq[(String, Long)], Map[String, (String, Long)])): Long = {
    fs.mkdirs(snapDir(root))
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 20,
        s"feather snapshot commit on $root lost ${attempt - 1} races; giving up")
      val parent = latestVersion(fs, root)
      val parentChain = parent.map(readChain(fs, root, _))
      val parentFiles = parentChain.map(_._1.files).getOrElse(Nil)
      val parentDvs = parentChain.map(_._1.dvs).getOrElse(Map.empty)
      val v = parent.getOrElse(0L) + 1
      val (files0, dvs) = mk(parentFiles, parentDvs)
      val files = files0.distinct.sortBy(_._1)
      val fileSet = files.map(_._1).toSet
      dvs.keys.find(!fileSet(_)).foreach(f => sys.error(
        s"commit on $root: DV binding for '$f', which is not in the " +
          "published file list — the binding would be unreachable"))
      val parentMap = parentFiles.toMap
      val filesMap = files.toMap
      // a path whose length changed (immutable parts make this foreign,
      // but guard anyway) serializes as remove + add — replay-exact
      val add = files.filter { case (p, len) => !parentMap.get(p).contains(len) }
      val remove = parentFiles.collect {
        case (p, len) if !filesMap.get(p).contains(len) => p }
      val removeSet = remove.toSet
      // DV delta vs the parent (bindings on removed files drop
      // implicitly and never serialize)
      val dvSet = dvs.filter { case (f, b) => !parentDvs.get(f).contains(b) }
      val dvClear = parentDvs.keys
        .filter(f => !dvs.contains(f) && !removeSet(f)).toSeq.sorted
      // serialized-size estimates (exact serialization of the full list
      // just to measure it would be the O(files) work the cadence exists
      // to avoid): per entry `{"p":"…","len":"…"},` ≈ path + len + 16
      def entryBytes(f: (String, Long)): Long =
        f._1.length + f._2.toString.length + 16L
      def dvBytes(m: Map[String, (String, Long)]): Long =
        m.map { case (f, (p, n)) =>
          f.length + p.length + n.toString.length + 24L }.sum
      val fullBytes = files.map(entryBytes).sum + dvBytes(dvs) + 96L
      val deltaBytes = add.map(entryBytes).sum +
        remove.map(_.length + 3L).sum + dvBytes(dvSet) +
        dvClear.map(_.length + 3L).sum + 96L
      val deltas = parentChain.map(_._2.count(_.full.isEmpty)).getOrElse(0)
      val chainBytes = parentChain
        .map(_._2.iterator.filter(_.full.isEmpty).map(_.bytes.toLong).sum)
        .getOrElse(0L)
      val checkpoint = parent.isEmpty ||
        add.size + remove.size >= files.size ||
        chainBytes + deltaBytes >= fullBytes ||
        deltas + 1 > MaxDeltaChain
      val node = baseNode(v, parent.getOrElse(0L), op,
        System.currentTimeMillis())
      if (checkpoint) {
        node.put("files", pairsJson(files))
        if (dvs.nonEmpty) node.put("dv", dvJson(dvs))
      } else {
        node.put("add", pairsJson(add))
        node.put("remove", remove.map(x => x: Any).asJava)
        if (dvSet.nonEmpty) node.put("dvSet", dvJson(dvSet))
        if (dvClear.nonEmpty)
          node.put("dvClear", dvClear.map(x => x: Any).asJava)
      }
      try {
        // create-exclusive: exactly one committer wins each version number
        writeManifest(fs, root, v, node, overwrite = false)
        return v
      } catch {
        case _: java.io.IOException if fs.exists(snapPath(root, v)) =>
          () // lost the race: recompute against the winner and retry
      }
    }
    sys.error("unreachable")
  }

  /** A cheap TABLE-INCARNATION identity: (oldest retained version, that
    * manifest's commit ts). A drop-and-recreate at the same path gets a
    * different v1 timestamp even if it races back to the same version
    * count, so caches keyed on this can never serve a previous
    * incarnation's state; expire() also moves it, which only costs the
    * cache a spurious (safe) rebuild. One manifest read. */
  private[graft] def incarnation(fs: FileSystem, root: Path)
      : Option[(Long, Long)] =
    incarnationFrom(fs, root, versionBounds(fs, root).map(_._1))

  /** One listing serving both ends: (oldest, newest) retained manifest
    * versions — callers that need the head AND the incarnation pay a
    * single listStatus. */
  private[graft] def versionBounds(fs: FileSystem, root: Path)
      : Option[(Long, Long)] = {
    val d = snapDir(root)
    if (!fs.exists(d)) return None
    val vs = fs.listStatus(d).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq
    if (vs.isEmpty) None else Some((vs.min, vs.max))
  }

  /** [[incarnation]] given a pre-listed oldest version. Retries through
    * a fresh listing when a concurrent expire() deletes the oldest
    * manifest between the listing and the read — that race is ordinary
    * retention, not an error. */
  private[graft] def incarnationFrom(fs: FileSystem, root: Path,
                                     oldest: Option[Long],
                                     retries: Int = 3)
      : Option[(Long, Long)] =
    oldest match {
      case None => None
      case Some(v) =>
        try Some((v, readTs(fs, root, v)))
        catch { case _: Exception if retries > 0 =>
          incarnationFrom(fs, root,
            versionBounds(fs, root).map(_._1), retries - 1)
        }
    }

  /** The manifest's commit ts WITHOUT parsing its body: [[baseNode]]
    * serializes the header fields (version, parent, op, ts) before any
    * file list, so a streaming parse stops after the first ~100 bytes
    * even when the manifest is a multi-MB checkpoint. [[incarnation]]
    * runs once per idle changesSince poll and per publishEpoch — a full
    * Jackson tree parse of the oldest retained manifest (usually the
    * biggest checkpoint) would make that identity probe O(file list)
    * per poll, the exact cost class the delta log exists to avoid.
    * Absent ts reads as 0, matching [[readRaw]]. */
  private def readTs(fs: FileSystem, root: Path, version: Long): Long =
    readHeaderField(fs, root, version, "ts").map(_.toLong).getOrElse(0L)

  /** One header field from a manifest WITHOUT parsing its body:
    * [[baseNode]] serializes version/parent/op/ts before any file list,
    * so the streaming parse stops after ~100 bytes even on a multi-MB
    * checkpoint. Backs [[readTs]] (the identity probes) and
    * [[latestVersionWithOp]] (the incremental-OPTIMIZE planning walk). */
  private def readHeaderField(fs: FileSystem, root: Path, version: Long,
                              field: String): Option[String] = {
    import com.fasterxml.jackson.core.JsonToken
    val in = fs.open(snapPath(root, version))
    try {
      val jp = mapper.getFactory.createParser(in: java.io.InputStream)
      try {
        var tok = jp.nextToken()
        // a torn write (created, never written) parses as an EMPTY
        // stream — that must stay an ERROR like readRaw's, not a
        // fabricated default the identity probes would treat as a valid
        // legacy value
        require(tok == com.fasterxml.jackson.core.JsonToken.START_OBJECT,
          s"manifest v$version at $root is torn or empty (no JSON object)")
        tok = jp.nextToken()
        while (tok != null && tok != JsonToken.END_OBJECT) {
          val name = jp.currentName()
          jp.nextToken() // advance to the field's value
          if (name == field) return Some(jp.getText)
          jp.skipChildren() // no-op on scalars; skips a whole array/object
          tok = jp.nextToken()
        }
        None
      } finally jp.close()
    } finally in.close()
  }

  /** The newest retained snapshot committed with `op`, found by walking
    * version numbers DESCENDING with header-only manifest reads — the
    * incremental-OPTIMIZE planner's lookup, O(versions since the last
    * such commit) instead of readAll's O(all retained versions)
    * reconstruction. */
  private[graft] def latestVersionWithOp(fs: FileSystem, root: Path,
                                         op: String): Option[Snapshot] =
    versionBounds(fs, root).flatMap { case (oldest, newest) =>
      var v = newest
      while (v >= oldest) {
        // a concurrent expire() deleting manifests under the walk is
        // ordinary retention, not an error: a version that vanished —
        // and everything older — is outside retention, and callers
        // (incremental OPTIMIZE) already treat "no such commit retained"
        // as the conservative full-rewrite case
        try {
          if (readHeaderField(fs, root, v, "op").contains(op))
            return Some(read(fs, root, v))
        } catch { case _: java.io.FileNotFoundException => return None }
        v -= 1
      }
      None
    }

  /** Run-unique name prefix for data files written AHEAD of a
    * mutation-tier commit targeting `targetV`: `mut-v%08d-<tag><uuid8>`.
    * ONE definition shared by the COW rewrite, DV fold, compaction, and
    * schema-stamp writers — [[vacuumOrphans]]'s in-flight guard keys on
    * this exact shape, and a per-site copy that reordered the version
    * and uuid (or dropped a dash) would silently fall out of the regex
    * and get reclaimed mid-run. The uuid makes racing runs (and crash
    * retries) unable to write, pre-clean, or truncate each other's
    * pending outputs; the loser's files become vacuum-reclaimable
    * orphans once `targetV` is at or below the committed head. */
  private[graft] def runPrefix(targetV: Long, tag: String = ""): String =
    f"mut-v$targetV%08d-$tag${java.util.UUID.randomUUID().toString
      .take(8)}"

  /** TEST seam for the conflict-matrix spec: runs once, after a mutation
    * computed its rewrite and before its manifest commit — the window a
    * concurrent committer races into. One-shot (cleared before invoking,
    * so a hook that itself commits cannot recurse). */
  private[graft] var testBeforeMutationCommit: () => Unit = () => ()

  /** The MUTATION commit protocol (COW rewrites, DV binds, cluster,
    * compact) with the optimistic-concurrency conflict matrix:
    *
    *  - **vs append / adopt / epoch publish**: COMMITS BOTH. A blind
    *    append cannot invalidate a rewrite of OLDER files — the appended
    *    files simply carry through the new manifest untouched. This is
    *    write-serializable with blind appends (Delta's default): the
    *    mutation serializes logically BEFORE the append, so appended
    *    rows are not subject to e.g. a concurrent delete's predicate.
    *  - **vs another mutation, overwrite, or restore**: conflict
    *    detection is LOGICAL, scoped to the mutation's READ SET
    *    (Delta's contract). Any file (or DV binding) the mutation READ
    *    that the parent no longer carries identically means the rewrite
    *    was computed against dead state — ABORTS loudly: publishing it
    *    would lose the winner's update (or resurrect its deleted rows).
    *    A raced commit whose touched files are DISJOINT from the read
    *    set commits both: the rebase below starts from the parent's
    *    actual file list, so the winner's rewrites carry through and
    *    this mutation's outputs land beside them (two DELETEs on
    *    different partitions both land; same-partition still aborts).
    *
    * `basedOn` is the snapshot the mutation planned and read against;
    * `readRel` the relative names of the files whose CONTENT the
    * mutation's output depends on — for the predicate/keyed mutations
    * that is the pruned candidate set: pruned-out files provably hold
    * no matching row, so the output is exact without them, and a
    * concurrent rewrite of such a file serializes AFTER this statement
    * (write-serializable, the same order already granted to blind
    * appends). `None` = the whole snapshot (conservative, for callers
    * with no pruning story). `removeRel`/`add`/`setDvs` are the
    * mutation's outputs; removeRel must be ⊆ the read set. The check
    * runs INSIDE the commit retry loop, against the parent actually
    * published over — losing the version race to an append or a
    * disjoint mutation retries and passes; losing it to an overlapping
    * mutation retries and aborts. */
  private[graft] def commitMutation(fs: FileSystem, root: Path, op: String,
                                    basedOn: Snapshot,
                                    removeRel: Set[String],
                                    add: Seq[(String, Long)],
                                    setDvs: Map[String, (String, Long)] =
                                      Map.empty,
                                    requireNoNewFiles: Boolean = false,
                                    readRel: Option[Set[String]] = None)
      : Long = {
    val hook = testBeforeMutationCommit
    testBeforeMutationCommit = () => ()
    hook()
    readRel.foreach { rs =>
      val outside = removeRel.diff(rs) ++ setDvs.keySet.diff(rs)
      require(outside.isEmpty,
        s"$op on $root: the commit touches files outside the declared " +
          s"read set (${outside.take(3).mkString(", ")}) — the conflict " +
          "check would not protect them")
    }
    commitDv(fs, root, op) { (parentFiles, parentDvs) =>
      requireReadSetIntact(root, op, basedOn,
        readRel.getOrElse(basedOn.files.map(_._1).toSet),
        parentFiles, parentDvs)
      // SCHEMA-LEVEL statements (ALTER TABLE ADD COLUMNS) validate
      // against the snapshot's schema, and any concurrent ADDITION may
      // have evolved it (another ALTER's stamps, a mergeSchema append,
      // MERGE WITH SCHEMA EVOLUTION) — two racing ALTERs would
      // otherwise BOTH land and a name/type conflict bricks every
      // merged read. Stricter than the file-read check on purpose:
      // re-running a refused ALTER is cheap; un-bricking footers isn't.
      if (requireNoNewFiles) {
        val basedOnKeys = basedOn.files.map(_._1).toSet
        val grew = parentFiles.collect {
          case (rel, _) if !basedOnKeys(rel) => rel }
        require(grew.isEmpty,
          s"$op on $root: a concurrent commit added file(s) " +
            s"(${grew.take(3).mkString(", ")}${
              if (grew.size > 3) ", …" else ""}) since v${basedOn.version}" +
            " — the schema this statement validated against may have " +
            "evolved; re-run (the retry revalidates against the new head)")
      }
      (parentFiles.filterNot { case (rel, _) => removeRel(rel) } ++ add,
        (parentDvs -- removeRel) ++ setDvs)
    }
  }

  /** The read-set conflict check of [[commitMutation]] against the
    * parent `parentFiles`/`parentDvs`: every file of `readSet` must still
    * be carried with the length and DV binding it was read at. */
  private def requireReadSetIntact(root: Path, op: String, basedOn: Snapshot,
                                   readSet: Set[String],
                                   parentFiles: Seq[(String, Long)],
                                   parentDvs: Map[String, (String, Long)])
      : Unit = {
    val parentMap = parentFiles.toMap
    basedOn.files.foreach { case (rel, len) =>
      if (readSet(rel))
        require(parentMap.get(rel).contains(len) &&
            parentDvs.get(rel) == basedOn.dvs.get(rel),
          s"$op on $root: conflict with a concurrent commit — file '$rel' " +
            s"(read at v${basedOn.version}) was rewritten, deleted, or " +
            "re-bound by another committer; re-run against the new state " +
            "(concurrent blind APPENDS commute and do not trigger this)")
    }
  }

  /** The commit point of a mutation that writes nothing: no version is
    * published, but its read set must still be intact at the head — a
    * statement that found nothing to change in files a concurrent commit
    * rewrote aborts exactly as [[commitMutation]] would. */
  private[graft] def requireReadSetCurrent(fs: FileSystem, root: Path,
                                           op: String, basedOn: Snapshot,
                                           readRel: Set[String]): Unit = {
    val hook = testBeforeMutationCommit
    testBeforeMutationCommit = () => ()
    hook()
    val head = resolve(fs, root, None).getOrElse(
      sys.error(s"$op on $root: the table's snapshots vanished"))
    requireReadSetIntact(root, op, basedOn, readRel, head.files, head.dvs)
  }

  /** Time travel by WALL CLOCK: the newest snapshot committed at or
    * before `tsMillis` (manifests carry their commit time; pre-timestamp
    * manifests read as ts=0, i.e. "before everything"). Loud when the
    * instant predates every retained snapshot — silently serving the
    * oldest would misrepresent history. One listing + O(versions)
    * manifest reads, all retained-version-bounded. */
  def resolveAt(fs: FileSystem, root: Path, tsMillis: Long): Snapshot = {
    require(enabled(fs, root),
      s"timestampAsOf on $root, which has no $Dir directory")
    val snaps = readAll(fs, root)
    snaps.filter(_.ts <= tsMillis).lastOption.getOrElse(
      sys.error(s"timestampAsOf=$tsMillis on $root: the earliest retained " +
        s"snapshot (v${snaps.headOption.map(_.version).getOrElse(0L)}) is " +
        "newer — that instant's state is expired or never existed"))
  }

  /** One walk over a table's DATA files (flat or hive `key=value`):
    * service dirs (`_…`, `.…`) and hidden/underscore files are skipped —
    * the single definition of file eligibility that [[adopt]] and
    * [[vacuumOrphans]] share (a rule duplicated per caller would drift). */
  private def walkDataFiles(fs: FileSystem, root: Path,
                            suffixes: Seq[String],
                            includeHiddenTmps: Boolean = false)(
      visit: (org.apache.hadoop.fs.FileStatus, String) => Unit): Unit = {
    def walk(dir: Path, rel: String): Unit =
      fs.listStatus(dir).foreach { e =>
        val n = e.getPath.getName
        if (e.isDirectory) {
          if (!n.startsWith("_") && !n.startsWith(".")) walk(e.getPath,
            if (rel.isEmpty) n else s"$rel/$n")
          // `_tmp-<prefix>` STAGING directories (the parquet face's part
          // writer stages through Spark's sink before renaming): a
          // crashed run's staging dir is reclamation work exactly like a
          // hidden `.tmp` file — visited as the DIRECTORY entry, never
          // recursed into (its contents are uncommitted by construction)
          else if (includeHiddenTmps && n.startsWith("_tmp-"))
            visit(e, if (rel.isEmpty) n else s"$rel/$n")
        } else if ((suffixes.exists(n.endsWith) &&
            !n.startsWith(".") && !n.startsWith("_")) ||
            // vacuum also reclaims crashed runs' half-written outputs —
            // `.<name>.tmp` in a data leaf (adopt never wants these)
            (includeHiddenTmps && n.startsWith(".") && n.endsWith(".tmp")))
          visit(e, if (rel.isEmpty) n else s"$rel/$n")
      }
    walk(root, "")
  }

  /** Default data suffixes (the feather face); the avro connector passes
    * its own. */
  val FeatherSuffixes: Seq[String] = Seq(".feather", ".arrow")

  /** Recursive (root-relative path, len) data-file listing — the seeding/
    * adoption face of [[walkDataFiles]] (hive `key=value` subdirectories
    * included; a flat listStatus would silently drop partitioned files). */
  def listDataFiles(fs: FileSystem, root: Path,
                    suffixes: Seq[String] = FeatherSuffixes): Seq[(String, Long)] = {
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    walkDataFiles(fs, root, suffixes)((e, rel) => files += ((rel, e.getLen)))
    files.toSeq
  }

  /** The shared DSv2 snapshot publish protocol, ONE definition for both
    * connectors (they previously carried near-verbatim copies that could
    * drift): legacy-directory seeding (recursive — a hive-partitioned
    * legacy table's subdirectory files must reach v1), empty-table
    * stamping (an overwrite/first-commit that lands zero parts must not
    * publish a zero-file manifest — the table would be unreadable at
    * head), and the commit itself. `stampPart` physically writes one
    * schema-only part and returns its (name, len); it is only invoked
    * when needed. Call AFTER the new parts are renamed into place.
    * Returns what the commit published (the writes report it as their
    * [[RowLevelCommitMetrics]]). */
  private[graft] def publishDataCommit(fs: FileSystem, root: Path,
                                       truncate: Boolean,
                                       suffixes: Seq[String],
                                       newParts: Seq[(String, Long)],
                                       stampPart: () => (String, Long))
      : RowLevelCommitMetrics.Report = {
    val newNames = newParts.map(_._1).toSet
    val legacySeed: Seq[(String, Long)] =
      if (!truncate && latestVersion(fs, root).isEmpty)
        listDataFiles(fs, root, suffixes).filterNot(f => newNames(f._1))
      else Nil
    // one parent read serves the emptiness check and the layout guard
    // (three separate listings/parses per publish would multiply commit
    // latency on an object store)
    val parentFiles0 =
      if (truncate) Nil
      else latestVersion(fs, root)
        .map(read(fs, root, _).files).getOrElse(Nil)
    val parentNonEmpty = !truncate && (legacySeed.nonEmpty ||
      parentFiles0.nonEmpty)
    val stamped =
      if (newParts.isEmpty && !parentNonEmpty) Seq(stampPart()) else Nil
    // layout guard (backstop — the sinks also pre-check BEFORE renaming
    // via requireRootAppendable, so a refused write leaves no residue),
    // run INSIDE the callback against the parent actually published over
    var parentSize = 0
    val version =
      commit(fs, root, if (truncate) "overwrite" else "append") { parent =>
        parentSize = parent.size
        val out =
          if (truncate) newParts ++ stamped
          else legacySeed ++ parent ++ newParts ++ stamped
        val chains = out.map(f => chainOf(f._1)).distinct
        require(chains.size <= 1, mixedLayoutMsg(root, chains))
        out
      }
    RowLevelCommitMetrics.Report(version,
      filesRemoved = if (truncate) parentSize else 0,
      filesKept = if (truncate) 0 else legacySeed.size + parentSize,
      partsAdded = newParts.size + stamped.size, dvsBound = 0)
  }

  private[graft] def chainOf(rel: String): Seq[String] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0) Some(seg.substring(0, i)) else None
    }

  private def mixedLayoutMsg(root: Path, chains: Seq[Seq[String]]): String =
    s"commit on $root would mix partition layouts " +
      s"(${chains.mkString(" vs ")}): the sinks write root-level parts " +
      "and cannot append into a hive key=value table — write each leaf " +
      "directory and adopt(), or restructure the append"

  /** Pre-RENAME guard for the batch sinks: a snapshot append must fail
    * BEFORE any part is renamed into the table when the existing state
    * (manifest or legacy listing) carries hive `key=value` paths — the
    * post-rename backstop would refuse the commit but leave orphaned
    * root parts behind that a later adopt() would mix into a
    * read-bricking manifest. */
  private[graft] def requireRootAppendable(fs: FileSystem, root: Path,
                                           suffixes: Seq[String]): Unit = {
    val existing =
      latestVersion(fs, root).map(read(fs, root, _).files)
        .getOrElse(if (fs.exists(root)) listDataFiles(fs, root, suffixes)
                   else Nil)
    val chains = existing.map(f => chainOf(f._1)).distinct
    require(chains.forall(_.isEmpty), mixedLayoutMsg(root, chains))
  }

  /** Shared per-EPOCH manifest publish for both streaming sinks. Appends
    * only parts NO retained version has ever referenced: a crash between
    * an epoch's renames and its manifest publish is healed by the replay
    * (the parts are novel — they join the manifest), while a replay that
    * races LATER maintenance (compaction/delete retired the parts after
    * the original publish) finds them in the retained history and leaves
    * them retired — re-appending would resurrect deleted rows or
    * duplicate compacted data. The layout guard runs INSIDE the commit
    * callback, against the parent the commit actually publishes over
    * (race-free, no extra manifest read). No-op on non-snapshotted
    * directories. */
  /** Per-table ever-referenced cache for [[publishEpoch]]: (incarnation,
    * high-water version scanned, union of file names referenced by
    * versions up to it). Manifests are immutable and versions only grow,
    * so the cache is refreshed by reading ONLY versions above the high
    * water — O(new versions) per epoch instead of O(all retained
    * versions) (quadratic over a long-running stream). Staleness is
    * one-directional and safe: the cached names can only keep a replayed
    * part RETIRED — never resurrect one.
    *
    * The incarnation is (oldest retained version, that manifest's commit
    * ts): a table dropped and recreated at the same path — even one that
    * races back up to the old version count before the next epoch — gets
    * a different v1 timestamp, so the stale cache resets instead of
    * silently retiring the new table's replayed parts. expire() also
    * moves the oldest version, which resets too: a spurious reset only
    * costs one full rescan, never correctness. */
  private val epochRefCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, ((Long, Long), Long, Set[String])]()

  private[graft] def publishEpoch(fs: FileSystem, root: Path,
                                  parts: Seq[(String, Long)]): Unit = {
    if (parts.isEmpty || !enabled(fs, root)) return
    val d = snapDir(root)
    val versions: Seq[Long] = fs.listStatus(d).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq
    val key = root.toString
    // one header-only manifest read per epoch buys the incarnation
    // identity ([[readTs]]), retrying through a relisting if a concurrent
    // expire() deletes the oldest manifest mid-probe — an empty versions
    // list (fresh _snapshots dir, first commit pending) has no
    // incarnation and always resets the cache
    val inc: Option[(Long, Long)] =
      incarnationFrom(fs, root, versions.minOption)
    val cached = Option(epochRefCache.get(key))
      .filter { case (i, hw, _) =>
        inc.contains(i) && versions.nonEmpty && versions.max >= hw }
      .map { case (_, hw, names) => (hw, names) }
      .getOrElse((0L, Set.empty[String]))
    val fresh = versions.filter(_ > cached._1).sorted
    // raw contributions suffice (full manifests: their file list; deltas:
    // their adds) — a delta's carried-over names were already counted
    // when the version that added them was scanned, and the first scan
    // always starts from a full manifest (readAll invariant), so the
    // union equals the union of full reconstructions without any chain
    // walks
    val everReferenced: Set[String] = cached._2 ++
      fresh.flatMap { v =>
        val r = readRaw(fs, root, v)
        r.full.getOrElse(r.add).map(_._1)
      }
    if (fresh.nonEmpty)
      inc.foreach(i =>
        epochRefCache.put(key, (i, fresh.max, everReferenced)))
    val novel = parts.filterNot(p => everReferenced(p._1))
    if (novel.isEmpty) return
    commit(fs, root, "append") { parent =>
      val out = parent ++ novel
      val chains = out.map(f => chainOf(f._1)).distinct
      require(chains.size <= 1, mixedLayoutMsg(root, chains))
      out
    }: Unit
  }

  /** Manifest-planned discovery when the table is snapshotted, directory
    * walk otherwise — the single definition both connectors' discovery
    * objects delegate to. */
  def discoverOrWalk(spark: org.apache.spark.sql.SparkSession, path: String,
                     versionAsOf: Option[Long],
                     suffixes: Seq[String]): FeatherPartitions.Discovered = {
    val rp = new Path(path)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolve(fs, rp, versionAsOf) match {
      case Some(snap) => toDiscovered(rp, snap)
      case None => FeatherPartitions.discover(spark, path, suffixes)
    }
  }

  /** Delete data files NO retained manifest references and whose
    * modification time is older than `graceMillis` — the reclamation pass
    * for orphans a crashed mutation/cluster/compaction run left behind
    * (committed parts whose snapshot publish never happened).
    *
    * Safety: parts of a mutation/cluster run targeting a version NEWER
    * than the latest committed manifest (`mut-v…`/`clust-v…` with
    * v > latest) are never touched regardless of age — those are the
    * in-flight (or reclaim-on-retry) generation. For everything else the
    * grace window applies; note a long rewrite renames its EARLIEST
    * parts long before its manifest commits, so choose `graceMillis`
    * longer than any maintenance job's runtime (the version guard
    * already covers the common mutation/cluster case; the grace bound is
    * the backstop for foreign part names). Returns files removed. */
  def vacuumOrphans(fs: FileSystem, root: Path,
                    graceMillis: Long = 7L * 24 * 3600 * 1000,
                    suffixes: Seq[String] = FeatherSuffixes): Int =
    vacuumOrphansImpl(fs, root, graceMillis, suffixes,
      dryRun = false).size

  /** [[vacuumOrphans]] without deleting anything: the root-relative
    * paths the real pass WOULD reclaim — the operational preview an
    * operator wants before pointing a deletion pass at a 100-TB
    * table. */
  def vacuumOrphansDryRun(fs: FileSystem, root: Path,
                          graceMillis: Long = 7L * 24 * 3600 * 1000,
                          suffixes: Seq[String] = FeatherSuffixes)
      : Seq[String] =
    vacuumOrphansImpl(fs, root, graceMillis, suffixes, dryRun = true)

  private def vacuumOrphansImpl(fs: FileSystem, root: Path,
                                graceMillis: Long, suffixes: Seq[String],
                                dryRun: Boolean): Seq[String] = {
    if (!enabled(fs, root)) return Nil
    val latest = latestVersion(fs, root).getOrElse(0L)
    // every retained version reconstructed once (one manifest read each);
    // a file (or DV sidecar) ANY retained version references is live,
    // never an orphan
    val allSnaps = readAll(fs, root)
    val referenced: Set[String] =
      allSnaps.flatMap(_.files.map(_._1)).toSet ++
        allSnaps.flatMap(_.dvs.values.map(_._1))
    // `dv-v…` joins the in-flight prefixes: a DV written for a pending
    // delete commit (target version > latest) must survive regardless of
    // age, exactly like a mutation/cluster part awaiting its manifest
    val inFlight = raw"(?:mut|clust|dv)-v(\d+)-.*".r
    val cutoff = System.currentTimeMillis() - graceMillis
    // derive data suffixes from the manifests themselves in addition to
    // the caller's (vacuuming an avro table with the feather defaults
    // would otherwise silently reclaim nothing); ".dv" always walks so a
    // crashed DV delete's unreferenced sidecars reclaim too
    val effSuffixes = (suffixes ++ Seq(".dv") ++ referenced.flatMap { n =>
      val i = n.lastIndexOf('.')
      if (i > 0) Some(n.substring(i)) else None
    }).distinct
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    walkDataFiles(fs, root, effSuffixes, includeHiddenTmps = true) {
      (e, relPath) =>
      val n = e.getPath.getName
      if (e.isDirectory) {
        // a `_tmp-<prefix>` staging directory: in-flight while its
        // embedded mutation/cluster target version is above the head
        // (same guard as the part names it stages); a crashed USER
        // write's staging (`_tmp-pq-…`, no version) is governed by the
        // grace window alone
        val pending = n.stripPrefix("_tmp-") match {
          case inFlight(v) => v.toLong > latest
          case _ => false
        }
        if (!pending && e.getModificationTime < cutoff) {
          if (dryRun) removed += relPath
          else if (fs.delete(e.getPath, true)) removed += relPath
        }
      } else if (n.startsWith(".") && n.endsWith(".tmp")) {
        // a crashed run's half-written output (snapshot-mode outputs are
        // run-unique, so no re-run ever reclaims the name): NEVER
        // referenced — committed parts are never hidden — so only the
        // in-flight prefix and the grace window gate it
        val pending = n.drop(1).stripSuffix(".tmp") match {
          case inFlight(v) => v.toLong > latest
          case _ => false
        }
        if (!pending && e.getModificationTime < cutoff) {
          if (dryRun) removed += relPath
          else if (fs.delete(e.getPath, false)) removed += relPath
        }
      } else {
        val pending = n match {
          case inFlight(v) => v.toLong > latest
          case _ => false
        }
        if (!pending && !referenced(relPath) &&
            e.getModificationTime < cutoff) {
          if (dryRun) removed += relPath
          else if (fs.delete(e.getPath, false)) {
            removed += relPath
            fs.delete(new Path(e.getPath.getParent,
              e.getPath.getName + ".stats.json"), false)
            fs.delete(new Path(e.getPath.getParent,
              e.getPath.getName + ".bloom"), false)
          }
        }
      }
    }
    removed.toSeq
  }

  /** Adopt an existing listing-based feather directory into the snapshot
    * tier: walk the layout ONCE (flat or hive `key=value`), publish v1
    * referencing every data file in place. Nothing is rewritten or moved —
    * the migration path for an existing large directory (one listing pass
    * + one manifest write, then every later read plans in O(1) and every
    * later write commits atomically). Loud if the table is already
    * snapshotted: adoption is a one-time conversion, not a refresh. */
  def adopt(fs: FileSystem, root: Path,
            suffixes: Seq[String] = FeatherSuffixes): Long = {
    require(!enabled(fs, root),
      s"$root already has a $Dir directory — adopt converts a " +
        "listing-based table exactly once")
    val files = listDataFiles(fs, root, suffixes)
    require(files.nonEmpty,
      s"adopt: no ${suffixes.mkString("/")} files under $root")
    // a directory mixing root-level and key=value files would publish a
    // manifest no read can plan — refuse at adoption, name the residue
    val chains = files.map(f => chainOf(f._1)).distinct
    require(chains.size <= 1,
      s"adopt on $root: mixed partition layouts (${chains.mkString(" vs ")})" +
        " — remove the stray root-level parts (e.g. a refused append's " +
        "residue) or restructure before adopting")
    commit(fs, root, "adopt")(_ => files.toSeq)
  }

  /** RESTORE (Delta RESTORE TABLE ... TO VERSION AS OF): roll the table
    * HEAD back to `toVersion`'s content by publishing a NEW version that
    * references the old version's file set — history is preserved (the
    * rolled-back versions still time-travel until expire()), nothing is
    * rewritten or deleted, and the operation is itself one atomic
    * commit. Loud when the target version (or any file it references)
    * is expired. Returns the new head version. */
  def restore(fs: FileSystem, root: Path, toVersion: Long): Long = {
    // read() is the expiry guard: a retired version's manifest is deleted
    // BEFORE its files (expire order), and vacuumOrphans never touches
    // files a retained manifest references — so a readable manifest
    // implies live files, and a per-file existence sweep here would be
    // O(files) object-store round-trips buying nothing
    val target = read(fs, root, toVersion)
    // DV bindings restore WITH the file set: the target version's
    // deleted rows stay deleted, rows deleted after it come back
    commitDv(fs, root, "restore")((_, _) => (target.files, target.dvs))
  }

  /** The version history as rows for a `describeHistory` frame:
    * (version, parent, op, commit ts millis, file count, total bytes) in
    * ascending version order — one manifest read per retained version. */
  def history(fs: FileSystem, root: Path)
      : Seq[(Long, Long, String, Long, Int, Long)] =
    readAll(fs, root).map(s =>
      (s.version, s.parent, s.op, s.ts, s.files.size, s.files.map(_._2).sum))

  /** Retention-DURATION expire (the Delta VACUUM retention shape): retire
    * every snapshot whose commit timestamp is older than
    * `retentionMillis`, always keeping the head — the policy form a
    * compliance pipeline states ("erasure becomes physical after N
    * days") where [[expire]] is the count form. Delegates to [[expire]],
    * so the checkpoint-materialization and crash-ordering guarantees are
    * the same. */
  def expireOlderThan(fs: FileSystem, root: Path,
                      retentionMillis: Long): (Int, Int) = {
    require(retentionMillis >= 0,
      s"retentionMillis must be >= 0, got $retentionMillis")
    val snaps = readAll(fs, root)
    if (snaps.isEmpty) return (0, 0)
    val cutoff = System.currentTimeMillis() - retentionMillis
    // drop only the leading RUN of too-old snapshots: expire() retires by
    // position, and with a non-monotonic clock a young snapshot can sit
    // below an old one — counting young snapshots globally would let the
    // positional expire destroy history inside the retention window
    val dropPrefix = snaps.takeWhile(_.ts < cutoff).size
    expire(fs, root, math.max(1, snaps.size - dropPrefix))
  }

  /** Retire all but the last `keepLast` snapshots and DELETE every data
    * file (and its stats sidecar) no kept snapshot references. Returns
    * (snapshots removed, data files removed). */
  def expire(fs: FileSystem, root: Path, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val snaps = readAll(fs, root)
    if (snaps.isEmpty) return (0, 0)
    val (drop, keep) = snaps.splitAt(math.max(0, snaps.size - keepLast))
    if (drop.isEmpty) return (0, 0)
    // materialize the oldest KEPT version as a full checkpoint BEFORE the
    // chain below it is deleted — every kept version must stay
    // reconstructible after the prefix removal. The overwrite is safe:
    // same version, same reconstructed file set, only the storage form
    // changes; and it runs before any deletion, so a crash here leaves a
    // fully intact log for the retry.
    val oldest = keep.head
    if (readRaw(fs, root, oldest.version).full.isEmpty) {
      val node = baseNode(oldest.version, oldest.parent, oldest.op, oldest.ts)
      node.put("files", pairsJson(oldest.files))
      if (oldest.dvs.nonEmpty) node.put("dv", dvJson(oldest.dvs))
      writeManifest(fs, root, oldest.version, node, overwrite = true)
    }
    val kept: Set[String] = keep.flatMap(_.files.map(_._1)).toSet
    val dropped: Set[String] = drop.flatMap(_.files.map(_._1)).toSet
    // deletion-vector sidecars expire exactly like data files: a DV no
    // kept version binds is dead weight (and, for a folded delete, the
    // last trace of WHICH rows were dropped — retiring it is part of the
    // same compliance step that erases the rows physically)
    val keptDv: Set[String] = keep.flatMap(_.dvs.values.map(_._1)).toSet
    val droppedDv: Set[String] = drop.flatMap(_.dvs.values.map(_._1)).toSet
    var removedFiles = 0
    // delete unreferenced data files first, manifests last: a crash
    // mid-expire leaves dangling manifests (loud on read), never kept
    // versions with missing files
    (dropped -- kept).toSeq.sorted.foreach { rel =>
      val p = new Path(root, rel)
      if (fs.delete(p, false)) removedFiles += 1
      fs.delete(new Path(p.getParent, p.getName + ".stats.json"), false)
      fs.delete(new Path(p.getParent, p.getName + ".bloom"), false)
    }
    (droppedDv -- keptDv).toSeq.sorted.foreach { rel =>
      fs.delete(new Path(root, rel), false): Unit
    }
    // dropped manifests go in DESCENDING version order: at every instant
    // the surviving prefix is a valid chain (v1's full manifest is the
    // LAST to go), so a crash mid-loop leaves readAll — and the expire
    // retry itself — working; ascending deletion would strand a delta as
    // the oldest survivor and trip the torn-expire check forever
    drop.sortBy(-_.version)
      .foreach(s => fs.delete(snapPath(root, s.version), false))
    (drop.size, removedFiles)
  }

  /** A snapshot's file list as discovery output: partition values parsed
    * from `key=value/` segments of the RELATIVE paths — same contract as
    * the walking discovery, no listing involved. */
  def toDiscovered(root: Path, snap: Snapshot)
      : FeatherPartitions.Discovered = {
    val leaves = snap.files.map { case (rel, len) =>
      val segs = rel.split('/')
      val values = segs.dropRight(1).toSeq.flatMap { seg =>
        val eq = seg.indexOf('=')
        if (eq <= 0) None
        else {
          val raw = seg.substring(eq + 1)
          Some(FeatherPartitions.unescapePath(seg.substring(0, eq)) ->
            (if (raw == FeatherPartitions.HiveNull) null
             else FeatherPartitions.unescapePath(raw)))
        }
      }
      FeatherPartitions.LeafFile(new Path(root, rel).toString, len, values,
        snap.dvs.get(rel).map { case (dvRel, n) =>
          (new Path(root, dvRel).toString, n) })
    }
    require(leaves.nonEmpty,
      s"feather snapshot v${snap.version} under $root lists no files")
    val chains = leaves.map(_.values.map(_._1)).distinct
    require(chains.size == 1,
      s"inconsistent partition layouts in snapshot v${snap.version}: " +
        chains.mkString(" vs "))
    FeatherPartitions.Discovered(chains.head, leaves.sortBy(_.file))
  }
}
