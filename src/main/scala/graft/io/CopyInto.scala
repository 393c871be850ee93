package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.FeatherSnapshots

/** COPY INTO — idempotent batch file ingestion into a snapshot table
  * (the operational loader statement: Delta/Snowflake `COPY INTO`
  * semantics). Re-running never double-ingests: each run lists the
  * source directory, diffs against a per-table LEDGER of
  * already-ingested source paths, reads only the new files, and lands
  * them as ONE append commit. A crawl pipeline re-runs its loader after
  * every failure without bookkeeping of its own. (Reference anchor: the
  * reference reads files eagerly per call — `python/cudf/cudf/io/
  * parquet.py read_parquet`, `csv.py read_csv` — and leaves
  * already-seen tracking to the caller; a distributed 100-TB ingest
  * needs the exactly-once ledger in the table itself.)
  *
  * Exactly-once protocol (`_copy/` beside `_snapshots/`):
  *  1. `intent-v{K+1}.json` is written CREATE-EXCLUSIVE before any read
  *     — two concurrent copiers serialize here; the loser refuses
  *     loudly instead of double-ingesting.
  *  2. The batch reads through Spark's own format readers and appends
  *     via the shared INSERT alignment/routing (by-name, lossless-cast
  *     rule, per-leaf partitioned routing), with every part name
  *     carrying a DIGEST of the sorted new-file list.
  *  3. `ledger-v{K+1}.json` publishes (a DELTA carrying only the
  *     batch; every 16th entry is a checkpoint with the cumulative
  *     set), then the intent deletes.
  * Crash healing: an intent without its ledger is resolved on the next
  * run — if parts tagged with the intent's digest exist in a retained
  * version, the batch COMMITTED and the ledger is rewritten from the
  * intent (never re-ingesting); if no tagged parts exist the batch
  * never landed, and the run refuses by default (an in-flight copier
  * looks the same) unless `healStale = true` discards the intent.
  *
  * Scale: per-run ledger bytes are O(batch) (the ledger is its own
  * delta log — every 16th entry checkpoints the cumulative set and
  * prunes the history below it); only NEW files are read, so read work
  * is ∝ the batch. The one O(source history) term is the LISTING —
  * inherent to diffing (you cannot diff what you do not list). At
  * scale, stage each batch in its own SUBDIRECTORY and point the run
  * at it: the ledger is keyed by absolute path, so one table's ledger
  * spans any number of source dirs and each run lists only its batch
  * (ScaleRehearsal copyinto: flat 0.6 s subdir increments while the
  * whole-dir listing grows linearly). The append commits through the
  * normal conflict matrix.
  *
  * Contract notes: source files are keyed by PATH (the Delta COPY INTO
  * contract) — a file rewritten in place under the same name is NOT
  * re-ingested; for csv/json the table's schema is imposed on the
  * reader (csv sources must carry the table's columns in table order,
  * json aligns by name); self-describing formats (parquet/orc/avro/
  * feather) align by name with missing columns reading NULL and extra
  * columns refusing (a COPY never evolves the schema by accident). */
object CopyInto {

  final case class Report(version: Long, filesIngested: Int,
                          filesSkipped: Int, bytesSource: Long)

  private val LedgerDir = "_copy"
  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** TEST seam for the claim-race spec: runs once, after the intent
    * claim lands and before the ledger-head re-check — the window a
    * COMPLETE competing run can fit into. One-shot (cleared before
    * invoking, the FeatherSnapshots.testBeforeMutationCommit pattern). */
  private[graft] var testAfterClaim: () => Unit = () => ()

  private def ledgerPath(root: Path, k: Long) =
    new Path(new Path(root, LedgerDir), f"ledger-v$k%08d.json")
  private def intentPath(root: Path, k: Long) =
    new Path(new Path(root, LedgerDir), f"intent-v$k%08d.json")

  private def readJson(fs: FileSystem, p: Path)
      : com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(p)
    val txt =
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    mapper.readTree(txt)
  }

  /** Create-exclusive JSON write — the same publish primitive the
    * manifests use, so two copiers (or a copier and a replay) can
    * never both claim the same ledger slot. */
  private def writeExclusive(fs: FileSystem, p: Path, json: String)
      : Boolean =
    try {
      val out = fs.create(p, false)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  private def filesArray(paths: Seq[String]): String = {
    val arr = mapper.createArrayNode()
    paths.foreach(arr.add)
    mapper.writeValueAsString(arr)
  }

  /** Every [[CheckpointEvery]]-th ledger entry is a CHECKPOINT carrying
    * the complete cumulative set; the rest are DELTAS carrying only
    * their batch — per-run write bytes stay O(batch), and reconstruction
    * folds ≤ CheckpointEvery entries (the manifest tier's delta-log
    * shape). A checkpoint also deletes the entries BELOW it (never
    * walked again), so retained ledger bytes stay O(ingested files +
    * CheckpointEvery batches) instead of O(runs × files). */
  private[io] val CheckpointEvery = 16L

  /** Publish ledger entry `k`: `batch` = this entry's new files,
    * `all` = the cumulative set (serialized only at checkpoints). */
  private def publishLedger(fs: FileSystem, root: Path, k: Long,
                            commitVersion: Long, batch: Seq[String],
                            all: => Set[String]): Boolean = {
    val full = k == 1L || k % CheckpointEvery == 0L
    val node = mapper.createObjectNode()
    node.put("commitVersion", commitVersion)
    node.put("full", full)
    node.set[com.fasterxml.jackson.databind.JsonNode]("files",
      mapper.readTree(filesArray(
        if (full) all.toSeq.sorted else batch.sorted)))
    val ok = writeExclusive(fs, ledgerPath(root, k),
      mapper.writeValueAsString(node))
    if (ok && full)
      // entries below a checkpoint are never read again
      (math.max(1L, k - 3 * CheckpointEvery) until k).foreach(v =>
        fs.delete(ledgerPath(root, v), false))
    ok
  }

  /** Latest ledger number and the reconstructed cumulative ingested set
    * (empty when no COPY ever ran), plus any unresolved intent numbers
    * > K. Reconstruction walks back from K to the nearest checkpoint
    * (`full`; legacy entries without the field count as full — they
    * predate the delta shape and carried the whole set). */
  private def loadLedger(fs: FileSystem, root: Path)
      : (Long, Set[String], Seq[Long]) = {
    val dir = new Path(root, LedgerDir)
    if (!fs.exists(dir)) return (0L, Set.empty, Nil)
    val names = fs.listStatus(dir).map(_.getPath.getName).toSeq
    val ledgers = names.collect {
      case n if n.startsWith("ledger-v") && n.endsWith(".json") =>
        n.stripPrefix("ledger-v").stripSuffix(".json").toLong }
    val k = if (ledgers.isEmpty) 0L else ledgers.max
    var ingested = Set.empty[String]
    if (ledgers.nonEmpty) {
      // a RACING copier can publish a checkpoint and prune entries
      // below it mid-walk — on a missing link, re-list and restart the
      // reconstruction ONCE from the (necessarily newer) head before
      // declaring the chain broken
      def reconstruct(from: Long): Option[Set[String]] = {
        var v = from
        var folded = List.empty[Seq[String]]
        var done = false
        while (!done) {
          val n =
            try readJson(fs, ledgerPath(root, v))
            catch { case _: java.io.FileNotFoundException => return None }
          val arr = n.get("files")
          folded ::= (0 until arr.size()).map(arr.get(_).asText())
          done = !n.has("full") || n.get("full").asBoolean() || v == 1L
          if (!done && !fs.exists(ledgerPath(root, v - 1))) return None
          v -= 1
        }
        Some(folded.flatten.toSet)
      }
      ingested = reconstruct(k).orElse {
        val again = fs.listStatus(dir).map(_.getPath.getName).collect {
          case n if n.startsWith("ledger-v") && n.endsWith(".json") =>
            n.stripPrefix("ledger-v").stripSuffix(".json").toLong }
        if (again.nonEmpty) reconstruct(again.max) else None
      }.getOrElse(sys.error(
        s"copy ledger chain broken under $root/$LedgerDir: a delta's " +
          "parent entry is missing and a re-listed walk still fails — " +
          "either the directory was modified by hand, or a concurrent " +
          "copier is checkpointing right now (retry)"))
    }
    val intents = names.collect {
      case nm if nm.startsWith("intent-v") && nm.endsWith(".json") =>
        nm.stripPrefix("intent-v").stripSuffix(".json").toLong }
      .filter(_ > k).sorted
    // stale intents at or below the ledger head were superseded by a
    // successful publish that crashed before its cleanup delete
    names.collect {
      case nm if nm.startsWith("intent-v") && nm.endsWith(".json") =>
        nm.stripPrefix("intent-v").stripSuffix(".json").toLong }
      .filter(_ <= k)
      .foreach(v => fs.delete(intentPath(root, v), false))
    (k, ingested, intents)
  }

  private def sha12(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.sorted.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** Did the digest-tagged batch land? Scans the retained versions
    * AFTER the intent's recorded head — the crash window is one run,
    * so this is a handful of manifests, newest first for the common
    * immediate-restart case. */
  private def committedVersion(fs: FileSystem, root: Path,
                               afterVersion: Long, digest: String)
      : Option[Long] = {
    val latest = FeatherSnapshots.latestVersion(fs, root).getOrElse(0L)
    val tag = s"copy-$digest-"
    (latest to math.max(afterVersion + 1, 1L) by -1L).find { v =>
      scala.util.Try(FeatherSnapshots.read(fs, root, v).files
        .exists(_._1.contains(tag))).getOrElse(false)
    }
  }

  /** List the source: recursive, hidden files skipped, optional GLOB
    * on the file NAME. Returns (absolute path, byte length). */
  private def listSource(fs: FileSystem, src: Path,
                         pattern: Option[String]): Seq[(String, Long)] = {
    val glob = pattern.map(new org.apache.hadoop.fs.GlobPattern(_))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // hidden segments (_SUCCESS, _snapshots/, .crc) are judged BELOW the
    // source root only — a source dir that itself lives under a
    // _staging/-style ancestor must not silently list empty
    val rootPrefix = fs.makeQualified(src).toString.stripSuffix("/") + "/"
    val it = fs.listFiles(src, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val rel = st.getPath.toString.stripPrefix(rootPrefix)
      val hidden = rel.split('/').exists(s =>
        s.startsWith("_") || s.startsWith("."))
      // the graft writers' skipping-index sidecars
      // (`<part>.<data-ext>.stats.json`) are service files riding beside
      // the data parts — listing them as batch files would feed JSON to
      // an avro/feather/parquet read. Match the exact sidecar naming,
      // never bare `*.stats.json`: a json/csv source may legitimately
      // ship a data file called metrics.stats.json
      val sidecar = Seq(".feather", ".arrow", ".parquet", ".avro", ".orc")
        .exists(ext => name.endsWith(ext + ".stats.json"))
      if (!hidden && !sidecar && st.isFile && glob.forall(_.matches(name)))
        out += ((st.getPath.toString, st.getLen))
    }
    out.sortBy(_._1).toSeq
  }

  def run(spark: SparkSession, path: String, sourceDir: String,
          format: String, options: Map[String, String] = Map.empty,
          pattern: Option[String] = None, healStale: Boolean = false,
          codec: String = "lz4"): Report = {
    val op = "COPY INTO"
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op graft.`$path`: $msg")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(FeatherSnapshots.enabled(fs, root),
      s"$op on $path, which has no ${FeatherSnapshots.Dir} directory — " +
        "COPY INTO ingests into an EXISTING table; create one with the " +
        "write APIs or option(\"snapshots\", \"true\") first")
    val snap = FeatherSnapshots.resolve(fs, root, None).getOrElse(
      sys.error(s"$op on $path: no snapshot versions"))
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    val knownFmts = Set("parquet", "orc", "avro", "json", "csv", "feather")
    if (!knownFmts(fmt))
      bad(s"unknown source format '$format' (one of " +
        s"${knownFmts.toSeq.sorted.mkString(", ")})")

    // ---- ledger + crash healing --------------------------------------------
    val (k0, ingested0, intents) = loadLedger(fs, root)
    var k = k0
    var ingested = ingested0
    // the table version healing (below) proves committed — a no-op run
    // after a crash-heal must report the HEALED head, not the snapshot
    // resolved before healing ran
    var healedVersion = snap.version
    intents.foreach { iv =>
      // a racing copier may resolve (and delete) this intent between
      // our listing and this read — its healing supersedes ours, and
      // any staleness in our k is caught by the post-claim re-check
      val inOpt =
        try Some(readJson(fs, intentPath(root, iv)))
        catch { case _: java.io.FileNotFoundException => None }
      if (inOpt.isEmpty) return run(spark, path, sourceDir, format,
        options, pattern, healStale, codec) // restart on the new state
      val in = inOpt.get
      val digest = in.get("digest").asText()
      val after = in.get("headVersion").asText().toLong
      val files = {
        val a = in.get("files")
        (0 until a.size()).map(a.get(_).asText())
      }
      committedVersion(fs, root, after, digest) match {
        case Some(v) =>
          // the batch COMMITTED; the crash hit between commit and
          // ledger publish — heal the ledger from the intent, never
          // re-ingesting
          if (!publishLedger(fs, root, iv, v, files,
              ingested ++ files))
            bad(s"healing intent v$iv: ledger slot already taken — " +
              "another copier is resolving the same crash; retry")
          fs.delete(intentPath(root, iv), false)
          k = iv
          ingested ++= files
          healedVersion = math.max(healedVersion, v)
        case None if healStale =>
          // never landed: crash residue before the commit — discard
          fs.delete(intentPath(root, iv), false)
        case None =>
          bad(s"unresolved COPY intent v$iv (digest $digest) with no " +
            "committed parts — another COPY INTO may be IN FLIGHT on " +
            "this table, or a previous one crashed before its commit. " +
            "If no copier is running, re-run with healStale = true to " +
            "discard the stale intent. CAUTION: if versions were " +
            "EXPIRED since the crash, a committed batch can look " +
            "uncommitted here (the tagged parts' manifests are gone) — " +
            "healStale would then re-ingest it; check the expire " +
            "history before forcing")
      }
    }

    // ---- diff the source against the ledger ---------------------------------
    val srcRoot = new Path(sourceDir)
    val srcFs = srcRoot.getFileSystem(conf)
    require(srcFs.exists(srcRoot), s"$op: source $sourceDir does not exist")
    val listed = listSource(srcFs, srcRoot, pattern)
    val fresh = listed.filterNot { case (p, _) => ingested(p) }
    val skipped = listed.size - fresh.size
    if (fresh.isEmpty) return Report(healedVersion, 0, skipped, 0L)
    val digest = sha12(fresh.map(_._1))

    // ---- claim the batch (serializes concurrent copiers) --------------------
    fs.mkdirs(new Path(root, LedgerDir))
    val intentNode = mapper.createObjectNode()
    intentNode.put("headVersion", snap.version)
    intentNode.put("digest", digest)
    intentNode.set[com.fasterxml.jackson.databind.JsonNode]("files",
      mapper.readTree(filesArray(fresh.map(_._1))))
    if (!writeExclusive(fs, intentPath(root, k + 1),
        mapper.writeValueAsString(intentNode)))
      bad(s"another COPY INTO is in flight on this table (intent " +
        s"v${k + 1} exists); retry after it finishes")
    locally { // TEST seam: the claim→re-check window (one-shot)
      val hook = testAfterClaim; testAfterClaim = () => (); hook()
    }
    // RE-CHECK the ledger head now that the claim is exclusive: a whole
    // competing run (claim → ingest → publish → release) can fit inside
    // the window between our loadLedger and our claim, in which case OUR
    // claim landed at a number the winner already published — diffing
    // against the stale set would re-ingest its batch. After this check
    // the claim is sound: any later copier computes the same k and its
    // create-exclusive claim fails against our intent.
    locally {
      val headNow = fs.listStatus(new Path(root, LedgerDir))
        .map(_.getPath.getName).collect {
          case n if n.startsWith("ledger-v") && n.endsWith(".json") =>
            n.stripPrefix("ledger-v").stripSuffix(".json").toLong }
      if (headNow.nonEmpty && headNow.max != k) {
        fs.delete(intentPath(root, k + 1), false)
        bad(s"lost a race with a concurrent COPY INTO (ledger advanced " +
          s"$k -> ${headNow.max} while claiming); retry — the next run " +
          "diffs against the winner's ledger")
      }
    }

    try {
      // ---- read ONLY the new files and append as one tagged commit ----------
      // csv/json impose the TABLE's schema (csv columns must arrive in
      // table order; json aligns by name); self-describing formats carry
      // their own and align by name in the shared insert path. Schemaful
      // multi-file reads merge footers (a batch whose files disagree must
      // hit the by-name refusal DETERMINISTICALLY, not per whichever
      // footer the reader samples). The graft connectors (feather, avro)
      // take ONE path per scan — batches read per file and union.
      val df: DataFrame = fmt match {
        case "avro" =>
          // Spark ships no avro SQL reader in this build; the graft-avro
          // connector reads plain files too. Avro has no schema-merge
          // semantics, so the batch's headers are pre-scanned (schema
          // only, no rows, O(batch) driver-side opens) and a
          // disagreement refuses outright — reading under the first
          // file's schema would silently drop later files' extra
          // columns. With agreement proven, the per-file scans union
          // positionally.
          val scans = fresh.map { case (p, _) =>
            p -> spark.read.format("graft-avro").options(options).load(p) }
          val (p0, d0) = scans.head
          scans.find(_._2.schema != d0.schema).foreach { case (p1, d1) =>
            bad(s"avro batch files disagree on schema — '$p0' reads " +
              s"${d0.schema.simpleString} but '$p1' reads " +
              s"${d1.schema.simpleString}; avro multi-file reads have " +
              "no schema merge, so a mixed batch would silently read " +
              "under one file's schema. Split the batch by schema " +
              "(COPY INTO with a pattern per generation) or convert " +
              "the source to parquet/orc") }
          scans.map(_._2).reduce(_.union(_))
        case "feather" =>
          // per-file scans merged by NAME with null-fill, the same
          // union schema a parquet/orc mergeSchema read produces — so a
          // batch whose files disagree hits the insert path's
          // deterministic evolution refusal exactly like the footer
          // formats
          fresh.map { case (p, _) =>
            spark.read.format("feather").options(options)
              .option("mergeSchema", "true").load(p) }
            .reduce(_.unionByName(_, allowMissingColumns = true))
        case _ =>
          val reader = spark.read.format(fmt).options(options)
          val configured =
            if (fmt == "csv" || fmt == "json")
              reader.schema(TableInserts.tableFullSchema(spark, path))
            else reader.option("mergeSchema", "true")
          configured.load(fresh.map(_._1): _*)
      }
      // the imposed schema (csv/json) and self-describing sources both
      // arrive table-named — BY NAME alignment covers every format
      val r = TableInserts.append(spark, path, df, codec = codec,
        tag = s"copy-$digest-")
      // ---- publish the ledger, release the intent ----------------------------
      if (!publishLedger(fs, root, k + 1, r.version, fresh.map(_._1),
          ingested ++ fresh.map(_._1)))
        bad(s"ledger v${k + 1} already exists after this run's commit — " +
          "the _copy directory was modified concurrently; the batch " +
          s"committed as v${r.version} (digest $digest); heal on the " +
          "next run")
      fs.delete(intentPath(root, k + 1), false)
      Report(r.version, fresh.size, skipped, fresh.map(_._2).sum)
    } catch {
      case e: Throwable =>
        // a refusal BEFORE any commit must not leave a blocking intent;
        // a crash (process death) cannot reach here and heals next run
        if (committedVersion(fs, root, snap.version, digest).isEmpty)
          fs.delete(intentPath(root, k + 1), false)
        throw e
    }
  }
}
