package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{FeatherSnapshots, FeatherTimeTravel}

/** The user-facing PARQUET table: Spark's native parquet format under
  * the graft snapshot tier — atomic commits, time travel, row-level
  * DELETE/MERGE, deletion vectors, CDF, OPTIMIZE/ZORDER, restore/expire/
  * vacuum, and the `graft_*` SQL table functions, all over the format a
  * 100-TB corpus actually stores. The north star is "DataFrame API over
  * Parquet/ORC" (the reference reads parquet natively,
  * python/cudf/cudf/io/parquet.py); this face adds what a plain parquet
  * DIRECTORY lacks — the table semantics.
  *
  * Everything below the surface is shared machinery: manifests and the
  * commit protocol are [[graft.sources.FeatherSnapshots]] (format-
  * agnostic), mutations/compaction/clustering/CDF program against
  * [[ConnectorFace]] and auto-detect the parquet face from the
  * manifest's part suffixes. The READ path is Spark's own vectorized
  * parquet scan over the manifest's file list — predicate pushdown,
  * column pruning, row-group skipping, and whole-stage codegen all
  * intact; deletion vectors filter via `_metadata.row_index` anti-joins
  * on the DV-bound minority of files only ([[GraftParquet.readFiles]]).
  *
  * Layouts: [[write]]/[[append]] produce flat root-level tables, or,
  * with `partitionBy`, hive `key=value` leaves written by the engine's
  * one leaf writer ([[LeafParts]], one part per leaf); an existing
  * hive-partitioned parquet directory joins the tier via [[adopt]] —
  * nothing is moved or rewritten. [[read]] reconstructs the partition
  * columns from the manifest paths through the scan's basePath, so
  * partition pruning keeps working. */
object ParquetTable {

  val Suffixes: Seq[String] = Seq(GraftParquet.Suffix)

  /** Overwrite `path` with `df` as a snapshotted parquet table: parts
    * land via Spark's parquet writer + rename, then ONE manifest commit
    * publishes the swap (op=overwrite — prior versions keep reading
    * their files until expire). Returns the committed version.
    * Codecs: snappy (default), zstd, gzip, none; "lz4" is the shared
    * maintenance APIs' default sentinel and maps to snappy here. */
  def write(df: DataFrame, path: String, codec: String = "snappy",
            partitionBy: Seq[String] = Nil): Long =
    writeImpl(df, path, truncate = true, codec, partitionBy = partitionBy)

  /** Append `df` to the table (op=append; blind appends commute with
    * concurrent maintenance through the conflict matrix). A first append
    * onto a legacy parquet directory seeds v1 from its listing, same as
    * the other faces' sinks. `mergeSchema = true` is the write-side
    * schema-evolution opt-in (the shared [[WriteSchemaEvolution]] gate):
    * new columns widen the table, missing columns read as null in the
    * new rows, type changes are refused outright. */
  def append(df: DataFrame, path: String, codec: String = "snappy",
             mergeSchema: Boolean = false,
             partitionBy: Seq[String] = Nil): Long =
    writeImpl(df, path, truncate = false, codec, mergeSchema, partitionBy)

  private def writeImpl(df: DataFrame, path: String, truncate: Boolean,
                        codec: String, mergeSchema: Boolean = false,
                        partitionBy: Seq[String] = Nil): Long = {
    // "lz4" here is always an EXPLICIT user choice (this API's default
    // is snappy; only the shared maintenance APIs use lz4 as their
    // face-default sentinel) — and Spark's parquet "lz4" is the legacy
    // hadoop-framed codec many foreign readers refuse. Silently
    // remapping a deliberate choice would be worse than refusing it.
    require(codec != "lz4",
      "ParquetTable: codec 'lz4' is the shared maintenance APIs' " +
        "default sentinel (→ snappy) and parquet's lz4 framing is not " +
        "interoperable — pick snappy, zstd, gzip, or none")
    val spark = df.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"ParquetTable: partition column '$c' not in the frame " +
        s"(${df.columns.mkString(", ")})"))
    if (!truncate) {
      if (partitionBy.isEmpty)
        FeatherSnapshots.requireRootAppendable(fs, root, Suffixes)
      else {
        // a partitioned append must route into the SAME hive chain the
        // table carries — mixing layouts bricks every manifest read.
        // chainOf is the canonical key-segment walk; the decode is the
        // shared Hive unescape (never URLDecoder — hive escaping never
        // encodes '+', so URL-decoding would corrupt a literal '+')
        def hiveDecode(seg: String): String =
          graft.sources.FeatherPartitions.unescapePath(seg)
        val existing = FeatherSnapshots.resolve(fs, root, None)
          .map(_.files).getOrElse(
            FeatherSnapshots.listDataFiles(fs, root, Suffixes))
        val chains = existing
          .map(f => FeatherSnapshots.chainOf(f._1).map(hiveDecode))
          .distinct
        require(chains.isEmpty || chains == Seq(partitionBy),
          s"ParquetTable: append partitioned by " +
            s"(${partitionBy.mkString(", ")}) into a table whose layout " +
            s"is (${chains.map(_.mkString("/")).mkString(" vs ")})")
      }
      // the gate compares DATA columns (partition values live in the
      // directory chain, never in the files — the table tier's contract)
      graft.sources.WriteSchemaEvolution.validateSinkAppend(spark, path,
        org.apache.spark.sql.types.StructType(
          df.schema.fields.filterNot(f => partitionBy.contains(f.name))),
        mergeSchema, Suffixes)
    }
    // run-unique part prefix: racing writers can never rename over (or
    // pre-clean) each other; a crashed run's parts are unreferenced
    // orphans vacuumOrphans reclaims after the grace window
    val prefix = s"pq-${java.util.UUID.randomUUID().toString.take(12)}"
    val written: Seq[(String, Long, String)] =
      if (partitionBy.isEmpty)
        GraftParquet.writeParts(df, path, prefix,
          ConnectorFace.ParquetFace.codecFor(codec))
      else
        // partition values live in the directory chain, never in the
        // files — the table tier's contract
        FeatherMutations.routePartitionedInserts(
          if (truncate) "ParquetTable.write" else "ParquetTable.append",
          ConnectorFace.ParquetFace, fs, root, df, partitionBy,
          org.apache.spark.sql.types.StructType(
            df.schema.fields.filterNot(f => partitionBy.contains(f.name))),
          prefix, codec)
    val parts = written.map { case (rel, len, _) => (rel, len) }
    // an empty frame cannot DEFINE a partitioned table (no partition
    // values to route) — but an empty APPEND to an existing one is the
    // idempotent-replay shape and must no-op like the flat path
    val tableDefined = !truncate &&
      (FeatherSnapshots.latestVersion(fs, root).isDefined ||
        FeatherSnapshots.listDataFiles(fs, root, Suffixes).nonEmpty)
    require(partitionBy.isEmpty || parts.nonEmpty || tableDefined,
      "ParquetTable: an empty frame cannot define a partitioned table " +
        "(no partition values to route)")
    val version = FeatherSnapshots.publishDataCommit(fs, root, truncate,
      Suffixes, parts,
      stampPart = () =>
        GraftParquet.stampSchemaOnly(fs, root, s"$prefix-empty.parquet",
          df.schema)).version
    if (partitionBy.nonEmpty) LeafWriter.foldStats(fs, root, written)
    version
  }

  /** Adopt an existing listing-based parquet directory (flat or hive
    * `key=value`) into the snapshot tier: one walk, one v1 manifest,
    * nothing rewritten. Foreign files carry no stats sidecars — run
    * [[FeatherStats.backfill]] (or `graft_analyze`) afterwards to light
    * up mutation pruning and COUNT(*) accounting. */
  def adopt(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FeatherSnapshots.adopt(fs, root, Suffixes)
  }

  /** Read the table at head, at `versionAsOf`, or at `timestampAsOf`
    * (epoch millis / ISO instant / local datetime — the shared
    * time-travel forms). Deletion vectors apply inside the plan; a
    * hive-partitioned (adopted) table gets its partition columns back
    * via basePath inference, so partition-valued filters prune. */
  def read(spark: SparkSession, path: String,
           versionAsOf: Option[Long] = None,
           timestampAsOf: Option[String] = None): DataFrame = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "specify either versionAsOf or timestampAsOf, not both")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(FeatherSnapshots.enabled(fs, root),
      s"ParquetTable.read on $path, which has no " +
        s"${FeatherSnapshots.Dir} directory — write with ParquetTable" +
        ".write/append or adopt() first (plain directories read with " +
        "spark.read.parquet)")
    val snap = timestampAsOf match {
      case Some(raw) => FeatherSnapshots.resolveAt(fs, root,
        FeatherTimeTravel.parseTsMillis(raw))
      case None => FeatherSnapshots.resolve(fs, root, versionAsOf)
        .getOrElse(sys.error(
          s"ParquetTable.read on $path: snapshot directory exists but " +
            "holds no versions"))
    }
    val absFiles = snap.files.map { case (rel, len) =>
      (new Path(root, rel).toString, len) }
    val dvPaths = snap.dvs.map { case (rel, (dvRel, _)) =>
      new Path(root, rel).toString -> new Path(root, dvRel).toString }
    val partitioned = snap.files.exists { case (rel, _) =>
      rel.split('/').dropRight(1).exists(_.indexOf('=') > 0) }
    GraftParquet.readFiles(spark, absFiles, dvPaths,
      basePath = if (partitioned) Some(path) else None)
  }
}
