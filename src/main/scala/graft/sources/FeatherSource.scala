package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{GraftFeather, GraftHadoop}

/** DataSource V2 connector for Feather v2 / Arrow IPC files:
  * `spark.read.format("feather").load(path)` (registered via the
  * DataSourceRegister service file, so the short name works like any
  * built-in source).
  *
  * This is the planner-integrated face of [[GraftFeather.read]]: the same
  * footer-indexed record-batch splits become `InputPartition`s, but column
  * pruning now arrives FROM Catalyst (`SupportsPushDownRequiredColumns`) —
  * `df.select(a, b)` prunes decode work with no `columns=` argument, and
  * `.explain` shows `ReadSchema` like a parquet scan. The scan also reports
  * `sizeInBytes` statistics from the file lengths, so the planner's
  * broadcast-join threshold sees a real size for feather inputs instead of
  * defaulting to "huge" (an RDD-assembled DataFrame gives the planner
  * nothing).
  *
  * Read-only by design: writes go through [[GraftFeather.write]], which
  * owns the commit discipline (temp+rename, `_SUCCESS`, ErrorIfExists).
  */
class FeatherDataSource extends TableProvider with DataSourceRegister
    with CdfFallbackProvider {
  override def shortName(): String = "feather"


  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "feather source requires a path: spark.read.format(\"feather\").load(path)")
    p
  }

  private def pinnedVersion(options: CaseInsensitiveStringMap,
                            path: String): Option[Long] =
    FeatherTimeTravel.pinnedVersion(
      Option(options.get("versionasof")),
      Option(options.get("timestampasof")), path)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // schema-only: ONE footer read (the first discovered file) plus the
    // partition columns the directory layout declares; the every-file
    // split sweep runs once, at scan time. With mergeSchema=true the
    // inference unions EVERY footer (bounded-pool reads) — the
    // schema-evolution read over heterogeneous file generations.
    // The first footer's nullability speaks for ONE file only — another
    // generation (a SQL INSERT or MERGE that left a column NULL) may hold
    // nulls in a column the first file declares NOT NULL, and codegen
    // elides null checks off the read schema. So that read is nullable
    // throughout, like Spark's own file sources; the merged union keeps
    // the exact every-file answer.
    val spark = SparkSession.active
    val disc = FeatherDiscovery.discover(spark, pathOf(options),
      pinnedVersion(options, pathOf(options)))
    val merge = Option(options.get("mergeschema")).exists(_.toBoolean)
    val fields =
      if (merge)
        GraftFeather.readFieldsMerged(spark,
          disc.files.map(l => (l.file, l.len)))
      else GraftFeather.readFields(spark, disc.files.head.file)
    StructType(fields.map(f => org.apache.spark.sql.types.StructField(
      f.getName, GraftFeather.toSparkType(f), f.isNullable || !merge)) ++
      disc.partSchema.fields)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties) // keys arrive raw
    new FeatherTable(schema, pathOf(opts),
      Option(opts.get("maxsplitbytes")).map(_.toLong)
        .getOrElse(128L << 20),
      pinnedVersion(opts, pathOf(opts)),
      Option(opts.get("mergeschema")).exists(_.toBoolean),
      Option(opts.get("readchangefeed")).exists(_.toBoolean))
  }

  override def supportsExternalMetadata(): Boolean = true
}

/** `timestampAsOf` → pinned version resolution, shared by the table
  * provider (infer/getTable) and the scan builder (where read options
  * actually arrive). Accepts epoch millis, an ISO-8601 instant
  * (`2026-08-14T09:00:00Z`), or a local `yyyy-MM-dd HH:mm:ss`. */
private[graft] object FeatherTimeTravel {
  // one read resolves the pin up to three times (inferSchema, getTable,
  // newScanBuilder) and resolveAt parses EVERY retained manifest — a
  // short-TTL memo collapses those into one resolution per read while
  // staying fresh across reads (expire()/new commits can change the
  // answer, so this must not cache indefinitely)
  // keyed on (path, raw instant, LATEST version): a new commit moves the
  // latest version, so the memo can never serve a pin computed before a
  // commit whose timestamp the requested instant covers (the pure-TTL
  // form could, for up to the TTL). The TTL stays as the expire() bound —
  // expire removes OLD versions without moving the head.
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), (Long, Long)]()
  private val TtlMillis = 10000L

  /** One definition of the user-facing timestamp forms (epoch millis,
    * ISO instant, or local `yyyy-MM-dd HH:mm:ss` through the SESSION
    * timezone — spark.sql.session.timeZone, not the JVM default, so
    * the pin agrees with how the session renders timestamps). Shared
    * by timestampAsOf and the CDF source's startingTimestamp. */
  private[graft] def parseTsMillis(raw: String): Long =
    raw.toLongOption.getOrElse {
      try java.time.Instant.parse(raw).toEpochMilli
      catch { case _: Exception =>
        val tz = SparkSession.active.sessionState.conf
          .sessionLocalTimeZone
        java.time.LocalDateTime
          .parse(raw.replaceFirst(" ", "T"))
          .atZone(java.time.ZoneId.of(tz)).toInstant.toEpochMilli }
    }

  def pinnedVersion(versionAsOf: Option[String],
                    timestampAsOf: Option[String],
                    path: String): Option[Long] = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "specify either versionAsOf or timestampAsOf, not both")
    timestampAsOf match {
      case Some(raw) =>
        val now = System.currentTimeMillis()
        val rp = new org.apache.hadoop.fs.Path(path)
        val fs = rp.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        val latest = FeatherSnapshots.latestVersion(fs, rp).getOrElse(
          sys.error(s"timestampAsOf on $path, which has no " +
            s"${FeatherSnapshots.Dir} versions"))
        Option(memo.get((path, raw, latest)))
          .collect { case (v, at) if now - at < TtlMillis => v }
          .orElse {
            val millis = parseTsMillis(raw)
            val v = FeatherSnapshots.resolveAt(fs, rp, millis).version
            // entries pinned under superseded head versions are dead —
            // evict them, or a long-lived driver over an actively
            // committed table grows the memo without bound
            memo.keySet.removeIf(k => k._1 == path && k._3 != latest)
            memo.put((path, raw, latest), (v, now))
            Some(v)
          }
      case None => versionAsOf.map(_.toLong)
    }
  }
}

/** Snapshot-aware discovery: a table with a `_snapshots/` directory plans
  * off its manifest (two file reads, zero listings, time travel via
  * `versionAsOf`); anything else walks the directory as before. */
private object FeatherDiscovery {
  def discover(spark: SparkSession, path: String,
               versionAsOf: Option[Long]): FeatherPartitions.Discovered =
    FeatherSnapshots.discoverOrWalk(spark, path, versionAsOf,
      FeatherSnapshots.FeatherSuffixes)
}

private class FeatherTable(tableSchema: StructType, path: String,
                           maxSplitBytes: Long,
                           versionAsOf: Option[Long],
                           mergeSchema: Boolean = false,
                           readChangeFeed: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"feather `$path`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    // under readChangeFeed the table withholds MICRO_BATCH_READ so the
    // stream falls back to the provider's V1 CDF source (see
    // FeatherDataSource.createSource)
    if (readChangeFeed)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.STREAMING_WRITE)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a BATCH read with readChangeFeed would silently return current
    // rows with no change columns — refuse loudly and point at the
    // batch CDF surfaces (Delta serves batch CDF through read options;
    // here the DSv2 scan contract cannot express the diff computation)
    require(!readChangeFeed && !Option(options.get("readchangefeed"))
        .exists(_.toBoolean),
      s"readChangeFeed on a BATCH read of $path: batch change feeds are " +
        "served by graft_table_changes(path, from, to) in SQL or " +
        "FeatherChanges.readChanges/changesSince on the API " +
        "(readChangeFeed is a readStream option)")
    new FeatherScanBuilder(tableSchema, path,
      // read options win over table properties (this is where
      // .option("maxSplitBytes", …) actually arrives)
      Option(options.get("maxsplitbytes")).map(_.toLong)
        .getOrElse(maxSplitBytes),
      FeatherTimeTravel.pinnedVersion(
        Option(options.get("versionasof")),
        Option(options.get("timestampasof")), path).orElse(versionAsOf),
      Option(options.get("maxfilespertrigger")).map(_.toInt),
      Option(options.get("ignorechanges")).exists(_.toBoolean),
      Option(options.get("mergeschema")).map(_.toBoolean)
        .getOrElse(mergeSchema),
      Option(options.get("maxbytespertrigger")).map(_.toLong))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new FeatherWriteBuilder(info, path)
}

private class FeatherScanBuilder(fullSchema: StructType, path: String,
                                 maxSplitBytes: Long,
                                 versionAsOf: Option[Long],
                                 maxFilesPerTrigger: Option[Int],
                                 ignoreChanges: Boolean = false,
                                 mergeSchema: Boolean = false,
                                 maxBytesPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var limit: Int = -1
  private var skipFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  // partial push: each partition yields at most `limit` rows (batch decode
  // stops early); Spark still applies the global limit above the scan
  override def pushLimit(l: Int): Boolean = { limit = l; false }
  private var allFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  // skip-only pushdown against the <part>.stats.json sidecars: accept the
  // comparison shapes the skipping index can use, but return EVERY filter
  // for post-scan evaluation — pruning drops provably-empty batches (and,
  // for partitioned layouts, whole key=value directories), it never takes
  // over row-level filtering (the parquet best-effort pattern)
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    skipFilters = filters.filter(FeatherScanBuilder.usable)
    allFilters = filters
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    skipFilters
  // COMPLETE aggregate pushdown from the stats sidecars: an un-filtered,
  // un-grouped COUNT(*)/MIN/MAX over the table is answered on the driver
  // from the skipping index alone (per-batch row counts + exact min/max
  // ranges the sink wrote at commit) — `select count(*) from feather.corpus`
  // over a 10⁵-part directory reads sidecar JSONs, never a data byte. The
  // gate is strict: any pushed filter, any grouping, any aggregate other
  // than those three, any file missing a sidecar (or written before counts
  // existed), or any min/max on an untracked/partition column falls back to
  // the ordinary scan. One builder serves one query, so the memoized answer
  // can't leak across aggregations.
  private var aggAnswer: Option[(StructType, InternalRow)] = None
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (aggAnswer.isEmpty)
      aggAnswer = StatsAggPushdown.answer(
        FeatherDiscovery.discover(SparkSession.active, path, versionAsOf),
        fullSchema, agg, allFilters)
    aggAnswer.nonEmpty
  }
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    supportCompletePushDown(agg)
  override def build(): Scan = aggAnswer match {
    case Some((schema, row)) => new FeatherLocalScan(path, schema, Array(row))
    case None =>
      new FeatherScan(required, path, maxSplitBytes, limit, skipFilters.toSeq,
        allFilters.toSeq, versionAsOf, maxFilesPerTrigger, ignoreChanges,
        mergeSchema, maxBytesPerTrigger,
        owned = fullSchema.fieldNames.toSet)
  }
}

/** One-row driver-side scan carrying a completely-pushed aggregate. */
private class FeatherLocalScan(path: String, schema: StructType,
                               rs: Array[InternalRow]) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rs
  override def description(): String =
    s"feather `$path` (aggregate answered from stats sidecars)"
}

private[sources] object StatsAggPushdown {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._
  import graft.io.FeatherStats
  import graft.io.FeatherStats.ColStat

  // the ONE stats-tracked-type definition — a local copy drifted once
  // (DateType joined the collector but MIN/MAX(date) kept full-scanning)
  private def tracked(dt: DataType): Boolean = FeatherStats.trackedType(dt)

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }

  /** None = not answerable (caller falls back to the data scan).
    * `discover` is the caller's file enumeration (feather: snapshot-aware
    * discovery; avro: partition walk) — evaluated lazily so an
    * unreadable/empty directory bails instead of throwing. */
  def answer(discover: => FeatherPartitions.Discovered,
             fullSchema: StructType, agg: Aggregation,
             pushedFilters: Array[org.apache.spark.sql.sources.Filter])
      : Option[(StructType, InternalRow)] = {
    if (pushedFilters.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    // plan: Left(()) = COUNT(*), Right((field, wantMin)) = MIN/MAX(field)
    val plan = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Left(())
      case m: Min => colOf(m.column()) match {
        case Some(c) => Right((c, true))
        case None => return None
      }
      case m: Max => colOf(m.column()) match {
        case Some(c) => Right((c, false))
        case None => return None
      }
      case _ => return None
    }
    val spark = SparkSession.active
    val disc =
      try discover
      catch { case _: Exception => return None }
    // deletion vectors: COUNT(*) subtracts the manifest's per-binding
    // cardinality (exact); MIN/MAX cannot be answered from stats when any
    // file has one — the extreme row may be among the deleted positions
    val dvDeleted = disc.files.flatMap(_.dv.map(_._2)).sum
    if (dvDeleted > 0 && plan.exists(_.isRight)) return None
    for (Right((c, _)) <- plan)
      if (disc.partCols.contains(c) || !fullSchema.fieldNames.contains(c) ||
          !tracked(fullSchema(c).dataType)) return None
    // every surviving file must contribute stats — merged-first (one
    // `_stats.json` read per directory, so the 10⁵-part COUNT(*) costs
    // O(directories) driver reads), per-file sidecar fallback
    val statsByFile = FeatherStats.loadForFiles(
      spark.sparkContext.hadoopConfiguration,
      disc.files.map(l => (l.file, l.len)))
    val sidecars: Seq[Seq[Map[String, ColStat]]] =
      disc.files.map(l => statsByFile.getOrElse(l.file, None) match {
        case Some(s) => s
        case None => return None
      })
    val allBatches = sidecars.flatten
    val values: Seq[(Any, DataType)] = plan.map {
      case Left(()) =>
        var n = 0L
        for (b <- allBatches) b.get(FeatherStats.RowCountKey) match {
          case Some(ColStat.Count(bn)) => n += bn
          case _ => return None // pre-count sidecar: not answerable
        }
        (n - dvDeleted, LongType)
      case Right((c, wantMin)) =>
        val dt = fullSchema(c).dataType
        var acc: Any = null
        for (b <- allBatches) b.get(c) match {
          case Some(ColStat.Empty) => // all-null batch: contributes nothing
          case Some(st) =>
            val v: Any = st match {
              case ColStat.Longs(lo, hi) => if (wantMin) lo else hi
              case ColStat.Doubles(lo, hi) => if (wantMin) lo else hi
              case ColStat.Strings(lo, hi) => if (wantMin) lo else hi
              case _ => return None
            }
            acc =
              if (acc == null) v
              else (acc, v) match {
                case (a: Long, x: Long) => if (wantMin) a.min(x) else a.max(x)
                case (a: Double, x: Double) => if (wantMin) a.min(x) else a.max(x)
                // UTF-8 BYTE order, the order the collector wrote the
                // per-batch extremes in and the order Spark's own string
                // comparisons use — UTF-16 compareTo disagrees beyond
                // the BMP and would merge the wrong extreme
                case (a: String, x: String) =>
                  if (FeatherStats.utf8Lt(x, a) == wantMin) x else a
                case _ => return None
              }
          case None => return None // column untracked in this batch
        }
        // narrow back from the sidecar's widened storage to the field type
        val out: Any = (acc, dt) match {
          case (null, _) => null
          case (v: Long, ByteType) => v.toByte
          case (v: Long, ShortType) => v.toShort
          case (v: Long, IntegerType) => v.toInt
          case (v: Long, LongType) => v
          case (v: Double, FloatType) => v.toFloat
          case (v: Double, DoubleType) => v
          // dates are collected as epoch-day longs (FeatherStats
          // .dateToDay); Catalyst's internal DateType value is the same
          // day count as an Int
          case (v: Long, DateType) => v.toInt
          case (v: String, StringType) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(v)
          case _ => return None
        }
        (out, dt)
    }
    val schema = StructType(plan.zip(values).map {
      case (Left(()), _) => StructField("count(*)", LongType, nullable = false)
      case (Right((c, wantMin)), (_, dt)) =>
        StructField(s"${if (wantMin) "min" else "max"}($c)", dt, nullable = true)
    })
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      values.map(_._1).toArray)
    Some((schema, row))
  }
}

private object FeatherScanBuilder {
  import org.apache.spark.sql.sources._
  def usable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual => true
    case In(_, vs) => vs.nonEmpty
    case And(l, r) => usable(l) || usable(r)
    case Or(l, r) => usable(l) && usable(r)
    case _ => false
  }

  private def integralish(v: Any): Boolean = v match {
    case _: java.lang.Byte | _: java.lang.Short |
         _: java.lang.Integer | _: java.lang.Long => true
    case _ => false
  }

  /** (column, candidate keys — Long or String) for every EqualTo/In
    * point lookup in a conjunctive filter set — the shape the bloom
    * sidecars answer. Shared by both connectors' scans. */
  def pointLookups(filters: Seq[Filter]): Seq[(String, Seq[Any])] =
    filters.collect {
      case EqualTo(a, v) if integralish(v) =>
        a -> Seq[Any](v.asInstanceOf[java.lang.Number].longValue())
      case EqualTo(a, v: String) => a -> Seq[Any](v)
      case In(a, vs) if vs.nonEmpty && vs.forall(integralish) =>
        a -> vs.toSeq.map[Any](_.asInstanceOf[java.lang.Number].longValue())
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        a -> vs.toSeq.map[Any](identity)
    }
}

private class FeatherScan(readSchema0: StructType, path: String,
                          maxSplitBytes: Long, limit: Int,
                          skipFilters: Seq[org.apache.spark.sql.sources.Filter],
                          pruneFilters: Seq[org.apache.spark.sql.sources.Filter],
                          versionAsOf: Option[Long],
                          maxFilesPerTrigger: Option[Int],
                          ignoreChanges: Boolean = false,
                          mergeSchema: Boolean = false,
                          maxBytesPerTrigger: Option[Long] = None,
                          owned: Set[String] = Set.empty)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = readSchema0
  override def description(): String =
    s"feather `$path` ReadSchema: ${readSchema0.catalogString}" +
      (if (skipFilters.nonEmpty)
        s", SkipFilters: ${skipFilters.mkString(", ")}" else "")
  override def toBatch: Batch = this

  // discovery + partition-directory pruning, once per scan, on the driver:
  // filters on partition columns eliminate whole key=value directories
  // BEFORE any footer is opened
  private lazy val surviving: Seq[FeatherPartitions.LeafFile] = {
    val disc = FeatherDiscovery.discover(SparkSession.active, path, versionAsOf)
    val ps = disc.partSchema
    if (disc.partCols.isEmpty || pruneFilters.isEmpty) disc.files
    else disc.files.filter(FeatherPartitions.survives(_, ps, pruneFilters))
  }

  // footer-planned splits for the surviving files only; the deletion-
  // vector binding rides every split of its file (positions are
  // batch-relative, so a split owning batches [5, 6] applies the DV
  // without knowing anything about batches 0..4)
  private lazy val splits
      : Seq[(String, Long, Seq[Int], Seq[(String, String)], Option[String])] =
    if (surviving.isEmpty) Seq.empty
    else {
      val byFile = surviving.map(l => l.file -> (l.values, l.dv.map(_._1))).toMap
      GraftFeather.planReadFiles(SparkSession.active,
        surviving.map(l => (l.file, l.len)), maxSplitBytes)._2
        .map { case (f, len, idxs) =>
          val (pv, dv) = byFile(f)
          (f, len, idxs, pv, dv) }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    // stats-driven batch skipping: drop batch indices whose stats prove
    // no row can pass skipFilters; files without stats never prune.
    // Loads are merged-first (one `_stats.json` per DIRECTORY, length-
    // validated per entry) with per-file sidecar fallback, all on a bounded
    // pool — the planning bound is O(directories) + O(uncovered files),
    // not O(files) (the r9 verdict flagged the sequential per-file loop;
    // parquet pays one footer fetch per file even parallelized, which is
    // exactly what the merged cache removes).
    val statsByFile: Map[String, Option[Seq[Map[String, graft.io.FeatherStats.ColStat]]]] =
      if (skipFilters.isEmpty) Map.empty.withDefaultValue(None)
      else graft.io.FeatherStats.loadForFiles(
        spark.sparkContext.hadoopConfiguration,
        splits.map(s => (s._1, s._2)).distinct)
    // point-lookup file skipping through the Bloom sidecars
    // (io/FeatherBloom.build): an EqualTo/In filter on an integral
    // column whose bloom excludes every candidate value proves the whole
    // file empty — what min/max ranges cannot do for scattered keys.
    // Conjunctive semantics: ONE unsatisfiable filter skips the file.
    // Sidecar loads are per surviving file but only when a point filter
    // exists; absent sidecars never prune.
    val pointFilters = FeatherScanBuilder.pointLookups(skipFilters)
    // one sidecar load per DISTINCT (file, column) — excludesFile caches
    // per column inside a file; the distinct() keeps splits (which repeat
    // files per batch group) from multiplying loads per split
    val bloomExcluded: Set[String] =
      if (pointFilters.isEmpty) Set.empty
      else splits.map(s => (s._1, s._2)).distinct.collect {
        case (f, len) if graft.io.FeatherBloom.excludesFile(
          spark.sparkContext.hadoopConfiguration, f, len, pointFilters) => f
      }.toSet
    splits.flatMap { case (f, len, idxs, pv, dv) =>
      val kept = statsByFile.getOrElse(f, None) match {
        case Some(stats) => idxs.filterNot(i => i < stats.size &&
          graft.io.FeatherStats.batchProvablyEmpty(stats(i), skipFilters))
        case None => idxs
      }
      if (kept.isEmpty || bloomExcluded(f)) None
      // `_file` metadata column: a per-split constant, spliced exactly
      // like the hive partition values (never decoded from the file);
      // a table-owned `_file` column wins (Spark hides the metadata
      // column on conflict, so the reference is the table column —
      // `owned` carries the table/file schema so the splice never
      // shadows a real column's values).
      // `_pos` rides per row through the position-carrying decode.
      else Some(FeatherInputPartition(f, len, kept,
        pv ++ GraftMetaColumns.fileValue(readSchema0, f, pv, owned), dv,
        GraftMetaColumns.posName(readSchema0, pv, owned)))
    }.toArray
  }


  override def createReaderFactory(): PartitionReaderFactory =
    new FeatherReaderFactory(readSchema0, limit,
      GraftHadoop.confBroadcast(SparkSession.active), mergeSchema)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a snapshotted table streams by MANIFEST VERSION (Delta-style table
    // streaming: offsets are version numbers, batches are version diffs,
    // zero listings, exactly-once by manifest immutability); a plain drop
    // directory streams by file-set offsets as before
    val rp = new org.apache.hadoop.fs.Path(path)
    val sfs = rp.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (FeatherSnapshots.enabled(sfs, rp))
      new FeatherSnapshotStream(readSchema0, path, maxSplitBytes,
        ignoreChanges, mergeSchema)
    else
      new FeatherMicroBatchStream(readSchema0, path, maxSplitBytes,
        maxFilesPerTrigger, checkpointLocation, mergeSchema,
        maxBytesPerTrigger)
  }

  // exact row count from the stats sidecars (the IPC footer itself
  // carries none) — see FeatherStats.exactRowCount for the all-covered
  // contract
  private lazy val exactRows: Option[Long] =
    graft.io.FeatherStats.exactRowCount(
      SparkSession.active.sparkContext.hadoopConfiguration,
      surviving.map(l => (l.file, l.len)))
      // deletion vectors: the sidecar counts include DV'd rows; the
      // manifest's per-binding cardinality subtracts them exactly
      .map(_ - surviving.flatMap(_.dv.map(_._2)).sum)

  override def estimateStatistics(): Statistics = new Statistics {
    // file bytes AFTER partition pruning: the honest size the broadcast
    // threshold needs (post-pushdown, like the parquet source reports)
    private val bytes = surviving.map(_.len).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      exactRows.map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
  }
}

private case class FeatherInputPartition(file: String, len: Long,
                                         batchIdxs: Seq[Int],
                                         partValues: Seq[(String, String)] = Nil,
                                         dvPath: Option[String] = None,
                                         posName: Option[String] = None)
    extends InputPartition

// ---- snapshot-version streaming read ---------------------------------------

private case class SnapshotVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** Streams a SNAPSHOTTED feather table by manifest version: the
  * checkpointed offset is a version number, each micro-batch reads the
  * files that version range ADDED, and correctness comes from manifest
  * immutability — a replayed batch re-derives the identical version diff,
  * no file-set bookkeeping, no directory listing at any point. Commit-op
  * semantics (the Delta streaming contract): `append`/`adopt` versions
  * stream their new files; `compact`/`cluster` versions are SKIPPED
  * (row-preserving rewrites of already-delivered rows); `overwrite`,
  * `delete`, `merge`, and `cdc` are non-append changes that fail loudly
  * unless `option("ignoreChanges", "true")` — which SKIPS a delete's
  * rewrites (they hold only survivors, nothing new) but DELIVERS
  * merge/cdc parts whole (inserts must arrive; already-delivered
  * survivors may re-deliver, downstream dedups by key — Delta's
  * ignoreChanges contract). The table's FIRST version streams whole
  * regardless of its op — that is the initial load. */
private class FeatherSnapshotStream(readSchema: StructType, path: String,
                                    maxSplitBytes: Long,
                                    ignoreChanges: Boolean,
                                    mergeSchema: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private def rp = new org.apache.hadoop.fs.Path(path)
  private def fs = rp.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def initialOffset(): Offset = SnapshotVersionOffset(0L)
  override def latestOffset(): Offset =
    SnapshotVersionOffset(FeatherSnapshots.latestVersion(fs, rp).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    SnapshotVersionOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotVersionOffset].v
    val e = end.asInstanceOf[SnapshotVersionOffset].v
    if (e <= s) return Array.empty
    // version-diff semantics live in FeatherSnapshots.versionDiffFiles —
    // ONE definition shared with the avro face
    val (newRel, dvs) =
      FeatherSnapshots.versionDiffFiles(fs, rp, s, e, ignoreChanges)
    if (newRel.isEmpty) return Array.empty
    // partition values ride the relative paths, exactly as batch
    // discovery; the initial load's deletion vectors ride the same way
    val leaves = FeatherSnapshots.toDiscovered(rp,
      FeatherSnapshots.Snapshot(e, s, "batch", newRel.toSeq.sortBy(_._1),
        dvs = dvs)).files
    val byFile = leaves.map(l => l.file -> (l.values, l.dv.map(_._1))).toMap
    GraftFeather.planReadFiles(SparkSession.active,
      leaves.map(l => (l.file, l.len)), maxSplitBytes)._2
      .map { case (f, len, idxs) =>
        val (pv, dv) = byFile(f)
        FeatherInputPartition(f, len, idxs, pv, dv) }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FeatherReaderFactory(readSchema, -1,
      GraftHadoop.confBroadcast(SparkSession.active), mergeSchema)
}

// ---- streaming read --------------------------------------------------------
// Drop-directory ingestion on the shared DropDirectoryMicroBatchStream
// machinery (file-set offsets, maxFilesPerTrigger admission control);
// this subclass contributes feather's footer-planned splits.

private class FeatherMicroBatchStream(readSchema: StructType, path: String,
                                      maxSplitBytes: Long,
                                      maxFilesPerTrigger: Option[Int],
                                      checkpointLocation: String,
                                      mergeSchema: Boolean = false,
                                      maxBytesPerTrigger: Option[Long] = None)
    extends DropDirectoryMicroBatchStream(path, Seq(".feather", ".arrow"),
      maxFilesPerTrigger, checkpointLocation, maxBytesPerTrigger) {

  override protected def planSplits(fresh: Seq[String]): Array[InputPartition] =
    // footer-planned splits for ONLY the new files (GraftFeather.planRead
    // lists the whole dir, so plan per fresh file)
    fresh.flatMap { f =>
      val (_, splits) = GraftFeather.planRead(spark, f, maxSplitBytes)
      splits.map { case (file, len, idxs) =>
        FeatherInputPartition(file, len, idxs)
      }
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new FeatherReaderFactory(readSchema, -1,
      GraftHadoop.confBroadcast(spark), mergeSchema)
}

// ---- write path ------------------------------------------------------------
// V2 path-based writes support append/overwrite (Spark's own contract for
// TableProvider sinks: ErrorIfExists/Ignore are rejected upstream).
// Commit protocol: each task writes a hidden tmp file and reports its name;
// the DRIVER renames every reported tmp to a final part in commit() and
// stamps _SUCCESS. With useCommitCoordinator (the default), Spark
// guarantees exactly one committed attempt per partition — the coordinated
// fix for the speculative-duplicate window the rename-only RDD path can
// only mitigate.

private class FeatherWriteBuilder(
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo, path: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new FeatherWrite(info.schema(), path, doTruncate,
      Option(info.options.get("codec")).getOrElse("lz4"),
      Option(info.options.get("batchsize")).map(_.toInt).getOrElse(4096),
      Option(info.options.get("snapshots")).exists(_.toBoolean),
      Option(info.options.get("mergeschema")).exists(_.toBoolean))
}

private case class FeatherCommitMessage(tmpName: String, partitionId: Int,
                                        statsJson: String, bytes: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private class FeatherWrite(st: StructType, path: String, truncate: Boolean,
                           codec: String, batchSize: Int,
                           snapshotsOpt: Boolean,
                           mergeSchemaOpt: Boolean = false)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with RowLevelCommitMetrics.Reporting {
  // fail on unmappable schemas / bad options BEFORE tasks launch
  st.fields.foreach(f => GraftFeather.toArrowField(f.name, f.dataType, f.nullable))
  require(Seq("lz4", "zstd", "none", "null").contains(codec),
    s"unknown codec $codec (lz4, zstd, none)")
  require(batchSize > 0, s"batchSize must be positive, got $batchSize")
  // write-side schema-evolution gate (WriteSchemaEvolution): an append
  // whose schema differs from the table widens ONLY under
  // option("mergeSchema","true"); type changes are refused outright.
  // Covers the batch sink and the streaming sink alike (toStreaming is
  // built from this same Write, once per query start).
  if (!truncate)
    WriteSchemaEvolution.validateSinkAppend(SparkSession.active, path, st,
      mergeSchemaOpt, FeatherSnapshots.FeatherSuffixes)

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    new FeatherWriterFactory(st, path, codec, batchSize,
      GraftHadoop.confBroadcast(spark))
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = messages.collect { case m: FeatherCommitMessage => m }
    // snapshot mode: requested on this write, or the table already carries
    // a _snapshots directory (once snapshotted, every commit must publish
    // a manifest or manifest-planned reads would miss it)
    val snapMode = snapshotsOpt || FeatherSnapshots.enabled(fs, out)
    // a snapshot APPEND keeps only the parts that hold rows, and a
    // zero-row append publishes no version at all (replay-clean, like
    // every other append path of the table tier)
    val tableAppend = !truncate && FeatherSnapshots.enabled(fs, out)
    val (committed, empty) =
      if (tableAppend) all.partition(m =>
        graft.io.FeatherStats.fromJson(m.statsJson).nonEmpty)
      else (all, Array.empty[FeatherCommitMessage])
    empty.foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false))
    if (tableAppend && committed.isEmpty) {
      report = FeatherSnapshots.resolve(fs, out, None)
        .map(RowLevelCommitMetrics.noOp(_))
      return
    }
    // refuse a root-level append into a hive layout BEFORE renaming any
    // part — failing after the renames would leave orphan residue at the
    // root that a later adopt() would mix into an unreadable manifest
    if (snapMode && !truncate && committed.nonEmpty)
      FeatherSnapshots.requireRootAppendable(fs, out,
        FeatherSnapshots.FeatherSuffixes)
    if (truncate && !snapMode) // overwrite: drop pre-existing parts
      fs.listStatus(out).filter(_.getPath.getName.endsWith(".feather"))
        .foreach(s => fs.delete(s.getPath, false))
    // snapshot overwrite deletes NOTHING: old parts stay on disk for
    // concurrent readers and time travel; expire() reclaims them later.
    // Part names carry an epoch-nanos tag in snapshot mode so an
    // overwrite's parts can never collide with a retained generation's.
    val gen = if (snapMode) f"-g${System.nanoTime()}%x" else ""
    val mergedAdd = committed.map { m =>
      val tmp = new org.apache.hadoop.fs.Path(path, m.tmpName)
      val fin = new org.apache.hadoop.fs.Path(path,
        f"part-${m.partitionId}%05d-${java.util.UUID.nameUUIDFromBytes(
          m.tmpName.getBytes("UTF-8"))}$gen.feather")
      require(fs.rename(tmp, fin), s"commit rename $tmp -> $fin failed")
      val sc = fs.create(new org.apache.hadoop.fs.Path(path,
        fin.getName + ".stats.json"), true)
      try sc.write(m.statsJson.getBytes("UTF-8")) finally sc.close()
      fin.getName -> (m.bytes, graft.io.FeatherStats.fromJson(m.statsJson))
    }.toMap
    // one merged _stats.json per commit: overwrite replaces it whole,
    // append folds the new parts in. Snapshot mode always folds — retained
    // generations keep their stats coverage for time-travel reads.
    graft.io.FeatherStats.upsertMerged(fs, out, mergedAdd,
      replaceAll = truncate && !snapMode)
    // zero tasks or all-empty input must still leave a readable schema.
    // The stamp writer is shared with the snapshot publish protocol
    // (which also guards the zero-part OVERWRITE of a retained table —
    // a zero-file manifest would make head unreadable).
    def stampPart(): (String, Long) = {
      val stampName = s"part-00000$gen.feather"
      val pw = new GraftFeather.FeatherPartWriter(st,
        fs.create(new org.apache.hadoop.fs.Path(out, stampName),
          true), "none", batchSize)
      pw.finish()
      stampName -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(out, stampName)).getLen
    }
    if (snapMode)
      report = Some(FeatherSnapshots.publishDataCommit(fs, out, truncate,
        FeatherSnapshots.FeatherSuffixes,
        mergedAdd.map { case (n, (len, _)) => (n, len) }.toSeq,
        stampPart _))
    else if (!fs.listStatus(out).exists(
        _.getPath.getName.endsWith(".feather")))
      stampPart(): Unit
    fs.create(new org.apache.hadoop.fs.Path(out, "_SUCCESS"), true).close()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: FeatherCommitMessage => m }.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
  }

  // ---- streaming sink ------------------------------------------------------
  // `writeStream.format("feather")`: each epoch's tasks write epoch-tagged
  // hidden tmp files; the driver renames them to final parts in
  // commit(epochId, …). Epoch ids ride both the tmp and final names, so a
  // RE-COMMITTED epoch (driver recovery replays the last batch) is
  // idempotent: a rename whose destination already exists while its tmp is
  // gone is the already-committed case and is skipped, not failed. Closes
  // the drop-directory loop — a graft stream can PRODUCE the atomic drops
  // the connectors' streaming reads consume. Append-only (Complete mode
  // would truncate the directory every epoch).
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "feather streaming sink supports APPEND output mode only")
    new FeatherStreamingWrite(st, path, codec, batchSize)
  }
}

private class FeatherStreamingWrite(st: StructType, path: String,
                                    codec: String, batchSize: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    new FeatherStreamingWriterFactory(st, path, codec, batchSize,
      GraftHadoop.confBroadcast(spark))
  }

  override def commit(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // snapshotted table: refuse BEFORE renaming when the epoch's root
    // parts would mix into a hive layout (same pre-rename discipline as
    // the batch sinks — a post-rename refusal strands orphans each retry)
    if (FeatherSnapshots.enabled(fs, new org.apache.hadoop.fs.Path(path)))
      FeatherSnapshots.requireRootAppendable(fs,
        new org.apache.hadoop.fs.Path(path), FeatherSnapshots.FeatherSuffixes)
    val mergedAdd = messages.collect { case m: FeatherCommitMessage => m }
      .flatMap { m =>
        val tmp = new org.apache.hadoop.fs.Path(path, m.tmpName)
        val fin = new org.apache.hadoop.fs.Path(path,
          f"part-e$epochId%05d-${m.partitionId}%05d-${java.util.UUID
            .nameUUIDFromBytes(m.tmpName.getBytes("UTF-8"))}.feather")
        if (fs.exists(fin) && !fs.exists(tmp)) {
          // epoch replayed after the renames: no re-rename, but the part
          // REJOINS the stats and manifest paths — this heals a crash
          // anywhere between the rename and the publish (sidecar rewrite
          // is idempotent; publishEpoch appends only never-referenced
          // parts, so a part later maintenance retired stays retired)
          val sc = fs.create(new org.apache.hadoop.fs.Path(path,
            fin.getName + ".stats.json"), true)
          try sc.write(m.statsJson.getBytes("UTF-8")) finally sc.close()
          Some(fin.getName ->
            (fs.getFileStatus(fin).getLen,
              graft.io.FeatherStats.fromJson(m.statsJson)))
        } else {
          require(fs.rename(tmp, fin), s"commit rename $tmp -> $fin failed")
          val sc = fs.create(new org.apache.hadoop.fs.Path(path,
            fin.getName + ".stats.json"), true)
          try sc.write(m.statsJson.getBytes("UTF-8")) finally sc.close()
          Some(fin.getName ->
            (m.bytes, graft.io.FeatherStats.fromJson(m.statsJson)))
        }
      }.toMap
    if (mergedAdd.nonEmpty)
      graft.io.FeatherStats.upsertMerged(fs,
        new org.apache.hadoop.fs.Path(path), mergedAdd)
    // one appended manifest per epoch on a snapshotted directory, through
    // the SHARED epoch protocol (layout guard + replay healing: replayed
    // already-renamed parts re-append as no-ops, so a crash between an
    // epoch's renames and its manifest publish is repaired here instead
    // of leaving those parts invisible)
    FeatherSnapshots.publishEpoch(fs, new org.apache.hadoop.fs.Path(path),
      mergedAdd.map { case (n, (len, _)) => (n, len) }.toSeq)
  }

  override def abort(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: FeatherCommitMessage => m }.foreach { m =>
      try fs.delete(new org.apache.hadoop.fs.Path(path, m.tmpName), false)
      catch { case _: Exception => () }
    }
  }
}

private class FeatherStreamingWriterFactory(
    st: StructType, path: String, codec: String, batchSize: Int,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    FeatherSourceWriters.dataWriter(st, path,
      f".part-e$epochId%05d-$partitionId%05d-task-$taskId.feather.tmp",
      codec, batchSize, partitionId, confMap)
}

private class FeatherWriterFactory(
    st: StructType, path: String, codec: String, batchSize: Int,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    FeatherSourceWriters.dataWriter(st, path,
      f".part-$partitionId%05d-task-$taskId.feather.tmp",
      codec, batchSize, partitionId, confMap)
}

/** The task-side writer shared by the batch and streaming factories: only
  * the tmp-file naming differs (streaming tags the epoch so a replayed
  * epoch's tmps never collide with a committed one's finals). */
private[sources] object FeatherSourceWriters {
  def dataWriter(st: StructType, path: String, tmpName: String,
                 codec: String, batchSize: Int, partitionId: Int,
                 confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]])
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val execConf = {
        val c = new org.apache.hadoop.conf.Configuration(false)
        confMap.value.foreach { case (k, v) => c.set(k, v) }
        c
      }
      private val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(execConf)
      private val pw = new GraftFeather.FeatherPartWriter(st,
        fs.create(new org.apache.hadoop.fs.Path(path, tmpName), true),
        codec, batchSize)
      private val toRow = CatalystTypeConverters.createToScalaConverter(st)
      override def write(record: InternalRow): Unit =
        pw.append(toRow(record).asInstanceOf[org.apache.spark.sql.Row])
      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        pw.finish()
        FeatherCommitMessage(tmpName, partitionId,
          graft.io.FeatherStats.toJson(pw.batchStats),
          fs.getFileStatus(new org.apache.hadoop.fs.Path(path, tmpName)).getLen)
      }
      override def abort(): Unit = {
        pw.abort()
        try fs.delete(new org.apache.hadoop.fs.Path(path, tmpName), false)
        catch { case _: Exception => () }
      }
      override def close(): Unit = () // finish/abort own the resources
    }
}

private class FeatherReaderFactory(
    readSchema: StructType, limit: Int,
    confMap: org.apache.spark.broadcast.Broadcast[Map[String, String]],
    mergeSchema: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FeatherInputPartition]
    // the position-carrying decode serves both shapes: positions are
    // batch-absolute and free to compute, the splice ignores them when
    // `_pos` was not asked for
    new SplicedRowReader(readSchema, p.partValues, p.posName, p.dvPath, limit,
      confMap)((conf, cols, _, dv, track, _) =>
      GraftFeather.splitRowsPos(conf, p.file, p.len, p.batchIdxs, cols, track,
        lenient = mergeSchema, dv = dv))
  }
}
