package graft.extensions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

import graft.sources.FeatherSnapshots

/** The SQL face of the TABLE-MAINTENANCE tier — CALL-style table-valued
  * functions, registered via `injectTableFunction` so plain `spark.sql`
  * drives everything the Scala API does (the expression tier already has
  * this dual registration; the table tier was Scala-only):
  *
  * {{{
  *   SELECT * FROM graft_table_changes('/t', 3, 7)      -- CDF read (lazy)
  *   SELECT * FROM graft_history('/t')                  -- version history
  *   SELECT * FROM graft_vacuum_dry_run('/t')           -- reclaim preview
  *   SELECT * FROM graft_cluster('/t', 'id')            -- OPTIMIZE ... BY
  *   SELECT * FROM graft_zorder('/t', 'day,cat')        -- ZORDER BY
  *   SELECT * FROM graft_copy_into('/t', '/in', 'csv')  -- COPY INTO
  * }}}
  *
  * Compaction, restore, expiry, and vacuum have one SQL spelling, the
  * catalog's `CALL graft.system.compact / restore / expire /
  * expire_older_than / vacuum` procedures ([[graft.catalog.GraftProcedures]]).
  *
  * `graft_table_changes` returns the CDF DataFrame's own plan — it
  * executes lazily with the enclosing query, composes with
  * joins/filters, and its schema is the table's columns plus
  * `_change_type`/`_commit_version`. The MAINTENANCE functions defer
  * their action to STATEMENT EXECUTION via
  * [[DeferredMaintenanceAction]] (the one-row result the SELECT returns
  * reports what happened): an EXPLAIN or an eagerly-analyzing notebook
  * never mutates the table — the same contract as Delta's
  * RESTORE/OPTIMIZE commands. Flip side: a statement the optimizer
  * proves reads nothing (`WHERE 1=0`, `LIMIT 0`) prunes the leaf and
  * skips the action — drive maintenance with a plain `SELECT *`. The
  * read-only functions (`graft_history`, `graft_vacuum_dry_run`)
  * materialize at analysis; their result is a point-in-time report
  * either way.
  *
  * Arguments must be literals (a path computed per-row has no meaning
  * for a table function); violations fail analysis loudly — argument
  * validation stays eager even where the action is deferred. */
private[extensions] object GraftTableFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "built-in")

  private def fail(name: String, what: String, e: Expression): Nothing =
    throw new IllegalArgumentException(
      s"$name: $what must be a literal, got $e")

  private def str(name: String, what: String, e: Expression): String =
    if (!e.foldable) fail(name, what, e)
    else e.eval() match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case _ => fail(name, what, e)
    }

  /** Path argument with catalog-NAME resolution: a value carrying no
    * '/' (and no URI scheme) names a table of the `graft` catalog —
    * `graft_history('events')` serves `<warehouse>/events`, dots
    * descending namespaces (unambiguous: the catalog refuses dots
    * INSIDE a segment) — so the maintenance surface addresses tables
    * the same two ways every other statement does. With a warehouse
    * configured, a no-slash value is ALWAYS a name — a cwd-relative
    * path (never a supported spelling) would now resolve into the
    * warehouse, and a miss fails loudly naming the resolved path.
    * Falls back to the raw string when no warehouse is configured. */
  private def pathArg(name: String, e: Expression): String = {
    val v = str(name, "path", e)
    if (v.contains("/") || v.contains("://")) v
    else spark.conf.getOption("spark.sql.catalog.graft.warehouse")
      .map(wh => (wh.stripSuffix("/") +: v.split('.').toSeq).mkString("/"))
      .getOrElse(v)
  }

  private def long(name: String, what: String, e: Expression): Long =
    if (!e.foldable) fail(name, what, e)
    else e.eval() match {
      case n: java.lang.Number => n.longValue()
      case _ => fail(name, what, e)
    }

  private def bool(name: String, what: String, e: Expression): Boolean =
    if (!e.foldable) fail(name, what, e)
    else e.eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case _ => fail(name, what, e)
    }

  private def spark: SparkSession = SparkSession.active

  private def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.logical

  /** One-row maintenance result whose `action` runs at statement
    * EXECUTION (planned by [[DeferredActionStrategy]]), never at
    * analysis/EXPLAIN. */
  private def deferred(name: String, schema: StructType)
                      (action: () => Seq[Any]): LogicalPlan =
    DeferredMaintenanceAction(name,
      schema.map(f => org.apache.spark.sql.catalyst.expressions
        .AttributeReference(f.name, f.dataType, f.nullable)()).toSeq,
      () => Seq(Row.fromSeq(action())))

  private def fsRoot(path: String) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def cols(csv: String): Seq[String] =
    csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  def register(ext: SparkSessionExtensions): Unit = {
    // plans the deferred maintenance leaves the destructive TVFs build
    ext.injectPlannerStrategy(new DeferredActionStrategy(_))

    def tvf(name: String, usage: String)
           (builder: Seq[Expression] => LogicalPlan): Unit =
      ext.injectTableFunction((FunctionIdentifier(name), info(name, usage),
        builder))

    tvf("graft_table_changes",
      "graft_table_changes(path, fromVersion, toVersion) - row-level " +
        "changes versions (from, to] introduced, lazily planned") { args =>
      require(args.size == 3,
        "graft_table_changes(path, fromVersion, toVersion)")
      val n = "graft_table_changes"
      plan(graft.io.FeatherChanges.readChanges(spark, pathArg(n, args(0)),
        long(n, "fromVersion", args(1)), long(n, "toVersion", args(2))))
    }

    tvf("graft_history",
      "graft_history(path) - the retained version history") { args =>
      require(args.size == 1, "graft_history(path)")
      val (fs, root) = fsRoot(pathArg("graft_history", args.head))
      val rows = new java.util.ArrayList[Row]()
      FeatherSnapshots.history(fs, root).foreach { case (v, p, op, ts, n, b) =>
        rows.add(Row(v, p, op, ts, n.toLong, b))
      }
      plan(spark.createDataFrame(rows, StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("parent", LongType, nullable = false),
        StructField("op", StringType, nullable = false),
        StructField("ts", LongType, nullable = false),
        StructField("files", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false)))))
    }

    tvf("graft_vacuum_dry_run",
      "graft_vacuum_dry_run(path[, graceMillis]) - paths a vacuum pass " +
        "WOULD reclaim") { args =>
      require(args.nonEmpty && args.size <= 2,
        "graft_vacuum_dry_run(path[, graceMillis])")
      val n = "graft_vacuum_dry_run"
      val (fs, root) = fsRoot(pathArg(n, args.head))
      val rows = new java.util.ArrayList[Row]()
      // no grace argument = vacuumOrphansDryRun's own default window —
      // never a re-encoded copy of it that could silently drift
      (if (args.size > 1)
        FeatherSnapshots.vacuumOrphansDryRun(fs, root,
          long(n, "graceMillis", args(1)))
      else FeatherSnapshots.vacuumOrphansDryRun(fs, root))
        .foreach(p => rows.add(Row(p)))
      plan(spark.createDataFrame(rows, StructType(Seq(
        StructField("path", StringType, nullable = false)))))
    }

    val clusterSchema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false)))

    tvf("graft_cluster",
      "graft_cluster(path, colsCsv[, targetBytes[, incremental]]) - " +
        "rewrite the table range-clustered on the columns (OPTIMIZE ... " +
        "BY); incremental=true sweeps only files appended since the " +
        "last cluster commit") { args =>
      require(args.size >= 2 && args.size <= 4,
        "graft_cluster(path, colsCsv[, targetBytes[, incremental]])")
      val n = "graft_cluster"
      val path = pathArg(n, args(0))
      val cs = cols(str(n, "cols", args(1)))
      val tb = if (args.size > 2) long(n, "targetBytes", args(2))
               else 128L << 20
      val inc = args.size > 3 && bool(n, "incremental", args(3))
      deferred(n, clusterSchema) { () =>
        val r = graft.io.FeatherCluster.cluster(spark, path, cs, tb,
          incremental = inc)
        Seq(r.version, r.filesBefore.toLong, r.filesAfter.toLong)
      }
    }

    tvf("graft_zorder",
      "graft_zorder(path, colsCsv[, bitsPerDim[, incremental]]) - " +
        "OPTIMIZE ZORDER BY over numeric/date/timestamp/string " +
        "dimensions; incremental=true sweeps only new files") { args =>
      require(args.size >= 2 && args.size <= 4,
        "graft_zorder(path, colsCsv[, bitsPerDim[, incremental]])")
      val n = "graft_zorder"
      val path = pathArg(n, args(0))
      val cs = cols(str(n, "cols", args(1)))
      val bits = if (args.size > 2) long(n, "bitsPerDim", args(2)).toInt
                 else 12
      val inc = args.size > 3 && bool(n, "incremental", args(3))
      deferred(n, clusterSchema) { () =>
        val r = graft.io.FeatherCluster.clusterZOrder(spark, path, cs, bits,
          incremental = inc)
        Seq(r.version, r.filesBefore.toLong, r.filesAfter.toLong)
      }
    }

    tvf("graft_copy_into",
      "graft_copy_into(path, sourceDir, format[, pattern]) - idempotent " +
        "batch file ingestion: diff the source directory against the " +
        "table's copy ledger and append only never-ingested files") { args =>
      require(args.size >= 3 && args.size <= 4,
        "graft_copy_into(path, sourceDir, format[, pattern])")
      val n = "graft_copy_into"
      val path = pathArg(n, args(0))
      val src = str(n, "sourceDir", args(1))
      val fmt = str(n, "format", args(2))
      val pat = if (args.size > 3) Some(str(n, "pattern", args(3))) else None
      deferred(n, StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("files_ingested", LongType, nullable = false),
        StructField("files_skipped", LongType, nullable = false),
        StructField("bytes_source", LongType, nullable = false)))) { () =>
        val r = graft.io.CopyInto.run(spark, path, src, fmt, pattern = pat)
        Seq(r.version, r.filesIngested.toLong, r.filesSkipped.toLong,
          r.bytesSource)
      }
    }
  }
}
