package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder for the harness mains and tests.
  *
  * All session-scoped configuration lives here — most importantly
  * `spark.sql.legacy.parquet.nanosAsLong`, which the events table needs
  * (TIMESTAMP_NS parquet; cuDF supports it natively, types.hpp:220).
  * Scoping it to the builder keeps table loaders side-effect free
  * (no action-at-a-distance conf mutation mid-query).
  */
object GraftSession {
  def build(appName: String): SparkSession = {
    // default to the machine's cores (the target harness runs local[32]);
    // SPARK_GRAFT_CPUS overrides for debugging at lower parallelism
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE right-sizes the 32-way shuffles at small SF (and re-plans skew
      // at large SF); letting it also repartition cached plans keeps the
      // iterative queries (connected components) from paying 32 near-empty
      // tasks per round
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INSERT / UPDATE SET / MERGE assignments apply only exact types and
      // lossless up-casts (the rule the engine's row-level entry points
      // check themselves, PredicateMutations.requireSets): Spark's
      // default ANSI policy would silently truncate
      // 15.5 into a BIGINT column and corrupt the written rows
      .config("spark.sql.storeAssignmentPolicy", "STRICT")
      // Deliberately NOT set here: spark.sql.parquet.outputTimestampType.
      // The parquet TABLE tier pins TIMESTAMP_MICROS per write inside
      // GraftParquet.withOutputMicros (footer stats stay usable, parts
      // carry annotated int64 micros); a session-wide setting leaks into
      // Verify's result dumps, which must keep Spark's default (INT96,
      // tz-naive on read-back) to schema-match the driver's DuckDB oracle.
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_warehouse")
      // the engine's deliberate tiny-relation global windows partition
      // by a CONSTANT so WindowExec's "no partition defined" warning
      // stays meaningful for real regressions; this rule would fold the
      // constant away and bring the warning back (the rule is a no-op
      // optimization here — nothing else emits foldable partitions)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      // name-based addressing through Spark's public catalog machinery:
      // CREATE/SELECT/INSERT/MERGE/SHOW TABLES resolve `graft.<name>`
      // via GraftCatalog (the graft.`/abs/path` spelling keeps working
      // through the same catalog); graft_dv = the merge-on-read DML
      // strategy by name
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_tables")
      .config("spark.sql.catalog.graft_dv", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft_dv.warehouse",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_tables")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
