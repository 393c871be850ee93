package graft

import org.apache.spark.sql.SparkSession

/** Shared test session (one JVM-wide session; suites run sequentially in
  * the forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // GraftSession's lossless-or-exact store assignment
      .config("spark.sql.storeAssignmentPolicy", "STRICT")
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_warehouse")
      // the engine's deliberate tiny-relation global windows partition
      // by a CONSTANT so WindowExec's "no partition defined" warning
      // stays meaningful for real regressions; this rule would fold the
      // constant away and bring the warning back (the rule is a no-op
      // optimization here — nothing else emits foldable partitions)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_tables")
      .config("spark.sql.catalog.graft_dv", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft_dv.warehouse",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_tables")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
}
