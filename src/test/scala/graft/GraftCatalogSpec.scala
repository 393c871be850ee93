package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FeatherSnapshots

/** Name-based addressing through the DSv2 `GraftCatalog`
  * (`spark.sql.catalog.graft` → catalog/GraftCatalog.scala): tables
  * address as `graft.<name>` under the configured warehouse, resolve
  * through Spark's public catalog machinery, and lower onto the same
  * engine paths as the `graft.`/path`` spelling (which stays as the
  * escape hatch through the same catalog). */
class GraftCatalogSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val warehouse =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_tables"

  private def wipe(name: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(s"$warehouse/$name"))
  }
  private def versionOf(name: String): Long = {
    val p = new Path(s"$warehouse/$name")
    FeatherSnapshots.resolve(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, None)
      .get.version
  }

  test("CREATE by name lands under the warehouse; INSERT, SELECT, " +
       "UPDATE, MERGE, and time travel all resolve the NAME") {
    wipe("events")
    spark.sql("CREATE TABLE graft.events (id BIGINT, amt DOUBLE) " +
      "USING feather").collect(): Unit
    // the name IS the warehouse directory (self-healing store)
    assert(new java.io.File(s"$warehouse/events/_snapshots").isDirectory,
      "a named table lives at <warehouse>/<name>")
    spark.sql("INSERT INTO graft.events SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(1, 101)").collect(): Unit
    assert(spark.sql("SELECT count(*) AS n FROM graft.events")
      .head().getLong(0) === 100L)
    val v1 = versionOf("events")
    spark.sql("UPDATE graft.events SET amt = amt * 2 WHERE id <= 10")
      .collect(): Unit
    spark.sql("MERGE INTO graft.events t USING " +
      "(SELECT 5L AS id, CAST(-1.0 AS DOUBLE) AS amt " +
      "UNION ALL SELECT 500L, CAST(500.0 AS DOUBLE)) s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET amt = s.amt " +
      "WHEN NOT MATCHED THEN INSERT *").collect(): Unit
    val head = spark.sql("SELECT amt FROM graft.events WHERE id = 5")
      .head().getDouble(0)
    assert(head === -1.0, "merge update applied through the name")
    assert(spark.sql("SELECT count(*) AS n FROM graft.events")
      .head().getLong(0) === 101L, "merge insert applied")
    // time travel by name — VERSION AS OF pins through the catalog's
    // public loadTable(ident, version) overload
    assert(spark.sql(
      s"SELECT amt FROM graft.events VERSION AS OF $v1 WHERE id = 5")
      .head().getDouble(0) === 5.0, "the pinned version predates both")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.events VERSION AS OF $v1")
      .head().getLong(0) === 100L)
    // DELETE through the name
    spark.sql("DELETE FROM graft.events WHERE id > 90 AND id <= 100")
      .collect(): Unit
    assert(spark.sql("SELECT count(*) AS n FROM graft.events")
      .head().getLong(0) === 91L)
  }

  test("SHOW TABLES enumerates the warehouse; DESCRIBE and SHOW " +
       "COLUMNS resolve names; DROP removes a MANAGED table but " +
       "refuses a path") {
    wipe("t_show_a"); wipe("t_show_b")
    spark.sql("CREATE TABLE graft.t_show_a (id BIGINT) USING feather")
      .collect(): Unit
    spark.sql("CREATE TABLE graft.t_show_b (id BIGINT) USING feather")
      .collect(): Unit
    val names = spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).toSet
    assert(Set("t_show_a", "t_show_b").subsetOf(names), names.toString)
    val desc = spark.sql("DESCRIBE TABLE graft.t_show_a").collect()
      .map(_.getString(0))
    assert(desc.contains("id"))
    assert(spark.sql("SHOW COLUMNS IN graft.t_show_a").collect()
      .map(_.getString(0)).toSeq === Seq("id"))
    // managed drop deletes the directory
    spark.sql("DROP TABLE graft.t_show_b").collect(): Unit
    assert(!new java.io.File(s"$warehouse/t_show_b").exists())
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("t_show_b"))
    // DROP IF EXISTS no-ops on a missing name
    spark.sql("DROP TABLE IF EXISTS graft.t_show_b").collect(): Unit
    // a PATH-addressed drop keeps the loud refusal (not catalog-managed)
    val p = s"${sys.props("java.io.tmpdir")}/graft_cat_pathdrop"
    import spark.implicits._
    Seq((1L, 1.0)).toDF("id", "amt").write.format("feather")
      .mode("overwrite").option("snapshots", "true").save(p)
    val e = intercept[Exception] {
      spark.sql(s"DROP TABLE graft.`$p`").collect()
    }
    assert(e.getMessage.contains("delete the path deliberately"),
      e.getMessage)
    assert(new java.io.File(s"$p/_snapshots").isDirectory,
      "the refusal left the path table intact")
    spark.sql("DROP TABLE graft.t_show_a").collect(): Unit
  }

  test("CTAS by name (partitioned, parquet face); INSERT OVERWRITE " +
       "with a static PARTITION spec scopes to its leaf; SHOW " +
       "PARTITIONS and TRUNCATE resolve the name") {
    wipe("sales")
    spark.sql("CREATE TABLE graft.sales USING parquet " +
      "PARTITIONED BY (day) AS " +
      "SELECT id, CONCAT('d', CAST(id % 3 AS STRING)) AS day " +
      "FROM range(30)").collect(): Unit
    assert(spark.sql("SELECT count(*) AS n FROM graft.sales")
      .head().getLong(0) === 30L)
    assert(new java.io.File(s"$warehouse/sales/day=d1").isDirectory)
    assert(spark.sql("SHOW PARTITIONS graft.sales").collect()
      .map(_.getString(0)).toSeq === Seq("day=d0", "day=d1", "day=d2"))
    // static-spec overwrite replaces exactly its leaf (replaceWhere
    // under the hood: one predicate-scoped atomic commit)
    spark.sql("INSERT OVERWRITE graft.sales PARTITION (day='d1') " +
      "SELECT 1000L").collect(): Unit
    val after = spark.sql("SELECT id FROM graft.sales WHERE day = 'd1'")
      .collect().map(_.getLong(0)).toSeq
    assert(after === Seq(1000L), after.toString)
    assert(spark.sql("SELECT count(*) AS n FROM graft.sales")
      .head().getLong(0) === 21L, "other leaves carry through")
    spark.sql("TRUNCATE TABLE graft.sales").collect(): Unit
    assert(spark.sql("SELECT count(*) AS n FROM graft.sales")
      .head().getLong(0) === 0L)
    assert(spark.sql("SELECT id FROM graft.sales").schema
      .fieldNames.toSeq === Seq("id"), "schema survives the truncate")
    spark.sql("DROP TABLE graft.sales").collect(): Unit
  }

  test("ALTER TABLE ADD COLUMNS and RENAME resolve names; namespaces " +
       "are warehouse directories") {
    wipe("evolving"); wipe("renamed"); wipe("ns1")
    spark.sql("CREATE TABLE graft.evolving (id BIGINT) USING feather")
      .collect(): Unit
    spark.sql("INSERT INTO graft.evolving SELECT 1L").collect(): Unit
    spark.sql("ALTER TABLE graft.evolving ADD COLUMNS (score DOUBLE)")
      .collect(): Unit
    assert(spark.sql("SELECT * FROM graft.evolving").schema
      .fieldNames.toSeq === Seq("id", "score"))
    spark.sql("INSERT INTO graft.evolving " +
      "SELECT 2L, CAST(0.5 AS DOUBLE)").collect(): Unit
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.evolving WHERE score IS NULL")
      .head().getLong(0) === 1L)
    // rename = one atomic directory move
    spark.sql("ALTER TABLE graft.evolving RENAME TO renamed")
      .collect(): Unit
    assert(spark.sql("SELECT count(*) AS n FROM graft.renamed")
      .head().getLong(0) === 2L)
    assert(!new java.io.File(s"$warehouse/evolving").exists())
    // namespaces: plain directories; tables create inside them
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns1").collect(): Unit
    spark.sql("CREATE TABLE graft.ns1.inner (id BIGINT) USING feather")
      .collect(): Unit
    spark.sql("INSERT INTO graft.ns1.inner SELECT 7L").collect(): Unit
    assert(spark.sql("SELECT id FROM graft.ns1.inner").head()
      .getLong(0) === 7L)
    assert(spark.sql("SHOW TABLES IN graft.ns1").collect()
      .map(_.getString(1)).toSeq === Seq("inner"))
    assert(new java.io.File(s"$warehouse/ns1/inner/_snapshots")
      .isDirectory)
    // a namespace holding tables refuses to drop (even CASCADE)
    val e = intercept[Exception] {
      spark.sql("DROP NAMESPACE graft.ns1 CASCADE").collect()
    }
    assert(e.getMessage.contains("deliberately"), e.getMessage)
    spark.sql("DROP TABLE graft.ns1.inner").collect(): Unit
    spark.sql("DROP NAMESPACE graft.ns1").collect(): Unit
    assert(!new java.io.File(s"$warehouse/ns1").exists())
    spark.sql("DROP TABLE graft.renamed").collect(): Unit
  }

  test("the graft_dv catalog name selects the merge-on-read DML " +
       "strategy: DELETE masks with deletion vectors instead of " +
       "rewriting") {
    wipe("dvtab")
    spark.sql("CREATE TABLE graft_dv.dvtab (id BIGINT, amt DOUBLE) " +
      "USING feather").collect(): Unit
    spark.sql("INSERT INTO graft_dv.dvtab SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(1, 101)").collect(): Unit
    val filesBefore = {
      val p = new Path(s"$warehouse/dvtab")
      FeatherSnapshots.resolve(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, None)
        .get.files.map(_._1).toSet
    }
    spark.sql("DELETE FROM graft_dv.dvtab WHERE id = 42").collect(): Unit
    val snap = {
      val p = new Path(s"$warehouse/dvtab")
      FeatherSnapshots.resolve(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, None)
        .get
    }
    assert(snap.dvs.nonEmpty, "DV face must mask, not rewrite")
    assert(snap.files.map(_._1).toSet === filesBefore,
      "no data file rewritten")
    // both catalog names read the same store (shared warehouse)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dvtab")
      .head().getLong(0) === 99L, "the mask serves reads either way")
    spark.sql("DROP TABLE graft.dvtab").collect(): Unit
  }

  test("the DataFrameWriterV2 API resolves names too: writeTo.append, " +
       "overwrite(condition) = replaceWhere, overwritePartitions " +
       "guarded by the conf; INSERT OVERWRITE BY NAME aligns by name") {
    import spark.implicits._
    wipe("wt")
    spark.sql("CREATE TABLE graft.wt (id BIGINT, day STRING) " +
      "USING parquet").collect(): Unit
    (1L to 10L).map(i => (i, s"d${i % 2}")).toDF("id", "day")
      .writeTo("graft.wt").append()
    assert(spark.sql("SELECT count(*) AS n FROM graft.wt")
      .head().getLong(0) === 10L)
    // overwrite(condition) is the replaceWhere spelling
    Seq((100L, "d1")).toDF("id", "day")
      .writeTo("graft.wt").overwrite(col("day") === "d1")
    val got = spark.sql("SELECT id FROM graft.wt ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 4L, 6L, 8L, 10L, 100L), got.toString)
    // overwritePartitions without the dynamic conf refuses with guidance
    val e = intercept[Exception] {
      Seq((7L, "d1")).toDF("id", "day")
        .writeTo("graft.wt").overwritePartitions()
    }
    assert(e.getMessage.contains("partitionOverwriteMode"), e.getMessage)
    // BY NAME insert: reordered query columns match by name
    spark.sql("INSERT INTO graft.wt BY NAME " +
      "SELECT 'd0' AS day, 200L AS id").collect(): Unit
    assert(spark.sql("SELECT day FROM graft.wt WHERE id = 200")
      .head().getString(0) === "d0")
    spark.sql("DROP TABLE graft.wt").collect(): Unit
  }

  test("the maintenance TVFs take catalog names: graft_history, " +
       "graft_optimize, and graft_table_changes address by name") {
    wipe("maint")
    spark.sql("CREATE TABLE graft.maint (id BIGINT) USING feather")
      .collect(): Unit
    spark.sql("INSERT INTO graft.maint SELECT id FROM range(10)")
      .collect(): Unit
    spark.sql("INSERT INTO graft.maint SELECT id + 10 FROM range(10)")
      .collect(): Unit
    val hist = spark.sql("SELECT * FROM graft_history('maint')").collect()
    assert(hist.length === 3, s"create + 2 inserts: ${hist.length}")
    val opt = spark.sql("CALL graft.system.compact('maint')").collect()
    assert(opt.length === 1)
    assert(spark.sql("SELECT count(*) AS n FROM graft.maint")
      .head().getLong(0) === 20L)
    // (from, to] version-diff semantics: (1, 3] = both inserts
    val changes = spark.sql(
      "SELECT count(*) AS n FROM graft_table_changes('maint', 1, 3)")
      .head().getLong(0)
    assert(changes === 20L, s"(1, 3] = both inserts: $changes")
    spark.sql("DROP TABLE graft.maint").collect(): Unit
  }

  test("named graft tables compose with Spark's broader machinery: " +
       "views, CACHE TABLE, self-joins, USE catalog, and EXPLAIN " +
       "never mutating") {
    import spark.implicits._
    wipe("compose")
    spark.sql("CREATE TABLE graft.compose (id BIGINT, amt DOUBLE) " +
      "USING feather").collect(): Unit
    spark.sql("INSERT INTO graft.compose " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(1, 21)").collect(): Unit
    // a temp view over the claimed read
    spark.sql("CREATE OR REPLACE TEMP VIEW compose_v AS " +
      "SELECT id, amt * 2 AS amt2 FROM graft.compose WHERE id <= 10")
      .collect(): Unit
    assert(spark.sql("SELECT sum(amt2) AS s FROM compose_v")
      .head().getDouble(0) === (1 to 10).map(_ * 2.0).sum)
    // CACHE TABLE caches the claimed plan; reads still serve
    spark.sql("CACHE TABLE compose_v").collect(): Unit
    assert(spark.sql("SELECT count(*) AS n FROM compose_v")
      .head().getLong(0) === 10L)
    spark.sql("UNCACHE TABLE compose_v").collect(): Unit
    // a self-join of the same name gets fresh attribute ids per branch
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.compose a " +
      "JOIN graft.compose b ON a.id = b.id + 1").head().getLong(0) === 19L)
    // USE graft: bare names resolve against the current catalog
    spark.sql("USE graft").collect(): Unit
    try
      assert(spark.sql("SELECT count(*) AS n FROM compose")
        .head().getLong(0) === 20L)
    finally spark.sql("USE spark_catalog").collect(): Unit
    // EXPLAIN of DML through a name never mutates
    spark.sql("EXPLAIN MERGE INTO graft.compose t USING " +
      "(SELECT 999L AS id, CAST(0.0 AS DOUBLE) AS amt) s " +
      "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *").collect(): Unit
    assert(spark.sql("SELECT count(*) AS n FROM graft.compose")
      .head().getLong(0) === 20L, "EXPLAIN must not insert")
    spark.sql("DROP TABLE graft.compose").collect(): Unit
  }

  test("writeStream.toTable resolves a NAME onto the face connector's " +
       "streaming sink: the sink commits manifest versions") {
    import spark.implicits._
    wipe("sink_src"); wipe("sink_t")
    spark.sql("CREATE TABLE graft.sink_src (id BIGINT) USING feather")
      .collect(): Unit
    spark.sql("CREATE TABLE graft.sink_t (id BIGINT) USING feather")
      .collect(): Unit
    spark.sql("INSERT INTO graft.sink_src SELECT id FROM range(1, 6)")
      .collect(): Unit
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cat_sink").toString
    val q = spark.readStream.table("graft.sink_src")
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").toTable("graft.sink_t")
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM graft.sink_t").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 5L),
        "the streamed rows must land as a table commit")
      // the sink committed through the snapshot protocol (new version)
      val p = new Path(s"$warehouse/sink_t")
      val snap = FeatherSnapshots.resolve(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, None)
      assert(snap.get.version >= 2, s"manifest advanced: ${snap.get}")
    } finally q.stop()
    spark.sql("DROP TABLE graft.sink_t").collect(): Unit
    spark.sql("DROP TABLE graft.sink_src").collect(): Unit
  }

  test("readStream.table resolves a NAME onto the face connector's " +
       "snapshot stream: appends arrive as micro-batches") {
    import spark.implicits._
    wipe("feed")
    spark.sql("CREATE TABLE graft.feed (id BIGINT) USING feather")
      .collect(): Unit
    spark.sql("INSERT INTO graft.feed SELECT id FROM range(1, 4)")
      .collect(): Unit
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cat_stream").toString
    val q = spark.readStream.table("graft.feed")
      .writeStream.format("memory").queryName("graft_cat_feed")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM graft_cat_feed").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
      spark.sql("INSERT INTO graft.feed SELECT 9L").collect(): Unit
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM graft_cat_feed").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 9L),
        "the named stream must deliver the appended version")
    } finally q.stop()
    spark.sql("DROP TABLE graft.feed").collect(): Unit
  }

  test("a table or namespace can NEVER nest inside a table's " +
       "directory (the outer table's vacuum would reclaim the nested " +
       "data as orphans)") {
    wipe("outer_t")
    spark.sql("CREATE TABLE graft.outer_t (id BIGINT) USING feather")
      .collect(): Unit
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.outer_t.inner (id BIGINT) " +
        "USING feather").collect()
    }
    // either the ancestor guard or Spark's own namespace resolution
    // (a table is not a namespace) — both refuse before any write
    assert(e1.getMessage.contains("cannot nest") ||
      e1.getMessage.contains("SCHEMA_NOT_FOUND"), e1.getMessage)
    assert(!new java.io.File(s"$warehouse/outer_t/inner").exists())
    val e2 = intercept[Exception] {
      spark.sql("CREATE NAMESPACE graft.outer_t.ns").collect()
    }
    assert(e2.getMessage.contains("cannot nest") ||
      e2.getMessage.contains("SCHEMA_NOT_FOUND"), e2.getMessage)
    // the PATH spelling cannot sneak a nested table in either (the
    // shared TableDdl guard walks the ancestors)
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$warehouse/outer_t/sub` " +
        "(id BIGINT) USING feather").collect()
    }
    assert(e3.getMessage.contains("nest inside"), e3.getMessage)
    assert(!new java.io.File(s"$warehouse/outer_t/sub").exists())
    // a namespace cannot double as an existing table's directory
    val e4 = intercept[Exception] {
      spark.sql("CREATE NAMESPACE graft.outer_t").collect()
    }
    assert(e4.getMessage.contains("TABLE") ||
      e4.getMessage.contains("already exists"), e4.getMessage)
    // MSCK REPAIR (adopt) is a table-minting door too: repairing a
    // subdirectory of an existing table refuses
    new java.io.File(s"$warehouse/outer_t/drop").mkdirs()
    import spark.implicits._
    Seq((1L, 1.0)).toDF("a", "b").coalesce(1)
      .write.mode("overwrite").parquet(s"$warehouse/outer_t/drop/raw")
    val e5 = intercept[Exception] {
      spark.sql(s"MSCK REPAIR TABLE graft.`$warehouse/outer_t/drop/raw`")
        .collect()
    }
    assert(e5.getMessage.contains("nest"), e5.getMessage)
    spark.sql("DROP TABLE graft.outer_t").collect(): Unit
  }

  test("refusals: unknown name is TABLE_OR_VIEW_NOT_FOUND; hostile " +
       "identifier segments refuse; CREATE OR REPLACE swaps atomically") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM graft.no_such_table_xyz").collect()
    }
    assert(e1.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"),
      e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.`_hidden` (id BIGINT) USING feather")
        .collect()
    }
    assert(e2.getMessage.contains("segment"), e2.getMessage)
    wipe("replaceme")
    spark.sql("CREATE TABLE graft.replaceme (id BIGINT) USING feather")
      .collect(): Unit
    // one manifest commit swaps content AND schema; the old version
    // stays time-travelable (ReplaceTableSpec pins the full story)
    spark.sql("CREATE OR REPLACE TABLE graft.replaceme " +
      "USING feather AS SELECT 7L AS id, 'x' AS tag").collect(): Unit
    val swapped = spark.sql("SELECT id, tag FROM graft.replaceme").collect()
    assert(swapped.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((7L, "x")))
    spark.sql("DROP TABLE graft.replaceme").collect(): Unit
  }
}
