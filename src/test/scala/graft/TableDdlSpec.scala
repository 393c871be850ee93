package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FeatherSnapshots

/** SQL DDL over graft tables (io/TableDdl via GraftSqlRelationsRule):
  * TRUNCATE TABLE and ALTER TABLE ADD COLUMNS — both manifest-only
  * statements (per-leaf zero-row stamps, no data reads or rewrites). */
class TableDdlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_ddl/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def head(p: String) =
    FeatherSnapshots.resolve(fsOf(p), new Path(p), None).get

  private def writeFlat(path: String): Unit = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
      .repartitionByRange(2, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }

  test("TRUNCATE TABLE empties the table in one commit, keeps the " +
       "schema and hive layout readable, and time travel undoes it") {
    import spark.implicits._
    val flat = tmp("trunc_flat")
    writeFlat(flat)
    spark.sql(s"TRUNCATE TABLE graft.`$flat`").collect(): Unit
    val got = spark.read.format("feather").load(flat)
    assert(got.count() === 0)
    assert(got.columns.toSeq === Seq("id", "amt"), "schema survives")
    assert(spark.sql(s"SELECT * FROM graft.`$flat` VERSION AS OF 1")
      .count() === 100, "prior versions keep reading")
    // partitioned: the key=value layout survives via per-leaf stamps
    val part = tmp("trunc_part")
    graft.io.ParquetTable.write(
      (1 to 60).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day"),
      part, partitionBy = Seq("day"))
    spark.sql(s"TRUNCATE TABLE graft.`$part`").collect(): Unit
    assert(graft.io.ParquetTable.read(spark, part).count() === 0)
    (0 to 2).foreach(d => assert(
      new java.io.File(s"$part/day=d$d").isDirectory,
      "leaf dirs survive a truncate"))
    // a subsequent partitioned insert still routes
    spark.sql(s"INSERT INTO graft.`$part` SELECT 999L, 'd1'")
      .collect(): Unit
    assert(graft.io.ParquetTable.read(spark, part).count() === 1)
    // TRUNCATE truncates under DYNAMIC overwrite mode too (unlike a
    // zero-row INSERT OVERWRITE, which no-ops there)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try spark.sql(s"TRUNCATE TABLE graft.`$part`").collect(): Unit
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(graft.io.ParquetTable.read(spark, part).count() === 0)
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema without touching " +
       "data: existing rows read NULL, inserts may then supply it, " +
       "EXPLAIN never mutates") {
    import spark.implicits._
    val path = tmp("add_cols")
    writeFlat(path)
    val dataBefore = head(path).files.toSet
    val q = s"ALTER TABLE graft.`$path` ADD COLUMNS " +
      "(score DOUBLE, tags ARRAY<STRING>)"
    // the Command contract: EXPLAIN <stmt> plans under
    // CommandExecutionMode.SKIP and never mutates (spark.sql(stmt)
    // itself IS the eager execution, like Spark's own DML)
    spark.sql(s"EXPLAIN $q").collect(): Unit
    assert(spark.read.format("feather").load(path).columns.length === 2,
      "EXPLAIN must not evolve")
    spark.sql(q).collect(): Unit
    // an evolved table reads under its UNION schema (the write-evolution
    // read contract: mergeSchema, or the SQL read which sets it)
    def got = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(got.columns.toSeq === Seq("id", "amt", "score", "tags"))
    assert(got.where(col("score").isNull).count() === 100,
      "existing rows read the new column as NULL")
    assert(head(path).files.toSet.intersect(dataBefore) === dataBefore,
      "no data file is rewritten — the commit is stamps only")
    spark.sql(s"INSERT INTO graft.`$path` " +
      "SELECT 999L, 1.0D, 0.5D, array('a')").collect(): Unit
    assert(got.where(col("id") === 999L && col("score") === 0.5)
      .count() === 1)
  }

  test("ADD COLUMNS refusals: existing name, case-variant, duplicate, " +
       "NOT NULL, nested, positioned, DEFAULT") {
    val path = tmp("add_refuse")
    writeFlat(path)
    def refuse(ddl: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(ddl).collect() }
      assert(e.getMessage.contains(needle), s"$ddl → ${e.getMessage}")
    }
    refuse(s"ALTER TABLE graft.`$path` ADD COLUMNS (amt DOUBLE)",
      "already exists")
    refuse(s"ALTER TABLE graft.`$path` ADD COLUMNS (AMT DOUBLE)",
      "already exists")
    // a duplicate within the statement: Spark's own check
    refuse(s"ALTER TABLE graft.`$path` ADD COLUMNS (x INT, X LONG)",
      "already exists")
    refuse(s"ALTER TABLE graft.`$path` ADD COLUMNS (x INT NOT NULL)",
      "NOT NULL")
    refuse(s"ALTER TABLE graft.`$path` ADD COLUMNS (x INT FIRST)",
      "FIRST/AFTER")
    refuse(s"ALTER TABLE graft.`$path` ADD COLUMNS (x INT DEFAULT 3)",
      "DEFAULT")
    // nothing committed by any refusal
    assert(head(path).version === 1L)
  }

  test("a RACING commit that adds files aborts an in-flight ALTER — " +
       "two ALTERs landing conflicting types would brick merged reads") {
    import spark.implicits._
    val path = tmp("race_alter")
    writeFlat(path)
    // land a competing commit inside the ALTER's commit window (the
    // conflict-matrix test seam): a second ALTER's stamps, which would
    // give 'score' a DIFFERENT type
    FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.TableDdl.addColumns(spark, path, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.StringType))): Unit
    }
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (score DOUBLE)")
        .collect()
    }
    // the loser's commit aborts on the no-new-files check, and its
    // revalidate-and-retry then sees the winner's 'score' and refuses
    // with the CORRECT diagnosis (not a raw race error)
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // the winner's evolution (STRING) is intact and the table reads
    val got = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(got.schema("score").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(got.count() === 100)
  }

  test("an ALTER racing schema-NEUTRAL appends retries and LANDS — " +
       "continuous ingest must not starve schema evolution") {
    import spark.implicits._
    val path = tmp("race_append")
    writeFlat(path)
    // a blind append lands inside the ALTER's first commit window; the
    // retry revalidates (no conflict — the append is schema-neutral)
    // and commits
    FeatherSnapshots.testBeforeMutationCommit = () => {
      Seq((9999L, 9.9)).toDF("id", "amt")
        .write.format("feather").mode("append").save(path)
    }
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMNS (score DOUBLE)")
      .collect(): Unit
    val got = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(got.columns.contains("score"))
    assert(got.count() === 101, "both the append and the ALTER landed")
  }

  test("adjacent DDL spellings refuse loudly instead of falling " +
       "through to a catalog 'table not found'") {
    val path = tmp("adjacent")
    writeFlat(path)
    // flat table: Spark's own partition-spec resolver refuses first
    // (SupportsPartitionManagement exposes the empty partition schema)
    val e1 = intercept[Exception] {
      spark.sql(s"TRUNCATE TABLE graft.`$path` PARTITION (day='d1')")
        .collect()
    }
    assert(e1.getMessage.contains("PARTITIONS_NOT_FOUND"), e1.getMessage)
    // partitioned table: the spec resolves, and the graft claim refuses
    // with its own guidance
    val partPath: String = tmp("adjacent_part")
    locally {
      import spark.implicits._
      graft.io.ParquetTable.write(
        (1 to 12).map(i => (i.toLong, s"d${i % 2}")).toDF("id", "day"),
        partPath, partitionBy = Seq("day"))
    }
    val e1b = intercept[Exception] {
      spark.sql(s"TRUNCATE TABLE graft.`$partPath` PARTITION (day='d1')")
        .collect()
    }
    assert(e1b.getMessage.contains("partition-scoped truncate"),
      e1b.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$path` DROP COLUMN amt").collect()
    }
    assert(e2.getMessage.contains("only ADD COLUMNS"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$path` RENAME COLUMN amt TO amount")
        .collect()
    }
    assert(e3.getMessage.contains("only ADD COLUMNS"), e3.getMessage)
  }

  test("CREATE TABLE makes an empty snapshot table every statement " +
       "can target from birth; IF NOT EXISTS no-ops; re-CREATE refuses") {
    val path = tmp("create_flat")
    spark.sql(s"CREATE TABLE graft.`$path` (id BIGINT, amt DOUBLE)")
      .collect(): Unit
    val got = spark.sql(s"SELECT * FROM graft.`$path`")
    assert(got.columns.toSeq === Seq("id", "amt") && got.count() === 0)
    spark.sql(s"INSERT INTO graft.`$path` SELECT 1L, 2.0D").collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$path`").count() === 1)
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$path` (x INT)").collect()
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.`$path` (x INT)")
      .collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$path`").count() === 1,
      "IF NOT EXISTS must be a no-op")
  }

  test("CTAS creates-and-fills in one statement; partitioned CTAS " +
       "routes leaves on the parquet face; IF NOT EXISTS skips the query") {
    import spark.implicits._
    val flat = tmp("ctas_flat")
    (1 to 40).map(i => (i.toLong, i * 2.0)).toDF("id", "amt")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE graft.`$flat` AS SELECT * FROM ctas_src")
      .collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$flat`").count() === 40)
    // IF NOT EXISTS on an existing table: content unchanged
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.`$flat` AS " +
      "SELECT * FROM ctas_src").collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$flat`").count() === 40)
    // partitioned CTAS (parquet face)
    val part = tmp("ctas_part")
    (1 to 30).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day")
      .createOrReplaceTempView("ctas_part_src")
    spark.sql(s"CREATE TABLE graft.`$part` USING parquet " +
      "PARTITIONED BY (day) AS SELECT * FROM ctas_part_src")
      .collect(): Unit
    (0 to 2).foreach(d => assert(
      new java.io.File(s"$part/day=d$d").isDirectory,
      "CTAS must route rows to their leaves"))
    assert(graft.io.ParquetTable.read(spark, part)
      .where(col("day") === "d1").count() === 10)
    // the full statement set runs on a CTAS table
    spark.sql(s"DELETE FROM graft.`$part` WHERE id <= 10").collect(): Unit
    assert(graft.io.ParquetTable.read(spark, part).count() === 20)
  }

  test("CREATE never destroys what it did not make: a non-empty " +
       "non-snapshot directory refuses instead of being overwritten") {
    import spark.implicits._
    val path = tmp("create_plain")
    Seq((1L, "keep")).toDF("id", "v").write.parquet(path)
    val before = new java.io.File(path).listFiles().map(_.getName).toSet
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$path` (id BIGINT)").collect()
    }
    assert(e.getMessage.contains("adopt"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$path` AS SELECT 1L AS id")
        .collect()
    }
    assert(e2.getMessage.contains("adopt"), e2.getMessage)
    assert(new java.io.File(path).listFiles().map(_.getName).toSet
      === before, "the plain directory is untouched")
  }

  test("CREATE refusals: PARTITIONED BY on an empty table, LOCATION, " +
       "TBLPROPERTIES, DEFAULT, non-identity transforms, unknown face") {
    val path = tmp("create_refuse")
    def refuse(ddl: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(ddl).collect() }
      assert(e.getMessage.contains(needle), s"$ddl → ${e.getMessage}")
    }
    refuse(s"CREATE TABLE graft.`$path` (id BIGINT, day STRING) " +
      "PARTITIONED BY (day)", "empty table")
    refuse(s"CREATE TABLE graft.`$path` (id BIGINT) LOCATION '/elsewhere'",
      "LOCATION")
    refuse(s"CREATE TABLE graft.`$path` (id BIGINT) " +
      "TBLPROPERTIES ('a'='b')", "TBLPROPERTIES")
    // with GraftCatalog registered, Spark's own capability check names
    // the refusal ("does not support column default value"); the
    // rule-based path spells DEFAULT
    locally {
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$path` (id BIGINT DEFAULT 3)")
          .collect()
      }
      assert(e.getMessage.toLowerCase.contains("default"), e.getMessage)
    }
    refuse(s"CREATE TABLE graft.`$path` (id BIGINT, day STRING) " +
      "PARTITIONED BY (bucket(4, id))", "plain column")
    refuse(s"CREATE TABLE graft.`$path` (id BIGINT) USING orc",
      "feather (default), parquet, avro")
    assert(!new java.io.File(path).exists(),
      "no refusal may leave a half-created table")
  }

  test("USING selects the face: avro and parquet CREATEs take inserts " +
       "through their own connectors") {
    val avro = tmp("create_avro")
    // Spark's own provider lookup runs before the claim, so the
    // spelling is the REGISTERED source name (plain 'avro' would need
    // the external spark-avro module)
    spark.sql(s"CREATE TABLE graft.`$avro` (id BIGINT, v STRING) " +
      "USING `graft-avro`").collect(): Unit
    spark.sql(s"INSERT INTO graft.`$avro` SELECT 7L, 'x'").collect(): Unit
    val gotAvro = spark.read.format("graft-avro").load(avro)
    assert(gotAvro.count() === 1)
    val pq = tmp("create_pq")
    spark.sql(s"CREATE TABLE graft.`$pq` (id BIGINT, v STRING) " +
      "USING parquet").collect(): Unit
    spark.sql(s"INSERT INTO graft.`$pq` SELECT 8L, 'y'").collect(): Unit
    assert(graft.io.ParquetTable.read(spark, pq).count() === 1)
  }

  test("DESCRIBE TABLE prints the schema (partition section included); " +
       "EXTENDED adds the face/version detail; DROP TABLE refuses") {
    import spark.implicits._
    val part = tmp("describe")
    graft.io.ParquetTable.write(
      (1 to 30).map(i => (i.toLong, i * 1.0, s"d${i % 3}"))
        .toDF("id", "amt", "day"),
      part, partitionBy = Seq("day"))
    val rows = spark.sql(s"DESCRIBE TABLE graft.`$part`").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.contains(("id", "bigint")) &&
      rows.contains(("amt", "double")))
    assert(rows.exists(_._1 == "# Partition Information"))
    // Spark's own shape: the MAIN section carries the FULL schema
    // (partition cols included), the partition section repeats them
    val mainRows = rows.takeWhile(!_._1.startsWith("#"))
    assert(mainRows.exists(_._1 == "day"),
      "consumers parsing up to the first '#' must see the whole schema")
    assert(rows.count(_._1 == "day") === 2)
    val ext = spark.sql(s"DESCRIBE TABLE EXTENDED graft.`$part`")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(ext("Face") === "parquet")
    assert(ext("Version") === "1")
    // the COLUMN form and SHOW COLUMNS ride the same resolution
    val colRows = spark.sql(s"DESCRIBE graft.`$part` amt").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(colRows("col_name") === "amt" &&
      colRows("data_type") === "double")
    assert(spark.sql(s"SHOW COLUMNS IN graft.`$part`").collect()
      .map(_.getString(0)).toSeq === Seq("id", "amt", "day"))
    val e = intercept[Exception] {
      spark.sql(s"DROP TABLE graft.`$part`").collect()
    }
    assert(e.getMessage.contains("delete the path deliberately"),
      e.getMessage)
    assert(new java.io.File(part).isDirectory, "DROP must not delete")
    // idempotent cleanup: IF EXISTS no-ops on a table-less path, the
    // plain form names the real problem
    spark.sql(s"DROP TABLE IF EXISTS graft.`${tmp("drop_missing")}`")
      .collect(): Unit
    val e2 = intercept[Exception] {
      spark.sql(s"DROP TABLE graft.`${tmp("drop_missing2")}`").collect()
    }
    // with GraftCatalog registered, a table-less path fails Spark's own
    // resolution (TABLE_OR_VIEW_NOT_FOUND); the rule path names the
    // real problem itself
    assert(e2.getMessage.contains("nothing to drop") ||
      e2.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"SHOW CREATE TABLE graft.`$part`").collect()
    }
    assert(e3.getMessage.contains("DESCRIBE TABLE EXTENDED"),
      e3.getMessage)
  }

  test("CREATE OR REPLACE swaps in one commit (path spelling); OPTIONS " +
       "and COMMENT refuse instead of silently dropping; an empty table " +
       "DESCRIBEs with Data Files = 0") {
    val path = tmp("replace_refuse")
    spark.sql(s"CREATE TABLE graft.`$path` (id BIGINT)").collect(): Unit
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$path` USING feather " +
      "AS SELECT 11L AS id").collect(): Unit
    assert(spark.sql(s"SELECT id FROM graft.`$path`").collect()
      .map(_.getLong(0)).toSeq == Seq(11L))
    // restore the empty shape the Data Files assertion below pins
    spark.sql(s"REPLACE TABLE graft.`$path` (id BIGINT)").collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$path`").count() == 0L)
    def refuse(ddl: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(ddl).collect() }
      assert(e.getMessage.contains(needle), s"$ddl → ${e.getMessage}")
    }
    val p2 = tmp("opts_refuse")
    refuse(s"CREATE TABLE graft.`$p2` (id BIGINT) " +
      "OPTIONS (compression 'zstd')", "OPTIONS")
    refuse(s"CREATE TABLE graft.`$p2` (id BIGINT) COMMENT 'hello'",
      "COMMENT")
    refuse(s"CREATE TABLE graft.`$p2` (id BIGINT) USING feather " +
      "OPTIONS (compression 'zstd')", "OPTIONS")
    // stamps are bookkeeping, not data
    val ext = spark.sql(s"DESCRIBE TABLE EXTENDED graft.`$path`")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(ext("Data Files") === "0",
      "an empty table must not count its schema stamps as data")
  }

  test("SHOW PARTITIONS lists the manifest's hive leaves; ANALYZE " +
       "refuses pointing at the stats sidecar tier") {
    import spark.implicits._
    val part = tmp("show_parts")
    graft.io.ParquetTable.write(
      (1 to 30).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day"),
      part, partitionBy = Seq("day"))
    assert(spark.sql(s"SHOW PARTITIONS graft.`$part`").collect()
      .map(_.getString(0)).toSeq === Seq("day=d0", "day=d1", "day=d2"))
    val flat = tmp("show_parts_flat")
    writeFlat(flat)
    val e = intercept[Exception] {
      spark.sql(s"SHOW PARTITIONS graft.`$flat`").collect()
    }
    assert(e.getMessage.contains("not partitioned"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ANALYZE TABLE graft.`$part` COMPUTE STATISTICS")
        .collect()
    }
    assert(e2.getMessage.contains("sidecars"), e2.getMessage)
  }

  test("MSCK REPAIR TABLE adopts a plain directory: hive parquet and " +
       "flat feather both become snapshot tables; mixed formats and " +
       "re-repair refuse") {
    import spark.implicits._
    // hive parquet dir, written with NO graft involvement
    val part = tmp("msck_part")
    (1 to 30).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day")
      .write.partitionBy("day").parquet(part)
    spark.sql(s"MSCK REPAIR TABLE graft.`$part`").collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$part`").count() === 30)
    assert(spark.sql(s"SHOW PARTITIONS graft.`$part`").collect()
      .map(_.getString(0)).toSeq === Seq("day=d0", "day=d1", "day=d2"))
    // the full statement set runs on the adopted table
    spark.sql(s"DELETE FROM graft.`$part` WHERE id <= 10").collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$part`").count() === 20)
    val e = intercept[Exception] {
      spark.sql(s"MSCK REPAIR TABLE graft.`$part`").collect()
    }
    assert(e.getMessage.contains("exactly once"), e.getMessage)
    // flat feather dir (plain writer, no snapshots)
    val flat = tmp("msck_flat")
    graft.io.GraftFeather.write(
      (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "amt"), flat)
    spark.sql(s"MSCK REPAIR TABLE graft.`$flat`").collect(): Unit
    assert(spark.sql(s"SELECT * FROM graft.`$flat`").count() === 40)
    // mixed formats refuse
    val mixed = tmp("msck_mixed")
    Seq((1L, 1.0)).toDF("id", "amt").write.parquet(s"$mixed/p")
    graft.io.GraftFeather.write(
      Seq((2L, 2.0)).toDF("id", "amt"), s"$mixed/f")
    val e2 = intercept[Exception] {
      spark.sql(s"MSCK REPAIR TABLE graft.`$mixed`").collect()
    }
    assert(e2.getMessage.contains("mixed data formats"), e2.getMessage)
  }

  test("a partition-column name refuses; the parquet face evolves too") {
    import spark.implicits._
    val part = tmp("add_part")
    graft.io.ParquetTable.write(
      (1 to 30).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day"),
      part, partitionBy = Seq("day"))
    // Spark's own check refuses (the partition column is part of the
    // table schema) and nothing is committed
    val v = head(part).version
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$part` ADD COLUMNS (day STRING)")
        .collect()
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(head(part).version === v)
    spark.sql(s"ALTER TABLE graft.`$part` ADD COLUMNS (score DOUBLE)")
      .collect(): Unit
    val got = graft.io.ParquetTable.read(spark, part)
    assert(got.columns.contains("score"))
    assert(got.where(col("score").isNull).count() === 30)
  }
}
