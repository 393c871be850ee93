package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `[CREATE OR] REPLACE TABLE [AS SELECT]` — one manifest commit swaps
  * files, schema, and face, on BOTH spellings (path + catalog name, via
  * the extension lowering) and in a catalog-only session (via
  * StagingTableCatalog). Prior versions stay time-travelable and RESTORE
  * undoes a replace; the conflict contract is the tier's strictest (any
  * concurrent commit aborts the replace, appends included). */
class ReplaceTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private val wh = java.nio.file.Files
    .createTempDirectory("graft_replace_wh").toString

  private def tmp(name: String): String = s"$wh/$name"

  override def afterAll(): Unit = {
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh)): Unit
  }

  test("replace swaps content, schema, and face; time travel and " +
       "RESTORE still read the old table") {
    val path = tmp("swap")
    spark.sql(s"CREATE TABLE graft.`$path` USING parquet " +
      "AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(10)").collect(): Unit
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$path` USING feather " +
      "AS SELECT concat('d', id) AS doc, id * 2 AS n FROM range(3)")
      .collect(): Unit
    val now = spark.sql(s"SELECT doc, n FROM graft.`$path` ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(now == Seq(("d0", 0L), ("d1", 2L), ("d2", 4L)))
    // the parquet generation is version 1, still fully readable
    val old = spark.sql(
      s"SELECT id, v FROM graft.`$path` VERSION AS OF 1 ORDER BY id")
      .collect()
    assert(old.length == 10 && old.head.getDouble(1) == 0.0)
    // RESTORE undoes the replace entirely (schema AND content)
    spark.sql(s"CALL graft.system.restore('$path', 1)").collect(): Unit
    assert(spark.sql(s"SELECT id, v FROM graft.`$path`").count() == 10L)
  }

  test("REPLACE TABLE (no AS SELECT) leaves an empty table with the new " +
       "schema; missing table refuses without OR CREATE") {
    val path = tmp("schema_only")
    spark.sql(s"CREATE TABLE graft.`$path` USING feather " +
      "AS SELECT 1L AS id").collect(): Unit
    spark.sql(s"REPLACE TABLE graft.`$path` (doc STRING, score DOUBLE) " +
      "USING feather").collect(): Unit
    val out = spark.sql(s"SELECT * FROM graft.`$path`")
    assert(out.count() == 0L)
    assert(out.schema.fieldNames.toSeq == Seq("doc", "score"))
    val e = intercept[Exception] {
      spark.sql(s"REPLACE TABLE graft.`${tmp("nope")}` (id BIGINT) " +
        "USING feather").collect()
    }
    assert(e.getMessage.contains("CREATE OR REPLACE TABLE creates"),
      e.getMessage)
  }

  test("a concurrent commit aborts the replace — appends included") {
    val path = tmp("race")
    spark.sql(s"CREATE TABLE graft.`$path` USING feather " +
      "AS SELECT id FROM range(5)").collect(): Unit
    // a blind append lands between the replace's staging and its commit:
    // appends commute with ordinary mutations, NOT with a whole-table
    // swap — the replace must abort rather than orphan the new rows
    graft.sources.FeatherSnapshots.testBeforeMutationCommit = () => {
      spark.sql(s"INSERT INTO graft.`$path` SELECT 99L AS id").collect()
      ()
    }
    val e = intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE graft.`$path` USING feather " +
        "AS SELECT id FROM range(2)").collect()
    }
    assert(e.getMessage.contains("concurrent commit added file"),
      e.getMessage)
    // the append won; the replace published nothing
    assert(spark.sql(s"SELECT count(*) FROM graft.`$path`")
      .head().getLong(0) == 6L)
  }

  test("PARTITIONED BY on replace swaps the table WITH a hive layout " +
       "(manifest diff: every old file out, key=value leaves in)") {
    val path = tmp("part_replace")
    spark.sql(s"CREATE TABLE graft.`$path` USING feather " +
      "AS SELECT 1L AS id, 'a' AS k").collect(): Unit
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def snap = graft.sources.FeatherSnapshots.resolve(fs,
      new org.apache.hadoop.fs.Path(path), None).get
    val before = snap
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$path` USING parquet " +
      "PARTITIONED BY (k) AS SELECT id, concat('g', id % 2) AS k " +
      "FROM range(8)").collect(): Unit
    val after = snap
    // the one commit swapped layout AND face: no old file survives, all
    // new parts live in hive leaves
    assert(after.files.map(_._1).toSet
      .intersect(before.files.map(_._1).toSet).isEmpty)
    assert(after.files.nonEmpty && after.files.map(_._1).forall(f =>
      (f.startsWith("k=g0/") || f.startsWith("k=g1/")) &&
        f.endsWith(".parquet")), s"${after.files}")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$path` WHERE k = 'g1'")
      .head().getLong(0) == 4L)
    assert(spark.sql(s"SHOW PARTITIONS graft.`$path`").count() == 2L)
    // the flat generation stays time-travelable
    assert(spark.sql(s"SELECT id FROM graft.`$path` VERSION AS OF 1")
      .head().getLong(0) == 1L)
    // a partitioned replace needs rows: zero-row queries refuse with
    // working guidance (TRUNCATE keeps the layout)
    val e = intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE graft.`$path` USING parquet " +
        "PARTITIONED BY (k) AS SELECT id, concat('g', id) AS k " +
        "FROM range(0)").collect()
    }
    assert(e.getMessage.contains("TRUNCATE"), e.getMessage)
  }

  test("catalog-only session: staged CTAS on the parquet/avro faces and " +
       "partitioned parquet CTAS route through the engine's DDL lowering") {
    val plain = org.apache.spark.sql.graft.Bridge.sessionWithoutExtensions(
      TestSpark.spark, Map(
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
        "spark.sql.catalog.graft.warehouse" -> wh))
    SparkSession.setActiveSession(plain)
    SparkSession.setDefaultSession(plain)
    try {
      // USING parquet: final parts are parquet (r17: feather-only refusal)
      plain.sql("CREATE TABLE graft.stg_pq USING parquet " +
        "AS SELECT id, id * 2 AS v FROM range(6)")
      val fs = new org.apache.hadoop.fs.Path(wh).getFileSystem(
        plain.sparkContext.hadoopConfiguration)
      val pqSnap = graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_pq"), None).get
      assert(pqSnap.files.nonEmpty &&
        pqSnap.files.forall(_._1.endsWith(".parquet")), s"${pqSnap.files}")
      assert(plain.sql("SELECT sum(v) FROM graft.stg_pq")
        .head().getLong(0) == 30L)
      // USING avro (graft-avro spelling works too)
      plain.sql("CREATE TABLE graft.stg_av USING avro " +
        "AS SELECT id FROM range(3)")
      assert(graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_av"), None).get
        .files.forall(_._1.endsWith(".avro")))
      assert(plain.sql("SELECT count(*) FROM graft.stg_av")
        .head().getLong(0) == 3L)
      // partitioned CTAS (parquet face): rows route to key=value leaves
      plain.sql("CREATE TABLE graft.stg_part USING parquet " +
        "PARTITIONED BY (k) AS SELECT id, id % 2 AS k FROM range(8)")
      val partSnap = graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_part"), None).get
      assert(partSnap.files.map(_._1).forall(f =>
        f.startsWith("k=0/") || f.startsWith("k=1/")), s"${partSnap.files}")
      // the layout serves partition pruning + SHOW PARTITIONS
      assert(plain.sql("SELECT count(*) FROM graft.stg_part WHERE k = 1")
        .head().getLong(0) == 4L)
      assert(plain.sql("SHOW PARTITIONS graft.stg_part").count() == 2L)
      // staged REPLACE can change the face in one atomic commit
      plain.sql("CREATE OR REPLACE TABLE graft.stg_pq USING feather " +
        "AS SELECT concat('d', id) AS doc FROM range(2)")
      assert(graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_pq"), None).get
        .files.forall(_._1.endsWith(".feather")))
      assert(plain.sql("SELECT count(*) FROM graft.stg_pq " +
        "VERSION AS OF 1").head().getLong(0) == 6L)
      // partitioned CTAS on the feather and avro faces by name: rows
      // route to key=value leaves in the face's own format (r18: the
      // parquet-face-only stage-time refusal)
      plain.sql("CREATE TABLE graft.stg_fpart USING feather " +
        "PARTITIONED BY (k) AS SELECT id, id % 2 AS k FROM range(4)")
      val fSnap = graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_fpart"), None).get
      assert(fSnap.files.map(_._1).forall(f =>
        (f.startsWith("k=0/") || f.startsWith("k=1/")) &&
          f.endsWith(".feather")), s"${fSnap.files}")
      assert(plain.sql("SELECT count(*) FROM graft.stg_fpart WHERE k = 0")
        .head().getLong(0) == 2L)
      plain.sql("CREATE TABLE graft.stg_apart USING avro " +
        "PARTITIONED BY (k) AS SELECT id, id % 2 AS k FROM range(6)")
      assert(graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_apart"), None).get
        .files.map(_._1).forall(f =>
          f.contains("k=") && f.endsWith(".avro")))
      assert(plain.sql("SELECT count(*) FROM graft.stg_apart WHERE k = 1")
        .head().getLong(0) == 3L)
      // staged PARTITIONED REPLACE by name: one commit swaps the flat
      // parquet table for a feather hive layout — manifest-diff pinned
      val beforeRep = graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_part"), None).get
      plain.sql("CREATE OR REPLACE TABLE graft.stg_part USING feather " +
        "PARTITIONED BY (day) AS SELECT id, concat('d', id % 3) AS day " +
        "FROM range(9)")
      val afterRep = graft.sources.FeatherSnapshots.resolve(fs,
        new org.apache.hadoop.fs.Path(s"$wh/stg_part"), None).get
      assert(afterRep.op == "replace" &&
        afterRep.files.map(_._1).toSet
          .intersect(beforeRep.files.map(_._1).toSet).isEmpty)
      assert(afterRep.files.map(_._1).forall(f =>
        f.startsWith("day=d") && f.endsWith(".feather")),
        s"${afterRep.files}")
      assert(plain.sql("SELECT count(*) FROM graft.stg_part " +
        "WHERE day = 'd2'").head().getLong(0) == 3L)
      // the pre-replace generation stays time-travelable
      assert(plain.sql(s"SELECT count(*) FROM graft.stg_part VERSION " +
        s"AS OF ${beforeRep.version}").head().getLong(0) == 8L)
    } finally {
      SparkSession.setActiveSession(TestSpark.spark)
      SparkSession.setDefaultSession(TestSpark.spark)
    }
  }

  test("catalog-only session: staged CREATE OR REPLACE, atomic CTAS, " +
       "REPLACE-missing refusal, racing-writer abort") {
    val plain = org.apache.spark.sql.graft.Bridge.sessionWithoutExtensions(
      TestSpark.spark, Map(
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
        "spark.sql.catalog.graft.warehouse" -> wh))
    SparkSession.setActiveSession(plain)
    SparkSession.setDefaultSession(plain)
    // atomic CTAS by name through stageCreate
    plain.sql("CREATE TABLE graft.stg USING feather " +
      "AS SELECT id, concat('r', id) AS s FROM range(4)")
    assert(plain.sql("SELECT count(*) FROM graft.stg").head().getLong(0) == 4L)
    // staged CREATE OR REPLACE swaps schema+content in one commit
    plain.sql("CREATE OR REPLACE TABLE graft.stg USING feather " +
      "AS SELECT CAST(id AS DOUBLE) AS score FROM range(2)")
    val out = plain.sql("SELECT score FROM graft.stg ORDER BY score")
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(0.0, 1.0))
    // the pre-replace generation stays time-travelable by name
    assert(plain.sql("SELECT s FROM graft.stg VERSION AS OF 1").count() == 4L)
    // REPLACE TABLE without OR CREATE requires the table to exist
    // (Spark's own pre-check raises before stageReplace even runs)
    intercept[
      org.apache.spark.sql.catalyst.analysis.CannotReplaceMissingTableException] {
      plain.sql("REPLACE TABLE graft.stg_missing (id BIGINT) USING feather")
    }
    // racing writer: an append during staging aborts the staged commit
    graft.sources.FeatherSnapshots.testBeforeMutationCommit = () => {
      plain.sql("INSERT INTO graft.stg SELECT 9.9D AS score")
      ()
    }
    val e = intercept[Exception] {
      plain.sql("CREATE OR REPLACE TABLE graft.stg USING feather " +
        "AS SELECT 1.0D AS score")
    }
    assert(e.getMessage.contains("concurrent commit added file"),
      e.getMessage)
    assert(plain.sql("SELECT count(*) FROM graft.stg")
      .head().getLong(0) == 3L)
  }
}
