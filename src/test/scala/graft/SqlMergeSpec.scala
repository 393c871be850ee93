package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ConditionalMerge
import graft.sources.FeatherSnapshots

/** SQL `MERGE INTO graft.`/path``: Spark's own parser and row-level
  * MERGE rewrite over the catalog's table handle — the full clause
  * grammar (conditions, partial SET/INSERT, star forms, BY SOURCE)
  * matching the ConditionalMerge DataFrame twin, the graft_dv
  * merge-on-read spelling, the command contract (EXPLAIN/analysis never
  * mutates), and Spark's own refusals. */
class SqlMergeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_sqlmerge/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def version(p: String): Long =
    FeatherSnapshots.resolve(fsOf(p), new Path(p), None).get.version

  // table: id 1..100, grade g0/g1/g2, amt = id * 10
  private def writeTable(path: String): Unit = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 10.0))
      .toDF("id", "grade", "amt")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }
  private def srcView(name: String): Unit = {
    import spark.implicits._
    (51 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt").createOrReplaceTempView(name)
  }
  private def collect(path: String) =
    spark.read.format("feather").load(path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else (r.getDouble(2): java.lang.Double)))
      .toSeq

  private def sqlMerge(face: String, path: String): String =
    s"""MERGE INTO $face.`$path` t
       |USING updates s
       |ON t.id = s.id
       |WHEN MATCHED AND s.id % 10 = 0 THEN DELETE
       |WHEN MATCHED AND t.amt > 700 THEN UPDATE SET grade = concat('up_', s.grade)
       |WHEN NOT MATCHED AND s.id % 2 = 1 THEN INSERT (id, grade) VALUES (s.id, 'new')
       |""".stripMargin

  // the same clauses through the DataFrame builder — the SQL spelling
  // must land byte-identical content
  private def dataFrameTwin(path: String): Unit = {
    import spark.implicits._
    val src = (51 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt")
    ConditionalMerge(spark, path, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
      .execute(): Unit
  }

  test("MERGE INTO graft.`path` lowers the full clause grammar onto " +
       "ConditionalMerge and matches the DataFrame twin") {
    val sqlP = tmp("cow_sql"); val dfP = tmp("cow_df")
    writeTable(sqlP); writeTable(dfP)
    srcView("updates")
    spark.sql(sqlMerge("graft", sqlP) +
      "WHEN NOT MATCHED BY SOURCE AND t.id <= 5 THEN DELETE").collect()
    assert(version(sqlP) === 2L, "the statement is one commit")
    // DataFrame twin with the same bySource clause
    import spark.implicits._
    val src = (51 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt")
    ConditionalMerge(spark, dfP, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
      .whenNotMatchedBySourceDelete(Some(col("target.id") <= 5))
      .execute()
    assert(collect(sqlP) === collect(dfP))
    assert(collect(sqlP).exists(_._2 == "new"), "inserts landed")
    assert(!collect(sqlP).exists(t => t._1 >= 60 && t._1 <= 100 &&
      t._1 % 10 == 0), "matched deletes landed")
  }

  test("graft_dv spelling runs merge-on-read: identical content, DV " +
       "masks instead of rewrites") {
    import spark.implicits._
    val dvP = tmp("dv_sql"); val cowP = tmp("dv_twin")
    writeTable(dvP); writeTable(cowP)
    // PARTIAL file coverage (ids 60..120): a fully-masked file drops
    // from the manifest instead of binding a DV — the masks only show
    // when some of a file's rows survive
    val src = (60 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt")
    src.createOrReplaceTempView("updates_dv")
    spark.sql(
      s"""MERGE INTO graft_dv.`$dvP` t USING updates_dv s ON t.id = s.id
         |WHEN MATCHED AND s.id % 10 = 0 THEN DELETE
         |WHEN MATCHED AND t.amt > 700 THEN UPDATE SET grade = concat('up_', s.grade)
         |WHEN NOT MATCHED AND s.id % 2 = 1 THEN INSERT (id, grade) VALUES (s.id, 'new')
         |""".stripMargin).collect()
    ConditionalMerge(spark, cowP, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
      .execute()
    assert(collect(dvP) === collect(cowP))
    val snap = FeatherSnapshots.resolve(fsOf(dvP), new Path(dvP), None).get
    assert(snap.dvs.nonEmpty, "DV spelling must mask, not rewrite")
  }

  test("star forms: UPDATE SET * / INSERT * lower to updateAll/insertAll") {
    val path = tmp("star")
    writeTable(path)
    srcView("updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val back = collect(path)
    assert(back.size === 120)
    // every source row (51..120) now carries the source's values
    (51 to 120).foreach { i =>
      assert(back(i - 1) === ((i.toLong, s"s${i % 3}",
        (i * 100.0): java.lang.Double)))
    }
  }

  test("command contract: eager exactly once at statement issue; " +
       "re-collect replays the cached report; EXPLAIN never mutates") {
    val path = tmp("command"); val twin = tmp("command_twin")
    writeTable(path); writeTable(twin)
    srcView("updates")
    // EXPLAIN <statement> analyzes under CommandExecutionMode.SKIP
    spark.sql("EXPLAIN " + sqlMerge("graft", path)).collect()
    assert(version(path) === 1L, "EXPLAIN must not mutate")
    // the statement itself executes EAGERLY (Delta parity: a ported job
    // that discards the returned frame must still mutate)
    val df = spark.sql(sqlMerge("graft", path))
    assert(version(path) === 2L, "spark.sql must execute the merge eagerly")
    // re-collecting replays Spark's cached command result — never the
    // mutation
    df.collect(); df.collect()
    assert(version(path) === 2L, "re-collect must not re-run the merge")
    // the one commit carries the statement's whole effect
    dataFrameTwin(twin)
    assert(collect(path) === collect(twin))
  }

  test("loud refusals: non-equi ON, non-key equality, reserved-alias " +
       "collision, unknown face passthrough") {
    val path = tmp("loud")
    writeTable(path)
    srcView("updates")
    val model = (1 to 100).map(i => (i.toLong, s"g${i % 3}",
      (i * 10.0): java.lang.Double))
    // a non-key equality ON runs through Spark's rewrite: target amt
    // (id * 10) meets source ids 60, 70, .., 120 → target ids 6..12
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s ON t.amt = s.id
         |WHEN MATCHED THEN UPDATE SET grade = 'k'""".stripMargin)
      .collect()
    val keyed = model.map(r =>
      if (r._1 >= 6 && r._1 <= 12) r.copy(_2 = "k") else r)
    assert(collect(path) === keyed)
    // so does a non-equi ON: source row 51 deletes every target id < 51
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s
         |ON t.id < s.id AND s.id = 51
         |WHEN MATCHED THEN DELETE""".stripMargin).collect()
    assert(collect(path) === keyed.filter(_._1 >= 51))
    val v = version(path)
    // an ambiguous bare-name ON refuses under Spark's own resolution,
    // and the table is untouched
    intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` USING updates target ON id = id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(version(path) === v)
    // a non-graft target is NOT claimed — Spark's own resolution error
    // (table not found), not a graft message
    val e4 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO some_catalog_table t USING updates s ON t.id = s.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(!e4.getMessage.contains("graft"),
      s"non-graft targets must pass through, got: ${e4.getMessage}")
  }

  test("key spellings resolve case-insensitively like every other " +
       "identifier in the statement (spark.sql.caseSensitive=false)") {
    val path = tmp("caseless")
    writeTable(path) // columns: id, grade, amt
    srcView("updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING updates s ON t.ID = s.Id
         |WHEN MATCHED AND s.ID % 10 = 0 THEN DELETE
         |WHEN MATCHED AND t.id > 90 THEN UPDATE SET GRADE = 'up'
         |WHEN NOT MATCHED AND s.id % 2 = 1 THEN
         |  INSERT (ID, Grade) VALUES (s.id, 'new')""".stripMargin)
      .collect()
    val back = collect(path)
    assert(!back.exists(t => t._1 >= 51 && t._1 % 10 == 0))
    assert(back.filter(t => t._1 > 90 && t._1 <= 100)
      .forall(_._2 == "up"), "wrong-case SET column must resolve")
    assert(back.exists(t => t._1 > 100 && t._2 == "new"),
      "wrong-case INSERT columns must resolve")
    // duplicate assignments refuse loudly instead of silently collapsing
    // (Spark's own assignment check), leaving the table untouched
    val v = version(path)
    val eDup = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` t USING updates s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET grade = 'a', grade = 'b'"""
          .stripMargin)
    }
    assert(eDup.getMessage.contains("grade"), eDup.getMessage)
    assert(version(path) === v)
  }

  test("MERGE INTO works on a hive-partitioned parquet-face table " +
       "(SQL → partitioned clause routing)") {
    import spark.implicits._
    val path = tmp("part_sql")
    val df = (1 to 60).map(i => (i.toLong, i.toDouble, s"d${i % 3}"))
      .toDF("id", "amt", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    Seq((9L, 900.0, "d9"), (100L, -1.0, "d1"))
      .toDF("id", "amt", "day").createOrReplaceTempView("part_updates")
    spark.sql(
      s"""MERGE INTO graft.`$path` t USING part_updates s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val back = graft.io.ParquetTable.read(spark, path)
    assert(back.count() === 61)
    assert(back.filter(col("id") === 9L).select("day").head()
      .getString(0) === "d9", "SQL merge must cross-partition move")
    assert(back.filter(col("id") === 100L).select("day").head()
      .getString(0) === "d1")
  }

  // day-partitioned feather table: id 0..39, v = id * 10, day = id % 4
  private def createDayTable(path: String): Unit =
    spark.sql(
      s"""CREATE TABLE graft.`$path` USING feather PARTITIONED BY (day) AS
         |SELECT id, id * 10 AS v, CAST(id % 4 AS INT) AS day
         |FROM range(0, 40)""".stripMargin).collect(): Unit
  private def dayRows(path: String): Seq[(Long, Long, Long)] =
    spark.sql(s"SELECT id, v, day FROM graft.`$path`").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
      .toSeq.sortBy(_._1)
  private val dayModel: Seq[(Long, Long, Long)] =
    (0L until 40L).map(i => (i, i * 10, i % 4))

  test("BETWEEN predicates in UPDATE, DELETE and graft_dv DELETE on a " +
       "day-partitioned feather table") {
    val path = tmp("day_between")
    createDayTable(path)
    spark.sql(s"UPDATE graft.`$path` SET v = -1 WHERE id BETWEEN 10 AND 13")
      .collect()
    spark.sql(s"DELETE FROM graft.`$path` WHERE id BETWEEN 20 AND 23")
      .collect()
    spark.sql(s"DELETE FROM graft_dv.`$path` WHERE id BETWEEN 30 AND 33")
      .collect()
    val expect = dayModel
      .filterNot(r => (r._1 >= 20 && r._1 <= 23) || (r._1 >= 30 && r._1 <= 33))
      .map(r => if (r._1 >= 10 && r._1 <= 13) r.copy(_2 = -1L) else r)
    assert(dayRows(path) === expect)
  }

  test("MERGE ON a partition column and the key on a day-partitioned " +
       "feather table") {
    val path = tmp("day_merge")
    createDayTable(path)
    // ids 36..43: 36..39 match (same day), 40..43 are new rows
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT id, id * 100 AS v, CAST(id % 4 AS INT) AS day
         |       FROM range(36, 44)) s
         |ON t.day = s.day AND t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val expect = (0L until 44L).map(i =>
      (i, if (i >= 36) i * 100 else i * 10, i % 4))
    assert(dayRows(path) === expect)
  }
}
