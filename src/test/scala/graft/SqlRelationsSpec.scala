package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FeatherSnapshots

/** SQL reads (head + VERSION/TIMESTAMP AS OF) and INSERT INTO /
  * INSERT OVERWRITE over graft.`path` targets, through the catalog's
  * table handle (catalog/GraftCatalog → the face scans and writes). */
class SqlRelationsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_sqlrel/$n"
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

  // v1: ids 1..100; v2: ids 1..100 minus the deleted 1..10
  private def writeTwoVersions(path: String,
                               format: String = "feather"): Unit = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartitionByRange(2, col("id"))
      .write.format(format).mode("overwrite")
      .option("snapshots", "true").save(path)
    graft.io.PredicateMutations.deleteWhere(spark, path, col("id") <= 10): Unit
  }

  test("SELECT over graft.`path` reads the table head; time travel " +
       "reads pinned versions; TIMESTAMP AS OF resolves by commit time") {
    val path = tmp("reads")
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartitionByRange(2, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    Thread.sleep(30)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    graft.io.PredicateMutations.deleteWhere(spark, path, col("id") <= 10)

    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$path`")
      .head().getLong(0) === 90L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$path` VERSION AS OF 1")
      .head().getLong(0) === 100L)
    // alias + projection + filter over the travelled relation
    assert(spark.sql(
      s"SELECT t.pay FROM graft.`$path` VERSION AS OF 1 t WHERE t.id = 7")
      .head().getString(0) === "p_7")
    // local-datetime string spelling (Spark's own analyzer validates the
    // cast to TIMESTAMP first, so epoch-millis strings are not legal SQL)
    val localBetween = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(betweenMs), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$path` " +
      s"TIMESTAMP AS OF '$localBetween'").head().getLong(0) === 100L)
    // a version pinned at PLAN time stays pinned: the travelled frame
    // built before a later delete still reads its version's rows
    val pinned = spark.sql(s"SELECT id FROM graft.`$path` VERSION AS OF 2")
    graft.io.PredicateMutations.deleteWhere(spark, path, col("id") > 90)
    assert(pinned.count() === 90L)
    assert(spark.sql(s"SELECT id FROM graft.`$path`").count() === 80L)
  }

  test("reads claim anywhere in a statement: joins of two graft tables, " +
       "subqueries, CTEs, and a MERGE's USING side") {
    val a = tmp("join_a"); val b = tmp("join_b")
    writeTwoVersions(a)
    import spark.implicits._
    (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "amt")
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(b)
    val joined = spark.sql(
      s"""WITH big AS (SELECT id, pay FROM graft.`$a` WHERE id <= 40)
         |SELECT big.id, big.pay, s.amt
         |FROM big JOIN graft.`$b` s USING (id)
         |WHERE s.id IN (SELECT id FROM graft.`$b` WHERE amt >= 60)
         |ORDER BY big.id""".stripMargin).collect()
    // a: ids 11..40 survive the v2 delete; b filter amt>=60 → id>=30
    assert(joined.map(_.getLong(0)).toSeq === (30L to 40L))
    // MERGE USING a graft read (the DML rule's source side analyzes
    // through this rule)
    spark.sql(
      s"""MERGE INTO graft.`$b` t
         |USING (SELECT id FROM graft.`$a` VERSION AS OF 1 WHERE id <= 3) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = CAST(0 AS DOUBLE)
         |""".stripMargin).collect()
    assert(spark.sql(s"SELECT sum(amt) AS s FROM graft.`$b` WHERE id <= 3")
      .head().getDouble(0) === 0.0)
  }

  test("the face dispatch: parquet and avro tables answer the same SQL") {
    val pq = tmp("face_pq"); val av = tmp("face_av")
    import spark.implicits._
    val df = (1 to 60).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day")
    graft.io.ParquetTable.write(df, pq, partitionBy = Seq("day"))
    df.write.format("graft-avro").mode("overwrite")
      .option("snapshots", "true").save(av)
    // parquet face: partition pruning still applies through the SQL read
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$pq` WHERE day = 'd1'")
      .head().getLong(0) === 20L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$av`")
      .head().getLong(0) === 60L)
    spark.sql(s"DELETE FROM graft.`$av` WHERE id <= 10").collect()
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$av` VERSION AS OF 1")
      .head().getLong(0) === 60L)
  }

  test("read refusals: bad version, non-literal timestamp, no snapshot " +
       "directory; non-graft spellings pass through to Spark") {
    val path = tmp("read_refuse")
    writeTwoVersions(path)
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$path` VERSION AS OF 'abc'")
    }
    assert(e1.getMessage.contains("not an integer version"))
    // Spark itself evaluates clock expressions for time travel — as-of-now
    // legally reads the head
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$path` " +
      "TIMESTAMP AS OF current_timestamp()").head().getLong(0) === 90L)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$path` " +
        "TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    assert(e2.getMessage.contains("is newer"),
      s"before-everything must refuse loudly: ${e2.getMessage}")
    val plain = tmp("read_plain")
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "pay").write.parquet(plain)
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$plain`").collect()
    }
    assert(e3.getMessage.contains("snapshots"))
    // an unclaimed catalog identifier still resolves Spark's way
    val e4 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_nope.`/no/such`").collect()
    }
    assert(e4.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e4.getMessage.toLowerCase.contains("cannot be found"))
  }

  test("a session with the extensions but no graft catalog conf: the " +
       "path spelling names the missing conf") {
    val path = tmp("no_catalog")
    spark.range(3).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val bare = spark.newSession()
    bare.conf.unset("spark.sql.catalog.graft")
    val e = intercept[Exception] {
      bare.sql(s"SELECT * FROM graft.`$path`").collect()
    }
    assert(e.getMessage.contains("spark.sql.catalog.graft="), e.getMessage)
    // the same statement resolves in the session that registers it
    assert(spark.sql(s"SELECT * FROM graft.`$path`").count() === 3L)
  }

  test("INSERT INTO: positional append; column list fills NULL; " +
       "BY NAME matches names; the report row carries the version") {
    val path = tmp("ins_flat")
    import spark.implicits._
    (1 to 10).map(i => (i.toLong, s"p_$i", i * 1.0))
      .toDF("id", "pay", "amt")
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    spark.sql(s"INSERT INTO graft.`$path` SELECT 11L, 'p_11', 11.0D")
    assert(version(path) === 2L, "the insert is one commit")
    spark.sql(
      s"INSERT INTO graft.`$path` (amt, id) SELECT 12.0D, 12L").collect()
    spark.sql(
      s"INSERT INTO graft.`$path` BY NAME SELECT 13.0D AS amt, 13L AS id")
      .collect()
    val back = spark.read.format("feather").load(path).orderBy("id")
      .collect()
    assert(back.length === 13)
    assert(back(10).getString(1) === "p_11")
    assert(back(11).isNullAt(1) && back(11).getDouble(2) === 12.0)
    assert(back(12).isNullAt(1) && back(12).getDouble(2) === 13.0)
    // lossless-or-exact (the session's STRICT store assignment): an int
    // widens to long/double; a decimal into a long column refuses under
    // Spark's up-cast error class and the table is untouched — in an
    // INSERT, an UPDATE SET and a MERGE assignment alike
    spark.sql(s"INSERT INTO graft.`$path` SELECT 14, 'p_14', 14").collect()
    val v = version(path)
    val lossy = Seq(
      s"INSERT INTO graft.`$path` SELECT 15.5, 'p_15', 15.0D",
      s"UPDATE graft.`$path` SET id = 15.5 WHERE id = 1",
      s"MERGE INTO graft.`$path` t USING (SELECT 1L AS k) s ON t.id = s.k " +
        "WHEN MATCHED THEN UPDATE SET id = 15.5")
    lossy.foreach { stmt =>
      val e = intercept[Exception](spark.sql(stmt).collect())
      assert(e.getMessage.contains("CANNOT_SAFELY_CAST") ||
        e.getMessage.contains("CANNOT_UP_CAST"), s"$stmt: ${e.getMessage}")
    }
    assert(version(path) === v)
    assert(spark.read.format("feather").load(path).count() === 14L)
  }

  test("INSERT INTO routes partitioned rows to their leaves; a static " +
       "PARTITION spec pins the column; OVERWRITE replaces its scope") {
    val path = tmp("ins_part")
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    // dynamic routing: partition column arrives from the query, LAST
    spark.sql(s"INSERT INTO graft.`$path` SELECT id + 100, 'd9' " +
      s"FROM graft.`$path` WHERE id <= 2").collect()
    assert(new java.io.File(s"$path/day=d9").isDirectory,
      "routed insert must create its leaf")
    // static spec: the query supplies only data columns
    spark.sql(s"INSERT INTO graft.`$path` PARTITION (day='d9') " +
      "SELECT 200L").collect()
    val d9 = graft.io.ParquetTable.read(spark, path)
      .where(col("day") === "d9").select("id").collect()
      .map(_.getLong(0)).sorted
    assert(d9.toSeq === Seq(101L, 102L, 200L))
    // partition-scoped OVERWRITE replaces ONLY that leaf
    spark.sql(s"INSERT OVERWRITE graft.`$path` PARTITION (day='d9') " +
      "SELECT 300L").collect()
    val after = graft.io.ParquetTable.read(spark, path)
    assert(after.where(col("day") === "d9").select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(300L))
    assert(after.count() === 31, "other leaves must carry through")
    // whole-table OVERWRITE
    spark.sql(s"INSERT OVERWRITE graft.`$path` SELECT 1L, 'd0'").collect()
    assert(graft.io.ParquetTable.read(spark, path).count() === 1)
  }

  test("a NONDETERMINISTIC partitioned insert materializes once and " +
       "routes consistently (Spark/Delta sink parity — no refusal)") {
    val path = tmp("ins_nondet")
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    // rand() feeds a DATA column and the partition value derives from a
    // nondeterministic id draw: pre-materialization, the per-leaf
    // re-evaluation could route one draw and write another
    spark.sql(s"INSERT INTO graft.`$path` " +
      "SELECT CAST(rand() * 1000 AS BIGINT) + 1000 AS id, " +
      "concat('r', CAST(CAST(rand() * 3 AS INT) AS STRING)) AS day " +
      "FROM range(50)").collect()
    val got = graft.io.ParquetTable.read(spark, path)
      .where(col("day").startsWith("r"))
    // exactly 50 rows landed — no duplicate/lost rows across leaves —
    // and every row's hive leaf agrees with its column value
    assert(got.count() === 50)
    val byLeaf = got.groupBy("day").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLeaf.keys.forall(Set("r0", "r1", "r2")), byLeaf.toString)
    assert(byLeaf.values.sum === 50L)
  }

  test("INSERT refusals: schema evolution (extra column), positional " +
       "width, unparseable PARTITION value, missing partition column") {
    val path = tmp("ins_refuse")
    import spark.implicits._
    val df = (1 to 9).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    // Spark's own output resolution refuses (its error classes), and
    // every refusal leaves the table untouched
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$path` BY NAME " +
        "SELECT 1L AS id, 'd0' AS day, 'x' AS extra")
    }
    assert(e1.getMessage.contains("extra"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$path` SELECT 1L")
    }
    assert(e2.getMessage.contains("NOT_ENOUGH_DATA_COLUMNS"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$path` PARTITION (nope='d0') " +
        "SELECT 1L")
    }
    // with GraftCatalog registered, Spark's own ResolveInsertInto
    // validates the spec first (NON_PARTITION_COLUMN); the rule-based
    // path keeps the engine's message
    assert(e3.getMessage.contains("not a partition column") ||
      e3.getMessage.contains("NON_PARTITION_COLUMN"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$path` (id) SELECT 1L")
    }
    assert(e4.getMessage.contains("day"), e4.getMessage)
    assert(version(path) === 1L)
    assert(graft.io.ParquetTable.read(spark, path).count() === 9)
  }

  test("INSERT is an eager-once command: it mutates at statement issue " +
       "without collect, replays the cached report, EXPLAIN never " +
       "mutates, and a zero-row append publishes no version") {
    val path = tmp("ins_eager")
    import spark.implicits._
    (1 to 5).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val report = spark.sql(
      s"INSERT INTO graft.`$path` SELECT 6L, 6.0D") // no collect
    assert(version(path) === 2L, "the statement runs at issue")
    report.collect(): Unit
    report.collect(): Unit
    assert(version(path) === 2L, "re-collect replays, never re-inserts")
    assert(spark.read.format("feather").load(path).count() === 6)
    spark.sql(s"EXPLAIN INSERT INTO graft.`$path` SELECT 7L, 7.0D")
      .collect(): Unit
    assert(version(path) === 2L, "EXPLAIN must not mutate")
    spark.sql(
      s"INSERT INTO graft.`$path` SELECT 8L, 8.0D WHERE 1 = 0").collect()
    assert(version(path) === 2L, "a zero-row append is a true no-op")
    // zero-row OVERWRITE is a truncation and must commit
    spark.sql(
      s"INSERT OVERWRITE graft.`$path` SELECT 9L, 9.0D WHERE 1 = 0")
      .collect()
    assert(version(path) === 3L)
    val empty = spark.read.format("feather").load(path)
    assert(empty.count() === 0 &&
      empty.columns.toSeq === Seq("id", "amt"))
  }

  test("INSERT ... SELECT current_timestamp() writes ONE instant across " +
       "routed leaves (the per-statement clock pin)") {
    val path = tmp("ins_clock")
    import spark.implicits._
    val seedTs = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val df = (1 to 12).map(i => (i.toLong, seedTs, s"d${i % 3}"))
      .toDF("id", "ts", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    spark.sql(s"INSERT INTO graft.`$path` " +
      "SELECT id + 100, current_timestamp(), concat('n', id % 2) " +
      s"FROM graft.`$path`").collect()
    val inserted = graft.io.ParquetTable.read(spark, path)
      .where(col("id") > 100)
    assert(inserted.select("day").distinct().count() === 2)
    assert(inserted.select("ts").distinct().count() === 1L,
      "one statement, one instant — across leaves")
  }
}
