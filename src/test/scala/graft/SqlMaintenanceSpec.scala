package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.FeatherMutations
import graft.sources.FeatherSnapshots

/** The table-maintenance tier driven entirely through SQL: every action
  * the Scala API exposes answers to a table function
  * (extensions/GraftTableFunctions) or, for compaction, restore, expiry
  * and vacuum, to a `CALL graft.system.*` procedure
  * (catalog/GraftProcedures). */
class SqlMaintenanceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_sqlmaint/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }

  private def writeTable(path: String, n: Int, parts: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"g${i % 3}", s"p_$i")).toDF("id", "grp", "pay")
      .repartition(parts)
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }

  test("graft_table_changes composes lazily inside a SQL query") {
    val path = tmp("sql_changes")
    import spark.implicits._
    writeTable(path, 300, 2) // v1
    FeatherMutations.deleteByKeyDV(spark, path,
      Seq(9L, 10L).toDF("id"), Seq("id")) // v2
    val got = spark.sql(
      s"SELECT id, _change_type FROM graft_table_changes('$path', 1, 2) " +
        "WHERE _change_type = 'delete' ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((9L, "delete"), (10L, "delete")))
    // joins against the feed work (it is a real plan, not a collected list)
    val joined = spark.sql(
      s"""SELECT c.grp, count(*) AS n
         |FROM graft_table_changes('$path', 1, 2) c
         |GROUP BY c.grp ORDER BY c.grp""".stripMargin).collect()
    assert(joined.map(_.getLong(1)).sum === 2L)
  }

  test("graft_history lists every retained version") {
    val path = tmp("sql_history")
    import spark.implicits._
    writeTable(path, 100, 2)
    FeatherMutations.deleteByKey(spark, path, Seq(1L).toDF("id"), Seq("id"))
    val h = spark.sql(s"SELECT version, op FROM graft_history('$path') " +
      "ORDER BY version").collect()
    assert(h.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "overwrite"), (2L, "rowlevel_delete")))
  }

  test("graft_optimize compacts through SQL and reports the rewrite") {
    val path = tmp("sql_optimize")
    writeTable(path, 300, 6) // six small parts
    val r = spark.sql(s"CALL graft.system.compact('$path')").head()
    assert(r.getAs[Long]("groups_rewritten") >= 1L)
    assert(r.getAs[Long]("files_after") < r.getAs[Long]("files_before"))
    assert(spark.read.format("feather").load(path).count() === 300)
  }

  test("graft_cluster and graft_zorder re-cluster through SQL") {
    val path = tmp("sql_cluster")
    writeTable(path, 2000, 8)
    val rc = spark.sql(
      s"SELECT * FROM graft_cluster('$path', 'id', ${16L << 10})").head()
    assert(rc.getAs[Long]("version") === 2L)
    // clustered now: a narrow delete prunes
    import spark.implicits._
    val rd = FeatherMutations.deleteByKey(spark, path,
      Seq(5L).toDF("id"), Seq("id"))
    assert(rd.filesTouched < rc.getAs[Long]("files_after"))
    val rz = spark.sql(
      s"SELECT * FROM graft_zorder('$path', 'id,grp', 8)").head()
    assert(rz.getAs[Long]("version") === 4L)
    assert(spark.read.format("feather").load(path).count() === 1999)
  }

  test("graft_restore + graft_expire + graft_vacuum drive the retention " +
       "lifecycle through SQL") {
    val path = tmp("sql_lifecycle")
    import spark.implicits._
    writeTable(path, 200, 2) // v1
    FeatherMutations.deleteByKey(spark, path, Seq(7L).toDF("id"), Seq("id")) // v2
    val rv = spark.sql(s"CALL graft.system.restore('$path', 1)").head()
    assert(rv.getAs[Long]("new_version") === 3L)
    assert(spark.read.format("feather").load(path).count() === 200)
    // dry run first, then expire history
    val preview = spark.sql(
      s"SELECT * FROM graft_vacuum_dry_run('$path', 0)").count()
    val ex = spark.sql(
      s"CALL graft.system.expire('$path', keep_last => 1)").head()
    assert(ex.getAs[Long]("snapshots_removed") === 2L)
    assert(spark.read.format("feather").load(path).count() === 200)
    // orphan vacuum answers too (nothing left to reclaim is fine)
    val vac = spark.sql(
      s"CALL graft.system.vacuum('$path', grace_ms => 0)").head()
    assert(vac.getAs[Long]("files_removed") >= 0L)
    assert(preview >= 0L)
  }

  test("graft_expire_older_than retires by age through SQL") {
    val path = tmp("sql_retention")
    import spark.implicits._
    writeTable(path, 100, 2)
    FeatherMutations.deleteByKey(spark, path, Seq(3L).toDF("id"), Seq("id"))
    // everything is younger than a day: nothing retires
    val keep = spark.sql(
      s"CALL graft.system.expire_older_than('$path', ${86400L * 1000})")
      .head()
    assert(keep.getAs[Long]("snapshots_removed") === 0L)
    // zero retention: all but the head retire
    val drop = spark.sql(
      s"CALL graft.system.expire_older_than('$path', 0)").head()
    assert(drop.getAs[Long]("snapshots_removed") === 1L)
    assert(spark.read.format("feather").load(path).count() === 99)
  }

  test("maintenance actions run at EXECUTION: analysis and EXPLAIN " +
       "never mutate the table") {
    val path = tmp("sql_deferred")
    import spark.implicits._
    writeTable(path, 200, 2) // v1
    FeatherMutations.deleteByKey(spark, path, Seq(7L).toDF("id"), Seq("id")) // v2
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def head(): Long =
      FeatherSnapshots.latestVersion(fs, new Path(path)).get
    // EXPLAINing the statement must not run the restore — a BI tool
    // EXPLAINing must be inert
    spark.sql(s"EXPLAIN CALL graft.system.restore('$path', 1)").collect()
    assert(head() === 2L, "EXPLAIN CALL restore must not run it")
    assert(spark.read.format("feather").load(path).count() === 199)
    // the statement performs it exactly once: at issue, not per collect
    val df = spark.sql(s"CALL graft.system.restore('$path', 1)")
    assert(df.head().getAs[Long]("new_version") === 3L)
    df.collect(): Unit
    assert(head() === 3L)
    assert(spark.read.format("feather").load(path).count() === 200)
    // same for the rewrite family
    spark.sql(s"EXPLAIN CALL graft.system.compact('$path')").collect()
    assert(head() === 3L, "EXPLAIN CALL compact must not run it")
    val dfc = spark.sql(s"CALL graft.system.compact('$path')")
    assert(dfc.head().getAs[Long]("files_before") >= 1L)
    dfc.collect(): Unit
    assert(head() === 4L)
  }

  test("graft_cluster/graft_zorder take the incremental flag; a " +
       "no-new-files incremental cycle reports the unchanged head") {
    import spark.implicits._
    val path = tmp("sql_inc_cluster")
    (1 to 2000).map(i => (i.toLong, s"p$i")).toDF("id", "pay")
      .repartition(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val r1 = spark.sql(
      s"SELECT * FROM graft_cluster('$path', 'id', 1048576, false)").head()
    assert(r1.getAs[Long]("version") === 2L)
    // nothing new since: the incremental run publishes NO version
    val r2 = spark.sql(
      s"SELECT * FROM graft_cluster('$path', 'id', 1048576, true)").head()
    assert(r2.getAs[Long]("version") === 2L)
    // an append is swept in incrementally
    (2001 to 2100).map(i => (i.toLong, s"p$i")).toDF("id", "pay")
      .repartition(1)
      .write.format("feather").mode("append").save(path)
    val r3 = spark.sql(
      s"SELECT * FROM graft_cluster('$path', 'id', 1048576, true)").head()
    assert(r3.getAs[Long]("version") === 4L)
    assert(spark.read.format("feather").load(path).count() === 2100)
  }

  test("non-literal and malformed arguments fail analysis loudly") {
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_history(version)").collect()
    }
    assert(e.getMessage.contains("literal") ||
      e.getMessage.toLowerCase.contains("unresolved"))
    val e2 = intercept[Exception] {
      spark.sql("CALL graft.system.restore('/nope')").collect()
    }
    assert(e2.getMessage.contains("version"), e2.getMessage)
  }
}
