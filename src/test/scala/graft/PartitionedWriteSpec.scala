package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FeatherSnapshots

/** Partitioned writes into a day-partitioned feather table land their
  * leaf parts from the write tasks: one part per touched leaf per
  * statement, no routing job at commit, no tmp residue on success or on
  * a failed task, and the leaves the hive escaping names. */
class PartitionedWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_partwrite/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def head(p: String): FeatherSnapshots.Snapshot =
    FeatherSnapshots.resolve(fsOf(p), new Path(p), None).get
  private def leafOf(rel: String): String = rel.substring(0, rel.lastIndexOf('/'))
  /** Live files per leaf directory at the head. */
  private def partsPerLeaf(p: String): Map[String, Int] =
    head(p).files.groupBy { case (rel, _) => leafOf(rel) }
      .map { case (l, fs) => l -> fs.size }
  /** Files the head holds that `before` did not, per leaf. */
  private def addedPerLeaf(p: String, before: FeatherSnapshots.Snapshot)
      : Map[String, Int] = {
    val old = before.files.map(_._1).toSet
    head(p).files.map(_._1).filterNot(old).groupBy(leafOf)
      .map { case (l, fs) => l -> fs.size }
  }
  /** Spark jobs `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.sql.graft.Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    n.get()
  }
  /** Every hidden tmp file left anywhere under `p`. */
  private def tmpResidue(p: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(p)).map(_.getPath).filter(_.endsWith(".tmp"))
  }
  private def rows(p: String): Seq[(Long, Long, Int)] =
    spark.sql(s"SELECT id, v, day FROM graft.`$p`").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .toSeq.sortBy(_._1)

  // day-partitioned: id 0..399, v = id, day = id % 4, one part per leaf
  private def createDayTable(p: String): Unit =
    spark.sql(s"CREATE TABLE graft.`$p` USING feather PARTITIONED BY (day) " +
      "AS SELECT id, id AS v, CAST(id % 4 AS INT) AS day FROM range(400)")
      .collect(): Unit

  test("INSERT, COW UPDATE and COW MERGE each add one part per touched " +
       "leaf with no routing job; a graft_dv DELETE stays one job") {
    val p = tmp("layout")
    createDayTable(p)
    assert(partsPerLeaf(p) === (0 until 4).map(d => s"day=$d" -> 1).toMap)
    var model = (0L until 400L).map(i => (i, i, (i % 4).toInt))

    // INSERT into two leaves
    var before = head(p)
    val insJobs = jobsOf(spark.sql(s"INSERT INTO graft.`$p` SELECT id, " +
      "id AS v, CAST(1 + id % 2 AS INT) AS day FROM range(1000, 1020)")
      .collect(): Unit)
    assert(insJobs <= 2, s"INSERT ran $insJobs jobs")
    assert(addedPerLeaf(p, before) === Map("day=1" -> 1, "day=2" -> 1))
    model ++= (1000L until 1020L).map(i => (i, i, (1 + i % 2).toInt))

    // COW UPDATE of one leaf's range (the leaf holds one file)
    before = head(p)
    val updJobs = jobsOf(spark.sql(s"UPDATE graft.`$p` SET v = -v " +
      "WHERE day = 3 AND id < 100").collect(): Unit)
    assert(updJobs <= 2, s"UPDATE ran $updJobs jobs")
    assert(addedPerLeaf(p, before) === Map("day=3" -> 1))
    assert(partsPerLeaf(p)("day=3") === 1, "the group was replaced")
    model = model.map { case (i, v, d) =>
      if (d == 3 && i < 100) (i, -v, d) else (i, v, d) }

    // COW MERGE: matched keys of day 0, new keys of day 0 and a new day 5
    before = head(p)
    spark.sql(s"""MERGE INTO graft.`$p` t USING (
                 |  SELECT id, id * 10 AS v, CAST(0 AS INT) AS day
                 |  FROM range(0, 40, 4)
                 |  UNION ALL SELECT id, id AS v, CAST(0 AS INT) AS day
                 |  FROM range(2000, 2010)
                 |  UNION ALL SELECT id, id AS v, CAST(5 AS INT) AS day
                 |  FROM range(3000, 3010)) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET v = s.v
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(addedPerLeaf(p, before) === Map("day=0" -> 1, "day=5" -> 1))
    assert(partsPerLeaf(p)("day=0") === 1)
    model = model.map { case (i, v, d) =>
      if (d == 0 && i < 40) (i, i * 10, d) else (i, v, d) } ++
      (2000L until 2010L).map(i => (i, i, 0)) ++
      (3000L until 3010L).map(i => (i, i, 5))

    // merge-on-read DELETE: deletion vectors, no shuffle
    val delJobs = jobsOf(spark.sql(s"DELETE FROM graft_dv.`$p` " +
      "WHERE day = 1 AND id < 41").collect(): Unit)
    assert(delJobs === 1, s"graft_dv DELETE ran $delJobs jobs")
    model = model.filterNot { case (i, _, d) => d == 1 && i < 41 }

    assert(rows(p) === model.sortBy(_._1))
    assert(tmpResidue(p).isEmpty, tmpResidue(p).toString)
  }

  test("a task failure inside the writer leaves no tmp part and no " +
       "version — the SQL writes and the one-pass DataFrame route alike") {
    import spark.implicits._
    val p = tmp("abort")
    spark.sql(s"CREATE TABLE graft.`$p` USING feather PARTITIONED BY (day) " +
      "AS SELECT id, CAST(id AS STRING) AS s, concat('d', id % 4) AS day " +
      "FROM range(40)").collect()
    val v0 = head(p).version
    val expected = rows2(p)
    // the literal hive-null marker fails its task after the sibling
    // leaves sorted before it ('D…' < '_') have written their parts
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$p` SELECT id, 'x' AS s, " +
        "CASE WHEN id = 13 THEN '__HIVE_DEFAULT_PARTITION__' " +
        "ELSE concat('D', id % 7) END AS day FROM range(100)").collect()
    }
    assert(causes(e).exists(_.getMessage.contains("literal hive null")),
      e.toString)
    assert(tmpResidue(p).isEmpty, tmpResidue(p).toString)
    assert(head(p).version === v0)
    // the UPDATE that would move a row into the marker leaf fails too
    intercept[Exception] {
      spark.sql(s"UPDATE graft.`$p` SET day = '__HIVE_DEFAULT_PARTITION__' " +
        "WHERE id = 5").collect()
    }
    assert(tmpResidue(p).isEmpty, tmpResidue(p).toString)
    assert(head(p).version === v0)
    // the DataFrame writers' one-pass route
    val bad = (100L until 140L).map(i =>
      (i, "y", if (i == 133L) "__HIVE_DEFAULT_PARTITION__" else s"D${i % 5}"))
      .toDF("id", "s", "day")
    val e2 = intercept[Exception](graft.io.TableInserts.append(spark, p, bad))
    assert(causes(e2).exists(_.getMessage.contains("literal hive null")),
      e2.toString)
    assert(tmpResidue(p).isEmpty, tmpResidue(p).toString)
    assert(head(p).version === v0)
    assert(rows2(p) === expected)
    // and the same statement without the marker lands cleanly
    spark.sql(s"INSERT INTO graft.`$p` SELECT id, 'x' AS s, " +
      "concat('d', id % 7) AS day FROM range(100, 200)").collect()
    assert(tmpResidue(p).isEmpty, tmpResidue(p).toString)
    assert(rows2(p).size === 140)
  }
  private def rows2(p: String): Seq[(Long, String, String)] =
    spark.sql(s"SELECT id, s, day FROM graft.`$p`").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("partition values with a space, '/' and '=' route to their escaped " +
       "leaves and NULL to the hive-null leaf, from SQL and from the " +
       "DataFrame writers alike") {
    import spark.implicits._
    val p = tmp("escape")
    val vals = Seq("a b", "a/b", "k=v")
    spark.sql(s"CREATE TABLE graft.`$p` USING feather PARTITIONED BY (day) " +
      "AS SELECT id, CAST(id AS STRING) AS s, CASE id % 4 " +
      vals.zipWithIndex.map { case (v, i) => s"WHEN $i THEN '$v' " }.mkString +
      "ELSE NULL END AS day FROM range(40)").collect()
    def leaves: Set[String] = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(_.getName).toSet
    val expectLeaves = Set("day=a b", "day=a%2Fb", "day=k%3Dv",
      "day=__HIVE_DEFAULT_PARTITION__")
    assert(leaves === expectLeaves)
    // SQL INSERT and the DataFrame route (TableInserts) hit the SAME leaves
    spark.sql(s"INSERT INTO graft.`$p` VALUES (100, 'i', 'a b'), " +
      "(101, 'i', 'a/b'), (102, 'i', 'k=v'), (103, 'i', NULL)").collect()
    graft.io.TableInserts.append(spark, p,
      Seq((200L, "c", "a b"), (201L, "c", "a/b"), (202L, "c", "k=v"),
        (203L, "c", null)).toDF("id", "s", "day"))
    assert(leaves === expectLeaves)
    val back = spark.sql(s"SELECT day, count(*) AS n FROM graft.`$p` " +
      "GROUP BY day").collect().map(r => Option(r.getString(0)) -> r.getLong(1))
      .toMap
    assert(back === Map(Some("a b") -> 12L, Some("a/b") -> 12L,
      Some("k=v") -> 12L, None -> 12L))
  }
}
