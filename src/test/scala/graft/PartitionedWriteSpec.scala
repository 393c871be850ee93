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

  test("a partition column named with a space and a dot takes a CTAS, an " +
       "INSERT and an UPDATE") {
    val p = tmp("dotted")
    spark.sql(s"CREATE TABLE graft.`$p` USING feather " +
      "PARTITIONED BY (`the d.ay`) AS SELECT id, id AS v, " +
      "CAST(id % 3 AS INT) AS `the d.ay` FROM range(30)").collect()
    spark.sql(s"INSERT INTO graft.`$p` VALUES (30, 30, 0), (31, 31, 1)")
      .collect()
    spark.sql(s"UPDATE graft.`$p` SET v = -v WHERE `the d.ay` = 1").collect()
    val back = spark.sql(s"SELECT id, v, `the d.ay` FROM graft.`$p`")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .toSeq.sortBy(_._1)
    val want = (0L to 31L).map { i =>
      val d = if (i >= 30) (i - 30).toInt else (i % 3).toInt
      (i, if (d == 1) -i else i, d)
    }
    assert(back === want)
    assert(new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("the d.ay=")).toSet ===
      Set("the d.ay=0", "the d.ay=1", "the d.ay=2"))
  }

  /** Leaf directory chains holding data files under `p`, root-relative. */
  private def leafChains(p: String, suffix: String): Set[String] = {
    val root = new java.io.File(p).toPath
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(p)).filter(f => f.getName.endsWith(suffix) &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => root.relativize(f.getParentFile.toPath).toString).toSet
  }

  test("timestamp, decimal and string partition values spell their leaves " +
       "as Spark's partitioned sink does on every face, and a SQL INSERT " +
       "of the same values lands in the same leaves") {
    val vals = "VALUES " +
      "(1L, TIMESTAMP'2024-01-01 00:00:00', 0.0000001BD, 'a'), " +
      "(2L, TIMESTAMP'2024-01-01 12:30:45.5', 2.5BD, ''), " +
      "(3L, TIMESTAMP'2024-01-02 00:00:00', -1BD, 'a b') " +
      "AS v(id, ts, dec0, s)"
    val src = s"SELECT id, ts, CAST(dec0 AS DECIMAL(10,7)) AS dec, s FROM $vals"
    // Spark's own partitioned sink over the same frames
    val sinkTs = tmp("spell_sink_ts")
    spark.sql(src).select("id", "ts", "s").write.partitionBy("ts", "s")
      .parquet(sinkTs)
    val sinkDec = tmp("spell_sink_dec")
    spark.sql(src).select("id", "dec").write.partitionBy("dec")
      .parquet(sinkDec)
    val wantTs = leafChains(sinkTs, ".parquet")
    val wantDec = leafChains(sinkDec, ".parquet")
    assert(wantTs.size === 3 && wantDec.size === 3, s"$wantTs $wantDec")
    val wantRows = Seq((1L, "2024-01-01 00:00:00", "a"),
      (2L, "2024-01-01 12:30:45.5", null), (3L, "2024-01-02 00:00:00", "a b"))
    for ((using, suffix) <- Seq("feather" -> ".feather",
        "parquet" -> ".parquet", "`graft-avro`" -> ".avro")) {
      val p = tmp(s"spell_ts_${suffix.drop(1)}")
      spark.sql(s"CREATE TABLE graft.`$p` USING $using " +
        s"PARTITIONED BY (ts, s) AS SELECT id, ts, s FROM ($src)").collect()
      assert(leafChains(p, suffix) === wantTs, using)
      spark.sql(s"INSERT INTO graft.`$p` (id, ts, s) " +
        s"SELECT id + 10, ts, s FROM ($src)").collect()
      assert(leafChains(p, suffix) === wantTs, s"$using after INSERT")
      assert(spark.sql(s"SELECT count(DISTINCT ts) FROM graft.`$p`")
        .head().getLong(0) === 3L, using)
      val back = spark.sql(s"SELECT id, CAST(ts AS STRING), s " +
        s"FROM graft.`$p`").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq.sortBy(_._1)
      assert(back === wantRows ++ wantRows.map { case (i, t, v) =>
        (i + 10, t, v) }, using)
      // the decimal partition reads back as DOUBLE, and STRICT refuses an
      // INSERT of the DECIMAL value into it, so the decimal spelling is
      // pinned on the CTAS
      val d = tmp(s"spell_dec_${suffix.drop(1)}")
      spark.sql(s"CREATE TABLE graft.`$d` USING $using " +
        s"PARTITIONED BY (dec) AS SELECT id, dec FROM ($src)").collect()
      assert(leafChains(d, suffix) === wantDec, using)
      val decs = spark.sql(s"SELECT id, CAST(dec AS DECIMAL(10,7)) " +
        s"FROM graft.`$d`").collect()
        .map(r => r.getLong(0) -> r.getDecimal(1)).toSeq.sortBy(_._1)
      assert(decs.map { case (i, v) => (i, v.toPlainString) } === Seq(
        1L -> "0.0000001", 2L -> "2.5000000", 3L -> "-1.0000000"), using)
    }
  }

  test("a failed write task of a partitioned CTAS and of a partitioned " +
       "REPLACE ... AS SELECT leaves no staging directory, no target file " +
       "and no version; the REPLACE keeps the old head readable") {
    val base = tmp("staged_abort")
    new java.io.File(base).mkdirs()
    val p = s"$base/t"
    def staging = new java.io.File(base).list().toSeq
      .filter(_.contains("-staged-"))
    def files(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      if (!new java.io.File(dir).exists()) Set.empty
      else walk(new java.io.File(dir)).map(_.getPath).toSet
    }
    // the literal hive-null marker fails its task while the sibling
    // leaves' tasks write their parts
    val failing = "SELECT id, CAST(id AS STRING) AS s, CASE WHEN id = 13 " +
      "THEN '__HIVE_DEFAULT_PARTITION__' ELSE concat('d', id % 4) END " +
      "AS day FROM range(0, 40, 1, 4)"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$p` USING feather " +
        s"PARTITIONED BY (day) AS $failing").collect()
    }
    assert(causes(e).exists(_.getMessage.contains("literal hive null")),
      e.toString)
    assert(staging.isEmpty, staging.toString)
    assert(files(p).isEmpty, files(p).toString)
    assert(!FeatherSnapshots.enabled(fsOf(p), new Path(p)))
    // the publish's refusals leave the same nothing behind
    for ((query, needle) <- Seq(
        "SELECT concat('d', id % 4) AS day FROM range(8)" ->
          "only the partition columns",
        "SELECT id, concat('d', id % 4) AS day FROM range(0)" ->
          "produced no rows")) {
      val r = intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.`$p` USING feather " +
          s"PARTITIONED BY (day) AS $query").collect()
      }
      assert(causes(r).exists(_.getMessage.contains(needle)), r.toString)
      assert(staging.isEmpty, staging.toString)
      assert(files(p).isEmpty, files(p).toString)
    }

    spark.sql(s"CREATE TABLE graft.`$p` USING feather PARTITIONED BY (day) " +
      "AS SELECT id, CAST(id AS STRING) AS s, concat('d', id % 4) AS day " +
      "FROM range(40)").collect()
    val v0 = head(p).version
    val expected = rows2(p)
    val before = files(p)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE graft.`$p` USING parquet " +
        s"PARTITIONED BY (day) AS $failing").collect()
    }
    assert(causes(e2).exists(_.getMessage.contains("literal hive null")),
      e2.toString)
    assert(staging.isEmpty, staging.toString)
    assert(files(p) === before)
    assert(head(p).version === v0)
    assert(rows2(p) === expected)
  }

  test("a multi-task graft_dv UPDATE over three leaves adds one part per " +
       "touched leaf") {
    val p = tmp("dv_update")
    createDayTable(p)
    // two more parts per leaf, so the scan reads each leaf in three tasks
    for (k <- 1 to 2)
      spark.sql(s"INSERT INTO graft.`$p` SELECT id, id AS v, " +
        s"CAST(id % 4 AS INT) AS day FROM range(${k * 1000}, " +
        s"${k * 1000 + 400})").collect()
    assert(partsPerLeaf(p) === (0 until 4).map(d => s"day=$d" -> 3).toMap)
    val before = head(p)
    spark.sql(s"UPDATE graft_dv.`$p` SET v = -v WHERE day < 3").collect()
    assert(addedPerLeaf(p, before) ===
      Map("day=0" -> 1, "day=1" -> 1, "day=2" -> 1))
    val back = rows(p)
    assert(back.size === 1200)
    assert(back.forall { case (i, v, d) => v == (if (d < 3) -i else i) })
    assert(tmpResidue(p).isEmpty, tmpResidue(p).toString)
  }
}
