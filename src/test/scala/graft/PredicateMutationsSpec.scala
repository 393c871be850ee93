package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.PredicateMutations
import graft.sources.{FaceRowLevel, FeatherSnapshots}

/** Predicate DELETE/UPDATE (io/PredicateMutations) and their SQL
  * spellings, one row-level path: candidate pruning by stats + partition
  * values, the no-match degrade, DV masking and its position cap,
  * partition moves through UPDATE, per-leaf stamps on full deletes, and
  * the loud contracts. */
class PredicateMutationsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_predmut/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // range-clustered table: id 1..400 in 4 parts, amt = id, grp g0..g3
  private def writeTable(path: String): Unit = {
    import spark.implicits._
    (1 to 400).map(i => (i.toLong, s"g${i % 4}", i * 1.0))
      .toDF("id", "grp", "amt")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }
  private def readAll(path: String) =
    spark.read.format("feather").load(path)

  test("deleteWhere drops exactly the selected rows and PRUNES files " +
       "outside the predicate's range (untouched files carry through)") {
    val path = tmp("del_cow")
    writeTable(path)
    val before = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.files.toSet
    val r = PredicateMutations.deleteWhere(spark, path,
      col("id") > 350 && col("grp") === "g1")
    assert(readAll(path).count() === 400 - 12) // 353,357,...,397
    assert(readAll(path).where(col("id") > 350 && col("grp") === "g1")
      .count() === 0)
    // stats pruning: only the last range part (ids 301..400) rewrites
    assert(r.filesTouched === 1 && r.filesKept === 3)
    val after = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.files.toSet
    assert(before.intersect(after).size === 3,
      "3 of 4 parts must carry through untouched")
  }

  test("deleteWhere matching NOTHING publishes no version (replay-clean)") {
    val path = tmp("del_noop")
    writeTable(path)
    val r = PredicateMutations.deleteWhere(spark, path, col("id") > 10000)
    assert(r.version === 1L && r.filesTouched === 0)
    // even when stats cannot refute (predicate on an unstated column
    // family), the limit-1 probe degrades to a no-op
    val r2 = PredicateMutations.deleteWhere(spark, path,
      col("grp") === "no_such_group")
    assert(r2.version === 1L)
  }

  test("deleteWhereDV masks positions — bytes ∝ deleted rows, " +
       "data files untouched; full-coverage files drop") {
    val path = tmp("del_dv")
    writeTable(path)
    val dataBytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".feather")).map(_.length()).sum
    val r = PredicateMutations.deleteWhereDV(spark, path,
      col("id") % 100 === 0)
    assert(readAll(path).count() === 396)
    assert(readAll(path).where(col("id") % 100 === 0).count() === 0)
    val snap = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    assert(snap.dvs.nonEmpty, "scattered delete must bind DVs")
    val after = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".feather")).map(_.length()).sum
    assert(after === dataBytes, "DV delete must not rewrite data files")
    assert(r.version === 2L)
    // a predicate covering EVERY row of the table DROPS all files from
    // the manifest (full coverage proved from the stats row counts even
    // for an untranslatable predicate) and leaves a readable empty
    // table with its schema
    PredicateMutations.deleteWhereDV(spark, path,
      (col("id") * 1 >= 0) || col("id").isNull) // untranslatable shape
    assert(readAll(path).count() === 0)
    assert(readAll(path).columns.sorted.toSeq === Seq("amt", "grp", "id"))
    val snap2 = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    assert(snap2.dvs.isEmpty && snap2.files.size === 1,
      "fully-masked files must DROP from the manifest (one schema " +
        s"stamp left), not stay bound: ${snap2.files}")
  }

  test("wall-clock predicates pin one instant per statement and still " +
       "execute correctly (current_timestamp / current_date)") {
    import spark.implicits._
    val path = tmp("clock")
    val past = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val future = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
    (1 to 10).map(i => (i.toLong, if (i <= 4) past else future))
      .toDF("id", "ts")
      .repartitionByRange(2, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    // past rows delete; future rows survive — and the pinned literal
    // keeps the pruning fold, probe, and rewrite on ONE instant
    val r = PredicateMutations.deleteWhere(spark, path,
      col("ts") <= current_timestamp())
    assert(readAll(path).count() === 6)
    assert(r.version === 2L)
    // a current_date predicate matching nothing stays a clean no-op
    val r2 = PredicateMutations.deleteWhere(spark, path,
      col("ts") <= to_timestamp(lit("1970-01-02")))
    assert(r2.version === 2L)
    spark.sql(
      s"DELETE FROM graft.`$path` WHERE ts > current_timestamp()")
    assert(readAll(path).count() === 0)
    // SET values pin too: the written instant falls inside the
    // statement's wall-clock window (a real literal, not a re-planned
    // per-query clock)
    val path2 = tmp("clock_set")
    (1 to 4).map(i => (i.toLong, past)).toDF("id", "ts")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path2)
    val before = java.sql.Timestamp.from(java.time.Instant.now())
    PredicateMutations.updateWhere(spark, path2,
      Map("ts" -> current_timestamp()), Some(col("id") <= 2))
    val after = java.sql.Timestamp.from(java.time.Instant.now())
    val got = readAll(path2).where(col("id") <= 2)
      .select("ts").collect().map(_.getTimestamp(0))
    assert(got.toSet.size === 1, "one pinned instant for every row")
    assert(!got.head.before(before) && !got.head.after(after))
  }

  test("a real column named current_date SHADOWS the clock keyword " +
       "(mirrors Spark's literal-function resolution order)") {
    import spark.implicits._
    val path = tmp("clock_shadow")
    Seq((1L, "x"), (2L, "y"), (3L, "x"))
      .toDF("id", "current_date")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    PredicateMutations.deleteWhere(spark, path,
      col("current_date") === "x")
    val left = readAll(path).select("id").collect().map(_.getLong(0))
    assert(left.toSeq === Seq(2L),
      "the column reference must not be hijacked by the clock pin")
  }

  test("In-list pruning keeps a leaf when an element comparison is " +
       "undecidable (java8 LocalDate filter values vs date chains)") {
    import graft.sources.FeatherPartitions
    val leaf = FeatherPartitions.LeafFile("/t/day=2024-01-01/p.feather",
      1L, Seq("day" -> "2024-01-01"))
    val ps = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.DateType)))
    import org.apache.spark.sql.sources.In
    // LocalDate element (java8 datetime API): decidable, equal → keep
    assert(FeatherPartitions.survives(leaf, ps,
      Seq(In("day", Array(java.time.LocalDate.parse("2024-01-01"))))))
    // LocalDate element, unequal → prune
    assert(!FeatherPartitions.survives(leaf, ps,
      Seq(In("day", Array(java.time.LocalDate.parse("2024-02-01"))))))
    // an INCOMPARABLE element must KEEP the leaf (undecidable ≠ miss)
    assert(FeatherPartitions.survives(leaf, ps,
      Seq(In("day", Array("not-a-date-object": Any)))))
  }

  test("updateWhere applies SETs to selected rows only; lossless-or-" +
       "exact type gate; unknown SET column loud") {
    val path = tmp("upd_cow")
    writeTable(path)
    PredicateMutations.updateWhere(spark, path,
      Map("amt" -> (col("amt") * 10), "grp" -> lit("boosted")),
      Some(col("id") <= 5))
    val rows = readAll(path).where(col("id") <= 6).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("grp"),
        r.getAs[Double]("amt")))
    assert(rows.take(5).forall(t => t._2 == "boosted" && t._3 == t._1 * 10))
    assert(rows(5) === ((6L, "g2", 6.0)), "unselected rows carry through")
    val e1 = intercept[IllegalArgumentException] {
      PredicateMutations.updateWhere(spark, path,
        Map("nope" -> lit(1)), Some(col("id") === 1))
    }
    assert(e1.getMessage.contains("not in the table schema"))
    val e2 = intercept[IllegalArgumentException] {
      PredicateMutations.updateWhere(spark, path,
        Map("id" -> lit("str")), Some(col("id") === 1))
    }
    assert(e2.getMessage.contains("lossless"))
    val e3 = intercept[IllegalArgumentException] {
      PredicateMutations.updateWhere(spark, path,
        Map("amt" -> lit(0.0)), Some(col("id")))
    }
    assert(e3.getMessage.contains("not boolean"))
  }

  test("SQL: DELETE FROM / UPDATE over graft.` ` targets; graft_dv " +
       "DELETE masks; eager-once command semantics") {
    val path = tmp("sql_dml")
    writeTable(path)
    spark.sql(
      s"EXPLAIN DELETE FROM graft.`$path` t WHERE t.id % 100 = 0")
      .collect()
    assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.version === 1L, "EXPLAIN must not mutate")
    // the statement executes eagerly, once; collect replays Spark's
    // cached command result
    val df = spark.sql(
      s"DELETE FROM graft.`$path` t WHERE t.id % 100 = 0")
    assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.version === 2L, "spark.sql must execute the delete eagerly")
    df.collect(); df.collect()
    assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.version === 2L, "re-collect must not re-run")
    assert(readAll(path).count() === 396)
    spark.sql(
      s"""UPDATE graft.`$path` SET grp = 'hot', amt = amt + 0.5
         |WHERE id <= 3""".stripMargin).collect()
    val hot = readAll(path).where(col("grp") === "hot")
      .orderBy("id").collect()
    assert(hot.length === 3 && hot.head.getAs[Double]("amt") === 1.5)
    // DV spelling masks
    val dvP = tmp("sql_dml_dv")
    writeTable(dvP)
    spark.sql(s"DELETE FROM graft_dv.`$dvP` WHERE id = 7").collect()
    val snap = FeatherSnapshots.resolve(fsOf(dvP), new Path(dvP), None).get
    assert(snap.dvs.nonEmpty)
    assert(readAll(dvP).count() === 399)
    // UPDATE on the DV spelling is merge-on-read too: the old row is
    // masked and the new one inserted, no data file rewritten
    val dataFiles = snap.files.map(_._1).toSet
    spark.sql(s"UPDATE graft_dv.`$dvP` SET amt = 0 WHERE id = 1").collect()
    val after = FeatherSnapshots.resolve(fsOf(dvP), new Path(dvP), None).get
    assert(dataFiles.subsetOf(after.files.map(_._1).toSet),
      "a DV update rewrites no data file")
    assert(readAll(dvP).count() === 399)
    assert(readAll(dvP).where(col("id") === 1).collect()
      .map(_.getAs[Double]("amt")).toSeq === Seq(0.0))
  }

  test("partitioned UPDATE: a SET on the partition column MOVES rows; " +
       "partition filters prune whole leaves") {
    import spark.implicits._
    val path = tmp("upd_part")
    val df = (1 to 60).map(i => (i.toLong, i * 1.0, s"d${i % 3}"))
      .toDF("id", "amt", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    val before = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.files
    val r = PredicateMutations.updateWhere(spark, path,
      Map("day" -> lit("d9")), Some(col("day") === "d1" && col("id") <= 10))
    // only day=d1's files are candidates (partition-value pruning), and
    // within the leaf the id-range stats prune further
    val d1Files = before.count(_._1.startsWith("day=d1/"))
    assert(r.filesTouched >= 1 && r.filesTouched <= d1Files,
      s"only d1-leaf files may rewrite (touched ${r.filesTouched} of " +
        s"$d1Files d1 files, ${before.size} total)")
    val back = graft.io.ParquetTable.read(spark, path)
    assert(back.count() === 60)
    val moved = back.where(col("day") === "d9")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(moved.toSeq === Seq(1L, 4L, 7L, 10L))
    assert(new java.io.File(s"$path/day=d9").isDirectory)
    // SQL spelling of a partitioned delete prunes by partition value too
    spark.sql(s"DELETE FROM graft.`$path` WHERE day = 'd9'").collect()
    assert(graft.io.ParquetTable.read(spark, path).count() === 56)
  }

  test("deleteWhereDV refuses above the driver-collect position cap " +
       "with COW guidance; under the cap the path is unchanged") {
    // both spellings: the cap lives in the one merge-on-read commit, so
    // graft_dv DELETE and UPDATE refuse the same way
    val path = tmp("dv_cap")
    writeTable(path)
    spark.conf.set(FaceRowLevel.MaxDvPositionsKey, "5")
    try {
      Seq[(String, () => Unit)](
        "deleteWhereDV" -> (() =>
          PredicateMutations.deleteWhereDV(spark, path, col("id") <= 12): Unit),
        "graft_dv DELETE" -> (() =>
          spark.sql(s"DELETE FROM graft_dv.`$path` WHERE id <= 12")
            .collect(): Unit),
        "graft_dv UPDATE" -> (() =>
          spark.sql(s"UPDATE graft_dv.`$path` SET amt = 0 WHERE id <= 12")
            .collect(): Unit)
      ).foreach { case (what, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("selects 12 rows") &&
          e.getMessage.contains("deleteWhere"),
          s"$what: the guard must name the count and the COW alternative: " +
            e.getMessage)
        // the refusal happened BEFORE any commit — version unchanged, no
        // sidecar written, the UPDATE's tmp insert parts deleted
        assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
          .get.version === 1, what)
        val left = new java.io.File(path).list().toSeq
        assert(!left.exists(n => n.endsWith(".dv") || n.endsWith(".tmp")),
          s"$what left files behind: $left")
      }
      // under the cap: same statement shape lands DV sidecars as before
      val r = PredicateMutations.deleteWhereDV(spark, path, col("id") <= 4)
      assert(r.partsWritten === 1 && readAll(path).count() === 396)
    } finally spark.conf.unset(FaceRowLevel.MaxDvPositionsKey)
  }

  test("a no-match DELETE publishes no version when pruning keeps exactly " +
       "one file, in both spellings; a no-match UPDATE narrowed to one " +
       "file republishes it") {
    import spark.implicits._
    val path = tmp("noop_one_file")
    (1 to 400).map(i => (i.toLong, s"g${i % 4}", i * 1.0))
      .toDF("id", "grp", "amt")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    def version = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.version
    val v0 = version
    // untranslatable: no file statistic refutes it, so the one file is
    // planned and only the runtime filter can prove the no-match
    val noMatch = col("id") % 1000 === 999
    val r = PredicateMutations.deleteWhere(spark, path, noMatch)
    assert(r.version === v0 && r.filesTouched === 0 && r.filesKept === 1)
    assert(PredicateMutations.deleteWhereDV(spark, path, noMatch)
      .version === v0)
    for (cat <- Seq("graft", "graft_dv"))
      spark.sql(s"DELETE FROM $cat.`$path` WHERE id % 1000 = 999").collect()
    spark.sql(s"UPDATE graft_dv.`$path` SET amt = 0 WHERE id % 1000 = 999")
      .collect()
    assert(version === v0, "a no-match DELETE must publish no version")
    // the copy-on-write UPDATE gets no runtime filter on one file (two
    // extra jobs on every pruned UPDATE), so it rewrites the file
    val u = PredicateMutations.updateWhere(spark, path,
      Map("amt" -> lit(0.0)), Some(noMatch))
    assert(u.version === v0 + 1 && u.filesTouched === 1)
    spark.sql(s"UPDATE graft.`$path` SET amt = 0 WHERE id % 1000 = 999")
      .collect()
    assert(version === v0 + 2)
    assert(readAll(path).count() === 400 &&
      readAll(path).where(col("amt") === 0.0).count() === 0)
    // without a row count in the file's stats the DELETE takes the
    // runtime filter instead, and still publishes nothing
    new java.io.File(path).listFiles().filter(f =>
      f.getName.endsWith(".stats.json") || f.getName == "_stats.json")
      .foreach(_.delete())
    val v2 = version
    assert(PredicateMutations.deleteWhere(spark, path, noMatch)
      .version === v2)
    spark.sql(s"DELETE FROM graft.`$path` WHERE id % 1000 = 999").collect()
    assert(version === v2)
    assert(PredicateMutations.deleteWhere(spark, path, col("id") === 7)
      .version === v2 + 1 && readAll(path).count() === 399)
  }

  test("the entry points open the path the caller names: relative, " +
       "file: URI, in a session with no graft catalog and Spark's default " +
       "store assignment (a lossy SET still refuses)") {
    val rel = "target/graft_predmut_rel/t"
    val abs = new java.io.File(rel).getAbsolutePath
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(abs))
    try {
      writeTable(rel)
      def version = FeatherSnapshots.resolve(fsOf(abs), new Path(abs), None)
        .get.version
      val v0 = version
      assert(PredicateMutations.deleteWhere(spark, rel, col("id") === 1)
        .version === v0 + 1)
      assert(PredicateMutations.updateWhere(spark, s"file:$abs",
        Map("amt" -> lit(0.0)), Some(col("id") === 2)).version === v0 + 2)
      assert(PredicateMutations.deleteWhereDV(spark, s"file:$abs",
        col("id") === 3).version === v0 + 3)
      // the SQL spelling takes a scheme-only URI too
      spark.sql(s"DELETE FROM graft.`file:$abs` WHERE id = 4").collect()
      assert(version === v0 + 4)
      assert(readAll(abs).count() === 397 &&
        readAll(abs).where(col("amt") === 0.0).count() === 1)
      val plain = org.apache.spark.sql.graft.Bridge.sessionWithoutExtensions(
        spark, Map("spark.sql.shuffle.partitions" -> "4",
          "spark.sql.session.timeZone" -> "UTC"))
      // the shared context conf registers the catalogs; this session
      // drops them
      Seq("graft", "graft_dv").foreach(c =>
        plain.conf.unset(s"spark.sql.catalog.$c"))
      assert(plain.conf.getOption("spark.sql.catalog.graft").isEmpty &&
        plain.conf.get("spark.sql.storeAssignmentPolicy") === "ANSI")
      val e = intercept[IllegalArgumentException] {
        PredicateMutations.updateWhere(plain, abs,
          Map("id" -> lit(1.5)), Some(col("id") === 5))
      }
      assert(e.getMessage.contains("lossless"), e.getMessage)
      assert(version === v0 + 4)
      assert(PredicateMutations.updateWhere(plain, abs,
        Map("amt" -> lit(0)), Some(col("id") === 5)).version === v0 + 5)
      assert(PredicateMutations.deleteWhereDV(plain, rel, col("id") === 6)
        .version === v0 + 6)
      assert(readAll(abs).count() === 396 &&
        readAll(abs).where(col("amt") === 0.0).count() === 2)
    } finally wipe(new java.io.File(abs).getParentFile)
  }

  test("nondeterministic WHERE / SET refuse loudly (the predicate " +
       "evaluates in separate jobs; rand() could lose or duplicate rows)") {
    val path = tmp("nondet")
    writeTable(path)
    // Spark's analysis refuses a nondeterministic WHERE itself
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      PredicateMutations.deleteWhere(spark, path, rand() < lit(2.0))
    }
    assert(e1.getMessage.contains("INVALID_NON_DETERMINISTIC_EXPRESSIONS"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      PredicateMutations.updateWhere(spark, path,
        Map("amt" -> rand()), Some(col("id") === 1))
    }
    assert(e2.getMessage.contains("nondeterministic"))
    // pinned clock functions stay legal (they are literals by the time
    // the determinism check runs)
    PredicateMutations.deleteWhere(spark, path,
      col("id") === 1 && current_date() >= lit(java.sql.Date.valueOf("2020-01-01")))
    assert(readAll(path).count() === 399)
  }

  test("deleting every row leaves a readable empty table with its " +
       "schema (per-leaf stamps keep hive layouts)") {
    import spark.implicits._
    val path = tmp("del_all_part")
    val df = (1 to 30).map(i => (i.toLong, i * 1.0, s"d${i % 3}"))
      .toDF("id", "amt", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    spark.sql(s"DELETE FROM graft.`$path`").collect() // no WHERE
    val back = graft.io.ParquetTable.read(spark, path)
    assert(back.count() === 0)
    assert(back.columns.sorted.toSeq === Seq("amt", "day", "id"),
      "hive layout (and its partition column) must survive a full delete")
  }
}
