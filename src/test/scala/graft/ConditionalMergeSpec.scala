package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ConditionalMerge, FeatherChanges, FeatherMutations}
import graft.sources.FeatherSnapshots

/** The Delta-shaped conditional MERGE: clause ordering, partial SET /
  * partial INSERT semantics, whenNotMatchedBySource, the COW↔DV strategy
  * equivalence, and the loud-refusal contracts. */
class ConditionalMergeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_cmerge_test/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // table: id 1..100, grade g0/g1/g2, amt = id * 10
  private def writeTable(path: String, format: String = "feather"): Unit = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 10.0))
      .toDF("id", "grade", "amt")
      .repartitionByRange(4, col("id"))
      .write.format(format).mode("overwrite")
      .option("snapshots", "true").save(path)
  }
  // source: ids 51..120 (51..100 match), flag = id % 2
  private def src = {
    import spark.implicits._
    (51 to 120).map(i => (i.toLong, s"s${i % 3}", i * 100.0))
      .toDF("id", "grade", "amt")
  }

  private def fullMerge(path: String) =
    ConditionalMerge(spark, path, src, Seq("id"))
      // matched, id divisible by 10 → delete
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      // matched, target amt > 700 → partial update (grade only)
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      // unmatched source, odd id → partial insert (amt stays null)
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
      // target rows without a source match, id <= 5 → delete
      .whenNotMatchedBySourceDelete(Some(col("target.id") <= 5))

  /** The expected post-merge state, computed relationally. */
  private def expected = {
    import spark.implicits._
    val t = (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 10.0))
    val kept = t.filter { case (id, _, _) =>
      !(id >= 51 && id % 10 == 0) && // matched deletes
      !(id <= 5) // bySource deletes (ids 1..5 have no source match)
    }.map { case (id, g, a) =>
      if (id >= 51 && id <= 100 && a > 700) (id, s"up_s${id % 3}", a)
      else (id, g, a)
    }
    val ins = (101 to 120).filter(_ % 2 == 1)
      .map(i => (i.toLong, "new", null.asInstanceOf[java.lang.Double]))
    (kept.map(x => (x._1, x._2, x._3: java.lang.Double)) ++ ins)
      .sortBy(_._1)
  }

  private def collect(path: String, format: String = "feather") =
    spark.read.format(format).load(path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else (r.getDouble(2): java.lang.Double)))
      .toSeq

  test("full clause matrix, copy-on-write: ordering, partial SET, " +
       "partial INSERT nulls, bySource delete") {
    val path = tmp("cow")
    writeTable(path)
    val r = fullMerge(path).execute()
    assert(r.version === 2L)
    // bySource forces every file to participate
    assert(r.filesTouched === 4)
    assert(collect(path) === expected)
  }

  test("DV strategy produces identical content without rewriting " +
       "candidate files (no bySource clause)") {
    val pathCow = tmp("dv_c")
    val pathDv = tmp("dv_d")
    writeTable(pathCow)
    writeTable(pathDv)
    def m(p: String) = ConditionalMerge(spark, p, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
    val bytes0 = new java.io.File(pathDv).listFiles()
      .filter(f => f.getName.endsWith(".feather") && !f.getName.startsWith("mut-"))
      .map(_.length()).sum
    m(pathCow).execute()
    val rd = m(pathDv).executeDV()
    val after = new java.io.File(pathDv).listFiles()
      .filter(f => f.getName.endsWith(".feather") && !f.getName.startsWith("mut-"))
      .map(_.length()).sum
    assert(after === bytes0, "DV strategy must not rewrite candidates")
    assert(rd.filesTouched >= 1, "the matched files carry masks")
    assert(collect(pathCow) === collect(pathDv))
    // a clause changes EVERY row of the top range file (76..100: amt >
    // 700 updates, the tens delete): a full-coverage mask DROPS the file
    // from the manifest instead of binding a sidecar. The 51..75 file
    // keeps the matched rows no clause fires on (51..69 minus the tens),
    // so it binds a sidecar
    val snap = FeatherSnapshots.resolve(fsOf(pathDv), new Path(pathDv), None).get
    val parent = FeatherSnapshots.read(fsOf(pathDv), new Path(pathDv), 1L)
    val carried = parent.files.map(_._1).toSet
      .intersect(snap.files.map(_._1).toSet)
    assert(parent.files.size - carried.size === 1,
      "the fully-changed file drops from the manifest")
    assert(snap.dvs.size === 1 && carried(snap.dvs.keys.head),
      "the partly-changed file binds a DV sidecar")
    // a PARTIAL match binds a real sidecar
    import spark.implicits._
    ConditionalMerge(spark, pathDv,
      Seq((1L, "sZ", 0.0)).toDF("id", "grade", "amt"), Seq("id"))
      .whenMatchedUpdate(None, set = Map("grade" -> lit("one")))
      .executeDV()
    val snap3 = FeatherSnapshots.resolve(fsOf(pathDv), new Path(pathDv), None).get
    assert(snap3.dvs.nonEmpty, "a partial match binds a DV sidecar")
    assert(spark.read.format("feather").load(pathDv)
      .filter(col("id") === 1L).select("grade").head().getString(0) === "one")
    // time travel still serves the pre-merge state
    assert(spark.read.format("feather").option("versionAsOf", "1")
      .load(pathDv).count() === 100)
  }

  test("first matching clause wins: an unconditional clause shadows " +
       "everything after it") {
    import spark.implicits._
    val path = tmp("order")
    writeTable(path)
    val s2 = Seq((60L, "sX", 1.0)).toDF("id", "grade", "amt")
    ConditionalMerge(spark, path, s2, Seq("id"))
      .whenMatchedUpdate(None, set = Map("grade" -> lit("first")))
      .whenMatchedDelete(None) // unreachable
      .execute()
    val row = spark.read.format("feather").load(path)
      .filter(col("id") === 60L).collect()
    assert(row.length === 1)
    assert(row.head.getString(1) === "first")
  }

  test("insert-only merge is a pure append: no file rewritten") {
    val path = tmp("insonly")
    writeTable(path)
    val before = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.files.toSet
    val r = ConditionalMerge(spark, path, src, Seq("id"))
      .whenNotMatchedInsertAll()
      .execute()
    assert(r.filesTouched === 0)
    val afterSnap = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    assert(before.subsetOf(afterSnap.files.toSet),
      "every parent file carries through")
    val back = spark.read.format("feather").load(path)
    assert(back.count() === 120) // 100 + inserts 101..120
    assert(back.filter(col("id") === 60L).select("amt").head().getDouble(0)
      === 600.0, "matched rows untouched by an insert-only merge")
  }

  test("conditional DV merge emits CDF deletes + inserts; untouched " +
       "matched rows net out") {
    import spark.implicits._
    val path = tmp("cdf")
    writeTable(path)
    val s2 = Seq((60L, "sX", 999.0), (61L, "sY", 1.0))
      .toDF("id", "grade", "amt")
    ConditionalMerge(spark, path, s2, Seq("id"))
      // only id=60 changes (source.amt 999 > 500); 61 carries through
      .whenMatchedUpdate(Some(col("source.amt") > 500),
        set = Map("amt" -> col("source.amt")))
      .executeDV()
    val feed = FeatherChanges.readChanges(spark, path, 1, 2)
      .select("id", "amt", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(t => (t._1, t._3))
    assert(feed.toSeq === Seq(
      (60L, 600.0, "delete"), (60L, 999.0, "insert")))
  }

  test("loud contracts: duplicate source keys, bySource under DV, " +
       "partitioned table, unknown SET column, missing insertAll column") {
    import spark.implicits._
    val path = tmp("loud")
    writeTable(path)
    val dup = Seq((60L, "a", 1.0), (60L, "b", 2.0)).toDF("id", "grade", "amt")
    // Spark's row-level MERGE refuses two source rows on one target row
    val e1 = intercept[org.apache.spark.SparkThrowable] {
      ConditionalMerge(spark, path, dup, Seq("id"))
        .whenMatchedUpdateAll().execute()
    }
    assert(e1.getCondition === "MERGE_CARDINALITY_VIOLATION")
    val e2 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenNotMatchedBySourceDelete().executeDV()
    }
    assert(e2.getMessage.contains("whenNotMatchedBySource"))
    // source references in a bySource clause are refused in BOTH
    // spellings — unresolved col("source.x") and the resolved frame
    // column (either would read NULL on every applicable row)
    val eS1 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenNotMatchedBySourceDelete(Some(col("source.grade") === "x"))
        .execute()
    }
    assert(eS1.getMessage.contains("no source side"))
    val srcF = src
    val eS2 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, srcF, Seq("id"))
        .whenNotMatchedBySourceUpdate(None,
          set = Map("grade" -> srcF("grade")))
        .execute()
    }
    assert(eS2.getMessage.contains("no source side"))
    val e3 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenMatchedUpdate(None, set = Map("ghost" -> lit(1)))
        .execute()
    }
    assert(e3.getMessage.contains("ghost"))
    val e4 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src.drop("amt"), Seq("id"))
        .whenNotMatchedInsertAll().execute()
    }
    assert(e4.getMessage.contains("amt"))
    // a lossy SET expression type is refused up front (a silent cast
    // would null-corrupt matched rows); lossless upcasts pass
    val e6 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenMatchedUpdate(None, set = Map("amt" -> col("source.grade")))
        .execute()
    }
    assert(e6.getMessage.contains("lossless"))
    // updateAll with a type-drifted source column: the implicit SET is
    // gated the same as the explicit spelling
    val drift = src.withColumn("amt", col("amt").cast("string"))
    val e7 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, drift, Seq("id"))
        .whenMatchedUpdateAll().execute()
    }
    assert(e7.getMessage.contains("updateAll/insertAll") &&
      e7.getMessage.contains("amt"))
    // an int literal into the double column is a lossless upcast: runs
    val up = ConditionalMerge(spark, path,
      Seq((60L, "s", 1.0)).toDF("id", "grade", "amt"), Seq("id"))
      .whenMatchedUpdate(None, set = Map("amt" -> lit(7)))
      .execute()
    assert(up.version === 2L)
    assert(spark.read.format("feather").load(path)
      .filter(col("id") === 60L).select("amt").head().getDouble(0) === 7.0)
    // NON-HIVE nested layout refused (hive-partitioned is supported;
    // an adopted batch1/-style nesting has nowhere to route output rows)
    val ppath = tmp("loud_nonhive")
    graft.io.GraftFeather.write(
      Seq((1L, 1.0)).toDF("id", "amt").repartition(1),
      s"$ppath/batch1", overwrite = true)
    FeatherSnapshots.adopt(fsOf(ppath), new Path(ppath))
    val e5 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, ppath,
        Seq((1L, 2.0)).toDF("id", "amt"), Seq("id"))
        .whenMatchedUpdateAll().execute()
    }
    assert(e5.getMessage.contains("non-hive"))
  }

  test("the clause matrix runs on the parquet face, both strategies") {
    import spark.implicits._
    val pathCow = tmp("pq_c")
    val pathDv = tmp("pq_d")
    val df = (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 10.0))
      .toDF("id", "grade", "amt")
      .repartitionByRange(4, col("id"))
    graft.io.ParquetTable.write(df, pathCow)
    graft.io.ParquetTable.write(df, pathDv)
    def m(p: String) = ConditionalMerge(spark, p, src, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdate(Some(col("target.amt") > 700),
        set = Map("grade" -> concat(lit("up_"), col("source.grade"))))
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "grade" -> lit("new")))
    m(pathCow).execute()
    m(pathDv).executeDV()
    def got(p: String) = graft.io.ParquetTable.read(spark, p).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else (r.getDouble(2): java.lang.Double)))
      .toSeq
    assert(got(pathCow) === got(pathDv))
    assert(got(pathCow).size === 100 - 5 + 10) // -deletes(60..100 by 10) +inserts
  }

  test("a merge that changes nothing publishes NO version (insert-only " +
       "with zero qualifying inserts; conditional DV matching nothing)") {
    import spark.implicits._
    val path = tmp("noop")
    writeTable(path)
    // every source key already exists -> zero inserts -> no commit
    val allMatched = Seq((60L, "sX", 1.0)).toDF("id", "grade", "amt")
    val r1 = ConditionalMerge(spark, path, allMatched, Seq("id"))
      .whenNotMatchedInsertAll().execute()
    assert(r1.version === 1L, s"zero-insert merge must not commit: $r1")
    // the same on the avro face, where the insert-only merge lands
    // through the avro sink's append
    val avro = tmp("noop_avro")
    writeTable(avro, "graft-avro")
    val r1a = ConditionalMerge(spark, avro, allMatched, Seq("id"))
      .whenNotMatchedInsertAll().execute()
    assert(r1a.version === 1L, s"zero-insert avro merge must not commit: $r1a")
    // DV strategy, no key matches, no clause output -> no commit
    val noMatch = Seq((9999L, "sX", 1.0)).toDF("id", "grade", "amt")
    val r2 = ConditionalMerge(spark, path, noMatch, Seq("id"))
      .whenMatchedDelete(None).executeDV()
    assert(r2.version === 1L, s"nothing-matched DV merge must not commit: $r2")
    // COW too: keys INSIDE candidate ranges but matching no actual row
    // (the probe over-approximates) must not rewrite candidates
    // byte-identically — it is the replayed-foreachBatch shape. The
    // gapped table (even ids only) makes an in-range miss possible.
    val gapped = tmp("noop_gap")
    (1 to 100).map(i => ((i * 2).toLong, s"g${i % 3}", i * 10.0))
      .toDF("id", "grade", "amt")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(gapped)
    val r3 = ConditionalMerge(spark, gapped,
      Seq((51L, "sX", 1.0)).toDF("id", "grade", "amt"), Seq("id"))
      .whenMatchedUpdateAll().execute()
    assert(r3.version === 1L && r3.filesTouched === 0,
      s"an in-range miss must degrade to a no-op, not a rewrite: $r3")
    // a key inside ONE file's id range (52..100) but absent from it: the
    // key pruning plans that one file, and the merge still proves its
    // no-match instead of republishing the file
    val r3b = ConditionalMerge(spark, gapped,
      Seq((53L, "sX", 1.0)).toDF("id", "grade", "amt"), Seq("id"))
      .whenMatchedUpdateAll().execute()
    assert(r3b.version === 1L && r3b.filesTouched === 0,
      s"a one-file in-range miss must be a no-op too: $r3b")
    // ... and with a qualifying insert it degrades to a PURE APPEND
    val r4 = ConditionalMerge(spark, gapped,
      Seq((51L, "sX", 1.0)).toDF("id", "grade", "amt"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(r4.version === 2L && r4.filesTouched === 0 && r4.partsWritten === 1,
      s"in-range miss + insert = pure append: $r4")
    assert(spark.read.format("feather").load(gapped).count() === 101)
    assert(spark.read.format("feather").load(path).count() === 100)
  }

  test("the no-op guard holds on the PARQUET face too (Spark's sink " +
       "keeps partition 0's file even when empty — writeParts must drop it)") {
    import spark.implicits._
    val path = tmp("noop_pq")
    val df = (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 10.0))
      .toDF("id", "grade", "amt").repartitionByRange(4, col("id"))
    graft.io.ParquetTable.write(df, path)
    val allMatched = Seq((60L, "sX", 1.0)).toDF("id", "grade", "amt")
    val r1 = ConditionalMerge(spark, path, allMatched, Seq("id"))
      .whenNotMatchedInsertAll().execute()
    assert(r1.version === 1L, s"zero-insert parquet merge must not commit: $r1")
    // replayed all-tombstone CDC on parquet: same contract
    val batch = Seq((60L, "g0", null.asInstanceOf[java.lang.Double], true))
      .toDF("id", "grade", "amt", "_deleted")
      .withColumn("amt", col("amt").cast("double"))
    val c1 = graft.io.FeatherMutations.applyCdcDV(spark, path, batch, Seq("id"))
    assert(c1.version === 2L)
    val c2 = graft.io.FeatherMutations.applyCdcDV(spark, path, batch, Seq("id"))
    assert(c2.version === 2L, s"parquet CDC replay must not commit: $c2")
    assert(graft.io.ParquetTable.read(spark, path).count() === 99)
  }

  test("executeDV with insert-only clauses is a pure append: no scan of " +
       "matched positions, no masks") {
    val path = tmp("dv_insonly")
    writeTable(path)
    val r = ConditionalMerge(spark, path, src, Seq("id"))
      .whenNotMatchedInsertAll().executeDV()
    assert(r.filesTouched === 0, s"insert-only must not mask: $r")
    val snap = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    assert(snap.dvs.isEmpty)
    assert(spark.read.format("feather").load(path).count() === 120)
  }

  test("null-keyed source rows never match and never duplicate-trip") {
    import spark.implicits._
    val path = tmp("nullkey")
    writeTable(path)
    val s2 = Seq((java.lang.Long.valueOf(60L), "sX", 1.0),
        (null.asInstanceOf[java.lang.Long], "n1", 2.0),
        (null.asInstanceOf[java.lang.Long], "n2", 3.0))
      .toDF("id", "grade", "amt")
    ConditionalMerge(spark, path, s2, Seq("id"))
      .whenMatchedUpdate(None, set = Map("grade" -> lit("upd")))
      .whenNotMatchedInsertAll()
      .execute()
    val back = spark.read.format("feather").load(path)
    assert(back.count() === 102, "null-keyed rows insert (no match)")
    assert(back.filter(col("id") === 60L).select("grade").head()
      .getString(0) === "upd")
  }

  // ---- hive-partitioned tables ------------------------------------------

  // partitioned parquet table: ids 1..60, day = d(id%3), amt = id
  private def writePartitionedTable(path: String): Unit = {
    import spark.implicits._
    val df = (1 to 60).map(i => (i.toLong, i.toDouble, s"d${i % 3}"))
      .toDF("id", "amt", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day")): Unit
  }
  // source: matched 51..60 (day unchanged), the MOVER id 9 → day d9,
  // unmatched 61..70
  private def partSrc = {
    import spark.implicits._
    ((51 to 70).map(i => (i.toLong, i * 100.0, s"d${i % 3}")) :+
      ((9L, 900.0, "d9")))
      .toDF("id", "amt", "day")
  }
  private def partClauses(path: String) =
    ConditionalMerge(spark, path, partSrc, Seq("id"))
      .whenMatchedDelete(Some(col("source.id") % 10 === 0))
      .whenMatchedUpdateAll() // incl. the day SET → cross-partition move
      .whenNotMatchedInsert(Some(col("source.id") % 2 === 1),
        values = Map("id" -> col("source.id"), "amt" -> lit(-1.0),
          "day" -> col("source.day")))
  private def expectedPart: Seq[(Long, Double, String)] = {
    val start = (1 to 60).map(i => (i.toLong, i.toDouble, s"d${i % 3}"))
    val matchedIds = ((51 to 60).map(_.toLong) :+ 9L).toSet
    val kept = start.flatMap { case r @ (id, _, _) =>
      if (!matchedIds(id)) Some(r)
      else if (id % 10 == 0) None // clause 1: delete (id 60)
      else if (id == 9L) Some((9L, 900.0, "d9")) // moved
      else Some((id, id * 100.0, s"d${id % 3}")) // updateAll
    }
    val ins = (61 to 70).filter(_ % 2 == 1)
      .map(i => (i.toLong, -1.0, s"d${i % 3}"))
    (kept ++ ins).sortBy(_._1)
  }
  private def collectPart(path: String): Seq[(Long, Double, String)] =
    graft.io.ParquetTable.read(spark, path).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("amt"),
        r.getAs[String]("day"))).toSeq

  test("partitioned table, copy-on-write: clause matrix over partition " +
       "columns, insert routing, cross-partition move") {
    val path = tmp("part_cow")
    writePartitionedTable(path)
    // bySource clauses force the full sweep and may SET data columns
    partClauses(path)
      .whenNotMatchedBySourceDelete(Some(col("target.id") <= 3))
      .execute()
    val exp = expectedPart.filterNot(_._1 <= 3)
    assert(collectPart(path) === exp)
    // the mover landed in a NEW leaf on disk, exactly once
    val d9 = new java.io.File(s"$path/day=d9")
    assert(d9.isDirectory, "cross-partition move must create its leaf")
    assert(graft.io.ParquetTable.read(spark, path)
      .filter(col("day") === "d9").count() === 1)
    // partition pruning still plans over the mutated layout
    assert(graft.io.ParquetTable.read(spark, path)
      .filter(col("day") === "d1").count() ===
      exp.count(_._3 == "d1"))
  }

  test("partitioned table: DV strategy content-identical to COW, masks " +
       "instead of rewriting the untouched leaves") {
    val cowP = tmp("part_cow_twin")
    val dvP = tmp("part_dv_twin")
    writePartitionedTable(cowP)
    writePartitionedTable(dvP)
    partClauses(cowP).execute()
    val r = partClauses(dvP).executeDV()
    assert(collectPart(dvP) === collectPart(cowP))
    assert(collectPart(dvP) === expectedPart)
    // DV: the parent's data files survive (masked, not rewritten)
    val snap = FeatherSnapshots.resolve(fsOf(dvP), new Path(dvP), None).get
    assert(snap.dvs.nonEmpty, "matched files must carry DV bindings")
    assert(r.version === 2L)
    // a REPLAY is NOT content-idempotent for this clause set — by the
    // Delta contract, rows the first run INSERTED now MATCH, so
    // whenMatchedUpdateAll overwrites their values with the source's
    partClauses(dvP).executeDV()
    val replayed = collectPart(dvP)
    assert(replayed.count(_._1 > 60) === 5)
    assert(replayed.filter(_._1 > 60).forall(t => t._2 === t._1 * 100.0),
      "replay must updateAll the previously-inserted rows")
  }

  test("partitioned loud contracts: partition-column key, VALUES " +
       "omitting a partition column, non-hive nesting") {
    import spark.implicits._
    val path = tmp("part_loud")
    writePartitionedTable(path)
    val e1 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, partSrc, Seq("day"))
        .whenMatchedDelete().execute()
    }
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, partSrc, Seq("id"))
        .whenNotMatchedInsert(values = Map("id" -> col("source.id")))
        .execute()
    }
    assert(e2.getMessage.contains("omits partition column"))
  }

  test("DATE-typed partition values: the merge's partition typing " +
       "matches what ParquetTable.read produces (Spark's inference)") {
    import spark.implicits._
    val path = tmp("part_date")
    val df = (1 to 30).map(i => (i.toLong, i * 1.0,
        java.sql.Date.valueOf(s"2024-01-0${i % 3 + 1}")))
      .toDF("id", "amt", "day")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    val read = graft.io.ParquetTable.read(spark, path)
    assert(read.schema("day").dataType ===
      org.apache.spark.sql.types.DateType)
    // source built FROM a read of the table (the natural CDC shape):
    // day arrives as DateType and must pass the updateAll type gate;
    // the update moves id 5 to a new date leaf
    val src = read.filter(col("id") === 5L)
      .withColumn("amt", lit(-5.0))
      .withColumn("day", lit(java.sql.Date.valueOf("2024-02-01")))
    ConditionalMerge(spark, path, src, Seq("id"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val after = graft.io.ParquetTable.read(spark, path)
    assert(after.count() === 30)
    val r5 = after.filter(col("id") === 5L).collect()
    assert(r5.length === 1)
    assert(r5.head.getAs[java.sql.Date]("day") ===
      java.sql.Date.valueOf("2024-02-01"))
    assert(r5.head.getAs[Double]("amt") === -5.0)
    assert(new java.io.File(s"$path/day=2024-02-01").isDirectory)
    // date filters still prune/evaluate over the mutated layout
    assert(after.filter(col("day") === lit(java.sql.Date.valueOf(
      "2024-02-01"))).count() === 1)
  }

  test("withSchemaEvolution: the source's NEW columns join as nullable " +
       "(COW, DV, and the SQL WITH SCHEMA EVOLUTION modifier)") {
    import spark.implicits._
    def mkTable(p: String): Unit = {
      (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
        .repartitionByRange(2, col("id"))
        .write.format("feather").mode("overwrite")
        .option("snapshots", "true").save(p)
    }
    def evolvedSrc = (31 to 50).map(i => (i.toLong, i * 100.0, s"tag_$i"))
      .toDF("id", "amt", "tag")
    def readBack(p: String) = spark.read.format("feather")
      .option("mergeSchema", "true").load(p)
    def checkEvolved(p: String): Unit = {
      val back = readBack(p)
      assert(back.columns.sorted.toSeq === Seq("amt", "id", "tag"))
      assert(back.count() === 50)
      // untouched old rows read tag as null; merged rows carry it
      assert(back.filter(col("id") === 5L).head().isNullAt(
        back.columns.indexOf("tag")))
      assert(back.filter(col("id") === 31L).head()
        .getAs[String]("tag") === "tag_31")
      assert(back.filter(col("id") === 50L).head()
        .getAs[String]("tag") === "tag_50")
    }
    val cowP = tmp("evo_cow"); mkTable(cowP)
    ConditionalMerge(spark, cowP, evolvedSrc, Seq("id"))
      .withSchemaEvolution()
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .execute()
    checkEvolved(cowP)
    val dvP = tmp("evo_dv"); mkTable(dvP)
    ConditionalMerge(spark, dvP, evolvedSrc, Seq("id"))
      .withSchemaEvolution()
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .executeDV()
    assert(collectOf(dvP) === collectOf(cowP))
    val sqlP = tmp("evo_sql"); mkTable(sqlP)
    evolvedSrc.createOrReplaceTempView("evo_updates")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$sqlP` t
         |USING evo_updates s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    checkEvolved(sqlP)
    // WITHOUT the opt-in, an extra source column is silently IGNORED
    // (Delta's default — the *All spellings select table columns only);
    // pin that nothing evolves
    val plainP = tmp("evo_plain"); mkTable(plainP)
    ConditionalMerge(spark, plainP, evolvedSrc, Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .execute()
    assert(readBack(plainP).columns.sorted.toSeq === Seq("amt", "id"),
      "un-opted merge must not evolve the schema")
  }
  private def collectOf(p: String) =
    spark.read.format("feather").option("mergeSchema", "true").load(p)
      .orderBy("id").collect().map(_.toSeq).toSeq

  test("partitioned clause merge runs on the adopted FEATHER face too") {
    import spark.implicits._
    val path = tmp("part_feather")
    val df = (1 to 30).map(i => (i.toLong, s"p_$i", s"d${i % 3}"))
      .toDF("id", "pay", "day")
    Seq("d0", "d1", "d2").foreach { dm =>
      graft.io.GraftFeather.write(
        df.where(col("day") === dm).drop("day").repartition(1),
        s"$path/day=$dm", overwrite = true)
    }
    FeatherSnapshots.adopt(fsOf(path), new Path(path)): Unit
    val s2 = Seq((3L, "p_3_v2", "d2"), (100L, "p_100", "d9"))
      .toDF("id", "pay", "day")
    ConditionalMerge(spark, path, s2, Seq("id"))
      .whenMatchedUpdateAll() // moves id 3 from d0 to d2
      .whenNotMatchedInsertAll()
      .execute()
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 31)
    val r3 = after.where(col("id") === 3L).collect()
    assert(r3.length === 1 && r3.head.getAs[String]("day") === "d2"
      && r3.head.getAs[String]("pay") === "p_3_v2")
    assert(after.where(col("id") === 100L).head()
      .getAs[String]("day") === "d9")
  }

  test("a partitioned merge writes ONE wall-clock instant across every " +
       "leaf (Scala and SQL spellings)") {
    import spark.implicits._
    val seedTs = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def seed(path: String): Unit = {
      val df = (1 to 30).map(i => (i.toLong, seedTs, s"d${i % 3}"))
        .toDF("id", "updated_at", "day")
      graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    }
    // every row the statement touched (update or insert), across leaves
    def distinctTouched(path: String): Long = {
      val touched = graft.io.ParquetTable.read(spark, path)
        .where(col("updated_at") =!= lit(seedTs))
      assert(touched.select("day").distinct().count() >= 2,
        "the touched rows must span multiple leaves for this to prove " +
          "anything")
      touched.select("updated_at").distinct().count()
    }
    val source = Seq(1L, 2L, 40L, 41L).toDF("id")

    val p1 = tmp("clock_scala")
    seed(p1)
    ConditionalMerge(spark, p1, source, Seq("id"))
      .whenMatchedUpdate(set = Map("updated_at" -> current_timestamp()))
      .whenNotMatchedInsert(values = Map("id" -> col("source.id"),
        "updated_at" -> current_timestamp(), "day" -> lit("d9")))
      .execute()
    assert(distinctTouched(p1) === 1L,
      "one statement, one instant — even across per-leaf routed writes")

    val p2 = tmp("clock_sql")
    seed(p2)
    source.createOrReplaceTempView("cm_clock_src")
    spark.sql(
      s"""MERGE INTO graft.`$p2` t USING cm_clock_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET updated_at = current_timestamp()
         |WHEN NOT MATCHED THEN
         |  INSERT (id, updated_at, day) VALUES (s.id, current_timestamp(), 'd9')
         |""".stripMargin).collect(): Unit
    assert(distinctTouched(p2) === 1L, "the SQL spelling pins too")
  }

  test("nondeterministic clause conditions and SET/VALUES refuse " +
       "loudly (separate jobs would see different draws)") {
    val path = tmp("nondet_merge")
    writeTable(path)
    val e1 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenMatchedDelete(Some(rand() < lit(2.0)))
        .execute()
    }
    assert(e1.getMessage.contains("nondeterministic"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenMatchedUpdate(set = Map("amt" -> (rand() * 100)))
        .execute()
    }
    assert(e2.getMessage.contains("nondeterministic"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenNotMatchedInsert(values = Map("id" -> col("source.id"),
          "amt" -> rand()))
        .execute()
    }
    assert(e3.getMessage.contains("nondeterministic"), e3.getMessage)
  }

  test("an EVOLVING merge racing a concurrent schema change ABORTS " +
       "(the no-new-files rule) — landing both could brick merged reads") {
    import spark.implicits._
    val path = tmp("evolve_race")
    writeTable(path)
    // a concurrent ALTER lands 'extra_col' STRING inside the evolving
    // merge's commit window; the merge would add it as DOUBLE — the
    // merge must abort, not land the conflict. The merge evolves only
    // the columns its clauses write (updateAll writes extra_col), and
    // its ADD COLUMNS commits before the rows under the no-new-files
    // rule
    FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.TableDdl.addColumns(spark, path, Seq(
        org.apache.spark.sql.types.StructField("extra_col",
          org.apache.spark.sql.types.StringType))): Unit
    }
    val e = intercept[Exception] {
      ConditionalMerge(spark, path,
        src.withColumn("extra_col", lit(1.0)), Seq("id"))
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .execute()
    }
    // the ADD COLUMNS loses the no-new-files check, and its retry
    // revalidates against the winner's schema
    assert(e.getMessage.contains("column 'extra_col' already exists"),
      e.getMessage)
    // the winner's STRING evolution is intact and the table reads
    val got = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(got.schema("extra_col").dataType ===
      org.apache.spark.sql.types.StringType)
  }

  test("a nondeterministic SOURCE PLAN refuses too — the probe, the " +
       "clause joins, and the routed writes re-evaluate the source") {
    import spark.implicits._
    val path = tmp("nondet_source")
    writeTable(path)
    val e = intercept[IllegalArgumentException] {
      ConditionalMerge(spark, path, src.withColumn("amt", rand() * 100),
        Seq("id"))
        .whenMatchedUpdate(set = Map("amt" -> col("source.amt")))
        .execute()
    }
    assert(e.getMessage.contains("source plan is nondeterministic"),
      e.getMessage)
    // a deterministic source still merges
    ConditionalMerge(spark, path, src, Seq("id"))
      .whenMatchedUpdate(set = Map("amt" -> col("source.amt")))
      .execute(): Unit
  }

  test("clock calls INSIDE the source plan pin to the statement " +
       "instant: one distinct timestamp across every routed leaf") {
    import spark.implicits._
    import org.apache.spark.sql.types.TimestampType
    val path = tmp("src_clock")
    graft.io.ParquetTable.write(
      (1 to 20).map(i => (i.toLong, s"d${i % 2}")).toDF("id", "day")
        .withColumn("ts", lit(null).cast(TimestampType)),
      path, partitionBy = Seq("day"))
    val source = (101 to 140).map(i => (i.toLong, s"d${i % 2}"))
      .toDF("id", "day").withColumn("ts", current_timestamp())
    ConditionalMerge(spark, path, source, Seq("id"))
      .whenNotMatchedInsert(values = Map("id" -> col("source.id"),
        "day" -> col("source.day"), "ts" -> col("source.ts")))
      .execute(): Unit
    val distinctTs = graft.io.ParquetTable.read(spark, path)
      .where(col("ts").isNotNull).select("ts").distinct().count()
    assert(distinctTs === 1L,
      "one statement, one instant, even through the source plan")
  }

  test("20 000 distinct keys in one of 32 range parts plan that one file " +
       "on both strategies: ConditionalMerge, merge, deleteByKey") {
    // spark.range slices are contiguous: part p holds ids
    // [p·20 000, (p+1)·20 000)
    val path = tmp("probe_20k")
    spark.range(0L, 640000L, 1L, 32)
      .select(col("id"), (col("id") % 7).cast("double").as("amt"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    def keys(p: Int) = spark.range(p * 20000L, (p + 1) * 20000L).toDF()
    def source(p: Int) = keys(p).select(col("id"), lit(-1.0).as("amt"))
    def clause(p: Int) = ConditionalMerge(spark, path, source(p), Seq("id"))
      .whenMatchedUpdate(set = Map("amt" -> col("source.amt")))
    // each run keys its own part, so an earlier run's output never
    // shares a key range with a later run's keys
    val runs: Seq[(String, () => FeatherMutations.Result)] = Seq(
      "ConditionalMerge.execute" -> (() => clause(3).execute()),
      "ConditionalMerge.executeDV" -> (() => clause(5).executeDV()),
      "merge" -> (() =>
        FeatherMutations.merge(spark, path, source(7), Seq("id"))),
      "mergeDV" -> (() =>
        FeatherMutations.mergeDV(spark, path, source(9), Seq("id"))),
      "deleteByKey" -> (() =>
        FeatherMutations.deleteByKey(spark, path, keys(11), Seq("id"))),
      "deleteByKeyDV" -> (() =>
        FeatherMutations.deleteByKeyDV(spark, path, keys(13), Seq("id"))))
    runs.foreach { case (what, run) =>
      val r = run()
      assert(r.filesPlanned === 1, s"$what must plan its one part: $r")
      assert(r.filesTouched === 1, s"$what must change its one part: $r")
    }
    val back = spark.read.format("feather").load(path)
    assert(back.count() === 640000L - 40000L)
    assert(back.where(col("amt") === -1.0).count() === 80000L)
  }
}
