package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.FeatherMutations
import graft.sources.FeatherSnapshots

/** Row-level DELETE / MERGE on snapshotted feather tables: copy-on-write
  * semantics, skipping-index file pruning, time travel across mutations,
  * idempotent re-merge, and the expire() reclamation path. */
class FeatherMutationsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_feather_mut/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 1..n as (id, grp, payload), range-clustered into `parts` files so the
    * skipping index carries disjoint id ranges per part. */
  private def writeTable(path: String, n: Int, parts: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"g${i % 3}", s"p_$i")).toDF("id", "grp", "pay")
      .repartitionByRange(parts, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }
  private def keysOf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("id")
  }

  test("deleteByKey drops exactly the keyed rows and prunes by file range") {
    val path = tmp("delete_basic")
    writeTable(path, 1000, 8) // ~disjoint 125-id ranges per part
    val r = FeatherMutations.deleteByKey(spark, path,
      keysOf(Seq(10L, 11L, 12L, 990L)), Seq("id"))
    assert(r.version === 2L)
    // keys 10-12 and 990 live in two of the eight range-clustered parts
    assert(r.filesPlanned === 2, s"expected 2 planned, got $r")
    assert(r.filesTouched === 2, s"expected 2 touched, got $r")
    assert(r.filesKept === 6)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 996)
    assert(after.where(col("id").isin(10L, 11L, 12L, 990L)).count() === 0)
    // untouched survivors intact
    assert(after.where(col("id") === 500L).count() === 1)
  }

  test("time travel: the pre-delete version still shows the deleted rows") {
    val path = tmp("delete_tt")
    writeTable(path, 200, 2)
    FeatherMutations.deleteByKey(spark, path, keysOf(Seq(1L, 2L)), Seq("id"))
    val v1 = spark.read.format("feather").option("versionAsOf", "1").load(path)
    assert(v1.count() === 200)
    assert(v1.where(col("id") <= 2).count() === 2)
    val v2 = spark.read.format("feather").load(path)
    assert(v2.count() === 198)
  }

  test("untouched files carry through the manifest byte-identical") {
    val path = tmp("delete_carry")
    writeTable(path, 1000, 8)
    val fs = fsOf(path)
    val before = FeatherSnapshots.read(fs, new Path(path), 1L).files.toMap
    FeatherMutations.deleteByKey(spark, path, keysOf(Seq(5L)), Seq("id"))
    val after = FeatherSnapshots.read(fs, new Path(path), 2L).files.toMap
    val kept = before.keySet.intersect(after.keySet)
    assert(kept.size === 7, "exactly one file touched")
    kept.foreach(k => assert(before(k) === after(k), s"$k length changed"))
  }

  /** The sink has no partitionBy: hive layouts are written leaf-by-leaf
    * and ADOPTED into the snapshot tier (the no-rewrite migration path). */
  private def writePartitioned(path: String, n: Int): Unit = {
    import spark.implicits._
    val df = (1 to n).map(i => (i.toLong, s"d${i % 3}", s"p_$i"))
      .toDF("id", "dom", "pay")
    Seq("d0", "d1", "d2").foreach { dm =>
      graft.io.GraftFeather.write(
        df.where(col("dom") === dm).drop("dom").repartition(1),
        s"$path/dom=$dm", overwrite = true)
    }
    FeatherSnapshots.adopt(fsOf(path), new Path(path)): Unit
  }

  test("delete on a hive-partitioned adopted table rewrites per leaf") {
    val path = tmp("delete_part")
    writePartitioned(path, 300)
    val r = FeatherMutations.deleteByKey(spark, path,
      keysOf(Seq(3L, 6L)), Seq("id")) // both in dom=d0
    assert(r.version === 2L)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 298)
    assert(after.where(col("dom") === "d0").count() === 98)
    assert(after.where(col("dom") === "d1").count() === 100)
  }

  test("composite-key delete anti-joins on the full tuple") {
    val path = tmp("delete_comp")
    writeTable(path, 100, 2)
    import spark.implicits._
    // (10,g1) matches the real row id=10 grp=g1; (11,g0) matches nothing
    val keys = Seq((10L, "g1"), (11L, "g0")).toDF("id", "grp")
    FeatherMutations.deleteByKey(spark, path, keys, Seq("id", "grp"))
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 99)
    assert(after.where(col("id") === 11L).count() === 1)
  }

  test("deleting every row leaves a readable empty table with its schema") {
    val path = tmp("delete_all")
    writeTable(path, 50, 2)
    FeatherMutations.deleteByKey(spark, path, keysOf((1L to 50L)), Seq("id"))
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 0)
    assert(after.columns.toSeq === Seq("id", "grp", "pay"))
  }

  test("merge replaces matched rows and inserts unmatched ones") {
    val path = tmp("merge_basic")
    writeTable(path, 100, 4)
    import spark.implicits._
    val src = Seq(
      (10L, "gX", "updated_10"),  // update
      (20L, "gX", "updated_20"),  // update
      (101L, "gX", "new_101"))    // insert
      .toDF("id", "grp", "pay")
    val r = FeatherMutations.merge(spark, path, src, Seq("id"))
    assert(r.version === 2L)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 101)
    assert(after.where(col("id") === 10L).select("pay").head().getString(0)
      === "updated_10")
    assert(after.where(col("id") === 101L).count() === 1)
    assert(after.where(col("id") === 50L).select("pay").head().getString(0)
      === "p_50") // untouched row intact
    // only files whose range covers 10/20/101 were rewritten
    assert(r.filesTouched < 4, s"expected pruning, got $r")
  }

  test("re-running the same merge is idempotent on content") {
    val path = tmp("merge_idem")
    writeTable(path, 60, 2)
    import spark.implicits._
    val src = Seq((5L, "gX", "u5"), (61L, "gX", "n61")).toDF("id", "grp", "pay")
    FeatherMutations.merge(spark, path, src, Seq("id"))
    val once = spark.read.format("feather").load(path)
      .orderBy("id").collect().toSeq
    val r2 = FeatherMutations.merge(spark, path, src, Seq("id"))
    assert(r2.version === 3L)
    val twice = spark.read.format("feather").load(path)
      .orderBy("id").collect().toSeq
    assert(once === twice)
  }

  test("merge into a pure-insert (no matches) appends without rewriting") {
    val path = tmp("merge_insert")
    writeTable(path, 100, 4)
    import spark.implicits._
    val src = Seq((200L, "gX", "n200"), (201L, "gX", "n201"))
      .toDF("id", "grp", "pay")
    val r = FeatherMutations.merge(spark, path, src, Seq("id"))
    assert(r.filesTouched === 0, s"insert-only merge must touch nothing: $r")
    assert(r.filesPlanned === 0, s"keys above every range plan no file: $r")
    assert(r.filesKept === 4)
    assert(spark.read.format("feather").load(path).count() === 102)
  }

  test("expire() after a mutation physically reclaims the retired files") {
    val path = tmp("mut_expire")
    writeTable(path, 100, 4)
    val fs = fsOf(path)
    val v1Files = FeatherSnapshots.read(fs, new Path(path), 1L).files.map(_._1)
    val r = FeatherMutations.deleteByKey(spark, path, keysOf(Seq(1L)), Seq("id"))
    assert(r.filesTouched === 1)
    val (snapsGone, filesGone) =
      FeatherSnapshots.expire(fs, new Path(path), keepLast = 1)
    assert(snapsGone === 1)
    assert(filesGone === 1, "exactly the touched v1 part is reclaimed")
    // table still reads correctly from the kept version
    assert(spark.read.format("feather").load(path).count() === 99)
    // and the touched v1 part is physically gone
    val v2Files = FeatherSnapshots.read(fs, new Path(path), 2L).files.map(_._1).toSet
    v1Files.filterNot(v2Files).foreach { rel =>
      assert(!fs.exists(new Path(path, rel)), s"$rel should be deleted")
    }
  }

  test("merge on a partitioned table routes inserts to their leaves") {
    val path = tmp("merge_part_route")
    writePartitioned(path, 30) // ids 1..30, dom = d(i%3); leaves hold (id, pay)
    import spark.implicits._
    val src = Seq(
      (3L, "d0", "p_3_v2"),  // replace in place (3 lives in dom=d0)
      (31L, "d1", "p_31"),   // insert into an existing leaf
      (100L, "d9", "p_100")  // insert into a NEW leaf
    ).toDF("id", "dom", "pay")
    FeatherMutations.merge(spark, path, src, Seq("id"))
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 32)
    val row3 = after.where(col("id") === 3L).collect()
    assert(row3.length === 1)
    assert(row3.head.getAs[String]("pay") === "p_3_v2")
    assert(row3.head.getAs[String]("dom") === "d0")
    assert(after.where(col("id") === 31L).head().getAs[String]("dom") === "d1")
    assert(after.where(col("id") === 100L).head().getAs[String]("dom") === "d9")
    // partition pruning still works over the mutated layout
    assert(after.where(col("dom") === "d9").count() === 1)
  }

  test("a matched key whose source row names a different partition moves") {
    val path = tmp("merge_part_move")
    writePartitioned(path, 30)
    import spark.implicits._
    val src = Seq((3L, "d2", "p_3_moved")).toDF("id", "dom", "pay")
    FeatherMutations.merge(spark, path, src, Seq("id"))
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 30)
    val row3 = after.where(col("id") === 3L).collect()
    assert(row3.length === 1, "the moved key must exist exactly once")
    assert(row3.head.getAs[String]("dom") === "d2")
    assert(row3.head.getAs[String]("pay") === "p_3_moved")
    // idempotent re-merge on a partitioned table
    FeatherMutations.merge(spark, path, src, Seq("id"))
    assert(spark.read.format("feather").load(path).count() === 30)
  }

  test("partitioned merge without the partition columns is loud; keying " +
       "on a partition column is loud") {
    val path = tmp("merge_part_err")
    writePartitioned(path, 30)
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      FeatherMutations.merge(spark, path,
        Seq((1L, "p_1")).toDF("id", "pay"), Seq("id"))
    }
    assert(e.getMessage.contains("partition columns"))
    val e2 = intercept[IllegalArgumentException] {
      FeatherMutations.merge(spark, path,
        Seq((1L, "d0", "p_1")).toDF("id", "dom", "pay"), Seq("dom"))
    }
    assert(e2.getMessage.contains("partition column"))
  }

  test("OPTIMIZE re-clusters an avro-face snapshot table") {
    val path = tmp("avro_cluster")
    import spark.implicits._
    (1 to 800).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
      .repartition(4, col("id")) // hash: every part spans the domain
      .write.format("graft-avro").mode("overwrite")
      .option("snapshots", "true").save(path)
    val r0 = FeatherMutations.deleteByKey(spark, path,
      (100L to 150L).toDF("id"), Seq("id"))
    assert(r0.filesTouched === 4, s"hash layout touches all parts: $r0")
    val rc = graft.io.FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 4 << 10)
    assert(rc.filesAfter > 1)
    val r1 = FeatherMutations.deleteByKey(spark, path,
      (200L to 250L).toDF("id"), Seq("id"))
    assert(r1.filesTouched < rc.filesAfter,
      s"clustered band must prune: $r1 of ${rc.filesAfter}")
    val after = spark.read.format("graft-avro").load(path)
    assert(after.count() === 800 - 51 - 51)
    assert(after.where(col("id").between(100L, 150L)).count() === 0)
    assert(after.where(col("id") === 300L).count() === 1)
  }

  /** Range-clustered snapshotted AVRO table, mirror of [[writeTable]]. */
  private def writeAvroTable(path: String, n: Int, parts: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"g${i % 3}", s"p_$i")).toDF("id", "grp", "pay")
      .repartitionByRange(parts, col("id"))
      .write.format("graft-avro").mode("overwrite")
      .option("snapshots", "true").save(path)
  }

  test("avro face: deleteByKey prunes by range and drops exactly the rows") {
    val path = tmp("avro_delete")
    writeAvroTable(path, 1000, 8)
    val r = FeatherMutations.deleteByKey(spark, path,
      keysOf(Seq(10L, 11L, 990L)), Seq("id"))
    assert(r.version === 2L)
    assert(r.filesTouched === 2, s"expected range pruning on avro stats: $r")
    val after = spark.read.format("graft-avro").load(path)
    assert(after.count() === 997)
    assert(after.where(col("id").isin(10L, 11L, 990L)).count() === 0)
    assert(after.where(col("id") === 500L).count() === 1)
    // time travel still shows the pre-delete state
    assert(spark.read.format("graft-avro").option("versionAsOf", "1")
      .load(path).count() === 1000)
  }

  test("avro face: merge replaces matched rows and inserts unmatched ones") {
    val path = tmp("avro_merge")
    writeAvroTable(path, 100, 2)
    import spark.implicits._
    val src = Seq(
      (50L, "gX", "p_50_new"),   // replaces
      (101L, "gY", "p_101")      // inserts
    ).toDF("id", "grp", "pay")
    val r = FeatherMutations.merge(spark, path, src, Seq("id"))
    assert(r.version === 2L)
    val after = spark.read.format("graft-avro").load(path)
    assert(after.count() === 101)
    assert(after.where(col("id") === 50L).head().getString(2) === "p_50_new")
    assert(after.where(col("id") === 101L).count() === 1)
    // idempotent on content
    FeatherMutations.merge(spark, path, src, Seq("id"))
    assert(spark.read.format("graft-avro").load(path).count() === 101)
  }

  test("avro face: applyCdc applies upserts and deletes in one commit") {
    val path = tmp("avro_cdc")
    writeAvroTable(path, 100, 2)
    import spark.implicits._
    val changes = Seq(
      (10L, "gC", "p_10_v2", Option.empty[Boolean]), // upsert (matched)
      (101L, "gC", "p_101", Option.empty[Boolean]),  // insert
      (20L, null, null, Option(true))                // delete
    ).toDF("id", "grp", "pay", "_deleted")
    FeatherMutations.applyCdc(spark, path, changes, Seq("id"))
    val after = spark.read.format("graft-avro").load(path)
    assert(after.count() === 100) // +1 insert, -1 delete
    assert(after.where(col("id") === 10L).head().getString(2) === "p_10_v2")
    assert(after.where(col("id") === 20L).count() === 0)
    assert(after.where(col("id") === 101L).count() === 1)
  }

  test("avro face: deleting every row leaves a readable empty table") {
    val path = tmp("avro_delete_all")
    writeAvroTable(path, 10, 1)
    FeatherMutations.deleteByKey(spark, path, keysOf((1L to 10L)), Seq("id"))
    val after = spark.read.format("graft-avro").load(path)
    assert(after.count() === 0)
    assert(after.columns.toSeq === Seq("id", "grp", "pay"))
  }

  test("mutation on a non-snapshotted directory fails loudly") {
    val path = tmp("mut_nosnap")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v")
      .write.format("feather").mode("overwrite").save(path)
    val e = intercept[IllegalArgumentException] {
      FeatherMutations.deleteByKey(spark, path, keysOf(Seq(1L)), Seq("id"))
    }
    assert(e.getMessage.contains("snapshots"))
  }

  test("string keys prune on string ranges") {
    val path = tmp("delete_str")
    import spark.implicits._
    (1 to 400).map(i => (f"doc_$i%04d", i)).toDF("doc", "n")
      .repartitionByRange(4, col("doc"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val r = FeatherMutations.deleteByKey(spark, path,
      Seq("doc_0001", "doc_0002").toDF("doc"), Seq("doc"))
    assert(r.filesTouched === 1, s"string range pruning failed: $r")
    assert(spark.read.format("feather").load(path).count() === 398)
  }

  test("applyCdc applies upserts and deletes in one atomic commit") {
    val path = tmp("cdc_basic")
    writeTable(path, 100, 4)
    import spark.implicits._
    val changes = Seq(
      (10L, "gX", "upd_10", false),   // update
      (101L, "gX", "new_101", false), // insert
      (20L, null, null, true),        // delete
      (999L, null, null, true))       // delete of an absent key: no-op
      .toDF("id", "grp", "pay", "_deleted")
    val r = FeatherMutations.applyCdc(spark, path, changes, Seq("id"))
    assert(r.version === 2L)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 100L) // +1 insert, -1 delete
    assert(after.where(col("id") === 20L).count() === 0)
    assert(after.where(col("id") === 10L).select("pay").head().getString(0)
      === "upd_10")
    assert(after.where(col("id") === 101L).count() === 1)
  }

  test("applyCdc treats a null tombstone as live") {
    val path = tmp("cdc_null_flag")
    writeTable(path, 20, 1)
    import spark.implicits._
    val changes = Seq((5L, "gX", "upd_5", null.asInstanceOf[java.lang.Boolean]))
      .toDF("id", "grp", "pay", "_deleted")
    FeatherMutations.applyCdc(spark, path, changes, Seq("id"))
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 20)
    assert(after.where(col("id") === 5L).select("pay").head().getString(0)
      === "upd_5")
  }

  test("foreachBatch CDC sink: streamed change batches land atomically; " +
      "a replayed batch leaves content unchanged") {
    val path = tmp("cdc_stream")
    writeTable(path, 50, 2)
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Boolean)](spark)
    val captured = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val q = input.toDF().toDF("id", "grp", "pay", "_deleted")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        captured += batch.persist()
        FeatherMutations.applyCdc(spark, path, batch, Seq("id")): Unit
      }
      .start()
    try {
      input.addData((3L, "gX", "s_upd_3", false), (7L, "", "", true))
      q.processAllAvailable()
      input.addData((51L, "gX", "s_new_51", false))
      q.processAllAvailable()
    } finally q.stop()
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 50) // -1 delete +1 insert
    assert(after.where(col("id") === 7L).count() === 0)
    assert(after.where(col("id") === 3L).select("pay").head().getString(0)
      === "s_upd_3")
    assert(after.where(col("id") === 51L).count() === 1)
    // crash-replay: re-apply the LAST batch; content must not change
    val before = after.orderBy("id").collect().toSeq
    FeatherMutations.applyCdc(spark, path, captured.last, Seq("id"))
    val replayed = spark.read.format("feather").load(path)
      .orderBy("id").collect().toSeq
    assert(replayed === before)
    captured.foreach(_.unpersist())
  }

  test("mutating a schema-evolved table keeps every generation's columns") {
    val path = tmp("evolved_mut")
    import spark.implicits._
    (1 to 40).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val fs = fsOf(path)
    val parts = graft.io.GraftFeather.writeParts(
      (41 to 60).map(i => (i.toLong, s"p_$i", "de")).toDF("id", "pay", "lang")
        .repartition(1), path, "gen2")
    FeatherSnapshots.commit(fs, new Path(path), "append") { parent =>
      parent ++ parts.map { case (n, len, _) => (n, len) }
    }
    // keys span BOTH generations: the rewrite must carry `lang` through
    FeatherMutations.deleteByKey(spark, path,
      keysOf(Seq(1L, 50L)), Seq("id"))
    val after = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(after.count() === 58)
    assert(after.columns.toSeq === Seq("id", "pay", "lang"))
    assert(after.where(col("id") === 45L).select("lang").head().getString(0)
      === "de") // evolved column survived the copy-on-write rewrite
    assert(after.where(col("id") === 10L).select("lang").head().isNullAt(0))
  }

  test("merge with a type-mismatched source fails loudly before writing") {
    val path = tmp("merge_type_err")
    writeTable(path, 20, 1)
    import spark.implicits._
    val src = Seq(("5", "gX", "u5")).toDF("id", "grp", "pay") // id as string
    val e = intercept[IllegalArgumentException] {
      FeatherMutations.merge(spark, path, src, Seq("id"))
    }
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("cast"))
    // nothing committed
    assert(FeatherSnapshots.latestVersion(fsOf(path), new Path(path))
      === Some(1L))
  }

  test("partitioned delete-all keeps the hive layout and partition column") {
    val path = tmp("delete_all_part")
    writePartitioned(path, 30) // doms d0/d1/d2, ids 1..30
    FeatherMutations.deleteByKey(spark, path, keysOf(1L to 30L), Seq("id"))
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 0)
    // the per-leaf stamps preserved the key=value paths → `dom` survives
    assert(after.columns.contains("dom"))
  }

  test("null keys never match (SQL equality semantics)") {
    val path = tmp("delete_null")
    writeTable(path, 20, 1)
    import spark.implicits._
    val keys = Seq(Some(5L), None).toDF("id")
    FeatherMutations.deleteByKey(spark, path, keys, Seq("id"))
    assert(spark.read.format("feather").load(path).count() === 19)
  }

  test("merge whose touched files all predate an evolved column null-fills " +
       "the survivors instead of failing") {
    val path = tmp("merge_evolved_touch")
    import spark.implicits._
    // gen1 (id, pay) range [1,40]; gen2 (id, pay, lang) range [41,60] —
    // a merge keyed inside gen1's range touches ONLY pre-evolution files,
    // whose mergeSchema union lacks `lang`; survivors must project to the
    // FULL table schema (lang null-filled) so unionByName(source) holds.
    (1 to 40).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val fs = fsOf(path)
    val parts = graft.io.GraftFeather.writeParts(
      (41 to 60).map(i => (i.toLong, s"p_$i", "de")).toDF("id", "pay", "lang")
        .repartition(1), path, "gen2")
    FeatherSnapshots.commit(fs, new Path(path), "append") { parent =>
      parent ++ parts.map { case (n, len, _) => (n, len) }
    }
    val src = Seq((5L, "p_5_new", "fr")).toDF("id", "pay", "lang")
    val r = FeatherMutations.merge(spark, path, src, Seq("id"))
    assert(r.filesTouched === 1, s"expected only the gen1 part touched: $r")
    val after = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(after.count() === 60)
    val row5 = after.where(col("id") === 5L).collect()
    assert(row5.length === 1)
    assert(row5.head.getAs[String]("pay") === "p_5_new")
    assert(row5.head.getAs[String]("lang") === "fr")
    // other gen1 survivors carry null lang; gen2 untouched keeps "de"
    assert(after.where(col("id") === 6L).head().getAs[String]("lang") == null)
    assert(after.where(col("lang") === "de").count() === 20)
  }


  test("overlapping file ranges probe via interval stab, not a " +
       "BroadcastNestedLoopJoin") {
    val path = tmp("overlap_stab")
    import spark.implicits._
    // two UNCLUSTERED generations with overlapping id ranges per part:
    // gen A covers 1..1000 shuffled across 3 parts (each part's [min,max]
    // spans nearly the full range), gen B appends 2001..3000 shuffled
    (1 to 1000).map(i => (i.toLong, s"a_$i")).toDF("id", "pay")
      .repartition(3) // hash layout -> overlapping ranges
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    (2001 to 3000).map(i => (i.toLong, s"b_$i")).toDF("id", "pay")
      .repartition(3)
      .write.format("feather").mode("append")
      .option("snapshots", "true").save(path)
    // capture every action's physical plan during the delete: the probe
    // must not plan a BroadcastNestedLoopJoin
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // keys only in gen B's range: gen A parts ([1,1000]) must not touch
      val r = FeatherMutations.deleteByKey(spark, path,
        keysOf(Seq(2100L, 2500L, 2900L)), Seq("id"))
      assert(r.filesTouched <= 3,
        s"only gen B's overlapping parts may touch: $r")
      assert(r.filesKept >= 3, s"gen A parts must carry through: $r")
      // the execution-listener bus is async: wait until the captured-plan
      // count stabilizes (no public flush API)
      var last = -1
      var spins = 0
      while (plans.size() != last && spins < 60) {
        last = plans.size(); spins += 1; Thread.sleep(250)
      }
      import scala.jdk.CollectionConverters._
      assert(plans.asScala.nonEmpty, "listener captured no plans")
      plans.asScala.foreach(p =>
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"probe planned a BNLJ:\n$p"))
    } finally spark.listenerManager.unregister(listener)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 1997)
    assert(after.where(col("id").isin(2100L, 2500L, 2900L)).count() === 0)
    assert(after.where(col("id") === 500L).count() === 1)
    assert(after.where(col("id") === 2500L - 1).count() === 1)
  }

  test("overlapping ranges: keys on exact bounds and between generations") {
    val path = tmp("overlap_bounds")
    import spark.implicits._
    // carefully overlapping generations: [1,100], [50,150], [120,220]
    def gen(lo: Int, hi: Int, tag: String) =
      (lo to hi).map(i => (i.toLong, s"${tag}_$i")).toDF("id", "pay")
        .repartition(1)
    gen(1, 100, "g1").write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    gen(50, 150, "g2").write.format("feather").mode("append")
      .option("snapshots", "true").save(path)
    gen(120, 220, "g3").write.format("feather").mode("append")
      .option("snapshots", "true").save(path)
    // keys: a shared bound (50 in g1+g2), an exact hi (100), a g3-only
    // value (200), the global min (1) and max (220), and absent in-range
    // gaps are impossible here so use an out-of-range absent key (999)
    val r = FeatherMutations.deleteByKey(spark, path,
      keysOf(Seq(1L, 50L, 100L, 200L, 220L, 999L)), Seq("id"))
    assert(r.filesTouched === 3, s"all three generations hold keys: $r")
    val after = spark.read.format("feather").load(path)
    // 321 rows before (101 + 101 + 101 with duplicated overlap ids
    // counting per generation: 100 + 101 + 101 = 302? compute precisely)
    val expectGone = Seq(1L, 50L, 100L, 200L, 220L)
    expectGone.foreach(k =>
      assert(after.where(col("id") === k).count() === 0, s"id $k survived"))
    assert(after.where(col("id") === 51L).count() === 2,
      "overlap ids kept one copy per generation")
    assert(after.where(col("id") === 121L).count() === 2)
  }


  test("a retried COW delete is a TRUE no-op: the row-count proof " +
       "withdraws the rewrite and publishes no commit") {
    val path = tmp("cow_idempotent")
    import spark.implicits._
    (1 to 400).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val r1 = FeatherMutations.deleteByKey(spark, path,
      Seq(5L, 105L).toDF("id"), Seq("id"))
    assert(r1.version === 2L)
    // the keys sit INSIDE surviving files' min/max ranges, so pruning
    // cannot clear the retry — only the count proof stops an empty
    // op="delete" commit (which would abort live snapshot streams)
    val r2 = FeatherMutations.deleteByKey(spark, path,
      Seq(5L, 105L).toDF("id"), Seq("id"))
    assert(r2.version === 2L, s"retried delete must not commit: $r2")
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(FeatherSnapshots.latestVersion(fs, new Path(path)).get === 2L)
    assert(spark.read.format("feather").load(path).count() === 398)
    // the withdrawn rewrite's parts are cleaned up, not left as residue
    // (vacuum would shield them forever: mut-v3 targets a version newer
    // than the latest manifest)
    val leaked = fs.listStatus(new Path(path))
      .map(_.getPath.getName).filter(_.startsWith("mut-v00000003"))
    assert(leaked.isEmpty,
      s"withdrawn parts must be deleted: ${leaked.mkString(", ")}")
  }

  test("nested NON-hive layout: deleteByKey rewrites generically, merge " +
       "refuses loudly (nowhere to route inserts)") {
    val path = tmp("nested_nonhive")
    import spark.implicits._
    graft.io.GraftFeather.write(
      (1 to 50).map(i => (i.toLong, s"a_$i")).toDF("id", "pay")
        .repartition(1), s"$path/batch1", overwrite = true)
    graft.io.GraftFeather.write(
      (51 to 100).map(i => (i.toLong, s"b_$i")).toDF("id", "pay")
        .repartition(1), s"$path/batch2", overwrite = true)
    FeatherSnapshots.adopt(fsOf(path), new Path(path))
    def merge() = FeatherMutations.merge(spark, path,
      Seq((1L, "x")).toDF("id", "pay"), Seq("id"))
    val e = intercept[IllegalArgumentException](merge())
    assert(e.getMessage.contains("non-hive"))
    // the delete reads any layout
    val r = FeatherMutations.deleteByKey(spark, path,
      keysOf(Seq(5L, 60L)), Seq("id"))
    assert(r.version === 2L && r.filesTouched === 2)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 98)
    assert(after.where(col("id").isin(5L, 60L)).count() === 0)
    // both leaves held a key: the copy-on-write rewrite replaced each
    // leaf's one file with parts at the table root, so no nested
    // directory is left in the manifest
    val files = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.files.map(_._1)
    assert(files.nonEmpty && files.forall(!_.contains("/")),
      s"rewritten parts land at the root: ${files.mkString(", ")}")
    // so the refusal no longer applies: a flat table routes clause
    // output, and the merge runs
    assert(merge().version === 3L)
    val merged = spark.read.format("feather").load(path)
    assert(merged.count() === 98)
    assert(merged.where(col("id") === 1L).head().getString(1) === "x")
  }


  test("merge with evolveSchema adds the source's new column; without " +
       "the flag it stays loud") {
    val path = tmp("merge_evolve")
    writeTable(path, 60, 2) // (id, grp, pay)
    import spark.implicits._
    val src = Seq((5L, "gX", "p_5_v2", 0.9), (61L, "gY", "p_61", 0.1))
      .toDF("id", "grp", "pay", "score")
    val e = intercept[IllegalArgumentException] {
      FeatherMutations.merge(spark, path, src, Seq("id"))
    }
    assert(e.getMessage.contains("source columns"))
    FeatherMutations.merge(spark, path, src, Seq("id"), evolveSchema = true)
    val after = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(after.columns.contains("score"))
    assert(after.count() === 61)
    assert(after.where(col("id") === 5L).head().getAs[Double]("score") === 0.9)
    // untouched generations read the evolved column as null
    assert(after.where(col("score").isNull).count() === 59)
    // a later plain merge against the EVOLVED schema needs the column
    val e2 = intercept[IllegalArgumentException] {
      FeatherMutations.merge(spark, path,
        Seq((7L, "gZ", "p_7_v2")).toDF("id", "grp", "pay"), Seq("id"))
    }
    assert(e2.getMessage.contains("source columns"))
  }

  test("merge: two source rows on one matched key fail the statement " +
       "(MERGE_CARDINALITY_VIOLATION) and publish nothing") {
    val path = tmp("merge_dup")
    writeTable(path, 40, 2)
    import spark.implicits._
    val src = Seq((5L, "gX", "a"), (5L, "gY", "b"), (41L, "gZ", "n"))
      .toDF("id", "grp", "pay")
    Seq[() => FeatherMutations.Result](
        () => FeatherMutations.merge(spark, path, src, Seq("id")),
        () => FeatherMutations.mergeDV(spark, path, src, Seq("id")))
      .foreach { run =>
        val e = intercept[org.apache.spark.SparkThrowable](run())
        assert(e.getCondition === "MERGE_CARDINALITY_VIOLATION")
      }
    assert(FeatherSnapshots.latestVersion(fsOf(path), new Path(path))
      === Some(1L))
    // duplicates among UNMATCHED keys insert, as an INSERT would
    FeatherMutations.merge(spark, path,
      Seq((50L, "gX", "a"), (50L, "gY", "b")).toDF("id", "grp", "pay"),
      Seq("id"))
    assert(spark.read.format("feather").load(path)
      .where(col("id") === 50L).count() === 2)
  }

  test("a merge or CDC batch that changes nothing publishes no version") {
    val path = tmp("noop_batches")
    writeTable(path, 40, 2)
    import spark.implicits._
    val fs = fsOf(path)
    def head = FeatherSnapshots.latestVersion(fs, new Path(path)).get
    // an empty upsert batch
    val empty = Seq.empty[(Long, String, String)].toDF("id", "grp", "pay")
    assert(FeatherMutations.merge(spark, path, empty, Seq("id")).version
      === 1L)
    // tombstones for absent keys, copy-on-write and merge-on-read
    val gone = Seq((99L, null: String, null: String, true))
      .toDF("id", "grp", "pay", "_deleted")
    val r = FeatherMutations.applyCdc(spark, path, gone, Seq("id"))
    assert(r.version === 1L && r.filesTouched === 0, s"got $r")
    assert(FeatherMutations.applyCdcDV(spark, path, gone, Seq("id")).version
      === 1L)
    assert(head === 1L)
    assert(spark.read.format("feather").load(path).count() === 40)
  }

  test("a merge evaluates its source once: the key probe and both " +
       "strategies' reads share one pinned evaluation") {
    Seq(false, true).foreach { dv =>
      val path = tmp(s"source_once_$dv")
      writeTable(path, 40, 2)
      // deterministic, so the merge accepts it; counts every evaluation
      val evals = spark.sparkContext.longAccumulator(s"source_evals_$dv")
      val tagged = udf { (id: Long) => evals.add(1); id }
      val src = spark.range(30, 50).select(tagged(col("id")).as("id"))
        .select(col("id"), concat(lit("g"), col("id") % 3).as("grp"),
          concat(lit("new_"), col("id")).as("pay"))
      val r =
        if (dv) FeatherMutations.mergeDV(spark, path, src, Seq("id"))
        else FeatherMutations.merge(spark, path, src, Seq("id"))
      assert(r.version === 2L, s"dv=$dv: $r")
      assert(evals.value === 20L,
        s"dv=$dv: the source ran ${evals.value / 20.0} times")
      val after = spark.read.format("feather").load(path)
      assert(after.count() === 49)
      assert(after.where(col("pay").startsWith("new_")).count() === 20)
      assert(src.storageLevel ===
        org.apache.spark.storage.StorageLevel.NONE, "unpinned after")
    }
  }

  test("an evolving merge commits its ADD COLUMNS first: a merge that " +
       "then fails leaves the new column and no row change") {
    val path = tmp("evolve_fail")
    writeTable(path, 40, 2)
    import spark.implicits._
    val dup = Seq((5L, "gX", "a", 0.5), (5L, "gY", "b", 0.7))
      .toDF("id", "grp", "pay", "score")
    val e = intercept[org.apache.spark.SparkThrowable] {
      FeatherMutations.merge(spark, path, dup, Seq("id"), evolveSchema = true)
    }
    assert(e.getCondition === "MERGE_CARDINALITY_VIOLATION")
    val fs = fsOf(path)
    assert(FeatherSnapshots.latestVersion(fs, new Path(path)) === Some(2L))
    val back = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(back.columns.toSeq === Seq("id", "grp", "pay", "score"))
    assert(back.count() === 40)
    assert(back.where(col("score").isNotNull).count() === 0)
    assert(back.where(col("id") === 5L).select("pay").head().getString(0)
      === "p_5")
  }

  test("applyCdc with evolveSchema adds the change batch's new columns, " +
       "never the tombstone") {
    val path = tmp("cdc_evolve")
    writeTable(path, 40, 2)
    import spark.implicits._
    val changes = Seq(
      (5L, "gX", "u5", Option(0.5), false),
      (6L, null: String, null: String, Option.empty[Double], true),
      (41L, "gN", "n41", Option(0.9), false))
      .toDF("id", "grp", "pay", "score", "_deleted")
    FeatherMutations.applyCdc(spark, path, changes, Seq("id"),
      evolveSchema = true)
    val back = spark.read.format("feather")
      .option("mergeSchema", "true").load(path)
    assert(back.columns.toSeq === Seq("id", "grp", "pay", "score"))
    assert(back.count() === 40)
    assert(back.where(col("id") === 6L).count() === 0)
    assert(back.where(col("id") === 5L).select("score").head()
      .getDouble(0) === 0.5)
    assert(back.where(col("id") === 41L).select("pay").head()
      .getString(0) === "n41")
  }
}
