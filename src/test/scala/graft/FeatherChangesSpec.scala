package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FeatherChanges, FeatherMutations}
import graft.sources.FeatherSnapshots

/** Batch CDF reads (FeatherChanges.readChanges): per-op change
  * semantics, rewrite cancellation, both faces, evolved schemas. */
class FeatherChangesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_feather_cdf/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }

  private def writeV(path: String, lo: Int, hi: Int, mode: String,
                     fmt: String = "feather"): Unit = {
    import spark.implicits._
    (lo to hi).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
      .repartitionByRange(2, col("id")).write.format(fmt).mode(mode)
      .option("snapshots", "true").save(path)
  }

  test("appends yield pure inserts; deletes yield exactly the dropped " +
       "rows; a merge yields old-image deletes plus new inserts") {
    val path = tmp("ops")
    import spark.implicits._
    writeV(path, 1, 100, "overwrite")  // v1
    writeV(path, 101, 120, "append")   // v2
    FeatherMutations.deleteByKey(spark, path,
      Seq(10L, 11L).toDF("id"), Seq("id"))  // v3
    FeatherMutations.merge(spark, path,
      Seq((50L, "n_50_v2"), (200L, "n_200")).toDF("id", "name"),
      Seq("id"))                            // v4
    val ch = FeatherChanges.readChanges(spark, path, 1L, 4L).cache()
    // v2: 20 inserts
    assert(ch.where(col("_commit_version") === 2L &&
      col("_change_type") === "insert").count() === 20)
    assert(ch.where(col("_commit_version") === 2L &&
      col("_change_type") === "delete").count() === 0)
    // v3: exactly the two dropped rows (survivor rewrites cancel)
    val d3 = ch.where(col("_commit_version") === 3L).collect()
    assert(d3.length === 2)
    assert(d3.forall(_.getAs[String]("_change_type") == "delete"))
    assert(d3.map(_.getAs[Long]("id")).sorted.toSeq === Seq(10L, 11L))
    // v4: old image of 50 deleted, new 50 + brand-new 200 inserted
    val v4 = ch.where(col("_commit_version") === 4L)
    assert(v4.where(col("_change_type") === "delete").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).toSeq ===
      Seq((50L, "n_50")))
    assert(v4.where(col("_change_type") === "insert").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).sorted.toSeq ===
      Seq((50L, "n_50_v2"), (200L, "n_200")))
    ch.unpersist()
  }

  test("compaction and clustering contribute no changes") {
    val path = tmp("rewrites")
    writeV(path, 1, 50, "overwrite")   // v1
    writeV(path, 51, 60, "append")     // v2
    assert(graft.io.FeatherCompact.compact(spark, path,
      targetBytes = 1L << 30).groupsRewritten >= 1) // v3
    graft.io.FeatherCluster.cluster(spark, path, Seq("id")) // v4
    val ch = FeatherChanges.readChanges(spark, path, 2L, 4L)
    assert(ch.count() === 0, "row-preserving rewrites are not changes")
  }

  test("an overwrite is a full replace, with identical rows canceling") {
    val path = tmp("overwrite")
    writeV(path, 1, 30, "overwrite")   // v1
    writeV(path, 21, 40, "overwrite")  // v2: 21..30 identical content
    val ch = FeatherChanges.readChanges(spark, path, 1L, 2L)
    // deletes: 1..20 (21..30 cancel); inserts: 31..40
    assert(ch.where(col("_change_type") === "delete").count() === 20)
    assert(ch.where(col("_change_type") === "insert").count() === 10)
    assert(ch.where(col("_change_type") === "insert")
      .agg(min(col("id"))).head().getLong(0) === 31L)
  }

  test("avro face serves the same change feed") {
    val path = tmp("avro")
    import spark.implicits._
    writeV(path, 1, 50, "overwrite", fmt = "graft-avro")  // v1
    FeatherMutations.deleteByKey(spark, path,
      Seq(5L).toDF("id"), Seq("id"))  // v2
    val ch = FeatherChanges.readChanges(spark, path, 1L, 2L).collect()
    assert(ch.length === 1)
    assert(ch.head.getAs[Long]("id") === 5L)
    assert(ch.head.getAs[String]("_change_type") === "delete")
  }

  test("evolved generations null-fill across the change feed") {
    val path = tmp("evolved")
    import spark.implicits._
    writeV(path, 1, 20, "overwrite")  // v1 (id, name)
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val parts = graft.io.GraftFeather.writeParts(
      (21 to 30).map(i => (i.toLong, s"n_$i", "de")).toDF("id", "name", "lang")
        .repartition(1), path, "gen2")
    FeatherSnapshots.commit(fs, new Path(path), "append") { parent =>
      parent ++ parts.map { case (n, len, _) => (n, len) }
    } // v2: evolved append
    val ch = FeatherChanges.readChanges(spark, path, 1L, 2L)
    assert(ch.columns.contains("lang"))
    assert(ch.count() === 10)
    assert(ch.where(col("lang") === "de").count() === 10)
  }

  test("a range reaching into expired history is loud") {
    val path = tmp("expired")
    writeV(path, 1, 10, "overwrite")
    writeV(path, 11, 20, "append")
    writeV(path, 21, 30, "append")
    FeatherSnapshots.expire(new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(path), keepLast = 1)
    val e = intercept[Exception] {
      FeatherChanges.readChanges(spark, path, 1L, 3L).count()
    }
    assert(e.getMessage.contains("expired or never committed"))
  }

  test("fromVersion 0 bootstraps with the creation rows as inserts") {
    val path = tmp("bootstrap")
    import spark.implicits._
    writeV(path, 1, 30, "overwrite")  // v1
    FeatherMutations.deleteByKey(spark, path,
      Seq(1L).toDF("id"), Seq("id"))  // v2
    val ch = FeatherChanges.readChanges(spark, path, 0L, 2L)
    assert(ch.where(col("_commit_version") === 1L &&
      col("_change_type") === "insert").count() === 30)
    assert(ch.where(col("_commit_version") === 2L &&
      col("_change_type") === "delete").count() === 1)
    // a consumer replaying the feed reconstructs the head exactly
    val replayed = ch.groupBy("id", "name")
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("n"))
      .where(col("n") > 0)
    assert(replayed.count() === 29)
  }

  test("hive partitions: the feed carries partition columns and a " +
       "cross-partition move does not cancel") {
    val path = tmp("hive_move")
    import spark.implicits._
    // hive layout via per-leaf writes + adopt (dom is path-only)
    graft.io.GraftFeather.write(
      Seq((1L, "p_1"), (2L, "p_2")).toDF("id", "pay").repartition(1),
      s"$path/dom=a", overwrite = true)
    graft.io.GraftFeather.write(
      Seq((3L, "p_3")).toDF("id", "pay").repartition(1),
      s"$path/dom=b", overwrite = true)
    FeatherSnapshots.adopt(new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration), new Path(path)) // v1
    // move id=2 from dom=a to dom=b with UNCHANGED data columns
    FeatherMutations.merge(spark, path,
      Seq((2L, "b", "p_2")).toDF("id", "dom", "pay"), Seq("id")) // v2
    val ch = FeatherChanges.readChanges(spark, path, 1L, 2L)
    assert(ch.columns.contains("dom"),
      "the feed must carry the partition column")
    val rows = ch.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[String]("dom"), r.getAs[String]("_change_type"))).toSet
    assert(rows === Set((2L, "a", "delete"), (2L, "b", "insert")),
      s"a partition move is delete+insert, got ${rows.mkString(", ")}")
  }


  test("changesSince drives an incremental-ETL loop") {
    val path = tmp("since")
    import spark.implicits._
    writeV(path, 1, 20, "overwrite") // v1
    val (c0, v0) = FeatherChanges.changesSince(spark, path, 0L)
    assert(v0 === 1L)
    assert(c0.where(col("_change_type") === "insert").count() === 20)
    // nothing new: empty frame, same checkpoint
    val (c1, v1) = FeatherChanges.changesSince(spark, path, v0)
    assert(v1 === 1L && c1.count() === 0)
    FeatherMutations.deleteByKey(spark, path, Seq(3L).toDF("id"), Seq("id"))
    writeV(path, 21, 25, "append")
    val (c2, v2) = FeatherChanges.changesSince(spark, path, v1)
    assert(v2 === 3L)
    assert(c2.where(col("_change_type") === "delete").count() === 1)
    assert(c2.where(col("_change_type") === "insert").count() === 5)
    // a checkpoint AHEAD of the head (dropped-and-rebuilt table, or a
    // checkpoint from another table) is loud, never a silent regression
    val e = intercept[IllegalArgumentException] {
      FeatherChanges.changesSince(spark, path, 99L)
    }
    assert(e.getMessage.contains("ahead"))
  }

  test("streaming CDF (format feather-cdf): append, DV delete, and merge " +
       "mid-stream arrive as row-level changes; exactly-once across a " +
       "restart") {
    val path = tmp("cdf_stream")
    import spark.implicits._
    writeV(path, 1, 200, "overwrite") // v1
    val ckpt = tmp("cdf_stream_ckpt")
    val out = tmp("cdf_stream_out")
    // a parquet sink (unlike memory) supports checkpoint recovery — the
    // restart half of this test needs it
    def start() =
      spark.readStream.format("feather-cdf").load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    def feed() = spark.read.parquet(out)
    val q = start()
    try {
      q.processAllAvailable()
      assert(feed().count() === 200, "bootstrap: the whole table as inserts")
      assert(feed().where(col("_change_type") =!= "insert").count() === 0)
      assert(feed().where(col("_commit_version") =!= 1L).count() === 0)
      // append (v2), DV delete (v3), merge (v4) — ALL stream, where the
      // plain snapshot stream would refuse the mutations
      writeV(path, 201, 210, "append")
      FeatherMutations.deleteByKeyDV(spark, path,
        Seq(5L, 6L).toDF("id"), Seq("id"))
      FeatherMutations.merge(spark, path,
        Seq((10L, "MERGED")).toDF("id", "name"), Seq("id"))
      q.processAllAvailable()
      val t1 = feed()
      assert(t1.where(col("_commit_version") === 2L)
        .agg(count(lit(1)), min(col("id"))).head().toSeq === Seq(10L, 201L))
      assert(t1.where(col("_commit_version") === 3L)
        .select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
        Seq((5L, "delete"), (6L, "delete")))
      val mergeStep = t1.where(col("_commit_version") === 4L)
        .select("id", "name", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      assert(mergeStep === Seq((10L, "MERGED", "insert"),
        (10L, "n_10", "delete")),
        s"a merge is its old-image delete + new insert, got $mergeStep")
    } finally q.stop()
    // restart from the SAME checkpoint: committed versions never
    // re-deliver (exactly-once by manifest immutability) — the sink
    // gains exactly the post-checkpoint delta, no duplicates
    FeatherMutations.deleteByKey(spark, path, Seq(7L).toDF("id"), Seq("id"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val t2 = feed()
      assert(t2.count() === 200 + 10 + 2 + 2 + 1,
        "no batch re-delivered across the restart")
      assert(t2.where(col("_commit_version") === 5L)
        .select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((7L, "delete")),
        "the restarted stream delivers exactly the post-checkpoint delta")
    } finally q2.stop()
  }

  test("streaming CDF: startingVersion=latest skips the bootstrap") {
    val path = tmp("cdf_latest")
    import spark.implicits._
    writeV(path, 1, 100, "overwrite") // v1
    val q = spark.readStream.format("feather-cdf")
      .option("startingVersion", "latest").load(path)
      .writeStream.format("memory").queryName("cdf_latest_t")
      .option("checkpointLocation", tmp("cdf_latest_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_latest_t").count() === 0,
        "no bootstrap under startingVersion=latest")
      writeV(path, 101, 103, "append") // v2
      q.processAllAvailable()
      assert(spark.table("cdf_latest_t").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(101L, 102L, 103L))
    } finally q.stop()
  }

  test("streaming CDF: pre-start narrowed history bootstraps in the " +
       "head schema (no wedge), a compact-only batch is empty, and a " +
       "true mid-stream widening still fails loudly") {
    val path = tmp("cdf_narrowed")
    import spark.implicits._
    (1 to 30).map(i => (i.toLong, s"n_$i", "de")).toDF("id", "name", "lang")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path) // v1: (id, name, lang)
    (31 to 40).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
      .repartition(3).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path) // v2: NARROWED overwrite
    val q = spark.readStream.format("feather-cdf").load(path)
      .writeStream.format("memory").queryName("cdf_narrow_t")
      .option("checkpointLocation", tmp("cdf_narrow_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      // the bootstrap range carries the since-dropped `lang`: it must
      // project away (fixed head schema), never wedge the stream
      val t = spark.table("cdf_narrow_t")
      assert(!t.columns.contains("lang"))
      assert(t.count() === 30 + 30 + 10,
        "v1 inserts + overwrite's 30 deletes + 10 inserts")
      // mid-stream compaction: the version advances, the batch is pure
      // shape (served from the stream's fixed schema, no footer sweep)
      graft.io.FeatherCompact.compact(spark, path, targetBytes = 64 << 20)
      q.processAllAvailable()
      assert(spark.table("cdf_narrow_t").count() === 70,
        "compaction contributes no changes")
      // a genuine post-start widening is still LOUD
      val fs = new Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val parts = graft.io.GraftFeather.writeParts(
        Seq((41L, "n_41", 9.9)).toDF("id", "name", "score")
          .repartition(1), path, "gen-wide")
      FeatherSnapshots.commit(fs, new Path(path), "append") { parent =>
        parent ++ parts.map { case (n, len, _) => (n, len) }
      }
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage.contains("evolved mid-stream") ||
        Option(e.getCause).exists(_.getMessage.contains("evolved mid-stream")),
        s"widening must fail loudly, got: ${e.getMessage}")
    } finally q.stop()
  }

  test("streaming CDF: a restart ACROSS a narrowing overwrite does not " +
       "wedge — the dropped column's delete rows flow, projected") {
    val path = tmp("cdf_narrow_restart")
    import spark.implicits._
    (1 to 20).map(i => (i.toLong, s"n_$i", "de")).toDF("id", "name", "lang")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path) // v1: (id, name, lang)
    val ckpt = tmp("cdf_narrow_restart_ckpt")
    val outDir = tmp("cdf_narrow_restart_out")
    def start() = spark.readStream.format("feather-cdf").load(path)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try { q.processAllAvailable() } finally q.stop()
    // while DOWN: a narrowing overwrite drops lang (v2). The restarted
    // stream re-derives its fixed schema from the new head — the batch
    // (1, 2] carries lang on its delete side, which must PROJECT (lang
    // is not live at v2), never throw: a throw here is unrecoverable,
    // since every restart re-derives the same langless schema
    (21 to 25).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
      .repartition(1).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path) // v2: narrowed
    val q2 = start()
    try {
      q2.processAllAvailable() // must not throw
      // run 1's sink files legitimately carry lang (its fixed schema
      // predates the narrowing), so the merged dir's columns are mixed;
      // the contract is that the restarted stream delivered v2's
      // changes in its own LANGLESS schema — assert per sink file
      val out = spark.read.parquet(outDir)
      assert(out.where(col("_commit_version") === 2L).count() === 20 + 5,
        "the narrowing overwrite's 20 deletes + 5 inserts flow")
      val v2Files = out.where(col("_commit_version") === 2L)
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(v2Files.nonEmpty)
      v2Files.foreach { f =>
        assert(!spark.read.parquet(f).columns.contains("lang"),
          s"run 2 must deliver v2 in the langless schema, but $f " +
            "carries lang")
      }
    } finally q2.stop()
  }

  test("a checkpoint never continues onto a REBUILT table: the " +
       "incarnation pin fails the restart loudly") {
    val path = tmp("cdf_rebuild")
    writeV(path, 1, 30, "overwrite") // v1, incarnation A
    val ckpt = tmp("cdf_rebuild_ckpt")
    val outDir = tmp("cdf_rebuild_out")
    def start() = spark.readStream.format("feather-cdf").load(path)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try { q.processAllAvailable() } finally q.stop()
    // drop and rebuild the table at the SAME path (new v1 commit ts):
    // continuing the old checkpoint would diff manifests across
    // incarnations — garbage presented as a change feed
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(path))
    Thread.sleep(15) // commit ts granularity is millis
    writeV(path, 1, 10, "overwrite") // incarnation B, same head version
    val q2 = start()
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("dropped and rebuilt")),
      s"rebuild must be loud, got: ${msgs(e).mkString(" | ")}")
  }

  test("startingVersion=latest is PINNED at first start: a restart " +
       "replays against the original start, never a re-resolved head") {
    val path = tmp("cdf_latest_pin")
    import spark.implicits._
    writeV(path, 1, 50, "overwrite") // v1 — the head "latest" resolves to
    val meta = tmp("cdf_latest_pin_meta")
    val provider = new graft.sources.FeatherCdfSourceProvider
    val params = Map("path" -> path, "startingVersion" -> "latest")
    val s1 = provider.createSource(spark.sqlContext, meta, None,
      "feather-cdf", params).asInstanceOf[graft.sources.FeatherCdfSource]
    assert(s1.startingVersion === 1L)
    // versions land while the stream is down (the crash window: the
    // offset WAL may already name them without a committed batch)
    writeV(path, 51, 60, "append") // v2
    FeatherMutations.deleteByKey(spark, path,
      Seq(5L).toDF("id"), Seq("id")) // v3
    // recovery constructs a FRESH source for the same checkpoint; its
    // getBatch(None, walEnd) must cover (1, walEnd] — a re-resolved
    // "latest" (now 3) would make that range empty and silently drop
    // v2 + v3 from the feed
    val s2 = provider.createSource(spark.sqlContext, meta, None,
      "feather-cdf", params).asInstanceOf[graft.sources.FeatherCdfSource]
    assert(s2.startingVersion === 1L,
      s"the pin under $meta must survive the restart, got " +
        s"${s2.startingVersion}")
  }

  test("option(\"readChangeFeed\", \"true\") turns the MAIN formats' " +
       "readStream into the change feed") {
    val path = tmp("cdf_option")
    import spark.implicits._
    writeV(path, 1, 80, "overwrite") // v1
    FeatherMutations.deleteByKeyDV(spark, path,
      Seq(3L).toDF("id"), Seq("id")) // v2
    // format("feather") + the option: the DSv2 table withholds its
    // micro-batch capability and the V1 CDF source takes over — the
    // Delta readChangeFeed surface, verbatim
    val q = spark.readStream.format("feather")
      .option("readChangeFeed", "true").load(path)
      .writeStream.format("memory").queryName("cdf_opt_t")
      .option("checkpointLocation", tmp("cdf_opt_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      val t = spark.table("cdf_opt_t")
      assert(t.columns.contains("_change_type"))
      assert(t.count() === 81) // 80 bootstrap inserts + 1 delete
      assert(t.where(col("_change_type") === "delete")
        .select("id").head().getLong(0) === 3L)
    } finally q.stop()
    // avro face, same option
    val apath = tmp("cdf_option_avro")
    writeV(apath, 1, 40, "overwrite", fmt = "graft-avro")
    val q2 = spark.readStream.format("graft-avro")
      .option("readChangeFeed", "true").load(apath)
      .writeStream.format("memory").queryName("cdf_opt_avro_t")
      .option("checkpointLocation", tmp("cdf_opt_avro_ckpt"))
      .start()
    try {
      q2.processAllAvailable()
      assert(spark.table("cdf_opt_avro_t").count() === 40)
    } finally q2.stop()
    // and WITHOUT the option the plain snapshot stream still runs
    // (delivers rows, not change records)
    val q3 = spark.readStream.format("feather").load(path)
      .writeStream.format("memory").queryName("cdf_opt_plain_t")
      .option("checkpointLocation", tmp("cdf_opt_plain_ckpt"))
      .start()
    try {
      q3.processAllAvailable()
      val t3 = spark.table("cdf_opt_plain_t")
      assert(!t3.columns.contains("_change_type"))
      assert(t3.count() === 79) // initial load applies the DV binding
    } finally q3.stop()
  }

  test("readChangeFeed on a BATCH read is refused loudly (both faces)") {
    val path = tmp("cdf_batch_refuse")
    writeV(path, 1, 20, "overwrite")
    val e = intercept[Exception] {
      spark.read.format("feather").option("readChangeFeed", "true")
        .load(path).collect()
    }
    assert(e.getMessage.contains("graft_table_changes"),
      s"must point at the batch CDF surfaces, got: ${e.getMessage}")
    val apath = tmp("cdf_batch_refuse_avro")
    writeV(apath, 1, 20, "overwrite", fmt = "graft-avro")
    val e2 = intercept[Exception] {
      spark.read.format("graft-avro").option("readChangeFeed", "true")
        .load(apath).collect()
    }
    assert(e2.getMessage.contains("graft_table_changes"))
  }

  test("changesSince serves one schema per head: a batch touching only " +
       "a numeric partition leaf still types the column like the head") {
    val path = tmp("cdf_part_type")
    import spark.implicits._
    // v1: adopt a hive layout whose only leaf is dom=x → dom infers
    // STRING at every head from here on
    (1 to 20).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartition(1).write.format("feather").mode("overwrite")
      .save(s"$path/dom=x")
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    FeatherSnapshots.adopt(fs, new Path(path)): Unit
    // v2: a merge whose inserts route to a NEW dom=01 leaf — the only
    // files the (1, 2] range touches; range-local inference would type
    // dom as LONG there, and a long→string cast would re-spell the
    // value "1" — a dom no table read ever returns. The raw leaf
    // string must survive verbatim.
    FeatherMutations.merge(spark, path,
      Seq((100L, "p_100", "01")).toDF("id", "pay", "dom"), Seq("id"))
    val (changes, v) = FeatherChanges.changesSince(spark, path, 1L)
    assert(v === 2L)
    assert(changes.schema("dom").dataType ===
      org.apache.spark.sql.types.StringType,
      s"range-local long must take the head's string type, got " +
        s"${changes.schema("dom").dataType}")
    val row = changes.where(col("_change_type") === "insert").head()
    assert(row.getAs[String]("dom") === "01",
      s"the raw leaf string must pass through verbatim, got " +
        s"${row.getAs[String]("dom")}")
    // and the table read agrees on the spelling
    assert(spark.read.format("feather").load(path)
      .where(col("id") === 100L).head().getAs[String]("dom") === "01")
    // and the idle poll's empty frame agrees exactly
    val (idle, _) = FeatherChanges.changesSince(spark, path, v)
    assert(idle.schema === changes.schema)
  }

  test("the head feed schema computes incrementally across appends and " +
       "matches the full sweep, including evolution nullability") {
    val path = tmp("cdf_incr_schema")
    import spark.implicits._
    def poll(from: Long) = FeatherChanges.changesSince(spark, path, from)
    writeV(path, 1, 10, "overwrite")                       // v1: id, name
    val (c1, v1) = poll(0L)
    assert(c1.schema.fieldNames.toSeq ===
      Seq("id", "name", "_change_type", "_commit_version"))
    // v2: WIDENED append (extra column) — incremental path (no removals)
    (11 to 15).map(i => (i.toLong, s"n_$i", i * 2))
      .toDF("id", "name", "extra").repartition(1)
      .write.format("feather").mode("append")
      .option("mergeSchema", "true") // the write-evolution opt-in
      .option("snapshots", "true").save(path)
    val (c2, v2) = poll(v1)
    assert(c2.schema.fieldNames.contains("extra"))
    assert(c2.where(col("_change_type") === "insert").count() === 5)
    // the feed schema's NULLABILITY is observable on the idle poll's
    // empty frame (a change batch's frame carries plan nullability):
    // files predating the widening read null — the column must widen
    assert(poll(v2)._1.schema("extra").nullable)
    // v3: OLD-generation append (missing name) — name must survive,
    // nullable, in the incrementally-merged schema
    (16 to 18).map(_.toLong).toDF("id").repartition(1)
      .write.format("feather").mode("append")
      .option("mergeSchema", "true") // narrowing append: same opt-in
      .option("snapshots", "true").save(path)
    val (c3, v3) = poll(v2)
    assert(c3.schema.fieldNames.contains("name"))
    assert(c3.where(col("name").isNull).count() === 3)
    val idleAfterV3 = poll(v3)._1.schema
    assert(idleAfterV3("name").nullable)
    // v4: a DELETE removes files — the full-sweep fallback path must
    // reproduce the same feed schema the incremental path built
    FeatherMutations.deleteByKey(spark, path,
      Seq(1L).toDF("id"), Seq("id"))
    val (c4, v4) = poll(v3)
    assert(v4 === 4L)
    assert(c4.where(col("_change_type") === "delete").count() === 1)
    // the delete's rewritten part carries the catalog's nullable columns
    // (every row-level write does), so the merged `id` widens to nullable
    val widened = org.apache.spark.sql.types.StructType(idleAfterV3.map(f =>
      if (f.name == "id") f.copy(nullable = true) else f))
    assert(poll(v4)._1.schema === widened)
  }

  test("the head-schema cache caps at its limit, evicts LRU, and " +
       "rebuilds an evicted table's schema correctly on re-poll") {
    import spark.implicits._
    val oldCap = FeatherChanges.feedSchemaCacheCap
    FeatherChanges.feedSchemaCacheCap = 3
    // the singleton cache may hold earlier tests' tables; eviction is
    // one-per-insert so an over-cap map would never drain to the
    // lowered cap — start empty for an order-independent assertion
    FeatherChanges.feedSchemaCacheClear()
    try {
      val paths = (1 to 4).map { i =>
        val p = tmp(s"cdf_cache_$i")
        (1 to 5).map(j => (j.toLong, s"t${i}_$j")).toDF("id", s"name$i")
          .repartition(1).write.format("feather").mode("overwrite")
          .option("snapshots", "true").save(p)
        p
      }
      // polling 4 tables through a cap of 3 — the first becomes LRU
      // and must be evicted, never the just-written key
      paths.foreach(p => FeatherChanges.changesSince(spark, p, 0L): Unit)
      assert(FeatherChanges.feedSchemaCacheSize <= 3)
      // the evicted table re-polls through the full-sweep branch and
      // still serves ITS schema (not another entry's)
      val (c1, v1) = FeatherChanges.changesSince(spark, paths.head, 0L)
      assert(v1 === 1L)
      assert(c1.schema.fieldNames.contains("name1"))
      assert(c1.count() === 5)
    } finally FeatherChanges.feedSchemaCacheCap = oldCap
  }

  test("a stream that started BEFORE its table existed pins the " +
       "incarnation at the first offset, so a later rebuild is still " +
       "loud") {
    val path = tmp("cdf_preexist")
    val meta = tmp("cdf_preexist_meta")
    import org.apache.spark.sql.types._
    // user-supplied schema: the only way to start a CDF stream on a
    // path with no table yet (nothing to sweep a feed schema from)
    val userSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
    val provider = new graft.sources.FeatherCdfSourceProvider
    def mk(m: String, p: String) = provider.createSource(spark.sqlContext,
      m, Some(userSchema), "feather-cdf", Map("path" -> p))
      .asInstanceOf[graft.sources.FeatherCdfSource]
    val s1 = mk(meta, path)
    assert(s1.getOffset.isEmpty, "no table yet: no offset")
    writeV(path, 1, 20, "overwrite") // incarnation A appears (v1)
    // the FIRST offset the table ever produces must durably pin A's
    // identity — from here on the WAL may hold batches diffed against A
    assert(s1.getOffset.map(_.json.trim.toLong) === Some(1L))
    // crash; drop and rebuild at the same path (incarnation B)
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(path))
    Thread.sleep(15) // commit ts granularity is millis
    writeV(path, 1, 5, "overwrite")
    // the restart must NOT silently upgrade an "empty" pin onto B —
    // the pin is not empty: getOffset filled it when A appeared
    val e = intercept[Exception] { mk(meta, path) }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("dropped and rebuilt")),
      s"rebuild after a first-offset pin must be loud, got: " +
        msgs(e).mkString(" | "))
    // control: a checkpoint that never saw ANY table (no offset ever
    // produced) upgrades in place and continues cleanly
    val path2 = tmp("cdf_preexist2")
    val meta2 = tmp("cdf_preexist_meta2")
    mk(meta2, path2): Unit // pin "<0>;" — table absent, no getOffset
    writeV(path2, 1, 5, "overwrite")
    val s3 = mk(meta2, path2) // upgrade-in-place: nothing was served
    assert(s3.getOffset.map(_.json.trim.toLong) === Some(1L))
  }

  test("a column re-added with a different TYPE mid-stream: loud when " +
       "it cannot up-cast, cast-and-continue when it can") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    def overwriteV(p: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.repartitionByRange(2, col("id")).write.format("feather")
        .mode("overwrite").option("snapshots", "true").save(p)
    val provider = new graft.sources.FeatherCdfSourceProvider
    def mk(p: String) = provider.createSource(spark.sqlContext,
      tmp(s"meta_${p.reverse.takeWhile(_ != '/').reverse}"), None,
      "feather-cdf", Map("path" -> p))
      .asInstanceOf[graft.sources.FeatherCdfSource]
    // fixed lang is INT; dropped, then re-added as STRING: string does
    // not up-cast into int — the loud contract, not an opaque
    // MicroBatchExecution schema assertion
    val path = tmp("cdf_retype")
    overwriteV(path, (1 to 10).map(i => (i.toLong, i)).toDF("id", "lang"))
    val s1 = mk(path)
    overwriteV(path, (1 to 10).map(_.toLong).toDF("id"))          // v2
    overwriteV(path,
      (1 to 10).map(i => (i.toLong, s"L$i")).toDF("id", "lang"))  // v3
    val e = intercept[IllegalStateException] {
      s1.getBatch(Some(LongOffset(2L)), LongOffset(3L))
    }
    assert(e.getMessage.contains("type changed mid-stream"),
      s"got: ${e.getMessage}")
    // fixed lang is STRING; re-added as INT: int up-casts losslessly —
    // the batch casts and aligns instead of wedging (this is also the
    // post-restart replay shape after a widening retype)
    val path2 = tmp("cdf_retype2")
    overwriteV(path2,
      (1 to 10).map(i => (i.toLong, s"L$i")).toDF("id", "lang"))
    val s2 = mk(path2)
    overwriteV(path2, (1 to 10).map(_.toLong).toDF("id"))         // v2
    overwriteV(path2, (1 to 10).map(i => (i.toLong, i)).toDF("id", "lang"))
    val b = s2.getBatch(Some(LongOffset(2L)), LongOffset(3L))     // v3
    assert(b.schema("lang").dataType ===
      org.apache.spark.sql.types.StringType)
  }

  test("maxVersionsPerTrigger bounds each micro-batch to n version " +
       "steps and a restart resumes at the WAL, not the cap crawl") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val path = tmp("cdf_admission")
    import spark.implicits._
    writeV(path, 1, 20, "overwrite") // v1
    writeV(path, 21, 25, "append")   // v2
    FeatherMutations.deleteByKey(spark, path,
      Seq(3L).toDF("id"), Seq("id")) // v3
    writeV(path, 26, 30, "append")   // v4
    val provider = new graft.sources.FeatherCdfSourceProvider
    val params = Map("path" -> path, "maxVersionsPerTrigger" -> "1")
    val s1 = provider.createSource(spark.sqlContext,
      tmp("cdf_admission_meta"), None, "feather-cdf", params)
      .asInstanceOf[graft.sources.FeatherCdfSource]
    // offers advance ONE version per trigger from the starting point
    assert(s1.getOffset === Some(LongOffset(1L)))
    assert(s1.getOffset === Some(LongOffset(2L)))
    assert(s1.getOffset === Some(LongOffset(3L)))
    assert(s1.getOffset === Some(LongOffset(4L)))
    assert(s1.getOffset === Some(LongOffset(4L)), "capped at the head")
    // a restarted source fast-forwards its base from the recovered WAL
    // batch instead of crawling versions 1..3 as empty offers
    val s2 = provider.createSource(spark.sqlContext,
      tmp("cdf_admission_meta2"), None, "feather-cdf", params)
      .asInstanceOf[graft.sources.FeatherCdfSource]
    s2.getBatch(Some(LongOffset(3L)), LongOffset(4L)): Unit // WAL replay
    assert(s2.getOffset === Some(LongOffset(4L)),
      "the admission base must jump to the WAL end")
    // end-to-end: the capped stream still drains completely
    val q = spark.readStream.format("feather-cdf")
      .option("maxVersionsPerTrigger", "1").load(path)
      .writeStream.format("memory").queryName("cdf_adm_t")
      .option("checkpointLocation", tmp("cdf_admission_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      val t = spark.table("cdf_adm_t")
      assert(t.count() === 20 + 5 + 1 + 5) // bootstrap + v2 + delete + v4
      // each delivered batch covered at most one commit version
      import org.apache.spark.sql.functions.countDistinct
      val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(perBatch.length >= 4,
        s"expected >=4 non-empty micro-batches, got ${perBatch.toSeq}")
      assert(t.select(countDistinct(col("_commit_version"))).head()
        .getLong(0) === 4L)
    } finally q.stop()
    // Trigger.AvailableNow must DRAIN the backlog in capped pieces and
    // then terminate — without SupportsTriggerAvailableNow, Spark's
    // wrapper captures ONE capped offset and the query would stop after
    // a single version, silently stranding the rest
    val q2 = spark.readStream.format("feather-cdf")
      .option("maxVersionsPerTrigger", "1").load(path)
      .writeStream.format("memory").queryName("cdf_avn_t")
      .option("checkpointLocation", tmp("cdf_avn_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q2.awaitTermination(120000), "AvailableNow did not finish")
      val t2 = spark.table("cdf_avn_t")
      assert(t2.count() === 20 + 5 + 1 + 5,
        "the capped AvailableNow run must drain ALL versions")
      assert(t2.select(
        org.apache.spark.sql.functions.countDistinct(
          col("_commit_version"))).head().getLong(0) === 4L)
    } finally q2.stop()
  }

  test("startingTimestamp resolves once, pins in the checkpoint, and " +
       "bootstraps only when the full history is retained") {
    val path = tmp("cdf_start_ts")
    writeV(path, 1, 10, "overwrite") // v1
    Thread.sleep(1100)
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    writeV(path, 11, 15, "append")   // v2
    val provider = new graft.sources.FeatherCdfSourceProvider
    val meta = tmp("cdf_start_ts_meta")
    def mk(m: String, extra: (String, String)*) =
      provider.createSource(spark.sqlContext, m, None, "feather-cdf",
        Map("path" -> path) ++ extra)
        .asInstanceOf[graft.sources.FeatherCdfSource]
    // an instant between v1 and v2 starts the feed after v1
    val s1 = mk(meta, "startingTimestamp" -> between.toString)
    assert(s1.startingVersion === 1L)
    // restart: the pin survives even as the table moves on
    writeV(path, 16, 20, "append")   // v3
    val s2 = mk(meta, "startingTimestamp" -> between.toString)
    assert(s2.startingVersion === 1L, "the resolved start must be pinned")
    // the restart must not even TRY to re-resolve (an expired tail
    // would wedge it): a garbage instant on an existing pin proves the
    // seed is never forced
    val s2b = mk(meta, "startingTimestamp" -> "not-a-timestamp")
    assert(s2b.startingVersion === 1L,
      "a restart must read the pin, never re-resolve the instant")
    // an instant before everything bootstraps (v1 is retained)
    val s3 = mk(tmp("cdf_start_ts_meta2"),
      "startingTimestamp" -> "100")
    assert(s3.startingVersion === 0L)
    // ... but with the tail EXPIRED past the instant, a fresh start is
    // loud — silently starting mid-history would lose changes the
    // caller asked for by time
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    FeatherSnapshots.expire(fs, new Path(path), keepLast = 2): Unit
    val e0 = intercept[RuntimeException] {
      mk(tmp("cdf_start_ts_meta4"), "startingTimestamp" -> "100")
    }
    assert(e0.getMessage.contains("expired"), e0.getMessage)
    // both options together are refused
    val e = intercept[IllegalArgumentException] {
      mk(tmp("cdf_start_ts_meta3"),
        "startingTimestamp" -> between.toString,
        "startingVersion" -> "1")
    }
    assert(e.getMessage.contains("not both"))
    // startingTimestamp on a table that does not exist yet is refused:
    // its future commits cannot be ordered against the instant at pin
    // time, and a pinned 0 would deliver pre-instant rows forever
    import org.apache.spark.sql.types._
    val userSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
    val provider2 = new graft.sources.FeatherCdfSourceProvider
    val eNo = intercept[IllegalArgumentException] {
      provider2.createSource(spark.sqlContext,
        tmp("cdf_start_ts_meta5"), Some(userSchema), "feather-cdf",
        Map("path" -> tmp("cdf_start_ts_absent"),
          "startingTimestamp" -> between.toString))
    }
    assert(eNo.getMessage.contains("no snapshot versions"), eNo.getMessage)
  }

  test("streaming CDF serves the avro face through the same format name") {
    val path = tmp("cdf_avro_stream")
    import spark.implicits._
    writeV(path, 1, 50, "overwrite", fmt = "graft-avro") // v1
    FeatherMutations.deleteByKeyDV(spark, path,
      Seq(9L).toDF("id"), Seq("id")) // v2
    val q = spark.readStream.format("feather-cdf").load(path)
      .writeStream.format("memory").queryName("cdf_avro_t")
      .option("checkpointLocation", tmp("cdf_avro_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      val t = spark.table("cdf_avro_t")
      assert(t.count() === 51) // 50 inserts + 1 delete
      assert(t.where(col("_change_type") === "delete")
        .select("id").head().getLong(0) === 9L)
    } finally q.stop()
  }

}
