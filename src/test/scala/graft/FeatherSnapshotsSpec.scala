package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FeatherSnapshots

/** Snapshot manifests on the feather DSv2 connector: atomic commits,
  * manifest-planned reads (no listing), time travel, and explicit vacuum. */
class FeatherSnapshotsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  // snapshot state is deliberately persistent, so each test starts from a
  // WIPED directory — a re-run would otherwise keep appending versions
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_feather_snap/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeV(path: String, lo: Int, hi: Int, mode: String): Unit = {
    import spark.implicits._
    (lo to hi).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
      .repartition(1).write.format("feather").mode(mode)
      .option("snapshots", "true").save(path)
  }

  test("commits publish numbered manifests; overwrite retains old files") {
    val path = tmp("versions")
    writeV(path, 1, 100, "overwrite")    // v1
    writeV(path, 101, 150, "append")     // v2
    writeV(path, 201, 220, "overwrite")  // v3: REPLACES the table contents
    val fs = fsOf(path)
    assert(FeatherSnapshots.latestVersion(fs, new Path(path)) === Some(3L))
    // latest read sees only v3's rows
    val latest = spark.read.format("feather").load(path)
    assert(latest.count() === 20)
    assert(latest.agg(min("id"), max("id")).head() ===
      org.apache.spark.sql.Row(201L, 220L))
    // time travel: v1 and v2 reproduce their exact states
    def asOf(v: Int) = spark.read.format("feather")
      .option("versionAsOf", v.toString).load(path)
    assert(asOf(1).count() === 100)
    assert(asOf(2).count() === 150)
    assert(asOf(2).agg(max("id")).head().getLong(0) === 150L)
    // the overwrite deleted nothing: v1's parts are still on disk
    val snap1 = FeatherSnapshots.read(fs, new Path(path), 1L)
    snap1.files.foreach { case (rel, len) =>
      assert(fs.getFileStatus(new Path(path, rel)).getLen === len,
        s"v1 part $rel must survive the v3 overwrite")
    }
  }

  test("reads plan off the manifest, not the listing") {
    import spark.implicits._
    val path = tmp("no_listing")
    writeV(path, 1, 50, "overwrite")
    // drop a foreign part into the directory OUTSIDE any snapshot commit:
    // a listing-based read would pick it up; a manifest read must not
    val donorDir = tmp("donor")
    (1000L to 1009L).map(i => (i, s"x_$i")).toDF("id", "name")
      .repartition(1).write.format("feather").mode("append").save(donorDir)
    val donor = new java.io.File(donorDir).listFiles()
      .filter(_.getName.endsWith(".feather")).head
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(path, "foreign-part.feather").toPath)
    val df = spark.read.format("feather").load(path)
    assert(df.count() === 50, "manifest read must ignore unreferenced files")
    assert(df.agg(max("id")).head().getLong(0) === 50L)
  }

  test("stats keep working on snapshot tables: agg pushdown and skipping") {
    import spark.implicits._
    val path = tmp("stats")
    (1 to 1000).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id")
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").option("batchSize", "100").save(path)
    val agged = spark.read.format("feather").load(path)
      .agg(count(lit(1)).as("n"), max("id").as("hi"))
    assert(agged.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(agged.head() === org.apache.spark.sql.Row(1000L, 1000L))
    val scan = spark.read.format("feather")
      .option("maxSplitBytes", "1").load(path)
    assert(scan.filter(col("id") > 900L).rdd.getNumPartitions === 1)
    assert(scan.filter(col("id") > 900L).count() === 100)
  }

  test("expire deletes unreferenced files and makes old versions loud") {
    val path = tmp("expire")
    writeV(path, 1, 80, "overwrite")   // v1
    writeV(path, 81, 90, "append")     // v2
    writeV(path, 501, 520, "overwrite")// v3
    val fs = fsOf(path)
    val v1Files = FeatherSnapshots.read(fs, new Path(path), 1L).files
    val (snapsGone, filesGone) =
      FeatherSnapshots.expire(fs, new Path(path), keepLast = 1)
    assert(snapsGone === 2)
    assert(filesGone > 0)
    // v1's parts are physically gone (v3 shares none of them)
    v1Files.foreach { case (rel, _) =>
      assert(!fs.exists(new Path(path, rel)), s"$rel should be vacuumed")
    }
    // latest still reads; expired version errors loudly
    assert(spark.read.format("feather").load(path).count() === 20)
    val e = intercept[Exception] {
      spark.read.format("feather").option("versionAsOf", "1").load(path).count()
    }
    assert(e.getMessage.contains("expired") ||
      e.getMessage.contains("does not exist"))
  }

  test("versionAsOf on a non-snapshot table fails loudly") {
    import spark.implicits._
    val plain = tmp("plain")
    (1 to 10).map(i => (i.toLong, s"p_$i")).toDF("id", "name")
      .repartition(1).write.format("feather").mode("overwrite").save(plain)
    val e = intercept[Exception] {
      spark.read.format("feather").option("versionAsOf", "1").load(plain).count()
    }
    assert(e.getMessage.contains("no _snapshots"))
  }

  test("compaction on a snapshotted table is a manifest operation") {
    import spark.implicits._
    val path = tmp("snap_compact")
    // v1: eight small parts through the snapshotting sink
    (1 to 800).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
      .repartition(8).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val fs = fsOf(path)
    val v1Files = FeatherSnapshots.read(fs, new Path(path), 1L).files
    assert(v1Files.size === 8)
    val r = graft.io.FeatherCompact.compact(spark, path, targetBytes = 1L << 30)
    assert(r.groupsRewritten === 1 && r.filesAfter === 1, r.toString)
    // the compaction published v2; the table reads whole from one part
    assert(FeatherSnapshots.latestVersion(fs, new Path(path)) === Some(2L))
    val latest = spark.read.format("feather").load(path)
    assert(latest.count() === 800)
    assert(latest.rdd.getNumPartitions === 1)
    // inputs were NOT deleted — v1 still reproduces exactly
    val v1 = spark.read.format("feather").option("versionAsOf", "1").load(path)
    assert(v1.count() === 800)
    v1Files.foreach { case (rel, _) =>
      assert(fs.exists(new Path(path, rel)), s"$rel must survive compaction")
    }
    // aggregate pushdown still answers post-compaction (merged stats
    // gained the output's entry)
    val agged = latest.agg(count(lit(1)).as("n"), max("id").as("hi"))
    assert(agged.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(agged.head() === org.apache.spark.sql.Row(800L, 800L))
    // a re-run over the compacted table rewrites nothing
    val r2 = graft.io.FeatherCompact.compact(spark, path, targetBytes = 1L << 30)
    assert(r2.groupsRewritten === 0)
    // vacuum: only now do v1's parts physically retire
    val (snapsGone, filesGone) =
      FeatherSnapshots.expire(fs, new Path(path), keepLast = 1)
    assert(snapsGone === 1 && filesGone === 8)
    assert(spark.read.format("feather").load(path).count() === 800)
  }

  test("a snapshotted table streams by manifest version, exactly once") {
    import spark.implicits._
    val path = tmp("stream")
    val ckpt = tmp("stream_ckpt")
    // v1 on disk before the stream starts (also feeds inferSchema)
    writeV(path, 1, 100, "overwrite")
    val q = spark.readStream.format("feather").load(path)
      .writeStream.format("memory").queryName("feather_snap_stream")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable() // initial load = current snapshot
      assert(spark.table("feather_snap_stream").count() === 100)
      writeV(path, 101, 150, "append") // v2
      q.processAllAvailable()
      assert(spark.table("feather_snap_stream").count() === 150)
      // compaction publishes v3 whose outputs REWRITE delivered rows —
      // the stream must skip them, not re-deliver
      val r = graft.io.FeatherCompact.compact(spark, path, targetBytes = 1L << 30)
      assert(r.groupsRewritten >= 1)
      q.processAllAvailable()
      assert(spark.table("feather_snap_stream").count() === 150,
        "compacted rewrites must not re-stream")
      writeV(path, 151, 170, "append") // v4
      q.processAllAvailable()
      val got = spark.table("feather_snap_stream")
      assert(got.count() === 170)
      assert(got.agg(sum(col("id"))).head().getLong(0) ===
        (1 to 170).map(_.toLong).sum, "exactly-once across all version ops")
    } finally q.stop()
  }

  test("an overwrite mid-stream fails loudly unless ignoreChanges") {
    import spark.implicits._
    val path = tmp("stream_ow")
    writeV(path, 1, 50, "overwrite")
    val q = spark.readStream.format("feather").load(path)
      .writeStream.format("memory").queryName("feather_snap_ow")
      .option("checkpointLocation", tmp("stream_ow_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("feather_snap_ow").count() === 50)
      writeV(path, 201, 210, "overwrite") // non-append change mid-stream
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("overwrite") ||
        Option(e.getCause).exists(_.getMessage.contains("overwrite")))
    } finally q.stop()
    // with ignoreChanges the replaced data is skipped, the stream lives on
    val q2 = spark.readStream.format("feather")
      .option("ignoreChanges", "true").load(path)
      .writeStream.format("memory").queryName("feather_snap_ow2")
      .option("checkpointLocation", tmp("stream_ow2_ckpt"))
      .start()
    try {
      q2.processAllAvailable() // initial load = CURRENT snapshot (v2)
      assert(spark.table("feather_snap_ow2").agg(min(col("id"))).head()
        .getLong(0) === 201L)
      writeV(path, 211, 220, "append")
      q2.processAllAvailable()
      assert(spark.table("feather_snap_ow2").count() === 20)
      // an overwrite MID-STREAM under ignoreChanges delivers its NOVEL
      // files (the Delta contract: new rows must arrive; replaced rows
      // are not retracted downstream) — silently skipping them would
      // lose the replacement's data
      writeV(path, 501, 505, "overwrite")
      q2.processAllAvailable()
      assert(spark.table("feather_snap_ow2").count() === 25)
      assert(spark.table("feather_snap_ow2").agg(max(col("id"))).head()
        .getLong(0) === 505L)
    } finally q2.stop()
  }

  test("once snapshotted, plain writes keep publishing manifests") {
    import spark.implicits._
    val path = tmp("sticky")
    writeV(path, 1, 40, "overwrite") // v1, opted in
    // a later writer "forgets" the option: the commit still snapshots
    (41L to 60L).map(i => (i, s"n_$i")).toDF("id", "name")
      .repartition(1).write.format("feather").mode("append").save(path)
    val fs = fsOf(path)
    assert(FeatherSnapshots.latestVersion(fs, new Path(path)) === Some(2L))
    assert(spark.read.format("feather").load(path).count() === 60)
    assert(spark.read.format("feather").option("versionAsOf", "1")
      .load(path).count() === 40)
  }

  test("version stream: cluster skips; delete is loud then skips; " +
      "merge is loud then delivers") {
    import spark.implicits._
    val path = tmp("stream_ops")
    writeV(path, 1, 100, "overwrite") // v1
    def startStream(name: String, ignoreChanges: Boolean) = {
      var r = spark.readStream.format("feather")
      if (ignoreChanges) r = r.option("ignoreChanges", "true")
      r.load(path).writeStream.format("memory").queryName(name).start()
    }
    // cluster (row-preserving) mid-stream: silently skipped
    val q1 = startStream("snap_ops_1", ignoreChanges = false)
    try {
      q1.processAllAvailable()
      assert(spark.table("snap_ops_1").count() === 100)
      graft.io.FeatherCluster.cluster(spark, path, Seq("id")) // v2
      writeV(path, 101, 110, "append")                        // v3
      q1.processAllAvailable()
      assert(spark.table("snap_ops_1").count() === 110) // no re-delivery
      // delete mid-stream: loud without ignoreChanges
      graft.io.FeatherMutations.deleteByKey(spark, path,
        Seq(5L).toDF("id"), Seq("id"))                        // v4
      writeV(path, 111, 120, "append")                        // v5
      intercept[Exception] { q1.processAllAvailable() }
    } finally q1.stop()
    // with ignoreChanges: the delete's rewrites skip, appends flow
    val q2 = startStream("snap_ops_2", ignoreChanges = true)
    try {
      q2.processAllAvailable()
      assert(spark.table("snap_ops_2").count() === 119) // current snapshot
      graft.io.FeatherMutations.merge(spark,
        path, Seq((5L, "n_5_back")).toDF("id", "name"), Seq("id")) // v6
      q2.processAllAvailable()
      // merge DELIVERS its rewritten parts: the insert arrives (and
      // survivor rows from the touched file re-deliver — by contract)
      assert(spark.table("snap_ops_2")
        .where(col("name") === "n_5_back").count() === 1)
    } finally q2.stop()
  }

  test("an empty overwrite of a snapshotted table stays readable") {
    val path = tmp("empty_ow")
    writeV(path, 1, 40, "overwrite")
    import spark.implicits._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        Seq((1L, "x")).toDF("id", "name").schema)
      .write.format("feather").mode("overwrite").save(path)
    val df = spark.read.format("feather").load(path)
    assert(df.count() === 0)
    assert(df.columns.toSeq === Seq("id", "name"))
    assert(spark.read.format("feather").option("versionAsOf", "1")
      .load(path).count() === 40)
  }

  test("a snapshot append into a legacy hive directory fails loudly " +
      "instead of dropping or mixing the partitioned files") {
    val path = tmp("legacy_hive_seed")
    import spark.implicits._
    // legacy partitioned layout, NOT snapshotted
    Seq("d0", "d1").foreach { dm =>
      graft.io.GraftFeather.write(
        (1 to 50).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
          .repartition(1),
        s"$path/dom=$dm", overwrite = true)
    }
    // the sinks write root-level parts; seeding would mix layouts — the
    // WRITE must fail (previously the non-recursive seed silently dropped
    // every subdirectory file from v1)
    val e = intercept[Exception] {
      (51 to 60).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
        .repartition(1)
        .write.format("feather").mode("append")
        .option("snapshots", "true").save(path)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("mix partition layouts")))
    // the pre-rename guard refused BEFORE any rename: no orphan residue
    // at the root, and adopt() works directly
    val fs = fsOf(path)
    assert(!fs.listStatus(new Path(path)).exists(s =>
      !s.isDirectory && s.getPath.getName.endsWith(".feather")),
      "a refused append must leave no root-level residue")
    FeatherSnapshots.adopt(fs, new Path(path))
    assert(spark.read.format("feather").load(path).count() === 100)
  }

  test("publishEpoch heals replays and guards layouts") {
    val path = tmp("epoch_publish")
    writeV(path, 1, 20, "overwrite") // v1
    val fs = fsOf(path)
    val rp = new Path(path)
    val existing = FeatherSnapshots.read(fs, rp, 1L).files
    // replaying already-referenced parts publishes NOTHING (no version
    // bump): only never-referenced parts are novel
    FeatherSnapshots.publishEpoch(fs, rp, existing)
    assert(FeatherSnapshots.latestVersion(fs, rp) === Some(1L))
    // a part RETIRED by later maintenance stays retired on replay — the
    // healing path must not resurrect compacted/deleted data
    graft.io.FeatherCluster.cluster(spark, path, Seq("id")) // v2 retires v1's
    FeatherSnapshots.publishEpoch(fs, rp, existing)         // replay races it
    assert(FeatherSnapshots.latestVersion(fs, rp) === Some(2L))
    assert(spark.read.format("feather").load(path).count() === 20)
    // a genuinely novel part (the crash-before-manifest window) heals in
    val live = FeatherSnapshots.read(fs, rp, 2L).files.head
    val orphan = new Path(path, "part-e9-heal.feather")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(path, live._1),
      fs, orphan, false, spark.sparkContext.hadoopConfiguration)
    FeatherSnapshots.publishEpoch(fs, rp,
      Seq((orphan.getName, fs.getFileStatus(orphan).getLen)))
    assert(FeatherSnapshots.read(fs, rp, 3L).files
      .exists(_._1 == orphan.getName))
    // layout guard: root parts cannot append into a hive-layout parent
    val hive = tmp("epoch_hive")
    import spark.implicits._
    graft.io.GraftFeather.write(
      Seq((1L, "a")).toDF("id", "v"), s"$hive/dom=d0", overwrite = true)
    FeatherSnapshots.adopt(fsOf(hive), new Path(hive))
    val e = intercept[IllegalArgumentException] {
      FeatherSnapshots.publishEpoch(fsOf(hive), new Path(hive),
        Seq(("part-e1-root.feather", 10L)))
    }
    assert(e.getMessage.contains("mix partition layouts"))
  }

  test("timestampAsOf resolves the snapshot live at that instant") {
    val path = tmp("ts_travel")
    writeV(path, 1, 100, "overwrite") // v1
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    writeV(path, 101, 150, "append")  // v2
    // at `between`, v1 was the live snapshot
    assert(spark.read.format("feather")
      .option("timestampAsOf", between.toString).load(path).count() === 100)
    // "now" resolves to the latest
    assert(spark.read.format("feather")
      .option("timestampAsOf", System.currentTimeMillis().toString)
      .load(path).count() === 150)
    // an instant before the first commit is a loud error, not v1
    val e = intercept[Exception] {
      spark.read.format("feather")
        .option("timestampAsOf", "1000").load(path).count()
    }
    assert(e.getMessage.contains("expired or never existed"))
    // both pins together are rejected
    val e2 = intercept[Exception] {
      spark.read.format("feather").option("versionAsOf", "1")
        .option("timestampAsOf", between.toString).load(path).count()
    }
    assert(e2.getMessage.contains("not both"))
  }

  test("vacuumOrphans reclaims unreferenced parts past the grace window") {
    val path = tmp("vacuum")
    writeV(path, 1, 50, "overwrite")
    val fs = fsOf(path)
    // a foreign orphan: a committed-looking part no manifest lists
    val orphan = new Path(path, "leftover-00000.feather")
    val live = FeatherSnapshots.read(fs, new Path(path), 1L).files.head._1
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(path, live), fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    // inside the grace window: kept
    assert(FeatherSnapshots.vacuumOrphans(fs, new Path(path),
      graceMillis = 3600 * 1000) === 0)
    assert(fs.exists(orphan))
    // past the grace window: reclaimed, referenced files untouched
    assert(FeatherSnapshots.vacuumOrphans(fs, new Path(path),
      graceMillis = -1000) === 1)
    assert(!fs.exists(orphan))
    assert(spark.read.format("feather").load(path).count() === 50)
    // an IN-FLIGHT generation (mut-v targeting a version newer than the
    // latest manifest) is never vacuumed, regardless of age
    val pending = new Path(path, "mut-v00000099-00000.feather")
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(path, live), fs, pending, false,
      spark.sparkContext.hadoopConfiguration)
    assert(FeatherSnapshots.vacuumOrphans(fs, new Path(path),
      graceMillis = -1000) === 0)
    assert(fs.exists(pending))
    fs.delete(pending, false)
    // but a mutation orphan from an ALREADY-COMMITTED generation
    // (v <= latest) is reclaimable once past grace
    val stale = new Path(path, "mut-v00000001-00000.feather")
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(path, live), fs, stale, false,
      spark.sparkContext.hadoopConfiguration)
    assert(FeatherSnapshots.vacuumOrphans(fs, new Path(path),
      graceMillis = -1000) === 1)
    assert(!fs.exists(stale))
  }

  test("vacuumOrphans reclaims a crashed run's hidden .tmp outputs " +
       "but never a pending run's") {
    val path = tmp("vacuum_tmps")
    writeV(path, 1, 50, "overwrite") // v1
    val fs = fsOf(path)
    // a crashed snapshot-mode compaction's half-write (run-unique name,
    // target v2 <= latest after... still v1 here, so make it v1)
    val crashed = new Path(path,
      ".mut-v00000001-cptdeadbeef-compact-00000-0abc1234.feather.tmp")
    fs.create(crashed, true).close()
    // a PENDING run's half-write (targets a version beyond the head)
    val pendingTmp = new Path(path,
      ".mut-v00000099-cptcafebabe-compact-00000-0abc1234.feather.tmp")
    fs.create(pendingTmp, true).close()
    // inside grace: both kept
    assert(FeatherSnapshots.vacuumOrphans(fs, new Path(path),
      graceMillis = 3600 * 1000) === 0)
    // past grace: the crashed tmp reclaims, the pending one survives
    val gone = FeatherSnapshots.vacuumOrphansDryRun(fs, new Path(path),
      graceMillis = -1000)
    assert(gone.contains(crashed.getName))
    assert(!gone.contains(pendingTmp.getName))
    assert(FeatherSnapshots.vacuumOrphans(fs, new Path(path),
      graceMillis = -1000) === 1)
    assert(!fs.exists(crashed))
    assert(fs.exists(pendingTmp))
    assert(spark.read.format("feather").load(path).count() === 50)
  }

  test("timestampAsOf local form resolves through the session timezone") {
    val path = tmp("ts_session_tz")
    writeV(path, 1, 100, "overwrite") // v1
    Thread.sleep(1100)
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    writeV(path, 101, 150, "append")  // v2
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
      // `between` rendered as a LOCAL 'yyyy-MM-dd HH:mm:ss' in the
      // SESSION zone (+05:30): parsed back through the session zone it
      // lands between the commits -> v1; a JVM-default (UTC) parse would
      // read it 5.5 h in the future -> v2. Seconds truncation is covered
      // by the >1 s gaps around `between`.
      val local = java.time.Instant.ofEpochMilli(between)
        .atZone(java.time.ZoneId.of("Asia/Kolkata")).toLocalDateTime
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss"))
      assert(spark.read.format("feather")
        .option("timestampAsOf", local).load(path).count() === 100)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("a new commit is visible to timestampAsOf immediately (memo is " +
       "keyed on the head version)") {
    val path = tmp("ts_memo_fresh")
    writeV(path, 1, 100, "overwrite") // v1
    val future = (System.currentTimeMillis() + 60000).toString
    assert(spark.read.format("feather")
      .option("timestampAsOf", future).load(path).count() === 100)
    writeV(path, 101, 150, "append")  // v2, within the old memo TTL
    // same raw instant, new head: a pure-TTL memo would serve the stale
    // v1 pin for up to 10 s
    assert(spark.read.format("feather")
      .option("timestampAsOf", future).load(path).count() === 150)
  }


  // ---- delta-log storage form (add/remove actions + periodic checkpoints)

  private def manifestText(path: String, v: Long): String = {
    val fs = fsOf(path)
    val p = new Path(path,
      f"${FeatherSnapshots.Dir}/v$v%08d.json")
    val in = fs.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  test("append commits serialize as deltas; size-aware checkpoints") {
    val path = tmp("delta_form")
    writeV(path, 1, 50, "overwrite") // v1: full (no parent)
    for (k <- 0 until 9) writeV(path, 100 + k * 10, 100 + k * 10 + 9, "append")
    // v1 full; v2 is a small diff against a small table — a delta. Later
    // versions checkpoint WHEN the accumulated delta bytes outweigh the
    // full list (tiny tables checkpoint often, which costs nothing) —
    // the invariant is the byte bound, not a fixed schedule.
    assert(manifestText(path, 1L).contains("\"files\""))
    val t2 = manifestText(path, 2L)
    assert(!t2.contains("\"files\""), "v2 should be a delta")
    assert(t2.contains("\"add\""), "v2 should carry add actions")
    // between consecutive checkpoints, delta bytes stay bounded by the
    // NEXT checkpoint's full-list size (the size rule's invariant) —
    // total log bytes are O(full list), never O(versions × files)
    val texts = (1L to 10L).map(v => v -> manifestText(path, v))
    val ckpts = texts.filter(_._2.contains("\"files\"")).map(_._1)
    assert(ckpts.head === 1L)
    for (Seq(a, b) <- ckpts.sliding(2) if b > a + 1) {
      val deltaSum = texts.filter { case (v, _) => v > a && v < b }
        .map(_._2.length).sum
      val fullLen = texts.find(_._1 == b).get._2.length
      assert(deltaSum <= 2 * fullLen,
        s"deltas between checkpoints v$a..v$b hold $deltaSum bytes vs " +
          s"a $fullLen-byte checkpoint — the size rule should have fired")
    }
    // reconstruction across the whole chain: v10 = 50 + 9*10 rows
    assert(spark.read.format("feather").load(path).count() === 140)
    // time travel to delta versions crossing checkpoint boundaries
    assert(spark.read.format("feather").option("versionAsOf", "9")
      .load(path).count() === 130)
    assert(spark.read.format("feather").option("versionAsOf", "7")
      .load(path).count() === 110)
    // an overwrite diff outweighs the full list -> checkpoints naturally
    writeV(path, 1, 20, "overwrite") // v11
    assert(manifestText(path, 11L).contains("\"files\""))
    assert(spark.read.format("feather").load(path).count() === 20)
  }

  test("the delta chain length is capped even when deltas are tiny") {
    // a big table emitting one-file appends: the size rule would allow
    // thousands of 130-byte deltas before matching the ~40 KB full list,
    // but every reconstruction pays one manifest READ per chain link —
    // the MaxDeltaChain backstop bounds the round trips. Synthetic
    // entries: the manifest layer never opens data files.
    val path = tmp("delta_chain_cap")
    val fs = fsOf(path)
    val root = new Path(path)
    val base = (0 until 1000).map(i => (f"part-$i%06d.feather", 1000L))
    FeatherSnapshots.commit(fs, root, "overwrite")(_ => base)
    for (k <- 0 until 20)
      FeatherSnapshots.commit(fs, root, "append")(
        parent => parent :+ (f"extra-$k%03d.feather", 500L))
    val ckpts = (1L to 21L)
      .filter(v => manifestText(path, v).contains("\"files\""))
    assert(ckpts.head === 1L)
    // v2..v17 are 16 deltas (the cap); v18 must checkpoint
    assert(ckpts.contains(18L),
      s"expected the chain-length backstop to checkpoint at v18; " +
        s"checkpoints: $ckpts")
    assert((2L to 17L).forall(v =>
      !manifestText(path, v).contains("\"files\"")),
      "deltas below the cap must stay deltas")
    val head = FeatherSnapshots.readAll(fs, root).last
    assert(head.files.size === 1020)
  }

  test("a delta append's manifest bytes are O(changed files), not O(files)") {
    val path = tmp("delta_bytes")
    // many-file table: 16 parts at v1
    locally {
      import spark.implicits._
      (1 to 1600).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
        .repartition(16).write.format("feather").mode("overwrite")
        .option("snapshots", "true").save(path)
    }
    writeV(path, 2000, 2000, "append") // v2: ONE new part
    val full = manifestText(path, 1L).length
    val delta = manifestText(path, 2L).length
    assert(delta < full / 4,
      s"one-part append manifest ($delta B) should be far smaller than " +
        s"the 16-part checkpoint ($full B)")
    assert(spark.read.format("feather").load(path).count() === 1601)
  }

  test("expire mid-chain materializes the oldest kept version as a " +
       "checkpoint and keeps every kept version reconstructible") {
    val path = tmp("expire_ckpt")
    // 16-part base: big enough that the size-aware cadence keeps the
    // five one-part appends as deltas (a tiny table would checkpoint
    // mid-chain and this test needs the oldest KEPT version to be a
    // delta when expire runs)
    locally {
      import spark.implicits._
      (1 to 30).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
        .repartition(16).write.format("feather").mode("overwrite")
        .option("snapshots", "true").save(path)
    }
    for (k <- 1 to 5) writeV(path, 100 * k, 100 * k + 4, "append") // v2..v6 deltas
    // keep the last 3 -> oldest kept = v4, a delta whose chain (v1..v3)
    // is about to vanish
    assert(!manifestText(path, 4L).contains("\"files\""))
    val (droppedManifests, _) =
      FeatherSnapshots.expire(fsOf(path), new Path(path), keepLast = 3)
    assert(droppedManifests === 3)
    assert(manifestText(path, 4L).contains("\"files\""),
      "oldest kept version must be rewritten as a full checkpoint")
    // all kept versions reconstruct; dropped ones are loud
    assert(spark.read.format("feather").option("versionAsOf", "4")
      .load(path).count() === 30 + 3 * 5)
    assert(spark.read.format("feather").option("versionAsOf", "6")
      .load(path).count() === 30 + 5 * 5)
    val e = intercept[Exception] {
      spark.read.format("feather").option("versionAsOf", "2")
        .load(path).count()
    }
    assert(e.getMessage.contains("expired or never committed"))
    // a later append keeps working off the materialized checkpoint
    writeV(path, 900, 904, "append") // v7
    assert(spark.read.format("feather").load(path).count() === 30 + 6 * 5)
  }

  test("mutations and maintenance ride the delta log end-to-end") {
    val path = tmp("delta_mut")
    import spark.implicits._
    (1 to 400).map(i => (i.toLong, s"g${i % 3}", s"p_$i"))
      .toDF("id", "grp", "pay")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    graft.io.FeatherMutations.deleteByKey(spark, path,
      Seq(5L, 6L).toDF("id"), Seq("id"))                 // v2 delta
    graft.io.FeatherMutations.merge(spark, path,
      Seq((7L, "gX", "p_7_new"), (401L, "gY", "p_401"))
        .toDF("id", "grp", "pay"), Seq("id"))            // v3 delta
    val t2 = manifestText(path, 2L)
    assert(!t2.contains("\"files\"") && t2.contains("\"remove\""),
      "a pruned delete serializes touched files as remove actions")
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 399)
    assert(after.where(col("id") === 7L).head().getString(2) === "p_7_new")
    assert(after.where(col("id") === 401L).count() === 1)
    // time travel across the delta versions still works
    assert(spark.read.format("feather").option("versionAsOf", "1")
      .load(path).count() === 400)
  }


  test("publishEpoch on a recreated table does not retire replayed parts " +
       "through the stale incarnation's cache") {
    val path = tmp("epoch_recreate")
    val fs = fsOf(path)
    val rp = new Path(path)
    // first incarnation: several epochs populate the JVM-global cache
    fs.mkdirs(new Path(rp, FeatherSnapshots.Dir))
    def stamp(name: String): (String, Long) = {
      val out = fs.create(new Path(rp, name), true)
      out.write(Array.fill[Byte](64)(1)); out.close()
      (name, 64L)
    }
    FeatherSnapshots.commit(fs, rp, "overwrite")(_ => Seq(stamp("a.feather")))
    for (k <- 1 to 3)
      FeatherSnapshots.publishEpoch(fs, rp, Seq(stamp(s"e$k.feather")))
    assert(FeatherSnapshots.latestVersion(fs, rp) === Some(4L))
    // drop and recreate the table at the SAME path: fresh _snapshots with
    // no manifests yet (the crashed-first-commit shape)
    fs.delete(rp, true)
    fs.mkdirs(new Path(rp, FeatherSnapshots.Dir))
    // replayed epoch re-uses a part name from the old incarnation — the
    // stale cache must not filter it as already-referenced (that would
    // silently drop the commit: data on disk invisible forever)
    FeatherSnapshots.publishEpoch(fs, rp, Seq(stamp("e1.feather")))
    assert(FeatherSnapshots.latestVersion(fs, rp) === Some(1L),
      "the recreated table's first epoch must publish a manifest")
    assert(FeatherSnapshots.read(fs, rp, 1L).files.map(_._1) === Seq("e1.feather"))
  }


  test("expireOlderThan retires by commit age, always keeping the head") {
    val path = tmp("expire_age")
    writeV(path, 1, 20, "overwrite")          // v1
    writeV(path, 21, 25, "append")            // v2
    Thread.sleep(150)
    val mid = System.currentTimeMillis()
    Thread.sleep(150)
    writeV(path, 26, 30, "append")            // v3 (younger than mid)
    val fs = fsOf(path)
    // retention = age back to `mid`: v1/v2 are older -> retired; v3 kept
    val (gone, _) = FeatherSnapshots.expireOlderThan(fs, new Path(path),
      retentionMillis = System.currentTimeMillis() - mid)
    assert(gone === 2)
    assert(spark.read.format("feather").load(path).count() === 30)
    intercept[Exception] {
      spark.read.format("feather").option("versionAsOf", "1")
        .load(path).count()
    }
    // a zero-retention expire still keeps the head
    val (gone2, _) = FeatherSnapshots.expireOlderThan(fs, new Path(path), 0L)
    assert(gone2 === 0)
    assert(spark.read.format("feather").load(path).count() === 30)
  }


  test("restore rolls the head back as a new commit, preserving history") {
    val path = tmp("restore")
    writeV(path, 1, 100, "overwrite") // v1
    writeV(path, 101, 150, "append")  // v2
    graft.io.FeatherMutations.deleteByKey(spark, path, {
      import spark.implicits._
      Seq(1L, 2L).toDF("id")
    }, Seq("id"))                     // v3
    val fs = fsOf(path)
    val v = FeatherSnapshots.restore(fs, new Path(path), 1L) // v4 = v1 content
    assert(v === 4L)
    assert(spark.read.format("feather").load(path).count() === 100)
    // history intact: every prior version still time-travels
    assert(spark.read.format("feather").option("versionAsOf", "3")
      .load(path).count() === 148)
    assert(spark.read.format("feather").option("versionAsOf", "2")
      .load(path).count() === 150)
    // history() describes all four commits
    val h = FeatherSnapshots.history(fs, new Path(path))
    assert(h.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(h.map(_._3) ===
      Seq("overwrite", "append", "rowlevel_delete", "restore"))
    assert(h.head._5 === h.last._5, "restore references v1's exact files")
    // a restore whose target is expired is loud
    FeatherSnapshots.expire(fs, new Path(path), keepLast = 1)
    val e = intercept[Exception] {
      FeatherSnapshots.restore(fs, new Path(path), 2L)
    }
    assert(e.getMessage.contains("expired") ||
      e.getMessage.contains("not restorable"))
  }

  test("a version stream hits a restore: loud, then skips under " +
       "ignoreChanges") {
    val path = tmp("restore_stream")
    writeV(path, 1, 50, "overwrite") // v1
    val q = spark.readStream.format("feather").load(path)
      .writeStream.format("memory").queryName("feather_restore_stream")
      .option("checkpointLocation", tmp("restore_stream_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("feather_restore_stream").count() === 50)
      writeV(path, 51, 60, "append") // v2
      q.processAllAvailable()
      assert(spark.table("feather_restore_stream").count() === 60)
      FeatherSnapshots.restore(fsOf(path), new Path(path), 1L) // v3
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("restore") ||
        Option(e.getCause).exists(_.getMessage.contains("restore")))
    } finally q.stop()
    // under ignoreChanges the restore SKIPS (it re-publishes
    // already-delivered rows) and later appends keep flowing
    val q2 = spark.readStream.format("feather")
      .option("ignoreChanges", "true").load(path)
      .writeStream.format("memory").queryName("feather_restore_stream2")
      .option("checkpointLocation", tmp("restore_stream2_ckpt"))
      .start()
    try {
      q2.processAllAvailable() // initial load = restored head (v3 = v1)
      assert(spark.table("feather_restore_stream2").count() === 50)
      FeatherSnapshots.restore(fsOf(path), new Path(path), 2L) // v4 mid-stream
      q2.processAllAvailable()
      assert(spark.table("feather_restore_stream2").count() === 50,
        "a restore must not re-deliver rows under ignoreChanges")
      writeV(path, 61, 70, "append") // v5
      q2.processAllAvailable()
      assert(spark.table("feather_restore_stream2").count() === 60)
    } finally q2.stop()
  }


  test("vacuumOrphansDryRun previews reclamation without deleting") {
    val path = tmp("vacuum_dry")
    writeV(path, 1, 50, "overwrite")
    val fs = fsOf(path)
    val rp = new Path(path)
    // an unreferenced orphan beside the live parts
    val live = FeatherSnapshots.read(fs, rp, 1L).files.head._1
    val orphan = new Path(rp, "orphan-old.feather")
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(path, live), fs, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    val preview = FeatherSnapshots.vacuumOrphansDryRun(fs, rp,
      graceMillis = -1000)
    assert(preview === Seq("orphan-old.feather"))
    assert(fs.exists(orphan), "dry run must not delete")
    // the real pass reclaims exactly the preview
    assert(FeatherSnapshots.vacuumOrphans(fs, rp, graceMillis = -1000) === 1)
    assert(!fs.exists(orphan))
    assert(spark.read.format("feather").load(path).count() === 50)
  }

}
