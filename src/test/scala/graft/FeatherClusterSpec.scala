package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FeatherCluster, FeatherMutations}
import graft.sources.FeatherSnapshots

/** OPTIMIZE-style re-clustering: content preservation, the pruning payoff
  * for subsequent key-banded mutations, time travel, and per-leaf
  * independence on hive layouts. */
class FeatherClusterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_feather_clust/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Arrival-ordered worst case: HASH-partitioned, so every file's id
    * range spans the whole domain and nothing prunes. */
  private def writeHashed(path: String, n: Int, parts: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartition(parts, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }

  test("cluster preserves content exactly and bumps one version") {
    val path = tmp("content")
    writeHashed(path, 1000, 8)
    val before = spark.read.format("feather").load(path)
      .orderBy("id").collect().toSeq
    val r = FeatherCluster.cluster(spark, path, Seq("id"))
    assert(r.version === 2L)
    assert(r.filesBefore === 8)
    val after = spark.read.format("feather").load(path)
      .orderBy("id").collect().toSeq
    assert(after === before)
  }

  test("re-clustering turns touch-everything mutations into banded ones") {
    val path = tmp("prune_payoff")
    writeHashed(path, 2000, 8)
    import spark.implicits._
    // hash layout: a 50-key band overlaps every file's range
    val r1 = FeatherMutations.deleteByKey(spark, path,
      (100L to 149L).toDF("id"), Seq("id"))
    assert(r1.filesPlanned === 8, s"hash layout should plan all: $r1")
    val rc = FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 4096) // force several output parts at test size
    assert(rc.filesAfter > 1, s"want multiple clustered parts: $rc")
    // clustered layout: the next band touches a strict subset
    val r2 = FeatherMutations.deleteByKey(spark, path,
      (300L to 349L).toDF("id"), Seq("id"))
    assert(r2.filesPlanned < rc.filesAfter,
      s"clustered delete must prune: $r2 of ${rc.filesAfter}")
    val left = spark.read.format("feather").load(path)
    assert(left.count() === 1900)
    assert(left.where(col("id").between(100, 149) ||
      col("id").between(300, 349)).count() === 0)
  }

  test("time travel: the pre-cluster version still reads") {
    val path = tmp("tt")
    writeHashed(path, 300, 4)
    FeatherCluster.cluster(spark, path, Seq("id"))
    val v1 = spark.read.format("feather").option("versionAsOf", "1").load(path)
    assert(v1.count() === 300)
    // expire reclaims the unclustered originals
    val (gone, files) = FeatherSnapshots.expire(fsOf(path), new Path(path), 1)
    assert(gone === 1 && files === 4)
    assert(spark.read.format("feather").load(path).count() === 300)
  }

  test("hive leaves cluster independently") {
    val path = tmp("leaves")
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, s"d${i % 2}", s"p_$i"))
      .toDF("id", "dom", "pay")
    Seq("d0", "d1").foreach { dm =>
      graft.io.GraftFeather.write(
        df.where(col("dom") === dm).drop("dom").repartition(3, col("id")),
        s"$path/dom=$dm", overwrite = true)
    }
    FeatherSnapshots.adopt(fsOf(path), new Path(path))
    val r = FeatherCluster.cluster(spark, path, Seq("id"))
    assert(r.filesBefore === 6)
    val snap = FeatherSnapshots.read(fsOf(path), new Path(path), r.version)
    // every output stays inside its leaf
    assert(snap.files.forall { case (rel, _) =>
      rel.startsWith("dom=d0/") || rel.startsWith("dom=d1/") })
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 400)
    assert(after.where(col("dom") === "d0").count() === 200)
  }

  test("clustering an emptied table never commits an empty manifest") {
    val path = tmp("empty_table")
    writeHashed(path, 30, 2)
    import spark.implicits._
    FeatherMutations.deleteByKey(spark, path, (1L to 30L).toDF("id"), Seq("id"))
    assert(spark.read.format("feather").load(path).count() === 0)
    val r = FeatherCluster.cluster(spark, path, Seq("id"))
    // the schema-only stamp keeps the table readable at head
    assert(r.filesAfter >= 1)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 0)
    assert(after.columns.toSeq === Seq("id", "pay"))
  }

  test("unknown cluster column fails loudly") {
    val path = tmp("badcol")
    writeHashed(path, 50, 2)
    val e = intercept[IllegalArgumentException] {
      FeatherCluster.cluster(spark, path, Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("clusterZOrder makes band mutations on EVERY dimension prunable") {
    val path = tmp("zorder")
    import spark.implicits._
    // 2-D grid: x = id % 300, y = id / 300 — a hash layout spans both
    // dimensions in every file, and LEXICOGRAPHIC clustering on (x, y)
    // would only serve x
    spark.range(90000)
      .select(col("id"), (col("id") % 300).as("x"),
        (col("id") / 300).cast("long").as("y"))
      .repartition(8, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val r0 = graft.io.FeatherMutations.deleteByKey(spark, path,
      spark.range(100L, 111L).select(col("id").as("y")), Seq("y"))
    assert(r0.filesPlanned === 8, s"hash layout plans all parts: $r0")
    val rc = graft.io.FeatherCluster.clusterZOrder(spark, path,
      Seq("x", "y"), bitsPerDim = 10, targetBytes = 60 << 10)
    assert(rc.filesAfter >= 8, s"want a real file population: $rc")
    // a band on the SECOND dimension prunes (the z-box bounds y)
    val ry = graft.io.FeatherMutations.deleteByKey(spark, path,
      spark.range(200L, 206L).select(col("id").as("y")), Seq("y"))
    assert(ry.filesPlanned < rc.filesAfter,
      s"y-band must plan a strict subset: $ry of ${rc.filesAfter}")
    // and so does a band on the first
    val rx = graft.io.FeatherMutations.deleteByKey(spark, path,
      spark.range(10L, 16L).select(col("id").as("x")), Seq("x"))
    assert(rx.filesPlanned < rc.filesAfter,
      s"x-band must plan a strict subset: $rx of ${rc.filesAfter}")
    // content integrity after the three mutations
    val after = spark.read.format("feather").load(path)
    // 11 y-rows + 6 y-rows + 6 x-columns, minus the x-column cells the
    // two y-band deletes already removed (17 shared cells per column)
    assert(after.count() === 90000L - 11 * 300 - 6 * 300 - (6 * 300 - 6 * 17))
    assert(after.where(col("y") === 105L).count() === 0)
  }

  test("clusterZOrder over MIXED (date, string) dimensions: bands on " +
       "both dimensions prune after the rewrite") {
    val path = tmp("zorder_mixed")
    import spark.implicits._
    // 300 days × 300 categories; category names share a long prefix so a
    // lexicographic min-max would collapse them — the sampled-rank
    // mapping must still spread them
    spark.range(90000)
      .select(col("id"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          (col("id") % 300).cast("int")).as("day"),
        concat(lit("category_prefix_"),
          format_string("%03d", (col("id") / 300).cast("int"))).as("cat"))
      .repartition(8, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    // hash layout: a date band touches everything
    val r0 = graft.io.FeatherMutations.deleteByKey(spark, path,
      (0 until 5).map(i => java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(290 + i).toString))
        .toDF("day"), Seq("day"))
    assert(r0.filesPlanned === 8, s"hash layout plans all parts: $r0")
    val rc = graft.io.FeatherCluster.clusterZOrder(spark, path,
      Seq("day", "cat"), bitsPerDim = 10, targetBytes = 60 << 10)
    assert(rc.filesAfter >= 8, s"want a real file population: $rc")
    // DATE band (epoch-day probe family + DateType stats)
    val rd = graft.io.FeatherMutations.deleteByKey(spark, path,
      (0 until 5).map(i => java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(100 + i).toString))
        .toDF("day"), Seq("day"))
    assert(rd.filesPlanned < rc.filesAfter,
      s"date band must plan a strict subset: $rd of ${rc.filesAfter}")
    // STRING band (sampled-rank dimension; probe via string stats)
    val rs = graft.io.FeatherMutations.deleteByKey(spark, path,
      (200 until 206).map(i => f"category_prefix_$i%03d").toDF("cat"),
      Seq("cat"))
    assert(rs.filesPlanned < rc.filesAfter,
      s"string band must plan a strict subset: $rs of ${rc.filesAfter}")
    // content integrity: 5 + 5 day-rows of 300, 6 cat-columns of 300
    // minus the 10-day cells those deletes already removed
    val after = spark.read.format("feather").load(path)
    assert(after.count() ===
      90000L - 5 * 300 - 5 * 300 - (6 * 300 - 6 * 10))
    assert(after.where(col("cat") === "category_prefix_203").count() === 0)
    assert(after.where(col("day") ===
      java.sql.Date.valueOf("2020-04-12")).count() === 0) // day 102
  }

  test("incremental cluster rewrites ONLY files appended since the last " +
       "cluster commit; clustered generations carry through; a no-new-" +
       "files run is a true no-op") {
    import spark.implicits._
    val path = tmp("incremental")
    writeHashed(path, 20000, 8)
    val r1 = FeatherCluster.cluster(spark, path,
      Seq("id"), targetBytes = 64 << 10)
    assert(r1.filesAfter >= 4, s"want several clustered files: $r1")
    val clustered = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.files.map(_._1).toSet
    // a small append lands 2 hash-ordered files
    (20001 to 21000).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartition(2, col("id"))
      .write.format("feather").mode("append").save(path)
    val r2 = FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 64 << 10, incremental = true)
    assert(r2.version === 4L)
    val head = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    // every clustered-generation file carried through untouched
    assert(clustered.subsetOf(head.files.map(_._1).toSet),
      "incremental must not touch the clustered generation")
    // rewrite work ∝ new data: 2 appended files -> few small parts
    val newParts = head.files.map(_._1).toSet -- clustered
    assert(newParts.nonEmpty && newParts.size <= 3,
      s"the rewrite set is the 2 appended files, got $newParts")
    // band-prune payoff holds across BOTH generations
    val rd = graft.io.FeatherMutations.deleteByKey(spark, path,
      ((100L to 120L) ++ (20500L to 20520L)).toDF("id"), Seq("id"))
    // each band hits exactly one file PER GENERATION (both clustered)
    assert(rd.filesPlanned <= 2 && rd.filesPlanned < head.files.size,
      s"banded delete must prune across generations: $rd")
    // content survives
    assert(spark.read.format("feather").load(path).count() === 21000 - 42)
    // the delete's replacement parts are post-cluster "new" files: one
    // more incremental run sweeps exactly those ...
    val r3 = FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 64 << 10, incremental = true)
    assert(r3.version > rd.version)
    // ... and with nothing new since, the next run commits NOTHING
    val r4 = FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 64 << 10, incremental = true)
    assert(r4.version === FeatherSnapshots.latestVersion(
      fsOf(path), new Path(path)).get)
    assert(r4.filesBefore === r4.filesAfter)
  }

  test("a blind append racing the cluster commit rides its manifest " +
       "UN-clustered and the next incremental run sweeps it in") {
    import spark.implicits._
    val path = tmp("inc_raced")
    writeHashed(path, 4000, 4)
    // inject an append INSIDE the cluster's commit window: the conflict
    // matrix folds it into the published manifest without clustering it
    FeatherSnapshots.testBeforeMutationCommit = () => {
      (4001 to 4100).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
        .repartition(1)
        .write.format("feather").mode("append").save(path)
    }
    FeatherCluster.cluster(spark, path, Seq("id"), targetBytes = 64 << 10)
    val afterFull = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    val raced = afterFull.files.map(_._1)
      .filterNot(n => n.substring(n.lastIndexOf('/') + 1)
        .startsWith("clust-"))
    assert(raced.size === 1, s"the raced append rides the manifest: $raced")
    // the incremental run must treat the raced file as NEW work
    val r = FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 64 << 10, incremental = true)
    assert(r.version === afterFull.version + 1,
      "incremental sweeps the raced append in")
    val head = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    assert(head.files.forall { case (rel, _) =>
      rel.substring(rel.lastIndexOf('/') + 1).startsWith("clust-") })
    assert(spark.read.format("feather").load(path).count() === 4100)
  }

  test("incremental zorder sweeps only the new files on the parquet face") {
    import spark.implicits._
    val path = tmp("inc_zorder_pq")
    val df = (1 to 10000).map(i => ((i * 37) % 1000L, (i * 91) % 500L, s"r$i"))
      .toDF("x", "y", "pay").repartition(4)
    graft.io.ParquetTable.write(df, path)
    FeatherCluster.clusterZOrder(spark, path, Seq("x", "y"),
      targetBytes = 64 << 10)
    val clustered = FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.files.map(_._1).toSet
    graft.io.ParquetTable.append(
      Seq((5L, 7L, "new1"), (900L, 400L, "new2")).toDF("x", "y", "pay"), path)
    val r = FeatherCluster.clusterZOrder(spark, path, Seq("x", "y"),
      targetBytes = 64 << 10, incremental = true)
    val head = FeatherSnapshots.resolve(fsOf(path), new Path(path), None).get
    assert(clustered.subsetOf(head.files.map(_._1).toSet))
    assert(head.files.size === clustered.size + 1,
      "two tiny appended files fold into one z-clustered part")
    assert(graft.io.ParquetTable.read(spark, path).count() === 10002)
    assert(r.filesAfter === head.files.size)
  }
}
