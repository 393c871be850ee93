package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FeatherCluster, FeatherMutations}
import graft.sources.FeatherSnapshots

/** The optimistic-concurrency conflict matrix
  * (FeatherSnapshots.commitMutation): interleavings are injected through
  * the one-shot `testBeforeMutationCommit` seam — the hook runs in the
  * window between a mutation computing its rewrite and publishing its
  * manifest, exactly where a concurrent committer races in.
  *
  *  - mutation vs blind append: BOTH commit, no lost update
  *  - mutation vs mutation: the loser aborts loudly
  *  - mutation vs overwrite: the loser aborts loudly
  *  - append vs append: commutes (covered by the snapshot-commit retry
  *    loop; FeatherSnapshotsSpec).
  */
class ConcurrencySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_conc_test/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

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
  private def appendRows(path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.map(i => (i, s"g${i % 3}", s"p_$i")).toDF("id", "grp", "pay")
      .repartition(1).write.format("feather").mode("append").save(path)
  }

  test("delete racing a blind append: both commit, no lost update") {
    val path = tmp("del_vs_append")
    writeTable(path, 400, 4)
    // the append lands BETWEEN the delete's read and its commit — and
    // one appended row (id 10) carries a key the delete targets
    FeatherSnapshots.testBeforeMutationCommit =
      () => appendRows(path, Seq(1001L, 10L))
    val r = FeatherMutations.deleteByKey(spark, path,
      keysOf(Seq(10L, 11L)), Seq("id"))
    assert(r.filesTouched > 0)
    val after = spark.read.format("feather").load(path)
    // original rows 10, 11 deleted; appended 1001 survives; appended 10
    // ALSO survives — write-serializable: the delete serialized before
    // the blind append, so the append's rows are not subject to its keys
    assert(after.where(col("id") === 11L).count() === 0)
    assert(after.where(col("id") === 1001L).count() === 1)
    assert(after.where(col("id") === 10L).count() === 1,
      "a blind append's row is not retroactively deleted")
    assert(after.count() === 400L - 2 + 2)
    // both commits are in the history (a keyed delete commits as a
    // row-level delete)
    val hist = FeatherSnapshots.history(fsOf(path), new Path(path))
    assert(hist.map(_._3) === Seq("overwrite", "append", "rowlevel_delete"))
  }

  test("DV delete racing a blind append commits both too") {
    val path = tmp("dv_vs_append")
    writeTable(path, 400, 4)
    FeatherSnapshots.testBeforeMutationCommit =
      () => appendRows(path, Seq(2002L))
    val r = FeatherMutations.deleteByKeyDV(spark, path,
      keysOf(Seq(20L)), Seq("id"))
    assert(r.partsWritten === 1)
    val after = spark.read.format("feather").load(path)
    assert(after.where(col("id") === 20L).count() === 0)
    assert(after.where(col("id") === 2002L).count() === 1)
    assert(after.count() === 400)
  }

  test("two deletes conflict loudly; the table holds the winner's state") {
    val path = tmp("del_vs_del")
    writeTable(path, 400, 2)
    FeatherSnapshots.testBeforeMutationCommit = () => {
      FeatherMutations.deleteByKey(spark, path, keysOf(Seq(30L)), Seq("id"))
      ()
    }
    val e = intercept[IllegalArgumentException] {
      FeatherMutations.deleteByKey(spark, path, keysOf(Seq(31L)), Seq("id"))
    }
    assert(e.getMessage.contains("conflict with a concurrent commit"))
    val after = spark.read.format("feather").load(path)
    assert(after.where(col("id") === 30L).count() === 0, "winner applied")
    assert(after.where(col("id") === 31L).count() === 1,
      "loser aborted without publishing — no half-applied state")
  }

  test("a DV delete and a COW delete on the same state conflict loudly " +
       "in either order") {
    val path = tmp("dv_vs_cow")
    writeTable(path, 400, 2)
    FeatherSnapshots.testBeforeMutationCommit = () => {
      FeatherMutations.deleteByKeyDV(spark, path, keysOf(Seq(40L)), Seq("id"))
      ()
    }
    val e = intercept[IllegalArgumentException] {
      FeatherMutations.deleteByKey(spark, path, keysOf(Seq(41L)), Seq("id"))
    }
    assert(e.getMessage.contains("conflict"))
    // and the reverse: COW winner, DV loser
    FeatherSnapshots.testBeforeMutationCommit = () => {
      FeatherMutations.deleteByKey(spark, path, keysOf(Seq(42L)), Seq("id"))
      ()
    }
    val e2 = intercept[IllegalArgumentException] {
      FeatherMutations.deleteByKeyDV(spark, path, keysOf(Seq(43L)), Seq("id"))
    }
    assert(e2.getMessage.contains("conflict"))
    val after = spark.read.format("feather").load(path)
    assert(after.where(col("id").isin(40L, 42L)).count() === 0)
    assert(after.where(col("id").isin(41L, 43L)).count() === 2)
  }

  test("two predicate DELETEs on DISJOINT partitions both commit " +
       "(logical conflict detection scoped to the read set); the " +
       "same-partition pairing still aborts") {
    val path = tmp("disjoint_del")
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"d${(i - 1) / 100}", i * 1.0))
      .toDF("id", "day", "amt")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    // the rival delete (day=d0) lands inside the day=d2 delete's commit
    // window — their pruned candidates are different leaves entirely
    FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.PredicateMutations.deleteWhere(spark, path,
        col("day") === "d0" && col("id") <= 10): Unit
    }
    val r = graft.io.PredicateMutations.deleteWhere(spark, path,
      col("day") === "d2" && col("id") > 290)
    assert(r.filesTouched > 0, s"the disjoint loser must commit: $r")
    val after = graft.io.ParquetTable.read(spark, path)
    assert(after.count() === 300 - 10 - 10)
    assert(after.where(col("id") <= 10).count() === 0, "winner applied")
    assert(after.where(col("id") > 290).count() === 0,
      "loser rebased onto the winner's manifest and landed")
    val hist = FeatherSnapshots.history(fsOf(path), new Path(path))
    assert(hist.map(_._3).count(_ == "rowlevel_delete") === 2,
      s"both deletes in history: ${hist.map(_._3)}")
    // OVERLAPPING candidates still abort loudly: both deletes target
    // the same row, so their pruned candidate sets share its file
    // (adjacent ids can legitimately land in different parts of one
    // leaf — and two such deletes commuting is the new contract)
    FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.PredicateMutations.deleteWhere(spark, path,
        col("day") === "d1" && col("id") === 150L): Unit
    }
    val e = intercept[IllegalArgumentException] {
      graft.io.PredicateMutations.deleteWhere(spark, path,
        col("day") === "d1" && col("id") === 150L && col("amt") > 0)
    }
    assert(e.getMessage.contains("conflict with a concurrent commit"))
    val fin = graft.io.ParquetTable.read(spark, path)
    assert(fin.where(col("id") === 150L).count() === 0, "winner applied")
    assert(fin.count() === 279, "loser aborted without publishing")
  }

  test("disjoint-partition DV deletes both commit; each leaf carries " +
       "its own masks") {
    val path = tmp("disjoint_dv")
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"d${(i - 1) / 100}", i * 1.0))
      .toDF("id", "day", "amt")
    graft.io.ParquetTable.write(df, path, partitionBy = Seq("day"))
    FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.PredicateMutations.deleteWhereDV(spark, path,
        col("day") === "d0" && col("id") === 5L): Unit
    }
    val r = graft.io.PredicateMutations.deleteWhereDV(spark, path,
      col("day") === "d1" && col("id") === 105L)
    assert(r.partsWritten === 1, s"the disjoint DV loser must commit: $r")
    val after = graft.io.ParquetTable.read(spark, path)
    assert(after.count() === 198)
    assert(after.where(col("id").isin(5L, 105L)).count() === 0,
      "both masks serve reads")
  }

  test("a mutation racing an overwrite aborts loudly") {
    val path = tmp("del_vs_ow")
    writeTable(path, 200, 2)
    FeatherSnapshots.testBeforeMutationCommit = () => writeTable(path, 50, 1)
    val e = intercept[IllegalArgumentException] {
      FeatherMutations.deleteByKey(spark, path, keysOf(Seq(5L)), Seq("id"))
    }
    assert(e.getMessage.contains("conflict"))
    assert(spark.read.format("feather").load(path).count() === 50,
      "the overwrite's state stands untouched")
  }

  test("cluster racing a blind append commits both; the appended file " +
       "carries through un-clustered") {
    val path = tmp("clust_vs_append")
    writeTable(path, 400, 4)
    FeatherSnapshots.testBeforeMutationCommit =
      () => appendRows(path, Seq(3003L))
    val r = FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 16L << 10)
    assert(r.version === 3L)
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 401)
    assert(after.where(col("id") === 3003L).count() === 1)
  }

  test("compaction racing a concurrent mutation aborts loudly") {
    val path = tmp("compact_vs_mut")
    import spark.implicits._
    // many small parts so compaction forms groups
    (1 to 300).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartition(6).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    FeatherSnapshots.testBeforeMutationCommit = () => {
      FeatherMutations.deleteByKey(spark, path, keysOf(Seq(7L)), Seq("id"))
      ()
    }
    val e = intercept[IllegalArgumentException] {
      graft.io.FeatherCompact.compact(spark, path, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("conflict"))
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 299, "the delete's update is not lost")
    assert(after.where(col("id") === 7L).count() === 0)
  }

  test("two compactions racing from one snapshot: the loser aborts and " +
       "never touches the winner's committed outputs") {
    val path = tmp("compact_vs_compact")
    import spark.implicits._
    (1 to 300).map(i => (i.toLong, s"p_$i")).toDF("id", "pay")
      .repartition(6).write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    // the rival compaction plans from the SAME v1 snapshot and wins the
    // commit inside the loser's race window (hook is one-shot, so the
    // rival itself runs unhooked)
    FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.FeatherCompact.compact(spark, path,
        targetBytes = 1L << 30): Unit
    }
    val e = intercept[IllegalArgumentException] {
      graft.io.FeatherCompact.compact(spark, path, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("conflict"))
    // every file the winning commit references must still exist — the
    // loser's outputs carry a run-unique name, so it can neither have
    // pre-deleted nor renamed over the winner's (identically-planned)
    // output in its pre-commit window
    val fs = fsOf(path)
    val head = FeatherSnapshots.resolve(fs, new Path(path), None).get
    val headNames = head.files.map(_._1).toSet
    headNames.foreach { rel =>
      assert(fs.exists(new Path(new Path(path), rel)),
        s"winner's committed file $rel is missing — the loser unlinked it")
    }
    // and the loser's orphans are DISTINCT names, left for vacuum —
    // not silent replacements of the winner's
    val onDisk = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".feather") &&
        !f.getName.startsWith(".")).map(_.getName).toSet
    assert((onDisk -- headNames).exists(_.contains("-cpt")),
      s"expected the loser's run-unique orphan outputs on disk, " +
        s"got ${(onDisk -- headNames).mkString(", ")}")
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 300)
    assert(after.agg(sum("id")).head().getLong(0) ===
      (1 to 300).map(_.toLong).sum)
  }
}
