package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FeatherBloom, FeatherMutations}

/** Per-file Bloom sidecars: the point-lookup refinement of the mutation
  * probe. Range stats cannot prune a SCATTERED key list (its span covers
  * every file); the blooms can. */
class FeatherBloomSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_feather_bloom/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }

  /** Range-clustered table holding only EVEN ids — every odd id falls
    * inside some file's [min,max] range but is absent. */
  private def writeEvens(path: String, n: Int, parts: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i * 2L, s"p_$i")).toDF("id", "pay")
      .repartitionByRange(parts, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }

  test("a scattered absent-key delete touches zero files through blooms") {
    val path = tmp("scattered")
    writeEvens(path, 1000, 8)
    assert(FeatherBloom.build(spark, path, "id") === 8)
    import spark.implicits._
    // odd ids: inside the ranges, never present — ranges alone would
    // touch every file the keys land in
    val absent = Seq(11L, 333L, 777L, 1201L, 1999L).toDF("id")
    val r = FeatherMutations.deleteByKey(spark, path, absent, Seq("id"))
    assert(r.filesPlanned === 0, s"blooms must prune absent keys: $r")
    assert(r.filesTouched === 0 && r.version === 1L, s"nothing changes: $r")
    assert(spark.read.format("feather").load(path).count() === 1000)
  }

  test("present keys still delete correctly with blooms active") {
    val path = tmp("present")
    writeEvens(path, 1000, 8)
    FeatherBloom.build(spark, path, "id")
    import spark.implicits._
    // two present (even) keys + two absent (odd) ones
    val keys = Seq(100L, 1500L, 101L, 1501L).toDF("id")
    val r = FeatherMutations.deleteByKey(spark, path, keys, Seq("id"))
    // the blooms drop the absent keys' files from the plan
    assert(r.filesPlanned >= 1 && r.filesPlanned <= 2, s"got $r")
    assert(r.filesTouched >= 1 && r.filesTouched <= 2, s"got $r")
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 998)
    assert(after.where(col("id").isin(100L, 1500L)).count() === 0)
  }

  test("a probe on a different column ignores the sidecars") {
    val path = tmp("other_col")
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, i * 10L)).toDF("id", "alt")
      .repartitionByRange(2, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    FeatherBloom.build(spark, path, "id")
    // delete by `alt`: the id-blooms must not misprune
    val r = FeatherMutations.deleteByKey(spark, path,
      Seq(50L).toDF("alt"), Seq("alt"))
    assert(spark.read.format("feather").load(path)
      .where(col("alt") === 50L).count() === 0)
    assert(r.filesTouched === 1)
  }

  test("mutated parts without blooms stay candidates (no false pruning)") {
    val path = tmp("post_mut")
    writeEvens(path, 400, 4)
    FeatherBloom.build(spark, path, "id")
    import spark.implicits._
    // first delete rewrites one file; its replacement has no bloom
    FeatherMutations.deleteByKey(spark, path, Seq(100L).toDF("id"), Seq("id"))
    // a key in the rewritten file's range must still be found
    val r2 = FeatherMutations.deleteByKey(spark, path, Seq(102L).toDF("id"), Seq("id"))
    assert(r2.filesTouched === 1)
    assert(spark.read.format("feather").load(path)
      .where(col("id").isin(100L, 102L)).count() === 0)
  }

  test("read-path point lookups skip whole files through blooms") {
    val path = tmp("read_skip")
    writeEvens(path, 1000, 4)
    FeatherBloom.build(spark, path, "id")
    def partsFor(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.getNumPartitions
    // absent (odd) key: every file's range covers it, every bloom
    // excludes it → zero input partitions planned
    val absent = spark.read.format("feather").load(path)
      .where(col("id") === 333L)
    assert(absent.count() === 0)
    assert(partsFor(absent) === 0, "bloom must skip all files at plan time")
    // present key: found, and only its file plans
    val present = spark.read.format("feather").load(path)
      .where(col("id") === 500L)
    assert(present.count() === 1)
    assert(partsFor(present) === 1)
    // IN-list of absent keys across several ranges: still zero
    val inAbsent = spark.read.format("feather").load(path)
      .where(col("id").isin(11L, 777L, 1999L))
    assert(inAbsent.count() === 0)
    assert(partsFor(inAbsent) === 0)
  }

  test("cluster(bloomFor) rebuilds sidecars over the new parts") {
    val path = tmp("cluster_bloom")
    import spark.implicits._
    (1 to 500).map(i => (i * 2L, s"p_$i")).toDF("id", "pay")
      .repartition(4, col("id")) // hash layout
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    graft.io.FeatherCluster.cluster(spark, path, Seq("id"),
      targetBytes = 8 << 10, bloomFor = Some("id"))
    // the clustered parts carry fresh blooms: absent-key delete touches 0
    val r = FeatherMutations.deleteByKey(spark, path,
      Seq(11L, 333L).toDF("id"), Seq("id"))
    assert(r.filesPlanned === 0, s"post-cluster blooms must prune: $r")
  }

  test("avro face: bloom sidecars skip whole files on point lookups") {
    val path = tmp("avro_bloom")
    import spark.implicits._
    (1 to 500).map(i => (i * 2L, s"p_$i")).toDF("id", "pay")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("graft-avro").mode("overwrite")
      .option("snapshots", "true").save(path)
    assert(graft.io.FeatherBloom.build(spark, path, "id", ".avro") === 4)
    // absent (odd) key inside every range: blooms skip all files
    val absent = spark.read.format("graft-avro").load(path)
      .where(col("id") === 333L)
    assert(absent.count() === 0)
    assert(absent.rdd.getNumPartitions === 0,
      "bloom must skip all avro files at plan time")
    // present key found
    assert(spark.read.format("graft-avro").load(path)
      .where(col("id") === 500L).count() === 1)
  }

  test("bloom build on an unsupported key type fails loudly") {
    val path = tmp("bad_col")
    import spark.implicits._
    Seq((1L, 0.5)).toDF("id", "frac")
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    // fractional keys have no stable hash identity (0.5 vs 0.5f vs a
    // rounded double) — refused, not silently mis-hashed
    val e = intercept[IllegalArgumentException] {
      FeatherBloom.build(spark, path, "frac")
    }
    assert(e.getMessage.contains("integral or string"))
  }

  /** Range-clustered STRING-keyed table holding only even-numbered doc
    * ids — the odd ones sort inside every file's [min,max] but are
    * absent (the takedown-list-of-doc-ids shape). */
  private def writeStringDocs(path: String, n: Int, parts: Int): Unit = {
    import spark.implicits._
    (1 to n).map(i => (f"doc_${i * 2}%06d", s"p_$i")).toDF("doc", "pay")
      .repartitionByRange(parts, col("doc"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }

  test("string keys: a scattered absent-doc-id delete touches zero files") {
    val path = tmp("str_scattered")
    writeStringDocs(path, 1000, 8)
    assert(FeatherBloom.build(spark, path, "doc") === 8)
    import spark.implicits._
    val absent = Seq("doc_000011", "doc_000333", "doc_001999")
      .toDF("doc") // odd ids: in-range, never present
    val r = FeatherMutations.deleteByKey(spark, path, absent, Seq("doc"))
    assert(r.filesPlanned === 0, s"string blooms must prune absent keys: $r")
    assert(r.filesTouched === 0 && r.version === 1L, s"nothing changes: $r")
    assert(spark.read.format("feather").load(path).count() === 1000)
  }

  test("string keys: present doc-ids still delete correctly with blooms") {
    val path = tmp("str_present")
    writeStringDocs(path, 1000, 8)
    FeatherBloom.build(spark, path, "doc")
    import spark.implicits._
    val keys = Seq("doc_000100", "doc_001500", "doc_000101").toDF("doc")
    val r = FeatherMutations.deleteByKey(spark, path, keys, Seq("doc"))
    assert(r.filesPlanned >= 1 && r.filesPlanned <= 2, s"got $r")
    assert(r.filesTouched >= 1 && r.filesTouched <= 2, s"got $r")
    val after = spark.read.format("feather").load(path)
    assert(after.count() === 998)
    assert(after.where(col("doc").isin("doc_000100", "doc_001500"))
      .count() === 0)
  }

  test("string keys: read-path point lookups skip whole files") {
    val path = tmp("str_read_skip")
    writeStringDocs(path, 1000, 8)
    FeatherBloom.build(spark, path, "doc")
    // an absent doc-id: every file's bloom excludes it -> zero partitions
    val absent = spark.read.format("feather").load(path)
      .where(col("doc") === "doc_000333")
    assert(absent.count() === 0)
    val scan = absent.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(absent.rdd.getNumPartitions === 0,
      s"bloom exclusion should plan zero partitions:\n$scan")
    // a present doc-id still reads
    assert(spark.read.format("feather").load(path)
      .where(col("doc") === "doc_000334").count() === 1)
  }

}
