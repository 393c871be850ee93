package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.PredicateMutations
import graft.sources.FeatherSnapshots

/** replaceWhere (predicate-scoped atomic overwrite,
  * io/PredicateMutations.replaceWhere) and DYNAMIC partition overwrite
  * for SQL INSERT OVERWRITE (the catalog handle's write under Spark's own
  * partitionOverwriteMode conf): the backfill statements — swap one
  * slice atomically, leave every other file untouched. */
class ReplaceOverwriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_replace/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }
  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def headFiles(p: String): Set[String] =
    FeatherSnapshots.resolve(fsOf(p), new Path(p), None)
      .get.files.map(_._1).toSet
  private def headVersion(p: String): Long =
    FeatherSnapshots.resolve(fsOf(p), new Path(p), None).get.version

  // hive-partitioned parquet: day d1..d4 × 100 rows, amt = id
  private def writePartitioned(path: String): Unit = {
    import spark.implicits._
    graft.io.ParquetTable.write(
      (1 to 400).map(i => (i.toLong, i * 1.0, s"d${(i - 1) / 100 + 1}"))
        .toDF("id", "amt", "day"),
      path, partitionBy = Seq("day"))
  }
  // flat feather: 4 range parts, ids 1..400, amt = id
  private def writeFlat(path: String): Unit = {
    import spark.implicits._
    (1 to 400).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
  }

  test("replaceWhere swaps exactly the predicate's slice in ONE commit; " +
       "untouched leaves carry through the manifest") {
    import spark.implicits._
    val path = tmp("leaf_swap")
    writePartitioned(path)
    val before = headFiles(path)
    val v0 = headVersion(path)
    val fresh = (1 to 50).map(i => (1000L + i, -1.0, "d2"))
      .toDF("id", "amt", "day")
    val r = PredicateMutations.replaceWhere(spark, path, fresh,
      col("day") === "d2")
    assert(headVersion(path) === v0 + 1, "one atomic commit")
    val got = graft.io.ParquetTable.read(spark, path)
    assert(got.count() === 300 + 50)
    assert(got.where(col("day") === "d2").count() === 50)
    assert(got.where(col("day") === "d2" && col("amt") =!= -1.0)
      .count() === 0, "the old d2 rows are gone")
    // pruning: only d2's files were candidates; d1/d3/d4 carry through
    val after = headFiles(path)
    val carried = before.intersect(after)
    assert(carried === before.filterNot(_.startsWith("day=d2")),
      "exactly the non-d2 files must carry through untouched")
    assert(r.filesTouched === before.count(_.startsWith("day=d2")))
  }

  test("replaceWhere keeps candidate rows the predicate does NOT select " +
       "(partial-file survivors; NULL keeps, SQL semantics)") {
    import spark.implicits._
    val path = tmp("partial")
    // x is null on multiples of 10
    (1 to 400).map(i =>
        (i.toLong, if (i % 10 == 0) None else Some(i * 1.0)))
      .toDF("id", "x")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val before = headFiles(path)
    // selects x>120 AND id<=200: candidate = part 101..200 (stats-pruned)
    val fresh = Seq((150L, 500.0)).toDF("id", "x")
    val r = PredicateMutations.replaceWhere(spark, path, fresh,
      col("x") > 120 && col("id") <= 200)
    val got = spark.read.format("feather").load(path)
    // replaced: ids 121..200 except null-x rows (130,140,...,200 stay)
    assert(got.where(col("id").between(121, 200) && col("x").isNotNull &&
        col("x") < 500).count() === 0, "selected rows are gone")
    assert(got.where(col("id").between(121, 200) && col("x").isNull)
      .count() === 8, "NULL-predicate rows SURVIVE (SQL semantics)")
    assert(got.where(col("id") === 150L && col("x") === 500.0)
      .count() === 1)
    assert(got.where(col("id").between(101, 120)).count() === 20,
      "unselected rows of the candidate file survive")
    assert(r.filesTouched === 1 && r.filesKept === 3,
      s"stats must prune to the one overlapping part: $r")
    assert(before.intersect(headFiles(path)).size === 3)
  }

  test("replaceWhere refuses data outside the predicate, " +
       "nondeterministic predicates, and nondeterministic data") {
    import spark.implicits._
    val path = tmp("refusals")
    writeFlat(path)
    val e1 = intercept[IllegalArgumentException] {
      PredicateMutations.replaceWhere(spark, path,
        Seq((9999L, 1.0)).toDF("id", "amt"), col("id") < 100)
    }
    assert(e1.getMessage.contains("does NOT select"))
    val e2 = intercept[IllegalArgumentException] {
      PredicateMutations.replaceWhere(spark, path,
        Seq((1L, 1.0)).toDF("id", "amt"), rand() > 0.5)
    }
    assert(e2.getMessage.contains("nondeterministic"))
    val e3 = intercept[IllegalArgumentException] {
      PredicateMutations.replaceWhere(spark, path,
        Seq((1L, 1.0)).toDF("id", "amt")
          .withColumn("amt", rand()), col("id") < 100)
    }
    assert(e3.getMessage.contains("nondeterministic"))
    // nothing committed by any refusal
    assert(headVersion(path) === 1L)
  }

  test("replaceWhere: no-match + no data publishes NO version; empty " +
       "data + match is a pure predicate delete in one commit") {
    import spark.implicits._
    val path = tmp("noop_delete")
    writeFlat(path)
    val empty = Seq.empty[(Long, Double)].toDF("id", "amt")
    val r0 = PredicateMutations.replaceWhere(spark, path, empty,
      col("id") > 10000)
    assert(r0.version === 1L && r0.filesTouched === 0, "replay-clean no-op")
    val r1 = PredicateMutations.replaceWhere(spark, path, empty,
      col("id") > 300)
    assert(r1.version === 2L)
    val got = spark.read.format("feather").load(path)
    assert(got.count() === 300 && got.where(col("id") > 300).count() === 0)
  }

  test("replaceWhere with a PROVEN zero-match predicate is a pure " +
       "insert: no candidate rewrites even when the predicate is " +
       "untranslatable (every file a candidate), and it commits as " +
       "an APPEND") {
    import spark.implicits._
    val path = tmp("insert_only")
    writeFlat(path)
    val before = headFiles(path)
    // modulo is untranslatable → zero pruning, all 4 files candidates;
    // it matches NO existing row (ids 1..400) but does select the
    // fresh row (9999 % 7777 = 2222)
    val fresh = Seq((9999L, 1.0)).toDF("id", "amt")
    val r = PredicateMutations.replaceWhere(spark, path, fresh,
      col("id") % 7777L === 2222L)
    assert(r.filesTouched === 0 && r.filesKept === 4,
      s"a proven zero-match must rewrite nothing: $r")
    val after = headFiles(path)
    assert(before.subsetOf(after), "every data file carries through")
    assert(spark.read.format("feather").load(path).count() === 401)
    assert(FeatherSnapshots.resolve(fsOf(path), new Path(path), None)
      .get.op === "append",
      "removing nothing is a blind append — streams keep flowing")
  }

  test("dynamic overwrite matches victims by TYPED partition value: " +
       "an adopted 'day=07' leaf is replaced by rows spelling day=7") {
    import spark.implicits._
    val path = tmp("typed_victims")
    (1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
      .coalesce(1).write.parquet(s"$path/day=07")
    (21 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
      .coalesce(1).write.parquet(s"$path/day=08")
    graft.io.ParquetTable.adopt(spark, path): Unit
    assert(graft.io.ParquetTable.read(spark, path).count() === 40)
    Seq((100L, 9.0, 7L)).toDF("id", "amt", "day")
      .createOrReplaceTempView("typed_victims_src")
    withOverwriteMode("dynamic") {
      spark.sql(s"INSERT OVERWRITE graft.`$path` " +
        "SELECT id, amt, day FROM typed_victims_src").collect(): Unit
    }
    val got = graft.io.ParquetTable.read(spark, path)
    assert(got.where(col("day") === 7L).count() === 1,
      "the non-canonically spelled 'day=07' leaf must be REPLACED — " +
        "string-matching victims would leave both generations readable")
    assert(got.where(col("day") === 8L).count() === 20,
      "the unnamed leaf is untouched")
  }

  test("replaceWhere respects existing deletion vectors — masked rows " +
       "do not resurrect through the rewrite") {
    val path = tmp("dv_respect")
    writeFlat(path)
    PredicateMutations.deleteWhereDV(spark, path, col("id") % 100 === 0)
    assert(spark.read.format("feather").load(path).count() === 396)
    import spark.implicits._
    val fresh = Seq((950L, 9.5)).toDF("id", "amt")
    PredicateMutations.replaceWhere(spark, path, fresh, col("id") > 300)
    val got = spark.read.format("feather").load(path)
    // 1..300 minus masked {100,200,300} = 297, plus the one fresh row
    assert(got.count() === 297 + 1)
    assert(got.where(col("id") === 400L).count() === 0,
      "the DV-masked row in the rewritten candidate must stay dead")
    assert(got.where(col("id") === 300L).count() === 0,
      "masks on untouched files keep applying")
  }

  test("replaceWhere pins current_timestamp() to ONE instant across " +
       "routed leaves (predicate and data)") {
    import spark.implicits._
    val path = tmp("clock_pin")
    writePartitioned(path)
    val fresh = (1 to 40).map(i =>
        (2000L + i, 0.0, if (i % 2 == 0) "d1" else "d3"))
      .toDF("id", "amt", "day")
      .withColumn("amt", lit(0.0))
    // ts rides in via the data plan's clock call
    val withTs = fresh.withColumn("id",
      col("id") + (unix_timestamp(current_timestamp()) * 0L))
    PredicateMutations.replaceWhere(spark, path, withTs,
      col("day").isin("d1", "d3"))
    val got = graft.io.ParquetTable.read(spark, path)
    assert(got.where(col("day").isin("d1", "d3")).count() === 40)
    // the REAL pin assertion: a timestamp column written across leaves
    val path2 = tmp("clock_pin2")
    import org.apache.spark.sql.types.TimestampType
    graft.io.ParquetTable.write(
      (1 to 20).map(i => (i.toLong, s"d${i % 2}")).toDF("id", "day")
        .withColumn("ts", lit(null).cast(TimestampType)),
      path2, partitionBy = Seq("day"))
    PredicateMutations.replaceWhere(spark, path2,
      (1 to 20).map(i => (i.toLong, s"d${i % 2}")).toDF("id", "day")
        .withColumn("ts", current_timestamp()),
      lit(true))
    val distinctTs = graft.io.ParquetTable.read(spark, path2)
      .select("ts").distinct().count()
    assert(distinctTs === 1L,
      "one statement, one instant, across every routed leaf")
  }

  test("replaceWhere alignment: extra column refuses with evolution " +
       "guidance; missing partition column refuses; lossy cast refuses") {
    import spark.implicits._
    val path = tmp("align")
    writePartitioned(path)
    val e1 = intercept[IllegalArgumentException] {
      PredicateMutations.replaceWhere(spark, path,
        Seq((1L, 1.0, "d1", "x")).toDF("id", "amt", "day", "extra"),
        col("day") === "d1")
    }
    assert(e1.getMessage.contains("never evolves the schema"))
    val e2 = intercept[IllegalArgumentException] {
      PredicateMutations.replaceWhere(spark, path,
        Seq((1L, 1.0)).toDF("id", "amt"), col("day") === "d1")
    }
    assert(e2.getMessage.contains("partition column"))
    val e3 = intercept[IllegalArgumentException] {
      PredicateMutations.replaceWhere(spark, path,
        Seq(("not_a_long", 1.0, "d1")).toDF("id", "amt", "day"),
        col("day") === "d1")
    }
    assert(e3.getMessage.contains("lossless"))
    // missing DATA column is legal: reads as NULL in the new rows
    PredicateMutations.replaceWhere(spark, path,
      Seq((5000L, "d1")).toDF("id", "day"), col("day") === "d1")
    val got = graft.io.ParquetTable.read(spark, path)
    assert(got.where(col("day") === "d1").count() === 1)
    assert(got.where(col("id") === 5000L && col("amt").isNull)
      .count() === 1)
  }

  private def withOverwriteMode[A](mode: String)(body: => A): A = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("INSERT OVERWRITE under DYNAMIC mode replaces exactly the leaves " +
       "the query's rows land in; untouched leaves carry through") {
    import spark.implicits._
    val path = tmp("dyn_overwrite")
    writePartitioned(path)
    val before = headFiles(path)
    (1 to 30).map(i => (5000L + i, -2.0, if (i % 2 == 0) "d2" else "d4"))
      .toDF("id", "amt", "day")
      .createOrReplaceTempView("dyn_src")
    withOverwriteMode("dynamic") {
      spark.sql(s"INSERT OVERWRITE graft.`$path` " +
        "SELECT id, amt, day FROM dyn_src").collect(): Unit
    }
    val got = graft.io.ParquetTable.read(spark, path)
    assert(got.where(col("day").isin("d1", "d3")).count() === 200,
      "leaves the query does not name are untouched")
    assert(got.where(col("day").isin("d2", "d4")).count() === 30,
      "named leaves are replaced whole")
    val after = headFiles(path)
    assert(before.intersect(after) ===
      before.filter(r => r.startsWith("day=d1") || r.startsWith("day=d3")),
      "d1/d3 files carry through; d2/d4 files are replaced")
  }

  test("DYNAMIC zero-row overwrite is a version-clean NO-OP; STATIC " +
       "(default) still truncates the whole table") {
    import spark.implicits._
    val path = tmp("dyn_zero")
    writePartitioned(path)
    val v0 = headVersion(path)
    Seq.empty[(Long, Double, String)].toDF("id", "amt", "day")
      .createOrReplaceTempView("dyn_empty")
    withOverwriteMode("dynamic") {
      spark.sql(s"INSERT OVERWRITE graft.`$path` " +
        "SELECT id, amt, day FROM dyn_empty").collect(): Unit
    }
    assert(headVersion(path) === v0, "dynamic + zero rows publishes nothing")
    assert(graft.io.ParquetTable.read(spark, path).count() === 400)
    // static mode: the same statement truncates (Spark/Hive semantics)
    spark.sql(s"INSERT OVERWRITE graft.`$path` " +
      "SELECT id, amt, day FROM dyn_empty").collect(): Unit
    assert(graft.io.ParquetTable.read(spark, path).count() === 0)
    assert(headVersion(path) === v0 + 1)
  }

  test("a PARTITIONED insert of a nondeterministic query materializes " +
       "it once and lands exactly its rows (Spark/Delta sink parity)") {
    import spark.implicits._
    val path = tmp("nondeterm_ins")
    writePartitioned(path)
    Seq((1L, "d1"), (2L, "d1"), (3L, "d9")).toDF("id", "day")
      .createOrReplaceTempView("nd_src")
    // pre-materialization, the routed write's per-leaf re-evaluation
    // could draw rand() differently per job — the insert used to refuse;
    // it now localCheckpoints the one evaluation and routes THAT
    val before = graft.io.ParquetTable.read(spark, path).count()
    spark.sql(s"INSERT INTO graft.`$path` " +
      "SELECT id, rand(), day FROM nd_src").collect(): Unit
    val after = graft.io.ParquetTable.read(spark, path)
    assert(after.count() === before + 3, "exactly the drawn rows landed")
    assert(after.where(col("day") === "d9").count() === 1,
      "routing agrees with the materialized draw")
    // a FLAT insert stays unguarded (single write job — rand() is legal)
    val flat = tmp("nondeterm_flat")
    writeFlat(flat)
    spark.sql(s"INSERT INTO graft.`$flat` " +
      "SELECT 9999L, rand()").collect(): Unit
    assert(spark.read.format("feather").load(flat).count() === 401)
  }

  test("a FLAT feather table takes predicate and dynamic overwrites " +
       "through the catalog write: overwrite(condition) is replaceWhere, " +
       "overwritePartitions replaces the whole table") {
    import spark.implicits._
    val path = tmp("flat_overwrite")
    (1 to 10).map(i => (i.toLong, s"p$i")).toDF("id", "pay")
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    Seq((100L, "new")).toDF("id", "pay")
      .writeTo(s"graft.`$path`").overwrite(col("id") > 5)
    assert(headVersion(path) === 2L, "one commit")
    assert(spark.sql(s"SELECT id FROM graft.`$path` ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 100L))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try Seq((7L, "dyn")).toDF("id", "pay")
      .writeTo(s"graft.`$path`").overwritePartitions()
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(spark.sql(s"SELECT id, pay FROM graft.`$path`").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((7L, "dyn")))
  }
}
