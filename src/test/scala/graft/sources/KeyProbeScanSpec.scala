package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.connector.write.RowLevelOperationInfo
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftCatalog, GraftTable}

/** A key probe's verdict on a table handle
  * ([[GraftTable.withKeyedMerge]]) drops exactly the files it names from
  * every scan of that handle — the row-level scan and the batch scan —
  * while a file committed after the probe (a blind append, a
  * compaction's output) carries a name the verdict never saw and is
  * planned. */
class KeyProbeScanSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_key_probe_scan/$n"
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
    FeatherSnapshots.resolve(fsOf(p), new Path(p), None).get
      .files.map(_._1).toSet

  private def handle(p: String): GraftTable = {
    val cat = new GraftCatalog
    cat.initialize("graft", CaseInsensitiveStringMap.empty())
    cat.loadTable(Identifier.of(Array.empty[String], p))
      .asInstanceOf[GraftTable]
  }

  /** Files the handle's row-level scan plans. */
  private def rowLevelPlan(t: GraftTable): Set[String] = {
    val info = new RowLevelOperationInfo {
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
      override def command(): Command = Command.MERGE
    }
    t.newRowLevelOperationBuilder(info).build()
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[FaceScan].planned._1.readRel
  }

  /** Files a keyed handle's row-level scan and its batch scan plan. */
  private def planned(t: GraftTable): (Set[String], Set[String]) =
    (rowLevelPlan(t), t.newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[FaceScan].planned._1.readRel)

  test("files committed after the probe are planned: a blind append " +
       "and a compaction of a cleared file") {
    import spark.implicits._
    val path = tmp("later")
    (1 to 400).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
      .repartitionByRange(4, col("id"))
      .write.format("feather").mode("overwrite")
      .option("snapshots", "true").save(path)
    val v1 = headFiles(path)
    assert(v1.size === 4)
    val kept = v1.min
    val cleared = v1 - kept
    val t = handle(path).withKeyedMerge(KeyedMerge(cleared, deleteOnly = false))
    assert(planned(t) === ((Set(kept), Set(kept))))
    // a blind append after the probe
    (1001 to 1010).map(i => (i.toLong, i * 1.0)).toDF("id", "amt")
      .repartition(1).write.format("feather").mode("append").save(path)
    val appended = headFiles(path) -- v1
    assert(appended.size === 1)
    assert(planned(t) === ((Set(kept) ++ appended, Set(kept) ++ appended)))
    // a compaction rewrites the cleared files into new ones
    graft.io.FeatherCompact.compact(spark, path, targetBytes = 1L << 30)
    val compacted = headFiles(path)
    assert(compacted.intersect(cleared).isEmpty)
    assert(planned(t) === ((compacted, compacted)))
    // the handle without a verdict plans every file
    assert(rowLevelPlan(handle(path)) === compacted)
  }
}
