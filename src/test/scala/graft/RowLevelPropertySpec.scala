package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Seeded random CATALOG-ONLY DML sequences (Spark's own rewrite
  * machinery, no graft extensions) checked step-by-step against an
  * in-memory model — on BOTH strategies: `graft` (group-based COW) and
  * `graft_dv` (delta, DV sidecars). The same statement stream must
  * produce the same table contents regardless of strategy, and the
  * delta strategy must never rewrite a data file on a delete-only
  * step (bytes ∝ deleted rows — the merge-on-read contract). */
class RowLevelPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = java.nio.file.Files
    .createTempDirectory("graft_rlprop_wh").toString

  private lazy val plain: SparkSession = {
    val s = org.apache.spark.sql.graft.Bridge.sessionWithoutExtensions(
      TestSpark.spark, Map(
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
        "spark.sql.catalog.graft.warehouse" -> wh,
        "spark.sql.catalog.graft_dv" -> "graft.catalog.GraftCatalog",
        "spark.sql.catalog.graft_dv.warehouse" -> wh))
    SparkSession.setActiveSession(s)
    SparkSession.setDefaultSession(s)
    s
  }

  override def afterAll(): Unit = {
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh)): Unit
  }

  private def contents(name: String): Map[Long, Long] = {
    val rows = plain.sql(s"SELECT id, v FROM $name").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length,
      s"$name holds duplicate ids: ${rows.sorted.toSeq}")
    rows.toMap
  }

  private def dataFiles(rel: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$wh/$rel")
    graft.sources.FeatherSnapshots.resolve(
      root.getFileSystem(plain.sparkContext.hadoopConfiguration),
      root, None).get.files.map(_._1).filter(_.startsWith("part-")).toSet
  }

  test("seeded DML sequences match the model on both strategies; delta " +
       "deletes never rewrite data files") {
    plain.sql("CREATE NAMESPACE IF NOT EXISTS graft.rlp")
    for (seed <- 1 to 3; dv <- Seq(false, true)) {
      val cat = if (dv) "graft_dv" else "graft"
      val t = s"t${seed}${if (dv) "d" else "c"}"
      val name = s"$cat.rlp.$t"
      val rnd = new scala.util.Random(seed * 31 + (if (dv) 7 else 0))
      plain.sql(s"CREATE TABLE graft.rlp.$t (id BIGINT, v BIGINT) " +
        "USING feather")
      var model = Map.empty[Long, Long]
      var nextBase = 0L
      for (step <- 0 until 7) {
        val what = rnd.nextInt(4)
        val ctx = s"$name seed=$seed step=$step op=$what"
        what match {
          case 0 => // fresh-range insert
            val n = 5 + rnd.nextInt(15)
            plain.sql(s"INSERT INTO $name SELECT id + $nextBase AS id, " +
              s"id * 3 + $nextBase AS v FROM range(0, $n)")
            model ++= (0L until n).map(i =>
              (i + nextBase) -> (i * 3 + nextBase))
            nextBase += 100
          case 1 => // predicate delete
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val before = if (dv) dataFiles(s"rlp/$t") else Set.empty[String]
            plain.sql(s"DELETE FROM $name WHERE id % $m = $r")
            model = model.filter { case (id, _) => id % m != r }
            if (dv) {
              val after = dataFiles(s"rlp/$t")
              assert(after.subsetOf(before),
                s"$ctx: a delta DELETE must never ADD or REWRITE data " +
                  s"files (new: ${after -- before})")
            }
          case 2 => // predicate update
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            plain.sql(s"UPDATE $name SET v = v + 10000 WHERE id % $m = $r")
            model = model.map { case (id, v) =>
              id -> (if (id % m == r) v + 10000 else v) }
          case 3 => // merge upsert over a range straddling the live ids
            val lo = rnd.nextInt(nextBase.toInt.max(1))
            val n = 5 + rnd.nextInt(10)
            plain.sql(s"MERGE INTO $name t USING (SELECT id + $lo AS id, " +
              s"CAST(-1 AS BIGINT) AS nv FROM range(0, $n)) s " +
              "ON t.id = s.id " +
              "WHEN MATCHED THEN UPDATE SET v = s.nv " +
              "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)")
            model ++= (0L until n).map(i => (i + lo) -> -1L)
            // the upsert may mint ids ABOVE nextBase — a later fresh
            // insert must never duplicate them (INSERT INTO appends)
            nextBase = math.max(nextBase, lo + n)
        }
        assert(contents(name) == model, s"$ctx: contents diverged")
      }
      // cross-strategy read parity: the COW name reads the same rows
      assert(contents(s"graft.rlp.$t") == model, s"$name final cross-read")
    }
  }

  // ---- hive-partitioned layouts --------------------------------------------

  private def contentsP(name: String): Map[Long, (Long, Long)] = {
    val rows = plain.sql(s"SELECT id, p, v FROM $name").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).distinct.length == rows.length,
      s"$name holds duplicate ids")
    rows.toMap
  }

  private def dataFilesP(rel: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$wh/$rel")
    graft.sources.FeatherSnapshots.resolve(
      root.getFileSystem(plain.sparkContext.hadoopConfiguration),
      root, None).get.files.map(_._1).filterNot(_.contains("-empty."))
      .toSet
  }

  test("seeded DML sequences on HIVE-PARTITIONED tables match the model " +
       "on both strategies (cross-leaf UPDATE/MERGE moves included); " +
       "delta deletes never add data files") {
    plain.sql("CREATE NAMESPACE IF NOT EXISTS graft.rlq")
    for (seed <- 1 to 3; dv <- Seq(false, true)) {
      val cat = if (dv) "graft_dv" else "graft"
      // every insert adds files, so later COW statements narrow their
      // groups at runtime (`_file`) on each face's own path spelling
      val face = Seq("parquet", "feather", "avro")(seed - 1)
      val t = s"p${seed}${if (dv) "d" else "c"}"
      val name = s"$cat.rlq.$t"
      val rnd = new scala.util.Random(seed * 101 + (if (dv) 13 else 0))
      plain.sql(s"CREATE TABLE graft.rlq.$t USING $face " +
        "PARTITIONED BY (p) AS " +
        "SELECT id, id % 3 AS p, id * 3 AS v FROM range(0, 20)")
      var model: Map[Long, (Long, Long)] =
        (0L until 20L).map(i => i -> (i % 3, i * 3)).toMap
      var nextBase = 100L
      for (step <- 0 until 7) {
        val what = rnd.nextInt(6)
        val ctx = s"$name seed=$seed step=$step op=$what"
        what match {
          case 0 => // fresh-range insert routed to leaves
            val n = 5 + rnd.nextInt(10)
            // explicit column list: the TABLE schema orders partition
            // columns last (id, v, p), and a bare INSERT aligns by
            // position (standard SQL — all-LONG columns would silently
            // swap)
            plain.sql(s"INSERT INTO $name (id, p, v) " +
              s"SELECT id + $nextBase AS id, (id + $nextBase) % 3 AS p, " +
              s"id * 3 + $nextBase AS v FROM range(0, $n)")
            model ++= (0L until n).map(i =>
              (i + nextBase) -> ((i + nextBase) % 3, i * 3 + nextBase))
            nextBase += 100
          case 1 => // row-predicate delete (crosses leaves)
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val before =
              if (dv) dataFilesP(s"rlq/$t") else Set.empty[String]
            plain.sql(s"DELETE FROM $name WHERE id % $m = $r")
            model = model.filter { case (id, _) => id % m != r }
            if (dv) assert(dataFilesP(s"rlq/$t").subsetOf(before),
              s"$ctx: a delta DELETE must never ADD data files")
          case 2 => // partition-valued delete (leaf-pruned)
            val r = rnd.nextInt(3)
            plain.sql(s"DELETE FROM $name WHERE p = $r")
            model = model.filter { case (_, (p, _)) => p != r }
          case 3 => // non-moving update
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            plain.sql(s"UPDATE $name SET v = v + 10000 WHERE id % $m = $r")
            model = model.map { case (id, (p, v)) =>
              id -> (p, if (id % m == r) v + 10000 else v) }
          case 4 => // CROSS-LEAF MOVE: the partition value itself updates
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            plain.sql(s"UPDATE $name SET p = (p + 1) % 3 " +
              s"WHERE id % $m = $r")
            model = model.map { case (id, (p, v)) =>
              id -> (if (id % m == r) (p + 1) % 3 else p, v) }
          case 5 => // merge upsert whose source p may move matched rows
            val lo = rnd.nextInt(nextBase.toInt)
            val n = 4 + rnd.nextInt(8)
            plain.sql(s"MERGE INTO $name t USING " +
              s"(SELECT id + $lo AS id, (id + $lo) % 4 AS p, " +
              s"CAST(-1 AS BIGINT) AS nv FROM range(0, $n)) s " +
              "ON t.id = s.id " +
              "WHEN MATCHED THEN UPDATE SET p = s.p, v = s.nv " +
              "WHEN NOT MATCHED THEN INSERT (id, p, v) " +
              "VALUES (s.id, s.p, s.nv)")
            model ++= (0L until n).map(i =>
              (i + lo) -> ((i + lo) % 4, -1L))
            nextBase = math.max(nextBase, lo + n)
        }
        assert(contentsP(name) == model, s"$ctx: contents diverged")
      }
      assert(contentsP(s"graft.rlq.$t") == model, s"$name final cross-read")
    }
  }
}
