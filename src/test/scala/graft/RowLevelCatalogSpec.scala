package graft

import org.apache.spark.sql.SparkSession

import graft.io.GraftAvro
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SupportsRowLevelOperations + SupportsDelta: DELETE / UPDATE / MERGE
  * against `graft.<ns>.<t>` / `graft_dv.<ns>.<t>` in a session built
  * with ONLY the catalog conf — no graft extensions anywhere — through
  * Spark's own row-level rewrite machinery (group-based COW for graft,
  * delta/DV for graft_dv), on every face (feather/parquet/avro) and on
  * hive-partitioned layouts, plus the generic INSERT INTO/OVERWRITE
  * surface and the by-name parquet batch reads. Pins replay-cleanliness
  * (pruned-to-nothing statements publish NO version), manifest-diff
  * zero-rewrite contracts, and stream-op classification. */
class RowLevelCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = java.nio.file.Files
    .createTempDirectory("graft_rowlevel_wh").toString

  /** A SparkSession sharing TestSpark's context but with a FRESH session
    * state built from an EMPTY SparkSessionExtensions — no graft rules
    * anywhere, so any DML that runs must run through Spark's own
    * machinery. (The builder can't produce this: it re-applies
    * spark.sql.extensions from the shared SparkContext conf.) */
  private lazy val plain: SparkSession = {
    val s = org.apache.spark.sql.graft.Bridge.sessionWithoutExtensions(
      TestSpark.spark, Map(
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
        "spark.sql.catalog.graft.warehouse" -> wh,
        "spark.sql.catalog.graft_dv" -> "graft.catalog.GraftCatalog",
        "spark.sql.catalog.graft_dv.warehouse" -> wh))
    assert(s.sessionState ne TestSpark.spark.sessionState)
    // prove the graft rules are truly absent from this session's analyzer
    assert(!s.sessionState.analyzer.extendedResolutionRules.exists(
      _.getClass.getName.contains("graft")),
      "the plain session must carry no graft extension rules")
    SparkSession.setActiveSession(s)
    SparkSession.setDefaultSession(s)
    s
  }

  override def afterAll(): Unit = {
    // restore the shared session for the suites that run after this one
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh)): Unit
  }

  private def versionOf(name: String): Long =
    plain.sql(s"DESCRIBE TABLE EXTENDED $name").collect()
      .find(_.getString(0) == "current-version") match {
      case Some(r) => r.getString(1).toLong
      case None => // fall back to table properties via SHOW TBLPROPERTIES
        plain.sql(s"SHOW TBLPROPERTIES $name").collect()
          .find(_.getString(0) == "current-version").get.getString(1).toLong
    }

  test("catalog-only DELETE rewrites groups and keeps the non-matching rows") {
    plain.sql("CREATE NAMESPACE IF NOT EXISTS graft.rl")
    plain.sql("CREATE TABLE graft.rl.t (id BIGINT, v DOUBLE, s STRING) USING feather")
    plain.sql("INSERT INTO graft.rl.t SELECT id, id * 1.5 AS v, " +
      "concat('r', id) AS s FROM range(0, 30)")
    val v0 = versionOf("graft.rl.t")
    plain.sql("DELETE FROM graft.rl.t WHERE id % 3 = 0")
    val rows = plain.sql("SELECT id, v, s FROM graft.rl.t ORDER BY id").collect()
    assert(rows.length == 20)
    assert(rows.forall(r => r.getLong(0) % 3 != 0))
    // spot-check a surviving row's full content (the rewrite carries
    // every column, not just the predicate's)
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getDouble(1) == 1.5 && r1.getString(2) == "r1")
    assert(versionOf("graft.rl.t") == v0 + 1)
  }

  test("catalog-only UPDATE applies SET to matching rows only") {
    plain.sql("UPDATE graft.rl.t SET v = v + 100 WHERE id < 5")
    val rows = plain.sql("SELECT id, v FROM graft.rl.t ORDER BY id").collect()
    assert(rows.length == 20)
    for (r <- rows) {
      val expect = if (r.getLong(0) < 5) r.getLong(0) * 1.5 + 100
        else r.getLong(0) * 1.5
      assert(r.getDouble(1) == expect, s"id=${r.getLong(0)}")
    }
  }

  test("catalog-only MERGE updates matches and inserts the rest") {
    plain.sql("MERGE INTO graft.rl.t t USING (SELECT id * 2 AS id, " +
      "CAST(id AS DOUBLE) AS nv FROM range(0, 25)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (s.id, s.nv, 'merged')")
    val rows = plain.sql("SELECT id, v, s FROM graft.rl.t ORDER BY id").collect()
    // prior state: ids 1..29 without multiples of 3 (20 rows); source ids
    // 0,2,..,48 (25 rows); matched evens update v, unmatched evens insert
    val prior = (0L until 30L).filter(_ % 3 != 0).toSet
    val src = (0L until 25L).map(_ * 2).toSet
    assert(rows.map(_.getLong(0)).toSet == (prior ++ src))
    for (r <- rows; id = r.getLong(0)) {
      if (src(id)) assert(r.getDouble(1) == id / 2.0, s"id=$id")
      if (!prior(id)) assert(r.getString(2) == "merged", s"id=$id")
    }
  }

  test("a statement whose predicate prunes every file publishes NO version") {
    val v = versionOf("graft.rl.t")
    // id = -999 is outside every file's min/max stats range: all groups
    // prune, the scan reads nothing, the write commits nothing
    plain.sql("DELETE FROM graft.rl.t WHERE id = -999")
    assert(versionOf("graft.rl.t") == v,
      "a no-match DELETE must be replay-clean (no version published)")
  }

  test("DELETE matching everything leaves a readable empty table (stamp)") {
    plain.sql("CREATE TABLE graft.rl.wipe (id BIGINT, s STRING) USING feather")
    plain.sql("INSERT INTO graft.rl.wipe SELECT id, 'x' AS s FROM range(0, 7)")
    plain.sql("DELETE FROM graft.rl.wipe WHERE id >= 0")
    val out = plain.sql("SELECT * FROM graft.rl.wipe")
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("rewrites read through deletion vectors (DV'd rows stay deleted)") {
    plain.sql("CREATE TABLE graft.rl.dvt (id BIGINT, v DOUBLE) USING feather")
    plain.sql("INSERT INTO graft.rl.dvt SELECT id, CAST(id AS DOUBLE) AS v " +
      "FROM range(0, 20)")
    // bind a DV through the engine API (the graft-session spelling):
    // mask ids 0..2 merge-on-read — a PARTIAL file, so a sidecar binds
    // (masking a whole file would just drop it from the manifest)
    val res = graft.io.PredicateMutations.deleteWhereDV(plain,
      s"$wh/rl/dvt", org.apache.spark.sql.functions.col("id") < 3)
    assert(res.partsWritten > 0, "expected a DV sidecar to be written")
    // catalog-only UPDATE now rewrites the file: the DV-masked rows must
    // NOT resurrect into the rewritten table
    plain.sql("UPDATE graft.rl.dvt SET v = v * 10 WHERE id >= 15")
    val rows = plain.sql("SELECT id, v FROM graft.rl.dvt ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == (3L until 20L))
    for (r <- rows) {
      val expect = if (r.getLong(0) >= 15) r.getLong(0) * 10.0
        else r.getLong(0).toDouble
      assert(r.getDouble(1) == expect)
    }
  }

  test("the graft_dv spelling routes catalog-only DML through the DELTA " +
       "rewrite: the new mask UNIONs with the existing DV binding") {
    // dvt carries a DV binding from the previous test; address it via
    // the merge-on-read catalog name and DELETE — the delta rewrite
    // must keep masked rows deleted, grow the vector by one position,
    // and rewrite nothing
    val before = snapOf("rl/dvt")
    plain.sql("DELETE FROM graft_dv.rl.dvt WHERE id = 7")
    val after = snapOf("rl/dvt")
    assert(after.files.toSet == before.files.toSet,
      "graft_dv DELETE must not rewrite data files")
    assert(after.dvs.values.map(_._2).sum ==
      before.dvs.values.map(_._2).sum + 1,
      s"one more masked position: ${before.dvs} -> ${after.dvs}")
    val rows = plain.sql("SELECT id FROM graft_dv.rl.dvt ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == (3L until 20L).filterNot(_ == 7L))
    assert(plain.sql("SELECT id FROM graft.rl.dvt").count() == 16L)
  }

  test("MERGE into an EMPTY table keeps its NOT MATCHED inserts (no " +
       "group kept, rows still written — the r17 silent-loss shape)") {
    plain.sql("CREATE TABLE graft.rl.mempty (id BIGINT, v DOUBLE) USING feather")
    val v0 = versionOf("graft.rl.mempty")
    // the stamp-only table keeps ZERO groups (a stamp has no batches),
    // but the NOT MATCHED clause still produces 5 insert rows — the
    // commit must publish them, not abort on the empty group set
    plain.sql("MERGE INTO graft.rl.mempty t USING (SELECT id, " +
      "CAST(id AS DOUBLE) AS v FROM range(0, 5)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    val rows = plain.sql("SELECT id, v FROM graft.rl.mempty ORDER BY id")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 5L),
      "NOT MATCHED inserts into an empty table must survive the commit")
    assert(rows.forall(r => r.getDouble(1) == r.getLong(0).toDouble))
    assert(versionOf("graft.rl.mempty") == v0 + 1)
  }

  test("a MERGE with only MATCHED clauses into an empty table publishes " +
       "NO version (nothing read, nothing written)") {
    plain.sql("CREATE TABLE graft.rl.mnoop (id BIGINT) USING feather")
    val v0 = versionOf("graft.rl.mnoop")
    plain.sql("MERGE INTO graft.rl.mnoop t USING (SELECT 1 AS id) s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE")
    assert(versionOf("graft.rl.mnoop") == v0,
      "a no-op MERGE must be replay-clean (no version published)")
  }

  test("parquet face, catalog-only: generic batch reads by name + COW " +
       "DELETE/UPDATE (the r17 refusal, now served)") {
    val pq = s"$wh/rl/pq"
    TestSpark.spark.range(0, 30).selectExpr("id", "id * 2 AS v")
      .coalesce(2).write.parquet(pq)
    graft.io.TableDdl.repairTable(TestSpark.spark, pq): Unit
    // the parquet face has no DSv2 delegate — this read runs through the
    // generic ConnectorFace scan (r17: UnsupportedOperationException)
    assert(plain.sql("SELECT count(*) FROM graft.rl.pq").head().getLong(0)
      == 30L)
    plain.sql("DELETE FROM graft.rl.pq WHERE id % 3 = 0")
    plain.sql("UPDATE graft.rl.pq SET v = -1 WHERE id = 1")
    val rows = plain.sql("SELECT id, v FROM graft.rl.pq ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 20 && rows.forall(_._1 % 3 != 0))
    assert(rows.forall { case (id, v) => v == (if (id == 1) -1L else id * 2) })
    // still a parquet-face table: every part the rewrite landed is .parquet
    assert(snapOf("rl/pq").files.forall(_._1.endsWith(".parquet")),
      s"rewrite must stay on the table's own face: ${snapOf("rl/pq").files}")
  }

  test("parquet face, graft_dv: delta DELETE binds a DV, rewrites nothing") {
    val pq = s"$wh/rl/pqdv"
    TestSpark.spark.range(0, 25).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.parquet(pq)
    graft.io.TableDdl.repairTable(TestSpark.spark, pq): Unit
    val before = snapOf("rl/pqdv")
    plain.sql("DELETE FROM graft_dv.rl.pqdv WHERE id % 5 = 2")
    val after = snapOf("rl/pqdv")
    assert(after.files.toSet == before.files.toSet,
      "parquet delta DELETE must rewrite zero files")
    assert(after.dvs.values.map(_._2).sum == 5L, s"5 masked: ${after.dvs}")
    assert(plain.sql("SELECT count(*) FROM graft_dv.rl.pqdv")
      .head().getLong(0) == 20L)
    // the graft-session engine read agrees (DV bindings are face-shared)
    assert(graft.io.ParquetTable.read(TestSpark.spark, pq).count() == 20L)
  }

  test("avro face, catalog-only: COW MERGE updates + inserts on the " +
       "avro connector's own parts") {
    val av = s"$wh/rl/av"
    GraftAvro.write(TestSpark.spark.range(0, 10)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v"), av, overwrite = true)
    graft.io.TableDdl.repairTable(TestSpark.spark, av): Unit
    plain.sql("MERGE INTO graft.rl.av t USING (SELECT id * 2 AS id, " +
      "CAST(-1 AS DOUBLE) AS nv FROM range(0, 8)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)")
    val rows = plain.sql("SELECT id, v FROM graft.rl.av ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val src = (0L until 8L).map(_ * 2).toSet
    assert(rows.map(_._1).toSet == ((0L until 10L).toSet ++ src))
    assert(rows.forall { case (id, v) =>
      if (src(id)) v == -1.0 else v == id.toDouble })
    assert(snapOf("rl/av").files.forall(_._1.endsWith(".avro")))
  }

  test("hive-partitioned feather table, catalog-only: partition-pruned " +
       "COW DELETE keeps untouched leaves verbatim (manifest diff)") {
    val partPath = s"$wh/rl/part"
    for (k <- Seq(0, 1))
      graft.io.GraftFeather.write(
        TestSpark.spark.range(0, 8).filter(s"id % 2 = $k")
          .selectExpr("id").repartition(1),
        s"$partPath/k=$k", overwrite = true)
    graft.sources.FeatherSnapshots.adopt(
      new org.apache.hadoop.fs.Path(partPath).getFileSystem(
        TestSpark.spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(partPath)): Unit
    val before = snapOf("rl/part")
    // k is a PARTITION column: the k=0 leaf must prune, its file must
    // carry through the manifest by name (r17: refused outright)
    plain.sql("DELETE FROM graft.rl.part WHERE k = 1 AND id = 1")
    val after = snapOf("rl/part")
    val k0 = before.files.map(_._1).filter(_.startsWith("k=0/"))
    assert(k0.nonEmpty && k0.forall(after.files.map(_._1).contains),
      s"pruned leaf k=0 must survive verbatim: ${after.files}")
    assert(!after.files.map(_._1).exists(before.files.map(_._1)
      .filter(_.startsWith("k=1/")).contains),
      "the touched k=1 leaf must be rewritten")
    val rows = plain.sql("SELECT k, id FROM graft.rl.part ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).toSeq == Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(rows.forall { case (k, id) => id % 2 == k })
  }

  test("hive-partitioned UPDATE that changes the partition column MOVES " +
       "the row between leaves inside one commit") {
    plain.sql("UPDATE graft.rl.part SET k = 0 WHERE id = 3")
    val rows = plain.sql("SELECT k, id FROM graft.rl.part ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.contains((0L, 3L)), s"id=3 must now live in k=0: ${rows.toSeq}")
    assert(rows.length == 7)
    // the moved row physically lives under the k=0 leaf
    assert(plain.sql("SELECT _file FROM graft.rl.part WHERE id = 3")
      .head().getString(0).contains("k=0"))
  }

  test("file-level pruning: a narrow DELETE rewrites ONLY the files its " +
       "predicate can touch (manifest diff keeps the rest verbatim)") {
    plain.sql("CREATE TABLE graft.rl.pr (id BIGINT, v DOUBLE) USING feather")
    // three single-part appends → three disjoint-range files with stats
    // sidecars (range(..., numPartitions=1) keeps each insert one part)
    for (lo <- Seq(0, 100, 200))
      plain.sql(s"INSERT INTO graft.rl.pr SELECT id + $lo AS id, " +
        s"CAST(id AS DOUBLE) AS v FROM range(0, 50, 1, 1)")
    val root = new org.apache.hadoop.fs.Path(s"$wh/rl/pr")
    val fs = root.getFileSystem(
      plain.sparkContext.hadoopConfiguration)
    val before = graft.sources.FeatherSnapshots.resolve(fs, root, None)
      .get.files.map(_._1).toSet
    plain.sql("DELETE FROM graft.rl.pr WHERE id BETWEEN 120 AND 130")
    val after = graft.sources.FeatherSnapshots.resolve(fs, root, None)
      .get.files.map(_._1).toSet
    // exactly one group replaced: the other two files survive by NAME
    assert((before -- after).size == 1,
      s"expected one removed group, got ${before -- after}")
    assert((before & after).size == before.size - 1,
      "untouched files must carry through the manifest verbatim")
    assert(plain.sql("SELECT count(*) FROM graft.rl.pr").head().getLong(0)
      == 139L)
    assert(plain.sql(
      "SELECT count(*) FROM graft.rl.pr WHERE id BETWEEN 120 AND 130")
      .head().getLong(0) == 0L)
  }

  private def snapOf(rel: String) = {
    val root = new org.apache.hadoop.fs.Path(s"$wh/$rel")
    graft.sources.FeatherSnapshots.resolve(
      root.getFileSystem(plain.sparkContext.hadoopConfiguration),
      root, None).get
  }

  /** Data parts only — the CREATE stamp (zero rows, `<prefix>-empty`)
    * rides every manifest and is irrelevant to rewrite/DV accounting. */
  private def dataFiles(s: graft.sources.FeatherSnapshots.Snapshot) =
    s.files.map(_._1).filterNot(_.endsWith("-empty.feather")).toSet

  test("graft_dv DELETE runs the DELTA rewrite: DV sidecars, ZERO data " +
       "files rewritten, reads identical to the COW twin") {
    for (t <- Seq("dvd", "cowd")) {
      plain.sql(s"CREATE TABLE graft.rl.$t (id BIGINT, v DOUBLE) USING feather")
      plain.sql(s"INSERT INTO graft.rl.$t SELECT id, CAST(id AS DOUBLE) " +
        "AS v FROM range(0, 40, 1, 2)")
    }
    val before = snapOf("rl/dvd")
    assert(before.dvs.isEmpty)
    // scattered predicate (untranslatable %): no file prunes, both files
    // lose rows — the delta path must BIND vectors, not rewrite groups
    plain.sql("DELETE FROM graft_dv.rl.dvd WHERE id % 10 = 3")
    plain.sql("DELETE FROM graft.rl.cowd WHERE id % 10 = 3")
    val after = snapOf("rl/dvd")
    assert(after.files.toSet == before.files.toSet,
      "merge-on-read DELETE must rewrite ZERO data files (manifest " +
        s"diff: ${before.files.toSet -- after.files.toSet} removed)")
    assert(after.dvs.keySet == dataFiles(before),
      s"both files lost rows, both need a DV binding: ${after.dvs}")
    assert(after.version == before.version + 1)
    // the COW twin rewrote its groups; contents must agree exactly
    val dvRows = plain.sql("SELECT id, v FROM graft.rl.dvd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cowRows = plain.sql("SELECT id, v FROM graft.rl.cowd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dvRows == cowRows && dvRows.size == 36)
    assert(dvRows.forall { case (id, _) => id % 10 != 3 })
  }

  test("graft_dv UPDATE masks the old rows and appends the new ones " +
       "(delete half → DV, insert half → new part)") {
    val before = snapOf("rl/dvd")
    plain.sql("UPDATE graft_dv.rl.dvd SET v = v + 1000 WHERE id IN (5, 25)")
    val after = snapOf("rl/dvd")
    assert(before.files.map(_._1).toSet.subsetOf(after.files.map(_._1).toSet),
      "UPDATE must not rewrite existing files")
    val newParts = dataFiles(after) -- dataFiles(before)
    assert(newParts.nonEmpty && newParts.size <= 2,
      s"the insert half lands as new part(s), one per task: $newParts")
    val rows = plain.sql("SELECT id, v FROM graft.rl.dvd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.count { case (id, v) => v == id + 1000.0 } == 2)
    assert(rows.length == 36, "row count unchanged by UPDATE")
  }

  test("graft_dv MERGE: matched rows mask+reinsert, NOT MATCHED rows " +
       "insert — still zero rewrites of existing files") {
    val before = snapOf("rl/dvd")
    plain.sql("MERGE INTO graft_dv.rl.dvd t USING (SELECT id * 4 AS id, " +
      "CAST(-1 AS DOUBLE) AS nv FROM range(0, 12)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)")
    val after = snapOf("rl/dvd")
    assert(before.files.map(_._1).toSet.subsetOf(after.files.map(_._1).toSet))
    val rows = plain.sql("SELECT id, v FROM graft.rl.dvd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // source ids 0,4,..,44; the table held 36 ids (0..39 minus %10==3);
    // every source id present afterwards with v = -1
    for (sid <- 0L until 12L; id = sid * 4)
      assert(rows.find(_._1 == id).exists(_._2 == -1.0), s"id=$id")
    // a non-source survivor is untouched
    assert(rows.find(_._1 == 1L).exists(_._2 == 1.0))
  }

  test("graft_dv DELETE that empties a file DROPS it from the manifest " +
       "instead of binding a full-coverage vector") {
    plain.sql("CREATE TABLE graft.rl.dvdrop (id BIGINT) USING feather")
    for (lo <- Seq(0, 100))
      plain.sql(s"INSERT INTO graft.rl.dvdrop SELECT id + $lo AS id " +
        "FROM range(0, 50, 1, 1)")
    val before = snapOf("rl/dvdrop")
    assert(dataFiles(before).size == 2)
    plain.sql("DELETE FROM graft_dv.rl.dvdrop WHERE id < 100")
    val after = snapOf("rl/dvdrop")
    assert(dataFiles(after).size == 1 && after.dvs.isEmpty,
      s"the fully-deleted file must drop, the other carries no DV: " +
        s"files=${after.files}, dvs=${after.dvs}")
    assert(plain.sql("SELECT count(*), min(id) FROM graft.rl.dvdrop")
      .head().toSeq == Seq(50L, 100L))
  }

  test("graft_dv no-match DELETE publishes NO version (delta parity " +
       "with the COW contract)") {
    val v = versionOf("graft_dv.rl.dvdrop")
    plain.sql("DELETE FROM graft_dv.rl.dvdrop WHERE id = -5")
    assert(versionOf("graft_dv.rl.dvdrop") == v)
  }

  test("SELECT _pos/_file metadata columns serve the stable row id") {
    val rows = plain.sql("SELECT _file, _pos, id FROM graft.rl.dvdrop " +
      "ORDER BY _pos").collect()
    assert(rows.length == 50)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct.length
      == 50, "(_file, _pos) must be unique per row")
    // batch-absolute encoding: positions within one batch are contiguous
    assert(rows.head.getLong(1) == 0L)
  }

  test("avro face, graft_dv: delta DELETE binds an avro-position DV " +
       "(block coordinates), rewrites nothing") {
    val av = s"$wh/rl/avdv"
    GraftAvro.write(TestSpark.spark.range(0, 30)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v").coalesce(1), av,
      overwrite = true)
    graft.io.TableDdl.repairTable(TestSpark.spark, av): Unit
    val before = snapOf("rl/avdv")
    plain.sql("DELETE FROM graft_dv.rl.avdv WHERE id % 6 = 1")
    val after = snapOf("rl/avdv")
    assert(after.files.toSet == before.files.toSet,
      "avro delta DELETE must rewrite zero files")
    assert(after.dvs.values.map(_._2).sum == 5L, s"${after.dvs}")
    // both the catalog-only generic scan and the engine's avro read
    // apply the binding (shared avro position encoding)
    assert(plain.sql("SELECT count(*) FROM graft.rl.avdv")
      .head().getLong(0) == 25L)
    assert(graft.io.GraftAvro.readFilesDF(TestSpark.spark,
      before.files.map { case (rel, len) =>
        (s"$av/$rel", len) }, mergeSchema = true,
      dvPaths = after.dvs.map { case (rel, (dvRel, _)) =>
        (s"$av/$rel", s"$av/$dvRel") }).count() == 25L)
  }

  test("hive-partitioned graft_dv: delta DELETE masks inside the leaf, " +
       "MERGE inserts route to their leaves") {
    val p = s"$wh/rl/pdv"
    for (k <- Seq(0, 1))
      graft.io.GraftFeather.write(
        TestSpark.spark.range(0, 10).filter(s"id % 2 = $k")
          .selectExpr("id").repartition(1), s"$p/k=$k", overwrite = true)
    graft.sources.FeatherSnapshots.adopt(
      new org.apache.hadoop.fs.Path(p).getFileSystem(
        TestSpark.spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(p)): Unit
    val before = snapOf("rl/pdv")
    plain.sql("DELETE FROM graft_dv.rl.pdv WHERE id = 4") // lives in k=0
    val after = snapOf("rl/pdv")
    assert(after.files.toSet == before.files.toSet)
    assert(after.dvs.keys.forall(_.startsWith("k=0/")), s"${after.dvs}")
    plain.sql("MERGE INTO graft_dv.rl.pdv t USING (SELECT 100 AS id, " +
      "1 AS k) s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (id, k) VALUES (s.id, s.k)")
    assert(plain.sql("SELECT _file FROM graft.rl.pdv WHERE id = 100")
      .head().getString(0).contains("k=1"),
      "the delta MERGE insert must route to its key=value leaf")
    val ids = plain.sql("SELECT id FROM graft.rl.pdv ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == ((0L until 10L).filterNot(_ == 4L) :+ 100L))
  }

  test("no-op DML on a stamp-bearing parquet table publishes NO version " +
       "(schema stamps are never groups)") {
    plain.sql("CREATE TABLE graft.rl.pqstamp (id BIGINT) USING parquet")
    val v0 = versionOf("graft.rl.pqstamp")
    // the CREATE stamp is the only file; a MATCHED-only MERGE reads no
    // group and writes no row — replay-clean, like the feather twin
    plain.sql("MERGE INTO graft.rl.pqstamp t USING (SELECT 1 AS id) s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE")
    assert(versionOf("graft.rl.pqstamp") == v0,
      "a no-op statement must not publish (the stamp is not a group)")
    // and the stamp stays: inserts + DML keep working afterwards
    plain.sql("INSERT INTO graft.rl.pqstamp SELECT id FROM range(0, 3)")
    plain.sql("DELETE FROM graft.rl.pqstamp WHERE id = 1")
    assert(plain.sql("SELECT id FROM graft.rl.pqstamp ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 2L))
  }

  test("a table-owned _pos/_file column keeps its stored values (the " +
       "metadata splice yields to the table schema)") {
    // a FEATHER file whose DATA schema contains `_pos` — written through
    // the path API, read through the connector: `SELECT _pos` must
    // return the stored values, never spliced row positions
    val p = s"$wh/rl/ownpos"
    graft.io.GraftFeather.write(
      TestSpark.spark.range(0, 4)
        .selectExpr("id", "id * 111 AS _pos").repartition(1),
      p, overwrite = true)
    val rows = plain.read.format("feather").load(p)
      .selectExpr("id", "_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.toSeq == (0L until 4L).map(i => (i, i * 111)),
      s"table-owned _pos must win over the metadata splice: ${rows.toSeq}")
  }

  test("graft_dv DML on a table OWNING a _pos/_file column falls back to " +
       "COW (a delta rowId would record stored values as DV positions)") {
    // parquet face, owned `_pos` data column: the face-generic pair
    plain.sql("CREATE TABLE graft.rl.ownid USING parquet AS " +
      "SELECT id, id * 7 AS _pos FROM range(0, 40)")
    plain.sql("DELETE FROM graft_dv.rl.ownid WHERE id % 4 = 0")
    val after = snapOf("rl/ownid")
    assert(after.dvs.isEmpty && after.op == "rowlevel_delete",
      s"owned rowid must force the COW strategy: op=${after.op}, " +
        s"dvs=${after.dvs}")
    val rows = plain.sql("SELECT id, _pos FROM graft.rl.ownid ORDER BY id")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      (0L until 40L).filterNot(_ % 4 == 0))
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 7),
      "stored _pos values must survive the rewrite untouched")
    // flat feather face, owned `_file` data column: the same one pair
    plain.sql("CREATE TABLE graft.rl.ownfile USING feather AS " +
      "SELECT id, concat('orig-', id) AS _file FROM range(0, 20)")
    plain.sql("UPDATE graft_dv.rl.ownfile SET _file = 'touched' " +
      "WHERE id < 5")
    val af = snapOf("rl/ownfile")
    assert(af.dvs.isEmpty && af.op == "rowlevel_update",
      s"owned _file must force COW on the feather face too: op=${af.op}")
    val fr = plain.sql("SELECT id, _file FROM graft.rl.ownfile ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(fr.toSeq == (0L until 20L).map(i =>
      (i, if (i < 5) "touched" else s"orig-$i")))
  }

  test("catalog-only MERGE WITH SCHEMA EVOLUTION widens the table on " +
       "BOTH strategies (graft-session parity via AUTOMATIC_SCHEMA_" +
       "EVOLUTION + this catalog's own ALTER)") {
    def run(cat: String, tbl: String): Unit = {
      plain.sql(s"CREATE TABLE graft.$tbl USING feather AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(5)")
      plain.sql(s"MERGE WITH SCHEMA EVOLUTION INTO $cat.$tbl t USING " +
        "(SELECT id, CAST(id * 2 AS DOUBLE) AS v, concat('x', id) AS tag " +
        "FROM range(3, 8)) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      val rows = plain.sql(s"SELECT id, v, tag FROM graft.$tbl ORDER BY id")
        .collect()
      assert(rows.map(_.getLong(0)).toSeq == (0L until 8L))
      rows.foreach { r =>
        val id = r.getLong(0)
        if (id < 3) assert(r.getDouble(1) == id * 1.0 && r.isNullAt(2))
        else assert(r.getDouble(1) == id * 2.0 &&
          r.getString(2) == s"x$id")
      }
    }
    // COW: the rewrite lands full-width files; DELTA: pre-evolution
    // files survive and null-fill through the lenient delegate read
    run("graft", "rl.mevc")
    run("graft_dv", "rl.mevd")
    val d = snapOf("rl/mevd")
    // the delta strategy ran (fully-masked files may DROP instead of
    // binding a DV, so dvs can legitimately be empty)
    assert(d.op == "rowlevel_delta_merge", s"expected the delta path: $d")
    // WITHOUT the keyword, a widening merge refuses loudly (Spark's own
    // unresolved-column analysis — no silent column drop)
    intercept[org.apache.spark.sql.AnalysisException] {
      plain.sql("MERGE INTO graft.rl.mevc t USING (SELECT id, " +
        "concat('y', id) AS extra FROM range(2)) s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, extra) VALUES (s.id, s.extra)")
    }
  }

  test("catalog-only reads null-fill evolved columns on the connector " +
       "faces (the delegate reads with the union schema, leniently)") {
    plain.sql("CREATE TABLE graft.rl.evof USING feather AS " +
      "SELECT id FROM range(4)")
    plain.sql("ALTER TABLE graft.rl.evof ADD COLUMNS (score DOUBLE)")
    plain.sql("INSERT INTO graft.rl.evof SELECT id, id * 0.5 AS score " +
      "FROM range(4, 6)")
    val rows = plain.sql("SELECT id, score FROM graft.rl.evof ORDER BY id")
      .collect()
    assert(rows.length == 6)
    assert(rows.filter(_.getLong(0) < 4).forall(_.isNullAt(1)))
    assert(rows.filter(_.getLong(0) >= 4)
      .forall(r => r.getDouble(1) == r.getLong(0) * 0.5))
  }

  test("catalog-only INSERT INTO the parquet face and hive-partitioned " +
       "tables routes through the generic face write") {
    // parquet face (no DSv2 connector): INSERT INTO by name now lands
    // parquet parts (r17: 'no DSv2 write delegate' refusal)
    plain.sql("INSERT INTO graft.rl.pq SELECT id, id * 2 AS v " +
      "FROM range(100, 103)")
    assert(plain.sql("SELECT count(*) FROM graft.rl.pq WHERE id >= 100")
      .head().getLong(0) == 3L)
    assert(snapOf("rl/pq").files.forall(_._1.endsWith(".parquet")))
    // hive-partitioned feather table: rows route to their k=v leaves
    // (r17: the flat sink's root-append refusal)
    plain.sql("INSERT INTO graft.rl.part SELECT 100 AS id, 0 AS k")
    val added = snapOf("rl/part").files.map(_._1)
      .filter(_.contains("id")) // no-op guard for compilation warmth
    assert(plain.sql("SELECT _file FROM graft.rl.part WHERE id = 100")
      .head().getString(0).contains("k=0"), s"routed leaf: $added")
  }

  test("catalog-only INSERT OVERWRITE: truncate, static partition " +
       "equality, and a zero-row append publishing no version") {
    // zero-row INSERT INTO publishes NO version
    val v0 = versionOf("graft.rl.pq")
    plain.sql("INSERT INTO graft.rl.pq SELECT id, id AS v FROM range(0) ")
    assert(versionOf("graft.rl.pq") == v0,
      "zero-row append must be replay-clean")
    // truncate overwrite replaces the whole flat table in one commit
    plain.sql("INSERT OVERWRITE graft.rl.pq SELECT id, id * 7 AS v " +
      "FROM range(0, 4)")
    val rows = plain.sql("SELECT id, v FROM graft.rl.pq ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == (0L until 4L).map(i => (i, i * 7)))
    // the pre-overwrite generation stays time-travelable
    assert(plain.sql(s"SELECT count(*) FROM graft.rl.pq VERSION AS OF $v0")
      .head().getLong(0) > 4L)
    // static partition overwrite replaces ONLY the named leaf
    val partBefore = snapOf("rl/part")
    plain.sql("INSERT OVERWRITE graft.rl.part PARTITION (k=0) " +
      "SELECT id + 200 AS id FROM range(0, 2)")
    val partAfter = snapOf("rl/part")
    val k1Before = partBefore.files.map(_._1).filter(_.startsWith("k=1/"))
    assert(k1Before.forall(partAfter.files.map(_._1).contains),
      "the k=1 leaf must carry through a PARTITION (k=0) overwrite")
    val ids = plain.sql("SELECT id FROM graft.rl.part WHERE k = 0")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(200L, 201L), s"k=0 replaced wholesale: $ids")
    assert(plain.sql("SELECT count(*) FROM graft.rl.part WHERE k = 1")
      .head().getLong(0) > 0L)
  }

  test("version streams classify catalog-only DML commits: loud on the " +
       "delete, skip/deliver under ignoreChanges — never 'unknown op'") {
    val g = TestSpark.spark
    plain.sql("CREATE TABLE graft.rl.strm (id BIGINT) USING feather")
    plain.sql("INSERT INTO graft.rl.strm SELECT id FROM range(0, 10, 1, 1)")
    val path = s"$wh/rl/strm"
    val q = g.readStream.format("feather").load(path)
      .writeStream.format("memory").queryName("rl_strm")
      .option("checkpointLocation", s"$wh/rl/strm_ckpt").start()
    try {
      q.processAllAvailable()
      assert(g.table("rl_strm").count() == 10L)
      // catalog-only COW DELETE commits op=rowlevel_delete — the stream
      // must classify it as a delete (loud), not crash on 'unknown op'
      plain.sql("DELETE FROM graft.rl.strm WHERE id = 3")
      val e = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("delete commit")),
        s"expected the delete classification, got: ${msgs(e)}")
      assert(!msgs(e).exists(m => m != null && m.contains("unknown op")))
    } finally q.stop()
    // under ignoreChanges: a graft_dv delta delete SKIPS (nothing novel),
    // a catalog-only INSERT OVERWRITE delivers its novel files
    val q2 = g.readStream.format("feather")
      .option("ignoreChanges", "true").load(path)
      .writeStream.format("memory").queryName("rl_strm2")
      .option("checkpointLocation", s"$wh/rl/strm_ckpt2").start()
    try {
      q2.processAllAvailable()
      plain.sql("DELETE FROM graft_dv.rl.strm WHERE id = 5") // delta DV
      q2.processAllAvailable() // alive, nothing delivered
      val before = g.table("rl_strm2").count()
      plain.sql("INSERT OVERWRITE graft.rl.strm SELECT id + 100 AS id " +
        "FROM range(0, 4, 1, 1)")
      q2.processAllAvailable()
      assert(g.table("rl_strm2").count() == before + 4,
        "the overwrite's novel files must arrive under ignoreChanges")
    } finally q2.stop()
  }

  test("concurrent mutation of a read file aborts the row-level commit") {
    plain.sql("CREATE TABLE graft.rl.race (id BIGINT, v DOUBLE) USING feather")
    plain.sql("INSERT INTO graft.rl.race SELECT id, CAST(id AS DOUBLE) AS v " +
      "FROM range(0, 10)")
    // the racing committer rewrites a file the row-level scan READ
    // (id=1 lives in the same group the id<3 predicate keeps) between
    // the scan and its manifest commit — the read-set check must abort.
    // (A racing mutation on a DISJOINT file commits beside it — the
    // pruning test above is what makes the read set that precise.)
    graft.sources.FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.PredicateMutations.deleteWhere(plain, s"$wh/rl/race",
        org.apache.spark.sql.functions.col("id") === 1): Unit
    }
    val e = intercept[Exception] {
      plain.sql("DELETE FROM graft.rl.race WHERE id < 3")
    }
    assert(e.getMessage.contains("conflict with a concurrent commit"),
      s"expected the read-set conflict abort, got: ${e.getMessage}")
    // the winner's delete landed; the loser's did not
    assert(plain.sql("SELECT count(*) FROM graft.rl.race").head().getLong(0) == 9)
  }

  test("multi-batch feather parts: graft_dv DELETE / UPDATE inside the " +
       "middle batch equal a COW twin, skip the other batches, and COW " +
       "rewrites the whole kept file") {
    val n = 12000L // one task, 4096-row batches: three record batches
    def liveParts(t: String): Seq[(String, Long)] =
      snapOf(s"rl/$t").files.filterNot(_._1.endsWith("-empty.feather"))
    def batchesOf(t: String): Seq[Int] = liveParts(t).map { case (rel, len) =>
      // a 1-byte split budget gives every record batch its own split
      graft.io.GraftFeather.planReadFiles(plain,
        Seq((s"$wh/rl/$t/$rel", len)), 1L)._2.size
    }
    /** Rows the statement's table scan produced (BatchScanExec metric —
      * accumulators merge before the command returns). */
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      val plan = df.queryExecution.executedPlan match {
        case c: org.apache.spark.sql.execution.CommandResultExec =>
          c.commandPhysicalPlan
        case p => p
      }
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(plan) {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.metrics("numOutputRows").value
        }.sum
    }
    def rows(t: String): Seq[(Long, Long)] =
      plain.sql(s"SELECT id, v FROM graft.rl.$t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (partitioned <- Seq(false, true)) {
      val sfx = if (partitioned) "p" else "f"
      val (dv, cow) = (s"mbdv$sfx", s"mbcow$sfx")
      for (t <- Seq(dv, cow)) {
        plain.sql(s"CREATE TABLE graft.rl.$t USING feather " +
          (if (partitioned) "PARTITIONED BY (day) " else "") +
          "AS SELECT id, id * 10 AS v" +
          (if (partitioned) ", 1 AS day" else "") +
          s" FROM range(0, $n, 1, 1)")
        val bs = batchesOf(t)
        assert(bs.size == 1 && bs.head >= 3,
          s"$t: expected one part with >= 3 record batches, got $bs")
      }
      val ctx = if (partitioned) "partitioned" else "flat"
      val dvBefore = liveParts(dv).map(_._1).toSet
      // a narrow id band inside the middle batch (rows 4096..8191)
      val delDv = plain.sql(s"DELETE FROM graft_dv.rl.$dv " +
        "WHERE id BETWEEN 5000 AND 5009")
      assert(liveParts(dv).map(_._1).toSet == dvBefore &&
        snapOf(s"rl/$dv").dvs.nonEmpty,
        s"$ctx: the delta DELETE must bind a vector, not rewrite the part")
      assert(scanned(delDv) <= 4096,
        s"$ctx: the delta scan must skip the stats-empty batches, read " +
          s"${scanned(delDv)} rows")
      val cowBefore = liveParts(cow).map(_._1).toSet
      val delCow = plain.sql(s"DELETE FROM graft.rl.$cow " +
        "WHERE id BETWEEN 5000 AND 5009")
      assert(scanned(delCow) == n,
        s"$ctx: the COW scan reads the kept file whole: ${scanned(delCow)}")
      val cowAfter = liveParts(cow).map(_._1).toSet
      assert(cowAfter.intersect(cowBefore).isEmpty && cowAfter.nonEmpty,
        s"$ctx: the COW DELETE must replace the kept file: " +
          s"$cowBefore -> $cowAfter")
      assert(plain.sql(s"SELECT count(*) FROM graft.rl.$cow").head()
        .getLong(0) == n - 10)
      for (cat <- Seq("graft_dv", "graft")) {
        val t = if (cat == "graft_dv") dv else cow
        plain.sql(s"UPDATE $cat.rl.$t SET v = -v WHERE id BETWEEN 6000 AND 6004")
      }
      val expected = (0L until n).filterNot(i => i >= 5000 && i <= 5009)
        .map(i => (i, if (i >= 6000 && i <= 6004) -i * 10 else i * 10))
      assert(rows(dv) == expected, s"$ctx: delta rows")
      assert(rows(cow) == expected, s"$ctx: COW rows")
    }
  }

  test("adopted multi-batch feather parts with a backfilled whole-file " +
       "sidecar: COW and graft_dv DELETE / UPDATE past batch 0 keep every " +
       "batch") {
    // a foreign directory: parts written outside any table, sidecars
    // stripped, adopted (the MSCK REPAIR body), then CALL analyze, whose
    // backfill writes ONE stats entry for the whole multi-batch file
    val n = 12000L
    val conf = plain.sparkContext.hadoopConfiguration
    for (partitioned <- Seq(false, true); cat <- Seq("graft", "graft_dv")) {
      val t = s"adopt${if (partitioned) "p" else "f"}${cat.replace("_", "")}"
      val ctx = s"$cat ${if (partitioned) "partitioned" else "flat"}"
      val root = new org.apache.hadoop.fs.Path(s"$wh/rl/$t")
      val leaf = if (partitioned) new org.apache.hadoop.fs.Path(root, "day=1")
        else root
      val fs = root.getFileSystem(conf)
      fs.mkdirs(leaf)
      val written = graft.io.GraftFeather.writeParts(
        plain.range(0, n, 1, 1).selectExpr("id", "id * 10 AS v"),
        leaf.toString, "part")
      assert(written.size == 1)
      val (name, len, _) = written.head
      val part = new org.apache.hadoop.fs.Path(leaf, name)
      assert(graft.io.GraftFeather.planReadFiles(plain,
        Seq((part.toString, len)), 1L)._2.size >= 3,
        s"$ctx: expected one part with >= 3 record batches")
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        leaf, s"$name.stats.json"), false))
      graft.io.TableDdl.repairTable(plain, root.toString)
      assert(plain.sql(s"CALL graft.system.analyze('rl.$t')").head()
        .getLong(0) == 1L, s"$ctx: one sidecar to backfill")
      val stats = graft.io.FeatherStats.loadForFiles(conf,
        Seq((part.toString, len)))(part.toString)
      assert(stats.exists(_.size == 1),
        s"$ctx: the backfilled sidecar holds one whole-file entry: $stats")
      // bands outside batch 0 (rows 0..4095): one in batch 1, one in 2
      plain.sql(s"DELETE FROM $cat.rl.$t WHERE id >= 5000 AND id <= 5009")
      plain.sql(s"UPDATE $cat.rl.$t SET v = -v WHERE id >= 9000 AND id <= 9004")
      val expected = (0L until n).filterNot(i => i >= 5000 && i <= 5009)
        .map(i => (i, if (i >= 9000 && i <= 9004) -i * 10 else i * 10))
      val got = plain.sql(s"SELECT id, v FROM graft.rl.$t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == expected.size, s"$ctx: ${got.size} rows")
      assert(got == expected, s"$ctx: rows")
    }
  }

  // ---- runtime group filtering on `_file` ----------------------------------

  /** Live data files (schema stamps excluded), root-relative. */
  private def liveFiles(t: String): Set[String] =
    snapOf(s"rl/$t").files.map(_._1).filterNot(_.contains("-empty.")).toSet

  /** The root-relative file holding row `id` (through the batch read's
    * `_file`). */
  private def fileOf(t: String, id: Long): String = {
    val abs = plain.sql(s"SELECT _file FROM graft.rl.$t WHERE id = $id")
      .head().getString(0)
    val hits = liveFiles(t).filter(rel => abs.endsWith("/" + rel))
    assert(hits.size == 1, s"$t: id $id lives in $abs, live ${liveFiles(t)}")
    hits.head
  }

  /** Every BatchScanExec of the statement's executed plan (not its
    * subqueries), with its runtime filters. */
  private def batchScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
    val plan = df.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan
      case p => p
    }
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b
      }
  }

  private def idv(t: String): Map[Long, Long] =
    plain.sql(s"SELECT id, v FROM graft.rl.$t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `PARTITIONED BY (day)` table, two INSERTs → two files per leaf: ids
    * 0..39 and 100..139, day = id % 2, v = id. */
  private def twoFilesPerLeaf(t: String, face: String): Map[Long, Long] = {
    def rows(lo: Int) = s"SELECT id + $lo AS id, id + $lo AS v, " +
      s"CAST((id + $lo) % 2 AS INT) AS day FROM range(0, 40, 1, 1)"
    plain.sql(s"CREATE TABLE graft.rl.$t USING $face PARTITIONED BY (day) " +
      s"AS ${rows(0)}")
    plain.sql(s"INSERT INTO graft.rl.$t ${rows(100)}")
    val files = liveFiles(t)
    assert(files.size == 4 &&
      files.groupBy(_.takeWhile(_ != '/')).values.forall(_.size == 2),
      s"$t: expected two files in each of two leaves, got $files")
    ((0L until 40L) ++ (100L until 140L)).map(i => i -> i).toMap
  }

  /** Flat table of three one-part INSERTs: ids 10..50, 100..140,
    * 200..240, v = id. */
  private def threeFlatFiles(t: String, face: String): Map[Long, Long] = {
    plain.sql(s"CREATE TABLE graft.rl.$t (id BIGINT, v BIGINT) USING $face")
    for (lo <- Seq(10, 100, 200))
      plain.sql(s"INSERT INTO graft.rl.$t SELECT id + $lo, id + $lo " +
        "FROM range(0, 41, 1, 1)")
    assert(liveFiles(t).size == 3, s"$t: ${liveFiles(t)}")
    Seq(10L, 100L, 200L).flatMap(lo => (lo to lo + 40).map(i => i -> i)).toMap
  }

  /** The churn-shaped MERGE: `ON t.id = s.id`, UPDATE matched, INSERT the
    * rest; matched rows get v = -id, inserted ones v = -id too. */
  private def churnMerge(t: String, ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    plain.sql(s"MERGE INTO graft.rl.$t t USING (SELECT id, -id AS v, " +
      s"CAST(id % 2 AS INT) AS day FROM (SELECT explode(array(" +
      s"${ids.mkString(", ")})) AS id)) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")

  test("runtime group filter: a MERGE ON t.id = s.id whose matches lie in " +
       "one file of one leaf replaces exactly that file, on every face") {
    for (face <- Seq("feather", "parquet", "avro")) {
      val t = s"rgf_$face"
      var model = twoFilesPerLeaf(t, face)
      val before = liveFiles(t)
      val target = fileOf(t, 101)
      assert(fileOf(t, 103) == target)
      // 101 and 103 match in day=1's second file; 500 and 502 are new
      val df = churnMerge(t, Seq(101L, 103L, 500L, 502L))
      model ++= Seq(101L, 103L, 500L, 502L).map(i => i -> -i)
      val after = liveFiles(t)
      assert(before -- after == Set(target),
        s"$face: only the matching file may be replaced, removed " +
          s"${before -- after}")
      assert(after.size == before.size + 1 || after.size == before.size + 2,
        s"$face: the rewrite and the inserts add files: ${after -- before}")
      assert(idv(t) == model, s"$face: rows")
      assert(batchScans(df).exists(_.runtimeFilters.nonEmpty),
        s"$face: the target scan must carry the runtime group filter")
    }
  }

  test("runtime group filter: a MERGE whose source keys all miss publishes " +
       "its NOT MATCHED inserts and removes no file") {
    val t = "rgf_miss"
    var model = twoFilesPerLeaf(t, "feather")
    val before = liveFiles(t)
    val v0 = snapOf(s"rl/$t").version
    churnMerge(t, Seq(600L, 601L))
    model ++= Seq(600L, 601L).map(i => i -> -i)
    val after = snapOf(s"rl/$t")
    assert(after.version == v0 + 1, "the inserts publish one version")
    assert(before.subsetOf(liveFiles(t)),
      s"no file may be removed: ${before -- liveFiles(t)}")
    assert(idv(t) == model)
  }

  test("runtime group filter: a non-pushable COW DELETE on a flat " +
       "multi-file table replaces only the file holding a match, on every " +
       "face") {
    for (face <- Seq("feather", "parquet", "avro")) {
      val t = s"rgd_$face"
      // id % 97 = 5 matches only id 102 (ids 10..50, 100..140, 200..240)
      val model = threeFlatFiles(t, face) - 102L
      val before = liveFiles(t)
      val target = fileOf(t, 102)
      val df = plain.sql(s"DELETE FROM graft.rl.$t WHERE id % 97 = 5")
      assert(before -- liveFiles(t) == Set(target),
        s"$face: removed ${before -- liveFiles(t)}, expected $target")
      assert(idv(t) == model, s"$face: rows")
      assert(batchScans(df).exists(_.runtimeFilters.nonEmpty), face)
    }
  }

  test("runtime group filter: a table OWNING `_file` stays correct and is " +
       "offered no runtime filter") {
    val t = "rgf_own"
    plain.sql(s"CREATE TABLE graft.rl.$t (id BIGINT, _file STRING) " +
      "USING feather")
    for (lo <- Seq(0, 100))
      plain.sql(s"INSERT INTO graft.rl.$t SELECT id + $lo, " +
        s"concat('orig-', id + $lo) FROM range(0, 10, 1, 1)")
    assert(liveFiles(t).size == 2)
    val df = plain.sql(s"MERGE INTO graft.rl.$t t USING (SELECT explode(" +
      "array(3, 103, 500)) AS id) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET _file = 'touched' " +
      "WHEN NOT MATCHED THEN INSERT (id, _file) VALUES (s.id, 'new')")
    assert(batchScans(df).forall(_.runtimeFilters.isEmpty),
      "an owned `_file` must not be offered as the filter attribute")
    val rows = plain.sql(s"SELECT id, _file FROM graft.rl.$t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = ((0L until 10L) ++ (100L until 110L)).map(i =>
      i -> (if (i == 3 || i == 103) "touched" else s"orig-$i")).toMap +
      (500L -> "new")
    assert(rows == expected)
  }

  test("runtime group filter: a racing commit that rewrites a PRUNED file " +
       "still aborts the statement (the read set stays the planned files)") {
    val t = "rgf_race"
    val model = threeFlatFiles(t, "feather")
    val pruned = fileOf(t, 210)
    assert(pruned != fileOf(t, 120))
    // the MERGE matches only in the 100..140 file; the racer rewrites the
    // 200..240 file, which the runtime filter dropped from the groups
    graft.sources.FeatherSnapshots.testBeforeMutationCommit = () => {
      graft.io.PredicateMutations.deleteWhere(plain, s"$wh/rl/$t",
        org.apache.spark.sql.functions.col("id") === 210): Unit
    }
    val e = intercept[Exception] {
      plain.sql(s"MERGE INTO graft.rl.$t t USING (SELECT 120L AS id) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = -1")
    }
    assert(e.getMessage.contains("conflict with a concurrent commit") &&
      e.getMessage.contains(pruned),
      s"expected the read-set conflict on $pruned, got: ${e.getMessage}")
    // the racer's delete landed; the MERGE's update did not
    assert(idv(t) == model - 210L)
  }

  test("runtime group filter: a racing rewrite of the ONLY matching file " +
       "before the matching-rows query runs aborts the statement, never a " +
       "silent no-op") {
    // Runs once in the optimizer's user batch, i.e. after Spark's
    // RowLevelOperationRuntimeGroupFiltering planned the row-level scan
    // and before the matching-rows query reads its own snapshot.
    object RaceAfterGroupFilter
        extends org.apache.spark.sql.catalyst.rules.Rule[
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      @volatile var racer: Option[() => Unit] = None
      override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
          : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
        plan match {
          case _: org.apache.spark.sql.catalyst.plans.logical.ReplaceData =>
            racer.foreach { r => racer = None; r() }
          case _ => ()
        }
        plan
      }
    }
    val extra = plain.experimental.extraOptimizations
    plain.experimental.extraOptimizations = extra :+ RaceAfterGroupFilter
    try Seq(
      "DELETE FROM graft.rl.TBL WHERE id % 1000 = 120",
      "UPDATE graft.rl.TBL SET v = -1 WHERE id % 1000 = 120",
      "MERGE INTO graft.rl.TBL t USING (SELECT 120L AS id) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = -1"
    ).zipWithIndex.foreach { case (stmt, i) =>
      val t = s"rgf_race_only$i"
      val model = threeFlatFiles(t, "feather")
      val only = fileOf(t, 120)
      // the racer rewrites the matching file (dropping 130, keeping 120):
      // the matching-rows query then names only the racer's new file,
      // which is no planned file, so no group survives the filter
      RaceAfterGroupFilter.racer = Some(() =>
        graft.io.PredicateMutations.deleteWhere(plain, s"$wh/rl/$t",
          org.apache.spark.sql.functions.col("id") === 130): Unit)
      val e = intercept[Exception](plain.sql(stmt.replace("TBL", t)))
      assert(RaceAfterGroupFilter.racer.isEmpty, s"$stmt: the racer never ran")
      assert(e.getMessage.contains("conflict with a concurrent commit") &&
        e.getMessage.contains(only),
        s"$stmt: expected the read-set conflict on $only, got: ${e.getMessage}")
      assert(idv(t) == model - 130L, s"$stmt must not have applied")
    }
    finally plain.experimental.extraOptimizations = extra
  }

  test("runtime group filter: the plan pins it on a multi-file MERGE's " +
       "target scan and leaves a one-file pruned UPDATE without it") {
    val t = "rgf_plan"
    twoFilesPerLeaf(t, "feather")
    val merge = churnMerge(t, Seq(2L, 800L))
    val target = batchScans(merge).filter(
      _.scan.description().contains("face scan"))
    assert(target.size == 1 && target.head.runtimeFilters.exists(
      _.references.exists(_.name == "_file")),
      s"the MERGE's target scan must filter on _file at runtime: " +
        target.map(_.runtimeFilters))
    // day = 0 AND id <= 10: leaf pruning plus stats leave one file
    val upd = plain.sql(s"UPDATE graft.rl.$t SET v = v + 1 " +
      "WHERE day = 0 AND id >= 0 AND id <= 10")
    val scans = batchScans(upd)
    assert(scans.nonEmpty && scans.forall(_.runtimeFilters.isEmpty),
      s"a one-file UPDATE needs no runtime filter: " +
        scans.map(_.runtimeFilters))
  }

  test("commit metrics: a SQL DELETE on graft.`path` and graft_dv.`path` " +
       "reports what its commit published in the executed plan") {
    def metrics(cat: String, df: org.apache.spark.sql.DataFrame) = {
      val write = (df.queryExecution.executedPlan match {
        case c: org.apache.spark.sql.execution.CommandResultExec =>
          c.commandPhysicalPlan
        case p => p
      }).collectFirst { case p if p.metrics.contains("commitVersion") => p }
        .getOrElse(fail(s"$cat: no commit metrics in " +
          df.queryExecution.executedPlan))
      (write.nodeName, Seq("commitVersion", "filesRemoved", "filesKept",
        "partsAdded", "dvsBound").map(k => k -> write.metrics(k).value).toMap)
    }
    for ((cat, t) <- Seq("graft" -> "cm_cow", "graft_dv" -> "cm_dv")) {
      threeFlatFiles(t, "feather")
      val before = snapOf(s"rl/$t")
      val df = plain.sql(s"DELETE FROM $cat.`$wh/rl/$t` WHERE id % 1000 = 120")
      val after = snapOf(s"rl/$t")
      assert(after.version == before.version + 1)
      val (node, m) = metrics(cat, df)
      // COW replaces the one matching file with one part; delta binds one
      // DV on it; either way every other planned file is kept
      val (removed, added, dvs) = if (cat == "graft") (1, 1, 0) else (0, 0, 1)
      assert(m == Map("commitVersion" -> after.version,
        "filesRemoved" -> removed, "filesKept" -> (before.files.size - 1),
        "partsAdded" -> added, "dvsBound" -> dvs), s"$cat ($node): $m")
    }
    // a MERGE (matched update + not-matched insert), and an insert-only
    // MERGE, which Spark runs as an append: each report equals the
    // manifest delta its commit published
    def merge(cat: String, t: String, clauses: String) =
      plain.sql(s"MERGE INTO $cat.`$wh/rl/$t` t USING (SELECT 120L AS id, " +
        s"-1L AS v UNION ALL SELECT 999L, -1L) s ON t.id = s.id $clauses")
    val upsert = "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *"
    for ((cat, t, clauses, node) <- Seq(
        ("graft", "cmm_cow", upsert, "ReplaceData"),
        ("graft_dv", "cmm_dv", upsert, "WriteDelta"),
        ("graft", "cmm_ins", "WHEN NOT MATCHED THEN INSERT *", "AppendData"))) {
      threeFlatFiles(t, "feather")
      val before = snapOf(s"rl/$t")
      val (name, m) = metrics(cat, merge(cat, t, clauses))
      val after = snapOf(s"rl/$t")
      val removed = before.files.toSet -- after.files.toSet
      val added = after.files.toSet -- before.files.toSet
      val bound = after.dvs.count { case (rel, b) =>
        !before.dvs.get(rel).contains(b) }
      assert(name.startsWith(node), s"$cat $t: $name")
      assert(after.version == before.version + 1 && added.nonEmpty)
      // only the 100..140 file holds id 120: COW replaces it, delta masks
      // it, the append leaves every file
      assert((removed.size, bound) == (node match {
        case "ReplaceData" => (1, 0)
        case "WriteDelta" => (0, 1)
        case _ => (0, 0)
      }), s"$cat $t: removed $removed, $bound bound")
      assert(m == Map("commitVersion" -> after.version,
        "filesRemoved" -> removed.size,
        "filesKept" -> (before.files.size - removed.size - bound),
        "partsAdded" -> added.size, "dvsBound" -> bound), s"$cat $t: $m")
    }
  }
}
