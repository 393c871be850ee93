package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.sources.FeatherSnapshots

/** Table churn on one day-partitioned graft feather table, all by SQL name.
  *
  * Each block is one cycle of 14 statements, [[Churn.Slots]]: 5 writes (an
  * INSERT, a copy-on-write MERGE of half matched and half new keys, 2
  * predicate UPDATEs and a deletion-vector DELETE through `graft_dv`, in a
  * seeded order) between 4 point reads, 3 range reads and 2 grouped scans
  * in fixed places, so every read sees the same number of writes since the
  * last compaction whatever the seed. The writes change fixed row counts
  * and the DELETE removes as many rows as the INSERT and the MERGE add, so
  * the live row count stays at [[Churn.Rows]]. Each cycle ends with one
  * more operation, `CALL graft.system.compact` and
  * `CALL graft.system.expire`: a compaction every 5 commits, which bounds
  * the table directory.
  *
  * The seed picks the initial key layout, the hot partitions (a fixed
  * skew over a seeded ranking of the days), the order of the writes and
  * the key values; never the statements' number, kind or row counts. */
final class Churn(spark: SparkSession, a: Args) extends Workload {
  import Churn._

  private val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
  private val plans = mutable.Map.empty[Long, Plan]
  private def plan(seed: Long) =
    plans.getOrElseUpdate(seed, new Plan(spark, seed))

  private val root = new Path(s"$warehouse/$Table")
  private lazy val fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bytes per live row of the freshly compacted table (set-up). */
  private var freshBytesPerRow = 0.0

  private def sql(s: String): Unit = spark.sql(s).collect(): Unit

  /** Set-up: the table is created from the seed and compacted, then the
    * plan's first cycle runs untimed as the warm-up (the model includes
    * it). Timed block `i` is the plan's cycle `i + 1`. */
  def setup(): Unit = {
    val p = plan(a.seed)
    sql(s"DROP TABLE IF EXISTS graft.$Table")
    sql(p.createSql)
    p.maintenance.body(new Phases)
    lastSnap = FeatherSnapshots.resolve(fs, root, None).get
    freshBytesPerRow = lastSnap.files.map(_._2).sum.toDouble / Rows
    p.cycle(0).foreach(_.body(new Phases))
    lastSnap = FeatherSnapshots.resolve(fs, root, None).get
    listing = list()
  }

  def block(seed: Long, i: Int): Seq[Op] = plan(seed).cycle(i + 1)

  // ---- what each operation left in the table directory -------------------
  private var listing: Map[String, Long] = Map.empty
  private val left = mutable.Map.empty[Long, Left]
  private var lastSnap: FeatherSnapshots.Snapshot = _

  private def list(): Map[String, Long] = {
    val it = fs.listFiles(root, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val f = it.next(); b += f.getPath.toString -> f.getLen }
    b.result()
  }

  override def afterOp(s: Sample, traced: Boolean): Unit =
    if (Writes(s.kind)) {
      val now = list()
      val fresh = now.filter { case (p, _) => !listing.contains(p) }
      listing = now
      val manifest = fresh.filter(_._1.contains(s"/${FeatherSnapshots.Dir}/"))
        .values.sum
      val t0 = System.nanoTime()
      val snap = FeatherSnapshots.resolve(fs, root, None).get
      val ms = (System.nanoTime() - t0) / 1e6
      val before = lastSnap.files.toMap
      val after = snap.files.toMap
      val removed = before.keySet -- after.keySet
      left(s.op) = Left(fresh.values.sum, manifest, ms, after.size,
        snap.dvs.size, (after.keySet -- before.keySet).size, removed.size,
        removed.toSeq.map(before).sum)
      lastSnap = snap
    }

  /** Every read against what the model expected at that point, then the
    * final row count and value checksum against the model's end state. */
  def verify(run: Seq[Sample]): Seq[String] = {
    val reads = run.filter(s => s.ok && s.expect.isDefined).flatMap { s =>
      if (s.got == s.expect) None
      else Some(s"op ${s.op} ${s.name}: got ${s.got.map(_.take(3))} " +
        s"expected ${s.expect.map(_.take(3))}")
    }
    val p = plan(a.seed)
    val r = spark.sql(s"SELECT count(*), sum(v), " +
      s"sum((id % 1000003) * (v % 1000003)) FROM graft.$Table").head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val want = p.checksum
    reads ++ (if (got == want) Nil
      else Seq(s"final table (rows, sum v, checksum) $got, model $want"))
  }

  override def details(run: Seq[Sample]): Map[String, Metric] = {
    val ok = run.filter(_.ok)
    def secs(f: Sample => Boolean) = ok.filter(f).map(_.seconds)
    val w = secs(s => Dml(s.kind))
    val r = secs(_.kind.startsWith("read"))
    val c = secs(_.kind == "compact")
    val changed = ok.map(_.rows).sum
    val written = ok.flatMap(s => left.get(s.op)).map(_.written).sum
    val live = plan(a.seed).liveRows
    Map(
      "write_p50_s" -> Metric(Stats.quantile(w, 0.5), "s", w.size),
      "write_p90_s" -> Metric(Stats.quantile(w, 0.9), "s", w.size),
      "read_p50_s" -> Metric(Stats.quantile(r, 0.5), "s", r.size),
      "read_p90_s" -> Metric(Stats.quantile(r, 0.9), "s", r.size),
      "compact_s" -> Metric(Stats.median(c), "s", c.size),
      "write_amp" -> Metric(written / (changed * freshBytesPerRow), "ratio",
        ok.count(s => Writes(s.kind))),
      "space_amp" -> Metric(list().values.sum / (live * freshBytesPerRow),
        "ratio", 1))
  }

  override def layerMetrics(traces: Seq[(Sample, OpTrace)]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val writes = traces.filter(t => Writes(t._1.kind))
    val lefts = writes.flatMap(t => left.get(t._1.op))
    val reads = traces.filter(_._1.kind.startsWith("read"))
    val compacts = traces.filter(_._1.kind == "compact")
    val readBytes = reads.map(_._2.inputBytes.toDouble)
    val scope = reads.map(_._1.scope * freshBytesPerRow)
    Map(
      "catalog.resolve_ms" -> mean(reads.map(_._2.constructMs)),
      "catalog.call_ms" -> mean(compacts.map(_._2.actionMs)),
      "sources.snapshot_ms" -> mean(lefts.map(_.snapshotMs)),
      "sources.live_files" -> mean(lefts.map(_.files.toDouble)),
      "sources.dv_files" -> mean(lefts.map(_.dvs.toDouble)),
      "sources.read_bytes" -> mean(readBytes),
      "sources.read_amp" -> (if (scope.sum > 0) readBytes.sum / scope.sum else 0.0),
      "io.files_added" -> mean(lefts.map(_.added.toDouble)),
      "io.files_removed" -> mean(lefts.map(_.removed.toDouble)),
      "io.bytes_written" -> mean(lefts.map(_.written.toDouble)),
      "io.rewrite_bytes" -> mean(writes.filter(t => Dml(t._1.kind))
        .flatMap(t => left.get(t._1.op)).map(_.removedBytes.toDouble)),
      "io.manifest_bytes" -> mean(lefts.map(_.manifest.toDouble)),
      "io.compact_bytes_rewritten" -> mean(compacts
        .flatMap(t => left.get(t._1.op)).map(_.removedBytes.toDouble)))
  }
}

object Churn {
  /** What one write left in the table directory and its snapshot. */
  private final case class Left(written: Long, manifest: Long,
                                snapshotMs: Double, files: Int, dvs: Int,
                                added: Int, removed: Int, removedBytes: Long)

  val Table = "churn"
  /** Live rows, spread evenly over [[Days]] day partitions at the start. */
  val Rows = 96000
  val Days = 8
  /** Rows an INSERT, MERGE or UPDATE changes; a DELETE removes what the
    * INSERT and the MERGE's new half add. */
  val R = 200
  val DeleteRows: Int = R + R / 2
  /** Rows each range read returns. */
  val RangeRows = 100
  /** One cycle: "write" slots take the cycle's writes in a seeded order. */
  val Slots: Seq[String] = Seq("write", "read_point", "read_range", "write",
    "read_scan", "read_point", "write", "read_range", "read_point", "write",
    "read_range", "read_scan", "write", "read_point")
  val CycleWrites: Seq[String] = Seq("insert", "merge", "update", "update",
    "delete")
  val Dml: Set[String] = Set("insert", "merge", "update", "delete")
  val Writes: Set[String] = Dml + "compact"
  private val Mod = 1000000L

  /** The seeded statement sequence and the in-memory model it is checked
    * against; generating it runs no Spark work. */
  final class Plan(spark: SparkSession, seed: Long) {
    private val table = Table
    private val rng = new scala.util.Random(seed)
    private val daySalt = rng.nextInt(Days)
    private val vSalt = rng.nextInt(Mod.toInt)
    /** Zipf(1) weights over a seeded ranking of the days. */
    private val weights = {
      val rank = rng.shuffle((0 until Days).toList)
      val w = Array.ofDim[Double](Days)
      rank.zipWithIndex.foreach { case (d, i) => w(d) = 1.0 / (i + 1) }
      w.map(_ / w.sum)
    }
    private val live = Array.fill(Days)(new java.util.TreeMap[Long, Long]())
    private def vOf(id: Long, salt: Long) = Math.floorMod(id * 7919L + salt, Mod)
    for (id <- 0L until Rows)
      live(Math.floorMod(id * 5 + daySalt, Days)).put(id, vOf(id, vSalt))
    private var nextId = Rows.toLong
    private val cycles = mutable.ArrayBuffer.empty[Seq[Op]]

    def liveRows: Long = live.map(_.size.toLong).sum
    def checksum: (Long, Long, Long) = {
      val all = live.toSeq.flatMap(_.asScala)
      (all.size.toLong, all.map(_._2).sum,
        all.map { case (id, v) => (id % 1000003) * (v % 1000003) }.sum)
    }

    val createSql: String =
      s"CREATE TABLE graft.$table USING feather PARTITIONED BY (day) AS " +
        s"SELECT id, pmod(id * 7919 + $vSalt, $Mod) AS v, " +
        s"concat('pay-', id, '-', repeat('x', 24)) AS pay, " +
        s"CAST(pmod(id * 5 + $daySalt, $Days) AS INT) AS day FROM range($Rows)"

    val maintenance: Op = Op("compact", "compact", 0L, _ => {
      spark.sql(s"CALL graft.system.compact('$table')").collect()
      spark.sql(s"CALL graft.system.expire('$table', keep_last => 2)").collect()
      None
    })

    def cycle(i: Int): Seq[Op] = {
      while (cycles.size <= i) cycles += nextCycle()
      cycles(i)
    }

    private def pickDay(): Int = {
      var x = rng.nextDouble()
      var d = 0
      while (d < Days - 1 && x >= weights(d)) { x -= weights(d); d += 1 }
      d
    }
    /** A day with enough live rows for a write of `need` rows. */
    private def pickDay(need: Int): Int = {
      val first = pickDay()
      (0 until Days).map(i => (first + i) % Days)
        .find(live(_).size >= need + R)
        .getOrElse(sys.error(s"$table: no partition holds ${need + R} rows"))
    }
    /** `n` consecutive live ids of day `d` from a seeded position. */
    private def run(d: Int, n: Int): Seq[Long] = {
      val ids = live(d).navigableKeySet()
      val start = rng.nextInt(ids.size - n + 1)
      ids.asScala.iterator.drop(start).take(n).toSeq
    }
    private def fresh(n: Int): Seq[Long] = {
      val ids = nextId until nextId + n
      nextId += n
      ids
    }
    private def rowSql(d: Int, salt: Long) =
      s"pmod(id * 7919 + $salt, $Mod) AS v, " +
        s"concat('pay-', id, '-', repeat('x', 24)) AS pay, CAST($d AS INT) AS day"

    private def nextCycle(): Seq[Op] = {
      val writes = rng.shuffle(CycleWrites).iterator
      Slots.map(k => next(if (k == "write") writes.next() else k)) :+ maintenance
    }

    private def dml(kind: String, rows: Int, stmt: String): Op =
      Op(kind, kind, rows.toLong, _ => { spark.sql(stmt).collect(); None })

    private def read(kind: String, scope: Long, q: String,
                     expect: Seq[String]): Op =
      Op(kind, kind, 0L, ph => {
        val df = spark.sql(q)
        ph.acting()
        Some(df.collect().map(_.toSeq.mkString(",")).toSeq.sorted)
      }, Some(expect.sorted), scope)

    private def next(kind: String): Op = kind match {
      case "insert" =>
        val d = pickDay()
        val ids = fresh(R)
        ids.foreach(id => live(d).put(id, vOf(id, vSalt)))
        dml(kind, R, s"INSERT INTO graft.$table SELECT id, ${rowSql(d, vSalt)} " +
          s"FROM range(${ids.head}, ${ids.last + 1})")
      case "merge" =>
        val d = pickDay(R / 2)
        val salt = rng.nextInt(Mod.toInt).toLong
        val matched = run(d, R / 2)
        val added = fresh(R / 2)
        (matched ++ added).foreach(id => live(d).put(id, vOf(id, salt)))
        dml(kind, R, s"MERGE INTO graft.$table t USING (SELECT id, ${rowSql(d, salt)} " +
          s"FROM (SELECT explode(array(${matched.mkString(",")})) AS id " +
          s"UNION ALL SELECT id FROM range(${added.head}, ${added.last + 1}))) s " +
          "ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
      case "update" =>
        val d = pickDay(R)
        val c = 1 + rng.nextInt(1000)
        val ids = run(d, R)
        ids.foreach(id => live(d).put(id, Math.floorMod(live(d).get(id) + c, Mod)))
        dml(kind, R, s"UPDATE graft.$table SET v = pmod(v + $c, $Mod) " +
          s"WHERE day = $d AND id >= ${ids.head} AND id <= ${ids.last}")
      case "delete" =>
        val d = pickDay(DeleteRows)
        val ids = run(d, DeleteRows)
        ids.foreach(live(d).remove)
        dml(kind, DeleteRows, s"DELETE FROM graft_dv.$table " +
          s"WHERE day = $d AND id >= ${ids.head} AND id <= ${ids.last}")
      case "read_point" =>
        val d = pickDay(1)
        val id = run(d, 1).head
        read(kind, live(d).size,
          s"SELECT id, v FROM graft.$table WHERE day = $d AND id = $id",
          Seq(s"$id,${live(d).get(id)}"))
      case "read_range" =>
        val d = pickDay(RangeRows)
        val ids = run(d, RangeRows)
        read(kind, live(d).size, s"SELECT id, v FROM graft.$table " +
          s"WHERE day = $d AND id >= ${ids.head} AND id <= ${ids.last}",
          ids.map(id => s"$id,${live(d).get(id)}"))
      case "read_scan" =>
        read(kind, liveRows, s"SELECT day, count(*) AS n, sum(v) AS s " +
          s"FROM graft.$table GROUP BY day",
          (0 until Days).filter(live(_).size > 0).map(d =>
            s"$d,${live(d).size},${live(d).values.asScala.map(_.longValue).sum}"))
    }
  }
}
