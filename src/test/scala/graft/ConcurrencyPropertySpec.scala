package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ConditionalMerge, ParquetCompact, ParquetTable, PredicateMutations, TableDdl}
import graft.sources.FeatherSnapshots

/** Property layer over the optimistic-concurrency conflict matrix:
  * ConcurrencySpec pins hand-picked interleavings; this spec drives
  * SEEDED RANDOM pairs of operations through the one-shot
  * `testBeforeMutationCommit` seam (the inner op commits inside the
  * outer op's commit window) and checks every outcome against a
  * serializability model:
  *
  *  - if the outer op ABORTS, the table must equal the inner op's
  *    result alone (no half-applied state);
  *  - if the outer op COMMITS, the table must equal applying the two
  *    ops in SOME serial order (either one — disjoint ops commute;
  *    append races are pinned to mutation-before-append by the
  *    documented write-serializable contract, which the either-order
  *    check accepts);
  *  - ops whose file footprints are DISJOINT (different hive leaves,
  *    appends, ALTER's zero-row stamps) MUST both commit, and ops with
  *    OVERLAPPING rewrites MUST abort — the logical-conflict-detection
  *    contract itself, not just its content outcome.
  *
  * The model is an in-memory map id → (day, amt); compact and ALTER are
  * content-identities. Deterministic: fixed master seed, fresh table
  * per scenario. */
class ConcurrencyPropertySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_conc_prop/$n"
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(p))
    p
  }

  // ---- operations over a day-partitioned (id, day, amt) table -------------

  private sealed trait Op {
    /** Some(leaf) when the op REWRITES that leaf's files; None = no
      * rewrite (append, ALTER stamps). Compact rewrites every leaf. */
    def rewrites: Option[Set[Int]]
  }
  private case class Del(leaf: Int, k: Int) extends Op {
    val rewrites = Some(Set(leaf))
  }
  private case class Upd(leaf: Int, k: Int) extends Op {
    val rewrites = Some(Set(leaf))
  }
  /** `wide`: the source also carries 10 001 keys above every file's
    * range, none of them inserted — past any collect-to-driver bound, so
    * only the engine's key probe keeps the merge's read set at its leaf. */
  private case class Mrg(leaf: Int, wide: Boolean = false) extends Op {
    val rewrites = Some(Set(leaf))
  }
  private case class App(leaf: Int, base: Long) extends Op {
    val rewrites = None
  }
  private case class Alter(colName: String) extends Op {
    val rewrites = None
  }
  private case object Compact extends Op {
    val rewrites = Some(Set(0, 1, 2))
  }

  private type Model = Map[Long, (String, Double)]

  private val initial: Model =
    ((1 to 60).map(i => i.toLong -> (s"d${(i - 1) / 20}", i * 1.0)) ++
      (61 to 90).map(i => i.toLong -> (s"d${(i - 61) / 10}", i * 1.0))).toMap

  private def mergeIds(leaf: Int): Seq[Long] =
    Seq(20L * leaf + 3, 20L * leaf + 10)

  private def applyModel(m: Model, op: Op): Model = op match {
    case Del(l, k) =>
      m.filterNot { case (id, (day, _)) => day == s"d$l" && id % 7 == k }
    case Upd(l, k) =>
      m.map { case (id, (day, amt)) =>
        if (day == s"d$l" && id % 7 == k) id -> (day, amt + 100000.0)
        else id -> (day, amt) }
    case Mrg(l, _) =>
      val updated = m.map { case (id, (day, amt)) =>
        if (mergeIds(l).contains(id)) id -> (day, -1.0)
        else id -> (day, amt) }
      updated + ((700L + l) -> (s"d$l", 700.0 + l))
    case App(l, base) =>
      m ++ (base until base + 3).map(id => id -> (s"d$l", id * 1.0))
    case Alter(_) | Compact => m
  }

  private def exec(path: String, op: Op): Unit = op match {
    case Del(l, k) =>
      PredicateMutations.deleteWhere(spark, path,
        col("day") === s"d$l" && pmod(col("id"), lit(7L)) === k): Unit
    case Upd(l, k) =>
      PredicateMutations.updateWhere(spark, path,
        Map("amt" -> (col("amt") + 100000.0)),
        Some(col("day") === s"d$l" && pmod(col("id"), lit(7L)) === k)): Unit
    case Mrg(l, wide) =>
      import spark.implicits._
      val filler =
        if (!wide) Nil else (0L to 10000L).map(j => (100000L + j, s"d$l", 0.0))
      val src = (mergeIds(l).map(id => (id, s"d$l", -1.0)) ++
        ((700L + l, s"d$l", 700.0 + l) +: filler)).toDF("id", "day", "amt")
      ConditionalMerge(spark, path, src, Seq("id"))
        .whenMatchedUpdate(None, Map("amt" -> col("source.amt")))
        .whenNotMatchedInsertAll(
          if (wide) Some(col("source.id") < 100000L) else None)
        .execute(): Unit
    case App(l, base) =>
      import spark.implicits._
      ParquetTable.append(
        (base until base + 3).map(id => (id, s"d$l", id * 1.0))
          .toDF("id", "day", "amt"),
        path, partitionBy = Seq("day")): Unit
    case Alter(c) =>
      TableDdl.addColumns(spark, path, Seq(
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType, nullable = true))): Unit
    case Compact =>
      ParquetCompact.compact(spark, path, targetBytes = 1L << 30): Unit
  }

  private def writeInitial(path: String): Unit = {
    import spark.implicits._
    ParquetTable.write(
      (1 to 60).map(i => (i.toLong, s"d${(i - 1) / 20}", i * 1.0))
        .toDF("id", "day", "amt"),
      path, partitionBy = Seq("day"))
    // a second generation so every leaf holds >= 2 files and compaction
    // always has groups to rewrite (a no-op compact would never open
    // the commit window and the scenario would silently skip its race)
    ParquetTable.append(
      (61 to 90).map(i => (i.toLong, s"d${(i - 61) / 10}", i * 1.0))
        .toDF("id", "day", "amt"),
      path, partitionBy = Seq("day")): Unit
  }

  private def content(path: String): Seq[(Long, String, Double)] =
    ParquetTable.read(spark, path).select(
        col("id").cast("long"), col("day"), col("amt").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  private def asRows(m: Model): Seq[(Long, String, Double)] =
    m.toSeq.map { case (id, (day, amt)) => (id, day, amt) }.sortBy(_._1)

  // ---- the property --------------------------------------------------------

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private lazy val pairs: Seq[(Op, Op)] = {
    val leafGen = Gen.chooseNum(0, 2)
    val opGen: Gen[Op] = Gen.frequency(
      3 -> (for { l <- leafGen; k <- Gen.chooseNum(0, 6) } yield Del(l, k)),
      3 -> (for { l <- leafGen; k <- Gen.chooseNum(0, 6) } yield Upd(l, k)),
      2 -> leafGen.map(Mrg(_)),
      2 -> leafGen.map(l => App(l, 0L)), // base assigned per scenario
      1 -> Gen.const(Alter("c")),        // name assigned per scenario
      1 -> Gen.const(Compact))
    sample(Gen.listOfN(54, Gen.zip(opGen, opGen)), 20260816L)
  }

  test("54 seeded op-pair interleavings: disjoint footprints both " +
       "commit, overlapping rewrites abort, and the surviving state is " +
       "always a serial order of the two") {
    runPairs(pairs, "s")
  }

  test("the pairs holding a merge, rerun with a source of more than " +
       "10 000 keys: the key probe keeps disjoint merges disjoint") {
    def widen(op: Op): Op = op match {
      case m: Mrg => m.copy(wide = true)
      case other => other
    }
    runPairs(pairs.collect {
      case (o, i) if o.isInstanceOf[Mrg] || i.isInstanceOf[Mrg] =>
        (widen(o), widen(i))
    }, "w")
  }

  private def runPairs(pairs: Seq[(Op, Op)], tag: String): Unit =
    pairs.zipWithIndex.foreach { case ((outer0, inner0), i) =>
      // unique append ids / column names per scenario (two App ops in
      // one scenario get distinct bases so the model stays a function)
      def fix(op: Op, slot: Int): Op = op match {
        case a: App => a.copy(base = 800L + 10L * slot)
        case a: Alter => a.copy(colName = s"c_${i}_$slot")
        case other => other
      }
      val outer = fix(outer0, 0)
      val inner = fix(inner0, 1)
      val path = tmp(s"$tag$i")
      writeInitial(path)
      val clue = s"scenario $i: outer=$outer inner=$inner"

      // a blind APPEND never enters the mutation-commit window (it
      // rides publishDataCommit), so the inner op runs plainly first —
      // the interleaving under test is the mutation-side one
      if (outer.isInstanceOf[App]) exec(path, inner)
      else FeatherSnapshots.testBeforeMutationCommit = () => exec(path, inner)
      val outcome: Option[String] =
        try { exec(path, outer); None }
        catch {
          case e: IllegalArgumentException
              if e.getMessage != null &&
                e.getMessage.contains("conflict with a concurrent commit") =>
            Some(e.getMessage)
        }
      finally FeatherSnapshots.testBeforeMutationCommit = () => ()

      // appends and ALTER never lose a race; compact-free disjoint
      // rewrites must BOTH commit; overlapping rewrites must abort
      val mustCommit = inner.rewrites.isEmpty || outer.rewrites.isEmpty ||
        outer.rewrites.get.intersect(inner.rewrites.get).isEmpty
      if (mustCommit)
        assert(outcome.isEmpty, s"$clue: expected both to commit, " +
          s"got abort: ${outcome.getOrElse("")}")
      else
        assert(outcome.isDefined, s"$clue: expected a loud conflict " +
          "abort, but the outer op committed")

      val got = content(path)
      val innerOnly = asRows(applyModel(initial, inner))
      val innerThenOuter = asRows(applyModel(applyModel(initial, inner), outer))
      val outerThenInner = asRows(applyModel(applyModel(initial, outer), inner))
      if (outcome.isDefined)
        assert(got === innerOnly,
          s"$clue: aborted outer must leave exactly the inner's state")
      else
        assert(got === innerThenOuter || got === outerThenInner,
          s"$clue: surviving state equals neither serial order")
    }
}
