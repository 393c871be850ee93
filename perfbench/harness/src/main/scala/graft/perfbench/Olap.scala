package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.OrderedOps

/** A frozen list of registry queries over the fixture tables. Each block is
  * one pass over the whole list in a seeded order; an operation builds the
  * query's DataFrame (construction, which may itself run Spark jobs) and
  * then runs it to a `noop` sink, which evaluates every output column. */
final class Olap(spark: SparkSession, a: Args) extends Workload {
  private val registry = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql
  private val queries: Seq[String] = a.queries.map { n =>
    require(registry.contains(n), s"query $n is not in the registry")
    n
  }

  private def op(name: String): Op = {
    val fn = registry(name)
    Op("query", name, 0L, ph => {
      val df = fn(spark, a.data)
      ph.acting()
      df.write.format("noop").mode("overwrite").save()
      None
    })
  }

  /** Runs `f` over the list on `cores` threads. Pins are thread-local, so
    * each query releases its own on the thread that made them. */
  private def parallel[T](f: String => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    try queries.map { n =>
      pool.submit(() => try f(n) finally OrderedOps.clearPins())
    }.map(_.get())
    finally pool.shutdown()
  }

  /** One untimed run of every query, spread over the cores: JIT, codegen
    * caches and footer-schema caches warm up here and not in the first
    * timed pass. */
  def setup(): Unit = parallel { n =>
    try op(n).body(new Phases)
    catch { case e: Throwable => System.err.println(s"[warmup] $n: ${e.getMessage}") }
  }

  def block(seed: Long, i: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + i).shuffle(queries).map(op)

  override def afterOp(s: Sample, traced: Boolean): Unit = OrderedOps.clearPins()

  /** Dumps each listed query that has an oracle, with the oracle SQL, in the
    * layout the DuckDB checker reads; the comparison runs outside the JVM. */
  def verify(run: Seq[Sample]): Seq[String] = {
    val dir = s"${a.out}/verify"
    val failed = parallel { n =>
      if (!oracles.contains(n)) None
      else try {
        registry(n)(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$n")
        None
      } catch { case e: Throwable => Some(s"$n: dump failed: ${e.getMessage}") }
    }.flatten
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.write(
      queries.filter(oracles.contains).map(n => n -> oracles(n)).toMap))
    failed
  }
}
