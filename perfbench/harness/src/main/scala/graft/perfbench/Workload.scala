package graft.perfbench

/** Marks where an operation stops building its work and starts running it.
  * An operation that never calls [[acting]] is all action (a DML statement
  * executes inside `spark.sql`). */
final class Phases {
  private[perfbench] var actNs: Long = -1L
  def acting(): Unit = actNs = System.nanoTime()
}

/** One client request. `rows` is the number of user rows it changes and
  * `scope` the live rows in the partitions it addresses; `body` returns the
  * rows it read (compared with `expect` after the timed phase) or None when
  * it reads nothing back. */
final case class Op(kind: String, name: String, rows: Long,
                    body: Phases => Option[Seq[String]],
                    expect: Option[Seq[String]] = None, scope: Long = 0L)

/** A workload is a seeded sequence of blocks (a pass over the query list,
  * a cycle of table statements) run by one closed-loop client. */
trait Workload {
  /** Untimed: fixtures and warmup, after the session exists. */
  def setup(): Unit

  /** Block `i` of the run seeded by `seed`. Two seeds give the same
    * operations in another order, with other key values. */
  def block(seed: Long, i: Int): Seq[Op]

  /** Untimed, after every operation: releases what it pinned and records
    * what it left behind. */
  def afterOp(s: Sample, traced: Boolean): Unit = ()

  /** Untimed, after the timed phase: correctness mismatches. */
  def verify(run: Seq[Sample]): Seq[String]

  /** Workload-specific end-to-end figures, printed beside the gated ones. */
  def details(run: Seq[Sample]): Map[String, Metric] = Map.empty

  /** Table-layer figures for the traced run (zero for read-only data). */
  def layerMetrics(traced: Seq[(Sample, OpTrace)]): Map[String, Double] =
    Map.empty
}
