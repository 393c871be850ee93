package graft.extensions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** A table-maintenance action deferred to EXECUTION time.
  *
  * The maintenance table functions ([[GraftTableFunctions]]) mutate the
  * table (clustering, z-ordering, COPY INTO ingestion). Running the
  * action while the TVF builder constructs the plan would fire it at
  * ANALYSIS — `df.explain()`, a BI tool eagerly analyzing statements, or
  * a twice-resolved CTE would each mutate the table without the
  * statement ever "running". This leaf defers the side effect into the
  * physical plan: `doExecute` runs the closure ON THE DRIVER (the action
  * spawns its own Spark jobs) exactly when the enclosing statement
  * executes, and the one-row result the SELECT returns is whatever the
  * action reports — the same contract as Delta's RESTORE/OPTIMIZE
  * commands. A plan that references the node twice executes the action
  * twice, exactly like issuing the statement twice.
  *
  * Corollary (documented, deliberate): the action runs iff the leaf
  * SURVIVES optimization. A statement that provably never reads the
  * result — `WHERE 1=0`, `LIMIT 0` — is pruned to an empty relation and
  * skips the action, the same way it would skip reading a table. Drive
  * maintenance with a plain `SELECT * FROM graft_...(...)`.
  *
  * Precise firing point: `doExecute` runs when the statement's physical
  * RDD is ASSEMBLED (`QueryExecution.toRdd`), so `df.rdd` /
  * `df.queryExecution.toRdd` on a statement containing this leaf fires
  * the action even if no job ever runs over the returned RDD — slightly
  * stronger than "when the statement executes". The action cannot move
  * into task compute (it spawns driver-side Spark jobs of its own), so
  * this is the tightest deferral available; treat obtaining the RDD of a
  * maintenance statement as executing it. */
private[extensions] case class DeferredMaintenanceAction(
    name: String,
    output: Seq[Attribute],
    action: () => Seq[Row]) extends LeafNode {
  // one summary row; a join against this is always broadcast-cheap
  override def computeStats(): Statistics = Statistics(sizeInBytes = 64)
  override def simpleString(maxFields: Int): String =
    s"DeferredMaintenanceAction $name"
}

private[extensions] case class DeferredMaintenanceActionExec(
    name: String,
    output: Seq[Attribute],
    action: () => Seq[Row]) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    // doExecute runs driver-side while the statement's RDD DAG is
    // assembled — i.e. at statement execution, never at EXPLAIN/analysis
    val rows = action()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    // parents consume UnsafeRow (SparkPlan's byte-array collect path
    // casts); copy() because the projection reuses its buffer
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(schema)
    sparkContext.parallelize(
      rows.map(r => proj(toCatalyst(r).asInstanceOf[InternalRow]).copy()
        : InternalRow), 1)
  }
  override def simpleString(maxFields: Int): String =
    s"DeferredMaintenanceActionExec $name"
}

private[extensions] class DeferredActionStrategy(spark: SparkSession)
    extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DeferredMaintenanceAction =>
      DeferredMaintenanceActionExec(d.name, d.output, d.action) :: Nil
    case _ => Nil
  }
}
