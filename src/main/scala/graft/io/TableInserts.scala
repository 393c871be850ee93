package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.FeatherSnapshots

/** BY-NAME blind append into an existing graft table — the commit behind
  * COPY INTO ([[CopyInto]]), whose source files arrive table-named
  * (reference anchor: the reference appends by frame concat,
  * python/cudf/cudf/core/reshape.py `concat`; a table needs the commit +
  * routing story). SQL `INSERT` runs through the catalog's table handle
  * instead ([[graft.catalog.GraftCatalog]]).
  *
  * Semantics:
  *  - the query's columns match the table's by (case-conf'd) name;
  *    columns it does not supply read as NULL in the new rows (the
  *    merge-insert rule), except a partition column, whose absence would
  *    route every row to the null partition and refuses.
  *  - types apply under the mutation tier's lossless-or-exact rule —
  *    a silently lossy cast would corrupt rows.
  *  - EXTRA columns refuse with evolution guidance: the append never
  *    evolves the schema by accident (the write-evolution gate's
  *    contract).
  *  - a hive-partitioned table routes each row to the leaf its values
  *    name (the shared [[FeatherMutations.routePartitionedInserts]]).
  *  - the commit is a BLIND APPEND (commutes with concurrent mutations
  *    under the conflict matrix); an append of zero rows publishes NO
  *    version (the replay-clean rule). */
object TableInserts {
  import FeatherMutations.Result

  private[io] val InsertSnapshotsHint =
    "the statement writes into an EXISTING table (its schema comes " +
      "from the table); create one with the write APIs or " +
      "option(\"snapshots\", \"true\") first"

  /** The table's merged schema, data columns first and hive partition
    * columns last — what a COPY INTO must impose on schemaless source
    * reads (csv/json). One snapshot resolution, no data read. */
  def tableFullSchema(spark: SparkSession, path: String): StructType =
    FeatherMutations.resolveTable(spark, path, "tableFullSchema",
      requireHive = false, snapshotsHint = InsertSnapshotsHint).fullSchema

  def append(spark: SparkSession, path: String, query: DataFrame,
             codec: String = "lz4", tag: String = "ins-"): Result = {
    val op = "INSERT INTO"
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"$op graft.`$path`: $msg")
    val r = FeatherMutations.resolveTable(spark, path, op,
      requireHive = true, snapshotsHint = InsertSnapshotsHint)
    val FeatherMutations.Resolved(root, fs, snap, face, partCols,
      _, tableSchema, _, fullSchema, caseSensitive, _) = r
    val canon = FeatherMutations.canonicalName(fullSchema, caseSensitive) _

    // ---- column alignment ---------------------------------------------------
    // positional placeholder names decouple alignment from the query's
    // own (possibly duplicate) output names
    val posNames = query.columns.indices.map(i => s"__ins_c$i")
    val q2 = query.toDF(posNames: _*)
    val named: Seq[(String, Column, DataType)] =
      query.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        (canon(f.name), q2(posNames(i)), f.dataType) }
    named.groupBy(_._1).foreach { case (n, vs) =>
      if (vs.size > 1) bad(s"BY NAME: the query produces '$n' more " +
        "than once") }
    val unknown = named.map(_._1).filterNot(fullSchema.fieldNames.contains)
    if (unknown.nonEmpty)
      bad(s"the query supplies column(s) ${unknown.mkString(", ")} not in " +
        s"the table schema (${fullSchema.fieldNames.mkString(", ")}) — " +
        "an append never evolves the schema; evolve via the write API's " +
        "mergeSchema=true or MERGE WITH SCHEMA EVOLUTION, or drop the " +
        "column")
    val provided = named.map { case (n, c, dt) => n -> (c, dt) }.toMap
    // lossless-or-exact per column (the mutation tier's rule); every
    // output column carries the TABLE's nullability (a literal's
    // non-nullable footer would poison first-footer schema inference
    // over the null-bearing generations — nullableAsTable's contract)
    val outCols: Seq[Column] = fullSchema.fields.toSeq.map { f =>
      val raw: Column = provided.get(f.name) match {
        case Some((c, actual)) =>
          if (!(actual == f.dataType ||
              org.apache.spark.sql.catalyst.expressions.Cast
                .canUpCast(actual, f.dataType)))
            bad(s"column '${f.name}' (${f.dataType.catalogString}) " +
              s"from a ${actual.catalogString} expression — only exact " +
              "types and lossless upcasts are applied; cast the query " +
              "column explicitly if the narrowing is intended")
          c.cast(f.dataType)
        case None =>
          if (partCols.contains(f.name))
            bad(s"partition column '${f.name}' is not supplied — an " +
              "unnamed partition value would route rows to the null " +
              "partition")
          lit(null).cast(f.dataType)
      }
      FeatherMutations.nullableAsTable(raw, f.nullable).as(f.name)
    }
    // one statement, one instant: the emptiness probe and the write are
    // two jobs over a best-effort persist, so resolved clock calls pin to
    // literals first. The routed write evaluates each row once: its leaf
    // and its content come from the same evaluation, so a
    // nondeterministic query needs no materialization
    val out0 = FeatherMutations.pinClockInPlan(spark,
      q2.select(outCols: _*), java.time.Instant.now())

    // ---- write + commit -----------------------------------------------------
    val prefix = FeatherSnapshots.runPrefix(snap.version + 1, tag)
    def noOp = Result(snap.version, 0, snap.files.size, 0)
    val (out, ownOut) = ConnectorFace.pinIfUncached(out0)
    try {
      if (out.limit(1).count() == 0) return noOp
      val added: Seq[(String, Long, String)] =
        if (r.partitioned)
          FeatherMutations.routePartitionedInserts(op, face, fs, root, out,
            partCols, tableSchema, prefix, codec)
        else face.writeParts(
          out.coalesce(math.max(1, ConnectorFace.capWriteParts(out))),
          root.toString, prefix, codec)
      if (added.isEmpty) return noOp
      // a blind append: commutes with concurrent mutations (the
      // publishDataCommit protocol ParquetTable.append rides)
      val committed = FeatherSnapshots.publishDataCommit(fs, root,
        truncate = false, Seq(face.suffix),
        added.map { case (rel, len, _) => (rel, len) },
        stampPart = () => face.stamp(fs, root, prefix, tableSchema)).version
      LeafWriter.foldStats(fs, root, added)
      Result(committed, 0, snap.files.size, added.size)
    } finally {
      if (ownOut) out.unpersist(blocking = false): Unit
    }
  }
}
