package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import graft.sources.FeatherSnapshots

/** `CALL <catalog>.system.<procedure>(...)` — the SQL face of the
  * MAINTENANCE tier, in every session, through Spark's own DSv2
  * procedure machinery:
  *
  * {{{
  *   CALL graft.system.compact('ns.events')
  *   CALL graft.system.compact('ns.events', target_bytes => 64*1024*1024)
  *   CALL graft.system.expire('ns.events', keep_last => 3)
  *   CALL graft.system.expire_older_than('ns.events', 86400000)
  *   CALL graft.system.vacuum('ns.events')
  *   CALL graft.system.analyze('ns.events')       -- stats backfill
  *   CALL graft.system.restore('ns.events', 4)
  * }}}
  *
  * Each procedure delegates to the engine implementation the Scala API
  * calls ([[graft.io.Compaction.compactAny]], [[FeatherSnapshots]]
  * expire / vacuum / restore, [[graft.io.FeatherStats.backfill]]), so
  * the two spellings cannot drift.
  *
  * The `table` argument takes the catalog's two addressings: `ns.t`
  * (dots descend namespaces — resolved against THIS catalog's
  * warehouse with the same segment validation every statement runs) or
  * an absolute path / URI. Arguments bind by position or name with SQL
  * defaults (Spark's own procedure binding); execution happens at
  * CALL time on the driver — these are statements, not queries, exactly
  * like Spark's `CALL` contract. */
private[graft] object GraftProcedures {

  private val table =
    Param("table", StringType, None,
      "table name in this catalog (ns.t) or an absolute path")

  final case class Param(name: String, dataType: DataType,
                         defaultSql: Option[String], comment: String)

  /** `run(spark, resolved table path, bound args)` → the one result
    * row's values (matching `result`'s fields). */
  final case class Spec(name: String, description: String,
                        params: Seq[Param], result: StructType,
                        run: (SparkSession, String, InternalRow) => Seq[Any])

  private val compactResult = StructType(Seq(
    StructField("groups_rewritten", LongType, nullable = false),
    StructField("files_before", LongType, nullable = false),
    StructField("files_after", LongType, nullable = false)))

  private val expireResult = StructType(Seq(
    StructField("snapshots_removed", LongType, nullable = false),
    StructField("files_removed", LongType, nullable = false)))

  private def fsRoot(spark: SparkSession, path: String) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  val all: Seq[Spec] = Seq(
    Spec("compact",
      "compact small files (and fold deletion vectors) into " +
        "target-sized parts, any face",
      Seq(table, Param("target_bytes", LongType,
        Some((128L << 20).toString), "target part size in bytes")),
      compactResult,
      (spark, path, in) => {
        val r = graft.io.Compaction.compactAny(spark, path, in.getLong(1))
        Seq(r.groupsRewritten.toLong, r.filesBefore.toLong,
          r.filesAfter.toLong)
      }),
    Spec("expire",
      "retire all but the last N versions and delete files only they " +
        "referenced",
      Seq(table, Param("keep_last", IntegerType, Some("2"),
        "number of most-recent versions to keep")),
      expireResult,
      (spark, path, in) => {
        val (fs, root) = fsRoot(spark, path)
        val r = FeatherSnapshots.expire(fs, root, in.getInt(1))
        Seq(r._1.toLong, r._2.toLong)
      }),
    Spec("expire_older_than",
      "retire versions older than the retention window (millis)",
      Seq(table, Param("retention_ms", LongType, None,
        "retention window in milliseconds")),
      expireResult,
      (spark, path, in) => {
        val (fs, root) = fsRoot(spark, path)
        val r = FeatherSnapshots.expireOlderThan(fs, root, in.getLong(1))
        Seq(r._1.toLong, r._2.toLong)
      }),
    Spec("vacuum",
      "delete orphan files no retained version references",
      Seq(table, Param("grace_ms", LongType, Some("-1"),
        "minimum orphan age; -1 = the engine's default window")),
      StructType(Seq(
        StructField("files_removed", LongType, nullable = false))),
      (spark, path, in) => {
        val (fs, root) = fsRoot(spark, path)
        val removed =
          if (in.getLong(1) < 0) FeatherSnapshots.vacuumOrphans(fs, root)
          else FeatherSnapshots.vacuumOrphans(fs, root, in.getLong(1))
        Seq(removed.toLong)
      }),
    Spec("analyze",
      "backfill exact stats sidecars for files missing them (lights up " +
        "pruning and COUNT(*) accounting on adopted corpora)",
      Seq(table),
      StructType(Seq(
        StructField("files_backfilled", LongType, nullable = false))),
      (spark, path, _) =>
        Seq(graft.io.FeatherStats.backfill(spark, path).toLong)),
    Spec("restore",
      "roll the head back to a retained version's content as a new " +
        "commit",
      Seq(table, Param("version", LongType, None,
        "the retained version to restore")),
      StructType(Seq(
        StructField("new_version", LongType, nullable = false))),
      (spark, path, in) => {
        val (fs, root) = fsRoot(spark, path)
        Seq(FeatherSnapshots.restore(fs, root, in.getLong(1)))
      }))

  val byName: Map[String, Spec] =
    all.map(s => s.name -> s).toMap

  /** The DSv2 handle for one spec. `resolve` is the owning catalog's
    * table-address resolution (warehouse join + segment validation). */
  def unbound(spec: Spec, resolve: String => String): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = spec.name
      override def description(): String = spec.description
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = spec.name
          override def description(): String = spec.description
          // every procedure mutates (or at least re-derives) table
          // state — never cache or re-order a CALL
          override def isDeterministic: Boolean = false
          override def parameters(): Array[ProcedureParameter] =
            spec.params.map { p =>
              val b = ProcedureParameter.in(p.name, p.dataType)
                .comment(p.comment)
              p.defaultSql.foreach(d => b.defaultValue(d): Unit)
              b.build()
            }.toArray
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val spark = SparkSession.active
            require(!input.isNullAt(0), s"${spec.name}: table is null")
            val path = resolve(input.getUTF8String(0).toString)
            val out = spec.run(spark, path, input)
            val toInternal =
              CatalystTypeConverters.createToCatalystConverter(spec.result)
            val row = toInternal(Row.fromSeq(out)).asInstanceOf[InternalRow]
            val scan: Scan = new LocalScan {
              override def readSchema(): StructType = spec.result
              override def rows(): Array[InternalRow] = Array(row)
              override def description(): String =
                s"graft procedure ${spec.name} result"
            }
            java.util.Collections.singletonList(scan).iterator()
          }
        }
    }
}
