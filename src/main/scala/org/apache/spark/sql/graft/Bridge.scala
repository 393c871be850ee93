package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 made `ExpressionUtils` private[sql]; the accepted extension
  * pattern is a forwarder in an `org.apache.spark.sql` subpackage (the same
  * trick every Spark-native library uses to register custom expressions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The CONVERTED catalyst expression of a Column — [[expression]]
    * returns a lazy ColumnNodeExpression wrapper whose tree is opaque to
    * collect/transform until analysis; validation code that needs to
    * inspect the attribute references (the conditional-merge clause
    * guards) must force the conversion through the session's
    * ColumnNode→Expression converter. */
  def convertedExpression(spark: org.apache.spark.sql.SparkSession,
                          c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .expression(c)

  /** Re-tag a BATCH DataFrame's plan as a STREAMING micro-batch: a V1
    * streaming `Source.getBatch` must hand MicroBatchExecution a plan
    * with `isStreaming = true`, and the standard way (what the built-in
    * file source does) is `internalCreateDataFrame(rdd, schema,
    * isStreaming = true)` over the batch plan's lazily-planned
    * InternalRow RDD — private[sql], hence this forwarder. Nothing
    * executes here; the RDD materializes when the micro-batch runs. */
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** LogicalPlan → DataFrame (classic `Dataset.ofRows` is private[sql]):
    * rebinds a plan onto a (cloned) session, running it through that
    * session's analyzer. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A CLONE of `spark` carrying the given conf overrides — the
    * thread-safe way to scope a session conf to a write path: the clone
    * owns a forked SQLConf (shared state, catalog, and cache stay
    * shared), so nothing mutates the caller's session and concurrent
    * writes on other threads can never observe or race the override
    * (a get/set/restore on the shared conf would — interleaved restores
    * can even leave the override pinned session-wide). Callers that
    * write repeatedly should CACHE the clone (one cloneSession per part
    * write forks SessionState each time) and rebind frames onto it via
    * [[ofRows]]. */
  def cloneWithConf(spark: org.apache.spark.sql.SparkSession,
                    kv: (String, String)*): org.apache.spark.sql.SparkSession = {
    val clone = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** A session over `parent`'s context and shared state but with ZERO
    * session extensions — what a third-party deployment that only set
    * `spark.sql.catalog.graft` in its own conf looks like. The builder
    * cannot produce this in-JVM (it re-applies `spark.sql.extensions`
    * from the shared SparkContext conf to every new session), so interop
    * tests proving the catalog surface works WITHOUT the graft extensions
    * construct it here.
    * `options` are the session's initial SQL confs (catalog + warehouse
    * overrides). Store assignment starts at Spark's default policy: the
    * lossless-or-exact rule is a graft-session setting
    * ([[graft.GraftSession]]) that the shared context conf would
    * otherwise carry over. */
  def sessionWithoutExtensions(parent: org.apache.spark.sql.SparkSession,
                               options: Map[String, String])
      : org.apache.spark.sql.SparkSession = {
    val p = parent.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the primary constructor is Scala-private (the public overloads all
    // re-apply the context conf's extensions, which is exactly what this
    // helper must NOT do) but bytecode-public — reflection reaches it
    // without setAccessible
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructors.find(_.getParameterCount == 6)
      .getOrElse(sys.error("classic SparkSession primary constructor " +
        "not found — Spark version drift"))
    ctor.newInstance(p.sparkContext, Some(p.sharedState), None,
      new org.apache.spark.sql.SparkSessionExtensions,
      Map(org.apache.spark.sql.internal.SQLConf.STORE_ASSIGNMENT_POLICY.key ->
        org.apache.spark.sql.internal.SQLConf.STORE_ASSIGNMENT_POLICY
          .defaultValueString) ++ options,
      Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }

  /** Catalyst predicate → data-source `Filter`, via Spark's own
    * translator (`protected[sql]`) — the predicate-mutation tier prunes
    * candidate files with the SAME translation the scans push down, so
    * pruning semantics can never drift from read semantics. Nested
    * fields stay untranslated (file stats carry top-level columns). */
  def translateFilter(e: Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  // ---- catalog parquet-face batch reads -------------------------------------
  // The pieces that let the graft catalog's DSv2 batch scan hand parquet
  // decoding to Spark's OWN reader factory (vectorized columnar batches,
  // intra-file byte-range splits, executor-side row-group pruning)
  // instead of a per-row converter loop. All of it is public machinery
  // in `execution.datasources` that a DSv2 file source (ParquetScan)
  // composes the same way; only SerializableConfiguration is
  // private[spark], hence this forwarder.

  /** Spark's own DSv2 parquet reader factory over the given schemas:
    * emits `readDataSchema ++ partitionSchema` rows/batches per
    * [[org.apache.spark.sql.execution.datasources.PartitionedFile]],
    * vectorized whenever the session conf and schema allow
    * (`supportColumnarReads` decides per partition). A `readDataSchema`
    * field named [[rowIndexField]]'s name is filled with the file-wide
    * row ordinal by the reader itself (both the vectorized and the
    * parquet-mr paths) — exactly the parquet face's `_pos`/DV position
    * encoding. `filters` prune row groups executor-side via the footer
    * stats; rows are NOT filtered (record-level filtering stays off by
    * default), so a scan that reports every filter as residual stays
    * correct.
    *
    * Built by instantiating Spark's own `ParquetScan` (over an EMPTY
    * file index — `createReaderFactory` never consults it) and letting
    * ITS `createReaderFactory` prime the Hadoop conf (read-support
    * class, requested-schema json, converter flags) exactly as a native
    * parquet query would: reconstructing that priming by hand is the
    * kind of key list that silently drifts across Spark upgrades. One
    * conf broadcast per scan — the same cost every native parquet query
    * pays. */
  def parquetReaderFactory(
      spark: org.apache.spark.sql.SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      readDataSchema: org.apache.spark.sql.types.StructType,
      partitionSchema: org.apache.spark.sql.types.StructType,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, NoopCache}
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val emptyIndex = new InMemoryFileIndex(s, Nil,
      Map.empty[String, String], None, NoopCache, None, None)
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      s, s.sessionState.newHadoopConf(), emptyIndex, dataSchema,
      readDataSchema, partitionSchema, filters,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
      None, Nil, Nil,
      Array.empty[org.apache.spark.sql.connector.read.VariantExtraction])
      .createReaderFactory()
  }

  /** The temporary LongType field Spark's parquet readers recognize as
    * "fill with the file-wide row index" — the catalog scan splices it
    * in place of a requested `_pos` metadata column. */
  def rowIndexField: org.apache.spark.sql.types.StructField =
    // the TEMPORARY spelling (what the readers key generation on), not
    // ROW_INDEX_FIELD ("row_index" — the `_metadata` struct member);
    // NULLABLE is load-bearing: the clip of a non-nullable missing
    // column is a `required` parquet field, and the vectorized reader
    // refuses required-missing BEFORE its row-index check runs. The
    // generated values are never null regardless.
    org.apache.spark.sql.types.StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)

  /** Byte-range splits packed into read tasks with Spark's own policy:
    * `maxPartitionBytes` capped, open-cost padded, sized so every core
    * gets work (`FilePartition.getFilePartitions` — the exact planning
    * the native file scans run). `files` = (absolute path, length,
    * partition-values row); one file may yield many splits, small files
    * coalesce into shared tasks. */
  def parquetFilePartitions(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[(String, Long,
        org.apache.spark.sql.catalyst.InternalRow)])
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = s.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(s.sparkContext.defaultParallelism)
    val totalBytes = files.map(_._2 + openCost).sum
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1, minPartitionNum)))
    val splits = files.flatMap { case (abs, len, pv) =>
      (0L until len by maxSplit).map { start =>
        PartitionedFile(pv,
          org.apache.spark.paths.SparkPath.fromPathString(abs), start,
          math.min(maxSplit, len - start), Array.empty, 0L, len, Map.empty)
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(s, splits, maxSplit)
      .toArray[org.apache.spark.sql.connector.read.InputPartition]
  }

  /** StructType → parquet MessageType via Spark's OWN converter (the
    * schema-stamp writer of the parquet face must emit exactly the
    * physical types Spark's sink would, or a stamp would read back with
    * drifted types). TIMESTAMP_MICROS matches the modern sink default;
    * the stamp also carries Spark's schema-json footer key, which the
    * reader prefers over physical-type inference anyway. */
  def parquetMessageType(schema: org.apache.spark.sql.types.StructType)
      : org.apache.parquet.schema.MessageType =
    new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter(
        writeLegacyParquetFormat = false,
        outputTimestampType = org.apache.spark.sql.internal.SQLConf
          .ParquetOutputTimestampType.TIMESTAMP_MICROS)
      .convert(schema)

  /** Wait until every posted listener event reached its listeners (the
    * bus is private[spark]) — job counts read right after an action. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
