package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Hive-style partition discovery for the path-based connectors: leaf
  * files under `key=value` directory chains become rows carrying the
  * directory's values as columns, and filters on those columns prune
  * whole directories BEFORE any footer is opened — at 100 TB the
  * difference between planning thousands of files and planning the three
  * directories a query actually touches.
  *
  * Contract mirrors Spark's parquet discovery where it matters:
  * consistent key chains at a single depth (mixed layouts fail loudly,
  * not silently half-read), `__HIVE_DEFAULT_PARTITION__` decodes to
  * null, values are Hive-unescaped, and partition types are inferred
  * long → double → string over the observed values. */
private[graft] object FeatherPartitions {

  val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** THE partition-path escaping, everywhere: Spark's own Hive escaping
    * (`ExternalCatalogUtils`) — the encoding Spark's partitioned sink
    * writes, and the one leaf writer ([[graft.io.LeafParts]]) spells
    * its leaves exactly as that sink does. Every leaf READER (discovery,
    * manifest parsing, layout checks) must go through these two, or a
    * value like `"a b"` lands under one spelling and reads back under
    * another, silently splitting one logical partition across two
    * directory leaves. Hive escaping %-encodes `/ \ : = % #` etc. but
    * NOT space or '+' — which is why URLEncoder/URLDecoder (space↔'+')
    * were the wrong pair here.
    *
    * COMPATIBILITY (pre-release format change, r14): leaves written by
    * the earlier URL-encoding writer spelled a space as '+' — those
    * dev-era tables read the '+' literally now and must be rewritten
    * (the two spellings are indistinguishable in general: a literal
    * '+' is a legal partition value under both encodings). No released
    * table carries the old spelling. */
  def escapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(s)
  def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(s)

  /** Hive-layout detection over a table's relative directory chains
    * (ONE definition — the mutation tier and the conditional merge both
    * route by it; a drifted copy re-opens the split-leaf bug class):
    * `(isHive, partCols)` where isHive means every non-empty chain is
    * all `key=value` segments, and partCols are the unescaped key names
    * of the first chain (the manifest layout guard keeps them uniform). */
  def hiveLayout(chains: Seq[String]): (Boolean, Seq[String]) = {
    val hive = chains.nonEmpty &&
      chains.forall(_.split('/').forall(_.indexOf('=') > 0))
    val cols =
      if (hive)
        chains.head.split('/').toSeq.map { seg =>
          unescapePath(seg.substring(0, seg.indexOf('=')))
        }
      else Nil
    (hive, cols)
  }

  /** One discovered leaf file: absolute path, length, and the (ordered)
    * partition values on its directory chain. */
  /** `dv` = deletion-vector binding from the snapshot manifest:
    * (absolute sidecar path, deleted-row count) — readers filter those
    * row positions out; row statistics subtract the count. None for
    * listing-discovered and DV-free files. */
  final case class LeafFile(file: String, len: Long,
                            values: Seq[(String, String)],
                            dv: Option[(String, Long)] = None)

  final case class Discovered(partCols: Seq[String], files: Seq[LeafFile]) {
    /** Inferred schema of the partition columns (nullable iff a null
      * partition value was observed). */
    def partSchema: StructType = StructType(partCols.zipWithIndex.map {
      case (c, i) =>
        val vs = files.map(_.values(i)._2)
        StructField(c, inferType(vs.filter(_ != null)),
          nullable = vs.contains(null))
    })
  }

  // long → double → DATE → string, mirroring Spark's own partition-type
  // inference (the parquet face's read plans through Spark's basePath
  // discovery, which types day=2024-01-01 as DATE — the mutation tier's
  // partition columns must carry the SAME type or a merge whose source
  // is a read of the table refuses its own partition values). Timestamps
  // stay strings: their canonical spellings carry ':' which hive-escapes
  // in dir names, so real layouts partition by date, not timestamp.
  // DATE claims only the CANONICAL yyyy-MM-dd spelling: Date.valueOf
  // also accepts '2024-1-1', but a leaf written with that spelling
  // would round-trip through a mutation as the canonical '2024-01-01'
  // and the rewritten rows would land in a DIFFERENTLY-SPELLED directory
  // than the surviving files of the same logical partition (reads stay
  // consistent, layout splits). Value-to-path must be identity; a
  // non-canonical spelling stays a string partition.
  private val CanonicalDate = "\\d{4}-\\d{2}-\\d{2}".r
  private def inferType(values: Seq[String]): DataType =
    if (values.nonEmpty && values.forall(v => scala.util.Try(v.toLong).isSuccess))
      LongType
    else if (values.nonEmpty &&
      values.forall(v => scala.util.Try(v.toDouble).isSuccess)) DoubleType
    else if (values.nonEmpty && values.forall(v =>
      CanonicalDate.matches(v) &&
        scala.util.Try(java.sql.Date.valueOf(v)).isSuccess)) DateType
    else StringType

  def castValue(v: String, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case LongType => v.toLong
      case DoubleType => v.toDouble
      case DateType => java.sql.Date.valueOf(v)
      case _ => v
    }

  /** Recursive walk. Flat directories (or a single file) come back with
    * no partition columns — the pre-discovery behavior, unchanged. */
  def discover(spark: SparkSession, root: String,
               suffixes: Seq[String]): Discovered = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootStat = fs.getFileStatus(rp) // missing path: same error as before
    if (!rootStat.isDirectory)
      return Discovered(Nil, Seq(LeafFile(rp.toString, rootStat.getLen, Nil)))

    def isData(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      s.isFile && suffixes.exists(n.endsWith) &&
        !n.startsWith("_") && !n.startsWith(".")
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[LeafFile]
    def walk(dir: Path, values: Seq[(String, String)]): Unit = {
      val entries = fs.listStatus(dir)
      entries.foreach { e =>
        if (isData(e))
          out += LeafFile(e.getPath.toString, e.getLen, values)
        else if (e.isDirectory) {
          val n = e.getPath.getName
          val eq = n.indexOf('=')
          if (eq > 0) {
            val key = unescapePath(n.substring(0, eq))
            val raw = n.substring(eq + 1)
            val v =
              if (raw == HiveNull) null
              else unescapePath(raw)
            walk(e.getPath, values :+ (key -> v))
          }
          // non-partition subdirectories (checkpoints, _temporary) skipped
        }
      }
    }
    walk(rp, Nil)
    require(out.nonEmpty, s"no ${suffixes.mkString("/")} files under $root")
    val chains = out.map(_.values.map(_._1)).distinct
    require(chains.size == 1,
      s"inconsistent partition layouts under $root: " +
        chains.map(_.mkString("/")).map(c => if (c.isEmpty) "<flat>" else c)
          .mkString(" vs ") +
        " — a mixed directory would silently misread; fix the layout")
    Discovered(chains.head, out.toSeq.sortBy(_.file))
  }

  /** Conservative tri-state filter evaluation against one file's partition
    * values: Some(false) prunes the file, Some(true)/None keep it (a
    * filter this evaluator cannot decide — unknown shape, data-column
    * reference — never prunes; Spark re-evaluates every filter on the
    * rows anyway). */
  def survives(leaf: LeafFile, partSchema: StructType,
               filters: Seq[Filter]): Boolean = {
    val vals: Map[String, Any] = leaf.values.map { case (k, v) =>
      k -> castValue(v, partSchema(k).dataType)
    }.toMap
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (null, _) | (_, null) => None
      case (x: Long, y: Number) => Some(java.lang.Long.compare(x, y.longValue))
      case (x: Double, y: Number) =>
        Some(java.lang.Double.compare(x, y.doubleValue))
      // UTF-8 BYTE order — the order Spark compares strings in. UTF-16
      // compareTo disagrees beyond the BMP (surrogates sort below
      // U+E000), and a pruning decision in the wrong order silently
      // drops matching files, not just efficiency
      case (x: String, y: String) =>
        Some(graft.io.FeatherStats.utf8Cmp(x, y))
      case (x: java.sql.Date, y: java.sql.Date) =>
        Some(java.lang.Long.compare(x.toLocalDate.toEpochDay,
          y.toLocalDate.toEpochDay))
      // translated filter values arrive as java.time.LocalDate under
      // spark.sql.datetime.java8API.enabled=true
      case (x: java.sql.Date, y: java.time.LocalDate) =>
        Some(java.lang.Long.compare(x.toLocalDate.toEpochDay, y.toEpochDay))
      case _ => None
    }
    def eval(f: Filter): Option[Boolean] = f match {
      case EqualTo(a, v) if vals.contains(a) => cmp(vals(a), v).map(_ == 0)
      case GreaterThan(a, v) if vals.contains(a) => cmp(vals(a), v).map(_ > 0)
      case GreaterThanOrEqual(a, v) if vals.contains(a) =>
        cmp(vals(a), v).map(_ >= 0)
      case LessThan(a, v) if vals.contains(a) => cmp(vals(a), v).map(_ < 0)
      case LessThanOrEqual(a, v) if vals.contains(a) =>
        cmp(vals(a), v).map(_ <= 0)
      case In(a, vs) if vals.contains(a) =>
        if (vals(a) == null) Some(false)
        else {
          // an UNDECIDABLE element comparison must yield None (keep the
          // leaf), never "not equal" — treating incomparable types as a
          // miss would wrongly PRUNE a matching leaf (a correctness
          // hole, not an efficiency one)
          val cs = vs.map(v => cmp(vals(a), v))
          if (cs.exists(_.contains(0))) Some(true)
          else if (cs.forall(_.isDefined)) Some(false)
          else None
        }
      case IsNull(a) if vals.contains(a) => Some(vals(a) == null)
      case IsNotNull(a) if vals.contains(a) => Some(vals(a) != null)
      case And(l, r) => (eval(l), eval(r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval(l), eval(r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case Not(x) => eval(x).map(!_)
      case _ => None
    }
    !filters.exists(f => eval(f).contains(false))
  }
}
