package graft

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.GraftFeather

/** Feather v2 (= Arrow IPC file) source/sink. The roundtrip cases pin the
  * writer/reader pair; the FOREIGN-file cases pin the reader against files
  * written with the raw Arrow API (unsigned ints, nanosecond timestamps —
  * shapes pandas/pyarrow emit that GraftFeather.write never does), so the
  * decode path is checked against the format, not against itself. */
class FeatherSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def tmp(n: String) = s"${sys.props("java.io.tmpdir")}/graft_feather_test/$n"

  /** Copies a test resource `<name>.feather` to a temp file. */
  private def resourceFile(name: String): String = {
    val res = getClass.getResourceAsStream(s"/$name.feather")
    assert(res != null, "fixture missing from test classpath")
    val f = java.io.File.createTempFile(name, ".feather")
    f.deleteOnExit()
    java.nio.file.Files.copy(res, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    f.getAbsolutePath
  }

  private def allTypesDf = {
    import spark.implicits._
    val rows = (1 to 500).map { i =>
      (i.toLong, s"name_$i", i.toDouble / 7.0, i % 2 == 0,
        if (i % 11 == 0) null else s"opt_$i",
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong % 365)),
        java.sql.Timestamp.from(java.time.Instant.parse("2021-06-01T00:00:00Z")
          .plusSeconds(i.toLong * 7919)),
        BigDecimal(i.toLong * 101, 2),
        Seq.tabulate(i % 5)(j => (i * 10 + j).toDouble),
        (i % 3, s"tag_${i % 3}"))
    }.toDF("id", "name", "score", "flag", "opt", "day", "at", "amount",
      "xs", "inner")
    rows.withColumn("payload",
      when(col("id") % 13 =!= 0, sha2(col("name"), 256).cast("binary")))
  }

  test("roundtrip preserves all mapped types, nulls, and row count") {
    val src = allTypesDf
    val path = tmp("roundtrip")
    GraftFeather.write(src, path, codec = "none", overwrite = true)
    val back = GraftFeather.read(spark, path)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.count() === 500)
    // exceptAll is null-safe and order-free: exact multiset equality
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("lz4 and zstd compressed files roundtrip (pandas' default is lz4)") {
    val src = allTypesDf
    for (codec <- Seq("lz4", "zstd")) {
      val path = tmp(s"codec_$codec")
      GraftFeather.write(src, path, codec = codec, overwrite = true)
      val back = GraftFeather.read(spark, path)
      assert(back.count() === 500, s"codec $codec")
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
        s"codec $codec")
    }
    // compression actually engaged: lz4 file smaller than uncompressed
    def dirBytes(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".feather")).map(_.length()).sum
    GraftFeather.write(allTypesDf.select("name", "opt"), tmp("raw_sz"),
      codec = "none", overwrite = true)
    GraftFeather.write(allTypesDf.select("name", "opt"), tmp("lz4_sz"),
      codec = "lz4", overwrite = true)
    assert(dirBytes(tmp("lz4_sz")) < dirBytes(tmp("raw_sz")))
  }

  test("part files carry the ARROW1 magic (feather v2 IS Arrow IPC)") {
    val path = tmp("magic")
    GraftFeather.write(allTypesDf.limit(10), path, overwrite = true)
    val part = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".feather")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    assert(new String(bytes.take(6), "US-ASCII") === "ARROW1")
    assert(new String(bytes.takeRight(6), "US-ASCII") === "ARROW1")
  }

  test("one multi-batch file splits across >1 task with identical rows") {
    import spark.implicits._
    val src = (1 to 20000)
      .map(i => (i.toLong, s"text_$i", i * 1.5)).toDF("id", "txt", "v")
    val path = tmp("splits")
    // small batches -> many record batches in each part file
    GraftFeather.write(src.repartition(1), path, codec = "none",
      overwrite = true, batchSize = 512)
    val whole = GraftFeather.read(spark, path)
    val split = GraftFeather.read(spark, path, maxSplitBytes = 64 << 10)
    assert(split.rdd.getNumPartitions > 1,
      s"expected >1 split, got ${split.rdd.getNumPartitions}")
    assert(whole.rdd.getNumPartitions === 1)
    assert(split.count() === 20000)
    assert(split.exceptAll(src).isEmpty && src.exceptAll(split).isEmpty)
  }

  test("columns= prunes the projected schema and fails on unknown names") {
    val path = tmp("projection")
    GraftFeather.write(allTypesDf, path, overwrite = true)
    val pruned = GraftFeather.read(spark, path, columns = Seq("name", "id"))
    assert(pruned.schema.fieldNames.toSeq === Seq("name", "id"))
    assert(pruned.count() === 500)
    val e = intercept[IllegalArgumentException] {
      GraftFeather.read(spark, path, columns = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("an empty frame roundtrips as an empty frame with the right schema") {
    val src = allTypesDf.filter(col("id") < 0) // schema, zero rows
    val path = tmp("empty")
    GraftFeather.write(src, path, overwrite = true)
    val back = GraftFeather.read(spark, path)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.count() === 0)
  }

  test("write refuses an existing path without overwrite (ErrorIfExists)") {
    val path = tmp("guard")
    GraftFeather.write(allTypesDf.limit(5), path, overwrite = true)
    val e = intercept[IllegalArgumentException] {
      GraftFeather.write(allTypesDf.limit(5), path)
    }
    assert(e.getMessage.contains("overwrite"))
  }

  test("foreign file: unsigned ints widen, nanosecond timestamps convert") {
    // written with the raw Arrow API — shapes our writer never emits
    val dir = new java.io.File(tmp("foreign")); dir.mkdirs()
    val alloc = new RootAllocator()
    val fields = Seq(
      new Field("u8", new FieldType(true, new ArrowType.Int(8, false), null), null),
      new Field("u16", new FieldType(true, new ArrowType.Int(16, false), null), null),
      new Field("u32", new FieldType(true, new ArrowType.Int(32, false), null), null),
      new Field("u64", new FieldType(true, new ArrowType.Int(64, false), null), null),
      new Field("at_ns", new FieldType(true,
        new ArrowType.Timestamp(org.apache.arrow.vector.types.TimeUnit.NANOSECOND, null), null), null))
    val schema = new ArrowSchema(fields.asJava)
    val root = VectorSchemaRoot.create(schema, alloc)
    root.allocateNew()
    val u8 = root.getVector("u8").asInstanceOf[UInt1Vector]
    val u16 = root.getVector("u16").asInstanceOf[UInt2Vector]
    val u32 = root.getVector("u32").asInstanceOf[UInt4Vector]
    val u64 = root.getVector("u64").asInstanceOf[UInt8Vector]
    val ns = root.getVector("at_ns").asInstanceOf[TimeStampNanoVector]
    // values with the top bit SET: a signed misread surfaces negatives
    u8.setSafe(0, 0xF0);            u8.setSafe(1, 7)
    u16.setSafe(0, 0xF000);         u16.setSafe(1, 42)
    u32.setSafe(0, 0xF0000000)      // unsigned 4026531840
    u32.setSafe(1, 9)
    u64.setSafe(0, java.lang.Long.parseUnsignedLong("18446744073709551615")) // 2^64-1
    u64.setSafe(1, 11L)
    ns.setSafe(0, 1622505600L * 1000000000L + 123456789L) // 2021-06-01 + .123456789
    ns.setSafe(1, 0L)
    root.setRowCount(2)
    val ch = java.nio.channels.Channels.newChannel(
      new java.io.FileOutputStream(new java.io.File(dir, "part-0.feather")))
    val w = new ArrowFileWriter(root, null, ch)
    w.start(); w.writeBatch(); w.end(); w.close(); root.close()

    val df = GraftFeather.read(spark, dir.getAbsolutePath).orderBy(desc("u8"))
    assert(df.schema.map(f => (f.name, f.dataType)) === Seq(
      ("u8", ShortType), ("u16", IntegerType), ("u32", LongType),
      ("u64", DecimalType(20, 0)), ("at_ns", TimestampNTZType)))
    val rows = df.collect()
    assert(rows(0).getShort(0) === 240.toShort)
    assert(rows(0).getInt(1) === 61440)
    assert(rows(0).getLong(2) === 4026531840L)
    assert(rows(0).getDecimal(3) ===
      new java.math.BigDecimal("18446744073709551615"))
    // ns floor-divides to micros
    assert(rows(0).getAs[java.time.LocalDateTime](4) ===
      java.time.LocalDateTime.parse("2021-06-01T00:00:00.123456"))
    assert(rows(1).getShort(0) === 7.toShort)
  }

  test("reads a file pandas actually wrote (lz4, uint16, ns, date32, lists)") {
    // src/test/resources/pandas_foreign.feather: emitted once by
    // pandas.DataFrame.to_feather (pyarrow, default LZ4 buffer
    // compression) — third-party provenance, not our writer. Columns:
    // int64, uint16, nullable string, double-with-NaN, bool,
    // datetime64[ns], date32, list<int64>.
    val df = GraftFeather.read(spark, resourceFile("pandas_foreign"))
    assert(df.schema.map(x => (x.name, x.dataType)) === Seq(
      ("id", LongType), ("u16", IntegerType), ("name", StringType),
      ("score", DoubleType), ("flag", BooleanType),
      ("at", TimestampNTZType), ("day", DateType),
      ("xs", ArrayType(LongType, true))))
    val rows = df.orderBy("id").collect()
    assert(rows.length === 100)
    val r1 = rows(0)
    assert(r1.getLong(0) === 1L && r1.getString(2) === "row_1")
    assert(r1.getAs[java.time.LocalDateTime](5) ===
      java.time.LocalDateTime.parse("2022-03-01T00:00:00"))
    assert(r1.getDate(6).toString === "2020-01-01")
    assert(r1.getSeq[Long](7) === Seq(0L))
    // unsigned: 51 * 651 = 33201 overflows int16 — a signed misread
    // would surface a negative
    assert(rows(50).getInt(1) === 33201)
    // pandas NaN is its MISSING marker: pyarrow converts it to an Arrow
    // null, and it must arrive as a Spark null (not NaN)
    assert(rows(6).isNullAt(3))
    assert(rows(0).getDouble(3) === 1.0 / 3.0)
    // pandas None string IS null
    assert(rows(8).isNullAt(2))
  }

  test("reads pyarrow's linked-block LZ4 frames (buffers over 64 KB)") {
    // src/test/resources/pyarrow_linked.feather: emitted once by
    // pyarrow 16.1 `feather.write_feather(compression='lz4')` over three
    // record batches (8400, 1000, 600 rows) of k = i / 100 (int64) and
    // s = f"key_{i % 500:03d}_of_the_fixture" (utf8), i in 0 until 10000 —
    // third-party provenance, not our writer. The first batch's k (67 200
    // bytes) and s data (184 800 bytes) buffers exceed 64 KB, so pyarrow
    // wrote them as linked-block frames (FLG 0x40, 64 KB blocks) whose
    // later blocks copy from earlier ones.
    val df = GraftFeather.read(spark, resourceFile("pyarrow_linked"))
    val r = df.agg(count(lit(1)), sum("k"), countDistinct("s"),
      sum(length(col("s")))).head()
    assert(r.getLong(0) === 10000L)
    assert(r.getLong(1) === 495000L)
    assert(r.getLong(2) === 500L)
    assert(r.getLong(3) === 220000L)
    val edge = df.where(col("k") === 83 || col("k") === 99).orderBy("s").collect()
    assert(edge.head === Row(83L, "key_300_of_the_fixture"))
    assert(edge.last === Row(99L, "key_499_of_the_fixture"))
  }

  test("a part file missing a projected column fails with the FILE name") {
    import spark.implicits._
    val path = tmp("mismatch")
    GraftFeather.write(Seq((1L, "a")).toDF("id", "txt"), path, overwrite = true)
    // drop a second part with a DIFFERENT schema next to it
    GraftFeather.write(Seq(2L).toDF("id"), tmp("mismatch_tmp"), overwrite = true)
    val src = new java.io.File(tmp("mismatch_tmp")).listFiles()
      .filter(_.getName.endsWith(".feather")).head
    val dst = new java.io.File(path, "part-zz-foreign.feather")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    val e = intercept[org.apache.spark.SparkException] {
      GraftFeather.read(spark, path, columns = Seq("id", "txt")).count()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("part-zz-foreign.feather") && msg.contains("txt"))
  }
}
