package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** `--workload <name> --seed <n> --seconds <n> --trace <0|1> --data <dir>
  * --out <dir> --cores <n> [--queries a,b,c]` */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, data: String, out: String, cores: Int,
                      queries: Seq[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("data"), req("out"), req("cores").toInt,
      kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }
}

object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
  def writeSpans(path: String, spans: Seq[Span]): Unit =
    Files.write(Paths.get(path), spans.map(write).asJava)
}

/** What the run ran on: recorded beside every result. */
object Env {
  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ")(0).toDouble
    catch { case _: Exception =>
      ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage }

  def record(spark: org.apache.spark.sql.SparkSession, a: Args,
             loadStart: Double): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_cores" -> a.cores,
    "spark_master" -> spark.sparkContext.master,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "load1_start" -> loadStart,
    "load1_end" -> loadAvg())
}

/** One benchmark run in a fresh JVM: writes `result.json` into `--out`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = Args.parse(argv)
    val loadStart = Env.loadAvg()
    val spark = graft.GraftSession.build("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val wl: Workload = a.workload match {
      case "olap_short" | "olap_iterative" => new Olap(spark, a)
      case "table_churn" => new Churn(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    val result = new Runner(spark, a, launchMs).run(wl) +
      ("env" -> Env.record(spark, a, loadStart))
    Files.writeString(Paths.get(s"${a.out}/result.json"), Json.write(result))
    spark.stop()
  }
}
