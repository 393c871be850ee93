package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev timing and profiling harness: run a comma-separated list of
  * registry queries `reps` times each (default 2: cold + warm) after the
  * same untimed warmup Bench uses (Bench.warmup), printing each rep's wall
  * time with every Spark job's wall time and every stage's task time.
  * Complements Bench (whole-suite, single rep) when isolating one query's
  * cost from suite ordering noise, and shows WHERE inside a multi-job
  * query the time goes. Pins release per rep, exactly as Bench does.
  *
  * Usage: runMain graft.Prof <sfDir> <name>[,<name>...] [reps]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.build("graft-prof")
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmup(spark, sfDir)

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageTask = new java.util.concurrent.atomic.AtomicLong(0)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobStart.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stageTask.addAndGet(si.taskMetrics.executorRunTime): Unit
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        events.add(f"  stage ${si.stageId}%4d tasks=${si.numTasks}%3d " +
          f"wall=${wall}%5d ms run=${si.taskMetrics.executorRunTime}%5d ms " +
          f"cpu=${si.taskMetrics.executorCpuTime / 1000000}%5d ms " +
          f"gc=${si.taskMetrics.jvmGCTime}%4d ms  " +
          si.name.takeWhile(_ != '\n').take(90)): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(je.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          events.add(f"  job ${je.jobId}%3d ${ms}%8.1f ms  $desc"): Unit
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (name <- names; rep <- 1 to reps) {
      events.clear()
      stageTask.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.ops.OrderedOps.clearPins()
      Thread.sleep(300) // let listener events drain
      println(f"PROF $name rep$rep wall=$wall%.2f s taskTime=${stageTask.get() / 1000.0}%.2f s jobs=${events.size}")
      events.forEach(e => println(e))
    }
    spark.stop()
  }
}
