package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ConnectedComponents, OrderedOps}

/** Pins the min-label propagation contract: correct components on branchy
  * graphs, and a LOUD failure (never silent partial labels) when a
  * component's min-label path exceeds the round cap.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("labels every vertex with its component minimum") {
    import spark.implicits._
    // components {1,2,3,4} (star + edge) and {10, 11}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val got = ConnectedComponents.minLabel(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("local contraction collapses a deep chain: rounds bounded by " +
       "the partition count, not the diameter") {
    import spark.implicits._
    // path graph 0-1-...-499 over 4 partitions: the per-partition
    // union-find collapses each partition's sub-chains to depth-1
    // stars, so the global rounds see a graph of ~4 segment
    // representatives — a handful of rounds, not ~log2(500) ≈ 9
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    val ok = ConnectedComponents.minLabel(chain).collect()
    assert(ok.forall(_.getLong(1) == 0L) && ok.length == 500)
    assert(ConnectedComponents.lastRounds <= 5,
      s"contracted chain took ${ConnectedComponents.lastRounds} rounds")
  }

  test("pointer doubling alone (contraction off) still converges a " +
       "deep chain in O(log n) rounds") {
    import spark.implicits._
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    val ok = ConnectedComponents.minLabel(chain, localContract = false)
      .collect()
    assert(ok.forall(_.getLong(1) == 0L) && ok.length == 500)
  }

  test("a cap below the log bound still fails loudly, not partially") {
    import spark.implicits._
    // after 3 rounds shortcutting reaches distance ≈ 2^2; a 500-node
    // chain cannot finish — the loud-failure contract is unchanged
    // (contraction off: it would collapse the chain before the cap)
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.minLabel(chain, maxIters = 3,
        localContract = false)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("a run that fails mid-iteration releases its edge and round " +
       "caches") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a deep chain without contraction runs ~9 rounds, each at least one
    // job: once the fourth job of this run starts, cancel its group AND
    // every job the group submits later, so the failure lands inside the
    // round loop with the edge cache and a live round persisted. Jobs
    // submitted after the cancel fail at submission, so a short job that
    // finishes before the cancel arrives cannot let the run complete
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    val group = s"cc-fail-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val canceller = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group &&
            jobs.incrementAndGet() == 4)
          sc.cancelJobGroupAndFutureJobs(group, "failure injection")
    }
    val before = sc.getPersistentRDDs.size
    sc.addSparkListener(canceller)
    sc.setJobGroup(group, "connected components failure injection")
    try {
      val e = intercept[Exception] {
        ConnectedComponents.minLabel(chain, localContract = false)
      }
      assert(Option(e.getMessage).exists(_.contains("cancel")),
        s"expected a cancelled job, got: $e")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(canceller)
    }
    assert(jobs.get() >= 4)
    assert(sc.getPersistentRDDs.size == before,
      s"persisted RDDs leaked: ${sc.getPersistentRDDs.values.map(_.name)}")
  }

  test("a successful run's labels are released by clearPins() after the " +
       "consuming action") {
    import spark.implicits._
    val sc = spark.sparkContext
    OrderedOps.clearPins() // earlier cases' registrations
    val before = sc.getPersistentRDDs.size
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = ConnectedComponents.minLabel(chain).collect()
    assert(labels.map(_.getAs[Long]("label")).toSet == Set(0L))
    assert(sc.getPersistentRDDs.size == before + 1,
      "the returned labels stay persisted until the caller's clearPins()")
    OrderedOps.clearPins()
    assert(sc.getPersistentRDDs.size == before,
      s"persisted RDDs leaked: ${sc.getPersistentRDDs.values.map(_.name)}")
  }
}
