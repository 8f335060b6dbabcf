package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphRank}

/** Round-17 optimization session: scale-adaptive shuffle partitioning
  * for the batch iterative loops (Mat.withLoopPartitions — the
  * streaming replay's row-derived sizing applied to the GraphRank /
  * Dedup CC superstep harnesses). */
class Round21Spec extends SparkTestBase {

  test("loopPartitions: ceil(rows/rowsPerPartition) capped at session parallelism") {
    assert(Mat.loopPartitions(spark, 0L) == 1)
    assert(Mat.loopPartitions(spark, 1L) == 1)
    assert(Mat.loopPartitions(spark, 8192L) == 1)
    assert(Mat.loopPartitions(spark, 8193L) == 2)
    // cap: the test session runs 4 shuffle partitions
    assert(Mat.loopPartitions(spark, 10L * 1000 * 1000) == 4)
    // knob override
    spark.conf.set("spark.graft.loop.rowsPerPartition", "10")
    try assert(Mat.loopPartitions(spark, 25L) == 3)
    finally spark.conf.unset("spark.graft.loop.rowsPerPartition")
  }

  test("withLoopPartitions: applies inside, restores after, nested calls pass through") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    Mat.withLoopPartitions(spark, 5L) {
      assert(spark.conf.get(key) == "1")
      // nested scope must NOT re-override (outer working set rules) and
      // must NOT clobber the outer stash on exit
      Mat.withLoopPartitions(spark, 100L * 1000 * 1000) {
        assert(spark.conf.get(key) == "1")
      }
      assert(spark.conf.get(key) == "1")
      assert(spark.conf.getOption("spark.graft.loop.outerPartitions").contains(before))
    }
    assert(spark.conf.get(key) == before)
    assert(spark.conf.getOption("spark.graft.loop.outerPartitions").isEmpty)
    // restore also on failure
    intercept[RuntimeException] {
      Mat.withLoopPartitions(spark, 5L) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(key) == before)
    assert(spark.conf.getOption("spark.graft.loop.outerPartitions").isEmpty)
  }

  test("withLoopPartitions: entry from another thread fails fast and leaves the owner's scope intact") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def onThread(body: => Unit): Option[Throwable] = {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() => try body catch { case e: Throwable => err.set(e) })
      t.start(); t.join()
      Option(err.get())
    }
    val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
    Mat.withLoopPartitions(spark, 5L) {
      val err = onThread(Mat.withLoopPartitions(spark, 100L * 1000 * 1000) { ran.set(true) })
      assert(err.exists(e => e.isInstanceOf[IllegalArgumentException] &&
        e.getMessage.contains("withLoopPartitions")), s"expected a fail-fast, got $err")
      assert(!ran.get(), "the second thread's body ran under the first thread's sizing")
      // the rejected entry touched neither the sizing nor the stash
      assert(spark.conf.get(key) == "1")
      assert(spark.conf.getOption("spark.graft.loop.outerPartitions").contains(before))
    }
    assert(spark.conf.get(key) == before)
    // ownership is released on exit: another thread may now open a scope
    val err = onThread(Mat.withLoopPartitions(spark, 5L) {
      ran.set(spark.conf.get(key) == "1")
    })
    assert(err.isEmpty && ran.get(), s"scope not released after exit: $err")
    assert(spark.conf.get(key) == before)
  }

  test("SPARK_GRAFT_MIN_PASSES: integers >= 1 are taken; 0, negatives and non-integers fall back to 2") {
    assert(Bench.minPasses(None) == 2)
    assert(Bench.minPasses(Some("1")) == 1)
    assert(Bench.minPasses(Some(" 3 ")) == 3)
    Seq("0", "-1", "two", "1.5", "").foreach { v =>
      assert(Bench.minPasses(Some(v)) == 2, s"SPARK_GRAFT_MIN_PASSES=$v")
    }
  }

  test("Mat.fanout inside a loop scope fans to the pre-override parallelism") {
    import spark.implicits._
    Mat.withLoopPartitions(spark, 5L) {
      val df = Mat.fanout(Seq(1, 2, 3).toDF("x"))
      // the session conf says 1 inside the scope; fanout must still use
      // the stashed outer width (4)
      assert(df.rdd.getNumPartitions == 4)
    }
  }

  test("loop-partitioned supersteps: hits/kcore/lpa/bfs/largestar values unchanged on a planted graph") {
    import spark.implicits._
    // K4 plus a pendant chain — small enough to hand-check, shaped
    // enough to exercise every loop (peel cascade, label ties, bfs
    // frontier, star alternation)
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b)
    val chain = Seq((3L, 4L), (4L, 3L), (4L, 5L), (5L, 4L))
    val edges = (k4 ++ chain).toDF("src", "dst").localCheckpoint(true)
    // values must be identical whether the loop runs at the session's
    // 4 shuffle partitions or the adaptive count (1 here): run each
    // loop both ways (knob forced wide vs default) and diff
    def runAll(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      GraphRank.hitsOverEdges(edges).orderBy("id").collect().toSeq,
      GraphRank.lpaOverEdges(edges).orderBy("vec_id").collect().toSeq,
      GraphRank.bfsOverEdges(edges, 1L).orderBy("vec_id").collect().toSeq,
      Dedup.ccLargeStar(edges.select(col("src").as("doc_a"), col("dst").as("doc_b")))
        .collect().toSeq)
    val adaptive = runAll()
    spark.conf.set("spark.graft.loop.rowsPerPartition", "1") // force cap-width loops
    val wide = try runAll()
    finally spark.conf.unset("spark.graft.loop.rowsPerPartition")
    assert(adaptive == wide,
      "loop results depend on the loop partition count — they must not")
    // largestar: one component {0..5} rooted at 0
    val cc = adaptive(3).map(r => (r.getLong(0), r.getLong(1)))
    assert(cc == (0L to 5L).map(i => (i, 0L)),
      s"largestar components wrong: $cc")
  }

  test("hits/kcore/lpa/bfs compute a cold edge plan once; a cached input stays cached") {
    val evals = spark.sparkContext.longAccumulator("edge_evals")
    val counted = udf((x: Long) => { evals.add(1); x >= 0 }).asNondeterministic()
    // 32 edges off a range: a plan that computes, not local rows; the
    // counting predicate runs whenever the plan does, a count included
    val cold = spark.range(16).select(col("id").as("src"),
        explode(array(pmod(col("id") + 1, lit(16L)), pmod(col("id") + 5, lit(16L)))).as("dst"))
      .filter(counted(col("src")))
    val ready = cold.localCheckpoint(true)
    val loops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "hits" -> (e => GraphRank.hitsOverEdges(e).orderBy("id")),
      "kcore" -> (e => GraphRank.kcoreOverEdges(e).orderBy("vec_id")),
      "lpa" -> (e => GraphRank.lpaOverEdges(e).orderBy("vec_id")),
      "bfs" -> (e => GraphRank.bfsOverEdges(e, 1L).orderBy("vec_id")))
    loops.foreach { case (name, loop) =>
      evals.reset()
      val got = loop(cold).collect().toSeq
      assert(evals.value == 32L, s"$name evaluated the cold edge plan ${evals.value / 32.0} times")
      assert(got == loop(ready).collect().toSeq, s"$name: cold input changed the values")
    }
    val cached = ready.persist()
    try {
      cached.count()
      loops.foreach { case (name, loop) =>
        loop(cached).collect()
        assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
          s"$name unpersisted its caller's cached input")
      }
    } finally cached.unpersist(blocking = true)
  }

  test("Bench.minTime: a throwing key is recorded once and not timed; a passing key is timed") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    var calls = 0
    assert(Bench.minTime("boom", 3, errors) { calls += 1; sys.error("boom") }.isEmpty)
    assert(Bench.minTime("boom", 3, errors)(sys.error("again")).isEmpty)
    assert(calls == 1, "runs after the first failure of a key were not skipped")
    assert(errors.keys.toSeq == Seq("boom") && errors("boom").getMessage == "boom")
    var runs = 0
    val t = Bench.minTime("ok", 3, errors) { runs += 1 }
    assert(t.exists(_ >= 0.0) && runs == 3 && !errors.contains("ok"))
  }
}
