package graft

import java.nio.file.{Files, Paths}

import graft.tools.{PlanAudit, Run}

/** The dev entry point's commands, each run through its core on the
  * shared test session. */
class RunSpec extends SparkTestBase {
  test("list is the registry's keys, sorted") {
    assert(Run.list == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("explain prints the optimized logical plan and the physical plan") {
    val out = Run.explain(spark, sfDir, "knn_cosine")
    val logical = out.indexOf("== Optimized Logical Plan ==")
    val physical = out.indexOf("== Physical Plan ==")
    assert(logical >= 0 && physical > logical, out.take(400))
    assert(out.contains("VectorTopK"), "the physical plan is missing the custom top-k operator")
  }

  test("profile records jobs and executed plans of one run, then detaches its listeners") {
    val p = Run.profile(spark, sfDir, "knn_cosine")
    val (jobs, plans) = (p.jobs.size, p.plans.size)
    assert(jobs >= 1 && plans >= 1, s"jobs=$jobs plans=$plans")
    assert(p.wall > 0.0)
    SparkEntry.queries("knn_cosine")(spark, sfDir).count()
    org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(spark.sparkContext, 10000L)
    assert(p.jobs.size == jobs && p.plans.size == plans,
      "a listener stayed attached after profile returned")
  }

  test("time records a throwing key under errors and still times the others") {
    // a corpus dir holding only `embeddings`: the text key throws at
    // load, the vector key runs
    val dir = Files.createTempDirectory("graft_run_time")
    Files.createSymbolicLink(dir.resolve("embeddings.parquet"),
      Paths.get(sfDir, "embeddings.parquet").toAbsolutePath)
    try {
      val (mins, errors) = Run.time(spark, dir.toString, Seq("text_normalize", "knn_cosine"))
      assert(errors.keySet == Set("text_normalize"))
      assert(mins.keySet == Set("knn_cosine") && mins("knn_cosine") > 0.0)
    } finally {
      Files.delete(dir.resolve("embeddings.parquet"))
      Files.delete(dir)
    }
  }

  test("an unknown command, key or malformed argument is rejected before any session work") {
    assert(Run.parse(Seq("nope")).isLeft)
    assert(Run.parse(Seq()).isLeft)
    assert(Run.parse(Seq("time", sfDir, "no_such_key")).left.exists(_.contains("no_such_key")))
    assert(Run.parse(Seq("explain", sfDir)).isLeft)
    assert(Run.parse(Seq("gen-scale", "a", "b", "zero")).isLeft)
    assert(Run.parse(Seq("time", sfDir, "knn_cosine")).isRight)
  }

  test("plans excerpts strip the expression ids and plan ids a rerun renumbers, not a pushed value") {
    val plan =
      """(3) Exchange
        |Input [2]: [h#1270, id#7L]
        |Arguments: rangepartitioning(h#1270 ASC NULLS FIRST, 32), REPARTITION_BY_NUM, [plan_id=1548]
        |PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#11)]""".stripMargin
    val rerun = plan.replace("1270", "1363").replace("#7L", "#88L").replace("1548", "1604")
    assert(PlanAudit.excerptOf(Seq(plan, rerun), "Input", "Arguments", "PushedFilters") == Seq(
      "Input [2]: [h, id]",
      "Arguments: rangepartitioning(h ASC NULLS FIRST, 32), REPARTITION_BY_NUM",
      "PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#11)]"))
  }

  test("plans merge: generated sections replace their namesakes; every other section is kept verbatim") {
    val existing =
      """# old header
        |
        |## a — old why
        |
        |```
        |old a
        |```
        |
        |## notes — hand-written
        |
        |Prose that no run generates.
        |
        |```
        |## not a heading inside a fence
        |```
        |
        |## gone — generated once, no longer
        |
        |kept too
        |""".stripMargin
    val merged = PlanAudit.merge(existing, "# new header\n",
      Seq("## a — new why\n\n```\nnew a\n```\n", "## b — fresh\n\n```\nb\n```\n"))
    assert(merged ==
      """# new header
        |
        |## a — new why
        |
        |```
        |new a
        |```
        |
        |## b — fresh
        |
        |```
        |b
        |```
        |
        |## notes — hand-written
        |
        |Prose that no run generates.
        |
        |```
        |## not a heading inside a fence
        |```
        |
        |## gone — generated once, no longer
        |
        |kept too
        |""".stripMargin)
    assert(PlanAudit.merge(merged, "# new header\n",
      Seq("## a — new why\n\n```\nnew a\n```\n", "## b — fresh\n\n```\nb\n```\n")) == merged,
      "a rerun over its own output must be a fixed point")
  }
}
