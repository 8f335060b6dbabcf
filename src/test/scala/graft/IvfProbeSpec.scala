package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, VectorSearch}

/** The one IVF probe path: `IvfIndex.route` collects a query batch
  * once, and the routed probes and query vectors join the probe plan
  * as literals — no exchange or broadcast is spent on a driver-local
  * frame, and building the plan runs nothing. */
class IvfProbeSpec extends SparkTestBase {

  /** Every node of an executed plan, through AQE's wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** A scan of driver-local rows: a local relation, or an RDD made on
    * the driver (`createDataFrame(parallelize(…))`). */
  private def scansLocal(p: SparkPlan): Boolean = p match {
    case _: LocalTableScanExec | _: RDDScanExec | _: ExternalRDDScanExec[_] => true
    case _ => false
  }

  test("ivf_search, ivf_adaptive and ivf_binary spend no exchange on a local probe or query frame") {
    Seq("ivf_search", "ivf_adaptive", "ivf_binary").foreach { key =>
      val df = SparkEntry.queries(key)(spark, sfDir)
      assert(df.collect().nonEmpty, key)
      val plan = df.queryExecution.executedPlan
      val overLocal = nodes(plan).collect {
        case e: Exchange if nodes(e.child).exists(scansLocal) => e.nodeName
      }
      assert(overLocal.isEmpty,
        s"$key: ${overLocal.mkString(", ")} over a local relation:\n$plan")
    }
  }

  test("after route, building an IvfIndex.probe plan launches zero Spark jobs") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val centroids = IvfIndex.centroidsFor(spark, sfDir, 16)
    val layout = IvfIndex.assign(emb, centroids)
    val (probes, qv) = IvfIndex.route(emb.filter(col("vec_id") < VectorSearch.NQueries))(
      IvfIndex.nearestN(centroids, _, 4))
    assert(probes.size == VectorSearch.NQueries * 4)
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      IvfIndex.probe(layout, probes, qv, VectorSearch.K).queryExecution.optimizedPlan
      org.apache.spark.sql.graftshim.Shims
        .waitListenerBusEmpty(spark.sparkContext, 10000L)
      assert(jobs.get() == 0,
        s"${jobs.get()} Spark job(s) launched while BUILDING the probe plan")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
