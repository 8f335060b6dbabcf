package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.Knn
import graft.plans.VectorTopK

/** The custom-SparkPlan kNN must agree exactly with the mapPartitions
  * operator, show up as a physical node, and run nothing until it is
  * executed. */
class VectorTopKPlanSpec extends SparkTestBase {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sfDir, "embeddings")
  lazy val queries = emb.filter(col("vec_id") < 5)

  for (m <- Seq(Knn.Cosine, Knn.L2, Knn.Ip)) {
    test(s"planned topK($m) equals the independent mapPartitions formulation") {
      val a = VectorTopK.topK(emb, queries, 7, m)
        .select($"qid", $"rank", $"vec_id", $"score")
        .as[(Long, Int, Long, Double)].collect().toSeq
      val b = Knn.topKMapPartitions(emb, queries, 7, m)
        .select($"qid", $"rank", $"vec_id", $"score")
        .as[(Long, Int, Long, Double)].collect().toSeq
      assert(a == b)
    }
  }

  test("physical plan contains VectorTopKJoin over the pruned scan") {
    val df = VectorTopK.topK(emb.filter(col("label") < 5), queries, 3)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("VectorTopKJoin"), plan)
    // filter still pushed beneath the custom node
    assert(plan.contains("PushedFilters") && plan.contains("label"), plan)
  }

  test("building Knn.topK runs no Spark job; executing it runs VectorTopKJoin") {
    val e = emb
    e.schema // the table load itself may list files
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val df = try {
      val built = Knn.topK(e, e.filter(col("vec_id") < 10), 10)
      org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(spark.sparkContext, 10000L)
      built
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() == 0, s"${jobs.get()} job(s) ran while the plan was built")
    assert(df.count() == 100)
    assert(df.queryExecution.executedPlan.toString.contains("VectorTopKJoin"))
  }
}
