package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mat.joinLocal: a driver-local relation joined as a plan literal is
  * the broadcast join, row for row and column for column, and a relation
  * that does not qualify still takes the broadcast join. */
class JoinLocalSpec extends SparkTestBase {
  import JoinLocalSpec._

  private def local(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** joinLocal == join(broadcast(…)): schema (names, order, types,
    * nullability), row multiset, and the literal path (no broadcast). */
  private def assertSameAsBroadcast(big: DataFrame, small: DataFrame, key: String): Unit = {
    val want = big.join(broadcast(small), key)
    val got = Mat.joinLocal(big, small, key)
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    assert(rows(got) == rows(want))
    assert(broadcasts(got).isEmpty, got.queryExecution.executedPlan.toString)
  }

  private val bigSchema = StructType(Seq(StructField("a", StringType),
    StructField("k", LongType), StructField("b", DoubleType)))
  private def big: DataFrame = local(bigSchema,
    Row("x", 1L, 0.5), Row("y", 2L, 1.5), Row("z", 3L, 2.5), Row("n", null, 3.5),
    Row("x2", 1L, 4.5), Row("w", 99L, 5.5))
  private val smallSchema = StructType(Seq(StructField("v", ArrayType(DoubleType)),
    StructField("k", LongType), StructField("tag", StringType, nullable = false)))

  test("duplicate keys, absent keys and null keys on either side: same rows and columns as the broadcast join") {
    val small = local(smallSchema,
      Row(Seq(1.0, 2.0), 1L, "p"), Row(Seq(3.0), 1L, "q"),   // duplicate key
      Row(null, 2L, "r"),                                    // null value column
      Row(Seq(4.0), null, "s"),                              // null key: never matches
      Row(Seq(5.0), 7L, "t"))                                // key absent from big
    assertSameAsBroadcast(big, small, "k")
    // big's key moves to the front, as in the using-join
    assert(Mat.joinLocal(big, small, "k").columns.toSeq == Seq("k", "a", "b", "v", "tag"))
  }

  test("an empty local relation joins to no rows with the broadcast join's schema") {
    assertSameAsBroadcast(big, local(smallSchema), "k")
  }

  test("Int-vs-Long keys compare as longs in both directions; string keys match exactly") {
    val intSmall = local(StructType(Seq(StructField("k", IntegerType), StructField("c", IntegerType))),
      Row(1, 10), Row(3, 30), Row(0, 0))
    assertSameAsBroadcast(big, intSmall, "k")
    // a Long far outside Int range must not wrap onto small key 0
    val wide = local(bigSchema, Row("far", 4294967296L, 0.0), Row("one", 1L, 1.0))
    assertSameAsBroadcast(wide, intSmall, "k")
    val intBig = big.select(col("a"), col("k").cast("int").as("k"))
    val longSmall = local(StructType(Seq(StructField("k", LongType), StructField("c", LongType))),
      Row(1L, 10L), Row(4294967297L, 20L))
    assertSameAsBroadcast(intBig, longSmall, "k")
    val words = local(StructType(Seq(StructField("qid", LongType), StructField("a", StringType))),
      Row(0L, "x"), Row(1L, "x"), Row(2L, "z"), Row(3L, "X"), Row(4L, null))
    assertSameAsBroadcast(big.drop("k"), words, "a")
  }

  test("a Seq.toDF projection over local rows is local too; the literal path runs no job at plan build") {
    import spark.implicits._
    val small = Seq((1L, 7), (2L, 8)).toDF("k", "c")
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Mat.joinLocal(big, small, "k").queryExecution.optimizedPlan
      org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() == 0)
    assertSameAsBroadcast(big, small, "k")
  }

  test("a non-local or over-cap relation still takes the broadcast join") {
    val ranged = spark.range(5).select(col("id").as("k"), (col("id") * 2).as("c"))
    val viaRange = Mat.joinLocal(big, ranged, "k")
    assert(rows(viaRange) == rows(big.join(broadcast(ranged), "k")))
    assert(broadcasts(viaRange).nonEmpty, viaRange.queryExecution.executedPlan.toString)

    val n = Mat.JoinLocalMaxRows + 1
    val overCap = local(StructType(Seq(StructField("k", LongType), StructField("c", LongType))),
      (0 until n).map(i => Row(i.toLong, i.toLong * 3)): _*)
    val viaOverCap = Mat.joinLocal(big, overCap, "k")
    assert(rows(viaOverCap) == rows(big.join(broadcast(overCap), "k")))
    assert(broadcasts(viaOverCap).exists(_._2), viaOverCap.queryExecution.executedPlan.toString)
    val atCap = overCap.limit(Mat.JoinLocalMaxRows)
    assertSameAsBroadcast(big, atCap, "k")
  }
}

object JoinLocalSpec {
  /** Every BroadcastExchange in `df`'s executed plan (after running it),
    * each with whether it sits directly over a LocalTableScan. */
  def broadcasts(df: DataFrame): Seq[(BroadcastExchangeExec, Boolean)] = {
    df.collect()
    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
      case q: QueryStageExec => strip(q.plan)
      case other => other
    }
    def walk(p: SparkPlan): Seq[(BroadcastExchangeExec, Boolean)] = strip(p) match {
      case b: BroadcastExchangeExec =>
        (b, strip(b.child).isInstanceOf[LocalTableScanExec]) +: walk(b.child)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
