package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.operators.IvfIndex

/** Round-19 (driver round 15) hardening: trainSample's driver-safe
  * hash-threshold path — found by the 10M ScaleProbe blowing
  * spark.driver.maxResultSize on the TakeOrdered form (which ships
  * min(cap, partition rows) PER TASK). */
class Round19Spec extends SparkTestBase {

  test("trainSample threshold path selects the EXACT same sample as the direct orderBy+limit") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val cap = (n / 8).toInt // forces the threshold branch (n > 4*cap)
    assert(cap >= 8, s"corpus too small to force the threshold branch (n=$n)")
    val viaThreshold = IvfIndex.trainSample(emb, cap)
    // the reference form, computed directly (the pre-round-15 plan)
    val direct = emb.select(col("vec_id").cast("long").as("_sid"),
        col("embedding").cast(ArrayType(DoubleType)).as("_sv"))
      .withColumn("_sh", graft.functions.TextHashOps.md5Lower64(col("_sid").cast("string")))
      .orderBy(col("_sh"), col("_sid"))
      .limit(cap)
      .select(col("_sv")).collect().map(_.getSeq[Double](0).toArray)
    assert(viaThreshold.length == cap && direct.length == cap)
    assert(viaThreshold.zip(direct).forall { case (a, b) => a.sameElements(b) },
      "threshold-sampled rows differ from the direct top-cap")
  }

  test("trainSample small-corpus branch (n <= 4*cap) is the direct form and returns min(cap, n) rows") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count().toInt
    val all = IvfIndex.trainSample(emb, cap = n * 2)
    assert(all.length == n, s"expected the whole corpus ($n), got ${all.length}")
  }

  test("k-means with fewer distinct points than k trains a shrunken codebook instead of crashing") {
    // a duplicate-heavy sample: 2 distinct points, k = 16 — the update
    // step must size to the effective codebook, not the requested k
    val sample = Array(
      Array(1.0, 0.0), Array(1.0, 0.0), Array(1.0, 0.0),
      Array(0.0, 1.0), Array(0.0, 1.0))
    val cb = IvfIndex.trainCentroids(sample, 16, 10)
    assert(cb.length == 2, s"expected a 2-centroid codebook, got ${cb.length}")
    assert(cb(0).sameElements(Array(1.0, 0.0)) && cb(1).sameElements(Array(0.0, 1.0)),
      "Lloyd over two distinct duplicated points must converge to exactly those points")
  }
}
