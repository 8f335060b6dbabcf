package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.operators.{IvfIndex, NearestCentroidsExpr}

/** Round 7: stream_ivf (IVF-routed streaming serve) == batch, the
  * probe-routing expression's eval and codegen paths agree with the
  * driver twin, and SURVEY §2's inventory can no longer drift from the
  * graded query registry (the set equality is asserted here, so a new
  * graded key without an inventory line fails the build). */
class Round7Spec extends SparkTestBase {
  import spark.implicits._

  test("SURVEY §2 inventory keys == graded query registry (no drift)") {
    // shared parser with Verify's runtime gate (which refuses to dump
    // grading artifacts while drift exists); SURVEY.md must exist here
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get("SURVEY.md")))
    SurveyInventory.driftMessage(SparkEntry.queries.keySet)
      .foreach(m => fail(m))
  }

  test("Verify's drift gate fires on an unregistered key and is quiet on the registry") {
    val keys = SurveyInventory.inventoryKeys(new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8"))
    assert((keys -- SurveyInventory.aliases) == SparkEntry.queries.keySet)
    val drifted = SurveyInventory.driftMessage(
      SparkEntry.queries.keySet + "q_not_in_survey")
    assert(drifted.exists(_.contains("q_not_in_survey")))
  }

  test("graded registry keys are unique across operator maps (no silent shadowing)") {
    // queries is built by ++ over per-file maps; a duplicate key would
    // silently shadow an operator. Sum of per-map sizes must equal the
    // merged size.
    val maps = Seq(
      operators.Relational.queries, operators.VectorSearch.queries,
      operators.TextOps.queries, operators.EvalMetrics.queries,
      operators.Dedup.queries, operators.IvfIndex.queries,
      operators.LshAnn.queries, operators.ProductQuant.queries,
      operators.Mmr.queries, operators.Projection.queries,
      operators.IvfPq.queries, operators.NnDescent.queries,
      operators.IndexComparison.queries, streaming.StreamingQueries.queries,
      operators.VectorAvg.queries, operators.LayoutQueries.queries,
      operators.HnswAnn.queries, operators.PlanQueries.queries,
      operators.Multiscale.queries, operators.BinaryQuant.queries,
      operators.DataMix.queries, operators.PipelineOps.queries,
      operators.Bpe.queries, operators.Bm25.queries,
      operators.MultiVector.queries, operators.GraphRank.queries,
      operators.Sketches.queries, operators.Curation.queries,
      operators.TpcFull.queries, operators.Warehouse.queries,
      operators.ServeE2e.queries)
    assert(maps.map(_.size).sum + 1 == SparkEntry.queries.size) // +1: multimodal_embed
  }

  test("twin keys == query keys: no orphan twin, no graded key without a twin") {
    // trained twins are built on demand from the catalogued builds, so
    // the twin set no longer depends on which queries ran. An orphan
    // twin would grade a phantom; a query without a twin would grade
    // rows-only. No registered key is exempt.
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    val untwinned = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(orphans.isEmpty, s"oracleSql keys with no query: $orphans")
    assert(untwinned.isEmpty, s"queries with no oracleSql twin: $untwinned")
  }

  test("stream_ivf == batch ivf_search (same deterministic centroids, nprobe=4)") {
    val st = streaming.StreamingQueries.streamIvf(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val bt = IvfIndex.ivfSearch(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(st.nonEmpty && st == bt)
  }

  test("NearestCentroidsExpr codegen path == driver nearestN on every corpus row; head == top-1 assign") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(IvfIndex.trainSample(emb), 8, 5)
    val rows = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Shims.column(NearestCentroidsExpr(
          Shims.expression(col("embedding").cast("array<double>")), centroids, 3)).as("cs"))
      .as[(Long, Seq[Double], Seq[Int])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, v, cs) =>
      val want = IvfIndex.nearestN(centroids, v.toArray, 3).toSeq
      assert(cs == want, s"vec_id=$id: got $cs want $want")
      assert(cs.head == IvfIndex.nearest(centroids, v.toArray))
    }
  }

  test("IvfIndex.probe carries an explicit partition predicate (PartitionFilters) on salted AND merged layouts") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(IvfIndex.trainSample(emb), 8, 5)
    val assigned = IvfIndex.assign(emb, centroids)
    val (_, qv) = IvfIndex.route(emb.filter(col("vec_id") < 2))(_ => Array.empty[Int])
    val probes = Seq((0L, 0), (0L, 1), (1L, 1), (1L, 2))
    Mat.withScratchDirs("r7_salted", "r7_plain") { case Seq(salted, plain) =>
      IvfIndex.writeSalted(assigned, salted, targetRows = 200L)
      assigned.repartition(col("centroid"))
        .write.partitionBy("centroid").mode("overwrite").parquet(plain)
      def probe(dir: String) =
        IvfIndex.probe(spark.read.parquet(dir), probes, qv, 5)
      Seq(salted, plain).foreach { dir =>
        val plan = probe(dir).queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters") && plan.contains("centroid"),
          s"no partition pruning on layout $dir:\n$plan")
      }
      // salt must stay invisible to results
      val a = probe(salted).collect().map(_.toSeq).toSeq
      val b = probe(plain).collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b)
    }
  }

  test("index config: round-trip preserves values; exists/clear semantics") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    Mat.withScratchDirs("r7_cfg") { case Seq(dir) =>
      val cfgDir = dir + "/config"
      assert(!IvfIndex.configExists(spark, cfgDir))
      val cfg = Seq((64, "cosine", 500L, 16, 1))
        .toDF("dim", "metric", "n_vectors", "nlist", "version")
      IvfIndex.writeConfig(cfg, cfgDir)
      assert(IvfIndex.configExists(spark, cfgDir))
      val back = IvfIndex.readConfig(spark, cfgDir)
        .as[(Int, String, Long, Int, Int)].collect().toSeq
      assert(back == Seq((64, "cosine", 500L, 16, 1)))
      Mat.deleteRecursively(cfgDir) // clear()
      assert(!IvfIndex.configExists(spark, cfgDir))
    }
  }

  test("NearestCentroidsExpr interpreted eval agrees with codegen/driver twin") {
    val cs = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(2.0, 2.0), Array(-1.0, 3.0))
    val vs = Seq(Seq(0.9, 1.1), Seq(-0.4, 2.0), Seq(2.0, 2.0), Seq(0.5, 0.5))
    vs.foreach { v =>
      val e = NearestCentroidsExpr(
        Literal.create(v, ArrayType(DoubleType)), cs, 2)
      val got = e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[ArrayData].toIntArray().toSeq
      assert(got == IvfIndex.nearestN(cs, v.toArray, 2).toSeq)
    }
  }
}
