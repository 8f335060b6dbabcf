package graft

import org.apache.spark.sql.functions._
import graft.operators.{HnswAnn, Knn}

/** Graph-partitioned HNSW emulation: recall, self-match, determinism.
  * (Reference: vector_index.py index_type='hnsw' — hnswlib; here
  * per-centroid-bucket NSW graphs + IVF routing, HnswAnn.scala.) */
class HnswSpec extends SparkTestBase {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sfDir, "embeddings")
  lazy val queries = emb.filter(col("vec_id") < 10)
  lazy val exact: Map[Long, Set[Long]] =
    Knn.topK(emb, queries, 10, Knn.Cosine)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("per-bucket NSW + IVF routing: recall@10 vs exact, self-match rank 1") {
    val res = HnswAnn.hnswSearch(emb, queries, 10).cache()
    val approx = res.select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val per = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val recall = per.sum / per.size
    assert(recall >= 0.6, s"NSW recall $recall too low")
    // a query that exists in the corpus must find itself at rank 1
    val top = res.filter($"rank" === 1)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
    top.foreach { case (qid, vid) => assert(qid == vid, s"query $qid rank-1 was $vid") }
    res.unpersist()
  }

  test("multi-probe entry diversity never loses recall vs the single entry") {
    // entry set includes node 0 (e=0 -> idx 0), so multi-probe
    // candidates are a superset and recall is monotone
    val single = HnswAnn.hnswGraded(spark, sfDir)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val multi = HnswAnn.hnswMultiprobe(spark, sfDir)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(m: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, ex) =>
        m.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
      per.sum / per.size
    }
    assert(recall(multi) >= recall(single),
      s"multi ${recall(multi)} < single ${recall(single)}")
  }

  test("cross-bucket beam continuation: probe superset, spill active, recall monotone") {
    val centroids = operators.IvfIndex.trainCentroids(
      operators.IvfIndex.trainSample(emb), HnswAnn.NList, 10)
    val sizes = operators.IvfIndex.assign(emb, centroids)
      .groupBy("centroid").count().as[(Int, Long)].collect().toMap
    val qRows = queries.select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    var spilled = 0
    qRows.foreach { case (_, v) =>
      val base = operators.IvfIndex.nearestN(centroids, v.toArray, HnswAnn.NProbe)
      val cont = HnswAnn.spillProbes(centroids, sizes, v.toArray)
      assert(base.toSet.subsetOf(cont.toSet), "continuation probe set must contain the base set")
      if (cont.length > base.length) spilled += 1
    }
    // sf0.001 buckets hold ~n/nlist < ef rows, so beams exhaust early
    // and the continuation must actually fire
    assert(spilled > 0, "no query spilled — the continuation rule never engaged")

    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val m = df.select($"qid", $"vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val per = exact.map { case (q, ex) =>
        m.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
      per.sum / per.size
    }
    val rSpill = recall(HnswAnn.hnswSpill(spark, sfDir))
    val rPlain = recall(HnswAnn.hnswGraded(spark, sfDir))
    assert(rSpill >= rPlain, s"spill recall $rSpill < plain $rPlain")
  }

  test("NSW search is deterministic across runs") {
    val a = HnswAnn.hnswSearch(emb, queries, 10).collect().map(_.toSeq)
    val b = HnswAnn.hnswSearch(emb, queries, 10).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("hnswSearch over the catalogued codebook == hnsw_search and hnsw_multiprobe") {
    // one NSW search path: hnswSearch builds the same shard table the
    // graded keys serve from and searches it through the same code
    val centroids = operators.IvfIndex.centroidsFor(spark, sfDir, HnswAnn.NList)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val k = operators.VectorSearch.K
    assert(rows(HnswAnn.hnswSearch(emb, queries, k, centroidsOpt = Some(centroids))) ==
      rows(SparkEntry.queries("hnsw_search")(spark, sfDir)))
    assert(rows(HnswAnn.hnswSearch(emb, queries, k, centroidsOpt = Some(centroids),
        nEntries = HnswAnn.MultiProbeEntries)) ==
      rows(SparkEntry.queries("hnsw_multiprobe")(spark, sfDir)))
  }

  test("beam with ef >= bucket size is exhaustive (finds the true nearest)") {
    // one bucket holding all vectors, ef >= n: graph search must return
    // the exact nearest neighbors of the (normalized) metric
    val vecs = emb.limit(64)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val g = new HnswAnn.NswGraph(vecs.map(_._1), vecs.map(t => unit(t._2.toArray))).build()
    val q = unit(vecs.head._2.toArray)
    val got = g.beam(q, g.n, g.n).head
    assert(g.ids(got._2) == vecs.head._1, s"self-search returned ${g.ids(got._2)}")
  }
}
