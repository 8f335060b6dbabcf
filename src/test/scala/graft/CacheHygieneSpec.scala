package graft

/** A graded key that persists an intermediate releases it before it
  * returns: its result is materialized first, so the session's cache
  * manager holds the same entries after the key as before it. */
class CacheHygieneSpec extends SparkTestBase {

  private val keys = Seq("graph_pagerank", "graph_ppr", "graph_triangles",
    "graph_label_modularity", "graph_link_predict", "sketch_heavy_hitters",
    "data_profile", "knn_graph_pruned")

  test("persisting keys leave the cache manager as they found it") {
    def entries = org.apache.spark.sql.graftshim.Shims.numCachedEntries(spark)
    for (key <- keys) {
      val before = entries
      assert(SparkEntry.queries(key)(spark, sfDir).collect().nonEmpty, key)
      assert(entries == before, s"$key left ${entries - before} cache entries behind")
    }
  }
}
