package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphRank, TextOps}

/** Round 16 (build round 12): the large-SF certification machinery —
  * scaled (prefix-filtered) twin overrides and the edge-CTE rewrite
  * anchor tools/cert_scaled.py depends on — plus the retirement of the
  * dedup_ngram_jaccard df cap (the graded key now rides the lossless
  * prefix index, so capped-vs-exact divergence is impossible by
  * construction, pinned here on the stop-shingle corpus shape that
  * used to force the cap). */
class Round16Spec extends SparkTestBase {
  import spark.implicits._

  test("oraclesScaled covers only registered graded keys, and every scaled twin differs from its graded twin") {
    val scaled = SparkEntry.oracleSqlScaled
    val graded = SparkEntry.oracleSql
    val unknown = scaled.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"scaled overrides for unregistered keys: $unknown")
    scaled.foreach { case (k, sql) =>
      assert(graded.contains(k), s"$k has no graded twin")
      assert(sql != graded(k)(spark, sfDir), s"$k scaled twin identical to graded — rewrite anchor must have no-opped")
    }
    // the expected override set, exactly (a silent shrink would quietly
    // re-quadratify a certification query)
    assert(scaled.keySet == Set(
      "dedup_minhash_lsh", "stream_dedup", "dedup_clusters",
      "dedup_clusters_largestar", "dedup_lsh_tradeoff",
      "dedup_ngram_jaccard", "dedup_jaccard_prefix", "dedup_containment"))
  }

  test("scaled twins carry the prefix machinery, not the all-pairs join") {
    // structural pins: candidate generation present, quadratic self-join gone
    assert(Dedup.dedupMinhashLshScaledSql.contains("pr_cand"))
    assert(!Dedup.dedupMinhashLshScaledSql.contains("FROM t a JOIN t b ON a.doc_id < b.doc_id"))
    assert(Dedup.dedupClustersScaledSql.contains("pr_cand"))
    assert(Dedup.dedupLshTradeoffScaledSql.contains("tpre"))
    assert(!Dedup.dedupLshTradeoffScaledSql.contains("FROM tt a JOIN tt b ON a.doc_id < b.doc_id"))
    assert(TextOps.dedupNgramJaccardScaledSql.contains("pre x JOIN pre y"))
    assert(TextOps.dedupContainmentScaledSql.contains("preA"))
  }

  test("every edge-CTE graph oracle carries the rewrite anchor exactly once") {
    // tools/cert_scaled.py replaces the span from the q CTE through the
    // g CTE's rank cutoff with a read of the materialized edge parquet;
    // if the CTE names or the cutoff spelling drift, the certification
    // rewrite must fail loudly there — and this pins the contract here
    val anchorStart = "q AS (SELECT e.vec_id AS qid"
    val anchorEnd = s"WHERE rnk <= ${graft.operators.VectorSearch.K}),"
    val edgeQueries = Seq(
      "graph_pagerank", "graph_ppr", "graph_hits", "graph_kcore",
      "graph_lpa", "graph_bfs_levels", "graph_link_predict",
      "graph_label_modularity", "graph_triangles", "dedup_canonical_rank")
    edgeQueries.foreach { q =>
      val sql = GraphRank.oracles(q)
      def countOf(hay: String, needle: String) =
        hay.sliding(needle.length).count(_ == needle)
      assert(countOf(sql, anchorStart) == 1, s"$q: q-CTE anchor count != 1")
      assert(countOf(sql, anchorEnd) == 1, s"$q: rank-cutoff anchor count != 1")
    }
  }

  test("link-predict twin mirrors the hub cap (pmid filter present)") {
    assert(GraphRank.linkPredictSql.contains(s"dg <= ${GraphRank.LinkMiddleCap}"),
      "linkPredictSql does not filter super-cap middles — engine and twin " +
        "would diverge on any input with a genuine hub")
  }

  test("events_corr: decimal moment accumulators == BigInt replay beyond the Int64 wrap point") {
    import graft.operators.Warehouse
    // synthetic per-user counts at ~4e9: each per-user cross product
    // c_a*c_b ~ 1.6e19 already exceeds Long.MaxValue (9.2e18), and the
    // 10k-user sums sit near 1.6e23 — the regime the round-12 ADVICE
    // fix (decimal(38,0) accumulation inside the aggregate) exists for
    val types = Seq("click", "error", "purchase", "signup", "view")
    val n = 10000
    val rows = (0 until n).map { u =>
      (u.toLong,
        4000000000L + u * 7L, 4000000000L + u * 11L, 4000000000L + u * 13L,
        4000000000L + u * 17L, 4000000000L + u * 19L)
    }
    val per = rows.toDF("user_id", "c_click", "c_error", "c_purchase", "c_signup", "c_view")
    val got = Warehouse.corrFromPerUserWide(per)
      .select("type_a", "type_b", "n", "sx", "sy", "sxy", "sxx", "syy")
      .collect()
    assert(got.length == 10)
    val vecs = rows.map(r => Seq(r._2, r._3, r._4, r._5, r._6).map(BigInt(_)))
    got.foreach { r =>
      val (i, j) = (types.indexOf(r.getString(0)), types.indexOf(r.getString(1)))
      assert(r.getLong(2) == n.toLong)
      def big(k: Int): BigInt = BigInt(r.getDecimal(k).toBigInteger)
      assert(big(3) == vecs.map(_(i)).sum, "sx")
      assert(big(4) == vecs.map(_(j)).sum, "sy")
      assert(big(5) == vecs.map(v => v(i) * v(j)).sum, "sxy — the sum a Long accumulator would wrap")
      assert(big(6) == vecs.map(v => v(i) * v(i)).sum, "sxx")
      assert(big(7) == vecs.map(v => v(j) * v(j)).sum, "syy")
      // and the wrap is REAL at these magnitudes: the old plain-long
      // per-user product already differs from the exact value
      val exactFirst = vecs.head(i) * vecs.head(j)
      assert(BigInt(rows.head.productElement(1 + i).asInstanceOf[Long] *
        rows.head.productElement(1 + j).asInstanceOf[Long]) != exactFirst,
        "test magnitudes no longer exceed Int64 — raise them")
    }
    // the GRADED path emits BIGINT (gate contract; decimal outputs hash
    // differently per engine) — on this beyond-Int64 corpus it must
    // fail LOUDLY at the range-checked cast, never wrap or emit decimal
    val ex = intercept[Exception] {
      Warehouse.corrFromPerUser(per).collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(ex).contains("outside Int64 range"),
      s"expected the loud range-check message, got: ${rootMsg(ex).take(300)}")
  }

  test("dedup_ngram_jaccard == dedup_jaccard_prefix on a stop-shingle corpus (cap retired, one exact function)") {
    // every doc shares a boilerplate shingle (the df-melt shape that
    // used to force the capped variant); planted near-dup pairs 2i/2i+1
    val docs = (0 until 60).map { i =>
      val shared = s"a${i / 2} b${i / 2} c${i / 2} d${i / 2} e${i / 2} f${i / 2} g${i / 2} h${i / 2}"
      val text =
        if (i % 2 == 0) s"terms of service $shared u${i}x u${i}y"
        else s"terms of service $shared v${i}x v${i}y"
      (i.toLong, "s", text)
    }.toDF("doc_id", "source", "text")
    val a = TextOps.jaccardPrefixPairs(docs).orderBy("doc_a", "doc_b").collect()
    assert(a.nonEmpty, "planted near-dups not found")
    // the graded keys are literally the same plan now; pin the pair set
    // against a driver-side brute force so "lossless" stays a property
    val base = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def shingles(t: String): Set[Seq[String]] = {
      val w = t.split(" ").filter(_.nonEmpty).toSeq
      if (w.length >= 3) w.sliding(3).toSet else Set(Seq(t))
    }
    val brute = for {
      (ia, ta) <- base; (ib, tb) <- base if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.5
    } yield (ia, ib)
    assert(a.map(r => (r.getLong(0), r.getLong(1))).toSet == brute.toSet,
      "prefix pair set != brute force")
  }
}
