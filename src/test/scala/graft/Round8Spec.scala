package graft

import org.apache.spark.sql.functions._

import graft.operators.{HnswAnn, IvfIndex}
import graft.plans.VectorTopKRewrite

/** Round 8: the SQL-registry kNN text is rewritten onto the custom
  * partial-top-k physical plan (VectorTopKRewrite) with bit-identical
  * results; the rewrite's guards don't fire on lookalike shapes; and
  * the round's hardening items (LWW tie determinism, BeamHeap guard,
  * spill probe cap) hold. */
class Round8Spec extends SparkTestBase {
  import spark.implicits._

  private def knnSql(nq: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $nq),
       |s AS (SELECT q.qid, e.vec_id, cosine_sim(q.qv, e.embedding) AS score
       |      FROM q CROSS JOIN embeddings e)
       |SELECT qid, vec_id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM s)
       |WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  private def withoutRewrite[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == VectorTopKRewrite)
    try f finally spark.experimental.extraOptimizations = saved
  }

  test("SQL kNN rewrites onto VectorTopKJoin; naive cross-join plan is gone") {
    val df = operators.PlanQueries.sqlPipeline(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("VectorTopKJoin"), s"rewrite did not fire:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"naive cross join still present:\n${plan.take(1500)}")
  }

  test("rewritten SQL == naive plan (rule off) == DataFrame custom operator, bit-exact") {
    GraftFunctions.register(spark)
    graft.plans.GraftRules.install(spark)
    Tables.registerAll(spark, sfDir)
    val sql = knnSql(5, 10)
    val rewritten = spark.sql(sql)
    assert(rewritten.queryExecution.executedPlan.toString.contains("VectorTopKJoin"))
    val a = rewritten.as[(Long, Long, Double, Int)].collect().toSeq
    val b = withoutRewrite {
      val naive = spark.sql(sql)
      assert(!naive.queryExecution.executedPlan.toString.contains("VectorTopKJoin"))
      naive.as[(Long, Long, Double, Int)].collect().toSeq
    }
    val emb = Tables.load(spark, sfDir, "embeddings")
    val c = operators.Knn.topK(emb, emb.filter($"vec_id" < 5), 10)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(a.nonEmpty && a == b && a == c)
  }

  test("ip and l2 SQL shapes rewrite too, bit-exact vs their naive plans") {
    GraftFunctions.register(spark)
    graft.plans.GraftRules.install(spark)
    Tables.registerAll(spark, sfDir)
    def shape(fn: String, order: String): String =
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, e.vec_id, $fn(q.qv, e.embedding) AS score
         |      FROM q CROSS JOIN embeddings e)
         |SELECT qid, vec_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score $order, vec_id ASC) AS rank
         |  FROM s)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    Seq(("dot_d", "DESC", "ip"), ("l2_sq", "ASC", "l2raw")).foreach { case (fn, ord, metric) =>
      val sql = shape(fn, ord)
      val rewritten = spark.sql(sql)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains(s"VectorTopKJoin [k=10, $metric]"),
        s"$fn shape did not rewrite:\n${plan.take(1200)}")
      val a = rewritten.as[(Long, Long, Double, Int)].collect().toSeq
      val b = withoutRewrite {
        spark.sql(sql).as[(Long, Long, Double, Int)].collect().toSeq
      }
      assert(a.nonEmpty && a == b, s"$fn rewrite changed results")
    }
    // the l2 ids also agree with the DataFrame L2 operator (values
    // differ by design: raw d² vs 1/(1+d²))
    val emb = Tables.load(spark, sfDir, "embeddings")
    val df = operators.Knn.topK(emb, emb.filter($"vec_id" < 5), 10, operators.Knn.L2)
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSeq
    val viaSql = spark.sql(shape("l2_sq", "ASC"))
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSeq
    assert(df == viaSql)
  }

  test("hand-written dot/norm cosine SQL rewrites; mismatched-norm lookalike does not") {
    GraftFunctions.register(spark)
    graft.plans.GraftRules.install(spark)
    Tables.registerAll(spark, sfDir)
    def shape(denom: String): String =
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, e.vec_id,
         |        dot_d(q.qv, e.embedding) / ($denom) AS score
         |      FROM q CROSS JOIN embeddings e)
         |SELECT qid, vec_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM s)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    // both norm-factor orders are the same cosine (multiply commutes)
    Seq("sqrt(dot_d(q.qv, q.qv)) * sqrt(dot_d(e.embedding, e.embedding))",
        "sqrt(dot_d(e.embedding, e.embedding)) * sqrt(dot_d(q.qv, q.qv))")
      .foreach { denom =>
        val sql = shape(denom)
        val rewritten = spark.sql(sql)
        val plan = rewritten.queryExecution.executedPlan.toString
        assert(plan.contains("VectorTopKJoin [k=10, cosine]"),
          s"hand-written cosine did not rewrite:\n${plan.take(1200)}")
        val a = rewritten.as[(Long, Long, Double, Int)].collect().toSeq
        val b = withoutRewrite {
          spark.sql(sql).as[(Long, Long, Double, Int)].collect().toSeq
        }
        assert(a.nonEmpty && a == b, "hand-written cosine rewrite changed results")
        // and it equals the registry cosine_sim rewrite row for row
        val c = spark.sql(knnSql(5, 10)).as[(Long, Long, Double, Int)].collect().toSeq
        assert(a == c)
      }
    // lookalike: both norm factors from the SAME side — not a cosine;
    // must execute the naive plan untouched
    val fake = shape("sqrt(dot_d(q.qv, q.qv)) * sqrt(dot_d(q.qv, q.qv))")
    assert(!spark.sql(fake).queryExecution.executedPlan.toString.contains("VectorTopKJoin"),
      "mismatched-norm lookalike was rewritten")
  }

  test("rewritten plan with an EMPTY query side returns zero rows (no crash)") {
    GraftFunctions.register(spark)
    graft.plans.GraftRules.install(spark)
    Tables.registerAll(spark, sfDir)
    val df = spark.sql(knnSql(0, 10)) // vec_id < 0: no queries
    assert(df.queryExecution.executedPlan.toString.contains("VectorTopKJoin"))
    assert(df.count() == 0)
  }

  test("rewrite does NOT fire on lookalikes: equi-join condition, ASC score, NULLS FIRST") {
    GraftFunctions.register(spark)
    graft.plans.GraftRules.install(spark)
    Tables.registerAll(spark, sfDir)
    val shapes = Seq(
      // join WITH a condition: not a cross-join scan
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label FROM embeddings WHERE vec_id < 3)
        |SELECT * FROM (
        |  SELECT q.qid, e.vec_id, cosine_sim(q.qv, e.embedding) AS score,
        |         row_number() OVER (PARTITION BY q.qid ORDER BY cosine_sim(q.qv, e.embedding) DESC, e.vec_id ASC) AS rank
        |  FROM q JOIN embeddings e ON q.label = e.label)
        |WHERE rank <= 5""".stripMargin,
      // ASC score order: bottom-k, not the operator's semantics
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |s AS (SELECT q.qid, e.vec_id, cosine_sim(q.qv, e.embedding) AS score
        |      FROM q CROSS JOIN embeddings e)
        |SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score ASC, vec_id ASC) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin,
      // NULLS FIRST on the score: null rows would rank into the top-k
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |s AS (SELECT q.qid, e.vec_id, cosine_sim(q.qv, e.embedding) AS score
        |      FROM q CROSS JOIN embeddings e)
        |SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC NULLS FIRST, vec_id ASC) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin)
    shapes.foreach { sql =>
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(!plan.contains("VectorTopKJoin"), s"rewrite fired on a lookalike:\n$sql")
      assert(spark.sql(sql).count() > 0) // and the un-rewritten query still runs
    }
  }

  test("rewrite keeps pushdown: query-side filter reaches the parquet scan") {
    val df = operators.PlanQueries.sqlPipeline(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,"),
      s"query-side pushdown lost:\n${plan.take(2000)}")
  }

  test("blocked cosine kernel == row-at-a-time kernel, bit-exact (incl. ragged tail blocks)") {
    // directly on the partition kernels, with a block size that forces
    // a partial tail block
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    val proj = UnsafeProjection.create(schema)
    def rowsIt = (0L until 37L).iterator.map { i =>
      proj(new GenericInternalRow(Array[Any](i,
        ArrayData.toArrayData(Array.tabulate(8)(j => math.sin(i * 8.0 + j)))))).copy()
    }
    val qs = Array.tabulate(3) { q =>
      val v = Array.tabulate(8)(j => math.cos(q * 8.0 + j))
      var n = 0.0; v.foreach(x => n += x * x)
      (q.toLong, v, math.sqrt(n))
    }
    def key(it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =
      it.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(t => (t._1, -t._3, t._2))
    val a = key(graft.plans.TopKScore.partials(rowsIt, qs, 5, "cosine"))
    val b = key(graft.plans.TopKScore.partialsBlockedCosine(rowsIt, qs, 5, block = 16))
    assert(a.nonEmpty && a == b)
    // block size is staging granularity only — every value (including
    // adaptive 0, degenerate 1, and block > n) is bit-identical
    for (blk <- Seq(0, 1, 3, 64)) {
      val c = key(graft.plans.TopKScore.partialsBlockedCosine(rowsIt, qs, 5, block = blk))
      assert(c == a, s"block=$blk diverged")
    }
    assert(graft.plans.TopKScore.autoBlock(64) == 512 &&
      graft.plans.TopKScore.autoBlock(1024) == 32 &&
      graft.plans.TopKScore.autoBlock(65536) == 16)
  }

  test("decontamination: planted eval n-gram is flagged with the right evidence count; eval side broadcasts") {
    import graft.operators.Dedup
    val docs = Seq(
      (0L, "the quick brown fox jumps over dogs"),          // eval
      (1L, "completely different evaluation text here now"), // eval
      (20L, "training doc mentions the quick brown fox jumps today"), // contaminated by 0
      (21L, "clean training document with no overlap at all"),
      (22L, "another doc saying the quick brown fox appears")  // shares 2 shingles with 0
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(docs, "doc_id", "text", evalMaxId = 2L)
    val rows = got.as[(Long, Long, Long)].collect().toSeq
    // doc 20 shares "the quick brown", "quick brown fox", "brown fox jumps" with eval 0
    // doc 22 shares "the quick brown", "quick brown fox"
    assert(rows == Seq((20L, 0L, 3L), (22L, 0L, 2L)), s"got $rows")
    // eval side must be the broadcast side (the 100 TB shape)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // graded query runs on the real table and self-matches are impossible
    // (train/eval ids are disjoint by construction)
    val graded = Dedup.dataDecontaminate(spark, sfDir)
    val g = graded.as[(Long, Long, Long)].collect()
    assert(g.forall { case (t, e, n) => t >= Dedup.DecontamEvalMaxId &&
      e < Dedup.DecontamEvalMaxId && n >= 1 })
  }

  test("mergeShardsLww tie on shard_seq resolves deterministically (delete beats upsert)") {
    val mk = (op: String, seq: Int) =>
      Seq((7L, Seq(1.0, 2.0), 3, op, seq)).toDF("vec_id", "embedding", "centroid", "op", "shard_seq")
    // same vec_id, same shard_seq, conflicting ops across two shards:
    // the conservative resolution drops the id — and repeats identically
    (1 to 3).foreach { _ =>
      val merged = IvfIndex.mergeShardsLww(Seq(mk("upsert", 0), mk("delete", 0))).collect()
      assert(merged.isEmpty, "delete must win an equal-seq tie")
    }
    // and a genuine LWW case still works through the same path
    val survivors = IvfIndex.mergeShardsLww(Seq(mk("delete", 0), mk("upsert", 1)))
      .select("vec_id").as[Long].collect().toSeq
    assert(survivors == Seq(7L))
  }

  test("BeamHeap.dequeue on an empty heap throws instead of corrupting state") {
    val h = new HnswAnn.BeamHeap(4, max = false)
    intercept[NoSuchElementException] { h.dequeue() }
    // the guard must not have corrupted the heap: it still works
    h.enqueue(1.5, 3); h.enqueue(0.5, 9)
    assert(h.nonEmpty && h.headD == 0.5 && h.headN == 9)
  }

  test("spillProbes is capped at MaxSpillProbes under many empty buckets") {
    // 64 centroids, all buckets empty: the budget rule alone would
    // probe all 64; the cap bounds the fan-out
    val centroids = Array.tabulate(64)(i => Array(i.toDouble, 0.0))
    val probes = HnswAnn.spillProbes(centroids, Map.empty, Array(0.0, 0.0))
    assert(probes.length == HnswAnn.MaxSpillProbes,
      s"got ${probes.length} probes, cap is ${HnswAnn.MaxSpillProbes}")
    // graded config (nlist=16 < cap) is unaffected: all buckets sized
    // ef+ stop the continuation at NProbe exactly as before
    val c16 = Array.tabulate(HnswAnn.NList)(i => Array(i.toDouble, 0.0))
    val sizes = (0 until HnswAnn.NList).map(_ -> 1000L).toMap
    // cum hits the budget exactly at NProbe full buckets (4·48 = 192),
    // so no continuation — the pre-cap behavior, unchanged
    val base = HnswAnn.spillProbes(c16, sizes, Array(0.0, 0.0))
    assert(base.length == HnswAnn.NProbe)
  }

  test("dedup_substring: planted spans, interval-union coverage, within-doc repeats") {
    import graft.operators.Dedup
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared10 = words("s", 10)           // 10-token span shared by docs 1 and 2
    val inner8 = words("r", 8)              // 8-token span repeated INSIDE doc 3
    val docs = Seq(
      (1L, s"${words("a", 5)} $shared10 ${words("b", 5)}"),
      (2L, s"${words("c", 3)} $shared10"),
      (3L, s"$inner8 ${words("d", 4)} $inner8"),
      (4L, words("u", 30)),                 // unique long doc
      (5L, words("v", 5))                   // shorter than the window
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "dup_tokens", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)

    // Docs 1/2: the shared 10-token span yields 3 overlapping duplicated
    // windows (p, p+1, p+2) which must MERGE to exactly 10 covered
    // tokens, not 24.
    assert(out(0) == ((1L, 20L, 10L, 0.5)))
    assert(out(1) == ((2L, 13L, 10L, 10.0 / 13)))
    // Doc 3: a within-doc repeat is a duplicate (>= 2 positions
    // corpus-wide), both occurrences covered: 8 + 8.
    assert(out(2)._3 == 16L && out(2)._2 == 20L)
    // Unique doc and sub-window doc: zero coverage, still present.
    assert(out(3) == ((4L, 30L, 0L, 0.0)))
    assert(out(4) == ((5L, 5L, 0L, 0.0)))
  }

  test("dedup_substring: only non-string columns cross the shuffles (text never moves)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // Exchanges are inserted by EnsureRequirements during executedPlan
    // preparation (sparkPlan never contains them). AQE would further wrap
    // them in leaf QueryStageExec nodes invisible to collect(), so pin the
    // non-adaptive executedPlan for this assertion.
    val conf = spark.conf
    val savedAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.operators.Dedup.duplicatedSpans(
        graft.Tables.load(spark, sfDir, "documents"), "doc_id", "text")
      val exchanges = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected at least the dup-hash groupBy shuffle")
      val leaked = exchanges.flatMap(_.child.output).filter { a =>
        a.dataType == StringType ||
          (a.dataType match { case ArrayType(StringType, _) => true; case _ => false })
      }
      assert(leaked.isEmpty,
        s"string columns crossed a shuffle: ${leaked.map(_.name).mkString(", ")}")
    } finally savedAqe match {
      case Some(v) => conf.set("spark.sql.adaptive.enabled", v)
      case None => conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("dedup_substring_prune: no HASH exchange carries text (ivs join-back broadcasts)") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val conf = spark.conf
    val savedAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.operators.Dedup.pruneDuplicatedSpans(
        graft.Tables.load(spark, sfDir, "documents"), "doc_id", "text")
      val exchanges = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected the window/group-stage shuffles")
      // Hash exchanges move the (doc_id, pos, hash) long stages; only the
      // final orderBy RANGE exchange may carry the (already pruned) text.
      val leaked = exchanges
        .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
        .flatMap(_.child.output).filter { a =>
          a.dataType == StringType ||
            (a.dataType match { case ArrayType(StringType, _) => true; case _ => false })
        }
      assert(leaked.isEmpty,
        s"string columns crossed a hash shuffle: ${leaked.map(_.name).mkString(", ")}")
    } finally savedAqe match {
      case Some(v) => conf.set("spark.sql.adaptive.enabled", v)
      case None => conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("dedup_substring_prune: first occurrence kept, later spans excised from the text") {
    import graft.operators.Dedup
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared10 = words("s", 10)
    val inner8 = words("r", 8)
    val doc1Text = s"${words("a", 5)} $shared10 ${words("b", 5)}"
    val docs = Seq(
      (1L, doc1Text),
      (2L, s"${words("c", 3)} $shared10"),
      (3L, s"$inner8 ${words("d", 4)} $inner8"),
      (5L, words("v", 5))
    ).toDF("doc_id", "text")
    val out = Dedup.pruneDuplicatedSpans(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "removed_tokens", "text_pruned")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // Doc 1 carries the FIRST occurrence of every duplicated window:
    // untouched.
    assert(out(0) == ((1L, 20L, 0L, doc1Text)))
    // Doc 2's copy of the 10-token span is excised; its prefix stays.
    assert(out(1) == ((2L, 13L, 10L, words("c", 3))))
    // Doc 3: the SECOND within-doc occurrence goes, the first stays.
    assert(out(2) == ((3L, 20L, 8L, s"$inner8 ${words("d", 4)}")))
    // No duplicated window at all: identity rewrite.
    assert(out(3) == ((5L, 5L, 0L, words("v", 5))))
  }

  test("dedup_substring_prune: periodic self-overlap collapses to one island") {
    import graft.operators.Dedup
    // 'a b' repeated 4× with L=4: windows at p∈{0,2,4} and p∈{1,3}
    // form two hash groups; first occurrences p=0 and p=1 are kept,
    // removals p∈{2,3,4} merge into the single interval [2,8).
    val docs = Seq((1L, "a b a b a b a b")).toDF("doc_id", "text")
    val out = Dedup.pruneDuplicatedSpans(docs, "doc_id", "text", winLen = 4)
      .select("doc_id", "n_tokens", "removed_tokens", "text_pruned")
      .as[(Long, Long, Long, String)].collect()
    assert(out.head == ((1L, 8L, 6L, "a b")))
  }
}
