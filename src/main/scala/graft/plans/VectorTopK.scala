package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Knn

/** What a partial emits from a bounded heap: its (value, id) slots. */
trait BoundedK { def foreach(f: (Double, Long) => Unit): Unit }

/** Bounded primitive top-k accumulator for the scan hot loop: parallel
  * score/id arrays, worst slot tracked, so the reject test is two
  * primitive compares and zero allocation (the boxed
  * PriorityQueue[(Double, Long)] it replaces destructured a tuple per
  * row×query×scale — measurable at 4M rows, see SURVEY §6). Tie rule
  * matches row_number ORDER BY score DESC, id ASC: on equal score the
  * higher id is worse. Emission order is arbitrary — every consumer
  * re-ranks under a window. */
final class TopKPrim(k: Int) extends BoundedK {
  private[this] val sc = new Array[Double](k)
  private[this] val id = new Array[Long](k)
  private[this] var n = 0
  private[this] var wi = 0 // worst slot, valid once n == k
  def offer(s: Double, i: Long): Unit = {
    if (n < k) {
      sc(n) = s; id(n) = i; n += 1
      if (n == k) refreshWorst()
    } else if (s > sc(wi) || (s == sc(wi) && i < id(wi))) {
      sc(wi) = s; id(wi) = i; refreshWorst()
    }
  }
  private def refreshWorst(): Unit = {
    var w = 0; var j = 1
    while (j < n) {
      if (sc(j) < sc(w) || (sc(j) == sc(w) && id(j) > id(w))) w = j
      j += 1
    }
    wi = w
  }
  def foreach(f: (Double, Long) => Unit): Unit = {
    var j = 0
    while (j < n) { f(sc(j), id(j)); j += 1 }
  }
}

/** TopKPrim's mirror for DISTANCE metrics: bounded bottom-k by
  * (dist asc, id asc) — the worst slot is the largest distance, ties
  * keep the lower id (matches row_number ORDER BY dist ASC, id ASC).
  * Replaces the boxed PriorityQueue[(Double, Long)] in the PQ/ADC scan
  * loops, where a tuple was destructured per row×query. */
final class BottomKPrim(k: Int) extends BoundedK {
  private[this] val ds = new Array[Double](k)
  private[this] val id = new Array[Long](k)
  private[this] var n = 0
  private[this] var wi = 0 // worst slot, valid once n == k
  def offer(d: Double, i: Long): Unit = {
    if (n < k) {
      ds(n) = d; id(n) = i; n += 1
      if (n == k) refreshWorst()
    } else if (d < ds(wi) || (d == ds(wi) && i < id(wi))) {
      ds(wi) = d; id(wi) = i; refreshWorst()
    }
  }
  private def refreshWorst(): Unit = {
    var w = 0; var j = 1
    while (j < n) {
      if (ds(j) > ds(w) || (ds(j) == ds(w) && id(j) > id(w))) w = j
      j += 1
    }
    wi = w
  }
  def foreach(f: (Double, Long) => Unit): Unit = {
    var j = 0
    while (j < n) { f(ds(j), id(j)); j += 1 }
  }
}

/** The per-partition scoring kernels of [[VectorTopKJoinExec]]: one
  * bounded primitive heap per broadcast query over a (vec_id long,
  * vec array&lt;double&gt;) InternalRow scan, emitted as (qid, vec_id,
  * score) partial rows. */
object TopKScore {
  private val PartialSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** The metric picks the kernel: cosine → [[partialsBlockedCosine]]
    * (adaptive block), l2raw → [[partialsL2Raw]], l2 / ip →
    * [[partials]]. */
  def scan(rows: Iterator[InternalRow],
           qs: Array[(Long, Array[Double], Double)],
           k: Int, metric: String): Iterator[InternalRow] = metric match {
    case "cosine" => partialsBlockedCosine(rows, qs, k)
    case "l2raw" => partialsL2Raw(rows, qs, k)
    case m => partials(rows, qs, k, m)
  }

  /** Every heap's slots as (qid, id, value) rows; heap qi is qs(qi)'s. */
  private def emit(qs: Array[(Long, Array[Double], Double)],
                   heaps: Array[_ <: BoundedK]): Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(PartialSchema)
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var qi = 0
    while (qi < heaps.length) {
      val qid = qs(qi)._1
      heaps(qi).foreach((s, id) =>
        out += proj(new GenericInternalRow(Array[Any](qid, id, s))).copy())
      qi += 1
    }
    out.iterator
  }

  /** @param qs (qid, query vector, precomputed ‖q‖) triples */
  def partials(rows: Iterator[InternalRow],
               qs: Array[(Long, Array[Double], Double)],
               k: Int, metric: String): Iterator[InternalRow] = {
    val heaps = Array.fill(qs.length)(new TopKPrim(k))
    // metric resolved to an int ONCE — no per-row×query string match
    // in the scan loop
    val mc = metric match { case "cosine" => 0; case "l2" => 1; case _ => 2 }
    rows.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val id = row.getLong(0)
        val arr = row.getArray(1)
        val n = arr.numElements()
        val v = new Array[Double](n)
        var i = 0
        while (i < n) { v(i) = arr.getDouble(i); i += 1 }
        var sqNa = 0.0
        if (mc == 0) {
          var na = 0.0; i = 0
          while (i < n) { na += v(i) * v(i); i += 1 }
          sqNa = math.sqrt(na)
        }
        var qi = 0
        while (qi < qs.length) {
          val (_, qv, qn) = qs(qi)
          val d = math.min(n, qv.length)
          var score = 0.0
          if (mc == 0) {
            var dot = 0.0; i = 0
            while (i < d) { dot += v(i) * qv(i); i += 1 }
            score = dot / (sqNa * qn)
          } else if (mc == 1) {
            var ss = 0.0; i = 0
            while (i < d) { val df = v(i) - qv(i); ss += df * df; i += 1 }
            score = 1.0 / (1.0 + ss)
          } else {
            var dot = 0.0; i = 0
            while (i < d) { dot += v(i) * qv(i); i += 1 }
            score = dot
          }
          heaps(qi).offer(score, id)
          qi += 1
        }
      }
    }
    emit(qs, heaps)
  }

  /** Partial bottom-k by RAW squared L2 distance — the kernel behind
    * the l2 SQL-shape rewrite (TopKRewrite): the SQL text emits
    * l2_sq's value and ranks it ASCENDING, so the partials must carry
    * the raw distance (the DataFrame l2 metric emits 1/(1+d²), a
    * different column value with the same ordering). BottomKPrim keeps
    * (d asc, id asc) — the row_number ORDER BY d ASC, id ASC rule. */
  def partialsL2Raw(rows: Iterator[InternalRow],
                    qs: Array[(Long, Array[Double], Double)],
                    k: Int): Iterator[InternalRow] = {
    val heaps = Array.fill(qs.length)(new BottomKPrim(k))
    rows.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val id = row.getLong(0)
        val arr = row.getArray(1)
        val n = arr.numElements()
        val v = new Array[Double](n)
        var i = 0
        while (i < n) { v(i) = arr.getDouble(i); i += 1 }
        var qi = 0
        while (qi < qs.length) {
          val qv = qs(qi)._2
          val d = math.min(n, qv.length)
          var ss = 0.0; i = 0
          while (i < d) { val df = v(i) - qv(i); ss += df * df; i += 1 }
          heaps(qi).offer(ss, id)
          qi += 1
        }
      }
    }
    emit(qs, heaps)
  }

  /** Blocked (GPU-shaped) cosine formulation of the same partial
    * top-k: corpus rows are staged into a dense row-major block
    * (block × dim flat Array[Double]) and each query streams over the
    * contiguous block — the loop structure a batched kernel (BLAS
    * GEMM / GPU matmul) wants, expressed in scalar JVM code. Bit-exact
    * with [[partials]]: same index-order double accumulation per
    * (row, query), same norms, same heap tie rule; rows whose length
    * differs from the query dim take the row-at-a-time path inside the
    * same call (ragged corpora can't block). It is THE cosine kernel
    * of [[scan]]: ~1.3× the row-at-a-time rate at 4M rows (SURVEY §6).
    *
    * Block size is ADAPTIVE by default (`block <= 0`): rows-per-block
    * targets a ~256 KB staged buffer (32768 doubles / dim, clamped to
    * [16, 1024]) so the block stays L2-resident at any dimension —
    * 512 rows at 64-d (the measured sweet spot), 32 at 1024-d where a
    * fixed 512 would stage 4 MB and thrash. Block size is staging
    * granularity only: each (row, query) dot is computed individually,
    * so results are bit-identical for every block value (spec'd);
    * `block` exists for that spec. */
  def autoBlock(dim: Int): Int =
    math.max(16, math.min(1024, 32768 / math.max(1, dim)))

  def partialsBlockedCosine(rows: Iterator[InternalRow],
                            qs: Array[(Long, Array[Double], Double)],
                            k: Int, block: Int = 0): Iterator[InternalRow] = {
    val nq = qs.length
    val heaps = Array.fill(nq)(new TopKPrim(k))
    val dim = if (nq > 0) qs(0)._2.length else 0
    val uniformQ = qs.forall(_._2.length == dim)
    val blk = if (block > 0) block else autoBlock(dim)
    val buf = new Array[Double](math.max(1, blk * dim))
    val ids = new Array[Long](blk)
    val nrm = new Array[Double](blk)
    var fill = 0
    def flush(): Unit = {
      var qi = 0
      while (qi < nq) {
        val qv = qs(qi)._2; val qn = qs(qi)._3; val h = heaps(qi)
        var r = 0
        while (r < fill) {
          val off = r * dim
          var dot = 0.0; var i = 0
          while (i < dim) { dot += buf(off + i) * qv(i); i += 1 }
          h.offer(dot / (nrm(r) * qn), ids(r))
          r += 1
        }
        qi += 1
      }
      fill = 0
    }
    // exact scalar path for rows that can't join a block
    def scalar(id: Long, v: Array[Double]): Unit = {
      val n = v.length
      var na = 0.0; var i = 0
      while (i < n) { na += v(i) * v(i); i += 1 }
      val sqNa = math.sqrt(na)
      var qi = 0
      while (qi < nq) {
        val qv = qs(qi)._2; val d = math.min(n, qv.length)
        var dot = 0.0; i = 0
        while (i < d) { dot += v(i) * qv(i); i += 1 }
        heaps(qi).offer(dot / (sqNa * qs(qi)._3), id)
        qi += 1
      }
    }
    rows.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val id = row.getLong(0)
        val arr = row.getArray(1)
        val n = arr.numElements()
        if (n == dim && dim > 0 && uniformQ) {
          val off = fill * dim
          var i = 0
          var na = 0.0
          while (i < dim) {
            val x = arr.getDouble(i); buf(off + i) = x; na += x * x; i += 1
          }
          nrm(fill) = math.sqrt(na)
          ids(fill) = id
          fill += 1
          if (fill == blk) flush()
        } else {
          val v = new Array[Double](n)
          var i = 0
          while (i < n) { v(i) = arr.getDouble(i); i += 1 }
          scalar(id, v)
        }
      }
    }
    flush()
    emit(qs, heaps)
  }
}

/** Multi-scale variant: ONE corpus pass keeps a bounded heap per
  * (scale, query), scoring every matryoshka truncation scale off
  * running-sum snapshots of the same dot/norm accumulation (reference
  * projection.py:222-263 `forward_multi_scale`). InternalRow-direct:
  * no Dataset encoder boxing on the corpus scan — the formulation
  * ScaleProbe measured 5-6× faster than the `Dataset.mapPartitions`
  * equivalent for the single-scale operator. */
case class MultiscaleTopKNode(
    child: LogicalPlan,
    queries: Seq[(Long, Seq[Double])],
    k: Int,
    scales: Seq[Int],
    output: Seq[Attribute] = MultiscaleTopKNode.freshOutput()) extends UnaryNode {
  // the exec's single-accumulation snapshot loop never rewinds between
  // scales — an unsorted caller would silently skip dimensions
  require(scales.nonEmpty && scales == scales.sorted &&
    scales.distinct.length == scales.length,
    s"scales must be strictly ascending, got ${scales.mkString(",")}")
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override def simpleString(maxFields: Int): String =
    s"MultiscaleTopKNode [${queries.length} queries, k=$k, scales=${scales.mkString("/")}]"
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

object MultiscaleTopKNode {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("dim", IntegerType, nullable = false)(),
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("vec_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

case class MultiscaleTopKExec(
    child: SparkPlan,
    out: Seq[Attribute],
    queries: Seq[(Long, Seq[Double])],
    k: Int,
    scales: Seq[Int]) extends UnaryExecNode {
  require(scales.nonEmpty && scales == scales.sorted &&
    scales.distinct.length == scales.length,
    s"scales must be strictly ascending, got ${scales.mkString(",")}")
  override def output: Seq[Attribute] = out
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(out)
  override def simpleString(maxFields: Int): String =
    s"MultiscaleTopK [${queries.length} queries, k=$k, scales=${scales.mkString("/")}]"
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val sc = scales.toArray // caller sorts ascending: prefix snapshots
    val qs = queries.map { case (id, v) =>
      val a = v.toArray
      (id, a, MultiscaleTopKExec.prefixNorms(a, sc))
    }.toArray
    val kk = k
    val schema = StructType(Seq(
      StructField("dim", IntegerType, nullable = false),
      StructField("qid", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    child.execute().mapPartitions { rows =>
      val nq = qs.length
      val ns = sc.length
      // heap for (scale si, query qi) at index si*nq + qi
      val heaps = Array.fill(ns * nq)(new TopKPrim(kk))
      // per-row scratch buffers reused across the whole partition —
      // 2 allocations per PARTITION instead of 2 per row
      var v: Array[Double] = null
      val nms = new Array[Double](ns)
      rows.foreach { row =>
        val id = row.getLong(0)
        val arr = row.getArray(1)
        val n = arr.numElements()
        if (v == null || v.length != n) v = new Array[Double](n)
        var i = 0
        while (i < n) { v(i) = arr.getDouble(i); i += 1 }
        MultiscaleTopKExec.prefixNormsInto(v, sc, nms)
        var qi = 0
        while (qi < nq) {
          val q = qs(qi)
          val qv = q._2
          val qnms = q._3
          // one accumulation, snapshot at each scale boundary
          var dot = 0.0
          var si = 0
          i = 0
          while (si < ns) {
            val d = sc(si)
            while (i < d) { dot += v(i) * qv(i); i += 1 }
            heaps(si * nq + qi).offer(dot / (nms(si) * qnms(si)), id)
            si += 1
          }
          qi += 1
        }
      }
      val proj = UnsafeProjection.create(schema)
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var hi = 0
      while (hi < heaps.length) {
        val dim = sc(hi / nq)
        val qid = qs(hi % nq)._1
        heaps(hi).foreach((s, id) =>
          out += proj(new GenericInternalRow(Array[Any](dim, qid, id, s))).copy())
        hi += 1
      }
      out.iterator
    }
  }
}

object MultiscaleTopKExec {
  /** ‖v[0..d)‖ for each scale d — snapshots of ONE running sum, the
    * identical left-assoc association the SQL twin unrolls. */
  def prefixNorms(v: Array[Double], sc: Array[Int]): Array[Double] = {
    val out = new Array[Double](sc.length)
    prefixNormsInto(v, sc, out)
    out
  }

  /** Allocation-free variant for the partition hot loop. */
  def prefixNormsInto(v: Array[Double], sc: Array[Int], out: Array[Double]): Unit = {
    var s = 0.0; var i = 0; var si = 0
    while (si < sc.length) {
      val d = sc(si)
      while (i < d) { s += v(i) * v(i); i += 1 }
      out(si) = math.sqrt(s)
      si += 1
    }
  }
}

object VectorTopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: MultiscaleTopKNode =>
      MultiscaleTopKExec(planLater(n.child), n.output, n.queries, n.k, n.scales) :: Nil
    case n: VectorTopKJoinNode =>
      VectorTopKJoinExec(planLater(n.queries), planLater(n.corpus), n.k, n.metric, n.output) :: Nil
    case _ => Nil
  }
}

/** The exact brute-force kNN operator — the reference's
  * `VectorIndex.search` / `search_batch` (vector_index.py:107-210) as
  * ONE logical/physical pair, [[VectorTopKJoinNode]] →
  * [[VectorTopKJoinExec]] (TopKRewrite.scala), planned through
  * `spark.experimental.extraStrategies`. The DataFrame entry point
  * below and the SQL rewrite plant the same node: its exec collects the
  * query side when it runs, scans the corpus once per
  * Knn.MaxBroadcastQueries-query chunk with bounded primitive heaps
  * (only partitions·q·k partial rows leave the scan), and a window
  * re-ranks the partials exactly. Filters and projections on either
  * side still push to their scans.
  */
object VectorTopK {
  /** Install the planner strategy (idempotent). */
  def install(spark: SparkSession): Unit = {
    val st = spark.experimental.extraStrategies
    if (!st.contains(VectorTopKStrategy))
      spark.experimental.extraStrategies = st :+ VectorTopKStrategy
  }

  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           metric: Knn.Metric = Knn.Cosine,
           idCol: String = "vec_id", vecCol: String = "embedding",
           qidCol: String = "vec_id", qvecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    install(spark)
    val sh = org.apache.spark.sql.graftshim.Shims
    val qPlan = sh.logicalPlan(queries.select(
      col(qidCol).cast("long").as("qid"), col(qvecCol).cast(ArrayType(DoubleType)).as("qv")))
    val cPlan = sh.logicalPlan(corpus.select(
      col(idCol).cast("long").as("vec_id"), col(vecCol).cast(ArrayType(DoubleType)).as("emb")))
    val metricName = metric match {
      case Knn.Cosine => "cosine"
      case Knn.L2 => "l2"
      case Knn.Ip => "ip"
    }
    val partials = sh.ofRows(spark,
      VectorTopKJoinNode(qPlan, cPlan, k, metricName, VectorTopKJoinNode.freshOutput()))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)
    partials.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }
}
