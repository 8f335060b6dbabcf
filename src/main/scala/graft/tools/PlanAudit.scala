package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Writes PLANS.md: physical-plan evidence for the scale-design claims
  * (predicate pushdown, column pruning, broadcast joins, whole-stage
  * codegen spans) straight from `.explain("formatted")` of the graded
  * queries. Sections it does not generate (hand-written notes) are
  * kept. Run: `graft.tools.Run plans`. */
object PlanAudit {
  val Audited: Seq[(String, String)] = Seq(
    "q6_forecast" -> "every predicate reaches the parquet scan; 4-column read schema",
    "knn_filtered" -> "metadata filter pushed BENEATH the custom VectorTopKJoin operator into the corpus scan",
    "q1_pricing" -> "date filter pushed; partial aggregation before the exchange",
    "q3_revenue_topn" -> "dimension broadcast; fact-fact join on the natural key",
    "q5_nation_revenue" -> "supplier/nation/region broadcast chain",
    "dedup_minhash_lsh" -> "candidate pairs broadcast into the verify join (hash arrays never shuffle)",
    "events_value_quantiles" -> "single window pass over the sorted type partitions",
    "text_tfidf" -> "vocabulary-sized document-frequency table broadcast",
    "events_layout" -> "day predicate prunes partition directories of the at-rest layout (PartitionFilters)",
    "vectorgen_source" -> "DSv2 source: vec_id range pushed into the generator, columns pruned at the connector",
    "multiscale_search" -> "ONE corpus pass scores all truncation scales: the custom InternalRow-direct MultiscaleTopK physical operator sits directly over the pruned parquet scan",
    "sql_pipeline" -> "SQL-text kNN rewritten by VectorTopKRewrite onto the VectorTopKJoin partial-top-k exec — the q×n cross join never materializes; query-side filter still pushed to the scan",
    "bpe_encode" -> "learned merges applied as literal replace calls inside the scan projection (codegen, no UDF); the per-doc aggregation is the only shuffle",
    "text_normalize" -> "NFC canonicalization is one codegen projection over the scan",
    "data_decontaminate" -> "held-out eval shingles broadcast; the training corpus streams through the join without shuffling text",
    "global_shuffle" -> "keyed permutation realized as a RANGE exchange (sampled bounds) — no single-reducer global sort",
    "index_save_load" -> "probes the reloaded at-rest layout through IvfIndex.probe: centroid PartitionFilters prune the scan, and the probe set and query vectors ride in the plan as literals — no exchange over a probe frame",
    "bm25_search" -> "serves the self-contained postings layout: NO documents scan anywhere in the plan (tokenize happened once at index build) and no df or dl table read — both ride in the postings rows; the 1-row corpus totals are read once into two literals; only the query-term side broadcasts",
    "hybrid_rrf" -> "both top-N-bounded rank lists broadcastable; dense side served by the VectorTopKJoin custom plan, sparse side by the postings layout",
    "multivector_maxsim" -> "query tokens ride the corpus scan as LITERAL cosine columns — no join, no pair explosion; both MaxSim reductions (per-slot max + written-order sum) in a single doc-keyed partial-agg exchange",
    "graph_pagerank" -> "iterative edge-rank joins over the cached pre-partitioned edge table; per-superstep plans stay one-join-one-aggregate deep",
    "multivector_maxsim_ivf" -> "routed candidates: probed-cell doc set from a broadcast centroid equi-join — the corpus-wide cross join never forms; exact scoring tail over candidates only",
    "bm25_delete" -> "merge-on-read: tombstones broadcast into an ANTI join inside the postings scan; df/dl/totals adjust by deletion-sized aggregates — no documents scan, no layout rewrite",
    "dedup_jaccard_prefix" -> "prefix-filtered exact all-pairs: wordcount-shaped postings/df/rank shuffles, candidate-bounded verify join — the quadratic pair scan and the lossy df cap both gone",
    "sketch_distinct_kmv" -> "bounded bottom-k aggregate partial-aggregates map-side (ObjectHashAggregate); only k longs per group cross the exchange",
    "events_interval_join" -> "banded range join planned as an EQUI-join on (user, bucket) — no BroadcastNestedLoop/Cartesian anywhere; 2× click replication replaces the per-user pair scan",
    "text_collocations" -> "global top-20 executes as TakeOrderedAndProject (per-partition partial top-k, never a single-partition sort); marginals derive from the one bigram-count aggregate",
    "q_cube" -> "all four grouping sets via ONE Expand + one partially-aggregated exchange — never four scans",
    "events_outliers" -> "3-long-per-group stats broadcast back; flagging is a codegen filter inside the scan stage",
    "graph_triangles" -> "degree-oriented wedge and closure stages are plain equi-joins — no nested loop, no cross product",
    "sketch_distinct_hll" -> "register grid partial-aggregates map-side; 64 (register, max-ρ) longs per group cross the exchange",
    "q19_disjunctive" -> "disjunctive-predicate join: ONE broadcast equi-join on the part key, the three OR'd branches a codegen post-join filter — no nested loop",
    "q21_waiting" -> "double-correlated subqueries as left-semi + left-anti self-joins on the fact's natural key; supplier dim broadcast",
    "q22_global" -> "scalar positive-balance aggregate broadcast as one row; urgent-order anti join; the average compared by integer cross-multiply inside the scan filter",
    "cluster_topics" -> "ONE tokenize pass; (centroid, term) count is the only corpus-sized exchange; per-cluster token totals and the corpus scalar broadcast",
    "text_rake" -> "phrase assembly = one gaps-and-islands window keyed by doc_id; word-score table broadcast into the distinct-phrase join; top-20 as TakeOrderedAndProject",
    "events_drift" -> "2-long ts-span aggregate broadcast back (map-only window split); per-type totals broadcast into the bucket join",
    "events_ntile" -> "one window pass per type partition; output dimension-bounded at |types|·10",
    "graph_link_predict" -> "middle-node wedge join and edge anti-join are plain equi-joins (hub middles above LinkMiddleCap leave by a broadcast anti-join before wedge generation); top-20 as TakeOrderedAndProject",
    "ivfpq_coded (rerank)" -> "the k·refine candidates broadcast onto the centroid-pruned float scan and rerank through Knn.rerank; no SortMergeJoin anywhere in the plan",
    "dedup_lsh_tradeoff" -> "truth side = prefix-filtered postings self-join (each doc indexes only its rarest half): a stop-shingle's df-squared pair melt never enters candidate generation; verify is a candidate-bounded join with a single merge-pass intersection per pair; band bucket keys are 63-bit md5 longs of the lane-ordered signature slice (round 12 — one long per (doc, band) crosses the bucket exchange instead of an r-lane decimal string)")

  /** Markers a key's excerpt adds to the common set below: plan lines
    * that are its heading's evidence but would be noise elsewhere. */
  private val ExtraMarkers: Map[String, Seq[String]] = Map(
    "global_shuffle" -> Seq("rangepartitioning"))

  def run(spark: SparkSession): Unit = {
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (generated by `graft.tools.Run plans`)\n\n")
    sb.append("Excerpts from `.explain(\"formatted\")` at sf0.001 backing the SURVEY §4 ")
    sb.append("scale claims: filters/pruning reach the scans, dimension sides broadcast, ")
    sb.append("hot paths stay inside WholeStageCodegen.\n")
    val sections = Seq.newBuilder[String]
    def section(heading: String, lines: Seq[String]): Unit =
      sections += s"## $heading\n\n```\n" + lines.map(_ + "\n").mkString + "```\n"
    Audited.foreach { case (name, why) =>
      // "key (part)": a heading on one part of key's plans
      val key = name.takeWhile(_ != ' ')
      section(s"$name — $why", excerptOf(plansOf(spark, key, sf), (Seq(
        "PushedFilters", "ReadSchema", "BroadcastHashJoin", "BroadcastExchange",
        "WholeStageCodegen", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "PartitionFilters", "VectorGenScan", "MultiscaleTopK", "VectorTopK",
        "ObjectHashAggregate") ++ ExtraMarkers.getOrElse(key, Nil)): _*))
    }
    // ivfpq_coded's candidate stage alone, over a coded layout written
    // here: the graded entry's excerpt above mixes the ADC scan with the
    // rerank and the layout write, so the scan gets a section of its own.
    locally {
      val emb = graft.Tables.load(spark, sf, "embeddings")
      val model = graft.operators.IvfPq.modelFor(spark, sf)
      graft.Mat.withScratchDirs("plans_pq_coded") { case Seq(dir) =>
        graft.operators.IvfPq.writeCodedPqLayout(emb, model, dir)
        import spark.implicits._
        val probeDf = Seq((0L, 0, Seq.fill(model.cb.m)(Seq.fill(16)(0.0))))
          .toDF("qid", "centroid", "lut")
        val plan = graft.operators.IvfPq
          .pqCodedCandidates(spark.read.parquet(dir), probeDf, Seq(0, 1))
        section("ivfpq_coded (candidate stage) — ADC scan reads (vec_id, code) only inside probed partitions; the float column never decodes",
          excerpt(plan, "PartitionFilters", "ReadSchema", "BroadcastHashJoin",
            "WholeStageCodegen").map(atLayout(dir)))
      }
    }
    // ivf_centroid_refresh's graded entry also detaches (scratch layout
    // deleted) — audit the read-side seam over a persisted layout: the
    // deterministic per-cell fold is the only exchange; codebook and
    // scalar total broadcast.
    locally {
      val emb = graft.Tables.load(spark, sf, "embeddings")
      val cents = graft.operators.IvfIndex.centroidsFor(spark, sf, 16)
      graft.Mat.withScratchDirs("plans_refresh") { case Seq(dir) =>
        graft.operators.IvfIndex.assign(emb, cents)
          .write.partitionBy("centroid").mode("overwrite").parquet(dir)
        val plan = graft.operators.IvfIndex
          .refreshFromLayout(spark.read.parquet(dir), cents)
        section("ivf_centroid_refresh (read-side) — per-cell mean folds in ObjectHashAggregate after ONE centroid exchange; codebook and scalar total broadcast (the only nested-loop is the 1-row total cross)",
          excerpt(plan, "PartitionFilters", "ReadSchema", "BroadcastHashJoin",
            "BroadcastExchange", "ObjectHashAggregate", "WholeStageCodegen",
            "BroadcastNestedLoopJoin").map(atLayout(dir)))
      }
    }
    // serve_e2e's graded entry collects each request stage, so audit the
    // two stage plans (and the online-terms stage 1) over the at-rest
    // serve layouts: an operator census, then every scan's read facts.
    locally {
      import graft.operators.ServeE2e
      // explained before they run: an executed adaptive plan would show
      // its final and initial plans both
      def stage(heading: String, df: DataFrame): Unit = section(heading,
        census(df) ++ Seq("") ++ excerpt(df, "PushedFilters", "PartitionFilters", "ReadSchema"))
      val (idx, probes, qv, _) = ServeE2e.warmAndRoute(spark, sf)
      val fused = ServeE2e.fusedList(spark, idx, probes, qv)
      stage("serve_e2e (stage 1) — retrieval with off-index terms: no documents scan; code-only dense candidates inside probed partitions", fused)
      stage("serve_e2e (stage 2) — bounded MMR point-read: one id-sorted layout scan with the fused ids pushed",
        ServeE2e.mmrOverFetched(spark, idx.embById, fused.collect()))
      stage("serve_e2e_online (stage 1) — the request's own terms replace the query-term derivation; the one postings scan carries the pushed word set, and no df, dl or tot table is read",
        ServeE2e.fusedListOnline(spark, idx, probes, qv, ServeE2e.onlineTermsFor(idx)))
    }
    val path = Paths.get("PLANS.md")
    val existing = if (Files.exists(path)) Files.readString(path) else ""
    Files.writeString(path, merge(existing, sb.toString, sections.result()))
    println(s"[plans] wrote PLANS.md (${Audited.size + 5} plans)")
  }

  /** The distinct trimmed lines of `df`'s formatted plan that contain
    * one of `markers`. */
  private def excerpt(df: DataFrame, markers: String*): Seq[String] =
    excerptOf(Seq(df.queryExecution.explainString(FormattedMode)), markers: _*)

  /** The distinct trimmed lines of `plans` that contain one of
    * `markers`, with the session counters a rerun renumbers — expression
    * ids (`h#1270`, `id#7L`) and exchange `[plan_id=…]` tags — stripped,
    * so a regenerated excerpt of an unchanged plan is unchanged. A
    * PushedFilters line is data-source filters, which name columns
    * without ids, so a `#` there belongs to a value (`Brand#11`) and
    * stays. */
  private[graft] def excerptOf(plans: Seq[String], markers: String*): Seq[String] =
    plans.flatMap(_.linesIterator)
      .filter(l => markers.exists(l.contains)).map(_.trim)
      .map(l => if (l.startsWith("PushedFilters")) l
        else l.replaceAll("#\\d+L?", "").replaceAll(",? ?\\[plan_id=\\d+\\]", ""))
      .distinct

  /** Key `name`'s formatted plans: those of the actions it runs while
    * it is built — a key that materializes or detaches its result runs
    * its real plan there and returns one that only scans the result —
    * then its DataFrame's. The key is built once beforehand, so a
    * catalog build it shares with other keys is not charged to it. */
  private def plansOf(spark: SparkSession, name: String, sf: String): Seq[String] = {
    val build = graft.SparkEntry.queries(name)
    build(spark, sf)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.add(qe.explainString(FormattedMode))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val df = try {
      val built = build(spark, sf)
      org.apache.spark.sql.graftshim.Shims.waitListenerBusEmpty(spark.sparkContext, 60000L)
      built
    } finally spark.listenerManager.unregister(l)
    ran.asScala.toSeq.sorted :+ df.queryExecution.explainString(FormattedMode)
  }

  /** Names a scratch layout dir by role, so an excerpt is rerun-stable. */
  private def atLayout(dir: String)(line: String): String =
    line.replaceAll(java.util.regex.Pattern.quote(dir), "<layout>")

  /** Operator counts of `df`'s physical plan, most frequent first: one
    * `(id) Operator` detail header per plan node in the formatted explain. */
  private[graft] def census(df: DataFrame): Seq[String] = {
    val node = """\(\d+\) ([A-Za-z][A-Za-z ]*?)\s*(?:\[.*\])?""".r
    df.queryExecution.explainString(FormattedMode).linesIterator
      .collect { case node(op) => op }.toSeq
      .groupBy(identity).toSeq
      .sortBy { case (op, ns) => (-ns.size, op) }
      .map { case (op, ns) => f"${ns.size}%3d $op" }
  }

  /** `header`, then `generated` (each a `## heading` section), then every
    * section of `existing` whose name no generated section carries,
    * verbatim and in its order. A section's name is its heading up to
    * " — "; a `## ` line inside a code fence is not a heading. */
  private[graft] def merge(existing: String, header: String, generated: Seq[String]): String = {
    val blocks = scala.collection.mutable.ArrayBuffer(new StringBuilder)
    var fenced = false
    existing.linesWithSeparators.foreach { l =>
      if (!fenced && l.startsWith("## ")) blocks += new StringBuilder
      if (l.startsWith("```")) fenced = !fenced
      blocks.last ++= l
    }
    def name(section: String): String =
      section.linesIterator.next().stripPrefix("## ").split(" — ", 2)(0).trim
    val ours = generated.map(name).toSet
    val kept = blocks.tail.map(_.toString).filterNot(b => ours(name(b)))
      .map(_.reverse.dropWhile(_ == '\n').reverse + "\n")
    header + (generated ++ kept).map("\n" + _).mkString
  }
}
