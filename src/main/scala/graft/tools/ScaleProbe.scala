package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Knn}

/** Dev scale probe: exercises the vector operators on a synthetic
  * corpus ~500× the sf0.1 testdata (1M × 64-d) to sanity-check the
  * scan-throughput story on one node. Vectors derive from splitmix64
  * of the row id — no data files, fully deterministic.
  * Usage: graft.tools.Run scale <n> [probe...]; each probe name is a
  * substring filter over the probes to run (none: all of them).
  */
object ScaleProbe {
  def run(spark: SparkSession, n: Long, only: Seq[String]): Unit = {
    def wanted(name: String): Boolean = only.isEmpty || only.exists(name.contains)
    import spark.implicits._

    // the DSv2 source (graft.sources.VectorGen) generates the corpus —
    // same splitmix64 formula, read through the connector stack
    val corpus = spark.read.format("graft.sources.VectorGen")
      .option("n", n).option("dim", 64).option("partitions", 64).load()
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true) // materialize so timings measure the operator, not generation

    val queries = corpus.filter(col("vec_id") < 16)

    def time(name: String)(f: => Any): Unit = if (wanted(name)) {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name: $s%.2f s (${n / s / 1e6}%.1f M rows/s)")
    }

    // PQ training rows: the first 100k corpus vectors as doubles.
    def trainRows(): Array[Array[Double]] = corpus.selectExpr("cast(embedding as array<double>)")
      .limit(100000).collect().map(_.getSeq[Double](0).toArray)
    // Each query's result ids, and their recall@10 against exact ids.
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSet }
    def recall(got: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
      exact.keys.toSeq.map(q => got.getOrElse(q, Set.empty).intersect(exact(q)).size / 10.0).sum / exact.size
    // The text probes' corpus: `nDocs` (doc_id, text) docs of 100
    // words, word j of doc `id` drawn by the SQL expression `word`.
    def wordDocs(nDocs: Long, word: String): org.apache.spark.sql.DataFrame =
      spark.range(nDocs).select(col("id").as("doc_id"),
        array_join(expr(s"transform(sequence(0, 99), j -> $word)"), " ").as("text"))
        .repartition(64).localCheckpoint(true)

    // The graph probes' synthetic graph: `nodes` nodes × `deg` hashed
    // out-edges each; pagerank and hits keep the self-loops the hash
    // draws, the other graph probes drop them.
    val deg = 10
    def hashGraph(nodes: Long, selfLoops: Boolean): org.apache.spark.sql.DataFrame = {
      val edges = spark.range(nodes).select(col("id").as("src"),
          explode(expr(s"transform(sequence(0, ${deg - 1}), j -> " +
            s"pmod(hash(id * 31 + j * 7), ${nodes}L))")).as("dst"))
      (if (selfLoops) edges else edges.filter(col("src") =!= col("dst")))
        .repartition(32).localCheckpoint(true)
    }

    time("brute-force kNN k=10, 16 queries")(
      Knn.topK(corpus, queries, 10, Knn.Cosine).count())
    time("IVF build (nlist=64, sample 100k) + probe 4")(
      IvfIndex.search(corpus, queries, 10, nlist = 64, nprobe = 4)._1.count())
    time("PQ-ADC search (m=8, k=256, refine 4)")({
      val sample = trainRows()
      val cb = graft.operators.ProductQuant.train(sample, m = 8, k = 256)
      graft.operators.ProductQuant.adcSearch(corpus, queries, cb, 10).count()
    })
    time("IVF-PQ search (nlist=64, m=8, k=16, probe 4, refine 4)")({
      val sample = trainRows()
      val mdl = graft.operators.IvfPq.trainModel(sample, nlist = 64)
      graft.operators.IvfPq.search(corpus, queries, 10, mdl).count()
    })
    // Substring dedup at ~400× the sf0.1 corpus: 200k docs × 100
    // tokens = 20M tokens → ~18.6M position-shingled windows shuffling
    // as longs. Every 20th doc carries the same planted 16-token span
    // (10k-occurrence hash groups exercise the hot-group path); the
    // rest of the vocabulary (hash of doc×101+j mod 50k) makes
    // incidental 8-gram collisions negligible.
    if (wanted("substring")) {
      val nDocs = 200000L
      val tPerDoc = 100
      val docs = wordDocs(nDocs, """CASE WHEN id % 20 = 0 AND j BETWEEN 10 AND 25 THEN concat('d', j)
        |ELSE concat('w', pmod(hash(id * 101 + j), 50000)) END""".stripMargin)
      val t0 = System.nanoTime()
      val covered = graft.operators.Dedup
        .duplicatedSpans(docs, "doc_id", "text")
        .filter(col("dup_tokens") > 0).count()
      val s = (System.nanoTime() - t0) / 1e9
      val mtok = nDocs * tPerDoc / s / 1e6
      println(f"[scale] substring dedup (200k docs × 100 tok): $s%.2f s ($mtok%.1f M tokens/s, $covered docs covered)")
    }
    // BPE encode at a real vocabulary size: train ≥1k merges on a
    // synthetic 20k-word dictionary (driver-side, bounded), segment the
    // distinct words through the bounded-depth batched chain, then
    // encode a corpus-sized word stream via the broadcast (word, toks)
    // join — the shape where expression depth does NOT grow with merge
    // count on the corpus pass.
    if (wanted("bpe")) {
      val dictWords = Array.tabulate(20000) { i =>
        // deterministic pseudo-words, 6-12 chars, skewed freq
        val h = java.lang.Long.rotateLeft(i.toLong * 0x9e3779b97f4a7c15L, 17)
        val len = 6 + (math.abs(h) % 7).toInt
        val w = (0 until len).map(j =>
          ('a' + (math.abs(java.lang.Long.rotateLeft(h, j * 5)) % 26).toInt).toChar)
          .mkString
        (w, (20000 - i).toLong)
      }.distinctBy(_._1)
      val t0 = System.nanoTime()
      val merges = graft.operators.Bpe.trainMerges(dictWords, 1200).map(t => (t._2, t._3))
      val tTrain = (System.nanoTime() - t0) / 1e9
      val wordsDf = dictWords.map(_._1).toSeq.toDF("word").repartition(32)
      val t1 = System.nanoTime()
      val segged = graft.operators.Bpe.encodeDistinctWords(wordsDf, merges)
        .localCheckpoint(true)
      val tSeg = (System.nanoTime() - t1) / 1e9
      // corpus pass: n word occurrences drawn from the dictionary,
      // token counts via broadcast join — no merge chain anywhere
      val t2 = System.nanoTime()
      val total = spark.range(n)
        .select(element_at(typedlit(dictWords.map(_._1).toSeq),
          (pmod(col("id"), lit(dictWords.length.toLong)) + 1).cast("int")).as("word"))
        .join(broadcast(segged), "word")
        .agg(sum("toks")).collect()(0).getLong(0)
      val tJoin = (System.nanoTime() - t2) / 1e9
      println(f"[scale] bpe: ${merges.length} merges trained in $tTrain%.2f s; " +
        f"20k distinct words segmented in $tSeg%.2f s (batched chain); " +
        f"$n%d-word corpus encoded in $tJoin%.2f s (${n / tJoin / 1e6}%.1f M words/s, $total tokens)")
    }
    time("multiscale custom plan (scales 8/16/32/64, k=10, 16 queries, ONE pass)")(
      graft.operators.Multiscale.topKAllScales(corpus, queries, 10, Seq(8, 16, 32, 64)).count())
    time("multiscale baseline: 4 per-scale Dataset-mapPartitions passes")(
      Seq(8, 16, 32, 64).foreach { d =>
        val sl = corpus.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
        Knn.topK(sl, sl.filter(col("vec_id") < 16), 10, Knn.Cosine).count()
      })
    time("per-bucket NSW graphs + IVF routing (nlist=64, probe 4)")(
      graft.operators.HnswAnn.hnswSearch(corpus, queries, 10, nlist = 64).count())
    // Recall-vs-cost table at scale for the HNSW variants (the §6
    // datapoint the spill/multiprobe operators lacked — graded runs sit
    // at sf0.001/0.01 where buckets are tiny). At 1M/nlist=64 every
    // bucket holds ~15k rows ≥ ef, so the spill continuation rule never
    // fires by design: its scale cost is ONE nlist-row size aggregate +
    // the probe-rank rule, and its probe set must equal the base. The
    // recall lift at scale comes from multiprobe (entry diversity), at
    // ~nEntries× beam cost in the same buckets.
    if (wanted("hnswtable")) {
      import graft.operators.HnswAnn
      val k = 10
      val exact = hits(Knn.topK(corpus, queries, k))
      val centroids = IvfIndex.trainCentroids(IvfIndex.trainSample(corpus), 64, 10)
      val sizes = IvfIndex.assign(corpus, centroids)
        .groupBy("centroid").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val qRows = queries.selectExpr("vec_id", "cast(embedding as array<double>)")
        .as[(Long, Seq[Double])].collect().map { case (id, v) => (id, v.toArray) }
      val spillP = qRows.map { case (qid, v) =>
        qid -> HnswAnn.spillProbes(centroids, sizes, v)
      }.toMap
      val baseP = qRows.map { case (qid, v) =>
        qid -> IvfIndex.nearestN(centroids, v, HnswAnn.NProbe)
      }.toMap
      val avgSpill = spillP.values.map(_.length).sum.toDouble / spillP.size
      println(f"[scale] hnsw probes/query: base=${HnswAnn.NProbe} spill=$avgSpill%.1f " +
        s"(equal=${spillP.forall { case (q, p) => p.sameElements(baseP(q)) }}: " +
        "healthy buckets ⇒ continuation off)")
      def row(name: String, nEntries: Int, probes: Map[Long, Array[Int]]): Unit = {
        val t0 = System.nanoTime()
        val got = hits(HnswAnn.hnswSearch(corpus, queries, k, nlist = 64,
            centroidsOpt = Some(centroids), nEntries = nEntries, probesOverride = probes))
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[scale] hnsw table | $name%-28s | recall@$k=${recall(got, exact)}%.3f | $s%.2f s")
      }
      row("base (probe 4)", 1, baseP)
      row("spill continuation", 1, spillP)
      row("multiprobe (3 entries)", 3, baseP)
    }

    // Binary-quantized scan: candidates by XOR+popcount Hamming, exact
    // cosine only on accumulator-accepted rows. Same single corpus
    // pass as the exact scan — the win is the cheap per-row kernel.
    // R is the recall knob for 64-bit codes: Hamming values plateau
    // (integers 0..64), so at large n thousands of rows tie near the
    // top and a small R picks arbitrarily among them — R must grow
    // with n. The sweep shows the recall-vs-cost curve; the exact scan
    // is the 1.0-recall reference.
    if (wanted("binary")) {
      val exact = hits(Knn.topK(corpus, queries, 10))
      Seq(40, 400, 4000).foreach { r =>
        time(s"binary-quantized kNN (hamming top-$r + exact rerank), 16 queries")(
          graft.operators.BinaryQuant.binaryTopK(corpus, queries, 10, r).count())
        val got = hits(graft.operators.BinaryQuant.binaryTopK(corpus, queries, 10, r))
        println(f"[scale] binary kNN R=$r recall@10 vs exact: ${recall(got, exact)}%.3f")
      }
      // at-rest two-stage: candidate scan over the materialized code
      // column only (8B+id per row), rerank via broadcast join-back —
      // code materialization outside the timer, like any at-rest index
      if (wanted("binary")) {
        val coded = graft.operators.BinaryQuant.codes(corpus).localCheckpoint(true)
        Seq(40, 400).foreach { r =>
          time(s"asym binary CODED scan (top-$r + join-back rerank), 16 queries")(
            graft.operators.BinaryQuant.asymTopKCoded(coded, corpus, queries, 10, r).count())
        }
      }
      // composed IVF routing × 1-bit asym scan × exact rerank: the
      // candidate read at rest is (nprobe/nlist)·(1/64) of brute force
      if (wanted("binary")) {
        val centroids = IvfIndex.trainCentroids(IvfIndex.trainSample(corpus), 64, 10)
        Seq(400).foreach { r =>
          time(s"ivf_binary (nlist=64, probe 4, asym top-$r, exact rerank), 16 queries")(
            graft.operators.BinaryQuant.ivfBinaryOn(corpus, queries, centroids, 10, r, 4).count())
          val got = hits(graft.operators.BinaryQuant.ivfBinaryOn(corpus, queries, centroids, 10, r, 4))
          println(f"[scale] ivf_binary R=$r recall@10 vs exact: ${recall(got, exact)}%.3f")
        }
      }
      // asymmetric variant: double scores → no tie plateau → small R
      Seq(40, 400).foreach { r =>
        time(s"asym binary kNN (byte-LUT top-$r + exact rerank), 16 queries")(
          graft.operators.BinaryQuant.asymTopK(corpus, queries, 10, r).count())
        val got = hits(graft.operators.BinaryQuant.asymTopK(corpus, queries, 10, r))
        println(f"[scale] asym binary kNN R=$r recall@10 vs exact: ${recall(got, exact)}%.3f")
      }
    }

    // At-rest coded index: codes persisted IN the centroid-partitioned
    // layout; the candidate stage reads only (vec_id, code) inside the
    // probed partitions (explicit PartitionFilters + parquet column
    // pruning), rerank joins back to the float column. In-memory twin
    // runs the same parameters for the delta.
    if (wanted("codedrest")) {
      val centroids = IvfIndex.trainCentroids(IvfIndex.trainSample(corpus), 64, 10)
      graft.Mat.withScratchDirs("codedrest") { case Seq(dir) =>
        time("codedrest layout WRITE (assign + sign-code, partitionBy centroid)")(
          graft.operators.BinaryQuant.writeCodedLayout(corpus, centroids, dir))
        val loaded = spark.read.parquet(dir)
        Seq(400).foreach { r =>
          // run each probe twice: first pair is JIT/IO warmup
          for (pass <- 1 to 2) {
            time(s"codedrest AT-REST probe pass$pass (nlist=64, probe 4, top-$r, rerank), 16 queries")(
              graft.operators.BinaryQuant
                .ivfBinaryCodedProbe(loaded, queries, centroids, 10, r, 4).count())
            time(s"codedrest IN-MEMORY twin pass$pass (same params)")(
              graft.operators.BinaryQuant
                .ivfBinaryOn(corpus, queries, centroids, 10, r, 4).count())
          }
        }
      }
    }

    // At-rest IVF-PQ coded index (round 9): m-byte residual codes
    // persisted in the centroid-partitioned layout, ADC candidate scan
    // reads (vec_id, codes) only, rerank joins back to floats.
    // In-memory twin for the delta.
    if (wanted("pqcodedrest")) {
      val sample = trainRows()
      val mdl = graft.operators.IvfPq.trainModel(sample, nlist = 64)
      graft.Mat.withScratchDirs("pqcodedrest") { case Seq(dir) =>
        time("pqcodedrest layout WRITE (assign + residual-PQ encode, partitionBy centroid)")(
          graft.operators.IvfPq.writeCodedPqLayout(corpus, mdl, dir))
        val loaded = spark.read.parquet(dir)
        for (pass <- 1 to 2) { // first pair is JIT/IO warmup
          time(s"pqcodedrest AT-REST probe pass$pass (nlist=64, probe 4, refine 4), 16 queries")(
            graft.operators.IvfPq.ivfpqCodedProbe(loaded, queries, mdl, 10).count())
          time(s"pqcodedrest IN-MEMORY twin pass$pass (same params)")(
            graft.operators.IvfPq.search(corpus, queries, 10, mdl).count())
        }
      }
    }

    // BM25 + RRF hybrid at ~40x the sf0.1 corpus: 200k docs x 100
    // tokens = 20M tokens of zipf-ish vocabulary (hash mod 50k), 10
    // query docs. The corpus-sized stages are the tokenize/tf pass and
    // the postings join; everything else is broadcast.
    if (wanted("bm25")) {
      val nDocs = 200000L
      val docs = wordDocs(nDocs, "concat('w', pmod(hash(id * 131 + j * 7), 50000))")
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val rows = graft.operators.Bm25.bm25TopN(docs, 10).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[scale] bm25 ONE-SHOT pass$pass: 200k docs / 20M tokens, top-10 x 10 queries: " +
          f"$s%.2f s ($rows rows, ${nDocs * 100 / s / 1e6}%.1f M tokens/s)")
      }
      // build-once / query-many: the at-rest postings layout
      graft.Mat.withScratchDirs("bm25_postings") { case Seq(dir) =>
        val t0 = System.nanoTime()
        graft.operators.Bm25.writePostingsLayout(docs, dir)
        println(f"[scale] bm25 postings BUILD (tokenize once, tf/dl/df/tot at rest): " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        val qterms = spark.read.parquet(s"$dir/tf")
          .filter(col("doc_id") < 10)
          .select(col("doc_id").as("qid"), col("word"))
          .localCheckpoint(true) // query side: tiny, pre-resolved
        for (pass <- 1 to 2) {
          val t1 = System.nanoTime()
          val rows = graft.operators.Bm25.bm25OverPostings(spark, dir, qterms, 10).count()
          println(f"[scale] bm25 SERVE pass$pass over postings: " +
            f"${(System.nanoTime() - t1) / 1e9}%.2f s ($rows rows)")
        }
        // the online short-query shape: terms known at the driver push
        // into the word-sorted postings as an In filter — row-group
        // stats prune the scan to the queried vocabulary slice
        val shortQs = (0L until 16L).map(q => (q,
          Seq(s"w${q * 997 % 50000}", s"w${q * 1499 % 50000}", s"w${q * 2003 % 50000}")))
        for (pass <- 1 to 2) {
          val t2 = System.nanoTime()
          val rows = graft.operators.Bm25
            .bm25ServeTerms(spark, dir, shortQs, 10).count()
          println(f"[scale] bm25 SERVE pass$pass 16 short queries (3 terms, In-pushed, " +
            f"row-group pruned): ${(System.nanoTime() - t2) / 1e9}%.2f s ($rows rows)")
        }
      }
    }

    // Late-interaction MaxSim over the same corpus read as token
    // groups (n/4 docs x 4 token vectors, 3 query docs = 12 broadcast
    // query tokens): one corpus scan, 12 codegen cosines per token
    // row, one (qid, doc)-keyed aggregate.
    time("multivector maxsim (n/4 docs x 4 slots, 3 query docs)")(
      graft.operators.MultiVector.maxsimOverEmb(corpus).count())
    time("multivector maxsim CODED tier (sign-bit candidates + exact rerank)")(
      graft.operators.MultiVector.maxsimCodedOverEmb(corpus).count())

    // PageRank iteration loop at n nodes x 10 out-edges (hash-derived
    // synthetic graph): 5 iterations of edge-rank join + dst aggregate.
    if (wanted("pagerank")) {
      val edges = hashGraph(n, selfLoops = true)
      val t0 = System.nanoTime()
      graft.operators.GraphRank.pagerankOverEdges(edges, deg).count()
      println(f"[scale] pagerank 5 iters over ${n / 1e6}%.0fM nodes x $deg edges: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // Sparse-index deletion: merge-on-read serve overhead vs the plain
    // postings serve, then compaction cost and the compacted serve.
    if (wanted("bm25del")) {
      val nDocs = 200000L
      val docs = wordDocs(nDocs, "concat('w', pmod(hash(id * 131 + j * 7), 50000))")
      graft.Mat.withScratchDirs("bm25del_idx", "bm25del_cmp") { case Seq(dir, cmp) =>
        graft.operators.Bm25.writePostingsLayout(docs, dir)
        val qterms = spark.read.parquet(s"$dir/tf")
          .filter(col("doc_id") < 10)
          .select(col("doc_id").as("qid"), col("word")).localCheckpoint(true)
        // tombstone 1% of docs (the realistic takedown-batch shape)
        graft.operators.Bm25.writeTombstones(spark, dir,
          docs.filter(col("doc_id") % 100 === 37 && col("doc_id") >= 10)
            .select("doc_id"))
        for (pass <- 1 to 2) {
          val t0 = System.nanoTime()
          graft.operators.Bm25.bm25OverPostings(spark, dir, qterms, 10).count()
          val plain = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          graft.operators.Bm25.bm25OverPostingsLive(spark, dir, qterms, 10).count()
          val mor = (System.nanoTime() - t1) / 1e9
          println(f"[scale] bm25del pass$pass serve plain $plain%.2f s vs " +
            f"merge-on-read (1%% tombstoned) $mor%.2f s")
        }
        val t2 = System.nanoTime()
        graft.operators.Bm25.compactTombstones(spark, dir, cmp)
        println(f"[scale] bm25del COMPACT (anti-join rewrite + stats rebuild): " +
          f"${(System.nanoTime() - t2) / 1e9}%.2f s")
        val t3 = System.nanoTime()
        graft.operators.Bm25.bm25OverPostingsLive(spark, cmp, qterms, 10).count()
        println(f"[scale] bm25del serve post-compaction: ${(System.nanoTime() - t3) / 1e9}%.2f s")
      }
    }

    time("PQ-ADC adaptive refine (m=8, k=16, alpha 0.25, cap k*8)")({
      val sample = trainRows()
      val cb = graft.operators.ProductQuant.train(sample, m = 8, k = 16)
      graft.operators.ProductQuant.adcSearchAdaptive(corpus, queries, cb, 10).count()
    })
    // Prefix-filtered exact Jaccard all-pairs at 200k docs × 32 tokens,
    // with TWO universal stop shingles in every doc (the df² melt case:
    // an uncapped postings co-occurrence would be 200k²/2 = 2·10¹⁰ pair
    // events off the stop shingles alone — the shape that used to force
    // dedup_ngram_jaccard's lossy df cap, retired round 12) and a
    // planted near-dup per 10 docs. The prefix join is exact with no
    // cap — stop shingles never enter any doc's rarity prefix, so
    // candidates track dup density, not token skew.
    if (wanted("jaccard")) {
      val nDocs = 200000L
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        lit("s").as("source"),
        concat(lit("za zb zc zd "), array_join(expr(
          """transform(sequence(0, 27), j ->
            |  CASE WHEN id % 10 = 1 AND j < 27
            |       THEN concat('w', pmod(hash((id - 1) * 37 + j), 300000))
            |       ELSE concat('w', pmod(hash(id * 37 + j), 300000)) END)"""
            .stripMargin), " ")).as("text"))
        .repartition(64).localCheckpoint(true)
      val t0 = System.nanoTime()
      val nPfx = graft.operators.TextOps.jaccardPrefixPairs(docs).count()
      val sPfx = (System.nanoTime() - t0) / 1e9
      println(f"[scale] jaccard prefix-join (200k docs, 2 stop shingles): " +
        f"$sPfx%.2f s, $nPfx pairs (exact, no cap)")
    }
    // KMV distinct sketch vs count(DISTINCT): 50M rows, 32 groups,
    // (almost) all values distinct — the regime that matters at 100 TB,
    // where map-side partial dedup buys count(DISTINCT) nothing and it
    // must shuffle every (group, value) pair; the sketch still shuffles
    // 64 longs per group per partition.
    if (wanted("kmv")) {
      val rows = spark.range(50000000L).select(
        pmod(col("id"), lit(32L)).as("g"),
        xxhash64(col("id")).as("v"))
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      // hash in a codegen projection; the agg child is a bound column
      // (the graded operator does the same — the imperative update then
      // only does the O(1) bottom-k insert/reject per row)
      rows.select(col("g"), shiftrightunsigned(xxhash64(col("v")), 1).as("h"))
        .groupBy("g").agg(graft.functions.KmvOps.kmvBottomK(col("h"), 64).as("bk"))
        .count()
      println(f"[scale] kmv sketch (50M rows, 32 groups): ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val t1 = System.nanoTime()
      rows.groupBy("g").agg(countDistinct("v")).count()
      println(f"[scale] count(DISTINCT)    (same input): ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
    // Z-order 2-D pruning at 20M events: write the z layout and a
    // ts-sorted layout (64 files each), run the same (user band × time
    // band) slice on both, compare scanned rows via the file-source
    // metrics. The z layout should read a small fraction of files/rows;
    // the ts sort prunes time but reads every user.
    if (wanted("zorder")) {
      val nEv = 20000000L
      val ev = spark.range(nEv).select(
        pmod(xxhash64(col("id")), lit(10000L)).as("user_id"),
        (col("id") * 1000L).as("ts"))
        .localCheckpoint(true)
      val u8 = "((user_id * 256) div 10000)"
      val t8 = s"(((ts) * 256) div ${nEv * 1000L})"
      graft.Mat.withScratchDirs("probe_z", "probe_t") { case Seq(zd, td) =>
        val t0 = System.nanoTime()
        ev.withColumn("u8", expr(u8)).withColumn("t8", expr(t8))
          .withColumn("z", expr(graft.operators.LayoutQueries.zorderExprSql("u8", "t8")))
          .repartitionByRange(64, col("z")).sortWithinPartitions("z")
          .write.mode("overwrite").parquet(zd)
        println(f"[scale] zorder write (20M rows, 64 files): ${(System.nanoTime() - t0) / 1e9}%.2f s")
        ev.withColumn("u8", expr(u8)).withColumn("t8", expr(t8))
          .repartitionByRange(64, col("ts")).sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(td)
        def slice(dir: String, tag: String): Unit = {
          val agg = spark.read.parquet(dir)
            .filter(col("u8").between(64, 95) && col("t8").between(64, 95))
            .agg(count(lit(1)))
          val t1 = System.nanoTime()
          val n = agg.collect()(0).getLong(0)
          val s = (System.nanoTime() - t1) / 1e9
          // read the scan metrics off the EXECUTED plan, unwrapping the
          // AQE stages (collectLeaves on the adaptive wrapper sees only
          // stage placeholders and reports zeros)
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          val acc = scala.collection.mutable.ArrayBuffer[Long]()
          def walk(p: SparkPlan): Unit = p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case sN: QueryStageExec => walk(sN.plan)
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.metrics.get("numOutputRows").foreach(m => acc += m.value)
            case other => other.children.foreach(walk)
          }
          walk(agg.queryExecution.executedPlan)
          val scanned = acc.sum
          println(f"[scale] zorder 2-D slice [$tag]: $s%.2f s, $n matches, $scanned rows scanned (of $nEv)")
        }
        slice(zd, "z-layout ")
        slice(td, "ts-sorted")
      }
    }

    // Count-Min grid over a 20M-token synthetic corpus (200k docs × 100
    // zipf-ish tokens): the corpus-sized stage is one wordcount; the
    // grid itself is 1024 longs regardless of the 50k-word vocabulary.
    if (wanted("cms")) {
      val docs = wordDocs(200000L, "concat('w', pmod(hash(id * 101 + j), 50000) % (1 + pmod(hash(id + j), 317)))")
      val t0 = System.nanoTime()
      val grid = graft.operators.Sketches.cmsGrid(
        graft.operators.Sketches.wordCounts(docs))
      val cells = grid.count()
      val s0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale] CMS grid build (20M tokens, 50k vocab): $s0%.2f s, $cells cells (${20e6 / s0 / 1e6}%.1f M tokens/s)")
    }

    // Bloom decontamination at a 100k-gram eval set: the broadcast is
    // STILL m bits — the point of the operator — and the train side is
    // a map-only membership pass + a candidate-bounded verify.
    if (wanted("bloom")) {
      // eval docs (id<500) contribute ~200 grams each ≈ 100k eval grams;
      // 1% of train docs copy an eval span
      val docs = wordDocs(100000L, """CASE WHEN id < 500 THEN concat('e', id % 500, '_', j)
        |WHEN id % 100 = 0 AND j < 20 THEN concat('e', id % 500, '_', j)
        |ELSE concat('w', pmod(hash(id * 131 + j), 300000)) END""".stripMargin)
      val t0 = System.nanoTime()
      val out = graft.operators.Dedup.decontaminateBloom(docs, "doc_id", "text", evalMaxId = 500L)
      val flagged = out.count()
      val s0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale] bloom decontaminate (100k docs, ~100k eval grams, m=64Ki): $s0%.2f s, $flagged flagged")
    }

    // Exact pruned kNN graph on a CLUSTERED corpus (the regime real
    // embedding spaces live in): candidate volume + wall time; the
    // quadratic twin would be n² pairs.
    if (wanted("prunedgraph")) {
      val nP = 100000L; val dimP = 64; val nClust = 256
      val docs = spark.range(nP).select(col("id").as("vec_id"),
        expr(
          s"""transform(sequence(0, ${dimP - 1}), j ->
             |  CAST(pmod(hash(id % $nClust, j), 1000) AS DOUBLE) / 100.0
             |  + CAST(pmod(hash(id, j, 7), 100) AS DOUBLE) / 2000.0)""".stripMargin)
          .as("embedding"))
        .repartition(64).localCheckpoint(true)
      val t0 = System.nanoTime()
      val cand = graft.operators.VectorSearch.prunedCandidates(docs, 10, nlist = 512)
      val nc = cand.count()
      val s0 = (System.nanoTime() - t0) / 1e9
      val full = nP * (nP - 1)
      println(f"[scale] pruned exact kNN graph ($nP%d clustered × $dimP-d, nlist=512): $s0%.2f s, $nc candidate pairs of $full%d (${100.0 * nc / full}%.2f%%)")
    }

    // Large-star/small-star CC on a 1M-edge graph with long chains and
    // a hot hub — the shapes that stall label propagation.
    if (wanted("largestar")) {
      val chains = spark.range(900000L).select((col("id") * 7).as("doc_a"),
        (col("id") * 7 + 7).as("doc_b"))  // ONE 900k-edge chain (diameter 900k)
      val hub = spark.range(100000L).select(lit(3L).as("doc_a"),
        (col("id") * 13 + 100000000L).as("doc_b"))
      val edges = chains.unionAll(hub).repartition(64).localCheckpoint(true)
      val t0 = System.nanoTime()
      val cc = graft.operators.Dedup.ccLargeStar(edges)
      val comps = cc.agg(countDistinct(col("canonical_id"))).collect()(0).getLong(0)
      val s0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale] large-star CC (1M edges: 900k-edge chain + 100k-degree hub): $s0%.2f s, $comps components")
    }

    // Greedy k-center on the full generated corpus: k map-only passes +
    // k one-row TakeOrdered reduces — no corpus shuffle at any n.
    if (wanted("kcenter")) {
      val emb = corpus.select(col("vec_id"),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)).as("embedding"))
      val t0 = System.nanoTime()
      val trace = graft.operators.Curation.kcenterTable(emb, k = 8).collect()
      val s0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale] k-center k=8 over $n%d × 64-d: $s0%.2f s (${7 * n / s0 / 1e6}%.1f M dist-rows/s), radius ${trace.last.getDouble(2)}%.3f")
    }
    // Degree-oriented triangle counting on a 1M-node × 10-edge hash
    // graph (≈10M directed edges): wedge volume is the scale risk —
    // the (deg, id) orientation bounds it by Σ outdeg², reported
    // beside wall time.
    if (wanted("triangles")) {
      val edges = hashGraph(n, selfLoops = false)
      val t0 = System.nanoTime()
      val tot = graft.operators.GraphRank.trianglesOverEdges(edges)
        .agg(sum("n_tri")).collect()(0).getLong(0)
      println(f"[scale] triangles (${n / 1e6}%.0fM nodes × $deg edges, degree-oriented): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s, ${tot / 3} triangles")
    }

    // HITS at the pagerank probe's scale: T=3 full hub/auth rounds =
    // 12 corpus-sized joins/aggregates + 12 one-row max reduces.
    if (wanted("hits")) {
      val edges = hashGraph(n, selfLoops = true)
      val t0 = System.nanoTime()
      graft.operators.GraphRank.hitsOverEdges(edges).count()
      println(f"[scale] hits ${graft.operators.GraphRank.HitsT} iters over " +
        f"${n / 1e6}%.0fM nodes × $deg edges: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // Interval join at 20M events / 10k users: the bucket-blocked form
    // at full size, the naive theta join only on a 1/20 slice (its
    // per-user quadratic would melt at full size — that's the point).
    if (wanted("intervaljoin")) {
      val nEv = 20000000L
      val band = 3600000000L // 1h in µs
      val ev = spark.range(nEv).select(col("id").as("event_id"),
          pmod(xxhash64(col("id")), lit(10000L)).as("user_id"),
          (when(pmod(col("id"), lit(2L)) === 0, "click").otherwise("purchase")).as("event_type"),
          pmod(xxhash64(col("id") + 7), lit(30L * 24 * 3600 * 1000000L)).as("ts_us"))
        .repartition(32).localCheckpoint(true)
      val t0 = System.nanoTime()
      val nPairs = graft.operators.Relational.intervalPairs(ev, band).count()
      println(f"[scale] interval join BLOCKED (20M events, 10k users, 1h band): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s, $nPairs pairs")
      val slice = ev.filter(col("user_id") < 500)
      val c = slice.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cu"), col("ts_us").as("cus"))
      val p = slice.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts_us").as("pus"))
      val t1 = System.nanoTime()
      c.join(p, col("cu") === col("pu") && col("pus") >= col("cus") &&
          col("pus") - col("cus") <= band).count()
      println(f"[scale] interval join NAIVE theta (1/20 user slice only): " +
        f"${(System.nanoTime() - t1) / 1e9}%.2f s — per-user quadratic, melts at full size")
    }

    // HLL vs KMV vs count(DISTINCT) on the 50M-row high-cardinality
    // regime: the HLL shuffle is ≤64 (group, register) longs per
    // partition — same bound as KMV, with a cheaper per-row update.
    if (wanted("hll")) {
      val rows = spark.range(50000000L).select(
        pmod(col("id"), lit(32L)).as("g"),
        xxhash64(col("id")).as("v"))
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      rows.select(col("g").cast("string").as("event_type"),
          shiftrightunsigned(xxhash64(col("v")), 1).as("h"))
        .select(col("event_type"), expr(s"h % ${graft.operators.Sketches.HllM}").as("j"),
          expr("shiftright(h, 6)").as("w"))
        .groupBy("event_type", "j")
        .agg(max(when(col("w") === 0L, 58L)
          .otherwise(lit(58L) - length(bin(col("w"))))).as("m"))
        .count()
      println(f"[scale] hll registers (50M rows, 32 groups): ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // PMI collocations over the 20M-token synthetic corpus: one
    // tokenize + one bigram count; marginals and total derive from the
    // count table (vocabulary-sized, not corpus-sized).
    if (wanted("collocations")) {
      val docs = wordDocs(200000L, "concat('w', pmod(hash(id * 101 + j), 50000) % (1 + pmod(hash(id + j), 317)))").select("text")
      val t0 = System.nanoTime()
      graft.operators.DataMix.collocationsOn(docs).count()
      val s0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale] collocations top-20 (20M tokens, 50k vocab): $s0%.2f s (${20e6 / s0 / 1e6}%.1f M tokens/s)")
    }
    // Round-13 graph loops on the 1M × 10 hash graph: each round is
    // one corpus-sized join + aggregate, so wall time ~ rounds.
    if (wanted("kcore")) {
      val edges = hashGraph(n, selfLoops = false)
      val t0 = System.nanoTime()
      val core = graft.operators.GraphRank.kcoreOverEdges(edges)
        .filter(col("peel_round") === 0L).count()
      println(f"[scale] kcore k=${graft.operators.GraphRank.KCoreK} " +
        f"(${n / 1e6}%.0fM nodes × $deg edges, ${graft.operators.GraphRank.KCoreT} rounds): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s, $core in-core")
    }
    if (wanted("lpa")) {
      val edges = hashGraph(n, selfLoops = false)
      val t0 = System.nanoTime()
      val comms = graft.operators.GraphRank.lpaOverEdges(edges)
        .select("comm").distinct().count()
      println(f"[scale] lpa ${graft.operators.GraphRank.LpaT} rounds " +
        f"(${n / 1e6}%.0fM nodes × $deg edges): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s, $comms communities")
    }
    if (wanted("bfs")) {
      val edges = hashGraph(n, selfLoops = false)
      val t0 = System.nanoTime()
      val reached = graft.operators.GraphRank.bfsOverEdges(edges, 10L)
        .filter(col("dist").isNotNull).count()
      println(f"[scale] bfs ${graft.operators.GraphRank.BfsT} rounds from 10 seeds " +
        f"(${n / 1e6}%.0fM nodes × $deg edges): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s, $reached reached")
    }
    // Link prediction's wedge volume is Σ deg² — quadratic in degree,
    // linear in nodes; 300k × 10-out (≈20 und-degree) ⇒ ~120M wedges.
    if (wanted("linkpredict")) {
      val nn = math.min(n, 300000L)
      val edges = hashGraph(nn, selfLoops = false)
      val t0 = System.nanoTime()
      graft.operators.GraphRank.linkPredictOverEdges(edges).count()
      println(f"[scale] link predict (${nn / 1e3}%.0fk nodes × $deg out, " +
        f"middle-node wedges): ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // POWER-LAW graph probe (round 12): the graded kNN graphs are
    // K-regular, so graph_link_predict's hub cap and the iterative
    // families' integer-range widenings never bind there — this
    // measures WHERE they bind. 10M directed edges over 2M nodes:
    // ~6M uniform (und-degree ~6) plus 20 planted mega-hubs at ~200k
    // in-edges each — the celebrity-node shape of a real similarity
    // graph over a corpus with boilerplate clusters.
    if (wanted("powerlaw")) {
      val nn = 2000000L
      val mUniform = 6000000L
      val hubs = 20
      val perHub = 200000L
      val uni = spark.range(mUniform).select(
        pmod(hash(col("id") * 31), lit(nn)).cast("long").as("src"),
        pmod(hash(col("id") * 77 + 13), lit(nn)).cast("long").as("dst"))
      val hub = spark.range(hubs * perHub).select(
        pmod(hash(col("id") * 53 + 7), lit(nn)).cast("long").as("src"),
        pmod(col("id"), lit(hubs.toLong)).as("dst"))
      val edges = uni.unionAll(hub)
        .filter(col("src") =!= col("dst"))
        .repartition(32).localCheckpoint(true)
      val gr = graft.operators.GraphRank
      // degree census: the knee, computed exactly without materializing
      // a single wedge — Σ deg·(deg−1)/2 per middle is the wedge volume
      // linkPredict would generate
      val und = edges.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      val deg = und.select(col("u").as("id")).unionAll(und.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg")).localCheckpoint(true)
      val Row2 = deg.agg(max("dg"),
        sum(expr("dg * (dg - 1) div 2")),
        sum(expr(s"CASE WHEN dg <= ${gr.LinkMiddleCap} THEN dg * (dg - 1) div 2 ELSE 0 END")),
        sum(expr(s"CASE WHEN dg > ${gr.LinkMiddleCap} THEN 1 ELSE 0 END"))).collect()(0)
      val (maxDg, wAll, wCap, nHot) =
        (Row2.getLong(0), Row2.getLong(1), Row2.getLong(2), Row2.getLong(3))
      println(f"[scale] powerlaw degree census: max deg $maxDg, " +
        f"$nHot middles above cap ${gr.LinkMiddleCap}; wedge volume " +
        f"uncapped ${wAll / 1e9}%.2f B vs capped ${wCap / 1e6}%.1f M " +
        f"(the cap removes ${(wAll - wCap) * 100.0 / wAll}%.1f%% of the work)")
      val t0 = System.nanoTime()
      gr.linkPredictOverEdges(edges).count()
      println(f"[scale] powerlaw link predict CAPPED (10M edges, 20 hubs): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"(uncapped would enumerate ${wAll / 1e9}%.2f B wedges — not run)")
      // hits: raw half-step sums are Σ over in-neighbors of scores
      // ≤ Scale, so Int64 holds while max-deg · Scale < 2⁶³ — the
      // widening knee is deg > ~9.2M; report this graph's headroom
      val t1 = System.nanoTime()
      gr.hitsOverEdges(edges).count()
      println(f"[scale] powerlaw hits ${gr.HitsT} iters: " +
        f"${(System.nanoTime() - t1) / 1e9}%.2f s; raw-sum headroom " +
        f"${Long.MaxValue / (maxDg * gr.Scale)}x (knee at deg ~${Long.MaxValue / gr.Scale / 1e6}%.1f M)")
      val t2 = System.nanoTime()
      gr.pagerankOverEdges(edges, 5).count()
      println(f"[scale] powerlaw pagerank ${gr.T} iters (superstep checkpoints on): " +
        f"${(System.nanoTime() - t2) / 1e9}%.2f s")
    }
    // Journey mining at 20M events / 100k users: the window pass is
    // keyed by user — no global sort anywhere.
    if (wanted("journeys")) {
      val nEv = 20000000L
      val ev = spark.range(nEv).select(
          pmod(col("id") * 2654435761L, lit(100000L)).as("user_id"),
          (col("id") * 1000L).as("ts"), col("id").as("event_id"),
          expr("concat('t', pmod(hash(id * 13), 8))").as("event_type"))
        .repartition(32).localCheckpoint(true)
      val t0 = System.nanoTime()
      graft.operators.Relational.trigramsCore(ev).count()
      val s0 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.operators.Relational.markovCore(ev).count()
      val s1 = (System.nanoTime() - t1) / 1e9
      println(f"[scale] journey trigrams (20M events, 100k users): $s0%.2f s " +
        f"(${nEv / s0 / 1e6}%.1f M events/s); markov matrix: $s1%.2f s")
    }
    // RAKE at 20M tokens: one gaps-and-islands window per doc + a
    // vocabulary-sized scoring join.
    if (wanted("rake")) {
      val docs = wordDocs(200000L, """CASE WHEN pmod(hash(id * 7 + j * 3), 5) = 0 THEN 'the'
        |ELSE concat('w', pmod(hash(id * 101 + j), 20000)) END""".stripMargin)
      val t0 = System.nanoTime()
      graft.operators.TextOps.rakeOn(docs).count()
      val s0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale] rake top-20 (20M tokens, 1-in-5 stopwords): $s0%.2f s " +
        f"(${20e6 / s0 / 1e6}%.1f M tokens/s)")
    }
    // TV drift at 20M events: two aggregates + a dimension-bounded
    // bucket join — the whole monitor is wordcount-shaped.
    if (wanted("drift")) {
      val nEv = 20000000L
      val ev = spark.range(nEv).select(
          expr("concat('t', pmod(hash(id * 13), 8))").as("event_type"),
          (col("id") * 1000L).as("ts"),
          // second half shifted by 3 buckets: planted drift
          expr(s"pmod(hash(id * 17), 5000) + CASE WHEN id >= ${nEv / 2} THEN 1500 ELSE 0 END")
            .cast("long").as("vc"))
        .repartition(32).localCheckpoint(true)
      val t0 = System.nanoTime()
      val tv = graft.operators.Relational.driftCore(ev)
        .agg(max("tv_ppm")).collect()(0).getLong(0)
      val s0 = (System.nanoTime() - t0) / 1e9
      println(f"[scale] tv drift (20M events, 8 types): $s0%.2f s " +
        f"(${nEv / s0 / 1e6}%.1f M events/s), max tv $tv ppm")
    }
    // INDEX-MAINTENANCE APPLY probe (round 13): what the incremental
    // split/merge actually save vs the naive full layout rewrite, at
    // 1M×64-d over 64 buckets. The merge is a pure file move (the
    // partition value lives in the directory name, not the rows), the
    // split rewrites ONLY the split cell's members — both O(affected
    // bucket), while the rewrite is O(corpus) and scales away.
    if (wanted("maintenance")) {
      val cents = IvfIndex.trainCentroids(IvfIndex.trainSample(corpus), 64, 10)
      val assigned = IvfIndex.assign(corpus, cents).localCheckpoint(true)
      val counts = assigned.groupBy("centroid").count()
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      graft.Mat.withScratchDirs("probe_maint") { case Seq(out) =>
        def t(name: String)(f: => Any): Double = {
          val t0 = System.nanoTime(); f
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[scale] maintenance: $name: $s%.2f s"); s
        }
        t(f"base layout write (${n / 1e6}%.0fM rows, 64 buckets)")(
          assigned.write.partitionBy("centroid").mode("overwrite").parquet(out))
        val sFull = t("FULL rewrite (the naive apply)")(
          assigned.write.partitionBy("centroid").mode("overwrite").parquet(out))
        // incremental split of the largest cell: 2 sub-centroids, only
        // that cell's members rewrite
        val hot = counts.maxBy { case (c, cn) => (cn, -c) }._1
        val sSplit = t(s"incremental SPLIT of hottest cell (cell $hot, " +
          s"${counts.find(_._1 == hot).get._2} rows)") {
          val members = assigned.filter(col("centroid") === hot)
          val sub = IvfIndex.trainCentroids(IvfIndex.trainSample(members), 2, 10)
          members.withColumn("centroid",
            (org.apache.spark.sql.graftshim.Shims.column(
              graft.operators.NearestCentroidExpr(
                org.apache.spark.sql.graftshim.Shims.expression(col("embedding")), sub))
              + lit(64)).cast("int"))
            .write.partitionBy("centroid").mode("append").parquet(out)
          IvfIndex.deleteBucketDir(spark, s"$out/centroid=$hot")
        }
        // merge of the two smallest surviving cells: pure FS-API move
        val pair = counts.filter(_._1 != hot)
          .sortBy { case (c, cn) => (cn, c) }.take(2).map(_._1).sorted
        val sMerge = t(s"MERGE move of two smallest cells (${pair.mkString("+")})") {
          IvfIndex.moveBucketFiles(spark, s"$out/centroid=${pair(1)}",
            s"$out/centroid=${pair(0)}", pair(1).toString)
        }
        println(f"[scale] maintenance: full-rewrite/split = ${sFull / sSplit}%.1fx, " +
          f"full-rewrite/merge = ${sFull / sMerge}%.0fx")
      }
    }
    // COMPOSED-PIPELINE probe (round 14): pipeline_e2e's six-stage
    // chain end-to-end over a synthetic n-doc corpus (deterministic
    // xxhash64 word draws from a 256-word vocabulary seeded with the
    // engine's stopword set, 20 sources, 20-59 words/doc) — the
    // docs/s figure for the whole curation DAG, decontamination join
    // and packing window included.
    if (wanted("pipeline")) {
      // letter-only vocabulary: digit-bearing tokens would trip the
      // quality classifier's digit-ratio penalty corpus-wide
      val vocabWords: Seq[String] =
        graft.operators.TextOps.MarkEn ++ (5 until 256).map(i =>
          s"t${('a' + i / 16).toChar}${('a' + i % 16).toChar}")
      val vocabArr = array(vocabWords.map(lit): _*)
      val docs = spark.range(n).select(
        col("id").as("doc_id"),
        concat(lit("src"), pmod(col("id"), lit(20)).cast("string")).as("source"),
        concat_ws(" ", transform(
          sequence(lit(0), (pmod(abs(xxhash64(col("id"))), lit(40)) + 19).cast("int")),
          j => element_at(vocabArr,
            (pmod(abs(xxhash64(col("id"), j)), lit(256)) + 1).cast("int"))))
          .as("text"))
        .localCheckpoint(true)
      time(s"pipeline_e2e composed chain (${n / 1000000}M docs, 6 stages, lazy)") {
        val out = graft.operators.PipelineOps.pipelineE2eOver(docs)
        val kept = out.count()
        println(s"[scale] pipeline: survivors=$kept of $n")
        kept
      }
      // the deployment variant: hashed shingle postings persisted once
      // (8-byte (doc_id, b) rows) instead of recomputed per branch
      time(s"pipeline_e2e composed chain (${n / 1000000}M docs, 6 stages, persisted postings)") {
        graft.operators.PipelineOps.pipelineE2eOver(docs, persistShingles = true).count()
      }
    }
  }
}
