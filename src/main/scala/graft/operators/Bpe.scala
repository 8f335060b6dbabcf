package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Byte-pair-encoding tokenizer TRAINING and ENCODING as corpus
  * operators — the tokenizer-construction step of an LLM data
  * pipeline (Sennrich et al. 2016, arXiv:1508.07909; the GPT-2/
  * SentencePiece training recipe).
  *
  * Scale shape: classic BPE trains on the word-frequency DICTIONARY,
  * not the raw corpus — the one corpus-sized stage is the distributed
  * word count (wordcount-shaped, map-side combine, shuffles (word,
  * count) pairs only, never text). The merge loop then runs on the
  * bounded dictionary (top-[[VocabWords]] by (count, word) — the same
  * driver-side-on-bounded-data pattern as IvfIndex.trainCentroids),
  * and ENCODING pushes the learned merges back over the corpus as a
  * chain of literal `replace` calls — pure codegen built-ins, no UDF,
  * no shuffle on the encode pass.
  *
  * Determinism: ties in pair counts break by (left ASC, right ASC);
  * the per-word merge application is the standard left-to-right
  * non-overlapping scan. Segmentations are framed as `|c1||c2||…|`
  * so one string `replace('|l||r|','|lr|')` IS that scan (the frame
  * pipes make matches symbol-aligned and consumed pairs unmatchable),
  * which is what makes the DuckDB twin — and the Spark-side encode —
  * a faithful replay rather than an approximation. */
object Bpe {
  /** Word-frequency dictionary cap: top-N words by (count DESC, word
    * ASC). At 100 TB the full dictionary still fits (heaps of tokens,
    * not text); the cap here bounds the unrolled oracle. */
  val VocabWords = 200
  /** Merge rounds trained / graded (each round is one oracle stage). */
  val Merges = 10

  /** Frame a word as |c1||c2||…|cn| (segmentation string). */
  def frame(word: String): String =
    word.map(_.toString).mkString("|", "||", "|")

  /** One BPE merge on a framed segmentation: left-to-right
    * non-overlapping — exactly String.replace's scan. */
  def applyMerge(seg: String, l: String, r: String): String =
    seg.replace(s"|$l||$r|", s"|$l$r|")

  /** Symbol count of a framed segmentation: pipes = 2·syms, so
    * syms = pipes/2. */
  def symbolCount(seg: String): Int =
    seg.count(_ == '|') / 2

  /** Driver-side merge training over the bounded word-frequency
    * dictionary. Returns (round, left, right, pairCount) per round —
    * fewer than `m` rows iff the dictionary exhausts (every word a
    * single symbol), which the graded corpus never hits. */
  def trainMerges(words: Array[(String, Long)], m: Int): Seq[(Int, String, String, Long)] = {
    var segs: Array[(String, Long)] = words.map { case (w, f) => (frame(w), f) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= m && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (seg, f) =>
        val syms = seg.stripPrefix("|").stripSuffix("|").split("\\|\\|")
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rt), c) = counts.toSeq
          .sortBy { case ((l, rt), c) => (-c, l, rt) }.head
        out += ((r, l, rt, c))
        segs = segs.map { case (seg, f) => (applyMerge(seg, l, rt), f) }
        r += 1
      }
    }
    out.result()
  }

  /** The distributed word-frequency dictionary: lowercase [a-z]+ runs,
    * top-[[VocabWords]] by (count DESC, word ASC). */
  def wordFreq(docs: DataFrame): Array[(String, Long)] = {
    import docs.sparkSession.implicits._
    docs.select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("word").asc)
      .limit(VocabWords)
      .as[(String, Long)].collect()
  }

  /** The trained tokenizer of a corpus — its word-frequency dictionary
    * and merge table — built once per `documents` content
    * (graft.Catalog), so train, encode and both twins read the merges
    * of the corpus they are given. */
  private[graft] def tokenizerFor(s: SparkSession, dir: String)
      : (Array[(String, Long)], Seq[(Int, String, String, Long)]) =
    graft.Catalog.getOrBuild("bpe.tokenizer", s, dir, Seq("documents")) {
      val dict = wordFreq(Tables.load(s, dir, "documents"))
      (dict, trainMerges(dict, Merges))
    }

  private def mergePairsFor(s: SparkSession, dir: String): Seq[(String, String)] =
    tokenizerFor(s, dir)._2.map(t => (t._2, t._3))

  /** bpe_train graded query: the merge table itself — the trained
    * artifact a tokenizer ships. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val merges = tokenizerFor(s, dir)._2
    import s.implicits._
    merges.toDF("round", "left", "right", "cnt")
      .select(col("round").cast("int"), col("left"), col("right"),
        concat(col("left"), col("right")).as("token"), col("cnt"))
      .orderBy("round")
  }

  /** Driver-side segmentation replay of the BOUNDED dictionary under
    * the trained merges: word -> token count. The dictionary is heaps
    * of tokens, not text (same bound as trainMerges), so this is the
    * tokenizer artifact a serving encode broadcasts. */
  def dictTokenCounts(dict: Array[(String, Long)],
                      merges: Seq[(String, String)]): Seq[(String, Long)] =
    dict.toSeq.map { case (w, _) =>
      val seg = merges.foldLeft(frame(w)) { case (s0, (l, r)) => applyMerge(s0, l, r) }
      (w, symbolCount(seg).toLong)
    }

  /** bpe_encode graded query: the learned merges applied back over
    * the whole corpus — per-doc token count under the trained
    * tokenizer vs raw char count (the compression the merges buy).
    *
    * Encode shape: the trained dictionary's segmentations are replayed
    * ONCE driver-side (bounded — [[dictTokenCounts]]) and broadcast;
    * the corpus-sized pass is a broadcast hash join word -> token
    * count. Only OOV words (outside the top-[[VocabWords]] dictionary,
    * the corpus long tail) fall back to the inline merge chain of
    * literal `replace` calls — evaluated lazily inside the when()
    * branch, so the chain never runs for dictionary hits. This is the
    * shape that survives a 32k-merge vocabulary: expression depth no
    * longer grows with merge count on the hot path ([[
    * encodeDistinctWords]] is the bounded-depth chain for the OOV
    * side at real vocab sizes). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val dict = tokenizerFor(s, dir)._1
    val merges = mergePairsFor(s, dir)
    val dictDf = broadcast(dictTokenCounts(dict, merges).toDF("word", "dict_toks"))
    val words = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
    // OOV fallback: frame '|' + chars joined by '||' + '|' — split on
    // the (?=.) lookahead (a bare '' pattern appends a trailing empty
    // element under Java's limit=-1 split semantics); then the merge
    // chain as literal `replace` calls (codegen'd StringReplace,
    // left-to-right non-overlapping — exactly the BPE scan on the
    // framed form)
    val segSql = merges.foldLeft(
      "concat('|', array_join(split(word, '(?=.)'), '||'), '|')") {
      case (acc, (l, r)) => s"replace($acc, '|$l||$r|', '|$l$r|')"
    }
    val perWord = words
      .join(dictDf, Seq("word"), "left")
      .withColumn("s", when(col("dict_toks").isNull, expr(segSql)))
      .select(col("doc_id"),
        length(col("word")).as("chars"),
        coalesce(col("dict_toks"),
          ((length(col("s")) - length(translate(col("s"), "|", "")))
            .cast("long") / 2).cast("long")).as("toks"))
    val agg = perWord.groupBy("doc_id").agg(
      count(lit(1)).as("n_words"),
      sum(col("chars")).as("n_chars"),
      sum(col("toks")).as("n_tokens"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Segmentation of a DISTINCT-words table (col "word") under an
    * arbitrarily long merge list — the OOV/offline path at real vocab
    * sizes (32k merges), where one nested replace chain would build an
    * expression tree 32k deep. Merges apply in bounded-depth batches
    * (one narrow projection per batch; the plan is truncated every few
    * batches so CollapseProject cannot re-grow the tree). Corpus-sized
    * work stays a broadcast join against the returned (word, toks)
    * table — this pass touches distinct words only. */
  def encodeDistinctWords(words: DataFrame, merges: Seq[(String, String)],
                          batch: Int = 64): DataFrame = {
    var cur = words.withColumn("seg",
      expr("concat('|', array_join(split(word, '(?=.)'), '||'), '|')"))
    val groups = merges.grouped(batch).toSeq
    groups.zipWithIndex.foreach { case (g, i) =>
      val chain = g.foldLeft("seg") { case (acc, (l, r)) =>
        s"replace($acc, '${sqlQuote(s"|$l||$r|")}', '${sqlQuote(s"|$l$r|")}')"
      }
      cur = cur.withColumn("seg", expr(chain))
      // truncate lineage every 8 batches (512 merges of collapsed
      // projection depth) — keeps analysis/codegen stack-safe
      if (i % 8 == 7 && i != groups.length - 1) cur = cur.localCheckpoint(true)
    }
    cur.select(col("word"),
      ((length(col("seg")) - length(translate(col("seg"), "|", "")))
        .cast("long") / 2).cast("long").as("toks"))
  }

  // ------------------------------------------------------------- oracle

  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** Framed segmentation after merges 1..k (trained literals): nested
    * replace chain over the char framing. */
  private def segExpr(col: String, merges: Seq[(String, String)]): String =
    merges.foldLeft(
      s"'|' || array_to_string([$col[i:i] for i in range(1, length($col)+1)], '||') || '|'"
    ) { case (acc, (l, r)) =>
      s"replace($acc, '|${sqlQuote(l)}||${sqlQuote(r)}|', '|${sqlQuote(l + r)}|')"
    }

  /** Unrolled training replay: round r recomputes pair counts from
    * segmentations under trained merges 1..r-1 and re-selects the
    * argmax by (cnt DESC, left ASC, right ASC) — the oracle RE-DERIVES
    * every merge; the literals only reconstruct intermediate states
    * (same pattern as the IVF centroid / HNSW adjacency literals). */
  private def bpeTrainSql(merges: Seq[(String, String)]): String = {
    val rounds = merges.indices.map { k =>
      val seg = segExpr("word", merges.take(k))
      s"""SELECT ${k + 1} AS round, l AS "left", r AS "right", l || r AS token, cnt
         |FROM (
         |  SELECT l, r, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rn
         |  FROM (
         |    SELECT p[1] AS l, p[2] AS r, CAST(SUM(f) AS BIGINT) AS cnt FROM (
         |      SELECT f, unnest([[syms[i], syms[i+1]] for i in range(1, len(syms))]) AS p
         |      FROM (SELECT f, string_split(trim($seg, '|'), '||') AS syms FROM words))
         |    GROUP BY 1, 2))
         |WHERE rn = 1""".stripMargin
    }
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents)
       |  GROUP BY word ORDER BY f DESC, word ASC LIMIT $VocabWords)
       |${rounds.mkString("", "\nUNION ALL\n", "")}
       |ORDER BY round""".stripMargin
  }

  private def bpeEncodeSql(merges: Seq[(String, String)]): String = {
    val seg = segExpr("word", merges)
    s"""WITH w AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       |    CAST(SUM((length(s) - length(replace(s, '|', ''))) // 2) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, word, $seg AS s FROM w)
       |  GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(t.n_words, 0) AS n_words,
       |  coalesce(t.n_chars, 0) AS n_chars, coalesce(t.n_tokens, 0) AS n_tokens
       |FROM documents d LEFT JOIN t ON t.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train" -> (bpeTrain _),
    "bpe_encode" -> (bpeEncode _))

  def oracles: Map[String, graft.OracleSql.Twin] = Map[String, graft.OracleSql.Twin](
    ("bpe_train", (s, d) => bpeTrainSql(mergePairsFor(s, d))),
    ("bpe_encode", (s, d) => bpeEncodeSql(mergePairsFor(s, d))))
}
