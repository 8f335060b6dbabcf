package graft

import org.apache.spark.sql.functions._

import graft.operators.Bm25
import graft.streaming.Replay

/** The self-contained postings layout: every writer lands tf rows
  * (word, doc_id, tf, dl, df) whose dl and df are exactly its own dl
  * and df tables' values, so a whole-corpus layout serves with no
  * index-state join. A shard's df counts its own slice, so shard
  * layouts must serve through the joined feeder — the last test is the
  * guard against a shard-local df reaching a served score. */
class PostingsLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")

  /** Each tf row's dl / df equals the layout's dl / df table value for
    * its doc / word, no row lacks either, and tot is the dl table's
    * total and count. */
  private def assertSelfContained(what: String, dir: String): Unit = {
    val tf = spark.read.parquet(s"$dir/tf")
    assert(tf.columns.toSet == Set("word", "doc_id", "tf", "dl", "df"),
      s"$what: tf columns ${tf.columns.toSeq}")
    val dl = spark.read.parquet(s"$dir/dl").select($"doc_id", $"dl".as("dl_table"))
    val df = spark.read.parquet(s"$dir/df").select($"word", $"df".as("df_table"))
    val row = tf.join(dl, Seq("doc_id"), "left").join(df, Seq("word"), "left")
      .agg(count(lit(1)),
        sum(when($"dl".isNull || $"df".isNull, 1).otherwise(0)),
        sum(when($"dl" =!= $"dl_table" || $"dl_table".isNull, 1).otherwise(0)),
        sum(when($"df" =!= $"df_table" || $"df_table".isNull, 1).otherwise(0)))
      .head()
    assert(row.getLong(0) > 0, s"$what: empty postings")
    assert(row.getLong(1) == 0, s"$what: ${row.getLong(1)} tf rows lack dl or df")
    assert(row.getLong(2) == 0, s"$what: ${row.getLong(2)} tf rows disagree with the dl table")
    assert(row.getLong(3) == 0, s"$what: ${row.getLong(3)} tf rows disagree with the df table")
    val want = spark.read.parquet(s"$dir/dl").agg(sum("dl"), count(lit(1))).head()
    assert(Bm25.totalsOf(spark, dir) == Bm25.Totals(want.getLong(0), want.getLong(1)),
      s"$what: tot disagrees with the dl table")
  }

  test("every postings writer lands tf rows carrying its own dl and df tables' values") {
    Mat.withScratchDirs("postings_whole", "postings_stream", "postings_merged",
        "postings_cmp") { case Seq(whole, root, merged, cmp) =>
      Bm25.writePostingsLayout(docs, whole)
      assertSelfContained("writePostingsLayout", whole)

      // stream_bm25_ingest's shard write: each trigger tokenizes its
      // batch and lands a shard layout of its own
      val rows = docs.as[(Long, String)].collect().sortBy(_._1)
      val chunks = rows.grouped(rows.length / 3 + 1).map(_.toSeq).toSeq
      Replay(spark, Replay.feed(chunks, Replay.Batches(s"$root/_ckpt") { (bg, batch, id) =>
        val tf = Bm25.postingsTf(batch).localCheckpoint(true)
        bg.submit(Bm25.writePostingsFromTf(tf, s"$root/shard_$id", certify = false))
      })(_.toDF("doc_id", "text")))
      val shards = chunks.indices.map(i => s"$root/shard_$i")
      shards.foreach(d => assertSelfContained(s"stream shard $d", d))

      Bm25.mergePostingsLayouts(spark, shards, merged)
      assertSelfContained("mergePostingsLayouts", merged)
      // the merge recounted df: some word's shard-local df is smaller
      val shardDf = shards.map(d => spark.read.parquet(s"$d/tf")).reduce(_ unionByName _)
        .select($"word", $"doc_id", $"df".as("shard_df"))
      assert(!spark.read.parquet(s"$merged/tf").join(shardDf, Seq("word", "doc_id"))
        .filter($"df" > $"shard_df").isEmpty, "no shard row's df differs from the merged df")

      Bm25.writeTombstones(spark, whole,
        docs.filter($"doc_id" % 4 === 1 && $"doc_id" >= Bm25.NQueriesB).select("doc_id"))
      Bm25.compactTombstones(spark, whole, cmp)
      assertSelfContained("compactTombstones", cmp)
    }
  }

  test("shard-layout serve == merged-layout serve == one-shot twin: no shard-local df scores") {
    Mat.withScratchDirs("postings_sh0", "postings_sh1", "postings_sh2",
        "postings_shmerged") { case Seq(sh0, sh1, sh2, merged) =>
      val shards = Seq(sh0, sh1, sh2)
      shards.zipWithIndex.foreach { case (d, i) =>
        Bm25.writePostingsLayout(docs.filter($"doc_id" % 3 === i), d)
      }
      Bm25.mergePostingsLayouts(spark, shards, merged)
      val qterms = spark.read.parquet(s"$merged/tf").filter($"doc_id" < Bm25.NQueriesB)
        .select($"doc_id".as("qid"), $"word")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("qid", "rank").as[(Long, Long, Long, Int)].collect().toSeq
      val oneShot = rows(Bm25.bm25TopN(docs, Bm25.K))
      val overShards = rows(Bm25.bm25OverShardLayouts(spark, shards, qterms, Bm25.K))
      val overMerged = rows(Bm25.bm25OverPostings(spark, merged, qterms, Bm25.K))
      assert(oneShot.nonEmpty && overMerged == oneShot,
        s"merged serve diverged: ${overMerged.zip(oneShot).find(p => p._1 != p._2)}")
      assert(overShards == overMerged,
        s"shard serve diverged: ${overShards.zip(overMerged).find(p => p._1 != p._2)}")
    }
  }
}
