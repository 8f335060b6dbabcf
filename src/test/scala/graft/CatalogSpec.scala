package graft

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.operators.{BinaryQuant, Bpe, GraphRank, IvfIndex, ServeE2e, VectorSearch}

/** graft.Catalog — the one build memo, keyed on input content + params
  * + Spark application — and the run-order independence of the
  * trained twins built on it. */
class CatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def withTempDirs[A](n: Int)(f: Seq[String] => A): A = {
    val dirs = (1 to n).map(_ => java.nio.file.Files.createTempDirectory("graft-catalog-spec"))
    try f(dirs.map(_.toString))
    finally dirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  private def embeddings = Tables.load(spark, sfDir, "embeddings")

  private def rows(c: Array[Array[Double]]): Seq[Seq[Double]] = c.map(_.toSeq).toSeq

  test("an untouched corpus is a hit; a corpus rewritten at the same path rebuilds") {
    withTempDirs(1) { case Seq(d) =>
      embeddings.filter($"vec_id" % 2 === 0).write.parquet(s"$d/embeddings.parquet")
      val builds = new AtomicInteger
      def build(p: Int = 0): Int =
        Catalog.getOrBuild("spec.rewrite", spark, d, Seq("embeddings"), p)(builds.incrementAndGet())
      assert(build() == 1)
      assert(build() == 1 && builds.get == 1, "untouched corpus rebuilt")
      assert(build(p = 1) == 2, "a different param must be its own entry")
      val c1 = IvfIndex.centroidsFor(spark, d, 16)
      assert(IvfIndex.centroidsFor(spark, d, 16) eq c1, "untouched corpus retrained")

      embeddings.filter($"vec_id" % 2 === 1)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      assert(build() == 3, "rewritten corpus served the stale build")
      val c2 = IvfIndex.centroidsFor(spark, d, 16)
      val fresh = IvfIndex.trainCentroids(
        IvfIndex.trainSample(Tables.load(spark, d, "embeddings")), 16, 10)
      assert(rows(c2) == rows(fresh))
      assert(rows(c2) != rows(c1))
    }
  }

  test("nested getOrBuild: a build may call the catalog for its own inputs") {
    withTempDirs(1) { case Seq(d) =>
      embeddings.filter($"vec_id" < 200).write.parquet(s"$d/embeddings.parquet")
      val v = Catalog.getOrBuild("spec.outer", spark, d, Seq("embeddings")) {
        Catalog.getOrBuild("spec.inner", spark, d, Seq("embeddings"))(41) + 1
      }
      assert(v == 42)
      // dense layout → corpus codebook
      val (_, cents) = ServeE2e.denseLayoutFor(spark, d)
      assert(cents eq IvfIndex.centroidsFor(spark, d, BinaryQuant.IvfNlist))
      // shared edges → kNN graph
      assert(GraphRank.sharedEdges(spark, d).count() ==
        VectorSearch.knnGraphShared(spark, d).count())
    }
  }

  test("concurrent callers of one key wait for a single build; a failed build is retried") {
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map(_ => pool.submit(new Callable[Int] {
        override def call(): Int =
          Catalog.getOrBuild("spec.concurrent", spark, sfDir, Seq("embeddings")) {
            Thread.sleep(300)
            builds.incrementAndGet()
          }
      }))
      assert(futs.map(_.get()).toSet == Set(1))
      assert(builds.get == 1)
    } finally pool.shutdown()
    intercept[IllegalStateException] {
      Catalog.getOrBuild[Int]("spec.fail", spark, sfDir, Seq("embeddings"))(
        throw new IllegalStateException("build failed"))
    }
    assert(Catalog.getOrBuild("spec.fail", spark, sfDir, Seq("embeddings"))(7) == 7)
  }

  test("the ivf_search twin built before its query runs equals the twin built after") {
    withTempDirs(1) { case Seq(d) =>
      embeddings.write.parquet(s"$d/embeddings.parquet")
      val twin = SparkEntry.oracleSql("ivf_search")
      val before = twin(spark, d)
      IvfIndex.ivfSearch(spark, d).collect()
      assert(twin(spark, d) == before)
      // …and both embed exactly the codebook a fresh training yields
      val fresh = IvfIndex.trainCentroids(
        IvfIndex.trainSample(Tables.load(spark, d, "embeddings")), 16, 10)
      assert(before == IvfIndex.ivfSql(fresh, 4))
    }
  }

  test("bpe_encode encodes a corpus under ITS merges, not the last corpus bpe_train saw") {
    withTempDirs(2) { case Seq(a, b) =>
      // disjoint alphabets: the two corpora train different merges
      val docsA = (0L until 40L).map(i => (i, "abab abab cdcd abcd " * (1 + (i % 3).toInt)))
      val docsB = (0L until 40L).map(i => (i, "xyxy wvwv xyzw xyxyxy " * (1 + (i % 4).toInt)))
      docsA.toDF("doc_id", "text").write.parquet(s"$a/documents.parquet")
      docsB.toDF("doc_id", "text").write.parquet(s"$b/documents.parquet")
      Bpe.bpeTrain(spark, a).collect()
      val got = Bpe.bpeEncode(spark, b)
        .select("doc_id", "n_words", "n_chars", "n_tokens")
        .as[(Long, Long, Long, Long)].collect().toSeq
      // reference: B encoded driver-side under merges trained on B
      val merges = Bpe.trainMerges(Bpe.wordFreq(Tables.load(spark, b, "documents")), Bpe.Merges)
        .map(t => (t._2, t._3))
      val want = docsB.map { case (id, text) =>
        val words = "[a-z]+".r.findAllIn(text.toLowerCase).toSeq
        val toks = words.map { w =>
          Bpe.symbolCount(merges.foldLeft(Bpe.frame(w)) { case (s, (l, r)) => Bpe.applyMerge(s, l, r) })
        }.sum
        (id, words.size.toLong, words.map(_.length).sum.toLong, toks.toLong)
      }
      assert(got == want)
      assert(want.map(_._4).sum < want.map(_._3).sum, "B's merges compress nothing — vacuous pin")
    }
  }
}
