package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Every value is a pure function of
  * (seed, id), so the same seed gives the same tables, queries and
  * arrivals on any machine and any partitioning. The engine only ever
  * sees what these write (parquet tables with the `documents` /
  * `embeddings` schemas) or hand over (query rows, stream batches).
  *
  * Vectors are a 64-d mixture of `Clusters` clusters (a centre plus
  * uniform noise), so nearest neighbours are meaningful and IVF recall
  * is neither 0 nor 1.
  * Text is drawn log-uniformly over a `vocab`-word vocabulary (a Zipf-1
  * shape: a few very frequent words with long postings, a long tail of
  * rare ones), so BM25 join sizes depend on which terms a query has.
  */
object Gen {
  val Dim = 64
  val Clusters = 64
  val Noise = 1.0

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, salt: Long): Long = mix(mix(mix(seed) ^ a) + salt)
  /** Uniform in [0, 1). */
  def unit(x: Long): Double = (x >>> 11) / 9007199254740992.0
  def below(x: Long, n: Long): Long = (x >>> 1) % n

  private def center(seed: Long, c: Long, i: Int): Double =
    unit(h(seed, c * Dim + i, 11)) * 2 - 1

  def vector(seed: Long, id: Long): Array[Float] = {
    val c = below(h(seed, id, 21), Clusters)
    Array.tabulate(Dim) { i =>
      (center(seed, c, i) + Noise * (unit(h(seed, id * Dim + i, 23)) * 2 - 1)).toFloat
    }
  }

  /** A query near corpus vector `base`: the base plus a small offset. */
  def queryNear(seed: Long, qid: Long, base: Long): Array[Double] = {
    val v = vector(seed, base)
    Array.tabulate(Dim)(i => v(i) + 0.1 * (unit(h(seed, qid * Dim + i, 27)) * 2 - 1))
  }

  def label(seed: Long, id: Long): Int = below(h(seed, id, 29), 10).toInt

  def word(seed: Long, id: Long, pos: Int, vocab: Int): String =
    "w" + math.exp(unit(h(seed, id * 1024 + pos, 31)) * math.log(vocab.toDouble)).toLong

  def text(seed: Long, id: Long, vocab: Int): String = {
    val n = 30 + below(h(seed, id, 37), 31).toInt
    (0 until n).map(p => word(seed, id, p, vocab)).mkString(" ")
  }

  /** `documents`-schema table: doc_id, text, lang, source, n_chars, in
    * one parquet file, as TESTDATA ships each table. */
  def writeDocs(s: SparkSession, n: Long, seed: Long, vocab: Int, path: String): Unit = {
    import s.implicits._
    s.range(0, n, 1, 1).map { id =>
      val t = text(seed, id, vocab)
      (id, t, if (id % 3 == 0) "en" else "zh", "src" + id % 4, t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(path)
  }

  /** `embeddings`-schema table: vec_id, embedding (float[64]), label, in
    * one parquet file. */
  def writeVectors(s: SparkSession, n: Long, seed: Long, path: String): Unit = {
    import s.implicits._
    s.range(0, n, 1, 1)
      .map(id => (id, vector(seed, id), label(seed, id)))
      .toDF("vec_id", "embedding", "label").write.parquet(path)
  }
}
