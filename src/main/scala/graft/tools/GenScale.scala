package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic SF scaler for the certification runs the driver's
  * generator does not ship: sfN = `copies` key-shifted replicas of a
  * source SF dir (TESTDATA.md's tables, same schemas). Copy i shifts
  * every id-like column by i·10⁷ (consistently across foreign keys, so
  * the star joins stay referentially intact); nation/region stay as-is.
  * Content perturbation keeps the quadratic families LINEAR in the
  * scale factor — a verbatim 10× text replica would multiply every
  * shingle's df by 10 and square the near-dup pair mass, certifying
  * nothing but a blow-up:
  *   - documents: copy i > 0 suffixes every word with "x{i}" (token
  *     count per doc unchanged, vocabulary and corpus tokens scale 10×,
  *     cross-copy docs are NOT near-dups);
  *   - embeddings: copy i > 0 adds a deterministic ±0.006 lattice
  *     jitter per element (cosine structure preserved, exact cross-copy
  *     ties avoided).
  * Usage: graft.tools.Run gen-scale <srcDir> <dstDir> <copies> */
object GenScale {
  val Off = 10000000L

  def run(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    def replicate(t: String, keys: Seq[String])
                 (mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      // the shift is only collision-free while every source key fits
      // under it — scaling an already-scaled dir (max key ≥ Off) would
      // silently produce duplicate primary keys and broken star joins
      val src0 = read(t)
      keys.foreach { c =>
        val row = src0.agg(max(col(c).cast("long"))).head
        require(!row.isNullAt(0),
          s"$t.$c has no numeric keys (empty table or all-null/non-castable " +
            "column) — cannot verify the copy shift is collision-free")
        val mx = row.getLong(0)
        require(mx < Off,
          s"$t.$c max $mx >= copy shift $Off — cross-copy key collision; " +
            "scale from the original (unscaled) source dir")
      }
      (0 until copies).map { i =>
        val shifted = keys.foldLeft(src0)((d, c) => d.withColumn(c, col(c) + lit(i * Off)))
        mutate(shifted, i)
      }.reduce(_ unionAll _)
    }

    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(s"$dst/$t.parquet")
      if (tgt.exists()) tgt.delete()
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"[gen] $t: ${spark.read.parquet(tgt.getPath).count()} rows")
    }

    new java.io.File(dst).mkdirs()
    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate("customer", Seq("c_custkey"))(), "customer")
    write(replicate("supplier", Seq("s_suppkey"))(), "supplier")
    write(replicate("part", Seq("p_partkey"))(), "part")
    write(replicate("orders", Seq("o_orderkey", "o_custkey"))(), "orders")
    write(replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))(), "lineitem")
    write(replicate("events", Seq("event_id", "user_id"))(), "events")
    write(replicate("documents", Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
          expr(s"array_join(transform(filter(split(text, ' '), x -> x != ''), w -> concat(w, 'x$i')), ' ')"))
        .withColumn("n_chars", length(col("text")))
    }, "documents")
    write(replicate("embeddings", Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding", expr(
        s"""transform(embedding, (e, j) ->
           |  cast(e + cast((pmod(vec_id + j * 31 + $i * 7, 13) - 6) as float) * cast(0.001 as float) as float))"""
          .stripMargin))
    }, "embeddings")
  }
}
