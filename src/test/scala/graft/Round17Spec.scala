package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IvfIndex, Multiscale, Warehouse}

/** Round 17 (build round 13): the decimal-output gate contract and the
  * index-maintenance refresh.
  *
  * The r12 lesson pinned structurally: the driver hashes CANONICAL
  * STRINGS — DuckDB's pandas bridge renders DECIMAL(38,0) as float64
  * while Spark's parquet decimal128 renders Decimal('…'), so a decimal
  * column in a graded output diverges at the hash with rows/schema
  * green. Verify.main aborts any dump containing one; these specs make
  * `sbt test` fail first. */
class Round17Spec extends SparkTestBase {

  private def hasDecimal(dt: DataType): Boolean = dt match {
    case _: DecimalType => true
    case s: StructType  => s.fields.exists(f => hasDecimal(f.dataType))
    case a: ArrayType   => hasDecimal(a.elementType)
    case m: MapType     => hasDecimal(m.keyType) || hasDecimal(m.valueType)
    case _ => false
  }

  test("events_corr emits BIGINT moments, never decimal (the r12 gate trap)") {
    val df = Warehouse.eventsCorr(spark, sfDir)
    val dec = df.schema.fields.filter(f => hasDecimal(f.dataType)).map(_.name)
    assert(dec.isEmpty, s"decimal output columns: ${dec.mkString(", ")}")
    Seq("sx", "sy", "sxy", "sxx", "syy").foreach { c =>
      assert(df.schema(c).dataType == LongType, s"$c is not BIGINT")
    }
  }

  test("ivf_centroid_refresh: counts conserve, drift is bounded ppm, decisions are the cross-multiplied contract") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val total = emb.count()
    val rows = IvfIndex.ivfCentroidRefresh(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 16, s"${rows.length} cells")
    assert(rows.map(_.getLong(1)).sum == total, "member counts must conserve to the corpus")
    rows.foreach { r =>
      val (n, cosPpm, action) = (r.getLong(1), r.getLong(2), r.getString(3))
      assert(n > 0, "empty cells emit no row")
      assert(cosPpm <= 1000000L, s"cosine over 1: $cosPpm")
      assert(Set("split", "merge", "keep")(action), s"unknown action $action")
      val nlist = 16L
      val expected =
        if (n * nlist > total * 2) "split"
        else if (n * nlist * 4 < total) "merge"
        else "keep"
      assert(action == expected, s"cell ${r.getInt(0)}: $action != $expected")
    }
    val schema = IvfIndex.ivfCentroidRefresh(spark, sfDir).schema
    assert(!schema.fields.exists(f => hasDecimal(f.dataType)))
  }

  test("ivf_centroid_refresh: a planted two-cluster corpus drifts exactly as the driver-side replay says") {
    // cells whose members moved AWAY from the codebook must show
    // cos_ppm < 1e6; a cell whose members ARE its centroid shows 1e6
    import spark.implicits._
    val dim = 4
    val oldC = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    // members of cell 0 exactly at its centroid; cell 1's members tilted
    val rows = (0L until 8L).map { i =>
      if (i % 2 == 0) (i, Seq(1.0, 0.0, 0.0, 0.0))
      else (i, Seq(0.1, 1.0, 0.0, 0.0))
    }
    val df = rows.toDF("vec_id", "embedding")
    val assigned = IvfIndex.assign(df, oldC)
    val means = assigned
      .repartition(col("centroid")).sortWithinPartitions("centroid", "vec_id")
      .groupBy("centroid")
      .agg(graft.functions.VectorAggOps.vectorAvg(col("embedding")).as("m"))
      .withColumn("cos_ppm",
        floor(graft.functions.VectorOps.cosineSim(col("m"),
          when(col("centroid") === 0, typedLit(oldC(0).toSeq))
            .otherwise(typedLit(oldC(1).toSeq))) * lit(1000000.0)).cast("long"))
      .select("centroid", "cos_ppm").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(means(0) == 1000000L, s"undrifted cell: ${means(0)}")
    val expect1 = math.floor(1.0 / math.sqrt(0.1 * 0.1 + 1.0) * 1000000.0).toLong
    assert(means(1) == expect1, s"tilted cell: ${means(1)} != $expect1")
  }

  test("ivf_split_apply: complete rank lists, self-match leads every query") {
    import graft.operators.VectorSearch
    val rows = IvfIndex.ivfSplitApply(spark, sfDir).collect()
    val k = VectorSearch.K
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to k), s"qid $qid ranks")
      val scores = sorted.map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"qid $qid order")
      // the query is in the corpus; its own bucket is always probed at
      // this SF, so the exact self-match must lead the list
      assert(sorted.head.getLong(1) == qid && math.abs(scores.head - 1.0) < 1e-9,
        s"qid $qid self-match missing")
    }
  }

  test("ivf_merge_apply: rank lists complete after the file move; self-match absent ONLY for absorbed-cell queries") {
    // two regressions this pins: (1) one write job emits the SAME
    // part-file name into every partition directory, so a bare rename
    // into the survivor's directory silently replaced a file (rows
    // vanished from rank lists) — the tagged rename keeps all; (2) the
    // merge's recall trade is EXACTLY scoped: a query loses its
    // self-match iff its own flat-argmin cell is the absorbed one and
    // the survivor's entry isn't among its probes — never otherwise
    import graft.operators.VectorSearch
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rows = IvfIndex.ivfMergeApply(spark, sfDir).collect()
    val cents = IvfIndex.centroidsFor(spark, sfDir, 16)
    val (_, absorb) = IvfIndex.mergePairFor(spark, sfDir)
    val qVecs = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < VectorSearch.NQueries)
      .select(col("vec_id").cast("long"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val k = VectorSearch.K
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to k), s"qid $qid ranks")
      val selfLeads = sorted.head.getLong(1) == qid &&
        math.abs(sorted.head.getDouble(2) - 1.0) < 1e-9
      if (!selfLeads)
        assert(IvfIndex.nearest(cents, qVecs(qid)) == absorb,
          s"qid $qid lost its self-match but does NOT live in the absorbed cell")
    }
  }

  test("stream_cell_stats == batch ivf_cell_stats row-for-row (same deterministic codebook)") {
    val stream = graft.streaming.StreamingQueries.streamCellStats(spark, sfDir).collect()
    val batch = IvfIndex.ivfCellStats(spark, sfDir).collect()
    assert(stream.length == batch.length && stream.nonEmpty)
    stream.zip(batch).foreach { case (s0, b0) => assert(s0 == b0) }
  }

  test("nearestNIds: extended-codebook probe ranking breaks distance ties by id") {
    val entries = Array(
      (7, Array(1.0, 0.0)), (3, Array(1.0, 0.0)), (9, Array(0.0, 1.0)))
    assert(IvfIndex.nearestNIds(entries, Array(1.0, 0.0), 2).toSeq == Seq(3, 7))
    assert(IvfIndex.nearestNIds(entries, Array(0.0, 1.0), 1).toSeq == Seq(9))
  }

  test("device_dim carries the reference's mobile-tier catalog rows (projection.py:439-455)") {
    val rows = Multiscale.deviceDim(spark, sfDir)
      .filter(col("device").startsWith("tier_"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val want = Map("tier_high" -> 512, "tier_mid" -> 256, "tier_low" -> 128,
      "tier_ultra_low" -> 64, "tier_unknown" -> 256)
    assert(rows.map(t => t._1 -> t._2).toMap == want)
    rows.foreach { case (_, d, bytes) => assert(bytes == 100000L * d * 2) }
  }
}
