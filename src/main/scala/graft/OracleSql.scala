package graft

/** Generators for DuckDB oracle SQL that is BIT-IDENTICAL to the Scala
  * kernels: vector reductions are unrolled into left-associated `+`
  * chains (t1 + t2 + … + tN), which IEEE-754 matches a sequential
  * double accumulation loop exactly — no rounding tolerance needed.
  * Monetary aggregates use scaled-integer (cents) arithmetic so sums
  * are order-independent and exact in both engines.
  */
object OracleSql {
  /** A graded key's DuckDB twin, built from the same (session, corpus)
    * its query reads. Trained twins call their query's catalogued
    * build functions (graft.Catalog), so a twin is independent of run
    * order. */
  type Twin = (org.apache.spark.sql.SparkSession, String) => String

  /** Twins that need no build: fixed SQL. */
  def fixed(m: Map[String, String]): Map[String, Twin] =
    m.map { case (k, sql) => k -> ((_: org.apache.spark.sql.SparkSession, _: String) => sql) }

  /** Embedding dimensionality of the testdata `embeddings` table. */
  val Dim = 64

  private def terms(dim: Int)(t: Int => String): String =
    (1 to dim).map(t).mkString("(", " + ", ")")

  /** Unrolled Σ a[i]·b[i] in double. */
  def dot(a: String, b: String, dim: Int = Dim): String =
    terms(dim)(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")

  /** Unrolled Σ a[i]² then sqrt. */
  def norm(a: String, dim: Int = Dim): String = s"sqrt(${dot(a, a, dim)})"

  /** cosine similarity, same association as CosineSimD / Knn loops. */
  def cosine(a: String, b: String, dim: Int = Dim): String =
    s"(${dot(a, b, dim)} / (${norm(a, dim)} * ${norm(b, dim)}))"

  /** Unrolled Σ (a[i]−b[i])². */
  def l2sq(a: String, b: String, dim: Int = Dim): String =
    terms(dim)(i =>
      s"(CAST($a[$i] AS DOUBLE)-CAST($b[$i] AS DOUBLE))*(CAST($a[$i] AS DOUBLE)-CAST($b[$i] AS DOUBLE))")

  /** Double literal that DuckDB parses as DOUBLE with full 17-digit
    * round-trip fidelity (bare decimals parse as DECIMAL and lose the
    * 17th digit; exponent notation forces DOUBLE). */
  def dlit(d: Double): String = {
    val s0 = d.toString
    val s = if (s0.contains('E') || s0.contains('e')) s0 else s0 + "e0"
    // parenthesize negatives: "x--0.5e0" would start a SQL comment
    if (d < 0) s"($s)" else s
  }

  /** Unrolled Σ (v[offset+j]−c_j)² against LITERAL centroid components
    * — same i-ascending left association as IvfIndex.nearest's loop. */
  def l2sqLit(v: String, c: Array[Double], offset: Int = 0): String =
    c.indices.map { j =>
      val t = s"(CAST($v[${offset + j + 1}] AS DOUBLE)-${dlit(c(j))})"
      s"$t*$t"
    }.mkString("(", " + ", ")")

  /** [d_0 … d_{k−1}] list of squared distances to each literal
    * centroid; first-wins argmin = list_position(dl, list_min(dl))−1,
    * matching the engine's strict-< scan. */
  def distList(v: String, centroids: Array[Array[Double]], offset: Int = 0): String =
    centroids.map(c => l2sqLit(v, c, offset)).mkString("[", ", ", "]")

  /** Unrolled Σ v[offset+j]·c_j against LITERAL centroid components —
    * the dot-product LUT entry for ADC similarity scoring (same
    * j-ascending left association as the engine's driver-side LUT
    * build loop). */
  def dotLit(v: String, c: Array[Double], offset: Int = 0): String =
    c.indices.map(j => s"CAST($v[${offset + j + 1}] AS DOUBLE)*${dlit(c(j))}")
      .mkString("(", " + ", ")")

  /** [d_0 … d_{k−1}] list of dot products with each literal centroid —
    * a query token's per-subspace ADC LUT, indexable by code+1. */
  def dotList(v: String, centroids: Array[Array[Double]], offset: Int = 0): String =
    centroids.map(c => dotLit(v, c, offset)).mkString("[", ", ", "]")
}
