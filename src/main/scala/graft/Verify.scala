package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json (each key's DuckDB twin), for the DuckDB compare.
  * `graft.Verify <sfDir> <outDir> [query...]` restricts both the
  * queries run and the twins built to the named keys, so a subset run
  * trains nothing outside it. A query or twin that throws is logged
  * and its key skipped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // restrict to named keys
    def selected(name: String): Boolean = only.isEmpty || only(name)
    // Refuse to grade while SURVEY §2 and the registry disagree — a
    // query registered without its inventory line aborts the dump
    // loudly instead of shipping an undocumented green (the drift the
    // test-time gate can only detect after the fact).
    SurveyInventory.driftMessage(SparkEntry.queries.keySet)
      .foreach(m => throw new IllegalStateException(m))
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // Gate-compat schema guard: the driver hashes CANONICAL STRINGS of
    // each value; DuckDB's pandas bridge renders DECIMAL(38,0) as
    // float64 ('19863.0') while Spark's parquet decimal128 arrives as
    // Decimal('19863') — identical values, divergent hashes (the exact
    // trap events_corr fell into at r12). Wide decimal arithmetic
    // stays INTERNAL to a query; graded outputs are long/double. A
    // decimal column in any dump aborts the whole dump loudly.
    def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case s: org.apache.spark.sql.types.StructType  => s.fields.exists(f => hasDecimal(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType   => hasDecimal(a.elementType)
      case m: org.apache.spark.sql.types.MapType     => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _ => false
    }
    final class GateSchemaViolation(msg: String) extends IllegalStateException(msg)
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val dec = df.schema.fields.filter(f => hasDecimal(f.dataType)).map(_.name)
        if (dec.nonEmpty) throw new GateSchemaViolation(
          s"[verify] $name emits DecimalType column(s) ${dec.mkString(", ")} — " +
            "graded outputs must be long/double (decimal hashes diverge " +
            "between Spark decimal128 and DuckDB float64 rendering)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch {
        case e: GateSchemaViolation => throw e
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .flatMap { case (name, twin) =>
        try Some(s"${q(name)}: ${q(twin(spark, sfDir))}")
        catch {
          case e: Throwable =>
            System.err.println(s"[verify] $name twin failed: ${e.getMessage}")
            None
        }
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // certification-only twin overrides (prefix-filtered doc-pair
    // oracles); the driver's gate never reads this file
    val scaled = SparkEntry.oracleSqlScaled
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_scaled.json"), scaled)
    spark.stop()
  }
}
