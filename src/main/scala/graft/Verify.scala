package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — local iteration
    // only (the driver always passes exactly sfDir + outDir)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Bench.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The driver's checker row-sorts results with pandas before
        // hashing; nested cells (array/map/struct) are unhashable there
        // and fail the gate even when values match. Refuse them here so
        // the failure is loud and local, not a burned round.
        val nested = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
                    f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
                    f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] => f.name
        }
        require(nested.isEmpty,
          s"non-scalar output columns ${nested.mkString(",")} — serialize " +
            "with array_join/to_json in both engines (driver checker cannot hash them)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every declared query, so harnesses can distinguish
    // "query errored" from "query has no oracle"
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted
        .filter(k => only.forall(_.contains(k)))
        .map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
