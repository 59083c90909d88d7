package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast local
    // iteration (the driver always passes two args → full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = Tables.localSession(Tables.localCpus("4"))
    new java.io.File(outDir).mkdirs()
    // Failures must be loud: a query that throws gets a sentinel entry in
    // _FAILED.json (and stderr), never a silently-missing result dir — a
    // missing dir reads as "query absent" downstream and a regression can
    // masquerade as all-green (this bit round 8).
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        try {
          val df = fn(spark, sfDir)
          // catalog invariant: the driver comparator hash-sorts EVERY
          // column — a non-scalar column crashes it (r17's q_bpe_encode),
          // so fail loudly here, before the driver ever sees the row
          val bad = graft.catalog.QueryCatalog.nonScalarColumns(df.schema)
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"non-scalar output column(s) [${bad.mkString(", ")}] — the driver " +
                "comparator cannot sort arrays/structs; serialize through " +
                "array_join (q_array_funcs convention)")
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          failed(name) = msg
          System.err.println(s"[verify] $name FAILED: $msg")
        }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_FAILED.json"), failJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
