package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q103,q38 → dump just those queries (local
    // iteration; the driver sets nothing and gets the full dump)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(keys) => SparkEntry.queries.filter { case (n, _) =>
        keys.exists(k => n == k || n.startsWith(k + "_")) }
      case None => SparkEntry.queries
    }
    val failed = scala.collection.mutable.SortedSet.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += Bench.shortKey(name)
      }
    }
    // one summary line, "[]" when nothing threw (Bench's "failed" list)
    System.err.println(s"[verify] failed: ${failed.mkString("[", ",", "]")}")
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
    // dump only the selected queries' oracles: a filtered dump with the
    // FULL oracle map would make check.py count every unselected query
    // as MISSING (or worse, silently compare a stale prior dump)
    val selectedOracles = SparkEntry.oracleSql.filter {
      case (k, _) => selected.contains(k)
    }
    val json = selectedOracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
