package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filter for fast local
    // single-query iteration (driver always runs the full suite)
    val selected = Bench.select(
      args.lift(2).fold(Set.empty[String])(_.split(",").toSet))
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      // remove any PREVIOUS run's output first: if this query now
      // throws, a stale parquet dir would make the driver compare old
      // results and mask the regression as green
      val target = Paths.get(s"$outDir/${q.name}")
      if (Files.exists(target)) {
        import scala.jdk.CollectionConverters._
        Files.walk(target).iterator().asScala.toSeq.reverse
          .foreach(Files.delete)
      }
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      Bench.reset(spark)
    }
    val json = selected
      .flatMap(q => q.oracle.map(sql => s"${jsonString(q.name)}: ${jsonString(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in an oracle's SQL would otherwise
    * make the reader's json.load fail and silently zero the
    * correctness compare. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
