package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class IvfLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the corpus-count memo follows the source stamp, not the path") {
    val dir = Files.createTempDirectory("graft_ivf_count")
    val table = dir.resolve("embeddings.parquet")
    Files.copy(Paths.get(SparkTestSession.Sf0001, "embeddings.parquet"), table)
    val full = spark.read.parquet(table.toString).count()
    assert(full > 10L)
    assert(IvfLayout.corpusCount(spark, dir.toString) === full)
    // regenerate the fixture at the same path with fewer rows; the
    // stamp is memoized per JVM, so the cross-session regeneration is
    // simulated through the test hook
    val staged = Files.createTempDirectory("graft_ivf_staged").resolve("t")
    spark.read.parquet(table.toString).limit(10).coalesce(1)
      .write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, table, StandardCopyOption.REPLACE_EXISTING)
    SourceLayout.uncacheStamp(dir.toString)
    assert(IvfLayout.corpusCount(spark, dir.toString) === 10L)
  }
}
