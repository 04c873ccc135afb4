package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Freezes the `main` entry points of src/main. The harness ones run on
  * Bench's shared core (session, warm, reset, select); a new one-off
  * probe main fails here — time queries with QueryTime and record
  * findings in SCALING.md instead. */
class EntryPointsSpec extends AnyFunSuite {

  test("src/main's entry points are exactly the frozen set") {
    import scala.jdk.CollectionConverters._
    val mains = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("def main("))
      .map(_.getFileName.toString.stripSuffix(".scala"))
      .toSet
    assert(mains === Set("Bench", "Verify", "PlanAudit", "QueryTime",
      "CatalogIndex", "FlagshipPipeline"))
  }
}
