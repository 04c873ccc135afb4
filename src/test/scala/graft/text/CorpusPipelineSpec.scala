package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.Tables

/** End-to-end invariants of the q284 curation composition — the
  * properties that must hold for ANY corpus, checked on the fixture
  * (the funnel's exact values are DuckDB-hash-verified at the gate;
  * these are the structural guarantees the hash can't articulate).
  */
class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val stages = CorpusPipeline.stages(docs).toMap
  private lazy val funnel = CorpusPipeline.funnel(docs)
    .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("funnel covers every stage and shrinks monotonically") {
    val order = Seq("a_ingest", "b_exact_dedup", "c_near_dedup",
      "d_quality", "e_decontaminated", "f_mixed", "g_packed")
    assert(funnel.keySet === order.toSet)
    order.init.sliding(2).foreach { case Seq(a, b) =>
      assert(funnel(b)._1 <= funnel(a)._1, s"$b grew vs $a")
      assert(funnel(b)._2 <= funnel(a)._2, s"$b tokens grew vs $a")
    }
    // the gate is real: these stages actually drop something on the
    // fixture (a stage that filters nothing tests nothing). The
    // sf0.001 fixture has no exact-duplicate training docs, so the
    // exact-dedup stage's drop is exercised by sf0.1 and by the
    // amplified corpus (20% exact-copy variants) of SCALING.md's
    // "Corpus curation pipeline end-to-end".
    Seq("c_near_dedup", "d_quality", "f_mixed").foreach {
      st =>
        val prev = order(order.indexOf(st) - 1)
        assert(funnel(st)._1 < funnel(prev)._1, s"$st dropped no docs")
    }
  }

  test("packing conserves the mixed corpus' tokens exactly") {
    assert(funnel("g_packed")._2 === funnel("f_mixed")._2)
    // bins ≥ ceil(tokens/budget): start-offset packing can open extra
    // bins but never fabricate capacity
    val minBins = (funnel("f_mixed")._2 + CorpusPipeline.PackBudget - 1) /
      CorpusPipeline.PackBudget
    assert(funnel("g_packed")._1 >= minBins)
  }

  test("no two survivors share a normalized content hash") {
    val dup = stages("b_exact_dedup")
      .groupBy(md5(Dedup.normalized(col("text")).cast("binary")))
      .count().filter(col("count") > 1).count()
    assert(dup === 0L)
  }

  test("no near-dup pair survives the component-keeper stage") {
    assert(Dedup.jaccardPairs(stages("c_near_dedup"),
      CorpusPipeline.NearDupThreshold).count() === 0L)
  }

  test("every mixed survivor passes the quality gate and is clean") {
    val mk = stages("f_mixed")
    val nonPass = CorpusPipeline.withQualityReason(mk)
      .filter(col("reason") =!= "pass").count()
    assert(nonPass === 0L)
    val bench = Dedup.shingleRows(CorpusPipeline.evalSide(docs))
      .select(col("sh")).distinct()
    val contaminated = Dedup.shingleRows(mk)
      .join(bench.withColumn("hit", lit(1)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg((sum(coalesce(col("hit"), lit(0))) * 1.0 / count(lit(1)))
        .as("frac"))
      .filter(col("frac") >= CorpusPipeline.ContaminationCutoff).count()
    assert(contaminated === 0L)
  }

  test("layout-fed funnel equals the derived funnel") {
    // the catalog entry feeds the write-once Shingle/Pairs layouts;
    // shingles are per-doc rows and Jaccard is a pairwise property, so
    // semi-join filters of the full-corpus tables must be
    // value-identical to deriving both from each stage's subset
    val layoutFed = CorpusPipeline.funnel(docs,
        corpusShingles = Some(graft.sources.ShingleLayout.shingles(spark, sf)),
        corpusPairs = Some(graft.sources.PairsLayout.jaccardPairs(spark, sf,
          CorpusPipeline.NearDupThreshold)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val derived = funnel.toSeq.sortBy(_._1)
      .map { case (s, (d, t)) => (s, d, t) }
    assert(layoutFed.sortBy(_._1).toSeq === derived)
  }

  test("LSH regime: identical prefix, superset survivors downstream") {
    val lsh = CorpusPipeline.funnel(docs, useLsh = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // pair source doesn't touch the first two stages
    assert(lsh("a_ingest") === funnel("a_ingest")._1)
    assert(lsh("b_exact_dedup") === funnel("b_exact_dedup")._1)
    // banded candidates are exact-verified, so LSH pairs ⊆ exact pairs
    // → components only split → keepers form a superset; stages d–f
    // filter per-doc, preserving the superset. Recall is pinned ≥0.95
    // (the q202 parity convention — at 64 hashes / 32 bands the band
    // threshold ≈ 0.18, far under the 0.4 merge threshold).
    Seq("c_near_dedup", "d_quality", "e_decontaminated", "f_mixed")
      .foreach { st =>
        assert(lsh(st) >= funnel(st)._1, s"$st lost docs under LSH")
        assert(lsh(st) <= math.ceil(funnel(st)._1 / 0.95).toLong,
          s"$st: LSH kept ${lsh(st)} vs exact ${funnel(st)._1} — recall under 0.95")
      }
  }
}
