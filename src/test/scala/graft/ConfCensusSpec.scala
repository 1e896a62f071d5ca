package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's own configuration surface: the set of
  * `"spark.graft.*"` string literals under src/main. A new knob (or a
  * removed one) changes the set and fails here until the pin is updated,
  * so every change to the surface shows up in review. */
class ConfCensusSpec extends AnyFunSuite {

  test("spark.graft conf keys read under src/main match the pinned set") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val keys = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r.findAllMatchIn(src).map(_.group(1))
      }.toSet
    val pinned = Set(
      "spark.graft.audit", "spark.graft.audit.maxRows",
      "spark.graft.checkpoint.dir",
      "spark.graft.eagerAgg.enabled", "spark.graft.eagerAgg.minReduction",
      "spark.graft.hintTable.application", "spark.graft.hintTable.enabled",
      "spark.graft.hints.leading.enabled", "spark.graft.hints.rows.enabled",
      "spark.graft.hints.set.cloneScope", "spark.graft.hints.set.enabled",
      "spark.graft.ivf.broadcastK", "spark.graft.orExpansion.enabled",
      "spark.graft.pgp.seedSalt", "spark.graft.pq.codebookDir",
      "spark.graft.pushJoinBelowUnionAll.enabled",
      "spark.graft.rangeJoin.binSize", "spark.graft.semdedup.k")
    assert(pinned.size == 18)
    assert(keys == pinned,
      s"conf census drifted: added ${keys -- pinned}, removed ${pinned -- keys}; " +
        "review the knob, then re-pin")
  }
}
