package graft

import org.scalatest.funsuite.AnyFunSuite

class RunSummarySpec extends AnyFunSuite {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private val root = "/data/run \"7\"\\out\tx"

  test("RunCuration and RunPipeline summaries are valid JSON for any output root") {
    val c = json.readTree(RunCuration.summary(
      Curation.Report(10L, 9L, 8L, 7L, 6L, 5L, Seq("de", "en")), 1.5, 5L, root))
    assert(c.get("out").asText == root)
    assert(c.get("after_repetition").asLong == 5L && c.get("langs").asInt == 2)
    val p = json.readTree(RunPipeline.summary(
      Pipeline.RunReport(Seq("en"), 3, 100L, 2L), 2.25, 42L, useViterbi = true, root))
    assert(p.get("out").asText == root)
    assert(p.get("triples_total").asLong == 42L && p.get("decoder").asText == "viterbi")
  }

  test("RunPipeline accepts only greedy or viterbi as its decoder") {
    assert(!RunPipeline.viterbi(Array("sf", "out")))
    assert(!RunPipeline.viterbi(Array("sf", "out", "greedy")))
    assert(RunPipeline.viterbi(Array("sf", "out", "viterbi")))
    intercept[IllegalArgumentException](RunPipeline.viterbi(Array("sf", "out", "viterbl")))
    intercept[IllegalArgumentException](RunPipeline.viterbi(Array("sf", "out", "Viterbi")))
  }
}
