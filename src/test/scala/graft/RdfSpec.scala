package graft

import graft.kg.Rdf
import graft.ops.Dedup

class RdfSpec extends SparkSpec {

  private def df(rows: Seq[(Long, String, Long, String)]) = {
    import spark.implicits._
    rows.toDF("subj", "pred", "obj", "url").repartition(3)
  }

  test("serialize: exact line format") {
    val lines = Rdf.toNQuads(df(Seq((7L, "is", 9L, "https://x.example/a"))))
      .collect().map(_.getString(0))
    assert(lines.toSeq === Seq(
      "<http://graft.kg/e/7> <http://graft.kg/p/is> <http://graft.kg/e/9> <https://x.example/a> ."))
  }

  test("round-trip: clean rows and bag semantics (duplicates preserved)") {
    val rows = Seq((1L, "is", 2L, "https://a"), (1L, "is", 2L, "https://a"),
      (3L, "has", 4L, "https://b"))
    val back = Rdf.fromNQuads(Rdf.toNQuads(df(rows)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(back.sorted.toSeq === rows.sorted)
  }

  test("round-trip: every escapable character survives exactly") {
    val nasty = "a%b\\c<d>e\"f{g}h|i^j`k l%25m%%5C" // incl. strings that LOOK pre-encoded
    val rows = Seq((5L, nasty, 6L, s"https://h/$nasty"))
    val back = Rdf.fromNQuads(Rdf.toNQuads(df(rows)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(back.toSeq === rows)
    // and the emitted line is a legal single statement: no raw forbidden
    // chars left inside any IRI slot, exactly the 4 separator spaces
    val line = Rdf.toNQuads(df(rows)).collect().head.getString(0)
    val inside = "<([^>]*)>".r.findAllMatchIn(line).map(_.group(1)).mkString
    assert(!inside.exists(c => "\\\"{}|^` <>".contains(c) || c.isControl))
    assert(line.count(_ == ' ') === 4)
  }

  test("control characters quarantine loudly, clean rows still emit") {
    Dedup.lastDropReport.remove("nquads")
    val rows = Seq((1L, "is", 2L, "https://ok"), (3L, "bad\tpred", 4L, "https://ok"),
      (5L, "is", 6L, "https://bad\nurl"))
    val lines = Rdf.toNQuads(df(rows)).collect()
    assert(lines.length === 1)
    assert(lines.head.getString(0).contains("/e/1>"))
    assert(Dedup.lastDropReport("nquads")._1 === 2L)
  }

  test("malformed lines parse to null fields") {
    import spark.implicits._
    val parsed = Rdf.fromNQuads(Seq("not a statement",
      "<http://graft.kg/e/1> <http://graft.kg/p/is> <http://graft.kg/e/2> <https://a> .")
      .toDF("line")).collect()
    val bad = parsed.find(_.isNullAt(0)).get
    assert(bad.isNullAt(1) && bad.isNullAt(2) && bad.isNullAt(3))
    val good = parsed.find(!_.isNullAt(0)).get
    assert((good.getLong(0), good.getString(1), good.getLong(2), good.getString(3)) ===
      ((1L, "is", 2L, "https://a")))
  }
}
