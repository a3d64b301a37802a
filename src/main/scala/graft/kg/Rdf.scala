package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * RDF N-Quads interchange (W3C N-Quads, the line-oriented KG exchange
 * format every triple store ingests): serialize the materialized triple
 * table to `<subj> <pred> <obj> <graph> .` lines (graph = provenance url)
 * and parse such lines back — the KG equivalent of the JSONL source/sink.
 *
 * Escaping: IRI-forbidden printable characters (`%` `\` `<` `>` `"` `{`
 * `}` `|` `^` `` ` `` and space) are percent-encoded in the predicate and
 * graph positions via a chain of codegen'd literal `replace`s (encoding
 * `%` FIRST makes the map prefix-free, so decoding — other escapes first,
 * `%25` last — is an exact inverse: after encoding, every `%` is followed
 * by `25` or an encoder escape code, so no false decode match exists).
 * Rows carrying CONTROL characters (u0000-u001F, u007F) in either
 * position are N-Quads-unrepresentable without lossy mangling: they are
 * EXCLUDED and reported loudly ([[graft.ops.Dedup.lastDropReport]]
 * ("nquads"), the shared convention) — quarantine, never silently corrupt.
 *
 * Scale shape: serialization is a pure per-row projection (zero shuffle,
 * whole-stage codegen'd string ops); parsing is one regexp_extract pass.
 * Subject/object are entity-id IRIs under `base`; the graft KG keeps
 * entities as longs, so round-tripping is exact.
 */
object Rdf {

  private val EscapeMap: Seq[(String, String)] = Seq(
    "%" -> "%25", "\\" -> "%5C", "<" -> "%3C", ">" -> "%3E", "\"" -> "%22",
    "{" -> "%7B", "}" -> "%7D", "|" -> "%7C", "^" -> "%5E", "`" -> "%60",
    " " -> "%20")

  private def enc(c: Column): Column =
    EscapeMap.foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }

  private def dec(c: Column): Column =
    (EscapeMap.tail.reverse :+ EscapeMap.head)
      .foldLeft(c) { case (acc, (to, from)) => replace(acc, lit(from), lit(to)) }

  private val ControlChars = "[\\x00-\\x1F\\x7F]"

  /**
   * @param triples rows with (subj: long, pred: string, obj: long,
   *                url: string); emitted line-per-row (bag semantics —
   *                duplicate mentions serialize as duplicate statements;
   *                `.distinct()` upstream for set semantics)
   * @return one `line: string` column of N-Quads statements
   */
  def toNQuads(triples: DataFrame, base: String = "http://graft.kg/"): DataFrame = {
    val in = triples.select(col("subj").cast("long"), col("pred"),
      col("obj").cast("long"), col("url")).persist()
    val bad = in.filter(col("pred").rlike(ControlChars) ||
      col("url").rlike(ControlChars))
    val nBad = bad.count()
    graft.ops.Dedup.lastDropReport("nquads") = (nBad, nBad)
    if (nBad > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"[nquads] excluded $nBad statements with control characters in " +
          "pred/url (N-Quads-unrepresentable); see lastDropReport(\"nquads\")")
    val out = in.filter(!(col("pred").rlike(ControlChars) ||
        col("url").rlike(ControlChars)))
      .select(concat(
        lit(s"<${base}e/"), col("subj"),
        lit(s"> <${base}p/"), enc(col("pred")),
        lit(s"> <${base}e/"), col("obj"),
        lit("> <"), enc(col("url")), lit("> .")).as("line"))
      .localCheckpoint(true)
    in.unpersist()
    out
  }

  /** Inverse of [[toNQuads]]: lines that do not match the statement
    * grammar parse to null fields (callers filter or fail on them). */
  def fromNQuads(lines: DataFrame, base: String = "http://graft.kg/"): DataFrame = {
    val b = java.util.regex.Pattern.quote(base)
    val re = s"^<${b}e/(\\d+)> <${b}p/([^>]*)> <${b}e/(\\d+)> <([^>]*)> \\.$$"
    // ANSI mode: cast("" as long) throws, so gate every field on a full
    // grammar match (nulls signal a malformed line)
    val ok = col("line").rlike(re)
    def grp(i: Int) = when(ok, regexp_extract(col("line"), re, i))
    lines
      .withColumn("subj", grp(1).cast("long"))
      .withColumn("pred", dec(grp(2)))
      .withColumn("obj", grp(3).cast("long"))
      .withColumn("url", dec(grp(4)))
      .select(col("subj"), col("pred"), col("obj"), col("url"))
  }
}
