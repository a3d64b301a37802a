package graft.gen

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Page
import graft.text.TextExtract

/**
 * Deterministic Common-Crawl-style corpus of shape
 * (url string, warc_ts timestamp, html binary, text string, lang string) —
 * BASELINE.json `input_hint`. Derived 1:1 from the driver-provided
 * `documents` table (doc_id, text, lang, source, n_chars), entirely inside
 * executors (a distributed map, no driver materialization), so the corpus
 * scales with the sf directory and is identical across partition counts.
 *
 * The per-row invariant holds by construction and is property-tested:
 * `TextExtract.extractText(html) == text` byte-identically per url.
 */
object CorpusGen {

  val BaseEpochMs: Long = 1704067200000L // 2024-01-01T00:00:00Z, fixed

  def htmlFor(docId: Long, text: String, lang: String, source: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(text.length + 256)
    sb.append("<html><head><title>doc ").append(docId)
      .append("</title><style>body{margin:0}</style>")
      .append("<script>var docId=").append(docId).append(";</script></head><body>")
    // split the document into <p> blocks every ~12 tokens to exercise the
    // block-tag newline handling; extraction yields one line per <p>
    val toks = TextExtract.splitChar(text, ' ')
    var i = 0
    while (i < toks.length) {
      sb.append("<p>")
      val end = math.min(i + 12, toks.length)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(TextExtract.escapeHtml(toks(j)))
        j += 1
      }
      sb.append("</p>")
      i = end
    }
    sb.append("<!-- source=").append(source).append(" lang=").append(lang)
      .append(" --></body></html>")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The text the extractor must reproduce for htmlFor's output. */
  def expectedText(text: String): String = {
    val toks = TextExtract.splitChar(text, ' ').filter(_.nonEmpty)
    toks.grouped(12).map(_.mkString(" ")).mkString("\n")
  }

  /** Build the pages table from `documents.parquet` under `sfDir`. The
    * read names the four columns it uses and their types, so Spark runs no
    * job to infer the file's schema. */
  def pages(spark: SparkSession, sfDir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING")
      .parquet(s"$sfDir/documents.parquet")
      .as[(Long, String, String, String)]
      .map { case (id, text, lang, source) =>
        val html = htmlFor(id, text, lang, source)
        Page(
          url = s"https://crawl.example.org/$lang/$source/doc$id",
          warc_ts = new java.sql.Timestamp(BaseEpochMs + id * 1000L),
          html = html,
          text = expectedText(text),
          lang = lang
        )
      }
  }
}
