package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.{TextStats, Urls}

/** Seeded randomized properties for the curation operators — every case is
  * checked against an independent construction or a brute-force driver
  * computation, never against the operator itself. */
class FuzzSpec extends SparkSpec {

  test("repetitionProfile == brute-force sliding-window counts on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(2024)
    val vocab = Vector("a", "b", "c", "ab", "x")
    val texts = Vector.fill(60) {
      Vector.fill(1 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    def brute(toks: Vector[String], n: Int): Long =
      if (toks.length < n) 0L
      else toks.sliding(n).toSeq.groupBy(identity).values.map(_.size.toLong).max
    val got = TextStats.repetitionProfile(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text"))))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = t.split(" ").toVector
      val want = (brute(toks, 1), brute(toks, 2), brute(toks, 3))
      assert(got(i.toLong) == want, s"doc $i '$t': got ${got(i.toLong)}, want $want")
    }
  }

  test("redactPii counts planted PII exactly on random layouts") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val fillers = Vector("alpha", "beta", "gamma", "delta42", "x.y", "a-b", "10.5", "v2.0.1")
    val cases = (0 until 50).map { i =>
      val nE = rnd.nextInt(3); val nP = rnd.nextInt(3); val nI = rnd.nextInt(3)
      val pii = Vector.fill(nE)(s"u${rnd.nextInt(99)}@ex${rnd.nextInt(9)}.example.org") ++
        Vector.fill(nP)(f"${100 + rnd.nextInt(900)}%d-${100 + rnd.nextInt(900)}%d-${1000 + rnd.nextInt(9000)}%d") ++
        Vector.fill(nI)(s"${1 + rnd.nextInt(223)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${1 + rnd.nextInt(254)}")
      val words = rnd.shuffle(pii ++ Vector.fill(4 + rnd.nextInt(6))(fillers(rnd.nextInt(fillers.length))))
      (i.toLong, words.mkString(" "), nE, nP, nI)
    }
    val got = TextStats.redactPii(
      cases.map { case (id, t, _, _, _) => (id, t) }.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    cases.foreach { case (id, t, nE, nP, nI) =>
      assert(got(id) == ((nE, nP, nI)), s"doc $id '$t': got ${got(id)}, want ($nE,$nP,$nI)")
    }
  }

  test("canonicalize inverts random messy-fications of a canonical URL") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val cases = (0 until 60).map { i =>
      val host = s"h${rnd.nextInt(50)}.site${rnd.nextInt(9)}.org"
      val path = s"/p${rnd.nextInt(100)}/x"
      val realParams = (0 until rnd.nextInt(3)).map(j => s"k$j=${rnd.nextInt(100)}")
      val canonical = s"https://$host$path" +
        (if (realParams.nonEmpty) "?" + realParams.sorted.mkString("&") else "")
      // mess it up: case, www, :443, tracking params, shuffled order, fragment
      val tracking = (0 until rnd.nextInt(3)).map(j => s"utm_c$j=${rnd.nextInt(9)}") ++
        (if (rnd.nextBoolean()) Seq(s"ref=r${rnd.nextInt(9)}") else Nil)
      val allParams = rnd.shuffle(realParams ++ tracking)
      val messyHost = (if (rnd.nextBoolean()) "WWW." else "") +
        host.map(c => if (rnd.nextBoolean()) c.toUpper else c) +
        (if (rnd.nextBoolean()) ":443" else "")
      val messy = (if (rnd.nextBoolean()) "HTTPS" else "https") + s"://$messyHost$path" +
        (if (allParams.nonEmpty) "?" + allParams.mkString("&") else "") +
        (if (rnd.nextBoolean()) s"#f${rnd.nextInt(9)}" else "")
      (i.toLong, messy, canonical)
    }
    val got = Urls.canonicalize(
      cases.map { case (id, m, _) => (id, m) }.toDF("doc_id", "url"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    cases.foreach { case (id, messy, canonical) =>
      assert(got(id) == canonical, s"'$messy': got '${got(id)}', want '$canonical'")
    }
  }

  test("char_ngrams == HOF substr on random unicode (multibyte + astral)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val alphabet = "abß語é😀𝔘-. "
    val cps = alphabet.codePoints().toArray
    val texts = Vector.fill(40) {
      val n = rnd.nextInt(30)
      val sb = new java.lang.StringBuilder
      (0 until n).foreach(_ => sb.appendCodePoint(cps(rnd.nextInt(cps.length))))
      sb.toString
    }
    for (n <- Seq(2, 3)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val hof = when(length(col("text")) >= n,
        transform(sequence(lit(1), length(col("text")) - (n - 1)),
          i => col("text").substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
      df.select(col("id"), GraftFunctions.char_ngrams(col("text"), n).as("native"),
          hof.as("hof"))
        .collect()
        .foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n id=${r.getLong(0)} '${texts(r.getLong(0).toInt)}'"))
    }
  }

  test("conllCounts == perl scorer across random seeds and modes") {
    val scorer = "/root/reference/NeuralNERMono/eval/conll03eval.v2"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(scorer)))
    val pool = Vector("O", "O", "LOC", "PER", "B-PER", "I-PER", "E-PER", "S-LOC", "MISC")
    for (seed <- Seq(1, 2, 3); raw <- Seq(false, true)) {
      val rnd = new scala.util.Random(seed)
      val sentences = Vector.fill(40) {
        Vector.fill(1 + rnd.nextInt(8))(("w" + rnd.nextInt(30),
          pool(rnd.nextInt(pool.length)), pool(rnd.nextInt(pool.length))))
      }
      val tmp = java.nio.file.Files.createTempFile("fuzzconll", ".txt")
      java.nio.file.Files.write(tmp,
        (sentences.map(_.map { case (t, g, p) => s"$t $g $p" }.mkString("\n"))
          .mkString("\n\n") + "\n").getBytes("UTF-8"))
      val cmd = if (raw) Seq("perl", scorer, "-r") else Seq("perl", scorer)
      val proc = new ProcessBuilder(cmd: _*).redirectInput(tmp.toFile).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      proc.waitFor()
      val h = """processed (\d+) tokens with (\d+) phrases; found: (\d+) phrases; correct: (\d+)\.""".r
        .findFirstMatchIn(out).getOrElse(fail(s"no output seed=$seed raw=$raw"))
      val got = graft.ner.Bioes.conllCounts(
        sentences.map(_.map { case (_, g, p) => (g, p) }), raw)
      assert((got.tokens, got.foundCorrect, got.foundGuessed, got.correctChunk) ==
        ((h.group(1).toLong, h.group(2).toLong, h.group(3).toLong, h.group(4).toLong)),
        s"seed=$seed raw=$raw: $got vs ${h.matched}")
    }
  }

  test("greedy BPE apply invariants on random corpora: lossless, rank-consistent") {
    import spark.implicits._
    import graft.ops.Bpe
    val rnd = new scala.util.Random(515)
    val alpha = "abcde"
    for (trial <- 1 to 4) {
      val texts = Vector.fill(40)(Vector.fill(1 + rnd.nextInt(8))(
        Vector.fill(1 + rnd.nextInt(9))(alpha(rnd.nextInt(alpha.length))).mkString).mkString(" "))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val merges = Bpe.train(df, numMerges = 10 + rnd.nextInt(20), minPairFreq = 1L)
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      val rank = merges.zipWithIndex.toMap
      val rows = Bpe.segment(df, merges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[String](3))).toSeq
      rows.foreach { case (id, nTok, nSub, subs) =>
        val words = texts(id.toInt).split(" ").filter(_.nonEmpty)
        // LOSSLESS: subwords concatenate back to the original words in order
        assert(subs.mkString == words.mkString, s"trial $trial doc $id lossy")
        assert(nTok == words.length.toLong && nSub == subs.length.toLong)
        // RANK-CONSISTENT (fixpoint): no adjacent subword pair inside one
        // word still has a learned rank (greedy apply must exhaust merges).
        // Reconstruct per-word boundaries by walking lengths.
        var si = 0
        words.foreach { w =>
          val b = Vector.newBuilder[String]
          var len = 0
          while (len < w.length) { b += subs(si); len += subs(si).length; si += 1 }
          val ws = b.result()
          ws.zip(ws.drop(1)).foreach { p =>
            assert(!rank.contains(p), s"trial $trial doc $id '$w': unapplied merge $p in $ws")
          }
        }
      }
      // twin agreement on the same random corpus (merge lists trained equal)
      val seqDocs = texts.zipWithIndex.map { case (t, i) =>
        graft.golden.SequentialTwin.Doc(i.toLong, t, "en", "s") }
      val twin = graft.golden.SequentialTwin
        .q61BpeSegment(seqDocs, numMerges = merges.length, minPairFreq = 1L)
        .map(t => (t._1, t._2, t._3, t._4)).toSet
      val gotSet = rows.map { case (id, nT, nS, subs) => (id, nT, nS, subs.mkString(" ")) }.toSet
      assert(gotSet == twin, s"trial $trial twin divergence")
      // VOCABULARY CLOSURE: encoding the training corpus under its own
      // induced vocabulary never produces an unknown id
      val vocab = Bpe.vocabulary(merges, Bpe.baseSymbols(df))
      val encoded = Bpe.encodeIds(df, merges, vocab).collect()
        .flatMap(_.getSeq[Int](2))
      assert(encoded.nonEmpty && !encoded.contains(-1),
        s"trial $trial: unknown id under the corpus's own vocabulary")
    }
  }

  test("ngramCounts == brute-force sliding-window counts on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(808)
    for (trial <- 1 to 3) {
      val n = 1 + rnd.nextInt(3)
      val texts = Vector.fill(50)(
        Vector.fill(rnd.nextInt(12))("t" + rnd.nextInt(7)).mkString(" "))
      val brute = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      texts.foreach { t =>
        val toks = t.split(" ", -1)
        if (toks.length >= n)
          toks.sliding(n).foreach(w => brute(w.mkString(" ")) += 1L)
      }
      val want = brute.toSeq.sortBy { case (g, c) => (-c, g) }.take(20)
      val got = TextStats.ngramCounts(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
          n, topK = 20)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == want, s"trial $trial n=$n: $got vs $want")
    }
  }

  test("dedupParagraphs == two-pass driver twin on random paragraph corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    val rnd = new scala.util.Random(727)
    for (trial <- 1 to 3) {
      val docs = (0L until 60L).map { id =>
        val paras = Vector.fill(1 + rnd.nextInt(6))(
          Vector.fill(1 + rnd.nextInt(4))("p" + rnd.nextInt(12)).mkString(" "))
        (id, paras.mkString("\n"))
      }
      val df = docs.toDF("doc_id", "text")
      def rows(x: org.apache.spark.sql.DataFrame) = x.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val first = scala.collection.mutable.HashMap.empty[String, (Long, Int)]
      docs.foreach { case (id, t) =>
        t.split("\n", -1).zipWithIndex.foreach { case (p, i) =>
          if (!first.contains(p)) first(p) = (id, i)
        }
      }
      val want = docs.map { case (id, t) =>
        val ps = t.split("\n", -1)
        val kept = ps.zipWithIndex.collect { case (p, i) if first(p) == ((id, i)) => p }
        (id, ps.length.toLong, (ps.length - kept.length).toLong, kept.mkString("\n"))
      }.toSet
      assert(rows(Dedup.dedupParagraphs(df)) == want, s"trial $trial")
      assert(rows(Dedup.dedupParagraphs(df.repartition(5))) == want,
        s"trial $trial repartitioned")
    }
  }

  test("semDedup == sequential twin on random embeddings across thresholds and blockings") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(31337)
    for ((threshold, blocks) <- Seq((0.9, 2), (0.7, 3), (0.5, 5))) {
      val vecs = (0L until 80L).map { i =>
        val base = rnd.nextInt(6)
        (i, Array.tabulate(8)(d => (if (d == base) 5f else 0f) + rnd.nextFloat() * 0.8f))
      }
      val got = Similarity.semDedup(vecs.toDF("vec_id", "embedding"),
          threshold = threshold, nList = 8, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val twin = graft.golden.SequentialTwin
        .q67SemDedup(vecs, threshold = threshold, nList = 8).toSet
      assert(got == twin,
        s"t=$threshold B=$blocks: ${(got diff twin).take(3)} / ${(twin diff got).take(3)}")
    }
  }

  test("excise_positions == driver filter on random removal sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val rows = (0L until 80L).map { id =>
      val n = rnd.nextInt(40)
      val toks = Vector.tabulate(n)(i => s"w$i")
      val rem = Vector.fill(rnd.nextInt(12))(rnd.nextInt(n + 6) - 3).sorted
      (id, toks, rem)
    }
    val got = rows.toDF("id", "toks", "removed")
      .select(col("id"),
        GraftFunctions.excise_positions(col("toks"), col("removed")).as("out"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    rows.foreach { case (id, toks, rem) =>
      val want = toks.zipWithIndex.collect { case (t, i) if !rem.contains(i) => t }
      assert(got(id) == want, s"id=$id rem=$rem")
    }
  }
}
