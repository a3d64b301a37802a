package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the two row-level functions hot enough to
 * matter at 100 TB — both implement `doGenCode` so they stay inside
 * whole-stage codegen spans (a ScalaUDF would break the span and pay
 * catalyst<->scala conversion per row).
 */

/** extract_text(html binary) -> string: the deterministic HTML->text
  * extraction (F10; semantics in graft.text.TextExtract — byte-identical
  * per url, the BASELINE.json per-row invariant). */
case class ExtractText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def checkInputDataTypes() = {
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"extract_text requires binary input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(graft.text.TextExtract.extractText(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.text.TextExtract.extractText($c))")
  override protected def withNewChildInternal(newChild: Expression): ExtractText = copy(newChild)
  override def prettyName: String = "extract_text"
}

/** fingerprint64(text string) -> long: polynomial rolling hash mod 2^61-1
  * (graft.ops.TextStats.fingerprint64) — document fingerprinting without
  * breaking codegen. */
case class Fingerprint64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  def inputTypes: Seq[DataType] = Seq(StringType)
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fingerprint64 requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    graft.ops.TextStats.fingerprint64(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.TextStats.fingerprint64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 = copy(newChild)
  override def prettyName: String = "fingerprint64"
}

/** deflate_len(text string) -> bigint: compressed size of the UTF-8 bytes
  * under DEFLATE level 6, raw (nowrap) — the Gopher-family compression-
  * ratio quality signal (repetitive/templated text compresses far below
  * natural prose; the ratio is a one-pass, vocabulary-free repetition
  * detector). Deterministic for a fixed zlib: the JDK pins one, and the
  * sequential twin shares ONLY this JDK codec (the javax.imageio
  * precedent for in-JDK primitives). */
case class DeflateLen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  def inputTypes: Seq[DataType] = Seq(StringType)
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"deflate_len requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    DeflateLen.compute(v.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateLen.compute($c.getBytes())")
  override protected def withNewChildInternal(newChild: Expression): DeflateLen = copy(newChild)
  override def prettyName: String = "deflate_len"
}

object DeflateLen {
  def compute(bytes: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}

/** cosine_sim(a array<float>, b array<float>) -> double: dot/(|a|*|b|) with
  * double accumulators in array-index order — bit-identical to the
  * zip_with+aggregate formulation and to the sequential twin, but codegen'd
  * (the HOF form is interpreted and dominates LSH verify passes that score
  * hundreds of thousands of candidate pairs). */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    def ok(t: DataType) = t.isInstanceOf[ArrayType] &&
      t.asInstanceOf[ArrayType].elementType == FloatType
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<float> inputs, got ${left.dataType}, ${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSim.compute($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

object CosineSim {
  /** Summation order per accumulator = array index order, double precision —
    * the same operand sequences as the HOF form, hence identical bits. */
  def compute(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** minhash_sigs(shingles array<string>, numHashes) -> array<long>:
  * sig[i] = min over shingles s of xxhash64(i, s) — value-identical to the
  * transform/aggregate HOF formulation (Spark chains xxhash64 left-to-right
  * from seed 42, the Int hashed as a 4-byte block; graft.functions.Xxh64 is
  * property-tested equal), but ONE compiled pass per row: the per-i seeds
  * are precomputed once, each shingle's bytes are extracted once and hashed
  * numHashes times in a tight loop. The HOF form re-evaluated an interpreted
  * expression tree per (i, shingle) — the dominant cost of minhashLsh. */
case class MinhashSigs(child: Expression, numHashes: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(numHashes > 0, "numHashes must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires array<string> input, got $t")
  }
  // seed[i] = xxhash64 chain state after hashing the int i from seed 42
  private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => Xxh64.hashInt(i, Xxh64.SparkSeed))
  override def nullSafeEval(v: Any): Any =
    MinhashSigs.compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seeds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashSigs.compute($c, $seedsRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinhashSigs = copy(child = newChild)
  override def prettyName: String = "minhash_sigs"
}

object MinhashSigs {
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData,
              seeds: Array[Long]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Long](seeds.length)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      // a null element leaves the chain at its seed (Spark hash functions
      // skip null inputs) — cannot occur for shingle arrays, kept for parity
      val isNull = arr.isNullAt(j)
      val bytes = if (isNull) null else arr.getUTF8String(j).getBytes
      var i = 0
      while (i < seeds.length) {
        val h = if (isNull) seeds(i) else Xxh64.hashBytes(bytes, seeds(i))
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** simhash64(text string) -> long: 64-bit SimHash over the whitespace
  * tokens — value-identical to the split/transform/aggregate HOF
  * formulation (split(text, ' ') keep-all semantics, per-token xxhash64
  * from seed 42, +1/-1 bit votes, sign -> bit), in one compiled pass. */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    Simhash64.compute(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Simhash64.compute($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): Simhash64 = copy(newChild)
  override def prettyName: String = "simhash64"
}

object Simhash64 {
  def compute(text: String): Long = {
    val toks = text.split(" ", -1) // Spark split(text, ' '): keeps empties
    val votes = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = Xxh64.hashString(toks(t), Xxh64.SparkSeed)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      t += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
    sim
  }
}

/** signlsh_bits(embedding array<float>, weights) -> array<int>: the
  * random-hyperplane sign bits — value-identical to the per-plane
  * zip_with/aggregate HOF formulation (float product per element, double
  * accumulation in array order, sign -> 1/0), all planes in one compiled
  * pass over the vector. The weight matrix is a plan constant (hash-derived
  * hyperplanes, a model artifact). Throws on a vector whose dimension
  * differs from the plane width (ragged embedding tables fail loudly
  * instead of hashing a truncated projection). */
case class SignLshBits(child: Expression, weights: Array[Array[Float]]) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"signlsh_bits requires array<float> input, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    SignLshBits.compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], weights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("signLshWeights", weights, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.SignLshBits.compute($c, $wRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): SignLshBits = copy(child = newChild)
  override def prettyName: String = "signlsh_bits"
}

object SignLshBits {
  def compute(v: org.apache.spark.sql.catalyst.util.ArrayData,
              weights: Array[Array[Float]]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Int](weights.length)
    var p = 0
    while (p < weights.length) {
      val w = weights(p)
      // fail LOUDLY on ragged embedding tables: a partial dot product would
      // silently produce sign bits of a truncated projection (the plane
      // width is probed from one arbitrary row, so a dimension mismatch is
      // a data error, not a configuration choice)
      if (v.numElements() != w.length)
        throw new IllegalArgumentException(
          s"signlsh_bits: embedding dimension ${v.numElements()} != plane width ${w.length} " +
            "(ragged embedding table — all vectors must share one dimension)")
      val n = w.length
      var acc = 0.0
      var i = 0
      while (i < n) {
        // float product THEN widen — the zip_with (x * wv) operand order
        acc += (v.getFloat(i) * w(i)).toDouble
        i += 1
      }
      out(p) = if (acc > 0) 1 else 0
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** word_shingles(tokens array<string>, n) -> array<string>: the distinct
  * word n-grams (n tokens concatenated with no separator, first-occurrence
  * order) — value-identical to the transform(sequence)/concat_ws +
  * array_distinct HOF formulation for non-null input (null input yields
  * null here vs empty array there; every call site filters/explodes, where
  * the two behave identically). One compiled pass with UTF8String concat
  * instead of an interpreted tree per gram — the shingling step dominated
  * the Jaccard/minhash operators once their signatures went native. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(n > 0, "shingle size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires array<string> input, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    WordShingles.compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles = copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

object WordShingles {
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData,
              n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val len = arr.numElements()
    if (len < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[UTF8String]((len - n + 1) * 2)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var k = 0
      while (k < n) {
        // concat_ws("", ...) skips null parts; split output never has them
        parts(k) = if (arr.isNullAt(i + k)) UTF8String.EMPTY_UTF8
                   else arr.getUTF8String(i + k)
        k += 1
      }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** char_ngrams(text string, n) -> array<string>: ALL character n-grams in
  * document order (non-distinct — these feed frequency COUNTS, unlike
  * word_shingles' distinct set semantics). One compiled pass; equals the
  * transform(sequence)/substring HOF formulation for non-null input. */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(n > 0, "ngram size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_ngrams requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    CharNgrams.compute(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharNgrams.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharNgrams = copy(child = newChild)
  override def prettyName: String = "char_ngrams"
}

object CharNgrams {
  /** Code-point-based windows (matching substring() in Spark SQL and DuckDB
    * substr), computed in ONE linear byte walk: code-point boundaries are
    * collected once, each gram is a byte-range slice. (substringSQL per
    * window would rescan from the string head — O(len^2) per document.) */
  def compute(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // boundaries(k) = byte offset of code point k; boundaries(numChars) = nb
    val boundaries = new Array[Int](nb + 1)
    var chars = 0
    var off = 0
    while (off < nb) {
      boundaries(chars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      chars += 1
    }
    boundaries(chars) = nb
    if (chars < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](chars - n + 1)
    var i = 0
    while (i <= chars - n) {
      val start = boundaries(i)
      out(i) = UTF8String.fromBytes(bytes, start, boundaries(i + n) - start)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** lm_gram_score(text string) -> struct<n_grams, freq_sum, mean_logprob>:
  * the char-n-gram rarity of ONE row against a broadcast gram -> count
  * table, with no explode and no join. The windows are `char_ngrams`'; a
  * gram absent from the table counts `floorCount`. `n_grams` counts the
  * windows, `freq_sum` sums their counts, and `mean_logprob` is the mean of
  * log(count / tot) summed in window order from 0.0 — what the
  * explode -> join -> partial `avg(log(...))` plan computes per doc, bit
  * for bit (`log` is StrictMath's there too, and a ratio <= 0 is null to
  * both). Null when the text has no window (that plan has no row then). */
case class LmGramScore(child: Expression,
                       table: org.apache.spark.broadcast.Broadcast[java.util.HashMap[UTF8String, java.lang.Long]],
                       n: Int, floorCount: Long, tot: Double) extends UnaryExpression {
  require(n > 0, "ngram size must be positive")
  override def dataType: DataType = LmGramScore.schema
  override def nullable: Boolean = true
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"lm_gram_score requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    LmGramScore.compute(v.asInstanceOf[UTF8String], table.value, n, floorCount, tot)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("lmTable", table, "org.apache.spark.broadcast.Broadcast")
    val totBits = java.lang.Double.doubleToRawLongBits(tot)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.LmGramScore.compute($c,
         |  (java.util.HashMap) $tRef.value(), $n, ${floorCount}L,
         |  java.lang.Double.longBitsToDouble(${totBits}L));
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): LmGramScore = copy(child = newChild)
  override def prettyName: String = "lm_gram_score"
}

object LmGramScore {
  import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
  val schema: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("freq_sum", LongType, nullable = false),
    StructField("mean_logprob", DoubleType, nullable = true)))

  def compute(s: UTF8String, table: java.util.HashMap[UTF8String, java.lang.Long], n: Int,
              floorCount: Long, tot: Double): org.apache.spark.sql.catalyst.InternalRow = {
    val grams = CharNgrams.compute(s, n)
    val k = grams.numElements()
    if (k == 0) return null
    var freq = 0L
    var logSum = 0.0
    var logs = 0L
    var i = 0
    while (i < k) {
      val c = table.get(grams.getUTF8String(i))
      val e = if (c == null) floorCount else c.longValue
      freq = Math.addExact(freq, e)
      val p = e.toDouble / tot
      if (!(p <= 0.0)) { logSum += StrictMath.log(p); logs += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      k.toLong, freq, if (logs == 0) null else logSum / logs))
  }
}

/** word_ngrams(text string, n) -> array<string>: ALL space-joined n-token
  * windows of `split(text, ' ')` (keep-all split semantics — consecutive
  * spaces yield empty tokens, exactly like the HOF
  * transform/slice/concat_ws form it replaces; value-parity-tested).
  * Unlike `word_shingles` this keeps DUPLICATE windows (counting
  * semantics, not set semantics). One linear byte walk collects token
  * boundaries; each gram is a byte-range slice of the ORIGINAL text
  * (token separators are single 0x20 bytes by construction of the split,
  * so the slice equals the space-rejoin). */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(n > 0, "ngram size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    WordNgrams.compute(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgrams.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordNgrams = copy(child = newChild)
  override def prettyName: String = "word_ngrams"
}

object WordNgrams {
  def compute(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // token k spans [starts(k), ends(k)); separators are single 0x20 bytes
    var nTokens = 1
    var off = 0
    while (off < nb) { if (bytes(off) == ' '.toByte) nTokens += 1; off += 1 }
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    var tok = 0
    starts(0) = 0
    off = 0
    while (off < nb) {
      if (bytes(off) == ' '.toByte) { ends(tok) = off; tok += 1; starts(tok) = off + 1 }
      off += 1
    }
    ends(tok) = nb
    if (nTokens < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](nTokens - n + 1)
    var i = 0
    while (i <= nTokens - n) {
      val start = starts(i)
      out(i) = UTF8String.fromBytes(bytes, start, ends(i + n - 1) - start)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** top_ngram_count(tokens array<string>, n) -> long: the occurrence count of
  * the MOST FREQUENT word n-gram (tokens joined with a single space) —
  * Gopher-style repetition profiling as one compiled per-row pass with no
  * explode/shuffle (the output is per-document, so distributing the gram
  * counting would shuffle |corpus| * |doc| rows to recombine per doc). */
case class TopNgramCount(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(n > 0, "ngram size must be positive")
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"top_ngram_count requires array<string> input, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    TopNgramCount.compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TopNgramCount.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): TopNgramCount = copy(child = newChild)
  override def prettyName: String = "top_ngram_count"
}

object TopNgramCount {
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData, n: Int): Long = {
    val len = arr.numElements()
    if (len < n) return 0L
    val counts = new java.util.HashMap[UTF8String, Array[Long]]((len - n + 1) * 2)
    val parts = new Array[UTF8String](2 * n - 1)
    val space = UTF8String.fromString(" ")
    var best = 0L
    var i = 0
    while (i <= len - n) {
      var k = 0
      while (k < n) {
        parts(2 * k) = if (arr.isNullAt(i + k)) UTF8String.EMPTY_UTF8
                       else arr.getUTF8String(i + k)
        if (k < n - 1) parts(2 * k + 1) = space
        k += 1
      }
      val gram = UTF8String.concat(parts: _*)
      var c = counts.get(gram)
      if (c == null) { c = Array(0L); counts.put(gram, c) }
      c(0) += 1L
      if (c(0) > best) best = c(0)
      i += 1
    }
    best
  }
}

/** excise_positions(tokens array<string>, removed array<int>) -> array<string>:
  * the tokens whose indices are NOT in `removed`, where `removed` is SORTED
  * ascending (removeDupSpans sorts it) — one merged two-pointer pass,
  * O(n + |removed|). The per-token `filter(toks, (x, i) ->
  * !array_contains(removed, i))` HOF it replaces rescans the removal set
  * per token — O(n * |removed|), quadratic on a document that is mostly
  * duplicated span (value-identical; parity- and pathological-timing
  * tested). Out-of-range or duplicate removal indices are skipped by the
  * merge, matching the HOF's array_contains semantics. */
case class ExcisePositions(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType}
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"excise_positions requires (array<string>, array<int>), got ($l, $r)")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    ExcisePositions.compute(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExcisePositions.compute($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ExcisePositions =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "excise_positions"
}

object ExcisePositions {
  def compute(toks: org.apache.spark.sql.catalyst.util.ArrayData,
              removed: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    val m = removed.numElements()
    val out = new Array[Any](n)
    var i = 0
    var j = 0
    var k = 0
    while (i < n) {
      // advance past removal entries below i (dups / out-of-range negatives)
      while (j < m && removed.getInt(j) < i) j += 1
      if (j < m && removed.getInt(j) == i) j += 1 // excised
      else {
        out(k) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
        k += 1
      }
      i += 1
    }
    val res = if (k == n) out else {
      val t = new Array[Any](k)
      System.arraycopy(out, 0, t, 0, k)
      t
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }
}

/** Shared Bloom-filter hash math (Kirsch–Mitzenmacher double hashing):
  * pos_i = floorMod(h1 + i*h2, m) for i in 0..k-1 with
  * h1 = xxhash64(key, seed), h2 = xxhash64(key, seed+1). Long arithmetic
  * wraps in Java (deterministic), which is exactly why this lives in
  * compiled code and not Column arithmetic — Spark 4's ANSI mode would
  * throw ARITHMETIC_OVERFLOW on the h1 + i*h2 mix. */
object BloomHash {
  def positions(keyBytes: Array[Byte], mBits: Long, k: Int, seed: Long): Array[Long] = {
    val h1 = Xxh64.hashBytes(keyBytes, seed)
    val h2 = Xxh64.hashBytes(keyBytes, seed + 1L)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      out(i) = java.lang.Math.floorMod(h1 + i.toLong * h2, mBits)
      i += 1
    }
    out
  }
}

/** bloom_positions(key string) -> array<long>: the k Bloom bit positions of
  * `key` in an m-bit filter (BloomHash formula). The build side of Bloom
  * dedup: explode -> word/bit split -> bit_or aggregation, all codegen'd. */
case class BloomPositions(child: Expression, mBits: Long, k: Int, seed: Long)
    extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
  require(k > 0, "k must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bloom_positions requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    BloomPositions.compute(v.asInstanceOf[UTF8String], mBits, k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BloomPositions.compute($c, ${mBits}L, $k, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): BloomPositions = copy(child = newChild)
  override def prettyName: String = "bloom_positions"
}

object BloomPositions {
  def compute(s: UTF8String, mBits: Long, k: Int, seed: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val pos = BloomHash.positions(s.getBytes, mBits, k, seed)
    val out = new Array[Any](k)
    var i = 0
    while (i < k) { out(i) = pos(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** bloom_contains(key string) -> boolean: true iff all k Bloom bit positions
  * of `key` are set in `bits` (m = bits.length * 64). The probe side of
  * Bloom dedup: a broadcast-constant filter predicate — zero shuffle, one
  * compiled pass, O(m/8) bytes of state per executor regardless of how many
  * keys the filter was built from. False positives possible (deterministic
  * given the formula), false negatives impossible. */
case class BloomContains(child: Expression, bits: Array[Long], k: Int, seed: Long)
    extends UnaryExpression {
  import org.apache.spark.sql.types.BooleanType
  require(bits.nonEmpty, "empty bloom bit array")
  require(k > 0, "k must be positive")
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bloom_contains requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    BloomContains.compute(v.asInstanceOf[UTF8String], bits, k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BloomContains.compute($c, $bitsRef, $k, ${seed}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomContains = copy(child = newChild)
  override def prettyName: String = "bloom_contains"
}

object BloomContains {
  def compute(s: UTF8String, bits: Array[Long], k: Int, seed: Long): Boolean = {
    val m = bits.length.toLong * 64L
    val pos = BloomHash.positions(s.getBytes, m, k, seed)
    var i = 0
    while (i < k) {
      val p = pos(i)
      if ((bits((p >>> 6).toInt) & (1L << (p & 63L))) == 0L) return false
      i += 1
    }
    true
  }
}

/** hashed_gram_logit(text string) -> array<long> [n_grams, logit]: linear
  * classifier score over hashed word uni+bigram features — the GPT-3 /
  * CCNet-style model-based quality filter (Brown et al. 2020 App. A,
  * Wenzek et al. 2020 §4.3) as ONE codegen'd per-row pass with zero
  * shuffle: the weight table (the trained model; here any int array, F =
  * weights.length buckets) rides the plan as a broadcast constant.
  *
  * Formula (value-identical to the Spark-SQL form, parity-tested):
  * tokens = single-space split (WordNgrams semantics); grams = every
  * unigram and bigram occurrence (space-joined — contiguous byte spans of
  * the input, so no gram string is materialized); bucket(g) =
  * floorMod(xxhash64(g), F) i.e. pmod(xxhash64(g), F); logit =
  * sum(weights(bucket(g))); n_grams = 2 * n_tokens - 1. The sum is exact
  * long arithmetic — |logit| <= n_grams * max|w|, overflow-free for any
  * real document. */
case class HashedGramLogit(child: Expression, weights: Array[Int])
    extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(weights.nonEmpty, "empty weight table")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hashed_gram_logit requires string input, got ${child.dataType}")
  }
  override def nullSafeEval(v: Any): Any =
    HashedGramLogit.compute(v.asInstanceOf[UTF8String], weights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("gramWeights", weights, "int[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedGramLogit.compute($c, $wRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): HashedGramLogit = copy(child = newChild)
  override def prettyName: String = "hashed_gram_logit"
}

object HashedGramLogit {
  def compute(s: UTF8String, weights: Array[Int]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val f = weights.length.toLong
    // token k spans [starts(k), ends(k)); separators are single 0x20 bytes
    var nTokens = 1
    var off = 0
    while (off < nb) { if (bytes(off) == ' '.toByte) nTokens += 1; off += 1 }
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    var tok = 0
    starts(0) = 0
    off = 0
    while (off < nb) {
      if (bytes(off) == ' '.toByte) { ends(tok) = off; tok += 1; starts(tok) = off + 1 }
      off += 1
    }
    ends(tok) = nb
    var logit = 0L
    def add(start: Int, end: Int): Unit = {
      val h = Xxh64.hashBytes(java.util.Arrays.copyOfRange(bytes, start, end), Xxh64.SparkSeed)
      logit += weights(java.lang.Math.floorMod(h, f).toInt)
    }
    var i = 0
    while (i < nTokens) {
      add(starts(i), ends(i))                        // unigram
      if (i + 1 < nTokens) add(starts(i), ends(i + 1)) // bigram (space-joined span)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any]((2L * nTokens - 1L), logit))
  }
}

/** pq_encode(embedding array<float>) -> binary: product-quantization codes
  * (Jégou et al. 2011) — the vector split into M = books.length subspaces
  * of ds = books(m)(c).length dims; code byte m = index of the sub-centroid
  * minimizing squared L2 distance to sub-vector m (doubles, index-ascending
  * operand order, strict < so ties keep the SMALLEST code). M bytes per
  * vector — a 64-dim float32 embedding compresses 256 B -> M bytes. Throws
  * on a dimension mismatch (ragged embedding tables fail loudly, as
  * signlsh_bits). */
case class PqEncode(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, FloatType}
  require(books.nonEmpty && books.forall(_.nonEmpty), "empty PQ codebooks")
  require(books.forall(_.length <= 256), "PQ codebooks must have <= 256 codes (one byte)")
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<float> input, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    PqEncode.compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("pqBooks", books, "float[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqEncode.compute($c, $bRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode = copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

object PqEncode {
  def compute(v: org.apache.spark.sql.catalyst.util.ArrayData,
              books: Array[Array[Array[Float]]]): Array[Byte] = {
    val m = books.length
    val ds = books(0)(0).length
    if (v.numElements() != m * ds)
      throw new IllegalArgumentException(
        s"pq_encode: embedding dim ${v.numElements()} != M*ds = ${m * ds}")
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cs = books(s)
      val base = s * ds
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        var d = 0.0; var i = 0
        while (i < ds) {
          val t = v.getFloat(base + i).toDouble - cent(i).toDouble
          d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }
}

/** pq_lut(query array<float>) -> array<double>: the query's flattened ADC
  * lookup table — entry [m * nCodes + c] = <q_m, books(m)(c)> / |q|
  * (inner product of the query's m-th sub-vector with sub-centroid c,
  * pre-divided by the FULL query norm so `pq_adc` needs no per-query
  * scalar). Doubles, index-ascending accumulation. One row per query;
  * the table is M * nCodes doubles (tiny — it rides the broadcast join). */
case class PqLut(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
  require(books.nonEmpty && books.forall(_.nonEmpty), "empty PQ codebooks")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_lut requires array<float> input, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    PqLut.compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("pqBooks", books, "float[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqLut.compute($c, $bRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLut = copy(child = newChild)
  override def prettyName: String = "pq_lut"
}

object PqLut {
  def compute(v: org.apache.spark.sql.catalyst.util.ArrayData,
              books: Array[Array[Array[Float]]]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = books.length
    val ds = books(0)(0).length
    val nCodes = books(0).length
    if (v.numElements() != m * ds)
      throw new IllegalArgumentException(
        s"pq_lut: embedding dim ${v.numElements()} != M*ds = ${m * ds}")
    var qn = 0.0
    var i = 0
    val n = v.numElements()
    while (i < n) { val x = v.getFloat(i).toDouble; qn += x * x; i += 1 }
    val qnorm = math.sqrt(qn)
    val out = new Array[Any](m * nCodes)
    var s = 0
    while (s < m) {
      val cs = books(s)
      val base = s * ds
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        var ip = 0.0; var j = 0
        while (j < ds) { ip += v.getFloat(base + j).toDouble * cent(j).toDouble; j += 1 }
        out(s * nCodes + c) = ip / qnorm
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** pq_adc(code binary, lut array<double>) -> double: asymmetric-distance
  * approximate COSINE — sum of the query LUT entries the code selects,
  * divided by the reconstruction norm sqrt(sum normSq[m][code_m]) (normSq
  * = the query-independent sub-centroid squared norms, a plan constant).
  * Approximates cosine(q, x) by reconstructing x from its sub-centroids;
  * M lookups + one sqrt per pair — no float vectors touched at scan
  * time. */
case class PqAdc(left: Expression, right: Expression, normSq: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType}
  require(normSq.nonEmpty, "empty normSq table")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, ArrayType(DoubleType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_adc requires (binary, array<double>), got ($l, $r)")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdc.compute(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], normSq)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nRef = ctx.addReferenceObj("pqNormSq", normSq, "double[]")
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqAdc.compute($a, $b, $nRef)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_adc"
}

object PqAdc {
  def compute(code: Array[Byte],
              lut: org.apache.spark.sql.catalyst.util.ArrayData,
              normSq: Array[Double]): Double = {
    val m = code.length
    val nCodes = lut.numElements() / m
    var ip = 0.0
    var ns = 0.0
    var s = 0
    while (s < m) {
      val idx = s * nCodes + (code(s) & 0xFF)
      ip += lut.getDouble(idx)
      ns += normSq(idx)
      s += 1
    }
    ip / math.sqrt(ns)
  }
}

/** pq_sum(code binary, table array<double>) -> double: the selective sum
  * Σ_s table[s·nCodes + code_s] (nCodes = |table| / |code|) — the ADC
  * lookup primitive factored out of [[PqAdc]] so RESIDUAL IVF-PQ can
  * combine a per-query numerator table and a per-LIST denominator table
  * with plain column arithmetic around them. M lookups per pair,
  * subspace-ascending accumulation (the twins' operand order). */
case class PqSum(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType}
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (BinaryType, ArrayType(DoubleType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_sum requires (binary, array<double>), got ($l, $r)")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    PqSum.compute(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqSum.compute($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqSum =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_sum"
}

object PqSum {
  def compute(code: Array[Byte],
              table: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val m = code.length
    val nCodes = table.numElements() / m
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += table.getDouble(s * nCodes + (code(s) & 0xFF))
      s += 1
    }
    acc
  }
}

object GraftFunctions {
  import org.apache.spark.sql.graftbridge.Bridge
  def extract_text(c: Column): Column = Bridge.column(ExtractText(Bridge.expression(c)))
  def fingerprint64(c: Column): Column = Bridge.column(Fingerprint64(Bridge.expression(c)))
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
  def minhash_sigs(c: Column, numHashes: Int): Column =
    Bridge.column(MinhashSigs(Bridge.expression(c), numHashes))
  def simhash64(c: Column): Column = Bridge.column(Simhash64(Bridge.expression(c)))
  def signlsh_bits(c: Column, weights: Array[Array[Float]]): Column =
    Bridge.column(SignLshBits(Bridge.expression(c), weights))
  def word_shingles(c: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(c), n))
  def char_ngrams(c: Column, n: Int): Column =
    Bridge.column(CharNgrams(Bridge.expression(c), n))
  def word_ngrams(c: Column, n: Int): Column =
    Bridge.column(WordNgrams(Bridge.expression(c), n))
  def lm_gram_score(c: Column,
                    table: org.apache.spark.broadcast.Broadcast[java.util.HashMap[UTF8String, java.lang.Long]],
                    n: Int, floorCount: Long, tot: Double): Column =
    Bridge.column(LmGramScore(Bridge.expression(c), table, n, floorCount, tot))
  def top_ngram_count(c: Column, n: Int): Column =
    Bridge.column(TopNgramCount(Bridge.expression(c), n))
  def excise_positions(toks: Column, removed: Column): Column =
    Bridge.column(ExcisePositions(Bridge.expression(toks), Bridge.expression(removed)))
  def bloom_positions(c: Column, mBits: Long, k: Int, seed: Long): Column =
    Bridge.column(BloomPositions(Bridge.expression(c), mBits, k, seed))
  def bloom_contains(c: Column, bits: Array[Long], k: Int, seed: Long): Column =
    Bridge.column(BloomContains(Bridge.expression(c), bits, k, seed))
  def hashed_gram_logit(c: Column, weights: Array[Int]): Column =
    Bridge.column(HashedGramLogit(Bridge.expression(c), weights))
  def pq_encode(c: Column, books: Array[Array[Array[Float]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(c), books))
  def pq_lut(c: Column, books: Array[Array[Array[Float]]]): Column =
    Bridge.column(PqLut(Bridge.expression(c), books))
  def pq_adc(code: Column, lut: Column, normSq: Array[Double]): Column =
    Bridge.column(PqAdc(Bridge.expression(code), Bridge.expression(lut), normSq))
  def pq_sum(code: Column, table: Column): Column =
    Bridge.column(PqSum(Bridge.expression(code), Bridge.expression(table)))
  def deflate_len(c: Column): Column =
    Bridge.column(DeflateLen(Bridge.expression(c)))

  /** Register for SQL use in an existing session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_text", exprs => ExtractText(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fingerprint64", exprs => Fingerprint64(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => Simhash64(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sigs", exprs =>
        MinhashSigs(exprs.head, exprs(1).eval().asInstanceOf[Int]), "scala_udf")
  }
}

/** SparkSessionExtensions hook:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("extract_text"),
      new ExpressionInfo(classOf[ExtractText].getName, "extract_text"),
      (exprs: Seq[Expression]) => ExtractText(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("fingerprint64"),
      new ExpressionInfo(classOf[Fingerprint64].getName, "fingerprint64"),
      (exprs: Seq[Expression]) => Fingerprint64(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => Simhash64(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (exprs: Seq[Expression]) => MinhashSigs(exprs.head, exprs(1).eval().asInstanceOf[Int])))
  }
}
