package graft.ner

/**
 * Pure-Scala (no Spark imports) NER inference kernel reproducing the
 * reference model's batch-size-1 forward pass exactly:
 * char-CNN over one-hot character matrices (NeuralNERMono/models/modules.py:9-36),
 * feature concat (modules.py:201-206), 1-layer BiLSTM (modules.py:183,234),
 * transition-conditioned output layer (modules.py:185) and greedy
 * left-to-right decode feeding back the predicted previous tag
 * (modules.py:306-361). A Viterbi decode over the same scores is provided
 * as the north_star improvement.
 *
 * All arithmetic is Float (torch default dtype), with activations computed
 * via double-precision exp/tanh then narrowed — deterministic across JVMs.
 */
object Kernel {

  /** Frozen model parameters (one instance per language; broadcast). */
  final case class NerWeights(
      embedDim: Int,
      minWidth: Int,
      maxWidth: Int,
      numFilters: Int,
      hidden: Int,
      charVocabSize: Int,
      tagCount: Int,
      embeddings: Array[Array[Float]],      // [V+2][embedDim]; row 0 = pad
      convW: Array[Array[Array[Float]]],    // [width-minWidth][numFilters][width*charVocabSize]
      convB: Array[Array[Float]],           // [width-minWidth][numFilters]
      fwIh: Array[Float], fwHh: Array[Float], fbIh: Array[Float], fbHh: Array[Float],
      bwIh: Array[Float], bwHh: Array[Float], bbIh: Array[Float], bbHh: Array[Float],
      outW: Array[Array[Float]]             // [tagCount][2*hidden + tagCount]; no bias (modules.py:185)
  ) extends Serializable {
    /** BiLSTM input width (modules.py:171). */
    def inputDim: Int = embedDim + (maxWidth - minWidth + 1) * numFilters
    def nWidths: Int = maxWidth - minWidth + 1
  }

  /** One set-bit of the flattened one-hot char matrix: position block `pos`
    * carries character id `idx` (utilsLocal.py:327-353). */
  final case class CharBit(pos: Int, idx: Int)

  /**
   * One-hot layout for a word within a sentence whose padded char length is
   * `cMax` (utilsLocal.py:306-315: cMax = max(longest word in sentence,
   * max_filter_width)):
   *  - position 0: `<S>` (utilsLocal.py:337-338)
   *  - char k at position k+1, only while k < cMax-1 (utilsLocal.py:341-346)
   *  - `</S>` at position len(word) if len(word) < cMax (utilsLocal.py:349-351)
   *    — which may share a position with the last char; both bits are set,
   *    faithfully reproducing the reference tensor.
   * Unknown characters are skipped (charVocabulary.__get_word__ -> None).
   */
  def charBits(codePoints: Array[String], charVocab: Vocab, cMax: Int): Array[CharBit] = {
    val out = new scala.collection.mutable.ArrayBuffer[CharBit](codePoints.length + 2)
    charVocab.getWord("<S>").foreach(id => out += CharBit(0, id))
    var k = 0
    while (k < codePoints.length) {
      if (k < cMax - 1) {
        charVocab.tokToInd.get(codePoints(k)) match { // case-sensitive direct lookup
          case Some(id) => out += CharBit(k + 1, id)
          case None     => ()
        }
      }
      k += 1
    }
    if (codePoints.length < cMax)
      charVocab.getWord("</S>").foreach(id => out += CharBit(codePoints.length, id))
    out.toArray
  }

  /**
   * Char-CNN feature vector for one word: for each filter width n, conv
   * windows stride one position (Conv1d kernel n*V stride V, modules.py:25)
   * followed by a per-filter max-pool over all window positions
   * (modules.py:31-36). Because the input is one-hot, each window output is
   * bias + sum of the filter-weight entries addressed by the set bits.
   * Output length = nWidths * numFilters, widths in ascending order
   * (charLayers are built min..max, modules.py:179, concatenated in that
   * order, modules.py:115/201).
   */
  def charCnn(bits: Array[CharBit], cMax: Int, w: NerWeights, out: Array[Float], outOff: Int): Unit = {
    val V = w.charVocabSize
    var wi = 0
    while (wi < w.nWidths) {
      val n = w.minWidth + wi
      val nPos = cMax - n + 1 // window positions
      val weights = w.convW(wi)
      val bias = w.convB(wi)
      val acc = new Array[Float](nPos) // reused across filters
      var f = 0
      while (f < w.numFilters) {
        val wf = weights(f)
        val b = bias(f)
        var p = 0
        while (p < nPos) { acc(p) = b; p += 1 }
        var bi = 0
        while (bi < bits.length) {
          val bit = bits(bi)
          val lo = math.max(0, bit.pos - n + 1)
          val hi = math.min(bit.pos, nPos - 1)
          var q = lo
          while (q <= hi) {
            acc(q) = acc(q) + wf((bit.pos - q) * V + bit.idx)
            q += 1
          }
          bi += 1
        }
        var best = acc(0)
        p = 1
        while (p < nPos) { if (acc(p) > best) best = acc(p); p += 1 }
        out(outOff + wi * w.numFilters + f) = best
        f += 1
      }
      wi += 1
    }
  }

  @inline private def sigmoidF(x: Float): Float = (1.0 / (1.0 + math.exp(-x.toDouble))).toFloat
  @inline private def tanhF(x: Float): Float = math.tanh(x.toDouble).toFloat

  /** xGates token-tile width (bandwidth tuning only; any value is exact). */
  private val tileSize: Int = 128

  /** Dot product with 4 independent accumulators — HotSpot won't vectorize
    * float reductions (reassociation), so manual ILP unrolling is the
    * portable 2-4x. Summation order is fixed by this implementation, hence
    * still deterministic and batch-size invariant. */
  @inline private[ner] def dot4(a: Array[Float], ao: Int, b: Array[Float], n: Int): Float = {
    var s0 = 0.0f; var s1 = 0.0f; var s2 = 0.0f; var s3 = 0.0f
    var j = 0
    val n4 = n & ~3
    while (j < n4) {
      s0 += a(ao + j) * b(j)
      s1 += a(ao + j + 1) * b(j + 1)
      s2 += a(ao + j + 2) * b(j + 2)
      s3 += a(ao + j + 3) * b(j + 3)
      j += 4
    }
    while (j < n) { s0 += a(ao + j) * b(j); j += 1 }
    (s0 + s1) + (s2 + s3)
  }

  /**
   * One LSTM direction over a MICRO-BATCH of sentences (PyTorch gate order
   * i,f,g,o; standard equations). Two bandwidth optimizations, both
   * math-preserving per sentence (identical float-op order regardless of
   * batch size, so K=1 and K=16 are bit-identical):
   *
   *  1. the input contribution `W_ih·x_t + b_ih` is precomputed for every
   *     token with W_ih streamed ONCE per batch (g-major loop) instead of
   *     once per token — W_ih is 4H*D floats, the single largest matrix;
   *  2. the recurrence streams each W_hh row once per time step for ALL
   *     sentences in the batch (the reference pads+packs to the same
   *     effect, utilsLocal.py:306-315 / modules.py:213-231; we skip
   *     finished sentences instead of padding, so batch-size-1 semantics
   *     are preserved exactly — the reference's batch>1 decode bug cannot
   *     reoccur by construction).
   *
   * Writes hidden states into `hOut(s)(t)(off until off+H)`.
   */
  private def lstmDirectionBatch(
      featsB: Array[Array[Array[Float]]], lens: Array[Int], w: NerWeights,
      wIh: Array[Float], wHh: Array[Float], bIh: Array[Float], bHh: Array[Float],
      reverse: Boolean, hOut: Array[Array[Array[Float]]], off: Int): Unit = {
    val H = w.hidden
    val D = w.inputDim
    val G = 4 * H
    val K = featsB.length
    var maxLen = 0
    var s = 0
    while (s < K) { if (lens(s) > maxLen) maxLen = lens(s); s += 1 }
    if (maxLen == 0) return
    // ---- 1. xGates(s)(t)(g) = bIh(g) + sum_j wIh(g,j) * x(j)
    // GEMM-style token tiling: W_ih streams once per 32-token tile (instead
    // of once per token), while the tile's feature rows stay cache-resident.
    val xGates = new Array[Array[Array[Float]]](K)
    s = 0
    while (s < K) {
      xGates(s) = Array.ofDim[Float](lens(s), G)
      s += 1
    }
    // flatten (sentence, token) pairs into one token list
    var nTok = 0
    s = 0
    while (s < K) { nTok += lens(s); s += 1 }
    val tokX = new Array[Array[Float]](nTok)
    val tokOut = new Array[Array[Float]](nTok)
    var idx = 0
    s = 0
    while (s < K) {
      var t = 0
      while (t < lens(s)) {
        tokX(idx) = featsB(s)(t)
        tokOut(idx) = xGates(s)(t)
        idx += 1
        t += 1
      }
      s += 1
    }
    val Tile = tileSize
    var base = 0
    while (base < nTok) {
      val lim = math.min(base + Tile, nTok)
      var g = 0
      while (g < G) {
        val rowIh = g * D
        val bg = bIh(g)
        var ti = base
        while (ti < lim) {
          tokOut(ti)(g) = bg + dot4(wIh, rowIh, tokX(ti), D)
          ti += 1
        }
        g += 1
      }
      base = lim
    }
    // ---- 2. recurrence: W_hh row read once per (step, g) for all sentences
    val h = Array.ofDim[Float](K, H)
    val c = Array.ofDim[Float](K, H)
    val gates = Array.ofDim[Float](K, G)
    var step = 0
    var g = 0
    while (step < maxLen) {
      g = 0
      while (g < G) {
        val rowHh = g * H
        val bg = bHh(g)
        s = 0
        while (s < K) {
          if (step < lens(s)) {
            gates(s)(g) = xGates(s)(if (reverse) lens(s) - 1 - step else step)(g) + bg +
              dot4(wHh, rowHh, h(s), H)
          }
          s += 1
        }
        g += 1
      }
      s = 0
      while (s < K) {
        if (step < lens(s)) {
          val t = if (reverse) lens(s) - 1 - step else step
          val gs = gates(s)
          val hs = h(s)
          val cs = c(s)
          val out = hOut(s)(t)
          var k = 0
          while (k < H) {
            val ig = sigmoidF(gs(k))
            val fg = sigmoidF(gs(H + k))
            val gg = tanhF(gs(2 * H + k))
            val og = sigmoidF(gs(3 * H + k))
            val cNew = fg * cs(k) + ig * gg
            cs(k) = cNew
            val hNew = og * tanhF(cNew)
            hs(k) = hNew
            out(off + k) = hNew
            k += 1
          }
        }
        s += 1
      }
      step += 1
    }
  }

  /** Result of tagging one sentence. */
  final case class Tagged(preds: Array[Int], probs: Array[Array[Float]])

  /**
   * Full forward pass for ONE sentence (the reference's batch-size-1
   * semantics, NeuralNER.py:315-320): word-embedding lookup + char-CNN,
   * BiLSTM, then `decode` (greedy, reference parity) or `viterbi`.
   *
   * `wordIds` are input-vocab ids (lowercased lookup with `<unk>` fallback,
   * utilsLocal.py:318-324); `cps` are per-token code-point strings.
   */
  def bilstmStates(tokens: IndexedSeq[String], wordIds: Array[Int],
                   cps: Array[Array[String]], charVocab: Vocab, w: NerWeights): Array[Array[Float]] =
    bilstmStatesBatch(Array(Encoded(tokens, wordIds, cps)), charVocab, w)(0)

  /** One encoded sentence awaiting inference. */
  final case class Encoded(tokens: IndexedSeq[String], wordIds: Array[Int], cps: Array[Array[String]])

  /** BiLSTM hidden states for a micro-batch of sentences. Per-sentence
    * results are bit-identical for any batch size (see lstmDirectionBatch);
    * batching exists purely to stream the weight matrices once per batch
    * instead of once per token. cMax (char padding) stays PER-SENTENCE —
    * the reference's batch-size-1 semantics (README.md:7-8). */
  def bilstmStatesBatch(batch: Array[Encoded], charVocab: Vocab,
                        w: NerWeights): Array[Array[Array[Float]]] = {
    val K = batch.length
    val D = w.inputDim
    val charLen = w.nWidths * w.numFilters
    val featsB = new Array[Array[Array[Float]]](K)
    val lens = new Array[Int](K)
    val hidden = new Array[Array[Array[Float]]](K)
    var s = 0
    while (s < K) {
      val e = batch(s)
      val L = e.tokens.length
      lens(s) = L
      var maxWordLen = 0
      var i = 0
      while (i < L) { if (e.cps(i).length > maxWordLen) maxWordLen = e.cps(i).length; i += 1 }
      val cMax = math.max(maxWordLen, w.maxWidth)
      // token feature = [charFeatures ++ wordEmbedding] (modules.py:201-206:
      // cat([finalCharOut, embedOut]) puts char features FIRST)
      val feats = new Array[Array[Float]](L)
      i = 0
      while (i < L) {
        val row = new Array[Float](D)
        val bits = charBits(e.cps(i), charVocab, cMax)
        charCnn(bits, cMax, w, row, 0)
        val emb = w.embeddings(if (e.wordIds(i) >= 0) e.wordIds(i) else w.embeddings.length - 1)
        System.arraycopy(emb, 0, row, charLen, w.embedDim)
        feats(i) = row
        i += 1
      }
      featsB(s) = feats
      hidden(s) = Array.ofDim[Float](L, 2 * w.hidden)
      s += 1
    }
    lstmDirectionBatch(featsB, lens, w, w.fwIh, w.fwHh, w.fbIh, w.fbHh, reverse = false, hidden, 0)
    lstmDirectionBatch(featsB, lens, w, w.bwIh, w.bwHh, w.bbIh, w.bbHh, reverse = true, hidden, w.hidden)
    hidden
  }

  /** Greedy transition decode (modules.py:306-361): logits(t) = outW *
    * [h_t ++ onehot(pred_{t-1})]; argmax (first max wins, as torch.max);
    * probs = softmax(logits). */
  def greedyDecode(hidden: Array[Array[Float]], w: NerWeights): Tagged = {
    val L = hidden.length
    val T = w.tagCount
    val H2 = 2 * w.hidden
    val preds = new Array[Int](L)
    val probs = new Array[Array[Float]](L)
    var prev = -1
    var t = 0
    while (t < L) {
      val h = hidden(t)
      val logits = new Array[Float](T)
      var y = 0
      while (y < T) {
        val row = w.outW(y)
        var acc = dot4(row, 0, h, H2)
        if (prev >= 0) acc += row(H2 + prev)
        logits(y) = acc
        y += 1
      }
      var best = 0
      y = 1
      while (y < T) { if (logits(y) > logits(best)) best = y; y += 1 }
      preds(t) = best
      probs(t) = softmax(logits)
      prev = best
      t += 1
    }
    Tagged(preds, probs)
  }

  /** Viterbi decode over the same transition-conditioned scores: maximizes
    * sum of per-step log-softmax(logits | prev tag). The flagged improvement
    * over the reference's greedy decode (north_star). */
  def viterbiDecode(hidden: Array[Array[Float]], w: NerWeights): Tagged = {
    val L = hidden.length
    val T = w.tagCount
    val H2 = 2 * w.hidden
    if (L == 0) return Tagged(Array.empty, Array.empty)
    // base logits without the prev-tag column
    val base = Array.ofDim[Float](L, T)
    var t = 0
    while (t < L) {
      val h = hidden(t)
      var y = 0
      while (y < T) {
        base(t)(y) = dot4(w.outW(y), 0, h, H2)
        y += 1
      }
      t += 1
    }
    val delta = Array.ofDim[Double](L, T)
    val back = Array.ofDim[Int](L, T)
    val ls0 = logSoftmax(base(0))
    var y = 0
    while (y < T) { delta(0)(y) = ls0(y); y += 1 }
    t = 1
    while (t < L) {
      // for each previous tag, score distribution of current tags
      val cand = Array.ofDim[Double](T, T) // [prev][cur]
      var p = 0
      while (p < T) {
        val logits = new Array[Float](T)
        var yy = 0
        while (yy < T) { logits(yy) = base(t)(yy) + w.outW(yy)(H2 + p); yy += 1 }
        val ls = logSoftmax(logits)
        yy = 0
        while (yy < T) { cand(p)(yy) = delta(t - 1)(p) + ls(yy); yy += 1 }
        p += 1
      }
      var cur = 0
      while (cur < T) {
        var bestP = 0
        var bestV = cand(0)(cur)
        p = 1
        while (p < T) { if (cand(p)(cur) > bestV) { bestV = cand(p)(cur); bestP = p }; p += 1 }
        delta(t)(cur) = bestV
        back(t)(cur) = bestP
        cur += 1
      }
      t += 1
    }
    val preds = new Array[Int](L)
    var bestY = 0
    y = 1
    while (y < T) { if (delta(L - 1)(y) > delta(L - 1)(bestY)) bestY = y; y += 1 }
    preds(L - 1) = bestY
    t = L - 1
    while (t > 0) { preds(t - 1) = back(t)(preds(t)); t -= 1 }
    // probs: per-step softmax conditioned on the chosen path (informational)
    val probs = new Array[Array[Float]](L)
    t = 0
    while (t < L) {
      val logits = new Array[Float](T)
      var yy = 0
      while (yy < T) {
        logits(yy) = base(t)(yy) + (if (t > 0) w.outW(yy)(H2 + preds(t - 1)) else 0.0f)
        yy += 1
      }
      probs(t) = softmax(logits)
      t += 1
    }
    Tagged(preds, probs)
  }

  /** Teacher-forced masked NLL (N9/A3): mean over tokens of
    * -logsoftmax(outW·[h_t ++ onehot(gold_{t-1})])[gold_t], gold prev one-hot
    * all-zero at t=0 (utilsLocal.py:357-368; modules.py:191-252 computes the
    * same mean via packed sequences — batch padding never enters because we
    * evaluate per sentence). Training itself stays out of scope (north_rule
    * grafts a trained model); this exists for loss-parity tests and for
    * dev-loss-style model selection on held-out data. */
  def teacherForcedLoss(hidden: Array[Array[Float]], goldIds: Array[Int], w: NerWeights): Double = {
    val L = hidden.length
    if (L == 0) return 0.0
    val T = w.tagCount
    val H2 = 2 * w.hidden
    var total = 0.0
    var t = 0
    while (t < L) {
      val h = hidden(t)
      val logits = new Array[Float](T)
      var y = 0
      while (y < T) {
        var acc = dot4(w.outW(y), 0, h, H2)
        if (t > 0) acc += w.outW(y)(H2 + goldIds(t - 1))
        logits(y) = acc
        y += 1
      }
      total -= logSoftmax(logits)(goldIds(t))
      t += 1
    }
    total / L
  }

  def softmax(logits: Array[Float]): Array[Float] = {
    var mx = logits(0)
    var i = 1
    while (i < logits.length) { if (logits(i) > mx) mx = logits(i); i += 1 }
    val out = new Array[Float](logits.length)
    var sum = 0.0
    i = 0
    while (i < logits.length) {
      val e = math.exp((logits(i) - mx).toDouble)
      out(i) = e.toFloat
      sum += e
      i += 1
    }
    i = 0
    while (i < logits.length) { out(i) = (out(i) / sum).toFloat; i += 1 }
    out
  }

  def logSoftmax(logits: Array[Float]): Array[Double] = {
    var mx = logits(0)
    var i = 1
    while (i < logits.length) { if (logits(i) > mx) mx = logits(i); i += 1 }
    var sum = 0.0
    i = 0
    while (i < logits.length) { sum += math.exp((logits(i) - mx).toDouble); i += 1 }
    val lse = mx + math.log(sum)
    val out = new Array[Double](logits.length)
    i = 0
    while (i < logits.length) { out(i) = logits(i) - lse; i += 1 }
    out
  }

  // ---------------------------------------------------------------- weights

  /** splitmix64 — deterministic stream for weight init. */
  private final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    /** uniform in (-a, a) */
    def uniform(a: Float): Float = {
      val u = (nextLong() >>> 11).toDouble / (1L << 53).toDouble // [0,1)
      ((u * 2.0 - 1.0) * a).toFloat
    }
    def fillUniform(arr: Array[Float], a: Float): Unit = {
      var i = 0
      while (i < arr.length) { arr(i) = uniform(a); i += 1 }
    }
  }

  /** Deterministic xavier-style init (mirrors the reference's init choices:
    * conv xavier_uniform modules.py:26; LSTM/linear default U(-1/sqrt(H));
    * embeddings provided). Same seed -> same weights on any JVM. */
  def randomWeights(embedDim: Int, minWidth: Int, maxWidth: Int, numFilters: Int,
                    hidden: Int, charVocabSize: Int, tagCount: Int,
                    embeddings: Array[Array[Float]], seed: Long): NerWeights = {
    val rng = new Rng(seed)
    val nW = maxWidth - minWidth + 1
    val convW = Array.tabulate(nW) { wi =>
      val n = minWidth + wi
      val fanIn = n * charVocabSize
      val a = math.sqrt(6.0 / (fanIn + numFilters)).toFloat // xavier uniform
      Array.fill(numFilters) { val r = new Array[Float](fanIn); rng.fillUniform(r, a); r }
    }
    val convB = Array.tabulate(nW) { _ =>
      val b = new Array[Float](numFilters); rng.fillUniform(b, 0.1f); b
    }
    val inputDim = embedDim + nW * numFilters
    val aL = (1.0 / math.sqrt(hidden)).toFloat
    def mk(sz: Int): Array[Float] = { val a = new Array[Float](sz); rng.fillUniform(a, aL); a }
    val outDim = 2 * hidden + tagCount
    val aO = math.sqrt(6.0 / (outDim + tagCount)).toFloat
    NerWeights(
      embedDim, minWidth, maxWidth, numFilters, hidden, charVocabSize, tagCount,
      embeddings, convW, convB,
      mk(4 * hidden * inputDim), mk(4 * hidden * hidden), mk(4 * hidden), mk(4 * hidden),
      mk(4 * hidden * inputDim), mk(4 * hidden * hidden), mk(4 * hidden), mk(4 * hidden),
      Array.fill(tagCount) { val r = new Array[Float](outDim); rng.fillUniform(r, aO); r }
    )
  }
}
