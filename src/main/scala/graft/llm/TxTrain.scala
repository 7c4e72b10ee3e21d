package graft.llm

import graft.core.Text

/** Deterministic in-repo CONTRASTIVE training for [[TinyTransformer]] —
  * the step that turns the library's model-backed surface from
  * "semantics proven" (the architecture is a real transformer, pinned by
  * tx_gate) into "quality proven" (a TRAINED checkpoint measurably beats
  * the seeded weights on the library's own separation contracts).
  *
  * Objective: symmetric InfoNCE (the SimCLR/CLIP loss — Chen et al. 2020,
  * Radford et al. 2021) over two seeded random crops of each document:
  * crops of the SAME document are positives, everything else in the batch
  * is a negative. This is exactly the published recipe for unsupervised
  * sentence embeddings (and what the reference's all-MiniLM-L6-v2 quality
  * layer was itself contrastively trained with —
  * evaluate/evaluate_summaries_semantic.py:128-139); its two gradient
  * terms map one-to-one onto the library's measured needs:
  *  - ALIGNMENT pulls same-doc views together → the near-dup cosine
  *    (tx_gate's neardup property, dd13's lexical-pair floor) rises;
  *  - UNIFORMITY pushes different docs apart → the raw-embedding
  *    anisotropy that made mean-centering load-bearing for dd13
  *    (ProbeDd13: 27% of ALL doc pairs above cosine 0.93 with seeded
  *    weights) drops, so semantic thresholds separate without surgery.
  *
  * Backpropagation is hand-rolled through the EXACT forward of
  * [[TinyTransformer.encode]]/[[TinyTransformer.embed]] — pre-LN
  * residual blocks, multi-head softmax attention, tanh-GELU, mean pool,
  * L2 normalize — in doubles end-to-end (the model's own float cast at
  * the encode boundary is the only difference, irrelevant to gradients).
  * Correctness is pinned by TxTrainSpec's central-difference gradient
  * check on every weight matrix of a small config.
  *
  * Determinism (the property every other model artifact in this library
  * holds, extended to training): weight init IS the seeded model (so
  * training starts from the Wieting & Kiela 2019 random-encoder baseline
  * and the lift is attributable to the objective alone); batch/crop
  * sampling comes from a SplitMix64 stream; forward/backward/Adam use
  * StrictMath doubles only; per-example gradients are computed in
  * parallel but SUMMED IN EXAMPLE ORDER, so the trained checkpoint is
  * bit-identical across runs, thread counts, and platforms.
  *
  * Scale shape: training is an OFFLINE, driver-side loop over a sampled
  * corpus slice (the FAISS train-vs-add split the streaming index
  * already follows): the model has ~66k parameters and trains in
  * minutes; the 100 TB corpus only ever sees the frozen checkpoint via
  * the same map-only embedding pass as the seeded model. Token base
  * vectors stay hash-seeded/vocabulary-free ([[TinyTransformer]]'s
  * contract) — training shapes the transformer BLOCKS, so any token of
  * any language still gets a stable input vector.
  */
object TxTrain {

  /** Training hyperparameters. `modelSeed` must match the
    * [[TinyTransformer]] the checkpoint will serve (weight INIT and the
    * frozen token-base/position streams both derive from it).
    */
  final case class Config(
      dim: Int = 64,
      layers: Int = 2,
      heads: Int = 4,
      ffMult: Int = 2,
      maxTokens: Int = 128,
      modelSeed: Long = 0x7a317e5eedL,
      trainSeed: Long = 0x7a117a11L,
      batch: Int = 64,
      steps: Int = 300,
      lr: Double = 2e-3,
      tau: Double = 0.1,
      viewMin: Int = 8,
      viewMax: Int = 32,
      threads: Int = math.max(1, Runtime.getRuntime.availableProcessors()))

  // ---- deterministic pseudo-randomness (SplitMix64, public constants) ----

  private[llm] final class Rng(seed: Long) {
    private var state = seed
    def nextLong(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    /** Uniform in [0, bound) via rejection-free modulo of the high bits —
      * bias is < 2^-40 for the tiny bounds used here (batch picks, crop
      * offsets), far below anything that affects training.
      */
    def nextInt(bound: Int): Int = {
      require(bound > 0)
      (((nextLong() >>> 1) % bound).toInt + bound) % bound
    }
  }

  /** Per-matrix gradient/optimizer slot ids within a layer. */
  private val MatNames = Array("wq", "wk", "wv", "wo", "w1", "w2")

  /** The trainer: owns mutable copies of the transformer-block weights
    * (initialized from the seeded model), runs forward-with-cache /
    * backward / Adam, and exports the result as a [[TensorFile]]
    * checkpoint the model loads via `weightsPath`.
    */
  final class Trainer(val cfg: Config) {
    private val dim = cfg.dim
    private val heads = cfg.heads
    private val headDim = dim / heads
    private val ffDim = dim * cfg.ffMult
    private val invSqrtHd = 1.0 / StrictMath.sqrt(headDim.toDouble)

    /** The seeded reference model — source of the INIT weights and of the
      * frozen token-base / positional streams (which are part of the
      * model's identity, not trainable state).
      */
    private val ref = TinyTransformer(dim, cfg.layers, heads, cfg.ffMult,
      cfg.maxTokens, cfg.modelSeed)

    /** Mutable weights: w(l)(m) with m indexing [[MatNames]]. */
    private[llm] val w: Array[Array[Array[Double]]] =
      ref.weights.map(l =>
        Array(l.wq.clone(), l.wk.clone(), l.wv.clone(), l.wo.clone(),
          l.w1.clone(), l.w2.clone()))

    // Adam moments + step counter
    private val mo = w.map(_.map(a => new Array[Double](a.length)))
    private val ve = w.map(_.map(a => new Array[Double](a.length)))
    private var adamT = 0

    /** (rows, cols) of matrix slot m. */
    private def dims(m: Int): (Int, Int) = m match {
      case 4 => (dim, ffDim)
      case 5 => (ffDim, dim)
      case _ => (dim, dim)
    }

    // ------------------------------------------------------------ kernels

    /** y = x·M (M row-major rows×cols, rows = x.length). */
    private def matVec(x: Array[Double], m: Array[Double], cols: Int)
        : Array[Double] = {
      val out = new Array[Double](cols)
      var r = 0
      while (r < x.length) {
        val xv = x(r)
        if (xv != 0.0) {
          val off = r * cols
          var c = 0
          while (c < cols) { out(c) += xv * m(off + c); c += 1 }
        }
        r += 1
      }
      out
    }

    /** dx = dy·Mᵀ. */
    private def matVecT(dy: Array[Double], m: Array[Double], rows: Int)
        : Array[Double] = {
      val cols = dy.length
      val out = new Array[Double](rows)
      var r = 0
      while (r < rows) {
        val off = r * cols
        var s = 0.0
        var c = 0
        while (c < cols) { s += dy(c) * m(off + c); c += 1 }
        out(r) = s
        r += 1
      }
      out
    }

    /** dM += xᵀ·dy (outer product accumulate). */
    private def accumOuter(g: Array[Double], x: Array[Double],
        dy: Array[Double]): Unit = {
      val cols = dy.length
      var r = 0
      while (r < x.length) {
        val xv = x(r)
        if (xv != 0.0) {
          val off = r * cols
          var c = 0
          while (c < cols) { g(off + c) += xv * dy(c); c += 1 }
        }
        r += 1
      }
    }

    /** LayerNorm forward: returns (y, inv) with y = (x−μ)·inv. */
    private def lnFwd(x: Array[Double]): (Array[Double], Double) = {
      var mean = 0.0
      var i = 0
      while (i < x.length) { mean += x(i); i += 1 }
      mean /= x.length
      var vs = 0.0
      i = 0
      while (i < x.length) { val d = x(i) - mean; vs += d * d; i += 1 }
      val inv = 1.0 / StrictMath.sqrt(vs / x.length + 1e-5)
      val y = new Array[Double](x.length)
      i = 0
      while (i < x.length) { y(i) = (x(i) - mean) * inv; i += 1 }
      (y, inv)
    }

    /** LayerNorm backward from cached (y, inv):
      * dx = inv · (dy − mean(dy) − y·mean(dy⊙y)).
      */
    private def lnBwd(dy: Array[Double], y: Array[Double], inv: Double)
        : Array[Double] = {
      val n = dy.length
      var mDy = 0.0
      var mDyY = 0.0
      var i = 0
      while (i < n) { mDy += dy(i); mDyY += dy(i) * y(i); i += 1 }
      mDy /= n
      mDyY /= n
      val dx = new Array[Double](n)
      i = 0
      while (i < n) { dx(i) = inv * (dy(i) - mDy - y(i) * mDyY); i += 1 }
      dx
    }

    private def gelu(x: Double): Double =
      0.5 * x * (1.0 + StrictMath.tanh(
        0.7978845608028654 * (x + 0.044715 * x * x * x)))

    private def geluGrad(x: Double): Double = {
      val c = 0.7978845608028654
      val a = 0.044715
      val t = StrictMath.tanh(c * (x + a * x * x * x))
      0.5 * (1.0 + t) + 0.5 * x * (1.0 - t * t) * c * (1.0 + 3.0 * a * x * x)
    }

    // ---------------------------------------------------- forward + cache

    /** Everything the backward pass needs from one example's forward. */
    private[llm] final class Cache(val n: Int, val layers: Int) {
      val x1 = Array.ofDim[Array[Double]](layers, n) // LN1 outputs (y)
      val inv1 = Array.ofDim[Double](layers, n)
      val q = Array.ofDim[Array[Double]](layers, n)
      val k = Array.ofDim[Array[Double]](layers, n)
      val v = Array.ofDim[Array[Double]](layers, n)
      val p = Array.ofDim[Array[Double]](layers, heads * n) // softmax rows
      val mixed = Array.ofDim[Array[Double]](layers, n)
      val x2 = Array.ofDim[Array[Double]](layers, n) // LN2 outputs
      val inv2 = Array.ofDim[Double](layers, n)
      val f1 = Array.ofDim[Array[Double]](layers, n) // pre-GELU
      val g = Array.ofDim[Array[Double]](layers, n) // post-GELU
      val yF = Array.ofDim[Array[Double]](n) // final LN outputs
      val invF = new Array[Double](n)
      var poolNorm = 0.0 // |mean-pooled vector| before normalize
      var z: Array[Double] = null // the unit sentence embedding
    }

    /** Forward pass over a TOKEN sequence, mirroring
      * [[TinyTransformer.encode]] + [[TinyTransformer.embed]] in doubles.
      * Returns null for empty input (the model's zero-vector convention —
      * skipped by the sampler).
      */
    private[llm] def forward(toksIn: Array[String]): Cache = {
      val toks = if (toksIn.length <= cfg.maxTokens) toksIn
        else toksIn.take(cfg.maxTokens)
      val n = toks.length
      if (n == 0) return null
      val c = new Cache(n, cfg.layers)
      var h: Array[Array[Double]] = Array.tabulate(n) { i =>
        val e = ref.tokenBase(toks(i))
        val pe = ref.posEnc(i)
        var j = 0
        while (j < dim) { e(j) += pe(j); j += 1 }
        e
      }
      var l = 0
      while (l < cfg.layers) {
        val wl = w(l)
        // pre-LN attention with residual
        var i = 0
        while (i < n) {
          val (y, inv) = lnFwd(h(i))
          c.x1(l)(i) = y
          c.inv1(l)(i) = inv
          c.q(l)(i) = matVec(y, wl(0), dim)
          c.k(l)(i) = matVec(y, wl(1), dim)
          c.v(l)(i) = matVec(y, wl(2), dim)
          i += 1
        }
        i = 0
        while (i < n) { c.mixed(l)(i) = new Array[Double](dim); i += 1 }
        var hd = 0
        while (hd < heads) {
          val base = hd * headDim
          i = 0
          while (i < n) {
            val scores = new Array[Double](n)
            var maxS = Double.NegativeInfinity
            var j = 0
            while (j < n) {
              var s = 0.0
              var d = 0
              while (d < headDim) {
                s += c.q(l)(i)(base + d) * c.k(l)(j)(base + d); d += 1
              }
              s *= invSqrtHd
              scores(j) = s
              if (s > maxS) maxS = s
              j += 1
            }
            var zs = 0.0
            j = 0
            while (j < n) {
              scores(j) = StrictMath.exp(scores(j) - maxS)
              zs += scores(j)
              j += 1
            }
            j = 0
            while (j < n) {
              scores(j) /= zs
              var d = 0
              while (d < headDim) {
                c.mixed(l)(i)(base + d) += scores(j) * c.v(l)(j)(base + d)
                d += 1
              }
              j += 1
            }
            c.p(l)(hd * n + i) = scores
            i += 1
          }
          hd += 1
        }
        i = 0
        while (i < n) {
          val ao = matVec(c.mixed(l)(i), wl(3), dim)
          val nh = new Array[Double](dim)
          var j = 0
          while (j < dim) { nh(j) = h(i)(j) + ao(j); j += 1 }
          h(i) = nh
          i += 1
        }
        // pre-LN feed-forward with residual
        i = 0
        while (i < n) {
          val (y2, inv2) = lnFwd(h(i))
          c.x2(l)(i) = y2
          c.inv2(l)(i) = inv2
          val f1 = matVec(y2, wl(4), ffDim)
          c.f1(l)(i) = f1
          val g = new Array[Double](ffDim)
          var j = 0
          while (j < ffDim) { g(j) = gelu(f1(j)); j += 1 }
          c.g(l)(i) = g
          val f2 = matVec(g, wl(5), dim)
          j = 0
          while (j < dim) { h(i)(j) += f2(j); j += 1 }
          i += 1
        }
        l += 1
      }
      // final LN per token, mean pool, L2 normalize
      val acc = new Array[Double](dim)
      var i = 0
      while (i < n) {
        val (y, inv) = lnFwd(h(i))
        c.yF(i) = y
        c.invF(i) = inv
        var j = 0
        while (j < dim) { acc(j) += y(j); j += 1 }
        i += 1
      }
      var nsq = 0.0
      var j = 0
      while (j < dim) { acc(j) /= n; nsq += acc(j) * acc(j); j += 1 }
      c.poolNorm = StrictMath.sqrt(nsq)
      val z = new Array[Double](dim)
      if (c.poolNorm > 0) {
        j = 0
        while (j < dim) { z(j) = acc(j) / c.poolNorm; j += 1 }
      }
      c.z = z
      c
    }

    // -------------------------------------------------------------- backward

    /** Gradients for one example given dL/dz; accumulates into `grad`
      * (same shape as [[w]]). Needs the forward cache; h values are
      * reconstructed implicitly — only LN outputs and attention
      * internals are required by the math.
      */
    private[llm] def backward(c: Cache, dz: Array[Double],
        grad: Array[Array[Array[Double]]]): Unit = {
      if (c == null || c.poolNorm == 0.0) return
      val n = c.n
      // z = pool/|pool| → dpool = (dz − z(z·dz))/|pool|
      var zDot = 0.0
      var j = 0
      while (j < dim) { zDot += c.z(j) * dz(j); j += 1 }
      val dPool = new Array[Double](dim)
      j = 0
      while (j < dim) { dPool(j) = (dz(j) - c.z(j) * zDot) / c.poolNorm; j += 1 }
      // mean pool → per-token final-LN grads; final LN backward
      val dh = Array.ofDim[Array[Double]](n)
      var i = 0
      while (i < n) {
        val dy = new Array[Double](dim)
        j = 0
        while (j < dim) { dy(j) = dPool(j) / n; j += 1 }
        dh(i) = lnBwd(dy, c.yF(i), c.invF(i))
        i += 1
      }
      var l = cfg.layers - 1
      while (l >= 0) {
        val wl = w(l)
        val gl = grad(l)
        // FF block backward: h_out = h_mid + w2·gelu(w1·LN(h_mid))
        i = 0
        while (i < n) {
          val df2 = dh(i)
          val dg = matVecT(df2, wl(5), ffDim)
          accumOuter(gl(5), c.g(l)(i), df2)
          val df1 = new Array[Double](ffDim)
          j = 0
          while (j < ffDim) { df1(j) = dg(j) * geluGrad(c.f1(l)(i)(j)); j += 1 }
          val dx2 = matVecT(df1, wl(4), dim)
          accumOuter(gl(4), c.x2(l)(i), df1)
          val dRes = lnBwd(dx2, c.x2(l)(i), c.inv2(l)(i))
          j = 0
          while (j < dim) { dh(i)(j) += dRes(j); j += 1 }
          i += 1
        }
        // attention block backward: h_mid = h_in + wo·attn(LN(h_in))
        val dq = Array.fill(n)(new Array[Double](dim))
        val dk = Array.fill(n)(new Array[Double](dim))
        val dv = Array.fill(n)(new Array[Double](dim))
        val dMixed = Array.ofDim[Array[Double]](n)
        i = 0
        while (i < n) {
          dMixed(i) = matVecT(dh(i), wl(3), dim)
          accumOuter(gl(3), c.mixed(l)(i), dh(i))
          i += 1
        }
        var hd = 0
        while (hd < heads) {
          val base = hd * headDim
          i = 0
          while (i < n) {
            val p = c.p(l)(hd * n + i)
            // dp_ij = dmixed_i · v_j (head slice); dv_j += p_ij dmixed_i
            val dp = new Array[Double](n)
            var dotPDp = 0.0
            j = 0
            while (j < n) {
              var s = 0.0
              var d = 0
              while (d < headDim) {
                s += dMixed(i)(base + d) * c.v(l)(j)(base + d)
                dv(j)(base + d) += p(j) * dMixed(i)(base + d)
                d += 1
              }
              dp(j) = s
              dotPDp += p(j) * s
              j += 1
            }
            // softmax backward + 1/√dh score scale
            j = 0
            while (j < n) {
              val ds = p(j) * (dp(j) - dotPDp) * invSqrtHd
              var d = 0
              while (d < headDim) {
                dq(i)(base + d) += ds * c.k(l)(j)(base + d)
                dk(j)(base + d) += ds * c.q(l)(i)(base + d)
                d += 1
              }
              j += 1
            }
            i += 1
          }
          hd += 1
        }
        i = 0
        while (i < n) {
          val dx1 = new Array[Double](dim)
          val a = matVecT(dq(i), wl(0), dim)
          val b = matVecT(dk(i), wl(1), dim)
          val cc = matVecT(dv(i), wl(2), dim)
          j = 0
          while (j < dim) { dx1(j) = a(j) + b(j) + cc(j); j += 1 }
          accumOuter(gl(0), c.x1(l)(i), dq(i))
          accumOuter(gl(1), c.x1(l)(i), dk(i))
          accumOuter(gl(2), c.x1(l)(i), dv(i))
          val dRes = lnBwd(dx1, c.x1(l)(i), c.inv1(l)(i))
          j = 0
          while (j < dim) { dh(i)(j) += dRes(j); j += 1 }
          i += 1
        }
        l -= 1
      }
    }

    // ------------------------------------------------------------- training

    private def zeroGrads(): Array[Array[Array[Double]]] =
      w.map(_.map(a => new Array[Double](a.length)))

    /** One optimizer step over a batch of (viewA, viewB) token pairs:
      * symmetric InfoNCE at temperature `tau`. Per-example forwards and
      * backwards run on `threads` workers; gradients are summed in
      * EXAMPLE ORDER (determinism). Returns the batch loss.
      */
    private[llm] def step(views: Array[(Array[String], Array[String])],
        pool: java.util.concurrent.ExecutorService): Double = {
      val bs = views.length
      require(bs >= 2, s"contrastive batch needs >= 2 examples: $bs")
      import java.util.concurrent.Callable
      // parallel forwards (cached)
      val fwdTasks = new java.util.ArrayList[Callable[(Cache, Cache)]]()
      views.foreach { case (a, b) =>
        fwdTasks.add(() => (forward(a), forward(b)))
      }
      val fwd = pool.invokeAll(fwdTasks)
      val caches = Array.tabulate(bs)(i => fwd.get(i).get())
      // logits S_ij = zA_i · zB_j / τ
      val s = Array.ofDim[Double](bs, bs)
      var i = 0
      while (i < bs) {
        var jj = 0
        while (jj < bs) {
          var d = 0.0
          val za = caches(i)._1.z
          val zb = caches(jj)._2.z
          var t = 0
          while (t < dim) { d += za(t) * zb(t); t += 1 }
          s(i)(jj) = d / cfg.tau
          jj += 1
        }
        i += 1
      }
      // row softmax (A→B) and column softmax (B→A)
      def softmaxRow(row: Array[Double]): Array[Double] = {
        var mx = Double.NegativeInfinity
        row.foreach(x => if (x > mx) mx = x)
        val e = row.map(x => StrictMath.exp(x - mx))
        val z = e.sum
        e.map(_ / z)
      }
      val pRow = Array.tabulate(bs)(r => softmaxRow(s(r)))
      val pCol = {
        val colT = Array.tabulate(bs)(cI => Array.tabulate(bs)(r => s(r)(cI)))
        Array.tabulate(bs)(cI => softmaxRow(colT(cI)))
      }
      var loss = 0.0
      i = 0
      while (i < bs) {
        loss += -StrictMath.log(math.max(pRow(i)(i), 1e-300))
        loss += -StrictMath.log(math.max(pCol(i)(i), 1e-300))
        i += 1
      }
      loss /= 2.0 * bs
      // dS_ij = (pRow_ij − δ)/(2B) + (pCol_ji − δ)/(2B); then into dzA/dzB
      val dzA = Array.fill(bs)(new Array[Double](dim))
      val dzB = Array.fill(bs)(new Array[Double](dim))
      i = 0
      while (i < bs) {
        var jj = 0
        while (jj < bs) {
          val delta = if (i == jj) 1.0 else 0.0
          val dS = ((pRow(i)(jj) - delta) + (pCol(jj)(i) - delta)) /
            (2.0 * bs * cfg.tau)
          if (dS != 0.0) {
            val za = caches(i)._1.z
            val zb = caches(jj)._2.z
            var t = 0
            while (t < dim) {
              dzA(i)(t) += dS * zb(t)
              dzB(jj)(t) += dS * za(t)
              t += 1
            }
          }
          jj += 1
        }
        i += 1
      }
      // parallel backwards into per-example grad buffers, summed in order
      val bwdTasks =
        new java.util.ArrayList[Callable[Array[Array[Array[Double]]]]]()
      i = 0
      while (i < bs) {
        val idx = i
        bwdTasks.add(() => {
          val g = zeroGrads()
          backward(caches(idx)._1, dzA(idx), g)
          backward(caches(idx)._2, dzB(idx), g)
          g
        })
        i += 1
      }
      val bwd = pool.invokeAll(bwdTasks)
      val grads = zeroGrads()
      i = 0
      while (i < bs) {
        val g = bwd.get(i).get()
        var l = 0
        while (l < cfg.layers) {
          var m = 0
          while (m < 6) {
            val src = g(l)(m)
            val dst = grads(l)(m)
            var t = 0
            while (t < src.length) { dst(t) += src(t); t += 1 }
            m += 1
          }
          l += 1
        }
        i += 1
      }
      // Adam (β1 .9, β2 .999, ε 1e-8)
      adamT += 1
      val b1c = 1.0 - StrictMath.pow(0.9, adamT.toDouble)
      val b2c = 1.0 - StrictMath.pow(0.999, adamT.toDouble)
      var l = 0
      while (l < cfg.layers) {
        var m = 0
        while (m < 6) {
          val g = grads(l)(m)
          val wm = w(l)(m)
          val mm = mo(l)(m)
          val vv = ve(l)(m)
          var t = 0
          while (t < g.length) {
            mm(t) = 0.9 * mm(t) + 0.1 * g(t)
            vv(t) = 0.999 * vv(t) + 0.001 * g(t) * g(t)
            wm(t) -= cfg.lr * (mm(t) / b1c) /
              (StrictMath.sqrt(vv(t) / b2c) + 1e-8)
            t += 1
          }
          m += 1
        }
        l += 1
      }
      loss
    }

    /** Seeded random contiguous crop (token-level view augmentation). */
    private[llm] def crop(toks: Array[String], rng: Rng): Array[String] = {
      if (toks.length <= cfg.viewMin) return toks
      val maxLen = math.min(cfg.viewMax, toks.length)
      val len = cfg.viewMin + rng.nextInt(maxLen - cfg.viewMin + 1)
      val start = rng.nextInt(toks.length - len + 1)
      toks.slice(start, start + len)
    }

    /** Train over tokenized docs (empty docs are skipped at sampling).
      * `onEval` fires every `evalEvery` steps with (step, loss).
      */
    def train(docs: Array[Array[String]],
        onEval: (Int, Double) => Unit = (_, _) => ()): Unit = {
      val usable = docs.indices.filter(docs(_).nonEmpty).toArray
      require(usable.length >= cfg.batch,
        s"need >= ${cfg.batch} non-empty docs, have ${usable.length}")
      val rng = new Rng(cfg.trainSeed)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.threads)
      try {
        var step0 = 0
        while (step0 < cfg.steps) {
          // distinct doc picks per batch (a doc duplicated in-batch would
          // be its own false negative by construction)
          val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
          while (picked.size < cfg.batch)
            picked += usable(rng.nextInt(usable.length))
          val views = picked.toArray.map { di =>
            (crop(docs(di), rng), crop(docs(di), rng))
          }
          val loss = step(views, pool)
          if ((step0 + 1) % 25 == 0 || step0 == 0) onEval(step0 + 1, loss)
          step0 += 1
        }
      } finally pool.shutdown()
    }

    /** Unit sentence embedding under the CURRENT weights (no cache). */
    def embed(toks: Array[String]): Array[Double] = {
      val c = forward(toks)
      if (c == null) new Array[Double](dim) else c.z
    }

    /** Export the current weights as an F32 [[TensorFile]] checkpoint in
      * [[TinyTransformer.loadWeights]]'s naming/shape contract.
      */
    def save(path: String): Unit =
      TensorFile.save(path, (0 until cfg.layers).flatMap { l =>
        (0 until 6).map { m =>
          val (r, cC) = dims(m)
          s"layers.$l.${MatNames(m)}" ->
            TensorFile.Tensor(Array(r, cC), w(l)(m))
        }
      }, dtype = "F32")
  }

  // ------------------------------------------------------------------ eval

  /** Separation report over tokenized docs: mean cosine of each doc vs
    * itself-minus-last-token (pos — the tx_gate near-dup transform) and
    * vs the NEXT doc (neg), under `embed`. The margin (pos − neg) is the
    * number the trained checkpoint must move.
    */
  def separation(docs: Array[Array[String]],
      embed: Array[String] => Array[Double]): (Double, Double, Double) = {
    var posSum = 0.0
    var negSum = 0.0
    var n = 0
    var i = 0
    while (i < docs.length - 1) {
      val t = docs(i)
      if (t.length >= 2 && docs(i + 1).nonEmpty) {
        val z = embed(t)
        val zPos = embed(t.dropRight(1))
        val zNeg = embed(docs(i + 1))
        var p = 0.0
        var q = 0.0
        var d = 0
        while (d < z.length) { p += z(d) * zPos(d); q += z(d) * zNeg(d); d += 1 }
        posSum += p
        negSum += q
        n += 1
      }
      i += 1
    }
    if (n == 0) (0.0, 0.0, 0.0)
    else (posSum / n, negSum / n, (posSum - negSum) / n)
  }

  /** Hard ceiling on docs the offline trainer will collect to the
    * driver; [[loadCorpus]] enforces it. The trainer is a DRIVER-LOCAL
    * loop by design (the committed checkpoint trains on ~10³ docs in
    * seconds); a contrastive pass over more than this bound belongs in a
    * distributed trainer, not a collect.
    */
  val MaxTrainDocs = 1000000

  /** Bounded, deterministic corpus load for the offline trainer: the
    * `maxDocs` LOWEST doc_ids (TakeOrdered — per-partition top-k, no
    * full shuffle; layout- and retry-independent), tokenized. The bound
    * is what makes the CLI safe-by-default on any directory — pointing
    * it at a 100 TB corpus collects `maxDocs` docs, never the corpus
    * (r11 verdict wrong #4; the BpeTrain maxDistinctWords discipline).
    */
  private[llm] def loadCorpus(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, maxDocs: Int): Array[Array[String]] = {
    require(maxDocs >= 1 && maxDocs <= MaxTrainDocs,
      s"maxDocs out of [1, $MaxTrainDocs]: $maxDocs " +
        "(the offline trainer collects to the driver; train a larger " +
        "sample with a distributed pass instead)")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .limit(maxDocs)
      .collect()
      .map(r => Text.metricTokens(r.getAs[String]("text")))
  }

  /** Offline training runner:
    * `TxTrain <documents.parquet dir> <out.safetensors> [steps] [batch]
    * [evalDirs] [maxDocs]`. Reads at most `maxDocs` docs (default
    * 100000, hard cap [[MaxTrainDocs]] — lowest doc_ids, deterministic)
    * with a local SparkSession, trains, prints the before/after
    * separation report, and writes the checkpoint.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: TxTrain <sfDir> <outPath> [steps] [batch] [evalDirs] " +
        s"[maxDocs (default 100000, max $MaxTrainDocs)]")
    val sfDir = args(0)
    val outPath = args(1)
    val maxDocs = if (args.length > 5) args(5).toInt else 100000
    val cfg = Config(
      steps = if (args.length > 2) args(2).toInt else Config().steps,
      batch = if (args.length > 3) args(3).toInt else Config().batch)
    val docs = graft.app.Main.withSession(loadCorpus(_, sfDir, maxDocs))
    println(s"[txtrain] ${docs.length} docs from $sfDir (cap $maxDocs)")
    val trainer = new Trainer(cfg)
    val seeded = TinyTransformer()
    val sep0 = separation(docs,
      t => seeded.embed(t.mkString(" ")).map(_.toDouble))
    println(f"[txtrain] seeded: pos=${sep0._1}%.4f neg=${sep0._2}%.4f " +
      f"margin=${sep0._3}%.4f")
    val t0 = System.nanoTime()
    trainer.train(docs, (s, l) => println(f"[txtrain] step $s%4d loss $l%.4f"))
    println(f"[txtrain] trained in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val sep1 = separation(docs, trainer.embed)
    println(f"[txtrain] trained: pos=${sep1._1}%.4f neg=${sep1._2}%.4f " +
      f"margin=${sep1._3}%.4f")
    trainer.save(outPath)
    // round-trip sanity: the checkpoint must serve through the model
    val served = TinyTransformer(weightsPath = Some(outPath))
    val probe = docs.find(_.length >= 2).getOrElse(Array("probe"))
    val a = served.embed(probe.mkString(" "))
    val b = trainer.embed(probe)
    val drift = a.indices.map(i => math.abs(a(i) - b(i))).max
    println(f"[txtrain] checkpoint round-trip max |Δ| = $drift%.2e")
    println(s"[txtrain] wrote $outPath")
    // cross-SF generalization report (through the SERVED model — the
    // float path the registry gate measures): args(4) = comma-separated
    // sibling corpus dirs
    if (args.length > 4) args(4).split(",").filter(_.nonEmpty).foreach { d =>
      val evalDocs = graft.app.Main.withSession(loadCorpus(_, d, maxDocs))
      val sS = separation(evalDocs,
        t => seeded.embed(t.mkString(" ")).map(_.toDouble))
      val sT = separation(evalDocs,
        t => served.embed(t.mkString(" ")).map(_.toDouble))
      println(f"[txtrain] eval $d: seeded margin=${sS._3}%.4f " +
        f"(pos=${sS._1}%.4f neg=${sS._2}%.4f) | trained " +
        f"margin=${sT._3}%.4f (pos=${sT._1}%.4f neg=${sT._2}%.4f)")
    }
  }
}
