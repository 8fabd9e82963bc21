package graft.kernel

import jdk.incubator.vector.{FloatVector, VectorOperators, VectorSpecies}

/** SIMD twin of the scalar dense kernel (Kernels.convDirectScalar), built
  * on the JDK Vector API (16 f32 lanes with AVX-512): the one dense FMA
  * register tile. It runs the direct convolution of the dense CNN encoder
  * and, as a kernel-1 convolution over S = 1, the dense products of the
  * Linear and biaffine-rel weights.
  *
  * BIT-EXACT CONTRACT: per-output-element arithmetic — operation order and
  * per-op rounding — is IDENTICAL to the scalar path. Lanes are independent
  * output columns; every element accumulates its k terms in ascending-k
  * order as FUSED multiply-adds (one rounding per term):
  *   acc_p = fma(a[i,p], w[p,j], acc_{p-1}),  acc_{-1} = 0.
  * The scalar twin uses java.lang.Math.fma, which C2 intrinsifies to the
  * same vfmadd instruction, so the two paths agree bit-for-bit (KernelSpec
  * asserts it on all tail shapes). The dense path serves only dense
  * trained/production weights, where the reference's own numpy matmul
  * delegates to BLAS with an implementation-defined accumulation order —
  * FMA is as faithful as any; the rigged sparse packs (the oracle-checked
  * toy path) keep the sequential mul-then-add kernels.
  *
  * Layout: w[k,n] row-major (pre-transposed weight). Row i of the virtual
  * im2col matrix `a` is the conv window of position i (exec/model.py:97-108's
  * im2col row), read in place from the zero-guarded activation tensor (see
  * Conv1d) instead of from a copied im2col buffer. A plain GEMM
  * a[m,k] x w[k,n] is the case batch = m, seqLen = 1, chans = k,
  * kernel = 1, pad = 0: row i is then a(i*k until (i+1)*k).
  *
  * Register blocking: 4 output rows x 4 vectors (4x64 floats at AVX-512)
  * held in registers across the whole k loop — each loaded w vector feeds
  * four rows, and the 16 independent accumulator chains cover the FMA
  * latency-bandwidth product.
  */
private[graft] object VectorGemm {
  private val SP: VectorSpecies[java.lang.Float] = FloatVector.SPECIES_PREFERRED
  private val L = SP.length()

  /** Used by Kernels to decide dispatch once at class-load. */
  def lanes: Int = L

  /** Direct convolution with the 4x4-vector register tile (see
    * Kernels.convDirect for the contract). Row i of the virtual im2col
    * matrix starts at x offset rowBase(i) = b*chans*sg + s; its element p
    * sits at rowBase(i) + off, where off steps by 1 per tap and by
    * sg - kernel more at each channel change. The p loop stays flat:
    * carried across nested channel/tap loops, the vector accumulators got
    * boxed by C2 (17x slower in a prototype). Each finished tile is spilled
    * to ws(WS.PROD); [[putTile]] runs the epilogue on it lanes at a time
    * (scalar column tails go through `st.put`; filling the tile with the
    * whole tail and storing it with one `st.put` per row block measured
    * slower at the 1280x64x60 morph projection).
    */
  def convDirect(x: Array[Float], batch: Int, seqLen: Int, chans: Int, kernel: Int,
                 pad: Int, w: Array[Float], n: Int, st: ConvStore, ws: Workspace): Unit = {
    val sg = seqLen + 2 * pad
    val k = chans * kernel
    val jump = sg - kernel
    val m = batch * seqLen
    val ts = 4 * L            // tile row stride in the spill buffer
    val tile = ws.f(WS.PROD, 4 * ts)
    val n4v = n - n % ts      // columns covered by 4-vector tiles
    val n1v = n - n % L       // columns covered by single-vector tiles
    def rowBase(r: Int): Int = (r / seqLen) * chans * sg + r % seqLen
    var i = 0
    // --- 4 rows x 4 vectors register tile
    while (i + 4 <= m) {
      val xA = rowBase(i); val xB = rowBase(i + 1)
      val xC = rowBase(i + 2); val xD = rowBase(i + 3)
      var j = 0
      while (j < n4v) {
        var acc00 = FloatVector.zero(SP); var acc01 = FloatVector.zero(SP)
        var acc02 = FloatVector.zero(SP); var acc03 = FloatVector.zero(SP)
        var acc10 = FloatVector.zero(SP); var acc11 = FloatVector.zero(SP)
        var acc12 = FloatVector.zero(SP); var acc13 = FloatVector.zero(SP)
        var acc20 = FloatVector.zero(SP); var acc21 = FloatVector.zero(SP)
        var acc22 = FloatVector.zero(SP); var acc23 = FloatVector.zero(SP)
        var acc30 = FloatVector.zero(SP); var acc31 = FloatVector.zero(SP)
        var acc32 = FloatVector.zero(SP); var acc33 = FloatVector.zero(SP)
        var p = 0; var off = 0; var t = 0
        while (p < k) {
          val vA = FloatVector.broadcast(SP, x(xA + off))
          val vB = FloatVector.broadcast(SP, x(xB + off))
          val vC = FloatVector.broadcast(SP, x(xC + off))
          val vD = FloatVector.broadcast(SP, x(xD + off))
          val b0 = p * n + j
          val t0 = FloatVector.fromArray(SP, w, b0)
          val t1 = FloatVector.fromArray(SP, w, b0 + L)
          val t2 = FloatVector.fromArray(SP, w, b0 + 2 * L)
          val t3 = FloatVector.fromArray(SP, w, b0 + 3 * L)
          acc00 = t0.fma(vA, acc00); acc01 = t1.fma(vA, acc01)
          acc02 = t2.fma(vA, acc02); acc03 = t3.fma(vA, acc03)
          acc10 = t0.fma(vB, acc10); acc11 = t1.fma(vB, acc11)
          acc12 = t2.fma(vB, acc12); acc13 = t3.fma(vB, acc13)
          acc20 = t0.fma(vC, acc20); acc21 = t1.fma(vC, acc21)
          acc22 = t2.fma(vC, acc22); acc23 = t3.fma(vC, acc23)
          acc30 = t0.fma(vD, acc30); acc31 = t1.fma(vD, acc31)
          acc32 = t2.fma(vD, acc32); acc33 = t3.fma(vD, acc33)
          p += 1; off += 1; t += 1
          if (t == kernel) { t = 0; off += jump }
        }
        acc00.intoArray(tile, 0); acc01.intoArray(tile, L)
        acc02.intoArray(tile, 2 * L); acc03.intoArray(tile, 3 * L)
        acc10.intoArray(tile, ts); acc11.intoArray(tile, ts + L)
        acc12.intoArray(tile, ts + 2 * L); acc13.intoArray(tile, ts + 3 * L)
        acc20.intoArray(tile, 2 * ts); acc21.intoArray(tile, 2 * ts + L)
        acc22.intoArray(tile, 2 * ts + 2 * L); acc23.intoArray(tile, 2 * ts + 3 * L)
        acc30.intoArray(tile, 3 * ts); acc31.intoArray(tile, 3 * ts + L)
        acc32.intoArray(tile, 3 * ts + 2 * L); acc33.intoArray(tile, 3 * ts + 3 * L)
        putTile(st, tile, ts, i, 4, j, ts)
        j += ts
      }
      while (j < n1v) {
        var accA = FloatVector.zero(SP); var accB = FloatVector.zero(SP)
        var accC = FloatVector.zero(SP); var accD = FloatVector.zero(SP)
        var p = 0; var off = 0; var t = 0
        while (p < k) {
          val tv = FloatVector.fromArray(SP, w, p * n + j)
          accA = tv.fma(FloatVector.broadcast(SP, x(xA + off)), accA)
          accB = tv.fma(FloatVector.broadcast(SP, x(xB + off)), accB)
          accC = tv.fma(FloatVector.broadcast(SP, x(xC + off)), accC)
          accD = tv.fma(FloatVector.broadcast(SP, x(xD + off)), accD)
          p += 1; off += 1; t += 1
          if (t == kernel) { t = 0; off += jump }
        }
        accA.intoArray(tile, 0); accB.intoArray(tile, ts)
        accC.intoArray(tile, 2 * ts); accD.intoArray(tile, 3 * ts)
        putTile(st, tile, ts, i, 4, j, L)
        j += L
      }
      while (j < n) {
        var sA = 0f; var sB = 0f; var sC = 0f; var sD = 0f
        var p = 0; var off = 0; var t = 0
        while (p < k) {
          val tv = w(p * n + j)
          sA = Math.fma(x(xA + off), tv, sA); sB = Math.fma(x(xB + off), tv, sB)
          sC = Math.fma(x(xC + off), tv, sC); sD = Math.fma(x(xD + off), tv, sD)
          p += 1; off += 1; t += 1
          if (t == kernel) { t = 0; off += jump }
        }
        tile(0) = sA; tile(ts) = sB; tile(2 * ts) = sC; tile(3 * ts) = sD
        st.put(tile, 0, ts, 1, i, 4, j, 1)
        j += 1
      }
      i += 4
    }
    // --- remainder rows, one at a time (same per-element order)
    while (i < m) {
      val xR = rowBase(i)
      var j = 0
      while (j < n4v) {
        var acc0 = FloatVector.zero(SP); var acc1 = FloatVector.zero(SP)
        var acc2 = FloatVector.zero(SP); var acc3 = FloatVector.zero(SP)
        var p = 0; var off = 0; var t = 0
        while (p < k) {
          val v = FloatVector.broadcast(SP, x(xR + off))
          val b0 = p * n + j
          acc0 = FloatVector.fromArray(SP, w, b0).fma(v, acc0)
          acc1 = FloatVector.fromArray(SP, w, b0 + L).fma(v, acc1)
          acc2 = FloatVector.fromArray(SP, w, b0 + 2 * L).fma(v, acc2)
          acc3 = FloatVector.fromArray(SP, w, b0 + 3 * L).fma(v, acc3)
          p += 1; off += 1; t += 1
          if (t == kernel) { t = 0; off += jump }
        }
        acc0.intoArray(tile, 0); acc1.intoArray(tile, L)
        acc2.intoArray(tile, 2 * L); acc3.intoArray(tile, 3 * L)
        putTile(st, tile, ts, i, 1, j, ts)
        j += ts
      }
      while (j < n1v) {
        var acc = FloatVector.zero(SP)
        var p = 0; var off = 0; var t = 0
        while (p < k) {
          acc = FloatVector.fromArray(SP, w, p * n + j)
            .fma(FloatVector.broadcast(SP, x(xR + off)), acc)
          p += 1; off += 1; t += 1
          if (t == kernel) { t = 0; off += jump }
        }
        acc.intoArray(tile, 0)
        putTile(st, tile, ts, i, 1, j, L)
        j += L
      }
      while (j < n) {
        var sR = 0f
        var p = 0; var off = 0; var t = 0
        while (p < k) {
          sR = Math.fma(x(xR + off), w(p * n + j), sR)
          p += 1; off += 1; t += 1
          if (t == kernel) { t = 0; off += jump }
        }
        tile(0) = sR
        st.put(tile, 0, ts, 1, i, 1, j, 1)
        j += 1
      }
      i += 1
    }
  }

  /** ConvStore.put over full vectors: rows r0 until r0+rows of the spilled
    * tile (row stride ts), filters j0 until j0+cols (cols a multiple of L).
    * Per lane the same IEEE operations as put — add (none without a
    * bias), select, sub, mul, add, none fused — so the bits match; the
    * select (compare + blend) is `if (v > 0f) v else 0f` exactly, NaN and
    * -0f included. A guarded
    * output is strided per filter: the vector goes back into its tile slot
    * and out lane by lane (the Vector API scatter store gave run-to-run
    * different results under C2 on JDK 17).
    */
  private def putTile(st: ConvStore, tile: Array[Float], ts: Int, r0: Int, rows: Int,
                      j0: Int, cols: Int): Unit = {
    val zero = FloatVector.zero(SP)
    val out = st.out
    val cs = st.colStride
    var rr = 0
    while (rr < rows) {
      val r = r0 + rr
      val o = st.outOffset(r, j0)
      val masked = st.mask != null && st.mask(r)
      var q = 0
      while (q < cols) {
        val j = j0 + q
        var v = zero
        if (!masked) {
          v = FloatVector.fromArray(SP, tile, rr * ts + q)
          if (st.bias != null) v = v.add(FloatVector.fromArray(SP, st.bias, j))
          if (st.mean != null)
            v = zero.blend(v, v.compare(VectorOperators.GT, 0f))
              .sub(FloatVector.fromArray(SP, st.mean, j))
              .mul(FloatVector.fromArray(SP, st.scale, j))
              .add(FloatVector.fromArray(SP, st.shift, j))
        }
        if (cs == 1) v.intoArray(out, o + q)
        else {
          val tq = rr * ts + q
          v.intoArray(tile, tq)
          var l = 0
          while (l < L) { out(o + (q + l) * cs) = tile(tq + l); l += 1 }
        }
        q += L
      }
      rr += 1
    }
  }
}
