package graft.kernel

/** Per-thread scratch-buffer pool for the inference hot path.
  *
  * The fused NLP stage runs millions of small batches; allocating fresh
  * float tensors per batch makes the engine allocation-bandwidth-bound at
  * 32 threads (the measured single-box scaling limiter). One Workspace is
  * created per partition (mapPartitions) and every kernel writes into a
  * slot-addressed growable buffer instead of `new Array`.
  *
  * Discipline: slot ids are global constants ([[WS]]); a slot's content is
  * valid only until the next kernel call that uses the same slot. Buffers
  * may be LONGER than the logical size — kernels always take explicit
  * lengths and never rely on `.length`.
  */
final class Workspace {
  private val fbufs = new Array[Array[Float]](WS.F_SLOTS)
  private val ibufs = new Array[Array[Int]](WS.I_SLOTS)
  private val bbufs = new Array[Array[Boolean]](WS.B_SLOTS)

  def f(slot: Int, n: Int): Array[Float] = {
    var a = fbufs(slot)
    if (a == null || a.length < n) { a = new Array[Float](n + (n >> 1) + 64); fbufs(slot) = a }
    a
  }
  def i(slot: Int, n: Int): Array[Int] = {
    var a = ibufs(slot)
    if (a == null || a.length < n) { a = new Array[Int](n + (n >> 1) + 64); ibufs(slot) = a }
    a
  }
  def b(slot: Int, n: Int): Array[Boolean] = {
    var a = bbufs(slot)
    if (a == null || a.length < n) { a = new Array[Boolean](n + (n >> 1) + 64); bbufs(slot) = a }
    a
  }
}

/** Slot registry. Lifetimes are documented per slot; two slots may never be
  * live at the same time unless listed as disjoint here.
  */
object WS {
  // float slots
  val EMB = 0        // [B,S,E] shared word+shape embedding (live across all 3 trunks)
  val XT = 1         // guarded [B,E,S+2*pad] encoder input (live across all 3 trunks)
  val ENC_A = 2      // guarded CNN layer output, ping
  val ENC_B = 3      // guarded CNN layer output, pong
  val PROD = 4       // conv product on its way to the epilogue: dense tile spill
                     // or scalar row, sparse per-item [F,S] (live within one
                     // layer or one dense Linear/rel product)
  val ENC_OUT = 5    // [B,S,C] encoder output, written by the last layer
                     // (live until the model's heads consume it)
  val NER_OUT = 6    // NER emissions (live until CRF decode)
  val MORPH_OUT = 7  // morph logits (live until assembly — syntax must not touch)
  val SH_ROOT = 8    // syntax withRoot
  val SH_H = 9       // FF head out (head stage, then reused by rel stage)
  val SH_T = 10      // FF tail out
  val SH_HK = 11     // biaffine h×kernel product
  val SH_HB = 12     // per-batch h block
  val HEAD_SC = 13   // arc scores [B,S,S+1]
  val GATH = 14      // gathered head states
  val REL_SC = 15    // rel scores [B,S,R]
  val CRF_SCORE = 16 // viterbi running scores [B,T]
  val CRF_CAND = 17  // viterbi candidate scores [T]
  val CRF_NS = 18    // viterbi new scores [T]
  val F_SLOTS = 19

  // int slots
  val WORD_IDS = 0
  val SHAPE_IDS = 1
  val CRF_HIST = 2   // [(S-1)*B*T] backpointers
  val HEAD_IDS = 3
  val REL_IDS = 4
  val I_SLOTS = 5

  // boolean slots
  val PAD_MASK = 0
  val VALID = 1
  val B_SLOTS = 2
}
