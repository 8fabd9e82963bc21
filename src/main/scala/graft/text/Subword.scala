package graft.text

import scala.collection.mutable.ArrayBuffer

/** Teacher-path text utilities (reference: slovnet/bert.py:5-38).
  * `bertChunks` is the `\w+|[^\w\s]` word splitter (a ~0.3%-different
  * approximation of the main tokenizer, useful as a fallback);
  * `wordpiece` is greedy longest-match-first subword splitting with the
  * `##` continuation prefix.
  */
object Subword {

  private val ChunkRe = java.util.regex.Pattern.compile(
    "[\\p{L}\\p{N}_]+|[^\\p{L}\\p{N}_\\s]")

  /** slovnet/bert.py:5-9 */
  def bertChunks(text: String): Array[String] = {
    val out = new ArrayBuffer[String]
    val m = ChunkRe.matcher(text)
    while (m.find()) out += m.group()
    out.toArray
  }

  /** Greedy longest-match-first wordpiece (slovnet/bert.py:12-30).
    * Returns None when some prefix has no vocab entry.
    */
  def wordpiece(word: String, vocab: collection.Set[String],
                prefix: String = "##"): Option[List[String]] = {
    def rec(rest: String, first: Boolean): Option[List[String]] = {
      if (rest.isEmpty) return Some(Nil)
      var size = rest.length
      while (size > 0) {
        val guess = (if (first) "" else prefix) + rest.substring(0, size)
        if (vocab.contains(guess))
          rec(rest.substring(size), first = false) match {
            case Some(tail) => return Some(guess :: tail)
            case None       => // backtrack to a shorter prefix
          }
        size -= 1
      }
      None
    }
    rec(word, first = true)
  }

  /** safe_wordpiece (slovnet/bert.py:33-38): fall back to the whole word. */
  def safeWordpiece(word: String, vocab: collection.Set[String]): List[String] =
    wordpiece(word, vocab).getOrElse(List(word))
}

/** Batching utilities (reference: slovnet/chop.py:3-34). `chop` is
  * Iterator.grouped; `chopWeighted` batches by a weight budget — used for
  * subtoken-count-bounded inference batches (infer/bert.py:67-73).
  */
object Chop {
  def chop[T](items: Iterator[T], size: Int): Iterator[Seq[T]] =
    items.grouped(size)

  /** drop ragged tail (chop.py:14-19) */
  def chopDrop[T](items: Iterator[T], size: Int): Iterator[Seq[T]] =
    items.grouped(size).filter(_.size == size)

  /** batch by weight budget (chop.py:22-34): a buffer is emitted when
    * adding the next item would exceed `budget`.
    * (NB: do not name the parameter `size` — inside the anonymous Iterator
    * it would resolve to Iterator.size and CONSUME the stream.)
    */
  def chopWeighted[T](items: Iterator[T], budget: Long, weight: T => Long): Iterator[Seq[T]] =
    new Iterator[Seq[T]] {
      private val it = items.buffered
      def hasNext: Boolean = it.hasNext
      def next(): Seq[T] = {
        val buf = new ArrayBuffer[T]
        var accum = 0L
        while (it.hasNext && (buf.isEmpty || accum + weight(it.head) <= budget)) {
          val item = it.next()
          buf += item
          accum += weight(item)
        }
        buf.toSeq
      }
    }
}
