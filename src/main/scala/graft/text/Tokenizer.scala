package graft.text

import scala.collection.mutable.ArrayBuffer

/** Rule-based word tokenizer and sentence splitter with razdel-equivalent
  * architecture.
  *
  * The reference delegates both to the `razdel` package (reference:
  * slovnet/token.py:11-17, slovnet/sent.py:13-30). razdel (natasha/razdel,
  * MIT, public) segments by (1) splitting text into typed ATOMS —
  * RU `[а-яё]+`, LAT `[a-z]+` (case-insensitive), INT `\d+`, PUNCT (single
  * punct char), OTHER (any other non-space char) — then (2) running a rule
  * pipeline over each split between adjacent atoms: atoms separated by
  * whitespace always split; adjacent atoms join when a rule fires:
  *   - dash rule ("2112"): `a-b` joins when neither side of the dash is
  *     punctuation ("по-моему", "ИЛ-2", "2011-2020", "Pal-Yz")
  *   - underscore rule: same for `_` ("a_b")
  *   - float rule: INT `.`/`,` INT joins ("3,5", "1.2.3")
  *   - fraction rule: INT `/`/`\` INT joins ("50/64")
  *   - punct-pair rule: runs of sentence endings join ("...", "?!", "?.."),
  *     runs of dashes join ("--", "-‐"), runs of `*` join; any other
  *     punct-punct pair splits
  *   - other rule: OTHER atoms join with adjacent letters/OTHER ("см³")
  * This file re-implements that contract from the public razdel repo's
  * documented behavior and README goldens — NOT a code translation; the
  * hot loop is allocation-free packed-long atoms, no regex.
  *
  * Sentence splitting follows razdel's sentenize architecture: candidate
  * boundaries at sentence-ending runs `[.?!…]+` plus trailing closing
  * quotes/brackets; a boundary is suppressed (JOIN) when — no whitespace
  * follows; the next word starts lowercase; the next char cannot start a
  * sentence (`,;:)]»`); a single dot follows an initial ("А. С. Пушкин"),
  * a known abbreviation ("1990 г.", "ул. Ленина"), or a line-leading list
  * number ("1. Пункт"). Completed abbreviation pairs ("и т. д. И затем")
  * DO split before a capital, matching razdel's README golden.
  */
object Tokenizer {

  // ---- atom classes (razdel tokenize.py ATOM regex equivalent) ----
  final val RU = 0; final val LAT = 1; final val INT = 2
  final val PUNCT = 3; final val OTHER = 4

  private final val Dashes = "-‐‑‒–—―−"
  private final val Quotes = "\"'«»„“”‘’`"
  private final val Brackets = "()[]{}"
  private final val PunctMisc = "\\/!#$%&*+,.:;<=>?@^|~№…_"
  private final val Endings = ".?!…"
  // closing quotes/brackets that stay with the left sentence
  private final val Closers = "»\"'”’)]"
  // chars that open a sentence-leading quote/bracket
  private final val Openers = "«\"'“‘([{"

  /** Whitespace for segmentation: Java's isWhitespace EXCLUDES the
    * non-breaking family (U+00A0/U+202F/U+2007, NEL) that Python's `\s`
    * and str.isspace treat as separators — and Russian news text uses
    * NBSP routinely (number–unit, initials). isSpaceChar covers the Zs
    * block; NEL is added explicitly.
    */
  @inline private def isSpace(c: Char): Boolean =
    // ASCII closed form first: the JDK calls are two property-table
    // lookups and this predicate guards EVERY char in the atom loop.
    // For c < 0x80, isWhitespace ∪ isSpaceChar = {0x09-0x0d, 0x1c-0x1f,
    // 0x20} exactly; above ASCII the JDK path is authoritative (NBSP,
    // 0x85, Unicode Zs).
    if (c < 0x80) c == ' ' || (c >= 0x09 && c <= 0x0d) || (c >= 0x1c && c <= 0x1f)
    else Character.isWhitespace(c) || Character.isSpaceChar(c) || c == 0x85.toChar

  @inline private def isRuChar(c: Char): Boolean =
    (c >= 'а' && c <= 'я') || (c >= 'А' && c <= 'Я') || c == 'ё' || c == 'Ё'
  @inline private def isLatChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isDigitFast(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c > 0x7f && Character.isDigit(c))
  @inline private def isDash(c: Char): Boolean = Dashes.indexOf(c) >= 0
  @inline private def isPunctChar(c: Char): Boolean =
    isDash(c) || PunctMisc.indexOf(c) >= 0 || Quotes.indexOf(c) >= 0 ||
      Brackets.indexOf(c) >= 0
  @inline private def isEnding(c: Char): Boolean = Endings.indexOf(c) >= 0

  // Atoms packed into one Long each — (start << 34) | (stop << 4) | kind.
  // Avoids a case class + boxed Ints per atom in the hottest loop of the
  // engine (tens of millions of atoms).
  private def pk(start: Int, stop: Int, kind: Int): Long =
    (start.toLong << 34) | (stop.toLong << 4) | kind
  @inline private def pkStart(a: Long): Int = (a >>> 34).toInt
  @inline private def pkStop(a: Long): Int = ((a >>> 4) & 0x3fffffffL).toInt
  @inline private def pkKind(a: Long): Int = (a & 0xfL).toInt

  /** Split into packed typed atoms. The array is zero-terminated: a packed
    * atom is never 0L (its stop is >= 1), so the count is the index of the
    * first 0L, or the array length when full (see [[atomCount]]).
    */
  private def atoms(text: String): Array[Long] = {
    var out = new Array[Long](math.max(8, text.length / 4))
    var m = 0
    def push(v: Long): Unit = {
      if (m == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      out(m) = v; m += 1
    }
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (isSpace(c)) { i += 1 }
      else if (isRuChar(c)) {
        val s = i
        while (i < n && isRuChar(text.charAt(i))) i += 1
        push(pk(s, i, RU))
      } else if (isLatChar(c)) {
        val s = i
        while (i < n && isLatChar(text.charAt(i))) i += 1
        push(pk(s, i, LAT))
      } else if (isDigitFast(c)) {
        val s = i
        while (i < n && isDigitFast(text.charAt(i))) i += 1
        push(pk(s, i, INT))
      } else {
        push(pk(i, i + 1, if (isPunctChar(c)) PUNCT else OTHER))
        i += 1
      }
    }
    out
  }

  private def atomCount(as: Array[Long]): Int = {
    var m = 0
    while (m < as.length && as(m) != 0L) m += 1
    m
  }

  /** Is atom `a` the single character `c`? */
  @inline private def isCharAtom(text: String, a: Long, pred: Char => Boolean): Boolean =
    pkStop(a) == pkStart(a) + 1 && pred(text.charAt(pkStart(a)))

  /** 2112-style rule: when one side of the split IS the delimiter atom,
    * test the atoms on either side of the delimiter (razdel Rule2112;
    * context atoms need not be adjacent — matches razdel).
    * Returns 1=JOIN, 0=no opinion.
    */
  private def rule2112(text: String, as: Array[Long], m: Int, li: Int, ri: Int,
                       isDelim: Char => Boolean, bothInt: Boolean): Int = {
    var lk = -1; var rk = -1
    if (isCharAtom(text, as(li), isDelim)) { // delimiter on the left of split
      if (li - 1 >= 0) { lk = pkKind(as(li - 1)); rk = pkKind(as(ri)) }
    } else if (isCharAtom(text, as(ri), isDelim)) { // delimiter on the right
      if (ri + 1 < m) { lk = pkKind(as(li)); rk = pkKind(as(ri + 1)) }
    }
    if (lk < 0) 0
    else if (bothInt) { if (lk == INT && rk == INT) 1 else 0 }
    else { if (lk != PUNCT && rk != PUNCT) 1 else 0 }
  }

  /** Decide JOIN for the split between adjacent atoms li and ri. */
  private def joins(text: String, as: Array[Long], m: Int, li: Int, ri: Int): Boolean = {
    // dash rule: word-dash-word compounds ("по-моему", "ИЛ-2", "2011-2020").
    // razdel's DashRule scoped to letters; widened to INT sides for
    // letter-digit compounds per the reference's own shape fixtures
    // (tests/test_shape.py "ИЛ-2" is one word).
    var r = rule2112(text, as, m, li, ri, isDash, bothInt = false)
    if (r == 0) r = rule2112(text, as, m, li, ri, _ == '_', bothInt = false)
    if (r == 0) r = rule2112(text, as, m, li, ri,
      c => c == '.' || c == ',', bothInt = true) // float
    if (r == 0) r = rule2112(text, as, m, li, ri,
      c => c == '/' || c == '\\', bothInt = true) // fraction
    if (r != 0) return r > 0
    val lk = pkKind(as(li)); val rk = pkKind(as(ri))
    if (lk == PUNCT && rk == PUNCT) {
      val cl = text.charAt(pkStart(as(li))); val cr = text.charAt(pkStart(as(ri)))
      return (isEnding(cl) && isEnding(cr)) || (isDash(cl) && isDash(cr)) ||
        (cl == '*' && cr == '*')
    }
    // other rule: unknown symbols glue to adjacent letters ("см³")
    if (lk == OTHER && (rk == OTHER || rk == RU || rk == LAT)) return true
    if ((lk == OTHER || lk == RU || lk == LAT) && rk == OTHER) return true
    false
  }

  /** Tokenize one text into char-offset tokens. */
  def tokenize(text: String): Array[Token] = {
    val as = atoms(text)
    val m = atomCount(as)
    val out = new ArrayBuffer[Token](m)
    var i = 0
    while (i < m) {
      val s = pkStart(as(i))
      var e = pkStop(as(i))
      // join next atoms while adjacent (no whitespace) and a rule fires
      while (i + 1 < m && pkStart(as(i + 1)) == e && joins(text, as, m, i, i + 1)) {
        i += 1
        e = pkStop(as(i))
      }
      out += Token(s, e, text.substring(s, e))
      i += 1
    }
    out.toArray
  }

  def textWords(text: String): Array[String] = tokenize(text).map(_.text)

  // ---- sentence splitting (razdel sentenize architecture) ----

  /** Abbreviations a single trailing dot does not terminate a sentence
    * after, even before a capital (razdel sokr.py-style sets, curated for
    * Russian news text). Tail sokrs attach to the preceding number/word
    * ("1990 г.", "5 млн руб."); head sokrs attach to the following word
    * ("ул. Ленина", "им. Пушкина"). Single-letter pair sokrs ("т. д.")
    * are NOT here: inside a pair the lowercase-right rule joins, and after
    * a completed pair razdel splits before a capital (README golden
    * "И т. д. и т. п. В общем" splits before "В").
    */
  private val JoinSokrs: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq(
      // tail: units, money, time, dates
      "г", "гг", "в", "вв", "млн", "млрд", "тыс", "руб", "коп", "долл",
      "евро", "кг", "км", "см", "мм", "га", "ч", "мин", "сек", "л", "чел",
      "экз", "шт", "стр", "таб", "н", "э",
      // head: address/citation/title abbreviations
      "ул", "пер", "просп", "пр", "пл", "наб", "обл", "респ", "гор", "пос",
      "дер", "им", "акад", "проф", "доц", "канд", "св", "гл", "ст", "рис",
      "с", "п",
      "табл", "илл", "разд", "изд", "ред", "сост", "тел", "факс", "англ",
      "рус", "лат", "греч", "нем", "фр", "ит", "исп", "др", "проч", "ср",
      "напр", "зав", "зам", "деп", "чл", "корр",
      // latin citation abbreviations
      "vol", "p", "pp", "no", "n", "fig", "eq", "et", "al", "etc", "e", "i",
      "cf", "ca").foreach(s.add)
    s
  }

  @inline private def isSentEnd(c: Char): Boolean = isEnding(c)

  /** Sentence splitter: first split hard lines (slovnet/sent.py:13-18 regex
    * `[^\r\n]+`), then razdel-style boundary rules within each line.
    */
  def sentenize(text: String): Array[Sent] = {
    val out = new ArrayBuffer[Sent]
    var ls = 0
    val n = text.length
    while (ls < n) {
      while (ls < n && (text.charAt(ls) == '\r' || text.charAt(ls) == '\n')) ls += 1
      if (ls < n) {
        var le = ls
        while (le < n && text.charAt(le) != '\r' && text.charAt(le) != '\n') le += 1
        splitLine(text, ls, le, out)
        ls = le
      }
    }
    out.toArray
  }

  private def splitLine(text: String, ls: Int, le: Int, out: ArrayBuffer[Sent]): Unit = {
    var s = ls
    var i = ls
    while (i < le) {
      val c = text.charAt(i)
      if (isSentEnd(c)) {
        // consume the full ending run ("...", "?!", "?..")
        var j = i + 1
        while (j < le && isSentEnd(text.charAt(j))) j += 1
        // closing quotes/brackets stay with the left sentence
        var close = j
        while (close < le && Closers.indexOf(text.charAt(close)) >= 0) close += 1
        // next non-space char
        var k = close
        while (k < le && isSpace(text.charAt(k))) k += 1
        val singleDot = c == '.' && j == i + 1
        var join = false
        if (close < le && k == close) join = true // no whitespace after → mid-token
        else if (k < le) {
          val nc = text.charAt(k)
          if (Character.isLetter(nc) && Character.isLowerCase(nc)) join = true
          else if (",;:".indexOf(nc) >= 0 || Closers.indexOf(nc) >= 0) join = true
          else if (isDash(nc)) {
            // speech attribution continues the sentence («Кто?» — спросил
            // он), while a dash opening new direct speech splits (razdel
            // README: `- "Не ра-ду-ют".` starts a new sentence)
            var k3 = k + 1
            while (k3 < le && isSpace(text.charAt(k3))) k3 += 1
            if (k3 < le && Character.isLetter(text.charAt(k3)) &&
              Character.isLowerCase(text.charAt(k3))) join = true
          }
        }
        if (!join && singleDot) join = abbrevBeforeDot(text, ls, le, i)
        if (join) i = j
        else {
          emit(text, s, close, out)
          s = k
          i = k
        }
      } else i += 1
    }
    if (s < le) emit(text, s, le, out)
  }

  /** Single lowercase letters that are only abbreviations in CITATION
    * contexts ("с. 45" страница, "п. 3" пункт): joining them before a
    * capital made genuine sentence ends stay joined, so the join requires
    * a digit after the dot (round-3 ADVICE). Known tradeoff, documented in
    * TokenizerSpec: "с. Иваново" (село + name) now splits — the citation
    * reading is far more frequent in running text than the village one.
    */
  private val DigitOnlySokrs: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    s.add("с"); s.add("п"); s
  }

  /** Is the single dot at `dot` preceded by an initial, a known
    * abbreviation, or a line-leading list number?
    */
  private def abbrevBeforeDot(text: String, ls: Int, le: Int, dot: Int): Boolean = {
    var ws = dot
    while (ws > ls && Character.isLetter(text.charAt(ws - 1))) ws -= 1
    if (ws < dot) {
      // letters immediately before the dot
      if (dot - ws == 1 && Character.isUpperCase(text.charAt(ws)))
        return true // initial: "А. С. Пушкин"
      // pair sokr completion splits ("т. д. И", "т. п. В"): a single
      // lowercase letter ending a PAIR (preceded by another single
      // lowercase letter + dot) allows the boundary even when the letter
      // itself is a standalone sokr ("п." пункт, "с." страница) — the
      // pair reading wins, matching razdel's README goldens
      val w = text.substring(ws, dot).toLowerCase(java.util.Locale.ROOT)
      if (dot - ws == 1 && JoinSokrs.contains(w)) {
        var p = ws
        while (p > ls && isSpace(text.charAt(p - 1))) p -= 1
        if (p > ls && text.charAt(p - 1) == '.') {
          val dot2 = p - 1
          var w2 = dot2
          while (w2 > ls && Character.isLetter(text.charAt(w2 - 1))) w2 -= 1
          if (dot2 - w2 == 1 && Character.isLowerCase(text.charAt(w2)))
            return false // completed pair sokr — sentence may end here
        }
        if (DigitOnlySokrs.contains(w)) {
          // citation sokr: join only when a digit follows ("с. 45")
          var k = dot + 1
          while (k < le && (isSpace(text.charAt(k)) ||
            Closers.indexOf(text.charAt(k)) >= 0)) k += 1
          return k < le && Character.isDigit(text.charAt(k))
        }
        return true
      }
      return JoinSokrs.contains(w)
    }
    // digits before the dot: list item "1. Пункт" only at line start
    var ds = dot
    while (ds > ls && Character.isDigit(text.charAt(ds - 1))) ds -= 1
    if (ds < dot) {
      var p = ls
      while (p < ds) {
        val pc = text.charAt(p)
        if (!isSpace(pc) && Openers.indexOf(pc) < 0) return false
        p += 1
      }
      return true
    }
    false
  }

  private def emit(text: String, s0: Int, e0: Int, out: ArrayBuffer[Sent]): Unit = {
    var s = s0; var e = e0
    while (s < e && isSpace(text.charAt(s))) s += 1
    while (e > s && isSpace(text.charAt(e - 1))) e -= 1
    if (e > s) out += Sent(s, e, text.substring(s, e)) // drop empty (sent.py:24-25)
  }

  /** Align already-known words back to char offsets via ordered substring
    * search with a running offset (slovnet/token.py:20-26).
    */
  def findTokens(text: String, chunks: Iterable[String]): Array[Token] = {
    val out = new ArrayBuffer[Token]
    var offset = 0
    for (chunk <- chunks) {
      val start = text.indexOf(chunk, offset)
      val stop = start + chunk.length
      out += Token(start, stop, chunk)
      offset = stop
    }
    out.toArray
  }

  /** Keep spans fully inside the [start,stop) envelope (slovnet/span.py:26-33). */
  def envelopSpans(spans: Iterable[Span], start: Int, stop: Int): Array[Span] =
    spans.iterator.filter(s => start <= s.start && s.stop <= stop).toArray

  /** Shift span coordinates by delta (slovnet/span.py:13-23). */
  def offsetSpans(spans: Iterable[Span], delta: Int): Array[Span] =
    spans.iterator.map(s => Span(s.start + delta, s.stop + delta, s.tpe)).toArray

  /** Filter spans by entity type (slovnet/span.py:36-39). */
  def selectTypeSpans(spans: Iterable[Span], tpe: String): Array[Span] =
    spans.iterator.filter(_.tpe == tpe).toArray
}
