package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text._

/** Ports of the reference's unit tables: tests/test_shape.py:14-51 and
  * tests/test_bio.py:31-105.
  */
class ShapeSpec extends AnyFunSuite {
  import Shape._

  val cases: Seq[(String, Seq[String])] = Seq(
    "В" -> Seq("RU_X"),
    "ИЛ-2" -> Seq("RU_XX"),
    "105г." -> Seq("NUM", "RU_x", "PUNCT_."),
    "Pal-Yz" -> Seq("EN_Xx-Xx"),
    "и Я-ДаА" -> Seq("RU_x", "RU_OTHER"),
    "Прибыл на I@" -> Seq("RU_Xx", "RU_xx", "EN_X", "PUNCT_@"),
    "и -‐" -> Seq("RU_x", "PUNCT_OTHER")
  )

  test("word_shape over tokenizer matches reference fixture table") {
    for ((text, expected) <- cases) {
      val got = Tokenizer.tokenize(text).map(t => wordShape(t.text)).toSeq
      assert(got == expected, s"text=$text")
    }
  }

  test("SHAPES table has the reference layout") {
    assert(SHAPES.length == 7 + 7 + Shape.PUNCTS.length + 3)
    assert(SHAPES.take(2) == Seq("RU_X", "RU_x"))
    assert(SHAPES.takeRight(2) == Seq("NUM", "OTHER"))
  }

  test("fast paths == reference formulations (wordType/shape/vocab-lower)") {
    val rnd = new scala.util.Random(42)
    val alphabet =
      "абвгдеёжзиклмнопрстуфхцчшщъыьэюяАБВГДЕЁЖЗИКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ" +
        "abczABCZ0189+-.,!?…«»№_@#%борщ BoRschİΣ" // İ/Σ: full lower != per-char lower
    def randWord(): String = {
      val n = 1 + rnd.nextInt(6)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val words = (1 to 5000).map(_ => randWord()) ++
      Seq("", "В", "ИЛ-2", "105г", "+7", "-", "+", "3,5", "...", "№", "ёЁ",
        "İ", "İSTANBUL", "ΟΣ", "ΣΣ")
    val vocab = graft.pack.SynthPack.build().wordVocab
    for (w <- words) {
      assert(wordType(w) == wordTypeRegex(w), s"wordType mismatch on '$w'")
      if (w.nonEmpty) {
        assert(SHAPES(shapeOrdinal(w)) == wordShape(w), s"shapeOrdinal mismatch on '$w'")
        assert(vocab.encodeLower(w) == vocab.encode(lowerFast(w)),
          s"encodeLower mismatch on '$w'")
      }
    }
  }

  test("python isupper/islower semantics") {
    assert(pyIsUpper("ИЛ-2"))
    assert(!pyIsUpper("и"))
    assert(pyIsLower("ил-2"))
    assert(!pyIsUpper("-2") && !pyIsLower("-2")) // no cased chars
    assert(isTitle("Иван") && !isTitle("ИВАН") && !isTitle("И"))
    assert(isDashTitle("Pal-Yz") && !isDashTitle("Pal-YZ"))
  }
}

class TokenizerSpec extends AnyFunSuite {
  test("digits/letters split, hyphen join, punct runs") {
    def words(t: String) = Tokenizer.tokenize(t).map(_.text).toSeq
    assert(words("105г.") == Seq("105", "г", "."))
    assert(words("ИЛ-2") == Seq("ИЛ-2"))
    assert(words("2011-2020") == Seq("2011-2020"))
    assert(words("3,5 кг") == Seq("3,5", "кг"))
    assert(words("«Газпром» купил завод.") == Seq("«", "Газпром", "»", "купил", "завод", "."))
    assert(words("Привет... Да?!") == Seq("Привет", "...", "Да", "?!"))
  }

  test("offsets are exact substrings") {
    val text = "Иван Петров купил завод в Москве."
    for (t <- Tokenizer.tokenize(text))
      assert(text.substring(t.start, t.stop) == t.text)
  }

  test("property: tokenize and sentenize spans slice their text, in order, disjoint; tokens hold no whitespace") {
    import org.scalacheck.{Gen, Prop, Test}
    // the tokenizer's own separator set: Java whitespace plus the Zs block
    // (NBSP, U+202F, ...) and NEL
    def space(c: Char) = Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085'
    val piece = Gen.frequency(
      6 -> Gen.oneOf("Иван", "пётр", "ЁЖ", "Москве", "т", "г", "ИЛ", "Газпром"),
      3 -> Gen.oneOf("Pal", "abc", "X", "iPhone"),
      3 -> Gen.oneOf("1941", "0", "3,5", "0.5", "50/64", "123-45-67"),
      5 -> Gen.oneOf(".", ",", "!", "?", "...", "…", "?!", "«", "»", "„", "“", "\"", "'",
        "(", ")", "[", "]", ";", ":", "-", "—", "–", "/", "№", "%", "+", "_"),
      4 -> Gen.oneOf(" ", "  ", "\n", "\n\n", "\t", "\r\n", "\u00a0", "\u202f", " \n   "),
      // supplementary characters: emoji, math letter, Linear B
      2 -> Gen.oneOf("\uD83D\uDE00", "\uD835\uDD38", "\uD800\uDC00", "см³"))
    val text = Gen.choose(0, 40).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    def spansOk(t: String, spans: Seq[(Int, Int, String)]): Prop = {
      val ends = spans.map(_._2).scanLeft(0)((_, e) => e)
      Prop.all(spans.zip(ends).map { case ((start, stop, s), prevStop) =>
        Prop(prevStop <= start && start < stop && stop <= t.length &&
          t.substring(start, stop) == s) :| s"span ($start,$stop) '$s' after $prevStop"
      }: _*)
    }
    val p = Prop.forAll(text) { t =>
      val toks = Tokenizer.tokenize(t).toSeq
      val sents = Tokenizer.sentenize(t).toSeq
      (spansOk(t, toks.map(x => (x.start, x.stop, x.text))) :| "tokenize") &&
        (spansOk(t, sents.map(x => (x.start, x.stop, x.text))) :| "sentenize") &&
        (Prop(toks.forall(!_.text.exists(space))) :| "whitespace inside a token")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("sentenize splits on terminal + uppercase and drops empties") {
    val text = "Иван купил завод. Пётр продал офис.\n\n«Газпром» открыл филиал."
    val sents = Tokenizer.sentenize(text).map(_.text).toSeq
    assert(sents == Seq("Иван купил завод.", "Пётр продал офис.", "«Газпром» открыл филиал."))
    for (s <- Tokenizer.sentenize(text))
      assert(text.substring(s.start, s.stop) == s.text)
  }

  test("razdel README tokenize golden") {
    // razdel README's own example (public, natasha/razdel):
    // 'Кружка-термос на 0.5л (50/64 см³, 516;...)'
    val got = Tokenizer.tokenize("Кружка-термос на 0.5л (50/64 см³, 516;...)")
    assert(got.map(_.text).toSeq == Seq(
      "Кружка-термос", "на", "0.5", "л", "(", "50/64", "см³", ",",
      "516", ";", "...", ")"))
    assert(got.map(t => (t.start, t.stop)).toSeq == Seq(
      (0, 13), (14, 16), (17, 20), (20, 21), (22, 23), (23, 28), (29, 32),
      (32, 33), (34, 37), (37, 38), (38, 41), (41, 42)))
  }

  test("razdel README sentenize golden") {
    val text = "- \"Так в чем же дело?\" - \"Не ра-ду-ют\".\n" +
      "И т. д. и т. п. В общем, вся газета"
    assert(Tokenizer.sentenize(text).map(_.text).toSeq == Seq(
      "- \"Так в чем же дело?\"", "- \"Не ра-ду-ют\".",
      "И т. д. и т. п.", "В общем, вся газета"))
  }

  test("razdel-parity fixture table (tokenize), 100+ cases") {
    // sources: reference tests/test_shape.py:14-51 word classes, razdel
    // README examples, and razdel's documented conventions on initials,
    // abbreviations, digit+unit, hyphen compounds, numeric formats
    val table: Seq[(String, Seq[String])] = Seq(
      // digit/letter splits and units
      "105г." -> Seq("105", "г", "."),
      "105 г." -> Seq("105", "г", "."),
      "10кг" -> Seq("10", "кг"),
      "XXIвек" -> Seq("XXI", "век"), // razdel atoms split at script change
      "5-й" -> Seq("5-й"),
      "70-х" -> Seq("70-х"),
      "2011-2020" -> Seq("2011-2020"),
      "1,5" -> Seq("1,5"),
      "3.14" -> Seq("3.14"),
      "1.2.3" -> Seq("1.2.3"),
      "+7" -> Seq("+", "7"),
      "-5" -> Seq("-", "5"),
      "№5" -> Seq("№", "5"),
      "50%" -> Seq("50", "%"),
      "$100" -> Seq("$", "100"),
      // hyphen compounds
      "по-моему" -> Seq("по-моему"),
      "кто-то" -> Seq("кто-то"),
      "ИЛ-2" -> Seq("ИЛ-2"),
      "Pal-Yz" -> Seq("Pal-Yz"),
      "Санкт-Петербург" -> Seq("Санкт-Петербург"),
      "科学-x" -> Seq("科学-x"),
      "интернет-магазин" -> Seq("интернет-магазин"),
      // dangling dashes do not join
      "слово -" -> Seq("слово", "-"),
      "- слово" -> Seq("-", "слово"),
      "а - б" -> Seq("а", "-", "б"),
      // punct runs of the joinable class
      "..." -> Seq("..."),
      "?!" -> Seq("?!"),
      "Да?!" -> Seq("Да", "?!"),
      "Что?.." -> Seq("Что", "?.."),
      "—" -> Seq("—"),
      "-‐" -> Seq("-‐"),
      // non-joinable punct: one char each
      "«»" -> Seq("«", "»"),
      "()" -> Seq("(", ")"),
      "[]" -> Seq("[", "]"),
      ",," -> Seq(",", ","),
      "a,b" -> Seq("a", ",", "b"),
      ";" -> Seq(";"),
      // initials and abbreviations tokenize as separate atoms
      "А. С. Пушкин" -> Seq("А", ".", "С", ".", "Пушкин"),
      "т.д." -> Seq("т", ".", "д", "."),
      "т. е." -> Seq("т", ".", "е", "."),
      "ул. Ленина" -> Seq("ул", ".", "Ленина"),
      // mixed script/case words from the shape fixture classes
      "Иван" -> Seq("Иван"),
      "ИВАН" -> Seq("ИВАН"),
      "иВАН" -> Seq("иВАН"),
      "Ёлка" -> Seq("Ёлка"),
      "ёж" -> Seq("ёж"),
      "word" -> Seq("word"),
      "WoRd" -> Seq("WoRd"),
      "слово123" -> Seq("слово", "123"),
      "123слово" -> Seq("123", "слово"),
      "e-mail" -> Seq("e-mail"),
      "сумма=100" -> Seq("сумма", "=", "100"),
      "a_b" -> Seq("a_b"), // underscore joins via the underscore rule
      "Привет, мир!" -> Seq("Привет", ",", "мир", "!"),
      "«Яндекс»!" -> Seq("«", "Яндекс", "»", "!"),
      // fractions (razdel FractionRule)
      "50/64" -> Seq("50/64"),
      "1/2" -> Seq("1/2"),
      "3\\4" -> Seq("3\\4"),
      "а/б" -> Seq("а", "/", "б"), // letters do not join across slash
      "км/ч" -> Seq("км", "/", "ч"),
      "и/или" -> Seq("и", "/", "или"),
      // floats with units (razdel README: 0.5л -> 0.5 | л)
      "0.5л" -> Seq("0.5", "л"),
      "2,5кг" -> Seq("2,5", "кг"),
      "1.000.000" -> Seq("1.000.000"),
      "01.02.2020" -> Seq("01.02.2020"),
      "12:30" -> Seq("12", ":", "30"),
      // OTHER symbols glue to adjacent letters (razdel other rule)
      "см³" -> Seq("см³"),
      "м²" -> Seq("м²"),
      "градусы°" -> Seq("градусы°"),
      "°C" -> Seq("°C"),
      "§5" -> Seq("§", "5"), // OTHER does not glue to digits
      "C™" -> Seq("C™"),
      // mixed-script words split at the script boundary (razdel atoms)
      "Яndex" -> Seq("Я", "ndex"),
      "IT-специалист" -> Seq("IT-специалист"),
      "COVID-19" -> Seq("COVID-19"),
      "МиГ-29" -> Seq("МиГ-29"),
      "Ту-154" -> Seq("Ту-154"),
      "Боинг-737" -> Seq("Боинг-737"),
      // multi-dash chains
      "Ростов-на-Дону" -> Seq("Ростов-на-Дону"),
      "жар-птица" -> Seq("жар-птица"),
      "ванька-встанька" -> Seq("ванька-встанька"),
      "north-east-west" -> Seq("north-east-west"),
      // en/em dashes join words the same as hyphens when adjacent
      "сло–во" -> Seq("сло–во"),
      "сло—во" -> Seq("сло—во"),
      // spaced dashes never join
      "слово — слово" -> Seq("слово", "—", "слово"),
      "5 - 6" -> Seq("5", "-", "6"),
      "5-6" -> Seq("5-6"),
      // punct-pair joins and splits
      "?.." -> Seq("?.."),
      "!!!" -> Seq("!!!"),
      "???" -> Seq("???"),
      "…" -> Seq("…"),
      ".…" -> Seq(".…"),
      "--" -> Seq("--"),
      "**" -> Seq("**"),
      ",." -> Seq(",", "."),
      ".,," -> Seq(".", ",", ","),
      ":)" -> Seq(":", ")"),
      ")(" -> Seq(")", "("),
      "«!»" -> Seq("«", "!", "»"),
      // money / percent / ids
      "100$" -> Seq("100", "$"),
      "€50" -> Seq("€", "50"), // € is OTHER; does not glue to digits
      "5%" -> Seq("5", "%"),
      "№ 5" -> Seq("№", "5"),
      "#hashtag" -> Seq("#", "hashtag"),
      "@user" -> Seq("@", "user"),
      "user@mail.ru" -> Seq("user", "@", "mail", ".", "ru"),
      "http://a.ru" -> Seq("http", ":", "/", "/", "a", ".", "ru"),
      // quotes and brackets are single atoms
      "«слово»" -> Seq("«", "слово", "»"),
      "„слово“" -> Seq("„", "слово", "“"),
      "(в скобках)" -> Seq("(", "в", "скобках", ")"),
      "[прим.]" -> Seq("[", "прим", ".", "]"),
      "'quote'" -> Seq("'", "quote", "'"),
      // dates and ordinals
      "1990-е" -> Seq("1990-е"),
      "XX-й" -> Seq("XX-й"),
      "8-го" -> Seq("8-го"),
      "1-ый" -> Seq("1-ый"),
      // sentences from the corpus charset stay stable
      "Иван Петров купил завод." ->
        Seq("Иван", "Петров", "купил", "завод", "."),
      "«Газпром» открыл филиал в Москве." ->
        Seq("«", "Газпром", "»", "открыл", "филиал", "в", "Москве", "."),
      "Анна Иванова — лидер." ->
        Seq("Анна", "Иванова", "—", "лидер", "."),
      "Олег Смирнов, банкир, создал сервис." ->
        Seq("Олег", "Смирнов", ",", "банкир", ",", "создал", "сервис", "."),
      // non-breaking space family separates atoms — it must NEVER merge
      // neighbors through the OTHER-glue rule (NBSP, narrow NBSP, figure
      // space are everyday Russian typography)
      "Анна Петрова" -> Seq("Анна", "Петрова"),
      "3 000" -> Seq("3", "000"),
      "5 млн" -> Seq("5", "млн"),
      "12 мая" -> Seq("12", "мая"))
    for ((in, want) <- table) {
      val got = Tokenizer.tokenize(in).map(_.text).toSeq
      assert(got == want, s"tokenize('$in'): got $got want $want")
      for (t <- Tokenizer.tokenize(in))
        assert(in.substring(t.start, t.stop) == t.text)
    }
    assert(table.size >= 100)
  }

  test("sentenize: initials and abbreviations do not end sentences") {
    def sents(t: String) = Tokenizer.sentenize(t).map(_.text).toSeq
    assert(sents("Роман написал А. С. Пушкин. Все читали.") ==
      Seq("Роман написал А. С. Пушкин.", "Все читали."))
    assert(sents("Это было в 1990 г. Потом всё изменилось.") ==
      Seq("Это было в 1990 г. Потом всё изменилось."))
    assert(sents("Дом на ул. Ленина. Рядом парк.") ==
      Seq("Дом на ул. Ленина.", "Рядом парк.")) // Ленина is no abbrev
    // a COMPLETED pair sokr splits before a capital (razdel README golden
    // "И т. д. и т. п. В общем" splits before "В")
    assert(sents("Яблоки, груши и т.д. Сливы тоже.") ==
      Seq("Яблоки, груши и т.д.", "Сливы тоже."))
    assert(sents("Яблоки, груши и т. д. и прочее.") ==
      Seq("Яблоки, груши и т. д. и прочее."))
    assert(sents("Он ушёл. Она осталась.") == Seq("Он ушёл.", "Она осталась."))
    assert(sents("Что это?! Не знаю...") == Seq("Что это?!", "Не знаю..."))
    assert(sents("Конец.") == Seq("Конец."))
  }

  test("sentenize: citation sokrs 'с.'/'п.' join only before digits (round-3 ADVICE)") {
    def sents(t: String) = Tokenizer.sentenize(t).map(_.text).toSeq
    // page/point citations keep joining
    assert(sents("Подробнее на с. 45 книги. Далее выводы.") ==
      Seq("Подробнее на с. 45 книги.", "Далее выводы."))
    assert(sents("Согласно п. 3 договора. Срок истёк.") ==
      Seq("Согласно п. 3 договора.", "Срок истёк."))
    // citation at sentence end: the digit ends the sentence, the next
    // capital starts a new one (round 3 joined through such ends)
    assert(sents("См. с. 45. Новый абзац начался.") ==
      Seq("См. с. 45.", "Новый абзац начался."))
    // a standalone lowercase 'с.'/'п.' before a capital no longer joins
    assert(sents("Он закончил писать п. Редактор вычитал текст.") ==
      Seq("Он закончил писать п.", "Редактор вычитал текст."))
    // DOCUMENTED TRADEOFF: the village reading "с. Иваново" now splits —
    // the citation reading dominates running text, and razdel itself is
    // unavailable in-sandbox to adjudicate (FIXTURES.md)
    assert(sents("Они выехали из с. Иваново вчера.") ==
      Seq("Они выехали из с.", "Иваново вчера."))
    // pair-sokr completion is unaffected
    assert(sents("И т. д. и т. п. В общем, вся газета.") ==
      Seq("И т. д. и т. п.", "В общем, вся газета."))
  }

  test("sentenize: real-shaped news sentences (20+ cases)") {
    def sents(t: String) = Tokenizer.sentenize(t).map(_.text).toSeq
    val cases: Seq[(String, Seq[String])] = Seq(
      // dates and numbers
      "Выручка выросла на 5,3%. Прибыль упала." ->
        Seq("Выручка выросла на 5,3%.", "Прибыль упала."),
      "Встреча прошла 8 марта 2020 г. Итоги подвели позже." ->
        Seq("Встреча прошла 8 марта 2020 г. Итоги подвели позже."),
      "Проект стартовал в 2019 г., завершился в 2021 г. Оценки высокие." ->
        Seq("Проект стартовал в 2019 г., завершился в 2021 г. Оценки высокие."),
      "Цена составила 1.5 млн руб. Сделку закрыли." ->
        Seq("Цена составила 1.5 млн руб. Сделку закрыли."),
      // initials
      "Доклад читал А. С. Пушкин. Зал аплодировал." ->
        Seq("Доклад читал А. С. Пушкин.", "Зал аплодировал."),
      "Работы М. В. Ломоносова изданы. Тираж разошёлся." ->
        Seq("Работы М. В. Ломоносова изданы.", "Тираж разошёлся."),
      // quotes around sentence ends
      "Он сказал: «Всё хорошо». Потом ушёл." ->
        Seq("Он сказал: «Всё хорошо».", "Потом ушёл."),
      "«Кто там?» — спросил он. Ответа не было." ->
        Seq("«Кто там?» — спросил он.", "Ответа не было."),
      "Статья «Итоги года» вышла. Её обсуждают." ->
        Seq("Статья «Итоги года» вышла.", "Её обсуждают."),
      // abbreviations head/tail
      "Офис на ул. Тверской открыт. Работает ежедневно." ->
        Seq("Офис на ул. Тверской открыт.", "Работает ежедневно."),
      "Музей им. Пушкина закрыт. Ремонт продлится год." ->
        Seq("Музей им. Пушкина закрыт.", "Ремонт продлится год."),
      "См. рис. 2 на стр. 5. Там схема." ->
        Seq("См. рис. 2 на стр. 5.", "Там схема."),
      "Подробнее см. гл. 3. Выводы в конце." ->
        Seq("Подробнее см. гл. 3.", "Выводы в конце."),
      // ellipsis and ?!
      "Он задумался... Потом ответил." ->
        Seq("Он задумался...", "Потом ответил."),
      "Неужели?! Это правда." -> Seq("Неужели?!", "Это правда."),
      "Как же так?.. Никто не знал." ->
        Seq("Как же так?..", "Никто не знал."),
      // lowercase right never splits
      "Он пришёл... и ушёл." -> Seq("Он пришёл... и ушёл."),
      "Т. е. всё понятно." -> Seq("Т. е. всё понятно."),
      // list items at line start
      "1. Первый пункт." -> Seq("1. Первый пункт."),
      "2. Второй пункт. Примечание." ->
        Seq("2. Второй пункт.", "Примечание."),
      // direct speech dashes
      "— Кто здесь? — Никого." -> Seq("— Кто здесь?", "— Никого."),
      // multi-sentence with media-style refs
      "Фото: ИТАР-ТАСС. Текст: Иванов." ->
        Seq("Фото: ИТАР-ТАСС.", "Текст: Иванов."),
      // digits starting the next sentence split
      "Итоги подведены. 5 мая начнётся новый этап." ->
        Seq("Итоги подведены.", "5 мая начнётся новый этап."),
      // non-breaking spaces separate like ordinary spaces (Python \s
      // semantics; NBSP is routine in Russian typography)
      "Это конец. Новая мысль." -> Seq("Это конец.", "Новая мысль."))
    for ((in, want) <- cases)
      assert(sents(in) == want, s"sentenize('$in')")
    assert(cases.size >= 20)
    // offsets are exact substrings on every case
    for ((in, _) <- cases; s <- Tokenizer.sentenize(in))
      assert(in.substring(s.start, s.stop) == s.text)
  }

  test("round-3b probe shapes: tokenize + sentenize goldens (razdel_rules lockstep)") {
    // goldens generated from tools/razdel_rules.py (the interop shim) —
    // keeping the Scala rules and the Python port in provable lockstep
    def words(t: String) = Tokenizer.tokenize(t).map(_.text).toSeq
    def sents(t: String) = Tokenizer.sentenize(t).map(_.text).toSeq
    val tok: Seq[(String, Seq[String])] = Seq(
      "В 1941—1945 гг. шла война." ->
        Seq("В", "1941—1945", "гг", ".", "шла", "война", "."),
      "Звоните: +7 (495) 123-45-67." ->
        Seq("Звоните", ":", "+", "7", "(", "495", ")", "123-45-67", "."),
      "Скорость — 60 км/ч на трассе." ->
        Seq("Скорость", "—", "60", "км", "/", "ч", "на", "трассе", "."),
      "Приказ № 7 подписан 1-го мая." ->
        Seq("Приказ", "№", "7", "подписан", "1-го", "мая", "."),
      "Курс достиг 90,5₽ (или $1.02)." ->
        Seq("Курс", "достиг", "90,5", "₽", "(", "или", "$", "1.02", ")", "."),
      "Рост составил 3—5% за квартал." ->
        Seq("Рост", "составил", "3—5", "%", "за", "квартал", "."),
      "iPhone 15 Pro поступил в продажу." ->
        Seq("iPhone", "15", "Pro", "поступил", "в", "продажу", "."),
      "Он родился 31.12.1999 в 23:59." ->
        Seq("Он", "родился", "31.12.1999", "в", "23", ":", "59", "."),
      "Опрос: 2/3 жителей согласны (67%)." ->
        Seq("Опрос", ":", "2/3", "жителей", "согласны", "(", "67", "%", ")", "."),
      "Гл. 3, разд. 2.1 — см. с. 45." ->
        Seq("Гл", ".", "3", ",", "разд", ".", "2.1", "—", "см", ".", "с", ".", "45", "."))
    for ((in, exp) <- tok) assert(words(in) == exp, s"tokenize: $in")
    val sent: Seq[(String, Seq[String])] = Seq(
      "Фильм снят в XIX в. по роману." -> Seq("Фильм снят в XIX в. по роману."),
      "Т.е. проект закрыт, т.к. нет денег." ->
        Seq("Т.е. проект закрыт, т.к. нет денег."),
      "Д. И. Менделеев открыл закон в 1869 г. Затем наука шагнула вперёд." ->
        Seq("Д. И. Менделеев открыл закон в 1869 г. Затем наука шагнула вперёд."),
      // "с." (страница) and "п." (пункт) are sokrs: no boundary before 45
      "Гл. 3, разд. 2.1 — см. с. 45." -> Seq("Гл. 3, разд. 2.1 — см. с. 45."),
      "См. п. 4 устава. Далее текст." -> Seq("См. п. 4 устава.", "Далее текст."),
      "«Северный поток — 2» остановлен." -> Seq("«Северный поток — 2» остановлен."))
    for ((in, exp) <- sent) assert(sents(in) == exp, s"sentenize: $in")
  }

  test("findTokens aligns words to offsets (token.py:20-26)") {
    val text = "а б а"
    val toks = Tokenizer.findTokens(text, Seq("а", "б", "а"))
    assert(toks.map(t => (t.start, t.stop)).toSeq == Seq((0, 1), (2, 3), (4, 5)))
  }
}

class BioSpec extends AnyFunSuite {
  import Bio._
  private def toks(n: Int): IndexedSeq[Token] =
    (0 until n).map(i => Token(i * 2, i * 2 + 1, (i + 1).toString))

  val bioTests: Seq[Seq[String]] = Seq(
    Seq("O", "O", "O"), Seq(),
    Seq("B-PER", "O", "O"), Seq("B-PER", "I-PER", "O"), Seq("B-PER", "I-PER"),
    Seq("B-PER", "B-LOC", "O"), Seq("B-PER", "B-PER", "O"))

  val ioTests: Seq[Seq[String]] = Seq(
    Seq("O", "O", "O"), Seq(),
    Seq("I-PER", "O", "O"), Seq("I-PER", "I-PER", "O"),
    Seq("I-PER", "I-LOC", "O"), Seq("I-PER", "I-PER"))

  test("bio round trip (test_bio.py test_bio)") {
    for (tags <- bioTests) {
      val t = toks(tags.length)
      val spans = bioSpans(t, tags.toIndexedSeq)
      assert(spansBio(t, spans.toIndexedSeq).toSeq == tags)
    }
  }

  test("io round trip (test_bio.py test_io)") {
    for (tags <- ioTests) {
      val t = toks(tags.length)
      val spans = ioSpans(t, tags.toIndexedSeq)
      assert(spansIo(t, spans.toIndexedSeq).toSeq == tags)
    }
  }

  test("bio_io convert + select_type (test_bio.py)") {
    assert(bioIo(Seq("B-PER", "I-PER", "I-LOC")).toSeq == Seq("I-PER", "I-PER", "I-LOC"))
    assert(selectTypeTags(Seq("B-PER", "I-LOC"), "PER").toSeq == Seq("B-PER", "O"))
  }

  test("property: spans->bio->spans fixpoint on 500 random tag sequences") {
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("O", "B-PER", "I-PER", "B-LOC", "I-LOC")
    for (_ <- 0 until 500) {
      val tags = Vector.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length)))
      val t = toks(tags.length)
      val spans = bioSpans(t, tags)
      // recovered spans are aligned, sorted, non-overlapping -> fixpoint
      val again = bioSpans(t, spansBio(t, spans.toIndexedSeq).toIndexedSeq)
      assert(again.toSeq == spans.toSeq, s"tags=$tags")
    }
  }

  test("conll tag codec round trip with sorted keys (conll.py:3-23)") {
    val tag = Conll.formatTag("NOUN", Map("Number" -> "Sing", "Case" -> "Acc"))
    assert(tag == "NOUN|Case=Acc|Number=Sing")
    assert(Conll.parseTag(tag) == ("NOUN", Map("Case" -> "Acc", "Number" -> "Sing")))
    assert(Conll.parseTag("ADP") == ("ADP", Map.empty))
  }
}
