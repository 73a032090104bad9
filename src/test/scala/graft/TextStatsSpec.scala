package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.TextAnalysis
import graft.functions.LangIdOps

/** Truth tables for the native text-stats pass and the trigram/script
  * language-ID model. */
class TextStatsSpec extends AnyFunSuite with LocalSpark {

  import spark.implicits._

  test("tokenCounts matches the regex formulation on tricky input") {
    val docs = Seq(
      (1L, "hello, world!  double  spaced"),
      (2L, "tabs\there stay-in one token"),
      (3L, ""),
      (4L, "日本語 text mixed 123abc..."),
      (5L, "a")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3)))
    // ws_tokens: space-split runs; alnum: ASCII alnum runs; symbol:
    // non-alnum non-\s chars (CJK counts as symbol, '-' counts, ',' counts)
    assert(r(0) === ((1L, 4, 4, 2)))       // "hello," "world!" "double" "spaced"; , !
    assert(r(1) === ((2L, 4, 6, 1)))       // tabs|here|stay|in|one|token; '-'
    assert(r(2) === ((3L, 0, 0, 0)))
    assert(r(3) === ((4L, 4, 3, 6)))       // 日本語(3) + '...'(3); alnum: text, mixed, 123abc
    assert(r(4) === ((5L, 1, 1, 0)))
  }

  test("quality stopword count matches exact token equality") {
    val docs = Seq((1L, "the cat and the dog"), (2L, "then theater band")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(r(0).getAs[Double]("stop_ratio") === 3.0 / 5)  // the, and, the
    assert(r(1).getAs[Double]("stop_ratio") === 0.0)      // prefixes don't count
  }

  test("langid: trigram profiles separate European languages") {
    assert(LangIdOps.detect("The quick brown fox jumps over the lazy dog and runs into the woods")._1 == "en")
    assert(LangIdOps.detect("Der schnelle braune Fuchs springt über den faulen Hund und rennt in den Wald")._1 == "de")
    assert(LangIdOps.detect("Le renard brun rapide saute par dessus le chien paresseux et court dans les bois")._1 == "fr")
    assert(LangIdOps.detect("El rápido zorro marrón salta sobre el perro perezoso y corre hacia el bosque")._1 == "es")
    assert(LangIdOps.detect("De snelle bruine vos springt over de luie hond en rent het bos in")._1 == "nl")
    assert(LangIdOps.detect("A rápida raposa marrom pula sobre o cão preguiçoso e corre para dentro da floresta")._1 == "pt")
    assert(LangIdOps.detect("La volpe veloce salta sopra il cane pigro e corre dentro il bosco della collina")._1 == "it")
  }

  test("langid: script ranges catch non-Latin languages") {
    assert(LangIdOps.detect("Быстрая коричневая лиса прыгает через ленивую собаку")._1 == "ru")
    assert(LangIdOps.detect("敏捷的棕色狐狸跳过懒狗")._1 == "zh")
    assert(LangIdOps.detect("すばやい茶色のキツネはのろまな犬を飛び越えます")._1 == "ja")
    assert(LangIdOps.detect("빠른 갈색 여우가 게으른 개를 뛰어넘다")._1 == "ko")
    assert(LangIdOps.detect("الثعلب البني السريع يقفز فوق الكلب الكسول")._1 == "ar")
    assert(LangIdOps.detect("Η γρήγορη καφέ αλεπού πηδάει πάνω από το τεμπέλικο σκυλί")._1 == "el")
    assert(LangIdOps.detect("तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर कूदती है")._1 == "hi")
  }

  test("langid: round-6 breadth — new Latin profiles separate") {
    assert(LangIdOps.detect("Szybki brązowy lis przeskakuje nad leniwym psem i biegnie do lasu przez pole")._1 == "pl")
    assert(LangIdOps.detect("Den snabba bruna räven hoppar över den lata hunden och springer in i skogen")._1 == "sv")
    assert(LangIdOps.detect("Hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve ormana doğru koşar")._1 == "tr")
    assert(LangIdOps.detect("Nopea ruskea kettu hyppää laiskan koiran yli ja juoksee metsään mäen taakse")._1 == "fi")
    assert(LangIdOps.detect("Rychlá hnědá liška skáče přes líného psa a běží do lesa přes pole a potok")._1 == "cs")
    assert(LangIdOps.detect("A gyors barna róka átugrik a lusta kutya felett és az erdőbe fut a dombon át")._1 == "hu")
    assert(LangIdOps.detect("Vulpea maro rapidă sare peste câinele leneș și aleargă în pădure peste deal")._1 == "ro")
    assert(LangIdOps.detect("Con cáo nâu nhanh nhẹn nhảy qua con chó lười và chạy vào rừng qua cánh đồng")._1 == "vi")
    assert(LangIdOps.detect("Rubah coklat yang cepat melompat di atas anjing yang malas dan berlari ke dalam hutan")._1 == "id")
  }

  test("langid: round-6 breadth — new script ranges separate") {
    assert(LangIdOps.detect("השועל החום המהיר קופץ מעל הכלב העצלן ורץ אל היער")._1 == "he")
    assert(LangIdOps.detect("สุนัขจิ้งจอกสีน้ำตาลกระโดดข้ามสุนัขขี้เกียจ")._1 == "th")
    assert(LangIdOps.detect("দ্রুত বাদামী শিয়াল অলস কুকুরের উপর লাফ দেয়")._1 == "bn")
    assert(LangIdOps.detect("விரைவான பழுப்பு நரி சோம்பேறி நாயின் மீது குதிக்கிறது")._1 == "ta")
    assert(LangIdOps.detect("வ")._1 == "ta") // single code point still classifies
  }

  test("langid: round-6 breadth — second wave of Latin profiles") {
    assert(LangIdOps.detect("Die vinnige bruin jakkals spring oor die lui hond en hardloop in die bos in")._1 == "af")
    assert(LangIdOps.detect("Kiire pruun rebane hüppab üle laisa koera ja jookseb metsa poole kui on õhtu")._1 == "et")
    assert(LangIdOps.detect("Azeri arre azkarrak txakur alferraren gainetik salto egiten du eta basora doa")._1 == "eu")
    assert(LangIdOps.detect("Unha rapaza nova non quería ir á escola porque a néboa cubría o camiño do bosque")._1 == "gl")
    assert(LangIdOps.detect("Pas koji je skakao preko ograde bio je brz ali lisica koja trči u šumu je brža i što je najvažnije pametnija")._1 == "hr")
    assert(LangIdOps.detect("Fljótur brúnn refur stökk yfir lata hundinn og hljóp inn í skóginn með það")._1 == "is")
    assert(LangIdOps.detect("Greita ruda lapė šokinėja per tingų šunį ir bėga į mišką kad surastų maisto")._1 == "lt")
    assert(LangIdOps.detect("Ātra brūna lapsa lec pāri slinkam sunim un skrien uz mežu kas ir aiz kalna")._1 == "lv")
    assert(LangIdOps.detect("Rýchla hnedá líška skáče cez lenivého psa a beží do lesa ktorý je za poľom")._1 == "sk")
    assert(LangIdOps.detect("Hitra rjava lisica skoči čez lenega psa in teče v gozd kot bi se nič ne zgodilo")._1 == "sl")
    assert(LangIdOps.detect("Dhelpra e shpejtë kafe kërcen mbi qenin përtac dhe vrapon në pyll që është larg")._1 == "sq")
    assert(LangIdOps.detect("Mbweha wa kahawia mwenye kasi anaruka juu ya mbwa mvivu na kukimbia katika msitu")._1 == "sw")
    assert(LangIdOps.detect("Ang mabilis na kayumangging soro ay tumalon sa ibabaw ng tamad na aso at tumakbo sa gubat")._1 == "tl")
  }

  test("langid: round-7 breadth — tail profiles separate") {
    assert(LangIdOps.detect("Sürətli qəhvəyi tülkü tənbəl itin üzərindən tullanır və meşəyə doğru qaçır")._1 == "az")
    assert(LangIdOps.detect("Mae'r llwynog brown cyflym yn neidio dros y ci diog ac y mae yn rhedeg i mewn i'r goedwig")._1 == "cy")
    assert(LangIdOps.detect("La rapida bruna vulpo saltas super la mallaborema hundo kaj kuras en la arbaron")._1 == "eo")
    assert(LangIdOps.detect("Léimeann an sionnach donn gasta thar an madra leisciúil agus ritheann sé isteach sa choill")._1 == "ga")
    assert(LangIdOps.detect("Saurin dila mai launin ruwan kasa ya yi tsalle a kan kare mai lalaci kuma ya gudu cikin daji")._1 == "ha")
    assert(LangIdOps.detect("Vulpes fusca celeris super canem pigrum salit et in silvam currit dum cibum quaerit")._1 == "la")
    assert(LangIdOps.detect("Il-volpi kannella mgħaġġla taqbeż fuq il-kelb għażżien u tiġri lejn il-foresta")._1 == "mt")
    assert(LangIdOps.detect("Dawacada dhaqsaha leh ayaa ka booday eyga caajiska ah waxayna u ordaysaa kaynta oo dhan")._1 == "so")
    // a turkic sibling must not steal tr (shared suffix shapes, no ə)
    assert(LangIdOps.detect("Hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve ormana doğru koşar")._1 == "tr")
  }

  test("langid: script-family members resolved by marker letters") {
    // Cyrillic family: default ru, members by distinctive letters
    assert(LangIdOps.detect("Быстрая коричневая лиса прыгает через ленивую собаку")._1 == "ru")
    assert(LangIdOps.detect("Її єдине бажання було якнайшвидше дістатися до лісу і знайти їжу")._1 == "uk") // є ї
    assert(LangIdOps.detect("Бързата кафява лисица прескача мързеливото куче и бяга към гората")._1 == "bg") // ъ
    assert(LangIdOps.detect("Брза смеђа лисица прескаче лењог пса и трчи у шуму преко ћуприје")._1 == "sr") // ђ ћ
    assert(LangIdOps.detect("Брзата кафеава лисица прескокнува преку мрзливото куче и ѕвони ѓаволски")._1 == "mk") // ѕ ѓ
    assert(LangIdOps.detect("Хуткая карычневая лісіца пераскоквае праз гультаяватага сабаку ў лес")._1 == "be") // ў
    // Arabic-script family: default ar; fa by پ/چ/گ, ur by ے/ڑ/ھ even
    // though ur also uses the fa letters (ur's own markers outcount)
    assert(LangIdOps.detect("الثعلب البني السريع يقفز فوق الكلب الكسول")._1 == "ar")
    assert(LangIdOps.detect("روباه قهوه‌ای چابک از روی سگ تنبل می‌پرد")._1 == "fa")
    assert(LangIdOps.detect("تیز بھوری لومڑی سست کتے کے اوپر چھلانگ لگاتی ہے")._1 == "ur")
    // Han family: kanji-heavy Japanese still resolves to ja via kana
    // markers; pure-Han text stays zh
    assert(LangIdOps.detect("敏捷的棕色狐狸跳过懒狗")._1 == "zh")
    assert(LangIdOps.detect("日本国憲法第九条は戦争放棄と戦力不保持を規定する条文です")._1 == "ja")
    // confidence is still the family-script fraction for members
    val (l, c) = LangIdOps.detect("Бързата кафява лисица прескача мързеливото куче")
    assert(l == "bg" && c > 0.9)
  }

  test("langid: und for empty, numeric, and unknown text; confidence in range") {
    assert(LangIdOps.detect("") === (("und", 0.0)))
    assert(LangIdOps.detect("   ") === (("und", 0.0)))
    assert(LangIdOps.detect("12345 67890") === (("und", 0.0)))
    val (l, c) = LangIdOps.detect("the house is on the hill and the dog is in the house")
    assert(l == "en" && c > 0.0)
  }
}
