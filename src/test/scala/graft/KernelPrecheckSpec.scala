package graft

import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.WebCorpusGen
import graft.text.PyText

/** The filter kernels skip scans that cannot change a verdict. Each skip is
  * pinned here against the unskipped computation: BadWordsFilter's one-pass
  * flank test against the plain word-boundary regex, UrlFilter against the always-split word rules,
  * and Gopher / C4 quality against their own line split. */
class KernelPrecheckSpec extends AnyFunSuite {

  private val Drop = Some("document_removed_with_badwords")

  /** c4_filters.py:264-270 as written: the \W-flanked alternation over the
    * lowered text. */
  private def plainRegex(words: Seq[String]): String => Boolean = {
    val re = Pattern.compile(
      s"(?:\\W|^)(${words.map(Pattern.quote).mkString("|")})(?:\\W|$$)",
      Pattern.UNICODE_CHARACTER_CLASS)
    text => re.matcher(PyText.pyLower(text)).find()
  }

  private def agree(words: Seq[String], texts: Iterable[String]): Unit = {
    val bw = new BadWordsFilter(Map("en" -> words))
    val ref = plainRegex(words)
    for (t <- texts)
      assert(bw.check(t, Some("en")).isDefined == ref(t),
        s"list ${words.mkString("[", ",", "]")} disagrees on ${t.map(c => f"\\u${c.toInt}%04x").mkString}")
  }

  // one surrogate pair each: a letter (\w) and a symbol (\W)
  private val MathA = "𝒜" // U+1D49C MATHEMATICAL SCRIPT CAPITAL A
  private val Grin = "😀"  // U+1F600 GRINNING FACE
  private val Words = Seq("bad", "worse", "x9", "a_b", "café", s"z${MathA}q", "Upper")
  private val BmpWords = Seq("bad", "worse", "x9", "a_b", "café", "Upper")
  // entries inside other entries and inside common words; in "zx-bad"
  // only the shorter of two entries ending together is flanked
  private val Nested = Seq("an", "anal", "nal", "a", "is", "analysis", "x-bad", "bad")

  /** Random texts built from the listed words, their fragments and
    * neighbours that are \w (`_`, digits, non-ASCII letters, a surrogate
    * letter) or \W (spaces, punctuation, a surrogate symbol), in mixed case. */
  private def generated(n: Int, seed: Long): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val pieces = Words ++ Words.map(_.toUpperCase) ++ Seq(
      "ba", "d", "wor", "se", "x", "9", "a", "_", "b", "caf", "é", "É", "z", "q",
      MathA, Grin, "ж", "中", "ß", "İ", "7", " ", "  ", ".", ",", "-", "\n", "'",
      "upper", "UPPER", "bads", "badword", "unbad", "hello", "world",
      "\uD835", "\uDC9C", "analysis", "an", "nal", "is")
    Seq.fill(n) {
      Seq.fill(rng.nextInt(12))(pieces(rng.nextInt(pieces.length))).mkString
    }
  }

  private val edges: Seq[String] = Seq(
    "", "bad", "bad is here", "here is bad", "here is bad.", "(bad)",
    "_bad", "bad_", "bad9", "9bad", "2bad 2", "ébad", "badé", "жbad", "bad中",
    s"${MathA}bad", s"bad$MathA", s"${Grin}bad", s"bad$Grin", s"$Grin bad $Grin",
    "\uDC9Cbad", "\uD835bad", "bad\uD835", "bad\uDC9C", s"\uD835${MathA}bad",
    s"z${MathA}q", s".z${MathA}q.", s"az${MathA}q", "BAD", "Bad things", "x9",
    "a_b", "a_bc", "café", "cafés", "CAFÉ!", "upper", "Upper", "UPPER")

  test("badwords: the flank test's \\w is java.util.regex's on every code point") {
    val w = Pattern.compile("\\w", Pattern.UNICODE_CHARACTER_CLASS).matcher("")
    for (cp <- 0 to Character.MAX_CODE_POINT)
      assert(BadWordsFilter.isWordChar(cp) == w.reset(new String(Character.toChars(cp))).matches(),
        f"U+$cp%04X")
  }

  test("badwords: the flank test agrees with the plain regex at word edges") {
    agree(Words, edges)
    agree(BmpWords, edges)
    agree(Nested, edges ++ Seq("analysis", "an analysis", "anal.", "banal", "a", "is a nal", "zx-bad"))
    val bw = new BadWordsFilter(Map("en" -> Words))
    assert(bw.check("bad is here", Some("en")) == Drop)
    assert(bw.check("here is bad", Some("en")) == Drop)
    assert(bw.check("bad_ things", Some("en")).isEmpty)      // '_' is \w
    assert(bw.check("9bad things", Some("en")).isEmpty)      // digits are \w
    assert(bw.check("ébad things", Some("en")).isEmpty)      // non-ASCII letters are \w
    assert(bw.check(s"${MathA}bad", Some("en")).isEmpty)     // so is a surrogate letter
    assert(bw.check(s"${Grin}bad$Grin", Some("en")) == Drop) // a surrogate symbol is \W
    assert(bw.check(s"a z${MathA}q b", Some("en")) == Drop)
    // the low half of a pair alone would be \W, but no match starts there;
    // a lone surrogate is \W
    assert(bw.check(s"${MathA}bad", Some("en")).isEmpty)
    assert(bw.check("\uDC9Cbad \uD835", Some("en")) == Drop)
    assert(bw.check("x\uD835bad\uDC9Cx", Some("en")) == Drop)
    assert(new BadWordsFilter(Map("en" -> Nested)).check("analysis", Some("en")) == Drop)
    assert(new BadWordsFilter(Map("en" -> Nested)).check("zx-bad", Some("en")) == Drop)
    assert(new BadWordsFilter(Map("en" -> Seq("anal"))).check("analysis", Some("en")).isEmpty)
  }

  test("badwords: the flank test agrees with the plain regex on generated texts") {
    agree(Words, generated(20000, seed = 7))
    agree(BmpWords, generated(20000, seed = 13))
    agree(Nested, generated(10000, seed = 14))
    agree(Seq("bad"), generated(5000, seed = 8))
    agree(Seq(Grin, "bad"), generated(5000, seed = 15))
  }

  test("badwords: a word with a surrogate half at its edge runs the regex") {
    // java.util.regex compares a word's edges by code point there
    for (words <- Seq(Seq("\uDC9Cq", "bad"), Seq("z\uD835", "bad")))
      agree(words, edges ++ generated(5000, seed = 16) ++
        Seq(s"z$MathA", s"${MathA}q", "z\uD835", "\uDC9Cq", s" z$MathA ", s" ${MathA}q "))
  }

  test("badwords: uppercase list entries never match the lowered text") {
    val bw = new BadWordsFilter(Map("en" -> Seq("Upper")))
    for (t <- Seq("Upper", "UPPER", "upper", "an Upper case")) assert(bw.check(t, Some("en")).isEmpty)
    agree(Seq("Upper", "MiXed"), edges ++ generated(2000, seed = 9))
  }

  test("badwords: a list holding the empty word runs the regex") {
    // the empty alternative matches between two \W chars or at an edge,
    // with no listed word in the text
    val bw = new BadWordsFilter(Map("en" -> Seq("", "bad")))
    assert(bw.check("", Some("en")) == Drop)
    assert(bw.check("hello.", Some("en")) == Drop)
    assert(bw.check("hello world", Some("en")).isEmpty)
    agree(Seq("", "bad"), edges ++ generated(5000, seed = 10))
    agree(Seq(""), edges ++ generated(2000, seed = 11))
  }

  test("badwords: zh/ja/th keep substring mode") {
    val zh = Seq("坏词", "bad")
    val bw = new BadWordsFilter(Map("zh" -> zh, "ja" -> zh, "th" -> zh))
    for (lang <- Seq("zh", "ja", "th"); t <- edges ++ Seq("这个坏词", "坏", "unbadly") ++ generated(2000, 12)) {
      val lowered = PyText.pyLower(t)
      assert(bw.check(t, Some(lang)).isDefined == zh.exists(lowered.contains), s"$lang: $t")
    }
  }

  test("badwords: the flank test agrees with the plain regex on the WebCorpusGen mix") {
    val texts = (0L until 3000L).map(id => WebCorpusGen.genText(id, 42L)._1)
    val list = WebCorpusGen.BadWordsFixture.en.toSeq
    agree(list, texts)
    assert(texts.exists(t => plainRegex(list)(t)), "the corpus plants listed words")
  }

  /** url_filter.py:107-118 as written: the word rules always split. */
  private def referenceUrlVerdict(
      url: String, banned: Set[String], soft: Set[String], threshold: Int): Option[String] = {
    val urlWords = UrlFilter.Normalizer.split(url, -1).toSet
    if (banned.exists(urlWords.contains)) Some("hard_blacklisted")
    else if (soft.count(urlWords.contains) >= threshold) Some("soft_blacklisted")
    else None
  }

  test("url filter: word rules agree with the always-split verdicts") {
    val urls = Seq(
      "https://site.com/page/1", "https://site.com/hot-deal", "https://site.com/hot-sexy",
      "https://site.com/hotsexy", "http://banned.org/x?q=spam", "https://a.b.co.uk/SPAM",
      "", "https://x.com/spam-hot-sexy#frag")
    for {
      banned <- Seq(Set.empty[String], Set("spam"))
      soft <- Seq(Set.empty[String], Set("hot", "sexy"))
      threshold <- Seq(-1, 0, 1, 2, 3)
      url <- urls
    } {
      val uf = new UrlFilter(bannedWords = banned, softBannedWords = soft, softWordThreshold = threshold)
      assert(uf.check(url) == referenceUrlVerdict(url, banned, soft, threshold),
        s"banned=$banned soft=$soft threshold=$threshold url=$url")
    }
    // a threshold <= 0 drops every url that reaches the soft rule, even
    // with no soft words listed
    assert(new UrlFilter(softWordThreshold = 0).check("https://site.com/page/1") == Some("soft_blacklisted"))
    assert(new UrlFilter().check("https://site.com/page/1").isEmpty)
  }

  test("gopher and c4 quality: the shared line split gives the same verdicts") {
    val texts = (0L until 3000L).map(id => WebCorpusGen.genText(id, 42L)._1) ++ Seq(
      "", "\n\n", "a\r\nb\rc d\u0085e", "• one\n- two\n three...\nfour…")
    val gq = GopherQualityConfig()
    val c4Sentences = C4QualityConfig(splitParagraph = false)
    val ctx = new StageContext(0, PipelineConfig())
    for (t <- texts) {
      // in chain order: c4 reads the split gopher memoized for this text
      assert(GopherQualityFilter.check(t, gq, ctx.words, ctx.lines) == GopherQualityFilter.check(t, gq))
      assert(C4QualityFilter.check(t, C4QualityConfig(), ctx.lines) == C4QualityFilter.check(t))
      assert(C4QualityFilter.check(t, c4Sentences, ctx.lines) == C4QualityFilter.check(t, c4Sentences))
    }
  }

  test("stage context: the line split is computed once per text") {
    val ctx = new StageContext(0, PipelineConfig())
    val t = "first line\nsecond line"
    val a = ctx.lines(t)
    assert(a.toSeq == PyText.splitLines(t).toSeq)
    assert(ctx.lines(t) eq a)
    assert(ctx.lines(new String(t.toCharArray)) eq a) // equal text, new object
    val b = ctx.lines("other\ntext")
    assert(b.toSeq == Seq("other", "text"))
  }
}
