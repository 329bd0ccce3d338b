package graft

import graft.operators.{DocTokenizer, DocTokenizerConfig}
import graft.text.Tokenizer

class DocTokenizerSpec extends SparkSpec {
  import spark.implicits._

  test("binary .ds + .index round trip (uint16), EOS-terminated docs") {
    val dir = tempDir("ds")
    val df = Seq("the quick fox", "another document here with words", "third one")
      .toDF("text").coalesce(1)
    val stats = DocTokenizer.write(df, "text", dir,
      DocTokenizerConfig(vocabSize = 50257, shuffle = false))
    assert(stats.map(_._2).sum == 3) // 3 docs
    val docs = DocTokenizer.readRank(s"$dir/00000.ds", wide = false)
    assert(docs.length == 3)
    assert(docs.forall(_.last == 0)) // EOS separator
    assert(docs(0).length == Tokenizer.words("the quick fox").length + 1)
    // ids are deterministic per word
    val again = DocTokenizer.encode("the quick fox", 50257)
    assert(docs(0).toSeq == again.toSeq)
  }

  test("uint32 path for vocabs over 64k") {
    val dir = tempDir("ds32")
    val df = Seq("wide vocab document").toDF("text").coalesce(1)
    DocTokenizer.write(df, "text", dir, DocTokenizerConfig(vocabSize = 100000, shuffle = false))
    val docs = DocTokenizer.readRank(s"$dir/00000.ds", wide = true)
    assert(docs.length == 1 && docs(0).last == 0)
  }

  test("seeded shuffle is deterministic") {
    val dir1 = tempDir("dsh1")
    val dir2 = tempDir("dsh2")
    val df = (1 to 50).map(i => s"document number $i with content").toDF("text").coalesce(1)
    DocTokenizer.write(df, "text", dir1, DocTokenizerConfig(shuffle = true, seed = 7))
    DocTokenizer.write(df, "text", dir2, DocTokenizerConfig(shuffle = true, seed = 7))
    val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir1/00000.ds"))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir2/00000.ds"))
    assert(java.util.Arrays.equals(a, b))
  }

  test("word spans locate every token verbatim; char_to_token round-trips") {
    val t = "the  quick 3.14 fox!"
    val spans = DocTokenizer.wordSpans(t)
    val words = Tokenizer.words(t)
    assert(spans.length == words.length)
    for ((w, i) <- words.zipWithIndex)
      assert(t.substring(spans(i)._1, spans(i)._2) == w)
    assert(DocTokenizer.charToToken(spans, 0).contains(0))  // 't'
    assert(DocTokenizer.charToToken(spans, 3).isEmpty)      // whitespace
    assert(DocTokenizer.charToToken(spans, 12).contains(2)) // inside "3.14"
    assert(DocTokenizer.charToToken(spans, 999).isEmpty)
  }

  test("loss mask: zeroed char range, whitespace-start quirk, off-the-end truncation") {
    val t = "aa bb cc dd"
    val spans = DocTokenizer.wordSpans(t) // 4 words; 5 tokens with EOS
    // mask "bb cc": chars [3, 9) -> char 9 is inside "dd"? no: "aa bb cc dd"
    //   aa=0-2 bb=3-5 cc=6-8 dd=9-11; end char 8 is whitespace... use end=9
    //   (token 3), zeroing tokens [1, 3)
    assert(DocTokenizer.lossValues(5, spans, Seq((3, 9))).toSeq ==
      Seq[Byte](1, 0, 0, 1, 1))
    // start in whitespace -> Python's [None:t_end] zeroes from token 0
    assert(DocTokenizer.lossValues(5, spans, Seq((2, 9))).toSeq ==
      Seq[Byte](0, 0, 0, 1, 1))
    // end past the text -> truncate the mask at the range's start token
    assert(DocTokenizer.lossValues(5, spans, Seq((6, 100))).toSeq ==
      Seq[Byte](1, 1))
    // no ranges -> all ones
    assert(DocTokenizer.lossValues(5, spans, Nil).toSeq ==
      Seq[Byte](1, 1, 1, 1, 1))
  }

  test(".ds.loss writing: per-token bytes, truncated docs shrink the index, DsCheck sees matching sizes") {
    val dir = tempDir("dsloss")
    val df = Seq(
      ("prompt text answer words", Seq(Seq(0, 12))), // mask "prompt text "
      ("plain doc here", Seq.empty[Seq[Int]]))
      .toDF("text", "no_loss_ranges").coalesce(1)
    DocTokenizer.write(df, "text", dir,
      DocTokenizerConfig(shuffle = false, saveLoss = true),
      noLossRangesCol = Some("no_loss_ranges"))
    val lossBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/00000.ds.loss"))
    val docs = DocTokenizer.readRank(s"$dir/00000.ds", wide = false)
    assert(lossBytes.length == docs.map(_.length).sum)
    // doc 0: chars [0,12) covers "prompt text" -> char 12 is inside
    // "answer" (token 2), so tokens 0-1 masked, rest (incl. EOS) kept
    assert(lossBytes.take(5).toSeq == Seq[Byte](0, 0, 1, 1, 1))
    assert(lossBytes.drop(5).forall(_ == 1))
    // loss-size consistency via the validator
    val reports = graft.sources.DsCheck.check(spark, dir)
    assert(reports.head.docs == 2)
  }

  test("loss path: null ranges cells mean no masks; whole-doc range writes a zero-token doc DsCheck accepts") {
    val dir = tempDir("dsnull")
    val df = Seq(
      ("doc with a null cell", null.asInstanceOf[Seq[Seq[Int]]]),
      ("fully masked doc", Seq(Seq(0, 1000))),
      ("normal doc", Seq.empty[Seq[Int]]))
      .toDF("text", "no_loss_ranges").coalesce(1)
    DocTokenizer.write(df, "text", dir,
      DocTokenizerConfig(shuffle = false, saveLoss = true),
      noLossRangesCol = Some("no_loss_ranges"))
    val docs = DocTokenizer.readRank(s"$dir/00000.ds", wide = false)
    assert(docs.length == 3)
    assert(docs(0).length == 6 && docs(1).isEmpty && docs(2).length == 3)
    val loss = DocTokenizer.readRankLoss(s"$dir/00000.ds").get
    assert(loss(0).forall(_ == 1) && loss(1).isEmpty && loss(2).forall(_ == 1))
    // the validator accepts the zero-token doc the writer produced
    val reports = graft.sources.DsCheck.check(spark, dir)
    assert(reports.head.docs == 3)
  }

  test("bpe-ish token count segments like the GPT-2 pre-tokenizer") {
    assert(Tokenizer.bpeishCount("hello world") == 2) // "hello", " world"
    assert(Tokenizer.bpeishCount("it's fine") == 3) // "it", "'s", " fine"
    assert(Tokenizer.bpeishCount("a1 b!") == 4) // "a","1"," b","!"
    assert(Tokenizer.bpeishCount("") == 0)
  }
}
