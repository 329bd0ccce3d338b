package graft

import graft.text.Bpe

class BpeSpec extends SparkSpec {

  test("train: classic low/lower/lowest corpus learns multi-char merges") {
    val freqs = Map("low" -> 5L, "lower" -> 2L, "lowest" -> 2L, "newer" -> 6L, "wider" -> 3L)
    val m = Bpe.train(freqs, 10)
    assert(m.merges.nonEmpty)
    // 'e','r' is the most frequent pair (newer×2? -> e+r appears in newer,
    // wider, lower = 6+3+2 = 11) — some multi-char symbol must exist
    assert(m.vocab.keys.exists(s => s.length > 1 && s != Bpe.EndOfWord && !s.endsWith(Bpe.EndOfWord)))
    // encoding uses merges: "newer" must compress below chars+1 symbols
    assert(Bpe.encodeWord("newer", m).length < "newer".length + 1)
  }

  test("encode/decode round trip") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps again and again",
      "lazy dogs sleep while quick foxes jump")
    val m = Bpe.trainFromTexts(texts.iterator, 50)
    for (t <- texts) {
      val ids = Bpe.encode(t, m)
      assert(ids.last == 0) // EOS
      assert(Bpe.decode(ids, m) == t, t)
    }
  }

  test("determinism: same corpus -> identical model") {
    val texts = Seq("alpha beta gamma beta alpha", "gamma gamma beta")
    val a = Bpe.trainFromTexts(texts.iterator, 20)
    val b = Bpe.trainFromTexts(texts.iterator, 20)
    assert(a.merges == b.merges && a.vocab == b.vocab)
  }

  test("PerplexityEncoder: token_ids truncated to max_model_len-1, jsonl per partition") {
    import spark.implicits._
    val texts = Seq("alpha beta gamma " * 50, "short doc here")
    val m = Bpe.trainFromTexts(texts.iterator, 30)
    val df = texts.toDF("text")
    val out = graft.operators.PerplexityEncoder.annotate(df, "text", m, maxModelLen = 17)
      .select("token_ids").as[Seq[Int]].collect()
    assert(out.forall(_.length <= 16))
    assert(out.exists(_.length == 16)) // the long doc truncates
    val dir = tempDir("pplenc")
    graft.operators.PerplexityEncoder.write(df.coalesce(1), "text", dir, m, 17)
    val lines = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".txt"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines().toList)
    assert(lines.length == 2 && lines.forall(l => l.startsWith("[") && l.endsWith("]")))
  }

  test("pretrained GPT-2-format fixture loads and encodes deterministically") {
    val m = Bpe.fixtureModel
    assert(m.merges.head == ("l", "o"))
    assert(m.merges.length == 13)
    assert(m.vocab("low</w>") == 20 && m.vocab("</w>") == 11)
    // counts independently derived with a Python BPE replay (see SparkEntry
    // token_count_bpe oracle): low→1, lower→2, lowest→2, new→1, newer→2,
    // wider→2 tokens (+1 EOS per text)
    assert(Bpe.encode("low lower lowest", m).toSeq == Seq(20, 13, 15, 13, 23, 0))
    assert(Bpe.encode("new newer wider low", m).toSeq == Seq(24, 17, 15, 19, 15, 20, 0))
    assert(Bpe.decode(Array(20, 13, 15, 13, 23, 0), m) == "low lower lowest")
  }

  test("loadPretrained: JSON unescape order, uXXXX keys, '#'-leading merges") {
    val bs = "\\" // single backslash
    // JSON text {"a\\n": 7, "Ġx": 8} — escaped-backslash-then-n must
    // decode to backslash+n (NOT newline), and the ASCII-escaped Ġ (how
    // real GPT-2 vocab.json ships every word token) must decode to the char
    val vocab = "{\"a" + bs + bs + "n\": 7, \"" + bs + "u0120x\": 8}"
    val merges = "#version: 0.2\n# #\nab cd"
    val m = Bpe.loadPretrained(vocab, merges)
    assert(m.vocab(s"a${bs}n") == 7)
    assert(m.vocab("Ġx") == 8)
    assert(m.merges.head == ("#", "#"), "merges whose left symbol is '#' must load")
    assert(m.merges(1) == ("ab", "cd"))
  }

  test("DocTokenizer .ds round trip with a real BPE model (non-trivial merges)") {
    import spark.implicits._
    val texts = Seq.tabulate(40)(i => s"shared prefix words number ${('a' + i % 7).toChar} tail tokens repeat repeat")
    val m = Bpe.trainFromTexts(texts.iterator, 40)
    assert(m.merges.length > 10)
    val dir = tempDir("bpe_ds")
    val df = texts.toDF("text").coalesce(1)
    val written = graft.operators.DocTokenizer.write(df, "text", dir,
      graft.operators.DocTokenizerConfig(shuffle = false, bpe = Some(m)))(spark)
    assert(written.map(_._2).sum == 40)
    val docs = graft.operators.DocTokenizer.readRank(written.head._1, wide = false)
    assert(docs.length == 40)
    val decoded = docs.map(ids => Bpe.decode(ids, m))
    assert(decoded.toSeq == texts)
  }
}
