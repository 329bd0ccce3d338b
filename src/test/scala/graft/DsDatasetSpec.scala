package graft

import graft.operators.{DocTokenizer, DocTokenizerConfig}
import graft.sources.DsDataset

class DsDatasetSpec extends SparkSpec {
  import spark.implicits._

  private def writeCorpus(texts: Seq[String], parts: Int = 1): String = {
    val dir = tempDir("dsds")
    val df = texts.toDF("text").repartition(parts)
    DocTokenizer.write(df, "text", dir,
      DocTokenizerConfig(vocabSize = 1000, shuffle = false))(spark)
    dir
  }

  test("index format regression: entries are token offsets, not bytes") {
    val dir = writeCorpus(Seq("one two three", "four five"))
    val idx = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/00000.ds.index"))
    val bb = java.nio.ByteBuffer.wrap(idx).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ends = Array.fill(idx.length / 8)(bb.getLong)
    // 3+1 EOS and 2+1 EOS tokens -> ends in TOKENS [4, 7] (bytes would be [8, 14])
    assert(ends.toSeq == Seq(4L, 7L))
  }

  test("windows: seq_len+1 tokens each, trailing partial dropped, values match the stream") {
    val dir = writeCorpus(Seq("a b c", "d e f g", "h i"))
    // stream: 4 + 5 + 3 = 12 tokens; win=5 -> 2 full windows, 2 tokens dropped
    val flat = DocTokenizer.readRank(s"$dir/00000.ds", wide = false).flatten
    val out = DsDataset.read(spark, dir, seqLen = 4)
      .orderBy("seq_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[scala.collection.Seq[Int]]("input_ids") == flat.slice(0, 5).toSeq)
    assert(out(1).getAs[scala.collection.Seq[Int]]("input_ids") == flat.slice(5, 10).toSeq)
    assert(out.map(_.getAs[Long]("seq_id")).toSeq == Seq(0L, 1L))
  }

  test("positions from .index match the reference docstring example") {
    // dataset.py:74-79: doc ends [3, 5, 8] in a window of seq_len+1 = 10
    // -> positions [0, 1, 2, 0, 1, 0, 1, 2, 0, 1]
    val pos = DsDataset.positionsFromIndex(Array(3L, 5L, 8L), 0L, 9)
    assert(pos.toSeq == Seq(0, 1, 2, 0, 1, 0, 1, 2, 0, 1))
    // an end exactly at window_end counts; one at window_start does not
    val pos2 = DsDataset.positionsFromIndex(Array(10L, 14L), 10L, 4)
    assert(pos2.toSeq == Seq(0, 1, 2, 3, 0))
  }

  test("positions from EOS tokens reset after each separator") {
    // eos=0: tokens [5, 0, 7, 8, 0] -> resets at 0, 2, (5 is past end)
    assert(DsDataset.positionsFromTokens(Array(5, 0, 7, 8, 0), 0).toSeq ==
      Seq(0, 1, 0, 1, 2))
    // eos in final slot does not reset anything (reference scans [:-1])
    assert(DsDataset.positionsFromTokens(Array(1, 2, 0), 0).toSeq == Seq(0, 1, 2))
  }

  test("end-to-end positions: EOS-derived equals index-derived on EOS-terminated docs") {
    val dir = writeCorpus(Seq("aa bb cc dd", "ee ff", "gg hh ii jj kk ll"))
    val fromIdx = DsDataset.read(spark, dir, seqLen = 6, returnPositions = true)
      .orderBy("seq_id").collect()
      .map(r => r.getAs[scala.collection.Seq[Int]]("positions"))
    val fromEos = DsDataset.read(spark, dir, seqLen = 6, returnPositions = true,
        positionsFromEosTokenId = Some(0))
      .orderBy("seq_id").collect()
      .map(r => r.getAs[scala.collection.Seq[Int]]("positions"))
    assert(fromIdx.length == fromEos.length && fromIdx.nonEmpty)
    // on EOS-terminated docs the two algorithms agree on EVERY window:
    // both force a reset at window start (the prepended 0), index ends
    // inside the window sit exactly one past an EOS, and an EOS in the
    // window's last slot is excluded by both (the inclusive <= window_end
    // filter vs the [:-1] scan)
    for ((p, i) <- fromIdx.zipWithIndex) assert(p == fromEos(i), s"window $i")
    // the reference's own invariant: first position is always 0
    assert(fromIdx.forall(_.head == 0))
    assert(fromEos.forall(_.head == 0))
  }

  test("multi-file folder: sorted order, global seq ids, per-file window counts") {
    val dir = writeCorpus(
      (1 to 12).map(i => s"doc number $i body words here"), parts = 3)
    val singles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".ds")).sortBy(_.getName)
    assert(singles.length == 3)
    val perFileTokens = singles.map(f =>
      DocTokenizer.readRank(f.getPath, wide = false).flatten.length)
    val win = 4
    val expectTotal = perFileTokens.map(_ / win).sum
    val out = DsDataset.read(spark, dir, seqLen = win - 1).collect()
    assert(out.length == expectTotal)
    assert(out.map(_.getAs[Long]("seq_id")).sorted.toSeq ==
      (0L until expectTotal.toLong))
    // first window of file 2 starts at file 2's byte 0
    val f2 = DocTokenizer.readRank(singles(1).getPath, wide = false).flatten
    val f2start = perFileTokens(0) / win
    val row = out.find(_.getAs[Long]("seq_id") == f2start.toLong).get
    assert(row.getAs[scala.collection.Seq[Int]]("input_ids") == f2.slice(0, win).toSeq)
  }

  test("file shuffle is seeded and deterministic") {
    val dir = writeCorpus((1 to 9).map(i => s"shuffle doc $i content"), parts = 3)
    val a = DsDataset.read(spark, dir, 3, shuffleFiles = true, seed = 7)
      .orderBy("seq_id").collect().map(_.getAs[scala.collection.Seq[Int]]("input_ids"))
    val b = DsDataset.read(spark, dir, 3, shuffleFiles = true, seed = 7)
      .orderBy("seq_id").collect().map(_.getAs[scala.collection.Seq[Int]]("input_ids"))
    assert(a.toSeq == b.toSeq)
  }
}
