package graft

import graft.operators.{DocTokenizer, DocTokenizerConfig}
import graft.sources.DsCheck

class DsCheckSpec extends SparkSpec {
  import spark.implicits._

  private def writeCorpus(texts: Seq[String], parts: Int = 1): String = {
    val dir = tempDir("dschk")
    DocTokenizer.write(texts.toDF("text").repartition(parts), "text", dir,
      DocTokenizerConfig(vocabSize = 1000, shuffle = false))(spark)
    dir
  }

  /** The corpus is written through Hadoop's checksummed LocalFileSystem;
    * tests that corrupt files directly must drop the .crc sidecars or the
    * read fails on the checksum instead of the semantic check. */
  private def dropCrc(dir: String): Unit =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(f => java.nio.file.Files.delete(f.toPath))

  test("a valid dataset passes and reports per-file docs/tokens") {
    val dir = writeCorpus(Seq("a b c", "d e", "f g h i"), parts = 2)
    val reports = DsCheck.check(spark, dir)
    assert(reports.length == 2)
    assert(reports.map(_.docs).sum == 3)
    val expectTokens = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".ds"))
      .map(f => DocTokenizer.readRank(f.getPath, wide = false).flatten.length.toLong).sum
    assert(reports.map(_.tokens).sum == expectTokens)
  }

  test("byte-offset index (the pre-fix format) fails the size check") {
    val dir = writeCorpus(Seq("one two three", "four five"))
    // rewrite the index with BYTE offsets — exactly the old bug
    val idxFile = new java.io.File(dir, "00000.ds.index")
    val bb = java.nio.ByteBuffer.wrap(
        java.nio.file.Files.readAllBytes(idxFile.toPath))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ends = Array.fill(bb.remaining() / 8)(bb.getLong)
    val out = java.nio.ByteBuffer.allocate(ends.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ends.foreach(e => out.putLong(e * 2))
    java.nio.file.Files.write(idxFile.toPath, out.array())
    dropCrc(dir)
    val e = intercept[org.apache.spark.SparkException] {
      DsCheck.check(spark, dir)
    }
    assert(e.getMessage.contains("wrong-unit or truncated index"))
  }

  test("a non-EOS final token fails with the doc number") {
    val dir = writeCorpus(Seq("alpha beta", "gamma delta"))
    // overwrite the last token of doc 0 (index 2: 2 words + EOS) with id 7
    val ds = new java.io.RandomAccessFile(new java.io.File(dir, "00000.ds"), "rw")
    try { ds.seek(2 * 2); ds.write(Array[Byte](7, 0)) } finally ds.close()
    dropCrc(dir)
    val e = intercept[org.apache.spark.SparkException] { DsCheck.check(spark, dir) }
    assert(e.getMessage.contains("no EOS at doc end of doc 0"))
  }

  test("chunk boundaries excuse a missing EOS (chunk_size semantics)") {
    val dir = writeCorpus(Seq("alpha beta", "gamma delta"))
    val ds = new java.io.RandomAccessFile(new java.io.File(dir, "00000.ds"), "rw")
    try { ds.seek(2 * 2); ds.write(Array[Byte](7, 0)) } finally ds.close()
    dropCrc(dir)
    // doc 0 ends at token offset 3 -> chunkSize=3 puts it on a boundary
    val reports = DsCheck.check(spark, dir, chunkSize = Some(3L))
    assert(reports.head.docs == 2)
  }

  test("missing index and loss-size mismatch fail loudly") {
    val dir = writeCorpus(Seq("a b"))
    val loss = new java.io.File(dir, "00000.ds.loss")
    java.nio.file.Files.write(loss.toPath, Array[Byte](1, 1)) // 2 bytes != 3 tokens
    val e = intercept[org.apache.spark.SparkException] { DsCheck.check(spark, dir) }
    assert(e.getMessage.contains(".loss"))
    java.nio.file.Files.delete(loss.toPath)
    java.nio.file.Files.delete(new java.io.File(dir, "00000.ds.index").toPath)
    val e2 = intercept[IllegalStateException] { DsCheck.check(spark, dir) }
    assert(e2.getMessage.contains("missing .index"))
  }
  test("megatron .bin/.idx pairs validate via the shared checker") {
    val dir = writeCorpus(Seq("a b c d", "e f", "g h i j k"))
    val ds = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".ds")).head
    val mdir = tempDir("megchk")
    graft.operators.TokenArtifacts.writeMegatron(ds.getPath, s"$mdir/rank0")
    graft.operators.TokenArtifacts.writeMegatron(ds.getPath, s"$mdir/rank1")
    val reports = DsCheck.checkMegatron(spark, mdir)
    assert(reports.length == 2)
    assert(reports.map(_.docs).toSet == Set(3L))
    assert(reports.map(_.tokens).distinct.length == 1)
  }

  test("megatron checker pins corruption: truncated .bin and doctored pointer") {
    val dir = writeCorpus(Seq("a b c d", "e f"))
    val ds = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".ds")).head
    val mdir = tempDir("megbad")
    graft.operators.TokenArtifacts.writeMegatron(ds.getPath, s"$mdir/rank0")
    // truncate the .bin by one token: extent check must fire
    val bin = new java.io.File(mdir, "rank0.bin")
    val bytes = java.nio.file.Files.readAllBytes(bin.toPath)
    java.nio.file.Files.write(bin.toPath, bytes.dropRight(2))
    val e1 = intercept[org.apache.spark.SparkException] { DsCheck.checkMegatron(spark, mdir) }
    assert(e1.getMessage.contains("index extent"))
    java.nio.file.Files.write(bin.toPath, bytes) // restore
    // doctor the first pointer (byte offset: 9 magic + 8 ver + 1 dtype +
    // 16 counts + 2 sizes*4 = 42)
    val idx = new java.io.File(mdir, "rank0.idx")
    val ib = java.nio.file.Files.readAllBytes(idx.toPath)
    ib(42) = 1
    java.nio.file.Files.write(idx.toPath, ib)
    val e2 = intercept[org.apache.spark.SparkException] { DsCheck.checkMegatron(spark, mdir) }
    assert(e2.getMessage.contains("pointer of doc"))
  }
}
