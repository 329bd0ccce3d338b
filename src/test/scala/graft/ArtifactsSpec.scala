package graft

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.spark.sql.types._
import graft.operators.{DocTokenizer, DocTokenizerConfig, TokenArtifacts}
import graft.sources.IpcReader

class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private def writeDs(dir: String, texts: Seq[String]): Unit = {
    val df = texts.toDF("text").coalesce(1)
    DocTokenizer.write(df, "text", dir, DocTokenizerConfig(shuffle = false))
  }

  test("merger: rank files merged under a token budget, docs preserved") {
    val in = tempDir("mg_in")
    val out = tempDir("mg_out")
    writeDs(in, (1 to 20).map(i => s"document $i with a few words"))
    val files = TokenArtifacts.merge(in, out, maxTokensPerFile = 30)
    assert(files.length > 1)
    val all = files.flatMap(f => DocTokenizer.readRank(f, wide = false))
    assert(all.length == 20)
    assert(all.forall(_.last == 0))
    files.foreach { f =>
      val toks = DocTokenizer.readRank(f, wide = false).map(_.length).sum
      assert(toks <= 30 || DocTokenizer.readRank(f, wide = false).length == 1)
    }
  }

  test("merger: .loss sidecars ride the shuffle in document order") {
    val in = tempDir("mgl_in")
    val out = tempDir("mgl_out")
    val df = (1 to 6).map(i => (s"prompt $i answer body", Seq(Seq(0, 7))))
      .toDF("text", "ranges").repartition(2)
    DocTokenizer.write(df, "text", in,
      DocTokenizerConfig(shuffle = false, saveLoss = true),
      noLossRangesCol = Some("ranges"))
    TokenArtifacts.merge(in, out, 1000000, shuffleSeed = Some(3L))
    val mergedDocs = DocTokenizer.readRank(s"$out/00000.ds", wide = false)
    val mergedLoss = DocTokenizer.readRankLoss(s"$out/00000.ds").get
    assert(mergedDocs.length == 6 && mergedLoss.length == 6)
    // masks stay aligned: each doc's mask has its token count, "prompt"
    // (token 0) masked, the rest (incl. EOS) kept
    for ((doc, mask) <- mergedDocs.zip(mergedLoss)) {
      assert(mask.length == doc.length)
      assert(mask.head == 0 && mask.last == 1)
    }
  }

  test("merger: seeded cross-rank shuffle is deterministic") {
    val in = tempDir("mgs_in")
    writeDs(in, (1 to 10).map(i => s"doc $i content"))
    val o1 = tempDir("mgs1")
    val o2 = tempDir("mgs2")
    TokenArtifacts.merge(in, o1, 1000000, shuffleSeed = Some(9L))
    TokenArtifacts.merge(in, o2, 1000000, shuffleSeed = Some(9L))
    val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$o1/00000.ds"))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$o2/00000.ds"))
    assert(java.util.Arrays.equals(a, b))
  }

  test("context shuffler: fixed windows, deterministic order, tail dropped") {
    val in = tempDir("cs_in")
    writeDs(in, Seq(("word " * 100).trim))
    val src = s"$in/00000.ds"
    val out = s"$in/shuffled.ds"
    val n = TokenArtifacts.contextShuffle(src, out, windowTokens = 16)
    assert(n == 101 / 16) // 100 words + EOS = 101 tokens → 6 windows
    val outBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(outBytes.length == n * 16 * 2)
  }

  test("megatron .bin/.idx: header magic + counts") {
    val in = tempDir("mt")
    writeDs(in, Seq("first doc here", "second longer document with words"))
    TokenArtifacts.writeMegatron(s"$in/00000.ds", s"$in/mega")
    val idx = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$in/mega.idx"))
    assert(new String(idx, 0, 7, "ASCII") == "MMIDIDX")
    assert(idx(7) == 0 && idx(8) == 0)
    val bb = java.nio.ByteBuffer.wrap(idx).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(9)
    assert(bb.getLong == 1L) // version
    assert(bb.get() == 8) // uint16 dtype (Megatron numpy code)
    assert(bb.getLong == 2L) // sizes count
    assert(bb.getLong == 3L) // doc index count = docs + 1
    // full body layout (megatron_tokenizer.py:72-105): int32 sizes in
    // TOKENS, int64 BYTE pointers, int64 doc indices [0..docs]
    val docs = graft.operators.DocTokenizer.readRank(s"$in/00000.ds", wide = false)
    val sizes = Array.fill(2)(bb.getInt)
    assert(sizes.toSeq == docs.map(_.length).toSeq)
    val pointers = Array.fill(2)(bb.getLong)
    assert(pointers.toSeq == Seq(0L, sizes(0).toLong * 2))
    val docIdx = Array.fill(3)(bb.getLong)
    assert(docIdx.toSeq == Seq(0L, 1L, 2L))
    assert(!bb.hasRemaining) // nothing after the document indices
    val bin = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$in/mega.bin"))
    assert(bin.length == sizes.map(_.toLong).sum * 2)
    // .bin token stream is the concatenated docs, little-endian uint16
    val tb = java.nio.ByteBuffer.wrap(bin).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val toks = Array.fill(bin.length / 2)(tb.getShort & 0xffff)
    assert(toks.toSeq == docs.flatten.toSeq)
  }

  test("hf save_to_disk dataset reader: state.json shard order + inferred schema") {
    val dir = new java.io.File(tempDir("hfds"))
    // one STREAM-format shard (the save_to_disk convention)
    val allocator = new RootAllocator()
    val idVec = new BigIntVector("id", allocator)
    val textVec = new VarCharVector("text", allocator)
    val root = new VectorSchemaRoot(java.util.List.of[org.apache.arrow.vector.FieldVector](idVec, textVec))
    root.allocateNew()
    idVec.setSafe(0, 10L); idVec.setSafe(1, 20L)
    textVec.setSafe(0, "alpha row".getBytes("UTF-8"))
    textVec.setSafe(1, "beta row".getBytes("UTF-8"))
    root.setRowCount(2)
    val out = new java.io.FileOutputStream(new java.io.File(dir, "data-00000-of-00001.arrow"))
    val writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, out)
    writer.start(); writer.writeBatch(); writer.end(); writer.close(); out.close()
    root.close(); allocator.close()

    java.nio.file.Files.writeString(new java.io.File(dir, "dataset_info.json").toPath,
      """{"description": "t", "features": {"id": {"dtype": "int64", "_type": "Value"}, "text": {"dtype": "string", "_type": "Value"}}}""")
    java.nio.file.Files.writeString(new java.io.File(dir, "state.json").toPath,
      """{"_data_files": [{"filename": "data-00000-of-00001.arrow"}], "_split": "train"}""")

    val schema = graft.sources.HfDatasetReader.inferSchema(
      java.nio.file.Files.readString(new java.io.File(dir, "dataset_info.json").toPath))
    assert(schema.fieldNames.toSeq == Seq("id", "text"))
    assert(schema("id").dataType == LongType && schema("text").dataType == StringType)
    val df = graft.sources.HfDatasetReader.read(spark, dir.getPath)
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(10L -> "alpha row", 20L -> "beta row"))

    // nested (Sequence) features must fail loudly, not fabricate a phantom
    // "feature" column from the inner dict
    val nested = """{"features": {"tokens": {"feature": {"dtype": "int32", "_type": "Value"}, "_type": "Sequence"}}}"""
    val e = intercept[IllegalArgumentException] {
      graft.sources.HfDatasetReader.inferSchema(nested)
    }
    assert(e.getMessage.contains("tokens"))
    // unsigned ints would silently sign-extend through Arrow getObject
    val u32 = """{"features": {"n": {"dtype": "uint32", "_type": "Value"}}}"""
    intercept[IllegalArgumentException] {
      graft.sources.HfDatasetReader.inferSchema(u32)
    }
  }

  test("hf dataset writer -> reader round trip (multi-partition, mixed types)") {
    val spark2 = SparkTestSession.session
    import spark2.implicits._
    val dir = tempDir("hfds_w")
    val df = Seq.tabulate(50)(i => (i.toLong, s"row number $i", i % 3 == 0, i * 0.5))
      .toDF("id", "text", "flag", "score").repartition(3)
    graft.sources.HfDatasetWriter.write(df, dir)
    assert(new java.io.File(dir, "dataset_info.json").exists)
    val state = java.nio.file.Files.readString(new java.io.File(dir, "state.json").toPath)
    // keys load_from_disk reads unconditionally
    for (k <- Seq("_data_files", "_fingerprint", "_format_columns",
                  "_format_kwargs", "_format_type", "_output_all_columns"))
      assert(state.contains("\"" + k + "\""), s"state.json missing $k")
    val back = graft.sources.HfDatasetReader.read(spark2, dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "text", "flag", "score"))
    val rows = back.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getBoolean(2), r.getDouble(3)))).toMap
    assert(rows.size == 50)
    assert(rows(7L) == (("row number 7", false, 3.5)))
    assert(rows(9L) == (("row number 9", true, 4.5)))
  }

  test("arrow IPC reader round trip") {
    val path = tempDir("ipc") + "/t.arrow"
    // write a 2-column arrow file with the arrow java API
    val allocator = new RootAllocator()
    val idVec = new BigIntVector("id", allocator)
    val textVec = new VarCharVector("text", allocator)
    val root = new VectorSchemaRoot(java.util.List.of[org.apache.arrow.vector.FieldVector](idVec, textVec))
    root.allocateNew()
    idVec.setSafe(0, 1L); idVec.setSafe(1, 2L)
    textVec.setSafe(0, "hello world".getBytes("UTF-8"))
    textVec.setSafe(1, "second row".getBytes("UTF-8"))
    root.setRowCount(2)
    val ch = new java.io.FileOutputStream(path).getChannel
    val writer = new ArrowFileWriter(root, null, ch)
    writer.start(); writer.writeBatch(); writer.end(); writer.close(); ch.close()
    root.close(); allocator.close()

    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val df = IpcReader.read(spark, Seq(path), schema)
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "hello world", 2L -> "second row"))
  }
}
