package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.PhaseMetrics

/** Round-8 measurement harness for the two VERDICT r7 "next round" items
  * that were shape-verified but never MEASURED at sf1:
  *
  *  #1 the guardedDupKeys fallback on a genuinely mass-dup 2M corpus —
  *     guarded-on vs conf-forced fallback seconds + shuffle, plus the
  *     observed duplicated-key set size vs the budget scaladoc estimate;
  *  #3 distributed connected-components (min-label propagation) at sf1
  *     edge volumes vs the driver union-find on the SAME dup-heavy corpus,
  *     with labels asserted equal.
  *
  *   SPARK_DRIVER_MEM=48g sbt -batch "runMain graft.ScaleFallback 2000000"
  *
  * Prints one JSON line per phase (grep {"phase"). */
object ScaleFallback {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 2000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val meter = new PhaseMetrics
    spark.sparkContext.addSparkListener(meter)

    def phase[T](name: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      PhaseMetrics.settle(spark.sparkContext)
      println(f"""{"phase":"$name","sec":$sec%.2f,"shuffle_read_mb":${meter.shuffleRead.getOrDefault(name, 0L) / 1e6}%.1f,"shuffle_write_mb":${meter.shuffleWrite.getOrDefault(name, 0L) / 1e6}%.1f}""")
      out
    }

    // ---- mass-dup corpus: 50% of docs belong to 100k exact-dup families
    // (10 copies each), 50% unique — the duplicated-key set is 100k texts,
    // the dup ROW share is half the corpus. Families use full ~100-word
    // texts so the guarded shape's claim (full text never rides an
    // exchange on the non-candidate majority) is exercised with real
    // payload sizes.
    val famStride = 20L // ids 0..9 in each 20-block share family text
    val textUdf = udf { id: Long => graft.sources.WebCorpusGen.genText(id, 42L)._1 }
    val corpus = spark.range(0, rows, 1, 256).select(
      col("id").as("doc_id"),
      textUdf(
        when(col("id") % famStride < 10, col("id") - col("id") % famStride)
          .otherwise(col("id"))).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = phase("corpus_materialize")(corpus.count())
    println(s"""{"corpus_rows":$n}""")

    // ---- #1a guarded-on (default budget): prefilter decides at runtime
    val guardedKept = phase("exact_dedup_guarded") {
      ExactDedup(corpus, "doc_id", "text")
        .where(col("exact_keep")).count()
    }
    // observed dup-key stats (one extra sizing action, reported for the
    // budget-validation ask): distinct duplicated hashes + their bytes
    val dupStats = phase("dup_key_stats") {
      corpus.select(xxhash64(col("text")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("n")).where(col("n") > 1)
        .agg(count(lit(1)), max("n")).head()
    }
    println(s"""{"dup_keys":${dupStats.getLong(0)},"hottest_key_rows":${dupStats.getLong(1)}}""")

    // ---- #1b conf-forced fallback (budget below the dup-key count):
    // the single-pass groupBy(hash, text) shape on the same corpus
    val fallbackKept = phase("exact_dedup_fallback") {
      spark.conf.set(DupCandidates.MaxBroadcastKeysConf, "1000")
      try ExactDedup(corpus, "doc_id", "text")
        .where(col("exact_keep")).count()
      finally spark.conf.unset(DupCandidates.MaxBroadcastKeysConf)
    }
    require(guardedKept == fallbackKept,
      s"guarded ($guardedKept) and fallback ($fallbackKept) kept counts differ")
    println(s"""{"kept_equal":true,"kept":$guardedKept}""")

    // ---- #3 distributed components vs driver union-find on the same
    // dup-heavy corpus's minhash edge set
    val sigs = MinhashDedup.signatures(corpus, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = phase("minhash_edges") {
      val e = MinhashDedup.duplicateEdges(sigs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"""{"edge_rows":${e.count()}}""")
      e
    }
    val ufLabels = phase("components_driver_uf") {
      val l = MinhashDedup.components(edges, driverEdgeLimit = Long.MaxValue - 2)
      l.agg(count(lit(1)), countDistinct(col("cluster"))).head()
    }
    println(s"""{"uf_nodes":${ufLabels.getLong(0)},"uf_clusters":${ufLabels.getLong(1)}}""")
    val distLabels = phase("components_distributed") {
      val l = MinhashDedup.components(edges, driverEdgeLimit = 0L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      l.agg(count(lit(1)), countDistinct(col("cluster"))).head()
    }
    println(s"""{"dist_nodes":${distLabels.getLong(0)},"dist_clusters":${distLabels.getLong(1)}}""")
    // label equality between the two paths (not just counts)
    val mismatch = phase("label_equality") {
      val uf = MinhashDedup.components(edges, driverEdgeLimit = Long.MaxValue - 2)
      val dist = MinhashDedup.components(edges, driverEdgeLimit = 0L)
      uf.as("a").join(dist.as("b"), "doc")
        .where(col("a.cluster") =!= col("b.cluster")).limit(1).count()
    }
    require(mismatch == 0, "UF and distributed labels differ")
    println(s"""{"labels_equal":true}""")
    spark.stop()
  }
}
