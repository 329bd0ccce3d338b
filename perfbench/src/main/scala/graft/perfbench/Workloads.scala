package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.RunPipeline
import graft.operators._
import graft.plans.Checkpoint
import graft.sources.WebCorpusGen

/** What a run's output check compares: the kept count, an
  * order-independent digest over the kept rows' (url, text), and the
  * drop-reason histogram (filter reasons, then rows each dedup phase
  * dropped). */
final case class Check(kept: Long, digest: String, hist: Seq[(String, Long)])

/** Wraps the filter stages of a traced rep in [[TimedStage]]s. */
final class Tracer(sc: org.apache.spark.SparkContext) {
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, StageCounters]
  def wrap(stages: Seq[DocStage]): Seq[DocStage] = stages.map { s =>
    new TimedStage(s, counters.getOrElseUpdate(s.name, new StageCounters(sc, s.name)))
  }
}

/** How one rep runs: the session, plus spans and stage wrappers when traced. */
final class Ctx(val spark: SparkSession, val spans: Option[Spans], val tracer: Option[Tracer]) {
  /** Runs `body` under Spark job group `name`, inside a span when traced. */
  def step[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    try span(name)(body)
    finally spark.sparkContext.clearJobGroup()
  }
  def span[T](name: String)(body: => T): T = spans.fold(body)(s => s(name)(body))
  def stages(all: Seq[DocStage]): Seq[DocStage] = tracer.fold(all)(_.wrap(all))
}

sealed trait Workload {
  def name: String
  /** docs in the input of a timed run */
  def docs: Long
  /** docs in the fixed reference input checked during set-up; as many as a
    * timed rep, so that its pass is a full first warm-up pass */
  def refDocs: Long
  /** untimed passes over the seeded input after the reference pass */
  def warmPasses: Int
  /** session confs, as the production entry point that runs this work sets them */
  def confs(cores: Int): Seq[(String, String)]
  def prepare(spark: SparkSession, dir: String, n: Long, seed: Long): Unit
  /** The timed work. Returns the (untimed) output check. */
  def run(ctx: Ctx, input: String, out: String): () => Check
}

object Workloads {
  val DedupPhases: Seq[String] =
    Seq("exact_dedup", "url_dedup", "minhash_dedup", "sentence_dedup", "exact_substr")

  val all: Seq[Workload] = Seq(FilterPass, DedupHeavy)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  private def digestCol = sum(xxhash64(col("url"), col("text")).cast(DecimalType(38, 0)))

  /** Count and digest of a kept table. */
  def keptDigest(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)), digestCol).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  /** Rows each dedup phase dropped, from the chain's own committed
    * `_metrics/posture_phases` table; `rowsIn` feeds the first phase. */
  def phaseDrops(ckpt: Checkpoint, rowsIn: Long): Seq[(String, Long)] = {
    val out = ckpt.readMetrics("posture_phases")
      .getOrElse(sys.error("posture_phases metrics missing"))
      .select("phase", "rows_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    DedupPhases.scanLeft(("", rowsIn, 0L)) { case ((_, prev, _), p) =>
      (p, out(p), prev - out(p))
    }.tail.map { case (p, _, dropped) => s"dedup:$p" -> dropped }
  }

  /** Bench's `full_pipeline`: the fineweb preset over the WebCorpusGen mix,
    * read from parquet, ending in one aggregate (no write). */
  object FilterPass extends Workload {
    val name = "filter_pass"
    val docs = 40000L
    val refDocs = 40000L
    val warmPasses = 2
    def confs(cores: Int): Seq[(String, String)] = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> (1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (768 * 1024).toString)
    def prepare(spark: SparkSession, dir: String, n: Long, seed: Long): Unit =
      WebCorpusGen.generate(spark, n, seed, partitions = 64).write.parquet(dir)
    /** the preset Bench's `full_pipeline` runs */
    def stages: Seq[DocStage] = Presets.fineweb(
      urlFilter = new UrlFilter(blockListedDomains = WebCorpusGen.BlockedDomains),
      languages = Some(Seq("en")),
      badwords = WebCorpusGen.BadWordsFixture.asMap)
    def run(ctx: Ctx, input: String, out: String): () => Check = {
      implicit val spark: SparkSession = ctx.spark
      val pipeline = new QualityPipeline(ctx.stages(stages))
      val rows = ctx.step("pipeline") {
        pipeline.run(spark.read.parquet(input)).toDF()
          .groupBy(col("drop_reason")).agg(count(lit(1)), digestCol)
          .collect()
      }
      val kept = rows.find(_.getString(0).isEmpty)
      val check = Check(
        kept.map(_.getLong(1)).getOrElse(0L),
        kept.map(_.getDecimal(2).toPlainString).getOrElse("0"),
        rows.filter(_.getString(0).nonEmpty).map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq)
      () => check
    }
  }

  /** `RunPipeline.postureDedupChain` over a kept table with planted
    * duplicate families for every phase (see [[DupCorpusGen]]). */
  object DedupHeavy extends Workload {
    val name = "dedup_heavy"
    val docs = 16000L
    val refDocs = 16000L
    val warmPasses = 1
    /** as `RunPipeline --posture scale` sets them */
    def confs(cores: Int): Seq[(String, String)] = Seq(
      "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
      "spark.sql.shuffle.partitions" -> (cores * 2).toString) ++ ScalePosture.sparkConfs
    def prepare(spark: SparkSession, dir: String, n: Long, seed: Long): Unit =
      DupCorpusGen.generate(spark, n, seed, partitions = 16).write.parquet(dir)
    def run(ctx: Ctx, input: String, out: String): () => Check = {
      implicit val spark: SparkSession = ctx.spark
      val ckpt = new Checkpoint(out)
      val kept = spark.read.parquet(input)
      ctx.span("dedup_chain")(RunPipeline.postureDedupChain(kept, ckpt).count())
      () => {
        val (n, digest) = keptDigest(spark.read.parquet(ckpt.stagePath("stage_exact_substr")))
        Check(n, digest, phaseDrops(ckpt, spark.read.parquet(input).count()))
      }
    }
  }
}
