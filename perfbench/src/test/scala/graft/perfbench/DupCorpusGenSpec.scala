package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.RunPipeline
import graft.plans.Checkpoint

/** The `dedup_heavy` input: reproducible from its seed, and every phase of
  * the posture dedup chain has duplicates to drop in it. */
class DupCorpusGenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-tests")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val tmp: Path = Files.createTempDirectory("perfbench_spec")

  override def afterAll(): Unit = {
    Main.delete(tmp)
    spark.stop()
  }

  /** Part files of a written table, in part order, as bytes. */
  private def partBytes(dir: Path): Seq[Seq[Byte]] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString.take(10))
      .map(p => Files.readAllBytes(p).toSeq).toSeq
    finally s.close()
  }

  test("the same seed gives a byte-identical table, another seed another table") {
    def write(name: String, seed: Long): Path = {
      val p = tmp.resolve(name)
      DupCorpusGen.generate(spark, 1000, seed, partitions = 4).write.parquet(p.toString)
      p
    }
    val a = partBytes(write("a", 7L))
    val b = partBytes(write("b", 7L))
    assert(a.size == 4)
    assert(a == b)
    assert(partBytes(write("c", 8L)) != a)
  }

  test("each phase of the posture dedup chain drops rows on it") {
    implicit val s: SparkSession = spark
    val n = 2000L
    val ckpt = new Checkpoint(tmp.resolve("chain").toString)
    val kept = RunPipeline.postureDedupChain(DupCorpusGen.generate(spark, n, 7L, 4), ckpt).count()
    val drops = Workloads.phaseDrops(ckpt, n)
    assert(drops.map(_._1) == Workloads.DedupPhases.map(p => s"dedup:$p"))
    drops.foreach { case (phase, dropped) => assert(dropped > 0, phase) }
    assert(kept == n - drops.map(_._2).sum)
  }
}
