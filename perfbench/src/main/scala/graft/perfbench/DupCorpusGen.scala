package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.WebCorpusGen

/** One row of an already-filtered (kept) web table: the columns the posture
  * dedup chain reads. */
final case class KeptDoc(url: String, warc_ts: Timestamp, text: String, lang: String)

/** Seeded generator for the `dedup_heavy` workload: a pre-filtered kept
  * table with planted duplicate families, each aimed at one phase of
  * `RunPipeline.postureDedupChain`, so that every phase has real work.
  *
  * Rows come in blocks of 100; row `i` is a pure function of `(i, seed)`.
  * Per block:
  *   - 0-59  base docs: clean pages from `WebCorpusGen.genRow`;
  *   - 60-67 exact copies of base docs 0-7 under new urls (exact dedup);
  *   - 68-75 older captures of base docs 8-15's urls with other text
  *           (url dedup keeps the latest capture);
  *   - 76-83 copies of base docs 16-23 with two adjacent words edited
  *           (MinHash). Row 76 of every block instead edits block 0's
  *           doc 16: one hot family of n/100 near-duplicates;
  *   - 84-91 a short unique line plus three boilerplate lines shared by
  *           the block (sentence dedup cuts the lines, and the remaining
  *           text is under its 50-word minimum);
  *   - 92-99 a short unique line plus one 40-word span shared by the
  *           block on a single line (no 3-line window repeats, so only
  *           exact-substring dedup finds it).
  * Family members share little else, so an earlier phase rarely takes a
  * member of another phase's family.
  *
  * The shares (40% duplicates, 8% per phase, one hot family) are stress
  * ratios chosen so that every phase has work of a similar size. They are
  * not a model of real crawl traffic and are not taken from a measured
  * corpus: the rows each phase drops, the union-find size and the amount of
  * rewritten text follow from them.
  */
object DupCorpusGen {

  val Block = 100

  /** Text of a clean page from the `WebCorpusGen` mix, outside the id range
    * of the base docs. `n` indexes the clean pages. */
  private def cleanText(n: Long, seed: Long): String =
    WebCorpusGen.genText(1000000000000L + (n / 60) * 100 + n % 60, seed)._1

  private def words(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty).map(_.stripSuffix(".").stripSuffix(","))

  /** `count` words of clean page `n` as lines of `perLine` words. */
  private def lines(n: Long, seed: Long, count: Int, perLine: Int): Seq[String] = {
    var ws = words(cleanText(n, seed))
    var m = n
    while (ws.length < count) { m += 1L << 32; ws ++= words(cleanText(m, seed)) }
    ws.take(count).grouped(perLine).map(_.mkString(" ") + ".").toSeq
  }

  private def base(block: Long, j: Int, seed: Long): KeptDoc = {
    val p = WebCorpusGen.genRow(block * Block + j, seed)
    KeptDoc(p.url, p.warc_ts, p.text, p.lang)
  }

  private def edited(text: String, i: Long, seed: Long): String = {
    val toks = text.split(" ")
    val rng = new WebCorpusGen.DocRng(seed ^ (i * 0x2545f4914f6cdd1dL))
    val p = rng.nextInt(math.max(1, toks.length - 2))
    toks(p) = s"edited${i % 9973}"
    if (p + 1 < toks.length) toks(p + 1) = s"revised${i % 7919}"
    toks.mkString(" ")
  }

  def row(i: Long, seed: Long): KeptDoc = {
    val block = i / Block
    (i % Block).toInt match {
      case k if k < 60 => base(block, k, seed)
      case k if k < 68 =>
        val b = base(block, k - 60, seed)
        KeptDoc(s"https://mirror.example.net/copy/$i", b.warc_ts, b.text, b.lang)
      case k if k < 76 =>
        val b = base(block, k - 60, seed)
        KeptDoc(b.url, new Timestamp(b.warc_ts.getTime - (k - 67) * 86400000L),
          cleanText(3 * i, seed), "en")
      case k if k < 84 =>
        val b = if (k == 76) base(0, 16, seed) else base(block, k - 60, seed)
        KeptDoc(s"https://near.example.org/edit/$i", b.warc_ts, edited(b.text, i, seed), "en")
      case k if k < 92 =>
        val text = (lines(3 * i + 1, seed, 25, 25) ++
          lines(3 * block * Block + 2, seed, 33, 11)).mkString("\n")
        KeptDoc(s"https://boiler.example.org/$i", new Timestamp(1700000000000L + i), text, "en")
      case _ =>
        val text = (lines(3 * i + 1, seed, 25, 25) ++
          lines(3 * block * Block + 5, seed, 40, 40)).mkString("\n")
        KeptDoc(s"https://span.example.org/$i", new Timestamp(1700000000000L + i), text, "en")
    }
  }

  def generate(spark: SparkSession, n: Long, seed: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(i => row(i, seed)).toDF()
  }
}
