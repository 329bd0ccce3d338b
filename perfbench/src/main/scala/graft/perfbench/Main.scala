package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, xxhash64}
import graft.Bench
import graft.operators.{CacheRegistry, MinhashDedup, QualityPipeline, ScalePosture}
import graft.plans.Checkpoint
import graft.sources.Writers

/** The measured JVM of the benchmark (`perfbench/run.py` launches it):
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --workdir <dir> --result <file> --spans <file>
  *
  * Builds one local[nproc] session and the input tables, runs one checked
  * pass over the fixed reference input and the workload's untimed warm-up
  * passes over the seeded input, then repeats the workload for `--seconds`.
  * Each rep gets a fresh output directory and emptied caches, and its
  * output check values are reported. With `--trace 1` the reps alternate
  * (ABBA) between untraced and traced (timed stage wrappers and spans), and
  * the layer probes run once at the end. Raw per-rep numbers go to
  * `--result`; run.py checks and sums them up.
  */
object Main {
  /** seed of the reference input whose check values are recorded */
  val RefSeed = 20240601L

  final case class Rep(id: String, wall: Double, stats: GroupStats, check: Option[Check],
                       error: Option[String], traced: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val workdir = Paths.get(opts("workdir"))
    val cores = Runtime.getRuntime.availableProcessors()

    Bench.noiseProbe() // warms the probe loop
    val probeStart = Bench.noiseProbe()

    val t0 = System.nanoTime()
    val builder = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workdir.resolve("spark-local").toString)
    w.confs(cores).foreach { case (k, v) => builder.config(k, v) }
    implicit val spark: SparkSession = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val listener = new RepListener
    sc.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    def fresh(name: String): String = {
      val p = workdir.resolve(name)
      delete(p)
      p.toString
    }

    /** One rep: empty caches, fresh output dir, the timed work, then the
      * untimed check. A throw or a failed task attempt is a failed rep. */
    def rep(id: String, input: String, ctx: Ctx): Rep = {
      CacheRegistry.clearAll()
      spark.catalog.clearCache()
      System.gc()
      val out = fresh(s"out-$id")
      sc.setLocalProperty(RepListener.RepProperty, id)
      try {
        val t = System.nanoTime()
        val checkFn = ctx.span("rep")(w.run(ctx, input, out))
        val wall = (System.nanoTime() - t) / 1e9
        sc.setLocalProperty(RepListener.RepProperty, s"$id.check")
        val check = checkFn()
        PerfbenchBridge.drainListeners(sc)
        val stats = listener.of(id)
        val err = if (stats.failedTasks > 0) Some(s"${stats.failedTasks} failed task attempts") else None
        Rep(id, wall, stats, Some(check), err, ctx.tracer.isDefined)
      } catch {
        case NonFatal(e) =>
          Rep(id, 0.0, new GroupStats, None, Some(e.toString.take(500)), ctx.tracer.isDefined)
      } finally sc.setLocalProperty(RepListener.RepProperty, null)
    }

    // the seeded and the reference input tables (data preparation, kept
    // out of the set-up time), then one pass over the fixed reference
    // input, checked against the recorded values
    val input = workdir.resolve("input").toString
    val ref = workdir.resolve("ref").toString
    def timed(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    sc.setLocalProperty(RepListener.RepProperty, "setup")
    val inputBuildS = timed {
      w.prepare(spark, fresh("input"), w.docs, seed)
      w.prepare(spark, fresh("ref"), w.refDocs, RefSeed)
    }
    var refRep: Rep = null
    val refS = timed { refRep = rep("ref", ref, new Ctx(spark, None, None)) }
    delete(Paths.get(ref))
    delete(workdir.resolve("out-ref"))
    // the reference pass is the first JIT warm-up pass; untimed passes
    // over the seeded input finish it (a timed rep straight after one
    // pass ran measurably slower). Their output must match the timed reps'
    val warmReps = mutable.ArrayBuffer.empty[Rep]
    val warmS = timed {
      (1 to w.warmPasses).foreach { i =>
        warmReps += rep(s"warm$i", input, new Ctx(spark, None, None))
        delete(workdir.resolve(s"out-warm$i"))
      }
    }

    val runId = s"${w.name}-$seed-${ProcessHandle.current().pid()}"
    val reps = mutable.ArrayBuffer.empty[Rep]
    var lastTraced: Option[(Rep, Tracer, Spans)] = None
    val tLoop = System.nanoTime()
    while (reps.isEmpty || (System.nanoTime() - tLoop) / 1e9 < seconds ||
           (trace && reps.size < 3)) {
      // traced and untraced reps in ABBA order, so drift hits both alike
      val traced = trace && (reps.size % 4 == 1 || reps.size % 4 == 2)
      val tracer = if (traced) Some(new Tracer(sc)) else None
      val repSpans = if (traced) Some(new Spans(runId)) else None
      val r = rep(s"rep${reps.size}", input, new Ctx(spark, repSpans, tracer))
      reps += r
      // the last good traced rep's output stays for the layer probes
      if (traced && r.error.isEmpty) {
        lastTraced.foreach(t => delete(workdir.resolve(s"out-${t._1.id}")))
        lastTraced = Some((r, tracer.get, repSpans.get))
      } else delete(workdir.resolve(s"out-${r.id}"))
    }

    val layers: Seq[(String, Double, String)] =
      lastTraced.map { case (r, tracer, sp) =>
        val out = new Layers(spark, listener, w, input, workdir).all(r, tracer, sp, reps.toSeq)
        sp.writeJsonLines(Paths.get(opts("spans")))
        delete(workdir.resolve(s"out-${r.id}"))
        out
      }.getOrElse(Nil)

    val probeEnd = Bench.noiseProbe()
    delete(Paths.get(input))
    writeResult(Paths.get(opts("result")), w, seed, cores, probeStart, probeEnd,
      sessionS, inputBuildS, refS, refRep, warmS, warmReps.toSeq, reps.toSeq, layers)
    spark.stop()
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val s = Files.walk(path)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def checkJson(c: Option[Check]): String = c.fold("null") { c =>
    s"""{"kept":${c.kept},"digest":${js(c.digest)},"hist":{""" +
      c.hist.map { case (k, v) => s"${js(k)}:$v" }.mkString(",") + "}}"
  }

  private def repJson(docs: Long)(r: Rep): String =
    s"""{"id":${js(r.id)},"traced":${r.traced},"error":${r.error.fold("null")(js)},""" +
      s""""wall_s":${num(r.wall)},"docs_per_s":${num(if (r.wall > 0) docs / r.wall else 0.0)},""" +
      s""""cpu_s":${num(r.stats.cpuNs / 1e9)},"shuffle_bytes":${r.stats.shuffleBytes},""" +
      s""""spill_bytes":${r.stats.spillBytes},"output_bytes":${r.stats.outputBytes},""" +
      s""""jobs":${r.stats.jobs},"stages":${r.stats.stages},"check":${checkJson(r.check)}}"""

  private def writeResult(path: Path, w: Workload, seed: Long, cores: Int,
                          probeStart: Double, probeEnd: Double, sessionS: Double,
                          inputBuildS: Double, refS: Double, refRep: Rep,
                          warmS: Double, warmReps: Seq[Rep], reps: Seq[Rep],
                          layers: Seq[(String, Double, String)]): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"workload":${js(w.name)},"seed":$seed,"cores":$cores,"docs":${w.docs},"""
    sb ++= s""""ref_docs":${w.refDocs},"ref_seed":$RefSeed,"""
    sb ++= s""""probe_start_s":${num(probeStart)},"probe_end_s":${num(probeEnd)},"""
    sb ++= s""""session_s":${num(sessionS)},"""
    sb ++= s""""input_build_s":${num(inputBuildS)},"ref_s":${num(refS)},"""
    sb ++= s""""ref_reps":[${repJson(w.refDocs)(refRep)}],"warm_s":${num(warmS)},"""
    sb ++= s""""warm_reps":[${warmReps.map(repJson(w.docs)).mkString(",")}],"""
    sb ++= s""""reps":[${reps.map(repJson(w.docs)).mkString(",")}],"""
    sb ++= s""""layers":{${layers.map { case (k, v, u) => s"""${js(k)}:{"value":${num(v)},"unit":${js(u)}}""" }.mkString(",")}}}"""
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Per-layer metrics of a traced run, from the last traced rep (listener
  * stats per job group, stage counters, spans) and from probes that call
  * a layer's public entry point once more on that rep's data. A layer a
  * workload does not run reports 0. */
final class Layers(spark: SparkSession, listener: RepListener, w: Workload,
                   input: String, workdir: Path) {
  private implicit val session: SparkSession = spark
  private val sc = spark.sparkContext
  private val out = mutable.ArrayBuffer.empty[(String, Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))

  val FinewebStages: Seq[String] = Seq("url_filter", "language_filter", "gopher_repetition",
    "gopher_quality", "c4_quality", "fineweb_quality", "c4_badwords", "tokens_counter",
    "pii_formatter")

  /** Runs `body` as its own listener rep; returns (result, seconds, stats). */
  private def probe[T](id: String)(body: => T): (T, Double, GroupStats) = {
    sc.setLocalProperty(RepListener.RepProperty, id)
    val t = System.nanoTime()
    val r = try body finally sc.setLocalProperty(RepListener.RepProperty, null)
    val s = (System.nanoTime() - t) / 1e9
    PerfbenchBridge.drainListeners(sc)
    (r, s, listener.of(id))
  }

  def all(r: Main.Rep, tracer: Tracer, spans: Spans, reps: Seq[Main.Rep]): Seq[(String, Double, String)] = {
    val repOut = workdir.resolve(s"out-${r.id}").toString
    val replay = workdir.resolve("replay").toString

    // sources: the parquet scan of the columns the workload reads
    val (_, scanS, scan) = probe("probe.scan") {
      spark.read.parquet(input).select("url", "warc_ts", "text", "lang")
        .write.format("noop").mode("overwrite").save()
    }
    put("sources.scan_s", scanS, "s")
    put("sources.input_bytes", scan.inputBytes.toDouble, "B")

    // the QualityPipeline row layer and its DocStage kernels. The stage
    // timers read the task thread's clock, so the residual is taken on
    // task time: what the tasks spent outside the scan and every stage
    // (row decode into PipeDoc, encode, the closing aggregate)
    val pipe = listener.of(r.id, _ == "pipeline")
    val ran = pipe.jobs > 0
    val selfTotal = tracer.counters.values.map(_.nanos.value.longValue).sum / 1e9
    put("pipeline.wall_s", spans.spans.find(_.name == "pipeline").fold(0.0)(_.seconds), "s")
    put("pipeline.cpu_s", pipe.cpuNs / 1e9, "s")
    put("pipeline.task_s", pipe.runMs / 1e3, "s")
    put("pipeline.rowlayer_s", if (ran) pipe.runMs / 1e3 - scan.runMs / 1e3 - selfTotal else 0.0, "s")
    put("pipeline.task_skew", pipe.taskSkew, "ratio")
    FinewebStages.foreach { n =>
      val c = tracer.counters.get(n)
      put(s"stage.$n.self_s", c.fold(0.0)(_.nanos.value.longValue / 1e9), "s")
      put(s"stage.$n.docs_in", c.fold(0.0)(_.docsIn.value.doubleValue), "docs")
      put(s"stage.$n.dropped", c.fold(0.0)(_.dropped.value.doubleValue), "docs")
    }

    // plans.Checkpoint + Writers: a committed table, committed once more
    // from its own parquet copy; bytes are what the commit wrote
    def commit(name: String)(write: => Unit): Unit = {
      Main.delete(Paths.get(replay))
      val (_, secs, _) = probe(s"probe.checkpoint.$name")(write)
      put(s"checkpoint.$name.write_s", secs, "s")
      put(s"checkpoint.$name.bytes", Main.dirBytes(replay).toDouble, "B")
      Main.delete(Paths.get(replay))
    }
    def idle(names: Seq[String]): Unit = names.foreach { n =>
      put(s"checkpoint.$n.write_s", 0.0, "s")
      put(s"checkpoint.$n.bytes", 0.0, "B")
    }
    val minhashInput =
      if (w == Workloads.FilterPass) {
        // the filter pass writes nothing: commit its verdict table once
        // (untimed), then probe the verdict commit and the kept/quarantine
        // split the production job runs on it
        val verdicts = workdir.resolve("verdicts").toString
        new QualityPipeline(Workloads.FilterPass.stages)
          .run(spark.read.parquet(input)).toDF().write.parquet(verdicts)
        commit("filtered") {
          new Checkpoint(replay).stage("stage_filtered")(spark.read.parquet(verdicts))
        }
        commit("split") {
          Writers.withQuarantine(spark.read.parquet(verdicts), s"$replay/kept", s"$replay/quarantine")
        }
        idle(Workloads.DedupPhases)
        // no duplicates here: the minhash probe takes the bypass path
        spark.read.parquet(verdicts).where(col("keep"))
          .withColumn("doc_id", xxhash64(col("url"), col("warc_ts"), col("text")))
      } else {
        idle(Seq("filtered", "split"))
        Workloads.DedupPhases.foreach { p =>
          val dir = s"$repOut/stage_$p"
          commit(p) {
            new Checkpoint(replay).stage(s"stage_$p")(spark.read.parquet(dir))
          }
        }
        spark.read.parquet(s"$repOut/stage_url_dedup")
      }
    dedupPhases(r, spans, repOut)
    minhash(minhashInput)

    val untraced = reps.filter(x => !x.traced && x.error.isEmpty).map(x => w.docs / x.wall)
    val traced = reps.filter(x => x.traced && x.error.isEmpty).map(x => w.docs / x.wall)
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    put("trace.docs_per_s_untraced", median(untraced), "docs/s")
    put("trace.docs_per_s_traced", median(traced), "docs/s")
    put("trace.overhead_frac",
      if (untraced.isEmpty || traced.isEmpty) 0.0 else 1.0 - median(traced) / median(untraced), "ratio")
    Main.delete(workdir.resolve("verdicts"))
    out.toSeq
  }

  /** The five dedup phases, by the job groups the posture chain sets. */
  private def dedupPhases(r: Main.Rep, spans: Spans, repOut: String): Unit = {
    val chain = w == Workloads.DedupHeavy
    var rowsIn = if (chain) spark.read.parquet(input).count() else 0L
    val chainSpan = spans.spans.find(_.name == "dedup_chain")
    Workloads.DedupPhases.foreach { p =>
      val g = listener.of(r.id, _ == p)
      val rowsOut = if (chain) spark.read.parquet(s"$repOut/stage_$p").count() else 0L
      chainSpan.foreach(cs => if (g.jobs > 0) spans.addEpochMs(p, cs, g.firstJobMs, g.lastJobMs))
      put(s"$p.wall_s", if (g.jobs == 0) 0.0 else (g.lastJobMs - g.firstJobMs) / 1e3, "s")
      put(s"$p.cpu_s", g.cpuNs / 1e9, "s")
      put(s"$p.shuffle_bytes", g.shuffleBytes.toDouble, "B")
      put(s"$p.spill_bytes", g.spillBytes.toDouble, "B")
      put(s"$p.jobs", g.jobs.toDouble, "count")
      put(s"$p.stages", g.stages.toDouble, "count")
      put(s"$p.rows_in", rowsIn.toDouble, "docs")
      put(s"$p.dropped", (rowsIn - rowsOut).toDouble, "docs")
      put(s"$p.useful_ratio", if (rowsIn == 0) 0.0 else (rowsIn - rowsOut).toDouble / rowsIn, "ratio")
      put(s"$p.task_skew", g.taskSkew, "ratio")
      rowsIn = rowsOut
    }
    // chain time outside every phase's jobs: driver work between phases
    put("dedup.chain_self_s", chainSpan.fold(0.0)(spans.selfSeconds), "s")
  }

  /** MinhashDedup through its public signatures → duplicateEdges →
    * components. components_path is read off the plan `components`
    * returned: 1 the edges projected as they are (early return, no edges),
    * 2 a local table only (driver union-find), 3 anything else
    * (distributed label propagation). */
  private def minhash(in: DataFrame): Unit = {
    val sigs = MinhashDedup.signatures(in, "doc_id", "text", ScalePosture.minhash).cache()
    val (_, sigS, _) = probe("probe.signatures")(sigs.count())
    val edges = MinhashDedup.duplicateEdges(sigs).cache()
    val (nEdges, edgeS, _) = probe("probe.edges")(edges.count())
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    System.gc()
    heap.foreach(_.resetPeakUsage())
    val (path, compS, comp) = probe("probe.components") {
      val clusters = MinhashDedup.components(edges)
      clusters.count()
      val plan = clusters.queryExecution.analyzed
      if (plan.children == Seq(edges.queryExecution.analyzed)) 1
      else if (plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) 2
      else 3
    }
    val peakMb = heap.map(_.getPeakUsage.getUsed).sum / 1e6
    sigs.unpersist()
    edges.unpersist()
    put("minhash.signatures_s", sigS, "s")
    put("minhash.edges_s", edgeS, "s")
    put("minhash.edges", nEdges.toDouble, "count")
    put("minhash.components_s", compS, "s")
    put("minhash.components_jobs", comp.jobs.toDouble, "count")
    put("minhash.components_heap_peak_mb", peakMb, "MB")
    put("minhash.components_path", path.toDouble, "code")
  }
}
