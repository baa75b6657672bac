package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.mito.{Classify, Features, Ld, MitoPipeline, Numt, Sam}

/** The MitoScape benchmark: BAM (or bgzip SAM) in, classified reads out.
  *
  *   perfbench.Main prepare --workload W --seed N --work DIR
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * `prepare` synthesizes the workload's inputs for the seed and trains the
  * model, each once per work directory. `run` measures in a fresh JVM, so
  * every run starts equally cold. With `--trace 0` it prints the
  * end-to-end metrics; with `--trace 1` the per-layer ones. The last line
  * of stdout is one JSON object.
  */
object Main {

  final case class Workload(name: String, shape: Gen.Shape) {
    def cohort: Boolean = shape.samples > 1
    def ext: String = if (shape.bam) ".bam" else ".sam.gz"
    def pairs: Long = shape.samples.toLong * shape.pairs
  }

  val workloads: Seq[Workload] = Seq(
    Workload("sample_bam", Gen.Shape(samples = 1, pairs = 10000, maxSubs = 3,
      bam = true)),
    Workload("cohort_samgz", Gen.Shape(samples = 2, pairs = 400, maxSubs = 2,
      bam = false)))

  /** Units after the cold one that only warm the JVM up (JIT, generated
    * code): the first warm unit is still 30% slower than the tenth. */
  val WarmUp = 1
  /** Warm units a run measures at least, whatever `--seconds` says. */
  val MinWarm = 3
  /** Failed units after which a run stops measuring: a program whose every
    * unit fails still ends, and reports its failures. */
  val MaxFailed = 3

  /** Metric name → unit, in print order. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "unit_s" -> "s", "reads_per_s" -> "1/s",
    "peak_rss_mb" -> "MB")

  /** `cold_unit_s` is one sample per run, so it varies more between runs
    * than a bounded metric may; it is reported here, unbounded. */
  val perLayer: Seq[(String, String)] = Seq(
    "cold_unit_s" -> "s",
    "sources.scan_s" -> "s", "sources.scan_rec_per_s" -> "1/s",
    "sources.scan_tasks" -> "count", "sources.scan_tasks_nt" -> "count",
    "sources.scan_tasks_mt" -> "count",
    "sources.sink_s" -> "s", "sources.sink_mb_per_s" -> "MB/s",
    "sources.in_mb" -> "MB", "sources.out_mb" -> "MB",
    "mito.nt_features_s" -> "s", "mito.mt_per_read_s" -> "s",
    "mito.ld_score_s" -> "s", "mito.ld_dim_s" -> "s",
    "mito.features_s" -> "s", "mito.score_s" -> "s",
    "mito.ld_pairs" -> "count", "mito.ld_hit_frac" -> "ratio",
    "mito.valid_frac" -> "ratio", "mito.kept_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.core_util" -> "ratio", "spark.sched_wait_s" -> "s",
    "spark.task_skew" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.storage_peak_mb" -> "MB",
    "catalyst.plan_ms" -> "ms",
    "unit.features_job_s" -> "s", "unit.sink_job_s" -> "s",
    "traced_unit_s" -> "s", "trace_overhead_frac" -> "ratio",
    "failed_frac" -> "ratio", "host.steal_frac" -> "ratio")

  final class Args(args: Seq[String]) {
    private val m = args.grouped(2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.toSeq.drop(1))
    val w = workloads.find(_.name == a("workload"))
      .getOrElse(sys.error(s"unknown workload ${a("workload")}; " +
        s"expected one of ${workloads.map(_.name).mkString(", ")}"))
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()
    val seed = a("seed").toLong
    argv.headOption match {
      case Some("prepare") =>
        inputs(work, w, seed)
        if (!Prog.hasModel(work)) {
          val spark = Prog.session(work)
          try Prog.ensureModel(spark, work) finally spark.stop()
        }
      case Some("run") =>
        val r = run(work, w, seed, a("seconds").toDouble, a("trace") == "1")
        r.metrics.foreach { case (k, (v, u)) => println(f"$k%-28s $v%.6g $u") }
        println(r.json)
      case other => sys.error(s"expected prepare or run, got $other")
    }
  }

  def inputDir(work: File, w: Workload, seed: Long): File =
    new File(work, s"inputs/${w.name}-s$seed")

  def inputs(work: File, w: Workload, seed: Long): Seq[Gen.Expected] =
    Gen.ensure(inputDir(work, w, seed), seed, w.shape)

  final case class Result(attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]) {
    def json: String = {
      val ms = metrics.map { case (k, (v, u)) =>
        s""""$k": {"value": ${jnum(v)}, "unit": "$u"}"""
      }.mkString(", ")
      s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Process high-water resident set, from the kernel. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** (steal, total) CPU jiffies since boot, from `/proc/stat`: on a
    * virtual machine, steal is time the host ran other guests. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length == 8) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** One sample set on disk, with the paths the pipeline is called with. */
  final class Inputs(val dir: File, val w: Workload, val oracle: Seq[Gen.Expected],
      outDir: File) {
    def prefix(i: Int): String = new File(dir, s"S$i").getAbsolutePath
    def file(i: Int, part: String): String = prefix(i) + s"_$part" + w.ext
    val ld: String = new File(dir, "ld.tsv").getAbsolutePath
    val numt: String = new File(dir, "numt.tsv").getAbsolutePath
    val outputs: Seq[String] = (0 until w.shape.samples).map(i =>
      new File(outDir, s"S$i" + w.ext).getAbsolutePath)
    def clearOutputs(): Unit = { Gen.deleteRecursively(outDir); outDir.mkdirs() }
  }

  type UnitOfWork = (SparkSession, Inputs, RandomForestClassificationModel) => Unit

  /** One unit of work: a sample through `MitoPipeline.run` with the Cli
    * defaults, or a cohort through `MitoPipeline.runCohort`. */
  def unit(spark: SparkSession, in: Inputs,
      model: RandomForestClassificationModel): Unit =
    if (in.w.cohort)
      MitoPipeline.runCohort(spark, in.outputs.indices.map(i => in.prefix(i) -> in.outputs(i)),
        in.ld, in.numt, prob = 0.5, model)
    else
      MitoPipeline.run(spark, MitoPipeline.Config(prefix = in.prefix(0),
        out = in.outputs(0), ldFile = in.ld, numtFile = in.numt), model)

  /** Runs units and checks each output against the oracle, outside the
    * timing. A unit that throws or fails its check counts as failed. */
  final class Units(spark: SparkSession, in: Inputs,
      check: (SparkSession, Inputs) => Boolean) {
    var attempted = 0
    var failed = 0
    def gaveUp: Boolean = failed >= MaxFailed
    /** The unit's seconds, or None when it failed. */
    def once(work: => Unit): Option[Double] = {
      in.clearOutputs()
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try {
        work
        val t = secondsOf(t0)
        if (check(spark, in)) Some(t) else None
      } catch {
        case e: Exception =>
          System.err.println(s"unit failed: $e")
          None
      }
      if (ok.isEmpty) failed += 1
      System.err.println(f"perfbench: unit $attempted ${ok.map(t => f"$t%.3f s").getOrElse("failed")} " +
        f"at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
      ok
    }
  }

  def run(work: File, w: Workload, seed: Long, seconds: Double,
      trace: Boolean, unitOfWork: UnitOfWork = unit): Result = {
    val oracle = Gen.readOracle(new File(inputDir(work, w, seed), "oracle.tsv"))
    val in = new Inputs(inputDir(work, w, seed), w, oracle,
      new File(work, s"out/${w.name}"))

    // set-up, cold, as a one-shot `graft.mito.Cli` pays it: session, model
    // and dims in a JVM that has run nothing yet
    val s0 = System.nanoTime()
    val spark = Prog.session(work)
    val model = Prog.loadModel(Prog.modelDir(work))
    Numt.load(spark, in.numt)
    Ld.toMap(Ld.load(spark, in.ld))
    val setupS = secondsOf(s0)
    System.err.println(f"perfbench: set-up $setupS%.3f s")
    try {
      val units = new Units(spark, in, (s, i) => Prog.check(s, i.outputs, i.oracle))
      def once(): Option[Double] = units.once(unitOfWork(spark, in, model))
      val m = new mutable.LinkedHashMap[String, (Double, String)]
      val (steal0, total0) = cpuJiffies()
      val cold = once()
      (1 to WarmUp).foreach(_ => once())
      val t0 = System.nanoTime()
      if (!trace) {
        val warm = mutable.ArrayBuffer.empty[Double]
        while ((warm.length < MinWarm || secondsOf(t0) < seconds) && !units.gaveUp)
          once().foreach(warm += _)
        val unitS = median(warm.toSeq)
        m("setup_s") = (setupS, "s")
        m("unit_s") = (unitS, "s")
        m("reads_per_s") = (w.pairs / unitS, "1/s")
        m("peak_rss_mb") = (peakRssMb(), "MB")
      } else {
        val tracer = new Tracer(spark)
        traced(spark, model, in, units, () => unitOfWork(spark, in, model),
          tracer, t0, seconds, m)
        val traceFile = new File(work, s"traces/${w.name}-s$seed.json")
        traceFile.getParentFile.mkdirs()
        tracer.write(traceFile, Map("workload" -> w.name, "seed" -> seed.toString))
        System.err.println(s"trace written to $traceFile")
      }
      m("cold_unit_s") = (cold.getOrElse(Double.NaN), "s")
      val (steal1, total1) = cpuJiffies()
      val steal = (steal1 - steal0).toDouble / math.max(1L, total1 - total0)
      m("host.steal_frac") = (steal, "ratio")
      System.err.println(f"perfbench: cpu steal ${100 * steal}%.1f%% while units ran")
      m("failed_frac") = (units.failed.toDouble / units.attempted, "ratio")
      val names = if (trace) perLayer else endToEnd
      Result(units.attempted, units.failed,
        names.map { case (k, u) => k -> m.getOrElse(k, (Double.NaN, u)) })
    } finally spark.stop()
  }

  /** The traced run: untraced and traced units alternate for half the
    * window, then every layer call runs as its own span until the window
    * ends. Medians are taken over units and passes. */
  def traced(spark: SparkSession, model: RandomForestClassificationModel,
      in: Inputs, units: Units, work: () => Unit, tracer: Tracer, t0: Long,
      seconds: Double, m: mutable.Map[String, (Double, String)]): Unit = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val withTrace = mutable.ArrayBuffer.empty[(Double, Counts, Seq[Span])]
    var n = 0
    while ((withTrace.length < 2 || secondsOf(t0) < seconds / 2) && !units.gaveUp) {
      n += 1
      def plainUnit(): Unit = units.once(work()).foreach(plain += _)
      // the JVM is still warming up, so the order alternates
      if (n % 2 == 1) plainUnit()
      tracer.start()
      val before = tracer.spans.length
      var counts: Counts = null
      var spanS = 0.0
      val ok = units.once {
        val (_, s, c) = tracer.span("unit", 0, n)(work())
        counts = c
        spanS = (s.endMs - s.startMs) / 1e3
      }
      tracer.stop()
      if (ok.isDefined) withTrace += ((spanS, counts, tracer.spans.drop(before).toSeq))
      if (n % 2 == 0) plainUnit()
    }
    // the layer calls are only meaningful on a program that works
    if (withTrace.isEmpty) return
    val tracedS = median(withTrace.map(_._1).toSeq)
    def med(f: Counts => Double) = median(withTrace.map(x => f(x._2)).toSeq)
    m("traced_unit_s") = (tracedS, "s")
    m("trace_overhead_frac") = (tracedS / median(plain.toSeq) - 1, "ratio")
    m("spark.jobs") = (med(_.jobs), "count")
    m("spark.stages") = (med(_.stages), "count")
    m("spark.tasks") = (med(_.tasks), "count")
    m("spark.exec_run_s") = (med(_.execRunS), "s")
    m("spark.exec_cpu_s") = (med(_.execCpuS), "s")
    m("spark.gc_s") = (med(_.gcS), "s")
    m("spark.core_util") = (median(withTrace.map(x =>
      x._2.execRunS / (x._1 * Prog.Cores)).toSeq), "ratio")
    m("spark.sched_wait_s") = (med(_.schedWaitS), "s")
    m("spark.task_skew") = (med(_.taskSkew), "ratio")
    m("spark.shuffle_write_mb") = (med(_.shuffleWriteMb), "MB")
    m("spark.shuffle_read_mb") = (med(_.shuffleReadMb), "MB")
    m("spark.spill_mb") = (med(_.spillMb), "MB")
    m("spark.storage_peak_mb") = (med(_.storagePeakMb), "MB")
    m("catalyst.plan_ms") = (med(_.planMs), "ms")
    // job time by the program file that submitted the job
    def jobSeconds(files: Set[String]) = median(withTrace.map { case (_, _, ss) =>
      ss.filter(s => s.name.startsWith("job ") &&
          files.exists(f => s.name.contains(s" at $f:")))
        .map(s => (s.endMs - s.startMs) / 1e3).sum
    }.toSeq)
    m("unit.features_job_s") = (jobSeconds(Set("Pipeline.scala", "Features.scala",
      "Ld.scala", "Numt.scala")), "s")
    m("unit.sink_job_s") = (jobSeconds(Set("BamWriter.scala", "TextSink.scala",
      "Sam.scala")), "s")

    var pass = 0
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // a layer call that throws counts as a failed unit and ends the passes
    try {
      val layers = new Layers(spark, model, in, tracer)
      tracer.start()
      while (pass < 1 || secondsOf(t0) < seconds) {
        pass += 1
        layers.pass(n + pass).foreach { case (k, v) =>
          samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(s"layer calls failed: $e")
        units.attempted += 1
        units.failed += 1
    }
    tracer.stop()
    samples.foreach { case (k, vs) =>
      m(k) = (median(vs.toSeq), perLayer.toMap.getOrElse(k, "?"))
    }
  }

  /** Each layer's public calls, timed one at a time into the noop sink on
    * sample 0 of the unit's inputs. */
  final class Layers(spark: SparkSession, model: RandomForestClassificationModel,
      in: Inputs, tracer: Tracer) {
    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    private val mtMd = in.file(0, "MT_MD")
    private val nt = in.file(0, "NT")
    private val mt = in.file(0, "MT")
    private val numts = Numt.load(spark, in.numt)
    private val mb = 1024.0 * 1024.0
    private val inMb = (0 until in.w.shape.samples)
      .flatMap(i => Seq("MT_MD", "NT", "MT").map(p => new File(in.file(i, p)).length()))
      .sum / mb
    private val fmt = if (in.w.shape.bam) "bam" else "sam"
    private val mtMdRecords = spark.read.format(fmt).load(mtMd).count()
    private val validFrac = {
      val r = Sam.readAuto(spark, in.prefix(0) + "_MT_MD")
        .agg(count(when(Sam.isValid, 1)), count(lit(1))).head()
      r.getLong(0).toDouble / r.getLong(1)
    }

    /** The cohort unit's one LD broadcast, shared by its samples. */
    private lazy val ldBc =
      spark.sparkContext.broadcast(Ld.toMap(Ld.load(spark, in.ld)))

    /** Sample 0's feature frame as the unit builds it: `MitoPipeline.run`'s
      * join LD mode, or `MitoPipeline.runCohort`'s per-sample frame over the
      * shared broadcast. */
    private def features(): DataFrame =
      if (!in.w.cohort)
        MitoPipeline.features(spark, MitoPipeline.Config(prefix = in.prefix(0),
          out = "", ldFile = in.ld, numtFile = in.numt), 0.5)
      else
        Features.normalizeMapQ(Features.featureFrame(
          Features.mtFeaturesBroadcast(Sam.readAuto(spark, in.prefix(0) + "_MT_MD"), ldBc),
          Features.ntFeatures(Sam.readAuto(spark, in.prefix(0) + "_NT"), numts),
          label = 0.5))

    def pass(unit: Int): Seq[(String, Double)] = {
      val out = mutable.ArrayBuffer.empty[(String, Double)]
      def timed(name: String)(body: => Unit): Counts = {
        val (_, s, c) = tracer.span(name, 0, unit)(body)
        out += name + "_s" -> (s.endMs - s.startMs) / 1e3
        c
      }
      def scanTasks(name: String, path: String) = {
        val (_, _, c) = tracer.span(name, 0, unit)(noop(spark.read.format(fmt).load(path)))
        c.stageTasks.sum.toDouble
      }
      val scan = timed("sources.scan")(noop(spark.read.format(fmt).load(mtMd)))
      out += "sources.scan_rec_per_s" -> mtMdRecords / out.last._2
      out += "sources.scan_tasks" -> scan.stageTasks.sum.toDouble
      out += "sources.scan_tasks_nt" -> scanTasks("sources.scan_nt", nt)
      out += "sources.scan_tasks_mt" -> scanTasks("sources.scan_mt", mt)

      // the sink, from cached records so the time is the sink's own
      val records = Sam.readAuto(spark, in.prefix(0) + "_MT")
        .persist(StorageLevel.MEMORY_AND_DISK)
      records.count()
      val sinkOut = new File(in.outputs(0) + ".sink" + in.w.ext).getAbsolutePath
      Gen.deleteRecursively(new File(sinkOut))
      timed("sources.sink") {
        if (in.w.shape.bam) {
          val (header, refs) = graft.sources.BamWriter.readHeader(mt)
          graft.sources.BamWriter.write(records, header, refs, sinkOut)
        } else {
          val (header, _) = Sam.headerFromSam(spark, mt)
          Sam.writeSingleSamWithHeader(header.split("\n").filter(_.nonEmpty).toSeq,
            records, sinkOut)
        }
      }
      records.unpersist(blocking = true)
      out += "sources.sink_mb_per_s" -> new File(sinkOut).length() / mb / out.last._2
      Gen.deleteRecursively(new File(sinkOut))
      out += "sources.in_mb" -> inMb
      out += "sources.out_mb" -> in.outputs.map(p => new File(p).length()).sum / mb

      timed("mito.nt_features")(noop(Features.ntFeatures(
        Sam.readAuto(spark, in.prefix(0) + "_NT"), numts)))
      timed("mito.mt_per_read")(noop(Features.mtPerRead(
        Sam.readAuto(spark, in.prefix(0) + "_MT_MD"))))

      // LD scoring on the path the unit runs: the pair join on a sample,
      // the per-row UDF over the shared broadcast on a cohort
      val perRead = Features.mtPerRead(Sam.readAuto(spark, in.prefix(0) + "_MT_MD"))
        .select(col("Read"), col("variants")).persist(StorageLevel.MEMORY_AND_DISK)
      perRead.count()
      val pairScores = () => noop(Ld.pairScores(perRead, Ld.load(spark, in.ld)))
      val ld = if (!in.w.cohort) timed("mito.ld_score")(pairScores())
        else {
          val alignments = Sam.readAuto(spark, in.prefix(0) + "_MT_MD")
            .persist(StorageLevel.MEMORY_AND_DISK)
          alignments.count()
          ldBc.value // the broadcast is the unit's set-up, not its scoring
          timed("mito.ld_score")(noop(Features.mtFeaturesBroadcast(alignments, ldBc)))
          alignments.unpersist(blocking = true)
          // the pair counts are the data's, whichever mode scores them
          tracer.span("mito.ld_pair_count", 0, unit)(pairScores())._3
        }
      perRead.unpersist(blocking = true)
      val generated = Tracer.metric(ld.plans, _.startsWith("Generate"), "numOutputRows")
      val matched = Tracer.metric(ld.plans,
        n => n.startsWith("BroadcastHashJoin"), "numOutputRows")
      out += "mito.ld_pairs" -> generated.toDouble
      out += "mito.ld_hit_frac" -> (if (generated == 0) 0.0 else matched.toDouble / generated)

      timed("mito.ld_dim") {
        spark.sparkContext.broadcast(Ld.toMap(Ld.load(spark, in.ld))).destroy()
      }

      timed("mito.features")(noop(features()))
      Features.releaseCaches()
      val feat = features().persist(StorageLevel.MEMORY_AND_DISK)
      feat.count()
      Features.releaseCaches()
      timed("mito.score")(noop(Classify.score(model, feat)))
      val scored = Classify.score(model, feat)
      out += "mito.kept_frac" ->
        Classify.mtReadKeys(scored, 0.5).count().toDouble / scored.count()
      feat.unpersist(blocking = true)
      out += "mito.valid_frac" -> validFrac
      out.toSeq
    }
  }
}
