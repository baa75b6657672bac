package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Checks on the benchmark itself: its inputs, its oracle, its metric
  * names and its failure accounting. Run with `sbt test` in `perfbench/`. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = new File("target/bench-spec").getAbsoluteFile
  private lazy val spark: SparkSession = Prog.session(work)

  override def beforeAll(): Unit = {
    Gen.deleteRecursively(work)
    work.mkdirs()
  }
  override def afterAll(): Unit = spark.stop()

  private val tinyBam = Gen.Shape(samples = 1, pairs = 300, maxSubs = 3, bam = true)
  private val tinyCohort = Gen.Shape(samples = 2, pairs = 100, maxSubs = 2, bam = false)

  private def files(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("the same seed gives identical inputs and oracle; another seed does not") {
    for ((shape, tag) <- Seq(tinyBam -> "bam", tinyCohort -> "samgz")) {
      val a = new File(work, s"same-a-$tag"); val b = new File(work, s"same-b-$tag")
      val c = new File(work, s"same-c-$tag")
      val oa = Gen.ensure(a, 7L, shape)
      val ob = Gen.ensure(b, 7L, shape)
      val oc = Gen.ensure(c, 8L, shape)
      assert(oa == ob)
      assert(files(a) == files(b))
      assert(oa != oc)
      assert(files(a)("S0_MT" + (if (shape.bam) ".bam" else ".sam.gz")) !=
        files(c)("S0_MT" + (if (shape.bam) ".bam" else ".sam.gz")))
    }
  }

  test("the oracle's kept set is exactly the mtDNA-class pairs") {
    val d = Gen.dims(3L)
    val s = Gen.sample(3L, tinyBam, d, 0)
    val kept = s.mt.filter(r => s.kept.contains(r.name))
    assert(Gen.expected(s).records == kept.length)
    assert(s.kept.nonEmpty && s.kept.size < tinyBam.pairs)
    // every NUMT-class pair's nuclear mates lie inside a NUMT interval
    val numtReads = s.nt.filterNot(r => s.kept.contains(r.name))
    assert(numtReads.forall(r => d.numts.exists(iv => iv.chrom == r.ref &&
      r.pos >= iv.start && r.pos + Gen.ReadLen - 1 <= iv.end)))
  }

  private def inputsFor(name: String, shape: Gen.Shape, seed: Long): Main.Inputs = {
    val dir = new File(work, s"in-$name-$seed")
    val oracle = Gen.ensure(dir, seed, shape)
    new Main.Inputs(dir, Main.Workload(name, shape), oracle, new File(work, s"out-$name"))
  }

  test("the oracle matches a small sample_bam run and a small cohort run") {
    val model = Prog.loadModel(Prog.ensureModel(spark, work))
    for ((name, shape) <- Seq("sample_bam" -> tinyBam, "cohort_samgz" -> tinyCohort)) {
      val in = inputsFor(name, shape, 11L)
      val units = new Main.Units(spark, in, (s, i) => Prog.check(s, i.outputs, i.oracle))
      assert(units.once(Main.unit(spark, in, model)).isDefined, name)
      assert(units.attempted == 1 && units.failed == 0, name)
    }
  }

  test("a planted wrong output is counted as a failed unit") {
    val model = Prog.loadModel(Prog.ensureModel(spark, work))
    val in = inputsFor("sample_bam", tinyBam, 12L)
    val units = new Main.Units(spark, in, (s, i) => Prog.check(s, i.outputs, i.oracle))
    // prob 0 passes every record through, NUMT-class reads included
    assert(units.once(graft.mito.MitoPipeline.run(spark, graft.mito.MitoPipeline.Config(
      prefix = in.prefix(0), out = in.outputs(0), ldFile = in.ld,
      numtFile = in.numt, prob = 0.0), model)).isEmpty)
    // a unit that writes nothing
    assert(units.once(()).isEmpty)
    // a unit that throws
    assert(units.once(throw new IllegalStateException("planted")).isEmpty)
    assert(units.once(Main.unit(spark, in, model)).isDefined)
    assert(units.attempted == 4 && units.failed == 3)
  }

  test("metric names are well formed and match BENCHMARK.json") {
    val names = (Main.endToEnd ++ Main.perLayer).map(_._1)
    assert(names.distinct == names)
    names.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File("../BENCHMARK.json"))
    def listed(key: String): Seq[(String, String)] = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    }
    assert(listed("end_to_end") == Main.endToEnd)
    assert(listed("per_layer") == Main.perLayer)
    val workloads = json.get("workloads").elements()
    assert(Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next()
      .get("name").asText()).toSeq == Main.workloads.map(_.name))
  }

  // last: `Main.run` stops the session it uses
  test("a program whose every unit fails still ends a run and reports the failures") {
    Prog.ensureModel(spark, work)
    val w = Main.Workload("sample_bam", tinyBam)
    Main.inputs(work, w, 13L)
    val planted: Main.UnitOfWork = (_, _, _) => throw new IllegalStateException("planted")
    for (trace <- Seq(false, true)) {
      val r = Main.run(work, w, 13L, seconds = 1.0, trace = trace, unitOfWork = planted)
      // a traced round runs two units, so it may end one failure later
      assert(r.failed == r.attempted, s"trace $trace")
      assert(r.failed >= Main.MaxFailed && r.failed <= Main.MaxFailed + 1, s"trace $trace")
      assert(r.json.startsWith(
        s"""{"correct": false, "attempted": ${r.attempted}, "failed": ${r.failed}, """))
    }
  }
}
