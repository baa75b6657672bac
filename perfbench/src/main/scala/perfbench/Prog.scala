package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's calls into the program: the session `graft.mito.Cli`
  * builds, the model it loads, and the output check. */
object Prog {

  val Cores = 4

  /** `graft.mito.Cli`'s session at `--threads 4`. Only the scratch and
    * warehouse locations are added, so that a run writes inside `work`. */
  def session(work: File): SparkSession = {
    val tmp = new File(work, "spark-local"); tmp.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-mito-classify")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def loadModel(dir: File): RandomForestClassificationModel =
    RandomForestClassificationModel.load(dir.getAbsolutePath)

  def modelDir(work: File): File = new File(work, "model-rf128")
  def hasModel(work: File): Boolean = new File(modelDir(work), "metadata").exists()

  /** Trains the 128-tree model once per work directory, on a wide-margin
    * feature fixture: only the nuclear-side features separate the classes
    * (a NUMT pair overlaps a NUMT interval, has few nuclear mismatches and
    * one nuclear hit per mate), while the mito-side features span the same
    * range in both classes. Every synthesized pair falls well inside its
    * class's region, so the expected kept set is exact. */
  def ensureModel(spark: SparkSession, work: File): File = {
    val dir = modelDir(work)
    if (!hasModel(work)) {
      import spark.implicits._
      val rnd = new Random(42)
      val rows = (0 until 4000).map { i =>
        val numt = i % 2 == 1
        (s"f$i", rnd.nextInt(31).toLong, rnd.nextInt(30000000),
          if (numt) rnd.nextInt(5).toLong else 10L + rnd.nextInt(20),
          if (numt) 8 + rnd.nextInt(120) else 0,
          2L + rnd.nextInt(3),
          if (numt) 2L else 4L + rnd.nextInt(4),
          if (numt) 1.0 else graft.mito.Classify.MtLabel)
      }
      val df = rows.toDF("Read", "MTEditDist", "LD", "NTEditDist", "NTScore",
        "MTNumAlignments", "NTNumAlignments", "label")
      val model = graft.mito.Classify.trainRF(df, numTrees = 128, seed = 42L)
      val tmp = new File(work, s"model-rf128.tmp${ProcessHandle.current().pid()}")
      Gen.deleteRecursively(tmp)
      model.write.overwrite().save(tmp.getAbsolutePath)
      Gen.deleteRecursively(dir)
      java.nio.file.Files.move(tmp.toPath, dir.toPath)
    }
    dir
  }

  /** Spark twin of [[Gen.checksumOf]]. */
  val checksumColumn =
    pmod(xxhash64(col("readName"), col("flag"), col("start"), col("cigar"),
      col("sequence"), col("qual")), lit(Gen.HashMod))

  /** Re-scans every output of a unit with the program's own source and
    * compares record count and checksum per sample with the oracle. One
    * job for all samples. */
  def check(spark: SparkSession, outputs: Seq[String],
      oracle: Seq[Gen.Expected]): Boolean = {
    if (!outputs.forall(p => new File(p).isFile)) return false
    val got = outputs.zipWithIndex.map { case (p, i) =>
      spark.read.format(if (p.endsWith(".bam")) "bam" else "sam").load(p)
        .select(lit(i).as("i"), checksumColumn.as("h"))
    }.reduce(_ union _)
      .groupBy(col("i")).agg(count(lit(1)).as("n"), sum(col("h")).as("h"))
      .collect().map(r => r.getInt(0) -> Gen.Expected(r.getLong(1), r.getLong(2)))
      .toMap
    oracle.indices.forall(i => got.getOrElse(i, Gen.Expected(0L, 0L)) == oracle(i))
  }
}
