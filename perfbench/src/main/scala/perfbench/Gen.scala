package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, StandardCopyOption}
import java.util.zip.{CRC32, Deflater}

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Seeded synthesis of one MitoScape input set and its oracle.
  *
  * A set is a directory holding the two dims (`ld.tsv`, `numt.tsv`), and
  * per sample the three alignment files the pipeline reads
  * (`S<i>_MT_MD`, `S<i>_NT`, `S<i>_MT`) as BAM or bgzip SAM text, plus
  * `oracle.tsv`. Every byte follows from the seed and the [[Shape]], so one
  * seed gives one set. The writers here are the benchmark's own, so a
  * defect in the program's sinks cannot leak into the inputs or the oracle.
  *
  * Reads come in two classes. A genuine-mtDNA pair aligns to the nuclear
  * genome outside every NUMT interval, with many mismatches; a NUMT pair
  * aligns inside a NUMT interval with few. The kept set the classifier must
  * produce is exactly the mtDNA-class pairs.
  */
object Gen {

  final case class Shape(
      samples: Int,
      pairs: Int,    // read pairs per sample
      maxSubs: Int,  // substitutions per mate: 0 to maxSubs
      bam: Boolean)  // BAM, else bgzip SAM text

  /** One sample's expected output: records and an order-independent sum. */
  final case class Expected(records: Long, checksum: Long)

  val ReadLen = 150
  val MtLen = 16569
  val Nuclear: Seq[(String, Int)] = (1 to 5).map(i => (s"chr$i", 5000000))
  val Contigs: Seq[(String, Int)] = ("chrM", MtLen) +: Nuclear
  val NumtCount = 23
  val LdRows = 88237
  /** Known variants, one every ~35 bp of chrM; the LD table holds 77% of
    * their pairs. */
  val PoolSize = 480
  /** Share of pairs that carry an extra secondary alignment, which the
    * validity filter drops from the features but the sink keeps. */
  val SecondaryFrac = 0.05
  /** Share of pairs in the NUMT class. */
  val NumtFrac = 0.2
  /** Share of substitutions drawn from the LD-covered pool. */
  val PoolFrac = 0.7

  private val Bases = "ACGT"

  final case class Numt(chrom: String, start: Int, end: Int, score: Int)

  /** Dims shared by every sample of a set. */
  final case class Dims(ref: Array[Char], pool: Array[(Int, Char)],
      ld: Array[(Int, Int, Double)], numts: Array[Numt])

  def dims(seed: Long): Dims = {
    val rnd = new Random(seed * 7919L + 1)
    val ref = Array.fill(MtLen)(Bases(rnd.nextInt(4)))
    val positions = rnd.shuffle((1 to MtLen).toVector).take(PoolSize).sorted
    val pool = positions.map { p =>
      val r = ref(p - 1)
      (p, Bases.filter(_ != r)(rnd.nextInt(3)))
    }.toArray
    val n = pool.length
    val chosen = new java.util.HashSet[Long]()
    val ld = new Array[(Int, Int, Double)](LdRows)
    var k = 0
    while (k < LdRows) {
      val a = rnd.nextInt(n); val b = rnd.nextInt(n)
      if (a != b && chosen.add(math.min(a, b).toLong * n + math.max(a, b))) {
        ld(k) = (a, b, 0.001 + 0.999 * rnd.nextDouble())
        k += 1
      }
    }
    val numts = (0 until NumtCount).map { i =>
      val (chrom, len) = Nuclear(i % Nuclear.length)
      val slot = len / 8 // at most 5 intervals per contig, one per slot
      val start = (i / Nuclear.length) * slot + 1 + rnd.nextInt(slot / 2)
      Numt(chrom, start, start + 2000 + rnd.nextInt(4000), 5 + rnd.nextInt(46))
    }.toArray
    Dims(ref, pool, ld, numts)
  }

  def variantName(v: (Int, Char)): String = s"${v._1}${v._2}"

  /** One SAM record; `tags` in SAM text form (`NM:i:3`). */
  final case class Rec(name: String, flag: Int, ref: String, pos: Int,
      mapq: Int, pnext: Int, tlen: Int, seq: String, qual: String,
      tags: Seq[String]) {
    def samLine: String =
      s"$name\t$flag\t$ref\t$pos\t$mapq\t${ReadLen}M\t=\t$pnext\t$tlen\t" +
        s"$seq\t$qual\t${tags.mkString("\t")}"
  }

  /** The three record streams of one sample plus the names of its kept
    * (mtDNA-class) pairs. */
  final case class Sample(mtMd: Vector[Rec], nt: Vector[Rec],
      mt: Vector[Rec], kept: Set[String])

  def sample(seed: Long, shape: Shape, d: Dims, idx: Int): Sample = {
    val rnd = new Random(seed * 1000003L + idx * 31L + 17)
    val mtMd = Vector.newBuilder[Rec]
    val nt = Vector.newBuilder[Rec]
    val mt = Vector.newBuilder[Rec]
    val kept = Set.newBuilder[String]
    def qual(): String = {
      val q = new Array[Char](ReadLen)
      var i = 0
      while (i < ReadLen) {
        val u = rnd.nextInt(100)
        q(i) = if (u < 85) 'F' else if (u < 95) ':' else if (u < 99) ',' else '#'
        i += 1
      }
      new String(q)
    }
    // substitutions of a mate starting at 1-based `start`: (offset, base),
    // each a known variant with probability PoolFrac when one is left
    def subs(start: Int): Seq[(Int, Char)] = {
      val k = rnd.nextInt(shape.maxSubs + 1)
      val known = rnd.shuffle(d.pool.iterator
        .filter(v => v._1 >= start && v._1 < start + ReadLen)
        .map(v => (v._1 - start, v._2)).toVector)
      val out = scala.collection.mutable.LinkedHashMap.empty[Int, Char]
      var next = 0
      while (out.size < k) {
        if (next < known.length && rnd.nextDouble() < PoolFrac) {
          out.getOrElseUpdate(known(next)._1, known(next)._2); next += 1
        } else {
          val o = rnd.nextInt(ReadLen)
          val r = d.ref(start + o - 1)
          out.getOrElseUpdate(o, Bases.filter(_ != r)(rnd.nextInt(3)))
        }
      }
      out.toSeq
    }
    // (real sequence, calmd -e sequence, MD, NM)
    def mate(start: Int): (String, String, String, Int) = {
      val s = subs(start).sortBy(_._1)
      val real = new Array[Char](ReadLen)
      val eq = Array.fill(ReadLen)('=')
      var i = 0
      while (i < ReadLen) { real(i) = d.ref(start + i - 1); i += 1 }
      val md = new StringBuilder
      var last = 0
      s.foreach { case (o, b) =>
        md.append(o - last).append(d.ref(start + o - 1))
        real(o) = b; eq(o) = b; last = o + 1
      }
      md.append(ReadLen - last)
      (new String(real), new String(eq), md.toString, s.length)
    }
    var j = 0
    while (j < shape.pairs) {
      val name = f"S${idx}%02d.r$j%07d"
      val numt = rnd.nextDouble() < NumtFrac
      if (!numt) kept += name
      val p1 = 1 + rnd.nextInt(MtLen - 3 * ReadLen - 200)
      val p2 = p1 + 50 + rnd.nextInt(150)
      val tlen = p2 + ReadLen - p1
      val m1 = mate(p1); val m2 = mate(p2)
      val q1 = qual(); val q2 = qual()
      val mq = 50 + rnd.nextInt(11)
      def mtRec(flag: Int, pos: Int, pn: Int, tl: Int,
          m: (String, String, String, Int), q: String, calmd: Boolean) =
        Rec(name, flag, "chrM", pos, mq, pn, tl, if (calmd) m._2 else m._1, q,
          Seq(s"NM:i:${m._4}", "NH:i:1", s"MD:Z:${m._3}"))
      val secondary = rnd.nextDouble() < SecondaryFrac
      val ps = 1 + rnd.nextInt(MtLen - ReadLen)
      for (calmd <- Seq(true, false)) {
        val b = if (calmd) mtMd else mt
        b += mtRec(99, p1, p2, tlen, m1, q1, calmd)
        b += mtRec(147, p2, p1, -tlen, m2, q2, calmd)
        if (secondary) b += mtRec(256 | 99, ps, p2, 0, m1, q1, calmd)
      }
      // nuclear alignments of the same pair
      val (chrom, n1) =
        if (numt) {
          val iv = d.numts(rnd.nextInt(d.numts.length))
          (iv.chrom, iv.start + rnd.nextInt(iv.end - iv.start - 2 * ReadLen - 200))
        } else {
          var c = Nuclear(rnd.nextInt(Nuclear.length))
          var p = 1 + rnd.nextInt(c._2 - 1000)
          while (d.numts.exists(iv => iv.chrom == c._1 &&
              p <= iv.end && p + 600 >= iv.start)) {
            c = Nuclear(rnd.nextInt(Nuclear.length))
            p = 1 + rnd.nextInt(c._2 - 1000)
          }
          (c._1, p)
        }
      val n2 = n1 + (p2 - p1)
      val (ntMq, ntNh) = if (numt) (40 + rnd.nextInt(21), 1) else (rnd.nextInt(6), 2 + rnd.nextInt(2))
      def ntNm(): Int = if (numt) rnd.nextInt(3) else 6 + rnd.nextInt(7)
      nt += Rec(name, 99, chrom, n1, ntMq, n2, tlen, m1._1, q1,
        Seq(s"NM:i:${ntNm()}", s"NH:i:$ntNh"))
      nt += Rec(name, 147, chrom, n2, ntMq, n1, -tlen, m2._1, q2,
        Seq(s"NM:i:${ntNm()}", s"NH:i:$ntNh"))
      j += 1
    }
    Sample(mtMd.result(), nt.result(), mt.result(), kept.result())
  }

  def header: String =
    "@HD\tVN:1.6\tSO:unsorted\n" +
      Contigs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString +
      "@RG\tID:bench\tSM:bench\n"

  def expected(s: Sample): Expected = {
    val out = s.mt.filter(r => s.kept.contains(r.name))
    Expected(out.length.toLong, out.map(checksumOf).sum)
  }

  /** Share of the hash space summed per record: 1e6 records stay far from
    * Long overflow. Matches [[Check.checksumColumn]]. */
  val HashMod: Long = 1L << 40

  /** Spark's `xxhash64(readName, flag, start, cigar, sequence, qual)`,
    * reduced mod [[HashMod]]. */
  def checksumOf(r: Rec): Long = {
    def s(v: String, seed: Long) =
      XxHash64Function.hash(UTF8String.fromString(v), StringType, seed)
    var h = 42L
    h = s(r.name, h)
    h = XxHash64Function.hash(r.flag, IntegerType, h)
    h = XxHash64Function.hash(r.pos, IntegerType, h)
    h = s(s"${ReadLen}M", h)
    h = s(r.seq, h)
    h = s(r.qual, h)
    java.lang.Math.floorMod(h, HashMod)
  }

  /** Writes a whole input set into `dir` (atomically: a temp directory is
    * renamed into place) and returns the per-sample oracle. A finished set
    * is reused, so a (seed, shape) pair is synthesized once. */
  def ensure(dir: File, seed: Long, shape: Shape): Seq[Expected] = {
    val oracle = new File(dir, "oracle.tsv")
    if (!oracle.exists()) {
      val tmp = new File(dir.getPath + s".tmp${ProcessHandle.current().pid()}")
      deleteRecursively(tmp)
      tmp.mkdirs()
      write(tmp, seed, shape)
      deleteRecursively(dir)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    readOracle(oracle)
  }

  def write(dir: File, seed: Long, shape: Shape): Unit = {
    val d = dims(seed)
    writeText(new File(dir, "ld.tsv"), d.ld.iterator.map { case (a, b, r) =>
      s"${variantName(d.pool(a))}\t${variantName(d.pool(b))}\t$r"
    })
    writeText(new File(dir, "numt.tsv"), d.numts.iterator.map(iv =>
      s"${iv.chrom}\t${iv.start}\t${iv.end}\t${iv.score}"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val oracle = (0 until shape.samples).map { i =>
        val s = sample(seed, shape, d, i)
        val futures = Seq("MT_MD" -> s.mtMd, "NT" -> s.nt, "MT" -> s.mt).map {
          case (part, recs) => pool.submit(new Runnable {
            def run(): Unit = {
              val f = new File(dir, s"S${i}_$part" + (if (shape.bam) ".bam" else ".sam.gz"))
              if (shape.bam) writeBam(f, recs) else writeSamGz(f, recs)
            }
          })
        }
        futures.foreach(_.get())
        expected(s)
      }
      writeText(new File(dir, "oracle.tsv"),
        oracle.iterator.map(e => s"${e.records}\t${e.checksum}"))
    } finally pool.shutdownNow()
  }

  def readOracle(f: File): Seq[Expected] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, c) = l.split("\t"); Expected(n.toLong, c.toLong)
    }.toVector
    finally src.close()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private def writeText(f: File, lines: Iterator[String]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  // ------------------------------------------------------------ BGZF / BAM

  /** BGZF writer (SAM/BAM spec §4.1): ≤ 64 KiB members with the `BC`
    * extra field, then the 28-byte EOF member. */
  final class Bgzf(out: OutputStream) extends OutputStream {
    private val Block = 0xff00
    private val buf = new Array[Byte](Block)
    private var n = 0
    private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private val cbuf = new Array[Byte](Block + 1024)
    private val crc = new CRC32

    override def write(b: Int): Unit = {
      if (n == Block) flushBlock()
      buf(n) = b.toByte; n += 1
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off; var left = len
      while (left > 0) {
        if (n == Block) flushBlock()
        val k = math.min(left, Block - n)
        System.arraycopy(b, o, buf, n, k)
        n += k; o += k; left -= k
      }
    }
    private def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    private def le32(v: Int): Unit = { le16(v & 0xffff); le16(v >>> 16) }
    private def flushBlock(): Unit = if (n > 0) {
      deflater.reset(); deflater.setInput(buf, 0, n); deflater.finish()
      var clen = 0
      while (!deflater.finished()) clen += deflater.deflate(cbuf, clen, cbuf.length - clen)
      crc.reset(); crc.update(buf, 0, n)
      out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 4, 0, 0, 0, 0, 0, 0xff.toByte, 6, 0, 'B', 'C', 2, 0))
      le16(clen + 25)
      out.write(cbuf, 0, clen)
      le32(crc.getValue.toInt)
      le32(n)
      n = 0
    }
    override def close(): Unit = {
      flushBlock()
      deflater.end()
      out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 4, 0, 0, 0, 0, 0, 0xff.toByte, 6, 0,
        'B', 'C', 2, 0, 0x1b, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      out.close()
    }
  }

  def writeSamGz(f: File, recs: Seq[Rec]): Unit = {
    val z = new Bgzf(new BufferedOutputStream(new FileOutputStream(f), 1 << 16))
    try {
      z.write(header.getBytes(US_ASCII))
      recs.foreach(r => z.write((r.samLine + "\n").getBytes(US_ASCII)))
    } finally z.close()
  }

  private val SeqCode: Map[Char, Int] = "=ACMGRSVTWYHKDBN".zipWithIndex.toMap

  /** htslib `reg2bin` for a 0-based half-open interval. */
  def reg2bin(beg: Int, endExcl: Int): Int = {
    val end = endExcl - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  def writeBam(f: File, recs: Seq[Rec]): Unit = {
    val refId = Contigs.map(_._1).zipWithIndex.toMap
    val z = new Bgzf(new BufferedOutputStream(new FileOutputStream(f), 1 << 16))
    val b = new ByteArrayOutputStream(1024)
    def i8(v: Int): Unit = b.write(v & 0xff)
    def i16(v: Int): Unit = { i8(v); i8(v >>> 8) }
    def i32(v: Int): Unit = { i16(v & 0xffff); i16(v >>> 16) }
    def flush(): Unit = { z.write(b.toByteArray); b.reset() }
    try {
      val text = header.getBytes(US_ASCII)
      b.write("BAM\u0001".getBytes(US_ASCII)); i32(text.length); b.write(text)
      i32(Contigs.length)
      Contigs.foreach { case (n, l) =>
        i32(n.length + 1); b.write(n.getBytes(US_ASCII)); i8(0); i32(l)
      }
      flush()
      recs.foreach { r =>
        val rec = new ByteArrayOutputStream(512)
        def r8(v: Int): Unit = rec.write(v & 0xff)
        def r16(v: Int): Unit = { r8(v); r8(v >>> 8) }
        def r32(v: Int): Unit = { r16(v & 0xffff); r16(v >>> 16) }
        val pos0 = r.pos - 1
        val rid = refId(r.ref)
        r32(rid); r32(pos0)
        r8(r.name.length + 1); r8(r.mapq)
        r16(reg2bin(pos0, pos0 + ReadLen))
        r16(1); r16(r.flag)
        r32(ReadLen); r32(rid); r32(r.pnext - 1); r32(r.tlen)
        rec.write(r.name.getBytes(US_ASCII)); r8(0)
        r32(ReadLen << 4) // 150M
        var i = 0
        while (i < ReadLen) {
          r8((SeqCode(r.seq.charAt(i)) << 4) | SeqCode(r.seq.charAt(i + 1)))
          i += 2
        }
        i = 0
        while (i < ReadLen) { r8(r.qual.charAt(i) - 33); i += 1 }
        r.tags.foreach { t =>
          val Array(tag, typ, v) = t.split(":", 3)
          rec.write(tag.getBytes(US_ASCII))
          if (typ == "i") { r8('C'); r8(v.toInt) }
          else { r8('Z'); rec.write(v.getBytes(US_ASCII)); r8(0) }
        }
        val bytes = rec.toByteArray
        i32(bytes.length); b.write(bytes)
        if (b.size() > (1 << 16)) flush()
      }
      flush()
    } finally z.close()
  }
}
