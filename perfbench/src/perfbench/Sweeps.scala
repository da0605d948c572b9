package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import graft.seamf.{HalfFloat, SeamfCodec, SeamfFixtures}

/** Seeded realistic-entropy sweep generator.
  *
  * A sweep has the reference shape (17 channels; per channel 2x625 PSD,
  * 2x400 PVT, 6x560 PFP and 151 APD cells). Every dB trace is a float16
  * Gaussian noise floor with sigma = 3 dB around a per-product level, so
  * the XZ payload compresses about 1.8:1 like sensor data does, not 77:1
  * like the periodic `SeamfFixtures` payload. The files are built only with
  * the engine's public writers (`HalfFloat.encodeVector`,
  * `SeamfCodec.xzCompress`, `SeamfFixtures.buildMetaJson`,
  * `SeamfCodec.packTar`); the truth is computed from the generated floats
  * with an independent float16 conversion.
  */
object Sweeps {
  val Shape = SeamfFixtures.Shape(625, 400, 560, 151)
  val Channels = 17
  val CadenceUs = 90L * 1000000L
  /** table index of each of the 11 traces of a capture, in payload order */
  private val TraceTable = Array(0, 0, 1, 1, 2, 2, 2, 2, 2, 2, 3)
  private val TraceLen = Array(625, 625, 400, 400, 560, 560, 560, 560, 560, 560, 151)
  val SlotsPerTable: Map[String, Int] = Map("psd" -> 2, "pvt" -> 2, "pfp" -> 6, "apd" -> 1)

  /** Channel centre frequency as `SeamfFixtures.buildMetaJson` writes it. */
  def frequency(channel: Int): Double = 3.555e9 + channel * 1e7

  /** Everything the checks need to know about one generated file. */
  final case class Truth(name: String, t0Us: Long, capMax: Array[Float],
      checksum: Long, compressedBytes: Long, inflatedBytes: Long,
      fileBytes: Long) {
    def captureUs(c: Int): Long = t0Us + c * 1000000L
    def max(c: Int, table: Int): Float = capMax(c * 4 + table)
    def spanUs: (Long, Long) = (captureUs(0), captureUs(Channels - 1))
  }

  final case class Sweep(truth: Truth, bytes: Array[Byte])

  /** float16 bits to float, written independently of `HalfFloat`. */
  def halfToFloat(h: Int): Float = {
    val e = (h >>> 10) & 0x1f
    val m = h & 0x3ff
    val mag =
      if (e == 0) java.lang.Math.scalb(m.toFloat, -24)
      else if (e == 31) (if (m == 0) Float.PositiveInfinity else Float.NaN)
      else java.lang.Math.scalb((1024 + m).toFloat, e - 25)
    if ((h & 0x8000) != 0) -mag else mag
  }

  private def payload(rng: SplittableRandom): Array[Float] = {
    val out = new Array[Float](Channels * Shape.perCapture)
    var k = 0
    for (c <- 0 until Channels; t <- 0 until 11) {
      val n = TraceLen(t)
      if (t == 10) {
        // APD: exceedance probability in percent, monotone decreasing
        val v = Array.tabulate(n)(i =>
          (100.0 * math.exp(-math.pow(i / 45.0, 2)) + rng.nextGaussian() * 0.2)
            .max(0.01).min(99.99).toFloat)
        scala.util.Sorting.quickSort(v)
        var i = 0
        while (i < n) { out(k) = v(n - 1 - i); k += 1; i += 1 }
      } else {
        val level = t match {
          case 0 => -97.0 case 1 => -100.0          // PSD max / mean
          case 2 => -58.0 case 3 => -61.0           // PVT peak / rms
          case _ => -66.0 - (t - 4) * 1.5           // PFP series
        }
        val base = level - c * 0.5
        var i = 0
        while (i < n) { out(k) = (base + 3.0 * rng.nextGaussian()).toFloat; k += 1; i += 1 }
      }
    }
    out
  }

  /** The float checksum of a file is the sum, over its 187 traces, of
    * Spark's `hash(trace)` (Murmur3, seed 42, folded element by element),
    * so a query can produce it with `sum(hash(trace))` and the check covers
    * every value and its position within its trace.
    */
  val TraceHashSeed = 42
  def traceHashStep(v: Float, h: Int): Int =
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(
      if (v == -0.0f) 0 else java.lang.Float.floatToIntBits(v), h)

  /** Build one sweep file (tar bytes) and its truth. */
  def build(seed: Long, fileIdx: Int, t0Us: Long): Sweep = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + fileIdx)
    val encoded = HalfFloat.encodeVector(payload(rng))
    val compressed = SeamfCodec.xzCompress(encoded)
    val sha = SeamfCodec.sha512Hex(compressed)
    val name = f"sea_sweep_$fileIdx%05d"
    val meta = SeamfFixtures.buildMetaJson(fileIdx, t0Us, Channels, Shape, sha,
      intervalSec = CadenceUs / 1000000L)
    val tar = SeamfCodec.packTar(name, meta, compressed)

    val capMax = Array.fill(Channels * 4)(Float.NegativeInfinity)
    var checksum = 0L
    var k = 0
    for (c <- 0 until Channels; t <- 0 until 11) {
      var h = TraceHashSeed
      var i = 0
      while (i < TraceLen(t)) {
        val v = halfToFloat((encoded(2 * k) & 0xff) | ((encoded(2 * k + 1) & 0xff) << 8))
        h = traceHashStep(v, h)
        val slot = c * 4 + TraceTable(t)
        if (v > capMax(slot)) capMax(slot) = v
        k += 1; i += 1
      }
      checksum += h
    }
    Sweep(Truth(name, t0Us, capMax, checksum, compressed.length,
      encoded.length, tar.length), tar)
  }

  /** Schedule start times: 90 s cadence from `startUs` with seeded gaps
    * (about 3% of slots are skipped, one to three at a time).
    */
  def schedule(rng: SplittableRandom, n: Int, startUs: Long): Seq[Long] = {
    var slot = 0L
    (0 until n).map { i =>
      if (i > 0 && rng.nextDouble() < 0.03) slot += 1 + rng.nextInt(3)
      val t = startUs + slot * CadenceUs
      slot += 1
      t
    }
  }

  /** Build many sweeps on `threads` threads; same output for any thread count. */
  def buildAll(seed: Long, t0s: Seq[Long], threads: Int): Seq[Sweep] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = t0s.zipWithIndex.map { case (t0, i) =>
        new Callable[Sweep] { def call(): Sweep = build(seed, i, t0) }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  def writeLoose(dir: Path, sweeps: Seq[Sweep]): Unit = {
    Files.createDirectories(dir)
    sweeps.foreach(s => Files.write(dir.resolve(s.truth.name + ".sigmf"), s.bytes))
  }

  def writeZip(file: Path, sweeps: Seq[Sweep]): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, SeamfCodec.packZip(sweeps.map(s => (s.truth.name + ".sigmf", s.bytes))))
  }

  /** The truth file: each file's time span, rows per table and checksum. */
  def writeTruth(file: Path, groups: Seq[(String, Seq[Truth])]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    groups.foreach { case (container, ts) =>
      val arr = root.putArray(container)
      ts.foreach { t =>
        val o = arr.addObject()
        o.put("name", t.name)
        o.put("first_capture_us", t.spanUs._1)
        o.put("last_capture_us", t.spanUs._2)
        val rows = o.putObject("rows")
        SlotsPerTable.foreach { case (tb, n) => rows.put(tb, n * Channels) }
        o.put("trace_hash_sum", t.checksum)
        o.put("compressed_bytes", t.compressedBytes)
        o.put("inflated_bytes", t.inflatedBytes)
      }
    }
    Files.write(file, m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }
}
