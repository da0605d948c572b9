package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import graft.seamf.{HalfFloat, SeamfCodec, SeamfFixtures, SeamfMetadata, SeamfReader}

/** Single-thread per-layer profile of the seamf decode, timed from outside
  * by calling each layer's public function in turn on a fixed file sample:
  * file read, tar unpack, metadata parse, SHA-512, XZ inflate, float16
  * widening, and the whole `SeamfReader.decodeFile`, whose remainder is the
  * row build's self time. Runs for two payload kinds: the realistic noise
  * floor and the periodic payload of `SeamfFixtures.sharedBenchArchive`.
  */
object Profile {
  val SampleFiles = 12
  val Reps = 3
  val Stages: Seq[String] = Seq("seamf.io.read_ms", "seamf.codec.tar_ms",
    "seamf.metadata.parse_ms", "seamf.codec.sha512_ms", "seamf.codec.xz_ms",
    "seamf.halffloat.widen_ms", "seamf.reader.decode_file_ms", "seamf.reader.rowbuild_ms")

  final case class Result(metrics: Map[String, Double], error: Option[String])

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Profile `files`; `expectedHash` gives the trace-hash truth when known. */
  def run(files: Seq[Path], expectedHash: Map[String, Long]): Result = {
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var compressed, inflated = 0L
    var error: Option[String] = None
    def once(p: Path, record: Boolean): Unit = {
      val t0 = System.nanoTime()
      val bytes = Files.readAllBytes(p)
      val t1 = System.nanoTime()
      val raw = SeamfCodec.unpackTar(bytes)
      val t2 = System.nanoTime()
      val meta = SeamfMetadata.parse(raw.metaJson, None)
      val t3 = System.nanoTime()
      val shaOk = SeamfCodec.checkSha512(meta, raw.compressedPayload)
      val t4 = System.nanoTime()
      val payload = SeamfCodec.xzDecompress(raw.compressedPayload)
      val t5 = System.nanoTime()
      val floats = HalfFloat.decodeVector(payload)
      val t6 = System.nanoTime()
      val d = SeamfReader.decodeFile(p.toString, bytes, None,
        decodePayload = true, checkHash = true)
      val t7 = System.nanoTime()
      if (record) {
        val stage = Seq(ms(t0, t1), ms(t1, t2), ms(t2, t3), ms(t3, t4), ms(t4, t5),
          ms(t5, t6), ms(t6, t7), ms(t6, t7) - ms(t1, t6))
        Stages.zip(stage).foreach { case (k, v) =>
          samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
        compressed += raw.compressedPayload.length
        inflated += payload.length
      }
      val hashSum = d.traces.map { t =>
        t.trace.foldLeft(Sweeps.TraceHashSeed)((h, v) => Sweeps.traceHashStep(v, h)).toLong
      }.sum
      val name = p.getFileName.toString.stripSuffix(".sigmf")
      if (!shaOk || d.traces.size != 187 || floats.length < meta.requiredLength ||
          expectedHash.get(name).exists(_ != hashSum))
        error = Some(s"profile decode of $name: sha $shaOk, ${d.traces.size} traces, hash $hashSum")
    }
    files.foreach(once(_, record = false))
    files.foreach(once(_, record = false))
    (0 until Reps).foreach(_ => files.foreach(once(_, record = true)))
    val n = (Reps * files.size).toDouble
    Result(samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ Map(
      "seamf.codec.compressed_bytes" -> compressed / n,
      "seamf.codec.inflated_bytes" -> inflated / n,
      "seamf.codec.ratio" -> inflated.toDouble / compressed), error)
  }

  /** Both payload kinds; the periodic kind's keys carry a `seamf.fixture.` prefix. */
  def both(work: Path, seed: Long): Result = {
    val dir = work.resolve("profile")
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val sweeps = Sweeps.buildAll(seed + 7, Sweeps.schedule(rng, SampleFiles,
      Workload.startUs(rng)), threads = 1)
    Sweeps.writeLoose(dir, sweeps)
    val real = run(sweeps.map(s => dir.resolve(s.truth.name + ".sigmf")),
      sweeps.map(s => s.truth.name -> s.truth.checksum).toMap)
    val fixtureDir = Paths.get(SeamfFixtures.sharedBenchArchive())
    val fixtureFiles = Files.list(fixtureDir).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".sigmf")).sortBy(_.toString).take(SampleFiles).toSeq
    val periodic = run(fixtureFiles, Map.empty)
    Result(real.metrics ++ periodic.metrics.map { case (k, v) =>
      k.replaceFirst("^seamf\\.", "seamf.fixture.") -> v }, real.error.orElse(periodic.error))
  }
}
