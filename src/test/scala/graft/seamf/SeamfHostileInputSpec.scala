package graft.seamf

import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.tukaani.xz.MemoryLimitException

import graft.SparkSpec

/** Input the seamf connector must survive without hiding it: an XZ
  * payload that declares a huge LZMA dictionary (a content error: bounded
  * by the decoder's memory limit, skipped in log mode, raised in raise
  * mode, never an OOM), and an archive that vanishes or shrinks between
  * planning and reading (an I/O error: the task fails even in log mode,
  * so Spark retries it instead of returning fewer rows).
  */
class SeamfHostileInputSpec extends SparkSpec {

  /** `xz` with the first block's LZMA2 dictionary-size byte replaced by
    * `dictByte` and the block header's CRC32 recomputed, so the only
    * defect is the declared dictionary (xz file format 1.0.4, §3.1).
    */
  private def declareDict(xz: Array[Byte], dictByte: Int): Array[Byte] = {
    val out = xz.clone()
    val h = 12 // stream header
    val size = ((out(h) & 0xff) + 1) * 4
    val flags = out(h + 1) & 0xff
    var p = h + 2
    def skipVli(): Unit = { while ((out(p) & 0x80) != 0) p += 1; p += 1 }
    if ((flags & 0x40) != 0) skipVli() // compressed size
    if ((flags & 0x80) != 0) skipVli() // uncompressed size
    assert(out(p) == 0x21 && out(p + 1) == 1, "first filter is not LZMA2")
    out(p + 2) = dictByte.toByte
    val crc = new java.util.zip.CRC32()
    crc.update(out, h, size - 4)
    java.nio.ByteBuffer.wrap(out, h + size - 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt)
    out
  }

  // dictionary byte b declares (2 | (b & 1)) << (b / 2 + 11) bytes
  private val OneAndAHalfGiB = 37
  private val SixtyFourMiB = 28 // what preset 9 writes

  private def payload: Array[Byte] =
    HalfFloat.encodeVector(SeamfFixtures.buildPayload(2, SeamfFixtures.Shape()))

  test("the XZ decoder refuses a >1 GiB declared dictionary before " +
      "allocating it, and still admits preset 9's 64 MiB") {
    val xz = SeamfCodec.xzCompress(payload, preset = 6)
    intercept[MemoryLimitException] {
      SeamfCodec.xzDecompress(declareDict(xz, OneAndAHalfGiB))
    }
    assert(SeamfCodec.xzDecompress(declareDict(xz, SixtyFourMiB)).toSeq ===
      payload.toSeq)
    assert(SeamfCodec.xzDecompress(xz).toSeq === payload.toSeq)
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec in ${df.queryExecution.executedPlan}"))

  test("a sweep whose XZ block declares a >1 GiB dictionary is a counted " +
      "skip in log mode and a job failure in raise mode") {
    val dir = Files.createTempDirectory("graft_seamf_xz_dict")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    SeamfFixtures.writeSweep(dir, 0, t0, nChannels = 2)
    // a valid sha512 over the patched bytes: XZ is the only failing layer
    val bomb = declareDict(SeamfCodec.xzCompress(payload), OneAndAHalfGiB)
    val meta = SeamfFixtures.buildMetaJson(1, t0 + 90L * 1000000L, 2,
      SeamfFixtures.Shape(), SeamfCodec.sha512Hex(bomb))
    Files.write(dir.resolve("synthetic_sweep_00001.sigmf"),
      SeamfCodec.packTar("synthetic_sweep_00001", meta, bomb))

    val logged = spark.read.format("seamf").load(dir.toString)
      .select("file", "trace")
    val rows = logged.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0).endsWith("00000.sigmf")))
    val scan = scanOf(logged)
    assert(scan.metrics("seamfSkippedFiles").value === 1)
    assert(scan.metrics("seamfDecodedFiles").value === 1)

    val raised = spark.read.format("seamf").option("errors", "raise")
      .load(dir.toString).select("trace")
    val ex = intercept[SparkException](raised.collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[MemoryLimitException]),
      s"expected the XZ memory limit in: ${causes(ex)}")
  }

  /** A planned zip scan in the default `errors=log` mode; `damage` runs on
    * the archive after planning (listing and central directory read) and
    * before the tasks fetch members.
    */
  private def planThenDamage(damage: Path => Unit): DataFrame = {
    val dir = Files.createTempDirectory("graft_seamf_io_fail")
    val zip = SeamfFixtures.writeZipArchive(dir.toString)
    val df = spark.read.format("seamf").load(dir.toString)
      .select("file", "table", "trace")
    assert(scanOf(df).inputPartitions.nonEmpty)
    damage(zip)
    df
  }

  test("an archive deleted after planning fails the job in log mode " +
      "(an I/O error is not a corrupt file)") {
    val df = planThenDamage(Files.delete)
    intercept[SparkException](df.collect())
  }

  test("an archive truncated after planning fails the job in log mode " +
      "instead of returning fewer rows") {
    val df = planThenDamage { zip =>
      val f = new java.io.RandomAccessFile(zip.toFile, "rw")
      try f.setLength(64) finally f.close()
    }
    intercept[SparkException](df.collect())
  }

  test("content errors stay skips: the corrupt-sha zip member is counted, " +
      "the others decode") {
    val dir = Files.createTempDirectory("graft_seamf_zip_ok")
    SeamfFixtures.writeZipArchive(dir.toString)
    val df = spark.read.format("seamf").load(dir.toString).select("file")
    val files = df.collect().map(_.getString(0)).distinct
    assert(files.length === 3) // 4 members, one with a poisoned sha512
    assert(scanOf(df).metrics("seamfSkippedFiles").value === 1)
  }
}
