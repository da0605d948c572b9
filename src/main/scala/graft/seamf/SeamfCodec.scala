package graft.seamf

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.security.MessageDigest
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.tukaani.xz.{BasicArrayCache, LZMA2Options, XZInputStream, XZOutputStream}

/** seamf container codec: tar member extraction, XZ (LZMA) payload
  * decompression, SHA-512 integrity.
  *
  * Mirrors `read_seamf`'s container handling
  * (/root/reference/src/sea_ingest/seamf.py:981-1070): a `.sigmf` file is an
  * uncompressed tar holding `<name>.sigmf-meta` (JSON) and
  * `<name>.sigmf-data` (XZ-compressed little-endian float16 vector); the
  * declared `core:sha512` is the digest of the *compressed* payload
  * (seamf.py:1021-1024). XZ support comes from commons-compress + the
  * org.tukaani.xz backend, both shipped with Spark.
  */
object SeamfCodec {

  final case class RawSeamf(name: String, metaJson: String,
      compressedPayload: Array[Byte])

  /** Extract the meta JSON and compressed payload members from a .sigmf tar.
    * (tar open: seamf.py:1008-1016)
    */
  def unpackTar(bytes: Array[Byte]): RawSeamf = {
    val tin = new TarArchiveInputStream(new ByteArrayInputStream(bytes))
    var meta: Option[String] = None
    var data: Option[Array[Byte]] = None
    var name = ""
    var entry = tin.getNextEntry
    while (entry != null) {
      if (entry.isFile) {
        val buf = tin.readAllBytes()
        if (entry.getName.endsWith(".sigmf-meta")) {
          meta = Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
          name = entry.getName.stripSuffix(".sigmf-meta")
        } else if (entry.getName.endsWith(".sigmf-data")) {
          data = Some(buf)
        }
      }
      entry = tin.getNextEntry
    }
    RawSeamf(name,
      meta.getOrElse(throw new IllegalArgumentException("no .sigmf-meta member")),
      data.getOrElse(throw new IllegalArgumentException("no .sigmf-data member")))
  }

  /** Memory cap of one XZ decoder, in KiB: admits every preset `xz` and
    * `lzma` can write (preset 9 needs about 65 MiB), so a block header that
    * declares a huge dictionary fails with `MemoryLimitException` before
    * anything is allocated instead of exhausting the heap.
    */
  val XzMemoryLimitKiB: Int = 128 * 1024

  /** XZ-decompress (the dominant ingest cost, per seamf.py:1038-1040).
    * Decoders draw their LZMA dictionary (8 MiB for preset-6 files) from
    * xz-java's shared `BasicArrayCache` and return it on `close`, so a task
    * decoding many files allocates the dictionary once, not once per file.
    */
  def xzDecompress(bytes: Array[Byte]): Array[Byte] = {
    val in = new XZInputStream(new ByteArrayInputStream(bytes),
      XzMemoryLimitKiB, BasicArrayCache.getInstance())
    try in.readAllBytes() finally in.close()
  }

  /** XZ-compress (fixture generation). */
  def xzCompress(bytes: Array[Byte], preset: Int = 1): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new XZOutputStream(bos, new LZMA2Options(preset))
    out.write(bytes); out.finish(); out.close()
    bos.toByteArray
  }

  /** Build a zip archive from (name, bytes) members (fixtures). */
  def packZip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    members.foreach { case (name, data) =>
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(data)
      zout.closeEntry()
    }
    zout.close()
    bos.toByteArray
  }

  def sha512Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-512").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Integrity check of the compressed payload vs the declared digest
    * (seamf.py:1021-1024). Returns whether it matched.
    */
  def checkSha512(meta: SeamfMetadata.SeamfMeta, compressed: Array[Byte]): Boolean =
    meta.sha512Hex.forall(_.equalsIgnoreCase(sha512Hex(compressed)))

  /** Build a .sigmf tar from members (fixture generation). */
  def packTar(name: String, metaJson: String, compressedPayload: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val tout = new TarArchiveOutputStream(bos)
    tout.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    def put(entryName: String, data: Array[Byte]): Unit = {
      val e = new TarArchiveEntry(entryName)
      e.setSize(data.length)
      tout.putArchiveEntry(e)
      tout.write(data)
      tout.closeArchiveEntry()
    }
    put(s"$name/$name.sigmf-meta",
      metaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    put(s"$name/$name.sigmf-data", compressedPayload)
    tout.close()
    bos.toByteArray
  }
}
