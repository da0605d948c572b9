package graft.sources

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

/** Minimal ZIP central-directory reader over the Hadoop `FileSystem` API.
  *
  * `java.util.zip.ZipFile` needs a LOCAL file path, which limits a
  * connector to local filesystems; on HDFS/S3 the right access pattern is
  * the one the format was designed for — the central directory sits at
  * the END of the archive, so listing is two range reads (tail + CD
  * block) and each member fetch is one positioned read of exactly its
  * compressed bytes. That is the object-store story: a 1-million-member
  * archive lists with ~2 GETs, and a task that owns 5 members reads only
  * those 5 byte ranges.
  *
  * Layout per the public PKWARE APPNOTE (the ZIP specification):
  *   - End-of-central-directory record (EOCD, sig 0x06054b50) within the
  *     last 22 + 65535 bytes; carries entry count, CD size, CD offset.
  *   - ZIP64: when any EOCD field saturates (0xFFFF / 0xFFFFFFFF), the
  *     ZIP64 EOCD locator (sig 0x07064b50) immediately precedes the EOCD
  *     and points at the ZIP64 EOCD record (sig 0x06064b50) with 64-bit
  *     counts/offsets — archives past 4 GiB or 65535 members.
  *   - Central file header (sig 0x02014b50) per member: method, sizes,
  *     local-header offset, name; 64-bit values live in the 0x0001
  *     "extra" field when the 32-bit slots saturate.
  *   - Member data starts after its LOCAL header (sig 0x04034b50), whose
  *     name/extra lengths can differ from the central ones — the data
  *     offset must be computed from the local header, not assumed.
  *
  * Multi-disk (spanned) archives are rejected; methods other than STORED
  * (0) and DEFLATE (8) are surfaced to the caller, who decides whether to
  * skip or raise (the connector's `errors` option semantics).
  *
  * Positioned reads (`readFully(pos, buf)`) never move the stream cursor
  * and are safe to interleave, so one open `FSDataInputStream` per
  * archive serves a whole task's members.
  */
private[graft] object HadoopZip {

  /** One central-directory member: everything a split planner and a
    * range-reading fetcher need. `dataOffset` is resolved lazily (from
    * the local header) by [[readEntry]], not stored here, because the
    * central directory alone does not determine it.
    */
  final case class Entry(name: String, method: Int, compressedSize: Long,
      uncompressedSize: Long, localHeaderOffset: Long)

  private val EocdSig = 0x06054b50L
  private val Eocd64LocatorSig = 0x07064b50L
  private val Eocd64Sig = 0x06064b50L
  private val CenSig = 0x02014b50L
  private val LocSig = 0x04034b50L

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (u16(b, i).toLong) | (u16(b, i + 2).toLong << 16)
  private def u64(b: Array[Byte], i: Int): Long =
    u32(b, i) | (u32(b, i + 4) << 32)

  /** List the central directory of `path` with two positioned reads. */
  def listEntries(fs: FileSystem, path: Path): Seq[Entry] = {
    val len = fs.getFileStatus(path).getLen
    require(len >= 22, s"$path: too short to be a zip archive ($len bytes)")
    val in = fs.open(path)
    try listEntries(in, len, path.toString)
    finally in.close()
  }

  private[sources] def listEntries(in: FSDataInputStream, len: Long,
      label: String): Seq[Entry] = {
    // tail window: EOCD (22) + max comment (65535) + zip64 locator (20)
    val tailLen = math.min(len, 22L + 65535L + 20L).toInt
    val tail = new Array[Byte](tailLen)
    in.readFully(len - tailLen, tail)

    // scan backward for the EOCD signature (a comment could contain the
    // byte pattern, but scanning from the end finds the real record first
    // in every archive a writer actually produces)
    var e = tailLen - 22
    while (e >= 0 && u32(tail, e) != EocdSig) e -= 1
    require(e >= 0, s"$label: no end-of-central-directory record found")

    var nEntries: Long = u16(tail, e + 10).toLong
    var cdSize: Long = u32(tail, e + 12)
    var cdOffset: Long = u32(tail, e + 16)
    val diskNum = u16(tail, e + 4)
    require(diskNum == 0 && u16(tail, e + 6) == 0,
      s"$label: spanned (multi-disk) archives are not supported")

    if (nEntries == 0xffff || cdSize == 0xffffffffL ||
        cdOffset == 0xffffffffL) {
      // ZIP64: locator directly precedes the EOCD. Per APPNOTE, a
      // saturated 16/32-bit value only MAY indicate ZIP64 — Info-ZIP and
      // Python's zipfile write ZIP64 records when a value EXCEEDS the
      // field, so a valid archive with exactly 65535 members (or a CD
      // landing at exactly 0xFFFFFFFF) carries no locator; when the
      // locator is absent the saturated values are the true values.
      val loc = e - 20
      if (loc >= 0 && u32(tail, loc) == Eocd64LocatorSig) {
        val eocd64Off = u64(tail, loc + 8)
        val rec = new Array[Byte](56)
        in.readFully(eocd64Off, rec)
        require(u32(rec, 0) == Eocd64Sig,
          s"$label: bad ZIP64 EOCD signature")
        nEntries = u64(rec, 32)
        cdSize = u64(rec, 40)
        cdOffset = u64(rec, 48)
      }
    }

    require(cdSize <= Int.MaxValue,
      s"$label: central directory too large to buffer ($cdSize bytes)")
    val cd = new Array[Byte](cdSize.toInt)
    in.readFully(cdOffset, cd)

    val out = Vector.newBuilder[Entry]
    var p = 0
    var i = 0L
    while (i < nEntries) {
      require(p + 46 <= cd.length && u32(cd, p) == CenSig,
        s"$label: corrupt central file header at CD offset $p")
      val method = u16(cd, p + 10)
      var comp: Long = u32(cd, p + 20)
      var uncomp: Long = u32(cd, p + 24)
      val nameLen = u16(cd, p + 28)
      val extraLen = u16(cd, p + 30)
      val commentLen = u16(cd, p + 32)
      var lho: Long = u32(cd, p + 42)
      val name = new String(cd, p + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      // ZIP64 extra field 0x0001: 8-byte values appear IN ORDER for each
      // saturated fixed-width slot (uncompressed, compressed, offset)
      var x = p + 46 + nameLen
      val xEnd = x + extraLen
      while (x + 4 <= xEnd) {
        val id = u16(cd, x); val sz = u16(cd, x + 2)
        if (id == 0x0001) {
          var v = x + 4
          if (uncomp == 0xffffffffL && v + 8 <= x + 4 + sz) {
            uncomp = u64(cd, v); v += 8
          }
          if (comp == 0xffffffffL && v + 8 <= x + 4 + sz) {
            comp = u64(cd, v); v += 8
          }
          if (lho == 0xffffffffL && v + 8 <= x + 4 + sz) {
            lho = u64(cd, v); v += 8
          }
        }
        x += 4 + sz
      }
      out += Entry(name, method, comp, uncomp, lho)
      p += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    out.result()
  }

  /** Fetch and decode one member: [[readStored]] then [[decodeStored]]. */
  def readEntry(in: FSDataInputStream, e: Entry): Array[Byte] =
    decodeStored(e, readStored(in, e))

  /** Fetch one member's stored bytes with positioned reads: local header
    * (30 bytes + its name/extra) to locate the data, then exactly
    * `compressedSize` bytes. The stream cursor is never moved, so callers
    * share one stream across members. This is the I/O half of a member
    * read; a local header that disagrees with the central directory means
    * the archive changed under the listing and fails here too.
    */
  def readStored(in: FSDataInputStream, e: Entry): Array[Byte] = {
    require(e.compressedSize <= Int.MaxValue && e.uncompressedSize <= Int.MaxValue,
      s"zip member too large to buffer: ${e.name} " +
        s"(${e.compressedSize} -> ${e.uncompressedSize} bytes)")
    val hdr = new Array[Byte](30)
    in.readFully(e.localHeaderOffset, hdr)
    require(u32(hdr, 0) == LocSig,
      s"bad local header signature for zip member ${e.name}")
    val dataOff = e.localHeaderOffset + 30 + u16(hdr, 26) + u16(hdr, 28)
    val comp = new Array[Byte](e.compressedSize.toInt)
    in.readFully(dataOff, comp)
    comp
  }

  /** The in-memory half of a member read: the stored bytes as-is, or
    * inflated when the member is DEFLATE-compressed.
    */
  def decodeStored(e: Entry, comp: Array[Byte]): Array[Byte] =
    e.method match {
      case 0 => comp // STORED
      case 8 => // DEFLATE (raw, no zlib wrapper)
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(comp)
          val out = new Array[Byte](e.uncompressedSize.toInt)
          var n = 0
          while (n < out.length && !inf.finished()) {
            val k = inf.inflate(out, n, out.length - n)
            require(k > 0 || !inf.needsInput(),
              s"truncated deflate stream in zip member ${e.name}")
            n += k
          }
          require(n == out.length,
            s"zip member ${e.name}: inflated $n of ${out.length} bytes")
          out
        } finally inf.end()
      case m => throw new UnsupportedOperationException(
        s"zip member ${e.name}: unsupported compression method $m")
    }
}
