package graft.sources

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.seamf.SeamfFixtures

/** How a seamf batch scan plans: slot-balanced contiguous splits
  * ([[SeamfScan.pack]]), the Hadoop conf that travels inside the reader
  * factory, and one listing and central-directory pass per query.
  */
class SeamfScanPlanSpec extends SparkSpec {

  private def entry(i: Int, size: Long): SeamfScanEntry =
    SeamfScanEntry(f"f$i%05d.sigmf", "", -1, size, size, -1L)

  private def cost(e: SeamfScanEntry): Long = e.compressedSize + SeamfScan.OpenCost

  private val Huge = 1L << 40 // a maxPartitionBytes no test listing reaches

  test("N equal entries over P slots pack into exactly min(N, P) bins " +
      "whose costs differ by at most one entry") {
    for (n <- Seq(1, 2, 3, 4, 5, 7, 24, 96, 97); p <- Seq(1, 2, 4, 5, 16)) {
      val entries = (0 until n).map(entry(_, 100000L))
      val bins = SeamfScan.pack(entries, p, Huge)
      assert(bins.length === math.min(n, p), s"n=$n p=$p")
      val costs = bins.map(_.map(cost).sum)
      assert(costs.max <= costs.min + cost(entries.head), s"n=$n p=$p")
    }
  }

  test("bins are contiguous: concatenated, they give back the listing, " +
      "and each stays within one largest entry of total/k") {
    val rng = new java.util.SplittableRandom(7)
    for (trial <- 0 until 200) {
      val n = 1 + rng.nextInt(300)
      val p = 1 + rng.nextInt(16)
      val entries = (0 until n).map(i =>
        entry(i, if (trial % 2 == 0) 10000L + rng.nextInt(190000)
                 else rng.nextLong(50L * 1000 * 1000)))
      val bins = SeamfScan.pack(entries, p, 128L * 1024 * 1024)
      assert(bins.flatten.toSeq === entries, s"trial $trial")
      assert(bins.forall(_.nonEmpty), s"trial $trial")
      val total = entries.map(cost).sum.toDouble
      val largest = entries.map(cost).max
      bins.foreach { b =>
        assert(math.abs(b.map(cost).sum - total / bins.length) <= largest,
          s"trial $trial")
      }
    }
  }

  test("maxPartitionBytes bounds the bin count from below: a 1-byte target " +
      "fans out one bin per member, a small one ceil(total / target) bins") {
    val entries = (0 until 10).map(entry(_, 1000L))
    assert(SeamfScan.pack(entries, 2, 1L).map(_.toSeq).toSeq ===
      entries.map(Seq(_)))
    val target = 3 * cost(entries.head)
    assert(SeamfScan.pack(entries, 2, target).length === 4)
  }

  test("an empty listing packs into zero bins") {
    assert(SeamfScan.pack(IndexedSeq.empty, 4, Huge).isEmpty)
  }

  test("the Hadoop conf round-trips through Java serialization key for key, " +
      "including a value over 64 KB and a non-ASCII value") {
    val conf = new Configuration()
    conf.set("graft.test.big", "v" * (70 * 1024))
    conf.set("graft.test.unicode", "Zürich · 東京 · 📡")
    conf.set("graft.test.ref", "${graft.test.unicode}/x")
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(new SerializableHadoopConf(conf))
    out.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf].value
    val keys = conf.iterator().asScala.map(_.getKey).toSeq
    assert(keys.size > 100) // the loaded defaults travel too
    keys.foreach(k => assert(back.get(k) === conf.get(k), k))
    assert(back.get("graft.test.ref") === "Zürich · 東京 · 📡/x")
  }

  test("a zip scan lists once and reads each central directory once per " +
      "query; executors open files only through the conf that travelled") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seamf_countfs")
    Seq("a.zip", "b.zip").foreach(z =>
      SeamfFixtures.writeZipArchive(dir.toString, zipName = z))
    // the scheme exists only in this session's SQL conf (which
    // `newHadoopConf` copies key for key; the SparkContext's Hadoop conf
    // never sees it), and the FileSystem cache is off, so every
    // executor-side open builds the filesystem from the conf shipped with
    // the reader factory
    val session = spark.newSession()
    session.conf.set("fs.countfs.impl", classOf[CountingFs].getName)
    session.conf.set("fs.countfs.impl.disable.cache", "true")
    CountingFs.reset()

    val row = session.read.format("seamf").load(s"countfs://${dir.toUri.getPath}")
      .agg(count(lit(1)), sum(size(col("trace")))).head()
    val expected = session.read.format("seamf").load(dir.toString)
      .agg(count(lit(1)), sum(size(col("trace")))).head()
    assert(row === expected && row.getLong(0) > 0)
    // one listing: one glob per file pattern
    Seq("*.sigmf", "*.zip").foreach { g =>
      assert(CountingFs.count(CountingFs.globs, dir.resolve(g).toString) === 1,
        s"listings of $g")
    }
    Seq("a.zip", "b.zip").foreach { z =>
      val p = dir.resolve(z).toString
      assert(CountingFs.count(CountingFs.tailReads, p) === 1,
        s"central-directory reads of $z")
      assert(CountingFs.count(CountingFs.opens, p) > 1, s"opens of $z")
    }
  }
}

/** The local filesystem under the `countfs` scheme, counting globs, opens
  * and positioned reads that end at a file's last byte (how a zip central
  * directory is read).
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def globStatus(pattern: Path): Array[FileStatus] = {
    CountingFs.bump(CountingFs.globs, pattern.toUri.getPath)
    super.globStatus(pattern)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val path = f.toUri.getPath
    CountingFs.bump(CountingFs.opens, path)
    val len = getFileStatus(f).getLen
    val in = super.open(f, bufferSize)
    new FSDataInputStream(new FSInputStream {
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = false
      override def read(): Int = in.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        in.read(b, off, len)
      override def read(position: Long, b: Array[Byte], off: Int,
          n: Int): Int = in.read(position, b, off, n)
      override def readFully(position: Long, b: Array[Byte], off: Int,
          n: Int): Unit = {
        if (position + n == len) CountingFs.bump(CountingFs.tailReads, path)
        in.readFully(position, b, off, n)
      }
      override def close(): Unit = in.close()
    })
  }
}

object CountingFs {
  val globs = new ConcurrentHashMap[String, AtomicInteger]()
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  val tailReads = new ConcurrentHashMap[String, AtomicInteger]()
  def bump(m: ConcurrentHashMap[String, AtomicInteger], path: String): Unit =
    m.computeIfAbsent(path, _ => new AtomicInteger()).incrementAndGet()
  def count(m: ConcurrentHashMap[String, AtomicInteger], path: String): Int =
    Option(m.get(path)).fold(0)(_.get)
  def reset(): Unit = { globs.clear(); opens.clear(); tailReads.clear() }
}
