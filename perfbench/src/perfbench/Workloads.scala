package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.seamf.{SeamfLake, SeamfMetadata, SeamfReader}

final case class Ctx(work: Path, benchDir: Path, seed: Long, cores: Int)

/** What one operation hands back to the closed loop: a check of its output
  * that runs after the timer stops, and facts for the per-layer report.
  */
final case class OpOut(check: () => Option[String], extras: Map[String, Double] = Map.empty)
final case class Op(kind: String, exec: SparkSession => OpOut)

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Inputs that need no Spark session, generated from the seed. */
  def generate(): Unit
  /** Inputs written through Spark (before the warm-up). */
  def prepare(spark: SparkSession): Unit = ()
  /** The untimed warm-up operation of each set-up. */
  def warmup: Op
  /** The operations of one pass, in the order the client issues them. */
  def pass(index: Int, rng: SplittableRandom): Seq[Op]
  /** Operations a traced run makes once more after its passes, twice:
    * untraced to warm up, then traced (the lake phase of the ingest).
    */
  def lakePhase(index: Int, rng: SplittableRandom): Seq[Op] = Nil
  /** Release what an operation left cached (outside its timing). */
  def cleanup(spark: SparkSession): Unit = ()
  /** Facts about the generated inputs, for the detail record. */
  def inputs: Map[String, Double]
  /** Sweeps one pass decodes into DataFrames (0 when it decodes none). */
  def sweepsPerPass: Int = 0
  /** Sweeps one lake export writes (0 when a pass exports none). */
  def exportSweeps: Int = 0

  protected def expect(ok: Boolean, msg: => String): Option[String] =
    if (ok) None else Some(msg)
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "archive_ingest" => new ArchiveIngest(ctx)
    case "archive_monitor" => new ArchiveMonitor(ctx)
    case "iterative_fits" => new IterativeFits(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A seeded start instant between 2023-06-01 and 2023-11-27, on a whole
    * minute.
    */
  def startUs(rng: SplittableRandom): Long =
    SeamfMetadata.isoToMicros("2023-06-01T00:00:00Z") +
      rng.nextInt(180) * 86400L * 1000000L + rng.nextInt(1200) * 60L * 1000000L
}

/** Shared by the seamf workloads: generated sweeps and their truth. */
abstract class SeamfWorkload(ctx: Ctx) extends Workload(ctx) {
  protected var truth: Seq[Sweeps.Truth] = Nil
  def inputs: Map[String, Double] = Map(
    "sweeps" -> truth.size.toDouble,
    "compressed_mb" -> truth.map(_.fileBytes).sum / 1e6,
    "compression_ratio" ->
      truth.map(_.inflatedBytes).sum.toDouble / truth.map(_.compressedBytes).sum)
}

/** Decode-everything ingest of realistic sweeps: each pass decodes zip
  * archives through `format("seamf")`, one operation per archive. Traced
  * runs add a lake phase: a second landing directory is exported into a
  * fresh date-partitioned parquet lake with `SeamfLake.exportAll`, and one
  * day's time slice is read back.
  */
final class ArchiveIngest(ctx: Ctx) extends SeamfWorkload(ctx) {
  val name = "archive_ingest"
  val Zips = 4
  val PerZip = 24
  val LakeDays = 2
  val LakePerDay = 6
  private var zips: Seq[(Path, Seq[Sweeps.Truth])] = Nil
  private var lakeTruth: Seq[Sweeps.Truth] = Nil
  private def landing = ctx.work.resolve("landing").toString
  private def lake(i: Int) = ctx.work.resolve(s"lake_$i")

  def generate(): Unit = {
    val rng = new SplittableRandom(ctx.seed)
    val t0s = Sweeps.schedule(rng, Zips * PerZip, Workload.startUs(rng))
    val day0 = Workload.startUs(rng) / 86400000000L * 86400000000L
    val lakeT0s = (0 until LakeDays).flatMap { d =>
      Sweeps.schedule(rng, LakePerDay,
        day0 + d * 86400000000L + (1 + rng.nextInt(18)) * 3600000000L)
    }
    val sweeps = Sweeps.buildAll(ctx.seed, t0s ++ lakeT0s, ctx.cores)
    val (archived, loose) = sweeps.splitAt(t0s.size)
    zips = archived.grouped(PerZip).zipWithIndex.map { case (g, i) =>
      val p = ctx.work.resolve(f"archive/sweeps_$i%02d.zip")
      Sweeps.writeZip(p, g)
      (p, g.map(_.truth))
    }.toSeq
    Sweeps.writeLoose(ctx.work.resolve("landing"), loose)
    truth = zips.flatMap(_._2)
    lakeTruth = loose.map(_.truth)
    Sweeps.writeTruth(ctx.work.resolve("truth.json"),
      zips.map { case (p, ts) => p.getFileName.toString -> ts } :+ ("landing" -> lakeTruth))
  }

  override def inputs: Map[String, Double] = super.inputs ++ Map(
    "lake_sweeps" -> lakeTruth.size.toDouble,
    "lake_input_mb" -> lakeTruth.map(_.fileBytes).sum / 1e6)
  override def sweepsPerPass: Int = truth.size
  override def exportSweeps: Int = lakeTruth.size

  private def decode(zip: Path, ts: Seq[Sweeps.Truth]): Op = Op("decode_zip", spark => {
    val r = spark.read.format("seamf").load(zip.toString)
      .agg(count(lit(1)), sum(hash(col("trace")).cast("long"))).head()
    OpOut(() => expect(r.getLong(0) == ts.size * 187L && r.getLong(1) == ts.map(_.checksum).sum,
      s"${zip.getFileName}: rows ${r.getLong(0)}, hash ${r.getLong(1)}; " +
        s"expected ${ts.size * 187L}, ${ts.map(_.checksum).sum}"))
  })

  private def export(i: Int) = Op("export", spark => {
    val out = lake(i)
    val counts = SeamfLake.exportAll(spark, landing, out.toString)
    val files = Files.walk(out).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val n = lakeTruth.size.toLong * Sweeps.Channels
    val want = Map("psd" -> n * 2 * 625, "pvt" -> n * 2 * 400, "pfp" -> n * 6 * 560,
      "apd" -> n * 151, "channel_metadata" -> n, "sweep_metadata" -> lakeTruth.size.toLong,
      "capture_summary" -> n)
    OpOut(() => expect(counts == want, s"export counts $counts, expected $want"),
      Map("lake.files_written" -> files.size.toDouble,
        "lake.bytes" -> files.map(Files.size).sum.toDouble,
        "lake.input_bytes" -> lakeTruth.map(_.fileBytes).sum.toDouble))
  })

  /** An hour of one day's PVT traces from the fresh lake. */
  private def lakeSlice(i: Int, rng: SplittableRandom) = {
    val f = lakeTruth(rng.nextInt(lakeTruth.size))
    val day = java.time.Instant.ofEpochSecond(f.t0Us / 1000000L).toString.take(10)
    val a = f.t0Us - rng.nextLong(0, 3600L * 1000000L)
    val b = a + 3600L * 1000000L
    Op("lake_slice", spark => {
      val r = spark.read.parquet(lake(i).resolve("pvt").toString)
        .filter(col("date") === lit(day).cast("date") &&
          col("datetime") >= timestamp_micros(lit(a)) && col("datetime") < timestamp_micros(lit(b)))
        .agg(count(lit(1)), max("power_dbm")).head()
      val caps = for (t <- lakeTruth; c <- 0 until Sweeps.Channels
        if t.captureUs(c) >= a && t.captureUs(c) < b &&
          java.time.Instant.ofEpochSecond(t.captureUs(c) / 1000000L).toString.take(10) == day)
        yield t.max(c, 1)
      OpOut(() => expect(r.getLong(0) == caps.size * 800L && r.getFloat(1) == caps.max,
        s"lake slice read $r, expected ${caps.size * 800}, ${caps.max}"))
    })
  }

  def warmup: Op = decode(zips.head._1, zips.head._2)

  def pass(index: Int, rng: SplittableRandom): Seq[Op] =
    Shuffle(zips, rng).map { case (p, ts) => decode(p, ts) }

  override def lakePhase(index: Int, rng: SplittableRandom): Seq[Op] =
    Seq(export(index), lakeSlice(index, rng))
}

/** Metadata-heavy monitoring of a landing directory of loose sweeps: few
  * operations inflate a payload.
  */
final class ArchiveMonitor(ctx: Ctx) extends SeamfWorkload(ctx) {
  val name = "archive_monitor"
  val LandingFiles = 96
  private def dir = ctx.work.resolve("landing").toString
  private var base = 0L
  private var streams = 0

  def generate(): Unit = {
    val rng = new SplittableRandom(ctx.seed)
    base = Workload.startUs(rng)
    val sweeps = Sweeps.buildAll(ctx.seed, Sweeps.schedule(rng, LandingFiles, base), ctx.cores)
    Sweeps.writeLoose(ctx.work.resolve("landing"), sweeps)
    truth = sweeps.map(_.truth)
    Sweeps.writeTruth(ctx.work.resolve("truth.json"), Seq("landing" -> truth))
  }

  private def scan(spark: SparkSession) = spark.read.format("seamf").load(dir)
  private def n = truth.size.toLong
  private def chan(f: Double): Int = math.round((f - 3.555e9) / 1e7).toInt

  private val metaProjection = Op("meta_projection", spark => {
    val r = scan(spark).select("file", "datetime_us", "frequency", "table")
      .agg(count(lit(1)), countDistinct("file"),
        sum(col("datetime_us") - lit(base)), sum(col("frequency") / 1e7)).head()
    val dt = truth.map(t => (0 until Sweeps.Channels).map(c => t.captureUs(c) - base).sum).sum * 11
    val fs = n * 11 * (0 until Sweeps.Channels).map(c => Sweeps.frequency(c) / 1e7).sum
    OpOut(() => expect(r.getLong(0) == n * 187 && r.getLong(1) == n &&
      r.getLong(2) == dt && r.getDouble(3) == fs, s"meta projection read $r"))
  })

  private val coverage = Op("coverage", spark => {
    val rows = scan(spark).groupBy("frequency", "table")
      .agg(count(lit(1)).as("n"), max("datetime_us").as("last")).collect()
    val last = truth.map(_.t0Us).max
    OpOut(() => expect(rows.length == Sweeps.Channels * 4 && rows.forall { r =>
      r.getLong(2) == n * Sweeps.SlotsPerTable(r.getString(1)) &&
        r.getLong(3) == last + chan(r.getDouble(0)) * 1000000L
    }, s"coverage rows ${rows.toSeq}"))
  })

  private val sweepMetadata = Op("sweep_metadata", spark => {
    val r = SeamfReader.sweepMetadata(spark, dir)
      .agg(count(lit(1)), sum(when(col("sha512_ok"), 1L).otherwise(0L)),
        sum(col("schedule_start_us") - lit(base)), sum("n_captures")).head()
    OpOut(() => expect(r.getLong(0) == n && r.getLong(1) == n &&
      r.getLong(2) == truth.map(_.t0Us - base).sum && r.getLong(3) == n * Sweeps.Channels,
      s"sweep metadata read $r"))
  })

  private val gaps = Op("gaps", spark => {
    val got = scan(spark).groupBy("file").agg(min("datetime_us").as("t"))
      .withColumn("prev", lag("t", 1).over(Window.orderBy("t")))
      .filter(col("t") - col("prev") > lit(Sweeps.CadenceUs * 3 / 2))
      .select("t").collect().map(_.getLong(0)).toSet
    val starts = truth.map(_.t0Us).sorted
    val want = starts.zip(starts.drop(1)).collect {
      case (a, b) if b - a > Sweeps.CadenceUs * 3 / 2 => b
    }.toSet
    OpOut(() => expect(got == want, s"gaps $got, expected $want"))
  })

  private def slice(kind: String, widthUs: Long, rng: SplittableRandom): Op = {
    // a window that starts at a seeded capture-bearing instant and ends
    // inside the archive, so every slice of one width covers as many files
    val last = truth.map(_.t0Us).max
    val starts = truth.filter(_.t0Us + widthUs <= last)
    val f = starts(rng.nextInt(starts.size))
    val a = f.t0Us - rng.nextLong(0, 30L * 1000000L)
    val b = a + widthUs
    Op(kind, spark => {
      val r = scan(spark)
        .filter(col("datetime_us") >= a && col("datetime_us") < b && col("table") === "psd")
        .agg(count(lit(1)), max(array_max(col("trace")))).head()
      val caps = for (t <- truth; c <- 0 until Sweeps.Channels
        if t.captureUs(c) >= a && t.captureUs(c) < b) yield t.max(c, 0)
      val matching = truth.count(t => t.spanUs._2 >= a && t.spanUs._1 < b)
      OpOut(() => expect(r.getLong(0) == caps.size * 2L &&
        (caps.isEmpty || r.getFloat(1) == caps.max),
        s"$kind [$a, $b): read $r, expected ${caps.size * 2} rows, max ${caps.maxOption}"),
        Map("truth_files" -> matching.toDouble))
    })
  }

  private val streamDrain = Op("stream_drain", spark => {
    streams += 1
    val qn = s"monitor_stream_$streams"
    val q = spark.readStream.format("seamf")
      .option("maxFilesPerTrigger", (truth.size / 2).toString).load(dir)
      .groupBy("table").agg(count(lit(1)).as("n"), max("datetime_us").as("last"))
      .writeStream.format("memory").queryName(qn).outputMode("complete")
      .option("checkpointLocation", ctx.work.resolve(s"checkpoints/$qn").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table(qn).collect()
    spark.catalog.dropTempView(qn)
    val progress = q.recentProgress
    val counted = rows.map(_.getLong(1)).sum
    val last = truth.map(_.t0Us).max + (Sweeps.Channels - 1) * 1000000L
    OpOut(() => expect(rows.length == 4 && rows.forall(r =>
      r.getLong(1) == n * Sweeps.Channels * Sweeps.SlotsPerTable(r.getString(0)) &&
        r.getLong(2) == last), s"stream drain rows ${rows.toSeq}"),
      Map("streaming.batches" -> progress.map(_.batchId).distinct.length.toDouble,
        "streaming.reported_rows" -> progress.map(_.numInputRows).sum.toDouble,
        "streaming.counted_rows" -> counted.toDouble))
  })

  def warmup: Op = coverage

  def pass(index: Int, rng: SplittableRandom): Seq[Op] = Shuffle(Seq(
    metaProjection, coverage, sweepMetadata, gaps,
    slice("slice_1m", 60L * 1000000L, rng), slice("slice_1m", 60L * 1000000L, rng),
    slice("slice_1h", 3600L * 1000000L, rng), streamDrain), rng)
}

/** Driver-iterated D4 queries of `SparkEntry.queries` on a seeded fixed
  * corpus; operator caches are released between queries.
  */
final class IterativeFits(ctx: Ctx) extends Workload(ctx) {
  import IterativeFits.Queries
  val name = "iterative_fits"
  private def dir = ctx.work.resolve("tables").toString
  private lazy val expected: Map[String, (Long, String)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(ctx.benchDir.resolve("expected_fits.json").toFile)
    root.fields().asScala.map(e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())).toMap
  }
  def generate(): Unit = ()

  override def prepare(spark: SparkSession): Unit = {
    Corpus.write(spark, dir, ctx.seed)
  }

  def inputs: Map[String, Double] = Map("embeddings" -> Corpus.Rows.toDouble)

  private def query(q: String) = Op(q, spark => {
    val rows = graft.SparkEntry.queries(q)(spark, dir).collect()
    val got = (rows.length.toLong, RowHash(rows))
    OpOut(() => expected.get(q) match {
      case Some(want) => expect(got == want, s"$q: rows/hash $got, expected $want")
      case None => Some(s"$q: no expected value; measured $got")
    })
  })

  def warmup: Op = Op("warmup", spark => {
    val n = graft.Tables.load(spark, dir, "embeddings").count()
    OpOut(() => expect(n == Corpus.Rows, s"corpus rows $n"))
  })

  def pass(index: Int, rng: SplittableRandom): Seq[Op] = Shuffle(Queries, rng).map(query)

  override def cleanup(spark: SparkSession): Unit = {
    graft.operators.Dedup.unpersistAll()
    graft.operators.Multimodal.unpersistAll()
    graft.operators.Windowed.unpersistAll()
    graft.operators.Bpe.unpersistAll()
    graft.operators.KMeans.unpersistAll()
    graft.operators.CurationFunnel.unpersistAll()
    graft.operators.SemDedup.unpersistAll()
    graft.operators.LogReg.unpersistAll()
    spark.catalog.clearCache()
  }
}

object IterativeFits {
  /** The two D4 queries (ROADMAP) that drive its iterative fits:
    * SemDedup's k-means plus LSH gate (q103d; q122c runs the same fits)
    * and PCA power iteration (q131; q131b and w24 run the same fit). All
    * six would take a pass from about 14 s to about a minute.
    */
  val Queries: Seq[String] = Seq("q103d_semdedup_gate_recall", "q131_pca_axes_artifact")
}

object Shuffle {
  def apply[T](xs: Seq[T], rng: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

/** Order-independent hash of collected rows: the sum of a 64-bit MD5 prefix
  * of each row's rendering.
  */
object RowHash {
  private def render(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
      .sorted.mkString("<", ",", ">")
    case b: Array[Byte] => b.mkString("b", ",", "")
    case other => other.toString
  }

  def apply(rows: Seq[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(render(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    f"$sum%016x"
  }
}
