package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.seamf.{HalfFloat, SeamfCodec, SeamfMetadata, SeamfReader}

/** DataSource V2 seamf trace source: `spark.read.format("seamf").load(dir)`.
  *
  * The `mapPartitions` ingest ([[graft.seamf.SeamfReader]]) is the library
  * surface; this source puts the SAME decode on Spark's connector API so the
  * optimizer — not the caller — decides how much of each archive member to
  * decode:
  *
  *   - '''Column pruning is decode pruning.''' The XZ payload exists only to
  *     fill the `trace` column; when a projection drops `trace`, Catalyst's
  *     `SupportsPushDownRequiredColumns` call tells the scan, and the reader
  *     never decompresses the payload (the reference's `read_seamf_meta`
  *     fast path, seamf.py:1073-1103, now chosen automatically by the
  *     optimizer instead of by a caller flag).
  *   - '''Filter pushdown is decode-time pruning.''' Range predicates on
  *     `datetime_us` / `frequency` and equality/IN on `table` arrive via
  *     `SupportsPushDownFilters` and become a [[SeamfReader.TracePrune]]: a
  *     file none of whose (capture, slot) pairs match is rejected from its
  *     metadata alone — its payload is never decompressed. EXACT folds
  *     (membership, inclusive bounds, strict long bounds via the successor
  *     value) are fully consumed — that is what lets an aggregation push
  *     below a filtered scan; strict `double` bounds push a non-strict
  *     SUPERSET and stay residual, so Spark re-evaluates them.
  *   - '''Aggregate pushdown never builds rows.''' COUNT(*) / COUNT(col) /
  *     MIN / MAX over metadata columns, grouped by metadata columns
  *     (`SupportsPushDownAggregates`, partial mode): each file contributes
  *     one partial row per group straight from its offset table and
  *     capture list — no payload, no per-slot row materialization; Spark
  *     merges partials. Distinct counts and anything touching `trace`
  *     decline the push.
  *   - '''Runtime (DPP) filtering.''' `SupportsRuntimeFiltering`: a
  *     broadcast join keyed on a decode-prunable column hands its key set
  *     to the scan before tasks run; IN-sets collapse to their [min, max]
  *     envelope (a permitted superset — the join re-filters) and tighten
  *     the decode prune with no static predicate in the query.
  *   - '''Partition planning fills every slot.''' Input splits are
  *     contiguous runs of whole members: `max(defaultParallelism,
  *     ceil(total / maxPartitionBytes))` bins (never more than members),
  *     cut at cumulative cost (compressed size plus Spark's 4 MiB open
  *     cost), so 2000 small sweeps do not become 2000 tasks, every core
  *     gets an equal share, and listing order is row order (the
  *     reference's `partition_size` knob, ziparchive.py:260-263, derived
  *     from sizes instead of hand-tuned). A batch scan plans once per
  *     query: one listing, one central-directory read per archive.
  *   - '''Vectorized reads.''' The default read path emits one
  *     `ColumnarBatch` per decoded file into reused `OnHeapColumnVector`s:
  *     `trace` floats append straight from the decoded payload at each
  *     slot's offset (no per-slot array copy, no per-row object), and the
  *     row transition happens in whole-stage codegen's `ColumnarToRow` —
  *     deleting the per-slot unsafe projection that made the row-based
  *     connector ~29% slower than the fused `mapPartitions` ingest.
  *     `columnar=false` forces the row reader (A/B); aggregate pushdown
  *     always uses it (partial rows are few).
  *   - '''Observability via DSv2 custom metrics.''' skipped / metadata-
  *     pruned / decoded file counts surface as SQL metrics on the scan node
  *     (exactly-once per SQL metric semantics — stronger than the
  *     best-effort accumulators of `tracesPrunedCounted`).
  *   - '''Partial limit pushdown.''' `SupportsPushDownLimit`: a pushed
  *     LIMIT caps each partition's decode at `limit` surviving rows —
  *     files after the cutoff in a packed bin are never opened. Spark
  *     keeps the global limit above the scan, so semantics stay exact.
  *   - '''Statistics.''' `SupportsReportStatistics` reports compressed
  *     on-disk bytes (scaled down for metadata-only scans), so join
  *     planning can broadcast a small pruned seamf side.
  *   - '''Object-store zip access.''' Central directories and member
  *     bytes are read through the Hadoop `FileSystem` API with range
  *     reads ([[HadoopZip]], ZIP64 included) — never a local-path
  *     `ZipFile` — so member-granularity scans work on HDFS/S3 the same
  *     as local disk; member coordinates ride inside splits and each
  *     member fetch is two positioned reads.
  *   - '''Streaming.''' `MicroBatchStream`: file arrivals in the landing
  *     directory are the offsets (one long per checkpoint, files in
  *     (mtime, path) order under an append-only contract), so
  *     `readStream.format("seamf")` rides the same decode and split
  *     packing — the reference's 90 s schedule cadence as micro-batches.
  *
  * Options: `tz` (IANA zone for naive timestamps), `errors` ("log" skips
  * undecodable members and counts them, "raise" fails the job — reference
  * errors= semantics, ziparchive.py:381-440), `checkHash` ("true" treats a
  * sha512 mismatch as a decode error; "false" tolerates it),
  * `maxPartitionBytes` (split packing target override),
  * `maxFilesPerTrigger` (streaming admission control: cap each
  * micro-batch at N files so a backlog drains in bounded batches).
  *
  * 100 TB: listing reads only directory metadata (one `globStatus` per
  * path — on an object store, one LIST per prefix); splits are planned on
  * the driver from sizes alone; decode is embarrassingly parallel and
  * CPU-bound on XZ exactly like the reference (seamf.py:1038-1040). The
  * Hadoop `Configuration` rides to executors inside the factory as plain
  * key/value pairs, so credentials/filesystem settings survive
  * serialization.
  */
class SeamfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "seamf"

  // `CREATE TABLE ... USING seamf` stores the inferred schema in the
  // catalog and passes it back on every load — accepting "external"
  // metadata is what puts the connector on the SQL DDL surface. The
  // decode's schema is fixed, so anything other than the trace schema is
  // a user error worth failing loudly at resolution time, not read time.
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeamfSource.TraceSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(schema == SeamfSource.TraceSchema,
      s"seamf tables have a fixed trace schema; got: ${schema.simpleString}")
    require(partitioning.isEmpty,
      "seamf tables do not support PARTITIONED BY")
    new SeamfTable(properties)
  }
}

object SeamfSource {
  /** The trace table schema — identical to `Dataset[TraceRow]`'s. */
  val TraceSchema: StructType =
    org.apache.spark.sql.Encoders.product[SeamfReader.TraceRow].schema

  /** Paths from DSv2 options: `.load(p)` sets "path"; `.load(p1, p2, ...)`
    * sets "paths" as a JSON string array (Spark's encoding). Comma-splitting
    * inside a single path mirrors [[SeamfReader]]'s multi-archive union.
    */
  private[sources] def paths(options: java.util.Map[String, String]): Seq[String] = {
    val single = Option(options.get("path")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readValue(json, classOf[Array[String]]).toSeq
    }
    val all = single ++ multi
    require(all.nonEmpty, "seamf source needs a path: .load(dir)")
    all
  }

  /** Fold one supported filter into a decode prune; None = not
    * decode-prunable. The Boolean is EXACTNESS: the prune keeps precisely
    * the filter's rows (table membership, inclusive bounds, strict long
    * bounds via the successor value). Strict double bounds push a
    * non-strict SUPERSET and are inexact — they must stay residual.
    * Shared by the batch `ScanBuilder` (where exact folds are fully
    * consumed) and the streaming prune rule ([[SeamfStreamingPrune]],
    * where every filter stays residual so only the superset property
    * matters).
    */
  private[graft] def fold(prune: SeamfReader.TracePrune, f: Filter)
      : Option[(SeamfReader.TracePrune, Boolean)] =
    f match {
      case EqualTo("table", v: String) =>
        Some((prune.copy(tables = Some(prune.tables.getOrElse(Set(v)).intersect(Set(v)))), true))
      case In("table", vs) if vs.forall(_.isInstanceOf[String]) =>
        val s = vs.map(_.asInstanceOf[String]).toSet
        Some((prune.copy(tables = Some(prune.tables.fold(s)(_.intersect(s)))), true))
      case GreaterThanOrEqual("datetime_us", v: Long) =>
        Some((prune.copy(minDatetimeUs = Some(prune.minDatetimeUs.fold(v)(math.max(_, v)))), true))
      case GreaterThan("datetime_us", v: Long) if v < Long.MaxValue =>
        Some((prune.copy(minDatetimeUs = Some(prune.minDatetimeUs.fold(v + 1)(math.max(_, v + 1)))), true))
      case LessThanOrEqual("datetime_us", v: Long) =>
        Some((prune.copy(maxDatetimeUs = Some(prune.maxDatetimeUs.fold(v)(math.min(_, v)))), true))
      case LessThan("datetime_us", v: Long) if v > Long.MinValue =>
        Some((prune.copy(maxDatetimeUs = Some(prune.maxDatetimeUs.fold(v - 1)(math.min(_, v - 1)))), true))
      case GreaterThanOrEqual("frequency", v: Double) =>
        Some((prune.copy(minFrequency = Some(prune.minFrequency.fold(v)(math.max(_, v)))), true))
      case GreaterThan("frequency", v: Double) => // superset: >= v
        Some((prune.copy(minFrequency = Some(prune.minFrequency.fold(v)(math.max(_, v)))), false))
      case LessThanOrEqual("frequency", v: Double) =>
        Some((prune.copy(maxFrequency = Some(prune.maxFrequency.fold(v)(math.min(_, v)))), true))
      case LessThan("frequency", v: Double) => // superset: <= v
        Some((prune.copy(maxFrequency = Some(prune.maxFrequency.fold(v)(math.min(_, v)))), false))
      case IsNotNull("table" | "datetime_us" | "frequency") =>
        Some((prune, true)) // never-null columns: trivially satisfied
      case _ => None
    }
}

private[sources] class SeamfTable(properties: java.util.Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"seamf(${SeamfSource.paths(properties).mkString(",")})"
  override def schema(): StructType = SeamfSource.TraceSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a catalog table (CREATE TABLE ... USING seamf OPTIONS (path ...))
    // carries its options as TABLE properties; the per-read options map
    // arrives separately (and empty, for plain SQL reads). Merge them,
    // read-time options winning, so both surfaces hit one code path.
    val merged = new java.util.HashMap[String, String](properties)
    merged.putAll(options.asCaseSensitiveMap())
    new SeamfScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

/** One pushed-down aggregate over decode metadata. Every supported
  * function is answerable from the parsed metadata of each file alone —
  * `n_per_group` slot counts, capture datetime/frequency extremes, axis
  * parameters — so an aggregation query never decompresses a payload AND
  * never materializes per-slot rows: each file contributes one partial
  * row per group.
  */
private[graft] sealed trait SeamfAgg
private[graft] case object AggCountStar extends SeamfAgg
private[graft] final case class AggMin(col: String) extends SeamfAgg
private[graft] final case class AggMax(col: String) extends SeamfAgg

private[sources] class SeamfScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var required: StructType = SeamfSource.TraceSchema
  private var accepted: Array[Filter] = Array.empty
  private var prune = SeamfReader.TracePrune()
  private var limit: Option[Int] = None
  private var aggGroupCols: Seq[String] = Nil
  private var aggFuncs: Seq[SeamfAgg] = Nil
  private var aggPushed = false

  // metadata-derivable columns: group-able (all) and min/max-able (numeric)
  private val MetaCols = Set("file", "table", "capture_statistic", "detector",
    "datetime_us", "frequency", "axis_start", "axis_step")
  private val NumericMetaCols =
    Set("datetime_us", "frequency", "axis_start", "axis_step")

  private def fieldName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames.head)
    case _ => None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    false // partial: many partitions, Spark plans the final merge

  /** Accept COUNT(*) / COUNT(col) (non-distinct, never-null metadata cols
    * — equal to COUNT(*)) / MIN / MAX over numeric metadata columns,
    * grouped by metadata columns. Anything touching `trace` or a distinct
    * count stays un-pushed.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val groups = agg.groupByExpressions.toSeq.map(fieldName)
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggCountStar)
      case c: Count if !c.isDistinct => c.column match {
        // count(col) over never-null metadata cols == count(*); so is
        // count(<literal>) if the translation didn't fold it to CountStar
        case f: NamedReference
            if f.fieldNames.length == 1 && MetaCols(f.fieldNames.head) =>
          Some(AggCountStar)
        case _: org.apache.spark.sql.connector.expressions.Literal[_] =>
          Some(AggCountStar)
        case _ => None
      }
      case m: Min => fieldName(m.column)
        .filter(NumericMetaCols.contains).map(AggMin)
      case m: Max => fieldName(m.column)
        .filter(NumericMetaCols.contains).map(AggMax)
      case _ => None
    }
    if (groups.exists(g => g.isEmpty || !MetaCols.contains(g.get)) ||
        funcs.exists(_.isEmpty) || funcs.isEmpty) return false
    aggGroupCols = groups.map(_.get)
    aggFuncs = funcs.map(_.get)
    aggPushed = true
    true
  }

  /** Partial limit: each partition stops decoding once it has emitted
    * `limit` surviving rows — files after the cutoff in a packed bin are
    * never opened, payloads never decompressed. Spark keeps a global
    * LocalLimit above the scan (we return false = partial), so semantics
    * are exact while the decode work shrinks to O(limit x partitions).
    */
  override def pushLimit(l: Int): Boolean = {
    // a limit over a pushed PARTIAL aggregation would truncate partial
    // rows, not result rows — never combine the two
    if (!aggPushed) limit = Some(l)
    false // partial push: Spark still applies the global limit
  }

  /** Exact folds are FULLY pushed (no residual) — that is what lets
    * Catalyst push an aggregation below a filtered scan (the aggregate
    * rule requires every filter consumed). Superset folds stay residual.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val acc = ArrayBuffer.empty[Filter]
    val residual = ArrayBuffer.empty[Filter]
    filters.foreach { f =>
      SeamfSource.fold(prune, f) match {
        case Some((p, exact)) =>
          prune = p; acc += f
          if (!exact) residual += f
        case None => residual += f
      }
    }
    accepted = acc.toArray
    residual.toArray
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new SeamfScan(SeamfSource.paths(options).toIndexedSeq, prune, required,
      if (aggPushed) None else limit, options,
      if (aggPushed) Some((aggGroupCols, aggFuncs)) else None)
}

private[graft] class SeamfScan(paths: Seq[String],
    prune: SeamfReader.TracePrune, required: StructType, limit: Option[Int],
    options: CaseInsensitiveStringMap,
    pushedAgg: Option[(Seq[String], Seq[SeamfAgg])] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  private val tz = Option(options.get("tz"))
  private val raise = Option(options.get("errors")).getOrElse("log") == "raise"
  private val checkHash =
    Option(options.get("checkHash")).forall(_.toBoolean)
  private val needPayload =
    pushedAgg.isEmpty && required.fieldNames.contains("trace")

  // ---- streaming decode pruning (SeamfStreamingPrune) --------------------
  // Spark never runs V2ScanRelationPushDown for streaming scans, so the
  // builder's pruneColumns/pushFilters calls cannot reach this path on
  // their own. The graft optimizer rule compensates per micro-batch: it
  // clones this scan with a narrower required schema and a tightened
  // decode prune and swaps BOTH the relation's `scan` and `stream` for the
  // clone. That is sound because a SeamfScan is STATELESS given offsets —
  // planInputPartitions(start, end) re-lists the landing dir and
  // createReaderFactory() closes over constructor state only — while all
  // offset/admission state (latestOffset bookkeeping, the AvailableNow
  // target) lives on the ORIGINAL object, which MicroBatchExecution holds
  // as the query's SparkDataStream and keeps calling directly.
  private[graft] def requiredSchema: StructType = required
  private[graft] def staticPrune: SeamfReader.TracePrune = prune
  private[graft] def isAggPushed: Boolean = pushedAgg.nonEmpty
  private[graft] def prunedCopy(newRequired: StructType,
      newPrune: SeamfReader.TracePrune): SeamfScan =
    new SeamfScan(paths, newPrune, newRequired, limit, options, pushedAgg)

  /** Pushed-aggregation output schema: group columns (trace-schema types)
    * then one column per aggregate (COUNT -> long, MIN/MAX -> the source
    * column's type). Spark maps these POSITIONALLY onto its final-merge
    * aggregation, so order must mirror the pushed Aggregation exactly.
    */
  private def aggSchema(groups: Seq[String], funcs: Seq[SeamfAgg]): StructType = {
    val base = SeamfSource.TraceSchema
    StructType(
      groups.map(g => base(base.fieldIndex(g))) ++
        funcs.zipWithIndex.map {
          case (AggCountStar, i) =>
            org.apache.spark.sql.types.StructField(s"agg_$i",
              org.apache.spark.sql.types.LongType, nullable = false)
          case (AggMin(c), i) =>
            org.apache.spark.sql.types.StructField(s"agg_$i",
              base(base.fieldIndex(c)).dataType, nullable = true)
          case (AggMax(c), i) =>
            org.apache.spark.sql.types.StructField(s"agg_$i",
              base(base.fieldIndex(c)).dataType, nullable = true)
        })
  }

  /** Runtime (DPP-style) pruning: when this scan probes a broadcast join
    * keyed on a decode-prunable column, Spark hands the build side's key
    * set here BEFORE partitions execute, and it tightens the decode prune
    * the same way a static predicate would — an IN-set on `datetime_us`/
    * `frequency` collapses to its [min, max] envelope (a SUPERSET, which
    * runtime-filter semantics permit: the join re-filters), `table` keys
    * intersect exactly. Files outside the envelope skip XZ decode, so a
    * calibration-style join against a narrow dimension prunes the archive
    * at runtime even though no static predicate existed in the query.
    */
  @volatile private var runtimePrune = SeamfReader.TracePrune()

  // the factory is created at PLANNING time (supportsColumnar probes it)
  // — before runtime filters arrive — so it carries this mutable box
  // instead of a baked-in prune: filter() updates the box, and Java
  // serialization snapshots its value when tasks are submitted, which is
  // after BatchScanExec has delivered the runtime filters
  private val pruneBox = new PruneBox(prune)

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] = {
    // must resolve against readSchema(): under a pushed aggregation the
    // scan's output is the agg schema (group cols + agg_i) — `required`
    // still holds the full trace schema because Spark never calls
    // pruneColumns on that path, and naming a column absent from the scan
    // output makes V2ExpressionUtils.resolveRefs throw at planning time
    // when this scan sits on the probe side of a DPP-eligible join
    val visible: Set[String] = pushedAgg match {
      case Some((groups, _)) => groups.toSet
      case None => required.fieldNames.toSet
    }
    Array("datetime_us", "frequency", "table")
      .filter(visible)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    var p = runtimePrune
    filters.foreach {
      case In("datetime_us", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
        val ls = vs.map(_.asInstanceOf[Long])
        p = p.copy(
          minDatetimeUs = Some(p.minDatetimeUs.fold(ls.min)(math.max(_, ls.min))),
          maxDatetimeUs = Some(p.maxDatetimeUs.fold(ls.max)(math.min(_, ls.max))))
      case EqualTo("datetime_us", v: Long) =>
        p = p.copy(
          minDatetimeUs = Some(p.minDatetimeUs.fold(v)(math.max(_, v))),
          maxDatetimeUs = Some(p.maxDatetimeUs.fold(v)(math.min(_, v))))
      case In("frequency", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Double]) =>
        val ds = vs.map(_.asInstanceOf[Double])
        p = p.copy(
          minFrequency = Some(p.minFrequency.fold(ds.min)(math.max(_, ds.min))),
          maxFrequency = Some(p.maxFrequency.fold(ds.max)(math.min(_, ds.max))))
      case EqualTo("frequency", v: Double) =>
        p = p.copy(
          minFrequency = Some(p.minFrequency.fold(v)(math.max(_, v))),
          maxFrequency = Some(p.maxFrequency.fold(v)(math.min(_, v))))
      case In("table", vs) if vs.forall(_.isInstanceOf[String]) =>
        val s = vs.map(_.asInstanceOf[String]).toSet
        p = p.copy(tables = Some(p.tables.fold(s)(_.intersect(s))))
      case EqualTo("table", v: String) =>
        p = p.copy(tables = Some(p.tables.fold(Set(v))(_.intersect(Set(v)))))
      case _ => () // unsupported runtime filter: ignore (pruning is optional)
    }
    runtimePrune = p
    pruneBox.value = effectivePrune
  }

  /** Static pushdown merged with whatever runtime filters have arrived. */
  private def effectivePrune: SeamfReader.TracePrune = {
    val r = runtimePrune
    SeamfReader.TracePrune(
      tables = (prune.tables, r.tables) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      },
      minDatetimeUs =
        Seq(prune.minDatetimeUs, r.minDatetimeUs).flatten.reduceOption(_ max _),
      maxDatetimeUs =
        Seq(prune.maxDatetimeUs, r.maxDatetimeUs).flatten.reduceOption(_ min _),
      minFrequency =
        Seq(prune.minFrequency, r.minFrequency).flatten.reduceOption(_ max _),
      maxFrequency =
        Seq(prune.maxFrequency, r.maxFrequency).flatten.reduceOption(_ min _))
  }

  override def readSchema(): StructType = pushedAgg match {
    case Some((groups, funcs)) => aggSchema(groups, funcs)
    case None => required
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val pr = Seq(
      prune.tables.map(t => s"table IN ${t.toSeq.sorted.mkString("{", ",", "}")}"),
      prune.minDatetimeUs.map(v => s"datetime_us >= $v"),
      prune.maxDatetimeUs.map(v => s"datetime_us <= $v"),
      prune.minFrequency.map(v => s"frequency >= $v"),
      prune.maxFrequency.map(v => s"frequency <= $v")).flatten
    s"SeamfScan DecodePrune: [${pr.mkString(", ")}], " +
      s"PayloadDecode: ${if (needPayload) "full" else "metadata-only"}" +
      limit.fold("")(l => s", PushedLimit: $l") +
      pushedAgg.fold("") { case (g, fs) =>
        s", PushedAggregation: [${fs.mkString(", ")}]" +
          (if (g.nonEmpty) s" GroupBy: [${g.mkString(", ")}]" else "")
      }
  }

  /** Compressed on-disk bytes as the size estimate (decoded float rows are
    * LARGER than the XZ payload, so this under-estimate is conservative
    * only in the safe direction for broadcast decisions when the scan is
    * heavily pruned — and pruning is reflected: a metadata-only scan
    * reports just the metadata fraction).
    */
  override def estimateStatistics(): Statistics = {
    val bytes = batchFiles.map(_.getLen).sum
    val est = if (needPayload) bytes else math.max(bytes / 8, 1L)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(est)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new SeamfDecodedFilesMetric, new SeamfMetaOnlyFilesMetric,
    new SeamfPrunedFilesMetric, new SeamfSkippedFilesMetric)

  private def listFiles(hadoopConf: Configuration): Seq[FileStatus] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      if (fs.getFileStatus(path).isDirectory)
        Seq("*.sigmf", "*.zip").flatMap(g =>
          Option(fs.globStatus(new Path(path, g))).toSeq.flatten)
          .filter(_.isFile)
      else Option(fs.globStatus(path)).toSeq.flatten.filter(_.isFile)
    }.sortBy(_.getPath.toString)

  /** The batch scan's listing, taken once: Spark asks for statistics and
    * partitions from several copies of one physical plan, and each ask
    * would otherwise re-list the paths and re-read every central
    * directory. Offsets and micro-batches never use it — each trigger
    * lists afresh — so a streaming scan's size estimate is the landing
    * directory as this scan first listed it.
    */
  private lazy val batchFiles: Seq[FileStatus] = listFiles(scanConf)

  /** The session's Hadoop conf, copied once per scan for the batch listing
    * and the reader factory.
    */
  private lazy val scanConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** Scan entries: plain `.sigmf` files (member = "") and `.sigmf` members
    * of `.zip` archives — the reference's primary container
    * (ziparchive.py:365-447). Central directories are enumerated on the
    * driver through the Hadoop `FileSystem` API ([[HadoopZip]]: tail +
    * CD block, two range reads per archive — the reference caches the
    * same ZipInfo lists, ziparchive.py:126-146), so one big archive fans
    * out across tasks at MEMBER granularity on ANY filesystem the
    * `Configuration` can open, object stores included; costs use the
    * compressed member size. Member coordinates (method, sizes, local-
    * header offset) ride inside the split so executors never re-read a
    * central directory.
    */
  private lazy val batchPartitions: Array[InputPartition] =
    pack(batchFiles.flatMap(expand(_, scanConf)))

  /** One file's scan entries — zip archives fan out to member entries;
    * SHARED by the batch listing and the streaming batch planner so the
    * two paths can never diverge on which members decode.
    */
  private def expand(f: FileStatus,
      hadoopConf: Configuration): Seq[SeamfScanEntry] = {
    val p = f.getPath.toString
    if (p.endsWith(".zip")) {
      val fs = f.getPath.getFileSystem(hadoopConf)
      HadoopZip.listEntries(fs, f.getPath)
        .filter(e => !e.name.endsWith("/") && e.name.endsWith(".sigmf"))
        .map(e => SeamfScanEntry(p, e.name, e.method, e.compressedSize,
          e.uncompressedSize, e.localHeaderOffset))
        .sortBy(_.member)
    } else Seq(SeamfScanEntry(p, "", -1, f.getLen, f.getLen, -1L))
  }

  override def planInputPartitions(): Array[InputPartition] = batchPartitions

  private def pack(entries: Seq[SeamfScanEntry]): Array[InputPartition] = {
    val spark = SparkSession.active
    val maxBytes = Option(options.get("maxPartitionBytes")).map(_.toLong)
      .getOrElse(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")))
    SeamfScan.pack(entries.toIndexedSeq, spark.sparkContext.defaultParallelism,
      maxBytes).map(b => SeamfInputPartition(b): InputPartition)
  }

  // ---- MicroBatchStream: the landing directory as a stream ---------------
  //
  // The reference acquires one sweep archive per `schedule.interval` (90 s,
  // FIXTURES.md cadence) into a landing directory; the natural micro-batch
  // is therefore FILE ARRIVAL. The offset is a WATERMARK — the (mtime,
  // path) key of the last admitted file plus a running count — under the
  // append-only landing contract: new files arrive at a strictly later
  // (mtime, path) position than every committed file (true of any writer
  // that closes files in acquisition order; also how object stores
  // surface uploads). A batch decodes exactly the files with start < key
  // <= end, expanded to zip-member entries and packed by the SAME split
  // formula as the batch scan. A bare count would misattribute files when
  // a late arrival TIES a committed file's mtime with a smaller path
  // (1-second mtime granularity + a burst): committed files would shift
  // past the index and re-decode while the new file silently never
  // processed. The watermark keys the range instead, so equal-mtime
  // bursts that sort AFTER the watermark just work, and a file surfacing
  // at-or-below the watermark (or inside an already-planned range) fails
  // LOUDLY with the contract in the message — never silent duplication or
  // loss; the count makes both violations detectable against the listing.
  // No per-file seen-set state is kept anywhere — the offset is one small
  // JSON record, so checkpoint recovery is trivial and a 10^7-file
  // landing dir costs one LIST per trigger.
  //
  // Pushdown note: Spark builds streaming scans WITHOUT the
  // V2ScanRelationPushDown pass — the builder's pruneColumns/pushFilters
  // are never called on this path. The engine compensates with a
  // Spark-side optimizer rule ([[SeamfStreamingPrune]], registered via
  // GraftExtensions / StreamingOps): per micro-batch it swaps the
  // relation's scan+stream for a prunedCopy with the narrowed schema and
  // folded decode prune, so metadata-only STREAMING queries skip XZ
  // payloads exactly like batch ones (s26 hash-grades it; SeamfSourceSpec
  // pins the plan). Aggregate pushdown stays batch-only by design.

  private def streamFiles(hadoopConf: Configuration): Seq[FileStatus] =
    listFiles(hadoopConf)
      .sortBy(f => (f.getModificationTime, f.getPath.toString))

  /** key(f) <= watermark in (mtime, path) order. */
  private def atOrBelow(f: FileStatus, o: SeamfOffset): Boolean = {
    val m = f.getModificationTime
    m < o.mtime || (m == o.mtime && f.getPath.toString <= o.path)
  }

  /** `start` advanced past `admitted` (listing-order suffix). */
  private def offsetAfter(start: SeamfOffset,
      admitted: Seq[FileStatus]): SeamfOffset =
    if (admitted.isEmpty) start
    else SeamfOffset(start.files + admitted.size,
      admitted.last.getModificationTime, admitted.last.getPath.toString)

  /** The append-only contract, checked against a fresh listing: exactly
    * the committed count may sit at-or-below the committed watermark.
    * Runs at EVERY trigger (latestOffset) — not just when a batch plans —
    * so a violation surfaces immediately even on an otherwise-idle
    * stream, never as silent loss.
    */
  private def requireAppendOnly(files: Seq[FileStatus],
      s: SeamfOffset): Unit = {
    val below = files.count(atOrBelow(_, s))
    require(below == s.files,
      s"seamf stream: ${below - s.files} file(s) (re)appeared at or " +
        s"below the committed watermark (mtime ${s.mtime}, ${s.path}) — " +
        "the landing directory must be append-only: every new file needs " +
        "a strictly later (mtime, path) position than all committed files")
  }

  override def initialOffset():
      org.apache.spark.sql.connector.read.streaming.Offset =
    SeamfOffset.Initial

  override def deserializeOffset(json: String):
      org.apache.spark.sql.connector.read.streaming.Offset = {
    val t = json.trim
    if (t.startsWith("{")) SeamfOffset.fromJson(t)
    else {
      // legacy count-only offset (pre-watermark checkpoints): rebuild the
      // watermark under the exact assumption that format relied on — the
      // first n files in (mtime, path) order are the committed prefix
      val n = t.toLong
      if (n == 0L) SeamfOffset.Initial
      else {
        val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
        val files = streamFiles(hadoopConf)
        require(files.size >= n, s"seamf stream: legacy offset $n but " +
          s"only ${files.size} files remain — the landing directory " +
          "must be append-only")
        offsetAfter(SeamfOffset.Initial, files.take(n.toInt))
      }
    }
  }

  override def latestOffset():
      org.apache.spark.sql.connector.read.streaming.Offset = {
    val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
    offsetAfter(SeamfOffset.Initial, streamFiles(hadoopConf))
  }

  // admission control: `maxFilesPerTrigger` caps each micro-batch at N
  // files, so a backlogged landing dir (or the initial catch-up over a
  // year of archives) drains in bounded batches instead of one giant
  // first batch — the production knob every file stream needs at scale.
  // With SupportsAdmissionControl, Spark calls THIS latestOffset.
  override def getDefaultReadLimit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    Option(options.get("maxFilesPerTrigger")).map(_.toInt) match {
      case Some(n) => require(n > 0,
        s"maxFilesPerTrigger must be positive, got $n"); ReadLimit.maxFiles(n)
      case None => ReadLimit.allAvailable()
    }
  }

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    import org.apache.spark.sql.connector.read.streaming.ReadMaxFiles
    val s = start.asInstanceOf[SeamfOffset]
    val all = availableNowSnapshot.getOrElse {
      val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
      streamFiles(hadoopConf)
    }
    requireAppendOnly(all, s)
    val eligible = all.filter(f => !atOrBelow(f, s))
    val admitted = limit match {
      case m: ReadMaxFiles => eligible.take(m.maxFiles())
      case _ => eligible
    }
    offsetAfter(s, admitted)
  }

  // Trigger.AvailableNow: snapshot the LISTING once at query start, drain
  // exactly that file set (respecting maxFilesPerTrigger batching), then
  // let the query terminate — files arriving DURING the drain wait for
  // the next run, which is the documented catch-up contract. The snapshot
  // also makes the per-batch append-only checks race-free within a drain.
  @volatile private var availableNowSnapshot: Option[Seq[FileStatus]] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
    availableNowSnapshot = Some(streamFiles(hadoopConf))
  }

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[SeamfOffset]
    val e = end.asInstanceOf[SeamfOffset]
    val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
    val files = availableNowSnapshot.getOrElse(streamFiles(hadoopConf))
    requireAppendOnly(files, s)
    val batch = files.filter(f => !atOrBelow(f, s) && atOrBelow(f, e))
    require(batch.size == e.files - s.files,
      s"seamf stream: offset range expected ${e.files - s.files} files " +
        s"but the listing has ${batch.size} — a file appeared inside an " +
        "already-planned range; the landing directory must be append-only")
    pack(batch.flatMap(expand(_, hadoopConf)))
  }

  override def commit(
      end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()

  override def stop(): Unit = ()

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = this

  // built once per scan (Spark asks again from each copy of the physical
  // plan): the factory closes over constructor state, the shared prune
  // box and the scan's Hadoop conf
  private lazy val readerFactory: PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(scanConf)
    val columnar = Option(options.get("columnar")).forall(_.toBoolean)
    new SeamfReaderFactory(conf, pruneBox, required, tz, raise,
      checkHash, needPayload, limit, pushedAgg, columnar)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

private[sources] object SeamfScan {
  /** Spark's per-file open cost (`spark.sql.files.openCostInBytes`'s
    * default), charged to every entry so tiny members still weigh.
    */
  val OpenCost: Long = 4L * 1024 * 1024

  /** Contiguous bins of `entries`, balanced by cost (compressed size plus
    * [[OpenCost]]). There are `k = min(#entries, max(slots,
    * ceil(total / maxPartitionBytes)))` bins, so a small scan fills every
    * task slot and a large one keeps bins near `maxPartitionBytes`. An
    * entry lands in the bin its cost midpoint falls in (bin `b` covers
    * cumulative cost `[b, b + 1) * total / k`), clamped so that no bin is
    * empty; concatenating the bins gives back the listing, so row order
    * and the plan depend on the listing alone.
    */
  def pack(entries: IndexedSeq[SeamfScanEntry], slots: Int,
      maxPartitionBytes: Long): Array[Array[SeamfScanEntry]] = {
    val n = entries.length
    if (n == 0) return Array.empty
    require(maxPartitionBytes > 0,
      s"maxPartitionBytes must be positive, got $maxPartitionBytes")
    val costs = entries.map(_.compressedSize + OpenCost)
    val total = costs.sum
    val byBytes = total / maxPartitionBytes +
      (if (total % maxPartitionBytes == 0) 0 else 1)
    val k = math.min(n.toLong, math.max(slots.toLong, byBytes)).toInt
    val bins = Array.fill(k)(Array.newBuilder[SeamfScanEntry])
    var start = 0L
    var bin = -1
    var j = 0
    while (j < n) {
      val mid = ((2.0 * start + costs(j)) * k / (2.0 * total)).toInt
      // at most one bin further than the previous entry, and never so far
      // behind that the entries left cannot give each remaining bin one
      bin = math.max(k - (n - j), math.min(bin + 1, math.min(k - 1, mid)))
      bins(bin) += entries(j)
      start += costs(j)
      j += 1
    }
    bins.map(_.result())
  }
}

/** One scan entry: member = "" is a plain `.sigmf` file (sizes = file
  * length, offset unused); otherwise a `.sigmf` member inside a zip
  * archive with its central-directory coordinates, so executors fetch
  * the member with positioned reads and never touch the directory.
  */
private[sources] case class SeamfScanEntry(path: String, member: String,
    method: Int, compressedSize: Long, uncompressedSize: Long,
    localHeaderOffset: Long) {
  /** The `file` column: the path, or `archive!member`. */
  def label: String = if (member.isEmpty) path else s"$path!$member"
  def zipEntry: HadoopZip.Entry =
    HadoopZip.Entry(member, method, compressedSize, uncompressedSize,
      localHeaderOffset)
}

/** One packed bin of scan entries. */
private[sources] case class SeamfInputPartition(
    entries: Array[SeamfScanEntry]) extends InputPartition

/** Micro-batch offset: the watermark (mtime, path) of the last admitted
  * file plus the running file count. The count is not used for slicing —
  * the watermark keys the batch range — it exists to make BOTH
  * append-only violations (a file surfacing at-or-below the watermark; a
  * file surfacing inside a planned range) detectable against a fresh
  * listing. Serialized as JSON via jackson so arbitrary path characters
  * round-trip; legacy bare-count offsets upgrade in `deserializeOffset`.
  */
private[sources] case class SeamfOffset(files: Long, mtime: Long,
    path: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val node = SeamfOffset.mapper.createObjectNode()
    node.put("n", files)
    node.put("mtime", mtime)
    node.put("path", path)
    node.toString
  }
}

private[sources] object SeamfOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  /** Sorts strictly before every real file key (mtimes are >= 0). */
  val Initial: SeamfOffset = SeamfOffset(0L, Long.MinValue, "")
  def fromJson(s: String): SeamfOffset = {
    val t = mapper.readTree(s)
    SeamfOffset(t.get("n").asLong(), t.get("mtime").asLong(),
      t.get("path").asText())
  }
}

/** Entry byte fetch shared by the row and aggregate readers — everything
  * goes through the Hadoop `FileSystem` API, so object stores work the
  * same as local disk. Members of the same zip are adjacent in a bin
  * (listing order), so one `FSDataInputStream` stays open across
  * consecutive members and each member costs exactly two positioned
  * reads (local header + data; [[HadoopZip.readStored]]) — the
  * reference's MultiProcessingZipFile reopen pattern, ziparchive.py:
  * 104-146, without the local-path restriction.
  *
  * This is the I/O phase of a read, and the readers let its failures
  * fail the task so that Spark retries it: a missing or truncated file
  * is never counted as a corrupt one. Everything after it works on bytes
  * in memory ([[SeamfFileDecode.sigmfBytes]] onward).
  */
private[sources] final class SeamfEntryFetcher(conf: Configuration) {
  private var cachedPath: String = _
  private var cachedIn: org.apache.hadoop.fs.FSDataInputStream = _

  /** The entry's stored bytes: the whole file, or the zip member as it is
    * stored in the archive (still deflated if it was).
    */
  def fetch(entry: SeamfScanEntry): Array[Byte] =
    if (entry.member.isEmpty) {
      val path = new Path(entry.path)
      val fs = path.getFileSystem(conf)
      val len = fs.getFileStatus(path).getLen
      require(len <= Int.MaxValue,
        s"seamf file too large to buffer: ${entry.path} ($len bytes)")
      val bytes = new Array[Byte](len.toInt)
      val in = fs.open(path)
      try in.readFully(0, bytes) finally in.close()
      bytes
    } else {
      if (cachedPath != entry.path) {
        close()
        val path = new Path(entry.path)
        cachedIn = path.getFileSystem(conf).open(path)
        cachedPath = entry.path
      }
      HadoopZip.readStored(cachedIn, entry.zipEntry)
    }

  def close(): Unit = {
    if (cachedIn != null) { cachedIn.close(); cachedIn = null }
    cachedPath = null
  }
}

// one concrete zero-arg class per metric: Spark's SQL status listener
// re-instantiates CustomMetric implementations reflectively when
// aggregating, so a parameterized shared class breaks UI aggregation
class SeamfDecodedFilesMetric extends CustomSumMetric {
  override def name: String = "seamfDecodedFiles"
  override def description: String = "decoded files (XZ payload)"
}
class SeamfMetaOnlyFilesMetric extends CustomSumMetric {
  override def name: String = "seamfMetaOnlyFiles"
  override def description: String = "metadata-only files (payload skipped)"
}
class SeamfPrunedFilesMetric extends CustomSumMetric {
  override def name: String = "seamfPrunedFiles"
  override def description: String = "files pruned before payload decode"
}
class SeamfSkippedFilesMetric extends CustomSumMetric {
  override def name: String = "seamfSkippedFiles"
  override def description: String = "undecodable files skipped"
}

private[sources] case class SeamfTaskMetric(name: String, value: Long)
    extends CustomTaskMetric

/** Hadoop `Configuration` is not `java.io.Serializable`; it travels as its
  * key/value pairs (`Text` strings, so values past 64 KB and any Unicode
  * survive) and is rebuilt with `set`. `Configuration.write` would also
  * carry each property's source list as separate gzip streams — twice the
  * bytes and several times the decode cost in every task. Deprecated keys
  * are left out: `get` resolves them through their replacement keys, which
  * travel, and re-setting both could let whichever came last win.
  */
private[sources] final class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    import scala.jdk.CollectionConverters._
    val pairs = value.iterator().asScala
      .filterNot(e => Configuration.isDeprecated(e.getKey)).toArray
    out.writeInt(pairs.length)
    pairs.foreach { e =>
      Text.writeString(out, e.getKey)
      Text.writeString(out, e.getValue)
    }
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    value = new Configuration(false)
    var i = in.readInt()
    while (i > 0) {
      val key = Text.readString(in)
      value.set(key, Text.readString(in))
      i -= 1
    }
  }
}

/** Mutable decode-prune holder shared between the scan (which tightens it
  * on runtime filters) and the reader factory (created earlier, at
  * planning). Serialization snapshots the current value per task batch.
  */
private[graft] final class PruneBox(
    @volatile var value: SeamfReader.TracePrune) extends Serializable

private[sources] class SeamfReaderFactory(conf: SerializableHadoopConf,
    pruneBox: PruneBox, required: StructType, tz: Option[String],
    raise: Boolean, checkHash: Boolean, needPayload: Boolean,
    limit: Option[Int], pushedAgg: Option[(Seq[String], Seq[SeamfAgg])],
    columnar: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val entries = partition.asInstanceOf[SeamfInputPartition].entries
    pushedAgg match {
      case Some((groups, funcs)) =>
        new SeamfAggPartitionReader(entries, conf.value, pruneBox.value,
          groups, funcs, tz, raise, checkHash)
      case None =>
        new SeamfPartitionReader(entries, conf.value, pruneBox.value,
          required, tz, raise, checkHash, needPayload, limit)
    }
  }

  // vectorized by default: an aggregate push emits few partial rows (the
  // row reader is right there), everything else hands Spark whole column
  // vectors and skips the per-slot unsafe projection
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && pushedAgg.isEmpty
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val entries = partition.asInstanceOf[SeamfInputPartition].entries
    new SeamfColumnarPartitionReader(entries, conf.value, pruneBox.value,
      required, tz, raise, checkHash, needPayload, limit)
  }
}

/** Pushed-aggregation reader: per file, parse metadata ONLY, apply the
  * decode prune, group the surviving (capture, slot) pairs by the group
  * key, and emit one partial row per group — COUNT/MIN/MAX computed from
  * the offset table and capture list without decompressing anything or
  * materializing per-slot rows. Spark's final aggregate merges partials
  * across files/partitions.
  */
private[sources] class SeamfAggPartitionReader(
    entries: Array[SeamfScanEntry],
    conf: Configuration, prune: SeamfReader.TracePrune,
    groups: Seq[String], funcs: Seq[SeamfAgg], tz: Option[String],
    raise: Boolean, checkHash: Boolean) extends PartitionReader[InternalRow] {

  private var fileIdx = 0
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  private var nMetaOnly = 0L
  private var nPruned = 0L
  private var nSkipped = 0L
  private val fetcher = new SeamfEntryFetcher(conf)

  private def decodeNext(entry: SeamfScanEntry,
      stored: Array[Byte]): Iterator[InternalRow] = {
    val pathStr = entry.label
    val raw = SeamfCodec.unpackTar(SeamfFileDecode.sigmfBytes(entry, stored))
    val meta = SeamfMetadata.parse(raw.metaJson, tz)
    // digest only when verification is on (the SeamfFileDecode rule): on
    // this metadata-only path the sha512 over the UNUSED compressed
    // payload would otherwise be the dominant per-file cost
    if (checkHash && !SeamfCodec.checkSha512(meta, raw.compressedPayload))
      throw new IllegalStateException(s"sha512 mismatch in $pathStr")

    val keep = meta.slots.filter { s =>
      val cap = meta.captures(s.captureIdx)
      prune.matchesTable(s.table) &&
        prune.matchesCapture(cap.datetimeUs, cap.frequency)
    }
    if (keep.isEmpty) { nPruned += 1; return Iterator.empty }
    nMetaOnly += 1

    def colVal(slot: SeamfMetadata.TraceSlot, c: String): Any = {
      val cap = meta.captures(slot.captureIdx)
      c match {
        case "file" => pathStr
        case "table" => slot.table
        case "capture_statistic" => slot.captureStatistic
        case "detector" => slot.detector
        case "datetime_us" => cap.datetimeUs
        case "frequency" => cap.frequency
        case "axis_start" => slot.axisStart
        case "axis_step" => slot.axisStep
        case other =>
          throw new IllegalArgumentException(s"unsupported agg column $other")
      }
    }
    keep.groupBy(s => groups.map(colVal(s, _))).iterator.map {
      case (key, slots) =>
        val row = new GenericInternalRow(groups.length + funcs.length)
        key.zipWithIndex.foreach { case (v, i) =>
          row.update(i, v match {
            case s: String => UTF8String.fromString(s)
            case other => other
          })
        }
        funcs.zipWithIndex.foreach { case (f, i) =>
          row.update(groups.length + i, f match {
            case AggCountStar => slots.size.toLong
            case AggMin(c) => slots.map(s => colVal(s, c)).min(AnyNumOrd)
            case AggMax(c) => slots.map(s => colVal(s, c)).max(AnyNumOrd)
          })
        }
        row: InternalRow
    }
  }

  // numeric metadata columns are Long or Double, never mixed per column
  private object AnyNumOrd extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case _ => throw new IllegalStateException(s"mixed agg types: $a, $b")
    }
  }

  override def next(): Boolean = {
    while (!rows.hasNext && fileIdx < entries.length) {
      val entry = entries(fileIdx)
      val stored = fetcher.fetch(entry) // I/O failures fail the task
      rows =
        try decodeNext(entry, stored)
        catch { case _: Exception if !raise => nSkipped += 1; Iterator.empty }
      fileIdx += 1
    }
    if (rows.hasNext) { current = rows.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = fetcher.close()

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    SeamfTaskMetric("seamfDecodedFiles", 0L),
    SeamfTaskMetric("seamfMetaOnlyFiles", nMetaOnly),
    SeamfTaskMetric("seamfPrunedFiles", nPruned),
    SeamfTaskMetric("seamfSkippedFiles", nSkipped))
}

/** Decodes one packed bin of members; emits only the required columns.
  * Decode order per member: tar unpack -> metadata parse -> sha512 flag ->
  * metadata prune (skip payload if nothing survives) -> XZ decode only when
  * the `trace` column is required -> per-slot row emit (SURVEY §3.1 steps
  * 2-7 as one executor-side function).
  */
/** Shared per-file decode for the row and columnar readers, on bytes the
  * fetcher already brought into memory: zip inflate -> untar -> metadata
  * parse -> sha512 check -> decode-prune the slot list -> (only if some
  * slot survives AND the schema needs `trace`) XZ-inflate the payload.
  * Returns None when every slot was pruned — the payload of a fully-pruned
  * file is never decompressed. Every failure here is a content error,
  * which `errors=log` skips and counts.
  */
private[sources] object SeamfFileDecode {
  final case class Decoded(path: String, meta: SeamfMetadata.SeamfMeta,
      keep: Seq[SeamfMetadata.TraceSlot], payload: Array[Float])

  /** The `.sigmf` tar from an entry's stored bytes. */
  def sigmfBytes(entry: SeamfScanEntry, stored: Array[Byte]): Array[Byte] =
    if (entry.member.isEmpty) stored
    else HadoopZip.decodeStored(entry.zipEntry, stored)

  def decode(entry: SeamfScanEntry, stored: Array[Byte],
      tz: Option[String], checkHash: Boolean,
      prune: SeamfReader.TracePrune, needPayload: Boolean)
      : Option[Decoded] = {
    val pathStr = entry.label
    val raw = SeamfCodec.unpackTar(sigmfBytes(entry, stored))
    val meta = SeamfMetadata.parse(raw.metaJson, tz)
    // digest only when verification is on: sha512 over the compressed
    // payload is the third-largest per-file cost after XZ and the fetch
    if (checkHash && !SeamfCodec.checkSha512(meta, raw.compressedPayload))
      throw new IllegalStateException(s"sha512 mismatch in $pathStr")

    val keep = meta.slots.filter { s =>
      val cap = meta.captures(s.captureIdx)
      prune.matchesTable(s.table) &&
        prune.matchesCapture(cap.datetimeUs, cap.frequency)
    }
    if (keep.isEmpty) None
    else {
      val payload: Array[Float] =
        if (!needPayload) null
        else {
          val p = HalfFloat.decodeVector(
            SeamfCodec.xzDecompress(raw.compressedPayload))
          require(meta.requiredLength <= p.length,
            s"payload length ${p.length} < offset table end " +
              meta.requiredLength)
          p
        }
      Some(Decoded(pathStr, meta, keep, payload))
    }
  }
}

private[sources] class SeamfPartitionReader(
    entries: Array[SeamfScanEntry],
    conf: Configuration, prune: SeamfReader.TracePrune, required: StructType,
    tz: Option[String], raise: Boolean, checkHash: Boolean,
    needPayload: Boolean, limit: Option[Int])
    extends PartitionReader[InternalRow] {

  private var fileIdx = 0
  private var emitted = 0L
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  private var nDecoded = 0L
  private var nMetaOnly = 0L
  private var nPruned = 0L
  private var nSkipped = 0L
  private val fetcher = new SeamfEntryFetcher(conf)

  private def decodeNext(entry: SeamfScanEntry,
      stored: Array[Byte]): Iterator[InternalRow] = {
    val d = SeamfFileDecode.decode(entry, stored, tz, checkHash,
      prune, needPayload) match {
      case None => nPruned += 1; return Iterator.empty
      case Some(dd) =>
        if (needPayload) nDecoded += 1 else nMetaOnly += 1
        dd
    }
    val pathStr = d.path
    val meta = d.meta
    val payload = d.payload
    d.keep.iterator.map { s =>
      val cap = meta.captures(s.captureIdx)
      val row = new GenericInternalRow(required.length)
      var i = 0
      while (i < required.length) {
        row.update(i, required.fields(i).name match {
          case "file" => UTF8String.fromString(pathStr)
          case "datetime_us" => cap.datetimeUs
          case "frequency" => cap.frequency
          case "table" => UTF8String.fromString(s.table)
          case "capture_statistic" => UTF8String.fromString(s.captureStatistic)
          case "detector" => UTF8String.fromString(s.detector)
          case "axis_start" => s.axisStart
          case "axis_step" => s.axisStep
          case "trace" => UnsafeArrayData.fromPrimitiveArray(
            java.util.Arrays.copyOfRange(payload, s.start.toInt,
              s.start.toInt + s.length))
          case other => throw new IllegalArgumentException(
            s"unknown required column $other")
        })
        i += 1
      }
      row: InternalRow
    }
  }

  override def next(): Boolean = {
    // pushed partial limit: this partition is done once it has emitted
    // `limit` rows — remaining files in the bin are never opened
    if (limit.exists(emitted >= _)) return false
    while (!rows.hasNext && fileIdx < entries.length) {
      val entry = entries(fileIdx)
      val stored = fetcher.fetch(entry) // I/O failures fail the task
      rows =
        try decodeNext(entry, stored)
        catch { case _: Exception if !raise => nSkipped += 1; Iterator.empty }
      fileIdx += 1
    }
    if (rows.hasNext) { current = rows.next(); emitted += 1; true }
    else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = fetcher.close()

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    SeamfTaskMetric("seamfDecodedFiles", nDecoded),
    SeamfTaskMetric("seamfMetaOnlyFiles", nMetaOnly),
    SeamfTaskMetric("seamfPrunedFiles", nPruned),
    SeamfTaskMetric("seamfSkippedFiles", nSkipped))
}

/** Columnar read path (the default): one `ColumnarBatch` per decoded file,
  * written append-style into reused `OnHeapColumnVector`s (the Parquet
  * reader's pattern — allocate once, `reset()` per batch).
  *
  * Why it exists: a DSv2 ROW reader pays an `InternalRow -> UnsafeRow`
  * projection per slot above the scan; the r8 bench measured that as the
  * connector's +29% overhead over the fused `mapPartitions` ingest. The
  * columnar path hands Spark whole vectors instead — `trace` floats are
  * appended DIRECTLY from the decoded payload at the slot's offset
  * (`appendFloats(len, payload, start)`: no per-slot `copyOfRange`, no
  * per-row array object), and the downstream `ColumnarToRow` transition is
  * whole-stage-codegen'd. Decode order per column (not per row) also keeps
  * the payload slice loop tight. Rows-vs-columnar is decided per scan by
  * `SeamfReaderFactory.supportColumnarReads`: aggregate pushdown keeps the
  * row reader (partial rows are few), and `columnar=false` forces rows for
  * A/B measurement. Same decode, same metrics, same prune — parity is
  * pinned against the row path and the library ingest in SeamfSourceSpec.
  */
private[sources] class SeamfColumnarPartitionReader(
    entries: Array[SeamfScanEntry],
    conf: Configuration, prune: SeamfReader.TracePrune, required: StructType,
    tz: Option[String], raise: Boolean, checkHash: Boolean,
    needPayload: Boolean, limit: Option[Int])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private var fileIdx = 0
  private var emitted = 0L
  private var nDecoded = 0L
  private var nMetaOnly = 0L
  private var nPruned = 0L
  private var nSkipped = 0L
  private val fetcher = new SeamfEntryFetcher(conf)

  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  private var ready = false

  private def buildBatch(d: SeamfFileDecode.Decoded): Unit = {
    val n = d.keep.length
    if (vectors == null) {
      vectors = OnHeapColumnVector.allocateColumns(n, required)
      batch = new ColumnarBatch(
        vectors.map(v => v: ColumnVector).toArray[ColumnVector])
    } else vectors.foreach(_.reset())
    val pathBytes = d.path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var ci = 0
    while (ci < required.length) {
      val v = vectors(ci)
      required.fields(ci).name match {
        case "file" =>
          var i = 0
          while (i < n) { v.appendByteArray(pathBytes, 0, pathBytes.length); i += 1 }
        case "datetime_us" =>
          d.keep.foreach(s => v.appendLong(d.meta.captures(s.captureIdx).datetimeUs))
        case "frequency" =>
          d.keep.foreach(s => v.appendDouble(d.meta.captures(s.captureIdx).frequency))
        case "table" =>
          d.keep.foreach { s =>
            val b = s.table.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            v.appendByteArray(b, 0, b.length)
          }
        case "capture_statistic" =>
          d.keep.foreach { s =>
            val b = s.captureStatistic.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            v.appendByteArray(b, 0, b.length)
          }
        case "detector" =>
          d.keep.foreach { s =>
            val b = s.detector.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            v.appendByteArray(b, 0, b.length)
          }
        case "axis_start" => d.keep.foreach(s => v.appendDouble(s.axisStart))
        case "axis_step" => d.keep.foreach(s => v.appendDouble(s.axisStep))
        case "trace" =>
          d.keep.foreach { s =>
            // appendArray records the child offset BEFORE the elements land
            v.appendArray(s.length)
            v.arrayData().appendFloats(s.length, d.payload, s.start.toInt)
          }
        case other => throw new IllegalArgumentException(
          s"unknown required column $other")
      }
      ci += 1
    }
    batch.setNumRows(n)
  }

  override def next(): Boolean = {
    if (limit.exists(emitted >= _)) return false
    ready = false
    while (!ready && fileIdx < entries.length) {
      val entry = entries(fileIdx)
      val stored = fetcher.fetch(entry) // I/O failures fail the task
      try {
        SeamfFileDecode.decode(entry, stored, tz, checkHash,
            prune, needPayload) match {
          case None => nPruned += 1
          case Some(d) =>
            if (needPayload) nDecoded += 1 else nMetaOnly += 1
            buildBatch(d)
            ready = true
        }
      } catch {
        case _: Exception if !raise => nSkipped += 1
      }
      fileIdx += 1
    }
    if (ready) emitted += batch.numRows()
    ready
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    if (batch != null) batch.close()
    fetcher.close()
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    SeamfTaskMetric("seamfDecodedFiles", nDecoded),
    SeamfTaskMetric("seamfMetaOnlyFiles", nMetaOnly),
    SeamfTaskMetric("seamfPrunedFiles", nPruned),
    SeamfTaskMetric("seamfSkippedFiles", nSkipped))
}
