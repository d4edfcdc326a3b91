package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.{SupportsMetadata, SupportsPushDownCatalystFilters}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 front door for the versioned store: makes a GraftTable
  * directory a REAL Spark table —
  *
  *   spark.read.format("graft").load(dir)                  // current snapshot
  *   spark.read.format("graft").option("version", 3) …     // time travel
  *   spark.read.format("graft").option("timestampAsOf", ms)// TIMESTAMP AS OF
  *
  * The scan is Spark's own vectorized parquet scan (`ParquetScan`) over a
  * manifest-resolved file index, so column pruning, parquet filter
  * pushdown and whole-stage codegen all apply unchanged. What the format
  * ADDS happens at `ScanBuilder.build()` from the pushed filters alone:
  *
  *  - per-file [min,max] band pruning from the commit's stats= line, for
  *    columns whose ordinal encoding is REGISTRY-declared (statenc=) so
  *    the scan can re-encode query literals soundly (`StatsEnc`);
  *  - Bloom-sidecar pruning for equality/IN probes on the bloom= column
  *    (`readBloomEq`'s resolution, now reachable from a plain filter);
  *  - deletion-vector application for MoR versions: tombstoned keys are
  *    subtracted INSIDE the partition readers (the DV is small by
  *    construction), so `spark.table`-style consumers see exactly what
  *    `GraftTable.readVersion` serves.
  *
  * The Scan also reports MANIFEST-truth statistics (row counts from the
  * stats= line, bytes from the pruned file set) through
  * `SupportsReportStatistics`, so join planning — broadcast in
  * particular — decides from the transaction log instead of raw file
  * sizes, before AQE ever runs. Skipped files are never opened; a
  * filter that prunes everything plans an empty scan. */
class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // reads take the manifest's schema; the external-metadata door exists
  // for the FIRST write to an empty dir, where the DataFrame's schema
  // is the only schema there is (the minted v0 then records it)
  override def supportsExternalMetadata(): Boolean = true

  private def tableOf(options: CaseInsensitiveStringMap,
      external: Option[StructType]): GraftSparkTable = {
    val spark = SparkSession.active
    val dir = Option(options.get("path")).getOrElse(sys.error(
      "graft reads need a table dir: spark.read.format(\"graft\").load(dir)"))
    val fs = GraftTable.fsOf(spark, dir)
    val v = (Option(options.get("version")),
        Option(options.get("timestampAsOf"))) match {
      case (Some(_), Some(_)) => sys.error(
        "pass either version or timestampAsOf, not both")
      case (Some(vs), None) => vs.toIntOption.getOrElse(
        sys.error(s"version must be an integer (got '$vs')"))
      case (None, Some(ts)) =>
        // accept epoch millis OR a timestamp string (session zone) —
        // and refuse implausibly large longs that look like epoch
        // MICROseconds (the catalog's SQL door takes micros, so a user
        // porting reader code would otherwise silently resolve a
        // far-future version instead of the one they asked for)
        val asOfMs = ts.toLongOption match {
          case Some(ms) =>
            require(ms < 100000000000000L,
              s"timestampAsOf=$ts is implausibly large for epoch " +
                "MILLIseconds (year 5138+) — that looks like epoch " +
                "microseconds; divide by 1000, or pass a timestamp " +
                "string like '2026-08-15 12:00:00'")
            ms
          case None =>
            val zone = java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)
            val s0 = ts.trim.replace(' ', 'T')
            scala.util.Try(java.time.LocalDateTime.parse(s0))
              .orElse(scala.util.Try(
                java.time.LocalDate.parse(ts.trim).atStartOfDay))
              .map(_.atZone(zone).toInstant.toEpochMilli)
              .getOrElse(sys.error(
                s"timestampAsOf must be epoch milliseconds or a " +
                  s"timestamp 'yyyy-MM-dd[ HH:mm:ss[.SSS]]' (got '$ts')"))
        }
        GraftTable.versionAsOf(fs, dir, asOfMs).getOrElse(sys.error(
          s"no version of $dir was committed at or before $asOfMs"))
      case (None, None) =>
        GraftTable.currentVersion(fs, dir).getOrElse {
          external match {
            // the first write's EMBRYONIC table: no version yet, the
            // caller's schema stands in until v0 records it
            case Some(_) => -1
            case None => sys.error(s"no committed version under $dir")
          }
        }
    }
    new GraftSparkTable(spark, dir, v, external)
  }

  // inferSchema and getTable arrive back to back with the same options;
  // cache the resolved table so one read pays ONE manifest read and ONE
  // file listing, not two of each
  @transient private var cached: Option[(Map[String, String],
    GraftSparkTable)] = None

  private def cachedTableOf(options: CaseInsensitiveStringMap,
      external: Option[StructType]): GraftSparkTable = synchronized {
    val key = options.asCaseSensitiveMap().asScala.toMap
    cached match {
      case Some((k, t)) if k == key && t.snapshotVersion >= 0 => t
      case _ =>
        val t = tableOf(options, external)
        cached = Some((key, t))
        t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    cachedTableOf(options, None).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    cachedTableOf(new CaseInsensitiveStringMap(properties),
      Option(schema).filter(_.nonEmpty))
}

/** Shared V1-filter utilities for the scan's two manifest consumers
  * (the pruning verdict and the metadata-only aggregate gate). */
private[graft] object GraftFilters {
  /** Flatten a filter's implicit conjunction (nested Ands). */
  def conjuncts(f: sources.Filter): Seq[sources.Filter] = f match {
    case sources.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }
}

/** One committed version of a GraftTable dir as a DSv2 `Table`. All
  * manifest resolution happens ONCE here (one commit-file read); the
  * scan builder below reuses the parsed headers, the shared file index
  * and the lazily loaded deletion vector. */
private[graft] class GraftSparkTable(spark: SparkSession, val dir: String,
    val snapshotVersion: Int, externalSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite {

  /** snapshotVersion == -1 is the EMBRYONIC state: no version exists
    * yet, the table is write-only, and the first write mints v0. */
  private def exists: Boolean = snapshotVersion >= 0
  private val fs = GraftTable.fsOf(spark, dir)
  private[graft] val headers: Map[String, String] =
    if (exists) GraftTable.headersOf(fs, dir, snapshotVersion)
    else Map.empty
  private[graft] val dataDirs: Seq[String] =
    if (exists) GraftTable.dataDirsFrom(headers)
    else Nil
  dataDirs.foreach(d => require(fs.exists(new Path(s"$dir/$d")),
    s"version $snapshotVersion's data dir $d has been garbage-collected (retention)"))
  private[graft] val partCols: Seq[String] =
    headers.get("partby").map(_.split(",").toSeq).getOrElse(Nil)

  /** Declared within-file sort of the partby layout (sortw= header,
    * minted only by the engine-sorted write path or carried verbatim by
    * data-preserving doors): rows inside every partition-dir file are
    * sorted by these columns. The scan reports it through
    * SupportsReportOrdering under the one-unsplit-file-per-group guard. */
  private[graft] val sortWithinCols: Seq[String] =
    headers.get("sortw").map(_.split(",").toSeq).getOrElse(Nil)

  /** Declared bucket transform of the partby layout (bucketfn= header):
    * (n, keyCol, bucketCol) with bucketCol = floorMod(keyCol, n)
    * validated at every data-writing commit. The scan reports
    * `bucket(n, keyCol)` instead of the identity transform then, so two
    * co-bucketed tables storage-partition-join on the KEY column. */
  private[graft] val bucketFn: Option[(Int, String, String)] =
    GraftTable.bucketFnOf(headers)

  /** Logical→physical name mapping of a RENAME/DROP COLUMN predecessor
    * (colmap= header): the schemas this table SERVES stay logical; the
    * scan requests the physical names from parquet and renames at the
    * schema boundary only — rows are positional, so no per-row work. */
  private[graft] val colmap: Map[String, String] =
    headers.get("colmap").map(GraftTable.colmapDecode).getOrElse(Map.empty)
  private[graft] def physSchema(st: StructType): StructType =
    if (colmap.isEmpty) st
    else StructType(st.map(f => f.copy(name = colmap.getOrElse(f.name, f.name))))

  /** Committed schema from the manifest (schema= header), split into
    * data columns and partition columns the way every file-based table
    * serves them (partition columns LAST — matching the API read path's
    * `spark.read.parquet` output for partitionBy layouts). Falls back
    * to parquet inference for a pre-schema-header manifest. */
  private val (dataSchema: StructType, fullSchema: StructType) = {
    val fromHeader = headers.get("schema").map { enc =>
      StructType(GraftTable.schemaDecode(enc).map { case (n, t) =>
        StructField(n, DataType.fromDDL(t))
      })
    }.orElse(externalSchema).getOrElse {
      val opts = if (partCols.isEmpty) spark.read
        else spark.read.option("basePath", s"$dir/${dataDirs.head}")
      opts.parquet(dataDirs.map(d => s"$dir/$d"): _*).schema
    }
    val data = StructType(fromHeader.filterNot(f => partCols.contains(f.name)))
    val parts = partCols.map(c => fromHeader(fromHeader.fieldIndex(c)))
    (data, StructType(data.fields ++ parts))
  }

  /** The shared, prunable file index over the version's data dirs. One
    * listing per table instance; the scan builder installs a keep-set
    * before `build()` so skipped files never reach planning. */
  private[graft] val index: GraftFileIndex = {
    // single partitioned dir: anchor discovery to it explicitly (clone
    // references travel through `../`, and the anchor shares the files'
    // own prefix). A MULTI-dir partitioned chain (partby append) has no
    // single ancestor — omit basePath, so partition parsing anchors to
    // each root dir itself (the PartitioningAwareFileIndex default),
    // which is exactly the per-chain-dir layout the appends wrote.
    val params: Map[String, String] =
      if (partCols.isEmpty || dataDirs.length > 1) Map.empty
      else Map("basePath" -> s"$dir/${dataDirs.head}")
    new GraftFileIndex(spark, dataDirs.map(d => new Path(s"$dir/$d")),
      params, Some(physSchema(fullSchema)),
      partitionedChain = partCols.nonEmpty)
  }

  /** Canonical absolute path of a manifest-relative file reference —
    * the join key between manifest file names and index FileStatus
    * paths (clone references travel through `../`, hence normalize). */
  private[graft] def canonPath(rel: String): String =
    fs.makeQualified(new Path(s"$dir/$rel")).toUri.normalize().getPath

  /** Tombstone row count from the DV dir's parquet FOOTERS — O(dv
    * files) metadata reads, no data, no job. This is the scale gate's
    * input: the set-probe path below materializes every key on the
    * driver, which is fine for point deletes but a driver-memory
    * ceiling under a large un-purged delete (millions of keys). */
  private[graft] lazy val dvTombstoneRows: Long =
    headers.get("dv").map(spec =>
      GraftTable.dvFooterRows(spark, fs, dir, spec.split(";", -1)(0)))
      .getOrElse(0L)

  /** DV facts readable from the HEADER alone — every planning-time
    * consumer (column forcing, columnar verdict, streaming refusal,
    * metadata) must use these, not `dv`, so that plan building and
    * EXPLAIN never force the driver-side key collect; only execution
    * (partition repack + broadcast) touches the materialized set. */
  private[graft] def dvDeclared: Boolean = headers.contains("dv")
  private[graft] def dvKeyCols: Seq[String] =
    headers.get("dv").map(_.split(";", -1)(1).split(",").toSeq)
      .getOrElse(Nil)

  /** TRUE when the deletion vector is too large for the driver-side
    * collect + broadcast set probe — `LargeDvReadRule` then rewrites
    * the relation to the DISTRIBUTED anti-join plan (no driver
    * materialization, shuffle-eligible), and this table's `dv` is never
    * forced. A def, not a val: the threshold is session conf, so tests
    * and operators can move the gate without rebuilding the table. */
  private[graft] def dvServedByAntiJoin: Boolean =
    headers.contains("dv") &&
      dvTombstoneRows > GraftTable.dvBroadcastMaxKeys(spark)

  /** The version's deletion vector, loaded once: key columns plus key
    * tuples in CATALYST form — what executor-side InternalRow getters
    * yield, so probe and row can never disagree on representation. A
    * SCOPED dv (MoR update) resolves to one key set per chain-dir
    * basename; the scan then repacks partitions per dir so each reader
    * subtracts exactly its dir's tombstones (the replacement dir has
    * none and passes through untouched). Size posture: each collected
    * row is a deleted key, so the driver cost is O(tombstones) —
    * bounded by the `dvServedByAntiJoin` gate on the ordinary read
    * path (write-door plans that bypass the rule keep this collect;
    * purge/compaction clears it). Shared across statements through
    * `GraftDvInfo.load`'s memo. */
  private[graft] lazy val dv: Option[GraftDvInfo] =
    headers.get("dv").map(
      GraftDvInfo.load(spark, fs, dir, _, GraftTable.declaredSchemaOf(headers)))

  /** Row count answered from the stats= line for the KEPT file set —
    * what `estimateStatistics` serves. None without stats (or under a
    * DV, whose tombstones make raw file counts half-true). */
  private[graft] def manifestRows(keep: Option[String => Boolean])
      : Option[Long] =
    if (headers.contains("dv")) None
    else headers.get("stats").map(GraftTable.TableStats.decode).map { st =>
      st.files.filter(f => keep.forall(_(canonPath(statPath(f.file)))))
        .map(_.rows).sum
    }

  /** COLUMN-LEVEL Catalyst statistics from the manifest, for the kept
    * file set: per-column min/max (ordinals decoded back to catalyst
    * values through the REGISTRY encodings — only statenc-declared
    * columns, whose ordinal meaning the manifest itself defines) and
    * null counts. This is what lets CBO estimate filter selectivity and
    * reorder joins over graft scans from the transaction log instead of
    * running blind — the column-stat half of `SupportsReportStatistics`,
    * same source of truth as `manifestRows`. Empty under a DV (the
    * tombstones falsify per-file counts) or without stats. */
  private[graft] def manifestColStats(keep: Option[String => Boolean],
      outSchema: StructType): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val res = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]
    if (headers.contains("dv")) return res
    val encs: Map[String, String] =
      headers.get("statenc").map(GraftTable.StatsEnc.decode(_).toMap)
        .getOrElse(Map.empty)
    headers.get("stats").map(GraftTable.TableStats.decode).foreach { st =>
      val kept = st.files.filter(f =>
        keep.forall(_(canonPath(statPath(f.file)))))
      if (kept.nonEmpty) st.cols.zipWithIndex.foreach { case (c, i) =>
        if (outSchema.fieldNames.contains(c)) {
          val dt = outSchema(outSchema.fieldIndex(c)).dataType
          val mnOrd = kept.map(_.mins(i)).min
          val mxOrd = kept.map(_.maxs(i)).max
          val nulls: OptionalLong =
            if (kept.exists(_.nulls.isEmpty)) OptionalLong.empty()
            else OptionalLong.of(kept.map(_.nulls(i)).sum)
          // an all-null kept set records min > max sentinels — report
          // the null count alone then
          val (mnV, mxV) =
            if (mnOrd > mxOrd) (None, None)
            else encs.get(c) match {
              case Some(e) => (GraftTable.StatsEnc.ordinalValue(e, mnOrd, dt),
                GraftTable.StatsEnc.ordinalValue(e, mxOrd, dt))
              case None => (None, None)
            }
          if (mnV.isDefined || nulls.isPresent) {
            res.put(Expressions.column(c),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def min(): java.util.Optional[Object] =
                  mnV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  mxV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def nullCount(): OptionalLong = nulls
              })
          }
        }
      }
    }
    res
  }

  /** Stats file keys are dir-relative for plain commits and
    * table-relative for append commits — same split `readStatsBands`
    * resolves. */
  private[graft] def statPath(statFile: String): String =
    if (headers.contains("append") || headers.contains("statrel")) statFile
    else s"${dataDirs.head}/$statFile"

  /** Columns the MANIFEST can act on for this version — the statenc
    * band dimensions and the Bloom-indexed keys. The scan advertises
    * them as runtime-filter attributes too. */
  private[graft] def prunableCols: Seq[String] =
    (headers.get("statenc").map(GraftTable.StatsEnc.decode(_).map(_._1))
      .getOrElse(Nil) ++
      headers.get("bloom").map(GraftTable.bloomColsOf).getOrElse(Nil))
      .distinct

  /** Conjunctive manifest verdict from V1 filters (pushed at planning
    * or injected at RUNTIME): the canonical-path keep-set, or None when
    * no index applies (full scan). File-granularity and CONSERVATIVE
    * throughout — false positives only ever open an extra file (the
    * row-level predicate still runs above the scan); a predicate the
    * manifest cannot decide soundly contributes nothing. */
  private[graft] def manifestVerdict(pushed: Array[sources.Filter])
      : Option[String => Boolean] = {
    // flatten the implicit conjunction (the array) plus nested Ands
    val preds = pushed.toSeq.flatMap(GraftFilters.conjuncts)

    // ---- stats bands (statenc-declared columns only) ----
    val encs: Map[String, String] =
      headers.get("statenc").map(GraftTable.StatsEnc.decode(_).toMap)
        .getOrElse(Map.empty)
    def ord(c: String, v: Any): Option[Long] =
      encs.get(c).flatMap(e => GraftTable.StatsEnc.literalOrdinal(e, v))
    val statCols: Set[String] = headers.get("stats")
      .map(s => GraftTable.TableStats.decode(s).cols.toSet)
      .getOrElse(Set.empty)
    val bands: Seq[GraftTable.Band] = preds.flatMap {
      case sources.EqualTo(c, v) =>
        ord(c, v).map(o => GraftTable.RangeBand(c, o, o))
      case sources.GreaterThan(c, v) =>
        ord(c, v).map(o => GraftTable.RangeBand(c, o, Long.MaxValue))
      case sources.GreaterThanOrEqual(c, v) =>
        ord(c, v).map(o => GraftTable.RangeBand(c, o, Long.MaxValue))
      case sources.LessThan(c, v) =>
        ord(c, v).map(o => GraftTable.RangeBand(c, Long.MinValue, o))
      case sources.LessThanOrEqual(c, v) =>
        ord(c, v).map(o => GraftTable.RangeBand(c, Long.MinValue, o))
      case sources.In(c, vs) if vs.nonEmpty =>
        val os = vs.toSeq.map(ord(c, _))
        if (os.forall(_.isDefined))
          Some(GraftTable.RangeBand(c, os.flatten.min, os.flatten.max))
        else None
      case sources.IsNull(c) if statCols.contains(c) =>
        Some(GraftTable.NullBand(c, isNull = true))
      case sources.IsNotNull(c) if statCols.contains(c) =>
        Some(GraftTable.NullBand(c, isNull = false))
      case _ => None
    }
    val bandKeep: Option[Set[String]] =
      if (bands.isEmpty) None
      else headers.get("stats").map { s =>
        GraftTable.TableStats.decode(s).matching(bands)
          .map(f => canonPath(statPath(f.file))).toSet
      }

    // ---- Bloom probes (equality / IN on any indexed column) ----
    val bloomKeep: Option[Set[String]] =
      headers.get("bloom").flatMap { b =>
        val cols = GraftTable.bloomColsOf(b).toSet
        val probes: Seq[(String, Seq[Any])] = preds.collect {
          case sources.EqualTo(c, v) if cols(c) => (c, Seq(v))
          case sources.In(c, vs) if cols(c) && vs.nonEmpty => (c, vs.toSeq)
        }
        if (probes.isEmpty) None
        else scala.util.Try {
          val perDir =
            GraftTable.perDirBlooms(fs, dir, snapshotVersion)._1
          // IN = union over the probed values; conjuncts (and distinct
          // probed columns) intersect below
          probes.map { case (c, vs) =>
            perDir.flatMap { case (dd, tbs) =>
              val tb = tbs.find(_.col == c).getOrElse(sys.error(
                s"chain dir $dd has no Bloom section on '$c'"))
              vs.flatMap(v => tb.mightContain(
                GraftTable.bloomPositions(v, tb.m, tb.k)))
                .map(f => canonPath(s"$dd/$f"))
            }.toSet
          }.reduce(_ intersect _)
        }.toOption // an unprobeable literal type ⇒ no pruning, never a guess
      }

    (bandKeep, bloomKeep) match {
      case (None, None) => None
      case (a, b) =>
        val s = (a.toSeq ++ b.toSeq).reduce(_ intersect _)
        Some(s.contains)
    }
  }

  /** A name Spark's identifier parser accepts (its write-resolution
    * errors parse it back); scan descriptions add the version. */
  override def name(): String = s"graft.`${dir.replace("`", "``")}`"
  private[graft] def versionedName: String = s"${name()}@v$snapshotVersion"
  override def schema(): StructType = fullSchema
  override def partitioning(): Array[Transform] =
    partCols.map(Expressions.identity).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(exists,
      s"no committed version under $dir — the table exists only as a " +
        "write target until its first commit")
    // BACKSTOP, not the serving path: plain reads of a pdv version are
    // rewritten to the merged API plan by LargeDvReadRule before any
    // scan is built; a relation that still reaches here is a pinned
    // DML/write target (whose rewrite would corrupt the sidecar
    // semantics) or a session without GraftExtensions — refuse loudly
    // rather than silently serve position-tombstoned rows raw
    require(!headers.contains("pdv"),
      s"version $snapshotVersion of $dir carries a positional deletion " +
        "vector the DSv2 scan does not merge — SELECTs are served " +
        "through the extension rewrite (spark.sql.extensions=" +
        "graft.GraftExtensions); DML/write doors on a pdv head must " +
        "purgePositionalDv first")
    new GraftScanBuilder(spark, this, dataSchema, fullSchema, options)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    // declaring `upsertKeys` selects the UPSERT streaming door, whose
    // builder carries the SupportsStreamingUpdateAsAppend marker so
    // OutputMode.Update passes Spark's sink validation; without the
    // declaration the plain builder refuses Update mode via Spark's own
    // error — an update stream appended blindly would silently turn
    // the table into a changelog
    if (info.options().containsKey("upsertKeys"))
      new GraftUpsertWriteBuilder(spark, this, info)
    else new GraftWriteBuilder(spark, this, info)
}

/** Scan builder: DELEGATES filter/column pushdown to Spark's own
  * `ParquetScanBuilder` (so parquet row-group pushdown, nested pruning
  * and partition filtering stay exactly stock), then at `build()` turns
  * the pushed V1 filters into manifest verdicts — stats bands + Bloom
  * probes — and installs the resulting keep-set on the shared index
  * BEFORE planning, so pruned files are never split into partitions,
  * never opened, never footer-read. */
private[graft] class GraftScanBuilder(spark: SparkSession,
    table: GraftSparkTable, dataSchema: StructType, fullSchema: StructType,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // the inner parquet builder binds the PHYSICAL names (a colmap
  // predecessor's files were written before the rename; an identity
  // mapping leaves everything untouched) — the logical names reappear
  // only at the output-schema boundary in build()
  private val inner = ParquetScanBuilder(spark, table.index,
    table.physSchema(fullSchema), table.physSchema(dataSchema), options)
  private val colmapInv: Map[String, String] = table.colmap.map(_.swap)
  private var requestedNames: Seq[String] = fullSchema.fieldNames.toSeq
  // every conjunct Spark pushed, as V1 filters — the manifest verdict's
  // input (the inner builder's own pushedDataFilters is protected)
  private var pushedV1: Array[sources.Filter] = Array.empty

  // whether every pushed predicate made it into `pushedV1` — a conjunct
  // the V1 bridge cannot express would otherwise be INVISIBLE to the
  // metadata-only aggregate gate below, which must see (and decide)
  // every filter or stand down
  private var allFiltersTranslated = true

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // pushed predicates reference LOGICAL attribute names — rewrite to
    // physical for the parquet builder, and hand any residual back to
    // Spark under its ORIGINAL logical expression (it re-evaluates
    // residuals against the relation's logical output)
    val phys =
      if (table.colmap.isEmpty) filters
      else filters.map(_.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
            if table.colmap.contains(a.name) =>
          a.withName(table.colmap(a.name))
      })
    pushedV1 = phys.flatMap(e =>
      org.apache.spark.sql.graft.GraftSqlBridge.translateFilter(e)).toArray
    allFiltersTranslated &&= pushedV1.length == phys.length
    val residual = inner.pushFilters(phys)
    if (table.colmap.isEmpty) residual
    else {
      val back = phys.zip(filters).toMap
      residual.map(e => back.getOrElse(e, e))
    }
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requestedNames = requiredSchema.fieldNames.toSeq
    // a deletion vector filters rows BY KEY inside the readers, so the
    // key columns must be read even when the query didn't ask for them;
    // the GraftScan projects them back out before rows leave the scan
    val forced = table.dvKeyCols
      .filterNot(k => requiredSchema.fieldNames.contains(k))
    inner.pruneColumns(table.physSchema(StructType(requiredSchema.fields ++
      forced.map(c => fullSchema(fullSchema.fieldIndex(c))))))
  }

  // ---- METADATA-ONLY aggregate pushdown (SupportsPushDownAggregates):
  // a group-by-free COUNT(*)/COUNT(col)/MIN/MAX whose every input is
  // recorded in the manifest stats= line is answered from the
  // transaction log alone — zero files opened, zero tasks over data, at
  // ANY table size. The 100 TB "how many rows / what's the date range"
  // query becomes one driver-side manifest decode. Strictly gated:
  //  - no filters of any kind reached the scan (manifest totals
  //    describe the whole version);
  //  - no deletion vector (tombstones falsify per-file counts);
  //  - the stats= line covers EXACTLY the live file set (set equality
  //    against the index — a partially-covered chain refuses);
  //  - MIN/MAX only on statenc-declared columns whose registry encoding
  //    round-trips the column's type (sound by the registry contract:
  //    every encoding is monotone, so file-band extremes ARE column
  //    extremes); COUNT(col) only when every file records null counts.
  // Anything outside the gate returns false and Spark plans the
  // ordinary distributed aggregate — never a guess.
  private var metaAgg: Option[(StructType, Seq[Seq[Any]])] = None
  // memo for the supportCompletePushDown → pushAggregation double call
  // (Aggregation is a record with structural equality): one manifest
  // decode + file-set walk per builder, not two
  private var metaAggMemo: Option[(
    org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    Option[(StructType, Seq[Seq[Any]])])] = None

  private def metaAggFor(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = metaAggMemo match {
    case Some((a, r)) if a == agg => r
    case _ =>
      val r = metaAggResult(agg)
      metaAggMemo = Some((agg, r))
      r
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = metaAggFor(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val r = metaAggFor(agg)
    metaAgg = r
    r.isDefined
  }

  private def metaAggResult(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types.LongType
    if (table.headers.contains("dv")) return None
    val statsHdr = table.headers.get("stats").getOrElse(return None)
    val st = GraftTable.TableStats.decode(statsHdr)
    // coverage gate: the stats line must describe EXACTLY the live file
    // set (the index's listing is already cached driver-side)
    val canonOf: GraftTable.FileStats => String =
      f => table.canonPath(table.statPath(f.file))
    val statPaths = st.files.map(canonOf).toSet
    val livePaths = table.index.allFiles()
      .map(_.getPath.toUri.normalize().getPath).toSet
    if (statPaths != livePaths) return None
    val encs: Map[String, String] =
      table.headers.get("statenc")
        .map(GraftTable.StatsEnc.decode(_).toMap).getOrElse(Map.empty)
    def single(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames().head)
      case _ => None
    }
    // GROUP BY is served too, when every group key is a PARTITION
    // column: a file's whole group key is its dir, so per-group totals
    // are exact per-dir sums of the same per-file stats — the 100 TB
    // "rows per partition / date range per partition" report, still
    // zero files opened. (A strict subset of the partition columns is
    // fine: groups then merge across the remaining dir levels.)
    val gbNames = agg.groupByExpressions().toSeq.map(single)
    if (gbNames.exists(_.isEmpty)) return None
    val gbCols = gbNames.flatten
    if (gbCols.distinct.size != gbCols.size) return None
    if (!gbCols.forall(table.partCols.contains)) return None
    // stats columns are recorded under PHYSICAL names; the pushed
    // aggregate references logical ones
    def phys(c: String): String = table.colmap.getOrElse(c, c)
    def colIdx(c: String): Option[Int] = {
      val p = phys(c)
      val i = st.cols.indexOf(p)
      if (i >= 0) Some(i) else None
    }
    def logicalType(c: String): Option[DataType] =
      if (fullSchema.fieldNames.contains(c))
        Some(fullSchema(fullSchema.fieldIndex(c)).dataType)
      else None
    // the encoding must ROUND-TRIP the column's type, for COUNT(col)
    // as much as for MIN/MAX: a lossy declaration ("id" on a string
    // column) writes ordinal nulls for values that are NOT null, so its
    // recorded null counts describe the ordinal, not the column —
    // serving rows-minus-nulls from them would be silently wrong
    def encRoundTrips(c: String): Boolean =
      logicalType(c).exists { dt =>
        encs.get(phys(c)).exists { enc =>
          (enc, dt) match {
            case ("us", org.apache.spark.sql.types.TimestampNTZType) => true
            case _ => GraftTable.StatsEnc.ordinalValue(enc, 0L, dt).isDefined
          }
        }
      }
    // ---- filters: a filtered aggregate is still metadata-exact when
    // EVERY conjunct is decidable per partition DIR (equality / IN /
    // null tests on partition columns — the same decisions partition
    // pruning makes, which are exact, never approximate). Any other
    // filter shape, any filter on a data column, or a conjunct the V1
    // bridge could not even express, stands the whole pushdown down.
    val conjuncts = pushedV1.toSeq.flatMap(GraftFilters.conjuncts)
    if (!allFiltersTranslated) return None
    if (conjuncts.nonEmpty && table.partCols.isEmpty) return None
    // the dir table: every partition value tuple with its path prefix
    // (needed for filters AND for group keys)
    lazy val spec = table.index.partitionSpec()
    def isPart(c: String): Boolean = table.partCols.contains(c)
    def dirPasses(values: InternalRow): Option[Boolean] = {
      def pv(c: String): Any = {
        val i = spec.partitionColumns.fieldIndex(c)
        values.get(i, spec.partitionColumns.fields(i).dataType)
      }
      def conv(c: String, v: Any): Any = {
        val i = spec.partitionColumns.fieldIndex(c)
        CatalystTypeConverters.createToCatalystConverter(
          spec.partitionColumns.fields(i).dataType)(v)
      }
      val verdicts = conjuncts.map {
        case sources.EqualTo(c, v) if isPart(c) =>
          Some(pv(c) != null && pv(c) == conv(c, v))
        case sources.In(c, vs) if isPart(c) =>
          Some(pv(c) != null && vs.exists(v => conv(c, v) == pv(c)))
        case sources.IsNotNull(c) if isPart(c) => Some(pv(c) != null)
        case sources.IsNull(c) if isPart(c) => Some(pv(c) == null)
        case _ => None
      }
      if (verdicts.exists(_.isEmpty)) None
      else Some(verdicts.flatten.forall(identity))
    }
    // files that survive the dir filter, each with its dir's values
    val keptFiles: Seq[(GraftTable.FileStats, Option[InternalRow])] =
      if (table.partCols.isEmpty) st.files.map((_, None))
      else {
        val dirs: Seq[(String, InternalRow, Boolean)] =
          spec.partitions.map { pp =>
            dirPasses(pp.values) match {
              case Some(keep) =>
                (pp.path.toUri.normalize().getPath, pp.values, keep)
              case None => return None // an undecidable conjunct
            }
          }
        st.files.flatMap { f =>
          val p = canonOf(f)
          dirs.find { case (d, _, _) => p.startsWith(d + "/") } match {
            case Some((_, values, keep)) =>
              if (keep) Some((f, Some(values))) else None
            case None => return None // a file outside every known dir
          }
        }
      }
    // file → its group key (the dir's partition values projected onto
    // the group-by columns, in group-by order); one flat key for the
    // global aggregate
    val groups: Seq[(Seq[Any], Seq[GraftTable.FileStats])] =
      if (gbCols.isEmpty) Seq((Nil, keptFiles.map(_._1)))
      else {
        val idx = gbCols.map(spec.partitionColumns.fieldIndex)
        val dts = idx.map(i => spec.partitionColumns.fields(i).dataType)
        keptFiles.map { case (f, values) =>
          val vs = values.getOrElse(return None)
          (idx.zip(dts).map { case (i, dt) => vs.get(i, dt) }, f)
        }.groupBy(_._1).toSeq
          .map { case (k, fs) => (k, fs.map(_._2)) }
          .sortBy(_._1.map(String.valueOf).mkString(" "))
      }
    def extreme(c: String, isMin: Boolean, fs: Seq[GraftTable.FileStats])
        : Option[(StructField, Any)] = for {
      i <- colIdx(c)
      dt <- logicalType(c)
      enc <- encs.get(phys(c))
      // all-null files record min > max sentinels and contribute
      // nothing to a column extreme; SQL MIN/MAX ignore nulls the
      // same way
      live = fs.filter(f => f.rows > 0 && f.mins(i) <= f.maxs(i))
      v <- if (live.isEmpty) Some(null)
      else {
        val ord = if (isMin) live.map(_.mins(i)).min
        else live.map(_.maxs(i)).max
        (enc, dt) match {
          // ntz under the "us" encoding is an exact bijection (the
          // registry pins the writer session to UTC, and catalyst ntz
          // IS a micros Long) — sound for a VALUE answer, even though
          // ordinalValue refuses ntz for the CBO column-stat surface
          // (Spark's FilterEstimation MatchErrors on ntz there)
          case ("us", org.apache.spark.sql.types.TimestampNTZType) =>
            Some(ord)
          case _ => GraftTable.StatsEnc.ordinalValue(enc, ord, dt)
        }
      }
    } yield (StructField(s"${if (isMin) "min" else "max"}_$c", dt,
      nullable = true), v)
    def aggOver(fs: Seq[GraftTable.FileStats])
        : Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          Some((StructField("count_star", LongType, nullable = false),
            fs.map(_.rows).sum))
        case c: Count if !c.isDistinct =>
          for {
            name <- single(c.column())
            i <- colIdx(name)
            // COUNT(col) = rows - nulls; requires every file to carry
            // the null-count extension (older stats lines omit it) AND
            // a type-exact encoding (the null counts count ORDINAL
            // nulls — only a round-tripping encoding makes those the
            // column's nulls)
            if fs.forall(_.nulls.nonEmpty) && encRoundTrips(name)
          } yield (StructField(s"count_$name", LongType, nullable = false),
            fs.map(_.rows).sum - fs.map(_.nulls(i)).sum)
        case m: Min =>
          single(m.column()).flatMap(extreme(_, isMin = true, fs))
        case m: Max =>
          single(m.column()).flatMap(extreme(_, isMin = false, fs))
        case _ => None
      }
    val gbFields: Seq[Option[StructField]] = gbCols.map(c =>
      logicalType(c).map(dt => StructField(c, dt, nullable = true)))
    if (gbFields.exists(_.isEmpty)) return None
    // supportability is decided DATA-INDEPENDENTLY first (a probe over
    // no files): with zero groups there would be no per-group evidence,
    // and the schema must still carry one field per aggregate
    val probe = aggOver(Nil)
    if (probe.exists(_.isEmpty)) return None
    val perGroup: Seq[(Seq[Any], Seq[Option[(StructField, Any)]])] =
      groups.map { case (key, fs) => (key, aggOver(fs)) }
    if (perGroup.exists(_._2.exists(_.isEmpty))) None
    else Some((StructType(gbFields.flatten ++ probe.flatten.map(_._1)),
      perGroup.map { case (key, outs) => key ++ outs.flatten.map(_._2) }))
  }

  override def build(): Scan = {
    // a completely-pushed aggregation short-circuits everything below:
    // the answer was already computed from the manifest, no file is
    // planned, opened or read
    metaAgg.foreach { case (schema, values) =>
      return new GraftMetaAggScan(table, schema, values)
    }
    // the keep-set is SCAN-LOCAL state: it rides into the GraftScan and
    // filters planned partitions there — never installed on the shared
    // file index, where two scans of the same loaded table (a self-join,
    // a union of two filters) would clobber each other's pruning
    val ps = inner.build()
    // serve the LOGICAL names: the inner scan read the physical ones;
    // rows are positional, so the rename is schema-only
    val out = StructType(ps.readSchema().fields
      .filter(f => requestedNames
        .contains(colmapInv.getOrElse(f.name, f.name)))
      .map(f => f.copy(name = colmapInv.getOrElse(f.name, f.name))))
    new GraftScan(ps, out, table, table.manifestVerdict(pushedV1), options)
  }
}

/** The scan a COMPLETELY-pushed aggregation resolves to: one partition,
  * one row per group (one total row when there is no group-by), values
  * computed driver-side from the manifest stats line — the data files
  * are never planned, opened, or footer-read. Rows ride as plain JVM /
  * catalyst-internal values (counts are Longs; statenc extremes and
  * partition-dir group keys decode to catalyst form by construction),
  * so the reader just wraps them in GenericInternalRows. */
private[graft] case class GraftMetaAggPartition(rows: Seq[Seq[Any]])
    extends InputPartition

private[graft] class GraftMetaAggScan(table: GraftSparkTable,
    schema: StructType, rows: Seq[Seq[Any]])
    extends Scan with Batch with SupportsMetadata {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftMetaAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
        private val it = p.asInstanceOf[GraftMetaAggPartition].rows.iterator
        private var cur: Seq[Any] = _
        override def next(): Boolean = if (it.hasNext) {
          cur = it.next(); true
        } else false
        override def get(): InternalRow =
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(cur.toArray)
        override def close(): Unit = ()
      }
    }
  override def description(): String =
    s"GraftMetaAggScan ${table.versionedName} " +
      s"[metadata-only: ${schema.fieldNames.mkString(", ")}]"
  override def getMetaData(): Map[String, String] = Map(
    "GraftMetaAgg" -> "true",
    "GraftVersion" -> table.snapshotVersion.toString)
}

/** A planned file group that knows its partition-key value: what
  * Spark's key-grouped (storage-partitioned) execution consumes. Plain
  * subclass of `FilePartition` so the stock parquet reader factory
  * keeps matching it. */
private[graft] class GraftKeyedFilePartition(index: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: InternalRow) extends FilePartition(index, files)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** The served scan: Spark's `ParquetScan` over the pruned index, plus
  * (a) manifest-truth `SupportsReportStatistics` and (b) deletion-vector
  * row filtering in the reader factory when the version is
  * merge-on-read. Without a DV the inner factory is served UNCHANGED —
  * vectorized, columnar, whole-stage-codegen-friendly. */
private[graft] class GraftScan(inner: ParquetScan, out: StructType,
    table: GraftSparkTable, keep: Option[String => Boolean],
    scanOptions: CaseInsensitiveStringMap =
      CaseInsensitiveStringMap.empty())
    extends Scan with Batch with SupportsReportStatistics
    with SupportsMetadata
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType = out
  override def toBatch: Batch = this

  // ---- RUNTIME file skipping (the DSv2 dynamic-pruning protocol):
  // joining this scan against a selective build side hands the build
  // side's key values here as IN filters BEFORE partitions plan, and
  // the same manifest verdict — Bloom probes, statenc bands — prunes
  // files per VALUE SET at runtime, not just per literal at compile
  // time. The 100 TB star-join lever: a fact scan opens only the files
  // that can hold the dimension slice's keys.
  @volatile private var runtimeKeep: Option[String => Boolean] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns the scan still OUTPUTS: Spark's dynamic-pruning rules
    // resolve these against the relation's (column-pruned) output and
    // throw on a miss — a query that pruned an indexed column away
    // cannot feed it runtime filters through a join anyway
    table.prunableCols.filter(out.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(filters: Array[sources.Filter]): Unit =
    runtimeKeep = table.manifestVerdict(filters)

  /** Observability hook for the runtime-pruning spec. */
  private[graft] def runtimePruned: Boolean = runtimeKeep.isDefined

  private def effectiveKeep: Option[String => Boolean] =
    (keep, runtimeKeep) match {
      case (None, None) => None
      case (a, b) =>
        Some(p => a.forall(_(p)) && b.forall(_(p)))
    }

  // ---- STORAGE-PARTITIONED JOIN (SupportsReportPartitioning): a
  // partitionBy table reports KeyGroupedPartitioning over its partition
  // columns (identity transforms) and plans one HasPartitionKey group
  // per live partition value — so a join of two co-partitioned graft
  // tables on those columns, or a groupBy over them, runs with NO
  // shuffle on either side. At 100 TB that is the difference between a
  // co-located merge and moving both tables over the network. Gated on
  // Spark's own spark.sql.sources.v2.bucketing.enabled (default false,
  // same switch every SPJ source honors: grouping trades per-key task
  // parallelism for shuffle elimination, a choice the user makes), and
  // only when the scan still OUTPUTS every partition column, there is
  // no deletion vector (its per-dir repack conflicts with key groups;
  // dv+partby cannot coexist today anyway) and no colmap rename
  // shadowing the key names.
  // a LAZY VAL, not a def: outputPartitioning/outputOrdering (optimizer
  // time) and planInputPartitions (execution time) must see the SAME
  // verdict — a bucketing-conf flip between the two would otherwise
  // let an ordering/partitioning claim stand over bin-packed partitions
  private lazy val spjEligible: Boolean =
    table.partCols.nonEmpty && !table.dvDeclared &&
      table.colmap.isEmpty &&
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
        .toBoolean &&
      // identity keys group on the reader's partition VALUES, so the
      // partition columns must have survived pruning; a bucket layout
      // groups on the DIR NAMES instead (the key column the transform
      // references typically is selected — it's the join key — while
      // the bucket column itself almost never is)
      (table.bucketFn.isDefined ||
        table.partCols.forall(inner.readPartitionSchema.fieldNames.contains))

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjEligible) {
      // distinct live partition values — the grouped partition count
      // (Spark rebuilds the physical partitioning from the actual
      // planned groups; this count is the planning-time estimate)
      val n = table.index.partitionSpec().partitions
        .map(_.values).distinct.size
      // a DECLARED bucket layout reports the bucket transform of the
      // KEY column (so joins on the key itself align); the key must
      // still be in the scan's output for Spark to resolve the
      // transform's reference — when pruned away, resolution finds no
      // attribute and Spark ignores the report (its documented
      // fallback), exactly as if we reported UnknownPartitioning
      val keys: Array[org.apache.spark.sql.connector.expressions
        .Expression] = table.bucketFn match {
        case Some((nb, keyCol, _)) =>
          Array(Expressions.bucket(nb, keyCol))
        case None =>
          table.partCols.map(c => Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression)
            .toArray
      }
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(keys, n)
    } else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)

  // ---- SupportsReportOrdering: eliminate the Sort under SPJ sort-merge
  // joins. Per-partition ordering claims, valid by construction:
  //  - IDENTITY SPJ groups hold exactly ONE partition-column value each
  //    (spjRegroup keys on the values), so ANY ordering claim on the
  //    partition columns holds — reporting them satisfies the SMJ's
  //    requiredOrdering on the join keys with zero fragility.
  //  - A sortw= layout (engine-sorted: one file per partition dir, rows
  //    sorted within) additionally orders rows by the declared columns
  //    — but only while each key group plans as ONE UNSPLIT file
  //    (concatenating two sorted files is not sorted; a byte-range
  //    split could reorder across task boundaries). The guard checks
  //    the listing against files.maxPartitionBytes and REFUSES the
  //    claim otherwise — an elided Sort that lies corrupts the join.
  // Reported only when key-grouped planning is on (spjEligible): a
  // bin-packed flat scan mixes partition values per task and no claim
  // below survives it.
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    if (!spjEligible) return Array.empty
    val cols: Seq[String] = table.bucketFn match {
      // bucket groups hold MANY key values — only the within-file sort
      // orders them, and the join key (not the bucket col) is what the
      // SMJ requires
      case Some(_) => if (sortClaimOk) table.sortWithinCols else Nil
      // identity groups: partition columns are constant per group
      // (always claimable); a sortw suffix extends the claim. Filter
      // to the scan's OUTPUT defensively — ordering resolution is
      // STRICT (V2ExpressionUtils.toCatalystOrdering throws on a
      // missing attribute, unlike the partitioning path's lenient
      // toCatalystOpt), and a subset claim over constant columns is
      // always sound
      case None =>
        table.partCols.filter(out.fieldNames.contains) ++
          (if (sortClaimOk) table.sortWithinCols else Nil)
    }
    cols.distinct.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING,
        NullOrdering.NULLS_FIRST)).toArray
  }

  /** The within-file sort claim is SERVABLE: a sortw= declaration whose
    * columns survive pruning, over a layout where every live partition
    * dir holds exactly ONE data file. Byte-range splits of that file
    * are fine — `spjRegroup` collapses a claimed group into one
    * partition with the splits in (path, offset) order, so rows stream
    * in file order however large the file grows (the guard no longer
    * turns the tier off at exactly the scale it exists for). A
    * multi-FILE group still refuses: concatenating two sorted files is
    * not sorted. A LAZY VAL: outputOrdering (optimizer time) and
    * planInputPartitions (execution time) must agree — the claim and
    * the merge that makes it true are one decision. O(cached listing),
    * no I/O. */
  private lazy val sortClaimOk: Boolean =
    table.sortWithinCols.nonEmpty &&
      table.sortWithinCols.forall(out.fieldNames.contains) &&
      table.index.listFiles(Nil, Nil).forall(_.files.length == 1)

  /** Regroup planned files into one partition per partition-key value,
    * each carrying its key (`HasPartitionKey`) so Spark's key-grouped
    * execution can line both join sides up without an exchange. */
  private def spjRegroup(parts: Array[InputPartition])
      : Array[InputPartition] = {
    val keyOf: org.apache.spark.sql.execution.datasources.PartitionedFile
        => Seq[Any] = table.bucketFn match {
      case Some((_, _, bCol)) =>
        // bucket layouts key on the DIR NAME (`cb=<i>`): the bucket
        // column is rarely in the scan's pruned output, but the path
        // always carries it — and the dir values are commit-validated
        // ints, so the parse is exact
        f => {
          val dirName = f.toPath.getParent.getName
          val v = dirName.stripPrefix(s"$bCol=")
          Seq(if (v == "__HIVE_DEFAULT_PARTITION__") null
          else Integer.valueOf(v.toInt))
        }
      case None =>
        val pschema = inner.readPartitionSchema
        val idx = table.partCols.map(pschema.fieldIndex)
        val dts = idx.map(i => pschema.fields(i).dataType)
        f => idx.zip(dts).map { case (i, dt) => f.partitionValues.get(i, dt) }
    }
    // TWO packing modes. Default: split each PLANNED partition by key
    // rather than globally merging per key — when key-grouped execution
    // engages, Spark merges same-key splits itself (groupPartitions),
    // and when it does NOT engage (path read without a function
    // catalog, pruned identity keys) the original read parallelism
    // survives instead of collapsing to one task per partition value.
    // Under a SERVED ordering claim (sortClaimOk) the merge must be
    // OURS: the claim stands on rows streaming in file-offset order,
    // and Spark's same-key merge order is an unspecified internal — so
    // each key's pieces collapse into ONE partition here, byte-range
    // splits ordered by (path, start). That keeps the sorted tier live
    // for files bigger than the split size (one task per group is the
    // layout's nature — one file per group — so no parallelism beyond
    // the splits is lost that the claim didn't already require).
    val grouped: Seq[(Seq[Any],
        Seq[org.apache.spark.sql.execution.datasources.PartitionedFile])] =
      parts.toSeq.flatMap {
        case fp: FilePartition =>
          fp.files.toSeq.groupBy(keyOf).toSeq
            // deterministic order: sort by the key's string image
            .sortBy(_._1.map(String.valueOf).mkString(" "))
            .map { case (key, fs) =>
              (key, fs.sortBy(f => (f.urlEncodedPath, f.start))) }
        case other => return parts // non-file partitions: never regroup
      }
    val merged =
      if (!sortClaimOk) grouped
      else grouped.groupBy(_._1).toSeq
        .sortBy(_._1.map(String.valueOf).mkString(" "))
        .map { case (key, pieces) =>
          (key, pieces.flatMap(_._2)
            .sortBy(f => (f.urlEncodedPath, f.start))) }
    merged.zipWithIndex.map { case ((key, fs), i) =>
      new GraftKeyedFilePartition(i, fs.toArray,
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(key.toArray)): InputPartition
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // manifest pruning applies HERE, scan-locally: drop skipped files
    // from the planned partitions (they are never opened — the readers
    // only ever see what the partitions name), then repack per dir when
    // a scoped DV binds tombstones to chain dirs
    val all = inner.toBatch.planInputPartitions()
    val base = effectiveKeep match {
      case None => all
      case Some(k) => all.flatMap {
        case fp: FilePartition =>
          val kept = fp.files.filter(f =>
            k(f.toPath.toUri.normalize().getPath))
          if (kept.isEmpty) None else Some(FilePartition(0, kept))
        case other => Some(other)
      }.zipWithIndex.map {
        case (fp: FilePartition, i) => FilePartition(i, fp.files)
          : InputPartition
        case (other, _) => other
      }
    }
    table.dv match {
      case Some(d) if d.perDir.isDefined =>
        // scoped tombstones bind per chain dir: repack so every file
        // partition holds files of ONE dir, so its reader subtracts
        // exactly that dir's key set
        base.flatMap {
          case fp: FilePartition =>
            fp.files.groupBy(f => GraftDvInfo.dirOf(f)).values
              .map(fs => FilePartition(0, fs): InputPartition)
          case other => Seq(other)
        }.zipWithIndex.map {
          case (fp: FilePartition, i) => FilePartition(i, fp.files)
          case (other, _) => other
        }
      case _ if spjEligible => spjRegroup(base)
      case _ => base
    }
  }

  // BROADCAST the tombstones ONCE per scan (the API read path's
  // posture): one transfer per executor instead of a full key-set copy
  // in every task's closure — and one broadcast however many times a
  // cached plan re-executes this scan
  private lazy val dvBroadcast
      : Option[org.apache.spark.broadcast.Broadcast[GraftDvInfo]] =
    table.dv.map(d => org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(d))

  override def createReaderFactory(): PartitionReaderFactory =
    dvBroadcast match {
      case None => inner.toBatch.createReaderFactory()
      case Some(bc) =>
        new DvFilteringReaderFactory(inner.toBatch.createReaderFactory(),
          inner.readSchema(), out, bc)
    }

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (!table.dvDeclared) inner.columnarSupportMode()
    // NOT PARTITION_DEFINED: Spark refuses mixed row/columnar
    // partitions in one scan ("Cannot mix row-based and columnar input
    // partitions", DataSourceV2ScanExecBase.supportsColumnar), and a
    // dir-scoped DV always leaves at least one partition tombstoned —
    // so per-partition columnar pass-through can never engage. The DV
    // read path's scale tier is the binary UnsafeRow probe instead.
    else Scan.ColumnarSupportMode.UNSUPPORTED

  /** Manifest-truth planning statistics: bytes from the PRUNED file set
    * (so a band/Bloom hit below the broadcast threshold flips the join
    * plan before AQE), row count from the stats= line when the version
    * carries one. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(table.index.bytesWhere(keep))
    override def numRows(): OptionalLong =
      table.manifestRows(keep)
        .map(OptionalLong.of).getOrElse(OptionalLong.empty())
    // column min/max/null-count from the stats= line (registry-decoded)
    // — with CBO on, filter-selectivity estimates and join reordering
    // over graft scans read the transaction log's truth
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      table.manifestColStats(keep, out)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!table.dvDeclared,
      "streaming reads require an append-only history — the current " +
        "version carries a deletion vector (cdcSubscribeTyped serves " +
        "typed diffs)")
    new GraftMicroBatchStream(
      org.apache.spark.sql.SparkSession.active, table, inner, scanOptions)
  }

  override def description(): String =
    s"GraftScan ${table.versionedName} " + inner.description()

  override def getMetaData(): Map[String, String] =
    inner.getMetaData() ++ Map(
      "GraftVersion" -> table.snapshotVersion.toString,
      "GraftDV" -> table.dvDeclared.toString,
      "GraftManifestPruned" -> keep.isDefined.toString)
}

/** A version's loaded deletion vector: unscoped tombstones kill their
  * key everywhere (`global`); scoped ones (MoR update) kill per
  * chain-dir basename (`perDir`). */
private[graft] case class GraftDvInfo(keyCols: Seq[String],
    perDir: Option[Map[String, Set[Seq[Any]]]], global: Set[Seq[Any]]) {
  def forPartition(p: InputPartition): Set[Seq[Any]] = perDir match {
    case None => global
    case Some(m) => p match {
      case fp: FilePartition if fp.files.nonEmpty =>
        m.getOrElse(GraftDvInfo.dirOf(fp.files.head), Set.empty)
      case _ => Set.empty
    }
  }
}

private[graft] object GraftDvInfo {
  /** Observability hook: how many times a deletion vector was
    * materialized ON THE DRIVER (the set-probe path). The large-DV
    * fallback spec pins that its tier never increments this. */
  private[graft] val driverCollects =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Observability hook: how many loads `load`'s memo served. */
  private[graft] val memoHits = new java.util.concurrent.atomic.AtomicLong(0)

  /** Loaded deletion vectors by qualified DV dir (plus the declared key
    * types the rows were read under). A committed DV dir is immutable —
    * every DV commit writes a fresh `dv<v>_<uuid>` dir and vacuum
    * deletes one whole — so the per-statement tables of one version
    * share one load. LRU in access order, holding at most
    * `spark.graft.dv.broadcastMaxKeys` tombstones in total: the amount
    * one probe-path read may already hold on the driver. A larger DV
    * (loaded only by write-door plans that bypass the anti-join rule)
    * is never kept. */
  private val memo =
    new java.util.LinkedHashMap[String, (GraftDvInfo, Long)](16, 0.75f, true)
  private var memoWeight = 0L

  /** The DV of a `dv=` header `spec` (`<dir>;<keys>[;scoped]`) under
    * table dir `dir`, read through the typed sidecar reader (no
    * schema-inference job when the head declares a schema). */
  def load(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dir: String, spec: String, declared: Option[StructType]): GraftDvInfo = {
    val parts = spec.split(";", -1)
    val (dvDir, keyCols) = (parts(0), parts(1).split(",").toSeq)
    val scoped = parts.length == 3
    val memoKey = (fs.makeQualified(new Path(s"$dir/$dvDir")).toString +:
      keyCols.map(c => declared.flatMap(_.find(_.name == c))
        .fold("?")(_.dataType.catalogString))).mkString("|")
    memo.synchronized(Option(memo.get(memoKey))) match {
      case Some((info, _)) => memoHits.incrementAndGet(); info
      case None =>
        driverCollects.incrementAndGet()
        val dvDf = GraftTable.readDvSidecar(spark, s"$dir/$dvDir", declared,
          keyCols, scoped)
        val convs = keyCols.map(c => CatalystTypeConverters
          .createToCatalystConverter(dvDf.schema(c).dataType))
        def key(r: org.apache.spark.sql.Row): Seq[Any] =
          keyCols.indices.map(i => normKey(convs(i)(r.get(i))))
        val (info, n) = if (scoped) {
          val rows = dvDf
            .select((keyCols :+ "__dir").map(org.apache.spark.sql.functions.col): _*)
            .collect()
          (GraftDvInfo(keyCols, perDir = Some(
            rows.groupBy(_.getAs[String]("__dir"))
              .map { case (d, rs) => d -> rs.map(key(_): Seq[Any]).toSet }),
            global = Set.empty), rows.length)
        } else {
          val rows = dvDf.select(keyCols.head, keyCols.tail: _*).collect()
          (GraftDvInfo(keyCols, perDir = None,
            global = rows.map(key(_): Seq[Any]).toSet), rows.length)
        }
        // an empty DV still takes a slot, so the entry count is bounded too
        val weight = math.max(1L, n.toLong)
        val cap = GraftTable.dvBroadcastMaxKeys(spark)
        if (weight <= cap) memo.synchronized {
          memoWeight += weight -
            Option(memo.put(memoKey, (info, weight))).fold(0L)(_._2)
          val eldest = memo.values.iterator
          while (memoWeight > cap) {
            memoWeight -= eldest.next()._2
            eldest.remove()
          }
        }
        info
    }
  }

  /** Chain-dir basename of a planned file = its parent dir's name
    * (scoped-dv layouts are flat by construction — `commitUpdate`
    * refuses partitionBy). */
  def dirOf(f: org.apache.spark.sql.execution.datasources.PartitionedFile)
      : String = f.toPath.getParent.getName

  /** Key values normalized for SET equality: catalyst binary is
    * Array[Byte], whose == is reference identity — wrap as Seq[Byte] so
    * a BINARY key column matches between the driver-loaded tombstones
    * and executor-side rows (every other catalyst type has value
    * equality). */
  def normKey(v: Any): Any = v match {
    case a: Array[Byte] => a.toSeq
    case other => other
  }
}

/** Reader factory that subtracts deletion-vector keys row by row: each
  * wrapped reader drops rows whose key tuple is tombstoned, then
  * projects away any key column the query didn't request. The DV is
  * small by construction (deleted keys only), broadcast once per scan.
  *
  * SCALE TIER: the probe is BINARY — per reader, the broadcast key
  * tuples are encoded once through an `UnsafeProjection` into a
  * HashSet of `UnsafeRow`s (byte-wise equals/hashCode), and each data
  * row probes with a second projection over bound key ordinals. No
  * per-row boxing, no `Seq[Any]` allocation, however wide the key —
  * and both sides share UnsafeRow's float canonicalization, so probe
  * and tombstone can never disagree on NaN/-0.0. */
private[graft] class DvFilteringReaderFactory(
    inner: PartitionReaderFactory, innerSchema: StructType,
    out: StructType,
    dvBc: org.apache.spark.broadcast.Broadcast[GraftDvInfo])
    extends PartitionReaderFactory {

  private def keyCols = dvBc.value.keyCols

  override def supportColumnarReads(p: InputPartition): Boolean = false

  /** The broadcast tombstone tuples as binary UnsafeRows (driver-side
    * catalyst values re-normalized: binary keys travel as Seq[Byte] for
    * set equality — see GraftDvInfo.normKey — and project as
    * Array[Byte]). Built once per reader, O(|DV|). */
  private def binarySet(tombstones: Set[Seq[Any]],
      keyTypes: Seq[org.apache.spark.sql.types.DataType])
      : java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow] = {
    val enc = UnsafeProjection.create(keyTypes.toArray)
    val scratch =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        keyTypes.length)
    val set = new java.util.HashSet[
      org.apache.spark.sql.catalyst.expressions.UnsafeRow](
      math.max(16, tombstones.size * 2))
    tombstones.foreach { key =>
      var i = 0
      while (i < keyTypes.length) {
        scratch.update(i, key(i) match {
          case s: scala.collection.Seq[_] =>
            s.asInstanceOf[scala.collection.Seq[Byte]].toArray
          case other => other
        })
        i += 1
      }
      set.add(enc(scratch).copy())
    }
    set
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val keyOrds = keyCols.map(innerSchema.fieldIndex)
    val keyTypes = keyOrds.map(innerSchema(_).dataType)
    val tombstones = binarySet(dvBc.value.forPartition(p), keyTypes)
    val keyProj = UnsafeProjection.create(keyOrds.zip(keyTypes).map {
      case (i, dt) => BoundReference(i, dt, innerSchema(i).nullable)
        : Expression
    }.toArray)
    val proj = UnsafeProjection.create(out.fields.map { f =>
      val i = innerSchema.fieldIndex(f.name)
      BoundReference(i, innerSchema(i).dataType, innerSchema(i).nullable)
        : Expression
    })
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          if (!tombstones.contains(keyProj(row))) {
            cur = proj(row); return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = r.close()
    }
  }
}

/** The table's shared, IMMUTABLE file listing (one listing per loaded
  * table). Pruning never mutates it — each scan filters its own planned
  * partitions (`GraftScan.planInputPartitions`), so concurrent scans of
  * one table instance can never clobber each other's keep-sets. */
private[graft] class GraftFileIndex(spark: SparkSession, roots: Seq[Path],
    parameters: Map[String, String], schemaOpt: Option[StructType],
    partitionedChain: Boolean = false)
    extends InMemoryFileIndex(spark, roots, parameters, schemaOpt) {

  /** Partition discovery across a MULTI-dir partitioned chain (a
    * partby append): Spark's `parsePartitions` hard-requires every leaf
    * to resolve to ONE discovered base, so discovery over several
    * independent partitioned roots throws
    * CONFLICTING_DIRECTORY_STRUCTURES however basePaths are set. Parse
    * each chain dir against ITSELF instead and merge the specs — the
    * roots share one layout by construction (the write door re-stages
    * appends to the recorded partitionBy shape), so the merged schema
    * is any non-empty root's. Single-root tables — and flat chains,
    * which must never pay the per-root re-listing — keep the stock
    * path (including its explicit basePath anchoring for clones).
    * ACCEPTED COST: each chain dir is listed a second time here (the
    * outer index already listed eagerly) — bounded by the chain length,
    * which stays short by usage (index-bearing partitioned chains
    * refuse appends, and OPTIMIZE folds the rest); reusing the outer
    * listing would mean re-implementing Spark's partition-value parser
    * (escaping, type inference), a worse trade than a bounded extra
    * listing. */
  private lazy val mergedSpec
      : org.apache.spark.sql.execution.datasources.PartitionSpec = {
    val specs = roots.map(r =>
      new InMemoryFileIndex(spark, Seq(r), parameters - "basePath",
        schemaOpt).partitionSpec())
    val nonEmpty = specs.filter(_.partitionColumns.nonEmpty)
    require(nonEmpty.map(_.partitionColumns).distinct.size <= 1,
      s"chain dirs disagree on partition shape: " +
        s"${nonEmpty.map(_.partitionColumns).distinct}")
    nonEmpty.headOption match {
      case None => specs.head
      case Some(first) =>
        org.apache.spark.sql.execution.datasources.PartitionSpec(
          first.partitionColumns, nonEmpty.flatMap(_.partitions))
    }
  }

  override def partitionSpec()
      : org.apache.spark.sql.execution.datasources.PartitionSpec =
    if (partitionedChain && roots.length > 1) mergedSpec
    else super.partitionSpec()

  /** Total bytes of the files a keep-set retains — the pruned planning
    * size a scan reports. */
  private[graft] def bytesWhere(keep: Option[String => Boolean]): Long = {
    val files = allFiles()
    keep match {
      case None => files.map(_.getLen).sum
      case Some(k) => files
        .filter(f => k(f.getPath.toUri.normalize().getPath))
        .map(_.getLen).sum
    }
  }
}

/** DSv2 WRITE path: `df.write.format("graft").mode(...).save(dir)`,
  * `INSERT INTO gt.<table>`, and `df.writeTo(...)`. The rows are
  * written by Spark's OWN parquet write (an inner `ParquetTable` write
  * builder pointed at a writer-private staging dir — distributed,
  * committer-backed, never through the driver); what graft adds is the
  * MANIFEST half, after the file job commits:
  *
  *  - append mode  → an append commit: data= re-references the current
  *    chain plus the staged dir, append= marks it (CDC fast path,
  *    versionDelta, OCC retry all apply — a lost race re-publishes the
  *    already-staged dir under the next version, never re-writes);
  *  - overwrite    → the staged dir commits as the next FULL version
  *    (truncate-and-replace, the DataFrameWriter Overwrite contract).
  *
  * The write-time gates run BEFORE the manifest publish, exactly like
  * the API paths: schema compatibility against the current version and
  * declared-constraint enforcement over the staged rows (one read of
  * the just-written files — they are hot); a refused write deletes the
  * staging dir and mints nothing, so the failed job is invisible to
  * readers. Both halves gate through `GraftTable.gateStaged` and publish
  * through `GraftTable.publishStaged`, the steps every staged append
  * shares: the table's registry-declared (statenc=) and Bloom index
  * re-derives on the staged dir. */
private[graft] class GraftWriteBuilder(spark: SparkSession,
    table: GraftSparkTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var overwrite = false

  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    // fail BEFORE any distributed job, like every API write path
    // (streaming epochs additionally re-gate per commit — the chain's
    // headers can change between epochs). A partitionBy target's staged
    // shape is its recorded columns: the manifest half re-stages the
    // flat job's output to exactly that shape (commitStagedDsv2's
    // relayout), so the pre-job gate agrees with the per-attempt one by
    // construction.
    GraftTable.gateHead(spark, table.dir, info.schema(),
      GraftTable.dsv2Door(append = !overwrite))
    val doOverwrite = overwrite
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite = {
        val fs = GraftTable.fsOf(spark, table.dir)
        val cur = GraftTable.currentVersion(fs, table.dir)
        val staged = GraftTable.freshDir("v", cur.map(_ + 1).getOrElse(0))
        val stagingPath = s"${table.dir}/$staged"
        val innerTable = org.apache.spark.sql.execution.datasources.v2.parquet
          .ParquetTable(s"graft-stage:$stagingPath", spark, info.options(),
            Seq(stagingPath), Some(info.schema()),
            classOf[org.apache.spark.sql.execution.datasources
              .parquet.ParquetFileFormat])
        val inner = innerTable.newWriteBuilder(info).build().toBatch
        new org.apache.spark.sql.connector.write.BatchWrite {
          override def createBatchWriterFactory(
              p: org.apache.spark.sql.connector.write.PhysicalWriteInfo) =
            inner.createBatchWriterFactory(p)
          override def useCommitCoordinator: Boolean =
            inner.useCommitCoordinator
          override def commit(
              msgs: Array[org.apache.spark.sql.connector.write
                .WriterCommitMessage]): Unit = {
            inner.commit(msgs) // files land; now the manifest half
            GraftTable.commitStagedDsv2(spark, table.dir, staged,
              info.schema(), append = !doOverwrite)
          }
          override def abort(
              msgs: Array[org.apache.spark.sql.connector.write
                .WriterCommitMessage]): Unit = {
            inner.abort(msgs)
            GraftTable.fsOf(spark, table.dir)
              .delete(new Path(stagingPath), true)
          }
        }
      }

      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = {
        require(!doOverwrite,
          "graft streaming writes support OutputMode.Append only — " +
            "Complete/Update modes would rewrite the snapshot per " +
            "epoch; fold state through GraftTable.streamingSink instead")
        new GraftStreamingWrite(spark, table.dir, info.schema(),
          info.queryId())
      }
    }
  }
}

/** The STREAMING write door:
  * `df.writeStream.format("graft").option("path", dir)` — every
  * micro-batch epoch becomes one atomically-published APPEND version,
  * exactly once across restarts.
  *
  * The rows are written EXECUTOR-SIDE by Spark's own parquet
  * `OutputWriter` (the factory `ParquetFileFormat.prepareWrite`
  * returns — codec, schema conversion and committer conf identical to
  * every batch write) into a run-unique per-epoch staging dir; each
  * task streams its partition straight to a temp file and publishes it
  * by rename when the commit coordinator elects that attempt, so a
  * speculative or zombie duplicate can never land a second copy of a
  * partition. The engine's epoch-level `commit` then runs the manifest
  * half (`commitEpochStaged`): replay-detecting (`epoch=<id>` commit
  * metadata — a restarted query re-delivering its last batch publishes
  * NOTHING and the duplicate staged dir is deleted), append-committing
  * the staged dir onto the current chain. The sink table is itself a
  * valid streaming SOURCE (append-only history), closing the
  * table-to-table pipeline loop. */
/** Shared executor-side staging machinery of BOTH streaming doors
  * (append and upsert): run-unique staging names — a restarted query
  * stages under fresh names, so a crash window can never interleave two
  * runs' files in one dir (orphans of the dead run are
  * vacuum-reclaimable `ep…` dirs), and the leading query tag lets
  * vacuum distinguish an in-flight epoch of THIS query (staged ahead of
  * its committed history — never reclaimed, however stalled) from
  * provably-dead replay garbage — plus the per-task parquet writer
  * factory (temp + rename under the commit coordinator) and the abort
  * cleanup. One implementation, so a staging-protocol fix can never
  * silently diverge the two doors. */
private[graft] abstract class GraftEpochStagingWrite(spark: SparkSession,
    dir: String, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val uid = s"${GraftTable.queryTag(queryId)}-" +
    java.util.UUID.randomUUID().toString.take(8)
  protected final def stagedName(epochId: Long) = s"ep${epochId}_$uid"

  /** Commit messages → the published partition files, handed to the
    * manifest half as an existence audit before the version mints. */
  protected final def expectedOf(
      msgs: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Seq[String] =
    msgs.toSeq.collect { case GraftEpochMsg(Some(p)) => p }

  override final def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val fs = GraftTable.fsOf(spark, dir)
    val dirAbs = fs.makeQualified(new Path(dir)).toString
    new GraftEpochWriterFactory(factory, schema,
      new GraftTable.SerializableHadoopConf(job.getConfiguration),
      dirAbs, uid)
  }

  override final def useCommitCoordinator: Boolean = true

  override final def abort(epochId: Long,
      msgs: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    GraftTable.fsOf(spark, dir)
      .delete(new Path(s"$dir/${stagedName(epochId)}"), true)
    ()
  }
}

private[graft] class GraftStreamingWrite(spark: SparkSession, dir: String,
    schema: StructType, queryId: String)
    extends GraftEpochStagingWrite(spark, dir, schema, queryId) {

  override def commit(epochId: Long,
      msgs: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    GraftTable.commitEpochStaged(spark, dir, epochId,
      stagedName(epochId), schema, queryId,
      expectedFiles = expectedOf(msgs))
    ()
  }
}

/** The UPSERT write builder, selected by the `upsertKeys` option: its
  * `SupportsStreamingUpdateAsAppend` marker admits OutputMode.Update
  * (each epoch delivers the LATEST row per key — an aggregation's
  * changed groups), and the streaming write folds every epoch into the
  * table merge-on-read by those keys (`commitEpochUpsert`). Append mode
  * with the option declared upserts too — the option IS the semantics
  * declaration; what the engine delivers per epoch is the mode's
  * business. Batch writes refuse: upsert-by-key from a batch frame is
  * MERGE INTO's job. */
private[graft] class GraftUpsertWriteBuilder(spark: SparkSession,
    table: GraftSparkTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.internal.connector
      .SupportsStreamingUpdateAsAppend {

  private val keys: Seq[String] =
    info.options().get("upsertKeys").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)

  override def build(): org.apache.spark.sql.connector.write.Write = {
    // fail BEFORE any distributed job, like every write door (the
    // epoch commits re-run the same gate per attempt — the chain's
    // headers can change between epochs)
    GraftTable.gateHead(spark, table.dir, info.schema(),
      GraftTable.upsertDoor(keys))
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite =
        sys.error("upsertKeys is a STREAMING option — a batch " +
          "upsert-by-key is MERGE INTO (SQL) or commitUpdate (API)")
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite =
        new GraftStreamingUpsertWrite(spark, table.dir, info.schema(),
          info.queryId(), keys)
    }
  }
}

/** Streaming UPSERT write: same executor-side parquet staging as the
  * append door (the shared `GraftEpochStagingWrite` machinery), but the
  * epoch-level commit folds the staged rows into the table by key —
  * dir-scoped tombstones + the staged dir as the replacement.
  * Replay-exact across restarts via the shared (queryId, epoch)
  * identity. */
private[graft] class GraftStreamingUpsertWrite(spark: SparkSession,
    dir: String, schema: StructType, queryId: String, keys: Seq[String])
    extends GraftEpochStagingWrite(spark, dir, schema, queryId) {

  override def commit(epochId: Long,
      msgs: Array[org.apache.spark.sql.connector.write
        .WriterCommitMessage]): Unit = {
    GraftTable.commitEpochUpsert(spark, dir, epochId,
      stagedName(epochId), schema, queryId, keys,
      expectedFiles = expectedOf(msgs))
    ()
  }
}

/** Per-task epoch writer: partition rows → one parquet file in the
  * epoch's staging dir. Write to an attempt-unique dot-temp, rename to
  * the attempt-INDEPENDENT final name on coordinator-approved commit —
  * at most one file per (epoch, partition) can ever be visible, and a
  * zombie attempt's temp stays invisible to every reader (dot prefix)
  * until vacuum reclaims the dir. An empty partition publishes no file
  * at all. */
private[graft] class GraftEpochWriterFactory(
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    schema: StructType, conf: GraftTable.SerializableHadoopConf,
    dirAbs: String, uid: String)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val hc = new org.apache.hadoop.conf.Configuration(conf.conf)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(uid, (epochId % Int.MaxValue).toInt),
        TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(hc, attempt)
    val staged = s"$dirAbs/ep${epochId}_$uid"
    val ext = factory.getFileExtension(ctx)
    val tmp = new Path(s"$staged/.eptmp-$partitionId-$taskId$ext")
    val fin = new Path(s"$staged/part-$partitionId-$epochId$ext")
    val fs = tmp.getFileSystem(hc)
    fs.mkdirs(new Path(staged))
    val w = factory.newInstance(tmp.toString, schema, ctx)
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private var rows = 0L
      override def write(r: InternalRow): Unit = { w.write(r); rows += 1 }
      override def commit(): org.apache.spark.sql.connector.write
          .WriterCommitMessage = {
        w.close()
        if (rows == 0L) { fs.delete(tmp, false); GraftEpochMsg(None) }
        else {
          // hadoop rename signals most failures by returning FALSE —
          // an ignored result could commit an epoch missing this
          // partition's file. The one benign false: a prior authorized
          // attempt of this partition already published `fin` (died
          // between rename and report; both attempts wrote identical
          // bytes), where dropping our temp is the correct outcome.
          if (!fs.rename(tmp, fin)) {
            if (fs.exists(fin)) fs.delete(tmp, false)
            else sys.error(s"failed to publish epoch file $fin " +
              s"(rename from $tmp returned false)")
          }
          GraftEpochMsg(Some(fin.toString))
        }
      }
      override def abort(): Unit = {
        try w.close() catch { case _: Throwable => () }
        fs.delete(tmp, false)
        ()
      }
      override def close(): Unit = ()
    }
  }
}

private[graft] case class GraftEpochMsg(path: Option[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Version-number stream offset: the manifest IS the log, so a
  * committed version number is a complete, replayable position. */
private[graft] case class GraftStreamOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** STREAMING reads: `spark.readStream.format("graft").load(dir)` turns
  * the manifest into a micro-batch source — each batch serves the rows
  * the versions in (start, end] ADDED, exactly once across restarts
  * (the offset is the version number; the sink checkpoint persists
  * it). Version 0 contributes its full snapshot; append commits
  * contribute exactly their marker dir (the CDC fast path — no
  * snapshot diff, no join); any OTHER version shape (rewrites, MoR
  * deletes/updates, compactions) refuses loudly, the Delta
  * no-ignoreChanges posture — a rewrite's delta is not expressible as
  * added files, so consumers needing typed diffs subscribe through
  * `cdcSubscribeTyped` instead.
  *
  * Options: `startingVersion` (default 0 — replay the whole
  * append-only history; set to the current version + 1 to consume only
  * new commits), `maxVersionsPerTrigger` (admission control: a
  * backlogged stream catches up in bounded batches). */
private[graft] class GraftMicroBatchStream(spark: SparkSession,
    table: GraftSparkTable, inner: ParquetScan,
    options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  private val fs = GraftTable.fsOf(spark, table.dir)
  // Trigger.AvailableNow: the target is PINNED at query start, then the
  // admission-controlled batches walk up to it and the query stops
  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(GraftTable.currentVersion(fs, table.dir).getOrElse(-1))
  private val startingVersion: Int =
    Option(options.get("startingVersion")).map(_.toInt).getOrElse(0)
  private val maxVersions: Int =
    Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
      .getOrElse(Int.MaxValue)
  require(maxVersions >= 1, "maxVersionsPerTrigger must be >= 1")
  require(!table.headers.contains("partby"),
    "streaming reads require a flat layout (append-only history)")

  override def initialOffset(): SOffset =
    GraftStreamOffset(startingVersion - 1)

  override def deserializeOffset(json: String): SOffset =
    GraftStreamOffset(json.toInt)

  override def latestOffset(): SOffset = GraftStreamOffset(
    GraftTable.currentVersion(fs, table.dir).getOrElse(-1))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: advance at most `maxVersionsPerTrigger`
    * versions per batch, whatever the backlog. */
  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val cur = availableNowTarget.getOrElse(
      GraftTable.currentVersion(fs, table.dir).getOrElse(-1))
    val from = start.asInstanceOf[GraftStreamOffset].version
    // clamp at `from`: an offset must never regress — a startingVersion
    // ahead of the table's head simply waits at its position until the
    // history catches up (replaying skipped versions would violate the
    // user's pin; some engines abort on a backward offset outright)
    GraftStreamOffset(math.max(from, math.min(cur, from + maxVersions)))
  }

  override def planInputPartitions(start: SOffset,
      end: SOffset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftStreamOffset].version
    val hi = end.asInstanceOf[GraftStreamOffset].version
    val files = ((lo + 1) to hi).flatMap { v =>
      val hdrs = GraftTable.headersOf(fs, table.dir, v)
      require(!hdrs.contains("dv"),
        s"version $v carries a deletion vector — a streaming read " +
          "cannot express row removal as added files; consume typed " +
          "changes via cdcSubscribeTyped, or restart the stream from " +
          s"startingVersion=${v + 1}")
      // a partitionBy version nests its files under value subdirs this
      // flat walk would silently MISS — refuse like the dv case rather
      // than commit an empty batch for a version that has rows
      require(!hdrs.contains("partby"),
        s"version $v is a partitionBy layout — streaming reads serve " +
          "flat append histories; restart from " +
          s"startingVersion=${v + 1} past the partitioned prefix")
      val dirs =
        if (v == 0) GraftTable.dataDirsFrom(hdrs)
        else hdrs.get("append").map(Seq(_)).getOrElse(sys.error(
          s"version $v of ${table.dir} is not an append commit — a " +
            "streaming read serves added files only (the Delta " +
            "no-ignoreChanges posture); rewrites need " +
            "cdcSubscribeTyped, or restart from " +
            s"startingVersion=${v + 1}"))
      dirs.flatMap { dd =>
        GraftTable.dataFilesIn(fs, new Path(s"${table.dir}/$dd"))
          .map { st =>
            new org.apache.spark.sql.execution.datasources.PartitionedFile(
              org.apache.spark.sql.catalyst.InternalRow.empty,
              org.apache.spark.paths.SparkPath.fromPath(st.getPath),
              0L, st.getLen, Array.empty[String],
              st.getModificationTime, st.getLen, Map.empty)
          }
      }
    }
    FilePartition.getFilePartitions(spark, files,
      spark.sessionState.conf.filesMaxPartitionBytes)
      .toArray[InputPartition]
  }

  /** The inner ParquetScan's vectorized factory (column pruning from
    * the stream's scan applies; append chains are flat, so partition
    * values are empty for every planned file). */
  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()

  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}
